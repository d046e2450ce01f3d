package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Temporal/behavioral operators over an event stream at rest: peak
  * concurrency (sweep line), dyadic-decay smoothing (EWMA), and OHLC
  * bars — the session-capacity, trend and candlestick reports an
  * activity-analytics consumer of the reference's event feed runs
  * (root: the A1 poll loop's timestamped metric envelopes,
  * /root/reference/syscol/metrics_reporter.go:75-105).
  *
  * All three are integer-exact end to end (micro-unit values, integral
  * division), so every number is reproducible bit-for-bit by an
  * independent engine regardless of partitioning or aggregation order.
  */
object Temporal {

  /** Peak session concurrency per hour — the sweep-line interval problem:
    * sessionize events (a gap > `gapMinutes` starts a new session), treat
    * each session as a closed interval [first event, last event], and
    * count, per hour, the maximum number of simultaneously-open sessions.
    *
    * The global running sum over interval open/close deltas is the classic
    * single-reducer trap, and it is built the only way that survives
    * 100 TB: TWO-PHASE, exactly like `Packing.shardManifest`. Phase 1
    * computes each hour bucket's internal running sum (a window
    * partitioned BY BUCKET — parallel) and its net delta; phase 2 computes
    * cumulative offsets over the bucket table only — hours-cardinality
    * rows (9k/year), the legitimate small-table window — and adds
    * offset + in-bucket peak. Because bucket boundaries respect the
    * global (t, kind, user, session) order, offset + in-bucket running
    * sum IS the global running sum at every row.
    *
    * Tie order is pinned: at equal timestamp, opens sort before closes
    * (kind 0 < 1), so a single-event session still counts 1 at its
    * instant; remaining ties break on (user, session) for a total order.
    * Returns (hour_epoch_s, n_opened, n_closed, peak_concurrency). */
  def maxConcurrency(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, gapMinutes: Int = 30): DataFrame = {
    require(gapMinutes >= 1, s"gapMinutes must be >= 1, got $gapMinutes")
    val byTime = Window.partitionBy(userCol).orderBy(tsCol, idCol)
    val gapUs = gapMinutes.toLong * 60 * 1000000
    val sess = events
      .withColumn("new_session",
        when(unix_micros(col(tsCol)) -
          unix_micros(lag(tsCol, 1).over(byTime)) > gapUs, 1).otherwise(0))
      .withColumn("session_no", sum(col("new_session")).over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol).as("u"), col("session_no"))
      .agg(min(unix_micros(col(tsCol))).as("t_open"),
        max(unix_micros(col(tsCol))).as("t_close"))
    val deltas = sess.select(col("t_open").as("t"), lit(0).as("kind"),
        col("u"), col("session_no"), lit(1L).as("d"))
      .unionAll(sess.select(col("t_close").as("t"), lit(1).as("kind"),
        col("u"), col("session_no"), lit(-1L).as("d")))
      .withColumn("bucket", expr("t div 3600000000"))
    val wIn = Window.partitionBy("bucket")
      .orderBy(col("t"), col("kind"), col("u"), col("session_no"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perBucket = deltas.withColumn("run", sum("d").over(wIn))
      .groupBy("bucket").agg(
        sum(when(col("d") === 1, 1L).otherwise(0L)).as("n_opened"),
        sum(when(col("d") === -1, 1L).otherwise(0L)).as("n_closed"),
        sum("d").as("net"), max("run").as("peak_in"))
    // the only unpartitioned window: the BUCKET table (hours, not events)
    val wB = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    perBucket
      .withColumn("off", coalesce(sum("net").over(wB), lit(0L)))
      .select((col("bucket") * 3600).as("hour_epoch_s"),
        col("n_opened"), col("n_closed"),
        (col("off") + col("peak_in")).as("peak_concurrency"))
      .orderBy("hour_epoch_s")
  }

  /** Per-key dyadic-decay moving average — the integer-exact EWMA: the
    * latest value weighted 2^(depth−1), the one before 2^(depth−2), …,
    * truncated at `depth` points (a true α=½ EWMA's infinite tail
    * re-normalized onto the last `depth` observations). Emitted as the
    * exact integral quotient of two int64s, so the smoothed value is
    * deterministic under any execution order — the float-free answer to
    * "what is this key's current level, favouring recent points".
    *
    * One shuffle on the key, one partition-local sort, `depth` lag
    * columns evaluated in a single window pass (whole-stage codegen'd);
    * the final per-key row is selected by rn == count over the SAME
    * ordering — no second sort. Overflow-safe by construction:
    * micro-unit values × 2^15 × 16 terms needs < 2^63 for any value
    * below ~8.8 billion. Returns (key, n_events, last_micro,
    * ewma_micro). */
  /** Holt double-exponential smoothing (level + trend) with dyadic
    * α = β = ½ over a per-group INTEGER series, plus the h-step forecast —
    * the forecaster beside [[dyadicEwma]]'s level-only tracker. Values
    * scale to milli-units so the halving steps keep precision:
    * l' = (1000·v + l + b) div 2, b' = ((l' − l) + b) div 2, seeded
    * l₀ = 1000·v₀, b₀ = 0. Every step is exact integer arithmetic with
    * truncating division (Spark `div` and DuckDB `//` agree on negatives),
    * so any number of rounds is bit-reproducible cross-engine — the
    * oracle unrolls the same steps as generated CTEs.
    *
    * Shape: the recursion folds with `aggregate()` over each group's
    * t-ordered value array — one codegen'd per-group O(series) pass. The
    * collect_list is safe ONLY for slot-cardinality series (daily/hourly
    * grids — bounded by the calendar, never by corpus rows); that is the
    * operator's contract, same as every other grid op in the suite. */
  def holtDyadic(series: DataFrame, groupCol: String, tCol: String,
      vCol: String, horizon: Int = 7): DataFrame = {
    require(horizon >= 0, s"horizon must be >= 0, got $horizon")
    series.select(col(groupCol).as("g"), col(tCol).as("t"),
        col(vCol).cast("long").as("v"))
      .groupBy("g")
      .agg(expr("transform(array_sort(collect_list(struct(t, v))), x -> x.v)")
        .as("vs"))
      .withColumn("hb", expr(
        """aggregate(slice(vs, 2, size(vs) - 1),
          |  named_struct('l', 1000L * vs[0], 'b', 0L),
          |  (acc, v) -> named_struct(
          |    'l', (1000L * v + acc.l + acc.b) div 2L,
          |    'b', (((1000L * v + acc.l + acc.b) div 2L) - acc.l + acc.b)
          |      div 2L))""".stripMargin))
      .select(col("g"),
        col("hb.l").as("level_milli"), col("hb.b").as("trend_milli"),
        (col("hb.l") + col("hb.b") * horizon.toLong)
          .as(s"forecast_${horizon}d_milli"))
  }

  def dyadicEwma(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, depth: Int = 16): DataFrame = {
    require(depth >= 1 && depth <= 32, s"depth must be in [1,32], got $depth")
    val w = Window.partitionBy(keyCol).orderBy(tsCol, idCol)
    val wAll = Window.partitionBy(keyCol)
    val v = expr(s"CAST(floor($valueCol * 1000000 + 0.5) AS BIGINT)")
    val lags = (0 until depth).map(k => lag(col("v"), k).over(w))
    val weights = (0 until depth).map(k => 1L << (depth - 1 - k))
    val num = lags.zip(weights).map { case (l, wt) =>
      when(l.isNotNull, l * wt).otherwise(0L) }.reduce(_ + _)
    val den = lags.zip(weights).map { case (l, wt) =>
      when(l.isNotNull, lit(wt)).otherwise(0L) }.reduce(_ + _)
    events.withColumn("v", v)
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .withColumn("num", num).withColumn("den", den)
      .filter(col("rn") === col("cnt"))
      .select(col(keyCol), col("cnt").as("n_events"),
        col("v").as("last_micro"),
        expr("num div den").as("ewma_micro"))
  }

  /** Last-touch marketing attribution: each conversion event is credited
    * to the user's most recent touch event AT OR BEFORE it within
    * `windowDays` (older or absent → 'direct'), then rolled up per
    * channel with exact micro-unit conversion value. The union+window
    * formulation (the q_join_asof shape): touches and conversions merge
    * into ONE (user, time)-ordered stream, `last(touch, ignoreNulls)`
    * carries the newest touch forward — one shuffle on the user key, one
    * partition-local sort, NO per-conversion candidate join, so a
    * million-touch power user costs a sort, not a quadratic probe.
    * Tie order pinned: a touch at the conversion's exact timestamp sorts
    * first (side 0 < 1) and is credited. Returns (channel,
    * n_conversions, value_micro). */
  def lastTouchAttribution(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, valueCol: String, touchTypes: Seq[String],
      conversionType: String, typeCol: String,
      windowDays: Int = 7): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(conversionType),
      s"touch types must be non-empty and exclude '$conversionType'")
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val touches = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("u"), unix_micros(col(tsCol)).as("t"),
        lit(0).as("side"), col(idCol).as("id"),
        col(typeCol).as("channel"), lit(0L).as("v"))
    val convs = events.filter(col(typeCol) === conversionType)
      .select(col(userCol).as("u"), unix_micros(col(tsCol)).as("t"),
        lit(1).as("side"), col(idCol).as("id"),
        lit(null).cast("string").as("channel"),
        expr(s"CAST(floor($valueCol * 1000000 + 0.5) AS BIGINT)").as("v"))
    val w = Window.partitionBy("u").orderBy(col("t"), col("side"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastTouch = last(
      when(col("side") === 0, struct(col("t").as("tt"), col("channel"))),
      ignoreNulls = true).over(w)
    touches.unionAll(convs)
      .withColumn("lt", lastTouch)
      .filter(col("side") === 1)
      .withColumn("credited",
        when(col("lt").isNotNull &&
          col("t") - col("lt.tt") <= windowDays.toLong * 86400 * 1000000,
          col("lt.channel")).otherwise(lit("direct")))
      .groupBy(col("credited").as("channel"))
      .agg(count(lit(1)).as("n_conversions"), sum("v").as("value_micro"))
      .orderBy("channel")
  }

  /** Per-key burstiness of the event arrival process (Goh & Barabási
    * 2008): B = (σ−μ)/(σ+μ) over inter-event gaps — B ≈ −1 for a
    * metronome, 0 for Poisson, → 1 for heavy bursts. The bot/scraper
    * tell: human traffic is bursty, scripted traffic is regular. Gaps
    * via one lag over the (ts, id) order; moments Σx and Σx² kept in
    * DECIMAL(38,0) (a month-long gap in µs squares past int64), so μ/σ
    * derive from EXACT integers and the final B is one mirrored
    * double expression, milli-floored. Keys need ≥ `minGaps` gaps.
    * Returns (key, n_gaps, mean_gap_us, burst_milli). */
  def burstiness(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, minGaps: Int = 2): DataFrame = {
    require(minGaps >= 2, s"minGaps must be >= 2 (variance needs 2), got $minGaps")
    val w = Window.partitionBy(keyCol).orderBy(tsCol, idCol)
    events
      .withColumn("gap",
        unix_micros(col(tsCol)) - unix_micros(lag(tsCol, 1).over(w)))
      .filter(col("gap").isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("gap").cast("decimal(38,0)")).as("sx"),
        sum(expr("CAST(gap AS DECIMAL(38,0)) * gap")).as("sxx"))
      .filter(col("n") >= minGaps)
      // var = (n·Σx² − (Σx)²)/n² exactly, in DECIMAL(38,0) numerators
      .withColumn("varnum",
        expr("CAST(n AS DECIMAL(38,0)) * sxx - sx * sx"))
      .withColumn("mu", expr("CAST(sx AS DOUBLE) / n"))
      .withColumn("sigma", expr("sqrt(CAST(varnum AS DOUBLE)) / n"))
      .select(col(keyCol), col("n").as("n_gaps"),
        expr("sx div n").cast("long").as("mean_gap_us"),
        // σ+μ = 0 iff every gap is 0 (all events at one instant): B is
        // undefined there — null, not a NaN-poisoned floor
        when(col("sigma") + col("mu") > 0.0,
          expr("CAST(floor(1000 * (sigma - mu) / (sigma + mu) + 0.5) AS BIGINT)"))
          .as("burst_milli"))
      .orderBy(keyCol)
  }

  /** OHLC bars: per (group, day) the opening/closing/extreme values and
    * exact volume — the candlestick aggregation, with open/close selected
    * by a pinned total order (ts, then id) so ties cannot flip between
    * engines. One shuffle on (group, day): the window and the aggregate
    * share the partitioning. Values in micro-units (int64-exact sums).
    * Returns (group, day, open/high/low/close _micro, n_events,
    * total_micro). */
  def ohlcBars(events: DataFrame, groupCol: String, tsCol: String,
      idCol: String, valueCol: String): DataFrame = {
    val day = to_date(col(tsCol))
    val v = expr(s"CAST(floor($valueCol * 1000000 + 0.5) AS BIGINT)")
    val w = Window.partitionBy(col(groupCol), col("day"))
      .orderBy(col(tsCol), col(idCol))
    val wAll = Window.partitionBy(col(groupCol), col("day"))
    events.withColumn("day", day).withColumn("v", v)
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .groupBy(col(groupCol), col("day"))
      .agg(max(when(col("rn") === 1, col("v"))).as("open_micro"),
        max("v").as("high_micro"),
        min("v").as("low_micro"),
        max(when(col("rn") === col("cnt"), col("v"))).as("close_micro"),
        count(lit(1)).as("n_events"),
        sum("v").as("total_micro"))
      .orderBy(col(groupCol), col("day"))
  }

  /** Per-user state-transition counts: each window of `depth + 1`
    * consecutive events of one user, in (ts, id) order, counted by its
    * states — the first-order transition matrix at depth 1, the 3-step
    * paths at depth 2. Returns (s0, …, s`depth`, n), s0 the oldest state.
    * Exactly the lag plan
    * {{{
    *   SELECT s0, …, sD, count(*) AS n FROM (
    *     SELECT lag(state, D) OVER w AS s0, …, state AS sD FROM events
    *     WINDOW w AS (PARTITION BY user ORDER BY ts, id))
    *   WHERE s0 IS NOT NULL GROUP BY s0, …, sD
    * }}}
    * so a window is kept iff its oldest event exists and has a non-null
    * state; later states may be null and group as null. Null users form one
    * user; null ts and null ids sort first. Events tied on (user, ts, id)
    * order arbitrarily, as in the window.
    *
    * Size dispatch through [[OneTask.run]]: a user-keyed window over an
    * event log whose states are a few event types is bound by its stages,
    * not its data. Up to [[OneTask.MaxRows]] events with user and state
    * of a [[OneTask.KeyTypes]] type and integral or timestamp order keys,
    * ONE task counts the windows ([[transitionsOneTask]]), so the result
    * is one partition and a consumer's window or sort over it needs no
    * exchange. Otherwise the lag plan above runs ([[transitionsWindow]]).
    * Both paths return the same rows. The kernel's read of the input is
    * the size check, so up to the cap the input is read once; above it
    * the window plan reads it again after a probe of at most
    * `MaxRows + 1` rows.
    *
    * MEASURED AND REJECTED (q_pagerank at sf0.1, 4 vCPUs): keeping the lag
    * plan but hash-repartitioning it to `spark.sql.shuffle.partitions`
    * parts, so that AQE cannot coalesce the window's shuffle into one
    * reduce task. It ran 4 window tasks but beat the unpartitioned plan
    * in only 2 of 6 paired runs. */
  def transitions(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, stateCol: String, depth: Int = 1): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    oneTaskKeys(events, userCol, tsCol, idCol, stateCol)
      .flatMap(transitionsOneTask(_, depth))
      .getOrElse(
        transitionsWindow(events, userCol, tsCol, idCol, stateCol, depth))
  }

  /** The (user, ts: bigint, id: bigint, state) input of
    * [[transitionsOneTask]] — timestamps as epoch micros, integral ids
    * widened, both order-preserving — or None when a column's type rules
    * the one-task path out. */
  private[graft] def oneTaskKeys(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, stateCol: String): Option[DataFrame] = {
    def typeOf(c: String): DataType = events.select(col(c)).schema.head.dataType
    def orderKey(c: String): Option[Column] = typeOf(c) match {
      case TimestampType => Some(unix_micros(col(c)))
      case LongType | IntegerType | ShortType | ByteType =>
        Some(col(c).cast(LongType))
      case _ => None
    }
    for {
      ts <- orderKey(tsCol)
      id <- orderKey(idCol)
      if OneTask.KeyTypes(typeOf(userCol)) && OneTask.KeyTypes(typeOf(stateCol))
    } yield events.select(col(userCol), ts, id, col(stateCol))
  }

  /** [[transitions]]' distributed path, the lag plan itself: one
    * user-keyed shuffle, one sort, every lag in one window pass, one
    * grouped count. */
  private[graft] def transitionsWindow(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, stateCol: String,
      depth: Int): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(tsCol, idCol)
    events
      .select((0 to depth).map { j =>
        val back = depth - j
        (if (back == 0) col(stateCol) else lag(col(stateCol), back).over(w))
          .as(s"s$j")
      }: _*)
      .filter(col("s0").isNotNull)
      .groupBy((0 to depth).map(j => col(s"s$j")): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** [[transitions]]' rows computed inside ONE task over `keyed` (user,
    * ts: bigint, id: bigint, state), coalesced to one partition:
    *  - each user gets a dense index (a null user is index −1) and each
    *    non-null state a dense index (null is −1);
    *  - an index array is merge-sorted over the primitive columns by
    *    (user, ts nulls first, id nulls first) — stable, so ties keep
    *    input order;
    *  - each window ending at sorted position p whose oldest event
    *    (p − depth) has the same user and a non-null state is numbered by
    *    its states, one [[OneTask.KeyIndex]] probe per later event (level j
    *    keys the level j−1 index by the next state), and the last level
    *    counts it.
    * None above the cap ([[OneTask.run]]). */
  private[graft] def transitionsOneTask(keyed: DataFrame,
      depth: Int): Option[DataFrame] = {
    val stateType = keyed.schema(3).dataType
    val schema = (0 to depth)
      .foldLeft(new StructType())((st, j) => st.add(s"s$j", stateType))
      .add("n", LongType, nullable = false)
    OneTask.run(keyed, schema) { rows =>
      val (userIndex, stateIndex) =
        (mutable.HashMap.empty[Any, Int], mutable.HashMap.empty[Any, Int])
      val stateValues = mutable.ArrayBuffer.empty[Any]
      val (user, state) =
        (new mutable.ArrayBuilder.ofInt, new mutable.ArrayBuilder.ofInt)
      val (ts, id) =
        (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong)
      val (tsNull, idNull) =
        (new mutable.ArrayBuilder.ofBoolean, new mutable.ArrayBuilder.ofBoolean)
      rows.foreach { r =>
        user += (if (r.isNullAt(0)) -1
          else userIndex.getOrElseUpdate(r.get(0), userIndex.size))
        tsNull += r.isNullAt(1); ts += (if (r.isNullAt(1)) 0L else r.getLong(1))
        idNull += r.isNullAt(2); id += (if (r.isNullAt(2)) 0L else r.getLong(2))
        state += (if (r.isNullAt(3)) -1 else stateIndex.getOrElseUpdate(
          r.get(3), { stateValues += r.get(3); stateValues.size - 1 }))
      }
      val (u, t, tn, i, in, s) = (user.result(), ts.result(), tsNull.result(),
        id.result(), idNull.result(), state.result())
      val ord = mergeSort(u.length, (a, b) =>
        if (u(a) != u(b)) u(a) < u(b)
        else if (tn(a) != tn(b)) tn(a)
        else if (!tn(a) && t(a) != t(b)) t(a) < t(b)
        else if (in(a) != in(b)) in(a)
        else !in(a) && i(a) < i(b))
      val base = stateValues.size + 1L // a state as a digit: index + 1
      val levels = Array.fill(depth)(new OneTask.KeyIndex)
      val last = levels(depth - 1)
      val newest = new mutable.ArrayBuilder.ofInt // window → its first end
      var p = depth
      while (p < ord.length) {
        val oldest = ord(p - depth)
        if (s(oldest) >= 0 && u(oldest) == u(ord(p))) {
          var w = s(oldest).toLong
          var j = 1
          while (j <= depth) {
            w = levels(j - 1).add(w * base + s(ord(p - depth + j)) + 1)
            j += 1
          }
          if (last.counts(w.toInt) == 1) newest += p
        }
        p += 1
      }
      val ends = newest.result()
      Iterator.range(0, last.size).map { w =>
        val states = (0 to depth).map { j =>
          val k = s(ord(ends(w) - depth + j))
          if (k < 0) null else stateValues(k)
        }
        Row.fromSeq(states :+ last.counts(w).toLong)
      }
    }
  }

  /** The positions 0 until `n` stably sorted by `lt`: a bottom-up merge
    * sort over primitive int arrays. With a boxed `Arrays.sort(Integer[])`
    * instead, the q_pagerank kernel's job took 131–212 ms at sf0.1, against
    * 103–149 ms with a primitive merge sort (4 vCPUs). */
  private def mergeSort(n: Int, lt: (Int, Int) => Boolean): Array[Int] = {
    var (src, dst) = (Array.range(0, n), new Array[Int](n))
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var a = lo
        var b = mid
        var k = lo
        while (k < hi) {
          // take from the left run unless the right head is strictly less
          if (b >= hi || (a < mid && !lt(src(b), src(a)))) {
            dst(k) = src(a); a += 1
          } else { dst(k) = src(b); b += 1 }
          k += 1
        }
        lo = hi
      }
      val tmp = src; src = dst; dst = tmp
      width *= 2
    }
    src
  }
}
