package graft

/** Pure decision logic for graft.Bench's perf-regression gate, factored
  * out of the harness so it is unit-testable without a SparkSession
  * (r13 verdict item 2: the gate flagged an alphabetically contiguous
  * suite-tail block as 11 "regressions" at host_drift 0.98 — a transient
  * that burned a manual adjudication every round).
  */
object BenchGate {

  /** The regression rule, shared by the main-pass gate and the
    * post-retry recompute: flagged iff the measured time exceeds the
    * drift-normalized ledger entry by BOTH >1.5x relative and >0.25 s
    * absolute (sub-second queries are host-noise-bound). Erroring
    * queries never flag — they surface in the errors map instead. */
  def regressions(timed: Seq[(String, Double, Option[String])],
      baseline: Map[String, Double], norm: Double)
      : Seq[(String, Double, Double)] =
    timed.collect {
      case (name, t, None) if baseline.get(name).exists(b =>
        t > b * norm * 1.5 && t - b * norm > 0.25) => (name, t, baseline(name))
    }

  /** The core count the ledger was recorded at: the `"cpus"` field of
    * bench_baseline.json's metadata, None when the field is absent. */
  def ledgerCpus(ledger: String): Option[Int] =
    """"cpus"\s*:\s*([0-9]+)""".r.findFirstMatchIn(ledger)
      .map(_.group(1).toInt)

  /** Whether the regression gate runs: a full-suite sf0.1 run at the
    * ledger's core count — the only condition its entries compare with. */
  def gateActive(sfDir: String, fullSuite: Boolean, cpus: Int,
      ledgerCpus: Option[Int]): Boolean =
    sfDir.contains("sf0.1") && fullSuite && ledgerCpus.contains(cpus)

  /** Host drift: the median of the run's time/ledger `ratios` (1.0 when
    * there are none), computed only at the ledger's core count. At any
    * other — or with no recorded core count — the ratios measure core
    * scaling, not host load, and there is no drift: None. */
  def hostDrift(ratios: Seq[Double], cpus: Int,
      ledgerCpus: Option[Int]): Option[Double] =
    if (!ledgerCpus.contains(cpus)) None
    else if (ratios.isEmpty) Some(1.0)
    else Some(ratios.sorted.apply(ratios.length / 2))

  /** The stderr alarm for a drift, in two tiers: a hard alert above 1.3x
    * and a soft warning above 1.1x — the normalization would otherwise
    * silently accept any GENUINE uniform regression inside the (1.0, 1.3)
    * window (e.g. a config change slowing everything 1.25x reads as
    * norm=1.25, zero flags, no alert). None without a drift. */
  def driftMessage(drift: Option[Double]): Option[String] = drift.collect {
    case d if d > 1.3 =>
      f"HOST DRIFT $d%.2fx vs ledger across the suite: host load OR " +
        "a uniform regression (a global config/code change). Rerun on a " +
        "quiet host before trusting n_regressions=0."
    case d if d > 1.1 =>
      f"HOST DRIFT WARNING $d%.2fx vs ledger: inside the tolerated " +
        "window, but a uniform regression would hide here — compare " +
        "host_drift against the committed drift history before accepting."
  }

  /** The bench line's `host_drift` and `drift_alert` JSON fields:
    * `"host_drift":null,"drift_alert":false` without a drift. */
  def driftFields(drift: Option[Double]): String =
    s""""host_drift":${drift.fold("null")(_.toString)},""" +
      s""""drift_alert":${drift.exists(_ > 1.3)}"""

  /** Suite-tail transient signature: every flagged query sits in ONE
    * contiguous run of the execution order (r13: 10 of 11 flags were the
    * adjacent `q_un*`..`q_uuid` block at the end of the run — a host
    * stall during that window, not 10 independent plan regressions).
    * Returns false for an empty flag set and for flags that are spread
    * out (spread flags are the genuine-regression shape). A single flag
    * is trivially contiguous; the caller treats the signal as "retry
    * worthwhile", which is the right call for one flag too. */
  def contiguousBlock(allNames: Seq[String], flagged: Seq[String]): Boolean = {
    if (flagged.isEmpty) return false
    val pos = allNames.zipWithIndex.toMap
    val idx = flagged.flatMap(pos.get)
    if (idx.length != flagged.length) return false // unknown name: no claim
    idx.max - idx.min + 1 == idx.length
  }

  /** Fold a retry pass into the main timings: each retried query keeps
    * the MIN of its suite reading and its retry reading (same
    * discipline as the two main passes). Error slots: a suite error is
    * kept verbatim; a retry error on a suite-PASSING query also
    * surfaces (conservative — a query that fails on re-run is broken,
    * whatever its first pass said). */
  def foldRetry(timed: Seq[(String, Double, Option[String])],
      retry: Map[String, (Double, Option[String])])
      : Seq[(String, Double, Option[String])] =
    timed.map { case (name, t, err) =>
      retry.get(name) match {
        case Some((rt, rerr)) => (name, math.min(t, rt), err.orElse(rerr))
        case None => (name, t, err)
      }
    }
}
