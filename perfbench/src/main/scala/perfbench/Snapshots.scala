package perfbench

/** Seeded generator of Mesos-shaped `/metrics/snapshot` bodies: a flat JSON
  * object of 120 `slave/...` names to doubles, about 3 KB. Every value is
  * written with a decimal point (`4.0`, `1536.25`), as Mesos writes them;
  * half are integral (`4.0`), half carry a fraction. The same
  * (seed, slave, tick) always gives the same bytes. The drain backlog and
  * the loopback HTTP server both use it. */
object Snapshots {

  private val stats = Seq("cpus", "mem", "disk", "gpus", "cpus_revocable",
    "mem_revocable", "disk_revocable", "gpus_revocable")
    .flatMap(r => Seq(s"${r}_total", s"${r}_used", s"${r}_percent"))
  private val counters = Seq("tasks_staging", "tasks_starting",
    "tasks_running", "tasks_killing", "tasks_finished", "tasks_failed",
    "tasks_killed", "tasks_lost", "tasks_gone", "executors_registering",
    "executors_running", "executors_terminating", "executors_terminated",
    "executors_preempted", "frameworks_active", "uptime_secs", "registered",
    "recovery_errors", "container_launch_errors", "valid_status_updates",
    "invalid_status_updates", "valid_framework_messages",
    "invalid_framework_messages", "executor_directory_max_allowed_age_secs",
    "recovery_time_secs", "registered_frameworks", "offers_declined",
    "reregistrations", "agent_reconnects", "status_update_retries",
    "checkpoint_writes", "checkpoint_errors", "gc_runs", "gc_errors",
    "disk_gc_bytes", "fetch_errors")

  /** The 120 metric names, sorted. */
  val names: IndexedSeq[String] = {
    val base = (stats ++ counters).map(n => s"slave/$n")
    (base ++ base.take(120 - base.size).map(_ + "_1m")).sorted.toIndexedSeq
  }
  require(names.size == 120 && names.distinct.size == 120)

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of its input. */
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Values for one snapshot, aligned with [[names]]. Fractions are
    * multiples of 1/16, so every value is exact in binary and its shortest
    * decimal form round-trips. All values stay below 1e6, where Java prints
    * plain decimals (no exponent). */
  def values(seed: Long, slave: Int, tick: Long): Array[Double] = {
    val h0 = mix(mix(mix(seed) ^ slave) ^ tick)
    Array.tabulate(names.size) { j =>
      val r = mix(h0 ^ j) & Long.MaxValue
      if (j % 2 == 0) (r % 100000).toDouble else (r % 16000000) / 16.0
    }
  }

  def expected(seed: Long, slave: Int, tick: Long): Map[String, Double] =
    names.iterator.zip(values(seed, slave, tick).iterator).toMap

  /** The JSON body, compact, names in sorted order. */
  def body(seed: Long, slave: Int, tick: Long): String = {
    val vs = values(seed, slave, tick)
    val sb = new StringBuilder(4096)
    sb.append('{')
    var j = 0
    while (j < names.size) {
      if (j > 0) sb.append(',')
      sb.append('"').append(names(j)).append("\":")
        .append(java.lang.Double.toString(vs(j)))
      j += 1
    }
    sb.append('}').toString
  }
}
