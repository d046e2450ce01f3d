package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit pins for the perf-regression gate's pure logic (r13 verdict
  * item 2): the 1.5x/0.25s flag rule, the suite-tail contiguous-block
  * transient signature, the retry fold, and host drift only at the
  * ledger's recorded core count. No SparkSession. */
class BenchGateSpec extends AnyFunSuite {

  private val base = Map("q_a" -> 1.0, "q_b" -> 2.0, "q_c" -> 0.1)

  test("regression rule: >1.5x relative AND >0.25s absolute, errors exempt") {
    val timed = Seq[(String, Double, Option[String])](
      ("q_a", 1.9, None),          // 1.9x and +0.9s -> flags
      ("q_b", 2.6, None),          // 1.3x -> no flag
      ("q_c", 0.3, None),          // 3x but only +0.2s -> no flag
      ("q_new", 9.0, None),        // not in ledger -> no flag
      ("q_a2", 9.0, Some("boom"))) // erroring -> no flag
    assert(BenchGate.regressions(timed, base, 1.0).map(_._1) === Seq("q_a"))
  }

  test("regression rule applies the drift normalization") {
    val timed = Seq[(String, Double, Option[String])](("q_a", 1.9, None))
    // at norm 1.4 the bar is 1.0*1.4*1.5 = 2.1s -> 1.9s passes
    assert(BenchGate.regressions(timed, base, 1.4).isEmpty)
    assert(BenchGate.regressions(timed, base, 1.0).nonEmpty)
  }

  test("contiguousBlock: adjacent run flags true, spread flags false") {
    val names = Seq("q_a", "q_b", "q_c", "q_d", "q_e", "q_f")
    assert(BenchGate.contiguousBlock(names, Seq("q_d", "q_e", "q_f")))
    assert(BenchGate.contiguousBlock(names, Seq("q_e", "q_d", "q_f")),
      "order of the flag list must not matter")
    assert(BenchGate.contiguousBlock(names, Seq("q_b")))
    assert(!BenchGate.contiguousBlock(names, Seq("q_a", "q_c")))
    assert(!BenchGate.contiguousBlock(names, Seq("q_a", "q_e", "q_f")))
    assert(!BenchGate.contiguousBlock(names, Seq.empty))
    assert(!BenchGate.contiguousBlock(names, Seq("q_zzz")),
      "unknown names make no contiguity claim")
  }

  test("foldRetry keeps the per-query min and only retried queries move") {
    val timed = Seq[(String, Double, Option[String])](
      ("q_a", 5.0, None), ("q_b", 2.0, None), ("q_c", 1.0, Some("err")))
    val retry = Map(
      "q_a" -> (0.9, Option.empty[String]),  // transient: retry is fast
      "q_b" -> (7.0, Option.empty[String]),  // retry slower: min keeps 2.0
      "q_c" -> (0.5, Option.empty[String]))  // error slot keeps suite error
    val folded = BenchGate.foldRetry(timed, retry)
    assert(folded === Seq(
      ("q_a", 0.9, None), ("q_b", 2.0, None), ("q_c", 0.5, Some("err"))))
  }

  test("end-to-end transient shape: block flags, retry clears, genuine stays") {
    val names = Seq("q_a", "q_b", "q_c")
    val ledger = Map("q_a" -> 1.0, "q_b" -> 1.0, "q_c" -> 1.0)
    // suite pass: q_b and q_c inflated (tail stall), q_a genuine-regressed
    val timed = Seq[(String, Double, Option[String])](
      ("q_a", 3.0, None), ("q_b", 2.0, None), ("q_c", 2.2, None))
    val flags = BenchGate.regressions(timed, ledger, 1.0).map(_._1)
    assert(flags === Seq("q_a", "q_b", "q_c"))
    assert(!BenchGate.contiguousBlock(names, Seq("q_a", "q_c")))
    // retry on a now-quiet host: transients evaporate, q_a reproduces
    val retry = Map(
      "q_a" -> (2.9, Option.empty[String]),
      "q_b" -> (1.1, Option.empty[String]),
      "q_c" -> (1.0, Option.empty[String]))
    val folded = BenchGate.foldRetry(timed, retry)
    assert(BenchGate.regressions(folded, ledger, 1.0).map(_._1) === Seq("q_a"))
  }

  private val ledger32 = """{"queries": {"q_a": 1.0}, "cpus": 32, "sf": "x"}"""
  private val ratios = Seq(1.5, 1.0, 1.2) // median 1.2: the warning tier

  test("host drift at the ledger's core count: computed, warned, gate on") {
    val cores = BenchGate.ledgerCpus(ledger32)
    assert(cores === Some(32))
    val drift = BenchGate.hostDrift(ratios, 32, cores)
    assert(drift === Some(1.2))
    assert(BenchGate.driftMessage(drift)
      .exists(_.startsWith("HOST DRIFT WARNING")))
    assert(BenchGate.driftMessage(Some(1.4))
      .exists(_.startsWith("HOST DRIFT 1.40x")))
    assert(BenchGate.driftMessage(Some(1.05)).isEmpty)
    assert(BenchGate.driftFields(drift) ===
      "\"host_drift\":1.2,\"drift_alert\":false")
    assert(BenchGate.driftFields(Some(1.4)) ===
      "\"host_drift\":1.4,\"drift_alert\":true")
    assert(BenchGate.hostDrift(Seq.empty, 32, cores) === Some(1.0))
    assert(BenchGate.gateActive("/d/sf0.1", fullSuite = true, 32, cores))
    assert(!BenchGate.gateActive("/d/sf0.1", fullSuite = false, 32, cores))
    assert(!BenchGate.gateActive("/d/sf0.01", fullSuite = true, 32, cores))
  }

  test("host drift at another core count: null, no alert, no gate") {
    val cores = BenchGate.ledgerCpus(ledger32)
    val drift = BenchGate.hostDrift(Seq(2.0, 2.0, 2.0), 8, cores)
    assert(drift === None)
    assert(BenchGate.driftMessage(drift).isEmpty)
    assert(BenchGate.driftFields(drift) ===
      "\"host_drift\":null,\"drift_alert\":false")
    assert(!BenchGate.gateActive("/d/sf0.1", fullSuite = true, 8, cores))
  }

  test("host drift with no recorded core count: null at every core count") {
    val cores =
      BenchGate.ledgerCpus("""{"queries": {"q_a": 1.0}, "sf": "x"}""")
    assert(cores === None)
    for (cpus <- Seq(4, 8, 32)) {
      assert(BenchGate.hostDrift(Seq(2.0), cpus, cores) === None)
      assert(!BenchGate.gateActive("/d/sf0.1", fullSuite = true, cpus, cores))
    }
  }
}
