package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench self-adjudication contract: which sweep timings
  * trigger a solo re-run against the committed record, and how records
  * are recovered from a bench_last.json body (including the
  * scale-factor guard and err-entry exclusion). Pure functions — no
  * SparkSession needed.
  */
class BenchSpec extends AnyFunSuite {

  test("needsSolo: 3x-over AND >0.25s absolute triggers; either alone does not") {
    // the round-10 escapee: 0.55 s vs an 0.11 s record (5x, +0.44 s)
    // slipped under the old 0.5 s absolute floor — must trigger now
    assert(Bench.needsSolo(0.55, 0.11))
    // classic load spike on a mid-weight query
    assert(Bench.needsSolo(2.72, 0.48))
    // 5x inflated but only +0.2 s absolute — sub-second jitter, skip
    assert(!Bench.needsSolo(0.25, 0.05))
    // +2 s absolute but under 3x — a heavy query running heavy, skip
    assert(!Bench.needsSolo(6.0, 4.0))
    // exactly at the 3x boundary does not trigger (strict >)
    assert(!Bench.needsSolo(0.33, 0.11))
  }

  test("parseRecords: reads q_* timings, skips err entries, at matching sf only") {
    val body =
      """{"metric":"total","value":3.5,"unit":"sec","errors":1,""" +
        """"queries":{"q_fast":0.12,"q_slow":2.5,"q_broken":{"err":"boom"},""" +
        """"q_sci":1.2e-1},"adjudicated":{},"sf":"/root/testdata/sf0.1"}"""
    val recs = Bench.parseRecords(body, "/root/testdata/sf0.1")
    assert(recs == Map("q_fast" -> 0.12, "q_slow" -> 2.5, "q_sci" -> 0.12))
    // a record file from a DIFFERENT scale factor must yield no records
    // (adjudicating sf0.1 against sf0.001-era numbers would solo-re-run
    // nearly the whole suite)
    assert(Bench.parseRecords(body, "/root/testdata/sf0.001").isEmpty)
    // garbage body yields no records rather than throwing
    assert(Bench.parseRecords("not json at all", "/root/testdata/sf0.1").isEmpty)
  }

  test("outPath: the result file is written only where SPARK_GRAFT_BENCH_OUT names one") {
    assert(Bench.outPath(None).isEmpty)
    assert(Bench.outPath(Some("")).isEmpty)
    assert(Bench.outPath(Some("  ")).isEmpty)
    assert(Bench.outPath(Some(" out/bench.json ")) == Some("out/bench.json"))
  }

  test("select: an unknown query name throws and is named in the message") {
    val e = intercept[IllegalArgumentException](SparkEntry.select(Seq("q_scan", "q_nope")))
    assert(e.getMessage.contains("q_nope"), e.getMessage)
    assert(!e.getMessage.contains("q_scan"), e.getMessage)
    assert(SparkEntry.select(Seq("q_scan")).map(_.name) == Seq("q_scan"))
    assert(SparkEntry.select(Nil).size == SparkEntry.registry.size)
  }

  test("parseCpus: trims, defaults unset or empty to 4, throws naming SPARK_GRAFT_CPUS otherwise") {
    assert(Harness.parseCpus(Some("4")) == 4)
    assert(Harness.parseCpus(Some(" 8 ")) == 8)
    assert(Harness.parseCpus(Some("")) == 4)
    assert(Harness.parseCpus(None) == 4)
    for (bad <- Seq("0", "abc")) {
      val e = intercept[IllegalArgumentException](Harness.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(bad), e.getMessage)
    }
  }
}
