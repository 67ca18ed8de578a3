package graft

import graft.core._
import graft.operators._
import org.apache.spark.sql.functions._

/** The materialization boundary is parameterized: default
  * localCheckpoint on local[*], reliable checkpoint() when a checkpoint
  * dir + the graft flag are set (the 100-TB survival mode — blocks live
  * on the checkpoint FS, not in executor memory). Operators must be
  * semantically identical under both.
  */
class MaterializeSpec extends SparkSpec {

  /** Runs `body` with the flag set to `flag`, then asserts that reliable
    * checkpoints were written to the checkpoint dir.
    */
  private def withReliable[T](flag: String)(body: => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Materialize.ReliableKey, flag)
    try {
      val out = body
      val written = java.nio.file.Files.walk(dir)
      try assert(written.anyMatch(_.getFileName.toString.startsWith("rdd-")),
        s"${Materialize.ReliableKey}=$flag fell back to localCheckpoint")
      finally written.close()
      out
    } finally {
      spark.conf.unset(Materialize.ReliableKey)
    }
  }

  test("reliable checkpoint mode: same results from checkpoint-heavy operators") {
    import spark.implicits._
    val xs = Vector.tabulate(5000)(i => (i * 7919L) % 1000 - 500)
    val localScan = (Sources.fromSeq(spark, xs)
      |> Pipes.scanCombine(0L)((b: Long, a: Long) => b + a)(_ + _)).into(Sinks.sinkList)
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota"), (4L, "unrelated words entirely here")).toDF("doc_id", "text")
    val localPairs = Dedup.jaccardPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (flag <- Seq("true", "TRUE")) withReliable(flag) {
      val relScan = (Sources.fromSeq(spark, xs)
        |> Pipes.scanCombine(0L)((b: Long, a: Long) => b + a)(_ + _)).into(Sinks.sinkList)
      assert(relScan == localScan)
      val relPairs = Dedup.jaccardPairs(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(relPairs == localPairs)
      // feedback loop (materializes every large round) under reliable mode
      implicit val enc: org.apache.spark.sql.Encoder[Elem[Long]] = Elem.enc[Long]
      val start = Sources.fromSeq(spark, Seq(81L, 27L, 3L))
      val p = Pipes.map[Long, Long](_ / 3) |> Pipes.filter[Long](_ > 0)
      val out = Compose.feedbackPipe(p, maxRounds = 10)(start).into(Sinks.sinkList)
      assert(out.sorted == Seq(27L, 9L, 9L, 3L, 3L, 1L, 1L, 1L).sorted)
    }
  }

  test("without the flag, reliable dir alone does not change the default path") {
    // flag unset → localCheckpoint even with a checkpoint dir configured
    assert(spark.conf.getOption(Materialize.ReliableKey).isEmpty)
    val got = (Sources.fromSeq(spark, Seq(1L, 2L, 3L))
      |> Pipes.scanCombine(0L)((b: Long, a: Long) => b + a)(_ + _)).into(Sinks.sinkList)
    assert(got == List(1L, 3L, 6L))
  }
}
