package graft

import graft.core._

/** Manual end-to-end smoke drive of the distributed ordered-exec paths
  * (scanCombine prefix-combine, FoldSink combine path) through the public
  * API. Run: sbt "runMain graft.DevSmoke".
  */
object DevSmoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()

    // README flagship: sourceList [1..10] .| scan (+) 0 .| sinkList
    val src = Sources.fromSeq(spark, (1 to 10).map(_.toLong))
    val scanned = src |> Pipes.scanCombine(0L)((b: Long, a: Long) => b + a)(_ + _)
    val got = scanned.into(Sinks.sinkList)
    println(s"SCAN RESULT: $got")
    assert(got == List(1L, 3, 6, 10, 15, 21, 28, 36, 45, 55), s"scan mismatch: $got")

    // distributed fold (combine path) over 100k elements, one partition
    // per SPARK_GRAFT_CPUS core
    val big = Sources.fromSeq(spark, (1L to 100000L))
    val sum = big.into(Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _))
    println(s"FOLD RESULT: $sum")
    assert(sum == 5000050000L, s"fold mismatch: $sum")

    // non-commutative combine: string concat in order, across partitions
    val sSrc = Sources.fromSeq(spark, (1 to 26).map(i => ('a' + i - 1).toChar.toString))
    val cat = sSrc.into(Sinks.foldlCombine("")((b: String, a: String) => b + a)(_ + _))
    println(s"CONCAT RESULT: $cat")
    assert(cat == "abcdefghijklmnopqrstuvwxyz", s"concat mismatch: $cat")

    // probe: empty stream through both distributed paths
    val empty = Sources.fromSeq(spark, Seq.empty[Long])
    val emptyScan = (empty |> Pipes.scanCombine(0L)((b: Long, a: Long) => b + a)(_ + _)).into(Sinks.sinkList)
    val emptyFold = empty.into(Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _))
    println(s"EMPTY RESULT: scan=$emptyScan fold=$emptyFold")
    assert(emptyScan == Nil && emptyFold == 0L, s"empty mismatch: $emptyScan / $emptyFold")

    // driver smoke contract: entry() must return rows > 0 on sf0.001
    val entryRows = SparkEntry.entry(spark).count()
    println(s"ENTRY RESULT: $entryRows rows")
    assert(entryRows > 0, "entry() returned no rows")

    // incremental contract: live MemoryStream feed with carried scan state
    val feeder = graft.streaming.Incremental.open(spark,
      graft.streaming.StreamPipes.scanTws(0L)((b: Long, a: Long) => b + a),
      "devsmoke_inc")
    try {
      val fa = feeder.feed(Seq(1L, 2L, 3L))
      val fb = feeder.feed(Seq(4L))
      println(s"INCREMENTAL RESULT: $fa then $fb")
      assert(fa == Seq(1L, 3L, 6L) && fb == Seq(10L), s"incremental mismatch: $fa $fb")
    } finally feeder.stop()

    // dead-letter split over real table data: parse props k, fail on k%7==0
    val docs = graft.operators.ColOps.withSeq(
      graft.operators.ColOps.table(spark, "/root/testdata/sf0.001", "events"),
      org.apache.spark.sql.functions.col("event_id"))
    implicit val encS: org.apache.spark.sql.Encoder[Elem[String]] = Elem.enc[String]
    val propsStream = SStream(docs.select(
      org.apache.spark.sql.functions.col("seq"),
      org.apache.spark.sql.functions.col("props").as("value")).as[Elem[String]])
    val (good, dead) = Lift.runExcept[String, Long] { s =>
      // Try-wrapped parse: digit-free or >18-digit props become dead
      // letters instead of task failures
      scala.util.Try(s.replaceAll("[^0-9]", "").toLong).toEither
        .left.map(e => s"unparseable: $e")
        .filterOrElse(_ % 7 != 0, "k divisible by 7")
    }(propsStream)
    val nGood = good.into(Sinks.count)
    val nDead = dead.into(Sinks.count)
    println(s"DEADLETTER RESULT: good=$nGood dead=$nDead total=${nGood + nDead}")
    assert(nGood + nDead == 1000, "dead-letter split lost rows")
    assert(nDead > 0, "expected some dead letters")

    // multi-file text/binary sources: global line order across files
    val tmp = Scratch.fresh("src_")
    java.nio.file.Files.writeString(tmp.resolve("a.txt"), "l1\nl2\n")
    java.nio.file.Files.writeString(tmp.resolve("b.txt"), "l3\nl4\nl5\n")
    val lines = Sources.textLines(spark, tmp.toString).into(Sinks.sinkList)
    println(s"TEXTLINES RESULT: $lines")
    assert(lines == List("l1", "l2", "l3", "l4", "l5"), s"textLines order: $lines")
    val chunks = Sources.binaryChunks(spark, tmp.toString + "/*.txt")
      .into(Sinks.sinkList).map(b => new String(b))
    println(s"BINCHUNKS RESULT: ${chunks.map(_.replace("\n", "|"))}")
    assert(chunks == List("l1\nl2\n", "l3\nl4\nl5\n"), "binaryChunks order/content")

    // monadic sequencing (reference Combinators.hs:417-422) through the
    // checkpointed-cut andThen path
    val seqSrc = Sources.fromSeq(spark, (1 to 8))
    val seqP = Pipes.take[Int](3).thenPipe(Pipes.map[Int, Int](_ * 2))
      .andThen(Pipes.map[Int, Int](-_))
    val seqGot = (seqSrc |> seqP).into(Sinks.sinkList)
    println(s"ANDTHEN RESULT: $seqGot")
    assert(seqGot == List(2, 4, 6, -4, -5, -6, -7, -8), s"andThen: $seqGot")

    // feedPipe leftover-inputs branch (Conduino.hs:253-256): feeding a
    // cut pipe past its termination reports the unconsumed remainder
    // (Incremental.open picks the RocksDB provider from the plan)
    val cutF = graft.streaming.Incremental.open(spark,
      graft.streaming.StreamPipes.takeTwsCut[Int](spark, 3), "devsmoke_cut")
    try {
      val branch = cutF.feedEither(1 to 10)
      println(s"LEFTOVER RESULT: $branch")
      assert(branch == Right((4 to 10, Seq(1, 2, 3))), s"leftover: $branch")
    } finally cutF.stop()

    println("DEVSMOKE OK")
    spark.stop()
  }
}
