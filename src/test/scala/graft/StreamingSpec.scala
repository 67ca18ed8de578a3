package graft

import graft.core._
import graft.streaming._

/** The reference's incremental contract (`feedPipe`/`squeezePipe`,
  * `Data/Conduino.hs:229-296`): feeding the same inputs quantum by
  * quantum must produce the same outputs as the batch run (SURVEY.md
  * §5.4), with outputs drained per quantum.
  */
class StreamingSpec extends SparkSpec {

  test("incremental map+filter ≡ batch (outputs drained per quantum)") {
    val pipe = Pipes.map[Int, Int](_ * 2) |> Pipes.filter[Int](_ % 3 != 0)
    val f = Incremental.open(spark, pipe, "inc_map_filter")
    try {
      val out1 = f.feed(Seq(1, 2, 3))       // 2, 4 (6 filtered)
      val out2 = f.feed(Seq(4, 5))          // 8, 10
      val out3 = f.feed(Seq.empty)          // nothing
      val out4 = f.feed(Seq(6, 7))          // 14 (12 filtered)
      val batch = (Sources.fromSeq(spark, Seq(1, 2, 3, 4, 5, 6, 7))
        |> pipe).into(Sinks.sinkList)
      assert(out1 == Seq(2, 4) && out2 == Seq(8, 10) && out3.isEmpty && out4 == Seq(14))
      assert((out1 ++ out2 ++ out3 ++ out4) == batch)
    } finally f.stop()
  }

  test("incremental concatMap ≡ batch") {
    val pipe = Pipes.concatMap[Int, Int](x => Seq.fill(x % 3)(x))
    val f = Incremental.open(spark, pipe, "inc_concat")
    try {
      val got = Seq(Seq(1, 2), Seq(3, 4), Seq(5)).flatMap(q => f.feed(q))
      val batch = (Sources.fromSeq(spark, Seq(1, 2, 3, 4, 5)) |> pipe).into(Sinks.sinkList)
      assert(got == batch)
    } finally f.stop()
  }

  test("incremental stateful scan ≡ batch scan (state carried across quanta)") {
    val inputs = Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10)
    val pipe = StreamPipes.scanTws(0)((b: Int, a: Int) => b + a)
    val f = Incremental.open(spark, pipe, "inc_scan")
    try {
      val o1 = f.feed(inputs.take(4))
      val o2 = f.feed(inputs.slice(4, 7))
      val o3 = f.feed(inputs.drop(7))
      val batch = (Sources.fromSeq(spark, inputs)
        |> Pipes.scan(0)((b: Int, a: Int) => b + a)).into(Sinks.sinkList)
      assert((o1 ++ o2 ++ o3) == batch)
      // the doc-example values, as a belt-and-braces check
      assert(batch == List(1, 3, 6, 10, 15, 21, 28, 36, 45, 55))
    } finally f.stop()
  }

  test("incremental mapAccum ≡ batch mapAccum") {
    val inputs = Seq(5, 1, 7, 2, 9)
    val f = Incremental.open(spark,
      StreamPipes.mapAccumTws(0)((a: Int, s: Int) => (s + a, s + a)), "inc_acc")
    try {
      val got = Seq(inputs.take(2), inputs.slice(2, 4), inputs.drop(4)).flatMap(q => f.feed(q))
      val batch = (Sources.fromSeq(spark, inputs)
        |> Pipes.mapAccum(0)((a: Int, s: Int) => (s + a, s + a))).into(Sinks.sinkList)
      assert(got == batch)
    } finally f.stop()
  }

  test("event-time tumbling window with watermark: closes on watermark advance, batch ≡ streaming") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val df = input.toDS().toDF("ts", "v")
    val agg = EventTime.tumbling(df, "ts", "5 seconds", "10 seconds",
      Seq(sum(col("v")).as("total"), count(lit(1)).as("cnt")))
    val q = agg.writeStream.format("memory").queryName("et_win")
      .outputMode("append").start()
    def ts(s: Int) = new java.sql.Timestamp(s * 1000L)
    try {
      input.addData(Seq((ts(1), 10L), (ts(3), 20L), (ts(12), 5L)))
      q.processAllAvailable()
      // watermark = 12-5 = 7 < 10: no window closed yet
      assert(spark.table("et_win").count() == 0)
      input.addData(Seq((ts(21), 1L)))
      q.processAllAvailable()
      q.processAllAvailable() // watermark advance lands in the next batch
      // watermark = 21-5 = 16 ≥ 10: window [0,10) closes with 10+20
      val closed = spark.table("et_win").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("w_start").getTime / 1000,
                   r.getAs[Long]("total"), r.getAs[Long]("cnt")))
      assert(closed.toSet == Set((0L, 30L, 2L)), s"got: ${closed.toList}")
      // batch run over the same data agrees on the closed window
      val batch = EventTime.tumbling(
        Seq((ts(1), 10L), (ts(3), 20L), (ts(12), 5L), (ts(21), 1L)).toDF("ts", "v"),
        "ts", "5 seconds", "10 seconds",
        Seq(sum(col("v")).as("total"), count(lit(1)).as("cnt")))
      val b0 = batch.filter(col("w_start") === ts(0)).collect().head
      assert(b0.getAs[Long]("total") == 30L && b0.getAs[Long]("cnt") == 2L)
    } finally q.stop()
  }

  test("squeeze with no new input yields nothing (squeezePipe contract)") {
    val f = Incremental.open(spark, Pipes.map[Int, Int](_ + 1), "inc_squeeze")
    try {
      assert(f.squeeze().isEmpty)
      assert(f.feed(Seq(1)) == Seq(2))
      assert(f.squeeze().isEmpty)
    } finally f.stop()
  }

  test("event-time sliding window streaming: closed windows match batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = EventTime.sliding(input.toDS().toDF("ts", "v"), "ts",
      "5 seconds", "10 seconds", "5 seconds",
      Seq(sum(col("v")).as("total"), count(lit(1)).as("cnt")))
    val q = agg.writeStream.format("memory").queryName("et_slide")
      .outputMode("append").start()
    def ts(s: Int) = new java.sql.Timestamp(s * 1000L)
    val data = Seq((ts(1), 10L), (ts(3), 20L), (ts(7), 5L))
    try {
      input.addData(data)
      q.processAllAvailable()
      input.addData(Seq((ts(31), 1L))) // watermark 26 closes everything early
      q.processAllAvailable(); q.processAllAvailable()
      val closed = spark.table("et_slide").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("w_start").getTime / 1000,
                   r.getAs[Long]("total"), r.getAs[Long]("cnt"))).toSet
      // windows: [-5,5): 10+20; [0,10): 10+20+5; [5,15): 5
      assert(closed == Set((-5L, 30L, 2L), (0L, 35L, 3L), (5L, 5L, 1L)),
        s"got $closed")
      val batch = EventTime.sliding(data.toDF("ts", "v"), "ts",
        "5 seconds", "10 seconds", "5 seconds",
        Seq(sum(col("v")).as("total"), count(lit(1)).as("cnt")))
        .collect().map(r => (r.getAs[java.sql.Timestamp]("w_start").getTime / 1000,
                             r.getAs[Long]("total"), r.getAs[Long]("cnt"))).toSet
      assert(batch == closed, s"batch $batch != streaming $closed")
    } finally q.stop()
  }

  test("event-time session window streaming: closed sessions match batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val agg = EventTime.session(input.toDS().toDF("ts", "k", "v"), "ts", "k",
      "5 seconds", "10 seconds",
      Seq(sum(col("v")).as("total"), count(lit(1)).as("cnt")))
    val q = agg.writeStream.format("memory").queryName("et_sess")
      .outputMode("append").start()
    def ts(s: Int) = new java.sql.Timestamp(s * 1000L)
    // k=1: events at 1,8 (one session, gap<10); k=2: event at 2
    val data = Seq((ts(1), 1L, 10L), (ts(8), 1L, 20L), (ts(2), 2L, 7L))
    try {
      input.addData(data)
      q.processAllAvailable()
      input.addData(Seq((ts(60), 9L, 1L))) // watermark 55 closes all sessions
      q.processAllAvailable(); q.processAllAvailable()
      val closed = spark.table("et_sess").collect()
        .map(r => (r.getAs[Long]("k"),
                   r.getAs[java.sql.Timestamp]("s_start").getTime / 1000,
                   r.getAs[java.sql.Timestamp]("s_end").getTime / 1000,
                   r.getAs[Long]("total"))).toSet
      assert(closed == Set((1L, 1L, 18L, 30L), (2L, 2L, 12L, 7L)), s"got $closed")
      val batch = EventTime.session(data.toDF("ts", "k", "v"), "ts", "k",
        "5 seconds", "10 seconds",
        Seq(sum(col("v")).as("total"), count(lit(1)).as("cnt")))
        .collect().map(r => (r.getAs[Long]("k"),
                             r.getAs[java.sql.Timestamp]("s_start").getTime / 1000,
                             r.getAs[java.sql.Timestamp]("s_end").getTime / 1000,
                             r.getAs[Long]("total"))).toSet
      assert(batch == closed, s"batch $batch != streaming $closed")
    } finally q.stop()
  }

  test("streaming exact dedup: duplicates within the watermark horizon emit once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = graft.operators.Dedup.streamingExact(
      input.toDS().toDF("ts", "doc"), "ts", "10 seconds", Seq("doc"))
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    def ts(s: Int) = new java.sql.Timestamp(s * 1000L)
    try {
      input.addData(Seq((ts(1), "a"), (ts(2), "b"), (ts(2), "a"))) // intra-batch dup
      q.processAllAvailable()
      input.addData(Seq((ts(5), "a"), (ts(6), "c")))               // cross-batch dup
      q.processAllAvailable()
      val docs = spark.table("sdedup").collect().map(_.getAs[String]("doc")).toList
      assert(docs.sorted == List("a", "b", "c"), s"got $docs")
    } finally q.stop()
  }

  test("transformWithState scan/mapAccum ≡ batch across quanta (non-deprecated API)") {
    // no provider conf set here: the Feeder gets RocksDB from its plan,
    // keeps the session's partition count, and leaves the session as it was
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val partsKey = "spark.sql.shuffle.partitions"
    assert(!spark.conf.getOption(providerKey).contains(StreamExec.RocksProvider))
    val prevParts = spark.conf.get(partsKey)
    spark.conf.set(partsKey, "3")
    val f =
      try Incremental.open(spark,
        StreamPipes.scanTws(0)((b: Int, a: Int) => b + a), "tws_scan")
      finally spark.conf.set(partsKey, prevParts)
    try {
      assert(f.feed(Seq(1, 2, 3)) == Seq(1, 3, 6))
      assert(f.feed(Seq(4)) == Seq(10))       // state carried across quanta
      val plan = StreamExec.capturedExplain(
        spark.streams.active.find(_.name == "tws_scan").get)
      assert(plan.contains("TransformWithState") && plan.matches("(?s).*hashpartitioning\\([^)]*, 3\\).*"),
        s"expected a 3-partition TransformWithState plan in:\n$plan")
    } finally f.stop()
    assert(!spark.conf.getOption(providerKey).contains(StreamExec.RocksProvider),
      "opening the Feeder left the RocksDB provider on the session")
    val g = Incremental.open(spark,
      StreamPipes.mapAccumTws(0)((a: Int, s: Int) => (s + a, s)), "tws_macc")
    try {
      assert(g.feed(Seq(5, 6)) == Seq(0, 5))  // emits the PRE-state
      assert(g.feed(Seq(7)) == Seq(11))
    } finally g.stop()
  }

  test("state-store policy: transformWithState gets RocksDB; stream-stream join and watermark dedup keep Spark's default") {
    import org.apache.spark.sql.Encoder
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val encE: Encoder[Elem[Long]] = Elem.enc[Long]
    implicit val encT: Encoder[(java.sql.Timestamp, String)] =
      ExpressionEncoder[(java.sql.Timestamp, String)]()
    def longs() = SStream(MemoryStream[Elem[Long]].toDS())
    val tws = StreamPipes.scanTws(0L)((b: Long, a: Long) => b + a).apply(longs()).ds.toDF()
    val join = StreamPipes.zipSourcesStream(longs(), longs()).ds.toDF()
    val dedup = graft.operators.Dedup.streamingExact(
      MemoryStream[(java.sql.Timestamp, String)].toDS().toDF("ts", "k"),
      "ts", "10 seconds", Seq("k"))
    assert(StreamExec.stateStoreProvider(tws) == Some(StreamExec.RocksProvider))
    assert(StreamExec.RocksProvider.endsWith(".RocksDBStateStoreProvider"))
    assert(StreamExec.stateStoreProvider(join).isEmpty)
    assert(StreamExec.stateStoreProvider(dedup).isEmpty)
  }

  test("transformWithState take/pairs/consecutive carry state across quanta") {
    val ft = Incremental.open(spark, StreamPipes.takeTws[Int](4), "tws_take")
    try {
      assert(ft.feed(Seq(1, 2, 3)) == Seq(1, 2, 3))
      assert(ft.feed(Seq(4, 5, 6)) == Seq(4)) // cut lands mid-quantum
      assert(ft.feed(Seq(7)).isEmpty)
    } finally ft.stop()
    val fp = Incremental.open(spark, StreamPipes.pairsTws[Int], "tws_pairs")
    try {
      assert(fp.feed(Seq(1, 2, 3)) == Seq((1, 2), (2, 3)))
      assert(fp.feed(Seq(4)) == Seq((3, 4))) // pair spans the quantum gap
    } finally fp.stop()
    val fc = Incremental.open(spark, StreamPipes.consecutiveTws[Int](2), "tws_consec")
    try {
      assert(fc.feed(Seq(1, 2, 3)) == Seq(Seq(), Seq(1), Seq(1, 2)))
      assert(fc.feed(Seq(4)) == Seq(Seq(2, 3)))
    } finally fc.stop()
  }

  test("streaming takeWhile/dropWhile: cut carried across quanta (incremental ≡ batch)") {
    val inputs = Seq(1, 2, 3, 7, 2, 1)
    val quanta = Seq(inputs.take(2), inputs.slice(2, 4), inputs.drop(4))
    val batchTW = (Sources.fromSeq(spark, inputs)
      |> Pipes.takeWhile[Int](_ < 5)).into(Sinks.sinkList)
    val f = Incremental.open(spark, StreamPipes.takeWhileTws[Int](_ < 5), "tws_tw")
    try {
      // cut lands MID-quantum (at 7); later quanta emit nothing even
      // though their elements satisfy the predicate again
      assert(quanta.flatMap(q => f.feed(q)) == batchTW && batchTW == Seq(1, 2, 3))
    } finally f.stop()
    // the emitting form is the composite `dropWhile p >> id` — the
    // first failing element is consumed by dropWhile, not passed
    val batchDW = (Sources.fromSeq(spark, inputs)
      |> Pipes.suffixAfter(Pipes.dropWhile[Int](_ < 5))).into(Sinks.sinkList)
    val g = Incremental.open(spark, StreamPipes.dropWhileTws[Int](_ < 5), "tws_dw")
    try {
      assert(quanta.flatMap(q => g.feed(q)) == batchDW && batchDW == Seq(2, 1))
    } finally g.stop()
  }

  test("streaming zipSource: stream-stream equi-join on seq, positions pair across quanta") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val encI: org.apache.spark.sql.Encoder[Elem[Int]] = Elem.enc[Int]
    implicit val encS: org.apache.spark.sql.Encoder[Elem[String]] = Elem.enc[String]
    val ia = MemoryStream[Elem[Int]]
    val ib = MemoryStream[Elem[String]]
    val zipped = StreamPipes.zipSourcesStream(SStream(ia.toDS()), SStream(ib.toDS()))
    val q = zipped.ds.writeStream.format("memory").queryName("zip_stream")
      .outputMode("append").start()
    try {
      // sides advance at different rates; position 1's pair spans quanta
      ia.addData(Seq(Elem(0L, 10), Elem(1L, 11)))
      ib.addData(Seq(Elem(0L, "a")))
      q.processAllAvailable()
      ia.addData(Seq(Elem(2L, 12)))
      ib.addData(Seq(Elem(1L, "b"), Elem(2L, "c")))
      q.processAllAvailable()
      val got = spark.table("zip_stream").collect()
        .map { r =>
          val v = r.getStruct(r.fieldIndex("value"))
          (r.getAs[Long]("seq"), (v.getInt(0), v.getString(1)))
        }.sortBy(_._1).toSeq
      assert(got == Seq(0L -> (10, "a"), 1L -> (11, "b"), 2L -> (12, "c")), s"got $got")
      // the executed plan is a genuine stream-stream join with watermarks
      val plan = StreamExec.capturedExplain(q)
      assert(plan.contains("StreamingSymmetricHashJoin"), s"plan:\n$plan")
    } finally q.stop()
  }

  test("squeeze collects only the drained increment, not the whole sink table") {
    val f = Incremental.open(spark, Pipes.map[Int, Int](_ + 1), "inc_increment")
    try {
      assert(f.feed(Seq(1, 2, 3)) == Seq(2, 3, 4))
      assert(f.lastSqueezeRowCount == 3)
      // second quantum: only the 2 FRESH rows may cross the driver —
      // a full-table collect would read 5 here
      assert(f.feed(Seq(4, 5)) == Seq(5, 6))
      assert(f.lastSqueezeRowCount == 2)
      assert(f.squeeze().isEmpty && f.lastSqueezeRowCount == 0)
    } finally f.stop()
  }

  test("StreamExec.runStreaming: scan lands batch-identical output via a stateful streaming plan") {
    val elems = (1L to 10L).map(i => Elem(i, i))
    // quantum=4 → three micro-batches: state carry is genuinely exercised
    val df = StreamExec.runStreamingAppend[Elem[Long]](spark, elems,
      ds => StreamPipes.scanTws(0L)((b: Long, a: Long) => b + a).apply(SStream(ds)).ds.toDF(),
      quantum = 4)
    val got = df.collect()
      .map(r => (r.getAs[Long]("seq"), r.getAs[Long]("value"))).sortBy(_._1)
    assert(got.map(_._2).toList == List(1L, 3L, 6L, 10L, 15L, 21L, 28L, 36L, 45L, 55L),
      s"got ${got.toList}")
    // the proof the oracle row can't give: the executed plan is stateful
    assert(StreamExec.lastStreamingPlan.contains("TransformWithState"),
      s"expected a TransformWithState operator in:\n${StreamExec.lastStreamingPlan}")
    // every runner starts its query on 4 state partitions
    assert(StreamExec.lastStreamingPlan.matches("(?s).*hashpartitioning\\([^)]*, 4\\).*"),
      s"expected 4 state partitions in:\n${StreamExec.lastStreamingPlan}")
  }

  test("StreamExec.runStreamingComplete: final snapshot equals the batch agg") {
    import org.apache.spark.sql.functions._
    val rows = (1 to 20).map(i => (i % 3, i.toLong))
    // quantum=7 → three micro-batches: the Complete-mode snapshot must
    // reflect ALL quanta, not just the last
    val df = StreamExec.runStreamingComplete[(Int, Long)](spark, rows,
      ds => ds.toDF("k", "v").groupBy(col("k")).agg(sum(col("v")).as("total")),
      quantum = 7)
    val got = df.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sortBy(_._1)
    val want = rows.groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    assert(got == want, s"got $got, want $want")
    // the snapshot came from a stateful streaming agg, not a batch rerun
    assert(StreamExec.lastStreamingPlan.contains("StateStore"),
      s"expected a StateStore operator in:\n${StreamExec.lastStreamingPlan}")
  }

  test("StreamExec.runStreamingAppend: watermark dedup drops in-horizon duplicates via a stateful plan") {
    import org.apache.spark.sql.functions.col
    // each value arrives twice, 1 s apart — inside the 10 s horizon, so
    // exactly one survives; values are spread 100 s apart so the
    // watermark advances far past older keys between quanta
    val rows = (0L until 12L).flatMap { i =>
      Seq((new java.sql.Timestamp(i * 100000L), s"k$i"),
          (new java.sql.Timestamp(i * 100000L + 1000L), s"k$i"))
    }
    val df = StreamExec.runStreamingAppend[(java.sql.Timestamp, String)](spark, rows,
      ds => graft.operators.Dedup.streamingExact(ds.toDF("ts", "k"),
        "ts", "10 seconds", Seq("k")).select(col("k")),
      quantum = 8)
    val got = df.collect().map(_.getString(0)).sorted.toSeq
    assert(got == (0L until 12L).map(i => s"k$i").sorted.toSeq, s"got $got")
    assert(StreamExec.lastStreamingPlan.contains("StreamingDeduplicateWithinWatermark"),
      s"expected the streaming dedup state operator in:\n${StreamExec.lastStreamingPlan}")
  }

  test("squeeze drains by seq: exactly-once even under a permuted collect order") {
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("seq", LongType), StructField("value", IntegerType)))
    def row(s: Long) =
      new GenericRowWithSchema(Array[Any](s, s.toInt), schema)
        : org.apache.spark.sql.Row
    val rnd = new scala.util.Random(3)
    val rows = (0L until 20L).map(row)
    // first drain sees rows 0..9 in scrambled order
    val drain1 = Incremental.freshBySeq(rnd.shuffle(rows.take(10)), Long.MinValue)
    assert(drain1.map(_.getAs[Long]("seq")).sorted == (0L until 10L))
    val last1 = drain1.map(_.getAs[Long]("seq")).max
    // second drain sees ALL rows, scrambled — positional drop would
    // duplicate or lose; seq-based drain returns exactly the new ten
    val drain2 = Incremental.freshBySeq(rnd.shuffle(rows), last1)
    assert(drain2.map(_.getAs[Long]("seq")).sorted == (10L until 20L))
    // nothing new → empty
    assert(Incremental.freshBySeq(rnd.shuffle(rows), 19L).isEmpty)
  }

  test("unbounded rate source: bounded prefix through map∘filter matches the closed form") {
    val df = StreamExec.runRateStream(spark,
      Pipes.map[Long, Long](x => 2 * x + 1) |> Pipes.filter[Long](_ % 3 != 0),
      100L)
    val got = df.orderBy("seq").collect()
      .map(r => (r.getAs[Long]("seq"), r.getAs[Long]("value"))).toList
    val want = (0L until 100L).map(i => (i, 2 * i + 1)).filter(_._2 % 3 != 0).toList
    assert(got == want, s"got ${got.take(8)}…")
  }

  test("production file sink: pipe output lands in parquet via writeStream + checkpoint, batch-identical") {
    // the deployment shape the memory-sink proofs stand in for: a real
    // FileStreamSink with a checkpoint dir (exactly-once via the sink's
    // _spark_metadata log), driven by the same Pipe
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[Elem[Long]] = Elem.enc[Long]
    val outDir = graft.core.Scratch.fresh("fsink").toString
    val ckpt = graft.core.Scratch.fresh("fsink_ckpt").toString
    val input = MemoryStream[Elem[Long]]
    val pipe = Pipes.map[Long, Long](_ * 3) |> Pipes.filter[Long](_ % 2 == 1)
    val q = pipe(SStream(input.toDS())).ds.toDF()
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      (0L until 20L).grouped(7).foreach { chunk =>
        input.addData(chunk.map(i => Elem(i, i)))
        q.processAllAvailable()
      }
    } finally q.stop()
    val landed = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("seq"), r.getAs[Long]("value")))
      .sortBy(_._1).toList
    val batch = (Sources.fromSeq(spark, (0L until 20L)) |> pipe)
      .into(Sinks.sinkList)
    assert(landed.map(_._2) == batch, s"file sink ${landed.take(6)}… vs batch ${batch.take(6)}…")
    // the sink's transaction log exists — the exactly-once machinery ran
    assert(new java.io.File(outDir, "_spark_metadata").exists(),
      "no _spark_metadata transaction log in the file sink output")
  }

  test("feedPipe leftover-inputs branch: take(3) fed 10 → 7 leftovers (Conduino.hs:253-256)") {
    val f = Incremental.open(spark,
      StreamPipes.takeTwsCut[Int](spark, 3), "inc_cut_take")
    try {
      f.feedEither(1 to 10) match {
        case Right((leftover, outs)) =>
          assert(outs == Seq(1, 2, 3))
          assert(leftover == (4 to 10))
        case Left(outs) => fail(s"pipe should have terminated, got Left($outs)")
      }
      // already terminated: every later quantum is all-leftover, no output
      f.feedEither(Seq(11, 12)) match {
        case Right((leftover, outs)) =>
          assert(leftover == Seq(11, 12) && outs.isEmpty)
        case Left(outs) => fail(s"expected Right, got Left($outs)")
      }
    } finally f.stop()
  }

  test("feedPipe exact-fill: take(3) fed exactly 3 terminates with ZERO leftovers") {
    val f = Incremental.open(spark,
      StreamPipes.takeTwsCut[Int](spark, 3), "inc_cut_exact")
    try {
      // under-fill: still awaiting input → Left
      assert(f.feedEither(Seq(1, 2)) == Left(Seq(1, 2)))
      // the n-th element itself flips the branch — no over-feed needed
      f.feedEither(Seq(3)) match {
        case Right((leftover, outs)) =>
          assert(outs == Seq(3) && leftover.isEmpty)
        case Left(outs) => fail(s"expected Right, got Left($outs)")
      }
    } finally f.stop()
  }

  test("feedPipe takeWhile cut: failing element is consumed, remainder is leftover") {
    val f = Incremental.open(spark,
      StreamPipes.takeWhileTwsCut[Int](spark, _ < 4), "inc_cut_tw")
    try {
      f.feedEither(Seq(1, 2, 3, 4, 5, 6)) match {
        case Right((leftover, outs)) =>
          assert(outs == Seq(1, 2, 3))
          // 4 was awaited and tested (consumed) — only 5, 6 are leftover
          assert(leftover == Seq(5, 6))
        case Left(outs) => fail(s"expected Right, got Left($outs)")
      }
    } finally f.stop()
  }

  test("feedPipe leftover boundary survives downstream |> composition") {
    val pipe = StreamPipes.takeTwsCut[Int](spark, 2) |> Pipes.map[Int, Int](_ * 10)
    val f = Incremental.open(spark, pipe, "inc_cut_composed")
    try {
      f.feedEither(Seq(1, 2, 3, 4)) match {
        case Right((leftover, outs)) =>
          assert(outs == Seq(10, 20))
          assert(leftover == Seq(3, 4))
        case Left(outs) => fail(s"expected Right, got Left($outs)")
      }
    } finally f.stop()
  }

  test("feedPipe: reopening a used CutPipe resets the boundary (no stale termination)") {
    val p = StreamPipes.takeTwsCut[Int](spark, 3)
    val f1 = Incremental.open(spark, p, "inc_cut_reuse_a")
    try assert(f1.feedEither(1 to 5).isRight) // terminate in the first feeder
    finally f1.stop()
    // same pipe INSTANCE, fresh feeder: seq counter restarts, and so must
    // the cut boundary — under-fill must be Left again, not a stale Right
    val f2 = Incremental.open(spark, p, "inc_cut_reuse_b")
    try {
      assert(f2.feedEither(Seq(1, 2)) == Left(Seq(1, 2)))
      f2.feedEither(Seq(3, 4)) match {
        case Right((leftover, outs)) => assert(outs == Seq(3) && leftover == Seq(4))
        case Left(outs) => fail(s"expected Right, got Left($outs)")
      }
    } finally f2.stop()
  }

  test("feedPipe parity: streaming cut leftovers agree with the batch take cut") {
    val inputs = 1 to 10
    val n = 3L
    // batch: takeN passes the first n in seq order; everything after is
    // exactly the streaming feeder's leftover set
    val batchOut = (Sources.fromSeq(spark, inputs)
      |> graft.core.Pipes.take[Int](n)).into(Sinks.sinkList)
    val f = Incremental.open(spark,
      StreamPipes.takeTwsCut[Int](spark, n), "inc_cut_parity")
    try {
      val Right((leftover, outs)) = f.feedEither(inputs): @unchecked
      assert(outs == batchOut)
      assert(leftover == inputs.filterNot(batchOut.contains))
    } finally f.stop()
  }

  /** The left-outer zip of positions 0..5 through the two-input runner,
    * `sentinels` fed one micro-batch each after the data rounds.
    */
  private def zipLeft(lefts: Seq[Elem[Long]], rights: Seq[Elem[Long]],
                      sentinels: Seq[Elem[Long]]) =
    StreamExec.runStreamingJoin2(spark, lefts, rights,
      (a: org.apache.spark.sql.Dataset[Elem[Long]], b: org.apache.spark.sql.Dataset[Elem[Long]]) =>
        StreamPipes.zipSourcesStreamLeft(SStream(a), SStream(b), maxSeq = 6L).ds.toDF(),
      tailA = sentinels, tailB = sentinels)

  test("zipSourcesStreamLeft: unmatched left positions flush as None after sentinel rounds") {
    val lefts  = (0L until 6L).map(i => Elem(i, i * 10))
    val rights = Seq(0L, 2L, 4L).map(i => Elem(i, i * 100))
    val sentinels = StreamPipes.sentinelSeqs(6L).map(Elem(_, -1L))
    val df = zipLeft(lefts, rights, sentinels)
    val got = df.collect()
      .map(r => (r.getAs[Long]("seq"),
        r.getAs[org.apache.spark.sql.Row]("value") match {
          case v => (v.getLong(0), if (v.isNullAt(1)) None else Some(v.getLong(1)))
        }))
      .sortBy(_._1).toSeq
    val want = (0L until 6L).map(i =>
      (i, (i * 10, if (i % 2 == 0) Some(i * 100) else None)))
    assert(got == want, s"got $got")
    // the executed join is the stateful symmetric hash join in LeftOuter
    // mode — not a batch rewrite
    assert(StreamExec.lastStreamingPlan.contains("StreamingSymmetricHashJoin"),
      s"expected StreamingSymmetricHashJoin in:\n${StreamExec.lastStreamingPlan}")
    assert(StreamExec.lastStreamingPlan.contains("LeftOuter"),
      s"expected LeftOuter in:\n${StreamExec.lastStreamingPlan}")
  }

  test("zipSourcesStreamLeft: WITHOUT sentinel rounds the unmatched tail never emits") {
    val lefts  = (0L until 6L).map(i => Elem(i, i * 10))
    val rights = Seq(0L, 2L, 4L).map(i => Elem(i, i * 100))
    val df = zipLeft(lefts, rights, sentinels = Nil)
    val seqs = df.collect().map(_.getAs[Long]("seq")).sorted.toSeq
    // matched rows emit immediately; the None rows are gated on a
    // watermark that never advanced — this is the behavior the sentinel
    // protocol exists to fix, pinned so a runner change can't silently
    // start dropping it
    assert(seqs == Seq(0L, 2L, 4L), s"got $seqs")
  }

  test("parquet sink runner: read-back equals batch, _spark_metadata commit log present") {
    val elems = (1L to 10L).map(i => Elem(i - 1, i * 10))
    val got = StreamExec.runStreamingAppend[Elem[Long]](
      spark, elems,
      ds => StreamPipes.mapAccumTws(0L)((a: Long, prev: Long) => (a, a - prev))
        .apply(SStream(ds)).ds.toDF(),
      quantum = 3, sink = StreamExec.StreamSink.Parquet(graft.core.Scratch.fresh("psink_")))
    // the read-back path is the sink directory — its _spark_metadata log
    // (the atomic per-batch commit record) must exist, or this was not
    // the streaming file-sink protocol
    val files = got.inputFiles
    assert(files.nonEmpty)
    val sinkDir = new java.io.File(new java.net.URI(files.head)).getParentFile
    assert(new java.io.File(sinkDir, "_spark_metadata").exists(),
      s"no _spark_metadata commit log under $sinkDir")
    // delta encoding with state carried ACROSS micro-batches (quantum 3
    // splits mid-stream): first value of batch 2 still deltas against
    // the last value of batch 1
    val out = got.orderBy("seq").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(out == (0L to 9L).map(s => (s, 10L)).toList, s"got $out")
  }

  test("file-source runner: readStream.text discovery runs one micro-batch per shard") {
    val dir = graft.core.Scratch.fresh("fsrc")
    (0 until 3).foreach { i =>
      java.nio.file.Files.write(dir.resolve(s"s$i.txt"),
        s"${i * 2}\tline a$i\n${i * 2 + 1}\tline b$i".getBytes("UTF-8"))
    }
    val got = StreamExec.runSourceStream(spark) {
      val lines = spark.readStream.option("maxFilesPerTrigger", "1").text(dir.toString)
      lines.select(
        org.apache.spark.sql.functions.expr(
          "CAST(substring(value, 1, instr(value, '\t') - 1) AS BIGINT)").as("doc_id"),
        org.apache.spark.sql.functions.expr(
          "substring(value, instr(value, '\t') + 1)").as("text"))
    }
    val out = got.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toList
    assert(out == List((0L, "line a0"), (1L, "line b0"), (2L, "line a1"),
      (3L, "line b1"), (4L, "line a2"), (5L, "line b2")), s"got $out")
  }

  test("KeyedFunnel: per-user stage machines carry state across batches independently") {
    // quantum=3 splits each user's funnel across micro-batches; u1
    // completes view→click→purchase, u2's purchase arrives BEFORE its
    // click (order matters — must stall at click), u3 never views.
    // Within-batch disorder (u1's click fed before its view in batch 1)
    // is restored by the per-key event-time sort.
    val rows = Seq(
      (1L, "click", 20L), (1L, "view", 10L), (2L, "view", 10L),
      (2L, "purchase", 15L), (1L, "purchase", 30L), (3L, "click", 5L),
      (2L, "click", 20L), (3L, "purchase", 6L))
    val df = StreamExec.runStreamingAppend[(Long, String, Long)](spark, rows,
      ds => graft.streaming.KeyedFunnel.advance(ds, Seq("view", "click", "purchase")),
      quantum = 3)
    val got = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("stage"), r.getAs[Long]("t_us")))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq(
      (1L, 1, 10L), (1L, 2, 20L), (1L, 3, 30L),
      (2L, 1, 10L), (2L, 2, 20L)), s"got $got")
    assert(StreamExec.lastStreamingPlan.contains("TransformWithState"),
      s"expected TransformWithState in:\n${StreamExec.lastStreamingPlan}")
  }

  test("UpsertSnapshot: foreachBatch latest-wins maintenance equals the batch merge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // updates across three batches: k=1 upserted twice (v2 wins), k=2
    // tombstoned at v1, k=3 deleted then resurrected at v2; a later
    // batch carries an OLDER version for k=4 (out-of-order delivery —
    // the v2 row must still win)
    // k=5's two versions arrive in the FIRST batch: the first merge must
    // resolve within-batch duplicates too, not store the raw batch
    val batches = Seq(
      Seq((1L, "a0", 0L, false), (2L, "b0", 0L, false), (4L, "d2", 2L, false),
          (5L, "e0", 0L, false), (5L, "e1", 1L, false)),
      Seq((1L, "a1", 1L, false), (2L, "", 1L, true), (3L, "c0", 0L, false)),
      Seq((1L, "a2", 2L, false), (3L, "", 1L, true), (3L, "c2", 2L, false),
          (4L, "d0", 0L, false)))
    val input = MemoryStream[(Long, String, Long, Boolean)]
    val snap = new graft.streaming.UpsertSnapshot("k", "version")
    val q = input.toDS().toDF("k", "v", "version", "dead")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => snap.merge(b))
      .start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val got = snap.snapshot.get.filter(!org.apache.spark.sql.functions.col("dead"))
      .select("k", "v", "version").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    // batch ground truth: mergeLatest over ALL updates at once
    val all = batches.flatten.toDF("k", "v", "version", "dead")
    val want = operators.ColOps.mergeLatest(
        all.limit(0), all, "k", "version", Some("dead"))
      .select("k", "v", "version").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == want, s"streamed $got vs batch $want")
    assert(got == Seq((1L, "a2", 2L), (3L, "c2", 2L), (4L, "d2", 2L),
      (5L, "e1", 1L)), s"got $got")
  }

  test("first-touch min-bucket is invariant to the micro-batch split") {
    import org.apache.spark.sql.functions.{col, min}
    // 3 users, later events carry EARLIER buckets for u2 — a split that
    // processed u2's rows in different batches must still converge on
    // the global min (Complete-mode agg state, one long per user)
    val rows = Seq((10L, 1L), (20L, 2L), (5L, 2L), (7L, 3L), (3L, 1L))
    def run(q: Int) =
      StreamExec.runStreamingComplete[(Long, Long)](spark, rows,
        ds => ds.toDF("bkt", "user").groupBy(col("user"))
          .agg(min(col("bkt")).as("first")),
        quantum = q)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val perRow = run(1)      // every row its own micro-batch
    val oneShot = run(100)   // single batch
    assert(perRow == Seq((1L, 3L), (2L, 5L), (3L, 7L)), s"got $perRow")
    assert(perRow == oneShot, s"split-dependent result: $perRow vs $oneShot")
  }

  test("Throttle.admit: k per (key, bucket) across batch boundaries, count survives the split") {
    // one (user, bucket) whose 5 rows straddle micro-batches: quantum 2
    // puts rows 3..5 in later batches, where ONLY carried state can know
    // two were already admitted
    val rows = Seq(
      (1L, 0L, 10L, 100L), (1L, 0L, 11L, 101L), (1L, 0L, 12L, 102L),
      (1L, 0L, 13L, 103L), (1L, 0L, 14L, 104L),
      (2L, 0L, 10L, 200L), // other key: untouched by u1's flood
      (1L, 1L, 20L, 105L)) // next bucket: counter starts fresh
    def run(q: Int) =
      StreamExec.runStreamingAppend[(Long, Long, Long, Long)](spark, rows,
        ds => graft.streaming.Throttle.admit(ds, 3), quantum = q)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    val split = run(2)
    val oneShot = run(100)
    assert(split == Seq((100L, 1L, 0L, 1L), (101L, 1L, 0L, 2L), (102L, 1L, 0L, 3L),
      (105L, 1L, 1L, 1L), (200L, 2L, 0L, 1L)), s"got $split")
    assert(split == oneShot, s"split-dependent admission: $split vs $oneShot")
  }

  test("Enrich.joinStatic: stream-static join is broadcast, stateless, append-final") {
    import org.apache.spark.sql.functions.col
    val dim = spark.createDataFrame(Seq((0L, "a"), (1L, "b"), (2L, "c")))
      .toDF("k", "name")
    // 7 rows over quantum 3 → three micro-batches; keys 0..2 cycle so
    // every batch joins against the full dimension
    val rows = (0L until 7L).map(i => (i, i % 3))
    val df = StreamExec.runStreamingAppend[(Long, Long)](spark, rows,
      ds => graft.streaming.Enrich.joinStatic(
        ds.toDF("id", "key"), dim, col("key") === col("k"))
        .select(col("id"), col("name")),
      quantum = 3)
    val got = df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val want = rows.map { case (i, k) => (i, Seq("a", "b", "c")(k.toInt)) }
    assert(got == want, s"got $got")
    // plan proof: map-side broadcast hash join, and NO state store — the
    // whole point of the stateless enrichment shape (a state-backed or
    // shuffled per-batch join would not survive a high-rate stream)
    assert(StreamExec.lastStreamingPlan.contains("BroadcastHashJoin"),
      s"expected BroadcastHashJoin in:\n${StreamExec.lastStreamingPlan}")
    assert(!StreamExec.lastStreamingPlan.contains("StateStore"),
      s"expected no state store in:\n${StreamExec.lastStreamingPlan}")
  }

  test("stream-stream interval join: cross-round matches found, result invariant to the round split") {
    import org.apache.spark.sql.functions._
    val hour = 3600L * 1000000L
    // points at t=0.5h,1.5h,2.5h for u1; purchase at 2h covers the
    // 1.5h point only; u2's purchase at 1h covers its 0.9h point —
    // with rounds=3 the 1.5h point and the 2h purchase land in
    // DIFFERENT batches: only retained join state can pair them
    val pts = Seq((1L, 101L, hour / 2), (1L, 102L, hour * 3 / 2),
      (1L, 103L, hour * 5 / 2), (2L, 201L, hour * 9 / 10))
    val ivs = Seq((1L, 900L, hour, 2 * hour), (2L, 901L, 0L, hour))
    def run(rounds: Int) =
      StreamExec.runStreamingJoin2[(Long, Long, Long), (Long, Long, Long, Long)](
        spark, pts, ivs,
        (dp, di) => {
          val p = dp.toDF("user_id", "event_id", "t_us")
            .withColumn("t", timestamp_micros(col("t_us")))
            .withWatermark("t", "1 hour")
          val v = di.toDF("p_user", "p_id", "lo_us", "hi_us")
            .withColumn("hi_t", timestamp_micros(col("hi_us")))
            .withWatermark("hi_t", "1 hour")
          p.join(v, col("user_id") === col("p_user") &&
              col("t") >= timestamp_micros(col("lo_us")) &&
              col("t") <= col("hi_t"))
            .select(col("p_id"), col("event_id"))
        }, rounds = rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val split = run(3)
    assert(split == Seq((900L, 102L), (901L, 201L)), s"got $split")
    assert(split == run(1), "round-split changed the join result")
  }

  /** One run of a real-file-source plan into a parquet sink at `base`
    * through the shared streaming step; a later run on the same base
    * resumes from the checkpoint the earlier one left there.
    */
  private def runToParquet(base: java.nio.file.Path)(out: => org.apache.spark.sql.DataFrame): Unit = {
    StreamExec.runSourceStream(spark, StreamExec.StreamSink.Parquet(base))(out)
    ()
  }

  private def dataOf(base: java.nio.file.Path): String =
    StreamExec.StreamSink.Parquet(base).data.toString

  test("checkpoint restart: stopped file-source query resumes EXACTLY-ONCE from its offsets") {
    import org.apache.spark.sql.functions.{col, length}
    import spark.implicits._
    // the deployable recovery contract: offsets in the checkpoint, sink
    // files committed via _spark_metadata — a restarted query must pick
    // up only files it has not yet processed, and an idle restart must
    // emit nothing. MemoryStream can't prove this (it dies with the
    // query); a real file source + file sink + checkpointLocation can.
    val base = graft.core.Scratch.fresh("restart_")
    val src = java.nio.file.Files.createDirectory(base.resolve("src"))
    def put(name: String, lines: String*): Unit =
      java.nio.file.Files.write(src.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = runToParquet(base) {
      spark.readStream.text(src.toString)
        .select(col("value"), length(col("value")).as("n"))
    }
    def sink(): Seq[(String, Int)] =
      spark.read.parquet(dataOf(base)).as[(String, Int)].collect().sortBy(_._1).toSeq
    put("a.txt", "alpha", "bravo")
    runOnce()
    assert(sink() == Seq(("alpha", 5), ("bravo", 5)))
    put("b.txt", "charlie")
    runOnce() // restart #1: must process ONLY b.txt
    assert(sink() == Seq(("alpha", 5), ("bravo", 5), ("charlie", 7)))
    runOnce() // restart #2, no new files: must emit NOTHING
    assert(sink() == Seq(("alpha", 5), ("bravo", 5), ("charlie", 7)),
      "idle restart re-emitted rows — exactly-once broken")
  }

  test("keyed checkpoint restart: transformWithState funnel recovers its per-user state store") {
    import org.apache.spark.sql.functions.{col, split}
    import spark.implicits._
    // The restart a production STATEFUL pipeline performs — beyond the
    // stateless proof above (source offsets + sink commit log), stopping
    // a keyed transformWithState query and restarting from its
    // checkpointLocation must recover the per-key STATE STORE: u1's
    // post-restart `buy` only advances (stage 3) if its pre-stop
    // (stage=2, t=20) state survived, and u2's `cart` likewise — a fresh
    // store would emit nothing for either. The shared streaming step
    // picks RocksDB from the transformWithState plan and 4 partitions.
    val stages = Seq("view", "cart", "buy")
    def runOnce(srcDir: String, base: java.nio.file.Path): Unit = runToParquet(base) {
      val parsed = spark.readStream.text(srcDir)
        .select(split(col("value"), ",").as("f"))
        .select(col("f").getItem(0).cast("long"),
          col("f").getItem(1), col("f").getItem(2).cast("long"))
        .as[(Long, String, Long)]
      KeyedFunnel.advance(parsed, stages)
    }
    def sink(base: java.nio.file.Path): Seq[(Long, Int, Long)] =
      spark.read.parquet(dataOf(base)).as[(Long, Int, Long)].collect().sorted.toSeq
    def put(dir: java.nio.file.Path, name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
    val batch1 = Seq("1,view,10", "2,view,10", "1,cart,20")
    // u1 advances to buy and u2 to cart ONLY with recovered state;
    // u3 is a new key; u2's trailing view must NOT re-advance
    val batch2 = Seq("1,buy,30", "2,cart,25", "3,view,30", "2,view,40")

    val base = graft.core.Scratch.fresh("keyed_restart_")
    val src = java.nio.file.Files.createDirectory(base.resolve("src"))
    put(src, "a.txt", batch1)
    runOnce(src.toString, base)
    assert(sink(base) == Seq((1L, 1, 10L), (1L, 2, 20L), (2L, 1, 10L)),
      s"pre-stop advancements wrong: ${sink(base)}")
    put(src, "b.txt", batch2)
    runOnce(src.toString, base) // RESTART: state store must recover
    val got = sink(base)
    // the two advancements that REQUIRE recovered (stage, time) state
    assert(got.contains((1L, 3, 30L)) && got.contains((2L, 2, 25L)),
      s"state store not recovered across restart: $got")
    // unbroken control: both batches visible to ONE query from a fresh
    // checkpoint — the split-with-restart run must equal it exactly
    val base2 = graft.core.Scratch.fresh("keyed_ctrl_")
    val src2 = java.nio.file.Files.createDirectory(base2.resolve("src"))
    put(src2, "a.txt", batch1); put(src2, "b.txt", batch2)
    runOnce(src2.toString, base2)
    assert(got == sink(base2),
      "restarted run diverged from the unbroken run")
    // idle restart: recovered state + no new files ⇒ no output
    runOnce(src.toString, base)
    assert(sink(base) == got, "idle keyed restart re-emitted rows")
  }

  test("stream-stream join checkpoint restart: JOIN state recovers across stop/start") {
    import org.apache.spark.sql.functions.{col, split, timestamp_micros, expr}
    import spark.implicits._
    // The third restart class, completing the trilogy (stateless
    // source/sink ✓, keyed transformWithState ✓): a stream-stream
    // inner join's buffered rows live in the JOIN state store, and a
    // left row whose partner only arrives AFTER a stop/restart can
    // match it only if that buffer was recovered from the checkpoint.
    // The join runs on the provider the shared step picks for it, as
    // q_interval_stream's does.
    def side(dir: String, idName: String, tName: String) =
      spark.readStream.text(dir)
        .select(split(col("value"), ",").as("f"))
        .select(col("f").getItem(0).cast("long").as(idName),
          col("f").getItem(1).cast("long").as(tName + "_us"))
        .withColumn(tName, timestamp_micros(col(tName + "_us")))
        .withWatermark(tName, "1 hour")
    def runOnce(srcA: String, srcB: String, base: java.nio.file.Path): Unit =
      runToParquet(base) {
        side(srcA, "id", "ta")
          .join(side(srcB, "idb", "tb"),
            col("id") === col("idb") &&
              col("tb") >= col("ta") - expr("INTERVAL 1 HOUR") &&
              col("tb") <= col("ta") + expr("INTERVAL 1 HOUR"))
          .select(col("id"), col("ta_us"), col("tb_us"))
      }
    def sink(base: java.nio.file.Path): Seq[(Long, Long, Long)] =
      spark.read.parquet(dataOf(base)).as[(Long, Long, Long)].collect().sorted.toSeq
    def put(dir: java.nio.file.Path, name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
    val base = graft.core.Scratch.fresh("join_restart_")
    val srcA = java.nio.file.Files.createDirectory(base.resolve("a"))
    val srcB = java.nio.file.Files.createDirectory(base.resolve("b"))
    // pre-stop: left ids 1 and 2 buffered; only id 1's partner arrives
    put(srcA, "a1.txt", Seq("1,1000000", "2,2000000"))
    put(srcB, "b1.txt", Seq("1,1500000"))
    runOnce(srcA.toString, srcB.toString, base)
    assert(sink(base) == Seq((1L, 1000000L, 1500000L)), s"got ${sink(base)}")
    // post-restart: id 2's partner arrives — it can ONLY match if the
    // buffered left row survived the stop in the recovered join state
    put(srcB, "b2.txt", Seq("2,2500000"))
    runOnce(srcA.toString, srcB.toString, base)
    val got = sink(base)
    assert(got.contains((2L, 2000000L, 2500000L)),
      s"join state not recovered across restart: $got")
    // unbroken control from a fresh checkpoint must agree exactly
    val base2 = graft.core.Scratch.fresh("join_ctrl_")
    val srcA2 = java.nio.file.Files.createDirectory(base2.resolve("a"))
    val srcB2 = java.nio.file.Files.createDirectory(base2.resolve("b"))
    put(srcA2, "a1.txt", Seq("1,1000000", "2,2000000"))
    put(srcB2, "b1.txt", Seq("1,1500000")); put(srcB2, "b2.txt", Seq("2,2500000"))
    runOnce(srcA2.toString, srcB2.toString, base2)
    assert(got == sink(base2),
      "restarted join run diverged from the unbroken run")
    // idle restart: recovered state + no new files ⇒ no output
    runOnce(srcA.toString, srcB.toString, base)
    assert(sink(base) == got, "idle join restart re-emitted rows")
  }

  test("streaming KMV == batch kmvWordSketch, invariant to quantum and arrival order") {
    import graft.operators.Sketches
    import org.apache.spark.sql.functions.col
    // > K distinct words so the sketch genuinely cuts at k, plus dups
    val texts = (0 until 40).map(d =>
      (0 until 20).map(w => s"w${(d * 7 + w * 13) % 300}").mkString(" "))
    def run(ts: Seq[String], quantum: Int): (Long, Long, Long, Long) = {
      val elems = ts.zipWithIndex.map { case (t, i) => Elem(i.toLong, t) }
      val r = Sketches.kmvStreamSummary(
        StreamExec.runStreamingAppend[Elem[String]](spark, elems,
          ds => Sketches.kmvStreamPipe(SStream(ds)).ds.toDF(),
          quantum = quantum)).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    import spark.implicits._
    val b = Sketches.kmvWordSketch(texts.toDF("text"), "text").collect().head
    val batch = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val got = run(texts, 13) // 4 micro-batches: cross-batch state carry
    assert(got == batch, s"stream $got vs batch $batch")
    assert(run(texts.reverse, 40) == batch, "arrival order changed the sketch")
    assert(StreamExec.lastStreamingPlan.contains("TransformWithState"),
      s"expected TransformWithState in:\n${StreamExec.lastStreamingPlan}")
  }

  test("q_ann_stream: serve is micro-batch-split invariant and equals the batch IVF search") {
    val dir = "/root/testdata/sf0.001"
    def served(quantum: Int): Seq[(Long, Long, Double, Long)] =
      queries.Streaming.annStreamServe(spark, dir, quantum).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .sorted.toSeq
    val oneByOne = served(1)       // every query its own micro-batch
    val allAtOnce = served(10000)  // single batch
    assert(oneByOne == allAtOnce, "serve results depend on the micro-batch split")
    val batch = graft.operators.Similarity
      .ivfTopK(graft.operators.Similarity.embeddings(spark, dir), 20, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sorted.toSeq
    assert(oneByOne == batch, "streaming serve diverged from batch ivfTopK")
  }

  test("q_cdx_ingest_stream: appends stay in the pinned version (live never moves), append ≡ rebuild") {
    val dir = "/root/testdata/sf0.001"
    val base = graft.core.Scratch.fresh("cdx_spec_").toString
    val served = queries.Streaming.cdxIngestStreamAt(spark, dir, base)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sorted.toSeq
    // version pinning: the per-shard appends must not have published a
    // new version — the live version after ingest is still v1
    val live = graft.operators.Bucketing.liveVersion(base)
    assert(live.exists(_._1 == 1), s"append moved the live version: $live")
    // append ≡ rebuild: the served layout equals the one-shot batch
    // index over the full archive
    val batchIdx = SparkEntry.queries("q_cdx_index")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sorted.toSeq
    assert(served == batchIdx, "ingested layout diverged from the batch rebuild")
    // layout shape: appends touched only bucket directories under v1
    val v1 = java.nio.file.Paths.get(live.get._2)
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.list(v1)
    val entries = try stream.iterator().asScala.map(_.getFileName.toString).toSet
      finally stream.close()
    assert(entries.exists(_.startsWith("cdx_bucket=")),
      s"no bucket partition directories under v1: $entries")
  }

  test("q_corpus_build_stream: version pinned, ingested layout ≡ batch canon set") {
    val dir = "/root/testdata/sf0.001"
    val base = graft.core.Scratch.fresh("corpus_spec_").toString
    // run the full ingest (the serve-side pack output is hash-gated by
    // the shared oracle; here we pin the LAYOUT-level invariants)
    queries.Streaming.corpusBuildStreamAt(spark, dir, base).collect()
    val live = graft.operators.Bucketing.liveVersion(base)
    assert(live.exists(_._1 == 1), s"append moved the live version: $live")
    // append ≡ rebuild at the document level: the ingested layout holds
    // exactly the batch pipeline's post-gate post-dedup canon set
    val ingested = spark.read.parquet(live.get._2)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // batch side: the SAME extraction the archive chain runs (the
    // layout holds extracted text, not raw corpus text)
    val pages = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0),
        graft.operators.Html.wrapLine(r.getLong(0), r.getString(1))))
      .toSeq.toDF("doc_id", "html")
    val docs = graft.operators.Html.extract(pages, "doc_id", "html")
      .select(col("doc_id"),
        call_function("replace", col("extracted"), lit("\n"), lit(" ")).as("text"))
    val keepIds = graft.operators.TextOps.qualityFilter(docs, "doc_id", "text")
      .filter(col("keep")).select(col("doc_id"))
    val kept = docs.join(keepIds, "doc_id")
    val canon = kept.join(
      graft.operators.Dedup.exact(kept, "doc_id", "text")
        .select(col("keep_id").as("doc_id")), "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(ingested == canon, "ingested layout diverged from the batch canon set")
  }
}
