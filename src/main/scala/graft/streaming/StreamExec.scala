package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.core._

/** Execute a streaming-capable pipe END-TO-END through Structured
  * Streaming and hand back the landed result as a DataFrame — the
  * proof-surface for the reference's incremental contract
  * (`feedPipe`/`squeezePipe`, `/root/reference/src/Data/Conduino.hs:229-296`)
  * under the driver's batch oracle: the same query text that checks the
  * batch `q_scan` checks the streaming `q_scan_stream`, because a pipe's
  * semantics must not depend on which engine path ran it.
  *
  * Mechanics: the input rows become a [[MemoryStream]] fed in fixed-size
  * quanta (each quantum = one micro-batch, so cross-batch state carry in
  * the `transformWithState` store is genuinely exercised — with the
  * default quantum a sf0.01 run takes 3 micro-batches, sf0.1 takes 25);
  * the memory sink accumulates Append-mode output; the sink table is the
  * returned DataFrame.
  *
  * Scale note: the driver-side feed is the correctness fixture's shape,
  * not the deployment shape — a production run replaces MemoryStream with
  * `spark.readStream` (Kafka/files) and the memory sink with a real sink,
  * and the pipe in between is unchanged. The single-key stateful ops
  * serialize by the reference's own ordered-stream contract; keyed
  * deployments shard first (see [[StreamPipes]] scaladoc).
  */
object StreamExec {

  private val nameCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The previous run's memory-sink table, dropped when the NEXT run
    * starts: callers consume each result before building the next query
    * (Verify writes, Bench counts), so at most one finished sink stays
    * registered — repeated runs can't accumulate full result copies in
    * driver memory.
    */
  @volatile private var lastSinkTable: Option[String] = None

  /** Physical plan of the last micro-batch of the most recent
    * [[runStreaming]] call — lets specs assert the stateful operator
    * (TransformWithStateExec / StateStore) actually executed, which a
    * batch read of the memory sink cannot show.
    */
  @volatile private[graft] var lastStreamingPlan: String = ""

  private val RocksKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** RocksDB is REQUIRED by `transformWithState` and nothing else in
    * this library's streaming surface. The other stateful shapes
    * (stream-stream joins, watermarked aggregations/dedup) run on the
    * default HDFS-backed provider, whose per-batch commit for the
    * near-empty per-partition stores these proof queries carry is one
    * tiny delta file per store — where RocksDB pays a flush + changelog
    * + maintenance round per store instance per batch (a stream-stream
    * join commits FOUR stores per partition). Measured in the
    * optimization round (interleaved A/B, min-of-reps): the provider
    * choice is per-QUERY, detected from the logical plan, so the TWS
    * pipes keep RocksDB and everything else stops paying for it. At
    * production state sizes the trade flips — large state wants RocksDB
    * — which is why this stays a per-plan decision, not a global conf.
    * `graft.streaming.forceRocksDB=true` (session conf) is the explicit
    * large-state escape hatch: it forces RocksDB for every stateful
    * query regardless of plan shape.
    */
  private val ForceRocksKey = "graft.streaming.forceRocksDB"

  private def needsRocks(out: DataFrame): Boolean =
    // the logical CLASS, not nodeName text (advisor finding: a node
    // rename would silently flip providers); TransformWithStateInPySpark
    // is the Python twin — this library never plans it, but matching the
    // class hierarchy keeps the check rename-proof for the node we use
    out.sparkSession.conf.get(ForceRocksKey, "false").equalsIgnoreCase("true") ||
      out.queryExecution.logical.collectFirst {
        case p: org.apache.spark.sql.catalyst.plans.logical.TransformWithState => p
      }.isDefined

  /** State-partition count for the proof queries, fixed at query start
    * from the session conf: every micro-batch commits one store (four for
    * a stream-stream join) PER PARTITION, so at fixture state sizes the
    * partition count IS the cost — 32 partitions of near-empty stores
    * spend ~8× longer committing than 4. The round-9 floor audit ALSO
    * probed 4 → 2 (halving per-batch commit count): no wall-time change
    * on the 21-query set (61.1 s solo vs 57.5/63.2 at 4) — at local[32]
    * the near-empty per-partition commits run in parallel, so wall time
    * tracks the per-QUERY start/plan/stop machinery, not the commit
    * count. 4 stays as the recorded cost-model operating point. A real
    * deployment sizes this to its state volume; here it is scoped to
    * the streaming query and restored after.
    */
  private val StreamShufflePartitions = "4"
  private val ShuffleKey = "spark.sql.shuffle.partitions"

  /** Set session confs for the duration of `body`, restoring previous
    * values after (the streaming query reads them at start).
    */
  private def withConfs[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** The start/track/feed/stop protocol shared by every runner: drop the
    * previous sink, scope the state-store + partition confs, start the
    * query in `mode` on the plan `mk` builds, record the sink table
    * BEFORE feeding (a run that throws mid-feed must still have its view
    * dropped by the next run), drive the feed callback `mk` returned,
    * capture the executed plan, stop the query, return the sink table.
    * `mk` runs inside the scoped confs and receives the SQLContext the
    * MemoryStream constructor needs; it returns the output plan plus the
    * callback that feeds its input stream(s).
    */
  private def runProtocol(spark: SparkSession, mode: OutputMode)(
      mk: SQLContext => (DataFrame,
        org.apache.spark.sql.streaming.StreamingQuery => Unit)): DataFrame = {
    lastSinkTable.foreach(spark.catalog.dropTempView)
    withConfs(spark, ShuffleKey -> StreamShufflePartitions) {
      val (out, feed) = mk(spark.sqlContext)
      // provider chosen from the PLAN (see needsRocks), set before
      // start() — the query reads it once at start
      val provider =
        if (needsRocks(out)) Seq(RocksKey -> RocksProvider) else Nil
      withConfs(spark, provider: _*) {
        val name = s"graft_stream_${nameCounter.incrementAndGet()}"
        val query = out.writeStream
          .format("memory").queryName(name).outputMode(mode)
          .start()
        lastSinkTable = Some(name)
        try {
          feed(query)
          lastStreamingPlan = capturedExplain(query)
        } finally query.stop()
        spark.table(name)
      }
    }
  }

  /** Run `pipe` over `elems` via Structured Streaming (quantum rows per
    * micro-batch) and return the memory-sink table. The RocksDB state
    * store provider is set for the run and restored after (required by
    * `transformWithState`).
    */
  def runStreaming[A: TypeTag, B: TypeTag](
      spark: SparkSession, elems: Seq[Elem[A]], pipe: Pipe[A, B],
      quantum: Int = 4096): DataFrame =
    runProtocol(spark, OutputMode.Append()) { implicit sq =>
      implicit val encA: Encoder[Elem[A]] = Elem.enc[A]
      val input = MemoryStream[Elem[A]]
      val out = pipe(SStream(input.toDS())).ds.toDF()
      (out, query => elems.grouped(quantum).foreach { chunk =>
        input.addData(chunk)
        query.processAllAvailable()
      })
    }

  /** Run the streaming zipSource end-to-end: two MemoryStreams fed in
    * quanta (sides advance at different rates within a quantum round)
    * through [[StreamPipes.zipSourcesStream]]'s stream-stream join, landed
    * in the memory sink. Both sides' seqs must be dense positions (the
    * zip's documented precondition); quanta are ordered prefix chunks.
    *
    * `rounds` bounds the micro-batch count, not the rows: a stream-stream
    * join batch costs ~4 s of dual state-store commits across the shuffle
    * partitions regardless of row count, so the batch count — two proves
    * cross-batch pairing — is the whole cost model.
    */
  def runStreamingZip[A: TypeTag, B: TypeTag](
      spark: SparkSession, as: Seq[Elem[A]], bs: Seq[Elem[B]],
      rounds: Int = 2): DataFrame =
    // RocksDB here too (via runProtocol): the join itself doesn't require
    // it, but all streaming proof queries should exercise ONE state-store
    // backend so the recorded cost model (per-partition store commits) is
    // uniform
    runProtocol(spark, OutputMode.Append()) { implicit sq =>
      implicit val encA: Encoder[Elem[A]] = Elem.enc[A]
      implicit val encB: Encoder[Elem[B]] = Elem.enc[B]
      val ia = MemoryStream[Elem[A]]
      val ib = MemoryStream[Elem[B]]
      val out = StreamPipes.zipSourcesStream(SStream(ia.toDS()), SStream(ib.toDS())).ds.toDF()
      (out, { query =>
        val ca = as.grouped(math.max(1, (as.size + rounds - 1) / rounds)).toSeq
        val cb = bs.grouped(math.max(1, (bs.size + rounds - 1) / rounds)).toSeq
        (0 until math.max(ca.size, cb.size)).foreach { i =>
          if (i < ca.size) ia.addData(ca(i))
          if (i < cb.size) ib.addData(cb(i))
          query.processAllAvailable()
        }
      })
    }

  /** Run the LEFT-OUTER streaming zip ([[StreamPipes.zipSourcesStreamLeft]])
    * end-to-end: both sides fed in `rounds` prefix chunks, then
    * `sentinelRounds` far-future rows pushed through BOTH streams, one
    * micro-batch each — the first advances both watermarks past every
    * real position, the second flushes the unmatched left rows the
    * advanced watermark released (watermarks computed in batch N gate
    * emission in batch N+1).
    */
  def runStreamingZipLeft[A: TypeTag, B: TypeTag](
      spark: SparkSession, as: Seq[Elem[A]], bs: Seq[Elem[B]],
      maxSeq: Long, sentinelA: Long => Elem[A], sentinelB: Long => Elem[B],
      rounds: Int = 2, sentinelRounds: Int = 2): DataFrame =
    runProtocol(spark, OutputMode.Append()) { implicit sq =>
      implicit val encA: Encoder[Elem[A]] = Elem.enc[A]
      implicit val encB: Encoder[Elem[B]] = Elem.enc[B]
      val ia = MemoryStream[Elem[A]]
      val ib = MemoryStream[Elem[B]]
      val out = StreamPipes.zipSourcesStreamLeft(
        SStream(ia.toDS()), SStream(ib.toDS()), maxSeq).ds.toDF()
      (out, { query =>
        val ca = as.grouped(math.max(1, (as.size + rounds - 1) / rounds)).toSeq
        val cb = bs.grouped(math.max(1, (bs.size + rounds - 1) / rounds)).toSeq
        (0 until math.max(ca.size, cb.size)).foreach { i =>
          if (i < ca.size) ia.addData(ca(i))
          if (i < cb.size) ib.addData(cb(i))
          query.processAllAvailable()
        }
        // sentinel seqs step by two DAYS of µs per round, far past any
        // delayThreshold — each round is its own micro-batch
        (1 to sentinelRounds).foreach { k =>
          val sq = maxSeq + k * 172800000000L
          ia.addData(sentinelA(sq))
          ib.addData(sentinelB(sq))
          query.processAllAvailable()
        }
      })
    }

  /** Run `pipe` over the TRUE unbounded rate source
    * ([[graft.core.Sources.rateCounter]]) for a bounded wall-clock window
    * and return the first `n` positions of the output — the executable
    * form of the reference's infinite `repeatM`/`iterate` upstream
    * (`Combinators.hs:313-320`): the source genuinely never ends (offsets
    * grow with wall-clock, not with a driver-fed list), the query is
    * stopped from OUTSIDE once the bounded prefix has landed, and the
    * prefix is deterministic by seq so a batch oracle can hash-check it.
    *
    * The wait polls total processed input rows (rate values are emitted
    * in counter order, so `processed >= n` implies positions 0..n-1 have
    * all landed) with a hard deadline — a fail-loud bound, never an
    * unbounded spin.
    */
  def runRateStream[B: TypeTag](
      spark: SparkSession, pipe: Pipe[Long, B], n: Long,
      rowsPerSecond: Long = 50000,
      timeoutMs: Long = 60000): DataFrame =
    runProtocol(spark, OutputMode.Append()) { _ =>
      val src = graft.core.Sources.rateCounter(spark, rowsPerSecond)
      val out = pipe(src).ds.toDF().filter(org.apache.spark.sql.functions.col("seq") < n)
      (out, { query =>
        val deadline = System.nanoTime + timeoutMs * 1000000L
        // recentProgress is a bounded ring buffer (default 100 entries):
        // summing it directly undercounts once a slow rate drives >100
        // micro-batches. Fold entries into a batchId-keyed map every poll
        // (polls are far more frequent than batches) so the count stays
        // monotonic and complete.
        val seen = scala.collection.mutable.Map.empty[Long, Long]
        def processed: Long = {
          query.recentProgress.foreach(p => seen(p.batchId) = p.numInputRows)
          seen.values.sum
        }
        while (processed < n && System.nanoTime < deadline) {
          query.processAllAvailable()
          if (processed < n) Thread.sleep(20)
        }
        require(processed >= n,
          s"rate stream produced $processed/$n rows within ${timeoutMs}ms")
      })
    }

  /** The shared build-from-rows runner behind [[runStreamingAppend]] /
    * [[runStreamingComplete]]: one MemoryStream fed in fixed quanta
    * through an arbitrary DataFrame-level builder.
    */
  private def runBuilt[T <: Product : TypeTag](
      spark: SparkSession, mode: OutputMode, elems: Seq[T],
      build: Dataset[T] => DataFrame, quantum: Int,
      tail: Seq[T] = Nil): DataFrame =
    runProtocol(spark, mode) { implicit sq =>
      implicit val encT: Encoder[T] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[T]()
      val input = MemoryStream[T]
      val out = build(input.toDS())
      (out, { query =>
        elems.grouped(quantum).foreach { chunk =>
          input.addData(chunk)
          query.processAllAvailable()
        }
        // tail rows each get their OWN micro-batch: a watermark computed
        // at the end of batch N only gates emission during batch N+1, so
        // closing windows deterministically takes one batch to advance
        // the watermark and another to flush
        tail.foreach { t =>
          input.addData(t)
          query.processAllAvailable()
        }
      })
    }

  /** Run an arbitrary streaming plan end-to-end in Append output mode
    * (the [[runStreaming]] shape for DataFrame-level builders that are
    * not `Pipe`s — e.g. watermark-bounded dedup). `tail` rows are fed
    * one micro-batch each AFTER the main quanta — sentinel rows that
    * advance the watermark and then flush the windows it closed.
    */
  def runStreamingAppend[T <: Product : TypeTag](
      spark: SparkSession, elems: Seq[T],
      build: Dataset[T] => DataFrame, quantum: Int = 4096,
      tail: Seq[T] = Nil): DataFrame =
    runBuilt(spark, OutputMode.Append(), elems, build, quantum, tail)

  /** Run a TWO-INPUT streaming plan end-to-end in Append mode — the
    * runner for stream-stream EVENT-TIME joins built directly from two
    * typed row streams (watermarks + time-range condition are the
    * builder's responsibility). Both sides feed in `rounds` ordered
    * prefix chunks (cross-batch join state genuinely exercised), then
    * `tailA`/`tailB` sentinel rows each get their OWN micro-batch — the
    * watermark a batch computes only gates state eviction in the next,
    * so flushing deterministically needs the extra rounds.
    */
  def runStreamingJoin2[A <: Product : TypeTag, B <: Product : TypeTag](
      spark: SparkSession, as: Seq[A], bs: Seq[B],
      build: (Dataset[A], Dataset[B]) => DataFrame,
      rounds: Int = 2, tailA: Seq[A] = Nil, tailB: Seq[B] = Nil): DataFrame =
    runProtocol(spark, OutputMode.Append()) { implicit sq =>
      implicit val encA: Encoder[A] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[A]()
      implicit val encB: Encoder[B] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[B]()
      val ia = MemoryStream[A]
      val ib = MemoryStream[B]
      val out = build(ia.toDS(), ib.toDS())
      (out, { query =>
        val ca = as.grouped(math.max(1, (as.size + rounds - 1) / rounds)).toSeq
        val cb = bs.grouped(math.max(1, (bs.size + rounds - 1) / rounds)).toSeq
        (0 until math.max(ca.size, cb.size)).foreach { i =>
          if (i < ca.size) ia.addData(ca(i))
          if (i < cb.size) ib.addData(cb(i))
          query.processAllAvailable()
        }
        (0 until math.max(tailA.size, tailB.size)).foreach { i =>
          if (i < tailA.size) ia.addData(tailA(i))
          if (i < tailB.size) ib.addData(tailB(i))
          query.processAllAvailable()
        }
      })
    }

  /** Run a streaming AGGREGATION end-to-end in Complete output mode:
    * the memory sink's final snapshot equals the batch aggregation over
    * the same rows, so a batch oracle checks the streaming-executed
    * windowed agg directly (append mode would only show windows the
    * watermark has closed — a data-dependent subset).
    */
  def runStreamingComplete[T <: Product : TypeTag](
      spark: SparkSession, elems: Seq[T],
      build: Dataset[T] => DataFrame, quantum: Int = 4096): DataFrame =
    runBuilt(spark, OutputMode.Complete(), elems, build, quantum)

  /** Run a MemoryStream-fed query into a `foreachBatch` SINK — the
    * Structured Streaming pattern for maintenance side-effects that are
    * not row emission: each micro-batch invokes `body(batchDf, batchId)`
    * on the driver, and the body performs batch-API work (index append,
    * snapshot merge, versioned publish). No memory sink exists; the
    * query's product is whatever the body built. Quanta feed exactly
    * like [[runStreaming]], so each quantum is one genuine micro-batch.
    */
  def runForeachBatch[T <: Product : TypeTag](
      spark: SparkSession, elems: Seq[T], quantum: Int = 4096)(
      body: (DataFrame, Long) => Unit): Unit =
    // pass-through stream into a driver body: no state store exists, so
    // no provider override (the body's batch jobs read session confs)
    withConfs(spark, ShuffleKey -> StreamShufflePartitions) {
      implicit val sq: SQLContext = spark.sqlContext
      implicit val encT: Encoder[T] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[T]()
      val input = MemoryStream[T]
      val query = input.toDS().toDF().writeStream
        .foreachBatch((df: Dataset[Row], id: Long) => body(df.toDF(), id))
        .start()
      try elems.grouped(quantum).foreach { chunk =>
        input.addData(chunk)
        query.processAllAvailable()
      } finally query.stop()
    }

  /** Run a plan whose SOURCE is a real unbounded stream reader (file
    * discovery here; the same contract covers Kafka/rate readers) to the
    * memory sink — the production-ingestion twin of the MemoryStream
    * proofs: NO driver-fed rows anywhere. The reader discovers its input
    * itself, `maxFilesPerTrigger` on the reader decides the micro-batch
    * granularity, and one processAllAvailable drains every discovered
    * file as its own genuine micro-batch. Reference `sourceHandleLines`
    * (`Combinators.hs:245-257`) executed as an unbounded tailing source.
    * `mkOut` is by-name so the readStream plan is built inside the
    * scoped confs, like every other runner.
    */
  def runSourceStream(spark: SparkSession)(mkOut: => DataFrame): DataFrame =
    runProtocol(spark, OutputMode.Append()) { _ =>
      (mkOut, _.processAllAvailable())
    }

  /** [[runForeachBatch]] with a REAL stream reader as the source — the
    * production maintenance-ingest shape with no driver-fed rows: the
    * reader discovers arriving files itself (`maxFilesPerTrigger` sets
    * batch granularity), and each discovered batch invokes `body` for
    * batch-API side-effects (index append, versioned publish). The
    * query's product is whatever the body built.
    */
  def runSourceForeachBatch(spark: SparkSession)(mkSource: => DataFrame)(
      body: (DataFrame, Long) => Unit): Unit =
    // file-discovery stream into a driver body: stateless, no provider
    // override needed (see runForeachBatch)
    withConfs(spark, ShuffleKey -> StreamShufflePartitions) {
      val query = mkSource.writeStream
        .foreachBatch((df: Dataset[Row], id: Long) => body(df.toDF(), id))
        .start()
      try query.processAllAvailable() finally query.stop()
    }

  /** Run `build` over MemoryStream-fed rows into a REAL parquet file
    * sink with a checkpointLocation — the deployable sink shape: each
    * micro-batch's files are committed atomically to the sink's
    * `_spark_metadata` log, and offsets live in the checkpoint, so a
    * restarted query resumes instead of re-emitting (exactly-once
    * between source and sink). Returns the READ-BACK of the sink
    * directory: the oracle checks the files a downstream job would
    * actually consume, not an in-memory table. Sink + checkpoint are
    * a per-call [[Scratch.fresh]] dir, removed on JVM exit.
    */
  def runStreamingToParquetSink[T <: Product : TypeTag](
      spark: SparkSession, elems: Seq[T],
      build: Dataset[T] => DataFrame, quantum: Int = 4096): DataFrame =
    withConfs(spark, ShuffleKey -> StreamShufflePartitions) {
      implicit val sq: SQLContext = spark.sqlContext
      implicit val encT: Encoder[T] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[T]()
      val input = MemoryStream[T]
      val out = build(input.toDS())
      // provider from the plan, set before start (see needsRocks)
      val provider =
        if (needsRocks(out)) Seq(RocksKey -> RocksProvider) else Nil
      withConfs(spark, provider: _*) {
      val base = Scratch.fresh("psink_")
      val data = base.resolve("data")
      val ckpt = base.resolve("ckpt")
      val query = out.writeStream
        .format("parquet")
        .option("path", data.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Append())
        .start()
      try {
        elems.grouped(quantum).foreach { chunk =>
          input.addData(chunk)
          query.processAllAvailable()
        }
        lastStreamingPlan = capturedExplain(query)
      } finally query.stop()
      spark.read.parquet(data.toString)
      }
    }

  /** `query.explain()` prints to stdout; capture it (public API — avoids
    * reaching into StreamExecution internals for the executed plan).
    */
  private[graft] def capturedExplain(query: org.apache.spark.sql.streaming.StreamingQuery): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) { query.explain() }
    buf.toString("UTF-8")
  }
}
