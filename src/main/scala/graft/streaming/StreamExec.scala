package graft.streaming

import java.nio.file.Path

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql._
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Execute a streaming-capable pipe END-TO-END through Structured
  * Streaming and hand back the landed result as a DataFrame — the
  * proof-surface for the reference's incremental contract
  * (`feedPipe`/`squeezePipe`, `/root/reference/src/Data/Conduino.hs:229-296`)
  * under the driver's batch oracle: the same query text that checks the
  * batch `q_scan` checks the streaming `q_scan_stream`, because a pipe's
  * semantics must not depend on which engine path ran it.
  *
  * Mechanics: the input rows become [[MemoryStream]]s fed in fixed-size
  * chunks (each feed round = one micro-batch, so cross-batch state carry
  * in the `transformWithState` store is genuinely exercised — with the
  * default quantum a sf0.01 run takes 3 micro-batches, sf0.1 takes 25);
  * the [[StreamSink]] lands the output (memory table, parquet files with
  * a checkpoint, or a `foreachBatch` body) and its read-back is the
  * returned DataFrame. Every query, including an [[Incremental]] Feeder's,
  * starts in [[start]], so the state-store and partition policy has one
  * definition.
  *
  * Scale note: the driver-side feed is the correctness fixture's shape,
  * not the deployment shape — a production run replaces MemoryStream with
  * `spark.readStream` (Kafka/files) and the memory sink with a real sink,
  * and the pipe in between is unchanged. The single-key stateful ops
  * serialize by the reference's own ordered-stream contract; keyed
  * deployments shard first (see [[StreamPipes]] scaladoc).
  */
object StreamExec {

  /** Where a run lands its output. */
  sealed trait StreamSink
  object StreamSink {
    /** An in-memory table; the run returns it. */
    case object Memory extends StreamSink

    /** The deployable sink shape: parquet files under `base/data`, each
      * micro-batch committed atomically to the sink's `_spark_metadata`
      * log, offsets and state under `base/ckpt` — a later run on the same
      * base resumes from the checkpoint instead of re-emitting. The run
      * returns the read-back of the files, what a downstream job consumes.
      */
    final case class Parquet(base: Path) extends StreamSink {
      def data: Path = base.resolve("data")
      def ckpt: Path = base.resolve("ckpt")
    }

    /** Maintenance side-effects that are not row emission: each
      * micro-batch invokes `body(batchDf, batchId)` on the driver, which
      * does batch-API work (index append, snapshot merge, versioned
      * publish). The query's product is whatever the body built; the run
      * returns an empty DataFrame.
      */
    final case class ForeachBatch(body: (DataFrame, Long) => Unit) extends StreamSink
  }

  private val nameCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The previous run's memory-sink table, dropped when the NEXT
    * memory-sink run starts: callers consume each result before building
    * the next query (Verify writes, Bench counts), so at most one finished
    * sink stays registered — repeated runs can't accumulate full result
    * copies in driver memory.
    */
  @volatile private var lastSinkTable: Option[String] = None

  /** Physical plan of the last micro-batch of the most recent run — lets
    * specs assert the stateful operator (TransformWithStateExec /
    * StateStore) actually executed, which a batch read of the sink cannot
    * show.
    */
  @volatile private[graft] var lastStreamingPlan: String = ""

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private[graft] val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The state-store provider a query starts with, read from its plan;
    * `None` keeps Spark's default. RocksDB is REQUIRED by
    * `transformWithState` and nothing else in this library's streaming
    * surface. The other stateful shapes (stream-stream joins, watermarked
    * aggregations/dedup) run on the default HDFS-backed provider, whose
    * per-batch commit for the near-empty per-partition stores these proof
    * queries carry is one tiny delta file per store — where RocksDB pays a
    * flush + changelog + maintenance round per store instance per batch (a
    * stream-stream join commits FOUR stores per partition). Measured in the
    * optimization round (interleaved A/B, min-of-reps): the TWS pipes keep
    * RocksDB and everything else stops paying for it. At production state
    * sizes the trade flips — large state wants RocksDB — which is why this
    * stays a per-plan decision, not a global conf. The logical CLASS is
    * matched, not nodeName text, so a node rename cannot silently flip
    * providers.
    */
  private[graft] def stateStoreProvider(out: DataFrame): Option[String] =
    out.queryExecution.logical.collectFirst { case p: TransformWithState => p }
      .map(_ => RocksProvider)

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

  /** The one place a streaming query starts: the plan's state-store
    * provider is scoped around `start()` (the query clones the session
    * confs there), and `out` is wired to `sink`. A memory sink is
    * registered as the table `name`. The partition count is the caller's
    * session value: [[run]] scopes it to [[StreamShufflePartitions]], an
    * [[Incremental]] Feeder keeps the session's.
    */
  private[streaming] def start(out: DataFrame, mode: OutputMode, sink: StreamSink,
                               name: String): StreamingQuery =
    withConfs(out.sparkSession, stateStoreProvider(out).map(ProviderKey -> _).toSeq: _*) {
      val w = out.writeStream.outputMode(mode)
      (sink match {
        case StreamSink.Memory => w.format("memory").queryName(name)
        case p: StreamSink.Parquet =>
          w.format("parquet").option("path", p.data.toString)
            .option("checkpointLocation", p.ckpt.toString)
        case StreamSink.ForeachBatch(body) =>
          w.foreachBatch((df: Dataset[Row], id: Long) => body(df.toDF(), id))
      }).start()
    }

  /** The start/feed/stop protocol behind every runner: drop the previous
    * memory table, build the plan, [[start]] it, record the memory table
    * BEFORE feeding (a run that throws mid-feed must still have its view
    * dropped by the next run), drive the feed callback `mk` returned,
    * capture the executed plan, stop the query, return the sink's
    * read-back. The partition count is scoped over the whole run, so a
    * `foreachBatch` body's batch jobs see it too. `mk` receives the
    * SQLContext the MemoryStream constructor needs.
    */
  private def run(spark: SparkSession, mode: OutputMode, sink: StreamSink)(
      mk: SQLContext => (DataFrame, StreamingQuery => Unit)): DataFrame = {
    val memory = sink == StreamSink.Memory
    if (memory) lastSinkTable.foreach(spark.catalog.dropTempView)
    withConfs(spark, ShuffleKey -> StreamShufflePartitions) {
      val (out, feed) = mk(spark.sqlContext)
      val name = if (memory) s"graft_stream_${nameCounter.incrementAndGet()}" else ""
      val query = start(out, mode, sink, name)
      if (memory) lastSinkTable = Some(name)
      try {
        feed(query)
        lastStreamingPlan = capturedExplain(query)
      } finally query.stop()
      sink match {
        case StreamSink.Memory => spark.table(name)
        case p: StreamSink.Parquet => spark.read.parquet(p.data.toString)
        case _: StreamSink.ForeachBatch => spark.emptyDataFrame
      }
    }
  }

  /** One MemoryStream and the chunks the feed loop pushes into it. An
    * empty chunk adds nothing: it pads a side with fewer chunks so that
    * later chunks (tails, sentinels) line up by round.
    */
  private final class Feed[T](stream: MemoryStream[T], chunks: Seq[Seq[T]]) {
    def rounds: Int = chunks.size
    def add(i: Int): Unit = chunks.lift(i).filter(_.nonEmpty).foreach(c => stream.addData(c))
  }

  /** The one feed loop: round i adds the i-th chunk of every stream that
    * still has one, then drains it as one micro-batch.
    */
  private def feedRounds(query: StreamingQuery, feeds: Feed[_]*): Unit =
    (0 until feeds.map(_.rounds).max).foreach { i =>
      feeds.foreach(_.add(i))
      query.processAllAvailable()
    }

  private def memoryStream[T <: Product : TypeTag](implicit sq: SQLContext): MemoryStream[T] = {
    implicit val enc: Encoder[T] = ExpressionEncoder[T]()
    MemoryStream[T]
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
      spark: SparkSession, pipe: graft.core.Pipe[Long, B], n: Long,
      rowsPerSecond: Long = 50000,
      timeoutMs: Long = 60000): DataFrame =
    run(spark, OutputMode.Append(), StreamSink.Memory) { _ =>
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
      tail: Seq[T], sink: StreamSink): DataFrame =
    run(spark, mode, sink) { implicit sq =>
      val input = memoryStream[T]
      // tail rows each get their OWN micro-batch: a watermark computed
      // at the end of batch N only gates emission during batch N+1, so
      // closing windows deterministically takes one batch to advance
      // the watermark and another to flush
      (build(input.toDS()), feedRounds(_,
        new Feed(input, elems.grouped(quantum).toSeq ++ tail.map(Seq(_)))))
    }

  /** Run a streaming plan end-to-end in Append output mode: `elems` fed
    * `quantum` rows per micro-batch through `build` — a `Pipe` over
    * `Elem` rows (`ds => pipe(SStream(ds)).ds.toDF()`) or any
    * DataFrame-level builder (e.g. watermark-bounded dedup). `tail` rows
    * are fed one micro-batch each AFTER the main quanta — sentinel rows
    * that advance the watermark and then flush the windows it closed.
    */
  def runStreamingAppend[T <: Product : TypeTag](
      spark: SparkSession, elems: Seq[T],
      build: Dataset[T] => DataFrame, quantum: Int = 4096,
      tail: Seq[T] = Nil, sink: StreamSink = StreamSink.Memory): DataFrame =
    runBuilt(spark, OutputMode.Append(), elems, build, quantum, tail, sink)

  /** Run a TWO-INPUT streaming plan end-to-end in Append mode — the
    * runner for stream-stream joins built directly from two typed row
    * streams: the positional zips ([[StreamPipes.zipSourcesStream]] and
    * its left-outer twin) and event-time joins (watermarks + time-range
    * condition are the builder's responsibility). Each side feeds in
    * `rounds` ordered prefix chunks of `ceil(n / rounds)` rows (sides
    * advance at different rates within a round, and cross-batch join
    * state is genuinely exercised), then `tailA`/`tailB` sentinel rows
    * each get their OWN micro-batch — the watermark a batch computes only
    * gates state eviction in the next, so flushing deterministically needs
    * the extra rounds.
    *
    * `rounds` bounds the micro-batch count, not the rows: a stream-stream
    * join batch costs ~4 s of dual state-store commits across the shuffle
    * partitions regardless of row count, so the batch count — two proves
    * cross-batch pairing — is the whole cost model.
    */
  def runStreamingJoin2[A <: Product : TypeTag, B <: Product : TypeTag](
      spark: SparkSession, as: Seq[A], bs: Seq[B],
      build: (Dataset[A], Dataset[B]) => DataFrame,
      rounds: Int = 2, tailA: Seq[A] = Nil, tailB: Seq[B] = Nil): DataFrame =
    run(spark, OutputMode.Append(), StreamSink.Memory) { implicit sq =>
      val ia = memoryStream[A]
      val ib = memoryStream[B]
      val ca = as.grouped(math.max(1, (as.size + rounds - 1) / rounds)).toSeq
      val cb = bs.grouped(math.max(1, (bs.size + rounds - 1) / rounds)).toSeq
      val n = math.max(ca.size, cb.size)
      (build(ia.toDS(), ib.toDS()), feedRounds(_,
        new Feed(ia, ca.padTo(n, Nil) ++ tailA.map(Seq(_))),
        new Feed(ib, cb.padTo(n, Nil) ++ tailB.map(Seq(_)))))
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
    runBuilt(spark, OutputMode.Complete(), elems, build, quantum, Nil, StreamSink.Memory)

  /** Run a plan whose SOURCE is a real unbounded stream reader (file
    * discovery here; the same contract covers Kafka/rate readers) into
    * `sink` — the production-ingestion twin of the MemoryStream proofs:
    * NO driver-fed rows anywhere. The reader discovers its input itself,
    * `maxFilesPerTrigger` on the reader decides the micro-batch
    * granularity, and one processAllAvailable drains every discovered
    * file as its own genuine micro-batch. Reference `sourceHandleLines`
    * (`Combinators.hs:245-257`) executed as an unbounded tailing source.
    * `mkOut` is by-name so the readStream plan is built inside the
    * scoped confs, like every other runner.
    */
  def runSourceStream(spark: SparkSession, sink: StreamSink = StreamSink.Memory)(
      mkOut: => DataFrame): DataFrame =
    run(spark, OutputMode.Append(), sink) { _ =>
      (mkOut, _.processAllAvailable())
    }

  /** `query.explain()` prints to stdout; capture it (public API — avoids
    * reaching into StreamExecution internals for the executed plan).
    */
  private[graft] def capturedExplain(query: StreamingQuery): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) { query.explain() }
    buf.toString("UTF-8")
  }
}
