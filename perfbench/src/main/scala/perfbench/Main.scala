package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** The benchmark's JVM side. One Spark session at local[cpus]; a single
  * driver thread runs a closed loop with one client: it builds a query
  * through `SparkEntry.queries`, evaluates its whole output (the noop
  * sink plus an all-column fingerprint, never count()), and only then
  * submits the next. Raw samples go to `<out>/result.json`; statistics
  * and the printed records are computed by run.py.
  *
  * Phases: session start, fixture staging, one untimed warm-up pass that
  * also dumps every query's output for the oracle check and fixes its
  * reference (rows, fingerprint), then whole timed passes, in an order
  * the seed permutes, until `seconds` have elapsed and at least
  * [[MinPasses]] ran. With tracing on, passes alternate untraced and
  * traced (so the run states its own tracing overhead), traced passes
  * record spans, and the corpus workload also costs its chain layer by
  * layer.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <cpus>
  *   <dataDir> <outDir> <query,query,...>
  */
object Main {
  /** Timed passes are whole; a run measures at least three, because
    * the JVM is still JIT-compiling through them and a per-pass figure
    * is the mean over several. A traced run measures untraced, traced,
    * untraced, so JIT warming over the run roughly cancels in the
    * overhead it states.
    */
  val MinPasses = 3
  /** The query whose layers the traced corpus run costs. */
  val ChainQuery = "q_corpus_build_warc"

  final case class Span(id: Int, parent: Int, name: String, op: Int, startMs: Double, endMs: Double)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch ms, monotonic within the run. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Write `df` with `write` while observing (rows, xor of row hashes,
    * sum of their high halves). Every output column feeds the hash, so
    * nothing can be pruned, and the triple is independent of partitioning
    * and row order. The timed sink is Spark's `noop` writer; the warm-up
    * writes parquet through the same plan, so it warms the timed code.
    */
  def fingerprinted(df: DataFrame)(write: DataFrame => Unit): (Long, Long, Long) = {
    val obs = new org.apache.spark.sql.Observation()
    val h = xxhash64(struct(df.columns.toIndexedSeq.map(c => col("`" + c.replace("`", "``") + "`")): _*))
    write(df.observe(obs, count(lit(1)).as("rows"), coalesce(bit_xor(h), lit(0L)).as("xor"),
      coalesce(sum(shiftright(h, 32)), lit(0L)).as("sum")))
    val m = obs.get
    (m("rows").asInstanceOf[Long], m("xor").asInstanceOf[Long], m("sum").asInstanceOf[Long])
  }

  def fingerprint(df: DataFrame): (Long, Long, Long) =
    fingerprinted(df)(_.write.format("noop").mode("overwrite").save())

  /** Cumulative hypervisor steal over all CPUs, seconds (USER_HZ = 100). */
  def stealS(): Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toDouble / 100.0)
      .getOrElse(Double.NaN)
    finally src.close()
  } catch { case NonFatal(_) => Double.NaN }

  def load1(): Double = try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
  } catch { case NonFatal(_) => Double.NaN }

  /** The JVM's peak resident set (VmHWM), MB. */
  def rssPeakMb(): Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  } catch { case NonFatal(_) => Double.NaN }

  /** Heap the process keeps live, MB: heap used right after a full
    * collection. Unlike the resident set it does not follow G1's heap
    * sizing, which expands the heap on GC time, not on live data.
    * Collections repeat until the heap stops shrinking: a collection
    * lets Spark's ContextCleaner see unreachable broadcasts and shuffles,
    * and the blocks it then drops are freed only by the next one.
    */
  def heapLiveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = collect()
    var rounds = 1
    var shrinking = true
    while (shrinking && rounds < 5) {
      Thread.sleep(100)
      val now = collect()
      shrinking = last - now > 0.5
      last = now; rounds += 1
    }
    last
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Process CPU time (all threads: driver, executors, GC, JIT), seconds. */
  def cpuS(): Double = osBean.getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, cpusS, data, out, queriesS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cpus = cpusS.toInt
    val queries = queriesS.split(",").toSeq
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // java.io.tmpdir holds Spark's local dir and the library's staged
    // fixtures; it must exist before the session starts.
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createDirectories(tmp)
    val steal0 = stealS()
    val load0 = load1()

    val tSession = nowMs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val ledger = new Ledger
    sc.addSparkListener(ledger)
    spark.streams.addListener(ledger.streaming)
    val sessionS = (nowMs() - tSession) / 1e3

    def hygiene(): Unit = {
      sc.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
    }

    // ---- fixture staging: the WARC archive of the traced corpus chain ----
    val tStage = nowMs()
    val shardsDir = tmp.resolve("perfbench_warc")
    val costChain = trace && workload == "corpus"
    if (costChain) CorpusChain.stageShards(spark, data, shardsDir)
    val stageS = (nowMs() - tStage) / 1e3

    // ---- warm-up pass: reference fingerprints, dump for the oracle ----
    // Each query is evaluated once, written out for the DuckDB check; the
    // (rows, fingerprint) observed while writing is the reference every
    // timed execution must reproduce.
    val tWarm = nowMs()
    val dumpDir = s"$out/dump"
    val reference = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val refPair = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    queries.foreach { q =>
      try {
        val t0 = nowMs()
        val fp = fingerprinted(SparkEntry.queries(q)(spark, data))(
          _.write.mode("overwrite").parquet(s"$dumpDir/$q"))
        refPair(q) = fp
        reference(q) = ListMap("rows" -> fp._1, "fp" -> s"${fp._2}:${fp._3}",
          "first_s" -> (nowMs() - t0) / 1e3)
      } catch { case NonFatal(e) =>
        reference(q) = ListMap("err" -> String.valueOf(e.getMessage).take(300))
        System.err.println(s"[perfbench] warm-up $q failed: $e")
      }
      hygiene()
    }
    json.writeValue(new java.io.File(s"$dumpDir/oracle_sql.json"),
      queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    val warmS = (nowMs() - tWarm) / 1e3
    BenchBus.drain(sc)

    // ---- timed passes ----
    val spans = ArrayBuffer.empty[Span]
    def span(parent: Int, name: String, op: Int, s: Double, e: Double): Int = {
      spans += Span(spans.size, parent, name, op, s, e); spans.size - 1
    }
    var opSeq = 0
    val rng = new scala.util.Random(seed)
    val firstPassMs = nowMs()
    val setupS = (firstPassMs - jvmStartMs) / 1e3
    val passes = ArrayBuffer.empty[Any]
    var passIdx = 0
    def elapsedS = (nowMs() - firstPassMs) / 1e3
    while (passIdx < MinPasses || elapsedS < seconds) {
      val traced = trace && passIdx % 2 == 1
      val order = rng.shuffle(queries)
      BenchBus.drain(sc)
      val pm0 = ledger.mark()
      val pSteal0 = stealS(); val pCpu0 = cpuS(); val pT0 = nowMs()
      val passSpan = if (traced) span(-1, "pass", -1, pT0, pT0) else -1
      val ops = order.map { q =>
        opSeq += 1
        val m0 = if (traced) { BenchBus.drain(sc); ledger.mark() } else null
        val t0 = nowMs()
        var t1 = t0
        val res: Either[String, (Long, Long, Long)] =
          try {
            val df = SparkEntry.queries(q)(spark, data)
            t1 = nowMs()
            Right(fingerprint(df))
          } catch { case NonFatal(e) => Left(String.valueOf(e.getMessage).take(300)) }
        val t2 = nowMs()
        val ok = res.toOption.exists(fp => refPair.get(q).contains(fp))
        val base = ListMap("q" -> q, "op" -> opSeq, "build_s" -> (t1 - t0) / 1e3,
          "sink_s" -> (t2 - t1) / 1e3, "wall_s" -> (t2 - t0) / 1e3, "ok" -> ok,
          "rows" -> res.toOption.map(_._1), "fp" -> res.toOption.map(f => s"${f._2}:${f._3}"),
          "err" -> res.left.toOption)
        val rec = if (!traced) base else {
          BenchBus.drain(sc)
          val m1 = ledger.mark()
          val opSpan = span(passSpan, "op", opSeq, t0, t2)
          val build = span(opSpan, "harness.build", opSeq, t0, t1)
          val sink = span(opSpan, "harness.sink", opSeq, t1, t2)
          def harnessParent(startMs: Double) = if (startMs < t1) build else sink
          // a job started inside a micro-batch belongs to that batch
          val batchSpans = ledger.batchesBetween(m0, m1).map { b =>
            val end = b.timestampMs + b.durationsMs.getOrElse("triggerExecution", 0L).toDouble
            (span(harnessParent(b.timestampMs), "streaming.batch", opSeq, b.timestampMs, end),
              b.timestampMs.toDouble, end)
          }
          ledger.jobsBetween(m0, m1).foreach { j =>
            val parent = batchSpans.collectFirst { case (id, s, e) if j.startMs >= s && j.startMs <= e => id }
              .getOrElse(harnessParent(j.startMs))
            span(parent, "spark.job", opSeq, j.startMs, if (j.endMs < 0) t2 else j.endMs)
          }
          base ++ ListMap("spark" -> ledger.window(m0, m1))
        }
        hygiene()
        (t2 - t0, rec)
      }
      val pT1 = nowMs()
      val pCpu1 = cpuS(); val pSteal1 = stealS()
      val heapLive = heapLiveMb()
      BenchBus.drain(sc)
      val pm1 = ledger.mark()
      if (traced) spans(passSpan) = spans(passSpan).copy(endMs = pT1)
      passes += ListMap("idx" -> passIdx, "traced" -> traced,
        "wall_s" -> (pT1 - pT0) / 1e3, "ops_wall_s" -> ops.map(_._1).sum / 1e3,
        "cpu_s" -> (pCpu1 - pCpu0), "steal_s" -> (pSteal1 - pSteal0), "heap_live_mb" -> heapLive,
        "spark" -> ledger.window(pm0, pm1),
        "batches" -> ledger.batchesBetween(pm0, pm1).map(b => ListMap("query" -> b.query,
          "batch" -> b.batchId, "durations_ms" -> b.durationsMs, "input_rows" -> b.inputRows,
          "state_rows" -> b.stateRows, "state_commit_ms" -> b.stateCommitMs,
          "state_mem_b" -> b.stateMemB)),
        "ops" -> ops.map(_._2))
      passIdx += 1
    }
    // ---- corpus chain, layer by layer (traced runs only) ----
    // Every prefix of the chain is evaluated from scratch under the same
    // sink; a layer's cost is the difference of successive prefixes. The
    // query itself runs beside them, untraced, as the figure the layers
    // must add up to. Even rounds run the prefixes forward then the
    // query, odd rounds the query then the prefixes backward: each pair
    // that is compared (successive prefixes; the full chain and the
    // query) runs side by side in every round, JIT warming over the
    // phase cancels, and the median of three rounds drops one outlier.
    val chainSteps = CorpusChain.Layers.indices.map(Some(_)).appended(None)
    val chainRuns = if (!costChain) Nil else
      for (round <- 0 until 3; step <- if (round % 2 == 0) chainSteps else chainSteps.reverse) yield {
        val layer = step.fold(ChainQuery)(CorpusChain.Layers(_))
        BenchBus.drain(sc)
        val m0 = ledger.mark()
        val t0 = nowMs()
        val fp = fingerprint(step.fold(SparkEntry.queries(ChainQuery)(spark, data))(
          CorpusChain.prefix(spark, shardsDir.toString, _)))
        val t1 = nowMs()
        BenchBus.drain(sc)
        val m1 = ledger.mark()
        if (step.isDefined) {
          opSeq += 1
          val sp = span(-1, s"corpus.$layer", opSeq, t0, t1)
          ledger.jobsBetween(m0, m1).foreach(j =>
            span(sp, "spark.job", opSeq, j.startMs, if (j.endMs < 0) t1 else j.endMs))
        }
        hygiene()
        ListMap("layer" -> layer, "round" -> round, "wall_s" -> (t1 - t0) / 1e3,
          "rows_out" -> fp._1, "fp" -> s"${fp._2}:${fp._3}",
          "spark" -> ledger.window(m0, m1))
      }

    val result = ListMap(
      "workload" -> workload, "queries" -> queries,
      "setup" -> ListMap("setup_s" -> setupS, "jvm_to_session_s" -> (tSession - jvmStartMs) / 1e3,
        "session_s" -> sessionS, "stage_s" -> stageS, "warmup_s" -> warmS),
      "reference" -> reference, "passes" -> passes,
      "chain" -> chainRuns,
      "spans" -> spans.map(s => ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "host" -> ListMap("steal_s" -> (stealS() - steal0), "load1_start" -> load0, "load1_end" -> load1()),
      "rss_peak_mb" -> rssPeakMb())
    spark.stop()
    json.writeValue(new java.io.File(s"$out/result.json"), result)
  }
}
