package graft.operators

import org.apache.spark.sql._
import org.apache.spark.sql.functions._

/** Bucketed co-located joins — the pre-shuffle answer to the repeated
  * big-join at 100 TB: write both sides `bucketBy(n, key).sortBy(key)`
  * once, and every subsequent equi-join on the key plans with ZERO
  * Exchange (and zero Sort), because the on-disk bucket layout already
  * satisfies the join's required distribution. One write-time shuffle
  * amortized over every downstream join is the standard warehouse
  * layout for fact/dimension tables that join daily.
  *
  * The bucketed tables are staged once per JVM per data dir (external
  * parquet tables under [[graft.core.Scratch.root]], registered in the
  * session catalog); staging is fixture plumbing, the measured operator
  * is the join over the staged layout.
  */
object Bucketing {

  private val staged = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Self-written commit marker for [[stagedPartitioned]] layouts — the
    * `_` prefix keeps it invisible to Spark's file index. Written by us
    * after a successful job, so layout completeness never depends on
    * the committer's `_SUCCESS` setting.
    */
  private[operators] val commitSentinel = "_GRAFT_COMMIT"

  /** Per-table staging locks: a thread that loses the staged.add race
    * must BLOCK until the winner's write completes, not fall through to
    * a tableExists check that can observe an in-progress write.
    */
  private val stageLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** File- and catalog-safe name for (dir, base): the layout's directory
    * under the per-JVM [[graft.core.Scratch.root]] (so two concurrent
    * processes never race an overwrite of the same layout). `base` comes
    * first so it survives the truncated `Location` of a plan's scan.
    */
  private def layoutName(dir: String, base: String): String =
    s"${base}_" + dir.replaceAll("[^A-Za-z0-9_]", "_") +
      "_" + Integer.toHexString(dir.hashCode)

  /** Write `df` as a bucketed+sorted external parquet table (once per
    * JVM per dir) and return the catalog-backed DataFrame carrying the
    * bucket metadata (a path read would lose it — bucket info lives in
    * the catalog entry).
    */
  def stagedBucketed(spark: SparkSession, dir: String, base: String,
                     df: => DataFrame, key: String, nBuckets: Int): DataFrame = {
    val name = layoutName(dir, base)
    val tbl = s"graft_bkt_$name"
    stageLocks.computeIfAbsent(name, _ => new Object).synchronized {
      if (staged.add(name) || !spark.catalog.tableExists(tbl)) {
        val path = graft.core.Scratch.root.resolve(name)
        df.write.mode("overwrite").format("parquet")
          .bucketBy(nBuckets, key).sortBy(key)
          .option("path", path.toString).saveAsTable(tbl)
      }
    }
    spark.table(tbl)
  }

  /** [[stagedBucketed]]'s sibling for DIRECTORY elimination: write `df`
    * ONCE per JVM as a Hive-partitioned parquet layout
    * (`key=<value>/part-*.parquet`) under the scratch root and return
    * the path-backed read. An equality / IN / dynamic-partition-pruning
    * predicate on `key` then eliminates whole directories before any
    * file opens — the write-once / query-many serving layout (the
    * persisted IVF inverted file reads `nprobe/ncells` of its data this
    * way). Same per-JVM lock discipline as the bucketed staging.
    * Incremental adds: append with the same `partitionBy(key)` via
    * [[appendPartitioned]] — new rows land in their key's directory
    * without rewriting existing ones.
    */
  def stagedPartitioned(spark: SparkSession, dir: String, base: String,
                        df: => DataFrame, key: String): DataFrame = {
    val name = layoutName(dir, base)
    val path = graft.core.Scratch.root.resolve(name)
    stageLocks.computeIfAbsent(name, _ => new Object).synchronized {
      // completeness = a commit marker, NOT bare directory existence: a
      // write that died mid-job leaves a partial dir (e.g. only
      // _temporary/) which would otherwise poison every later call in
      // the JVM — stagedBucketed self-heals the same way via
      // catalog.tableExists, which a failed saveAsTable leaves false.
      // We write our OWN sentinel after a successful job rather than
      // relying on the committer's _SUCCESS: with
      // mapreduce.fileoutputcommitter.marksuccessfuljobs=false the
      // marker never appears, and depending on it would make every call
      // after the first rewrite the whole layout (discarding rows added
      // via appendPartitioned). _SUCCESS is still honored when present.
      if (staged.add(name) ||
          !(java.nio.file.Files.exists(path.resolve("_SUCCESS")) ||
            java.nio.file.Files.exists(path.resolve(commitSentinel)))) {
        df.write.mode("overwrite").partitionBy(key).parquet(path.toString)
        java.nio.file.Files.write(path.resolve(commitSentinel),
          Array.emptyByteArray)
      }
    }
    spark.read.parquet(path.toString)
  }

  /** Incremental add to a [[stagedPartitioned]] layout: appended rows
    * are routed to their partition directory; existing directories are
    * untouched (no rewrite, no read) — the arrival-batch maintenance
    * path of a persisted index.
    */
  def appendPartitioned(spark: SparkSession, path: String, df: DataFrame,
                        key: String): DataFrame = {
    df.write.mode("append").partitionBy(key).parquet(path)
    spark.read.parquet(path)
  }

  /** VERSIONED layout root — the serve-during-rebuild atomicity shape
    * of a maintained index: versions live in `base/v1, base/v2, …`; a
    * version is LIVE iff its commit sentinel (or `_SUCCESS`) exists.
    * Readers resolve the highest live version; a retrain builds
    * `v(max+1)` and writes the marker LAST — a serve that starts
    * mid-rebuild keeps reading the old version until the new one
    * commits — no reader locks, no torn reads (a dead writer leaves an
    * unmarked directory that readers ignore and later writers skip
    * past; writer-writer exclusion is [[writeVersion]]'s atomic
    * directory reservation).
    */
  def liveVersion(base: String): Option[(Int, String)] = {
    val b = java.nio.file.Paths.get(base)
    if (!java.nio.file.Files.isDirectory(b)) None
    else {
      import scala.jdk.CollectionConverters._
      // close the directory stream deterministically: a serving loop
      // resolves the live version per batch, and an fd-per-call leak
      // only reclaimed at GC would EMFILE a long-lived process
      val stream = java.nio.file.Files.list(b)
      val vs = try {
        stream.iterator().asScala
          .filter(p => p.getFileName.toString.matches("v[0-9]+"))
          .filter(p => java.nio.file.Files.exists(p.resolve(commitSentinel)) ||
            java.nio.file.Files.exists(p.resolve("_SUCCESS")))
          .map(p => (p.getFileName.toString.drop(1).toInt, p.toString))
          .toSeq
      } finally stream.close()
      if (vs.isEmpty) None else Some(vs.maxBy(_._1))
    }
  }

  /** Per-base writer locks for [[writeVersion]]: two same-JVM
    * maintainers (e.g. a drift-triggered retrain racing a manual
    * rebuild) serialize here instead of both paying a full index build
    * only for one to lose the directory reservation below.
    */
  private val versionLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Write `df` as the NEXT version of a [[liveVersion]] layout and
    * commit it; returns the new version's path (now the live one).
    *
    * Writer-writer exclusion: the version number is RESERVED by an
    * atomic `Files.createDirectory(base/vN)` in a retry loop — two
    * concurrent maintainers that both resolve next = live+1 cannot
    * both win the create; the loser retries at N+1 and writes a
    * distinct directory. The parquet write then uses append mode into
    * the reserved (empty) directory — overwrite would delete and
    * recreate it, reopening the very window the reservation closes.
    * The commit sentinel still lands LAST, so readers never observe a
    * partially-written version; a dead writer leaves an unmarked
    * reserved directory that [[liveVersion]] ignores and later writers
    * skip past.
    */
  def writeVersion(spark: SparkSession, base: String, df: DataFrame,
                   key: String): String =
    versionLocks.computeIfAbsent(base, _ => new Object).synchronized {
      val b = java.nio.file.Paths.get(base)
      java.nio.file.Files.createDirectories(b)
      // start above every EXISTING vN directory, committed or not — a
      // liveVersion-only scan would re-collide with a concurrent
      // writer's reserved-but-uncommitted directory on every retry
      def maxAnyVersion(): Int = {
        import scala.jdk.CollectionConverters._
        val stream = java.nio.file.Files.list(b)
        try stream.iterator().asScala.map(_.getFileName.toString)
          .filter(_.matches("v[0-9]+")).map(_.drop(1).toInt)
          .foldLeft(0)(math.max)
        finally stream.close()
      }
      var p: java.nio.file.Path = null
      var next = maxAnyVersion() + 1
      while (p == null) {
        val cand = b.resolve(s"v$next")
        try { java.nio.file.Files.createDirectory(cand); p = cand }
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          next = math.max(next + 1, maxAnyVersion() + 1)
        }
      }
      df.write.mode("append").partitionBy(key).parquet(p.toString)
      java.nio.file.Files.write(p.resolve(commitSentinel), Array.emptyByteArray)
      p.toString
    }

  /** Equi-join two same-bucket-count staged tables on their bucket key.
    * The merge hint keeps the planner on sort-merge (a broadcast would
    * trivially also avoid the shuffle but proves nothing about layout);
    * with matching bucket specs the executed plan has no Exchange and
    * no Sort — asserted by PlanSpec.
    */
  def bucketedJoin(left: DataFrame, right: DataFrame, key: String): DataFrame =
    left.hint("merge").join(right, key)
}
