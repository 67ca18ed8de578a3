package graft.operators

import org.apache.spark.sql._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Pipes

/** Columnar (DataFrame-level) stream operators — the Catalyst-optimized
  * mirror of the typed `graft.core` pipes, used by the harness queries.
  *
  * A stream is a DataFrame carrying a `seq: Long` ordinal (SURVEY.md §1.2).
  * Everything here is built from `org.apache.spark.sql.functions` and plain
  * DataFrame transformations so predicate pushdown, column pruning and
  * whole-stage codegen apply; the only non-Catalyst pieces are the two
  * driver-coordinated order schemes in [[RowExec]].
  */
object ColOps {

  /** Schema of the events table with ts surfaced as Long. Supplying the
    * schema explicitly skips inference, and the vectorized reader then
    * reads the INT64 values as-is — whatever unit the file stores, and
    * with no session-global `nanosAsLong` flag, so the session is
    * genuinely untouched (verified by ColOpsSpec: a read in a fresh
    * session leaves the conf unset and later reads keep working).
    */
  private val EventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Spark's footer schema of the parquet at `path`, inferred (one Spark
    * job) once per (path, mtime), so later reads pass it with `.schema`
    * and start no job. The key includes the file mtime: a long-lived JVM
    * that sees a fixture regenerated in place infers again instead of
    * reading the new drop with the old schema. None when inference
    * rejects the footer's types (Spark 4 refuses TIMESTAMP(NANOS)).
    */
  private val footerSchemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Option[StructType]]
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val mtime =
      try java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(path)).toMillis
      catch { case _: Throwable => 0L }
    footerSchemas.computeIfAbsent((path, mtime), { _ =>
      try Some(spark.read.parquet(path).schema)
      catch {
        // ONLY the schema-inference rejection is memoized as None.
        // Anything else — transient IO, OOM — must propagate so
        // computeIfAbsent does NOT memoize it for this mtime (for events
        // a wrong unit would skew every ts 1000x).
        case _: org.apache.spark.sql.AnalysisException => None
        case e: Throwable
            if Option(e.getMessage).exists(m =>
              m.toLowerCase.contains("unsupported") ||
              m.toLowerCase.contains("illegal parquet type")) =>
          None
      }
    })
  }

  /** The engine-wide contract is `ts` in NANOseconds-as-Long; the
    * harness has shipped the column both as TIMESTAMP(NANOS) and as
    * TIMESTAMP(MICROS) across data drops, so the unit is sniffed from
    * the footer schema — Spark 4's schema inference accepts µs (plain
    * timestamp type) and rejects ns, which is exactly the distinction
    * needed — and µs values are rescaled ×1000 on read. The rescale is
    * lossless both ways: every consumer truncates to µs (`ts div 1000`),
    * so ns-file and µs-file runs produce identical results.
    */
  private def readEvents(spark: SparkSession, path: String): DataFrame = {
    val isMicros = footerSchema(spark, path).exists(_("ts").dataType match {
      case TimestampType | TimestampNTZType => true
      case _ => false // already integer-typed: raw ns
    })
    val raw = spark.read.schema(EventsSchema).parquet(path)
    if (isMicros) raw.withColumn("ts", col("ts") * 1000L) else raw
  }

  /** Read a harness table (events gets the explicit nanos-as-long
    * schema; the others their memoized footer schema).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") readEvents(spark, path)
    else footerSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path) // surfaces the rejection itself
    }
  }

  /** sourceList over a keyed table (reference `Combinators.hs:175-177`):
    * seq from an existing unique key expression — zero shuffle.
    */
  def withSeq(df: DataFrame, keyExpr: Column): DataFrame =
    df.withColumn("seq", keyExpr.cast(LongType))

  /** map (reference `Combinators.hs:324-326`): projection, keeping seq. */
  def mapC(df: DataFrame)(cols: Column*): DataFrame =
    df.select(col("seq") +: cols: _*)

  /** concatMap/concat (reference `Combinators.hs:451-462`): ordered
    * flatten. Sub-ordinals pack into the low `subBits` of seq (same scheme
    * as `Pipes.concatMap`); fan-out beyond 2^subBits fails fast in-plan
    * via raise_error, parent seqs beyond the packable range likewise.
    */
  def explodeOrdered(df: DataFrame, arr: Column, outName: String,
                     subBits: Int = Pipes.SubSeqBits): DataFrame = {
    val maxFan = 1L << subBits
    val maxSeq = 1L << (62 - subBits)
    df.select(col("seq"), posexplode(arr).as(Seq("__pos", outName)))
      .select(
        when(col("__pos") >= maxFan,
             raise_error(lit(s"explodeOrdered: >2^$subBits outputs for one input")))
          .when(col("seq") < 0 || col("seq") >= maxSeq,
             raise_error(lit(s"explodeOrdered: seq out of packable range")))
          .otherwise(shiftleft(col("seq"), subBits).bitwiseOR(col("__pos")))
          .cast(LongType).as("seq"),
        col(outName))
  }

  /** take (reference `Combinators.hs:423-426`): cut-filter plan — the
    * n-th seq found over the narrow seq column, broadcast into a filter.
    */
  def takeN(df: DataFrame, n: Long): DataFrame =
    df.crossJoin(broadcast(Pipes.nthSeqCut(df, n)))
      .where(col("seq") <= col("cut")).drop("cut")

  /** drop (reference `Combinators.hs:528-530`) as the suffix it leaves. */
  def dropN(df: DataFrame, n: Long): DataFrame =
    df.crossJoin(broadcast(Pipes.nthSeqCut(df, n)))
      .where(col("seq") > col("cut")).drop("cut")

  /** takeWhile (reference `Combinators.hs:432-440`): pass while `keep`
    * holds; first failing element is consumed, not passed.
    */
  def takeWhileC(df: DataFrame, keep: Column): DataFrame = {
    val cut = df.filter(!keep)
      .agg(coalesce(min(col("seq")), lit(Long.MaxValue)).as("cut"))
    df.crossJoin(broadcast(cut)).where(col("seq") < col("cut")).drop("cut")
  }

  /** dropWhile (reference `Combinators.hs:537-547`): the suffix strictly
    * after the first element where `keep` fails — the reference CONSUMES
    * that first failing element (`pure ()` after awaiting it), so it is
    * not part of the remainder.
    */
  def dropWhileC(df: DataFrame, keep: Column): DataFrame = {
    val cut = df.filter(!keep)
      .agg(coalesce(min(col("seq")), lit(Long.MaxValue)).as("cut"))
    df.crossJoin(broadcast(cut)).where(col("seq") > col("cut")).drop("cut")
  }

  /** head (reference `src/Data/Conduino.hs:115-117`). */
  def headDf(df: DataFrame): DataFrame = df.orderBy(col("seq")).limit(1)

  /** last (reference `Combinators.hs:558-564`): per-partition top-1 then
    * driver merge (TakeOrderedAndProject on 1 row — no global sort).
    */
  def lastDf(df: DataFrame): DataFrame = df.orderBy(col("seq").desc).limit(1)

  /** ZipSource `<|>` (reference `src/Data/Conduino.hs:491-533`): exhaust
    * left then right — UNION ALL, right ordinals shifted past the left
    * maximum by a lazy broadcast 1-row aggregate.
    */
  def concatStreams(a: DataFrame, b: DataFrame): DataFrame = {
    val off = a.agg((coalesce(max(col("seq")), lit(-1L)) + 1L).as("__off"))
    a.unionByName(
      b.crossJoin(broadcast(off))
        .withColumn("seq", col("seq") + col("__off")).drop("__off"))
  }

  /** Band (range) join: pairs with |valueL − valueR| ≤ tol, executed as
    * a BINNED equi-join — Catalyst plans a bare inequality join as a
    * nested-loop product, which is O(n²) at any scale. Bin width is
    * 2·tol: the left side explodes to its bin ±1 (every true pair is
    * within half a bin of a shared boundary, so the ±1 neighborhood
    * covers it with half-a-bin of slack against float edge rounding),
    * the equi-join runs on the bin key, and the exact |Δ| ≤ tol filter
    * decides membership. Each true pair is produced EXACTLY once (its
    * bin offset is fixed), so no distinct pass is needed. Cost is
    * O(n·occupancy), one shuffle on the bin key.
    *
    * Value column names must differ between the sides (rename before
    * calling); other column names must be disjoint too (equi-join output
    * carries both sides' columns).
    */
  def bandJoin(left: DataFrame, right: DataFrame, lv: String, rv: String,
               tol: Double): DataFrame = {
    require(tol > 0, "bandJoin: tol must be positive")
    require(lv != rv,
      s"bandJoin: value columns must differ between sides (both '$lv') — rename one")
    // the documented contract, enforced: an overlap would be an
    // ambiguous-column AnalysisException (or worse, a silent
    // self-comparison) downstream of the equi-join
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"bandJoin: column names must be disjoint between sides; overlapping: ${overlap.mkString(", ")}")
    require(!(left.columns ++ right.columns).exists(c => c == "__bin" || c == "__lbin"),
      "bandJoin: inputs must not carry __bin/__lbin columns (internal names)")
    val w = 2 * tol
    val lb = left
      .withColumn("__lbin", floor(col(lv) / w).cast(LongType))
      .withColumn("__bin", explode(array(col("__lbin") - 1, col("__lbin"), col("__lbin") + 1)))
      .drop("__lbin")
    val rb = right.withColumn("__bin", floor(col(rv) / w).cast(LongType))
    lb.join(rb, "__bin").where(abs(col(lv) - col(rv)) <= tol).drop("__bin")
  }

  /** Point-in-interval join (event ∈ [lo, hi]), optionally co-keyed —
    * the attribution/containment shape (`which events fall inside this
    * window`) that Catalyst would otherwise plan as a nested-loop
    * product. Same binning discipline as [[bandJoin]]: intervals
    * explode to the bins they cover, points carry their single bin,
    * the join runs on (keys..., bin) and the exact BETWEEN filter
    * decides membership. A point's bin is unique, so every true
    * (point, interval) pair is produced EXACTLY once — no distinct
    * pass. Cost O(points + intervals·span/binWidth), one shuffle on
    * (keys, bin); an interval spanning more than `maxBins` bins fails
    * fast IN-PLAN (raise_error), because unbounded spans silently
    * degrade to the cross product this operator exists to avoid.
    * Times must be non-negative (the fixture's epoch micros are; for
    * signed domains pre-shift — truncating div would misalign bins).
    *
    * `keys` are shared column names (equi-joined); all OTHER column
    * names must be disjoint between the sides.
    */
  def intervalJoin(points: DataFrame, intervals: DataFrame, pt: String,
                   lo: String, hi: String, binWidth: Long,
                   keys: Seq[String] = Nil, maxBins: Int = 1024): DataFrame = {
    require(binWidth > 0, "intervalJoin: binWidth must be positive")
    val overlap = points.columns.toSet.intersect(intervals.columns.toSet) -- keys
    require(overlap.isEmpty,
      s"intervalJoin: non-key columns must be disjoint; overlapping: ${overlap.mkString(", ")}")
    val loBin = expr(s"$lo div ${binWidth}L")
    val hiBin = expr(s"$hi div ${binWidth}L")
    val ib = intervals.withColumn("__bin",
      explode(
        when(col(hi) >= col(lo) && hiBin - loBin < maxBins,
          sequence(loBin, hiBin))
          .otherwise(raise_error(lit(
            s"intervalJoin: interval empty or spans > $maxBins bins")))))
    val pb = points.withColumn("__bin", expr(s"$pt div ${binWidth}L"))
    pb.join(ib, keys :+ "__bin")
      .where(col(pt) >= col(lo) && col(pt) <= col(hi))
      .drop("__bin")
  }

  /** Keep only rows whose `bucket` population is ≤ cap — the shared
    * viral-bucket guard of the dedup and embedding LSH candidate indexes
    * (the window count rides the same bucket shuffle the candidate join
    * needs anyway).
    */
  def capBuckets(df: DataFrame, cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))
    df.withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n") <= cap).drop("__n")
  }

  /** The oracle-side mirror of [[capBuckets]] (DuckDB QUALIFY fragment). */
  def capBucketsQualifySql(cap: Int): String =
    s"QUALIFY count(*) OVER (PARTITION BY bucket) <= $cap"

  /** Wide conditional aggregation (pivot): one output column per pivot
    * value, each the SUM of `valueExpr` over that slice — the
    * cross-tabulation shape (rows = group key, columns = category).
    *
    * Deliberately NOT `Dataset.pivot`: with a known value list, Spark's
    * pivot still plans TWO exchanges (a pre-aggregate keyed on (group,
    * category), then a `pivotfirst` aggregate keyed on group), and a
    * value-less `pivot(col)` additionally runs a distinct-values
    * discovery job — a whole extra scan at 100 TB. One `sum(when(cat =
    * v, x))` per category compiles to a SINGLE hash aggregate on the
    * group key: map-side partials for every cell, one shuffle of
    * `|groups| × |values|` cells, never a row explosion (ColOpsSpec
    * pins the one-exchange plan and checks equality against
    * `Dataset.pivot` as the semantic ground truth). Absent (group,
    * value) cells are NULL (sum over an empty slice), matching SQL's
    * `SUM(..) FILTER` convention, so cross-engine hash-compare holds
    * without a fill-zero pass.
    */
  def pivotSum(df: DataFrame, groupExpr: Column, groupName: String,
               pivotCol: String, values: Seq[String], valueExpr: Column): DataFrame = {
    val cells = values.map(v =>
      sum(when(col("__p") === v, col("__v"))).as(v))
    df.select(groupExpr.as(groupName), col(pivotCol).as("__p"), valueExpr.as("__v"))
      .groupBy(col(groupName)).agg(cells.head, cells.tail: _*)
  }

  /** DuckDB mirror of [[pivotSum]]: conditional aggregates, one
    * `SUM(..) FILTER` per pivot value.
    */
  def pivotSumSql(groupSql: String, groupName: String, pivotCol: String,
                  values: Seq[String], valueSql: String, from: String): String = {
    val cells = values.map { v =>
      s"""CAST(SUM($valueSql) FILTER (WHERE $pivotCol = '$v') AS BIGINT) AS "$v""""
    }.mkString(",\n          ")
    s"""SELECT $groupSql AS $groupName,
          $cells
          FROM $from GROUP BY 1"""
  }

  /** Skew-resistant equi-join (the salting pattern for hot keys at
    * 100 TB): the large/skewed left side gets a deterministic salt in
    * [0, salt), the small-side rows are replicated once per salt value,
    * and the join runs on (key, salt) — a hot key's rows spread over
    * `salt` tasks instead of one. Semantically identical to
    * `left.join(right, key)`; complements AQE's skew-join handling when
    * a single key exceeds what split-partitions can fix.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String, salt: Int): DataFrame = {
    require(salt >= 1)
    val sl = left.withColumn("__salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(salt)))
    val sr = right.withColumn("__salt", explode(
      array((0 until salt).map(lit(_)): _*)))
    sl.join(sr, Seq(key, "__salt"), "inner").drop("__salt")
  }

  /** Bloom geometry for [[bloomPrunedSemiJoin]]: 2^17 bits (16 KiB as
    * 2048 longs — trivially a plan literal), 3 probes. ~1% false
    * positives at 10⁴ keys, ~50% at 10⁵ — past that the prune decays
    * toward a no-op but NEVER changes results (the exact join runs
    * regardless), so oversizing the filter side costs performance only.
    */
  val JoinBloomBits = 1 << 17
  val JoinBloomK = 3

  /** Semi-join of a huge fact table against a filter-side key set that
    * is NOT guaranteed broadcast- or driver-sized, with a Bloom prune
    * below the exchange — the generic form of the decontamination
    * plan's prefilter ([[Dedup.contaminatedBy]]). The filter side's
    * keys build a fixed-geometry bit array DISTRIBUTIVELY (explode each
    * key into [[JoinBloomK]] bit positions, `bit_or` the 64-bit words —
    * the driver collects only the ≤2048-row word table, never keys), the
    * array is inlined as a plan literal, and the membership test runs
    * inside the fact scan's codegen stage — non-candidate rows never
    * reach the exchange, which at 100 TB is the difference between
    * shuffling the fact table and shuffling its matching sliver. The
    * exact semi-join then removes Bloom false positives, so results
    * equal `fact.join(keys, key, "left_semi")` always. Catalyst still
    * picks the join strategy (broadcast when the key side turns out
    * small, shuffled otherwise); the prune helps both. NULL fact keys
    * are dropped by the prune — the same rows a semi-join drops anyway.
    */
  def bloomPrunedSemiJoin(fact: DataFrame, keys: DataFrame,
                          key: String): DataFrame = {
    val w = JoinBloomBits / 64
    def pos(j: Int, c: Column): Column =
      pmod(xxhash64(c, lit(j)), lit(JoinBloomBits.toLong))
    def mask(p: Column): Column =
      call_function("shiftleft", lit(1L), p.bitwiseAND(lit(63L)).cast("int"))
    val keyOnly = keys.select(col(key)).where(col(key).isNotNull).distinct()
    val words = keyOnly
      .select(explode(array((0 until JoinBloomK).map(j =>
        pos(j, col(key))): _*)).as("__p"))
      .groupBy(shiftright(col("__p"), 6).cast("int").as("__w"))
      .agg(bit_or(mask(col("__p"))).as("__m"))
      .collect()
    val bits = new Array[Long](w)
    words.foreach(r => bits(r.getInt(0)) = r.getLong(1))
    val test = (0 until JoinBloomK).map { j =>
      val p = pos(j, col(key))
      element_at(col("__bloom"), shiftright(p, 6).cast("int") + 1)
        .bitwiseAND(mask(p)) =!= lit(0L)
    }.reduce(_ && _)
    fact.withColumn("__bloom", typedLit(bits.toSeq))
      .filter(test).drop("__bloom")
      .join(keyOnly, Seq(key), "left_semi")
  }

  /** zipSource (reference `src/Data/Conduino.hs:512-521`): positional
    * pairing — dense-rank both sides (two-phase ordinal, no global
    * window), inner equi-join on the rank; ends at the shorter side.
    * Right-side payload columns are renamed with `prefixB`.
    *
    * `assumeDense`: skip the two rank passes when the caller guarantees
    * both seq columns are already dense from 0 (e.g. derived from dense
    * surrogate keys) — the join then runs straight off the scans. The
    * guarantee is VERIFIED in-plan: a broadcast 1-row density check
    * (min=0 ∧ max=count-1) guards each side and `raise_error`s on the
    * first row if the keys turn out sparse — fail-loud, not silent
    * misalignment.
    */
  def zipBySeq(a: DataFrame, b: DataFrame, prefixB: String,
               assumeDense: Boolean = false): DataFrame = {
    val da = if (assumeDense) assertDenseSeq(a, "left") else RowExec.withDenseSeq(a, Seq(col("seq")))
    val db0 = if (assumeDense) assertDenseSeq(b, "right") else RowExec.withDenseSeq(b, Seq(col("seq")))
    val db = db0.columns.foldLeft(db0) { (d, c) =>
      if (c == "seq") d else d.withColumnRenamed(c, s"$prefixB$c")
    }.withColumnRenamed("seq", "__bseq")
    da.join(db, col("seq") === col("__bseq"), "inner").drop("__bseq")
  }

  /** As-of join (the trade↔quote / event↔state-at-time operator Spark
    * has no built-in for): for each left row, attach the LATEST right
    * row of the same `key` with `time` at or before the left row's —
    * deterministic under duplicate timestamps via the per-side tie
    * columns (latest right tie wins).
    *
    * Spark-first plan (preference (a) — composed from existing ops, no
    * custom SparkPlan): UNION the sides, ONE shuffle on `key`, one
    * within-partition sort on (time, side, tie), and a running
    * `last(ignoreNulls)` window with an explicit ROWS frame — the
    * merge-scan as-of. Scales as a single exchange + sort; never a
    * per-row lookup join, never a range cross-product. Right rows at the
    * SAME time as a left row are visible to it (side orders right
    * first) — the standard "at or before" convention.
    *
    * Requirements: both inputs share the `key`/`time`/`tie` column names
    * with identical types (`tie` holds each side's own row id and only
    * orders the window); every OTHER right column must have a name
    * disjoint from left's (rename before calling) — those are the
    * payload. Output = every left row + one `asof_<col>` column per
    * payload column (null when no right row precedes).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, time: String,
               tie: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // shared-by-contract: key/time/tie; any OTHER collision would be
    // silently merged by unionByName — fail loud instead
    val colliding = right.columns
      .filter(c => c != key && c != time && c != tie && left.columns.contains(c))
    require(colliding.isEmpty,
      s"asofJoin: right payload columns collide with left: ${colliding.mkString(", ")} — rename them")
    val payload = right.columns
      .filterNot(c => c == key || c == time || c == tie).toSeq
    require(payload.nonEmpty, "asofJoin: right side has no payload columns")
    // ONE struct of the whole payload is window-filled, so the attached
    // values always come from a single right row — per-column fills
    // would tear mixed rows when a payload field is null
    val r = right
      .withColumn("__asof_row", struct(payload.map(col): _*))
      .drop(payload: _*)
      .withColumn("__is_left", lit(0))
    val l = left.withColumn("__is_left", lit(1))
    val u = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col(time), col("__is_left"), col(tie))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = u.withColumn("__asof", last(col("__asof_row"), ignoreNulls = true).over(w))
    payload.foldLeft(filled) { (d, c) =>
      d.withColumn(s"asof_$c", col("__asof").getField(c))
    }
      .filter(col("__is_left") === 1)
      .drop("__is_left", "__asof_row", "__asof")
  }

  /** Latest-wins merge (upsert + tombstone delete) — snapshot
    * maintenance for a corpus table: `base ∪ updates`, keep each key's
    * highest-`version` row, then drop rows whose winning version is a
    * tombstone. The maintenance primitive behind refreshing a training
    * corpus in place (new crawls upsert, takedowns tombstone) without
    * rewriting unrelated rows' lineage.
    *
    * Versions must be unique per key (the caller's snapshot discipline;
    * ties would make "latest" order-dependent). Tombstones win like any
    * other version — a delete at version v hides all rows below v, and a
    * later upsert resurrects the key.
    *
    * Scale shape: ONE shuffle on the key; the per-key top-1 is a
    * row_number window that Spark executes as WindowGroupLimit (partial
    * top-1 BEFORE the exchange on every map side), so the shuffle
    * carries at most one candidate per key per mapper — never the full
    * update history. No global sort.
    */
  def mergeLatest(base: DataFrame, updates: DataFrame, key: String,
                  version: String, tombstone: Option[String] = None): DataFrame = {
    val all = base.unionByName(updates)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(version).desc)
    val latest = all.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
    tombstone.fold(latest)(t => latest.filter(!col(t)).drop(t))
  }

  /** SCD-2 validity intervals from a versioned changelog: each key's
    * rows become [version, next-version) intervals, the newest row open
    * (`valid_to` NULL, `is_current` true) — the other consumer of the
    * changelog [[mergeLatest]] snapshots: mergeLatest answers "what is
    * current", scd2 answers "what was true at version v" (time travel /
    * audit). One shuffle on the key; the `lead` window is PARTITIONED
    * per key and each partition's sort is bounded by that key's version
    * count — never a global sort.
    */
  def scd2(changes: DataFrame, key: String, version: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(version))
    changes
      .withColumn("valid_to", lead(col(version), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** k-anonymity audit: the quasi-identifier groups whose population is
    * below `k` — the privacy gate a pipeline runs before releasing an
    * extract keyed on demographic-ish attributes (a row in a group of
    * < k is re-identifiable by its quasi-identifiers alone). One hash
    * aggregate on the quasi-identifier tuple, map-side combined; output
    * is the at-risk tail only, ≤ |groups| rows regardless of input
    * size. Suppress/generalize policy for flagged groups is the
    * caller's decision — the audit is the part that has to scale.
    */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame =
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") < k)

  /** Per-group z-score outlier flags in EXACT integer arithmetic: rows
    * where |v − mean(v)| > k·stddev_pop(v) within their group, decided
    * without ever computing a float. The test is squared and multiplied
    * through by n² so both sides stay integral:
    *   (n·v − S)² > k²·(n·SS − S²)      [S = Σv, SS = Σv², per group]
    * with every term aggregated AND compared in DECIMAL(38,0) — the
    * binding constraint is S² < 10³⁸, i.e. n·|v|ₘₐₓ ≲ 10¹⁹ per group
    * (|v| ≲ 1e9 cents at n ≈ 1e9 rows/group holds comfortably; past it,
    * Spark's decimal overflow yields NULL → the row is silently
    * unflagged, so size the micro-scaling to the group cardinality). Plan: one hash aggregate to |groups| rows, broadcast back
    * onto a second scan — no window, no sort, two passes total (the
    * one-pass alternative buffers the group in memory, which is the
    * non-scalable shape). `v` must be integral (cents-style micro-scaled).
    */
  def zOutliers(df: DataFrame, groupCol: String, valueCol: String, k: Int): DataFrame = {
    val d = (c: Column) => c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    // the casts must sit INSIDE the sums: a LongType Σv² wraps silently
    // around 9.2e18 (non-ANSI), ~10 orders below the documented
    // envelope — summing DECIMAL(38,0) is what delivers it
    val stats = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("__n"), sum(d(col(valueCol))).as("__s"),
      sum(d(col(valueCol)) * d(col(valueCol))).as("__ss"))
    val lhs = d(col("__n")) * d(col(valueCol)) - col("__s")
    val rhs = lit(k.toLong * k) * (d(col("__n")) * col("__ss") - col("__s") * col("__s"))
    df.join(broadcast(stats), groupCol)
      .filter(lhs * lhs > rhs)
      .drop("__n", "__s", "__ss")
  }

  /** Exact equal-population quantile bins (deciles for bins = 10) over
    * the WHOLE table — without the global window that makes
    * `ntile(bins) OVER (ORDER BY v)` a single-partition sort at scale.
    * Distributed ordinal rank instead ([[graft.core.Ordinals]]: range
    * partition + in-partition sort + O(partitions) prefix sum), then
    * `bin = rank·bins div n` with the row count attached as a broadcast
    * 1-row aggregate. Ties broken by `id`, so binning is deterministic.
    * Returns one row per non-empty bin: (bin, n_rows, lo, hi).
    *
    * Oracle equivalent: `(row_number() OVER (ORDER BY v, id) - 1) *
    * bins // count(*)` — same floor arithmetic, engine-neutral.
    */
  def quantileBins(df: DataFrame, valueCol: String, idCol: String,
                   bins: Int): DataFrame = {
    require(bins > 0, "quantileBins: bins must be positive")
    val spark = df.sparkSession
    implicit val enc: Encoder[graft.core.Elem[(Long, Long)]] =
      graft.core.Elem.enc[(Long, Long)]
    import spark.implicits._
    val keyed = df.select(col(valueCol).cast("long").as("_1"),
        col(idCol).cast("long").as("_2"))
      .as[(Long, Long)]
    val ranked = graft.core.Ordinals
      .zipWithOrdinal(keyed, Seq(col("_1"), col("_2")))
      .toDF()
      .select(col("seq"), col("value._1").as("v"))
    val n = ranked.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .select(expr("seq * " + bins + " div __n").as("bin"), col("v"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"), min(col("v")).as("lo"), max(col("v")).as("hi"))
  }

  /** In-plan density assertion for [[zipBySeq]]'s `assumeDense` fast
    * path: crossJoin a broadcast 1-row boolean (cheap: the aggregate scans
    * only the seq column) and re-emit seq through a guard that raises on
    * the first row if seqs are not exactly 0..n-1.
    */
  private def assertDenseSeq(df: DataFrame, side: String): DataFrame = {
    // min=0 ∧ max=n-1 alone admits duplicate-plus-gap multisets like
    // {0,1,1,3}; distinctness closes that hole (the three together imply
    // exactly 0..n-1)
    val g = df.agg(
      (count(lit(1)) === 0L ||
        (min(col("seq")) === 0L && max(col("seq")) === count(lit(1)) - 1L &&
          countDistinct(col("seq")) === count(lit(1))))
        .as("__dense"))
    val cols = df.columns.map {
      case "seq" => when(col("__dense"), col("seq"))
        .otherwise(raise_error(
          lit(s"zipBySeq(assumeDense): $side seq column is not dense from 0")))
        .as("seq")
      case c => col(c)
    }
    df.crossJoin(broadcast(g)).select(scala.collection.immutable.ArraySeq.unsafeWrapArray(cols): _*)
  }
}
