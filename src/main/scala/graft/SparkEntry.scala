package graft

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._
import graft.Fixtures._

/** Driver contract (SURVEY.md §7): one harness query per implemented
  * operator of SURVEY.md §2, each with an equivalent DuckDB oracle over
  * the same parquet tables.
  *
  * Conventions shared by the queries and their oracles:
  *  - the events stream: seq = event_id (dense, unique); `ival` = the
  *    event value in integer cents, CAST(FLOOR(value*100+0.5) AS BIGINT) —
  *    integer arithmetic so running sums/folds are exact and
  *    order-independent across engines (doubles are only ever COPIED,
  *    never re-aggregated, to keep hashes bit-stable);
  *  - every aggregate/computed column is aliased identically in the Spark
  *    plan and the SQL text (the driver hash-compares by column name).
  */
object SparkEntry {

  // ---------- shared stream builders ----------

  private def events(spark: SparkSession, dir: String): DataFrame =
    ColOps.withSeq(ColOps.table(spark, dir, "events"), col("event_id"))

  private[graft] def ivalCol: Column = floor(col("value") * 100 + 0.5).cast("long")

  private val IvalSql = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"

  /** The events table's closed category set (generator-fixed), shared by
    * the pivot query and its oracle.
    */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Shared by q_scan (batch) and q_scan_stream (Structured Streaming):
    * one oracle text, two engine paths — they must agree bit-for-bit.
    */
  private val ScanOracleSql =
    s"""SELECT event_id AS seq,
        CAST(SUM($IvalSql) OVER (ORDER BY event_id) AS BIGINT) AS run_sum FROM events"""

  /** Shared by q_map_accum (batch) and q_delta_stream (streaming). */
  private val MapAccumOracleSql =
    s"""SELECT event_id AS seq,
        $IvalSql - COALESCE(lag($IvalSql) OVER (ORDER BY event_id), 0) AS delta
        FROM events"""

  /** Position bound for q_zip_stream: stream-stream join state cost is
    * per row, and two micro-batch rounds already prove cross-batch
    * pairing — the bound keeps the bench on the operator. At sf0.01 and
    * below it is a no-op (events < 25k).
    */
  private val ZipStreamN = 25000

  /** Bounded prefix of the unbounded rate-source counter checked by
    * q_rate_stream: small because the source is real-time (the prefix
    * takes `RateStreamN / rowsPerSecond` wall-clock seconds to even
    * exist) and the thing under proof is the infinite upstream, not
    * throughput.
    */
  private val RateStreamN = 500L

  /** Token budget per training sequence and doc-id group size for the
    * packing queries (fixture-scale; both are plain parameters). The
    * greedy oracle replays the same first-fit fold as a recursive CTE —
    * recursion depth = PackGroup, the per-group doc count.
    */
  private[graft] val PackBudget = 256L
  private val PackGroup = 100L

  /** train/val/test cumulative per-mille cuts for q_split. */
  private val SplitCuts = Seq("train" -> 800, "val" -> 900, "test" -> 1000)

  /** Blocklist terms for q_blocklist (fixture-tuned: leaves ~1/5 of the
    * docs — non-trivial in both directions).
    */
  private val BlocklistTerms = Seq("slow", "dup")

  /** Position bound for q_interval_stream (same rationale as
    * [[ZipStreamN]]: stream-stream join state is per row; two rounds
    * already prove cross-batch pairing).
    */
  private val IntervalStreamN = 20000

  /** Shared prefix of both packing oracles: per doc, its whitespace
    * token count and group ordinal (`rn` ranks docs within a group for
    * the recursive-CTE walk).
    */
  private def packDocsSql: String =
    s"""d AS (
          SELECT doc_id, doc_id // $PackGroup AS grp,
                 len(string_split(text, ' '))::BIGINT AS tok,
                 row_number() OVER (PARTITION BY doc_id // $PackGroup
                                    ORDER BY doc_id) AS rn
          FROM documents)"""

  /** The greedy first-fit fold as a recursive CTE: all groups advance in
    * lockstep, one doc per iteration (join on rn = rn + 1).
    */
  private def packGreedySql: String =
    s"""WITH RECURSIVE $packDocsSql, r AS (
          SELECT doc_id, grp, tok, rn, 0::BIGINT AS bin, tok AS fill
          FROM d WHERE rn = 1
          UNION ALL
          SELECT d.doc_id, d.grp, d.tok, d.rn,
                 CASE WHEN r.fill + d.tok <= $PackBudget THEN r.bin ELSE r.bin + 1 END,
                 CASE WHEN r.fill + d.tok <= $PackBudget THEN r.fill + d.tok ELSE d.tok END
          FROM r JOIN d ON d.grp = r.grp AND d.rn = r.rn + 1)"""

  /** Shared by q_event_window (batch) and q_event_window_stream
    * (Complete-mode Structured Streaming — the final snapshot equals the
    * batch aggregation).
    */
  private val EventWindowOracleSql =
    s"""SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS w_start_s,
        CAST(SUM($IvalSql) AS BIGINT) AS total, COUNT(*) AS cnt
        FROM events GROUP BY 1"""

  /** Shared by q_event_sliding (batch) and q_event_sliding_stream
    * (Complete-mode Structured Streaming).
    */
  private val EventSlidingOracleSql =
    s"""SELECT (epoch_ns(ts) // 3600000000000 - u.j) * 3600 AS w_start_s,
        CAST(SUM($IvalSql) AS BIGINT) AS total, COUNT(*) AS cnt
        FROM events, (SELECT UNNEST([0, 1]) AS j) u
        GROUP BY 1"""

  /** Event bound for q_event_session_stream (same rationale as
    * [[ZipStreamN]]): session-store commit volume is per row per batch,
    * and the sentinel-closure proof needs batches, not rows — the bound
    * keeps the bench on the operator. No-op at sf0.01 and below.
    */
  private val SessionStreamN = 25000

  /** Shared by q_event_session (batch, no bound) and
    * q_event_session_stream (append-mode Structured Streaming,
    * sentinel-closed sessions, bounded to [[SessionStreamN]]) —
    * gaps-and-islands mirror of session_window (new session at gap ≥ 2h,
    * session end = last event + gap, half-open).
    */
  private def eventSessionOracleSql(where: String): String =
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS t, $IvalSql AS iv FROM events $where),
            m AS (SELECT user_id, t, iv,
                    CASE WHEN lag(t) OVER w IS NULL
                              OR t - lag(t) OVER w >= 7200000000000
                         THEN 1 ELSE 0 END AS new_s
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
            s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
                          ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        SELECT user_id, min(t) // 1000 AS s_start_us,
               max(t) // 1000 + 7200000000 AS s_end_us,
               CAST(SUM(iv) AS BIGINT) AS total, COUNT(*) AS cnt
        FROM s GROUP BY user_id, sid"""

  /** Shared by q_zip_with (batch positional join) and q_zip_stream
    * (stream-stream join on seq with watermark, bounded to ZipStreamN).
    */
  private val ZipWithOracleSql =
    s"""SELECT a.rn AS seq, a.iv + b.ov AS value
        FROM (SELECT row_number() OVER (ORDER BY event_id) - 1 AS rn, $IvalSql AS iv
              FROM events) a
        JOIN (SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS rn,
                     CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS ov
              FROM orders) b
        USING (rn)"""

  /** events as a typed stream of cents (for the typed sink operators). */
  private def centsStream(spark: SparkSession, dir: String): SStream[Long] = {
    implicit val enc: Encoder[Elem[Long]] = Elem.enc[Long]
    SStream(events(spark, dir).select(col("seq"), ivalCol.as("value")).as[Elem[Long]])
  }

  /** Events with the ns timestamp truncated to a µs `ts2` plus `ival` —
    * the shared prep of every event-time window query (the ns→µs
    * truncation is load-bearing for the DuckDB-oracle contract: DuckDB
    * reads the TIMESTAMP_NS parquet micro-truncated).
    */
  private def eventsWithTs(s: SparkSession, dir: String): DataFrame =
    ColOps.table(s, dir, "events")
      .withColumn("ts2", timestamp_micros(expr("ts div 1000")))
      .withColumn("ival", ivalCol)

  /** Quantum for the streaming-executed queries: 4 micro-batches at any
    * SF (state carry across batches is the thing under proof; per-batch
    * overhead is ~0.7 s of micro-batch planning + RocksDB commit, so a
    * row-count-proportional batch COUNT would make the bench measure
    * overhead, not the pipe).
    */
  /** Feed quantum for driver-fed streaming proofs: THREE micro-batches
    * — state must survive two batch boundaries (the minimal multi-batch
    * proof is two batches; three keeps a middle batch whose state is
    * both restored AND re-saved), while each extra batch costs a full
    * state-store commit cycle per partition. Four batches measured
    * ~25% more streaming floor for no added proof strength (the
    * split-INVARIANCE property is separately pinned by StreamingSpec
    * across several quantum choices).
    */
  private def streamQuantum(n: Int): Int = math.max(1, (n + 2) / 3)

  /** Per-bigram micro log-prob cutoffs swept by q_selection_curve —
    * bracketing the fixture's score distribution (p1 ≈ −3.50e6,
    * p99 ≈ −3.32e6) so the curve is genuinely monotone from
    * keep-everything through the quantile body to keep-nothing.
    */
  private val SelectionThresholds: Seq[Long] =
    Seq(-3550000L, -3455000L, -3420000L, -3404000L, -3385000L,
      -3349000L, -3300000L)

  /** Two-batch quantum for streaming queries whose state-machinery
    * SHAPE is already pinned at three batches by a canonical
    * representative (the round-9 floor diet; shape → pin table in
    * BASELINE.md): TWS value-state carry → q_scan_stream, keyed TWS →
    * q_funnel_stream, Complete-mode snapshot → q_event_sliding_stream,
    * stream-stream joins → q_zip_stream / q_zip_outer_stream /
    * q_interval_stream, watermark Append agg → q_event_window_stream,
    * session+sentinel → q_event_session_stream. Two batches still
    * execute a genuine multi-batch stream (state restored and re-saved
    * across a boundary; the stateless queries prove per-batch
    * processing); the three-batch middle-batch proof lives with the
    * shape's pin, and split-INVARIANCE is separately pinned by
    * StreamingSpec across several quantum choices.
    */
  private def streamQuantum2(n: Int): Int = math.max(1, (n + 1) / 2)

  /** STREAMING ANN serving (q_ann_stream): query vectors arrive
    * continuously, the indexed collection is static. Probe-cell ranking
    * runs per row against the nCells-bounded seed literal (the
    * ivfRanked window re-expressed as pure array ops — no state),
    * candidates come from a stream-static equi-join on cell, and ONE
    * Complete-mode top-k aggregate per query id finishes the serve (a
    * query's candidates all arrive in its own micro-batch; collect_list
    * state is per-query-candidate-sized — the feedPipe-bounded proof
    * contract; a production deployment would rank per micro-batch).
    * Candidate set, cosine, and the (cos DESC, vec_id) tie-break match
    * [[Similarity.ivfTopK]] exactly ⇒ shares q_embed_ivf's oracle.
    * `quantum` ≤ 0 → the default 2-batch feed; StreamingSpec re-runs at
    * quantum 1 and all-at-once to pin micro-batch-split invariance.
    */
  private[graft] def annStreamServe(s: SparkSession, dir: String,
                                    quantum: Int): DataFrame = {
    import s.implicits._
    val sig = graft.core.Materialize.checkpoint(
      Similarity.withNorm(Similarity.embeddings(s, dir)))
    // checkpointed: the stream-static join re-executes its static side
    // EVERY micro-batch — without this the full-collection assignment
    // (broadcast cross-join + argmax window) would run once per batch
    val cells = graft.core.Materialize.checkpoint(
      sig.join(Similarity.cellAssign(sig), "vec_id"))
    val seeds = sig.filter(col("vec_id") < Similarity.NumCells)
      .select(col("vec_id").as("sid"), col("emb"), col("nrm"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .toSeq
    val seedsLit = typedLit(seeds)
    val queries = sig.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("emb"))
      .as[(Long, Seq[Double])].collect().toSeq
    val out = graft.streaming.StreamExec.runStreamingComplete[(Long, Seq[Double])](
      s, queries,
      ds => {
        val q = ds.toDF("q_id", "q_emb")
          .select(col("q_id"), col("q_emb"),
            Similarity.norm(col("q_emb")).as("q_nrm"))
        // per-row probe ranking: (cos DESC, sid) over the seed
        // literal, top nProbe — the ivfRanked window as array ops.
        // sortKey maps cos to an ASCENDING key that preserves the
        // window's DESC NaN placement: both engines order NaN greatest
        // (FIRST under DESC), but negating a NaN leaves NaN (LAST under
        // ASC) — so NaN maps to -Infinity explicitly. The true cos
        // rides along untouched for the output.
        def sortKey(cos: Column): Column =
          when(isnan(cos), lit(Double.NegativeInfinity)).otherwise(cos * lit(-1.0d))
        val probes = q.select(col("q_id"), col("q_emb"), col("q_nrm"),
          explode(slice(transform(
            array_sort(transform(seedsLit, sd => struct(
              sortKey(Similarity.cosineFromNorms(col("q_emb"), sd.getField("_2"),
                col("q_nrm"), sd.getField("_3"))).as("key"),
              sd.getField("_1").as("sid")))),
            x => x.getField("sid")), 1, Similarity.NProbe)).as("cell"))
        val scored = probes.join(cells, Seq("cell"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            Similarity.cosineFromNorms(col("q_emb"), col("emb"),
              col("q_nrm"), col("nrm")).as("cos"))
        scored.groupBy(col("q_id"))
          .agg(slice(sort_array(collect_list(
            struct(sortKey(col("cos")).as("key"), col("vec_id"), col("cos")))),
            1, 3).as("top"))
      },
      quantum = if (quantum > 0) quantum else streamQuantum2(queries.size))
    out.select(col("q_id"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("q_id"), col("t.vec_id").as("vec_id"),
        col("t.cos").as("cos"),
        (col("p") + 1).cast("long").as("rnk"))
  }

  /** STREAMING index ingest (q_ann_ingest_stream) — the production dual
    * of [[annStreamServe]]: there the QUERIES streamed against a static
    * collection; here the COLLECTION streams. Arriving embeddings are
    * encoded per micro-batch against the index's ORIGINAL geometry
    * (Similarity.ivfPqIndexRowsWith — assignment must use the fixed
    * (seeds, codebook) pair, never batch-derived centroids) and appended
    * via foreachBatch + Bucketing.appendPartitioned into the PINNED
    * serving version of a versioned layout. Each batch also runs the
    * drift-gated maintenance loop (Similarity.maintainIvf, production
    * threshold) over the collection ingested SO FAR: a firing gate
    * publishes a refined retrain as the NEXT version of the maintenance
    * base, commit-marker-last — it never touches the pinned serving
    * version, which is exactly the version-pinning discipline a serving
    * replica uses during a rollout (upgrade between requests, never mid-
    * request; StreamingSpec pins the append/publish atomicity). The
    * final serve reads the pinned version: initial + appends ≡ full
    * rebuild, so the query shares the batch IVF-PQ oracle.
    *
    * Scale shape: per batch, encode cost is the BATCH (broadcast seeds +
    * codebook), append touches only the cell directories the batch
    * lands in, and the drift check scans the INDEX (emb/nrm live in the
    * maintenance layout), never re-embedding the corpus. The driver-fed
    * MemoryStream is the fixture contract (StreamExec scaladoc); a
    * deployment swaps in readStream and the body is unchanged.
    */
  private[graft] def annIngestStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sig = graft.core.Materialize.checkpoint(
      Similarity.withNorm(Similarity.embeddings(s, dir)))
    // the initial corpus covers every geometry-training id (coarse seeds
    // = vec_id < NumCells, PQ codewords = vec_id < PqK), so the
    // write-once build's geometry IS the full-set geometry — the
    // precondition for append ≡ rebuild ≡ the shared oracle
    val nInit = 100L
    val initial = graft.core.Materialize.checkpoint(
      sig.filter(col("vec_id") < nInit))
    val origSeeds = graft.core.Materialize.checkpoint(
      initial.filter(col("vec_id") < Similarity.NumCells)
        .select(col("vec_id").as("sid"), col("emb").as("s_emb"),
          col("nrm").as("s_nrm")))
    val origCb = graft.core.Materialize.checkpoint(Similarity.pqCodebook(initial))
    val pqBase = Scratch.fresh("ann_ingest_").toString
    val ivfBase = Scratch.fresh("ann_maint_").toString
    // v1 = the write-once serving build over the initial corpus; the
    // serve below PINS this version's path for the whole run
    Bucketing.writeVersion(s, pqBase,
      Similarity.ivfPqIndexRowsWith(initial, origSeeds, origCb), "cell")
    val servePath = Bucketing.liveVersion(pqBase).get._2
    // bootstrap the maintenance loop on the same initial corpus
    Similarity.maintainIvf(s, ivfBase, initial)
    val arriving = sig.filter(col("vec_id") >= nInit)
      .select(col("vec_id"), col("emb"), col("nrm"))
      .as[(Long, Seq[Double], Double)].collect().sortBy(_._1).toSeq
    var grown = initial
    // max(1, …): an embeddings table at or under nInit rows makes
    // arriving empty, and grouped(0) throws even on an empty Seq — the
    // no-op ingest must serve the initial-only index, not error
    graft.streaming.StreamExec.runForeachBatch(
      s, arriving, quantum = math.max(1, (arriving.size + 2) / 3)) { (batch, _) =>
      val b = batch.toDF("vec_id", "emb", "nrm")
      Bucketing.appendPartitioned(s, servePath,
        Similarity.ivfPqIndexRowsWith(b, origSeeds, origCb), "cell")
      // the maintenance loop sees exactly what the ingest has delivered
      // (lineage cut per merge — same discipline as UpsertSnapshot)
      grown = graft.core.Materialize.checkpoint(grown.unionByName(b))
      Similarity.maintainIvf(s, ivfBase, grown)
      ()
    }
    Similarity.ivfPqServe(s.read.parquet(servePath), sig, 20, 3)
  }

  /** Initial-slice cut for the quality-model maintenance stream: the
    * pinned serving model trains on the first THIRD of the corpus
    * (mirrored in the oracle as `doc_id < (MAX(doc_id)+1)//3`).
    */
  private[graft] def qualityInitCut(maxDocPlus1: Long): Long = maxDocPlus1 / 3

  /** Drift threshold for the harness run (ppm of docs whose pinned-
    * model prediction disagrees with the heuristic teacher). The
    * fixture's initial-slice model ends the run at ~112k ppm over the
    * full corpus, so 100k ppm — the maintainIvf production default —
    * fires at least once as the corpus ages past it; the
    * QualityModelSpec maintenance pins exercise the hold path and the
    * hair trigger explicitly (a hair trigger is a test device, not an
    * operating point — the IVF note).
    */
  private[graft] val QualityDriftThresholdPpm = 100000L

  /** STREAMING quality-model maintenance (q_quality_retrain_stream) —
    * the production "classifier ages with the crawl" loop, composing
    * [[QualityModel]] with the maintainIvf pattern: a model trained on
    * the initial corpus slice is PUBLISHED as v1 of a versioned model
    * layout and PINNED by the serving path for the whole run; arriving
    * doc batches (driver-fed foreachBatch — the StreamExec fixture
    * contract) each extend the ingested-so-far corpus and run the
    * drift-gated maintenance loop ([[QualityModel.maintainModel]]):
    * teacher-fidelity drift of the LIVE maintained model at or above
    * the threshold retrains on the corpus so far and publishes the
    * NEXT version, commit-marker-last — never touching the pinned
    * serving version (the rollout discipline: upgrade between
    * requests, never mid-request). Output: every doc scored by the
    * PINNED v1 model — the oracle trains on the initial slice in SQL
    * and serves the full corpus with it (QualityModel.serveOracleSql),
    * so the run proves the pin (any leakage of a retrained model into
    * the serving path breaks the hash).
    *
    * Scale shape: per batch one broadcast scoring pass over the
    * ingested corpus (the drift measure) and at most one fixed-round
    * retrain; the published artifact is [[QualityModel.NDims]] rows.
    */
  private[graft] def qualityRetrainStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.core.Materialize.checkpoint(
      ColOps.table(s, dir, "documents").select(col("doc_id"), col("text")))
    val nInit = qualityInitCut(docs.agg(max("doc_id")).head().getLong(0) + 1L)
    val initial = graft.core.Materialize.checkpoint(
      docs.filter(col("doc_id") < nInit))
    val base = Scratch.fresh("qmaint_").toString
    // v1 = the initial-slice model; the serve below pins THIS version
    QualityModel.maintainModel(s, base, initial, "doc_id", "text",
      QualityDriftThresholdPpm)
    val serveModel = QualityModel.modelFromPath(s,
      Bucketing.liveVersion(base).get._2)
    val arriving = docs.filter(col("doc_id") >= nInit)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    var seen = initial
    graft.streaming.StreamExec.runForeachBatch(
      s, arriving, quantum = math.max(1, (arriving.size + 1) / 2)) { (batch, _) =>
      val b = batch.toDF("doc_id", "text")
      seen = graft.core.Materialize.checkpoint(seen.unionByName(b))
      QualityModel.maintainModel(s, base, seen, "doc_id", "text",
        QualityDriftThresholdPpm)
      ()
    }
    QualityModel.scoreWith(docs, "doc_id", "text", serveModel)
  }

  /** STREAMING CDX ingest (q_cdx_ingest_stream) — the crawl-side dual
    * of [[annIngestStream]]: arriving `.warc.gz` shards append their
    * response records to a persisted, partitioned CDX layout through
    * the versioned machinery. Bootstrap: the index's v1 is built from
    * the already-crawled archive (shard-00) via Bucketing.writeVersion
    * and PINNED for the whole run; the stream is a REAL binaryFile
    * source (no driver-fed rows) discovering the later shards one per
    * micro-batch, each batch decoding map-only (gunzip → framing →
    * canonicalize) and appending ONLY the bucket directories its rows
    * land in (Bucketing.appendPartitioned — existing directories
    * untouched). Partition key = hash bucket of the canonical URL,
    * the lookup axis a CDX serves random access by. Final serve reads
    * the pinned version: bootstrap + appends ≡ full batch rebuild, so
    * the query shares q_cdx_index's oracle verbatim (the append ≡
    * rebuild proof), and StreamingSpec pins that appends never move
    * the live version.
    */
  private[graft] val CdxBuckets = 8

  private[graft] def cdxWithBucket(cdx: DataFrame): DataFrame =
    cdx.withColumn("cdx_bucket",
      pmod(hash(col("canonical")), lit(CdxBuckets)))

  private[graft] def cdxIngestStream(s: SparkSession, dir: String): DataFrame =
    cdxIngestStreamAt(s, dir, Scratch.fresh("cdx_ingest_").toString)

  /** [[cdxIngestStream]] against a caller-owned layout base — the form
    * StreamingSpec inspects (live-version stability, append ≡ rebuild).
    */
  private[graft] def cdxIngestStreamAt(s: SparkSession, dir: String,
      base: String): DataFrame = {
    val shards = stagedWarcShards(s, dir)
    // v1: the index over the archive crawled so far (shard-00)
    Bucketing.writeVersion(s, base,
      cdxWithBucket(Warc.cdxIndex(s.read.format("binaryFile")
        .option("pathGlobFilter", "shard-00.warc.gz")
        .load(shards.toString))), "cdx_bucket")
    val servePath = Bucketing.liveVersion(base).get._2
    // later shards arrive through a real file source, one per batch
    graft.streaming.StreamExec.runSourceForeachBatch(s) {
      s.readStream
        .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "shard-0[1-9].warc.gz")
        .format("binaryFile").load(shards.toString)
    } { (batch, _) =>
      Bucketing.appendPartitioned(s, servePath,
        cdxWithBucket(Warc.cdxIndex(batch)), "cdx_bucket")
      ()
    }
    s.read.parquet(servePath)
      .select(col("canonical"), col("shard"), col("pos"), col("record_id"))
  }

  /** STREAMING corpus build (q_corpus_build_stream) — the production
    * dual of q_corpus_build_warc: arriving `.warc.gz` shards flow
    * through the FULL front door (gunzip → framing → HTTP envelope →
    * extraction → quality gate) and INCREMENTAL exact dedup
    * (within-batch keep-min, then [[Dedup.newAgainstCorpus]] against
    * the layout so far), appending each batch's fresh survivors into
    * a hash-bucketed versioned layout; the serve reads the pinned
    * version and runs the tokenizer tail (BPE train → encode → pack)
    * over it.
    *
    * Append ≡ rebuild holds EXACTLY because the fixture's shards are
    * TIME-ORDERED id ranges (a crawl's segments arrive in crawl
    * order): a duplicate group's first arrival is its minimum doc_id,
    * so first-arrival-wins equals the batch dedup's keep-min — and the
    * whole query shares q_corpus_build_warc's oracle VERBATIM. The
    * tokenizer tail runs at serve time over the pinned layout (a real
    * pipeline re-tokenizes per tokenizer version; freezing the
    * bootstrap vocab would silently diverge from the batch build).
    * The curated-document layout, not the packs, is the incremental
    * asset — the same judgment the CDX and ANN ingests encode.
    */
  private[graft] val CorpusBuckets = 8

  private def corpusWithBucket(docs: DataFrame): DataFrame =
    docs.withColumn("corpus_bucket", pmod(hash(col("doc_id")), lit(CorpusBuckets)))

  private[graft] def corpusBuildStreamAt(s: SparkSession, dir: String,
      base: String): DataFrame = {
    val shards = stagedRangeWarcShards(s, dir)
    // extraction + quality gate + WITHIN-batch exact dedup: map-only
    // plus the batch-local aggregates; no cross-batch state here
    def curatedBatch(df: DataFrame): DataFrame = {
      val extracted = Warc.extract(df)
        .select(col("doc_id"),
          call_function("replace", col("extracted"), lit("\n"), lit(" "))
            .as("text"))
      // quality gate as an in-place filter (the corpusCanon discipline:
      // the keep decision is a per-row predicate, not a join)
      val kept = extracted.filter(TextOps.qualityKeep(col("text")))
      kept.join(Dedup.exact(kept, "doc_id", "text")
        .select(col("keep_id").as("doc_id")), "doc_id")
    }
    // v1: the corpus built from the segments crawled so far (shard-00)
    Bucketing.writeVersion(s, base,
      corpusWithBucket(curatedBatch(s.read.format("binaryFile")
        .option("pathGlobFilter", "shard-00.warc.gz")
        .load(shards.toString))), "corpus_bucket")
    val servePath = Bucketing.liveVersion(base).get._2
    // later segments arrive through a real file source, one per batch
    graft.streaming.StreamExec.runSourceForeachBatch(s) {
      s.readStream
        .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "shard-0[1-9].warc.gz")
        .format("binaryFile").load(shards.toString)
    } { (batch, _) =>
      val fresh = Dedup.newAgainstCorpus(curatedBatch(batch),
        s.read.parquet(servePath), "text")
      Bucketing.appendPartitioned(s, servePath,
        corpusWithBucket(fresh), "corpus_bucket")
      ()
    }
    // serve: tokenizer tail over the pinned version — bootstrap +
    // appends ≡ the batch corpusCanon set, so the pack output shares
    // the batch oracle
    packCorpus(s.read.parquet(servePath).select(col("doc_id"), col("text")))
  }

  /** Shared driver-side staging of the events stream as ordered
    * Elem(seq, ival) quanta — the input of both streaming-executed
    * queries (fixture-scale by design; see StreamExec scaladoc).
    */
  private def centsElems(s: SparkSession, dir: String): Seq[Elem[Long]] = {
    import s.implicits._
    events(s, dir).select(col("seq"), ivalCol.as("ival"))
      .as[(Long, Long)].collect().sortBy(_._1)
      .toSeq.map { case (sq, v) => Elem(sq, v) }
  }

  /** The two driver-staged dense position streams shared by the
    * stream-stream zip proofs (q_zip_stream inner, q_zip_outer_stream
    * left-outer): events cents at positions < n, orders cents re-ranked
    * to positions 0..n-1. Bounding happens BEFORE collect — the seq
    * filter pushes to the events scan, and the orders side stages only
    * its first n keys (TakeOrdered) — so the driver never holds
    * discarded rows.
    */
  private def zipSideElems(s: SparkSession, dir: String,
                           n: Int): (Seq[Elem[Long]], Seq[Elem[Long]]) = {
    import s.implicits._
    val ev = events(s, dir).select(col("seq"), ivalCol.as("ival"))
      .filter(col("seq") < n)
      .as[(Long, Long)].collect().sortBy(_._1)
      .toSeq.map { case (sq, v) => Elem(sq, v) }
    val ord = ColOps.table(s, dir, "orders")
      .select(col("o_orderkey"), floor(col("o_totalprice") * 100 + 0.5).cast("long"))
      .orderBy(col("o_orderkey")).limit(n)
      .as[(Long, Long)].collect().sortBy(_._1)
      .toSeq.zipWithIndex.map { case ((_, v), i) => Elem(i.toLong, v) }
    (ev, ord)
  }

  /** Raw character references appended VERBATIM (unencoded) to every
    * q_html_entities line: named Latin-1/punctuation forms, the
    * no-rescan pin (`&amp;#38;` must stay literal `&#38;`), a C1-remap
    * numeric, and the three U+FFFD classes. [[NcrBatteryDecoded]] is
    * the hand-written expected decode embedded in the oracle
    * (independence from the decoder under test; equality spec-pinned
    * in HtmlEntitiesSpec).
    */
  private[graft] val NcrBatteryRaw =
    " &eacute;&mdash;&hellip;&euro;&frac12;&copy; &amp;#38; &#150;&#0;&#x110000; end"
  private[graft] val NcrBatteryDecoded =
    " é—…€½© &#38; –�� end"

  /** The fitted quality model, once per JVM per corpus (the
    * persisted-index discipline: five quality queries CONSUME the
    * model; one training produces it — a rerun in a fresh JVM
    * re-trains, so a regenerated corpus can never serve a stale
    * model). `sanitized` trains on the one-line-per-doc staged text
    * (the streaming-serve convention) — but when ONE CHEAP SCAN shows
    * the corpus is newline-free, the sanitize projection is the
    * identity and the raw model IS the sanitized model, so the second
    * ~5 s fit is shared away (judge finding: q_quality_stream paid a
    * redundant training on a fixture with no newlines); a corpus that
    * does carry newlines still trains its own.
    */
  private val qualityModels =
    new java.util.concurrent.ConcurrentHashMap[String, QualityModel.Fitted]()
  private def qualityModelFor(s: SparkSession, dir: String,
      sanitized: Boolean = false): QualityModel.Fitted = {
    val key = s"$dir|$sanitized"
    val cached = qualityModels.get(key)
    if (cached != null) return cached
    val base = ColOps.table(s, dir, "documents")
    val fitted =
      if (sanitized) {
        val hasNewline =
          base.filter(col("text").contains("\n")).limit(1).count() > 0
        if (!hasNewline) qualityModelFor(s, dir)
        else QualityModel.fit(base.select(col("doc_id"),
          call_function("replace", col("text"), lit("\n"), lit(" ")).as("text")),
          "doc_id", "text")
      } else QualityModel.fit(base, "doc_id", "text")
    // putIfAbsent (not computeIfAbsent): the sanitized branch may
    // recurse into the raw key, and a recursive computeIfAbsent on the
    // same map is illegal; a benign race re-fits deterministically
    qualityModels.putIfAbsent(key, fitted)
    qualityModels.get(key)
  }

  /** The six-script labeled training corpus (decoded charset archive,
    * slot-language labels) the trained lang-ID fits on.
    */
  private def charsetLabeledCorpus(s: SparkSession, dir: String): DataFrame =
    Charsets.labeledCorpus(Warc.records(s.read.format("binaryFile")
      .load(stagedCharsetShards(s, dir).toString)))

  /** The fitted lang-ID model, once per JVM per corpus (the
    * qualityModelFor discipline: two queries consume it, one training
    * produces it).
    */
  private val langModels =
    new java.util.concurrent.ConcurrentHashMap[String, LangModel.Fitted]()
  private def langModelFor(s: SparkSession, dir: String): LangModel.Fitted =
    langModels.computeIfAbsent(dir,
      _ => LangModel.fit(charsetLabeledCorpus(s, dir), "doc_id", "text", "lang"))

  /** The corpus-build pipeline BELOW extraction (shared by the
    * pre-extracted-page and raw-archive flagships): quality gate →
    * exact dedup → BPE train → encode → fixed-width packing. Input:
    * (doc_id, text) with extraction's kept lines flattened to spaces.
    */
  /** The CURATED flagship over a warc-shard scan: frontier keep-first
    * (by record id per canonical target URI) BEFORE any page bytes are
    * parsed, then extraction and the full build tail. ONE definition
    * shared by the query and its scale probe so they can never drift.
    */
  private def curatedExtracted(shards: DataFrame): DataFrame = {
    val kept = Urls.frontierKeepFirst(
      Warc.records(shards).filter(col("warc_type") === "response"),
      "target_uri", "record_id")
    Html.extract(Warc.responsePages(kept), "doc_id", "html")
      .select(col("doc_id"),
        call_function("replace", col("extracted"), lit("\n"), lit(" "))
          .as("text"))
  }

  private[graft] def curatedCorpusBuild(shards: DataFrame): DataFrame =
    corpusBuildTail(curatedExtracted(shards))

  /** The curated flagship with the MinHash near-dup keep-best cut
    * spliced between the exact-dedup canon set and BPE training — the
    * order a production corpus build runs (template pages that differ
    * only in noise collapse to their token-richest copy BEFORE the
    * tokenizer learns merges from them).
    */
  private[graft] def curatedCorpusBuildNear(shards: DataFrame): DataFrame =
    corpusBuildTailNear(curatedExtracted(shards))

  /** The quality-gate + exact-dedup canon set shared by both corpus
    * builds — ONE definition so the two flagship chains cannot drift
    * (the Scala dual of the shared [[curatedPrefixCtes]] on the oracle
    * side). Checkpointed: both consumers re-scan it (BPE train +
    * encode; the near variant also feeds the cluster loop).
    */
  private def corpusCanon(extracted: DataFrame): DataFrame = {
    // the quality gate is a pure per-row predicate (TextOps.qualityKeep
    // — the same five rules qualityFilter plans), so it FILTERS the one
    // extraction pass in place; the previous self-join on the kept ids
    // re-ran the whole extraction chain for the id side and paid a
    // shuffle to reattach rows to themselves (optimization round:
    // 2 scans + 1 exchange → 1 scan, and the predicate pushes toward
    // the source)
    val kept = graft.core.Materialize.checkpoint(
      extracted.filter(TextOps.qualityKeep(col("text"))))
    graft.core.Materialize.checkpoint(kept.join(
      Dedup.exact(kept, "doc_id", "text").select(col("keep_id").as("doc_id")),
      "doc_id"))
  }

  private def packCorpus(docs: DataFrame): DataFrame =
    Packing.packTokenIds(
      TextOps.tokenizeIdArrays(docs, "doc_id", "text",
        TextOps.bpeRun(docs, "text", 6)._2), "doc_id", 128L)

  private[graft] def corpusBuildTail(extracted: DataFrame): DataFrame =
    packCorpus(corpusCanon(extracted))

  /** [[corpusBuildTail]] + the near-dup stage: exact dedup's canon set
    * is cut to each near-dup cluster's token-richest representative
    * (Dedup.keepBest — banded capped MinHash candidates, never
    * all-pairs) before BPE train / encode / pack. Checkpoint between
    * the cluster propagation loop and the BPE chain keeps the
    * iterative lineage out of the heavy tail's plan.
    */
  private[graft] def corpusBuildTailNear(extracted: DataFrame): DataFrame = {
    val canon = corpusCanon(extracted)
    val best = Dedup.keepBest(canon, "doc_id", "text")
      .select(col("best_doc").as("doc_id"))
    packCorpus(graft.core.Materialize.checkpoint(canon.join(best, "doc_id")))
  }

  private def oneRow(spark: SparkSession, names: Seq[String], values: Seq[Any]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(names.zip(values).map {
      case (n, _: Long)   => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.LongType)
      case (n, _: Double) => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DoubleType)
      case (n, _: String) => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)
      case (n, _: Seq[_]) => org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
      case (n, _) => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)
    })
    spark.createDataFrame(
      Seq(org.apache.spark.sql.Row.fromSeq(values)).asJava, schema)
  }

  // ---------- driver contract ----------

  /** Flagship (README.md:17-20): sourceList .| scan (+) 0 .| sinkList —
    * the running sum of event cents, distributed prefix-combine.
    */
  /** Flagship: the composed corpus pipeline (quality filter |> exact
    * dedup |> sequence packing) — the reference's `.|` chain as operator
    * composition; oracle-checked as q_pipeline.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_pipeline")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 sourceList — table scan with key-derived ordinals (zero shuffle)
    "q_source_list" -> ((s, dir) =>
      events(s, dir).select(col("seq"), col("value"))),

    // §2.3 map — columnar projection
    "q_map" -> ((s, dir) =>
      ColOps.mapC(events(s, dir))(
        (col("value") * 2).as("value_x2"), upper(col("event_type")).as("etype"))),

    // §2.3 filter
    "q_filter" -> ((s, dir) =>
      events(s, dir).filter(col("value") > 100 && col("event_type") === "click")
        .select(col("seq"), col("value"))),

    // §2.3 concatMap — ordered fan-out with packed sub-ordinals
    "q_concat_map" -> ((s, dir) =>
      ColOps.explodeOrdered(
        events(s, dir).select(col("seq"), ivalCol.as("ival")),
        array(col("ival"), col("ival") * 2), "v")),

    // §2.3 concat — flatten a stream of word lists (documents)
    "q_concat" -> ((s, dir) =>
      ColOps.explodeOrdered(
        ColOps.withSeq(ColOps.table(s, dir, "documents"), col("doc_id")),
        split(col("text"), " "), "word")),

    // §2.4 scan — distributed running sum (prefix-combine, no global window)
    "q_scan" -> ((s, dir) =>
      RowExec.runningSumLong(
        events(s, dir).select(col("seq"), ivalCol.as("ival")),
        col("ival"), "run_sum").select(col("seq"), col("run_sum"))),

    // §2.4 mapAccum — stateful delta encoding (boundary exchange, lookback 1)
    "q_map_accum" -> ((s, dir) => {
      val src = events(s, dir).select(col("seq"), ivalCol.as("ival"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("delta", org.apache.spark.sql.types.LongType)))
      RowExec.mapWithCarry(src, 1, schema) { (carry, it) =>
        var prev = carry.lastOption.map(_.getLong(1)).getOrElse(0L)
        it.map { r =>
          val v = r.getLong(1); val d = v - prev; prev = v
          org.apache.spark.sql.Row(r.getLong(0), d)
        }
      }
    }),

    // §2.8 feedPipe/squeezePipe executed FOR REAL through Structured
    // Streaming (reference `Data/Conduino.hs:229-296`): the same running
    // sum as q_scan, but fed through a MemoryStream in micro-batch quanta
    // and folded by transformWithState (StreamPipes.scanTws) with the
    // accumulator carried in the state store across batches. Hash-checked
    // against the SAME oracle as q_scan — the streaming path must agree
    // with the batch path bit-for-bit.
    "q_scan_stream" -> ((s, dir) => {
      val elems = centsElems(s, dir)
      graft.streaming.StreamExec.runStreaming(
        s, elems, graft.streaming.StreamPipes.scanTws(0L)((b: Long, a: Long) => b + a),
        quantum = streamQuantum(elems.size))
        .select(col("seq"), col("value").as("run_sum"))
    }),

    // §2.2 repeatM/iterate over a TRUE unbounded upstream (the u = Void
    // cell of the reference's type table, Combinators.hs:313-320): the
    // rate source's counter never ends; a map ∘ filter pipe runs over it
    // live, the query is stopped from outside once the first RateStreamN
    // positions have landed, and that prefix is hash-checked. Unlike the
    // q_*_stream proofs there is NO driver-fed input at all — offsets
    // grow with wall-clock.
    "q_rate_stream" -> ((s, _) =>
      graft.streaming.StreamExec.runRateStream(
        s,
        graft.core.Pipes.map[Long, Long](x => 2 * x + 1)
          |> graft.core.Pipes.filter[Long](_ % 3 != 0),
        RateStreamN)
        .select(col("seq"), col("value"))),

    // §2.8 + §2.4 mapAccum through Structured Streaming: delta encoding
    // with the previous value carried in transformWithState state.
    // Same oracle as q_map_accum.
    "q_delta_stream" -> ((s, dir) => {
      val elems = centsElems(s, dir)
      graft.streaming.StreamExec.runStreaming(
        s, elems, graft.streaming.StreamPipes.mapAccumTws(0L)(
          (a: Long, prev: Long) => (a, a - prev)),
        quantum = streamQuantum2(elems.size))
        .select(col("seq"), col("value").as("delta"))
    }),

    // the parquet FILE SINK executed end-to-end: the same stateful delta
    // pipe as q_delta_stream, but landing in a REAL parquet sink with a
    // checkpointLocation — per-micro-batch atomic file commits in the
    // sink's _spark_metadata log, offsets in the checkpoint — and the
    // query result is the READ-BACK of the sink files, i.e. exactly what
    // a downstream job would consume. Same oracle as q_map_accum: sink
    // choice must not change a pipe's semantics.
    "q_parquet_sink_stream" -> ((s, dir) => {
      val elems = centsElems(s, dir)
      graft.streaming.StreamExec.runStreamingToParquetSink[Elem[Long]](
        s, elems,
        ds => graft.streaming.StreamPipes.mapAccumTws(0L)(
            (a: Long, prev: Long) => (a, a - prev))
          .apply(graft.core.SStream(ds)).ds.toDF(),
        quantum = streamQuantum2(elems.size))
        .select(col("seq"), col("value").as("delta"))
    }),

    // §2.7 zipSource executed through Structured Streaming: the same
    // positional pairing as q_zip_with, but as a stream-stream inner
    // equi-join on seq (watermarked synthetic event time bounds the join
    // state) — sides fed at different rates per quantum round. Bounded to
    // the first ZipStreamN positions (mirrored in the oracle): the thing
    // under proof is the join's cross-batch execution, and state-store
    // insert cost is per-row, so the bound keeps the bench measuring the
    // operator, not fixture volume.
    "q_zip_stream" -> ((s, dir) => {
      val (ev, ord) = zipSideElems(s, dir, ZipStreamN)
      graft.streaming.StreamExec.runStreamingZip(s, ev, ord)
        .select(col("seq"), (col("value._1") + col("value._2")).as("value"))
    }),

    // stream-stream LEFT OUTER join — the strictest streaming join
    // proof: unmatched left positions (odd seqs — the right side feeds
    // evens only) must emit with NULL once BOTH watermarks prove no
    // match can arrive, which only sentinel-driven watermark advancement
    // can flush. Bounded to ZipStreamN like q_zip_stream.
    "q_zip_outer_stream" -> ((s, dir) => {
      val (ev, ord) = zipSideElems(s, dir, ZipStreamN)
      val ordEven = ord.filter(_.seq % 2 == 0)
      graft.streaming.StreamExec.runStreamingZipLeft(
          s, ev, ordEven, maxSeq = ZipStreamN,
          sentinelA = sq => Elem(sq, 0L), sentinelB = sq => Elem(sq, 0L))
        .select(col("seq"), col("value._1").as("iv"), col("value._2").as("ov"))
    }),

    // TPC-H Q3-shaped shipping priority: filtered dim (BUILDING
    // customers) BROADCAST onto orders, then the one genuinely big
    // shuffle — lineitem ⋈ orders on the order key — into a grouped
    // integer-cents revenue. The canonical warehouse join plan: every
    // dim rides a broadcast, the fact-fact join shuffles on the join
    // key (bucketing/bucketedJoin co-locates it at 100 TB), revenue is
    // per-row FLOOR-cents so the sum is order-free and engine-exact.
    "q_ship_priority" -> ((s, dir) => {
      val cut = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
      val cust = ColOps.table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      // the parquet dates are TIMESTAMP_NTZ; the UTC session makes the
      // cast to TIMESTAMP value-preserving (same micros as the oracle's
      // naive epoch_ns)
      val ord = ColOps.table(s, dir, "orders")
        .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
        .filter(col("o_orderdate") < lit(cut))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_orderpriority"))
      val li = ColOps.table(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("timestamp") > lit(cut))
        .select(col("l_orderkey"),
          expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
            .as("rev_c"))
      ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("rev_c")).as("revenue_c"))
        .select(col("o_orderkey"), unix_micros(col("o_orderdate")).as("odate_us"),
          col("o_orderpriority"), col("revenue_c"))
    }),

    // TPC-H Q1-shaped pricing summary: ONE scan, one ≤|flag×status|-key
    // hash aggregate with map-side partials — the canonical "wide
    // aggregate over the biggest table" plan. All money terms are
    // per-row FLOOR-cents (the float products are IEEE-exact given the
    // inputs; flooring BEFORE the sum keeps the aggregate order-free).
    "q_pricing_summary" -> ((s, dir) => {
      val cut = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
      ColOps.table(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("timestamp") <= lit(cut))
        .select(col("l_returnflag"), col("l_linestatus"),
          expr("CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)").as("qty_c"),
          expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)").as("price_c"),
          expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
            .as("disc_c"),
          expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT)")
            .as("charge_c"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("qty_c")).as("sum_qty_c"), sum(col("price_c")).as("sum_price_c"),
          sum(col("disc_c")).as("sum_disc_c"), sum(col("charge_c")).as("sum_charge_c"),
          count(lit(1)).as("n"))
    }),

    // TPC-H Q5-shaped regional revenue: the dim CHAIN region → nation →
    // customer collapses to one broadcast (5 → 25 → |customers| rows,
    // each step itself broadcast), so the only shuffles are the two
    // fact joins — orders tags with the nation via the broadcast,
    // lineitem ⋈ orders on the order key, then a 5-row aggregate.
    "q_region_revenue" -> ((s, dir) => {
      val dim = ColOps.table(s, dir, "region").filter(col("r_name") === "ASIA")
        .join(ColOps.table(s, dir, "nation"),
          col("r_regionkey") === col("n_regionkey"))
        .join(ColOps.table(s, dir, "customer"),
          col("n_nationkey") === col("c_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val ord = ColOps.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("n_name"))
      ColOps.table(s, dir, "lineitem")
        .select(col("l_orderkey"),
          expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
            .as("rev_c"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev_c")).as("revenue_c"), count(lit(1)).as("n_items"))
    }),

    // TPC-H Q4-shaped priority check: the EXISTS subquery is a LEFT SEMI
    // join — lineitem pruned to the join key + pushed returnflag filter
    // BEFORE the shuffle, so the semi side ships one bigint per matching
    // row and short-circuits per key. Never rewrite EXISTS as
    // join+distinct (that pays a dedup shuffle the semi join avoids).
    "q_order_priority" -> ((s, dir) => {
      val lo = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
      val ord = ColOps.table(s, dir, "orders")
        .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
        .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
        .select(col("o_orderkey"), col("o_orderpriority"))
      val ret = ColOps.table(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      ord.join(ret, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    }),

    // TPC-H Q10-shaped returned-revenue ranking: fact join shuffles on
    // the order key, aggregates to ≤|customers| rows BEFORE touching the
    // customer dim (broadcast nation rides along), and the global top-20
    // is TakeOrderedAndProject — per-partition partial top-k, never a
    // global sort. custkey tiebreak keeps LIMIT deterministic under ties.
    "q_top_customers" -> ((s, dir) => {
      val li = ColOps.table(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
            .as("rev_c"))
      val ord = ColOps.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val rev = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey")).agg(sum(col("rev_c")).as("revenue_c"))
      val cust = ColOps.table(s, dir, "customer")
        .join(broadcast(ColOps.table(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"))
      rev.join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"), col("revenue_c"))
        .orderBy(col("revenue_c").desc, col("c_custkey")).limit(20)
    }),

    // Anti-join dead-stock rollup: parts with NO shipment after the cut.
    // NOT EXISTS is a LEFT ANTI join on the part key — the probe side is
    // the pruned (key-only, date-filtered) lineitem, and the survivors
    // aggregate per brand. The anti join is the only correct distributed
    // shape here: a NOT IN would be null-hostile and a left-join+IS NULL
    // carries the full payload through the shuffle.
    "q_cold_parts" -> ((s, dir) => {
      val cut = java.sql.Timestamp.valueOf("2001-06-01 00:00:00")
      val recent = ColOps.table(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("timestamp") > lit(cut))
        .select(col("l_partkey"))
      ColOps.table(s, dir, "part")
        .join(recent, col("p_partkey") === col("l_partkey"), "left_anti")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_cold"),
          sum(expr("CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT)"))
            .as("shelf_value_c"))
    }),

    // TPC-H Q18 shape (large-quantity orders): the fact table collapses
    // to per-order quantity totals FIRST (map-side-combinable agg), the
    // rare survivors join orders, the customer dim broadcasts, top-100
    // is a TakeOrdered partial sort — never a global sort
    "q_large_orders" -> ((s, dir) => {
      val big = ColOps.table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(expr("CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)"))
          .as("qty_c"))
        .filter(col("qty_c") > lit(25000L))
      ColOps.table(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(ColOps.table(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("total_c"),
          col("qty_c"))
        .orderBy(col("total_c").desc, col("o_orderkey")).limit(100)
    }),

    // ANALYZE-style one-pass column profile of the events table: 5
    // statistics × 5 integer-unit columns from ONE global aggregate
    // (map-side partials; the shuffle is 25 longs), then an in-plan
    // unpivot. The nullable json k column exercises the null accounting;
    // the ts column profiles as a DAY bucket, not epoch-µs (sum-overflow
    // discipline per the scaladoc)
    "q_table_profile" -> ((s, dir) =>
      operators.Diagnostics.columnProfile(
        ColOps.table(s, dir, "events")
          .withColumn("ts2", timestamp_micros(expr("ts div 1000"))),
        Seq(
          "event_id" -> col("event_id"),
          "user_id" -> col("user_id"),
          "day" -> expr("unix_micros(ts2) div 86400000000"),
          "ival" -> ivalCol,
          "k" -> get_json_object(col("props"), "$.k").cast("long")))),

    // snapshot distribution drift: o_totalprice binned at width 25k,
    // pre-1998 orders vs later — per-bin exact ppm-of-own-total compare
    // (ln-free; Σ|delta_ppm|/2 is the TVD in ppm). Count tables before
    // any join; totals attach by broadcast.
    "q_drift" -> ((s, dir) => {
      val cut = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
      val orders = ColOps.table(s, dir, "orders")
      operators.Diagnostics.distributionDrift(
        orders.filter(col("o_orderdate").cast("timestamp") < lit(cut)),
        orders.filter(col("o_orderdate").cast("timestamp") >= lit(cut)),
        expr("CAST(FLOOR(o_totalprice / 25000) AS BIGINT)"))
    }),

    // generic Bloom-pruned fact⋈keys semi-join (the decontamination
    // prefilter generalized): urgent-order keys build a 16 KiB plan-
    // literal Bloom DISTRIBUTIVELY (bit_or word aggregate — the driver
    // never sees keys), the membership test runs inside the lineitem
    // scan's codegen, the exact semi-join removes false positives
    "q_bloom_prune" -> ((s, dir) => {
      val urgent = ColOps.table(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"))
      ColOps.bloomPrunedSemiJoin(
          ColOps.table(s, dir, "lineitem"), urgent, "l_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(expr("CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)"))
            .as("sum_qty_c"))
    }),

    // per-source quality cap (the per-domain cap of web-corpus curation):
    // keep the 25 longest docs of each source; rank window rewrites to
    // WindowGroupLimit (PlanSpec asserts) so heavy sources never ship
    // their full population through the exchange
    "q_source_cap" -> ((s, dir) =>
      Sampling.qualityCap(
        ColOps.table(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")),
        "source", "doc_id", col("n_chars"), 25)
        .select(col("source"), col("doc_id"), col("n_chars"),
          col("rk").cast("long").as("rk"))),

    // cumulative distinct-user growth via the first-touch trick — see
    // Behavior.userGrowth for why this never runs distinct-over-window.
    // Hour buckets: the fixture's event log spans 30 days, so hours give
    // a real growth curve (weeks would collapse to one bucket)
    "q_user_growth" -> ((s, dir) =>
      operators.Behavior.userGrowth(eventsWithTs(s, dir), "user_id", "ts2",
        bucketUs = 3600L * 1000000L)),

    // per-key TIME-RANGE rolling sum: each event's trailing-hour spend.
    // RANGE frame on integer micros — peers at the same timestamp are
    // all included, so the result is set-deterministic; the window is
    // PARTITIONED by user (never global) and integer-summed (cents)
    "q_rolling" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = eventsWithTs(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts2")).as("t_us"), col("ival"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"))
        .rangeBetween(-3600L * 1000000L, 0L)
      ev.select(col("event_id"), col("user_id"), col("t_us"),
        sum(col("ival")).over(w).as("roll_c"))
    }),

    // exact global deciles WITHOUT ntile's single-partition global sort —
    // see ColOps.quantileBins (distributed ordinal + broadcast count)
    "q_decile" -> ((s, dir) =>
      ColOps.quantileBins(
        ColOps.table(s, dir, "documents").select(col("n_chars"), col("doc_id")),
        "n_chars", "doc_id", 10)),

    // small-file compaction round trip: 64 tiny files → ~4 size-targeted
    // files, content IDENTICAL to the raw table (the oracle is the raw
    // table — any row lost or duplicated by the rewrite breaks the hash)
    "q_compact" -> ((s, dir) =>
      s.read.parquet(stagedCompacted(s, dir).resolve("compacted").toString)),

    // range-layout round trip: read the clustered rewrite back through a
    // range predicate on the layout key (the predicate pushes into
    // row-group stats that the sort made tight); oracle = same predicate
    // on the raw table
    "q_range_layout" -> ((s, dir) =>
      s.read.parquet(stagedRangeLayout(s, dir).toString)
        .filter(col("n_chars").between(150, 350))
        .select(col("doc_id"), col("lang"), col("n_chars"))),

    // Hive-partitioned layout (directory-per-lang): the per-partition
    // manifest through the round-trip — content identity is the oracle,
    // directory pruning is LayoutSpec's assert
    "q_hive_layout" -> ((s, dir) =>
      s.read.parquet(stagedHiveLayout(s, dir).toString)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("sum_chars"))),

    // Z-order (Morton) clustering rewrite: a box predicate on BOTH
    // dimensions over the rewritten files — content identity + the
    // portable bit-cascade z-value checked by the oracle; per-file
    // z-range disjointness is LayoutSpec's assertion
    "q_zorder_layout" -> ((s, dir) =>
      s.read.parquet(stagedZorderLayout(s, dir).toString)
        .filter(col("user_id").between(40, 80) &&
          col("day").between(19730, 19740))
        .select(col("event_id"), col("user_id"), col("day"), col("zval"))),

    // per-key rate throttle, batch form: first 3 events per (user, DAY)
    // by (t, id) — see Sampling.throttle (WindowGroupLimit shape, same
    // as q_source_cap). The replayed-log form of ingestion admission
    // control; q_throttle_stream executes the SAME contract in-stream.
    // Day buckets because the fixture peaks at 10 events/user/day — the
    // cap must actually BIND (hour buckets admit everything).
    "q_throttle" -> ((s, dir) =>
      Sampling.throttle(
        eventsWithTs(s, dir).select(col("event_id"), col("user_id"),
          unix_micros(col("ts2")).as("t_us")),
        "user_id", "t_us", "event_id", 86400L * 1000000L, 3)
        .select(col("event_id"), col("user_id"), col("bucket"),
          col("rk").cast("long").as("rk"))),

    // the throttle executed THROUGH Structured Streaming with KEYED
    // state: one admitted-count int per (user, hour-bucket) on
    // transformWithState — admission happens IN the stream, so a flood
    // never reaches downstream state. Feed is (t, id)-ordered; the
    // within-batch sort in Throttle makes "first k admitted" equal the
    // batch rank under any micro-batch split. Same oracle as q_throttle.
    "q_throttle_stream" -> ((s, dir) => {
      import s.implicits._
      val BucketUs = 86400L * 1000000L
      val rows = eventsWithTs(s, dir)
        .select(col("user_id"), unix_micros(col("ts2")).as("t_us"),
          col("event_id"))
        .as[(Long, Long, Long)].collect().sortBy(r => (r._2, r._3))
        // fixture micros are post-epoch, so div == floor for the bucket
        .toSeq.map { case (u, t, id) => (u, t / BucketUs, t, id) }
      graft.streaming.StreamExec.runStreamingAppend[(Long, Long, Long, Long)](
        s, rows,
        ds => graft.streaming.Throttle.admit(ds, 3),
        quantum = streamQuantum2(rows.size))
    }),

    // corpus snapshot reconciliation: FULL OUTER join of two versions on
    // the key, digests compared → added / removed / changed (same rows
    // suppressed — the diff is the deliverable and is usually tiny
    // relative to the corpus). The only join type that sees BOTH
    // dangling sides; full outer can't broadcast, so it sort-merges on
    // the key — the correct (and only) 100 TB shape. Digests, never
    // payloads, cross the shuffle.
    "q_snapshot_diff" -> ((s, dir) => {
      val v0 = ColOps.table(s, dir, "documents")
        .select(col("doc_id").as("id0"), md5(col("text")).as("d0"))
      // v1: every 11th doc removed, every remaining 3rd revised, and a
      // batch of new docs appended (shifted ids)
      val v1base = ColOps.table(s, dir, "documents")
        .filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id").as("id1"),
          when(col("doc_id") % 3 === 0, md5(concat(lit("v1:"), col("text"))))
            .otherwise(md5(col("text"))).as("d1"))
      val v1new = ColOps.table(s, dir, "documents")
        .filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("id1"),
          md5(col("text")).as("d1"))
      val v1 = v1base.unionByName(v1new)
      v0.join(v1, col("id0") === col("id1"), "full_outer")
        .select(coalesce(col("id0"), col("id1")).as("doc_id"),
          when(col("id0").isNull, "added")
            .when(col("id1").isNull, "removed")
            .when(col("d0") =!= col("d1"), "changed")
            .otherwise("same").as("status"))
        .filter(col("status") =!= "same")
    }),

    // SCD-2 validity intervals over the same versioned changelog as
    // q_upsert: audit/time-travel view (what was true at version v)
    // versus mergeLatest's current-state view — see ColOps.scd2
    "q_scd2" -> ((s, dir) => {
      val base = ColOps.table(s, dir, "documents")
        .select(col("doc_id"), lit(0L).as("version"))
      val updates = ColOps.table(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), lit(1L).as("version"))
      ColOps.scd2(base.unionByName(updates), "doc_id", "version")
        .select(col("doc_id"), col("version"), col("valid_to"),
          col("is_current"))
    }),

    // event-type transition matrix (first-order Markov counts): each
    // user's events in (time, id) order, consecutive pairs via a
    // PARTITIONED lag — the shuffle is one exchange on user_id and the
    // output is |types|² rows regardless of log size. The session-flow /
    // next-action model every event-log product ships.
    "q_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = eventsWithTs(s, dir).select(col("user_id"), col("event_id"),
        unix_micros(col("ts2")).as("t_us"), col("event_type"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"), col("event_id"))
      ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // ordered group concatenation (listagg): collect_list is
    // arrival-ordered, so sort INSIDE the aggregate (array_sort) before
    // joining — the only engine-portable way to make string aggregation
    // deterministic. Output is |groups| rows; the op is for bounded
    // groups by contract (a group too big to hold its member list is a
    // modeling error, not a shuffle problem).
    "q_listagg" -> ((s, dir) =>
      ColOps.table(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          array_join(
            transform(array_sort(collect_list(col("doc_id"))),
              x => x.cast("string")), ",").as("doc_ids"))),

    // TPC-H Q14-shaped promo share: lineitem ⋈ part on the part key
    // (fact-to-midsize-dim equi-join — broadcast at this SF, bucketed or
    // sort-merge at 100 TB; either way keyed, never nested-loop),
    // conditional cents split per ship month. The share is left as two
    // exact integer sums — the consumer divides, the hash stays stable.
    "q_promo_share" -> ((s, dir) => {
      val li = ColOps.table(s, dir, "lineitem")
        .select(col("l_partkey"),
          unix_micros(date_trunc("month", col("l_shipdate").cast("timestamp")))
            .as("month_us"),
          expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
            .as("rev_c"))
      val pt = ColOps.table(s, dir, "part")
        .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
      li.join(pt, col("l_partkey") === col("p_partkey"))
        .groupBy(col("month_us"))
        .agg(sum(when(col("is_promo"), col("rev_c")).otherwise(0L)).as("promo_c"),
          sum(col("rev_c")).as("total_c"))
    }),

    // TPC-H Q6-shaped forecast revenue: the purest pushdown probe — one
    // lineitem scan, ALL three predicates reach the parquet reader
    // (PushedFilters shows the date band; the discount test is
    // micro-scaled to integers so the band can't wobble on float ulps),
    // and the aggregate is a single 1-row map-side-combined sum. Zero
    // shuffle beyond the final 1-row exchange.
    "q_forecast_revenue" -> ((s, dir) => {
      val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
      ColOps.table(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("timestamp") >= lit(lo) &&
          col("l_shipdate").cast("timestamp") < lit(hi) &&
          expr("CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)").between(5, 7) &&
          col("l_quantity") < 24)
        .agg(sum(expr("CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT)"))
          .as("forecast_c"), count(lit(1)).as("n_items"))
    }),

    // TPC-H Q7-shaped volume shipping: the nation-pair trade matrix.
    // Supplier (100 rows) and the customer→nation dim both BROADCAST
    // onto the facts, so the only shuffle is lineitem ⋈ orders on the
    // order key; the (supp_nation, cust_nation) pair filter prunes to
    // the two directions BEFORE the aggregate. Grouped by pair × ship
    // year — ≤ 2·|years| rows out.
    "q_volume_shipping" -> ((s, dir) => {
      val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
      val nat = ColOps.table(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val sup = ColOps.table(s, dir, "supplier")
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = ColOps.table(s, dir, "customer")
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val ord = ColOps.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("cust_nation"))
      ColOps.table(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("timestamp") >= lit(lo) &&
          col("l_shipdate").cast("timestamp") < lit(hi))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate").cast("timestamp")).cast("long").as("ship_year"),
          expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
            .as("rev_c"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
        .agg(sum(col("rev_c")).as("revenue_c"), count(lit(1)).as("n_items"))
    }),

    // TPC-H Q8-shaped market share: NATION_3 suppliers' slice of ASIA's
    // PROMO-part revenue per order year. Every dim (filtered part,
    // supplier flag, region→nation→customer chain) BROADCASTS; the one
    // real shuffle is lineitem ⋈ orders. The share ships as exact
    // integer ppm (num·10⁶ div den) — no float division in the hash.
    "q_market_share" -> ((s, dir) => {
      val part = ColOps.table(s, dir, "part")
        .filter(col("p_type") === "PROMO").select(col("p_partkey"))
      val supFlag = ColOps.table(s, dir, "supplier")
        .join(ColOps.table(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), (col("n_name") === "NATION_3").as("is_target"))
      val cust = ColOps.table(s, dir, "region").filter(col("r_name") === "ASIA")
        .join(ColOps.table(s, dir, "nation"),
          col("r_regionkey") === col("n_regionkey"))
        .join(ColOps.table(s, dir, "customer"),
          col("n_nationkey") === col("c_nationkey"))
        .select(col("c_custkey"))
      val ord = ColOps.table(s, dir, "orders")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"),
          year(col("o_orderdate").cast("timestamp")).cast("long").as("o_year"))
      ColOps.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
            .as("rev_c"))
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supFlag), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_year"))
        .agg(sum(when(col("is_target"), col("rev_c")).otherwise(0L)).as("target_c"),
          sum(col("rev_c")).as("total_c"))
        .select(col("o_year"), col("target_c"), col("total_c"),
          expr("target_c * 1000000 div total_c").as("share_ppm"))
    }),

    // TPC-H Q9-shaped product profit: per supplier-nation × ship year,
    // profit = revenue − a 10%-of-retail unit-cost proxy (the fixture has
    // no partsupp table; the cost term keeps Q9's part-join shape).
    // Both money terms floor to cents PER ROW, so the grouped sum is
    // order-free. Parts prune on the name predicate BEFORE broadcast.
    "q_product_profit" -> ((s, dir) => {
      val part = ColOps.table(s, dir, "part")
        .filter(col("p_name").contains("widget"))
        .select(col("p_partkey"), col("p_retailprice"))
      val sup = ColOps.table(s, dir, "supplier")
        .join(ColOps.table(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      ColOps.table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"),
          year(col("l_shipdate").cast("timestamp")).cast("long").as("ship_year"))
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .select(col("n_name"), col("ship_year"),
          (expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)") -
            expr("CAST(FLOOR(p_retailprice * l_quantity * 10 + 0.5) AS BIGINT)"))
            .as("profit_c"))
        .groupBy(col("n_name"), col("ship_year"))
        .agg(sum(col("profit_c")).as("profit_c"), count(lit(1)).as("n_items"))
    }),

    // TPC-H Q13-shaped order-count distribution: orders-per-customer
    // histogram INCLUDING the zero bucket — the LEFT OUTER join is the
    // semantics (an inner join silently drops never-ordered customers).
    // Two aggregates: per-customer count (shuffle on custkey), then the
    // ≤|distinct counts|-row distribution — canonical double-group-by.
    "q_order_count_dist" -> ((s, dir) => {
      val ord = ColOps.table(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      ColOps.table(s, dir, "customer").select(col("c_custkey"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),

    // TPC-H Q15-shaped top supplier: quarterly revenue per supplier, the
    // max attached as a BROADCAST 1-row aggregate and matched exactly —
    // ties all surface (the reference semantics), never an ORDER BY
    // LIMIT 1 that picks one of them arbitrarily. Revenue aggregate
    // shuffles on suppkey (≤|suppliers| rows), dim join broadcasts.
    "q_top_supplier" -> ((s, dir) => {
      val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1996-04-01 00:00:00")
      val rev = ColOps.table(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("timestamp") >= lit(lo) &&
          col("l_shipdate").cast("timestamp") < lit(hi))
        .groupBy(col("l_suppkey"))
        .agg(sum(expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)"))
          .as("total_rev_c"))
      val top = rev.agg(max(col("total_rev_c")).as("__max"))
      rev.crossJoin(broadcast(top))
        .filter(col("total_rev_c") === col("__max")).drop("__max")
        .join(broadcast(ColOps.table(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev_c"))
    }),

    // TPC-H Q17-shaped small-quantity revenue: lineitems below 20% of
    // their part's average quantity, for one brand. The per-part stats
    // aggregate over the SAME brand-pruned join, re-attached as a
    // broadcast (≤|brand parts| rows); the threshold compares
    // cross-multiplied integers (qty·5·n < Σqty — scaled ×100) so no
    // float average exists anywhere. Total ships as cents div 7
    // (TPC-H's yearly average), still exact integer.
    "q_small_qty_revenue" -> ((s, dir) => {
      val part = ColOps.table(s, dir, "part")
        .filter(col("p_brand") === "Brand#11").select(col("p_partkey"))
      val li = ColOps.table(s, dir, "lineitem")
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"),
          expr("CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)").as("qty_c"),
          expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)").as("price_c"))
      val stats = li.groupBy(col("p_partkey").as("__pk"))
        .agg(count(lit(1)).as("__n"), sum(col("qty_c")).as("__sumq"))
      li.join(broadcast(stats), col("p_partkey") === col("__pk"))
        .filter(col("qty_c") * 5 * col("__n") < col("__sumq"))
        .agg(expr("CAST(SUM(price_c) AS BIGINT) div 7").as("avg_yearly_c"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q19-shaped discounted revenue: the OR-of-ANDs predicate
    // (three brand × size × quantity envelopes) evaluated AFTER the
    // part broadcast join — one fact scan, one broadcast, predicate
    // fully codegen'd; never three unions of the fact table.
    "q_discount_revenue" -> ((s, dir) => {
      val part = ColOps.table(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val qc = expr("CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)")
      val hit =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          qc.between(100L, 1100L)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          qc.between(1000L, 2000L)) ||
        (col("p_brand") === "Brand#15" && col("p_size").between(1, 15) &&
          qc.between(2000L, 3000L))
      ColOps.table(s, dir, "lineitem")
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .filter(hit)
        .agg(sum(expr("CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)"))
          .as("revenue_c"), count(lit(1)).as("n_items"))
    }),

    // TPC-H Q22-shaped idle customers: above-average-balance customers
    // who never ordered, rolled up per nation. The positive-balance
    // average attaches as a broadcast 1-row (Σ, n) pair and the
    // threshold cross-multiplies (bal·n > Σ — integer cents), so no
    // float average; the "gone idle" test is a LEFT ANTI join on the
    // key-only, date-pruned orders projection (the date filter pushes
    // to the scan BEFORE the anti side ships).
    "q_idle_customers" -> ((s, dir) => {
      val cust = ColOps.table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          expr("CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)").as("bal_c"))
      val avg = cust.filter(col("bal_c") > 0)
        .agg(sum(col("bal_c")).as("__sum"), count(lit(1)).as("__n"))
      val ordKeys = ColOps.table(s, dir, "orders")
        .filter(col("o_orderdate").cast("timestamp") >=
          lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(avg))
        .filter(col("bal_c") * col("__n") > col("__sum"))
        .join(ordKeys, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(ColOps.table(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"), sum(col("bal_c")).as("total_bal_c"))
    }),

    // C4-style sub-document dedup: repeated 20-word chunks keep only
    // their corpus-first occurrence, docs reassemble from survivors —
    // see TextOps.chunkDedup for the two-shuffle scale shape.
    "q_chunk_dedup" -> ((s, dir) =>
      TextOps.chunkDedup(
        ColOps.table(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", 20)),

    // tokenized blocklist gate: a PURE per-row predicate (no join, no
    // shuffle) — the first filter a crawl pipeline runs, at scan speed
    "q_blocklist" -> ((s, dir) =>
      ColOps.table(s, dir, "documents")
        .filter(TextOps.blocklistClean(col("text"), BlocklistTerms))
        .select(col("doc_id"), col("source"), col("n_chars"))),

    // sequential Poisson weighted sample: length-proportional doc draw,
    // pure integer priorities, TakeOrdered top-k — never a global sort
    "q_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(
        ColOps.table(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", col("n_chars"), 100)),

    // Zipf slope of the token rank/frequency line in exact micro units
    // — corpus-health one-liner (natural text ≈ −1e6)
    "q_zipf_fit" -> ((s, dir) =>
      TextOps.zipfFit(ColOps.table(s, dir, "documents"), "text", 30)),

    // contrastive hard negatives: top-3 most-similar DIFFERENT-label
    // vectors per query — the label-mismatch predicate fused into the
    // broadcast join so same-label pairs never materialize
    "q_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(
        Similarity.embeddings(s, dir, carry = Seq("label")), nQ = 20, k = 3)),

    // kNN majority-vote label audit: 5 nearest vote, rank-1 cut is
    // WindowGroupLimit, one row per query with the verdict
    "q_knn_classify" -> ((s, dir) =>
      Similarity.knnClassify(
        Similarity.embeddings(s, dir, carry = Seq("label")), nQ = 50, k = 5)),

    // SimHash near-dup pairs: 3×10-bit banded bucket join with EXACT
    // pigeonhole recall for hamming ≤ 2 (among uncapped buckets),
    // bit_count verify. Cap 256 here: the synthetic fixture's tiny
    // vocabulary concentrates simhashes into a few viral buckets —
    // exactly the distribution the cap exists for.
    "q_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(
        ColOps.table(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", maxHamming = 2, cap = 256)),

    // point-in-interval attribution: events inside the hour BEFORE each
    // purchase by the same user — binned equi-join on (user, hour bin),
    // exact BETWEEN decides; never a nested-loop product
    "q_interval_join" -> ((s, dir) => {
      val hourUs = 3600L * 1000000L
      val ev = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000").as("t_us"))
      val pts = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_id"), col("t_us"))
      val ivs = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          (col("t_us") - hourUs).as("lo"), col("t_us").as("hi"))
      ColOps.intervalJoin(pts, ivs, "t_us", "lo", "hi", hourUs,
          keys = Seq("user_id"))
        .groupBy(col("p_id"))
        .agg(count(lit(1)).as("n_before"), min(col("event_id")).as("first_ev"))
    }),

    // the interval join executed as a genuine stream-stream EVENT-TIME
    // join (watermarks on both sides + a time-range condition — the
    // state-cleanup contract): points and purchases arrive as two
    // streams in time-ordered rounds, inner matches emit as both sides
    // land, and the time-range bound lets Spark evict joined state.
    // Bounded like q_zip_stream: join state cost is per row and two
    // rounds already prove cross-batch pairing.
    "q_interval_stream" -> ((s, dir) => {
      import s.implicits._
      val hourUs = 3600L * 1000000L
      val ev = events(s, dir)
        .filter(col("event_id") < IntervalStreamN)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000").as("t_us"))
        .as[(Long, Long, String, Long)].collect().sortBy(_._4).toSeq
      val pts = ev.filter(_._3 != "purchase").map(e => (e._1, e._2, e._4))
      val ivs = ev.filter(_._3 == "purchase")
        .map(e => (e._1, e._2, e._4 - hourUs, e._4))
      graft.streaming.StreamExec.runStreamingJoin2[
          (Long, Long, Long), (Long, Long, Long, Long)](
        s, pts, ivs,
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
        },
        rounds = 2)
    }),

    // pairwise source-overlap matrix from per-source KMV shingle
    // sketches: after the sketch build, every stage is bounded by
    // sketch geometry (k·|sources| rows), never corpus size
    "q_corpus_overlap" -> ((s, dir) =>
      Sketches.corpusOverlap(
        ColOps.table(s, dir, "documents").select(col("source"), col("text")),
        "source", "text")),

    // per-source score percentile (exact integer per-mille): the
    // cross-domain quality normalizer — one shuffle on the stratum
    "q_quality_calibrate" -> ((s, dir) =>
      Sampling.qualityCalibrate(
        ColOps.table(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")),
        "source", "doc_id", col("n_chars"))),

    // subsampling schedule realizing the temperature mix target:
    // binding source keeps ~all rows, the rest downsample — exact
    // integer rates ready for the Bernoulli/weighted samplers
    "q_mix_rebalance" -> ((s, dir) =>
      Sampling.mixRebalance(
        ColOps.table(s, dir, "documents"),
        "source", expr("CAST(n_chars AS BIGINT)"), 0.5)),

    // per-user FIRST-TOUCH attribution executed THROUGH Structured
    // Streaming: groupBy(user).min(hour-bucket) in Complete mode — state
    // is ONE long per user (bounded by |users|, the scale bar for
    // streaming attribution; the userGrowth curve is a tiny batch rollup
    // of exactly this output). Feed is ts-ordered, but min() makes the
    // result batch-equal under ANY micro-batch split — that invariance
    // is what the oracle checks.
    "q_first_touch_stream" -> ((s, dir) => {
      import s.implicits._
      val rows = ColOps.table(s, dir, "events")
        .select(expr("ts div 1000").as("t_us"), col("user_id"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      graft.streaming.StreamExec.runStreamingComplete[(Long, Long)](
        s, rows,
        ds => ds.toDF("t_us", "user_id")
          .groupBy(col("user_id"))
          // fixture micros are all post-epoch, so div == floor here
          .agg(min(expr(s"t_us div ${3600L * 1000000L}L")).as("first_bucket")),
        quantum = streamQuantum2(rows.size))
    }),

    // skew-salted join, oracle-checked: events joined to a per-user dim
    // through ColOps.saltedJoin — salting must be semantically invisible
    // (hot keys spread over `salt` tasks; the oracle is the plain join)
    "q_salted_join" -> ((s, dir) => {
      val ev = events(s, dir).select(col("seq"), col("user_id"))
      val dim = events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("user_cnt"))
      ColOps.saltedJoin(ev, dim, "user_id", 8)
        .select(col("seq"), col("user_id"), col("user_cnt"))
    }),

    // §2.4 pairs — consecutive pairs via boundary exchange
    "q_pairs" -> ((s, dir) =>
      RowExec.pairsDf(events(s, dir).select(col("seq"), col("value")), Seq("value"))
        .select(col("seq"), col("prev_value"), col("value"))),

    // §2.4 consecutive — previous-≤3 sliding window (note the reference's
    // off-by-one: the window BEFORE each element). The window array is
    // emitted as a comma-joined string: the driver's hash comparator can't
    // sort array-typed cells, so the projection is scalar; the operator
    // itself stays array-valued.
    "q_consecutive" -> ((s, dir) =>
      RowExec.consecutiveDf(
        events(s, dir).select(col("seq"), ivalCol.as("ival")), "ival", 3)
        .select(col("seq"),
          array_join(col("window").cast("array<string>"), ",").as("window"))),

    // §2.5 take — cut-filter (no TakeOrderedAndProject over payload)
    "q_take" -> ((s, dir) =>
      ColOps.takeN(events(s, dir).select(col("seq"), col("value")), 1000)),

    // §2.5 drop — suffix after the 9000th element
    "q_drop" -> ((s, dir) =>
      ColOps.dropN(events(s, dir).select(col("seq"), col("value")), 9000)),

    // §2.5 takeWhile — prefix before the first value ≥ 400
    "q_take_while" -> ((s, dir) =>
      ColOps.takeWhileC(events(s, dir).select(col("seq"), col("value")),
        col("value") < 400)),

    // §2.5 dropWhile — the complementary suffix
    "q_drop_while" -> ((s, dir) =>
      ColOps.dropWhileC(events(s, dir).select(col("seq"), col("value")),
        col("value") < 400)),

    // §2.5 head
    "q_head" -> ((s, dir) =>
      ColOps.headDf(events(s, dir).select(col("seq"), col("value"), col("event_type")))),

    // §2.5 last
    "q_last" -> ((s, dir) =>
      ColOps.lastDf(events(s, dir).select(col("seq"), col("value"), col("event_type")))),

    // §2.6 foldl — typed FoldSink, distributed combine path
    "q_foldl" -> ((s, dir) => {
      val total = centsStream(s, dir).into(
        Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _))
      oneRow(s, Seq("total"), Seq(total))
    }),

    // §2.6 foldMap — max monoid over a projection
    "q_fold_map" -> ((s, dir) => {
      val mx = centsStream(s, dir).into(
        Sinks.foldMap[Long, Long](identity, Long.MinValue)(math.max))
      oneRow(s, Seq("mx"), Seq(mx))
    }),

    // §2.6 foldr — right fold over the stream, DISTRIBUTED via
    // foldrCombine (per-partition right folds over seq-ascending range
    // partitions, O(partitions) partials merged on the driver — the
    // combine for reverse-concat is the flipped concat)
    "q_foldr" -> ((s, dir) => {
      implicit val enc: Encoder[Elem[String]] = Elem.enc[String]
      val st = SStream(events(s, dir)
        .select(col("seq"), col("event_type").as("value")).as[Elem[String]])
      val first50 = st |> Pipes.take[String](50)
      val cat = first50.into(
        Sinks.foldrCombine("")((x: String, acc: String) => acc + x)((a, b) => b + a))
      oneRow(s, Seq("cat"), Seq(cat))
    }),

    // §2.6 sinkList — ordered collect, one array row
    "q_sink_list" -> ((s, dir) => {
      val xs = centsStream(s, dir).into(Sinks.sinkList)
      oneRow(s, Seq("xs"), Seq(xs))
    }),

    // §2.6 sinkNull — drain; observable result = element count
    "q_sink_null" -> ((s, dir) => {
      val st = centsStream(s, dir)
      st.into(Sinks.sinkNull)
      oneRow(s, Seq("cnt"), Seq(st.into(Sinks.count)))
    }),

    // §2.7 zipSource — positional join on dense ordinals, ends at shorter
    "q_zip_source" -> ((s, dir) => {
      val a = events(s, dir).select(col("seq"), col("value"))
      val b = ColOps.withSeq(ColOps.table(s, dir, "orders"), col("o_orderkey"))
        .select(col("seq"), col("o_totalprice"))
      // both keys are dense surrogate ids from 0 — skip the rank passes;
      // the density claim is verified in-plan (raise_error on sparse keys)
      ColOps.zipBySeq(a, b, "", assumeDense = true)
    }),

    // §2.7 ZipSource <|> — ordered concatenation with seq offset
    "q_concat_sources" -> ((s, dir) => {
      val a = events(s, dir).select(col("seq"), col("value"))
      val b = events(s, dir).filter(col("event_type") === "click")
        .select(col("seq"), col("value"))
      ColOps.concatStreams(a, b)
    }),

    // §2.7 zipSink — two folds, one scan
    "q_zip_sink" -> ((s, dir) => {
      val (total, cnt) = centsStream(s, dir).into(Sinks.zip(
        Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _),
        Sinks.foldlCombine(0L)((b: Long, _: Long) => b + 1)(_ + _)))
      oneRow(s, Seq("total", "cnt"), Seq(total, cnt))
    }),

    // §2.7 altSink — first-to-finish race (takeList(1) terminates first)
    "q_alt_sink" -> ((s, dir) => {
      implicit val enc: Encoder[Elem[Double]] = Elem.enc[Double]
      val st = SStream(events(s, dir)
        .select(col("seq"), col("value")).as[Elem[Double]])
      val won = st.into(Sinks.alt(Sinks.takeList[Double](1), Sinks.takeList[Double](5)))
      oneRow(s, Seq("v"), Seq(won.head))
    }),

    // §2.7 fuseBoth — downstream result AND upstream terminal result
    "q_fuse_both" -> ((s, dir) => {
      val (down, up) = Compose.fuseBoth(
        Pipes.map[Long, Long](_ * 2),
        Sinks.count[Long],
        Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _))(centsStream(s, dir))
      oneRow(s, Seq("total_x2", "cnt"), Seq(down, up))
    }),

    // §2.7 feedbackPipe — driver-loop iteration, checked as the per-round
    // multiset of values (order-insensitive form; seq carries the round
    // in its high bits)
    "q_feedback" -> ((s, dir) => {
      implicit val enc: Encoder[Elem[Long]] = Elem.enc[Long]
      val start = SStream(events(s, dir).filter(col("seq") < 100)
        .select(col("seq"), ivalCol.as("value")).as[Elem[Long]])
      val p = Pipes.map[Long, Long](_ / 3) |> Pipes.filter[Long](_ > 0)
      val out = Compose.feedbackPipe(p, maxRounds = 64)(start)
      out.ds.toDF()
        .select(shiftrightunsigned(col("seq"), 40).as("round"), col("value").as("v"))
        .groupBy(col("round"), col("v")).agg(count(lit(1)).as("n"))
    }),

    // §2.6 fold — monoidal concat (min/max monoid product), one scan
    "q_fold_minmax" -> ((s, dir) => {
      val (mn, mx) = centsStream(s, dir).into(Sinks.zip(
        Sinks.fold(Long.MaxValue)(math.min),
        Sinks.fold(Long.MinValue)(math.max)))
      oneRow(s, Seq("mn", "mx"), Seq(mn, mx))
    }),

    // §2.8 unconsZipSource — pop the head, return the rest
    "q_uncons" -> ((s, dir) => {
      implicit val enc: Encoder[Elem[Double]] = Elem.enc[Double]
      val st = SStream(events(s, dir)
        .select(col("seq"), col("value")).as[Elem[Double]])
      val (h, rest) = Compose.uncons(st)
      // Seq[Any]: mixed Double+Long would otherwise numeric-widen to Double
      oneRow(s, Seq("first_v", "rest_cnt"),
        Seq[Any](h.getOrElse(0.0), rest.into(Sinks.count)))
    }),

    // §2.1 iterate — closed-form distributed generation (iterate succ 0)
    "q_iterate" -> ((s, _) =>
      Sources.iterateClosedForm(s, 50, k => k)),

    // §2.1 iterate, DISTRIBUTED by leapfrog (Sources.iterateJump): an LCG
    // x ↦ (a·x + c) mod m — no closed form handy, but the affine jump
    // f^k is O(log k), so each partition skips ahead and iterates
    // locally; no driver generation at any n. Oracle = the same
    // recurrence as a DuckDB recursive CTE.
    "q_iterate_jump" -> ((s, _) => {
      val (a, c, m) = (1103515245L, 12345L, 2147483648L)
      Sources.iterateJump[Long](s, x => (a * x + c) % m, 42L, 10000L,
        Sources.affineJump(a, c, m)).ds.toDF()
    }),

    // §2.1 unfold, DISTRIBUTED (Sources.unfoldSegmented): Fibonacci mod
    // 1e9+7 — a genuinely 2-dimensional recurrence state, NO leapfrog
    // and no closed form used. Partition i replays the cheap state step
    // past its prefix, then materializes only its own segment; the
    // oracle is the same recurrence as a DuckDB recursive CTE.
    "q_unfold_fib" -> ((s, _) =>
      Sources.unfoldSegmented[Long, (Long, Long)](s,
        { case (a, b) => (a, (b, (a + b) % 1000000007L)) },
        (0L, 1L), 5000L).ds.toDF()),

    // §2.1 replicate
    "q_replicate" -> ((s, _) => {
      implicit val enc: Encoder[Elem[String]] = Elem.enc[String]
      Sources.replicate(s, 200L, "x").ds.toDF()
    }),

    // §2.8 passthrough — outputs paired with their provenance input
    "q_passthrough" -> ((s, dir) => {
      val outs = Pipes.passthrough[Long, Long](Pipes.map[Long, Long](_ * 2))
        .apply(centsStream(s, dir))
      outs.ds.toDF().select(col("seq"),
        col("value._1").as("input_v"), col("value._2").as("output_v"))
    }),

    // §2.3 mapInput — contramap a projection before a pipe (the pipe
    // filters Longs; the stream feeds Doubles)
    "q_map_input" -> ((s, dir) => {
      implicit val enc: Encoder[Elem[Double]] = Elem.enc[Double]
      val st = SStream(events(s, dir)
        .select(col("seq"), col("value")).as[Elem[Double]])
      val p = Pipes.mapInput[Double, Long, Long](
        d => math.floor(d * 100 + 0.5).toLong)(Pipes.filter[Long](_ % 2 == 0))
      p(st).ds.toDF()
    }),

    // §2.3 mapOutput — post-compose a projection after a pipe
    "q_map_output" -> ((s, dir) => {
      val p = Pipes.mapOutput[Long, Long, Long](
        Pipes.filter[Long](_ > 20000))(_ * 3)
      p(centsStream(s, dir)).ds.toDF()
    }),

    // §2.7 fuseUpstream — run the chain, keep the UPSTREAM result only
    "q_fuse_upstream" -> ((s, dir) => {
      val up = Compose.fuseUpstream(
        Pipes.map[Long, Long](_ * 2),
        Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _),
        Sinks.count[Long])(centsStream(s, dir))
      oneRow(s, Seq("total"), Seq(up))
    }),

    // §2.7 fuseBothMaybe — upstream result Some only when fully drained:
    // take(100) cuts early (None), take(1e6) drains the stream (Some)
    "q_fuse_both_maybe" -> ((s, dir) => {
      val st = centsStream(s, dir)
      val sumSink = Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _)
      val (d1, u1) = Compose.fuseBothMaybe(
        Pipes.take[Long](100), Sinks.count[Long], sumSink)(st)
      val (d2, u2) = Compose.fuseBothMaybe(
        Pipes.take[Long](1000000), Sinks.count[Long], sumSink)(st)
      oneRow(s, Seq("sum_100", "u1_cnt", "sum_all", "u2_cnt"),
        Seq(d1, u1.getOrElse(-1L), d2, u2.getOrElse(-1L)))
    }),

    // §2.7 ZipSource applicative zipWith (liftA2) — positional combine of
    // two sources through an arbitrary function, ends at the shorter
    "q_zip_with" -> ((s, dir) => {
      implicit val encL: Encoder[Elem[Long]] = Elem.enc[Long]
      val ev = centsStream(s, dir)
      val ord = SStream(ColOps.withSeq(ColOps.table(s, dir, "orders"), col("o_orderkey"))
        .select(col("seq"), floor(col("o_totalprice") * 100 + 0.5).cast("long").as("value"))
        .as[Elem[Long]])
      Compose.zipSourcesWith(ev, ord)((a, b) => a + b).ds.toDF()
    }),

    // as-of join — for each click, the latest view of the same user at or
    // before it (merge-scan: one shuffle on user_id + window, never a
    // range cross-product). The as-of time is the µs-TRUNCATED ts on BOTH
    // sides of the contract: DuckDB reads the TIMESTAMP(NANOS) column
    // µs-truncated, so the engine orders by the same `ts div 1000` —
    // sub-microsecond fixture data would agree too, not just the current
    // whole-µs rows.
    "q_asof_join" -> ((s, dir) => {
      val ev = ColOps.table(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_id"),
          col("event_id").as("v_event_id"), col("value").as("v_value"))
      ColOps.asofJoin(clicks, views, "user_id", "ts_us", "event_id")
        .select(col("event_id").as("seq"), col("user_id"),
          col("asof_v_event_id"), col("asof_v_value"))
    }),

    // §2.2 sourceHandleLines — one element per text line of a staged file
    // (staged driver-side from the documents table, one doc per line in
    // doc_id order; the OPERATOR under test is the distributed text read
    // with the two-phase (file, offset) ordinal)
    "q_text_lines" -> ((s, dir) => {
      Sources.textLines(s, stagedTextLines(s, dir).toString).ds.toDF()
        .select(col("seq"), col("value").as("line"))
    }),

    // §2.2 sourceHandle in fixed-size chunks: the staged corpus file read
    // as 4096-byte chunks (binaryFile source + columnar fan-out); each
    // chunk identified by md5 of its hex so the oracle (which reconstructs
    // the same bytes from the documents table) can compare byte-exactly
    "q_binary_chunks" -> ((s, dir) => {
      Sources.fileChunks(s, stagedTextLines(s, dir).toString, 4096).ds.toDF()
        .select(col("seq"), md5(lower(hex(col("value")))).as("chunk_md5"))
    }),

    // CSV source — explicit schema (never inferSchema: that is a second
    // full read), header, and a filter that reaches the scan; the oracle
    // checks the round-trip against the originating table
    "q_csv_source" -> ((s, dir) =>
      s.read.option("header", "true")
        .schema("doc_id LONG, lang STRING, n_chars LONG")
        .csv(stagedCsv(s, dir).toString)
        .filter(col("n_chars") > 300)
        .select(col("doc_id").as("seq"), col("lang"), col("n_chars"))),

    // JSONL source — the lingua franca of corpus interchange; explicit
    // schema (schema inference on JSON is a full extra pass), filter on a
    // string field, typed projection
    "q_jsonl_source" -> ((s, dir) =>
      s.read.schema("doc_id LONG, lang STRING, n_chars LONG")
        .json(stagedJsonl(s, dir).toString)
        .filter(col("lang") === "en")
        .select(col("doc_id").as("seq"), col("n_chars"))),

    // ORC source — the columnar alternate to parquet (warehouse
    // interchange); predicate + projection must push into the ORC scan
    // exactly as they do for parquet (pinned in PlanSpec)
    "q_orc_source" -> ((s, dir) =>
      s.read.orc(stagedOrc(s, dir).toString)
        .filter(col("lang") === "en" && col("n_chars") > 300)
        .select(col("doc_id").as("seq"), col("n_chars"))),

    // partitioned parquet SINK + partition-pruned read-back: the corpus
    // layout shape (partitionBy the shard key so downstream per-language
    // jobs scan only their partition — the read-back filter must show up
    // as a PartitionFilter, not a data filter; asserted in PlanSpec)
    "q_partitioned_write" -> ((s, dir) => {
      val out = stagedPartitionedParquet(s, dir)
      s.read.parquet(out.toString)
        .filter(col("lang") === "fr")
        .select(col("doc_id").as("seq"), col("n_chars").cast("long").as("n_chars"))
    }),

    // latest-wins merge (upsert + tombstone): base corpus at version 0,
    // every doc_id % 3 == 0 upserted at version 1 (text revised —
    // marker prefix, byte-stable across engines unlike e.g. upper()),
    // every upserted doc_id % 7 == 1 tombstoned INSTEAD — the winning
    // version decides survival. One shuffle, WindowGroupLimit top-1.
    "q_upsert" -> ((s, dir) => {
      val base = ColOps.table(s, dir, "documents")
        .select(col("doc_id"), col("text"), lit(0L).as("version"),
          lit(false).as("deleted"))
      val updates = ColOps.table(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), concat(lit("v1:"), col("text")).as("text"),
          lit(1L).as("version"), (col("doc_id") % 7 === 1).as("deleted"))
      ColOps.mergeLatest(base, updates, "doc_id", "version", Some("deleted"))
        .select(col("doc_id"), md5(col("text")).as("digest"), col("version"))
    }),

    // ---------- LLM-data-pipeline operators ----------

    // deterministic stratified sampling — 20 docs per language, ranked by
    // a portable affine scatter (per-class cap; one shuffle on the
    // stratum, partitioned window)
    "q_sample_strat" -> ((s, dir) =>
      Sampling.stratifiedTake(
        ColOps.table(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id", 20)),

    // deterministic train/val/test split by id hash — zero shuffle,
    // membership a pure function of doc_id (stable under corpus growth)
    "q_split" -> ((s, dir) =>
      Sampling.hashSplit(
        ColOps.table(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", SplitCuts)),

    // deterministic training-order shuffle (epoch 3): dense new ordinals
    // in seeded-affine-permutation order via the distributed Ordinals
    // machinery — range-partition + per-partition offsets, never a
    // single-partition global window
    "q_shuffle_order" -> ((s, dir) =>
      Sampling.shuffleOrder(
        ColOps.table(s, dir, "documents").select(col("doc_id")),
        "doc_id", seed = 3L)),

    // bucketed co-located join + same-key aggregation: both sides staged
    // bucketBy(8, custkey).sortBy once per JVM, then join AND groupBy run
    // with ZERO Exchange (PlanSpec asserts) — the write-once/join-daily
    // warehouse layout at 100 TB
    "q_bucket_join" -> ((s, dir) => {
      val cust = Bucketing.stagedBucketed(s, dir, "customer",
        ColOps.table(s, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_mktsegment")),
        "custkey", 8)
      val ords = Bucketing.stagedBucketed(s, dir, "orders",
        ColOps.table(s, dir, "orders")
          .select(col("o_custkey").as("custkey"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("ocents")),
        "custkey", 8)
      Bucketing.bucketedJoin(cust, ords, "custkey")
        // group on the BUCKET key only (the segment is per-key constant,
        // carried via max): hash(custkey) is already satisfied by the
        // bucket layout, so the aggregation needs no exchange either
        .groupBy(col("custkey"))
        .agg(max(col("c_mktsegment")).as("c_mktsegment"),
          count(lit(1)).as("n_orders"), sum(col("ocents")).as("total_cents"))
    }),

    // weighted corpus interleave — en:zh docs on a 3:1 schedule (the
    // training-mix shape); sides dense-ranked by doc_id first (two-phase
    // ordinal, no global window), then pure position arithmetic + union
    "q_corpus_mix" -> ((s, dir) => {
      val docs = ColOps.table(s, dir, "documents").select(col("doc_id"), col("lang"))
      def side(l: String) =
        RowExec.withDenseSeq(docs.filter(col("lang") === l), Seq(col("doc_id")))
      Sampling.interleave(side("en"), side("zh"), 3, 1)
    }),

    // temperature-scaled mixing weights (alpha = 0.7): per-source token
    // counts -> share^alpha -> normalized schedule weights; |sources|
    // rows out regardless of corpus size, pow() micro-scaled to ints
    // before the normalizing sum
    "q_mix_weights" -> ((s, dir) =>
      Sampling.mixWeights(ColOps.table(s, dir, "documents"), "source",
        size(split(col("text"), " ")).cast("long"), 0.7)),

    // exact dedup: hash-groupBy (one shuffle on the 32-byte digest)
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(ColOps.table(s, dir, "documents"), "doc_id", "text")),

    // incremental dedup — keep incoming docs (doc_id >= 400) whose text
    // digest is NOT in the existing corpus (doc_id < 400): digest-only
    // anti-join, the ingestion shape
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = ColOps.table(s, dir, "documents")
      Dedup.newAgainstCorpus(
        docs.filter(col("doc_id") >= 400).select(col("doc_id"), col("text")),
        docs.filter(col("doc_id") < 400), "text")
        .select(col("doc_id"))
    }),

    // decontamination THROUGH Structured Streaming — the stateless
    // enrichment pattern (no state store at all): corpus docs arrive as
    // a stream; each is flagged by arrays_overlap of its shingle set
    // against the benchmark shingles inlined as a broadcast literal
    // (ArraysOverlap probes a hash set, so per-row cost is O(|doc
    // shingles|)). One row in, at most one row out — no distinct, no
    // watermark, no state. Same oracle as q_contamination.
    "q_contamination_stream" -> ((s, dir) => {
      import s.implicits._
      val docs = ColOps.table(s, dir, "documents").select(col("doc_id"), col("text"))
      val benchSh = Dedup.shingleHashes(
          docs.filter(col("doc_id") % 50 === 0), "doc_id", "text")
        .select(explode(col("sh")).as("h")).distinct().as[Long].collect().sorted
      val corpus = docs.filter(col("doc_id") % 50 =!= 0)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      graft.streaming.StreamExec.runStreamingAppend[(Long, String)](
        s, corpus,
        ds => Dedup.shingleHashes(
            ds.toDF().select(col("_1").as("doc_id"), col("_2").as("text")),
            "doc_id", "text")
          .filter(arrays_overlap(col("sh"), typedLit(benchSh.toSeq)))
          .select(col("doc_id")),
        quantum = streamQuantum2(corpus.size))
    }),

    // incremental NEAR-dup — verified LSH links from an incoming batch
    // (doc_id % 5 == 0) against the existing corpus index: only the
    // batch is re-hashed; the corpus buckets are the maintained index
    "q_dedup_incr_near" -> ((s, dir) => {
      val docs = ColOps.table(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.incrementalNearDup(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
    }),

    // benchmark decontamination — docs sharing ANY word-3-gram shingle
    // with the "benchmark" subset (doc_id % 50 == 0 stands in for an
    // eval set): broadcast semi-join on shingle hashes
    "q_contamination" -> ((s, dir) => {
      val docs = ColOps.table(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.contaminatedBy(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text")
    }),

    // exact token-run decontamination WITH SPANS (GPT-3/Pile style):
    // maximal shared 4-token runs between train docs and the eval
    // split, via positioned shingle match + gaps-and-islands extension
    "q_contamination_spans" -> ((s, dir) => {
      val docs = ColOps.table(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.contaminationSpans(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 4)
    }),

    // INTRA-corpus duplicated-passage spans (Lee et al. exact-substring
    // dedup): maximal shared 4-token runs between document pairs —
    // fully distributed (no small side to collect): viral-shingle cap,
    // hash self-equi-join, gaps-and-islands
    "q_self_spans" -> ((s, dir) =>
      Dedup.selfSpans(
        ColOps.table(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", n = 4)),

    // the keep-first CUT completing intra-corpus passage dedup: every
    // shared run removed from the higher-id doc, first occurrence kept
    "q_self_dedup_cut" -> ((s, dir) =>
      Dedup.selfDedupCut(
        ColOps.table(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", n = 4)),

    // span EXCISION — the cut step: every token covered by a shared
    // 4-token run is removed; after the contamination-sized span join
    // the removal is a per-row array lambda (map-only, corpus never
    // token-exploded)
    "q_contamination_clean" -> ((s, dir) => {
      val docs = ColOps.table(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 4)
    }),

    // MinHash signatures: k portable min-hashes per doc, zero shuffle.
    // One scalar BIGINT column per hash (mh_00..mh_15) — the driver's
    // comparator can't sort array cells (see q_consecutive).
    "q_minhash_sig" -> ((s, dir) => {
      val mh = (0 until Dedup.NumHashes).map(i =>
        element_at(col("minhash"), i + 1).as(f"mh_$i%02d"))
      Dedup.minhashSignatures(ColOps.table(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id") +: mh: _*)
    }),

    // LSH near-dup: banded bucket join → candidate pairs → exact
    // shingle Jaccard ≥ 0.5 (never all-pairs)
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.jaccardPairs(ColOps.table(s, dir, "documents"), "doc_id", "text")
        .filter(col("jaccard") >= 0.5)),

    // n-gram Jaccard verification of every LSH candidate pair
    "q_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(ColOps.table(s, dir, "documents"), "doc_id", "text")),

    // character-level edit distance on the same LSH candidates — the
    // strictest verifier; O(|a|·|b|) bounded to candidate pairs only
    "q_edit_distance" -> ((s, dir) =>
      Dedup.editDistancePairs(ColOps.table(s, dir, "documents"), "doc_id", "text")),

    // asymmetric containment on the same LSH candidates — catches a doc
    // EMBEDDED in a longer one (J ≈ 0 but C(a→b) ≈ 1); identical
    // candidate/cap machinery, only the verify arithmetic differs
    "q_containment" -> ((s, dir) =>
      Dedup.containmentPairs(ColOps.table(s, dir, "documents"), "doc_id", "text")),

    // near-dup clustering: connected components over the verified pairs —
    // iterative min-label propagation to the component's smallest doc_id
    // (keep = the doc is its cluster's canonical representative)
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(ColOps.table(s, dir, "documents"), "doc_id", "text")),

    // representative selection: the token-richest doc survives per
    // cluster (integer score → engine-independent rank cut)
    "q_dedup_keep_best" -> ((s, dir) =>
      Dedup.keepBest(ColOps.table(s, dir, "documents"), "doc_id", "text")),

    // SimHash fingerprints
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashDf(ColOps.table(s, dir, "documents"), "doc_id", "text")),

    // per-doc boilerplate ratio: shingles appearing in >= 3 docs, exact
    // ppm integer score — two passes over one checkpointed shingle table
    "q_boilerplate" -> ((s, dir) =>
      Dedup.boilerplateRatio(ColOps.table(s, dir, "documents"),
        "doc_id", "text", 3L)),

    // capped-postings inverted index: stats from the full aggregation,
    // posting-list head via WindowGroupLimit (per-key top-k heap)
    "q_inverted_index" -> ((s, dir) =>
      Relevance.invertedIndex(ColOps.table(s, dir, "documents"),
        "doc_id", "text", 16)),

    // language ID (stopword heuristic)
    "q_lang_id" -> ((s, dir) =>
      ColOps.table(s, dir, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))),

    // language-ID confusion matrix: declared lang × predicted lang —
    // the classifier-eval aggregate (one hash aggregate, |langs|² rows)
    "q_lang_confusion" -> ((s, dir) =>
      ColOps.table(s, dir, "documents")
        .select(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))),

    // cross-split near-dup leakage audit: near-dup pairs spanning
    // train/val/test boundaries (empty output = leakage-free split)
    "q_split_leakage" -> ((s, dir) =>
      Sampling.splitLeakage(ColOps.table(s, dir, "documents"),
        "doc_id", "text", SplitCuts, 0.5)),

    // quality scoring
    "q_text_quality" -> ((s, dir) => {
      val d = ColOps.table(s, dir, "documents")
      d.select(col("doc_id") +: TextOps.qualityCols(col("text")): _*)
    }),

    // composite C4/Gopher-style quality filter: per-rule flags + keep +
    // first-fail reason, single map-only pass, integer-only comparisons
    "q_quality_filter" -> ((s, dir) =>
      TextOps.qualityFilter(ColOps.table(s, dir, "documents"), "doc_id", "text")),

    // TRAINED quality classifier (the CCNet/RefinedWeb/DCLM move):
    // hashed bag-of-words linear model distilled from the heuristic
    // keep flag by integer-exact batch-perceptron rounds — features
    // checkpointed once, the model broadcast each round, rounds fixed
    // and corpus-size-independent; output = the final weight vector.
    // The FITTED model is a per-JVM per-corpus artifact (the persisted-
    // index discipline): five quality queries consume it, one training
    // produces it
    "q_quality_train" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      qualityModelFor(s, dir).w.zipWithIndex
        .map { case (v, d) => (d.toLong, v) }.toSeq.toDF("d", "w")
    }),

    // TRAINED language-ID — one-vs-rest averaged perceptrons over
    // hashed char-3-gram features (the fastText shape), trained on the
    // SIX-SCRIPT decoded charset corpus (ja/ko/zh/ru/de/el pages with
    // slot-language labels — the one fixture whose text genuinely
    // carries language signal; documents.lang is a random synthetic
    // label). Model rows (lang, d, w) hash-match an in-SQL retrain
    // (class-keyed unrolled fixed rounds, QualityModel discipline);
    // one fit per JVM serves both queries (the qualityModelFor
    // artifact discipline)
    "q_langid_train" -> ((s, dir) =>
      LangModel.modelRows(s, langModelFor(s, dir))),

    // the trained lang-ID APPLIED: per doc all K class margins in one
    // broadcast pass, prediction = argmax (ties to the alphabetically
    // first class), agree = prediction vs the slot label. The ASCII
    // stopword heuristic scores ~1/6 on this corpus (it only knows
    // de); the trained model must classify every script (spec-pinned
    // contrast in LangModelSpec)
    "q_langid_score" -> ((s, dir) =>
      LangModel.scoreWith(charsetLabeledCorpus(s, dir),
        "doc_id", "text", "lang", langModelFor(s, dir))),

    // the trained model APPLIED as one broadcast scoring pass: per doc
    // the integer margin, the prediction, and the distillation-
    // fidelity bit (model vs teacher) the selection tier thresholds on
    "q_quality_score" -> ((s, dir) =>
      QualityModel.scoreWith(ColOps.table(s, dir, "documents"),
        "doc_id", "text", qualityModelFor(s, dir))),

    // raw-HTML → clean text: read the staged one-page-per-line crawl
    // fixture, recover doc_id from the page's data attribute, strip
    // markup + decode entities + apply the C4 line rules — a map-only
    // codegen pass, no shuffle (the first stage of a curation pipeline)
    "q_html_extract" -> ((s, dir) => {
      val pages = Sources.textLines(s, stagedHtml(s, dir).toString).ds.toDF()
        .select(regexp_extract(col("value"), "data-doc=\"([0-9]+)\"", 1)
          .cast("long").as("doc_id"), col("value").as("html"))
      Html.extract(pages, "doc_id", "html")
    }),

    // CHARACTER-REFERENCE decode — the WHATWG layer real multilingual
    // pages need: the fixture NCR-encodes every non-ASCII char of
    // (doc text + the doc's Charsets slot text) into decimal/hex
    // references plus a raw named/edge-case battery; the engine's
    // single-pass decoder (numeric + C1 remap + U+FFFD classes + named
    // set, one codegen'd map pass) must reproduce the plain text the
    // oracle predicts from documents + constants — one mis-decoded
    // reference anywhere breaks the hash
    "q_html_entities" -> ((s, dir) => {
      val parts = split(col("value"), "\t", 2)
      s.read.text(stagedNcrLines(s, dir).toString).select(
        parts.getItem(0).cast("long").as("doc_id"),
        graft.functions.HtmlEntityDecode.html_entity_decode(parts.getItem(1))
          .as("text"))
    }),

    // corpus-level extraction HEALTH audit — the over-stripping guard
    // (empty-extraction spike + exact ppm drop rate): the signal that
    // makes stripBlocks' documented comment-ordering tradeoff
    // detectable on real data instead of silent
    "q_html_audit" -> ((s, dir) => {
      val pages = Sources.textLines(s, stagedHtml(s, dir).toString).ds.toDF()
        .select(regexp_extract(col("value"), "data-doc=\"([0-9]+)\"", 1)
          .cast("long").as("doc_id"), col("value").as("html"))
      Html.extractAudit(pages, "doc_id", "html")
    }),

    // STREAMING crawl ingest — the "pages arrive continuously" shape:
    // a real file SOURCE discovers the html shards (one per
    // micro-batch) and the full extraction chain runs stateless inside
    // the stream; shares the batch extraction oracle
    "q_html_stream" -> ((s, dir) => {
      val shards = stagedHtmlShards(s, dir)
      graft.streaming.StreamExec.runSourceStream(s) {
        val pages = s.readStream
          .option("maxFilesPerTrigger", "1").text(shards.toString)
          .select(regexp_extract(col("value"), "data-doc=\"([0-9]+)\"", 1)
            .cast("long").as("doc_id"), col("value").as("html"))
        Html.extract(pages, "doc_id", "html")
      }
    }),

    // the FULL crawl front door: .warc.gz shards (Common Crawl layout,
    // one gzip member per WARC record) → hand-rolled multi-member
    // gunzip → Content-Length-framed record parse → response filter →
    // HTTP header strip → markup extraction; the two framing layers
    // built-ins can't express are custom codegen expressions, the rest
    // is the existing built-in chain — one map-only pass, zero shuffle,
    // and the oracle is q_html_extract's VERBATIM (any mistake in any
    // decode layer breaks the hash)
    "q_warc_extract" -> ((s, dir) =>
      Warc.extract(s.read.format("binaryFile")
        .load(stagedWarcShards(s, dir).toString))),

    // ingest audit for the same shards: per record TYPE, count + total
    // payload bytes — proves the framing parser sees every record
    // (warcinfo/request/response), not just the responses extraction
    // keeps; oracle PREDICTS each payload length from documents + the
    // rendering constants
    "q_warc_records" -> ((s, dir) =>
      Warc.recordAudit(s.read.format("binaryFile")
        .load(stagedWarcShards(s, dir).toString))),

    // RECOVERY-mode ingest over a DAMAGED archive: every 10th doc's
    // response record has a corrupted magic; the lenient parser skips
    // exactly that record (to the next magic) and counts it — per
    // shard, survivors + malformed count + the EXACT bytes skipped
    // (closed-form record length), so a drop is observable, never
    // silent. The strict parser remains the dispatch/audit contract
    "q_warc_recover" -> ((s, dir) =>
      Warc.recoveryAudit(s.read.format("binaryFile")
        .load(stagedDamagedWarcShards(s, dir).toString))),

    // REDIRECT capture handling: 3xx responses (301/302 with Location
    // headers — what real crawls archive in volume) decode into the
    // frontier-update edge set (canonical source → canonical target →
    // status); both canonicals predicted from doc_id, the 200s in the
    // same shards prove the status filter binds
    "q_warc_redirects" -> ((s, dir) =>
      Warc.redirectEdges(Warc.records(s.read.format("binaryFile")
        .load(stagedRedirectShards(s, dir).toString)))),

    // SITEMAP seeds — the REP discovery channel beside robots.txt:
    // per-site XML parsed (loc extraction + entity unescape) into
    // canonicalized frontier seeds, profiled per site (loc count vs
    // distinct canonical pages — the re-crawl variance a seeded
    // frontier immediately collapses)
    "q_sitemap_seeds" -> ((s, dir) =>
      Urls.sitemapSeeds(
        s.read.option("wholetext", "true")
          .text(stagedSitemaps(s, dir).toString)
          .select(input_file_name().as("path"), col("value").as("xml")))),

    // STREAMING corpus build — the production dual of
    // q_corpus_build_warc: time-ordered .warc.gz segments arrive
    // through a real binaryFile source; each batch runs the full front
    // door + quality gate + INCREMENTAL exact dedup (within-batch
    // keep-min, then anti-join against the layout so far) and appends
    // its fresh survivors into a hash-bucketed versioned layout; the
    // serve runs the tokenizer tail over the pinned version. Shares
    // the batch oracle VERBATIM (appends ≡ rebuild; StreamingSpec pins
    // the version never moving and the layout equaling the batch canon)
    "q_corpus_build_stream" -> ((s, dir) =>
      corpusBuildStreamAt(s, dir, Scratch.fresh("corpus_ingest_").toString)),

    // PDF TEXT TIER — the non-HTML document fraction of a real crawl:
    // application/pdf responses mime-route to the hand-rolled PDF
    // extractor (classic xref, obj/stream framing, FlateDecode via the
    // hand-rolled inflate, BT/ET + Tj/TJ text ops with full
    // literal-string escapes); every second doc's content stream is
    // real zlib; the doc text must round-trip EXACTLY (escapes, the
    // kerned TJ split, inflation) — the oracle is the documents table
    "q_pdf_extract" -> ((s, dir) =>
      Warc.extractPdf(s.read.format("binaryFile")
        .load(stagedPdfShards(s, dir).toString))),

    // CID/Type0 (CJK) PDF text — the documents the plain-literal tier
    // used to drop wholesale: 2-byte-CID hex strings decoded through
    // the font's /ToUnicode CMap (bfchar + bfrange); each doc's page
    // text is its Charsets SLOT text, so one mis-mapped code point
    // breaks the oracle hash
    "q_pdf_cjk" -> ((s, dir) =>
      Warc.extractPdf(s.read.format("binaryFile")
        .load(stagedPdfCjkShards(s, dir).toString))),

    // STREAMING PDF ingest — "pdf-bearing archives land continuously":
    // one shard per micro-batch through a real binaryFile source, the
    // full chain (gunzip → framing → envelope → xref/stream parse →
    // FlateDecode → text ops) stateless inside the stream; batch
    // oracle shared
    "q_pdf_stream" -> ((s, dir) => {
      val shards = stagedPdfShards(s, dir)
      graft.streaming.StreamExec.runSourceStream(s) {
        Warc.extractPdf(s.readStream
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "1")
          .format("binaryFile").load(shards.toString))
      }
    }),

    // NESTED sitemap discovery — the full sitemaps.org shape: per-site
    // sitemapindex files name GZIPPED leaf sitemaps, leaves are fetched
    // BY REFERENCE (broadcast name join; an orphan leaf the indexes
    // never name must contribute nothing), gunzipped by the engine
    // inflate and parsed into the q_sitemap_seeds profile — whose
    // oracle is shared VERBATIM (index + gzip + orphan layers must be
    // exactly transparent)
    "q_sitemap_index" -> ((s, dir) => {
      val p = stagedSitemapIndex(s, dir).toString
      Urls.sitemapIndexSeeds(
        s.read.option("wholetext", "true")
          .option("pathGlobFilter", "index-*.xml").text(p)
          .select(input_file_name().as("path"), col("value").as("xml")),
        s.read.format("binaryFile")
          .option("pathGlobFilter", "leaf-*.xml.gz").load(p))
    }),

    // redirect-AWARE frontier: 301 captures adopt their Location
    // target's canonical identity BEFORE frontier dedup (the old and
    // new URL are the same page — dedup on the source canonical would
    // re-fetch both forever); 302s keep the source identity
    "q_frontier_redirect" -> ((s, dir) =>
      Warc.frontierWithRedirects(
        Warc.records(s.read.format("binaryFile")
          .load(stagedRedirectShards(s, dir).toString)),
        // keeper id: the fixture's record ids end in the doc id — the
        // id scheme is archive-specific, so the extraction lives at
        // the call site, not inside the operator
        idOf = regexp_extract(col("record_id"), "graft-redirect-([0-9]+)>$", 1)
          .cast("long"))),

    // CHARSET-REALISM decode: the same front door over an archive whose
    // responses rotate eight legacy encodings (shift_jis, euc-jp,
    // euc-kr, gbk, big5, windows-1251, iso-8859-2, windows-1253) and
    // four declaration channels — header param, meta-only, BOM with a
    // LYING header the sniff must overrule, and undeclared mojibake
    // whose U+FFFD replacements are counted, not silent. Oracle
    // predicts every column (decoded CJK/Cyrillic text included) from
    // documents + the fixture constants
    "q_charset_decode" -> ((s, dir) =>
      Charsets.decode(Warc.records(s.read.format("binaryFile")
        .load(stagedCharsetShards(s, dir).toString)))),

    // the mojibake fix COMPOSED into the token tier — the very failure
    // the charset work exists to prevent: Unicode vocab statistics over
    // the legacy-encoded archive's DECODED page bodies (shift_jis /
    // euc / gbk / big5 / cp1251 / latin-2 / greek pages all survive
    // into the token inventory; under the old utf-8 fallback every one
    // of them would have been U+FFFD soup and this hash would break)
    "q_charset_vocab" -> ((s, dir) => {
      val decoded = Charsets.decode(Warc.records(s.read.format("binaryFile")
        .load(stagedCharsetShards(s, dir).toString)))
      TextOps.vocabSummaryUnicode(
        decoded.filter(col("charset_source") =!= "default")
          .select(col("doc_id"),
            regexp_extract(col("text"), "<p>(.*)</p>", 1).as("text")),
        "text", 50L)
    }),

    // STREAMING charset decode — "legacy-encoded archives land
    // continuously": a real binaryFile source discovers the charset
    // shards one per micro-batch and the full sniff chain (gunzip →
    // framing → BOM/header/meta resolution → counted replacements)
    // runs stateless inside the stream; shares the batch oracle
    "q_charset_stream" -> ((s, dir) => {
      val shards = stagedCharsetShards(s, dir)
      graft.streaming.StreamExec.runSourceStream(s) {
        Charsets.decode(Warc.records(s.readStream
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "1")
          .format("binaryFile").load(shards.toString)))
      }
    }),

    // and into the LANGUAGE tier: lang-ID over the decoded legacy
    // pages — each slot's script must identify as its language
    // (shift_jis/euc-jp→ja, euc-kr→ko, gbk/big5→zh, cp1251→ru,
    // latin-2→de, greek→el); under the old fallback every CJK/Cyrillic
    // page was U+FFFD soup and identified as nothing
    "q_charset_langid" -> ((s, dir) =>
      Charsets.decode(Warc.records(s.read.format("binaryFile")
          .load(stagedCharsetShards(s, dir).toString)))
        .filter(col("charset_source") =!= "default")
        .select(col("doc_id"),
          TextOps.langIdUnicode(
            regexp_extract(col("text"), "<p>(.*)</p>", 1)).as("lang_pred"))),

    // corpus-level mojibake audit over the same archive: per sniff tier
    // (bom/header/meta/default), docs seen, docs with replacements,
    // total U+FFFD count and the replacement ppm — the q_html_audit
    // sibling that makes silent charset damage observable
    "q_charset_audit" -> ((s, dir) =>
      Charsets.audit(Warc.records(s.read.format("binaryFile")
        .load(stagedCharsetShards(s, dir).toString)))),

    // the recovery mode COMPOSED into the front door: extraction over
    // the damaged archive — a corrupted record costs exactly its own
    // page (oracle = the extraction oracle minus the damaged docs),
    // everything around it decodes and extracts untouched
    "q_warc_extract_recover" -> ((s, dir) =>
      Warc.extractLenient(s.read.format("binaryFile")
        .load(stagedDamagedWarcShards(s, dir).toString))),

    // STREAMING crawl-archive ingest — the "new .warc.gz shards land
    // continuously" shape: a real binaryFile SOURCE discovers one
    // shard per micro-batch and the FULL front door (multi-member
    // gunzip → record framing → HTTP strip → extraction) runs
    // stateless inside the stream; shares the batch extraction oracle
    "q_warc_stream" -> ((s, dir) => {
      val shards = stagedWarcShards(s, dir)
      graft.streaming.StreamExec.runSourceStream(s) {
        Warc.extract(s.readStream
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "1")
          .format("binaryFile").load(shards.toString))
      }
    }),

    // host-level LINK GRAPH off the raw archive (the Common Crawl
    // webgraph product): response pages → absolute outlinks (href
    // extraction + attribute unescape) → (source domain from the
    // record's target URI, destination domain from the link) → edge
    // weights; one map pass then one hash aggregate on the edge key
    "q_link_graph" -> ((s, dir) =>
      Warc.linkDomainEdges(Warc.records(s.read.format("binaryFile")
          .load(stagedWarcShards(s, dir).toString)))
        .groupBy(col("src_domain"), col("dst_domain"))
        .agg(count(lit(1)).as("n_links"))),

    // PageRank over the domain link graph (the webgraph ranking product
    // — link centrality as a crawl-quality prior, computed straight off
    // the archive): the q_link_graph edge derivation feeds the existing
    // damped PageRank. Node ids are derived from the domain STRING
    // (site index × 5 + tld index) so the oracle can predict them; at
    // real scale you'd dense-rank or hash the domain strings instead
    "q_domain_rank" -> ((s, dir) => {
      def nodeId(domain: Column): Column =
        regexp_extract(domain, "^site([0-9]+)", 1).cast("long") * 7 +
          when(domain.endsWith(".github.io"), 4L) // before the .io test
            .when(domain.endsWith(".com"), 0L).when(domain.endsWith(".org"), 1L)
            .when(domain.endsWith(".co.uk"), 2L).when(domain.endsWith(".io"), 3L)
            .when(domain.endsWith(".co.jp"), 5L)
            .otherwise(6L)
      val edges = Warc.linkDomainEdges(Warc.records(s.read.format("binaryFile")
          .load(stagedWarcShards(s, dir).toString)))
        .select(nodeId(col("src_domain")).as("src"),
          nodeId(col("dst_domain")).as("dst"))
      Graph.pageRank(edges, iters = 3)
    }),

    // CDX-style crawl index: canonical URL → (shard, in-shard
    // record position, record id) for every response record — the
    // random-access index a crawl archive serves from. Pins that record
    // ORDER survives the gzip-member + framing decode: the oracle
    // PREDICTS every position from doc_id alone (warcinfo at 0, then
    // per doc an optional request before its response)
    "q_cdx_index" -> ((s, dir) =>
      Warc.cdxIndex(s.read.format("binaryFile")
        .load(stagedWarcShards(s, dir).toString))),

    // INCREMENTAL CDX maintenance: arriving .warc.gz shards discovered
    // by a real binaryFile stream append into the pinned version of a
    // canonical-bucketed versioned layout (the crawl-side dual of
    // q_ann_ingest_stream); serve reads the pinned version — bootstrap
    // + appends ≡ full rebuild, so the batch oracle is shared verbatim
    "q_cdx_ingest_stream" -> ((s, dir) => cdxIngestStream(s, dir)),

    // TRUNCATED captures (Common Crawl's size limit): records marked
    // WARC-Truncated carry the CUT payload with Content-Length framing
    // the stored bytes; the audit surfaces how many and how much was
    // kept — every count and byte total a closed doc_id formula
    "q_warc_truncated" -> ((s, dir) =>
      Warc.truncationAudit(Warc.records(s.read.format("binaryFile")
        .load(stagedTruncatedShards(s, dir).toString)))),

    // extraction posture over the same archive: truncated captures are
    // SKIPPED (a half page poisons text statistics; the audit above
    // makes the drop observable) — oracle = extraction minus exactly
    // the truncated docs, the damaged-archive discipline
    "q_warc_extract_trunc" -> ((s, dir) =>
      Warc.extractSkippingTruncated(s.read.format("binaryFile")
        .load(stagedTruncatedShards(s, dir).toString))),

    // the CDX over a REVISIT-BEARING archive — the index counts each
    // page ONCE (the response row; revisit records are filtered like
    // any non-response type) while still seeking correctly: revisit
    // members SHIFT later records' in-shard positions, and the oracle
    // re-derives every shifted position from doc_id alone — so a
    // parser that miscounts (or an index that double-lists re-fetched
    // pages) breaks the hash
    "q_cdx_revisit" -> ((s, dir) =>
      Warc.cdxIndex(s.read.format("binaryFile")
        .load(stagedRevisitShards(s, dir).toString))),

    // payload-integrity audit: per record type, digests present and
    // VERIFIED (sha1 of the received payload == the header) — the
    // end-to-end proof the gzip + framing decode delivered every byte;
    // the oracle predicts all counts from documents + rendering rules
    // (warcinfo carries no digest by the fixture's rendering rule)
    "q_warc_digest" -> ((s, dir) =>
      Warc.digestAudit(Warc.records(s.read.format("binaryFile")
        .load(stagedWarcShards(s, dir).toString)))),

    // WET front door (the extracted-text archive sibling): gunzip →
    // framing → conversion records → payload text; oracle predicts both
    // columns from documents + rendering constants
    "q_wet_extract" -> ((s, dir) =>
      Warc.extractWet(s.read.format("binaryFile")
        .load(stagedWetShards(s, dir).toString))),

    // WAT front door (the metadata archive sibling): gunzip → framing →
    // metadata records → explicit-schema from_json (no inference pass
    // over 100 TB) → typed envelope fields; oracle predicts every field
    // from doc_id + the response-length math q_warc_records pinned
    "q_wat_meta" -> ((s, dir) =>
      Warc.extractWat(s.read.format("binaryFile")
        .load(stagedWatShards(s, dir).toString))),

    // the CURATED raw-archive flagship: URL-frontier dedup runs BEFORE
    // any page bytes are parsed — keep the first record (by
    // WARC-Record-ID) per canonical target URI, a partial
    // WindowGroupLimit on the canonical key — then the kept records
    // flow through HTTP strip → extraction → the full corpus-build
    // tail. The oracle derives the SAME keep set from doc_id alone
    // (urls and record ids are both doc_id-rendered), so every layer
    // of the curation is hash-checked end-to-end
    "q_corpus_build_curated" -> ((s, dir) =>
      curatedCorpusBuild(s.read.format("binaryFile")
        .load(stagedWarcShards(s, dir).toString))),

    // the curated flagship WITH the near-dup stage: frontier dedup →
    // extract → quality → exact dedup → MinHash keep-best cut (banded
    // capped candidates, cluster representative = token-richest) →
    // BPE train → encode → pack — the full production corpus order
    "q_corpus_build_near" -> ((s, dir) =>
      curatedCorpusBuildNear(s.read.format("binaryFile")
        .load(stagedWarcShards(s, dir).toString))),

    // the ARCHIVE → URL-curation handoff: each response record's
    // WARC-Target-URI (the Urls fixture URL, all nine crawl-noise axes)
    // is parsed/canonicalized/domain-profiled straight off the decoded
    // records — proving the URI survives the gzip + framing layers
    // byte-exact; total_bytes aggregates the PREDICTED payload lengths
    "q_warc_urls" -> ((s, dir) =>
      Urls.domainStats(
        Warc.records(s.read.format("binaryFile")
            .load(stagedWarcShards(s, dir).toString))
          .filter(col("warc_type") === "response")
          .select(col("record_id"), col("target_uri").as("url"),
            col("content_length")),
        "record_id", "url", "content_length")
        .withColumnRenamed("total_chars", "total_bytes")),

    // robots-exclusion (REP) compliance over the URL frontier: per-host
    // allow/disallow path-prefix rules broadcast against the URLs; the
    // most SPECIFIC rule wins (longest prefix, allow on ties), default
    // allow — site n%3==0 blocks all articles, n%3==1 blocks /Articles/1
    // but re-allows the more specific /Articles/12, n%3==2 has no rules
    "q_robots_filter" -> ((s, dir) =>
      Robots.filter(ColOps.table(s, dir, "documents")
          .select(col("doc_id"), Urls.urlCol(col("doc_id")).as("url")),
        "doc_id", "url", Robots.fixtureRules(s))),

    // the robots.txt TEXT layer — the derivation the rule tables were
    // previously assumed to come from: real robots.txt bytes (mixed
    // case, CRLF, comments, empty-Disallow, unknown fields, multi-group
    // files) → RFC 9309 group parse → per-site directive rows; the
    // oracle predicts every row from the site axes
    "q_robots_parse" -> ((s, dir) =>
      Robots.directivesFromTxt(robotsTxtFiles(s, dir))),

    // the text layer COMPOSED into the REP gate: parse robots.txt →
    // reconstruct the '*'-group path rules → the same broadcast
    // most-specific-rule filter — sharing q_robots_filter's oracle
    // VERBATIM (the parse must reproduce the in-plan rule fixture
    // exactly, or the hash breaks)
    "q_robots_filter_txt" -> ((s, dir) =>
      Robots.filter(ColOps.table(s, dir, "documents")
          .select(col("doc_id"), Urls.urlCol(col("doc_id")).as("url")),
        "doc_id", "url",
        Robots.pathRulesFromTxt(
          Robots.directivesFromTxt(robotsTxtFiles(s, dir)), "*"))),

    // the FULL REP discovery chain: robots.txt `Sitemap:` directives →
    // by-reference fetch of the gzipped leaf sitemaps → canonicalized
    // per-site seed profile — sharing q_sitemap_seeds' oracle VERBATIM
    // (robots parse + reference join + gzip must all be transparent)
    "q_robots_discovery" -> ((s, dir) => {
      val refs = Robots.directivesFromTxt(robotsTxtFiles(s, dir))
        .filter(col("kind") === "sitemap")
        .select(regexp_extract(col("value"), "/([^/]+\\.xml\\.gz)$", 1)
          .as("ref_name"))
        .filter(col("ref_name") =!= "").distinct()
      Urls.seedsFromLeafRefs(refs,
        s.read.format("binaryFile")
          .option("pathGlobFilter", "leaf-*.xml.gz")
          .load(stagedSitemapIndex(s, dir).toString))
    }),

    // classifier EVALUATION — the metrics a model gate reads before
    // promoting a quality classifier: confusion counts vs the teacher
    // plus exact-integer ppm accuracy/precision/recall; one aggregate
    // over the scored corpus
    "q_quality_eval" -> ((s, dir) => {
      val sc = QualityModel.scoreWith(ColOps.table(s, dir, "documents"),
        "doc_id", "text", qualityModelFor(s, dir))
      sc.agg(
          count(lit(1)).as("n"),
          sum(when(col("pred") && col("y") > 0L, 1L).otherwise(0L)).as("tp"),
          sum(when(col("pred") && col("y") < 0L, 1L).otherwise(0L)).as("fp"),
          sum(when(!col("pred") && col("y") > 0L, 1L).otherwise(0L)).as("fn"),
          sum(when(!col("pred") && col("y") < 0L, 1L).otherwise(0L)).as("tn"))
        .withColumn("acc_ppm", expr("(tp + tn) * 1000000L div n"))
        .withColumn("precision_ppm",
          expr("CASE WHEN tp + fp > 0 THEN tp * 1000000L div (tp + fp) ELSE 0L END"))
        .withColumn("recall_ppm",
          expr("CASE WHEN tp + fn > 0 THEN tp * 1000000L div (tp + fn) ELSE 0L END"))
    }),

    // the trained score FEEDING the selection tier — per-source volume
    // caps kept by MODEL score instead of a heuristic: the curation
    // move the classifier exists for (no source contributes more than
    // k docs, and the k kept are the model's best); WindowGroupLimit
    // partial top-k below the exchange, same as q_source_cap
    "q_quality_select" -> ((s, dir) => {
      val d = ColOps.table(s, dir, "documents")
      val sc = QualityModel.scoreWith(d, "doc_id", "text", qualityModelFor(s, dir))
        .select(col("doc_id"), col("score"))
      Sampling.qualityCap(
          d.select(col("doc_id"), col("source")).join(sc, "doc_id"),
          "source", "doc_id", col("score"), k = 50)
        .select(col("doc_id"), col("source"), col("score"),
          col("rk").cast("long").as("rk"))
    }),

    // the MAINTENANCE loop over the serve shape — the classifier ages
    // with the crawl: pinned v1 serves while arriving batches measure
    // teacher-fidelity drift and republish retrained versions into the
    // versioned model layout; the oracle trains on the initial slice
    // only and serves the full corpus with it, so any leakage of a
    // retrained model into the pinned serving path breaks the hash
    "q_quality_retrain_stream" -> ((s, dir) => qualityRetrainStream(s, dir)),

    // the SERVE shape of the trained classifier — train on the corpus
    // ONCE (the model artifact: 4×70 Longs), then score ARRIVING docs
    // forever: a real text source delivers one shard per micro-batch
    // and the stateless broadcast-model scorer appends per-batch
    // results; shares the batch scoring oracle VERBATIM (serve ≡ batch)
    "q_quality_stream" -> ((s, dir) => {
      // train on the SAME one-line-per-doc text the staged shards carry
      // (replace '\n' with ' ', the staging convention) so serve and
      // train see identical tokens even if the corpus ever gains
      // newlines; the oracle shadows documents the same way (review
      // finding — the raw/sanitized split was latent)
      val m = qualityModelFor(s, dir, sanitized = true)
      val outDir = Scratch.fresh("qserve_").toString
      val shards = stagedTextShards(s, dir)
      graft.streaming.StreamExec.runSourceForeachBatch(s) {
        s.readStream.option("maxFilesPerTrigger", "1").text(shards.toString)
      } { (batch, _) =>
        QualityModel.scoreWith(parseStagedTextLine(batch), "doc_id", "text", m)
          .write.mode("append").parquet(outDir)
        ()
      }
      s.read.parquet(outDir)
    }),

    // frontier POLITENESS schedule: REP user-agent GROUP resolution
    // (sites n%5==0 publish a graftbot group that wins OUTRIGHT —
    // groups never merge, so the generic article blocks stop applying
    // there), path-rule gate, then per-host crawl-delay admission (at
    // most one fetch per host per its own delay window, first by
    // (t, id)) via the generalized per-row-width throttle; arrival
    // times rendered from doc_id so the oracle replays the schedule
    "q_frontier_schedule" -> ((s, dir) => {
      val (rules, delays) = Robots.fixtureGroups(s)
      Robots.frontierSchedule(
        ColOps.table(s, dir, "documents")
          .select(col("doc_id"), Urls.urlCol(col("doc_id")).as("url"),
            (col("doc_id") * 333333L).as("t_us")),
        "doc_id", "url", "t_us", rules, delays)
    }),

    // the SAME politeness admission executed THROUGH Structured
    // Streaming with keyed state: group resolution + rule gate +
    // bucket derivation are stateless enrichment BEFORE the stream
    // (they depend only on the row), and the one-per-(host, window)
    // admission happens in transformWithState — the q_throttle_stream
    // machinery with the crawl-delay bucket; feed is (t, id)-ordered
    "q_frontier_schedule_stream" -> ((s, dir) => {
      import s.implicits._
      val (rules, delays) = Robots.fixtureGroups(s)
      val rows = Robots.frontierSchedule(
        ColOps.table(s, dir, "documents")
          .select(col("doc_id"), Urls.urlCol(col("doc_id")).as("url"),
            (col("doc_id") * 333333L).as("t_us")),
        "doc_id", "url", "t_us", rules, delays, admittedOnly = false)
        .select(col("site_n").cast("long"), col("bucket"),
          col("t_us"), col("doc_id"))
        .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._3, r._4)).toSeq
      graft.streaming.StreamExec.runStreamingAppend[(Long, Long, Long, Long)](
        s, rows,
        ds => graft.streaming.Throttle.admit(ds, 1)
          .toDF("doc_id", "site_n", "bucket", "rk"),
        quantum = streamQuantum2(rows.size))
    }),

    // ----- URL curation (the metadata half of the crawl front door) -----
    // the fixture URL is rendered in-plan from doc_id (Urls.urlCol; the
    // oracle rebuilds the identical string in SQL) — page identity keyed
    // by doc_id % 150, crawl noise (scheme/host case, www, default port,
    // utm params, /index.html, trailing slash, fragment) by doc_id

    // RFC-3986-shaped parse + eTLD+1 registered domain: map-only
    "q_url_parse" -> ((s, dir) =>
      Urls.parse(ColOps.table(s, dir, "documents")
        .select(col("doc_id"), Urls.urlCol(col("doc_id")).as("url")),
        "doc_id", "url")),

    // canonicalization: the re-crawl variance collapsed per policy
    "q_url_normalize" -> ((s, dir) =>
      Urls.normalize(ColOps.table(s, dir, "documents")
        .select(col("doc_id"), Urls.urlCol(col("doc_id")).as("url")),
        "doc_id", "url")),

    // crawl-frontier dedup on the canonical form: keep-first + group
    // size, ONE hash aggregate — runs before any page bytes are fetched
    "q_url_dedup" -> ((s, dir) =>
      Urls.dedupCanonical(ColOps.table(s, dir, "documents")
        .select(col("doc_id"), Urls.urlCol(col("doc_id")).as("url")),
        "doc_id", "url")),

    // per-registered-domain corpus profile: volume, subdomains, distinct
    // canonical pages, text bytes — one shuffle on the domain key
    "q_domain_stats" -> ((s, dir) =>
      Urls.domainStats(ColOps.table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          Urls.urlCol(col("doc_id")).as("url")),
        "doc_id", "url", "n_chars")),

    // per-domain volume cap: top-5 docs by size per registered domain;
    // rank<=k plans as a partial WindowGroupLimit below the exchange
    "q_domain_cap" -> ((s, dir) =>
      Urls.domainCap(ColOps.table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          Urls.urlCol(col("doc_id")).as("url")),
        "doc_id", "url", "n_chars", 5)),

    // the text-quality battery consuming the EXTRACTION's output (kept
    // lines re-flattened to single-space text) — proves the extracted
    // corpus feeds the downstream family unchanged
    "q_html_quality" -> ((s, dir) => {
      val pages = Sources.textLines(s, stagedHtml(s, dir).toString).ds.toDF()
        .select(regexp_extract(col("value"), "data-doc=\"([0-9]+)\"", 1)
          .cast("long").as("doc_id"), col("value").as("html"))
      val extracted = pages.select(col("doc_id"),
        call_function("replace", Html.extractText(col("html")), lit("\n"), lit(" "))
          .as("text"))
      TextOps.qualityFilter(extracted, "doc_id", "text")
    }),

    // corpus-LM quality scoring: add-one-smoothed bigram model trained
    // ON the corpus (two count aggregates), every doc scored by summed
    // micro-scaled log-probability — the KenLM-filter shape
    "q_lm_score" -> ((s, dir) =>
      TextOps.bigramLmScore(ColOps.table(s, dir, "documents"), "doc_id", "text")),

    // threshold SELECTION CURVE over the LM quality scores: per
    // candidate per-bigram log-prob cutoff, how many docs (and how many
    // bigrams of training weight) survive — one scan, 2K conditional
    // aggregates, in-plan stack unpivot; the cutoff compare is exact
    // integer cross-multiplication, no FP division
    "q_selection_curve" -> ((s, dir) =>
      Sampling.selectionCurve(
        TextOps.bigramLmScore(ColOps.table(s, dir, "documents"), "doc_id", "text"),
        "lp_micro", "n_bigrams", SelectionThresholds)),

    // HELD-OUT LM eval: bigram counts from the hash-split train
    // partition only, every val/test doc scored against them (add-one
    // smoothing, unseen words/bigrams coalesced — no OOV drops). The
    // train/eval discipline q_lm_score deliberately skips.
    "q_lm_perplexity" -> ((s, dir) =>
      TextOps.heldOutLmScore(ColOps.table(s, dir, "documents"),
        "doc_id", "text",
        Sampling.splitExpr(col("doc_id"), SplitCuts) === "train")),

    // PMI collocations over corpus bigrams (count-thresholded, micro-
    // scaled ln) — three count aggregates + narrow-key joins, no sort
    "q_pmi" -> ((s, dir) =>
      TextOps.pmiCollocations(ColOps.table(s, dir, "documents"), "text", 5L)),

    // the quality filter executed THROUGH Structured Streaming — the
    // NINTH streaming-executed query: stateless per-row rule battery
    // (one row in, one row out, no state store), same oracle as the
    // batch q_quality_filter because a pipe's semantics must not depend
    // on which engine path ran it
    "q_quality_filter_stream" -> ((s, dir) => {
      import s.implicits._
      val docs = ColOps.table(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      graft.streaming.StreamExec.runStreamingAppend[(Long, String)](
        s, docs,
        ds => TextOps.qualityFilter(
          ds.toDF().select(col("_1").as("doc_id"), col("_2").as("text")),
          "doc_id", "text"),
        quantum = streamQuantum2(docs.size))
    }),

    // §2.2 sourceHandleLines as a PRODUCTION INGESTION SOURCE — the
    // streaming query whose input is a real `readStream.text` over a
    // staged shard directory: the reader discovers the 4 shard files
    // itself (maxFilesPerTrigger=1 → one genuine micro-batch per file),
    // no driver-fed rows anywhere, and the stateless quality rule
    // battery runs in-stream. Lines carry "doc_id<TAB>text" (first-tab
    // split is exact — doc_id digits contain no tab); the oracle is the
    // batch rule battery over the same newline-sanitized text (a CTE
    // shadows the documents table with the staging convention).
    "q_file_stream" -> ((s, dir) => {
      val shards = stagedTextShards(s, dir)
      graft.streaming.StreamExec.runSourceStream(s) {
        val lines = s.readStream
          .option("maxFilesPerTrigger", "1").text(shards.toString)
        TextOps.qualityFilter(parseStagedTextLine(lines), "doc_id", "text")
      }
    }),

    // token counting (BPE-ish regex tokens)
    "q_token_count" -> ((s, dir) =>
      ColOps.table(s, dir, "documents")
        .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))),

    // Gopher-style repetition signals: explode → (doc, word) count →
    // per-doc agg (two narrow shuffles, map-side partials; never a
    // per-doc loop)
    "q_repetition" -> ((s, dir) =>
      TextOps.repetitionStats(ColOps.table(s, dir, "documents"), "doc_id", "text")),

    // document fingerprinting
    "q_fingerprint" -> ((s, dir) =>
      ColOps.table(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),

    // PII redaction (training-data scrubbing): email/phone/IP → tags
    "q_redact_pii" -> ((s, dir) =>
      ColOps.table(s, dir, "documents")
        .select(col("doc_id"), TextOps.redactPii(col("text")).as("redacted"))),

    // vocabulary construction with a relative cutoff + the OOV rate it
    // induces (tokenizer prep): wordcount shuffle + 1-row broadcast
    // total, never a driver-side vocabulary
    "q_vocab" -> ((s, dir) =>
      TextOps.vocabSummary(ColOps.table(s, dir, "documents"), "text", 50L)),

    // Unicode token tier — the text family without the Latin-only blind
    // spot. Fixture = six-script texts (Cyrillic/Arabic/Greek/
    // Devanagari/spaced-CJK/umlaut-Latin) keyed round-robin on doc_id,
    // rendered once in TextOps.UnicodeFixture and mirrored verbatim
    // into the oracle, so both engines tokenize identical bytes with
    // the shared [\p{L}\p{M}\p{N}]+ class. Same map-only / one-shuffle
    // shapes as the ASCII battery.
    "q_vocab_unicode" -> ((s, dir) =>
      TextOps.vocabSummaryUnicode(
        TextOps.unicodeFixture(ColOps.table(s, dir, "documents"), "doc_id"),
        "text", 50L)),

    // the quality battery proven NOT to zero out non-Latin documents:
    // per-doc flags + keep + reason with the planted language carried
    // through, so the oracle row pins keep=true across all six scripts
    "q_quality_unicode" -> ((s, dir) =>
      TextOps.qualityFilterUnicode(
        TextOps.unicodeFixture(ColOps.table(s, dir, "documents"), "doc_id"),
        "doc_id", "text", carry = Seq("lang"))),

    // per-document script composition — the language-mix audit a
    // multilingual corpus gates on; map-only, counts code-point-exact
    // (Java and RE2 spell the script property differently but name the
    // SAME Unicode property — membership agrees; hash-checked here)
    "q_script_profile" -> ((s, dir) =>
      TextOps.scriptProfile(
        TextOps.unicodeFixture(ColOps.table(s, dir, "documents"), "doc_id"),
        "doc_id", "text")),

    // the tokenizer-TRAINING loop goes script-agnostic: 6 rounds of
    // argmax-merge-recount over the six-script fixture with the Unicode
    // token alphabet — combining marks enter as single symbols and the
    // merges learn them back onto their base letters, which is exactly
    // how byte/char-level BPE handles scripts it was never hand-tuned
    // for. Same vocab-bounded histogram shape as q_bpe_learn.
    "q_bpe_unicode" -> ((s, dir) =>
      TextOps.bpeLearn(
        TextOps.unicodeFixture(ColOps.table(s, dir, "documents"), "doc_id"),
        "text", 6, TextOps.TokenPatternUnicode)),

    // language ID across six scripts: stopword-argmax over Unicode
    // tokens recovers the planted language (true lang carried for the
    // confusion readout)
    "q_lang_id_unicode" -> ((s, dir) => {
      val fx = TextOps.unicodeFixture(ColOps.table(s, dir, "documents"), "doc_id")
      fx.select(col("doc_id"), col("lang"),
        TextOps.langIdUnicode(col("text")).as("lang_pred"))
    }),

    // corpus word frequencies — the classic one-shuffle wordcount
    "q_word_freq" -> ((s, dir) =>
      ColOps.table(s, dir, "documents")
        .select(explode(TextOps.words(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))),

    // BPE-trainer inner-loop statistic: adjacent char-pair counts over
    // alnum tokens, one generator + one ≤62²-key hash aggregate
    "q_bpe_pairs" -> ((s, dir) =>
      TextOps.charPairCounts(ColOps.table(s, dir, "documents"), "text", 5L)),

    // the FULL tokenizer-training loop around that statistic: 6 rounds
    // of argmax-merge-recount over the checkpointed word-TYPE histogram
    // (vocab-bounded sufficient statistic — rounds are corpus-size-
    // independent; the one corpus scan is the only data-proportional
    // part). Driver-loop shape like q_pagerank; oracle unrolls the 6
    // rounds as a CTE chain with the identical replace() merge rule.
    "q_bpe_learn" -> ((s, dir) =>
      TextOps.bpeLearn(ColOps.table(s, dir, "documents"), "text", 6)),

    // the apply half of that loop: per-doc subword counts under the
    // learned state — word-occurrence explode, broadcast join against
    // the vocab-bounded segmentation map, one per-doc aggregate
    "q_bpe_apply" -> ((s, dir) => {
      val docs = ColOps.table(s, dir, "documents")
      TextOps.bpeApply(docs, "doc_id", "text",
        TextOps.bpeRun(docs, "text", 6)._2)
    }),

    // tokenizer ENCODE: each doc's actual token-ID sequence under the
    // learned BPE state — the state collapses to two literal maps, so
    // encoding is a pure per-row lambda chain (no explode, no shuffle)
    "q_tokenize_ids" -> ((s, dir) => {
      val docs = ColOps.table(s, dir, "documents")
      TextOps.tokenizeIds(docs, "doc_id", "text",
        TextOps.bpeRun(docs, "text", 6)._2)
    }),

    // END-TO-END corpus build — the full front-door-to-artifact chain
    // in ONE query: raw crawled HTML → markup extraction → C4 quality
    // gate → exact dedup (canonical keepers) → BPE state trained on the
    // surviving corpus → tokenizer encode → fixed-width packed training
    // sequences. Every stage handoff (extraction feeding quality, the
    // kept set feeding both BPE training AND encoding, dedup before
    // tokenization) is inside the oracle hash.
    "q_corpus_build" -> ((s, dir) => {
      val pages = Sources.textLines(s, stagedHtml(s, dir).toString).ds.toDF()
        .select(regexp_extract(col("value"), "data-doc=\"([0-9]+)\"", 1)
          .cast("long").as("doc_id"), col("value").as("html"))
      val extracted = pages.select(col("doc_id"),
        call_function("replace", Html.extractText(col("html")), lit("\n"), lit(" "))
          .as("text"))
      corpusBuildTail(extracted)
    }),

    // the SAME end-to-end build, but from the raw crawl ARCHIVE: the
    // .warc.gz shards replace the pre-extracted page file, so the
    // pipeline is gunzip → WARC framing → HTTP strip → extraction →
    // quality gate → exact dedup → BPE train → encode → pack, ONE
    // query — and the oracle is q_corpus_build's VERBATIM (the archive
    // layers must be exactly transparent)
    "q_corpus_build_warc" -> ((s, dir) => {
      val extracted = Warc.extract(s.read.format("binaryFile")
          .load(stagedWarcShards(s, dir).toString))
        .select(col("doc_id"),
          call_function("replace", col("extracted"), lit("\n"), lit(" "))
            .as("text"))
      corpusBuildTail(extracted)
    }),

    // WARC revisit resolution — Common Crawl's identical-payload-digest
    // profile: re-fetched-unchanged URLs arrive as `revisit` records
    // (WARC-Refers-To + the digest of the payload that was NOT stored);
    // a digest-keyed join resolves each to its stored original, and the
    // output re-extracts the doc id from the RESOLVED page bytes so the
    // join is proven to deliver the right payload, not just a key match
    "q_warc_revisit" -> ((s, dir) =>
      Warc.revisitResolve(Warc.records(s.read.format("binaryFile")
        .load(stagedRevisitShards(s, dir).toString)))),

    // the raw-archive flagship over a REVISIT-BEARING archive, sharing
    // q_corpus_build_warc's oracle verbatim: the corpus counts each
    // page ONCE (revisit records are fetch-log events, not documents),
    // while q_warc_revisit above is the fetch-side view of the same
    // shards
    "q_corpus_build_revisit" -> ((s, dir) => {
      val extracted = Warc.extract(s.read.format("binaryFile")
          .load(stagedRevisitShards(s, dir).toString))
        .select(col("doc_id"),
          call_function("replace", col("extracted"), lit("\n"), lit(" "))
            .as("text"))
      corpusBuildTail(extracted)
    }),

    // MATERIALIZED packing: fixed-width token-id training sequences cut
    // from the virtual stream of encoded docs (distributed prefix sum →
    // per-doc slice tiling → one pack-key aggregate)
    "q_pack_ids" -> ((s, dir) => {
      val docs = ColOps.table(s, dir, "documents")
      Packing.packTokenIds(
        TextOps.tokenizeIdArrays(docs, "doc_id", "text",
          TextOps.bpeRun(docs, "text", 6)._2), "doc_id", 128L)
    }),

    // packed sequences WITH document-boundary metadata: per pack, each
    // doc's span as doc:off:len triples in pack order — the
    // block-diagonal attention mask (or position-id reset points) is a
    // pure function of this column; same prefix-sum + tiling shape
    "q_pack_bounds" -> ((s, dir) => {
      val docs = ColOps.table(s, dir, "documents")
      Packing.packTokenIdsWithBounds(
        TextOps.tokenizeIdArrays(docs, "doc_id", "text",
          TextOps.bpeRun(docs, "text", 6)._2), "doc_id", 128L)
    }),

    // token-BUDGET chunking under the learned BPE cost model: chunk of
    // a word = its token-offset bin (excl-prefix-sum / budget) — one
    // per-doc window over the broadcast vocab-bounded cost join; the
    // context-window prep step measured in tokens, not words
    "q_chunk_tokens" -> ((s, dir) => {
      val docs = ColOps.table(s, dir, "documents")
      TextOps.chunkByTokens(docs, "doc_id", "text",
        TextOps.bpeRun(docs, "text", 6)._2, 64L)
    }),

    // per-language corpus profile — the one-scan health report a corpus
    // build gates on: volume, token mass, source diversity, exact-dup
    // mass. Two COUNT(DISTINCT)s in one aggregate = Spark's expand
    // strategy (rows ×2 pre-shuffle), the price of single-pass exactness;
    // sketch the cardinalities (KMV, q_kmv_sketch) when approximate is
    // acceptable at 100 TB.
    "q_corpus_profile" -> ((s, dir) =>
      ColOps.table(s, dir, "documents")
        .groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("chars_sum"),
          sum(size(TextOps.tokens(col("text")))).cast("long").as("tok_sum"),
          countDistinct(col("source")).as("n_sources"),
          (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup"))),

    // fixed-size word chunking (context-window packing fan-out)
    "q_chunk_text" -> ((s, dir) =>
      TextOps.chunkWords(ColOps.table(s, dir, "documents"), "doc_id", "text", 50)),

    // OVERLAPPING chunking: 50-word windows every 30 words (20-word
    // overlap) — long-doc training prep where context must not be cut
    // at hard boundaries; same zero-shuffle generator, denser starts
    "q_chunk_stride" -> ((s, dir) =>
      TextOps.chunkWordsStride(ColOps.table(s, dir, "documents"),
        "doc_id", "text", 50, 30)),

    // global top-k bigrams (corpus n-gram profile): one map-side-combined
    // pair-count shuffle + TakeOrderedAndProject — never a global sort
    "q_bigrams" -> ((s, dir) =>
      TextOps.topBigrams(ColOps.table(s, dir, "documents"), "text", 50)),

    // concat-and-split sequence packing: distributed exclusive prefix
    // sum (RowExec carries, never a single-task global window)
    "q_pack_seqs" -> ((s, dir) =>
      Packing.concatSplit(ColOps.table(s, dir, "documents"), "doc_id", "text", PackBudget)),

    // the COMPOSED corpus pipeline — quality filter |> exact dedup |>
    // sequence packing, the reference's `.|` chain re-expressed as
    // operator composition over DataFrames (each stage is the already-
    // verified operator, unchanged; the oracle chains the same three
    // mirrors as CTEs). Stage costs: rule battery is a stateless map;
    // dedup one digest shuffle keeping min doc_id; packing the
    // distributed prefix-sum — nothing here is new machinery, which is
    // the point: operators compose without rewrites.
    "q_pipeline" -> ((s, dir) => {
      val docs = ColOps.table(s, dir, "documents")
      // quality gate as an in-place filter (the corpusCanon discipline:
      // the keep decision is a per-row predicate, not a self-join)
      val kept = docs.filter(TextOps.qualityKeep(col("text")))
      val canonical = Dedup.exact(kept, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val survivors = kept.join(canonical, "doc_id")
      Packing.concatSplit(survivors, "doc_id", "text", PackBudget)
    }),

    // first-fit greedy packing within fixed doc-id groups (the
    // embarrassingly-parallel form of the inherently sequential fold)
    "q_pack_greedy" -> ((s, dir) =>
      Packing.greedyPack(ColOps.table(s, dir, "documents"), "doc_id", "text",
        PackBudget, PackGroup)),

    // pack-level fill/waste report over the greedy assignment
    "q_pack_stats" -> ((s, dir) =>
      Packing.packStats(
        Packing.greedyPack(ColOps.table(s, dir, "documents"), "doc_id", "text",
          PackBudget, PackGroup), PackBudget)),

    // corpus TF-IDF — term-count shuffle + vocab-side df join + 1-row
    // broadcast stats; scores micro-scaled (see Relevance determinism
    // contract)
    "q_tfidf" -> ((s, dir) =>
      Relevance.tfIdf(ColOps.table(s, dir, "documents"), "doc_id", "text")),

    // Okapi BM25 — same shape plus per-doc length normalization
    "q_bm25" -> ((s, dir) =>
      Relevance.bm25(ColOps.table(s, dir, "documents"), "doc_id", "text")),

    // top-3 terms per doc by TF-IDF — rank over the micro-scaled BIGINT
    // (engine-independent cut), planned as WindowGroupLimit
    "q_top_terms" -> ((s, dir) =>
      Relevance.topTerms(ColOps.table(s, dir, "documents"), "doc_id", "text", 3)),

    // KMV distinct-count sketch over corpus words (deterministic — the
    // oracle-matchable stand-in for approx_count_distinct)
    // KMV IN-stream — the bounded-state cardinality monitor
    // (TWENTY-FIRST streaming-executed query): k smallest hashes as
    // transformWithState state (fixed K longs regardless of volume),
    // documents fed in quanta, final state = the corpus sketch. KMV's
    // merge algebra is order-independent, so this shares the batch
    // q_kmv_sketch oracle verbatim.
    "q_kmv_stream" -> ((s, dir) => {
      import s.implicits._
      val texts = ColOps.table(s, dir, "documents").orderBy(col("doc_id"))
        .select(col("text")).as[String].collect().toSeq
      val elems = texts.zipWithIndex.map { case (t, i) =>
        graft.core.Elem(i.toLong, t)
      }
      Sketches.kmvStreamSummary(
        graft.streaming.StreamExec.runStreaming(s, elems,
          Sketches.kmvStreamPipe, quantum = streamQuantum2(texts.size)))
    }),

    "q_kmv_sketch" -> ((s, dir) =>
      Sketches.kmvWordSketch(ColOps.table(s, dir, "documents"), "text")),

    // per-slice KMV: approximate distinct-word cardinality per language
    // (WindowGroupLimit keeps the per-group top-k cut map-side)
    "q_kmv_groups" -> ((s, dir) =>
      Sketches.kmvGroupSketch(ColOps.table(s, dir, "documents"), "lang", "text")),

    // KMV mergeability: sketches of two corpus halves merged by
    // union + re-cut — identical to the whole-corpus sketch, no rescan
    "q_kmv_merge" -> ((s, dir) => {
      val docs = ColOps.table(s, dir, "documents")
      Sketches.kmvMergeSketch(
        Seq(docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 =!= 0)),
        "text")
    }),

    // k-anonymity audit: quasi-identifier groups with population < k —
    // the privacy gate before releasing a keyed extract
    "q_k_anonymity" -> ((s, dir) =>
      ColOps.kAnonymityAudit(ColOps.table(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), 8L)
        .orderBy(col("c_nationkey"), col("c_mktsegment"))),

    // Count-Min sketch cells: fixed d×w counter matrix, shuffle bounded
    // by the sketch size (not the corpus) after map-side combine
    "q_cms_sketch" -> ((s, dir) =>
      Sketches.cmsWordSketch(ColOps.table(s, dir, "documents"), "text")),

    // Bloom filter slots over distinct corpus words — same fixed-size
    // aggregation shape, OR-combine instead of counts
    "q_bloom" -> ((s, dir) =>
      Sketches.bloomWordFilter(ColOps.table(s, dir, "documents"), "text")),

    // fixed-bin value histogram: ≤ bins+2 rows out regardless of input
    // (the distribution sketch member of the family)
    "q_histogram" -> ((s, dir) =>
      Sketches.histogram(ColOps.table(s, dir, "events"), "value", 0.0, 500.0, 25)),

    // the histogram sketch executed THROUGH Structured Streaming — the
    // TENTH streaming-executed query and the only NON-WINDOWED stateful
    // aggregation in the set: a global groupBy(bin) in Complete output
    // mode, final snapshot ≡ the batch sketch (same oracle); state is
    // bounded by sketch geometry (≤ bins+2 rows) no matter the stream
    // length — the state-store analogue of the sketch's fixed size
    "q_histogram_stream" -> ((s, dir) => {
      import s.implicits._
      val vals = ColOps.table(s, dir, "events")
        .select(col("value")).as[Double].collect().sorted.toSeq
      graft.streaming.StreamExec.runStreamingComplete[Tuple1[Double]](
        s, vals.map(Tuple1(_)),
        ds => Sketches.histogram(ds.toDF("value"), "value", 0.0, 500.0, 25),
        quantum = streamQuantum2(vals.size))
    }),

    // trending terms IN-stream: Complete-mode word-count aggregation fed
    // document-by-document, then the deterministic top-k snapshot cut
    // (total order (n desc, word) → TakeOrderedAndProject) on the final
    // micro-batch's table — the live "what is the corpus saying" panel
    "q_trending_stream" -> ((s, dir) => {
      import s.implicits._
      val texts = ColOps.table(s, dir, "documents")
        .select(col("text")).as[String].collect().toSeq
      val counts = graft.streaming.StreamExec.runStreamingComplete[Tuple1[String]](
        s, texts.map(Tuple1(_)),
        ds => ds.toDF("text")
          .select(explode(TextOps.words(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("n")),
        quantum = streamQuantum2(texts.size))
      counts.orderBy(col("n").desc, col("word")).limit(25)
    }),

    // brute-force cosine top-3 (broadcast queries, partitioned ranking)
    "q_embed_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(Similarity.embeddings(s, dir), 20, 3)),

    // LSH-bucketed ANN (the 100-TB scale path)
    "q_embed_lsh" -> ((s, dir) =>
      Similarity.lshTopK(Similarity.embeddings(s, dir), 20, 3)),

    // IVF ANN (the inverted-file scale path: broadcast seed assignment,
    // search nProbe/nCells of the collection)
    "q_embed_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(Similarity.embeddings(s, dir), 20, 3)),

    // STREAMING ANN serving — queries arrive continuously, the
    // collection is static: per-row probe-cell ranking against the
    // driver-collected seed set (nCells-bounded literal — pure map, no
    // state), stream-static equi-join on cell, exact cosine, and ONE
    // Complete-mode top-k aggregate per query id (a query's candidates
    // all arrive in its own micro-batch; the collect_list state is
    // per-query-candidate-sized — the feedPipe-bounded proof contract;
    // a production deployment would rank per micro-batch instead).
    // Candidate set, cosine, and (cos DESC, vec_id) tie-break match
    // ivfTopK exactly ⇒ shares q_embed_ivf's oracle.
    "q_ann_stream" -> ((s, dir) => annStreamServe(s, dir, 0)),

    // STREAMING index ingest — the collection arrives continuously:
    // per-batch original-geometry encode + append into the pinned
    // serving version, drift-gated maintenance publishing alongside
    // (25th streaming-executed query; shares the batch IVF-PQ oracle
    // because append ≡ rebuild on the pinned version)
    "q_ann_ingest_stream" -> ((s, dir) => annIngestStream(s, dir)),

    // IVF served from a PERSISTED inverted file (write-once Hive layout
    // partitioned by cell, staged once per JVM): dynamic partition
    // pruning narrows the index scan to the probed cell directories —
    // the index is read at nprobe/ncells however large it grows. Same
    // assignment/window formulation as q_embed_ivf ⇒ same oracle.
    "q_embed_ivf_persist" -> ((s, dir) =>
      Similarity.ivfPersistTopK(s, dir, 20, 3)),

    // PQ code assignment (the 16×-compression step of a PQ ANN index):
    // broadcast m×k codebook, map-side distances, per-(vec,sub) argmin
    "q_embed_pq" -> ((s, dir) =>
      Similarity.pqCodes(Similarity.embeddings(s, dir))),

    // PQ ADC search: approximate top-3 from SUMMED integer table lookups
    // over the codes — candidate vectors are never read
    "q_embed_pq_topk" -> ((s, dir) =>
      Similarity.pqAdcTopK(Similarity.embeddings(s, dir), 20, 3)),

    // two-stage PQ: ADC shortlist → exact cosine re-rank (the production
    // PQ search; reads shortlist/n of the collection per query)
    "q_embed_pq_rerank" -> ((s, dir) =>
      Similarity.pqRerankTopK(Similarity.embeddings(s, dir), 20, 3)),

    // PERSISTED PQ: codebook + codes staged once as (m,k)-keyed layouts,
    // served from the staged artifacts — the codes scan reads integer
    // rows only (no emb floats), results ≡ the in-memory two-stage
    // search ⇒ same oracle as q_embed_pq_rerank
    "q_embed_pq_persist" -> ((s, dir) =>
      Similarity.pqPersistTopK(s, dir, 20, 3)),

    // IVF-PQ composed index (the FAISS IVFPQ shape): coarse cells prune
    // WHICH vectors are considered, PQ codes prune WHAT is read — ADC
    // runs only inside probed cells, exact re-rank only on the shortlist
    "q_embed_ivfpq" -> ((s, dir) =>
      Similarity.ivfPqTopK(Similarity.embeddings(s, dir), 20, 3)),

    // PERSISTED IVF-PQ: the cell-partitioned packed-code posting-list
    // layout, staged once, served with DPP cell pruning + positional
    // ADC + shortlist-only vector reads ⇒ same oracle as the in-memory
    // composed search
    "q_embed_ivfpq_persist" -> ((s, dir) =>
      Similarity.ivfPqPersistTopK(s, dir, 20, 3)),

    // ANN recall audit — the serving-quality monitor: per-query
    // integer recall@3 of the IVF-PQ index vs exact brute force, with
    // nProbe swept (2 and the production 4) so the table shows what one
    // more posting-list read buys each query
    "q_ann_recall" -> ((s, dir) =>
      Similarity.annRecall(Similarity.embeddings(s, dir), 20, 3)),

    // the SemDeDup→index handoff composed end-to-end: cell-blocked
    // semantic dedup prunes the collection, the IVF-PQ index builds and
    // serves over the SURVIVORS (geometry re-derived from the deduped
    // set — the dedup runs before index training, as in production) —
    // the embedding-tier analogue of q_corpus_build
    "q_sem_index" -> ((s, dir) => {
      val emb = Similarity.embeddings(s, dir)
      val kept = Similarity.semDedup(emb, 0.35).select(col("vec_id"))
      Similarity.ivfPqTopK(emb.join(kept, "vec_id"), 20, 3)
    }),

    // int8 scalar quantization (the ANN index memory-compression step) —
    // zero shuffle, all-IEEE-exact arithmetic
    // qvec is emitted comma-joined: the driver's hash comparator can't
    // sort array-typed cells (same convention as q_consecutive); the
    // operator itself stays array-valued.
    "q_embed_quant" -> ((s, dir) =>
      Similarity.quantizeInt8(Similarity.embeddings(s, dir))
        .select(col("vec_id"), col("scale"),
          array_join(col("qvec").cast("array<string>"), ",").as("qvec"))),

    // per-label centroid accumulators over quantized vectors (cluster
    // summary / IVF retrain): |labels|·d integer rows out, one combine
    "q_embed_centroid" -> ((s, dir) =>
      Similarity.labelCentroids(Similarity.embeddings(s, dir, Seq("label")))),

    // embedding outliers: top-3 farthest from own-label centroid, in
    // cnt²-scaled exact-integer distance (mislabeled-vector triage)
    "q_embed_outliers" -> ((s, dir) =>
      Similarity.embedOutliers(Similarity.embeddings(s, dir, Seq("label")))),

    // per-dimension moment/extent statistics over the raw embeddings
    // (micro-scaled integer sums — the standardization/whitening pre-pass)
    "q_embed_dimstats" -> ((s, dir) =>
      Similarity.dimStats(Similarity.embeddings(s, dir))),

    // whitening apply: z-score every vector against the broadcast
    // per-dimension stats (bit-exact doubles, same discipline as cosine).
    // Emitted as exploded (vec_id, dim, z) DOUBLE scalars: the driver's
    // hash comparator can't sort array-typed cells, and string-joining
    // doubles is not hash-stable cross-engine — exploded scalar doubles
    // reuse the bit-exact discipline the cosine family proves.
    "q_embed_standardize" -> ((s, dir) =>
      Similarity.standardize(Similarity.embeddings(s, dir))
        .select(col("vec_id"), posexplode(col("zvec")).as(Seq("dim", "z")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("z"))),

    // embedding-cosine near-dup pairs within LSH buckets (0.35 ≈ the
    // 99.9th percentile of pairwise cosine on these random embeddings —
    // high enough to be selective, low enough to produce verifiable rows)
    "q_embed_neardup" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(Similarity.embeddings(s, dir), 0.35)),

    // one k-means (Lloyd) refinement step of the IVF coarse quantizer:
    // broadcast seed assignment + integer centroid accumulators —
    // nCells·d rows out regardless of collection size
    "q_kmeans_step" -> ((s, dir) =>
      Similarity.kmeansStep(Similarity.embeddings(s, dir))),

    // SemDeDup: within-coarse-cell semantic dedup, keep-first — pairwise
    // cosine only inside a cell (n²/nCells candidate pairs, not n²)
    "q_semdedup" -> ((s, dir) =>
      Similarity.semDedup(Similarity.embeddings(s, dir), 0.35)),

    // multimodal: binary columns + batch decode stub (real plumbing)
    "q_multimodal_decode" -> ((s, dir) =>
      Multimodal.decode(Multimodal.assets(s, dir))),

    // multimodal: frame sampling fan-out
    "q_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.assets(s, dir), 64)),

    // multimodal: REAL feature extraction over the binary payload (no
    // codec: byte length, magic fold, high-nibble histogram) — the
    // pre-decode triage signature, integer-only so the oracle matches
    "q_media_features" -> ((s, dir) =>
      Multimodal.byteFeatures(Multimodal.assets(s, dir))),

    // multimodal: stub resize/downsample (every 7th byte) — the batch
    // thumbnailing/decimation stage; zero shuffle, codegen'd end-to-end
    "q_media_resize" -> ((s, dir) =>
      Multimodal.resizeBytes(Multimodal.assets(s, dir), 7)),

    // multimodal: REAL audio codec decode — genuine RIFF/WAVE PCM-16
    // containers (per-asset sample rate, so the header must be parsed),
    // native wav_decode expression → header fields + integer signal
    // moments; the oracle computes the expected features from the source
    // signal, so any mis-parse breaks the hash match
    "q_wav_decode" -> ((s, dir) =>
      Multimodal.wavAssets(s, dir)
        .select(col("asset_id"),
          graft.functions.WavDecode.wav_decode(col("media")).as("d"))
        .select(col("asset_id"),
          col("d.sample_rate").as("sample_rate"), col("d.channels").as("channels"),
          col("d.n_samples").as("n_samples"), col("d.min_s").as("min_s"),
          col("d.max_s").as("max_s"), col("d.sum_abs").as("sum_abs"),
          col("d.sum_sq").as("sum_sq"))),

    // multimodal: REAL audio downsample — wav_resample decodes, keeps
    // every 4th sample, divides the declared rate by 4 and RE-ENCODES a
    // valid container; wav_decode round-trips the result (the encoder
    // and parser each run twice in-plan, both verified by the oracle)
    "q_wav_resample" -> ((s, dir) =>
      Multimodal.wavAssets(s, dir)
        .select(col("asset_id"),
          graft.functions.WavDecode.wav_decode(
            graft.functions.WavResample.wav_resample(col("media"), 4)).as("d"))
        .select(col("asset_id"),
          col("d.sample_rate").as("sample_rate"), col("d.channels").as("channels"),
          col("d.n_samples").as("n_samples"), col("d.min_s").as("min_s"),
          col("d.max_s").as("max_s"), col("d.sum_abs").as("sum_abs"),
          col("d.sum_sq").as("sum_sq"))),

    // multimodal: REAL image codec decode — genuine bottom-up padded
    // 24-bit BI_RGB BMP containers (widths 4-7 cover every row-padding
    // case); native bmp_decode parses geometry + exact channel sums
    "q_bmp_decode" -> ((s, dir) =>
      Multimodal.bmpAssets(s, dir)
        .select(col("asset_id"),
          graft.functions.BmpDecode.bmp_decode(col("media")).as("d"))
        .select(col("asset_id"),
          col("d.width").as("width"), col("d.height").as("height"),
          col("d.n_px").as("n_px"), col("d.sum_r").as("sum_r"),
          col("d.sum_g").as("sum_g"), col("d.sum_b").as("sum_b"))),

    // multimodal: REAL compressed image codec — PNG containers staged
    // through per-row filters (y % 5: all five) + stored/fixed-Huffman
    // DEFLATE, decoded by the hand-rolled validating inflate; px_hash
    // is the position-sensitive moment (breaks on any row-order or
    // unfilter mistake the order-invariant sums would miss)
    "q_png_decode" -> ((s, dir) =>
      Multimodal.pngAssets(s, dir)
        .select(col("asset_id"),
          graft.functions.PngDecode.png_decode(col("media")).as("d"))
        .select(col("asset_id"),
          col("d.width").as("width"), col("d.height").as("height"),
          col("d.n_px").as("n_px"), col("d.sum_r").as("sum_r"),
          col("d.sum_g").as("sum_g"), col("d.sum_b").as("sum_b"),
          col("d.px_hash").as("px_hash"))),

    // multimodal: REAL lossy-tier image codec — baseline JPEG
    // containers staged across sampling (4:4:4 / 4:2:0 / grayscale),
    // edge-clip, and restart-interval axes; constant DC-only cells
    // make the lossy decode exact, so geometry + channel sums + the
    // orientation-sensitive px_hash face a hash-exact oracle
    "q_jpeg_decode" -> ((s, dir) =>
      Multimodal.jpegAssets(s, dir)
        .select(col("asset_id"),
          graft.functions.JpegDecode.jpeg_decode(col("media")).as("d"))
        .select(col("asset_id"),
          col("d.width").as("width"), col("d.height").as("height"),
          col("d.n_px").as("n_px"), col("d.sum_r").as("sum_r"),
          col("d.sum_g").as("sum_g"), col("d.sum_b").as("sum_b"),
          col("d.px_hash").as("px_hash"))),

    // multimodal: REAL palette+LZW image codec — GIF87a/89a containers
    // staged across interlace / ignored-second-frame (with local color
    // table) / comment-extension axes, all of which the decode must
    // make INVISIBLE (the oracle never sees them); padding pixels are
    // palette index 0 → (0,13,255), so they land in the sums AND the
    // position-sensitive px_hash
    "q_gif_decode" -> ((s, dir) =>
      Multimodal.gifAssets(s, dir)
        .select(col("asset_id"),
          graft.functions.GifDecode.gif_decode(col("media")).as("d"))
        .select(col("asset_id"),
          col("d.width").as("width"), col("d.height").as("height"),
          col("d.n_px").as("n_px"), col("d.sum_r").as("sum_r"),
          col("d.sum_g").as("sum_g"), col("d.sum_b").as("sum_b"),
          col("d.px_hash").as("px_hash"))),

    // multimodal: compressed-container downsample — the FULL pipeline
    // twice per asset (inflate+unfilter in, re-filter+deflate+
    // re-checksum out), then re-decoded in-plan; px_hash rides through
    // the re-encode so a mistake in either pass breaks the oracle
    "q_png_resize" -> ((s, dir) =>
      Multimodal.pngAssets(s, dir)
        .select(col("asset_id"),
          graft.functions.PngDecode.png_decode(
            graft.functions.PngResample.png_resample(col("media"), 2)).as("d"))
        .select(col("asset_id"),
          col("d.width").as("width"), col("d.height").as("height"),
          col("d.n_px").as("n_px"), col("d.sum_r").as("sum_r"),
          col("d.sum_g").as("sum_g"), col("d.sum_b").as("sum_b"),
          col("d.px_hash").as("px_hash"))),

    // multimodal: REAL image downsample — 2-D decimation (every 2nd
    // column of every 2nd LOGICAL row) re-encoded with new
    // width/height/padding, then re-decoded; orientation-sensitive, so
    // the oracle catches a forgotten bottom-up flip the channel sums
    // alone cannot
    "q_bmp_resize" -> ((s, dir) =>
      Multimodal.bmpAssets(s, dir)
        .select(col("asset_id"),
          graft.functions.BmpDecode.bmp_decode(
            graft.functions.BmpResample.bmp_resample(col("media"), 2)).as("d"))
        .select(col("asset_id"),
          col("d.width").as("width"), col("d.height").as("height"),
          col("d.n_px").as("n_px"), col("d.sum_r").as("sum_r"),
          col("d.sum_g").as("sum_g"), col("d.sum_b").as("sum_b"))),

    // per-source dedup health report: n_docs / canonical keepers /
    // exact-integer dup_ppm per source — the corpus-composition
    // diagnostic (cross-source copies charge every source except the
    // keeper's); payload scanned once, never shuffled
    "q_dedup_rates" -> ((s, dir) =>
      Dedup.dedupRates(ColOps.table(s, dir, "documents"),
        "doc_id", "text", "source")),

    // multimodal: FORMAT DISPATCH over a mixed WAV/BMP/raw corpus —
    // try-decode routing (the strict parsers' NULL on foreign bytes IS
    // the sniffer), fail-open fall-through to raw-byte accounting; all
    // three decodes in one codegen project, zero shuffle
    "q_media_dispatch" -> ((s, dir) =>
      Multimodal.decodeDispatch(Multimodal.mixedAssets(s, dir))),

    // canonical-container TRANSCODE (media normalization): every image
    // in the mixed corpus — BMP, PNG, or JPEG — re-encoded as PNG and
    // re-decoded in-plan; geometry, channel sums, and the
    // position-sensitive px_hash must ride through the cross-codec
    // composition untouched (non-images drop on the transcode NULL)
    "q_media_transcode" -> ((s, dir) =>
      Multimodal.transcodeNormalize(Multimodal.mixedAssets(s, dir))),

    // format-agnostic THUMBNAILS: decode any image container,
    // 2-decimate in logical orientation, land in the canonical
    // container, re-decode in-plan — preview generation independent
    // of what the crawl delivered; px_hash pins orientation through
    // the decode→decimate→encode→decode chain per source format
    "q_media_thumb" -> ((s, dir) =>
      Multimodal.thumbnails(Multimodal.mixedAssets(s, dir), 2)),

    // STREAMING media normalization — "new assets arrive, normalize on
    // ingest": the staged parquet shards feed a real file source (one
    // per micro-batch) and the stateless decode→PNG→re-decode chain
    // runs inside the stream; shares the batch transcode oracle
    "q_media_transcode_stream" -> ((s, dir) => {
      val shards = stagedMediaShards(s, dir)
      graft.streaming.StreamExec.runSourceStream(s) {
        Multimodal.transcodeNormalize(s.readStream
          .schema("asset_id BIGINT, media BINARY")
          .option("maxFilesPerTrigger", "1")
          .parquet(shards.toString))
      }
    }),

    // STREAMING multimodal ingest — the "new assets arrive daily"
    // shape: a real file SOURCE discovers the staged parquet shards
    // (one per micro-batch), and the full try-decode dispatch (wav/bmp
    // codecs + raw fallback) runs stateless inside the stream; shares
    // the batch dispatch oracle
    "q_media_stream" -> ((s, dir) => {
      val shards = stagedMediaShards(s, dir)
      graft.streaming.StreamExec.runSourceStream(s) {
        val assets = s.readStream
          .schema("asset_id BIGINT, media BINARY")
          .option("maxFilesPerTrigger", "1")
          .parquet(shards.toString)
        Multimodal.decodeDispatch(assets)
      }
    }),

    // multimodal: near-dup pairs by byte-level minwise fingerprint
    // (native byte_gram_hashes expression → 48 minwise components →
    // banded capped buckets → signature-agreement verify) — the
    // perceptual-hash dedup stage for the modality without word shingles
    "q_media_neardup" -> ((s, dir) =>
      Multimodal.mediaNearDups(Multimodal.assets(s, dir))),

    // event-time tumbling window aggregation (EventTime.tumbling — the
    // streaming windowed-agg operator, run in batch mode here; ts is
    // TIMESTAMP(NANOS) surfaced as Long)
    "q_event_window" -> ((s, dir) => {
      graft.streaming.EventTime.tumbling(eventsWithTs(s, dir), "ts2", "5 seconds", "1 hour",
        Seq(sum(col("ival")).as("total"), count(lit(1)).as("cnt")))
        .select(unix_timestamp(col("w_start")).as("w_start_s"),
          col("total").cast("long").as("total"), col("cnt"))
    }),

    // the tumbling-window agg executed THROUGH Structured Streaming:
    // events fed via MemoryStream quanta into the same EventTime.tumbling
    // plan with a watermark, Complete-mode memory sink — the final
    // snapshot is hash-checked against the SAME oracle as q_event_window
    "q_event_window_stream" -> ((s, dir) => {
      import s.implicits._
      val rows = eventsWithTs(s, dir)
        .select(col("ts2"), col("ival"))
        .as[(java.sql.Timestamp, Long)].collect().toSeq
      graft.streaming.StreamExec.runStreamingComplete[(java.sql.Timestamp, Long)](
        s, rows,
        ds => graft.streaming.EventTime.tumbling(ds.toDF("ts2", "ival"),
            "ts2", "5 seconds", "1 hour",
            Seq(sum(col("ival")).as("total"), count(lit(1)).as("cnt")))
          .select(unix_timestamp(col("w_start")).as("w_start_s"),
            col("total").cast("long").as("total"), col("cnt")),
        quantum = streamQuantum(rows.size))
    }),

    // band (range) join — near-value event pairs via the binned
    // equi-join (one shuffle on the bin key; a bare |Δ|≤tol join would
    // plan as an O(n²) nested-loop product)
    "q_band_join" -> ((s, dir) => {
      val a = events(s, dir).select(col("seq").as("seq_a"), col("value").as("v_a"))
      val b = events(s, dir).select(col("seq").as("seq_b"), col("value").as("v_b"))
      ColOps.bandJoin(a, b, "v_a", "v_b", 0.05)
        .filter(col("seq_a") < col("seq_b"))
        .select(col("seq_a"), col("seq_b"), col("v_a"), col("v_b"))
    }),

    // keyed running scan — the per-key form of q_scan: a PARTITIONED
    // window (parallel by key, no global order, no boundary exchange);
    // at 100 TB this is the shape keyed running aggregates should take
    "q_keyed_scan" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("seq"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir).select(col("seq"), col("user_id"), ivalCol.as("ival"))
        .select(col("seq"), col("user_id"), sum(col("ival")).over(w).as("run_sum"))
    }),

    // rollup — hierarchical subtotal lattice (event_type, user bucket) →
    // per-pair, per-type, grand total in ONE pass
    "q_rollup" -> ((s, dir) =>
      events(s, dir)
        // % not pmod: DuckDB's % is sign-of-dividend; they agree only on
        // non-negative ids, so use the operator with identical semantics
        .select(col("event_type"), (col("user_id") % 10).as("ub"), ivalCol.as("ival"))
        .rollup(col("event_type"), col("ub"))
        .agg(sum(col("ival")).cast("long").as("total"), count(lit(1)).as("cnt"))),

    // cube — the FULL subtotal lattice over (event_type, user bucket):
    // per-pair, per-type, per-bucket, grand total in one pass (Spark
    // expands the grouping sets inside a single hash aggregate — no
    // self-union of four scans, which is the naive form's cost)
    "q_cube" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_type"), (col("user_id") % 10).as("ub"), ivalCol.as("ival"))
        .cube(col("event_type"), col("ub"))
        .agg(sum(col("ival")).cast("long").as("total"), count(lit(1)).as("cnt"))),

    // per-group z-score outliers in EXACT integer arithmetic: flag rows
    // with |cents - mean| > 2·stddev_pop without ever computing a float
    // — the test is squared and multiplied through by n²:
    //   (n·c - S)² > 4·(n·SS - S²)   [S = Σc, SS = Σc², all BIGINT]
    // evaluated in DECIMAL(38,0) (fits: n·SS ≤ ~1e20 at sf0.1; the
    // oracle uses HUGEINT). Group stats are one hash aggregate (5 rows)
    // broadcast back onto the scan — two passes over events, no window.
    "q_outliers" -> ((s, dir) =>
      ColOps.zOutliers(
          events(s, dir).select(col("event_id"), col("event_type"), ivalCol.as("c")),
          "event_type", "c", 2)
        .select(col("event_id"), col("event_type"), col("c").as("cents"))),

    // schema'd JSON extraction (from_json with an explicit schema — no
    // schema-inference scan) feeding a one-shuffle aggregate; malformed
    // rows parse to NULL and are counted, not dropped silently
    "q_json_props" -> ((s, dir) => {
      val k = from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))).getField("k")
      ColOps.table(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).cast("long").as("k_sum"),
          count(col("k")).as("k_n"),
          count(lit(1)).as("n"))
    }),

    // pivot — cross-tabulation (user bucket × event type) as ONE hash
    // aggregate; explicit value list so no distinct-discovery scan
    "q_pivot" -> ((s, dir) =>
      ColOps.pivotSum(events(s, dir), col("user_id") % 10, "ub",
        "event_type", EventTypes, ivalCol)),

    // discrete quantiles per group via order statistics (row_number over
    // a PARTITIONED window — parallel by group; exact and deterministic,
    // unlike interpolated percentile/approx sketches whose float
    // arithmetic is engine-private)
    "q_quantiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).select(col("event_type"), col("value"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val wn = Window.partitionBy(col("event_type"))
      val ranked = ev.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
      def pick(p: Double) =
        max(when(col("rn") === floor((col("n") - 1) * p) + 1, col("value")))
      ranked.groupBy(col("event_type")).agg(
        pick(0.5).as("p50"), pick(0.9).as("p90"), pick(0.99).as("p99"))
    }),

    // robust (trimmed) per-group aggregation: keep ranks inside the
    // [5 %, 95 %] order-statistic band, sum integer cents — outlier-
    // resistant stats with NO floating-point aggregation (the window
    // partitions by group, so ranking is parallel per key; ties at the
    // cut carry equal values, so the sum is tie-invariant)
    "q_trimmed_mean" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).select(col("event_type"), ivalCol.as("ival"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("ival"))
      val wn = Window.partitionBy(col("event_type"))
      val lo = floor((col("n") - 1) * 0.05) + 1
      val hi = floor((col("n") - 1) * 0.95) + 1
      ev.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
        .filter(col("rn") >= lo && col("rn") <= hi)
        .groupBy(col("event_type")).agg(
          count(lit(1)).as("kept"),
          sum(col("ival")).cast("long").as("trimmed_sum"))
    }),

    // ordered funnel conversion (view → click → purchase) per user:
    // stage k = a type-k event STRICTLY after the user's stage-(k-1)
    // time, first-touch attribution — min-chain aggregations over
    // pushed-filter scans, each join side ≤ |users| rows (no per-user
    // sort or event buffering; see Behavior scaladoc for the scale
    // argument)
    "q_funnel" -> ((s, dir) =>
      operators.Behavior.funnel(eventsWithTs(s, dir),
        "user_id", "event_type", "ts2", Seq("view", "click", "purchase"))),

    // weekly cohort retention matrix: cohort = first-activity epoch
    // week; the event log collapses to DISTINCT (user, week) in one
    // shuffle before the cohort join — join input bounded by
    // |users|·|weeks| regardless of event volume
    "q_retention" -> ((s, dir) =>
      operators.Behavior.retention(eventsWithTs(s, dir), "user_id", "ts2")),

    // exact dedup executed THROUGH Structured Streaming:
    // dropDuplicatesWithinWatermark over the text digest, every doc fed
    // TWICE (the duplicate 1 ms after its original) so the state store
    // genuinely drops rows; the surviving digest SET is deterministic
    // even though which physical row survives first-arrival is not —
    // the projection to the key is what makes a streaming dedup
    // oracle-checkable. Timestamps are doc_id MOD 5 seconds, so the
    // ENTIRE feed sits inside the 10 s horizon and the oracle is plain
    // DISTINCT at every SF — with a 10 s/doc schedule, a corpus
    // duplicate pair whose id gap exceeds the horizon (8 such pairs at
    // sf0.1) would expire the first copy's state and re-emit its
    // digest. Horizon EXPIRY semantics are pinned separately by
    // StreamingSpec; this query proves the streaming execution path
    // against the batch oracle.
    "q_dedup_stream" -> ((s, dir) => {
      import s.implicits._
      val docs = ColOps.table(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("digest"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      val rows = docs.flatMap { case (id, dg) =>
        Seq((new java.sql.Timestamp((id % 5) * 1000L), dg),
            (new java.sql.Timestamp((id % 5) * 1000L + 1L), dg))
      }
      graft.streaming.StreamExec.runStreamingAppend[(java.sql.Timestamp, String)](
        s, rows,
        ds => operators.Dedup.streamingExact(ds.toDF("ts", "digest"),
          "ts", "10 seconds", Seq("digest")).select(col("digest")),
        quantum = streamQuantum2(rows.size))
    }),

    // event-time SLIDING windows (2h window, 1h slide — each event in 2
    // windows; the fan-out is inside Spark's window() generator)
    "q_event_sliding" -> ((s, dir) => {
      graft.streaming.EventTime.sliding(eventsWithTs(s, dir), "ts2",
        "1 hour", "2 hours", "1 hour",
        Seq(sum(col("ival")).as("total"), count(lit(1)).as("cnt")))
        .select(unix_timestamp(col("w_start")).as("w_start_s"),
          col("total").cast("long").as("total"), col("cnt"))
    }),

    // the sliding-window agg executed THROUGH Structured Streaming
    // (same plan, Complete-mode snapshot ≡ the batch aggregation —
    // the q_event_window_stream pattern on the overlapping-window shape)
    "q_event_sliding_stream" -> ((s, dir) => {
      import s.implicits._
      val rows = eventsWithTs(s, dir)
        .select(col("ts2"), col("ival"))
        .as[(java.sql.Timestamp, Long)].collect().toSeq
      graft.streaming.StreamExec.runStreamingComplete[(java.sql.Timestamp, Long)](
        s, rows,
        ds => graft.streaming.EventTime.sliding(ds.toDF("ts2", "ival"),
            "ts2", "5 seconds", "2 hours", "1 hour",
            Seq(sum(col("ival")).as("total"), count(lit(1)).as("cnt")))
          .select(unix_timestamp(col("w_start")).as("w_start_s"),
            col("total").cast("long").as("total"), col("cnt")),
        quantum = streamQuantum(rows.size))
    }),

    // event-time SESSION windows per user (2h inactivity gap; session end
    // = last event + gap, half-open — an event exactly at the previous
    // session's end starts a new one)
    "q_event_session" -> ((s, dir) => {
      graft.streaming.EventTime.session(eventsWithTs(s, dir), "ts2", "user_id",
        "1 hour", "2 hours",
        Seq(sum(col("ival")).as("total"), count(lit(1)).as("cnt")))
        .select(col("user_id"), unix_micros(col("s_start")).as("s_start_us"),
          unix_micros(col("s_end")).as("s_end_us"),
          col("total").cast("long").as("total"), col("cnt"))
    }),

    // the session-window agg executed THROUGH Structured Streaming in
    // APPEND mode — the strictest streaming proof: sessions emit only
    // when the watermark closes them, so two far-future sentinel rows
    // are fed one micro-batch each — the first advances the watermark
    // past every real session's end, the second flushes them. The
    // sentinels are excluded from the aggregation by a filter ON THE
    // EVENT-TIME COLUMN: Catalyst cannot push a predicate referencing
    // the watermark attribute below the EventTimeWatermark node, so the
    // sentinels still advance the watermark (a user_id filter WOULD be
    // pushed below it and silently never flush the final sessions —
    // measured 40 rows short). Rows feed in ts order (collect sorted)
    // so nothing is late-dropped. Same oracle as batch q_event_session.
    "q_event_session_stream" -> ((s, dir) => {
      import s.implicits._
      val rows = eventsWithTs(s, dir)
        .filter(col("event_id") < SessionStreamN)
        .select(col("ts2"), col("user_id"), col("ival"))
        .as[(java.sql.Timestamp, Long, Long)].collect().toSeq.sortBy(_._1.getTime)
      // the cutoff must be the FULL-precision max timestamp — getTime is
      // milliseconds only, and a ms-truncated cutoff filters out the very
      // event with the largest microsecond part (measured: 1 session short)
      val maxT = rows.map(_._1).maxBy(t => (t.getTime, t.getNanos))
      val sentinels = (1 to 2).map(k =>
        (new java.sql.Timestamp(maxT.getTime + k * 86400000L), -1L, 0L))
      graft.streaming.StreamExec.runStreamingAppend[(java.sql.Timestamp, Long, Long)](
        s, rows,
        ds => graft.streaming.EventTime.session(ds.toDF("ts2", "user_id", "ival"),
            "ts2", "user_id", "1 hour", "2 hours",
            Seq(sum(col("ival")).as("total"), count(lit(1)).as("cnt")),
            preAggFilter = Some(col("ts2") <= lit(maxT)))
          .select(col("user_id"),
            unix_micros(col("s_start")).as("s_start_us"),
            unix_micros(col("s_end")).as("s_end_us"),
            col("total").cast("long").as("total"), col("cnt")),
        quantum = streamQuantum(rows.size), tail = sentinels)
    }),

    // the funnel executed THROUGH Structured Streaming with KEYED state:
    // per-user stage machines on transformWithState (state sharded by
    // user — the 100 TB deployment shape), fed in event-time order; the
    // sink holds stage ADVANCEMENTS, and the final depth is the max per
    // user (aggregated on the landed table, outside the stream). Same
    // semantics as batch q_funnel for users who advance at all.
    "q_funnel_stream" -> ((s, dir) => {
      import s.implicits._
      val rows = eventsWithTs(s, dir)
        .select(unix_micros(col("ts2")).as("t_us"), col("user_id"), col("event_type"))
        .as[(Long, Long, String)].collect().sortBy(_._1)
        .toSeq.map { case (t, u, ty) => (u, ty, t) }
      graft.streaming.StreamExec.runStreamingAppend[(Long, String, Long)](
          s, rows,
          ds => graft.streaming.KeyedFunnel.advance(ds, Seq("view", "click", "purchase")),
          quantum = streamQuantum(rows.size))
        .groupBy(col("user_id")).agg(max(col("stage")).as("stage"))
    }),

    // stream–static enrichment join: each micro-batch of the event
    // stream inner-joins the STATIC customer⋈nation dimension,
    // broadcast — the canonical streaming enrichment shape (stateless,
    // so Append mode, no watermark, no state store; per-batch cost is a
    // map-side hash lookup). Same oracle as the batch three-way join.
    "q_enrich_stream" -> ((s, dir) => {
      import s.implicits._
      val dim = ColOps.table(s, dir, "customer")
        .join(ColOps.table(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("nation"),
          col("c_mktsegment").as("segment"))
      val rows = events(s, dir)
        .select(col("event_id"), col("user_id"), ivalCol.as("cents"))
        .as[(Long, Long, Long)].collect().toSeq
      graft.streaming.StreamExec.runStreamingAppend[(Long, Long, Long)](
        s, rows,
        ds => graft.streaming.Enrich.joinStatic(
            ds.toDF("event_id", "user_id", "cents"), dim,
            col("user_id") === col("c_custkey"))
          .select(col("event_id"), col("nation"), col("segment"), col("cents")),
        quantum = streamQuantum2(rows.size))
    }),

    // Lift/exceptP: per-element failures → dead-letter side output; the
    // result is the union (good rows + dead rows, tagged). Columnar form
    // (Lift.runExceptC): the parse is try_cast, the domain check a CASE —
    // no JVM closure, stays inside whole-stage codegen.
    "q_dead_letter" -> ((s, dir) => {
      val props = events(s, dir).select(col("seq"), col("props"))
      val k = expr("try_cast(regexp_replace(props, '[^0-9]', '') AS BIGINT)")
      val (good, dead) = Lift.runExceptC(props, k)(v =>
        when(v.isNull, lit("unparseable")).when(v % 7 === 0, lit("k_div_7")))
      val g = good.select(col("seq"), col("value").as("k"), lit("ok").as("status"))
      val d = dead.select(col("seq"), lit(null).cast("long").as("k"),
        col("error").as("status"))
      g.unionByName(d)
    }),

    // §2.9 writer effect with an EXACT log (Lift.runWriter): the cents
    // stream folds to its total while a second aggregate over the
    // shared cached pass logs the element count — (result, log) as the
    // reference's runWriterP pair
    "q_lift_writer" -> ((s, dir) => {
      val (total, nLogged) = Lift.runWriter[Long, Long](s, _ => 1L)(
        Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _))(
        centsStream(s, dir))
      oneRow(s, Seq("total", "n_logged"), Seq(total, nLogged))
    }),

    // §2.9 Reader+Writer+State combined (Lift.runRWS): broadcast
    // threshold env, threaded state = running count of over-threshold
    // events, exact row-count log; outputs carry the state stream, the
    // log and final state ride along as constant columns
    "q_lift_rws" -> ((s, dir) => {
      val (outs, nLogged, finalCnt) = Lift.runRWS[Long, Long, Long, Long](
        s, 5000L, _ => 1L, 0L) { (env, a, st) =>
        val st2 = st + (if (a >= env) 1L else 0L); (st2, st2)
      }(centsStream(s, dir))
      outs.ds.toDF().select(col("seq"), col("value").as("run_cnt"))
        .withColumn("n_logged", lit(nLogged))
        .withColumn("final_cnt", lit(finalCnt))
    }),

    // integer-exact PageRank over the bipartite user↔item graph mined
    // from the event log (item = props.k, offset into its own id space);
    // 3 damped iterations, each one edge-join + one dst-shuffle — the
    // Pregel step as plain DataFrames (Graph scaladoc for the scale
    // argument). Link centrality is the classic quality prior for
    // web-corpus sampling.
    "q_pagerank" -> ((s, dir) => {
      val k = from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))).getField("k")
      val edges = ColOps.table(s, dir, "events")
        .select(col("user_id").as("src"), (lit(1000000L) + k).as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull)
      operators.Graph.pageRank(edges, iters = 3)
    }),

    // pre-join cardinality/skew audit of the click⋈purchase self-join on
    // user_id: per-side key counts + implied pair contribution, top-20 —
    // the dry run a 100-TB funnel join gets before cluster time is spent
    "q_join_audit" -> ((s, dir) => {
      val ev = ColOps.table(s, dir, "events")
      operators.Diagnostics.joinAudit(
        ev.filter(col("event_type") === "click"), "user_id",
        ev.filter(col("event_type") === "purchase"), "user_id", topK = 20)
    }),

    // would events hash-balance across 32 partitions on user_id? per-
    // bucket rows/bytes + ppm-of-even-share via the portable scatter
    // hash, so the oracle computes the identical assignment
    "q_partition_skew" -> ((s, dir) =>
      operators.Diagnostics.partitionSkew(ColOps.table(s, dir, "events"),
        col("user_id"), length(col("props")) + length(col("event_type")),
        buckets = 32)),

    // per-user lag/gap feature vector (event index, µs since previous,
    // micro-exact value delta) — one user-key shuffle, no global sort
    "q_lag_features" -> ((s, dir) =>
      operators.Behavior.lagFeatures(eventsWithTs(s, dir),
        "user_id", "ts2", "event_id", "value")),

    // right-to-be-forgotten dry run: purge counts for the delete set
    // (negative-balance customers) across customer/orders plus the
    // derived orderkey cascade into lineitem — broadcast flags, the fact
    // tables are never shuffled
    "q_forget_users" -> ((s, dir) => {
      val cust = ColOps.table(s, dir, "customer")
      val ord = ColOps.table(s, dir, "orders")
      val li = ColOps.table(s, dir, "lineitem")
      val delCust = cust.filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("key"))
      val delOrd = ord.join(broadcast(delCust),
          ord("o_custkey") === delCust("key"), "left_semi")
        .select(col("o_orderkey").as("key"))
      operators.Diagnostics.purgeAudit(
          Seq(("customer", cust, "c_custkey"), ("orders", ord, "o_custkey")),
          delCust)
        .unionByName(operators.Diagnostics.purgeAudit(
          Seq(("lineitem", li, "l_orderkey")), delOrd))
    }),

    // Merkle-style replica checksum of lineitem: 64 buckets × (count,
    // Σdigest, Σdigest²) — two 100-TB replicas compare by exchanging 64
    // rows; a mismatch localizes to a bucket for finer descent. Doubles
    // are cent-fixed before digesting so the hash is engine-exact.
    "q_table_checksum" -> ((s, dir) =>
      operators.Diagnostics.tableChecksum(ColOps.table(s, dir, "lineitem"),
        col("l_orderkey") * 8 + col("l_linenumber"),
        Seq(col("l_orderkey"), col("l_linenumber"),
          floor(col("l_quantity") * 100 + 0.5),
          floor(col("l_extendedprice") * 100 + 0.5),
          floor(col("l_discount") * 100 + 0.5),
          ascii(col("l_returnflag")), ascii(col("l_linestatus"))),
        buckets = 64)),

    // market-basket co-occurrence over view/purchase items: per-user
    // sets capped at 40 (deterministic top-by-frequency) BEFORE the
    // pair join, so the blowup is bounded whatever the power users do
    "q_cooccurrence" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      val ev = ColOps.table(s, dir, "events")
        .where(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), k.as("item"))
        .where(col("item").isNotNull)
      operators.Behavior.coOccurrence(ev, "user_id", "item",
        minSupport = 3, capPerUser = 40)
    }),

    // triangle count on that co-occurrence projection — degree-oriented
    // wedge closure (out-degrees bounded O(√m), each triangle counted
    // once at its lowest-rank apex), the clique-ishness motif statistic
    "q_triangles" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      val ev = ColOps.table(s, dir, "events")
        .where(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), k.as("item"))
        .where(col("item").isNotNull)
      operators.Graph.triangleCount(
        operators.Behavior.coOccurrence(ev, "user_id", "item",
            minSupport = 3, capPerUser = 40)
          .select(col("item_a").as("src"), col("item_b").as("dst")))
    }),

    // local clustering coefficient per item — same oriented-triple
    // machinery, each triangle credits its three corners, exact ppm
    "q_clustering_coef" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      val ev = ColOps.table(s, dir, "events")
        .where(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), k.as("item"))
        .where(col("item").isNotNull)
      operators.Graph.clusteringCoef(
        operators.Behavior.coOccurrence(ev, "user_id", "item",
            minSupport = 3, capPerUser = 40)
          .select(col("item_a").as("src"), col("item_b").as("dst")))
    }),
  )

  /** Rewrite every plain CTE definition `name AS (` to
    * `name AS MATERIALIZED (` — DuckDB's optimization fence. Without it
    * DuckDB INLINES each CTE at every reference site, and chained
    * replays where round r reads round r-1 twice (the BPE merge chain:
    * p_r and v_r both read v_{r-1}) re-evaluate the whole prefix
    * 2^rounds times — measured 182 s/query for the corpus-build
    * flagships at sf0.01 (the r11 driver-gate timeout) vs 0.8 s
    * materialized; the full 265-oracle sweep drops ~13.5 min → ~85 s.
    * Semantics are untouched (MATERIALIZED is a pure planner hint).
    *
    * Skips: in WITH RECURSIVE queries only, a CTE whose body
    * references its own name (the recursive member — the hint is
    * illegal there; DuckDB happily materializes the NON-recursive
    * members of a recursive list, which is what rescues the cluster
    * oracles: 17.5 s → 2.2 s measured); and `WINDOW w AS (...)`
    * named-window clauses (not CTEs). The self-reference test is
    * GATED on WITH RECURSIVE because it false-positives on nested
    * same-name shadowing (q_sem_index's subquery-scoped `WITH e0`
    * inside the outer e0's body) — and a half-materialized shadow
    * pair trips DuckDB's duplicate-alias binder check, while the
    * fully-materialized pair binds fine. Idempotent:
    * `AS MATERIALIZED (` no longer matches the identifier-AS-paren
    * shape.
    */
  private[graft] def materializeCtes(sql: String): String = {
    val recursive = java.util.regex.Pattern
      .compile("WITH\\s+RECURSIVE", java.util.regex.Pattern.CASE_INSENSITIVE)
      .matcher(sql).find()
    val m = java.util.regex.Pattern
      .compile("\\b([A-Za-z_][A-Za-z0-9_]*)(\\s+AS\\s*)\\(").matcher(sql)
    val sb = new StringBuffer
    while (m.find()) {
      val pre = sql.substring(math.max(0, m.start() - 20), m.start())
      val rep =
        if (pre.matches("(?is).*\\bWINDOW\\s+")) m.group(0)
        else {
          // body = balanced-paren span from the match's '('
          var i = m.end()
          var depth = 1
          while (depth > 0 && i < sql.length) {
            val c = sql.charAt(i)
            if (c == '(') depth += 1 else if (c == ')') depth -= 1
            i += 1
          }
          val body = sql.substring(m.end(), math.max(m.end(), i - 1))
          val selfRef = recursive && java.util.regex.Pattern
            .compile("\\b" + java.util.regex.Pattern.quote(m.group(1)) + "\\b")
            .matcher(body).find()
          if (selfRef) m.group(0)
          else m.group(1) + m.group(2) + "MATERIALIZED ("
        }
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(rep))
    }
    m.appendTail(sb)
    sb.toString
  }

  def oracleSql: Map[String, String] =
    oracleSqlRaw.map { case (k, v) => k -> materializeCtes(v) }

  private def oracleSqlRaw: Map[String, String] = Map(
    "q_source_list" -> "SELECT event_id AS seq, value FROM events",
    "q_map" ->
      "SELECT event_id AS seq, value * 2 AS value_x2, upper(event_type) AS etype FROM events",
    "q_filter" ->
      "SELECT event_id AS seq, value FROM events WHERE value > 100 AND event_type = 'click'",
    "q_concat_map" ->
      s"""SELECT event_id * 1048576 + u.i AS seq,
          CASE WHEN u.i = 0 THEN $IvalSql ELSE $IvalSql * 2 END AS v
          FROM events, (SELECT UNNEST([0,1]) AS i) u""",
    "q_concat" ->
      """SELECT doc_id * 1048576 + x.u.i AS seq, x.u.w AS word
         FROM (SELECT doc_id, UNNEST([{'i': j, 'w': string_split(text, ' ')[j+1]}
                 for j in range(0, len(string_split(text, ' ')))]) AS u
               FROM documents) x""",
    "q_scan" -> ScanOracleSql,
    "q_map_accum" -> MapAccumOracleSql,
    // streaming-executed twins: SAME oracle text by construction
    "q_scan_stream" -> ScanOracleSql,
    "q_delta_stream" -> MapAccumOracleSql,
    // same pipe, real parquet sink: the read-back must equal the batch
    // delta encoding — sink machinery cannot change semantics
    "q_parquet_sink_stream" -> MapAccumOracleSql,
    "q_pairs" ->
      """SELECT event_id AS seq, lag(value) OVER (ORDER BY event_id) AS prev_value, value
         FROM events QUALIFY prev_value IS NOT NULL""",
    // expressed as the literal inner join (not a window count) so NULL
    // join keys drop on BOTH sides by construction — an inner equi-join
    // never matches NULL = NULL, while count(*) OVER (PARTITION BY
    // user_id) would group and keep NULL-keyed rows
    "q_salted_join" ->
      """SELECT e.event_id AS seq, e.user_id, d.user_cnt
         FROM events e
         JOIN (SELECT user_id, count(*) AS user_cnt
               FROM events GROUP BY user_id) d
           ON e.user_id = d.user_id""",
    // COALESCE to '': DuckDB array_to_string([]) is NULL, Spark array_join
    // of an empty array is ''
    "q_consecutive" ->
      s"""SELECT event_id AS seq,
          COALESCE(array_to_string(list($IvalSql) OVER (ORDER BY event_id
            ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), ','), '') AS window
          FROM events""",
    "q_take" ->
      "SELECT event_id AS seq, value FROM events ORDER BY event_id LIMIT 1000",
    "q_drop" ->
      """SELECT event_id AS seq, value FROM events WHERE event_id >
         (SELECT max(event_id) FROM (SELECT event_id FROM events ORDER BY event_id LIMIT 9000) t)""",
    "q_take_while" ->
      """SELECT event_id AS seq, value FROM events WHERE event_id <
         (SELECT COALESCE(min(event_id), 9223372036854775807) FROM events WHERE NOT (value < 400))""",
    "q_drop_while" ->
      """SELECT event_id AS seq, value FROM events WHERE event_id >
         (SELECT COALESCE(min(event_id), 9223372036854775807) FROM events WHERE NOT (value < 400))""",
    "q_head" ->
      "SELECT event_id AS seq, value, event_type FROM events ORDER BY event_id LIMIT 1",
    "q_last" ->
      "SELECT event_id AS seq, value, event_type FROM events ORDER BY event_id DESC LIMIT 1",
    "q_foldl" -> s"SELECT CAST(SUM($IvalSql) AS BIGINT) AS total FROM events",
    "q_fold_map" -> s"SELECT CAST(MAX($IvalSql) AS BIGINT) AS mx FROM events",
    "q_foldr" ->
      """SELECT string_agg(event_type, '' ORDER BY event_id DESC) AS cat
         FROM (SELECT event_type, event_id FROM events ORDER BY event_id LIMIT 50) t""",
    "q_sink_list" ->
      s"SELECT list($IvalSql ORDER BY event_id) AS xs FROM events",
    "q_sink_null" -> "SELECT COUNT(*) AS cnt FROM events",
    "q_zip_source" ->
      """SELECT a.rn AS seq, a.value, b.o_totalprice
         FROM (SELECT row_number() OVER (ORDER BY event_id) - 1 AS rn, value FROM events) a
         JOIN (SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS rn, o_totalprice FROM orders) b
         USING (rn)""",
    "q_concat_sources" ->
      """SELECT event_id AS seq, value FROM events
         UNION ALL
         SELECT event_id + (SELECT max(event_id) + 1 FROM events), value
         FROM events WHERE event_type = 'click'""",
    "q_zip_sink" ->
      s"SELECT CAST(SUM($IvalSql) AS BIGINT) AS total, COUNT(*) AS cnt FROM events",
    "q_alt_sink" ->
      "SELECT value AS v FROM events ORDER BY event_id LIMIT 1",
    "q_fuse_both" ->
      s"SELECT CAST(SUM($IvalSql * 2) AS BIGINT) AS total_x2, COUNT(*) AS cnt FROM events",
    "q_feedback" ->
      s"""WITH RECURSIVE fb(round, v) AS (
            SELECT 1::BIGINT AS round, $IvalSql // 3 AS v FROM events
            WHERE event_id < 100 AND $IvalSql // 3 > 0
            UNION ALL
            SELECT round + 1, v // 3 FROM fb WHERE v // 3 > 0
          )
          SELECT round, v, COUNT(*) AS n FROM fb GROUP BY round, v""",

    "q_fold_minmax" ->
      s"SELECT CAST(MIN($IvalSql) AS BIGINT) AS mn, CAST(MAX($IvalSql) AS BIGINT) AS mx FROM events",

    "q_uncons" ->
      """SELECT (SELECT value FROM events ORDER BY event_id LIMIT 1) AS first_v,
                (SELECT COUNT(*) - 1 FROM events) AS rest_cnt""",

    "q_iterate" ->
      "SELECT CAST(t.i AS BIGINT) AS seq, CAST(t.i + 1 AS BIGINT) AS value FROM range(50) t(i)",
    // the bounded prefix of the unbounded rate counter through map ∘ filter
    "q_rate_stream" ->
      s"""SELECT CAST(t.i AS BIGINT) AS seq, CAST(2 * t.i + 1 AS BIGINT) AS value
          FROM range($RateStreamN) t(i) WHERE (2 * t.i + 1) % 3 <> 0""",
    "q_iterate_jump" ->
      """WITH RECURSIVE t(seq, value) AS (
           SELECT CAST(-1 AS BIGINT), CAST(42 AS BIGINT)
           UNION ALL
           SELECT seq + 1, (1103515245 * value + 12345) % 2147483648 FROM t WHERE seq < 9999)
         SELECT seq, value FROM t WHERE seq >= 0""",
    "q_unfold_fib" ->
      """WITH RECURSIVE t(seq, a, b) AS (
           SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)
           UNION ALL
           SELECT seq + 1, b, (a + b) % 1000000007 FROM t WHERE seq < 4999)
         SELECT seq, a AS value FROM t""",
    "q_replicate" ->
      "SELECT CAST(t.i AS BIGINT) AS seq, 'x' AS value FROM range(200) t(i)",
    "q_passthrough" ->
      s"""SELECT event_id AS seq, $IvalSql AS input_v, $IvalSql * 2 AS output_v FROM events""",

    "q_map_input" ->
      s"SELECT event_id AS seq, $IvalSql AS value FROM events WHERE $IvalSql % 2 = 0",

    "q_map_output" ->
      s"SELECT event_id AS seq, $IvalSql * 3 AS value FROM events WHERE $IvalSql > 20000",

    "q_fuse_upstream" ->
      s"SELECT CAST(SUM($IvalSql) AS BIGINT) AS total FROM events",

    "q_fuse_both_maybe" ->
      s"""SELECT
          (SELECT CAST(SUM(iv) AS BIGINT) FROM
            (SELECT $IvalSql AS iv FROM events ORDER BY event_id LIMIT 100) t) AS sum_100,
          CAST(-1 AS BIGINT) AS u1_cnt,
          (SELECT CAST(SUM($IvalSql) AS BIGINT) FROM events) AS sum_all,
          (SELECT COUNT(*) FROM events) AS u2_cnt""",

    "q_text_lines" ->
      """SELECT row_number() OVER (ORDER BY doc_id) - 1 AS seq,
                replace(text, chr(10), ' ') AS line FROM documents""",

    "q_csv_source" ->
      """SELECT doc_id AS seq, lang, n_chars::BIGINT AS n_chars
         FROM documents WHERE n_chars > 300""",

    // hx reconstructs the staged corpus file's bytes (one doc per line,
    // newlines sanitized — the q_text_lines staging convention) as hex;
    // 4096-byte chunks = 8192 hex chars
    "q_binary_chunks" ->
      """WITH c AS (SELECT lower(hex(encode(
             string_agg(replace(text, chr(10), ' '), chr(10) ORDER BY doc_id)
             || CASE WHEN (SELECT replace(text, chr(10), ' ') FROM documents
                           ORDER BY doc_id DESC LIMIT 1) = ''
                     THEN chr(10) ELSE '' END))) AS hx
          FROM documents)
         SELECT CAST(x.u.j AS BIGINT) AS seq,
                md5(substr(x.hx, x.u.j * 8192 + 1, 8192)) AS chunk_md5
         FROM (SELECT hx, UNNEST([{'j': j} for j in range(0, (len(hx) + 8191) // 8192)]) AS u
               FROM c) x""",

    "q_jsonl_source" ->
      """SELECT doc_id AS seq, n_chars::BIGINT AS n_chars
         FROM documents WHERE lang = 'en'""",

    "q_orc_source" ->
      """SELECT doc_id AS seq, n_chars::BIGINT AS n_chars
         FROM documents WHERE lang = 'en' AND n_chars > 300""",

    "q_partitioned_write" ->
      """SELECT doc_id AS seq, n_chars::BIGINT AS n_chars
         FROM documents WHERE lang = 'fr'""",

    // epoch_us = the µs-truncated time the engine mirrors with
    // `ts div 1000`; the fill is ONE whole-row struct (not per-column
    // last_value), matching ColOps.asofJoin — a NULL payload field is
    // never patched from an older right row
    "q_asof_join" ->
      """WITH l AS (SELECT user_id, epoch_us(ts) AS t, event_id, value
                    FROM events WHERE event_type = 'click'),
              r AS (SELECT user_id, epoch_us(ts) AS t, event_id,
                           event_id AS v_event_id, value AS v_value
                    FROM events WHERE event_type = 'view'),
              u AS (SELECT user_id, t, event_id, 1 AS is_l,
                           NULL::STRUCT(e BIGINT, v DOUBLE) AS pay FROM l
                    UNION ALL
                    SELECT user_id, t, event_id, 0,
                           {'e': v_event_id, 'v': v_value} FROM r),
              w AS (SELECT *,
                      last_value(pay IGNORE NULLS) OVER win AS af
                    FROM u
                    WINDOW win AS (PARTITION BY user_id ORDER BY t, is_l, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id AS seq, user_id,
                (af).e AS asof_v_event_id, (af).v AS asof_v_value
         FROM w WHERE is_l = 1""",

    "q_zip_with" -> ZipWithOracleSql,
    // streaming-executed twin: same pairing, bounded to ZipStreamN
    "q_zip_stream" -> s"SELECT * FROM ($ZipWithOracleSql) z WHERE seq < $ZipStreamN",
    // left-outer positional join: odd positions carry NULL (the right
    // side only feeds even seqs in the engine run)
    "q_zip_outer_stream" ->
      s"""SELECT a.rn AS seq, a.iv, b.ov
          FROM (SELECT row_number() OVER (ORDER BY event_id) - 1 AS rn, $IvalSql AS iv
                FROM events) a
          LEFT JOIN (SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS rn,
                            CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS ov
                     FROM orders) b ON a.rn = b.rn AND b.rn % 2 = 0
          WHERE a.rn < $ZipStreamN""",

    // ---------- LLM-data-pipeline oracles ----------

    "q_sample_strat" ->
      s"""SELECT doc_id, lang FROM documents
          ${Sampling.stratifiedTakeQualifySql("lang", "doc_id", 20)}""",

    "q_split" ->
      s"""SELECT doc_id, lang,
          ${Sampling.hashSplitSql("doc_id", SplitCuts)} AS split
          FROM documents""",

    // strict order (the affine key is injective mod the prime), so
    // row_number needs no tiebreak — but doc_id is appended anyway to
    // keep the oracle deterministic under any future key change
    "q_shuffle_order" ->
      s"""SELECT CAST(row_number() OVER (
                   ORDER BY ${Sampling.epochKeySql("doc_id", 3L)}, doc_id) - 1
                 AS BIGINT) AS new_seq,
                 doc_id
          FROM documents""",

    "q_bucket_join" ->
      """SELECT c.c_custkey AS custkey, MAX(c.c_mktsegment) AS c_mktsegment,
                COUNT(*) AS n_orders,
                CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
         FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
         GROUP BY 1""",

    "q_mix_weights" ->
      Sampling.mixWeightsSql("len(string_split(text, ' '))", 0.7),

    "q_corpus_mix" ->
      """SELECT (rn // 3) * 4 + (rn % 3) AS seq, doc_id, lang FROM
           (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rn, doc_id, lang
            FROM documents WHERE lang = 'en') a
         UNION ALL
         SELECT rn * 4 + 3 AS seq, doc_id, lang FROM
           (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rn, doc_id, lang
            FROM documents WHERE lang = 'zh') b""",

    "q_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text)""",

    "q_dedup_incremental" ->
      """SELECT n.doc_id FROM documents n
         WHERE n.doc_id >= 400 AND NOT EXISTS (
           SELECT 1 FROM documents c
           WHERE c.doc_id < 400 AND md5(c.text) = md5(n.text))""",

    "q_contamination" ->
      s"""WITH s AS (SELECT doc_id, UNNEST(${Dedup.shinglesSql}) AS h FROM documents)
          SELECT DISTINCT d.doc_id FROM s d
          JOIN (SELECT DISTINCT h FROM s WHERE doc_id % 50 = 0) b USING (h)
          WHERE d.doc_id % 50 <> 0""",
    "q_contamination_spans" ->
      Dedup.contaminationSpansSql(4, "doc_id % 50 <> 0", "doc_id % 50 = 0"),
    "q_self_spans" -> Dedup.selfSpansSql(4),
    "q_self_dedup_cut" -> Dedup.selfDedupCutSql(4),
    "q_contamination_clean" ->
      Dedup.decontaminateSql(4, "doc_id % 50 <> 0", "doc_id % 50 = 0"),
    // streaming-executed twin: stateless per-doc flag ≡ the batch join
    "q_contamination_stream" ->
      s"""WITH s AS (SELECT doc_id, UNNEST(${Dedup.shinglesSql}) AS h FROM documents)
          SELECT DISTINCT d.doc_id FROM s d
          JOIN (SELECT DISTINCT h FROM s WHERE doc_id % 50 = 0) b USING (h)
          WHERE d.doc_id % 50 <> 0""",

    "q_minhash_sig" -> {
      val cols = Dedup.minhashSql("sh").zipWithIndex
        .map { case (e, i) => f"$e AS mh_$i%02d" }.mkString(",\n          ")
      s"""SELECT doc_id, $cols
          FROM (SELECT doc_id, ${Dedup.shinglesSql} AS sh FROM documents) t"""
    },

    "q_dedup_minhash" -> (jaccardPairsSql + " WHERE jaccard >= 0.5"),
    "q_dedup_incr_near" -> incNearDupSql("doc_id % 5 = 0", 0.5),

    // reachability closure over the same pair list (UNION dedups → the
    // recursion terminates); component min == min reachable label
    "q_dedup_clusters" -> dedupClustersSql,

    // representative selection: token-richest doc per cluster
    "q_dedup_keep_best" ->
      s"""SELECT c.cluster, c.doc_id AS best_doc,
                 len(regexp_extract_all(d.text, '[A-Za-z0-9]+'))::BIGINT AS n_tokens
          FROM ($dedupClustersSql) c JOIN documents d ON d.doc_id = c.doc_id
          QUALIFY row_number() OVER (PARTITION BY c.cluster
                                     ORDER BY n_tokens DESC, c.doc_id) = 1""",

    "q_ngram_jaccard" -> jaccardPairsSql,
    "q_containment" -> containmentPairsSql,
    "q_boilerplate" -> Dedup.boilerplateRatioSql(3L),
    "q_inverted_index" -> Relevance.invertedIndexSql(16),
    "q_edit_distance" ->
      s"""WITH $candidatePairsCtes
          SELECT p.doc_a, p.doc_b,
                 levenshtein(ta.text, tb.text)::BIGINT AS edit_dist
          FROM pairs p
          JOIN documents ta ON ta.doc_id = p.doc_a
          JOIN documents tb ON tb.doc_id = p.doc_b""",

    "q_dedup_simhash" ->
      s"SELECT doc_id, ${Dedup.simhashSql} AS simhash FROM documents",

    "q_lang_id" -> langIdSql,

    "q_lang_confusion" ->
      s"""SELECT d.lang, p.lang_pred, COUNT(*) AS n
          FROM documents d JOIN ($langIdSql) p USING (doc_id)
          GROUP BY d.lang, p.lang_pred""",

    "q_split_leakage" ->
      s"""WITH jp AS ($jaccardPairsSql)
          SELECT * FROM
            (SELECT doc_a, doc_b,
                    ${Sampling.hashSplitSql("doc_a", SplitCuts)} AS split_a,
                    ${Sampling.hashSplitSql("doc_b", SplitCuts)} AS split_b
             FROM jp WHERE jaccard >= 0.5) t
          WHERE split_a <> split_b""",

    "q_text_quality" ->
      s"""SELECT doc_id,
          length(text)::BIGINT AS n_chars_m,
          len(string_split(text, ' '))::BIGINT AS n_words,
          len(regexp_extract_all(text, '[A-Za-z0-9]+'))::BIGINT AS n_tokens,
          CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
            / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_word_len,
          CAST(len(list_filter(string_split(text, ' '), w -> w IN ($allStopsSql))) AS DOUBLE)
            / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
          FROM documents""",

    "q_quality_filter" -> TextOps.qualityFilterSql(allStopsSql),
    "q_quality_train" -> QualityModel.trainOracleSql(allStopsSql),
    "q_langid_train" -> LangModel.trainOracleSql(Charsets.labeledCorpusSql),
    "q_langid_score" -> LangModel.scoreOracleSql(Charsets.labeledCorpusSql),
    "q_quality_score" -> QualityModel.scoreOracleSql(allStopsSql),
    "q_quality_eval" ->
      s"""SELECT n, tp, fp, fn, tn,
            (tp + tn) * 1000000 // n AS acc_ppm,
            CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp) ELSE 0 END AS precision_ppm,
            CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn) ELSE 0 END AS recall_ppm
          FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN pred AND y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(SUM(CASE WHEN pred AND y < 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            CAST(SUM(CASE WHEN NOT pred AND y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
            CAST(SUM(CASE WHEN NOT pred AND y < 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
          FROM (${QualityModel.scoreOracleSql(allStopsSql)}) sc) agg""",
    "q_quality_select" ->
      s"""WITH sc AS (${QualityModel.scoreOracleSql(allStopsSql)}),
          j AS (SELECT d.doc_id, d.source, sc.score
                FROM documents d JOIN sc USING (doc_id)),
          r AS (SELECT doc_id, source, score,
                  ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY score DESC, doc_id) AS rk
                FROM j)
          SELECT doc_id, source, score, CAST(rk AS BIGINT) AS rk
          FROM r WHERE rk <= 50""",
    // serve ≡ batch: the streamed broadcast-model scorer shares the
    // scoring oracle over the SANITIZED one-line-per-doc text (the
    // staging convention — the q_file_stream shadow discipline)
    "q_quality_stream" -> QualityModel.scoreOracleSql(allStopsSql,
      from = "(SELECT doc_id, replace(text, chr(10), ' ') AS text FROM documents) sdocs"),
    // the PIN proof: the oracle trains on the initial corpus slice
    // ONLY and serves the full corpus with it — exactly what the
    // pinned v1 model must produce regardless of how many retrained
    // versions the maintenance loop published behind it
    "q_quality_retrain_stream" -> QualityModel.serveOracleSql(allStopsSql,
      trainFrom = """(SELECT doc_id, text FROM documents
         WHERE doc_id < (SELECT (MAX(doc_id) + 1) // 3 FROM documents)) ti"""),
    // the oracle REBUILDS the staged raw HTML from documents via the
    // shared wrapper template, then strips it with its own regexp chain
    // — both engines parse byte-identical markup
    "q_html_extract" -> Html.extractOracleSql,
    "q_html_entities" ->
      s"""SELECT doc_id,
            replace(text, chr(10), ' ') || ' ' ||
            list_extract(${Charsets.slotTextsSql}, ${Charsets.slotIndexSql}) ||
            '$NcrBatteryDecoded' AS text
          FROM documents""",
    "q_html_audit" -> Html.extractAuditOracleSql,
    // file-source streaming twin: stateless per-page extraction ≡ batch
    "q_html_stream" -> Html.extractOracleSql,
    // the warc front door lands on the SAME output as the html
    // extraction — the gzip/WARC/HTTP layers must strip to
    // byte-identical pages, so the oracle is shared verbatim
    "q_warc_extract" -> Html.extractOracleSql,
    // binaryFile-source streaming twin: stateless per-shard decode ≡
    // the batch front door
    "q_warc_stream" -> Html.extractOracleSql,
    "q_warc_records" -> Warc.auditOracleSql,
    "q_warc_recover" -> Warc.recoveryAuditOracleSql,
    "q_warc_redirects" -> Warc.redirectEdgesOracleSql,
    "q_charset_decode" -> Charsets.decodeOracleSql,
    "q_charset_audit" -> Charsets.auditOracleSql,
    "q_charset_langid" -> Charsets.langIdOracleSql,
    // binaryFile-source streaming twin: stateless per-shard decode ≡ batch
    "q_charset_stream" -> Charsets.decodeOracleSql,
    "q_charset_vocab" -> TextOps.vocabSummaryUnicodeSql(50L,
      s"""(SELECT doc_id, regexp_extract(text, '<p>(.*)</p>', 1) AS text
           FROM (${Charsets.fixtureSql}) fx WHERE doc_id % 4 <> 3) pt"""),
    "q_frontier_redirect" -> Warc.frontierWithRedirectsOracleSql,
    "q_sitemap_seeds" -> Urls.sitemapSeedsOracleSql,
    // index→leaf composition: the nesting must be exactly transparent
    "q_sitemap_index" -> Urls.sitemapSeedsOracleSql,
    "q_warc_extract_recover" ->
      s"""SELECT * FROM (${Html.extractOracleSql}) e
          WHERE e.doc_id % ${Warc.DamageEvery} <> ${Warc.DamagePhase}""",
    "q_warc_truncated" -> Warc.truncationAuditOracleSql,
    "q_warc_extract_trunc" ->
      s"""SELECT * FROM (${Html.extractOracleSql}) e
          WHERE e.doc_id % ${Warc.TruncEvery} <> ${Warc.TruncPhase}""",

    "q_domain_rank" -> operators.Graph.pageRankSql(
      s"""SELECT ((doc_id % 150) % 23) * 7 + (doc_id % 150) % 7 AS src,
           (((7 * doc_id + 13) % 150) % 23) * 7 + ((7 * doc_id + 13) % 150) % 7 AS dst
         FROM documents""", iters = 3),

    "q_link_graph" ->
      s"""SELECT ${Urls.domainOfIdSql("doc_id")} AS src_domain,
            ${Urls.domainOfIdSql(Html.OutlinkTargetSql)} AS dst_domain,
            COUNT(*) AS n_links
          FROM documents GROUP BY 1, 2""",

    "q_cdx_index" -> cdxIndexOracleSql,
    // streaming ingest shares the batch oracle VERBATIM: bootstrap
    // version + per-shard appends must equal the full rebuild
    "q_cdx_ingest_stream" -> cdxIndexOracleSql,
    // revisit-bearing archive: one row per PAGE, positions shifted by
    // the interleaved revisit members
    "q_cdx_revisit" -> cdxOracleSqlWith(withRevisits = true),

    "q_warc_digest" ->
      s"""WITH req AS (SELECT COUNT(*) AS n FROM documents
                       WHERE doc_id % ${Warc.RequestEvery} = 0),
          resp AS (SELECT COUNT(*) AS n FROM documents)
          SELECT warc_type, n_records, n_with_digest, n_verified FROM (
            SELECT 'response' AS warc_type, n::BIGINT AS n_records,
                   n::BIGINT AS n_with_digest, n::BIGINT AS n_verified FROM resp
            UNION ALL
            SELECT 'request', n::BIGINT, n::BIGINT, n::BIGINT FROM req WHERE n > 0
            UNION ALL
            SELECT 'warcinfo', ${Warc.NumShards}::BIGINT, 0::BIGINT, 0::BIGINT
          ) t""",

    "q_wet_extract" ->
      """SELECT '<urn:uuid:graft-conversion-' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
           replace(text, chr(10), ' ') AS text
         FROM documents""",

    "q_wat_meta" ->
      s"""WITH ${Urls.urlBaseSqlCtes},
          raw AS (SELECT doc_id, ${Html.wrapSqlExpr} AS html FROM documents)
          SELECT '<urn:uuid:graft-metadata-' || CAST(b.doc_id AS VARCHAR) || '>' AS record_id,
            b.url AS url,
            ${Warc.responsePayloadLenSql("b.doc_id", "octet_length(encode(r.html))")} AS content_length,
            'Doc ' || CAST(b.doc_id AS VARCHAR) AS title
          FROM base b JOIN raw r USING (doc_id)""",

    "q_warc_urls" ->
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte},
          raw AS (SELECT doc_id, ${Html.wrapSqlExpr} AS html FROM documents)
          SELECT domain, COUNT(*) AS n_docs,
            COUNT(DISTINCT host_l) AS n_hosts,
            COUNT(DISTINCT canonical) AS n_pages,
            CAST(SUM(bytes) AS BIGINT) AS total_bytes
          FROM (SELECT p.doc_id,
                  ${Warc.responsePayloadLenSql("p.doc_id", "octet_length(encode(r.html))")} AS bytes,
                  ${Urls.domainSql("lower(host)")} AS domain,
                  lower(host) AS host_l,
                  ${Urls.canonicalSql} AS canonical
                FROM parsed p JOIN raw r USING (doc_id)) e
          GROUP BY domain""",

    "q_robots_filter" ->
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte}, ${Robots.fixtureRulesSqlCte}
          ${Robots.filterSql}""",
    "q_robots_parse" -> Robots.directivesOracleSql,
    // text-parsed rules must reproduce the in-plan fixture exactly
    "q_robots_filter_txt" ->
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte}, ${Robots.fixtureRulesSqlCte}
          ${Robots.filterSql}""",
    // the discovery chain lands on the same per-site seed profile
    "q_robots_discovery" -> Urls.sitemapSeedsOracleSql,

    "q_frontier_schedule" ->
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte},
          ${Robots.fixtureRulesSqlCte}, ${Robots.fixtureGroupsSqlCte}
          ${Robots.frontierScheduleSql("doc_id * 333333")}""",

    // streaming twin: same admitted set, the Throttle.admit output shape
    "q_frontier_schedule_stream" ->
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte},
          ${Robots.fixtureRulesSqlCte}, ${Robots.fixtureGroupsSqlCte},
          sched AS (${Robots.frontierScheduleSql("doc_id * 333333")})
          SELECT doc_id, CAST(site_n AS BIGINT) AS site_n, bucket,
                 CAST(rk AS BIGINT) AS rk
          FROM sched""",

    "q_url_parse" ->
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte}
          SELECT doc_id, url, scheme, host,
            (CASE WHEN port_s = '' THEN NULL
                  ELSE CAST(port_s AS BIGINT) END) AS port,
            path, query, fragment,
            ${Urls.domainSql("lower(host)")} AS domain
          FROM parsed""",

    "q_url_normalize" ->
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte}
          SELECT doc_id, url, ${Urls.canonicalSql} AS canonical FROM parsed""",

    "q_url_dedup" ->
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte}
          SELECT canonical, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
          FROM (SELECT doc_id, ${Urls.canonicalSql} AS canonical FROM parsed) c
          GROUP BY canonical""",

    "q_domain_stats" ->
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte}
          SELECT domain, COUNT(*) AS n_docs,
            COUNT(DISTINCT host_l) AS n_hosts,
            COUNT(DISTINCT canonical) AS n_pages,
            CAST(SUM(n_chars) AS BIGINT) AS total_chars
          FROM (SELECT p.doc_id, d.n_chars,
                  ${Urls.domainSql("lower(host)")} AS domain,
                  lower(host) AS host_l,
                  ${Urls.canonicalSql} AS canonical
                FROM parsed p JOIN documents d USING (doc_id)) e
          GROUP BY domain""",

    "q_domain_cap" ->
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte}
          SELECT doc_id, domain, n_chars, rk FROM (
            SELECT p.doc_id, ${Urls.domainSql("lower(host)")} AS domain,
              d.n_chars,
              ROW_NUMBER() OVER (
                PARTITION BY ${Urls.domainSql("lower(host)")}
                ORDER BY d.n_chars DESC, p.doc_id ASC) AS rk
            FROM parsed p JOIN documents d USING (doc_id)) r
          WHERE rk <= 5""",
    "q_html_quality" ->
      s"""WITH ${Html.extractedDocsSqlCte}
          ${TextOps.qualityFilterSql(allStopsSql, "extracted")}""",
    // streaming-executed twin: stateless map ≡ the batch rule battery
    "q_quality_filter_stream" -> TextOps.qualityFilterSql(allStopsSql),
    // file-SOURCE streaming twin: the staged shard lines sanitize
    // newlines (one doc per line), so the oracle shadows `documents`
    // with the same sanitization before running the identical battery
    "q_file_stream" ->
      s"""WITH documents AS (SELECT doc_id, replace(text, chr(10), ' ') AS text
                             FROM main.documents)
          ${TextOps.qualityFilterSql(allStopsSql)}""",
    "q_lm_score" -> TextOps.bigramLmScoreSql,
    "q_lm_perplexity" -> TextOps.heldOutLmScoreSql(
      s"${Sampling.hashSplitSql("doc_id", SplitCuts)} = 'train'"),

    "q_token_count" ->
      "SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z0-9]+'))::BIGINT AS n_tokens FROM documents",

    "q_repetition" ->
      """SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
                CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
                CAST(list_aggregate([len(list_filter(ws, w -> w = u))
                                     for u in list_distinct(ws)], 'max') AS BIGINT) AS top_word_cnt
         FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)""",

    "q_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp FROM documents""",

    "q_redact_pii" ->
      s"SELECT doc_id, ${TextOps.redactPiiSql("text")} AS redacted FROM documents",

    "q_word_freq" ->
      """SELECT w AS word, COUNT(*) AS n
         FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents) t
         GROUP BY w""",

    "q_vocab" -> TextOps.vocabSummarySql(50L),
    // the fixture rides as an aliased subquery: vocabSummaryUnicodeSql
    // opens its own WITH, so a wrapping CTE would not parse
    "q_vocab_unicode" ->
      TextOps.vocabSummaryUnicodeSql(50L, s"(${TextOps.unicodeFixtureSql}) fx"),
    "q_quality_unicode" ->
      s"""WITH fx AS (${TextOps.unicodeFixtureSql})
          ${TextOps.qualityFilterUnicodeSql("fx", carry = Seq("lang"))}""",
    "q_lang_id_unicode" ->
      s"""WITH fx AS (${TextOps.unicodeFixtureSql}),
               p AS (${TextOps.langIdUnicodeSql("fx")})
          SELECT f.doc_id, f.lang, p.lang_pred
          FROM fx f JOIN p USING (doc_id)""",
    "q_script_profile" ->
      TextOps.scriptProfileSql(s"(${TextOps.unicodeFixtureSql}) fx"),
    // bpeLearnSql opens its own WITH — fixture rides as a subquery
    "q_bpe_unicode" ->
      TextOps.bpeLearnSql(s"(${TextOps.unicodeFixtureSql}) fx", "text", 6,
        TextOps.TokenPatternUnicode),
    "q_bigrams" -> TextOps.topBigramsSql(50),
    "q_bpe_pairs" -> TextOps.charPairCountsSql("documents", "text", 5L),
    "q_bpe_learn" -> TextOps.bpeLearnSql("documents", "text", 6),
    "q_bpe_apply" -> TextOps.bpeApplySql("documents", "doc_id", "text", 6),
    "q_chunk_tokens" -> TextOps.chunkByTokensSql("documents", "doc_id", "text", 6, 64L),
    "q_tokenize_ids" -> TextOps.tokenizeIdsSql("documents", "doc_id", "text", 6),
    "q_pack_ids" -> TextOps.packTokenIdsSql("documents", "doc_id", "text", 6, 128L),
    "q_pack_bounds" ->
      TextOps.packTokenIdsWithBoundsSql("documents", "doc_id", "text", 6, 128L),
    // the composed front-door chain: extraction + quality + dedup CTEs
    // prefix the shared encode/pack chain over the canonical kept set
    "q_corpus_build" -> TextOps.packTokenIdsSql("canon", "doc_id", "text", 6, 128L,
      prefixCtes = s"""${Html.extractedDocsSqlCte},
        qf AS (${TextOps.qualityFilterSql(allStopsSql, "extracted")}),
        kept AS (SELECT e.doc_id, e.text FROM extracted e
                 JOIN qf USING (doc_id) WHERE qf.keep),
        canon AS (SELECT k.doc_id, k.text FROM kept k
                  JOIN (SELECT MIN(doc_id) AS doc_id FROM kept
                        GROUP BY md5(text)) c USING (doc_id))"""),
    // raw-archive flagship: identical oracle — the gzip/WARC/HTTP
    // layers must be exactly transparent above the extraction
    "q_corpus_build_warc" -> TextOps.packTokenIdsSql("canon", "doc_id", "text", 6, 128L,
      prefixCtes = s"""${Html.extractedDocsSqlCte},
        qf AS (${TextOps.qualityFilterSql(allStopsSql, "extracted")}),
        kept AS (SELECT e.doc_id, e.text FROM extracted e
                 JOIN qf USING (doc_id) WHERE qf.keep),
        canon AS (SELECT k.doc_id, k.text FROM kept k
                  JOIN (SELECT MIN(doc_id) AS doc_id FROM kept
                        GROUP BY md5(text)) c USING (doc_id))"""),
    // revisit-bearing flagship: SAME oracle again — revisit records
    // must be exactly transparent to the corpus build (the page is
    // counted once; the re-fetch is a fetch-log event, not a document)
    "q_corpus_build_revisit" -> TextOps.packTokenIdsSql("canon", "doc_id", "text", 6, 128L,
      prefixCtes = s"""${Html.extractedDocsSqlCte},
        qf AS (${TextOps.qualityFilterSql(allStopsSql, "extracted")}),
        kept AS (SELECT e.doc_id, e.text FROM extracted e
                 JOIN qf USING (doc_id) WHERE qf.keep),
        canon AS (SELECT k.doc_id, k.text FROM kept k
                  JOIN (SELECT MIN(doc_id) AS doc_id FROM kept
                        GROUP BY md5(text)) c USING (doc_id))"""),
    "q_warc_revisit" -> Warc.revisitResolveOracleSql,
    "q_pdf_extract" -> Warc.extractPdfOracleSql,
    "q_pdf_cjk" -> Warc.extractPdfCjkOracleSql,
    // binaryFile-source streaming twin: stateless per-shard decode ≡ batch
    "q_pdf_stream" -> Warc.extractPdfOracleSql,
    // streaming flagship: SAME oracle once more — incremental ingest
    // (bootstrap + per-segment appends) must equal the batch rebuild
    "q_corpus_build_stream" -> TextOps.packTokenIdsSql("canon", "doc_id", "text", 6, 128L,
      prefixCtes = s"""${Html.extractedDocsSqlCte},
        qf AS (${TextOps.qualityFilterSql(allStopsSql, "extracted")}),
        kept AS (SELECT e.doc_id, e.text FROM extracted e
                 JOIN qf USING (doc_id) WHERE qf.keep),
        canon AS (SELECT k.doc_id, k.text FROM kept k
                  JOIN (SELECT MIN(doc_id) AS doc_id FROM kept
                        GROUP BY md5(text)) c USING (doc_id))"""),
    // curated flagship: the frontier keep set is derived from doc_id
    // alone (urls AND record ids are both doc_id-rendered), then the
    // corpus-build chain runs over the curated subset. keep-first is
    // arg_min on the record-id string, NOT a ROW_NUMBER window: a
    // window partitioned by the giant canonical expression makes
    // DuckDB's buffer manager blow past vm.max_map_count when run
    // after other heavy oracles in one connection (measured: 65k+
    // memory maps vs 12k with the aggregate form — same keep set)
    "q_corpus_build_curated" -> TextOps.packTokenIdsSql("canon", "doc_id", "text", 6, 128L,
      prefixCtes = curatedPrefixCtes),

    // near-dup keep-best spliced after the exact-dedup canon set: the
    // q_dedup_clusters machinery (LSH candidates → verified pairs →
    // RECURSIVE reachability → token-richest representative) runs over
    // `canon`, and the BPE/encode/pack chain runs over the survivors
    "q_corpus_build_near" -> TextOps.packTokenIdsSql("near", "doc_id", "text", 6, 128L,
      recursive = true,
      prefixCtes = s"""$curatedPrefixCtes,
        ${candidatePairsCtesOver("canon")},
        scored AS (SELECT p.doc_a, p.doc_b,
               CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE) /
               CAST(len(sa.sh) + len(sb.sh)
                    - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE) AS jaccard
            FROM pairs p
            JOIN sig sa ON sa.doc_id = p.doc_a
            JOIN sig sb ON sb.doc_id = p.doc_b),
        np AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
        nedges AS (SELECT doc_a AS src, doc_b AS dst FROM np
                   UNION ALL SELECT doc_b, doc_a FROM np),
        reach AS (
          SELECT doc_id AS id, doc_id AS lab FROM canon
          UNION
          SELECT e.dst AS id, r.lab FROM nedges e JOIN reach r ON r.id = e.src
        ),
        clus AS (SELECT id AS doc_id, MIN(lab) AS cluster FROM reach GROUP BY id),
        best AS (SELECT c.cluster, c.doc_id AS best_doc
                 FROM clus c JOIN canon d ON d.doc_id = c.doc_id
                 QUALIFY row_number() OVER (PARTITION BY c.cluster
                   ORDER BY len(regexp_extract_all(d.text, '[A-Za-z0-9]+')) DESC,
                            c.doc_id) = 1),
        near AS (SELECT c.doc_id, c.text FROM canon c
                 JOIN best b ON b.best_doc = c.doc_id)"""),

    "q_pmi" -> TextOps.pmiCollocationsSql(5L),

    "q_corpus_profile" ->
      """SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
                CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS BIGINT) AS tok_sum,
                COUNT(DISTINCT source) AS n_sources,
                COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup
         FROM documents GROUP BY lang""",

    "q_kmv_sketch" -> Sketches.kmvWordSketchSql,
    "q_kmv_stream" -> Sketches.kmvWordSketchSql,

    "q_kmv_groups" -> Sketches.kmvGroupSketchSql("lang"),

    "q_kmv_merge" -> Sketches.kmvMergeSketchSql("doc_id % 2 = 0"),

    "q_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size
         FROM customer GROUP BY c_nationkey, c_mktsegment
         HAVING COUNT(*) < 8""",
    "q_cms_sketch" -> Sketches.cmsWordSketchSql,
    "q_histogram" -> Sketches.histogramSql("value", 0.0, 500.0, 25),
    // streaming-executed twin: Complete-mode final snapshot ≡ batch sketch
    "q_histogram_stream" -> Sketches.histogramSql("value", 0.0, 500.0, 25),

    "q_trending_stream" ->
      """SELECT w AS word, COUNT(*) AS n
         FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents) t
         GROUP BY w ORDER BY n DESC, word LIMIT 25""",
    "q_bloom" -> Sketches.bloomWordFilterSql,

    "q_tfidf" -> Relevance.tfIdfSql,
    "q_bm25" -> Relevance.bm25Sql,
    "q_top_terms" -> Relevance.topTermsSql(3),

    "q_chunk_text" ->
      """SELECT doc_id, x.u.i::BIGINT AS chunk_no,
                array_to_string(x.w[x.u.i * 50 + 1 : x.u.i * 50 + 50], ' ') AS chunk
         FROM (SELECT doc_id, string_split(text, ' ') AS w,
                 UNNEST([{'i': j} for j in
                         range(0, (len(string_split(text, ' ')) - 1) // 50 + 1)]) AS u
               FROM documents) x""",

    "q_chunk_stride" ->
      """SELECT doc_id, x.u.i::BIGINT AS chunk_no,
                array_to_string(x.w[x.u.i * 30 + 1 : x.u.i * 30 + 50], ' ') AS chunk
         FROM (SELECT doc_id, string_split(text, ' ') AS w,
                 UNNEST([{'i': j} for j in
                         range(0, (len(string_split(text, ' ')) - 1) // 30 + 1)]) AS u
               FROM documents) x""",

    // the composed pipeline: the SAME three mirrors, chained as CTEs
    "q_pipeline" ->
      s"""WITH qf AS (${TextOps.qualityFilterSql(allStopsSql)}),
          kept AS (SELECT d.doc_id, d.text
                   FROM documents d JOIN qf USING (doc_id) WHERE qf.keep),
          canon AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
          surv AS (SELECT k.doc_id, k.text FROM kept k JOIN canon USING (doc_id)),
          d AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS tok FROM surv),
          s AS (SELECT doc_id, tok,
                  CAST(SUM(tok) OVER (ORDER BY doc_id) - tok AS BIGINT) AS start_off
                FROM d)
          SELECT doc_id, tok, start_off,
                 start_off // $PackBudget AS pack_first,
                 greatest(start_off, start_off + tok - 1) // $PackBudget AS pack_last,
                 start_off % $PackBudget AS off_in_pack
          FROM s""",

    "q_pack_seqs" ->
      s"""WITH $packDocsSql,
          s AS (SELECT doc_id, tok,
                  CAST(SUM(tok) OVER (ORDER BY doc_id) - tok AS BIGINT) AS start_off
                FROM d)
          SELECT doc_id, tok, start_off,
                 start_off // $PackBudget AS pack_first,
                 greatest(start_off, start_off + tok - 1) // $PackBudget AS pack_last,
                 start_off % $PackBudget AS off_in_pack
          FROM s""",

    "q_pack_greedy" ->
      s"$packGreedySql SELECT doc_id, grp, tok, bin, fill FROM r",

    "q_pack_stats" ->
      s"""$packGreedySql
          SELECT grp, bin, COUNT(*) AS n_docs,
                 CAST(SUM(tok) AS BIGINT) AS fill_total,
                 $PackBudget - CAST(SUM(tok) AS BIGINT) AS waste
          FROM r GROUP BY grp, bin""",

    "q_embed_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
          q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 20),
          sc AS (SELECT q.q_id, e.vec_id, ${Similarity.cosineSql("q.q_emb", "e.emb")} AS cos
                 FROM q, e WHERE e.vec_id <> q.q_id)
          SELECT q_id, vec_id, cos, rnk FROM
            (SELECT q_id, vec_id, cos,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
             FROM sc) r
          WHERE rnk <= 3""",

    // banded OR-construction mirror: same plane constants, same band
    // packing, same bucket cap as Similarity.lshTopK
    "q_embed_lsh" ->
      s"""WITH ${Similarity.cappedBucketsSql()},
          cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
                   FROM bk q JOIN bk c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
                   WHERE q.vec_id < 20),
          sc AS (SELECT cand.q_id, cand.vec_id,
                        ${Similarity.cosineSql("qe.emb", "ce.emb")} AS cos
                 FROM cand
                 JOIN e0 qe ON qe.vec_id = cand.q_id
                 JOIN e0 ce ON ce.vec_id = cand.vec_id)
          SELECT q_id, vec_id, cos, rnk FROM
            (SELECT q_id, vec_id, cos,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
             FROM sc) r
          WHERE rnk <= 3""",

    "q_embed_ivf" -> Similarity.ivfTopKSql(20, 3),
    // streaming serve twin: same candidates, cosine, and tie-break
    "q_ann_stream" -> Similarity.ivfTopKSql(20, 3),
    "q_ann_ingest_stream" -> Similarity.ivfPqTopKSql(20, 3),
    "q_embed_ivf_persist" -> Similarity.ivfTopKSql(20, 3),
    "q_embed_pq" -> Similarity.pqCodesSql(),
    "q_embed_pq_topk" -> Similarity.pqAdcTopKSql(20, 3),
    "q_embed_pq_rerank" -> Similarity.pqRerankTopKSql(20, 3),
    // persisted-layout serve ≡ the in-memory two-stage search
    "q_embed_pq_persist" -> Similarity.pqRerankTopKSql(20, 3),
    "q_embed_ivfpq" -> Similarity.ivfPqTopKSql(20, 3),
    "q_embed_ivfpq_persist" -> Similarity.ivfPqTopKSql(20, 3),
    "q_ann_recall" -> Similarity.annRecallSql(20, 3),
    // survivors inline as a subquery-scoped WITH (names don't collide
    // with the outer index chain); the chain's e0 IS the deduped set
    "q_sem_index" -> Similarity.ivfPqTopKSql(20, 3,
      e0Sql = s"""SELECT r.vec_id, r.emb
                  FROM (${Similarity.E0Sql}) r
                  JOIN (${Similarity.semDedupSql(0.35)}) k ON k.vec_id = r.vec_id"""),
    "q_embed_quant" ->
      s"""SELECT vec_id, scale, array_to_string(qvec, ',') AS qvec
          FROM (${Similarity.quantizeInt8Sql()}) qq""",
    "q_embed_centroid" -> Similarity.labelCentroidsSql,

    "q_embed_outliers" -> Similarity.embedOutliersSql(3),
    "q_embed_dimstats" -> Similarity.dimStatsSql,
    "q_embed_standardize" ->
      s"""SELECT vec_id, UNNEST(range(len(zvec))) AS dim, UNNEST(zvec) AS z
          FROM (${Similarity.standardizeSql}) t""",
    "q_kmeans_step" -> Similarity.kmeansStepSql(),
    "q_semdedup" -> Similarity.semDedupSql(0.35),

    "q_embed_neardup" ->
      s"""WITH ${Similarity.cappedBucketsSql()},
          pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                    FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
          SELECT id_a, id_b, cos FROM
            (SELECT p.id_a, p.id_b, ${Similarity.cosineSql("ea.emb", "eb.emb")} AS cos
             FROM pairs p
             JOIN e0 ea ON ea.vec_id = p.id_a
             JOIN e0 eb ON eb.vec_id = p.id_b) s
          WHERE cos > 0.35""",

    // thumb_digest is byte-based on both sides: md5 of the lowercase-hex
    // string of the first 16 BYTES (32 hex chars) — agrees with the Spark
    // stub for non-ASCII payloads (see Multimodal.stubDecode)
    // nb = BYTE length (octet_length of the UTF-8 encoding), matching the
    // engine's bytes.length — strlen (chars) would diverge on multibyte
    // text; md5(text) is already byte-based (DuckDB hashes the UTF-8)
    "q_multimodal_decode" ->
      """SELECT doc_id AS asset_id,
         nb AS n_bytes,
         md5(text) AS digest,
         md5(substring(lower(hex(encode(text))), 1, 32)) AS thumb_digest,
         (nb % 640 + 1)::BIGINT AS width,
         (nb % 480 + 1)::BIGINT AS height,
         (nb // 100 + 1)::BIGINT AS n_frames
         FROM (SELECT doc_id, text, octet_length(encode(text))::BIGINT AS nb
               FROM documents)""",

    // BYTE-based on both sides (hx = hex of the UTF-8 bytes): frame j is
    // hex chars [2·64·j+1, +2]; frame count from the BYTE length — agrees
    // with the engine for multibyte text, not just the ASCII fixture
    "q_frame_sample" ->
      """SELECT doc_id AS asset_id, x.u.i::BIGINT AS frame_no,
                md5(substr(x.hx, x.u.i * 128 + 1, 2)) AS frame_digest
         FROM (SELECT doc_id, hx,
                 UNNEST([{'i': j} for j in range(0, (len(hx) // 2 - 1) // 64 + 1)]) AS u
               FROM (SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents)) x""",

    "q_media_features" ->
      s"""SELECT doc_id AS asset_id,
          ${Multimodal.byteFeaturesSql("lower(hex(encode(text)))").mkString(",\n          ")}
          FROM documents""",

    "q_media_resize" -> Multimodal.resizeBytesSql(7),

    "q_wav_decode" -> Multimodal.wavDecodeSql,
    "q_wav_resample" -> Multimodal.wavResampleSql(4),
    "q_bmp_decode" -> Multimodal.bmpDecodeSql,
    "q_png_decode" -> Multimodal.pngDecodeSql,
    "q_jpeg_decode" -> Multimodal.jpegDecodeSql,
    "q_gif_decode" -> Multimodal.gifDecodeSql,
    "q_png_resize" -> Multimodal.pngResampleSql(2),
    "q_bmp_resize" -> Multimodal.bmpResampleSql(2),
    "q_media_dispatch" -> Multimodal.decodeDispatchSql,
    "q_media_transcode" -> Multimodal.transcodeSql,
    "q_media_transcode_stream" -> Multimodal.transcodeSql,
    "q_media_thumb" -> Multimodal.thumbnailSql(2),
    // file-source streaming twin: stateless per-asset dispatch ≡ batch
    "q_media_stream" -> Multimodal.decodeDispatchSql,
    "q_dedup_rates" -> Dedup.dedupRatesSql("documents", "doc_id", "text", "source"),
    "q_selection_curve" -> Sampling.selectionCurveSql(
      TextOps.bigramLmScoreSql, "lp_micro", "n_bigrams", SelectionThresholds),

    "q_media_neardup" -> Multimodal.mediaNearDupsSql(36, Dedup.MaxBucket),

    "q_event_window" -> EventWindowOracleSql,
    // streaming-executed twin (Complete-mode snapshot ≡ batch agg)
    "q_event_window_stream" -> EventWindowOracleSql,

    // the BETWEEN slack band (0.0501 > tol) is redundant with the exact
    // abs filter but gives DuckDB a range condition for its IEJoin —
    // without it the oracle degenerates to an O(n²) filtered product
    // (measured 83 s vs 0.3 s at sf0.1). The slack must be strictly
    // wider than tol: an exact-0.05 BETWEEN disagrees with the abs
    // filter on boundary pairs.
    "q_band_join" ->
      """SELECT a.event_id AS seq_a, b.event_id AS seq_b,
                a.value AS v_a, b.value AS v_b
         FROM events a JOIN events b
           ON b.event_id > a.event_id
          AND b.value BETWEEN a.value - 0.0501 AND a.value + 0.0501
          AND abs(a.value - b.value) <= 0.05""",

    "q_keyed_scan" ->
      s"""SELECT event_id AS seq, user_id,
          CAST(SUM($IvalSql) OVER (PARTITION BY user_id ORDER BY event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_sum
          FROM events""",

    "q_rollup" ->
      s"""SELECT event_type, user_id % 10 AS ub,
          CAST(SUM($IvalSql) AS BIGINT) AS total, COUNT(*) AS cnt
          FROM events GROUP BY ROLLUP (event_type, ub)""",

    // latest-wins merge mirror: union + per-key top-1 by version, then
    // tombstone filter on the WINNING row
    "q_upsert" ->
      """WITH all_rows AS (
           SELECT doc_id, text, 0 AS version, FALSE AS deleted FROM documents
           UNION ALL
           SELECT doc_id, 'v1:' || text AS text, 1 AS version,
                  doc_id % 7 = 1 AS deleted
           FROM documents WHERE doc_id % 3 = 0),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                           ORDER BY version DESC) AS rk FROM all_rows)
         SELECT doc_id, md5(text) AS digest, CAST(version AS BIGINT) AS version
         FROM r WHERE rk = 1 AND NOT deleted""",

    "q_cube" ->
      s"""SELECT event_type, user_id % 10 AS ub,
          CAST(SUM($IvalSql) AS BIGINT) AS total, COUNT(*) AS cnt
          FROM events GROUP BY CUBE (event_type, ub)""",

    // exact-integer z-score mirror: HUGEINT is DuckDB's INT128 — same
    // squared-and-scaled test as the engine's DECIMAL(38,0) form
    "q_outliers" ->
      s"""WITH ev AS (SELECT event_id, event_type, $IvalSql AS c FROM events),
          st AS (SELECT event_type, COUNT(*)::HUGEINT AS n,
                        SUM(c)::HUGEINT AS s, SUM(c*c)::HUGEINT AS ss
                 FROM ev GROUP BY 1)
          SELECT ev.event_id, ev.event_type, ev.c AS cents
          FROM ev JOIN st USING (event_type)
          WHERE (n * ev.c - s) * (n * ev.c - s) > 4 * (n * ss - s * s)""",

    "q_json_props" ->
      """SELECT event_type,
          CAST(SUM(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS k_sum,
          COUNT(json_extract(props, '$.k')) AS k_n,
          COUNT(*) AS n
          FROM events GROUP BY event_type""",

    "q_pivot" -> ColOps.pivotSumSql(
      "user_id % 10", "ub", "event_type", EventTypes, IvalSql, "events"),

    "q_trimmed_mean" ->
      s"""WITH r AS (SELECT event_type, $IvalSql AS ival,
                      row_number() OVER (PARTITION BY event_type ORDER BY $IvalSql) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS n
                    FROM events)
         SELECT event_type, COUNT(*) AS kept,
                CAST(SUM(ival) AS BIGINT) AS trimmed_sum
         FROM r
         WHERE rn >= floor((n-1) * 0.05) + 1 AND rn <= floor((n-1) * 0.95) + 1
         GROUP BY event_type""",

    "q_quantiles" ->
      """WITH r AS (SELECT event_type, value,
                      row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS n
                    FROM events)
         SELECT event_type,
                max(CASE WHEN rn = floor((n-1) * 0.5) + 1 THEN value END) AS p50,
                max(CASE WHEN rn = floor((n-1) * 0.9) + 1 THEN value END) AS p90,
                max(CASE WHEN rn = floor((n-1) * 0.99) + 1 THEN value END) AS p99
         FROM r GROUP BY event_type""",

    "q_event_sliding" -> EventSlidingOracleSql,
    // streaming-executed twin (Complete-mode snapshot ≡ batch agg)
    "q_event_sliding_stream" -> EventSlidingOracleSql,

    // streaming dedup: the surviving digest set = the distinct digests
    // (every duplicate arrives inside the watermark horizon by
    // construction, so none re-emits)
    "q_dedup_stream" ->
      "SELECT DISTINCT md5(text) AS digest FROM documents",

    // gaps-and-islands mirror of session_window: a new session starts
    // when the gap to the previous event is >= 2h (Spark's window is
    // half-open, so an event exactly at prev_last+gap is OUTSIDE)
    "q_event_session" -> eventSessionOracleSql(""),
    // streaming-executed twin (append mode, sentinel-closed sessions,
    // bounded to SessionStreamN positions — mirrored in the engine feed)
    "q_event_session_stream" ->
      eventSessionOracleSql(s"WHERE event_id < $SessionStreamN"),

    "q_funnel" -> operators.Behavior.funnelSql("events",
      "user_id", "event_type", "ts", Seq("view", "click", "purchase")),
    "q_retention" -> operators.Behavior.retentionSql("events", "user_id", "ts"),

    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c,
                CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_c,
                CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_c,
                CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_charge_c,
                COUNT(*) AS n
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2000-01-01'
         GROUP BY 1, 2""",

    "q_ship_priority" ->
      """SELECT o.o_orderkey, epoch_ns(o.o_orderdate) // 1000 AS odate_us,
                o.o_orderpriority,
                CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                              AS BIGINT)) AS BIGINT) AS revenue_c
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         WHERE c.c_mktsegment = 'BUILDING'
           AND o.o_orderdate < TIMESTAMP '1998-01-01'
           AND l.l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY 1, 2, 3""",

    "q_region_revenue" ->
      """SELECT n.n_name,
                CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                              AS BIGINT)) AS BIGINT) AS revenue_c,
                COUNT(*) AS n_items
         FROM region r
         JOIN nation n ON r.r_regionkey = n.n_regionkey
         JOIN customer c ON n.n_nationkey = c.c_nationkey
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         WHERE r.r_name = 'ASIA'
         GROUP BY 1""",

    "q_order_priority" ->
      """SELECT o.o_orderpriority, COUNT(*) AS n_orders
         FROM orders o
         WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
           AND o.o_orderdate <  TIMESTAMP '1998-01-01'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_returnflag = 'R')
         GROUP BY 1""",

    "q_top_customers" ->
      """SELECT c.c_custkey, c.c_name, n.n_name,
                CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                              AS BIGINT)) AS BIGINT) AS revenue_c
         FROM lineitem l
         JOIN orders o   ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n   ON c.c_nationkey = n.n_nationkey
         WHERE l.l_returnflag = 'R'
         GROUP BY 1, 2, 3
         ORDER BY revenue_c DESC, c.c_custkey
         LIMIT 20""",

    "q_cold_parts" ->
      """SELECT p.p_brand, COUNT(*) AS n_cold,
                CAST(SUM(CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT))
                     AS BIGINT) AS shelf_value_c
         FROM part p
         WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                           WHERE l.l_partkey = p.p_partkey
                             AND l.l_shipdate > TIMESTAMP '2001-06-01')
         GROUP BY 1""",

    "q_large_orders" ->
      """WITH big AS (SELECT l_orderkey,
                        CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))
                             AS BIGINT) AS qty_c
                      FROM lineitem GROUP BY 1
                      HAVING SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) > 25000)
         SELECT c.c_name, c.c_custkey, o.o_orderkey,
                CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS total_c,
                big.qty_c
         FROM orders o
         JOIN big ON o.o_orderkey = big.l_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         ORDER BY total_c DESC, o.o_orderkey LIMIT 100""",

    "q_table_profile" -> operators.Diagnostics.columnProfileSql(
      "SELECT * FROM events",
      Seq(
        "event_id" -> "event_id",
        "user_id" -> "user_id",
        "day" -> "(epoch_ns(ts) // 1000) // 86400000000",
        "ival" -> IvalSql,
        "k" -> "json_extract(props, '$.k')::BIGINT")),

    "q_drift" -> operators.Diagnostics.distributionDriftSql(
      "SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'",
      "SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'",
      "CAST(FLOOR(o_totalprice / 25000) AS BIGINT)"),

    "q_bloom_prune" ->
      """SELECT l.l_returnflag, COUNT(*) AS n_items,
                CAST(SUM(CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT))
                     AS BIGINT) AS sum_qty_c
         FROM lineitem l
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_orderkey = l.l_orderkey
                         AND o.o_orderpriority = '1-URGENT')
         GROUP BY 1""",

    "q_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS forecast_c,
                COUNT(*) AS n_items
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate <  TIMESTAMP '1997-01-01'
           AND CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) BETWEEN 5 AND 7
           AND l_quantity < 24""",

    "q_volume_shipping" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS ship_year,
                CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                              AS BIGINT)) AS BIGINT) AS revenue_c,
                COUNT(*) AS n_items
         FROM lineitem l
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
         JOIN orders o   ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
         WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
           AND l.l_shipdate <  TIMESTAMP '1998-01-01'
           AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
             OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
         GROUP BY 1, 2, 3""",

    "q_market_share" ->
      """SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
                CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                              THEN CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)
                              ELSE 0 END) AS BIGINT) AS target_c,
                CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                              AS BIGINT)) AS BIGINT) AS total_c,
                CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                              THEN CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)
                              ELSE 0 END) * 1000000
                     // SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                               AS BIGINT)) AS BIGINT) AS share_ppm
         FROM lineitem l
         JOIN part p     ON l.l_partkey = p.p_partkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
         JOIN orders o   ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
         JOIN region r   ON cn.n_regionkey = r.r_regionkey
         WHERE p.p_type = 'PROMO' AND r.r_name = 'ASIA'
         GROUP BY 1""",

    "q_product_profit" ->
      """SELECT n.n_name,
                CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS ship_year,
                CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)
                       - CAST(FLOOR(p.p_retailprice * l.l_quantity * 10 + 0.5) AS BIGINT))
                     AS BIGINT) AS profit_c,
                COUNT(*) AS n_items
         FROM lineitem l
         JOIN part p     ON l.l_partkey = p.p_partkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation n   ON s.s_nationkey = n.n_nationkey
         WHERE p.p_name LIKE '%widget%'
         GROUP BY 1, 2""",

    "q_order_count_dist" ->
      """WITH pc AS (
           SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
           FROM customer c
           LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                             AND o.o_orderpriority <> '1-URGENT'
           GROUP BY 1)
         SELECT c_count, COUNT(*) AS custdist
         FROM pc GROUP BY 1""",

    "q_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
                  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                                AS BIGINT)) AS BIGINT) AS total_rev_c
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate <  TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT s.s_suppkey, s.s_name, rev.total_rev_c
         FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
         WHERE rev.total_rev_c = (SELECT MAX(total_rev_c) FROM rev)""",

    "q_small_qty_revenue" ->
      """WITH li AS (
           SELECT l.l_partkey,
                  CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
                  CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c
           FROM lineitem l
           JOIN part p ON l.l_partkey = p.p_partkey
           WHERE p.p_brand = 'Brand#11'),
         st AS (SELECT l_partkey, COUNT(*) AS n, CAST(SUM(qty_c) AS BIGINT) AS sumq
                FROM li GROUP BY 1)
         SELECT CAST(SUM(li.price_c) // 7 AS BIGINT) AS avg_yearly_c,
                COUNT(*) AS n_items
         FROM li JOIN st ON li.l_partkey = st.l_partkey
         WHERE li.qty_c * 5 * st.n < st.sumq""",

    "q_discount_revenue" ->
      """SELECT CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                              AS BIGINT)) AS BIGINT) AS revenue_c,
                COUNT(*) AS n_items
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
                AND CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) BETWEEN 100 AND 1100)
            OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
                AND CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) BETWEEN 1000 AND 2000)
            OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 15
                AND CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) BETWEEN 2000 AND 3000)""",

    "q_idle_customers" ->
      """WITH bal AS (
           SELECT c_custkey, c_nationkey,
                  CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
           FROM customer),
         a AS (SELECT CAST(SUM(bal_c) AS BIGINT) AS s, COUNT(*) AS n
               FROM bal WHERE bal_c > 0)
         SELECT n.n_name, COUNT(*) AS n_cust,
                CAST(SUM(b.bal_c) AS BIGINT) AS total_bal_c
         FROM bal b, a
         JOIN nation n ON b.c_nationkey = n.n_nationkey
         WHERE b.bal_c * a.n > a.s
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = b.c_custkey
                             AND o.o_orderdate >= TIMESTAMP '2000-01-01')
         GROUP BY 1""",

    "q_chunk_dedup" -> TextOps.chunkDedupSql(20),

    "q_blocklist" ->
      s"""SELECT doc_id, source, n_chars FROM documents
          WHERE ${TextOps.blocklistCleanSql("text", BlocklistTerms)}""",

    "q_weighted_sample" -> Sampling.weightedSampleSql(
      "(SELECT doc_id, source, n_chars FROM documents)", "doc_id", "n_chars", 100),

    "q_zipf_fit" -> TextOps.zipfFitSql(30),

    "q_hard_negatives" -> Similarity.hardNegativesSql(20, 3),

    "q_knn_classify" -> Similarity.knnClassifySql(50, 5),

    "q_corpus_overlap" -> Sketches.corpusOverlapSql("source"),

    "q_simhash_pairs" -> Dedup.simhashPairsSql(2, cap = 256),

    "q_interval_stream" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type,
                            epoch_ns(ts) // 1000 AS t_us
                     FROM events WHERE event_id < $IntervalStreamN),
          p AS (SELECT user_id, event_id AS p_id,
                       t_us - 3600000000 AS lo, t_us AS hi
                FROM e WHERE event_type = 'purchase')
          SELECT p.p_id, e.event_id
          FROM e JOIN p ON e.user_id = p.user_id
                        AND e.t_us BETWEEN p.lo AND p.hi
          WHERE e.event_type <> 'purchase'""",

    "q_interval_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
                           epoch_ns(ts) // 1000 AS t_us
                    FROM events),
          p AS (SELECT user_id, event_id AS p_id,
                       t_us - 3600000000 AS lo, t_us AS hi
                FROM e WHERE event_type = 'purchase')
          SELECT p.p_id, COUNT(*) AS n_before,
                 MIN(e.event_id) AS first_ev
          FROM e JOIN p ON e.user_id = p.user_id
                        AND e.t_us BETWEEN p.lo AND p.hi
          WHERE e.event_type <> 'purchase'
          GROUP BY 1""",

    "q_quality_calibrate" ->
      s"""SELECT doc_id, source, n_chars,
                 ${Sampling.qualityCalibrateSql("source", "doc_id", "n_chars")} AS pct_mille
          FROM documents""",

    "q_mix_rebalance" ->
      Sampling.mixRebalanceSql("CAST(n_chars AS BIGINT)", 0.5),

    "q_zorder_layout" ->
      s"""WITH z AS (SELECT event_id, user_id,
                            (epoch_ns(ts) // 1000) // 86400000000 AS day
                     FROM events)
          SELECT event_id, user_id, CAST(day AS BIGINT) AS day,
                 CAST(${Layout.mortonSql("user_id", "day")} AS BIGINT) AS zval
          FROM z
          WHERE user_id BETWEEN 40 AND 80 AND day BETWEEN 19730 AND 19740""",

    "q_source_cap" ->
      """SELECT source, doc_id, n_chars, rk FROM (
           SELECT source, doc_id, n_chars,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
           FROM documents) WHERE rk <= 25""",

    "q_user_growth" -> operators.Behavior.userGrowthSql("events", "user_id", "ts",
      bucketUs = 3600L * 1000000L),

    "q_rolling" ->
      s"""SELECT event_id, user_id, epoch_ns(ts) // 1000 AS t_us,
                 CAST(SUM($IvalSql) OVER (PARTITION BY user_id
                   ORDER BY epoch_ns(ts) // 1000
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS roll_c
          FROM events""",

    "q_decile" ->
      """WITH r AS (SELECT n_chars,
                      row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rk,
                      COUNT(*) OVER () AS n
                    FROM documents)
         SELECT rk * 10 // n AS bin, COUNT(*) AS n_rows,
                MIN(n_chars) AS lo, MAX(n_chars) AS hi
         FROM r GROUP BY 1""",

    // compaction moves file boundaries, never rows — the raw table IS
    // the oracle
    "q_compact" ->
      "SELECT event_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents FROM events",

    "q_range_layout" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE n_chars BETWEEN 150 AND 350""",

    "q_hive_layout" ->
      """SELECT lang, COUNT(*) AS n_docs,
                MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
                CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY 1""",

    "q_throttle" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS t_us,
                      (epoch_ns(ts) // 1000) // 86400000000 AS bucket
                    FROM events)
         SELECT event_id, user_id, bucket, CAST(rk AS BIGINT) AS rk FROM (
           SELECT event_id, user_id, bucket,
                  row_number() OVER (PARTITION BY user_id, bucket
                    ORDER BY t_us, event_id) AS rk
           FROM e) WHERE rk <= 3""",

    // streaming admission ≡ batch rank ≤ k (same window, same tiebreak)
    "q_throttle_stream" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS t_us,
                      (epoch_ns(ts) // 1000) // 86400000000 AS bucket
                    FROM events)
         SELECT event_id, user_id, bucket, CAST(rk AS BIGINT) AS rk FROM (
           SELECT event_id, user_id, bucket,
                  row_number() OVER (PARTITION BY user_id, bucket
                    ORDER BY t_us, event_id) AS rk
           FROM e) WHERE rk <= 3""",

    "q_snapshot_diff" ->
      """WITH v0 AS (SELECT doc_id AS id0, md5(text) AS d0 FROM documents),
            v1 AS (SELECT doc_id AS id1,
                          CASE WHEN doc_id % 3 = 0 THEN md5('v1:' || text)
                               ELSE md5(text) END AS d1
                   FROM documents WHERE doc_id % 11 <> 0
                   UNION ALL
                   SELECT doc_id + 1000000 AS id1, md5(text) AS d1
                   FROM documents WHERE doc_id % 13 = 0)
         SELECT COALESCE(id0, id1) AS doc_id,
                CASE WHEN id0 IS NULL THEN 'added'
                     WHEN id1 IS NULL THEN 'removed'
                     WHEN d0 <> d1 THEN 'changed'
                     ELSE 'same' END AS status
         FROM v0 FULL OUTER JOIN v1 ON id0 = id1
         WHERE NOT (id0 IS NOT NULL AND id1 IS NOT NULL AND d0 = d1)""",

    "q_scd2" ->
      """WITH chg AS (SELECT doc_id, 0::BIGINT AS version FROM documents
                      UNION ALL
                      SELECT doc_id, 1::BIGINT AS version FROM documents
                      WHERE doc_id % 3 = 0)
         SELECT doc_id, version,
                lead(version) OVER (PARTITION BY doc_id ORDER BY version) AS valid_to,
                lead(version) OVER (PARTITION BY doc_id ORDER BY version) IS NULL
                  AS is_current
         FROM chg""",

    "q_transitions" ->
      """WITH e AS (SELECT user_id, event_type,
                      lag(event_type) OVER (PARTITION BY user_id
                        ORDER BY epoch_ns(ts) // 1000, event_id) AS prev_type
                    FROM events)
         SELECT prev_type, event_type, COUNT(*) AS n
         FROM e WHERE prev_type IS NOT NULL
         GROUP BY 1, 2""",

    "q_listagg" ->
      """SELECT lang, COUNT(*) AS n_docs,
                string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids
         FROM documents GROUP BY 1""",

    "q_promo_share" ->
      """SELECT epoch_ns(date_trunc('month', l.l_shipdate)) // 1000 AS month_us,
                CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                  THEN CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS promo_c,
                CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                              AS BIGINT)) AS BIGINT) AS total_c
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY 1""",

    // streaming first-touch ≡ batch per-user min bucket
    "q_first_touch_stream" ->
      """SELECT user_id,
                MIN((epoch_ns(ts) // 1000) // 3600000000) AS first_bucket
         FROM events GROUP BY 1""",

    // keyed streaming funnel ≡ batch funnel for users who advanced
    "q_funnel_stream" ->
      s"""SELECT user_id, stage
          FROM (${operators.Behavior.funnelSql("events",
            "user_id", "event_type", "ts", Seq("view", "click", "purchase"))}) f
          WHERE stage > 0""",

    // batch mirror of the stream–static broadcast enrichment join
    "q_enrich_stream" ->
      s"""SELECT e.event_id, n.n_name AS nation, c.c_mktsegment AS segment,
                 $IvalSql AS cents
          FROM events e
          JOIN customer c ON e.user_id = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey""",

    // TRY_CAST + three-way CASE, mirroring runExceptC's branches exactly:
    // NULL k (digit-free or >18-digit props) → 'unparseable', k % 7 = 0 →
    // 'k_div_7', else ok (dead rows carry NULL k)
    "q_dead_letter" ->
      """SELECT event_id AS seq,
                CASE WHEN k IS NOT NULL AND k % 7 <> 0 THEN k ELSE NULL END AS k,
                CASE WHEN k IS NULL THEN 'unparseable'
                     WHEN k % 7 = 0 THEN 'k_div_7'
                     ELSE 'ok' END AS status
         FROM (SELECT event_id,
                      TRY_CAST(regexp_replace(props, '[^0-9]', '', 'g') AS BIGINT) AS k
               FROM events) t""",

    "q_lift_writer" ->
      s"""SELECT CAST(SUM($IvalSql) AS BIGINT) AS total,
                 COUNT(*) AS n_logged FROM events""",

    "q_lift_rws" ->
      s"""SELECT event_id AS seq,
            CAST(SUM(CASE WHEN $IvalSql >= 5000 THEN 1 ELSE 0 END)
                 OVER (ORDER BY event_id) AS BIGINT) AS run_cnt,
            COUNT(*) OVER () AS n_logged,
            CAST(SUM(CASE WHEN $IvalSql >= 5000 THEN 1 ELSE 0 END)
                 OVER () AS BIGINT) AS final_cnt
          FROM events""",

    "q_pagerank" -> operators.Graph.pageRankSql(
      """SELECT user_id AS src,
           1000000 + json_extract(props, '$.k')::BIGINT AS dst
         FROM events
         WHERE user_id IS NOT NULL
           AND json_extract(props, '$.k') IS NOT NULL""", iters = 3),

    "q_join_audit" -> operators.Diagnostics.joinAuditSql(
      "SELECT * FROM events WHERE event_type = 'click'", "user_id",
      "SELECT * FROM events WHERE event_type = 'purchase'", "user_id",
      topK = 20),

    "q_partition_skew" -> operators.Diagnostics.partitionSkewSql(
      "SELECT * FROM events", "user_id",
      "length(props) + length(event_type)", buckets = 32),

    "q_lag_features" -> operators.Behavior.lagFeaturesSql(
      "events", "user_id", "ts", "event_id", "value"),

    "q_forget_users" ->
      """WITH del AS (SELECT c_custkey AS key FROM customer WHERE c_acctbal < 0),
         delo AS (SELECT o_orderkey AS key FROM orders
                  WHERE o_custkey IN (SELECT key FROM del))
         SELECT 'customer' AS tbl,
           CAST(COUNT(*) FILTER (WHERE c_custkey IN (SELECT key FROM del)) AS BIGINT) AS purged,
           CAST(COUNT(*) FILTER (WHERE c_custkey NOT IN (SELECT key FROM del)) AS BIGINT) AS kept
         FROM customer
         UNION ALL
         SELECT 'orders' AS tbl,
           CAST(COUNT(*) FILTER (WHERE o_custkey IN (SELECT key FROM del)) AS BIGINT) AS purged,
           CAST(COUNT(*) FILTER (WHERE o_custkey NOT IN (SELECT key FROM del)) AS BIGINT) AS kept
         FROM orders
         UNION ALL
         SELECT 'lineitem' AS tbl,
           CAST(COUNT(*) FILTER (WHERE l_orderkey IN (SELECT key FROM delo)) AS BIGINT) AS purged,
           CAST(COUNT(*) FILTER (WHERE l_orderkey NOT IN (SELECT key FROM delo)) AS BIGINT) AS kept
         FROM lineitem""",

    "q_table_checksum" -> operators.Diagnostics.tableChecksumSql(
      "SELECT * FROM lineitem", "l_orderkey * 8 + l_linenumber",
      Seq("l_orderkey", "l_linenumber",
        "FLOOR(l_quantity * 100 + 0.5)",
        "FLOOR(l_extendedprice * 100 + 0.5)",
        "FLOOR(l_discount * 100 + 0.5)",
        "ascii(l_returnflag)", "ascii(l_linestatus)"),
      buckets = 64),

    "q_cooccurrence" -> operators.Behavior.coOccurrenceSql(
      """SELECT user_id, json_extract(props, '$.k')::BIGINT AS item
         FROM events
         WHERE event_type IN ('view', 'purchase')
           AND json_extract(props, '$.k') IS NOT NULL""",
      "user_id", "item", minSupport = 3, capPerUser = 40),

    "q_triangles" -> operators.Graph.triangleCountSql(CoOccurEdgesSql),
    "q_clustering_coef" -> operators.Graph.clusteringCoefSql(CoOccurEdgesSql),
  )

  /** The co-occurrence projection edge set shared by the graph-motif
    * oracles (mirrors the q_cooccurrence pipeline).
    */
  private val CoOccurEdgesSql: String =
    "SELECT item_a AS src, item_b AS dst FROM (" +
      operators.Behavior.coOccurrenceSql(
        """SELECT user_id, json_extract(props, '$.k')::BIGINT AS item
           FROM events
           WHERE event_type IN ('view', 'purchase')
             AND json_extract(props, '$.k') IS NOT NULL""",
        "user_id", "item", minSupport = 3, capPerUser = 40) + ")"

  /** Shared DuckDB CTE pipeline: minhash sigs → band buckets → candidate
    * pairs → exact shingle Jaccard (mirrors Dedup.jaccardPairs).
    */
  /** The NumBands band-bucket string expressions over a `minhash` array
    * column (shared by every LSH oracle).
    */
  private def bandExprsSql: Seq[String] =
    (0 until Dedup.NumBands).map { b =>
      val parts = (0 until Dedup.BandSize).map(r => s"minhash[${b * Dedup.BandSize + r + 1}]")
      s"concat_ws('|', '$b', ${parts.mkString(", ")})"
    }

  /** Capped band buckets of the sig CTE rows matching `pred`. */
  private def cappedBucketsSqlFor(pred: String): String =
    s"""SELECT doc_id, bucket FROM
          (SELECT doc_id, UNNEST([${bandExprsSql.mkString(", ")}]) AS bucket
           FROM sig WHERE len(sh) > 0 AND ($pred)) b0
        ${ColOps.capBucketsQualifySql(Dedup.MaxBucket)}"""

  /** The LSH candidate-pair CTE prefix shared by every pairwise near-dup
    * oracle (jaccard, containment, edit distance): signatures → capped
    * banded buckets → deduped (doc_a < doc_b) bucket-join pairs. ONE
    * definition so a NumHashes/BandSize/cap change cannot drift the
    * three oracles' candidate sets apart.
    */
  private def candidatePairsCtes: String = candidatePairsCtesOver("documents")

  /** The same candidate chain over an arbitrary (doc_id, text) source
    * — the corpus-build-near splice point.
    */
  private def candidatePairsCtesOver(table: String): String =
    s"""sig AS (SELECT doc_id, sh, [${Dedup.minhashSql("sh").mkString(", ")}] AS minhash
                FROM (SELECT doc_id, ${Dedup.shinglesSql} AS sh FROM $table) t0),
        bk AS (${cappedBucketsSqlFor("TRUE")}),
        pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id)"""

  private def jaccardPairsSql: String = {
    s"""WITH $candidatePairsCtes
        SELECT p.doc_a, p.doc_b,
               CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE) /
               CAST(len(sa.sh) + len(sb.sh)
                    - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE) AS jaccard
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.doc_a
        JOIN sig sb ON sb.doc_id = p.doc_b"""
  }

  /** Mirror of Dedup.containmentPairs: same candidate CTEs as
    * [[jaccardPairsSql]], asymmetric |A∩B|/|A| verify.
    */
  private def containmentPairsSql: String =
    s"""WITH $candidatePairsCtes
        SELECT p.doc_a, p.doc_b,
               CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE) /
               CAST(len(sa.sh) AS DOUBLE) AS cont_ab,
               CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE) /
               CAST(len(sb.sh) AS DOUBLE) AS cont_ba
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.doc_a
        JOIN sig sb ON sb.doc_id = p.doc_b"""

  /** Mirror of Dedup.incrementalNearDup with incoming = `incPred` docs,
    * corpus = the rest: per-side capped buckets, cross-side candidate
    * join, exact-Jaccard verify.
    */
  private def incNearDupSql(incPred: String, minJ: Double): String =
    s"""WITH sig AS (SELECT doc_id, sh, [${Dedup.minhashSql("sh").mkString(", ")}] AS minhash
                     FROM (SELECT doc_id, ${Dedup.shinglesSql} AS sh FROM documents) t0),
        bki AS (${cappedBucketsSqlFor(incPred)}),
        bkc AS (${cappedBucketsSqlFor(s"NOT ($incPred)")}),
        cand AS (SELECT DISTINCT i.doc_id AS doc_id, c.doc_id AS match_id
                 FROM bki i JOIN bkc c ON i.bucket = c.bucket)
        SELECT * FROM
          (SELECT cand.doc_id, cand.match_id,
                  CAST(len(list_filter(si.sh, x -> list_contains(sc.sh, x))) AS DOUBLE) /
                  CAST(len(si.sh) + len(sc.sh)
                       - len(list_filter(si.sh, x -> list_contains(sc.sh, x))) AS DOUBLE) AS jaccard
           FROM cand
           JOIN sig si ON si.doc_id = cand.doc_id
           JOIN sig sc ON sc.doc_id = cand.match_id) v
        WHERE jaccard >= $minJ"""

  /** Recursive-CTE mirror of Dedup.nearDupClusters: reachability closure
    * over the verified pair list; component min = min reachable label.
    */
  private def dedupClustersSql: String =
    s"""WITH RECURSIVE scored AS ($jaccardPairsSql),
        p AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
                  UNION ALL SELECT doc_b, doc_a FROM p),
        reach AS (
          SELECT doc_id AS id, doc_id AS lab FROM documents
          UNION
          SELECT e.dst AS id, r.lab FROM edges e JOIN reach r ON r.id = e.src
        )
        SELECT id AS doc_id, MIN(lab) AS cluster, MIN(lab) = id AS keep
        FROM reach GROUP BY id"""

  private def allStopsSql: String =
    TextOps.StopWords.values.flatten.toSeq.distinct.map(w => s"'$w'").mkString(", ")

  /** Shared by q_cdx_index and its streaming-ingest twin: every
    * record's (shard, position) predicted from doc_id alone.
    */
  private def cdxIndexOracleSql: String = cdxOracleSqlWith(withRevisits = false)

  /** The CDX position oracle, parameterized on whether the archive
    * interleaves `revisit` members (which come AFTER their doc's
    * response, so they shift only LATER docs' positions).
    */
  private def cdxOracleSqlWith(withRevisits: Boolean): String = {
    val isrev =
      if (withRevisits)
        s" + CASE WHEN doc_id % ${Warc.RevisitEvery} = ${Warc.RevisitPhase} THEN 1 ELSE 0 END"
      else ""
    s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte},
        ord AS (SELECT doc_id, doc_id % ${Warc.NumShards} AS si,
                  (1 + CASE WHEN doc_id % ${Warc.RequestEvery} = 0 THEN 1 ELSE 0 END$isrev) AS nrec,
                  CASE WHEN doc_id % ${Warc.RequestEvery} = 0 THEN 1 ELSE 0 END AS isreq
                FROM documents),
        pos AS (SELECT doc_id, si,
                  CAST(1 + COALESCE(SUM(nrec) OVER (PARTITION BY si ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + isreq
                    AS BIGINT) AS pos
                FROM ord)
        SELECT ${Urls.canonicalSql} AS canonical,
          printf('shard-%02d.warc.gz', CAST(p.si AS INT)) AS shard,
          p.pos AS pos,
          '<urn:uuid:graft-response-' || CAST(p.doc_id AS VARCHAR) || '>' AS record_id
        FROM pos p JOIN parsed USING (doc_id)"""
  }

  /** The curated flagship's shared oracle prefix: frontier keep-first
    * → curated set → extraction → quality gate → exact-dedup canon.
    * ONE definition feeding both q_corpus_build_curated and
    * q_corpus_build_near so the two chains cannot drift.
    */
  private def curatedPrefixCtes: String =
    s"""${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte},
        frontier AS (SELECT arg_min(doc_id,
            '<urn:uuid:graft-response-' || CAST(doc_id AS VARCHAR) || '>') AS doc_id
          FROM parsed GROUP BY ${Urls.canonicalSql}),
        curated AS (SELECT d.doc_id, d.text FROM documents d
                    JOIN frontier USING (doc_id)),
        ${Html.extractedDocsSqlCteFrom("curated")},
        qf AS (${TextOps.qualityFilterSql(allStopsSql, "extracted")}),
        kept AS (SELECT e.doc_id, e.text FROM extracted e
                 JOIN qf USING (doc_id) WHERE qf.keep),
        canon AS (SELECT k.doc_id, k.text FROM kept k
                  JOIN (SELECT MIN(doc_id) AS doc_id FROM kept
                        GROUP BY md5(text)) c USING (doc_id))"""

  /** DuckDB argmax-with-alphabetical-tie-break mirror of TextOps.langId. */
  private def langIdSql: String = {
    val langs = TextOps.StopWords.keys.toSeq.sorted
    def score(l: String): String = {
      val in = TextOps.StopWords(l).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), w -> w IN ($in)))"
    }
    val scored = langs.map(l => s"${score(l)} AS s_$l").mkString(", ")
    val cases = langs.zipWithIndex.map { case (l, i) =>
      val later = langs.drop(i + 1).map(m => s"s_$l >= s_$m")
      val conds = (s"s_$l > 0" +: later).mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, CASE $cases ELSE 'unknown' END AS lang_pred
        FROM (SELECT doc_id, $scored FROM documents) s"""
  }
}
