package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._
import graft.Fixtures._
import graft.streaming.{StreamExec, StreamPipes}
import StreamExec.StreamSink.ForeachBatch
import Shared._

/** Streaming-executed queries (every `_stream` query): Structured
  * Streaming and driver-fed micro-batch twins of batch operators, each
  * with its DuckDB oracle. A twin shares its batch query's oracle text.
  */
object Streaming {

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

  /** Position bound for q_interval_stream (same rationale as
    * [[ZipStreamN]]: stream-stream join state is per row; two rounds
    * already prove cross-batch pairing).
    */
  private val IntervalStreamN = 20000

  /** Event bound for q_event_session_stream (same rationale as
    * [[ZipStreamN]]): session-store commit volume is per row per batch,
    * and the sentinel-closure proof needs batches, not rows — the bound
    * keeps the bench on the operator. No-op at sf0.01 and below.
    */
  private val SessionStreamN = 25000

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
  private def annIngestStream(s: SparkSession, dir: String): DataFrame = {
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
    val ingest = ForeachBatch { (batch, _) =>
      val b = batch.toDF("vec_id", "emb", "nrm")
      Bucketing.appendPartitioned(s, servePath,
        Similarity.ivfPqIndexRowsWith(b, origSeeds, origCb), "cell")
      // the maintenance loop sees exactly what the ingest has delivered
      // (lineage cut per merge — same discipline as UpsertSnapshot)
      grown = graft.core.Materialize.checkpoint(grown.unionByName(b))
      Similarity.maintainIvf(s, ivfBase, grown)
      ()
    }
    StreamExec.runStreamingAppend[(Long, Seq[Double], Double)](s, arriving, _.toDF(),
      quantum = math.max(1, (arriving.size + 2) / 3), sink = ingest)
    Similarity.ivfPqServe(s.read.parquet(servePath), sig, 20, 3)
  }

  /** Initial-slice cut for the quality-model maintenance stream: the
    * pinned serving model trains on the first THIRD of the corpus
    * (mirrored in the oracle as `doc_id < (MAX(doc_id)+1)//3`).
    */
  private def qualityInitCut(maxDocPlus1: Long): Long = maxDocPlus1 / 3

  /** Drift threshold for the harness run (ppm of docs whose pinned-
    * model prediction disagrees with the heuristic teacher). The
    * fixture's initial-slice model ends the run at ~112k ppm over the
    * full corpus, so 100k ppm — the maintainIvf production default —
    * fires at least once as the corpus ages past it; the
    * QualityModelSpec maintenance pins exercise the hold path and the
    * hair trigger explicitly (a hair trigger is a test device, not an
    * operating point — the IVF note).
    */
  private val QualityDriftThresholdPpm = 100000L

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
  private def qualityRetrainStream(s: SparkSession, dir: String): DataFrame = {
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
    val maintain = ForeachBatch { (batch, _) =>
      val b = batch.toDF("doc_id", "text")
      seen = graft.core.Materialize.checkpoint(seen.unionByName(b))
      QualityModel.maintainModel(s, base, seen, "doc_id", "text",
        QualityDriftThresholdPpm)
      ()
    }
    StreamExec.runStreamingAppend[(Long, String)](s, arriving, _.toDF(),
      quantum = math.max(1, (arriving.size + 1) / 2), sink = maintain)
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
  private val CdxBuckets = 8

  private def cdxWithBucket(cdx: DataFrame): DataFrame =
    cdx.withColumn("cdx_bucket",
      pmod(hash(col("canonical")), lit(CdxBuckets)))

  /** The staged `.warc.gz` shards after shard-00, discovered by a real
    * binaryFile stream one file per micro-batch.
    */
  private def laterShards(s: SparkSession, shards: java.nio.file.Path): DataFrame =
    s.readStream
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "shard-0[1-9].warc.gz")
      .format("binaryFile").load(shards.toString)

  private def cdxIngestStream(s: SparkSession, dir: String): DataFrame =
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
    val append = ForeachBatch { (batch, _) =>
      Bucketing.appendPartitioned(s, servePath,
        cdxWithBucket(Warc.cdxIndex(batch)), "cdx_bucket")
      ()
    }
    StreamExec.runSourceStream(s, append)(laterShards(s, shards))
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
  private val CorpusBuckets = 8

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
    val append = ForeachBatch { (batch, _) =>
      val fresh = Dedup.newAgainstCorpus(curatedBatch(batch),
        s.read.parquet(servePath), "text")
      Bucketing.appendPartitioned(s, servePath,
        corpusWithBucket(fresh), "corpus_bucket")
      ()
    }
    StreamExec.runSourceStream(s, append)(laterShards(s, shards))
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

  def queries: Seq[QueryDef] = Seq(
    // §2.8 feedPipe/squeezePipe executed FOR REAL through Structured
    // Streaming (reference `Data/Conduino.hs:229-296`): the same running
    // sum as q_scan, but fed through a MemoryStream in micro-batch quanta
    // and folded by transformWithState (StreamPipes.scanTws) with the
    // accumulator carried in the state store across batches. Hash-checked
    // against the SAME oracle as q_scan — the streaming path must agree
    // with the batch path bit-for-bit.
    QueryDef("q_scan_stream", (s, dir) => {
      val elems = centsElems(s, dir)
      StreamExec.runStreamingAppend[Elem[Long]](s, elems,
        ds => StreamPipes.scanTws(0L)((b: Long, a: Long) => b + a).apply(SStream(ds)).ds.toDF(),
        quantum = streamQuantum(elems.size))
        .select(col("seq"), col("value").as("run_sum"))
    },
      // streaming-executed twins: SAME oracle text by construction
      ScanOracleSql),

    // §2.2 repeatM/iterate over a TRUE unbounded upstream (the u = Void
    // cell of the reference's type table, Combinators.hs:313-320): the
    // rate source's counter never ends; a map ∘ filter pipe runs over it
    // live, the query is stopped from outside once the first RateStreamN
    // positions have landed, and that prefix is hash-checked. Unlike the
    // q_*_stream proofs there is NO driver-fed input at all — offsets
    // grow with wall-clock.
    QueryDef("q_rate_stream", (s, _) =>
      graft.streaming.StreamExec.runRateStream(
        s,
        graft.core.Pipes.map[Long, Long](x => 2 * x + 1)
          |> graft.core.Pipes.filter[Long](_ % 3 != 0),
        RateStreamN)
        .select(col("seq"), col("value")),
      // the bounded prefix of the unbounded rate counter through map ∘ filter
      s"""SELECT CAST(t.i AS BIGINT) AS seq, CAST(2 * t.i + 1 AS BIGINT) AS value
          FROM range($RateStreamN) t(i) WHERE (2 * t.i + 1) % 3 <> 0"""),

    // §2.8 + §2.4 mapAccum through Structured Streaming: delta encoding
    // with the previous value carried in transformWithState state.
    // Same oracle as q_map_accum.
    QueryDef("q_delta_stream", (s, dir) => {
      val elems = centsElems(s, dir)
      StreamExec.runStreamingAppend[Elem[Long]](s, elems,
        ds => StreamPipes.mapAccumTws(0L)((a: Long, prev: Long) => (a, a - prev))
          .apply(SStream(ds)).ds.toDF(),
        quantum = streamQuantum2(elems.size))
        .select(col("seq"), col("value").as("delta"))
    },
      MapAccumOracleSql),

    // the parquet FILE SINK executed end-to-end: the same stateful delta
    // pipe as q_delta_stream, but landing in a REAL parquet sink with a
    // checkpointLocation — per-micro-batch atomic file commits in the
    // sink's _spark_metadata log, offsets in the checkpoint — and the
    // query result is the READ-BACK of the sink files, i.e. exactly what
    // a downstream job would consume. Same oracle as q_map_accum: sink
    // choice must not change a pipe's semantics.
    QueryDef("q_parquet_sink_stream", (s, dir) => {
      val elems = centsElems(s, dir)
      StreamExec.runStreamingAppend[Elem[Long]](s, elems,
        ds => StreamPipes.mapAccumTws(0L)((a: Long, prev: Long) => (a, a - prev))
          .apply(SStream(ds)).ds.toDF(),
        quantum = streamQuantum2(elems.size),
        sink = StreamExec.StreamSink.Parquet(Scratch.fresh("psink_")))
        .select(col("seq"), col("value").as("delta"))
    },
      // same pipe, real parquet sink: the read-back must equal the batch
      // delta encoding — sink machinery cannot change semantics
      MapAccumOracleSql),

    // §2.7 zipSource executed through Structured Streaming: the same
    // positional pairing as q_zip_with, but as a stream-stream inner
    // equi-join on seq (watermarked synthetic event time bounds the join
    // state) — sides fed at different rates per quantum round. Bounded to
    // the first ZipStreamN positions (mirrored in the oracle): the thing
    // under proof is the join's cross-batch execution, and state-store
    // insert cost is per-row, so the bound keeps the bench measuring the
    // operator, not fixture volume.
    QueryDef("q_zip_stream", (s, dir) => {
      val (ev, ord) = zipSideElems(s, dir, ZipStreamN)
      StreamExec.runStreamingJoin2(s, ev, ord,
        (a: Dataset[Elem[Long]], b: Dataset[Elem[Long]]) =>
          StreamPipes.zipSourcesStream(SStream(a), SStream(b)).ds.toDF())
        .select(col("seq"), (col("value._1") + col("value._2")).as("value"))
    },
      // streaming-executed twin: same pairing, bounded to ZipStreamN
      s"SELECT * FROM ($ZipWithOracleSql) z WHERE seq < $ZipStreamN"),

    // stream-stream LEFT OUTER join — the strictest streaming join
    // proof: unmatched left positions (odd seqs — the right side feeds
    // evens only) must emit with NULL once BOTH watermarks prove no
    // match can arrive, which only sentinel-driven watermark advancement
    // can flush. Bounded to ZipStreamN like q_zip_stream.
    QueryDef("q_zip_outer_stream", (s, dir) => {
      val (ev, ord) = zipSideElems(s, dir, ZipStreamN)
      val ordEven = ord.filter(_.seq % 2 == 0)
      val sentinels = StreamPipes.sentinelSeqs(ZipStreamN).map(Elem(_, 0L))
      StreamExec.runStreamingJoin2(s, ev, ordEven,
          (a: Dataset[Elem[Long]], b: Dataset[Elem[Long]]) =>
            StreamPipes.zipSourcesStreamLeft(SStream(a), SStream(b), ZipStreamN).ds.toDF(),
          tailA = sentinels, tailB = sentinels)
        .select(col("seq"), col("value._1").as("iv"), col("value._2").as("ov"))
    },
      // left-outer positional join: odd positions carry NULL (the right
      // side only feeds even seqs in the engine run)
      s"""SELECT a.rn AS seq, a.iv, b.ov
          FROM (SELECT row_number() OVER (ORDER BY event_id) - 1 AS rn, $IvalSql AS iv
                FROM events) a
          LEFT JOIN (SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS rn,
                            CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS ov
                     FROM orders) b ON a.rn = b.rn AND b.rn % 2 = 0
          WHERE a.rn < $ZipStreamN"""),

    // the throttle executed THROUGH Structured Streaming with KEYED
    // state: one admitted-count int per (user, hour-bucket) on
    // transformWithState — admission happens IN the stream, so a flood
    // never reaches downstream state. Feed is (t, id)-ordered; the
    // within-batch sort in Throttle makes "first k admitted" equal the
    // batch rank under any micro-batch split. Same oracle as q_throttle.
    QueryDef("q_throttle_stream", (s, dir) => {
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
    },
      // streaming admission ≡ batch rank ≤ k (same window, same tiebreak)
      ThrottleOracleSql),

    // the interval join executed as a genuine stream-stream EVENT-TIME
    // join (watermarks on both sides + a time-range condition — the
    // state-cleanup contract): points and purchases arrive as two
    // streams in time-ordered rounds, inner matches emit as both sides
    // land, and the time-range bound lets Spark evict joined state.
    // Bounded like q_zip_stream: join state cost is per row and two
    // rounds already prove cross-batch pairing.
    QueryDef("q_interval_stream", (s, dir) => {
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
    },
      s"""WITH e AS (SELECT user_id, event_id, event_type,
                            epoch_ns(ts) // 1000 AS t_us
                     FROM events WHERE event_id < $IntervalStreamN),
          p AS (SELECT user_id, event_id AS p_id,
                       t_us - 3600000000 AS lo, t_us AS hi
                FROM e WHERE event_type = 'purchase')
          SELECT p.p_id, e.event_id
          FROM e JOIN p ON e.user_id = p.user_id
                        AND e.t_us BETWEEN p.lo AND p.hi
          WHERE e.event_type <> 'purchase'"""),

    // per-user FIRST-TOUCH attribution executed THROUGH Structured
    // Streaming: groupBy(user).min(hour-bucket) in Complete mode — state
    // is ONE long per user (bounded by |users|, the scale bar for
    // streaming attribution; the userGrowth curve is a tiny batch rollup
    // of exactly this output). Feed is ts-ordered, but min() makes the
    // result batch-equal under ANY micro-batch split — that invariance
    // is what the oracle checks.
    QueryDef("q_first_touch_stream", (s, dir) => {
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
    },
      // streaming first-touch ≡ batch per-user min bucket
      """SELECT user_id,
                MIN((epoch_ns(ts) // 1000) // 3600000000) AS first_bucket
         FROM events GROUP BY 1"""),

    // decontamination THROUGH Structured Streaming — the stateless
    // enrichment pattern (no state store at all): corpus docs arrive as
    // a stream; each is flagged by arrays_overlap of its shingle set
    // against the benchmark shingles inlined as a broadcast literal
    // (ArraysOverlap probes a hash set, so per-row cost is O(|doc
    // shingles|)). One row in, at most one row out — no distinct, no
    // watermark, no state. Same oracle as q_contamination.
    QueryDef("q_contamination_stream", (s, dir) => {
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
    },
      // streaming-executed twin: stateless per-doc flag ≡ the batch join
      contaminationOracleSql),

    // STREAMING crawl ingest — the "pages arrive continuously" shape:
    // a real file SOURCE discovers the html shards (one per
    // micro-batch) and the full extraction chain runs stateless inside
    // the stream; shares the batch extraction oracle
    QueryDef("q_html_stream", (s, dir) => {
      val shards = stagedHtmlShards(s, dir)
      graft.streaming.StreamExec.runSourceStream(s) {
        val pages = s.readStream
          .option("maxFilesPerTrigger", "1").text(shards.toString)
          .select(regexp_extract(col("value"), "data-doc=\"([0-9]+)\"", 1)
            .cast("long").as("doc_id"), col("value").as("html"))
        Html.extract(pages, "doc_id", "html")
      }
    },
      // file-source streaming twin: stateless per-page extraction ≡ batch
      Html.extractOracleSql),

    // STREAMING corpus build — the production dual of
    // q_corpus_build_warc: time-ordered .warc.gz segments arrive
    // through a real binaryFile source; each batch runs the full front
    // door + quality gate + INCREMENTAL exact dedup (within-batch
    // keep-min, then anti-join against the layout so far) and appends
    // its fresh survivors into a hash-bucketed versioned layout; the
    // serve runs the tokenizer tail over the pinned version. Shares
    // the batch oracle VERBATIM (appends ≡ rebuild; StreamingSpec pins
    // the version never moving and the layout equaling the batch canon)
    QueryDef("q_corpus_build_stream", (s, dir) =>
      corpusBuildStreamAt(s, dir, Scratch.fresh("corpus_ingest_").toString),
      // streaming flagship: SAME oracle once more — incremental ingest
      // (bootstrap + per-segment appends) must equal the batch rebuild
      corpusBuildOracleSql),

    // STREAMING PDF ingest — "pdf-bearing archives land continuously":
    // one shard per micro-batch through a real binaryFile source, the
    // full chain (gunzip → framing → envelope → xref/stream parse →
    // FlateDecode → text ops) stateless inside the stream; batch
    // oracle shared
    QueryDef("q_pdf_stream", (s, dir) => {
      val shards = stagedPdfShards(s, dir)
      graft.streaming.StreamExec.runSourceStream(s) {
        Warc.extractPdf(s.readStream
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "1")
          .format("binaryFile").load(shards.toString))
      }
    },
      // binaryFile-source streaming twin: stateless per-shard decode ≡ batch
      Warc.extractPdfOracleSql),

    // STREAMING charset decode — "legacy-encoded archives land
    // continuously": a real binaryFile source discovers the charset
    // shards one per micro-batch and the full sniff chain (gunzip →
    // framing → BOM/header/meta resolution → counted replacements)
    // runs stateless inside the stream; shares the batch oracle
    QueryDef("q_charset_stream", (s, dir) => {
      val shards = stagedCharsetShards(s, dir)
      graft.streaming.StreamExec.runSourceStream(s) {
        Charsets.decode(Warc.records(s.readStream
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "1")
          .format("binaryFile").load(shards.toString)))
      }
    },
      // binaryFile-source streaming twin: stateless per-shard decode ≡ batch
      Charsets.decodeOracleSql),

    // STREAMING crawl-archive ingest — the "new .warc.gz shards land
    // continuously" shape: a real binaryFile SOURCE discovers one
    // shard per micro-batch and the FULL front door (multi-member
    // gunzip → record framing → HTTP strip → extraction) runs
    // stateless inside the stream; shares the batch extraction oracle
    QueryDef("q_warc_stream", (s, dir) => {
      val shards = stagedWarcShards(s, dir)
      graft.streaming.StreamExec.runSourceStream(s) {
        Warc.extract(s.readStream
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "1")
          .format("binaryFile").load(shards.toString))
      }
    },
      // binaryFile-source streaming twin: stateless per-shard decode ≡
      // the batch front door
      Html.extractOracleSql),

    // INCREMENTAL CDX maintenance: arriving .warc.gz shards discovered
    // by a real binaryFile stream append into the pinned version of a
    // canonical-bucketed versioned layout (the crawl-side dual of
    // q_ann_ingest_stream); serve reads the pinned version — bootstrap
    // + appends ≡ full rebuild, so the batch oracle is shared verbatim
    QueryDef("q_cdx_ingest_stream", (s, dir) => cdxIngestStream(s, dir),
      // streaming ingest shares the batch oracle VERBATIM: bootstrap
      // version + per-shard appends must equal the full rebuild
      cdxIndexOracleSql),

    // the MAINTENANCE loop over the serve shape — the classifier ages
    // with the crawl: pinned v1 serves while arriving batches measure
    // teacher-fidelity drift and republish retrained versions into the
    // versioned model layout; the oracle trains on the initial slice
    // only and serves the full corpus with it, so any leakage of a
    // retrained model into the pinned serving path breaks the hash
    QueryDef("q_quality_retrain_stream", (s, dir) => qualityRetrainStream(s, dir),
      // the PIN proof: the oracle trains on the initial corpus slice
      // ONLY and serves the full corpus with it — exactly what the
      // pinned v1 model must produce regardless of how many retrained
      // versions the maintenance loop published behind it
      QualityModel.serveOracleSql(allStopsSql,
        trainFrom = """(SELECT doc_id, text FROM documents
         WHERE doc_id < (SELECT (MAX(doc_id) + 1) // 3 FROM documents)) ti""")),

    // the SERVE shape of the trained classifier — train on the corpus
    // ONCE (the model artifact: 4×70 Longs), then score ARRIVING docs
    // forever: a real text source delivers one shard per micro-batch
    // and the stateless broadcast-model scorer appends per-batch
    // results; shares the batch scoring oracle VERBATIM (serve ≡ batch)
    QueryDef("q_quality_stream", (s, dir) => {
      // train on the SAME one-line-per-doc text the staged shards carry
      // (replace '\n' with ' ', the staging convention) so serve and
      // train see identical tokens even if the corpus ever gains
      // newlines; the oracle shadows documents the same way (review
      // finding — the raw/sanitized split was latent)
      val m = qualityModelFor(s, dir, sanitized = true)
      val outDir = Scratch.fresh("qserve_").toString
      val shards = stagedTextShards(s, dir)
      val score = ForeachBatch { (batch, _) =>
        QualityModel.scoreWith(parseStagedTextLine(batch), "doc_id", "text", m)
          .write.mode("append").parquet(outDir)
        ()
      }
      StreamExec.runSourceStream(s, score)(
        s.readStream.option("maxFilesPerTrigger", "1").text(shards.toString))
      s.read.parquet(outDir)
    },
      // serve ≡ batch: the streamed broadcast-model scorer shares the
      // scoring oracle over the SANITIZED one-line-per-doc text (the
      // staging convention — the q_file_stream shadow discipline)
      QualityModel.scoreOracleSql(allStopsSql,
        from = "(SELECT doc_id, replace(text, chr(10), ' ') AS text FROM documents) sdocs")),

    // the SAME politeness admission executed THROUGH Structured
    // Streaming with keyed state: group resolution + rule gate +
    // bucket derivation are stateless enrichment BEFORE the stream
    // (they depend only on the row), and the one-per-(host, window)
    // admission happens in transformWithState — the q_throttle_stream
    // machinery with the crawl-delay bucket; feed is (t, id)-ordered
    QueryDef("q_frontier_schedule_stream", (s, dir) => {
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
    },
      // streaming twin: same admitted set, the Throttle.admit output shape
      s"""WITH ${Urls.urlBaseSqlCtes}, ${Urls.parseSqlCte},
          ${Robots.fixtureRulesSqlCte}, ${Robots.fixtureGroupsSqlCte},
          sched AS (${Robots.frontierScheduleSql("doc_id * 333333")})
          SELECT doc_id, CAST(site_n AS BIGINT) AS site_n, bucket,
                 CAST(rk AS BIGINT) AS rk
          FROM sched"""),

    // the quality filter executed THROUGH Structured Streaming — the
    // NINTH streaming-executed query: stateless per-row rule battery
    // (one row in, one row out, no state store), same oracle as the
    // batch q_quality_filter because a pipe's semantics must not depend
    // on which engine path ran it
    QueryDef("q_quality_filter_stream", (s, dir) => {
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
    },
      // streaming-executed twin: stateless map ≡ the batch rule battery
      TextOps.qualityFilterSql(allStopsSql)),

    // §2.2 sourceHandleLines as a PRODUCTION INGESTION SOURCE — the
    // streaming query whose input is a real `readStream.text` over a
    // staged shard directory: the reader discovers the 4 shard files
    // itself (maxFilesPerTrigger=1 → one genuine micro-batch per file),
    // no driver-fed rows anywhere, and the stateless quality rule
    // battery runs in-stream. Lines carry "doc_id<TAB>text" (first-tab
    // split is exact — doc_id digits contain no tab); the oracle is the
    // batch rule battery over the same newline-sanitized text (a CTE
    // shadows the documents table with the staging convention).
    QueryDef("q_file_stream", (s, dir) => {
      val shards = stagedTextShards(s, dir)
      graft.streaming.StreamExec.runSourceStream(s) {
        val lines = s.readStream
          .option("maxFilesPerTrigger", "1").text(shards.toString)
        TextOps.qualityFilter(parseStagedTextLine(lines), "doc_id", "text")
      }
    },
      // file-SOURCE streaming twin: the staged shard lines sanitize
      // newlines (one doc per line), so the oracle shadows `documents`
      // with the same sanitization before running the identical battery
      s"""WITH documents AS (SELECT doc_id, replace(text, chr(10), ' ') AS text
                             FROM main.documents)
          ${TextOps.qualityFilterSql(allStopsSql)}"""),

    // KMV distinct-count sketch over corpus words (deterministic — the
    // oracle-matchable stand-in for approx_count_distinct)
    // KMV IN-stream — the bounded-state cardinality monitor
    // (TWENTY-FIRST streaming-executed query): k smallest hashes as
    // transformWithState state (fixed K longs regardless of volume),
    // documents fed in quanta, final state = the corpus sketch. KMV's
    // merge algebra is order-independent, so this shares the batch
    // q_kmv_sketch oracle verbatim.
    QueryDef("q_kmv_stream", (s, dir) => {
      import s.implicits._
      val texts = ColOps.table(s, dir, "documents").orderBy(col("doc_id"))
        .select(col("text")).as[String].collect().toSeq
      val elems = texts.zipWithIndex.map { case (t, i) =>
        graft.core.Elem(i.toLong, t)
      }
      Sketches.kmvStreamSummary(
        StreamExec.runStreamingAppend[Elem[String]](s, elems,
          ds => Sketches.kmvStreamPipe(SStream(ds)).ds.toDF(),
          quantum = streamQuantum2(texts.size)))
    },
      Sketches.kmvWordSketchSql),

    // the histogram sketch executed THROUGH Structured Streaming — the
    // TENTH streaming-executed query and the only NON-WINDOWED stateful
    // aggregation in the set: a global groupBy(bin) in Complete output
    // mode, final snapshot ≡ the batch sketch (same oracle); state is
    // bounded by sketch geometry (≤ bins+2 rows) no matter the stream
    // length — the state-store analogue of the sketch's fixed size
    QueryDef("q_histogram_stream", (s, dir) => {
      import s.implicits._
      val vals = ColOps.table(s, dir, "events")
        .select(col("value")).as[Double].collect().sorted.toSeq
      graft.streaming.StreamExec.runStreamingComplete[Tuple1[Double]](
        s, vals.map(Tuple1(_)),
        ds => Sketches.histogram(ds.toDF("value"), "value", 0.0, 500.0, 25),
        quantum = streamQuantum2(vals.size))
    },
      // streaming-executed twin: Complete-mode final snapshot ≡ batch sketch
      Sketches.histogramSql("value", 0.0, 500.0, 25)),

    // trending terms IN-stream: Complete-mode word-count aggregation fed
    // document-by-document, then the deterministic top-k snapshot cut
    // (total order (n desc, word) → TakeOrderedAndProject) on the final
    // micro-batch's table — the live "what is the corpus saying" panel
    QueryDef("q_trending_stream", (s, dir) => {
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
    },
      """SELECT w AS word, COUNT(*) AS n
         FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents) t
         GROUP BY w ORDER BY n DESC, word LIMIT 25"""),

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
    QueryDef("q_ann_stream", (s, dir) => annStreamServe(s, dir, 0),
      // streaming serve twin: same candidates, cosine, and tie-break
      Similarity.ivfTopKSql(20, 3)),

    // STREAMING index ingest — the collection arrives continuously:
    // per-batch original-geometry encode + append into the pinned
    // serving version, drift-gated maintenance publishing alongside
    // (25th streaming-executed query; shares the batch IVF-PQ oracle
    // because append ≡ rebuild on the pinned version)
    QueryDef("q_ann_ingest_stream", (s, dir) => annIngestStream(s, dir),
      Similarity.ivfPqTopKSql(20, 3)),

    // STREAMING media normalization — "new assets arrive, normalize on
    // ingest": the staged parquet shards feed a real file source (one
    // per micro-batch) and the stateless decode→PNG→re-decode chain
    // runs inside the stream; shares the batch transcode oracle
    QueryDef("q_media_transcode_stream", (s, dir) => {
      val shards = stagedMediaShards(s, dir)
      graft.streaming.StreamExec.runSourceStream(s) {
        Multimodal.transcodeNormalize(s.readStream
          .schema("asset_id BIGINT, media BINARY")
          .option("maxFilesPerTrigger", "1")
          .parquet(shards.toString))
      }
    },
      Multimodal.transcodeSql),

    // STREAMING multimodal ingest — the "new assets arrive daily"
    // shape: a real file SOURCE discovers the staged parquet shards
    // (one per micro-batch), and the full try-decode dispatch (wav/bmp
    // codecs + raw fallback) runs stateless inside the stream; shares
    // the batch dispatch oracle
    QueryDef("q_media_stream", (s, dir) => {
      val shards = stagedMediaShards(s, dir)
      graft.streaming.StreamExec.runSourceStream(s) {
        val assets = s.readStream
          .schema("asset_id BIGINT, media BINARY")
          .option("maxFilesPerTrigger", "1")
          .parquet(shards.toString)
        Multimodal.decodeDispatch(assets)
      }
    },
      // file-source streaming twin: stateless per-asset dispatch ≡ batch
      Multimodal.decodeDispatchSql),

    // the tumbling-window agg executed THROUGH Structured Streaming:
    // events fed via MemoryStream quanta into the same EventTime.tumbling
    // plan with a watermark, Complete-mode memory sink — the final
    // snapshot is hash-checked against the SAME oracle as q_event_window
    QueryDef("q_event_window_stream", (s, dir) => {
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
    },
      // streaming-executed twin (Complete-mode snapshot ≡ batch agg)
      EventWindowOracleSql),

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
    QueryDef("q_dedup_stream", (s, dir) => {
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
    },
      // streaming dedup: the surviving digest set = the distinct digests
      // (every duplicate arrives inside the watermark horizon by
      // construction, so none re-emits)
      "SELECT DISTINCT md5(text) AS digest FROM documents"),

    // the sliding-window agg executed THROUGH Structured Streaming
    // (same plan, Complete-mode snapshot ≡ the batch aggregation —
    // the q_event_window_stream pattern on the overlapping-window shape)
    QueryDef("q_event_sliding_stream", (s, dir) => {
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
    },
      // streaming-executed twin (Complete-mode snapshot ≡ batch agg)
      EventSlidingOracleSql),

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
    QueryDef("q_event_session_stream", (s, dir) => {
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
    },
      // streaming-executed twin (append mode, sentinel-closed sessions,
      // bounded to SessionStreamN positions — mirrored in the engine feed)
      eventSessionOracleSql(s"WHERE event_id < $SessionStreamN")),

    // the funnel executed THROUGH Structured Streaming with KEYED state:
    // per-user stage machines on transformWithState (state sharded by
    // user — the 100 TB deployment shape), fed in event-time order; the
    // sink holds stage ADVANCEMENTS, and the final depth is the max per
    // user (aggregated on the landed table, outside the stream). Same
    // semantics as batch q_funnel for users who advance at all.
    QueryDef("q_funnel_stream", (s, dir) => {
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
    },
      // keyed streaming funnel ≡ batch funnel for users who advanced
      s"""SELECT user_id, stage
          FROM (${operators.Behavior.funnelSql("events",
            "user_id", "event_type", "ts", Seq("view", "click", "purchase"))}) f
          WHERE stage > 0"""),

    // stream–static enrichment join: each micro-batch of the event
    // stream inner-joins the STATIC customer⋈nation dimension,
    // broadcast — the canonical streaming enrichment shape (stateless,
    // so Append mode, no watermark, no state store; per-batch cost is a
    // map-side hash lookup). Same oracle as the batch three-way join.
    QueryDef("q_enrich_stream", (s, dir) => {
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
    },
      // batch mirror of the stream–static broadcast enrichment join
      s"""SELECT e.event_id, n.n_name AS nation, c.c_mktsegment AS segment,
                 $IvalSql AS cents
          FROM events e
          JOIN customer c ON e.user_id = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey"""),
  )
}
