package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._
import graft.Fixtures._
import Shared._

/** Text and training-corpus queries: sampling and mixing, exact and
  * near dedup, decontamination, language ID, quality models, BPE,
  * packing, relevance and sketches, plus the corpus-build flagships,
  * each with its DuckDB oracle.
  */
object TextCorpus {

  /** Token budget per training sequence and doc-id group size for the
    * packing queries (fixture-scale; both are plain parameters). The
    * greedy oracle replays the same first-fit fold as a recursive CTE —
    * recursion depth = PackGroup, the per-group doc count.
    */
  private val PackBudget = 256L

  private val PackGroup = 100L

  /** train/val/test cumulative per-mille cuts for q_split. */
  private val SplitCuts = Seq("train" -> 800, "val" -> 900, "test" -> 1000)

  /** Blocklist terms for q_blocklist (fixture-tuned: leaves ~1/5 of the
    * docs — non-trivial in both directions).
    */
  private val BlocklistTerms = Seq("slow", "dup")

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

  /** Per-bigram micro log-prob cutoffs swept by q_selection_curve —
    * bracketing the fixture's score distribution (p1 ≈ −3.50e6,
    * p99 ≈ −3.32e6) so the curve is genuinely monotone from
    * keep-everything through the quantile body to keep-nothing.
    */
  private val SelectionThresholds: Seq[Long] =
    Seq(-3550000L, -3455000L, -3420000L, -3404000L, -3385000L,
      -3349000L, -3300000L)

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

  private def curatedCorpusBuild(shards: DataFrame): DataFrame =
    corpusBuildTail(curatedExtracted(shards))

  /** The curated flagship with the MinHash near-dup keep-best cut
    * spliced between the exact-dedup canon set and BPE training — the
    * order a production corpus build runs (template pages that differ
    * only in noise collapse to their token-richest copy BEFORE the
    * tokenizer learns merges from them).
    */
  private def curatedCorpusBuildNear(shards: DataFrame): DataFrame =
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

  /** The corpus-build pipeline BELOW extraction (shared by the
    * pre-extracted-page and raw-archive flagships): quality gate →
    * exact dedup → BPE train → encode → fixed-width packing. Input:
    * (doc_id, text) with extraction's kept lines flattened to spaces.
    */
  private def corpusBuildTail(extracted: DataFrame): DataFrame =
    packCorpus(corpusCanon(extracted))

  /** [[corpusBuildTail]] + the near-dup stage: exact dedup's canon set
    * is cut to each near-dup cluster's token-richest representative
    * (Dedup.keepBest — banded capped MinHash candidates, never
    * all-pairs) before BPE train / encode / pack. Checkpoint between
    * the cluster propagation loop and the BPE chain keeps the
    * iterative lineage out of the heavy tail's plan.
    */
  private def corpusBuildTailNear(extracted: DataFrame): DataFrame = {
    val canon = corpusCanon(extracted)
    val best = Dedup.keepBest(canon, "doc_id", "text")
      .select(col("best_doc").as("doc_id"))
    packCorpus(graft.core.Materialize.checkpoint(canon.join(best, "doc_id")))
  }

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

  def queries: Seq[QueryDef] = Seq(
    // per-source quality cap (the per-domain cap of web-corpus curation):
    // keep the 25 longest docs of each source; rank window rewrites to
    // WindowGroupLimit (PlanSpec asserts) so heavy sources never ship
    // their full population through the exchange
    QueryDef("q_source_cap", (s, dir) =>
      Sampling.qualityCap(
        ColOps.table(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")),
        "source", "doc_id", col("n_chars"), 25)
        .select(col("source"), col("doc_id"), col("n_chars"),
          col("rk").cast("long").as("rk")),
      """SELECT source, doc_id, n_chars, rk FROM (
           SELECT source, doc_id, n_chars,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
           FROM documents) WHERE rk <= 25"""),

    // C4-style sub-document dedup: repeated 20-word chunks keep only
    // their corpus-first occurrence, docs reassemble from survivors —
    // see TextOps.chunkDedup for the two-shuffle scale shape.
    QueryDef("q_chunk_dedup", (s, dir) =>
      TextOps.chunkDedup(
        ColOps.table(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", 20),
      TextOps.chunkDedupSql(20)),

    // tokenized blocklist gate: a PURE per-row predicate (no join, no
    // shuffle) — the first filter a crawl pipeline runs, at scan speed
    QueryDef("q_blocklist", (s, dir) =>
      ColOps.table(s, dir, "documents")
        .filter(TextOps.blocklistClean(col("text"), BlocklistTerms))
        .select(col("doc_id"), col("source"), col("n_chars")),
      s"""SELECT doc_id, source, n_chars FROM documents
          WHERE ${TextOps.blocklistCleanSql("text", BlocklistTerms)}"""),

    // sequential Poisson weighted sample: length-proportional doc draw,
    // pure integer priorities, TakeOrdered top-k — never a global sort
    QueryDef("q_weighted_sample", (s, dir) =>
      Sampling.weightedSample(
        ColOps.table(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", col("n_chars"), 100),
      Sampling.weightedSampleSql(
        "(SELECT doc_id, source, n_chars FROM documents)", "doc_id", "n_chars", 100)),

    // Zipf slope of the token rank/frequency line in exact micro units
    // — corpus-health one-liner (natural text ≈ −1e6)
    QueryDef("q_zipf_fit", (s, dir) =>
      TextOps.zipfFit(ColOps.table(s, dir, "documents"), "text", 30),
      TextOps.zipfFitSql(30)),

    // SimHash near-dup pairs: 3×10-bit banded bucket join with EXACT
    // pigeonhole recall for hamming ≤ 2 (among uncapped buckets),
    // bit_count verify. Cap 256 here: the synthetic fixture's tiny
    // vocabulary concentrates simhashes into a few viral buckets —
    // exactly the distribution the cap exists for.
    QueryDef("q_simhash_pairs", (s, dir) =>
      Dedup.simhashPairs(
        ColOps.table(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", maxHamming = 2, cap = 256),
      Dedup.simhashPairsSql(2, cap = 256)),

    // pairwise source-overlap matrix from per-source KMV shingle
    // sketches: after the sketch build, every stage is bounded by
    // sketch geometry (k·|sources| rows), never corpus size
    QueryDef("q_corpus_overlap", (s, dir) =>
      Sketches.corpusOverlap(
        ColOps.table(s, dir, "documents").select(col("source"), col("text")),
        "source", "text"),
      Sketches.corpusOverlapSql("source")),

    // per-source score percentile (exact integer per-mille): the
    // cross-domain quality normalizer — one shuffle on the stratum
    QueryDef("q_quality_calibrate", (s, dir) =>
      Sampling.qualityCalibrate(
        ColOps.table(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")),
        "source", "doc_id", col("n_chars")),
      s"""SELECT doc_id, source, n_chars,
                 ${Sampling.qualityCalibrateSql("source", "doc_id", "n_chars")} AS pct_mille
          FROM documents"""),

    // subsampling schedule realizing the temperature mix target:
    // binding source keeps ~all rows, the rest downsample — exact
    // integer rates ready for the Bernoulli/weighted samplers
    QueryDef("q_mix_rebalance", (s, dir) =>
      Sampling.mixRebalance(
        ColOps.table(s, dir, "documents"),
        "source", expr("CAST(n_chars AS BIGINT)"), 0.5),
      Sampling.mixRebalanceSql("CAST(n_chars AS BIGINT)", 0.5)),

    // ---------- LLM-data-pipeline operators ----------

    // deterministic stratified sampling — 20 docs per language, ranked by
    // a portable affine scatter (per-class cap; one shuffle on the
    // stratum, partitioned window)
    QueryDef("q_sample_strat", (s, dir) =>
      Sampling.stratifiedTake(
        ColOps.table(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id", 20),
      // ---------- LLM-data-pipeline oracles ----------
      s"""SELECT doc_id, lang FROM documents
          ${Sampling.stratifiedTakeQualifySql("lang", "doc_id", 20)}"""),

    // deterministic train/val/test split by id hash — zero shuffle,
    // membership a pure function of doc_id (stable under corpus growth)
    QueryDef("q_split", (s, dir) =>
      Sampling.hashSplit(
        ColOps.table(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", SplitCuts),
      s"""SELECT doc_id, lang,
          ${Sampling.hashSplitSql("doc_id", SplitCuts)} AS split
          FROM documents"""),

    // deterministic training-order shuffle (epoch 3): dense new ordinals
    // in seeded-affine-permutation order via the distributed Ordinals
    // machinery — range-partition + per-partition offsets, never a
    // single-partition global window
    QueryDef("q_shuffle_order", (s, dir) =>
      Sampling.shuffleOrder(
        ColOps.table(s, dir, "documents").select(col("doc_id")),
        "doc_id", seed = 3L),
      // strict order (the affine key is injective mod the prime), so
      // row_number needs no tiebreak — but doc_id is appended anyway to
      // keep the oracle deterministic under any future key change
      s"""SELECT CAST(row_number() OVER (
                   ORDER BY ${Sampling.epochKeySql("doc_id", 3L)}, doc_id) - 1
                 AS BIGINT) AS new_seq,
                 doc_id
          FROM documents"""),

    // weighted corpus interleave — en:zh docs on a 3:1 schedule (the
    // training-mix shape); sides dense-ranked by doc_id first (two-phase
    // ordinal, no global window), then pure position arithmetic + union
    QueryDef("q_corpus_mix", (s, dir) => {
      val docs = ColOps.table(s, dir, "documents").select(col("doc_id"), col("lang"))
      def side(l: String) =
        RowExec.withDenseSeq(docs.filter(col("lang") === l), Seq(col("doc_id")))
      Sampling.interleave(side("en"), side("zh"), 3, 1)
    },
      """SELECT (rn // 3) * 4 + (rn % 3) AS seq, doc_id, lang FROM
           (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rn, doc_id, lang
            FROM documents WHERE lang = 'en') a
         UNION ALL
         SELECT rn * 4 + 3 AS seq, doc_id, lang FROM
           (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rn, doc_id, lang
            FROM documents WHERE lang = 'zh') b"""),

    // temperature-scaled mixing weights (alpha = 0.7): per-source token
    // counts -> share^alpha -> normalized schedule weights; |sources|
    // rows out regardless of corpus size, pow() micro-scaled to ints
    // before the normalizing sum
    QueryDef("q_mix_weights", (s, dir) =>
      Sampling.mixWeights(ColOps.table(s, dir, "documents"), "source",
        size(split(col("text"), " ")).cast("long"), 0.7),
      Sampling.mixWeightsSql("len(string_split(text, ' '))", 0.7)),

    // exact dedup: hash-groupBy (one shuffle on the 32-byte digest)
    QueryDef("q_dedup_exact", (s, dir) =>
      Dedup.exact(ColOps.table(s, dir, "documents"), "doc_id", "text"),
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text)"""),

    // incremental dedup — keep incoming docs (doc_id >= 400) whose text
    // digest is NOT in the existing corpus (doc_id < 400): digest-only
    // anti-join, the ingestion shape
    QueryDef("q_dedup_incremental", (s, dir) => {
      val docs = ColOps.table(s, dir, "documents")
      Dedup.newAgainstCorpus(
        docs.filter(col("doc_id") >= 400).select(col("doc_id"), col("text")),
        docs.filter(col("doc_id") < 400), "text")
        .select(col("doc_id"))
    },
      """SELECT n.doc_id FROM documents n
         WHERE n.doc_id >= 400 AND NOT EXISTS (
           SELECT 1 FROM documents c
           WHERE c.doc_id < 400 AND md5(c.text) = md5(n.text))"""),

    // incremental NEAR-dup — verified LSH links from an incoming batch
    // (doc_id % 5 == 0) against the existing corpus index: only the
    // batch is re-hashed; the corpus buckets are the maintained index
    QueryDef("q_dedup_incr_near", (s, dir) => {
      val docs = ColOps.table(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.incrementalNearDup(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
    },
      incNearDupSql("doc_id % 5 = 0", 0.5)),

    // benchmark decontamination — docs sharing ANY word-3-gram shingle
    // with the "benchmark" subset (doc_id % 50 == 0 stands in for an
    // eval set): broadcast semi-join on shingle hashes
    QueryDef("q_contamination", (s, dir) => {
      val docs = ColOps.table(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.contaminatedBy(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text")
    },
      contaminationOracleSql),

    // exact token-run decontamination WITH SPANS (GPT-3/Pile style):
    // maximal shared 4-token runs between train docs and the eval
    // split, via positioned shingle match + gaps-and-islands extension
    QueryDef("q_contamination_spans", (s, dir) => {
      val docs = ColOps.table(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.contaminationSpans(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 4)
    },
      Dedup.contaminationSpansSql(4, "doc_id % 50 <> 0", "doc_id % 50 = 0")),

    // INTRA-corpus duplicated-passage spans (Lee et al. exact-substring
    // dedup): maximal shared 4-token runs between document pairs —
    // fully distributed (no small side to collect): viral-shingle cap,
    // hash self-equi-join, gaps-and-islands
    QueryDef("q_self_spans", (s, dir) =>
      Dedup.selfSpans(
        ColOps.table(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", n = 4),
      Dedup.selfSpansSql(4)),

    // the keep-first CUT completing intra-corpus passage dedup: every
    // shared run removed from the higher-id doc, first occurrence kept
    QueryDef("q_self_dedup_cut", (s, dir) =>
      Dedup.selfDedupCut(
        ColOps.table(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", n = 4),
      Dedup.selfDedupCutSql(4)),

    // span EXCISION — the cut step: every token covered by a shared
    // 4-token run is removed; after the contamination-sized span join
    // the removal is a per-row array lambda (map-only, corpus never
    // token-exploded)
    QueryDef("q_contamination_clean", (s, dir) => {
      val docs = ColOps.table(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 4)
    },
      Dedup.decontaminateSql(4, "doc_id % 50 <> 0", "doc_id % 50 = 0")),

    // MinHash signatures: k portable min-hashes per doc, zero shuffle.
    // One scalar BIGINT column per hash (mh_00..mh_15) — the driver's
    // comparator can't sort array cells (see q_consecutive).
    QueryDef("q_minhash_sig", (s, dir) => {
      val mh = (0 until Dedup.NumHashes).map(i =>
        element_at(col("minhash"), i + 1).as(f"mh_$i%02d"))
      Dedup.minhashSignatures(ColOps.table(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id") +: mh: _*)
    },
      {
        val cols = Dedup.minhashSql("sh").zipWithIndex
          .map { case (e, i) => f"$e AS mh_$i%02d" }.mkString(",\n          ")
        s"""SELECT doc_id, $cols
          FROM (SELECT doc_id, ${Dedup.shinglesSql} AS sh FROM documents) t"""
      }),

    // LSH near-dup: banded bucket join → candidate pairs → exact
    // shingle Jaccard ≥ 0.5 (never all-pairs)
    QueryDef("q_dedup_minhash", (s, dir) =>
      Dedup.jaccardPairs(ColOps.table(s, dir, "documents"), "doc_id", "text")
        .filter(col("jaccard") >= 0.5),
      (jaccardPairsSql + " WHERE jaccard >= 0.5")),

    // n-gram Jaccard verification of every LSH candidate pair
    QueryDef("q_ngram_jaccard", (s, dir) =>
      Dedup.jaccardPairs(ColOps.table(s, dir, "documents"), "doc_id", "text"),
      jaccardPairsSql),

    // character-level edit distance on the same LSH candidates — the
    // strictest verifier; O(|a|·|b|) bounded to candidate pairs only
    QueryDef("q_edit_distance", (s, dir) =>
      Dedup.editDistancePairs(ColOps.table(s, dir, "documents"), "doc_id", "text"),
      s"""WITH $candidatePairsCtes
          SELECT p.doc_a, p.doc_b,
                 levenshtein(ta.text, tb.text)::BIGINT AS edit_dist
          FROM pairs p
          JOIN documents ta ON ta.doc_id = p.doc_a
          JOIN documents tb ON tb.doc_id = p.doc_b"""),

    // asymmetric containment on the same LSH candidates — catches a doc
    // EMBEDDED in a longer one (J ≈ 0 but C(a→b) ≈ 1); identical
    // candidate/cap machinery, only the verify arithmetic differs
    QueryDef("q_containment", (s, dir) =>
      Dedup.containmentPairs(ColOps.table(s, dir, "documents"), "doc_id", "text"),
      containmentPairsSql),

    // near-dup clustering: connected components over the verified pairs —
    // iterative min-label propagation to the component's smallest doc_id
    // (keep = the doc is its cluster's canonical representative)
    QueryDef("q_dedup_clusters", (s, dir) =>
      Dedup.nearDupClusters(ColOps.table(s, dir, "documents"), "doc_id", "text"),
      // reachability closure over the same pair list (UNION dedups → the
      // recursion terminates); component min == min reachable label
      dedupClustersSql),

    // representative selection: the token-richest doc survives per
    // cluster (integer score → engine-independent rank cut)
    QueryDef("q_dedup_keep_best", (s, dir) =>
      Dedup.keepBest(ColOps.table(s, dir, "documents"), "doc_id", "text"),
      // representative selection: token-richest doc per cluster
      s"""SELECT c.cluster, c.doc_id AS best_doc,
                 len(regexp_extract_all(d.text, '[A-Za-z0-9]+'))::BIGINT AS n_tokens
          FROM ($dedupClustersSql) c JOIN documents d ON d.doc_id = c.doc_id
          QUALIFY row_number() OVER (PARTITION BY c.cluster
                                     ORDER BY n_tokens DESC, c.doc_id) = 1"""),

    // SimHash fingerprints
    QueryDef("q_dedup_simhash", (s, dir) =>
      Dedup.simhashDf(ColOps.table(s, dir, "documents"), "doc_id", "text"),
      s"SELECT doc_id, ${Dedup.simhashSql} AS simhash FROM documents"),

    // per-doc boilerplate ratio: shingles appearing in >= 3 docs, exact
    // ppm integer score — two passes over one checkpointed shingle table
    QueryDef("q_boilerplate", (s, dir) =>
      Dedup.boilerplateRatio(ColOps.table(s, dir, "documents"),
        "doc_id", "text", 3L),
      Dedup.boilerplateRatioSql(3L)),

    // capped-postings inverted index: stats from the full aggregation,
    // posting-list head via WindowGroupLimit (per-key top-k heap)
    QueryDef("q_inverted_index", (s, dir) =>
      Relevance.invertedIndex(ColOps.table(s, dir, "documents"),
        "doc_id", "text", 16),
      Relevance.invertedIndexSql(16)),

    // language ID (stopword heuristic)
    QueryDef("q_lang_id", (s, dir) =>
      ColOps.table(s, dir, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred")),
      langIdSql),

    // language-ID confusion matrix: declared lang × predicted lang —
    // the classifier-eval aggregate (one hash aggregate, |langs|² rows)
    QueryDef("q_lang_confusion", (s, dir) =>
      ColOps.table(s, dir, "documents")
        .select(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n")),
      s"""SELECT d.lang, p.lang_pred, COUNT(*) AS n
          FROM documents d JOIN ($langIdSql) p USING (doc_id)
          GROUP BY d.lang, p.lang_pred"""),

    // cross-split near-dup leakage audit: near-dup pairs spanning
    // train/val/test boundaries (empty output = leakage-free split)
    QueryDef("q_split_leakage", (s, dir) =>
      Sampling.splitLeakage(ColOps.table(s, dir, "documents"),
        "doc_id", "text", SplitCuts, 0.5),
      s"""WITH jp AS ($jaccardPairsSql)
          SELECT * FROM
            (SELECT doc_a, doc_b,
                    ${Sampling.hashSplitSql("doc_a", SplitCuts)} AS split_a,
                    ${Sampling.hashSplitSql("doc_b", SplitCuts)} AS split_b
             FROM jp WHERE jaccard >= 0.5) t
          WHERE split_a <> split_b"""),

    // quality scoring
    QueryDef("q_text_quality", (s, dir) => {
      val d = ColOps.table(s, dir, "documents")
      d.select(col("doc_id") +: TextOps.qualityCols(col("text")): _*)
    },
      s"""SELECT doc_id,
          length(text)::BIGINT AS n_chars_m,
          len(string_split(text, ' '))::BIGINT AS n_words,
          len(regexp_extract_all(text, '[A-Za-z0-9]+'))::BIGINT AS n_tokens,
          CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
            / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_word_len,
          CAST(len(list_filter(string_split(text, ' '), w -> w IN ($allStopsSql))) AS DOUBLE)
            / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
          FROM documents"""),

    // composite C4/Gopher-style quality filter: per-rule flags + keep +
    // first-fail reason, single map-only pass, integer-only comparisons
    QueryDef("q_quality_filter", (s, dir) =>
      TextOps.qualityFilter(ColOps.table(s, dir, "documents"), "doc_id", "text"),
      TextOps.qualityFilterSql(allStopsSql)),

    // TRAINED quality classifier (the CCNet/RefinedWeb/DCLM move):
    // hashed bag-of-words linear model distilled from the heuristic
    // keep flag by integer-exact batch-perceptron rounds — features
    // checkpointed once, the model broadcast each round, rounds fixed
    // and corpus-size-independent; output = the final weight vector.
    // The FITTED model is a per-JVM per-corpus artifact (the persisted-
    // index discipline): five quality queries consume it, one training
    // produces it
    QueryDef("q_quality_train", (s, dir) => {
      val spark = s
      import spark.implicits._
      qualityModelFor(s, dir).w.zipWithIndex
        .map { case (v, d) => (d.toLong, v) }.toSeq.toDF("d", "w")
    },
      QualityModel.trainOracleSql(allStopsSql)),

    // TRAINED language-ID — one-vs-rest averaged perceptrons over
    // hashed char-3-gram features (the fastText shape), trained on the
    // SIX-SCRIPT decoded charset corpus (ja/ko/zh/ru/de/el pages with
    // slot-language labels — the one fixture whose text genuinely
    // carries language signal; documents.lang is a random synthetic
    // label). Model rows (lang, d, w) hash-match an in-SQL retrain
    // (class-keyed unrolled fixed rounds, QualityModel discipline);
    // one fit per JVM serves both queries (the qualityModelFor
    // artifact discipline)
    QueryDef("q_langid_train", (s, dir) =>
      LangModel.modelRows(s, langModelFor(s, dir)),
      LangModel.trainOracleSql(Charsets.labeledCorpusSql)),

    // the trained lang-ID APPLIED: per doc all K class margins in one
    // broadcast pass, prediction = argmax (ties to the alphabetically
    // first class), agree = prediction vs the slot label. The ASCII
    // stopword heuristic scores ~1/6 on this corpus (it only knows
    // de); the trained model must classify every script (spec-pinned
    // contrast in LangModelSpec)
    QueryDef("q_langid_score", (s, dir) =>
      LangModel.scoreWith(charsetLabeledCorpus(s, dir),
        "doc_id", "text", "lang", langModelFor(s, dir)),
      LangModel.scoreOracleSql(Charsets.labeledCorpusSql)),

    // the trained model APPLIED as one broadcast scoring pass: per doc
    // the integer margin, the prediction, and the distillation-
    // fidelity bit (model vs teacher) the selection tier thresholds on
    QueryDef("q_quality_score", (s, dir) =>
      QualityModel.scoreWith(ColOps.table(s, dir, "documents"),
        "doc_id", "text", qualityModelFor(s, dir)),
      QualityModel.scoreOracleSql(allStopsSql)),

    // the CURATED raw-archive flagship: URL-frontier dedup runs BEFORE
    // any page bytes are parsed — keep the first record (by
    // WARC-Record-ID) per canonical target URI, a partial
    // WindowGroupLimit on the canonical key — then the kept records
    // flow through HTTP strip → extraction → the full corpus-build
    // tail. The oracle derives the SAME keep set from doc_id alone
    // (urls and record ids are both doc_id-rendered), so every layer
    // of the curation is hash-checked end-to-end
    QueryDef("q_corpus_build_curated", (s, dir) =>
      curatedCorpusBuild(s.read.format("binaryFile")
        .load(stagedWarcShards(s, dir).toString)),
      // curated flagship: the frontier keep set is derived from doc_id
      // alone (urls AND record ids are both doc_id-rendered), then the
      // corpus-build chain runs over the curated subset. keep-first is
      // arg_min on the record-id string, NOT a ROW_NUMBER window: a
      // window partitioned by the giant canonical expression makes
      // DuckDB's buffer manager blow past vm.max_map_count when run
      // after other heavy oracles in one connection (measured: 65k+
      // memory maps vs 12k with the aggregate form — same keep set)
      TextOps.packTokenIdsSql("canon", "doc_id", "text", 6, 128L,
        prefixCtes = curatedPrefixCtes)),

    // the curated flagship WITH the near-dup stage: frontier dedup →
    // extract → quality → exact dedup → MinHash keep-best cut (banded
    // capped candidates, cluster representative = token-richest) →
    // BPE train → encode → pack — the full production corpus order
    QueryDef("q_corpus_build_near", (s, dir) =>
      curatedCorpusBuildNear(s.read.format("binaryFile")
        .load(stagedWarcShards(s, dir).toString)),
      // near-dup keep-best spliced after the exact-dedup canon set: the
      // q_dedup_clusters machinery (LSH candidates → verified pairs →
      // RECURSIVE reachability → token-richest representative) runs over
      // `canon`, and the BPE/encode/pack chain runs over the survivors
      TextOps.packTokenIdsSql("near", "doc_id", "text", 6, 128L,
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
                 JOIN best b ON b.best_doc = c.doc_id)""")),

    // classifier EVALUATION — the metrics a model gate reads before
    // promoting a quality classifier: confusion counts vs the teacher
    // plus exact-integer ppm accuracy/precision/recall; one aggregate
    // over the scored corpus
    QueryDef("q_quality_eval", (s, dir) => {
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
    },
      s"""SELECT n, tp, fp, fn, tn,
            (tp + tn) * 1000000 // n AS acc_ppm,
            CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp) ELSE 0 END AS precision_ppm,
            CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn) ELSE 0 END AS recall_ppm
          FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN pred AND y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(SUM(CASE WHEN pred AND y < 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            CAST(SUM(CASE WHEN NOT pred AND y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
            CAST(SUM(CASE WHEN NOT pred AND y < 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
          FROM (${QualityModel.scoreOracleSql(allStopsSql)}) sc) agg"""),

    // the trained score FEEDING the selection tier — per-source volume
    // caps kept by MODEL score instead of a heuristic: the curation
    // move the classifier exists for (no source contributes more than
    // k docs, and the k kept are the model's best); WindowGroupLimit
    // partial top-k below the exchange, same as q_source_cap
    QueryDef("q_quality_select", (s, dir) => {
      val d = ColOps.table(s, dir, "documents")
      val sc = QualityModel.scoreWith(d, "doc_id", "text", qualityModelFor(s, dir))
        .select(col("doc_id"), col("score"))
      Sampling.qualityCap(
          d.select(col("doc_id"), col("source")).join(sc, "doc_id"),
          "source", "doc_id", col("score"), k = 50)
        .select(col("doc_id"), col("source"), col("score"),
          col("rk").cast("long").as("rk"))
    },
      s"""WITH sc AS (${QualityModel.scoreOracleSql(allStopsSql)}),
          j AS (SELECT d.doc_id, d.source, sc.score
                FROM documents d JOIN sc USING (doc_id)),
          r AS (SELECT doc_id, source, score,
                  ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY score DESC, doc_id) AS rk
                FROM j)
          SELECT doc_id, source, score, CAST(rk AS BIGINT) AS rk
          FROM r WHERE rk <= 50"""),

    // corpus-LM quality scoring: add-one-smoothed bigram model trained
    // ON the corpus (two count aggregates), every doc scored by summed
    // micro-scaled log-probability — the KenLM-filter shape
    QueryDef("q_lm_score", (s, dir) =>
      TextOps.bigramLmScore(ColOps.table(s, dir, "documents"), "doc_id", "text"),
      TextOps.bigramLmScoreSql),

    // threshold SELECTION CURVE over the LM quality scores: per
    // candidate per-bigram log-prob cutoff, how many docs (and how many
    // bigrams of training weight) survive — one scan, 2K conditional
    // aggregates, in-plan stack unpivot; the cutoff compare is exact
    // integer cross-multiplication, no FP division
    QueryDef("q_selection_curve", (s, dir) =>
      Sampling.selectionCurve(
        TextOps.bigramLmScore(ColOps.table(s, dir, "documents"), "doc_id", "text"),
        "lp_micro", "n_bigrams", SelectionThresholds),
      Sampling.selectionCurveSql(
        TextOps.bigramLmScoreSql, "lp_micro", "n_bigrams", SelectionThresholds)),

    // HELD-OUT LM eval: bigram counts from the hash-split train
    // partition only, every val/test doc scored against them (add-one
    // smoothing, unseen words/bigrams coalesced — no OOV drops). The
    // train/eval discipline q_lm_score deliberately skips.
    QueryDef("q_lm_perplexity", (s, dir) =>
      TextOps.heldOutLmScore(ColOps.table(s, dir, "documents"),
        "doc_id", "text",
        Sampling.splitExpr(col("doc_id"), SplitCuts) === "train"),
      TextOps.heldOutLmScoreSql(
        s"${Sampling.hashSplitSql("doc_id", SplitCuts)} = 'train'")),

    // PMI collocations over corpus bigrams (count-thresholded, micro-
    // scaled ln) — three count aggregates + narrow-key joins, no sort
    QueryDef("q_pmi", (s, dir) =>
      TextOps.pmiCollocations(ColOps.table(s, dir, "documents"), "text", 5L),
      TextOps.pmiCollocationsSql(5L)),

    // token counting (BPE-ish regex tokens)
    QueryDef("q_token_count", (s, dir) =>
      ColOps.table(s, dir, "documents")
        .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
      "SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z0-9]+'))::BIGINT AS n_tokens FROM documents"),

    // Gopher-style repetition signals: explode → (doc, word) count →
    // per-doc agg (two narrow shuffles, map-side partials; never a
    // per-doc loop)
    QueryDef("q_repetition", (s, dir) =>
      TextOps.repetitionStats(ColOps.table(s, dir, "documents"), "doc_id", "text"),
      """SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
                CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
                CAST(list_aggregate([len(list_filter(ws, w -> w = u))
                                     for u in list_distinct(ws)], 'max') AS BIGINT) AS top_word_cnt
         FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)"""),

    // document fingerprinting
    QueryDef("q_fingerprint", (s, dir) =>
      ColOps.table(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp")),
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp FROM documents"""),

    // PII redaction (training-data scrubbing): email/phone/IP → tags
    QueryDef("q_redact_pii", (s, dir) =>
      ColOps.table(s, dir, "documents")
        .select(col("doc_id"), TextOps.redactPii(col("text")).as("redacted")),
      s"SELECT doc_id, ${TextOps.redactPiiSql("text")} AS redacted FROM documents"),

    // vocabulary construction with a relative cutoff + the OOV rate it
    // induces (tokenizer prep): wordcount shuffle + 1-row broadcast
    // total, never a driver-side vocabulary
    QueryDef("q_vocab", (s, dir) =>
      TextOps.vocabSummary(ColOps.table(s, dir, "documents"), "text", 50L),
      TextOps.vocabSummarySql(50L)),

    // Unicode token tier — the text family without the Latin-only blind
    // spot. Fixture = six-script texts (Cyrillic/Arabic/Greek/
    // Devanagari/spaced-CJK/umlaut-Latin) keyed round-robin on doc_id,
    // rendered once in TextOps.UnicodeFixture and mirrored verbatim
    // into the oracle, so both engines tokenize identical bytes with
    // the shared [\p{L}\p{M}\p{N}]+ class. Same map-only / one-shuffle
    // shapes as the ASCII battery.
    QueryDef("q_vocab_unicode", (s, dir) =>
      TextOps.vocabSummaryUnicode(
        TextOps.unicodeFixture(ColOps.table(s, dir, "documents"), "doc_id"),
        "text", 50L),
      // the fixture rides as an aliased subquery: vocabSummaryUnicodeSql
      // opens its own WITH, so a wrapping CTE would not parse
      TextOps.vocabSummaryUnicodeSql(50L, s"(${TextOps.unicodeFixtureSql}) fx")),

    // the quality battery proven NOT to zero out non-Latin documents:
    // per-doc flags + keep + reason with the planted language carried
    // through, so the oracle row pins keep=true across all six scripts
    QueryDef("q_quality_unicode", (s, dir) =>
      TextOps.qualityFilterUnicode(
        TextOps.unicodeFixture(ColOps.table(s, dir, "documents"), "doc_id"),
        "doc_id", "text", carry = Seq("lang")),
      s"""WITH fx AS (${TextOps.unicodeFixtureSql})
          ${TextOps.qualityFilterUnicodeSql("fx", carry = Seq("lang"))}"""),

    // per-document script composition — the language-mix audit a
    // multilingual corpus gates on; map-only, counts code-point-exact
    // (Java and RE2 spell the script property differently but name the
    // SAME Unicode property — membership agrees; hash-checked here)
    QueryDef("q_script_profile", (s, dir) =>
      TextOps.scriptProfile(
        TextOps.unicodeFixture(ColOps.table(s, dir, "documents"), "doc_id"),
        "doc_id", "text"),
      TextOps.scriptProfileSql(s"(${TextOps.unicodeFixtureSql}) fx")),

    // the tokenizer-TRAINING loop goes script-agnostic: 6 rounds of
    // argmax-merge-recount over the six-script fixture with the Unicode
    // token alphabet — combining marks enter as single symbols and the
    // merges learn them back onto their base letters, which is exactly
    // how byte/char-level BPE handles scripts it was never hand-tuned
    // for. Same vocab-bounded histogram shape as q_bpe_learn.
    QueryDef("q_bpe_unicode", (s, dir) =>
      TextOps.bpeLearn(
        TextOps.unicodeFixture(ColOps.table(s, dir, "documents"), "doc_id"),
        "text", 6, TextOps.TokenPatternUnicode),
      // bpeLearnSql opens its own WITH — fixture rides as a subquery
      TextOps.bpeLearnSql(s"(${TextOps.unicodeFixtureSql}) fx", "text", 6,
        TextOps.TokenPatternUnicode)),

    // language ID across six scripts: stopword-argmax over Unicode
    // tokens recovers the planted language (true lang carried for the
    // confusion readout)
    QueryDef("q_lang_id_unicode", (s, dir) => {
      val fx = TextOps.unicodeFixture(ColOps.table(s, dir, "documents"), "doc_id")
      fx.select(col("doc_id"), col("lang"),
        TextOps.langIdUnicode(col("text")).as("lang_pred"))
    },
      s"""WITH fx AS (${TextOps.unicodeFixtureSql}),
               p AS (${TextOps.langIdUnicodeSql("fx")})
          SELECT f.doc_id, f.lang, p.lang_pred
          FROM fx f JOIN p USING (doc_id)"""),

    // corpus word frequencies — the classic one-shuffle wordcount
    QueryDef("q_word_freq", (s, dir) =>
      ColOps.table(s, dir, "documents")
        .select(explode(TextOps.words(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n")),
      """SELECT w AS word, COUNT(*) AS n
         FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents) t
         GROUP BY w"""),

    // BPE-trainer inner-loop statistic: adjacent char-pair counts over
    // alnum tokens, one generator + one ≤62²-key hash aggregate
    QueryDef("q_bpe_pairs", (s, dir) =>
      TextOps.charPairCounts(ColOps.table(s, dir, "documents"), "text", 5L),
      TextOps.charPairCountsSql("documents", "text", 5L)),

    // the FULL tokenizer-training loop around that statistic: 6 rounds
    // of argmax-merge-recount over the checkpointed word-TYPE histogram
    // (vocab-bounded sufficient statistic — rounds are corpus-size-
    // independent; the one corpus scan is the only data-proportional
    // part). Driver-loop shape like q_pagerank; oracle unrolls the 6
    // rounds as a CTE chain with the identical replace() merge rule.
    QueryDef("q_bpe_learn", (s, dir) =>
      TextOps.bpeLearn(ColOps.table(s, dir, "documents"), "text", 6),
      TextOps.bpeLearnSql("documents", "text", 6)),

    // the apply half of that loop: per-doc subword counts under the
    // learned state — word-occurrence explode, broadcast join against
    // the vocab-bounded segmentation map, one per-doc aggregate
    QueryDef("q_bpe_apply", (s, dir) => {
      val docs = ColOps.table(s, dir, "documents")
      TextOps.bpeApply(docs, "doc_id", "text",
        TextOps.bpeRun(docs, "text", 6)._2)
    },
      TextOps.bpeApplySql("documents", "doc_id", "text", 6)),

    // tokenizer ENCODE: each doc's actual token-ID sequence under the
    // learned BPE state — the state becomes a word → ids hash map and a
    // char-id table, so encoding is one per-row expression (no explode,
    // no shuffle)
    QueryDef("q_tokenize_ids", (s, dir) => {
      val docs = ColOps.table(s, dir, "documents")
      TextOps.tokenizeIds(docs, "doc_id", "text",
        TextOps.bpeRun(docs, "text", 6)._2)
    },
      TextOps.tokenizeIdsSql("documents", "doc_id", "text", 6)),

    // END-TO-END corpus build — the full front-door-to-artifact chain
    // in ONE query: raw crawled HTML → markup extraction → C4 quality
    // gate → exact dedup (canonical keepers) → BPE state trained on the
    // surviving corpus → tokenizer encode → fixed-width packed training
    // sequences. Every stage handoff (extraction feeding quality, the
    // kept set feeding both BPE training AND encoding, dedup before
    // tokenization) is inside the oracle hash.
    QueryDef("q_corpus_build", (s, dir) => {
      val pages = Sources.textLines(s, stagedHtml(s, dir).toString).ds.toDF()
        .select(regexp_extract(col("value"), "data-doc=\"([0-9]+)\"", 1)
          .cast("long").as("doc_id"), col("value").as("html"))
      val extracted = pages.select(col("doc_id"),
        call_function("replace", Html.extractText(col("html")), lit("\n"), lit(" "))
          .as("text"))
      corpusBuildTail(extracted)
    },
      // the composed front-door chain: extraction + quality + dedup CTEs
      // prefix the shared encode/pack chain over the canonical kept set
      corpusBuildOracleSql),

    // the SAME end-to-end build, but from the raw crawl ARCHIVE: the
    // .warc.gz shards replace the pre-extracted page file, so the
    // pipeline is gunzip → WARC framing → HTTP strip → extraction →
    // quality gate → exact dedup → BPE train → encode → pack, ONE
    // query — and the oracle is q_corpus_build's VERBATIM (the archive
    // layers must be exactly transparent)
    QueryDef("q_corpus_build_warc", (s, dir) => {
      val extracted = Warc.extract(s.read.format("binaryFile")
          .load(stagedWarcShards(s, dir).toString))
        .select(col("doc_id"),
          call_function("replace", col("extracted"), lit("\n"), lit(" "))
            .as("text"))
      corpusBuildTail(extracted)
    },
      // raw-archive flagship: identical oracle — the gzip/WARC/HTTP
      // layers must be exactly transparent above the extraction
      corpusBuildOracleSql),

    // the raw-archive flagship over a REVISIT-BEARING archive, sharing
    // q_corpus_build_warc's oracle verbatim: the corpus counts each
    // page ONCE (revisit records are fetch-log events, not documents),
    // while q_warc_revisit (Crawl) is the fetch-side view of the same
    // shards
    QueryDef("q_corpus_build_revisit", (s, dir) => {
      val extracted = Warc.extract(s.read.format("binaryFile")
          .load(stagedRevisitShards(s, dir).toString))
        .select(col("doc_id"),
          call_function("replace", col("extracted"), lit("\n"), lit(" "))
            .as("text"))
      corpusBuildTail(extracted)
    },
      // revisit-bearing flagship: SAME oracle again — revisit records
      // must be exactly transparent to the corpus build (the page is
      // counted once; the re-fetch is a fetch-log event, not a document)
      corpusBuildOracleSql),

    // MATERIALIZED packing: fixed-width token-id training sequences cut
    // from the virtual stream of encoded docs (distributed prefix sum →
    // per-doc slice tiling → one pack-key aggregate)
    QueryDef("q_pack_ids", (s, dir) => {
      val docs = ColOps.table(s, dir, "documents")
      Packing.packTokenIds(
        TextOps.tokenizeIdArrays(docs, "doc_id", "text",
          TextOps.bpeRun(docs, "text", 6)._2), "doc_id", 128L)
    },
      TextOps.packTokenIdsSql("documents", "doc_id", "text", 6, 128L)),

    // packed sequences WITH document-boundary metadata: per pack, each
    // doc's span as doc:off:len triples in pack order — the
    // block-diagonal attention mask (or position-id reset points) is a
    // pure function of this column; same prefix-sum + tiling shape
    QueryDef("q_pack_bounds", (s, dir) => {
      val docs = ColOps.table(s, dir, "documents")
      Packing.packTokenIdsWithBounds(
        TextOps.tokenizeIdArrays(docs, "doc_id", "text",
          TextOps.bpeRun(docs, "text", 6)._2), "doc_id", 128L)
    },
      TextOps.packTokenIdsWithBoundsSql("documents", "doc_id", "text", 6, 128L)),

    // token-BUDGET chunking under the learned BPE cost model: chunk of
    // a word = its token-offset bin (excl-prefix-sum / budget) — one
    // per-doc window over the broadcast vocab-bounded cost join; the
    // context-window prep step measured in tokens, not words
    QueryDef("q_chunk_tokens", (s, dir) => {
      val docs = ColOps.table(s, dir, "documents")
      TextOps.chunkByTokens(docs, "doc_id", "text",
        TextOps.bpeRun(docs, "text", 6)._2, 64L)
    },
      TextOps.chunkByTokensSql("documents", "doc_id", "text", 6, 64L)),

    // per-language corpus profile — the one-scan health report a corpus
    // build gates on: volume, token mass, source diversity, exact-dup
    // mass. Two COUNT(DISTINCT)s in one aggregate = Spark's expand
    // strategy (rows ×2 pre-shuffle), the price of single-pass exactness;
    // sketch the cardinalities (KMV, q_kmv_sketch) when approximate is
    // acceptable at 100 TB.
    QueryDef("q_corpus_profile", (s, dir) =>
      ColOps.table(s, dir, "documents")
        .groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("chars_sum"),
          sum(size(TextOps.tokens(col("text")))).cast("long").as("tok_sum"),
          countDistinct(col("source")).as("n_sources"),
          (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup")),
      """SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
                CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS BIGINT) AS tok_sum,
                COUNT(DISTINCT source) AS n_sources,
                COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup
         FROM documents GROUP BY lang"""),

    // fixed-size word chunking (context-window packing fan-out)
    QueryDef("q_chunk_text", (s, dir) =>
      TextOps.chunkWords(ColOps.table(s, dir, "documents"), "doc_id", "text", 50),
      """SELECT doc_id, x.u.i::BIGINT AS chunk_no,
                array_to_string(x.w[x.u.i * 50 + 1 : x.u.i * 50 + 50], ' ') AS chunk
         FROM (SELECT doc_id, string_split(text, ' ') AS w,
                 UNNEST([{'i': j} for j in
                         range(0, (len(string_split(text, ' ')) - 1) // 50 + 1)]) AS u
               FROM documents) x"""),

    // OVERLAPPING chunking: 50-word windows every 30 words (20-word
    // overlap) — long-doc training prep where context must not be cut
    // at hard boundaries; same zero-shuffle generator, denser starts
    QueryDef("q_chunk_stride", (s, dir) =>
      TextOps.chunkWordsStride(ColOps.table(s, dir, "documents"),
        "doc_id", "text", 50, 30),
      """SELECT doc_id, x.u.i::BIGINT AS chunk_no,
                array_to_string(x.w[x.u.i * 30 + 1 : x.u.i * 30 + 50], ' ') AS chunk
         FROM (SELECT doc_id, string_split(text, ' ') AS w,
                 UNNEST([{'i': j} for j in
                         range(0, (len(string_split(text, ' ')) - 1) // 30 + 1)]) AS u
               FROM documents) x"""),

    // global top-k bigrams (corpus n-gram profile): one map-side-combined
    // pair-count shuffle + TakeOrderedAndProject — never a global sort
    QueryDef("q_bigrams", (s, dir) =>
      TextOps.topBigrams(ColOps.table(s, dir, "documents"), "text", 50),
      TextOps.topBigramsSql(50)),

    // concat-and-split sequence packing: distributed exclusive prefix
    // sum (RowExec carries, never a single-task global window)
    QueryDef("q_pack_seqs", (s, dir) =>
      Packing.concatSplit(ColOps.table(s, dir, "documents"), "doc_id", "text", PackBudget),
      s"""WITH $packDocsSql,
          s AS (SELECT doc_id, tok,
                  CAST(SUM(tok) OVER (ORDER BY doc_id) - tok AS BIGINT) AS start_off
                FROM d)
          SELECT doc_id, tok, start_off,
                 start_off // $PackBudget AS pack_first,
                 greatest(start_off, start_off + tok - 1) // $PackBudget AS pack_last,
                 start_off % $PackBudget AS off_in_pack
          FROM s"""),

    // the COMPOSED corpus pipeline — quality filter |> exact dedup |>
    // sequence packing, the reference's `.|` chain re-expressed as
    // operator composition over DataFrames (each stage is the already-
    // verified operator, unchanged; the oracle chains the same three
    // mirrors as CTEs). Stage costs: rule battery is a stateless map;
    // dedup one digest shuffle keeping min doc_id; packing the
    // distributed prefix-sum — nothing here is new machinery, which is
    // the point: operators compose without rewrites.
    QueryDef("q_pipeline", (s, dir) => {
      val docs = ColOps.table(s, dir, "documents")
      // quality gate as an in-place filter (the corpusCanon discipline:
      // the keep decision is a per-row predicate, not a self-join)
      val kept = docs.filter(TextOps.qualityKeep(col("text")))
      val canonical = Dedup.exact(kept, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val survivors = kept.join(canonical, "doc_id")
      Packing.concatSplit(survivors, "doc_id", "text", PackBudget)
    },
      // the composed pipeline: the SAME three mirrors, chained as CTEs
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
          FROM s"""),

    // first-fit greedy packing within fixed doc-id groups (the
    // embarrassingly-parallel form of the inherently sequential fold)
    QueryDef("q_pack_greedy", (s, dir) =>
      Packing.greedyPack(ColOps.table(s, dir, "documents"), "doc_id", "text",
        PackBudget, PackGroup),
      s"$packGreedySql SELECT doc_id, grp, tok, bin, fill FROM r"),

    // pack-level fill/waste report over the greedy assignment
    QueryDef("q_pack_stats", (s, dir) =>
      Packing.packStats(
        Packing.greedyPack(ColOps.table(s, dir, "documents"), "doc_id", "text",
          PackBudget, PackGroup), PackBudget),
      s"""$packGreedySql
          SELECT grp, bin, COUNT(*) AS n_docs,
                 CAST(SUM(tok) AS BIGINT) AS fill_total,
                 $PackBudget - CAST(SUM(tok) AS BIGINT) AS waste
          FROM r GROUP BY grp, bin"""),

    // corpus TF-IDF — term-count shuffle + vocab-side df join + 1-row
    // broadcast stats; scores micro-scaled (see Relevance determinism
    // contract)
    QueryDef("q_tfidf", (s, dir) =>
      Relevance.tfIdf(ColOps.table(s, dir, "documents"), "doc_id", "text"),
      Relevance.tfIdfSql),

    // Okapi BM25 — same shape plus per-doc length normalization
    QueryDef("q_bm25", (s, dir) =>
      Relevance.bm25(ColOps.table(s, dir, "documents"), "doc_id", "text"),
      Relevance.bm25Sql),

    // top-3 terms per doc by TF-IDF — rank over the micro-scaled BIGINT
    // (engine-independent cut), planned as WindowGroupLimit
    QueryDef("q_top_terms", (s, dir) =>
      Relevance.topTerms(ColOps.table(s, dir, "documents"), "doc_id", "text", 3),
      Relevance.topTermsSql(3)),

    QueryDef("q_kmv_sketch", (s, dir) =>
      Sketches.kmvWordSketch(ColOps.table(s, dir, "documents"), "text"),
      Sketches.kmvWordSketchSql),

    // per-slice KMV: approximate distinct-word cardinality per language
    // (WindowGroupLimit keeps the per-group top-k cut map-side)
    QueryDef("q_kmv_groups", (s, dir) =>
      Sketches.kmvGroupSketch(ColOps.table(s, dir, "documents"), "lang", "text"),
      Sketches.kmvGroupSketchSql("lang")),

    // KMV mergeability: sketches of two corpus halves merged by
    // union + re-cut — identical to the whole-corpus sketch, no rescan
    QueryDef("q_kmv_merge", (s, dir) => {
      val docs = ColOps.table(s, dir, "documents")
      Sketches.kmvMergeSketch(
        Seq(docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 =!= 0)),
        "text")
    },
      Sketches.kmvMergeSketchSql("doc_id % 2 = 0")),

    // Count-Min sketch cells: fixed d×w counter matrix, shuffle bounded
    // by the sketch size (not the corpus) after map-side combine
    QueryDef("q_cms_sketch", (s, dir) =>
      Sketches.cmsWordSketch(ColOps.table(s, dir, "documents"), "text"),
      Sketches.cmsWordSketchSql),

    // Bloom filter slots over distinct corpus words — same fixed-size
    // aggregation shape, OR-combine instead of counts
    QueryDef("q_bloom", (s, dir) =>
      Sketches.bloomWordFilter(ColOps.table(s, dir, "documents"), "text"),
      Sketches.bloomWordFilterSql),

    // per-source dedup health report: n_docs / canonical keepers /
    // exact-integer dup_ppm per source — the corpus-composition
    // diagnostic (cross-source copies charge every source except the
    // keeper's); payload scanned once, never shuffled
    QueryDef("q_dedup_rates", (s, dir) =>
      Dedup.dedupRates(ColOps.table(s, dir, "documents"),
        "doc_id", "text", "source"),
      Dedup.dedupRatesSql("documents", "doc_id", "text", "source")),
  )
}
