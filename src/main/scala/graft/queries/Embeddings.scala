package graft
package queries

import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._
import Shared._

/** Embedding and ANN queries: exact top-k, LSH, IVF, PQ and IVF-PQ
  * (persisted and in-memory), vector statistics and semantic dedup, each
  * with its DuckDB oracle.
  */
object Embeddings {

  def queries: Seq[QueryDef] = Seq(
    // contrastive hard negatives: top-3 most-similar DIFFERENT-label
    // vectors per query — the label-mismatch predicate fused into the
    // broadcast join so same-label pairs never materialize
    QueryDef("q_hard_negatives", (s, dir) =>
      Similarity.hardNegatives(
        Similarity.embeddings(s, dir, carry = Seq("label")), nQ = 20, k = 3),
      Similarity.hardNegativesSql(20, 3)),

    // kNN majority-vote label audit: 5 nearest vote, rank-1 cut is
    // WindowGroupLimit, one row per query with the verdict
    QueryDef("q_knn_classify", (s, dir) =>
      Similarity.knnClassify(
        Similarity.embeddings(s, dir, carry = Seq("label")), nQ = 50, k = 5),
      Similarity.knnClassifySql(50, 5)),

    // brute-force cosine top-3 (broadcast queries, partitioned ranking)
    QueryDef("q_embed_topk", (s, dir) =>
      Similarity.bruteForceTopK(Similarity.embeddings(s, dir), 20, 3),
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
          q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 20),
          sc AS (SELECT q.q_id, e.vec_id, ${Similarity.cosineSql("q.q_emb", "e.emb")} AS cos
                 FROM q, e WHERE e.vec_id <> q.q_id)
          SELECT q_id, vec_id, cos, rnk FROM
            (SELECT q_id, vec_id, cos,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
             FROM sc) r
          WHERE rnk <= 3"""),

    // LSH-bucketed ANN (the 100-TB scale path)
    QueryDef("q_embed_lsh", (s, dir) =>
      Similarity.lshTopK(Similarity.embeddings(s, dir), 20, 3),
      // banded OR-construction mirror: same plane constants, same band
      // packing, same bucket cap as Similarity.lshTopK
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
          WHERE rnk <= 3"""),

    // IVF ANN (the inverted-file scale path: broadcast seed assignment,
    // search nProbe/nCells of the collection)
    QueryDef("q_embed_ivf", (s, dir) =>
      Similarity.ivfTopK(Similarity.embeddings(s, dir), 20, 3),
      Similarity.ivfTopKSql(20, 3)),

    // IVF served from a PERSISTED inverted file (write-once Hive layout
    // partitioned by cell, staged once per JVM): dynamic partition
    // pruning narrows the index scan to the probed cell directories —
    // the index is read at nprobe/ncells however large it grows. Same
    // assignment/window formulation as q_embed_ivf ⇒ same oracle.
    QueryDef("q_embed_ivf_persist", (s, dir) =>
      Similarity.ivfPersistTopK(s, dir, 20, 3),
      Similarity.ivfTopKSql(20, 3)),

    // PQ code assignment (the 16×-compression step of a PQ ANN index):
    // broadcast m×k codebook, map-side distances, per-(vec,sub) argmin
    QueryDef("q_embed_pq", (s, dir) =>
      Similarity.pqCodes(Similarity.embeddings(s, dir)),
      Similarity.pqCodesSql()),

    // PQ ADC search: approximate top-3 from SUMMED integer table lookups
    // over the codes — candidate vectors are never read
    QueryDef("q_embed_pq_topk", (s, dir) =>
      Similarity.pqAdcTopK(Similarity.embeddings(s, dir), 20, 3),
      Similarity.pqAdcTopKSql(20, 3)),

    // two-stage PQ: ADC shortlist → exact cosine re-rank (the production
    // PQ search; reads shortlist/n of the collection per query)
    QueryDef("q_embed_pq_rerank", (s, dir) =>
      Similarity.pqRerankTopK(Similarity.embeddings(s, dir), 20, 3),
      Similarity.pqRerankTopKSql(20, 3)),

    // PERSISTED PQ: codebook + codes staged once as (m,k)-keyed layouts,
    // served from the staged artifacts — the codes scan reads integer
    // rows only (no emb floats), results ≡ the in-memory two-stage
    // search ⇒ same oracle as q_embed_pq_rerank
    QueryDef("q_embed_pq_persist", (s, dir) =>
      Similarity.pqPersistTopK(s, dir, 20, 3),
      // persisted-layout serve ≡ the in-memory two-stage search
      Similarity.pqRerankTopKSql(20, 3)),

    // IVF-PQ composed index (the FAISS IVFPQ shape): coarse cells prune
    // WHICH vectors are considered, PQ codes prune WHAT is read — ADC
    // runs only inside probed cells, exact re-rank only on the shortlist
    QueryDef("q_embed_ivfpq", (s, dir) =>
      Similarity.ivfPqTopK(Similarity.embeddings(s, dir), 20, 3),
      Similarity.ivfPqTopKSql(20, 3)),

    // PERSISTED IVF-PQ: the cell-partitioned packed-code posting-list
    // layout, staged once, served with DPP cell pruning + positional
    // ADC + shortlist-only vector reads ⇒ same oracle as the in-memory
    // composed search
    QueryDef("q_embed_ivfpq_persist", (s, dir) =>
      Similarity.ivfPqPersistTopK(s, dir, 20, 3),
      Similarity.ivfPqTopKSql(20, 3)),

    // ANN recall audit — the serving-quality monitor: per-query
    // integer recall@3 of the IVF-PQ index vs exact brute force, with
    // nProbe swept (2 and the production 4) so the table shows what one
    // more posting-list read buys each query
    QueryDef("q_ann_recall", (s, dir) =>
      Similarity.annRecall(Similarity.embeddings(s, dir), 20, 3),
      Similarity.annRecallSql(20, 3)),

    // the SemDeDup→index handoff composed end-to-end: cell-blocked
    // semantic dedup prunes the collection, the IVF-PQ index builds and
    // serves over the SURVIVORS (geometry re-derived from the deduped
    // set — the dedup runs before index training, as in production) —
    // the embedding-tier analogue of q_corpus_build
    QueryDef("q_sem_index", (s, dir) => {
      val emb = Similarity.embeddings(s, dir)
      val kept = Similarity.semDedup(emb, 0.35).select(col("vec_id"))
      Similarity.ivfPqTopK(emb.join(kept, "vec_id"), 20, 3)
    },
      // survivors inline as a subquery-scoped WITH (names don't collide
      // with the outer index chain); the chain's e0 IS the deduped set
      Similarity.ivfPqTopKSql(20, 3,
        e0Sql = s"""SELECT r.vec_id, r.emb
                  FROM (${Similarity.E0Sql}) r
                  JOIN (${Similarity.semDedupSql(0.35)}) k ON k.vec_id = r.vec_id""")),

    // int8 scalar quantization (the ANN index memory-compression step) —
    // zero shuffle, all-IEEE-exact arithmetic
    // qvec is emitted comma-joined: the driver's hash comparator can't
    // sort array-typed cells (same convention as q_consecutive); the
    // operator itself stays array-valued.
    QueryDef("q_embed_quant", (s, dir) =>
      Similarity.quantizeInt8(Similarity.embeddings(s, dir))
        .select(col("vec_id"), col("scale"),
          array_join(col("qvec").cast("array<string>"), ",").as("qvec")),
      s"""SELECT vec_id, scale, array_to_string(qvec, ',') AS qvec
          FROM (${Similarity.quantizeInt8Sql()}) qq"""),

    // per-label centroid accumulators over quantized vectors (cluster
    // summary / IVF retrain): |labels|·d integer rows out, one combine
    QueryDef("q_embed_centroid", (s, dir) =>
      Similarity.labelCentroids(Similarity.embeddings(s, dir, Seq("label"))),
      Similarity.labelCentroidsSql),

    // embedding outliers: top-3 farthest from own-label centroid, in
    // cnt²-scaled exact-integer distance (mislabeled-vector triage)
    QueryDef("q_embed_outliers", (s, dir) =>
      Similarity.embedOutliers(Similarity.embeddings(s, dir, Seq("label"))),
      Similarity.embedOutliersSql(3)),

    // per-dimension moment/extent statistics over the raw embeddings
    // (micro-scaled integer sums — the standardization/whitening pre-pass)
    QueryDef("q_embed_dimstats", (s, dir) =>
      Similarity.dimStats(Similarity.embeddings(s, dir)),
      Similarity.dimStatsSql),

    // whitening apply: z-score every vector against the broadcast
    // per-dimension stats (bit-exact doubles, same discipline as cosine).
    // Emitted as exploded (vec_id, dim, z) DOUBLE scalars: the driver's
    // hash comparator can't sort array-typed cells, and string-joining
    // doubles is not hash-stable cross-engine — exploded scalar doubles
    // reuse the bit-exact discipline the cosine family proves.
    QueryDef("q_embed_standardize", (s, dir) =>
      Similarity.standardize(Similarity.embeddings(s, dir))
        .select(col("vec_id"), posexplode(col("zvec")).as(Seq("dim", "z")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("z")),
      s"""SELECT vec_id, UNNEST(range(len(zvec))) AS dim, UNNEST(zvec) AS z
          FROM (${Similarity.standardizeSql}) t"""),

    // embedding-cosine near-dup pairs within LSH buckets (0.35 ≈ the
    // 99.9th percentile of pairwise cosine on these random embeddings —
    // high enough to be selective, low enough to produce verifiable rows)
    QueryDef("q_embed_neardup", (s, dir) =>
      Similarity.cosineNearDupPairs(Similarity.embeddings(s, dir), 0.35),
      s"""WITH ${Similarity.cappedBucketsSql()},
          pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                    FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
          SELECT id_a, id_b, cos FROM
            (SELECT p.id_a, p.id_b, ${Similarity.cosineSql("ea.emb", "eb.emb")} AS cos
             FROM pairs p
             JOIN e0 ea ON ea.vec_id = p.id_a
             JOIN e0 eb ON eb.vec_id = p.id_b) s
          WHERE cos > 0.35"""),

    // one k-means (Lloyd) refinement step of the IVF coarse quantizer:
    // broadcast seed assignment + integer centroid accumulators —
    // nCells·d rows out regardless of collection size
    QueryDef("q_kmeans_step", (s, dir) =>
      Similarity.kmeansStep(Similarity.embeddings(s, dir)),
      Similarity.kmeansStepSql()),

    // SemDeDup: within-coarse-cell semantic dedup, keep-first — pairwise
    // cosine only inside a cell (n²/nCells candidate pairs, not n²)
    QueryDef("q_semdedup", (s, dir) =>
      Similarity.semDedup(Similarity.embeddings(s, dir), 0.35),
      Similarity.semDedupSql(0.35)),
  )
}
