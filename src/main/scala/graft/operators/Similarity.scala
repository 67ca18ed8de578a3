package graft.operators

import org.apache.spark.sql._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  *
  *  - brute-force cosine top-k: broadcast the (small) query set against
  *    the full collection — one parallel scan, a partitioned window for
  *    per-query ranking (partitioned by query id → parallel, never a
  *    global sort);
  *  - sign-LSH banded variant (the scale path): `NumPlanes` deterministic
  *    integer hyperplanes grouped into `NumBands` bands of `BandBits`
  *    sign bits each (OR-construction: a pair is a candidate if it
  *    collides in ANY band — more planes per band = selectivity, more
  *    bands = recall). Candidates are generated by a band-bucket
  *    equi-join; buckets whose population exceeds `MaxBucket` are dropped
  *    from candidacy on BOTH engine and oracle sides (a viral bucket
  *    would otherwise degenerate to O(bucket²) pairs at scale — capped
  *    buckets are exactly the ones where LSH carries no signal).
  *
  * Norms are precomputed ONCE PER VECTOR in a staged projection and
  * carried through the candidate join; only the dot product is computed
  * per pair. All floating-point is double-widened and combined in strict
  * left-fold order (`aggregate`), which DuckDB mirrors with
  * `list_reduce(list_prepend(0.0, …))` — bit-identical results, so the
  * oracle can hash-compare doubles without rounding.
  *
  * At 100 TB you would raise `NumPlanes`/`BandBits` (e.g. 64 planes as
  * 4×16-bit bands ⇒ 65 536 buckets per band) — every operator and every
  * oracle-SQL builder here is parameterized on the same constants, so the
  * fixture-scale defaults (16 planes as 2×8-bit bands) are a config, not
  * a design limit.
  *
  * Quality evidence (SimilaritySpec "ANN recall@3"): on an 8-cluster
  * fixture, recall@3 vs [[bruteForceTopK]] measures 0.833 for [[lshTopK]]
  * (16 planes, 2×8-bit bands) and 1.000 for [[ivfTopK]] (16 cells,
  * probe 4), asserted ≥ 0.75 — a constants change that destroys recall
  * fails that spec rather than shipping silently.
  */
object Similarity {

  val NumPlanes = 16
  val BandBits = 8
  val NumBands: Int = NumPlanes / BandBits
  val MaxBucket = 4096
  val Dim = 64

  /** Dot product of two double-array columns — native fused-loop
    * expression, bit-identical to the HOF left fold it replaced
    * (SimilaritySpec pins the equivalence; VectorOps scaladoc has the
    * numeric contract).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.vector_dot(a, b)

  /** L2 norm of a double-array column: sqrt of the self-dot — the same
    * left fold of squares as the HOF `transform` form it replaced.
    */
  def norm(a: Column): Column =
    sqrt(graft.functions.VectorOps.vector_dot(a, a))

  /** Cosine from a per-pair dot and two PRECOMPUTED norms — numerically
    * identical to `dot(a,b) / (norm(a) * norm(b))`, but the norms are
    * evaluated once per vector, not once per candidate pair.
    */
  def cosineFromNorms(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Embeddings table with the vector widened to double (plus optional
    * carried metadata columns — the ONE place the widening rule lives).
    */
  def embeddings(spark: SparkSession, dir: String, carry: Seq[String] = Nil): DataFrame =
    ColOps.table(spark, dir, "embeddings")
      .select(col("vec_id") +: carry.map(col) :+
        transform(col("embedding"), x => x.cast("double")).as("emb"): _*)

  /** Staged projection adding the per-vector norm (computed once per row;
    * kept a separate Project so Catalyst does not inline the array
    * lambdas into downstream consumers — see Dedup.minhashSignatures on
    * the lambda-CSE trap).
    */
  def withNorm(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("emb"), norm(col("emb")).as("nrm"))

  /** Symmetric int8 scalar quantization: per-vector scale = 127/max|x|,
    * q_i = floor(x_i*scale + 0.5) ∈ [-127, 127] (an all-zero vector
    * quantizes to zeros with scale 0) — the 4× memory-compression step
    * of a large ANN index. Pure staged column expressions, zero shuffle,
    * and NO transcendental ops: every step (widen, abs-fold, divide,
    * multiply, floor) is IEEE-exact, so scale and qvec hash-match across
    * engines without fixed-point rounding. Output: vec_id, scale, qvec.
    */
  def quantizeInt8(emb: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val cs = carry.map(col)
    val staged = emb.select(col("vec_id") +: cs :+ col("emb") :+
      aggregate(col("emb"), lit(0.0), (a, x) => greatest(a, abs(x))).as("maxabs"): _*)
    val withScale = staged.select(col("vec_id") +: cs :+ col("emb") :+
      when(col("maxabs") > lit(0.0), lit(127.0) / col("maxabs"))
        .otherwise(lit(0.0)).as("scale"): _*)
    withScale.select(col("vec_id") +: cs :+ col("scale") :+
      transform(col("emb"),
        x => floor(x * col("scale") + lit(0.5)).cast("int")).as("qvec"): _*)
  }

  /** DuckDB mirror of [[quantizeInt8]] (same fold/expression structure). */
  def quantizeInt8Sql(carry: Seq[String] = Nil): String = {
    val cs = carry.map(c => s"$c, ").mkString
    s"""SELECT vec_id, ${cs}scale,
              list_transform(vd, x -> CAST(FLOOR(x * scale + 0.5) AS INTEGER)) AS qvec
       FROM (SELECT vec_id, ${cs}vd,
                    CASE WHEN m > 0.0 THEN 127.0 / m ELSE 0.0 END AS scale
             FROM (SELECT vec_id, ${cs}vd,
                          list_reduce(list_prepend(0.0, vd),
                                      (a, x) -> greatest(a, abs(x))) AS m
                   FROM (SELECT vec_id, ${cs}
                                list_transform(embedding, x -> x::DOUBLE) AS vd
                         FROM embeddings) t0) t1) t2"""
  }

  /** Per-label centroid accumulators over the int8-quantized vectors:
    * (label, dim, qsum, cnt) — the exact-integer cluster-summary /
    * IVF-retrain step (the float centroid is qsum/cnt ÷ scale, left to
    * the consumer so every materialized value stays integer and
    * hash-stable). Plan: quantize (zero shuffle) → posexplode to
    * (label, dim, q) — n·d narrow rows — → one hash aggregation with
    * map-side partial combine; output is |labels|·d rows regardless of
    * collection size.
    */
  def labelCentroids(emb: DataFrame): DataFrame =
    quantizeInt8(emb, Seq("label"))
      .select(col("label").cast("long").as("label"),
        posexplode(col("qvec")).as(Seq("dim", "q")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(sum(col("q")).as("qsum"), count(lit(1)).as("cnt"))

  /** DuckDB mirror of [[labelCentroids]] (parallel UNNEST zips value
    * with ordinal).
    */
  def labelCentroidsSql: String =
    s"""WITH q AS (${quantizeInt8Sql(Seq("label"))}),
        u AS (SELECT label::BIGINT AS label, UNNEST(range(len(qvec))) AS dim,
                     UNNEST(qvec) AS qv
              FROM q)
        SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS qsum, COUNT(*) AS cnt
        FROM u GROUP BY label, dim"""

  /** Per-DIMENSION corpus statistics over the raw embeddings — the
    * feature-standardization pre-pass (mean/variance/min/max per
    * coordinate) that whitening, PQ codebook training and drift
    * monitoring all start from. Values are micro-scaled to BIGINT
    * (`floor(x·10⁶ + 0.5)` after an exact float→double widening) so the
    * per-dim sums are ORDER-INDEPENDENT integers — a double Σx differs
    * across partition orders, an integer Σ cannot — and the oracle
    * hash-matches without tolerance. Mean/σ are left to the consumer as
    * `s1/cnt / 10⁶` and `(s2/cnt − (s1/cnt)²)` micro²-scaled.
    * Envelope: |x| ≤ ~1 ⇒ |xq| ≤ ~10⁶, xq² ≤ 10¹², so Σxq² stays under
    * Long to ~10⁶–10⁷ rows per dim; past that widen to DECIMAL as in
    * ColOps.zOutliers (ANSI mode fails loudly rather than wrapping).
    * Plan: one scan, posexplode to n·d narrow rows, one hash aggregate
    * with map-side partial combine — output is exactly d rows at any
    * collection size, shuffle bounded by d keys. Reference cell: this is
    * a `foldMap`-shaped sink over the vector stream
    * (Data/Conduino/Combinators.hs:507-509) specialized to per-ordinal
    * moment accumulation.
    */
  def dimStats(emb: DataFrame): DataFrame =
    emb
      .select(posexplode(col("emb")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("x") * lit(1000000.0d) + lit(0.5d)).cast("long").as("xq"))
      .groupBy(col("dim"))
      // count(xq), not count(*): a null array element contributes to no
      // moment (sum/min/max all skip it), so cnt must match the values
      // actually summed or the consumer-derived mean s1/cnt is skewed
      .agg(count(col("xq")).as("cnt"),
        sum(col("xq")).as("s1"),
        sum(col("xq") * col("xq")).as("s2"),
        min(col("xq")).as("minq"),
        max(col("xq")).as("maxq"))

  /** DuckDB mirror of [[dimStats]] (parallel UNNEST zips value with
    * ordinal; identical micro-scaling expression).
    */
  def dimStatsSql: String =
    s"""WITH v AS (SELECT list_transform(embedding,
                     x -> CAST(FLOOR(x::DOUBLE * 1000000.0 + 0.5) AS BIGINT)) AS q
                   FROM embeddings),
        u AS (SELECT UNNEST(range(len(q))) AS dim, UNNEST(q) AS xq FROM v)
        SELECT dim::BIGINT AS dim, COUNT(xq) AS cnt,
               CAST(SUM(xq) AS BIGINT) AS s1,
               CAST(SUM(xq * xq) AS BIGINT) AS s2,
               MIN(xq) AS minq, MAX(xq) AS maxq
        FROM u GROUP BY dim"""

  /** Whitening APPLY step over [[dimStats]]: standardize every vector to
    * z-scores `(x_d − mean_d) / sd_d` using the corpus per-dimension
    * moments. The d-row stats table is packed into ONE row of
    * dim-ordered arrays (`array_sort(collect_list(struct(dim, …)))` —
    * struct ordering sorts by the leading field, so the pack is
    * deterministic without a global sort) and broadcast onto the scan;
    * the transform is a single indexed array lambda per row — zero
    * shuffle beyond the d-key stats aggregate itself. Every float step
    * (widen, divide, multiply, subtract, sqrt) is IEEE
    * correctly-rounded and mirrored token-for-token in the oracle, so
    * z-scores hash-match across engines bit-exact (same discipline as
    * the cosine family). A zero-variance dimension standardizes to 0.0
    * rather than ±Inf — and "zero variance" is decided EXACTLY in the
    * integer domain (`minq == maxq` over the quantized values, which
    * holds iff every quantized value is identical iff the quantized
    * variance is zero), never on the FP-computed sd: for a constant
    * non-dyadic value like 0.1 the double expression
    * `s2/cnt/1e12 − (s1/cnt/1e6)²` rounds to a tiny positive residual
    * (sd up to ~1e-8 observed), and gating on `sd > 0.0` alone would
    * emit enormous junk z-scores instead of the documented 0.0. The
    * min/max extent compare is overflow-free at any cnt (unlike the
    * equivalent `cnt·s2 == s1²` product form). Envelope: the
    * s1/s2 → double widening is exact
    * below 2⁵³ (~9e15) — beyond ~10⁷ rows per dim, widen the sums to
    * DECIMAL first as documented on [[dimStats]].
    */
  def standardize(emb: DataFrame): DataFrame = {
    val packed = dimStats(emb)
      .agg(array_sort(collect_list(struct(
        col("dim"), col("cnt"), col("s1"), col("s2"),
        col("minq"), col("maxq")))).as("st"))
      .select(
        transform(col("st"), s =>
          s.getField("s1").cast("double") / s.getField("cnt").cast("double")
            / lit(1000000.0d)).as("means"),
        transform(col("st"), s =>
          when(s.getField("minq") === s.getField("maxq"), lit(0.0d))
            .otherwise(sqrt(greatest(
              s.getField("s2").cast("double") / s.getField("cnt").cast("double")
                / lit(1.0e12d) -
                (s.getField("s1").cast("double") / s.getField("cnt").cast("double")
                  / lit(1000000.0d)) *
                (s.getField("s1").cast("double") / s.getField("cnt").cast("double")
                  / lit(1000000.0d)),
              lit(0.0d))))).as("sds"))
    emb.crossJoin(broadcast(packed))
      .select(col("vec_id"),
        transform(col("emb"), (x, i) =>
          when(element_at(col("sds"), i + 1) > lit(0.0d),
            (x - element_at(col("means"), i + 1)) / element_at(col("sds"), i + 1))
            .otherwise(lit(0.0d))).as("zvec"))
  }

  /** DuckDB mirror of [[standardize]] (same pack + indexed-lambda
    * structure; 1-based list indexing absorbs the ordinal offset).
    */
  def standardizeSql: String =
    s"""WITH st AS (${dimStatsSql}),
        packed AS (
          SELECT list_transform(l, s -> s.s1::DOUBLE / s.cnt::DOUBLE / 1000000.0) AS means,
                 list_transform(l, s -> CASE WHEN s.minq = s.maxq THEN 0.0
                   ELSE sqrt(greatest(
                     s.s2::DOUBLE / s.cnt::DOUBLE / 1e12 -
                     (s.s1::DOUBLE / s.cnt::DOUBLE / 1000000.0) *
                     (s.s1::DOUBLE / s.cnt::DOUBLE / 1000000.0),
                     0.0)) END) AS sds
          FROM (SELECT list_sort(list(struct_pack(dim := dim, cnt := cnt,
                                                  s1 := s1, s2 := s2,
                                                  minq := minq, maxq := maxq))) AS l
                FROM st) t),
        v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
              FROM embeddings)
        SELECT vec_id,
               list_transform(range(len(emb)), i ->
                 CASE WHEN sds[i + 1] > 0.0
                      THEN (emb[i + 1] - means[i + 1]) / sds[i + 1]
                      ELSE 0.0 END) AS zvec
        FROM v CROSS JOIN packed"""

  /** Embedding OUTLIERS: the `topK` vectors farthest from their own
    * label's centroid, per label — the mislabeled/corrupt-vector triage
    * a curation pipeline runs over an embedded corpus. Distance is the
    * cnt²-scaled integer `Σ_d (cnt·q_d − qsum_d)²` over the int8
    * quantization (multiplying through by the label count avoids the
    * centroid division, so every materialized value stays integer and
    * the rank cut is engine-exact; envelope: |cnt·q − qsum| ≤ 254·cnt
    * (q and the per-member values each span [−128,127]), and the
    * per-vector SUM over d dims must stay under Long, so the safe label
    * size is ~√(Long.Max/(d·254²)) ≈ 10⁶–10⁷ members at d=64 — past
    * that, widen to DECIMAL as in ColOps.zOutliers; ANSI mode fails
    * loudly rather than wrapping). Plan: one
    * quantize pass (checkpointed), posexplode to n·d narrow rows, one
    * aggregate to the |labels|·d centroid table (broadcast back), one
    * per-vector aggregate, WindowGroupLimit top-k per label.
    */
  def embedOutliers(emb: DataFrame, topK: Int = 3): DataFrame = {
    val q = graft.core.Materialize.checkpoint(
      quantizeInt8(emb, Seq("label"))
        .select(col("vec_id"), col("label").cast("long").as("label"), col("qvec")))
    val ex = q.select(col("vec_id"), col("label"),
      posexplode(col("qvec")).as(Seq("dim", "qv")))
    val cen = ex.groupBy(col("label"), col("dim"))
      .agg(sum(col("qv")).as("qsum"), count(lit(1)).as("cnt"))
    val t = col("cnt") * col("qv") - col("qsum")
    val dist = ex.join(broadcast(cen), Seq("label", "dim"))
      .select(col("vec_id"), col("label"), (t * t).as("tt"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("tt")).as("sqdist_scaled"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("sqdist_scaled").desc, col("vec_id"))
    dist.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topK)
      .select(col("label"), col("vec_id"), col("sqdist_scaled"),
        col("rnk").cast("long").as("rnk"))
  }

  /** DuckDB mirror of [[embedOutliers]]. */
  def embedOutliersSql(topK: Int): String =
    s"""WITH q AS (${quantizeInt8Sql(Seq("label"))}),
        u AS (SELECT vec_id, label::BIGINT AS label,
                     UNNEST(range(len(qvec))) AS dim, UNNEST(qvec) AS qv
              FROM q),
        cen AS (SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS qsum,
                       COUNT(*) AS cnt
                FROM u GROUP BY label, dim),
        d AS (SELECT u.vec_id, u.label,
                     CAST(SUM((cen.cnt * u.qv - cen.qsum)
                              * (cen.cnt * u.qv - cen.qsum)) AS BIGINT)
                       AS sqdist_scaled
              FROM u JOIN cen ON u.label = cen.label AND u.dim = cen.dim
              GROUP BY u.vec_id, u.label)
        SELECT label, vec_id, sqdist_scaled, rnk FROM
          (SELECT label, vec_id, sqdist_scaled,
                  CAST(row_number() OVER (PARTITION BY label
                         ORDER BY sqdist_scaled DESC, vec_id) AS BIGINT) AS rnk
           FROM d) t
        WHERE rnk <= $topK"""

  /** Brute-force cosine top-k neighbors for query vectors vec_id < nQ.
    * Norms attach per side BEFORE the join; the join computes only the
    * dot per pair.
    */
  def bruteForceTopK(emb: DataFrame, nQ: Int, k: Int): DataFrame = {
    val en = withNorm(emb)
    val q = en.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = broadcast(q).join(en, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineFromNorms(col("q_emb"), col("emb"), col("q_nrm"), col("nrm")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rnk").cast("long").as("rnk"))
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * query vector, the k MOST similar vectors carrying a DIFFERENT
    * label (maximally confusing negatives; easy negatives are useless
    * to the loss). Same staged-norm broadcast plan as
    * [[bruteForceTopK]] with the label-mismatch predicate fused into
    * the join condition, so same-label pairs never materialize. The
    * brute join is the small-query-batch form; at index scale the
    * candidate generator swaps to [[lshTopK]]'s buckets unchanged.
    */
  def hardNegatives(embL: DataFrame, nQ: Int, k: Int): DataFrame = {
    val en = embL.select(col("vec_id"), col("label"), col("emb"),
      norm(col("emb")).as("nrm"))
    val q = en.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = broadcast(q)
      .join(en, col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .select(col("q_id"), col("q_label"), col("vec_id"),
        col("label").as("neg_label"),
        cosineFromNorms(col("q_emb"), col("emb"), col("q_nrm"), col("nrm")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("q_id"), col("q_label"), col("vec_id"), col("neg_label"),
        col("cos"), col("rnk").cast("long").as("rnk"))
  }

  /** DuckDB mirror of [[hardNegatives]]. */
  def hardNegativesSql(nQ: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        q AS (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb
              FROM e WHERE vec_id < $nQ),
        sc AS (SELECT q.q_id, q.q_label, e.vec_id, e.label AS neg_label,
                      ${cosineSql("q.q_emb", "e.emb")} AS cos
               FROM q, e WHERE e.vec_id <> q.q_id AND e.label <> q.q_label)
        SELECT q_id, q_label, vec_id, neg_label, cos, rnk FROM
          (SELECT q_id, q_label, vec_id, neg_label, cos,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
           FROM sc) r
        WHERE rnk <= $k"""

  /** k-NN majority-vote classification — the label-quality audit of an
    * embedding table (a label disagreeing with its neighborhood is a
    * candidate mislabel; aggregate accuracy tracks embedding drift).
    * For each query vector: its k nearest neighbors vote, majority
    * wins, ties break to the smaller label — fully deterministic.
    * Plan: the [[bruteForceTopK]] broadcast join, a (query, label)
    * vote aggregate, and a rank-1 cut that Spark rewrites to
    * WindowGroupLimit. Output one row per query.
    */
  def knnClassify(embL: DataFrame, nQ: Int, k: Int): DataFrame = {
    val en = embL.select(col("vec_id"), col("label"), col("emb"),
      norm(col("emb")).as("nrm"))
    val q = en.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("label").as("true_label"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = broadcast(q).join(en, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("true_label"), col("vec_id"), col("label"),
        cosineFromNorms(col("q_emb"), col("emb"), col("q_nrm"), col("nrm")).as("cos"))
    val wk = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val votes = scored.withColumn("__rk", row_number().over(wk))
      .filter(col("__rk") <= k)
      .groupBy(col("q_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val wv = Window.partitionBy(col("q_id"))
      .orderBy(col("n_votes").desc, col("label"))
    votes.withColumn("__vr", row_number().over(wv)).filter(col("__vr") === 1)
      .select(col("q_id"), col("true_label"), col("label").as("pred_label"),
        col("n_votes"), (col("label") === col("true_label")).as("correct"))
  }

  /** DuckDB mirror of [[knnClassify]]. */
  def knnClassifySql(nQ: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        q AS (SELECT vec_id AS q_id, label AS true_label, emb AS q_emb
              FROM e WHERE vec_id < $nQ),
        sc AS (SELECT q.q_id, q.true_label, e.vec_id, e.label,
                      ${cosineSql("q.q_emb", "e.emb")} AS cos
               FROM q, e WHERE e.vec_id <> q.q_id),
        nn AS (SELECT q_id, true_label, label FROM
                 (SELECT q_id, true_label, label,
                    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
                  FROM sc) r
               WHERE rk <= $k),
        v AS (SELECT q_id, true_label, label, COUNT(*) AS n_votes
              FROM nn GROUP BY 1, 2, 3)
        SELECT q_id, true_label, label AS pred_label, n_votes,
               label = true_label AS correct
        FROM v
        QUALIFY row_number() OVER (PARTITION BY q_id
                                   ORDER BY n_votes DESC, label) = 1"""

  // --- banded sign-LSH ---

  /** Deterministic integer hyperplane weights, w(p,d) ∈ [-1000, 1000]
    * (an LCG over the flattened index — reproducible in plain SQL).
    */
  def planeWeight(p: Int, d: Int): Long =
    (1103515245L * (p * Dim + d) + 12345L) % 2001L - 1000L

  /** One bucket-key string per band: `"<band>|<value>"`, where value
    * packs the band's `bandBits` hyperplane sign bits. Same shape as
    * Dedup.bandBuckets' keys.
    */
  def bandBucketCols(emb: Column, numPlanes: Int = NumPlanes,
                     bandBits: Int = BandBits): Seq[Column] = {
    require(numPlanes % bandBits == 0, "numPlanes must be a multiple of bandBits")
    (0 until numPlanes / bandBits).map { b =>
      val v = (0 until bandBits).map { r =>
        val p = b * bandBits + r
        val ws = (0 until Dim).map(planeWeight(p, _).toDouble)
        val d = graft.functions.VectorOps.vector_dot(emb, typedLit(ws))
        when(d > 0, lit(1L << r)).otherwise(lit(0L))
      }.reduce(_ + _)
      concat_ws("|", lit(b.toString), v)
    }
  }

  /** (vec_id, emb, nrm, bkts) with band buckets precomputed per row —
    * materialized ONCE (the signature feeds the bucket pass and both
    * sides of every candidate join; recomputing 16 array folds per row
    * per consumer is the measured anti-pattern).
    */
  def signatures(emb: DataFrame, numPlanes: Int = NumPlanes,
                 bandBits: Int = BandBits): DataFrame =
    graft.core.Materialize.checkpoint(
      withNorm(emb)
        .select(col("vec_id"), col("emb"), col("nrm"),
          array(bandBucketCols(col("emb"), numPlanes, bandBits): _*).as("bkts")))

  /** (vec_id, bucket) rows, with over-populated buckets dropped — the
    * OR-construction candidate index.
    */
  def cappedBuckets(sig: DataFrame, cap: Int = MaxBucket): DataFrame =
    ColOps.capBuckets(
      sig.select(col("vec_id"), explode(col("bkts")).as("bucket")), cap)

  /** Banded-LSH ANN: top-k per query among candidates sharing ≥1 band
    * bucket. Candidate generation never goes all-pairs: a bucket
    * equi-join per band (union via the exploded index), deduped before
    * the per-pair dot.
    */
  def lshTopK(emb: DataFrame, nQ: Int, k: Int, cap: Int = MaxBucket): DataFrame = {
    val sig = signatures(emb)
    val bk = cappedBuckets(sig, cap)
    val qb = bk.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("bucket"))
    val cand = broadcast(qb).join(bk, "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id")).distinct()
    val q = sig.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = cand.join(broadcast(q), "q_id")
      .join(sig.select(col("vec_id"), col("emb"), col("nrm")), "vec_id")
      .select(col("q_id"), col("vec_id"),
        cosineFromNorms(col("q_emb"), col("emb"), col("q_nrm"), col("nrm")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rnk").cast("long").as("rnk"))
  }

  /** Embedding-cosine near-duplicate pairs within LSH band buckets (the
    * embedding flavor of near-dup dedup): pairs (a < b) sharing ≥1 band
    * bucket with cosine above `threshold`.
    */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double,
                         cap: Int = MaxBucket): DataFrame = {
    val sig = signatures(emb)
    val bk = cappedBuckets(sig, cap)
    val pairs = bk.join(
        bk.select(col("bucket").as("bucket_b"), col("vec_id").as("id_b")),
        col("bucket") === col("bucket_b") && col("vec_id") < col("id_b"))
      .select(col("vec_id").as("id_a"), col("id_b")).distinct()
    pairs
      .join(sig.select(col("vec_id").as("id_a"), col("emb").as("emb_a"),
        col("nrm").as("nrm_a")), "id_a")
      .join(sig.select(col("vec_id").as("id_b"), col("emb").as("emb_b"),
        col("nrm").as("nrm_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        cosineFromNorms(col("emb_a"), col("emb_b"), col("nrm_a"), col("nrm_b")).as("cos"))
      .filter(col("cos") > threshold)
  }

  // --- IVF (inverted-file) ANN ---

  val NumCells = 16
  val NProbe = 4

  /** Seed rows of the coarse quantizer (first `nCells` vectors — see
    * [[ivfTopK]] for why seeded).
    */
  private def ivfSeeds(sig: DataFrame, nCells: Int): DataFrame =
    sig.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("sid"), col("emb").as("s_emb"), col("nrm").as("s_nrm"))

  /** Ranked cell affinities (vec_id, sid, c, rn): rn = 1 is the cell
    * ASSIGNMENT, rn ≤ nProbe the query's probe set. Broadcast seeds ⇒
    * n·nCells dots with zero shuffle beyond the per-vector window; the
    * window formulation matches the oracle SQL bit-for-bit.
    */
  private def ivfRanked(sig: DataFrame, seeds: DataFrame): DataFrame = {
    val ass0 = sig.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("sid"),
        cosineFromNorms(col("emb"), col("s_emb"), col("nrm"), col("s_nrm")).as("c"))
    val wAss = Window.partitionBy(col("vec_id")).orderBy(col("c").desc, col("sid"))
    ass0.withColumn("rn", row_number().over(wAss))
  }

  /** IVF ANN: coarse-quantize every vector to its nearest "centroid"
    * cell, search only the query's `nProbe` nearest cells.
    *
    * Centroids are the first `nCells` vectors of the collection — a
    * deterministic seeding (k-means iterations would average floats in
    * engine-private order and could never hash-match a cross-engine
    * oracle; seeded IVF keeps the inverted-file structure, which is the
    * part that scales: assignment is n·nCells dots against a BROADCAST
    * seed set, search touches nProbe/nCells of the collection). Cell
    * argmax and probe ranking use the same window formulation as the
    * oracle SQL, so assignments agree bit-for-bit.
    */
  def ivfTopK(emb: DataFrame, nQ: Int, k: Int, nCells: Int = NumCells,
              nProbe: Int = NProbe): DataFrame = {
    // the serve path over an in-memory index build — one copy of the
    // probe/score/rank pipeline, as ivfPqTopK does for IVF-PQ
    val sig = graft.core.Materialize.checkpoint(withNorm(emb))
    ivfServe(ivfIndexRows(sig, nCells), sig, nQ, k, nCells, nProbe)
  }

  // --- persisted IVF index (write-once / query-many serving shape) ---

  /** Index CONTENT: one row per vector with its coarse cell — what gets
    * written `partitionBy("cell")` as the persisted inverted file.
    * `cell` is INT to match Hive partition-directory type inference on
    * read: a type mismatch would put a cast on the partition column and
    * block partition pruning on the probe join.
    */
  def ivfIndexRows(sig: DataFrame, nCells: Int = NumCells): DataFrame =
    ivfIndexRowsWith(sig, ivfSeeds(sig, nCells))

  /** [[ivfIndexRows]] under an EXPLICIT centroid set (sid, s_emb,
    * s_nrm) — the retrain path re-partitions the collection against
    * refined centroids instead of the seeded ones.
    */
  def ivfIndexRowsWith(sig: DataFrame, seeds: DataFrame): DataFrame = {
    val cells = ivfRanked(sig, seeds).filter(col("rn") === 1)
      .select(col("vec_id"), col("sid").cast("int").as("cell"))
    sig.join(cells, "vec_id").select(col("vec_id"), col("emb"), col("nrm"), col("cell"))
  }

  /** Serve top-k from a PERSISTED inverted file: the query set ranks its
    * probe cells against the broadcast seeds (nQ·nCells dots — query-side
    * work only), then ONE join into the index on `cell`, which dynamic
    * partition pruning narrows to the probed directories — the scan
    * reads ≤ nQ·nProbe of the nCells partitions, i.e. `nprobe/ncells` of
    * the collection, however large the index grows. Scoring uses the
    * emb/nrm stored IN the index (doubles round-trip parquet exactly),
    * so no second scan of the collection exists anywhere in the plan.
    * Since every vector lives in exactly one cell directory, a
    * (q_id, vec_id) candidate arises at most once — no dedup needed.
    * Results ≡ [[ivfTopK]] by construction (the in-memory form
    * delegates here), so the persisted path shares its oracle.
    */
  def ivfServe(index: DataFrame, sig: DataFrame, nQ: Int, k: Int,
               nCells: Int = NumCells, nProbe: Int = NProbe): DataFrame =
    ivfServeWith(index, sig, ivfSeeds(sig, nCells), nQ, k, nProbe)

  /** [[ivfServe]] under an EXPLICIT centroid set — queries rank their
    * probe cells against the SAME centroids the index was partitioned
    * by (serving a layout against foreign centroids would silently
    * drop candidates; the retrain loop threads the refined seeds
    * through both sides).
    */
  def ivfServeWith(index: DataFrame, sig: DataFrame, seeds: DataFrame,
                   nQ: Int, k: Int, nProbe: Int = NProbe): DataFrame = {
    val q = sig.filter(col("vec_id") < nQ)
    val probes = ivfRanked(q, seeds)
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("q_id"), col("sid").cast("int").as("cell"))
    val qv = q.select(col("vec_id").as("q_id"),
      col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = broadcast(probes.join(qv, "q_id")).join(index, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineFromNorms(col("q_emb"), col("emb"), col("q_nrm"), col("nrm")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rnk").cast("long").as("rnk"))
  }

  /** The production entry: stage the inverted file once per JVM
    * ([[Bucketing.stagedPartitioned]] — the q_bucket_join staging
    * pattern applied to centroid directories), then serve from it.
    * Incremental maintenance: assign an arriving batch with
    * [[ivfIndexRows]] against the SAME seeds and append via
    * [[Bucketing.appendPartitioned]] — new rows land in their cell's
    * directory without touching existing ones (assignment is per-vector
    * against fixed seeds, so append ≡ full rebuild exactly;
    * SimilaritySpec pins it).
    */
  def ivfPersistTopK(spark: SparkSession, dir: String, nQ: Int, k: Int,
                     nCells: Int = NumCells, nProbe: Int = NProbe): DataFrame = {
    // nCells in the staging key: the cached index's partitioning is a
    // function of the cell count — serving a 16-seed probe set against
    // an 8-cell index would silently drop candidates
    val index = Bucketing.stagedPartitioned(spark, dir, s"ivf$nCells",
      ivfIndexRows(withNorm(embeddings(spark, dir)), nCells), "cell")
    ivfServe(index, withNorm(embeddings(spark, dir)), nQ, k, nCells, nProbe)
  }

  // --- oracle SQL builders (same constants, DuckDB dialect) ---

  /** DuckDB: strict left-fold sum over a list expression. */
  def foldSumSql(listExpr: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, $listExpr), (a, v) -> a + v)"

  /** DuckDB cosine between two DOUBLE[] expressions (left-fold order —
    * same value as the engine's dot/(norm·norm), however the engine
    * stages the norms).
    */
  def cosineSql(a: String, b: String): String = {
    val dot = foldSumSql(s"[$a[i+1] * $b[i+1] for i in range(0, ${Dim})]")
    val na = s"sqrt(${foldSumSql(s"[$a[i+1] * $a[i+1] for i in range(0, ${Dim})]")})"
    val nb = s"sqrt(${foldSumSql(s"[$b[i+1] * $b[i+1] for i in range(0, ${Dim})]")})"
    s"($dot / ($na * $nb))"
  }

  /** DuckDB band-bucket expressions over a DOUBLE[] column expression —
    * one `"<band>|<value>"` string per band, same constants as
    * [[bandBucketCols]].
    */
  def bandBucketSqls(embExpr: String, numPlanes: Int = NumPlanes,
                     bandBits: Int = BandBits): Seq[String] =
    (0 until numPlanes / bandBits).map { b =>
      val bits = (0 until bandBits).map { r =>
        val p = b * bandBits + r
        val ws = (0 until Dim).map(planeWeight(p, _).toDouble).mkString("[", ", ", "]")
        val d = foldSumSql(s"[$embExpr[i+1] * ($ws)[i+1] for i in range(0, ${Dim})]")
        s"(CASE WHEN $d > 0 THEN ${1L << r} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      s"concat_ws('|', '$b', $bits)"
    }

  /** DuckDB mirror of [[ivfTopK]]'s assignment + probe + search CTEs
    * (same window formulation → bit-identical cell argmax).
    */
  def ivfTopKSql(nQ: Int, k: Int, nCells: Int = NumCells,
                 nProbe: Int = NProbe): String =
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        seeds AS (SELECT vec_id AS sid, emb AS s_emb FROM e0 WHERE vec_id < $nCells),
        ass0 AS (SELECT v.vec_id, s.sid, ${cosineSql("v.emb", "s.s_emb")} AS c
                 FROM e0 v, seeds s),
        ass AS (SELECT *, row_number() OVER
                  (PARTITION BY vec_id ORDER BY c DESC, sid) AS rn FROM ass0),
        cells AS (SELECT vec_id, sid AS cell FROM ass WHERE rn = 1),
        probes AS (SELECT vec_id AS q_id, sid AS cell FROM ass
                   WHERE vec_id < $nQ AND rn <= $nProbe),
        cand AS (SELECT DISTINCT p.q_id, c.vec_id
                 FROM probes p JOIN cells c ON c.cell = p.cell AND c.vec_id <> p.q_id),
        sc AS (SELECT cand.q_id, cand.vec_id, ${cosineSql("qe.emb", "ce.emb")} AS cos
               FROM cand
               JOIN e0 qe ON qe.vec_id = cand.q_id
               JOIN e0 ce ON ce.vec_id = cand.vec_id)
        SELECT q_id, vec_id, cos, rnk FROM
          (SELECT q_id, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
           FROM sc) r
        WHERE rnk <= $k"""

  // ----- Product quantization (PQ codes + ADC search) -----

  val PqM = 4                      // subspaces
  val PqK = 8                      // codewords per subspace
  val PqSubDim: Int = Dim / PqM    // dims per subspace
  val PqMicro = 1000000L           // distance micro-scale (ADC sums integers)

  /** Squared L2 distance between two double-array columns — native
    * fused-loop expression, same strict left fold as [[sqDistSql]]'s
    * mirror (and as the HOF form it replaced).
    */
  def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorOps.vector_sqdist(a, b)

  private def pqSub(emb: Column, s: Column): Column =
    slice(emb, s * PqSubDim + lit(1), lit(PqSubDim))

  /** One (sub, sv) row per subspace of each vector. */
  private def explodeSubs(emb: DataFrame, m: Int, out: String): DataFrame =
    emb.select(col("vec_id"), explode(array((0 until m).map { s =>
        struct(lit(s.toLong).as("sub"), pqSub(col("emb"), lit(s)).as("sv"))
      }: _*)).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sv").as(out))

  /** PQ codebook: `m × k` rows (sub, code, cw). Codewords are the
    * sub-slices of the first `k` vectors — the same deterministic
    * seeding as [[ivfTopK]] (trained sub-k-means would average floats in
    * engine-private order and could never hash-match an oracle; the PQ
    * STRUCTURE — independent per-subspace codebooks, code assignment,
    * ADC lookup — is what scales, and it is unchanged).
    */
  def pqCodebook(emb: DataFrame, m: Int = PqM, k: Int = PqK): DataFrame =
    explodeSubs(emb.filter(col("vec_id") < k), m, "cw")
      .select(col("sub"), col("vec_id").as("code"), col("cw"))

  /** PQ code assignment: per (vector, subspace), the argmin-L2 codeword
    * (ties → smaller code). Cost is `m·k` SubDim-length distances per
    * vector against a BROADCAST `m × k` codebook — map-side only; the
    * per-(vec, sub) argmin window partitions by vector, so ranking is
    * embarrassingly parallel. Output (vec_id, sub, code): n·m rows of
    * three integers — the 64-byte→4-byte compression step of a PQ index
    * (a production sink would pack the m codes per vector; the long
    * format is the oracle-comparable view).
    */
  def pqCodes(emb: DataFrame, m: Int = PqM, k: Int = PqK): DataFrame = {
    val sig = graft.core.Materialize.checkpoint(emb)
    pqCodesWith(sig, pqCodebook(sig, m, k), m)
  }

  /** [[pqCodes]] under an EXPLICIT codebook — the incremental-add path
    * assigns arriving vectors against the index's ORIGINAL codewords,
    * never a batch-derived set.
    */
  def pqCodesWith(sig: DataFrame, codebook: DataFrame,
                  m: Int = PqM): DataFrame = {
    val scored = explodeSubs(sig, m, "sv")
      .join(broadcast(codebook), "sub")
      .select(col("vec_id"), col("sub"), col("code"),
        sqDist(col("sv"), col("cw")).as("d"))
    val w = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("d"), col("code"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("code"))
  }

  /** PQ ADC (asymmetric distance computation) top-k: each query
    * precomputes its distance to every codeword (an `nQ × m × k` table —
    * BROADCAST), then a candidate's approximate distance is the SUM of
    * m table lookups over its codes; no candidate vector is ever read.
    * Per-subspace distances are micro-scaled to integers before the sum,
    * so the m-way addition is order-free (exact cross-engine agreement
    * without constraining Spark's aggregation order).
    *
    * This is the memory-bound ANN scale path: the scan side touches only
    * the `n·m` code rows (ints), never the `n·Dim` floats — at 100 TB of
    * vectors the ADC scan reads ~1.5 % of the raw bytes. nQ scales by
    * partitioning the query set; the code scan is embarrassingly
    * parallel.
    */
  def pqAdcTopK(emb: DataFrame, nQ: Int, kNN: Int,
                m: Int = PqM, k: Int = PqK): DataFrame = {
    val sig = graft.core.Materialize.checkpoint(emb)
    adcRanked(pqCodes(sig, m, k), Seq("sub", "code"), sig, pqCodebook(sig, m, k), nQ, m)
      .filter(col("rnk") <= kNN)
      .select(col("q_id"), col("vec_id"), col("adist"),
        col("rnk").cast("long").as("rnk"))
  }

  /** The ONE ADC scan: each query's distance to every codeword (an
    * `nQ × m × k` table, micro-scaled to integers and BROADCAST), joined
    * to the candidate code rows `cand` on `keys`, summed per
    * (q_id, vec_id) into `adist` and ranked per query (adist, vec_id) as
    * `rnk`. A query is never its own candidate.
    */
  private def adcRanked(cand: DataFrame, keys: Seq[String], sig: DataFrame,
                        codebook: DataFrame, nQ: Int, m: Int): DataFrame = {
    val dtab = explodeSubs(sig.filter(col("vec_id") < nQ), m, "sv")
      .withColumnRenamed("vec_id", "q_id")
      .join(broadcast(codebook), "sub")
      .select(col("q_id"), col("sub"), col("code"),
        floor(sqDist(col("sv"), col("cw")) * PqMicro).cast("long").as("dq"))
    val scored = cand.join(broadcast(dtab), keys)
      .filter(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id")).agg(sum(col("dq")).as("adist"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
  }

  /** Two-stage PQ search: ADC shortlist (size `shortlist`), then EXACT
    * cosine re-rank of the shortlist → top `kNN`. Quantization collapses
    * ranking between candidates that share all m codes (a whole tight
    * cluster can tie — SimilaritySpec measures direct ADC top-3 recall
    * at 0.125 on the clustered fixture for exactly that reason), so
    * production PQ always re-ranks: the guarantee PQ actually offers is
    * that the TRUE neighbors land in the shortlist (spec: 100 % at
    * shortlist=32), and the re-rank reads only `nQ × shortlist` full
    * vectors — per query, `shortlist/n` of the collection.
    */
  def pqRerankTopK(emb: DataFrame, nQ: Int, kNN: Int, shortlist: Int = 32,
                   m: Int = PqM, k: Int = PqK): DataFrame = {
    val sig = graft.core.Materialize.checkpoint(withNorm(emb))
    val cand = pqAdcTopK(emb, nQ, shortlist, m, k)
      .select(col("q_id"), col("vec_id"))
    rerankExact(cand, sig, nQ, kNN)
  }

  /** Exact cosine re-rank of a (q_id, vec_id) shortlist → top kNN —
    * the oracle-pinned tie-break (cos DESC, vec_id) lives HERE alone;
    * [[pqRerankTopK]] and [[pqServeRerank]] must agree with the shared
    * pqRerankTopKSql oracle, so they must share this tail.
    */
  private def rerankExact(cand: DataFrame, sig: DataFrame,
                          nQ: Int, kNN: Int): DataFrame = {
    val q = sig.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = cand.join(broadcast(q), "q_id")
      .join(sig.select(col("vec_id"), col("emb"), col("nrm")), "vec_id")
      .select(col("q_id"), col("vec_id"),
        cosineFromNorms(col("q_emb"), col("emb"), col("q_nrm"), col("nrm")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= kNN)
      .select(col("q_id"), col("vec_id"), col("cos"),
        col("rnk").cast("long").as("rnk"))
  }

  // --- IVF maintenance loop (drift-triggered retrain + atomic swap) ---

  /** ONE k-means refinement of the coarse quantizer: each cell's new
    * centroid is the float mean of its members — the de-quantized
    * consumer of [[kmeansStep]]'s integer accumulators (same
    * [[cellAssign]] assignment; full double precision here because the
    * retrained centroids feed the index itself, not an oracle hash).
    * A cell that lost every member keeps its old seed (a quantizer must
    * never shrink: probe ranking assumes nCells live centroids).
    * Output (sid, s_emb, s_nrm) — directly pluggable into
    * [[ivfIndexRowsWith]] / [[ivfServeWith]]. Plan: one broadcast
    * assignment + dim-explode + two narrow aggregates; nCells·Dim rows
    * regardless of collection size.
    */
  def refinedSeeds(sig: DataFrame, nCells: Int = NumCells): DataFrame = {
    val means = sig.join(cellAssign(sig, nCells), "vec_id")
      .select(col("cell"), posexplode(col("emb")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim")).agg(avg(col("x")).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m")).as("m_emb"))
      .select(col("cell").as("sid"), col("m_emb"))
    ivfSeeds(sig, nCells).select(col("sid"), col("s_emb"))
      .join(means, Seq("sid"), "left")
      .select(col("sid"), coalesce(col("m_emb"), col("s_emb")).as("s_emb"))
      .select(col("sid"), col("s_emb"), norm(col("s_emb")).as("s_nrm"))
  }

  /** Drift-triggered RETRAIN of a persisted IVF layout rooted at
    * `base`: refine the centroids ([[refinedSeeds]]), re-partition the
    * whole collection against them, and publish the result as the next
    * [[Bucketing.writeVersion]] version — commit marker LAST, so a
    * serve that starts mid-rebuild keeps reading the previous live
    * version (SimilaritySpec pins both the atomicity and
    * retrained-serve ≡ fresh-build-serve). Returns the refined seeds;
    * the caller serves via [[ivfServeWith]] against
    * [[Bucketing.liveVersion]]'s path.
    */
  def ivfRetrain(spark: SparkSession, base: String, sig: DataFrame,
                 nCells: Int = NumCells): DataFrame = {
    val seeds = graft.core.Materialize.checkpoint(refinedSeeds(sig, nCells))
    ivfRetrainWith(spark, base, sig, seeds)
    seeds
  }

  /** [[ivfRetrain]] under pre-computed centroids (the maintenance loop
    * computes them once for the drift check and reuses them here).
    */
  def ivfRetrainWith(spark: SparkSession, base: String, sig: DataFrame,
                     seeds: DataFrame): String =
    Bucketing.writeVersion(spark, base, ivfIndexRowsWith(sig, seeds), "cell")

  /** Assignment DRIFT of a persisted layout in exact ppm: the fraction
    * of indexed vectors whose nearest centroid under `seeds` differs
    * from their STORED cell — the signal that the partitioning no
    * longer matches the data and probe recall is degrading. One
    * broadcast re-assignment over the index (emb/nrm live IN the index,
    * no collection re-scan) + a 1-row aggregate; integer ppm so the
    * trigger compare is exact. An index freshly partitioned by `seeds`
    * measures 0 by construction (spec-pinned — this is what makes
    * [[maintainIvf]] idempotent).
    */
  def ivfDriftPpm(index: DataFrame, seeds: DataFrame): Long = {
    val fresh = ivfRanked(
      index.select(col("vec_id"), col("emb"), col("nrm")), seeds)
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sid").cast("int").as("new_cell"))
    val r = index.select(col("vec_id"), col("cell")).join(fresh, "vec_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("cell") =!= col("new_cell"), 1L).otherwise(0L)).as("moved"))
      .head()
    if (r.getLong(0) == 0L) 0L else r.getLong(1) * 1000000L / r.getLong(0)
  }

  /** The DRIFT-TRIGGERED maintenance loop, closed: refine centroids
    * once; if no live version exists, build one; otherwise measure the
    * live layout's assignment drift against the refined centroids and
    * retrain ONLY when it reaches `driftThresholdPpm` (publishing the
    * next version marker-last — serves in flight keep the old one).
    * Returns (refined seeds, Some(new live path) if a version was
    * published). Retraining rewrites the index against the SAME seeds
    * the drift was measured with, so the loop is idempotent: the next
    * call measures 0 drift and does nothing.
    *
    * Note on determinism at scale: [[refinedSeeds]]' float means are
    * merge-order-dependent in the last ulps on a real cluster, so a
    * recomputed centroid can land a boundary vector in the adjacent
    * cell. Production thresholds (the 100 000 ppm default = 10 % of
    * vectors re-assigned) sit orders of magnitude above that jitter; a
    * 1-ppm hair trigger is a test device, not an operating point.
    */
  def maintainIvf(spark: SparkSession, base: String, sig: DataFrame,
                  nCells: Int = NumCells,
                  driftThresholdPpm: Long = 100000L): (DataFrame, Option[String]) = {
    val seeds = graft.core.Materialize.checkpoint(refinedSeeds(sig, nCells))
    Bucketing.liveVersion(base) match {
      case None =>
        (seeds, Some(ivfRetrainWith(spark, base, sig, seeds)))
      case Some((_, livePath)) =>
        val drift = ivfDriftPpm(spark.read.parquet(livePath), seeds)
        if (drift >= driftThresholdPpm)
          (seeds, Some(ivfRetrainWith(spark, base, sig, seeds)))
        else (seeds, None)
    }
  }

  // --- persisted PQ index (write-once codebook + codes serving layout) ---

  /** Serve two-stage PQ search from a PERSISTED index: `codesIdx`
    * (vec_id, code; `sub` as the partition directory) and `cbIdx`
    * (code, cw; same layout) are the staged artifacts — the serve path
    * reads the collection's full vectors ONLY for the shortlist
    * re-rank. The ADC scan touches the n·m integer code rows and
    * nothing else: column pruning keeps the `emb` floats out of the
    * codes FileScan entirely (PlanSpec pins it), which is the 98.5 %
    * byte saving a PQ index exists for. The staged codebook (m·k rows)
    * broadcasts into the query-side distance table exactly as the
    * in-memory build does, and parquet round-trips doubles exactly, so
    * results are identical to [[pqRerankTopK]] — the persisted path
    * shares its oracle.
    */
  def pqServeRerank(codesIdx: DataFrame, cbIdx: DataFrame, sig: DataFrame,
                    nQ: Int, kNN: Int, shortlist: Int = 32,
                    m: Int = PqM): DataFrame = {
    // partition-directory `sub` reads back as INT — re-widen before the
    // join so no cast lands on the scan side
    val codes = codesIdx.select(col("vec_id"),
      col("sub").cast("long").as("sub"), col("code"))
    val cb = cbIdx.select(col("sub").cast("long").as("sub"),
      col("code"), col("cw"))
    val cand = adcRanked(codes, Seq("sub", "code"), sig, cb, nQ, m)
      .filter(col("rnk") <= shortlist).select(col("q_id"), col("vec_id"))
    rerankExact(cand, sig, nQ, kNN)
  }

  /** The production PQ entry: stage codebook + codes once per JVM via
    * [[Bucketing.stagedPartitioned]] — the staging key carries (m, k)
    * the way nCells keys the IVF layout (an index built for one
    * geometry must never serve another) — then serve from the staged
    * artifacts. Incremental maintenance: assign an arriving batch with
    * [[pqCodes]] against the SAME first-k codebook and append via
    * [[Bucketing.appendPartitioned]] — code assignment is per-vector
    * against a fixed codebook, so append ≡ full rebuild exactly
    * (SimilaritySpec pins it, mirroring the IVF append spec).
    */
  def pqPersistTopK(spark: SparkSession, dir: String, nQ: Int, kNN: Int,
                    shortlist: Int = 32, m: Int = PqM, k: Int = PqK): DataFrame = {
    val sig = graft.core.Materialize.checkpoint(withNorm(embeddings(spark, dir)))
    val cb = Bucketing.stagedPartitioned(spark, dir, s"pqcb_${m}_$k",
      pqCodebook(sig, m, k).withColumn("sub", col("sub").cast("int")), "sub")
    val codes = Bucketing.stagedPartitioned(spark, dir, s"pqcodes_${m}_$k",
      pqCodes(sig, m, k).withColumn("sub", col("sub").cast("int")), "sub")
    pqServeRerank(codes, cb, sig, nQ, kNN, shortlist, m)
  }

  // --- IVF-PQ: the composed two-level index (FAISS IVFPQ shape) ---

  /** IVF-PQ search — coarse cells prune WHICH vectors are considered,
    * PQ codes prune WHAT is read for them: queries rank their nProbe
    * cells against the broadcast seeds, candidates are the vectors in
    * probed cells (nprobe/ncells of the collection), their approximate
    * distances come from m integer code lookups against the broadcast
    * per-query ADC table (no candidate vector read), and only the
    * shortlist is re-ranked with exact cosine. At 100 TB this composes
    * both prunings: the scan side touches the code rows of probed
    * cells only — `nprobe/ncells × n·m` ints — and reads
    * `shortlist/n` full vectors per query. Every stage reuses the
    * pinned formulations ([[cellAssign]] ranking, [[pqCodes]]
    * assignment, [[rerankExact]] tie-break), so the oracle composes
    * their mirrors verbatim.
    */
  def ivfPqTopK(emb: DataFrame, nQ: Int, kNN: Int, shortlist: Int = 32,
                nCells: Int = NumCells, nProbe: Int = NProbe,
                m: Int = PqM, k: Int = PqK): DataFrame = {
    // delegate through the serve path over an in-memory index build —
    // ONE copy of the probes/ADC/shortlist/rerank pipeline, so the
    // in-memory and persisted forms cannot drift apart (the spec pins
    // serve(indexRows(sig)) == this by construction now, not by test)
    val sig = graft.core.Materialize.checkpoint(withNorm(emb))
    ivfPqServe(ivfPqIndexRows(sig, nCells, m, k), sig, nQ, kNN,
      shortlist, nCells, nProbe, m, k)
  }

  /** PERSISTED IVF-PQ index content: one row per vector — its coarse
    * cell (the partition directory) and its m PQ codes packed as an
    * ordered array — the cell-partitioned posting-list layout a
    * production IVFPQ serves from. Deliberately does NOT store the
    * vector: the whole point of the code layout is that the serve path
    * reads ints; the exact re-rank fetches the shortlist's vectors
    * from the collection itself.
    */
  def ivfPqIndexRows(sig: DataFrame, nCells: Int = NumCells,
                     m: Int = PqM, k: Int = PqK): DataFrame =
    ivfPqIndexRowsWith(sig, ivfSeeds(sig, nCells), pqCodebook(sig, m, k), m)

  /** [[ivfPqIndexRows]] under EXPLICIT coarse seeds and PQ codebook —
    * the ONLY correct incremental-add form: an arriving batch must be
    * assigned against the index's ORIGINAL geometry. Deriving either
    * from the batch itself would assign against foreign centroids or —
    * if the batch lacks the low-id vectors the seeded derivations pick —
    * silently against an empty seed set (zero rows appended, data
    * loss). Append ≡ rebuild holds exactly because assignment is
    * per-vector against the fixed (seeds, codebook) pair (spec-pinned
    * with a genuine batch-only append).
    */
  def ivfPqIndexRowsWith(sig: DataFrame, seeds: DataFrame,
                         codebook: DataFrame, m: Int = PqM): DataFrame = {
    val cells = ivfRanked(sig, seeds).filter(col("rn") === 1)
      .select(col("vec_id"), col("sid").cast("int").as("cell"))
    val packed = pqCodesWith(sig, codebook, m)
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))
    packed.join(cells, "vec_id")
      .select(col("vec_id"), col("codes"), col("cell"))
  }

  /** Serve IVF-PQ from a PERSISTED layout: the probe join narrows the
    * index scan to the probed cell directories (dynamic partition
    * pruning — at 100 TB only nprobe/ncells of the code rows are
    * read), ADC unpacks each candidate's code array positionally, and
    * the exact re-rank reads ONLY the shortlist's vectors from the
    * collection. Results ≡ [[ivfPqTopK]] (same assignment, codes, and
    * tie-breaks — by construction: the in-memory form delegates here),
    * so the persisted path shares its oracle. Incremental adds:
    * [[ivfPqIndexRowsWith]] over the arriving batch with the index's
    * ORIGINAL seeds + codebook, then [[Bucketing.appendPartitioned]] —
    * append ≡ rebuild (spec-pinned with a genuine batch-only append).
    */
  def ivfPqServe(index: DataFrame, sig: DataFrame, nQ: Int, kNN: Int,
                 shortlist: Int = 32, nCells: Int = NumCells,
                 nProbe: Int = NProbe, m: Int = PqM, k: Int = PqK): DataFrame = {
    val probes = ivfRanked(sig.filter(col("vec_id") < nQ), ivfSeeds(sig, nCells))
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("q_id"), col("sid").cast("int").as("cell"))
    val cand = broadcast(probes).join(index, "cell")
      .select(col("q_id"), col("vec_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .select(col("q_id"), col("vec_id"), col("sub").cast("long").as("sub"),
        col("code"))
    val short = adcRanked(cand, Seq("q_id", "sub", "code"), sig,
      pqCodebook(sig, m, k), nQ, m)
      .filter(col("rnk") <= shortlist).select(col("q_id"), col("vec_id"))
    rerankExact(short, sig, nQ, kNN)
  }

  /** The production IVF-PQ entry: stage the cell-partitioned code
    * layout once per JVM (keyed by every geometry parameter — a layout
    * built for one (nCells, m, k) must never serve another), then
    * serve from it.
    */
  def ivfPqPersistTopK(spark: SparkSession, dir: String, nQ: Int, kNN: Int,
                       shortlist: Int = 32, nCells: Int = NumCells,
                       nProbe: Int = NProbe, m: Int = PqM,
                       k: Int = PqK): DataFrame = {
    val sig = graft.core.Materialize.checkpoint(withNorm(embeddings(spark, dir)))
    val index = Bucketing.stagedPartitioned(spark, dir,
      s"ivfpq_${nCells}_${m}_$k", ivfPqIndexRows(sig, nCells, m, k), "cell")
    ivfPqServe(index, sig, nQ, kNN, shortlist, nCells, nProbe, m, k)
  }

  /** DuckDB mirror of [[ivfPqTopK]] — the cell-assign and PQ chains
    * composed over one shared `e0`.
    */
  def ivfPqTopKSql(nQ: Int, kNN: Int, shortlist: Int = 32,
                   nCells: Int = NumCells, nProbe: Int = NProbe,
                   m: Int = PqM, k: Int = PqK,
                   e0Sql: String = E0Sql): String =
    s"""WITH ${cellAssignCtesSql(nCells, e0Sql)},
        ${pqPartsSql(m, k)},
        probes AS (SELECT vec_id AS q_id, sid AS cell FROM
            (SELECT *, row_number() OVER
               (PARTITION BY vec_id ORDER BY c DESC, sid) AS rn FROM ass0) r
          WHERE rn <= $nProbe AND vec_id < $nQ),
        cand AS (SELECT p.q_id, cl.vec_id FROM probes p
                 JOIN cells cl ON cl.cell = p.cell
                 WHERE cl.vec_id <> p.q_id),
        dtab AS (SELECT s.vec_id AS q_id, s.sub, c.code,
                   CAST(FLOOR(${sqDistSql("s.sv", "c.cw")} * $PqMicro) AS BIGINT) AS dq
                 FROM subs s JOIN cb c USING (sub) WHERE s.vec_id < $nQ),
        ad AS (SELECT cand.q_id, cand.vec_id, SUM(d.dq) AS adist
               FROM cand JOIN codes co ON co.vec_id = cand.vec_id
               JOIN dtab d ON d.q_id = cand.q_id
                          AND d.sub = co.sub AND d.code = co.code
               GROUP BY cand.q_id, cand.vec_id),
        short AS (SELECT q_id, vec_id FROM ad
                  QUALIFY row_number() OVER
                    (PARTITION BY q_id ORDER BY adist, vec_id) <= $shortlist),
        rr AS (SELECT short.q_id, short.vec_id,
                 ${cosineSql("qe.emb", "ce.emb")} AS cos
               FROM short JOIN e0 qe ON qe.vec_id = short.q_id
               JOIN e0 ce ON ce.vec_id = short.vec_id)
        SELECT q_id, vec_id, cos,
          CAST(row_number() OVER
            (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
        FROM rr QUALIFY rnk <= $kNN"""

  /** ANN serving-quality monitor: recall@k of the IVF-PQ index against
    * exact brute force, PER QUERY and per nProbe — the integer-exact
    * audit table a production index ships alongside its serve path
    * (aggregate recall hides which queries the cell pruning starves;
    * per-query rows are what a dashboard alerts on, and the probe sweep
    * shows what one more posting-list read would buy). `n_hit` is the
    * count of the true top-k found by the index — exact integers, no
    * float ratio, so engine agreement is hash-stable.
    *
    * Scale shape: the exact side is the [[bruteForceTopK]] broadcast
    * plan over the nQ audited queries — a production monitor runs this
    * over a SAMPLED query set (nQ bounds the brute cost), never the
    * full collection; the index side is the serve path itself, once per
    * swept probe depth. Hit counting is a per-(q, probe) broadcast-size
    * join on (q_id, vec_id) — k·nQ rows a side.
    */
  def annRecall(emb: DataFrame, nQ: Int, kNN: Int,
                probes: Seq[Int] = Seq(2, NProbe),
                shortlist: Int = 32): DataFrame = {
    val sig = graft.core.Materialize.checkpoint(withNorm(emb))
    val exact = graft.core.Materialize.checkpoint(
      bruteForceTopK(emb, nQ, kNN).select(col("q_id"), col("vec_id")))
    // index built ONCE; only the serve (whose probe filter is the swept
    // parameter) runs per depth — going through ivfPqTopK instead would
    // re-encode the whole collection N times for an N-entry sweep
    val index = graft.core.Materialize.checkpoint(ivfPqIndexRows(sig))
    probes.map { p =>
      val approx = ivfPqServe(index, sig, nQ, kNN,
          shortlist = shortlist, nProbe = p)
        .select(col("q_id").as("a_qid"), col("vec_id").as("a_vec"))
      exact.join(approx,
          col("q_id") === col("a_qid") && col("vec_id") === col("a_vec"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("a_vec")).as("n_hit"))
        .select(col("q_id"), lit(p.toLong).as("n_probe"),
          col("n_hit"), lit(kNN.toLong).as("k"))
    }.reduce(_ unionByName _)
  }

  /** DuckDB mirror of [[annRecall]]: ONE WITH chain sharing the
    * cell-assignment and PQ CTEs, a brute-force CTE, then a suffixed
    * probe→cand→ADC→shortlist→rerank family per swept nProbe, unioned.
    */
  def annRecallSql(nQ: Int, kNN: Int,
                   probes: Seq[Int] = Seq(2, NProbe),
                   shortlist: Int = 32, nCells: Int = NumCells,
                   m: Int = PqM, k: Int = PqK): String = {
    val perProbe = probes.map { p =>
      s"""probes_$p AS (SELECT vec_id AS q_id, sid AS cell FROM
              (SELECT *, row_number() OVER
                 (PARTITION BY vec_id ORDER BY c DESC, sid) AS rn FROM ass0) r
            WHERE rn <= $p AND vec_id < $nQ),
          cand_$p AS (SELECT p.q_id, cl.vec_id FROM probes_$p p
                   JOIN cells cl ON cl.cell = p.cell
                   WHERE cl.vec_id <> p.q_id),
          ad_$p AS (SELECT c.q_id, c.vec_id, SUM(d.dq) AS adist
                 FROM cand_$p c JOIN codes co ON co.vec_id = c.vec_id
                 JOIN dtab d ON d.q_id = c.q_id
                            AND d.sub = co.sub AND d.code = co.code
                 GROUP BY c.q_id, c.vec_id),
          short_$p AS (SELECT q_id, vec_id FROM ad_$p
                    QUALIFY row_number() OVER
                      (PARTITION BY q_id ORDER BY adist, vec_id) <= $shortlist),
          rr_$p AS (SELECT s.q_id, s.vec_id,
                   ${cosineSql("qe.emb", "ce.emb")} AS cos
                 FROM short_$p s JOIN e0 qe ON qe.vec_id = s.q_id
                 JOIN e0 ce ON ce.vec_id = s.vec_id),
          top_$p AS (SELECT q_id, vec_id FROM rr_$p
                  QUALIFY row_number() OVER
                    (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= $kNN),
          rec_$p AS (SELECT bf.q_id, COUNT(t.vec_id) AS n_hit
                 FROM bf LEFT JOIN top_$p t
                   ON t.q_id = bf.q_id AND t.vec_id = bf.vec_id
                 GROUP BY bf.q_id)"""
    }.mkString(",\n          ")
    val union = probes.map { p =>
      s"""SELECT q_id, CAST($p AS BIGINT) AS n_probe, n_hit,
            CAST($kNN AS BIGINT) AS k FROM rec_$p"""
    }.mkString("\n          UNION ALL ")
    s"""WITH ${cellAssignCtesSql(nCells)},
        ${pqPartsSql(m, k)},
        dtab AS (SELECT s.vec_id AS q_id, s.sub, c.code,
                   CAST(FLOOR(${sqDistSql("s.sv", "c.cw")} * $PqMicro) AS BIGINT) AS dq
                 FROM subs s JOIN cb c USING (sub) WHERE s.vec_id < $nQ),
        bfsc AS (SELECT q.vec_id AS q_id, e.vec_id,
                   ${cosineSql("q.emb", "e.emb")} AS cos
                 FROM e0 q, e0 e
                 WHERE q.vec_id < $nQ AND e.vec_id <> q.vec_id),
        bf AS (SELECT q_id, vec_id FROM bfsc
               QUALIFY row_number() OVER
                 (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= $kNN),
          $perProbe
        $union"""
  }

  /** DuckDB mirror of [[sqDist]] over `SubDim`-length slices. */
  def sqDistSql(a: String, b: String, d: Int = PqSubDim): String =
    foldSumSql(s"[($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1]) for i in range(0, $d)]")

  /** Shared DuckDB CTE prefix for PQ: subspace slices + codebook + codes. */
  private def pqPrefixSql(m: Int, k: Int): String =
    s"""e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        ${pqPartsSql(m, k)}"""

  /** [[pqPrefixSql]] WITHOUT the `e0` base CTE — for composition with
    * other chains (the IVF-PQ oracle shares `e0` with
    * [[cellAssignCtesSql]]).
    */
  private def pqPartsSql(m: Int, k: Int): String =
    s"""ss AS (SELECT UNNEST(range(0, $m)) AS sub),
        subs AS (SELECT vec_id, sub,
                   emb[sub*$PqSubDim + 1 : sub*$PqSubDim + $PqSubDim] AS sv
                 FROM e0, ss),
        cb AS (SELECT sub, vec_id AS code, sv AS cw FROM subs WHERE vec_id < $k),
        sc AS (SELECT s.vec_id, s.sub, c.code, ${sqDistSql("s.sv", "c.cw")} AS d
               FROM subs s JOIN cb c USING (sub)),
        codes AS (SELECT vec_id, sub, code FROM sc
                  QUALIFY row_number() OVER
                    (PARTITION BY vec_id, sub ORDER BY d, code) = 1)"""

  /** DuckDB mirror of [[pqCodes]]. */
  def pqCodesSql(m: Int = PqM, k: Int = PqK): String =
    s"""WITH ${pqPrefixSql(m, k)}
        SELECT vec_id, sub, code FROM codes"""

  /** Shared DuckDB CTEs: PQ prefix + per-query distance table + summed
    * approximate distances (`adist`).
    */
  private def pqAdcPrefixSql(nQ: Int, m: Int, k: Int): String =
    s"""${pqPrefixSql(m, k)},
        dtab AS (SELECT s.vec_id AS q_id, s.sub, c.code,
                   CAST(FLOOR(${sqDistSql("s.sv", "c.cw")} * $PqMicro) AS BIGINT) AS dq
                 FROM subs s JOIN cb c USING (sub) WHERE s.vec_id < $nQ),
        adist AS (SELECT d.q_id, co.vec_id, SUM(d.dq)::BIGINT AS adist
                  FROM codes co JOIN dtab d USING (sub, code)
                  WHERE d.q_id <> co.vec_id
                  GROUP BY d.q_id, co.vec_id)"""

  /** DuckDB mirror of [[pqAdcTopK]]. */
  def pqAdcTopKSql(nQ: Int, kNN: Int, m: Int = PqM, k: Int = PqK): String =
    s"""WITH ${pqAdcPrefixSql(nQ, m, k)}
        SELECT q_id, vec_id, adist,
               CAST(row_number() OVER
                 (PARTITION BY q_id ORDER BY adist, vec_id) AS BIGINT) AS rnk
        FROM adist QUALIFY rnk <= $kNN"""

  /** DuckDB mirror of [[pqRerankTopK]]. */
  def pqRerankTopKSql(nQ: Int, kNN: Int, shortlist: Int = 32,
                      m: Int = PqM, k: Int = PqK): String =
    s"""WITH ${pqAdcPrefixSql(nQ, m, k)},
        short AS (SELECT q_id, vec_id FROM adist
                  QUALIFY row_number() OVER
                    (PARTITION BY q_id ORDER BY adist, vec_id) <= $shortlist),
        rr AS (SELECT short.q_id, short.vec_id,
                 ${cosineSql("qe.emb", "ce.emb")} AS cos
               FROM short
               JOIN e0 qe ON qe.vec_id = short.q_id
               JOIN e0 ce ON ce.vec_id = short.vec_id)
        SELECT q_id, vec_id, cos,
               CAST(row_number() OVER
                 (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
        FROM rr QUALIFY rnk <= $kNN"""

  /** Shared DuckDB CTE prefix: embeddings → band buckets → capped index. */
  def cappedBucketsSql(cap: Int = MaxBucket): String =
    s"""e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        bk0 AS (SELECT vec_id, UNNEST([${bandBucketSqls("emb").mkString(", ")}]) AS bucket FROM e0),
        bk AS (SELECT vec_id, bucket FROM bk0
               ${ColOps.capBucketsQualifySql(cap)})"""

  // ----- k-means refinement + semantic dedup over the IVF coarse cells -----

  /** Every vector's coarse cell: argmax cosine against the deterministic
    * seed set (first `nCells` vectors — see [[ivfTopK]] for why seeded,
    * not iterated, coarse quantizers are the cross-engine-verifiable
    * form). Same window formulation as the oracle CTE → bit-identical
    * assignment. Input must carry (vec_id, emb, nrm); output
    * (vec_id, cell).
    */
  def cellAssign(sig: DataFrame, nCells: Int = NumCells): DataFrame = {
    val seeds = sig.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("sid"), col("emb").as("s_emb"), col("nrm").as("s_nrm"))
    val ass0 = sig.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("sid"),
        cosineFromNorms(col("emb"), col("s_emb"), col("nrm"), col("s_nrm")).as("c"))
    val wAss = Window.partitionBy(col("vec_id")).orderBy(col("c").desc, col("sid"))
    ass0.withColumn("rn", row_number().over(wAss))
      .filter(col("rn") === 1).select(col("vec_id"), col("sid").as("cell"))
  }

  /** One k-means (Lloyd) refinement step of the IVF coarse quantizer —
    * the index-retrain loop a 100-TB ANN deployment runs periodically:
    * assign every vector to its nearest cell ([[cellAssign]]: n·nCells
    * dots against a BROADCAST seed set), then emit the per-cell integer
    * centroid accumulators over the int8-quantized vectors,
    * (cell, dim, qsum, cnt) — [[labelCentroids]]' hash-stable trick
    * (float averaging would sum in engine-private order and could never
    * cross-engine hash-match; integer sums are order-free, and the float
    * centroid qsum/cnt÷scale is left to the consumer).
    *
    * Plan: one broadcast cross-join + per-vector argmax for assignment;
    * quantization is a zero-shuffle staged projection; the (vec_id)
    * equi-join marries them with narrow rows; posexplode → ONE hash
    * aggregation with map-side partial combine. Output is nCells·d rows
    * regardless of collection size.
    */
  def kmeansStep(emb: DataFrame, nCells: Int = NumCells): DataFrame = {
    val sig = graft.core.Materialize.checkpoint(withNorm(emb))
    val cells = cellAssign(sig, nCells)
    quantizeInt8(emb).join(cells, "vec_id")
      .select(col("cell"), posexplode(col("qvec")).as(Seq("dim", "q")))
      .groupBy(col("cell"), col("dim").cast("long").as("dim"))
      .agg(sum(col("q")).as("qsum"), count(lit(1)).as("cnt"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster by coarse cell, then within each cell
    * drop every vector that has a LOWER-id neighbor with cosine ≥
    * `threshold` (keep-first — deterministic, no iterative chaining, so
    * both engines agree row-for-row). The whole point of the design is
    * that pairwise cosine is computed ONLY within a cell: cells hold
    * ~n/nCells vectors, so candidate pairs are n²/nCells instead of n² —
    * at 100 TB you raise nCells with the collection (the coarse assign
    * stays a broadcast cross-join) and the per-cell pair cost stays flat.
    * Output: the surviving (vec_id, cell) rows.
    */
  def semDedup(emb: DataFrame, threshold: Double,
               nCells: Int = NumCells): DataFrame = {
    val sig = graft.core.Materialize.checkpoint(withNorm(emb))
    val m = graft.core.Materialize.checkpoint(
      sig.join(cellAssign(sig, nCells), "vec_id"))
    val a = m.select(col("cell"), col("vec_id").as("id_a"),
      col("emb").as("ea"), col("nrm").as("na"))
    val b = m.select(col("cell"), col("vec_id").as("id_b"),
      col("emb").as("eb"), col("nrm").as("nb"))
    val dropped = a.join(b, "cell").filter(col("id_a") < col("id_b"))
      .filter(cosineFromNorms(col("ea"), col("eb"), col("na"), col("nb")) >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    m.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  /** The default collection base of every embedding-oracle chain. */
  val E0Sql = "SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings"

  /** Shared DuckDB CTE prefix: embeddings → seed cosines → coarse-cell
    * assignment (same window formulation as [[cellAssign]]). `e0Sql`
    * parameterizes the collection base so composed oracles (e.g. the
    * SemDeDup→index handoff) can run the chain over a derived set —
    * subquery-scoped WITHs keep inner CTE names from colliding.
    */
  def cellAssignCtesSql(nCells: Int = NumCells,
                        e0Sql: String = E0Sql): String =
    s"""e0 AS ($e0Sql),
        seeds AS (SELECT vec_id AS sid, emb AS s_emb FROM e0 WHERE vec_id < $nCells),
        ass0 AS (SELECT v.vec_id, s.sid, ${cosineSql("v.emb", "s.s_emb")} AS c
                 FROM e0 v, seeds s),
        cells AS (SELECT vec_id, sid AS cell FROM
                    (SELECT *, row_number() OVER
                       (PARTITION BY vec_id ORDER BY c DESC, sid) AS rn FROM ass0) r
                  WHERE rn = 1)"""

  /** DuckDB mirror of [[kmeansStep]]. */
  def kmeansStepSql(nCells: Int = NumCells): String =
    s"""WITH ${cellAssignCtesSql(nCells)},
        q AS (${quantizeInt8Sql()}),
        u AS (SELECT c.cell, UNNEST(range(len(q.qvec))) AS dim, UNNEST(q.qvec) AS qv
              FROM q JOIN cells c ON c.vec_id = q.vec_id)
        SELECT cell, dim, CAST(SUM(qv) AS BIGINT) AS qsum, COUNT(*) AS cnt
        FROM u GROUP BY cell, dim"""

  /** DuckDB mirror of [[semDedup]]. */
  def semDedupSql(threshold: Double, nCells: Int = NumCells): String =
    s"""WITH ${cellAssignCtesSql(nCells)},
        m AS (SELECT c.vec_id, c.cell, e.emb
              FROM cells c JOIN e0 e ON e.vec_id = c.vec_id),
        dropped AS (SELECT DISTINCT b.vec_id
                    FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
                    WHERE ${cosineSql("a.emb", "b.emb")} >= $threshold)
        SELECT m.vec_id, m.cell FROM m
        LEFT JOIN dropped d ON d.vec_id = m.vec_id
        WHERE d.vec_id IS NULL"""
}
