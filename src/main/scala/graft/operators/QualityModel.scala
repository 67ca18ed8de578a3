package graft.operators

import org.apache.spark.sql._
import org.apache.spark.sql.functions._

/** TRAINED quality classifier — the model-based scoring pass every
  * production pipeline (CCNet, RefinedWeb, DCLM) layers over heuristic
  * rules: a hashed bag-of-words + text-statistics linear model, the
  * K = 1 case of the shared [[Perceptron]] (integer-exact standardization,
  * fixed averaged-perceptron rounds, one action per round), applied as a
  * broadcast scoring pass.
  *
  * Training label: the repo's own heuristic quality gate
  * ([[TextOps.qualityFilter]] keep flag) — the production "distill the
  * seed filter into a classifier" move (DCLM trains on exactly such
  * heuristic-labeled seeds), and a label both engines already compute
  * bit-identically. The averaged model reaches ~93% teacher agreement on
  * the fixture corpus vs the 66% majority floor.
  *
  * Model: [[BowDims]] word-hash dimensions (portable
  * [[TextOps.charHash]], per-doc counts ppm-normalized) + five Gopher-
  * style stat dimensions (word count, mean-word-length ppm, distinct
  * ppm, stopword ppm, digit ppm) + a bias. The word-count stat dim is
  * the kernel's always-present count dim.
  */
object QualityModel {

  /** Word-hash dimensions; stats occupy [[BowDims]]..[[BowDims]]+4,
    * bias is dimension [[NDims]]−1.
    */
  val BowDims = 64
  val NDims: Int = BowDims + 6
  private val Bias = NDims - 1
  private val BiasZ = Perceptron.BiasZ

  /** Fixed averaged-perceptron rounds — corpus-size-independent. */
  val Iters = 8

  /** Sparse RAW features (doc_id, d, x, y): BoW ppm counts on dims
    * 0..[[BowDims]]−1, the five stat dims, label from the heuristic
    * gate. The bias never appears here (it is constant-folded).
    */
  private def rawFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val w = TextOps.words(t)
    val nW = size(w).cast("long")
    val nC = length(t).cast("long")
    // the teacher label is a pure per-row expression (TextOps.qualityKeep
    // = the same five integer rules qualityFilter plans), so it rides the
    // SAME map pass as the features — the previous formulation re-derived
    // it through qualityFilter + an equi-join, one whole extra scan of
    // the corpus plus a shuffle per fit/score (optimization round)
    val y = when(TextOps.qualityKeep(t), 1L).otherwise(-1L)
    // word_hashes = charHash per word in one codegen pass (the same
    // values the HOF aggregate computed interpreted, Dedup's discipline)
    val bow = df
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.WordHashes.word_hashes(t)).as("h"),
        nW.as("__n"), y.as("y"))
      .groupBy(col("doc_id"), (col("h") % BowDims).as("d"),
        col("__n"), col("y"))
      .agg(count(lit(1)).as("c"))
      // integer `div`, never `/`: the cross-engine weight hash rests on
      // exact truncating arithmetic throughout (review finding — the
      // double-division-then-cast form was the one inconsistent site;
      // exact for today's magnitudes, but a silent precision cliff at
      // the scale this module documents)
      .select(col("doc_id"), col("d"), expr("c * 1000000L div __n").as("x"),
        col("y"))
    val allStops = TextOps.StopWords.values.flatten.toSeq.distinct
    val nStops = graft.functions.CountInSet.count_in_set(w, allStops)
    val nDistinct = size(array_distinct(w)).cast("long")
    val nDigits = nC - length(regexp_replace(t, "[0-9]", "")).cast("long")
    val swc = nC - nW + lit(1L)
    val stats = df.select(col(idCol).as("doc_id"), nW.as("__nw"), nC.as("__nc"),
        nDistinct.as("__ndis"), nStops.as("__nst"), nDigits.as("__ndig"),
        swc.as("__swc"), y.as("y"))
      .select(col("doc_id"),
        map(
          lit(BowDims.toLong), least(col("__nw"), lit(1000L)) * 1000L,
          lit(BowDims + 1L), expr("__swc * 1000000L div __nw"),
          lit(BowDims + 2L), expr("__ndis * 1000000L div __nw"),
          lit(BowDims + 3L), expr("__nst * 1000000L div __nw"),
          lit(BowDims + 4L), expr("__ndig * 1000000L div greatest(__nc, 1L)")
        ).as("m"), col("y"))
      .select(col("doc_id"), explode(col("m")).as(Seq("d", "x0")), col("y"))
      .select(col("doc_id"), col("d"), col("x0").cast("long").as("x"), col("y"))
    bow.unionByName(stats)
      .select(col("doc_id"), col("d"), col("x"), col("y"))
  }

  /** The fitted model: averaged weights, per-dim absent-entry z
    * constants, and the standardization statistics — everything a
    * scorer needs, [[NDims]]·4 Longs (a broadcast literal anywhere).
    */
  final case class Fitted(w: Array[Long], z0: Array[Long],
                          mu: Array[Long], mad: Array[Long])

  private def standardized(df: DataFrame, idCol: String,
      textCol: String): Perceptron.Standardized =
    Perceptron.standardize(rawFeatures(df, idCol, textCol), NDims, BowDims,
      "QualityModel")

  private def fitted(s: Perceptron.Standardized): Fitted =
    Fitted(Perceptron.train(s.zy, IndexedSeq(col("y")), s.z0, BowDims, Iters).head,
      s.z0, s.mu, s.mad)

  /** Per-doc (doc_id, y, score, pred, agree) under `m` — batch score and
    * the serve path share it.
    */
  private def scored(zy: DataFrame, m: Fitted): DataFrame =
    Perceptron.margins(zy, Seq(m.w), m.z0)
      .select(col("doc_id"), col("y"), col("__m0").as("score"),
        (col("__m0") > 0L).as("pred"),
        ((col("__m0") > 0L) === (col("y") > 0L)).as("agree"))

  /** Train on `df` and return the portable model. */
  def fit(df: DataFrame, idCol: String, textCol: String): Fitted =
    fitted(standardized(df, idCol, textCol))

  /** Score ANY document set with an already-fitted model — the serve
    * path (train on the corpus once, score arriving docs forever): one
    * stateless pass per batch, the model riding as broadcast literal
    * arrays; no training state, no corpus access.
    */
  def scoreWith(df: DataFrame, idCol: String, textCol: String,
      m: Fitted): DataFrame =
    scored(Perceptron.standardizeCols(rawFeatures(df, idCol, textCol),
      m.mu, m.mad, m.z0), m)

  /** q_quality_train: the averaged model — one row per dimension
    * (d, w), bias last.
    */
  def train(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    fit(df, idCol, textCol).w.zipWithIndex.map { case (v, d) => (d.toLong, v) }
      .toSeq.toDF("d", "w")
  }

  /** q_quality_score: every doc scored by the trained model in one
    * broadcast pass — (doc_id, y, score, pred, agree). `agree` is the
    * distillation-fidelity bit (model vs teacher) the selection tier
    * thresholds on.
    */
  def score(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val s = standardized(df, idCol, textCol)
    scored(s.zy, fitted(s))
  }

  // ---------------------------------------------------------------------
  // Versioned model layout + drift-gated maintenance — the "classifier
  // ages with the crawl" loop: the serving replica PINS a published
  // version; a maintenance loop measures teacher-fidelity drift on the
  // corpus ingested so far and republishes (as the NEXT version,
  // commit-marker-last) when it crosses the threshold. Same shape as
  // Similarity.maintainIvf, with the model artifact (NDims rows) in
  // place of the IVF geometry.
  // ---------------------------------------------------------------------

  /** The fitted model as an [[NDims]]-row DataFrame (seg, d, w, z0,
    * mu, mad) — `seg` is the constant partition column the versioned
    * layout machinery partitions by (the artifact is model-sized; one
    * directory).
    */
  def modelDf(s: SparkSession, m: Fitted): DataFrame = {
    import s.implicits._
    (0 until NDims).map(d => (0, d.toLong, m.w(d), m.z0(d), m.mu(d), m.mad(d)))
      .toDF("seg", "d", "w", "z0", "mu", "mad")
  }

  /** Read a published model back (inverse of [[modelDf]]); model-sized
    * driver collect.
    */
  def modelFromPath(s: SparkSession, path: String): Fitted = {
    val rows = s.read.parquet(path).orderBy("d").collect()
    require(rows.length == NDims, s"model at $path has ${rows.length} rows")
    Fitted(
      rows.map(_.getAs[Long]("w")), rows.map(_.getAs[Long]("z0")),
      rows.map(_.getAs[Long]("mu")), rows.map(_.getAs[Long]("mad")))
  }

  /** Teacher-fidelity DRIFT of model `m` over `corpus`: disagreements
    * between the model's prediction and the heuristic teacher label,
    * in ppm of docs. One broadcast scoring pass + one count.
    */
  def driftPpm(corpus: DataFrame, idCol: String, textCol: String,
      m: Fitted): Long = {
    // ONE job: the scored output has exactly one row per doc, so its
    // row count IS the corpus size — the separate corpus.count() was a
    // second full scan of the seen corpus per maintenance batch
    // (optimization round; same two numbers, same ppm)
    val r = scoreWith(corpus, idCol, textCol, m)
      .agg(count(lit(1)).as("n"),
        sum(when(col("agree"), 0L).otherwise(1L)).as("dis")).head()
    if (r.getLong(0) == 0L) 0L else r.getLong(1) * 1000000L / r.getLong(0)
  }

  /** Drift-gated model maintenance over a versioned layout at `base`:
    * no live version → fit + publish v1; otherwise measure
    * [[driftPpm]] of the LIVE model over the corpus so far and, at or
    * above `thresholdPpm`, retrain on that corpus and publish the next
    * version (commit-marker-last — a pinned serving replica never sees
    * a torn model). Returns (live-or-retrained model, Some(path) iff a
    * version was published). Idempotent at the production threshold:
    * right after a publish the drift of the just-fitted model is its
    * own training residual, below any sane threshold.
    */
  def maintainModel(s: SparkSession, base: String, corpus: DataFrame,
      idCol: String, textCol: String, thresholdPpm: Long): (Fitted, Option[String]) = {
    // Contract: `corpus` must be non-empty on the FIRST-publish path —
    // fit() fails loud on an empty corpus (advisor finding: the old code
    // silently published a zero model, which a pinned serving replica
    // would then score with forever). A caller whose first micro-batch
    // can be empty must skip the maintain call for that batch; once a
    // live version exists, an empty corpus is a no-op hold (driftPpm
    // returns 0 below any sane threshold).
    Bucketing.liveVersion(base) match {
      case None =>
        val m = fit(corpus, idCol, textCol)
        (m, Some(Bucketing.writeVersion(s, base, modelDf(s, m), "seg")))
      case Some((_, livePath)) =>
        val live = modelFromPath(s, livePath)
        if (driftPpm(corpus, idCol, textCol, live) >= thresholdPpm) {
          val m = fit(corpus, idCol, textCol)
          (m, Some(Bucketing.writeVersion(s, base, modelDf(s, m), "seg")))
        } else (live, None)
    }
  }

  // ---------------------------------------------------------------------
  // DuckDB mirrors — the same recurrence unrolled; the oracle DENSIFIES
  // (docs × dims is fine at oracle scale) because dense and sparse
  // formulations are algebraically identical in exact integer math.
  // ---------------------------------------------------------------------

  /** Shared CTE chain through w1..w[[Iters]] and the averaged model.
    * `sq` is the quoted stopword list [[TextOps.qualityFilterSql]]
    * takes.
    */
  private def trainCtes(sq: String, from: String): String = {
    val hash = TextOps.charHashSql("w")
    val B = BowDims
    val base =
      s"""nd AS (SELECT COUNT(*)::BIGINT AS n FROM $from),
          toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM $from),
          nw AS (SELECT doc_id, COUNT(*)::BIGINT AS nt FROM toks GROUP BY 1),
          bow AS (SELECT t.doc_id, ($hash) % $B AS d,
                         (COUNT(*) * 1000000) // MAX(nw.nt) AS x
                  FROM toks t JOIN nw ON t.doc_id = nw.doc_id
                  GROUP BY t.doc_id, ($hash) % $B),
          st AS (SELECT doc_id,
                   len(string_split(text, ' '))::BIGINT AS nwv,
                   (length(text)::BIGINT - len(string_split(text, ' '))::BIGINT + 1) AS swc,
                   len(list_distinct(string_split(text, ' ')))::BIGINT AS ndis,
                   len(list_filter(string_split(text, ' '), w -> w IN ($sq)))::BIGINT AS nst,
                   (length(text)::BIGINT
                    - length(regexp_replace(text, '[0-9]', '', 'g'))::BIGINT) AS ndig,
                   length(text)::BIGINT AS nc
                 FROM $from),
          sfeat AS (
            SELECT doc_id, $B::BIGINT AS d, LEAST(nwv, 1000) * 1000 AS x FROM st
            UNION ALL SELECT doc_id, ${B + 1}, (swc * 1000000) // nwv FROM st
            UNION ALL SELECT doc_id, ${B + 2}, (ndis * 1000000) // nwv FROM st
            UNION ALL SELECT doc_id, ${B + 3}, (nst * 1000000) // nwv FROM st
            UNION ALL SELECT doc_id, ${B + 4}, (ndig * 1000000) // GREATEST(nc, 1) FROM st),
          sparse AS (SELECT * FROM bow UNION ALL SELECT * FROM sfeat),
          qf AS (${TextOps.qualityFilterSql(sq, from)}),
          lab AS (SELECT doc_id, CASE WHEN keep THEN 1 ELSE -1 END::BIGINT AS y FROM qf),
          dims AS (SELECT range::BIGINT AS d FROM range(0, ${NDims - 1})),
          mu AS (SELECT dims.d,
                   COALESCE(SUM(s.x), 0) // MAX(nd.n) AS mu,
                   COUNT(s.x)::BIGINT AS cnt
                 FROM dims LEFT JOIN sparse s ON dims.d = s.d CROSS JOIN nd
                 GROUP BY dims.d),
          mad AS (SELECT mu.d,
                   (COALESCE(SUM(abs(s.x - mu.mu)), 0)
                    + (MAX(nd.n) - mu.cnt) * abs(mu.mu)) // MAX(nd.n) AS mad
                 FROM mu LEFT JOIN sparse s ON mu.d = s.d CROSS JOIN nd
                 GROUP BY mu.d, mu.cnt, mu.mu),
          z0 AS (SELECT mu.d, ((0 - mu.mu) * 1000) // (mad.mad + 1) AS z0,
                        mu.mu AS mu, mad.mad AS mad
                 FROM mu JOIN mad ON mu.d = mad.d),
          zden AS (
            SELECT l.doc_id, z0.d, l.y,
                   CASE WHEN s.x IS NULL THEN z0.z0
                        ELSE ((s.x - z0.mu) * 1000) // (z0.mad + 1) END AS z
            FROM lab l CROSS JOIN z0
            LEFT JOIN sparse s ON s.doc_id = l.doc_id AND s.d = z0.d
            UNION ALL
            SELECT doc_id, ${Bias}::BIGINT, y, $BiasZ::BIGINT FROM lab),
          w0 AS (SELECT range::BIGINT AS d, 0::BIGINT AS w FROM range(0, $NDims))"""
    val rounds = (1 to Iters).map { t =>
      s"""m$t AS (SELECT z.doc_id, z.y, SUM(w.w * z.z)::BIGINT AS margin
                  FROM zden z JOIN w${t - 1} w USING (d)
                  GROUP BY z.doc_id, z.y),
          mis$t AS (SELECT doc_id FROM m$t WHERE y * margin <= 0),
          nm$t AS (SELECT COUNT(*)::BIGINT AS n FROM mis$t),
          u$t AS (SELECT z.d, SUM(z.y * z.z)::BIGINT AS dw
                  FROM zden z JOIN mis$t m ON z.doc_id = m.doc_id
                  GROUP BY z.d),
          w$t AS (SELECT w.d,
                    (w.w + CASE WHEN nm$t.n > 0
                       THEN COALESCE(u.dw, 0) // nm$t.n ELSE 0 END)::BIGINT AS w
                  FROM w${t - 1} w LEFT JOIN u$t u USING (d) CROSS JOIN nm$t)"""
    }
    val avg =
      s"""wavg AS (SELECT d, (${(1 to Iters).map(t => s"w$t.w").mkString(" + ")})::BIGINT AS w
            FROM w1 ${(2 to Iters).map(t => s"JOIN w$t USING (d)").mkString(" ")})"""
    (base +: rounds :+ avg).mkString(",\n")
  }

  def trainOracleSql(sq: String, from: String = "documents"): String =
    s"""WITH ${trainCtes(sq, from)}
        SELECT d, w FROM wavg"""

  def scoreOracleSql(sq: String, from: String = "documents"): String =
    s"""WITH ${trainCtes(sq, from)},
        sc AS (SELECT z.doc_id, z.y, SUM(w.w * z.z)::BIGINT AS score
               FROM zden z JOIN wavg w USING (d) GROUP BY z.doc_id, z.y)
        SELECT doc_id, y, score, score > 0 AS pred,
               (score > 0) = (y > 0) AS agree
        FROM sc"""

  /** The SERVE split: train on `trainFrom`, score `scoreFrom` with the
    * trained model AND the training corpus' standardization stats —
    * the [[scoreWith]] contract in SQL (q_quality_retrain_stream's
    * pinned-model oracle: the model ages, arriving docs do not retrain
    * the serving path).
    */
  def serveOracleSql(sq: String, trainFrom: String,
      scoreFrom: String = "documents"): String = {
    val hash = TextOps.charHashSql("w")
    val B = BowDims
    s"""WITH ${trainCtes(sq, trainFrom)},
        vtoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM $scoreFrom),
        vnw AS (SELECT doc_id, COUNT(*)::BIGINT AS nt FROM vtoks GROUP BY 1),
        vbow AS (SELECT t.doc_id, ($hash) % $B AS d,
                        (COUNT(*) * 1000000) // MAX(vnw.nt) AS x
                 FROM vtoks t JOIN vnw ON t.doc_id = vnw.doc_id
                 GROUP BY t.doc_id, ($hash) % $B),
        vst AS (SELECT doc_id,
                  len(string_split(text, ' '))::BIGINT AS nwv,
                  (length(text)::BIGINT - len(string_split(text, ' '))::BIGINT + 1) AS swc,
                  len(list_distinct(string_split(text, ' ')))::BIGINT AS ndis,
                  len(list_filter(string_split(text, ' '), w -> w IN ($sq)))::BIGINT AS nst,
                  (length(text)::BIGINT
                   - length(regexp_replace(text, '[0-9]', '', 'g'))::BIGINT) AS ndig,
                  length(text)::BIGINT AS nc
                FROM $scoreFrom),
        vsfeat AS (
          SELECT doc_id, $B::BIGINT AS d, LEAST(nwv, 1000) * 1000 AS x FROM vst
          UNION ALL SELECT doc_id, ${B + 1}, (swc * 1000000) // nwv FROM vst
          UNION ALL SELECT doc_id, ${B + 2}, (ndis * 1000000) // nwv FROM vst
          UNION ALL SELECT doc_id, ${B + 3}, (nst * 1000000) // nwv FROM vst
          UNION ALL SELECT doc_id, ${B + 4}, (ndig * 1000000) // GREATEST(nc, 1) FROM vst),
        vsparse AS (SELECT * FROM vbow UNION ALL SELECT * FROM vsfeat),
        vqf AS (${TextOps.qualityFilterSql(sq, scoreFrom)}),
        vlab AS (SELECT doc_id, CASE WHEN keep THEN 1 ELSE -1 END::BIGINT AS y FROM vqf),
        vzden AS (
          SELECT l.doc_id, z0.d, l.y,
                 CASE WHEN s.x IS NULL THEN z0.z0
                      ELSE ((s.x - z0.mu) * 1000) // (z0.mad + 1) END AS z
          FROM vlab l CROSS JOIN z0
          LEFT JOIN vsparse s ON s.doc_id = l.doc_id AND s.d = z0.d
          UNION ALL
          SELECT doc_id, ${Bias}::BIGINT, y, $BiasZ::BIGINT FROM vlab),
        vsc AS (SELECT z.doc_id, z.y, SUM(w.w * z.z)::BIGINT AS score
                FROM vzden z JOIN wavg w USING (d) GROUP BY z.doc_id, z.y)
        SELECT doc_id, y, score, score > 0 AS pred,
               (score > 0) = (y > 0) AS agree
        FROM vsc"""
  }
}
