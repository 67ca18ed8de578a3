package graft.operators

import org.apache.spark.sql._
import org.apache.spark.sql.functions._

/** TRAINED language identifier — the fastText-style classifier a
  * production pipeline (CCNet, RefinedWeb) runs where this repo's
  * stopword heuristic ([[TextOps.langId]]) falls over: short docs,
  * mixed scripts, and languages with no curated stopword list (the
  * corpus' zh docs all identify as 'unknown' under the heuristic —
  * the trained model classifies them like any other class).
  *
  * Architecture: ONE-VS-REST AVERAGED BATCH PERCEPTRONS over hashed
  * CHARACTER-N-GRAM features — the [[QualityModel]] machinery with
  * char 3-grams instead of word BoW (char n-grams are what fastText's
  * lang-id uses: they see morphology and script without tokenization),
  * trained on the corpus' DECLARED language labels. Everything that
  * made QualityModel oracle-exact carries over verbatim: integer-exact
  * ppm feature normalization, per-dim mean/mean-absolute-deviation
  * standardization with truncating division (Spark `div` ≡ DuckDB `//`
  * ≡ Java `/`, spec-pinned), absent entries at a per-dim constant z0
  * so margins and updates stay sparse, FIXED round count, and the
  * averaged (not final) iterate as the output model.
  *
  * Multi-class shape: the K classes share one feature table; each
  * round computes ALL K margins in one per-doc aggregate (K sum
  * expressions over the same sparse rows), derives the misclassified
  * (doc, class) set, and updates all K weight vectors from ONE
  * co-partitioned join + one (class, dim)-key aggregate collected once
  * (≤ K·[[NDims]] rows; the always-present gram-count stat dim doubles
  * as the per-(doc, class) marker carrying n_mis and Σy) — the whole
  * round is one job, not K× the work.
  *
  * Scale shape (the 100-TB audit): identical to [[QualityModel]] —
  * features checkpointed once and partitioned on doc_id, rounds FIXED
  * and corpus-size-independent ([[Iters]]), driver state bounded by
  * K·NDims Longs; 10× corpus ⇒ ~10× per-round scan and nothing else
  * (the langidTrain scale probe pins this).
  *
  * Reference cell: the fold/scan sink family
  * (/root/reference/src/Data/Conduino/Combinators.hs:437-471) — a
  * training round is a corpus-wide fold whose accumulator is the
  * weight matrix.
  */
object LangModel {

  /** Char-n-gram width and hashed dimensions; dim [[CountDim]] is the
    * always-present gram-count stat (it guarantees every doc owns at
    * least one sparse row), bias is dimension [[NDims]]−1.
    */
  val GramN = 3
  val GramDims = 64
  val CountDim: Int = GramDims
  val NDims: Int = GramDims + 2
  private val Bias = NDims - 1

  /** Fixed averaged-perceptron rounds — corpus-size-independent. */
  val Iters = 6

  private val BiasZ = 1000L

  private def tdiv(a: Long, b: Long): Long = a / b

  /** Character 3-grams of a text column (empty array below [[GramN]]
    * chars) — both engines index characters, not bytes.
    */
  def grams(t: Column): Column =
    when(length(t) >= GramN,
      transform(sequence(lit(0), length(t) - lit(GramN)),
        i => t.substr(i + lit(1), lit(GramN))))
      .otherwise(array().cast("array<string>"))

  /** Sparse RAW features (doc_id, d, x): hashed-gram ppm counts on
    * dims 0..[[GramDims]]−1 plus the gram-count stat dim. The bias
    * never appears here (constant-folded, the QualityModel discipline).
    *
    * Gram hashing is the fused O(len) pass
    * `ngram_hashes(code_points(t), 3)` — positionally identical values
    * to `charHash(grams(t)[j])` (PolyHashSpec-pinned); the HOF
    * substring formulation it replaces was O(len²) per document
    * (UTF8String.substr re-walks the string head per gram) and
    * dominated the fit (optimization round).
    */
  private def rawFeatures(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val gh = graft.functions.NgramHashes.ngram_hashes(
      graft.functions.CodePoints.code_points(col(textCol)), GramN)
    val base = df.select(col(idCol).as("doc_id"), gh.as("__gh"))
    val nG = coalesce(size(col("__gh")), lit(0)).cast("long")
    val bow = base
      .select(col("doc_id"), explode(col("__gh")).as("h"), nG.as("__n"))
      .groupBy(col("doc_id"), (col("h") % GramDims).as("d"), col("__n"))
      .agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("d"), expr("c * 1000000L div __n").as("x"))
    val stat = base.select(col("doc_id"),
      lit(CountDim.toLong).as("d"),
      (least(nG, lit(1000L)) * 1000L).as("x"))
    bow.unionByName(stat)
  }

  /** The fitted multi-class model: class order, per-class averaged
    * weights, and the shared standardization artifacts — K·[[NDims]]·4
    * Longs, a broadcast literal anywhere (the [[QualityModel.Fitted]]
    * shape with a class axis).
    */
  final case class Fitted(langs: IndexedSeq[String], w: Array[Array[Long]],
                          z0: Array[Long], mu: Array[Long], mad: Array[Long])

  /** The ONE standardization projection (raw (doc_id, d, x) →
    * (doc_id, d, z, dz) under given stats) — shared by training and
    * serve so the two paths cannot drift.
    */
  private def standardizeCols(raw: DataFrame, mu: Array[Long],
      mad: Array[Long], z0: Array[Long]): DataFrame = {
    // lit(Array[Long]) = one reference object in the generated code —
    // identical source across rounds/fits, so the Janino cache hits
    // (the QualityModel.standardizeCols discipline)
    val muA = lit(mu)
    val madA = lit(mad)
    val z0A = lit(z0)
    raw.select(col("doc_id"), col("d"),
      ((col("x") - element_at(muA, (col("d") + 1).cast("int"))) * 1000L)
        .cast("long").as("__num"),
      (element_at(madA, (col("d") + 1).cast("int")) + 1L).as("__den"),
      element_at(z0A, (col("d") + 1).cast("int")).as("__z0"))
      .select(col("doc_id"), col("d"),
        expr("__num div __den").as("z"),
        (expr("__num div __den") - col("__z0")).as("dz"))
  }

  /** Standardize: (checkpointed (doc_id, d, z, dz) table, z0, mu,
    * mad) — the [[QualityModel.standardized]] recurrence without the
    * label column (labels are per-class here).
    */
  /** Standardize (the [[QualityModel.standardized]] recurrence without
    * the label column): zy is a pure projection over the ONE
    * checkpointed raw table; nDocs comes from the `sums` collect (the
    * always-present gram-count stat dim has exactly one row per doc)
    * instead of a separate rescan of the base corpus.
    */
  private def standardized(df: DataFrame, idCol: String, textCol: String)
      : (DataFrame, Array[Long], Array[Long], Array[Long]) = {
    val raw = graft.core.Materialize.checkpoint(
      rawFeatures(df, idCol, textCol).repartition(col("doc_id")))
    val sums = raw.groupBy(col("d"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt")).collect()
    val mu = new Array[Long](NDims)
    val cnt = new Array[Long](NDims)
    val sx = new Array[Long](NDims)
    sums.foreach { r =>
      val d = r.getLong(0).toInt
      sx(d) = r.getLong(1); cnt(d) = r.getLong(2)
    }
    val nDocs = cnt(CountDim)
    require(nDocs > 0, "LangModel.fit on an empty corpus")
    (0 until NDims).foreach(d => mu(d) = tdiv(sx(d), nDocs))
    val muArr = array(mu.toSeq.map(lit): _*)
    val devs = raw.groupBy(col("d"))
      .agg(sum(abs(col("x") - element_at(muArr, (col("d") + 1).cast("int"))))
        .as("sdev")).collect()
    val mad = new Array[Long](NDims)
    devs.foreach { r =>
      val d = r.getLong(0).toInt
      mad(d) = (r.getLong(1) + (nDocs - cnt(d)) * math.abs(mu(d))) / nDocs
    }
    val z0 = Array.tabulate(NDims) { d =>
      if (d == Bias) BiasZ else tdiv((0L - mu(d)) * 1000L, mad(d) + 1L)
    }
    (standardizeCols(raw, mu, mad, z0), z0, mu, mad)
  }

  /** Per-doc margins for ALL K classes in one aggregate: columns
    * `__m0..__m{K−1}` (dense parts folded into per-class constants).
    */
  private def marginsOf(zy: DataFrame, w: Array[Array[Long]],
      z0: Array[Long]): DataFrame = {
    // per-class weights AND the folded dense constant in ONE
    // array-literal reference (slot NDims+1 = C_k) — constant generated
    // source across rounds (the QualityModel discipline)
    val aggs = w.indices.map { k =>
      val c = (0 until NDims).map(d => w(k)(d) * z0(d)).sum
      val wc = lit(w(k) :+ c)
      (sum(element_at(wc, (col("d") + 1).cast("int")) * col("dz"))
        + element_at(wc, lit(NDims + 1)))
        .as(s"__m$k")
    }
    zy.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The one-vs-rest averaged-perceptron loop; returns the K averaged
    * weight vectors in `langs` order.
    */
  private def trainAveraged(zy: DataFrame, labels: DataFrame,
      langs: IndexedSeq[String], z0: Array[Long]): Array[Array[Long]] = {
    val K = langs.size
    val w = Array.fill(K)(new Array[Long](NDims))
    val wavg = Array.fill(K)(new Array[Long](NDims))
    for (it <- 1 to Iters) {
      // all K margins in one pass, then the misclassified (doc, class)
      // rows: y_k = +1 iff the doc's declared lang is class k
      val kStructs = array(langs.indices.map(k =>
        struct(lit(k.toLong).as("k"),
          when(col("lang") === langs(k), 1L).otherwise(-1L).as("y"),
          col(s"__m$k").as("m"))): _*)
      val mis = marginsOf(zy, w, z0).join(labels, "doc_id")
        .select(col("doc_id"), explode(kStructs).as("e"))
        .filter(col("e.y") * col("e.m") <= 0L)
        .select(col("doc_id").as("__mid"), col("e.k").as("__k"),
          col("e.y").as("__my"))
      // ONE (class, dim)-keyed aggregate + collect per round (was: mis
      // checkpoint + per-class scalar collect + per-dim collect = 3
      // jobs): the per-(k, d) rows carry the sparse update Σ_mis y·dz,
      // and the always-present gram-count stat dim doubles as the
      // per-(doc, class) marker — its row count is n_mis(k) and its Σy
      // is the dense update's per-class scalar. ≤ K·NDims rows collected.
      val upd = 
        zy.join(mis, col("doc_id") === col("__mid"))
        .groupBy(col("__k"), col("d"))
        .agg(sum(col("__my") * col("dz")).as("dw"),
          count(lit(1)).as("cnt"), sum(col("__my")).as("sym")).collect()
      val nMis = new Array[Long](K)
      val sy = new Array[Long](K)
      upd.foreach { r =>
        if (r.getLong(1) == CountDim.toLong) {
          val k = r.getLong(0).toInt
          nMis(k) = r.getLong(3); sy(k) = r.getLong(4)
        }
      }
      if (nMis.exists(_ > 0)) {
        val delta = Array.tabulate(K, NDims)((k, d) => z0(d) * sy(k))
        upd.foreach(r =>
          delta(r.getLong(0).toInt)(r.getLong(1).toInt) += r.getLong(2))
        for (k <- 0 until K if nMis(k) > 0; d <- 0 until NDims)
          w(k)(d) += tdiv(delta(k)(d), nMis(k))
      }
      for (k <- 0 until K; d <- 0 until NDims) wavg(k)(d) += w(k)(d)
    }
    wavg
  }

  private def labelsOf(df: DataFrame, idCol: String,
      langCol: String): (DataFrame, IndexedSeq[String]) = {
    val labels = df.select(col(idCol).as("doc_id"), col(langCol).as("lang"))
    val langs = labels.select(col("lang")).distinct()
      .collect().map(_.getString(0)).sorted.toIndexedSeq
    (labels, langs)
  }

  /** Train on `df` and return the portable model (fit ONCE per corpus
    * — q_langid_train and q_langid_score share the artifact through
    * the per-JVM cache, the qualityModelFor discipline).
    */
  def fit(df: DataFrame, idCol: String, textCol: String,
      langCol: String): Fitted = {
    // materialize the (id, text, lang) projection ONCE: the training
    // corpus may be an expensive derivation (the decoded charset
    // archive), and the fit reads it from labelsOf, the feature pass,
    // and every round's label join — without the cut each of those
    // re-ran the full decode chain (optimization round)
    val corpus = graft.core.Materialize.checkpoint(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        col(langCol).as("lang")))
    val (labels, langs) = labelsOf(corpus, "doc_id", "lang")
    val (zy, z0, mu, mad) = standardized(corpus, "doc_id", "text")
    Fitted(langs, trainAveraged(zy, labels, langs, z0), z0, mu, mad)
  }

  /** The fitted model as its q_langid_train rows — one per (class,
    * dimension): (lang, d, w), bias last.
    */
  def modelRows(s: SparkSession, m: Fitted): DataFrame = {
    import s.implicits._
    (for (k <- m.langs.indices; d <- 0 until NDims)
      yield (m.langs(k), d.toLong, m.w(k)(d))).toDF("lang", "d", "w")
  }

  /** Classify ANY labeled document set with an already-fitted model —
    * (doc_id, lang, lang_pred, agree). Prediction = argmax class
    * margin, ties to the alphabetically first class (mirrored in the
    * oracle's ORDER BY margin DESC, class ASC). Stateless broadcast
    * pass: features standardized with the TRAINING corpus' stats.
    */
  def scoreWith(df: DataFrame, idCol: String, textCol: String,
      langCol: String, m: Fitted): DataFrame = {
    // one materialization of the scored corpus: features and labels both
    // read it (the fit-side cut's serve twin — the margin aggregate and
    // the label join would otherwise each re-run the input derivation).
    // Advisor note (kept deliberately): every harness caller feeds the
    // DECODED CHARSET ARCHIVE (gunzip → WARC framing → charset sniff →
    // decode per record) — a known-expensive derivation that would
    // otherwise run twice; a caller with a cheap pre-materialized input
    // pays one redundant localCheckpoint of rows it already holds, the
    // smaller cost of the two. Checkpointing the narrow feature table
    // instead would leave the LABEL join re-running the decode chain.
    val corpus = graft.core.Materialize.checkpoint(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        col(langCol).as("lang")))
    val labels = corpus.select(col("doc_id"), col("lang"))
    val zy = standardizeCols(
      rawFeatures(corpus, "doc_id", "text"), m.mu, m.mad, m.z0)
    val mg = marginsOf(zy, m.w, m.z0)
    val best = m.langs.indices.map(k => col(s"__m$k")).reduce(greatest(_, _))
    val pred = m.langs.indices.reverse.foldLeft(lit(m.langs.last)) {
      case (els, k) =>
        when(col(s"__m$k") === best, lit(m.langs(k))).otherwise(els)
    }
    mg.join(labels, "doc_id")
      .select(col("doc_id"), col("lang"), pred.as("lang_pred"))
      .withColumn("agree", col("lang") === col("lang_pred"))
  }

  /** q_langid_train (single-shot form; harness callers fit once and
    * use [[modelRows]]/[[scoreWith]]).
    */
  def train(df: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame =
    modelRows(df.sparkSession, fit(df, idCol, textCol, langCol))

  /** q_langid_score (single-shot form). */
  def score(df: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame =
    scoreWith(df, idCol, textCol, langCol, fit(df, idCol, textCol, langCol))

  // ---------------------------------------------------------------------
  // DuckDB mirrors — the same recurrence unrolled, class-keyed; the
  // oracle DENSIFIES (docs × dims × classes is fine at oracle scale)
  // because dense and sparse formulations are algebraically identical
  // in exact integer math (the QualityModel discipline).
  // ---------------------------------------------------------------------

  private def trainCtes(from: String): String = {
    val hash = TextOps.charHashSql("g")
    val base =
      s"""nd AS (SELECT COUNT(*)::BIGINT AS n FROM $from),
          gr AS (SELECT doc_id,
                   list_transform(range(0, greatest(length(text) - ${GramN - 1}, 0)),
                     i -> substring(text, (i + 1)::INT, $GramN)) AS gs
                 FROM $from),
          toks AS (SELECT doc_id, unnest(gs) AS g FROM gr),
          ngr AS (SELECT doc_id, COUNT(*)::BIGINT AS nt FROM toks GROUP BY 1),
          bow AS (SELECT t.doc_id, ($hash) % $GramDims AS d,
                         (COUNT(*) * 1000000) // MAX(ngr.nt) AS x
                  FROM toks t JOIN ngr ON t.doc_id = ngr.doc_id
                  GROUP BY t.doc_id, ($hash) % $GramDims),
          stat AS (SELECT g2.doc_id, ${CountDim}::BIGINT AS d,
                     LEAST(COALESCE(ngr.nt, 0), 1000) * 1000 AS x
                   FROM gr g2 LEFT JOIN ngr ON g2.doc_id = ngr.doc_id),
          sparse AS (SELECT * FROM bow UNION ALL SELECT * FROM stat),
          lab AS (SELECT doc_id, lang FROM $from),
          ks AS (SELECT DISTINCT lang AS k FROM $from),
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
            SELECT l.doc_id, z0.d,
                   CASE WHEN s.x IS NULL THEN z0.z0
                        ELSE ((s.x - z0.mu) * 1000) // (z0.mad + 1) END AS z
            FROM lab l CROSS JOIN z0
            LEFT JOIN sparse s ON s.doc_id = l.doc_id AND s.d = z0.d
            UNION ALL
            SELECT doc_id, ${Bias}::BIGINT, $BiasZ::BIGINT FROM lab),
          yk AS (SELECT l.doc_id, ks.k,
                   CASE WHEN l.lang = ks.k THEN 1 ELSE -1 END::BIGINT AS y
                 FROM lab l CROSS JOIN ks),
          w0 AS (SELECT ks.k, dd.d, 0::BIGINT AS w
                 FROM ks CROSS JOIN
                   (SELECT range::BIGINT AS d FROM range(0, $NDims)) dd)"""
    val rounds = (1 to Iters).map { t =>
      s"""m$t AS (SELECT z.doc_id, w.k, SUM(w.w * z.z)::BIGINT AS margin
                  FROM zden z JOIN w${t - 1} w ON z.d = w.d
                  GROUP BY z.doc_id, w.k),
          mis$t AS (SELECT m.doc_id, m.k, y.y
                    FROM m$t m JOIN yk y ON m.doc_id = y.doc_id AND m.k = y.k
                    WHERE y.y * m.margin <= 0),
          nm$t AS (SELECT k, COUNT(*)::BIGINT AS n FROM mis$t GROUP BY k),
          u$t AS (SELECT mis.k, z.d, SUM(mis.y * z.z)::BIGINT AS dw
                  FROM zden z JOIN mis$t mis ON z.doc_id = mis.doc_id
                  GROUP BY mis.k, z.d),
          w$t AS (SELECT w.k, w.d,
                    (w.w + CASE WHEN COALESCE(nm.n, 0) > 0
                       THEN COALESCE(u.dw, 0) // nm.n ELSE 0 END)::BIGINT AS w
                  FROM w${t - 1} w
                  LEFT JOIN u$t u ON w.k = u.k AND w.d = u.d
                  LEFT JOIN nm$t nm ON w.k = nm.k)"""
    }
    val avg =
      s"""wavg AS (SELECT w1.k, w1.d,
            (${(1 to Iters).map(t => s"w$t.w").mkString(" + ")})::BIGINT AS w
            FROM w1 ${(2 to Iters)
              .map(t => s"JOIN w$t ON w1.k = w$t.k AND w1.d = w$t.d")
              .mkString(" ")})"""
    (base +: rounds :+ avg).mkString(",\n")
  }

  def trainOracleSql(from: String = "documents"): String =
    s"""WITH ${trainCtes(from)}
        SELECT k AS lang, d, w FROM wavg"""

  def scoreOracleSql(from: String = "documents"): String =
    s"""WITH ${trainCtes(from)},
        sc AS (SELECT z.doc_id, w.k, SUM(w.w * z.z)::BIGINT AS margin
               FROM zden z JOIN wavg w ON z.d = w.d GROUP BY z.doc_id, w.k),
        rk AS (SELECT doc_id, k, margin,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY margin DESC, k) AS r
               FROM sc)
        SELECT l.doc_id, l.lang, rk.k AS lang_pred, (l.lang = rk.k) AS agree
        FROM lab l JOIN rk ON l.doc_id = rk.doc_id AND rk.r = 1"""
}
