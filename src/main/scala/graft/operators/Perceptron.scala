package graft.operators

import org.apache.spark.sql._
import org.apache.spark.sql.functions._

/** The integer-exact averaged perceptron both trained classifiers run
  * ([[QualityModel]] is its K = 1 case, [[LangModel]] its K-class
  * one-vs-rest case). A model supplies only its sparse raw feature table
  * and its class labels; standardization, margins and training live here
  * once.
  *
  * Raw table: (doc_id, d, x, y). Entries x ≥ 0 on dims 0..nDims−2, the
  * document's label `y` on every row, and one always-present COUNT dim
  * with exactly one row per document (it doubles as the per-doc marker
  * below). Dim nDims−1 is the bias: it never appears in the table, its z
  * is the constant [[BiasZ]].
  *
  * Standardization: per-dim mean and MEAN-ABSOLUTE-DEVIATION, both
  * truncating integer division (σ would need a square root no two
  * engines floor identically). Spark's `div`, DuckDB's `//` and Java `/`
  * all truncate toward zero (spec-pinned), so the unrolled DuckDB
  * mirrors hash-match the weights exactly.
  *
  * Learning rule: AVERAGED BATCH PERCEPTRON, one-vs-rest — the
  * integer-exact member of the linear-classifier family (logistic's
  * sigmoid cannot be reproduced bit-for-bit across engines). Round t:
  * every doc's K margins under w(t−1); (doc, k) is misclassified when
  * y_k·margin_k ≤ 0; update w_k += Σ_mis y_k·z ÷ n_mis(k) (truncating);
  * the OUTPUT model is Σ_t w_t. Averaging is what makes the batch rule
  * stable: the raw final iterate oscillates between the class majorities.
  *
  * Scale shape:
  *  - the sparse raw table is partitioned on doc_id and CHECKPOINTED
  *    once; per-round work never re-derives features;
  *  - absent entries standardize to a PER-DIM CONSTANT z0, so margins and
  *    updates stay SPARSE: margin = C + Σ_present w_d·(z_d−z0_d) with
  *    C = Σ_d w_d·z0_d folded on the driver, and the dense part of the
  *    update collapses to z0_d · Σ_mis y;
  *  - each round is ONE action: the per-doc margin aggregate (no
  *    exchange, the table is already partitioned on doc_id), a
  *    co-partitioned join against the misclassified (doc, class) set, and
  *    one ≤ K·nDims-key aggregate collected once (the count dim's rows
  *    carry n_mis(k) and Σy, so they ride the same collect);
  *  - rounds are FIXED, so the whole train is O(iters · corpus) and the
  *    driver holds K·nDims Longs.
  *
  * Reference cell: conduino's fold/scan sink family
  * (Data/Conduino/Combinators.hs:437-471) — a training round is a
  * corpus-wide fold whose accumulator is the weight matrix.
  */
object Perceptron {

  /** z value of the bias dimension (the last one) for every doc. */
  val BiasZ = 1000L

  /** A standardized feature table — (doc_id, d, y, dz), a projection over
    * the checkpointed raw table — and the statistics that define it.
    */
  final case class Standardized(zy: DataFrame, mu: Array[Long],
                                mad: Array[Long], z0: Array[Long])

  /** Slot `d` of an array literal (element_at is 1-based). */
  private def atDim(arr: Column): Column = element_at(arr, (col("d") + 1).cast("int"))

  /** Checkpoint the raw (doc_id, d, x, y) table on doc_id and standardize
    * it: one collect for the per-dim sums and counts (nDocs is the count
    * dim's row count), one for the absolute deviations.
    */
  def standardize(raw: DataFrame, nDims: Int, countDim: Int,
      model: String): Standardized = {
    val cut = graft.core.Materialize.checkpoint(raw.repartition(col("doc_id")))
    val sx = new Array[Long](nDims)
    val cnt = new Array[Long](nDims)
    cut.groupBy(col("d")).agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
      .collect().foreach { r =>
        val d = r.getLong(0).toInt
        sx(d) = r.getLong(1); cnt(d) = r.getLong(2)
      }
    val nDocs = cnt(countDim)
    require(nDocs > 0, s"$model.fit on an empty corpus")
    val mu = sx.map(_ / nDocs)
    // absent entries deviate by |mu| each
    val mad = new Array[Long](nDims)
    cut.groupBy(col("d")).agg(sum(abs(col("x") - atDim(lit(mu)))).as("sdev"))
      .collect().foreach { r =>
        val d = r.getLong(0).toInt
        mad(d) = (r.getLong(1) + (nDocs - cnt(d)) * math.abs(mu(d))) / nDocs
      }
    val z0 = Array.tabulate(nDims) { d =>
      if (d == nDims - 1) BiasZ else (0L - mu(d)) * 1000L / (mad(d) + 1L)
    }
    Standardized(standardizeCols(cut, mu, mad, z0), mu, mad, z0)
  }

  /** The ONE standardization projection, raw (doc_id, d, x, y) →
    * (doc_id, d, y, dz) under given statistics — training and serve
    * share it, so the two paths cannot drift.
    */
  def standardizeCols(raw: DataFrame, mu: Array[Long], mad: Array[Long],
      z0: Array[Long]): DataFrame =
    // lit(Array[Long]), never array(lit, lit, …): an ArrayType literal
    // rides the generated code as a REFERENCE object, so the generated
    // source is identical across rounds and fits and the whole-stage
    // codegen (Janino) cache hits
    raw.select(col("doc_id"), col("d"), col("y"),
      ((col("x") - atDim(lit(mu))) * 1000L).cast("long").as("__num"),
      (atDim(lit(mad)) + 1L).as("__den"),
      atDim(lit(z0)).as("__z0"))
      .select(col("doc_id"), col("d"), col("y"),
        (expr("__num div __den") - col("__z0")).as("dz"))

  /** Per-(doc_id, y) margins under K weight vectors in ONE aggregate:
    * columns `__m0..__m{K−1}`. Each class's weights and its folded dense
    * constant C_k (slot nDims+1) enter as one array literal, so the
    * generated source does not change with the weights.
    */
  def margins(zy: DataFrame, w: Seq[Array[Long]], z0: Array[Long]): DataFrame = {
    val nDims = z0.length
    val aggs = w.indices.map { k =>
      val c = (0 until nDims).map(d => w(k)(d) * z0(d)).sum
      val wc = lit(w(k) :+ c)
      (sum(atDim(wc) * col("dz")) + element_at(wc, lit(nDims + 1))).as(s"__m$k")
    }
    zy.groupBy(col("doc_id"), col("y")).agg(aggs.head, aggs.tail: _*)
  }

  /** The one-vs-rest averaged-perceptron loop over a standardized table:
    * `classes(k)` is class k's ±1 label as an expression over `y`.
    * Returns the K averaged weight vectors (bias last).
    */
  def train(zy: DataFrame, classes: IndexedSeq[Column], z0: Array[Long],
      countDim: Int, iters: Int): Array[Array[Long]] = {
    val nDims = z0.length
    val nK = classes.size
    val w = Array.fill(nK)(new Array[Long](nDims))
    val wavg = Array.fill(nK)(new Array[Long](nDims))
    val perClass = array(classes.indices.map(k =>
      struct(lit(k.toLong).as("k"), classes(k).as("y"), col(s"__m$k").as("m"))): _*)
    for (_ <- 1 to iters) {
      val mis = margins(zy, w.toSeq, z0)
        .select(col("doc_id"), explode(perClass).as("e"))
        .filter(col("e.y") * col("e.m") <= 0L)
        .select(col("doc_id").as("__mid"), col("e.k").as("__k"),
          col("e.y").as("__my"))
      // per (class, dim): the sparse update Σ_mis y·dz; the count dim's
      // row count is n_mis(k) and its Σy the dense update's scalar
      val upd = zy.join(mis, col("doc_id") === col("__mid"))
        .groupBy(col("__k"), col("d"))
        .agg(sum(col("__my") * col("dz")).as("dw"),
          count(lit(1)).as("cnt"), sum(col("__my")).as("sy")).collect()
      val nMis = new Array[Long](nK)
      val sy = new Array[Long](nK)
      upd.foreach { r =>
        if (r.getLong(1) == countDim.toLong) {
          val k = r.getLong(0).toInt
          nMis(k) = r.getLong(3); sy(k) = r.getLong(4)
        }
      }
      val delta = Array.tabulate(nK, nDims)((k, d) => z0(d) * sy(k))
      upd.foreach(r => delta(r.getLong(0).toInt)(r.getLong(1).toInt) += r.getLong(2))
      for (k <- 0 until nK if nMis(k) > 0; d <- 0 until nDims)
        w(k)(d) += delta(k)(d) / nMis(k)
      for (k <- 0 until nK; d <- 0 until nDims) wavg(k)(d) += w(k)(d)
    }
    wavg
  }
}
