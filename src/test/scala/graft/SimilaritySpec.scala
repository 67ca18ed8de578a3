package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Banded sign-LSH + precomputed-norm similarity: bit-exactness of the
  * staged-norm cosine, agreement of LSH scores with brute force, and the
  * bucket-population cap (the 100-TB guard: a viral bucket must drop out
  * of candidacy instead of going O(bucket²)).
  */
class SimilaritySpec extends SparkSpec {

  private val rnd = new scala.util.Random(11)
  private def randVec(): Seq[Double] = Seq.fill(Similarity.Dim)(rnd.nextDouble() * 2 - 1)

  private def embDf(vecs: Seq[(Long, Seq[Double])]) = {
    import spark.implicits._
    vecs.toDF("vec_id", "emb")
  }

  // strict left folds, same order as the engine's aggregate()
  private def dot(x: Seq[Double], y: Seq[Double]): Double =
    x.zip(y).foldLeft(0.0)((s, p) => s + p._1 * p._2)
  private def nrm(x: Seq[Double]): Double =
    math.sqrt(x.foldLeft(0.0)((s, v) => s + v * v))

  test("cosineFromNorms (staged norms) == naive left-fold cosine, bit-exact") {
    val a = randVec(); val b = randVec()
    val en = Similarity.withNorm(embDf(Seq((0L, a), (1L, b))))
    val qa = en.filter(col("vec_id") === 0).select(col("emb").as("ea"), col("nrm").as("na"))
    val qb = en.filter(col("vec_id") === 1).select(col("emb").as("eb"), col("nrm").as("nb"))
    val got = qa.crossJoin(qb)
      .select(Similarity.cosineFromNorms(col("ea"), col("eb"), col("na"), col("nb")).as("c"))
      .head().getDouble(0)
    assert(got == dot(a, b) / (nrm(a) * nrm(b)))
  }

  test("dimStats: d rows out, exact integer moments vs a local fold, variance nonneg") {
    val vecs = (0L until 50L).map(id => (id, randVec()))
    val got = Similarity.dimStats(embDf(vecs)).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got.size == Similarity.Dim, s"expected ${Similarity.Dim} dims, got ${got.size}")
    def q(x: Double): Long = math.floor(x * 1000000.0 + 0.5).toLong
    (0 until Similarity.Dim).foreach { d =>
      val xs = vecs.map(_._2(d)).map(q)
      val (cnt, s1, s2, mn, mx) = got(d.toLong)
      assert(cnt == xs.size && s1 == xs.sum && s2 == xs.map(x => x * x).sum &&
        mn == xs.min && mx == xs.max, s"dim $d moments differ")
      // Σx² ≥ (Σx)²/n — the variance the consumer derives is nonnegative
      assert(s2 * cnt >= s1 * s1, s"dim $d negative variance")
    }
  }

  test("standardize: z-scores match a local fold bit-exact; moments of zvec are ~(0,1)") {
    val vecs = (0L until 40L).map(id => (id, randVec()))
    val got = Similarity.standardize(embDf(vecs)).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    assert(got.size == vecs.size)
    // local replica with the SAME op order/rounding as the engine+oracle
    def q(x: Double): Long = math.floor(x * 1000000.0 + 0.5).toLong
    val d = Similarity.Dim
    val stats = (0 until d).map { dim =>
      val xs = vecs.map(v => q(v._2(dim)))
      val cnt = xs.size.toDouble
      val mean = xs.sum.toDouble / cnt / 1000000.0
      val sd = math.sqrt(math.max(
        xs.map(x => x * x).sum.toDouble / cnt / 1.0e12 - mean * mean, 0.0))
      (mean, sd)
    }
    vecs.foreach { case (id, v) =>
      val want = v.indices.map { i =>
        val (m, sd) = stats(i)
        if (sd > 0.0) (v(i) - m) / sd else 0.0
      }
      want.zip(got(id)).zipWithIndex.foreach { case ((w, g), i) =>
        assert(java.lang.Double.doubleToLongBits(w) ==
          java.lang.Double.doubleToLongBits(g), s"vec $id dim $i: $w vs $g")
      }
    }
    // sanity: standardized corpus has ~zero mean, ~unit variance per dim
    val zs = got.values.toSeq
    (0 until d).foreach { i =>
      val col0 = zs.map(_(i))
      val m = col0.sum / col0.size
      val va = col0.map(x => x * x).sum / col0.size - m * m
      // stats are micro-QUANTIZED (floor(x·10⁶+0.5)) while z uses raw x,
      // so the corpus moments carry a ~1e-6-scale quantization residual
      assert(math.abs(m) < 1e-5 && math.abs(va - 1.0) < 1e-4,
        s"dim $i standardized moments off: mean $m var $va")
    }
  }

  test("native vector_dot / vector_sqdist are bit-identical to the HOF left-fold forms") {
    import spark.implicits._
    val rows = (0 until 200).map(_ => (randVec(), randVec())).toDF("a", "b")
    // the exact expressions the natives replaced (Similarity round-6 form)
    val hofDot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val hofSq = aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)
    val got = rows.select(
      graft.functions.VectorOps.vector_dot(col("a"), col("b")).as("nd"), hofDot.as("hd"),
      graft.functions.VectorOps.vector_sqdist(col("a"), col("b")).as("ns"), hofSq.as("hs"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"dot bits differ: ${r.getDouble(0)} vs ${r.getDouble(1)}")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)),
        s"sqdist bits differ: ${r.getDouble(2)} vs ${r.getDouble(3)}")
    }
  }

  test("vector_dot null contract: length mismatch and null element -> NULL, empty -> 0") {
    val r = spark.range(1).select(
      graft.functions.VectorOps.vector_dot(
        expr("array(1.0D, 2.0D)"), expr("array(1.0D)")).as("mismatch"),
      graft.functions.VectorOps.vector_dot(
        expr("array(1.0D, cast(null as double))"), expr("array(1.0D, 2.0D)")).as("nullelem"),
      graft.functions.VectorOps.vector_dot(
        expr("cast(array() as array<double>)"),
        expr("cast(array() as array<double>)")).as("empty"))
      .collect()(0)
    assert(r.isNullAt(0), "length mismatch must be NULL (zip_with parity)")
    assert(r.isNullAt(1), "null element must poison the fold (HOF parity)")
    assert(r.getDouble(2) == 0.0, "empty fold is the zero accumulator")
  }

  test("vector_dot participates in whole-stage codegen (the HOF forms could not)") {
    // parquet-backed input: a local relation would be constant-folded to
    // a LocalTableScan and show no codegen either way
    val df = Similarity.embeddings(spark, "/root/testdata/sf0.001")
      .select(graft.functions.VectorOps.vector_dot(col("emb"), col("emb")).as("d"))
      .filter(col("d") > 0)
    val plan = df.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("vector_dot"))
    assert(line.exists(_.trim.startsWith("*")),
      s"vector_dot did not stay inside WholeStageCodegen:\n$plan")
  }

  test("banded lshTopK scores match independently computed cosines; results non-empty") {
    val vecs = (0L until 40L).map(i => (i, randVec()))
    val byId = vecs.toMap
    val rows = Similarity.lshTopK(embDf(vecs), 5, 3).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, v, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(c == dot(byId(q), byId(v)) / (nrm(byId(q)) * nrm(byId(v))))
    }
    // per-query at most k rows, ranks 1..k
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.length <= 3 && g.map(_.getLong(3)).sorted.sameElements(1L to g.length))
    }
  }

  test("bucket cap: viral bucket drops out of candidacy; post-cap populations bounded") {
    val same = randVec()
    val viral = (0L until 50L).map(i => (i, same))
    val df = embDf(viral)
    // capped at 10: every band bucket holds all 50 identical vectors → dropped
    assert(Similarity.cappedBuckets(Similarity.signatures(df), cap = 10).count() == 0)
    assert(Similarity.lshTopK(df, 5, 3, cap = 10).count() == 0)
    assert(Similarity.cosineNearDupPairs(df, -1.0, cap = 10).count() == 0)
    // default cap keeps them: all C(50,2) identical pairs found
    assert(Similarity.cosineNearDupPairs(df, 0.99).count() == 50L * 49 / 2)
    // mixed population: nothing that survives the cap exceeds it
    val mixed = embDf(viral ++ Seq((100L, randVec()), (101L, randVec())))
    val maxPop = Similarity.cappedBuckets(Similarity.signatures(mixed), cap = 10)
      .groupBy("bucket").count()
      .agg(coalesce(max("count"), lit(0L))).head().getLong(0)
    assert(maxPop <= 10)
  }

  test("IVF topk: scores match independent cosines; per-query at most k ranked results") {
    val vecs = (0L until 60L).map(i => (i, randVec()))
    val byId = vecs.toMap
    val rows = Similarity.ivfTopK(embDf(vecs), 5, 3).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, v, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(v != q)
      assert(c == dot(byId(q), byId(v)) / (nrm(byId(q)) * nrm(byId(v))))
    }
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.length <= 3 && g.map(_.getLong(3)).sorted.sameElements(1L to g.length))
    }
    // more probes can only improve or keep each query's best candidate
    val best1 = Similarity.ivfTopK(embDf(vecs), 5, 1, nProbe = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val best4 = Similarity.ivfTopK(embDf(vecs), 5, 1, nProbe = 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    best1.foreach { case (q, c1) => assert(best4(q) >= c1) }
  }

  test("persisted IVF: incremental append == full rebuild; serve equals in-memory ivfTopK") {
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 60L).map(i => (i, randVec()))
    val sigAll = Similarity.withNorm(embDf(vecs))
    val base = graft.core.Scratch.fresh("ivf_").toString
    // write-once: first 48 vectors; incremental batch: the last 12,
    // assigned against the SAME seeds and appended into their cell dirs
    Similarity.ivfIndexRows(sigAll.filter(col("vec_id") < 48))
      .write.mode("overwrite").partitionBy("cell").parquet(base)
    val idx = graft.operators.Bucketing.appendPartitioned(spark, base,
      Similarity.ivfIndexRows(sigAll).filter(col("vec_id") >= 48), "cell")
    // appended index content == one-shot full build (assignment is
    // per-vector against fixed seeds, so append is exact, not approximate)
    val full = Similarity.ivfIndexRows(sigAll).collect()
      .map(r => (r.getLong(0), r.getInt(3))).sorted.toSeq
    val inc = idx.collect().map(r => (r.getLong(0), r.getInt(3))).sorted.toSeq
    assert(inc == full, "incremental append diverged from full rebuild")
    // serving from the appended index == the in-memory build's results
    val served = Similarity.ivfServe(idx, sigAll, 5, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    val mem = Similarity.ivfTopK(embDf(vecs), 5, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    assert(served == mem, "persisted serve diverged from in-memory ivfTopK")
  }

  test("IVF maintenance loop: retrain publishes atomically, retrained serve == fresh build, append == rebuild") {
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 60L).map(i => (i, randVec()))
    val sig = Similarity.withNorm(embDf(vecs))
    val base = graft.core.Scratch.fresh("ivfmnt_").toString
    // v1 = the seeded build (the write-once layout)
    graft.operators.Bucketing.writeVersion(spark, base,
      Similarity.ivfIndexRows(sig), "cell")
    val (v1, p1) = graft.operators.Bucketing.liveVersion(base).get
    assert(v1 == 1)
    val servedV1 = Similarity.ivfServe(spark.read.parquet(p1), sig, 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    // an in-progress rebuild (directory exists, NO commit marker) must
    // be invisible: the live version stays v1 and serve is unchanged
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(base, "v2"))
    assert(graft.operators.Bucketing.liveVersion(base).get._1 == 1,
      "uncommitted rebuild became visible")

    // retrain: refined centroids, re-partitioned collection, marker
    // last. Writer-writer exclusion: the uncommitted v2 may belong to a
    // CONCURRENT writer (indistinguishable from a dead one), so the
    // retrain must neither write into it nor clobber it — it reserves
    // and publishes v3, and v2 stays empty and uncommitted
    val seeds2 = Similarity.ivfRetrain(spark, base, sig)
    val (v2, p2) = graft.operators.Bucketing.liveVersion(base).get
    assert(v2 == 3, "retrain did not publish past the reserved v2")
    val v2Stream = java.nio.file.Files.list(java.nio.file.Paths.get(base, "v2"))
    try assert(!v2Stream.findFirst().isPresent,
      "retrain wrote into another writer's reserved directory")
    finally v2Stream.close()

    // retrained-index serve == serving a FRESH in-memory build of the
    // same refined centroids (persistence adds nothing, loses nothing)
    val servedRetrained = Similarity.ivfServeWith(
      spark.read.parquet(p2), sig, seeds2, 5, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    val servedFresh = Similarity.ivfServeWith(
      Similarity.ivfIndexRowsWith(sig, seeds2), sig, seeds2, 5, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    assert(servedRetrained == servedFresh,
      "retrained-index serve diverged from fresh-build serve")

    // incremental-vs-rebuild on the RETRAINED layout: append a batch
    // assigned against the same refined centroids == full rebuild
    val sub = Similarity.withNorm(embDf(vecs.filter(_._1 < 48)))
    val incBase = graft.core.Scratch.fresh("ivfinc_").toString
    Similarity.ivfIndexRowsWith(sub, seeds2)
      .write.mode("overwrite").partitionBy("cell").parquet(incBase)
    val inc = graft.operators.Bucketing.appendPartitioned(spark, incBase,
      Similarity.ivfIndexRowsWith(sig, seeds2).filter(col("vec_id") >= 48), "cell")
      .collect().map(r => (r.getLong(0), r.getInt(3))).sorted.toSeq
    val full = Similarity.ivfIndexRowsWith(sig, seeds2)
      .collect().map(r => (r.getLong(0), r.getInt(3))).sorted.toSeq
    assert(inc == full, "incremental append diverged from full rebuild on retrained centroids")
  }

  test("drift-triggered maintenance: bootstrap builds v1, drifted data retrains, loop is idempotent") {
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 60L).map(i => (i, randVec()))
    val sig = Similarity.withNorm(embDf(vecs))
    val base = graft.core.Scratch.fresh("ivfdrift_").toString

    // no live version → bootstrap build regardless of threshold
    val (seeds1, p1) = Similarity.maintainIvf(spark, base, sig,
      driftThresholdPpm = Long.MaxValue)
    assert(p1.isDefined && graft.operators.Bucketing.liveVersion(base).get._1 == 1)
    // a layout partitioned by exactly these seeds measures ZERO drift…
    assert(Similarity.ivfDriftPpm(spark.read.parquet(p1.get), seeds1) == 0L)
    // …so an immediate second call publishes nothing (idempotence), even
    // at a hair-trigger threshold of 1 ppm
    val (_, p2) = Similarity.maintainIvf(spark, base, sig, driftThresholdPpm = 1L)
    assert(p2.isEmpty, "maintenance retrained a zero-drift index")
    assert(graft.operators.Bucketing.liveVersion(base).get._1 == 1)

    // the data drifts: a much larger collection re-shapes the refined
    // centroids, so stored assignments go stale → the trigger fires
    val vecs2 = vecs ++ (60L until 240L).map(i => (i, randVec()))
    val sig2 = Similarity.withNorm(embDf(vecs2))
    val (seeds3, p3) = Similarity.maintainIvf(spark, base, sig2, driftThresholdPpm = 1L)
    assert(p3.isDefined, "drifted data did not trigger a retrain")
    assert(graft.operators.Bucketing.liveVersion(base).get._1 == 2)
    // the retrained layout serves identically to a fresh build on the
    // same refined centroids, and the loop settles: drift back to 0
    assert(Similarity.ivfDriftPpm(spark.read.parquet(p3.get), seeds3) == 0L)
    val (_, p4) = Similarity.maintainIvf(spark, base, sig2, driftThresholdPpm = 1L)
    assert(p4.isEmpty && graft.operators.Bucketing.liveVersion(base).get._1 == 2)
  }

  test("persisted IVF-PQ: appended rows == full rebuild; staged serve equals in-memory ivfPqTopK") {
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 60L).map(i => (i, randVec()))
    val sig = Similarity.withNorm(embDf(vecs))
    val base = graft.core.Scratch.fresh("ivfpq_").toString
    // write-once: first 48 vectors; incremental: a GENUINE batch-only
    // append — only the 12 arriving rows flow through ivfPqIndexRowsWith
    // against the index's ORIGINAL seeds + codebook (deriving geometry
    // from the batch itself would assign against foreign centroids, or
    // an empty seed set when the batch lacks low ids — zero rows
    // appended, silent data loss)
    Similarity.ivfPqIndexRows(sig.filter(col("vec_id") < 48))
      .write.mode("overwrite").partitionBy("cell").parquet(base)
    val origSeeds = sig.filter(col("vec_id") < Similarity.NumCells)
      .select(col("vec_id").as("sid"), col("emb").as("s_emb"), col("nrm").as("s_nrm"))
    val origCb = Similarity.pqCodebook(sig)
    val idx = graft.operators.Bucketing.appendPartitioned(spark, base,
      Similarity.ivfPqIndexRowsWith(
        sig.filter(col("vec_id") >= 48), origSeeds, origCb), "cell")
    val full = Similarity.ivfPqIndexRows(sig).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getInt(2))).sortBy(_._1).toSeq
    val inc = idx.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getInt(2))).sortBy(_._1).toSeq
    assert(inc == full, "incremental append diverged from full rebuild")
    val served = Similarity.ivfPqServe(idx, sig, 5, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    val mem = Similarity.ivfPqTopK(embDf(vecs), 5, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    assert(served == mem, "persisted IVF-PQ serve diverged from in-memory ivfPqTopK")
  }

  test("persisted PQ: appended codes == full rebuild; staged serve equals in-memory pqRerankTopK") {
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 60L).map(i => (i, randVec()))
    val sig = Similarity.withNorm(embDf(vecs))
    val cbDir = graft.core.Scratch.fresh("pqcb_").toString
    val codesDir = graft.core.Scratch.fresh("pqcodes_").toString
    Similarity.pqCodebook(sig).withColumn("sub", col("sub").cast("int"))
      .write.mode("overwrite").partitionBy("sub").parquet(cbDir)
    // write-once: codes of the first 48 vectors; incremental batch: the
    // last 12, assigned against the SAME first-k codebook and appended
    Similarity.pqCodes(sig.filter(col("vec_id") < 48))
      .withColumn("sub", col("sub").cast("int"))
      .write.mode("overwrite").partitionBy("sub").parquet(codesDir)
    val codesIdx = graft.operators.Bucketing.appendPartitioned(spark, codesDir,
      Similarity.pqCodes(sig).filter(col("vec_id") >= 48)
        .withColumn("sub", col("sub").cast("int")), "sub")
    // the 48-vector build trains its codebook on the subset, but the
    // first PqK=8 vectors all sit below 48, so the codewords are
    // IDENTICAL and append is exact, not approximate.
    // read-back column order: (vec_id, code) + partition col `sub` LAST
    // (int) — normalize both sides to (vec_id, sub, code)
    val full = Similarity.pqCodes(sig).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val inc = codesIdx.collect()
      .map(r => (r.getLong(0), r.getInt(2).toLong, r.getLong(1))).sorted.toSeq
    assert(inc == full, "incremental append diverged from full rebuild")
    val served = Similarity.pqServeRerank(codesIdx,
      spark.read.parquet(cbDir), sig, 5, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    val mem = Similarity.pqRerankTopK(embDf(vecs), 5, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    assert(served == mem, "persisted PQ serve diverged from in-memory pqRerankTopK")
  }

  test("ANN recall@3 vs brute force stays above the documented floor (clustered fixture)") {
    // clustered data — the workload ANN exists for; on uniform-random
    // vectors neither LSH nor IVF carries signal and recall is undefined
    // as a quality bar. 8 clusters x 25 points, noise << center scale.
    val crnd = new scala.util.Random(7)
    val centers = Seq.fill(8)(Seq.fill(Similarity.Dim)(crnd.nextDouble() * 2 - 1))
    val vecs = (0L until 200L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(_ + (crnd.nextDouble() * 2 - 1) * 0.15))
    }
    val df = embDf(vecs)
    val nQ = 8; val k = 3
    def topSets(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val bf = topSets(Similarity.bruteForceTopK(df, nQ, k).collect())
    def recall(approx: Map[Long, Set[Long]]): Double =
      bf.map { case (q, t) => approx.getOrElse(q, Set.empty[Long]).intersect(t).size.toDouble / k }
        .sum / bf.size
    val lshRecall = recall(topSets(Similarity.lshTopK(df, nQ, k).collect()))
    val ivfRecall = recall(topSets(Similarity.ivfTopK(df, nQ, k).collect()))
    val pqRerank = recall(topSets(Similarity.pqRerankTopK(df, nQ, k).collect()))
    val ivfPq = recall(topSets(Similarity.ivfPqTopK(df, nQ, k).collect()))
    // PQ's actual guarantee is the SHORTLIST, not direct ADC ranking:
    // same-cluster candidates share all m codes and tie on adist (direct
    // ADC top-3 recall here measures 0.125) — so assert (a) truth lands
    // in the ADC shortlist, (b) the two-stage re-rank recovers it
    val shortlist = topSets(Similarity.pqAdcTopK(df, nQ, 32).collect())
    val shortRecall = recall(shortlist)
    info(f"recall@3: lsh=$lshRecall%.3f ivf=$ivfRecall%.3f " +
      f"pq_short=$shortRecall%.3f pq_rerank=$pqRerank%.3f")
    // floors: measured lsh=0.833, ivf=1.000, pq_short=1.000,
    // pq_rerank=1.000 on this seed (deterministic); asserted with
    // headroom so a constants change that genuinely destroys recall
    // fails loudly while benign jitter does not
    assert(lshRecall >= 0.75, f"LSH recall@3 $lshRecall%.3f < 0.75")
    assert(ivfRecall >= 0.75, f"IVF recall@3 $ivfRecall%.3f < 0.75")
    assert(shortRecall >= 0.9, f"PQ shortlist recall@3 $shortRecall%.3f < 0.9")
    assert(pqRerank >= 0.75, f"PQ rerank recall@3 $pqRerank%.3f < 0.75")
    // composed index: the cell pruning can only drop candidates the IVF
    // alone would also drop, and the re-rank recovers the rest — the
    // combined recall must hold the same floor (measured 1.000)
    info(f"recall@3: ivfpq=$ivfPq%.3f")
    assert(ivfPq >= 0.75, f"IVF-PQ recall@3 $ivfPq%.3f < 0.75")
  }

  test("pqCodes: m codes per vector in [0,k); seed vectors encode to themselves") {
    val vecs = (0L until 40L).map(i => (i, randVec()))
    val rows = Similarity.pqCodes(embDf(vecs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val m = Similarity.PqM; val k = Similarity.PqK
    assert(rows.length == vecs.length * m)
    assert(rows.forall { case (_, sub, code) =>
      sub >= 0 && sub < m && code >= 0 && code < k })
    // each (vec, sub) appears exactly once
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length)
    // a codebook seed's sub-slice is distance 0 from its own codeword
    rows.filter(_._1 < k).foreach { case (v, _, code) => assert(code == v) }
  }

  test("embedOutliers: planted far vectors rank first in their labels; rank cut respected") {
    import spark.implicits._
    val base = Seq(1.0, 0.5, -0.5, 0.25)
    def near(i: Int): Seq[Double] = base.map(_ + i * 0.01)
    val a = (0L until 9L).map(i => (i, 0L, near(i.toInt)))
    val plantedA = Seq((9L, 0L, Seq(-1.0, -0.5, 0.5, -0.25)))   // opposite direction
    val b = (10L until 19L).map(i => (i, 1L, near(i.toInt)))
    val plantedB = Seq((19L, 1L, Seq(5.0, 5.0, 5.0, 5.0)))      // different direction
    val df = (a ++ plantedA ++ b ++ plantedB).toDF("vec_id", "label", "emb")
    val out = Similarity.embedOutliers(df, 1).collect()
      .map(r => r.getAs[Long]("label") -> r.getAs[Long]("vec_id")).toMap
    assert(out == Map(0L -> 9L, 1L -> 19L), s"got $out")
    val top3 = Similarity.embedOutliers(df, 3).collect()
    assert(top3.length == 6 && top3.forall(_.getAs[Long]("rnk") <= 3L))
  }

  test("quantizeInt8: values land in [-127,127], round-trip error bounded, zero vector safe") {
    val vecs = Seq(
      (0L, randVec()),
      (1L, randVec().map(_ * 1e-3)),          // small-magnitude vector
      (2L, Seq.fill(Similarity.Dim)(0.0)))    // all-zero vector
    val got = Similarity.quantizeInt8(embDf(vecs)).collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getSeq[Int](2)))).toMap
    vecs.foreach { case (id, v) =>
      val (scale, q) = got(id)
      val maxAbs = v.foldLeft(0.0)((a, x) => math.max(a, math.abs(x)))
      if (maxAbs == 0.0) {
        assert(scale == 0.0 && q.forall(_ == 0))
      } else {
        assert(scale == 127.0 / maxAbs)
        assert(q.forall(x => x >= -127 && x <= 127))
        // dequantized round-trip within half a quantization step
        v.zip(q).foreach { case (x, qi) =>
          assert(math.abs(qi / scale - x) <= 0.5 / scale + 1e-12,
            s"vec $id: $x -> $qi (scale $scale)")
        }
        // the max-magnitude element hits ±127 exactly
        assert(q.map(math.abs).max == 127)
      }
    }
  }

  test("labelCentroids: per-label dim sums equal the fold over quantized vectors") {
    import org.apache.spark.sql.functions.lit
    val vecs = (0L until 12L).map(i => (i, randVec()))
    val df = embDf(vecs).withColumn("label", (col("vec_id") % 3).cast("int"))
    val quant = Similarity.quantizeInt8(df.select(col("vec_id"), col("emb"))).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    val got = Similarity.labelCentroids(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    (0L until 3L).foreach { lbl =>
      val members = vecs.map(_._1).filter(_ % 3 == lbl)
      (0 until Similarity.Dim).foreach { d =>
        val expected = (members.map(quant(_)(d).toLong).sum, members.size.toLong)
        assert(got((lbl, d.toLong)) === expected, s"label $lbl dim $d")
      }
    }
    assert(got.size === 3 * Similarity.Dim)
  }

  test("planes are parameterized: 32 planes as 4x8-bit bands") {
    val df = embDf(Seq((0L, randVec())))
    val cols = Similarity.bandBucketCols(col("emb"), numPlanes = 32, bandBits = 8)
    assert(cols.length == 4)
    val bkts = df.select(array(cols: _*).as("bkts")).head().getSeq[String](0)
    assert(bkts.length == 4 && bkts.zipWithIndex.forall { case (s, i) =>
      s.matches(s"$i\\|\\d+")
    })
    // and the SQL builder emits the same number of band expressions
    assert(Similarity.bandBucketSqls("emb", numPlanes = 32, bandBits = 8).length == 4)
  }

  test("kmeansStep: every vector in exactly one cell per dim; accumulators bounded") {
    val n = 120
    val vecs = (0L until n.toLong).map(i => (i, randVec()))
    val rows = Similarity.kmeansStep(embDf(vecs), nCells = 8).collect()
    // (cell, dim) keys unique; per-dim member counts partition the collection
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length == rows.length)
    rows.groupBy(_.getLong(1)).foreach { case (dim, rs) =>
      assert(rs.map(_.getLong(3)).sum == n, s"dim $dim counts must sum to $n")
    }
    // int8 accumulator bound: |qsum| <= 127 * cnt
    rows.foreach(r => assert(math.abs(r.getLong(2)) <= 127L * r.getLong(3)))
    // all 8 cells live (each seed assigns to itself at cosine 1)
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq == (0L until 8L))
  }

  test("semDedup: keep-first contract — dropped iff a lower-id same-cell neighbor is near") {
    val tau = 0.95
    // 30 base vectors, each followed by a near-copy (tiny perturbation):
    // cos(base, copy) ~ 1 >> tau, cos between distinct bases ~ 0 << tau
    val pairs = (0 until 30).map { i =>
      val v = randVec()
      (2L * i, v, 2L * i + 1, v.map(x => x + 0.02 * rnd.nextDouble()))
    }
    val vecs = pairs.flatMap(p => Seq((p._1, p._2), (p._3, p._4)))
    val emb = embDf(vecs)
    val survivors = Similarity.semDedup(emb, tau, nCells = 4)
      .collect().map(_.getLong(0)).toSet
    val cells = Similarity.cellAssign(Similarity.withNorm(emb), nCells = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vmap = vecs.toMap
    def cos(a: Seq[Double], b: Seq[Double]) = dot(a, b) / (nrm(a) * nrm(b))
    def hasLowerNear(v: Long): Boolean = vecs.map(_._1).exists(u =>
      u < v && cells(u) == cells(v) && cos(vmap(u), vmap(v)) >= tau)
    val ids = vecs.map(_._1)
    val dropped = ids.filterNot(survivors)
    assert(dropped.nonEmpty, "planted near-copies must cause drops")
    dropped.foreach(v => assert(hasLowerNear(v),
      s"$v dropped without a lower-id near neighbor in cell ${cells(v)}"))
    survivors.foreach(v => assert(!hasLowerNear(v),
      s"$v survived despite a lower-id near neighbor in cell ${cells(v)}"))
  }

  private def embLDf(vecs: Seq[(Long, Int, Seq[Double])]) = {
    import spark.implicits._
    vecs.toDF("vec_id", "label", "emb")
  }

  test("hardNegatives: never returns a same-label vector; ranks match driver-side brute force") {
    val vecs = (0L until 12L).map(i => (i, (i % 3).toInt, randVec()))
    val got = Similarity.hardNegatives(embLDf(vecs), nQ = 3, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), r.getLong(5)))
    assert(got.forall { case (_, ql, _, nl, _, _) => ql != nl }, "same-label leak")
    // independent brute force over the same doubles
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Seq[Double], b: Seq[Double]) =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val vm = vecs.map(v => v._1 -> v).toMap
    for (q <- 0L until 3L) {
      val want = vecs.filter(v => v._1 != q && v._2 != vm(q)._2)
        .map(v => (v._1, cos(vm(q)._3, v._3)))
        .sortBy { case (id, c) => (-c, id) }.take(2).map(_._1)
      val mine = got.filter(_._1 == q).sortBy(_._6).map(_._3).toSeq
      assert(mine == want, s"q=$q mine=$mine want=$want")
    }
  }

  test("knnClassify: clean clusters classify correctly; a planted mislabel is voted down") {
    // two tight clusters; vec 2 sits in cluster A but carries label 1
    val base = randVec()
    val other = randVec()
    def near(v: Seq[Double], eps: Double, salt: Int) = {
      val r = new scala.util.Random(salt)
      v.map(_ + (r.nextDouble() - 0.5) * eps)
    }
    val vecs =
      Seq((0L, 0, near(base, 0.01, 1)), (1L, 0, near(base, 0.01, 2)),
        (2L, 1, near(base, 0.01, 3)), (3L, 0, near(base, 0.01, 4)),
        (4L, 0, near(base, 0.01, 5))) ++
      (10L until 15L).map(i => (i, 1, near(other, 0.01, i.toInt)))
    val got = Similarity.knnClassify(embLDf(vecs), nQ = 5, k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got.size == 5)
    // queries 0,1,3,4: all 3 nearest are cluster-A; majority label 0 = true
    Seq(0L, 1L, 3L, 4L).foreach { q =>
      val (t, p, _, ok) = got(q)
      assert(t == 0 && p == 0 && ok, s"q=$q got ${got(q)}")
    }
    // the planted mislabel: neighborhood votes 0, its own label is 1
    val (t2, p2, v2, ok2) = got(2L)
    assert(t2 == 1 && p2 == 0 && v2 == 3L && !ok2, s"mislabel row ${got(2L)}")
  }

  test("annRecall: exhaustive probing recovers exact top-k; recall sum is monotone in nProbe") {
    val vecs = (0L until 48L).map(i => (i, randVec()))
    val emb = embDf(vecs)
    // shortlist must COVER the collection for the exhaustive identity:
    // probing every cell still prunes to the ADC shortlist, and an
    // approximate ranking can push a true neighbor past position 32
    val got = Similarity.annRecall(emb, nQ = 6, kNN = 3,
      probes = Seq(1, Similarity.NumCells), shortlist = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every (query, probe) pair present, n_hit within [0, k]
    assert(got.size == 12)
    assert(got.values.forall(h => h >= 0L && h <= 3L))
    // probing EVERY cell with a collection-covering shortlist is brute
    // force — recall must be exactly k for every query
    (0L until 6L).foreach { q =>
      assert(got((q, Similarity.NumCells.toLong)) == 3L,
        s"exhaustive probe missed neighbors for q=$q")
    }
    // more probes can only widen the candidate set: total hits monotone
    val s1 = (0L until 6L).map(q => got((q, 1L))).sum
    val sAll = (0L until 6L).map(q => got((q, Similarity.NumCells.toLong))).sum
    assert(s1 <= sAll)
  }

  test("streaming ingest: serve-during-append atomicity on the versioned layout; drift gate fires mid-stream and never touches the pinned version") {
    import org.apache.spark.sql.functions.col
    // 60 → 240: the 4x growth that provably re-shapes the refined
    // centroids (the exact recipe of the drift-triggered maintenance
    // test above — stored assignments go stale, the mid-stream gate
    // MUST fire; a smaller bootstrap leaves 1-2-member cells whose
    // self-weighted means are too sticky to ever reassign)
    val vecs = (0L until 240L).map(i => (i, randVec()))
    val sig = Similarity.withNorm(embDf(vecs))
    val initial = sig.filter(col("vec_id") < 60)
    val origSeeds = initial.filter(col("vec_id") < Similarity.NumCells)
      .select(col("vec_id").as("sid"), col("emb").as("s_emb"), col("nrm").as("s_nrm"))
    val origCb = Similarity.pqCodebook(initial)
    val pqBase = graft.core.Scratch.fresh("ingest_pq_").toString
    val ivfBase = graft.core.Scratch.fresh("ingest_ivf_").toString
    Bucketing.writeVersion(spark, pqBase,
      Similarity.ivfPqIndexRowsWith(initial, origSeeds, origCb), "cell")
    val servePath = Bucketing.liveVersion(pqBase).get._2
    Similarity.maintainIvf(spark, ivfBase, initial)
    val ivfV0 = Bucketing.liveVersion(ivfBase).get._1
    // a serve RESOLVED before any append must keep returning the
    // pre-append result even when executed later: read.parquet snapshots
    // the file listing at plan time — the "never mid-request" half of
    // version pinning (an in-flight request sees one consistent index)
    val preAppendServe = Similarity.ivfPqServe(
      spark.read.parquet(servePath), sig, 5, 3)
    val preRows = preAppendServe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    import spark.implicits._
    val arriving = sig.filter(col("vec_id") >= 60)
      .select(col("vec_id"), col("emb"), col("nrm"))
      .as[(Long, Seq[Double], Double)].collect().sortBy(_._1).toSeq
    var grown = initial
    var fired = 0
    val ingest = graft.streaming.StreamExec.StreamSink.ForeachBatch { (batch, _) =>
      val b = batch.toDF("vec_id", "emb", "nrm")
      Bucketing.appendPartitioned(spark, servePath,
        Similarity.ivfPqIndexRowsWith(b, origSeeds, origCb), "cell")
      grown = grown.unionByName(b).localCheckpoint()
      // hair trigger so the publish path provably exercises mid-stream
      // (the production threshold fires on real drift, not every batch)
      if (Similarity.maintainIvf(spark, ivfBase, grown,
          driftThresholdPpm = 1L)._2.isDefined) fired += 1
      ()
    }
    graft.streaming.StreamExec.runStreamingAppend[(Long, Seq[Double], Double)](
      spark, arriving, _.toDF(), quantum = arriving.size / 2 + 1, sink = ingest)
    assert(fired >= 1, "drift gate never fired mid-stream")
    // maintenance published NEW versions of ITS base only: the pinned
    // serving version still carries its own commit sentinel and the
    // serving base never grew a second version
    assert(Bucketing.liveVersion(ivfBase).get._1 > ivfV0)
    assert(Bucketing.liveVersion(pqBase).get._2 == servePath,
      "maintenance disturbed the pinned serving version")
    // the pre-append plan still answers from its snapshot
    val preAgain = preAppendServe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    assert(preAgain == preRows, "in-flight serve observed appended files")
    // a serve resolved AFTER the stream sees initial + appends == the
    // full rebuild (append ≡ rebuild on the pinned version)
    val post = Similarity.ivfPqServe(spark.read.parquet(servePath), sig, 5, 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    val mem = Similarity.ivfPqTopK(embDf(vecs), 5, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    assert(post == mem, "post-ingest serve diverged from full rebuild")
  }
}
