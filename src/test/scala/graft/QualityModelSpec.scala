package graft

import org.apache.spark.sql.functions._
import graft.operators.QualityModel

/** The trained quality classifier: integer-exactness preconditions,
  * determinism, and the does-it-actually-learn gate (a model stuck at
  * the class-majority floor would still hash-match a broken oracle —
  * this spec pins REAL agreement, which no oracle mirror can).
  */
class QualityModelSpec extends SparkSpec {

  test("div semantics: Spark `div` truncates toward zero, like DuckDB `//` and Java `/`") {
    // the whole cross-engine weight hash rests on this (negative
    // standardized features divide during the update step)
    val r = spark.sql(
      "SELECT -7 div 2, 7 div 2, -7 div -2, CAST(-1999 AS BIGINT) div 1000").collect()(0)
    assert(r.getLong(0) == -3L) // floor would give -4
    assert(r.getLong(1) == 3L)
    assert(r.getLong(2) == 3L)
    assert(r.getLong(3) == -1L) // floor would give -2
    assert(-7L / 2L == -3L)
  }

  private def docs = {
    import spark.implicits._
    // mix of keepable prose (stopwords, variety) and junk (no stops /
    // repetitive / digit-heavy) — enough rows that training has signal
    val good = (0 until 40).map(i =>
      (i.toLong, s"the quick brown fox number$i is running and the dog is sleeping near the big tree"))
    val noStops = (40 until 60).map(i =>
      (i.toLong, s"alpha$i bravo charlie delta echo foxtrot golf hotel india juliet kilo"))
    val repetitive = (60 until 75).map(i =>
      (i.toLong, ("spam " * 20).trim))
    val digits = (75 until 90).map(i =>
      (i.toLong, s"4711 0815 $i 1234567 99999 123123 456456 789789 000 111 222"))
    (good ++ noStops ++ repetitive ++ digits).toDF("doc_id", "text")
  }

  test("training is deterministic and the model beats the majority baseline") {
    val d = docs
    val w1 = QualityModel.train(d, "doc_id", "text").orderBy("d").collect()
    val w2 = QualityModel.train(d, "doc_id", "text").orderBy("d").collect()
    assert(w1.map(_.getLong(1)).toSeq == w2.map(_.getLong(1)).toSeq,
      "same corpus must train to bit-identical weights")
    assert(w1.length == QualityModel.NDims)
    val sc = QualityModel.score(d, "doc_id", "text").collect()
    val n = sc.length
    val agree = sc.count(_.getBoolean(4))
    val pos = sc.count(_.getLong(1) > 0)
    val majority = math.max(pos, n - pos)
    assert(agree > majority,
      s"model must beat the majority baseline: agree=$agree majority=$majority n=$n")
  }

  test("scoring output is consistent: pred = score > 0, agree = pred == teacher") {
    val sc = QualityModel.score(docs, "doc_id", "text").collect()
    sc.foreach { r =>
      val score = r.getLong(2); val pred = r.getBoolean(3)
      assert(pred == (score > 0L))
      assert(r.getBoolean(4) == (pred == (r.getLong(1) > 0L)))
    }
  }

  test("model layout round-trips: modelDf → writeVersion → modelFromPath is exact") {
    val m = QualityModel.fit(docs, "doc_id", "text")
    val base = graft.core.Scratch.fresh("qm_rt_").toString
    val path = graft.operators.Bucketing.writeVersion(
      spark, base, QualityModel.modelDf(spark, m), "seg")
    val back = QualityModel.modelFromPath(spark, path)
    assert(back.w.sameElements(m.w) && back.z0.sameElements(m.z0) &&
      back.mu.sameElements(m.mu) && back.mad.sameElements(m.mad))
  }

  test("drift-gated maintenance: retrained-serve ≡ fresh-train, pin + idempotence") {
    import spark.implicits._
    val d = docs
    val initial = d.filter(col("doc_id") < 45L)
    val base = graft.core.Scratch.fresh("qm_maint_").toString
    // bootstrap publishes v1 regardless of threshold
    val (m1, p1) = QualityModel.maintainModel(spark, base, initial,
      "doc_id", "text", thresholdPpm = 0L)
    assert(p1.isDefined)
    assert(graft.operators.Bucketing.liveVersion(base).map(_._1).contains(1))
    // a HAIR-TRIGGER threshold refires on the grown corpus, and the
    // republished model equals a fresh fit on the same corpus exactly
    // (retrained-serve ≡ fresh-train)
    val grown = d.filter(col("doc_id") < 70L)
    val (m2, p2) = QualityModel.maintainModel(spark, base, grown,
      "doc_id", "text", thresholdPpm = 0L)
    assert(p2.isDefined)
    val fresh = QualityModel.fit(grown, "doc_id", "text")
    assert(m2.w.sameElements(fresh.w) && m2.z0.sameElements(fresh.z0) &&
      m2.mu.sameElements(fresh.mu) && m2.mad.sameElements(fresh.mad))
    // the published live version IS that model…
    val live = QualityModel.modelFromPath(spark,
      graft.operators.Bucketing.liveVersion(base).get._2)
    assert(live.w.sameElements(fresh.w))
    // …and v1 still serves pinned readers unchanged (versions append,
    // never mutate — the rollout discipline)
    val v1 = QualityModel.modelFromPath(spark,
      java.nio.file.Paths.get(base, "v1").toString)
    assert(v1.w.sameElements(m1.w))
    // idempotence at a sane threshold: a just-republished model's
    // drift over its own training corpus is its training residual —
    // far below the production gate, so the loop settles
    val resid = QualityModel.driftPpm(grown, "doc_id", "text", m2)
    val (_, p3) = QualityModel.maintainModel(spark, base, grown,
      "doc_id", "text", thresholdPpm = math.max(resid + 1, 100000L))
    assert(p3.isEmpty, s"loop must settle (residual $resid ppm)")
  }
}
