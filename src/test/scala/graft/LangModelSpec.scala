package graft

import org.apache.spark.sql.functions._
import graft.operators.{Charsets, LangModel, TextOps}

/** The trained language identifier: determinism, the multi-class
  * perceptron mechanics, and the spec-pinned CONTRAST with the ASCII
  * stopword heuristic it replaces (the reason the model exists).
  */
class LangModelSpec extends SparkSpec {

  /** The six-script corpus the harness queries train on, rebuilt
    * directly from the Charsets fixture functions (same page text the
    * decoded archive yields): non-mojibake modes only, slot-language
    * labels.
    */
  private lazy val corpus = {
    val sqlc = spark
    import sqlc.implicits._
    val rows = (0L until 500L).filter(_ % 4 != 3).map { id =>
      val slot = Charsets.slotOf(id)
      val (label, lang, text) = Charsets.Slots(slot)
      val html =
        if (Charsets.modeOf(id) == 1) Charsets.htmlMeta(id, label, text)
        else Charsets.htmlNoMeta(id, text)
      (id, html, lang)
    }
    rows.toDF("doc_id", "text", "lang")
  }

  /** The model a fit of [[corpus]] produced before the two trained
    * classifiers shared one perceptron kernel: w0..w5 follow the class
    * order de, el, ja, ko, ru, zh (bias last).
    */
  private val Recorded: Map[String, Seq[Long]] = Map(
    "w0" -> Seq[Long](
      -112, -1567, 4495, -1714, 5464, 4226, 3121, -5623, 1253, 3055, 2869, -1471, -1930,
      -1603, 997, -2615, -2025, 248, 84, -5242, -3995, 1448, 2824, 1717, -1108, -4906,
      4286, 3755, 1012, -2729, 751, -2174, 4550, -2026, -4385, 3483, -876, -1901, 981,
      3226, 6093, -121, 2687, 647, -1170, 73, 1877, 538, 2998, -1889, 2219, -1804, -4722,
      -2147, 4605, 1833, 1035, -4429, 2347, -2410, 3145, -4329, 3667, -2553, 615, -19532),
    "w1" -> Seq[Long](
      -1032, 3790, -4853, -2851, -6223, -2070, -1389, 7921, -2153, 1855, -1292, 4182,
      -614, -2145, -1823, 827, -23, -1316, -3885, 860, 5210, -1026, 3265, 3718, 2175,
      4495, -3995, -3904, -4455, 5154, -3275, -795, -2069, 3529, 2039, -715, -1584, 3484,
      -2200, -415, -7120, 2391, -44, -1065, 2670, -871, -4522, -2922, -4583, -897, -1769,
      3482, -1934, 2739, -3153, -2266, 4474, 4625, 2420, -801, -46, 758, 1324, -734, 381,
      -19348),
    "w2" -> Seq[Long](
      885, -6291, -1500, 3358, 6184, 1852, -5629, 5300, -5283, -13188, 12534, 3355, -2790,
      -6678, 2236, 3793, -565, 3808, -10745, -1194, -6740, -8799, 721, -1688, -12194,
      -10938, 5552, 667, 4076, -11941, 11323, -6326, -263, -7848, -583, -3460, -4336,
      12837, 16077, 16322, -2949, 2750, 16970, -2222, -4873, -3282, 39, -8010, 2566, -375,
      10602, 11086, 3257, 4157, -10360, -2358, -3221, 4888, 5010, 1286, -6019, 14, -1227,
      -5297, 715, -17352),
    "w3" -> Seq[Long](
      -1166, 6983, -7222, -5489, 8125, 5141, -6137, -2207, 5350, -2441, -2385, -8296,
      -2971, -6160, -2720, 378, -3867, 64, 447, 2559, 4793, -6614, -6050, -2957, -5355,
      11113, -7630, -1297, -592, -2320, -3889, -3082, 7687, 2038, -868, 787, 6506, 2814,
      -5591, 2145, -730, -580, -5723, 4076, 13003, -385, 3630, 8727, -5433, 4537, 1232,
      -1875, -5322, -5092, -7365, 4981, 941, -2263, -5314, -2197, 1470, 10074, -7154,
      7787, -2210, -18600),
    "w4" -> Seq[Long](
      5602, 319, -1245, 5020, -1535, -2599, -2938, -829, 1597, -3338, -1433, -167, -1155,
      5782, 2239, -1695, 4332, 446, 1455, 1700, -3422, -2808, -1957, -5271, -2679, -1623,
      -2738, 2560, -1130, 3130, -614, 2461, -4740, 4434, -1079, -1773, -2387, -2073, 2945,
      -1136, -1965, -1855, -249, 1444, -2780, 1853, -1495, 656, 1867, 4310, 532, -976,
      4520, -227, -2384, 3585, -5413, -3159, -3005, 4597, 2206, 1341, 689, 5218, -92,
      -19396),
    "w5" -> Seq[Long](
      -1350, -2172, 1638, 1884, -2010, -2118, 840, -1986, 150, 2976, -1728, -1494, 2688,
      2184, -1620, 660, 612, -252, -1002, 3330, 1176, 4626, -2646, -216, 4524, 576, 2466,
      -1164, -540, 546, 1758, 1836, -1110, -546, 2136, -1062, 1074, -1590, -2046, -3294,
      1044, -168, -1752, -342, -1716, 618, 1428, -354, -762, 528, -3204, -2496, 1212,
      1248, 3876, -606, 174, -1692, -504, 1446, -2154, 342, -1794, -330, -2190, -3504),
    "z0" -> Seq[Long](
      -932, -1161, -735, -1480, -7307, -1501, -825, -1167, -6940, -5672, -2820, -1618,
      -1289, -1319, -2859, -2567, -1046, -752, -2168, -4943, -1286, -4001, -1320, -2587,
      -851, -1464, -1339, -679, -950, -3785, -976, -5476, -5062, -7897, -3443, -2426,
      -5206, -3405, -1110, -1784, -4881, -2835, -3793, -3956, -1855, -4094, -3157, -1318,
      -696, -6037, -3479, -1129, -1489, -1590, -2014, -6451, -8106, -3459, -1301, -5484,
      -2819, -4136, -749, -4258, -6963, 1000),
    "mu" -> Seq[Long](
      5307, 6427, 3777, 7077, 46843, 8560, 3960, 6995, 28900, 20001, 12383, 8920, 6510,
      7332, 16985, 12525, 6636, 3234, 12912, 22738, 11450, 23161, 6382, 12087, 6179,
      10874, 5857, 2051, 7648, 22802, 5833, 22207, 23727, 50348, 27227, 14055, 24737,
      27467, 8829, 12502, 17862, 13935, 25616, 23443, 18269, 23377, 19976, 9138, 2439,
      40614, 14819, 6413, 8069, 10958, 13192, 29782, 27781, 18001, 5550, 30837, 14087,
      26584, 5145, 20604, 123450, 0),
    "mad" -> Seq[Long](
      5689, 5533, 5137, 4778, 6409, 5701, 4794, 5990, 4163, 3525, 4390, 5509, 5047, 5555,
      5938, 4877, 6338, 4295, 5952, 4599, 8896, 5787, 4833, 4671, 7259, 7426, 4373, 3019,
      8045, 6023, 5973, 4054, 4686, 6374, 7906, 5792, 4750, 8064, 7950, 7006, 3658, 4914,
      6751, 5924, 9844, 5709, 6325, 6928, 3499, 6726, 4258, 5675, 5415, 6888, 6547, 4615,
      3426, 5202, 4262, 5622, 4995, 6426, 6860, 4837, 17727, 0))

  test("fit reproduces the recorded model; fit and scoreWith keep their job counts") {
    val (m, fitJobs) = counted(LangModel.fit(corpus, "doc_id", "text", "lang"))
    assert(m.langs == Seq("de", "el", "ja", "ko", "ru", "zh"))
    m.w.zipWithIndex.foreach { case (w, k) => assert(w.toSeq == Recorded(s"w$k"), m.langs(k)) }
    assert(m.z0.toSeq == Recorded("z0"))
    assert(m.mu.toSeq == Recorded("mu"))
    assert(m.mad.toSeq == Recorded("mad"))
    // the label rides the feature table, so no round and no score joins
    // labels back in; one extra action per round would add Iters jobs
    assert(fitJobs == 34, s"fit ran $fitJobs jobs")
    val scoreJobs =
      jobsOf(LangModel.scoreWith(corpus, "doc_id", "text", "lang", m).collect())
    assert(scoreJobs == 4, s"scoreWith ran $scoreJobs jobs")
  }

  test("training is deterministic: two runs produce identical weights") {
    val a = LangModel.train(corpus, "doc_id", "text", "lang")
      .orderBy("lang", "d").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val b = LangModel.train(corpus, "doc_id", "text", "lang")
      .orderBy("lang", "d").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(a.sameElements(b))
    val langs = corpus.select("lang").distinct().count()
    assert(a.length == langs * LangModel.NDims)
  }

  test("the trained model beats the ASCII stopword heuristic on the six-script corpus") {
    val n = corpus.count()
    val scored = LangModel.score(corpus, "doc_id", "text", "lang")
    val trained = scored.filter(col("agree")).count()
    // the ASCII heuristic knows de/en/es/fr stopwords only: every
    // ja/ko/zh/ru/el page is 'unknown' to it
    val heuristic = corpus
      .select(col("lang"), TextOps.langId(col("text")).as("p"))
      .filter(col("lang") === col("p")).count()
    assert(n > 0)
    assert(heuristic < n / 3,
      s"heuristic unexpectedly strong ($heuristic of $n) — contrast lost its teeth")
    assert(trained > heuristic * 2,
      s"trained agreement $trained must dwarf heuristic $heuristic of $n")
    // the scripts are linearly separable in gram space: the model must
    // classify essentially everything
    assert(trained * 100 >= n * 99,
      s"trained agreement $trained/$n below 99%")
  }

  test("every script classifies: per-language agreement is total") {
    val perLang = LangModel.score(corpus, "doc_id", "text", "lang")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(when(col("agree"), 1L).otherwise(0L)).as("ok"))
      .collect()
    assert(perLang.nonEmpty)
    for (r <- perLang)
      assert(r.getLong(1) == r.getLong(2),
        s"lang ${r.getString(0)}: ${r.getLong(2)}/${r.getLong(1)} agree")
  }

  test("char 3-grams: engine column matches a reference implementation") {
    val sqlc = spark
    import sqlc.implicits._
    val cases = Seq("", "a", "ab", "abc", "abcd", "中文混合 text",
      "高速データ処理 mixed 123")
    val got = cases.toDF("t").select(LangModel.grams(col("t")).as("g"))
      .collect().map(_.getSeq[String](0).toList)
    val want = cases.map(s =>
      if (s.length < 3) Nil
      else (0 to s.length - 3).map(i => s.substring(i, i + 3)).toList)
    assert(got.toList == want.toList)
  }
}
