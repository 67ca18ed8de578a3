package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** PII redaction and chunking — the training-data scrubbing/packing ops. */
class TextOpsSpec extends SparkSpec {

  test("redactPii scrubs emails, IPv4s and phone numbers (in that order)") {
    import spark.implicits._
    val rows = Seq(
      (1L, "contact john.doe+spam@ex-ample.co.uk or call +1 (415) 555-0199 now"),
      (2L, "server at 192.168.1.100 responded to user2024@x.com fast"),
      (3L, "plain text with no pii at all"),
      (4L, "digits 12345678901 run and short 1234 one"))
    val got = rows.toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.redactPii(col("text")).as("r"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(1L) == "contact <EMAIL> or call <PHONE> now")
    assert(got(2L) == "server at <IP> responded to <EMAIL> fast")
    assert(got(3L) == "plain text with no pii at all")
    assert(got(4L) == "digits <PHONE> run and short 1234 one")
  }

  test("tokenizeIds: ids follow subword rank; OOV words fall back to char ids, unknown char = -1") {
    import spark.implicits._
    // hand-built state: "ab" stays whole, "cd" splits to c d →
    // vocab rank: ab=0, c=1, d=2
    val state = Seq(("ab", 5L), ("c d", 3L)).toDF("seq", "freq")
    val docs = Seq((1L, "ab cd xy"), (2L, "")).toDF("doc_id", "text")
    val got = TextOps.tokenizeIds(docs, "doc_id", "text", state)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    // xy is OOV: per-char fallback, x and y absent from vocab → -1 -1
    assert(got.toSeq == Seq((1L, "0,1,2,-1,-1", 5L), (2L, "", 0L)), s"got ${got.toList}")
  }

  test("encode kernel ≡ the explode/join/regroup semantics, row by row, interpreted and codegen'd") {
    import spark.implicits._
    // "ab" and "a1" stay whole, "cd" splits; "é" is a vocabulary entry no
    // ASCII token can reach; q, x, y, z are absent → -1
    val state = Seq(("ab", 5L), ("c d", 3L), ("a1", 2L), ("c a f", 1L), ("é", 1L))
      .toDF("seq", "freq")
    val segs = Seq("ab", "c d", "a1", "c a f", "é").map(s => s.replace(" ", "") -> s.split(" ").toSeq)
    val ids = segs.flatMap(_._2).distinct.sorted.zipWithIndex.map { case (t, i) => t -> i.toLong }.toMap
    // the removed relational path: regexp_extract_all words, whole-word
    // lookup, else one id per character through the 1-char vocabulary
    def reference(text: String): Seq[Long] =
      if (text == null) Nil
      else TextOps.TokenPattern.r.findAllIn(text).toSeq.flatMap { w =>
        segs.toMap.get(w).map(_.map(ids)).getOrElse(w.map(c => ids.getOrElse(c.toString, -1L)))
      }
    val texts = Seq[String](null, "", "   ", "ab cd xy", "zzz", "cd,ab;ab-cd", "a1 b2 A1",
      "café naïve ab", "é é", "日本語ab𝔘cd", "ab\tcd\nxy", "cafcafab", "q")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // a local input is encoded by the optimizer (eval), a repartitioned
    // one by whole-stage codegen (doGenCode)
    for (input <- Seq(docs, docs.repartition(3))) {
      val got = TextOps.tokenizeIdArrays(input, "doc_id", "text", state)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == reference(t), s"text ${Option(t).map(_.replace("\t", "\\t"))}")
      }
      assert(got.size == texts.size)
    }
    assert(reference("xy q") == Seq(-1L, -1L, -1L))
    // one per-row expression over the source: no exchange
    val ranged = spark.range(4).select(col("id").as("doc_id"), concat(lit("ab cd x"), col("id")).as("text"))
    val plan = TextOps.tokenizeIdArrays(ranged, "doc_id", "text", state)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bpe_encode") && !plan.contains("Exchange"), plan)
  }

  test("tokenizeIds conservation: sequence length equals bpeApply's subword count on the trained state") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox jumps"), (2L, "the the the lazy dog"),
      (3L, "quick quick fox")).toDF("doc_id", "text")
    val state = TextOps.bpeRun(docs, "text", 4)._2
    val nIds = TextOps.tokenizeIds(docs, "doc_id", "text", state)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val nSub = TextOps.bpeApply(docs, "doc_id", "text", state)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nIds == nSub, s"ids $nIds vs subword counts $nSub")
  }

  test("packTokenIds: docs split at pack seams, multi-pack doc tiles, stream order preserved") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // hand-built encode: doc 1 = [0,1,2], doc 2 = [3,4,5,6,7,8,9] (7 ids),
    // doc 3 = [], doc 4 = [10]; budget 4 → stream 0..10 cuts as
    // [0,1,2,3] [4,5,6,7] [8,9,10]
    val enc = Seq(
      (1L, Seq(0L, 1L, 2L)), (2L, Seq(3L, 4L, 5L, 6L, 7L, 8L, 9L)),
      (3L, Seq.empty[Long]), (4L, Seq(10L))).toDF("doc_id", "ids")
    val got = Packing.packTokenIds(enc, "doc_id", 4L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (0L, "0,1,2,3", 4L, 2L),   // doc 1 whole + doc 2's head
      (1L, "4,5,6,7", 4L, 1L),   // doc 2 interior tile (spans 3 packs)
      (2L, "8,9,10", 3L, 2L)),   // doc 2's tail + doc 4; empty doc 3 absent
      s"got ${got.toList}")
  }

  test("charHash iterates CODE POINTS: astral-plane string matches the DuckDB oracle value") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // "a 𝄞(U+1D11E) b" — a surrogate pair in UTF-16; a code-UNIT fold
    // would yield 57834039, the DuckDB/codepoint fold yields 3784485
    // (pinned from DuckDB: list_reduce over string_split(s,'') ascii)
    val s = "a𝄞b"
    val got = Seq(s).toDF("t")
      .select(TextOps.charHash(col("t")).as("h")).head().getLong(0)
    assert(got == 3784485L, s"charHash($s) = $got, want the codepoint fold 3784485")
    // the native codegen expression iterates code points by construction
    val wh = Seq(s).toDF("t")
      .select(graft.functions.WordHashes.word_hashes(col("t")).as("hs"))
      .head().getSeq[Long](0)
    assert(wh == Seq(3784485L))
  }

  test("code_points∘ngram_hashes ≡ charHash over substring grams (the LangModel feature path)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // short (< n), exactly n, ASCII, multi-byte CJK/Cyrillic, an astral
    // surrogate pair, and empty — the fused O(len) expression must be
    // POSITIONALLY identical to the O(len²) HOF substring formulation
    // it replaced (oracles compute the HOF form in SQL)
    val texts = Seq("", "ab", "abc", "hello world", "русский текст",
      "日本語のテキストです", "a𝄞b𝄞c", "mixé 混合 text")
    val n = LangModel.GramN
    texts.foreach { s =>
      val hof = Seq(s).toDF("t").select(
        when(length(col("t")) >= n,
          transform(sequence(lit(0), length(col("t")) - lit(n)),
            i => TextOps.charHash(col("t").substr(i + lit(1), lit(n)))))
          .otherwise(array().cast("array<bigint>")).as("g"))
        .head().getSeq[Long](0)
      val fused = Seq(s).toDF("t").select(
        graft.functions.NgramHashes.ngram_hashes(
          graft.functions.CodePoints.code_points(col("t")), n).as("g"))
        .head().getSeq[Long](0)
      assert(fused == hof, s"gram hashes diverge on '$s': $fused vs $hof")
    }
  }

  test("count_in_set ≡ size(filter(isin)) on the stopword gate") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val stops = TextOps.StopWords.values.flatten.toSeq.distinct
    val texts = Seq("", "the the the", "der hund und die katze",
      "no stop words here at all", "el la los y the a is and",
      "Der die DAS", "the")
    texts.foreach { s =>
      val hof = Seq(s).toDF("t").select(
        size(filter(TextOps.words(col("t")), x => x.isin(stops: _*)))
          .cast("long").as("c")).head().getLong(0)
      val fused = Seq(s).toDF("t").select(
        graft.functions.CountInSet.count_in_set(TextOps.words(col("t")), stops)
          .as("c")).head().getLong(0)
      assert(fused == hof, s"stop count diverges on '$s': $fused vs $hof")
    }
  }

  test("KMV sketch: exact below k, ~1/sqrt(k) accurate above") {
    import spark.implicits._
    // 40 distinct words < K=256 → exact
    val small = Seq((1L, (1 to 40).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val r1 = Sketches.kmvWordSketch(small, "text").head()
    assert(r1.getAs[Long]("n_in_sketch") == 40L && r1.getAs[Long]("est") == 40L)
    // 20k distinct words → estimate within ~4 standard errors (25%)
    val big = Seq.tabulate(100)(d =>
      (d.toLong, (0 until 200).map(i => s"tok${d * 200 + i}").mkString(" ")))
      .toDF("doc_id", "text")
    val est = Sketches.kmvWordSketch(big, "text").head().getAs[Long]("est")
    assert(est > 15000L && est < 25000L, s"est=$est for 20000 true distinct")
  }

  test("chunkWords packs words into fixed-size chunks with dense chunk numbers") {
    import spark.implicits._
    val text = (1 to 23).map(i => s"w$i").mkString(" ")
    val df = Seq((7L, text), (8L, "solo"), (9L, "")).toDF("doc_id", "text")
    val got = TextOps.chunkWords(df, "doc_id", "text", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(t => (t._1, t._2)).toList
    val w = (1 to 23).map(i => s"w$i")
    assert(got == List(
      (7L, 0L, w.take(10).mkString(" ")),
      (7L, 1L, w.slice(10, 20).mkString(" ")),
      (7L, 2L, w.slice(20, 23).mkString(" ")),
      (8L, 0L, "solo"),
      (9L, 0L, "")))
  }

  test("vocabSummary: relative cutoff splits vocab/OOV, token totals conserved") {
    import spark.implicits._
    // 20 "common" ×10 + 5 "rare" ×1 = 205 tokens; denom 40 → cutoff
    // 205 div 40 = 5: common words (10 ≥ 5) in-vocab, rare (1 < 5) out
    val docs = (0 until 10).map(i => (i.toLong, (1 to 20).map(j => s"c$j").mkString(" "))) ++
      Seq((10L, (1 to 5).map(j => s"r$j").mkString(" ")))
    val got = TextOps.vocabSummary(docs.toDF("doc_id", "text"), "text", 40L).head()
    assert(got.getLong(0) == 20, s"n_vocab ${got.getLong(0)}")
    assert(got.getLong(1) == 200 && got.getLong(2) == 5)
    assert(got.getLong(3) == 205)
    assert(got.getLong(1) + got.getLong(2) == got.getLong(3))
  }

  test("topBigrams: counts overlapping pairs, deterministic tie order, short docs excluded") {
    import spark.implicits._
    val docs = Seq(
      "a b a b a",   // (a,b)x2, (b,a)x2
      "a b c",       // (a,b), (b,c)
      "solo",        // no bigrams
      ""             // no bigrams
    ).toDF("text")
    val got = TextOps.topBigrams(docs, "text", 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toList
    // (a,b):3 first; then cnt-2 (b,a); then the cnt-1 tie (b,c)
    assert(got == List(("a", "b", 3L), ("b", "a", 2L), ("b", "c", 1L)), s"got $got")
    // k cuts deterministically on the total order
    val top2 = TextOps.topBigrams(docs, "text", 2).collect()
      .map(r => (r.getString(0), r.getString(1))).toList
    assert(top2 == List(("a", "b"), ("b", "a")))
  }

  test("qualityFilter: every rule fires on its crafted doc; reason = FIRST failure") {
    import spark.implicits._
    val docs = Seq(
      // keeps: ≥5 words, sane word length, has stopwords, diverse, few digits
      (0L, "the quick brown fox and the lazy dog again"),
      (1L, "one two"),                               // too_short (2 words)
      (2L, "a b c d e f g h"),                       // word_len (mean 1 < 2)
      (3L, "quick brown foxes jump over lazy dogs"), // stop_ratio (0 stopwords)
      (4L, "the the the the the the the the the the"), // repetition (1 distinct of 10) — stops OK
      (5L, "the 12345678901 12345678901 and cat")) // digit_ratio (22 of 35 chars)
      .toDF("doc_id", "text")
    val out = TextOps.qualityFilter(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("keep"), Option(r.getAs[String]("reason")))).toMap
    assert(out(0L) == ((true, None)), s"got ${out(0L)}")
    assert(out(1L) == ((false, Some("too_short"))), s"got ${out(1L)}")
    assert(out(2L) == ((false, Some("word_len"))), s"got ${out(2L)}")
    assert(out(3L) == ((false, Some("stop_ratio"))), s"got ${out(3L)}")
    assert(out(4L) == ((false, Some("repetition"))), s"got ${out(4L)}")
    assert(out(5L) == ((false, Some("digit_ratio"))), s"got ${out(5L)}")
    // first-failure ordering: doc 1 also has zero stopwords, but the
    // earlier too_short rule names the reason
    val flags1 = TextOps.qualityFilter(docs.filter($"doc_id" === 1L), "doc_id", "text")
      .collect().head
    assert(!flags1.getAs[Boolean]("ok_len") && !flags1.getAs[Boolean]("ok_stop"))
  }

  test("bigramLmScore: add-one bigram LM agrees with the hand computation; short docs keep a zero row") {
    import spark.implicits._
    // unigrams a:3 b:2 x:1 (V=3); bigrams (a,b):2 (b,a):1
    val docs = Seq((0L, "a b a"), (1L, "a b"), (2L, "x")).toDF("doc_id", "text")
    def lp(c12: Long, c1: Long, v: Long): Long =
      math.floor(math.log((c12 + 1).toDouble / (c1 + v)) * 1e6 + 0.5).toLong
    val got = TextOps.bigramLmScore(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc0: a->b uses c12=2,c1(a)=3; b->a uses c12=1,c1(b)=2
    assert(got(0L) == ((2L, lp(2, 3, 3) + lp(1, 2, 3))), s"got ${got(0L)}")
    assert(got(1L) == ((1L, lp(2, 3, 3))), s"got ${got(1L)}")
    assert(got(2L) == ((0L, 0L)), s"got ${got(2L)}")
    // the frequent-bigram doc outscores the rare-bigram path per bigram
    assert(got(1L)._2 > got(0L)._2 / 2)
  }

  test("chunkWordsStride: overlapping windows, tail kept, stride=chunk equals disjoint form") {
    import spark.implicits._
    val df = Seq((1L, (0 to 7).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val got = TextOps.chunkWordsStride(df, "doc_id", "text", 4, 2)
      .select("chunk_no", "chunk").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, "w0 w1 w2 w3"), (1L, "w2 w3 w4 w5"),
      (2L, "w4 w5 w6 w7"), (3L, "w6 w7")), s"got $got")
    val disjoint = TextOps.chunkWords(df, "doc_id", "text", 4)
      .select("chunk_no", "chunk").as[(Long, String)].collect().sortBy(_._1).toSeq
    val strideEq = TextOps.chunkWordsStride(df, "doc_id", "text", 4, 4)
      .select("chunk_no", "chunk").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(strideEq == disjoint, s"stride=chunk must equal chunkWords: $strideEq vs $disjoint")
  }

  test("pmiCollocations: hand-computed PMI, left/right marginals distinct, threshold gates") {
    import spark.implicits._
    // "a b a b a c": bigrams (a,b)×2, (b,a)×2, (a,c)×1; N=5
    // cL: a→3, b→2 ; cR: b→2, a→2, c→1
    val df = Seq("a b a b a c").toDF("text")
    val got = TextOps.pmiCollocations(df, "text", 1L)
      .as[(String, String, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    // pmi(a,b) = ln(5·2/(3·2)) = ln(5/3)  → 510826 µ
    // pmi(b,a) = ln(5·2/(2·2)) = ln(5/2)  → 916291 µ
    // pmi(a,c) = ln(5·1/(3·1)) = ln(5/3)  → 510826 µ
    assert(got == Seq(("a", "b", 2L, 510826L), ("a", "c", 1L, 510826L),
      ("b", "a", 2L, 916291L)), s"got $got")
    val gated = TextOps.pmiCollocations(df, "text", 2L)
      .as[(String, String, Long, Long)].collect().map(t => (t._1, t._2)).sorted.toSeq
    assert(gated == Seq(("a", "b"), ("b", "a")), s"gated $gated")
  }

  test("charPairCounts: adjacent pairs within alnum tokens, punctuation splits, minCount gates") {
    import spark.implicits._
    // "ab!abc" → tokens ab, abc → pairs ab, ab, bc; "x y" → 1-char
    // tokens contribute nothing; "abab" → ab, ba, ab
    val df = Seq("ab!abc", "x y", "abab").toDF("text")
    val got = TextOps.charPairCounts(df, "text", 1L)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("ab", 4L), ("ba", 1L), ("bc", 1L)), s"got $got")
    val gated = TextOps.charPairCounts(df, "text", 2L)
      .as[(String, Long)].collect().toSeq
    assert(gated == Seq(("ab", 4L)), s"gated $gated")
  }

  test("chunkDedup: repeated chunk keeps only corpus-first occurrence; fully-duplicated doc drops") {
    import spark.implicits._
    // chunkW=2: doc 1 = [a b][c d]; doc 2 = [a b][x y] (first chunk is a
    // repeat of doc 1's); doc 3 = [a b][c d] (every chunk seen before)
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b x y"),
      (3L, "a b c d")
    ).toDF("doc_id", "text")
    val got = TextOps.chunkDedup(df, "doc_id", "text", 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "a b c d", 2L, 2L),  // both chunks first sightings
      (2L, "x y", 1L, 2L)       // "a b" was doc 1's; only the novel tail survives
      // doc 3 gone: zero surviving chunks
    ), s"got $got")
  }

  test("chunkDedup: within-doc repeat also dedups (position order decides first)") {
    import spark.implicits._
    val df = Seq((7L, "p q p q r s")).toDF("doc_id", "text")
    val got = TextOps.chunkDedup(df, "doc_id", "text", 2)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq((7L, "p q r s", 2L, 3L)), s"got $got")
  }

  test("blocklistClean: token match blocks, substring does not") {
    import spark.implicits._
    val df = Seq(
      (1L, "clean text here"),
      (2L, "contains bad token"),
      (3L, "badge is a substring") // 'bad' ⊄ token 'badge'
    ).toDF("doc_id", "text")
    val got = df.filter(TextOps.blocklistClean(col("text"), Seq("bad", "evil")))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 3L), s"got $got")
  }

  test("zipfFit: exact power-law fixture recovers its slope in micro units") {
    import spark.implicits._
    // token t_r appears round(1000 / r) times, r = 1..4: log-log slope
    // should land near -1e6 (milli-scaled logs introduce ≤ ~1e3 error)
    val docs = (1 to 4).flatMap(r =>
      Seq.fill(math.round(1000.0 / r).toInt)(s"t$r")).mkString(" ")
    val df = Seq(docs).toDF("text")
    val got = TextOps.zipfFit(df, "text", 4).as[(Long, Long)].collect().head
    assert(got._1 == 4L)
    assert(math.abs(got._2 + 1000000L) < 5000L, s"slope ${got._2}")
  }

  test("bpeLearn: hand-computed merge table, tie-breaks, early stop") {
    import spark.implicits._
    // word types: "aaab" ×3 (seq "a a a b"), "ab" ×1 (seq "a b")
    // round 1: (a,a) weighted 3·2=6 beats (a,b)=3+1=4 → merge (a,a,6);
    //   single-pass replace under-merges the run: "a a a b" → "aa a b"
    // round 2: (a,b)=3+1=4 beats (aa,a)=3 → (a,b,4) → "aa ab" / "ab"
    // round 3: (aa,ab)=3 → "aaab" / "ab" — everything single-token
    // round 4..6: no pairs left → early stop at 3 rows
    val docs = Seq("aaab aaab ab", "aaab").toDF("text")
    val got = TextOps.bpeLearn(docs, "text", 6)
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1, "a", "a", 6L), (2, "a", "b", 4L),
      (3, "aa", "ab", 3L)), got.toSeq.toString)
  }

  test("bpeLearn merge application is single-pass non-overlapping (the pinned portable rule)") {
    import spark.implicits._
    // "aaaa" alone: round 1 best is (a,a,3); the single LTR pass turns
    // "a a a a" into "aa a a" (the separator consumed by the first match
    // hides the middle pair), so round 2 counts (aa,a)=1 and (a,a)=1 —
    // tie on n, lhs "a" < "aa" wins → (a,a) again → "aa aa", then (aa,aa)
    val got = TextOps.bpeLearn(Seq("aaaa").toDF("text"), "text", 6)
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1, "a", "a", 3L), (2, "a", "a", 1L),
      (3, "aa", "aa", 1L)), got.toSeq.toString)
  }

  test("bpeRun: the Spark job count does not depend on the rounds") {
    import spark.implicits._
    val docs = Seq("the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs").toDF("text")
    val (j1, j6) = (jobsOf(TextOps.bpeRun(docs, "text", 1)), jobsOf(TextOps.bpeRun(docs, "text", 6)))
    assert(j1 == j6, s"1 round: $j1 jobs, 6 rounds: $j6 jobs")
    assert(TextOps.bpeLearn(docs, "text", 6).count() == 6)
  }

  test("bpeLearn ties go by code point: the U+FF21 pair merges before the U+1D400 pair") {
    import spark.implicits._
    // one word each: Ａ Ｂ (U+FF21 U+FF22) and 𝐀 𝐁 (U+1D400 U+1D401), both
    // pairs n = 1. UTF-8 byte (= code point) order puts U+FF21 first;
    // UTF-16 order would put U+1D400 (surrogates D835 DC00) first
    val (a, b) = ("\uFF21", "\uFF22")
    val (ma, mb) = (Character.toString(0x1D400), Character.toString(0x1D401))
    val (merges, state) = TextOps.bpeRun(Seq(s"$a$b $ma$mb").toDF("text"), "text", 4,
      TextOps.TokenPatternUnicode)
    assert(merges.as[(Int, String, String, Long)].collect().toSeq ==
      Seq((1, a, b, 1L), (2, ma, mb, 1L)))
    assert(state.as[(String, Long)].collect().toSet == Set((a + b, 1L), (ma + mb, 1L)))
  }

  test("chunkByTokens: offset-bin chunking matches a hand fold; unseen words cost characters") {
    import spark.implicits._
    // fake learned state: "ab" fully merged (1 subword), "cd" split as
    // "c d" (2 subwords); "xyz" is unseen and costs its 3 characters
    val vocab = Seq(("ab", 1L), ("c d", 1L)).toDF("seq", "freq")
    val docs = Seq((9L, "ab cd xyz ab ab")).toDF("doc_id", "text")
    // costs 1,2,3,1,1 → exclusive offsets 0,1,3,6,7 → bins 0,0,1,2,2
    val got = TextOps.chunkByTokens(docs, "doc_id", "text", vocab, 3L).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(got == Seq((0L, 2L, 3L), (1L, 1L, 3L), (2L, 2L, 2L)), s"got $got")
    // a word costlier than the whole budget still lands in exactly one
    // bin (its start offset's) — no row loss, no infinite split
    val big = TextOps.chunkByTokens(
      Seq((1L, "xyz ab")).toDF("doc_id", "text"), "doc_id", "text", vocab, 2L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(big == Seq((0L, 1L, 3L), (1L, 1L, 1L)), s"got $big")
  }

  test("bpeApply: per-doc subword counts under the learned state; unseen words fall back to chars") {
    import spark.implicits._
    val train = Seq("aaab aaab ab", "aaab").toDF("text")
    // after 2 rounds: "aaab" segments as "aa ab" (2), "ab" as "ab" (1)
    val state = TextOps.bpeRun(train, "text", 2)._2
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab"), (3L, "zzz ab"))
      .toDF("doc_id", "text")
    val got = TextOps.bpeApply(docs, "doc_id", "text", state)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // doc 3: "zzz" is unseen -> char-count fallback 3, plus "ab" -> 1
    assert(got.toSeq == Seq((1L, 5L, 3L), (2L, 2L, 1L), (3L, 4L, 2L)),
      got.toSeq.toString)
  }

  test("heldOutLmScore: train-only counts, add-one smoothing over unseen words and bigrams") {
    import spark.implicits._
    // train "a b a b": c12 (a,b)=2 (b,a)=1; c1 a=2 b=2; v=2
    val docs = Seq(
      (1L, "a b a b", "train"),
      (2L, "a b c", "val"),   // (a,b) seen; (b,c) unseen bigram, seen w1
      (3L, "z z", "val"),     // unseen w1 entirely
      (4L, "solo", "val"))    // < 2 words -> (0, 0) row, not dropped
      .toDF("doc_id", "text", "split")
    def lp(c12: Long, c1: Long): Long =
      math.floor(math.log((c12 + 1).toDouble / (c1 + 2).toDouble) * 1e6 + 0.5).toLong
    val got = TextOps.heldOutLmScore(docs, "doc_id", "text",
      col("split") === "train")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (2L, 2L, lp(2, 2) + lp(0, 2)),
      (3L, 1L, lp(0, 0)),
      (4L, 0L, 0L)), got.toSeq.toString)
  }

  // ---------- Unicode token mode ----------

  test("tokensU: token count and token-char count match the DuckDB RE2 constants per script") {
    import spark.implicits._
    // the same six fixture texts probed against DuckDB's
    // regexp_extract_all('[\p{L}\p{M}\p{N}]+') — these constants ARE the
    // cross-engine agreement pin: if Java's \p{L}\p{M}\p{N} tables ever
    // diverge from RE2's on these scripts, this fails before the oracle
    val expected = Map(
      "de" -> (10, 51), "ru" -> (11, 53), "ar" -> (10, 40),
      "el" -> (10, 52), "hi" -> (11, 41), "ja" -> (8, 21))
    val got = TextOps.UnicodeFixture.toDF("lang", "text")
      .select(col("lang"), size(TextOps.tokensU(col("text"))).as("n"),
        length(regexp_replace(col("text"), "[^\\p{L}\\p{M}\\p{N}]", "")).as("tc"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(got == expected, got.toString)
    // and the blind spot this mode fixes: the ASCII class yields ZERO
    // tokens for every non-Latin script (only 'de' — Latin letters —
    // survives it)
    val ascii = TextOps.UnicodeFixture.toDF("lang", "text")
      .select(col("lang"), size(TextOps.tokens(col("text"))).as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(ascii("de") > 0 &&
      Seq("ru", "ar", "el", "hi").forall(l => ascii(l) == 0), ascii.toString)
  }

  test("scriptProfile: per-script counts land in the right columns and conserve totals") {
    import spark.implicits._
    val fx = TextOps.UnicodeFixture.toDF("lang", "text")
      .withColumn("doc_id", monotonically_increasing_id())
    val rows = TextOps.scriptProfile(fx, "doc_id", "text")
      .join(fx.select(col("doc_id"), col("lang")), "doc_id")
      .collect().map { r =>
        r.getAs[String]("lang") -> (r.getAs[Long]("n_chars"),
          TextOps.ScriptClasses.map(c => c._1 -> r.getAs[Long](s"n_${c._1}")).toMap,
          r.getAs[Long]("n_other"))
      }.toMap
    // each doc's dominant script is its own; cross-script counts zero
    assert(rows("ru")._2("cyrillic") > 0 && rows("ru")._2("latin") == 0)
    assert(rows("ar")._2("arabic") > 0 && rows("ar")._2("cyrillic") == 0)
    assert(rows("el")._2("greek") > 0)
    assert(rows("hi")._2("devanagari") > 0)
    assert(rows("de")._2("latin") > 0 && rows("de")._2("greek") == 0)
    // the Japanese doc decomposes across all three CJK columns — the
    // han/kana split that distinguishes Japanese from Chinese text
    assert(rows("ja")._2("han") > 0 && rows("ja")._2("hiragana") > 0 &&
      rows("ja")._2("katakana") > 0)
    // n_other (and each class column) must match an INDEPENDENT count
    // via Character.UnicodeScript — a different JDK code path than the
    // operator's regexes — because "classes + other == n_chars" alone
    // is tautological: n_other is defined as the difference, so it
    // conserves even if every script regex is wrong. Note script ≠
    // letter: Devanagari vowel signs (Mc) and the danda (punctuation)
    // are script-Devanagari, and the regex classes count by SCRIPT.
    import java.lang.Character.UnicodeScript
    val scriptOf = Map(
      "latin" -> UnicodeScript.LATIN, "cyrillic" -> UnicodeScript.CYRILLIC,
      "greek" -> UnicodeScript.GREEK, "arabic" -> UnicodeScript.ARABIC,
      "devanagari" -> UnicodeScript.DEVANAGARI, "han" -> UnicodeScript.HAN,
      "hiragana" -> UnicodeScript.HIRAGANA, "katakana" -> UnicodeScript.KATAKANA,
      "hangul" -> UnicodeScript.HANGUL)
    val fixtureByLang = TextOps.UnicodeFixture.toMap
    rows.foreach { case (lang, (nc, cls, other)) =>
      val text = fixtureByLang(lang)
      val cps = text.codePoints().toArray
      assert(nc == cps.length.toLong)
      cls.foreach { case (name, n) =>
        val want = cps.count(cp => UnicodeScript.of(cp) == scriptOf(name)).toLong
        assert(n == want, s"$lang n_$name=$n, independent script count=$want")
      }
      val expectedOther =
        cps.count(cp => !scriptOf.values.toSet.contains(UnicodeScript.of(cp))).toLong
      assert(other == expectedOther,
        s"$lang n_other=$other, independent count=$expectedOther")
    }
  }

  test("Unicode BPE: non-Latin symbols reach the merge table; ASCII trainer unchanged by the alphabet param") {
    import spark.implicits._
    val fx = TextOps.UnicodeFixture.zipWithIndex
      .map { case ((l, t), i) => (i.toLong, l, t) }.toDF("doc_id", "lang", "text")
    val merges = TextOps.bpeLearn(fx, "text", 6, TextOps.TokenPatternUnicode)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.length == 6)
    // the trainer must actually be learning over non-Latin alphabets:
    // at least one merge symbol beyond ASCII
    assert(merges.exists { case (_, l, r, _) =>
      (l + r).exists(_ > 127) }, s"no non-Latin merge in ${merges.toSeq}")
    // rounds are 1..6 with positive counts; merged symbol = lhs+rhs
    assert(merges.map(_._1).sorted.sameElements(1 to 6))
    assert(merges.forall(_._4 > 0))
    // the alphabet parameter defaults to the ASCII class: explicitly
    // passing it must be byte-identical to the historical call
    val a = TextOps.bpeLearn(fx, "text", 3).collect().map(_.toSeq)
    val b = TextOps.bpeLearn(fx, "text", 3, TextOps.TokenPattern).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("Unicode quality battery keeps all six scripts; langIdUnicode recovers each planted language") {
    import spark.implicits._
    val fx = TextOps.UnicodeFixture.zipWithIndex
      .map { case ((l, t), i) => (i.toLong, l, t) }.toDF("doc_id", "lang", "text")
    val q = TextOps.qualityFilterUnicode(fx, "doc_id", "text", carry = Seq("lang"))
      .select(col("lang"), col("keep")).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(q.size == 6 && q.values.forall(identity),
      s"quality battery zeroed a script: $q")
    val lid = fx.select(col("lang"),
      TextOps.langIdUnicode(col("text")).as("pred")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lid.forall { case (l, p) => l == p }, lid.toString)
    // the ASCII battery on the same docs: non-Latin scripts die at the
    // stopword rule (zero Latin stopwords) — the regression this tier
    // exists to prevent, kept here as the documented contrast
    val ascii = TextOps.qualityFilter(fx, "doc_id", "text")
      .select(col("doc_id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!ascii(1L) && !ascii(2L), "non-Latin docs unexpectedly passed the ASCII battery")
  }
}
