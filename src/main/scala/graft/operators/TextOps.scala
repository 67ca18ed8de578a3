package graft.operators

import org.apache.spark.sql._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID (stopword heuristic), quality scoring, token counting,
  * document fingerprinting. All pure `org.apache.spark.sql.functions`
  * column expressions — codegen'd, no UDFs, no shuffle; each has an
  * equivalent DuckDB formulation (see SparkEntry.oracleSql) built from
  * the same constants.
  *
  * The portable hash at the bottom of everything is a rolling polynomial
  * hash over character codes, `H(s) = foldl (acc*31 + ascii(c)) mod P` —
  * chosen (over murmur/xxhash builtins) because BOTH engines can compute
  * it exactly with integer arithmetic, so dedup/simhash results are
  * engine-independent.
  */
object TextOps {

  /** Modulus for all portable hashes (fits squares in Long). */
  val HashMod = 1000000007L

  /** Rolling polynomial char hash of a string column (portable).
    *
    * Iterates CODE POINTS, not UTF-16 code units: Spark's `split(s,"")`
    * keeps surrogate pairs whole (Java regex zero-width split) and
    * `ascii()` returns the full code point, matching DuckDB's
    * codepoint-based `string_split`/`ascii` and `WordHashes.hashWords`'
    * explicit codePointAt loop — pinned by the astral-plane row in
    * TextOpsSpec.
    */
  def charHash(s: Column): Column =
    aggregate(split(s, ""), lit(0L),
      (acc, c) => (acc * 31 + ascii(c)) % HashMod)

  /** The same hash as DuckDB SQL text (for oracle construction). */
  def charHashSql(s: String): String =
    s"list_reduce(list_prepend(0::BIGINT, [ascii(c)::BIGINT for c in string_split($s, '')]), (a, c) -> (a * 31 + c) % ${HashMod})"

  /** Whitespace word split (documents are single-space separated). */
  def words(text: Column): Column = split(text, " ")

  /** ASCII token class (the default alphabet; see [[TokenPatternUnicode]]
    * for the script-agnostic one).
    */
  val TokenPattern = "[A-Za-z0-9]+"

  /** BPE-ish token extraction: alnum runs. */
  def tokens(text: Column): Column =
    regexp_extract_all(text, lit(TokenPattern), lit(0))

  // --- language ID: stopword-count heuristic, deterministic tie-break ---

  val StopWords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und"),
    "en" -> Seq("the", "a", "is", "and"),
    "es" -> Seq("el", "la", "los", "y"),
    "fr" -> Seq("le", "la", "les", "et"))

  /** Count of words in the given stopword list (codegen'd set probe;
    * ≡ size(filter(words, isin(stops))), PolyHashSpec-pinned).
    */
  def stopCount(text: Column, stops: Seq[String]): Column =
    graft.functions.CountInSet.count_in_set(words(text), stops)

  /** Predicted language: argmax stopword count, ties broken by
    * alphabetical language order, 'unknown' when every score is 0.
    */
  def langId(text: Column): Column = {
    val langs = StopWords.keys.toSeq.sorted
    val scores = langs.map(l => l -> stopCount(text, StopWords(l)))
    val best = scores.foldLeft(lit(0L)) { case (acc, (_, s)) => greatest(acc, s) }
    scores.reverse.foldLeft(lit("unknown")) { case (els, (l, s)) =>
      when(s > 0 && s === best, lit(l)).otherwise(els)
    }
  }

  /** Quality-scoring columns: length, words, tokens, mean word length,
    * stopword ratio (all exact integer/deterministic-double arithmetic).
    */
  def qualityCols(text: Column): Seq[Column] = {
    val w = words(text)
    val nWords = size(w).cast("long")
    val nChars = length(text).cast("long")
    val allStops = StopWords.values.flatten.toSeq.distinct
    Seq(
      nChars.as("n_chars_m"),
      nWords.as("n_words"),
      size(tokens(text)).cast("long").as("n_tokens"),
      ((nChars - (nWords - 1)).cast("double") / nWords.cast("double")).as("mean_word_len"),
      // count_in_set ≡ size(filter(w, isin(stops))) (PolyHashSpec-pinned),
      // but codegen'd with an O(1) set probe instead of an interpreted
      // lambda + linear In scan per word
      (graft.functions.CountInSet.count_in_set(w, allStops).cast("double") /
        nWords.cast("double")).as("stop_ratio"))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  // --- composite quality filter (C4/Gopher-style rule battery) ---

  /** Rule thresholds, written as integer cross-multiplications below so
    * no floating-point comparison exists anywhere in the filter:
    * min words ≥ 5; mean word length in [2, 12]; stopword ratio ≥ 1/20;
    * distinct-word ratio ≥ 3/10; digit ratio ≤ 3/10.
    */
  val MinWords = 5
  val WordLenLo = 2
  val WordLenHi = 12

  /** Rule names in evaluation order (first failure = the reject reason). */
  val QualityRules: Seq[String] =
    Seq("too_short", "word_len", "stop_ratio", "repetition", "digit_ratio")

  /** Composite document quality filter: per-rule pass flags, the overall
    * `keep` decision, and the FIRST failed rule as `reason` (NULL for
    * kept docs) — the C4/Gopher-shaped rule battery of a corpus
    * cleaning pipeline, kept auditable (a rejected doc says why, a
    * dashboard can aggregate reasons) rather than a bare boolean.
    *
    * Pure per-row column expressions over one text scan — no UDF, no
    * shuffle, whole-stage-codegen'd; at 100 TB this is a map-only pass
    * whose cost is the scan itself. All five rules compare integers
    * (counts cross-multiplied by the ratio denominators), so engine
    * agreement is exact, never within-epsilon.
    */
  /** The five rule flags of [[qualityFilter]] over a text COLUMN — the
    * one definition of the rule battery, shared by the filter query and
    * by [[QualityModel]]'s inline teacher label (which previously
    * re-derived it through a join).
    */
  def qualityFlags(t: Column): Seq[Column] = {
    val w = words(t)
    val nW = size(w).cast("long")
    val nC = length(t).cast("long")
    val nDistinct = size(array_distinct(w)).cast("long")
    // count_in_set ≡ size(filter(w, isin(stops))): same occurrence count,
    // byte-exact comparison, but codegen'd (the HOF lambda is interpreted
    // per word — this gate runs inside every corpus build)
    val nStops = {
      val allStops = StopWords.values.flatten.toSeq.distinct
      graft.functions.CountInSet.count_in_set(w, allStops)
    }
    val nDigits = nC - length(regexp_replace(t, "[0-9]", "")).cast("long")
    // mean word length = (nC - (nW - 1)) / nW, bounds via cross-multiply
    val sumWordChars = nC - nW + lit(1L)
    val okLen = nW >= MinWords
    val okWordLen = (sumWordChars >= nW * WordLenLo) && (sumWordChars <= nW * WordLenHi)
    val okStop = nStops * 20L >= nW
    val okDistinct = nDistinct * 10L >= nW * 3L
    val okDigit = nDigits * 10L <= nC * 3L
    Seq(okLen, okWordLen, okStop, okDistinct, okDigit)
  }

  /** The composite keep decision as a bare column (all five flags). */
  def qualityKeep(t: Column): Column = qualityFlags(t).reduce(_ && _)

  def qualityFilter(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val flags = qualityFlags(col(textCol))
    val reason = QualityRules.zip(flags).reverse
      .foldLeft(lit(null).cast("string")) { case (els, (name, ok)) =>
        when(!ok, lit(name)).otherwise(els)
      }
    df.select(col(idCol) +:
      flags.zip(Seq("ok_len", "ok_word_len", "ok_stop", "ok_distinct", "ok_digit"))
        .map { case (c, n) => c.as(n) } :+
      flags.reduce(_ && _).as("keep") :+ reason.as("reason"): _*)
  }

  /** DuckDB mirror of [[qualityFilter]] (same constants, same integer
    * comparisons; `sq` = quoted stopword list).
    */
  def qualityFilterSql(sq: String, from: String = "documents"): String = {
    val nW = "len(string_split(text, ' '))::BIGINT"
    val nC = "length(text)::BIGINT"
    val nDistinct = "len(list_distinct(string_split(text, ' ')))::BIGINT"
    val nStops = s"len(list_filter(string_split(text, ' '), w -> w IN ($sq)))::BIGINT"
    val nDigits = s"($nC - length(regexp_replace(text, '[0-9]', '', 'g'))::BIGINT)"
    val swc = s"($nC - $nW + 1)"
    val rules = Seq(
      "ok_len" -> s"$nW >= $MinWords",
      "ok_word_len" -> s"($swc >= $nW * $WordLenLo AND $swc <= $nW * $WordLenHi)",
      "ok_stop" -> s"$nStops * 20 >= $nW",
      "ok_distinct" -> s"$nDistinct * 10 >= $nW * 3",
      "ok_digit" -> s"$nDigits * 10 <= $nC * 3")
    val flagCols = rules.map { case (n, e) => s"($e) AS $n" }.mkString(",\n          ")
    val keep = rules.map(r => s"(${r._2})").mkString(" AND ")
    val reason = "CASE " + QualityRules.zip(rules).map { case (name, (_, e)) =>
      s"WHEN NOT ($e) THEN '$name'"
    }.mkString(" ") + " ELSE NULL END"
    s"""SELECT doc_id,
          $flagCols,
          ($keep) AS keep,
          $reason AS reason
          FROM $from"""
  }

  /** Gopher-style repetition signals, integer-only: per document, the
    * word count, distinct-word count, and the top word's occurrence
    * count — the raw ingredients of the duplicate-word and top-word
    * fractions that corpus quality filters threshold on (fractions left
    * to the consumer: integer outputs are trivially hash-stable).
    *
    * Distributed shape: explode → (doc, word) count → per-doc aggregate.
    * Two shuffles on narrow keys, map-side partial aggregation on both —
    * never a per-doc loop or a doc-sized array in an aggregation buffer,
    * so a 100-GB document set with million-word outliers still balances.
    */
  def repetitionStats(df: DataFrame, id: String, text: String): DataFrame = {
    val w = df.select(col(id), explode(words(col(text))).as("__w"))
    w.groupBy(col(id), col("__w")).agg(count(lit(1)).as("__c"))
      .groupBy(col(id)).agg(
        sum(col("__c")).cast("long").as("n_words"),
        count(lit(1)).cast("long").as("n_distinct"),
        max(col("__c")).cast("long").as("top_word_cnt"))
  }

  // --- PII redaction (training-data scrubbing) ---

  /** Redaction patterns, applied in order: email first (so the phone
    * rule cannot half-eat a mailbox's digits), IP before phone (the
    * phone character class admits dots, so a bare IPv4 would otherwise
    * read as a phone number). Kept ERE-portable: the same pattern
    * strings run in Spark's regexp_replace (Java regex) and DuckDB's
    * (RE2, 'g' flag).
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}" -> "<IP>",
    "\\+?[0-9][0-9() .-]{7,}[0-9]" -> "<PHONE>")

  /** Scrub emails / phone numbers / IPv4s from a text column — pure
    * regexp_replace chain, codegen'd, zero shuffle.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, tag)) =>
      regexp_replace(c, pat, tag)
    }

  /** The same redaction as DuckDB SQL text over expression `s` (DuckDB
    * string literals do NOT process backslashes, so the pattern embeds
    * verbatim — only quotes need escaping).
    */
  def redactPiiSql(s: String): String =
    PiiPatterns.foldLeft(s) { case (e, (pat, tag)) =>
      s"regexp_replace($e, '${pat.replace("'", "''")}', '$tag', 'g')"
    }

  /** Vocabulary construction with a relative frequency cutoff plus the
    * out-of-vocabulary rate it induces — the tokenizer-prep step: words
    * with count ≥ total_words div `cutoffDenom` enter the vocabulary;
    * the summary row reports vocab size, kept/OOV token totals (the
    * coverage a tokenizer built on this vocab would achieve). The
    * relative cutoff makes the operator scale-invariant — the same
    * denominator means the same vocabulary share at any corpus size.
    *
    * Distributed shape: one wordcount shuffle (map-side combined), a
    * 1-row broadcast of total_words onto the (small) count table, then
    * a single global summary — never a driver-side vocabulary.
    */
  def vocabSummary(df: DataFrame, textCol: String, cutoffDenom: Long): DataFrame = {
    val counts = df.select(explode(words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).cast("long").as("total_words"))
    counts.crossJoin(broadcast(total))
      .withColumn("in_vocab", col("c") >= expr(s"total_words div $cutoffDenom"))
      .agg(
        sum(when(col("in_vocab"), 1L).otherwise(0L)).cast("long").as("n_vocab"),
        sum(when(col("in_vocab"), col("c")).otherwise(0L)).cast("long").as("kept_tokens"),
        sum(when(!col("in_vocab"), col("c")).otherwise(0L)).cast("long").as("oov_tokens"),
        max(col("total_words")).as("total_words"))
  }

  /** The same summary as DuckDB SQL over the documents table. */
  def vocabSummarySql(cutoffDenom: Long): String =
    s"""WITH wc AS (SELECT w, COUNT(*) AS c
                    FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents) t
                    GROUP BY w),
             tw AS (SELECT CAST(SUM(c) AS BIGINT) AS total_words FROM wc)
        SELECT CAST(SUM(CASE WHEN c >= total_words // $cutoffDenom THEN 1 ELSE 0 END) AS BIGINT) AS n_vocab,
               CAST(SUM(CASE WHEN c >= total_words // $cutoffDenom THEN c ELSE 0 END) AS BIGINT) AS kept_tokens,
               CAST(SUM(CASE WHEN c < total_words // $cutoffDenom THEN c ELSE 0 END) AS BIGINT) AS oov_tokens,
               MAX(total_words) AS total_words
        FROM wc, tw"""

  // -------------------------------------------------------------------
  // Unicode token mode — the text tier without the Latin-only blind spot
  // -------------------------------------------------------------------

  /** Unicode token class: letter/mark/number runs. `\p{M}` (combining
    * marks) is included deliberately — without it every Devanagari,
    * Thai, or vocalized-Arabic word shatters at its vowel signs into
    * 1-letter fragments, and the mean-token-length rule then rejects
    * the document the same way the ASCII class did. The identical
    * pattern string runs in Spark (Java regex) and DuckDB (RE2): both
    * support the one-letter Unicode general categories, and the fixture
    * spec pins byte-identical tokenization across the six scripts.
    *
    * The reference's line source is charset-agnostic `Text`
    * (reference: src/Data/Conduino/Combinators.hs:263-275); this mode
    * extends that property through the token-consuming tier, where the
    * ASCII [[tokens]] class silently yielded zero tokens for every
    * non-Latin document.
    */
  val TokenPatternUnicode = "[\\p{L}\\p{M}\\p{N}]+"

  /** Unicode-mode token extraction (script-agnostic [[tokens]]). */
  def tokensU(text: Column): Column =
    regexp_extract_all(text, lit(TokenPatternUnicode), lit(0))

  /** [[StopWords]] extended beyond Latin scripts — Russian, Arabic,
    * Greek, Hindi, Japanese function words (Japanese assumes spaced /
    * wakachigaki or upstream-segmented text: unsegmented CJK needs a
    * segmenter before ANY word-level statistic, which is out of scope
    * for a tokenizer-prep tier and documented as such).
    */
  val StopWordsUnicode: Map[String, Seq[String]] = StopWords ++ Map(
    "ru" -> Seq("и", "в", "не", "на"),
    "ar" -> Seq("في", "من", "على", "أن"),
    "el" -> Seq("και", "το", "η", "να"),
    "hi" -> Seq("है", "और", "के", "में"),
    "ja" -> Seq("は", "の", "に", "を"),
    // round-13: the legacy-charset tier (euc-kr / gbk / big5) made
    // Korean and Chinese pages first-class — lang-ID must cover them
    // (both assume spaced or upstream-segmented text, the ja caveat)
    "ko" -> Seq("는", "을", "이", "가"),
    "zh" -> Seq("的", "在", "上", "了"))

  /** Multilingual fixture texts, one per language key, pure non-Latin
    * scripts (plus umlaut-German): rendered ONCE here and mirrored
    * verbatim into the oracle SQL, so both engines tokenize the exact
    * same bytes. Each text passes the Unicode quality battery (≥5
    * tokens, mean token length in [2,12], contains its language's
    * stopwords) — the fixture EXISTS to prove the battery does not
    * zero out non-Latin documents.
    */
  val UnicodeFixture: Seq[(String, String)] = Seq(
    "de" -> "Die große Katze schläft ruhig und zufrieden im warmen Zimmer.",
    "ru" -> "Большая собака бежит по зелёному полю и громко лает на рассвете.",
    "ar" -> "الشمس تشرق فوق الجبال العالية في كل صباح جميل هنا.",
    "el" -> "Η μικρή γάτα κοιμάται ήσυχα στο ζεστό δωμάτιο και ονειρεύεται.",
    "hi" -> "बिल्ली गरम कमरे में चुपचाप सोती है और सपने देखती है।",
    "ja" -> "コンピュータ は プログラム を 高速 に 実行 します 。")

  /** The multilingual corpus as a DataFrame: every `documents` doc_id
    * keyed round-robin onto one of the six fixture texts — deterministic
    * in both engines, so vocab counts scale with the table while the
    * token inventory stays the controlled six-script set.
    */
  def unicodeFixture(df: DataFrame, idCol: String): DataFrame = {
    val n = UnicodeFixture.size
    val langArr = array(UnicodeFixture.map(p => lit(p._1)): _*)
    val textArr = array(UnicodeFixture.map(p => lit(p._2)): _*)
    val slot = (col(idCol) % n).cast("int") + 1
    df.select(col(idCol).as("doc_id"),
      element_at(langArr, slot).as("lang"),
      element_at(textArr, slot).as("text"))
  }

  /** The identical fixture as a DuckDB CTE body over `documents`. */
  def unicodeFixtureSql: String = {
    val langs = UnicodeFixture.map(p => s"'${p._1}'").mkString(", ")
    val texts = UnicodeFixture.map(p => s"'${p._2.replace("'", "''")}'").mkString(", ")
    s"""SELECT doc_id,
          list_extract([$langs], (doc_id % ${UnicodeFixture.size})::INT + 1) AS lang,
          list_extract([$texts], (doc_id % ${UnicodeFixture.size})::INT + 1) AS text
        FROM documents"""
  }

  /** [[vocabSummary]] over Unicode tokens instead of space-words: the
    * same one-shuffle wordcount + 1-row broadcast total, script-
    * agnostic. Same distributed shape, same scale envelope.
    */
  def vocabSummaryUnicode(df: DataFrame, textCol: String, cutoffDenom: Long): DataFrame = {
    val counts = df.select(explode(tokensU(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).cast("long").as("total_words"))
    counts.crossJoin(broadcast(total))
      .withColumn("in_vocab", col("c") >= expr(s"total_words div $cutoffDenom"))
      .agg(
        sum(when(col("in_vocab"), 1L).otherwise(0L)).cast("long").as("n_vocab"),
        sum(when(col("in_vocab"), col("c")).otherwise(0L)).cast("long").as("kept_tokens"),
        sum(when(!col("in_vocab"), col("c")).otherwise(0L)).cast("long").as("oov_tokens"),
        max(col("total_words")).as("total_words"))
  }

  /** DuckDB mirror of [[vocabSummaryUnicode]] over a FROM source. */
  def vocabSummaryUnicodeSql(cutoffDenom: Long, from: String): String =
    s"""WITH wc AS (SELECT w, COUNT(*) AS c
                    FROM (SELECT UNNEST(regexp_extract_all(text, '$TokenPatternUnicode')) AS w
                          FROM $from) t
                    GROUP BY w),
             tw AS (SELECT CAST(SUM(c) AS BIGINT) AS total_words FROM wc)
        SELECT CAST(SUM(CASE WHEN c >= total_words // $cutoffDenom THEN 1 ELSE 0 END) AS BIGINT) AS n_vocab,
               CAST(SUM(CASE WHEN c >= total_words // $cutoffDenom THEN c ELSE 0 END) AS BIGINT) AS kept_tokens,
               CAST(SUM(CASE WHEN c < total_words // $cutoffDenom THEN c ELSE 0 END) AS BIGINT) AS oov_tokens,
               MAX(total_words) AS total_words
        FROM wc, tw"""

  /** The quality battery in Unicode mode: the same five auditable rules
    * as [[qualityFilter]] (same names, same integer cross-multiplied
    * thresholds) computed over [[tokensU]] instead of space-words, so a
    * Cyrillic / Arabic / Greek / Devanagari / spaced-CJK document is
    * judged on its actual tokens instead of being zeroed by the ASCII
    * token class. Differences from the ASCII battery, both forced by
    * script-agnosticism:
    *   - mean token length sums REAL token lengths (counted as the
    *     text's token-class characters — `length` after deleting
    *     non-token chars, an identity with sum-of-token-lengths that
    *     keeps the whole rule codegen'd, no HOF fold) instead of the
    *     single-space-joined `nC - nW + 1` identity;
    *   - the stopword rule draws from [[StopWordsUnicode]];
    *   - the digit rule counts `\p{N}`, not `[0-9]`.
    * Still a map-only pass — per-row column expressions, zero shuffle.
    */
  def qualityFilterUnicode(df: DataFrame, idCol: String, textCol: String,
                           carry: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    val toks = tokensU(t)
    val nW = size(toks).cast("long")
    val nC = length(t).cast("long")
    val nDistinct = size(array_distinct(toks)).cast("long")
    val allStops = StopWordsUnicode.values.flatten.toSeq.distinct
    val nStops = graft.functions.CountInSet.count_in_set(toks, allStops)
    val nDigits = nC - length(regexp_replace(t, "[\\p{N}]", "")).cast("long")
    val sumTokChars =
      length(regexp_replace(t, s"[^\\p{L}\\p{M}\\p{N}]", "")).cast("long")
    val okLen = nW >= MinWords
    val okWordLen = (sumTokChars >= nW * WordLenLo) && (sumTokChars <= nW * WordLenHi)
    val okStop = nStops * 20L >= nW
    val okDistinct = nDistinct * 10L >= nW * 3L
    val okDigit = nDigits * 10L <= nC * 3L
    val flags = Seq(okLen, okWordLen, okStop, okDistinct, okDigit)
    val reason = QualityRules.zip(flags).reverse
      .foldLeft(lit(null).cast("string")) { case (els, (name, ok)) =>
        when(!ok, lit(name)).otherwise(els)
      }
    df.select((col(idCol) +: carry.map(col)) ++
      flags.zip(Seq("ok_len", "ok_word_len", "ok_stop", "ok_distinct", "ok_digit"))
        .map { case (c, n) => c.as(n) } ++
      Seq(flags.reduce(_ && _).as("keep"), reason.as("reason")): _*)
  }

  /** DuckDB mirror of [[qualityFilterUnicode]] over a FROM source. */
  def qualityFilterUnicodeSql(from: String, carry: Seq[String] = Nil): String = {
    val pat = TokenPatternUnicode
    val sq = StopWordsUnicode.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString(", ")
    val toks = s"regexp_extract_all(text, '$pat')"
    val nW = s"len($toks)::BIGINT"
    val nC = "length(text)::BIGINT"
    val nDistinct = s"len(list_distinct($toks))::BIGINT"
    val nStops = s"len(list_filter($toks, w -> w IN ($sq)))::BIGINT"
    val nDigits = s"($nC - length(regexp_replace(text, '[\\p{N}]', '', 'g'))::BIGINT)"
    val sumTok = s"length(regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]', '', 'g'))::BIGINT"
    val rules = Seq(
      "ok_len" -> s"$nW >= $MinWords",
      "ok_word_len" -> s"($sumTok >= $nW * $WordLenLo AND $sumTok <= $nW * $WordLenHi)",
      "ok_stop" -> s"$nStops * 20 >= $nW",
      "ok_distinct" -> s"$nDistinct * 10 >= $nW * 3",
      "ok_digit" -> s"$nDigits * 10 <= $nC * 3")
    val flagCols = rules.map { case (n, e) => s"($e) AS $n" }.mkString(",\n          ")
    val keep = rules.map(r => s"(${r._2})").mkString(" AND ")
    val reason = "CASE " + QualityRules.zip(rules).map { case (name, (_, e)) =>
      s"WHEN NOT ($e) THEN '$name'"
    }.mkString(" ") + " ELSE NULL END"
    val carryCols = carry.map(c => s"$c, ").mkString
    s"""SELECT doc_id, $carryCols
          $flagCols,
          ($keep) AS keep,
          $reason AS reason
          FROM $from"""
  }

  /** Unicode script classes for the composition profile. Java regex and
    * RE2 spell script properties differently (`\p{IsCyrillic}` vs
    * `\p{Cyrillic}`) — the pair carries both spellings of the SAME
    * Unicode script property, so membership agrees even though the
    * pattern strings cannot be shared verbatim like the token class.
    */
  val ScriptClasses: Seq[(String, String, String)] = Seq(
    ("latin", "\\p{IsLatin}", "\\p{Latin}"),
    ("cyrillic", "\\p{IsCyrillic}", "\\p{Cyrillic}"),
    ("greek", "\\p{IsGreek}", "\\p{Greek}"),
    ("arabic", "\\p{IsArabic}", "\\p{Arabic}"),
    ("devanagari", "\\p{IsDevanagari}", "\\p{Devanagari}"),
    ("han", "\\p{IsHan}", "\\p{Han}"),
    ("hiragana", "\\p{IsHiragana}", "\\p{Hiragana}"),
    ("katakana", "\\p{IsKatakana}", "\\p{Katakana}"),
    // round-13: the charset tier put Korean pages in the corpus — a
    // script audit that can't SEE Hangul would class them 'other'
    ("hangul", "\\p{IsHangul}", "\\p{Hangul}"))

  /** Per-document script composition — the language-mix audit a
    * multilingual corpus build gates on (a "Latin" corpus with 40%
    * Cyrillic chars is a crawl-routing bug; a CJK doc split across
    * Han/kana columns shows whether it is Japanese or Chinese). One
    * map-only pass: per script class, count = n_chars − length after
    * deleting the class (all counts code-point-exact in both engines).
    * Emits (doc_id, n_chars, n_<class>…, n_other) with n_other =
    * everything outside all eight classes (spaces, punctuation, digits,
    * unlisted scripts).
    */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nC = length(t).cast("long")
    val classCols = ScriptClasses.map { case (name, javaCls, _) =>
      (nC - length(regexp_replace(t, javaCls, "")).cast("long")).as(s"n_$name")
    }
    // n_other derives from the ALIASED class columns in a second select
    // — each script regex runs once per row structurally, not by
    // hoping the optimizer CSEs sixteen identical regexp_replaces
    val sumClasses = ScriptClasses.map(c => col(s"n_${c._1}")).reduce(_ + _)
    df.select(col(idCol) +: nC.as("n_chars") +: classCols: _*)
      .withColumn("n_other", col("n_chars") - sumClasses)
  }

  /** DuckDB mirror of [[scriptProfile]] over a FROM source. */
  def scriptProfileSql(from: String): String = {
    val cols = ScriptClasses.map { case (name, _, re2Cls) =>
      s"""(length(text) - length(regexp_replace(text, '$re2Cls', '', 'g')))::BIGINT AS n_$name"""
    }.mkString(",\n          ")
    val sum = ScriptClasses.map(c => s"n_${c._1}").mkString(" + ")
    s"""SELECT *, (n_chars - ($sum))::BIGINT AS n_other FROM
          (SELECT doc_id, length(text)::BIGINT AS n_chars,
             $cols
           FROM $from) p"""
  }

  /** Language ID in Unicode mode: the [[langId]] argmax-with-
    * alphabetical-tie-break over [[StopWordsUnicode]] membership of
    * [[tokensU]] tokens — one map-only pass over every language in
    * [[StopWordsUnicode]] (eleven since the ko/zh additions, spanning
    * Latin/Cyrillic/Arabic/Greek/Devanagari/CJK/Hangul scripts).
    */
  def langIdUnicode(text: Column): Column = {
    val langs = StopWordsUnicode.keys.toSeq.sorted
    val toks = tokensU(text)
    val scores = langs.map { l =>
      l -> graft.functions.CountInSet.count_in_set(toks, StopWordsUnicode(l))
    }
    val best = scores.foldLeft(lit(0L)) { case (acc, (_, s)) => greatest(acc, s) }
    scores.reverse.foldLeft(lit("unknown")) { case (els, (l, s)) =>
      when(s > 0 && s === best, lit(l)).otherwise(els)
    }
  }

  /** DuckDB mirror of [[langIdUnicode]] over a FROM source carrying
    * (doc_id, text).
    */
  def langIdUnicodeSql(from: String): String = {
    val langs = StopWordsUnicode.keys.toSeq.sorted
    def score(l: String): String = {
      val in = StopWordsUnicode(l).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(regexp_extract_all(text, '$TokenPatternUnicode'), w -> w IN ($in)))"
    }
    val scored = langs.map(l => s"${score(l)} AS s_$l").mkString(", ")
    val cases = langs.zipWithIndex.map { case (l, i) =>
      val later = langs.drop(i + 1).map(m => s"s_$l >= s_$m")
      val conds = (s"s_$l > 0" +: later).mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, CASE $cases ELSE 'unknown' END AS lang_pred
        FROM (SELECT doc_id, $scored FROM $from) s"""
  }

  /** Global top-k bigram statistics — the corpus n-gram profile used for
    * boilerplate discovery and contamination screens. One shuffle (the
    * pair count, map-side combined); the top-k is `orderBy.limit`, which
    * Spark plans as TakeOrderedAndProject — a per-partition heap + k-row
    * merge on the driver, NEVER a global sort, so the plan survives a
    * bigram vocabulary that dwarfs one task. The (cnt desc, w1, w2)
    * order is total, making the cut deterministic for the oracle.
    */
  def topBigrams(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val ws = df.select(words(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= 2)
    ws.select(explode(expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** PMI collocation mining: score every bigram that occurs ≥ `minCount`
    * times by pointwise mutual information against the corpus bigram
    * distribution —
    *   pmi = ln( N · c(w1,w2) / (cL(w1) · cR(w2)) )
    * with cL/cR the word's occurrence counts as LEFT/RIGHT bigram member
    * and N the total bigram count (the standard collocation statistic:
    * high PMI = the pair co-occurs far above chance — named entities,
    * idioms, boilerplate templates). The count threshold comes FIRST:
    * rare pairs have unboundedly noisy PMI, and it also bounds the join
    * fan-in. Scores are micro-scaled BIGINTs per the [[Relevance]]
    * convention (ln is the one non-correctly-rounded op).
    *
    * Distributed shape: three map-side-combined count aggregates over
    * the same bigram stream (pair, left-marginal, right-marginal), the
    * scalar N a broadcast 1-row attach; the scoring join keys are narrow
    * strings and the pair side is already `minCount`-pruned. No window,
    * no sort, no driver state.
    */
  def pmiCollocations(df: DataFrame, textCol: String, minCount: Long): DataFrame = {
    val bg = df.select(words(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // the UNFILTERED pair table is a sufficient statistic: marginals and
    // the grand total are its re-aggregations (cl = Σ_w2 c12 etc.), so
    // the corpus is exploded and aggregated ONCE and materialized at
    // ≤ |vocab|² rows — the prior four-consumer form re-scanned the raw
    // bigram stream per marginal, 4× the dominant cost at any scale
    val pairAll = graft.core.Materialize.checkpoint(
      bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    val pair  = pairAll.filter(col("c12") >= minCount)
    val left  = pairAll.groupBy(col("w1")).agg(sum(col("c12")).as("cl"))
    val right = pairAll.groupBy(col("w2")).agg(sum(col("c12")).as("cr"))
    val total = pairAll.agg(sum(col("c12")).as("n"))
    val pmi = floor(log((col("c12") * col("n")).cast("double") /
      (col("cl") * col("cr")).cast("double")) * lit(1e6) + lit(0.5)).cast("long")
    pair.join(left, "w1").join(right, "w2").crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"), pmi.as("pmi_micro"))
  }

  /** DuckDB mirror of [[pmiCollocations]] over the documents table. */
  def pmiCollocationsSql(minCount: Long): String =
    s"""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        bgf AS (SELECT u.w1 AS w1, u.w2 AS w2
                FROM (SELECT UNNEST([{'w1': ws[i+1], 'w2': ws[i+2]}
                                     for i in range(0, len(ws) - 1)]) AS u
                      FROM w WHERE len(ws) >= 2) t),
        pair AS (SELECT w1, w2, COUNT(*) AS c12 FROM bgf GROUP BY 1, 2
                 HAVING COUNT(*) >= $minCount),
        lc AS (SELECT w1, COUNT(*) AS cl FROM bgf GROUP BY 1),
        rc AS (SELECT w2, COUNT(*) AS cr FROM bgf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n FROM bgf)
        SELECT w1, w2, c12,
               CAST(FLOOR(ln((c12 * n)::DOUBLE / (cl * cr)::DOUBLE) * 1000000 + 0.5) AS BIGINT)
                 AS pmi_micro
        FROM pair JOIN lc USING (w1) JOIN rc USING (w2), n"""

  /** KenLM-style corpus-LM quality scoring: train an add-one-smoothed
    * bigram model ON the corpus, then score every document by its summed
    * log-probability — the "does this doc read like the corpus" filter
    * (gibberish, boilerplate, and wrong-language docs score low).
    * `P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)`; output per doc:
    * `n_bigrams` and `lp_micro = Σ floor(ln(P)·1e6 + 0.5)` — the
    * micro-scaled-BIGINT convention of [[Relevance]] (ln() is the one
    * non-correctly-rounded op, so sums run over integers: order-free,
    * engine-exact). Consumers threshold on `lp_micro / n_bigrams`.
    *
    * Distributed shape: train = two map-side-combined count aggregates
    * (bigram and unigram — the model IS a pair of count tables, no
    * driver state); score = the bigram stream joins its two count
    * tables on narrow string keys and re-aggregates per doc. Every
    * shuffle is on (w1[,w2]) or doc id; at 100 TB the count tables
    * partition-join (or broadcast, if the vocab is capped) and AQE
    * handles hot-bigram skew. Docs with < 2 words keep a (0, 0) row —
    * total output, no silent drops.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = df.select(col(idCol), words(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col(idCol), explode(expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val uni = df.select(explode(words(col(textCol))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    // materialized at ≤ |vocab|² rows: the scoring join below would
    // otherwise recompute this aggregate's full corpus explode as its
    // build side — the [[pmiCollocations]] single-scan discipline
    val big = graft.core.Materialize.checkpoint(
      bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    val lp = floor(log((col("c12") + lit(1L)).cast("double") /
      (col("c1") + col("v")).cast("double")) * lit(1e6) + lit(0.5)).cast("long")
    val perDoc = bg.join(big, Seq("w1", "w2")).join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol), lp.as("lp"))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_bigrams"), sum(col("lp")).as("lp_micro"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lp_micro"), lit(0L)).as("lp_micro"))
  }

  /** HELD-OUT bigram LM evaluation — the train/eval discipline
    * [[bigramLmScore]] (which trains and scores on the same corpus)
    * deliberately skips: counts come from the `isTrain` partition only,
    * and every NON-train doc is scored against them with add-one
    * smoothing, unseen words and bigrams included (`COALESCE(c,0)` on
    * both join legs — a backoff-free smoothed LM, so no row is ever
    * dropped for being out-of-vocabulary). Output per held-out doc:
    * `(idCol, n_bigrams, lp_micro)`; `lp_micro / n_bigrams` is the
    * per-bigram log-likelihood whose negation is log-perplexity — the
    * quality signal a curation pipeline thresholds on. Train side must
    * be non-empty (an empty vocab makes the smoothing denominator 0).
    *
    * Scale shape: identical to [[bigramLmScore]] — the train corpus
    * collapses to checkpointed count tables (≤|vocab|² rows), the
    * held-out side joins them on narrow string keys; LEFT joins instead
    * of inner are the only plan difference, and AQE still handles
    * hot-bigram skew.
    */
  def heldOutLmScore(df: DataFrame, idCol: String, textCol: String,
                     isTrain: Column): DataFrame = {
    val train = df.filter(isTrain)
    val heldOut = df.filter(!isTrain)
    // checkpointed: both the vocab total and the scoring join consume
    // this table — without it each consumer re-explodes the train corpus
    val uni = graft.core.Materialize.checkpoint(
      train.select(explode(words(col(textCol))).as("w1"))
        .groupBy(col("w1")).agg(count(lit(1)).as("c1")))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = graft.core.Materialize.checkpoint(
      train.select(words(col(textCol)).as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(expr(
          "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1)," +
            " (a, b) -> struct(a AS w1, b AS w2))")).as("bg"))
        .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .agg(count(lit(1)).as("c12")))
    val bgv = heldOut.select(col(idCol), words(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col(idCol), explode(expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val lp = floor(log(
      (coalesce(col("c12"), lit(0L)) + lit(1L)).cast("double") /
        (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")) *
      lit(1e6) + lit(0.5)).cast("long")
    val perDoc = bgv.join(big, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol), lp.as("lp"))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_bigrams"), sum(col("lp")).as("lp_micro"))
    heldOut.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lp_micro"), lit(0L)).as("lp_micro"))
  }

  /** DuckDB mirror of [[heldOutLmScore]]; `trainPred` is the SQL
    * predicate selecting the train partition of `documents`.
    */
  def heldOutLmScoreSql(trainPred: String): String =
    s"""WITH tr AS (SELECT * FROM documents WHERE $trainPred),
        ho AS (SELECT * FROM documents WHERE NOT ($trainPred)),
        uc AS (SELECT w1, COUNT(*) AS c1
               FROM (SELECT UNNEST(string_split(text, ' ')) AS w1 FROM tr) t
               GROUP BY 1),
        v AS (SELECT COUNT(*) AS v FROM uc),
        big AS (SELECT u.w1 AS w1, u.w2 AS w2, COUNT(*) AS c12
                FROM (SELECT UNNEST([{'w1': ws[i+1], 'w2': ws[i+2]}
                                     for i in range(0, len(ws) - 1)]) AS u
                      FROM (SELECT string_split(text, ' ') AS ws FROM tr)
                      WHERE len(ws) >= 2) t
                GROUP BY 1, 2),
        bgf AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2
                FROM (SELECT doc_id, UNNEST([{'w1': ws[i+1], 'w2': ws[i+2]}
                                             for i in range(0, len(ws) - 1)]) AS u
                      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM ho)
                      WHERE len(ws) >= 2) t),
        sc AS (SELECT doc_id,
                 CAST(FLOOR(ln((COALESCE(c12, 0) + 1)::DOUBLE /
                               (COALESCE(c1, 0) + v)::DOUBLE) * 1000000 + 0.5)
                      AS BIGINT) AS lp
               FROM bgf LEFT JOIN big USING (w1, w2) LEFT JOIN uc USING (w1), v),
        agg AS (SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
                  CAST(SUM(lp) AS BIGINT) AS lp_micro
                FROM sc GROUP BY 1)
        SELECT d.doc_id,
               COALESCE(agg.n_bigrams, 0)::BIGINT AS n_bigrams,
               COALESCE(agg.lp_micro, 0)::BIGINT AS lp_micro
        FROM ho d LEFT JOIN agg USING (doc_id)"""

  /** DuckDB mirror of [[bigramLmScore]] over the documents table. */
  def bigramLmScoreSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        bgf AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2
                FROM (SELECT doc_id, UNNEST([{'w1': ws[i+1], 'w2': ws[i+2]}
                                             for i in range(0, len(ws) - 1)]) AS u
                      FROM w WHERE len(ws) >= 2) t),
        uc AS (SELECT w1, COUNT(*) AS c1
               FROM (SELECT UNNEST(string_split(text, ' ')) AS w1 FROM documents) t
               GROUP BY 1),
        v AS (SELECT COUNT(*) AS v FROM uc),
        big AS (SELECT w1, w2, COUNT(*) AS c12 FROM bgf GROUP BY 1, 2),
        sc AS (SELECT doc_id,
                 CAST(FLOOR(ln((c12 + 1)::DOUBLE / (c1 + v)::DOUBLE) * 1000000 + 0.5) AS BIGINT) AS lp
               FROM bgf JOIN big USING (w1, w2) JOIN uc USING (w1), v),
        agg AS (SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
                  CAST(SUM(lp) AS BIGINT) AS lp_micro
                FROM sc GROUP BY 1)
        SELECT d.doc_id,
               COALESCE(agg.n_bigrams, 0)::BIGINT AS n_bigrams,
               COALESCE(agg.lp_micro, 0)::BIGINT AS lp_micro
        FROM documents d LEFT JOIN agg USING (doc_id)"""

  /** DuckDB mirror of [[topBigrams]] over the documents table. */
  def topBigramsSql(k: Int): String =
    s"""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
            bg AS (SELECT UNNEST([{'w1': ws[i+1], 'w2': ws[i+2]}
                                  for i in range(0, len(ws) - 1)]) AS u
                   FROM w WHERE len(ws) >= 2)
        SELECT u.w1 AS w1, u.w2 AS w2, COUNT(*) AS cnt
        FROM bg GROUP BY 1, 2
        ORDER BY cnt DESC, w1, w2 LIMIT $k"""

  /** Fixed-size word chunking for training-sample preparation: one row
    * per chunk of up to `chunkWords` words, with the chunk index — the
    * fan-out shape of context-window packing. Pure explode, no shuffle;
    * chunk count per doc is ceil(n_words / chunkWords).
    */
  def chunkWords(df: DataFrame, idCol: String, textCol: String,
                 chunkWords: Int): DataFrame = {
    val w = words(col(textCol))
    df.select(col(idCol), w.as("__w"))
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(0), ((size(col("__w")) - 1) / chunkWords).cast("int")),
          i => concat_ws(" ", slice(col("__w"), i * chunkWords + 1, lit(chunkWords)))))
          .as(Seq("chunk_no", "chunk")))
      .select(col(idCol), col("chunk_no").cast("long").as("chunk_no"), col("chunk"))
  }

  /** Overlapping sliding-window chunking: chunks of `chunkWords` words
    * starting every `stride` words (stride < chunkWords ⇒ consecutive
    * chunks overlap by `chunkWords - stride` — the long-document
    * training shape where context must not be cut at hard boundaries;
    * stride = chunkWords degenerates to [[chunkWords]]' disjoint form).
    * Start count per doc is ceil(n_words / stride), so the fan-out is
    * `chunkWords / stride`× the input — same zero-shuffle generator
    * plan as the disjoint chunker, just denser starts.
    */
  def chunkWordsStride(df: DataFrame, idCol: String, textCol: String,
                       chunkWords: Int, stride: Int): DataFrame = {
    require(stride >= 1 && stride <= chunkWords,
      s"stride must be in [1, chunkWords]; got stride=$stride chunk=$chunkWords")
    val w = words(col(textCol))
    df.select(col(idCol), w.as("__w"))
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(0), ((size(col("__w")) - 1) / stride).cast("int")),
          i => concat_ws(" ", slice(col("__w"), i * stride + 1, lit(chunkWords)))))
          .as(Seq("chunk_no", "chunk")))
      .select(col(idCol), col("chunk_no").cast("long").as("chunk_no"), col("chunk"))
  }

  /** Adjacent character-pair frequencies over alnum tokens — the BPE
    * trainer's inner-loop statistic (which symbol pair to merge next is
    * argmax of exactly this table). Tokens are `[A-Za-z0-9]+` runs
    * ([[tokens]]), so pairs are pure ASCII and the count is
    * engine-portable byte-for-byte.
    *
    * Plan: explode tokens → explode each token's `len-1` adjacent pairs
    * (a `transform(sequence(...))` — one generator, no join, no UDF) →
    * ONE hash aggregate on the pair. The fan-out is ~chars-proportional,
    * the shuffle carries only (2-char key, partial count) pairs with
    * map-side combine — the aggregate's key space is ≤ 62², so the
    * reduce side is trivially small at any corpus size. `minCount`
    * filters AFTER the aggregate (a HAVING, not a WHERE).
    */
  /** Multi-round BPE merge learning — the tokenizer-training loop the
    * one-shot [[charPairCounts]] table only approximates. Returns the
    * learned merge table `(round, lhs, rhs, n)`: per round, the
    * highest-frequency adjacent token pair over the corpus (ties broken
    * `n DESC, lhs ASC, rhs ASC` — total order, engine-portable for the
    * `[A-Za-z0-9]+` token alphabet where UTF-8 and UTF-16 orders agree),
    * which is then merged everywhere before the next round recounts.
    *
    * Scale shape (the 100-TB story): ONE corpus scan builds the
    * word-TYPE histogram `(seq, freq)` — the classic sufficient
    * statistic, vocab-bounded (~10⁵·avg-word-len rows regardless of
    * corpus size) — and collects it once: the driver-size commitment
    * the encode step ([[tokenizeIds]]) already makes when it collects
    * the final state. Every round then runs on the driver with no Spark
    * job: pair counts summed over `freq`, the argmax by `n DESC, lhs ASC,
    * rhs ASC` in UTF-8 byte order (`UTF8String.compareTo`, Spark's string
    * order; Java's UTF-16 `String.compareTo` differs above U+FFFF), and
    * the merge rewrite below. The merge table and the final state leave
    * as local relations.
    *
    * Merge application contract (pinned so the DuckDB oracle can mirror
    * it exactly): tokens live space-joined in `seq`; applying merge
    * `(l, r)` is a SINGLE left-to-right non-overlapping pass of
    * `replace(' '||seq||' ', ' l r ', ' lr ')` — the identical semantics
    * of Spark SQL `replace` and DuckDB `replace`. A run like `a a a a`
    * therefore merges to `aa a a` in the round it is first hit (the
    * separator consumed by a match hides the immediately following
    * occurrence) rather than greedy BPE's `aa aa`; the remaining pairs
    * surface in later rounds, and real tokenizers differ on exactly this
    * run-handling detail anyway. What matters is that the rule is
    * deterministic and identical in both engines. Stops early (fewer
    * than `rounds` rows) if no multi-token word remains.
    */
  def bpeLearn(df: DataFrame, textCol: String, rounds: Int,
               tokenPattern: String = TokenPattern): DataFrame =
    bpeRun(df, textCol, rounds, tokenPattern)._1

  private val MergeSchema = StructType(Seq(StructField("round", IntegerType, nullable = false),
    StructField("lhs", StringType), StructField("rhs", StringType),
    StructField("n", LongType, nullable = false)))

  /** [[bpeLearn]] plus the post-training word-type state `(seq, freq)`
    * — the segmentation artifact [[bpeApply]] joins back onto the
    * corpus. Same single computation; `_1` is the merge table.
    */
  def bpeRun(df: DataFrame, textCol: String, rounds: Int,
             tokenPattern: String = TokenPattern): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    // the token ALPHABET is a parameter (ASCII default; pass
    // TokenPatternUnicode for the script-agnostic trainer): everything
    // downstream — char split, pair argmax tie-break, merge replace —
    // is code-point-based and agrees across engines for ALL of Unicode
    // (Spark's UTF8String binary order == DuckDB's UTF-8 order == code
    // point order; substring/char_length/substr/len all count code
    // points), so the alphabet is the only Latin-specific piece
    val hist = df.select(
        explode(regexp_extract_all(col(textCol), lit(tokenPattern), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(concat_ws(" ", expr(
        "transform(sequence(1, char_length(w)), i -> substring(w, i, 1))"))
        .as("seq"), col("freq"))
    var vocab = GraftRowBridge.collectBinary(hist).map(r => (r.getUTF8String(0).toString, r.getLong(1)))
    val utf8 = Ordering.fromLessThan[String] { (a, b) =>
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((seq, freq) <- vocab) {
        val t = seq.split(" ", -1)
        for (i <- 0 until t.length - 1) {
          val k = (t(i), t(i + 1))
          pairs(k) = pairs.getOrElse(k, 0L) + freq
        }
      }
      if (pairs.isEmpty) exhausted = true
      else {
        val ((l, rr), n) = pairs.minBy { case ((a, b), n) => (-n, a, b) }(
          Ordering.Tuple3(Ordering.Long, utf8, utf8))
        merges += ((r, l, rr, n))
        // Spark SQL's own replace and (space-only) trim, on its strings
        val (from, to) = (UTF8String.fromString(s" $l $rr "), UTF8String.fromString(s" $l$rr "))
        vocab = vocab.map { case (seq, freq) =>
          (UTF8String.fromString(s" $seq ").replace(from, to).trim().toString, freq)
        }
      }
      r += 1
    }
    // both leave as binary local relations: no encoder, no decoder
    val str = UTF8String.fromString _
    (GraftRowBridge.local(spark, MergeSchema,
      merges.toSeq.map { case (r, l, rr, n) => InternalRow(r, str(l), str(rr), n) }),
      GraftRowBridge.local(spark, hist.schema,
        vocab.toSeq.map { case (q, f) => InternalRow(str(q), f) }))
  }

  /** Segment the corpus with a trained BPE state: per document, the
    * subword-token count under the learned merges — the "how many
    * tokens will this doc cost me" accounting every context-window
    * budgeter needs, and the apply half of the train→apply loop.
    *
    * Plan shape: word-occurrence explode → broadcast equi-join against
    * the |word types|-row segmentation map (word → subword count,
    * derived from [[bpeRun]]'s final state by despacing `seq`) → one
    * per-doc aggregate. The map is vocab-bounded, so the join
    * broadcasts at any corpus size; unseen words (none when the state
    * was trained on this same corpus) fall back to their character
    * count — the merge-free segmentation.
    */
  /** vocabState → (w, n_sub) segmentation map, shared by [[bpeApply]]
    * and [[chunkByTokens]]. A caller-supplied state whose rows collapse
    * to the SAME word after space removal would fan out the occurrence
    * join and silently inflate every count — fail loudly in-plan
    * instead (the selectionCurve distinct-thresholds discipline). The
    * guard is one tiny pre-aggregate over the vocab-bounded state
    * (broadcast-sized by contract): no extra driver job, and
    * [[bpeRun]]-produced states (unique by construction) pay only the
    * aggregate, never the error path.
    */
  private def segMapOf(vocabState: DataFrame): DataFrame =
    vocabState.select(
      call_function("replace", col("seq"), lit(" "), lit("")).as("w"),
      size(split(col("seq"), " ")).cast("long").as("n_sub"))
      .groupBy(col("w"))
      .agg(min(col("n_sub")).as("n_sub"), count(lit(1)).as("n_dup"))
      .select(col("w"),
        when(col("n_dup") > 1, raise_error(concat(
          lit("vocabState rows collapse to a duplicate word key: "),
          col("w"))).cast("long"))
          .otherwise(col("n_sub")).as("n_sub"))

  def bpeApply(df: DataFrame, idCol: String, textCol: String,
               vocabState: DataFrame): DataFrame = {
    val segMap = segMapOf(vocabState)
    df.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .join(broadcast(segMap), Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("n_sub"), char_length(col("w")).cast("long")))
        .as("n_subwords"), count(lit(1)).as("n_words"))
  }

  /** TOKEN-BUDGET chunking under the learned BPE cost model — the
    * context-window prep step where chunk boundaries are measured in
    * TOKENS, not words: each word occurrence costs its subword count
    * from `vocabState`'s segmentation map (character count for unseen
    * words, [[bpeApply]]'s fallback), and a word belongs to the chunk
    * of its starting token OFFSET — `chunk_id = ⌊excl-prefix-sum /
    * budget⌋`, the token-weighted generalization of [[chunkWords]]'s
    * fixed word stride. (Deliberately offset-binning, not greedy
    * first-fit: the bin of a word is a pure function of the prefix sum,
    * so the operator is one per-doc WINDOW — distributed, restart-safe,
    * oracle-reproducible — where greedy reset-at-boundary state would
    * serialize the scan; [[Packing.greedyPack]] covers the greedy
    * shape at document granularity.) Plan: occurrence explode →
    * broadcast vocab-bounded cost join → ONE window partitioned by doc
    * → one aggregate; no global sort, no driver state.
    * Output: (id, chunk_id, n_words, n_tokens) per chunk.
    */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
                    vocabState: DataFrame, budget: Long): DataFrame = {
    require(budget >= 1, s"token budget must be >= 1, got $budget")
    val segMap = segMapOf(vocabState)
    val occ = df.select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "w")))
      .join(broadcast(segMap), Seq("w"), "left")
      .select(col(idCol), col("pos"),
        coalesce(col("n_sub"), char_length(col("w")).cast("long")).as("cost"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    occ.withColumn("off", coalesce(sum(col("cost")).over(wDoc), lit(0L)))
      // DIV, not `/`-then-cast: FP division is only exact for
      // power-of-2 budgets; integral DIV floors identically to the
      // oracle's `//` at any budget and offset
      .groupBy(col(idCol), expr(s"off DIV ${budget}L").as("chunk_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("cost")).as("n_tokens"))
  }

  /** Tokenizer ENCODE — the step [[bpeApply]]'s counts summarize:
    * emit each doc's actual token-ID SEQUENCE under the learned BPE
    * state. Token ids are the lexicographic rank of the distinct
    * subwords in the segmentation state (deterministic and
    * oracle-reproducible — subwords are ASCII alnum, so Scala sort and
    * DuckDB's binary collation agree); an unseen word falls back to
    * per-character tokens, each mapped through the same vocabulary,
    * id −1 for a character the vocabulary lacks (documented sentinel,
    * mirrored in SQL). A null or token-less text encodes to no tokens.
    *
    * Scale shape: the state is collected ONCE (vocab-bounded by the BPE
    * contract — the same driver-size commitment bpeApply's broadcast
    * makes) into a (word → subword ids) hash map and a per-character id
    * table, and every row is encoded by one codegen'd per-row
    * expression ([[graft.functions.BpeEncode]]): no explode, no join,
    * no shuffle, one output row per input row. Output (id, ids:
    * comma-joined, n_tokens) — ids joined to a string because the
    * driver's comparator can't sort array cells (the q_consecutive
    * convention).
    *
    * `idCol` must be unique and non-null: each input row is encoded on
    * its own, so rows sharing an id stay separate rows (the DuckDB
    * mirror regroups by id). Every caller passes a table's or the
    * corpus chain's `doc_id`, which is.
    */
  def tokenizeIds(df: DataFrame, idCol: String, textCol: String,
                  vocabState: DataFrame): DataFrame =
    encodeArrays(df, idCol, textCol, vocabState)
      .select(col(idCol),
        array_join(col("ids").cast("array<string>"), ",").as("ids"),
        size(col("ids")).cast("long").as("n_tokens"))

  /** [[tokenizeIds]] keeping the id ARRAY (column `ids`) — the form
    * [[Packing.packTokenIds]] consumes; same per-row encode, no
    * stringify round-trip. Same unique, non-null `idCol` precondition.
    */
  def tokenizeIdArrays(df: DataFrame, idCol: String, textCol: String,
                       vocabState: DataFrame): DataFrame =
    encodeArrays(df, idCol, textCol, vocabState)

  private def encodeArrays(df: DataFrame, idCol: String, textCol: String,
                           vocabState: DataFrame): DataFrame = {
    val segs = GraftRowBridge.collectBinary(vocabState.select(col("seq")))
      .map { r => val s = r.getUTF8String(0).toString; s.replace(" ", "") -> s.split(" ") }
    require(segs.map(_._1).distinct.length == segs.length,
      "tokenizeIds: vocabState rows collapse to a duplicate word key")
    val vocabIds: Map[String, Long] =
      segs.flatMap(_._2).distinct.sorted.zipWithIndex
        .map { case (s, i) => s -> i.toLong }.toMap
    val words = new java.util.HashMap[UTF8String, Array[Long]](segs.length * 2)
    segs.foreach { case (w, subs) => words.put(UTF8String.fromString(w), subs.map(vocabIds)) }
    // the fallback only ever sees ASCII word characters
    val chars = Array.fill(128)(-1L)
    vocabIds.foreach { case (s, id) => if (s.length == 1 && s.charAt(0) < 128) chars(s.charAt(0)) = id }
    df.select(col(idCol),
      graft.functions.BpeEncode.bpe_encode(col(textCol), words, chars).as("ids"))
  }

  /** The shared encode CTE chain through `idt` (one row per token:
    * __id, wpos, spos, tid) — [[tokenizeIdsSql]] re-aggregates per doc,
    * [[packTokenIdsSql]] per fixed-width pack of the global stream.
    */
  private def tokenizeIdsChainSql(table: String, idCol: String,
                                  textCol: String, rounds: Int): String =
    s"""${bpeChainSql(table, textCol, rounds)},
        seg AS (SELECT replace(seq, ' ', '') AS w, string_split(seq, ' ') AS subs
                FROM v$rounds),
        vocab AS (SELECT sub,
            CAST(row_number() OVER (ORDER BY sub) - 1 AS BIGINT) AS id
          FROM (SELECT DISTINCT UNNEST(subs) AS sub FROM seg)),
        wtok AS (SELECT $idCol AS __id,
            UNNEST(regexp_extract_all($textCol, '[A-Za-z0-9]+')) AS w,
            UNNEST(range(len(regexp_extract_all($textCol, '[A-Za-z0-9]+')))) AS wpos
          FROM $table),
        ws AS (SELECT wtok.__id, wtok.wpos,
                      COALESCE(seg.subs, string_split(wtok.w, '')) AS subs
               FROM wtok LEFT JOIN seg ON seg.w = wtok.w),
        tok AS (SELECT __id, wpos, UNNEST(subs) AS sub,
                       UNNEST(range(len(subs))) AS spos FROM ws),
        idt AS (SELECT __id, wpos, spos, COALESCE(v.id, -1) AS tid
                FROM tok LEFT JOIN vocab v ON v.sub = tok.sub)"""

  /** DuckDB mirror of [[tokenizeIds]] over [[bpeLearnSql]]'s state. */
  def tokenizeIdsSql(table: String, idCol: String, textCol: String,
                     rounds: Int): String =
    s"""WITH ${tokenizeIdsChainSql(table, idCol, textCol, rounds)},
        agg AS (SELECT __id,
                  string_agg(CAST(tid AS VARCHAR), ',' ORDER BY wpos, spos) AS ids,
                  COUNT(*) AS n_tokens
                FROM idt GROUP BY __id)
        SELECT t.$idCol, COALESCE(a.ids, '') AS ids,
               CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens
        FROM $table t LEFT JOIN agg a ON a.__id = t.$idCol"""

  /** DuckDB mirror of [[Packing.packTokenIds]] over the same encode:
    * pack of a token = global-stream-position // budget — the oracle's
    * one global row_number replaces the engine's distributed
    * prefix-sum + per-doc slice tiling, and must produce identical
    * packs.
    */
  def packTokenIdsSql(table: String, idCol: String, textCol: String,
                      rounds: Int, budget: Long,
                      prefixCtes: String = "",
                      recursive: Boolean = false): String =
    s"""WITH ${if (recursive) "RECURSIVE " else ""}${
      if (prefixCtes.nonEmpty) prefixCtes + ",\n" else ""}${
      tokenizeIdsChainSql(table, idCol, textCol, rounds)},
        ord AS (SELECT *, row_number()
                  OVER (ORDER BY __id, wpos, spos) - 1 AS gpos FROM idt)
        SELECT CAST(gpos // $budget AS BIGINT) AS pack_id,
               string_agg(CAST(tid AS VARCHAR), ',' ORDER BY gpos) AS ids,
               COUNT(*) AS n_tokens,
               CAST(COUNT(DISTINCT __id) AS BIGINT) AS n_docs
        FROM ord GROUP BY 1"""

  /** DuckDB mirror of Packing.packTokenIdsWithBounds: the packTokenIds
    * global-row_number formulation plus per-(pack, doc) spans — a doc's
    * tokens are contiguous in gpos, so MIN(gpos) and COUNT(*) per
    * (pack, doc) ARE the span, ordered by in-pack offset.
    */
  def packTokenIdsWithBoundsSql(table: String, idCol: String, textCol: String,
                                rounds: Int, budget: Long,
                                prefixCtes: String = ""): String =
    s"""WITH ${if (prefixCtes.nonEmpty) prefixCtes + ",\n" else ""}${
      tokenizeIdsChainSql(table, idCol, textCol, rounds)},
        ord AS (SELECT *, row_number()
                  OVER (ORDER BY __id, wpos, spos) - 1 AS gpos FROM idt),
        packs AS (SELECT CAST(gpos // $budget AS BIGINT) AS pack_id,
                    string_agg(CAST(tid AS VARCHAR), ',' ORDER BY gpos) AS ids,
                    COUNT(*) AS n_tokens,
                    CAST(COUNT(DISTINCT __id) AS BIGINT) AS n_docs
                  FROM ord GROUP BY 1),
        spans AS (SELECT CAST(gpos // $budget AS BIGINT) AS pack_id, __id,
                    MIN(gpos) AS ming, COUNT(*) AS cnt
                  FROM ord GROUP BY 1, __id),
        bnd AS (SELECT pack_id,
                  string_agg(CAST(__id AS VARCHAR) || ':' ||
                    CAST(ming - pack_id * $budget AS VARCHAR) || ':' ||
                    CAST(cnt AS VARCHAR), ',' ORDER BY ming) AS bounds
                FROM spans GROUP BY 1)
        SELECT p.pack_id, p.ids, p.n_tokens, p.n_docs, b.bounds
        FROM packs p JOIN bnd b USING (pack_id)"""

  /** DuckDB mirror of [[chunkByTokens]] over [[bpeLearnSql]]'s state. */
  def chunkByTokensSql(table: String, idCol: String, textCol: String,
                       rounds: Int, budget: Long): String =
    s"""WITH ${bpeChainSql(table, textCol, rounds)},
        seg AS (SELECT replace(seq, ' ', '') AS w,
                       CAST(len(str_split(seq, ' ')) AS BIGINT) AS n_sub
                FROM v$rounds),
        occ0 AS (SELECT $idCol, l AS l FROM
                   (SELECT $idCol, regexp_extract_all($textCol, '[A-Za-z0-9]+') AS l
                    FROM $table)),
        occ AS (SELECT $idCol, UNNEST(range(len(l))) AS pos, UNNEST(l) AS w FROM occ0),
        costed AS (SELECT occ.$idCol, occ.pos,
                          COALESCE(seg.n_sub, len(occ.w)) AS cost
                   FROM occ LEFT JOIN seg USING (w)),
        offs AS (SELECT $idCol, pos, cost,
                   COALESCE(SUM(cost) OVER (PARTITION BY $idCol ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
                 FROM costed)
        SELECT $idCol, CAST(off // $budget AS BIGINT) AS chunk_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(cost) AS BIGINT) AS n_tokens
        FROM offs GROUP BY $idCol, off // $budget"""

  /** DuckDB mirror of [[bpeApply]] over [[bpeLearnSql]]'s final state.
    * Valid only when all `rounds` merges are achievable (an exhausted
    * round empties the oracle's vocab chain, unlike the Spark driver
    * loop which stops with the state intact) — true for any real
    * corpus and the harness fixture.
    */
  def bpeApplySql(table: String, idCol: String, textCol: String,
                  rounds: Int): String = {
    s"""WITH ${bpeChainSql(table, textCol, rounds)},
        seg AS (SELECT replace(seq, ' ', '') AS w,
                       CAST(len(str_split(seq, ' ')) AS BIGINT) AS n_sub
                FROM v$rounds),
        occ AS (SELECT $idCol, UNNEST(regexp_extract_all($textCol, '[A-Za-z0-9]+')) AS w
                FROM $table)
        SELECT occ.$idCol,
               CAST(SUM(COALESCE(seg.n_sub, len(occ.w))) AS BIGINT) AS n_subwords,
               CAST(COUNT(*) AS BIGINT) AS n_words
        FROM occ LEFT JOIN seg USING (w)
        GROUP BY occ.$idCol"""
  }

  /** DuckDB mirror of [[bpeLearn]]: the driver loop unrolled into a
    * `rounds`-deep CTE chain — pair table, 1-row argmax, merge rewrite
    * per round. An exhausted round yields an empty `b_r`, the cross
    * join empties `v_r`, and every later round stays empty — the same
    * early-stop row count as the Spark side.
    */
  def bpeLearnSql(table: String, textCol: String, rounds: Int,
                  tokenPattern: String = TokenPattern): String = {
    val union = (1 to rounds).map(r => s"SELECT * FROM b$r").mkString(" UNION ALL ")
    s"WITH ${bpeChainSql(table, textCol, rounds, tokenPattern)} " +
      s"SELECT round, lhs, rhs, n FROM ($union)"
  }

  /** The shared learn-chain CTE list (`v0, p1, b1, v1, …, v_rounds`)
    * behind [[bpeLearnSql]] and [[bpeApplySql]].
    */
  private def bpeChainSql(table: String, textCol: String, rounds: Int,
                          tokenPattern: String = TokenPattern): String = {
    val v0 =
      s"""v0 AS (
            SELECT array_to_string(list_transform(range(1, len(w) + 1),
                     i -> substr(w, CAST(i AS INT), 1)), ' ') AS seq,
                   CAST(COUNT(*) AS BIGINT) AS freq
            FROM (SELECT UNNEST(regexp_extract_all($textCol, '$tokenPattern')) AS w
                  FROM $table) t
            GROUP BY 1)"""
    val steps = (1 to rounds).map { r =>
      s"""p$r AS (
            SELECT toks[CAST(j AS INT)] AS lhs, toks[CAST(j AS INT) + 1] AS rhs,
                   CAST(SUM(freq) AS BIGINT) AS n
            FROM (SELECT str_split(seq, ' ') AS toks, freq FROM v${r - 1}) t,
                 UNNEST(range(1, len(toks))) AS u(j)
            GROUP BY 1, 2),
          b$r AS (
            SELECT CAST($r AS INT) AS round, lhs, rhs, n
            FROM p$r ORDER BY n DESC, lhs, rhs LIMIT 1),
          v$r AS (
            SELECT trim(replace(' ' || v.seq || ' ',
                                ' ' || b.lhs || ' ' || b.rhs || ' ',
                                ' ' || b.lhs || b.rhs || ' ')) AS seq, v.freq
            FROM v${r - 1} v, b$r b)"""
    }
    (v0 +: steps).mkString(", ")
  }

  def charPairCounts(df: DataFrame, textCol: String, minCount: Long): DataFrame =
    df.select(explode(tokens(col(textCol))).as("w"))
      .filter(char_length(col("w")) > 1)
      .select(explode(expr(
        "transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)

  /** The same pair table as engine-neutral SQL. */
  def charPairCountsSql(table: String, textCol: String, minCount: Long): String =
    s"""SELECT substr(w, CAST(u.j AS INT), 2) AS pair, COUNT(*) AS n
        FROM (SELECT UNNEST(regexp_extract_all($textCol, '[A-Za-z0-9]+')) AS w
              FROM $table) t,
             UNNEST(range(1, len(w))) AS u(j)
        GROUP BY 1 HAVING COUNT(*) >= $minCount"""

  /** Corpus-wide sub-document (chunk-level) exact dedup — the C4-style
    * "drop repeated passages, keep the first occurrence" pass that
    * doc-level dedup can't express: a boilerplate paragraph shared by
    * thousands of pages disappears from all but its first sighting
    * while the surrounding novel text survives. Documents are split
    * into fixed `chunkW`-word chunks ([[chunkWords]] — zero-shuffle
    * generator); a chunk survives iff it is the corpus-FIRST occurrence
    * of its text, first = min (doc, position). Surviving chunks
    * re-assemble per doc in position order; docs whose every chunk was
    * seen earlier drop out entirely.
    *
    * Scale shape: two shuffles — the first-occurrence window partitions
    * by CHUNK TEXT, the reassembly groups by doc. Every occurrence needs
    * its keep/drop verdict (non-kept chunks still count toward
    * `n_chunks`), so the chunk exchange necessarily co-locates each
    * chunk's occurrence list — a viral boilerplate chunk is a hot key
    * there, and the remedy is the standard two-level min (aggregate
    * `min(doc, pos)` per chunk — map-side combinable — then join the
    * verdict back) or salting; at fixture scale the single window is
    * the cheaper plan. No driver state, no all-pairs anything.
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkW: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = chunkWords(df, idCol, textCol, chunkW)
    val w = Window.partitionBy(col("chunk"))
      .orderBy(col(idCol), col("chunk_no"))
    chunks.withColumn("__rk", row_number().over(w))
      .withColumn("__keep", col("__rk") === 1).drop("__rk")
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("chunk_no"), col("chunk"))))),
          s => s.getField("chunk"))).as("dedup_text"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        count(lit(1)).as("n_chunks"))
      .filter(col("n_kept") > 0)
  }

  /** DuckDB mirror of [[chunkDedup]] over the documents table. */
  def chunkDedupSql(chunkW: Int): String =
    s"""WITH ch AS (
          SELECT doc_id, u.j AS chunk_no,
                 array_to_string(ws[u.j * $chunkW + 1 : (u.j + 1) * $chunkW], ' ') AS chunk
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t,
               UNNEST(range(0, (len(ws) - 1) // $chunkW + 1)) AS u(j)),
        k AS (
          SELECT doc_id, chunk_no, chunk,
                 row_number() OVER (PARTITION BY chunk
                                    ORDER BY doc_id, chunk_no) = 1 AS keep
          FROM ch)
        SELECT doc_id,
               string_agg(chunk, ' ' ORDER BY chunk_no) FILTER (WHERE keep) AS dedup_text,
               CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
               COUNT(*) AS n_chunks
        FROM k GROUP BY 1
        HAVING COUNT(*) FILTER (WHERE keep) > 0"""

  /** Blocklist gate: true iff the text contains NONE of `terms` as a
    * whitespace token. A PURE per-row predicate (array overlap against
    * a plan literal) — zero joins, zero shuffles, fully pushed into the
    * scan's codegen stage; the shape that filters a 100 TB crawl at
    * read speed. Substring/regex blocklists are a different (more
    * expensive) contract — this is the tokenized form curation
    * pipelines run first.
    */
  def blocklistClean(text: Column, terms: Seq[String]): Column =
    !arrays_overlap(words(text), array(terms.map(lit): _*))

  /** DuckDB mirror of [[blocklistClean]]. */
  def blocklistCleanSql(textSql: String, terms: Seq[String]): String =
    s"NOT list_has_any(string_split($textSql, ' '), [${terms.map("'" + _ + "'").mkString(", ")}])"

  /** Zipf coefficient of the corpus token distribution — the one-number
    * corpus-health statistic (natural text sits near slope −1 on the
    * log-log rank/frequency line; a flat slope flags synthetic or
    * template-heavy data). Least-squares slope over the top `topN`
    * tokens, computed ENTIRELY in integer arithmetic: x = ⌊ln(rank)·10³⌋,
    * y = ⌊ln(freq)·10³⌋ (milli-scaled logs — products ≈ 10⁸ and their
    * ≤ topN·n² sums stay far inside exact-Long range), slope =
    * (n·Σxy − Σx·Σy)·10⁶ div (n·Σxx − Σx·Σx) in micro units. Rounding
    * the logs BEFORE the sums is what makes the result reproducible on
    * any engine — float regr_slope would differ in ulps.
    *
    * Scale shape: one hash aggregate to |vocab| rows (map-side
    * combined), a TakeOrdered top-`topN` (per-partition partial top-k,
    * never a global sort), then the regression over ≤ topN rows — a
    * single-task epilogue by construction, not a bottleneck.
    */
  def zipfFit(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    val counts = df.select(explode(words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(topN)
    val xy = counts
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("w"))))
      .select(
        floor(log(col("rank").cast("double")) * 1000 + 0.5).cast("long").as("x"),
        floor(log(col("cnt").cast("double")) * 1000 + 0.5).cast("long").as("y"))
    xy.agg(count(lit(1)).as("__n"), sum(col("x")).as("__sx"),
        sum(col("y")).as("__sy"), sum(col("x") * col("y")).as("__sxy"),
        sum(col("x") * col("x")).as("__sxx"))
      .select(col("__n").as("n_terms"),
        expr("(__n * __sxy - __sx * __sy) * 1000000 div (__n * __sxx - __sx * __sx)")
          .as("slope_micro"))
  }

  /** DuckDB mirror of [[zipfFit]] over the documents table. */
  def zipfFitSql(topN: Int): String =
    s"""WITH c AS (SELECT w, COUNT(*) AS cnt
                   FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
                   GROUP BY 1 ORDER BY cnt DESC, w LIMIT $topN),
        xy AS (SELECT CAST(FLOOR(ln(row_number() OVER (ORDER BY cnt DESC, w)) * 1000 + 0.5) AS BIGINT) AS x,
                      CAST(FLOOR(ln(cnt) * 1000 + 0.5) AS BIGINT) AS y
               FROM c)
        SELECT COUNT(*) AS n_terms,
               CAST((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)) * 1000000
                 // (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) AS BIGINT) AS slope_micro
        FROM xy"""
}
