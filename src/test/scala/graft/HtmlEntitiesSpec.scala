package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.HtmlEntities.{decode, ncrEncode}

/** The WHATWG character-reference decoder: numeric rules (C1 remap,
  * U+FFFD classes), the named table, single-pass no-rescan semantics,
  * and the fixture encoder round trip.
  */
class HtmlEntitiesSpec extends AnyFunSuite {

  test("numeric references: decimal, hex (both cases), supplementary plane") {
    assert(decode("caf&#233;") == "café")
    assert(decode("&#x4E2D;&#x6587;") == "中文")
    assert(decode("&#X4e2d;") == "中")
    assert(decode("&#128512;") == new String(Character.toChars(0x1F600))) // emoji
    assert(decode("&#x1F600;") == new String(Character.toChars(0x1F600)))
    assert(decode("&#1114111;") == new String(Character.toChars(0x10FFFF)))
  }

  test("WHATWG replacement rules: NUL, surrogates, out-of-range → U+FFFD; C1 remaps to cp1252") {
    assert(decode("&#0;") == "�")
    assert(decode("&#xD800;") == "�")
    assert(decode("&#xDFFF;") == "�")
    assert(decode("&#1114112;") == "�")  // 0x110000
    assert(decode("&#x110000;") == "�")
    assert(decode("&#99999999;") == "&#99999999;") // 8 digits: not a reference
    // C1 range reads through the windows-1252 table, as browsers do
    assert(decode("&#150;") == "–") // EN DASH
    assert(decode("&#151;") == "—") // EM DASH
    assert(decode("&#133;") == "…") // HORIZONTAL ELLIPSIS
    assert(decode("&#128;") == "€") // EURO
    assert(decode("&#146;") == "’") // RIGHT SINGLE QUOTE
    // unmapped C1 slots keep their code point
    assert(decode("&#129;") == "")
  }

  test("named references: core five, Latin-1 block, punctuation set") {
    assert(decode("&amp;") == "&" && decode("&AMP;") == "&")
    assert(decode("&lt;x&gt;") == "<x>")
    assert(decode("&quot;&apos;") == "\"'")
    assert(decode("&eacute;&egrave;&uuml;&ccedil;&ntilde;") == "éèüçñ")
    assert(decode("&copy; &reg; &deg; &middot; &frac12;") == "© ® ° · ½")
    assert(decode("&mdash;&ndash;&hellip;&lsquo;&rsquo;&ldquo;&rdquo;")
      == "—–…‘’“”")
    assert(decode("&euro;&trade;&bull;&dagger;") == "€™•†")
    // space family normalizes to PLAIN space (corpus posture)
    assert(decode("a&nbsp;b&ensp;c&emsp;d&thinsp;e") == "a b c d e")
  }

  test("semicolon required; unknown/unterminated references pass through verbatim") {
    assert(decode("fish & chips") == "fish & chips")
    assert(decode("?a=1&copy=2") == "?a=1&copy=2") // the legacy trap, sidestepped
    assert(decode("&nosuchentity;") == "&nosuchentity;")
    assert(decode("&eacute") == "&eacute")
    assert(decode("&#233") == "&#233")
    assert(decode("&#x;") == "&#x;")
    assert(decode("&#;") == "&#;")
    assert(decode("&;") == "&;")
    assert(decode("tail&") == "tail&")
  }

  test("single pass, never re-scanned: &amp;lt; is literal &lt;") {
    assert(decode("&amp;lt;") == "&lt;")
    assert(decode("&amp;#38;") == "&#38;")
    assert(decode("&amp;amp;") == "&amp;")
  }

  test("oracle fold parity: every Html.Entities row decodes to the same value") {
    for ((e, r) <- graft.operators.Html.Entities)
      assert(decode(e) == r, s"fold/decoder disagree on $e")
  }

  test("q_html_entities battery: the oracle's hand-written decode matches the engine") {
    assert(decode(queries.Crawl.NcrBatteryRaw) == queries.Crawl.NcrBatteryDecoded,
      "NcrBatteryDecoded (the oracle constant) drifted from the decoder")
    // the battery raw form is pure ASCII and single-quote-free (it is
    // embedded in the oracle SQL without escaping)
    assert(!queries.Crawl.NcrBatteryDecoded.contains("'"))
  }

  test("fixture round trip: decode(ncrEncode(s)) == s on every unicode fixture text") {
    val texts =
      graft.operators.Charsets.Slots.map(_._3) ++
        graft.operators.TextOps.UnicodeFixture.map(_._2) ++
        Seq("fish & chips <b> ok </b>", "plain ascii only.",
          "emoji 😀 and beyond 🤖!",
          "mixed é with raw — and &amp; entity-looking text")
    for (t <- texts) {
      val enc = ncrEncode(t)
      assert(decode(enc) == t, s"round trip failed for '$t' via '$enc'")
      // the encoded form is pure ASCII (that is its point)
      assert(enc.forall(_ < 0x80), s"ncrEncode left non-ASCII in '$enc'")
    }
  }

  test("random unicode strings round-trip (BMP + supplementary, 200 trials)") {
    val rnd = new java.util.Random(42)
    for (_ <- 0 until 200) {
      val n = 1 + rnd.nextInt(40)
      val sb = new java.lang.StringBuilder
      for (_ <- 0 until n) {
        val cp = rnd.nextInt(5) match {
          case 0 => 0x20 + rnd.nextInt(0x5f)          // ASCII
          case 1 => 0xA0 + rnd.nextInt(0x500)         // Latin/Greek/Cyrillic
          case 2 => 0x4E00 + rnd.nextInt(0x1000)      // CJK
          case 3 => 0x1F300 + rnd.nextInt(0x100)      // supplementary
          case _ => Seq('&', '<', '>', ';', '#')(rnd.nextInt(5)).toInt
        }
        sb.appendCodePoint(cp)
      }
      val t = sb.toString
      assert(decode(ncrEncode(t)) == t, s"round trip failed for '$t'")
    }
  }
}
