package graft

import org.apache.spark.sql.functions._
import graft.functions.{HtmlUnescapeFunctions, HtmlUnescapeOps}

/** Native HTML character-reference decoder — edge battery over the
  * kernel plus Column/SQL/codegen plumbing. */
class HtmlUnescapeSpec extends SparkSpec {

  private def dec(s: String): String =
    HtmlUnescapeOps.unescape(s, nbspAsSpace = false)
  private def decWs(s: String): String =
    HtmlUnescapeOps.unescape(s, nbspAsSpace = true)

  test("numeric references: decimal, hex (both cases), supplementary " +
    "planes, zero-padding") {
    assert(dec("a&#65;b") === "aAb")
    assert(dec("&#8212;") === "—")
    assert(dec("&#x2014;") === "—")
    assert(dec("&#X2014;") === "—")
    assert(dec("&#xe9;&#xE9;") === "éé")
    assert(dec("&#0000065;") === "A") // 7 digits incl. leading zeros
    // astral plane → surrogate pair in the decoded string
    assert(dec("&#x1F600;") === new String(Character.toChars(0x1F600)))
    assert(dec("&#128512;") === new String(Character.toChars(0x1F600)))
  }

  test("numeric C1 range remaps through Windows-1252 (pages that write " +
    "&#146; mean a curly quote)") {
    assert(dec("&#146;") === "’")
    assert(dec("&#x92;") === "’")
    assert(dec("&#133;") === "…")
    assert(dec("&#153;") === "™")
    // spec leaves these C1 code points in place
    assert(dec("&#129;") === "\u0081")
  }

  test("invalid numeric references stay VERBATIM (fail open): zero, " +
    "surrogates, out of range, unterminated, empty digits") {
    assert(dec("&#0;") === "&#0;")
    assert(dec("&#xD800;") === "&#xD800;")
    assert(dec("&#xDFFF;") === "&#xDFFF;")
    assert(dec("&#1114112;") === "&#1114112;") // 0x110000
    assert(dec("&#x110000;") === "&#x110000;")
    assert(dec("&#12") === "&#12")     // no semicolon
    assert(dec("&#;") === "&#;")       // no digits
    assert(dec("&#x;") === "&#x;")
    assert(dec("&#xZZ;") === "&#xZZ;") // non-hex
    assert(dec("&#99999999999;") === "&#99999999999;") // digit-run cap
    assert(dec("&#") === "&#")
    assert(dec("&") === "&")
  }

  test("named references: predefined (+ all-caps), Latin-1 table, " +
    "punctuation set; unknown and case-mismatched names verbatim") {
    assert(dec("&amp; &AMP; &lt; &gt; &quot; &apos;") === "& & < > \" '")
    assert(dec("caf&eacute;") === "café")
    assert(dec("&Eacute;") === "É")
    assert(dec("&szlig;&uuml;&ntilde;&yuml;") === "ßüñÿ")
    assert(dec("&mdash;&ndash;&hellip;&rsquo;&ldquo;&euro;&trade;") ===
      "—–…’“€™")
    assert(dec("&laquo;x&raquo; &copy; &deg; &middot;") ===
      "«x» © ° ·")
    assert(dec("&frac12;&sup2;") === "½²")
    assert(dec("&unknown;") === "&unknown;")
    assert(dec("&EACUTE;") === "&EACUTE;") // names are case-sensitive
    assert(dec("&eacute") === "&eacute")   // must end in ';'
    // URL query strings survive: no ';' terminator, no decode
    assert(dec("/p?a=1&lt=2&gt=3") === "/p?a=1&lt=2&gt=3")
    assert(dec("a=1&amp=2") === "a=1&amp=2")
  }

  test("single pass, never re-scanned: &amp;-prefixed forms decode one " +
    "level only") {
    assert(dec("&amp;lt;") === "&lt;")
    assert(dec("&amp;#8212;") === "&#8212;")
    assert(dec("&amp;amp;") === "&amp;")
  }

  test("nbsp mapping: spec mode keeps U+00A0, visible-text mode folds " +
    "every nbsp-producing form to a plain space") {
    assert(dec("a&nbsp;b") === "a\u00A0b")
    assert(dec("a&#160;b") === "a\u00A0b")
    assert(decWs("a&nbsp;b") === "a b")
    assert(decWs("a&#160;b") === "a b")
    assert(decWs("a&#xA0;b") === "a b")
    // a LITERAL U+00A0 in the input is untouched in both modes — only
    // decoded references map
    assert(decWs("a\u00A0b") === "a\u00A0b")
    assert(dec("a\u00A0b") === "a\u00A0b")
  }

  test("Column + SQL surfaces agree with the kernel; null in, null out; " +
    "stays inside whole-stage codegen") {
    val s = spark
    import s.implicits._
    val df = Seq(Some("caf&eacute; &#8212; A&amp;B &bad; &#x27;"), None)
      .toDF("t")
    val viaCol = df.select(HtmlUnescapeFunctions.htmlUnescape(col("t")))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    val viaSql = df.selectExpr("html_unescape(t)")
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    val want = Array("café — A&B &bad; '", null)
    assert(viaCol.toSeq === want.toSeq)
    assert(viaSql.toSeq === want.toSeq)
    // codegen span over a file-backed scan (a local relation folds to
    // LocalTableScan and shows no codegen stage)
    val p = Tables.documents(spark, SparkSpec.sf0001)
      .select(HtmlUnescapeFunctions.htmlUnescape(col("text")).as("u"))
      .queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project [html_unescape"), p.take(1000))
  }

  test("visible_text rides the full decoder: numeric/named refs in page " +
    "text decode, entity text inside script blocks still never leaks") {
    val s = spark
    import s.implicits._
    val html = "<p>caf&eacute; &#8212; &quot;q&quot; &#x2764;&#xFE0F;</p>" +
      "<script>var s='&mdash;';</script><!-- &hellip; -->tail&nbsp;end"
    val got = Seq(html).toDF("h")
      .select(graft.ops.WebText.visibleText(col("h")))
      .collect().head.getString(0)
    assert(got === "café — \"q\" ❤️ tail end")
  }
}
