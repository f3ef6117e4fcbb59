package graft

import org.apache.spark.sql.functions._
import graft.ops.WebText

/** URL canonicalization + HTML visible-text extraction
  * ([[graft.ops.WebText]]) — value-pinned on handwritten cases (the
  * sf-table behavior is q143/q144's oracle job; these pin the edge
  * cases the synthetic tables can't reach). */
class WebTextSpec extends SparkSpec {
  import spark.implicits._

  private def canon(urls: String*): Seq[String] =
    urls.toDF("u").select(WebText.canonicalUrl(col("u")).as("c"))
      .as[String].collect().toSeq

  test("canonicalUrl: case, www, default port, slashes, tracking, fragment") {
    assert(canon("HTTP://WWW.Example.COM:80/a//b/?utm_source=x&id=5#frag")
      === Seq("http://example.com/a/b/?id=5"))
    // https default port; param order with tracker in the middle
    assert(canon("https://News.Site.ORG:443/x?id=1&utm_campaign=z&k=2")
      === Seq("https://news.site.org/x?id=1&k=2"))
    // only tracking params -> query dropped entirely
    assert(canon("http://a.com/p?utm_source=x") === Seq("http://a.com/p"))
    assert(canon("http://a.com/p?fbclid=abc&gclid=q") === Seq("http://a.com/p"))
    // trailing slash dropped on non-root path, kept on root
    assert(canon("http://a.com/path/") === Seq("http://a.com/path"))
    assert(canon("http://a.com/") === Seq("http://a.com/"))
    // non-default port survives
    assert(canon("http://a.com:8080/x") === Seq("http://a.com:8080/x"))
    // already-canonical URL is a fixed point
    assert(canon("http://example.com/a/b?id=5")
      === Seq("http://example.com/a/b?id=5"))
    // a legit param whose NAME ends in a tracker name must survive —
    // the tracker match is anchored to a preceding '?' or '&'
    assert(canon("http://a.com/p?my_fbclid=1&b=2")
      === Seq("http://a.com/p?my_fbclid=1&b=2"))
    assert(canon("http://a.com/p?xutm_z=1") === Seq("http://a.com/p?xutm_z=1"))
    // tracker-first with real params following keeps the '?'
    assert(canon("http://a.com/p?utm_a=1&utm_b=2&c=3")
      === Seq("http://a.com/p?c=3"))
  }

  test("canonicalUrl is idempotent") {
    val messy = Seq(
      "HTTP://WWW.Example.COM:80/a//b/?utm_source=x&id=5#frag",
      "https://B.co.UK:443//p//q/?gclid=1")
    val once = canon(messy: _*)
    assert(canon(once: _*) === once)
  }

  test("registeredDomain: eTLD+1 under the generated suffix table") {
    val got = Seq(
      "http://www.example.co.uk/x", "https://a.b.news.com/y",
      "http://site.com.au:8080/", "http://deep.sub.domain.co.jp/z",
      "http://plain.org/",
      // expanded-table groups: cn / kr / mx / tw / za / th
      "http://www.shop.com.cn/x", "https://news.co.kr:8443/y",
      "http://a.b.portal.com.mx/", "http://firm.com.tw/",
      "http://uni.ac.za/x", "http://x.co.th/",
      // non-delegating ccTLD stays two-label
      "http://deep.example.fr/")
      .toDF("u").select(WebText.registeredDomain(col("u")).as("d"))
      .as[String].collect().toSeq
    assert(got === Seq("example.co.uk", "news.com", "site.com.au",
      "domain.co.jp", "plain.org",
      "shop.com.cn", "news.co.kr", "portal.com.mx", "firm.com.tw",
      "uni.ac.za", "x.co.th", "example.fr"))
  }

  test("registeredDomainByTable: longest-match 3-label suffixes, and " +
    "table≡regex equivalence on every 2-label rule") {
    val urls = Seq(
      "http://www.deep.school.act.edu.au/x", // 3-label suffix, deep host
      "http://act.edu.au/",                  // host == its suffix
      "https://portal.district.k12.ca.us/y", // US k12 class
      "http://a.sub.example.co.th/z")        // 2-label via the table
      .toDF("url")
    val got = WebText.registeredDomainByTable(urls, "url",
        WebText.suffixTable(spark))
      .select("domain").as[String].collect().toSeq
    assert(got === Seq("school.act.edu.au", "act.edu.au",
      "district.k12.ca.us", "example.co.th"))
    // on hosts free of 3-label rules the table path must agree with the
    // generated-regex path rule for rule
    val hosts = Seq(
      "http://www.shop.com.cn/x", "https://news.co.kr:8443/y",
      "http://a.b.portal.com.mx/", "http://deep.sub.site.gov.uk/z",
      "http://plain.example.fr/p", "http://www.onetld.com/q",
      "http://blog.example.com.br/r", "http://x.ac.th/w",
      "http://site.com.au:8080/", "http://deep.sub.domain.co.jp/q")
      .toDF("url")
    val both = WebText.registeredDomainByTable(hosts, "url",
        WebText.suffixTable(spark), out = "t")
      .withColumn("r", WebText.registeredDomain(col("url")))
    assert(both.filter(col("t") =!= col("r")).count() === 0)
  }

  test("attr_value kernel: quoted/unquoted/valueless grammar, decoy " +
    "attribute values never match, unterminated quotes poison the tag") {
    import graft.functions.AttrValueOps
    def av(tag: String) = AttrValueOps.extract(tag, "rel")
    assert(av("<a rel=\"nofollow ugc\" href=\"x\">") === "nofollow ugc")
    assert(av("<link rel='a b'>") === "a b")
    assert(av("<a rel=nofollow/>") === "nofollow") // self-closing slash cut
    assert(av("<link rel = canonical >") === "canonical")
    // interior slashes are VALUE, only the trailing /> slash is syntax
    assert(AttrValueOps.extract("<a href=docs/intro.html>", "href") ===
      "docs/intro.html")
    assert(AttrValueOps.extract("<a href=http://x.com/page>", "href") ===
      "http://x.com/page")
    assert(AttrValueOps.extract("<a href=http://x.com/dir/>", "href") ===
      "http://x.com/dir") // trailing slash before '>' reads self-closing
    assert(AttrValueOps.extract(
      "<link rel=alternate type=application/rss+xml href=/feed>", "type") ===
      "application/rss+xml")
    // a closing quote separates attributes (WHATWG glued form)
    assert(AttrValueOps.extract(
      "<link rel=\"canonical\"href=\"/x\">", "href") === "/x")
    assert(av("<a href=\"x\"rel=nofollow>") === "nofollow")
    assert(av("<a rel=\"a\"rel=\"b\">") === "a") // first still wins
    assert(av("<ahref=x>") === "") // glue does NOT apply to the tag name
    assert(AttrValueOps.extract("<a rel=x\"y\">", "rel") === "x") // unquoted
    // value still stops at a quote; the quoted run then separates
    assert(av("<a REL=UGC>") === "UGC") // name case-folds, value verbatim
    assert(av("<a x=1 y rel=z q=2>") === "z") // valueless attr mid-tag
    assert(av("<a title=\"rel=nofollow is bad\" href=x>") === "")
    assert(av("<a title=\"x rel=nofollow y\">") === "")
    assert(av("<a title='rel=\"nope\"' rel=real>") === "real")
    assert(av("<a data-rel=x>") === "")
    assert(av("<a rel>") === "") // valueless target attribute
    assert(av("<a href=\"unterminated rel=x>") === "")
    assert(av("<a>") === "")
    assert(av("plain text") === "")
    // SQL + codegen surface
    val got = Seq("<a rel='me nofollow'>").toDF("t")
      .selectExpr("attr_value(t, 'rel') AS v").as[String].head()
    assert(got === "me nofollow")
    intercept[IllegalArgumentException] {
      graft.functions.AttrValueExpr(
        org.apache.spark.sql.catalyst.expressions.Literal("x"), "REL")
    }
  }

  test("surtKey: lowercases, drops scheme/www/default ports, reverses " +
    "host labels, sorts query params, drops fragments, roots bare hosts") {
    import graft.ops.WebText
    def sk(u: String): String = Seq(u).toDF("u")
      .select(WebText.surtKey(col("u"))).as[String].head()
    assert(sk("HTTP://WWW.Ex.ORG:80/P/1?b=2&a=1") === "org,ex)/p/1?a=1&b=2")
    assert(sk("https://news.example.co.uk/a/b") ===
      "uk,co,example,news)/a/b")
    assert(sk("https://example.org:443/x") === "org,example)/x")
    assert(sk("http://example.org:8080/x") === "org,example:8080)/x")
    // only the scheme's OWN default port drops (pywb/surt): an explicit
    // :80 on https (or :443 on http) is non-default and must not
    // collide with the bare host's key
    assert(sk("https://example.org:80/x") === "org,example:80)/x")
    assert(sk("http://example.org:443/x") === "org,example:443)/x")
    // scheme-less input keys like http
    assert(sk("example.org:80/x") === "org,example)/x")
    assert(sk("http://example.org") === "org,example)/")
    assert(sk("http://example.org/a#frag") === "org,example)/a")
    assert(sk("http://example.org/?z=1&y=2&x=3") ===
      "org,example)/?x=3&y=2&z=1")
    // www only strips as a whole leading label
    assert(sk("http://wwwx.org/a") === "org,wwwx)/a")
    // userinfo never keys an index
    assert(sk("http://user:pw@example.org/a") === "org,example)/a")
    // same page, different param order and case → ONE index key
    assert(sk("http://a.org/p?x=1&y=2") === sk("HTTP://A.ORG/p?y=2&x=1"))
  }

  test("registeredDomainByTable: wildcard and exception rules follow " +
    "the publicsuffix.org algorithm (exception beats wildcard beats " +
    "plain beats implicit *)") {
    val rules = WebText.suffixTable(spark).unionAll(Seq(
      "*.ck", "!www.ck", "*.nom.br", "*.kobe.jp", "!city.kobe.jp")
      .toDF("suffix"))
    val cases = Seq(
      // *.ck: the * consumes one label → suffix foo.ck, +1 label
      "http://a.b.foo.ck/x" -> "b.foo.ck",
      // host IS a wildcard-covered suffix → itself
      "http://foo.ck/" -> "foo.ck",
      // bare TLD under a wildcard: no label for the * to consume
      "http://ck/" -> "ck",
      // the library's leading-www strip runs BEFORE suffix matching
      // (the registeredDomain convention), so a literal www.ck host
      // reduces to the bare TLD...
      "http://www.ck/" -> "ck",
      // ...while the exception rule applies from any deeper subdomain
      "http://deep.www.ck/" -> "www.ck",
      "http://a.deep.www.ck/" -> "www.ck",
      // wildcard with a 2-label base → 3-label effective suffix
      "http://x.a.smith.nom.br/n" -> "a.smith.nom.br",
      "http://smith.nom.br/" -> "smith.nom.br",
      // the real-world *.kobe.jp / !city.kobe.jp pair
      "http://sub.city.kobe.jp/" -> "city.kobe.jp",
      "http://x.other.kobe.jp/" -> "x.other.kobe.jp",
      // plain rules still work alongside
      "http://a.example.co.uk/" -> "example.co.uk",
      "http://plain.example.org/" -> "example.org")
    val got = WebText.registeredDomainByTable(
        cases.map(_._1).toDF("url"), "url", rules)
      .select("domain").as[String].collect().toSeq
    assert(got === cases.map(_._2))
  }

  test("registeredDomainByTable scale shape: every rule join broadcasts " +
    "and the corpus side never shuffles") {
    val rules = WebText.suffixTable(spark).unionAll(Seq(
      "*.ck", "!www.ck").toDF("suffix"))
    val plan = WebText.registeredDomainByTable(
        Seq("http://a.b.foo.ck/").toDF("url"), "url", rules)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
    // the rule-table side may shuffle inside its own pre-broadcast
    // aggregate (broadcast-sized by nature); the CORPUS columns must
    // never appear under a hashpartitioning Exchange
    assert(!plan.matches("(?s).*hashpartitioning\\((url|graft_host).*"),
      plan.take(1200))
  }

  test("normalizePercent: unreserved decode, hex uppercase, reserved " +
    "kept, malformed verbatim") {
    val got = Seq(
      "http://h/%7Euser", "http://h/%7euser", "http://h/~%75ser",
      "http://h/a%2fb", "http://h/a%2Fb", "http://h/%zz",
      "http://h/%", "http://h/%4", "plain-no-escapes")
      .toDF("u").select(WebText.normalizePercent(col("u")).as("n"))
      .as[String].collect().toSeq
    assert(got === Seq(
      "http://h/~user", "http://h/~user", "http://h/~user",
      "http://h/a%2Fb", "http://h/a%2Fb", "http://h/%zz",
      "http://h/%", "http://h/%4", "plain-no-escapes"))
  }

  test("url_resolve / robots_glob / pct_normalize SQL registration " +
    "and null handling") {
    val r = spark.sql(
      "SELECT url_resolve('http://a/b/c', '../g') AS u, " +
        "robots_glob('/index.php', '/*.php$') AS g, " +
        "pct_normalize('http://h/%7Euser') AS p, " +
        "url_resolve(CAST(NULL AS STRING), 'x') AS n").head()
    assert(r.getString(0) === "http://a/g")
    assert(r.getBoolean(1))
    assert(r.getString(2) === "http://h/~user")
    assert(r.isNullAt(3))
  }

  test("pageMetadata: entities + whitespace cleaned, attribute orders, " +
    "name-prefix decoys skipped, absent fields empty") {
    val pages = Seq(
      ("<title> A &amp; B  C </title>" +
        "<meta name=\"descriptionx\" content=\"decoy\">" +
        "<meta name=description content=\"d1\">" +
        "<meta content=\"ogt\" property='og:title'>"),
      "<p>no metadata at all</p>")
      .toDF("html")
    val got = WebText.pageMetadata(pages)
      .select("title", "description", "og_title", "og_description")
      .as[(String, String, String, String)].collect().toSeq
    assert(got === Seq(("A & B C", "d1", "ogt", ""), ("", "", "", "")))
  }

  test("revalidationPlan: etag preferred over last-modified, " +
    "date-only falls back, bare rows refetch full") {
    val prev = Seq(
      ("u1", "\"abc\"", "Tue, 01 Jul 2025 00:00:00 GMT"),
      ("u2", "", "Tue, 01 Jul 2025 00:00:00 GMT"),
      ("u3", "", ""))
      .toDF("url", "etag", "last_modified")
    val got = WebText.revalidationPlan(prev)
      .select("url", "fetch_mode", "precondition_header",
        "precondition_value")
      .as[(String, String, String, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      ("u1", "conditional", "if-none-match", "\"abc\""),
      ("u2", "conditional", "if-modified-since",
        "Tue, 01 Jul 2025 00:00:00 GMT"),
      ("u3", "full", "", "")))
  }

  test("visibleText strips script/style/comments/tags and decodes entities") {
    val html =
      """<html><head><title>T</title><style>p { color: red }</style></head>
        |<body><!-- nav --><h1>Hello</h1>
        |<script type="text/js">var x = "<p>not text</p>";</script>
        |<p>A &amp; B &lt;ok&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p>
        |</body></html>""".stripMargin
    val got = Seq(html).toDF("h")
      .select(WebText.visibleText(col("h")).as("v")).as[String].head()
    assert(got === "T Hello A & B <ok> \"q\" 's' end")
  }

  test("visibleText: case-insensitive tags, multiline script bodies") {
    val html = "<BODY><SCRIPT>\nline1\nline2\n</SCRIPT><P>keep</P></BODY>"
    val got = Seq(html).toDF("h")
      .select(WebText.visibleText(col("h")).as("v")).as[String].head()
    assert(got === "keep")
  }

  test("anchorTexts: nested markup stripped, entities decoded in order, " +
    "whitespace collapsed") {
    val html =
      """<a href="http://a.com/x?p=1&amp;q=2">visit <b>T&amp;T</b>  shop</a>
        |<a class='m' href='https://b.org/y'>it&#39;s &amp;lt;kept&amp;gt;</a>
        |<a href="/rel">skip</a>""".stripMargin
    val got = Seq(html).toDF("h")
      .select(explode(WebText.anchorTexts(col("h"))).as("p"))
      .select("p.href", "p.anchor")
      .as[(String, String)].collect().toSeq
    assert(got === Seq(
      ("http://a.com/x?p=1&q=2", "visit T&T shop"),
      ("https://b.org/y", "it's &lt;kept&gt;")))   // escaped entity survives
  }

  test("resolveUrl: the RFC 3986 §5.4 reference-resolution examples") {
    val base = "http://a/b/c/d;p?q"
    val cases = Seq(
      // §5.4.1 normal
      "g:h" -> "g:h", "g" -> "http://a/b/c/g", "./g" -> "http://a/b/c/g",
      "g/" -> "http://a/b/c/g/", "/g" -> "http://a/g", "//g" -> "http://g",
      "?y" -> "http://a/b/c/d;p?y", "g?y" -> "http://a/b/c/g?y",
      "#s" -> "http://a/b/c/d;p?q#s", "g#s" -> "http://a/b/c/g#s",
      ";x" -> "http://a/b/c/;x", "" -> "http://a/b/c/d;p?q",
      "." -> "http://a/b/c/", "./" -> "http://a/b/c/",
      ".." -> "http://a/b/", "../" -> "http://a/b/",
      "../g" -> "http://a/b/g", "../.." -> "http://a/",
      "../../" -> "http://a/", "../../g" -> "http://a/g",
      // §5.4.2 abnormal
      "../../../g" -> "http://a/g", "../../../../g" -> "http://a/g",
      "/./g" -> "http://a/g", "/../g" -> "http://a/g",
      "g." -> "http://a/b/c/g.", ".g" -> "http://a/b/c/.g",
      "g.." -> "http://a/b/c/g..", "..g" -> "http://a/b/c/..g",
      "./../g" -> "http://a/b/g", "./g/." -> "http://a/b/c/g/",
      "g/./h" -> "http://a/b/c/g/h", "g/../h" -> "http://a/b/c/h",
      "g;x=1/./y" -> "http://a/b/c/g;x=1/y",
      "g;x=1/../y" -> "http://a/b/c/y")
    val got = cases.map(_._1).toDF("r")
      .select(WebText.resolveUrl(lit(base), col("r")).as("u"))
      .as[String].collect().toSeq
    cases.zip(got).foreach { case ((ref, want), u) =>
      assert(u === want, s"resolve('$ref') against '$base'")
    }
  }

  test("resolveUrl: empty-path base, fragment-bearing base, " +
    "non-hierarchical base sentinel") {
    val got = Seq(
      ("http://h", "g"), ("http://h", "//x/y"),
      ("http://h/p#frag", ""), ("http://h/p#frag", "#s"),
      ("mailto:a@b", "g"), ("mailto:a@b", "http://ok/x"))
      .toDF("b", "r")
      .select(WebText.resolveUrl(col("b"), col("r")).as("u"))
      .as[String].collect().toSeq
    assert(got === Seq("http://h/g", "http://x/y",
      "http://h/p", "http://h/p#s",
      "", "http://ok/x")) // unresolvable sentinel; absolute passes through
  }

  test("resolvedLinkRows: relative forms resolved, <base href> honored, " +
    "fragment-only and non-http dropped, uppercase scheme kept") {
    val pages = Seq(
      ("http://www.s.org/a/b/page.html?x=1",
        "<a href=\"img/i.png\">r</a><a href='/root/z'>rr</a>" +
          "<a href=\"../up\">u</a><a href='//peer.net/p'>pp</a>" +
          "<a href=\"HTTP://UP.com/Y\">abs</a><a href=\"#top\">f</a>" +
          "<a href='mailto:a@b.c'>m</a>"),
      ("http://www.s.org/a/b/page.html?x=1",
        "<base href=\"/bb/\"><a href=\"img/i.png\">r</a>"))
      .toDF("url", "html")
    val got = WebText.resolvedLinkRows(pages, "url", "html")
      .select("link").as[String].collect().toSeq.sorted
    assert(got === Seq(
      "HTTP://UP.com/Y",
      "http://peer.net/p",
      "http://www.s.org/a/b/img/i.png",
      "http://www.s.org/a/up",
      "http://www.s.org/bb/img/i.png",
      "http://www.s.org/root/z"))
  }

  test("hostLinkEdges: registered-domain endpoints, self-edges dropped") {
    val pages = Seq(
      ("http://www.src.com/a",
        "<a href='http://one.co.uk/x'>1</a><a href=\"http://two.org/y\">2</a>" +
          "<a href='http://SRC.com/self'>self</a>"),
      ("http://src.com/b", "<a href='http://sub.one.co.uk/z'>1</a>"),
      ("http://other.net/c", "<a href='http://www.one.co.uk/w'>1</a>"))
      .toDF("url", "html")
    val got = WebText.hostLinkEdges(pages, "url", "html")
      .orderBy("src_domain", "dst_domain")
      .as[(String, String, Long)].collect().toSeq
    assert(got === Seq(
      ("other.net", "one.co.uk", 1L),
      ("src.com", "one.co.uk", 2L),
      ("src.com", "two.org", 1L)))
  }

  // 100 chars of zero-link prose — classifies good under the default
  // minChars = 80 gate
  private val prose =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu " +
      "nu xi omicron pi rho sigma tau xx"

  test("contentBlocks: tag split, original block_idx kept, chrome scored " +
    "link-dense, pre not split by p, br splits") {
    val html =
      "<div><a href='/1'>Home</a> <a href='/2'>About</a></div>" +
      s"<h1>Title</h1><p>$prose</p>" +
      "<pre>preformatted body stays one block</pre>" +
      "line one<br>line two"
    val got = WebText.contentBlocks(Seq(("u1", html)).toDF("url", "html"))
      .orderBy("block_idx")
      .select("block_idx", "block_text", "n_chars", "link_density_micros",
        "is_good")
      .as[(Long, String, Long, Long, Boolean)].collect().toSeq
    // empty blocks between adjacent tags are dropped but idx is the
    // ORIGINAL split position, so surviving indices are sparse
    assert(got.map(_._2) === Seq("Home About", "Title", prose,
      "preformatted body stays one block", "line one", "line two"))
    assert(got.map(_._1) === got.map(_._1).sorted)
    assert(got.map(_._1).distinct.size === got.size)
    val byText = got.map(g => g._2 -> g).toMap
    assert(byText("Home About")._4 === 1000000L) // nav: all chars in links
    assert(!byText("Home About")._5)
    assert(byText(prose)._4 === 0L && byText(prose)._5)
    assert(!byText("Title")._5) // short
  }

  test("mainContent: bridge keeps a short caption between good blocks; " +
    "title next to nav drops; all-chrome page yields empty main_text") {
    val article =
      "<div><a href='/1'>Home</a> <a href='/2'>About</a></div>" +
      s"<h1>Title</h1><p>$prose</p><p>Figure 1: caption</p><p>$prose</p>" +
      "<div><a href='/t'>Terms</a> <a href='/p'>Privacy</a></div>"
    val chrome =
      "<div><a href='/1'>Home</a> <a href='/2'>About</a></div>" +
      "<div><a href='/t'>Terms</a> <a href='/p'>Privacy</a></div>"
    val got = WebText.mainContent(
        Seq(("art", article), ("chrome", chrome)).toDF("url", "html"))
      .select("url", "n_blocks", "n_kept", "n_chars_kept", "main_text")
      .as[(String, Long, Long, Long, String)].collect()
      .sortBy(_._1).toSeq
    assert(got.map(_._1) === Seq("art", "chrome"))
    val art = got(0)
    assert(art._5 === s"$prose\nFigure 1: caption\n$prose")
    assert(art._2 === 6L && art._3 === 3L)
    assert(art._4 === (2L * prose.length + "Figure 1: caption".length))
    assert(got(1)._5 === "" && got(1)._3 === 0L && got(1)._2 === 2L)
  }

  test("mainContent: a short block adjacent to only ONE good block drops") {
    val html = s"<p>intro note</p><p>$prose</p><p>trailing note</p>"
    val got = WebText.mainContent(Seq(("u", html)).toDF("url", "html"))
      .select("main_text").as[String].collect().head
    assert(got === prose) // neither note has good blocks on BOTH sides
  }

  test("metaRobotsSignals: attribute orders, quote styles, multi-meta " +
    "union, none expansion, decoys ignored") {
    val pages = Seq(
      ("multi", "<meta name=\"robots\" content=\"noindex\">" +
        "<meta name='robots' content='noarchive, nofollow'>"),
      ("ci", "<META NAME=\"ROBOTS\" CONTENT=\"NOFOLLOW\">"),
      ("rev", "<meta content=\"none\" name=robots>"),
      ("decoy", "<meta name=\"description\" content=\"noindex decoy\">" +
        "<meta name=\"generator\" content=\"nofollow,none\">"),
      ("plain", "<p>no metas at all</p>"))
      .toDF("url", "html")
    val got = WebText.metaRobotsSignals(pages)
      .as[(String, String, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("multi") === (("noarchive,nofollow,noindex", true, true)))
    assert(got("ci") === (("nofollow", false, true)))
    assert(got("rev") === (("none", true, true)))
    assert(got("decoy") === (("", false, false)))
    assert(got("plain") === (("", false, false)))
  }

  test("robots channels: null html/payload (non-HTML resources) yield " +
    "non-null false noindex/nofollow, never null verdicts") {
    // the motivating case: a PDF/image capture has NO html column — a
    // null directive array would null array_contains, null||false stays
    // null, and a filter(!noindex) would silently drop every
    // non-blocked non-HTML resource
    val rows = Seq(("http://h.org/doc.pdf", null: String, null: String))
      .toDF("url", "html", "payload")
    val m = WebText.metaRobotsSignals(rows)
      .as[(String, String, Boolean, Boolean)].head()
    assert(m === (("http://h.org/doc.pdf", "", false, false)))
    val h = WebText.headerRobotsSignals(rows)
      .as[(String, String, Boolean, Boolean)].head()
    assert(h === (("http://h.org/doc.pdf", "", false, false)))
    val g = WebText.robotsGate(rows)
      .as[(String, String, String, Boolean, Boolean)].head()
    assert(g === (("http://h.org/doc.pdf", "", "", false, false)))
    // the downstream admission filter keeps the row (the bug dropped it)
    assert(WebText.robotsGate(rows).filter(!col("noindex")).count() === 1L)
    // a header-gated page still restricts when html alone is null
    val mixed = Seq(("http://h.org/x.pdf", null: String,
      "HTTP/1.1 200 OK\r\nX-Robots-Tag: noindex\r\n\r\nbody"))
      .toDF("url", "html", "payload")
    val gm = WebText.robotsGate(mixed)
      .as[(String, String, String, Boolean, Boolean)].head()
    assert(gm === (("http://h.org/x.pdf", "", "noindex", true, false)))
  }

  test("resolveRedirects: chains, hop-limit truncation, loops, " +
    "conflicting captures, Location header extraction") {
    def u(s: String) = s"http://h.org/$s"
    val r = Seq(
      // chain hops spell every RFC 9110 Location form: relative path
      // ("b" against http://h.org/a), root-relative, protocol-relative
      (u("a"), 301, "b"), (u("b"), 302, "/c"), (u("c"), 307, "//h.org/d"),
      (u("d"), 200, ""),
      (u("e"), 200, ""),
      (u("x"), 301, u("y")), (u("y"), 308, u("x")), // 2-cycle
      (u("dup"), 301, u("m")), (u("dup"), 301, u("k")), // conflict → min
      (u("k"), 200, ""), (u("m"), 200, ""),
      // a non-hierarchical source can't anchor a relative Location:
      // no edge, reported as not redirected
      ("urn:isbn:0451450523", 301, "rel/path"))
      .toDF("url", "status_code", "location")
    val got = WebText.resolveRedirects(r, maxHops = 2)
      .as[(String, String, Long, Boolean, Boolean)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4, x._5))).toMap
    assert(got(u("a")) === ((u("c"), 2L, true, true))) // c redirects: truncated
    assert(got(u("b")) === ((u("d"), 2L, true, false)))
    assert(got(u("e")) === ((u("e"), 0L, false, false)))
    assert(got(u("x")) === ((u("x"), 2L, true, true))) // loop never resolves
    assert(got(u("dup")) === ((u("k"), 1L, true, false))) // min(k,m) = k
    assert(got("urn:isbn:0451450523") ===
      (("urn:isbn:0451450523", 0L, false, false)))
    // Location comes out of the raw response payload
    val loc = Seq(
      "HTTP/1.1 301 Moved\r\nLocation: http://t.example.org/new\r\n" +
        "Server: s\r\n\r\nbody",
      "HTTP/1.1 200 OK\r\nServer: s\r\n\r\nbody")
      .toDF("p").select(graft.ops.Http.location(col("p")).as("l"))
      .as[String].collect().toSeq
    assert(loc === Seq("http://t.example.org/new", ""))
  }

  test("revisitSchedule: change-rate estimate, both clamp bounds, " +
    "single-fetch floor, zero-change denominator floor") {
    val hour = 3600000L
    val hist = Seq(
      // a: changed both revisits over a 4h span -> interval 2h
      ("a", 0L, false), ("a", 2 * hour, true), ("a", 4 * hour, true),
      // b: never changed over 100 days -> denominator floors at 1,
      //    estimate = full span, clamped to the 30-day ceiling
      ("b", 0L, false), ("b", 8640000000L, false),
      // c: one change over a 30-min span -> clamped up to the 1h floor
      ("c", 0L, false), ("c", 1800000L, true),
      // d: single fetch, span 0 -> 1h floor
      ("d", 5L, false)
    ).toDF("url", "fetch_ts_ms", "changed")
    val got = graft.ops.WebText.revisitSchedule(hist)
      .select("url", "n_fetches", "n_changes", "last_fetch_ms",
        "interval_ms", "next_fetch_ms")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._1).toSeq
    assert(got === Seq(
      ("a", 3L, 2L, 4 * hour, 2 * hour, 6 * hour),
      ("b", 2L, 0L, 8640000000L, 2592000000L, 11232000000L),
      ("c", 2L, 1L, 1800000L, hour, 1800000L + hour),
      ("d", 1L, 0L, 5L, hour, 5L + hour)))
  }

  test("canonicalTargets: attribute orders, relative resolution against " +
    "base href, rel token lists, decoys, fallback") {
    val rows = Seq(
      // href-first attribute order, absolute target, self-reference
      ("http://a.com/p?utm_source=x",
        "<link href=\"http://a.com/p\" rel=\"canonical\"><p>t</p>"),
      // relative canonical resolved against <base href> (itself relative)
      ("http://b.com/dir/page",
        "<base href=\"/root/\"><link rel=canonical href='art'>"),
      // rel value LIST containing canonical; &amp; decode in the href
      ("http://c.com/x",
        "<link rel=\"nofollow canonical\" href=\"http://c.com/y?a=1&amp;b=2\">"),
      // decoys: rel="canonicalx", rel="x-canonical", a <link> with no
      // rel, an <a rel=canonical> (not a link tag) -> fallback page URL
      ("http://d.com/z",
        "<link rel=\"canonicalx\" href=\"http://evil.com/1\">" +
          "<link rel='x-canonical' href=\"http://evil.com/2\">" +
          "<link href=\"http://evil.com/3\">" +
          "<a rel=\"canonical\" href=\"http://evil.com/4\">t</a>"),
      // no head links at all -> fallback
      ("http://e.com/q", "<p>plain</p>"))
      .toDF("url", "html")
    val got = WebText.canonicalTargets(rows)
      .select("url", "canonical_target", "has_canonical", "is_self")
      .as[(String, String, Boolean, Boolean)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    assert(got("http://a.com/p?utm_source=x") ===
      (("http://a.com/p", true, true)))
    assert(got("http://b.com/dir/page") ===
      (("http://b.com/root/art", true, false)))
    assert(got("http://c.com/x") ===
      (("http://c.com/y?a=1&b=2", true, false)))
    assert(got("http://d.com/z") === (("http://d.com/z", false, true)))
    assert(got("http://e.com/q") === (("http://e.com/q", false, true)))
  }

  test("hreflangLinks + feedLinks: attribute orders, case folding, " +
    "non-alternate and non-feed decoys") {
    val html =
      "<link rel=\"alternate\" hreflang=\"EN-us\" href=\"http://h.org/en\">" +
        "<link hreflang=\"de\" href=\"http://h.org/de\" rel=\"alternate\">" +
        "<link rel=\"alternate\" hreflang=\"x-default\" href=\"http://h.org/\">" +
        // stylesheet with hreflang: rel is not alternate -> excluded
        "<link rel=\"stylesheet\" hreflang=\"fr\" href=\"http://h.org/css\">" +
        // alternate without hreflang and with a feed type -> feed, not lang
        "<link rel=\"alternate\" type=\"application/rss+xml\" " +
        "href=\"http://h.org/feed.rss\">" +
        "<link type=\"APPLICATION/ATOM+XML\" rel=alternate " +
        "href=\"http://h.org/feed.atom\">" +
        // alternate text/html (mobile variant): no feed type -> excluded
        "<link rel=\"alternate\" type=\"text/html\" href=\"http://m.h.org/\">"
    val df = Seq(html).toDF("html")
    val langs = df.select(explode(WebText.hreflangLinks(col("html"))).as("x"))
      .select("x.lang", "x.href").as[(String, String)].collect().toSeq
    assert(langs === Seq(("en-us", "http://h.org/en"),
      ("de", "http://h.org/de"), ("x-default", "http://h.org/")))
    val feeds = df.select(explode(WebText.feedLinks(col("html"))).as("x"))
      .select("x.feed_type", "x.href").as[(String, String)].collect().toSeq
    assert(feeds === Seq(("rss", "http://h.org/feed.rss"),
      ("atom", "http://h.org/feed.atom")))
  }

  test("feedEntries: RSS items and Atom entries from one call, entity " +
    "decode, updated-over-published, missing fields") {
    val rss = "<?xml version=\"1.0\"?><rss><channel><title>Chan</title>" +
      "<item><title>A &amp; B</title><link> http://h.org/1 </link>" +
      "<pubDate>Tue, 01 Jul 2025 00:00:00 GMT</pubDate></item>" +
      "<item><title>No date</title><link>http://h.org/2</link></item>" +
      "</channel></rss>"
    val atom = "<feed xmlns=\"http://www.w3.org/2005/Atom\">" +
      "<title>Feed</title>" +
      "<entry><title>  E1\n t </title>" +
      "<link rel=\"alternate\" href=\"http://h.org/a1?x=1&amp;y=2\"/>" +
      "<published>2025-01-01T00:00:00Z</published>" +
      "<updated>2025-02-02T00:00:00Z</updated></entry>" +
      "<entry><title>E2</title><link href='http://h.org/a2'/>" +
      "<published>2025-03-03T00:00:00Z</published></entry></feed>"
    val got = Seq(rss, atom).toDF("xml")
      .select(explode(WebText.feedEntries(col("xml"))).as("e"))
      .select("e.title", "e.link", "e.published")
      .as[(String, String, String)].collect().toSeq
    assert(got === Seq(
      ("A & B", "http://h.org/1", "Tue, 01 Jul 2025 00:00:00 GMT"),
      ("No date", "http://h.org/2", ""),
      ("E1 t", "http://h.org/a1?x=1&y=2", "2025-02-02T00:00:00Z"),
      ("E2", "http://h.org/a2", "2025-03-03T00:00:00Z")))
    // the channel/feed titles never leak into entries
    assert(!got.exists(e => e._1 == "Chan" || e._1 == "Feed"))
  }

  test("resolvedLinkRows nofollow flag: disclaimed rel values drop from " +
    "hostLinkEdges by default, non-disclaiming rels and opt-in keep them") {
    val pages = Seq(("http://src.org/p",
      "<a href='http://a.net/1'>p</a>" +
        "<a rel='nofollow' href='http://b.net/1'>n</a>" +
        "<a rel='external noopener' href='http://c.net/1'>o</a>" +
        "<a rel='UGC' href='http://d.net/1'>u</a>" + // case-folded match
        "<a rel='sponsored' href='http://e.net/1'>s</a>" +
        // a rel value that merely CONTAINS the token must not match
        "<a rel='nofollowx' href='http://f.net/1'>x</a>" +
        // `rel=` text inside ANOTHER attribute's value must not be
        // read as the rel attribute (attributes are consumed
        // left-to-right, quoted values swallowed whole)
        "<a title=\"rel=nofollow is bad\" href='http://g.net/1'>t</a>" +
        "<a title=\"x rel=nofollow y\" href='http://h.net/1'>t</a>" +
        // ... and the REAL rel still wins with a decoy value earlier
        "<a title=\"rel=nope\" rel='sponsored' href='http://i.net/1'>t</a>" +
        // unquoted rel in a self-closing tag: the `/` stays out of
        // the token
        "<a rel=nofollow href='http://j.net/1'/>"))
      .toDF("url", "html")
    val flags = WebText.resolvedLinkRows(pages, "url", "html")
      .select("link", "nofollow").as[(String, Boolean)].collect().toMap
    assert(flags === Map(
      "http://a.net/1" -> false, "http://b.net/1" -> true,
      "http://c.net/1" -> false, "http://d.net/1" -> true,
      "http://e.net/1" -> true, "http://f.net/1" -> false,
      "http://g.net/1" -> false, "http://h.net/1" -> false,
      "http://i.net/1" -> true, "http://j.net/1" -> true))
    val kept = WebText.hostLinkEdges(pages, "url", "html")
      .select("dst_domain").as[String].collect().toSet
    assert(kept === Set("a.net", "c.net", "f.net", "g.net", "h.net"))
    val all = WebText.hostLinkEdges(pages, "url", "html",
      includeNofollow = true)
      .select("dst_domain").as[String].collect().toSet
    assert(all.size === 10)
  }

  test("publishDates: trust-chain priority, first dated JSON-LD block " +
    "wins over malformed/undated ones, URL day padding, empty page") {
    val rows = Seq(
      // first ld+json block malformed, second undated, THIRD dated —
      // the dated one must win over the planted meta
      ("http://x.org/a",
        "<script type=\"application/ld+json\">nope</script>" +
          "<script type=\"application/ld+json\">{\"@type\":\"Org\"}</script>" +
          "<script type=\"application/ld+json\">" +
          "{\"datePublished\":\"2020-02-02T08:00:00Z\"}</script>" +
          "<meta property=\"article:published_time\" content=\"1999-01-01\">"),
      // meta name-first order
      ("http://x.org/b",
        "<meta property='article:published_time' content='2021-03-04'>"),
      // url month form pads day 01; a decoy /21/ segment must not match
      ("http://x.org/21/2019/07/title", "<p>t</p>"),
      ("http://x.org/nothing", "<p>t</p>"))
      .toDF("url", "html")
    val got = WebText.publishDates(rows)
      .select("url", "published_date", "published_source")
      .as[(String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("http://x.org/a") === (("2020-02-02", "jsonld")))
    assert(got("http://x.org/b") === (("2021-03-04", "meta")))
    assert(got("http://x.org/21/2019/07/title") === (("2019-07-01", "url")))
    assert(got("http://x.org/nothing") === (("", "")))
  }

  test("structuredData: JSON-LD field projection, malformed block " +
    "tolerance, absent fields, multiple blocks per page") {
    val rows = Seq(
      ("http://n.org/1",
        "<script type=\"application/ld+json\">{\"@type\":\"NewsArticle\"," +
          "\"headline\":\"H1\",\"datePublished\":\"2025-05-05\"," +
          "\"author\":{\"@type\":\"Person\",\"name\":\"Ada\"}}</script>" +
          "<script type=\"application/ld+json\"> not json at all </script>" +
          // a plain script must NOT be extracted
          "<script>var x = {\"@type\": \"Decoy\"};</script>"),
      ("http://n.org/2",
        "<script type='application/ld+json'>{\"@type\":\"Product\"}" +
          "</script>"))
      .toDF("url", "html")
    val got = WebText.structuredData(rows)
      .select("url", "block_idx", "item_type", "headline",
        "date_published", "author_name")
      .as[(String, Long, String, String, String, String)].collect().toSeq
      .sortBy(x => (x._1, x._2))
    assert(got === Seq(
      ("http://n.org/1", 0L, "NewsArticle", "H1", "2025-05-05", "Ada"),
      ("http://n.org/1", 1L, "", "", "", ""),
      ("http://n.org/2", 0L, "Product", "", "", "")))
  }
}
