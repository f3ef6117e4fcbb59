package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Web-crawl text preprocessing (SURVEY.md §2.3 curation family): URL
  * canonicalization / registered-domain extraction and HTML visible-text
  * stripping — the two transforms that sit in front of every crawl-derived
  * training corpus (URL-level dedup and boilerplate removal come before
  * any content-level dedup, because they are O(row) while near-dup is
  * O(candidate pairs)).
  *
  * Everything here is a pure `functions._` column expression — no UDFs, no
  * shuffles — so each transform stays inside whole-stage codegen and the
  * scan→filter→project pipeline it joins. The regex chains deliberately
  * use ONLY syntax with identical semantics in Java regex (Spark) and RE2
  * (the DuckDB oracle): no backreferences (`$1` vs `\1` differ), no
  * lookaround (RE2 lacks it). That cross-engine reproducibility is
  * load-bearing: canonical URLs are dedup keys, and a key that differs by
  * engine re-introduces the dups it was supposed to collapse.
  *
  * Reference anchor: the reference frames all payloads as schemaless JSON
  * text (`/root/reference/src/catenae/utils.py:19-39`) and leaves
  * domain-specific cleaning to user transforms; these are the standard
  * crawl-pipeline instances of that transform slot.
  */
object WebText {

  // ---------------------------------------------------------------- URLs

  /** Lowercased `scheme://host[:port]` prefix of a URL (empty string if
    * the value has no `//` authority marker). */
  private def authority(u: Column): Column =
    lower(regexp_extract(u, "^[^/]*//[^/]*", 0))

  /** SURT key (Sort-friendly URI Reordering Transform) — the CDX index
    * key convention (pywb/OpenWayback, CommonCrawl's cdx-*.gz files):
    * the whole URL lowercased, scheme dropped, default ports and a
    * leading `www.` label dropped, HOST LABELS REVERSED comma-joined,
    * `)` then the path (bare host ⇒ `/`), then the query with its
    * `&`-separated parameters SORTED (so param order never splits an
    * index key) and the fragment dropped:
    * `HTTP://WWW.Ex.ORG:80/P/1?b=2&a=1` → `org,ex)/p/1?a=1&b=2`.
    * Reversing the host groups a registrable domain's captures into
    * one contiguous, binary-searchable run of a SORTED index — the
    * property the whole CDX random-access story rests on. Codegen'd
    * regexp/array chain, scan-stage like [[canonicalUrl]] (which keeps
    * the URL shape for dedup keys; this is the INDEX key). */
  def surtKey(u: Column): Column = {
    val lc = lower(trim(u))
    val scheme = regexp_extract(lc, "^([a-z][a-z0-9+.-]*)://", 1)
    val rest = regexp_replace(lc, "^[a-z][a-z0-9+.-]*://", "")
    // userinfo never keys an index (user:pass@host and host are the
    // same capture)
    val noUser = regexp_replace(
      regexp_extract(rest, "^([^/?#]*)", 1), "^[^@]*@", "")
    // only the SCHEME'S OWN default port drops (pywb/surt): an explicit
    // https://h:80 or http://h:443 is a non-default port and must key
    // differently from the bare host — unconditional :80|:443 stripping
    // collided such captures under one urlkey. A scheme-less value
    // keys like http (the surt convention for bare host[/path] input).
    val defPort = when(scheme === "https", lit(":443"))
      .when(scheme === "http" || scheme === "", lit(":80"))
      .otherwise(lit(""))
    val noPort = when(defPort =!= "" && noUser.endsWith(defPort),
        noUser.substr(lit(1), length(noUser) - length(defPort)))
      .otherwise(noUser)
    val hostPort = regexp_replace(noPort, "^www\\.", "")
    // a NON-default port survives, attached after the reversed labels
    // (`org,example:8080)` — the pywb convention)
    val host = regexp_replace(hostPort, ":[0-9]+$", "")
    val port = regexp_extract(hostPort, "(:[0-9]+)$", 1)
    val pathq = regexp_replace(rest, "^[^/?#]*", "")
    val path = regexp_extract(pathq, "^([^?#]*)", 1)
    val query = regexp_extract(pathq, "\\?([^#]*)", 1)
    concat(
      array_join(reverse(split(host, "\\.")), ","), port, lit(")"),
      when(path === "", lit("/")).otherwise(path),
      when(query === "", lit(""))
        .otherwise(concat(lit("?"),
          array_join(array_sort(split(query, "&")), "&"))))
  }

  /** Canonical form of a (possibly messy) absolute http(s) URL:
    *  1. fragment stripped (`#…` never reaches the server);
    *  2. scheme+host lowercased (case-insensitive per RFC 3986) and a
    *     leading `www.` label dropped;
    *  3. default ports removed (`:80` for http, `:443` for https);
    *  4. duplicate path slashes collapsed;
    *  5. tracking parameters removed (`utm_*`, `fbclid`, `gclid`) with
    *     the `?`/`&` separators repaired;
    *  6. trailing `/` dropped from a non-root path.
    * Everything is a codegen'd regexp/CASE chain over one row — at crawl
    * scale this runs in the scan stage, and the canonical string becomes
    * the group-by key for URL-level dedup (step 0 of corpus curation). */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val auth0 = authority(noFrag)
    val rest0 = noFrag.substr(length(auth0) + 1, lit(1000000))
    // host case + www + default port (CASE instead of a backreference)
    val auth1 = regexp_replace(auth0, "//www\\.", "//")
    val auth = when(auth1.startsWith("http://") && auth1.endsWith(":80"),
        auth1.substr(lit(1), length(auth1) - 3))
      .when(auth1.startsWith("https://") && auth1.endsWith(":443"),
        auth1.substr(lit(1), length(auth1) - 4))
      .otherwise(auth1)
    // path + query cleanup. The tracker-name matches are ANCHORED to a
    // preceding '?' or '&' so a legitimate param whose name merely ENDS
    // in a tracker name (`?my_fbclid=1`) is never spliced (two passes,
    // still backreference-free — Java-regex∩RE2):
    val r1 = regexp_replace(rest0, "/{2,}", "/")
    // '&'-led tracking param (mid or end): drop "&name=val"
    val r2a = regexp_replace(r1, "&(utm_[a-z]*|fbclid|gclid)=[^&]*", "")
    // '?'-led tracking param with params following: drop it, keep '?'
    val r2 = regexp_replace(r2a, "\\?(utm_[a-z]*|fbclid|gclid)=[^&]*&", "?")
    // '?'-led tracking param as the only survivor: drop it with the '?'
    val r3 = regexp_replace(r2, "\\?(utm_[a-z]*|fbclid|gclid)=[^&]*$", "")
    val r4 = regexp_replace(r3, "[?&]$", "")
    val rest = when(r4.endsWith("/") && length(r4) > 1 && !r4.contains("?"),
        r4.substr(lit(1), length(r4) - 1))
      .otherwise(r4)
    concat(auth, rest)
  }

  /** Two-label public suffixes, grouped `tld -> second-level labels` —
    * the high-traffic slice of the publicsuffix.org registry section
    * (the ccTLDs that delegate under fixed second-level labels; all
    * entries are public knowledge from that list). A host ending in any
    * `label.tld` here takes THREE labels as its registered domain
    * (`shop.com.cn`), anything else takes two (`example.fr`). Grouped
    * form keeps the generated alternation compact; [[registeredDomain]]
    * compiles it into one anchored regex, and every oracle splices the
    * SAME generated pattern (the q213/q218 spliced-constant
    * discipline), so the table can grow — toward the full list — in
    * exactly one place. */
  private[graft] val MultiLabelSuffixGroups: Seq[(String, Seq[String])] = Seq(
    "uk" -> Seq("co", "org", "ac", "gov", "net", "sch", "ltd", "plc", "me"),
    "au" -> Seq("com", "net", "org", "edu", "gov", "asn", "id"),
    "jp" -> Seq("co", "ne", "or", "ac", "go", "ad", "ed", "gr", "lg"),
    "br" -> Seq("com", "net", "org", "gov", "edu"),
    "in" -> Seq("co", "net", "org", "gen", "firm", "ind", "gov", "ac",
      "edu", "res"),
    "cn" -> Seq("com", "net", "org", "gov", "edu", "ac"),
    "kr" -> Seq("co", "ne", "or", "go", "ac", "re", "pe"),
    "mx" -> Seq("com", "net", "org", "gob", "edu"),
    "tw" -> Seq("com", "net", "org", "gov", "edu", "idv"),
    "hk" -> Seq("com", "net", "org", "gov", "edu", "idv"),
    "sg" -> Seq("com", "net", "org", "gov", "edu", "per"),
    "za" -> Seq("co", "net", "org", "gov", "ac", "web"),
    "nz" -> Seq("co", "net", "org", "govt", "ac", "school", "gen", "geek"),
    "ar" -> Seq("com", "net", "org", "gob", "gov", "edu"),
    "tr" -> Seq("com", "net", "org", "gov", "edu", "bel", "k12", "av", "dr"),
    "il" -> Seq("co", "org", "net", "ac", "gov", "muni"),
    "id" -> Seq("co", "net", "or", "go", "ac", "web", "sch"),
    "th" -> Seq("co", "in", "or", "go", "ac", "net"),
    "my" -> Seq("com", "net", "org", "gov", "edu"),
    "ph" -> Seq("com", "net", "org", "gov", "edu"),
    "vn" -> Seq("com", "net", "org", "gov", "edu"),
    "ua" -> Seq("com", "net", "org", "gov", "edu", "in"),
    "ru" -> Seq("com", "net", "org"),
    "pl" -> Seq("com", "net", "org", "gov", "edu"),
    "eg" -> Seq("com", "net", "org", "gov", "edu"),
    "sa" -> Seq("com", "net", "org", "gov", "edu"),
    "ae" -> Seq("co", "net", "org", "gov", "ac"),
    "pe" -> Seq("com", "net", "org", "gob", "edu"),
    "ve" -> Seq("com", "net", "org", "gob", "edu"),
    "co" -> Seq("com", "net", "org", "gov", "edu"),
    "ec" -> Seq("com", "net", "org", "gob", "edu"),
    "uy" -> Seq("com", "net", "org", "gub", "edu"),
    "py" -> Seq("com", "net", "org", "gov", "edu"),
    "bo" -> Seq("com", "net", "org", "gob", "edu"),
    "gt" -> Seq("com", "net", "org", "gob", "edu"),
    "do" -> Seq("com", "net", "org", "gob", "edu"),
    "ke" -> Seq("co", "or", "ne", "go", "ac"),
    "ng" -> Seq("com", "net", "org", "gov", "edu"),
    "pk" -> Seq("com", "net", "org", "gov", "edu"),
    "bd" -> Seq("com", "net", "org", "gov", "edu"),
    "np" -> Seq("com", "net", "org", "gov", "edu"))

  /** The generated anchored alternation over
    * [[MultiLabelSuffixGroups]] plus the single-label fallback — shared
    * verbatim by the Spark expression and every oracle splice (Java
    * regex ∩ RE2: non-capturing groups and literal dots only). */
  private[graft] val RegisteredDomainRegex: String = {
    val groups = MultiLabelSuffixGroups.map { case (tld, labels) =>
      require(labels.nonEmpty && labels.distinct.size == labels.size,
        s"bad suffix group for .$tld")
      if (labels.size == 1) s"${labels.head}\\.$tld"
      else s"(?:${labels.mkString("|")})\\.$tld"
    }
    s"([^.]+\\.(?:${groups.mkString("|")}|[^.]+))$$"
  }

  /** RFC 3986 §6.2.2 percent-encoding normalization
    * ([[graft.functions.PercentEncoding]]): uppercase retained `%XX`
    * hex, decode unreserved octets, leave malformed `%` verbatim —
    * compose BEFORE [[canonicalUrl]] when URLs are dedup keys
    * (`%7Euser` ≡ `%7euser` ≡ `~user` name one resource; a key that
    * misses this re-admits every such duplicate). Kept out of
    * `canonicalUrl` itself so that chain stays a pure Java∩RE2 mirror
    * for its oracles; this one is a native scan (ground-truth
    * oracled, q230). */
  def normalizePercent(u: Column): Column =
    graft.functions.PercentEncoding.pctNormalize(u)

  /** Registered domain (eTLD+1) of a canonical URL's host, under the
    * generated public-suffix table ([[MultiLabelSuffixGroups]]):
    * two-label suffixes (`co.uk`, `com.cn`, `co.kr`, …) take three
    * labels, anything else takes two. ONE anchored regex with
    * non-capturing alternation — no backreferences — so Spark and the
    * oracle extract the identical domain. Misclassifying these skews
    * everything keyed on domain at crawl scale: per-domain caps (q77),
    * reputation (q201), and fetch budgets (q209). A deployment
    * tracking the FULL publicsuffix.org list (including 3-label and
    * wildcard rules) generates it into this same shape or uses a
    * broadcast longest-match table. */
  def registeredDomain(u: Column): Column = {
    val host = regexp_replace(regexp_extract(lower(u), "//[^/:?#]*", 0), "^//(www\\.)?", "")
    regexp_extract(host, RegisteredDomainRegex, 1)
  }

  /** RFC 3986 §5 relative-reference resolution: the target URL of `ref`
    * found on a page whose (effective) base URL is `base`. Handles every
    * form a real page emits — absolute (`scheme:` prefixed, passed
    * through), protocol-relative (`//host/…` takes the base scheme),
    * root-relative (`/path`), query-only (`?q`), fragment-only (`#f`,
    * resolves to the base minus its own fragment), empty (same), and
    * dotted relative paths (`x/y`, `./x`, `../x` — §5.3 merge + the
    * real §5.2.4 remove_dot_segments loop, exact at any nesting
    * depth). `base` must be an absolute hierarchical URL
    * (`scheme://authority…`); when it is not, every non-absolute `ref`
    * resolves to `''` (the caller's filter sentinel) rather than a
    * silently-colliding bare path — the contract [[resolveRedirects]]
    * and the link graph key on.
    *
    * Implemented as the native codegen'd
    * [[graft.functions.UrlResolve]] expression — one static call,
    * inside the surrounding WholeStageCodegen span. (The first cut was
    * a pure regexp/CASE column chain; its unrolled dot-segment removal
    * generated code past Janino's 64 KB method limit and knocked whole
    * stages into interpreted evaluation — q222 measured ~40% faster
    * and q219 ~2.5× faster with the kernel.) Scan-stage compute, no
    * shuffle — and MOST real-page links are relative, so this is the
    * difference between a link graph that sees the page and one that
    * sees the absolute minority. */
  def resolveUrl(base: Column, ref: Column): Column =
    graft.functions.UrlResolve.resolveUrl(base, ref)

  /** First `<base href=…>` target of a page (empty when absent) — the
    * HTML mechanism that overrides the page URL as the resolution base
    * for every relative link on the page. Same quote/attribute-order
    * handling as [[extractHrefs]]; may itself be relative (the HTML
    * spec resolves it against the page URL — [[resolvedLinkRows]]
    * does). */
  def baseHref(html: Column): Column =
    replace(regexp_extract(html,
      "(?is)<base\\s(?:[^>]*?[\\s\"'])?href\\s*=\\s*[\"']([^\"'<>\\s]+)[\"']",
      1), lit("&amp;"), lit("&"))

  /** Every quoted `href` target of a page's `<a>` tags in document
    * order, RELATIVE FORMS INCLUDED. Accepts single- or double-quoted
    * attributes and any attribute order inside the tag; the attribute
    * name is anchored to a preceding separator (whitespace or a closing
    * quote), so `data-href="…"` is never a link. The one entity that
    * legally appears raw inside attribute values (`&amp;`) is decoded,
    * so the URL is byte-comparable with its canonical form. */
  def extractHrefs(html: Column): Column =
    transform(regexp_extract_all(html,
        lit("(?is)<a\\s(?:[^>]*?[\\s\"'])?href\\s*=\\s*[\"']([^\"'<>\\s]+)[\"']"),
        lit(1)),
      l => regexp_replace(l, "&amp;", "&"))

  /** One row per resolvable out-link of each page: hrefs extracted in
    * all forms ([[extractHrefs]]), resolved against the page's
    * EFFECTIVE base — `<base href>` if present (itself resolved
    * against the page URL), else the page URL — and filtered to
    * http(s) targets. Fragment-only self-references are dropped (they
    * name the same document; keeping them would plant a self-edge on
    * every in-page TOC). Output: the `pages` columns + `link` +
    * `nofollow` — true when the anchor's `rel` token-list carries any
    * of `nofollow`/`ugc`/`sponsored` (the public link-annotation
    * vocabulary: the page's author disclaims endorsement, so ranking
    * and reputation must not count the edge; the per-LINK sibling of
    * the page-level [[metaRobotsSignals]] gate). Per-anchor attributes
    * are read from the SHORT open-tag span (the [[anchorTexts]]
    * discipline — O(tag) work, any attribute order), with the same
    * quoted-href and decoy-proof boundary rules as before.
    *
    * Scale shape: one codegen'd projection + one `explode` — the
    * [[hostLinkEdges]] scan stage with resolution fused in; the
    * per-link work is a bounded regexp/CASE chain, no shuffle, no UDF. */
  def resolvedLinkRows(pages: DataFrame, urlCol: String,
                       htmlCol: String): DataFrame = {
    val bh = baseHref(col(htmlCol))
    val eff = when(bh === "", col(urlCol))
      .otherwise(resolveUrl(col(urlCol), bh))
    // The http(s) verdict is decided on the CHEAP inputs (ref scheme /
    // base scheme), never on the resolved output: filtering on
    // `link rlike …` pushes the predicate through the projection and
    // re-inlines the whole resolveUrl regex chain into the Filter — the
    // q156 re-inlining class, doubling the per-link work. Equivalent by
    // construction: an absolute ref keeps its own scheme; every
    // relative form inherits the base's. Scheme matching is
    // case-insensitive per RFC 3986 (raw pages DO emit `HTTP://…`);
    // canonicalization lowercases it downstream.
    val refIsHttp = col("graft_ref").rlike("(?i)^https?://")
    val refHasScheme = col("graft_ref").rlike("^[A-Za-z][A-Za-z0-9+.-]*:")
    val baseIsHttp = col("graft_base").rlike("(?i)^https?://")
    // ONE relValue extraction + one alternation token-match per tag
    // (three separate relContains calls would re-run the attribute
    // parse per token)
    val disclaimed = relValue(col("graft_tag"))
      .rlike("(?i)(?:^|\\s)(?:nofollow|ugc|sponsored)(?:\\s|$)")
    pages
      .withColumn("graft_base", eff)
      // whole `<a …>` OPEN-TAG spans, so per-anchor attributes (href +
      // rel) read off the same short string; the href rules are the
      // extractHrefs ones verbatim (quoted value, boundary-anchored
      // attribute name — a data-href decoy never matches)
      .withColumn("graft_tag",
        explode(regexp_extract_all(col(htmlCol), lit("(?is)<a\\s[^>]*>"),
          lit(0))))
      .withColumn("graft_ref", tagHref(col("graft_tag")))
      .filter(col("graft_ref") =!= "" &&
        !col("graft_ref").startsWith("#") &&
        (refIsHttp || (!refHasScheme && baseIsHttp)))
      .withColumn("link", resolveUrl(col("graft_base"), col("graft_ref")))
      .withColumn("nofollow", disclaimed)
      .drop("graft_base", "graft_ref", "graft_tag")
  }

  /** Three-label public suffixes — the rule class the generated
    * two-label regex deliberately doesn't carry (Australian state
    * education registries, US k12/lib school districts — all from the
    * public publicsuffix.org list). A compact demo slice: a deployment
    * loads the full list into [[suffixTable]]'s frame. */
  private[graft] val ThreeLabelSuffixes: Seq[String] = Seq(
    "act.edu.au", "nsw.edu.au", "vic.edu.au", "qld.edu.au",
    "k12.ca.us", "k12.ny.us", "k12.tx.us", "lib.ca.us", "lib.ny.us")

  /** The multi-label suffix rules as a one-column `suffix` frame —
    * [[MultiLabelSuffixGroups]] flattened plus [[ThreeLabelSuffixes]].
    * A production deployment replaces this with the full
    * publicsuffix.org registry as a one-column `suffix` frame
    * (wildcard/exception syntax included): the TABLE path scales to
    * thousands of rules where a generated alternation regex cannot. */
  def suffixTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (MultiLabelSuffixGroups.flatMap { case (tld, labels) =>
      labels.map(l => s"$l.$tld")
    } ++ ThreeLabelSuffixes).toDF("suffix")
  }

  /** Registered domain (eTLD+1) via a broadcast LONGEST-MATCH rule
    * table with FULL publicsuffix.org semantics — plain suffixes
    * (`com.au`), wildcard rules (`*.ck`: any single label under the
    * base is itself a public suffix), and exception rules (`!www.ck`:
    * the named host is registrable even though a wildcard covers it).
    * Prevailing-rule selection per the published algorithm: an
    * exception beats everything, otherwise the rule with the most
    * labels wins (a wildcard counts its `*`); no match falls back to
    * the implicit `*` rule (suffix = the bare TLD). The registered
    * domain is the public suffix plus one label; a host no longer than
    * its suffix returns itself. Appends `out` to `df`.
    *
    * Scale shape: one broadcast left join per rule label-length
    * (`maxLabels` of them, each on a row-wise derived host tail — the
    * rule table pre-aggregates to ONE row per tail key carrying
    * plain/wildcard/exception flags, so no join fans out) — the corpus
    * side never shuffles and nothing explodes; the suffix table is
    * broadcast-sized by nature (the full PSL is ~10k rows). Rules
    * longer than `maxLabels` labels are not matched — raise it when
    * loading a list with longer rules (the public registry's longest
    * is covered by the default). Verified equivalent to
    * [[registeredDomain]] on every two-label rule (WebTextSpec pins
    * the equivalence over the q224 host set); wildcard/exception
    * precedence is oracle-pinned by q229's planted `*.ck` / `!www.ck`
    * / `*.nom.br` cohorts. */
  def registeredDomainByTable(df: DataFrame, urlCol: String,
                              suffixes: DataFrame,
                              out: String = "domain",
                              maxLabels: Int = 5): DataFrame = {
    require(maxLabels >= 1, s"maxLabels >= 1, got $maxLabels")
    val host = regexp_replace(
      regexp_extract(lower(col(urlCol)), "//[^/:?#]*", 0), "^//(www\\.)?", "")
    // parse the rule syntax once, table-side: the join KEY is the
    // rule's literal label tail (exception body, wildcard BASE — the
    // `*` consumes a host label at match time via the n-guard below)
    val parsed = suffixes.select(col("suffix").as("graft_rule"))
      .withColumn("graft_exc", col("graft_rule").startsWith("!"))
      .withColumn("graft_wild", col("graft_rule").startsWith("*."))
      .withColumn("graft_key",
        when(col("graft_exc"), expr("substring(graft_rule, 2)"))
          .when(col("graft_wild"), expr("substring(graft_rule, 3)"))
          .otherwise(col("graft_rule")))
    val withHost = df.withColumn("graft_host", host)
      .withColumn("graft_n", size(split(col("graft_host"), "\\.")))
    val joined = (1 to maxLabels).foldLeft(withHost) { (acc, m) =>
      val t = broadcast(parsed
        .filter(size(split(col("graft_key"), "\\.")) === m)
        .groupBy("graft_key").agg(
          max(when(!col("graft_exc") && !col("graft_wild"), true))
            .as(s"graft_p$m"),
          max(when(col("graft_wild"), true)).as(s"graft_w$m"),
          max(when(col("graft_exc"), true)).as(s"graft_e$m"))
        .withColumnRenamed("graft_key", s"graft_k$m"))
      acc.join(t,
        substring_index(col("graft_host"), ".", -m) === col(s"graft_k$m") &&
          col("graft_n") >= m, "left")
    }
    // prevailing rule as an argmax over (priority, suffix-label-count)
    // candidates: exceptions outrank every normal rule, longer rules
    // outrank shorter, the implicit `*` rule is the floor
    val candidates = (1 to maxLabels).flatMap { m =>
      Seq(
        when(coalesce(col(s"graft_e$m"), lit(false)),
          struct(lit(1000 + m).as("p"), lit(m - 1).as("s"))),
        when(coalesce(col(s"graft_w$m"), lit(false)) &&
            col("graft_n") >= m + 1,
          struct(lit(m + 1).as("p"), lit(m + 1).as("s"))),
        when(coalesce(col(s"graft_p$m"), lit(false)),
          struct(lit(m).as("p"), lit(m).as("s"))))
    } :+ struct(lit(0).as("p"), lit(1).as("s"))
    val slen = array_max(filter(array(candidates: _*),
      c => c.isNotNull)).getField("s")
    // suffix label counts span 0 (a single-label exception body) to
    // maxLabels+1 (a wildcard whose base is maxLabels long)
    val domain = (0 to maxLabels + 1).foldLeft(
      when(col("graft_n") <= col("graft_slen"), col("graft_host"))) {
      (acc, m) => acc.when(col("graft_slen") === m,
        substring_index(col("graft_host"), ".", -(m + 1)))
    }
    joined
      .withColumn("graft_slen", slen)
      .withColumn(out, coalesce(domain, col("graft_host")))
      .drop("graft_host" +: "graft_n" +: "graft_slen" +:
        (1 to maxLabels).flatMap(m => Seq(s"graft_k$m", s"graft_p$m",
          s"graft_w$m", s"graft_e$m")): _*)
  }

  // ---------------------------------------------------------------- HTML

  /** Visible text of an HTML payload: `<script>`/`<style>` blocks and
    * comments removed wholesale (their content is never visible), all
    * remaining tags replaced by a space (so `</p><p>` doesn't weld two
    * words), character references decoded in full — numeric
    * `&#8217;`/`&#xE9;` plus the named table
    * ([[graft.functions.HtmlUnescapeOps]]; `&nbsp;`-family → space) —
    * and whitespace collapsed. This is the boilerplate-strip half of a
    * Trafilatura-style extractor, expressed as a codegen'd regex chain —
    * the DOM-scoring half (link density, block weights) composes on top
    * of [[TextAnalysis]] quality signals downstream. Tag/comment removal
    * uses `(?s)` + non-greedy spans, identical in Java regex and RE2. */
  /** Never-visible span removal shared by [[visibleText]] and the
    * block segmenter: `<script>`/`<style>` contents and comments go
    * before any other HTML processing (their text must not leak into
    * block scoring). `(?s)` + non-greedy spans, identical in Java
    * regex and RE2. */
  private def stripNonVisible(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
  }

  /** Implemented as the native [[graft.functions.VisibleTextExpr]]
    * kernel — ONE expression call (six tight char scans) in place of
    * the original 8-regex chain, bit-identical output on every input
    * (`VisibleTextParitySpec` fuzzes the equality against
    * [[visibleTextRegex]]; every oracle that splices the regex chain
    * into DuckDB re-checks it per verify run). This chain runs TWICE
    * PER BLOCK in the jusText pipeline — the library's most expensive
    * query family — so the regex→kernel swap is the q213/q222 class of
    * structural fix. */
  def visibleText(html: Column): Column =
    graft.functions.VisibleTextFunctions.visibleText(html)

  /** The regexp_replace strip chain with the shared
    * [[graft.functions.HtmlUnescapeOps]] entity stage — the
    * cross-engine reference the native kernel is parity-pinned
    * against: the four STRIP passes are the exact regexes every
    * visible-text oracle splices into DuckDB SQL, and the entity stage
    * is the full character-reference decoder (numeric `&#8217;` /
    * `&#xE9;` + the named table — a fixed replace chain cannot express
    * numeric references, so the oracles mirror the decode with
    * per-planted-form replaces over inputs whose reference forms they
    * control). */
  private[graft] def visibleTextRegex(html: Column): Column = {
    val noTags = regexp_replace(stripNonVisible(html), "<[^>]*>", " ")
    val decoded = graft.functions.HtmlUnescapeFunctions.htmlUnescapeWs(noTags)
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** (href, anchor) pairs for a page's absolute http(s) links — anchor
    * text is the label OTHER pages' authors give a target, the classic
    * relevance signal a crawl pipeline aggregates per target domain
    * (and a training-pair source: anchor → linked page). Same
    * quote/attribute handling as [[extractHrefs]]; the anchor is the
    * tag's inner content up to the first `</a>` with nested markup
    * stripped, character references decoded in full
    * ([[graft.functions.HtmlUnescapeOps]]), and whitespace collapsed. The outer match extracts whole `<a …>…</a>` spans
    * (group 0); per-span group extraction then runs on the SHORT span
    * string, so the nested regex work is O(span), not O(page), per
    * link. Non-greedy quantifiers only — no backreferences, same
    * Java∩RE2 discipline as the rest of this file. */
  def anchorTexts(html: Column): Column = {
    val pat = "(?is)<a\\s(?:[^>]*?[\\s\"'])?href\\s*=\\s*[\"'](https?://[^\"'<>\\s]+)[\"']" +
      "[^>]*>(.*?)</a>"
    // anchor labels get the shared full character-reference decode
    // (cleanText); hrefs deliberately keep the &amp;-only decode — a
    // URL is a dedup/canonicalization KEY, and the RFC 3986 path never
    // entity-decodes, so broader decoding there would fork key spaces
    transform(regexp_extract_all(html, lit(pat), lit(0)), m => struct(
      replace(regexp_extract(m, pat, 1), lit("&amp;"), lit("&")).as("href"),
      cleanText(regexp_replace(
        regexp_extract(m, pat, 2), "<[^>]*>", " ")).as("anchor")))
  }

  /** Host-level link graph: explode each page's out-links — relative
    * forms RESOLVED against the page URL / `<base href>`
    * ([[resolvedLinkRows]]; protocol-relative links are the cross-host
    * edges an absolute-only extractor silently drops) — canonicalize
    * both endpoints, and aggregate to weighted
    * `(src_domain, dst_domain, n_links)` edges. Intra-domain edges are
    * dropped — host ranking (PageRank/HITS over this edge list, see
    * `ops/Graph`) measures CROSS-host endorsement, and nav/self links
    * (where almost all RESOLVED relative links land) would otherwise
    * dominate every weight. One explode + one hash
    * aggregation: at crawl scale the explode stays in the scan stage and
    * the only shuffle is the (src, dst) groupBy, whose cardinality is the
    * edge count of the HOST graph (millions), not the page graph
    * (trillions) — map-side partial counts do the collapse early.
    *
    * [[registeredDomain]] is applied to the RAW url, not
    * `canonicalUrl(url)`: rd only reads the host, and its own chain
    * already lowercases, drops `www.`, and stops at the port — running
    * the full 12-regex path/query canonicalization first adds nothing to
    * the domain AND gets re-inlined into the non-empty filter by project
    * pushdown (the q156 re-inlining class), multiplying the per-row
    * regex work severalfold. Verified equivalent: the q167 oracle
    * derives both domains from the raw strings. */
  def hostLinkEdges(pages: DataFrame, urlCol: String, htmlCol: String,
                    includeNofollow: Boolean = false): DataFrame =
    resolvedLinkRows(Spread.cpu(pages), urlCol, htmlCol)
      // rel=nofollow/ugc/sponsored edges are DISCLAIMED by the linking
      // page's author — counting them lets comment spam and paid
      // placements buy reputation, which is exactly what the
      // annotations exist to prevent; default-excluded here (the
      // ranking surface), while the crawl frontier keeps discovering
      // through them (discovery ≠ endorsement)
      .filter(if (includeNofollow) lit(true) else !col("nofollow"))
      .select(registeredDomain(col(urlCol)).as("src_domain"),
        registeredDomain(col("link")).as("dst_domain"))
      .groupBy("src_domain", "dst_domain")
      .agg(count(lit(1)).as("n_links"))
      // empty/self edges are dropped AFTER the aggregation: a per-row
      // filter on the domain aliases would push below the projection and
      // re-inline both regex chains into the Filter (the q156 class —
      // with resolveUrl in the lineage, that doubles the scan work);
      // post-agg the predicate reads real grouping attributes, and the
      // handful of extra groups are host-graph-sized noise
      .filter(col("src_domain") =!= "" && col("dst_domain") =!= "" &&
        col("src_domain") =!= col("dst_domain"))

  /** Sitemap XML entries: one struct `(loc, lastmod)` per `<url>` block
    * — the crawl-discovery sibling of robots.txt ([[Robots]] decides
    * what MAY be fetched; the sitemap says what the host WANTS fetched,
    * with freshness). `lastmod` is empty when the optional tag is
    * absent. Same codegen'd Java∩RE2 regex discipline as the link
    * extractors: the outer match captures each short `<url>` span and
    * the per-field extraction runs on the span, so nested regex work is
    * O(span), not O(document). A sitemap INDEX (`<sitemap>` blocks
    * pointing at child sitemaps) is the same shape — point this at the
    * fetched children. */
  def sitemapEntries(xml: Column): Column =
    transform(regexp_extract_all(xml, lit("(?is)<url>(.*?)</url>"), lit(1)),
      u => struct(
        trim(regexp_extract(u, "(?is)<loc>\\s*([^<]*?)\\s*</loc>", 1))
          .as("loc"),
        trim(regexp_extract(u, "(?is)<lastmod>\\s*([^<]*?)\\s*</lastmod>", 1))
          .as("lastmod"),
        // the optional scheduling hints (sitemaps.org): changefreq is a
        // fixed token vocabulary (folded), priority stays the verbatim
        // decimal STRING — parsing it to float here would force a
        // cross-engine float contract onto every consumer that only
        // wants loc/lastmod
        lower(trim(regexp_extract(u,
          "(?is)<changefreq>\\s*([^<]*?)\\s*</changefreq>", 1)))
          .as("changefreq"),
        trim(regexp_extract(u, "(?is)<priority>\\s*([^<]*?)\\s*</priority>", 1))
          .as("priority")))

  /** The sitemaps.org `changefreq` vocabulary as a revisit interval in
    * ms — the cold-start seed [[revisitSchedule]] refines once real
    * change observations exist: `always` → 0 (the caller's
    * min-interval clamp applies), hourly/daily/weekly/monthly/yearly →
    * their calendar ms, `never` → 400 days (pages marked never DO
    * change — re-verify eventually rather than trusting the hint
    * forever), and anything unrecognized or absent → -1 (no hint; the
    * caller falls back to its default cadence). Pure CASE over exact
    * Long literals — trivially oracle-mirrored. */
  def changefreqIntervalMs(cf: Column): Column =
    when(cf === "always", lit(0L))
      .when(cf === "hourly", lit(3600000L))
      .when(cf === "daily", lit(86400000L))
      .when(cf === "weekly", lit(604800000L))
      .when(cf === "monthly", lit(2592000000L))
      .when(cf === "yearly", lit(31536000000L))
      .when(cf === "never", lit(34560000000L))
      .otherwise(lit(-1L))

  /** Sitemap INDEX entries (`<sitemapindex>` → `<sitemap>` children):
    * large sites shard their sitemaps behind an index file (the
    * protocol caps one sitemap at 50k URLs), so discovery is two-level
    * — fetch the index, fan out to the child sitemaps, then
    * [[sitemapEntries]] each. Same struct shape (loc, lastmod) so both
    * levels union into one fetch frontier. */
  def sitemapIndexEntries(xml: Column): Column =
    transform(regexp_extract_all(xml, lit("(?is)<sitemap>(.*?)</sitemap>"),
        lit(1)),
      u => struct(
        trim(regexp_extract(u, "(?is)<loc>\\s*([^<]*?)\\s*</loc>", 1))
          .as("loc"),
        trim(regexp_extract(u, "(?is)<lastmod>\\s*([^<]*?)\\s*</lastmod>", 1))
          .as("lastmod")))

  /** Block-level tag boundary: opening or closing occurrence of any
    * HTML block-level element, or `<br>`. Splitting on these yields the
    * visual text blocks a reader perceives — the segmentation unit of
    * jusText/boilerpipe-style main-content extraction. Inline elements
    * (`<a> <b> <span> …`) deliberately do NOT split: they stay inside
    * their block so per-block link density can be measured. `\b` (an
    * ASCII word boundary, identical in Java regex and RE2) stops `p`
    * from matching inside `<pre>` while still allowing attributes. */
  private[graft] val BlockTagPattern =
    "(?i)(?:</?(?:h[1-6]|pre|p|div|ul|ol|li|dl|dt|dd|table|thead|tbody|" +
      "tfoot|tr|td|th|section|article|header|footer|nav|aside|blockquote|" +
      "form|main|figure|figcaption|fieldset|html|head|body)\\b[^>]*>|" +
      "<br\\s*/?>)"

  /** jusText/boilerpipe-style block segmentation: each page split into
    * visual blocks on block-level tag boundaries, each block scored with
    * the two classic chrome signals — visible-character count and link
    * density (share of visible chars inside `<a>` spans, integer
    * micros) — and classified `is_good` (long enough AND link-sparse).
    * Navigation bars, footers, and related-links boxes are short and
    * link-dense; article bodies are long and link-sparse: this
    * block-level scoring is the single biggest text-quality lever on
    * real crawl HTML, where page-level [[visibleText]] keeps every menu
    * item glued to the article. Empty blocks (consecutive tags) are
    * dropped; `block_idx` keeps the ORIGINAL split position so
    * downstream adjacency ([[mainContent]]'s bridge rule) sees document
    * order. Anchors are inline elements, so a legal block never cuts an
    * `<a>` span; a (non-conforming) anchor wrapping block elements
    * attributes its text to the first block.
    *
    * Scale shape: pure per-row regex chains (codegen'd, no UDF) +
    * one `posexplode` — no shuffle, no window; composes directly onto
    * the WARC→HTTP→charset decode scan. */
  def contentBlocks(pages: DataFrame, urlCol: String = "url",
                    htmlCol: String = "html", minChars: Int = 80,
                    maxLinkMicros: Long = 500000L): DataFrame =
    pages.select(col(urlCol).as("url"),
        posexplode(split(stripNonVisible(col(htmlCol)), BlockTagPattern))
          .as(Seq("pos", "raw")))
      .withColumn("block_idx", col("pos").cast("long"))
      .withColumn("block_text", visibleText(col("raw")))
      .withColumn("n_chars", length(col("block_text")).cast("long"))
      .filter(col("n_chars") > 0)
      // link density = (visible chars − visible chars outside <a>
      // spans) / visible chars; n_chars IS the total term, so reuse it
      // instead of running the visibleText chain on `raw` a second time
      // (the oracle computes strlen(block_text) − strlen(non_anchor)
      // identically)
      .withColumn("link_density_micros", Micros.ratio(
        col("n_chars") - length(visibleText(
          regexp_replace(col("raw"), "(?is)<a[\\s>].*?</a>", "")))
          .cast("long"),
        col("n_chars")))
      .withColumn("is_good", col("n_chars") >= minChars.toLong &&
        col("link_density_micros") <= maxLinkMicros)
      .select("url", "block_idx", "block_text", "n_chars",
        "link_density_micros", "is_good")

  /** Main-content extraction (the jusText keep-the-dense-run shape):
    * keep every `is_good` block, plus SHORT link-sparse blocks bridged
    * by good neighbors on BOTH sides in document order (captions,
    * pull-quotes, one-line transitions inside an article survive; a
    * short title next to a nav bar does not). Kept blocks re-join in
    * block order, newline-separated. Output per page: `main_text`,
    * `n_blocks` (non-empty), `n_kept`, `n_chars_kept`; pages whose
    * every block is chrome yield `main_text = ''` — a corpus-level
    * drop signal, left to the caller's gate.
    *
    * Scale shape: the lag/lead window partitions BY PAGE ordered by
    * block position — per-partition cardinality is one page's block
    * count, bounded by fetch size, never corpus-shaped; then one
    * url-keyed aggregate (map-side combine). The kept-text rebuild is
    * `array_sort(collect_list(struct))` per page, the library's
    * ordered-string_agg idiom. */
  def mainContent(pages: DataFrame, urlCol: String = "url",
                  htmlCol: String = "html", minChars: Int = 80,
                  maxLinkMicros: Long = 500000L): DataFrame = {
    val w = Window.partitionBy("url").orderBy("block_idx")
    val bridged = col("link_density_micros") <= maxLinkMicros &&
      coalesce(lag(col("is_good"), 1).over(w), lit(false)) &&
      coalesce(lead(col("is_good"), 1).over(w), lit(false))
    contentBlocks(pages, urlCol, htmlCol, minChars, maxLinkMicros)
      .withColumn("keep", col("is_good") || bridged)
      .groupBy("url")
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L))
          .as("n_chars_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("block_idx"), col("block_text"))))),
          x => x("block_text")), "\n").as("main_text"))
  }

  /** Page-level robots directives (`<meta name="robots" content="…">`,
    * RFC 9309's HTML sibling): the per-PAGE admission signal a crawl
    * pipeline must honor after the per-SITE robots.txt gate —
    * `noindex` pages are excluded from the corpus/index, `nofollow`
    * pages contribute no outlinks to the frontier. Both attribute
    * orders are matched (name-first and content-first; any quote
    * style on `name`, quoted `content`), multiple robots metas
    * union their directives, and `none` expands to
    * noindex+nofollow per the standard. Output per page: `directives`
    * (sorted-distinct, comma-joined, lowercased), `noindex`,
    * `nofollow`. Pure codegen'd regex chain — Java∩RE2 subset like
    * every WebText expression, no shuffle, composes onto the WARC→HTML
    * scan. */
  def metaRobotsSignals(pages: DataFrame, urlCol: String = "url",
                        htmlCol: String = "html"): DataFrame =
    pages.select(col(urlCol).as("url"),
        metaRobotsDirectives(col(htmlCol)).as("graft_dirs"))
      .select(col("url"),
        array_join(col("graft_dirs"), ",").as("directives"),
        array_contains(col("graft_dirs"), "noindex")
          .or(array_contains(col("graft_dirs"), "none")).as("noindex"),
        array_contains(col("graft_dirs"), "nofollow")
          .or(array_contains(col("graft_dirs"), "none")).as("nofollow"))

  /** The sorted-distinct meta-robots directive array of a page —
    * shared by [[metaRobotsSignals]] and the combined-channel
    * [[robotsGate]]. */
  private def metaRobotsDirectives(html: Column): Column = {
    // null html (the motivating non-HTML case: a PDF/image has no meta
    // tag at all) must yield the EMPTY directive array, not null: a
    // null array nulls array_contains, and `null || false` stays null —
    // so a downstream filter(!noindex) would silently drop every
    // non-blocked non-HTML resource
    val h = coalesce(html, lit(""))
    val nameFirst = "(?is)<meta\\s[^>]*?name\\s*=\\s*[\"']?robots[\"']?" +
      "[^>]*?content\\s*=\\s*[\"']([^\"'>]*)[\"']"
    val contentFirst = "(?is)<meta\\s[^>]*?content\\s*=\\s*[\"']([^\"'>]*)[\"']" +
      "[^>]*?name\\s*=\\s*[\"']?robots[\"']?"
    def contents(re: String): Column =
      regexp_extract_all(h, lit(re), lit(1))
    array_sort(array_distinct(filter(
      transform(flatten(transform(
        concat(contents(nameFirst), contents(contentFirst)),
        c => split(lower(c), ","))), d => trim(d)),
      d => d =!= "")))
  }

  /** Directive names of the X-Robots-Tag grammar — a leading
    * `token:` whose token is one of THESE is a directive (the
    * colon-carrying `unavailable_after: <date>` form), anything else
    * is an agent scope (`googlebot: noindex`). */
  private val XRobotsDirectives: Seq[String] = Seq(
    "all", "noindex", "nofollow", "none", "noarchive", "nosnippet",
    "notranslate", "noimageindex", "indexifembedded", "unavailable_after",
    "max-snippet", "max-image-preview", "max-video-preview")

  /** `X-Robots-Tag` response-header robots signals — the HTTP-layer
    * sibling of [[metaRobotsSignals]] and the ONLY robots channel a
    * non-HTML resource (PDF, image, feed) has. Each header value is a
    * rule line: optionally agent-scoped (`googlebot: noindex` — the
    * rule binds to that bot alone; an UNSCOPED line binds to every
    * bot), then comma-separated directives. The scope/directive
    * ambiguity of the colon — `unavailable_after: 25 Jun 2026 …` is a
    * DIRECTIVE carrying a colon, not a scope — resolves the way
    * Google's parser does: a leading token that names a known
    * directive ([[XRobotsDirectives]]) is a directive. Rules scoped to
    * OTHER agents are ignored; `agent` compares case-insensitively.
    * Output per response: `url`, `directives` (sorted-distinct,
    * comma-joined, lowercased, internal whitespace collapsed),
    * `noindex`, `nofollow` (both also true under `none`) — the
    * [[metaRobotsSignals]] shape, so the two channels union with
    * most-restrictive-wins semantics downstream. Pure codegen'd
    * regex/HOF chain over the header block, no shuffle. */
  def headerRobotsSignals(responses: DataFrame, urlCol: String = "url",
                          payloadCol: String = "payload",
                          agent: String = "graftbot"): DataFrame =
    responses.select(col(urlCol).as("url"),
        headerRobotsDirectives(col(payloadCol), agent).as("graft_dirs"))
      .select(col("url"),
        array_join(col("graft_dirs"), ",").as("directives"),
        array_contains(col("graft_dirs"), "noindex")
          .or(array_contains(col("graft_dirs"), "none")).as("noindex"),
        array_contains(col("graft_dirs"), "nofollow")
          .or(array_contains(col("graft_dirs"), "none")).as("nofollow"))

  /** The sorted-distinct X-Robots-Tag directive array of a response
    * for `agent` — shared by [[headerRobotsSignals]] and
    * [[robotsGate]]. */
  private def headerRobotsDirectives(payload: Column,
                                     agent: String): Column = {
    // null payload ⇒ empty directive array (the metaRobotsDirectives
    // null rule: noindex/nofollow must be non-null booleans)
    val tags = Http.xRobotsTags(coalesce(payload, lit("")))
    def prefix(v: Column): Column =
      lower(regexp_extract(v, "^([A-Za-z0-9_*-]+)\\s*:", 1))
    def scoped(v: Column): Column =
      prefix(v) =!= "" && !prefix(v).isin(XRobotsDirectives: _*)
    def applies(v: Column): Column =
      !scoped(v) || prefix(v) === lit(agent.toLowerCase)
    def ruleBody(v: Column): Column =
      when(scoped(v), regexp_replace(v, "^[A-Za-z0-9_*-]+\\s*:\\s*", ""))
        .otherwise(v)
    array_sort(array_distinct(filter(
      transform(
        flatten(transform(filter(tags, v => applies(v)),
          v => split(ruleBody(v), ","))),
        d => regexp_replace(trim(lower(d)), "\\s+", " ")),
      d => d =!= "")))
  }

  /** The combined verdict columns APPENDED to the frame — every input
    * column kept, `meta_directives` / `header_directives` / `noindex`
    * / `nofollow` added in one projection: no re-projection, no
    * self-join (a verdict frame joined back on url would re-run both
    * regex chains AND fan out on duplicate urls, the q156 double-eval
    * class). The form a streaming gate composes
    * ([[graft.runtime.RobotsPageGateLink]]); [[robotsGate]] is its
    * five-column projection. */
  def robotsGateAll(pages: DataFrame,
                    htmlCol: String = "html",
                    payloadCol: String = "payload",
                    agent: String = "graftbot"): DataFrame = {
    val md = metaRobotsDirectives(col(htmlCol))
    val hd = headerRobotsDirectives(col(payloadCol), agent)
    def restricts(dirs: Column, d: String): Column =
      array_contains(dirs, d) || array_contains(dirs, "none")
    pages
      .withColumn("graft_md", md)
      .withColumn("graft_hd", hd)
      .withColumn("meta_directives", array_join(col("graft_md"), ","))
      .withColumn("header_directives", array_join(col("graft_hd"), ","))
      .withColumn("noindex",
        restricts(col("graft_md"), "noindex") ||
          restricts(col("graft_hd"), "noindex"))
      .withColumn("nofollow",
        restricts(col("graft_md"), "nofollow") ||
          restricts(col("graft_hd"), "nofollow"))
      .drop("graft_md", "graft_hd")
  }

  /** The COMBINED robots verdict of a fetched page — `<meta
    * name=robots>` AND `X-Robots-Tag` headers, most-restrictive-wins
    * (a page is noindex/nofollow if EITHER channel says so — the rule
    * every major engine documents; a pipeline honoring only the meta
    * tag silently keeps every header-gated page, and non-HTML
    * resources have no meta tag at all). One scan-stage projection
    * over the fetched row ([[robotsGateAll]] — ONE directive/verdict
    * construction shared by both forms, so the gates cannot drift).
    * Output: `url`, `meta_directives`, `header_directives`,
    * `noindex`, `nofollow`. */
  def robotsGate(pages: DataFrame, urlCol: String = "url",
                 htmlCol: String = "html", payloadCol: String = "payload",
                 agent: String = "graftbot"): DataFrame =
    robotsGateAll(pages, htmlCol, payloadCol, agent)
      .select(col(urlCol).as("url"), col("meta_directives"),
        col("header_directives"), col("noindex"), col("nofollow"))

  /** Redirect-chain resolution over fetched responses: from per-URL
    * `(url, status, location)` records, walk the 3xx redirect graph up
    * to `maxHops` and report each URL's `final_url`, `n_hops`,
    * `redirected`, and `truncated` (the final URL STILL redirects at
    * the hop limit — which also flags every redirect loop, since a
    * loop never stops redirecting). Canonical-URL aggregation, dedup
    * keys, and link-graph endpoints should use `final_url`: at crawl
    * scale a large share of captured URLs are 301s onto their
    * canonical form, and keying on the pre-redirect URL double-counts
    * every such page. Conflicting captures of one URL resolve
    * deterministically (min resolved location).
    *
    * `Location` values are RFC 3986-resolved against the source URL
    * first ([[resolveUrl]]): RFC 9110 explicitly allows relative
    * Location headers and real servers emit them constantly — a raw
    * `Location: /new-path` would never equi-join back to an absolute
    * URL key (chains silently reporting `n_hops = 0`) and, worse,
    * identical relative paths from DIFFERENT hosts would collide into
    * one final-URL key. A location that cannot resolve (relative
    * target under a non-hierarchical source) is ignored as no edge.
    *
    * Scale shape: the edge table is redirect-row-bounded (a fraction
    * of the corpus; AQE broadcasts it when small) and the walk is
    * `maxHops` unrolled equi-joins — the bounded-round PageRank shape,
    * no window, no iteration-to-fixpoint, no cartesian. */
  def resolveRedirects(responses: DataFrame, urlCol: String = "url",
                       statusCol: String = "status_code",
                       locationCol: String = "location",
                       maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1, s"maxHops >= 1, got $maxHops")
    val redirectStatuses = Seq(301, 302, 303, 307, 308)
    // resolvability is decided on the INPUTS (absolute location, or a
    // hierarchical source URL to anchor a relative one) so the
    // resolveUrl chain is never re-inlined into a pushed-down filter on
    // its own output; under this predicate the resolved value is
    // non-empty by construction
    val resolvable = col(locationCol).rlike("^[A-Za-z][A-Za-z0-9+.-]*:") ||
      col(urlCol).rlike("^[A-Za-z][A-Za-z0-9+.-]*://")
    val edges = responses
      .filter(col(statusCol).isin(redirectStatuses: _*) &&
        col(locationCol).isNotNull && col(locationCol) =!= "" && resolvable)
      .select(col(urlCol),
        resolveUrl(col(urlCol), col(locationCol)).as("graft_loc"))
      .groupBy(col(urlCol).as("graft_src"))
      .agg(min(col("graft_loc")).as("graft_dst"))
    var cur = responses.select(col(urlCol).as("url")).distinct()
      .select(col("url"), col("url").as("final_url"), lit(0L).as("n_hops"))
    for (_ <- 1 to maxHops) {
      cur = cur.join(edges, cur("final_url") === edges("graft_src"), "left")
        .select(col("url"),
          when(col("graft_dst").isNotNull, col("graft_dst"))
            .otherwise(col("final_url")).as("final_url"),
          (col("n_hops") +
            when(col("graft_dst").isNotNull, 1L).otherwise(0L)).as("n_hops"))
    }
    cur.join(edges, cur("final_url") === edges("graft_src"), "left")
      .select(col("url"), col("final_url"), col("n_hops"),
        (col("n_hops") > 0).as("redirected"),
        col("graft_dst").isNotNull.as("truncated"))
  }

  /** Page metadata a training-data pipeline keeps alongside the text:
    * `<title>` inner text, the `description` meta, and the OpenGraph
    * `og:title` / `og:description` properties (both attribute orders,
    * any quote style on the name/property side), entities decoded and
    * whitespace collapsed like [[visibleText]]. Output: the `pages`
    * columns + `title`, `description`, `og_title`, `og_description`
    * (empty string when absent). Pure codegen'd regex projection —
    * scan-stage, no shuffle, the Java∩RE2 discipline throughout. */
  def pageMetadata(pages: DataFrame, htmlCol: String = "html"): DataFrame = {
    // the shared full character-reference decode + whitespace fold
    def clean(c: Column): Column = cleanText(c)
    def metaContent(nameAttr: String, name: String): Column = {
      // the name is FOLLOWED by a boundary char (quote, whitespace, /,
      // >) so an attribute value merely STARTING with it
      // (name="descriptionx") never matches — the data-href decoy rule
      val nameFirst = s"(?is)<meta\\s[^>]*?$nameAttr\\s*=\\s*[\"']?$name" +
        "[\"'\\s/>][^>]*?content\\s*=\\s*[\"']([^\"'>]*)[\"']"
      val contentFirst = "(?is)<meta\\s[^>]*?content\\s*=\\s*" +
        s"[\"']([^\"'>]*)[\"'][^>]*?$nameAttr\\s*=\\s*[\"']?$name[\"'\\s/>]"
      val h = col(htmlCol)
      val a = regexp_extract(h, nameFirst, 1)
      when(a =!= "", clean(a))
        .otherwise(clean(regexp_extract(h, contentFirst, 1)))
    }
    pages
      .withColumn("title", clean(regexp_extract(col(htmlCol),
        "(?is)<title[^>]*>(.*?)</title>", 1)))
      .withColumn("description", metaContent("name", "description"))
      .withColumn("og_title", metaContent("property", "og:title"))
      .withColumn("og_description", metaContent("property", "og:description"))
  }

  // -------------------------------------------------- head <link> family

  /** Every `<link …>` tag of a page as a raw-tag array — the shared
    * extraction behind the rel-typed head-link family (canonical,
    * hreflang alternates, feed discovery). Per-tag attribute reads then
    * run on the SHORT tag string in ANY attribute order (the
    * [[anchorTexts]] span discipline: O(tag), not O(page), per
    * attribute — and order-free beats enumerating attribute
    * permutations in one page-wide regex). */
  private def linkTags(html: Column): Column =
    regexp_extract_all(html, lit("(?is)<link\\s[^>]*>"), lit(0))

  /** The tag's `rel` attribute VALUE ('' when absent). Attributes are
    * consumed left-to-right from the tag start — quoted values
    * swallowed whole — so a `rel=` substring INSIDE another
    * attribute's value (`title="rel=nofollow is bad"`) can never be
    * read as the rel attribute. Implemented as the native
    * [[graft.functions.AttrValueOps]] char scan: the equivalent regex
    * needs an attribute-consuming alternation loop whose backtracking
    * explodes on exactly the common case — a tag WITHOUT rel (most
    * `<a>` tags) — measured 2–3× on every rel-reading query. */
  private def relValue(tag: Column): Column =
    graft.functions.AttrValueFunctions.attrValue(tag, "rel")

  /** True when the tag's `rel` value-list contains `value` (quoted
    * `rel` may list several tokens — `rel="alternate nofollow"`).
    * Token-matched within the EXTRACTED [[relValue]], boundary-anchored
    * on both sides, so `canonicalx` / `x-canonical` never match (the
    * data-href decoy rule) and `rel=` text inside an unrelated
    * attribute's value never fabricates a match. Java∩RE2 subset. */
  private def relContains(tag: Column, value: String): Column =
    relValue(tag).rlike("(?i)(?:^|\\s)" + value + "(?:\\s|$)")

  /** The tag's `href` target with `&amp;` decoded ('' when absent) —
    * the native [[graft.functions.AttrValueOps]] attribute read
    * (quoted or unquoted, left-to-right like [[relValue]]: an `href=`
    * substring inside another attribute's quoted value can never be
    * read as the link target, and real-page unquoted hrefs — which the
    * quoted-only regex dropped — now extract). */
  private def tagHref(tag: Column): Column =
    replace(graft.functions.AttrValueFunctions.attrValue(tag, "href"),
      lit("&amp;"), lit("&"))

  /** Entity decode + whitespace fold shared by the text-bearing
    * extractors: the full [[graft.functions.HtmlUnescapeOps]] decoder
    * (numeric + named references, `&nbsp;`-family → space so the fold
    * below collapses it; single pass, so `&amp;lt;` decodes to `&lt;`,
    * not `<`). */
  private def cleanText(c: Column): Column =
    trim(regexp_replace(
      graft.functions.HtmlUnescapeFunctions.htmlUnescapeWs(c), "\\s+", " "))

  /** First `rel="canonical"` link target of a page in document order
    * ('' when none) — the author-declared consolidation key. May be
    * relative; [[canonicalTargets]] resolves it. */
  def canonicalLinkHref(html: Column): Column =
    coalesce(get(transform(filter(linkTags(html),
      t => relContains(t, "canonical") && tagHref(t) =!= ""),
      t => tagHref(t)), lit(0)), lit(""))

  /** Author-declared canonical target per page (`<link
    * rel="canonical">`, RFC 6596): the href resolved against the
    * page's effective base (`<base href>` if present, else the page
    * URL — the [[resolvedLinkRows]] rule, since real canonical links
    * are often relative), falling back to the page URL itself when the
    * tag is absent or unresolvable. Output: the `pages` columns +
    * `canonical_target` (absolute), `has_canonical`, `is_self`
    * (target == page URL after [[canonicalUrl]] normalization on
    * both). Dedup and URL-consolidation should key on
    * `canonical_target`: syndicated/paginated/parameterized variants
    * of one article all declare the same target, collapsing duplicate
    * content BEFORE any text-level near-dup pass touches it.
    *
    * Scale shape: pure codegen'd regex/CASE projection in the scan
    * stage — no shuffle, no UDF, no explode (only the FIRST canonical
    * tag is read, per the standard). */
  def canonicalTargets(pages: DataFrame, urlCol: String = "url",
                       htmlCol: String = "html"): DataFrame = {
    val bh = baseHref(col(htmlCol))
    val eff = when(bh === "", col(urlCol))
      .otherwise(resolveUrl(col(urlCol), bh))
    val resolved = when(col("graft_ch") === "", lit(""))
      .otherwise(resolveUrl(col("graft_eff"), col("graft_ch")))
    pages
      .withColumn("graft_ch", canonicalLinkHref(col(htmlCol)))
      .withColumn("graft_eff", eff)
      .withColumn("graft_resolved", resolved)
      .withColumn("has_canonical", col("graft_resolved") =!= "")
      .withColumn("canonical_target",
        when(col("has_canonical"), col("graft_resolved"))
          .otherwise(col(urlCol)))
      .withColumn("is_self", canonicalUrl(col("canonical_target")) ===
        canonicalUrl(col(urlCol)))
      .drop("graft_ch", "graft_eff", "graft_resolved")
  }

  /** `hreflang` alternates (`<link rel="alternate" hreflang=… href=…>`):
    * one struct `(lang, href)` per declared language variant, document
    * order, lang lowercased (BCP 47 tags are case-insensitive), any
    * attribute order. The variants of one page are near-literal
    * TRANSLATIONS of each other — the standard seed for bitext mining,
    * and the cluster key that stops a multilingual dedup pass from
    * treating `example.com/en/p` and `example.com/de/p` as independent
    * documents when budgeting per-domain quotas. `x-default` rows pass
    * through (callers filter). */
  def hreflangLinks(html: Column): Column =
    filter(transform(filter(linkTags(html), t => relContains(t, "alternate")),
        t => struct(
          // native attribute read, then the leading BCP 47 token (the
          // old regex's [A-Za-z0-9-]+ truncation rule, kept)
          lower(regexp_extract(
            graft.functions.AttrValueFunctions.attrValue(t, "hreflang"),
            "^[A-Za-z0-9-]+", 0)).as("lang"),
          tagHref(t).as("href"))),
      x => x("lang") =!= "" && x("href") =!= "")

  /** Feed discovery (`<link rel="alternate" type="application/rss+xml
    * |atom+xml" href=…>`): one struct `(feed_type, href)` per declared
    * feed, `feed_type` in `rss`/`atom` — the freshness channel a
    * recrawl scheduler polls instead of re-fetching every page
    * ([[revisitSchedule]] decides cadence; the feed says WHAT changed).
    * Stylesheet/preload links and alternates without a feed MIME type
    * never match. */
  def feedLinks(html: Column): Column =
    filter(transform(filter(linkTags(html), t => relContains(t, "alternate")),
        t => struct(
          // native attribute read + exact MIME equality (the old
          // boundary-anchored prefix match reduces to this on a whole
          // attribute value)
          when(lower(graft.functions.AttrValueFunctions
              .attrValue(t, "type")) === "application/rss+xml", "rss")
            .when(lower(graft.functions.AttrValueFunctions
              .attrValue(t, "type")) === "application/atom+xml", "atom")
            .otherwise("").as("feed_type"),
          tagHref(t).as("href"))),
      x => x("feed_type") =!= "" && x("href") =!= "")

  /** Feed-entry parsing over fetched RSS 2.0 / Atom XML: one struct
    * `(title, link, published)` per `<item>` (RSS: text `<link>`,
    * `<pubDate>`) or `<entry>` (Atom: `<link href=…>`, `<updated>`
    * preferred over `<published>` — the feed-reader rule). Both
    * vocabularies parse from ONE call so a mixed fetch frontier needs
    * no routing; titles get the [[visibleText]] entity decode +
    * whitespace fold. Same outer-span regex discipline as
    * [[sitemapEntries]]: per-entry group extraction runs on the short
    * entry span, O(span) not O(document). */
  def feedEntries(xml: Column): Column = {
    val rss = transform(regexp_extract_all(xml,
        lit("(?is)<item(?:\\s[^>]*)?>(.*?)</item>"), lit(1)),
      i => struct(
        cleanText(regexp_extract(i, "(?is)<title[^>]*>(.*?)</title>", 1))
          .as("title"),
        trim(regexp_extract(i, "(?is)<link[^>]*>([^<]*?)</link>", 1))
          .as("link"),
        trim(regexp_extract(i, "(?is)<pubdate[^>]*>([^<]*?)</pubdate>", 1))
          .as("published")))
    val atomDate = (e: Column) => {
      val upd = trim(regexp_extract(e,
        "(?is)<updated[^>]*>([^<]*?)</updated>", 1))
      when(upd =!= "", upd).otherwise(trim(regexp_extract(e,
        "(?is)<published[^>]*>([^<]*?)</published>", 1)))
    }
    val atom = transform(regexp_extract_all(xml,
        lit("(?is)<entry(?:\\s[^>]*)?>(.*?)</entry>"), lit(1)),
      e => struct(
        cleanText(regexp_extract(e, "(?is)<title[^>]*>(.*?)</title>", 1))
          .as("title"),
        replace(regexp_extract(e,
            "(?is)<link\\s[^>]*?href\\s*=\\s*[\"']([^\"'<>\\s]+)[\"']", 1),
          lit("&amp;"), lit("&")).as("link"),
        atomDate(e).as("published")))
    concat(rss, atom)
  }

  /** Raw JSON-LD blocks of a page (`<script
    * type="application/ld+json">…</script>`, schema.org structured
    * data), trimmed, document order — the machine-readable metadata
    * channel (article headline, publish date, author) that is far more
    * reliable than scraping the rendered HTML when present.
    * [[structuredData]] projects the standard fields; this raw form is
    * for callers with their own schemas. */
  def jsonLdBlocks(html: Column): Column =
    transform(regexp_extract_all(html,
        lit("(?is)<script\\s[^>]*?type\\s*=\\s*[\"']application/ld\\+json" +
          "[\"'][^>]*>(.*?)</script>"), lit(1)),
      b => trim(b))

  /** One row per JSON-LD block with the schema.org article fields
    * projected: `block_idx`, `item_type` (`@type`), `headline`,
    * `date_published`, `author_name` (`author.name`, the object form) —
    * empty string when a field is absent or the block is not valid
    * JSON (`get_json_object` returns null on malformed input; a crawl
    * corpus ALWAYS contains malformed blocks, and a hard error on one
    * row would kill the stage). Scale shape: one codegen'd regex
    * projection + one `posexplode` + per-row JSON path reads — scan
    * stage, no shuffle. */
  def structuredData(pages: DataFrame, urlCol: String = "url",
                     htmlCol: String = "html"): DataFrame = {
    def jstr(b: Column, path: String): Column = {
      val v = get_json_object(b, path)
      // get_json_object returns SCALARS unquoted but nulls on absence;
      // normalize to '' so downstream group keys are total
      coalesce(v, lit(""))
    }
    pages
      .select(col(urlCol).as("url"),
        posexplode(jsonLdBlocks(col(htmlCol))).as(Seq("pos", "graft_b")))
      .select(col("url"), col("pos").cast("long").as("block_idx"),
        jstr(col("graft_b"), "$['@type']").as("item_type"),
        jstr(col("graft_b"), "$.headline").as("headline"),
        jstr(col("graft_b"), "$.datePublished").as("date_published"),
        jstr(col("graft_b"), "$.author.name").as("author_name"))
  }

  /** Publish-date extraction — the per-page freshness signal curation
    * and recrawl scheduling key on, coalesced from the four places
    * real pages declare it, in trust order:
    *  1. JSON-LD `datePublished` (the first block carrying one) — the
    *     machine-readable channel, most reliable when present;
    *  2. `<meta property="article:published_time">` (OpenGraph
    *     article vocabulary, either attribute order);
    *  3. the first `<time datetime=…>` element;
    *  4. a `/YYYY/MM[/DD]/` path segment of the page URL (century
    *     19/20 anchored) — the blog-permalink convention, weakest but
    *     ubiquitous.
    * Output: the `pages` columns + `published_raw` (the winning
    * declaration verbatim), `published_source`
    * (`jsonld`/`meta`/`time`/`url`/''), and `published_date` — the
    * `YYYY-MM-DD` prefix when the winner starts with one (ISO 8601
    * timestamps reduce to their date), the URL form zero-padded with
    * day `01` when absent, '' otherwise. Extraction, not calendar
    * validation — a declared `2025-13-40` passes through (audit
    * downstream; rejecting here would silently convert bad metadata
    * into missing metadata). Pure codegen'd regex/CASE projection +
    * per-row JSON path reads — scan-stage, no shuffle, Java∩RE2
    * discipline. */
  def publishDates(pages: DataFrame, urlCol: String = "url",
                   htmlCol: String = "html"): DataFrame = {
    val h = col(htmlCol)
    val jsonld = coalesce(get(filter(transform(jsonLdBlocks(h),
      b => coalesce(get_json_object(b, "$.datePublished"), lit(""))),
      d => d =!= ""), lit(0)), lit(""))
    val metaNameFirst = "(?is)<meta\\s[^>]*?property\\s*=\\s*[\"']?" +
      "article:published_time[\"'\\s/>][^>]*?content\\s*=\\s*" +
      "[\"']([^\"'>]*)[\"']"
    val metaContentFirst = "(?is)<meta\\s[^>]*?content\\s*=\\s*" +
      "[\"']([^\"'>]*)[\"'][^>]*?property\\s*=\\s*[\"']?" +
      "article:published_time[\"'\\s/>]"
    val metaA = regexp_extract(h, metaNameFirst, 1)
    val meta = when(metaA =!= "", metaA)
      .otherwise(regexp_extract(h, metaContentFirst, 1))
    val timeTag = regexp_extract(h,
      "(?is)<time\\s[^>]*?datetime\\s*=\\s*[\"']([^\"'<>]+)[\"']", 1)
    val urlDateRe = "/((?:19|20)[0-9]{2})/([0-9]{2})(?:/([0-9]{2}))?/"
    val uy = regexp_extract(col(urlCol), urlDateRe, 1)
    val um = regexp_extract(col(urlCol), urlDateRe, 2)
    val ud = regexp_extract(col(urlCol), urlDateRe, 3)
    val urlRaw = when(uy === "", lit(""))
      .otherwise(concat(uy, lit("-"), um, lit("-"),
        when(ud === "", lit("01")).otherwise(ud)))
    val raw = when(jsonld =!= "", jsonld)
      .when(meta =!= "", meta)
      .when(timeTag =!= "", timeTag)
      .otherwise(urlRaw)
    val source = when(jsonld =!= "", lit("jsonld"))
      .when(meta =!= "", lit("meta"))
      .when(timeTag =!= "", lit("time"))
      .when(urlRaw =!= "", lit("url"))
      .otherwise(lit(""))
    pages
      .withColumn("published_raw", raw)
      .withColumn("published_source", source)
      .withColumn("published_date",
        when(col("published_raw").rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}"),
          col("published_raw").substr(1, 10)).otherwise(lit("")))
  }

  /** Conditional-revalidation fetch plan (RFC 9110 §13.1): from the
    * previous crawl's per-URL validators — `etag`, `last_modified`
    * columns as [[graft.ops.Http.etag]]/[[graft.ops.Http.lastModified]]
    * extract them, empty = absent — derive each URL's cheapest correct
    * re-fetch mode and the precondition header to send:
    * `if-none-match` when an entity tag exists (the stronger
    * validator, preferred per §13.1.1), else `if-modified-since` when
    * a date exists, else a plain `full` fetch. A 304 costs headers
    * only, so at crawl scale the share of URLs carrying validators IS
    * the refetch-bandwidth model. Output: the frame + `fetch_mode`
    * (`conditional`/`full`), `precondition_header`,
    * `precondition_value`. Pure per-row CASE — scan-stage, no
    * shuffle; composes after [[revisitSchedule]] decides WHEN. */
  def revalidationPlan(prev: DataFrame, etagCol: String = "etag",
                       lastModifiedCol: String = "last_modified"): DataFrame =
    prev
      .withColumn("fetch_mode",
        when(col(etagCol) =!= "" || col(lastModifiedCol) =!= "",
          lit("conditional")).otherwise(lit("full")))
      .withColumn("precondition_header",
        when(col(etagCol) =!= "", lit("if-none-match"))
          .when(col(lastModifiedCol) =!= "", lit("if-modified-since"))
          .otherwise(lit("")))
      .withColumn("precondition_value",
        when(col(etagCol) =!= "", col(etagCol))
          .when(col(lastModifiedCol) =!= "", col(lastModifiedCol))
          .otherwise(lit("")))

  /** Change-rate revisit schedule (the Cho/Garcia-Molina freshness
    * policy, the standard recrawl heuristic): from a fetch history of
    * `(url, fetch_ts_ms, changed)` rows — `changed` is the fetcher's
    * content-differs-from-previous flag — estimate each URL's change
    * interval as `observed_span / max(n_changes, 1)` and schedule
    * `next_fetch_ms = last_fetch + clamp(interval, minIntervalMs,
    * maxIntervalMs)`: pages that changed at every visit re-fetch at the
    * min bound, never-changing pages back off to the max bound, and a
    * single-fetch URL (span 0) clamps to the min bound (nothing is
    * known — revisit soon). All arithmetic is exact Long floor division
    * (order-free, the library micros discipline).
    *
    * Scale shape: ONE url-keyed aggregate with map-side partial
    * combine — per-key cardinality is that URL's fetch count, bounded
    * by crawl policy, never corpus-shaped. No window, no join. */
  def revisitSchedule(history: DataFrame,
                      minIntervalMs: Long = 3600000L,
                      maxIntervalMs: Long = 2592000000L): DataFrame = {
    require(0 < minIntervalMs && minIntervalMs <= maxIntervalMs,
      s"bad clamp bounds: [$minIntervalMs, $maxIntervalMs]")
    val agg = history.groupBy("url").agg(
      count(lit(1)).as("n_fetches"),
      sum(when(col("changed"), 1L).otherwise(0L)).as("n_changes"),
      min(col("fetch_ts_ms")).as("graft_first"),
      max(col("fetch_ts_ms")).as("last_fetch_ms"))
    val span = col("last_fetch_ms") - col("graft_first")
    val denom = greatest(col("n_changes"), lit(1L))
    val est = call_function("div", span - pmod(span, denom), denom)
    agg.select(col("url"), col("n_fetches"), col("n_changes"),
        col("last_fetch_ms"),
        least(greatest(est, lit(minIntervalMs)), lit(maxIntervalMs))
          .as("interval_ms"))
      .withColumn("next_fetch_ms", col("last_fetch_ms") + col("interval_ms"))
  }
}
