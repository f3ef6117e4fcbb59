package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar-function parity surface for the reference's `utils.py`:
  *
  *  - blake2b_256 / blake2b_512 / sha3_512 hex digests of UTF-8 text
  *    (reference `src/catenae/utils.py:42-57`),
  *  - uid = blake2b_256(uuid4)[:12] (reference `utils.py:60-61`),
  *  - epoch-second / epoch-milli timestamps (reference `utils.py:11-16`)
  *    → Spark built-ins `unix_timestamp` / `unix_millis` over
  *    `current_timestamp()` (no port needed),
  *  - JSON serde (reference `utils.py:19-39`) → Spark built-ins
  *    `to_json` / `from_json` / `get_json_object` (no port needed).
  *
  * blake2b_256/512 are the native codegen'd [[Blake2bHash]] Catalyst
  * expression (RFC 7693 core in [[Blake2b]]) — they run inside the
  * whole-stage span like any built-in. SHA3-512 is the eval-only
  * [[Sha3_512Hash]] expression (CodegenFallback — the JCE digest
  * dominates any generated call body); compute it once per row in a
  * projection, not in a hot inner loop.
  */
object GraftFunctions {

  private def ncol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftSqlBridge.column(e)

  /** blake2b-256 hex digest (the reference's canonical content address) —
    * native codegen'd expression, see [[Blake2bHash]]. */
  def blake2b_256(c: Column): Column = ncol(Blake2bHash(expression(c), 256))
  def blake2b_512(c: Column): Column = ncol(Blake2bHash(expression(c), 512))
  /** SHA3-512 hex digest — eval-only native expression ([[Sha3_512Hash]]:
    * the JCE digest dominates, but expression form drops the former UDF's
    * encoder round-trip and is SQL-callable through [[GraftExtensions]]). */
  def sha3_512(c: Column): Column   = ncol(Sha3_512Hash(expression(c)))

  /** Unicode NFC canonical composition — native codegen'd expression,
    * see [[NfcNormalize]]. Put in front of [[blake2b_256]] keys when
    * composed/decomposed encodings of the same text must dedup. */
  def nfcNormalize(c: Column): Column = ncol(NfcNormalize(expression(c)))

  private def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftSqlBridge.expression(c)

  /** Random 12-hex-char node/instance uid (reference `utils.py:60-61`).
    * Driver-side helper (non-deterministic; not for use inside queries). */
  def getUid(): String =
    Blake2b.hex256(java.util.UUID.randomUUID().toString).substring(0, 12)

  /** Deterministic per-row uid column: blake2b_256 of the given key, first
    * 12 hex chars — the distributed analog of the reference uid. */
  def uidFor(c: Column): Column = substring(blake2b_256(c.cast("string")), 1, 12)
}

/** THE table of SQL-callable native functions — `(name, expression
  * class, builder)` — that [[GraftExtensions]] injects into every
  * session built by `graft.GraftSession.builder`, with the
  * [[SqlArgs]] arity errors and literal rules. */
private[graft] object SqlFunctions {
  import org.apache.spark.sql.catalyst.expressions.Expression
  import SqlArgs.{arity, intArg}

  type Builder = Seq[Expression] => Expression

  private def fn(name: String, clazz: Class[_])(
      builder: Builder): (String, Class[_], Builder) = (name, clazz, builder)

  val all: Seq[(String, Class[_], Builder)] = Seq(
    fn("blake2b_256", classOf[Blake2bHash])(exprs =>
      Blake2bHash(arity(exprs, 1, 1, "blake2b_256").head, 256)),
    fn("blake2b_512", classOf[Blake2bHash])(exprs =>
      Blake2bHash(arity(exprs, 1, 1, "blake2b_512").head, 512)),
    fn("vec_dot", classOf[DotProduct])(exprs => { arity(exprs, 2, 2, "vec_dot")
      DotProduct(exprs.head, exprs(1)) }),
    fn("shingle_hashes", classOf[ShingleHashes])(exprs => {
      arity(exprs, 1, 2, "shingle_hashes")
      ShingleHashes(exprs.head, intArg(exprs, 1, 3, "shingle_hashes")) }),
    fn("shingle_pos_hashes", classOf[ShinglePosHashes])(exprs => {
      arity(exprs, 1, 2, "shingle_pos_hashes")
      ShinglePosHashes(exprs.head, intArg(exprs, 1, 3, "shingle_pos_hashes")) }),
    fn("minhash_band_keys", classOf[MinHashBandKeys])(exprs => {
      arity(exprs, 1, 3, "minhash_band_keys")
      MinHashBandKeys(exprs.head,
        intArg(exprs, 1, 128, "minhash_band_keys"),
        intArg(exprs, 2, 32, "minhash_band_keys")) }),
    fn("simhash64", classOf[SimHash64])(exprs =>
      SimHash64(arity(exprs, 1, 1, "simhash64").head)),
    fn("bigram_top_count", classOf[BigramTopCount])(exprs =>
      BigramTopCount(arity(exprs, 1, 1, "bigram_top_count").head)),
    fn("token_top_count", classOf[TokenTopCount])(exprs =>
      TokenTopCount(arity(exprs, 1, 1, "token_top_count").head)),
    fn("nfc_normalize", classOf[NfcNormalize])(exprs =>
      NfcNormalize(arity(exprs, 1, 1, "nfc_normalize").head)),
    fn("jaro_winkler", classOf[JaroWinklerSim])(exprs => {
      arity(exprs, 2, 2, "jaro_winkler")
      JaroWinklerSim(exprs.head, exprs(1)) }),
    fn("sha3_512", classOf[Sha3_512Hash])(exprs =>
      Sha3_512Hash(arity(exprs, 1, 1, "sha3_512").head)),
    fn("url_resolve", classOf[ResolveUrlExpr])(exprs => {
      arity(exprs, 2, 2, "url_resolve")
      ResolveUrlExpr(exprs.head, exprs(1)) }),
    fn("robots_glob", classOf[RobotsGlobMatch])(exprs => {
      arity(exprs, 2, 2, "robots_glob")
      RobotsGlobMatch(exprs.head, exprs(1)) }),
    fn("pct_normalize", classOf[PctNormalizeExpr])(exprs =>
      PctNormalizeExpr(arity(exprs, 1, 1, "pct_normalize").head)),
    fn("visible_text", classOf[VisibleTextExpr])(exprs =>
      VisibleTextExpr(arity(exprs, 1, 1, "visible_text").head)),
    fn("html_unescape", classOf[HtmlUnescapeExpr])(exprs =>
      HtmlUnescapeExpr(arity(exprs, 1, 1, "html_unescape").head)),
    fn("attr_value", classOf[AttrValueExpr])(exprs => {
      arity(exprs, 2, 2, "attr_value")
      AttrValueExpr(exprs.head, SqlArgs.strArg(exprs, 1, "attr_value")) }),
    fn("md5_shingle_hashes", classOf[Md5ShingleHashes])(exprs => {
      arity(exprs, 1, 2, "md5_shingle_hashes")
      Md5ShingleHashes(exprs.head, intArg(exprs, 1, 3, "md5_shingle_hashes")) }),
    fn("md5_shingle_pos_hashes", classOf[Md5ShinglePosHashes])(exprs => {
      arity(exprs, 1, 2, "md5_shingle_pos_hashes")
      Md5ShinglePosHashes(exprs.head,
        intArg(exprs, 1, 3, "md5_shingle_pos_hashes")) }),
    fn("dup_ngram_stats", classOf[DupNgramStats])(exprs => {
      arity(exprs, 1, 2, "dup_ngram_stats")
      DupNgramStats(exprs.head, intArg(exprs, 1, 5, "dup_ngram_stats")) }),
    fn("script_gate_lang", classOf[ScriptGateLang])(exprs => {
      arity(exprs, 1, 1, "script_gate_lang")
      ScriptGateLang(exprs.head,
        graft.ops.TextAnalysis.ScriptGateMinShareMicros) }),
    fn("md5_minhash", classOf[Md5MinHashK])(exprs => {
      arity(exprs, 1, 3, "md5_minhash")
      Md5MinHashK(exprs.head, intArg(exprs, 1, 3, "md5_minhash"),
        intArg(exprs, 2, 16, "md5_minhash")) }),
    fn("trigram_lang_best", classOf[TrigramLangBest])(exprs =>
      TrigramLangBest(arity(exprs, 1, 1, "trigram_lang_best").head)))
}

/** Argument handling for the [[SqlFunctions]] builders: one definition
  * of literal parsing and arity checking. */
private[functions] object SqlArgs {
  import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

  /** Reject wrong arity loudly at analysis — silently dropping extra
    * arguments (e.g. `blake2b_256(s, 512)`) computes something the user
    * did not ask for. */
  def arity(exprs: Seq[Expression], min: Int, max: Int,
            fn: String): Seq[Expression] = {
    if (exprs.length < min || exprs.length > max)
      throw new IllegalArgumentException(
        s"$fn expects $min${if (max > min) s"..$max" else ""} argument(s), " +
          s"got ${exprs.length}")
    exprs
  }

  /** Optional INT-literal argument with a default. */
  def intArg(exprs: Seq[Expression], i: Int, dflt: Int, fn: String): Int =
    if (exprs.length <= i) dflt
    else exprs(i) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an INT literal, got $other")
    }

  /** Required STRING-literal argument. */
  def strArg(exprs: Seq[Expression], i: Int, fn: String): String =
    exprs(i) match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _)
        if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a STRING literal, got $other")
    }
}
