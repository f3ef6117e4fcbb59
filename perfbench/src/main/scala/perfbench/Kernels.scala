package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions._

/** Kernel mode: each public native column builder of `graft.functions`,
  * evaluated alone over a cached seeded input, into a noop sink.
  * `passthrough` writes the input columns with no kernel: the per-row
  * floor that every kernel number includes. */
object Kernels {
  val Rows = 20000

  private val tokens = col("tokens")
  private val kernels: Seq[(String, Column)] = Seq(
    "passthrough" -> struct(col("text"), col("tokens"), col("html"), col("url")),
    "shingle_hashes" -> ShingleFunctions.shingleHashes(tokens, 3),
    "token_top_count" -> ShingleFunctions.tokenTopCount(tokens),
    "md5_shingle_hashes" -> Md5ShingleFunctions.md5ShingleHashes(tokens, 3),
    "md5_minhash" -> Md5ShingleFunctions.md5MinHashK(tokens, 3, 8),
    "minhash_band_keys" -> MinHashFunctions.minHashBandKeys(col("hashes"), 128, 32),
    "simhash64" -> MinHashFunctions.simHash64(col("hashes")),
    "md5_prefix60" -> Md5Functions.md5Prefix60(col("text")),
    "top_ngram_stats" -> TopNgramFunctions.topNgramStats(tokens, 2),
    "script_gate_lang" -> ScriptGateFunctions.scriptGateLang(col("text"), 500000L),
    "trigram_lang_best" -> TrigramLangFunctions.trigramLangBest(col("text")),
    "char_trigrams" -> CharNgramFunctions.charTrigrams(col("text")),
    "html_unescape" -> HtmlUnescapeFunctions.htmlUnescape(col("html")),
    "visible_text" -> VisibleTextFunctions.visibleText(col("html")),
    "winnowing_fps" -> WinnowingFunctions.winnowingFps(tokens, 5, 4),
    "vec_dot" -> VectorFunctions.vecDot(col("va"), col("vb")),
    "jaro_winkler" -> JaroWinkler.jaroWinkler(col("name_a"), col("name_b")),
    "pct_normalize" -> PercentEncoding.pctNormalize(col("url")),
    "classifier_score" -> ClassifierFunctions.pseudoScoreMicros(tokens, 1024))

  def names: Seq[String] = kernels.map(_._1)

  /** `functions.<kernel>.ns_per_row`, median of three timed runs after one
    * untimed run. */
  def run(spark: SparkSession, seed: Long): Map[String, Double] = {
    val vocab = typedLit(CrawlGen.vocabulary(seed, 3000).toSeq)
    def pick(salt: Column*) = element_at(vocab,
      (pmod(xxhash64(lit(seed) +: salt: _*), lit(3000L)) + 1).cast("int"))
    def vec(salt: Int) = transform(sequence(lit(1), lit(64)), i =>
      ((pmod(xxhash64(lit(seed), lit(salt), col("id"), i), lit(2001L)) - 1000) / 1000.0).cast("double"))
    val text = concat_ws(" ", transform(sequence(lit(1), pmod(col("id"), lit(60L)).cast("int") + 40),
      i => pick(col("id"), i)))
    val input = spark.range(0, Rows, 1, spark.sparkContext.defaultParallelism)
      .select(
        text.as("text"),
        concat(lit("<div class=\"nav\"><a href=\"/\">Home &amp; News</a></div><h1>Item "),
          col("id"), lit("</h1><p>"), text, lit("</p><script>var x = 1;</script><p>caf&eacute; &lt;"),
          col("id"), lit("&gt;</p>")).as("html"),
        concat(lit("HTTP://Site"), pmod(col("id"), lit(40L)), lit(".Example/a%7e"), col("id"),
          lit("/../b%2Fc?q="), pick(col("id"))).as("url"),
        vec(1).as("va"), vec(2).as("vb"),
        initcap(concat_ws(" ", pick(col("id"), lit(1)), pick(col("id"), lit(2)))).as("name_a"),
        initcap(concat_ws(" ", pick(col("id"), lit(3)), pick(col("id"), lit(2)))).as("name_b"))
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("hashes", ShingleFunctions.shingleHashes(col("tokens"), 3))
      .localCheckpoint(eager = true)
    val out = kernels.map { case (k, c) =>
      val times = (0 until 4).map { _ =>
        val t0 = System.nanoTime()
        input.select(c.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }.drop(1)
      Main.log(f"kernel $k: ${Main.median(times) / Rows}%.1f ns/row")
      s"functions.$k.ns_per_row" -> Main.median(times) / Rows
    }.toMap
    out
  }
}
