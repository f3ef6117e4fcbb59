package graft

import org.apache.spark.sql.functions._
import graft.functions.{Blake2b, GraftFunctions, SqlFunctions}
import graft.ops.{Dedup, MinHashSignatureAgg}

/** Native Catalyst expression + UDAF surface. */
class NativeHashSpec extends SparkSpec {

  test("Blake2bHash expression matches the reference impl on real texts") {
    val docs = Tables.documents(spark, SparkSpec.sf0001).limit(20)
    val rows = docs.select(col("text"),
      GraftFunctions.blake2b_256(col("text")).as("h256"),
      GraftFunctions.blake2b_512(col("text")).as("h512")).collect()
    rows.foreach { r =>
      assert(r.getString(1) === Blake2b.hex256(r.getString(0)))
      assert(r.getString(2) === Blake2b.hex512(r.getString(0)))
    }
  }

  test("Blake2bHash: null in, null out") {
    val s = spark
    import s.implicits._
    val df = Seq(Some("abc"), None).toDF("t")
    val got = df.select(GraftFunctions.blake2b_256(col("t"))).collect().map(_.isNullAt(0))
    assert(got.toSeq === Seq(false, true))
  }

  test("Blake2bHash stays inside whole-stage codegen") {
    val df = Tables.documents(spark, SparkSpec.sf0001)
      .select(GraftFunctions.blake2b_256(col("text")).as("h"))
    // whole-stage codegen spans print as "*(n)" in the plan string
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project [blake2b_256"), p.take(1000))
  }

  test("Blake2bHash of a literal constant-folds at plan time") {
    val df = Tables.documents(spark, SparkSpec.sf0001)
      .select(GraftFunctions.blake2b_256(lit("abc")).as("h"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("bddd813c"), optimized.take(800)) // folded literal
    assert(!optimized.contains("blake2b_256"), optimized.take(800))
  }

  test("Md5Prefix60 == conv(substring(md5(x),1,15),16,10) on real texts, " +
    "null-safe, codegen'd, folds literals") {
    val docs = Tables.documents(spark, SparkSpec.sf0001).limit(50)
    val rows = docs.select(
      graft.functions.Md5Functions.md5Prefix60(col("text")).as("native"),
      conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
        .as("builtin")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // null in, null out
    val s = spark
    import s.implicits._
    val nulls = Seq(Some("abc"), None).toDF("t")
      .select(graft.functions.Md5Functions.md5Prefix60(col("t")))
      .collect().map(_.isNullAt(0))
    assert(nulls.toSeq === Seq(false, true))
    // stays in the whole-stage codegen span over a parquet-backed scan
    val p = docs.select(graft.functions.Md5Functions.md5Prefix60(col("text")))
      .queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project [md5_prefix60"), p.take(1000))
    // literal folds at plan time: md5('abc') = 900150983cd24fb0...,
    // first 15 hex nibbles = 0x900150983cd24fb = 648541476951500027
    val opt = docs.select(graft.functions.Md5Functions.md5Prefix60(lit("abc")))
      .queryExecution.optimizedPlan.toString
    assert(opt.contains("648541476951500027 AS"), opt.take(800))
  }

  test("SQL registration: blake2b callable from spark.sql") {
    val got = spark.sql("SELECT blake2b_256('abc') AS h, sha3_512('abc') AS s").collect()(0)
    assert(got.getString(0) ===
      "bddd813c634239723171ef3fee98579b94964e3bb1cb3e427262c8c068d52319")
    assert(got.getString(1).startsWith("b751850b1a57168a"))
  }

  test("every SQL function resolves in a GraftSession-built session") {
    // the shared session is built by GraftSession.builder, so these names
    // can only come from the GraftExtensions it sets — the one install path
    val missing = SqlFunctions.all.map(_._1)
      .filterNot(spark.catalog.functionExists)
    assert(missing.isEmpty, s"not installed by GraftExtensions: $missing")
  }

  test("jaro_winkler stays in the codegen span; wrong arity/type rejected") {
    val p = Tables.documents(spark, SparkSpec.sf0001)
      .selectExpr("jaro_winkler(text, source) AS j")
      .queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project [jaro_winkler"), p.take(1000))
    intercept[Exception](spark.sql("SELECT jaro_winkler('a')").collect())
    intercept[Exception](spark.sql("SELECT jaro_winkler('a', 1)").collect())
    // literal inputs constant-fold at plan time
    val folded = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS j")
      .queryExecution.optimizedPlan.toString
    assert(folded.contains("0.961111"), folded)
  }

  test("NfcNormalize: composed == decomposed, null-safe, codegen'd, SQL-callable") {
    val s = spark
    import s.implicits._
    // U+00E9 (composed) vs e + U+0301 (combining acute): byte-distinct,
    // canonically equal — NFC must fold both to the composed form
    val df = Seq(("caf\u00e9", "cafe\u0301"), (null, "x"))
      .toDF("a", "b")
      .select(GraftFunctions.nfcNormalize(col("a")).as("na"),
        GraftFunctions.nfcNormalize(col("b")).as("nb"))
    val rows = df.collect()
    assert(rows(0).getString(0) === rows(0).getString(1))
    assert(rows(0).getString(0) === "caf\u00e9")
    assert(rows(1).isNullAt(0) && rows(1).getString(1) === "x")
    // stays inside the whole-stage codegen span
    val p = Tables.documents(spark, SparkSpec.sf0001)
      .select(GraftFunctions.nfcNormalize(col("text")).as("t"))
      .queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project [nfc_normalize"), p.take(1000))
    // literal input constant-folds at plan time
    val optimized = Tables.documents(spark, SparkSpec.sf0001)
      .select(GraftFunctions.nfcNormalize(lit("cafe\u0301")).as("t"))
      .queryExecution.optimizedPlan.toString
    assert(optimized.contains("caf\u00e9"), optimized.take(800))
    // SQL surface
    val viaSql = spark.sql("SELECT nfc_normalize('cafe\u0301') AS t").collect()(0)
    assert(viaSql.getString(0) === "caf\u00e9")
  }

  test("MinHashSignatureAgg: group signature == minhash of shingle union") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "g1", "a b c d e f g"),
      (2L, "g1", "d e f g h i j"),
      (3L, "g2", "x y z w v u t")).toDF("doc_id", "grp", "text")
    val sigs = docs.select(col("grp"), Dedup.shingles(col("text")).as("s"))
      .groupBy("grp").agg(MinHashSignatureAgg.asColumn(Seq(col("s"))).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    // direct signature over the union of each group's shingles
    def direct(texts: Seq[String]): Array[Long] = {
      val shingleSets = docs.filter(col("text").isin(texts: _*))
        .select(Dedup.shingles(col("text"))).collect()
        .flatMap(_.getSeq[String](0)).distinct.toSeq
      MinHashSignatureAgg.reduce(MinHashSignatureAgg.zero, shingleSets)
    }
    assert(sigs("g1").toSeq === direct(Seq("a b c d e f g", "d e f g h i j")).toSeq)
    assert(sigs("g2").toSeq === direct(Seq("x y z w v u t")).toSeq)
  }

  test("MinHash signature estimates Jaccard for near-dup docs") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy dog again and again tonight"
    def sig(t: String): Array[Long] = {
      val sh = (0 to t.split(" ").length - 3).map(i => t.split(" ").slice(i, i + 3).mkString(" "))
      MinHashSignatureAgg.reduce(MinHashSignatureAgg.zero, sh.distinct)
    }
    val est = MinHashSignatureAgg.estimateJaccard(sig(a), sig(b))
    val sa = (0 to 10).map(i => a.split(" ").slice(i, i + 3).mkString(" ")).toSet
    val sb = (0 to 10).map(i => b.split(" ").slice(i, i + 3).mkString(" ")).toSet
    val real = (sa intersect sb).size.toDouble / (sa union sb).size
    assert(math.abs(est - real) < 0.2, s"est=$est real=$real")
  }
}
