package graft

import org.apache.spark.sql.functions._
import graft.functions.ShingleFunctions
import graft.ops.Dedup

/** Native ShingleHashes expression vs the string-shingle reference form. */
class ShingleExprSpec extends SparkSpec {

  test("hash-shingle set size == string-shingle set size on real docs") {
    val rows = Tables.documents(spark, SparkSpec.sf0001)
      .select(size(Dedup.hashedShingles(col("text"))).as("nh"),
              size(Dedup.shingles(col("text"))).as("ns"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("pairwise intersection sizes match the string form (Jaccard-identical)") {
    val both = Tables.documents(spark, SparkSpec.sf0001).limit(40)
      .select(col("doc_id"), Dedup.hashedShingles(col("text")).as("h"),
              Dedup.shingles(col("text")).as("s"))
    val a = both.select(col("doc_id").as("ida"), col("h").as("ha"), col("s").as("sa"))
    val b = both.select(col("doc_id").as("idb"), col("h").as("hb"), col("s").as("sb"))
    val rows = a.join(b, col("ida") < col("idb"))
      .select(size(array_intersect(col("ha"), col("hb"))).as("ih"),
              size(array_intersect(col("sa"), col("sb"))).as("is"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("edge cases: fewer tokens than n → empty; deterministic; equal text → equal set") {
    val s = spark
    import s.implicits._
    val df = Seq("a b", "a b c d e", "a b c d e").toDF("text")
    val got = df.select(ShingleFunctions.shingleHashes(split(col("text"), " "), 3).as("h"))
      .collect().map(_.getSeq[Long](0))
    assert(got(0).isEmpty)
    assert(got(1).size === 3)
    assert(got(1) === got(2))
  }

  test("char_trigrams: codepoint windows match the substr reference on " +
    "ASCII and multi-byte text; under-3 chars → empty") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq("hello world", "ab", "", "héllo", "敏捷的棕色狐狸",
      "สุนัขจิ้งจอก", " padded str ", "a b")
    val got = rows.toDF("s")
      .select(graft.functions.CharNgramFunctions.charTrigrams(col("s")).as("t"))
      .as[Seq[String]].collect().toSeq
    val want = rows.map { s =>
      val cps = s.toSeq // BMP-only fixtures: char == codepoint here
      if (cps.length < 3) Seq.empty[String]
      else (0 to cps.length - 3).map(i => cps.slice(i, i + 3).mkString)
    }
    assert(got === want)
    // interpreted path (eval without codegen) agrees — the oracle relies
    // on one semantics regardless of execution mode
    rows.foreach { s =>
      val arr = graft.functions.CharNgramOps.trigrams(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      val fromEval = (0 until arr.numElements())
        .map(i => arr.getUTF8String(i).toString)
      assert(fromEval === want(rows.indexOf(s)), s"eval path on '$s'")
    }
  }

  test("SQL registration: shingle_hashes callable from spark.sql") {
    val got = spark.sql(
      "SELECT size(shingle_hashes(array('a','b','c','d'), 3)) AS n, " +
      "size(shingle_hashes(split('a b c d', ' '))) AS dflt")
      .collect()(0)
    assert(got.getInt(0) === 2)
    assert(got.getInt(1) === 2) // default n = 3
  }

  test("property: hash-set size matches a pure-Scala string-shingle reference on random inputs") {
    val rnd = new scala.util.Random(7)
    val s = spark
    import s.implicits._
    val texts = (0 until 200).map { _ =>
      val vocab = Vector("a", "bb", "ccc", "dd", "e", "ff", "b")
      (0 until rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    def refCount(t: String, n: Int): Int = {
      val toks = t.split(" ", -1)
      if (toks.length < n) 0
      else toks.sliding(n).map(_.mkString(" ")).toSet.size
    }
    val got = texts.toDF("text")
      .select(size(Dedup.hashedShingles(col("text"))).as("n"))
      .collect().map(_.getInt(0))
    texts.zip(got).foreach { case (t, n) => assert(n === refCount(t, 3), s"text='$t'") }
  }

  test("shingle_pos_hashes: positional count, distinct-set parity, SQL call") {
    // n tokens → n-k+1 positional grams, and their distinct set must equal
    // the ShingleHashes set (same hash family, dedup is the only delta)
    val rows = Tables.documents(spark, SparkSpec.sf0001)
      .select(size(split(col("text"), " ")).as("ntok"),
        ShingleFunctions.shinglePosHashes(split(col("text"), " "), 3).as("p"),
        Dedup.hashedShingles(col("text")).as("h"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](1).size === math.max(r.getInt(0) - 2, 0))
      assert(r.getSeq[Long](1).distinct === r.getSeq[Long](2))
    }
    val sql = spark.sql(
      "SELECT shingle_pos_hashes(array('a','b','a','b'), 2) AS p").collect()(0)
      .getSeq[Long](0)
    assert(sql.size === 3 && sql(0) === sql(2) && sql(0) != sql(1))
  }

  test("SQL-reachable null array elements hash like empty strings, no NPE") {
    val r = spark.sql(
      "SELECT shingle_pos_hashes(array('a', NULL, 'b'), 2) AS p, " +
      "shingle_hashes(array('a', NULL, 'b'), 2) AS h, " +
      "shingle_pos_hashes(array('a', '', 'b'), 2) AS pe, " +
      "bigram_top_count(array('x', NULL, 'x', NULL)) AS btc").collect()(0)
    assert(r.getSeq[Long](0).size === 2)
    assert(r.getSeq[Long](0) === r.getSeq[Long](2)) // null ≡ "" by design
    assert(r.getSeq[Long](1) === r.getSeq[Long](0).distinct)
    assert(r.getLong(3) === 2L) // "x NULL" twice
  }

  test("stays inside whole-stage codegen") {
    val df = Tables.documents(spark, SparkSpec.sf0001)
      .select(Dedup.hashedShingles(col("text")).as("h"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project"), p.take(1000))
    assert(p.contains("shingle_hashes"), p.take(1000))
  }

  test("token_top_count == exact top token count on real docs and random arrays") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, SparkSpec.sf0001).limit(200)
    val native = docs.select(col("doc_id"),
        graft.functions.ShingleFunctions.tokenTopCount(split(col("text"), " ")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = docs.collect().map { r =>
      val toks = r.getAs[String]("text").split(" ")
      r.getAs[Long]("doc_id") ->
        toks.groupBy(identity).values.map(_.length.toLong).max
    }.toMap
    assert(native === exact)
    // SQL registration + empty edge
    val e = spark.sql(
      "SELECT token_top_count(split('a b a a', ' ')) AS c1, " +
      "token_top_count(CAST(array() AS ARRAY<STRING>)) AS c0").collect()(0)
    assert(e.getLong(0) === 3L && e.getLong(1) === 0L)
  }

  test("bigram_top_count == exploded wordcount max on real docs") {
    val docs = Tables.documents(spark, SparkSpec.sf0001)
    val native = docs
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"),
        ShingleFunctions.bigramTopCount(split(col("text"), " ")).as("top"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = docs.select("doc_id", "text").collect().map { r =>
      val toks = r.getString(1).split(" ", -1)
      r.getLong(0) -> (if (toks.length < 2) 0L
      else toks.sliding(2).map(_.mkString(" ")).toSeq
        .groupBy(identity).values.map(_.size).max.toLong)
    }.filter(_._2 > 0).toMap
    assert(native === ref)
  }

  test("bigram_top_count: edge cases and SQL registration") {
    val df = spark.createDataFrame(
      Seq("one", "a a a a", "x y x y x", "").map(Tuple1(_))).toDF("text")
    df.createOrReplaceTempView("btc_edge")
    val got = spark.sql(
      "SELECT bigram_top_count(split(text, ' ')) FROM btc_edge")
      .collect().map(_.getLong(0))
    // "one"→0 bigrams; "a a a a"→"a a"×3; "x y x y x"→"x y"×2; ""→1 token→0
    assert(got.toSeq === Seq(0L, 3L, 2L, 0L))
  }
}
