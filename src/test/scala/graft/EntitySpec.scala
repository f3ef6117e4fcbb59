package graft

import org.apache.spark.sql.functions._
import graft.functions.JaroWinkler
import graft.ops.Entity

/** Jaro-Winkler native expression + blocked entity resolution.
  * The JW vectors are pinned against an independent implementation
  * (DuckDB 1.0 `jaro_winkler_similarity`, the q151 oracle's scorer) —
  * bit-exact, no tolerance: both implement classic Jaro with the
  * ⌊max/2⌋−1 window and Winkler's p=0.1/max-4-prefix bonus above the
  * 0.7 boost threshold, in double arithmetic with the same operation
  * order. */
class EntitySpec extends SparkSpec {
  import spark.implicits._

  private val vectors: Seq[(String, String, Double)] = Seq(
    ("martha", "marhta", 0.9611111111111111),
    ("dixon", "dicksonx", 0.8133333333333332),
    ("jellyfish", "smellyfish", 0.8962962962962964),
    ("dwayne", "duane", 0.8400000000000001),
    ("kitten", "sitting", 0.746031746031746),
    ("abc", "abc", 1.0),
    ("", "abc", 0.0),
    ("", "", 0.0),
    ("a", "b", 0.0),
    ("crate", "trace", 0.7333333333333334),
    ("small ring", "small rings", 0.9818181818181818),
    ("red widget", "r3d widg3t", 0.88),
    // jaro 0.6 with a 4-char prefix: the 0.7 boost threshold must
    // suppress the prefix bonus
    ("abcdxxxxxx", "abcdyyyyyy", 0.6),
    ("aaaaa", "aaaaabbbbbbbbbbbbbbb", 0.85),
    ("supplier#000000001", "supplier#000000010", 0.9888888888888889),
    // non-ASCII: the scorer works over UTF-8 BYTES, matching DuckDB
    // bit-exactly on multi-byte text (each value below is DuckDB 1.0's
    // jaro_winkler_similarity output, captured 2026-08-15)
    ("café", "cafe", 0.8483333333333334),
    ("café", "café", 1.0),
    ("müller", "mueller", 0.8285714285714287),
    ("björk", "bjork", 0.8577777777777779),
    ("敏捷的棕色", "敏捷的棕红", 0.92),
    ("こんにちは", "こんばんは", 0.9033333333333333),
    ("Ángel", "Angel", 0.8222222222222223),
    ("rené", "renée", 0.9666666666666667))

  test("JaroWinkler.similarity matches the reference vectors bit-exactly") {
    vectors.foreach { case (a, b, want) =>
      assert(JaroWinkler.similarity(a, b) === want, s"($a, $b)")
    }
  }

  test("jaro_winkler expression: codegen path equals the driver function") {
    val got = vectors.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(JaroWinkler.jaroWinkler(col("a"), col("b")).as("jw"))
      .as[Double].collect().toSeq
    assert(got === vectors.map(_._3))
  }

  test("jaro_winkler SQL registration and null handling") {
    val r = spark.sql(
      "SELECT jaro_winkler('martha', 'marhta') AS a, " +
        "jaro_winkler('x', CAST(NULL AS STRING)) AS b")
      .head()
    assert(r.getDouble(0) === 0.9611111111111111)
    assert(r.isNullAt(1))
  }

  test("blockedMatches: typo variants link back; blocking bounds the join") {
    val corpus = Seq("red widget", "blue bolt", "small ring", "hot gear")
      .toDF("name")
    val queries = Seq(
      (1L, "red widgetx"), // append: edit 1
      (2L, "blue bol"),    // truncation: edit 1
      (3L, "sm4ll r1ng"),  // two subs past the prefix: edit 2
      (4L, "cold gear"),   // first-letter mismatch: escapes the block
      (5L, "zzz")).toDF("qid", "name")
    val got = Entity.blockedMatches(queries, corpus, maxEdit = 2)
      .select("qid", "c_name").as[(Long, String)].collect().toSet
    assert(got === Set((1L, "red widget"), (2L, "blue bolt"),
      (3L, "small ring")))
    // jw of confirmed pairs is high
    val jws = Entity.blockedMatches(queries, corpus, maxEdit = 2)
      .select("jw").as[Double].collect()
    assert(jws.forall(_ > 0.8))
  }

  test("suffix block recovers first-letter typos the prefix block misses") {
    val corpus = Seq("red widget", "blue bolt").toDF("name")
    val queries = Seq((1L, "Red widget"), (2L, "xed widget")).toDF("qid", "name")
    val prefixOnly = Entity.blockedMatches(queries, corpus, maxEdit = 2)
      .select("qid").as[Long].collect().toSet
    assert(prefixOnly === Set(1L)) // "xe" block misses "re"
    val both = Entity.blockedMatches(queries, corpus, maxEdit = 2,
      suffixBlock = true).select("qid", "c_name")
      .as[(Long, String)].collect().toSet
    assert(both === Set((1L, "red widget"), (2L, "red widget")))
    // the union is distinct: a pair caught by BOTH keys appears once
    assert(Entity.blockedMatches(queries, corpus, maxEdit = 2,
      suffixBlock = true).count() === 2)
  }

  test("planted-typo recall measurement: the blocking trade-off in numbers " +
    "— suffix+prefix recovers what prefix-only loses") {
    // 100 distinct two-word names; ONE deterministic substitution planted
    // per name at a seeded position (guaranteed edit distance 1 — no
    // vocabulary word contains 'z')
    val adjs = Vector("alpha", "bravo", "crimson", "delta", "ember",
      "frost", "golden", "harbor", "ivory", "jade")
    val nouns = Vector("widget", "bolt", "ring", "gear", "crate",
      "spool", "valve", "lever", "plate", "flange")
    val names = for { a <- adjs; n <- nouns } yield s"$a $n"
    val rnd = new scala.util.Random(42)
    val cases = names.zipWithIndex.map { case (name, i) =>
      val pos = rnd.nextInt(name.length)
      (i.toLong, name.updated(pos, 'z'), name, pos)
    }
    val corpus = names.toDF("name")
    val queries = cases.map { case (q, t, _, _) => (q, t) }.toDF("qid", "name")
    def matchedPairs(suffix: Boolean): Set[(Long, String)] =
      Entity.blockedMatches(queries, corpus, maxEdit = 1, suffixBlock = suffix)
        .select("qid", "c_name").as[(Long, String)].collect().toSet
    def recall(matched: Set[(Long, String)],
               subset: ((Long, String, String, Int)) => Boolean): Double = {
      val sub = cases.filter(subset)
      sub.count { case (q, _, orig, _) => matched((q, orig)) }.toDouble / sub.size
    }
    val pref = matchedPairs(suffix = false)
    val both = matchedPairs(suffix = true)
    assert(cases.count(_._4 == 0) >= 5, "seed must plant first-letter typos")
    // a first-letter typo ALWAYS changes the 2-char prefix block: recall 0
    assert(recall(pref, _._4 == 0) === 0.0)
    // ...and never touches the suffix block: the union recovers every one
    assert(recall(both, _._4 == 0) === 1.0)
    // overall: a single substitution can break the prefix block (pos ≤ 1)
    // or the suffix block (pos ≥ len−2) but never both — union recall is
    // total, while prefix-only pays the planted first-two-char loss
    val prefAll = recall(pref, _ => true)
    val bothAll = recall(both, _ => true)
    assert(prefAll < 1.0 && bothAll === 1.0,
      s"prefix-only $prefAll, prefix+suffix $bothAll")
  }
}
