package graft

import org.apache.spark.sql.functions._
import graft.functions.MinHashFunctions
import graft.ops.Dedup

/** Native MinHashBandKeys / SimHash64 expressions vs the pure-Scala
  * reference implementations in [[graft.ops.Dedup]] (bit-parity). */
class MinHashExprSpec extends SparkSpec {

  test("band keys: bit-parity vs Dedup.bandKeys on real docs") {
    val rows = Tables.documents(spark, SparkSpec.sf0001)
      .select(Dedup.hashedShingles(col("text")).as("s"))
      .select(col("s"),
        MinHashFunctions.minHashBandKeys(col("s"), Dedup.MinHashes, Dedup.Bands).as("bk"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ref = Dedup.bandKeys(r.getSeq[Long](0))
      assert(r.getSeq[Long](1) === ref)
    }
  }

  test("simhash: bit-parity vs Dedup.simHash64 on real docs") {
    val rows = Tables.documents(spark, SparkSpec.sf0001)
      .select(Dedup.hashedShingles(col("text")).as("s"))
      .select(col("s"), MinHashFunctions.simHash64(col("s")).as("h"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) === Dedup.simHash64(r.getSeq[Long](0)))
    }
  }

  test("edge cases: empty array → empty bands / simhash 0; null → null") {
    val s = spark
    import s.implicits._
    val df = Seq((1, Seq.empty[Long]), (2, Seq(42L, -7L))).toDF("id", "s")
      .union(Seq((3, null.asInstanceOf[Seq[Long]])).toDF("id", "s"))
    val got = df
      .select(col("id"),
        MinHashFunctions.minHashBandKeys(col("s"), 128, 32).as("bk"),
        MinHashFunctions.simHash64(col("s")).as("h"))
      .orderBy("id").collect()
    assert(got(0).getSeq[Long](1).isEmpty)
    assert(got(0).getLong(2) === 0L)
    assert(got(1).getSeq[Long](1).length === 32)
    assert(got(1).getLong(2) === Dedup.simHash64(Seq(42L, -7L)))
    assert(got(2).isNullAt(1) && got(2).isNullAt(2))
  }

  test("null ELEMENTS are absent from the sketch, never phantom-0L hashes") {
    val s = spark
    import s.implicits._
    // array(NULL, h1, h2) must sketch exactly like array(h1, h2), and an
    // all-null array like an empty one — getLong on a null slot reads 0L
    val withNulls = Seq((1, Seq(Option.empty[Long], Some(42L), Some(-7L))),
      (2, Seq[Option[Long]](None, None))).toDF("id", "s")
    val got = withNulls.select(col("id"),
        MinHashFunctions.minHashBandKeys(col("s"), 128, 32).as("bk"),
        MinHashFunctions.simHash64(col("s")).as("h"))
      .orderBy("id").collect()
    val clean = Seq((0, Seq(42L, -7L))).toDF("id", "s")
      .select(MinHashFunctions.minHashBandKeys(col("s"), 128, 32).as("bk"),
        MinHashFunctions.simHash64(col("s")).as("h")).collect()(0)
    assert(got(0).getSeq[Long](1) === clean.getSeq[Long](0))
    assert(got(0).getLong(2) === clean.getLong(1))
    assert(got(1).getSeq[Long](1).isEmpty && got(1).getLong(2) === 0L)
  }

  test("SQL registration: minhash_band_keys / simhash64 callable from spark.sql") {
    val got = spark.sql(
      "SELECT size(minhash_band_keys(shingle_hashes(split('a b c d e', ' '), 3))) AS nb, " +
      "simhash64(shingle_hashes(split('a b c d e', ' '), 3)) AS h").collect()(0)
    assert(got.getInt(0) === 32)
    val refHashes = Tables.documents(spark, SparkSpec.sf0001).sparkSession
      .sql("SELECT shingle_hashes(split('a b c d e', ' '), 3) AS s")
      .collect()(0).getSeq[Long](0)
    assert(got.getLong(1) === Dedup.simHash64(refHashes))
  }

  test("SQL registration honors explicit (minHashes, bands) arguments") {
    // silently pinning (128, 32) here would return 32 bands regardless
    val got = spark.sql(
      "SELECT size(minhash_band_keys(shingle_hashes(split('a b c d e', ' '), 3), 64, 16)) AS nb")
      .collect()(0)
    assert(got.getInt(0) === 16)
    val err = intercept[Exception] {
      spark.sql("SELECT minhash_band_keys(array(1L), 'x', 16)").collect()
    }
    assert(err.getMessage.contains("INT literal"))
  }

  test("stays inside whole-stage codegen") {
    val df = Tables.documents(spark, SparkSpec.sf0001)
      .select(Dedup.hashedShingles(col("text")).as("s"))
      .select(MinHashFunctions.minHashBandKeys(col("s"), 128, 32).as("bk"),
        MinHashFunctions.simHash64(col("s")).as("h"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project"), p.take(1000))
    assert(p.contains("minhash_band_keys"), p.take(1000))
    assert(p.contains("simhash64"), p.take(1000))
  }

  test("invalid input type fails analysis, not runtime") {
    val err = intercept[Exception] {
      Tables.documents(spark, SparkSpec.sf0001)
        .select(MinHashFunctions.simHash64(col("text")))
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("array"), err.getMessage)
  }
}
