package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, VectorFunctions}
import graft.ops.Similarity

/** Native DotProduct expression: equivalence with the higher-order
  * formulation, null/edge semantics, codegen span, SQL registration. */
class VectorExprSpec extends SparkSpec {

  test("vec_dot == aggregate(zip_with) on real embeddings, bit-for-bit") {
    val e = col("embedding").cast("array<double>")
    val rows = Tables.embeddings(spark, SparkSpec.sf0001)
      .select(VectorFunctions.vecDot(e, e).as("native"),
              Similarity.dotHof(e, e).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("ivf_cells == stable-sort reference on random vectors (native expr parity)") {
    val rnd = new scala.util.Random(7)
    val dim = 16; val nlist = 8; val nprobe = 3
    val centers = Array.fill(nlist)(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = Seq.fill(200)(Seq.fill(dim)(rnd.nextGaussian()))
    // the pre-native reference semantics: stable sortBy squared distance
    def reference(v: Seq[Double]): Seq[Int] =
      centers.indices.map { i =>
        var d = 0d; var j = 0
        while (j < v.length) { val t = v(j) - centers(i)(j); d += t * t; j += 1 }
        (i, d)
      }.sortBy(_._2).take(nprobe).map(_._1)
    val s = spark
    import s.implicits._
    val got = vecs.toDF("v")
      .select(VectorFunctions.nearestCells(col("v"), centers, nprobe).as("cells"))
      .collect().map(_.getSeq[Int](0).toSeq)
    got.zip(vecs.map(reference)).foreach { case (g, r) => assert(g === r) }
  }

  test("vec_dot: a null ELEMENT yields null, matching the HOF semantics") {
    val s = spark
    import s.implicits._
    val r = spark.sql(
      "SELECT vec_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(2.0d, 3.0d)) AS d")
      .collect()(0)
    assert(r.isNullAt(0), "null element must not silently read as 0.0")
  }

  test("SQL builders reject wrong arity loudly") {
    val e1 = intercept[Exception] {
      spark.sql("SELECT blake2b_256('a', 512)").collect() // extra arg ≠ blake2b_512!
    }
    assert(e1.getMessage.contains("argument"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(1.0d))").collect()
    }
    assert(e2.getMessage.contains("argument"))
  }

  test("nearestCells: a dimension-mismatched vector gets NO cells, not garbage") {
    val s = spark
    import s.implicits._
    val centers = Array(Array(0.0, 0.0), Array(1.0, 1.0)) // dim 2
    val got = Seq(Seq(0.9, 0.9, 0.9), Seq(0.9, 0.9)).toDF("v") // dim 3 vs 2
      .select(VectorFunctions.nearestCells(col("v"), centers, 1).as("cells"))
      .collect().map(_.getSeq[Int](0).toSeq)
    assert(got(0) === Seq())  // misaligned row drops from all cells
    assert(got(1) === Seq(1)) // clean row unaffected
  }

  test("nearestCells degrades NaN distances instead of crashing the row") {
    val s = spark
    import s.implicits._
    val centers = Array(Array(0.0, 0.0), Array(1.0, 1.0))
    val got = Seq(Seq(Double.NaN, 0.5), Seq(0.9, 0.9)).toDF("v")
      .select(VectorFunctions.nearestCells(col("v"), centers, 1).as("cells"))
      .collect().map(_.getSeq[Int](0).toSeq)
    assert(got(0).length === 1) // all-NaN distances: first cell, no AIOOBE
    assert(got(1) === Seq(1))   // clean row unaffected
  }

  test("vec_dot edge semantics: empty → 0.0, length mismatch → null, null → null") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),   // 11.0
      (Some(Seq.empty[Double]), Some(Seq.empty[Double])), // 0.0
      (Some(Seq(1.0)), Some(Seq(1.0, 2.0))),        // mismatch → null
      (None, Some(Seq(1.0)))                        // null → null
    ).toDF("a", "b")
    val got = df.select(VectorFunctions.vecDot(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) === 11.0)
    assert(got(1).getDouble(0) === 0.0)
    assert(got(2).isNullAt(0))
    assert(got(3).isNullAt(0))
  }

  test("vec_dot rejects non-array-of-double input at analysis time") {
    val s = spark
    import s.implicits._
    val df = Seq(("x", 1)).toDF("a", "b")
    val ex = intercept[Exception] {
      df.select(VectorFunctions.vecDot(col("a"), col("b"))).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("array"), ex.getMessage)
  }

  test("vec_dot stays inside whole-stage codegen") {
    val e = col("embedding").cast("array<double>")
    val df = Tables.embeddings(spark, SparkSpec.sf0001)
      .select(VectorFunctions.vecDot(e, e).as("d"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project"), p.take(1000))
    assert(p.contains("vec_dot"), p.take(1000))
  }

  test("SQL registration: vec_dot callable from spark.sql") {
    val got = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(got === 32.0)
  }

  test("lshSignatures: dim-0 and NaN-poisoned vectors get NO buckets — " +
    "dirty rows must not share one bucket in every table") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1, Seq(1.0, -2.0, 0.5)),
      (2, Seq.empty[Double]),
      (3, Seq(Double.NaN, 1.0, 2.0))).toDF("id", "v")
    val got = df.select(col("id"),
        graft.functions.VectorFunctions.lshSignatures(col("v"), 16, 4).as("sig"))
      .orderBy("id").collect()
    assert(got(0).getSeq[Long](1).length === 4)
    assert(got(1).getSeq[Long](1).isEmpty, "empty vector must get no buckets")
    assert(got(2).getSeq[Long](1).isEmpty, "NaN vector must get no buckets")
  }
}
