package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Similarity-search semantics: exact top-k on known vectors; ANN recall
  * against the exact result on the fixture embeddings. */
class SimilaritySpec extends SparkSpec {
  import SparkSpec.sf0001

  test("centroidOutliers: hand-computed distances on known 2D groups") {
    // group 0: (1,0), (0,1), (1,1) → centroid (2/3, 2/3); the symmetric
    // pair (1,0)/(0,1) are the joint farthest, (1,1) is exactly aligned
    val rows = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0f, 1f), 0), (2L, Array(1f, 1f), 0),
      (3L, Array(4f, 0f), 1), (4L, Array(5f, 0f), 1)) // colinear group
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidOutliers(df, topK = 3)
      .orderBy("label", "rnk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3)))
    assert(got.map(x => (x._1, x._2, x._4)).toSeq === Seq(
      (0L, 0, 1), (1L, 0, 2), (2L, 0, 3), (3L, 1, 1), (4L, 1, 2)))
    got.foreach { case (id, _, dist, _) =>
      // output is round(dist, 4): compare to the rounded hand value
      val exp = if (id <= 1L) 0.2929 else 0.0 // 1 − 1/√2 = 0.29289…
      assert(math.abs(dist - exp) < 1e-9, s"vec $id")
    }
  }

  test("centroidOutliers: a zero vector pins to distance 2.0, rank 1 — not NaN") {
    val rows = Seq(
      (0L, Array(0f, 0f), 0), (1L, Array(1f, 0f), 0), (2L, Array(1f, 0.5f), 0))
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidOutliers(df, topK = 3).orderBy("rnk").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getInt(3)))
    assert(got.head === ((0L, 2.0, 1)))
    assert(got.forall(x => !x._2.isNaN))
  }

  test("cosineTopK ranks by cosine with id tie-break on known vectors") {
    val rows = Seq(
      (0L, Array(1f, 0f), 0),    // query
      (1L, Array(1f, 0.1f), 0),  // nearly parallel — rank 1
      (2L, Array(1f, 1f), 1),    // 45° — rank 2
      (3L, Array(0f, 1f), 1),    // orthogonal — rank 3
      (4L, Array(-1f, 0f), 2))   // opposite — rank 4
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
    val got = Similarity.cosineTopK(df.filter(col("vec_id") === 0), df, k = 4)
      .orderBy("rnk").collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("c_id")))
    assert(got.toSeq === Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)))
  }

  test("hardNegatives / trainingTriplets: cross-label only, maxCos drops " +
    "a suspicious near-duplicate but keeps the boundary (<= inclusive), " +
    "anchors without an in-pool positive emit no triplet") {
    val s = spark
    import s.implicits._
    val cands = Seq(
      (1L, 10L, "b", 0.95), // cross-label but near-identical → maxCos drop
      (1L, 11L, "b", 0.90), // boundary: <= keeps it
      (1L, 12L, "a", 0.85), // same-label: the positive, never a negative
      (1L, 13L, "c", 0.80),
      (2L, 20L, "b", 0.70)  // anchor 2 has NO same-label candidate
    ).toDF("q_id", "c_id", "label", "cos_sim")
    val labels = Seq((1L, "a"), (2L, "a")).toDF("vec_id", "label")
    val negs = Similarity.hardNegatives(cands, labels, k = 5, maxCos = 0.9)
      .orderBy("q_id", "neg_rank").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(5)))
    assert(negs.toSeq === Seq(
      (1L, 1L, 11L, 0.90), (1L, 2L, 13L, 0.80), (2L, 1L, 20L, 0.70)))
    val trips = Similarity.trainingTriplets(cands, labels, kNeg = 5,
        maxCos = 0.9)
      .orderBy("q_id", "neg_rank").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))
    // only anchor 1 (anchor 2 has no positive); the positive is NOT
    // subject to maxCos, and the negatives mirror hardNegatives'
    assert(trips.toSeq === Seq(
      (1L, 12L, 0.85, 1L, 11L), (1L, 12L, 0.85, 2L, 13L)))
  }

  test("annLsh achieves usable recall@5 vs exact top-5 on fixture embeddings") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(queries, emb, k = 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annLsh(queries, emb, k = 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    // The fixture embeddings are near-random (no cluster structure), the
    // worst case for LSH — real embedding spaces cluster and recall rises.
    // Assert a usable floor plus genuine candidate pruning below.
    assert(recall >= 0.15, s"recall=$recall")
  }

  test("annLshMd5 with one shared bucket equals exact cosineTopK (machinery parity)") {
    // buckets=1, tables=1 puts every vector in ONE bucket, so the
    // candidate stage degenerates to all-pairs and the md5 path must
    // reproduce cosineTopK exactly — pinning that the bucket join,
    // id-pair distinct, vector re-attach, confirm, and ranking stages
    // are value-identical to the exact path (only candidate GENERATION
    // differs between annLsh and annLshMd5).
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(queries, emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4))).toSet
    val md5 = Similarity.annLshMd5(queries, emb, k = 5, buckets = 1, tables = 1)
      .select("q_id", "rnk", "c_id", "cos_sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(md5 === exact)
  }

  test("annLshMd5 candidate stage genuinely prunes at multi-bucket settings") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val n = emb.count()
    // with 32 buckets × 4 tables a query shares a bucket with ~1/8 of
    // the corpus; every returned neighbor must be a true bucket-mate
    val got = Similarity.annLshMd5(queries, emb, k = 5, buckets = 32, tables = 4)
    val pairs = got.select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def bks(id: Long): Set[Long] =
      (0 until 4).map { t =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$id:$t".getBytes("UTF-8"))
        val v = (0 until 8).foldLeft(0L)((a, i) => (a << 8) | (d(i) & 0xffL)) >>> 4
        v % 32 + t * 1000000L
      }.toSet
    assert(pairs.nonEmpty)
    pairs.foreach { case (q, c) =>
      assert((bks(q) intersect bks(c)).nonEmpty, s"($q,$c) share no bucket")
    }
    // and the pruning is real: no query may see the whole corpus
    val perQ = pairs.groupBy(_._1).values.map(_.length).max
    assert(perQ <= 5 && n > 100)
  }

  test("ANN recall@5 >= 0.6 on clustered blobs (LSH, IVF, IVF-PQ, ADC)") {
    // The isotropic fixture floors (0.15/0.3/0.1 below) are honest but
    // near chance — they gate crashes, not quality. This fixture is the
    // regime ANN indexes exist for: 20 blobs (fixed seed 42) in dim=32,
    // each blob a query point at its center, 5 NEAR neighbors at radius
    // 0.02..0.1 and 44 FAR members at radius 0.8..1.2, displacement
    // directions orthogonalized against the center so the cosine and L2
    // rankings agree (a far point displaced along the center would have
    // cosine ~1 but L2 ~1, and the exact-cosine truth would disagree
    // with ADC's L2 ranking by construction, not by defect). True top-5
    // = the near set with a ~8x radius margin — structurally recoverable
    // by every index here. A real recall regression (broken bucketing,
    // mis-trained quantizer, ADC table off-by-one) lands far below 0.6.
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(42)
    val dim = 32
    val centers = Array.fill(20)(Array.fill(dim)(rnd.nextGaussian()))
    def orthoUnit(c: Array[Double]): Array[Double] = {
      val g = Array.fill(dim)(rnd.nextGaussian())
      val cn2 = c.map(x => x * x).sum
      val proj = g.zip(c).map { case (a, b) => a * b }.sum / cn2
      val o = g.zip(c).map { case (a, b) => a - proj * b }
      val n = math.sqrt(o.map(x => x * x).sum)
      o.map(_ / n)
    }
    val rows = for {
      b <- centers.indices
      i <- 0 until 50
    } yield {
      val r = if (i == 0) 0.0
        else if (i <= 5) 0.02 * i
        else 0.8 + 0.4 * (i - 6) / 43.0
      val u = orthoUnit(centers(b))
      (b * 1000L + i,
        centers(b).zip(u).map { case (c, uj) => c + r * uj }.toSeq, b)
    }
    val emb = rows.toDF("vec_id", "embedding", "label").cache()
    val queries = emb.filter(col("vec_id") % 1000 === 0)
    val exact = Similarity.cosineTopK(queries, emb, k = 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val lsh = recallOf(Similarity.annLsh(queries, emb, k = 5))
    info(s"annLsh clustered recall@5 = $lsh")
    assert(lsh >= 0.6, s"annLsh recall=$lsh")
    val ivf = recallOf(Similarity.annIvf(spark, queries, emb, k = 5))
    info(s"annIvf clustered recall@5 = $ivf")
    assert(ivf >= 0.6, s"annIvf recall=$ivf")
    val ivfCenters = Similarity.trainIvfCenters(emb)
    val model = Similarity.pqTrainSampledResidual(emb, ivfCenters, m = 16,
      ksub = 32, iters = 4)
    val index = Similarity.pqIndex(emb, ivfCenters, model)
    val pq = recallOf(Similarity.annIvfPq(queries, index, ivfCenters, model, k = 5))
    info(s"annIvfPq clustered recall@5 = $pq")
    assert(pq >= 0.6, s"annIvfPq recall=$pq")
    val adc = recallOf(Similarity.annIvfPqAdc(queries, index, ivfCenters, model, k = 5))
    info(s"annIvfPqAdc clustered recall@5 = $adc")
    assert(adc >= 0.6, s"annIvfPqAdc recall=$adc")
    emb.unpersist()
  }

  test("bitextMineGlobal: the sign-LSH mining path recovers the exact " +
    "all-pairs margin's aligned translations (recall floor vs the " +
    "buckets=1 md5 reference, which IS the brute-force margin)") {
    import graft.ops.TextAnalysis
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    def vec(): Seq[Double] = Seq.fill(dim)(rnd.nextGaussian())
    // 40 translated pairs (identical embeddings — cos exactly 1, so the
    // pair shares EVERY sign-LSH bucket and candidacy is certain) plus
    // 20 unaligned de noise sentences
    val ens = (0 until 40).map(i => (i.toLong, "en", s"en $i", vec()))
    val des = ens.map { case (i, _, _, v) => (1000L + i, "de", s"de $i", v) }
    val noise = (0 until 20).map(i => (2000L + i, "de", s"noise $i", vec()))
    val all = (ens ++ des ++ noise)
      .toDF("sent_id", "lang", "sentence", "embedding")
    // buckets=1/tables=1 puts every id in bucket 0: the md5 variant
    // degenerates to the EXACT all-pairs margin — the reference
    val exact = TextAnalysis.bitextMineGlobalMd5(all, "de", "en",
        buckets = 1, tables = 1, k = 4)
      .select("src_id", "dst_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val aligned = (0 until 40).map(i => (1000L + i, i.toLong)).toSet
    assert((aligned intersect exact).size === 40,
      "the exact margin must mine every aligned twin")
    val mined = TextAnalysis.bitextMineGlobal(all, "de", "en",
        planes = 6, tables = 8, k = 4)
      .select("src_id", "dst_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (aligned intersect mined).size.toDouble / aligned.size
    info(s"bitextMineGlobal aligned recall = $recall")
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("annIvfWith: probing every cell degenerates to exact cosine top-k " +
    "(the q226 fixed-centers path against the brute-force ground truth)") {
    val emb = Tables.embeddings(spark, SparkSpec.sf0001)
    val queries = emb.filter(col("vec_id") < 8)
    val centers = Similarity.trainIvfCenters(emb, nlist = 4, trainCap = 256)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rnk", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // nprobe = nlist: every corpus cell is probed, so the candidate set
    // is the whole corpus and the rank must equal the exact scan
    val all = rows(Similarity.annIvfWith(queries, emb, centers,
      k = 5, nprobe = 4))
    val exact = rows(Similarity.cosineTopK(queries, emb, k = 5))
    assert(all === exact)
    // nprobe = 1 returns a subset of the corpus pairs (ranks are local
    // to the probed candidate set, so compare ids only)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = Similarity.annIvfWith(queries, emb, centers, k = 5, nprobe = 1)
    assert(one.count() > 0 && pairs(one).subsetOf(
      pairs(Similarity.cosineTopK(queries, emb, k = emb.count().toInt))))
  }

  test("nearestCellLocal (training-residual rule) == native NearestCells") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(9)(Array.fill(8)(rnd.nextGaussian()))
    val vecs = Array.fill(64)(Array.fill(8)(rnd.nextGaussian())) :+
      centers(3).clone :+ centers(7).clone // exact hits exercise ties-ish paths
    val nativeCells = vecs.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq.toDF("i", "v")
      .select(col("i"), graft.functions.VectorFunctions
        .nearestCells(col("v"), centers, 1).as("c"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).head).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      assert(Similarity.nearestCellLocal(v, centers) === nativeCells(i),
        s"drift at vector $i")
    }
  }

  test("annIvf: deterministic, sane shape, better recall than one random cell") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(queries, emb, k = 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf1 = Similarity.annIvf(spark, queries, emb, k = 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf2 = Similarity.annIvf(spark, queries, emb, k = 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf1 === ivf2) // fixed seed → deterministic cells
    val recall = (exact intersect ivf1).size.toDouble / exact.size
    // random unclustered vectors: nprobe=3 of nlist=16 cells ≈ 19% of the
    // corpus scanned; recall must beat that share substantially
    assert(recall >= 0.3, s"recall=$recall")
  }

  test("IVF trained once, searched with annIvfWith: output equals annIvf") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val centers = Similarity.trainIvfCenters(emb)
    // search with the pre-trained centers == the train-inline path (same
    // default nlist/trainCap/seed), proving train-once/search-many works
    def res(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fresh = res(Similarity.annIvf(spark, queries, emb, k = 5)
      .select("q_id", "rnk", "c_id"))
    val reused = res(Similarity.annIvfWith(queries, emb, centers, k = 5)
      .select("q_id", "rnk", "c_id"))
    assert(reused === fresh)
  }

  test("lshCosineNearDupPairs == quadratic confirm on planted near-dups (recall 1.0)") {
    // Same augmentation as q63: one perturbed copy per vector plants a
    // cos≈0.998 near-dup pair; background random pairs stay ≤0.61. The
    // LSH-bucketed path must recover EXACTLY the quadratic answer — a
    // lost bucket collision would show up as a missing pair here.
    val base = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val aug = base.unionAll(base.select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.2) * x * x).as("embedding")))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Double]("cos_sim"))).toSet
    val exact = pairs(Similarity.cosineNearDupPairs(aug, minCos = 0.9))
    val lsh = pairs(Similarity.lshCosineNearDupPairs(aug, minCos = 0.9))
    assert(exact.nonEmpty, "augmentation must plant qualifying pairs")
    assert(lsh === exact)
  }

  test("lshCosineNearDupPairs plan has no cartesian/broadcast-NLJ stage") {
    val base = Tables.embeddings(spark, sf0001)
    val plan = Similarity.lshCosineNearDupPairs(base, minCos = 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("quantizeInt8: int8 range, bounded dequant error, exact roundtrip bound") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = Similarity.quantizeInt8(emb).collect()
    assert(q.length.toLong === emb.count())
    q.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val qs = r.getSeq[Int](r.fieldIndex("q"))
      val err = r.getAs[Double]("max_abs_err")
      assert(scale > 0)
      assert(qs.forall(v => v >= -127 && v <= 127), s"q out of int8 range: $qs")
      // half-up floor quantization error is at most half a step; the
      // reported err (and scale) are rounded to 6 decimals, so allow
      // one rounding step of slack on the bound
      assert(err <= 0.5 / scale + 1e-6, s"err=$err scale=$scale")
    }
  }

  test("quantizedCosineTopK: high recall vs full-precision ranking") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(queries, emb, k = 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizedCosineTopK(queries, emb, k = 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect quant).size.toDouble / exact.size
    // int8 on 64-dim vectors perturbs cosine by ~1e-3 — rank flips only
    // among near-ties, so recall stays high
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("ann candidates are a subset of real corpus ids, no self-matches") {
    val emb = Tables.embeddings(spark, sf0001)
    val ann = Similarity.annLsh(emb.filter(col("vec_id") < 5), emb, k = 5)
    assert(ann.filter(col("q_id") === col("c_id")).isEmpty)
  }

  test("pcaFit: recovers the planted principal axis on a 2D fixture") {
    val s2 = spark
    import s2.implicits._
    // symmetric cloud stretched along (1,1): mean 0, cov known in closed
    // form — PC1 = (1,1)/√2 (sign convention: both positive), PC2 ⊥ it
    val pts = Seq((1.0, 1.0), (-1.0, -1.0), (2.0, 2.0), (-2.0, -2.0),
      (0.1, -0.1), (-0.1, 0.1))
    val df = pts.zipWithIndex
      .map { case ((x, y), i) => (i.toLong, Seq(x, y)) }
      .toDF("vec_id", "embedding")
    val m = Similarity.pcaFit(df, k = 2)
    val r2 = 1.0 / math.sqrt(2.0)
    assert(m.mean.forall(v => math.abs(v) < 1e-12))
    m.components(0).zip(Array(r2, r2)).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-9, s"PC1 ${m.components(0).toSeq}")
    }
    // cov eigenvalues: (Σx²±Σxy)/(n-1) = (10.02±9.98)/5
    assert(math.abs(m.explainedVariance(0) - 4.0) < 1e-9)
    assert(math.abs(m.explainedVariance(1) - 0.008) < 1e-9)
    // projections: pc1 = (x+y)/√2 on the centered (= raw, mean 0) points
    val proj = Similarity.pcaProject(df, m).orderBy("vec_id")
      .collect().map(r => (r.getAs[Double]("pc1"), r.getAs[Double]("pc2")))
    pts.zip(proj).foreach { case ((x, y), (p1, _)) =>
      assert(math.abs(p1 - (x + y) * r2) < 1e-9)
    }
  }

  test("pcaFit: orthonormal components, descending variance, variance == eigenvalue") {
    val emb = Tables.embeddings(spark, sf0001)
    val m = Similarity.pcaFit(emb, k = 3)
    for (i <- 0 until 3; j <- 0 until 3) {
      val d = m.components(i).zip(m.components(j)).map { case (a, b) => a * b }.sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(d - expect) < 1e-9, s"<pc$i, pc$j> = $d")
    }
    assert(m.explainedVariance.sliding(2).forall(p => p(0) >= p(1)))
    // the variance of the pc1 projection IS the top eigenvalue
    val p1 = Similarity.pcaProject(emb, m).select("pc1")
      .collect().map(_.getDouble(0))
    val mean = p1.sum / p1.length
    val v = p1.map(x => (x - mean) * (x - mean)).sum / (p1.length - 1)
    assert(math.abs(v - m.explainedVariance(0)) / m.explainedVariance(0) < 1e-6,
      s"var $v vs eig ${m.explainedVariance(0)}")
  }

  test("pcaFit: recovers the planted axis at dim=256 (CovUpperAgg path)") {
    val s2 = spark
    import s2.implicits._
    // The high-dim regime the Gram-matrix aggregator exists for:
    // dim·(dim+1)/2 = 32,896 packed positions per partition buffer, NOT
    // per vector. Planted fixture: points a·u + b·w with u ⊥ w
    // deterministic unit vectors, var(a) ≫ var(b) → PC1 = ±u, PC2 = ±w.
    val dim = 256
    val uRaw = Array.tabulate(dim)(i => math.sin(i + 1.0))
    val un = math.sqrt(uRaw.map(x => x * x).sum)
    val u = uRaw.map(_ / un)
    val wRaw0 = Array.tabulate(dim)(i => math.cos(3.0 * i + 0.5))
    val duw = wRaw0.zip(u).map { case (a, b) => a * b }.sum
    val wRaw = wRaw0.zip(u).map { case (a, b) => a - duw * b } // Gram-Schmidt
    val wn = math.sqrt(wRaw.map(x => x * x).sum)
    val w = wRaw.map(_ / wn)
    val coeffs = Seq((2.0, 0.1), (-2.0, -0.1), (1.0, -0.1), (-1.0, 0.1),
      (2.0, -0.1), (-2.0, 0.1), (1.0, 0.1), (-1.0, -0.1))
    val pts = coeffs.zipWithIndex.map { case ((a, b), i) =>
      (i.toLong, u.zip(w).map { case (ui, wi) => a * ui + b * wi }.toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
    val m = Similarity.pcaFit(df, k = 2)
    assert(m.mean.forall(v => math.abs(v) < 1e-12))
    val d1 = math.abs(m.components(0).zip(u).map { case (a, b) => a * b }.sum)
    val d2 = math.abs(m.components(1).zip(w).map { case (a, b) => a * b }.sum)
    assert(d1 > 1.0 - 1e-9, s"|<pc1, u>| = $d1")
    assert(d2 > 1.0 - 1e-9, s"|<pc2, w>| = $d2")
    // eigenvalues = coefficient variances: var(a) = 20/7, var(b) = 0.08/7
    assert(math.abs(m.explainedVariance(0) - 20.0 / 7) < 1e-9)
    assert(math.abs(m.explainedVariance(1) - 0.08 / 7) < 1e-9)
  }

  test("pcaFit rejects a mixed-dimension corpus instead of corrupting the fit") {
    val s2 = spark
    import s2.implicits._
    val bad = Seq((0L, Seq(1.0, 2.0)), (1L, Seq(1.0, 2.0, 3.0)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](Similarity.pcaFit(bad, k = 1))
    assert(e.getMessage.contains("dimension"))
  }

  test("kmeansAssign: equidistant point takes the lower center index") {
    val s = spark
    import s.implicits._
    val one = Seq((0L, Seq(0.0, 0.0))).toDF("vec_id", "embedding")
    val centers = Array(Array(1.0, 0.0), Array(-1.0, 0.0), Array(0.0, 1.0))
    val got = Similarity.kmeansAssign(one, centers).collect()
    assert(got.length === 1 && got.head.getAs[Long]("cluster") === 0L)
  }

  test("mmrSelect matches a sequential greedy reference exactly") {
    val emb = Tables.embeddings(spark, sf0001)
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val q = vecs.find(_._1 == 0L).get._2
    val k = 8; val lam = 0.7; val om = 1 - lam
    def dotv(a: Array[Double], b: Array[Double]): Double = {
      var s = 0d; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dotv(a, b) / (math.sqrt(dotv(a, a)) * math.sqrt(dotv(b, b)))
    val ref = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val selVecs = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    while (ref.size < k) {
      val best = vecs.filter(v => !ref.exists(_._1 == v._1))
        .map { case (id, v) =>
          val rel = cos(v, q)
          val score = if (selVecs.isEmpty) lam * rel
            else lam * rel - om * selVecs.map(s => cos(v, s)).max
          (id, score)
        }
        .minBy { case (id, s) => (-s, id) }
      ref += best
      selVecs += vecs.find(_._1 == best._1).get._2
    }
    val got = Similarity.mmrSelect(emb, q, k, lam)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === ref.toSeq)
  }

  test("mmrSelect: a redundant near-duplicate is deferred for diversity") {
    val s2 = spark
    import s2.implicits._
    val emb = Seq(
      (1L, Seq(0.9, 0.1)),   // most relevant to the query
      (2L, Seq(0.9, 0.11)),  // near-duplicate of 1 (plain top-2 takes it)
      (3L, Seq(0.5, 0.5))    // less relevant but diverse
    ).toDF("vec_id", "embedding")
    val q = Array(1.0, 0.0)
    val diverse = Similarity.mmrSelect(emb, q, k = 2, lambda = 0.3)
      .orderBy("rank").collect().map(_.getLong(1))
    assert(diverse.toSeq === Seq(1L, 3L))
    val plain = Similarity.mmrSelect(emb, q, k = 2, lambda = 1.0)
      .orderBy("rank").collect().map(_.getLong(1))
    assert(plain.toSeq === Seq(1L, 2L))
  }

  test("kmeans: a dim-mismatched vector gets a null cluster; fit survives it") {
    val s2 = spark
    import s2.implicits._
    val emb = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(1.0, 1.0)),
      (2L, Seq(0.1)), (3L, Seq(0.9, 1.1))).toDF("vec_id", "embedding")
    val centers = Array(Array(0.0, 0.0), Array(1.0, 1.0))
    val assigned = Similarity.kmeansAssign(emb, centers).orderBy("vec_id").collect()
    assert(assigned(2).isNullAt(assigned(2).fieldIndex("cluster")))
    assert(assigned(3).getAs[Long]("cluster") === 1L)
    val fit = Similarity.kmeansFit(emb, k = 2, iters = 2)
    assert(fit.length === 2 && fit.forall(_.length === 2))
    // a NULL embedding at the LOWEST vec_id must not NPE the init
    // collect — it's skipped, the next k clean vectors seed the centers
    val withNull = Seq((-1L, Option.empty[Seq[Double]]))
      .toDF("vec_id", "embedding").unionAll(emb)
    val fit2 = Similarity.kmeansFit(withNull, k = 2, iters = 1)
    assert(fit2.length === 2 && fit2.forall(_.length === 2))
  }

  test("kmeansFit: distributed Lloyd's matches a sequential reference " +
      "from the same deterministic init") {
    val emb = Tables.embeddings(spark, sf0001)
    val k = 6; val iters = 4
    val pts = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
    // sequential reference: identical init (first k by vec_id), argmin
    // squared-L2 with lower-index ties (minBy keeps the first minimum),
    // empty clusters keep their center
    var ref = pts.take(k).map(_.clone)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0d; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    for (_ <- 0 until iters) {
      val assign = pts.map(p => ref.indices.minBy(c => d2(p, ref(c))))
      ref = ref.indices.toArray.map { c =>
        val members = pts.indices.filter(assign(_) == c)
        if (members.isEmpty) ref(c)
        else {
          val m = new Array[Double](pts.head.length)
          members.foreach { i =>
            var j = 0; while (j < m.length) { m(j) += pts(i)(j); j += 1 }
          }
          m.map(_ / members.size)
        }
      }
    }
    val got = Similarity.kmeansFit(emb, k, iters)
    assert(got.length === k)
    got.zip(ref).zipWithIndex.foreach { case ((g, r), c) =>
      g.zip(r).foreach { case (gv, rv) =>
        assert(math.abs(gv - rv) < 1e-9, s"center $c drifted: $gv vs $rv")
      }
    }
    // and the resulting hard assignments agree exactly
    val refAssign = pts.map(p => ref.indices.minBy(c => d2(p, ref(c))).toLong)
    val gotAssign = Similarity.kmeansAssign(emb, got)
      .orderBy("vec_id").collect().map(_.getAs[Long]("cluster"))
    assert(gotAssign.toSeq === refAssign.toSeq)
  }

  test("pqEncode: hand-computed codes, lower-index ties, per-subspace argmin") {
    val s2 = spark
    import s2.implicits._
    // dim 4 = 2 subspaces × 2 dims; codebooks chosen so each subspace
    // has an unambiguous nearest entry except the planted tie row
    val model = Similarity.PqModel(dsub = 2, codebooks = Array(
      Array(Array(0.0, 0.0), Array(1.0, 1.0)),
      Array(Array(0.0, 1.0), Array(1.0, 0.0))))
    val emb = Seq(
      (0L, Seq(0.1, 0.0, 0.0, 0.9)),  // sub0 → entry 0, sub1 → entry 0
      (1L, Seq(0.9, 1.1, 0.9, 0.1)),  // sub0 → entry 1, sub1 → entry 1
      (2L, Seq(0.5, 0.5, 0.5, 0.5)))  // equidistant both → lower index 0
      .toDF("vec_id", "embedding")
    val got = Similarity.pqEncode(emb, model).orderBy("vec_id").collect()
      .map(_.getSeq[Int](1).toSeq)
    assert(got.toSeq === Seq(Seq(0, 0), Seq(1, 1), Seq(0, 0)))
  }

  test("pqAdcTopK: every ADC distance equals the driver table-lookup sum; " +
      "full ranking matches the reference order") {
    val emb = Tables.embeddings(spark, sf0001)
    val model = Similarity.pqTrain(emb, m = 4, ksub = 8, iters = 2)
    val pts = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val qv = pts(0L)
    def subDist(s: Int, c: Int): Double = {
      val cb = model.codebooks(s)(c)
      var acc = 0d; var j = 0
      while (j < model.dsub) {
        val t = qv(s * model.dsub + j) - cb(j); acc += t * t; j += 1
      }
      acc
    }
    val codes = Similarity.pqEncode(emb, model).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    // reference: same left-to-right subspace accumulation as the op
    val refDist = codes.map { case (id, cs) =>
      id -> cs.zipWithIndex.map { case (c, s) => subDist(s, c) }.sum
    }
    val got = Similarity.pqAdcTopK(
      Similarity.pqEncode(emb, model), model, qv, k = 500).collect()
    assert(got.length === 500)
    got.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      assert(r.getAs[Double]("adc_dist") === refDist(id),
        s"ADC drift for vec $id")
    }
    val refOrder = refDist.toSeq.sortBy { case (id, d) => (d, id) }.map(_._1)
    assert(got.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("vec_id")).toSeq
      === refOrder)
  }

  test("pq: training reduces reconstruction error; ADC ranking finds real " +
      "neighbors on the labeled fixture") {
    val emb = Tables.embeddings(spark, sf0001)
    val pts = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def mse(model: Similarity.PqModel): Double = {
      val codes = Similarity.pqEncode(emb, model).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray)
      codes.map { case (id, cs) =>
        val v = pts(id)
        cs.zipWithIndex.map { case (c, s) =>
          val cb = model.codebooks(s)(c)
          var acc = 0d; var j = 0
          while (j < model.dsub) {
            val t = v(s * model.dsub + j) - cb(j); acc += t * t; j += 1
          }
          acc
        }.sum
      }.sum / codes.length
    }
    // m=8 × ksub=16 (8-dim subspaces): the fidelity a recall bound can
    // lean on — the q118 m=4/ksub=8 setting is deliberately coarser
    // because its oracle only needs the argmin rule, not good recall
    val untrained = mse(Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 0))
    val trained = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 3)
    assert(mse(trained) < untrained,
      s"Lloyd's should cut quantization error: ${mse(trained)} vs $untrained")
    // geometry sanity, two tiers. The fixture embeddings are near-
    // ISOTROPIC (measured: NN d² ≈ 1.33 vs rank-50 d² ≈ 1.66, labels
    // uncorrelated with distance), where PQ recall@10 is inherently
    // modest — so (a) plant true near-dups (the q63 perturbation) and
    // demand ADC surfaces them, (b) keep only a well-above-the-2%-
    // chance-floor bound on the isotropic corpus itself.
    val qv = pts(0L)
    val planted = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => x + lit(0.2) * x * x).as("embedding"))
    val corpus = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding")).union(planted)
    val pModel = Similarity.pqTrain(corpus, m = 8, ksub = 16, iters = 3)
    val top = Similarity.pqAdcTopK(
        Similarity.pqEncode(corpus, pModel), pModel, qv, k = 10)
      .orderBy("rnk").collect().map(_.getAs[Long]("vec_id"))
    assert(top.toSet.contains(0L) && top.toSet.contains(100000L),
      s"ADC top-10 misses the query or its planted near-dup: ${top.toSeq}")
    assert(top.head == 0L || top.head == 100000L,
      s"ADC rank 1 should be the query or its near-dup, got ${top.head}")
    def d2(a: Array[Double]): Double = {
      var s = 0d; var i = 0
      while (i < a.length) { val t = a(i) - qv(i); s += t * t; i += 1 }
      s
    }
    val exact = pts.toSeq.sortBy { case (id, v) => (d2(v), id) }
      .take(10).map(_._1).toSet
    val adc = Similarity.pqAdcTopK(
        Similarity.pqEncode(emb, trained), trained, qv, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = (exact & adc).size / 10.0
    assert(recall >= 0.1, s"ADC recall@10 below the isotropic floor: $recall")
  }

  test("pqDecode: reconstruction concatenates the named codebook entries; " +
      "ADC distance IS the distance to the reconstruction") {
    val s2 = spark
    import s2.implicits._
    val model = Similarity.PqModel(dsub = 2, codebooks = Array(
      Array(Array(0.0, 0.0), Array(1.0, 1.0)),
      Array(Array(0.0, 1.0), Array(1.0, 0.0))))
    val emb = Seq(
      (0L, Seq(0.1, 0.0, 0.0, 0.9)), (1L, Seq(0.9, 1.1, 0.9, 0.1)),
      (2L, Seq(0.5, 0.5)))  // dirty: wrong dim
      .toDF("vec_id", "embedding")
    val enc = Similarity.pqEncode(emb, model)
    val dec = Similarity.pqDecode(enc, model).orderBy("vec_id").collect()
    assert(dec(0).getSeq[Double](1) === Seq(0.0, 0.0, 0.0, 1.0))
    assert(dec(1).getSeq[Double](1) === Seq(1.0, 1.0, 1.0, 0.0))
    assert(dec(2).isNullAt(1), "dirty row must decode to a NULL vector")
    // the ADC identity on the real fixture: adc_dist(q, v) equals the
    // exact squared-L2 from q to pqDecode(pqEncode(v)) — per-subspace vs
    // positional association differ, so ulp-tolerance, not bit equality
    val fix = Tables.embeddings(spark, sf0001)
    val m2 = Similarity.pqTrain(fix, m = 4, ksub = 8, iters = 1)
    val qv = fix.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .collect().head.getSeq[Double](0).toArray
    val recon = Similarity.pqDecode(Similarity.pqEncode(fix, m2), m2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    Similarity.pqAdcTopK(Similarity.pqEncode(fix, m2), m2, qv, k = 500)
      .collect().foreach { r =>
        val v = recon(r.getAs[Long]("vec_id"))
        var d = 0d; var i = 0
        while (i < v.length) { val t = qv(i) - v(i); d += t * t; i += 1 }
        assert(math.abs(r.getAs[Double]("adc_dist") - d) < 1e-9 * (1 + d),
          s"ADC != reconstruction distance for vec ${r.getAs[Long]("vec_id")}")
      }
  }

  test("pq: a dim-mismatched row gets all-null codes and is excluded " +
      "from ADC; indivisible dim is rejected") {
    val s2 = spark
    import s2.implicits._
    val model = Similarity.PqModel(dsub = 1, codebooks = Array(
      Array(Array(0.0), Array(1.0)), Array(Array(0.0), Array(1.0))))
    // vec 1 is truncated (its FIRST slice alone looks well-formed),
    // vec 3 is over-long (every slice of its prefix looks well-formed) —
    // both must refuse to encode, not score the part that happens to fit
    val emb = Seq((0L, Seq(0.9, 0.1)), (1L, Seq(0.2)), (2L, Seq(0.1, 0.8)),
      (3L, Seq(0.9, 0.1, 0.5)))
      .toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(emb, model).orderBy("vec_id").collect()
    assert(codes(1).getSeq[Any](1) === Seq(null, null))
    assert(codes(3).getSeq[Any](1) === Seq(null, null))
    val top = Similarity.pqAdcTopK(Similarity.pqEncode(emb, model), model,
      Array(1.0, 0.0), k = 4).collect().map(_.getAs[Long]("vec_id"))
    assert(top.toSeq === Seq(0L, 2L)) // dirty 1 and 3 filtered, not mis-scored
    val e = intercept[IllegalArgumentException](
      Similarity.pqTrain(emb.filter(col("vec_id") =!= 1L)
        .filter(col("vec_id") =!= 3L), m = 3, ksub = 1))
    assert(e.getMessage.contains("not divisible"))
    // a mixed-dim corpus must fail LOUDLY at train time, naming the dims:
    // sniffing dim from one row would silently retarget the model and
    // the encode guard would then null out every clean row
    val mixed = intercept[IllegalArgumentException](
      Similarity.pqTrain(emb, m = 1, ksub = 1))
    assert(mixed.getMessage.contains("mixes embedding dimensions") &&
      mixed.getMessage.contains("1/2/3"), mixed.getMessage)
    // the bounded-sample trainer has the same guards (one IVF center:
    // the dimension checks run before the centers are used)
    val mixedSampled = intercept[IllegalArgumentException](
      Similarity.pqTrainSampledResidual(emb, Array(Array(0.0)), m = 1, ksub = 1))
    assert(mixedSampled.getMessage.contains("mixes embedding dimensions"),
      mixedSampled.getMessage)
    // a null embedding is excluded from the sample (pqTrain's dim-
    // consensus tolerance), not an anonymous NPE
    val withNull = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(1.0, 1.0)),
      (2L, null.asInstanceOf[Seq[Double]])).toDF("vec_id", "embedding")
    val oneCenter = Array(Array(0.0, 0.0))
    val m2 = Similarity.pqTrainSampledResidual(withNull, oneCenter, m = 2,
      ksub = 2, iters = 1)
    assert(m2.m === 2 && m2.dsub === 1)
    // an all-null corpus leaves an empty sample: refused by name
    val empty = intercept[IllegalArgumentException](
      Similarity.pqTrainSampledResidual(withNull.filter(col("vec_id") === 2L),
        oneCenter, m = 2, ksub = 2))
    assert(empty.getMessage.contains("needs a non-empty corpus"), empty.getMessage)
  }

  test("annIvfPq: planted near-dups retrieved at rank 1 from the " +
      "compressed index; candidates real, no self-matches, dirty rows out") {
    val s2 = spark
    import s2.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    // the q63 perturbation: a near-parallel copy of vecs 0/1/2 — under
    // cosine its nearest non-self neighbor is its original
    val planted = base.filter(col("vec_id") < 3)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.2) * x * x).as("embedding"))
    val corpus = base.union(planted)
    val centers = Similarity.trainIvfCenters(corpus, nlist = 8)
    // the residual-sampled driver-side trainer — the same pairing q121 runs
    val model = Similarity.pqTrainSampledResidual(corpus, centers, m = 8,
      ksub = 16, iters = 2)
    val index = Similarity.pqIndex(corpus, centers, model)
    val got = Similarity.annIvfPq(planted, index, centers, model, k = 5)
      .collect()
    val ids = base.select("vec_id").collect().map(_.getLong(0)).toSet ++
      Set(100000L, 100001L, 100002L)
    got.foreach { r =>
      assert(ids.contains(r.getAs[Long]("c_id")))
      assert(r.getAs[Long]("q_id") !== r.getAs[Long]("c_id"))
    }
    (0 until 3).foreach { i =>
      val rank1 = got.filter(r => r.getAs[Long]("q_id") == 100000L + i &&
        r.getAs[Long]("rnk") == 1L)
      assert(rank1.nonEmpty, s"query ${100000 + i} returned nothing")
      assert(rank1.head.getAs[Long]("c_id") === i.toLong,
        s"query ${100000 + i} should retrieve its original at rank 1")
    }
    // a dirty corpus row can never surface as a candidate
    val dirty = corpus.union(Seq((999999L, Seq(0.5, 0.5)))
      .toDF("vec_id", "embedding"))
    val got2 = Similarity.annIvfPq(planted,
      Similarity.pqIndex(dirty, centers, model), centers, model, k = 5)
      .collect()
    assert(!got2.exists(_.getAs[Long]("c_id") == 999999L))
    // a zero-norm QUERY makes every cosine 0/0 = NaN, which Spark ranks
    // above every real double — the filter must drop those pairs (the
    // query returns nothing) instead of returning an all-NaN top-k
    val zeroQ = planted.union(Seq((999998L, Seq.fill(64)(0.0)))
      .toDF("vec_id", "embedding"))
    val got3 = Similarity.annIvfPq(zeroQ, index, centers, model, k = 5)
      .collect()
    assert(!got3.exists(_.getAs[Long]("q_id") == 999998L),
      "NaN cosine pairs must be dropped, not ranked")
    assert(got3.forall(r => !r.getAs[Double]("cos_sim").isNaN))
    assert(got3.exists(_.getAs[Long]("q_id") == 100000L),
      "clean queries must be unaffected by the degenerate one")
  }

  test("maxBucketSize bounds sign-LSH candidate growth under 10x " +
    "duplication; a cap nothing exceeds is a no-op") {
    val base = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("vec_id") < 30)
    def dupN(times: Int) = (0 until times).map(k =>
      base.select((col("vec_id") * 1000 + k).as("vec_id"), col("v")))
      .reduce(_ unionAll _)
    val tenOff = Similarity.lshCosineCandidates(dupN(10), 8, 12, 0).count()
    val tenOn = Similarity.lshCosineCandidates(dupN(10), 8, 12, 5).count()
    // identical vectors share EVERY bucket: ≥ C(10,2)=45 pairs per base
    // vector uncapped — the certain quadratic bomb
    assert(tenOff >= 45L * 30)
    // capped at 5: every copy-group bucket has df=10 > cap and is dropped
    // (the lost pairs are exact duplicates — the documented defense
    // pairing is collapse first [semanticClustersCollapsed], cap second)
    assert(tenOn < tenOff / 10,
      s"cap should kill the blowup: capped=$tenOn uncapped=$tenOff")
    // a cap nothing exceeds reproduces the uncapped pair set + cosines
    val emb = Tables.embeddings(spark, sf0001)
    val plain = Similarity.lshCosineNearDupPairs(emb, minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val loose = Similarity.lshCosineNearDupPairs(emb, minCos = 0.9,
        maxBucketSize = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(loose === plain)
  }

  test("semanticClustersCollapsed caps hot buckets BY DEFAULT; the " +
    "default is a no-op on the fixture corpus") {
    val s2 = spark
    import s2.implicits._
    // 300 NEAR-identical (not bit-equal, so the collapse can't defuse
    // them) vectors: same direction, tiny length perturbation → cosine
    // exactly 1 pairwise, every pair shares EVERY sign-LSH bucket
    val bomb = (0 until 300)
      .map(i => (i.toLong, Seq(1.0 + i * 1e-9, 0.5, -0.25, 0.125)))
      .toDF("vec_id", "v")
    val uncapped = Similarity.lshCosineCandidates(bomb, 8, 12, 0).count()
    val defCap = Similarity.lshCosineCandidates(bomb, 8, 12,
      graft.ops.Dedup.DefaultHotKeyCap).count()
    assert(uncapped === 300L * 299 / 2)
    assert(defCap === 0L, s"default cap should drop all df=300 buckets, got $defCap")
    // the DEFAULT entry point (no cap arg) completes without the d² pair
    // stage; the flood's clusters are lost to the cap (documented lossy —
    // bit-equal floods still cluster via the exact collapse)
    val embBomb = bomb.withColumnRenamed("v", "embedding")
    assert(Similarity.semanticClustersCollapsed(embBomb, minCos = 0.9).isEmpty)
    // fixture corpus: no bucket anywhere near 256 deep → default ==
    // explicit off
    val emb = Tables.embeddings(spark, sf0001)
    val defaulted = Similarity.semanticClustersCollapsed(emb, minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val off = Similarity.semanticClustersCollapsed(emb, minCos = 0.9,
        maxBucketSize = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(defaulted === off)
  }

  test("IVF-PQ corpus-level recall floor vs exact top-k (both search paths)") {
    // The q121/q122 queries are rows-only (iterative trainers preclude a
    // SQL oracle), so THIS is their quality gate: fixed-seed recall@5
    // against exact cosineTopK over the whole fixture corpus — the
    // annLsh-spec pattern. Floors are half the measured values on the
    // near-random fixture (the PQ worst case: distortion is uncorrelated
    // with distance, and nprobe=3/nlist=16 scans ~19% of the corpus);
    // real clustered embedding spaces sit far above them.
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(queries, emb, k = 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val centers = Similarity.trainIvfCenters(emb)
    val model = Similarity.pqTrainSampledResidual(emb, centers, m = 8,
      ksub = 16, iters = 2)
    val index = Similarity.pqIndex(emb, centers, model)
    val pq = Similarity.annIvfPq(queries, index, centers, model, k = 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqRecall = (exact intersect pq).size.toDouble / exact.size
    info(s"annIvfPq recall@5 = $pqRecall")
    assert(pqRecall >= 0.1, s"annIvfPq recall@5 = $pqRecall") // measured 0.2
    val adc = Similarity.annIvfPqAdc(queries, index, centers, model, k = 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adcRecall = (exact intersect adc).size.toDouble / exact.size
    info(s"annIvfPqAdc recall@5 = $adcRecall")
    assert(adcRecall >= 0.1, s"annIvfPqAdc recall@5 = $adcRecall") // measured 0.2
    // determinism: same fixed-seed trainers + index → identical result set
    val pq2 = Similarity.annIvfPq(queries, index, centers, model, k = 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq2 === pq)
  }

  test("annIvfPqAdc: per-pair ADC equals the driver table sum; planted " +
      "near-dups at rank 1; dirty query fails loudly") {
    val s2 = spark
    import s2.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val planted = base.filter(col("vec_id") < 3)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.2) * x * x).as("embedding"))
    val corpus = base.union(planted)
    val centers = Similarity.trainIvfCenters(corpus, nlist = 8)
    val model = Similarity.pqTrainSampledResidual(corpus, centers, m = 8,
      ksub = 16, iters = 2)
    val index = Similarity.pqIndex(corpus, centers, model)
    val got = Similarity.annIvfPqAdc(planted, index, centers, model, k = 5)
      .collect()
    // ADC(q, c) must equal the driver-recomputed table lookup sum for
    // every returned pair — residual tables: entry (s,code) is
    // ||slice_s(q − center(cell(c))) − cb||², same per-subspace
    // left-to-right accumulation as the plan literal
    val pts = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cellAndCodes = index.collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2).toArray))).toMap
    got.foreach { r =>
      val qv = pts(r.getAs[Long]("q_id"))
      val (cell, cds) = cellAndCodes(r.getAs[Long]("c_id"))
      val center = centers(cell)
      val ref = cds.zipWithIndex.map { case (c, s) =>
        val cb = model.codebooks(s)(c)
        var acc = 0d; var j = 0
        while (j < model.dsub) {
          val t = (qv(s * model.dsub + j) - center(s * model.dsub + j)) - cb(j)
          acc += t * t; j += 1
        }
        acc
      }.sum
      assert(r.getAs[Double]("adc_dist") === ref,
        s"ADC drift for pair (${r.getAs[Long]("q_id")}, ${r.getAs[Long]("c_id")})")
    }
    // a perturbed copy's nearest non-self neighbor by L2 is its original
    (0 until 3).foreach { i =>
      val rank1 = got.filter(r => r.getAs[Long]("q_id") == 100000L + i &&
        r.getAs[Long]("rnk") == 1L)
      assert(rank1.nonEmpty && rank1.head.getAs[Long]("c_id") === i.toLong,
        s"query ${100000 + i} should retrieve its original at rank 1")
    }
    // dirty query vectors cannot have tables built — loud, named failure
    // for BOTH the wrong-dim and the null case (a bare NPE would fire
    // before the require otherwise)
    val dirtyQ = Seq((7L, Seq(0.1, 0.2))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Similarity.annIvfPqAdc(dirtyQ, index, centers, model, k = 1))
    assert(e.getMessage.contains("7") && e.getMessage.contains("dim"),
      e.getMessage)
    val nullQ = Seq((8L, null.asInstanceOf[Seq[Double]]))
      .toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException](
      Similarity.annIvfPqAdc(nullQ, index, centers, model, k = 1))
    assert(e2.getMessage.contains("8") && e2.getMessage.contains("null"),
      e2.getMessage)
    // duplicate index ids must not consume top-k slots as repeated pairs
    val dupTop = Similarity.annIvfPqAdc(planted, index.union(index), centers,
      model, k = 5).collect()
    val pairs = dupTop.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id")))
    assert(pairs.distinct.length === pairs.length,
      "duplicate index rows leaked into the top-k")
    assert(dupTop.filter(r => r.getAs[Long]("q_id") == 100000L &&
      r.getAs[Long]("rnk") == 1L).head.getAs[Long]("c_id") === 0L)
  }

  test("pqDecode: a shorter-than-m codes array decodes to NULL, never a " +
      "padded vector with null elements") {
    val s2 = spark
    import s2.implicits._
    val model = Similarity.PqModel(dsub = 1, codebooks = Array(
      Array(Array(0.0), Array(1.0)), Array(Array(0.0), Array(1.0))))
    val enc = Seq((0L, Seq(1, 0)), (1L, Seq(1)), (2L, Seq.empty[Int]))
      .toDF("vec_id", "codes")
    val got = Similarity.pqDecode(enc, model).orderBy("vec_id").collect()
    assert(got(0).getSeq[Double](1) === Seq(1.0, 0.0))
    assert(got(1).isNullAt(1), "short codes must refuse, not zip_with-pad")
    assert(got(2).isNullAt(1), "empty codes must refuse, not zip_with-pad")
  }

  test("semanticClustersCollapsed == uncollapsed pairs + CC when copies " +
      "are planted; identical zero vectors still cluster") {
    val s2 = spark
    import s2.implicits._
    val base = Tables.embeddings(spark, SparkSpec.sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    // exact copies: the collapse's whole reason to exist
    val aug = base.unionAll(base.select((col("vec_id") + 200000L).as("vec_id"),
      col("embedding")))
    val full = graft.ops.Dedup.connectedComponents(
        Similarity.lshCosineNearDupPairs(aug, minCos = 0.9)
          .select("vec_a", "vec_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val collapsed = Similarity.semanticClustersCollapsed(aug, minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.nonEmpty && collapsed === full)
    // identical zero vectors: cosine is undefined (the pair stage drops
    // them) but exact duplicates are near-duplicates by definition
    val zeros = Seq((5L, Seq(0.0, 0.0)), (6L, Seq(0.0, 0.0)),
      (7L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val zc = Similarity.semanticClustersCollapsed(zeros, minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(zc === Set((5L, 5L), (6L, 5L)))
    // NULL embeddings are DROPPED, not clustered: two nulls must not
    // collapse into a fake "exact duplicate" cluster (nulls form one
    // groupBy group; the uncollapsed pair path drops dirty rows)
    val dirty = Seq((8L, Option.empty[Seq[Double]]),
      (9L, Option.empty[Seq[Double]]), (10L, Some(Seq(1.0, 0.0))))
      .toDF("vec_id", "embedding")
    val dc = Similarity.semanticClustersCollapsed(dirty, minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dc.forall(p => p._1 != 8L && p._1 != 9L),
      s"null embeddings must not cluster: $dc")
  }

  test("semanticContaminationFlags: hand-computed 2D argmax, ties to lowest " +
    "eval id, zero-norm train rows excluded") {
    val s = spark
    import s.implicits._
    val evalSet = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val train = Seq(
      (10L, Seq(2.0, 0.0)),  // cos 1.0 with eval 1 → contaminated
      (11L, Seq(1.0, 1.0)),  // cos 0.7071 with BOTH → tie → eval 1, clean
      (12L, Seq(-1.0, 0.0)), // cos -1 / 0 → best eval 2 at 0.0, clean
      (13L, Seq(0.0, 0.0))   // zero norm → excluded
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticContaminationFlags(train, evalSet, minCos = 0.9)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (10L, true, 1L, 1.0),
      (11L, false, 1L, 0.7071),
      (12L, false, 2L, 0.0)))
  }

  test("semanticContaminationFlags: planted eval copies are exactly the " +
    "contaminated set on the fixture corpus") {
    val base = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val train = base.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.2) * x * x).as("embedding"))
    val flagged = Similarity
      .semanticContaminationFlags(train, base.filter(col("vec_id") < 20), 0.9)
      .filter(col("contaminated"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // each planted copy of an eval vector pairs back to its own source
    assert(flagged === (0L until 20L).map(i => (i + 100000L, i)).toSet)
  }

  test("semanticContaminationFlags: an eval set past the broadcast guard " +
    "fails loudly (naming the LSH escape hatch), not at executor OOM time") {
    val base = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticContaminationFlags(base, base, 0.9, maxEvalRows = 10L)
    }
    assert(e.getMessage.contains("maxEvalRows=10"), e.getMessage)
    assert(e.getMessage.contains("lshCosineCandidates"), e.getMessage)
    // at the guard boundary the operator still runs
    val ok = Similarity.semanticContaminationFlags(
      base, base.filter(col("vec_id") < 10), 0.9, maxEvalRows = 10L)
    assert(ok.count() > 0)
  }
}
