package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.functions.GraftFunctions
import graft.ops.{Curation, Dedup}

/** Invariants of the end-to-end curation pipeline, plus the streaming
  * dedup composition (content hash + dropDuplicatesWithinWatermark). */
class CurationSpec extends SparkSpec {
  import SparkSpec.sf0001

  private lazy val docs = Tables.documents(spark, sf0001)
  private lazy val curated = Curation.curate(docs)

  test("survivors are a subset of the input, with all columns intact") {
    assert(curated.columns.toSeq === docs.columns.toSeq)
    assert(curated.count() > 0 && curated.count() <= docs.count())
    assert(curated.join(docs, Seq("doc_id"), "left_anti").isEmpty)
  }

  test("no exact duplicates and no confirmed near-dup pair among survivors") {
    assert(curated.groupBy("text").count().filter(col("count") > 1).isEmpty)
    assert(Dedup.jaccardNearDupPairs(curated, 0.8).isEmpty)
  }

  test("one-pass curate equals the staged gate → exact-dedup → near-dup chain") {
    val cfg = Curation.Config()
    val toks = split(col("text"), " ")
    val quality = docs.filter(
      size(toks) >= cfg.minTokens &&
        (size(array_distinct(toks)).cast("double") / size(toks)) >= cfg.minUniqRatio)
    val survivorsExact = quality.join(
      Dedup.exactByHash(quality, col("text"), col("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val dropList = Dedup.minHashLshPairs(survivorsExact, cfg.nearDupJaccard)
      .select(col("doc_b").as("doc_id")).distinct()
    val staged = survivorsExact.join(dropList, Seq("doc_id"), "left_anti")
      .select("doc_id")
    val onePass = curated.select("doc_id")
    assert(onePass.exceptAll(staged).isEmpty && staged.exceptAll(onePass).isEmpty)
  }

  test("curation is idempotent") {
    val twice = Curation.curate(curated)
    assert(twice.count() === curated.count())
    assert(twice.select("doc_id").exceptAll(curated.select("doc_id")).isEmpty)
  }

  test("near-dups removed at sf0.001: every planted pair lost exactly one side") {
    val pairs = Dedup.jaccardNearDupPairs(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val kept = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    pairs.foreach { case (a, b) =>
      assert(kept.contains(a) ^ kept.contains(b) || (!kept.contains(a) && !kept.contains(b)),
        s"pair ($a,$b) should not survive whole")
    }
  }

  test("streaming curation chain: quality-gate link → stateful dedup link over the registry") {
    val s = spark
    import s.implicits._
    val reg = new graft.runtime.StreamRegistry(spark,
      java.nio.file.Files.createTempDirectory("graft-cur").toString)
    object QualityGate extends graft.runtime.Link {
      val inputs = Seq("docs_in"); val output = Some("docs_q")
      override def transform(df: org.apache.spark.sql.DataFrame) =
        df.filter(size(split(col("text"), " ")) >= 3)
    }
    object DedupLink extends graft.runtime.Link {
      val inputs = Seq("docs_q"); val output = Some("docs_clean")
      override def transform(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("content_hash", GraftFunctions.blake2b_256(col("text")))
          .dropDuplicates("content_hash")
    }
    val pipe = new graft.runtime.Pipeline(Seq(QualityGate, DedupLink))
    reg.write(Seq("good doc one", "bad", "good doc one", "good doc two")
      .toDF("text"), "docs_in")
    pipe.runOnce(spark, reg)
    assert(reg.read("docs_clean").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("good doc one", "good doc two"))
    // second batch: a cross-batch duplicate must be suppressed by the
    // dedup state persisted in the link's checkpoint
    reg.write(Seq("good doc two", "good doc three").toDF("text"), "docs_in")
    pipe.runOnce(spark, reg)
    assert(reg.read("docs_clean").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("good doc one", "good doc three", "good doc two"))
  }

  test("streaming chunk-dedup link: first-seen chunks survive across batches") {
    val s = spark
    import s.implicits._
    val reg = new graft.runtime.StreamRegistry(spark,
      java.nio.file.Files.createTempDirectory("graft-cd").toString)
    // the streaming form of Dedup.chunkDedup's first-occurrence rule:
    // explode fixed-size chunks, key state on the chunk text. State is
    // the link's checkpoint; on unbounded streams swap in
    // dropDuplicatesWithinWatermark to bound it (SCALE.md, Streaming).
    object ChunkDedupLink extends graft.runtime.Link {
      val inputs = Seq("cd_in"); val output = Some("cd_out")
      override def transform(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"),
          posexplode(graft.ops.Dedup.wordChunks(col("text"), 2))
            .as(Seq("pos", "part")))
          .dropDuplicates("part")
    }
    val pipe = new graft.runtime.Pipeline(Seq(ChunkDedupLink))
    reg.write(Seq((1L, "a b c d"), (2L, "a b x y")).toDF("doc_id", "text"),
      "cd_in")
    pipe.runOnce(spark, reg)
    assert(reg.read("cd_out").select("part").collect().map(_.getString(0))
      .sorted.toSeq === Seq("a b", "c d", "x y"))
    // batch 2: "c d" was seen in batch 1 and must be suppressed by state
    reg.write(Seq((3L, "c d z z")).toDF("doc_id", "text"), "cd_in")
    pipe.runOnce(spark, reg)
    assert(reg.read("cd_out").select("part").collect().map(_.getString(0))
      .sorted.toSeq === Seq("a b", "c d", "x y", "z z"))
  }

  test("streaming PII scrub link: redaction is a pure projection over the registry") {
    val s = spark
    import s.implicits._
    val reg = new graft.runtime.StreamRegistry(spark,
      java.nio.file.Files.createTempDirectory("graft-pii").toString)
    object ScrubLink extends graft.runtime.Link {
      val inputs = Seq("pii_in"); val output = Some("pii_clean")
      override def transform(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("text", graft.ops.Curation.redactPii(col("text")))
    }
    reg.write(Seq(
      "mail me at a.b@example.com now",
      "server 10.0.113.9 and line +1-555-0100 ok").toDF("text"), "pii_in")
    new graft.runtime.Pipeline(Seq(ScrubLink)).runOnce(spark, reg)
    val got = reg.read("pii_clean").collect().map(_.getString(0)).sorted.toSeq
    assert(got === Seq(
      "mail me at <EMAIL> now",
      "server <IP> and line <PHONE> ok"))
  }

  test("streaming quality-score gate link: classifier + Gopher rules in one pass") {
    val s = spark
    import s.implicits._
    // a trained model gates the stream exactly like any other projection:
    // the weight vector rides the plan as a literal, so the Link's
    // transform is stateless and batch-order-independent
    val trainDocs = (0 until 120).map { i =>
      if (i % 2 == 0) (s"the table w${i % 5} clean good text here row", 1)
      else (s"the table w${i % 5} spam junk garbage noise row", 0)
    }.toDF("text", "y")
    val model = graft.ops.Classifier.trainLogRegHashed(s, trainDocs, "y",
      dim = 256, rounds = 10, lr = 2.0)
    val reg = new graft.runtime.StreamRegistry(spark,
      java.nio.file.Files.createTempDirectory("graft-qgate").toString)
    object QualityGateLink extends graft.runtime.Link {
      val inputs = Seq("q_in"); val output = Some("q_kept")
      override def transform(df: org.apache.spark.sql.DataFrame) = {
        val scored = graft.ops.Classifier.scoreWith(
          graft.ops.Curation.gopherRules(df, minWords = 5), model)
        scored.filter(col("keep") && col("score") > 0.5)
          .select("text")
      }
    }
    reg.write(Seq(
      "the table clean good text here row extra words make it pass",
      "the table spam junk garbage noise row extra words also here",
      "too short").toDF("text"), "q_in")
    new graft.runtime.Pipeline(Seq(QualityGateLink)).runOnce(spark, reg)
    val got = reg.read("q_kept").collect().map(_.getString(0)).toSeq
    assert(got === Seq(
      "the table clean good text here row extra words make it pass"))
  }

  test("streaming hash-split router: docs fan out to per-split streams, batch-stable") {
    val s = spark
    import s.implicits._
    val reg = new graft.runtime.StreamRegistry(spark,
      java.nio.file.Files.createTempDirectory("graft-split").toString)
    object SplitRouter extends graft.runtime.RouterLink {
      val inputs = Seq("docs_raw")
      // route on the same md5-bucket rule as Curation.hashSplit: the
      // assignment is content-keyed, so re-delivery or re-sharding
      // cannot move a doc across the train/eval boundary mid-stream
      def route(df: org.apache.spark.sql.DataFrame) =
        Curation.hashSplit(df)
          .withColumn("_stream", concat(lit("docs_"), col("split"))).drop("split")
    }
    val texts = (1 to 40).map(i => s"document number $i with some words")
    reg.write(texts.toDF("text"), "docs_raw")
    SplitRouter.start(spark, reg).awaitTermination()
    val bySplit = Seq("train", "val", "test").map { sp =>
      sp -> (try reg.read(s"docs_$sp").collect().map(_.getString(0)).toSet
             catch { case _: Exception => Set.empty[String] })
    }.toMap
    // every doc lands in exactly one split stream
    assert(bySplit.values.map(_.size).sum === texts.length)
    assert(bySplit.values.reduce(_ union _) === texts.toSet)
    // and the streamed assignment agrees with the batch operator
    val batch = Curation.hashSplit(texts.toDF("text"))
      .collect().map(r => r.getAs[String]("text") -> r.getAs[String]("split")).toMap
    bySplit.foreach { case (sp, docs) => docs.foreach(d => assert(batch(d) === sp)) }
  }

  test("streaming dedup: content hash + dropDuplicatesWithinWatermark") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val deduped = mem.toDF().toDF("ts", "text")
      .withColumn("content_hash", GraftFunctions.blake2b_256(col("text")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("content_hash")
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode(OutputMode.Append).start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
      val t1 = Timestamp.valueOf("2024-01-01 10:01:00")
      mem.addData((t0, "doc one"), (t1, "doc one"), (t1, "doc two"))
      q.processAllAvailable()
    } finally q.stop()
    val texts = s.sql("SELECT text FROM sdedup").collect().map(_.getString(0)).sorted
    assert(texts.toSeq === Seq("doc one", "doc two"))
  }

  test("hashSplit: deterministic, content-keyed, covers every doc exactly once") {
    val s1 = Curation.hashSplit(docs).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val s2 = Curation.hashSplit(docs.repartition(7)).select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 === s2) // split survives re-sharding: keyed on content, not position
    assert(s1.size.toLong === docs.count())
    val bySplit = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    // ~80/10/10 over 500 docs: train must dominate, all three present
    assert(bySplit("train") > bySplit.getOrElse("val", 0))
    assert(bySplit("train") > bySplit.getOrElse("test", 0))
    // duplicate texts land in the same split (leakage-safety)
    val leaks = Curation.hashSplit(docs)
      .groupBy("text").agg(countDistinct("split").as("k"))
      .filter(col("k") > 1)
    assert(leaks.isEmpty)
  }

  test("qualityGates: pinned verdicts on hand-built docs; passes == conjunction") {
    val s = spark
    import s.implicits._
    val hand = Seq(
      (1L, Array.fill(30)("alpha beta gamma delta epsilon zeta").mkString(" ")), // repetitive
      (2L, (1 to 30).map(i => s"word$i").mkString(" ")),  // unique words, passes all
      (3L, "too short"),                               // fails length gate
      (4L, (1 to 30).map(_ => "aa").mkString(" ")))    // one word repeated: uniq+rep fail
    val g = Curation.qualityGates(hand.toDF("doc_id", "text"))
      .select("doc_id", "gate_len", "gate_word_len", "gate_uniq", "gate_rep", "passes")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))
      .toMap
    assert(g(2L) === ((true, true, true, true, true)))
    assert(g(3L)._1 === false && g(3L)._5 === false)
    assert(g(4L)._3 === false && g(4L)._4 === false && g(4L)._5 === false)
    g.values.foreach { case (a, b, c, d, p) => assert(p === (a && b && c && d)) }
  }

  test("packSequences: deterministic layout, contiguous bins, boundary invariant") {
    val p1 = Curation.packSequences(docs, binTokens = 512)
      .select("doc_id", "bin").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p2 = Curation.packSequences(docs.repartition(5), binTokens = 512)
      .select("doc_id", "bin").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p1 === p2) // layout is a pure function of (lang, doc_id order, counts)
    val rows = Curation.packSequences(docs, binTokens = 512)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("cum"), r.getAs[Long]("bin")))
    rows.groupBy(_._1).foreach { case (_, stream) =>
      val sorted = stream.sortBy(_._2)
      // bins start at 0 and never skip
      val bins = sorted.map(_._5)
      assert(bins.head === 0L)
      bins.sliding(2).foreach { case Array(a, b) => assert(b - a <= 1 && b >= a)
                                case _ => () }
      // a doc's bin is exactly tokens-before / 512
      sorted.foreach { case (_, _, nt, cum, bin) => assert(bin === (cum - nt) / 512) }
    }
  }

  test("unigramLogProb: pinned score on a hand corpus; fixture scores are negative") {
    val s = spark
    import s.implicits._
    val hand = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.unigramLogProb(hand, hand).collect().head
    assert(got.getAs[Long]("n_tokens") === 4L)
    // the integer-micros convention: per-token lp rounds to micros, long
    // sum, then the 4-decimal rounding happens in INTEGER arithmetic
    // (TextAnalysis.microAvg4 — order-free AND tie-free)
    val sumMicros = 3 * math.round(math.log(3.0 / 4) * 1e6) +
      math.round(math.log(1.0 / 4) * 1e6)
    assert(got.getAs[Double]("avg_logprob") === SparkSpec.microAvg4(sumMicros, 4))
    val fixture = graft.ops.TextAnalysis.unigramLogProb(docs, docs)
    assert(fixture.filter(col("avg_logprob") >= 0).isEmpty) // p(w) < 1 everywhere
    assert(fixture.count() === docs.count())
  }

  test("prepare-corpus composition: split+pack conserves the curated corpus") {
    val prepared = Curation.packSequences(
      Curation.hashSplit(curated), binTokens = 512, streamCols = Seq("split", "lang"))
    // every curated doc lands in exactly one (split, lang, bin)
    assert(prepared.count() === curated.count())
    assert(prepared.select("doc_id").distinct().count() === curated.count())
    // token mass is conserved through the composition
    val massIn = curated.select(sum(size(split(col("text"), " ")).cast("long")))
      .collect().head.getLong(0)
    val massOut = prepared.select(sum("n_tokens")).collect().head.getLong(0)
    assert(massIn === massOut)
  }

  test("perplexityBuckets: balanced tiers, ordered by score, stable assignment") {
    val b = Curation.perplexityBuckets(docs, docs, buckets = 3).cache()
    try {
      val n = b.count()
      assert(n === docs.count())
      val sizes = b.groupBy("bucket").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(sizes.keySet === Set(1, 2, 3))
      // ntile balance: tier sizes differ by at most one
      assert(sizes.values.max - sizes.values.min <= 1)
      // tiers are ordered: the worst doc of tier k scores no lower than
      // the best doc of tier k+1 (equality allowed — doc_id splits ties)
      val stats = b.groupBy("bucket")
        .agg(min("avg_logprob").as("mn"), max("avg_logprob").as("mx"))
        .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1)
      stats.sliding(2).foreach {
        case Array((_, mn1, _), (_, _, mx2)) => assert(mn1 >= mx2)
        case _ => ()
      }
    } finally b.unpersist()
  }

  test("perplexityBuckets: zero-in-vocab docs land in the tail bucket, not dropped") {
    val s = spark
    import s.implicits._
    val corpus = Seq((100L, "aa bb cc dd")).toDF("doc_id", "text")
    val pool = Seq((1L, "aa bb"), (2L, "aa zz"), (3L, "qq zz"))
      .toDF("doc_id", "text")
    val b = Curation.perplexityBuckets(pool, corpus, buckets = 2)
      .orderBy("doc_id").collect()
    assert(b.length === 3)
    val byId = b.map(r =>
      r.getLong(0) -> ((r.getLong(1), r.isNullAt(2), r.getInt(3)))).toMap
    // doc 3 shares no token with the LM corpus: null score, 0 in-vocab
    // tokens, and the LAST bucket — out-of-distribution is tail by design
    assert(byId(3L) === ((0L, true, 2)))
    assert(byId(1L)._3 === 1 && byId(2L)._3 === 1)
  }

  test("dsirLogRatio: hand-computed smoothed log-ratios on a two-doc pool") {
    val s = spark
    import s.implicits._
    val pool = Seq((0L, "a a b", "en"), (1L, "b c", "fr"))
      .toDF("doc_id", "text", "lang")
    // pool: a:2 b:2 c:1, Tr=5, V=3; target(en): a:2 b:1 c:0, Tt=3
    val const = math.log(8.0 / 6.0)
    def llr(ct: Long, cr: Long) = math.log((ct + 1).toDouble / (cr + 1)) + const
    // mirror the operator's order-free integer-micros scoring AND its
    // integer-domain 4-decimal rounding (microAvg4 — not a double round)
    def micros(ct: Long, cr: Long) = math.round(llr(ct, cr) * 1e6)
    val exp0 = SparkSpec.microAvg4(micros(2, 2) + micros(2, 2) + micros(1, 2), 3)
    val exp1 = SparkSpec.microAvg4(micros(1, 2) + micros(0, 1), 2)
    val got = Curation.dsirLogRatio(pool, pool.filter($"lang" === "en"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((0L, 3L, exp0), (1L, 2L, exp1)))
  }

  test("dsirLogRatio: score is partitioning-invariant (order-free micros sum)") {
    val en = docs.filter(col("lang") === "en")
    val base = Curation.dsirLogRatio(docs, en)
      .orderBy("doc_id").collect().toSeq
    // re-run with the pool re-sharded both ways: a different partition
    // count and a hash re-shard change the double-summation order, which
    // flipped the 4th decimal before the integer-micros fix (round-6
    // driver flake on q110)
    Seq(docs.repartition(7), docs.repartition(3, col("doc_id"))).foreach { re =>
      val again = Curation.dsirLogRatio(re, en.repartition(5))
        .orderBy("doc_id").collect().toSeq
      assert(again === base)
    }
  }

  test("dsirLogRatio: target == pool scores exactly zero everywhere") {
    val z = Curation.dsirLogRatio(docs, docs)
    assert(z.filter(col("avg_logratio") =!= 0.0).isEmpty)
  }

  test("gumbelTopK: md5-derived key matches a hand recompute; dominant score wins") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, "alpha", 0.0), (1L, "beta", 0.0), (2L, "gamma", 100.0))
      .toDF("doc_id", "text", "score")
    def key(text: String, score: Double): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val b = java.lang.Long.parseLong(hex.substring(0, 6), 16)
      val u = (b + 0.5) / (1 << 24).toDouble
      score - math.log(-math.log(u))
    }
    val texts = Seq("alpha", "beta", "gamma")
    val got = Curation.gumbelTopK(df, col("score"), k = 3)
      .collect().map(r => (r.getLong(0), r.getAs[Double]("gumbel_key")))
    assert(got.length === 3)
    got.foreach { case (id, gk) =>
      val sc = if (id == 2L) 100.0 else 0.0
      assert(gk === key(texts(id.toInt), sc), s"key mismatch for doc $id")
    }
    // keys are sorted descending in the output and the dominant score leads
    assert(got.map(_._2).toSeq === got.map(_._2).sortBy(-_).toSeq)
    assert(got.head._1 === 2L)
    // deterministic: the same draw on rerun
    val again = Curation.gumbelTopK(df, col("score"), k = 2)
      .collect().map(_.getLong(0))
    assert(again.toSeq === got.map(_._1).take(2).toSeq)
  }

  test("gumbelTopK: equals a full reference sort on random scores") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0L until 60L).map(i =>
      (i, s"doc $i ${rnd.nextInt(1000)}", rnd.nextDouble() * 4 - 2))
    val df = rows.toDF("doc_id", "text", "score")
    def key(text: String, score: Double): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val b = java.lang.Long.parseLong(hex.substring(0, 6), 16)
      score - math.log(-math.log((b + 0.5) / (1 << 24).toDouble))
    }
    val expIds = rows.map { case (id, t, sc) => (id, key(t, sc)) }
      .sortBy { case (id, k2) => (-k2, id) }.take(10).map(_._1)
    val got = Curation.gumbelTopK(df, col("score"), k = 10)
      .collect().map(_.getLong(0))
    assert(got.toSeq === expIds)
  }

  test("topBigramShare: exact score on a known repetition; singleton doc dropped") {
    val s = spark
    import s.implicits._
    // "x y" appears 3 times among 6 bigrams -> 0.5
    val hand = Seq((1L, "x y z x y z x y"), (2L, "loner")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.topBigramShare(hand).collect()
    assert(got.length === 1) // the 1-token doc has no bigrams
    val r = got.head
    assert(r.getLong(0) === 1L && r.getLong(1) === 7L)
    // bigrams: x y, y z, z x, x y, y z, z x, x y -> top "x y" 3/7
    assert(r.getDouble(2) === math.round(3.0 / 7 * 10000) / 10000.0)
  }

  test("exportShards: shards in range, positions dense from 1 within each shard") {
    val sharded = Curation.exportShards(docs, col("doc_id"), numShards = 16)
    assert(sharded.filter(col("shard") < 0 || col("shard") >= 16).isEmpty)
    // positions per shard are exactly 1..count (dense ranks, no gaps/dupes)
    val byShard = sharded.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("shard_pos").as("mx"),
        countDistinct("shard_pos").as("d"))
    assert(byShard.filter(col("mx") =!= col("n") || col("d") =!= col("n")).isEmpty)
    assert(sharded.count() === docs.count())
  }

  test("exportShards: assignment AND order are stable under repartitioning") {
    val a = Curation.exportShards(docs, col("doc_id"), 8)
      .select("doc_id", "shard", "shard_pos")
    val b = Curation.exportShards(docs.repartition(13), col("doc_id"), 8)
      .select("doc_id", "shard", "shard_pos")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("exportShards: a document's shard never moves when the corpus changes") {
    // the resumability contract: membership is keyed on the document, not
    // on corpus composition — only within-shard positions may shift
    val full = Curation.exportShards(docs, col("doc_id"), 8)
      .select(col("doc_id"), col("shard"))
    val half = Curation.exportShards(docs.filter(col("doc_id") % 2 === 0),
      col("doc_id"), 8).select(col("doc_id"), col("shard").as("shard_half"))
    assert(full.join(half, "doc_id")
      .filter(col("shard") =!= col("shard_half")).isEmpty)
  }

  test("gopherRules: each rule fires alone, first-fail order is fixed") {
    import spark.implicits._
    def w(n: Int) = (1 to n).map(i => f"word$i%02d").mkString(" ") // 6-char words
    val docs = Seq(
      // 16 words incl. 2 stopwords, mean length in-range -> keep
      (1L, s"the table ${w(14)}"),
      (2L, "too short"), // word_count
      // 16 single-char words: mean length 1 -> word_length
      (3L, (1 to 16).map(_ => "a").mkString(" ")),
      // symbol spam: 3/18 tokens are '#' (0.166 > 0.1) -> symbol_ratio
      (4L, s"the table ${w(13)} # # #"),
      // numeric spam: 6/18 numeric (alpha 0.666 < 0.8) -> alpha_ratio
      (5L, s"the table ${w(10)} 1111 2222 3333 4444 5555 6666"),
      // no stopwords at all -> stopwords
      (6L, w(16)),
      // word_count outranks symbol_ratio when both fail
      (7L, "# # #")).toDF("doc_id", "text")
    val got = Curation.gopherRules(docs)
      .select(col("doc_id"), coalesce(col("first_fail"), lit("keep")).as("o"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "keep", 2L -> "word_count", 3L -> "word_length",
      4L -> "symbol_ratio", 5L -> "alpha_ratio", 6L -> "stopwords",
      7L -> "word_count"))
  }

  test("stratifiedSample: hard cap, determinism, evict-only growth") {
    import spark.implicits._
    val docs = (0 until 200).map(i => (i.toLong, s"src${i % 4}", s"doc text $i"))
      .toDF("doc_id", "source", "text")
    val kept = Curation.stratifiedSample(docs, "source", 10)
    val bySrc = kept.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc.values.forall(_ === 10L) && bySrc.size === 4)
    // determinism under repartitioning
    val kept2 = Curation.stratifiedSample(docs.repartition(7), "source", 10)
    assert(kept.select("doc_id").exceptAll(kept2.select("doc_id")).isEmpty)
    // bottom-k property: growing the corpus can evict but never admit —
    // every survivor of the grown corpus that existed before was a survivor
    val grown = docs.unionAll(
      (200 until 300).map(i => (i.toLong, s"src${i % 4}", s"doc text $i"))
        .toDF("doc_id", "source", "text"))
    val keptGrown = Curation.stratifiedSample(grown, "source", 10)
      .filter(col("doc_id") < 200).select("doc_id")
    assert(keptGrown.exceptAll(kept.select("doc_id")).isEmpty)
  }

  test("mixedScriptSignals: spoofed tokens counted, skeleton restores") {
    import spark.implicits._
    val docs = Seq(
      (1L, "plain latin text"),
      (2L, "tаble with cyrillic а"), // 'tаble' mixed; 'а' alone is not
      (3L, "чисто русский текст")) // pure Cyrillic: no mixed tokens
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.mixedScriptSignals(docs)
      .select("doc_id", "n_mixed", "skeleton")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(got(0) === ((1L, 0L, "plain latin text")))
    assert(got(1)._2 === 1L) // only 'tаble' mixes scripts
    assert(got(1)._3 === "table with cyrillic a") // confusables folded
    assert(got(2)._2 === 0L)
  }

  test("langIdTrigram: every planted sentence identifies as its language; " +
    "script gates fire; no-hit text is unknown") {
    import spark.implicits._
    // the q213 sentences, one per supported language (14 trigram-scored
    // latin + 9 script-gated), plus a profile-miss row
    val planted = Seq(
      "en" -> "the quick brown fox jumps over the lazy dog and runs to the hills of the north",
      "de" -> "der schnelle braune fuchs springt über den faulen hund und die schöne sonne scheint nicht",
      "es" -> "el rápido zorro marrón salta sobre el perro perezoso y los niños que juegan en la calle",
      "fr" -> "le renard brun rapide saute par dessus le chien paresseux et les enfants de la ville",
      "it" -> "la volpe marrone che salta sopra il cane pigro della città vecchia negli anni della gioventù",
      "pt" -> "a raposa marrom que salta sobre o cão preguiçoso e as crianças do povoado não são assim",
      "nl" -> "de snelle bruine vos springt over de luie hond en het kind van een der oude huizen",
      "sv" -> "den snabba bruna räven hoppar över den lata hunden och att det för alla var mycket bra",
      "da" -> "den hurtige brune ræv springer over den dovne hund og der er meget at se til den tid",
      "fi" -> "nopea ruskea kettu hyppää laiskan koiran yli ja on aivan kaunista että sataa tänään",
      "pl" -> "szybki brązowy lis przeskakuje nad leniwym psem i nie ma niczego nowego na polach",
      "cs" -> "rychlá hnědá liška skáče přes líného psa a je to na poli se psem pro všechny lidi",
      "tr" -> "hızlı kahverengi tilki tembel köpeğin üzerinden atlar ve bir daha buraya gelir",
      "ro" -> "vulpea maro rapida sare peste cainele lenes si copiii din sat merg pe drumul cel lung",
      "ru" -> "быстрая коричневая лиса прыгает через ленивую собаку",
      "el" -> "η γρηγορη καφε αλεπου πηδαει πανω απο το τεμπελικο σκυλι",
      "ar" -> "الثعلب البني السريع يقفز فوق الكلب الكسول",
      "he" -> "השועל החום המהיר קופץ מעל הכלב העצלן",
      "hi" -> "तेज भूरी लोमड़ी आलसी कुत्ते के ऊपर कूदती है",
      "th" -> "สุนัขจิ้งจอกสีน้ำตาลกระโดดข้ามสุนัขขี้เกียจ",
      "zh" -> "敏捷的棕色狐狸跳过了懒狗",
      "ja" -> "すばやい茶色のきつねはのろまな犬を飛び越えます",
      "ko" -> "빠른 갈색 여우가 게으른 개를 뛰어넘는다",
      // one stray Greek letter in English prose: the el script gate's
      // min-share rule must let the trigram argmax decide (en), where
      // the old any-single-char gate claimed el with score 1.0
      "en" -> "the constant π is used once but the quick brown fox still jumps over the lazy dog")
    val docs = planted.zipWithIndex.map { case ((_, t), i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .unionAll(Seq((99L, "zzz qqq vvv kkk www")).toDF("doc_id", "text"))
    val got = graft.ops.TextAnalysis.langIdTrigram(docs)
      .select("doc_id", "pred_lang", "score_micros", "n_trigrams")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    planted.zipWithIndex.foreach { case ((lang, sent), i) =>
      assert(got(i)._2 === lang, s"sentence $i ('$sent') misclassified as ${got(i)._2}")
      assert(got(i)._3 > 0L)
    }
    val miss = got.last
    assert(miss._1 === 99L && miss._2 === "unknown" && miss._3 === 0L)
    // n_trigrams: padded length minus 2, exact on a hand case
    val tiny = Seq((1L, "ab  cd")).toDF("doc_id", "text") // collapses to "ab cd"
    val n = graft.ops.TextAnalysis.langIdTrigram(tiny)
      .select("n_trigrams").as[Long].head()
    assert(n === 5L) // " ab cd " has 7 chars -> 5 trigrams
  }

  test("blocklistSignals: threshold boundary, multi-category, clean docs, " +
    "punctuation-tokenized hits") {
    import spark.implicits._
    val docs = Seq(
      (1L, "an evening of Casino, CASINO! and jackpot fun"), // gambling 3 ≥ 2
      (2L, "one poker night"),                               // 1 hit: counted, not flagged
      (3L, "casino poker viagra viagra story"),              // gambling 2 + pharma 2
      (4L, "perfectly clean prose about tables"),            // zero hits
      (5L, "keygen warez torrentz crackz")                   // piracy 4
    ).toDF("doc_id", "text")
    val got = graft.ops.Curation.blocklistSignals(docs,
        graft.ops.Curation.defaultBlocklist(spark), threshold = 2)
      .as[(Long, Long, String, Boolean)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, 3L, "gambling", true),
      (2L, 1L, "", false),
      (3L, 4L, "gambling,pharma", true),
      (4L, 0L, "", false),
      (5L, 4L, "piracy", true)))
  }

  test("encodingSignals: planted artifacts hit, clean unicode passes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "plain ascii text"),
      (2L, "caf\u00c3\u00a9 mojibake"),             // U+00C3 + latin-1 tail
      (3L, "it\u00e2\u20ac\u2122s broken"),         // cp1252 curly quote
      (4L, "x\ufffd y\u0007z"),                     // replacement + control
      (5L, "a\u00a0b nbsp only"),                   // nbsp: counted, not flagged
      (6L, "caf\u00e9 r\u00e9sum\u00e9 genuine"),   // real accents: clean
      (7L, "tab\tand\nnewline ok"))                // \t \n excluded from control
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.encodingSignals(docs)
      .select("doc_id", "n_mojibake", "n_replacement", "n_control",
        "n_nbsp", "enc_ok")
      .as[(Long, Long, Long, Long, Long, Int)].collect().sortBy(_._1)
    assert(got(0) === ((1L, 0L, 0L, 0L, 0L, 1)))
    assert(got(1) === ((2L, 1L, 0L, 0L, 0L, 0)))
    assert(got(2) === ((3L, 1L, 0L, 0L, 0L, 0)))
    assert(got(3) === ((4L, 0L, 1L, 1L, 0L, 0)))
    assert(got(4) === ((5L, 0L, 0L, 0L, 1L, 1)))
    assert(got(5) === ((6L, 0L, 0L, 0L, 0L, 1)))
    assert(got(6) === ((7L, 0L, 0L, 0L, 0L, 1)))
  }

  test("dupLineSignals: exact fractions on a hand-counted doc") {
    import spark.implicits._
    // doc 1: 4 lines, "dup" twice (3+3 chars of 3+3+5+4=15): dup_line 1/4,
    // dup_char 3/15; doc 2: no repeats
    val docs = Seq((1L, "dup\ndup\nalone\nsolo"), (2L, "a\nb\nc"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.dupLineSignals(docs)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 4L, 250000L, 200000L), (2L, 3L, 0L, 0L)))
  }

  test("topNgramCharFraction: argmax, tie-break, and char math are exact") {
    import spark.implicits._
    // "x y x y x" (9 chars): bigram "x y" ×2, "y x" ×2 → tie broken to
    // "x y" (lexicographically smaller); 2*3*1e6/9 = 666666
    val docs = Seq((1L, "x y x y x"), (2L, "one")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis
      .topNgramCharFraction(docs, n = 2)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(got === Seq((1L, "x y", 2L, 666666L)))   // doc 2: < n words, absent
  }

  test("dupNgramCoverage: union of overlapping duplicate grams, not " +
    "count*len double counting") {
    import spark.implicits._
    // "a b a b a b" (n=2): "a b" ×3 and "b a" ×2 are both duplicated and
    // their occurrences overlap — EVERY token is covered exactly once, so
    // coverage = 6/6 chars = 1000000 (count×len would give 10/6 > 1)
    val docs = Seq((1L, "a b a b a b"), (2L, "p q r s t u"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.dupNgramCoverage(docs, n = 2)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1000000L), (2L, 0L)))
  }

  test("slidingChunks: start grid, overlap, tail, and <=size single chunk") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h"), (2L, "x y")).toDF("doc_id", "text")
    val got = Curation.slidingChunks(docs, chunkTokens = 3, stride = 2)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 0L, 3L, "a b c"), (1L, 1L, 3L, "c d e"),
      (1L, 2L, 3L, "e f g"), (1L, 3L, 2L, "g h"),
      (2L, 0L, 2L, "x y")))
    intercept[IllegalArgumentException] {
      Curation.slidingChunks(docs, chunkTokens = 3, stride = 4)
    }
  }

  test("zipfFit: exact -1 slope on a 12/r power law; repartition-invariant") {
    import spark.implicits._
    // freq = 12/rank exactly: a*12 b*6 c*4 d*3 -> slope -1, intercept ln 12
    val text = (Seq.fill(12)("a") ++ Seq.fill(6)("b") ++ Seq.fill(4)("c") ++
      Seq.fill(3)("d")).mkString(" ")
    val docs = Seq(text).toDF("text")
    val got = graft.ops.TextAnalysis.zipfFit(docs, topN = 10).collect().head
    assert(got.getLong(0) === 4L)
    assert(math.abs(got.getDouble(1) + 1.0) < 1e-3, got.getDouble(1))
    assert(math.abs(got.getDouble(2) - math.log(12)) < 1e-3, got.getDouble(2))
    val again = graft.ops.TextAnalysis.zipfFit(docs.repartition(7), topN = 10)
      .collect().head
    assert(again === got)
  }

  test("lexicalDiversity: hand-counted TTR and hapax share") {
    import spark.implicits._
    val docs = Seq((1L, "a a b c"), (2L, "x x x x")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.lexicalDiversity(docs)
      .orderBy("doc_id").as[(Long, Long, Long, Long, Long)].collect().toSeq
    // doc 1: 4 tokens, 3 types, ttr 3/4, hapax 2/3; doc 2: 1 type, 0 hapax
    assert(got === Seq((1L, 4L, 3L, 750000L, 666666L),
      (2L, 4L, 1L, 250000L, 0L)))
  }

  test("luhnValid: known vectors; validCards filters; redactCards folds") {
    import spark.implicits._
    val got = Seq("4111111111111111", "4111111111111112",
      "4532015112830366", "79927398713")
      .toDF("s").select(Curation.luhnValid(col("s")).as("v"))
      .as[Boolean].collect().toSeq
    // standard test PANs valid; flipped check digit invalid; 11-digit
    // Luhn-correct string fails the length gate
    assert(got === Seq(true, false, true, false))

    val text = "pay 4111 1111 1111 1111 or 4111-1111-1111-1112 " +
      "ref 12345678901234 end"
    val row = Seq(text).toDF("t").select(
      size(Curation.validCards(col("t"))).as("nv"),
      Curation.redactCards(col("t")).as("red"))
      .head()
    assert(row.getInt(0) === 1)
    assert(row.getString(1) ===
      "pay <CARD> or 4111-1111-1111-1112 ref 12345678901234 end")
  }

  test("gopherRules metrics are exact integral micros") {
    import spark.implicits._
    // 4 words, chars-without-separators = 3+1+5+5 = 14 -> 3.5e6 micros
    val row = Curation.gopherRules(
        Seq((1L, "the a value table")).toDF("doc_id", "text"), minWords = 1)
      .select("n_words", "mean_wlen_micros", "alpha_micros", "stop_hits")
      .head()
    assert(row.getLong(0) === 4L)
    assert(row.getLong(1) === 3500000L)
    assert(row.getLong(2) === 1000000L)
    assert(row.getInt(3) === 4)
  }
  test("heapsFit: exact slope on V = N^0.5 groups; repartition-invariant") {
    import spark.implicits._
    // group g1: 4 tokens, 2 types; g2: 16 tokens, 4 types; g3: 64/8 ->
    // ln V = 0.5 ln N exactly, so slope 0.5, intercept 0
    def mk(n: Int, v: Int): String =
      (0 until n).map(i => s"t${i % v}").mkString(" ")
    val docs = Seq(("g1", mk(4, 2)), ("g2", mk(16, 4)), ("g3", mk(64, 8)))
      .toDF("source", "text")
    val got = graft.ops.TextAnalysis.heapsFit(docs).collect().head
    assert(got.getLong(0) === 3L)
    assert(math.abs(got.getDouble(1) - 0.5) < 1e-3, got.getDouble(1))
    assert(math.abs(got.getDouble(2)) < 1e-3, got.getDouble(2))
    val again = graft.ops.TextAnalysis.heapsFit(docs.repartition(5))
      .collect().head
    assert(again === got)
  }

  test("lengthDriftBySource: hand-computed binned KS in micros") {
    import spark.implicits._
    // a: both docs in bin 0; b: both in bin 15; corpus CDF is 0.5 until
    // bin 15 -> KS = 0.5 for both sources
    val docs = Seq(("a", Some(10L)), ("a", Some(20L)), ("b", Some(1000L)),
      ("b", Some(1001L)), ("a", None)) // null length: excluded, not top-bin
      .toDF("source", "n_chars")
    val got = graft.ops.TextAnalysis.lengthDriftBySource(docs)
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("a", 2L, 500000L), ("b", 2L, 500000L)))
  }

  test("dupRateBySource: copy counts span sources; floor micros") {
    import spark.implicits._
    // x appears 3x corpus-wide: both a-docs holding x count as dups, and
    // b's single x does too; y and z are unique
    val docs = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("b", "x"),
      ("b", "z")).toDF("source", "text")
    val got = graft.ops.Dedup.dupRateBySource(docs)
      .orderBy("source").as[(String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("a", 3L, 2L, 666666L), ("b", 2L, 1L, 500000L)))
  }

  test("mixturePlan: normalization, exact epoch ceilings, floor-micros " +
    "rates, all four modes") {
    import spark.implicits._
    val counts = Seq(("web", 1000L), ("code", 100L), ("wiki", 250L))
      .toDF("source", "n_tokens")
    // weights sum to 2.0 -> normalized 0.25/0.5/0.125/0.125 of 2000
    val got = Curation.mixturePlan(counts,
        Map("web" -> 0.5, "code" -> 1.0, "wiki" -> 0.25, "books" -> 0.25),
        budgetTokens = 2000L)
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      // absent from counts: plan error surfaced, not dropped
      ("books", 0L, 250L, 0L, 0L, "empty"),
      // target 1000 from 100 available: 10 full epochs, rate 10x
      ("code", 100L, 1000L, 10000000L, 10L, "upsample"),
      // target 500 from 1000: half-rate downsample, one epoch
      ("web", 1000L, 500L, 500000L, 1L, "downsample"),
      // target 250 == available
      ("wiki", 250L, 250L, 1000000L, 1L, "exact")))
    // non-integral ceiling: 3 tokens toward a 2000*0.5=1000 target
    // -> ceil(1000/3) = 334 epochs, never the floor-divided 333
    val tiny = Curation.mixturePlan(Seq(("a", 3L)).toDF("source", "n_tokens"),
      Map("a" -> 0.5, "b" -> 0.5), budgetTokens = 2000L)
    assert(tiny.filter(col("source") === "a")
      .select("epochs").as[Long].head() === 334L)
  }

  test("allocateBudget: sums to the budget exactly, largest remainders " +
    "win, ascending-key ties, no overflow at ledger scale") {
    import spark.implicits._
    // weights 3/3/4 over budget 7: bases 2/2/2 (floor 21/10, 28/10),
    // shortfall 1; remainders 1/1/8 -> c wins the extra unit
    val got = Curation.allocateBudget(
        Seq(("a", 3L), ("b", 3L), ("c", 4L)).toDF("k", "w"), "k", "w", 7L)
      .select("k", "alloc").as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 2L, "b" -> 2L, "c" -> 3L))
    // remainder tie (weights equal): ascending key takes the unit
    val tie = Curation.allocateBudget(
        Seq(("x", 1L), ("y", 1L)).toDF("k", "w"), "k", "w", 3L)
      .select("k", "alloc").as[(String, Long)].collect().toMap
    assert(tie === Map("x" -> 2L, "y" -> 1L))
    // budget x weight far beyond Long range: decimal products stay
    // exact and the total still lands on the budget to the unit
    val big = Curation.allocateBudget(
        Seq(("p", 3000000000000000000L), ("q", 2999999999999999999L),
          ("r", 17L)).toDF("k", "w"), "k", "w", 4000000000000000037L)
    assert(big.agg(sum("alloc")).as[Long].head() === 4000000000000000037L)
    // a NULL weight must raise like a non-positive one, not silently
    // break the exact-total invariant
    val withNull = Seq(("a", Some(10L)), ("b", None)).toDF("k", "w")
    val e = intercept[Exception] {
      Curation.allocateBudget(withNull, "k", "w", 100L).collect()
    }
    assert(e.getMessage.contains("allocateBudget") ||
      Option(e.getCause).exists(_.getMessage.contains("allocateBudget")))
  }

  test("sentences: terminator-run boundaries, glued runs stay in-token, " +
    "trailing tail, empties dropped") {
    import graft.ops.TextAnalysis
    val s = spark
    import s.implicits._
    val got = Seq(
      // decimal and glued abbreviation never split; ?? run splits;
      // ellipsis followed by space ends its sentence
      ("Pi is 3.14 ok. See e.g.x now?? Wait... tail", 1),
      ("No terminator at all", 2),
      ("", 3),
      ("!! ?? ..", 4), // terminator-only runs: every span trims empty?
      ("One. Two! Three?", 5))
      .toDF("text", "id")
      .select(col("id"), TextAnalysis.sentences(col("text")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1).toList).toMap
    assert(got(1) === List("Pi is 3.14 ok.", "See e.g.x now??", "Wait...",
      "tail"))
    assert(got(2) === List("No terminator at all"))
    assert(got(3) === Nil)
    assert(got(5) === List("One.", "Two!", "Three?"))

    val chunks = TextAnalysis.sentenceChunks(
        Seq((1L, "a b c. d e f g. h i. j k l m n o p q r s t u v w x y z.")
        ).toDF("doc_id", "text"), maxTokens = 6)
      .select("chunk_idx", "n_sentences", "n_tokens", "text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toList
    // sentences are 3/4/2/17 tokens; cumulative-before 0/3/7/9 with
    // budget 6 -> chunks 0,0,1,1: never a mid-sentence cut, the giant
    // final sentence overflows its chunk rather than splitting
    assert(chunks === List(
      (0L, 2L, 7L, "a b c. d e f g."),
      (1L, 2L, 19L, "h i. j k l m n o p q r s t u v w x y z.")))

    // whitespace-token semantics: runs of spaces / tabs inside a
    // sentence are ONE separator (\s+ split, not " "), so n_tokens and
    // the chunk budget hold on non-normalized text
    val nt = TextAnalysis.sentenceChunks(
        Seq((1L, "a  b\tc. d e.")).toDF("doc_id", "text"), maxTokens = 100)
      .select("n_tokens").as[Long].collect().toList
    assert(nt === List(5L))
  }

  test("bitextAlign: exact-micros midpoint nearest-match, length-ratio " +
    "gate drops fragments, equal-delta ties to the lower dst index, " +
    "single-lang clusters emit nothing") {
    import graft.ops.TextAnalysis
    val s = spark
    import s.implicits._
    val docs = Seq(
      // en: lens 8/15/12 (total 35); de: 8/18/2 (total 28) — the 2-char
      // fragment's best candidate fails the ≥0.5 ratio gate
      ("c1", "en", "Aa 7 bb. Cc dd ee ff gg. Hh ii jj kk."),
      ("c1", "de", "Xx 7 yy. Zz ww vv uu tt ss. U."),
      // src has ONE sentence at mid 500000; both dst sentences are
      // equidistant (250000) → the tie falls to dst_idx 0
      ("c2", "aa", "Mid pt x."),
      ("c2", "bb", "Eq one x. Eq two y."),
      ("c3", "zz", "Lonely sentence here."))
      .toDF("cluster_key", "lang", "text")
    val got = TextAnalysis.bitextAlign(docs)
      .select("cluster_key", "src_lang", "dst_lang", "src_idx", "dst_idx",
        "mid_delta_micros", "len_ratio_micros")
      .as[(String, String, String, Long, Long, Long, Long)]
      .collect().toSet
    assert(got === Set(
      ("c1", "de", "en", 0L, 0L, 28572L, 1000000L),
      ("c1", "de", "en", 1L, 1L, 164285L, 833333L),
      ("c2", "aa", "bb", 0L, 0L, 250000L, 1000000L)))
    // a permissive gate admits the fragment pair the default dropped
    val loose = TextAnalysis.bitextAlign(docs, minLenRatioMicros = 100000L)
      .filter(col("cluster_key") === "c1").count()
    assert(loose === 3L)
  }
}
