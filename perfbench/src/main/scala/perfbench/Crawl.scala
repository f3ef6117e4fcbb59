package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Curation, Warc, WebText}
import graft.runtime._

/** Seeded crawl-page generator. Each batch holds `pagesPerBatch` HTML
  * pages with nav chrome and outlinks to seeded hosts. From the second
  * batch on, about 10% are canonical variants (`?page=2`, `/amp/`) of
  * earlier admitted articles and about 10% near-duplicate copies of them
  * (one word added); about 5% are low-quality spam. The generator counts
  * what each gate of the chain must do with the pages it produced. */
final class CrawlGen(seed: Long, idBase: Long, pagesPerBatch: Int) {
  private val r = new Random(seed)
  private val vocab = CrawlGen.vocabulary(seed, 3000)
  private val admitted = mutable.ArrayBuffer[(Long, String)]() // (id, article text)
  var pages, spam, variants, copies = 0L

  private def url(id: Long) = s"http://site${id % CrawlGen.Hosts}.test/art/$id"
  private def words(n: Int) = Seq.fill(n)(vocab(r.nextInt(vocab.length))).mkString(" ")

  private def html(canonical: String, body: String): String = {
    val links = Seq.fill(3) {
      s"""<a href="${url(idBase + r.nextInt(50 * pagesPerBatch))}">ref</a>"""
    }.mkString(" ")
    val title = body.split(" ").take(3).mkString(" ")
    s"""<html><head><title>$title</title><link rel="canonical" href="$canonical"></head>""" +
      """<body><div class="nav"><a href="/">Home</a> <a href="/about">About</a> """ +
      s"""<a href="/news">News</a></div><h1>$title</h1><p>$body</p><p>$links</p>""" +
      """<div class="footer">Contact Privacy</div></body></html>"""
  }

  /** The pages of batch `k` as (doc_id, url, html); call with k = 0, 1, ... */
  def next(k: Int): Seq[(Long, String, String)] = {
    val earlier = admitted.toIndexedSeq
    val out = (0 until pagesPerBatch).map { i =>
      val id = idBase + k.toLong * pagesPerBatch + i
      val roll = r.nextDouble()
      if (earlier.nonEmpty && roll < 0.10) {
        val (orig, text) = earlier(r.nextInt(earlier.size))
        val u = if (r.nextBoolean()) s"${url(orig)}?page=2"
          else s"http://site${orig % CrawlGen.Hosts}.test/amp/$orig"
        variants += 1
        (id, u, html(url(orig), text))
      } else if (earlier.nonEmpty && roll < 0.20) {
        val (_, text) = earlier(r.nextInt(earlier.size))
        copies += 1
        (id, url(id), html(url(id), s"$text ${vocab(r.nextInt(vocab.length))}"))
      } else if (roll >= 0.20 && roll < 0.25) {
        spam += 1
        (id, url(id), html(url(id), Seq.fill(40)("buy now").mkString(" ")))
      } else {
        val text = words(60 + r.nextInt(50))
        admitted += ((id, text))
        (id, url(id), html(url(id), text))
      }
    }
    pages += out.size
    out
  }

  /** Rows each stream must hold after the batches generated so far. */
  def expectedRows: Map[String, Long] = {
    val survivors = pages - spam - variants
    Map("docs" -> pages, "pages" -> (pages - spam), "survivors" -> survivors,
      "targets" -> survivors, "nd_in" -> survivors, "corpus" -> (survivors - copies),
      "pairs" -> copies, "cdx" -> pages)
  }
}

object CrawlGen {
  val Hosts = 40

  /** `n` distinct pronounceable words, 2 to 4 syllables each. */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val r = new Random(seed ^ 0x5DEECE66DL)
    val cons = "bcdfghklmnprstvz"; val vow = "aeiou"
    val set = mutable.LinkedHashSet[String]()
    while (set.size < n)
      set += (0 until 2 + r.nextInt(3)).map(_ =>
        s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}").mkString
    set.toArray
  }
}

/** Quality gate adapter: valid WARC documents → the fixture quality gates
  * over the page's visible text → `(url, html)` for the canonical gate. */
final class QualityGateLink(in: String, out: String) extends Link {
  val inputs: Seq[String] = Seq(in)
  val output: Option[String] = Some(out)
  override def transform(df: DataFrame): DataFrame = {
    val pages = df.filter(col("valid"))
      .select(col("target_uri").as("url"), col("text").as("html"))
      .withColumn("text", WebText.visibleText(col("html")))
    Curation.qualityGates(pages).filter(col("passes")).select("url", "html")
  }
}

/** Canonical survivors → `(doc_id, text)` for the near-dup gate; the
  * doc id is the article number in the URL. */
final class DocTextLink(in: String, out: String) extends Link {
  val inputs: Seq[String] = Seq(in)
  val output: Option[String] = Some(out)
  override def transform(df: DataFrame): DataFrame =
    df.select(regexp_extract(col("url"), "/art/([0-9]+)$", 1).cast("long").as("doc_id"),
      WebText.visibleText(col("html")).as("text"))
}

/** `crawl_stream`: one client feeds ~100-page WARC chunk batches through
  * `StreamRegistry.write` and drains each with `Pipeline.runOnce` over a
  * seven-link chain: WARC ingest → quality gate → canonical gate → doc
  * text → near-dup gate, plus the frontier off the canonical survivors and
  * the CDX index off the raw chunks. */
final class CrawlWorkload(ctx: Ctx) extends Workload {
  import ctx._

  private val PagesPerBatch = 100
  private val WarmBatches = 1
  private val Streams = Seq("docs", "pages", "survivors", "targets", "nd_in", "corpus",
    "pairs", "cdx")

  private def pipeline = new Pipeline(Seq(
    new WarcHttpIngestLink("chunks", "docs"),
    new QualityGateLink("docs", "pages"),
    new CanonicalGateLink("pages", "survivors", "targets"),
    new DocTextLink("survivors", "nd_in"),
    new NearDupGateLink("nd_in", "corpus", "pairs", minJaccard = 0.8),
    new FrontierLink("survivors", "crawled", "links", "frontier", topKPerDomain = 3,
      numBuckets = 1),
    new CdxIndexLink("chunks", "cdx")))

  private var reg: StreamRegistry = _
  private var regRoot: Path = _
  private var gen: CrawlGen = _
  private var chain: Pipeline = _

  /** Fresh registry, generator and chain; a warm-up registry uses an id
    * range and page stream of its own. */
  private def open(label: String, genSeed: Long, idBase: Long): Unit = {
    regRoot = work.resolve(s"registry-$label")
    Files.createDirectories(regRoot)
    reg = new StreamRegistry(spark, regRoot.toString)
    gen = new CrawlGen(genSeed, idBase, PagesPerBatch)
    chain = pipeline
  }

  /** Half the pages as plain chunks, half as `.warc.gz` member chunks. */
  private def chunks(pages: Seq[(Long, String, String)]): DataFrame = {
    val s = spark; import s.implicits._
    val df = pages.toDF("doc_id", "url", "text")
    // chunk ids derive from doc_id / 8; the gzip half gets an id range of
    // its own so the two kinds never share a chunk id
    Warc.syntheticWarcChunks(df.filter(col("doc_id") % 2 === 0), uri = col("url"))
      .unionByName(Warc.syntheticWarcGzipChunks(spark, df.filter(col("doc_id") % 2 === 1)
        .withColumn("doc_id", col("doc_id") + (1L << 40)), uri = col("url")))
  }

  /** A fresh registry with the chunk stream declared. */
  def stage(rep: Int): Unit = {
    open(s"stage$rep", seed, 0L)
    reg.declare("chunks", chunks(gen.next(0)).schema)
  }

  private def counts(): Map[String, Long] = Streams.map(s => s -> reg.read(s).count()).toMap

  private def checkExpected(tag: String): Seq[String] = {
    val got = counts()
    gen.expectedRows.toSeq.flatMap { case (s, n) =>
      if (got(s) == n) None else Some(s"crawl_stream/$tag/$s: rows ${got(s)}, expected $n")
    }
  }

  /** Two batches on a throwaway registry (untimed), then their outputs
    * are checked against the generator's counts and the committed digests. */
  def warm(): (Int, Seq[String]) = {
    open("warm", seed + 1, 1000000000L)
    (0 until WarmBatches).foreach { k =>
      reg.write(chunks(gen.next(k)), "chunks"); chain.runOnce(spark, reg)
      Main.log(s"warm batch $k drained")
    }
    val digests = Streams.map(s => s -> Checks.digest(reg.read(s)))
    if (record) Checks.record(java.nio.file.Paths.get("perfbench", "expected.tsv"),
      "crawl_stream", digests.map { case (s, d) => s"seed$seed.$s" -> d })
    val committed = if (record || !expected.contains(s"crawl_stream/seed$seed.docs")) Nil
      else digests.flatMap { case (s, d) => Checks.mismatch(expected, "crawl_stream", s"seed$seed.$s", d) }
    val problems = checkExpected("warm") ++ committed
    open("timed", seed, 0L)
    (WarmBatches, problems)
  }

  private var batch = 0

  def pass(p: Int, traced: Boolean): PassResult = {
    val pages = gen.next(batch)
    batch += 1
    val trace = s"b$p"
    val df = chunks(pages)
    val t0 = Clock.nowUs
    sc.setJobGroup(trace, "write", false)
    reg.write(df, "chunks")
    val t1 = Clock.nowUs
    val before = streamLog.count
    val ok = try { chain.runOnce(spark, reg); true }
      catch { case e: Exception => System.err.println(s"[perfbench] batch $p failed: $e"); false }
    val t2 = Clock.nowUs
    sc.clearJobGroup()
    val layers = new LayerSums
    if (traced) attribute(trace, before, t0, t1, t2, layers)
    PassResult(if (ok) Seq("batch" -> (t2 - t1) / 1e6) else Nil, (t2 - t0) / 1e6,
      if (ok) pages.size.toLong else 0L, 1, if (ok) 0 else 1, layers.toMap)
  }

  /** Rebuild the batch's spans from the streaming and scheduler events and
    * attribute them to the links in `runOnce` start order. */
  private def attribute(trace: String, before: Int, t0: Long, t1: Long, t2: Long,
                        layers: LayerSums): Unit = {
    val runs = streamLog.await(before, Layers.Links.size)
    sparkLog.awaitQuiet(sc)
    val root = Span(trace, tracer.newId(), 0L, "batch", t0, t2)
    val drain = Span(trace, tracer.newId(), root.id, "pipeline.runOnce", t1, t2)
    tracer.add(root); tracer.add(drain)
    tracer.add(Span(trace, tracer.newId(), root.id, "registry.write", t0, t1))
    layers.add("registry.write_s", (t1 - t0) / 1e6)
    var prevEndUs = t1
    var triggerMs = 0L
    runs.zip(Layers.Links).foreach { case (run, link) =>
      val progress = run.progress.asScala.toSeq
      val startUs = run.startMs * 1000
      val endUs = (progress.map { case (ts, d, _) => (ts + d.getOrElse("triggerExecution", 0L)) * 1000 } :+ startUs).max
      layers.add("runtime.link_start_s", math.max(0L, startUs - prevEndUs) / 1e6)
      prevEndUs = endUs
      val linkSpan = Span(trace, tracer.newId(), drain.id, s"link.$link", startUs, endUs)
      tracer.add(linkSpan)
      val jobs = sparkLog.jobsOf(Set(run.runId.toString))
      progress.foreach { case (ts, d, _) =>
        Layers.Phases.foreach { case (k, n) => layers.add(s"runtime.$n", d.getOrElse(k, 0L).toDouble) }
        val trig = d.getOrElse("triggerExecution", 0L)
        triggerMs += trig
        layers.add(s"runtime.$link.trigger_ms", trig)
        val t = Span(trace, tracer.newId(), linkSpan.id, "stream.trigger", ts * 1000, (ts + trig) * 1000)
        tracer.add(t)
        jobs.filter(j => j.startMs >= ts && j.startMs <= ts + trig).foreach { j =>
          tracer.add(Span(trace, tracer.newId(), t.id, "spark.job", j.startMs * 1000,
            math.max(j.startMs, j.endMs) * 1000))
        }
      }
    }
    layers.add("runtime.idle_ms", math.max(0.0, (t2 - t1) / 1e3 - triggerMs))
    val jobs = sparkLog.jobsOf(runs.map(_.runId.toString).toSet + trace)
    Layers.addJobs(layers, sparkLog, jobs, root)
    layers.add("runtime.jobs_per_batch", jobs.size)
    layers.add("runtime.tasks_per_batch", sparkLog.totals(jobs).tasks)
    layers.add("cache.leaked_entries", sc.getPersistentRDDs.size)
  }

  /** A replay with no new chunks must append nothing, and every stream
    * must hold what the generator predicts. */
  def verify(): (Int, Seq[String]) = {
    val before = counts()
    val replay = try { chain.runOnce(spark, reg); Nil }
      catch { case e: Exception => Seq(s"crawl_stream/replay threw $e") }
    val after = counts()
    val appended = Streams.filter(s => after(s) != before(s))
      .map(s => s"crawl_stream/replay appended to $s: ${before(s)} -> ${after(s)}")
    (1, replay ++ appended ++ checkExpected("timed"))
  }

  override def endLayers(): Map[String, Double] = {
    val files = Files.walk(regRoot)
    val (n, bytes) = try {
      val fs = files.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.size, fs.map(Files.size).sum)
    } finally files.close()
    val c = counts()
    Map("registry.files" -> n.toDouble, "registry.mb" -> bytes / 1048576.0,
      "ops.corpus_rows" -> c("corpus").toDouble, "ops.neardup_pairs" -> c("pairs").toDouble,
      "ops.admit_ratio" -> c("corpus").toDouble / math.max(1L, c("docs")))
  }
}
