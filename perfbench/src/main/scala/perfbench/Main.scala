package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one pass of a workload measured. A batch workload's pass runs its
  * query list once; a crawl pass feeds and drains one micro-batch. */
final case class PassResult(ops: Seq[(String, Double)], passS: Double, records: Long,
                            attempted: Int, failed: Int,
                            layers: Map[String, Double] = Map.empty)

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path, val data: Path,
                val tracer: Tracer, val sparkLog: SparkLog,
                val streamLog: StreamLog, val expected: Map[String, (Long, Option[String])],
                val record: Boolean) {
  def sc = spark.sparkContext
}

trait Workload {
  /** Untimed input synthesis, before set-up is timed. */
  def prepare(): Unit = ()
  /** Open the inputs as the program would; timed as set-up, three times. */
  def stage(rep: Int): Unit
  /** Untimed warm-up that also checks outputs; returns (attempted, problems). */
  def warm(): (Int, Seq[String])
  def pass(p: Int, traced: Boolean): PassResult
  /** Checks after the timed phase; returns (attempted, problems). */
  def verify(): (Int, Seq[String])
  /** Per-layer values known only at the end of a traced run. */
  def endLayers(): Map[String, Double] = Map.empty
  /** Extra lines for the traced run's report. */
  def report(): Seq[String] = Nil
}

object Main {
  private val started = System.nanoTime()

  /** Progress note on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive rule). */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** One pass's time: the sum over operations of each operation's median
    * across passes, which a single slow run of one query does not move. A
    * crawl pass has one operation, so this is the median batch cycle. */
  def passTime(passes: collection.Seq[PassResult]): Double =
    if (passes.forall(_.ops.size <= 1)) median(passes.map(_.passS))
    else passes.flatMap(_.ops).groupBy(_._1).values.map(xs => median(xs.map(_._2))).sum

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val record = args.contains("--record")
    val results = Paths.get(arg(args, "--results").getOrElse(".bench_build/perfbench/results"))
    val work = Paths.get(arg(args, "--work").getOrElse(".bench_build/perfbench/work"))
      .resolve(s"$workload-$seed-${ProcessHandle.current().pid()}").toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work)

    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val sparkLog = new SparkLog
    spark.sparkContext.addSparkListener(sparkLog)
    val streamLog = new StreamLog
    if (traced) spark.streams.addListener(streamLog)
    val expectedPath = Paths.get("perfbench", "expected.tsv")
    val data = Paths.get(arg(args, "--data").getOrElse(".bench_build/perfbench/data")).toAbsolutePath
    val ctx = new Ctx(spark, seed, work, data, new Tracer, sparkLog, streamLog,
      Checks.load(expectedPath), record)
    val wl: Workload = workload match {
      case "curate_batch" => new BatchWorkload(ctx, "curate_batch", BatchWorkload.Curate)
      case "relational_batch" => new BatchWorkload(ctx, "relational_batch", BatchWorkload.Relational)
      case "crawl_stream" => new CrawlWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    wl.prepare()
    log("inputs prepared")
    // set-up: the one-off session build plus the median of three openings
    // of the inputs
    val stageS = (0 until 3).map { rep =>
      val s = System.nanoTime(); wl.stage(rep); (System.nanoTime() - s) / 1e9
    }
    val setupS = sessionS + median(stageS)
    log(f"session $sessionS%.2f s, staging ${stageS.map(x => f"$x%.2f").mkString(" ")} s")

    val (warmAttempted, warmProblems) = wl.warm()
    if (!traced) spark.sparkContext.removeSparkListener(sparkLog)
    log(s"warm-up done, ${warmProblems.size} problems")

    // timed phase: closed loop, one client; a traced run alternates
    // untraced and traced passes so the tracing overhead is measured too
    val passes = mutable.ArrayBuffer[(PassResult, Boolean)]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    var heapMb = 0.0
    while (passes.size < 2 || System.nanoTime() < deadline) {
      val tracedPass = traced && p % 2 == 1
      passes += ((wl.pass(p, tracedPass), tracedPass))
      log(f"pass $p${if (tracedPass) " (traced)" else ""}: ${passes.last._1.passS}%.3f s")
      p += 1
      // live heap after a fixed amount of work (two passes), so that it
      // does not depend on how many passes fit in the timed phase
      if (passes.size == 2) heapMb = (1 to 3).map { _ =>
        System.gc(); Thread.sleep(100)
        val rt = Runtime.getRuntime
        (rt.totalMemory() - rt.freeMemory()) / 1048576.0
      }.min
    }

    val (verifyAttempted, verifyProblems) = wl.verify()
    val problems = warmProblems ++ verifyProblems
    val attempted = warmAttempted + verifyAttempted + passes.map(_._1.attempted).sum
    val failed = problems.size + passes.map(_._1.failed).sum

    val untracedPasses = passes.filter(!_._2).map(_._1)
    val ops = untracedPasses.flatMap(_.ops.map(_._2))
    val opTime = ops.sum
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", passTime(untracedPasses), "s"),
      ("op_latency_s.p50", quantile(ops, 0.5), "s"),
      ("op_latency_s.p75", quantile(ops, 0.75), "s"),
      ("records_per_s", if (opTime > 0) untracedPasses.map(_.records).sum / opTime else 0.0, "1/s"),
      ("heap_live_mb", heapMb, "MB"))
    val passTimes = passes.map { case (r, t) => s"[${Json.num(r.passS)},$t]" }.mkString("[", ",", "]")

    val perLayer: Seq[(String, Double, String)] = if (!traced) Nil else {
      val tracedPasses = passes.filter(_._2).map(_._1)
      val tracedPassS = passTime(tracedPasses)
      val untracedPassS = passTime(untracedPasses)
      val layerVals = Layers.names.map { case (n, _) =>
        n -> median(tracedPasses.map(_.layers.getOrElse(n, 0.0)))
      }.toMap ++ wl.endLayers() ++ Kernels.run(spark, seed) ++ Map(
        "setup.session_s" -> sessionS,
        "trace.overhead_pct" -> (if (untracedPassS > 0) 100 * (tracedPassS - untracedPassS) / untracedPassS else 0.0),
        "trace.spans" -> ctx.tracer.spans.size.toDouble)
      Layers.names.map { case (n, unit) => (n, layerVals.getOrElse(n, 0.0), unit) }
    }

    val opMedians = untracedPasses.flatMap(_.ops).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (n, xs) => s"${Json.str(n)}:${Json.num(median(xs.map(_._2)))}" }.mkString("{", ",", "}")
    val tag = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    if (traced) {
      ctx.tracer.writeJsonl(results.resolve(s"spans-$tag.jsonl"))
      println("self time by span (top 15): name count total_s self_s")
      ctx.tracer.selfTimes.take(15).foreach { case (n, c, tot, self) =>
        println(f"  $n%-34s $c%6d $tot%9.3f $self%9.3f")
      }
      wl.report().foreach(println)
    }
    problems.foreach(pr => println(s"check failed: $pr"))
    println(s"workload $workload seed $seed: ${passes.size} passes, ${ops.size} timed ops " +
      s"(untraced), attempted $attempted, failed $failed")
    (endToEnd ++ perLayer).foreach { case (n, v, u) => println(f"  $n%-40s $v%14.6f $u") }

    def metricJson(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val reported = if (traced) perLayer else endToEnd
    val last = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${metricJson(reported)}}"""
    Files.createDirectories(results)
    Files.write(results.resolve(s"result-$tag.json"),
      (s"""{"workload":${Json.str(workload)},"seed":$seed,"traced":$traced,""" +
        s""""op_samples":${ops.size},"passes":${passes.size},"pass_s_all":$passTimes,"setup_stage_s":${stageS.map(Json.num).mkString("[", ",", "]")},""" +
        s""""session_s":${Json.num(sessionS)},"op_median_s":$opMedians,"end_to_end":${metricJson(endToEnd)},""" +
        s""""per_layer":${metricJson(perLayer)},"problems":[${problems.map(Json.str).mkString(",")}],""" +
        s""""result":$last}""" + "\n").getBytes(StandardCharsets.UTF_8))

    if (record) println(s"recorded expectations to $expectedPath")
    spark.stop()
    deleteTree(work)
    println(last)
  }
}
