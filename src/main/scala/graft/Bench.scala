package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.util.control.NonFatal

/** The one measurement main: `runMain graft.Bench [mode]`.
  *
  *  - `bench` (the default): whole-registry bench — per-query median
  *    seconds and stage metrics as JSON lines, the full line also in
  *    `bench_last.json`, a ~200-char total-only line last.
  *  - `profile`: the same rep loop, printed as a per-query table.
  *  - `explain`: the formatted physical plan of each query.
  *  - `catalog`: the query catalog (name, oracle status) as markdown.
  *
  * Every mode reads the fixture dir from `SPARK_GRAFT_SF_DIR` (default
  * sf0.1) and runs the queries [[selected]] picks; the session-building
  * modes share [[session]], and the timed modes [[warmTables]] first.
  * [[Verify]] reuses the session and the selection rule. */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** Scheduler-level shape of one query rep: jobs, stages, tasks, summed
    * executor run time and shuffle bytes, as a SparkListener saw them. */
  final case class StageStats(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
                              execRunMs: Long = 0, shuffleRead: Long = 0,
                              shuffleWrite: Long = 0)

  /** One query's measurement: every rep's seconds (−1 = failed rep) and
    * the last rep's [[StageStats]]. */
  final case class Result(name: String, runs: Seq[Double], stats: StageStats) {
    private val ok = runs.filter(_ >= 0)
    val median: Double = if (ok.isEmpty) -1.0 else Bench.median(ok)
    val min: Double = if (ok.isEmpty) -1.0 else ok.min
    def failed: Boolean = runs.exists(_ < 0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Window-proofing: a single-run bench is hostage to shared-host noise
    // bursts (round 7 measured run-order-contiguous 3-13x inflation on
    // queries that bench 1x in isolation). Run each query REPS times
    // back-to-back and report the MEDIAN as the headline per-query number —
    // a noise burst must now straddle all repetitions of a query to move
    // its score. Min and the raw runs are kept alongside for analysis.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    args.headOption.getOrElse("bench") match {
      case "bench" =>
        val out = lines(measure(sfDir, reps), reps, sfDir)
        out.foreach(println)
        // A caller may keep only a bounded tail of stdout — the full line
        // goes to a file so regression analysis always has every query.
        try java.nio.file.Files.writeString(
          java.nio.file.Paths.get("bench_last.json"), out.head + "\n")
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] could not write bench_last.json: $e")
        }
      case "profile" => printProfile(measure(sfDir, reps))
      case "explain" =>
        val queries = selected()
        val spark = session()
        queries.foreach { case (name, fn) =>
          println(s"===== $name =====")
          fn(spark, sfDir).explain("formatted")
        }
        spark.stop()
      case "catalog" => catalog()
      case other => throw new IllegalArgumentException(
        s"unknown mode '$other': expected bench, profile, explain or catalog")
    }
  }

  /** The rep loop of `bench` and `profile`: warm up, then `reps` timed
    * reps of every selected query, with the last rep's stage metrics. */
  private def measure(sfDir: String, reps: Int): Seq[Result] = {
    val queries = selected()
    val spark = session()
    val stats = new StageListener
    spark.sparkContext.addSparkListener(stats)
    warmTables(spark, sfDir)
    val runs = queries.map { case (name, fn) =>
      name -> (1 to reps).map(timeRep(spark, sfDir, name, _, fn))
    }
    // stop() drains the listener bus: every stage event is in before
    // the totals are read
    try spark.stop() catch { case NonFatal(_) => () }
    runs.map { case (name, rs) => Result(name, rs, stats.of(repGroup(name, reps))) }
  }

  /** One timed rep: a noop write (materializes every column + expression,
    * unlike count() which lets Catalyst prune the plan) under job group
    * [[repGroup]], so the listener can attribute its stages. A failed rep
    * records −1.0 (sentinel), never its partial elapsed time — a broken
    * query must not silently deflate the total. */
  private def timeRep(spark: SparkSession, sfDir: String, name: String,
                      rep: Int, fn: Query): Double = {
    spark.sparkContext.setJobGroup(repGroup(name, rep), name)
    val t0 = System.nanoTime()
    val r = try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch { case e: Throwable =>
      System.err.println(s"[bench] FAILED $name: $e")
      -1.0
    }
    // backstop, untimed: a leaked cache entry must not feed the next rep
    spark.catalog.clearCache()
    r
  }

  private def repGroup(name: String, rep: Int): String = s"$name#$rep"

  /** Per-job-group [[StageStats]]: jobs are counted at start, stages and
    * tasks at completion, attributed through the group their submitting
    * job carried. Events arrive on the one listener-bus thread; read
    * [[of]] only after `spark.stop()` has drained it. */
  private class StageListener extends SparkListener {
    private val stageGroup = mutable.HashMap.empty[Int, String]
    private val byGroup = mutable.HashMap.empty[String, StageStats]
    private def group(p: java.util.Properties): Option[String] =
      Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id")))
    private def add(g: String)(f: StageStats => StageStats): Unit =
      byGroup(g) = f(byGroup.getOrElse(g, StageStats()))
    def of(g: String): StageStats = byGroup.getOrElse(g, StageStats())
    override def onJobStart(j: SparkListenerJobStart): Unit =
      group(j.properties).foreach(add(_)(s => s.copy(jobs = s.jobs + 1)))
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      group(s.properties).foreach(stageGroup(s.stageInfo.stageId) = _)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      stageGroup.remove(i.stageId).foreach(add(_)(s => s.copy(
        stages = s.stages + 1, tasks = s.tasks + i.numTasks,
        execRunMs = s.execRunMs + i.taskMetrics.executorRunTime,
        shuffleRead = s.shuffleRead + i.taskMetrics.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = s.shuffleWrite + i.taskMetrics.shuffleWriteMetrics.bytesWritten)))
    }
  }

  /** The bench's three JSON lines, in print order:
    *  1. full detail — medians, plus per query its median, min, runs and
    *     last-rep stage metrics (also the `bench_last.json` content);
    *  2. medians only, rounded to ms (display precision only);
    *  3. total only (~200 chars, no per-query map — a SUBSET map could
    *     misread as dropped queries), last, because a caller that keeps a
    *     2000-char tail of the output cannot fit 271 query names (~7 KB).
    * `value` sums the medians of queries with at least one good rep;
    * `n_failed` counts a query with ANY failed rep: its median rests on
    * fewer runs than the rest. */
  def lines(results: Seq[Result], reps: Int, sfDir: String): Seq[String] = {
    val sf = Json.quote(sfDir)
    val total = results.map(_.median).filter(_ >= 0).sum
    val totalMin = results.map(_.min).filter(_ >= 0).sum
    def ms(x: Double): String =
      if (x < 0) "-1" else BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def obj(f: Result => String): String =
      results.map(r => Json.quote(r.name) + ":" + f(r)).mkString("{", ",", "}")
    val detail = obj { r =>
      val s = r.stats
      s"""{"median":${r.median},"min":${r.min},"runs":${r.runs.mkString("[", ",", "]")},""" +
        s""""jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},""" +
        s""""executor_s":${s.execRunMs / 1e3},"shuffle_read_bytes":${s.shuffleRead},""" +
        s""""shuffle_write_bytes":${s.shuffleWrite}}"""
    }
    val metric = s""""metric":"total_of_medians","value":"""
    Seq(
      s"""{$metric$total,"unit":"sec","reps":$reps,"total_min":$totalMin,"queries":${obj(_.median.toString)},"queries_detail":$detail,"sf":$sf}""",
      s"""{$metric${ms(total)},"unit":"sec","reps":$reps,"total_min":${ms(totalMin)},"queries":${obj(r => ms(r.median))},"sf":$sf}""",
      s"""{$metric${ms(total)},"unit":"sec","reps":$reps,"total_min":${ms(totalMin)},"n_queries":${results.size},"n_failed":${results.count(_.failed)},"per_query_in":"stdout above + bench_last.json","sf":$sf}""")
  }

  private def printProfile(results: Seq[Result]): Unit = {
    println(f"${"query"}%-34s ${"med_s"}%7s ${"min_s"}%7s ${"jobs"}%5s ${"stg"}%4s ${"tasks"}%6s ${"exec_s"}%7s ${"shR_MB"}%7s ${"shW_MB"}%7s")
    results.foreach { r =>
      val s = r.stats
      println(f"${r.name}%-34s ${r.median}%7.3f ${r.min}%7.3f ${s.jobs}%5d ${s.stages}%4d ${s.tasks}%6d ${s.execRunMs / 1e3}%7.2f ${s.shuffleRead / 1e6}%7.1f ${s.shuffleWrite / 1e6}%7.1f")
    }
  }

  private def catalog(): Unit = {
    val oracles = SparkEntry.oracleSql.keySet
    println("| query | correctness check |")
    println("|---|---|")
    selected().foreach { case (n, _) =>
      val o = if (oracles(n)) "DuckDB oracle (rows+schema+values)" else "rows-only + ScalaTest"
      println(s"| $n | $o |")
    }
  }

  /** The registered queries, by name — only those `SPARK_GRAFT_ONLY`
    * (comma-separated names) lists, when it is set. */
  def selected(): Seq[(String, Query)] = select(sys.env.get("SPARK_GRAFT_ONLY"))

  /** [[selected]] for a given name list: names are trimmed and empty
    * segments dropped; a name no query is registered under fails the run
    * (a typo must not select nothing and still report success). */
  def select(only: Option[String]): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    val names = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = names.getOrElse(Set.empty).filterNot(all.contains)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    all.toSeq.sortBy(_._1).filter { case (n, _) => names.forall(_(n)) }
  }

  /** The engine session at `local[SPARK_GRAFT_CPUS]`, with as many
    * shuffle partitions. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm-up (not timed): touch every table once so per-query numbers
    * measure the operator, not first-read page-cache/JIT warmup. */
  def warmTables(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").write
        .format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    try Tables.events(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
