package perfbench

import scala.util.Random

import org.apache.spark.sql.DataFrame

/** A batch workload: one client runs a fixed list of registry queries
  * back to back over the generated tables, each from the builder call
  * (`SparkEntry.queries(name)(spark, dir)`) through a noop write. The seed
  * shuffles the query order of every pass. */
final class BatchWorkload(ctx: Ctx, name: String, queries: Seq[String]) extends Workload {
  import ctx._

  private val registry = graft.SparkEntry.queries
  private var dir: String = _
  /** Input records the warm-up pass scanned, per query. */
  private var scanRows = Map.empty[String, Long]

  override def prepare(): Unit = dir = Inputs.cached(spark, data)

  def stage(rep: Int): Unit = Inputs.open(spark, dir)

  /** Run each query once with a checksum instead of the noop sink, which
    * checks every output, then twice as timed passes run them. */
  def warm(): (Int, Seq[String]) = {
    val got = queries.map { q =>
      sc.setJobGroup(s"warm.$q", q, false)
      val r = try Right(Checks.digest(registry(q)(spark, dir)))
      catch { case e: Exception => Left(s"$name/$q threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      sc.clearJobGroup()
      spark.catalog.clearCache()
      q -> r
    }
    sparkLog.awaitQuiet(sc)
    scanRows = queries.map(q => q -> sparkLog.totals(sparkLog.jobsOf(Set(s"warm.$q"))).inRecords).toMap
    if (record) Checks.record(java.nio.file.Paths.get("perfbench", "expected.tsv"), name,
      got.collect { case (q, Right(d)) => q -> d })
    val problems = got.flatMap {
      case (_, Left(err)) => Some(err)
      case (q, Right(d)) => if (record) None else Checks.mismatch(expected, name, q, d)
    }
    // two more untimed passes through the timed code path: the JIT keeps
    // speeding passes up well after the checksum pass
    val more = Seq(pass(-1, traced = false), pass(-2, traced = false))
    (queries.size + more.map(_.attempted).sum,
      problems ++ Seq.fill(more.map(_.failed).sum)(s"$name/warm-up pass failed"))
  }

  def pass(p: Int, traced: Boolean): PassResult = {
    val order = new Random(seed * 7919L + p).shuffle(queries)
    var failed = 0
    val layers = new LayerSums
    val ops = order.flatMap { q =>
      val trace = s"p$p.$q"
      sc.setJobGroup(trace, q, false)
      val t0 = Clock.nowUs
      val ok = try {
        if (traced) runTraced(trace, q, layers) else {
          registry(q)(spark, dir).write.format("noop").mode("overwrite").save()
        }
        true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $q failed: $e"); failed += 1; false
      }
      val t1 = Clock.nowUs
      sc.clearJobGroup()
      if (traced) layers.add("cache.leaked_entries", sc.getPersistentRDDs.size)
      spark.catalog.clearCache()
      if (ok) Some(q -> (t1 - t0) / 1e6) else None
    }
    if (traced) attribute(p, order, layers)
    PassResult(ops, ops.map(_._2).sum, order.map(scanRows.getOrElse(_, 0L)).sum, order.size, failed,
      layers.toMap)
  }

  private def runTraced(trace: String, q: String, layers: LayerSums): Unit =
    tracer.span(trace, "query") { root =>
      val df: DataFrame = tracer.span(trace, "queries.build", root)(_ => registry(q)(spark, dir))
      tracer.span(trace, "queries.plan", root)(_ => df.queryExecution.executedPlan)
      tracer.span(trace, "spark.execute", root)(_ =>
        df.write.format("noop").mode("overwrite").save())
    }

  /** Attribute the pass's Spark jobs to its queries by job group. */
  private def attribute(p: Int, order: Seq[String], layers: LayerSums): Unit = {
    sparkLog.awaitQuiet(sc)
    val spans = tracer.spans
    order.foreach { q =>
      val trace = s"p$p.$q"
      val mine = spans.filter(_.trace == trace)
      def one(n: String) = mine.find(_.name == n)
      val jobs = sparkLog.jobsOf(Set(trace))
      for (root <- one("query"); build <- one("queries.build"); plan <- one("queries.plan");
           exec <- one("spark.execute")) {
        layers.add("queries.build_s", build.durUs / 1e6)
        layers.add("queries.plan_s", plan.durUs / 1e6)
        layers.add("spark.exec_s", exec.durUs / 1e6)
        layers.add("queries.build_jobs",
          jobs.count(j => j.startMs * 1000 >= build.startUs && j.startMs * 1000 <= build.endUs))
        Layers.addJobs(layers, sparkLog, jobs, root)
        jobs.foreach { j =>
          val parent = Seq(build, plan, exec).find(s => j.startMs * 1000 >= s.startUs &&
            j.startMs * 1000 <= s.endUs).getOrElse(root)
          tracer.add(Span(trace, tracer.newId(), parent.id, "spark.job",
            j.startMs * 1000, math.max(j.startMs, j.endMs) * 1000))
        }
      }
    }
  }

  def verify(): (Int, Seq[String]) = (0, Nil)

  /** Median build, plan and execute seconds per query over traced passes. */
  override def report(): Seq[String] = {
    val bySpan = tracer.spans.filter(_.parent != 0L).groupBy(s => (s.trace.dropWhile(_ != '.').drop(1), s.name))
    def med(q: String, n: String) = Main.median(bySpan.getOrElse((q, n), Nil).map(_.durUs / 1e6))
    "per query (median over traced passes): build_s plan_s execute_s" +:
      queries.sortBy(q => -med(q, "queries.build")).map { q =>
        f"  $q%-34s ${med(q, "queries.build")}%7.3f ${med(q, "queries.plan")}%7.3f ${med(q, "spark.execute")}%7.3f"
      }
  }
}

object BatchWorkload {
  /** Near-dup (MinHash LSH), the two builder-heavy queries and a text
    * model that persists its tables: native kernels, eager builders and
    * leaking `persist()`s. */
  val Curate: Seq[String] = Seq(
    "q33_minhash_lsh", "q72_dedup_clusters", "q103_wpe_merges", "q69_unigram_logprob")

  /** Scan, join, window and aggregation queries with almost no native
    * kernels and light builders. */
  val Relational: Seq[String] = Seq(
    "q01_pricing_summary", "q02_join_chain", "q03_broadcast_join", "q05_anti_join",
    "q12_window_topk", "q14_sessionize")
}
