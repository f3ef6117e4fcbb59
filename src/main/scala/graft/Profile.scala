package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev tool (r16 optimization round): per-query measurement harness.
  *
  * For each named query (all when no args): warm once, then time REPS
  * noop-sink runs (the Bench methodology), and report alongside the
  * wall-clock the scheduler-level shape of the LAST run — jobs, stages,
  * tasks, summed executor run time, shuffle bytes read/written — via a
  * SparkListener. Optionally dumps `.explain("formatted")` to
  * plans/r16/<query>_<tag>.txt (SPARK_GRAFT_PLAN_TAG=before|after).
  *
  * Same session, env contract (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS),
  * warm-up and median as [[Bench]], so numbers are comparable.
  */
object Profile {
  private class Metrics extends SparkListener {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val execRunMs = new AtomicLong(0)
    val shuffleRead = new AtomicLong(0)
    val shuffleWrite = new AtomicLong(0)
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0)
      execRunMs.set(0); shuffleRead.set(0); shuffleWrite.set(0) }
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(sc.stageInfo.numTasks)
      execRunMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
      shuffleRead.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val planTag = sys.env.get("SPARK_GRAFT_PLAN_TAG")
    val spark = Bench.session()
    val m = new Metrics
    spark.sparkContext.addSparkListener(m)
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    Bench.warmTables(spark, sfDir)
    println(f"${"query"}%-34s ${"med_s"}%7s ${"min_s"}%7s ${"jobs"}%5s ${"stg"}%4s ${"tasks"}%6s ${"exec_s"}%7s ${"shR_MB"}%7s ${"shW_MB"}%7s")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(name)
      val runs = (1 to reps).map { i =>
        m.reset()
        val t0 = System.nanoTime()
        val r = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[profile] FAILED $name: $e"); -1.0
        }
        // match Bench: drop leaked lazy-builder caches between reps so
        // every rep computes from the parquet inputs (see Bench.scala)
        spark.catalog.clearCache()
        r
      }
      // listener events are async; give the bus a moment before reading
      Thread.sleep(100)
      val ok = runs.filter(_ >= 0)
      val med = if (ok.isEmpty) -1.0 else Bench.median(ok)
      val min = if (ok.isEmpty) -1.0 else ok.min
      println(f"$name%-34s $med%7.3f $min%7.3f ${m.jobs.get}%5d ${m.stages.get}%4d ${m.tasks.get}%6d ${m.execRunMs.get / 1e3}%7.2f ${m.shuffleRead.get / 1e6}%7.1f ${m.shuffleWrite.get / 1e6}%7.1f")
      planTag.foreach { tag =>
        val sw = new java.io.StringWriter
        val df = fn(spark, sfDir)
        sw.write(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        val dirPath = java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r17"))
        java.nio.file.Files.createDirectories(dirPath)
        java.nio.file.Files.writeString(dirPath.resolve(s"${name}_$tag.txt"),
          sw.toString)
      }
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
