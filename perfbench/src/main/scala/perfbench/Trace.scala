package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Epoch microseconds, read from the monotonic clock so that spans of one
  * run never go backwards. */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNanos) / 1000L
}

/** One timed interval. Spans of one query or one batch share `trace`;
  * `parent` is 0 for a root span. */
final case class Span(trace: String, id: Long, parent: Long, name: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer[Span]()

  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = synchronized { buf += s }

  /** Time `body` as a span; the body receives the span id for children. */
  def span[A](trace: String, name: String, parent: Long = 0L)(body: Long => A): A = {
    val id = newId()
    val t0 = Clock.nowUs
    try body(id) finally add(Span(trace, id, parent, name, t0, Clock.nowUs))
  }

  def spans: Seq[Span] = synchronized(buf.toList)

  def writeJsonl(path: Path): Unit = {
    val lines = spans.sortBy(_.startUs).map { s =>
      s"""{"trace":${Json.str(s.trace)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Per span name: count, total seconds and self seconds, where self time
    * is a span's duration minus the part of it its children cover. */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).toSeq.map { case (name, ss) =>
      val self = ss.map { s =>
        val covered = Tracer.union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
        math.max(0L, s.durUs - covered)
      }.sum
      (name, ss.size, ss.map(_.durUs).sum / 1e6, self / 1e6)
    }.sortBy(-_._4)
  }
}

object Tracer {
  /** Total length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-stage task totals from `onTaskEnd`. */
final class StageTotals {
  var tasks, failedTasks = 0L
  var runMs, cpuNs, schedDelayMs, inBytes, inRecords = 0L
  var shuffleRead, shuffleWrite, spill = 0L
}

final case class JobRec(id: Int, group: String, startMs: Long, stages: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Spark scheduler events, kept per job and per stage so they can be
  * attributed to a query or batch afterwards by job group. */
final class SparkLog extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageTotals]()
  private val lastEventNs = new AtomicLong(System.nanoTime())

  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, group, e.time, e.stageIds))
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stages.computeIfAbsent(e.stageId, _ => new StageTotals)
    val m = e.taskMetrics
    st.synchronized {
      st.tasks += 1
      if (!e.taskInfo.successful) st.failedTasks += 1
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L))
        st.inBytes += m.inputMetrics.bytesRead
        st.inRecords += m.inputMetrics.recordsRead
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    touch()
  }

  /** Wait until the listener bus has delivered the events of every job
    * that has ended (no active jobs and no event for `quietMs`). */
  def awaitQuiet(sc: SparkContext, quietMs: Long = 150L, maxMs: Long = 5000L): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def quiet = sc.statusTracker.getActiveJobIds().isEmpty &&
      jobs.values.asScala.forall(_.endMs >= 0) &&
      System.nanoTime() - lastEventNs.get() > quietMs * 1000000L
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def jobsOf(groups: Set[String]): Seq[JobRec] =
    jobs.values.asScala.filter(j => groups.contains(j.group)).toSeq

  def totals(js: Seq[JobRec]): StageTotals = {
    val t = new StageTotals
    js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s))).foreach { st =>
      st.synchronized {
        t.tasks += st.tasks; t.failedTasks += st.failedTasks; t.runMs += st.runMs
        t.cpuNs += st.cpuNs; t.schedDelayMs += st.schedDelayMs
        t.inBytes += st.inBytes; t.inRecords += st.inRecords
        t.shuffleRead += st.shuffleRead; t.shuffleWrite += st.shuffleWrite
        t.spill += st.spill
      }
    }
    t
  }

  /** Stages that ran at least one task, among the jobs given. */
  def stageCount(js: Seq[JobRec]): Int =
    js.flatMap(_.stages).distinct.count(s => stages.containsKey(s))
}

final case class QueryRun(runId: java.util.UUID, startMs: Long) {
  @volatile var terminated = false
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Long], Long)]()
}

/** Streaming query events: start order, per-trigger phase durations and
  * input rows, and termination. */
final class StreamLog extends StreamingQueryListener {
  val runs = new java.util.concurrent.ConcurrentLinkedQueue[QueryRun]()
  private val byRun = new ConcurrentHashMap[java.util.UUID, QueryRun]()

  private def epochMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    val r = QueryRun(e.runId, epochMs(e.timestamp))
    byRun.put(e.runId, r); runs.add(r)
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    Option(byRun.get(p.runId)).foreach(_.progress.add((epochMs(p.timestamp),
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows)))
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    Option(byRun.get(e.runId)).foreach(_.terminated = true)

  /** The runs started since `fromIndex`, in start order, once each has
    * terminated (bounded wait). */
  def await(fromIndex: Int, expected: Int, maxMs: Long = 5000L): Seq[QueryRun] = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def got = runs.asScala.drop(fromIndex).toSeq
    while ((got.size < expected || !got.forall(_.terminated)) &&
      System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(30) // a final progress event may trail the terminate event
    got
  }

  def count: Int = runs.size
}

/** Tiny JSON helpers (the benchmark's output is flat). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString
}
