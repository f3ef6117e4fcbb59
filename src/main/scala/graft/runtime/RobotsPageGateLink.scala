package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.WebText

/** Streaming per-PAGE robots admission — the q266 combined gate
  * (`<meta name=robots>` AND `X-Robots-Tag`, most-restrictive-wins)
  * as the loop stage between fetching and everything downstream. The
  * two directives gate DIFFERENT consumers, so the link SPLITS the
  * fetched `(url, html, payload?, …)` stream:
  *
  *  - `corpusStream` — rows with NO noindex verdict (either channel):
  *    what curation/dedup/export may keep. A pipeline honoring only
  *    robots.txt silently archives every page-level-excluded document;
  *  - `frontierStream` — rows with NO nofollow verdict: what link
  *    extraction may consume (point a [[FrontierLink]]'s input here).
  *    A nofollow page may itself be corpus-worthy while its out-links
  *    must not seed the frontier — and vice versa: a noindex page's
  *    links may still be followed (Google's documented semantics for
  *    the independent directives).
  *
  * Both outputs carry the input columns plus the page's
  * `meta_directives`/`header_directives` (audit — WHY a row survived),
  * and both are `batch=<id>` partition REWRITES
  * ([[StreamRegistry.refreshPartition]] — the export-link discipline),
  * so a crash-replayed batch replaces its directories: the admitted
  * sets are exactly-once, not merely the offsets. `payloadCol` = ''
  * skips the header channel (an input that only carries html — e.g. a
  * pre-split corpus without raw HTTP bytes).
  *
  * Scale shape: ONE scan-stage projection per batch — both channels'
  * directive arrays compute side by side
  * ([[graft.ops.WebText.robotsGate]]'s no-self-join contract), null
  * html/payload rows (non-HTML resources) gate as non-restricted by
  * construction, and the two writes are row-level filters of the same
  * frame. Nothing accumulates, nothing shuffles. */
class RobotsPageGateLink(input: String, corpusStream: String,
                         frontierStream: String,
                         htmlCol: String = "html",
                         payloadCol: String = "payload",
                         agent: String = "graftbot") extends Link {
  val inputs: Seq[String] = Seq(input)
  val output: Option[String] = None // onBatch: the two splits below

  override def checkpointTarget: String = corpusStream

  override def onBatch(spark: SparkSession, registry: StreamRegistry,
                       batch: DataFrame, batchId: Long): Unit = {
    val gated = RobotsPageGateLink.gate(batch, htmlCol,
      payloadCol, agent).localCheckpoint()
    def declareAndWrite(stream: String, df: DataFrame): Unit = {
      val out = df.drop("noindex", "nofollow")
      if (!registry.exists(stream))
        registry.declare(stream,
          out.schema.add("batch",
            org.apache.spark.sql.types.LongType), Seq("batch"))
      registry.refreshPartition(stream, batchId, out)
    }
    declareAndWrite(corpusStream, gated.filter(!col("noindex")))
    declareAndWrite(frontierStream, gated.filter(!col("nofollow")))
  }
}

object RobotsPageGateLink {
  /** The shared batch form: the input columns + `meta_directives` /
    * `header_directives` / `noindex` / `nofollow` appended in ONE
    * projection ([[graft.ops.WebText.robotsGateAll]] — no self-join,
    * the q156 double-eval rule). `payloadCol` = '' or absent from the
    * frame gates on the meta channel alone (the header channel scores
    * empty — non-restricted — by the null-coalescing rule). */
  def gate(pages: DataFrame,
           htmlCol: String = "html", payloadCol: String = "payload",
           agent: String = "graftbot"): DataFrame = {
    val hasPayload = payloadCol.nonEmpty &&
      pages.columns.contains(payloadCol)
    if (hasPayload)
      WebText.robotsGateAll(pages, htmlCol, payloadCol, agent)
    else
      WebText.robotsGateAll(
          pages.withColumn("graft_payload", lit(null).cast("string")),
          htmlCol, "graft_payload", agent)
        .drop("graft_payload")
  }
}
