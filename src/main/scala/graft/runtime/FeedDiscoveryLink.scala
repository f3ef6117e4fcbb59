package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.ops.WebText

/** Streaming feed-discovery link — the second discovery channel of the
  * crawl loop (the q239 composition's streaming form): consumes
  * fetched RSS/Atom documents `(url, xml)` — the feeds a crawler polls
  * on the [[graft.ops.WebText.revisitSchedule]] cadence after
  * [[graft.ops.WebText.feedLinks]] found them — parses the entries
  * ([[graft.ops.WebText.feedEntries]], both vocabularies from one
  * call), RFC 3986-resolves each entry link against its feed URL
  * (Atom relative hrefs are legal and common), and emits the
  * http(s) targets to `linksOut` `(link, batch)`. Point a
  * [[FrontierLink]]'s `extraLinksStreams` at `linksOut` and
  * feed-discovered URLs rank in the SAME frontier as page out-links —
  * a URL surfaced by both channels counts both in-links, which is
  * exactly the freshness boost a new article on a followed feed
  * should get.
  *
  * Scale shape: per batch, ONE scan Project (outer-span entry regex +
  * per-entry field reads, O(span)) + one explode over the batch —
  * no shuffle, no state; the accumulated `(link)` table is compact
  * strings. The output is EXACTLY-ONCE under a mid-batch crash, not
  * merely its offsets: each micro-batch REWRITES its own `batch=<id>`
  * partition ([[StreamRegistry.refreshPartition]] — the export-link
  * discipline), which matters here specifically because the frontier
  * COUNTS this stream: an at-least-once append would inflate a
  * replayed entry's in-link evidence. */
class FeedDiscoveryLink(input: String, linksOut: String) extends Link {
  val inputs: Seq[String] = Seq(input)
  val output: Option[String] = None // onBatch: declared + written below

  private val linkSchema = StructType(Seq(StructField("link", StringType),
    StructField("batch", org.apache.spark.sql.types.LongType)))

  override def checkpointTarget: String = linksOut

  override def setup(spark: SparkSession, registry: StreamRegistry): Unit =
    registry.declare(linksOut, linkSchema, Seq("batch"))

  override def onBatch(spark: SparkSession, registry: StreamRegistry,
                       batch: DataFrame, batchId: Long): Unit =
    registry.refreshPartition(linksOut, batchId,
      FeedDiscoveryLink.entryLinks(batch))
}

object FeedDiscoveryLink {
  /** The per-batch extraction shared by the streaming link and its
    * batch-parity spec: feed entries exploded, entry links resolved
    * against the feed URL, filtered to http(s) targets. The http(s)
    * verdict is decided on the INPUTS (entry scheme / feed scheme),
    * never on the resolved output — the resolvedLinkRows re-inlining
    * rule. */
  def entryLinks(feeds: DataFrame, urlCol: String = "url",
                 xmlCol: String = "xml"): DataFrame = {
    val entryIsHttp = col("graft_ref").rlike("(?i)^https?://")
    val entryHasScheme = col("graft_ref").rlike("^[A-Za-z][A-Za-z0-9+.-]*:")
    val feedIsHttp = col(urlCol).rlike("(?i)^https?://")
    feeds
      .select(col(urlCol),
        explode(WebText.feedEntries(col(xmlCol))).as("graft_e"))
      .select(col(urlCol), col("graft_e.link").as("graft_ref"))
      .filter(col("graft_ref") =!= "" &&
        (entryIsHttp || (!entryHasScheme && feedIsHttp)))
      .select(WebText.resolveUrl(col(urlCol), col("graft_ref")).as("link"))
  }
}
