package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.ops.WebText

/** Streaming canonical-consolidation gate — the O(row) dedup stage a
  * crawl loop runs BEFORE any content-level screening
  * ([[graft.ops.WebText.canonicalTargets]] behind a runtime [[Link]]):
  * each micro-batch of fetched `(url, html)` pages resolves its
  * author-declared canonical target, keeps ONE page per target — the
  * lexicographically smallest url within the batch (deterministic), and
  * only targets never admitted before (earlier batches win) — and
  * appends survivors to `survivorsStream` `(url, html,
  * canonical_target)` and their targets to `targetsStream`
  * `(canonical_target)`. Syndicated, paginated, parameterized, and AMP
  * variants of one article all declare the same target, so they
  * collapse here on a scan-stage string key instead of reaching the
  * O(candidate pairs) near-dup gate — at crawl scale that is the
  * difference between screening every variant and screening one.
  * Compose: WarcHttpIngestLink → THIS → MainContentLink →
  * CurationLink/NearDupGateLink.
  *
  * Contracts (the [[NearDupGateLink]] conventions):
  *  - offsets are exactly-once via the link checkpoint — replay with no
  *    new input appends nothing;
  *  - the two side-effect writes are at-least-once under a mid-batch
  *    crash; SURVIVORS are written BEFORE targets, so a crash between
  *    them can only leave a survivor whose target was never
  *    registered — the replayed batch then re-admits a duplicate
  *    survivor row, which downstream dedups on `canonical_target`.
  *    (The other order would register the target while its survivor
  *    row is lost forever: every future variant of that article
  *    anti-joins away with no recovery path. A rare duplicate is
  *    recoverable; a silently dropped document is not.);
  *  - pages with NO canonical declaration gate on their own URL (the
  *    [[WebText.canonicalTargets]] fallback), so refetches of one URL
  *    also collapse. */
class CanonicalGateLink(input: String, survivorsStream: String,
                        targetsStream: String) extends Link {
  val inputs: Seq[String] = Seq(input)
  val output: Option[String] = None // onBatch: two streams below

  private val survivorSchema = StructType(Seq(
    StructField("url", StringType), StructField("html", StringType),
    StructField("canonical_target", StringType)))
  private val targetSchema = StructType(Seq(
    StructField("canonical_target", StringType)))

  override def checkpointTarget: String = survivorsStream

  override def setup(spark: SparkSession, registry: StreamRegistry): Unit = {
    registry.declare(survivorsStream, survivorSchema)
    registry.declare(targetsStream, targetSchema)
  }

  override def onBatch(spark: SparkSession, registry: StreamRegistry,
                       batch: DataFrame, batchId: Long): Unit = {
    val survivors = CanonicalGateLink.gate(
      batch.select(col("url"), col("html")),
      registry.read(targetsStream))
      // materialize: the plan reads targetsStream, which the second
      // write below appends to
      .localCheckpoint()
    // survivors FIRST (see the crash-ordering contract above): a
    // crash between the writes must leave a duplicate-admitting
    // gap, never a document-dropping one
    registry.write(survivors, survivorsStream)
    registry.write(
      survivors.select(col("canonical_target")), targetsStream)
  }
}

object CanonicalGateLink {
  /** The per-batch gate shared with the batch-parity spec: resolve
    * canonical targets, keep the min-(url, html) struct per target
    * within the batch, drop targets already admitted. The min-struct
    * aggregate (the library's deterministic-argmin idiom) picks the
    * same min-url winner AND stays single-row-per-target even when a
    * batch carries two captures of one URL — real WARC batches do,
    * and a winners self-join would emit both captures. ONE scan
    * Project + one target-keyed aggregate (map-side combine,
    * cardinality = the batch's article count) + one anti-join against
    * the compact target set. */
  def gate(pages: DataFrame, seenTargets: DataFrame): DataFrame =
    WebText.canonicalTargets(pages)
      .groupBy("canonical_target")
      .agg(min(struct(col("url"), col("html"))).as("graft_w"))
      .join(seenTargets.select(col("canonical_target")).distinct(),
        Seq("canonical_target"), "left_anti")
      .select(col("graft_w.url").as("url"), col("graft_w.html").as("html"),
        col("canonical_target"))
}
