package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.ops.WebText

/** Generic bucketed side-channel table — the layout upgrade that takes
  * a [[FrontierLink]] side stream out of the per-batch scan set:
  * consumes any append stream of side rows (sitemap hints
  * `(url, changefreq)`, publish dates `(url, published_ms)`,
  * Retry-After demands `(host, retry_after_ms)`, robots rules,
  * reputation…) and maintains the accumulated DISTINCT row set as a
  * hive-partitioned table bucketed by the count store's host hash —
  * `key` = the `hostCol` column, or `registeredDomain(urlCol)` for
  * url-keyed channels — merged per touched bucket with the
  * [[FrontierLink]] count-store discipline
  * ([[StreamRegistry.refreshPartition]], per-bucket `_batch` marks:
  * exactly-once per bucket under replay).
  *
  * DISTINCT-set semantics on purpose: a flat side stream is consumed
  * by [[FrontierLink.frontierFromCounts]] as append-with-dedup (every
  * signal pre-aggregates to one row per key — max freshness, newest
  * date, max demand), so the distinct row set preserves the flat
  * layout's semantics EXACTLY for any such consumer — the bucketed
  * and flat layouts of the same channel produce identical frontiers
  * (spec-pinned). Producers that need replacement semantics (retract
  * an old robots.txt) own that upstream, same as with a flat stream.
  *
  * Scale shape: url-keyed channels are corpus-shaped on a real crawl
  * (every dated article, every sitemapped URL). Flat, they are
  * re-scanned per batch by the frontier's side fingerprints and per
  * TOUCHED BUCKET by the refresh joins; bucketed, each frontier
  * bucket reads ONE partition and the fingerprint is the partition's
  * file manifest ([[StreamRegistry.partitionManifest]] — an FS
  * listing, zero rows). Per-batch work here is the batch's rows plus
  * its touched buckets — the count-store shape. */
class BucketedSideLink(input: String, outputStream: String,
                       urlCol: String = "", hostCol: String = "host",
                       numBuckets: Int = 16) extends Link {
  require(numBuckets >= 1, s"numBuckets >= 1, got $numBuckets")
  require(urlCol.nonEmpty || hostCol.nonEmpty,
    "one of urlCol/hostCol must name the bucketing key column")
  val inputs: Seq[String] = Seq(input)
  val output: Option[String] = None // onBatch: bucketed merges

  private def keyCol: org.apache.spark.sql.Column =
    if (urlCol.nonEmpty) WebText.registeredDomain(col(urlCol))
    else col(hostCol)

  override def checkpointTarget: String = outputStream

  override def setup(spark: SparkSession, registry: StreamRegistry): Unit = {
    val inSchema = registry.schemaOf(input)
    registry.declare(outputStream,
      StructType(inSchema.fields :+ StructField("bucket", IntegerType)),
      Seq("bucket"))
    registry.pinBucketCount(outputStream, numBuckets)
  }

  override def onBatch(spark: SparkSession, registry: StreamRegistry,
                       batch: DataFrame, batchId: Long): Unit = {
    val b = batch.distinct()
      .withColumn("bucket",
        StreamRegistry.bucketOf(keyCol, numBuckets))
      .localCheckpoint()
    registry.mergeBuckets(outputStream, b, batchId) { (old, slice) =>
      old.unionByName(slice).distinct()
    }
    ()
  }
}
