package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.ops.Robots

/** Streaming host-health aggregator — the incremental table that lets
  * the crawl loop's back-off input stop being the raw fetch log:
  * consumes fetch outcomes `(host, status_code)` and maintains
  * `healthStream` `(host, n_fetches, n_errors, last_status,
  * last_batch, bucket)`, hive-partitioned into `numBuckets` FIXED
  * host-hash buckets and merged per touched bucket with the
  * [[FrontierLink]] count-store discipline
  * ([[StreamRegistry.refreshPartition]], per-bucket `_batch` marks —
  * exactly-once per bucket under replay, readers see each bucket
  * whole-old or whole-new).
  *
  * Why a TABLE and not an aggregate query: the fetch-history log is
  * append-only and written by the crawl loop itself every batch — one
  * row per fetch ever made, corpus-shaped on a long crawl — so every
  * consumer that re-aggregates it per evaluation
  * ([[graft.ops.Robots.backoffSchedule]] inside each frontier-bucket
  * refresh, the per-batch side fingerprints) re-pays O(history) per
  * batch through the side door. Fetch/error counts are ASSOCIATIVE:
  * the batch's partial aggregate ([[graft.ops.Robots.healthCounts]])
  * sums into the standing per-host row, so per-batch read+write work
  * is the batch plus its touched buckets — never the log. The
  * invariant `healthStream == healthCounts(whole log)` on
  * `(host, n_fetches, n_errors)` holds after every batch (spec-pinned),
  * which makes [[graft.ops.Robots.backoffFromCounts]] over this table
  * EQUAL to `backoffSchedule(log)` — the frontier's ladder input
  * swaps from log-shaped to host-cardinality with identical output.
  *
  * `last_status` / `last_batch` ride along for operability (what did
  * this host return most recently?): `last_status` is the MAX status
  * code within the most recent batch that touched the host (max, not
  * "last" — rows within a batch carry no order, and max is
  * deterministic while surfacing the worst concurrent outcome);
  * `last_batch` is that batch's id. Merge keeps the pair from the
  * highest `last_batch`.
  *
  * Wire the output to [[FrontierLink]]'s `healthStream` input (same
  * modulus — [[StreamRegistry.pinBucketCount]] enforces it): each
  * frontier bucket refresh then reads ONE health partition, and the
  * side-change fingerprint is the partition's file manifest — no scan
  * of this table, and no scan of the raw log anywhere in the refresh
  * path. */
class HostHealthLink(input: String, healthStream: String,
                     numBuckets: Int = 16) extends Link {
  require(numBuckets >= 1, s"numBuckets >= 1, got $numBuckets")
  val inputs: Seq[String] = Seq(input)
  val output: Option[String] = None // onBatch: bucketed merges

  private val healthSchema = StructType(Seq(
    StructField("host", StringType),
    StructField("n_fetches", LongType), StructField("n_errors", LongType),
    StructField("last_status", IntegerType),
    StructField("last_batch", LongType),
    StructField("bucket", IntegerType)))

  override def checkpointTarget: String = healthStream

  override def setup(spark: SparkSession, registry: StreamRegistry): Unit = {
    registry.declare(healthStream, healthSchema, Seq("bucket"))
    registry.pinBucketCount(healthStream, numBuckets)
  }

  override def onBatch(spark: SparkSession, registry: StreamRegistry,
                       batch: DataFrame, batchId: Long): Unit = {
    // the batch's partial aggregate: one row per touched host
    // (map-side combined), plus the deterministic within-batch
    // last_status = max status
    val bh = batch.filter(col("host").isNotNull)
      .groupBy("host")
      .agg(count(lit(1)).as("n_fetches"),
        sum(when(col("status_code") >= 500 ||
          col("status_code") === 429, 1L).otherwise(0L))
          .as("n_errors"),
        max(col("status_code")).cast("int").as("last_status"))
      .withColumn("last_batch", lit(batchId))
      .withColumn("bucket",
        StreamRegistry.bucketOf(col("host"), numBuckets))
      .localCheckpoint()
    registry.mergeBuckets(healthStream, bh, batchId) { (old, slice) =>
      old.unionByName(slice)
        .groupBy("host")
        .agg(sum("n_fetches").as("n_fetches"),
          sum("n_errors").as("n_errors"),
          max(struct(col("last_batch"), col("last_status")))
            .as("graft_last"))
        .select(col("host"), col("n_fetches"), col("n_errors"),
          col("graft_last").getField("last_status")
            .as("last_status"),
          col("graft_last").getField("last_batch")
            .as("last_batch"))
    }
    ()
  }
}
