package graft.runtime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.ops.{TextAnalysis, WebText}

/** Streaming bitext harvest — the q256 pages→training-pairs
  * composition as a runtime [[Link]] with CROSS-BATCH cluster state:
  * translations of one article arrive in DIFFERENT micro-batches (the
  * en page today, its de alternate whenever the crawler reaches it),
  * so the harvest must remember every cluster's members and re-align a
  * cluster whenever a new member lands.
  *
  * Per batch, from the `(url, html, text)` input:
  *  1. membership extraction ([[BitextHarvestLink.clusterMembers]] —
  *     a page self-identifies its language via the hreflang alternate
  *     row whose href IS its url, and its cluster key is the
  *     x-default member, the q244 rule);
  *  2. the batch's members merge into `membersStream`
  *     `(cluster_key, lang, url, text, bucket)` — hive-partitioned
  *     into `numBuckets` FIXED cluster-hash buckets, each touched
  *     bucket rotating independently ([[StreamRegistry
  *     .refreshPartition]]) with a per-bucket `_batch` mark for
  *     exactly-once merges; a re-arriving url REPLACES its old row
  *     (anti-join on the key, then union — recrawl wins,
  *     deterministically);
  *  3. `pairsStream` (the [[graft.ops.TextAnalysis.bitextAlign]]
  *     output columns + `bucket`) refreshes per touched bucket:
  *     alignment RECOMPUTES ONLY the clusters the batch touched
  *     (semi-join on the batch's cluster keys) and every other
  *     cluster's pairs ride through from the previous view
  *     (anti-join) — compute ∝ touched clusters, writes ∝ touched
  *     buckets, never corpus-shaped. A cluster carrying several pages
  *     of one language aligns its lexicographically FIRST (url, text)
  *     per (cluster, lang) — deterministic under any arrival order.
  *
  * Exactly-once: per-bucket `_batch` marks ride each rotate (the
  * [[FrontierLink]] count-merge discipline), so a crash-replayed batch
  * merges exactly the buckets whose merge hadn't landed; the pairs
  * refresh runs after the member merge of EVERY touched bucket and
  * reads members after it, so a crash between the two stages replays
  * into a consistent view. */
class BitextHarvestLink(input: String, membersStream: String,
                        pairsStream: String, numBuckets: Int = 16,
                        minLenRatioMicros: Long = 500000L) extends Link {
  require(numBuckets >= 1, s"numBuckets >= 1, got $numBuckets")
  val inputs: Seq[String] = Seq(input)
  val output: Option[String] = None // onBatch: two bucketed streams

  private val membersSchema = StructType(Seq(
    StructField("cluster_key", StringType), StructField("lang", StringType),
    StructField("url", StringType), StructField("text", StringType),
    StructField("bucket", IntegerType)))
  private val pairsSchema = StructType(Seq(
    StructField("cluster_key", StringType),
    StructField("src_lang", StringType), StructField("dst_lang", StringType),
    StructField("src_idx", LongType), StructField("dst_idx", LongType),
    StructField("src_sentence", StringType),
    StructField("dst_sentence", StringType),
    StructField("mid_delta_micros", LongType),
    StructField("len_ratio_micros", LongType),
    StructField("bucket", IntegerType)))

  override def checkpointTarget: String = pairsStream

  override def setup(spark: SparkSession, registry: StreamRegistry): Unit = {
    registry.declare(membersStream, membersSchema, Seq("bucket"))
    registry.declare(pairsStream, pairsSchema, Seq("bucket"))
    // the bucket modulus is part of BOTH tables' layout — persisted
    // beside each schema, validated every start (a changed modulus
    // would split a cluster's members across buckets and strand its
    // stale pairs where the anti-join can never reach them)
    registry.pinBucketCount(membersStream, numBuckets)
    registry.pinBucketCount(pairsStream, numBuckets)
  }

  override def onBatch(spark: SparkSession, registry: StreamRegistry,
                       batch: DataFrame, batchId: Long): Unit = {
    val bm = BitextHarvestLink.clusterMembers(
        batch.select(col("url"), col("html"), col("text")))
      .withColumn("bucket",
        BitextHarvestLink.bucketOf(col("cluster_key"), numBuckets))
      .localCheckpoint()
    // recrawl wins: the old row of a re-arriving url is replaced,
    // never duplicated
    val touched = registry.mergeBuckets(membersStream, bm, batchId) {
      (old, bkMembers) =>
        old.join(bkMembers.select("cluster_key", "lang", "url"),
            Seq("cluster_key", "lang", "url"), "left_anti")
          .unionByName(bkMembers)
    }
    // pairs AFTER every touched bucket's member merge (see the crash
    // contract in the scaladoc)
    touched.foreach { bkt =>
      val aligned = registry
        .refreshPartitionMeta(pairsStream, bkt, "batch")
        .exists(_.toLong >= batchId)
      if (!aligned) {
        val clusters = bm.filter(col("bucket") === bkt)
          .select("cluster_key").distinct()
        val members = registry.readPartition(membersStream, bkt)
        // one document per (cluster, lang): lexicographically
        // first (url, text) — deterministic under arrival order
        val docs = members
          .join(clusters, Seq("cluster_key"), "left_semi")
          .groupBy("cluster_key", "lang")
          .agg(min(struct(col("url"), col("text"))).as("graft_w"))
          .select(col("cluster_key"), col("lang"),
            col("graft_w").getField("text").as("text"))
        val fresh = TextAnalysis.bitextAlign(docs,
          minLenRatioMicros = minLenRatioMicros)
        val kept = registry.readPartition(pairsStream, bkt)
          .join(clusters, Seq("cluster_key"), "left_anti")
        registry.refreshPartition(pairsStream, bkt,
          kept.unionByName(fresh), Map("batch" -> batchId.toString))
      }
    }
  }
}

object BitextHarvestLink {
  /** A page's (cluster_key, lang, url, text) membership row, from its
    * OWN hreflang alternates (q256's extraction): the page
    * self-identifies via the alternate whose href is its url; the
    * cluster key is the x-default member's href (the q244 rule).
    * Pages without a self-identifying alternate or an x-default row
    * contribute nothing (they cannot be clustered by this evidence). */
  def clusterMembers(pages: DataFrame): DataFrame = {
    val variants = pages.select(col("url"), col("text"),
      explode(WebText.hreflangLinks(col("html"))).as("graft_x"))
    // "x-default" is a ROLE, not a language: on real sites the
    // x-default href usually IS one of the concrete pages, and taking
    // its self-match as a membership would enroll that page twice
    // (real lang + 'x-default') — bitextAlign would then pair its
    // identical text against itself as a degenerate "translation"
    val self = variants.filter(col("graft_x.href") === col("url") &&
        col("graft_x.lang") =!= "x-default")
      .select(col("url"), col("text"), col("graft_x.lang").as("lang"))
    val clusterOf = variants.filter(col("graft_x.lang") === "x-default")
      .select(col("url"), col("graft_x.href").as("cluster_key")).distinct()
    self.join(clusterOf, Seq("url"))
      .select("cluster_key", "lang", "url", "text")
  }

  /** Cluster-hash bucket id ([[StreamRegistry.bucketOf]], the one
    * layout-defining hash — keyed by cluster so one article's
    * translations land in ONE bucket). */
  def bucketOf(clusterKey: Column, numBuckets: Int): Column =
    StreamRegistry.bucketOf(clusterKey, numBuckets)
}
