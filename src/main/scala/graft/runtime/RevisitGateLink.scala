package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType}
import graft.ops.Warc

/** Streaming revisit-record dedup — [[graft.ops.Warc.revisitDedup]]'s
  * semantics as a live archive writer with CROSS-BATCH digest state:
  * the first capture of a payload EVER SEEN becomes a full `response`
  * record; every later capture — in the same batch or any batch after
  * it — becomes a ~200-byte `revisit` stub naming that first capture.
  * This is the arrival-order archive semantic (first capture in TIME
  * wins; the batch op's min-uri rule is the deterministic choice for a
  * static frame), and it is what turns a recrawling fetch loop into an
  * archive that stores each payload once.
  *
  * A later capture stubs EVEN AT THE SAME URL (a recrawl of an
  * unchanged page — the most common crawl event — refers to its own
  * earlier capture, which is ordinary WARC: same Refers-To-Target-URI,
  * earlier date): revisit detection is by DIGEST rank, never by url
  * inequality.
  *
  * State: `seenStream` `(digest, first_url, first_batch, bucket)` —
  * the digest→first-capture registry, hive-partitioned into
  * `numBuckets` FIXED digest-hash buckets and merged per touched
  * bucket ([[StreamRegistry.refreshPartition]], per-bucket `_batch`
  * marks — the [[FrontierLink]] count-merge discipline; the modulus
  * pins via [[StreamRegistry.pinBucketCount]]). Per batch: the batch's
  * rows LEFT-join the prior state on digest — rows from EARLIER
  * batches only: `first_batch < batchId` filters out state a crashed
  * attempt of THIS batch already merged, so a replay relabels nothing
  * — within-batch duplicates rank behind the batch's
  * lexicographically first url, and only genuinely new digests merge
  * into exactly the buckets that gained one. Records land in
  * `outputStream` `(url, digest, is_revisit, refers_to, warc_record,
  * batch)` as a batch-partition REWRITE
  * ([[StreamRegistry.refreshPartition]]), so both the output and the
  * state are exactly-once under replay.
  *
  * Scale shape: per batch, one digest-keyed join of the BATCH against
  * the touched buckets of the state (bucket-pruned reads), one
  * within-batch window, and state writes ∝ buckets that gained a NEW
  * digest — a steady-state recrawl batch (every payload already
  * registered) rewrites no state at all. */
class RevisitGateLink(input: String, outputStream: String,
                      seenStream: String, numBuckets: Int = 16,
                      uriCol: String = "url", textCol: String = "text",
                      date: String = "2026-01-01T00:00:00Z") extends Link {
  require(numBuckets >= 1, s"numBuckets >= 1, got $numBuckets")
  val inputs: Seq[String] = Seq(input)
  val output: Option[String] = None // onBatch: output + state streams

  private val outSchema = StructType(Seq(
    StructField("url", StringType), StructField("digest", StringType),
    StructField("is_revisit", BooleanType),
    StructField("refers_to", StringType),
    StructField("warc_record", StringType),
    StructField("batch", LongType)))
  private val seenSchema = StructType(Seq(
    StructField("digest", StringType), StructField("first_url", StringType),
    StructField("first_batch", LongType), StructField("bucket", IntegerType)))

  override def checkpointTarget: String = outputStream

  override def setup(spark: SparkSession, registry: StreamRegistry): Unit = {
    registry.declare(outputStream, outSchema, Seq("batch"))
    registry.declare(seenStream, seenSchema, Seq("bucket"))
    registry.pinBucketCount(seenStream, numBuckets)
  }

  override def onBatch(spark: SparkSession, registry: StreamRegistry,
                       batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    // within-batch capture rank per digest (1 = the batch's first;
    // identical duplicate rows rank arbitrarily among themselves,
    // where either labeling yields the same output set)
    val wDigest = Window.partitionBy("digest").orderBy(col("url").asc)
    val b = batch
      .filter(col(textCol).isNotNull && col(uriCol).isNotNull)
      .select(col(uriCol).as("url"), col(textCol).as("text"))
      .withColumn("digest", md5(encode(col("text"), "UTF-8")))
      .withColumn("bucket",
        StreamRegistry.bucketOf(col("digest"), numBuckets))
      .withColumn("graft_rn", row_number().over(wDigest))
      .withColumn("graft_batch_first",
        min(col("url")).over(Window.partitionBy("digest")))
      .localCheckpoint()
    // touched-bucket ids: bounded by numBuckets — control-plane
    val touched = b.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    // prior state for the touched buckets only (bucket-pruned);
    // rows a crashed attempt of THIS batch merged are filtered so
    // a replay labels the output identically. Deliberately LAZY:
    // both consumers (the output join, the fresh anti-join)
    // evaluate BEFORE any seenStream rotate, so the reads are
    // consistent, column-pruned, and never materialize the whole
    // digest registry per batch
    val prior = touched.map(bkt =>
        registry.readPartition(seenStream, bkt)).reduceOption(_ unionByName _)
      .getOrElse(registry.readPartition(seenStream, 0).limit(0))
      .filter(col("first_batch") < batchId)
    // revisit detection is by DIGEST rank: a prior capture (any
    // url, any batch) or a lower-ranked same-batch sibling makes
    // this row a stub — never url inequality, which would store a
    // same-url recrawl's payload twice
    val joined = b.join(prior.select(col("digest"),
        col("first_url").as("graft_prior")), Seq("digest"), "left")
      .withColumn("is_revisit",
        col("graft_prior").isNotNull || col("graft_rn") > 1)
      .withColumn("refers_to", when(col("is_revisit"),
        coalesce(col("graft_prior"), col("graft_batch_first")))
        .otherwise(lit("")))
    val out = joined.select(col("url"), col("digest"),
      col("is_revisit"), col("refers_to"),
      when(col("is_revisit"), Warc.revisitStub(col("url"),
          col("refers_to"), col("digest"), lit(date)))
        .otherwise(Warc.responseRecord(col("url"), col("text"),
          lit(date))).as("warc_record"))
    // batch-partition REWRITE: a replayed batch replaces its own
    // directory — the archive output is exactly-once, not merely
    // the state
    registry.refreshPartition(outputStream, batchId, out)
    // merge genuinely NEW digests into exactly the buckets that
    // gained one (a steady-state recrawl batch merges nothing)
    val fresh = b.filter(col("graft_rn") === 1)
      .join(prior.select("digest"), Seq("digest"), "left_anti")
      .select(col("digest"), col("url").as("first_url"),
        lit(batchId).as("first_batch"), col("bucket"))
      .localCheckpoint()
    registry.mergeBuckets(seenStream, fresh, batchId)(_ unionByName _)
    ()
  }
}
