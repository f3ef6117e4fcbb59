package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}
import graft.ops.Warc

/** Streaming SEGMENT export — the terminal stage that turns the
  * curated `(url, text)` stream into a real archive: per micro-batch,
  * WET conversion records ([[graft.ops.Warc.wetRecords]]) pack into
  * target-sized segments ([[graft.ops.Warc.packSegments]] — records
  * never split, segments target-sized) and the batch emits BOTH
  * halves of the random-access contract: the segment payloads
  * (`segmentsStream` `(chunk_id, payload, batch)` — plain
  * concatenation or the `.warc.gz` per-record-member layout) and
  * their CDXJ index lines (`indexStream` `(urlkey, chunk_id, rec_idx,
  * cdxj_line, batch)` — locators derived by
  * [[graft.ops.Warc.parseWarcIndex]] over the written payloads, so
  * they are correct for WHICHEVER layout was written, compressed
  * spans included). Slicing a segment at an index line's
  * offset/length re-parses exactly that record
  * ([[graft.ops.Warc.fetchByLocator]]) — the spec drives the full
  * round-trip through the link's own outputs.
  *
  * Segment ids are globally unique across the stream's lifetime:
  * `shard = batchId · shardsPerBatch + j` feeds [[graft.ops.Warc
  * .packSegments]]' `shard · 2²⁰ + seg` ids, so batch 7's segments
  * can never collide with batch 8's. `shardsPerBatch` is the
  * packing parallelism WITHIN a batch (records route to a shard by
  * url hash — deterministic; each shard is one window partition =
  * one writer's worth of bytes): one shard serializes the whole
  * batch through a single task, so size it to the batch volume /
  * target segment size.
  *
  * Both outputs are EXACTLY-ONCE under a mid-batch crash: each batch
  * REWRITES its own `batch=<id>` partitions
  * ([[StreamRegistry.refreshPartition]] — the export-link
  * discipline), so a crash-replayed batch replaces its directories
  * instead of duplicating published segments or index lines.
  * Per-batch work: a scan-stage record projection, two windows per
  * shard (the packing), one segment-keyed concat aggregate, and the
  * stateless index cursor over the BATCH's segments — nothing
  * accumulates, nothing corpus-shaped. */
class SegmentExportLink(input: String, segmentsStream: String,
                        indexStream: String,
                        uriCol: String = "url", textCol: String = "text",
                        targetSegmentBytes: Long = 1L << 30,
                        shardsPerBatch: Int = 8,
                        gzip: Boolean = false,
                        filenamePattern: String = "seg-{}.warc",
                        timestamp: String = "20260101000000",
                        date: String = "2026-01-01T00:00:00Z") extends Link {
  require(shardsPerBatch >= 1, s"shardsPerBatch >= 1, got $shardsPerBatch")
  require(filenamePattern.split("\\{\\}", -1).length == 2,
    s"filenamePattern needs exactly one {} segment-id slot, got " +
      s"'$filenamePattern'")
  val inputs: Seq[String] = Seq(input)
  val output: Option[String] = None // onBatch: two streams below

  private val segSchema = StructType(Seq(
    StructField("chunk_id", LongType), StructField("payload", BinaryType),
    StructField("batch", LongType)))
  private val idxSchema = StructType(Seq(
    StructField("urlkey", StringType), StructField("chunk_id", LongType),
    StructField("rec_idx", LongType), StructField("cdxj_line", StringType),
    StructField("batch", LongType)))

  override def checkpointTarget: String = segmentsStream

  override def setup(spark: SparkSession, registry: StreamRegistry): Unit = {
    registry.declare(segmentsStream, segSchema, Seq("batch"))
    registry.declare(indexStream, idxSchema, Seq("batch"))
  }

  override def onBatch(spark: SparkSession, registry: StreamRegistry,
                       batch: DataFrame, batchId: Long): Unit = {
    val Array(pre, post) = filenamePattern.split("\\{\\}", -1)
    val recs = Warc.wetRecords(batch, uriCol, textCol, lit(date))
      .withColumn("graft_shard",
        lit(batchId * shardsPerBatch) +
          pmod(xxhash64(col(uriCol)), lit(shardsPerBatch.toLong)))
    val packed = Warc.packSegments(recs, shardCol = "graft_shard",
      ordCol = uriCol, recCol = "wet_record",
      targetSegmentBytes = targetSegmentBytes)
    val payloads =
      (if (gzip) Warc.segmentPayloadsGzip(spark, packed, "wet_record")
       else Warc.segmentPayloads(packed, "wet_record"))
        .localCheckpoint()
    registry.refreshPartition(segmentsStream, batchId, payloads)
    // locators from the WRITTEN payloads (correct for either
    // layout — compressed member spans included)
    val index = Warc.cdxjLines(
        Warc.parseWarcIndex(spark, payloads),
        filename = concat(lit(pre), col("chunk_id").cast("string"),
          lit(post)),
        timestamp = lit(timestamp))
      .select("urlkey", "chunk_id", "rec_idx", "cdxj_line")
    registry.refreshPartition(indexStream, batchId, index)
  }
}
