package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.ops.Warc

/** Streaming CDX index build — [[graft.ops.Warc.parseWarcIndex]] +
  * [[graft.ops.Warc.cdxjLines]] behind a runtime [[Link]]: as segments
  * of raw WARC bytes arrive on the `(chunk_id, payload)` input stream,
  * each micro-batch appends the records' CDXJ index lines, so the
  * crawl's random-access index grows WITH the corpus instead of being
  * a full-rescan batch job. With [[WetExportLink]] and
  * [[WatExportLink]] this completes the segment-artifact trio
  * (text / metadata / index) as live pipeline stages.
  *
  * `filenamePattern` names the segment a chunk's records live in —
  * the chunk id is spliced where `{}` appears (`"seg-{}.warc"` →
  * `seg-42.warc`), matching however the fetcher shards segments.
  * `timestamp` stamps the capture time column (an export job passes
  * its run time; the default keeps spec plans deterministic). Sorting
  * the accumulated lines by urlkey — the binary-search contract — is
  * the terminal export's job (the q131/q206 shard machinery), not the
  * per-batch write's. The output is EXACTLY-ONCE under a mid-batch
  * crash, not merely its offsets: each micro-batch REWRITES its own
  * `batch=<id>` partition ([[StreamRegistry.refreshPartition]] — the
  * audit-log discipline), so a crash-replayed batch replaces its
  * directory instead of appending duplicate index lines. Per-batch
  * work: the stateless per-partition index cursor over the BATCH's
  * chunks plus a scan-stage line projection; nothing accumulates,
  * nothing shuffles. */
class CdxIndexLink(input: String, outputStream: String,
                   filenamePattern: String = "seg-{}.warc",
                   timestamp: String = "20260101000000") extends Link {
  require(filenamePattern.split("\\{\\}", -1).length == 2,
    s"filenamePattern needs exactly one {} chunk-id slot, got " +
      s"'$filenamePattern'")
  val inputs: Seq[String] = Seq(input)
  val output: Option[String] = None // onBatch: declared + written below

  private val outSchema = StructType(Seq(
    StructField("urlkey", StringType), StructField("chunk_id", LongType),
    StructField("rec_idx", LongType), StructField("cdxj_line", StringType),
    StructField("batch", LongType)))

  override def checkpointTarget: String = outputStream

  override def setup(spark: SparkSession, registry: StreamRegistry): Unit =
    registry.declare(outputStream, outSchema, Seq("batch"))

  override def onBatch(spark: SparkSession, registry: StreamRegistry,
                       batch: DataFrame, batchId: Long): Unit = {
    val Array(pre, post) = filenamePattern.split("\\{\\}", -1)
    val out = Warc.cdxjLines(
        Warc.parseWarcIndex(batch.sparkSession, batch),
        filename = concat(lit(pre), col("chunk_id").cast("string"),
          lit(post)),
        timestamp = lit(timestamp))
      .select("urlkey", "chunk_id", "rec_idx", "cdxj_line")
    registry.refreshPartition(outputStream, batchId, out)
  }
}
