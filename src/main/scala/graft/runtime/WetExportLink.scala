package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.ops.Warc

/** Streaming WET export — [[graft.ops.Warc.wetRecords]] behind a
  * runtime [[Link]]: the crawl loop's TERMINAL stage, turning the
  * curated `(url, text)` stream into the corpus's interchange artifact.
  * Each micro-batch emits one `(url, wet_record)` row per document;
  * the `wet_record` column concatenated in any order IS a valid WET
  * file (the [[graft.ops.Warc.parseWarcText]] round-trip is the format
  * contract, oracle-pinned by q253). Compose after the curation gates:
  * WarcHttpIngestLink → CanonicalGateLink → MainContentLink →
  * NearDupGateLink → THIS, and the loop that started from WARC bytes
  * ends in WET bytes.
  *
  * `date` stamps every record's WARC-Date (an export job passes its
  * run timestamp; the default keeps spec plans deterministic).
  * The output is EXACTLY-ONCE under a mid-batch crash, not merely its
  * offsets: each micro-batch REWRITES its own `batch=<id>` partition
  * ([[StreamRegistry.refreshPartition]] — the audit-log discipline), so
  * a crash-replayed batch replaces its directory instead of appending
  * duplicate records into the published artifact.
  * Per-batch work is one scan-stage concat projection over the batch:
  * nothing accumulates, nothing shuffles. */
class WetExportLink(input: String, outputStream: String,
                    uriCol: String = "url", textCol: String = "text",
                    date: String = "2026-01-01T00:00:00Z") extends Link {
  val inputs: Seq[String] = Seq(input)
  val output: Option[String] = None // onBatch: declared + written below

  private val outSchema = StructType(Seq(
    StructField("url", StringType), StructField("wet_record", StringType),
    StructField("batch", LongType)))

  override def checkpointTarget: String = outputStream

  override def setup(spark: SparkSession, registry: StreamRegistry): Unit =
    registry.declare(outputStream, outSchema, Seq("batch"))

  override def onBatch(spark: SparkSession, registry: StreamRegistry,
                       batch: DataFrame, batchId: Long): Unit = {
    val out = Warc.wetRecords(batch, uriCol, textCol, lit(date))
      .select(col(uriCol).as("url"), col("wet_record"))
    registry.refreshPartition(outputStream, batchId, out)
  }
}
