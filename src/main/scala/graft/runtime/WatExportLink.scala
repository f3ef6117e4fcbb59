package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.ops.Warc

/** Streaming WAT export — [[graft.ops.Warc.watRecords]] behind a
  * runtime [[Link]]: the metadata sibling of [[WetExportLink]],
  * emitting one `(url, wat_record)` row per page of the input
  * `(url, html)` stream. The `wat_record` column concatenated in any
  * order IS a valid WAT file (the [[graft.ops.Warc.parseWarcText]]
  * round-trip + `from_json` re-derivation is the format contract,
  * oracle-pinned by q257). Run it off the SAME curated stream as the
  * WET link and a crawl's three artifacts — captures in, text out,
  * metadata out — all live in the registry.
  *
  * `date` stamps every record's WARC-Date (an export job passes its
  * run timestamp; the default keeps spec plans deterministic).
  * The output is EXACTLY-ONCE under a mid-batch crash, not merely its
  * offsets: each micro-batch REWRITES its own `batch=<id>` partition
  * ([[StreamRegistry.refreshPartition]] — the audit-log discipline), so
  * a crash-replayed batch replaces its directory instead of appending
  * duplicate records into the published artifact.
  * Per-batch work is one scan-stage regex/JSON projection over the
  * batch: nothing accumulates, nothing shuffles. */
class WatExportLink(input: String, outputStream: String,
                    uriCol: String = "url", htmlCol: String = "html",
                    contentTypeCol: String = "",
                    date: String = "2026-01-01T00:00:00Z") extends Link {
  val inputs: Seq[String] = Seq(input)
  val output: Option[String] = None // onBatch: declared + written below

  private val outSchema = StructType(Seq(
    StructField("url", StringType), StructField("wat_record", StringType),
    StructField("batch", LongType)))

  override def checkpointTarget: String = outputStream

  override def setup(spark: SparkSession, registry: StreamRegistry): Unit =
    registry.declare(outputStream, outSchema, Seq("batch"))

  override def onBatch(spark: SparkSession, registry: StreamRegistry,
                       batch: DataFrame, batchId: Long): Unit = {
    val out = Warc.watRecords(batch, uriCol, htmlCol, contentTypeCol,
        lit(date))
      .select(col(uriCol).as("url"), col("wat_record"))
    registry.refreshPartition(outputStream, batchId, out)
  }
}
