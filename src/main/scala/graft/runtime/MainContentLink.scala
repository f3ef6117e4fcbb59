package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.ops.WebText

/** Streaming main-content extraction — [[graft.ops.WebText.mainContent]]
  * behind a runtime [[Link]]: consumes a stream of fetched `(url, html)`
  * pages and appends one `(url, n_blocks, n_kept, n_chars_kept,
  * main_text)` row per page, nav/footer chrome dropped.
  *
  * Runs via `foreachBatch` rather than the default streaming-DF wiring:
  * the selection's lag/lead window is unsupported on an unbounded
  * stream, but it is WELL-DEFINED per micro-batch — every page's blocks
  * derive from that page's own html row, so a batch boundary can never
  * split one page's window partition, and batch/streaming parity is
  * structural (spec-gated in StreamingCurationSpec). Offsets are
  * exactly-once via the link checkpoint; the single output write is
  * at-least-once under a mid-batch crash like any foreachBatch sink
  * (downstream dedup keys on url if it needs idempotence). Composes
  * between [[WarcHttpIngestLink]] (upstream decode) and the
  * quality/near-dup gates — the streaming form of the q215 WET path. */
class MainContentLink(input: String, outputStream: String,
                      minChars: Int = 80,
                      maxLinkMicros: Long = 500000L) extends Link {
  val inputs: Seq[String] = Seq(input)
  val output: Option[String] = None // onBatch: declared + written below

  // static output shape of WebText.mainContent — declared upfront in
  // setup() (the NearDupGateLink precedent) so a downstream link that
  // attaches before the first non-empty batch, or an empty input, never
  // hits StreamNotFoundError
  private val outSchema = StructType(Seq(
    StructField("url", StringType), StructField("n_blocks", LongType),
    StructField("n_kept", LongType), StructField("n_chars_kept", LongType),
    StructField("main_text", StringType)))

  override def checkpointTarget: String = outputStream

  override def setup(spark: SparkSession, registry: StreamRegistry): Unit =
    registry.declare(outputStream, outSchema)

  override def onBatch(spark: SparkSession, registry: StreamRegistry,
                       batch: DataFrame, batchId: Long): Unit = {
    val out = WebText.mainContent(batch, minChars = minChars,
      maxLinkMicros = maxLinkMicros)
    registry.write(out, outputStream)
  }
}
