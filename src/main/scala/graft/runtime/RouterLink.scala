package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-message multi-stream routing — the reference's `send(message,
  * stream=...)` with an explicit target (`src/catenae/catenae.py:319-324`):
  * a Link may emit each message to a different stream, not just its
  * default output.
  *
  * A [[Link]] on the shared micro-batch path: `route` is the transform
  * and tags rows with a `_stream` column; [[onBatch]] fans the
  * microbatch out to every named stream. The checkpoint is kept under
  * the target name `router`. Multi-sink writes are at-least-once on
  * crash-retry (same envelope as the reference's post-transform emit);
  * downstream links dedup or tolerate, or use a single-output [[Link]]
  * for exactly-once. */
trait RouterLink extends Link {
  val output: Option[String] = None

  /** Tag each row with its destination stream in a `_stream` column. */
  def route(df: DataFrame): DataFrame

  final override def transform(df: DataFrame): DataFrame = route(df)

  override def checkpointTarget: String = "router"

  override def onBatch(spark: SparkSession, registry: StreamRegistry,
                       batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try {
      // destination set per batch is small (control data, not row data)
      val targets = batch.select("_stream").distinct()
        .collect().map(_.getString(0))
      // _stream values are DATA-derived: validate like any untrusted
      // name (the Ingest URL discipline, StreamRegistry.validName) —
      // a null would silently route its rows nowhere while creating a
      // junk "null" stream, and "../x" or "a/b" would write outside
      // the registry's streams/ directory entirely
      targets.find(!StreamRegistry.validName(_)).foreach { bad =>
        throw new IllegalArgumentException(
          s"RouterLink '$name': invalid route target '$bad' — " +
            "_stream values must be non-null [A-Za-z0-9._-]+ tokens " +
            "not starting with '.'")
      }
      targets.foreach { t =>
        registry.write(batch.filter(col("_stream") === t).drop("_stream"), t)
      }
    } finally { batch.unpersist(); () }
  }
}
