package graft.runtime

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** A processing node in a chained-stream pipeline — the Spark-native `Link`
  * (reference `src/catenae/catenae.py:66`, subclassing idiom
  * `src/examples/loop_filter/main.py:4-11`).
  *
  * Mapping (SURVEY.md §1.4 / §7.1):
  *  - N input streams consumed uniformly → union of streaming reads
  *    (reference round-robin poll, `catenae.py:435-451`);
  *  - per-message `transform` with falsy-drop → a DataFrame transformation;
  *    the exact O3 semantics (`return None` ⇒ drop, `catenae.py:456-461`)
  *    are available typed via [[Link.mapTransform]];
  *  - emit to default output stream → `writeStream` into the registry
  *    (`catenae.py:461-465`);
  *  - receiver-group offset progress → one checkpoint per (link, output):
  *    restart resumes exactly where it left off, upgrading the broker's
  *    at-least-once commit (`catenae.py:469-470`) to exactly-once;
  *  - scale-out replicas of a receiver group → partition parallelism of
  *    the single query (no process replication to manage);
  *  - manual batch-ack mode (`progress_without_commit` + explicit
  *    `commit()`, `catenae.py:424-427,453-454`) has NO separate API here
  *    by design: Structured Streaming checkpoints commit per micro-batch
  *    exactly-once, which strictly dominates the reference's opt-out of
  *    its at-least-once commit; batch-granular side-effect control, the
  *    one thing manual ack bought, is [[onBatch]] (SURVEY §2.1 O5).
  *
  * [[start]] is the ONE micro-batch path of the runtime (the reference's
  * single consume → transform → emit → commit loop, `catenae.py:435-473`):
  * `setup`, union the inputs, `transform`, then either the file sink into
  * `output` or — `output = None` — a `foreachBatch` sink calling
  * [[onBatch]]. A multi-stream link declares its streams in [[setup]] and
  * writes them in [[onBatch]]; it never wires its own query.
  */
trait Link {
  /** Link name ≈ receiver group (reference defaults it to the class name,
    * `catenae.py:117-120`). */
  def name: String = getClass.getSimpleName.stripSuffix("$")

  /** Input stream names (uniform consume — union semantics, O2). */
  def inputs: Seq[String]

  /** Default output stream (None ⇒ the batch goes to [[onBatch]]). */
  def output: Option[String]

  /** The user transform — whole-DataFrame form so Catalyst optimizes it;
    * row-wise Option semantics via [[Link.mapTransform]]. */
  def transform(df: DataFrame): DataFrame = df

  /** One-time hook before the query starts (reference `setup`,
    * `catenae.py:285-287`): declare and pin the streams [[onBatch]]
    * writes, so a downstream link can attach before the first batch. */
  def setup(spark: SparkSession, registry: StreamRegistry): Unit = {}

  /** The micro-batch body of a link with `output = None` (the
    * transformed batch and its id). The default is the terminal sink:
    * force the batch so the transform's work runs (side effects,
    * metrics) — an unmaterialized batch would silently discard the
    * computation while offsets advance. Multi-stream links override it;
    * the batch id is what keys their exactly-once rewrites. */
  def onBatch(spark: SparkSession, registry: StreamRegistry,
              batch: DataFrame, batchId: Long): Unit =
    batch.foreach(_ => ())

  /** The checkpoint's target name under `checkpoints/<name>/` — the
    * default output, or `<name>_sink` for a terminal link. A link that
    * writes other streams names the stream its checkpoint is kept for. */
  def checkpointTarget: String = output.getOrElse(s"${name}_sink")

  /** Wire inputs → transform → output and start the streaming query
    * (reference `start()`, `catenae.py:262-314`; `embedded=True` ≈ just
    * not blocking on the returned query). */
  def start(spark: SparkSession, registry: StreamRegistry,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    setup(spark, registry)
    // lenient union: the reference's streams are schemaless — columns
    // missing from one input surface as nulls rather than failing the wire
    val in = inputs.map(registry.readStream)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val out = transform(in)
    val writer = out.writeStream
      .option("checkpointLocation", registry.checkpointDir(name, checkpointTarget))
      .trigger(trigger)
    output match {
      case Some(stream) =>
        // declare so a downstream link can attach before our first batch.
        // The file sink's _spark_metadata commit log is what upgrades the
        // output to exactly-once — and it makes this stream SINGLE-
        // streaming-writer: batch appends (registry.write) land outside
        // the log and would be invisible to every reader, so the registry
        // refuses them on sink-owned directories. Fan-in topologies give
        // each producer its own stream and union at the consumer.
        registry.declare(stream, out.schema)
        writer.format(registry.format)
          .option("path", s"${registry.root}/streams/$stream")
          .start()
      case None =>
        writer.foreachBatch { (batch: DataFrame, batchId: Long) =>
          onBatch(spark, registry, batch, batchId)
        }.start()
    }
  }
}

object Link {
  /** Exact O3 per-message semantics: `f` returns None ⇒ message dropped
    * (the reference's falsy-return filter, `catenae.py:461`), made explicit
    * as Option instead of Python truthiness. */
  def mapTransform[T, U: Encoder](ds: Dataset[T])(f: T => Option[U]): Dataset[U] =
    ds.flatMap(f(_))(implicitly[Encoder[U]])
}
