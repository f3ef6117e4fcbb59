package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Parquet table loaders over a scale-factor directory (TESTDATA.md).
  *
  * Plain `spark.read.parquet` so Catalyst owns pushdown/pruning: every
  * query's filters and projections reach the parquet scan (verified via
  * `.explain` in QueriesSpec). At cluster scale these would be
  * catalog-registered (partitioned/bucketed) tables; the loader shape —
  * declarative scan, no caching, no collect — is the same.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  /** `events.ts` has shipped as either parquet TIMESTAMP(NANOS) — which
    * Spark's vectorized reader rejects, hence the `nanosAsLong` conf and
    * the ns→us floor-`div` (matching DuckDB's truncation so oracle
    * comparisons agree) — or plain TIMESTAMP(MICROS), which arrives as
    * TIMESTAMP_NTZ. Dispatch on the read schema and normalize both to a
    * session-zone (UTC) TimestampType so downstream date functions see
    * one type regardless of which file generation is on disk. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Register every fixture table as a temp view so a SQL-first user can
    * drive the whole surface through `spark.sql` (the native functions
    * come with a session built by [[graft.GraftSession.builder]]). */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "documents", "embeddings")
      .foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
    events(spark, dir).createOrReplaceTempView("events")
  }
}
