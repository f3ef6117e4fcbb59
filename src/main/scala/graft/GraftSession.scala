package graft

import org.apache.spark.sql.SparkSession

/** Canonical session builder for the engine — the tuning a deployment
  * starts from (local or cluster):
  *
  *  - AQE on (runtime re-planning, skew-join splitting, partition
  *    coalescing) — the first line of defense at 100 TB;
  *  - UTC session timezone (oracle/parity discipline, SURVEY.md §5.2);
  *  - nanos-as-long parquet reads (fixture `events.ts` is TIMESTAMP(NANOS);
  *    see `Tables.events` for the µs conversion);
  *  - the native SQL functions ([[graft.functions.GraftExtensions]]) —
  *    the only way they are installed, so every session that needs them
  *    (benches, `Verify`, the test suites) is built here.
  *
  * Shuffle partitions are caller-set: match cores in local mode (not the
  * 200 default), ~2-3× total executor cores on a cluster.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
}
