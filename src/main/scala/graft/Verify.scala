package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=q88_bm25_topk,... dumps a subset.
    val selected = Bench.selected()
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // The harness' pandas row comparator can't hash array/map/struct
        // cells (it crashed on exactly this twice) — refuse at dump time
        // so a non-scalar output column fails this query (stderr + missing
        // output, flagged via the manifest below), not a silent
        // scoreboard ERROR later.
        val nonScalar = df.schema.fields.filter(f => f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType |
               _: org.apache.spark.sql.types.StructType => true
          case _ => false
        })
        require(nonScalar.isEmpty,
          s"$name emits non-scalar column(s) the driver compare can't hash: " +
            nonScalar.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ") +
            " — project to scalars (CSV/fingerprint/explode) first")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a stale output from a previous run into the same outDir must
        // not let a now-failing query keep comparing green; cleanup is
        // best-effort — its own failure must not abort the whole dump
        try {
          val staleDir = Paths.get(s"$outDir/$name")
          if (Files.exists(staleDir)) {
            import scala.jdk.CollectionConverters._
            val walk = Files.walk(staleDir)
            try walk.sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.foreach(Files.delete)
            finally walk.close()
          }
        } catch { case c: Throwable =>
          System.err.println(s"[verify] $name stale-output cleanup failed: ${c.getMessage}")
        }
      }
    }
    // Manifest of every query ATTEMPTED: lets the local gate flag a query
    // that failed at dump time (missing dir) instead of silently shrinking
    // the "N/N pass" denominator. Extra file — the driver ignores it.
    Files.writeString(Paths.get(s"$outDir/manifest.txt"),
      selected.map(_._1).mkString("\n"))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
