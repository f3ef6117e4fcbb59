package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.runtime.StreamRegistry

/** Source/sink format surface (SURVEY.md §2.2 scans/sinks rows): the
  * registry over parquet (default), json, csv; hive-partitioned stream
  * layout; map + JSON serde function coverage (O13). */
class SourcesSinksSpec extends SparkSpec {

  private def df3 = {
    val s = spark
    import s.implicits._
    Seq((1L, "a", "2024-01"), (2L, "b", "2024-01"), (3L, "a", "2024-02"))
      .toDF("id", "k", "month")
  }

  test("Tables.events normalizes both ts generations to a session-zone timestamp") {
    val s = spark
    import s.implicits._
    // the micros generation: whatever testdata ships, ts comes back
    // TimestampType with the same micros DuckDB reads from the file
    val live = Tables.events(spark, SparkSpec.sf0001)
    assert(live.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    assert(live.limit(5).count() === 5)
    // the nanos generation is emulated by a raw INT64 ts column (the
    // nanosAsLong read shape): floor-div to micros, same output type
    val dir = Files.createTempDirectory("graft-events-nanos").toString
    Seq((1L, 1700000000123456789L), (2L, 1700000001999999999L))
      .toDF("event_id", "ts").write.parquet(s"$dir/events.parquet")
    val legacy = Tables.events(spark, dir).orderBy("event_id")
    assert(legacy.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    val micros = legacy.select(unix_micros(col("ts"))).collect().map(_.getLong(0))
    assert(micros.toSeq === Seq(1700000000123456L, 1700000001999999L))
  }

  test("registry roundtrip over json format") {
    val reg = new StreamRegistry(spark,
      Files.createTempDirectory("graft-json").toString, format = "json")
    reg.write(df3, "j")
    assert(reg.read("j").count() === 3)
    assert(reg.read("j").schema.fieldNames.toSet === Set("id", "k", "month"))
  }

  test("registry roundtrip over csv format") {
    val reg = new StreamRegistry(spark,
      Files.createTempDirectory("graft-csv").toString, format = "csv")
    reg.write(df3, "c")
    val got = reg.read("c").orderBy("id").collect()
    assert(got.length === 3 && got(0).getLong(0) === 1L)
  }

  test("registry roundtrip over orc format") {
    val reg = new StreamRegistry(spark,
      Files.createTempDirectory("graft-orc").toString, format = "orc")
    reg.write(df3, "o")
    assert(reg.read("o").orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("registry roundtrip over text format (single string column)") {
    val s = spark
    import s.implicits._
    val reg = new StreamRegistry(spark,
      Files.createTempDirectory("graft-text").toString, format = "text")
    reg.write(Seq("line one", "line two").toDF("value"), "t")
    assert(reg.read("t").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("line one", "line two"))
  }

  test("partitioned stream layout prunes by partition") {
    val reg = new StreamRegistry(spark, Files.createTempDirectory("graft-part").toString)
    reg.write(df3, "p", partitionBy = Seq("month"))
    // hive layout on disk
    val dirs = new java.io.File(s"${reg.root}/streams/p").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("month=2024-01", "month=2024-02"))
    // partition filter prunes at plan level
    val q = reg.read("p").filter(col("month") === "2024-01")
    assert(q.count() === 2)
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(month"), scan.take(1500))
  }

  test("compaction preserves a hive-partitioned layout (and its pruning)") {
    val reg = new StreamRegistry(spark, Files.createTempDirectory("graft-cpart").toString)
    reg.write(df3, "cp", partitionBy = Seq("month"))
    reg.compact("cp")
    // partition dirs survive the rewrite
    val dirs = new java.io.File(s"${reg.root}/streams/cp").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("month=2024-01", "month=2024-02"))
    // a post-compaction partitioned append still composes + prunes
    reg.write(df3, "cp", partitionBy = Seq("month"))
    val q = reg.read("cp").filter(col("month") === "2024-01")
    assert(q.count() === 4)
    assert(q.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(month"))
  }

  test("refreshPartition rotates ONE hive bucket: self-referential " +
    "per-bucket merge, per-partition meta, replay REWRITES instead of " +
    "appending, a crash rolls back the bucket alone, sibling buckets " +
    "stay byte-identical") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
      StructField, StructType}
    val s = spark
    import s.implicits._
    val reg = new StreamRegistry(spark,
      Files.createTempDirectory("graft-refpart").toString)
    reg.declare("pc", StructType(Seq(StructField("k", StringType),
      StructField("n", LongType), StructField("bucket", IntegerType))),
      Seq("bucket"))
    reg.refreshPartition("pc", 0, Seq(("a", 1L)).toDF("k", "n"),
      Map("batch" -> "0"))
    reg.refreshPartition("pc", 3, Seq(("z", 7L)).toDF("k", "n"),
      Map("batch" -> "0"))
    // whole-stream read reconstructs the partition column from the path
    assert(reg.read("pc").as[(String, Long, Int)].collect().toSet ===
      Set(("a", 1L, 0), ("z", 7L, 3)))
    def files(b: Int): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"${reg.root}/streams/pc/bucket=$b")
      d.listFiles().map(f =>
        f.getName -> (f.length(), f.lastModified())).toMap
    }
    val b3Before = files(3)
    // self-referential merge on bucket 0 — the incremental count-table
    // shape, scoped to one bucket
    reg.refreshPartition("pc", 0,
      reg.readPartition("pc", 0)
        .unionByName(Seq(("a", 2L), ("b", 5L)).toDF("k", "n"))
        .groupBy("k").agg(sum("n").as("n")),
      Map("batch" -> "1"))
    assert(reg.readPartition("pc", 0).as[(String, Long)].collect().toMap ===
      Map("a" -> 3L, "b" -> 5L))
    assert(reg.refreshPartitionMeta("pc", 0, "batch") === Some("1"))
    assert(reg.refreshPartitionMeta("pc", 3, "batch") === Some("0"))
    assert(files(3) === b3Before) // the untouched bucket never rewrote
    // a replayed merge REPLACES the bucket: same contents, no dup rows
    reg.refreshPartition("pc", 0,
      Seq(("a", 3L), ("b", 5L)).toDF("k", "n"), Map("batch" -> "1"))
    assert(reg.readPartition("pc", 0).count() === 2)
    assert(reg.read("pc").count() === 3)
    // crash between the two renames: live bucket gone, hidden .old
    // holds the committed copy → next read rolls the BUCKET back
    val dir = new java.io.File(s"${reg.root}/streams/pc/bucket=0")
    val old = new java.io.File(s"${reg.root}/streams/pc/.bucket=0.old")
    assert(dir.renameTo(old))
    assert(reg.readPartition("pc", 0).as[(String, Long)].collect().toMap ===
      Map("a" -> 3L, "b" -> 5L))
    assert(reg.refreshPartitionMeta("pc", 0, "batch") === Some("1"))
    // an abandoned .compacting (crash before any rename) is swept
    val tmp = new java.io.File(s"${reg.root}/streams/pc/.bucket=5.compacting")
    assert(tmp.mkdirs())
    assert(reg.read("pc").count() === 3)
    assert(!tmp.exists())
    // a never-written partition reads empty (and never errors)
    assert(reg.readPartition("pc", 9).count() === 0)
    // guards: the partition column is path-encoded, streams must be
    // declared (the column's type is not inferable from the data)
    intercept[IllegalArgumentException] {
      reg.refreshPartition("pc", 1,
        Seq(("x", 1L, 1)).toDF("k", "n", "bucket"))
    }
    intercept[IllegalArgumentException] {
      reg.refreshPartition("pc-nope", 0, Seq(("x", 1L)).toDF("k", "n"))
    }
    // a partition value must stay a safe path segment
    intercept[IllegalArgumentException] {
      reg.refreshPartition("pc", "../escape", Seq(("x", 1L)).toDF("k", "n"))
    }
    // the bucket modulus pins on first call and refuses to drift: a
    // changed value would route keys to different buckets than their
    // existing rows
    reg.pinBucketCount("pc", 16)
    reg.pinBucketCount("pc", 16) // same value re-pins fine
    intercept[IllegalArgumentException] { reg.pinBucketCount("pc", 32) }
  }

  test("mergeBuckets: a replayed batch id rewrites no bucket, a later " +
    "batch id merges again") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
      StructField, StructType}
    val s = spark
    import s.implicits._
    val reg = new StreamRegistry(spark,
      Files.createTempDirectory("graft-mergebk").toString)
    reg.declare("mb", StructType(Seq(StructField("k", StringType),
      StructField("n", LongType), StructField("bucket", IntegerType))),
      Seq("bucket"))
    def sumMerge(old: DataFrame, slice: DataFrame): DataFrame =
      old.unionByName(slice).groupBy("k").agg(sum("n").as("n"))
    def files(b: Int): Set[String] =
      new java.io.File(s"${reg.root}/streams/mb/bucket=$b").listFiles()
        .map(_.getName).toSet
    def bucket(b: Int): Map[String, Long] =
      reg.readPartition("mb", b).as[(String, Long)].collect().toMap
    val batch1 = Seq(("a", 1L, 0), ("b", 2L, 3), ("c", 4L, 3))
      .toDF("k", "n", "bucket")
    assert(reg.mergeBuckets("mb", batch1, 1L)(sumMerge) === Seq(0, 3))
    assert(bucket(0) === Map("a" -> 1L))
    assert(bucket(3) === Map("b" -> 2L, "c" -> 4L))
    val (b0, b3) = (files(0), files(3))
    // replay of batch 1: the touched ids come back, but every bucket's
    // mark already covers the batch — nothing rotates, nothing doubles
    assert(reg.mergeBuckets("mb", batch1, 1L)(sumMerge) === Seq(0, 3))
    assert(files(0) === b0 && files(3) === b3)
    assert(bucket(0) === Map("a" -> 1L))
    // a later batch merges into the bucket it touches, and only there
    assert(reg.mergeBuckets("mb", Seq(("a", 5L, 0)).toDF("k", "n", "bucket"),
      2L)(sumMerge) === Seq(0))
    assert(bucket(0) === Map("a" -> 6L))
    assert(files(3) === b3)
    assert(reg.refreshPartitionMeta("mb", 0, "batch") === Some("2"))
    assert(reg.refreshPartitionMeta("mb", 3, "batch") === Some("1"))
  }

  test("recover deletes a stale .old left by a crash AFTER the swap") {
    val reg = new StreamRegistry(spark, Files.createTempDirectory("graft-rec").toString)
    val s = spark
    import s.implicits._
    reg.write(Seq((1L, "keep")).toDF("id", "v"), "r")
    // simulate: swap completed (dir = compacted), delete(old) never ran
    val stale = new java.io.File(s"${reg.root}/streams/r.old")
    stale.mkdirs()
    java.nio.file.Files.writeString(stale.toPath.resolve("junk"), "stale")
    assert(reg.read("r").count() === 1) // read triggers recover
    assert(!stale.exists, ".old must be cleaned, not leaked")
    reg.compact("r") // and the next compact's rotate works again
    assert(reg.read("r").collect().map(_.getString(1)).toSeq === Seq("keep"))
  }

  test("stream compaction: many appends collapse to one file, data intact") {
    val reg = new StreamRegistry(spark, Files.createTempDirectory("graft-compact").toString)
    (1 to 5).foreach { i =>
      val s = spark
      import s.implicits._
      reg.write(Seq((i.toLong, s"v$i")).toDF("id", "v"), "c")
    }
    val before = new java.io.File(s"${reg.root}/streams/c")
      .listFiles.count(_.getName.endsWith(".parquet"))
    assert(before >= 5)
    reg.compact("c", numFiles = 1)
    val after = new java.io.File(s"${reg.root}/streams/c")
      .listFiles.count(_.getName.endsWith(".parquet"))
    assert(after === 1)
    assert(reg.read("c").collect().map(_.getLong(0)).sorted.toSeq === (1L to 5L))
  }

  test("compaction crash recovery: stranded .old dir is rolled back on next read") {
    val s = spark
    import s.implicits._
    val reg = new StreamRegistry(spark, Files.createTempDirectory("graft-recover").toString)
    reg.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "r")
    // simulate a crash between compact()'s two renames: stream dir rotated
    // to .old, replacement never swapped in, stale .compacting left behind
    val dir = new java.io.File(s"${reg.root}/streams/r")
    val old = new java.io.File(s"${reg.root}/streams/r.old")
    val tmp = new java.io.File(s"${reg.root}/streams/r.compacting")
    assert(dir.renameTo(old))
    assert(tmp.mkdirs())
    val got = reg.read("r").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(1L, 2L))   // rolled back and readable
    assert(dir.exists && !old.exists && !tmp.exists)
  }

  test("monitoring listener captures per-batch progress for link queries") {
    val s = spark
    import s.implicits._
    val reg = new StreamRegistry(spark, Files.createTempDirectory("graft-mon").toString)
    val mon = new graft.runtime.Monitoring(spark, "testuid")
    mon.start()
    try {
      object Pass extends graft.runtime.Link {
        val inputs = Seq("m_in"); val output = Some("m_out")
      }
      reg.write(Seq("a", "b").toDF("value"), "m_in")
      Pass.start(spark, reg).awaitTermination()
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (mon.snapshot().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val recs = mon.snapshot()
      assert(recs.nonEmpty)
      assert(recs.exists(_.numInputRows == 2), recs.mkString(","))
      assert(recs.forall(_.uid == "testuid"))
    } finally mon.stop()
  }

  test("registry guards: partition-layout drift and sink-owned streams " +
    "are refused before they poison readers") {
    val s = spark
    import s.implicits._
    val reg = new StreamRegistry(spark,
      Files.createTempDirectory("graft-guard").toString)
    reg.write(df3, "g", partitionBy = Seq("month"))
    // a conflicting layout fails the WRITER, not every later reader
    intercept[IllegalArgumentException] { reg.write(df3, "g") }
    intercept[IllegalArgumentException] {
      reg.write(df3, "g", partitionBy = Seq("id"))
    }
    assert(reg.read("g").count() === df3.count())
    // a streaming-file-sink output (has _spark_metadata) owns its commit
    // log: batch appends would be invisible to every reader — refused
    reg.write(Seq("x").toDF("value"), "owned")
    assert(new java.io.File(
      s"${reg.root}/streams/owned/_spark_metadata").mkdirs())
    intercept[IllegalStateException] { reg.write(Seq("y").toDF("value"), "owned") }
  }

  test("monitoring buffer drops oldest past the cap; drain() empties it") {
    val mon = new graft.runtime.Monitoring(spark, "u", maxRecords = 3)
    (1 to 5).foreach { i =>
      mon.record(graft.runtime.Monitoring.Progress("u", "q", i.toLong, i.toLong, 0L))
    }
    assert(mon.snapshot().map(_.batchId) === Seq(3L, 4L, 5L))
    assert(mon.drain().map(_.batchId) === Seq(3L, 4L, 5L))
    assert(mon.snapshot().isEmpty && mon.drain().isEmpty)
    // the buffer keeps working after a drain
    mon.record(graft.runtime.Monitoring.Progress("u", "q", 9L, 0L, 0L))
    assert(mon.snapshot().map(_.batchId) === Seq(9L))
  }

  test("nextSeq is atomic-rewrite durable and refuses non-local roots") {
    val reg = new StreamRegistry(spark,
      Files.createTempDirectory("graft-seq2").toString)
    assert(reg.nextSeq("s") === 1L)
    assert(reg.nextSeq("s") === 2L)
    assert(reg.peekSeq("s") === 2L)
    // no temp debris from the write-then-rename discipline
    val debris = new java.io.File(s"${reg.root}/seq").listFiles()
      .map(_.getName).filter(_.endsWith(".tmp"))
    assert(debris.isEmpty, debris.mkString(","))
    // a non-file scheme would give every host a private local counter —
    // colliding seqs with zero errors; must fail fast instead
    val bad = new StreamRegistry(spark, "hdfs://nn/graft")
    intercept[UnsupportedOperationException] { bad.nextSeq("s") }
  }

  test("JSON serde roundtrip: to_json / from_json / schema_of_json (O13)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "x", 2.5)).toDF("id", "name", "score")
    val packed = df.select(to_json(struct(col("id"), col("name"), col("score"))).as("j"))
    val json = packed.collect()(0).getString(0)
    assert(json === """{"id":1,"name":"x","score":2.5}""")
    val schema = packed.select(schema_of_json(lit(json))).collect()(0).getString(0)
    assert(schema.contains("id") && schema.contains("BIGINT"))
    val back = packed.select(from_json(col("j"),
        lit("id BIGINT, name STRING, score DOUBLE")).as("s"))
      .select("s.*").collect()(0)
    assert(back.getLong(0) === 1L && back.getString(1) === "x" && back.getDouble(2) === 2.5)
  }

  test("map functions: build, access, merge, transform values") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Seq("a", "b"), Seq(10, 20))).toDF("id", "ks", "vs")
      .select(col("id"), map_from_arrays(col("ks"), col("vs")).as("m"))
    val r = df.select(
      map_keys(col("m")).as("keys"),
      map_values(col("m")).as("vals"),
      element_at(col("m"), "b").as("b"),
      map_concat(col("m"), map(lit("c"), lit(30))).as("m2"),
      transform_values(col("m"), (_, v) => v * 2).as("doubled")).collect()(0)
    assert(r.getSeq[String](0).toSeq === Seq("a", "b"))
    assert(r.getSeq[Int](1).toSeq === Seq(10, 20))
    assert(r.getInt(2) === 20)
    assert(r.getMap[String, Int](3).toMap === Map("a" -> 10, "b" -> 20, "c" -> 30))
    assert(r.getMap[String, Int](4).toMap === Map("a" -> 20, "b" -> 40))
  }
}
