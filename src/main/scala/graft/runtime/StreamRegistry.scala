package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Paths, Path}
import java.nio.charset.StandardCharsets

/** Named-stream registry — the engine's analog of the reference's Stopover
  * broker (named, append-only, partitioned message logs created implicitly
  * on first put; reference `src/catenae/catenae.py:79-81`, `319-324`).
  *
  * A stream is a parquet directory under `root/streams/<name>` plus a
  * persisted schema (`root/schemas/<name>.json`) so streaming readers can
  * attach without sampling. Offset/commit progress (reference
  * `catenae.py:424-427`, `469-470`) is Structured Streaming's checkpoint
  * under `root/checkpoints/<link>/<target>` — per (consumer, stream), the
  * same ledger shape as the broker's per-(stream, receiver-group) offsets,
  * upgraded from at-least-once to exactly-once (SURVEY.md §2.1 O5).
  *
  * Scale: a stream directory is a plain partitioned parquet dataset —
  * writers append files, readers list + tail them; no driver-side state
  * beyond the schema file.
  */
class StreamRegistry(spark: SparkSession, val root: String,
                     val format: String = "parquet") {

  private def streamDir(name: String): String = s"$root/streams/$name"
  private def schemaPath(name: String): String = s"$root/schemas/$name.json"
  private def partitionsPath(name: String): String = s"$root/schemas/$name.partitions"
  def checkpointDir(link: String, target: String): String =
    s"$root/checkpoints/$link/$target"

  // ------- metadata IO goes through the Hadoop FileSystem API, like the
  // data path: a registry root on HDFS/S3A resolves schemas from every
  // host (java.nio would silently resolve "hdfs://…" as a LOCAL relative
  // path and report existing streams as missing from any other machine)
  private def fsFor(path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }
  private[runtime] def readTextIfExists(path: String): Option[String] = {
    val (p, fs) = fsFor(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        StandardCharsets.UTF_8))
      finally in.close()
    }
  }
  private[runtime] def writeText(path: String, text: String): Unit = {
    val (p, fs) = fsFor(path)
    val out = fs.create(p, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def exists(name: String): Boolean = {
    val (p, fs) = fsFor(schemaPath(name)); fs.exists(p)
  }

  def schemaOf(name: String): StructType =
    readTextIfExists(schemaPath(name)) match {
      case Some(json) => DataType.fromJson(json).asInstanceOf[StructType]
      case None       => throw new StreamNotFoundError(name)
    }

  /** Partition columns the stream was laid out with (empty = flat). */
  def partitionsOf(name: String): Seq[String] =
    readTextIfExists(partitionsPath(name))
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  private def persistSchema(name: String, schema: StructType,
                            partitionBy: Seq[String]): Unit = {
    writeText(schemaPath(name), schema.json)
    if (partitionBy.nonEmpty) writeText(partitionsPath(name), partitionBy.mkString(","))
  }

  /** Batch append — the `send` analog (reference `catenae.py:319-324`);
    * creates the stream implicitly like the broker's first `put`.
    * `partitionBy` lays the stream out hive-partitioned — at 100 TB a
    * stream is a partitioned dataset so consumers prune by partition. */
  def write(df: DataFrame, name: String, partitionBy: Seq[String] = Nil): Unit = {
    if (!exists(name)) persistSchema(name, df.schema, partitionBy)
    else {
      // a layout that disagrees with the stream's recorded partitioning
      // would interleave flat and hive-style files in one directory —
      // partition discovery then fails (or silently drops the partition
      // column) for EVERY reader, and compact() rewrites with the stale
      // recorded columns. Fail the writer, not the readers.
      val recorded = partitionsOf(name)
      require(partitionBy == recorded,
        s"stream '$name' is laid out with partitions $recorded but this " +
          s"write requested $partitionBy — mixed layouts break every reader")
    }
    // a directory carrying a streaming file-sink commit log is owned by
    // that sink (a Link output): batch readers list ONLY files recorded
    // in _spark_metadata, so an append here would be INVISIBLE to every
    // consumer — silent data loss, not a merge. Fail loudly; route
    // multi-producer topologies through their own streams instead.
    val (meta, mfs) = fsFor(s"${streamDir(name)}/_spark_metadata")
    if (mfs.exists(meta))
      throw new IllegalStateException(
        s"stream '$name' is a streaming-sink output (_spark_metadata " +
          "present): batch appends land outside its commit log and no " +
          "reader would ever see them")
    val w = df.write.mode("append").format(format)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .save(streamDir(name))
  }

  /** Batch read of a whole stream. */
  def read(name: String): DataFrame = {
    recover(name)
    spark.read.schema(schemaOf(name)).format(format).load(streamDir(name))
  }

  /** Streaming tail of a stream (file source; exactly-once with the
    * per-link checkpoint). */
  def readStream(name: String): DataFrame = {
    recover(name)
    spark.readStream.schema(schemaOf(name)).format(format).load(streamDir(name))
  }

  /** Compact a stream's many small appended files into `numFiles`
    * (maintenance analog of a table OPTIMIZE). Run in a maintenance
    * window: streaming consumers tailing the directory must be stopped
    * (checkpoints reset, since file identities change) AND producers must
    * be paused — an append racing the directory swap can land in the
    * rotated-out copy and be deleted with it. This is batch housekeeping
    * for downstream BATCH readers of a stream at scale, where thousands
    * of micro-appends otherwise dominate scan planning. A
    * hive-partitioned stream is rewritten with its recorded partition
    * columns ([[partitionsOf]]), so the layout — and partition pruning —
    * survives compaction.
    *
    * The swap uses the Hadoop `FileSystem` API so the same code works on
    * HDFS (atomic dir rename) and local FS. NOTE the two renames are not
    * one atomic commit: there is a window where the stream dir is absent,
    * and on an object store (S3A) "rename" is copy+delete — on the 100 TB
    * scale path back streams with a table format that has atomic commit
    * (or HDFS), and treat this as the local/HDFS maintenance tool. A crash
    * between the renames leaves `<dir>.old`, recovered by [[recover]]
    * (called automatically by [[read]]/[[readStream]]).
    *
    * Compacting a LINK-PRODUCED stream transfers ownership: the sink's
    * `_spark_metadata` commit log is rotated out with the old directory,
    * so the compacted stream becomes a plain registry-managed dataset.
    * The producing Link MUST restart with a fresh checkpoint (already
    * required above — file identities changed); resuming the old
    * checkpoint would recreate a commit log listing only post-compact
    * files and hide the compacted corpus from batch readers. */
  def compact(name: String, numFiles: Int = 1): Unit = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val dir = new HPath(streamDir(name))
    val tmp = new HPath(s"${streamDir(name)}.compacting")
    val old = new HPath(s"${streamDir(name)}.old")
    val parts = partitionsOf(name)
    val w = read(name).repartition(numFiles).write.format(format)
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).save(tmp.toString)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    if (!fs.rename(dir, old)) throw new java.io.IOException(s"cannot rotate $dir")
    if (!fs.rename(tmp, dir)) {
      fs.rename(old, dir) // roll back
      throw new java.io.IOException(s"cannot swap in compacted $name")
    }
    fs.delete(old, true); ()
  }

  /** Recover from a crash mid-[[compact]]: if `<dir>.old` exists and the
    * stream dir is gone, roll the original back; if BOTH exist the swap
    * completed and `.old` is the stale pre-compaction copy — deleted, or
    * it would leak a full copy and block every future compact's rotate
    * (valid because compact requires producers paused: nothing else can
    * have recreated the stream dir mid-swap). A leftover `.compacting`
    * dir is incomplete output and is dropped. */
  def recover(name: String): Unit = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val dir = new HPath(streamDir(name))
    val old = new HPath(s"${streamDir(name)}.old")
    val tmp = new HPath(s"${streamDir(name)}.compacting")
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    if (fs.exists(old)) {
      if (!fs.exists(dir)) fs.rename(old, dir) else fs.delete(old, true)
      ()
    }
    if (fs.exists(tmp)) { fs.delete(tmp, true); () }
    if (partitionsOf(name).nonEmpty) recoverPartitions(name)
  }

  /** Repair crashed [[refreshPartition]] rotates: the per-partition
    * `.X.old` / `.X.compacting` directories are DOT-PREFIXED so Spark's
    * file index never reads them as data or partition values; a leftover
    * `.old` whose live dir vanished rolls back, a leftover next to a
    * live dir (swap completed) or a `.compacting` (incomplete output)
    * is dropped. One flat listing of the stream dir — the same listing
    * the subsequent load pays anyway. */
  private def recoverPartitions(name: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val (dirP, fs) = fsFor(streamDir(name))
    if (!fs.exists(dirP)) return
    fs.listStatus(dirP).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(".") && n.endsWith(".old")) {
        val live = new HPath(dirP,
          n.stripPrefix(".").stripSuffix(".old"))
        if (!fs.exists(live)) fs.rename(st.getPath, live)
        else fs.delete(st.getPath, true)
        ()
      } else if (n.startsWith(".") && n.endsWith(".compacting")) {
        fs.delete(st.getPath, true); ()
      }
    }
  }

  /** REPLACE one hive partition of a single-column-partitioned stream —
    * the materialized-view refresh primitive (the crawl frontier, merged
    * in-link counts). It rotates exactly ONE `<col>=<value>`
    * subdirectory, never the whole view: an incremental merge whose write
    * amplification is ∝ the partitions the batch touches, not the
    * table (the 100 TB contract for corpus-shaped views like the crawl
    * frontier's in-link count table — per micro-batch, a handful of
    * host-hash buckets rewrite; the other N−k are untouched files).
    *
    * Same two-rename rotate as [[compact]] and crash repair as
    * [[recover]], scoped to the partition: output lands in a DOT-PREFIXED sibling
    * (`.X.compacting` — hidden from every Spark reader, so a half-
    * written rotate can never surface as data OR as a bogus partition
    * value), `meta` entries become `_<key>` files inside it (atomic
    * with the data — the per-PARTITION merge high-water mark), then
    * live→`.X.old`→swap. Readers of the stream see each partition
    * either whole-old or whole-new; [[recover]] repairs a crash between
    * the renames on the next read/refresh. Replaying the SAME df is
    * idempotent by construction — a rewrite, not an append — which is
    * what upgrades foreachBatch audit-log appends to exactly-once: key
    * the partition by batch id and a replayed batch rewrites its own
    * directory instead of duplicating rows.
    *
    * `df` must NOT carry the partition column (its value is the
    * directory name); the stream must be declared (the partition
    * column's type can't be inferred from `df`). */
  def refreshPartition(name: String, partValue: Any, df: DataFrame,
                       meta: Map[String, String] = Map.empty): Unit = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    require(exists(name),
      s"declare partitioned stream '$name' before refreshPartition " +
        "(the partition column's type is not inferable from the data)")
    val parts = partitionsOf(name)
    require(parts.length == 1,
      s"refreshPartition rotates single-column hive layouts; '$name' " +
        s"is partitioned by $parts")
    val partCol = parts.head
    require(!df.columns.contains(partCol),
      s"'$partCol' is encoded in the partition path — drop it from the data")
    // the value becomes a directory name: a separator or traversal
    // token would escape the stream root
    require(StreamRegistry.validName(partValue.toString),
      s"partition value '$partValue' is not a safe path segment")
    recoverPartitions(name) // repair any prior crash before rotating again
    val leaf = s"$partCol=$partValue"
    val base = streamDir(name)
    val dir = new HPath(s"$base/$leaf")
    val tmp = new HPath(s"$base/.$leaf.compacting")
    val old = new HPath(s"$base/.$leaf.old")
    df.write.format(format).save(tmp.toString)
    meta.foreach { case (k, v) => writeText(s"$tmp/_$k", v) }
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    val hadLive = fs.exists(dir)
    if (hadLive && !fs.rename(dir, old))
      throw new java.io.IOException(s"cannot rotate $dir")
    if (!fs.rename(tmp, dir)) {
      if (hadLive) fs.rename(old, dir) // roll back
      throw new java.io.IOException(s"cannot swap in refreshed $leaf of $name")
    }
    fs.delete(old, true); ()
  }

  /** One partition of a partitioned stream, read directly from its
    * directory — no whole-stream listing, no partition discovery: the
    * incremental-merge read path (the merge touches bucket b, so it
    * reads bucket b). Empty result when the partition doesn't exist
    * yet. The partition column is NOT in the result (it is the
    * directory name the caller just passed). */
  def readPartition(name: String, partValue: Any): DataFrame = {
    recover(name)
    val parts = partitionsOf(name)
    require(parts.length == 1,
      s"readPartition reads single-column hive layouts; '$name' " +
        s"is partitioned by $parts")
    val schema = StructType(schemaOf(name).filterNot(_.name == parts.head))
    val (p, fs) = fsFor(s"${streamDir(name)}/${parts.head}=$partValue")
    if (!fs.exists(p))
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).format(format).load(p.toString)
  }

  /** Pin a bucketed stream's modulus: persisted beside the schema on
    * first call, REQUIRED equal on every later one. The bucket count
    * is part of a [[refreshPartition]]-maintained table's layout — a
    * changed modulus would route a key's updates to a DIFFERENT
    * bucket than its existing rows, silently splitting state. The only
    * sanctioned change is [[rebucket]], which commits the new modulus
    * as a `_buckets` marker ATOMICALLY WITH the rewritten data; a
    * crash between that swap and the pin-file update leaves the two
    * disagreeing, in which case the data is the truth and the pin
    * heals here — a link built against the OLD modulus then fails
    * loudly (mid-migration readers must never see mixed moduli). */
  def pinBucketCount(name: String, numBuckets: Int): Unit = {
    recover(name) // a crashed rebucket swap repairs before we decide
    val p = s"$root/schemas/$name.buckets"
    val dataN = readTextIfExists(s"${streamDir(name)}/_buckets")
      .map(_.trim.toInt)
    val pinned = readTextIfExists(p).map(_.trim.toInt)
    dataN.foreach { dn =>
      if (!pinned.contains(dn)) writeText(p, dn.toString)
    }
    dataN.orElse(pinned) match {
      case Some(v) => require(v == numBuckets,
        s"stream '$name' is laid out with $v buckets; this link " +
          s"was built with $numBuckets — the modulus is fixed for the " +
          "stream's lifetime (migrate with rebucket)")
      case None => writeText(p, numBuckets.toString)
    }
  }

  /** MIGRATE a bucketed stream to a new modulus — the one sanctioned
    * way to change a [[pinBucketCount]]-pinned layout (a crawl that
    * outgrew its bucket count otherwise has no path short of a full
    * offline rebuild): read the table, re-hash every row's `key` with
    * [[StreamRegistry.bucketOf]] under `newNumBuckets`, rewrite the
    * whole layout, and swap it in with the [[compact]] two-rename
    * rotate. A MAINTENANCE op with the same quiesce contract as
    * [[compact]]: producers and consumers of the stream must be
    * STOPPED, and every pending merge must have landed (the carried
    * per-bucket `_batch` marks collapse to the MAX of the old buckets'
    * marks — correct exactly when no batch is mid-replay, which the
    * quiesce guarantees; a replayed batch id ≤ the max then skips its
    * merge everywhere, as it must).
    *
    * Crash discipline: the rewritten layout carries the new modulus as
    * a `_buckets` marker INSIDE the directory, so modulus and data
    * commit in the SAME atomic rename; the pin file updates after. A
    * crash before the swap drops the temp ([[recover]]); between the
    * renames rolls back whole; after the swap but before the pin
    * write leaves pin ≠ marker, which [[pinBucketCount]] heals from
    * the marker — so an old-modulus link fails loudly at start and a
    * new-modulus link resumes, never a mixed read. `key` must be the
    * SAME key expression the producers bucket by (the count store's
    * `host`, the crawled set's `registeredDomain(url)`, the
    * frontier's `domain`) — the registry cannot know it, and a wrong
    * key here splits state exactly like a changed modulus would.
    *
    * One whole-table read + one whole-table write, once per
    * migration — the cost a 100 TB deployment schedules, against the
    * alternative of per-batch write amplification on overgrown
    * buckets forever. */
  def rebucket(name: String, key: org.apache.spark.sql.Column,
               newNumBuckets: Int): Unit = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    require(newNumBuckets >= 1, s"newNumBuckets >= 1, got $newNumBuckets")
    require(partitionsOf(name) == Seq("bucket"),
      s"rebucket migrates bucket-partitioned streams; '$name' is " +
        s"partitioned by ${partitionsOf(name)}")
    recover(name)
    // effective modulus: the in-dir marker (a prior rebucket's atomic
    // commit) wins over a stale pin file a crash left behind
    val oldN = readTextIfExists(s"${streamDir(name)}/_buckets")
      .map(_.trim.toInt).orElse(bucketCountOf(name))
      .getOrElse(throw new IllegalStateException(
        s"stream '$name' has no pinned bucket count — nothing to migrate"))
    // the carried merge high-water mark (see quiesce contract above)
    val marks = (0 until oldN)
      .flatMap(b => refreshPartitionMeta(name, b, "batch").map(_.toLong))
    val maxMark = marks.reduceOption(_ max _)
    val rewritten = read(name).drop("bucket")
      .withColumn("bucket",
        StreamRegistry.bucketOf(key, newNumBuckets))
    val tmp = s"${streamDir(name)}.compacting"
    rewritten.write.format(format).partitionBy("bucket").save(tmp)
    val (tmpP, fs) = fsFor(tmp)
    maxMark.foreach { mk =>
      fs.listStatus(tmpP)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
        .foreach(st => writeText(s"${st.getPath}/_batch", mk.toString))
    }
    writeText(s"$tmp/_buckets", newNumBuckets.toString)
    val dir = new HPath(streamDir(name))
    val old = new HPath(s"${streamDir(name)}.old")
    val fs2 = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    if (!fs2.rename(dir, old))
      throw new java.io.IOException(s"cannot rotate $dir")
    if (!fs2.rename(new HPath(tmp), dir)) {
      fs2.rename(old, dir) // roll back
      throw new java.io.IOException(s"cannot swap in rebucketed $name")
    }
    fs2.delete(old, true)
    writeText(s"$root/schemas/$name.buckets", newNumBuckets.toString)
  }

  /** The pinned bucket modulus of a [[pinBucketCount]]-declared stream
    * (None when never pinned). Consumers that read a bucketed side
    * table PER PARTITION must require it equals their own modulus —
    * a mismatched modulus would silently read the wrong bucket. */
  def bucketCountOf(name: String): Option[Int] =
    readTextIfExists(s"$root/schemas/$name.buckets").map(_.trim.toInt)

  /** The file manifest of one partition directory — sorted
    * `(file name, byte size)` pairs, Nil when the partition doesn't
    * exist. A control-plane CHANGE FINGERPRINT for
    * [[refreshPartition]]-maintained tables: every rotate writes fresh
    * uniquely-named part files and every append adds files, so the
    * manifest changes exactly when the partition's contents can have —
    * one FS listing, zero data scanned (the
    * [[graft.runtime.FrontierLink.sideSignatures]] path for bucketed
    * side tables, where hashing the rows would re-read the table per
    * batch). */
  def partitionManifest(name: String, partValue: Any): Seq[(String, Long)] = {
    recover(name)
    val parts = partitionsOf(name)
    require(parts.length == 1,
      s"partitionManifest lists single-column hive layouts; '$name' " +
        s"is partitioned by $parts")
    val (p, fs) = fsFor(s"${streamDir(name)}/${parts.head}=$partValue")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(_.isFile)
      .map(st => st.getPath.getName -> st.getLen)
      .sortBy(_._1)
  }

  /** Read back a `_<key>` metadata file written by [[refreshPartition]]
    * (None when the stream, partition, or key doesn't exist). */
  def refreshPartitionMeta(name: String, partValue: Any,
                           key: String): Option[String] = {
    if (!exists(name)) return None
    recover(name)
    val parts = partitionsOf(name)
    require(parts.length == 1,
      s"'$name' is partitioned by $parts — refreshPartitionMeta needs " +
        "a single-column hive layout")
    readTextIfExists(s"${streamDir(name)}/${parts.head}=$partValue/_$key")
  }

  /** EXACTLY-ONCE per-bucket merge of one micro-batch into a bucketed
    * [[refreshPartition]] table — the count-store discipline every
    * bucketed link shares. `staged` is the batch's rows plus their
    * `bucket` column; its touched bucket ids are collected (bounded by
    * the modulus — control-plane). A bucket whose `_batch` mark is
    * already ≥ `batchId` is skipped: a crashed attempt of this batch
    * landed that merge. Every other bucket rotates to
    * `merge(current partition, the batch's slice without bucket)`, and
    * the new mark rides the same rotate. Returns the touched bucket
    * ids, sorted — skipped ones included. */
  def mergeBuckets(name: String, staged: DataFrame, batchId: Long)(
      merge: (DataFrame, DataFrame) => DataFrame): Seq[Int] = {
    import org.apache.spark.sql.functions.col
    val touched = staged.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    touched.foreach { bkt =>
      val merged = refreshPartitionMeta(name, bkt, "batch")
        .exists(_.toLong >= batchId)
      if (!merged)
        refreshPartition(name, bkt,
          merge(readPartition(name, bkt),
            staged.filter(col("bucket") === bkt).drop("bucket")),
          Map("batch" -> batchId.toString))
    }
    touched
  }

  /** Delete a stream: data directory, schema, and partition metadata.
    * The inverse of the implicit create — used by maintenance to drop
    * retired streams. Consumers must be stopped first (their checkpoints are NOT
    * removed — a re-created stream resumes from them by design). */
  def delete(name: String): Unit = {
    Seq(streamDir(name), s"${streamDir(name)}.old", s"${streamDir(name)}.compacting",
        schemaPath(name), partitionsPath(name)).foreach { raw =>
      val (p, fs) = fsFor(raw)
      if (fs.exists(p)) { fs.delete(p, true); () }
    }
  }

  /** Declare a stream's schema up front (optional — first write also
    * registers it); lets a consumer start before any producer ran. */
  def declare(name: String, schema: StructType,
              partitionBy: Seq[String] = Nil): Unit = {
    if (!exists(name)) persistSchema(name, schema, partitionBy)
    val (p, fs) = fsFor(streamDir(name))
    fs.mkdirs(p); ()
  }

  // ------------------------------------------------------- sequence counter

  private def seqPath(name: String): Path = Paths.get(s"$root/seq/$name.seq")

  /** Allocate the next value of a monotonic per-stream sequence. Writers
    * stamp it on control-plane envelopes so consumers can order/fence by
    * log position instead of wall clocks (which skew across hosts). The
    * counter is guarded by an OS file lock, so it is monotonic across
    * processes sharing the registry root; a JVM-wide mutex avoids the
    * same-JVM `OverlappingFileLockException`. Control-plane rate only —
    * not for data-path use. LOCAL/NFS roots only: HDFS/object stores have
    * no file locks, so a distributed deployment must back this one
    * counter with a real coordination service (ZK/DynamoDB-style) — the
    * data path and schema registry above work on any Hadoop FS. */
  def nextSeq(name: String): Long = withSeqLock(name) { (_, cur) =>
    val next = cur + 1
    // durability discipline: write-to-temp + fsync + atomic rename. The
    // old truncate-then-write left windows where a crash (or an unflushed
    // page on power loss) REWOUND the counter — and a rewound counter
    // silently disables RPC dispatch, because dispatchers fence on
    // `seq > bornSeq` with the old high-water mark.
    val p = seqPath(name)
    val tmp = p.resolveSibling(s"$name.seq.tmp")
    val out = java.nio.channels.FileChannel.open(tmp,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try {
      out.write(java.nio.ByteBuffer.wrap(
        next.toString.getBytes(StandardCharsets.UTF_8)))
      out.force(true)
    } finally out.close()
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    next
  }

  /** Read the sequence's current high-water mark without advancing it
    * (0 if nothing was ever allocated). */
  def peekSeq(name: String): Long = withSeqLock(name) { (_, cur) => cur }

  private def withSeqLock[A](name: String)(
      f: (java.nio.channels.FileChannel, Long) => A): A =
    StreamRegistry.seqMutex.synchronized {
      import java.nio.file.StandardOpenOption._
      // fail FAST on a non-local root: java.nio would resolve
      // "hdfs://…/seq/x.seq" as a RELATIVE local path, giving every host
      // its own private counter — colliding seqs and bogus fences with
      // zero errors. (The data/schema paths above go through the Hadoop
      // FS and work on any scheme; only this counter is local-only.)
      // regex, not URI.create: a plain path with a space/bracket is a
      // legal root but an illegal URI
      val scheme = "^([a-zA-Z][a-zA-Z0-9+.-]*)://".r
        .findFirstMatchIn(root).map(_.group(1))
      if (!scheme.forall(_ == "file"))
        throw new UnsupportedOperationException(
          s"sequence counters need a local (or NFS) registry root; got " +
            s"'$root' — back this counter with a real coordination " +
            "service on a distributed deployment")
      val p = seqPath(name)
      Files.createDirectories(p.getParent)
      val ch = java.nio.channels.FileChannel.open(p, CREATE, READ, WRITE)
      try {
        val lock = ch.lock()
        try {
          val buf = java.nio.ByteBuffer.allocate(32)
          val n = ch.read(buf, 0)
          val cur =
            if (n <= 0) 0L
            else new String(buf.array(), 0, n, StandardCharsets.UTF_8).trim.toLong
          f(ch, cur)
        } finally lock.release()
      } finally ch.close()
    }
}

object StreamRegistry {
  private val seqMutex = new Object

  /** THE layout-defining hash for bucketed [[StreamRegistry
    * .refreshPartition]] streams — xxhash64 (stable seed 42, stable
    * across Spark releases, codegen'd) mod the stream's pinned bucket
    * count ([[StreamRegistry.pinBucketCount]]). One definition on
    * purpose: two copies of this expression could silently diverge
    * and orphan every persisted bucket layout. */
  def bucketOf(key: org.apache.spark.sql.Column,
               numBuckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    pmod(xxhash64(key), lit(numBuckets.toLong)).cast("int")
  }

  /** Safe stream-name alphabet, shared by every path that accepts
    * NON-PROGRAMMER names (HTTP ingest URLs, data-derived router
    * targets): "../x" or "a/b" would otherwise become registry paths
    * escaping the root, and a leading dot collides with hidden/metadata
    * files. Programmer-chosen names in code are not funneled through
    * this — a typo there fails visibly anyway. */
  private val SafeName = "[A-Za-z0-9._-]+".r
  def validName(s: String): Boolean = s match {
    case null         => false
    case SafeName()   => !s.startsWith(".")
    case _            => false
  }
}
