package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.ops.Multimodal
import graft.runtime._

/** Remaining reference-operator surface: config overlay (O17), error
  * taxonomy (O20), health endpoint (O18), generator source (O1), pipeline
  * lifecycle (O9/O10), multimodal stub plumbing, HLL bounds. */
class RuntimeExtrasSpec extends SparkSpec {

  test("GraftConfig: CLI overlay wins, comma lists split, unknown preserved (O17)") {
    val c = GraftConfig(inputs = Seq("default_in"), group = Some("G"))
      .withArgs(Array("-i", "s1,s2", "-o", "out", "-u", "abc123",
        "--custom-key", "v", "stray"))
    assert(c.inputs === Seq("s1", "s2"))
    assert(c.output === Some("out"))
    assert(c.group === Some("G")) // not overridden
    assert(c.uid === Some("abc123"))
    assert(c.extra === Map("custom-key" -> "v"))
    assert(c.unknown === Seq("stray"))
  }

  test("GraftConfig: a value-less flag never swallows the next option") {
    val c = GraftConfig().withArgs(
      Array("--verbose", "--input-streams", "a,b", "--trailing"))
    assert(c.extra === Map("verbose" -> "true", "trailing" -> "true"))
    assert(c.inputs === Seq("a", "b"))
    assert(c.unknown === Seq.empty)
  }

  test("error taxonomy mirrors the reference hierarchy (O20)") {
    assert(new EmptyError().isInstanceOf[GraftError])
    assert(new TimeoutError().isInstanceOf[GraftError])
    assert(new RpcMethodNotFoundError("m").isInstanceOf[RpcError])
    assert(new RpcMethodNotFoundError("m").getMessage.contains("m"))
    assert(new StreamNotFoundError("s").getMessage.contains("s"))
  }

  test("health endpoint serves available status + query states (O18)") {
    val h = new Health(spark, port = 0) // ephemeral port
    val port = h.start()
    try {
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(new URI(s"http://localhost:$port/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 200)
      assert(resp.body().contains("\"status\": \"available\""))
      assert(resp.body().contains("\"queries\""))
    } finally h.stop()
  }

  test("generator link produces batches into its output stream (O1)") {
    val reg = new StreamRegistry(spark, Files.createTempDirectory("graft-gen").toString)
    object Gen extends GeneratorLink {
      val output = "generated"
      def generate(s: SparkSession, batchId: Long): Option[DataFrame] =
        Some(s.range(3).toDF("n").withColumn("batch", lit(batchId)))
    }
    Gen.start(spark, reg, Trigger.AvailableNow()).awaitTermination()
    assert(reg.exists("generated"))
    assert(reg.read("generated").count() >= 3)
  }

  test("pipeline: generator -> transform chain via runOnce; stopAll idles (O9)") {
    val reg = new StreamRegistry(spark, Files.createTempDirectory("graft-pipe").toString)
    object Gen extends GeneratorLink {
      val output = "p0"
      def generate(s: SparkSession, batchId: Long): Option[DataFrame] =
        Some(s.range(5).toDF("n"))
    }
    object Square extends Link {
      val inputs = Seq("p0"); val output = Some("p1")
      override def transform(df: DataFrame) = df.select((col("n") * col("n")).as("n"))
    }
    object BigOnly extends Link {
      val inputs = Seq("p1"); val output = Some("p2")
      override def transform(df: DataFrame) = df.filter(col("n") >= 4)
    }
    Gen.start(spark, reg, Trigger.AvailableNow()).awaitTermination()
    new Pipeline(Seq(Square, BigOnly)).runOnce(spark, reg)
    val out = reg.read("p2").collect().map(_.getLong(0)).sorted.toSeq
    assert(out === Seq(4L, 9L, 16L))
    new Pipeline(Seq.empty).stopAll(spark)
    assert(spark.streams.active.isEmpty)
  }

  test("pipeline stopAll is scoped: an unrelated query survives (O9)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val reg = new StreamRegistry(spark, Files.createTempDirectory("graft-scope").toString)
    object Pass extends Link {
      val inputs = Seq("s0"); val output = Some("s1")
      override def transform(df: DataFrame) = df
    }
    reg.write(Seq("x").toDF("value"), "s0")
    // an unrelated continuous query in the same session
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val other = mem.toDS().writeStream.format("noop")
      .trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      val p = new Pipeline(Seq(Pass))
      p.start(spark, reg, Trigger.ProcessingTime("1 second"))
      p.stopAll(spark) // must stop ONLY the pipeline's query
      assert(other.isActive, "unrelated query must survive a pipeline stopAll")
    } finally other.stop()
  }

  test("multimodal decode: real PNG/BMP/GIF/JPEG header parsing (ImageIO cross-check)") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    def encoded(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val out = new ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"ImageIO lacks $fmt writer")
      out.toByteArray
    }
    for ((fmt, w, h) <- Seq(("png", 640, 360), ("bmp", 33, 47),
                            ("gif", 12, 5), ("jpeg", 100, 64))) {
      val meta = graft.ops.ImageHeaders.parse(encoded(fmt, w, h))
      assert(meta.isDefined, s"$fmt not recognized")
      assert(meta.get.format === fmt)
      assert((meta.get.width, meta.get.height) === ((w, h)), fmt)
      assert(meta.get.channels === 3, fmt)
    }
  }

  test("multimodal decode: WAV header parsing (JDK AudioSystem cross-check) " +
      "and MP4 box walking (hand-built ISO-BMFF literal)") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // WAV: synthesize with the JDK's own RIFF writer — the AudioSystem
    // cross-check is the ImageIO analog for audio
    val fmt = new AudioFormat(16000f, 16, 2, true, false)
    val nFrames = 1600
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(new Array[Byte](nFrames * fmt.getFrameSize)),
      fmt, nFrames.toLong)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    val wav = graft.ops.AvHeaders.parse(out.toByteArray)
    assert(wav.isDefined, "JDK-written WAV not recognized")
    assert(wav.get === graft.ops.AvHeaders.AvMeta("wav", "audio", 2, 16000, 16,
      100L, 0, 0)) // 1600 frames @ 16 kHz = 100 ms, floor division
    // MP4: minimal ftyp + moov(mvhd v0 + trak/tkhd v0) per the public
    // ISO-BMFF layout; dims are 16.16 fixed-point
    val bb = java.nio.ByteBuffer.allocate(16 + 216) // big-endian by default
    def box(size: Int, typ: String): Unit = {
      bb.putInt(size); bb.put(typ.getBytes("ISO-8859-1"))
    }
    box(16, "ftyp"); bb.put("isom".getBytes("ISO-8859-1")); bb.putInt(0)
    box(216, "moov")
    box(108, "mvhd"); bb.putInt(0) // version 0 + flags
    bb.putInt(0); bb.putInt(0)     // ctime, mtime
    bb.putInt(1000)                // timescale
    bb.putInt(2500)                // duration → 2500 ms
    bb.position(bb.position() + 108 - 8 - 20) // rest of mvhd zero-filled
    box(100, "trak")
    box(92, "tkhd"); bb.position(bb.position() + 84 - 8)
    bb.putInt(640 << 16); bb.putInt(360 << 16) // width, height @ data+76
    val mp4 = graft.ops.AvHeaders.parse(bb.array())
    assert(mp4 === Some(graft.ops.AvHeaders.AvMeta("mp4/isom", "video", 0, 0, 0,
      2500L, 640, 360)))
    // mvhd version 1 (64-bit times) and NO video track → kind=audio, the
    // m4a shape; duration floor-divides against the v1 timescale offset
    val a = java.nio.ByteBuffer.allocate(16 + 8 + 120)
    a.putInt(16); a.put("ftyp".getBytes("ISO-8859-1"))
    a.put("M4A ".getBytes("ISO-8859-1")); a.putInt(0)
    a.putInt(128); a.put("moov".getBytes("ISO-8859-1"))
    a.putInt(120); a.put("mvhd".getBytes("ISO-8859-1"))
    a.putInt(0x01000000)           // version 1 + flags
    a.putLong(0L); a.putLong(0L)   // 64-bit ctime, mtime
    a.putInt(48000)                // timescale
    a.putLong(96000L)              // 64-bit duration → 2000 ms
    val m4a = graft.ops.AvHeaders.parse(a.array())
    assert(m4a === Some(graft.ops.AvHeaders.AvMeta("mp4/M4A", "audio", 0, 0, 0,
      2000L, 0, 0)))
    // end-to-end through decodeAvPayloads: wav, mp4, and unknown fallback
    val df = spark.createDataFrame(Seq(
      (1L, out.toByteArray), (2L, bb.array()),
      (3L, "not a container".getBytes("UTF-8")))).toDF("doc_id", "payload")
    val got = Multimodal.decodeAvPayloads(spark, df).collect().sortBy(_.doc_id)
    assert(got.map(m => (m.doc_id, m.kind, m.format)).toSeq === Seq(
      (1L, "audio", "wav"), (2L, "video", "mp4/isom"), (3L, "unknown", "unknown")))
    assert(got(0).sample_rate === 16000 && got(0).duration_ms === 100L)
    assert(got(1).width === 640 && got(1).height === 360)
    // truncated WAV header → None, never a throw
    assert(graft.ops.AvHeaders.parse(out.toByteArray.take(30)).isEmpty)
  }

  test("multimodal decode: FLAC STREAMINFO bit-fields, Ogg Vorbis/Opus id " +
      "headers, and a hostile WAV chunk size ending the scan cleanly") {
    import java.nio.{ByteBuffer, ByteOrder}
    // FLAC: fLaC + last-flag STREAMINFO (type 0, len 34); 44.1 kHz stereo
    // 16-bit, 441000 total samples → exactly 10 s
    val fb = ByteBuffer.allocate(42)
    fb.put("fLaC".getBytes("ISO-8859-1"))
    fb.put(0x80.toByte); fb.put(0.toByte); fb.put(0.toByte); fb.put(34.toByte)
    fb.putShort(0x1000.toShort); fb.putShort(0x1000.toShort)
    fb.put(new Array[Byte](6)) // min/max frame size
    fb.putLong((44100L << 44) | (1L << 41) | (15L << 36) | 441000L)
    fb.put(new Array[Byte](16)) // md5
    assert(graft.ops.AvHeaders.parse(fb.array()) === Some(
      graft.ops.AvHeaders.AvMeta("flac", "audio", 2, 44100, 16, 10000L, 0, 0)))
    // rate 0 is invalid per spec → the sniffer refuses the file
    val f0 = ByteBuffer.allocate(42)
    f0.put(fb.array())
    f0.position(18) // the packed field: 4 magic + 4 block header + 10
    f0.putLong((1L << 41) | (15L << 36))
    assert(graft.ops.AvHeaders.parse(f0.array()).isEmpty)
    // Ogg: one first page wrapping a codec id packet
    def oggPage(packet: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(28 + packet.length)
      bb.put("OggS".getBytes("ISO-8859-1"))
      bb.put(0.toByte); bb.put(2.toByte)      // version 0, BOS flag
      bb.put(new Array[Byte](20))             // granule, serial, seq, crc
      bb.put(1.toByte); bb.put(packet.length.toByte) // segment table
      bb.put(packet); bb.array()
    }
    val vorbis = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    vorbis.put(1.toByte); vorbis.put("vorbis".getBytes("ISO-8859-1"))
    vorbis.putInt(0); vorbis.put(2.toByte); vorbis.putInt(44100)
    assert(graft.ops.AvHeaders.parse(oggPage(vorbis.array())) === Some(
      graft.ops.AvHeaders.AvMeta("ogg/vorbis", "audio", 2, 44100, 0, 0L, 0, 0)))
    val opus = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    opus.put("OpusHead".getBytes("ISO-8859-1"))
    opus.put(1.toByte); opus.put(2.toByte) // version, channels
    opus.putShort(312.toShort); opus.putInt(48000)
    assert(graft.ops.AvHeaders.parse(oggPage(opus.array())) === Some(
      graft.ops.AvHeaders.AvMeta("ogg/opus", "audio", 2, 48000, 0, 0L, 0, 0)))
    // an unrecognized first packet still identifies the container
    assert(graft.ops.AvHeaders.parse(
      oggPage("theoraXX".getBytes("ISO-8859-1"))) === Some(
      graft.ops.AvHeaders.AvMeta("ogg", "audio", 0, 0, 0, 0L, 0, 0)))
    // hostile WAV: a declared chunk size near UInt32 max must END the
    // chunk scan (Long cursor), not wrap the index negative — and with
    // no fmt/data seen the file is refused
    val hw = ByteBuffer.allocate(52).order(ByteOrder.LITTLE_ENDIAN)
    hw.put("RIFF".getBytes("ISO-8859-1")); hw.putInt(44)
    hw.put("WAVE".getBytes("ISO-8859-1"))
    hw.put("junk".getBytes("ISO-8859-1")); hw.putInt(0xFFFFFFF0)
    assert(graft.ops.AvHeaders.parse(hw.array()).isEmpty)
    // end-to-end dispatch through decodeAvPayloads
    val df = spark.createDataFrame(Seq(
      (1L, fb.array()), (2L, oggPage(vorbis.array())),
      (3L, oggPage(opus.array())))).toDF("doc_id", "payload")
    val got = Multimodal.decodeAvPayloads(spark, df).collect().sortBy(_.doc_id)
    assert(got.map(m => (m.doc_id, m.kind, m.format, m.channels, m.sample_rate))
      .toSeq === Seq((1L, "audio", "flac", 2, 44100),
        (2L, "audio", "ogg/vorbis", 2, 44100),
        (3L, "audio", "ogg/opus", 2, 48000)))
  }

  test("multimodal decode: pinned 1x1 RGBA PNG byte literal through the Spark path") {
    // the canonical 1×1 transparent PNG (colour type 6 → RGBA)
    val png = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhfDwAChwGA60e6kgAAAABJRU5ErkJggg==")
    val direct = graft.ops.ImageHeaders.parse(png)
    assert(direct === Some(graft.ops.ImageHeaders.ImageMeta(1, 1, 4, "png")))
    // and end-to-end as a binary payload column through decodePayloads
    val df = spark.createDataFrame(Seq((7L, png))).toDF("doc_id", "payload")
    val m = Multimodal.decodePayloads(spark, df).collect()
    assert(m.length === 1)
    assert(m.head === Multimodal.MediaFeature(7L, png.length.toLong, 1, 1, 4, "png",
      m.head.checksum))
    // truncated header → not recognized → deterministic fallback, no throw
    val trunc = spark.createDataFrame(Seq((8L, png.take(20)))).toDF("doc_id", "payload")
    val t = Multimodal.decodePayloads(spark, trunc).collect().head
    assert(t.n_bytes === 20L && t.width >= 64)
  }

  test("multimodal decode: deterministic fallback features, real schema/partition plumbing") {
    val docs = Tables.documents(spark, SparkSpec.sf0001).limit(50)
    val f1 = Multimodal.decode(spark, docs).collect().sortBy(_.doc_id)
    val f2 = Multimodal.decode(spark, docs).collect().sortBy(_.doc_id)
    assert(f1.toSeq === f2.toSeq) // stub is deterministic
    assert(f1.forall(m => m.width >= 64 && m.height >= 64 && m.channels >= 1))
    assert(f1.forall(m => m.format == "png" || m.format == "jpeg"))
    // n_bytes is the real payload size (UTF-8 byte length of text)
    val expected = docs.select(col("doc_id"),
      length(encode(col("text"), "UTF-8")).cast("long").as("nb"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    f1.foreach(m => assert(m.n_bytes === expected(m.doc_id)))
  }

  test("HTTP ingest: POST /ingest/<stream> lands in the registry, chainable (falcon_api parity)") {
    val reg = new StreamRegistry(spark, Files.createTempDirectory("graft-ingest").toString)
    val ingest = new Ingest(spark, reg, port = 0)
    val port = ingest.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(stream: String, body: String) = client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:$port/ingest/$stream"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(post("api_in", "hello").statusCode() === 202)
      assert(post("api_in", "world").statusCode() === 202)
      assert(reg.read("api_in").collect().map(_.getString(0)).sorted.toSeq ===
        Seq("hello", "world"))
      // a transform link consumes the ingested stream like any other
      object Shout extends Link {
        val inputs = Seq("api_in"); val output = Some("api_out")
        override def transform(df: DataFrame) =
          df.select(upper(col("value")).as("value"), col("ingest_ms"))
      }
      Shout.start(spark, reg).awaitTermination()
      assert(reg.read("api_out").collect().map(_.getString(0)).sorted.toSeq ===
        Seq("HELLO", "WORLD"))
      // wrong method rejected
      val bad = client.send(
        HttpRequest.newBuilder(new URI(s"http://localhost:$port/ingest/api_in"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() === 405)
      // path traversal / unsafe stream names rejected, nothing written
      Seq("..%2F..%2Ftmp%2Fevil", "..", ".hidden", "a%2Fb").foreach { evil =>
        val r = client.send(
          HttpRequest.newBuilder(new URI(s"http://localhost:$port/ingest/$evil"))
            .POST(HttpRequest.BodyPublishers.ofString("x")).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() === 400, s"$evil must be rejected")
      }
      assert(!new java.io.File(s"${reg.root}/../tmp").exists())
    } finally ingest.stop()
  }

  test("perceptual image near-dup: planted resized + re-encoded duplicates " +
    "retrieved at hamming ≤ 6; distinct images stay apart; junk never pairs") {
    val s = spark
    import s.implicits._
    val seeds = (0L until 40L).map(i => (i, i))
    val orig = Multimodal.syntheticImagePayloads(spark,
      seeds.toDF("doc_id", "seed"), side = 32, format = "png")
    // resized duplicate: SAME lattice surface re-rendered at 16² — every
    // byte differs, the perceptual hash barely moves
    val resized = Multimodal.syntheticImagePayloads(spark,
      (0L until 40L by 4).map(i => (i + 1000L, i)).toDF("doc_id", "seed"),
      side = 16, format = "png")
    // re-encoded duplicate: identical pixels, different container (bmp)
    val reenc = Multimodal.syntheticImagePayloads(spark,
      (1L until 40L by 4).map(i => (i + 2000L, i)).toDF("doc_id", "seed"),
      side = 32, format = "bmp")
    val junk = Seq((9001L, "not an image".getBytes("UTF-8")),
      (9002L, "also not an image".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val hashes = Multimodal.perceptualHashes(spark,
      orig.union(resized).union(reenc).union(junk)).toDF().cache()
    assert(hashes.filter(!col("decoded")).select("doc_id").as[Long]
      .collect().toSet === Set(9001L, 9002L))
    val pairs = Multimodal.imageNearDupPairs(hashes, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every re-encode collides with its source bit-for-bit (hamming 0)
    for (i <- 1L until 40L by 4)
      assert(pairs.exists(p => p._1 == i && p._2 == i + 2000L && p._3 == 0L),
        s"re-encode of $i not retrieved at hamming 0: " +
          pairs.filter(p => p._1 == i || p._2 == i).mkString(","))
    // every resized duplicate retrieved within the threshold
    for (i <- 0L until 40L by 4)
      assert(pairs.exists(p => p._1 == i && p._2 == i + 1000L),
        s"resized duplicate of $i not retrieved: " +
          pairs.filter(p => p._1 == i || p._2 == i).mkString(","))
    // precision: distinct-seed originals essentially never collide
    val falsePairs = pairs.filter(p => p._1 < 1000L && p._2 < 1000L)
    assert(falsePairs.length <= 2, falsePairs.mkString(","))
    // undecodable payloads (zero-hash placeholders) never pair
    assert(!pairs.exists(p => p._1 >= 9000L || p._2 >= 9000L))
    hashes.unpersist()
  }

  test("approx_count_distinct within documented error of exact (HLL)") {
    val li = Tables.lineitem(spark, SparkSpec.sf0001)
    val r = li.agg(
      countDistinct(col("l_orderkey")).as("exact"),
      approx_count_distinct(col("l_orderkey")).as("approx")).collect()(0)
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.15, s"$approx vs $exact")
  }
}
