package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.runtime.{Link, Rpc, StreamRegistry}

/** Link runtime semantics — the reference's microservice surface mapped to
  * Structured Streaming, including the loop_filter parity smoke
  * (reference `src/examples/loop_filter/main.py:1-18`) and the
  * at-least-once → exactly-once commit upgrade (SURVEY.md §2.1 O5). */
class LinkRuntimeSpec extends SparkSpec {

  private def freshRegistry(): StreamRegistry =
    new StreamRegistry(spark, Files.createTempDirectory("graft-reg").toString)

  private def msgs(values: String*): DataFrame = {
    val s = spark
    import s.implicits._
    values.toSeq.toDF("value")
  }

  test("registry: implicit stream creation on first write, batch roundtrip") {
    val reg = freshRegistry()
    assert(!reg.exists("stream0"))
    reg.write(msgs("seed message"), "stream0")
    assert(reg.exists("stream0"))
    assert(reg.read("stream0").collect().map(_.getString(0)).toSeq === Seq("seed message"))
  }

  test("reading an unregistered stream raises StreamNotFoundError") {
    val reg = freshRegistry()
    val e = intercept[graft.runtime.StreamNotFoundError] { reg.read("nope") }
    assert(e.getMessage.contains("nope"))
  }

  test("loop_filter parity: a transform Link forwards messages end-to-end") {
    // reference LoopFilter: transform returns the message -> re-emitted
    val reg = freshRegistry()
    object LoopFilter extends Link {
      val inputs = Seq("stream0"); val output = Some("stream1")
    }
    reg.write(msgs("seed message"), "stream0")
    LoopFilter.start(spark, reg).awaitTermination()
    assert(reg.read("stream1").collect().map(_.getString(0)).toSeq === Seq("seed message"))
    // feed the output back in (the example's self-loop, one hop at a time)
    reg.write(reg.read("stream1"), "stream0")
    LoopFilter.start(spark, reg).awaitTermination()
    assert(reg.read("stream1").count() === 2) // circulated twice
  }

  test("O3 falsy-drop: transform returning None drops the message") {
    val reg = freshRegistry()
    object FilterLink extends Link {
      val inputs = Seq("in"); val output = Some("out")
      override def transform(df: DataFrame): DataFrame = {
        val s = df.sparkSession
        import s.implicits._
        // per-message Option transform — None ⇒ drop, like a falsy return
        Link.mapTransform(df.as[String]) { m =>
          if (m.contains("pass")) Some(m.toUpperCase) else None
        }.toDF("value")
      }
    }
    reg.write(msgs("pass one", "drop me", "pass two"), "in")
    FilterLink.start(spark, reg).awaitTermination()
    assert(reg.read("out").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("PASS ONE", "PASS TWO"))
  }

  test("multi-input union (O2): all input streams consumed uniformly") {
    val reg = freshRegistry()
    object Merge extends Link {
      val inputs = Seq("a", "b"); val output = Some("merged")
    }
    reg.write(msgs("from a"), "a")
    reg.write(msgs("from b1", "from b2"), "b")
    Merge.start(spark, reg).awaitTermination()
    assert(reg.read("merged").count() === 3)
  }

  test("multi-input union tolerates heterogeneous schemas (schemaless parity)") {
    val s = spark
    import s.implicits._
    val reg = freshRegistry()
    object Merge extends Link {
      val inputs = Seq("h1", "h2"); val output = Some("h_out")
    }
    reg.write(Seq(("a", 1L)).toDF("value", "extra"), "h1")
    reg.write(Seq("b").toDF("value"), "h2") // no `extra` column
    Merge.start(spark, reg).awaitTermination()
    val rows = reg.read("h_out").orderBy("value").collect()
    assert(rows.length === 2)
    assert(rows(0).getString(0) === "a" && rows(0).getLong(1) === 1L)
    assert(rows(1).getString(0) === "b" && rows(1).isNullAt(1)) // null-filled
  }

  test("chained links compose through named streams") {
    val reg = freshRegistry()
    object Upper extends Link {
      val inputs = Seq("s0"); val output = Some("s1")
      override def transform(df: DataFrame) = df.select(upper(col("value")).as("value"))
    }
    object Exclaim extends Link {
      val inputs = Seq("s1"); val output = Some("s2")
      override def transform(df: DataFrame) =
        df.select(concat(col("value"), lit("!")).as("value"))
    }
    reg.write(msgs("hello"), "s0")
    Upper.start(spark, reg).awaitTermination()
    Exclaim.start(spark, reg).awaitTermination()
    assert(reg.read("s2").collect().map(_.getString(0)).toSeq === Seq("HELLO!"))
  }

  test("exactly-once commit (O5 upgrade): restart from checkpoint does not redeliver") {
    val reg = freshRegistry()
    object Pass extends Link {
      val inputs = Seq("src"); val output = Some("dst")
    }
    reg.write(msgs("m1", "m2"), "src")
    Pass.start(spark, reg).awaitTermination()
    assert(reg.read("dst").count() === 2)
    // second batch arrives; restart the link (same checkpoint)
    reg.write(msgs("m3"), "src")
    Pass.start(spark, reg).awaitTermination()
    val out = reg.read("dst").collect().map(_.getString(0)).sorted.toSeq
    assert(out === Seq("m1", "m2", "m3")) // m1/m2 not re-emitted
  }

  test("a Link with output = None writes two streams from onBatch; " +
    "restarting on its checkpoint appends nothing") {
    val reg = freshRegistry()
    object Split extends Link {
      val inputs = Seq("split_in")
      val output: Option[String] = None
      override def checkpointTarget: String = "split_short"
      override def setup(spark: SparkSession, registry: StreamRegistry): Unit = {
        val schema = registry.schemaOf("split_in")
        registry.declare("split_short", schema)
        registry.declare("split_long", schema)
      }
      override def onBatch(spark: SparkSession, registry: StreamRegistry,
                           batch: DataFrame, batchId: Long): Unit = {
        registry.write(batch.filter(length(col("value")) <= 2), "split_short")
        registry.write(batch.filter(length(col("value")) > 2), "split_long")
      }
    }
    def contents(stream: String): Seq[String] =
      reg.read(stream).collect().map(_.getString(0)).sorted.toSeq
    reg.write(msgs("a", "bb", "ccc", "dddd"), "split_in")
    Split.start(spark, reg).awaitTermination()
    assert(contents("split_short") === Seq("a", "bb"))
    assert(contents("split_long") === Seq("ccc", "dddd"))
    // same checkpoint, no new input: the batch is not replayed
    Split.start(spark, reg).awaitTermination()
    assert(contents("split_short") === Seq("a", "bb"))
    assert(contents("split_long") === Seq("ccc", "dddd"))
    assert(new java.io.File(reg.checkpointDir(Split.name, "split_short"),
      "commits").exists())
    // new input resumes after the committed batch
    reg.write(msgs("e"), "split_in")
    Split.start(spark, reg).awaitTermination()
    assert(contents("split_short") === Seq("a", "bb", "e"))
    assert(contents("split_long") === Seq("ccc", "dddd"))
  }

  test("RPC: whitelist, addressing, broadcast, and self-skip (O6/O7)") {
    val reg = freshRegistry()
    val aCalls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val bCalls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val a = new Rpc(spark, reg, "LinkA", Map("ping" -> (args => aCalls.add(s"ping:${args.mkString(",")}"))))
    val b = new Rpc(spark, reg, "LinkB", Map("ping" -> (args => bCalls.add(s"ping:${args.mkString(",")}"))))

    a.notify("ping", Seq("x"), to = "LinkB")     // addressed: only B
    a.notify("ping", Seq("y"), to = "broadcast") // broadcast: B yes, A self-skipped
    a.notify("evil", Seq.empty, to = "LinkB")    // not whitelisted: ignored
    a.start().awaitTermination()
    b.start().awaitTermination()

    assert(bCalls.toArray.toSet === Set("ping:x", "ping:y"))
    assert(aCalls.isEmpty) // self-skip on both sends
    assert(b.dispatched === 2)
  }

  test("RPC: a fresh dispatcher does not replay pre-birth history (opt-in via replayHistory)") {
    val reg = freshRegistry()
    val sender = new Rpc(spark, reg, "Sender", Map.empty)
    sender.notify("ping", Seq("old"), to = "Receiver") // sent before any receiver exists
    Thread.sleep(5) // strictly older than the receivers' birth timestamps

    val fresh = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val replay = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val r1 = new Rpc(spark, reg, "Receiver",
      Map("ping" -> (args => fresh.add(args.mkString(",")))))
    val r2 = new Rpc(spark, reg, "Receiver",
      Map("ping" -> (args => replay.add(args.mkString(",")))), replayHistory = true)
    sender.notify("ping", Seq("new"), to = "Receiver") // after both births
    r1.start().awaitTermination()
    r2.start().awaitTermination()

    assert(fresh.toArray.toSeq === Seq("new"))              // history skipped
    assert(replay.toArray.toSet === Set("old", "new"))      // opt-in replay
  }

  test("RPC: stable uid resumes the dispatcher checkpoint across restarts") {
    val reg = freshRegistry()
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sender = new Rpc(spark, reg, "Sender", Map.empty)
    def mkReceiver() = new Rpc(spark, reg, "Stable",
      Map("ping" -> (args => calls.add(args.mkString(",")))),
      stableUid = Some("fixeduid42"), replayHistory = true)

    val gen1 = mkReceiver()
    sender.notify("ping", Seq("one"), to = "Stable")
    gen1.start().awaitTermination()
    // "restart": new instance, same uid → same checkpoint → no re-dispatch
    val gen2 = mkReceiver()
    sender.notify("ping", Seq("two"), to = "Stable")
    gen2.start().awaitTermination()

    assert(calls.toArray.toSeq === Seq("one", "two")) // "one" exactly once
  }

  test("RPC: stable uid dispatches calls sent while the instance was DOWN") {
    val reg = freshRegistry()
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sender = new Rpc(spark, reg, "Sender", Map.empty)
    def mkReceiver() = new Rpc(spark, reg, "Gapped",
      Map("ping" -> (args => calls.add(args.mkString(",")))),
      stableUid = Some("gap-uid-7")) // replayHistory = false: the fence
                                     // must persist, not re-derive
    val gen1 = mkReceiver()
    sender.notify("ping", Seq("while-up"), to = "Gapped")
    gen1.start().awaitTermination()
    // instance down; calls keep arriving
    sender.notify("ping", Seq("while-down"), to = "Gapped")
    // restart: a re-derived birth fence (current end) would drop
    // "while-down" forever — the persisted fence must let it through
    val gen2 = mkReceiver()
    gen2.start().awaitTermination()
    assert(calls.toArray.toSeq === Seq("while-up", "while-down"))
  }

  test("RPC: a throwing handler is isolated — later calls still dispatch") {
    val reg = freshRegistry()
    val ok = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sender = new Rpc(spark, reg, "Sender", Map.empty)
    val receiver = new Rpc(spark, reg, "Fallible",
      Map("ping" -> { args =>
        if (args.headOption.contains("bad")) sys.error("boom")
        ok.add(args.mkString(","))
        ()
      }))
    sender.notify("ping", Seq("bad"), to = "Fallible")
    sender.notify("ping", Seq("good"), to = "Fallible")
    receiver.start().awaitTermination() // must not die mid-batch
    assert(ok.toArray.toSeq === Seq("good"))
    assert(receiver.failed === 1L && receiver.dispatched === 1L)
  }

  test("RPC: per-uid addressing targets one instance of a same-named group (catenae.py:133-134)") {
    val reg = freshRegistry()
    val c1 = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val c2 = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sender = new Rpc(spark, reg, "Sender", Map.empty)
    // two replicas of the SAME group, distinct instance uids
    val twin1 = new Rpc(spark, reg, "Twin",
      Map("ping" -> (args => c1.add(args.mkString(",")))), stableUid = Some("twin-uid-1"))
    val twin2 = new Rpc(spark, reg, "Twin",
      Map("ping" -> (args => c2.add(args.mkString(",")))), stableUid = Some("twin-uid-2"))

    sender.notify("ping", Seq("both"), to = "Twin")       // group: both replicas
    sender.notify("ping", Seq("only1"), to = "twin-uid-1") // instance: only twin1
    twin1.start().awaitTermination()
    twin2.start().awaitTermination()

    assert(c1.toArray.toSet === Set("both", "only1"))
    assert(c2.toArray.toSeq === Seq("both")) // same-named sibling ignores the uid call
  }

  test("RPC: replay fence is the log sequence, immune to sender clock skew") {
    val reg = freshRegistry()
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sender = new Rpc(spark, reg, "Sender", Map.empty)
    sender.notify("ping", Seq("pre-birth"), to = "Receiver") // before the receiver exists

    val receiver = new Rpc(spark, reg, "Receiver",
      Map("ping" -> (args => calls.add(args.mkString(",")))))
    // A sender whose wall clock runs an hour SLOW: the envelope's
    // sent_at_ms predates the receiver's birth, but its seq is post-birth.
    // A timestamp fence would wrongly skip this just-sent call.
    val skewedMs = java.lang.Long.valueOf(System.currentTimeMillis() - 3600L * 1000)
    val schema = reg.schemaOf("catenae_rpc")
    reg.write(spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("Receiver", "ping", Seq("skewed"),
        "slow-clock-sender", "Sender", skewedMs,
        java.lang.Long.valueOf(reg.nextSeq("catenae_rpc")))), schema), "catenae_rpc")
    receiver.start().awaitTermination()

    assert(calls.toArray.toSeq === Seq("skewed")) // dispatched despite old timestamp;
                                                  // pre-birth call still fenced out
  }
}
