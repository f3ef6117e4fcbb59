package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the engine's fixture tables: the TPC-H-ish star
  * schema, `events`, `documents` and `embeddings`, with the column names,
  * types and value ranges the query registry reads (see FIXTURES.md at the
  * repository root). Rows are built on the driver from `scala.util.Random`
  * and written as one parquet file per table, so the same seed gives the
  * same bytes.
  *
  * Sizes are about one thirtieth of the sf0.1 fixture for the star schema
  * and one tenth for the text tables: per-query time at this scale is
  * mostly fixed per-job cost, and a warm pass of a batch workload must
  * take seconds, not a minute. */
object Inputs {
  final case class Sizes(lineitem: Int = 20000, orders: Int = 5000,
                         customer: Int = 500, part: Int = 700,
                         supplier: Int = 30, events: Int = 5000,
                         users: Int = 75, documents: Int = 500,
                         embeddings: Int = 500, dim: Int = 64)

  /** The 31-word vocabulary of the fixture's `documents.text`. */
  val DocWords: Array[String] = ("row the query stream fast spark line small " +
    "customer group value hash batch sort data big filter dup key agg scan " +
    "slow table part a merge window order column join vector").split(" ")

  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  private val EventTypes = Array("signup", "click", "error", "view", "purchase")
  private val Segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Adjs = Array("blue", "hot", "small", "old", "red", "new", "cold", "large")
  private val Nouns = Array("bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo")
  private val Types = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  private val Day = 86400000L
  private def ts(ms: Long) = new Timestamp(ms)
  private val Epoch1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
  private val Epoch2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def r2(x: Double) = math.round(x * 100) / 100.0

  private def f(n: String, t: DataType) = StructField(n, t)

  /** Write every table under `dir`, one parquet file each. */
  def write(spark: SparkSession, dir: String, seed: Long, sz: Sizes = Sizes()): Unit = {
    def put(name: String, schema: StructType, data: Seq[Row]): Unit =
      spark.createDataFrame(data.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def rnd(salt: Int) = new Random(seed * 1000003L + salt)

    put("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))
    put("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    { val r = rnd(1)
      put("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
        (0 until sz.supplier).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
          r2(-999.99 + r.nextDouble() * 10999.98)))) }

    { val r = rnd(2)
      put("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
        (0 until sz.customer).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          r2(-999.99 + r.nextDouble() * 10999.98), Segments(r.nextInt(Segments.length))))) }

    def retail(pk: Long) = math.round((900.0 + (pk % 1000) * 0.1) * 10) / 10.0

    { val r = rnd(3)
      put("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))),
        (0 until sz.part).map(i => Row(i.toLong,
          s"${Adjs(r.nextInt(Adjs.length))} ${Nouns(r.nextInt(Nouns.length))}",
          s"Brand#${1 + r.nextInt(25)}", Types(r.nextInt(Types.length)),
          1 + r.nextInt(50), retail(i.toLong)))) }

    { val r = rnd(4)
      put("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
        (0 until sz.orders).map(i => Row(i.toLong, r.nextInt(sz.customer).toLong,
          IndexedSeq("P", "O", "F")(r.nextInt(3)), r2(1000 + r.nextDouble() * 499000),
          ts(Epoch1995 + r.nextInt(2404) * Day), Priorities(r.nextInt(5))))) }

    { val r = rnd(5)
      put("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampType))),
        (0 until sz.lineitem).map { _ =>
          val pk = r.nextInt(sz.part).toLong
          val qty = (1 + r.nextInt(50)).toDouble
          Row(r.nextInt(sz.orders).toLong, pk, r.nextInt(sz.supplier).toLong,
            1 + r.nextInt(7), qty, r2(qty * retail(pk) * (1 + r.nextDouble() * 2)),
            r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, IndexedSeq("A", "N", "R")(r.nextInt(3)),
            IndexedSeq("O", "F")(r.nextInt(2)), ts(Epoch1995 + (1 + r.nextInt(2498)) * Day))
        }) }

    { val r = rnd(6)
      var t = Epoch2024
      val step = 30L * Day / sz.events
      put("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))),
        (0 until sz.events).map { i =>
          t += 1 + (r.nextDouble() * 2 * step).toLong
          Row(i.toLong, ts(t), r.nextInt(sz.users).toLong, EventTypes(r.nextInt(5)),
            r2(r.nextDouble() * 560), s"""{"k": ${r.nextInt(100)}}""")
        }) }

    { val r = rnd(7)
      val texts = new Array[String](sz.documents)
      (0 until sz.documents).foreach { i =>
        texts(i) =
          if (i > 0 && i % 97 == 0) texts(i - 1) // planted exact duplicate
          else if (i > 0 && i % 53 == 0) // planted near-duplicate: one token changed
            texts(i - 1).split(" ").updated(0, DocWords(r.nextInt(DocWords.length))).mkString(" ")
          else Seq.fill(10 + r.nextInt(90))(DocWords(r.nextInt(DocWords.length))).mkString(" ")
      }
      put("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
        (0 until sz.documents).map(i => Row(i.toLong, texts(i), Langs(r.nextInt(Langs.length)),
          s"src${i % 20}", texts(i).length.toLong))) }

    { val r = rnd(8)
      val centers = Array.fill(10, sz.dim)(r.nextGaussian())
      put("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType, containsNull = false)), f("label", IntegerType))),
        (0 until sz.embeddings).map { i =>
          val label = i % 10
          val v = Array.tabulate(sz.dim)(d => centers(label)(d) + 1.5 * r.nextGaussian())
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
        }) }
  }

  /** Base tables are the same for every --seed; the seed varies query order
    * and the crawl pages, so committed checksums hold for any seed. */
  val BaseSeed = 42L

  val TableNames: Seq[String] = Seq("region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The tables for [[BaseSeed]] under `root`, written on first use and
    * reused by later runs in the same checkout (they never change). */
  def cached(spark: SparkSession, root: Path): String = {
    val sz = Sizes()
    val dir = root.resolve(s"tables-$BaseSeed-${sz.productIterator.mkString("-")}")
    if (!Files.exists(dir.resolve("_READY"))) {
      val tmp = root.resolve(s"${dir.getFileName}.tmp-${ProcessHandle.current().pid()}")
      write(spark, tmp.toString, BaseSeed, sz)
      Files.createFile(tmp.resolve("_READY"))
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    }
    dir.toString
  }

  /** Open every table through the engine's loaders (footer read and
    * schema resolution); returns the number of columns seen. */
  def open(spark: SparkSession, dir: String): Int =
    TableNames.map { t =>
      (if (t == "events") graft.Tables.events(spark, dir) else graft.Tables.table(spark, dir, t))
        .schema.size
    }.sum
}
