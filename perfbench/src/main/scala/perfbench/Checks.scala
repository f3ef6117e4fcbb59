package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks: row count plus an order-insensitive content checksum
  * (the sum of a 64-bit hash of every row), compared with the values
  * committed in `expected.tsv`. A `-` checksum means the output is checked
  * by row count only, because its content does not repeat exactly across
  * runs (floating-point sums in a different order). */
object Checks {
  final case class Digest(rows: Long, checksum: String)

  private def hashable(c: org.apache.spark.sql.Column, t: DataType) = t match {
    case _: MapType | _: ArrayType | _: StructType => to_json(struct(c))
    case _ => c
  }

  def digest(df: DataFrame): Digest = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType)): _*)
    val r = named.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** `workload/key -> (rows, checksum or None)` from the committed file. */
  def load(path: Path): Map[String, (Long, Option[String])] =
    if (!Files.isRegularFile(path)) Map.empty
    else Files.readAllLines(path, StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).map { a =>
        s"${a(0)}/${a(1)}" -> (a(2).toLong, Some(a(3)).filter(_ != "-"))
      }.toMap

  /** Rewrite the entries of one workload (used with `--record`). Keys
    * whose checksum differs from an earlier recording keep `-`. */
  def record(path: Path, workload: String, got: Seq[(String, Digest)]): Unit = {
    val old = load(path)
    val kept = old.filter(!_._1.startsWith(s"$workload/")).toSeq.map { case (k, (r, c)) =>
      val Array(w, key) = k.split("/", 2); (w, key, r, c.getOrElse("-"))
    }
    val fresh = got.map { case (key, d) =>
      val prev = old.get(s"$workload/$key")
      val stable = prev.forall(p => p._1 == d.rows && p._2.contains(d.checksum))
      (workload, key, d.rows, if (stable) d.checksum else "-")
    }
    val lines = "# workload\tkey\trows\tchecksum (- = rows only)" +:
      (kept ++ fresh).sortBy(t => (t._1, t._2)).map(t => s"${t._1}\t${t._2}\t${t._3}\t${t._4}")
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** None when `got` matches the committed entry, else the mismatch. */
  def mismatch(expected: Map[String, (Long, Option[String])], workload: String,
               key: String, got: Digest): Option[String] =
    expected.get(s"$workload/$key") match {
      case None => Some(s"$workload/$key: no committed expectation")
      case Some((rows, _)) if rows != got.rows =>
        Some(s"$workload/$key: rows ${got.rows}, expected $rows")
      case Some((_, Some(sum))) if sum != got.checksum =>
        Some(s"$workload/$key: checksum ${got.checksum}, expected $sum")
      case _ => None
    }
}
