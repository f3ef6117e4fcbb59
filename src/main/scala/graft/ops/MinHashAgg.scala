package graft.ops

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed UDAF (SURVEY.md §2.2 UDAF row): group-wise MinHash signature.
  *
  * Aggregates shingle sets into one `MinHashes`-wide signature per group —
  * the signature of the union of all shingles (MinHash is a lattice
  * homomorphism: elementwise min over docs == minhash of the union). Useful
  * for cluster-level near-dup screening and as merge state for streaming
  * dedup. Demonstrates the `Aggregator[IN, BUF, OUT]` surface with a
  * mergeable buffer (partial aggregation works map-side, so the shuffle
  * carries 128 longs per group, not the shingle sets). */
object MinHashSignatureAgg extends Aggregator[Seq[String], Array[Long], Array[Long]] {

  override def zero: Array[Long] = Array.fill(Dedup.MinHashes)(Long.MaxValue)

  override def reduce(buf: Array[Long], shingles: Seq[String]): Array[Long] = {
    if (shingles != null) shingles.foreach { sg =>
      val base = Dedup.fnv1a64(sg)
      var i = 0
      while (i < Dedup.MinHashes) {
        val h = Dedup.mix64(base ^ (i.toLong * 0x9e3779b97f4a7c15L))
        if (h < buf(i)) buf(i) = h
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Array[Long] = buf

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()

  /** Column form for `groupBy(...).agg(...)`. */
  lazy val asColumn: Seq[Column] => Column = {
    val fn = udaf(this, ExpressionEncoder[Seq[String]]())
    cols => fn(cols: _*)
  }

  /** Estimated Jaccard between two signatures: fraction of agreeing mins. */
  def estimateJaccard(a: Array[Long], b: Array[Long]): Double =
    a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
}
