package graft

import org.apache.spark.sql.functions._
import graft.ops.{Funnel, Profile}

/** Funnel / retention / histogram semantics on hand-built logs. */
class FunnelSpec extends SparkSpec {
  import spark.implicits._

  test("funnelTimes: strictly-ordered steps, drop-off nulls, non-starters absent") {
    val ev = Seq(
      (1L, "view", 1L), (1L, "click", 2L), (1L, "purchase", 3L),
      // u2: click BEFORE view must not count; purchase before the
      // qualifying click must not count
      (2L, "click", 1L), (2L, "view", 2L), (2L, "purchase", 4L), (2L, "click", 5L),
      (3L, "purchase", 1L), // never viewed → absent
      (4L, "view", 10L))    // viewed only → nulls
      .toDF("user_id", "event_type", "ts")
    val got = Funnel.funnelTimes(ev, Seq("view", "click", "purchase"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
    assert(got.toSeq === Seq(
      (1L, Some(1L), Some(2L), Some(3L)),
      (2L, Some(2L), Some(5L), None),
      (4L, Some(10L), None, None)))
  }

  test("funnelTimes matches a sequential reference on random event logs") {
    val types = Seq("view", "click", "purchase", "noise", "error")
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val ev = Seq.fill(300)((rnd.nextInt(20).toLong,
        types(rnd.nextInt(types.size)), rnd.nextInt(1000).toLong))
      val got = Funnel.funnelTimes(ev.toDF("user_id", "event_type", "ts"),
          Seq("view", "click", "purchase"))
        .collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long])))
        .toSet
      val byUser = ev.groupBy(_._1)
      val expected = byUser.flatMap { case (u, es) =>
        def minAfter(typ: String, after: Option[Long]): Option[Long] = after.flatMap { a =>
          val c = es.filter(e => e._2 == typ && e._3 > a).map(_._3)
          if (c.isEmpty) None else Some(c.min)
        }
        val t1 = { val v = es.filter(_._2 == "view").map(_._3); if (v.isEmpty) None else Some(v.min) }
        t1.map { _ =>
          val t2 = minAfter("click", t1)
          val t3 = minAfter("purchase", t2)
          (u, t1, t2, t3)
        }
      }.toSet
      assert(got === expected, s"seed $seed")
    }
  }

  test("profile ops accept column names containing dots") {
    val df = Seq((1L, 2.0), (2L, 4.0), (2L, 6.0)).toDF("a.b", "x.y")
    val prof = Profile.profile(df).orderBy("col_name").collect()
    assert(prof.map(_.getString(0)).toSeq === Seq("a.b", "x.y"))
    assert(prof.head.getLong(3) === 2L) // a.b distinct
    assert(Profile.histogram(df, "x.y", 2).count() === 2)
    assert(Profile.keyHistogram(df, "a.b").count() === 2)
    assert(Profile.medianAbsDeviation(df, "a.b", "x.y").count() === 2)
  }

  test("histogram on a constant column degrades to one bin, not NaN") {
    val df = Seq.fill(5)(7.5).toDF("x")
    val got = Profile.histogram(df, "x", bins = 4).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq === Seq((0, 7.5, 7.5, 5L)))
  }

  test("cohortRetention: Monday-aligned weekly cohorts and offsets") {
    // 2024-01-01 is a Monday: W0 = 01-01, W1 = 01-08
    val ev = Seq(
      (1L, "2024-01-02 10:00:00"), (1L, "2024-01-09 10:00:00"),
      (2L, "2024-01-10 09:00:00"))
      .toDF("user_id", "ts_s")
      .select(col("user_id"), lit("x").as("event_type"),
        to_timestamp(col("ts_s")).as("ts"))
    val got = Funnel.cohortRetention(ev)
      .orderBy("cohort_week", "week_offset").collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2)))
    assert(got.toSeq === Seq(
      ("2024-01-01", 0, 1L), ("2024-01-01", 1, 1L), ("2024-01-08", 0, 1L)))
  }

  test("histogram: exact bins, bounds, and max-value clamp") {
    val df = (0 until 10).map(_.toDouble).toDF("x")
    val got = Profile.histogram(df, "x", bins = 5).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (0, 0.0, 1.8, 2L), (1, 1.8, 3.6, 2L), (2, 3.6, 5.4, 2L),
      (3, 5.4, 7.2, 2L), (4, 7.2, 9.0, 2L))) // x=9 (max) clamped into bin 4
  }
}
