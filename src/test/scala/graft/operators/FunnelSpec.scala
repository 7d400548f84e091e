package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private val steps = Seq("view", "click", "purchase")

  // (user, type, sec, id)
  private def ev(rows: (Long, String, Long, Long)*): DataFrame =
    rows.toDF("user_id", "event_type", "sec", "event_id")

  private def run(df: DataFrame, windowSec: Long = 1000L) =
    Funnel.funnel(df, col("user_id"), col("event_type"), col("sec"),
      col("event_id"), steps, windowSec)
      .orderBy("step").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))

  test("funnel: complete, partial, skipped-step, and out-of-order paths") {
    val df = ev(
      (1, "view", 10, 1), (1, "click", 20, 2), (1, "purchase", 30, 3), // full
      (2, "view", 10, 4),                                              // stops at 1
      (3, "view", 10, 5), (3, "purchase", 20, 6),                      // skips click
      (4, "click", 10, 7), (4, "purchase", 20, 8),                     // never views
      (5, "purchase", 5, 9), (5, "view", 10, 10), (5, "click", 20, 11)) // pre-view purchase ignored
    assert(run(df).toSeq == Seq((1L, "view", 4L), (2L, "click", 2L), (3L, "purchase", 1L)))
  }

  test("funnel: window cap from t1, not from the previous step") {
    val df = ev(
      (1, "view", 0, 1), (1, "click", 900, 2), (1, "purchase", 1500, 3), // purchase past t1+1000
      (2, "view", 0, 4), (2, "click", 400, 5), (2, "purchase", 800, 6))  // inside
    assert(run(df).toSeq == Seq((1L, "view", 2L), (2L, "click", 2L), (3L, "purchase", 1L)))
  }

  test("funnel: later entry is NOT retried (earliest-entry semantics, = oracle CTEs)") {
    // first view at 0 -> click must land in (0, 1000]; the view at 5000
    // with a click right after does not rescue the user
    val df = ev((1, "view", 0, 1), (1, "view", 5000, 2), (1, "click", 5010, 3))
    assert(run(df).toSeq == Seq((1L, "view", 1L), (2L, "click", 0L), (3L, "purchase", 0L)))
  }

  test("funnel: greedy one-pass fold == iterated min-per-step joins") {
    // deterministic pseudo-random event soup, then the reference
    // implementation as explicit per-step min-joins
    val rows = (0 until 400).map { i =>
      val u = (i * 7919) % 23
      val t = Seq("view", "click", "purchase", "error")((i * 104729) % 4)
      (u.toLong, t, ((i * 15485863) % 2000).toLong, i.toLong)
    }
    val df = ev(rows: _*)
    val w = 500L
    val e = graft.PersistScope.cache(df.select($"user_id", $"event_type", $"sec"))
    val s1 = e.where($"event_type" === "view")
      .groupBy("user_id").agg(min("sec").as("t1"))
    val s2 = e.join(s1, "user_id")
      .where($"event_type" === "click" && $"sec" > $"t1" && $"sec" <= $"t1" + w)
      .groupBy("user_id").agg(min("sec").as("t2"), min("t1").as("t1"))
    val s3 = e.join(s2, "user_id")
      .where($"event_type" === "purchase" && $"sec" > $"t2" && $"sec" <= $"t1" + w)
      .groupBy("user_id").agg(min("sec").as("t3"))
    val expected = Seq(s1.count(), s2.count(), s3.count())
    assert(run(df, w).map(_._3).toSeq == expected)
  }

  test("retention: hand-computed weekly cohorts") {
    val wk = 604800L
    val df = ev(
      (1, "signup", 0, 1), (1, "click", wk + 5, 2), (1, "view", 3 * wk, 3),
      (2, "signup", wk, 4), (2, "click", wk + 10, 5),
      (3, "click", 0, 6)) // never signs up: in nobody's cohort
    val got = Funnel.retention(df, col("user_id"), col("event_type"),
        col("sec"), "signup", 4)
      .orderBy("cohort_week", "week_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (0L, 0L, 1L), (0L, 1L, 1L), (0L, 3L, 1L), // user 1
      (1L, 0L, 1L)))                            // user 2
  }

  test("transitions: hand-computed matrix with exact ppm normalization") {
    val df = ev(
      (1, "a", 10, 1), (1, "b", 20, 2), (1, "a", 30, 3),  // a->b, b->a
      (2, "a", 10, 4), (2, "b", 20, 5), (2, "b", 30, 6),  // a->b, b->b
      (3, "a", 10, 7))                                    // no transition
    val got = Funnel.transitions(df, col("user_id"), col("event_type"),
        col("sec"), col("event_id"))
      .orderBy("from_type", "to_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("a", "b", 2L, 1000000L),          // a always goes to b
      ("b", "a", 1L, 500000L), ("b", "b", 1L, 500000L)))
  }

  test("transitions: same-second events order by the tie column") {
    val df = ev((1, "x", 10, 2), (1, "y", 10, 1)) // y first by event_id
    val got = Funnel.transitions(df, col("user_id"), col("event_type"),
      col("sec"), col("event_id")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq == Seq(("y", "x")))
  }

  test("retention: offsets beyond maxOffset drop; pre-signup activity never negative-offsets") {
    val wk = 604800L
    val df = ev(
      (1, "click", 0, 1), (1, "signup", 2 * wk, 2), (1, "view", 9 * wk, 3))
    val got = Funnel.retention(df, col("user_id"), col("event_type"),
        col("sec"), "signup", 4).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((2L, 0L, 1L))) // week 0 is offset -2 (dropped), week 9 is offset 7 (dropped)
  }
}
