package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization of an event stream (batch form).
  *
  * The reference sequences permit events by event_time per permit
  * (dbt in_progress/completed models key on event_type + event_time); the
  * generalisation every pipeline needs is "split a user's events into
  * sessions at inactivity gaps".
  *
  * Spark-first: lag + conditional cumulative sum over ONE window
  * partitioning (user) — a single hash shuffle on the user key; both window
  * passes reuse the same sort order, so Catalyst plans one Sort + one
  * Window chain. The streaming twin lives in
  * [[graft.streaming.EventStream]] (flatMapGroupsWithState).
  */
object Sessionize {

  /** Adds `session_id` (0-based per user) given an epoch-seconds column.
    * Rows with a NULL timestamp are EXCLUDED: they would sort first,
    * each read gap-is-null (the "first event" signal), and every one
    * would open a phantom session that shifts the real events' ids. */
  def sessionize(df: DataFrame, userCol: String, epochSecCol: String,
                 gapSec: Long, tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(epochSecCol), tieBreak)
    val gap = col(epochSecCol) - lag(col(epochSecCol), 1).over(w)
    df.where(col(epochSecCol).isNotNull)
      .withColumn("__new_session",
        when(gap.isNull.or(gap > gapSec), 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__new_session")).over(w) - 1)
      .drop("__new_session")
  }

  /** Interval-overlap counting by distributed sweep: for every session,
    * the number of sessions (any key, itself included) active at its
    * start instant — the concurrency / load-overlap measure, computed
    * WITHOUT an inequality join: ONE [[Stats.withRunningTotal]] pass
    * over a tagged union of starts (+1), probe rows (0), and ends (−1),
    * ordered (time, tag) with starts tagged BEFORE probes and ends
    * AFTER them at the same instant — exactly the inclusive-overlap
    * boundary rule, so the running value AT a probe row is
    * `#starts ≤ s − #ends < s` = sessions active at s, itself included.
    * One range shuffle + one bounded collect — never the O(n²)
    * interval-inequality join the naive SQL writes (and the oracle IS
    * that inequality join, checked cell-exact). */
  def concurrency(sessions: DataFrame, userCol: String, sidCol: String,
                  startCol: String, endCol: String): DataFrame = {
    // NULL bounds are excluded like sessionize() does: NULLs sort FIRST
    // in the ascending sweep order, so an open session's NULL end would
    // land its -1 before every probe and understate every count — while
    // the oracle's inequality join simply never matches the null row
    val sess = sessions.select(
        col(userCol).as("u"), col(sidCol).as("sid"),
        col(startCol).cast("long").as("s"), col(endCol).cast("long").as("e"))
      .where(col("s").isNotNull && col("e").isNotNull)
    // typed NULLs so the explode branches agree with the caller's key
    // types (the union form coerced the same way via unionByName)
    val nulU = lit(null).cast(sess.schema("u").dataType)
    val nulSid = lit(null).cast(sess.schema("sid").dataType)
    // ONE pass over `sess` (r21, guide §2.4): the former 3-way union
    // re-evaluated the whole upstream (typically a sessionize window)
    // once per branch — only the pre-shuffle exchange deduplicated, the
    // sort+window ran 3x. An explode of the 3 tagged sweep rows emits
    // the identical row multiset from a single evaluation.
    val sweep = sess
      .select(explode(array(
        struct(col("s").as("t"), lit(0).as("tag"), lit(1L).as("w"),
          nulU.as("u"), nulSid.as("sid")),
        struct(col("s").as("t"), lit(1).as("tag"), lit(0L).as("w"),
          col("u").as("u"), col("sid").as("sid")),
        struct(col("e").as("t"), lit(2).as("tag"), lit(-1L).as("w"),
          nulU.as("u"), nulSid.as("sid")))).as("__r"))
      .select(col("__r.t").as("t"), col("__r.tag").as("tag"),
        col("__r.w").as("w"), col("__r.u").as("u"), col("__r.sid").as("sid"))
    Stats.withRunningTotal(sweep, Nil, Seq(col("t"), col("tag")), col("w"), "__n")
      .where(col("tag") === 1)
      .select(col("u").as(userCol), col("sid").as(sidCol),
        col("t").as("start_sec"), col("__n").as("n_concurrent"))
  }

  /** State-change history (SCD-type-2 shape / gaps-and-islands): per key,
    * collapse CONSECUTIVE runs of the same `stateCol` value in
    * `orderCols` order into one validity interval
    * (key, state, from, to, n_events). The classic two-row_number run id
    * (`rn_overall - rn_per_state` is constant exactly within a
    * consecutive run) — both windows and the final groupBy are
    * partitioned by the key, so the whole operator is one hash shuffle
    * on the key plus per-key sorts; nothing global.
    *
    * `orderCols` must be a total order per key (pass a tie-break, see
    * SURVEY §5) or run boundaries are nondeterministic. */
  def stateIntervals(df: DataFrame, keyCol: String, stateCol: String,
                     orderCols: Seq[Column], fromToCol: Column): DataFrame = {
    val wAll = Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)
    val wState = Window.partitionBy(col(keyCol), col(stateCol))
      .orderBy(orderCols: _*)
    df.withColumn("__ft", fromToCol)
      .withColumn("__run",
        row_number().over(wAll) - row_number().over(wState))
      .groupBy(col(keyCol), col(stateCol), col("__run"))
      .agg(min(col("__ft")).as("from_sec"), max(col("__ft")).as("to_sec"),
        count(lit(1)).as("n_events"))
      .drop("__run")
  }
}
