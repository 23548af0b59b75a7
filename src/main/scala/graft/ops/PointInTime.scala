package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feature-store temporal operators: latest-per-key and point-in-time
  * ("as-of") join — the reference's online-store materialization and
  * `get_historical_features` surface (/root/reference/feast-feature-store/
  * feature_retrieval/get_fv.py:32-47, ingest_stream_to_online_store.py:48-82).
  *
  * Event times are BIGINT epoch-micros throughout (exact integer compare,
  * no timestamp-precision ambiguity across engines).
  */
object PointInTime {

  /** Latest feature row per entity key: `max_by(struct(ts, tieBreak, *)),`
    * one shuffle, map-side partial aggregation. This is the batch analogue of
    * the Redis online store's newest-value-per-key semantics — but ordered by
    * *event time* (ts, then tieBreak), not arrival order, which fixes the
    * reference's out-of-order upsert weakness (SURVEY.md §7.4 risk 4).
    * On a stream it is a complete-mode aggregation (q23) whose state is
    * one row per key; unbounded key spaces take
    * [[graft.streaming.Streams.latestPerKeyStateful]].
    */
  def latestPerKey(df: DataFrame, key: Seq[String], ts: String,
                   tieBreak: String): DataFrame = {
    val payloadCols = df.columns.filterNot(key.contains)
    val payload = struct(payloadCols.toSeq.map(col): _*)
    df.groupBy(key.map(col): _*)
      .agg(max_by(payload, struct(col(ts), col(tieBreak))).as("__latest"))
      .select(key.map(col) :+ col("__latest.*"): _*)
  }

  /** Point-in-time join: for each left row, attach the single newest right
    * row with the same key and `rightTs <= leftTs` (strict `<` if
    * `strict`), no older than `ttlUs`. Left rows with no match keep nulls
    * (left-outer semantics), mirroring Feast TTL semantics
    * (user_features.py:11).
    *
    * Implementation: LEFT range-condition join + one row_number window
    * keyed by a unique left row id — a single linear plan. The earlier
    * form (inner join + max_by re-aggregation + join BACK onto the
    * row-id'd left) referenced the `monotonically_increasing_id` frame
    * TWICE: on a left input whose row order is not execution-stable (any
    * shuffled/aggregated frame — e.g. the output of a previous asofJoin
    * in a multi-view chain), the two executions can assign DIFFERENT ids
    * and the join-back attaches features to the WRONG entities (caught
    * by q291's negative staleness; a plain scan left like q53's never
    * trips it). A single-reference linear plan executes the id exactly
    * once per action, so the id only ever needs to be unique — and it
    * also costs one shuffle (the window) instead of two (re-agg + back
    * join). The TTL bound keeps the range-join fan-out proportional to
    * the per-key event density inside the TTL window rather than all
    * history; for very hot keys AQE skew-join splits the partitions.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: Seq[String],
               leftTs: String, rightTs: String, ttlUs: Long,
               strict: Boolean = true,
               rightTieBreak: String = null): DataFrame = {
    val l = left.withColumn("__rowid", monotonically_increasing_id())
    // Re-alias every right column to fresh attributes so left/right may share
    // a source (self-join) without ambiguous-reference analysis errors.
    val r = right.select(right.columns.toSeq.map(c => col(c).as(s"__r_$c")): _*)
    def rc(c: String) = col(s"__r_$c")
    val tsCond =
      if (strict) rc(rightTs) < col(leftTs) else rc(rightTs) <= col(leftTs)
    val cond = key.map(k => col(k) === rc(k)).reduce(_ && _) &&
      tsCond && rc(rightTs) >= col(leftTs) - lit(ttlUs)
    val rightCols = right.columns.filterNot(key.contains)
    val ord = if (rightTieBreak == null) Seq(rc(rightTs))
              else Seq(rc(rightTs), rc(rightTieBreak))
    // left join: an unmatched left row is its rowid's single (all-null
    // payload) candidate and survives the rn = 1 filter — left-outer
    // semantics with no second join
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__rowid")).orderBy(ord.map(_.desc): _*)
    l.join(r, cond, "left")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(left.columns.toSeq.map(col) ++
        rightCols.map(c => rc(c).as(c)): _*)
  }
}
