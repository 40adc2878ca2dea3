package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.algorithms.Fixpoint

/**
 * Batch event-analytics operators over (user, timestamp, type) streams —
 * the funnel/cohort queries an events warehouse answers daily, expressed
 * as the joins/aggregates Catalyst optimizes rather than per-user UDFs.
 * (Beyond-reference surface, same rationale as
 * [[graft.pipeline.TextAnalysis]]: deterministic, scale-out analytics
 * complementing the reference's graph workloads.)
 */
object EventOps {

  /**
   * Ordered funnel completion: for each step k, the number of users with
   * an ordered event chain type₁ < type₂ < … < type_k (strictly
   * increasing timestamps, earliest-completion semantics: each prefix
   * completes at the EARLIEST possible time, which maximizes the chance
   * of completing the suffix — the standard funnel definition). Returns
   * (step_no 1-based, step, users), one row per step.
   *
   * Shape: one filtered min-aggregate per step over the events table —
   * k small (funnels are 3-6 steps), each pass shuffles only (user, ts).
   * No per-user collect, no window over the whole stream.
   */
  def funnel(events: DataFrame, userCol: String, tsCol: String, typeCol: String,
             steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events.select(col(userCol).as("u"), col(tsCol).as("ts"),
      col(typeCol).as("t"))
    // reached(k): (u, tk) = earliest completion time of the step-k prefix.
    // Each step is checkpointed so step k never re-runs steps 1..k-1;
    // its user count is taken in the checkpoint's own job.
    val (first, n) = Fixpoint.materialize(ev.where(col("t") === steps.head)
      .groupBy("u").agg(min(col("ts")).as("tk")))
    var reached = first
    var counts = List((1, steps.head, n))
    steps.zipWithIndex.drop(1).foreach { case (s, i) =>
      val (next, nNext) = Fixpoint.materialize(ev.where(col("t") === s)
        .join(reached, Seq("u"))
        .where(col("ts") > col("tk"))
        .groupBy("u").agg(min(col("ts")).as("tk")))
      reached = next
      counts ::= ((i + 1, s, nNext))
    }
    counts.reverse.toDF("step_no", "step", "users")
  }

  /**
   * Weekly cohort retention: users grouped by the week of their first
   * event; each (cohort_week, week_offset) cell counts the cohort's
   * users active in that later week. Returns (cohort_week DATE,
   * week_offset INT, users), offset 0 = the cohort week itself.
   *
   * Shape: one min-aggregate for first-touch, one (user, week) distinct,
   * one grouped count — three shuffles on user/cohort keys, nothing
   * quadratic.
   */
  def weeklyRetention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val ev = events.select(col(userCol).as("u"),
      to_date(date_trunc("week", col(tsCol))).as("w"))
    val cohort = ev.groupBy("u").agg(min(col("w")).as("cw"))
    ev.distinct()
      .join(cohort, Seq("u"))
      .groupBy(col("cw").as("cohort_week"),
        (datediff(col("w"), col("cw")) / 7).cast("int").as("week_offset"))
      .agg(count(lit(1)).as("users"))
  }

  /**
   * Batch click-attribution — the oracled twin of the streaming
   * [[graft.streaming.EventStream.attributeWithin]], SAME semantics:
   * every conversion pairs with the same user's impressions whose
   * timestamp lies within `[conv_ts − horizonSec, conv_ts]` (both ends
   * inclusive). Returns (user_id, imp_ts, conv_ts, lag_seconds,
   * imp_value, conv_value).
   *
   * Shape: one EQUI-join shuffle on the user key with the time bound as
   * a post-join filter — per-user event counts are human-bounded, so the
   * equi-join never degenerates; there is no range cross join anywhere.
   */
  def attribution(events: DataFrame, impressionType: String = "view",
                  conversionType: String = "purchase",
                  horizonSec: Long = 1800L): DataFrame = {
    val imp = events.where(col("event_type") === impressionType)
      .select(col("user_id"), col("ts").as("imp_ts"), col("value").as("imp_value"))
    val conv = events.where(col("event_type") === conversionType)
      .select(col("user_id"), col("ts").as("conv_ts"), col("value").as("conv_value"))
    imp.join(conv, Seq("user_id"))
      .where(col("conv_ts") >= col("imp_ts") &&
        col("conv_ts").cast("long") - col("imp_ts").cast("long") <= horizonSec)
      .select(col("user_id"), col("imp_ts"), col("conv_ts"),
        (col("conv_ts").cast("long") - col("imp_ts").cast("long")).as("lag_seconds"),
        col("imp_value"), col("conv_value"))
  }
}
