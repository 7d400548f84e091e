package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's flagship analysis: additive CASE-based impact scoring,
  * normalised to 0-100 with PERCENT_RANK, then bucketed into categories.
  *
  * Reference: dbt models/london_overview/impact_scores_highway_authority_london.sql
  *  - lines 17-70: additive CASE weights (work category / TTRO / traffic
  *    sensitivity / traffic management / UPRN density bands)
  *  - lines 107-151: SUM per key -> PERCENT_RANK()*100 -> category CASE
  *  - lines 176-215: second-level rollup per highway authority.
  *
  * Scale notes: weights are kept in integer "deci-points" (x10) so sums are
  * exact and deterministic under any partial-aggregation order; the
  * percent_rank normalisation runs as a histogram-offset distributed rank
  * (Stats.withPercentRank100) because the per-customer keyspace grows with
  * the data — a global `percent_rank() OVER (ORDER BY ...)` window would
  * sort it in ONE task.
  */
object ImpactScore {

  /** CASE-mapped integer weight (deci-points: 5 == 0.5). */
  def caseWeight(c: Column, mapping: Seq[(Seq[String], Int)], default: Int): Column =
    mapping.foldLeft(when(lit(false), lit(0))) { case (acc, (values, w)) =>
      acc.when(c.isin(values.map(lit): _*), lit(w))
    }.otherwise(lit(default))

  /** Banded weight for a numeric column (reference's UPRN-density bands,
    * impact_scores_highway_authority_london.sql:60-70). `bands` are
    * (upperInclusive, weight) in ascending order. */
  def bandWeight(c: Column, bands: Seq[(Double, Int)], above: Int): Column =
    bands.foldLeft(when(lit(false), lit(0))) { case (acc, (hi, w)) =>
      acc.when(c <= lit(hi), lit(w))
    }.otherwise(lit(above))

  /** Reference's severity buckets (lines 143-150): thresholds descending. */
  def severityBucket(score100: Column): Column =
    when(score100 >= 95, "Severe")
      .when(score100 >= 75, "High")
      .when(score100 >= 50, "Moderate")
      .when(score100 >= 25, "Low")
      .otherwise("Minimal")
}
