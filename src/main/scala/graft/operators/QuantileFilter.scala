package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CCNet-style relative quality bucketing (Wenzek et al. 2020): each
  * document lands in a head/middle/tail bucket by its score's
  * PERCENTILE WITHIN ITS LANGUAGE — the reference pipeline's quality
  * gates are absolute thresholds; this is the relative form CCNet
  * popularized (keep the best 30% of *each language*, so low-resource
  * languages aren't wiped out by a global cut).
  *
  * Exactness without a corpus-wide window: scores are already
  * integerized (the repo-wide 4-dp discipline), so the per-language
  * score HISTOGRAM is bounded (≤ 10^4·span rows per language,
  * regardless of corpus size). The percentile of a document is then a
  * pure function of its (group, score) cell:
  *
  *   frac_better = (# docs in the group with a strictly better score) / n
  *
  * computed by a cumulative sum over the histogram — a window over
  * BOUNDED per-group histogram rows, never over documents. Buckets
  * are value-based (ties share a bucket), so assignment is
  * deterministic with no tie-break protocol, and the corpus pass is
  * scan → narrow score → broadcast histogram join: ONE bounded
  * exchange (the histogram build's), no doc-keyed shuffle at all.
  */
object QuantileFilter {

  /** Assign `bucket` ∈ {head, middle, tail} per row: head if
    * frac_better < headFrac, middle if < headFrac + midFrac, else
    * tail. `score` must be a deterministic, bounded-cardinality
    * expression (integerized — NOT a raw double) for the histogram
    * bound to hold. Output: input columns + (score, frac_better,
    * bucket).
    */
  def buckets(df: DataFrame, groupCol: String, score: Column,
              headFrac: Double = 0.3, midFrac: Double = 0.4): DataFrame = {
    require(headFrac > 0 && midFrac > 0 && headFrac + midFrac < 1.0,
      s"bucket fractions must be positive and sum below 1: $headFrac, $midFrac")
    // coalesce makes the attribute NON-NULLABLE (null scores rank as
    // 0.0 = worst). This is a performance load-bearer, not just a
    // convention: `score` becomes a join key below, and a nullable
    // computed key makes Catalyst infer isnotnull(<the whole score
    // expression>) into a separate non-codegen Filter that
    // re-evaluates the expression per row — measured 60× on the
    // sf10 corpus (6.1 s vs 0.1 s for the identical q_quality_score
    // projection).
    val scored = df.withColumn("score", coalesce(score, lit(0.0)))
    val hist = scored.groupBy(col(groupCol), col("score"))
      .agg(count(lit(1)).as("__c"))
    // per-group cumulative over HISTOGRAM rows (bounded by the score
    // grid, not the corpus) — this window is the scale-safe kind
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val cum = hist
      .withColumn("__better", coalesce(sum(col("__c")).over(w), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(col(groupCol))))
      .select(col(groupCol), col("score"),
        (col("__better").cast("double") / col("__n")).as("frac_better"))
    scored.join(broadcast(cum), Seq(groupCol, "score"))
      .withColumn("bucket",
        when(col("frac_better") < lit(headFrac), lit("head"))
          .when(col("frac_better") < lit(headFrac + midFrac), lit("middle"))
          .otherwise(lit("tail")))
  }
}
