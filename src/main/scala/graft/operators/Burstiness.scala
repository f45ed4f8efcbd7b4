package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Rounding.pround

/** Inter-event burstiness per key — the bot/automation screen for
  * event and crawl logs: humans are bursty (inter-arrival gaps with
  * coefficient of variation ≈ 1, the Poisson signature, or above),
  * schedulers and scrapers are REGULAR (CV → 0). Flagging regular
  * keys is the standard first pass before rate-limiting or excluding
  * machine traffic from engagement-derived training signals.
  *
  * Determinism: gaps are whole-second differences computed with pure
  * NTZ wall-clock arithmetic (`timestampdiff` against the NTZ epoch —
  * no session timezone in the expression at all, so a DST transition
  * inside a key's event span cannot shift a gap the way an NTZ→LTZ
  * cast through a DST zone would), and mean/CV derive from exact
  * integer moment sums — the [[graft.ann.Standardize]] rule. One key
  * shuffle; the lag and the aggregate share its sort.
  *
  * Plan A/B (r10 A/B, sf10 = 10M events, DuckDB oracle 0.35 s):
  * this window-lag form 1.19 s; a collect_list + sorted-array HOF
  * fold (no window) 1.09 s — rejected: the −8% is bought with
  * per-key in-memory arrays, so one hot key (exactly the bots this
  * operator hunts) becomes an unbounded task allocation, where the
  * sort-window spills gracefully. Both engines run the identical
  * lag-over-partitioned-sort plan; the residual ratio is the
  * engine's exchange+sort floor (the q3/q5 evidence class), not
  * plan waste.
  */
object Burstiness {

  /** Per-key report over keys with at least `minGaps` gaps:
    * (key, n_gaps, mean_gap_s 2dp, cv 4dp, bot_like = cv below
    * `cvBelow` on the ROUNDED value). `idCol` totally orders ties —
    * the gap SUM telescopes (order-free) but the square sum does
    * not, so the sort must be deterministic.
    */
  def report(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      minGaps: Int = 8, cvBelow: Double = 0.3): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
    // a narrow input (graft.Spread): explicit-width key exchange so
    // AQE's size-based coalesce can't serialize the window+agg
    val n = graft.Spread.width(df)
    val dfS = if (n > 0) df.repartition(n, col(keyCol)) else df
    // whole seconds since the NTZ epoch: timezone-free, DST-immune
    // (timestampdiff truncates toward zero; all event data is
    // post-epoch, so this equals the floor of fractional seconds)
    val sec = expr(
      s"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', " +
        s"cast(`$tsCol` as timestamp_ntz))").cast("long")
    val gaps = dfS
      .select(col(keyCol), col(tsCol), col(idCol), sec.as("s"))
      .withColumn("gap", col("s") - lag(col("s"), 1).over(w))
      .filter(col("gap").isNotNull)
    val agg = gaps.groupBy(keyCol).agg(
      count(lit(1)).as("n_gaps"),
      sum(col("gap")).as("sg"),
      sum((col("gap") * col("gap")).cast("decimal(38,0)")).as("qg"))
    val mean = agg("sg").cast("double") / agg("n_gaps")
    val variance = (agg("qg").cast("double") -
      agg("sg").cast("double") * agg("sg") / agg("n_gaps")) / agg("n_gaps")
    val cv = pround(when(mean === 0.0, lit(0.0))
      .otherwise(sqrt(variance) / mean), 4)
    agg.filter(col("n_gaps") >= minGaps)
      .select(col(keyCol), col("n_gaps"),
        pround(mean, 2).as("mean_gap_s"),
        cv.as("cv"),
        (cv < cvBelow).as("bot_like"))
  }
}
