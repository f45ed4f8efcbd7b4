package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Median / MAD robust outlier statistics — the heavy-tail-safe
  * counterpart to z-score screening (mean and stddev are themselves
  * dragged by the outliers they are supposed to find; the median and
  * the median-absolute-deviation are 50%-breakdown estimators, the
  * standard robust scale for data-quality monitoring).
  *
  * Everything is rank-EXACT on the cent-integerized value histogram
  * (the [[Normalizer.winsorizeCentRank]] machinery): ONE corpus
  * exchange builds the (value → count) histogram, and the median,
  * the deviation histogram, the MAD, and the outlier tally are all
  * derived from that |distinct values|-sized frame — no second
  * corpus scan, no corpus-wide row_number, no interpolated quantile
  * (cross-engine ulp trap). The outlier test is pure integer
  * arithmetic: dev·10⁴ > mad·44478 encodes
  * |x−med| > 3·1.4826·MAD (the normal-consistency 3σ̂ rule) with no
  * float boundary at all.
  *
  * Cost decomposition (r10 A/B): the corpus histogram pass runs at
  * PARITY with the DuckDB oracle's entire budget (0.28-0.34 s vs
  * 0.32 s at sf10; 0.32-0.40 s at sf30) — the remaining ~0.7 s of the
  * report is five histogram-sized single-task stages (median cum-sum,
  * deviation fold, MAD cum-sum, tally, eager head) each doing
  * single-digit-ms of compute and paying Spark's per-stage scheduling
  * floor. That cost is FIXED in corpus size (measured flat sf10→sf30)
  * and amortizes away exactly where the oracle's histogram pass keeps
  * growing — the fixed-overhead-floor class, not plan waste.
  */
object RobustStats {

  /** One-row report over `valueCol` (a dollar-scale double):
    * (n, median_cents, mad_cents, n_outliers, outlier_frac 6dp).
    */
  def madReport(df: DataFrame, valueCol: String): DataFrame = {
    // cached: the med/dev/tally branches prune different columns, so
    // their hist subtrees differ and ReusedExchange does NOT collapse
    // them — uncached, this report re-scanned the corpus 6 times
    // (measured). The cache is |distinct cent values|-sized, bounded
    // by the value space at any corpus size. The report is ONE row, so
    // it is materialized eagerly and the cache released here.
    val hist = histogram(df, valueCol).cache()
    try {
      val report = madReportFrame(hist)
      df.sparkSession.createDataFrame(
        java.util.Collections.singletonList(report.head()), report.schema)
    } finally hist.unpersist(blocking = false)
  }

  /** The (cent value `c`, count `n`) histogram [[madReport]] folds. */
  private[graft] def histogram(df: DataFrame, valueCol: String): DataFrame =
    df.select(floor(col(valueCol) * lit(100.0) + lit(0.5)).cast("long").as("c"))
      .groupBy("c").agg(count(lit(1)).as("n"))

  /** The lazy report behind [[madReport]] over a [[histogram]] —
    * exposed so PlanSpec can assert the report's plan shape (the
    * public entry point returns an eagerly-materialized local row).
    */
  private[graft] def madReportFrame(hist: DataFrame): DataFrame = {
    // rank-exact median: smallest value whose running count passes
    // floor(0.5·(n−1)); the unpartitioned windows run over DISTINCT
    // values, never rows
    val wOrd = Window.orderBy("c")
    val wAll = Window.partitionBy()
    val cum = hist.select(col("c"), col("n"),
      sum("n").over(wOrd).as("cum"), sum("n").over(wAll).as("tot"))
    val med = cum.agg(min(when(
        col("cum") - 1 >= floor(lit(0.5) * (col("tot") - 1)), col("c")))
      .as("med"), max(col("tot")).as("tot"))
    // deviation histogram folds off the SAME value histogram
    val dev = hist.crossJoin(broadcast(med))
      .groupBy(abs(col("c") - col("med")).as("d"))
      .agg(sum("n").as("n"))
    val dcum = dev.select(col("d"), col("n"),
      sum("n").over(Window.orderBy("d")).as("cum"),
      sum("n").over(wAll).as("tot"))
    val mad = dcum.agg(min(when(
        col("cum") - 1 >= floor(lit(0.5) * (col("tot") - 1)), col("d")))
      .as("mad"))
    dev.crossJoin(broadcast(mad)).crossJoin(broadcast(med))
      .agg(
        sum("n").as("n"),
        max(col("med")).as("median_cents"),
        max(col("mad")).as("mad_cents"),
        sum(when(col("d") * 10000L > col("mad") * 44478L, col("n"))
          .otherwise(lit(0L))).as("n_outliers"))
      .select(col("n"), col("median_cents"), col("mad_cents"),
        col("n_outliers"),
        (floor(col("n_outliers").cast("double") / col("n") * lit(1e6)
          + lit(0.5)) / lit(1e6)).as("outlier_frac"))
  }
}
