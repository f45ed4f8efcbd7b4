package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Time-series regularization: bucket events to a fixed grain and
  * fill the gaps, so every key carries a dense, gap-free series —
  * what windowed feature extraction and sequence-model training data
  * need (a missing hour must be an explicit zero row, not an absent
  * one).
  *
  * Shape at scale: one aggregation to the grain, one tiny per-key
  * min/max aggregation, and a `sequence`+`explode` that generates
  * each key's grid INSIDE its partition — the dense grid never
  * shuffles; the left join back to the buckets is keyed (key, bucket)
  * and AQE-broadcastable when the bucketed side is small. Nothing is
  * ever driver-side.
  */
object Resample {

  /** Per-key dense series at `grain` granularity (hour/day/minute)
    * over each key's own [min, max] bucket span. Output: keyCols +
    * `bucket` + `n` (0 for gap rows) + `sum_value` (0.0 for gap rows).
    */
  def gapFill(df: DataFrame, keyCols: Seq[String], tsCol: String,
              valueCol: String, grain: String = "hour"): DataFrame = {
    val key = keyCols.map(col)
    val buckets = df
      .groupBy(key :+ date_trunc(grain, col(tsCol)).as("bucket"): _*)
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))
    val grid = buckets
      .groupBy(key: _*)
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      .select(key :+ explode(sequence(col("b0"), col("b1"),
        expr(s"INTERVAL 1 $grain"))).as("bucket"): _*)
    grid.join(buckets, keyCols :+ "bucket", "left")
      .select(key ++ Seq(col("bucket"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value")): _*)
  }

  /** Per-key rolling time-RANGE aggregates: for every event, the count
    * and sum of the key's events in the trailing `windowSec` seconds
    * (inclusive both ends — RANGE frame peers included, so ties at the
    * same second agree in any engine).
    *
    * One shuffle on the key, then a sorted in-partition frame scan —
    * the streaming-feature backbone ("events per user in the last
    * hour") with no self-join and no explode. The sum is carried as
    * exact `scale`-shifted longs: a RANGE frame's float summation
    * order is engine-internal (segment trees vs running sums), so
    * doubles here would be a cross-engine coin flip.
    */
  def rolling(df: DataFrame, keyCols: Seq[String], tsCol: String,
              valueCol: String, windowSec: Long, scale: Int = 100): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(unix_timestamp(col(tsCol)))
      .rangeBetween(-windowSec, 0)
    df.withColumn("__v", floor(col(valueCol) * lit(scale.toDouble) + lit(0.5)).cast("long"))
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("sum_window", sum(col("__v")).over(w).cast("double") / lit(scale.toDouble))
      .drop("__v")
  }

  /** Rolling z-score anomaly detection: each event scored against its
    * key's TRAILING-window mean/stddev (the event itself included —
    * self-inclusive frames are replay-safe; exclusive ones re-score
    * history on late data). Both moments are carried as EXACT
    * `scale`-shifted integer sums (Σv, Σv²), so the variance —
    * (Σv² − (Σv)²/n) / (n−1) — is a pure function of exact longs and
    * replays identically in any engine; sample stddev, n = 1 ⇒ z = 0.
    * One shuffle on the key, one sorted frame scan, no self-join.
    */
  def rollingZscore(df: DataFrame, keyCols: Seq[String], tsCol: String,
                    valueCol: String, windowSec: Long,
                    scale: Int = 100, zClip: Double = 3.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(unix_timestamp(col(tsCol)))
      .rangeBetween(-windowSec, 0)
    val s = lit(scale.toDouble)
    val v = floor(col(valueCol) * s + lit(0.5)).cast("long")
    df.withColumn("__v", v)
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s1", sum(col("__v")).over(w))
      .withColumn("__s2", sum(col("__v") * col("__v")).over(w))
      .withColumn("__mean", col("__s1").cast("double") / col("__n"))
      .withColumn("__var",
        when(col("__n") < 2, lit(0.0)).otherwise(
          greatest((col("__s2").cast("double")
            - col("__s1").cast("double") * col("__s1").cast("double") / col("__n"))
            / (col("__n") - 1), lit(0.0))))
      .withColumn("zscore",
        when(col("__var") === 0.0, lit(0.0)).otherwise(
          floor((col("__v").cast("double") - col("__mean")) / sqrt(col("__var"))
            * lit(10000.0) + lit(0.5)) / lit(10000.0)))
      .withColumn("is_anomaly", abs(col("zscore")) > zClip)
      .drop("__v", "__s1", "__s2", "__mean", "__var")
      .withColumnRenamed("__n", "n_window")
  }
}
