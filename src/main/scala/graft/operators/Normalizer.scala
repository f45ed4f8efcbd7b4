package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** RN-003: categorical value normalization (trim + uppercase).
  *
  * Reference: src/silver/job-silver-rues.py:360-373. Narrow
  * projection; codegen'd; free at scale.
  */
object Normalizer {

  def normalizeValue(c: Column): Column = upper(trim(c))

  def normalize(df: DataFrame, cols: Seq[String]): DataFrame = {
    val target = cols.filter(df.columns.contains).toSet
    val out = df.columns.map { c =>
      if (target(c)) normalizeValue(col(c)).as(c) else col(c)
    }
    df.select(out.toIndexedSeq: _*)
  }

  /** Winsorization (quantile clipping) of a numeric column, rank-exact
    * over cent-scaled longs: values below the pLo / above the pHi
    * percentile clamp to the bound. The bound at percentile p is the
    * actual data value at 0-indexed rank floor(p*(n-1)) — no
    * interpolation, so any two engines sorting the same integers pick
    * bit-identical bounds (an interpolated `percentile` differs from
    * DuckDB's `quantile_cont` in the final ulp and can flake a
    * value-hash gate at a .005 boundary; q_group_percentiles applies
    * the same rank rule).
    *
    * Scale shape: ranks are located on the VALUE HISTOGRAM (groupBy
    * cent-value, running count over distinct values) — the
    * unpartitioned window runs over |distinct values| rows, never a
    * corpus-wide row_number. Adds `<valueCol>_wc` (clamped cents,
    * long) and `__clipped` (-1/0/1).
    */
  def winsorizeCentRank(df: DataFrame, valueCol: String,
                        pLo: Double, pHi: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = floor(col(valueCol) * lit(100.0) + lit(0.5)).cast("long")
    val hist = df.select(cents.as("__c"))
      .groupBy("__c").agg(count(lit(1)).as("__n"))
    val cum = hist.select(col("__c"),
      sum("__n").over(Window.orderBy("__c")).as("__cum"),
      sum("__n").over(Window.partitionBy()).as("__tot"))
    // value at 0-indexed rank k = smallest v with cum(v) >= k + 1
    val bounds = cum.agg(
      min(when(col("__cum") - 1 >= floor(lit(pLo) * (col("__tot") - 1)), col("__c")))
        .as("__lo_c"),
      min(when(col("__cum") - 1 >= floor(lit(pHi) * (col("__tot") - 1)), col("__c")))
        .as("__hi_c"))
    df.withColumn("__c", cents)
      .crossJoin(broadcast(bounds))
      .withColumn(s"${valueCol}_wc",
        least(greatest(col("__c"), col("__lo_c")), col("__hi_c")))
      .withColumn("__clipped",
        when(col("__c") < col("__lo_c"), lit(-1L))
          .when(col("__c") > col("__hi_c"), lit(1L)).otherwise(lit(0L)))
      .drop("__c", "__lo_c", "__hi_c")
  }
}
