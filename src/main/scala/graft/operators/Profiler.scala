package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality profiling — all single-pass.
  *
  * Reference bronze validation (src/bronze/job-bronze-rues.py:79-120)
  * counts NULLs per column and duplicate rows on a 1% sample; the
  * silver layer runs a consolidated one-pass validation
  * (src/silver/job-silver-rues.py:530-566).
  *
  * Scale rule enforced here: a profile over 100 TB must be ONE job —
  * every metric is an aggregate expression in a single `select`, so
  * Spark computes them all in one scan with partial aggregation.
  * (The naive per-column `df.filter(c.isNull).count()` loop would be
  * N full scans.)
  */
object Profiler {

  /** One row: `<col>_nulls` count for every column. */
  def nullProfile(df: DataFrame): DataFrame =
    df.select(df.columns.toIndexedSeq.map(c =>
      count(when(col(s"`$c`").isNull, lit(1))).as(s"${c}_nulls")): _*)

  /** One row: total rows, distinct rows over `keyCols`, duplicates. */
  def dupProfile(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keyStruct = struct(keyCols.map(col): _*)
    df.select(
      count(lit(1)).as("total_rows"),
      count_distinct(keyStruct).as("distinct_keys"))
      .withColumn("duplicate_rows", col("total_rows") - col("distinct_keys"))
  }

  /** Approximate dup profile — the 100 TB form of `dupProfile`:
    * HLL++ (`approx_count_distinct`, default 5% rsd) replaces the
    * exact-distinct double aggregation, so the profile needs no
    * per-key shuffle at all (partial sketches merge map-side).
    */
  def dupProfileApprox(df: DataFrame, keyCols: Seq[String],
                       rsd: Double = 0.05): DataFrame = {
    val keyStruct = struct(keyCols.map(col): _*)
    df.select(
      count(lit(1)).as("total_rows"),
      approx_count_distinct(keyStruct, rsd).as("approx_distinct_keys"))
      .withColumn("approx_duplicate_rows",
        greatest(col("total_rows") - col("approx_distinct_keys"), lit(0L)))
  }

  /** Numeric column statistics, one row per column, ONE scan: count,
    * nulls, min/max/mean/stddev and the exact interpolated median.
    * All aggregates partial-combine except `percentile`, whose buffer
    * grows with distinct values — at 100 TB swap it for
    * `approx_percentile` (same call shape; the spec bounds the
    * approximation against exact on real data).
    */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    val d = df.select(cols.map(c => col(c).cast("double").as(c)): _*)
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__n"),
        count(when(col(c).isNull, lit(1))).as(s"${c}__n_null"),
        min(col(c)).as(s"${c}__min"),
        max(col(c)).as(s"${c}__max"),
        avg(col(c)).as(s"${c}__mean"),
        stddev_samp(col(c)).as(s"${c}__stddev"),
        expr(s"percentile(`$c`, 0.5)").as(s"${c}__median"))
    }
    val one = d.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("column"),
        col(s"${c}__n").as("n"), col(s"${c}__n_null").as("n_null"),
        col(s"${c}__min").as("min"), col(s"${c}__max").as("max"),
        col(s"${c}__mean").as("mean"), col(s"${c}__stddev").as("stddev"),
        col(s"${c}__median").as("median"))
    }
    one.select(explode(array(rows: _*)).as("s")).select("s.*")
  }

  /** Sketch-based percentiles — the 100 TB form of `numericProfile`'s
    * median: exact `percentile` materializes every value per group,
    * while `approx_percentile` keeps a fixed-size mergeable sketch per
    * partial aggregate (error ≤ 1/accuracy of rank). One pass, many
    * quantiles per column. Spec bounds the error vs the exact path.
    */
  def approxPercentiles(df: DataFrame, cols: Seq[String],
                        ps: Seq[Double], accuracy: Int = 10000): DataFrame = {
    require(cols.nonEmpty && ps.nonEmpty)
    val pArr = ps.mkString("array(", ", ", ")")
    val aggs = cols.map(c =>
      expr(s"approx_percentile(CAST(`$c` AS DOUBLE), $pArr, $accuracy)")
        .as(s"${c}__q"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map(c => struct(lit(c).as("column"), col(s"${c}__q").as("quantiles")))
    one.select(explode(array(rows: _*)).as("s")).select("s.*")
  }

  /** Heavy-hitter / key-skew diagnostic: top-n keys by frequency with
    * their share of all rows — the profile you run on a join key
    * before deciding between plain, broadcast, and salted joins
    * ([[SkewJoin]]). One keyed shuffle (partial-aggregated counts), a
    * broadcast scalar for the total, TakeOrdered for the top-n.
    */
  def heavyHitters(df: DataFrame, keyCols: Seq[String], topN: Int = 10): DataFrame = {
    require(keyCols.nonEmpty)
    val counts = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
    val total = df.select(count(lit(1)).cast("double").as("__total"))
    counts.join(broadcast(total))
      .select(keyCols.map(col) :+ col("n") :+
        (floor(col("n") / col("__total") * lit(10000.0) + lit(0.5)) / lit(10000.0))
          .as("share"): _*)
      .orderBy(col("n").desc +: keyCols.map(col(_).asc): _*)
      .limit(topN)
  }

  /** Consolidated validations: arbitrary named boolean rules counted
    * in one pass (reference: validaciones_consolidadas).
    */
  def validate(df: DataFrame, rules: Seq[(String, Column)]): DataFrame =
    df.select(rules.toIndexedSeq.map { case (name, cond) =>
      count(when(cond, lit(1))).as(name)
    }: _*)

  /** Long-format error log derived from a validation row (reference
    * RN-007 exports columna/mensaje/valor rows).
    */
  def errorLog(validationRow: DataFrame, messages: Map[String, String]): DataFrame = {
    val cols = validationRow.columns.toIndexedSeq
    val entries = cols.map { c =>
      struct(lit(c).as("columna"),
             lit(messages.getOrElse(c, "validation failed")).as("mensaje_error"),
             col(s"`$c`").cast("string").as("valor"),
             col(s"`$c`").cast("long").as("count"))
    }
    validationRow
      .select(explode(array(entries: _*)).as("e"))
      .select(col("e.columna"), col("e.mensaje_error"), col("e.valor"))
      .where(col("e.count") > 0)
  }
}
