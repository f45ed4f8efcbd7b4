package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** The one "spread a small scan" decision, read from the input.
  *
  * Rule: spread to the core count (`defaultParallelism`) when the
  * plan does not yet need a shuffle and its scan yields fewer
  * partitions than there are cores; otherwise leave the plan alone.
  * A tier file written as one row group scans as one split, so a
  * per-row CPU pass over it would run as one task; a scan that
  * already yields a split per core (any 100 TB input) is never
  * touched. A plan that needs a shuffle is left alone because its
  * width is AQE's to choose, and asking for it would run the
  * upstream stages while the plan is being built.
  *
  * Two shapes: [[ifNarrow]] round-robins a frame (gate and scan
  * sites); [[width]] gives the width for an operator's own keyed
  * exchange, decided once on its entry input. Each call site left won
  * a paired on/off A/B on the gate that exercises it (sf0.1, 4 cores)
  * or, removed, put that gate outside Bench's regression bound; the
  * per-site table is in CHANGES.md.
  */
object Spread {

  /** The core count when `df` is narrow (see above), else 0. Plans
    * `df` but starts no Spark job.
    */
  private[graft] def width(df: DataFrame): Int = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.executedPlan
    if (needsShuffle(plan) || plan.execute().getNumPartitions >= cores) 0 else cores
  }

  /** Round-robin `df` to [[width]] partitions when that is not 0. */
  private[graft] def ifNarrow(df: DataFrame): DataFrame = {
    val n = width(df)
    if (n > 0) df.repartition(n) else df
  }

  // An exchange, an AQE root (AQE wraps every plan that needs one) or
  // a subquery: executing the plan to count its partitions would run
  // jobs. A cached input counts by the plan it caches.
  private def needsShuffle(plan: SparkPlan): Boolean = plan.exists {
    case _: AdaptiveSparkPlanExec | _: Exchange => true
    case s: InMemoryTableScanExec => needsShuffle(s.relation.cachedPlan)
    case p => p.subqueries.nonEmpty
  }
}
