package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Persisted, mergeable distinct-count sketches (Apache DataSketches
  * HLL via Spark's native `hll_sketch_agg` family): the incremental
  * form of Profiler's distinct profiling.
  *
  * Why this exists next to `approx_count_distinct`: HLL++ partial
  * state lives only inside one query's aggregation — it cannot be
  * SAVED. At 100 TB the profile you actually operate is incremental:
  * sketch each arriving partition ONCE, persist the (partition,
  * sketch) row, and answer "distinct keys this month / overall /
  * across any partition subset" forever after by unioning kilobyte
  * sketches — never rescanning data. Sketch union is lossless at a
  * fixed lgK (register-wise max), so the merged estimate is
  * IDENTICAL to a from-scratch single-pass sketch — the property
  * that makes the store append-only and retry-safe.
  *
  * Scale design: building is one partition-keyed exchange with
  * map-side partial sketch merge (fixed 2^lgK bytes per group, not
  * per row); incremental maintenance touches only the delta's
  * partitions; the store itself is O(partitions) kilobyte rows —
  * driver-safe to collect, broadcast, or join anywhere.
  */
object SketchStore {

  /** One row per `partCol` value: row count + HLL sketch (binary) of
    * distinct `key` values. Persist this; it IS the profile.
    */
  def build(df: DataFrame, partCol: String, key: Column, lgK: Int = 12): DataFrame =
    df.groupBy(col(partCol))
      .agg(count(lit(1)).as("n_rows"),
        hll_sketch_agg(key, lit(lgK)).as("sketch"))

  /** Merge a store with a delta store (same partCol/lgK): partitions
    * present in both union their sketches; counts add. O(|delta| +
    * |store|) sketch rows, no base-data rescan.
    */
  def mergeIncremental(store: DataFrame, delta: DataFrame, partCol: String): DataFrame =
    store.unionByName(delta)
      .groupBy(col(partCol))
      .agg(sum(col("n_rows")).as("n_rows"),
        hll_union_agg(col("sketch")).as("sketch"))

  /** Collapse a store (or any partition subset of it) to one global
    * (n_rows, sketch) row — "distinct across these partitions".
    */
  def rollup(store: DataFrame): DataFrame =
    store.agg(sum(col("n_rows")).as("n_rows"),
      hll_union_agg(col("sketch")).as("sketch"))

  /** Estimates from a store: (partCol?, n_rows, distinct_est), each
    * read as a merged sketch's: a store straight from [[build]] gives
    * the estimate its merged form would, at any partitioning.
    */
  def estimates(store: DataFrame): DataFrame =
    store.withColumn("distinct_est", SourceOverlap.mergedEstimate(col("sketch")))
      .drop("sketch")
}
