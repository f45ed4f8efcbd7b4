package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The "spread a small scan" decision: when a scan yields fewer
  * splits than the box has cores, round-robin it before the per-row
  * CPU pass; otherwise leave the plan alone.
  */
object Spread {

  /** Scale-adaptive scan fan-out width (r12 optimization round;
    * width made input-proportional in r13).
    *
    * Tier parquet is written as ONE row group per table, so a scan
    * can never parallelize past the file count no matter how small
    * `maxPartitionBytes` is — at sf0.1 every corpus HOF pass
    * (tokenize/shingle/trigram) runs as ONE task on a 32-core box.
    * Gates whose per-row CPU dominates pass this width to their
    * operator (or repartition the scan directly): the table's
    * FS-metadata byte size (no Spark job — the
    * SparkEntry.broadcastIfUnder recipe) says how many scan splits
    * the file CAN yield; when that is below the core count, fan out,
    * else 0 (= leave the scan alone). At 100 TB the condition is
    * false by construction — thousands of splits already fill every
    * core — so the extra (tiny) exchange exists only in the regime
    * where it costs microseconds and buys a core-count speedup of
    * the dominant CPU pass.
    *
    * The WIDTH is input-proportional, not `defaultParallelism`
    * (r12 verdict item 2): pinning every spread to the core count
    * made the whole sf0.1 bench run FASTER at 8 cores than at 32
    * (21.4 s vs 28.1 s, measured) — each spread-fed stage
    * chain paid 32-task waves to move KBs. One task per
    * [[ChunkBytes]] of on-disk input (clamped to [2, cores])
    * keeps a tiny tier at single-digit widths while an sf10-sized
    * tier still saturates the box; at the 8-core rerun the
    * clamp reproduces the old widths, so the scaling comparison
    * stays apples-to-apples.
    */
  private[graft] def scanFanout(s: SparkSession, d: String, table: String): Int = {
    val bytes = Tables.bytesOnDisk(s, d, table)
    val maxSplit = s.sessionState.conf.filesMaxPartitionBytes
    val cores = s.sparkContext.defaultParallelism
    if (bytes >= cores.toLong * maxSplit) 0
    else math.max(2L, math.min(cores.toLong, bytes / ChunkBytes + 1L)).toInt
  }

  /** On-disk bytes per spread task ([[scanFanout]]). 128 KiB of
    * snappy parquet ≈ a thousand documents ≈ ~100 ms of
    * tokenize/shingle CPU — deep enough to amortize a task launch
    * and its downstream stage waves, shallow enough that a 600 KB
    * tier still spreads 5 wide. Chosen by a measured sweep (r13:
    * widths 32/19/10/5/3 over the seven documents-spread gates —
    * width 5 won or tied every query; the old cores-pinned 32 lost
    * up to 30%).
    */
  private[graft] val ChunkBytes: Long = 131072L

  /** Round-robin fan-out of a small scan per [[scanFanout]] — identity
    * when the table already scans wide (the 100 TB case).
    */
  private[graft] def ifSmall(s: SparkSession, d: String, table: String)(
      df: DataFrame): DataFrame = {
    val n = scanFanout(s, d, table)
    if (n > 0) df.repartition(n) else df
  }

  /** Round-robin `df` to `n` partitions (`n` ≤ 0: the core count)
    * only when it arrives narrower than that — a local test file or a
    * single-task source. A well-partitioned 100 TB scan must not pay
    * a round-robin exchange of the full raw text. For operators that
    * see a DataFrame, not a table: the width check plans the input.
    */
  private[graft] def ifNarrow(df: DataFrame, n: Int = 0): DataFrame = {
    val width = if (n > 0) n else df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < width) df.repartition(width) else df
  }
}
