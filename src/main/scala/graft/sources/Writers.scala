package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Partition-aware writers.
  *
  * Mirrors the reference's year-partitioned snappy-parquet sinks
  * (reference: src/bronze/job-bronze-rues.py:125-160,
  * src/silver/job-silver-rues.py:643-675,
  * src/gold/job-gold-rues.py:893-939) without the Glue DynamicFrame
  * detour — `DataFrameWriter.partitionBy` is the native equivalent.
  *
  * Scale note: `repartition(partitionCols)` before a partitioned
  * write is the one pattern that bounds small-file explosion — each
  * output partition directory is written by the task(s) owning that
  * key, instead of every task writing a sliver of every partition.
  * At 100 TB you additionally cap per-file rows via maxRecordsPerFile.
  */
object Writers {

  /** Run `body` with hybrid-calendar (Julian/Gregorian) rebase-on-write
    * in effect, restoring the previous conf values afterwards. The
    * reference sets these confs ONLY inside its silver/gold jobs
    * (src/silver/job-silver-rues.py:44-45, src/gold/job-gold-rues.py:
    * 38-39), so graft scopes them to the medallion write path the same
    * way instead of session-globally (r7 ADVICE): everywhere else the
    * Spark 4 default (CORRECTED = proleptic) stays active, which is
    * what the proleptic-only oracle readers (DuckDB, Arrow) expect —
    * a pre-1582 value written by some future gate compares correctly
    * instead of silently shifting by the calendar gap.
    */
  def withLegacyRebase[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val keys = Seq("spark.sql.parquet.datetimeRebaseModeInWrite",
      "spark.sql.parquet.int96RebaseModeInWrite")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "LEGACY"))
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def parquetPartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite,
      maxRecordsPerFile: Long = 5000000L): Unit = {
    val out =
      if (partitionCols.nonEmpty) df.repartition(partitionCols.map(col): _*)
      else df
    val writer = out.write
      .mode(mode)
      .option("compression", "snappy")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
    withLegacyRebase(df.sparkSession) {
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
        .parquet(path)
    }
  }

  /** Derive a year partition column from a timestamp/date column and
    * write partitioned by it (reference bronze/silver layout).
    */
  def parquetByYear(df: DataFrame, path: String, tsCol: String,
                    partitionName: String = "year_partition"): Unit =
    parquetPartitioned(
      df.withColumn(partitionName, year(col(tsCol))),
      path, Seq(partitionName))

  /** ORC sink with the same partition-aware layout as parquet. */
  def orcPartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val out =
      if (partitionCols.nonEmpty) df.repartition(partitionCols.map(col): _*)
      else df
    val writer = out.write.mode(mode).option("compression", "snappy")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .orc(path)
  }

  /** JSON-lines sink (interchange with text-based pipelines). */
  def jsonLines(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** XML export (Spark 4 built-in source): one `rowTag` element per
    * row. Interchange-only — land XML, convert to parquet, never
    * analyze over it.
    */
  def xml(df: DataFrame, path: String, rowTag: String,
          mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("rowTag", rowTag).format("xml").save(path)

  /** Bucketed managed table: pre-shuffles data into `numBuckets` by
    * `bucketCols` at WRITE time so every later equi-join/aggregation
    * on those keys is exchange-free — the canonical way to pay a
    * 100 TB shuffle once instead of per-query. Requires saveAsTable
    * (bucket metadata lives in the catalog).
    */
  def bucketedTable(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** Small-file compaction: rewrite a parquet directory into files of
    * ~`targetFileBytes` each. At 100 TB the metadata cost of millions
    * of KB-sized files (NameNode/S3 LIST pressure, per-file task
    * overhead, footer reads) dominates scan time; periodic compaction
    * of streaming/incremental output is the standard fix. File count
    * is derived from the actual on-disk byte size, not row counts, so
    * compression ratio is respected. Returns the output file count.
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession,
                     inPath: String, outPath: String,
                     targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val p = new org.apache.hadoop.fs.Path(inPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    Readers.parquet(spark, inPath)
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite)
      .option("compression", "snappy")
      .parquet(outPath)
    nFiles
  }

  /** Retention vacuum over a partitioned layout: drop whole partition
    * directories whose partition VALUE fails `keep` — a pure
    * metadata/filesystem operation (list + delete), no data scan, no
    * rewrite. That is the entire point of partitioning by a retention
    * key at 100 TB: expiring a year costs one directory delete.
    * Returns the dropped partition values.
    */
  def dropPartitions(spark: org.apache.spark.sql.SparkSession, path: String,
                     partitionName: String, keep: String => Boolean): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = partitionName + "="
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => (s.getPath, s.getPath.getName.stripPrefix(prefix)))
      .filterNot { case (_, v) => keep(v) }
      .map { case (p, v) =>
        // a retention op that reports success while data remains is a
        // compliance bug — surface non-exceptional delete failures
        require(fs.delete(p, true), s"failed to drop partition $p")
        v
      }
  }

  /** Error-log sink (reference RN-007: src/silver/job-silver-rues.py:622-637).
    * Single CSV for operator consumption — coalesce(1) is acceptable
    * because error logs are tiny by construction (aggregated counts,
    * not row-level dumps).
    */
  def errorLogCsv(errors: DataFrame, path: String): Unit =
    errors.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)
}
