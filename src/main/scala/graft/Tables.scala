package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Readers

/** Loaders for the driver-generated testdata star schema.
  *
  * Every table is a plain parquet file under `\$sfDir/<name>.parquet`.
  * At 100 TB these would be partitioned/bucketed datasets; the loader
  * keeps the access path centralized so that swap is one-line.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Readers.parquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(MICROS) in the testdata tiers
    * and reads as a timestamp. A TIMESTAMP(NANOS) file reads as long
    * ns (GraftSession's nanosAsLong) and is truncated here to µs
    * TIMESTAMP_NTZ — the same truncation DuckDB applies casting
    * TIMESTAMP_NS → TIMESTAMP, so both engines see identical values.
    * Integer `div` (not `/`) so the int64 ns value never routes
    * through a double.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** On-disk bytes of a table's parquet file/directory — the cheap,
    * deterministic size signal the q3/q5 broadcast gates key on
    * (one filesystem content summary; no Spark job, no driver
    * collect). Goes through the Hadoop FileSystem API so the same
    * gate works against an object store at cluster scale. A missing
    * table reads as infinitely large: the gate then emits no hint
    * and AQE plans the join unaided — the safe default.
    */
  def bytesOnDisk(s: SparkSession, sfDir: String, name: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
    try {
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else Long.MaxValue
    } catch { case _: java.io.IOException => Long.MaxValue }
  }

  /** Content stamp of a table's parquet file/directory from FILESYSTEM
    * METADATA alone (per-file path, length, mtime — no Spark job, no
    * data scan): the fingerprint key the staged-index builders
    * (`LshIngest.ensureIndex`, `Ivf.ensureAppendedIndex`, the bloom /
    * q5-map stagers) stamp their artifacts with. Regenerated data
    * changes file mtimes/sizes even when row counts and char totals
    * collide (the r11 advice hole: a (count, Σchars) fingerprint
    * reuses a stale index across permuted re-generations), and the
    * stamp costs O(files) driver-side metadata calls — so a
    * fingerprint HIT never scans the corpus inside a timed gate
    * (r11 advice: the old hit path re-computed count+sum(length) per
    * bench run). None when the path is missing/unlistable: callers
    * fall back to their scan-based fingerprint.
    */
  def sourceStamp(s: SparkSession, sfDir: String, name: String): Option[String] =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val it = fs.listFiles(p, true)
        val parts = scala.collection.mutable.ArrayBuffer[String]()
        while (it.hasNext) {
          val f = it.next()
          parts += s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"
        }
        val blob = fs.makeQualified(p).toString + "|" + parts.sorted.mkString(",")
        val md = java.security.MessageDigest.getInstance("MD5")
        Some(md.digest(blob.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      }
    } catch { case _: java.io.IOException => None }

  /** Build into `path` once per distinct fingerprint: a `_FINGERPRINT`
    * marker holding `fp` skips `build`; otherwise `build` runs and the
    * marker is written after it, so a build that throws leaves no
    * marker and re-runs. Returns true when a build ran.
    */
  def ensureStaged(path: String, fp: String)(build: => Unit): Boolean = {
    import java.nio.file.Files
    val marker = java.nio.file.Paths.get(path, "_FINGERPRINT")
    val fresh = Files.exists(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8").trim == fp
    if (!fresh) {
      build
      Files.write(marker, fp.getBytes("UTF-8"))
    }
    !fresh
  }

  /** Fingerprint of a text corpus for [[ensureStaged]], suffixed with
    * the build's `params`: the caller's [[sourceStamp]] when given (no
    * scan), else one scan pass of count, Σlength and a CONTENT term —
    * (count, Σchars) alone reuses a stale artifact across regenerated
    * data with permuted content. The content term is bit_xor of
    * xxhash64: order-independent, and it can never overflow under
    * ANSI (a sum of full-range xxhash64 longs does).
    */
  def textFingerprint(corpus: DataFrame, textCol: String,
                      sourceFp: Option[String], params: String): String = {
    import org.apache.spark.sql.functions._
    val stamp = sourceFp.map(s => s"src:$s").getOrElse {
      val r = corpus.agg(count(lit(1)),
        coalesce(sum(length(col(textCol))), lit(0L)),
        coalesce(bit_xor(xxhash64(col(textCol))), lit(0L))).head
      s"${r.getLong(0)}_${r.getLong(1)}_x${r.getLong(2)}"
    }
    s"${stamp}_$params"
  }
}
