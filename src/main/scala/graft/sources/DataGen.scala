package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic, fully-distributed scale-up generator: builds an
  * sfN directory from an existing sf directory (same schemas, same
  * marginal distributions) so the bench can run a tier where queries
  * clear the per-job scheduling floor.
  *
  * Design for scale — this is the generator you'd run for a 100 TB
  * fixture, so it must itself be a legal 100 TB plan:
  *  - TPC-H tables + events scale by REPLICATION WITH KEY OFFSETS
  *    (replica r shifts every key column by r * keySpan): referential
  *    integrity, join fan-out per key, group cardinality ratios, and
  *    value distributions are preserved EXACTLY — a cross join against
  *    a broadcast replica-id frame, so the write parallelizes over
  *    input-split × replica with zero driver data;
  *  - `region`/`nation` stay fixed (fixed-size dimensions, as in TPC-H);
  *  - `documents`/`embeddings` are synthesized fresh from hash-based
  *    pseudo-randomness over `spark.range` (xxhash64(id, position) →
  *    uniform draw): replicating text 10x would turn every document
  *    into a 10-way near-duplicate family and quadratically blow up
  *    every LSH bucket, so near-dup workloads need fresh text with the
  *    same vocabulary, length law, language mix, and planted-dup rate.
  *    No RNG object, no driver loop — any executor can regenerate any
  *    row, so the job is retry-deterministic.
  *
  * Marginals mirrored from the sf0.1 fixtures: 30-word vocabulary +
  * rare 'dup' token in ~5% of docs, word count ~ U[10,100], lang mix
  * en 41% / zh,fr,es 15% / de 14%, sources src0..src19 round-robin,
  * exact-dup rate 1/625, embeddings dim-64 L2-normalized with uniform
  * labels 0..9.
  */
object DataGen {

  private val vocab = Seq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch")

  /** uniform in [0,1) from a keyed 64-bit hash — portable, seedable */
  private def u(seed: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (pmod(xxhash64(seed), lit(1000000000L)).cast("double") / lit(1e9))

  /** Replicate a table `n`x, shifting each keyCol by replica * span. */
  def replicate(df: DataFrame, n: Int, keySpans: Map[String, Long]): DataFrame = {
    val spark = df.sparkSession
    val reps = broadcast(spark.range(n).toDF("__rep"))
    df.crossJoin(reps)
      .select(df.columns.toIndexedSeq.map { c =>
        keySpans.get(c) match {
          case Some(span) => (col(c) + col("__rep") * lit(span)).as(c)
          case None       => col(c)
        }
      }: _*)
  }

  def documents(spark: SparkSession, nDocs: Long): DataFrame = {
    val vocabCol = array(vocab.map(lit): _*)
    // exact dups: doc 625k+624 reuses the text of 625k+623
    val base = spark.range(nDocs).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(625L)) === 624L, col("id") - 1).otherwise(col("id")).as("tid"))
    val nWords = (pmod(xxhash64(col("tid"), lit(1)), lit(91L)) + 10L).as("n_words")
    val withText = base.select(col("doc_id"), col("tid"), nWords)
      .select(col("doc_id"), col("tid"),
        concat_ws(" ", transform(sequence(lit(0L), col("n_words") - 1),
          i => when(
            // rare 'dup' token in ~5% of docs, one occurrence
            pmod(col("tid"), lit(20L)) === 7L &&
              i === pmod(xxhash64(col("tid"), lit(2)), col("n_words")),
            lit("dup")
          ).otherwise(element_at(vocabCol,
            (pmod(xxhash64(col("tid"), i, lit(3)), lit(vocab.size.toLong)) + 1)
              .cast("int"))))).as("text"))
    withText.select(col("doc_id"), col("text"),
      // lang mix: en .41 / zh .15 / fr .15 / es .15 / de .14
      when(u(col("tid") + 7) < 0.41, "en").when(u(col("tid") + 7) < 0.56, "zh")
        .when(u(col("tid") + 7) < 0.71, "fr").when(u(col("tid") + 7) < 0.86, "es")
        .otherwise("de").as("lang"),
      concat(lit("src"), pmod(col("doc_id"), lit(20L)).cast("string")).as("source"),
      length(col("text")).cast("long").as("n_chars"))
  }

  def embeddings(spark: SparkSession, nVecs: Long, dim: Int = 64): DataFrame = {
    val comps = transform(sequence(lit(0), lit(dim - 1)),
      i => u(col("id") * lit(131L) + i.cast("long")) * 2.0 - 1.0)
    spark.range(nVecs).select(col("id").as("vec_id"),
        comps.as("raw"),
        pmod(xxhash64(col("id"), lit(9)), lit(10L)).cast("int").as("label"))
      .withColumn("norm",
        sqrt(aggregate(col("raw"), lit(0.0), (acc, v) => acc + v * v)))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        col("label"))
  }

  /** args: <srcSfDir> <outDir> <factor>  (factor 10: sf0.1 -> sf1) */
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // The replicate cross-join inherits the source tier's (often
    // single-split) partitioning: without an explicit spread the whole
    // scaled table lands in ONE part file with ONE row group, which
    // caps every downstream scan — Spark's and the oracle engine's —
    // at one task per file. Real data at this scale arrives as many
    // files; the generator must too.
    def write(name: String, df: DataFrame, parts: Int =
        spark.sparkContext.defaultParallelism): Unit = {
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[datagen] $name done")
    }
    def src(name: String) = Readers.parquet(spark, s"$srcDir/$name.parquet")

    // fixed-size dims: copy (single file — they're a handful of rows)
    Seq("region", "nation").foreach(t => write(t, src(t), parts = 1))
    // linear tables: replicate with key offsets (spans = sf0.1 key ranges)
    write("customer", replicate(src("customer"), factor, Map("c_custkey" -> 15000L)))
    write("supplier", replicate(src("supplier"), factor, Map("s_suppkey" -> 1000L)))
    write("part", replicate(src("part"), factor, Map("p_partkey" -> 20000L)))
    write("orders", replicate(src("orders"), factor,
      Map("o_orderkey" -> 150000L, "o_custkey" -> 15000L)))
    write("lineitem", replicate(src("lineitem"), factor,
      Map("l_orderkey" -> 150000L, "l_partkey" -> 20000L, "l_suppkey" -> 1000L)))
    // events: go through Tables.events so the TIMESTAMP(NANOS) source
    // lands as a µs-truncated real TIMESTAMP column (a raw replication
    // would persist the nanosAsLong BIGINT and break any SQL engine's
    // time functions over the generated tier); values are identical to
    // what both Spark and the DuckDB oracle see on the source tier
    write("events", replicate(graft.Tables.events(spark, srcDir), factor,
      Map("event_id" -> 100000L, "user_id" -> 1500L)))
    // content tables: fresh synthesis at factor x the sf0.1 cardinality
    write("documents", documents(spark, 5000L * factor))
    write("embeddings", embeddings(spark, 2000L * factor))
    spark.stop()
  }
}
