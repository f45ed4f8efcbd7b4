package graft.operators

import graft.functions.TextFunctions.{tokens => tok}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Corpus heavy hitters: the most frequent terms, exactly and by
  * Count-Min sketch (Cormode & Muthukrishnan 2005).
  *
  * Exact form: tokenize → term-keyed count → global top-k. The count
  * partial-aggregates map-side, so the exchange carries one row per
  * (partition, distinct term); the top-k plans as
  * TakeOrderedAndProject (per-partition top-k, k rows merged on one
  * task) — never a global sort. Still, the exchange is sized by the
  * VOCABULARY, which at 100 TB is the expensive part.
  *
  * Sketch form: Spark's built-in `count_min_sketch` aggregate (a
  * codegen'd TypedImperativeAggregate) folds the whole corpus into a
  * fixed d×w counter grid per partition and merges the grids — the
  * exchange carries ONE ~KB-sized sketch per partition regardless of
  * vocabulary, which is the 100 TB shape for "how often does term t
  * occur" questions. CMS guarantees est ≥ true and
  * est ≤ true + eps·N with probability ≥ confidence per probe
  * (N = total tokens), and sketches over disjoint corpus shards
  * merge losslessly — the property that makes it incremental.
  */
object HeavyHitters {

  /** Exact top-k terms: (term, cnt), count desc / term asc. */
  def topTerms(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(tok(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(k)

  /** Cross-engine check harness for the sketch (the
    * `q_profile_approx_check` pattern): the exact top-k — which the
    * DuckDB oracle reproduces row-for-row — carries two booleans the
    * oracle pins TRUE: the CMS estimate for each top term never
    * undercounts (`est_ge_exact`, a hard CMS guarantee) and stays
    * within the eps·N envelope (`est_within_eps`). The sketch is
    * built distributed (per-partition grids, merged exchange); the
    * driver then deserializes the ONE merged sketch (d·w counters,
    * ~60 KB here — bounded by the sketch parameters, not the data)
    * and probes it for k terms. With `seed` fixed the whole artifact
    * is deterministic.
    */
  def topTermsSketchCheck(spark: SparkSession, docs: DataFrame, textCol: String,
                          k: Int, eps: Double = 0.0001,
                          confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    val terms = docs.select(explode(tok(col(textCol))).as("term"))
    val bytes = terms
      .agg(count_min_sketch(col("term"), lit(eps), lit(confidence), lit(seed)))
      .head().getAs[Array[Byte]](0)
    val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
    val slack = math.ceil(eps * cms.totalCount()).toLong
    // cache the k-row top-k: it is referenced twice below (the probe
    // collect and the final join), and uncached each reference would
    // re-run the full tokenize+count pass — the harness then paid
    // THREE corpus passes where two (sketch + exact) is the floor;
    // the sketch pass itself must stay on the raw token stream (its
    // whole point is the vocab-independent per-partition blob, so
    // building it from the counted vocabulary would fake the shape)
    val exact = topTerms(docs, textCol, k).cache()
    // k-row report → materialized eagerly and the top-k cache released
    // here (the madReport/SourceOverlap contract: no cache entry
    // outlives the call)
    try {
      // k-row broadcast probe table: (term, est) straight off the
      // sketch. Explicit schema (not a product-encoder toDF): the
      // runtime TypeTag reflection behind implicits breaks under REPL
      // classloaders, and a literal schema needs no reflection at all.
      val probes = exact.select("term").collect().map(_.getString(0)).toSeq
      val est = spark.createDataFrame(
        java.util.Arrays.asList(probes.map(t => Row(t, cms.estimateCount(t))): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("est", org.apache.spark.sql.types.LongType))))
      val report = exact.join(broadcast(est), Seq("term"))
        .select(col("term"), col("cnt"),
          (col("est") >= col("cnt")).as("est_ge_exact"),
          (col("est") <= col("cnt") + lit(slack)).as("est_within_eps"))
        .orderBy(col("cnt").desc, col("term").asc)
      spark.createDataFrame(report.collectAsList(), report.schema)
    } finally exact.unpersist(blocking = false)
  }
}
