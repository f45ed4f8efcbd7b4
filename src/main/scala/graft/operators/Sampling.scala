package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-key sampling / top-n selection.
  *
  * `perKey` takes the first `n` rows of each key group under an
  * explicit ordering — pass a hash (`xxhash64(id, salt)`) for
  * deterministic pseudo-random samples, or a real column for top-n
  * semantics. One shuffle on the key; Spark 4 plans the rank filter
  * as WindowGroupLimit, so each mapper forwards at most n candidate
  * rows per key before the exchange — the property that makes
  * "3 examples per language over 100 TB" cheap.
  */
object Sampling {

  def perKey(df: DataFrame, keys: Seq[String], ordering: Seq[Column], n: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= n)
      .drop("__rank")
  }

  /** Seeded global random sample — the scalable `ORDER BY RAND()
    * LIMIT n` (reference gold validations V4 sampling, cf.
    * query_gold_validations.sql:164). Ordering by a seeded hash of a
    * unique id instead of rand() makes the sample reproducible AND
    * lets Spark plan it as TakeOrderedAndProject: each task forwards
    * only its local top-n, so the driver merges tasks*n rows rather
    * than globally sorting the corpus — the only form that survives
    * 100 TB. Pass `ordering` to override the hash (the gate uses a
    * cross-engine md5 ordering; xxhash64 is the production default).
    */
  def globalSample(df: DataFrame, idCol: String, n: Int, salt: Int = 0,
                   ordering: Option[Column] = None): DataFrame = {
    val ord = ordering.getOrElse(xxhash64(col(idCol), lit(salt)))
    df.orderBy(ord.asc, col(idCol).asc).limit(n)
  }

  /** Cross-engine-reproducible sample ordering: the md5 hex digest of
    * `id '#' salt` (same portable-hash trick as
    * [[graft.pipeline.CorpusPrep.portableBucket]]).
    */
  def portableOrdering(idCol: String, salt: Int = 0): Column =
    md5(concat(col(idCol).cast("string"), lit("#" + salt)))

  /** Deterministic uniform [0,1) draw per row: first 8 md5 hex digits
    * of `id '#' salt` scaled by 2^32 — no RNG state to ship, identical
    * in any engine, stable under retries/re-partitioning (a `rand()`
    * sample is NOT: task retries re-roll it).
    */
  def portableUniform(idCol: String, salt: Int = 0): Column =
    conv(substring(portableOrdering(idCol, salt), 1, 8), 16, 10)
      .cast("long").cast("double") / lit(4294967296.0)

  /** Deterministic weighted (importance) sampling: keep each row with
    * probability `weightCol` ∈ [0,1] — quality-weighted corpus
    * subsampling (keep good docs more often) as a pure narrow filter:
    * no shuffle, no RNG, reproducible row set at any scale.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     salt: Int = 0): DataFrame =
    df.filter(portableUniform(idCol, salt) < col(weightCol))

  /** Deterministic stratified sampling: keep each row with the
    * probability assigned to its stratum (language, source, quality
    * band…), default rate for unlisted strata. This is the data-mixing
    * primitive — "keep 50% of English, 10% of everything else" — and
    * like [[weightedSample]] it is a pure narrow filter: the per-row
    * uniform draw is a portable hash of the id, so there is no
    * per-stratum pass, no shuffle, and no RNG state, at any corpus
    * size. The fraction lookup is a literal map (broadcast-free:
    * baked into the plan).
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       fractions: Map[String, Double], default: Double,
                       salt: Int = 0): DataFrame = {
    val lookup = map(fractions.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val frac = coalesce(element_at(lookup, col(stratumCol)), lit(default))
    df.filter(portableUniform(idCol, salt) < frac)
  }

  /** Rebalance the corpus to a TARGET mixture: given each stratum's
    * desired share of total `weightCol` (tokens, usually), compute the
    * per-stratum keep rate `min(1, target_share · total / actual)` and
    * downsample the over-represented strata to it — the standard
    * pretraining-mix correction ("web is 80% of tokens but should be
    * 50%"). Strata absent from `targets` are dropped (rate 0).
    *
    * Two passes by construction (the rate depends on a global
    * aggregate): a stats pass that partial-aggregates stratum weights
    * to a stratum-cardinality frame, and a narrow filter pass joining
    * the broadcast rate table. Under-represented strata keep rate 1 —
    * this operator never upsamples, so the result is a strict,
    * deterministic, retry-stable subset.
    */
  /** Temperature (alpha) sampling rates — the multilingual-pretraining
    * mixture rule (Conneau & Lample 2019 §3.1; mT5, XLM-R): stratum i
    * with natural share p_i is targeted at p_i^alpha / Σ p_j^alpha.
    * alpha = 1 keeps the natural mixture; alpha → 0 approaches
    * uniform; the usual range is 0.3–0.7, which lifts low-resource
    * strata without letting any single stratum dominate. Downsample-
    * only (the [[rebalanceToTargets]] convention): keep_rate =
    * min(1, target_share · total / actual), so over-target strata
    * thin and under-target strata pass through intact.
    *
    * Shape: ONE stats pass partial-aggregated to the stratum
    * cardinality; shares, powers, and rates all computed over that
    * tiny frame (a windowed sum over ≤|strata| rows, never a second
    * corpus pass). Returns one row per stratum — the steering table a
    * sampler (or [[rebalanceToTargets]] with these rates as targets)
    * then applies as a broadcast narrow filter.
    */
  def temperatureRates(df: DataFrame, stratumCol: String, weightCol: String,
                       alpha: Double): DataFrame = {
    val stats = df.groupBy(stratumCol).agg(sum(col(weightCol)).as("actual"))
    stats
      .withColumn("__total", sum(col("actual")).over(Window.partitionBy()))
      .withColumn("share", col("actual").cast("double") / col("__total"))
      .withColumn("__pw", pow(col("share"), lit(alpha)))
      .withColumn("target_share", col("__pw") / sum(col("__pw")).over(Window.partitionBy()))
      .withColumn("keep_rate",
        least(lit(1.0), col("target_share") * col("__total") / col("actual")))
      .withColumn("expected_weight", floor(col("keep_rate") * col("actual")).cast("long"))
      .select(col(stratumCol), col("actual").cast("long").as("actual"),
        col("share"), col("target_share"), col("keep_rate"), col("expected_weight"))
  }

  def rebalanceToTargets(df: DataFrame, idCol: String, stratumCol: String,
                         weightCol: String, targets: Map[String, Double],
                         salt: Int = 0): DataFrame = {
    val tlookup = map(targets.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val stats = df.groupBy(stratumCol).agg(sum(col(weightCol)).as("__w"))
    // total via a window over the aggregated (stratum-cardinality) frame
    val rates = stats
      .withColumn("__total", sum(col("__w")).over(Window.partitionBy()))
      .withColumn("keep_rate", least(lit(1.0),
        coalesce(element_at(tlookup, col(stratumCol)), lit(0.0))
          * col("__total") / col("__w")))
      .select(col(stratumCol), col("keep_rate"))
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(portableUniform(idCol, salt) < col("keep_rate"))
  }
}
