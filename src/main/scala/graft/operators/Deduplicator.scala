package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators.
  *
  * `latestWins` mirrors the reference RN-002
  * (src/silver/job-silver-rues.py:379-389): keep the most recent
  * record per business key via a row_number window.
  *
  * Scale notes:
  *  - The window shuffles once on the business key — exactly the
  *    minimum data movement the semantics require. AQE handles skewed
  *    keys (hot `matricula`s) by splitting oversized partitions.
  *  - For 100 TB, prefer `latestWinsAgg` (max_by) when the full row is
  *    needed but no rank: it uses a partial (map-side) aggregate, so
  *    the shuffle carries one pre-reduced row per key per mapper
  *    instead of every duplicate.
  *  - `exact` dedups identical payloads by hashing the content column
  *    and grouping on the 64-bit hash — the shuffle key is 8 bytes,
  *    not the (possibly multi-KB) payload.
  */
object Deduplicator {

  /** Keep the newest row per key; NULL order values lose; `tieBreak`
    * makes the winner deterministic when order values collide.
    */
  def latestWins(df: DataFrame, keys: Seq[String], orderCol: String,
                 tieBreak: Option[String] = None): DataFrame = {
    val ordering: Seq[Column] =
      col(orderCol).desc_nulls_last +: tieBreak.map(col(_).desc).toSeq
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    // a narrow input (graft.Spread): explicit-width key exchange (the
    // window reuses its clustering) so AQE's size-based coalesce can't
    // serialize the sort+rank on a small tier
    val n = graft.Spread.width(df)
    val dfS = if (n > 0) df.repartition(n, keys.map(col): _*) else df
    dfS.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Shuffle-light latest-wins: max_by with a struct ordering key.
    * One partial+final aggregate instead of a full window sort.
    */
  def latestWinsAgg(df: DataFrame, keys: Seq[String], orderCol: String,
                    tieBreak: String): DataFrame = {
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    val ord = struct(col(orderCol), col(tieBreak))
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, ord).as("__row"))
      .select(col("__row.*"))
  }

  /** Exact-duplicate groups by content hash. Returns one row per
    * distinct content: the keeper id, the group size, and the hash.
    * `hashFn` defaults to xxhash64 (codegen'd, 8-byte shuffle key);
    * pass md5 for cross-engine comparability.
    */
  def exactGroups(df: DataFrame, idCol: String, contentCol: String,
                  hashFn: Column => Column = c => xxhash64(c)): DataFrame =
    df.groupBy(hashFn(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"),
           count(lit(1)).as("group_size"))

  /** Drop exact duplicates, keeping the lowest id per content hash. */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val keepers = exactGroups(df, idCol, contentCol)
      .select(col("keep_id").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** Canonical selection: drop exact duplicates keeping the
    * HIGHEST-`scoreCol` copy per content group, ties broken by lowest
    * id — the keep-the-best-copy policy pipelines apply when
    * duplicates differ in provenance (the clean dump copy of a page
    * should survive, not the boilerplate-wrapped crawl copy; for
    * byte-identical text the score must come from metadata — source
    * priority, crawl recency — since any content-derived score ties).
    *
    * One digest-keyed shuffle. The per-group winner is a row_number
    * top-1, which Spark 4 plans as WindowGroupLimit with a PARTIAL
    * pass below the exchange (the q_window_dedup machinery): each map
    * task ships one candidate row per content group it sees, never
    * the group — the only admissible shape when a hot page has
    * millions of copies.
    */
  def keepBest(df: DataFrame, idCol: String, contentCol: String,
               score: Column): DataFrame = {
    val w = Window.partitionBy(col("__dig"))
      .orderBy(score.desc, col(idCol).asc)
    // NULL content PASSES THROUGH: md5(NULL) is NULL, which would
    // otherwise collapse every NULL-content row into one group and
    // drop all but one (r10 advice item 4). Each NULL row gets a
    // unique id-derived digest instead — its own singleton group, so
    // it survives, and the NULL rows never pile onto one window
    // partition (the skew a shared NULL key would create).
    df.withColumn("__dig", coalesce(md5(col(contentCol).cast("binary")),
        concat(lit("__null__"), col(idCol).cast("string"))))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__dig", "__rn")
  }
}
