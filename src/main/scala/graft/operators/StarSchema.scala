package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gold layer: star-schema construction + referential integrity.
  *
  * Reference: src/gold/job-gold-rues.py —
  *  - dim_empresa: distinct projection of descriptive attributes
  *    (crear_dim_empresa, :822-858)
  *  - fact_renovacion: event columns + date arithmetic + flags
  *    (crear_fact_renovacion, :864-887)
  *  - integrity: left_anti join fact-keys vs dim-keys
  *    (validar_integridad_referencial, :945-965)
  *
  * Scale notes: `distinct()` on a projection shuffles only the
  * projected columns (column pruning reaches the scan). The integrity
  * check anti-joins the key-only projections and only then takes the
  * distinct orphan keys, so its one aggregate runs over the (usually
  * empty) orphans and the dimension side is never aggregated: an
  * anti-join's answer does not depend on duplicate right-side keys.
  * At 100 TB both sides would be bucketed on the key; with AQE the
  * dimension's key column is usually small enough to broadcast.
  */
object StarSchema {

  /** Dimension = distinct projection. */
  def dimension(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*).distinct()

  /** Fact = projection + derived measures (derived expressions may
    * reference any source column; the projection happens after).
    */
  def fact(df: DataFrame, cols: Seq[String], derived: Seq[(String, Column)]): DataFrame = {
    val withDerived = derived.foldLeft(df) {
      case (acc, (name, c)) => acc.withColumn(name, c)
    }
    withDerived.select((cols ++ derived.map(_._1)).map(col): _*)
  }

  /** Days between an expiry column and a reference date, plus an
    * expired flag (reference fact_renovacion uses current_date; we
    * parameterize for determinism).
    */
  def vigencia(expiry: Column, asOf: Column): Seq[(String, Column)] = Seq(
    "dias_vigencia" -> datediff(expiry, asOf).cast("long"),
    "flag_vencido" -> when(expiry < asOf, lit(1L)).otherwise(lit(0L))
  )

  /** Distinct fact keys with no matching dimension key (anti-join,
    * then distinct). A NULL fact key matches nothing, so it is one
    * orphan. Empty result ⇒ integrity holds.
    */
  def orphans(fact: DataFrame, dim: DataFrame, key: String): DataFrame =
    fact.select(col(key))
      .join(dim.select(col(key)), Seq(key), "left_anti")
      .distinct()

  def orphanCount(fact: DataFrame, dim: DataFrame, key: String): DataFrame =
    orphans(fact, dim, key).agg(count(lit(1)).as("orphan_count"))
}
