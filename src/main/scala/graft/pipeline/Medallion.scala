package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** The reference's bronze → silver → gold flow as a declarative
  * composition of graft operators (`Dataset.transform` stages), not a
  * job script.
  *
  * Reference mapping (src/silver/job-silver-rues.py):
  *   RN-010 snake_case rename        → ColumnStandardizer
  *   RN-001 multi-format date parse  → DateStandardizer
  *   RN-003 trim/upper normalize     → Normalizer
  *   RN-002 latest-wins dedup        → Deduplicator.latestWins
  *   RN-008 catalog enrichment join  → CatalogEnricher (broadcast)
  *   RN-009 conditional type code    → DerivedColumns.conditionalCode
  *   RN-004 age-in-years derivation  → DerivedColumns.ageYears
  *   RN-006 synthetic unique key     → DerivedColumns.uniqueKey
  *   RN-005/007 validations + log    → Profiler.validate / errorLog
  *
  * Every stage is a narrow projection or a single keyed shuffle; the
  * full chain is one Catalyst plan, so the optimizer sees end-to-end
  * (column pruning reaches the scan even though the chain is written
  * as independent stages).
  */
object Medallion {

  /** Silver chain over a raw registry-shaped frame. Expects raw
    * columns (any casing): Matricula, Estado, FechaMatricula,
    * ClaseIdentificacion, IdTitular. `catalog` maps titular ids to an
    * enrichment name (broadcast-joined). `currentYear` pins RN-004's
    * wall-clock dependency.
    */
  def silver(raw: DataFrame, catalog: DataFrame, catalogKey: String,
             catalogValue: String, currentYear: Int): DataFrame =
    raw
      .transform(ColumnStandardizer.standardize)
      .transform(DateStandardizer.standardize(_, Seq("fecha_matricula")))
      .transform(Normalizer.normalize(_, Seq("estado")))
      .transform(Deduplicator.latestWins(_, Seq("matricula"), "fecha_matricula",
        tieBreak = Some("id_titular")))
      .transform(CatalogEnricher.enrich(_, catalog, "id_titular", catalogKey,
        catalogValue, "titular_name", normalizeKeys = false))
      .withColumn("tipo_persona",
        DerivedColumns.conditionalCode(col("clase_identificacion"), "NIT"))
      .withColumn("antiguedad",
        DerivedColumns.ageYears(col("fecha_matricula"), currentYear))
      .withColumn("id_unico", DerivedColumns.uniqueKey(
        Seq(col("clase_identificacion"), col("matricula"), col("id_titular"))))

  /** Silver chain with in-flight pipeline metrics: `Dataset.observe`
    * accumulates the counts DURING the job — zero extra passes, which
    * is the only acceptable cost model for run-health metrics on a
    * 100 TB pipeline (a `.count()` per stage would double the work).
    * Read the metrics from the returned Observations after an action.
    */
  def silverObserved(raw: DataFrame, catalog: DataFrame, catalogKey: String,
                     catalogValue: String, currentYear: Int)
      : (DataFrame, org.apache.spark.sql.Observation, org.apache.spark.sql.Observation) = {
    val inObs = new org.apache.spark.sql.Observation("silver_in")
    val outObs = new org.apache.spark.sql.Observation("silver_out")
    val observed = raw.observe(inObs, count(lit(1)).as("rows_in"))
    val out = silver(observed, catalog, catalogKey, catalogValue, currentYear)
      .observe(outObs,
        count(lit(1)).as("rows_out"),
        count(when(col("fecha_matricula").isNull, lit(1))).as("null_dates"),
        count(when(col("titular_name").isNull, lit(1))).as("unenriched"))
    (out, inObs, outObs)
  }

  /** Gold star schema from a silver frame: dimension (distinct
    * projection), fact (vigencia arithmetic), and the referential
    * integrity orphan count — reference src/gold/job-gold-rues.py.
    * The dimension is a distinct projection of `silver`, so its key
    * set is silver's: the check anti-joins against silver's key column
    * and never re-aggregates the dimension.
    */
  def gold(silver: DataFrame, dimCols: Seq[String], factCols: Seq[String],
           vigenciaDate: java.sql.Date): (DataFrame, DataFrame, DataFrame) = {
    val dim = StarSchema.dimension(silver, dimCols)
    val fact = StarSchema.fact(silver, factCols,
      StarSchema.vigencia(col("fecha_matricula"), lit(vigenciaDate)))
    val orphans = StarSchema.orphanCount(
      fact.select(col(factCols.head).as("k")),
      silver.select(col(dimCols.head).as("k")), "k")
    (dim, fact, orphans)
  }

  /** Reference-shaped raw frame synthesized deterministically from the
    * testdata `orders` table (SURVEY §6 mapping) — mixed-case column
    * names, two raw date formats, untrimmed state strings.
    */
  def rawFromOrders(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.orders(spark, sfDir).select(
      col("o_orderkey").as("Matricula"),
      concat(lit(" "), col("o_orderstatus"), lit(" ")).as("Estado"),
      when(pmod(col("o_orderkey"), lit(2)) === 0,
        date_format(col("o_orderdate"), "yyyyMMdd"))
        .otherwise(date_format(col("o_orderdate"), "yyyy/MM/dd HH:mm:ss.SSSSSSSSS"))
        .as("FechaMatricula"),
      element_at(array(lit("CC"), lit("NIT"), lit("CE")),
        (pmod(col("o_orderkey"), lit(3)) + 1).cast("int")).as("ClaseIdentificacion"),
      col("o_custkey").as("IdTitular"))
}
