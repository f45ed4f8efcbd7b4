package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Derived-column builders (silver layer).
  *
  * Reference rules:
  *  - RN-009 conditional code (src/silver/job-silver-rues.py:429-439):
  *    `tipo_persona = 2 if upper(clase)=='NIT' else 1`.
  *  - RN-004 age-in-years (src/silver/job-silver-rues.py:479-495):
  *    `antiguedad = current_year - year(fecha_matricula)`.
  *  - RN-006 synthetic unique key (src/silver/job-silver-rues.py:501-524):
  *    `id_unico = concat_ws('_', camara, matricula, razon_social)`.
  *
  * All are narrow codegen'd projections — free at any scale.
  */
object DerivedColumns {

  /** Binary categorical flag: `matchValue` → `ifMatch` else `ifElse`. */
  def conditionalCode(c: Column, matchValue: String,
                      ifMatch: Long = 2L, ifElse: Long = 1L): Column =
    when(upper(trim(c)) === matchValue, lit(ifMatch)).otherwise(lit(ifElse))

  /** Age in whole years relative to a fixed base year. The reference
    * uses `datetime.now().year`; we take the year as a parameter so
    * results are reproducible (a hidden wall-clock dependency is a
    * correctness bug in any replayable pipeline).
    */
  def ageYears(dateCol: Column, baseYear: Int): Column =
    (lit(baseYear) - year(dateCol)).cast("long")

  /** Deterministic composite business key. */
  def uniqueKey(cols: Seq[Column], sep: String = "_"): Column =
    concat_ws(sep, cols: _*)
}
