package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Gate-boundary schema tripwire (r9 verdict item 1).
  *
  * The driver's correctness harness compares Spark output to the
  * DuckDB oracle through pandas: `sort_values` over every column,
  * then row hashing. A top-level Array/Map/Struct column arrives as
  * an ndarray/dict cell and crashes the compare (`unhashable type:
  * numpy.ndarray` — the r9 q_pca_project red row, which shipped the
  * operator with ZERO driver-side evidence). Operators may of course
  * produce vectors internally; the GATE query must fold them to
  * scalars at the boundary (length + md5-of-CSV, the q_bpe_encode
  * precedent).
  *
  * Schema-only: builds each query's analyzed plan at sf0.001 without
  * executing it, so the sweep covers all 210 gate queries cheaply.
  */
class GateSchemaSpec extends SparkSpec {

  test("every gate query returns only pandas-sortable scalar columns") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad =
          try fn(spark, sf()).schema.fields.collect {
            case f if f.dataType.isInstanceOf[ArrayType] ||
                      f.dataType.isInstanceOf[MapType] ||
                      f.dataType.isInstanceOf[StructType] =>
              s"${f.name}: ${f.dataType.simpleString}"
          }.toSeq
          catch { case e: Throwable =>
            // a query that cannot even build its plan at sf0.001 is a
            // different (worse) failure — surface it here too
            Seq(s"plan construction failed: ${e.getMessage.take(120)}")
          }
        if (bad.isEmpty) None else Some(s"$name -> ${bad.mkString("; ")}")
    }
    assert(offenders.isEmpty,
      s"\ngate queries with driver-breaking output columns:\n  ${offenders.mkString("\n  ")}")
  }
}
