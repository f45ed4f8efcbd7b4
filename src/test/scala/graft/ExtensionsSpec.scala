package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The injected extension points: SQL-reachable native function and
  * the normalize-collapse optimizer rule.
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  /** The composable-builtin simhash the native `simhash64` replaced.
    * The bit-index lambda variable feeds the shift amount via
    * `call_function` ("shiftright"/"shiftleft" accept a column shift
    * amount even though the typed `functions.shiftright` wrapper only
    * takes an Int). The fingerprint assembles via shiftleft + bitwise
    * OR, not an `acc*2+bit` multiply, which would ANSI-overflow when
    * bit 63 is set. (The nested-CASE SQL-text form of this expression
    * trips a Spark 4.1 parser bug, hence no `expr()`.)
    */
  private def simhashHof(textCol: String): Column = {
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    val bits = transform(sequence(lit(0), lit(63)), i => {
      val vote = aggregate(toks, lit(0L), (acc, t) =>
        acc + when(call_function("shiftright", xxhash64(t), i)
          .bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))
    })
    aggregate(bits, lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  test("cosine_sim reachable from SQL") {
    val r = spark.sql("SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
      .as[Double].head()
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("native simhash64 is bit-identical to the HOF composition") {
    val both = Tables.documents(spark, sf())
      .select(graft.dedup.SimHash.simhash("text").as("native"),
        simhashHof("text").as("hof"))
      .as[(Long, Long)].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, h) => assert(n == h, f"native=$n%x hof=$h%x") }
  }

  test("CollapseRedundantNormalize folds stacked upper/trim chains") {
    // parquet-backed column: constant folding can't pre-evaluate it
    val df = Tables.orders(spark, sf())
      .select(upper(trim(upper(trim(col("o_orderstatus"))))).as("n"))
    val optimized = df.queryExecution.optimizedPlan.toString
    // exactly one upper and one trim survive
    assert("(?i)upper".r.findAllIn(optimized).size == 1, optimized)
    assert("(?i)trim".r.findAllIn(optimized).size == 1, optimized)
    val plain = Tables.orders(spark, sf())
      .select(upper(trim(col("o_orderstatus"))).as("n"))
    assert(df.as[String].collect().toSeq == plain.as[String].collect().toSeq)
  }

  test("the rule leaves single normalizations alone") {
    val df = Tables.orders(spark, sf())
      .select(upper(trim(col("o_orderstatus"))).as("n"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert("(?i)upper".r.findAllIn(optimized).size == 1)
    assert("(?i)trim".r.findAllIn(optimized).size == 1)
  }
}
