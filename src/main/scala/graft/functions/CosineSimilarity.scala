package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd cosine similarity over two numeric array columns.
  *
  * The composable form (`aggregate(zip_with(a, b, _*_), …)`) is
  * correct but allocates an intermediate array per row and walks the
  * operands three times (dot, |a|, |b|). In an ANN scoring join the
  * similarity is the innermost hot loop — corpus × queries
  * evaluations — so this expression fuses everything into one pass
  * with zero allocation, and participates in whole-stage codegen via
  * `doGenCode`.
  *
  * Semantics match the HOF form: NULL if either array is NULL, any
  * element is NULL, or lengths differ (zip_with pads with NULL, which
  * poisons the sum); NaN for zero vectors (IEEE 0/0).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "cosine_sim"
  override def dataType: DataType = DoubleType
  // NULL is produced for length mismatch / null elements even when
  // both children are non-nullable; without this override the
  // generated code would assign to a `false` literal (compile error →
  // fallback) and the interpreted null would land in a slot Catalyst
  // believes non-nullable.
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(et, _) => et.isInstanceOf[NumericType]
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two numeric array arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = x.numElements()
    if (y.numElements() != n) return null
    val (et1, et2) = (elemType(left), elemType(right))
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = CosineSimilarity.getDouble(et1, x, i)
      val yi = CosineSimilarity.getDouble(et2, y, i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xi = ${CosineSimilarity.getter(elemType(left), a, i)};
         |    double $yi = ${CosineSimilarity.getter(elemType(right), b, i)};
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Java source reading element `i` of `arr` as a double. */
  private[functions] def getter(et: DataType, arr: String, i: String): String = et match {
    case FloatType   => s"(double) $arr.getFloat($i)"
    case DoubleType  => s"$arr.getDouble($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType    => s"(double) $arr.getLong($i)"
    case ShortType   => s"(double) $arr.getShort($i)"
    case ByteType    => s"(double) $arr.getByte($i)"
    case other => throw new IllegalStateException(s"unsupported element type $other")
  }

  private[functions] def getDouble(et: DataType, arr: ArrayData, i: Int): Double = et match {
    case FloatType   => arr.getFloat(i).toDouble
    case DoubleType  => arr.getDouble(i)
    case IntegerType => arr.getInt(i).toDouble
    case LongType    => arr.getLong(i).toDouble
    case ShortType   => arr.getShort(i).toDouble
    case ByteType    => arr.getByte(i).toDouble
    case other => throw new IllegalStateException(s"unsupported element type $other")
  }
}
