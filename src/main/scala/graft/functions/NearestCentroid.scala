package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Nearest-centroid assignment in one codegen'd pass:
  * `nearest_centroid(emb, cents)` takes
  * `cents: array<struct<cluster_id:int, centroid:array<num>>>` and
  * returns the `cluster_id` of the centroid with the highest cosine
  * to `emb`.
  *
  * It gives exactly the answer of the builtin fold
  *
  *   aggregate(cents, struct(-Infinity AS sim, Int.MinValue AS neg_cid),
  *     (acc, x) -> greatest-by-struct-order(acc,
  *       struct(cosine_sim(emb, x.centroid), -x.cluster_id)))
  *
  * which Spark runs interpreted (`ArrayAggregate` is
  * `CodegenFallback`), building a struct and comparing two per pair:
  *  - each cosine is [[CosineSimilarity]]'s arithmetic,
  *    `dot / (sqrt(na) * sqrt(nb))` accumulated in double in index
  *    order; the row's own `sqrt(na)` is computed once per row;
  *  - candidates rank by `(sim, -cluster_id)` under Spark's ordering:
  *    `SQLOrderingUtil.compareDoubles` (NaN ranks highest,
  *    `-0.0 == 0.0`), so on a tie the smaller id wins, and a NULL id
  *    loses every tie;
  *  - a centroid whose cosine is NULL (NULL or unequal-length vector,
  *    a NULL element) never wins.
  *
  * The result is NULL for a NULL `emb` or `cents`, an empty `cents`,
  * when no centroid has a non-NULL cosine, and when the winner's id
  * is NULL — never the fold's `Int.MinValue` seed.
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "nearest_centroid"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  private def embType: DataType = left.dataType.asInstanceOf[ArrayType].elementType

  private def centStruct: StructType =
    right.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  private def centType: DataType =
    centStruct("centroid").dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def numArray(dt: DataType): Boolean = dt match {
      case ArrayType(et, _) => et.isInstanceOf[NumericType]
      case _ => false
    }
    val centsOk = right.dataType match {
      case ArrayType(st: StructType, _) =>
        st.fieldNames.contains("cluster_id") && st.fieldNames.contains("centroid") &&
          st("cluster_id").dataType == IntegerType && numArray(st("centroid").dataType)
      case _ => false
    }
    if (numArray(left.dataType) && centsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<numeric>, " +
        "array<struct<cluster_id:int, centroid:array<numeric>>>), got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def newCursor(): CentroidCursor = new CentroidCursor(
    centStruct.length, centStruct.fieldIndex("cluster_id"), centStruct.fieldIndex("centroid"))

  override def nullSafeEval(e: Any, c: Any): Any = {
    val (emb, cents) = (e.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])
    val (et1, et2) = (embType, centType)
    val n = emb.numElements()
    var na = 0.0
    var i = 0
    while (i < n) {
      if (emb.isNullAt(i)) return null
      val xi = CosineSimilarity.getDouble(et1, emb, i)
      na += xi * xi
      i += 1
    }
    val rowNorm = math.sqrt(na)
    val cursor = newCursor()
    var best: Any = null
    var bestSim = Double.NegativeInfinity
    var bestNeg = Int.MinValue
    var bestNegNull = false
    var j = 0
    while (j < cents.numElements()) {
      val v = cursor.centroid(cents, j)
      if (v != null && v.numElements() == n) {
        var dot = 0.0; var nb = 0.0
        i = 0
        while (i < n && !v.isNullAt(i)) {
          val xi = CosineSimilarity.getDouble(et1, emb, i)
          val yi = CosineSimilarity.getDouble(et2, v, i)
          dot += xi * yi; nb += yi * yi
          i += 1
        }
        if (i == n) {
          val sim = dot / (rowNorm * math.sqrt(nb))
          val cmp = SQLOrderingUtil.compareDoubles(sim, bestSim)
          if (cmp > 0 ||
              (cmp == 0 && !cursor.idNull && (bestNegNull || -cursor.id > bestNeg))) {
            bestSim = sim; bestNeg = -cursor.id; bestNegNull = cursor.idNull
            best = if (cursor.idNull) null else cursor.id
          }
        }
      }
      j += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cursorClass = classOf[CentroidCursor].getName
    val st = centStruct
    val cursor = ctx.addMutableState(cursorClass, "centroidCursor", v =>
      s"$v = new $cursorClass(${st.length}, ${st.fieldIndex("cluster_id")}, " +
        s"${st.fieldIndex("centroid")});")
    nullSafeCodeGen(ctx, ev, (emb, cents) => {
      val Seq(n, na, i, j, xi, yi, rowNorm, v, dot, nb, sim, cmp, bestSim, bestNeg,
        bestNegNull, embOk, pairs) = Seq("n", "na", "i", "j", "xi", "yi", "rowNorm", "v",
        "dot", "nb", "sim", "cmp", "bestSim", "bestNeg", "bestNegNull", "embOk", "pairs")
        .map(ctx.freshName)
      val (et1, et2) = (embType, centType)
      s"""
         |int $n = $emb.numElements();
         |double $na = 0.0;
         |boolean $embOk = true;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($emb.isNullAt($i)) { $embOk = false; break; }
         |  double $xi = ${CosineSimilarity.getter(et1, emb, i)};
         |  $na += $xi * $xi;
         |}
         |${ev.isNull} = true;
         |if ($embOk) {
         |  double $rowNorm = java.lang.Math.sqrt($na);
         |  double $bestSim = java.lang.Double.NEGATIVE_INFINITY;
         |  int $bestNeg = java.lang.Integer.MIN_VALUE;
         |  boolean $bestNegNull = false;
         |  $pairs:
         |  for (int $j = 0; $j < $cents.numElements(); $j++) {
         |    org.apache.spark.sql.catalyst.util.ArrayData $v = $cursor.centroid($cents, $j);
         |    if ($v == null || $v.numElements() != $n) continue;
         |    double $dot = 0.0, $nb = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      if ($v.isNullAt($i)) continue $pairs;
         |      double $xi = ${CosineSimilarity.getter(et1, emb, i)};
         |      double $yi = ${CosineSimilarity.getter(et2, v, i)};
         |      $dot += $xi * $yi; $nb += $yi * $yi;
         |    }
         |    double $sim = $dot / ($rowNorm * java.lang.Math.sqrt($nb));
         |    int $cmp = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(
         |      $sim, $bestSim);
         |    if ($cmp > 0 || ($cmp == 0 && !$cursor.idNull()
         |        && ($bestNegNull || -$cursor.id() > $bestNeg))) {
         |      $bestSim = $sim;
         |      $bestNeg = -$cursor.id();
         |      $bestNegNull = $cursor.idNull();
         |      ${ev.isNull} = $bestNegNull;
         |      ${ev.value} = $cursor.id();
         |    }
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}

/** Reads one element of the centroid array without allocating: for
  * unsafe data, one reusable struct and one reusable array are
  * re-pointed at each element's bytes, where `getStruct`/`getArray`
  * would build two objects per (row, centroid) pair. Other array
  * forms hold their elements as objects already and are read through
  * the plain getters. One cursor serves one task (codegen mutable
  * state) or one interpreted row.
  */
final class CentroidCursor(numFields: Int, idOrd: Int, vecOrd: Int) {
  private[this] val row = new UnsafeRow(numFields)
  private[this] val vec = new UnsafeArrayData

  /** Element `j`'s cluster_id and whether it is NULL, set by [[centroid]]. */
  var id: Int = 0
  var idNull: Boolean = false

  /** Moves to element `j`: its centroid vector, or null when the
    * element or its vector is NULL.
    */
  def centroid(cents: ArrayData, j: Int): ArrayData = {
    if (cents.isNullAt(j)) return null
    val r: InternalRow = cents match {
      case u: UnsafeArrayData =>
        val at = u.getLong(j)
        row.pointTo(u.getBaseObject, u.getBaseOffset + (at >> 32), at.toInt)
        row
      case other => other.getStruct(j, numFields)
    }
    idNull = r.isNullAt(idOrd)
    id = if (idNull) 0 else r.getInt(idOrd)
    if (r.isNullAt(vecOrd)) null
    else r match {
      case u: UnsafeRow =>
        val at = u.getLong(vecOrd)
        vec.pointTo(u.getBaseObject, u.getBaseOffset + (at >> 32), at.toInt)
        vec
      case other => other.getArray(vecOrd)
    }
  }
}
