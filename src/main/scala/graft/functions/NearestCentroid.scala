package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graft.ExpressionColumn
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
  *    order; the row's `sqrt(na)` and each centroid's `sqrt(nb)` are
  *    computed once ([[CentroidTable]]);
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
  *
  * `cents` is either any array column, decoded into a
  * [[CentroidTable]] per row, or a [[CentroidSet]] leaf, whose table
  * is decoded once on the driver: the form IVF assignment uses.
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "nearest_centroid"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  private def embType: DataType = left.dataType.asInstanceOf[ArrayType].elementType

  private def centStruct: StructType =
    right.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

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

  override def nullSafeEval(e: Any, c: Any): Any = {
    val emb = e.asInstanceOf[ArrayData]
    val table = right match {
      case s: CentroidSet => s.table
      case _ => CentroidTable.decode(c.asInstanceOf[ArrayData], centStruct)
    }
    val j = table.assign(emb, embType, new Array[Double](emb.numElements()))
    if (j < 0 || table.idNull(j)) null else table.ids(j)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableClass = classOf[CentroidTable].getName
    val buf = ctx.addMutableState("double[]", "embBuf", v => s"$v = new double[0];")
    val et = ctx.addReferenceObj("embType", embType, classOf[DataType].getName)
    def assign(emb: String, table: String): String = {
      val Seq(n, t, j) = Seq("n", "t", "j").map(ctx.freshName)
      s"""
         |int $n = $emb.numElements();
         |if ($buf.length != $n) $buf = new double[$n];
         |$tableClass $t = $table;
         |int $j = $t.assign($emb, $et, $buf);
         |${ev.isNull} = true;
         |if ($j >= 0 && !$t.idNull()[$j]) {
         |  ${ev.isNull} = false;
         |  ${ev.value} = $t.ids()[$j];
         |}
       """.stripMargin
    }
    right match {
      case s: CentroidSet =>
        // the set is not evaluated per row: the kernel reads its
        // decoded table, shipped once with the generated class
        val table = ctx.addReferenceObj("centroidTable", s.table, tableClass)
        val e = left.genCode(ctx)
        ev.copy(code = code"""
          |${e.code}
          |boolean ${ev.isNull} = true;
          |int ${ev.value} = -1;
          |if (!${e.isNull}) {
          |  ${assign(e.value, table)}
          |}
          """.stripMargin)
      case _ =>
        val st = ctx.addReferenceObj("centStruct", centStruct, classOf[StructType].getName)
        nullSafeCodeGen(ctx, ev, (emb, cents) =>
          assign(emb, s"$tableClass.decode($cents, $st)"))
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}

/** The top-`n` form of [[NearestCentroid]]:
  * `nearest_centroids(emb, set, n)` returns the `cluster_id`s of the
  * `n` cells of a [[CentroidSet]] ranked first for `emb`, as an
  * `array<int>` (best first; all cells when `n` exceeds the set, none
  * for `n <= 0`), for IVF's probe to explode per query. It picks what
  *
  *   inline(set) → row_number() OVER (PARTITION BY query
  *     ORDER BY cosine_sim(emb, centroid) DESC, cluster_id ASC) <= n
  *
  * picks, with no query-keyed exchange: the same cosine arithmetic as
  * the assignment kernel, ranked by Spark's default orderings (DESC
  * puts NULL cosines last, ASC puts NULL ids first), so a NULL `emb`
  * still probes `n` cells, in id order ([[CentroidTable.top]]).
  * The generated code and `eval` call the same method.
  */
case class NearestCentroids(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {

  override def prettyName: String = "nearest_centroids"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right) match {
    case (ArrayType(_: NumericType, _), _: CentroidSet) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<numeric>, a centroid set), got " +
        s"${left.dataType.catalogString} and $right")
  }

  private def embType: DataType = left.dataType.asInstanceOf[ArrayType].elementType

  private def table: CentroidTable = right.asInstanceOf[CentroidSet].table

  override def eval(input: InternalRow): Any =
    table.top(left.eval(input).asInstanceOf[ArrayData], embType, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("centroidTable", table, classOf[CentroidTable].getName)
    val et = ctx.addReferenceObj("embType", embType, classOf[DataType].getName)
    val e = left.genCode(ctx)
    ev.copy(code = code"""
      |${e.code}
      |ArrayData ${ev.value} = $t.top(${e.isNull} ? null : ${e.value}, $et, $n);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroids =
    copy(left = newLeft, right = newRight)
}

/** A centroid array decoded for scoring: per element its id and
  * whether that is NULL, its vector as `double[]` (null when the
  * element, its vector or one of its values is NULL: such a centroid
  * is never comparable) and the vector's `sqrt(Σy²)`, accumulated in
  * index order as the per-pair kernel did.
  */
final class CentroidTable(val ids: Array[Int], val idNull: Array[Boolean],
    val vecs: Array[Array[Double]], val norms: Array[Double]) extends Serializable {

  /** The row assignment [[NearestCentroid]] makes, and the only one:
    * `emb` (elements of numeric type `et`) is widened into `x`, which
    * must have its length, and the index of the centroid [[nearest]]
    * picks for it comes back; -1 when `emb` holds a NULL or no
    * centroid is comparable.
    */
  def assign(emb: ArrayData, et: DataType, x: Array[Double]): Int = {
    val norm = CentroidTable.widen(emb, et, x)
    if (norm < 0) -1 else nearest(x, norm)
  }

  /** The index of the centroid [[NearestCentroid]] picks for the
    * NULL-free vector `x` of norm `rowNorm`, or -1 when none is
    * comparable.
    */
  def nearest(x: Array[Double], rowNorm: Double): Int = {
    var best = -1
    var bestSim = Double.NegativeInfinity
    var bestNeg = Int.MinValue
    var bestNegNull = false
    var j = 0
    while (j < vecs.length) {
      if (comparable(j, x.length)) {
        val sim = cosine(x, rowNorm, j)
        val cmp = SQLOrderingUtil.compareDoubles(sim, bestSim)
        if (cmp > 0 || (cmp == 0 && !idNull(j) && (bestNegNull || -ids(j) > bestNeg))) {
          bestSim = sim; bestNeg = -ids(j); bestNegNull = idNull(j); best = j
        }
      }
      j += 1
    }
    best
  }

  /** The `cluster_id`s of the `n` centroids [[NearestCentroids]] ranks
    * first for `emb` (element type `et`), best first: by cosine
    * descending, NULL cosines last (NaN highest, `-0.0 == 0.0`), then
    * by id ascending, NULL ids first. A cosine is NULL when `emb` is
    * NULL or holds a NULL, or the centroid is not comparable, so a
    * NULL query still gets `n` cells, in id order.
    */
  def top(emb: ArrayData, et: DataType, n: Int): ArrayData = {
    val x = if (emb == null) null else new Array[Double](emb.numElements())
    val rowNorm = if (x == null) -1.0 else CentroidTable.widen(emb, et, x)
    val sims = Array.tabulate(vecs.length) { j =>
      if (rowNorm >= 0 && comparable(j, x.length)) Some(cosine(x, rowNorm, j)) else None
    }
    def before(a: Int, b: Int): Boolean = (sims(a), sims(b)) match {
      case (Some(sa), Some(sb)) if SQLOrderingUtil.compareDoubles(sa, sb) != 0 =>
        SQLOrderingUtil.compareDoubles(sa, sb) > 0
      case (Some(_), None) => true
      case (None, Some(_)) => false
      case _ => if (idNull(a) || idNull(b)) idNull(a) && !idNull(b) else ids(a) < ids(b)
    }
    val picked = vecs.indices.sortWith(before).take(n)
    new GenericArrayData(picked.map(j => if (idNull(j)) null else ids(j)).toArray[Any])
  }

  private def comparable(j: Int, width: Int): Boolean =
    vecs(j) != null && vecs(j).length == width

  /** `dot / (rowNorm * norm_j)`, the dot accumulated in index order:
    * [[CosineSimilarity]]'s arithmetic.
    */
  private def cosine(x: Array[Double], rowNorm: Double, j: Int): Double = {
    val v = vecs(j)
    var dot = 0.0
    var i = 0
    while (i < x.length) {
      dot += x(i) * v(i)
      i += 1
    }
    dot / (rowNorm * norms(j))
  }
}

object CentroidTable {

  /** Widens `v`'s elements (numeric type `et`) into `x`, which must
    * have its length, and returns `sqrt(Σx²)` accumulated in index
    * order ([[CosineSimilarity]]'s arithmetic); -1 when an element is
    * NULL.
    */
  def widen(v: ArrayData, et: DataType, x: Array[Double]): Double = {
    var sq = 0.0
    var i = 0
    while (i < x.length) {
      if (v.isNullAt(i)) return -1.0
      x(i) = CosineSimilarity.getDouble(et, v, i)
      sq += x(i) * x(i)
      i += 1
    }
    math.sqrt(sq)
  }

  /** The table of `cells`: each a `cluster_id` (None for NULL) and a
    * vector of element type `et` (NULL, or holding a NULL, for a
    * centroid that is never comparable).
    */
  def apply(cells: Seq[(Option[Int], ArrayData)], et: DataType): CentroidTable = {
    val c = cells.size
    val (ids, idNull) = (new Array[Int](c), new Array[Boolean](c))
    val (vecs, norms) = (new Array[Array[Double]](c), new Array[Double](c))
    cells.zipWithIndex.foreach { case ((id, v), j) =>
      idNull(j) = id.isEmpty
      id.foreach(ids(j) = _)
      if (v != null) {
        val y = new Array[Double](v.numElements())
        val norm = widen(v, et, y)
        if (norm >= 0) {
          vecs(j) = y
          norms(j) = norm
        }
      }
    }
    new CentroidTable(ids, idNull, vecs, norms)
  }

  /** Decodes `array<struct<cluster_id:int, centroid:array<num>>>`. */
  def decode(cents: ArrayData, st: StructType): CentroidTable = {
    val (idOrd, vecOrd) = (st.fieldIndex("cluster_id"), st.fieldIndex("centroid"))
    val et = st("centroid").dataType.asInstanceOf[ArrayType].elementType
    CentroidTable((0 until cents.numElements()).map { j =>
      val r: InternalRow = if (cents.isNullAt(j)) null else cents.getStruct(j, st.length)
      (if (r == null || r.isNullAt(idOrd)) None else Some(r.getInt(idOrd)),
        if (r == null || r.isNullAt(vecOrd)) null else r.getArray(vecOrd))
    }, et)
  }
}

/** A centroid set held by the plan: the rows of a
  * `(cluster_id, centroid)` frame, read once on the driver, as an
  * `array<struct<cluster_id, centroid>>` leaf. [[NearestCentroid]]
  * reads its [[CentroidTable]], decoded once here; `inline` over it
  * yields the rows. Not foldable, so ConstantFolding never turns it
  * into a `Literal`, and its text is its shape, so a plan's string
  * does not grow with c·dim.
  */
case class CentroidSet(rows: ArrayData, dataType: ArrayType) extends LeafExpression {

  private def struct: StructType = dataType.elementType.asInstanceOf[StructType]

  val table: CentroidTable = CentroidTable.decode(rows, struct)

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = rows

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", rows, classOf[ArrayData].getName)
    ExprCode.forNonNullValue(JavaCode.global(ref, dataType))
  }

  private def shape: String = {
    val dim = table.vecs.find(_ != null).map(_.length).getOrElse(0)
    s"centroids[${rows.numElements()}x$dim]"
  }

  override def toString: String = shape
  override def sql: String = shape
}

object CentroidSet {

  /** The set of `cents`' `(cluster_id, centroid)` rows as a column,
    * read by executing its physical plan directly: no SQL execution
    * and no listener event. A local relation's rows come back with no
    * job; a parquet centroid table is one scan.
    */
  def of(cents: DataFrame): Column = ExpressionColumn(read(cents))

  /** The set [[of]] wraps, for a caller that scores on the driver or
    * in an RDD kernel ([[CentroidSet.table]]).
    */
  def read(cents: DataFrame): CentroidSet = {
    val frame = cents.select("cluster_id", "centroid")
    val rows = frame.queryExecution.executedPlan.executeCollect()
    CentroidSet(new GenericArrayData(rows.toArray[Any]), ArrayType(frame.schema, containsNull = false))
  }
}
