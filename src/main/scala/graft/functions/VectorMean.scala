package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Positional mean of an array column: `vector_mean(arr)` returns,
  * per group, the array whose element `i` is the average of every
  * input's element `i`. One grouped aggregate replaces the builtin
  * chain
  *
  *   posexplode(arr) → groupBy(g, pos).avg(x)
  *     → groupBy(g).array_sort(collect_list(struct(pos, avg)))
  *     → transform(_, e -> e.avg)
  *
  * and computes its values the same way (FunctionsSpec keeps the
  * chain as the reference):
  *  - each position mirrors Spark's `Average` over doubles: the sum
  *    starts at 0.0 and adds rows in input order, partial buffers
  *    merge in arrival order, a NULL element neither adds nor counts
  *    (Average adds 0.0, a no-op on a sum that starts at +0.0), and
  *    the element is `sum / count`, or NULL where the count is 0;
  *  - the width is the widest input seen, so a position only NULL
  *    elements reached comes out NULL, as the chain's `avg` does;
  *  - a group with no positions at all (only NULL or empty arrays)
  *    returns NULL where the chain had no row.
  *
  * "Input order" is the order Spark feeds the buffer. On the object
  * hash path that is row order, and the values are the chain's bit for
  * bit. The sort-based paths reorder a group's rows: after the
  * object-hash fallback (more groups in one task than
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`, 128 by
  * default) Spark folds the later rows first and merges the earlier
  * buffer last, and a SortAggregate's radix sort is not stable around
  * NULL keys. A float input is a multiple of its own ulp, so a double
  * sum of floats is exact, and the same in any order, while every
  * running sum stays below 2^29 times the group's smallest nonzero
  * component: for float corpora the centroids are the chain's on
  * every path. A double sum is reassociated there: equal to rounding,
  * not bit for bit.
  *
  * Inputs are `array<float>` or `array<double>` (float widens
  * exactly); the result is `array<double>` with NULL elements
  * allowed. The buffer is one `double[]` of sums and one `long[]` of
  * counts, so it stays c·dim per partition for c groups however many
  * rows feed it.
  */
case class VectorMean(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VectorMean.Sums] {

  import VectorMean.Sums

  override def prettyName: String = "vector_mean"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double>, got ${other.catalogString}")
  }

  private lazy val elementType: DataType = child.dataType.asInstanceOf[ArrayType].elementType

  override def createAggregationBuffer(): Sums = new Sums(0)

  override def update(buf: Sums, input: InternalRow): Sums = {
    buf.add(child.eval(input).asInstanceOf[ArrayData], elementType)
    buf
  }

  override def merge(buf: Sums, other: Sums): Sums = buf.merge(other)

  override def eval(buf: Sums): Any = buf.mean

  // [width][width sums][width counts]
  override def serialize(buf: Sums): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.width).putInt(buf.width)
    var i = 0
    while (i < buf.width) { bb.putDouble(buf.sums(i)); i += 1 }
    i = 0
    while (i < buf.width) { bb.putLong(buf.counts(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Sums = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Sums(bb.getInt())
    var i = 0
    while (i < buf.width) { buf.sums(i) = bb.getDouble(); i += 1 }
    i = 0
    while (i < buf.width) { buf.counts(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorMean =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorMean =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression])
      : VectorMean = copy(child = newChildren.head)
}

object VectorMean {

  /** Per-position running sums and non-NULL counts; `width` grows to
    * the widest input, new positions starting at (0.0, 0). The
    * arithmetic of `vector_mean` and of the Lloyd update in
    * [[graft.ann.Ivf.centroids]], which folds partitions into one
    * `Sums` per cell without a SQL aggregate.
    */
  final class Sums(var width: Int) extends Serializable {
    var sums: Array[Double] = new Array[Double](width)
    var counts: Array[Long] = new Array[Long](width)

    def widen(n: Int): Unit = if (n > width) {
      sums = java.util.Arrays.copyOf(sums, n)
      counts = java.util.Arrays.copyOf(counts, n)
      width = n
    }

    /** Adds one row's elements (of numeric type `et`, widened to
      * double) in index order; a NULL row or element adds nothing.
      */
    def add(arr: ArrayData, et: DataType): Unit = if (arr != null) {
      val n = arr.numElements()
      widen(n)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          sums(i) += CosineSimilarity.getDouble(et, arr, i)
          counts(i) += 1
        }
        i += 1
      }
    }

    /** Adds `other`'s sums and counts into this buffer. */
    def merge(other: Sums): Sums = {
      widen(other.width)
      var i = 0
      while (i < other.width) {
        sums(i) += other.sums(i)
        counts(i) += other.counts(i)
        i += 1
      }
      this
    }

    /** `sum / count` per position, NULL where the count is 0; NULL
      * when no position was seen.
      */
    def mean: ArrayData =
      if (width == 0) null
      else new GenericArrayData(Array.tabulate[Any](width) { i =>
        if (counts(i) == 0) null else sums(i) / counts(i)
      })
  }
}
