package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document term frequencies of a FIXED vocabulary in ONE pass:
  * `vocab_term_counts(tokens, array('a','b',…))` = map<string,long>
  * of each vocabulary term present in `tokens` to its occurrence
  * count, first-occurrence key order. Equal to
  *
  *   explode(tokens) → semi-join vocabulary → groupBy(doc, term) count
  *
  * collapsed into a per-row expression. Why native: the composable
  * form EXPLODES every token instance (rows ∝ corpus tokens, not ∝
  * matches) and then pays a corpus-tokens-sized string-keyed hash
  * aggregate to rebuild what one counting loop over the token array
  * already knows — profiled r12 on the batch-BM25 postings build,
  * that explode+agg was ~half the query at sf30 (450M exploded rows
  * → 46M (doc, term) groups). Here membership is one HashSet probe
  * per token and the emitted rows are the 46M matches. The
  * vocabulary must be a literal (eval-set-bounded — the caller's
  * query vocabulary), so the probe set builds once per task.
  */
case class VocabTermCounts(child: Expression, vocab: Seq[String])
    extends UnaryExpression {

  override def prettyName: String = "vocab_term_counts"
  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  @transient private lazy val set: java.util.HashSet[UTF8String] =
    VocabTermCountsUtil.buildSet(vocab)

  override def nullSafeEval(input: Any): Any =
    VocabTermCountsUtil.counts(input.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("vocabSet", set,
      classOf[java.util.HashSet[UTF8String]].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VocabTermCountsUtil.counts($a, $setRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): VocabTermCounts =
    copy(child = newChild)
}

/** The COLUMN-vocabulary form of [[VocabTermCounts]]:
  * `vocab_term_counts(tokens, vocabCol)` where the vocabulary is any
  * array<string> expression — the intended shape is a broadcast
  * 1-row aggregate (`agg(sort_array(collect_set(term)))` crossed in),
  * which removes the plan-construction `collect()` job the literal
  * form needs (r12 verdict item 5: the q_retrieval_eval gate paid a
  * separate Spark job just to plant the query vocabulary as a
  * literal). Same counting semantics, same output, bit-identical.
  *
  * The probe set builds lazily per task thread and is reused while
  * consecutive rows carry the SAME vocabulary (verified by content
  * comparison against a defensively-copied snapshot — reference
  * identity is useless here because UnsafeRow.getArray materializes
  * a fresh wrapper per row). The per-row cost on the reuse path is
  * one |vocab| equality sweep over already-interned UTF8String
  * slices — small next to tokenizing the document the row carries.
  * A per-row DIFFERENT vocabulary would rebuild per row; no caller
  * does that (the broadcast row is constant), and correctness holds
  * regardless.
  */
case class VocabTermCountsDyn(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "vocab_term_counts"
  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, array<string>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  // NULL tokens → NULL; a NULL vocabulary counts nothing → the empty
  // map, the literal form's answer for a NULL array literal
  override def nullable: Boolean = left.nullable

  override def eval(input: InternalRow): Any = {
    val tokens = left.eval(input)
    if (tokens == null) null
    else VocabTermCountsUtil.countsDyn(
      tokens.asInstanceOf[ArrayData], right.eval(input).asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = left.genCode(ctx)
    val v = right.genCode(ctx)
    ev.copy(code = code"""
      ${t.code}
      boolean ${ev.isNull} = ${t.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${ev.isNull}) {
        ${v.code}
        ${ev.value} = graft.functions.VocabTermCountsUtil.countsDyn(
          ${t.value}, ${v.isNull} ? null : ${v.value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VocabTermCountsDyn =
    copy(left = newLeft, right = newRight)
}

object VocabTermCountsUtil {

  def buildSet(vocab: Seq[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](vocab.size * 2)
    vocab.foreach(v => if (v != null) s.add(UTF8String.fromString(v)))
    s
  }

  /** Per-thread probe-set cache for [[VocabTermCountsDyn]]: the
    * vocabulary snapshot (cloned elements — the source ArrayData may
    * view a reused row buffer) plus the set built from it.
    */
  private final class CachedVocab(val snapshot: Array[UTF8String],
                                  val set: java.util.HashSet[UTF8String])

  private val cached = new ThreadLocal[CachedVocab]

  private def sameContent(snap: Array[UTF8String], arr: ArrayData): Boolean = {
    if (arr.numElements() != snap.length) return false
    var i = 0
    while (i < snap.length) {
      val e = arr.getUTF8String(i)
      val s = snap(i)
      if (if (s == null) e != null else !s.equals(e)) return false
      i += 1
    }
    true
  }

  /** See [[VocabTermCountsDyn]]. Shared by interpreted eval and codegen. */
  def countsDyn(tokens: ArrayData, vocab: ArrayData): MapData = {
    if (vocab == null) return ArrayBasedMapData(Array.empty[Any], Array.empty[Any])
    var c = cached.get()
    if (c == null || !sameContent(c.snapshot, vocab)) {
      val n = vocab.numElements()
      val snap = new Array[UTF8String](n)
      val set = new java.util.HashSet[UTF8String](n * 2)
      var i = 0
      while (i < n) {
        val e = vocab.getUTF8String(i)
        snap(i) = if (e == null) null else e.clone()
        if (snap(i) != null) set.add(snap(i))
        i += 1
      }
      c = new CachedVocab(snap, set)
      cached.set(c)
    }
    counts(tokens, c.set)
  }

  /** See [[VocabTermCounts]]. Shared by interpreted eval and codegen. */
  def counts(tokens: ArrayData, vocab: java.util.HashSet[UTF8String]): MapData = {
    val n = tokens.numElements()
    // LinkedHashMap: key order = first occurrence, deterministic
    val m = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t != null && vocab.contains(t)) {
        val prev = m.get(t)
        // clone: the token's UTF8String may view a reused row buffer;
        // map keys outlive this row's processing
        if (prev == null) m.put(t.clone(), 1L)
        else m.put(t, prev + 1L)
      }
      i += 1
    }
    val keys = new Array[Any](m.size)
    val values = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      keys(j) = e.getKey
      values(j) = e.getValue.longValue()
      j += 1
    }
    ArrayBasedMapData(keys, values)
  }
}
