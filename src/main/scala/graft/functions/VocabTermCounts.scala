package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document term frequencies of a vocabulary in ONE pass:
  * `vocab_term_counts(tokens, vocab)` = map<string,long> of each
  * vocabulary term present in `tokens` to its occurrence count,
  * first-occurrence key order. Equal to
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
  * per token and the emitted rows are the 46M matches.
  *
  * `vocab` is any array<string> expression: a literal `array(...)`,
  * or a broadcast 1-row aggregate crossed into the corpus pass (the
  * batch-BM25 shape, which needs no plan-time collect job). The probe
  * set is built from the vocabulary and reused while consecutive rows
  * carry the same content (compared against a copied snapshot —
  * reference identity is useless because UnsafeRow.getArray
  * materializes a fresh wrapper per row). The per-row cost on the
  * reuse path is one |vocab| equality sweep, small next to tokenizing
  * the document the row carries; a per-row different vocabulary
  * rebuilds per row, and correctness holds regardless. The set lives
  * on this expression's own per-task state — a codegen mutable state,
  * a transient field when interpreted — so two calls in one
  * projection never share it.
  *
  * NULL tokens → NULL; a NULL vocabulary counts nothing → the empty map.
  */
case class VocabTermCounts(left: Expression, right: Expression)
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

  override def nullable: Boolean = left.nullable

  @transient private var probe: VocabProbeSet = _

  override def eval(input: InternalRow): Any = {
    val tokens = left.eval(input)
    if (tokens == null) null
    else {
      val p = VocabProbeSet.refresh(probe, right.eval(input).asInstanceOf[ArrayData])
      probe = p
      VocabProbeSet.counts(tokens.asInstanceOf[ArrayData], p)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val probeSet = classOf[VocabProbeSet].getName
    val state = ctx.addMutableState(probeSet, "vocabProbe")
    val t = left.genCode(ctx)
    val v = right.genCode(ctx)
    ev.copy(code = code"""
      ${t.code}
      boolean ${ev.isNull} = ${t.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${ev.isNull}) {
        ${v.code}
        $state = $probeSet.refresh($state, ${v.isNull} ? null : ${v.value});
        ${ev.value} = $probeSet.counts(${t.value}, $state);
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VocabTermCounts =
    copy(left = newLeft, right = newRight)
}

/** A vocabulary's probe set plus a copy of the vocabulary it was
  * built from (cloned elements — the source ArrayData may view a
  * reused row buffer). Immutable, so a reference to one is always
  * consistent.
  */
final class VocabProbeSet private (snapshot: Array[UTF8String],
                                   val set: java.util.HashSet[UTF8String]) {

  private def builtFrom(vocab: ArrayData): Boolean = {
    if (VocabProbeSet.size(vocab) != snapshot.length) return false
    var i = 0
    while (i < snapshot.length) {
      val e = vocab.getUTF8String(i)
      val s = snapshot(i)
      if (if (s == null) e != null else !s.equals(e)) return false
      i += 1
    }
    true
  }
}

object VocabProbeSet {

  // a NULL vocabulary is the empty one
  private def size(vocab: ArrayData): Int =
    if (vocab == null) 0 else vocab.numElements()

  /** `cached` when it was built from `vocab`'s content, else a set
    * built from `vocab`.
    */
  def refresh(cached: VocabProbeSet, vocab: ArrayData): VocabProbeSet =
    if (cached != null && cached.builtFrom(vocab)) cached
    else {
      val n = size(vocab)
      val snap = new Array[UTF8String](n)
      val set = new java.util.HashSet[UTF8String](n * 2)
      var i = 0
      while (i < n) {
        val e = vocab.getUTF8String(i)
        snap(i) = if (e == null) null else e.clone()
        if (snap(i) != null) set.add(snap(i))
        i += 1
      }
      new VocabProbeSet(snap, set)
    }

  /** See [[VocabTermCounts]]. Shared by interpreted eval and codegen. */
  def counts(tokens: ArrayData, vocab: VocabProbeSet): MapData = {
    val n = tokens.numElements()
    // LinkedHashMap: key order = first occurrence, deterministic
    val m = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t != null && vocab.set.contains(t)) {
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
