package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gopher/MassiveText document-quality rule bundle (Rae et al. 2021,
  * "Scaling Language Models: Methods, Analysis & Insights from
  * Training Gopher", arXiv:2112.11446 §A1.1 — the same family the
  * reference's RN-00x expectations express for tabular data, applied
  * to a text corpus). Every signal is a narrow per-row expression
  * built from codegen'd builtins (split / regexp_count / higher-order
  * filters), so the whole bundle fuses into the document scan — zero
  * shuffles, zero UDFs, exactly one tokenize and one line-split per
  * row (the [[TextFunctions.tokens]] let-binding discipline). That is
  * the 100 TB shape: quality filtering is a map-only pass whose cost
  * is the scan itself.
  *
  * Published thresholds, kept verbatim so the operator IS the paper's
  * filter: word count in [50, 100k]; mean word length in [3, 10];
  * symbol-to-word ratio (hash or ellipsis) ≤ 0.1; ≤ 90% of lines
  * bullet-led; ≤ 30% of lines ellipsis-ended; ≥ 80% of words contain
  * an alphabetic character; ≥ 2 hits from the 8-word stop list
  * {the, be, to, of, and, that, have, with}.
  *
  * Repetition-family rules (dup-line / top-ngram shares) live in
  * `q_repetition_stats` via the native `ngram_repetition` expression;
  * this operator is the document-shape half of the Gopher gate.
  */
object GopherRules {

  /** The paper's fixed stop list (§A1.1: "contains at least two of
    * the following English words").
    */
  val StopList: Seq[String] = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private def pround = graft.functions.Rounding.pround _

  private def bindOnce(x: Column, body: Column => Column): Column =
    element_at(transform(array(x), body), 1)

  /** Per-document signals + verdict. Ratio columns are presented
    * portably rounded (4 dp, floor(x·10⁴+0.5) — identical in DuckDB);
    * `keep` is decided on the UNROUNDED values, which are int/int
    * IEEE divisions and therefore bit-identical across engines.
    */
  def signals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    // '#', a three-dot run, or a Unicode ellipsis each count once;
    // both engines scan greedily left-to-right so '.....' is ONE hit
    val symbolHits = regexp_count(text, lit("#|\\.{3}|…"))
    val lines = split(text, "\n")
    val words = TextFunctions.tokens(text)
    docs
      .withColumn("word_count", size(words).cast("long"))
      .withColumn("stopword_hits",
        size(filter(words, w => array_contains(array(StopList.map(lit): _*), w))).cast("long"))
      .withColumn("alpha_word_ratio",
        when(col("word_count") === 0, lit(0.0)).otherwise(
          size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / col("word_count")))
      .withColumn("mean_word_len", TextFunctions.meanTokenLen(text))
      .withColumn("symbol_word_ratio",
        when(col("word_count") === 0, lit(0.0))
          .otherwise(symbolHits.cast("double") / col("word_count")))
      .withColumn("bullet_line_ratio", bindOnce(lines, ls =>
        size(filter(ls, l => l.rlike("^\\s*[-*•]"))).cast("double") / size(ls)))
      .withColumn("ellipsis_line_ratio", bindOnce(lines, ls =>
        size(filter(ls, l => l.rlike("(\\.{3}|…)\\s*$"))).cast("double") / size(ls)))
      .withColumn("keep",
        col("word_count").between(50L, 100000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_word_ratio") <= 0.1 &&
          col("bullet_line_ratio") <= 0.9 &&
          col("ellipsis_line_ratio") <= 0.3 &&
          col("alpha_word_ratio") >= 0.8 &&
          col("stopword_hits") >= 2L)
      .select(col("doc_id"), col("word_count"), col("stopword_hits"),
        pround(col("alpha_word_ratio"), 4).as("alpha_word_ratio"),
        pround(col("mean_word_len"), 2).as("mean_word_len"),
        pround(col("symbol_word_ratio"), 4).as("symbol_word_ratio"),
        pround(col("bullet_line_ratio"), 4).as("bullet_line_ratio"),
        pround(col("ellipsis_line_ratio"), 4).as("ellipsis_line_ratio"),
        col("keep"))
  }
}
