package graft.pipeline

import graft.functions.TextFunctions
import graft.Spread
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents that share word
  * k-shingles with an evaluation corpus, the standard pre-training
  * hygiene pass (an eval question leaking into the training set
  * invalidates the benchmark).
  *
  * Shape: the EVAL side is tiny (benchmark suites are thousands of
  * documents, the training corpus is the 100 TB side), so the eval
  * shingle set deduplicates to a broadcastable dimension and the
  * training corpus takes exactly one narrow shingling pass plus a
  * broadcast-hash semi-join — the big side is never shuffled by
  * shingle. The only exchange is the per-doc hit-count aggregation,
  * keyed by doc id with map-side partial aggregation, carrying two
  * longs per doc.
  */
object Decontaminate {

  /** Distinct word-k-shingle HASHES of the eval corpus (the broadcast
    * side). r13 (guide §2.3, the Novelty/SourceOverlap recipe): the
    * probe needs only shingle equality, so both sides carry the
    * native one-pass `shingle_hash64` — 8-byte broadcast keys, and
    * the training corpus's dominant per-doc CPU drops out of the
    * interpreted shingle-HOF chain. Exact while distinct shingles
    * stay well under the 64-bit space's ~2³² birthday bound.
    */
  def evalShingles(eval: DataFrame, textCol: String, k: Int): DataFrame =
    eval.select(explode(call_function("shingle_hash64",
        TextFunctions.tokens(col(textCol)), lit(k))).as("shingle"))
      .distinct()

  /** VERBATIM contamination scan (r11): flag training docs containing
    * any eval snippet as an exact substring — the check that catches
    * what token-boundary shingle overlap cannot (an eval answer
    * pasted mid-token, inside markup, or shorter than k words).
    * `snippets` must be the SMALL side (benchmark answer strings —
    * thousands of rows): it broadcasts, and the scan is a
    * broadcast-nested-loop LEFT SEMI `contains` join — the one place
    * a nested loop is the correct plan, because containment has no
    * equi-key; the big side streams through once and short-circuits
    * on first hit. At huge snippet counts the production form swaps
    * in a multi-pattern automaton; the operator boundary (small
    * broadcast pattern side, one training pass) is the same.
    */
  def verbatimFlagged(train: DataFrame, snippets: DataFrame,
                      textCol: String, snippetCol: String): DataFrame =
    train.join(
      broadcast(snippets.select(col(snippetCol).as("__snip")).distinct()),
      contains(col(textCol), col("__snip")), "left_semi")

  /** Per-training-doc contamination stats: shingle count, eval-shingle
    * hits, hit fraction, and a boolean flag at `threshold`. Every
    * training row is preserved (zero-shingle docs report 0.0 via the
    * `explode_outer` null row).
    *
    * Exactly ONE shingling pass over the corpus: `n_shingles` rides the
    * exploded rows and is recovered with `first()` in the same per-doc
    * aggregation that counts hits, so the text is never rescanned.
    */
  def stats(train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
            k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val raw = train.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
    val idx = Spread.ifNarrow(raw)
      .select(col("doc_id"), call_function("shingle_hash64",
        TextFunctions.tokens(col("__text")), lit(k)).as("sh"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"),
        explode_outer(col("sh")).as("shingle"))
    idx
      .join(broadcast(evalShingles(eval, textCol, k).withColumn("__hit", lit(1))),
        Seq("shingle"), "left")
      // count(__hit) skips nulls: non-matching shingles and the
      // explode_outer placeholder of zero-shingle docs both count 0
      .groupBy("doc_id")
      .agg(first(col("n_shingles")).as("n_shingles"),
        count(col("__hit")).as("n_hit"))
      .withColumn("contamination",
        when(col("n_shingles") === 0, lit(0.0)).otherwise(
          // floor(x*1e4+0.5)/1e4: bit-identical across engines (vs round)
          floor(col("n_hit").cast("double") / col("n_shingles").cast("double")
            * lit(10000.0) + lit(0.5)) / lit(10000.0)))
      // BIGINT 1/0 flag, not boolean: matches the repo's cross-engine
      // compare convention for flags (see StarSchema.flag_vencido)
      .withColumn("contaminated",
        when(col("contamination") >= threshold, lit(1L)).otherwise(lit(0L)))
  }

  /** The cleaned training corpus: rows whose contamination stays under
    * `threshold`. The stats plan's surviving ids drive a semi-join back
    * against the raw rows — the text is shingled once (inside `stats`)
    * and never re-derived here.
    */
  def clean(train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
            k: Int = 3, threshold: Double = 0.5): DataFrame =
    train.join(
      stats(train, eval, idCol, textCol, k, threshold)
        .filter(col("contaminated") === 0L).select(col("doc_id").as(idCol)),
      Seq(idCol), "left_semi")
}
