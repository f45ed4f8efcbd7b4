package graft.operators

import graft.functions.Rounding.pround
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N-gram novelty scoring against a reference corpus — the
  * memorization/recombination diagnostic (Lee et al. 2022; McCoy et
  * al. 2023 "raven" analyses): for each candidate document, what
  * fraction of its distinct k-grams never occurs in the reference?
  * Low novelty flags near-copies and templated regurgitation of the
  * reference distribution; high novelty flags out-of-distribution
  * (or gibberish) text. The same machinery, run with the TEST set as
  * reference, is the contamination direction [[graft.pipeline.Decontaminate]]
  * covers; here the reference is the training corpus and the output
  * is a per-document score, not a drop verdict.
  *
  * Scale shape (the decontaminate/exact-dedup discipline):
  *  - per-doc k-grams are `array_distinct`-ed INSIDE the row before
  *    the explode, so a repetitive document cannot fan out (novelty
  *    is set-based, so this also is the semantics);
  *  - the reference's distinct k-gram set is ONE shingle-keyed
  *    exchange (partial-aggregated distinct);
  *  - the membership probe is a shingle-keyed LEFT ANTI join — the
  *    only corpus-sized exchange pair; at 100 TB both sides shuffle
  *    once on the same key (AQE broadcasts the reference side when a
  *    small held-out slice is the reference);
  *  - per-doc totals ride narrow (`size` of the distinct array), so
  *    the doc-keyed aggregate and the final join carry counts only.
  */
object Novelty {

  /** Per-candidate report: (id, n_grams, n_novel, novelty 4dp) where
    * `n_grams` counts DISTINCT k-grams of the candidate, `n_novel`
    * those absent from `reference`, and novelty = n_novel/n_grams
    * (0.0 for docs with no k-gram, portable floor-rounding). K-gram
    * convention is [[TF.shingles]]: texts of ≤ k tokens contribute
    * their whole text as one shingle.
    */
  def report(candidates: DataFrame, reference: DataFrame, idCol: String,
             textCol: String, k: Int): DataFrame = {
    // ONE tokenize pass: n_grams rides through the explode, so no
    // separate totals branch re-shingles the corpus, and the
    // membership probe is a LEFT join against a hit marker rather
    // than an anti join — fully-covered docs stay in the frame
    // (their rows all carry hits) instead of needing a second
    // doc-keyed join to resurrect them. r10 A/B at sf10: the
    // two-branch anti-join form measured 14.2 s in-tier (two
    // shingle passes + totals join); this form carries the same one
    // shingle-keyed exchange and one doc-keyed aggregate.
    // r13 (guide §2.3 — the SourceOverlap/NgramJaccard recipe): the
    // probe needs only shingle EQUALITY, so both sides key by the
    // native one-pass `shingle_hash64` — the per-doc CPU drops out
    // of the interpreted transform/slice/concat_ws HOF chain, and
    // every exchanged/joined key is 8 bytes instead of a k-word
    // string. Exact while distinct shingles stay well under the
    // ~2³² birthday bound of the 64-bit space; per-doc distinctness
    // by hash equals distinctness by string w.h.p. (the committed
    // FunctionsSpec bit-equality pins the hash recipe itself).
    // shingle_hash64(NULL tokens) is NULL, so a NULL-text doc still
    // reports the documented zero-gram 0.0 via the coalesce, and
    // explode_outer keeps zero-gram docs (their null hash never
    // matches and is excluded from the novel count).
    // a narrow candidate scan is fanned out (graft.Spread) so the
    // shingle pass parallelizes off a single-split tier file
    val cand = graft.Spread.ifNarrow(candidates)
    val pairs = cand
      .select(col(idCol),
        call_function("shingle_hash64", TF.tokens(col(textCol)), lit(k)).as("__shs"))
      .select(col(idCol),
        coalesce(size(col("__shs")), lit(0)).cast("long").as("__n"),
        explode_outer(col("__shs")).as("__sh"))
    val refSet = reference
      .select(explode(
        call_function("shingle_hash64", TF.tokens(col(textCol)), lit(k))).as("__sh"))
      .distinct()
    pairs.join(refSet.withColumn("__hit", lit(1)), Seq("__sh"), "left")
      .groupBy(idCol)
      .agg(max(col("__n")).as("n_grams"),
        sum(when(col("__sh").isNotNull && col("__hit").isNull, 1L)
          .otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        when(col("n_grams") === 0L, lit(0.0)).otherwise(
          pround(col("n_novel").cast("double") / col("n_grams"), 4)))
  }
}
