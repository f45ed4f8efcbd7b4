package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** Stupid Backoff n-gram LM scoring (Brants et al. 2007, "Large
  * Language Models in Machine Translation" §4 — the Google MT
  * trillion-token recipe): score each document by the mean ln S of its
  * trigrams under a model trained on a REFERENCE corpus, where
  *
  *   S(w3 | w1 w2) = c(w1w2w3) / c(w1w2)          trigram seen
  *                 = 0.4 · c(w2w3) / c(w2)        else, bigram seen
  *                 = 0.4² · (c(w3)+1) / (N+V)     else (add-1 unigram
  *                                                 floor, finite for
  *                                                 unseen words)
  *
  * Stupid Backoff deliberately skips normalization (scores, not
  * probabilities) — that is exactly what makes it the distributed-LM
  * form: every count table is a plain partial-agged groupBy, no
  * discounting pass, no held-out sweep. Unlike [[UnigramLm]] /
  * [[BigramLm]] (self-scored), the model here trains on a separate
  * reference slice, so the backoff chain genuinely fires on
  * out-of-model n-grams — the corpus-filtering setup (score the crawl
  * under a trusted-domain model, cf. CCNet's wiki-LM).
  *
  * Shape at scale:
  *  - every n-gram is keyed by its 8-byte `xxhash64`, computed INSIDE
  *    the scan — n-gram STRINGS never leave a task. The first cut
  *    shuffled (w1,w2,w3) string triples through five sort-merge
  *    joins: 37.6 s at sf10; hash keys made every exchange fixed
  *    width. Collision bound (the ngram-Jaccard precedent): a false
  *    count merge needs two distinct n-grams in one 2⁶⁴ hash cell —
  *    P ≤ t²/2⁶⁵ per table (t types), ~5e-5 across a billion-doc
  *    corpus; an isolated one-row oracle mismatch at extreme scale is
  *    the expected collision, not an operator bug;
  *  - each n-gram order pays one corpus scan (the Brants MapReduce
  *    shape); N and V fold from the vocab-sized unigram table, not a
  *    fourth scan;
  *  - the doc-side (doc, trigram) tf table joins ONE consolidated
  *    per-trigram-TYPE score table: all five model joins run over the
  *    DISTINCT doc trigram types — bounded by type count, never by
  *    corpus occurrences;
  *  - model totals (N, V) are a 1-row broadcast;
  *  - per-trigram log-scores are integerized (1e-6 units) before the
  *    per-doc sum, so float summation order can never bend the mean.
  */
object BackoffLm {

  private def pround = graft.functions.Rounding.pround _

  /** Per-position hash bundle for each trigram of a text column:
    * (h3, h12, h23, hw2, hw3) — everything the scorer joins on,
    * derived in-scan so strings never shuffle. <3 tokens → [].
    * Native one-pass since r13 (functions.TrigramHashBundle): the
    * HOF form paid 9 hash block computations per position (h23 of
    * position i is h12 of position i+1, hw3 is the next hw2 — the
    * overlaps the per-position expression tree cannot share); the
    * native sweep pays 3, bit-identical (FunctionsSpec pins it
    * against the five-xxhash64 HOF).
    */
  private def trigramHashArr(textCol: Column): Column =
    call_function("trigram_hash_bundle", TF.tokens(textCol))

  private def bigramHashArr(textCol: Column): Column =
    call_function("ngram_hash64", TF.tokens(textCol), lit(2))

  /** Per-document Stupid Backoff score under `model`'s counts.
    *
    * Output: (id, n_trigrams, n_hit3, n_hit2, n_hit1, backoff_mean)
    * — the hit tallies say which backoff level served each trigram
    * occurrence (they sum to n_trigrams), making the chain's firing
    * observable; backoff_mean is the 4-dp mean ln S. Docs with fewer
    * than three tokens carry (0, 0, 0, 0, 0.0).
    */
  def scores(docs: DataFrame, model: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // ---- model count tables, hash-keyed (one partial-agged groupBy
    // and one corpus scan per n-gram order) ---------------------------
    val uni = model
      .select(explode(TF.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(xxhash64(col("w")).as("hw"))
      .agg(count(lit(1)).as("c1"))
    // N and V fold from the vocab-sized unigram table, NOT a fourth
    // corpus scan (each n-gram order already pays one — but totals
    // need not)
    val totals = uni.agg(sum("c1").as("n_tok"), count(lit(1)).as("v"))
    val big = model.select(explode(bigramHashArr(col(textCol))).as("hb"))
      .groupBy("hb").agg(count(lit(1)).as("c2"))
    // model side needs only the trigram chain hash — the plain n=3
    // sweep, no sibling bundle (same hash bits, no struct rows)
    val tri = model.select(explode(
        call_function("ngram_hash64", TF.tokens(col(textCol)), lit(3))).as("h3"))
      .groupBy("h3").agg(count(lit(1)).as("c3"))

    // ---- doc side: (doc, trigram) tf + distinct trigram types ------
    // ONE corpus trigram pass (r12 optimization): the (h3, doc)
    // aggregate carries the sibling hashes through (any row of an h3
    // group holds the same h12/h23/hw2/hw3 — they are functions of
    // h3's trigram, so first() is value-deterministic), and the type
    // table folds off THAT — (type × doc)-bounded rows — instead of a
    // second full tokenize+trigram-HOF scan of the corpus. The tfd
    // exchange widens by four longs per row; at any scale that is
    // cheaper than re-reading and re-hashing the whole corpus.
    val docTri = docs
      .select(col(idCol), explode(trigramHashArr(col(textCol))).as("t"))
    val tfd0 = docTri.groupBy(col("t.h3").as("h3"), col(idCol))
      .agg(count(lit(1)).as("tf"),
        first(col("t.h12")).as("h12"), first(col("t.h23")).as("h23"),
        first(col("t.hw2")).as("hw2"), first(col("t.hw3")).as("hw3"))
    val tfd = tfd0.select(col("h3"), col(idCol), col("tf"))
    val types = tfd0
      .groupBy(col("h3"))
      .agg(first(col("h12")).as("h12"), first(col("h23")).as("h23"),
        first(col("hw2")).as("hw2"), first(col("hw3")).as("hw3"))

    // ---- one score per trigram TYPE (all model joins happen here,
    // every key 8 bytes) ----------------------------------------------
    // a seen trigram implies its prefix bigram was seen, so the c3
    // branch never divides by null; add-1 keeps the unigram floor
    // finite for words the model has never seen at all
    val scored = types
      .join(tri, Seq("h3"), "left")
      .join(big.select(col("hb").as("h12"), col("c2").as("c12")),
        Seq("h12"), "left")
      .join(big.select(col("hb").as("h23"), col("c2").as("c23")),
        Seq("h23"), "left")
      .join(uni.select(col("hw").as("hw2"), col("c1").as("c_w2")),
        Seq("hw2"), "left")
      .join(uni.select(col("hw").as("hw3"), col("c1").as("c_w3")),
        Seq("hw3"), "left")
      .crossJoin(broadcast(totals))
      .select(col("h3"),
        when(col("c3").isNotNull, lit(3))
          .when(col("c23").isNotNull, lit(2))
          .otherwise(lit(1)).as("level"),
        floor(log(
          when(col("c3").isNotNull,
            col("c3").cast("double") / col("c12"))
          .when(col("c23").isNotNull,
            lit(0.4) * col("c23") / col("c_w2"))
          .otherwise(lit(0.16) * (coalesce(col("c_w3"), lit(0L)) + lit(1L))
            / (col("n_tok") + col("v"))))
          * lit(1e6) + lit(0.5)).cast("long").as("lns"))

    val perDoc = tfd.join(scored, Seq("h3"))
      .groupBy(idCol)
      .agg(sum("tf").as("n_trigrams"),
        sum(when(col("level") === 3, col("tf")).otherwise(lit(0L))).as("n_hit3"),
        sum(when(col("level") === 2, col("tf")).otherwise(lit(0L))).as("n_hit2"),
        sum(when(col("level") === 1, col("tf")).otherwise(lit(0L))).as("n_hit1"),
        sum(col("tf") * col("lns")).as("s"))

    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_hit3"), lit(0L)).as("n_hit3"),
        coalesce(col("n_hit2"), lit(0L)).as("n_hit2"),
        coalesce(col("n_hit1"), lit(0L)).as("n_hit1"),
        when(col("n_trigrams").isNull, lit(0.0)).otherwise(
          pround(col("s").cast("double") / (col("n_trigrams") * lit(1000000.0)), 4))
          .as("backoff_mean"))
  }
}
