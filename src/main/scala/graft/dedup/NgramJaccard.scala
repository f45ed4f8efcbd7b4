package graft.dedup

import graft.functions.TextFunctions
import graft.Spread
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact n-gram Jaccard similarity via an inverted shingle index.
  *
  * Instead of any pairwise comparison, explode each document into its
  * distinct word-k-shingles, drop shingles whose document frequency
  * exceeds `maxDf` (stopword-like shingles contribute almost nothing
  * to Jaccard but dominate pair generation — the classic prefix/df
  * filter), then self-join the inverted index: pairs sharing a rare
  * shingle, counting shared shingles per pair in one aggregation.
  * Jaccard = |∩| / (|A| + |B| − |∩|).
  *
  * Scale: the only heavy shuffle is keyed by shingle; df-filtering
  * bounds each shingle's bucket to ≤ maxDf docs, so pair generation
  * is O(Σ df²) with df ≤ maxDf — tunable, never O(n²).
  */
object NgramJaccard {

  /** (doc_id, shingle-hash) inverted index with per-doc set sizes. The
    * raw text is repartitioned to `n` (> 0) BEFORE shingling so the
    * per-doc expression parallelizes even off a single-task scan. Shingling
    * and hashing happen in one native pass (`shingle_hash64`,
    * graft.functions.ShingleHash64): Jaccard only ever compares
    * shingles for equality, and 64-bit hash equality is string
    * equality w.h.p. — every shuffle, sort and join key downstream
    * shrinks from a multi-word string to a long, and the per-doc CPU
    * drops out of the interpreted HOF chain into a tight loop.
    */
  private def invertedIndex(docs: DataFrame, idCol: String, textCol: String, k: Int,
                            n: Int): DataFrame = {
    val raw = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
    (if (n > 0) raw.repartition(n) else raw)
      .select(col("doc_id"), call_function("shingle_hash64",
        TextFunctions.tokens(col("__text")), lit(k)).as("sh"))
      .withColumn("set_size", size(col("sh")).cast("long"))
      .select(col("doc_id"), col("set_size"), explode(col("sh")).as("shingle"))
  }

  /** Pairs (id_a < id_b) with exact Jaccard ≥ threshold.
    *
    * One shingle-keyed exchange, placed ABOVE the shingling: the
    * tokenize/shingle/hash/explode pipeline is all interpreted
    * higher-order functions — by far the dominant CPU — so it must run
    * exactly once. Keying the exchange by shingle lets the df filter
    * (a window count over the co-located postings — a stopword-like
    * shingle costs one 8-byte counter, never a posting list) and BOTH
    * self-join sides reuse that single exchange (ReusedExchange); the
    * r6 shape kept the only exchange BELOW the shingling and broadcast
    * the surviving-shingle set, which re-ran the shingle CPU up to 4×
    * per query. Shared-shingle counts then come from a codegen'd
    * HashAggregate over primitive columns. (Collecting capped posting
    * lists instead measured 2.5× slower: a TypedImperativeAggregate
    * buffer drops out of whole-stage codegen and, past the 128-key
    * ObjectHashAggregate fallback, into sort-based aggregation.)
    */
  def pairs(docs: DataFrame, idCol: String, textCol: String,
            k: Int = 3, threshold: Double = 0.3, maxDf: Int = 50): DataFrame = {
    // co-locate postings by shingle ONCE; everything heavy is below
    // this exchange, everything above it is sorts/joins on longs.
    // A narrow `docs` (Spread) makes the exchange explicit-width:
    // AQE's size-based coalesce otherwise folds a small tier's
    // postings to ONE partition and the df window + self-join + pair
    // count all run serial.
    val n = Spread.width(docs)
    val idx = invertedIndex(docs, idCol, textCol, k, n)
    val co = if (n > 0) idx.repartition(n, col("shingle"))
             else idx.repartition(col("shingle"))
    // df prefilter: drop shingles shared by >maxDf docs (near-zero
    // Jaccard signal, quadratic pair fanout) and by exactly 1 (no
    // pair). A window count over the co-located postings — no second
    // pass over the corpus, no join against a df table.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    val filtered = co.withColumn("__df", count(lit(1)).over(w))
      .filter(col("__df").between(2, maxDf)).drop("__df")
    val shared = filtered.as("a")
      .join(filtered.as("b"), expr("a.shingle = b.shingle AND a.doc_id < b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.set_size").as("size_a"), col("b.set_size").as("size_b"))
      .agg(count(lit(1)).as("inter"))
    // floor(x*1e4+0.5)/1e4 instead of round(): identical IEEE ops on
    // the identical binary double in every engine, so the DuckDB
    // oracle reproduces the value bit-for-bit
    shared.withColumn("jaccard",
        floor(col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")).cast("double")
          * lit(10000.0) + lit(0.5)) / lit(10000.0))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Per-document best-match summary (one row per doc). */
  def summary(docs: DataFrame, idCol: String, textCol: String,
              k: Int = 3, maxDf: Int = 50): DataFrame = {
    // both sym union branches project this one subtree, so they share
    // its exchanges
    val p = pairs(docs, idCol, textCol, k, threshold = 0.0, maxDf = maxDf)
    val sym = p.select(col("id_a").as("doc_id"), col("id_b").as("other_id"), col("jaccard"))
      .union(p.select(col("id_b").as("doc_id"), col("id_a").as("other_id"), col("jaccard")))
    val best = sym.groupBy("doc_id").agg(
      count(lit(1)).as("n_overlapping"),
      max(struct(col("jaccard"), col("other_id"))).as("best"))
      .select(col("doc_id"), col("n_overlapping"),
        col("best.other_id").as("best_match_id"), col("best.jaccard").as("best_jaccard"))
    docs.select(col(idCol).as("doc_id")).join(best, Seq("doc_id"), "left")
      .na.fill(Map("n_overlapping" -> 0L, "best_jaccard" -> -1.0))
  }
}
