package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** BM25 ranked text retrieval over a document corpus — the search
  * primitive an LLM-data pipeline uses for targeted corpus curation
  * (find all docs about X, score prompts against a topic, build
  * retrieval eval sets).
  *
  * Scale shape: tokens are EXPLODED ONLY FOR QUERY TERMS — the
  * per-doc projection computes term frequencies of the (tiny,
  * broadcast-literal) query vocabulary inside the scan, so the only
  * shuffled rows are (doc, query_term, tf) postings that actually
  * match, never the full inverted index. Document length norms come
  * from one scalar subquery (a broadcast single-row agg). Top-k plans
  * as TakeOrdered. At 100 TB: one corpus pass, postings ∝ matching
  * docs × |query|, no full-vocabulary shuffle.
  */
object Bm25 {

  /** Per-term BM25 score contribution; standard Okapi with the
    * Lucene-style non-negative idf: ln(1 + (N - df + 0.5)/(df + 0.5)).
    */
  private def termScore(tf: Column, df: Column, n: Column, dl: Column,
                        avgdl: Column, k1: Double, b: Double): Column = {
    val idf = log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5)))
    idf * tf * lit(k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / avgdl))
  }

  /** Top-k documents for `queryTerms` by BM25(k1, b). Output:
    * (doc_id, score, n_hits) with `score` floor-rounded to 4 dp for
    * cross-engine comparison and (score desc, id asc) tie-broken.
    */
  def topK(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k: Int = 10,
           k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    // default k1/b are exact binary doubles, so k1+1 and 1-b are too —
    // the DuckDB oracle reproduces every constant bit-for-bit
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val terms = queryTerms.map(_.toLowerCase).distinct

    // one narrow pass: doc length + tf of each query term, computed
    // in the scan projection (no explode of non-matching tokens)
    val toks = TextFunctions.tokens(col(textCol))
    val withTf = docs.select(
      col(idCol),
      size(toks).cast("double").as("dl"),
      array(terms.map(t =>
        size(filter(toks, x => x === lit(t))).cast("double")): _*).as("tfs"))

    // corpus stats: N, avgdl, and per-term document frequencies in a
    // single tiny agg row (broadcast into the scoring join)
    val stats = withTf.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"),
      array(terms.indices.map(i =>
        sum(when(col("tfs")(i) > 0, 1.0).otherwise(0.0)).as(s"df_$i")): _*).as("dfs"))

    val scored = withTf.join(broadcast(stats))
      .select(Seq(col(idCol), col("dl")) ++
        terms.indices.map(i =>
          when(col("tfs")(i) > 0,
            termScore(col("tfs")(i), col("dfs")(i), col("n_docs"),
              col("dl"), col("avgdl"), k1, b)).otherwise(lit(0.0)).as(s"s_$i")): _*)
      .select(col(idCol),
        terms.indices.map(i => col(s"s_$i")).reduce(_ + _).as("raw_score"),
        terms.indices.map(i => when(col(s"s_$i") > 0, 1L).otherwise(0L))
          .reduce(_ + _).as("n_hits"))
      .filter(col("n_hits") > 0)

    scored
      .select(col(idCol),
        (floor(col("raw_score") * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("score"),
        col("n_hits"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** MULTI-query BM25 — the retrieval-eval/batch-curation form of
    * [[topK]] (r12): `queries` is (query_id, terms: array<string>),
    * and the whole batch scores in ONE corpus pass. The postings
    * build feeds the (eval-set-bounded) union query vocabulary to
    * the native one-pass `vocab_term_counts` counter as a broadcast
    * 1-row column, so each document emits its
    * (term, tf) MAP straight from the scan — rows ∝ matches from the
    * first operator, with no token explode and no corpus-tokens-
    * sized hash aggregate (the first form exploded every token and
    * re-grouped: 450M rows → 46M at sf30, ~half the query; the
    * native build cut the sparse path 48.5 s → 21.3 s, r12).
    * df/stats frames are vocabulary/1-row sized; the per-(query,
    * doc) fan-out is broadcast; ranking is a per-query window over
    * match-bounded rows.
    *
    * CALLER CONTRACT: `queries` must be an eval-set-sized frame
    * (hundreds, not a corpus slice). The per-(query, matching-doc)
    * grid is Θ(|queries| × docs-matching-any-term) in the worst
    * case (common terms match most docs) — a query set that GROWS
    * with the corpus turns the grid quadratic; a 1%-of-corpus set
    * OOM-killed a 50 GB JVM at sf10 (measured r12) where the same
    * corpus with a fixed 100-query set runs in 7.5 s (0.68x the
    * oracle engine on the same worst-case 31-token vocabulary).
    *
    * Cross-engine exactness: [[topK]] sums its (fixed, literal) term
    * scores inside one row expression, so summation order is fixed;
    * a grouped per-(query, doc) SUM has engine-dependent order, so
    * here each TERM score integerizes first (floor(x·1e6 + 0.5) — the
    * q_unigram_logprob trick) and the group sum is exact integers,
    * order-free. Ranks order by (score_micro desc, doc_id asc):
    * fully portable. Output: (query_id, rank, doc_id, score_micro).
    */
  def batchTopK(docs: DataFrame, idCol: String, textCol: String,
                queries: DataFrame, k: Int = 10,
                k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qt = queries.select(col("query_id"),
      explode(array_distinct(col("terms"))).as("term"))
    // the union query vocabulary feeds the native one-pass counter:
    // postings emerge as rows ∝ MATCHES (46M at sf30) instead of the
    // explode + semi-join + corpus-tokens-sized string hash-agg form
    // (450M exploded rows; the agg was ~half the query — measured
    // r12, see VocabTermCounts). The vocabulary rides as a broadcast
    // 1-row aggregate (eval-set-bounded) crossed into the corpus
    // pass, so building the plan starts no collect() job.
    val vocabRow = qt.agg(
      sort_array(coalesce(collect_set(col("term")),
        array().cast("array<string>"))).as("__vocab"))
    val withTc = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("__ts"))
      .crossJoin(broadcast(vocabRow))
      .select(col("doc_id"), size(col("__ts")).cast("double").as("dl"),
        call_function("vocab_term_counts", col("__ts"), col("__vocab")).as("__tc"))
    val post = withTc
      .select(col("doc_id"), col("dl"), explode(col("__tc")))
      .select(col("doc_id"), col("key").as("term"),
        col("value").cast("double").as("tf"), col("dl"))
    val dft = post.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val stats = withTc.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val scoredTerm = post.join(broadcast(dft), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        floor(termScore(col("tf"), col("df"), col("n_docs"), col("dl"),
          col("avgdl"), k1, b) * lit(1e6) + lit(0.5)).cast("long")
          .as("ts_micro"))

    // Per-(query, doc) sum over the match grid. A "dense" alternative
    // (collapse postings to a per-doc score MAP, cross the broadcast
    // query list against it in a narrow projection) was built and
    // MEASURED against this on the densest possible corpus — the
    // 31-token synthetic vocabulary, where every query matches most
    // docs: with the native postings build, sparse reads 21.3 s at
    // sf30 vs dense 38.8 s (the dense path trades a codegen'd
    // long-sum aggregate for |docs|×|queries| interpreted map-lookup
    // folds, and loses even in its best-case regime). Rejected; the
    // A/B is recorded in PLANS.md r12.
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    scoredTerm.join(broadcast(qt), "term")
      .groupBy("query_id", "doc_id")
      .agg(sum(col("ts_micro")).as("score_micro"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("score_micro"))
  }

  /** Retrieval-quality eval over a labeled query set — recall@k and
    * reciprocal rank per query, the harness a pipeline runs before
    * trusting BM25-curated subsets: `queries` is (query_id,
    * terms, rel_id). Per query: the relevant doc's rank inside the
    * top-k (0 when absent), rr = 1/rank (pround 4), hit@k. Fully
    * deterministic given the corpus (no planting needed — the metric
    * itself is the oracle-compared value).
    */
  def retrievalEval(docs: DataFrame, idCol: String, textCol: String,
                    queries: DataFrame, k: Int = 10,
                    k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    val ranked = batchTopK(docs, idCol, textCol,
      queries.select("query_id", "terms"), k, k1, b)
    queries.select(col("query_id"), col("rel_id"))
      .join(ranked.select(col("query_id"), col("doc_id").as("rel_id"),
        col("rank")), Seq("query_id", "rel_id"), "left")
      .select(col("query_id"), col("rel_id"),
        coalesce(col("rank"), lit(0L)).as("rel_rank"),
        when(col("rank").isNotNull,
          graft.functions.Rounding.pround(lit(1.0) / col("rank"), 4))
          .otherwise(lit(0.0)).as("rr"),
        col("rank").isNotNull.as("hit"))
  }
}
