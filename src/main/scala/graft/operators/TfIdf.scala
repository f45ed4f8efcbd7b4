package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** TF-IDF term weighting over a document corpus (the classic keyword /
  * feature-extraction pass; cf. the reference's text-profiling
  * intent, generalized for LLM-corpus analytics).
  *
  * Shape at scale — ONE corpus pass, ONE shuffle:
  *  - tokenization is a narrow codegen'd projection (no UDF);
  *  - the exploded (doc_id, term) pairs are repartitioned BY TERM
  *    once; everything downstream is term-clustered, so the tf
  *    aggregate (term partitioning satisfies a (term, doc) clustering
  *    requirement), the df aggregate, and the tf⋈df join all run with
  *    ZERO further exchanges — and because the tf and df branches
  *    share the identical Exchange subtree, Spark plans the second as
  *    a ReusedExchange: the corpus is scanned and tokenized exactly
  *    once (plan-asserted in Round5OpsSpec);
  *  - the trade encoded here: repartitioning raw pairs gives up
  *    map-side tf combining, but the alternative (partial-agg to
  *    (doc, term) first) costs a second full shuffle to re-cluster by
  *    term AND loses the scan reuse — strictly more bytes end to end;
  *  - the corpus size joins back as a broadcast 1-row aggregate (its
  *    count-only scan prunes every column);
  *  - top-k per doc is a rank-filter window that Spark 4 plans as
  *    WindowGroupLimit: each mapper forwards at most k candidates per
  *    doc before the exchange.
  *
  * Scores are floor-rounded to 4 dp BEFORE ranking so the rank order
  * (score desc, term asc) is identical in any engine.
  */
object TfIdf {

  private def pround = graft.functions.Rounding.pround _

  /** (doc, term, tf) with smooth-idf TF-IDF score: tf * (ln((1+N)/(1+df)) + 1).
    *
    * A narrow `docs` ([[graft.Spread]]) makes the term repartition
    * explicit-width: AQE's size-based coalesce otherwise folds a small
    * tier's term exchange to ONE partition, serializing every
    * downstream stage (tf, df, join, top-k window all hang off this
    * partitioning). Explicit-N repartitions are exempt from AQE
    * coalescing by design; at scale the keyed repartition stays
    * AQE-managed.
    */
  def scores(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = graft.Spread.width(docs)
    val pairs0 = docs
      .select(col(idCol), explode(TF.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
    val pairs = if (n > 0) pairs0.repartition(n, col("term"))
                else pairs0.repartition(col("term"))
    val tf = pairs.groupBy("term", idCol).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", pround(
        col("tf").cast("double") *
          (log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))) + lit(1.0)), 4))
      .select(col(idCol), col("term"), col("tf"), col("tfidf"))
  }

  /** Top-k terms per document by TF-IDF (rank on the rounded score,
    * term-asc tie-break — total order, engine-portable).
    */
  def topTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term").asc)
    scores(docs, idCol, textCol)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }
}
