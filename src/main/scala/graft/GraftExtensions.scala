package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, StringTrim, Upper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{CharDiversityStats, CollectMinK, CosineSimilarity, MinHash64, NearestCentroid, NfcNormalize, NgramHash64, NgramRepetition, ShingleHash64, SimHash64, TrigramHashBundle, VectorMean, VocabTermCounts}

/** Engine extensions, registered through the public
  * `spark.sql.extensions` hook (GraftSession sets it). Native
  * expressions and optimizer rules live here so they're reachable
  * without touching Spark internals.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "cosine_sim(a, b) takes exactly two arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("nearest_centroid"),
      new ExpressionInfo(classOf[NearestCentroid].getName, "nearest_centroid"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "nearest_centroid(emb, cents) takes exactly two arguments")
        NearestCentroid(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("vector_mean"),
      new ExpressionInfo(classOf[VectorMean].getName, "vector_mean"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "vector_mean(arr) takes exactly one argument")
        VectorMean(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "simhash64(tokens) takes exactly one argument")
        SimHash64(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash64"),
      new ExpressionInfo(classOf[MinHash64].getName, "minhash64"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "minhash64(hashes, n) takes exactly two arguments")
        require(children(1).foldable, "minhash64: n must be a literal")
        MinHash64(children.head, children(1).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((
      FunctionIdentifier("shingle_hash64"),
      new ExpressionInfo(classOf[ShingleHash64].getName, "shingle_hash64"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "shingle_hash64(tokens, k) takes exactly two arguments")
        require(children(1).foldable, "shingle_hash64: k must be a literal")
        ShingleHash64(children.head, children(1).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((
      FunctionIdentifier("ngram_repetition"),
      new ExpressionInfo(classOf[NgramRepetition].getName, "ngram_repetition"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "ngram_repetition(tokens, k) takes exactly two arguments")
        require(children(1).foldable, "ngram_repetition: k must be a literal")
        NgramRepetition(children.head, children(1).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((
      FunctionIdentifier("vocab_term_counts"),
      new ExpressionInfo(classOf[VocabTermCounts].getName, "vocab_term_counts"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2,
          "vocab_term_counts(tokens, vocab) takes exactly two arguments")
        VocabTermCounts(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("ngram_hash64"),
      new ExpressionInfo(classOf[NgramHash64].getName, "ngram_hash64"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "ngram_hash64(tokens, n) takes exactly two arguments")
        require(children(1).foldable, "ngram_hash64: n must be a literal")
        NgramHash64(children.head, children(1).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((
      FunctionIdentifier("trigram_hash_bundle"),
      new ExpressionInfo(classOf[TrigramHashBundle].getName, "trigram_hash_bundle"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1,
          "trigram_hash_bundle(tokens) takes exactly one argument")
        TrigramHashBundle(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("char_diversity_stats"),
      new ExpressionInfo(classOf[CharDiversityStats].getName, "char_diversity_stats"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1,
          "char_diversity_stats(text) takes exactly one argument")
        CharDiversityStats(children.head)
      }))
    // Spark's OWN runtime-filter bloom machinery, surfaced as callable
    // functions (they are registered internal-only upstream): the
    // partial-aggregated sketch build and the codegen'd probe that
    // BloomDedup's incremental-ingest recipe is built on.
    ext.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 3,
          "bloom_agg(value, estimatedItems, numBits) takes exactly three arguments")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2,
          "bloom_might_contain(bloom, value) takes exactly two arguments")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "nfc_normalize(str) takes exactly one argument")
        NfcNormalize(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("collect_min_k"),
      new ExpressionInfo(classOf[CollectMinK].getName, "collect_min_k"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "collect_min_k(e, k) takes exactly two arguments")
        require(children(1).foldable, "collect_min_k: k must be a literal")
        CollectMinK(children.head, children(1).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectOptimizerRule(_ => CollapseRedundantNormalize)
  }
}

/** Composed graft operators each normalize defensively (Normalizer,
  * CatalogEnricher's key normalization, validation predicates), so
  * pipelines produce `upper(trim(upper(trim(x))))` chains — per-row
  * string copies that survive Catalyst's own simplification. Both
  * functions are idempotent and `upper∘trim` commutes with itself, so
  * the inner applications fold away. Runs in the operatorOptimization
  * batch via injectOptimizerRule (fixed-point, so one case per shape
  * suffices).
  */
object CollapseRedundantNormalize extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Upper(Upper(c))                    => Upper(c)
      case StringTrim(StringTrim(c, None), None) => StringTrim(c, None)
      case Upper(StringTrim(Upper(c), None))  => Upper(StringTrim(c, None))
      case StringTrim(Upper(StringTrim(c, None)), None) =>
        Upper(StringTrim(c, None))
    }
}
