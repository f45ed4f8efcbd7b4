package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** Cross-source contamination matrix: for every pair of corpus
  * sources, how much k-shingle content they SHARE — the diagnostic
  * that tells you which crawls/dumps duplicate each other before you
  * decide mixing weights (two sources with high containment are one
  * source counted twice; cf. the overlap audits in Dodge et al. 2021
  * on C4 and the RefinedWeb/FineWeb dump-overlap analyses).
  *
  * Output, one row per unordered source pair (src_a < src_b):
  * shared distinct shingles, each side's distinct-shingle total, and
  * `containment` = shared / min(n_a, n_b) — the asymmetric-size-safe
  * overlap measure (Jaccard under-reads when one source dwarfs the
  * other).
  *
  * Scale design (100 TB corpus):
  *  - ONE shingle-keyed exchange carries everything: `collect_set`
  *    over sources partial-aggregates map-side, so each mapper emits
  *    at most one row per (shingle, ≤|sources| set) — reducer input
  *    is bounded by distinct-shingle count, not corpus token count;
  *  - the per-shingle source-pair grid is a narrow array HOF bounded
  *    by |sources|² (single digits squared), never a join — the
  *    [[Cooccur]] pattern with the roles flipped;
  *  - per-source totals branch off the SAME shingle aggregate
  *    (ReusedExchange) and are |sources| rows — broadcast by
  *    construction; the pair table is |sources|² rows.
  *  - at 100 TB the only heavy term is the shingle exchange, which
  *    exact cross-source dedup pays anyway; for a cheaper advisory
  *    pass, feed a [[Sampling]] draw — containment is ratio-based
  *    and survives uniform sampling approximately unbiased.
  */
object SourceOverlap {

  /** The one shingle-keyed exchange both exact forms fold off:
    * distinct sources per shingle.
    *
    * r12 optimization (guide §2.3 — shuffle keys, not payloads): the
    * exchange is keyed by the 64-bit `shingle_hash64` of each shingle,
    * never the joined string. Every downstream consumer (totals, pair
    * grid, HLL sketches) needs only equality/cardinality of shingles,
    * so an 8-byte key is exact while the corpus stays well under
    * ~2³² DISTINCT shingles (the birthday bound of a 64-bit space —
    * beyond it collisions bias the matrix/totals low; a corpus at
    * that scale should key by a 128-bit hash if exactness matters,
    * or read the HLL sketch forms whose error is explicit), and the
    * per-doc CPU drops out of
    * the interpreted transform/slice/concat_ws HOF chain into the
    * native one-pass counter. Measured sf0.1: the exact matrix fell
    * 1.32 s → 0.58 s (with the gate-side scan fan-out) at identical
    * output.
    */
  def shingleSets(docs: DataFrame, srcCol: String, textCol: Column,
      k: Int): DataFrame =
    docs
      .select(col(srcCol).as("src"),
        explode(call_function("shingle_hash64", TF.tokens(textCol), lit(k))).as("sh"))
      .groupBy("sh")
      .agg(sort_array(collect_set(col("src"))).as("srcs"))

  /** Shared-shingle matrix over `docs`. `k` is the shingle width.
    *
    * The [[shingleSets]] frame is persisted (memory-and-disk) for the
    * duration: its three consumers (totals, pair grid, and the final
    * join) prune different columns, so ReusedExchange does NOT unify
    * their subtrees and the un-materialized form re-runs the corpus
    * tokenize/shingle pass per branch (r10 plan audit: up to 5
    * shingle exchanges in the combined check harness). The cached
    * payload is the aggregated distinct-shingle frame — typically
    * 10-100x smaller than the token stream, and the thing a 100 TB
    * run would materialize rather than re-scan the corpus for. The
    * report itself is |sources|²-bounded, so it is collected eagerly
    * and the cache released before returning (the RobustStats
    * contract: no session-lifetime cache entries left behind).
    */
  def matrix(docs: DataFrame, srcCol: String, textCol: Column, k: Int): DataFrame = {
    val bySh = shingleSets(docs, srcCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try materialized(matrixFromSets(bySh))
    finally bySh.unpersist(blocking = false)
  }

  /** Eagerly materialize a report-sized (≤|sources|²-row) frame so a
    * bounded cache backing it can be released deterministically.
    */
  private[graft] def materialized(report: DataFrame): DataFrame = {
    val rows = report.collectAsList()
    report.sparkSession.createDataFrame(rows, report.schema)
  }

  /** [[matrix]] from a prebuilt [[shingleSets]] frame — callers that
    * also need the sketch side ([[sketchFromSets]]) hand both the SAME
    * frame so the corpus tokenize/shingle pass and its exchange are
    * planned once (ReusedExchange dedups the identical subtree).
    */
  def matrixFromSets(bySh: DataFrame): DataFrame = {
    // per-source distinct-shingle totals: |sources| rows off the same
    // aggregate (the exchange is reused; the re-agg is set-sized)
    val totals = bySh.select(explode(col("srcs")).as("src"))
      .groupBy("src").agg(count(lit(1)).as("n"))

    // narrow per-shingle pair grid, bounded by |sources|²
    val pairs = bySh.filter(size(col("srcs")) >= 2)
      .select(explode(flatten(
        transform(col("srcs"), (a, i) =>
          transform(slice(col("srcs"), i + lit(2), size(col("srcs")) - i - lit(1)),
            b => struct(a.as("src_a"), b.as("src_b")))))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("shared_shingles"))

    pairs
      .join(broadcast(totals.select(col("src").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(totals.select(col("src").as("src_b"), col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("shared_shingles"),
        col("n_a"), col("n_b"),
        (floor(col("shared_shingles").cast("double")
          / least(col("n_a"), col("n_b")) * 1e4 + lit(0.5)) / 1e4).as("containment"))
      .orderBy("src_a", "src_b")
  }

  /** Sketch-based overlap matrix — the SUB-EXCHANGE 100 TB form: each
    * source folds its shingle-hash set into ONE mergeable HLL sketch
    * (DataSketches `hll_sketch_agg`, partial-aggregated map-side), so
    * the wire carries |sources| KB-sized blobs instead of the
    * distinct-shingle exchange [[matrix]] pays. Pairwise shared
    * counts come from inclusion-exclusion over binary sketch unions
    * (`hll_union`), all on a |sources|²-row local frame. Estimates
    * inherit HLL error (rse ≈ 1.04/√2^lgK per sketch; the
    * inclusion-exclusion difference compounds it across three
    * estimates — small overlaps between large sources read noisy, the
    * standard sketch-intersection caveat). Output:
    * (src_a, src_b, est_a, est_b, est_shared) for every pair.
    *
    * Measured (r10 A/B, sf10, steady-state min): this standalone
    * form runs 0.78-0.81 s vs the exact [[matrix]]'s 7.0-7.2 s —
    * ~9x — because it never builds per-shingle source sets and its
    * exchange carries |sources| KB blobs. (r9's bench row read 11.3 s
    * because the GATE is a check harness that also runs the exact
    * matrix and, before r10, re-tokenized the corpus for the sketch
    * side; the harness now folds both off one shingle pass.)
    */
  def sketchMatrix(docs: DataFrame, srcCol: String, textCol: Column,
      k: Int, lgK: Int = 14): DataFrame =
    pairEstimates(docs
      .select(col(srcCol).as("src"),
        explode(call_function("shingle_hash64", TF.tokens(textCol), lit(k))).as("h"))
      .groupBy("src")
      .agg(hll_sketch_agg(col("h"), lit(lgK)).as("sk")))

  /** Per-source HLL sketches derived from a [[shingleSets]] frame a
    * caller ALREADY pays for (the check-harness case: the exact
    * matrix needs the shingle exchange regardless, so the sketch side
    * piggybacks it instead of running [[sketchMatrix]]'s second
    * corpus tokenize pass — r9 measured the standalone form slower
    * than the exact matrix at sf10, 11.3 vs 10.9 s, precisely because
    * both paid the same shingling CPU twice). HLL is
    * duplicate-insensitive, so sketching each source's DISTINCT
    * shingle set here estimates the same cardinalities the raw-stream
    * form does; only the element hash differs (xxhash64 over the
    * 64-bit shingle key vs shingle_hash64 of the token window), which
    * shifts estimates within the same rse class.
    */
  def sketchFromSets(bySh: DataFrame, lgK: Int = 14): DataFrame =
    pairEstimates(bySh
      .select(explode(col("srcs")).as("src"), xxhash64(col("sh")).as("h"))
      .groupBy("src")
      .agg(hll_sketch_agg(col("h"), lit(lgK)).as("sk")))

  /** Inclusion-exclusion pair grid over per-source (src, sk) sketch
    * rows — |sources| KB-blobs in, |sources|²-row local frame out.
    */
  private def pairEstimates(sketches: DataFrame): DataFrame = {
    val perSrc = sketches.select(col("src"), col("sk"),
      mergedEstimate(col("sk")).as("est_n"))
    val a = perSrc.select(col("src").as("src_a"), col("sk").as("sk_a"),
      col("est_n").as("est_a"))
    val b = perSrc.select(col("src").as("src_b"), col("sk").as("sk_b"),
      col("est_n").as("est_b"))
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
        (col("est_a") + col("est_b") -
          mergedEstimate(hll_union(col("sk_a"), col("sk_b")))).as("est_shared"))
  }

  /** An HLL sketch's estimate read through a union with itself: the
    * merged (composite) estimate over its registers alone, the same at
    * any partition count. A sketch built in one buffer keeps
    * DataSketches' HIP estimator, and one a union promoted from coupon
    * mode keeps an estimate that depends on the coupons' insertion
    * order; both differ from it within HLL error ("Approximation
    * Algorithms for Large Scale Data Analysis", PODS 2021).
    */
  private[operators] def mergedEstimate(sk: Column): Column =
    hll_sketch_estimate(hll_union(sk, sk)).cast("long")
}
