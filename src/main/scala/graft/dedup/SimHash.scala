package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection (64-bit).
  *
  * Charikar's scheme: every token votes ±1 on each of 64 bit
  * positions according to its hash; the sign of each position's vote
  * total becomes that fingerprint bit. Near-dups = small Hamming
  * distance between fingerprints.
  *
  * Candidate generation uses the standard chunk trick: split the
  * 64-bit fingerprint into 4 × 16-bit chunks; any pair within
  * Hamming distance 3 must agree on ≥1 chunk (pigeonhole), so an
  * equality join per chunk finds all such pairs — no cross-join, and
  * the shuffle key is the compact (chunk_id, chunk_value).
  *
  * The fingerprint itself is a narrow codegen'd expression (nested
  * higher-order functions over xxhash64); computing it over 100 TB is
  * a pure map stage.
  */
object SimHash {

  /** 64-bit simhash of whitespace tokens via the native one-pass
    * `simhash64` expression (graft.functions.SimHash64, registered by
    * GraftExtensions): bit-identical to the higher-order-function
    * composition ExtensionsSpec checks it against, but hashes each
    * token once instead of 64 times.
    */
  def simhash(textCol: String): Column =
    call_function("simhash64", graft.functions.TextFunctions.tokens(col(textCol)))

  /** (doc_id, simhash, chunk_id, chunk_value) — 4 rows per doc. */
  def chunked(fps: DataFrame): DataFrame =
    fps.select(col("doc_id"), col("simhash"),
      posexplode(expr("transform(sequence(0,3), c -> (simhash >> (c*16)) & 65535)"))
        .as(Seq("chunk_id", "chunk_value")))

  /** Candidate pairs agreeing on ≥1 chunk, verified by Hamming
    * distance ≤ maxHamming (`bit_count(a XOR b)` — codegen'd).
    * Oversized buckets are dropped: a degenerate chunk value shared
    * by everything would otherwise emit O(n²) pairs on one task.
    */
  /** (doc_id, simhash) per document. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), simhash(textCol).as("simhash"))

  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 256): DataFrame =
    nearDupPairsFromFps(fingerprints(docs, idCol, textCol), maxHamming, maxBucket)

  /** Pair generation from precomputed fingerprints — lets callers that
    * also need `fps` (e.g. summary) compute the heavy per-doc pass
    * exactly once.
    */
  def nearDupPairsFromFps(fps: DataFrame,
                          maxHamming: Int = 3, maxBucket: Int = 256): DataFrame = {
    // two-phase bucket harvest (see MinHashLSH.candidatePairs): a
    // codegen'd COUNT first — chunk buckets are overwhelmingly
    // singletons, and a collect-style object aggregation over
    // millions of tiny groups trips the sort-based fallback
    // (fallbackThreshold) and sorts the whole chunk frame — then a
    // collect over ONLY the 2..maxBucket survivors, which also
    // implements the oversized-bucket drop exactly
    val ch = chunked(fps)
    val hot = ch.groupBy("chunk_id", "chunk_value")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n").between(2, maxBucket))
      .select("chunk_id", "chunk_value")
    val buckets = ch.join(hot, Seq("chunk_id", "chunk_value"), "left_semi")
      .groupBy("chunk_id", "chunk_value")
      // collect_min_k: bounded buffer (defense-in-depth) + sorted out
      .agg(call_function("collect_min_k",
        struct(col("doc_id"), col("simhash")), lit(maxBucket + 1)).as("members"))
    val pairs = buckets
      .select(explode(expr(
        """flatten(transform(members, (x, i) ->
           transform(slice(members, i + 2, size(members)),
             y -> struct(x.doc_id AS id_a, y.doc_id AS id_b,
                         x.simhash AS sh_a, y.simhash AS sh_b))))"""))
        .as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.sh_a"), col("p.sh_b"))
      .distinct()
    pairs.withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Per-document summary (one row per doc; non-empty by construction
    * even on dup-free corpora).
    */
  def summary(docs: DataFrame, idCol: String, textCol: String,
              maxHamming: Int = 3): DataFrame = {
    // fps materialized once: consumed by pair generation AND the final
    // left join; both sym union branches project one pairs subtree, so
    // they share its exchanges
    val fps = fingerprints(docs, idCol, textCol).localCheckpoint(eager = false)
    val pairs = nearDupPairsFromFps(fps, maxHamming)
    val sym = pairs.select(col("id_a").as("doc_id"), col("id_b").as("other_id"), col("hamming"))
      .union(pairs.select(col("id_b").as("doc_id"), col("id_a").as("other_id"), col("hamming")))
    val best = sym.groupBy("doc_id").agg(
      count(lit(1)).as("n_near_dups"),
      min(struct(col("hamming"), col("other_id"))).as("best"))
      .select(col("doc_id"), col("n_near_dups"),
        col("best.other_id").as("nearest_id"), col("best.hamming").as("min_hamming"))
    fps.join(best, Seq("doc_id"), "left")
      .na.fill(Map("n_near_dups" -> 0L, "min_hamming" -> 65L))
  }
}
