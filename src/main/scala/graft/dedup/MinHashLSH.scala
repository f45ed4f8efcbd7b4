package graft.dedup

import graft.functions.TextFunctions
import graft.Spread
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection.
  *
  * Pipeline: word-k-shingles → n minhash values (one per hash
  * function) → b bands of r rows → hash each band → self-join on
  * (band_id, band_hash) → candidate pairs → exact Jaccard
  * verification on the shingle sets.
  *
  * Scale design (the whole point of LSH at 100 TB):
  *  - Signature computation is narrow and codegen'd: nested
  *    higher-order `transform` over `xxhash64(shingle, seed)` — the
  *    hash family is "xxhash64 of (value, seed)", no random
  *    parameters to broadcast.
  *  - The only shuffle is on (band_id, band_hash) — b rows per doc,
  *    fixed width. Never a full cross-join; candidate generation is
  *    equality-join colocated by bucket.
  *  - Bucket-skew guard: buckets larger than `maxBucket` are dropped
  *    (a bucket that huge means a degenerate band — at web scale a
  *    single hot bucket would otherwise produce O(n²) pairs on one
  *    task). AQE skew-join handles moderate skew below the cap.
  */
object MinHashLSH {

  /** doc_id, sh_hashes (set of 64-bit shingle hashes), sig
    * (array<long> of length numHashes).
    *
    * Fully NARROW — zero shuffle: each shingle string is hashed once
    * (xxhash64), deduped in-row (array_distinct), and the n-hash
    * minhash family comes from the native one-pass `minhash64`
    * expression (graft.functions.MinHash64, registered by
    * GraftExtensions) — each element hashed once, n running minima in
    * a tight codegen'd loop. The r1 shape (explode → groupBy with n
    * separate min(xxhash64(h, s)) aggregates + collect_set) produced
    * the same bits but paid a full shuffle plus n expression-tree
    * evaluations per shingle; it was the slowest query in the bench.
    */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
                 shingleK: Int = 3, numHashes: Int = 64): DataFrame = {
    // repartition the RAW text, then shingle: the expensive per-doc
    // expression must run after the exchange, or it executes inside
    // the (possibly single-task) scan stage and the repartition only
    // spreads already-computed arrays
    val raw = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
    Spread.ifNarrow(raw)
      // one native pass tokens → distinct shingle hashes (same bits as
      // array_distinct(transform(shingles, xxhash64)) — see ShingleHash64)
      .select(col("doc_id"), call_function("shingle_hash64",
        TextFunctions.tokens(col("__text")), lit(shingleK)).as("sh_hashes"))
      // no-shuffle fence: without it CollapseProject would merge the
      // projections and the shingle pass would be computed twice (once
      // for sh_hashes, once inside minhash64's argument)
      .sortWithinPartitions("doc_id")
      .select(col("doc_id"), col("sh_hashes"),
        call_function("minhash64", col("sh_hashes"), lit(numHashes)).as("sig"))
  }

  /** Explode signatures into (band_id, band_hash, doc_id). */
  def bands(sigs: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(numBands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
        .as(Seq("band_id", "band_hash")))

  /** Candidate pairs (a < b) from shared LSH buckets.
    *
    * One groupBy on (band_id, band_hash) collects each bucket's doc
    * ids (capped at maxBucket+1 — a too-big bucket is detected without
    * materializing it); in-bucket pairs are generated by a nested
    * array transform, bounded by maxBucket². This replaces the
    * window-count guard + self-join + per-band dedup (three wide
    * stages, one of them a sort) with a single keyed aggregation
    * followed by narrow ops — the shuffle key stays the compact band
    * signature either way.
    */
  def candidatePairs(bandsDf: DataFrame, maxBucket: Int = 64): DataFrame = {
    // Two-phase bucket harvest. Phase 1 is a pure codegen'd COUNT
    // keyed by bucket — almost every bucket is a singleton, and a
    // collect-style object aggregation over millions of mostly-
    // singleton groups trips Spark's sort-based fallback
    // (objectHashAggregate.sortBased.fallbackThreshold = 128 distinct
    // keys), which SORTED the full 8M-row band frame — measured 32 s
    // of a 65 s query at sf10. Counting first keeps the wide pass in
    // whole-stage codegen; the 2..maxBucket filter also implements
    // the oversized-bucket drop exactly (we know true sizes).
    val hot = bandsDf.groupBy("band_id", "band_hash")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n").between(2, maxBucket))
      .select("band_id", "band_hash")
    // Phase 2 collects ONLY the surviving buckets' ids — a few
    // thousand rows, so the object aggregation never falls back; the
    // native collect_min_k keeps each buffer bounded at maxBucket+1
    // regardless (defense-in-depth) and returns ids already sorted.
    // No broadcast hint on `hot`: at dup-heavy 100 TB scale it can
    // be large, and the shuffled form reuses phase 1's band-keyed
    // exchange (AQE still converts to broadcast when it measures
    // small, as it does at the gate tiers).
    val buckets = bandsDf.join(hot, Seq("band_id", "band_hash"), "left_semi")
      .groupBy("band_id", "band_hash")
      .agg(call_function("collect_min_k", col("doc_id"), lit(maxBucket + 1)).as("ids"))
    buckets
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
           transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))"""))
        .as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** Exact Jaccard over shingle-hash sets for verified pairs (64-bit
    * hash collisions are negligible next to shingling noise, and long
    * arrays intersect far cheaper than string arrays).
    */
  def verifiedPairs(sigs: DataFrame, pairs: DataFrame, threshold: Double): DataFrame = {
    val a = sigs.select(col("doc_id").as("id_a"), col("sh_hashes").as("sh_a"))
    val b = sigs.select(col("doc_id").as("id_b"), col("sh_hashes").as("sh_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", round(col("inter") / col("uni"), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Per-document near-dup summary: candidate count, best match and
    * its Jaccard. Always one row per input document (so downstream
    * checks see a stable, non-empty result even on dup-free corpora).
    */
  def nearDupSummary(docs: DataFrame, idCol: String, textCol: String,
                     shingleK: Int = 3, numHashes: Int = 64,
                     numBands: Int = 16, threshold: Double = 0.5): DataFrame = {
    val rowsPerBand = numHashes / numBands
    // read by the bands, both verify joins and the per-doc frame
    val sigs = signatures(docs, idCol, textCol, shingleK, numHashes)
      .localCheckpoint(eager = false)
    val pairs = candidatePairs(bands(sigs, numBands, rowsPerBand))
    val verified = verifiedPairs(sigs, pairs, threshold = 0.0)
    val sym = verified.select(col("id_a").as("doc_id"), col("id_b").as("other_id"), col("jaccard"))
      .union(verified.select(col("id_b").as("doc_id"), col("id_a").as("other_id"), col("jaccard")))
    val best = sym.groupBy("doc_id").agg(
      count(lit(1)).as("n_candidates"),
      max(struct(col("jaccard"), col("other_id"))).as("best"))
      .select(col("doc_id"), col("n_candidates"),
        col("best.other_id").as("best_match_id"),
        col("best.jaccard").as("best_jaccard"),
        (col("best.jaccard") >= threshold).as("is_near_dup"))
    sigs.select("doc_id").join(best, Seq("doc_id"), "left")
      .na.fill(Map("n_candidates" -> 0L))
      .na.fill(Map("best_jaccard" -> -1.0))
      .withColumn("is_near_dup", coalesce(col("is_near_dup"), lit(false)))
  }
}
