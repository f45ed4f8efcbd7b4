package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Readers

/** Incremental NEAR-duplicate ingest against a persisted LSH index —
  * the MinHash analog of [[graft.operators.BloomDedup]]'s exact form:
  * a continuous crawl must screen each incoming batch against the
  * whole historical corpus WITHOUT re-shingling history or running a
  * corpus-wide self-join per batch.
  *
  * The persisted index is two tables:
  *  - `bands/`: (band_id, band_hash, doc_id), clustered by band key
  *    at write (every probe touches all band_ids, so directory
  *    partitioning buys nothing — clustering within files does, via
  *    row-group min/max); oversized buckets (degenerate bands) are
  *    dropped AT BUILD TIME so no batch can ever join against a hot
  *    bucket — and an all-degenerate corpus still writes a readable
  *    empty table;
  *  - `sigs/`: (doc_id, sh_hashes) — the shingle-hash sets, fetched
  *    doc-keyed ONLY for candidate ids during verification.
  *
  * Per batch: signatures are computed narrow (the
  * [[MinHashLSH.signatures]] one-pass native expressions), candidate
  * (incoming, historical) pairs come from an equality join of the
  * batch's ≤ b rows/doc band keys against the stored buckets, and
  * exact Jaccard over shingle sets verifies them — LSH misses are
  * accepted at the family's recall (the standard trade; the
  * GroundTruthSpec pins recall on planted near-dups), LSH false
  * positives are killed by the verify, so no novel doc is ever
  * dropped by hash luck alone. The batch's own index rows are
  * returned for an idempotent append, making the store incremental.
  *
  * `screen` materializes the batch signature frame once (three
  * consumers: candidate build, verify, delta return) as a lazy local
  * checkpoint, so it leaves no cache entry behind.
  */
object LshIngest {

  /** One batch's index rows: (bands, sigs). */
  def indexRows(docs: DataFrame, idCol: String, textCol: String,
                shingleK: Int = 3, numHashes: Int = 64,
                numBands: Int = 16): (DataFrame, DataFrame) = {
    val sigs = MinHashLSH.signatures(docs, idCol, textCol, shingleK, numHashes)
    (MinHashLSH.bands(sigs, numBands, numHashes / numBands), sigs)
  }

  /** Build the persisted index from a corpus. Oversized buckets
    * (> maxBucket members — degenerate bands) are dropped here, once,
    * so every future probe is bounded; `maxBucket` must match between
    * build and probe semantics expectations.
    */
  def writeIndex(corpus: DataFrame, idCol: String, textCol: String,
                 path: String, shingleK: Int = 3, numHashes: Int = 64,
                 numBands: Int = 16, maxBucket: Int = 64): Unit = {
    val (bands, sigs) = indexRows(corpus, idCol, textCol, shingleK,
      numHashes, numBands)
    val keepable = bands.groupBy("band_id", "band_hash")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket)
      .select("band_id", "band_hash")
    bands.join(keepable, Seq("band_id", "band_hash"), "left_semi")
      .sortWithinPartitions("band_id", "band_hash")
      .write.mode("overwrite").parquet(s"$path/bands")
    sigs.select(col("doc_id"), col("sh_hashes"))
      .write.mode("overwrite").parquet(s"$path/sigs")
  }

  /** Build the persisted index ONCE per distinct corpus: a cheap
    * corpus fingerprint (row count + char total, the bpe-fixture
    * keying) is stamped beside the index, and a matching stamp skips
    * the rebuild. This is the staging contract the bench relies on —
    * the index build is the amortized-away cost the operator exists
    * to avoid per batch, so the TIMED unit must be screen+delta only
    * (r10 mismeasured exactly this: every bench run re-shingled and
    * re-wrote the full-corpus index, 18.2 s at sf10 for a screen that
    * costs a fraction of that). Returns true when a build ran.
    */
  def ensureIndex(corpus: DataFrame, idCol: String, textCol: String,
                  path: String, shingleK: Int = 3, numHashes: Int = 64,
                  numBands: Int = 16, maxBucket: Int = 64,
                  sourceFp: Option[String] = None): Boolean = {
    // the caller's SOURCE stamp (Tables.sourceStamp) keeps the hot
    // path from scanning the corpus (r11 advice: the old hit path
    // re-ran count+sum(length) per bench run)
    val fp = graft.Tables.textFingerprint(corpus, textCol, sourceFp,
      s"k${shingleK}_h${numHashes}_b${numBands}_m$maxBucket")
    graft.Tables.ensureStaged(path, fp) {
      writeIndex(corpus, idCol, textCol, path, shingleK, numHashes,
        numBands, maxBucket)
    }
  }

  /** Screen `incoming` against the stored index: returns
    * (novel, dupVerdicts, batchBands, batchSigs) — novel rows pass
    * through with all input columns; dupVerdicts is
    * (doc_id, matched_id, jaccard) for flagged incoming docs; the
    * index rows are the batch's delta for the append that makes the
    * next batch see this one.
    *
    * Hot-bucket bound: `writeIndex` prunes degenerate buckets once at
    * build time, but the incremental workflow appends each batch's
    * band rows verbatim — over many batches a bucket can REGROW past
    * `maxBucket` (a near-constant band across a template-heavy crawl).
    * The probe therefore re-applies the bound on the CURRENT stored
    * index (one map-side-combined count over the band keys — ~b rows
    * per indexed doc in, |buckets| rows out) before the candidate
    * join, so no probe ever fans out against a regrown bucket; the
    * same `maxBucket` must be used at build and probe.
    */
  def screen(spark: SparkSession, incoming: DataFrame, idCol: String,
             textCol: String, indexPath: String, threshold: Double = 0.5,
             shingleK: Int = 3, numHashes: Int = 64, numBands: Int = 16,
             maxBucket: Int = 64)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (batchBands, batchSigsRaw) = indexRows(incoming, idCol, textCol,
      shingleK, numHashes, numBands)
    val batchSigs = batchSigsRaw.localCheckpoint(eager = false)
    val storedBandsRaw = Readers.parquet(spark, s"$indexPath/bands")
    // one pass, one exchange: the window count applies the bucket
    // bound on the index's CURRENT state (counting only — a
    // degenerate bucket sorts and spills, it never materializes a
    // list), and the window's hash(band_id, band_hash) output
    // partitioning is exactly the candidate join's requirement, so
    // the stored side is never exchanged again (the r11 rework: the
    // groupBy-count + left_semi form scanned and shuffled the index
    // twice — candidates stage 4.1 s vs the full-gate budget at sf10)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band_id", "band_hash")
    val storedBands = storedBandsRaw
      .withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n") <= maxBucket)
    val storedSigs = Readers.parquet(spark, s"$indexPath/sigs")
    val candidates = batchBands
      .join(storedBands
          .select(col("band_id"), col("band_hash"), col("doc_id").as("hist_id")),
        Seq("band_id", "band_hash"))
      .select(col("doc_id"), col("hist_id")).distinct()
    val verified = candidates
      .join(batchSigs.select(col("doc_id"), col("sh_hashes").as("sh_in")), Seq("doc_id"))
      .join(storedSigs.select(col("doc_id").as("hist_id"),
        col("sh_hashes").as("sh_hist")), Seq("hist_id"))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_in"), col("sh_hist"))).cast("double") /
          size(array_union(col("sh_in"), col("sh_hist"))), 4))
      .filter(col("jaccard") >= threshold)
    val dupVerdicts = verified.groupBy("doc_id")
      .agg(max(struct(col("jaccard"), col("hist_id"))).as("best"))
      .select(col("doc_id"), col("best.hist_id").as("matched_id"),
        col("best.jaccard").as("jaccard"))
    val novel = incoming.join(
      dupVerdicts.select(col("doc_id").as(idCol)), Seq(idCol), "left_anti")
    (novel, dupVerdicts, batchBands, batchSigs)
  }
}
