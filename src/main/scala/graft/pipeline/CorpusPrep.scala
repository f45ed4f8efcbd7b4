package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.Spread
import graft.dedup.MinHashLSH
import graft.operators.Deduplicator
import graft.sources.Readers

/** Training-corpus preparation: the LLM-data analogue of the
  * medallion silver chain. One declarative composition:
  *
  *   clean (URL/email redaction, whitespace collapse)
  *   → per-doc stats (quality score, language id, token count)
  *   → threshold gates (min quality, allowed languages, min tokens)
  *   → exact dedup on cleaned content (hash groupBy, keep lowest id)
  *   → [full variant] MinHash-LSH near-dup removal (keep lowest id
  *     of each verified near-dup pair)
  *
  * Every stage before near-dup is a narrow codegen'd expression —
  * at 100 TB the gates run inside the scan, exact dedup shuffles an
  * 8-byte hash, and LSH shuffles band signatures. Nothing here is
  * more than one pass + the dedup shuffles.
  */
object CorpusPrep {

  /** clean + per-doc stats, no materialization decision yet. */
  private def scoredFrame(docs: DataFrame, idCol: String, textCol: String,
                          stopwords: Seq[String],
                          langMarkers: Seq[(String, Seq[String])]): DataFrame = {
    val raw = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
    val cleaned = Spread.ifNarrow(raw)
      .select(col("doc_id"), TF.cleanText(col("__text")).as("clean"))
      // materialization barrier: without it CollapseProject inlines the
      // 3-regex clean expression into EVERY stat column below (quality,
      // lang, tokens each re-clean the text). A within-partition sort
      // is a no-shuffle pipeline break that forces `clean` to be
      // computed once. ~4x fewer regex passes.
      .sortWithinPartitions("doc_id")
    cleaned.select(
      col("doc_id"), col("clean"),
      TF.qualityScore(col("clean"), stopwords).as("quality"),
      TF.langId(col("clean"), langMarkers).as("lang_pred"),
      TF.tokenCount(col("clean")).as("n_tokens"))
  }

  /** gates + exact dedup over a MATERIALIZED scored frame. */
  private def gateAndDedup(scored: DataFrame, minQuality: Double,
                           allowedLangs: Seq[String], minTokens: Int): DataFrame = {
    val gated = scored
      .filter(col("quality") >= minQuality)
      .filter(col("lang_pred").isin(allowedLangs: _*))
      .filter(col("n_tokens") >= minTokens)
    Deduplicator.exact(gated, "doc_id", "clean")
      .select("doc_id", "quality", "lang_pred", "n_tokens")
  }

  /** Deterministic, SQL-expressible portion (oracle-checked). Returns
    * the surviving corpus with its stats.
    */
  def prep(docs: DataFrame, idCol: String, textCol: String,
           stopwords: Seq[String], langMarkers: Seq[(String, Seq[String])],
           minQuality: Double, allowedLangs: Seq[String],
           minTokens: Int): DataFrame = {
    val scored = scoredFrame(docs, idCol, textCol, stopwords, langMarkers)
      // materialized: (a) the gate predicates would otherwise PUSH
      // DOWN past the repartition and re-inline the full clean+stat
      // expressions into the (single-task) scan stage; against a
      // materialized relation they evaluate on stored columns. (b)
      // exact dedup consumes this frame twice (group + semi-join), so
      // the pipeline runs once, not three times. A lazy local
      // checkpoint leaves no cache entry; over the spread's exchange
      // it runs that map stage here. Local checkpoints die with their
      // executor, so [[prepStaged]] stays the 100 TB form.
      .localCheckpoint(eager = false)
    gateAndDedup(scored, minQuality, allowedLangs, minTokens)
  }

  /** The 100 TB form of [[prep]]: the scored corpus is STAGED TO
    * STORAGE (write barrier) instead of executor blocks — a checkpoint
    * of the full scored corpus doesn't fit executor storage at scale,
    * and it dies with its executor and with the job;
    * a parquet stage is durable, spillless, column-pruned on re-read,
    * and doubles as the pipeline's checkpoint for downstream jobs.
    * Same semantics (oracle-checked against the same SQL as prep).
    */
  def prepStaged(docs: DataFrame, idCol: String, textCol: String,
                 stopwords: Seq[String], langMarkers: Seq[(String, Seq[String])],
                 minQuality: Double, allowedLangs: Seq[String],
                 minTokens: Int, stagePath: String): DataFrame = {
    scoredFrame(docs, idCol, textCol, stopwords, langMarkers)
      .write.mode("overwrite").parquet(stagePath)
    val scored = Readers.parquet(docs.sparkSession, stagePath)
    gateAndDedup(scored, minQuality, allowedLangs, minTokens)
  }

  /** Deterministic train/val/test split: bucket = xxhash64(id, salt)
    * mod 100, ranges assigned by cumulative weights. Hash-based (not
    * id-mod) so clustered id spaces still split uniformly; salted so
    * independent experiments draw independent splits; pure narrow
    * expression, no shuffle, stable across runs and engines.
    */
  def trainSplit(df: DataFrame, idCol: String,
                 weights: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 10, "test" -> 10),
                 salt: Int = 0,
                 bucket: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(weights.map(_._2).sum == 100, "weights must sum to 100")
    val bkt = bucket.getOrElse(pmod(xxhash64(col(idCol), lit(salt)), lit(100L)))
    val (_, splitCol) = weights.foldLeft((0, lit(null).cast("string"))) {
      case ((acc, e), (name, w)) =>
        (acc + w, when(bkt >= acc && bkt < acc + w, lit(name)).otherwise(e))
    }
    df.withColumn("split", splitCol)
  }

  /** Cross-engine-verifiable split bucket: the first 8 hex chars of
    * md5(id '#' salt) as an int, mod 100. xxhash64 (the default) is
    * the production path — one 64-bit mix, no string digest — but no
    * other engine reproduces Spark's seed, so the correctness gate
    * uses this md5 form, which DuckDB computes bit-identically as
    * ('0x' || substr(md5(...), 1, 8))::BIGINT % 100.
    */
  def portableBucket(idCol: String, salt: Int = 0): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(concat(col(idCol).cast("string"), lit("#" + salt))), 1, 8),
      16, 10).cast("long"), lit(100L))

  /** Full pipeline: prep + near-dup removal. For each verified
    * near-dup pair above `jaccardThreshold`, the higher id drops.
    * Rows-only in the gate (LSH isn't SQL-expressible).
    */
  def prepFull(docs: DataFrame, idCol: String, textCol: String,
               stopwords: Seq[String], langMarkers: Seq[(String, Seq[String])],
               minQuality: Double = 0.3, allowedLangs: Seq[String] = Seq("en"),
               minTokens: Int = 10, jaccardThreshold: Double = 0.8): DataFrame = {
    val kept = prep(docs, idCol, textCol, stopwords, langMarkers,
      minQuality, allowedLangs, minTokens)
    val survivors = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
    val sigs = MinHashLSH.signatures(survivors, "doc_id", "text")
    val pairs = MinHashLSH.candidatePairs(MinHashLSH.bands(sigs, 16, 4))
    val dupIds = MinHashLSH.verifiedPairs(sigs, pairs, jaccardThreshold)
      .select(col("id_b").as("doc_id")).distinct()
    kept.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** Cluster-canonical near-dup removal. [[prepFull]] drops `id_b` of
    * each verified PAIR — a chain A~B, B~C (A≁C) keeps both A and C.
    * Here pairs are closed into connected components first and only
    * each cluster's minimum id survives — the policy consistent with
    * split-by-cluster's leakage story (two docs that share a near-dup
    * neighbor must not both reach the corpus, or a train/test split by
    * doc can still leak the shared content). Pairs come from exact
    * n-gram Jaccard (SQL-expressible), so unlike the LSH variant the
    * WHOLE pipeline is oracle-checked, recursive closure included.
    */
  /** The 100 TB near-dup recipe: [[prepFull]]'s LSH candidate
    * generation composed with [[prepClustered]]'s cluster-canonical
    * keep policy. MinHash-LSH proposes candidate pairs (band-bucket
    * shuffle only — never all-pairs), exact Jaccard over shingle-hash
    * sets verifies them, the verified pairs close into connected
    * components (alternating-star, O(log² n) rounds), and only each
    * cluster's minimum id survives. Rows-only in the gate (LSH isn't
    * SQL-expressible); GroundTruthSpec pins it to the brute-force
    * cluster minima at the same threshold.
    */
  def prepFullClustered(docs: DataFrame, idCol: String, textCol: String,
                        stopwords: Seq[String], langMarkers: Seq[(String, Seq[String])],
                        minQuality: Double = 0.3, allowedLangs: Seq[String] = Seq("en"),
                        minTokens: Int = 10, jaccardThreshold: Double = 0.8,
                        numHashes: Int = 64, numBands: Int = 16): DataFrame = {
    val kept = prep(docs, idCol, textCol, stopwords, langMarkers,
      minQuality, allowedLangs, minTokens)
    val survivors = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
    val sigs = MinHashLSH.signatures(survivors, "doc_id", "text",
      numHashes = numHashes)
    val pairs = MinHashLSH.candidatePairs(
      MinHashLSH.bands(sigs, numBands, numHashes / numBands))
    val verified = MinHashLSH.verifiedPairs(sigs, pairs, jaccardThreshold)
    val comp = graft.dedup.Components.clusters(survivors, "doc_id", verified,
      "id_a", "id_b")
    kept.join(comp.filter(col("doc_id") === col("component")).select("doc_id"),
      Seq("doc_id"), "left_semi")
  }

  def prepClustered(docs: DataFrame, idCol: String, textCol: String,
                    stopwords: Seq[String], langMarkers: Seq[(String, Seq[String])],
                    minQuality: Double = 0.3, allowedLangs: Seq[String] = Seq("en"),
                    minTokens: Int = 10, jaccardThreshold: Double = 0.5,
                    shingleK: Int = 3, maxDf: Int = 20): DataFrame = {
    val kept = prep(docs, idCol, textCol, stopwords, langMarkers,
      minQuality, allowedLangs, minTokens)
    val survivors = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
    val pairs = graft.dedup.NgramJaccard.pairs(survivors, "doc_id", "text",
      shingleK, jaccardThreshold, maxDf)
    val comp = graft.dedup.Components.clusters(survivors, "doc_id", pairs,
      "id_a", "id_b")
    kept.join(comp.filter(col("doc_id") === col("component")).select("doc_id"),
      Seq("doc_id"), "left_semi")
  }
}
