package graft.dedup

import graft.ann.Ivf
import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup — semantic (embedding-space) deduplication via cluster-
  * scoped pairwise cosine (Abbas et al. 2023, "SemDeDup: Data-efficient
  * learning at web-scale through semantic deduplication",
  * arXiv:2303.09540). The published recipe for deduplicating LAION/
  * web-scale corpora by MEANING rather than surface form:
  *
  *   1. k-means the embedding corpus into C cells (deterministic
  *      Lloyd — reuses [[graft.ann.Ivf.centroids]], the same coarse
  *      quantizer the IVF ANN index uses);
  *   2. ONLY within each cell, compare all pairs by cosine;
  *   3. for every pair above `eps`, keep one document and drop the
  *      other.
  *
  * Step 2 is what makes the quadratic affordable at 100 TB: the
  * all-pairs grid is cluster-diagonal, so cost is Σ|cell|² ≈ n²/C —
  * C grows with the corpus ([[autoCells]]; the paper uses 50k
  * clusters for 100M+ embeddings) so each cell's block stays small
  * regardless of corpus size. In Spark terms: the centroid set is
  * trained on the driver ([[graft.ann.Ivf.centroids]], C·dim
  * doubles) and rides in the assignment plan; the self-join keyed on
  * cluster_id is a hash join of the checkpointed index against itself —
  * broadcast, with no exchange, while the index is under the
  * broadcast threshold (the gate and benchmark sizes), one
  * cluster-keyed shuffle per side above it — and the pair grid never
  * materializes beyond each cell's join block. Cross-cell near-dups
  * are missed by construction — that is SemDeDup's documented recall
  * trade, not an implementation gap (the MinHash-LSH family covers
  * surface dups; this operator targets semantic ones).
  *
  * Keep policy: within a dup pair the SMALLER `vec_id` survives —
  * remove x iff ∃ y in the same cell with cos(x,y) ≥ eps and
  * y.id < x.id. The paper orders by distance-to-centroid (keeping
  * the outlier); id-priority is the deterministic, join-expressible
  * form of the same "keep exactly one per neighborhood" rule — the
  * greedy min-id sweep (remove anything dominated by a smaller
  * surviving-or-not id) matches a left-semi join, needs no
  * iteration, and is reproducible across engines and retries.
  * GroundTruthSpec pins the semantics: planted scaled duplicates
  * (cos = 1, so co-clustered by construction) lose exactly their
  * higher ids; well-separated vectors survive untouched.
  */
object SemDeDup {

  /** The cell count the paper's C ∝ n rule implies for this runtime
    * shape. Inline cost is `n·c` assignment cosines (ONCE — the
    * index is checkpointed below; Lloyd trains on a capped sample) plus
    * `n²/c` pairwise cosines; the sum is minimized at c = √n, where
    * BOTH terms are O(n^1.5) — a fixed c turns the pairwise term
    * quadratic (the r9 builder bench measured c = 8 at 200k
    * vectors: 114 s; auto-scaled + cached + float-width arrays:
    * ~13 s). Clamped to [8, 4096]: below 8 the gate corpus
    * degenerates, above 4096 the driver-held centroid table that
    * every assignment task carries stops being "tiny". On a real
    * 100 TB corpus the assignment is paid once at WRITE time
    * ([[graft.ann.Ivf.writeIndex]]) and only n²/c recurs, so there
    * you push c higher still (the paper uses 50k cells for 100M+).
    */
  def autoCells(n: Long): Int =
    math.max(8, math.min(4096, math.sqrt(n.toDouble).round.toInt))

  /** Per-vector verdict: (vec_id, cluster_id, removed). `emb` needs
    * (vec_id, embedding); `eps` is the cosine threshold (the paper
    * sweeps 0.7–0.95). The cell count is auto-scaled to the
    * corpus (counts once: over a parquet file that can be a metadata
    * read, but over a checkpointed or computed frame, like the
    * embedding benchmark's, it is a scan of two jobs) and
    * centroid TRAINING capped at 256·c hash-sampled rows (the FAISS
    * training convention: Lloyd converges on a sample; only the
    * one-pass assignment needs the full corpus). The sample draw is
    * a deterministic hash filter — one narrow pass, no sort.
    */
  def verdictsAuto(emb: DataFrame, eps: Double, iters: Int = 2): DataFrame = {
    val n = emb.count()
    val c = autoCells(n)
    val cap = 256L * c
    val train =
      if (n > cap) emb.filter(pmod(xxhash64(col("vec_id")), lit(n / cap + 1)) === 0)
      else emb
    verdictsWith(emb, Ivf.centroids(train, c, iters), eps)
  }

  private def verdictsWith(emb: DataFrame, cents: DataFrame, eps: Double): DataFrame = {
    // materialize the assignment once: the plan below reads idx THREE
    // times (both self-join sides + the verdict select), and the n·c
    // assignment pass is the second-biggest cost after the pair grid
    // (builder A/B at 200k vectors: auto-C alone 17.1 s; + a cache
    // here and float-width arrays ~12.4 s). A lazy local checkpoint
    // starts no job here (no exchange) and leaves no cache entry.
    val idx = Ivf.index(emb, cents).localCheckpoint(eager = false) // (vec_id, cluster_id, emb)
    // probe side renames ALL columns (incl. the join key): a
    // self-join keyed on df("c") === df2("c") makes Spark detect and
    // rewrite a trivially-true predicate — correct, but the rename
    // keeps the plan's intent explicit and the logs quiet
    val probe = idx.select(col("cluster_id").as("dup_cluster"),
      col("vec_id").as("dup_id"), col("emb").as("dup_emb"))
    // x is removed iff some SMALLER-id y in the same cell sits above
    // eps: a left-semi existence test, so the pair grid is consumed
    // inside the join block and never shuffled onward
    val removed = idx.join(probe,
        col("cluster_id") === col("dup_cluster") &&
          col("dup_id") < col("vec_id") &&
          VectorFunctions.cosine(col("emb"), col("dup_emb")) >= lit(eps),
        "left_semi")
      .select(col("vec_id"))
    idx.join(removed.withColumn("removed", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        coalesce(col("removed"), lit(false)).as("removed"))
  }
}
