package graft.ann

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-space outlier pruning — the cluster-then-prune cleaning
  * pass web-scale multimodal/corpus pipelines run before training
  * (DataComp, LAION curation): vectors far from their own k-means
  * centroid are noise/OOD candidates and are flagged against a
  * PER-CELL similarity percentile, not a global constant (cells have
  * different densities, so one global threshold over-prunes tight
  * cells and under-prunes loose ones).
  *
  * Plan shape: the centroids ([[Ivf.centroids]] — the same coarse
  * quantizer IVF and SemDeDup use, trained on the driver once per
  * corpus) are a local relation: the assignment reads them as one
  * set inside its narrow argmax pass, and the own-centroid cosine
  * joins them back as a C-row broadcast; the per-cell
  * threshold aggregates (cluster_id → percentile) over ONE
  * cluster-keyed exchange of (cluster_id, sim) pairs — 12 B/row —
  * and joins back as a C-row broadcast. The embeddings themselves
  * never shuffle. `percentile` is exact here; at 100 TB flip to
  * `approx_percentile` (t-digest, bounded state) exactly as
  * documented in `operators.Normalizer`.
  */
object Outliers {

  /** Per-vector verdict: (vec_id, cluster_id, sim, outlier) where
    * `sim` is cosine to the OWN-cell centroid (4 dp, portable
    * rounding) and `outlier` flags sim strictly below the cell's
    * `p`-quantile. Exact interpolated percentile ⇒ for cell size m,
    * at most ⌈p·(m−1)⌉ rows can sit strictly below the threshold —
    * the bound OutlierSpec pins.
    */
  def verdicts(emb: DataFrame, c: Int, p: Double, iters: Int = 2): DataFrame = {
    val cents = Ivf.centroids(emb, c, iters)
    // read twice (the threshold aggregate and the verdict join): a
    // lazy local checkpoint runs the assignment once, leaving no cache
    val idx = Ivf.index(emb, cents).localCheckpoint(eager = false)
    val sims = idx.join(broadcast(cents), Seq("cluster_id"))
      .select(col("vec_id"), col("cluster_id"),
        round(VectorFunctions.cosine(col("emb"), col("centroid")), 4).as("sim"))
    thresholdVerdicts(sims, "cluster_id", "sim", p)
      .select(col("vec_id"), col("cluster_id"), col("sim"), col("outlier"))
  }

  /** The per-cell exact-percentile threshold + strict-below verdict
    * stage, factored out so the q_outlier_threshold_check gate can
    * oracle exactly this machinery over a frozen assignment and an
    * integer-exact value (the iterative Lloyd seeding above is what
    * makes the full [[verdicts]] rows-only): one cell-keyed exchange
    * of (cell, value) pairs, thresholds broadcast back as a C-row
    * frame. All input columns pass through, plus `outlier`.
    */
  def thresholdVerdicts(vals: DataFrame, cellCol: String, valCol: String,
      p: Double): DataFrame =
    vals.join(broadcast(vals.groupBy(cellCol)
        .agg(expr(s"percentile($valCol, $p)").as("__thr"))), Seq(cellCol))
      .withColumn("outlier", col(valCol) < col("__thr"))
      .drop("__thr")

  /** The cleaned corpus: vectors at or above their cell's percentile. */
  def prune(emb: DataFrame, c: Int, p: Double, iters: Int = 2): DataFrame =
    emb.join(verdicts(emb, c, p, iters).filter(!col("outlier")).select("vec_id"),
      Seq("vec_id"), "left_semi")
}
