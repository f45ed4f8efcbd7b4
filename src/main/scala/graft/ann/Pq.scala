package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the codebook compression under
  * billion-scale ANN indexes (FAISS IVF-PQ): each vector splits into
  * `m` subvectors, each subspace trains its own `k`-centroid codebook,
  * and a vector stores only `m` small code ids (64-dim float → 8 bytes
  * at m=8: 32× compression vs float32, 4× beyond SQ8). Search is
  * asymmetric (ADC): the query stays exact, each candidate's distance
  * is the sum of `m` precomputed query-to-centroid partial distances
  * looked up by code.
  *
  * Scale shape:
  *  - codebook training is per-subspace Lloyd over (vec_id, sub,
  *    subvec) rows — the explode is narrow (m rows per vector), seeds
  *    are per-subspace hash-order top-k (plans as WindowGroupLimit:
  *    partial top-k below the one exchange), means partial-aggregate
  *    by (sub, cluster, pos); nothing corpus-sized crosses the wire
  *    but the m-row grid, and the codebook result is m·k rows total;
  *  - encode is one broadcast join (codebooks are m·k rows) + argmin
  *    per subvector — at 100 TB this runs at WRITE time and the
  *    stored index is the code table, like [[Ivf.writeIndex]];
  *  - ADC search broadcasts the per-query lookup table (m·k partial
  *    distances per query, built from the tiny queries × codebooks
  *    product) and scores candidates with a pure HOF fold over their
  *    m codes — the corpus never shuffles; the per-query top-k is the
  *    same WindowGroupLimit shape as [[Knn.bruteForceTopK]].
  *
  * Determinism: seeds are hash-ordered (xxhash64(vec_id), vec_id),
  * Lloyd runs a FIXED iteration count, argmin ties break on the lower
  * cluster id, and distances are rounded before ranking — the index
  * and every search result are pure functions of the data.
  */
object Pq {

  /** (vec_id, sub, svec) — the m-way subvector grid. `dim` must be
    * divisible by m (PQ pads otherwise; the gate corpus is 64-dim).
    */
  def subvectors(emb: DataFrame, vecCol: String, m: Int): DataFrame = {
    val subDim = (size(col(vecCol)) / lit(m)).cast("int")
    emb.select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          j => slice(col(vecCol), j * subDim + 1, subDim))).as(Seq("sub", "svec")))
  }

  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double"))
      * (x.cast("double") - y.cast("double"))), lit(0.0), (acc, v) => acc + v)

  /** Per-subspace codebooks: (sub, cluster_id, centroid array<double>),
    * k centroids each, `iters` Lloyd refinements.
    */
  def codebooks(emb: DataFrame, vecCol: String, m: Int, k: Int,
                iters: Int = 2): DataFrame = {
    val sv = subvectors(emb, vecCol, m)
    // per-subspace hash-order top-k seeds — WindowGroupLimit keeps the
    // per-partition top-k below the single (sub)-keyed exchange
    val w = Window.partitionBy("sub")
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
    var cb = sv.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("sub"), (col("rn") - 1).cast("int").as("cluster_id"),
        col("svec").as("centroid"))
    // the means stay on the (sub, cluster, pos) avg chain, not
    // vector_mean: m·k = 512 groups per task put an object-hash
    // aggregate on Spark's sort-based path, whose per-row sort of
    // short subvectors measured slower than this per-element hash
    // aggregate (8-element rows: 0.17 s → 0.20 s per mean step)
    var i = 0
    while (i < iters) {
      val assigned = assign(sv, cb)
      cb = assigned
        .select(col("sub"), col("cluster_id"),
          posexplode(col("svec")).as(Seq("pos", "x")))
        .groupBy("sub", "cluster_id", "pos").agg(avg("x").as("mv"))
        .groupBy("sub", "cluster_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
        .select(col("sub"), col("cluster_id"),
          expr("transform(pm, e -> e.mv)").as("centroid"))
      i += 1
    }
    cb
  }

  /** Nearest-codeword assignment per (vec_id, sub): broadcast the m·k
    * codebook rows, argmin via partial-aggregated min over
    * (dist2, cluster_id) structs.
    */
  private def assign(sv: DataFrame, cb: DataFrame): DataFrame =
    sv.join(broadcast(cb), Seq("sub"))
      .withColumn("d2", l2sq(col("svec"), col("centroid")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("cluster_id"))).as("best"),
        first(col("svec")).as("svec"))
      .select(col("vec_id"), col("sub"),
        col("best.cluster_id").cast("int").as("cluster_id"), col("svec"))

  /** PQ code table: (vec_id, codes array<int> of length m, sub-ordered).
    * This is the stored index — m small ints per vector.
    */
  def encode(emb: DataFrame, cb: DataFrame, vecCol: String, m: Int): DataFrame =
    assign(subvectors(emb, vecCol, m), cb)
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(sub, cluster_id))), e -> e.cluster_id)")
        .as("codes"))

  /** Asymmetric-distance top-k: exact queries against PQ codes.
    * Returns (query_id, rank, nbr_id, adc_dist2) — ascending L2²
    * estimate, 6-dp rounded, id tie-break.
    */
  def adcTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
              k: Int, m: Int, kcent: Int, iters: Int = 2): DataFrame = {
    val cb = codebooks(corpus, vecCol, m, kcent, iters)
    val codes = encode(corpus, cb, vecCol, m)
    // per-query LUT: m·kcent partial distances, folded to a 2-level
    // pos-ordered array (collect_list is task-order-unstable, so both
    // levels sort by their carried key)
    val qsv = subvectors(queries.select(col("vec_id"), col(vecCol)), vecCol, m)
      .withColumnRenamed("vec_id", "query_id")
    val lut = qsv.join(broadcast(cb), Seq("sub"))
      .withColumn("d2", l2sq(col("svec"), col("centroid")))
      .groupBy("query_id", "sub")
      .agg(expr("transform(array_sort(collect_list(struct(cluster_id, d2))), e -> e.d2)")
        .as("row"))
      .groupBy("query_id")
      .agg(expr("transform(array_sort(collect_list(struct(sub, row))), e -> e.row)")
        .as("lut"))
    val scored = codes.crossJoin(broadcast(lut))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adc_dist2", round(aggregate(
        zip_with(col("codes"), col("lut"), (c, row) => element_at(row, c + 1)),
        lit(0.0), (acc, v) => acc + v), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist2").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("nbr_id"), col("adc_dist2"))
  }

  /** The production form: ADC shortlists `shortlist` candidates per
    * query from the code table alone, then ONLY those re-score with
    * the exact L2 on stored vectors (the [[Ivf.topKSq8]] rerank
    * precedent — a query touches `shortlist` full vectors instead of
    * the corpus). Returns (query_id, rank, nbr_id, dist2), exact
    * distances 6-dp rounded, id tie-break.
    */
  def adcRerankTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
                    k: Int, m: Int, kcent: Int, shortlist: Int,
                    iters: Int = 2): DataFrame = {
    val cand = adcTopK(corpus, queries, vecCol, shortlist, m, kcent, iters)
      .select("query_id", "nbr_id")
    val exact = cand
      .join(corpus.select(col("vec_id").as("nbr_id"), col(vecCol).as("c_emb")), Seq("nbr_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col(vecCol).as("q_emb"))), Seq("query_id"))
      .withColumn("dist2", round(l2sq(col("q_emb"), col("c_emb")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist2").asc, col("nbr_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("dist2"))
  }
}
