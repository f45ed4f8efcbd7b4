package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._
import graft.dedup.SemDeDup
import graft.ann.Knn
import Fixtures.{pround, stagePath}

/** Family G, `graft.ann`: exact and approximate nearest neighbours
  * (brute force, LSH, IVF, SQ8, PQ), embedding dedup, outliers,
  * standardization and PCA.
  */
object Ann {

  val gates: Seq[Gate] = Seq(

    Gate("q_embedding_outliers", (s, d) =>
      // embedding-space outlier pruning: flag vectors in the bottom
      // 5% of cosine-to-own-centroid WITHIN their k-means cell (per-
      // cell threshold — global constants mis-prune across densities).
      // k-means → rows-only gate; GroundTruthSpec pins the exact
      // percentile semantics (strict-below bound, flagged<kept per
      // cell, prune count)
      graft.ann.Outliers.verdicts(
        Tables.embeddings(s, d).select("vec_id", "embedding"), c = 16, p = 0.05)
        .filter(col("outlier")).select("vec_id", "cluster_id", "sim")),

    Gate("q_outlier_threshold_check", (s, d) =>
      // full-oracle check for q_embedding_outliers' threshold+verdict
      // stage (r9 verdict item 7): the assignment is FROZEN (cell =
      // vec_id mod 16 — the "given the assignment" premise; Lloyd
      // seeding is what makes the full gate rows-only) and the scored
      // value is the exact integer Σ floor(x·1e6+0.5), so the per-cell
      // exact percentile and the strict-below verdict replay
      // identically in DuckDB. Thresholds are interpolated between
      // integers ≥1 apart, so engine ulp differences can never flip a
      // verdict; the threshold itself stays out of the output
      graft.ann.Outliers.thresholdVerdicts(
        Tables.embeddings(s, d).select(col("vec_id"),
          pmod(col("vec_id"), lit(16L)).as("cell"),
          aggregate(col("embedding"), lit(0L), (acc, x) =>
            acc + floor(x.cast("double") * lit(1e6) + lit(0.5)).cast("long"))
            .as("score")),
        "cell", "score", p = 0.1)
        .select(col("vec_id"), col("cell"), col("score"), col("outlier")),
      // frozen-assignment per-cell exact percentile + strict-below
      // verdict over an integer-exact score: thresholds interpolate
      // between integers >= 1 apart, so engine ulp can't flip a verdict
      oracle = Some("""WITH s AS (
           SELECT vec_id, vec_id % 16 AS cell,
             CAST(coalesce(list_sum(list_transform(embedding, x ->
               floor(CAST(x AS DOUBLE) * 1000000 + 0.5))), 0) AS BIGINT) AS score
           FROM embeddings
         ), t AS (
           SELECT cell, quantile_cont(CAST(score AS DOUBLE), 0.1) AS thr
           FROM s GROUP BY cell
         )
         SELECT s.vec_id, s.cell, s.score,
           (CAST(s.score AS DOUBLE) < t.thr) AS outlier
         FROM s JOIN t USING (cell)"""),
      // benched: one embeddings pass + C-row threshold broadcast
      bench = Role.Headline,
      // one cell agg + broadcast-back
      ceiling = Some(Ceiling(1, 2, bnljOk = false))),

    Gate("q_ann_bruteforce", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Knn.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      oracle = Some("""WITH q AS (
           SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
           FROM embeddings WHERE vec_id < 8
         ), c AS (
           SELECT vec_id AS nbr_id, CAST(embedding AS DOUBLE[]) AS c_emb
           FROM embeddings
         ), scored AS (
           SELECT query_id, nbr_id,
             round(list_dot_product(q_emb, c_emb)
               / (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4)
               AS sim
           FROM c CROSS JOIN q WHERE query_id <> nbr_id
         ), ranked AS (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id ASC) AS rnk
           FROM scored
         )
         SELECT query_id, CAST(rnk AS BIGINT) AS rank, nbr_id, sim
         FROM ranked WHERE rnk <= 5"""),
      bench = Role.Headline,
      ceiling = Some(Ceiling(1, 2, bnljOk = true))),

    Gate("q_matryoshka_recall", (s, d) => {
      // Matryoshka dim-vs-recall table (r11): how much recall the
      // 16/32-dim prefixes of the 64-dim embeddings retain against
      // full-dim top-5 — the MRL truncation-tradeoff eval. Fully
      // deterministic (4-dp cosine + id tie-break at every dim), so
      // the oracle replays the whole table value-for-value; dim=64
      // is the identity row (recall 1.0) pinning the harness itself.
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      Knn.truncatedRecall(emb, emb.filter(col("vec_id") < 8), k = 5,
        dims = Seq(16, 32, 64))
    },
      // full-dim truth vs prefix-truncated top-5 at each dim, the
      // identical rounded-cosine + id-tie-break ranking in SQL
      oracle = Some("""WITH c AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
         ), q AS (
           SELECT vec_id, e FROM c WHERE vec_id < 8
         ), ft AS (
           SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
             round(list_dot_product(q.e, c.e)
               / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 4)
               AS sim
           FROM c CROSS JOIN q WHERE q.vec_id <> c.vec_id
         ), fr AS (
           SELECT query_id, nbr_id FROM (
             SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY sim DESC, nbr_id ASC) AS rnk
             FROM ft) WHERE rnk <= 5
         ), dims AS (
           SELECT unnest([CAST(16 AS BIGINT), 32, 64]) AS dim
         ), tt AS (
           SELECT d.dim, q.vec_id AS query_id, c.vec_id AS nbr_id,
             round(list_dot_product(q.e[1:d.dim], c.e[1:d.dim])
               / (sqrt(list_dot_product(q.e[1:d.dim], q.e[1:d.dim]))
                  * sqrt(list_dot_product(c.e[1:d.dim], c.e[1:d.dim]))), 4)
               AS sim
           FROM dims d CROSS JOIN c CROSS JOIN q WHERE q.vec_id <> c.vec_id
         ), tr AS (
           SELECT dim, query_id, nbr_id FROM (
             SELECT *, row_number() OVER (
               PARTITION BY dim, query_id ORDER BY sim DESC, nbr_id ASC) AS rnk
             FROM tt) WHERE rnk <= 5
         ), hits AS (
           SELECT tr.dim, count(*) AS n_hits
           FROM tr JOIN fr USING (query_id, nbr_id) GROUP BY 1
         ), tot AS (SELECT count(*) AS n_true FROM fr)
         SELECT dim, n_true, n_hits,
           floor(n_hits * 10000.0 / n_true + 0.5) / 10000.0 AS recall
         FROM hits, tot""")),

    Gate("q_hard_negatives", (s, d) => {
      // contrastive hard-negative mining: top-5 nearest with a
      // DIFFERENT label per query — label filter prunes before the
      // cosine, corpus never shuffles, WindowGroupLimit top-k
      val emb = Tables.embeddings(s, d)
      Knn.hardNegatives(emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      oracle = Some("""WITH q AS (
           SELECT vec_id AS query_id, label AS q_label,
             CAST(embedding AS DOUBLE[]) AS q_emb
           FROM embeddings WHERE vec_id < 8
         ), c AS (
           SELECT vec_id AS nbr_id, label AS nbr_label,
             CAST(embedding AS DOUBLE[]) AS c_emb
           FROM embeddings
         ), scored AS (
           SELECT query_id, nbr_id, nbr_label,
             round(list_dot_product(q_emb, c_emb)
               / (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4)
               AS sim
           FROM c CROSS JOIN q WHERE nbr_label <> q_label
         ), ranked AS (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id ASC) AS rnk
           FROM scored
         )
         SELECT query_id, CAST(rnk AS BIGINT) AS rank, nbr_id, nbr_label, sim
         FROM ranked WHERE rnk <= 5""")),

    Gate("q_ann_lsh", (s, d) => {
      val emb = Tables.embeddings(s, d)
      // 16 tables: 1-(1-p^4)^16 ~ 0.94 expected recall at the top-5
      // neighbor similarity this corpus exhibits (GroundTruthSpec
      // asserts >=0.9 measured)
      Knn.lshTopK(emb, emb.filter(col("vec_id") < 8), k = 5, tables = 16)
    }),

    Gate("q_ann_ivf", (s, d) => {
      val emb = Tables.embeddings(s, d)
      // nprobe 12/16: uniform random vectors barely cluster, so high
      // recall needs a high probe fraction here; production embedding
      // corpora cluster and run nprobe/C far lower at the same recall
      graft.ann.Ivf.topK(emb, emb.filter(col("vec_id") < 8), k = 5,
        c = 16, nprobe = 12)
    }),

    Gate("q_ann_ivf_indexed", (s, d) => {
      // write-time-partitioned IVF index + partition-pruned search —
      // the 100 TB form (rows-only; spec asserts equality with the
      // inline form and PartitionFilters in the scan)
      val emb = Tables.embeddings(s, d)
      val tmp = s"/tmp/graft_ivf_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.ann.Ivf.writeIndex(emb, tmp, c = 16)
      graft.ann.Ivf.topKIndexed(tmp, emb.filter(col("vec_id") < 8), k = 5, nprobe = 12)
    }),

    Gate("q_ann_recall_check", (s, d) => {
      // the ANN family's recall floors as a DRIVER-CHECKED gate (r11):
      // brute-force top-5 is the truth set, and each approximate
      // method's recall against it is folded to a boolean the oracle
      // pins TRUE. Floors are cross-TIER (measured sf0.001/0.01/0.1:
      // lsh 0.90/0.825/1.0, ivf 0.95/0.90/0.925, sq8 same, pq
      // 0.975/0.925/0.75 — uniform-random vectors are the worst case
      // for every family, and the per-tier wobble is hash geometry,
      // not regression): lsh>=0.8, ivf/sq8>=0.85, pq>=0.7.
      // Deterministic because every hash family is. Upgrades four
      // rows-only operators to driver-checked properties; exact
      // top-k membership and the tighter per-tier floors stay the
      // GroundTruthSpec's job.
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val q = emb.filter(col("vec_id") < 8)
      val exact = graft.ann.Knn.bruteForceTopK(emb, q, k = 5)
        .select("query_id", "nbr_id")
      def recallRow(name: String, approx: DataFrame, floor: Double) =
        exact.join(approx.select("query_id", "nbr_id"),
            Seq("query_id", "nbr_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(exact.agg(count(lit(1)).as("n_true")))
          .select(lit(name).as("method"), col("n_true"),
            (col("hits").cast("double") / col("n_true") >= floor).as("recall_ok"))
      recallRow("lsh", graft.ann.Knn.lshTopK(emb, q, k = 5, tables = 16), 0.8)
        .unionByName(recallRow("ivf",
          graft.ann.Ivf.topK(emb, q, k = 5, c = 16, nprobe = 12), 0.85))
        .unionByName(recallRow("sq8",
          graft.ann.Ivf.topKSq8(emb, q, k = 5, c = 16, nprobe = 12), 0.85))
        .unionByName(recallRow("pq",
          graft.ann.Pq.adcRerankTopK(emb, q, "embedding", k = 5, m = 8,
            kcent = 64, shortlist = 100), 0.7))
    },
      // the truth-set size is exact SQL; the per-method recall-floor
      // verdicts are pinned TRUE
      oracle = Some("""SELECT m AS method,
           (SELECT count(*) FROM embeddings WHERE vec_id < 8) * 5 AS n_true,
           TRUE AS recall_ok
         FROM unnest(['ivf', 'lsh', 'pq', 'sq8']) AS t(m)""")),

    Gate("q_ann_ivf_append", (s, d) => {
      // incremental ANN index maintenance (r11): a new embedding
      // batch (every 5th vector) is assigned to the EXISTING
      // centroids and appended into the partitioned cells/ layout —
      // no k-means re-run, no corpus rewrite (Ivf.appendToIndex; the
      // LshIngest staging pattern, fingerprint-stamped, Bench
      // pre-stages via stageTier). The gate then searches with
      // shifted-id COPIES of the appended vectors: each query's
      // top-1 must be its appended original at cosine 1.0 through
      // the partition-pruned indexed scan — visibility of the append
      // is a FULL oracle, not a recall bound (self-hits are excluded
      // by id, so the copy trick is what makes the check exact).
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val base = emb.filter(pmod(col("vec_id"), lit(5L)) =!= 0L)
      val batch = emb.filter(pmod(col("vec_id"), lit(5L)) === 0L)
      val tmp = stagePath("ivfapp", d)
      graft.ann.Ivf.ensureAppendedIndex(base, batch, tmp, c = 16,
        sourceFp = Tables.sourceStamp(s, d, "embeddings"))
      val queries = batch.filter(col("vec_id") < 40)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      graft.ann.Ivf.topKIndexed(tmp, queries, k = 5, nprobe = 12)
        .groupBy("query_id")
        .agg(max(when(col("rank") === 1, col("nbr_id"))).as("top1_id"),
          max(when(col("rank") === 1, col("sim"))).as("top1_sim"),
          count(lit(1)).as("n_results"))
    },
      // append visibility as an EXACT oracle: every shifted-id copy
      // of an appended vector must surface its original as top-1 at
      // cosine 1.0 (no other random vector rounds to 1.0 at 4dp),
      // with a full k=5 result list from the probed cells
      oracle = Some("""SELECT vec_id + 1000000 AS query_id, vec_id AS top1_id,
                1.0 AS top1_sim, CAST(5 AS BIGINT) AS n_results
         FROM embeddings WHERE vec_id % 5 = 0 AND vec_id < 40""")),

    Gate("q_ann_sq8", (s, d) => {
      // IVF over SQ8-quantized cells + exact rerank (rows-only;
      // GroundTruthSpec measures recall vs brute force)
      val emb = Tables.embeddings(s, d)
      graft.ann.Ivf.topKSq8(emb, emb.filter(col("vec_id") < 8), k = 5,
        c = 16, nprobe = 12)
    }),

    Gate("q_ann_pq", (s, d) => {
      // product-quantized ANN with exact rerank (rows-only; the
      // iterative per-subspace Lloyd is not SQL-expressible —
      // GroundTruthSpec pins recall vs exact L2, code bounds, and
      // codebook determinism). m=8 subspaces x 64 codewords: 64-dim
      // float -> 8 bytes stored per vector; ADC shortlists from codes
      // alone, only the shortlist touches full vectors
      val emb = Tables.embeddings(s, d)
      graft.ann.Pq.adcRerankTopK(emb, emb.filter(col("vec_id") < 8),
        "embedding", k = 5, m = 8, kcent = 64, shortlist = 100)
    }),

    Gate("q_sq8_quantize", (s, d) =>
      // SQ8 vector compression report: per-dim min/max (posexplode +
      // partial agg → dims rows), broadcast stats arrays, narrow HOF
      // encode; all-integer outputs (code checksum + ppb error bounds)
      graft.ann.Quantize.sq8Report(Tables.embeddings(s, d), "vec_id", "embedding"),
      oracle = Some("""WITH ex AS (
           SELECT generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings
         ), s AS (
           SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos
         ), arrs AS (
           SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM s
         ), enc AS (
           SELECT vec_id, embedding,
             list_transform(range(1, len(embedding) + 1), i ->
               CASE WHEN mxs[i] = mns[i] THEN 0
                    ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - mns[i])
                           / (mxs[i] - mns[i]) * 255.0 + 0.5) AS BIGINT) END) AS codes,
             list_transform(range(1, len(embedding) + 1), i ->
               CASE WHEN mxs[i] = mns[i] THEN 0
                    ELSE CAST(floor(abs(CAST(embedding[i] AS DOUBLE)
                           - (mns[i] + floor((CAST(embedding[i] AS DOUBLE) - mns[i])
                                / (mxs[i] - mns[i]) * 255.0 + 0.5)
                              * (mxs[i] - mns[i]) / 255.0)) * 1000000000.0 + 0.5)
                         AS BIGINT) END) AS errs
           FROM embeddings, arrs
         )
         SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           CAST(list_max(errs) AS BIGINT) AS max_err_ppb,
           CAST(list_sum(errs) AS BIGINT) AS sum_err_ppb
         FROM enc""")),

    Gate("q_embedding_standardize", (s, d) =>
      // per-dim z-score feature prep: exact integer moments (1e6-
      // integerized in-scan, decimal/HUGEINT square sums) so mean and
      // variance replay identically in any engine; broadcast stats,
      // narrow HOF standardize, integerized z checksums
      graft.ann.Standardize.zReport(Tables.embeddings(s, d), "vec_id", "embedding"),
      oracle = Some("""WITH g AS (
           SELECT vec_id, len(embedding) AS d,
             generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings
         ), ixed AS (
           SELECT vec_id, pos, d,
             CAST(floor(x * 1000000.0 + 0.5) AS BIGINT) AS ix
           FROM g
         ), mom AS (
           SELECT pos, count(*) AS n, sum(ix) AS s,
             sum(CAST(ix AS HUGEINT) * ix) AS q
           FROM ixed GROUP BY pos
         ), st AS (
           SELECT pos, CAST(s AS DOUBLE) / n AS mean,
             sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n) AS std
           FROM mom
         ), zs AS (
           SELECT i.vec_id, i.d,
             CASE WHEN st.std = 0.0 THEN 0
                  ELSE CAST(floor((CAST(i.ix AS DOUBLE) - st.mean) / st.std
                    * 10000.0 + 0.5) AS BIGINT) END AS z
           FROM ixed i JOIN st USING (pos)
         )
         SELECT vec_id, CAST(max(d) AS BIGINT) AS n_dims,
           CAST(sum(z) AS BIGINT) AS z_sum, CAST(max(z) AS BIGINT) AS z_max
         FROM zs GROUP BY vec_id"""),
      // benched: the full posexplode moment pass + broadcast-stats
      // HOF rewrite over every vector
      bench = Role.Headline,
      // dims-rows moment exchange + its single-row fold; the BNLJ
      // is the 1-row broadcast stats frame
      ceiling = Some(Ceiling(2, 2, bnljOk = true))),

    Gate("q_robust_scale", (s, d) =>
      // robust median/IQR per-dim scaling (r10): rank-exact quartiles
      // on the per-dim integerized value histogram (no interpolation,
      // no float boundary), stats broadcast, narrow HOF scale with
      // integer checksums — the heavy-tail-safe feature-prep pass
      graft.ann.Standardize.robustReport(Tables.embeddings(s, d),
        "vec_id", "embedding"),
      // rank-exact quartiles per dim (smallest value whose running
      // count passes floor(p·(n−1)) — the RobustStats rule), so the
      // scaled integer checksums replay exactly
      oracle = Some("""WITH g AS (
           SELECT vec_id, len(embedding) AS d,
             generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings
         ), ixed AS (
           SELECT vec_id, pos, d,
             CAST(floor(x * 1000000.0 + 0.5) AS BIGINT) AS ix
           FROM g
         ), hist AS (
           SELECT pos, ix AS v, count(*) AS n FROM ixed GROUP BY 1, 2
         ), cum AS (
           SELECT pos, v, n,
             sum(n) OVER (PARTITION BY pos ORDER BY v) AS cum,
             sum(n) OVER (PARTITION BY pos) AS tot
           FROM hist
         ), st AS (
           SELECT pos,
             min(CASE WHEN cum - 1 >= floor(0.25 * (tot - 1)) THEN v END) AS q1,
             min(CASE WHEN cum - 1 >= floor(0.5 * (tot - 1)) THEN v END) AS med,
             min(CASE WHEN cum - 1 >= floor(0.75 * (tot - 1)) THEN v END) AS q3
           FROM cum GROUP BY pos
         ), rs AS (
           SELECT i.vec_id, i.d,
             CASE WHEN st.q3 = st.q1 THEN 0
                  ELSE CAST(floor(CAST(i.ix - st.med AS DOUBLE)
                         / (st.q3 - st.q1) * 10000.0 + 0.5) AS BIGINT) END AS r
           FROM ixed i JOIN st USING (pos)
         )
         SELECT vec_id, CAST(max(d) AS BIGINT) AS n_dims,
           CAST(sum(r) AS BIGINT) AS r_sum, CAST(max(r) AS BIGINT) AS r_max
         FROM rs GROUP BY vec_id"""),
      // benched: per-dim histogram exchange + keyed rank windows +
      // broadcast-stats HOF pass
      bench = Role.Headline,
      // (pos, value) histogram exchange, keyed rank windows over
      // distinct values, dims-row stats fold; the BNLJ is the 1-row
      // broadcast stats frame
      ceiling = Some(Ceiling(3, 2, bnljOk = true))),

    Gate("q_pca_project", (s, d) => {
      // PCA reduce-before-index: fit = ONE corpus moment pass
      // (per-partition d×d blocks → driver Jacobi eigensolve, the
      // MLlib computeCovariance shape), project = pure narrow HOF.
      // rows-only: the eigensolve is not SQL-expressible; ground
      // truth (planted axis recovery, orthonormality, full-rank
      // isometry, trace invariance) lives in GroundTruthSpec.
      // Gate boundary (r9 verdict item 1): the driver's pandas-based
      // compare cannot sort/hash ndarray cells, so the projected
      // vector is folded to scalars — its length and an md5 of the
      // rounded CSV form (the q_bpe_encode sequence-checksum
      // precedent). Sign-fixed columns (Pca.fitProject pins each
      // eigenvector's max-|coord| positive) make the checksum
      // partition-deterministic.
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val dim = emb.select(size(col("embedding"))).as[Int](org.apache.spark.sql.Encoders.scalaInt).head()
      graft.ann.Pca.fitProject(emb, "embedding", k = math.max(dim / 2, 2))
        .select(col("vec_id"),
          size(col("pca")).cast("long").as("n_pca"),
          md5(concat_ws(",", transform(col("pca"),
            x => pround(x, 4).cast("string"))).cast("binary")).as("pca_md5"))
    }),

    Gate("q_pca_check", (s, d) => {
      // the PCA model's linear-algebra contracts as a DRIVER-CHECKED
      // gate (r11): orthonormal components and sorted non-negative
      // eigenvalues verified on the driver-local model (it is a pure
      // function of the data — covariance rounded, signs
      // canonicalized), plus the FULL-RANK ISOMETRY verified
      // distributed: at k = d the projection must preserve every
      // centered squared norm, so the corpus-sum ratio is 1 to
      // rounding. The eigensolve itself stays rows-only
      // (q_pca_project); these booleans are what ANY correct PCA
      // must satisfy, oracle-pinned TRUE beside the exact count.
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val dim = emb.select(size(col("embedding")))
        .limit(1).head.getInt(0)
      val m = graft.ann.Pca.fit(emb, "embedding", k = dim)
      def dot(a: Array[Double], b: Array[Double]) =
        a.zip(b).map { case (x, y) => x * y }.sum
      val orth = (0 until m.k).forall { i =>
        (0 until m.k).forall { j =>
          math.abs(dot(m.components(i), m.components(j)) -
            (if (i == j) 1.0 else 0.0)) < 1e-6 } }
      val eigsOk = m.eigenvalues.forall(_ >= -1e-9) &&
        m.eigenvalues.sliding(2).forall(p => p.length < 2 || p(0) >= p(1) - 1e-9)
      val meanLit = typedlit(m.mean.toSeq)
      val proj = graft.ann.Pca.projectCol(col("embedding"), m)
      emb.select(
          aggregate(zip_with(transform(col("embedding"), x => x.cast("double")),
            meanLit, (x, mu) => (x - mu) * (x - mu)), lit(0.0), _ + _).as("cn"),
          aggregate(transform(proj, y => y * y), lit(0.0), _ + _).as("pn"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(col("cn")).as("scn"), sum(col("pn")).as("spn"))
        .select(col("n_vectors"),
          lit(orth).as("orthonormal_ok"),
          lit(eigsOk).as("eigs_sorted_ok"),
          ((col("scn") === 0 && col("spn") === 0) ||
            abs(col("spn") / col("scn") - 1.0) < 1e-6).as("isometry_ok"))
    },
      // exact vector count compared; the linear-algebra contracts
      // (orthonormal basis, sorted eigenvalues, full-rank isometry)
      // pinned TRUE
      oracle = Some("""SELECT count(*) AS n_vectors, TRUE AS orthonormal_ok,
           TRUE AS eigs_sorted_ok, TRUE AS isometry_ok
         FROM embeddings""")),

    Gate("q_dedup_embedding", (s, d) => {
      // random unit vectors never reach cosine 0.95, so the raw-table
      // form flagged nothing — plant 20 scaled copies (cosine exactly
      // 1.0 with their originals, and SRP buckets are scale-invariant)
      // so the flag path runs at every SF; GroundTruthSpec verifies
      // exact recall/precision of the same construction
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val planted = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.01f)).as("embedding"))
      // auto-scaled plane count (fixed planes let mean bucket size
      // grow linearly with the corpus — the SemDeDup fixed-C lesson);
      // planted scaled copies share every SRP sign bit, so their
      // recall is planes-invariant
      Knn.nearDupByEmbeddingAuto(emb.unionByName(planted), threshold = 0.95)
    }),

    Gate("q_embedding_dedup_check", (s, d) => {
      // the planted construction as a DRIVER-CHECKED gate (r11, the
      // q_ann_recall_check pattern): scaled copies share every SRP
      // sign bit, so each of the 40 construction vectors MUST flag
      // with its counterpart as nearest at cosine exactly 1.0 —
      // deterministic, not probabilistic recall. Oracle pins the
      // booleans and compares the exact construction count.
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val planted = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.01f)).as("embedding"))
      val rep = Knn.nearDupByEmbeddingAuto(emb.unionByName(planted),
        threshold = 0.95)
      val counterpartOk =
        (col("vec_id") < 20 && col("nearest_id") === col("vec_id") + 100000L &&
          col("nearest_sim") === 1.0) ||
        (col("vec_id") >= 100000L && col("nearest_id") === col("vec_id") - 100000L &&
          col("nearest_sim") === 1.0)
      rep.filter(col("vec_id") < 20 || col("vec_id") >= 100000L)
        .agg(count(lit(1)).as("n_construction"),
          (count(when(col("is_near_dup"), lit(1))) === count(lit(1)))
            .as("all_flagged"),
          (count(when(counterpartOk, lit(1))) === count(lit(1)))
            .as("all_matched"))
    },
      // the construction size is exact SQL; the deterministic
      // flag/counterpart verdicts are pinned TRUE
      oracle = Some("""SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 20) * 2
             AS n_construction,
           TRUE AS all_flagged, TRUE AS all_matched"""))
  )
}
