package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-dimension z-score standardization of embedding columns — the
  * feature-prep pass before k-means / PCA / quantization when
  * dimensions carry different scales (a centroid or codebook trained
  * on raw mixed-scale features is dominated by the widest dimension).
  *
  * Shape at scale (the [[Quantize]] stats pattern):
  *  - each element integerizes to round(x·1e6) INSIDE the scan, so the
  *    moment sums are exact integers — float summation order (task
  *    order, engine internals) can never bend a mean or a variance;
  *    the square sums accumulate as decimal(38) (Spark) / HUGEINT
  *    (the oracle engine): both are exact, and both cast the same
  *    exact integer to the same IEEE double;
  *  - the shuffle carries `dims` rows per map task (posexplode +
  *    partial agg); stats fold into pos-ordered arrays and broadcast;
  *  - the standardize itself is a narrow per-row HOF projection;
  *  - constant dimensions (zero variance) map to z = 0 rather than a
  *    division blow-up.
  *
  * Performance floor (r10 A/B, sf10 = 200k x 64-dim vectors,
  * DuckDB oracle 0.30 s): moments pass 0.46 s + z/checksum pass
  * ~0.45 s ≈ 0.9 s total. Both engines run the same TWO full element
  * passes — the residual is Spark's generated-row explode + decimal
  * sum against the embedded engine's vectorized unnest + HUGEINT,
  * not plan waste; the documented approx flip (double sums) would
  * trade the oracle-exact replay guarantee for ~half the moments
  * cost and is rejected while the gate's oracle is exact.
  */
object Standardize {

  private def ix(x: Column): Column =
    floor(x.cast("double") * lit(1e6) + lit(0.5)).cast("long")

  /** Per-dimension exact integer moments → (pos, mean, std) in
    * 1e6-scaled units, every value derived from exact integers.
    */
  def dimMoments(emb: DataFrame, vecCol: String): DataFrame =
    emb.select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"),
        sum(ix(col("x")).cast("decimal(38,0)")).as("s"),
        // the square multiplies in LONG on the common path (|ix| <
        // 3e9 ⇒ ix² ≤ 9e18 < Long.Max) and falls back to a DECIMAL
        // multiply above it — a long ix·ix overflows for |x| beyond
        // ~3e3, exactly the mixed-scale features this operator exists
        // for (ANSI would abort; non-ANSI would wrap to a silent
        // wrong variance). CaseWhen evaluates only the taken branch,
        // so typical-scale features never pay the Int128 multiply
        // (r10 A/B, sf10: moments pass 0.55 → 0.46 s). The SUM
        // stays decimal(38): exact at any corpus size
        sum(when(abs(ix(col("x"))) < lit(3000000000L),
            (ix(col("x")) * ix(col("x"))).cast("decimal(38,0)"))
          .otherwise(ix(col("x")).cast("decimal(38,0)") *
            ix(col("x")).cast("decimal(38,0)"))).as("q"))
      .select(col("pos"),
        (col("s").cast("double") / col("n")).as("mean"),
        sqrt((col("q").cast("double") - col("s").cast("double") * col("s")
          / col("n")) / col("n")).as("std"))

  /** Robust (median/IQR) per-dimension scaling report — the
    * heavy-tail-safe counterpart to [[zReport]]: mean/std are dragged
    * by the very outliers feature prep wants to tame, median and
    * interquartile range are 25-50%-breakdown estimators (sklearn's
    * RobustScaler recipe). Rank-EXACT on the 1e6-integerized value
    * histogram per dimension (the [[graft.operators.RobustStats]]
    * rule applied per-pos): ONE (pos, value)-keyed exchange builds
    * the per-dim histograms — bounded by dims × |distinct quantized
    * values|, never corpus rows, and partial-aggregated map-side;
    * the rank windows run PARTITIONED BY pos over distinct values;
    * quartiles are the smallest value whose running count passes
    * floor(p·(n−1)) — no interpolation, no float boundary, so the
    * scaled checksums replay identically in any engine. Stats
    * broadcast as pos-ordered arrays; the scale itself is a narrow
    * HOF. Constant dims (IQR 0) map to r = 0. Output per row:
    * (id, n_dims, r_sum, r_max) over r = floor((ix−med)/IQR·10⁴+0.5).
    */
  def robustReport(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ixed = emb.filter(size(col(vecCol)) > 0)
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col(idCol), col("pos"), ix(col("x")).as("v"))
    val hist = ixed.groupBy("pos", "v").agg(count(lit(1)).as("n"))
    val cum = hist.select(col("pos"), col("v"), col("n"),
      sum("n").over(Window.partitionBy("pos").orderBy("v")).as("cum"),
      sum("n").over(Window.partitionBy("pos")).as("tot"))
    def rank(p: Double) =
      min(when(col("cum") - 1 >= floor(lit(p) * (col("tot") - 1)), col("v")))
    val stats = cum.groupBy("pos").agg(
      rank(0.25).as("q1"), rank(0.5).as("med"), rank(0.75).as("q3"))
    val row = stats.agg(
      transform(array_sort(collect_list(struct(col("pos"), col("med")))),
        s => s("med")).as("meds"),
      transform(array_sort(collect_list(struct(col("pos"),
          (col("q3") - col("q1")).as("iqr")))),
        s => s("iqr")).as("iqrs"))
    def r(x: Column, m: Column, iqr: Column): Column =
      when(iqr === 0L, lit(0L)).otherwise(
        floor((ix(x) - m).cast("double") / iqr * lit(10000.0) + lit(0.5))
          .cast("long"))
    emb.filter(size(col(vecCol)) > 0)
      .crossJoin(broadcast(row))
      .withColumn("rs", transform(col(vecCol), (x, i) =>
        r(x, element_at(col("meds"), i + 1), element_at(col("iqrs"), i + 1))))
      .select(col(idCol),
        size(col(vecCol)).cast("long").as("n_dims"),
        aggregate(col("rs"), lit(0L), (a, c) => a + c).as("r_sum"),
        array_max(col("rs")).as("r_max"))
  }

  /** One broadcastable row with pos-ordered mean/std arrays. */
  def momentsRow(emb: DataFrame, vecCol: String): DataFrame =
    dimMoments(emb, vecCol).agg(
      transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
        s => s("mean")).as("means"),
      transform(array_sort(collect_list(struct(col("pos"), col("std")))),
        s => s("std")).as("stds"))

  /** Standardized-vector report per row: dimension count and the exact
    * checksum of the 1e4-integerized z-scores (the cross-engine-stable
    * witness that every element standardized identically).
    */
  def zReport(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    def z(x: Column, m: Column, sd: Column): Column =
      when(sd === 0.0, lit(0L)).otherwise(
        floor((ix(x).cast("double") - m) / sd * lit(10000.0) + lit(0.5))
          .cast("long"))
    // degenerate (empty/null) vectors are dropped, matching the oracle:
    // unnest of an empty array yields no rows there, so emitting a
    // (n_dims=0, z_sum=0, z_max=null) row here would be a latent
    // row-count mismatch the fixed-64-dim generator never exercises
    emb.filter(size(col(vecCol)) > 0)
      .crossJoin(broadcast(momentsRow(emb, vecCol)))
      .withColumn("zs", transform(col(vecCol), (x, i) =>
        z(x, element_at(col("means"), i + 1), element_at(col("stds"), i + 1))))
      .select(col(idCol),
        size(col(vecCol)).cast("long").as("n_dims"),
        aggregate(col("zs"), lit(0L), (a, c) => a + c).as("z_sum"),
        array_max(col("zs")).as("z_max"))
  }
}
