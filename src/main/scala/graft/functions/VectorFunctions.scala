package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExpressionColumn

/** Dense-vector column math over `array<float|double>` columns.
  *
  * The composable forms are built on higher-order builtins
  * (`zip_with`, `aggregate`, `transform`): no UDF serialization, but
  * on Spark 4.1 all three are `CodegenFallback`, so their lambdas run
  * interpreted, per element, inside an otherwise codegen'd stage.
  * Hot loops therefore go through native expressions: the codegen'd
  * [[cosine]] and [[nearestCentroid]], and the [[vectorMean]]
  * aggregate. All arithmetic is forced to double so results are
  * reproducible across engines regardless of the stored element width.
  */
object VectorFunctions {

  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Reference (composable-builtin) cosine — three operand walks plus
    * an intermediate array; kept as the spec cross-check for the
    * native expression.
    */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native single-pass codegen'd cosine (graft.functions.
    * CosineSimilarity, registered by GraftExtensions) — the hot-loop
    * form ANN scoring uses.
    */
  def cosine(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** The `cluster_id` of the centroid nearest `emb` by cosine, from
    * `cents: array<struct<cluster_id:int, centroid:array<num>>>`
    * (graft.functions.NearestCentroid, registered by GraftExtensions):
    * any such column, or a driver-held set from [[CentroidSet.of]],
    * which the kernel decodes once instead of per row. Ties go to the
    * smaller id; NULL when no centroid is comparable.
    */
  def nearestCentroid(emb: Column, cents: Column): Column =
    call_function("nearest_centroid", emb, cents)

  /** The `cluster_id`s of the `n` cells of a [[CentroidSet.of]] set
    * nearest `emb` by cosine, best first, ties to the smaller id, a
    * NULL id first (graft.functions.NearestCentroids): IVF's probe,
    * one array per query row.
    */
  def nearestCentroids(emb: Column, set: Column, n: Int): Column =
    ExpressionColumn(NearestCentroids(ExpressionColumn.expression(emb),
      ExpressionColumn.expression(set), n))

  /** Positional mean of `array<float|double>` rows per group, as
    * `array<double>` (graft.functions.VectorMean, registered by
    * GraftExtensions): element i averages the non-NULL elements i
    * as Spark's `avg` does; NULL for a group with no elements.
    */
  def vectorMean(v: Column): Column = call_function("vector_mean", v)

  /** Cosine rounded for stable cross-engine comparison/ranking. */
  def cosineRounded(a: Column, b: Column, scale: Int = 4): Column =
    round(cosine(a, b), scale)

  /** Euclidean (L2) distance. */
  def l2(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x))

  /** Sign-random-projection bucket id over `planes` hyperplanes.
    * Plane coefficients are pseudo-random but fully deterministic:
    * coeff(p,d) = (xxhash64(seed,p,d) % 1001)/1000 - 0.5 — derived
    * from codegen'd hashing, no driver-side randomness to ship.
    * Dimensionality comes from each row's own array length — a
    * hardcoded dims that disagreed with the data would null-pad the
    * zip_with, zero every projection, and silently collapse all
    * vectors into one bucket.
    */
  def srpBucket(v: Column, planes: Int, seed: Int = 0): Column =
    srpBucketDyn(v, planes, lit(seed))

  /** Multi-table SRP-LSH: `tables` independent bucket ids (one per
    * hash table, each over its own `planes` hyperplanes), tagged with
    * the table index so buckets from different tables never collide:
    * element t = (t << planes) | srpBits_t(v). Candidate recall is
    * 1-(1-p^planes)^tables for per-plane agreement p = 1-θ/π, so
    * tables buys recall while planes controls bucket selectivity —
    * the standard LSH knob pair.
    */
  def srpBuckets(v: Column, planes: Int, tables: Int): Column =
    transform(sequence(lit(0), lit(tables - 1)), t =>
      call_function("shiftleft", t.cast("long"), lit(planes))
        .bitwiseOR(srpBucketDyn(v, planes, t)))

  /** srpBucket with a column-valued seed (table index). */
  private def srpBucketDyn(v: Column, planes: Int, seed: Column): Column = {
    val dv = toDouble(v)
    val bits = transform(sequence(lit(0), lit(planes - 1)), p => {
      val proj = aggregate(
        zip_with(dv, sequence(lit(0), size(dv) - 1),
          (x, d) => x * ((pmod(xxhash64(seed, p, d), lit(1001L)).cast("double") / 1000.0) - 0.5)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L)).otherwise(lit(0L))
    })
    aggregate(bits, lit(0L), (acc, b) => acc * 2L + b)
  }
}
