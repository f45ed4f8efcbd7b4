package graft.ann

import graft.functions.{CentroidSet, VectorFunctions, VectorMean}
import graft.sources.Readers
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** IVF (inverted-file) approximate nearest neighbor.
  *
  * The classic two-level index: a small set of coarse centroids
  * partitions the corpus into cells; a query scores only the `nprobe`
  * nearest cells. On a cluster the assignment step happens at WRITE
  * time — the corpus is partitioned/bucketed by `cluster_id`, so a
  * probe reads only nprobe/C of the data (partition pruning), which
  * is the whole point at 100 TB. Here assignment runs inline because
  * the testdata is unindexed.
  *
  * A centroid set is a driver-side value: at most `c` rows, held as
  * a local relation (or read from an index's parquet) and handed to
  * each plan that reads it as one [[CentroidSet]] leaf, decoded once.
  * Assignment (`nearest_centroid`) and probe (`nearest_centroids`,
  * each query's top-nprobe cells, no window) read that leaf; no plan
  * re-aggregates or broadcasts the centroids.
  *
  * Everything is deterministic: centroid seeds are the top-C vectors
  * by xxhash64(vec_id) (a seedless pseudo-random draw), refined by a
  * fixed number of Lloyd iterations. Each iteration is one Spark job
  * with no exchange: the assignment pass folds every partition's rows
  * into one `VectorMean.Sums` per cell (c·dim sums), the buffers
  * combine in a `treeAggregate`, and only the ≤ c means stay on the
  * driver.
  */
object Ivf {

  /** (cluster_id, centroid) — deterministic k-means with `iters`
    * Lloyd refinements, as a local relation sorted by cluster_id. The
    * seeds keep the stored element width (`iters = 0` returns them
    * as stored); each refinement's means are `array<double>` and drop
    * a cell no non-NULL embedding reached, so at most `c` rows come
    * back (none for an empty or all-NULL corpus). Runs at call time:
    * one job for the seeds and one per iteration.
    */
  def centroids(corpus: DataFrame, c: Int, iters: Int = 2): DataFrame = {
    // keep the STORED element width (float for the testdata corpus):
    // the kernel widens per element, so results are bit-identical to
    // an up-front toDouble while every assignment pass moves half the
    // bytes
    val emb = corpus.select(col("vec_id"), col("embedding").as("emb"))
    // Seed selection: top-c by a pseudo-random hash order, planned as
    // TakeOrderedAndProject — per-partition top-c then c rows merged
    // on one task, never a whole-corpus single-task Window (the r1
    // row_number() form funneled the full corpus through one
    // partition). A seed's id is its position in that order.
    val seeds = emb.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(c)
      .select(col("emb")).collect()
    val seedSchema = StructType(Seq(StructField("cluster_id", IntegerType, nullable = false),
      StructField("centroid", emb.schema("emb").dataType)))
    var cents = local(corpus, seedSchema,
      seeds.toSeq.zipWithIndex.map { case (r, i) => Row(i, r.get(0)) })
    // Lloyd update: each cell's positional mean, `vector_mean`'s
    // arithmetic, in ONE job over the assignment plan: every partition
    // folds its rows into one Sums per cell and treeAggregate combines
    // the buffers (one stage at a few partitions; it adds a level only
    // at many, so the driver never receives P full c·dim buffers). A
    // float sum is exact in double, so float means do not depend on
    // partitioning or merge order; double means do, to rounding. A
    // cell only NULL or empty embeddings reached has no mean and is
    // dropped; rows with no comparable centroid (a NULL cluster_id)
    // form their own cell.
    val meanSchema = StructType(Seq(StructField("cluster_id", IntegerType),
      StructField("centroid", ArrayType(DoubleType, containsNull = true))))
    var i = 0
    while (i < iters) {
      val assigned = index(corpus, cents)
      val et = assigned.schema("emb").dataType.asInstanceOf[ArrayType].elementType
      val sums = assigned.queryExecution.toRdd
        .treeAggregate(mutable.HashMap.empty[Option[Int], VectorMean.Sums])(
          (cells, row) => {
            val cell = if (row.isNullAt(1)) None else Some(row.getInt(1))
            cells.getOrElseUpdate(cell, new VectorMean.Sums(0))
              .add(row.getArray(2), et)
            cells
          },
          (a, b) => {
            b.foreach { case (cell, s) =>
              a.get(cell) match {
                case Some(sum) => sum.merge(s)
                case None => a(cell) = s
              }
            }
            a
          })
      cents = local(corpus, meanSchema, sums.toSeq.sortBy(_._1).flatMap { case (cell, s) =>
        Option(s.mean).map(m => Row(cell.map(Int.box).orNull, m.toSeq[Any](DoubleType)))
      })
      i += 1
    }
    cents
  }

  /** `rows` as a local relation in `like`'s session. */
  private def local(like: DataFrame, schema: StructType, rows: Seq[Row]): DataFrame =
    like.sparkSession.createDataFrame(rows.asJava, schema)

  /** Nearest-centroid assignment: `cents` is read once into a
    * [[CentroidSet]] leaf (no job for a local relation) and each row
    * picks its cell with the codegen'd `nearest_centroid` kernel — a
    * narrow per-row argmax, ZERO shuffles, no per-pair allocation. The
    * kernel ranks `(cosine, -cluster_id)` with Spark's double
    * ordering: NaN ranks highest (a zero vector ties every cell at
    * NaN), `-0.0 == 0.0`, and a tie goes to the smaller cluster_id —
    * the answer of the interpreted `aggregate` struct fold it
    * replaced, bit for bit (FunctionsSpec keeps that fold as the
    * reference). `cluster_id` is NULL for a NULL embedding, an empty
    * centroid set, or when no centroid has a comparable (equal-width,
    * non-NULL) vector. Each input row gets one output row: `emb` is
    * expected unique by vec_id, nothing here dedupes it.
    */
  private def assignTo(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      VectorFunctions.nearestCentroid(col("emb"), CentroidSet.of(cents)).as("cluster_id"),
      col("emb"))

  /** Corpus index: (vec_id, cluster_id, embedding). At scale, write
    * this partitioned by cluster_id once and reuse.
    */
  def index(corpus: DataFrame, cents: DataFrame): DataFrame =
    assignTo(corpus.select(col("vec_id"), col("embedding").as("emb")), cents)

  /** nprobe nearest cells per query: (query_id, cluster_id, q_emb).
    * The `nearest_centroids` kernel ranks the set read once from
    * `cents` per query row and the cells are exploded in place: a
    * narrow pass, no query-keyed exchange.
    */
  private def probe(qEmb: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    qEmb.select(col("query_id"),
      explode(VectorFunctions.nearestCentroids(col("q_emb"), CentroidSet.of(cents), nprobe))
        .as("cluster_id"),
      col("q_emb"))

  /** Score probed cells and keep the per-query top-k. */
  private def scoreAndRank(indexed: DataFrame, probed: DataFrame, k: Int): DataFrame = {
    val scored = indexed.join(broadcast(probed), Seq("cluster_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("sim", round(VectorFunctions.cosine(col("q_emb"), col("emb")), 4))
      .select(col("query_id"), col("vec_id").as("nbr_id"), col("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("sim"))
  }

  private def queryEmb(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** Approximate top-k: probe the `nprobe` nearest cells per query. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
           c: Int = 16, nprobe: Int = 4, iters: Int = 2): DataFrame = {
    val cents = centroids(corpus, c, iters)
    // cluster_id equality join == partition pruning on an indexed corpus
    scoreAndRank(index(corpus, cents), probe(queryEmb(queries), cents, nprobe), k)
  }

  /** IVF search over SQ8-QUANTIZED cells with exact rerank — the full
    * 100 TB ANN recipe: cells store 1-byte codes (4× less to read
    * than float32, 8× less than the double form), the coarse pass
    * scores queries against DEQUANTIZED candidates inside the probed
    * cells only, and the top `k·refine` survivors per query join back
    * to the raw corpus by vec_id (a broadcast point-lookup of a
    * query-bounded id set) for exact scoring. Asymmetric distance:
    * the query stays full-precision throughout.
    *
    * Both ranking passes pre-round and tie-break (id asc), so results
    * are deterministic; recall vs brute force is measured in
    * GroundTruthSpec.
    */
  def topKSq8(corpus: DataFrame, queries: DataFrame, k: Int,
              c: Int = 16, nprobe: Int = 4, refine: Int = 4,
              iters: Int = 2): DataFrame = {
    val stats = Quantize.statsRow(corpus, "embedding")
    val cents = centroids(corpus, c, iters)
    def dequantized(encoded: DataFrame): DataFrame =
      encoded.withColumn("deq", transform(col("codes"), (code, i) => {
        val mn = element_at(col("mns"), i + 1)
        val mx = element_at(col("mxs"), i + 1)
        mn + code.cast("double") * (mx - mn) / lit(255.0)
      }))
    // the stored form: codes only, no raw embedding in the cell
    val cells = index(corpus, cents)
      .crossJoin(broadcast(stats))
      .withColumn("codes", transform(col("emb"), (x, i) => {
        val mn = element_at(col("mns"), i + 1)
        val mx = element_at(col("mxs"), i + 1)
        when(mx === mn, lit(0L)).otherwise(
          floor((x - mn) / (mx - mn) * lit(255.0) + lit(0.5)).cast("long"))
      }))
      .select("vec_id", "cluster_id", "codes", "mns", "mxs")
    val probed = probe(queryEmb(queries), cents, nprobe)
    val coarseW = Window.partitionBy("query_id")
      .orderBy(col("qsim").desc, col("vec_id").asc)
    val candidates = dequantized(cells)
      .join(broadcast(probed), Seq("cluster_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("qsim", round(VectorFunctions.cosine(col("q_emb"), col("deq")), 4))
      .withColumn("crank", row_number().over(coarseW))
      .filter(col("crank") <= k * refine)
      .select("query_id", "vec_id", "q_emb")
    // exact rerank: candidate ids (≤ queries·k·refine rows) broadcast
    // against the raw corpus — a point lookup, not a corpus scan join
    val exact = candidates
      .join(corpus.select(col("vec_id"), col("embedding").as("emb")), Seq("vec_id"))
      .withColumn("sim", round(VectorFunctions.cosine(col("q_emb"), col("emb")), 4))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("nbr_id"), col("sim"))
  }

  /** Materialize the index: cells/ is the corpus PARTITIONED BY
    * cluster_id (each cell its own directory), centroids/ the tiny
    * centroid table. This is the 100 TB form — the k-means assignment
    * shuffle is paid once at write time, and every later search reads
    * only the probed cells' directories.
    */
  def writeIndex(corpus: DataFrame, path: String,
                 c: Int = 16, iters: Int = 2): Unit = {
    val cents = centroids(corpus, c, iters)
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    index(corpus, cents)
      .repartition(col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id").parquet(s"$path/cells")
  }

  /** Incremental index maintenance — the 100 TB ingest path: assign a
    * NEW batch to the EXISTING centroids and append its rows into the
    * partitioned cells/ layout. A nightly embedding batch must not
    * re-run k-means or rewrite the corpus: cell directories only gain
    * appended files, the centroid table is untouched, and every
    * later [[topKIndexed]] search sees the batch through the same
    * partition-pruned scan. Centroid drift under sustained appends is
    * a separate offline re-clustering/compaction, exactly as in
    * IVF-based vector stores.
    */
  def appendToIndex(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    val cents = Readers.parquet(spark, s"$path/centroids")
    index(batch, cents)
      .repartition(col("cluster_id"))
      .write.mode("append").partitionBy("cluster_id").parquet(s"$path/cells")
  }

  /** Fingerprint-staged build-then-append (the LshIngest.ensureIndex
    * pattern): build the index from `base` and append `batch` ONCE
    * per distinct input; a matching stamp skips both. Appends are not
    * idempotent on re-run (files accumulate), which is exactly why
    * the stamp guards the whole flow. Returns true when a build ran.
    */
  def ensureAppendedIndex(base: DataFrame, batch: DataFrame, path: String,
                          c: Int = 16, iters: Int = 2,
                          sourceFp: Option[String] = None): Boolean = {
    // caller-supplied SOURCE stamp (FS metadata, no scan) preferred;
    // the scan fallback coalesces its sums — sum() over an EMPTY
    // input is NULL and getLong then NPEs (r11 advice), while an
    // empty base/batch should fingerprint stably and build an empty
    // index. The id-sum doubles as a cheap content term only because
    // vec_ids are the identity here; regenerated embeddings under
    // unchanged ids are caught by the sourceFp path.
    val fp = sourceFp.map(s => s"src:${s}_c${c}_i$iters").getOrElse {
      def sig(df: DataFrame): String = {
        val r = df.agg(count(lit(1)), coalesce(sum(col("vec_id")), lit(0L))).head
        s"${r.getLong(0)}_${r.getLong(1)}"
      }
      s"${sig(base)}_${sig(batch)}_c${c}_i$iters"
    }
    val marker = java.nio.file.Paths.get(path, "_FINGERPRINT")
    val fresh = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim == fp
    if (!fresh) {
      writeIndex(base, path, c, iters)
      appendToIndex(batch, path)
      java.nio.file.Files.write(marker, fp.getBytes("UTF-8"))
    }
    !fresh
  }

  /** Search a written index. The union of probed cells is collected
    * to the driver — bounded by `c` (tens to low hundreds) regardless
    * of corpus size — and pushed into the scan as a LITERAL partition
    * filter, so the plan reads nprobe-ish/c of the data (PartitionFilters,
    * plan-asserted in spec). This, not the inline form, is what runs
    * against a 100 TB corpus.
    */
  def topKIndexed(path: String, queries: DataFrame, k: Int,
                  nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val cents = Readers.parquet(spark, s"$path/centroids")
    val probed = probe(queryEmb(queries), cents, nprobe).cache()
    val cells: Array[Int] = probed.select("cluster_id").distinct()
      .collect().map(_.getInt(0)).sorted
    val indexed = Readers.parquet(spark, s"$path/cells")
      .filter(col("cluster_id").isin(cells.map(x => x: Any): _*))
    scoreAndRank(indexed, probed, k)
  }
}
