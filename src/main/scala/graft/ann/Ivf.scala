package graft.ann

import graft.functions.{CentroidSet, CentroidTable, VectorFunctions, VectorMean}
import graft.sources.Readers
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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
  * Everything is deterministic: centroid seeds are the first C
  * vectors by xxhash64(vec_id) (a seedless pseudo-random draw),
  * refined by a fixed number of Lloyd iterations. Training plans its
  * corpus once, as one RDD, and runs `1 + iters` jobs over it: one
  * returns the row count and the corpus head in that hash order, and
  * each Lloyd iteration is one job with no exchange: every partition
  * assigns its rows with [[CentroidTable.assign]], the call
  * `nearest_centroid` makes, and folds them into one `VectorMean.Sums`
  * per cell (c·dim sums); the buffers combine in a `treeAggregate`,
  * and only the ≤ c means stay on the driver.
  *
  * Search ([[topK]], [[topKIndexed]]) is the distributed top-k: the
  * queries are collected to the driver and probe the set there, then
  * one job scores each corpus row against the queries probing its
  * cell. Its bound: queries·dim doubles go to each task, and each task
  * keeps a list of up to queries·k entries; no (query, row) pair is
  * materialized, shuffled or sorted.
  */
object Ivf {

  /** (cluster_id, centroid) — deterministic k-means with `iters`
    * Lloyd refinements, as a local relation sorted by cluster_id. The
    * seeds keep the stored element width (`iters = 0` returns them
    * as stored); each refinement's means are `array<double>` and drop
    * a cell no non-NULL embedding reached, so at most `c` rows come
    * back (none for an empty, all-NULL or all-zero corpus). Runs at
    * call time: `1 + iters` jobs over one plan of `corpus` ([[train]]).
    */
  def centroids(corpus: DataFrame, c: Int, iters: Int = 2): DataFrame =
    train(corpus, c, iters, sampled = false)(_ => c).cents

  /** A corpus planned once and what [[train]] learned on it. `rows`
    * are `(vec_id: long, xxhash64(vec_id), embedding)` with the
    * embedding's element type `et`; `table` is the final centroid set
    * as [[CentroidTable.assign]] reads it and `cents` the same set as
    * [[centroids]] returns it.
    */
  private[graft] final class Trained(val rows: RDD[InternalRow], val et: DataType,
      val table: CentroidTable, val cents: DataFrame)

  /** Trains centroids on `corpus` (vec_id, embedding), planned once.
    *
    * One job counts the rows and keeps the first `maxCells` of the
    * corpus head (a bounded heap per partition, merged by the tree):
    * the rows in `(xxhash64(vec_id), vec_id)` order (for a long id
    * the hash is `XXH64.hashLong(id, 42)`; a NULL id hashes to 42 and
    * sorts first among its hash), copies of one id in the order of
    * their vectors ([[compareVectors]]), skipping NULL embeddings and
    * those whose norm is not a positive number (zero: their cosine to
    * every row is NaN, which ranks highest, so a zero seed would pull
    * every row into its cell). With the count known, `cells(n)` (at
    * most `maxCells`) picks c, and the first c of the head are the
    * seeds, numbered in that order. With no seed there is nothing to
    * refine.
    *
    * Each Lloyd update is one job: a cell's positional mean,
    * `vector_mean`'s arithmetic, folded per partition into one Sums
    * per cell and combined by `treeAggregate` (one stage at a few
    * partitions; a level more only at many, so the driver never
    * receives P full c·dim buffers). A float sum is exact in double, so
    * float means do not depend on partitioning or merge order;
    * double means do, to rounding. A cell only NULL or empty
    * embeddings reached has no mean and is dropped; rows with no
    * comparable centroid (a NULL cluster_id) form their own cell.
    *
    * With `sampled`, once n > 256·c Lloyd trains on the rows with
    * `pmod(xxhash64(vec_id), n / (256·c) + 1) = 0` (the FAISS
    * convention: k-means converges on a sample, only the assignment
    * needs the full corpus), filtered as each pass reads the rows. The
    * seeds stay the first c of the whole corpus's head, so no second
    * seed pass runs; at n ≤ 256·c the sample is the corpus.
    */
  private[graft] def train(corpus: DataFrame, maxCells: Int, iters: Int, sampled: Boolean)(
      cells: Long => Int): Trained = {
    // keep the STORED element width (float for the testdata corpus):
    // rows are widened as they are read, so results are bit-identical
    // to an up-front toDouble while every pass moves half the bytes
    val planned = corpus.select(col("vec_id").cast(LongType), xxhash64(col("vec_id")),
      col("embedding"))
    val embType = planned.schema(2).dataType
    val et = embType.asInstanceOf[ArrayType].elementType
    val rows = planned.queryExecution.toRdd
    val head = rows.treeAggregate(new Head(maxCells, et))(_ add _, _ merge _)
    val c = math.min(cells(head.n), maxCells)
    val seeds = head.sorted.take(c)
    val every = if (sampled && head.n > 256L * c) head.n / (256L * c) + 1 else 1L
    // (cluster_id, centroid) in cluster_id order: the seeds at their
    // stored width, then each iteration's means
    var set: Seq[(Option[Int], ArrayData)] =
      seeds.toSeq.zipWithIndex.map { case (s, i) => (Some(i), s.emb) }
    var table = CentroidTable(set, et)
    for (_ <- 0 until (if (seeds.isEmpty) 0 else iters)) {
      val t = table
      val sums = rows.mapPartitions { it =>
        val cells: CellSums = mutable.HashMap.empty
        var x = new Array[Double](0)
        it.foreach { row =>
          if (every == 1L || java.lang.Math.floorMod(row.getLong(1), every) == 0L) {
            val emb = if (row.isNullAt(2)) null else row.getArray(2)
            val j = if (emb == null) -1 else {
              if (x.length != emb.numElements()) x = new Array[Double](emb.numElements())
              t.assign(emb, et, x)
            }
            cells.getOrElseUpdate(if (j < 0 || t.idNull(j)) None else Some(t.ids(j)),
              new VectorMean.Sums(0)).add(emb, et)
          }
        }
        Iterator.single(cells)
      }.treeAggregate(mutable.HashMap.empty: CellSums)(merge, merge)
      set = sums.toSeq.sortBy(_._1).flatMap { case (cell, s) => Option(s.mean).map(cell -> _) }
      table = CentroidTable(set, DoubleType)
    }
    val (schema, vt) =
      if (iters == 0) (StructType(Seq(StructField("cluster_id", IntegerType, nullable = false),
        StructField("centroid", embType))), et)
      else (StructType(Seq(StructField("cluster_id", IntegerType),
        StructField("centroid", ArrayType(DoubleType, containsNull = true)))), DoubleType)
    val cents = local(corpus, schema, set.map { case (cell, v) =>
      Row(cell.map(Int.box).orNull, v.toSeq[Any](vt)) })
    new Trained(rows, et, table, cents)
  }

  /** Per-cell sums; a NULL cluster_id is the cell `None`. */
  private type CellSums = mutable.HashMap[Option[Int], VectorMean.Sums]

  /** Adds `b`'s cell sums into `a`. */
  private def merge(a: CellSums, b: CellSums): CellSums = {
    b.foreach { case (cell, s) =>
      a.get(cell) match {
        case Some(sum) => sum.merge(s)
        case None => a(cell) = s
      }
    }
    a
  }

  /** Orders two widened vectors element by element with
    * `java.lang.Double.compare`, a shorter prefix first; NULL first.
    */
  private[graft] def compareVectors(a: Array[Double], b: Array[Double]): Int =
    if (a == null || b == null) java.lang.Boolean.compare(a != null, b != null)
    else {
      var i = 0
      while (i < a.length && i < b.length && java.lang.Double.compare(a(i), b(i)) == 0) i += 1
      if (i < a.length && i < b.length) java.lang.Double.compare(a(i), b(i))
      else Integer.compare(a.length, b.length)
    }

  /** A seed candidate: its place in the hash order and its stored
    * embedding.
    */
  private final class Seed(val hash: Long, val id: java.lang.Long, val emb: ArrayData)
    extends Serializable

  /** Hash ascending, then a NULL id first, then id ascending, then
    * the vectors (of element type `et`) by [[compareVectors]].
    */
  private final class SeedOrder(et: DataType) extends Ordering[Seed] {
    /** `(hash, id)` against `b`'s. */
    def compareKey(hash: Long, id: java.lang.Long, b: Seed): Int = {
      val byHash = java.lang.Long.compare(hash, b.hash)
      if (byHash != 0) byHash
      else if (id == null || b.id == null) java.lang.Boolean.compare(id != null, b.id != null)
      else java.lang.Long.compare(id, b.id)
    }

    private def widened(v: ArrayData): Array[Double] = {
      val x = new Array[Double](v.numElements())
      CentroidTable.widen(v, et, x)
      x
    }

    def compare(a: Seed, b: Seed): Int = {
      val byKey = compareKey(a.hash, a.id, b)
      if (byKey != 0) byKey else compareVectors(widened(a.emb), widened(b.emb))
    }
  }

  /** The row count and the first `k` seed candidates in [[SeedOrder]]:
    * a bounded max-heap per partition, merged by the tree. A row is
    * widened and copied only when its key can still enter the heap.
    */
  private final class Head(k: Int, et: DataType) extends Serializable {
    var n = 0L
    private val order = new SeedOrder(et)
    private val heap = new java.util.PriorityQueue[Seed](math.max(1, k), order.reverse)

    def add(row: InternalRow): Head = {
      n += 1
      if (k > 0 && !row.isNullAt(2)) {
        val (hash, id) = (row.getLong(1), if (row.isNullAt(0)) null else Long.box(row.getLong(0)))
        if (heap.size < k || order.compareKey(hash, id, heap.peek()) <= 0) {
          val emb = row.getArray(2)
          val norm = CentroidTable.widen(emb, et, new Array[Double](emb.numElements()))
          if (norm > 0 && norm < Double.PositiveInfinity) offer(new Seed(hash, id, emb.copy()))
        }
      }
      this
    }

    private def offer(s: Seed): Unit =
      if (heap.size < k) heap.add(s)
      else if (order.lt(s, heap.peek())) {
        heap.poll()
        heap.add(s)
      }

    def merge(o: Head): Head = {
      n += o.n
      o.heap.forEach(s => offer(s))
      this
    }

    def sorted: Array[Seed] = heap.toArray(new Array[Seed](0)).sorted(order)
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
    * non-NULL) vector. Each input row gets one output row, so a
    * repeated vec_id gives a row per copy; the search lists an id once
    * ([[TopK]]).
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

  private def queryEmb(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** Approximate top-k: `(query_id, rank: long, nbr_id, sim)`, at most
    * k rows per distinct query_id, ranked by `sim` descending (NaN
    * highest, NULL last) then `nbr_id` ascending, where `sim` is
    * `round(cosine_sim(q, x), 4)` over the rows of the query's
    * `nprobe` nearest cells, its own id and NULL ids excluded. A
    * neighbour id is listed once, at its best score over its copies
    * and over the rows of a repeated query_id. Returned as a local
    * relation: building it trains the centroids (`1 + iters` jobs over
    * one plan of `corpus`), collects the queries (one job, none for a
    * local relation) and runs the search (one job, [[search]]) over
    * the trained rows.
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
           c: Int = 16, nprobe: Int = 4, iters: Int = 2): DataFrame =
    topKScored(corpus, queries, k, c, nprobe, iters)._1

  /** [[topK]] and the number of (query, row) pairs its search scored. */
  private[graft] def topKScored(corpus: DataFrame, queries: DataFrame, k: Int,
      c: Int, nprobe: Int, iters: Int): (DataFrame, Long) = {
    val trained = train(corpus, c, iters, sampled = false)(_ => c)
    search(corpus.sparkSession, trained.rows, trained.et, Some(trained.table),
      Probes(queries, trained.table, nprobe), k, corpus.schema("vec_id"))
  }

  /** The queries of a search, collected to the driver once. Per query
    * row with a non-NULL id: the list it ranks into (one per distinct
    * query_id, `listIds`), its id, its widened vector and norm (the
    * vector is null when the embedding is NULL or holds a NULL: every
    * cosine is then NULL) and the cells it probes, its `nprobe` first
    * by [[CentroidTable.top]] (the `nearest_centroids` kernel).
    */
  private final class Probes(val idField: StructField, val listIds: Array[Long],
      val list: Array[Int], val ids: Array[Long], val vecs: Array[Array[Double]],
      val norms: Array[Double], val byCell: Map[Int, Array[Int]]) {
    /** The probed cells, ascending. */
    def cells: Seq[Int] = byCell.keys.toSeq.sorted
  }

  private object Probes {
    def apply(queries: DataFrame, table: CentroidTable, nprobe: Int): Probes = {
      val frame = queries.select(col("vec_id").cast(LongType), col("embedding"))
      val et = frame.schema(1).dataType.asInstanceOf[ArrayType].elementType
      // the rows of the executed plan: a local relation is read with
      // no job, any other plan is one
      val rows = frame.queryExecution.executedPlan.executeCollect().filterNot(_.isNullAt(0))
      val ids = rows.map(_.getLong(0))
      val embs = rows.map(r => if (r.isNullAt(1)) null else r.getArray(1))
      val byCell = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Int]]
      embs.zipWithIndex.foreach { case (emb, i) =>
        val cells = table.top(emb, et, nprobe)
        (0 until cells.numElements()).filterNot(cells.isNullAt).foreach { j =>
          byCell.getOrElseUpdate(cells.getInt(j), mutable.ArrayBuffer.empty) += i
        }
      }
      val vecs = embs.map(emb => if (emb == null) null else new Array[Double](emb.numElements()))
      val norms = embs.indices.map(i =>
        if (vecs(i) == null) -1.0 else CentroidTable.widen(embs(i), et, vecs(i))).toArray
      val listIds = ids.distinct
      val listOf = listIds.zipWithIndex.toMap
      new Probes(queries.schema("vec_id"), listIds, ids.map(listOf), ids,
        vecs.indices.map(i => if (norms(i) < 0) null else vecs(i)).toArray, norms,
        byCell.map { case (cell, qs) => cell -> qs.toArray }.toMap)
    }
  }

  /** The search of [[topK]] and [[topKIndexed]], one job over `rows`:
    * `(vec_id: long, cell, embedding)`, the embedding's elements of
    * type `et`. With `assign` each row's cell is the centroid
    * [[CentroidTable.assign]] picks (the `cell` column is not read);
    * without, it is the `cell` column, an int `cluster_id`. A row is
    * scored against each query row probing its cell, skipping a NULL
    * id and the query's own: [[CosineSimilarity]]'s arithmetic, the
    * row's norm computed once. Each score is offered to its query's
    * [[TopK]], which rounds it (Spark's `round(sim, 4)`) only when it
    * can enter. The query vectors (queries·dim doubles) go to each
    * task, each task keeps a list of up to k per query_id, the lists
    * merge in a `treeAggregate`, and the driver emits them ranked as a
    * local relation: `(query_id, rank, nbr_id, sim)`, the ids typed
    * as `p.idField` and `nbrField`. Also returns the pairs scored.
    */
  private def search(spark: SparkSession, rows: RDD[InternalRow], et: DataType,
      assign: Option[CentroidTable], p: Probes, k: Int, nbrField: StructField): (DataFrame, Long) = {
    val (qId, nbrId) = (boxId(p.idField.dataType), boxId(nbrField.dataType))
    // the task closure reads these, not the driver-side Probes
    val (nLists, list, ids, vecs, norms, byCell) =
      (p.listIds.length, p.list, p.ids, p.vecs, p.norms, p.byCell)
    val zero = new Ranked(nLists, k)
    val ranked = if (byCell.isEmpty) zero else rows.mapPartitions { it =>
      val acc = new Ranked(nLists, k)
      var x = new Array[Double](0)
      it.foreach { row =>
        val emb = if (row.isNullAt(2)) null else row.getArray(2)
        if (emb != null && x.length != emb.numElements()) x = new Array[Double](emb.numElements())
        val norm = if (emb == null) -1.0 else CentroidTable.widen(emb, et, x)
        val probing = assign match {
          case Some(t) =>
            // CentroidTable.assign, with the widened row kept for scoring
            val j = if (norm < 0) -1 else t.nearest(x, norm)
            if (j < 0 || t.idNull(j)) null else byCell.getOrElse(t.ids(j), null)
          case None => if (row.isNullAt(1)) null else byCell.getOrElse(row.getInt(1), null)
        }
        if (probing != null && !row.isNullAt(0)) {
          val id = row.getLong(0)
          probing.foreach { q =>
            if (ids(q) != id) {
              val v = vecs(q)
              // cosine_sim is NULL for a NULL element or unequal widths
              val isNull = v == null || norm < 0 || v.length != x.length
              var dot = 0.0
              var i = 0
              while (!isNull && i < v.length) {
                dot += v(i) * x(i)
                i += 1
              }
              acc.scored += 1
              acc.lists(list(q)).offer(isNull, if (isNull) 0.0 else dot / (norms(q) * norm), id)
            }
          }
        }
      }
      Iterator.single(acc)
    }.treeAggregate(zero)(_ merge _, _ merge _)
    val schema = StructType(Seq(
      StructField("query_id", p.idField.dataType, p.idField.nullable, p.idField.metadata),
      StructField("rank", LongType, nullable = false),
      StructField("nbr_id", nbrField.dataType, nbrField.nullable, nbrField.metadata),
      StructField("sim", DoubleType)))
    val out = for {
      (l, h) <- ranked.lists.toSeq.zipWithIndex
      r <- 0 until l.size
    } yield Row(qId(p.listIds(h)), (r + 1).toLong, nbrId(l.id(r)), l.sim(r))
    (spark.createDataFrame(out.asJava, schema), ranked.scored)
  }

  /** The typed value of a long id for an integral id column. */
  private def boxId(t: DataType): Long => Any = t match {
    case LongType => identity
    case IntegerType => _.toInt
    case ShortType => _.toShort
    case ByteType => _.toByte
    case other => throw new IllegalArgumentException(
      s"IVF vec_id must be integral, got ${other.catalogString}")
  }

  /** Per query_id list, the [[TopK]] of each, and the pairs scored. */
  private final class Ranked(n: Int, k: Int) extends Serializable {
    val lists: Array[TopK] = Array.fill(n)(new TopK(k))
    var scored = 0L

    def merge(o: Ranked): Ranked = {
      lists.indices.foreach(i => lists(i).merge(o.lists(i)))
      scored += o.scored
      this
    }
  }

  /** One query_id's best `k` neighbours so far, best first, in the
    * order of `row_number() OVER (ORDER BY sim DESC, nbr_id ASC)`:
    * `sim` under Spark's double ordering (NaN highest, `-0.0 == 0.0`),
    * NULL last, then id ascending. An id is listed once, at its best
    * score: an entry it beats is replaced, so a list never holds an id
    * twice, and merging lists gives the list of all their offers.
    */
  private final class TopK(k: Int) extends Serializable {
    private var n = 0
    private var nulls = new Array[Boolean](0)
    private var sims = new Array[Double](0)
    private var ids = new Array[Long](0)

    def size: Int = n
    def id(i: Int): Long = ids(i)
    def sim(i: Int): Any = if (nulls(i)) null else sims(i)

    /** Whether `(isNull, s, id)` ranks before entry `i`. */
    private def before(isNull: Boolean, s: Double, id: Long, i: Int): Boolean =
      if (isNull != nulls(i)) !isNull
      else {
        val c = if (isNull) 0 else SQLOrderingUtil.compareDoubles(s, sims(i))
        if (c != 0) c > 0 else id < ids(i)
      }

    /** Offers a pair's cosine, `isNull` for a NULL one. It is rounded
      * only when it can enter: rounding to 4 places moves a cosine by
      * at most 0.00005, so one more than 0.0001 below a full list's
      * last entry rounds below it too.
      */
    def offer(isNull: Boolean, cos: Double, id: Long): Unit =
      if (k > 0 && !(n == k && !nulls(n - 1) && (isNull || cos + 1e-4 < sims(n - 1))))
        add(isNull, if (isNull) cos else round4(cos), id)

    private def add(isNull: Boolean, s: Double, id: Long): Unit =
      if (n < k || before(isNull, s, id, n - 1)) {
        var at = 0
        while (at < n && ids(at) != id) at += 1
        if (at == n || before(isNull, s, id, at)) {
          if (at < n) {
            // the id's earlier, worse entry leaves
            System.arraycopy(nulls, at + 1, nulls, at, n - at - 1)
            System.arraycopy(sims, at + 1, sims, at, n - at - 1)
            System.arraycopy(ids, at + 1, ids, at, n - at - 1)
            n -= 1
          } else if (n == k) n -= 1
          if (n == ids.length) {
            val cap = math.min(k, math.max(4, 2 * n))
            nulls = java.util.Arrays.copyOf(nulls, cap)
            sims = java.util.Arrays.copyOf(sims, cap)
            ids = java.util.Arrays.copyOf(ids, cap)
          }
          var i = n
          while (i > 0 && before(isNull, s, id, i - 1)) {
            nulls(i) = nulls(i - 1); sims(i) = sims(i - 1); ids(i) = ids(i - 1)
            i -= 1
          }
          nulls(i) = isNull; sims(i) = s; ids(i) = id
          n += 1
        }
      }

    def merge(o: TopK): Unit = (0 until o.n).foreach(i => add(o.nulls(i), o.sims(i), o.ids(i)))
  }

  /** Spark's `round(d, 4)`, evaluated by its `Round` expression: HALF_UP
    * on the double's decimal string; NaN and infinities pass unchanged.
    */
  private def round4(d: Double): Double =
    Round(Literal(d), Literal(4)).eval().asInstanceOf[Double]

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
    graft.Tables.ensureStaged(path, fp) {
      writeIndex(base, path, c, iters)
      appendToIndex(batch, path)
    }
  }

  /** Search a written index: [[topK]]'s result over its cells. The
    * centroid table is read into a set (one scan job) and the queries
    * probe it on the driver, so the probed cells are known before the
    * cells are read: their union, bounded by `c` (tens to low hundreds)
    * regardless of corpus size, reaches the scan as a LITERAL partition
    * filter ([[cellScan]]), and the search reads each row's
    * `cluster_id` from its directory. This, not the inline form, is what
    * runs against a 100 TB corpus. Building it starts three jobs: the
    * centroid read, the query collect and the search.
    */
  def topKIndexed(path: String, queries: DataFrame, k: Int,
                  nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val table = CentroidSet.read(Readers.parquet(spark, s"$path/centroids")).table
    val p = Probes(queries, table, nprobe)
    val cells = cellScan(spark, path, p.cells)
    val et = cells.schema("emb").dataType.asInstanceOf[ArrayType].elementType
    search(spark, cells.select(col("vec_id").cast(LongType), col("cluster_id"), col("emb"))
      .queryExecution.toRdd, et, None, p, k, cells.schema("vec_id"))._1
  }

  /** The rows of `cells` in the index at `path`: the scan carries them
    * as `PartitionFilters`, so it reads those cell directories only.
    */
  private[graft] def cellScan(spark: SparkSession, path: String, cells: Seq[Int]): DataFrame =
    Readers.parquet(spark, s"$path/cells").filter(col("cluster_id").isin(cells.map(x => x: Any): _*))
}
