package graft.dedup

import graft.ann.Ivf
import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.InternalFrame
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** SemDeDup — semantic (embedding-space) deduplication via cluster-
  * scoped pairwise cosine (Abbas et al. 2023, "SemDeDup: Data-efficient
  * learning at web-scale through semantic deduplication",
  * arXiv:2303.09540). The published recipe for deduplicating LAION/
  * web-scale corpora by MEANING rather than surface form:
  *
  *   1. k-means the embedding corpus into C cells (deterministic
  *      Lloyd — [[graft.ann.Ivf.train]], the same coarse quantizer
  *      the IVF ANN index uses);
  *   2. ONLY within each cell, compare all pairs by cosine;
  *   3. for every pair above `eps`, keep one document and drop the
  *      other.
  *
  * Step 2 is what makes the quadratic affordable at 100 TB: the
  * all-pairs grid is cluster-diagonal, so cost is Σ|cell|² ≈ n²/C —
  * C grows with the corpus ([[autoCells]]; the paper uses 50k
  * clusters for 100M+ embeddings) so each cell's block stays small
  * regardless of corpus size. In Spark terms: the corpus is planned
  * once; training runs on it while the frame is built (the row count
  * rides the seed pass: `1 + iters` jobs), and the verdict is one
  * more job over the same rows. Each row is assigned its cell on the
  * map side, and `((cluster_id, vec_id), decoded double[])` is hash-
  * shuffled by cell and sorted within each partition, so a cell's rows
  * arrive together in id order; a per-cell kernel scans them and emits
  * one `(vec_id, cluster_id, removed)` row per input row. Nothing
  * joins or re-reads the index. Cross-cell near-dups are missed by
  * construction — that is SemDeDup's documented recall trade, not an
  * implementation gap (the MinHash-LSH family covers surface dups;
  * this operator targets semantic ones).
  *
  * Bound: a cell is one task's buffer. At the 4096-cell cap, 100M ×
  * 768-float vectors are ~24k rows per cell: ~75 MB as floats, twice
  * that as the kernel's decoded doubles, and ~24k²/2 cosines.
  *
  * Keep policy: within a dup pair the SMALLER `vec_id` survives —
  * remove x iff ∃ y earlier in the same cell with cos(x,y) ≥ eps,
  * where earlier means a smaller vec_id. The paper orders by
  * distance-to-centroid (keeping the outlier); id-priority is the
  * deterministic form of the same "keep exactly one per neighborhood"
  * rule — the greedy min-id sweep (remove anything dominated by a
  * smaller surviving-or-not id) needs no iteration, and is
  * reproducible across engines, partitionings and retries.
  * Degenerate rows:
  *  - copies of one vec_id in a cell are taken in the order of their
  *    vectors (element by element, `java.lang.Double.compare`): a
  *    later copy within `eps` of an earlier one is removed, so of
  *    same-cell copies within `eps` exactly one — the first in that
  *    order — survives unless a smaller id removes it too; each copy
  *    gets its own output row;
  *  - a NaN or NULL cosine (a zero vector, unequal widths) is never a
  *    match;
  *  - a row with a NULL vec_id or no cell (a NULL embedding, or one
  *    holding a NULL) is never removed and removes nothing.
  * GroundTruthSpec pins the semantics: planted scaled duplicates
  * (cos = 1, so co-clustered by construction) lose exactly their
  * higher ids; well-separated vectors survive untouched. DedupSpec
  * keeps the left-semi self-join form this kernel replaced as its
  * reference.
  */
object SemDeDup {

  /** The most cells [[autoCells]] picks. */
  private val MaxCells = 4096

  /** The cell count the paper's C ∝ n rule implies for this runtime
    * shape. Inline cost is `n·c` assignment cosines (once, in the
    * verdict's map side; Lloyd trains on a capped sample) plus
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
    math.max(8, math.min(MaxCells, math.sqrt(n.toDouble).round.toInt))

  /** Per-vector verdict: (vec_id, cluster_id, removed), one row per
    * input row. `emb` needs (vec_id, embedding) with an integral
    * vec_id; `eps` is the cosine threshold (the paper sweeps
    * 0.7–0.95). The cell count is auto-scaled to the corpus, counted
    * by the seed pass, and centroid TRAINING is capped at 256·c
    * hash-sampled rows (the FAISS training convention: Lloyd
    * converges on a sample; only the one-pass assignment needs the
    * full corpus), drawn by a deterministic hash filter as each Lloyd
    * pass reads the rows ([[graft.ann.Ivf.train]]). Building the frame
    * runs the `1 + iters` training jobs; reading it runs one more.
    */
  def verdictsAuto(emb: DataFrame, eps: Double, iters: Int = 2): DataFrame = {
    val t = Ivf.train(emb, MaxCells, iters, sampled = true)(autoCells)
    val (table, et) = (t.table, t.et)
    val keyed = t.rows.map { row =>
      val v = if (row.isNullAt(2)) null else row.getArray(2)
      val x = if (v == null) null else new Array[Double](v.numElements())
      val j = if (v == null) -1 else table.assign(v, et, x)
      val noCell = j < 0 || table.idNull(j)
      (Key(if (noCell) 0 else table.ids(j), noCell,
        if (row.isNullAt(0)) 0L else row.getLong(0), row.isNullAt(0)),
        if (noCell) null else x)
    }
    val parts = emb.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val verdicts = keyed.repartitionAndSortWithinPartitions(new ByCell(parts))
      .mapPartitions(cellScan(_, eps))
    InternalFrame(emb.sparkSession, verdicts, StructType(Seq(
      StructField("vec_id", LongType), StructField("cluster_id", IntegerType),
      StructField("removed", BooleanType, nullable = false))))
  }

  /** A row's shuffle key: its cell (`noCell` for a NULL cluster_id)
    * and vec_id (`idNull` for NULL).
    */
  private final case class Key(cell: Int, noCell: Boolean, id: Long, idNull: Boolean)

  /** Rows without a cell first, then by cell; within a cell NULL ids
    * first, then by id.
    */
  private implicit val keyOrder: Ordering[Key] = new Ordering[Key] {
    def compare(a: Key, b: Key): Int =
      if (a.noCell != b.noCell) java.lang.Boolean.compare(b.noCell, a.noCell)
      else if (a.cell != b.cell) Integer.compare(a.cell, b.cell)
      else if (a.idNull != b.idNull) java.lang.Boolean.compare(b.idNull, a.idNull)
      else java.lang.Long.compare(a.id, b.id)
  }

  /** Every row of a cell to one partition. */
  private final class ByCell(n: Int) extends Partitioner {
    private val byHash = new HashPartitioner(n)
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key match {
      case k: Key => if (k.noCell) 0 else byHash.getPartition(k.cell)
    }
  }

  /** The per-cell kernel over one partition's rows in [[keyOrder]]:
    * a row is removed when an earlier row of its cell is within `eps`
    * (`dot / (‖x‖·‖y‖)`, [[graft.functions.CosineSimilarity]]'s
    * arithmetic, each norm computed once per row in index order); the
    * scan stops at the first hit.
    */
  private def cellScan(rows: Iterator[(Key, Array[Double])], eps: Double): Iterator[InternalRow] = {
    val in = rows.buffered
    val (vecs, norms) = (ArrayBuffer.empty[Array[Double]], ArrayBuffer.empty[Double])
    var cell: Key = null
    def hit(x: Array[Double], nx: Double, j: Int): Boolean = vecs(j).length == x.length && {
      val y = vecs(j)
      var dot = 0.0
      var i = 0
      while (i < x.length) {
        dot += x(i) * y(i)
        i += 1
      }
      dot / (nx * norms(j)) >= eps
    }
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val key = in.head._1
      val run = ArrayBuffer.empty[Array[Double]]
      while (in.hasNext && in.head._1 == key) run += in.next()._2
      if (cell == null || cell.noCell != key.noCell || cell.cell != key.cell) {
        vecs.clear()
        norms.clear()
        cell = key
      }
      val (id, cid) = (if (key.idNull) null else key.id, if (key.noCell) null else key.cell)
      if (key.noCell || key.idNull) run.iterator.map(_ => InternalRow(id, cid, false))
      else run.sortWith(Ivf.compareVectors(_, _) < 0).iterator.map { x =>
        var sq = 0.0
        x.foreach(xi => sq += xi * xi)
        val nx = math.sqrt(sq)
        val removed = vecs.indices.exists(hit(x, nx, _))
        vecs += x
        norms += nx
        InternalRow(id, cid, removed)
      }
    }
  }
}
