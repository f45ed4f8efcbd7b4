package graft

import org.apache.spark.sql.functions._
import graft.dedup.{MinHashLSH, NgramJaccard, SimHash}
import graft.ann.Knn

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away today " +
    "while birds sing in the tall green trees near the old stone bridge"
  private lazy val docs = Seq(
    (1L, base),
    (2L, base + " extra"),                      // near-dup of 1
    (3L, "completely different text about database systems and query engines " +
      "with columnar storage vectorized execution and cost based optimizers"),
    (4L, "another unrelated document discussing mountains rivers valleys oceans " +
      "deserts forests and the weather patterns across continental regions")
  ).toDF("doc_id", "text")

  test("MinHashLSH finds the planted near-dup pair and nothing else") {
    val sigs = MinHashLSH.signatures(docs, "doc_id", "text")
    val pairs = MinHashLSH.candidatePairs(MinHashLSH.bands(sigs, numBands = 16, rowsPerBand = 4))
    val verified = MinHashLSH.verifiedPairs(sigs, pairs, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verified == Set((1L, 2L)))
  }

  test("MinHashLSH summary has one row per doc") {
    val s = MinHashLSH.nearDupSummary(docs, "doc_id", "text")
    assert(s.count() == 4)
    val dup = s.filter(col("doc_id") === 1).select("is_near_dup").as[Boolean].head()
    assert(dup)
  }

  test("SimHash: identical docs at hamming 0; summary one row per doc") {
    val d2 = Seq((1L, base), (2L, base), (3L, "other words entirely")).toDF("doc_id", "text")
    val pairs = SimHash.nearDupPairs(d2, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 0L)))
    assert(SimHash.summary(docs, "doc_id", "text").count() == 4)
  }

  test("NgramJaccard pairs: planted pair scores high") {
    val p = NgramJaccard.pairs(docs, "doc_id", "text", k = 3, threshold = 0.3, maxDf = 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(p.map(t => (t._1, t._2)) == Seq((1L, 2L)))
    assert(p.head._3 > 0.8)
  }

  test("bruteForceTopK: exact self-similarity ranks duplicates first") {
    val emb = Tables.embeddings(spark, sf())
    val q = emb.filter(col("vec_id") < 3)
    val top = Knn.bruteForceTopK(emb, q, k = 3)
    assert(top.groupBy("query_id").count().select("count").as[Long].collect().forall(_ == 3))
    // rank column is dense 1..k per query
    val ranks = top.filter(col("query_id") === 0).select("rank").as[Long].collect().sorted.toSeq
    assert(ranks == Seq(1L, 2L, 3L))
  }

  test("ivfTopK recall against brute force is reasonable") {
    val emb = Tables.embeddings(spark, sf()).cache()
    try {
      val q = emb.filter(col("vec_id") < 8)
      val exact = Knn.bruteForceTopK(emb, q, k = 5)
        .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
      val approx = graft.ann.Ivf.topK(emb, q, k = 5, c = 16, nprobe = 6)
        .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
      val recall = (exact intersect approx).size.toDouble / exact.size
      assert(recall > 0.2, s"recall=$recall")
    } finally emb.unpersist()
  }

  test("IVF index over an empty centroid set assigns NULL, not Int.MinValue") {
    val emb = Tables.embeddings(spark, sf()).limit(20)
    val noCents = Seq.empty[(Int, Seq[Double])].toDF("cluster_id", "centroid")
    val cells = graft.ann.Ivf.index(emb, noCents)
      .select("cluster_id").as[Option[Int]].collect().toSeq
    assert(cells == Seq.fill(20)(None), cells)
  }

  test("IVF Lloyd over an empty corpus gives no centroids") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(graft.ann.Ivf.centroids(empty, c = 16).count() == 0)
  }

  test("IVF Lloyd over one row gives that row, widened to double, as the only centroid") {
    val row = Seq(0.1f, -2.5f, 0.0f, 3.3f)
    val one = Seq((7L, row)).toDF("vec_id", "embedding")
    val cents = graft.ann.Ivf.centroids(one, c = 16)
      .as[(Option[Int], Seq[Double])].collect().toSeq
    assert(cents == Seq((Some(0), row.map(_.toDouble))), cents)
  }

  test("IVF Lloyd: a NULL-embedding row creates no centroid") {
    val corpus = Seq((0L, Some(Seq(1.0f, 0.0f))), (1L, None), (2L, Some(Seq(0.0f, 1.0f))))
      .toDF("vec_id", "embedding")
    val cents = graft.ann.Ivf.centroids(corpus, c = 16)
      .as[(Option[Int], Seq[Double])].collect().toSeq
    assert(cents.size == 2 && cents.forall(_._1.nonEmpty), cents)
    assert(cents.map(_._2).toSet == Set(Seq(1.0, 0.0), Seq(0.0, 1.0)), cents)
  }

  test("IVF Lloyd with more cells than rows gives one centroid per distinct row") {
    val rows = Seq(Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f), Seq(0.0f, 0.0f, 1.0f))
    val corpus = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    val cents = graft.ann.Ivf.centroids(corpus, c = 16)
      .as[(Option[Int], Seq[Double])].collect().toSeq
    assert(cents.size == 3 && cents.flatMap(_._1).distinct.size == 3, cents)
    assert(cents.map(_._1) == cents.map(_._1).sorted, s"not sorted by cluster_id: $cents")
    assert(cents.map(_._2).toSet == rows.map(_.map(_.toDouble)).toSet, cents)
  }

  test("IVF Lloyd with iters = 0 returns the seeds at their stored float width") {
    val corpus = (0L until 10L).map(i => (i, Seq(i.toFloat, 1.0f))).toDF("vec_id", "embedding")
    val cents = graft.ann.Ivf.centroids(corpus, c = 4, iters = 0)
    assert(cents.schema("centroid").dataType == corpus.schema("embedding").dataType, cents.schema)
    // ids number the seeds in (xxhash64(vec_id), vec_id) order
    val expected = corpus.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(4)
      .select("embedding").as[Seq[Float]].collect().toSeq
    val got = cents.as[(Int, Seq[Float])].collect().toSeq
    assert(got == expected.zipWithIndex.map { case (v, i) => (i, v) }, got)
  }

  test("IVF Lloyd over an all-NULL corpus gives no centroids and NULL cells") {
    val corpus = Seq((0L, Option.empty[Seq[Float]]), (1L, None), (2L, None))
      .toDF("vec_id", "embedding")
    val cents = graft.ann.Ivf.centroids(corpus, c = 16)
    assert(cents.count() == 0, cents.collect().toSeq)
    val cells = graft.ann.Ivf.index(corpus, cents)
      .select("cluster_id").as[Option[Int]].collect().toSeq
    assert(cells == Seq(None, None, None), cells)
  }

  /** The Lloyd update `Ivf.centroids` replaced: from the same seeds,
    * each iteration is one `vector_mean` aggregate grouped by the
    * assigned cell, its non-NULL means collected sorted by cluster_id.
    */
  private def lloydByAggregate(corpus: org.apache.spark.sql.DataFrame, c: Int,
      iters: Int): org.apache.spark.sql.DataFrame = {
    var cents = graft.ann.Ivf.centroids(corpus, c, iters = 0)
    for (_ <- 0 until iters) {
      val means = graft.ann.Ivf.index(corpus, cents)
        .groupBy("cluster_id")
        .agg(graft.functions.VectorFunctions.vectorMean(col("emb")).as("centroid"))
        .filter(col("centroid").isNotNull)
      val rows = means.collect().toSeq.sortBy(r => Option(r.getAs[Integer](0)).map(_.intValue))
      cents = spark.createDataFrame(java.util.Arrays.asList(rows: _*), means.schema)
    }
    cents
  }

  test("IVF Lloyd gives the vector_mean aggregate's centroids at any partitioning") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(20261019L)
    // 8-wide rows, NULL embeddings, and 5-wide rows that no seed
    // matches, so they land in a NULL-cluster_id cell of their own
    val rows: Seq[Row] = (0 until 240).map { i =>
      val v: Seq[Float] =
        if (i % 37 == 5) null
        else if (i % 53 == 7) Seq.fill(5)(rnd.nextGaussian().toFloat)
        else Seq.fill(8)((rnd.nextGaussian() + (i % 3)).toFloat)
      Row(i.toLong, v)
    }
    def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)
    for (width <- Seq("float", "double")) {
      val schema = StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(if (width == "float") FloatType else DoubleType))))
      val typed = if (width == "float") rows
        else rows.map(r => Row(r.getLong(0), Option(r.getSeq[Float](1)).map(_.map(_.toDouble)).orNull))
      // `p` partitions; every odd-numbered one is empty
      def corpus(p: Int) = {
        val full = (p + 1) / 2
        val chunks = typed.grouped((typed.size + full - 1) / full).toSeq
        val parts = (0 until p).map(k => if (k % 2 == 0) chunks(k / 2) else Seq.empty[Row])
        val df = spark.createDataFrame(spark.sparkContext.parallelize(parts, p).flatMap(identity), schema)
        assert(df.rdd.getNumPartitions == p)
        df
      }
      val ref = lloydByAggregate(corpus(1), c = 6, iters = 2)
      val want = ref.as[(Option[Int], Seq[Double])].collect().toSeq
      assert(want.exists(_._1.isEmpty) && want.size > 3, s"$width: $want")
      for (p <- Seq(1, 4, 7)) {
        val cents = graft.ann.Ivf.centroids(corpus(p), c = 6, iters = 2)
        val label = s"$width vectors, $p partitions"
        assert(cents.schema == ref.schema, label)
        val got = cents.as[(Option[Int], Seq[Double])].collect().toSeq
        assert(got.map(_._1) == want.map(_._1), s"$label: $got")
        got.zip(want).foreach { case ((id, a), (_, b)) =>
          assert(a.size == b.size, s"$label: cell $id")
          // A float sum is exact in double, so the means are the
          // aggregate's bit for bit. A double sum depends on the order
          // partial sums merge in, which differs between the two
          // forms: equal to rounding only.
          a.zip(b).foreach { case (x, y) => assert(
            if (width == "float") bits(x) == bits(y)
            else math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(y)),
            s"$label: cell $id: $x vs $y")
          }
        }
      }
    }
  }

  test("SemDeDup over identical vectors keeps only the smallest id") {
    val same = (0L until 40L).map(i => (100L + i * 3, Seq(0.6f, -0.8f, 0.0f)))
      .toDF("vec_id", "embedding")
    val kept = graft.dedup.SemDeDup.verdicts(same, c = 8, eps = 0.95)
      .as[(Long, Option[Int], Boolean)].collect().toSeq
    assert(kept.size == 40, kept)
    assert(kept.filterNot(_._3).map(_._1) == Seq(100L), kept)
  }

  test("lshTopK recall against brute force is reasonable") {
    val emb = Tables.embeddings(spark, sf()).cache()
    try {
      val q = emb.filter(col("vec_id") < 8)
      val exact = Knn.bruteForceTopK(emb, q, k = 5)
        .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
      val approx = Knn.lshTopK(emb, q, k = 5)
        .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
      val recall = (exact intersect approx).size.toDouble / exact.size
      assert(recall > 0.2, s"recall=$recall") // SRP-LSH with 1 table is coarse; >0 proves bucketing works
    } finally emb.unpersist()
  }

  test("connected components: chains, stars, and singletons resolve to min-id clusters") {
    import graft.dedup.Components
    // component {1..5} as a pure chain (forces multi-round contraction),
    // component {10,11,12} as a star, {20,21} a pair; 30 isolated
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (5L, 4L),
      (10L, 11L), (10L, 12L), (21L, 20L)).toDF("a", "b")
    val comp = Components.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(comp(_) == 1L), s"chain: $comp")
    assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L), s"star: $comp")
    assert(Seq(20L, 21L).forall(comp(_) == 20L), s"pair: $comp")
    val all = Seq((1L, ""), (5L, ""), (30L, "")).toDF("doc_id", "text")
    val cl = Components.clusters(all, "doc_id", edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(cl(30L) == 30L, "isolated doc must be its own singleton cluster")
    assert(cl(1L) == 1L && cl(5L) == 1L)
  }

  test("connected components: long path converges within the round bound") {
    import graft.dedup.Components
    // 64-node path — diameter 63; naive min propagation needs 63 rounds,
    // alternating star must finish well inside maxIter=25 (O(log² n))
    val path = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    // localLimit=0 forces the pure-distributed contraction loop — the
    // default hybrid would solve a 63-edge graph locally and skip the
    // convergence property this test exists to prove
    val comp = Components.connectedComponents(path, "a", "b", localLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(comp.size == 64 && comp.values.forall(_ == 1L), s"path: ${comp.toSeq.sorted}")
  }

  test("connected components: hybrid local finish matches pure-distributed") {
    import graft.dedup.Components
    // deterministic pseudo-random graph: chains, stars, and scattered
    // components of varying shapes
    val edges = ((1L until 40L).map(i => (i, i + 1)) ++          // long chain
      (100L to 120L).map(i => (100L, i)) ++                      // star
      (0L until 300L).map(i => (i * 7 % 200 + 500, i * i % 190 + 500)))
      .filter { case (a, b) => a != b }.toDF("a", "b")
    val hybrid = Components.starEdges(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    val distributed = Components.starEdges(edges, "a", "b", localLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(hybrid == distributed,
      s"paths diverge: only-hybrid=${hybrid.toSet -- distributed.toSet} " +
        s"only-dist=${distributed.toSet -- hybrid.toSet}")
  }
}
