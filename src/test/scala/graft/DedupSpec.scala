package graft

import org.apache.spark.sql.DataFrame
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
    val kept = graft.dedup.SemDeDup.verdictsAuto(same, eps = 0.95)
      .as[(Long, Option[Int], Boolean)].collect().toSeq
    assert(kept.size == 40, kept)
    assert(kept.filterNot(_._3).map(_._1) == Seq(100L), kept)
  }

  /** The verdict SemDeDup computed before its cell kernel: the index
    * joined to itself on the cell in a left-semi existence test (x is
    * removed iff a smaller id in its cell is within `eps`), then joined
    * back on vec_id.
    */
  private def semDeDupByJoin(emb: DataFrame, cents: DataFrame, eps: Double): DataFrame = {
    val idx = graft.ann.Ivf.index(emb, cents)
    val probe = idx.select(col("cluster_id").as("dup_cluster"),
      col("vec_id").as("dup_id"), col("emb").as("dup_emb"))
    val removed = idx.join(probe,
        col("cluster_id") === col("dup_cluster") &&
          col("dup_id") < col("vec_id") &&
          graft.functions.VectorFunctions.cosine(col("emb"), col("dup_emb")) >= lit(eps),
        "left_semi")
      .select(col("vec_id"))
    idx.join(removed.withColumn("removed", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        coalesce(col("removed"), lit(false)).as("removed"))
  }

  private def vectors(rows: Seq[(Long, Seq[Float])], partitions: Int): DataFrame =
    nullableVectors(rows.map { case (id, v) => Option(id) -> v.map(Float.box) }, partitions)

  /** `(vec_id, embedding)` rows, either part NULL where given so, in
    * `partitions` partitions.
    */
  private def nullableVectors(rows: Seq[(Option[Long], Seq[java.lang.Float])],
      partitions: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, v) => Row(id.orNull, v) }, partitions), schema)
    assert(df.rdd.getNumPartitions == partitions)
    df
  }

  private def verdictRows(df: DataFrame): Seq[(Option[Long], Option[Int], Boolean)] =
    df.as[(Option[Long], Option[Int], Boolean)].collect().toSeq.sorted

  test("SemDeDup's cell kernel gives the left-semi join's verdicts at 1, 3 and 8 partitions") {
    import graft.dedup.SemDeDup
    // 12 tight clusters in 16 dims, ids shuffled against generation
    // order, so many rows have a near twin on either side of their id
    val rnd = new scala.util.Random(20261020L)
    val centers = Seq.fill(12)(Seq.fill(16)(rnd.nextGaussian()))
    val ids = rnd.shuffle((0L until 480L).map(_ * 7 + 3))
    val rows = ids.zipWithIndex.map { case (id, i) =>
      val spread = 0.05 + 0.4 * (i % 5)
      id -> centers(i % 12).map(x => (x + spread * rnd.nextGaussian()).toFloat)
    }
    val c = SemDeDup.autoCells(rows.size.toLong)
    for (eps <- Seq(0.5, 0.95)) {
      val want = verdictRows(semDeDupByJoin(vectors(rows, 1),
        graft.ann.Ivf.centroids(vectors(rows, 1), c), eps))
      assert(want.size == rows.size && want.count(_._3) > 60,
        s"eps $eps: ${want.count(_._3)} removed")
      for (p <- Seq(1, 3, 8)) {
        val got = verdictRows(SemDeDup.verdictsAuto(vectors(rows, p), eps))
        assert(got == want, s"eps $eps, $p partitions: only kernel ${got.diff(want).take(5)}, " +
          s"only join ${want.diff(got).take(5)}")
      }
    }
  }

  test("SemDeDup: a zero vector removes nothing and pulls no row into its cell") {
    val rnd = new scala.util.Random(41L)
    val rows = (1L to 40L).map(i => i -> Seq.fill(16)(rnd.nextGaussian().toFloat))
    val without = graft.dedup.SemDeDup.verdictsAuto(vectors(rows, 2), eps = 0.95)
    assert(without.filter(col("removed")).count() == 0)
    val withZero = verdictRows(graft.dedup.SemDeDup.verdictsAuto(
      vectors((0L -> Seq.fill(16)(0.0f)) +: rows, 2), eps = 0.95))
    assert(withZero.size == 41 && withZero.forall(!_._3), withZero.filter(_._3))
    // the zero row seeds no cell, so the 40 others do not share one
    assert(withZero.flatMap(_._2).distinct.size > 1, withZero)
  }

  test("SemDeDup gives one row per input row when a vec_id repeats") {
    val v = Seq(0.6f, -0.8f, 0.0f)
    // the repeated id above the smallest: both copies removed
    val eleven = ((100L to 109L) :+ 103L).map(_ -> v)
    val got = verdictRows(graft.dedup.SemDeDup.verdictsAuto(vectors(eleven, 3), eps = 0.95))
    assert(got.size == 11 && got.count(_._1.contains(103L)) == 2, got)
    assert(got.filterNot(_._3).flatMap(_._1) == Seq(100L), got)
    // the repeated id is the smallest: exactly one of its copies stays
    val smallest = Seq(7L, 7L, 8L, 9L).map(_ -> v)
    val kept = verdictRows(graft.dedup.SemDeDup.verdictsAuto(vectors(smallest, 2), eps = 0.95))
    assert(kept.size == 4 && kept.filterNot(_._3).flatMap(_._1) == Seq(7L), kept)
  }

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsIn[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val bus = org.apache.spark.graft.ListenerBusAccess
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    bus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      bus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("IVF training runs 1 + iters jobs; a SemDeDup verdict runs one more to read") {
    val emb = Tables.embeddings(spark, sf()).select("vec_id", "embedding")
    for (iters <- Seq(0, 1, 3)) {
      val (_, train) = jobsIn(graft.ann.Ivf.centroids(emb, c = 12, iters = iters))
      assert(train == 1 + iters, s"Ivf.centroids, iters $iters: $train jobs")
      val (verdicts, build) = jobsIn(graft.dedup.SemDeDup.verdictsAuto(emb, 0.95, iters))
      assert(build == 1 + iters, s"SemDeDup.verdictsAuto, iters $iters: $build jobs")
      val (_, read) = jobsIn(verdicts.collect())
      assert(read == 1, s"SemDeDup verdict collect, iters $iters: $read jobs")
    }
  }

  /** The search `Ivf.topK` ran before its kernel, as pairs: the
    * assigned corpus joined to the exploded probe on cluster_id, a
    * query's own id excluded, each pair scored `round(cosine_sim, 4)`.
    */
  private def ivfPairsByJoin(corpus: DataFrame, queries: DataFrame,
      c: Int, nprobe: Int, iters: Int): DataFrame = {
    import graft.functions.{CentroidSet, VectorFunctions}
    val cents = graft.ann.Ivf.centroids(corpus, c, iters)
    val probed = queries.select(col("vec_id").as("query_id"),
      explode(VectorFunctions.nearestCentroids(col("embedding"), CentroidSet.of(cents), nprobe))
        .as("cluster_id"),
      col("embedding").as("q_emb"))
    graft.ann.Ivf.index(corpus, cents).join(broadcast(probed), Seq("cluster_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("sim", round(VectorFunctions.cosine(col("q_emb"), col("emb")), 4))
      .select(col("query_id"), col("vec_id").as("nbr_id"), col("sim"))
  }

  /** `Ivf.topK`'s join + window form: [[ivfPairsByJoin]], then the
    * per-query top-k by `row_number` over `sim DESC, nbr_id ASC`.
    */
  private def topKByWindow(corpus: DataFrame, queries: DataFrame, k: Int,
      c: Int, nprobe: Int, iters: Int = 2): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("nbr_id").asc)
    ivfPairsByJoin(corpus, queries, c, nprobe, iters)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("nbr_id"), col("sim"))
  }

  private def rowStrings(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("IVF top-k kernel gives the join + window's rows on the degenerate-input battery") {
    val rnd = new scala.util.Random(20261021L)
    def box(v: Seq[Float]): Seq[java.lang.Float] = v.map(Float.box)
    val centers = Seq.fill(10)(Seq.fill(16)(rnd.nextGaussian()))
    val clustered = rnd.shuffle((0L until 400L).map(_ * 3 + 1)).zipWithIndex.map { case (id, i) =>
      Option(id) -> box(centers(i % 10).map(x => (x + 0.3 * rnd.nextGaussian()).toFloat))
    }
    val queryIds = clustered.take(20).flatMap(_._1).toSet
    def same(corpus: DataFrame, queries: DataFrame, k: Int, c: Int, nprobe: Int,
        label: String): Seq[String] = {
      val want = topKByWindow(corpus, queries, k, c, nprobe)
      val got = graft.ann.Ivf.topK(corpus, queries, k, c, nprobe)
      assert(got.schema == want.schema, s"$label: ${got.schema} vs ${want.schema}")
      val (g, w) = (rowStrings(got), rowStrings(want))
      assert(g == w, s"$label: only kernel ${g.diff(w).take(5)}, only window ${w.diff(g).take(5)}")
      g
    }
    def queriesOf(corpus: DataFrame) = corpus.filter(col("vec_id").isin(queryIds.toSeq: _*))
    for (p <- Seq(1, 3, 8)) {
      val corpus = nullableVectors(clustered, p)
      val rows = same(corpus, queriesOf(corpus), k = 7, c = 8, nprobe = 3, s"clustered, $p partitions")
      assert(rows.size == 20 * 7, rows.size)
    }
    val corpus = nullableVectors(clustered, 3)
    assert(same(nullableVectors(Seq.empty, 2), queriesOf(corpus), 5, 8, 3, "empty corpus").isEmpty)
    assert(same(corpus, corpus.filter(lit(false)), 5, 8, 3, "empty queries").isEmpty)
    // k above every query's candidate count: each list is its whole cell set
    val few = nullableVectors(clustered.take(60), 2)
    assert(same(few, queriesOf(few), 1000, 4, 1, "k above the candidates").size > 60)
    // a zero query: every cosine is NaN (ranked highest, so by id);
    // NULL embeddings in the corpus (never assigned) and in a query
    // (every sim NULL), a NULL element, a NULL id on either side
    val zero = Option(5000L) -> box(Seq.fill(16)(0f))
    val nullEmb = Option(5001L) -> (null: Seq[java.lang.Float])
    val nullElem = Option(5002L) -> (box(Seq.fill(15)(1f)) :+ (null: java.lang.Float))
    val nullId = Option.empty[Long] -> clustered(3)._2
    val odd = nullableVectors(clustered ++ Seq(nullEmb, nullElem, nullId), 3)
    val oddQueries = nullableVectors(Seq(zero, nullEmb, nullElem, nullId, clustered(5)), 2)
    val rows = same(odd, oddQueries, 6, 8, 3, "zero, NULL vectors and ids")
    assert(rows.exists(_.endsWith(",NaN]")) && rows.exists(_.endsWith(",null]")), rows)
    // ties at the 4th decimal: exact copies under other ids, and copies
    // nudged so their cosines differ but round alike
    val q = clustered.head
    val nudged = (1 to 12).map { i =>
      Option(9000L + i) -> q._2.zipWithIndex.map { case (x, j) =>
        Float.box(if (j == i % 16) x + 1e-5f * i else x) }
    } ++ (1 to 4).map(i => Option(8000L - i) -> q._2)
    val tied = same(nullableVectors(clustered ++ nudged, 3),
      nullableVectors(Seq(q), 1), 10, 8, 3, "ties at the 4th decimal")
    assert(tied.count(_.endsWith(",1.0]")) == 10, tied)
  }

  test("IVF top-k lists a neighbour id once, at its best copy, and one list per query_id") {
    // every cell probed, so the search is exact and the expected lists
    // follow from brute force with the same arithmetic
    val rnd = new scala.util.Random(20261022L)
    val base = (0L until 30L).map(i => i -> Seq.fill(8)(rnd.nextGaussian().toFloat))
    val (qa, qb) = (Seq.fill(8)(rnd.nextGaussian().toFloat), Seq.fill(8)(rnd.nextGaussian().toFloat))
    // id 3 again as a copy of one query vector, id 7 again as another
    val corpus = base ++ Seq(3L -> qa, 7L -> qb.map(_ * 2f))
    val queries = Seq(100L -> qa, 100L -> qb, 200L -> base(7)._2)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var (dot, na, nb) = (0.0, 0.0, 0.0)
      a.indices.foreach { i => dot += a(i) * b(i).toDouble; na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb))).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val k = 5
    val want = queries.groupBy(_._1).toSeq.flatMap { case (qid, qs) =>
      corpus.filter(_._1 != qid).groupBy(_._1).toSeq
        .map { case (id, copies) => (id, (for (q <- qs; x <- copies) yield cos(q._2, x._2)).max) }
        .sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex
        .map { case ((id, s), r) => (qid, r + 1L, id, s) }
    }.sortBy(r => (r._1, r._2))
    val got = graft.ann.Ivf.topK(vectors(corpus, 2), vectors(queries, 1), k, c = 4, nprobe = 4)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    assert(got.map(r => (r._1, r._3)).distinct.size == got.size, got)
    assert(got.groupBy(_._1).values.forall(l => l.map(_._2).sorted == (1L to l.size.toLong)), got)
    assert(got == want, s"got $got\nwant $want")
    // the copy of qa is query 100's first neighbour, at 1.0
    assert(got.contains((100L, 1L, 3L, 1.0)), got)
  }

  test("IVF top-k builds in 1 + iters + 2 jobs, a written-index search in 3; reading starts none") {
    val emb = Tables.embeddings(spark, sf()).select("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 8)
    for (iters <- Seq(0, 1, 3)) {
      val (top, build) = jobsIn(graft.ann.Ivf.topK(emb, q, k = 5, c = 12, nprobe = 4, iters = iters))
      assert(build == 1 + iters + 2, s"Ivf.topK, iters $iters: $build jobs")
      val (rows, read) = jobsIn(top.collect())
      assert(read == 0 && rows.length == 8 * 5, s"Ivf.topK collect, iters $iters: $read jobs")
    }
    val tmp = "/tmp/graft_ivf_jobs_spec"
    try {
      graft.ann.Ivf.writeIndex(emb, tmp, c = 12)
      // the centroid read, the query collect and the search
      val (top, build) = jobsIn(graft.ann.Ivf.topKIndexed(tmp, q, k = 5, nprobe = 4))
      assert(build == 3, s"Ivf.topKIndexed: $build jobs")
      val (rows, read) = jobsIn(top.collect())
      assert(read == 0 && rows.length == 8 * 5, s"Ivf.topKIndexed collect: $read jobs")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  /** perfbench's embedding_dedup input of `seed` (`Gen.embedding`,
    * draw for draw): 8,000 64-dim unit vectors around 32 centres, 80
    * planted 0.99-scaled copies, and the 80 query ids.
    */
  private def benchVectors(seed: Long): (Seq[(Long, Seq[Float])], Seq[Long]) = {
    val rnd = new java.util.SplittableRandom(seed * 31 + 3)
    def gauss(): Double = {
      val u1 = 1.0 - rnd.nextDouble()
      val u2 = rnd.nextDouble()
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val (vectors, copies, queries, dim) = (8000, 80, 80, 64)
    val centres = Array.fill(32)(Array.fill(dim)(gauss()))
    val vecs = (0 until vectors).map { i =>
      val c = centres(i % centres.length)
      unit(Array.tabulate(dim)(j => c(j) + 1.2 * gauss()))
    }
    val origs = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (origs.size < copies) origs += rnd.nextInt(vectors)
    val all = vecs ++ origs.toSeq.map(o => vecs(o).map(x => x * 0.99f))
    val qs = scala.collection.mutable.LinkedHashSet.empty[Int]
    origs.take(queries / 2).foreach(qs += _)
    while (qs.size < queries) qs += rnd.nextInt(vectors)
    (all.zipWithIndex.map { case (v, id) => id.toLong -> v.toSeq }, qs.toSeq.map(_.toLong))
  }

  test("IVF top-k scores the join's pairs: 162,366 on the seed-1000 benchmark vectors") {
    val (rows, queryIds) = benchVectors(1000L)
    val corpus = vectors(rows, 8)
    val queries = corpus.filter(col("vec_id").isin(queryIds: _*))
    val (top, scored) = graft.ann.Ivf.topKScored(corpus, queries, k = 10, c = 16, nprobe = 4, iters = 2)
    val joined = ivfPairsByJoin(corpus, queries, c = 16, nprobe = 4, iters = 2).count()
    assert(scored == joined && joined == 162366L, s"kernel $scored pairs, join $joined")
    assert(top.count() == 80 * 10)
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
