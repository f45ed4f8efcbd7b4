package graft

import org.apache.spark.sql.functions._
import graft.dedup.{MinHashLSH, SimHash}
import graft.ann.Knn
import graft.functions.{VectorFunctions => VF}

/** Ground truth for the similarity family: every approximate operator
  * measured against an exact brute-force all-pairs computation at
  * sf0.001 (500 docs / 500 vectors — small enough to cross-join,
  * real enough to exercise the planted duplicates). All inputs and
  * hash families are deterministic, so the measured recalls are exact
  * reproducible values, not flaky statistics.
  */
class GroundTruthSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf()).cache()

  test("MinHash-LSH: finds EXACTLY the true Jaccard>=0.5 pairs (recall 1.0, precision 1.0)") {
    val sigs = MinHashLSH.signatures(docs, "doc_id", "text").cache()
    val truth = sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .withColumn("j",
        size(array_intersect(col("a.sh_hashes"), col("b.sh_hashes"))).cast("double") /
        size(array_union(col("a.sh_hashes"), col("b.sh_hashes"))).cast("double"))
      .filter(col("j") >= 0.5)
      .select(col("a.doc_id"), col("b.doc_id")).as[(Long, Long)].collect().toSet
    val found = MinHashLSH.verifiedPairs(sigs,
        MinHashLSH.candidatePairs(MinHashLSH.bands(sigs, 16, 4)), 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "testdata must contain planted near-dups")
    // precision 1.0 is structural (candidates are verified with exact
    // Jaccard); recall 1.0 is the measured property of 16x4 banding
    // at threshold 0.5 on this corpus
    assert(found == truth, s"truth=${truth.size} found=${found.size}")
  }

  test("SimHash: hamming<=3 pairs are found EXACTLY (pigeonhole guarantee over 4 chunks)") {
    val fps = SimHash.fingerprints(docs, "doc_id", "text").cache()
    val truth = fps.as("a").crossJoin(fps.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 3)
      .select(col("a.doc_id"), col("b.doc_id")).as[(Long, Long)].collect().toSet
    val found = SimHash.nearDupPairsFromFps(fps, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "testdata must contain simhash near-dups")
    // any pair within hamming 3 of a 64-bit fingerprint split into 4
    // chunks must agree on >=1 chunk — candidate recall is GUARANTEED,
    // and exact-hamming verification makes precision structural
    assert(found == truth, s"truth=${truth.size} found=${found.size}")
  }

  test("SimHash beyond the guarantee (hamming<=16): found pairs are all true, none fabricated") {
    val fps = SimHash.fingerprints(docs, "doc_id", "text").cache()
    val truth = fps.as("a").crossJoin(fps.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 16)
      .select(col("a.doc_id"), col("b.doc_id")).as[(Long, Long)].collect().toSet
    val found = SimHash.nearDupPairsFromFps(fps, maxHamming = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // above hamming 3 the chunk index is a documented approximation
    // (only chunk-sharing pairs are candidates): subset, never wrong
    assert(found.nonEmpty && found.subsetOf(truth),
      s"truth=${truth.size} found=${found.size}")
  }

  test("embedding near-dup: planted cosine-1.0 duplicates all flagged, no false positives") {
    val emb = Tables.embeddings(spark, sf()).select("vec_id", "embedding")
    // plant 20 scaled copies: cosine(v, 1.01*v) = 1, and SRP buckets
    // are scale-invariant, so every copy must land with its original
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.01f)).as("embedding"))
    val corpus = emb.unionByName(planted).cache()
    val flagged = Knn.nearDupByEmbedding(corpus, threshold = 0.95)
      .filter(col("is_near_dup")).select("vec_id").as[Long].collect().toSet
    // exact truth on the same corpus
    val truthDocs = corpus.as("a").crossJoin(corpus.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .filter(VF.cosineRounded(col("a.embedding"), col("b.embedding"), 4) >= 0.95)
      .select(col("a.vec_id"), col("b.vec_id")).as[(Long, Long)].collect()
      .flatMap(p => Seq(p._1, p._2)).toSet
    val plantedIds = (0L until 20L).flatMap(i => Seq(i, i + 100000L)).toSet
    assert(plantedIds.subsetOf(flagged), s"missed=${plantedIds diff flagged}")
    assert(flagged.subsetOf(truthDocs), s"false positives=${flagged diff truthDocs}")
    // the auto-planes gate path: scaled copies share every SRP sign
    // bit, so their recall is planes-invariant — same verdict set
    val flaggedAuto = Knn.nearDupByEmbeddingAuto(corpus, threshold = 0.95)
      .filter(col("is_near_dup")).select("vec_id").as[Long].collect().toSet
    assert(plantedIds.subsetOf(flaggedAuto), s"auto missed=${plantedIds diff flaggedAuto}")
    assert(flaggedAuto.subsetOf(truthDocs), s"auto FPs=${flaggedAuto diff truthDocs}")
    // the plane rule itself: floor, the measured sf10 case, ceiling
    import Knn.autoPlanes
    assert(autoPlanes(500) === 10)
    assert(autoPlanes(200000) === 13)
    assert(autoPlanes(1L << 40) === 24)
    val pts = Seq(1000L, 100000L, 10000000L).map(autoPlanes(_))
    assert(pts === pts.sorted)
  }

  test("SemDeDup: planted scaled duplicates lose exactly their higher ids; originals survive") {
    val emb = Tables.embeddings(spark, sf()).select("vec_id", "embedding")
    // cosine(v, 0.99*v) = 1 and k-means assignment is direction-only,
    // so each copy co-clusters with its original at any cell count;
    // the min-id keep policy must remove exactly the planted ids
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.99f)).as("embedding"))
    val corpus = emb.unionByName(planted).cache()
    val verdicts = graft.dedup.SemDeDup.verdictsAuto(corpus, eps = 0.95)
    val removed = verdicts
      .filter(col("removed")).select("vec_id").as[Long].collect().toSet
    assert(removed === (0L until 20L).map(_ + 10000000L).toSet,
      s"removed=$removed")
    // survivors == the original corpus: dedup is count-preserving
    assert(verdicts.filter(!col("removed")).count() === emb.count())
  }

  test("embedding outliers: per-cell percentile semantics hold exactly") {
    val emb = Tables.embeddings(spark, sf()).select("vec_id", "embedding")
    val v = graft.ann.Outliers.verdicts(emb, c = 8, p = 0.1).cache()
    assert(v.count() === emb.count(), "every vector gets a verdict")
    // (a) within every cell, every flagged sim < every kept sim
    val cells = v.groupBy("cluster_id")
      .agg(max(when(col("outlier"), col("sim"))).as("max_out"),
        min(when(!col("outlier"), col("sim"))).as("min_keep"),
        sum(when(col("outlier"), 1L).otherwise(0L)).as("n_out"),
        count(lit(1)).as("m"))
      .collect()
    cells.foreach { r =>
      if (!r.isNullAt(1) && !r.isNullAt(2))
        assert(r.getDouble(1) < r.getDouble(2), r.toString)
      // (b) exact interpolated percentile(p) bounds the strict-below
      // count by ceil(p*(m-1))
      val bound = math.ceil(0.1 * (r.getLong(4) - 1)).toLong
      assert(r.getLong(3) <= bound, s"cell ${r.get(0)}: ${r.getLong(3)} > $bound")
    }
    // (c) prune keeps exactly the non-outliers
    assert(graft.ann.Outliers.prune(emb, c = 8, p = 0.1).count()
      === v.filter(!col("outlier")).count())
  }

  test("quality classifier: perfect held-out separation of reference vs reversed-token crawl") {
    import graft.operators.QualityClassifier
    val base = Tables.documents(spark, sf()).select(col("doc_id"), col("text"),
      (pmod(col("doc_id"), lit(5)) === 4).as("is_eval"))
    val neg = base.select((col("doc_id") + lit(30000000L)).as("doc_id"),
      concat_ws(" ", transform(graft.functions.TextFunctions.tokens(col("text")),
        t => reverse(t))).as("text"),
      col("is_eval"))
    val all = base.withColumn("label", lit(1.0))
      .unionByName(neg.withColumn("label", lit(0.0))).cache()
    val model = QualityClassifier.train(all.filter(!col("is_eval")), "text", "label")
    val eval = QualityClassifier.score(model, all.filter(col("is_eval")), "text").cache()
    // the vocabularies are disjoint over hash buckets → the held-out
    // fifth must separate perfectly, both classes
    val byLabel = eval.groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("predicted") === col("label").cast("long"), 1L).otherwise(0L)).as("ok"))
      .as[(Double, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byLabel(1.0)._1 > 0 && byLabel(0.0)._1 > 0)
    assert(byLabel(1.0) === (byLabel(1.0)._1, byLabel(1.0)._1), s"pos: $byLabel")
    assert(byLabel(0.0) === (byLabel(0.0)._1, byLabel(0.0)._1), s"neg: $byLabel")
    // filtering the scores at 0.5 keeps exactly the reference-like half
    val kept = eval.filter(col("quality_prob") >= 0.5)
    assert(kept.count() === byLabel(1.0)._1)
    assert(kept.filter(col("label") =!= 1.0).count() === 0L)
    // margin-formula hand-pin: with every coefficient 1.0 the
    // normalized-tf dot is exactly 1 for any non-empty doc, so
    // quality_prob = sigmoid(1 + intercept) everywhere
    val unit = QualityClassifier.Model(Array.fill(16)(1.0), 0.5, 16)
    val probs = QualityClassifier.score(unit, all.filter(length(col("text")) > 0), "text")
      .select("quality_prob").distinct().as[Double].collect()
    val expect = 1.0 / (1.0 + math.exp(-1.5))
    assert(probs.length === 1 && math.abs(probs.head - expect) < 1e-12, probs.toSeq.toString)
  }

  test("SemDeDup autoCells: paper's C ∝ corpus rule, clamped") {
    import graft.dedup.SemDeDup.autoCells
    assert(autoCells(36L) === 8)            // floor: tiny corpora
    assert(autoCells(200000L) === 447)      // √n at the sf10 gate size
    assert(autoCells(600000L) === 775)
    assert(autoCells(100000000L) === 4096)  // ceiling: broadcast stays tiny
    // monotone non-decreasing across 4 decades
    val pts = Seq(1000L, 10000L, 100000L, 1000000L, 10000000L).map(autoCells)
    assert(pts === pts.sorted, s"not monotone: $pts")
  }

  test("ANN LSH and IVF: recall vs brute-force top-5 meets measured floors") {
    val emb = Tables.embeddings(spark, sf()).select("vec_id", "embedding").cache()
    val q = emb.filter(col("vec_id") < 8)
    val exact = Knn.bruteForceTopK(emb, q, k = 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val lsh = Knn.lshTopK(emb, q, k = 5, tables = 16)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val ivf = graft.ann.Ivf.topK(emb, q, k = 5, c = 16, nprobe = 12)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    // deterministic hash families + fixed corpus => these are exact
    // reproducible values, not flaky bounds. Production-grade floors:
    // 16 LSH tables (1-(1-p^4)^16) and nprobe 12/16 (uniform random
    // vectors barely cluster, so recall needs a high probe fraction
    // on THIS corpus; clustered production embeddings need far less)
    val lshRecall = (exact intersect lsh).size.toDouble / exact.size
    val ivfRecall = (exact intersect ivf).size.toDouble / exact.size
    assert(lshRecall >= 0.9, s"LSH recall $lshRecall below measured floor")
    assert(ivfRecall >= 0.9, s"IVF recall $ivfRecall below measured floor")
  }

  test("IVF+SQ8 with exact rerank: recall meets the plain-IVF floor") {
    val emb = Tables.embeddings(spark, sf()).select("vec_id", "embedding").cache()
    val q = emb.filter(col("vec_id") < 8)
    val exact = Knn.bruteForceTopK(emb, q, k = 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val sq8 = graft.ann.Ivf.topKSq8(emb, q, k = 5, c = 16, nprobe = 12)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect sq8).size.toDouble / exact.size
    // quantization noise is bounded by the refine-then-exact-rerank
    // pass: the measured recall equals plain IVF's (cell assignment,
    // not 8-bit rounding, is what loses neighbors)
    assert(recall >= 0.9, s"IVF+SQ8 recall $recall below measured floor")
  }

  test("PQ ADC+rerank: recall vs exact L2 floor; codes bounded; codebooks partition-invariant") {
    import graft.ann.Pq
    val emb = Tables.embeddings(spark, sf()).select("vec_id", "embedding").cache()
    val q = emb.filter(col("vec_id") < 8)
    // exact L2 ground truth (PQ estimates L2, so the fair reference is
    // the same metric — the cosine-ranked siblings have their own floors)
    val c = emb.select(col("vec_id").as("nbr_id"), col("embedding").as("c_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d2").asc, col("nbr_id").asc)
    val exact = c.crossJoin(broadcast(q.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("d2", aggregate(zip_with(col("q_emb"), col("c_emb"),
        (x, y) => (x.cast("double") - y.cast("double"))
          * (x.cast("double") - y.cast("double"))), lit(0.0), (a, v) => a + v))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val pq = Pq.adcRerankTopK(emb, q, "embedding", k = 10, m = 8,
        kcent = 64, shortlist = 100)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    // measured 0.90 on this corpus (uniform random vectors are PQ's
    // worst case — no cluster structure for codewords to exploit; the
    // 100-candidate shortlist's exact rerank is what recovers recall,
    // the topKSq8 precedent); floor leaves drift margin
    assert(recall >= 0.85, s"PQ recall $recall below measured floor")
    // code table: m codes per vector, every code within [0, kcent)
    val cb = Pq.codebooks(emb, "embedding", m = 8, k = 64)
    val codes = Pq.encode(emb, cb, "embedding", m = 8).cache()
    assert(codes.filter(size(col("codes")) =!= 8).count() === 0L)
    assert(codes.filter(exists(col("codes"),
      cd => cd < 0 || cd >= 64)).count() === 0L)
    // determinism: the codebook is a pure function of the data, not
    // of its partitioning (hash-ordered seeds, fixed Lloyd count)
    val cb13 = Pq.codebooks(emb.repartition(13), "embedding", m = 8, k = 64)
    val a = cb.orderBy("sub", "cluster_id")
      .select(col("sub"), col("cluster_id"),
        transform(col("centroid"), x => round(x, 9)).as("c")).collect().toSeq
    val b = cb13.orderBy("sub", "cluster_id")
      .select(col("sub"), col("cluster_id"),
        transform(col("centroid"), x => round(x, 9)).as("c")).collect().toSeq
    assert(a === b)
  }

  test("IVF written index: identical results to inline form, partition-pruned scan") {
    val emb = Tables.embeddings(spark, sf()).select("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 8)
    val tmp = "/tmp/graft_ivf_spec"
    graft.ann.Ivf.writeIndex(emb, tmp, c = 16)
    val indexed = graft.ann.Ivf.topKIndexed(tmp, q, k = 5, nprobe = 12)
    val inline = graft.ann.Ivf.topK(emb, q, k = 5, c = 16, nprobe = 12)
    assert(indexed.collect().map(_.toString).sorted.toSeq ==
      inline.collect().map(_.toString).sorted.toSeq)
    // the probed-cells filter must reach the scan as a partition filter
    // (reads nprobe-ish of 16 cell directories, not the corpus); the
    // search runs that scan in its kernel, so its plan is read here
    val scans = graft.ann.Ivf.cellScan(spark, tmp, Seq(1, 4, 9))
      .queryExecution.executedPlan.collectLeaves().map(_.toString)
    val cellScan = scans.find(_.contains("cells"))
    assert(cellScan.exists(_.contains("PartitionFilters: [cluster_id")),
      s"expected partition-pruned cells scan:\n${scans.mkString("\n")}")
  }

  test("prepFullClustered keeps exactly the brute-force cluster minima") {
    // Corpus with the shape where cluster-canonical differs from
    // pairwise drop-id_b: B1 = T+pad1, B2 = T+pad2, C = T+pad1+pad2
    // (s=38 shingles, 5-token pads) gives J(B1,C)≈0.90, J(B2,C)≈0.82
    // >= 0.8 but J(B1,B2)≈0.76 < 0.8 — so pairs are (1,3),(2,3), the
    // pairwise policy keeps BOTH 1 and 2, and the cluster policy keeps
    // only the component minimum 1. Doc 9 is an unrelated singleton.
    val base = "the cat and the dog walked to a house in town today with " +
      "a friend from the north side of the river near a small market " +
      "where the old baker sells warm bread every sunny morning to " +
      "happy children quietly"
    val corpus = Seq(
      (1L, base + " alpha beta gamma delta omega"),
      (2L, base + " epsilon zeta eta theta iota"),
      (3L, base + " alpha beta gamma delta omega epsilon zeta eta theta iota"),
      (9L, "a completely different story of the sea and the old ship " +
        "sails far away from home tonight under bright quiet stars"))
      .toDF("doc_id", "text")
    val sw = Seq("the", "a", "of", "and", "to", "in")
    val lm = Seq("en" -> Seq("the", "a"))

    // brute force: ALL pairs with exact Jaccard >= 0.8 over the same
    // shingle sets, closed by union-find, each component's min kept
    val sigs = MinHashLSH.signatures(corpus, "doc_id", "text").cache()
    val truePairs = sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .withColumn("j",
        size(array_intersect(col("a.sh_hashes"), col("b.sh_hashes"))).cast("double") /
        size(array_union(col("a.sh_hashes"), col("b.sh_hashes"))).cast("double"))
      .filter(col("j") >= 0.8)
      .select(col("a.doc_id"), col("b.doc_id")).as[(Long, Long)].collect()
    assert(truePairs.toSet == Set((1L, 3L), (2L, 3L)),
      s"planted geometry drifted: ${truePairs.toSeq}")
    val parent = scala.collection.mutable.Map[Long, Long]().withDefault(identity)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    truePairs.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v)); if (ru != rv) parent(ru max rv) = ru min rv
    }
    val ids = corpus.select("doc_id").as[Long].collect()
    val expected = ids.groupBy(find).map(_._2.min).toSet

    val kept = graft.pipeline.CorpusPrep.prepFullClustered(corpus, "doc_id",
        "text", sw, lm, minQuality = 0.0, allowedLangs = Seq("en"),
        minTokens = 5, jaccardThreshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == expected, s"kept=$kept expected=$expected")
    assert(kept == Set(1L, 9L))
    // and the pairwise policy really is weaker on this corpus
    val pairwise = graft.pipeline.CorpusPrep.prepFull(corpus, "doc_id",
        "text", sw, lm, minQuality = 0.0, allowedLangs = Seq("en"),
        minTokens = 5, jaccardThreshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(pairwise == Set(1L, 2L, 9L))
  }

  test("PCA: recovers a planted principal axis; orthonormal, variance-ordered, centered") {
    import graft.ann.Pca
    // planted anisotropy in d=6: points stretch 10x along a known unit
    // axis, plus small deterministic per-coordinate jitter
    val d = 6
    val axis = Array(3.0, 1.0, -2.0, 0.5, -1.0, 2.0)
    val an = math.sqrt(axis.map(x => x * x).sum)
    val unit = axis.map(_ / an)
    def jitter(i: Long, c: Int): Double =
      (((i * 31 + c) * 2654435761L % 1000) / 1000.0 - 0.5) * 0.2
    val rows = (0L until 400L).map { i =>
      val t = (i % 41).toDouble - 20.0 // spread in [-20, 20]
      (i, (0 until d).map(c => (t * unit(c) + jitter(i, c)).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val m = Pca.fit(df, "embedding", k = 3)
    // component 1 is the planted axis (up to sign — canon makes it deterministic)
    val c1 = m.components(0)
    val cos = c1.zip(unit).map { case (a, b) => a * b }.sum
    assert(math.abs(cos) > 0.99, s"axis cosine ${cos}")
    // orthonormal rows
    for (a <- 0 until m.k; b <- a until m.k) {
      val dot = m.components(a).zip(m.components(b)).map { case (x, y) => x * y }.sum
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-6, s"W[$a]·W[$b] = $dot")
    }
    // eigenvalues descending, dominant one dominant
    assert(m.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-9))
    assert(m.eigenvalues(0) > 10 * m.eigenvalues(1),
      s"planted axis must dominate: ${m.eigenvalues.toSeq}")
    // projection: centered, variance-ordered per component
    val proj = Pca.fitProject(df, "embedding", 3)
      .select("pca").as[Seq[Double]].collect()
    val n = proj.length.toDouble
    for (c <- 0 until 3) {
      val mean = proj.map(_(c)).sum / n
      assert(math.abs(mean) < 1e-6, s"component $c mean $mean")
    }
    val vars = (0 until 3).map(c => proj.map(v => v(c) * v(c)).sum / n)
    assert(vars(0) >= vars(1) && vars(1) >= vars(2), vars.toString)
    // determinism under re-partitioning (covariance rounding kills
    // partition-order float drift)
    val m2 = Pca.fit(df.repartition(13), "embedding", k = 3)
    assert(m2.components.map(_.toSeq).toSeq == m.components.map(_.toSeq).toSeq)
    assert(m2.mean.toSeq == m.mean.toSeq)
  }

  test("PCA at full rank is a rotation of centered data: L2 distances and variance preserved") {
    import graft.ann.Pca
    val emb = Tables.embeddings(spark, sf()).select("vec_id", "embedding").cache()
    val dim = emb.select(size(col("embedding"))).as[Int].head()
    val m = Pca.fit(emb, "embedding", k = dim)
    val proj = Pca.fitProject(emb, "embedding", dim).filter(col("vec_id") < 30)
      .select("vec_id", "embedding", "pca")
      .as[(Long, Seq[Float], Seq[Double])].collect()
    def l2(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    // full-rank W is orthonormal, so projection = rotation after the
    // mean shift: every pairwise Euclidean distance is invariant —
    // a guaranteed property (unlike neighbor sets under truncation,
    // which isotropic random vectors don't owe anybody)
    for (i <- proj.indices; j <- (i + 1) until math.min(proj.length, i + 6)) {
      val orig = l2(proj(i)._2.map(_.toDouble), proj(j)._2.map(_.toDouble))
      val rot = l2(proj(i)._3, proj(j)._3)
      assert(math.abs(orig - rot) < 1e-3, s"pair ($i,$j): $orig vs $rot")
    }
    // total variance = Σ eigenvalues (trace invariance)
    val n = emb.count().toDouble
    val totVar = Pca.fitProject(emb, "embedding", dim)
      .select(explode(col("pca")).as("y")).agg(sum(col("y") * col("y")))
      .as[Double].head() / n
    val eigSum = m.eigenvalues.sum
    assert(math.abs(totVar - eigSum) / eigSum < 1e-6,
      s"trace $totVar vs eigenvalue sum $eigSum")
  }
}
