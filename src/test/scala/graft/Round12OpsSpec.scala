package graft

import org.apache.spark.sql.functions._

/** Round-12 staged/approx operator forms (r11 verdict items 2-4):
  * the bloom ingest screen against a staged index, the q5 persisted
  * order→nation map, and the HLL flip for the exact-distinct windowed
  * agg. Each staged/approx form is pinned EQUAL (or envelope-bounded)
  * against its from-raw/exact sibling — staging must never change the
  * answer, only where the one-time cost is paid.
  */
class Round12OpsSpec extends SparkSpec {

  test("bloom staged screen == from-raw incrementalKeep, exactly") {
    val d = sf()
    val docs = Tables.documents(spark, d).select("doc_id", "text", "source")
    val incoming = docs.filter(pmod(col("doc_id"), lit(10L)) === 3L)
      .unionByName(docs.select(col("doc_id"),
        concat(lit("fresh "), col("doc_id").cast("string"), lit(" "), col("text"))
          .as("text"), col("source")))
    val est = 4096L
    val idx = java.nio.file.Files.createTempDirectory("graft_bloomidx_spec").toString
    graft.operators.BloomDedup.ensureIngestIndex(docs, "text", idx, est, est * 10L)
    // a second ensure is a fingerprint no-op (the scan fallback path)
    assert(!graft.operators.BloomDedup.ensureIngestIndex(docs, "text", idx,
      est, est * 10L))
    val staged = graft.operators.BloomDedup
      .incrementalKeepStaged(incoming, "text", idx)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val raw = graft.operators.BloomDedup
      .incrementalKeep(docs, incoming, "text", est, est * 10L)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(staged == raw)
    // semantics sanity: every recrawl row vanished, every salted fresh
    // row survived
    assert(!staged.exists(_._1 % 10 == 3 && !staged.exists(_._2.startsWith("fresh "))))
    val nFresh = incoming.filter(col("text").startsWith("fresh ")).count()
    assert(staged.count(_._2.startsWith("fresh ")) == nFresh)
  }

  test("q5 staged-map gate == from-raw q5, exactly") {
    val d = sf()
    val staged = SparkEntry.queries("q5_local_supplier_staged")(spark, d)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val raw = SparkEntry.queries("q5_local_supplier")(spark, d)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(staged == raw && staged.nonEmpty)
  }

  test("staged order→nation map: fingerprint hit skips the rebuild") {
    val d = sf()
    val path = gates.Fixtures.stagePath("q5map", d)
    graft.sources.StagedMaps.ensureOrderNationMap(spark, d, path)
    assert(!graft.sources.StagedMaps.ensureOrderNationMap(spark, d, path))
  }

  test("windowed HLL estimates: 4σ hard envelope + ≥95% within 2σ") {
    for (d <- Seq(sf("sf0.01"), sf("sf0.1"))) {
      val rows = Events_approxJoinedExact(d).collect()
      assert(rows.nonEmpty)
      var within2sigma = 0
      rows.foreach { r =>
        val est = r.getAs[Long]("n_users_est")
        val exact = r.getAs[Long]("n_users_exact")
        val err = math.abs(est - exact).toDouble
        // the hard per-row envelope the gate's oracle pins: 20% (4σ at
        // rsd 0.05) with an absolute floor of 5 (HLL++ is dense-only —
        // small windows wobble by a count or two)
        assert(err <= math.max(exact * 0.20, 5.0),
          s"$d window ${r.get(0)}/${r.get(1)}: est $est vs exact $exact")
        if (err <= math.max(exact * 0.10, 2.0)) within2sigma += 1
      }
      // the sketch's REAL guarantee: rsd 0.05 ⇒ ≥95% of windows inside
      // the 10% (2σ) band (measured: 21 of ~2100 outside at sf0.1)
      assert(within2sigma.toDouble / rows.length >= 0.95,
        s"$d: only $within2sigma/${rows.length} windows within 2σ")
    }
    // and the check gate's verdict column is all-TRUE (what the
    // oracle pins)
    val check = SparkEntry.queries("q_event_windows_approx_check")(spark, sf("sf0.01"))
    assert(check.filter(!col("within_envelope")).count() == 0)
  }

  test("domain policy: literal and join blocklist forms agree exactly") {
    val d = sf()
    val docs = Tables.documents(spark, d).withColumn("url",
      concat(lit("https://"),
        when(pmod(col("doc_id"), lit(5L)) === 0, lit("cdn.")).otherwise(lit("")),
        col("source"), lit("-"),
        pmod(col("doc_id"), lit(7L)).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string")))
      // a malformed-URL slice exercises the NULL-host pass-through on
      // BOTH paths (the literal form branches; the join form relies on
      // three-valued anti-join logic)
      .withColumn("url",
        when(pmod(col("doc_id"), lit(97L)) === 5, lit("not a url"))
          .otherwise(col("url")))
    val blocked = Seq("src1-3.example.com", "src2-1.example.com")
    import spark.implicits._
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), coalesce(col("host"), lit("∅")))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val lit_ = key(graft.operators.DomainPolicy.applyPolicy(
      docs, "url", "doc_id", blocked, maxPerHost = 3))
    val join_ = key(graft.operators.DomainPolicy.applyPolicyJoin(
      docs, "url", "doc_id", blocked.toDF("domain"), "domain", maxPerHost = 3))
    assert(lit_ == join_ && lit_.nonEmpty)
    // the auto switch: at list size 2 it must take the literal form,
    // past the cap the join form — both equal anyway (gate-pinned);
    // here just pin the switch boundary semantics via output equality
    val autoBig = key(graft.operators.DomainPolicy.applyPolicyAuto(
      docs, "url", "doc_id",
      blocked ++ (1 to 500).map(i => s"pad$i.invalid"), maxPerHost = 3))
    assert(autoBig == lit_)
  }

  test("trainCheck: exact integer GD is replay-stable and separates the classes") {
    val d = sf()
    def run() = SparkEntry.queries("q_classifier_train_check")(spark, d)
      .orderBy("bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val a = run()
    // bit-for-bit replay (the property that makes the fixture oracle
    // possible; the float trainer is rows-only precisely because
    // partition merge order perturbs its sums)
    assert(a == run())
    assert(a.length == 65 && a.head._1 == -1L) // 64 buckets + intercept
    val w = a.filter(_._1 >= 0).map(p => p._1 -> p._2).toMap
    // the trained weights separate the construction: forward-token
    // docs score positive margins, reversed-token docs negative, on
    // the held-out fifth (exact integer margins, same bucket recipe)
    val intercept = a.head._2
    val held = Tables.documents(spark, d)
      .filter(pmod(col("doc_id"), lit(5L)) === 4L)
      .select(col("doc_id"), col("text")).collect()
    def margin(toks: Seq[String]): Long =
      intercept + toks.map { t =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
        w(java.lang.Long.parseLong(md, 16) % 64)
      }.sum
    var posRight, negRight, n = 0
    held.foreach { r =>
      val toks = r.getString(1).trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.nonEmpty) {
        n += 1
        if (margin(toks) >= 0) posRight += 1
        if (margin(toks.map(_.reverse)) < 0) negRight += 1
      }
    }
    assert(n > 50)
    // hash-bucket collisions at 64 dims cost a little accuracy; the
    // separation must still be overwhelming on both classes
    assert(posRight.toDouble / n >= 0.9, s"pos $posRight/$n")
    assert(negRight.toDouble / n >= 0.9, s"neg $negRight/$n")
  }

  test("unigram tokenizer: segmentation is exact-rational and hand-checkable") {
    import graft.operators.UnigramTokenizer
    // model: chars a,b + pieces "ab" (count 8), "ba" (count 2);
    // C = (3+1)+(1+1)+(8+1)+(2+1) = 18
    val m = Map("a" -> 3L, "b" -> 1L, "ab" -> 8L, "ba" -> 2L)
    val c = UnigramTokenizer.normalizer(m)
    assert(c == BigInt(18))
    def seg(w: String) = UnigramTokenizer.segmentWord(w, m, c, 4).toSeq
    // "abab": [ab, ab] scores (9·9)/18² = 81/324 beats [a, ba, b]
    // (4·3·2)/18³ and every 4-piece split
    assert(seg("abab") == Seq("ab", "ab"))
    // "aba": [ab, a] (9·4)/18² vs [a, ba] (4·3)/18² — 36 > 12
    assert(seg("aba") == Seq("ab", "a"))
    // tie-break: model where "ab"+1 = ("a"+1)·("b"+1) makes the 1- and
    // 2-piece splits EXACTLY equal ⇒ fewer pieces wins
    val tie = Map("a" -> 2L, "b" -> 1L, "ab" -> 5L)
    val ct = UnigramTokenizer.normalizer(tie)
    assert(UnigramTokenizer.segmentWord("ab", tie, ct, 4).toSeq == Seq("ab"))
    // unknown single chars stay segmentable (count 0 + smoothing)
    assert(UnigramTokenizer.segmentWord("xq", tie, ct, 4).toSeq == Seq("x", "q"))
    // coverage: pieces always reassemble the word on real data
    val model = UnigramTokenizer.trainModel(
      Tables.documents(spark, sf()), "text")
    val words = Tables.documents(spark, sf())
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .collect().map(_.getString(0))
    val cn = UnigramTokenizer.normalizer(model)
    words.foreach { w =>
      assert(UnigramTokenizer.segmentWord(w, model, cn, 4).mkString == w)
    }
    // singles are never pruned (totality) and training is replay-stable
    val chars = words.flatMap(_.split("")).filter(_.nonEmpty).toSet
    assert(chars.forall(model.contains))
    assert(model == UnigramTokenizer.trainModel(
      Tables.documents(spark, sf()), "text"))
  }

  test("streaming LSH ingest: batch 2 screens against batch 1's appended delta") {
    // the property the gate's boundary-invariance oracle deliberately
    // avoids exercising (its construction has no cross-batch pairs):
    // a near-dup of a batch-1 INCOMING doc arriving in batch 2 must
    // flag against it — proving the per-batch index append is live,
    // not just harmless
    import java.nio.file.Files
    import spark.implicits._
    val stage = Files.createTempDirectory("graft_lsh_sink_spec")
    val work = Files.createTempDirectory("graft_lsh_sink_spec_w")
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    graft.dedup.LshIngest.writeIndex(base, "doc_id", "text", s"$work/index")
    // batch 1: a NOVEL doc; batch 2: a one-token-appended near-dup of it
    val b1 = Seq((10L, "red orange yellow green blue indigo violet ultraviolet")).toDF("doc_id", "text")
    val b2 = Seq((20L, "red orange yellow green blue indigo violet ultraviolet extra")).toDF("doc_id", "text")
    graft.streaming.Ingest.stageBatch(b1.coalesce(1), stage, "00_b1")
    graft.streaming.Ingest.stageBatch(b2.coalesce(1), stage, "01_b2")
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(stage.toString)
    val q = graft.streaming.Ingest.lshIngestSink(stream, "doc_id", "text",
      s"$work/index", s"$work/verdicts", s"$work/cp")
    try q.processAllAvailable() finally q.stop()
    val verdicts = spark.read.parquet(s"$work/verdicts")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(verdicts(10L) === true)   // novel vs the base index
    assert(verdicts(20L) === false)  // flagged against batch 1's delta
  }

  test("batch BM25 retrieval eval: hand-checked ranks, rr and misses") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple apple apple apple"),
      (3L, "dog cat mouse"),
      (4L, "banana cherry apple banana")).toDF("doc_id", "text")
    val queries = Seq(
      (10L, Seq("dog", "cat"), 3L),     // only doc 3 matches → rank 1
      (11L, Seq("zzz"), 1L)             // no doc matches → miss
    ).toDF("query_id", "terms", "rel_id")
    val out = graft.operators.Bm25.retrievalEval(docs, "doc_id", "text",
      queries, k = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out(10L) == ((1L, 1.0, true)))
    assert(out(11L) == ((0L, 0.0, false)))
    // batch ranking agrees with the single-query operator's ordering
    val batch = graft.operators.Bm25.batchTopK(docs, "doc_id", "text",
      Seq((20L, Seq("apple", "banana"))).toDF("query_id", "terms"), k = 4)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    val single = graft.operators.Bm25.topK(docs, "doc_id", "text",
      Seq("apple", "banana"), k = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(batch == single)
  }


  test("tokenizer fertility: bounds and degenerate docs") {
    val out = SparkEntry.queries("q_tokenizer_fertility")(spark, sf())
      .collect()
    assert(out.length == 500)
    out.foreach { r =>
      val (w, b, u) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // every word is at least one subword piece under either
      // tokenizer; empty docs read zeros
      if (w == 0) assert(b == 0 && u == 0 &&
        r.getDouble(4) == 0.0 && r.getDouble(5) == 0.0)
      else {
        assert(b >= w && u >= w)
        assert(r.getDouble(4) >= 1.0 && r.getDouble(5) >= 1.0)
      }
    }
  }

  test("vocab drift: JS matrix separates planted drift; algebra hand-checked") {
    import spark.implicits._
    // hand-checked JS: P = {a:1}, Q = {b:1} disjoint → JS = ln 2;
    // identical corpora → JS = 0
    val ab = Seq(("f1", "a"), ("f2", "b")).toDF("fam", "text")
    val disjoint = graft.operators.VocabDrift.jsMatrix(ab, "fam", "text")
      .collect().head.getLong(4)
    assert(math.abs(disjoint - math.round(math.log(2) * 1e9)) <= 1,
      s"disjoint JS $disjoint vs ln2")
    val same = Seq(("f1", "x y"), ("f2", "x y")).toDF("fam", "text")
    assert(graft.operators.VocabDrift.jsMatrix(same, "fam", "text")
      .collect().head.getLong(4) == 0L)
    // half-overlap: P={a:1}, Q={a:1,b:1} → JS = 0.5*(1*ln(1/0.75))
    //   + 0.5*(0.5*ln(0.5/0.75) + 0.5*ln(0.5/0.25))
    val half = Seq(("f1", "a"), ("f2", "a b")).toDF("fam", "text")
    val expected = 0.5 * math.log(1 / 0.75) +
      0.5 * (0.5 * math.log(0.5 / 0.75) + 0.5 * math.log(0.5 / 0.25))
    assert(math.abs(graft.operators.VocabDrift.jsMatrix(half, "fam", "text")
      .collect().head.getLong(4) - math.round(expected * 1e9)) <= 2)
    // the gate corpus: planted drifted family far above the organic
    // noise floor
    val out = SparkEntry.queries("q_vocab_drift")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(4)))
    val drifted = out.filter(p => p._1 == "drifted" || p._2 == "drifted").map(_._3)
    val organic = out.filterNot(p => p._1 == "drifted" || p._2 == "drifted").map(_._3)
    assert(drifted.nonEmpty && organic.nonEmpty)
    assert(drifted.min > 50L * organic.max,
      s"drifted min ${drifted.min} vs organic max ${organic.max}")
  }

  test("pagerank: hand-computed integer iterations; cycle fixpoint; hub authority") {
    import spark.implicits._
    import graft.operators.PageRank
    // 2-cycle a<->b is a FIXPOINT of the integer recursion:
    // 75000000 + (850000000 * 500000000) div 1e9 = 500000000
    val cyc = PageRank.ranks(
      Seq(0L, 1L).toDF("node"),
      Seq((0L, 1L), (1L, 0L)).toDF("src", "dst"), iterations = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cyc == Map(0L -> 500000000L, 1L -> 500000000L), cyc)
    // star (b->a, c->a, a->b), 2 iterations, every value hand-derived:
    //   init 333333333 each; base = 150000000 div 3 = 50000000
    //   i1: a = 50000000 + 850000000*666666666 div 1e9 = 616666666
    //       b = 50000000 + 850000000*333333333 div 1e9 = 333333333
    //       c = 50000000
    //   i2: a = 50000000 + 850000000*(333333333+50000000) div 1e9
    //         = 375833333
    //       b = 50000000 + 850000000*616666666 div 1e9 = 574166666
    val star = PageRank.ranks(
      Seq(0L, 1L, 2L).toDF("node"),
      Seq((1L, 0L), (2L, 0L), (0L, 1L)).toDF("src", "dst"), iterations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(star == Map(0L -> 375833333L, 1L -> 574166666L, 2L -> 50000000L), star)
    // gate: 20 rows, and the top node is a decade hub (authority
    // emerged from the iteration — hubs have no input-side boost)
    val gate = SparkEntry.queries("q_pagerank")(spark, sf()).collect()
    assert(gate.length == 20)
    assert(gate.head.getLong(0) % 10 == 0, gate.head.toString)
    assert(gate.map(_.getLong(1)).toSeq ==
      gate.map(_.getLong(1)).sorted.reverse.toSeq)
  }

  test("pagerank: driver-local small-graph path bit-equals the distributed rounds") {
    // r12 optimization: below the node/edge bounds the iteration runs
    // on the driver (the Components.solveLocal hybrid). Both paths
    // must be bit-identical — same integral-div recursion, so this is
    // equality, not approximation. localNodeLimit = 0 forces the
    // distributed rounds on the same graph.
    import spark.implicits._
    import graft.operators.PageRank
    val nodes = (0L until 60L).toDF("node")
    val edges = (0L until 60L).flatMap(i => Seq((i, (i * 7 + 1) % 60), (i, (i * 13 + 2) % 60)))
      .filter { case (a, b) => a != b }.distinct.toDF("src", "dst")
    val loc = PageRank.ranks(nodes, edges, iterations = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val dist = PageRank.ranks(nodes, edges, iterations = 7, localNodeLimit = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(loc == dist, s"local/distributed mismatch: ${loc.toSeq.sorted.take(5)}... vs ${dist.toSeq.sorted.take(5)}...")
  }

  test("image phash: hand-checked dHash bits, banding == brute force, planted gate") {
    import graft.multimodal.ImagePHash
    // 9x8 one-pixel-per-cell image, luma strictly increasing in x:
    // every bit(r,c) = [cell(r,c) < cell(r,c+1)] = 1 → hash == -1L
    def img(black: Option[(Int, Int)]): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 9) {
        val v = if (black.contains((y, x))) 0 else 32 + x * 24
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      im
    }
    assert(ImagePHash.dHash64(img(None)) == -1L)
    // blacking interior cell (r, c) flips exactly bit(r, c-1) — the
    // comparison ENTERING the cell; the one leaving it stays true.
    // Bit (r, c) sits at position 63 - (r*8 + c) (MSB-first build).
    for ((r, c) <- Seq((0, 4), (3, 1), (7, 7)))
      assert(ImagePHash.dHash64(img(Some((r, c)))) ==
        (-1L ^ (1L << (63 - (r * 8 + (c - 1))))), s"cell ($r,$c)")
    // banded candidate join finds exactly what brute-force hamming
    // does on the planted set (pigeonhole completeness at t<=3)
    val hashes = ImagePHash.hashMedia(ImagePHash.plantedGradientMedia(spark, 4))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hashes.length == 12 && hashes.forall(_._2 != 0L))
    val brute = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d.toLong)).toSet
    val banded = ImagePHash.nearDupPairs(
      ImagePHash.hashMedia(ImagePHash.plantedGradientMedia(spark, 4)), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute, s"banded $banded vs brute $brute")
    // the gate's hamming<=1 screen returns exactly the planted trios
    val gate = SparkEntry.queries("q_image_phash")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = (0 until 4).flatMap(k => Seq(
      (k.toLong, 100L + k, 0L), (k.toLong, 200L + k, 1L),
      (100L + k, 200L + k, 1L))).toSet
    assert(gate == expected, s"gate $gate")
  }

  test("scratch sweep: dead-pid dirs reclaimed, live ones kept") {
    val base = java.nio.file.Files.createTempDirectory("graft_scratch_test").toFile
    try {
      // a dir owned by THIS (live) jvm, one by a certainly-dead pid
      // (max linux pid is < 2^22 by default; 2^30 cannot be live),
      // and a non-pid dir the sweep must never touch
      val mine = new java.io.File(base, s"pid-${ProcessHandle.current().pid()}")
      val dead = new java.io.File(base, "pid-1073741824")
      val other = new java.io.File(base, "blockmgr-legacy")
      Seq(mine, dead, other).foreach(_.mkdirs())
      java.nio.file.Files.writeString(
        new java.io.File(dead, "shuffle_0_0_0.data").toPath, "x")
      val removed = GraftSession.sweepDeadPidScratch(base)
      assert(removed == Seq("pid-1073741824"), removed)
      assert(mine.isDirectory && other.isDirectory && !dead.exists())
      // idempotent on a clean base
      assert(GraftSession.sweepDeadPidScratch(base).isEmpty)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(base)
    }
  }

  private def Events_approxJoinedExact(d: String) =
    graft.streaming.Events.windowedAggApprox(Tables.events(spark, d))
      .join(graft.streaming.Events.windowedAggBatch(Tables.events(spark, d))
          .select(col("window_start"), col("event_type"),
            col("n_users").as("n_users_exact")),
        Seq("window_start", "event_type"))
}
