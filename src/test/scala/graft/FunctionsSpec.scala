package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{CentroidSet, TextFunctions => TF, VectorFunctions => VF}

object FunctionsSpec {
  case class Cent(cluster_id: Int, centroid: Seq[Double])
  case class CentOpt(cluster_id: Option[Int], centroid: Option[Seq[Option[Double]]])
  type Vec = Option[Seq[Option[Double]]]
}

class FunctionsSpec extends SparkSpec {
  import spark.implicits._
  import FunctionsSpec.{Cent, CentOpt, Vec}

  /** Runs `body` with `confs` set, restoring the session confs. */
  private def withConfs(confs: Seq[(String, String)])(body: => Unit): Unit = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Runs `body` once under whole-stage codegen with no interpreted
    * fallback and once fully interpreted.
    */
  private def underBothPaths(body: String => Unit): Unit =
    Seq(Seq("true", "CODEGEN_ONLY"), Seq("false", "NO_CODEGEN")).foreach { mode =>
      withConfs(Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode").zip(mode)) {
        body(mode.last)
      }
    }

  /** The composable-builtin cosine the native `cosine_sim` replaced:
    * three operand walks plus an intermediate array.
    */
  private def cosineHof(a: Column, b: Column): Column =
    VF.dot(a, b) / (sqrt(VF.dot(a, a)) * sqrt(VF.dot(b, b)))

  /** Highest multiplicity of any element in `arr` (0 for empty):
    * sort, then the longest equal-run in one `aggregate` — the
    * interpreted form native `ngram_repetition`'s top_cnt replaced.
    */
  private def maxMultiplicity(arr: Column): Column =
    TF.bindOnce(array_sort(arr), sorted =>
      aggregate(sorted,
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc("prev"), acc("run") + lit(1L)).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc("best"), run).as("best"))
        },
        acc => acc("best")))

  /** The r13 IVF cell assignment, an interpreted `aggregate` struct
    * fold — the reference `nearest_centroid` must reproduce.
    */
  private def nearestCentroidFold(emb: Column, cents: Column): Column =
    (-aggregate(cents,
      struct(lit(Double.NegativeInfinity).as("sim"), lit(Int.MinValue).as("neg_cid")),
      (acc, x) => {
        val cand = struct(VF.cosine(emb, x.getField("centroid")).as("sim"),
          (-x.getField("cluster_id")).as("neg_cid"))
        when(cand > acc, cand).otherwise(acc)
      }).getField("neg_cid")).cast("int")

  /** The Ivf/Pq Lloyd update `vector_mean` replaced: posexplode →
    * (g, pos) `avg` → `collect_list` re-assembly — the reference
    * `vector_mean` must reproduce.
    */
  private def positionalAvgChain(df: DataFrame, g: String, v: String): DataFrame =
    df.select(col(g), posexplode(col(v)).as(Seq("pos", "x")))
      .groupBy(g, "pos").agg(avg("x").as("m"))
      .groupBy(g).agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col(g), expr("transform(pm, e -> e.m)").as("mean"))

  test("tokens / tokenCount handle empty and multi-space text") {
    val df = Seq("Hello  World", "", "   ", "one").toDF("text")
    val n = df.select(TF.tokenCount(col("text"))).as[Long].collect().toSeq
    assert(n == Seq(2L, 0L, 0L, 1L))
  }

  test("bpeTokenCount counts alpha runs, digit runs, punct marks") {
    val df = Seq("ab12 cd!", "").toDF("text")
    val n = df.select(TF.bpeTokenCount(col("text"))).as[Long].collect().toSeq
    // ab | 12 | cd | !
    assert(n == Seq(4L, 0L))
  }

  test("alphaRatio and meanTokenLen") {
    val df = Seq("abcd12", "").toDF("text")
    val r = df.select(TF.alphaRatio(col("text")), TF.meanTokenLen(col("text")))
      .as[(Double, Double)].collect().toSeq
    assert(math.abs(r.head._1 - 4.0 / 6.0) < 1e-9)
    assert(r.head._2 == 6.0)
    assert(r(1) == ((0.0, 0.0)))
  }

  test("bigrams are adjacent token pairs; short docs yield empty") {
    val df = Seq("a b c d", "solo", "").toDF("text")
    val r = df.select(TF.bigrams(col("text"))).as[Seq[String]].collect().toSeq
    assert(r.head == Seq("a b", "b c", "c d"))
    assert(r(1) == Seq.empty)
    assert(r(2) == Seq.empty)
  }

  test("maxMultiplicity is the mode count; dupTokenFrac the repeat share") {
    val df = Seq("a b a c a b", "x y z", "").toDF("text")
    val m = df.select(maxMultiplicity(TF.tokens(col("text"))))
      .as[Long].collect().toSeq
    assert(m == Seq(3L, 1L, 0L)) // "a" ×3; all distinct; empty
    val f = df.select(TF.dupTokenFrac(col("text"))).as[Double].collect().toSeq
    assert(math.abs(f.head - 0.5) < 1e-9) // 6 tokens, 3 distinct
    assert(f(1) == 0.0 && f(2) == 0.0)
    // bigram mode: "a b" appears twice of 5 bigrams
    val bm = df.select(maxMultiplicity(TF.bigrams(col("text"))))
      .as[Long].collect().toSeq
    assert(bm == Seq(2L, 1L, 0L))
  }

  test("langId picks argmax, und when no markers") {
    val markers = Seq("en" -> Seq("the"), "es" -> Seq("el", "la"))
    val df = Seq("the dog", "el perro la casa", "xyzzy").toDF("text")
    val r = df.select(TF.langId(col("text"), markers)).as[String].collect().toSeq
    assert(r == Seq("en", "es", "und"))
  }

  test("shingles: k-grams distinct, short docs give whole-text shingle") {
    val df = Seq("a b c d", "a b").toDF("text")
    val r = df.select(TF.shingles(col("text"), 3)).as[Seq[String]].collect().toSeq
    assert(r.head.toSet == Set("a b c", "b c d"))
    assert(r(1) == Seq("a b"))
  }

  test("fingerprint is deterministic and order-sensitive") {
    val df = Seq("abc", "abc", "acb").toDF("text")
    val r = df.select(TF.fingerprint(col("text"))).as[Long].collect().toSeq
    assert(r(0) == r(1))
    assert(r(0) != r(2))
  }

  test("vector dot/cosine/l2") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 2.0f))).toDF("a", "b")
    val r = df.select(
      VF.dot(col("a"), col("b")), VF.cosine(col("a"), col("a")),
      VF.l2(col("a"), col("b"))).as[(Double, Double, Double)].head()
    assert(r._1 == 0.0)
    assert(math.abs(r._2 - 1.0) < 1e-12)
    assert(math.abs(r._3 - math.sqrt(5.0)) < 1e-12)
  }

  test("native cosine_sim matches the HOF form and handles null/mismatch") {
    val emb = Tables.embeddings(spark, sf()).limit(50)
    val pairs = emb.as("l").crossJoin(emb.as("r"))
      .select(
        VF.cosine(col("l.embedding"), col("r.embedding")).as("native"),
        cosineHof(col("l.embedding"), col("r.embedding")).as("hof"))
      .as[(Double, Double)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (n, h) => assert(math.abs(n - h) < 1e-12, s"$n vs $h") }

    val edge = Seq(
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)), // length mismatch
      (null, Seq(1.0f, 2.0f))                   // null array
    ).toDF("a", "b")
    val out = edge.select(VF.cosine(col("a"), col("b"))).collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("nearest_centroid gives the struct fold's cluster_id on every row") {
    val rnd = new scala.util.Random(20261017L)
    val dim = 16
    def gauss(): Seq[Double] = Seq.fill(dim)(rnd.nextGaussian())
    val rows: Seq[Seq[Double]] = Seq.fill(400)(gauss()) ++ Seq(
      Seq.fill(dim)(0.0),                                       // every sim NaN
      Seq.fill(dim)(-0.0),                                      // NaN again
      Seq.tabulate(dim)(i => if (i % 2 == 0) -0.0 else 1.0))   // -0.0 components
    val vecs = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "emb")
    // Lloyd seeds are corpus rows (the float stored width); refined
    // centroids are Lloyd means (double). Each set also carries exact
    // duplicates listed before the smaller id they copy, and a -0.0
    // centroid.
    def centSet(base: Seq[Seq[Double]]): Seq[Cent] =
      Seq(Cent(30, base(3)), Cent(31, base(7))) ++
        base.zipWithIndex.map { case (c, i) => Cent(i, c) } ++
        Seq(Cent(12, Seq.tabulate(dim)(i => if (i % 3 == 0) -0.0 else 0.5)))
    val centSets = Seq(
      "float seeds" -> (centSet(rows.take(12)), "float"),
      "double refined" -> (centSet(Seq.fill(12)(gauss())), "double"))
    underBothPaths { mode =>
      for ((name, (cents, centWidth)) <- centSets; embWidth <- Seq("float", "double")) {
        val centsRow = Seq(Tuple1(cents)).toDF("__cents").select(col("__cents").cast(
          s"array<struct<cluster_id:int,centroid:array<$centWidth>>>").as("__cents"))
        // the same centroids as a driver-held set leaf (Ivf's form)
        val set = CentroidSet.of(centsRow.select(inline(col("__cents"))))
        val out = vecs.select(col("vec_id"), col("emb").cast(s"array<$embWidth>").as("emb"))
          .crossJoin(broadcast(centsRow))
          .select(col("vec_id"),
            VF.nearestCentroid(col("emb"), col("__cents")).as("kernel"),
            nearestCentroidFold(col("emb"), col("__cents")).as("fold"),
            VF.nearestCentroid(col("emb"), set).as("set"))
          .as[(Long, Option[Int], Option[Int], Option[Int])].collect().sortBy(_._1)
        val label = s"$name centroids, $embWidth vectors, $mode"
        assert(out.length == rows.length, label)
        out.foreach { case (id, k, f, t) =>
          assert(k == f && k.nonEmpty && t == f, s"$label: vec $id") }
        assert(!out.exists(r => r._2.contains(30) || r._2.contains(31)),
          s"$label: a duplicate must lose its tie to the smaller id")
        assert(out(400)._2.contains(0) && out(401)._2.contains(0),
          s"$label: zero vectors tie every cell at NaN, so the smallest id wins")
        if (name == "float seeds") assert(out(3)._2.contains(3) && out(7)._2.contains(7), label)
      }
    }
  }

  test("nearest_centroid is NULL when no centroid is comparable; NULL parts never win") {
    val cases: Seq[(Option[Seq[Option[Double]]], Seq[CentOpt], Option[Int])] = {
      def v(xs: Double*) = Some(xs.map(Some(_)))
      def c(id: Int, xs: Double*) = CentOpt(Some(id), v(xs: _*))
      Seq(
        (v(1, 0), Seq.empty, None),                                  // empty list
        (None, Seq(c(0, 1, 0)), None),                               // NULL embedding
        (v(1, 0), Seq(c(0, 1, 0, 0)), None),                         // no equal width
        (Some(Seq(Some(1.0), None)), Seq(c(0, 1, 0)), None),         // NULL element in emb
        (v(1, 0), Seq(CentOpt(Some(0), Some(Seq(Some(1.0), None))), c(1, 0, 1)), Some(1)),
        (v(1, 0), Seq(null, CentOpt(Some(2), None), c(3, 2, 0)), Some(3)),
        (v(1, 0), Seq(CentOpt(None, v(1, 0)), c(4, 0, 1)), None),    // NULL id wins on sim
        (v(1, 0), Seq(CentOpt(None, v(1, 0)), c(4, 1, 0)), Some(4)), // ... loses a tie
        (v(0, 0), Seq(c(5, 1, 0), c(2, 0, 1)), Some(2)))             // NaN tie: smaller id
    }
    val df = cases.zipWithIndex.map { case ((e, cs, _), i) => (i, e, cs) }
      .toDF("i", "emb", "cents")
    underBothPaths { mode =>
      val got = df.select(col("i"), VF.nearestCentroid(col("emb"), col("cents")))
        .as[(Int, Option[Int])].collect().sortBy(_._1).map(_._2).toSeq
      assert(got == cases.map(_._3), mode)
      // each case's centroids as a set leaf: a NULL element arrives
      // as a (NULL, NULL) row, which never wins either
      val viaSet = cases.indices.map { i =>
        val one = df.filter(col("i") === i)
        val set = CentroidSet.of(one.select(inline(col("cents"))))
        one.select(VF.nearestCentroid(col("emb"), set)).as[Option[Int]].head()
      }
      assert(viaSet == cases.map(_._3), s"set form, $mode")
    }
  }

  test("vector_mean gives the posexplode/avg/collect_list chain's rows and values") {
    val rnd = new scala.util.Random(20261018L)
    def gauss(w: Int): Vec = Some(Seq.fill(w)(Some(rnd.nextGaussian())))
    def v(xs: Option[Double]*): Vec = Some(xs)
    val (nan, nz) = (Some(Double.NaN), Some(-0.0))
    // seven seeded groups (group 6 mixes widths 5–8) plus literal edges
    val rows: Seq[(Option[Int], Vec)] =
      (0 until 350).map(i => (Some(i % 7), gauss(if (i % 7 == 6) 5 + i % 4 else 8))) ++ Seq(
        (Some(7), v(Some(1.0), None, nz)),                  // NULL element, -0.0
        (Some(7), None),                                     // NULL array
        (Some(7), v(nz, None, nz, Some(2.5), None)),         // wider; pos 4 only NULL
        (Some(7), v()),                                      // empty array
        (Some(8), v(nan, Some(1.0))), (Some(8), v(Some(3.0), nz)),
        (Some(9), v(nz, nz)),                                // 0.0 + -0.0 = 0.0
        (Some(10), v(None, None)),                           // only NULL elements
        (Some(11), None), (Some(11), v()),                   // no element at all
        (Some(12), None),
        (None, gauss(8)), (None, v(Some(1.0))))              // NULL key, unequal widths
    val df = rows.toDF("g", "v").coalesce(1) // one task: input order is row order
    def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)
    def collectSorted(out: DataFrame): Seq[(Option[Int], Vec)] =
      out.as[(Option[Int], Vec)].collect().toSeq.sortBy(_._1.getOrElse(-1))
    val aggConfs = Seq(
      "as-is" -> Seq.empty[(String, String)],
      "sort-based fallback" -> Seq("spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1"),
      "sort aggregate" -> Seq("spark.sql.execution.useObjectHashAggregateExec" -> "false"))
    for ((mode, confs) <- aggConfs; width <- Seq("double", "float"); empty <- Seq(false, true)) {
      withConfs(confs) {
        val typed = df.select(col("g"), col("v").cast(s"array<$width>").as("v"))
        // an RDD scan, not an empty local relation the optimizer folds
        // away: the aggregate must still run
        val in = if (!empty) typed else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], typed.schema)
        val vm = in.groupBy("g").agg(VF.vectorMean(col("v")).as("mean"))
        val label = s"$width vectors, $mode${if (empty) ", empty input" else ""}"
        assert(vm.schema("mean").dataType ==
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, true), label)
        val plan = vm.queryExecution.executedPlan.toString
        assert(plan.contains(if (mode == "sort aggregate") "SortAggregate" else "ObjectHashAggregate"),
          s"$label:\n$plan")
        val got = collectSorted(vm)
        val want = collectSorted(positionalAvgChain(in, "g", "v"))
        // Bit for bit on the hash path. The sort-based paths do not add
        // a group's rows in input order: after the fallback Spark folds
        // the rows that follow the switch first and merges the buffer
        // of the rows before it last, and the radix sort ahead of a
        // SortAggregate moves a non-NULL-key row to the end for every
        // NULL-key row it inserts. Float sums are exact in double at
        // these magnitudes, so any order gives the same bits; a double
        // sum is reassociated — equal to rounding, not bit for bit.
        val exact = mode == "as-is" || width == "float"
        val means = got.filter(_._2.nonEmpty)
        assert(means.map(_._1) == want.map(_._1), label)
        means.zip(want).foreach { case ((g, a), (_, b)) =>
          assert(a.get.size == b.get.size, s"$label: group $g")
          a.get.zip(b.get).foreach {
            case (Some(x), Some(y)) => assert(
              if (exact) bits(x) == bits(y)
              else (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(y)),
              s"$label: group $g: $x vs $y")
            case (x, y) => assert(x == y, s"$label: group $g")
          }
        }
        // groups the chain has no row for: no element reached them
        assert(got.filter(_._2.isEmpty).map(_._1) == (if (empty) Nil else Seq(Some(11), Some(12))),
          label)
        if (!empty) {
          val byKey = got.toMap
          assert(byKey(Some(7)).get.drop(3) == Seq(Some(2.5), None), label)
          assert(byKey(Some(8)).get.head.exists(_.isNaN) && byKey(Some(8)).get(1) == Some(0.5),
            label)
          assert(byKey(Some(9)).get.map(_.map(bits)) ==
            Seq.fill(2)(Some(0L)), s"$label: +0.0, never -0.0")
          assert(byKey(Some(10)).get == Seq(None, None), label)
        }
      }
    }
  }

  /** The IVF probe `nearest_centroids` replaced: every set row per
    * query, ranked by a query-keyed window — (query_id, rank,
    * cluster_id) for the first `n`.
    */
  private def probeWindow(q: DataFrame, set: Column, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("c_sim").desc, col("cluster_id").asc)
    q.select(col("query_id"), col("q_emb"), inline(set))
      .withColumn("c_sim", VF.cosine(col("q_emb"), col("centroid")))
      .withColumn("c_rank", row_number().over(w))
      .filter(col("c_rank") <= n)
      .select(col("query_id"), col("c_rank"), col("cluster_id"))
  }

  test("nearest_centroids picks the probe window's cells, in its order") {
    val rnd = new scala.util.Random(20261019L)
    val dim = 8
    def v(xs: Seq[Double]): Vec = Some(xs.map(Some(_)))
    def gauss(): Seq[Double] = Seq.fill(dim)(rnd.nextGaussian())
    val base = Seq.fill(12)(gauss())
    // exact-tie duplicates under larger and NULL ids, a repeated id, a
    // NULL vector, a vector with a NULL element and one of another width
    val cents: Seq[CentOpt] =
      base.zipWithIndex.map { case (c, i) => CentOpt(Some(i), v(c)) } ++ Seq(
        CentOpt(Some(30), v(base(3))), CentOpt(Some(31), v(base(7))),
        CentOpt(None, v(base(5))), CentOpt(Some(2), v(gauss())),
        CentOpt(Some(40), None), CentOpt(Some(41), Some(Some(1.0) +: None +: gauss().drop(2).map(Some(_)))),
        CentOpt(Some(42), v(Seq.fill(5)(1.0))))
    val queries: Seq[Vec] = Seq.fill(60)(v(gauss())) ++ base.take(4).map(v) ++
      Seq(v(Seq.fill(dim)(0.0)), v(Seq.fill(dim)(-0.0)),      // every sim NaN
        v(Double.NaN +: gauss().tail),                        // NaN again
        None,                                                 // NULL query
        Some(None +: gauss().tail.map(Some(_))),              // NULL element
        v(Seq.fill(5)(1.0)))                                  // one comparable cell
    val c = cents.size
    underBothPaths { mode =>
      for (width <- Seq("float", "double")) {
        val q = queries.zipWithIndex.map { case (e, i) => (i.toLong, e) }.toDF("query_id", "q_emb")
          .select(col("query_id"), col("q_emb").cast(s"array<$width>").as("q_emb"))
        val set = CentroidSet.of(cents.toDF("cluster_id", "centroid"))
        for (n <- Seq(0, 1, 4, c, c + 5)) {
          val got = q.select(col("query_id"),
              posexplode(VF.nearestCentroids(col("q_emb"), set, n)).as(Seq("pos", "cluster_id")))
            .select(col("query_id"), (col("pos") + 1).as("rank"), col("cluster_id"))
            .as[(Long, Int, Option[Int])].collect().sorted.toSeq
          val want = probeWindow(q, set, n).as[(Long, Int, Option[Int])].collect().sorted.toSeq
          val label = s"$width queries, n = $n, $mode"
          assert(got.size == queries.size * math.min(n, c), label)
          assert(got == want, s"$label: ${got.diff(want).take(5)} vs ${want.diff(got).take(5)}")
        }
      }
    }
  }

  test("minhash64 native is bit-identical to the builtin HOF composition") {
    val docs = Tables.documents(spark, sf())
      .select(col("doc_id"), col("text"))
      .union(Seq((100001L, ""), (100002L, "one two")).toDF("doc_id", "text"))
    val withHashes = docs.select(col("doc_id"), array_distinct(
      transform(TF.shingles(col("text"), 3), sh => xxhash64(sh))).as("hs"))
    val both = withHashes.select(
      call_function("minhash64", col("hs"), lit(64)).as("native"),
      transform(sequence(lit(0), lit(63)),
        s => array_min(transform(col("hs"), h => xxhash64(h, s)))).as("hof"))
    assert(both.filter(!(col("native") <=> col("hof"))).count() == 0)
    assert(both.count() > 100)
  }

  test("shingle_hash64 native is bit-identical to the HOF composition") {
    val docs = Tables.documents(spark, sf())
      .select(col("doc_id"), col("text"))
      .union(Seq((100001L, ""), (100002L, "one two"), (100003L, "a b c d a b c d"))
        .toDF("doc_id", "text"))
    val both = docs.select(
      call_function("shingle_hash64", TF.tokens(col("text")), lit(3)).as("native"),
      array_distinct(transform(TF.shingles(col("text"), 3), sh => xxhash64(sh))).as("hof"))
    assert(both.filter(!(col("native") <=> col("hof"))).count() == 0)
    assert(both.count() > 100)
  }

  test("ngram_hash64 / trigram_hash_bundle are bit-identical to the HOF forms") {
    // the exact swap q_backoff_logprob made in r13: the native chained
    // n-gram sweeps must reproduce the builtin multi-argument xxhash64
    // per position (seed 42, chained) on real corpus text + edge docs
    val docs = Tables.documents(spark, sf())
      .select(col("doc_id"), col("text"))
      .union(Seq((100001L, ""), (100002L, "one"), (100003L, "one two"),
        (100004L, "a b c"), (100005L, "a b c d a b c d"))
        .toDF("doc_id", "text"))
    def hofTri(toks: org.apache.spark.sql.Column) =
      when(size(toks) < 3, array().cast(
          "array<struct<h3:bigint,h12:bigint,h23:bigint,hw2:bigint,hw3:bigint>>"))
        .otherwise(transform(sequence(lit(1), size(toks) - 2), i => {
          val (w1, w2, w3) =
            (element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))
          struct(xxhash64(w1, w2, w3).as("h3"), xxhash64(w1, w2).as("h12"),
            xxhash64(w2, w3).as("h23"), xxhash64(w2).as("hw2"),
            xxhash64(w3).as("hw3"))
        }))
    def hofNgram(toks: org.apache.spark.sql.Column, n: Int) =
      when(size(toks) < n, array().cast("array<bigint>"))
        .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)), i =>
          xxhash64((0 until n).map(j => element_at(toks, i + j)): _*)))
    val both = docs.select(
      call_function("ngram_hash64", TF.tokens(col("text")), lit(2)).as("bi_native"),
      TF.bindOnce(TF.tokens(col("text")), t => hofNgram(t, 2)).as("bi_hof"),
      call_function("ngram_hash64", TF.tokens(col("text")), lit(3)).as("tri_native"),
      TF.bindOnce(TF.tokens(col("text")), t => hofNgram(t, 3)).as("tri_hof"),
      call_function("trigram_hash_bundle", TF.tokens(col("text"))).as("bundle_native"),
      TF.bindOnce(TF.tokens(col("text")), t => hofTri(t)).as("bundle_hof"))
    assert(both.filter(!(col("bi_native") <=> col("bi_hof")) ||
      !(col("tri_native") <=> col("tri_hof")) ||
      !(col("bundle_native") <=> col("bundle_hof"))).count() == 0)
    assert(both.count() > 100)
  }

  test("ngram_repetition top_cnt is bit-identical to the HOF composition") {
    // the exact swap q_repetition_stats made in r9: native top_cnt at
    // k=1/k=2 must reproduce the interpreted maxMultiplicity path
    // over TF.tokens / TF.bigrams on real corpus text + edge docs
    val docs = Tables.documents(spark, sf())
      .select(col("doc_id"), col("text"))
      .union(Seq((100001L, ""), (100002L, "solo"), (100003L, "a b a c a b"),
        (100004L, "a a a a a a")).toDF("doc_id", "text"))
    val both = docs.select(
      call_function("ngram_repetition", TF.tokens(col("text")), lit(1))
        .getField("top_cnt").as("uni_native"),
      maxMultiplicity(TF.tokens(col("text"))).as("uni_hof"),
      call_function("ngram_repetition", TF.tokens(col("text")), lit(2))
        .getField("top_cnt").as("bi_native"),
      maxMultiplicity(TF.bigrams(col("text"))).as("bi_hof"))
    assert(both.filter(!(col("uni_native") <=> col("uni_hof")) ||
      !(col("bi_native") <=> col("bi_hof"))).count() == 0)
    assert(both.count() > 100)
  }

  test("ngram_repetition total_chars matches join length; dup_chars bounded") {
    val docs = Tables.documents(spark, sf()).select(col("text"))
    val st = call_function("ngram_repetition", TF.tokens(col("text")), lit(2))
    val checked = docs.select(
      st.getField("total_chars").as("tc"),
      st.getField("dup_chars").as("dc"),
      length(concat_ws(" ", TF.tokens(col("text")))).cast("long").as("joined"))
    assert(checked.filter(col("tc") =!= col("joined")).count() == 0)
    // span-union Gopher semantics: a character is counted at most once,
    // so the duplicate-char fraction can never exceed 1.0 (the r8
    // sum-of-occurrences form could: 6x"a" at k=2 gave 12/11)
    assert(checked.filter(col("dc") > col("tc")).count() == 0)
  }

  test("ngram_repetition literal cases: spans, ties, nulls, short docs") {
    def stats(tokens: Seq[String], k: Int): (Long, Long, Long, Long) = {
      val r = Seq(Tuple1(tokens)).toDF("ts")
        .select(call_function("ngram_repetition", col("ts"), lit(k)).as("s"))
        .select("s.top_cnt", "s.top_len", "s.dup_chars", "s.total_chars")
        .as[(Long, Long, Long, Long)].collect().head
      r
    }
    // the ADVICE counter-example: 6 tokens "a", k=2 — every bigram "a a"
    // duplicated, spans cover the whole 11-char join exactly once
    assert(stats(Seq("a", "a", "a", "a", "a", "a"), 2) == ((5L, 3L, 11L, 11L)))
    // disjoint duplicated spans: "a b x a b" at k=2 — "a b" twice,
    // spans [0,3) and [6,9): 6 duplicated chars of 9
    assert(stats(Seq("a", "b", "x", "a", "b"), 2) == ((2L, 3L, 6L, 9L)))
    // tie at count 1: binary-smallest k-gram wins (deterministic top_len)
    assert(stats(Seq("bb", "a"), 1) == ((1L, 1L, 0L, 4L)))
    // null elements skipped like concat_ws (ShingleHash64 rule)
    assert(stats(Seq("a", null, "b"), 1) == ((1L, 1L, 0L, 3L)))
    assert(stats(Seq(null, null), 2) == ((0L, 0L, 0L, 0L)))
    // fewer than k tokens: no k-grams, total still measured
    assert(stats(Seq("abc"), 2) == ((0L, 0L, 0L, 3L)))
    assert(stats(Seq.empty[String], 1) == ((0L, 0L, 0L, 0L)))
  }

  test("srpBucket deterministic; identical vectors share a bucket") {
    val df = Seq(
      (1L, Seq.tabulate(8)(i => i.toFloat)),
      (2L, Seq.tabulate(8)(i => i.toFloat)),
      (3L, Seq.tabulate(8)(i => -i.toFloat))
    ).toDF("vec_id", "embedding")
    val b = df.select(VF.srpBucket(col("embedding"), planes = 8))
      .as[Long].collect().toSeq
    assert(b(0) == b(1))
    assert(b(0) != b(2)) // opposite vector flips every nonzero projection
  }

  test("nfc_normalize composes decomposed text; identity fast paths; null") {
    val composed = "caf\u00E9"
    val df = Seq(
      Some("cafe\u0301"),     // decomposed -> composed \u00E9
      Some(composed),          // already NFC, non-ASCII -> unchanged
      Some("plain ascii"),     // ASCII fast path
      None: Option[String]
    ).toDF("text")
    val out = df.select(
        call_function("nfc_normalize", col("text")).as("n"),
        length(call_function("nfc_normalize", col("text"))).as("len"))
      .collect().toSeq
    assert(out(0).getString(0) === composed && out(0).getInt(1) === 4)
    assert(out(1).getString(0) === composed)
    assert(out(2).getString(0) === "plain ascii")
    assert(out(3).isNullAt(0) && out(3).isNullAt(1))
    // interpreted eval agrees with codegen (the ShingleHash64 pattern)
    import graft.functions.NfcNormalize
    import org.apache.spark.unsafe.types.UTF8String
    assert(NfcNormalize.nfc(UTF8String.fromString("cafe\u0301")).toString
      === composed)
    // the ASCII fast path returns the same reference, not a copy
    val ascii = UTF8String.fromString("abc")
    assert(NfcNormalize.nfc(ascii) eq ascii)
  }

  test("vocab_term_counts: equals the explode+semi-join+groupBy form") {
    val docs = Seq(
      (1L, Seq("a", "b", "a", "c", "a")),
      (2L, Seq("b", "b")),
      (3L, Seq.empty[String]),
      (4L, Seq("z", "z", "q"))).toDF("doc_id", "toks")
    val vocab = Seq("a", "b", "q")
    val native = docs.select(col("doc_id"),
      explode(call_function("vocab_term_counts", col("toks"),
        array(vocab.map(lit): _*))))
      .select(col("doc_id"), col("key"), col("value"))
      .as[(Long, String, Long)].collect().toSet
    val composed = docs.select(col("doc_id"), explode(col("toks")).as("t"))
      .filter(col("t").isin(vocab.map(x => x: Any): _*))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .as[(Long, String, Long)].collect().toSet
    assert(native === composed, s"$native vs $composed")
    assert(native === Set((1L, "a", 3L), (1L, "b", 1L), (2L, "b", 2L),
      (4L, "q", 1L)))
    // empty vocabulary → empty maps, no rows
    assert(docs.select(col("doc_id"),
      explode(call_function("vocab_term_counts", col("toks"),
        array().cast("array<string>")))).count() === 0)
  }

  test("vocab_term_counts: column vocabulary (Dyn) equals the literal form") {
    // one expression serves a plan-time literal vocabulary and a
    // broadcast 1-row aggregate column alike
    val docs = Seq(
      (1L, Seq("a", "b", "a", "c", "a")),
      (2L, Seq("b", "b")),
      (3L, Seq.empty[String]),
      (4L, Seq("z", "z", "q"))).toDF("doc_id", "toks")
    val vocab = Seq("a", "b", "q")
    val expected = Set((1L, "a", 3L), (1L, "b", 1L), (2L, "b", 2L), (4L, "q", 1L))
    val vocabRow = Seq((vocab, Seq("b", "z"), Seq.empty[String], Option.empty[Seq[String]]))
      .toDF("__vocab", "__vocab2", "__empty", "__null")
    val crossed = docs.crossJoin(broadcast(vocabRow))
    def counts(df: DataFrame, vocab: Column): Set[(Long, String, Long)] =
      df.select(col("doc_id"), explode(call_function("vocab_term_counts", col("toks"), vocab)))
        .select(col("doc_id"), col("key"), col("value"))
        .as[(Long, String, Long)].collect().toSet
    def maps(vocab: Column): Seq[Map[String, Long]] =
      crossed.orderBy("doc_id").select(call_function("vocab_term_counts", col("toks"), vocab))
        .as[Map[String, Long]].collect().toSeq
    val noCounts = Seq.fill(4)(Map.empty[String, Long])
    underBothPaths { mode =>
      assert(counts(crossed, array(vocab.map(lit): _*)) === expected, s"literal, $mode")
      assert(counts(crossed, col("__vocab")) === expected, s"column, $mode")
      // per-row DIFFERENT vocabularies exercise the rebuild path: each
      // row is counted under its own vocabulary, never a stale set
      val perRow = Seq(
        (1L, Seq("a", "b", "a"), Seq("a")),
        (2L, Seq("a", "b", "a"), Seq("b")),
        (3L, Seq("a", "b", "a"), Seq("a", "b"))).toDF("doc_id", "toks", "voc")
        .repartition(1) // one task, one thread: consecutive distinct vocabs
      assert(counts(perRow, col("voc")) === Set((1L, "a", 2L), (2L, "b", 1L),
        (3L, "a", 2L), (3L, "b", 1L)), s"per-row, $mode")
      // two calls with different vocabulary columns in one projection
      // each keep their own probe set
      val both = crossed.orderBy("doc_id").select(
          call_function("vocab_term_counts", col("toks"), col("__vocab")),
          call_function("vocab_term_counts", col("toks"), col("__vocab2")))
        .as[(Map[String, Long], Map[String, Long])].collect().toSeq
      assert(both === Seq(
        (Map("a" -> 3L, "b" -> 1L), Map("b" -> 1L)),
        (Map("b" -> 2L), Map("b" -> 2L)),
        (Map.empty[String, Long], Map.empty[String, Long]),
        (Map("q" -> 1L), Map("z" -> 2L))), s"two vocabularies, $mode")
      // empty and NULL vocabularies → the empty map (asserted on the
      // map itself: NULL and an empty map both explode to 0 rows)
      assert(maps(array().cast("array<string>")) === noCounts, s"empty literal, $mode")
      assert(maps(col("__empty")) === noCounts, s"empty column, $mode")
      assert(maps(lit(null).cast("array<string>")) === noCounts, s"NULL literal, $mode")
      assert(maps(col("__null")) === noCounts, s"NULL column, $mode")
      // NULL tokens → NULL
      assert(Seq(Tuple1(Option.empty[Seq[String]])).toDF("toks")
        .select(call_function("vocab_term_counts", col("toks"), array(lit("a"))))
        .head().isNullAt(0), s"NULL tokens, $mode")
    }
  }

  test("unicodeClean: spaces mapped, zero-width and controls deleted, NFC first") {
    val df = Seq(
      "a\u00A0b",              // NBSP -> plain space
      "a\u200Bb\uFEFFc",      // zero-width space + BOM deleted
      "a\u0007b\tc\nd",      // BEL deleted, tab/newline KEPT
      "cafe\u0301\u3000x",    // NFC composes, ideographic space maps
      "x\u200Cy\u200Dz"       // ZWNJ/ZWJ are orthography — KEPT
    ).toDF("text")
    val out = df.select(TF.unicodeClean(col("text"))).as[String].collect().toSeq
    assert(out === Seq("a b", "abc", "ab\tc\nd", "caf\u00E9 x",
      "x\u200Cy\u200Dz"))
  }
}
