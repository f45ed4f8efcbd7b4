package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.util.sketch.CountMinSketch
import graft.operators.{Dsir, HeavyHitters, Sampling, TokenBudget}

/** Round-9 operators: Count-Min heavy hitters, token-budget corpus
  * mixing, and DSIR importance resampling.
  */
class Round9OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf()).cache()

  test("CMS: SQL-built sketch answers String probes exactly on a collision-free vocab") {
    // the check harness deserializes the SQL aggregate's binary and
    // probes it with java Strings — this pins that the two item
    // encodings (UTF8String bytes added, String probed) hash alike
    val df = Seq("a a b b b c", "c c a").toDF("text")
    val bytes = df.select(explode(split(col("text"), " ")).as("t"))
      .agg(count_min_sketch(col("t"), lit(0.01), lit(0.99), lit(42)))
      .head().getAs[Array[Byte]](0)
    val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
    assert(cms.totalCount() === 9L)
    assert(cms.estimateCount("a") === 3L)
    assert(cms.estimateCount("b") === 3L)
    assert(cms.estimateCount("c") === 3L)
    assert(cms.estimateCount("zzz") === 0L)
  }

  test("heavy hitters: sketch estimates bound the exact counts (never under, within eps*N)") {
    // the sf0.001 synthetic vocabulary has ~31 distinct terms, so
    // k=20 keeps the top-k meaningful (k < |vocab|)
    val out = HeavyHitters.topTermsSketchCheck(spark, docs, "text", k = 20).cache()
    assert(out.count() === 20L)
    assert(out.filter(!col("est_ge_exact") || !col("est_within_eps")).count() === 0L)
    // top-k agrees with the exact form
    val exact = HeavyHitters.topTerms(docs, "text", 20)
      .as[(String, Long)].collect().toSeq
    val checked = out.orderBy(col("cnt").desc, col("term").asc)
      .select("term", "cnt").as[(String, Long)].collect().toSeq
    assert(checked === exact)
  }

  test("token budget: two-level prefix-sum selection == naive global-window selection") {
    val budget = 3000L
    val sel = TokenBudget.select(docs, "doc_id", "source", "text", budget)
      .cache()
    // naive reference: ONE window per source (the funnel form)
    val base = docs.select(col("doc_id"), col("source"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("n_tok"),
      Sampling.portableOrdering("doc_id").as("ord"))
    val bySrc = base.groupBy("source").agg(sum("n_tok").as("src_tok"))
    val all = bySrc.agg(sum("src_tok")).head().getLong(0).toDouble
    val quotas = bySrc.select(col("source"),
      floor(lit(budget.toDouble) * (col("src_tok").cast("double") / lit(all)))
        .cast("long").as("quota"))
    val naive = base.withColumn("before",
        coalesce(sum("n_tok").over(
          Window.partitionBy("source").orderBy(col("ord"), col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)),
          lit(0L)))
      .join(quotas, "source")
      .filter(col("before") < col("quota"))
      .select("doc_id").as[Long].collect().toSet
    assert(sel.select("doc_id").as[Long].collect().toSet === naive)
    assert(naive.nonEmpty, "budget selects a non-trivial subset")
    assert(naive.size < docs.count(), "budget must not select everything")

    // every quota is met, overshoot bounded by the boundary document
    val perSrc = TokenBudget.report(sel, "source").join(quotas, "source")
      .join(sel.groupBy("source").agg(max("n_tok").as("max_tok")), "source")
      .select("source", "kept_tokens", "quota", "max_tok")
      .as[(String, Long, Long, Long)].collect()
    assert(perSrc.nonEmpty)
    perSrc.foreach { case (src, kept, quota, maxTok) =>
      assert(kept >= quota, s"$src under quota: $kept < $quota")
      assert(kept - quota < maxTok, s"$src overshoot $kept-$quota >= $maxTok")
    }
  }

  test("token budget: zero budget selects nothing") {
    assert(TokenBudget.select(docs, "doc_id", "source", "text", 0L).count() === 0L)
  }

  test("DSIR: target-like docs outscore source-typical docs; empty doc is (0, 0.0)") {
    // planted construction: the target subset speaks "alpha beta
    // gamma", the rest speaks "zork quux blarg"; a held-out doc in
    // each dialect must land on the matching side of zero. Token
    // counts are large relative to nBuckets so the add-1 smoothing
    // can't flatten the signal (at count ≪ B the smoothed target and
    // source distributions both collapse toward uniform).
    val tgt = "alpha beta gamma " * 10 // 30 tokens
    val src = "zork quux blarg " * 10
    val corpus = Seq(
      (1L, tgt.trim, true),
      (2L, tgt.trim, true),
      (3L, tgt.trim, true),
      (4L, src.trim, false),
      (5L, src.trim, false),
      (6L, tgt.trim, false), // target-dialect text OUTSIDE the target set
      (7L, src.trim, false),
      (8L, "", false)
    ).toDF("doc_id", "text", "is_t")
    val w = Dsir.weights(corpus, "doc_id", "text", col("is_t"), nBuckets = 8)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(w(8L) === ((0L, 0.0)), "token-less doc carries (0, 0.0)")
    assert(w(1L)._2 > 0.0, s"in-target doc must score positive: ${w(1L)}")
    assert(w(6L)._2 > 0.0,
      s"target-DIALECT doc outside the target set still scores positive: ${w(6L)}")
    assert(w(4L)._2 < 0.0, s"source-only dialect scores negative: ${w(4L)}")
    assert(w(6L)._2 > w(4L)._2 + 0.5, "separation is material, not rounding noise")
    assert(w(1L)._1 === 30L, "n_tok counts whitespace tokens")
    assert(w(1L)._2 === w(6L)._2,
      "identical text scores identically regardless of target membership")
  }

  test("DSIR: weights are invariant to input partitioning (integerized sums)") {
    val a = Dsir.weights(docs, "doc_id", "text", col("lang") === "en")
      .as[(Long, Long, Double)].collect().toSet
    val b = Dsir.weights(docs.repartition(17), "doc_id", "text", col("lang") === "en")
      .as[(Long, Long, Double)].collect().toSet
    assert(a === b)
  }

  test("DSIR sample: accepted set == independent u < sigmoid(weight) replay") {
    val sel = Dsir.sample(docs, "doc_id", "text", col("lang") === "en")
      .cache()
    val w = Dsir.weights(docs, "doc_id", "text", col("lang") === "en")
    val expected = w.select(col("doc_id"), col("dsir_logratio"),
        (floor(lit(1.0) / (lit(1.0) + exp(col("dsir_logratio") * lit(-3.0)))
          * lit(1e4) + lit(0.5)) / lit(1e4)).as("p"))
      .filter(Sampling.portableUniform("doc_id", 29) < col("p"))
      .select("doc_id").as[Long].collect().toSet
    val got = sel.select("doc_id").as[Long].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty, "resample keeps a non-trivial subset")
    assert(got.size < docs.count(), "resample must not keep everything")
    // the tilt is real: the mean weight of the target language sits
    // strictly above the rest (the synthetic corpus shares one
    // vocabulary across langs, so the signal is relative frequency —
    // keep-RATE comparison would be binomial noise at 500 docs)
    val means = Dsir.weights(docs, "doc_id", "text", col("lang") === "en")
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy((col("lang") === "en").as("en"))
      .agg(avg("dsir_logratio").as("m"))
      .as[(Boolean, Double)].collect().toMap
    assert(means(true) > means(false),
      s"target mean weight must exceed source mean weight: $means")
  }

  test("CCNet buckets: order-consistent per group, value-based ties, doc shuffle-free plan") {
    import graft.operators.QuantileFilter
    val out = QuantileFilter.buckets(docs.select("doc_id", "lang", "text"),
      "lang", graft.functions.TextFunctions.qualityScore(col("text"),
        Seq("the", "a", "of", "and", "to", "in"))).cache()
    assert(out.count() === docs.count(), "every doc gets a bucket")
    // within a language, head scores >= middle scores >= tail scores
    val rng = out.groupBy("lang", "bucket")
      .agg(min("score").as("lo"), max("score").as("hi"))
      .as[(String, String, Double, Double)].collect()
      .map { case (l, b, lo, hi) => (l, b) -> ((lo, hi)) }.toMap
    rng.keys.map(_._1).toSet.foreach { (l: String) =>
      for {
        (hb, lb) <- Seq(("head", "middle"), ("middle", "tail"))
        h <- rng.get((l, hb)); t <- rng.get((l, lb))
      } assert(h._1 >= t._2, s"$l: $hb min ${h._1} < $lb max ${t._2}")
    }
    // value-based buckets: equal (lang, score) => equal bucket
    assert(out.groupBy("lang", "score")
      .agg(countDistinct("bucket").as("nb"))
      .filter(col("nb") > 1).count() === 0L)
    // all three buckets materialize and head is a minority
    val sizes = out.groupBy("bucket").count()
      .as[(String, Long)].collect().toMap
    assert(sizes.keySet === Set("head", "middle", "tail"))
    assert(sizes("head") < docs.count() / 2)
    // plan: no document-keyed exchange, no corpus-wide window — the
    // only window runs over bounded (lang, score) histogram rows
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning(doc_id"), p)
    val globalWindows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty)
  }

  test("hard negatives: labels always differ, sims bounded by unrestricted top-1, WindowGroupLimit plan") {
    import graft.ann.Knn
    val emb = Tables.embeddings(spark, sf()).cache()
    val queries = emb.filter(col("vec_id") < 8)
    val hn = Knn.hardNegatives(emb, queries, k = 5).cache()
    try {
      val labels = queries.select("vec_id", "label")
        .as[(Long, Int)].collect().toMap
      val rows = hn.select("query_id", "nbr_label", "sim")
        .as[(Long, Int, Double)].collect()
      assert(rows.nonEmpty)
      rows.foreach { case (q, nl, _) =>
        assert(nl !== labels(q), s"query $q got a same-label 'negative'")
      }
      // the unrestricted top-1 dominates the label-restricted top-1
      val unrestricted = Knn.bruteForceTopK(emb, queries, k = 1)
        .select("query_id", "sim").as[(Long, Double)].collect().toMap
      hn.filter(col("rank") === 1).select("query_id", "sim")
        .as[(Long, Double)].collect().foreach { case (q, s) =>
          assert(s <= unrestricted(q) + 1e-9, s"query $q: $s > ${unrestricted(q)}")
        }
      assert(hn.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
    } finally { hn.unpersist(); emb.unpersist() }
  }

  test("DSIR plan: scoring pass is a scan-pure narrow projection; no global window/sort") {
    val df = Dsir.weights(Tables.documents(spark, sf()), "doc_id", "text",
      col("lang") === "en")
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, globalWindows.mkString("\n"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val cut = p.indexOf("== Initial Plan ==")
    val finalP = if (cut >= 0) p.substring(0, cut) else p
    // late-r9 rework: the model is a separate bounded B-row pass-1
    // job (collected before plan construction — the Ivf cell-list
    // precedent), so the RETURNED frame must be a pure per-row fold
    // over one scan: no exchange of any kind, no join, no explode.
    assert(!finalP.contains("Exchange"), finalP)
    assert(!finalP.contains("Join"), finalP)
    assert(!finalP.contains("Generate"), finalP)
    assert("Scan parquet".r.findAllIn(finalP).size === 1, finalP)
  }

  test("DSIR pass-1 model exchange is B-row partial-agged, never the token stream") {
    // the model pass groupBy's straight off the explode: partial
    // aggregation must collapse each map partition to ≤ B rows before
    // the exchange. Assert by construction: the aggregate below the
    // shuffle is keyed by __b alone (B distinct values), i.e. the
    // plan contains a partial_count over __b, not a repartition of
    // (doc, token) pairs.
    val docs = Tables.documents(spark, sf())
    val hist = docs
      .select((col("lang") === "en").as("__is_t"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("__term"))
      .filter(length(col("__term")) > 0)
      .select(col("__is_t"), Dsir.bucket(col("__term"), 1024, 13).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__src"))
    val p = hist.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate(keys=[__b"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("temperature rates: alpha=1 is the natural mixture; alpha<1 lifts the tail, hand-checked") {
    val df = Seq(("en", 900L), ("fr", 100L)).toDF("lang", "w")
    // alpha = 1: target == natural share, every keep_rate 1.0
    val nat = Sampling.temperatureRates(df, "lang", "w", alpha = 1.0)
      .select("lang", "keep_rate").as[(String, Double)].collect().toMap
    assert(nat.values.forall(r => math.abs(r - 1.0) < 1e-12), nat.toString)
    // alpha = 0.5 hand-check: pw = sqrt(.9), sqrt(.1); target_en =
    // sqrt(.9)/(sqrt(.9)+sqrt(.1)) = 0.75; keep_en = .75/.9 = 5/6;
    // fr is under target -> clamps to 1
    val t5 = Sampling.temperatureRates(df, "lang", "w", alpha = 0.5).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(math.abs(t5("en").getDouble(3) - 0.75) < 1e-9)
    assert(math.abs(t5("en").getDouble(4) - 5.0 / 6.0) < 1e-9)
    assert(math.abs(t5("fr").getDouble(4) - 1.0) < 1e-12)
    assert(t5("en").getLong(5) === 750L) // expected_weight = floor(5/6 * 900)
    // downsample-only across the real corpus at several alphas
    val corpus = Tables.documents(spark, sf()).select(col("lang"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("n_tok"))
    Seq(0.3, 0.7).foreach { a =>
      val rs = Sampling.temperatureRates(corpus, "lang", "n_tok", a)
      assert(rs.filter(col("keep_rate") > lit(1.0 + 1e-12)).count() === 0)
      // expected post-sampling mixture is proportional to target for
      // every thinned stratum; total expected weight <= actual total
      val tot = rs.agg(sum("actual"), sum("expected_weight")).head()
      assert(tot.getLong(1) <= tot.getLong(0))
    }
  }

  test("Gopher rules: each rule flips keep independently; signals plan is a pure scan pass") {
    import graft.operators.GopherRules
    // a doc that passes all seven rules, then seven single-rule
    // mutations of it — each must fail ONLY its targeted rule
    val passing = ("the quick brown fox jumps over that lazy dog " +
      "to be of and have with great zeal ") * 5
    val cases = Seq(
      0L -> passing,
      1L -> "the fox to be", // word_count < 50
      2L -> (("ab " * 30) + "the to be of and that have with"), // mean_word_len < 3
      3L -> (passing + ("# " * 12)), // symbol ratio > 0.1
      4L -> (1 to 10).map(_ => "- " + passing.take(60)).mkString("\n"), // bullets
      5L -> (1 to 10).map(_ => passing.take(60).trim + "...").mkString("\n"), // ellipsis
      6L -> (passing + ("123 " * 30)), // alpha_word_ratio < 0.8
      7L -> passing.replaceAll("\\b(the|that|to|be|of|and|have|with)\\b", "word")) // stopwords
    val out = GopherRules.signals(cases.toDF("doc_id", "text"))
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out(0L), "the base doc must pass all rules")
    (1L to 7L).foreach(i => assert(!out(i), s"case $i should fail its rule"))
    // per-signal spot checks on the targeted mutations
    val sig = GopherRules.signals(cases.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(sig(1L).getLong(1) < 50L)                                  // word_count
    assert(sig(2L).getDouble(4) < 3.0)                                // mean_word_len
    assert(sig(3L).getDouble(5) > 0.1)                                // symbol_word_ratio
    assert(sig(4L).getDouble(6) > 0.9)                                // bullet_line_ratio
    assert(sig(5L).getDouble(7) > 0.3)                                // ellipsis_line_ratio
    assert(sig(6L).getDouble(3) < 0.8)                                // alpha_word_ratio
    assert(sig(7L).getLong(2) < 2L)                                   // stopword_hits
    // 100 TB shape: the whole bundle fuses into the scan — zero
    // exchanges, zero generates (no explode+groupBy tokenization)
    val p = GopherRules.signals(Tables.documents(spark, sf()).select("doc_id", "text"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Generate"), p)
  }

  test("bloom dedup: exact vs plain anti-join, even with a saturated 64-bit sketch") {
    import graft.operators.BloomDedup
    val corpus = docs.select("doc_id", "text", "source")
    val incoming = corpus.unionByName(
      corpus.select(col("doc_id"),
        concat(lit("fresh "), col("doc_id").cast("string"), lit(" "), col("text"))
          .as("text"),
        col("source")))
    val reference = incoming
      .join(corpus.select("text").distinct(), Seq("text"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // well-sized sketch: ~10 bits per corpus row (≈ 1% fpp)
    val n = corpus.count()
    val sized = BloomDedup.incrementalKeep(corpus, incoming, "text", n, n * 10L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(sized === reference)
    // pathological sketch: 64 bits for the whole corpus — nearly every
    // probe is a false positive, so exactness must come from the
    // verify join, not the sketch
    val tiny = BloomDedup.incrementalKeep(corpus, incoming, "text",
        expectedItems = 4L, numBits = 64L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(tiny === reference)
  }

  test("bloom dedup: no false negatives (a full recrawl vanishes) and misses skip the join") {
    import graft.operators.BloomDedup
    val corpus = docs.select("doc_id", "text")
    // replaying the corpus against itself must drop every row: a
    // single survivor would be a bloom false NEGATIVE (impossible by
    // construction) or a broken verify join
    val n = corpus.count()
    assert(BloomDedup.incrementalKeep(corpus, corpus, "text", n, n * 10L).count() === 0L)
    // plan shape: exactly ONE join in the whole query — the exact
    // verify on the hit branch; the miss branch is scan→filter→union
    val out = BloomDedup.incrementalKeep(corpus,
      corpus.withColumn("text", concat(col("text"), lit(" salt"))), "text", n, n * 10L)
    val p = out.queryExecution.executedPlan.toString
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)".r
      .findAllIn(p).size
    assert(joins === 1, p)
    // sketch build is bounded: serialized bytes ≤ numBits/8 + header
    val bytes = BloomDedup.buildBloom(corpus, "text", 1000L, 10000L)
    assert(bytes.length <= 10000 / 8 + 64, s"bloom unexpectedly large: ${bytes.length}")
    // EMPTY corpus: the empty sketch must answer false everywhere —
    // every incoming row is novel and must survive
    val tinyIncoming = Seq((10L, "alpha doc"), (11L, "novel one"),
      (12L, "novel two"), (13L, "novel three")).toDF("doc_id", "text")
    assert(BloomDedup.incrementalKeep(corpus.filter(lit(false)), tinyIncoming, "text",
        8L, 256L).select("doc_id").as[Long].collect().sorted.toSeq
      === Seq(10L, 11L, 12L, 13L))
  }

  test("sketch store: incremental union is lossless and estimates stay in envelope") {
    import graft.operators.SketchStore
    val o = Tables.orders(spark, sf())
      .withColumn("part", year(col("o_orderdate")).cast("long"))
    // one-shot build vs two-delta incremental merge: HLL union at a
    // fixed lgK is register-wise max, so the merged store must
    // estimate IDENTICALLY to the single-pass store — the property
    // that makes the store append-only
    val full = SketchStore.build(o, "part", col("o_custkey"))
    val inc = SketchStore.mergeIncremental(
      SketchStore.build(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), "part", col("o_custkey")),
      SketchStore.build(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), "part", col("o_custkey")),
      "part")
    val est = (st: org.apache.spark.sql.DataFrame) =>
      SketchStore.estimates(st).select("part", "n_rows", "distinct_est")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(est(inc) === est(full))
    // envelope: every per-part estimate within 10% of exact (lgK=12
    // rsd ~1.6%; 10% is >6 sigma), and the rollup too
    val exact = o.groupBy("part").agg(count_distinct(col("o_custkey")).as("x"))
      .as[(Long, Long)].collect().toMap
    est(full).foreach { case (p, _, e) =>
      assert(math.abs(e - exact(p)).toDouble / exact(p) <= 0.1, s"part $p: $e vs ${exact(p)}") }
    val g = SketchStore.estimates(SketchStore.rollup(full))
      .select("distinct_est").as[Long].head()
    val gx = o.agg(count_distinct(col("o_custkey"))).as[Long].head()
    assert(math.abs(g - gx).toDouble / gx <= 0.1)
    // the store is kilobyte rows: a partition's sketch must stay
    // driver-safe (2^lgK registers ~ <=2.5 KB at lgK=12 + header)
    val maxLen = full.select(max(length(col("sketch")))).as[Int].head()
    assert(maxLen <= 4096, s"sketch bytes $maxLen")
  }

  test("pmi cooccurrence: hand-computable corpus, lift ordering, ties lexicographic") {
    import graft.operators.Cooccur
    val docs = Seq(
      (1L, "x y"), (2L, "x y"), (3L, "x z"), (4L, "w"),
      (5L, ""), (6L, "solo")).toDF("doc_id", "text")
    val out = Cooccur.pmi(docs, "doc_id", graft.functions.TextFunctions.tokens(col("text")),
        minDf = 1, minPairCount = 1, topK = 10)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    // n_docs = 6 (empty + single-token docs count toward the corpus);
    // df: x=3 y=2 z=1 w=1 solo=1; pairs: (x,y)=2, (x,z)=1
    // lift(x,y) = 2*6/(3*2) = 2.0; lift(x,z) = 1*6/(3*1) = 2.0 —
    // equal lift, so ordering falls to the lexicographic tie-break
    assert(out === Seq(
      ("x", "y", 2L, 3L, 2L, math.floor(math.log(2.0) * 1e4 + 0.5) / 1e4),
      ("x", "z", 1L, 3L, 1L, math.floor(math.log(2.0) * 1e4 + 0.5) / 1e4)))
    // repeated tokens within a doc count once (presence semantics)
    val rep = Seq((1L, "a a b"), (2L, "a b b")).toDF("doc_id", "text")
    val r = Cooccur.pmi(rep, "doc_id", graft.functions.TextFunctions.tokens(col("text")),
        minDf = 1, minPairCount = 1, topK = 10)
      .select("tok_a", "tok_b", "n_pair", "df_a", "df_b")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(r === Seq(("a", "b", 2L, 2L, 2L)))
    // minDf prunes before the grid: with minDf=2 the z/w/solo tail
    // vanishes and only (x,y) survives
    val pruned = Cooccur.pmi(docs, "doc_id", graft.functions.TextFunctions.tokens(col("text")),
        minDf = 2, minPairCount = 1, topK = 10)
      .select("tok_a", "tok_b").as[(String, String)].collect().toSeq
    assert(pruned === Seq(("x", "y")))
  }

  test("skew advisor: hand-computed skew factor, hot-key tie-break, sampled profile") {
    import graft.operators.SkewAdvisor
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq.fill(2)("c"))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
    // 10 rows over 3 keys, hot key a×6: avg 3.3333, skew 6*3/10 = 1.8,
    // recommended salt ceil(1.8) = 2
    val r = SkewAdvisor.profile(df, "k", "id")
      .as[(Long, Long, Double, Long, String, Double, Long)].head()
    assert(r === ((10L, 3L, 3.3333, 6L, "a", 1.8, 2L)))
    // count tie → LARGEST key string wins (mirrors ORDER BY cnt DESC, k DESC)
    val tie = (Seq.fill(3)("a") ++ Seq.fill(3)("b"))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
    assert(SkewAdvisor.profile(tie, "k", "id").select("hot_key").as[String].head() === "b")
    // sampled pre-flight: deterministic subset, ratio-based fields stay
    // defined; n_rows strictly shrinks at frac 0.5 on a 200-row frame
    val big = (0L until 200L).map(i => (i, s"k${i % 4}")).toDF("id", "k")
    val s1 = SkewAdvisor.profile(big, "k", "id", sampleFrac = 0.5)
      .as[(Long, Long, Double, Long, String, Double, Long)].head()
    assert(s1._1 > 0 && s1._1 < 200 && s1._2 <= 4 && s1._7 >= 1)
    // retry-stable: identical draw on rerun
    val s2 = SkewAdvisor.profile(big, "k", "id", sampleFrac = 0.5)
      .as[(Long, Long, Double, Long, String, Double, Long)].head()
    assert(s1 === s2)
  }

  test("source overlap: hand-built corpus, containment math, zero-overlap pairs absent") {
    import graft.operators.SourceOverlap
    // k=2 shingle sets: A={a b, b c, c d}, B={a b, b e}, C={b c, c d, d e}
    val docs = Seq(
      (1L, "A", "a b c"), (2L, "A", "c d"),
      (3L, "B", "a b e"),
      (4L, "C", "b c d e"),
      (5L, "C", "")).toDF("doc_id", "source", "text")
    val out = SourceOverlap.matrix(docs, "source", col("text"), k = 2)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    // A∩B = {a b} (containment 1/min(3,2) = 0.5);
    // A∩C = {b c, c d} (2/min(3,3) = 0.6667); B∩C = ∅ → row absent
    assert(out === Seq(
      ("A", "B", 1L, 3L, 2L, 0.5),
      ("A", "C", 2L, 3L, 3L, 0.6667)))
    // repeated shingles within a source count once (set semantics)
    val rep = Seq((1L, "X", "a b a b"), (2L, "X", "a b"), (3L, "Y", "a b"))
      .toDF("doc_id", "source", "text")
    val r = SourceOverlap.matrix(rep, "source", col("text"), k = 2)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    // X's shingles: {a b, b a} (doc1 distinct) ∪ {a b} = {a b, b a};
    // Y = {a b}; shared = {a b} → 1/min(2,1) = 1.0
    assert(r === Seq(("X", "Y", 1L, 2L, 1L, 1.0)))
  }

  test("drift: identical snapshots score zero; planted shift hand-computed; edge clamping") {
    import graft.operators.Drift
    val ref = (0 until 100).map(_.toDouble).toDF("x")
    // identical snapshots: every smoothed p equals q → all terms 0,
    // psi 0, ks 0, not drifted
    val same = Drift.summary(ref, ref, "x", buckets = 10)
      .as[(Long, Long, Double, Double, Boolean)].head()
    assert(same === ((100L, 100L, 0.0, 0.0, false)))
    assert(Drift.psiTable(ref, ref, "x", 10)
      .select("psi_term").as[Double].collect().forall(_ == 0.0))
    // +1000 shift: every current value clamps into bucket 9 →
    // p_i = 10.5/105 = 0.1 everywhere; q_i = 0.5/105 below, 100.5/105
    // in bucket 9; psi and ks hand-computed from those fractions
    val cur = (0 until 100).map(v => v + 1000.0).toDF("x")
    val qLo = 0.5 / 105.0; val qHi = 100.5 / 105.0
    val expPsi = 9 * (0.1 - qLo) * math.log(0.1 / qLo) +
      (0.1 - qHi) * math.log(0.1 / qHi)
    val r4 = (x: Double) => math.floor(x * 1e4 + 0.5) / 1e4
    val shifted = Drift.summary(ref, cur, "x", buckets = 10)
      .as[(Long, Long, Double, Double, Boolean)].head()
    // ks sup at bucket 8: ref cdf 0.9 vs cur cdf 0.0
    assert(shifted === ((100L, 100L, r4(expPsi), 0.9, true)))
    // per-bucket table: buckets 0-8 hold 10 ref / 0 cur, bucket 9
    // holds 10 ref / all 100 cur (clamped)
    val tab = Drift.psiTable(ref, cur, "x", 10)
      .select("bucket", "ref_count", "cur_count")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(tab === (0L to 8L).map(b => (b, 10L, 0L)) :+ ((9L, 10L, 100L)))
    // degenerate single-valued reference: hi == lo → everything in
    // bucket 0, identical pair still scores 0
    val one = Seq(5.0, 5.0, 5.0).toDF("x")
    assert(Drift.summary(one, one, "x", 10)
      .select("psi").as[Double].head() === 0.0)
  }

  test("stupid backoff: every level hand-checked on a unit model") {
    // model "a b c d": uni a..d = 1 (N=4, V=4); big ab,bc,cd = 1;
    // tri abc,bcd = 1
    val model = Seq((0L, "a b c d")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b c"), // trigram hit:   ln(c3/c12) = ln(1/1) = 0
      (2L, "x b c"), // bigram  hit:   ln(0.4·c(bc)/c(b)) = ln(0.4)
      (3L, "x y z"), // unigram floor: ln(0.16·(0+1)/(4+4)) = ln(0.02)
      (4L, "a b")    // <3 tokens → zero row
    ).toDF("doc_id", "text")
    val out = graft.operators.BackoffLm
      .scores(docs, model, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // ln(0.4)  = -0.91629073… → 1e-6-floor -916291 → 4dp -0.9163
    // ln(0.02) = -3.91202301… → 1e-6-floor -3912023 → 4dp -3.9120
    assert(out === Seq(
      (1L, 1L, 1L, 0L, 0L, 0.0),
      (2L, 1L, 0L, 1L, 0L, -0.9163),
      (3L, 1L, 0L, 0L, 1L, -3.9120),
      (4L, 0L, 0L, 0L, 0L, 0.0)))
    // hit tallies always partition the trigram count
    val corpus = Tables.documents(spark, sf()).limit(200)
    val chk = graft.operators.BackoffLm
      .scores(corpus, corpus.filter($"doc_id" % 3 === 0), "doc_id", "text")
    assert(chk.filter($"n_hit3" + $"n_hit2" + $"n_hit1" =!= $"n_trigrams")
      .count() === 0L)
  }

  test("domain policy: suffix blocklist, per-host cap by portable md5") {
    import graft.operators.DomainPolicy
    // suffixes of a host
    val sfx = Seq("a.b.example.com").toDF("h")
      .select(DomainPolicy.hostSuffixes($"h")).as[Seq[String]].head()
    assert(sfx === Seq("a.b.example.com", "b.example.com", "example.com", "com"))
    // blocked domain removes itself AND subdomains, not lookalikes
    val hosts = Seq("bad.com", "cdn.bad.com", "notbad.com", "good.org")
      .toDF("h")
    val blocked = hosts.filter(DomainPolicy.isBlocked($"h", Seq("bad.com")))
      .as[String].collect().toSet
    assert(blocked === Set("bad.com", "cdn.bad.com"))
    // cap: 8 docs on one host, 2 on another, k=3 — survivors are the
    // 3 smallest by md5(id-string) (portable draw, recomputed here)
    val docs = (1L to 8L).map(i => (i, "https://hot.example.com/p"))
      .++(Seq((20L, "https://cold.example.com/p"), (21L, "https://cold.example.com/p"),
        // malformed / null URLs: host parses to NULL -> explicit
        // pass-through (no blocklist match, no cap, no window)
        (30L, "not a url at all"), (31L, null.asInstanceOf[String])))
      .toDF("doc_id", "url")
    val kept = DomainPolicy
      .applyPolicy(docs, "url", "doc_id", Seq("blocked.example.com"), maxPerHost = 3)
      .select($"doc_id").as[Long].collect().toSet
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expectHot = (1L to 8L).sortBy(i => (md5hex(i.toString), i)).take(3).toSet
    assert(kept === expectHot ++ Set(20L, 21L, 30L, 31L))
  }

  test("change points: two-window z hand-checked; constant series scores 0") {
    import graft.operators.ChangePoint
    def t(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-0$day%d 12:00:00")
    // key 'a': daily counts 10,12,20,22 (days 1-4). With w=2 only day 3
    // has both windows complete: pre=[10,12] (mean 11, var 1),
    // post=[20,22] (mean 21, var 1) -> z = 10/sqrt(1+1e-9) -> 10.0
    val rows =
      (1 to 10).map(_ => ("a", t(1), 1.0)) ++ (1 to 12).map(_ => ("a", t(2), 1.0)) ++
      (1 to 20).map(_ => ("a", t(3), 1.0)) ++ (1 to 22).map(_ => ("a", t(4), 1.0)) ++
      // key 'b': constant 5/day -> z = 0, never flagged
      (1 to 4).flatMap(d => (1 to 5).map(_ => ("b", t(d), 1.0)))
    val df = rows.toDF("event_type", "ts", "value")
    val out = ChangePoint.meanShift(df, Seq("event_type"), "ts",
        w = 2, zThreshold = 3.0)
      .as[(String, String, Long, Double, Boolean)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out === Seq(
      ("a", "2024-01-03", 20L, 10.0, true),
      ("b", "2024-01-03", 5L, 0.0, false)))
  }

  test("embedding standardize: exact moments, z invariants, constant dim") {
    import graft.ann.Standardize
    // 3 vectors, 2 dims; dim0 = [1,2,3] (mean 2e6, pop-var 2/3 in 1e12
    // units), dim1 constant 5 -> std 0 -> z = 0
    val emb = Seq(
      (1L, Seq(1.0f, 5.0f)), (2L, Seq(2.0f, 5.0f)), (3L, Seq(3.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val mom = Standardize.dimMoments(emb, "embedding")
      .as[(Int, Double, Double)].collect().sortBy(_._1).toSeq
    assert(mom(0)._2 === 2000000.0)
    assert(math.abs(mom(0)._3 - math.sqrt(2.0 / 3.0) * 1e6) < 1e-6)
    assert(mom(1)._3 === 0.0)
    val z = Standardize.zReport(emb, "vec_id", "embedding")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // z-scores of [1,2,3]: -sqrt(3/2), 0, +sqrt(3/2) -> ±12247 at 1e4;
    // constant dim contributes 0
    assert(z === Seq((1L, 2L, -12247L, 0L), (2L, 2L, 0L, 0L),
      (3L, 2L, 12247L, 12247L)))
    // real corpus: standardized moments must re-center (mean z ~ 0)
    val corpus = Tables.embeddings(spark, sf())
    val sums = Standardize.zReport(corpus, "vec_id", "embedding")
      .agg(sum($"z_sum"), count(lit(1))).as[(Long, Long)].head()
    // per-element |rounding| <= 0.5 at 1e4 scale; 64 dims -> bound 32/vec
    assert(math.abs(sums._1) <= 32L * sums._2)
  }

  test("compression quality: repetitive text compresses, bounds hold") {
    import graft.operators.CompressionQuality
    val docs = Seq(
      (1L, "ab " * 500),                     // long-range repetitive
      (2L, (1 to 120).map(i => (i * 2654435761L % 99991).toString).mkString(" ")),
      (3L, "")                               // empty -> all zero
    ).toDF("doc_id", "text")
    val out = CompressionQuality.scores(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val (rep, rnd, empty) = (out(0), out(1), out(2))
    assert(rep._2 === 1500L && rep._3 > 0L)
    assert(rep._4 < 0.05)                 // boilerplate crushes
    assert(rnd._4 > rep._4 * 5)           // prose/noise compresses far less
    assert(rnd._4 <= 1.1)                 // deflate overhead is bounded
    assert(empty === ((3L, 0L, 0L, 0.0)))
    // determinism across two runs (fixed level, reset per row)
    val again = CompressionQuality.scores(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(again === out)
  }

  test("sketch overlap: inclusion-exclusion tracks exact on identical/shifted sources") {
    import graft.operators.SourceOverlap
    val base = Tables.documents(spark, sf()).limit(100).select($"doc_id", $"text")
    // 'a' and 'b' carry identical text (full overlap); 'c' salts every
    // doc with a unique token, shifting most of its shingles
    val corpus = base.select(lit("a").as("source"), $"text")
      .union(base.select(lit("b").as("source"), $"text"))
      .union(base.select(lit("c").as("source"),
        concat($"text", lit(" zq"), $"doc_id".cast("string")).as("text")))
    val exact = SourceOverlap.matrix(corpus, "source", col("text"), k = 3)
      .select($"src_a", $"src_b", $"shared_shingles", $"n_a", $"n_b")
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    val est = SourceOverlap.sketchMatrix(corpus, "source", col("text"), k = 3)
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._5).toMap
    // identical sources: est_shared within 5% of the full set size
    val (abShared, abNa, _) = exact(("a", "b"))
    assert(abShared === abNa)
    assert(math.abs(est(("a", "b")) - abShared) <= 0.05 * abShared + 10)
    // every exact pair sits inside the gate envelope
    exact.foreach { case (k2, (sh, na, nb)) =>
      assert(math.abs(est(k2) - sh) <= 0.05 * (na + nb) + 50, s"$k2")
    }
  }

  test("burstiness: regular grid flags bot_like, alternating gaps do not") {
    import graft.operators.Burstiness
    def t(off: Int) = new java.sql.Timestamp(1700000000000L + off * 1000L)
    val rows =
      // user 1: exact 60 s grid -> 5 gaps of 60, cv 0, bot
      (0 to 5).map(i => (i.toLong, 1L, t(i * 60))) ++
      // user 2: gaps [2,8,2,8,2,8] -> mean 5, pop-var 9, cv 0.6
      Seq(0, 2, 10, 12, 20, 22, 30).zipWithIndex.map { case (o, i) =>
        ((100 + i).toLong, 2L, t(o)) } ++
      // user 3: only 3 events -> below minGaps, filtered out
      (0 to 2).map(i => ((200 + i).toLong, 3L, t(i * 7)))
    val df = rows.toDF("event_id", "user_id", "ts")
    val out = Burstiness.report(df, "user_id", "ts", "event_id",
        minGaps = 5, cvBelow = 0.3)
      .as[(Long, Long, Double, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      (1L, 5L, 60.0, 0.0, true),
      (2L, 6L, 5.0, 0.6, false)))
  }

  test("MAD outliers: hand-checked ranks; spike immune to scale estimate") {
    import graft.operators.RobustStats
    // cents [100,200,300,400,10000]: median = rank-2 value 300;
    // devs sorted [0,100,100,200,9700] -> MAD 100; outlier rule
    // d*1e4 > mad*44478 flags only the 9700 spike
    val df = Seq(1.0, 2.0, 3.0, 4.0, 100.0).toDF("value")
    val r = RobustStats.madReport(df, "value")
      .as[(Long, Long, Long, Long, Double)].head()
    assert(r === ((5L, 300L, 100L, 1L, 0.2)))
    // stddev-based 3-sigma screening would MISS the spike here: the
    // spike itself inflates sigma (mean 22, sigma ~39 -> cutoff 139
    // > 100) — the breakdown property MAD exists for
    val vals = Seq(1.0, 2.0, 3.0, 4.0, 100.0)
    val mean = vals.sum / vals.size
    val sigma = math.sqrt(vals.map(v => (v - mean) * (v - mean)).sum / vals.size)
    assert(vals.forall(v => math.abs(v - mean) <= 3 * sigma))
  }

  test("vocab stats: spectrum and summary hand-checked") {
    import graft.operators.VocabStats
    val docs = Seq((1L, "a a a b"), (2L, "b c")).toDF("doc_id", "text")
    // counts: a=3, b=2, c=1 -> spectrum (1,1),(2,1),(3,1), share 1/3
    val spec = VocabStats.spectrum(docs, "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(spec === Seq((1L, 1L, 0.333333), (2L, 1L, 0.333333),
      (3L, 1L, 0.333333)))
    val sum = VocabStats.summary(docs, "text")
      .as[(Long, Long, Long, Double, Double)].head()
    assert(sum === ((6L, 3L, 1L, 0.333333, 0.5)))
  }
}
