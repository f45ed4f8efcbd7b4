package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}
import graft.dedup.PassageDedup
import graft.operators.{Resample, Sampling, TfIdf}
import graft.ann.Quantize

/** Specs for the round-5 operators: passage-level dedup, TF-IDF,
  * stratified sampling, SQ8 quantization, rolling range windows,
  * XML interchange.
  */
class Round5OpsSpec extends SparkSpec {
  import spark.implicits._

  // ----------------------------------------------------------- passages
  test("TF.passages chunks to consecutive w-word spans, last short") {
    val r = Seq(("a b c d e f g h i j", 1)).toDF("text", "i")
      .select(TF.passages(col("text"), 4).as("p"))
      .as[Seq[String]].head()
    assert(r == Seq("a b c d", "e f g h", "i j"))
    val empty = Seq(("  ", 1)).toDF("text", "i")
      .select(TF.passages(col("text"), 4).as("p")).as[Seq[String]].head()
    assert(empty.isEmpty)
    val exact = Seq(("a b c d", 1)).toDF("text", "i")
      .select(TF.passages(col("text"), 4).as("p")).as[Seq[String]].head()
    assert(exact == Seq("a b c d"))
  }

  private lazy val passageDocs = Seq(
    // docs 1 and 2 share their first 4-word passage (boilerplate);
    // doc 3 is fully unique; doc 4 duplicates doc 1 entirely
    (1L, "all rights reserved inc alpha beta gamma delta"),
    (2L, "all rights reserved inc epsilon zeta eta theta"),
    (3L, "completely unique content with no shared spans here"),
    (4L, "all rights reserved inc alpha beta gamma delta")
  ).toDF("doc_id", "text")

  test("PassageDedup.stats counts cross-doc shared passages") {
    val s = PassageDedup.stats(passageDocs, "doc_id", "text", w = 4)
      .orderBy("doc_id")
      .select("doc_id", "n_passages", "n_shared")
      .as[(Long, Long, Long)].collect().toSeq
    assert(s == Seq((1L, 2L, 2L), (2L, 2L, 1L), (3L, 2L, 0L), (4L, 2L, 2L)))
  }

  test("PassageDedup.dropShared removes shared spans, keeps order") {
    val m = PassageDedup.dropShared(passageDocs, "doc_id", "text", w = 4)
      .as[(Long, String)].collect().toMap
    assert(m(2L) == "epsilon zeta eta theta")
    assert(m(3L) == "completely unique content with no shared spans here")
    // docs 1 and 4 are full duplicates of each other: every passage
    // shared, so both drop out entirely
    assert(!m.contains(1L) && !m.contains(4L))
  }

  // ------------------------------------------------------------- tf-idf
  test("TfIdf ranks rare terms above ubiquitous ones") {
    val docs = Seq(
      (1L, "common rare rare"),
      (2L, "common other"),
      (3L, "common thing")
    ).toDF("doc_id", "text")
    val top = TfIdf.topTerms(docs, "doc_id", "text", k = 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    // 'common' is in every doc: idf = ln(4/4)+1 = 1.0; the doc-specific
    // terms carry idf ln(4/2)+1 ≈ 1.69 (and tf=2 in doc 1) and win
    assert(top == Map(1L -> "rare", 2L -> "other", 3L -> "thing"))
    val d1 = TfIdf.topTerms(docs, "doc_id", "text", k = 2)
      .filter(col("doc_id") === 1L).select("term").as[String].collect().toSet
    assert(d1 == Set("rare", "common"))
  }

  test("TfIdf top-k plans as WindowGroupLimit (no full sort of the corpus)") {
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val plan = TfIdf.topTerms(docs, "doc_id", "text", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"))
  }

  test("TfIdf tokenizes the corpus ONCE: tf/df share one reused exchange") {
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val q = TfIdf.topTerms(docs, "doc_id", "text", k = 3)
    q.collect()   // AQE materializes exchange reuse at runtime
    // inspect only the executed (final) adaptive plan, not the
    // "== Initial Plan ==" echo that follows it in toString
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the tf and df branches must consume the SAME term-keyed shuffle
    assert(plan.contains("ReusedExchange"))
    // one Generate = one explode = one tokenize pass over the text
    assert("Generate explode".r.findAllIn(plan).size == 1)
  }

  test("PassageDedup.stats shingles the corpus once (single Generate)") {
    val plan = PassageDedup.stats(passageDocs, "doc_id", "text", w = 4)
      .queryExecution.executedPlan.toString
    assert("Generate posexplode".r.findAllIn(plan).size == 1)
    assert(!plan.contains("CartesianProduct"))
  }

  // ------------------------------------------------- stratified sampling
  test("stratifiedSample keeps ~fraction per stratum, deterministic, subset") {
    val rows = (0L until 4000L).map(i => (i, if (i % 2 == 0) "en" else "zh"))
    val df = rows.toDF("id", "lang")
    val kept = Sampling.stratifiedSample(df, "id", "lang",
      Map("en" -> 0.5), default = 0.1, salt = 3)
    val byLang = kept.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(math.abs(byLang("en") - 1000.0) < 150)   // 2000 * 0.5
    assert(math.abs(byLang("zh") - 200.0) < 80)     // 2000 * 0.1
    // deterministic: rerun is identical
    val again = Sampling.stratifiedSample(df, "id", "lang",
      Map("en" -> 0.5), default = 0.1, salt = 3)
    assert(kept.select("id").as[Long].collect().toSet ==
      again.select("id").as[Long].collect().toSet)
    // monotone: raising a stratum's rate only ADDS rows (nested samples,
    // the property that makes staged corpus scaling reproducible)
    val more = Sampling.stratifiedSample(df, "id", "lang",
      Map("en" -> 0.8), default = 0.1, salt = 3)
    assert(kept.filter(col("lang") === "en").select("id").as[Long].collect().toSet
      .subsetOf(more.filter(col("lang") === "en").select("id").as[Long].collect().toSet))
  }

  // ------------------------------------------------------- rebalancing
  test("rebalanceToTargets caps over-represented strata, keeps rare at 1.0") {
    val docs = (0L until 3000L).map { i =>
      val lang = if (i % 10 < 8) "en" else "zh"   // en carries ~80% of weight
      (i, lang, 10L)
    }.toDF("id", "lang", "w")
    val out = graft.operators.Sampling.rebalanceToTargets(
      docs, "id", "lang", "w", Map("en" -> 0.5, "zh" -> 0.5), salt = 1)
    val rates = out.groupBy("lang").agg(
      min("keep_rate").as("mn"), max("keep_rate").as("mx"), count(lit(1)).as("n"))
      .as[(String, Double, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    // en: target 0.5 of total vs actual 0.8 -> rate 0.625; zh under target -> 1.0
    assert(math.abs(rates("en")._2 - 0.625) < 1e-9 && rates("en")._2 == rates("en")._3)
    assert(rates("zh")._2 == 1.0)
    assert(rates("zh")._4 == 600L)                        // rate-1 stratum intact
    assert(math.abs(rates("en")._4 - 1500.0) < 150)       // 2400 * 0.625
    // unlisted strata drop entirely
    val dropped = graft.operators.Sampling.rebalanceToTargets(
      docs, "id", "lang", "w", Map("zh" -> 1.0), salt = 1)
    assert(dropped.filter(col("lang") === "en").count() == 0)
  }

  test("split-by-cluster puts every member of a component in ONE split") {
    // near-identical docs (>=0.5 trigram jaccard) must co-travel
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),   // near-dup of 1
      (3L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val clusters = graft.dedup.Components.clusters(docs, "doc_id",
      graft.dedup.NgramJaccard.pairs(docs, "doc_id", "text", k = 3,
        threshold = 0.5, maxDf = 20), "id_a", "id_b")
      .withColumn("split",
        when(graft.operators.Sampling.portableUniform("component", 5) < 0.9, "train")
          .otherwise("test"))
    val rows = clusters.select("doc_id", "component", "split")
      .as[(Long, Long, String)].collect().toSeq
    assert(rows.map(r => r._1 -> r._2).toMap == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // one split value per component, by construction AND observed
    assert(rows.groupBy(_._2).forall(_._2.map(_._3).distinct.size == 1))
  }

  // -------------------------------------------------------- unigram lm
  test("UnigramLm mean log-prob matches hand computation") {
    val docs = Seq((1L, "a a b"), (2L, "b"), (3L, " ")).toDF("doc_id", "text")
    val r = graft.operators.UnigramLm.scores(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    // corpus: a=2, b=2, total=4 -> p(a)=p(b)=0.5, ln=~-0.693147
    // integerized per token: floor(-693147.18*1e0... ) = -693147
    val lp = math.floor(math.log(0.5) * 1e6 + 0.5) / 1e6
    def m(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    assert(r.map(_._1) == Seq(1L, 2L, 3L))
    assert(r(0)._2 == 3L && r(0)._3 == m(lp))
    assert(r(1)._2 == 1L && r(1)._3 == m(lp))
    assert(r(2)._2 == 0L && r(2)._3 == 0.0)   // empty doc present, zeroed
  }

  test("UnigramLm scoring probes a BROADCAST model; no token-keyed repartition") {
    // late-r9 rework: two tokenize passes (model, then scoring) in
    // exchange for never shuffling the token stream — the model
    // exchange is vocab-partial-agged and the scoring join is a
    // broadcast probe. A term-keyed Exchange hashpartitioning(term)
    // reappearing here means the corpus-sized shuffle came back.
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val q = graft.operators.UnigramLm.scores(docs, "doc_id", "text")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
    // every exchange must sit above a partial aggregate (model vocab
    // rows, 1-row total, 1-row-per-doc partials) — a bare exchange
    // means raw token rows are crossing the wire again
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan): org.apache.spark.sql.execution.SparkPlan = p match {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => unwrap(w.child)
      case i: org.apache.spark.sql.execution.InputAdapter => unwrap(i.child)
      case other => other
    }
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
      def bare = collect(q.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec
          if !unwrap(e.child).isInstanceOf[HashAggregateExec] &&
             !unwrap(e.child).isInstanceOf[ObjectHashAggregateExec] => e
      }
    }
    assert(helper.bare.isEmpty, helper.bare.mkString("\n"))
  }

  // -------------------------------------------------------- bigram lm
  test("BigramLm add-1 smoothed mean log-prob matches hand computation") {
    val docs = Seq((1L, "a b a"), (2L, "a a"), (3L, "x"), (4L, "")).toDF("doc_id", "text")
    val r = graft.operators.BigramLm.scores(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    // bigrams: doc1 (a,b),(b,a); doc2 (a,a). counts: c(a,b)=1 c(b,a)=1
    // c(a,a)=1; contexts: a->2, b->1; vocab {a,b,x} -> V=3
    def ilp(num: Double, den: Double) =
      math.floor(math.log(num / den) * 1e6 + 0.5)
    def m(sum: Double, n: Long) = math.floor(sum / (n * 1e6) * 1e4 + 0.5) / 1e4
    val d1 = m(ilp(2.0, 5.0) + ilp(2.0, 4.0), 2)  // (a,b): (1+1)/(2+3); (b,a): (1+1)/(1+3)
    val d2 = m(ilp(2.0, 5.0), 1)                  // (a,a): (1+1)/(2+3)
    assert(r.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(r(0)._2 == 2L && r(0)._3 == d1, s"doc1 got ${r(0)}")
    assert(r(1)._2 == 1L && r(1)._3 == d2, s"doc2 got ${r(1)}")
    assert(r(2)._2 == 0L && r(2)._3 == 0.0)   // single-token doc zeroed
    assert(r(3)._2 == 0L && r(3)._3 == 0.0)   // empty doc zeroed
  }

  test("BigramLm ranks shuffled gibberish below natural order") {
    // same word histogram, different order: the repeated natural
    // phrase scores strictly higher than the one-off shuffles
    val natural = Seq.fill(8)("the spark job runs fast")
    val shuffled = Seq("fast the runs job spark", "job fast spark the runs")
    val docs = (natural ++ shuffled).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val r = graft.operators.BigramLm.scores(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    val nat = r.filter(_._1 < 8).map(_._3).min
    val shf = r.filter(_._1 >= 8).map(_._3).max
    assert(nat > shf, s"natural $nat must beat shuffled $shf")
  }

  // ------------------------------------------------------------- sq8
  test("Quantize.sq8Report codes bounded, error within half-step") {
    val vecs = Seq(
      (1L, Array(0.0f, 10.0f, -5.0f)),
      (2L, Array(1.0f, 20.0f, -5.0f)),   // dim 3 constant -> mx == mn
      (3L, Array(0.5f, 15.0f, -5.0f))
    ).toDF("vec_id", "embedding")
    val r = Quantize.sq8Report(vecs, "vec_id", "embedding")
      .orderBy("vec_id")
      .select("vec_id", "n_dims", "max_err_ppb")
      .as[(Long, Long, Long)].collect().toSeq
    assert(r.map(_._2).forall(_ == 3L))
    // max reconstruction error <= (mx-mn)/(2*255): widest dim spans 10
    // -> half-step 10/510 = 0.0196... = 19_607_843 ppb (+1 for the floor)
    assert(r.map(_._3).forall(_ <= 19607844L))
    // constant dimension must contribute zero error and code 0
    val codesSum = Quantize.sq8Report(
      Seq((1L, Array(2.0f)), (2L, Array(2.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
      .agg(sum("code_sum"), sum("max_err_ppb")).as[(Long, Long)].head()
    assert(codesSum == ((0L, 0L)))
  }

  test("Quantize dim stats shuffle dims rows, not the corpus (partial agg)") {
    val vecs = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val plan = Quantize.dimStats(vecs, "embedding").queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"))   // partial agg before exchange
  }

  // ------------------------------------------------------ rolling window
  test("Resample.rolling trailing range window, ties included") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    val ev = Seq(
      (1L, 7L, t(0), 10.0),
      (2L, 7L, t(1800), 20.0),
      (3L, 7L, t(3600), 30.0),    // exactly 1h after row 1: still in range
      (4L, 7L, t(7300), 40.0),    // all prior out of range
      (5L, 8L, t(0), 5.0)         // other key untouched
    ).toDF("event_id", "user_id", "ts", "value")
    val r = Resample.rolling(ev, Seq("user_id"), "ts", "value", windowSec = 3600)
      .orderBy("event_id")
      .select("event_id", "n_window", "sum_window")
      .as[(Long, Long, Double)].collect().toSeq
    assert(r == Seq(
      (1L, 1L, 10.0), (2L, 2L, 30.0), (3L, 3L, 60.0), (4L, 1L, 40.0),
      (5L, 1L, 5.0)))
  }

  test("TF.chunks overlapping windows cover all tokens, short tail kept") {
    val r = Seq(("a b c d e f g h i j", 1)).toDF("text", "i")
      .select(TF.chunks(col("text"), w = 4, stride = 2).as("c"))
      .as[Seq[String]].head()
    assert(r == Seq("a b c d", "c d e f", "e f g h", "g h i j"))
    // n not on the stride grid: final short chunk still emitted
    val odd = Seq(("a b c d e", 1)).toDF("text", "i")
      .select(TF.chunks(col("text"), w = 4, stride = 2).as("c"))
      .as[Seq[String]].head()
    assert(odd == Seq("a b c d", "c d e"))
    // short doc: exactly one whole-text chunk
    val short = Seq(("a b", 1)).toDF("text", "i")
      .select(TF.chunks(col("text"), w = 4, stride = 2).as("c"))
      .as[Seq[String]].head()
    assert(short == Seq("a b"))
  }

  test("q_mix_report scans the corpus once (window total, no re-agg branch)") {
    val q = SparkEntry.queries("q_mix_report")(spark, sf())
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
  }

  test("q_rolling_agg plans one keyed exchange, no join, no cartesian") {
    val q = SparkEntry.queries("q_rolling_agg")(spark, sf())
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"), plan)
  }

  // ------------------------------------------------------ forward as-of
  test("asOfForward picks the EARLIEST right row at/after left time") {
    def t(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000)
    val readings = Seq((1L, 7L, t(0)), (2L, 7L, t(50)), (3L, 7L, t(200)),
      (4L, 8L, t(0))).toDF("reading_id", "key", "rts")
    val services = Seq((7L, t(50), "a"), (7L, t(100), "b"))
      .toDF("skey", "sts", "tag")
    val r = graft.operators.AsOfJoin.asOfForward(readings, services,
      "key", "skey", "rts", "sts", Seq("tag"))
      .select("reading_id", "tag").as[(Long, Option[String])].collect().toMap
    assert(r(1L).contains("a"))     // next service after t0 is t50
    assert(r(2L).contains("a"))     // tie at t50 matches (>= semantics)
    assert(r(3L).isEmpty)           // nothing after t200
    assert(r(4L).isEmpty)           // other key: no services at all
  }

  // ------------------------------------------------------- expectations
  test("Expectations: all rules in one pass, null-safe, exact counts") {
    import graft.operators.Expectations._
    val df = Seq(
      (1L, Some(5.0), Some("a"), "ok"),
      (2L, Some(-1.0), Some("b"), "ok"),     // range violation
      (3L, None, Some("zz"), "bad"),          // one_of violation (zz)
      (3L, Some(2.0), None, "ok")             // dup id; null cat not a one_of violation
    ).toDF("id", "v", "cat", "status")
    val r = check(df,
      rules = Seq(
        NotNull("v"),
        InRange("v", 0.0, 10.0),
        OneOf("cat", Seq("a", "b")),
        Satisfies("ok_status", "status = 'ok'")),
      unique = Seq(Unique(Seq("id"))))
      .select("rule", "n_violations").as[(String, Long)].collect().toMap
    assert(r == Map(
      "not_null(v)" -> 1L,
      "in_range(v,0.0,10.0)" -> 1L,        // null v does NOT violate range
      "one_of(cat)" -> 1L,                 // null cat does NOT violate one_of
      "ok_status" -> 1L,
      "unique(id)" -> 1L))
    // single aggregation job: no join, no second scan
    val plan = check(df, Seq(NotNull("v")), Seq(Unique(Seq("id"))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
  }

  // --------------------------------------------------------- behavioral
  test("Funnel counts only strictly-ordered step completions") {
    def t(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000)
    val ev = Seq(
      // user 1: view -> click -> purchase, in order
      (1L, "view", t(0)), (1L, "click", t(10)), (1L, "purchase", t(20)),
      // user 2: view then purchase but NO click: stops at step 1
      (2L, "view", t(0)), (2L, "purchase", t(5)),
      // user 3: click BEFORE view: the click must not count
      (3L, "click", t(0)), (3L, "view", t(10)),
      // user 4: never views: not even step 1
      (4L, "click", t(0)), (4L, "purchase", t(1))
    ).toDF("user_id", "event_type", "ts")
    val r = graft.operators.Funnel.funnel(ev, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))
      .select("step", "n_users").as[(String, Long)].collect().toMap
    assert(r == Map("view" -> 3L, "view>click" -> 1L, "view>click>purchase" -> 1L))
  }

  test("cohortRetention groups by first-seen week and week offset") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")),   // Mon w0 cohort
      (1L, ts("2024-01-10 10:00:00")),   // w0 + offset 1
      (2L, ts("2024-01-03 10:00:00")),   // same cohort week
      (2L, ts("2024-01-04 10:00:00")),   // still offset 0
      (3L, ts("2024-01-08 10:00:00"))    // next week's cohort, offset 0
    ).toDF("user_id", "ts")
    val r = graft.operators.Funnel.cohortRetention(ev, "user_id", "ts")
      .as[(String, Long, Long)].collect().toSet
    assert(r == Set(
      ("2024-01-01", 0L, 2L), ("2024-01-01", 1L, 1L), ("2024-01-08", 0L, 1L)))
  }

  // ------------------------------------------------------- range layout
  test("rangeSortedWrite: files carry globally DISJOINT key ranges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rangesort_spec").toString
    graft.sources.ZOrder.rangeSortedWrite(
      Tables.orders(spark, sf()).select("o_orderkey", "o_custkey"),
      dir, "o_orderkey", numFiles = 4)
    val spans = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
      .select("mn", "mx").as[(Long, Long)].collect().sortBy(_._1)
    assert(spans.length > 1)
    spans.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"file ranges overlap: $spans")
    }
    // content identity: nothing lost or duplicated by the layout
    assert(spark.read.parquet(dir).count() ==
      Tables.orders(spark, sf()).count())
  }

  test("rollingZscore flags the spike, zero-variance windows score 0") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    val ev = Seq(
      (1L, 7L, t(0), 10.0), (2L, 7L, t(60), 10.0), (3L, 7L, t(120), 10.0),
      (4L, 7L, t(180), 10.0), (5L, 7L, t(240), 10.0),
      (6L, 7L, t(300), 500.0)    // spike vs flat history
    ).toDF("event_id", "user_id", "ts", "value")
    val r = graft.operators.Resample.rollingZscore(ev, Seq("user_id"), "ts", "value",
        windowSec = 3600)
      .orderBy("event_id")
      .select("event_id", "zscore", "is_anomaly")
      .as[(Long, Double, Boolean)].collect().toSeq
    // flat prefix: variance 0 -> z 0, not anomalous
    assert(r.take(5).forall(x => x._2 == 0.0 && !x._3))
    // self-inclusive frame dilutes a lone spike: n=6, mean 91.67,
    // sample sd 200.04 -> z = (500-91.67)/200.04, 4dp-floored 2.0412
    assert(r.last._2 == 2.0412 && r.last._2 == r.map(_._2).max)
  }

  // ---------------------------------------------------------------- xml
  test("XML write/read roundtrip preserves rows with supplied schema") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_xml_spec").toString
    val df = Seq((1L, "alpha", 10L), (2L, "beta & <gamma>", 20L))
      .toDF("id", "name", "v")
    graft.sources.Writers.xml(df, dir, rowTag = "row")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("v", LongType)))
    val back = graft.sources.Readers.xml(spark, dir, rowTag = "row", Some(schema))
      .as[(Long, String, Long)].collect().toSet
    // XML escaping of &/< must roundtrip byte-identically
    assert(back == Set((1L, "alpha", 10L), (2L, "beta & <gamma>", 20L)))
  }
}
