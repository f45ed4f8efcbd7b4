package graft

/** Plan-shape regression guards: the scale properties PLANS.md
  * documents, asserted so a future refactor can't silently lose them.
  */
class PlanSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf()).queryExecution.executedPlan.toString

  /** The executed plans of the Dataset actions `body` runs (e.g. the
    * collects a builder makes while it builds), in completion order.
    */
  private def actionPlans(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.QueryExecution
    val seen = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.synchronized { seen += qe.executedPlan }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val bus = org.apache.spark.graft.ListenerBusAccess
    bus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; bus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.synchronized(seen.toList)
  }

  /** Centroid training runs while an IVF plan is built. It runs its
    * corpus plan as one RDD (the seed pass and each Lloyd iteration
    * are RDD jobs), which is no query.
    */
  private lazy val trainingPlans = {
    val corpus = Tables.embeddings(spark, sf())
    actionPlans(graft.ann.Ivf.centroids(corpus, c = 12))
  }

  test("q1: ship-date filter reaches the parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("partial_sum"), p) // map-side combine
  }

  test("q3/q5: dims broadcast, never nested-loop") {
    for (q <- Seq("q3_shipping_priority", "q5_local_supplier")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoop"), s"$q:\n$p")
    }
  }

  test("q3/q5 broadcast hints are size-gated, both branches") {
    // the on-disk signal: real tables read finite-positive, a missing
    // table reads as infinitely large (gate then emits no hint)
    val b = Tables.bytesOnDisk(spark, sf(), "orders")
    assert(b > 0 && b < Long.MaxValue, b)
    assert(Tables.bytesOnDisk(spark, sf(), "no_such_table") == Long.MaxValue)
    // drop branch: a zero cap must return the frame UNhinted — the
    // identical object, so the plan is exactly what AQE sees unaided
    val o = Tables.orders(spark, sf())
    assert(gates.Fixtures.broadcastIfUnder(spark, sf(), "orders", 0L)(o) eq o)
    // pass branch: a generous cap injects the hint node
    val hinted = gates.Fixtures.broadcastIfUnder(spark, sf(), "orders", Long.MaxValue)(o)
    assert(hinted.queryExecution.logical.toString.contains("Hint"), hinted.queryExecution.logical)
  }

  test("window dedup: partial top-k below the shuffle (WindowGroupLimit)") {
    val p = plan("q_window_dedup")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("range join: hash join on (key, bin), no nested loop or cartesian") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("Cartesian"), p)
    assert(p.contains("__bin"), p)
  }

  test("text stats: only the small-regime fan-out, projection scan-fused") {
    // the gate spreads its narrow scan, so the small-regime plan
    // carries exactly ONE round-robin exchange below the fused
    // projection; the zero-exchange 100 TB contract is pinned by the
    // at-scale regime test (q_quality_score with a wide scan)
    val p = plan("q_quality_score")
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains("RoundRobinPartitioning"), p)
  }

  test("IVF: no unpartitioned Window — seeding runs no query, so no global sort") {
    // every Window must carry a partition key; an empty partitionBy
    // funnels the whole corpus through one task (q_ann_ivf's search
    // plans none; q_ann_sq8 still ranks by window)
    val globalWindows = Seq("q_ann_ivf", "q_ann_sq8").flatMap { q =>
      SparkEntry.queries(q)(spark, sf()).queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }
    }
    assert(globalWindows.isEmpty, globalWindows.mkString("\n"))
    // the seeds are a bounded per-partition head of the training
    // RDD, drawn at build time: no training query, sorted or not
    assert(trainingPlans.isEmpty, trainingPlans.mkString("\n\n"))
  }

  test("IVF: cell assignment runs the nearest_centroid kernel, not an interpreted fold") {
    // the search assigns in its RDD kernel; Ivf.index is the plan that
    // assigns (writeIndex, topKSq8)
    val corpus = Tables.embeddings(spark, sf())
    val p = graft.ann.Ivf.index(corpus, graft.ann.Ivf.centroids(corpus, c = 16))
      .queryExecution.executedPlan.toString
    assert(p.contains("nearest_centroid("), p)
    // the r13 form: an `aggregate` lambda over the broadcast centroid
    // array, which Spark evaluates interpreted (CodegenFallback)
    assert("aggregate\\(__cents".r.findFirstIn(p).isEmpty, p)
  }

  test("ewma: one daily-agg exchange, map-side partial, no Window at all") {
    val qe = SparkEntry.queries("q_ewma_anomaly")(spark, sf()).queryExecution
    val windows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.isEmpty, windows.mkString("\n")) // prefix folds, not scans
    val p = qe.executedPlan.toString
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("chat assembly: ONE user-keyed exchange serves window and session agg") {
    val qe = SparkEntry.queries("q_chat_assemble")(spark, sf()).queryExecution
    val p = qe.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"$shuffles shuffles:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("url dedup: narrow canonicalize, one canonical-keyed exchange") {
    val p = plan("q_url_dedup")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"$shuffles shuffles:\n$p")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("global sample: TakeOrdered, never a global Sort") {
    val p = plan("q_sample_global")
    assert(p.contains("TakeOrdered"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("catalog-table analytics: no shuffle on the bucketed join key") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // force SMJ so a missing bucket optimization would need a shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q_v1_tables")(spark, sf())
      df.collect()
      val shuffles = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
        def all = collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }
      }.all
      val onCustkey = shuffles.filter(_.outputPartitioning.toString.contains("custkey"))
      assert(onCustkey.isEmpty,
        s"bucketed join must not re-shuffle on custkey:\n${onCustkey.mkString("\n")}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("Upsert: per-key winner planned as WindowGroupLimit, single key shuffle") {
    val p = plan("q_upsert")
    assert(p.contains("WindowGroupLimit"), p)
    val keyShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(o_orderkey"))
    assert(keyShuffles == 1, s"expected one key shuffle, got $keyShuffles:\n$p")
  }

  test("BM25: no token explode, broadcast stats, TakeOrdered top-k") {
    val p = plan("q_bm25_search")
    assert(!p.contains("Generate"), s"query-term tf must not explode tokens:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrdered"), p)
  }

  test("window analytics: both windows share ONE exchange (same partition key)") {
    val p = plan("q_window_analytics")
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1, s"expected exactly one shuffle:\n$p")
  }

  test("rollup/cube/grouping sets: single Expand pass, one agg exchange") {
    for (q <- Seq("q_rollup", "q_cube", "q_grouping_sets")) {
      val p = plan(q)
      assert(p.linesIterator.count(_.trim.startsWith("+- Expand")) +
        p.linesIterator.count(_.trim.startsWith(":- Expand")) <= 1, s"$q:\n$p")
      assert(p.contains("Expand"), s"$q must plan grouping sets via Expand:\n$p")
      assert(p.contains("partial_count"), s"$q must partial-aggregate:\n$p")
    }
  }

  test("snapshot diff / fuzzy match / gap fill: hash or merge joins only") {
    for (q <- Seq("q_fuzzy_match", "q_gap_fill")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoop") && !p.contains("Cartesian"),
        s"$q:\n$p")
    }
    // snapshot diff carries ONE documented 1-row-broadcast crossJoin
    // (the corpus-derived insert-key offset); the diff join itself
    // must still be a hash/merge join and nothing may go cartesian
    val p = plan("q_snapshot_diff")
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoop")) <= 1, p)
    assert(!p.contains("Cartesian"), p)
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("sequence packing: the doc-ordered prefix-sum window is keyed, not global") {
    val qe = SparkEntry.queries("q_pack_sequences")(spark, sf()).queryExecution
    val badWindows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty &&
          w.orderSpec.exists(_.child.references.exists(_.name == "doc_id")) => w
    }
    assert(badWindows.isEmpty,
      s"corpus-wide unpartitioned window:\n${badWindows.mkString("\n")}")
  }

  test("token budget: the md5-ordered prefix-sum window is keyed, not global") {
    val qe = SparkEntry.queries("q_token_budget")(spark, sf()).queryExecution
    val badWindows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty &&
          w.orderSpec.exists(_.child.references.exists(_.name == "doc_id")) => w
    }
    assert(badWindows.isEmpty,
      s"corpus-wide unpartitioned window:\n${badWindows.mkString("\n")}")
  }

  test("Lloyd: each iteration's assignment plan has no exchange and runs the kernel") {
    // an iteration folds the rows of exactly this plan into per-cell
    // sums on each partition and combines them in a treeAggregate:
    // no cell-keyed exchange and no SQL aggregate
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val corpus = Tables.embeddings(spark, sf())
    val cents = graft.ann.Ivf.centroids(corpus, c = 12, iters = 1)
    val p = graft.ann.Ivf.index(corpus, cents).queryExecution.executedPlan
    assert(p.toString.contains("nearest_centroid("), p)
    assert(!p.toString.contains("vector_mean(") && !p.toString.contains("avg("), p)
    val shuffles = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
      def count: Int = collect(p) { case e: ShuffleExchangeExec => e }.size
    }.count
    assert(shuffles == 0, s"Lloyd assignment: $shuffles shuffles\n$p")
    assert(!p.toString.contains("BroadcastNestedLoop"), p)
    // jobs: one for the seed draw, one per iteration
    val (_, jobs) = Probe.jobsStarted(spark)(graft.ann.Ivf.centroids(corpus, c = 12))
    assert(jobs == 3, s"Ivf.centroids started $jobs jobs")
  }

  test("a centroid set over a local relation is read with no job and no query event") {
    val cents = graft.ann.Ivf.centroids(Tables.embeddings(spark, sf()), c = 8, iters = 1)
    val (events, jobs) = Probe.jobsStarted(spark)(
      actionPlans(graft.functions.CentroidSet.of(cents)))
    assert(jobs == 0 && events.isEmpty, s"$jobs jobs, query events: $events")
  }

  test("IVF probe: the top-nprobe kernel, no query-keyed Window below the scoring join") {
    // topKSq8 still plans its probe (topK and topKIndexed probe on the
    // driver, with the same kernel's CentroidTable.top)
    val qe = SparkEntry.queries("q_ann_sq8")(spark, sf()).queryExecution
    assert(qe.executedPlan.toString.contains("nearest_centroids("), qe.executedPlan)
    // two Windows, each a per-query top-k over scored pairs: the coarse
    // one over the dequantized `qsim`, the rerank over the exact `sim`
    val windows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    def ranks(w: org.apache.spark.sql.catalyst.plans.logical.Window): Set[String] =
      w.orderSpec.flatMap(_.child.references.map(_.name)).toSet
    val scored = windows.map(w => ranks(w).filter(Set("qsim", "sim")).mkString).sorted
    assert(scored == Seq("qsim", "sim"), windows.mkString("\n"))
  }

  test("IVF plan text does not grow with the centroid set") {
    // the set is a leaf printed by its shape: a Literal would print
    // every centroid into each plan string (c·dim numbers)
    val rnd = new scala.util.Random(20261019L)
    import spark.implicits._
    val corpus = (0L until 300L).map(i => (i, Seq.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    def planLength(c: Int): Int = {
      val cents = graft.ann.Ivf.centroids(corpus, c, iters = 1)
      assert(cents.count() == c)
      graft.ann.Ivf.index(corpus, cents).queryExecution.toString.length
    }
    val (small, large) = (planLength(8), planLength(64))
    assert(math.abs(large - small) < 200, s"plan text: c = 8 $small chars, c = 64 $large")
  }

  test("metadata projections prune unused wide columns") {
    val p = plan("q_point_lookup")
    // lookup reads only the projected columns, with the key pushed down
    assert(p.contains("PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,7)"), p)
  }

  test("headliner plan audit: per-query shuffle/scan ceilings, no nested-loop joins") {
    // Golden ceilings, declared on each gate (`Gate.ceiling`, with the
    // reason for each figure beside it): a refactor that adds a
    // shuffle, re-reads an input, or degrades a join to nested-loop
    // fails HERE, not in a bench regression later. Every bench
    // headliner carries one except q_ewma_anomaly, q_chat_assemble and
    // q_url_dedup, whose plans are pinned by their own tests. `bnljOk`
    // whitelists the documented 1-row broadcast stat-frame crossJoins
    // (corpus stats, IDF totals): a nested loop against one broadcast
    // row is a constant-cost pattern, not a scan blow-up.
    val golden = SparkEntry.gates.flatMap(g => g.ceiling.map(g.name -> _))
    assert(golden.size == 60)
    val failures = golden.flatMap { case (q, c) =>
      val p = SparkEntry.queries(q)(spark, sf()).queryExecution.executedPlan
      audit(q, p, c.shuffles, c.leaves, c.bnljOk)
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("at-scale regime: spread-free plans hold tighter ceilings") {
    // Two regime pins on Spread's decision:
    // (1) the spec fixture must BE in the small regime — if data or
    //     conf growth ever makes its scans wide, the golden ceilings
    //     above would break with an opaque count mismatch, so fail
    //     with the reason instead;
    // (2) with maxPartitionBytes shrunk until every table scans into
    //     at least a split per core (what a 100 TB input does
    //     naturally), the decision is "leave alone", the spread
    //     exchanges must be ABSENT and these TIGHTER ceilings hold.
    //     A spread leaking into the at-scale plan fails here, not in
    //     a cluster deployment.
    val tables = Seq("documents", "events", "orders")
    tables.foreach { t =>
      assert(Spread.width(Tables.load(spark, sf(), t)) > 0,
        s"fixture regime flipped: $t scans wide in the spec fixture — " +
          "the golden ceilings above assume the small-input spreads are present")
    }
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    val cores = spark.sparkContext.defaultParallelism
    val minBytes = tables.map(t => Tables.bytesOnDisk(spark, sf(), t)).min
    try {
      spark.conf.set(key, math.max(1L, minBytes / cores).toString)
      tables.foreach { t =>
        assert(Spread.width(Tables.load(spark, sf(), t)) == 0,
          s"$t still spreads under the at-scale conf")
      }
      val atScale = Seq(
        //  query                maxShuffles maxLeaves bnljOk
        ("q_pmi_cooccur",          6, 5, true),
        ("q_backoff_logprob",     12, 9, true),
        ("q_retrieval_eval",       9, 8, true),
        // tfidf's spread replaces (not adds) the term exchange, so
        // both regimes carry the same 4 pre-AQE exchanges
        ("q_tfidf",                4, 3, true),
        ("q_chat_assemble",        1, 1, false),
        ("q_burstiness",           1, 2, false),
        ("q_rolling_agg",          1, 1, false),
        ("q_medallion_silver",     1, 2, false),
        ("q_dedup_clusters",       1, 3, false),
        // the scan-pure contract proper: corpus text NEVER moves at
        // scale — the r12 "deliberately left alone" reasoning, now
        // enforceable because the small-regime spread is regime-gated
        ("q_quality_score",        0, 1, false),
        ("q_gopher_rules",         0, 2, false),
        ("q_dsir_weights",         0, 1, false),
        ("q_token_count",          0, 1, false),
        ("q_classifier_margin_check", 0, 1, false),
        ("q_ngram_novelty",        5, 4, false))
      val failures = atScale.flatMap { case (q, maxShuffles, maxLeaves, bnljOk) =>
        val p = SparkEntry.queries(q)(spark, sf()).queryExecution.executedPlan
        audit(q, p, maxShuffles, maxLeaves, bnljOk)
      }
      assert(failures.isEmpty, failures.mkString("\n"))
    } finally spark.conf.set(key, prev)
  }

  test("the spread decision starts no Spark job and leaves a plan that needs a shuffle alone") {
    // A joined frame already needs an exchange: asking it for its
    // partition count would run its upstream stages under AQE while
    // the plan is built. A bare tier scan is narrow and is spread.
    val docs = Tables.documents(spark, sf())
    val joined = docs.join(Tables.orders(spark, sf()),
      docs("doc_id") === org.apache.spark.sql.functions.col("o_orderkey"))
    val (wide, wideJobs) = Probe.jobsStarted(spark)(Spread.ifNarrow(joined))
    assert(wideJobs === 0)
    assert(wide eq joined)
    val (narrow, narrowJobs) = Probe.jobsStarted(spark)(Spread.ifNarrow(docs))
    assert(narrowJobs === 0)
    assert(narrow.queryExecution.optimizedPlan.toString.contains("Repartition"))
  }

  private def audit(q: String, p: org.apache.spark.sql.execution.SparkPlan,
      maxShuffles: Int, maxLeaves: Int, bnljOk: Boolean): Seq[String] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val h = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
      def shuffles: Int = collect(p) { case e: ShuffleExchangeExec => e }.size
      def leaves: Int = collectLeaves(p).size
    }
    val s = p.toString
    Seq(
      (h.shuffles > maxShuffles) ->
        s"$q: ${h.shuffles} shuffles > ceiling $maxShuffles",
      (h.leaves > maxLeaves) ->
        s"$q: ${h.leaves} scan leaves > ceiling $maxLeaves",
      (!bnljOk && s.contains("BroadcastNestedLoop")) ->
        s"$q: unexpected BroadcastNestedLoopJoin",
      s.contains("CartesianProduct") -> s"$q: CartesianProduct")
      .collect { case (true, msg) => msg }
  }

  test("eager report operators: lazy builders keep their plan shape") {
    // these gate queries return eagerly-materialized local relations
    // (bounded caches released deterministically), so the golden
    // table above cannot see their real plans — the lazy forms are
    // audited here with the pre-r10 ceilings
    import graft.operators.{RobustStats, SourceOverlap}
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf())
    val bySh = SourceOverlap.shingleSets(docs, "source", col("text"), 3)
    val exact = SourceOverlap.matrixFromSets(bySh).queryExecution.executedPlan
    val sketch = SourceOverlap.sketchFromSets(bySh).queryExecution.executedPlan
    val hist = RobustStats.histogram(Tables.events(spark, sf()), "value").cache()
    val mad = RobustStats.madReportFrame(hist).queryExecution.executedPlan
    hist.unpersist(blocking = false)
    val failures =
      audit("overlap_matrix_lazy", exact, 7, 3, bnljOk = false) ++
      audit("overlap_sketch_lazy", sketch, 4, 2, bnljOk = true) ++
      audit("mad_report_lazy", mad, 12, 6, bnljOk = true)
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
