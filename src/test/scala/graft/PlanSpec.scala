package graft

/** Plan-shape regression guards: the scale properties PLANS.md
  * documents, asserted so a future refactor can't silently lose them.
  */
class PlanSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf()).queryExecution.executedPlan.toString

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
    // r13: the gate takes the size-gated spread, so the small-regime
    // plan carries exactly ONE round-robin exchange below the fused
    // projection; the zero-exchange 100 TB contract is pinned by the
    // at-scale regime test (q_token_count with the spread gate off)
    val p = plan("q_token_count")
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains("RoundRobinPartitioning"), p)
  }

  test("IVF: no unpartitioned Window — seeding is TakeOrdered, not a global sort") {
    val qe = SparkEntry.queries("q_ann_ivf")(spark, sf()).queryExecution
    // every Window must carry a partition key; an empty partitionBy
    // funnels the whole corpus through one task
    val globalWindows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, globalWindows.mkString("\n"))
    assert(qe.executedPlan.toString.contains("TakeOrdered"), qe.executedPlan.toString)
  }

  test("IVF: cell assignment runs the nearest_centroid kernel, not an interpreted fold") {
    val p = plan("q_ann_ivf")
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

  test("Lloyd: each iteration is one vector_mean aggregate, no positional avg") {
    // the update is vector_mean grouped by cell; the (cell, pos) avg
    // of the posexplode chain it replaced is gone (seeding still
    // numbers its c seeds with a posexplode — not part of the update)
    for (q <- Seq("q_ann_ivf", "q_semdedup")) {
      val p = plan(q)
      assert(p.contains("vector_mean("), s"$q:\n$p")
      assert(!p.contains("avg("), s"$q:\n$p")
    }
    // shuffles of the bare training plan (2 Lloyd iterations); c = 12
    // is a cell count no gate caches, so the plan is never an
    // in-memory scan of an earlier spec's centroids. Ceiling 3: one
    // cell-keyed exchange per iteration plus one single-partition
    // exchange collecting iteration 1's centroids for the broadcast.
    // The posexplode → (cell, pos) avg → collect_list chain planned 5.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = graft.ann.Ivf.centroids(Tables.embeddings(spark, sf()), c = 12)
      .queryExecution.executedPlan
    assert(!p.toString.contains("avg("), s"Ivf.centroids:\n$p")
    val shuffles = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
      def count: Int = collect(p) { case e: ShuffleExchangeExec => e }.size
    }.count
    assert(shuffles <= 3, s"Ivf.centroids: $shuffles shuffles > ceiling 3\n$p")
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
    // r12 verdict item 8 + advice item 4. Two regime pins:
    // (1) the spec fixture must BE in the small regime — if data or
    //     conf growth ever flips scanFanout to 0 here, the golden
    //     ceilings above would break with an opaque count mismatch,
    //     so fail with the reason instead;
    // (2) with the gate forced OFF (maxPartitionBytes shrunk until
    //     every table "already scans wide" — the same arithmetic a
    //     100 TB input satisfies naturally), the small-regime spread
    //     exchanges must be ABSENT and these TIGHTER ceilings hold.
    //     A spread leaking into the at-scale plan fails here, not in
    //     a cluster deployment.
    assert(Spread.scanFanout(spark, sf(), "documents") > 0,
      "fixture regime flipped: scanFanout = 0 in the spec fixture — " +
        "the golden ceilings above assume the small-input spreads are present")
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    val cores = spark.sparkContext.defaultParallelism
    val tables = Seq("documents", "events", "orders")
    val minBytes = tables.map(t => Tables.bytesOnDisk(spark, sf(), t)).min
    try {
      spark.conf.set(key, math.max(1L, minBytes / cores).toString)
      tables.foreach { t =>
        assert(Spread.scanFanout(spark, sf(), t) == 0,
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
    val (hist, report) = RobustStats.madReportFrame(
      Tables.events(spark, sf()), "value")
    val mad = report.queryExecution.executedPlan
    hist.unpersist(blocking = false)
    val failures =
      audit("overlap_matrix_lazy", exact, 7, 3, bnljOk = false) ++
      audit("overlap_sketch_lazy", sketch, 4, 2, bnljOk = true) ++
      audit("mad_report_lazy", mad, 12, 6, bnljOk = true)
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
