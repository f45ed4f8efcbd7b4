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
    assert(SparkEntry.broadcastIfUnder(spark, sf(), "orders", 0L)(o) eq o)
    // pass branch: a generous cap injects the hint node
    val hinted = SparkEntry.broadcastIfUnder(spark, sf(), "orders", Long.MaxValue)(o)
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
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // Golden ceilings for every bench headliner (audited r6): a future
    // refactor that adds a shuffle, re-reads an input, or degrades a
    // join to nested-loop fails HERE, not in a bench regression three
    // rounds later. `bnljOk` whitelists the documented 1-row broadcast
    // stat-frame crossJoins (corpus stats, IDF totals) — a nested loop
    // against one broadcast row is a constant-cost pattern, not a scan
    // blow-up.
    val golden = Seq(
      //  query                  maxShuffles maxLeaves bnljOk
      ("q1_pricing_summary",     1, 1, false),
      // r9 rework: the filtered fact and the c⨝o side shuffle into
      // the hash join (broadcast build grew linearly with SF); the
      // post-join agg reuses the l_orderkey partitioning (subset
      // cluster-key satisfaction), so exactly 2 exchanges
      ("q3_shipping_priority",   2, 3, false),
      // r8 rework: 7 leaves — nation is scanned twice (once in the
      // region semi-reduction, once as the 25-row post-agg name
      // join); the win is that lineitem no longer shuffles at all
      ("q5_local_supplier",      2, 7, false),
      ("q_window_dedup",         1, 1, false),
      ("q_v4_ml_dataset",        1, 2, false),
      // r7: +1 shuffle/leaf and a 1-row BNLJ from the corpus-derived
      // recrawl offset (max(doc_id) stat frame — documented pattern)
      ("q_dedup_exact",          2, 3, true),
      // late-r9: +2 shuffles/leaves from the two-phase bucket
      // harvest (count → filter → collect survivors) — the extra
      // cheap codegen'd pass removed the sort-based object-agg
      // fallback that was sorting the full 8M-row band frame
      // (65 s → 13 s at sf10)
      ("q_dedup_minhash",        8, 9, false),
      ("q_ann_bruteforce",       1, 2, true),
      ("q_token_count",          1, 1, false),
      // r13: scan-pure gates take the size-gated small-regime spread
      // (one round-robin exchange of the tiny tier file so the fused
      // rules pass fills the cores); the zero-shuffle 100 TB contract
      // moved to the at-scale regime test below, which pins these
      // back to 0 when the spread gate is off
      ("q_quality_score",        1, 1, false),
      ("q_event_windows",        2, 1, false),
      ("q_sessionize",           1, 1, false),
      ("q_medallion_silver",     1, 2, false),
      ("q_corpus_prep",          1, 2, false),
      ("q_asof_join",            2, 2, false),
      ("q_range_join",           2, 2, false),
      ("q_window_analytics",     1, 1, false),
      ("q_dedup_clusters",       1, 3, false),
      ("q_tfidf",                4, 3, true),
      // late-r9 rework: model pass + broadcast-model scoring pass —
      // 3 exchanges at runtime (vocab agg, 1-row total, per-doc
      // partials; 4 here because this audit reads the pre-AQE plan,
      // where the total branch's reuse of the vocab exchange is not
      // yet applied), every one above a partial aggregate; token-less
      // docs re-enter via a narrow union branch, so the token stream
      // never shuffles and nothing joins on the doc key
      // (Round5OpsSpec pins the bare-exchange check)
      ("q_unigram_logprob",      4, 4, true),
      ("q_passage_dedup",        3, 2, false),
      ("q_rolling_agg",          1, 1, false),
      // r9 headliners (ceilings recorded from the gated plans):
      // line_dedup's BNLJ is the 1-row df-threshold broadcast;
      // token_budget/dsir carry the documented 1-row stat frames
      ("q_line_dedup",           3, 2, true),
      ("q_shuffle_corpus",       1, 1, false),
      ("q_token_budget",         6, 4, true),
      // (r10) the k-row check harness is eagerly materialized and its
      // top-k cache released — a local relation at the gate boundary
      ("q_heavy_hitters_sketch", 0, 1, false),
      // late-r9 rework: the returned frame is a scan-pure narrow
      // projection (the B-row model is a separate bounded pass-1 job
      // collected before plan construction — the Ivf cell-list
      // precedent); r13 small-regime spread (see q_quality_score)
      ("q_dsir_weights",         1, 1, false),
      ("q_ccnet_buckets",        2, 2, false),
      // late-r9: the Gopher bundle must stay a pure scan pass at
      // scale; r13 small-regime spread (see q_quality_score)
      ("q_gopher_rules",         1, 2, false),
      ("q_temperature_mix",      2, 1, false),
      // bloom ingest dedup (r12 staged rework): the batch and the
      // digest index are persisted artifacts, so the timed plan is
      // ONE batch-parquet scan (bloom flag, md5 only on hits) + the
      // broadcast digest left join + the source agg — 1 exchange,
      // 2 leaves. Past the broadcast cap the plan flips to the
      // miss/verify branch split (spec'd in Round12OpsSpec equality)
      ("q_bloom_ingest_dedup",   1, 2, false),
      // final r9 headliners: PMI's BNLJ is the 1-row n_docs stat
      // frame; its exchanges are two corpus tokenize passes (df by
      // hash, presence by doc), the pair-keyed count, and the
      // vocab-bounded scoring joins' duplicated df branches (pre-AQE;
      // ReusedExchange collapses them at runtime). r12: +1 for the
      // small-regime explicit-width respread of the doc-token frame
      // before the pair grid (spreadPairGrid — keeps AQE's size-based
      // coalesce from serializing the O(k²) grid stage; absent at
      // scale where the gate passes 0)
      ("q_pmi_cooccur",          7, 5, true),
      ("q_skew_advisor",         2, 1, false),
      // check harness over ONE cached 3-column orders projection:
      // two sketch-delta builds, the incremental merge, the two exact
      // envelope sides, and the single-row rollup cross (BNLJ) — the
      // 6 leaves are cache probes, not parquet rescans
      ("q_hll_store_check",      9, 6, true),
      // source overlap (r10): the gate returns an eagerly-materialized
      // |sources|²-row local relation (the persisted shingleSets frame
      // is released deterministically) — the REAL plan shape is
      // asserted on the lazy builders in the dedicated test below
      ("q_source_overlap",       0, 1, false),
      // drift: 2-value range agg (the 1-row BNLJ broadcast) + one
      // B-row count exchange per snapshot + spine joins/windows —
      // 5 leaves = range scan, two snapshot scans, spine, and the
      // pre-AQE clone the runtime reuses
      ("q_drift_psi",            5, 5, true),
      ("q_drift_summary",        5, 5, true),
      // fifth-session r9 headliners: backoff LM pays one corpus scan
      // per n-gram order (the Brants MapReduce shape; totals fold
      // from the vocab-sized unigram table, and 3 of the pre-AQE
      // duplicate branches come back as runtime ReusedExchange) plus
      // type-keyed joins — its BNLJ is the 1-row (N,V) broadcast;
      // unicode clean and the Gopher bundle share the scan-pure bar;
      // the spectrum's BNLJ is the 1-row vocab total; domain policy
      // is exactly the one host-keyed capped window
      // r12: +2 — the one-scan doc side folds the type table off the
      // (h3, doc) aggregate (one extra type-bounded exchange replaces
      // a whole second corpus trigram scan), and the small-regime
      // spreadTypes respread guards the five-join chain's parallelism
      // (absent at scale where the gate passes 0)
      ("q_backoff_logprob",     13, 9, true),
      ("q_unicode_clean",        0, 1, false),
      ("q_freq_spectrum",        4, 2, true),
      // domain policy: 2 leaves since the hostless pass-through
      // branch (null-host docs skip the window) re-reads the scan
      ("q_domain_policy",        1, 2, false),
      // change points: the daily partial agg is the only corpus
      // exchange; gapFill's span agg + frames run over the tiny
      // (key, day) frame
      ("q_change_points",        2, 2, false),
      // standardize: dims-rows moment exchange + its single-row fold;
      // the BNLJ is the 1-row broadcast stats frame
      ("q_embedding_standardize", 2, 2, true),
      // sketch-overlap check harness (r10): eager local relation,
      // same contract as q_source_overlap — lazy builders asserted in
      // the dedicated test below
      ("q_source_overlap_sketch", 0, 1, false),
      // MAD report (r10): eager one-row local relation (histogram
      // cache released deterministically) — the lazy report plan is
      // asserted in the dedicated test below
      ("q_mad_outliers",         0, 1, false),
      // burstiness: one user-keyed exchange (lag + agg share the
      // sort); 2 leaves = the organic scan + the planted-bot branch
      ("q_burstiness",           1, 2, false),
      // r10: keep-best dedup — digest exchange with WindowGroupLimit
      // partial below it + source agg; BNLJ = the 1-row recrawl
      // offset broadcast; leaves are staged-batch cache probes
      ("q_dedup_keep_best",      3, 5, true),
      // r10: n-gram novelty — reference distinct-shingle exchange,
      // shingle-keyed anti join, doc-keyed count + totals join
      ("q_ngram_novelty",        5, 4, false),
      // r10 check harnesses: classifier margin replay is a pure scan
      // pass (r13 small-regime spread — see q_quality_score); outlier
      // threshold check = one cell agg + broadcast-back
      ("q_classifier_margin_check", 1, 1, false),
      ("q_outlier_threshold_check", 1, 2, false),
      // r10: robust scale — (pos, value) histogram exchange, keyed
      // rank windows over distinct values, dims-row stats fold; BNLJ
      // = the 1-row broadcast stats frame
      ("q_robust_scale",          3, 2, true),
      // r10: char diversity — a pure scan pass (sorted-run fold),
      // zero exchanges by design
      ("q_char_diversity",        0, 1, false),
      // r12 staged/approx forms: the q5 map probe is fact-scan +
      // 3 broadcast joins with the agg exchange and the top-k sort
      // (map, lineitem, supplier, nation = 4 leaves — the from-raw
      // q5's 7-leaf dimension reduction is the staged-away part);
      // the HLL windows flip is the POINT: 1 exchange of sketch rows,
      // 1 leaf, where the exact form needs 2 user-row exchanges
      ("q5_local_supplier_staged", 2, 4, false),
      ("q_event_windows_approx",  1, 1, false),
      // r12: the UT1-scale blocklist join form — distinct-host
      // dedup, suffix semi-join, host anti-join, cap window, and the
      // hostless pass-through union (6 leaves incl. the blocklist
      // local relation); the join path's exchanges are all host- or
      // suffix-keyed, bounded by host cardinality, never doc count
      ("q_domain_policy_big",     5, 6, false),
      // r12: unigram trainer returns a driver-local V-row relation
      // (EM ran as per-iteration jobs — the q_dsir_weights contract);
      // the encode is distinct-word segmentation (broadcast model),
      // token join, one doc-keyed reassembly + the token-less right
      // join
      ("q_unigram_train",         0, 1, false),
      ("q_unigram_encode",        3, 3, false),
      // r12: batch BM25 eval — the native vocab_term_counts postings
      // build (rows ∝ matches from the scan, no token explode), its
      // map-explode exchange, df / per-(query,doc) sum / rank-window
      // exchanges + pre-AQE clones the runtime collapses to
      // ReusedExchange (10/7 before the native rework); BNLJ = the
      // 1-row (N, avgdl) stats broadcast
      // r12: +3 pre-AQE clones of the small-regime scan fan-out
      // exchange (the spread docs frame feeds the postings, stats and
      // doc-length branches; ReusedExchange collapses the clones at
      // runtime, and at scale the gate passes no fan-out at all)
      // r13: +3 shuffles/+3 leaves — the union query vocabulary rides
      // as a broadcast 1-row aggregate INSIDE the plan (its qt subtree
      // clones the docs scan + fanout + term agg) instead of a
      // plan-construction collect job; runtime ReusedExchange
      // collapses the clones, and the at-scale regime test below pins
      // the spread-free count
      ("q_retrieval_eval",       12, 8, true),
      // r12: vocabulary JS drift — ONE (fam, token, count) frame
      // feeds the vocab-keyed map exchange and the |pairs|-row sum;
      // the BNLJ is the broadcast |families|²-row pair grid crossed
      // with the vocab-sized token map
      // r13: the eager checkpoint + totals collect (two driver
      // round-trip jobs at plan construction) are gone — the pair
      // grid is a non-equi self-join of the |families|-row totals, so
      // the (fam, t) aggregation subtree now appears 3× pre-AQE (map
      // branch + both totals sides; ReusedExchange collapses them to
      // ONE corpus pass at runtime — same corpus work, two fewer
      // jobs). 7 = 3 corpus-agg clones + 2 totals aggs + map exchange
      // + |pairs| sum
      ("q_vocab_drift",           7, 3, true),
      // r12: PageRank — the iterations run as checkpointed jobs (the
      // q_dsir_weights contract), so the returned frame is TakeOrdered
      // over the final checkpoint; the iterative plan's 2-exchange
      // shape is pinned by its own A/B notes in the operator scaladoc
      ("q_pagerank",              0, 1, false))
    val failures = golden.flatMap { case (q, maxShuffles, maxLeaves, bnljOk) =>
      val p = SparkEntry.queries(q)(spark, sf()).queryExecution.executedPlan
      audit(q, p, maxShuffles, maxLeaves, bnljOk)
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
