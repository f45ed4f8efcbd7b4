package graft
package gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions.{TextFunctions => TF}
import Fixtures.driftBucketsSql

/** Families B and C: profiling and the silver business rules
  * (column standardization, window dedup, sketches and their
  * check harnesses, drift, expectations, the medallion silver
  * chain).
  */
object Silver {

  val gates: Seq[Gate] = Seq(

    Gate("q_null_profile", (s, d) => Profiler.nullProfile(Tables.events(s, d)),
      oracle = Some("""SELECT count(CASE WHEN event_id IS NULL THEN 1 END) AS event_id_nulls,
           count(CASE WHEN ts IS NULL THEN 1 END) AS ts_nulls,
           count(CASE WHEN user_id IS NULL THEN 1 END) AS user_id_nulls,
           count(CASE WHEN event_type IS NULL THEN 1 END) AS event_type_nulls,
           count(CASE WHEN value IS NULL THEN 1 END) AS value_nulls,
           count(CASE WHEN props IS NULL THEN 1 END) AS props_nulls
         FROM events""")),

    Gate("q_dup_profile", (s, d) =>
      Profiler.dupProfile(Tables.events(s, d), Seq("user_id", "event_type")),
      oracle = Some("""SELECT count(*) AS total_rows,
           count(DISTINCT (user_id, event_type)) AS distinct_keys,
           count(*) - count(DISTINCT (user_id, event_type)) AS duplicate_rows
         FROM events""")),

    Gate("q_snake_case", (s, d) => {
      // camelCase the input first so the standardizer has real work.
      val camel = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("LReturnflag"), col("l_quantity").as("LQuantity"))
      ColumnStandardizer.standardize(camel)
        .groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"))
    },
      oracle = Some("""SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY l_returnflag""")),

    Gate("q_date_standardize", (s, d) => {
      // Rebuild the reference's two raw formats from o_orderdate, then
      // parse them back (RN-001). Round-trip == identity on the date.
      val raw = Tables.orders(s, d).select(
        col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(2)) === 0,
          date_format(col("o_orderdate"), "yyyyMMdd"))
          .otherwise(date_format(col("o_orderdate"), "yyyy/MM/dd HH:mm:ss.SSSSSSSSS"))
          .as("raw_date"))
      DateStandardizer.standardize(raw, Seq("raw_date"))
        // dates travel as ISO strings for the cross-engine compare
        // (pandas renders DATE as object vs DuckDB's datetime64)
        .withColumn("raw_date", date_format(col("raw_date"), "yyyy-MM-dd"))
    },
      oracle = Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS raw_date FROM orders""")),

    Gate("q_normalize_states", (s, d) =>
      Normalizer.normalize(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus")),
        Seq("o_orderstatus"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n")),
      oracle = Some("""SELECT upper(trim(o_orderstatus)) AS o_orderstatus, count(*) AS n
         FROM orders GROUP BY 1""")),

    Gate("q_window_dedup", (s, d) =>
      Deduplicator.latestWins(Tables.events(s, d),
          Seq("user_id", "event_type"), "ts", tieBreak = Some("event_id"))
        .select("event_id", "user_id", "event_type", "value"),
      oracle = Some("""SELECT event_id, user_id, event_type, value FROM (
           SELECT *, row_number() OVER (
             PARTITION BY user_id, event_type
             ORDER BY ts DESC NULLS LAST, event_id DESC) AS rn
           FROM events) t
         WHERE rn = 1"""),
      bench = Role.Headline,
      ceiling = Some(Ceiling(1, 1, bnljOk = false))),

    Gate("q_window_dedup_agg", (s, d) =>
      // shuffle-light latest-wins (max_by with partial aggregation) —
      // must produce the identical row set as the window form, which
      // the shared oracle checks
      Deduplicator.latestWinsAgg(Tables.events(s, d),
          Seq("user_id", "event_type"), "ts", tieBreak = "event_id")
        .select("event_id", "user_id", "event_type", "value"),
      oracle = Some("""SELECT event_id, user_id, event_type, value FROM (
           SELECT *, row_number() OVER (
             PARTITION BY user_id, event_type
             ORDER BY ts DESC NULLS LAST, event_id DESC) AS rn
           FROM events) t
         WHERE rn = 1""")),

    Gate("q_profile_approx", (s, d) =>
      Profiler.dupProfileApprox(Tables.events(s, d), Seq("user_id", "event_type"))),

    Gate("q_profile_approx_check", (s, d) => {
      // the HLL profile under a cross-engine harness: the exact
      // distinct matches DuckDB row-for-row, and the sketch estimate
      // is ASSERTED within its 10% envelope Spark-side (the oracle
      // pins the boolean TRUE) — upgrades the approx path from
      // rows-only to a driver-checked property
      val ev = Tables.events(s, d)
      Profiler.dupProfileApprox(ev, Seq("user_id", "event_type"))
        .crossJoin(Profiler.dupProfile(ev, Seq("user_id", "event_type"))
          .select(col("distinct_keys")))
        .select(col("total_rows"), col("distinct_keys"),
          (abs(col("approx_distinct_keys") - col("distinct_keys")).cast("double")
            / col("distinct_keys") <= 0.1).as("within_10pct"))
    },
      oracle = Some("""SELECT count(*) AS total_rows,
           count(DISTINCT (user_id, event_type)) AS distinct_keys,
           TRUE AS within_10pct
         FROM events""")),

    Gate("q_percentile_sketch_check", (s, d) => {
      // sketch percentiles under a cross-engine harness (r10 verdict
      // item 7's pattern): per-type approx_percentile (the mergeable
      // fixed-size KLL-style sketch — the 100 TB quantile path) is
      // ASSERTED inside its rank-error envelope against rank-exact
      // bracket values, and the rank-exact percentile itself (an
      // actual data element, engine-portable — the
      // q_group_percentiles machinery) is the oracle-compared value.
      // delta = 5/accuracy: the sketch guarantees rank error
      // <= n/accuracy; the x5 absorbs duplicate-value rank collapse.
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val acc = 10000
      val delta = 5.0 / acc
      val ps = Seq(0.5, 0.9, 0.99)
      val w = Window.partitionBy("event_type").orderBy("value")
      val ranked = ev.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("event_type")))
      // bracket ranks carry a +-2 rank slack on top of delta: the
      // sketch targets 1-indexed ceil(p*n) while the exact selection
      // is 0-indexed floor(p*(n-1)) — at small n the off-by-one
      // exceeds delta*n (measured: 4 false verdicts at sf0.001's
      // ~2k-row types with the bare bracket)
      def atRank(p: Double, frac: Double, off: Int, as: String) = ranked
        .filter(col("rn") - 1 ===
          greatest(least(floor(lit(frac) * (col("n") - 1)) + lit(off.toLong),
            (col("n") - 1).cast("long")), lit(0L)))
        .select(col("event_type"), lit(p).as("p"), col("value").as(as))
      val exacts = ps.map(p => atRank(p, p, 0, "exact_value")).reduce(_ unionAll _)
      val los = ps.map(p => atRank(p, math.max(p - delta, 0.0), -2, "lo")).reduce(_ unionAll _)
      val his = ps.map(p => atRank(p, math.min(p + delta, 1.0), 2, "hi")).reduce(_ unionAll _)
      val approx = ev.groupBy("event_type")
        .agg(expr(s"approx_percentile(value, array(${ps.mkString(", ")}), $acc)").as("aq"))
        .select(col("event_type"), posexplode(col("aq")).as(Seq("__i", "av")))
        .withColumn("p", element_at(array(ps.map(lit): _*), col("__i") + 1))
        .drop("__i")
      exacts.join(los, Seq("event_type", "p"))
        .join(his, Seq("event_type", "p"))
        .join(approx, Seq("event_type", "p"))
        .select(col("event_type"),
          (col("p") * 100).cast("long").as("p_pct"),
          col("exact_value"),
          (col("av") >= col("lo") && col("av") <= col("hi")).as("within_bound"))
    },
      // the rank-exact values are the compared payload; the sketch's
      // envelope verdicts are pinned TRUE
      oracle = Some("""WITH r AS (
           SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events
         )
         SELECT event_type, CAST(p * 100 AS BIGINT) AS p_pct,
           value AS exact_value, TRUE AS within_bound
         FROM r, unnest([0.5, 0.9, 0.99]) AS t(p)
         WHERE rn - 1 = floor(p * (n - 1))""")),

    Gate("q_sampled_profile_check", (s, d) => {
      // seeded sampled profiling under a cross-engine harness: the
      // Bernoulli draw is engine-specific (Spark's XORShift per
      // partition), so the oracle pins PROPERTIES — the sample size
      // inside an 8-sigma binomial band and the sampled mean inside
      // 0.2 stddev of the exact mean — alongside the exact row count.
      // This is what sampling-based profiling promises at 100 TB:
      // read f of the data, answer within statistical bounds.
      val ev = Tables.events(s, d).select(col("value"))
      val frac = 0.2
      val sampled = ev.sample(withReplacement = false, frac, seed = 42L)
        .agg(count(lit(1)).as("n_sampled"), avg("value").as("mean_s"))
      val exact = ev.agg(count(lit(1)).as("n_rows"), avg("value").as("mean"),
        stddev_pop("value").as("sd"))
      sampled.crossJoin(exact).select(
        col("n_rows"),
        (abs(col("n_sampled") - col("n_rows") * frac) <=
          lit(8.0) * sqrt(col("n_rows") * frac * (1 - frac))).as("size_ok"),
        (abs(col("mean_s") - col("mean")) <= lit(0.2) * col("sd")).as("mean_ok"))
    },
      // the exact row count is the compared payload; the sampling
      // property verdicts are pinned TRUE
      oracle = Some("""SELECT count(*) AS n_rows, TRUE AS size_ok, TRUE AS mean_ok
         FROM events""")),

    // not benched: ~85% of its time is the exact envelope, not the
    // operator; the operator is benched as q_hll_store
    Gate("q_hll_store_check", (s, d) => {
      // persisted mergeable HLL sketches (SketchStore): the store is
      // built as TWO independent deltas (orderkey parity — the
      // "yesterday's store + today's partition" shape) and merged
      // incrementally; per-year and rolled-up global estimates are
      // asserted within the sketch envelope against exact distincts.
      // The oracle pays the exact counts; the booleans pin that the
      // incremental union path estimates correctly. Bench note: the
      // Spark side pays the exact envelope (per-part + global) PLUS
      // two sketch builds, the merge, and the cache materialization —
      // >=2x the oracle SQL's work BY CONSTRUCTION (check-harness
      // shape); the operator itself is the one-exchange build/merge.
      // The 3-column projection is NOT cached: r10 cached it for the
      // harness's five probes and REGRESSED the gate 1.39x — r11
      // A/B at sf10 (min-of-3 steady state): full gate
      // 3.5-4.1 s uncached vs 3.8-4.0 s cached with an 11.6 s cold
      // first run, because building the columnar cache costs more
      // than the five pushed-down 3-column parquet rescans it saves,
      // and materialization serializes the probes behind a barrier.
      // The stage split (same session): exact per-part 2.1-2.4 s +
      // exact global 1.3-1.8 s = ~85% of the gate is the exact
      // ENVELOPE, not the operator (delta builds 2x0.4-0.6 s) — so
      // the bench headline is now q_hll_store (the operator alone,
      // extras) and this envelope harness is the CORRECTNESS gate
      // only (r10 verdict item 2).
      val o = Tables.orders(s, d)
        .select(year(col("o_orderdate")).cast("long").as("part"),
          col("o_orderkey"), col("o_custkey"))
      def delta(parity: Int) =
        SketchStore.build(o.filter(pmod(col("o_orderkey"), lit(2)) === parity),
          "part", col("o_custkey"))
      val store = SketchStore.mergeIncremental(delta(0), delta(1), "part")
      val bound = (est: Column, exact: Column) =>
        (abs(est - exact).cast("double") / exact <= 0.1).as("within_10pct")
      val perPart = SketchStore.estimates(store)
        .join(o.groupBy("part").agg(count_distinct(col("o_custkey")).as("exact_distinct")), "part")
        .select(col("part"), col("n_rows"), col("exact_distinct"),
          bound(col("distinct_est"), col("exact_distinct")))
      val global = SketchStore.estimates(SketchStore.rollup(store))
        .crossJoin(o.agg(count_distinct(col("o_custkey")).as("exact_distinct")))
        .select(lit(-1L).as("part"), col("n_rows"), col("exact_distinct"),
          bound(col("distinct_est"), col("exact_distinct")))
      perPart.unionByName(global)
    },
      oracle = Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS part,
           count(*) AS n_rows,
           count(DISTINCT o_custkey) AS exact_distinct,
           TRUE AS within_10pct
         FROM orders GROUP BY 1
         UNION ALL
         SELECT CAST(-1 AS BIGINT), count(*), count(DISTINCT o_custkey), TRUE
         FROM orders"""),
      // check harness over ONE cached 3-column orders projection:
      // two sketch-delta builds, the incremental merge, the two
      // exact envelope sides, and the single-row rollup cross
      // (BNLJ); the 6 leaves are cache probes, not parquet rescans
      ceiling = Some(Ceiling(9, 6, bnljOk = true))),

    Gate("q_hist_store_check", (s, d) => {
      // persisted mergeable HISTOGRAM store (r11) — the quantile
      // analog of the HLL store: two parity deltas fold o_totalprice
      // cents into width-1000 buckets, the merge is pure count
      // ADDITION (exact at any depth), and every percentile read is
      // within one bucket of exact by construction. The harness
      // asserts exactly that: per (part, p), |histogram estimate −
      // rank-exact percentile| <= width, booleans pinned TRUE in the
      // oracle beside the exact per-part row/bucket counts.
      import org.apache.spark.sql.expressions.Window
      val width = 1000L
      val o = Tables.orders(s, d).select(
        year(col("o_orderdate")).cast("long").as("part"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
        col("o_orderkey"))
      def delta(par: Int) = graft.operators.HistStore.build(
        o.filter(pmod(col("o_orderkey"), lit(2)) === par), "part",
        col("cents"), width)
      val store = graft.operators.HistStore
        .mergeIncremental(delta(0), delta(1), "part")
      val est = graft.operators.HistStore
        .percentileEstimates(store, "part", Seq(0.5, 0.95), width)
      val perPart = store.groupBy("part")
        .agg(sum(col("n")).as("n_rows"), count(lit(1)).as("n_buckets"))
      // rank-exact per-part percentile off the cent-level histogram
      // (bounded frame: distinct cents per part, never raw rows)
      val centHist = o.groupBy(col("part"), col("cents")).agg(count(lit(1)).as("cn"))
      val w = Window.partitionBy("part").orderBy("cents")
      val cum = centHist
        .withColumn("hi", sum(col("cn")).over(w))
        .withColumn("lo", col("hi") - col("cn"))
        .withColumn("total", sum(col("cn")).over(Window.partitionBy("part")))
      val exact = Seq(0.5, 0.95).map { p =>
        cum.filter(col("lo") <= floor(lit(p) * (col("total") - 1)) &&
            floor(lit(p) * (col("total") - 1)) < col("hi"))
          .select(col("part"), lit(p).as("p"), col("cents").as("exact_int"))
      }.reduce(_ unionAll _)
      est.join(exact, Seq("part", "p"))
        .join(perPart, Seq("part"))
        .select(col("part"), (col("p") * 100).cast("long").as("p_pct"),
          col("n_rows"), col("n_buckets"),
          (abs(col("est_int") - col("exact_int")) <= width).as("within_width"))
    },
      // exact per-part row/bucket counts compared; the within-one-
      // bucket percentile property pinned TRUE
      oracle = Some("""WITH c AS (
           SELECT CAST(year(o_orderdate) AS BIGINT) AS part,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders
         ), nb AS (
           SELECT part, count(*) AS n_rows,
                  count(DISTINCT floor(cents / 1000)) AS n_buckets
           FROM c GROUP BY 1
         )
         SELECT part, p_pct, n_rows, n_buckets, TRUE AS within_width
         FROM nb, unnest([CAST(50 AS BIGINT), CAST(95 AS BIGINT)]) AS t(p_pct)""")),

    Gate("q_hll_store", (s, d) => {
      // the persisted-sketch-store OPERATOR alone (r10 verdict item
      // 2): both parity deltas built in ONE partition-keyed exchange
      // (parity inside the group key — halves the build exchanges of
      // the two-filter form), incremental merge, per-part + rolled-up
      // estimates. This is what a 100 TB profile pipeline actually
      // pays per delta; the exact-envelope comparison lives in
      // q_hll_store_check (correctness gate only). rows-only by
      // nature (DataSketches HLL estimates aren't SQL); the
      // lossless-union property (merged estimate == from-scratch
      // estimate) is spec-pinned, and the comparable-WORK baseline
      // (DuckDB answering the same per-part + global distinct
      // question exactly) is EXTRAS_BASELINE_SQL in tools/baseline.py.
      val o = Tables.orders(s, d)
        .select(year(col("o_orderdate")).cast("long").as("part"),
          col("o_orderkey"), col("o_custkey"))
      val both = o.groupBy(col("part"), pmod(col("o_orderkey"), lit(2)).as("__p"))
        .agg(count(lit(1)).as("n_rows"),
          hll_sketch_agg(col("o_custkey"), lit(12)).as("sketch"))
        .cache()
      val store = SketchStore.mergeIncremental(
        both.filter(col("__p") === 0).drop("__p"),
        both.filter(col("__p") === 1).drop("__p"), "part")
      val out = SketchStore.estimates(store)
        .unionByName(SketchStore.estimates(SketchStore.rollup(store))
          .select(lit(-1L).as("part"), col("n_rows"), col("distinct_est")))
      // |parts|+1 rows: materialize eagerly, release the KB-sized
      // delta cache (the SourceOverlap.materialized contract)
      try graft.operators.SourceOverlap.materialized(out)
      finally both.unpersist(blocking = false)
    },
      // rows-only (HLL estimates are not SQL); the comparable-work
      // baseline (DuckDB answering the same question exactly) is
      // under the baseline's extras
      bench = Role.Extra),

    Gate("q_pmi_cooccur", (s, d) =>
      // word-association mining: doc-level PMI over distinct-token
      // co-occurrence, top-40 by lift with lexicographic tie-break
      // (operators.Cooccur — narrow per-doc pair grid, vocab-bounded
      // broadcast df table, two exchanges total)
      Cooccur.pmi(Tables.documents(s, d).select("doc_id", "text"),
        "doc_id", TF.tokens(col("text")),
        minDf = 5, minPairCount = 5, topK = 40),
      oracle = Some("""WITH tok0 AS (
           SELECT DISTINCT doc_id, t AS token FROM (
             SELECT doc_id, unnest(CASE WHEN length(trim(lower(text))) = 0
                      THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(lower(text)), '\s+') END) AS t
             FROM documents)
           WHERE length(t) > 0
         ), df AS (
           SELECT token, count(*) AS df FROM tok0 GROUP BY 1
           HAVING count(*) >= 5
         ), tok AS (
           SELECT tok0.doc_id, tok0.token FROM tok0 JOIN df USING (token)
         ), n AS (SELECT count(*) AS n_docs FROM documents),
         pairs AS (
           SELECT a.token AS tok_a, b.token AS tok_b, count(*) AS n_pair
           FROM tok a JOIN tok b
             ON a.doc_id = b.doc_id AND a.token < b.token
           GROUP BY 1, 2 HAVING count(*) >= 5
         ), scored AS (
           SELECT tok_a, tok_b, n_pair, da.df AS df_a, db.df AS df_b,
             CAST(n_pair AS DOUBLE) * n.n_docs
               / CAST(da.df * db.df AS DOUBLE) AS lift
           FROM pairs
           JOIN df da ON pairs.tok_a = da.token
           JOIN df db ON pairs.tok_b = db.token, n
         )
         SELECT tok_a, tok_b, n_pair, df_a, df_b,
           floor(ln(lift) * 10000 + 0.5) / 10000 AS pmi
         FROM scored ORDER BY lift DESC, tok_a, tok_b LIMIT 40"""),
      // benched: two corpus tokenize passes + a pair-keyed exchange
      bench = Role.Headline,
      // the BNLJ is the 1-row n_docs stat frame; the exchanges are
      // two corpus tokenize passes (df by hash, presence by doc),
      // the pair-keyed count, the vocab-bounded scoring joins'
      // duplicated df branches (pre-AQE; ReusedExchange collapses
      // them at runtime), and the small-regime respread of the
      // doc-token frame before the pair grid (Cooccur.pmi: it keeps
      // AQE's size-based coalesce from serializing the O(k²) grid
      // stage; absent at scale)
      ceiling = Some(Ceiling(7, 5, bnljOk = true))),

    Gate("q_source_overlap", (s, d) =>
      // cross-source contamination matrix: shared 3-shingles per
      // source pair + containment (shared / min side) — the
      // which-dumps-duplicate-each-other audit (operators.SourceOverlap:
      // one shingle-keyed exchange with set-valued partial agg, pair
      // grid as a |sources|²-bounded HOF, totals broadcast). The scan
      // fans out only when it is narrow (graft.Spread): the native
      // shingle pass is the dominant CPU and must not run as one task
      // on a tiny single-row-group file
      SourceOverlap.matrix(Spread.ifNarrow(
        Tables.documents(s, d)), "source", col("text"), k = 3),
      oracle = Some("""WITH toks AS (
           SELECT source,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS ts
           FROM documents
         ), pres AS (
           SELECT DISTINCT source, unnest(
             CASE WHEN len(ts) = 0 THEN CAST([] AS VARCHAR[])
                  WHEN len(ts) <= 3 THEN [array_to_string(ts, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ts) - 1),
                         i -> array_to_string(ts[i:i+2], ' ')))
             END) AS sh
           FROM toks
         ), totals AS (
           SELECT source, count(*) AS n FROM pres GROUP BY 1
         ), shared AS (
           SELECT a.source AS src_a, b.source AS src_b,
                  count(*) AS shared_shingles
           FROM pres a JOIN pres b
             ON a.sh = b.sh AND a.source < b.source
           GROUP BY 1, 2
         )
         SELECT src_a, src_b, shared_shingles, ta.n AS n_a, tb.n AS n_b,
           floor(CAST(shared_shingles AS DOUBLE) / least(ta.n, tb.n)
                 * 10000 + 0.5) / 10000 AS containment
         FROM shared
         JOIN totals ta ON shared.src_a = ta.source
         JOIN totals tb ON shared.src_b = tb.source
         ORDER BY src_a, src_b"""),
      // benched: one shingle-keyed exchange
      bench = Role.Headline,
      // the gate returns an eagerly-materialized |sources|²-row
      // local relation (the persisted shingleSets frame is released
      // deterministically); PlanSpec audits the lazy builders' real
      // plan shape separately
      ceiling = Some(Ceiling(0, 1, bnljOk = false))),

    // not benched: a check harness; the operator is benched as
    // q_overlap_sketch
    Gate("q_source_overlap_sketch", (s, d) => {
      // the sub-exchange 100 TB overlap form: per-source HLL sketches
      // (KB blobs on the wire, never a shingle exchange) + pairwise
      // inclusion-exclusion. Check-harness gate (the hll_store_check
      // precedent): exact shared counts alongside, envelope boolean
      // pinned TRUE in the oracle — tol 5% of (n_a+n_b) + 50 floor,
      // ~7x the compounded HLL rse at lgK=14.
      // r10 (verdict item 3): the harness runs ONE corpus shingle
      // pass — the exact side needs the shingle aggregate anyway, so
      // the sketch folds off the same persisted (sh, srcs) frame
      // instead of re-tokenizing the corpus (r9's standalone-sketch
      // harness paid the shingling CPU twice and lost to the exact
      // matrix it claims to replace, 11.3 vs 10.9 s at sf10). The
      // standalone sub-exchange form lives on as
      // SourceOverlap.sketchMatrix for pipelines that DON'T carry the
      // exact side. Report is |sources|²-bounded → materialized
      // eagerly, cache released (the SourceOverlap.matrix contract).
      val docs = Spread.ifNarrow(Tables.documents(s, d))
      val bySh = SourceOverlap.shingleSets(docs, "source", col("text"), k = 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exact = SourceOverlap.matrixFromSets(bySh)
      val est = SourceOverlap.sketchFromSets(bySh)
      val report = exact.join(est, Seq("src_a", "src_b"))
        .select(col("src_a"), col("src_b"), col("shared_shingles"),
          (abs(col("est_shared") - col("shared_shingles")) <=
            lit(0.05) * (col("n_a") + col("n_b")) + lit(50)).as("est_ok"))
      try graft.operators.SourceOverlap.materialized(report)
      finally bySh.unpersist(blocking = false)
    },
      oracle = Some("""WITH toks AS (
           SELECT source,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS ts
           FROM documents
         ), pres AS (
           SELECT DISTINCT source, unnest(
             CASE WHEN len(ts) = 0 THEN CAST([] AS VARCHAR[])
                  WHEN len(ts) <= 3 THEN [array_to_string(ts, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ts) - 1),
                         i -> array_to_string(ts[i:i+2], ' ')))
             END) AS sh
           FROM toks
         )
         SELECT a.source AS src_a, b.source AS src_b,
           count(*) AS shared_shingles, TRUE AS est_ok
         FROM pres a JOIN pres b
           ON a.sh = b.sh AND a.source < b.source
         GROUP BY 1, 2"""),
      // eager local relation, as q_source_overlap; PlanSpec audits
      // the lazy builders separately
      ceiling = Some(Ceiling(0, 1, bnljOk = false))),

    Gate("q_overlap_sketch", (s, d) =>
      // the standalone sub-exchange overlap OPERATOR (r10 verdict:
      // "the bench should carry the standalone operator and let the
      // gate keep the check"): per-source HLL sketches built from one
      // narrow corpus shingle pass — KB blobs to the driver, never a
      // shingle exchange — then pairwise inclusion-exclusion. This is
      // the form a 100 TB pipeline runs when it does NOT need the
      // exact matrix; r10 measured it 0.78-0.81 s vs the exact
      // matrix's 7.0-7.2 s at sf10. rows-only by nature (HLL); the
      // envelope-vs-exact harness stays in q_source_overlap_sketch
      // (correctness gate); comparable-WORK baseline = the exact
      // matrix SQL (EXTRAS_BASELINE_FROM_ORACLE in tools/baseline.py).
      graft.operators.SourceOverlap.materialized(
        SourceOverlap.sketchMatrix(
          Spread.ifNarrow(Tables.documents(s, d)), "source",
          col("text"), k = 3)),
      // rows-only (sketch estimates are not SQL); the
      // comparable-work baseline (DuckDB answering the same
      // question exactly) is under the baseline's extras
      bench = Role.Extra),

    Gate("q_drift_psi", (s, d) => {
      // ingest-drift monitoring: per-bucket PSI table between the
      // even-doc reference snapshot and an odd-doc current snapshot
      // with a planted 1.25x length shift (mirrored in the oracle) —
      // bucket edges anchored to the REFERENCE min/max, out-of-range
      // current values clamp to the edge buckets
      val docs = Tables.documents(s, d)
      Drift.psiTable(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0L).select(col("n_chars")),
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1L)
          .select((col("n_chars") * lit(1.25)).as("n_chars")),
        "n_chars", buckets = 10)
    },
      oracle = Some(s"""WITH $driftBucketsSql
         SELECT bucket, ref_count, cur_count,
           floor(p * 10000 + 0.5) / 10000 AS ref_frac,
           floor(q * 10000 + 0.5) / 10000 AS cur_frac,
           floor((p - q) * ln(p / q) * 10000 + 0.5) / 10000 AS psi_term
         FROM terms"""),
      // 2-value range agg (the 1-row BNLJ broadcast) + one B-row
      // count exchange per snapshot + spine joins/windows; 5 leaves
      // = range scan, two snapshot scans, spine, and the pre-AQE
      // clone the runtime reuses
      ceiling = Some(Ceiling(5, 5, bnljOk = true))),

    Gate("q_drift_summary", (s, d) => {
      // one-row drift verdict over the same planted pair: PSI sum,
      // bucketed-KS sup, and the 0.25 "shifted" threshold applied
      val docs = Tables.documents(s, d)
      Drift.summary(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0L).select(col("n_chars")),
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1L)
          .select((col("n_chars") * lit(1.25)).as("n_chars")),
        "n_chars", buckets = 10, threshold = 0.25)
    },
      oracle = Some(s"""WITH $driftBucketsSql, cum AS (
           SELECT *,
             sum(ref_count) OVER (ORDER BY bucket) AS ref_cum,
             sum(cur_count) OVER (ORDER BY bucket) AS cur_cum
           FROM terms
         )
         SELECT max(ref_n) AS ref_n, max(cur_n) AS cur_n,
           floor(sum((p - q) * ln(p / q)) * 10000 + 0.5) / 10000 AS psi,
           floor(max(abs(CAST(ref_cum AS DOUBLE) / ref_n
                         - CAST(cur_cum AS DOUBLE) / cur_n))
                 * 10000 + 0.5) / 10000 AS ks,
           sum((p - q) * ln(p / q)) > 0.25 AS drifted
         FROM cum"""),
      // benched: two corpus scans + B-row exchanges
      bench = Role.Headline,
      // as q_drift_psi
      ceiling = Some(Ceiling(5, 5, bnljOk = true))),

    Gate("q_expectations", (s, d) => {
      // declarative data-quality expectations: every row rule + the
      // uniqueness rule in ONE aggregation pass, long-format verdicts
      import graft.operators.Expectations._
      check(Tables.events(s, d),
        rules = Seq(
          NotNull("user_id"),
          InRange("value", 0.0, 500.0),
          OneOf("event_type", Seq("click", "view", "purchase", "signup")),
          MatchesRegex("props", "^\\{.*\\}$"),
          Satisfies("value_set_when_purchase",
            "event_type <> 'purchase' OR value IS NOT NULL")),
        unique = Seq(Unique(Seq("event_id"))))
    },
      oracle = Some("""WITH s AS (
           SELECT count(*) AS n_rows,
             sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS v1,
             sum(CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 500.0)
                      THEN 1 ELSE 0 END) AS v2,
             sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
                        ('click', 'view', 'purchase', 'signup')
                      THEN 1 ELSE 0 END) AS v3,
             sum(CASE WHEN props IS NOT NULL AND NOT regexp_matches(props, '^\{.*\}$')
                      THEN 1 ELSE 0 END) AS v4,
             sum(CASE WHEN NOT coalesce(event_type <> 'purchase' OR value IS NOT NULL,
                        FALSE) THEN 1 ELSE 0 END) AS v5,
             count(*) - count(DISTINCT event_id) AS v6
           FROM events
         ), t AS (
           SELECT 'not_null(user_id)' AS rule, v1 AS v FROM s
           UNION ALL SELECT 'in_range(value,0.0,500.0)', v2 FROM s
           UNION ALL SELECT 'one_of(event_type)', v3 FROM s
           UNION ALL SELECT 'matches_regex(props)', v4 FROM s
           UNION ALL SELECT 'value_set_when_purchase', v5 FROM s
           UNION ALL SELECT 'unique(event_id)', v6 FROM s
         )
         SELECT t.rule, s.n_rows, CAST(t.v AS BIGINT) AS n_violations,
           CASE WHEN s.n_rows = 0 THEN 0.0
                ELSE floor(CAST(t.v AS DOUBLE) / s.n_rows * 1000000.0 + 0.5)
                     / 1000000.0 END AS violation_rate
         FROM t, s""")),

    Gate("q_catalog_enrich", (s, d) => {
      val natPlus = CatalogEnricher.enrich(Tables.nation(s, d), Tables.region(s, d),
        "n_regionkey", "r_regionkey", "r_name", "region_name", normalizeKeys = false)
      val withNation = CatalogEnricher.enrich(Tables.customer(s, d), natPlus,
        "c_nationkey", "n_nationkey", "n_name", "nation_name", normalizeKeys = false)
      CatalogEnricher.enrich(withNation, natPlus,
        "c_nationkey", "n_nationkey", "region_name", "region_name", normalizeKeys = false)
        .select("c_custkey", "c_name", "nation_name", "region_name")
    },
      oracle = Some("""SELECT c_custkey, c_name, n_name AS nation_name, r_name AS region_name
         FROM customer
           LEFT JOIN nation ON c_nationkey = n_nationkey
           LEFT JOIN region ON n_regionkey = r_regionkey""")),

    Gate("q_tipo_flag", (s, d) =>
      Tables.customer(s, d).select(col("c_custkey"),
        DerivedColumns.conditionalCode(col("c_mktsegment"), "BUILDING").as("segment_flag")),
      oracle = Some("""SELECT c_custkey,
           CAST(CASE WHEN upper(trim(c_mktsegment)) = 'BUILDING' THEN 2 ELSE 1 END AS BIGINT)
             AS segment_flag
         FROM customer""")),

    Gate("q_age_years", (s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"),
        DerivedColumns.ageYears(col("o_orderdate"), 2026).as("age_years")),
      oracle = Some("""SELECT o_orderkey, CAST(2026 - year(o_orderdate) AS BIGINT) AS age_years
         FROM orders""")),

    Gate("q_unique_key", (s, d) =>
      Tables.customer(s, d).select(col("c_custkey"),
        DerivedColumns.uniqueKey(Seq(col("c_nationkey"), col("c_custkey"), col("c_name")))
          .as("id_unico")),
      oracle = Some("""SELECT c_custkey,
           concat_ws('_', c_nationkey, c_custkey, c_name) AS id_unico
         FROM customer""")),

    Gate("q_validations", (s, d) =>
      Profiler.validate(Tables.orders(s, d), Seq(
        "null_orderdate" -> col("o_orderdate").isNull,
        "negative_total" -> (col("o_totalprice") < 0),
        "status_open" -> (upper(trim(col("o_orderstatus"))) === "O"),
        "status_filled" -> (upper(trim(col("o_orderstatus"))) === "F"),
        "high_value" -> (col("o_totalprice") > 200000))),
      oracle = Some("""SELECT
           count(CASE WHEN o_orderdate IS NULL THEN 1 END) AS null_orderdate,
           count(CASE WHEN o_totalprice < 0 THEN 1 END) AS negative_total,
           count(CASE WHEN upper(trim(o_orderstatus)) = 'O' THEN 1 END) AS status_open,
           count(CASE WHEN upper(trim(o_orderstatus)) = 'F' THEN 1 END) AS status_filled,
           count(CASE WHEN o_totalprice > 200000 THEN 1 END) AS high_value
         FROM orders""")),

    Gate("q_error_log", (s, d) => {
      // RN-007 end-to-end: consolidated validations → long-format
      // error log → CSV export → read-back (the gate checks the
      // whole export path, not just the in-memory frame)
      val v = Profiler.validate(Tables.orders(s, d), Seq(
        "null_orderdate" -> col("o_orderdate").isNull,
        "negative_total" -> (col("o_totalprice") < 0),
        "status_open" -> (upper(trim(col("o_orderstatus"))) === "O"),
        "high_value" -> (col("o_totalprice") > 200000)))
      val log = Profiler.errorLog(v, Map(
        "null_orderdate" -> "fecha de matricula nula",
        "negative_total" -> "monto negativo",
        "status_open" -> "registro abierto",
        "high_value" -> "monto inusualmente alto"))
      val tmp = s"/tmp/graft_errlog_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.Writers.errorLogCsv(log, tmp)
      s.read.option("header", "true")
        .schema("columna STRING, mensaje_error STRING, valor STRING")
        .csv(tmp)
        .select(col("columna"), col("mensaje_error"),
          col("valor").cast("long").as("n_rows"))
    },
      oracle = Some("""WITH v AS (
           SELECT
             count(CASE WHEN o_orderdate IS NULL THEN 1 END) AS null_orderdate,
             count(CASE WHEN o_totalprice < 0 THEN 1 END) AS negative_total,
             count(CASE WHEN upper(trim(o_orderstatus)) = 'O' THEN 1 END) AS status_open,
             count(CASE WHEN o_totalprice > 200000 THEN 1 END) AS high_value
           FROM orders
         ), log AS (
           SELECT 'null_orderdate' AS columna,
                  'fecha de matricula nula' AS mensaje_error,
                  null_orderdate AS n_rows FROM v
           UNION ALL
           SELECT 'negative_total', 'monto negativo', negative_total FROM v
           UNION ALL
           SELECT 'status_open', 'registro abierto', status_open FROM v
           UNION ALL
           SELECT 'high_value', 'monto inusualmente alto', high_value FROM v
         )
         SELECT columna, mensaje_error, CAST(n_rows AS BIGINT) AS n_rows
         FROM log WHERE n_rows > 0""")),

    Gate("q_medallion_silver", (s, d) => {
      // the full reference silver job as one operator chain:
      // RN-010 rename → RN-001 dates → RN-003 normalize → RN-002 dedup
      // → RN-008 enrich → RN-009/004/006 derivations
      val raw = graft.pipeline.Medallion.rawFromOrders(s, d)
      val catalog = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      graft.pipeline.Medallion.silver(raw, catalog, "c_custkey", "c_name", 2026)
        .select(col("matricula"), col("estado"),
          date_format(col("fecha_matricula"), "yyyy-MM-dd").as("fecha_matricula"),
          col("clase_identificacion"), col("id_titular"), col("titular_name"),
          col("tipo_persona"), col("antiguedad"), col("id_unico"))
    },
      oracle = Some("""SELECT o_orderkey AS matricula,
           upper(trim(o_orderstatus)) AS estado,
           strftime(o_orderdate, '%Y-%m-%d') AS fecha_matricula,
           ['CC','NIT','CE'][CAST(o_orderkey % 3 AS INT) + 1] AS clase_identificacion,
           o_custkey AS id_titular,
           c_name AS titular_name,
           CAST(CASE WHEN ['CC','NIT','CE'][CAST(o_orderkey % 3 AS INT) + 1] = 'NIT'
                     THEN 2 ELSE 1 END AS BIGINT) AS tipo_persona,
           CAST(2026 - year(o_orderdate) AS BIGINT) AS antiguedad,
           concat_ws('_', ['CC','NIT','CE'][CAST(o_orderkey % 3 AS INT) + 1],
                     o_orderkey, o_custkey) AS id_unico
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey"""),
      bench = Role.Headline,
      ceiling = Some(Ceiling(1, 2, bnljOk = false)))
  )
}
