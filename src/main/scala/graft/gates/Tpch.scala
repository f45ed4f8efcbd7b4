package graft
package gates

import org.apache.spark.sql.functions._

import Fixtures.{broadcastIfUnder, stagePath}

/** Family F: the TPC-H-style headliners (pricing summary, shipping
  * priority, local supplier, and local supplier over the staged
  * order→nation map).
  */
object Tpch {

  private val Gi = 1L << 30

  val gates: Seq[Gate] = Seq(

    Gate("q1_pricing_summary", (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 2).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
      oracle = Some("""SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 2) AS avg_qty,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus"""),
      bench = Role.Headline,
      ceiling = Some(Ceiling(1, 1, bnljOk = false))),

    Gate("q3_shipping_priority", (s, d) => {
      val c = Tables.customer(s, d).filter(upper(trim(col("c_mktsegment"))) === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp_ntz"))
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp_ntz"))
      // BUILDING customers broadcast into the date-filtered orders
      // (the only broadcast left in this query — ~20% of customer,
      // one join key + date column built; size-gated below so a 100×
      // customer falls back to AQE's key-shuffled join). Group on
      // the RAW 8-byte timestamp, not a formatted string (the r7
      // plan's per-row date_format string grouping key was an sf10
      // cost); o_orderdate is functionally dependent on l_orderkey
      // so the groups are identical, and the string render runs on
      // 10 rows after the TakeOrdered.
      //
      // History: r8 broadcast the c⨝o side into lineitem too and
      // attributed the residual vs DuckDB to "fixed broadcast driver
      // round-trips that amortize at cluster scale". The r9 sf30
      // tier DISPROVED the amortization half: co grows linearly with
      // SF (~10% of orders), so its single-threaded broadcast build
      // grows too — the measured fit was time ≈ 1.4 s + 2.5×DuckDB's
      // per-byte cost, a ratio that never falls below ~2.5. The
      // shuffled form (below) removed the linear broadcast term.
      val co = broadcastIfUnder(s, d, "customer", 2 * Gi)(c)
        .join(o, col("c_custkey") === col("o_custkey"))
        .select("o_orderkey", "o_orderdate")
      // The c⨝o side probes lineitem via SHUFFLED hash join, not a
      // broadcast (r9 A/B with per-run GC'd measurements): the co
      // build grows LINEARLY with SF (~10% of orders), so its
      // single-threaded broadcast construction never amortizes —
      // broadcast 3.26 s vs shuffle-hash 1.54 s at sf10, 1.15 vs
      // 0.65 at sf1, ≈even at sf30 — while the shuffled probe side
      // is the date-FILTERED fact (~46% of lineitem, 3 narrow cols).
      // This is also the only 100×-safe shape: co outgrows any
      // broadcast ceiling long before lineitem stops fitting a
      // shuffle. (q5 keeps its broadcast chain: its probe is the
      // UNFILTERED fact, and shuffling 100% of lineitem measured 2×
      // worse than building its smaller asian-orders broadcast.)
      // revenue is computed BEFORE the fact exchange: the shuffle
      // then moves (l_orderkey, rev) = 16 B/row instead of
      // (l_orderkey, l_extendedprice, l_discount) = 24 B/row — same
      // arithmetic, a third less fact-shuffle traffic (r9 A/B at
      // sf30: 4.28 → 3.90 s min under like-for-like load). Also
      // A/B'd and REJECTED at sf10: Spark's runtime bloom filter on
      // the fact side (thresholds raised so InjectRuntimeFilter
      // fires — verified in-plan). It cuts the fact shuffle 10× but
      // pays 95M might_contain probes plus a second co evaluation
      // for the bloom build; against local tmpfs shuffle that
      // measured a net loss at sf10 (min 4.8 vs 3.9 s). r11
      // re-measured at sf30 (verdict item 8): the trade REVERSES
      // exactly as the shuffle-payload term grows — bloom 6.42 s vs
      // 7.37 s min under like-for-like load, a 13% win. The gate
      // keeps the conf-neutral plan (one binary serves sf0.1–sf30,
      // and the sf10 loss outweighs the sf30 win locally); at
      // cluster scale with network shuffle the knob belongs ON —
      // runtime.bloomFilter.creationSideThreshold raised so the co
      // side qualifies. Measured both ways; closed as a
      // scale-dependent conf, not plan waste.
      val lrev = l.select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      lrev.join(co.hint("shuffle_hash"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("rev")), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("revenue"))
    },
      oracle = Some("""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON o_orderkey = l_orderkey
         WHERE upper(trim(c_mktsegment)) = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
         GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
         ORDER BY revenue DESC, l_orderkey ASC
         LIMIT 10"""),
      bench = Role.Headline,
      // the filtered fact and the c⨝o side shuffle into the hash
      // join; the post-join agg reuses the l_orderkey partitioning
      // (subset cluster-key satisfaction), so exactly 2 exchanges
      ceiling = Some(Ceiling(2, 3, bnljOk = false))),

    Gate("q5_local_supplier", (s, d) => {
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
                col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
      val l = Tables.lineitem(s, d)
      // r8 rework: the old shape shuffled the fact twice (o⨝l on
      // orderkey, then the joined fact on custkey against the
      // non-broadcast customer) — 5.9 s at sf10. Instead reduce the
      // dimension side FIRST: region⨝nation (5 rows) semi-reduces
      // customer to the ASIA ~20%, that broadcast reduces the
      // date-filtered orders to asian orders (orderkey, nationkey —
      // 16 bytes/row), and THAT broadcast probes lineitem inline, so
      // the 100× table never shuffles at all. The group key is the
      // 25-value nationkey (map-side partial agg collapses each task
      // to ≤25 rows; the exchange moves a few hundred bytes), and
      // n_name joins after the agg on ≤25 rows. The sized hints are
      // GATED on source-table on-disk bytes (r9, same form as q3):
      // asianCust builds ~20% of customer at 12 B/row (2 GiB cap ≈
      // 100M customers ≈ 240 MB built); asianOrders builds ~6% of
      // orders at 16 B/row (3 GiB cap ≈ 160M orders ≈ 150 MB
      // built); the full projected supplier is 16 B/row with no
      // filter, so it gates tightest (512 MiB cap ≈ 24M suppliers ≈
      // 390 MB built). Past any cap that hint drops and AQE keeps
      // the key-shuffled hash join — the correct cluster plan.
      // region⨝nation is ≤25 rows at every scale: hinted always.
      // Late-r9 re-A/B at sf30 under like-for-like load: broadcast
      // chain 5.2 s min vs shuffled-fact 6.4 s min — the chain holds.
      // Decomposition: materializing asianOrders ALONE is ~1.9 s
      // (asianCust broadcast build + the orders scan it probes), so
      // roughly half the query is the order→nation map build that
      // every correct plan must pay in some form; the remaining gap
      // vs the oracle engine sits in the 180M-row unfiltered fact
      // probe, which is the scan+probe floor, not a shuffle to
      // remove. r11 measured the persisted-map lever (verdict item
      // 8): writing the (o_orderkey, c_nationkey) map once costs
      // 1.32 s, and the query reading it back runs 3.73 s vs 5.19 s
      // from-raw at sf30 — a 28% cut for pipelines that re-ask the
      // same window (the CatalogStar persisted-table pattern). The
      // gate stays from-raw for oracle parity: the DuckDB baseline
      // pays the same map build inside its query, so staging it
      // would compare different work. Closed: fact-probe floor,
      // with the amortization lever measured on file.
      val asianNations = broadcast(n.join(broadcast(r),
        col("n_regionkey") === col("r_regionkey")))
      val asianCust = c.join(asianNations, col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_nationkey")
      val asianOrders = broadcastIfUnder(s, d, "customer", 2 * Gi)(asianCust)
        .join(o, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
      l.join(broadcastIfUnder(s, d, "orders", 3 * Gi)(asianOrders),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcastIfUnder(s, d, "supplier", Gi / 2)(
            sup.select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy("c_nationkey")
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), round(col("rev"), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    },
      oracle = Some("""SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM orders
           JOIN lineitem ON o_orderkey = l_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name ASC"""),
      bench = Role.Headline,
      // 7 leaves: nation is scanned twice (once in the region
      // semi-reduction, once as the 25-row post-agg name join);
      // lineitem never shuffles
      ceiling = Some(Ceiling(2, 7, bnljOk = false))),

    Gate("q5_local_supplier_staged", (s, d) => {
      // q5 through the PERSISTED order→nation map (r11 verdict item 3,
      // adopting the LshIngest staging precedent): the r11 measurement
      // showed ~half of every from-raw q5 run is the customer⨝orders
      // dimension-reduction build (asianOrders materializes alone in
      // ~1.9 s at sf30), and persisting that map once cut the repeat
      // query 28% (3.73 vs 5.19 s). StagedMaps.ensureOrderNationMap
      // stages it per tier (fingerprint-stamped; Bench pre-stages via
      // stageTier), so the timed unit is what a pipeline re-asking the
      // same window pays: map read → fact probe → supplier join → agg.
      // Result is IDENTICAL to q5 by construction, so the gate keeps
      // q5's FULL oracle; the bench row lives in extras with a
      // same-work DuckDB baseline (the baseline builds the map in an
      // untimed setup statement — EXTRAS_BASELINE_SQL).
      val path = stagePath("q5map", d)
      graft.sources.StagedMaps.ensureOrderNationMap(s, d, path)
      val asianOrders = graft.sources.StagedMaps.orderNationMap(s, path)
      val l = Tables.lineitem(s, d)
      val sup = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      // same size-gated broadcast chain as q5's probe side: the map is
      // ~6% of orders at 16 B/row (3 GiB source cap ≈ 150 MB built);
      // past the cap AQE keeps the key-shuffled join — the cluster plan
      l.join(broadcastIfUnder(s, d, "orders", 3 * Gi)(asianOrders),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcastIfUnder(s, d, "supplier", Gi / 2)(
            sup.select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy("c_nationkey")
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), round(col("rev"), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    },
      // the staged-map form computes the identical result (the map is a
      // pure materialization of the customer⨝orders reduction), so its
      // oracle is q5's from-raw SQL verbatim — the staging advantage is
      // benched (extras, same-work baseline), not oracled
      oracle = Some("""SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM orders
           JOIN lineitem ON o_orderkey = l_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name ASC"""),
      // reads the persisted order→nation map; the same-work
      // baseline probes the same pre-built map
      bench = Role.Extra,
      // fact scan + 3 broadcast joins with the agg exchange and the
      // top-k sort; 4 leaves = map, lineitem, supplier, nation (the
      // from-raw 7-leaf dimension reduction is the staged-away
      // part)
      ceiling = Some(Ceiling(2, 4, bnljOk = false)))
  )
}
