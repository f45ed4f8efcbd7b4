package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._
import Fixtures.{idOffset, pround, upsertMergeSql, pagerankOracleSql}

/** Family G, `graft.operators` table and event analytics: cubes
  * and windows, incremental aggregates, snapshots and SCD2,
  * histograms and robust statistics, rolling frames, change
  * points, funnels and PageRank.
  */
object TableOps {

  val gates: Seq[Gate] = Seq(

    Gate("q_pivot", (s, d) =>
      // wide-format contingency matrix: explicit pivot values keep the
      // schema static (no driver-side distinct scan at 100 TB)
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("c_mktsegment"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p")),
      oracle = Some("""SELECT c_mktsegment,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""")),

    Gate("q_rollup", (s, d) => {
      // hierarchical totals in one pass (segment, segment×status, grand).
      // SQL ROLLUP: the DataFrame .rollup() lineage duplicates grouping
      // attribute names, which trips the ambiguous-self-join check when
      // the null markers are re-projected — the SQL form resolves clean
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderstatus").as("st"),
          col("o_totalprice"))
        .createOrReplaceTempView("rollup_in")
      try s.sql("""SELECT coalesce(seg, 'ALL') AS segment,
                      coalesce(st, 'ALL') AS status,
                      count(*) AS n, round(sum(o_totalprice), 2) AS total
               FROM rollup_in GROUP BY ROLLUP(seg, st)""")
      finally s.catalog.dropTempView("rollup_in")
    },
      oracle = Some("""SELECT coalesce(c_mktsegment, 'ALL') AS segment,
           coalesce(o_orderstatus, 'ALL') AS status,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY ROLLUP(c_mktsegment, o_orderstatus)""")),

    Gate("q_gap_fill", (s, d) =>
      // time-series regularization: dense per-user hourly series with
      // explicit zero rows for missing hours; grid generated in-place
      // by sequence+explode, never shuffled or driver-side
      graft.operators.Resample.gapFill(
          Tables.events(s, d), Seq("user_id"), "ts", "value", "hour")
        .select(col("user_id"), col("bucket"), col("n"),
          round(col("sum_value"), 2).as("sum_value")),
      oracle = Some("""WITH c AS (
           SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                  count(*) AS n, sum(value) AS sv
           FROM events GROUP BY 1, 2
         ), span AS (
           SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM c GROUP BY 1
         ), grid AS (
           SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
           FROM span
         )
         SELECT g.user_id, g.bucket, coalesce(c.n, 0) AS n,
                round(coalesce(c.sv, 0), 2) AS sum_value
         FROM grid g LEFT JOIN c ON g.user_id = c.user_id AND g.bucket = c.bucket""")),

    Gate("q_grouping_sets", (s, d) => {
      // arbitrary grouping sets (not a rollup/cube prefix) with the
      // standard GROUPING() provenance markers
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderstatus").as("st"))
        .createOrReplaceTempView("gs_in")
      try s.sql("""SELECT coalesce(seg, 'ALL') AS segment,
                      coalesce(st, 'ALL') AS status,
                      CAST(grouping(seg) AS BIGINT) AS g_seg,
                      CAST(grouping(st) AS BIGINT) AS g_st,
                      count(*) AS n
               FROM gs_in GROUP BY GROUPING SETS ((seg), (st), ())""")
      finally s.catalog.dropTempView("gs_in")
    },
      oracle = Some("""SELECT coalesce(c_mktsegment, 'ALL') AS segment,
           coalesce(o_orderstatus, 'ALL') AS status,
           CAST(grouping(c_mktsegment) AS BIGINT) AS g_seg,
           CAST(grouping(o_orderstatus) AS BIGINT) AS g_st,
           count(*) AS n
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())""")),

    Gate("q_cube", (s, d) => {
      // all 2^k grouping-set subtotals in one pass — the OLAP cube
      // materialization; same single-shuffle Expand plan as ROLLUP
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderstatus").as("st"),
          col("o_totalprice"))
        .createOrReplaceTempView("cube_in")
      try s.sql("""SELECT coalesce(seg, 'ALL') AS segment,
                      coalesce(st, 'ALL') AS status,
                      count(*) AS n, round(sum(o_totalprice), 2) AS total
               FROM cube_in GROUP BY CUBE(seg, st)""")
      finally s.catalog.dropTempView("cube_in")
    },
      oracle = Some("""SELECT coalesce(c_mktsegment, 'ALL') AS segment,
           coalesce(o_orderstatus, 'ALL') AS status,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY CUBE(c_mktsegment, o_orderstatus)""")),

    Gate("q_window_analytics", (s, d) => {
      // the standard analytic-function battery over a per-key ordered
      // stream: lag/lead, running position, quartile, relative rank.
      // One window partitioning (custkey) reused across functions =
      // one shuffle + one sort; ntile/percent_rank get a total
      // ordering (price, key) so ranks are engine-deterministic
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_custkey") % 10 === 0)
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).cast("long").as("order_seq"),
          coalesce(round(col("o_totalprice") - lag("o_totalprice", 1).over(w), 2),
            lit(0.0)).as("price_delta"),
          coalesce(datediff(lead("o_orderdate", 1).over(w), col("o_orderdate"))
            .cast("long"), lit(-1L)).as("days_to_next"),
          ntile(4).over(wp).cast("long").as("price_quartile"),
          pround(percent_rank().over(wp), 4).as("price_pct_rank"))
    },
      oracle = Some("""SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w AS BIGINT) AS order_seq,
           coalesce(round(o_totalprice - lag(o_totalprice, 1) OVER w, 2),
                    0.0) AS price_delta,
           coalesce(CAST(date_diff('day', CAST(o_orderdate AS DATE),
                      CAST(lead(o_orderdate, 1) OVER w AS DATE)) AS BIGINT),
                    CAST(-1 AS BIGINT)) AS days_to_next,
           CAST(ntile(4) OVER wp AS BIGINT) AS price_quartile,
           floor(percent_rank() OVER wp * 10000 + 0.5) / 10000 AS price_pct_rank
         FROM orders WHERE o_custkey % 10 = 0
         WINDOW w  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                wp AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)"""),
      bench = Role.Headline,
      ceiling = Some(Ceiling(1, 1, bnljOk = false))),

    Gate("q_set_ops", (s, d) => {
      // INTERSECT / EXCEPT / UNION-distinct over customer key sets
      // (customers with open vs finished orders). Each set op hashes
      // on the full row — dedup + membership in one shuffle each
      val o = Tables.orders(s, d)
      val open = o.filter(col("o_orderstatus") === "O").select("o_custkey")
      val done = o.filter(col("o_orderstatus") === "F").select("o_custkey")
      val both = open.intersect(done).agg(count(lit(1)).as("n"))
        .select(lit("both").as("op"), col("n"))
      val openOnly = open.except(done).agg(count(lit(1)).as("n"))
        .select(lit("open_only").as("op"), col("n"))
      val either = open.union(done).distinct.agg(count(lit(1)).as("n"))
        .select(lit("either").as("op"), col("n"))
      both.unionByName(openOnly).unionByName(either)
    },
      oracle = Some("""WITH open_k AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
              done_k AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
         SELECT 'both' AS op, count(*) AS n
           FROM (SELECT * FROM open_k INTERSECT SELECT * FROM done_k)
         UNION ALL
         SELECT 'open_only', count(*)
           FROM (SELECT * FROM open_k EXCEPT SELECT * FROM done_k)
         UNION ALL
         SELECT 'either', count(*)
           FROM (SELECT * FROM open_k UNION SELECT * FROM done_k)""")),

    Gate("q_date_dim", (s, d) =>
      // generated calendar dimension (no source table): sequence +
      // explode materializes the grid in-executor, never on the driver
      s.range(1).select(explode(sequence(
          lit("1995-01-01").cast("date"), lit("1997-12-31").cast("date"),
          expr("INTERVAL 1 DAY"))).as("d"))
        .select(
          date_format(col("d"), "yyyy-MM-dd").as("day"),
          year(col("d")).cast("long").as("year"),
          quarter(col("d")).cast("long").as("quarter"),
          month(col("d")).cast("long").as("month"),
          dayofweek(col("d")).cast("long").as("dow"),
          (dayofweek(col("d")).isin(1, 7)).as("is_weekend")),
      oracle = Some("""WITH g AS (
           SELECT CAST(unnest(generate_series(DATE '1995-01-01',
                    DATE '1997-12-31', INTERVAL 1 DAY)) AS DATE) AS d
         )
         SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(year(d) AS BIGINT) AS year,
           CAST(quarter(d) AS BIGINT) AS quarter,
           CAST(month(d) AS BIGINT) AS month,
           CAST(dayofweek(d) + 1 AS BIGINT) AS dow,
           dayofweek(d) IN (0, 6) AS is_weekend
         FROM g""")),

    Gate("q_incremental_agg", (s, d) => {
      // materialized-view maintenance: state built from pre-1997
      // history, then two append deltas merged in — result must equal
      // the from-scratch aggregate (the oracle) without ever
      // re-reading history
      val orders = Tables.orders(s, d)
      val cut = (y: Int) => year(col("o_orderdate")) < y
      val state0 = graft.operators.IncrementalAgg.toState(
        orders.filter(cut(1997)), Seq("o_orderstatus"), "o_totalprice")
      val state1 = graft.operators.IncrementalAgg.merge(state0,
        orders.filter(!cut(1997) && cut(1998)), Seq("o_orderstatus"), "o_totalprice")
      val state2 = graft.operators.IncrementalAgg.merge(state1,
        orders.filter(!cut(1998)), Seq("o_orderstatus"), "o_totalprice")
      graft.operators.IncrementalAgg.withDerived(state2)
        .select(col("o_orderstatus"), col("n"),
          round(col("sum"), 2).as("sum"), col("min"), col("max"),
          pround(col("mean"), 4).as("mean"))
    },
      oracle = Some("""SELECT o_orderstatus, count(o_totalprice) AS n,
           round(sum(o_totalprice), 2) AS sum,
           min(o_totalprice) AS min, max(o_totalprice) AS max,
           floor(sum(o_totalprice) / count(o_totalprice) * 10000 + 0.5)
             / 10000 AS mean
         FROM orders GROUP BY o_orderstatus""")),

    Gate("q_snapshot_diff", (s, d) => {
      // CDC bootstrap: recover the insert/update/delete changelog two
      // snapshots imply (deterministic v2: delete %101, double-price
      // %97, re-keyed inserts from %89). Insert keys shift by the
      // smallest power of 10 above max(o_orderkey) — corpus-derived,
      // so the synthetic namespace stays disjoint at any SF (see
      // Fixtures.idOffset).
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .localCheckpoint(eager = false) // one scan for offset + base + both v2 branches
      val off = idOffset(base, "o_orderkey")
      val v2 = base.filter(pmod(col("o_orderkey"), lit(101)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(97)) === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
        .unionByName(base.filter(pmod(col("o_orderkey"), lit(89)) === 0)
          .crossJoin(broadcast(off))
          .withColumn("o_orderkey", col("o_orderkey") + col("__off"))
          .drop("__off"))
      graft.operators.SnapshotDiff.diff(base, v2, Seq("o_orderkey"))
    },
      oracle = Some("""WITH base AS (
           SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
         ), off AS (
           SELECT CAST(coalesce(power(10, length(CAST(greatest(coalesce(max(o_orderkey), 0), 0) AS VARCHAR))), 1000000) AS BIGINT) AS v
           FROM base
         ), v2 AS (
           SELECT o_orderkey, o_custkey,
                  CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
                       ELSE o_totalprice END AS o_totalprice,
                  o_orderstatus
           FROM base WHERE o_orderkey % 101 <> 0
           UNION ALL
           SELECT o_orderkey + (SELECT v FROM off), o_custkey, o_totalprice, o_orderstatus
           FROM base WHERE o_orderkey % 89 = 0
         )
         SELECT * FROM (
           SELECT coalesce(b.o_orderkey, v.o_orderkey) AS o_orderkey,
             CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                  WHEN v.o_orderkey IS NULL THEN 'delete'
                  WHEN b.o_totalprice  IS DISTINCT FROM v.o_totalprice
                    OR b.o_custkey     IS DISTINCT FROM v.o_custkey
                    OR b.o_orderstatus IS DISTINCT FROM v.o_orderstatus
                    THEN 'update' END AS change_type
           FROM base b FULL OUTER JOIN v2 v ON b.o_orderkey = v.o_orderkey
         ) WHERE change_type IS NOT NULL""")),

    Gate("q_equidepth_histogram", (s, d) => {
      // equi-DEPTH histogram: decile edges by RANK SELECTION on the
      // cent-value histogram (value at 0-indexed rank floor(p*(n-1)) —
      // no quantile interpolation, so edges are bit-identical in any
      // engine; approx_percentile is the 100 TB call shape), then a
      // narrow bucket-assignment pass (count of edges below the value)
      // + one partial-agg'd groupBy — never a global sort/ntile, which
      // would funnel the corpus through one task. The rank window runs
      // over the DISTINCT-cent histogram, not the corpus.
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(col("value"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vc"))
      val cum = ev.groupBy("vc").agg(count(lit(1)).as("cnt"))
        .select(col("vc"),
          sum("cnt").over(Window.orderBy("vc")).as("cum"),
          sum("cnt").over(Window.partitionBy()).as("tot"))
      val ps = (1 to 9).map(_ / 10.0)
      val edges = cum.agg(array(ps.map(p =>
          min(when(col("cum") - 1 >= floor(lit(p) * (col("tot") - 1)), col("vc")))
            .cast("double") / lit(100.0)): _*).as("es"))
      ev.crossJoin(broadcast(edges))
        .withColumn("bucket",
          size(filter(col("es"), e => col("value") > e)).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          (floor(min("value") * lit(100.0) + lit(0.5)) / lit(100.0)).as("min_v"),
          (floor(max("value") * lit(100.0) + lit(0.5)) / lit(100.0)).as("max_v"))
    },
      // rank-exact decile edges on cent longs — mirrors the Spark side;
      // no engine quantile interpolation anywhere
      oracle = Some("""WITH c AS (
           SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc FROM events
         ), r AS (
           SELECT vc, row_number() OVER (ORDER BY vc) AS rn, count(*) OVER () AS n
           FROM c
         ), es AS (
           SELECT [
             CAST(min(CASE WHEN rn - 1 >= floor(0.1 * (n - 1)) THEN vc END) AS DOUBLE) / 100.0,
             CAST(min(CASE WHEN rn - 1 >= floor(0.2 * (n - 1)) THEN vc END) AS DOUBLE) / 100.0,
             CAST(min(CASE WHEN rn - 1 >= floor(0.3 * (n - 1)) THEN vc END) AS DOUBLE) / 100.0,
             CAST(min(CASE WHEN rn - 1 >= floor(0.4 * (n - 1)) THEN vc END) AS DOUBLE) / 100.0,
             CAST(min(CASE WHEN rn - 1 >= floor(0.5 * (n - 1)) THEN vc END) AS DOUBLE) / 100.0,
             CAST(min(CASE WHEN rn - 1 >= floor(0.6 * (n - 1)) THEN vc END) AS DOUBLE) / 100.0,
             CAST(min(CASE WHEN rn - 1 >= floor(0.7 * (n - 1)) THEN vc END) AS DOUBLE) / 100.0,
             CAST(min(CASE WHEN rn - 1 >= floor(0.8 * (n - 1)) THEN vc END) AS DOUBLE) / 100.0,
             CAST(min(CASE WHEN rn - 1 >= floor(0.9 * (n - 1)) THEN vc END) AS DOUBLE) / 100.0] AS es
           FROM r
         )
         SELECT CAST(len(list_filter(es, e -> value > e)) AS BIGINT) AS bucket,
           count(*) AS n,
           floor(min(value) * 100.0 + 0.5) / 100.0 AS min_v,
           floor(max(value) * 100.0 + 0.5) / 100.0 AS max_v
         FROM events, es GROUP BY 1""")),

    Gate("q_histogram", (s, d) =>
      // fixed-width numeric histogram: bucket id from pure arithmetic
      // (floor of a double divide — identical IEEE ops in any engine),
      // one partial-agg shuffle of 12 groups
      Tables.orders(s, d)
        .groupBy(least(floor(col("o_totalprice") / lit(50000.0)), lit(11L))
          .cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("sum_total")),
      oracle = Some("""SELECT CAST(least(floor(o_totalprice / 50000.0), 11) AS BIGINT) AS bucket,
           count(*) AS n, round(sum(o_totalprice), 2) AS sum_total
         FROM orders GROUP BY 1""")),

    Gate("q_corr_stats", (s, d) =>
      // second-moment statistics battery (corr / covar / stddev) —
      // single-pass co-moment aggregates, no self-join
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
        pround(corr(col("l_quantity"), col("l_extendedprice")), 4)
          .as("corr_qty_price"),
        pround(covar_samp(col("l_quantity"), col("l_discount")), 4)
          .as("covar_qty_disc"),
        pround(stddev_samp(col("l_quantity")), 4).as("stddev_qty")),
      oracle = Some("""SELECT l_returnflag,
           floor(corr(l_quantity, l_extendedprice) * 10000 + 0.5) / 10000
             AS corr_qty_price,
           floor(covar_samp(l_quantity, l_discount) * 10000 + 0.5) / 10000
             AS covar_qty_disc,
           floor(stddev_samp(l_quantity) * 10000 + 0.5) / 10000 AS stddev_qty
         FROM lineitem GROUP BY l_returnflag""")),

    Gate("q_upsert", (s, d) => {
      // MERGE INTO analogue: deterministic changeset (double the price
      // of every 97th order at v2, tombstone every 101st at v3)
      // applied to the snapshot; WindowGroupLimit winner per key
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val snap = base.withColumn("version", lit(1L)).withColumn("deleted", lit(false))
      val ups = base.filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") * 2).as("o_totalprice"), lit("U").as("o_orderstatus"))
        .withColumn("version", lit(2L)).withColumn("deleted", lit(false))
      val dels = base.filter(pmod(col("o_orderkey"), lit(101)) === 0)
        .withColumn("version", lit(3L)).withColumn("deleted", lit(true))
      graft.operators.Upsert(snap, ups.unionByName(dels),
          Seq("o_orderkey"), "version", Some("deleted"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "version")
    },
      oracle = Some(upsertMergeSql)),

    Gate("q_numeric_profile", (s, d) => {
      val p = Profiler.numericProfile(Tables.orders(s, d),
        Seq("o_totalprice", "o_custkey"))
      p.select(col("column"), col("n"), col("n_null"), col("min"), col("max"),
        pround(col("mean"), 4).as("mean"),
        pround(col("stddev"), 4).as("stddev"),
        pround(col("median"), 4).as("median"))
    },
      oracle = Some("""SELECT 'o_totalprice' AS "column",
           count(o_totalprice) AS n,
           count(*) - count(o_totalprice) AS n_null,
           CAST(min(o_totalprice) AS DOUBLE) AS min,
           CAST(max(o_totalprice) AS DOUBLE) AS max,
           floor(avg(o_totalprice) * 10000.0 + 0.5) / 10000.0 AS mean,
           floor(stddev_samp(o_totalprice) * 10000.0 + 0.5) / 10000.0 AS stddev,
           floor(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) * 10000.0 + 0.5)
             / 10000.0 AS median
         FROM orders
         UNION ALL
         SELECT 'o_custkey',
           count(o_custkey),
           count(*) - count(o_custkey),
           CAST(min(o_custkey) AS DOUBLE),
           CAST(max(o_custkey) AS DOUBLE),
           floor(avg(o_custkey) * 10000.0 + 0.5) / 10000.0,
           floor(stddev_samp(o_custkey) * 10000.0 + 0.5) / 10000.0,
           floor(quantile_cont(CAST(o_custkey AS DOUBLE), 0.5) * 10000.0 + 0.5)
             / 10000.0
         FROM orders""")),

    Gate("q_scd2_build", (s, d) =>
      // type-2 dimension history: customer order-status over time
      graft.operators.Scd2.build(Tables.orders(s, d), Seq("o_custkey"),
          "o_orderdate", Seq("o_orderstatus"), tieBreak = Some("o_orderkey"))
        .select(col("o_custkey").as("custkey"), col("o_orderstatus").as("status"),
          col("valid_from"), col("valid_to"), col("is_current")),
      // SCD2: keep only rows where the tracked attribute changed vs the
      // previous observation per key; valid_to = next change's ts
      oracle = Some("""WITH ordered AS (
           SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             lag(o_orderstatus) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_status
           FROM orders
         ), chg AS (
           SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
           FROM ordered
           WHERE prev_status IS DISTINCT FROM o_orderstatus
         )
         SELECT o_custkey AS custkey, o_orderstatus AS status,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to,
           lead(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
         FROM chg""")),

    Gate("q_scd2_lookup", (s, d) => {
      // point-in-time dimension lookup: each shipment reads its
      // customer's SCD2 status AS OF the ship date — history build +
      // as-of join composed, the canonical fact-to-versioned-dimension
      // pattern. Same-date changes collapse latest-wins first so the
      // as-of pick is total-ordered (a tie at valid_from would be an
      // arbitrary pick in ANY engine)
      val hist = graft.operators.Scd2.build(Tables.orders(s, d), Seq("o_custkey"),
          "o_orderdate", Seq("o_orderstatus"), tieBreak = Some("o_orderkey"))
        .groupBy(col("o_custkey").as("custkey"), col("o_orderdate").as("valid_from"))
        .agg(max_by(col("o_orderstatus"), col("o_orderkey")).as("status"))
      val facts = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("o_custkey").as("custkey"), col("l_shipdate"))
      AsOfJoin.asOf(facts, hist, "custkey", "custkey",
        "l_shipdate", "valid_from", Seq("status"))
    },
      oracle = Some("""WITH ordered AS (
           SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             lag(o_orderstatus) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_status
           FROM orders
         ), chg AS (
           SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
           FROM ordered
           WHERE prev_status IS DISTINCT FROM o_orderstatus
         ), hist AS (
           SELECT o_custkey AS custkey, o_orderdate AS valid_from,
             max_by(o_orderstatus, o_orderkey) AS status
           FROM chg GROUP BY 1, 2
         ), f AS (
           SELECT l_orderkey, l_linenumber, o_custkey AS custkey, l_shipdate
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         )
         SELECT f.l_orderkey, f.l_linenumber, f.custkey, f.l_shipdate, h.status
         FROM f ASOF LEFT JOIN hist h
           ON f.custkey = h.custkey AND f.l_shipdate >= h.valid_from""")),

    Gate("q_burstiness", (s, d) => {
      // bot/automation screen: natural users are bursty (CV ~ 1, the
      // Poisson signature); the gate plants one scheduler-regular
      // user (every 101st event replayed on an exact 60 s grid,
      // mirrored in the oracle) that must flag bot_like while the
      // organic population does not. Sentinel id -1: organic user_ids
      // are non-negative at every tier (DataGen offsets by +1500 per
      // replica), so no replication factor can ever collide an
      // organic user into the planted bot and dilute its exact CV
      // (the old 999999 sentinel collided at factor ~667)
      val ev = Tables.events(s, d)
      val bot = ev.filter(pmod(col("event_id"), lit(101L)) === 0)
        .select(col("event_id"), lit(-1L).as("user_id"),
          expr("timestampadd(MINUTE, cast(event_id div 101 as int), " +
            "timestamp'2024-02-01 00:00:00')").as("ts"))
      val all = ev.select("event_id", "user_id", "ts").unionByName(bot)
      graft.operators.Burstiness.report(all, "user_id", "ts", "event_id",
        minGaps = 5, cvBelow = 0.3)
    },
      oracle = Some("""WITH base AS (
           SELECT event_id, user_id, ts FROM events
           UNION ALL
           SELECT event_id, -1 AS user_id,
             TIMESTAMP '2024-02-01 00:00:00'
               + (event_id // 101) * INTERVAL 1 MINUTE AS ts
           FROM events WHERE event_id % 101 = 0
         ), g AS (
           SELECT user_id,
             CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS s,
             lag(CAST(floor(epoch_us(ts) / 1000000) AS BIGINT)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM base
         ), gaps AS (
           SELECT user_id, s - prev AS gap FROM g WHERE prev IS NOT NULL
         ), a AS (
           SELECT user_id, count(*) AS n_gaps,
             sum(gap) AS sg, sum(gap * gap) AS qg
           FROM gaps GROUP BY 1
         ), scored AS (
           SELECT user_id, n_gaps,
             CAST(sg AS DOUBLE) / n_gaps AS mean,
             (CAST(qg AS DOUBLE) - CAST(sg AS DOUBLE) * sg / n_gaps)
               / n_gaps AS variance
           FROM a WHERE n_gaps >= 5
         ), rounded AS (
           SELECT user_id, n_gaps,
             floor(mean * 100.0 + 0.5) / 100.0 AS mean_gap_s,
             CASE WHEN mean = 0.0 THEN 0.0
                  ELSE floor(sqrt(variance) / mean * 10000.0 + 0.5) / 10000.0
             END AS cv
           FROM scored
         )
         SELECT user_id, n_gaps, mean_gap_s, cv, cv < 0.3 AS bot_like
         FROM rounded"""),
      // benched: one user-keyed exchange; lag + agg share its sort
      bench = Role.Headline,
      // one user-keyed exchange (lag + agg share the sort); 2
      // leaves = the organic scan + the planted-bot branch
      ceiling = Some(Ceiling(1, 2, bnljOk = false))),

    Gate("q_mad_outliers", (s, d) => {
      // median/MAD robust outlier report: the synthetic value stream
      // is uniform (no 3-sigma-hat tail), so every 97th event gets a
      // 50x planted spike, mirrored in the oracle — the report must
      // count exactly those without the spikes dragging the scale
      // estimate (the whole point of MAD over stddev)
      // NO spread (r13 A/B): the histogram pass is one cheap floor()
      // per row — fanning the events scan out measured 0.75 → 1.10 s
      // (the exchange costs more than the trivial per-row CPU saves)
      val ev = Tables.events(s, d).withColumn("value",
        when(pmod(col("event_id"), lit(97L)) === 0, col("value") * 50)
          .otherwise(col("value")))
      graft.operators.RobustStats.madReport(ev, "value")
    },
      oracle = Some("""WITH v AS (
           SELECT CAST(floor(
             (CASE WHEN event_id % 97 = 0 THEN value * 50 ELSE value END)
             * 100.0 + 0.5) AS BIGINT) AS c
           FROM events
         ), hist AS (
           SELECT c, count(*) AS n FROM v GROUP BY c
         ), cum AS (
           SELECT c, n, sum(n) OVER (ORDER BY c) AS cum,
             sum(n) OVER () AS tot
           FROM hist
         ), med AS (
           SELECT min(CASE WHEN cum - 1 >= floor(0.5 * (tot - 1))
             THEN c END) AS med FROM cum
         ), dev AS (
           SELECT abs(c - med.med) AS d, sum(n) AS n
           FROM hist, med GROUP BY 1
         ), dcum AS (
           SELECT d, n, sum(n) OVER (ORDER BY d) AS cum,
             sum(n) OVER () AS tot
           FROM dev
         ), mad AS (
           SELECT min(CASE WHEN cum - 1 >= floor(0.5 * (tot - 1))
             THEN d END) AS mad FROM dcum
         )
         SELECT CAST(sum(n) AS BIGINT) AS n,
           max(med.med) AS median_cents,
           max(mad.mad) AS mad_cents,
           CAST(sum(CASE WHEN d * 10000 > mad.mad * 44478 THEN n ELSE 0 END)
             AS BIGINT) AS n_outliers,
           floor(CAST(sum(CASE WHEN d * 10000 > mad.mad * 44478 THEN n
               ELSE 0 END) AS DOUBLE)
             / sum(n) * 1000000.0 + 0.5) / 1000000.0 AS outlier_frac
         FROM dev, mad, med"""),
      // benched: one corpus exchange to the value histogram
      bench = Role.Headline,
      // eager one-row local relation (histogram cache released
      // deterministically); PlanSpec audits the lazy report plan
      // separately
      ceiling = Some(Ceiling(0, 1, bnljOk = false))),

    Gate("q_change_points", (s, d) => {
      // two-window mean-shift detection over per-type daily volumes;
      // the synthetic stream is stationary, so the gate plants a
      // deterministic LEVEL SHIFT (every 2nd event before Jan 16
      // moves 15 days later: early days halve, late days gain 1.5x —
      // a ~3x step; oracle plants identically). A one-day spike
      // would NOT do: it inflates the window variance faster than
      // the mean gap, which is exactly the outlier-vs-shift
      // distinction this detector exists to draw. z must swing
      // through both flagged and quiet days.
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val ev = Tables.events(s, d).withColumn("ts",
        when(pmod(col("event_id"), lit(2L)) === 0 && col("ts") < cut,
          col("ts") + expr("INTERVAL 15 DAYS")).otherwise(col("ts")))
      graft.operators.ChangePoint.meanShift(ev, Seq("event_type"), "ts",
        w = 7, zThreshold = 3.0)
    },
      oracle = Some("""WITH ev AS (
           SELECT event_type,
             CASE WHEN event_id % 2 = 0 AND ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN ts + INTERVAL 15 DAY
                  ELSE ts END AS ts
           FROM events
         ), daily AS (
           SELECT event_type, date_trunc('day', ts) AS bucket,
             count(*) AS n
           FROM ev GROUP BY 1, 2
         ), span AS (
           SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
           FROM daily GROUP BY 1
         ), grid AS (
           SELECT event_type,
             unnest(generate_series(b0, b1, INTERVAL 1 DAY)) AS bucket
           FROM span
         ), dense AS (
           SELECT g.event_type, g.bucket, coalesce(d.n, 0) AS n
           FROM grid g LEFT JOIN daily d USING (event_type, bucket)
         ), f AS (
           SELECT event_type, bucket, n,
             count(n) OVER wpre AS c_pre, sum(n) OVER wpre AS s_pre,
             sum(n * n) OVER wpre AS q_pre,
             count(n) OVER wpost AS c_post, sum(n) OVER wpost AS s_post,
             sum(n * n) OVER wpost AS q_post
           FROM dense
           WINDOW wpre AS (PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING),
           wpost AS (PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)
         ), scored AS (
           SELECT event_type, bucket, n,
             floor(((CAST(s_post AS DOUBLE) / 7 - CAST(s_pre AS DOUBLE) / 7)
               / sqrt(((CAST(q_pre AS DOUBLE) - CAST(s_pre AS DOUBLE) * s_pre / 7) / 7
                     + (CAST(q_post AS DOUBLE) - CAST(s_post AS DOUBLE) * s_post / 7) / 7)
                   / 7 + 1e-9)) * 10000.0 + 0.5) / 10000.0 AS z
           FROM f WHERE c_pre = 7 AND c_post = 7
         )
         SELECT event_type, strftime(bucket, '%Y-%m-%d') AS day,
           CAST(n AS BIGINT) AS n_events, z, abs(z) >= 3.0 AS is_change
         FROM scored"""),
      // benched: the events stream's one corpus-sized exchange
      // (daily partial agg) + key-partitioned frames
      bench = Role.Headline,
      // the daily partial agg is the only corpus exchange;
      // gapFill's span agg + frames run over the tiny (key, day)
      // frame
      ceiling = Some(Ceiling(2, 2, bnljOk = false))),

    Gate("q_pagerank", (s, d) => {
      // URL-graph PageRank (r12): crawl-prioritization authority over
      // a deterministic link graph — every page links to its decade
      // hub (node div 10 * 10) and two modular neighbors, so hub
      // authority must emerge from the iteration, not the input.
      // 10 damped power iterations in nano-integer rank units with
      // integral division everywhere (operators.PageRank), so the
      // DuckDB oracle replays all 10 iterations bit-for-bit as
      // chained CTEs; top-20 tie-broken (rank desc, node).
      val docs = Tables.documents(s, d).select(col("doc_id").as("node"))
      val n = docs.count().max(1L)
      val edges = docs.select(col("node").as("src"), explode(array(
          expr("node div 10") * lit(10L),
          pmod(col("node") * lit(7L) + lit(1L), lit(n)),
          pmod(col("node") * lit(13L) + lit(2L), lit(n)))).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      graft.operators.PageRank.ranks(docs, edges, iterations = 10)
        .orderBy(col("rank").desc, col("node").asc).limit(20)
        .select(col("node"), col("rank").as("rank_nano"))
    },
      // all 10 nano-integer power iterations replayed as chained CTEs
      // (generated — one identical CTE per iteration); integral
      // division (`//`) mirrors Spark's `div` everywhere
      oracle = Some(pagerankOracleSql(10)),
      // benched: 10 nano-integer power iterations, two bounded
      // exchanges per round
      bench = Role.Headline,
      // the iterations run as checkpointed jobs (the q_dsir_weights
      // contract), so the returned frame is TakeOrdered over the
      // final checkpoint; PageRank's scaladoc gives the iterative
      // plan's 2-exchange shape
      ceiling = Some(Ceiling(0, 1, bnljOk = false))),

    Gate("q_group_percentiles", (s, d) => {
      // exact per-group percentiles by RANK SELECTION (the value at
      // floor(p·(n−1)) in sorted order) — no interpolation, so the
      // result is an actual data element and engine-portable where
      // interpolated quantiles differ in final-ulp arithmetic. At
      // 100 TB swap for approx_percentile (fixed-size mergeable
      // sketch); this is the exact-oracle form
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("value")
      val ranked = Tables.events(s, d)
        .select(col("event_type"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
      val ps = Seq(0.5, 0.95, 0.99)
      ps.map(p => ranked
          .filter(col("rn") - 1 === floor(lit(p) * (col("n") - 1)))
          .select(col("event_type"), lit(p).as("p"), col("value")))
        .reduce(_ unionAll _)
    },
      oracle = Some("""WITH r AS (
           SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events
         )
         SELECT event_type, p, value
         FROM r, unnest([0.5, 0.95, 0.99]) AS t(p)
         WHERE rn - 1 = floor(p * (n - 1))""")),

    Gate("q_winsorize", (s, d) =>
      // quantile clipping of lineitem prices at [p01, p99]: rank-exact
      // cent-long bounds (no cross-engine quantile interpolation), 1-row
      // bounds broadcast + narrow clamp; report aggregates (clip counts,
      // exact cent-sum, extremes) prove bounds AND clamped values — all
      // integer math until the final display division
      Normalizer.winsorizeCentRank(
        Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_extendedprice"),
        "l_extendedprice", 0.01, 0.99)
        .agg(
          sum(when(col("__clipped") === -1L, 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when(col("__clipped") === 1L, 1L).otherwise(0L)).as("n_clip_hi"),
          (sum(col("l_extendedprice_wc")).cast("double") / 100.0).as("sum_w"),
          (min(col("l_extendedprice_wc")).cast("double") / 100.0).as("min_w"),
          (max(col("l_extendedprice_wc")).cast("double") / 100.0).as("max_w")),
      // rank-exact bounds on cent longs (value at 0-indexed rank
      // floor(p*(n-1))) — mirrors Normalizer.winsorizeCentRank; no
      // engine quantile interpolation anywhere
      oracle = Some("""WITH c AS (
           SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v
           FROM lineitem
         ), r AS (
           SELECT v, row_number() OVER (ORDER BY v) AS rn, count(*) OVER () AS n
           FROM c
         ), b AS (
           SELECT min(CASE WHEN rn - 1 >= floor(0.01 * (n - 1)) THEN v END) AS lo,
                  min(CASE WHEN rn - 1 >= floor(0.99 * (n - 1)) THEN v END) AS hi
           FROM r
         ), w AS (
           SELECT least(greatest(v, lo), hi) AS wv,
                  CASE WHEN v < lo THEN -1 WHEN v > hi THEN 1 ELSE 0 END AS clip
           FROM c, b
         )
         SELECT CAST(sum(CASE WHEN clip = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
           CAST(sum(CASE WHEN clip = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
           CAST(sum(wv) AS DOUBLE) / 100.0 AS sum_w,
           CAST(min(wv) AS DOUBLE) / 100.0 AS min_w,
           CAST(max(wv) AS DOUBLE) / 100.0 AS max_w
         FROM w""")),

    Gate("q_hopping_windows", (s, d) =>
      // overlapping (hopping) event-time windows: 1h length, 30min
      // slide — every event lands in exactly two windows; cent-long
      // sums keep the totals portable
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          (sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
            .cast("double") / 100.0).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value")),
      oracle = Some("""WITH e AS (
           SELECT event_type,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
             CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 AS slot
           FROM events
         ), w AS (
           SELECT event_type, vc,
             TIMESTAMP '1970-01-01 00:00:00' + (slot - h * 1800) * INTERVAL 1 SECOND
               AS window_start
           FROM e, unnest([0, 1]) AS t(h)
         )
         SELECT window_start, event_type, count(*) AS n_events,
           CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
         FROM w GROUP BY window_start, event_type""")),

    Gate("q_active_users_7d", (s, d) => {
      // trailing-7-day active users (WAU): per-(day,user) distinct
      // first (events collapse to at most days×users rows), then each
      // activity day contributes to the 7 windows it trails into —
      // a ×7 fanout of the COLLAPSED table, never the raw events; a
      // distinct-count over a RANGE window isn't supported in any
      // engine, and this is the standard scalable rewrite
      val daily = Tables.events(s, d)
        .select(date_trunc("day", col("ts")).cast("date").as("day"), col("user_id"))
        .distinct()
      val days = daily.select(col("day").as("window_day")).distinct()
      daily
        .select(explode(sequence(lit(0), lit(6))).as("off"), col("day"), col("user_id"))
        .select(date_add(col("day"), col("off")).as("window_day"), col("user_id"))
        .join(days, Seq("window_day"), "left_semi")
        .groupBy("window_day")
        .agg(count_distinct(col("user_id")).as("active_users"))
        .select(date_format(col("window_day"), "yyyy-MM-dd").as("window_day"),
          col("active_users"))
    },
      oracle = Some("""WITH daily AS (
           SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
           FROM events
         ), contrib AS (
           SELECT day + off AS window_day, user_id
           FROM daily, unnest([0, 1, 2, 3, 4, 5, 6]) AS t(off)
         )
         SELECT strftime(window_day, '%Y-%m-%d') AS window_day,
           count(DISTINCT user_id) AS active_users
         FROM contrib
         WHERE window_day IN (SELECT day FROM daily)
         GROUP BY 1""")),

    Gate("q_rolling_zscore", (s, d) =>
      // trailing-window anomaly scores per user: exact integer moment
      // sums (Σv, Σv²) make the variance replay/engine-identical.
      // Uniform values never cross 3 sigma, and a |z| > 3 needs a
      // window population of at least 11 (max |z| in a sample of n is
      // (n-1)/sqrt(n)) — at ~67 events/user/month that means a 7-DAY
      // trailing window (n~15), and the gate plants a deterministic
      // 50x spike on ~0.1% of events (oracle identical) so the
      // anomaly flag is exercised, not constant
      Resample.rollingZscore(
        Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"),
          when(pmod(col("event_id"), lit(997L)) === 0L, col("value") * 50.0)
            .otherwise(col("value")).as("value")),
        Seq("user_id"), "ts", "value", windowSec = 604800)
        .select(col("event_id"), col("user_id"), col("n_window"),
          col("zscore"), col("is_anomaly")),
      oracle = Some("""WITH e AS (
           SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS es,
             CAST(floor((CASE WHEN event_id % 997 = 0 THEN value * 50.0
                              ELSE value END) * 100.0 + 0.5) AS BIGINT) AS vc
           FROM events
         ), m AS (
           SELECT event_id, user_id, vc,
             count(*) OVER w AS n_window,
             sum(vc) OVER w AS s1,
             sum(vc * vc) OVER w AS s2
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY es
                        RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
         ), v AS (
           SELECT event_id, user_id, vc, n_window,
             CAST(s1 AS DOUBLE) / n_window AS mean,
             CASE WHEN n_window < 2 THEN 0.0
                  ELSE greatest((CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_window)
                         / (n_window - 1), 0.0) END AS var
           FROM m
         )
         SELECT event_id, user_id, n_window,
           CASE WHEN var = 0.0 THEN 0.0
                ELSE floor((CAST(vc AS DOUBLE) - mean) / sqrt(var)
                       * 10000.0 + 0.5) / 10000.0 END AS zscore,
           (abs(CASE WHEN var = 0.0 THEN 0.0
                ELSE floor((CAST(vc AS DOUBLE) - mean) / sqrt(var)
                       * 10000.0 + 0.5) / 10000.0 END) > 3.0) AS is_anomaly
         FROM v""")),

    Gate("q_funnel", (s, d) =>
      // strictly-ordered conversion funnel: earliest view, earliest
      // click AFTER it, earliest purchase after that — per-stage
      // min(ts) aggregations with fixed-size state (never a collected
      // per-user event array)
      graft.operators.Funnel.funnel(Tables.events(s, d),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase")),
      oracle = Some("""WITH v AS (
           SELECT user_id, min(ts) AS t FROM events
           WHERE event_type = 'view' GROUP BY user_id
         ), c AS (
           SELECT e.user_id, min(e.ts) AS t FROM events e JOIN v USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY e.user_id
         ), p AS (
           SELECT e.user_id, min(e.ts) AS t FROM events e JOIN c USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY e.user_id
         ), s AS (
           SELECT 'view' AS step, (SELECT count(*) FROM v) AS n_users
           UNION ALL
           SELECT 'view>click', (SELECT count(*) FROM c)
           UNION ALL
           SELECT 'view>click>purchase', (SELECT count(*) FROM p)
         )
         SELECT step, n_users,
           CASE WHEN (SELECT count(*) FROM v) = 0 THEN 0.0
                ELSE floor(n_users * 100.0 / (SELECT count(*) FROM v)
                       * 10000.0 + 0.5) / 10000.0 END AS conv_pct
         FROM s""")),

    Gate("q_cohort_retention", (s, d) =>
      // weekly cohorts by first-seen week x activity-week offset
      graft.operators.Funnel.cohortRetention(Tables.events(s, d), "user_id", "ts"),
      oracle = Some("""WITH f AS (
           SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
           FROM events GROUP BY user_id
         ), a AS (
           SELECT e.user_id, f.cohort_week,
             CAST(date_trunc('week', e.ts) AS DATE) AS activity_week
           FROM events e JOIN f USING (user_id)
         )
         SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', cohort_week, activity_week) / 7 AS BIGINT)
             AS week_offset,
           count(DISTINCT user_id) AS n_users
         FROM a GROUP BY 1, 2""")),

    Gate("q_rolling_agg", (s, d) =>
      // rolling 1-hour per-user features (trailing count + sum): one
      // shuffle on user_id, sorted RANGE-frame scan in-partition, sum
      // carried as exact cent-longs (float frame-summation order is
      // engine-internal)
      Resample.rolling(
        Tables.events(s, d).select("event_id", "user_id", "ts", "value"),
        Seq("user_id"), "ts", "value", windowSec = 3600)
        .select(col("event_id"), col("user_id"), col("n_window"), col("sum_window")),
      oracle = Some("""WITH e AS (
           SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS es,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
           FROM events
         )
         SELECT event_id, user_id,
           count(*) OVER w AS n_window,
           CAST(sum(vc) OVER w AS DOUBLE) / 100.0 AS sum_window
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY es
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)"""),
      bench = Role.Headline,
      ceiling = Some(Ceiling(1, 1, bnljOk = false)))
  )
}
