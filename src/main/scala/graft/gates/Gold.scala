package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators._
import Fixtures.{v1, v2, v3, v4, v1Sql, v2Sql, v3Sql, v4Sql}

/** Families D and E: the gold star schema (dimension and fact
  * builds, as-of, range, salted and advised joins) and the
  * reference analytics V1–V4 over parquet paths and managed
  * catalog tables.
  */
object Gold {

  val gates: Seq[Gate] = Seq(

    Gate("q_dim_build", (s, d) =>
      StarSchema.dimension(Tables.customer(s, d),
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")),
      oracle = Some("""SELECT DISTINCT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer""")),

    Gate("q_fact_build", (s, d) =>
      StarSchema.fact(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_totalprice"),
        StarSchema.vigencia(col("o_orderdate"), lit("1998-12-01").cast("date"))),
      oracle = Some("""SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(date_diff('day', DATE '1998-12-01', CAST(o_orderdate AS DATE)) AS BIGINT)
             AS dias_vigencia,
           CAST(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-12-01' THEN 1 ELSE 0 END AS BIGINT)
             AS flag_vencido
         FROM orders""")),

    Gate("q_integrity_orphans", (s, d) =>
      StarSchema.orphanCount(
        Tables.orders(s, d).select(col("o_custkey").as("custkey")),
        Tables.customer(s, d).select(col("c_custkey").as("custkey")),
        "custkey"),
      oracle = Some("""SELECT count(*) AS orphan_count FROM
           (SELECT DISTINCT o_custkey FROM orders) o
           LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
             ON o.o_custkey = c.c_custkey
         WHERE c.c_custkey IS NULL""")),

    Gate("q_asof_join", (s, d) => {
      // each event picks the user's latest order as of the event time;
      // right side pre-reduced to one row per (custkey, orderdate) so
      // the as-of pick is tie-free on both engines
      val orders = Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"),
          max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
      AsOfJoin.asOf(
        Tables.events(s, d).select("event_id", "user_id", "ts"),
        orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightPayload = Seq("o_orderkey", "o_totalprice"))
        .select("event_id", "user_id", "o_orderkey", "o_totalprice")
    },
      oracle = Some("""WITH o AS (
           SELECT o_custkey, o_orderdate,
             max(o_orderkey) AS o_orderkey,
             max_by(o_totalprice, o_orderkey) AS o_totalprice
           FROM orders GROUP BY o_custkey, o_orderdate
         )
         SELECT event_id, user_id, o_orderkey, o_totalprice
         FROM events ASOF LEFT JOIN o
           ON events.user_id = o.o_custkey
          AND CAST(events.ts AS TIMESTAMP) >= o.o_orderdate"""),
      bench = Role.Headline,
      ceiling = Some(Ceiling(2, 2, bnljOk = false))),

    Gate("q_asof_forward", (s, d) => {
      // FORWARD as-of: each non-purchase event picks the user's NEXT
      // purchase at or after it (time-to-conversion lookup; same
      // tie-free right-side reduction). Retargeted r6: the original
      // order-table form was VACUOUSLY all-null — no order exists
      // after any event time in the testdata.
      val purchases = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .agg(max(col("event_id")).as("purchase_id"),
          max_by(col("value"), col("event_id")).as("purchase_value"))
      AsOfJoin.asOfForward(
        Tables.events(s, d).filter(col("event_type") =!= "purchase")
          .select("event_id", "user_id", "ts"),
        purchases,
        leftKey = "user_id", rightKey = "p_user",
        leftTime = "ts", rightTime = "p_ts",
        rightPayload = Seq("purchase_id", "purchase_value"))
        .select("event_id", "user_id", "purchase_id", "purchase_value")
    },
      oracle = Some("""WITH p AS (
           SELECT user_id AS p_user, ts AS p_ts,
             max(event_id) AS purchase_id,
             max_by(value, event_id) AS purchase_value
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
         ), e AS (
           SELECT event_id, user_id, ts FROM events
           WHERE event_type <> 'purchase'
         )
         SELECT e.event_id, e.user_id, p.purchase_id, p.purchase_value
         FROM e ASOF LEFT JOIN p
           ON e.user_id = p.p_user AND e.ts <= p.p_ts""")),

    Gate("q_range_join", (s, d) => {
      // attribution window: every event landing within 2 days AFTER a
      // purchase by the same user — inequality join made equi via time
      // bins. (The original form joined events to order windows, but
      // the testdata's event and order date ranges never overlap, so
      // it was vacuously green on 0 rows — this self-interval form
      // produces real matches at every SF.)
      val purchases = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 2 DAYS")).as("w_end"))
      RangeJoin.pointInInterval(
        Tables.events(s, d).filter(col("event_type") =!= "purchase")
          .select("event_id", "user_id", "ts"),
        purchases,
        leftKey = "user_id", rightKey = "p_user",
        leftTime = "ts", rightStart = "w_start", rightEnd = "w_end",
        binWidth = "1 day")
        .select("event_id", "purchase_id")
    },
      oracle = Some("""SELECT e.event_id, p.event_id AS purchase_id
         FROM events e JOIN events p
           ON e.user_id = p.user_id
          AND p.event_type = 'purchase'
          AND e.event_type <> 'purchase'
          AND e.ts >= p.ts
          AND e.ts < p.ts + INTERVAL 2 DAY"""),
      bench = Role.Headline,
      ceiling = Some(Ceiling(2, 2, bnljOk = false))),

    Gate("q_salted_join", (s, d) =>
      // skew-safe fact-dim join; result identical to the plain join,
      // which is exactly what the oracle verifies
      SkewJoin.saltedJoin(
          Tables.lineitem(s, d).select("l_suppkey", "l_extendedprice", "l_discount"),
          Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
            .withColumnRenamed("s_suppkey", "l_suppkey"),
          "l_suppkey", salt = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue")),
      oracle = Some("""SELECT s_nationkey, count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_nationkey""")),

    Gate("q_skew_advisor", (s, d) =>
      // pre-flight skew profile of the events stream keyed by user_id
      // (the key q_salted_join-style joins would shuffle on): one
      // count-only exchange + a 1-row advisory aggregate — the
      // measure-before-you-salt step of the skew playbook
      SkewAdvisor.profile(Tables.events(s, d).select("event_id", "user_id"),
        "user_id", "event_id"),
      oracle = Some("""WITH c AS (
           SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS cnt
           FROM events GROUP BY 1
         ), agg AS (
           SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
                  count(*) AS n_keys, max(cnt) AS max_count
           FROM c
         ), hot AS (SELECT k FROM c ORDER BY cnt DESC, k DESC LIMIT 1)
         SELECT n_rows, n_keys,
           floor(CAST(n_rows AS DOUBLE) / n_keys * 10000 + 0.5) / 10000 AS avg_per_key,
           max_count, hot.k AS hot_key,
           floor(CAST(max_count AS DOUBLE) * n_keys / n_rows * 10000 + 0.5) / 10000 AS skew_factor,
           CAST(ceil(CAST(max_count AS DOUBLE) * n_keys / n_rows) AS BIGINT) AS recommended_salt
         FROM agg, hot"""),
      // benched: the counts-only key exchange a prospective join
      // would pay
      bench = Role.Headline,
      ceiling = Some(Ceiling(2, 1, bnljOk = false))),

    Gate("q_v1_active_by_type", (s, d) => v1(Tables.orders(s, d), Tables.customer(s, d)),
      oracle = Some(v1Sql)),

    Gate("q_v2_avg_age", (s, d) =>
      v2(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d)),
      oracle = Some(v2Sql)),

    Gate("q_v3_rate", (s, d) => v3(Tables.orders(s, d), Tables.customer(s, d)),
      oracle = Some(v3Sql)),

    Gate("q_v4_ml_dataset", (s, d) => v4(Tables.orders(s, d), Tables.customer(s, d)),
      oracle = Some(v4Sql),
      bench = Role.Headline,
      ceiling = Some(Ceiling(1, 2, bnljOk = false))),

    // same four analytics read through MANAGED bucketed tables (the
    // reference gold jobs read silver via the Data Catalog, not paths:
    // job-gold-rues.py:61-78). Bucketing on custkey makes the
    // fact-dim join exchange-free (plan-asserted in PlanSpec).
    Gate("q_v1_tables", (s, d) => {
      val db = graft.sources.CatalogStar.ensure(s, d)
      v1(s.table(s"$db.orders"), s.table(s"$db.customer"))
    },
      // catalog-table variants produce identical results; the oracle
      // (DuckDB over parquet) is the same SQL
      oracle = Some(v1Sql)),

    Gate("q_v2_tables", (s, d) => {
      val db = graft.sources.CatalogStar.ensure(s, d)
      v2(s.table(s"$db.orders"), s.table(s"$db.customer"), s.table(s"$db.nation"))
    },
      oracle = Some(v2Sql)),

    Gate("q_v3_tables", (s, d) => {
      val db = graft.sources.CatalogStar.ensure(s, d)
      v3(s.table(s"$db.orders"), s.table(s"$db.customer"))
    },
      oracle = Some(v3Sql)),

    Gate("q_v4_tables", (s, d) => {
      val db = graft.sources.CatalogStar.ensure(s, d)
      v4(s.table(s"$db.orders"), s.table(s"$db.customer"))
    },
      oracle = Some(v4Sql)),

    Gate("q_point_lookup", (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_custkey") === 7)
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        .limit(1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date")),
      oracle = Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
         FROM orders WHERE o_custkey = 7
         ORDER BY o_orderdate DESC, o_orderkey DESC
         LIMIT 1"""))
  )
}
