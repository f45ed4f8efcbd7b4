package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Deduplicator

/** Fixtures shared by more than one gate family: corpus augmentations
  * that plant duplicates, the reference analytics V1–V4, word lists,
  * rounding, per-tier staging paths, and the oracle SQL several gates
  * share.
  */
object Fixtures {

  private[gates] val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Size-gated broadcast hint (r8 verdict item 1: the q3/q5 hints
    * were hard-coded, so the written plan was NOT the one a 100×
    * run should execute). Emits the hint only while `table`'s
    * on-disk footprint is under `capDiskBytes`; each call site
    * derives its cap from the payload the hinted side actually
    * builds (arithmetic in the site comment, targeting ≤~256 MB
    * built). Above the cap NO hint is emitted and AQE plans the
    * join unaided — it keeps the key-shuffled hash join once the
    * built side outgrows the broadcast ceiling, which is the
    * correct cluster plan. The gate is one filesystem metadata
    * call ([[Tables.bytesOnDisk]]): no Spark job, no collect, and
    * deterministic for a given tier.
    */
  private[graft] def broadcastIfUnder(s: SparkSession, d: String, table: String,
                                      capDiskBytes: Long)(df: DataFrame): DataFrame =
    if (Tables.bytesOnDisk(s, d, table) <= capDiskBytes) broadcast(df) else df

  /** Engine-portable half-up rounding on non-negative doubles:
    * `floor(x*10^dp + 0.5)/10^dp`. Unlike `round()`, both engines
    * apply identical IEEE ops to the identical binary double, so a
    * value like 4.475 (stored 4.47499…) rounds the same way in Spark
    * and DuckDB. Used wherever the operand is an exact ratio of
    * integers (means/rates), where x.xx5 boundaries actually occur.
    */
  private[gates] def pround = graft.functions.Rounding.pround _

  /** The 1-row frame (`__off`) holding the smallest power of 10 above
    * max(`idCol`): the shift that moves planted rows into an id
    * namespace disjoint from `df`'s, computed in the plan (no driver
    * round-trip) and identically in the oracle SQL. An empty frame
    * yields NULL max, so the offset falls back to 1e6; a negative max
    * would count its '-' sign as a digit, so it is clamped to 0
    * (offset 10, still above every id).
    */
  private[gates] def idOffset(df: DataFrame, idCol: String): DataFrame =
    df.agg(coalesce(pow(lit(10.0),
      length(greatest(coalesce(max(col(idCol)), lit(0L)), lit(0L))
        .cast("string"))).cast("long"), lit(1000000L)).as("__off"))

  /** Re-crawl a deterministic 10% of docs under shifted ids: the
    * 500-doc gate corpora have no naturally planted duplicates
    * (generator rate is 1/625), so dedup gates would verify a no-op.
    * Oracles mirror the same UNION ALL.
    *
    * The shift is the smallest power of 10 above max(doc_id) — a
    * fixed +1e6 would silently collide with real ids once a corpus
    * passes 1M docs — computed as a 1-row broadcast (no driver
    * round-trip) and identically in the oracle SQL. Powers of 10 up
    * to 10^15 are exact doubles, and original < re-crawl ordering is
    * preserved, so min(doc_id) still keeps the first crawl.
    */
  private[gates] def withRecrawls(docs: DataFrame): DataFrame = {
    // One materialized scan feeds all three consumers (offset agg, base
    // branch, recrawl branch) — unstaged, the gate paid three document
    // scans and benched the planting, not the dedup operator. A lazy
    // local checkpoint, not a cache: no later query can match it, and
    // its blocks go when the frame does.
    val ckpt = docs.localCheckpoint(eager = false)
    val off = idOffset(ckpt, "doc_id")
    ckpt.unionByName(ckpt.filter(pmod(col("doc_id"), lit(10L)) === 3L)
      .crossJoin(broadcast(off))
      .withColumn("doc_id", col("doc_id") + col("__off"))
      .drop("__off"))
  }

  /** Near-recrawl augmentation for the near-dup gates. Two plantings
    * over shifted id namespaces (off = smallest power of 10 above
    * max(doc_id), as in [[withRecrawls]]):
    *
    *  - %25==4 docs re-crawl once at id+off with ONE appended token —
    *    classic near-dup PAIRS (J = s/(s+1) ≈ 1);
    *  - %50==11 docs plant a 3-node CHAIN at id+2off/+3off/+4off:
    *    B1 = T+pad1, B2 = T+pad2, C = T+pad1+pad2 with |pad| ≈
    *    1.2×tokens(T), giving J(B1,C)=J(B2,C)≈0.65 ≥ 0.5 but
    *    J(B1,B2)≈0.29 < 0.5 (and J(T,B1)≈0.45 — the original stays a
    *    singleton). Pairwise drop-id_b keeps BOTH B1 and B2; the
    *    cluster-canonical policy keeps only B1 — the shape that makes
    *    cluster ≠ pairwise observable in the gate corpus itself.
    *
    * Pad tokens are letters-only ("zz<id>x<i>" with digits mapped
    * a-j) so the quality gate's alpha ratio is unaffected, and unique
    * per (doc, i) so they never collide across plantings.
    */
  private[gates] def withNearRecrawls(docs: DataFrame): DataFrame = {
    val ckpt = docs.localCheckpoint(eager = false)
    val off = idOffset(ckpt, "doc_id")
    def letters(c: Column): Column =
      translate(c.cast("string"), "0123456789", "abcdefghij")
    val g = ceil(lit(1.2) * size(split(trim(lower(col("text"))), "\\s+")))
      .cast("long")
    def pad(lo: Column, hi: Column): Column =
      array_join(transform(sequence(lo, hi),
        i => concat(lit("zz"), letters(col("doc_id")), lit("x"), letters(i))), " ")
    def chainBranch(mult: Int, textCol: Column): DataFrame =
      ckpt.filter(pmod(col("doc_id"), lit(50L)) === 11L)
        .withColumn("text", textCol)
        .crossJoin(broadcast(off))
        .withColumn("doc_id", col("doc_id") + lit(mult.toLong) * col("__off"))
        .drop("__off")
    ckpt
      .unionByName(ckpt.filter(pmod(col("doc_id"), lit(25L)) === 4L)
        .crossJoin(broadcast(off))
        .withColumn("doc_id", col("doc_id") + col("__off"))
        .drop("__off")
        .withColumn("text", concat(col("text"), lit(" nearly"))))
      .unionByName(chainBranch(2, concat(col("text"), lit(" "), pad(lit(1L), g))))
      .unionByName(chainBranch(3, concat(col("text"), lit(" "), pad(g + 1, g * 2))))
      .unionByName(chainBranch(4, concat(col("text"), lit(" "), pad(lit(1L), g * 2))))
  }

  private[gates] val langMarkers = Seq(
    "en" -> Seq("the", "a"),
    "es" -> Seq("el", "la", "los"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "les", "et"))

  /** /tmp staging path for a per-tier persisted artifact, keyed by the
    * data dir's ABSOLUTE path plus the invoking user — a relative
    * "testdata/sf0.1" from two checkouts (or two users) must not
    * collide on one /tmp artifact (r11 advice item 3).
    */
  private[graft] def stagePath(kind: String, d: String): String = {
    val abs = new java.io.File(d).getAbsolutePath
    val user = sys.props.getOrElse("user.name", "u")
    s"/tmp/graft_${kind}_${user}_${abs.replaceAll("[^a-zA-Z0-9]", "_")}"
  }

  /** Stage the bloom gate's incoming batch as parquet — a crawl batch
    * arrives MATERIALIZED in production, so the per-batch timed unit
    * reads it rather than re-deriving it from the corpus (two full
    * text scans that are harness, not operator). The DuckDB baseline
    * stages the same batch as an untimed setup table, keeping the
    * compare same-work on both sides.
    */
  private[graft] def ensureBloomBatch(s: SparkSession, d: String): String = {
    val path = stagePath("bloombatch", d)
    Tables.ensureStaged(path,
        s"src:${Tables.sourceStamp(s, d, "documents").getOrElse("none")}") {
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      docs.filter(pmod(col("doc_id"), lit(10L)) === 3L)
        .unionByName(docs.select(col("doc_id"),
          concat(lit("fresh "), col("doc_id").cast("string"), lit(" "), col("text"))
            .as("text"),
          col("source")))
        .write.mode("overwrite").parquet(s"$path/batch")
    }
    s"$path/batch"
  }

  // ---------------------------------------------------------------
  // Analytics V1-V4 (reference test/query_gold_validations.sql),
  // parameterized by input so they run identically over parquet paths
  // and managed catalog tables.
  // ---------------------------------------------------------------
  private[gates] def v1(orders: DataFrame, customer: DataFrame): DataFrame =
    orders
      .filter(upper(trim(col("o_orderstatus"))) === "O")
      .join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count_distinct(col("o_custkey")).as("total_active"))
      .orderBy(col("total_active").desc, col("c_mktsegment").asc)

  private[gates] def v2(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(orders, col("o_custkey") === col("c_custkey"))
      .groupBy("n_name")
      .agg(pround(avg(lit(2026) - year(col("o_orderdate"))), 2).as("avg_age"),
        count_distinct(col("c_custkey")).as("total_customers"))
      .filter(col("total_customers") > 5)
      .orderBy(col("avg_age").desc, col("n_name").asc)
      .limit(5)

  private[gates] def v3(orders: DataFrame, customer: DataFrame): DataFrame =
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count_distinct(when(upper(trim(col("o_orderstatus"))) === "O", col("o_custkey")))
          .as("active_customers"),
        count_distinct(col("o_custkey")).as("total_customers"))
      .withColumn("rate_pct",
        pround(col("active_customers") * lit(100.0) / col("total_customers"), 2))
      .orderBy(col("rate_pct").desc, col("c_mktsegment").asc)

  private[gates] def v4(orders: DataFrame, customer: DataFrame): DataFrame = {
    val base = orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .filter(col("o_orderstatus").isin("O", "F", "P") && col("o_totalprice").isNotNull)
      .select("c_custkey", "c_mktsegment", "o_orderkey", "o_orderdate", "o_totalprice")
    Deduplicator.latestWins(base, Seq("c_custkey"), "o_orderdate", Some("o_orderkey"))
      .select(
        col("c_custkey"), col("c_mktsegment"),
        year(col("o_orderdate")).cast("long").as("last_order_year"),
        when(year(col("o_orderdate")) >= 1998, 1L).otherwise(0L).as("renovo"),
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 150000, "medium")
          .otherwise("large").as("value_segment"),
        (lit(2026) - year(col("o_orderdate"))).cast("long").as("years_since_order"))
  }

  // shared CTE body for the two drift gates: even-doc reference vs
  // odd-doc current snapshot with the planted 1.25x length shift,
  // 10 reference-anchored equi-width buckets, Laplace(+0.5) smoothing
  private[gates] val driftBucketsSql =
    """ref AS (
           SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE doc_id % 2 = 0
         ), cur AS (
           SELECT CAST(n_chars AS DOUBLE) * 1.25 AS v FROM documents WHERE doc_id % 2 = 1
         ), rng AS (SELECT min(v) AS lo, max(v) AS hi FROM ref),
         rb AS (
           SELECT greatest(0, least(9, CASE WHEN hi = lo THEN 0
             ELSE CAST(floor((v - lo) / ((hi - lo) / 10)) AS INT) END)) AS bucket
           FROM ref, rng
         ), cb AS (
           SELECT greatest(0, least(9, CASE WHEN hi = lo THEN 0
             ELSE CAST(floor((v - lo) / ((hi - lo) / 10)) AS INT) END)) AS bucket
           FROM cur, rng
         ), rc AS (SELECT bucket, count(*) AS ref_count FROM rb GROUP BY 1),
         cc AS (SELECT bucket, count(*) AS cur_count FROM cb GROUP BY 1),
         spine AS (SELECT unnest(range(0, 10)) AS bucket),
         joined AS (
           SELECT CAST(s.bucket AS BIGINT) AS bucket,
             CAST(COALESCE(rc.ref_count, 0) AS BIGINT) AS ref_count,
             CAST(COALESCE(cc.cur_count, 0) AS BIGINT) AS cur_count
           FROM spine s
           LEFT JOIN rc ON s.bucket = rc.bucket
           LEFT JOIN cc ON s.bucket = cc.bucket
         ), tot AS (
           SELECT CAST(sum(ref_count) AS BIGINT) AS ref_n,
                  CAST(sum(cur_count) AS BIGINT) AS cur_n
           FROM joined
         ), terms AS (
           SELECT bucket, ref_count, cur_count, ref_n, cur_n,
             (ref_count + 0.5) / (ref_n + 5.0) AS p,
             (cur_count + 0.5) / (cur_n + 5.0) AS q
           FROM joined, tot
         )"""

  private[gates] val v1Sql =
    """SELECT c_mktsegment, count(DISTINCT o_custkey) AS total_active
       FROM orders JOIN customer ON o_custkey = c_custkey
       WHERE upper(trim(o_orderstatus)) = 'O'
       GROUP BY c_mktsegment
       ORDER BY total_active DESC, c_mktsegment ASC"""

  private[gates] val v2Sql =
    """SELECT n_name,
         floor(avg(2026 - year(o_orderdate)) * 100.0 + 0.5) / 100.0 AS avg_age,
         count(DISTINCT c_custkey) AS total_customers
       FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
       GROUP BY n_name
       HAVING count(DISTINCT c_custkey) > 5
       ORDER BY avg_age DESC, n_name ASC
       LIMIT 5"""

  private[gates] val v3Sql =
    """SELECT c_mktsegment,
         count(DISTINCT CASE WHEN upper(trim(o_orderstatus)) = 'O' THEN o_custkey END)
           AS active_customers,
         count(DISTINCT o_custkey) AS total_customers,
         floor(count(DISTINCT CASE WHEN upper(trim(o_orderstatus)) = 'O' THEN o_custkey END)
           * 100.0 / count(DISTINCT o_custkey) * 100.0 + 0.5) / 100.0 AS rate_pct
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY c_mktsegment
       ORDER BY rate_pct DESC, c_mktsegment ASC"""

  private[gates] val v4Sql =
    """WITH base AS (
         SELECT c_custkey, c_mktsegment, o_orderkey, o_orderdate, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_orderstatus IN ('O','F','P') AND o_totalprice IS NOT NULL
       ), dedup AS (
         SELECT *, row_number() OVER (
           PARTITION BY c_custkey
           ORDER BY o_orderdate DESC NULLS LAST, o_orderkey DESC) AS rn
         FROM base
       )
       SELECT c_custkey, c_mktsegment,
         CAST(year(o_orderdate) AS BIGINT) AS last_order_year,
         CAST(CASE WHEN year(o_orderdate) >= 1998 THEN 1 ELSE 0 END AS BIGINT) AS renovo,
         CASE WHEN o_totalprice < 50000 THEN 'small'
              WHEN o_totalprice < 150000 THEN 'medium'
              ELSE 'large' END AS value_segment,
         CAST(2026 - year(o_orderdate) AS BIGINT) AS years_since_order
       FROM dedup WHERE rn = 1"""

  // shared by q_upsert (batch MERGE) and q_stream_upsert (the
  // streaming sink must converge to the identical state table)
  private[gates] val upsertMergeSql =
    """WITH snap AS (
         SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           1 AS version, false AS deleted, 0 AS src
         FROM orders
       ), ups AS (
         SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice,
           'U' AS o_orderstatus, 2 AS version, false AS deleted, 1 AS src
         FROM orders WHERE o_orderkey % 97 = 0
       ), dels AS (
         SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           3 AS version, true AS deleted, 1 AS src
         FROM orders WHERE o_orderkey % 101 = 0
       ), u AS (
         SELECT * FROM snap UNION ALL SELECT * FROM ups UNION ALL SELECT * FROM dels
       ), r AS (
         SELECT *, row_number() OVER (
           PARTITION BY o_orderkey ORDER BY version DESC, src DESC) AS rn
         FROM u
       )
       SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
         CAST(version AS BIGINT) AS version
       FROM r WHERE rn = 1 AND NOT deleted"""

  private[gates] val corpusPrepSql =
    """WITH c AS (
           SELECT doc_id,
             trim(regexp_replace(regexp_replace(
               regexp_replace(text, 'https?://\S+', ' ', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
               '\s+', ' ', 'g')) AS clean
           FROM documents
         ), t AS (
           SELECT doc_id, clean,
             CASE WHEN length(trim(lower(clean))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(clean)), '\s+') END AS toks
           FROM c
         ), s AS (
           SELECT doc_id, clean,
             floor((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
               + (CASE WHEN length(clean) = 0 THEN 0.0
                       ELSE CAST(len(regexp_extract_all(clean, '[A-Za-z]')) AS DOUBLE) / length(clean) END)
               + least((CASE WHEN len(toks) = 0 THEN 0.0
                             ELSE CAST(len(list_filter(toks,
                                    x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE)
                                  / len(toks) END) * 4.0, 1.0)
               ) / 3.0 * 10000.0 + 0.5) / 10000.0 AS quality,
             len(list_filter(toks, x -> list_contains(['the','a'], x))) AS s_en,
             len(list_filter(toks, x -> list_contains(['el','la','los'], x))) AS s_es,
             len(list_filter(toks, x -> list_contains(['der','die','und'], x))) AS s_de,
             len(list_filter(toks, x -> list_contains(['le','les','et'], x))) AS s_fr,
             CAST(len(toks) AS BIGINT) AS n_tokens
           FROM t
         ), p AS (
           SELECT doc_id, clean, quality, n_tokens,
             CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                  WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                  WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                  ELSE 'fr' END AS lang_pred
           FROM s
         ), g AS (
           SELECT * FROM p
           WHERE quality >= 0.3 AND lang_pred IN ('en') AND n_tokens >= 10
         )
         SELECT doc_id, quality, lang_pred, n_tokens FROM g
         WHERE doc_id IN (SELECT min(doc_id) FROM g GROUP BY md5(clean))"""

  /** q_pagerank's oracle: the SAME graph construction and all
    * `iters` nano-integer damped power iterations, unrolled as one
    * chained CTE per iteration (standard SQL — no reliance on
    * aggregation inside a recursive CTE). `//` is DuckDB's integral
    * division, mirroring Spark's `div`; every quantity is a
    * non-negative integer so both engines truncate identically.
    */
  private[gates] def pagerankOracleSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT n.node,
         |    CAST((1000000000 - 850000000) // cnt
         |      + (850000000 * COALESCE(s.cs, 0)) // 1000000000 AS BIGINT) AS rank
         |  FROM nodes n CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT e.dst, sum(p.rank // o.deg) AS cs
         |    FROM edges e JOIN outd o ON e.src = o.src
         |      JOIN pr${i - 1} p ON e.src = p.node
         |    GROUP BY e.dst
         |  ) s ON n.node = s.dst
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS cnt FROM documents),
       |nodes AS (SELECT doc_id AS node FROM documents),
       |edges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT doc_id AS src, (doc_id // 10) * 10 AS dst FROM documents
       |    UNION ALL
       |    SELECT doc_id, (doc_id * 7 + 1) % cnt FROM documents, nn
       |    UNION ALL
       |    SELECT doc_id, (doc_id * 13 + 2) % cnt FROM documents, nn
       |  ) AS raw(src, dst) WHERE src <> dst
       |),
       |outd AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |pr0 AS (SELECT node, CAST(1000000000 // cnt AS BIGINT) AS rank
       |        FROM nodes, nn),
       |$iterCtes
       |SELECT node, CAST(rank AS BIGINT) AS rank_nano FROM pr$iters
       |ORDER BY rank DESC, node ASC LIMIT 20""".stripMargin
  }
}
