package graft
package gates

import org.apache.spark.sql.functions._

import graft.sources.Readers

/** Family A: sources. Format round trips (CSV, JSON, ORC, XML),
  * partitioned writes, schema evolution and JSON extraction, plus
  * the `graft.sources` write-layout operators (range-sorted and
  * Z-order writes, compaction).
  */
object Sources {

  val gates: Seq[Gate] = Seq(

    Gate("q_csv_roundtrip", (s, d) => {
      // Real CSV path exercise: project events -> write CSV -> read back
      // with the robust reader + explicit schema -> aggregate. The
      // oracle aggregates the same columns straight from parquet.
      import org.apache.spark.sql.types._
      val tmp = s"/tmp/graft_csv_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      Tables.events(s, d).select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").option("header", "true").csv(tmp)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType)))
      Readers.csv(s, tmp, multiLine = false, schema = Some(schema))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    },
      oracle = Some("""SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY event_type""")),

    Gate("q_csv_catalog_infer", (s, d) => {
      // reference silver loads its small catalog CSVs with
      // inferSchema=true (src/silver/job-silver-rues.py:94) and bronze
      // caps parser width with maxColumns=50
      // (src/bronze/job-bronze-rues.py:66) — both exercised here.
      // Inference re-reads the file, so it is ONLY for small catalogs;
      // the emitted key_type column pins the inferred numeric type
      // (a regression to all-string columns fails the value hash)
      val tmp = s"/tmp/graft_cat_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
      val cat = Readers.csv(s, tmp, multiLine = false,
        inferSchema = true, maxColumns = 50)
      cat.groupBy(col("n_regionkey").cast("long").as("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"),
          sum("n_nationkey").as("sum_key"))
        .withColumn("key_type", lit(cat.schema("n_regionkey").dataType.simpleString))
    },
      // 'int' pins the type Spark's CSV inference must produce for the
      // small-int key column; sums cast to BIGINT (DuckDB widens to
      // HUGEINT, Spark sums inferred int to long)
      oracle = Some("""SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
           count(*) AS n_nations,
           CAST(sum(n_nationkey) AS BIGINT) AS sum_key,
           'int' AS key_type
         FROM nation GROUP BY 1""")),

    Gate("q_partitioned_write", (s, d) => {
      // Partition-aware write + read-back with partition pruning.
      val tmp = s"/tmp/graft_part_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.Writers.parquetByYear(
        Tables.orders(s, d), tmp, "o_orderdate")
      s.read.parquet(tmp)
        .filter(col("year_partition") === 1996)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("sum_total"))
    },
      oracle = Some("""SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_total
         FROM orders WHERE year(o_orderdate) = 1996
         GROUP BY o_orderstatus""")),

    Gate("q_vacuum", (s, d) => {
      // retention: expire old year-partitions as directory deletes
      // (no scan, no rewrite), then aggregate what remains
      val tmp = s"/tmp/graft_vacuum_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.Writers.parquetByYear(Tables.orders(s, d), tmp, "o_orderdate")
      graft.sources.Writers.dropPartitions(s, tmp, "year_partition",
        keep = _.toInt >= 1996)
      s.read.parquet(tmp)
        .groupBy(col("year_partition").cast("long").as("yr"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_total"))
    },
      oracle = Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_total
         FROM orders WHERE year(o_orderdate) >= 1996
         GROUP BY 1""")),

    Gate("q_schema_evolution", (s, d) => {
      // schema drift across partition generations: v1 lacks the
      // o_orderpriority column; mergeSchema read unifies, old rows
      // null-fill — the append-only lake evolution path
      val tmp = s"/tmp/graft_evo_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      val o = Tables.orders(s, d)
      o.filter(year(col("o_orderdate")) < 1996)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      o.filter(year(col("o_orderdate")) >= 1996)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$tmp/gen=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          count(col("o_orderpriority")).as("n_with_priority"),
          round(sum("o_totalprice"), 2).as("sum_total"))
    },
      oracle = Some("""SELECT o_orderstatus, count(*) AS n,
           count(CASE WHEN year(o_orderdate) >= 1996 THEN 1 END) AS n_with_priority,
           round(sum(o_totalprice), 2) AS sum_total
         FROM orders GROUP BY o_orderstatus""")),

    Gate("q_json_roundtrip", (s, d) => {
      // JSON-lines sink + schema-supplied read-back (no inference pass).
      import org.apache.spark.sql.types._
      val tmp = s"/tmp/graft_json_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.Writers.jsonLines(
        Tables.events(s, d).select("event_id", "event_type", "value"), tmp)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      Readers.json(s, tmp, Some(schema))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(min("value"), 2).as("min_value"),
          round(max("value"), 2).as("max_value"))
    },
      oracle = Some("""SELECT event_type, count(*) AS n,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value
         FROM events GROUP BY event_type""")),

    Gate("q_orc_roundtrip", (s, d) => {
      val tmp = s"/tmp/graft_orc_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.Writers.orcPartitioned(
        Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice"), tmp)
      Readers.orc(s, tmp)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("sum_total"))
    },
      oracle = Some("""SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_total
         FROM orders GROUP BY o_orderstatus""")),

    Gate("q_xml_roundtrip", (s, d) => {
      // XML interchange roundtrip (Spark 4 built-in source): write one
      // element per row, read back with a SUPPLIED schema (inference =
      // an extra full parse pass at scale), aggregate to prove content
      import org.apache.spark.sql.types._
      val tmp = s"/tmp/graft_xml_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.Writers.xml(
        Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey"),
        tmp, rowTag = "nation")
      val schema = StructType(Seq(
        StructField("n_nationkey", LongType), StructField("n_name", StringType),
        StructField("n_regionkey", LongType)))
      Readers.xml(s, tmp, rowTag = "nation", Some(schema))
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"),
          sum("n_nationkey").as("sum_key"),
          min("n_name").as("first_name"))
    },
      // CAST: parquet n_regionkey is INT32 in DuckDB but the XML read-back
      // schema is LongType; DuckDB sum(BIGINT) widens to HUGEINT (which the
      // driver materializes as float64) — pin both to BIGINT.
      oracle = Some("""SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS n_nations,
           CAST(sum(n_nationkey) AS BIGINT) AS sum_key, min(n_name) AS first_name
         FROM nation GROUP BY 1""")),

    Gate("q_json_extract", (s, d) =>
      // Typed JSON field extraction from the events.props payload.
      Tables.events(s, d)
        .withColumn("k",
          from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.LongType)))).getField("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(col("k")).as("n_with_k")),
      oracle = Some("""SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(json_extract_string(props, '$.k')) AS n_with_k
         FROM events GROUP BY event_type""")),

    Gate("q_range_sorted_write", (s, d) => {
      // single-key clustered layout: range-partitioned + sorted files,
      // content identity proven by the oracle; file-range disjointness
      // is spec-asserted
      val base = s"/tmp/graft_rangesort_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ZOrder.rangeSortedWrite(
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        base, "o_orderkey", numFiles = 8)
      s.read.parquet(base)
        .groupBy((col("o_orderkey") % 5).cast("long").as("grp"))
        .agg(count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("sum_total"),
          min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"))
    },
      oracle = Some("""SELECT CAST(o_orderkey % 5 AS BIGINT) AS grp, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_total,
           min(o_custkey) AS min_cust, max(o_custkey) AS max_cust
         FROM orders GROUP BY 1""")),

    Gate("q_zorder_write", (s, d) => {
      // multi-dimensional clustering write: content must survive the
      // z-curve layout exactly (the skipping win is spec-asserted on
      // per-file min/max spans)
      val base = s"/tmp/graft_zorder_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ZOrder.zorderWrite(
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        base, "o_custkey", "o_orderkey", numFiles = 8)
      s.read.parquet(base)
        .groupBy((col("o_custkey") % 7).cast("long").as("grp"))
        .agg(count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("sum_total"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
    },
      oracle = Some("""SELECT CAST(o_custkey % 7 AS BIGINT) AS grp, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_total,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         FROM orders GROUP BY 1""")),

    Gate("q_compact", (s, d) => {
      // small-file compaction: 64-sliver write → byte-targeted rewrite;
      // correctness = content identical through the rewrite
      val base = s"/tmp/graft_compact_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      Tables.orders(s, d).repartition(64)
        .write.mode("overwrite").parquet(s"$base/small")
      graft.sources.Writers.compactParquet(s, s"$base/small", s"$base/out",
        targetFileBytes = 64L * 1024 * 1024)
      s.read.parquet(s"$base/out")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("sum_total"))
    },
      oracle = Some("""SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_total
         FROM orders GROUP BY o_orderstatus"""))
  )
}
