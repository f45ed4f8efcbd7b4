package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("toSnakeCase handles camel, spaces, dashes, dots") {
    assert(ColumnStandardizer.toSnakeCase("RazonSocial") == "razon_social")
    assert(ColumnStandardizer.toSnakeCase("FECHA MATRICULA") == "fecha_matricula")
    assert(ColumnStandardizer.toSnakeCase("cod-ciiu.act") == "cod_ciiu_act")
    assert(ColumnStandardizer.toSnakeCase("already_snake") == "already_snake")
    assert(ColumnStandardizer.toSnakeCase("HTTPCode2xx") == "http_code2xx")
  }

  test("standardize renames all columns in one projection") {
    val df = Seq((1, "a")).toDF("SomeKey", "Some Value")
    assert(ColumnStandardizer.standardize(df).columns.toSeq == Seq("some_key", "some_value"))
  }

  test("asOf join: latest right row at-or-before left time; null when none") {
    val l = Seq((1L, 10L, "e1"), (1L, 20L, "e2"), (1L, 5L, "e0"), (2L, 50L, "x"))
      .toDF("k", "t", "ev")
    val r = Seq((1L, 10L, "s10"), (1L, 15L, "s15"), (3L, 1L, "zzz"))
      .toDF("k", "t", "state")
    val out = AsOfJoin.asOf(l, r, "k", "k", "t", "t", Seq("state"))
      .select("ev", "state").as[(String, String)].collect().toMap
    assert(out("e0") == null)   // before any right row
    assert(out("e1") == "s10")  // exact-time tie matches
    assert(out("e2") == "s15")  // latest at-or-before
    assert(out("x") == null)    // key with no right rows at all
  }

  test("saltedJoin equals the plain join on skewed data") {
    // 90% of rows share one hot key
    val big = spark.range(2000).select(
      when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 50).as("k"),
      col("id").as("v"))
    val small = spark.range(50).select(col("id").as("k"), (col("id") * 100).as("w"))
    val salted = SkewJoin.saltedJoin(big, small, "k", salt = 8)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"), sum("w").as("sw"))
    val plain = big.join(small, "k")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"), sum("w").as("sw"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("DateStandardizer parses both reference formats, NULLs the rest") {
    // '20231345' and '2023/99/99 …' pass the format guards but are
    // invalid dates — under ANSI they must become NULL, not throw
    val df = Seq("20230115", "2023/01/15 10:30:00.123456789", "garbage",
      "15-01-2023", "20231345", "2023/99/99 10:30:00.000000000")
      .toDF("raw_date")
    val out = DateStandardizer.standardize(df, Seq("raw_date"))
      .select(col("raw_date").cast("string")).as[String].collect().toSeq
    assert(out.count(_ == "2023-01-15") == 2)
    assert(out.count(_ == null) == 4)
  }

  test("RangeJoin works with same-named keys on both sides") {
    val l = Seq((1L, java.sql.Timestamp.valueOf("2024-01-05 00:00:00")))
      .toDF("k", "t")
    val r = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-10 00:00:00"), "w1"))
      .toDF("k", "s", "e", "tag")
    val out = RangeJoin.pointInInterval(l, r, "k", "k", "t", "s", "e")
    assert(out.select("tag").as[String].collect().toSeq == Seq("w1"))
  }

  test("AsOfJoin ignores NULL right times") {
    val l = Seq((1L, 10L, "ev")).toDF("k", "t", "name")
    val r = Seq((1L, Option.empty[Long], "ghost"), (1L, Some(5L), "real"))
      .toDF("k", "t", "state")
    val out = AsOfJoin.asOf(l, r, "k", "k", "t", "t", Seq("state"))
      .select("state").as[String].collect().toSeq
    assert(out == Seq("real"))
  }

  test("Normalizer trims and uppercases only requested columns") {
    val df = Seq(("  bogotá d.c ", "keep me")).toDF("estado", "other")
    val r = Normalizer.normalize(df, Seq("estado")).as[(String, String)].head()
    assert(r == ("BOGOTÁ D.C", "keep me"))
  }

  test("latestWins keeps newest per key; NULL ts loses; tie-break deterministic") {
    val df = Seq(
      (1L, "k", Some("2023-01-02 00:00:00"), "new"),
      (2L, "k", Some("2023-01-01 00:00:00"), "old"),
      (3L, "k", None, "nullts"),
      (5L, "k2", Some("2023-01-01 00:00:00"), "tie-hi"),
      (4L, "k2", Some("2023-01-01 00:00:00"), "tie-lo")
    ).toDF("id", "key", "ts_s", "tag")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out = Deduplicator.latestWins(df, Seq("key"), "ts", Some("id"))
      .select("key", "tag").as[(String, String)].collect().toMap
    assert(out == Map("k" -> "new", "k2" -> "tie-hi"))
  }

  test("latestWinsAgg agrees with latestWins") {
    val df = Tables.events(spark, sf()).limit(500)
    val a = Deduplicator.latestWins(df, Seq("user_id", "event_type"), "ts", Some("event_id"))
      .select("event_id").as[Long].collect().sorted.toSeq
    val b = Deduplicator.latestWinsAgg(df, Seq("user_id", "event_type"), "ts", "event_id")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(a == b)
  }

  test("exact dedup keeps one doc per distinct content") {
    val df = Seq((1L, "same"), (2L, "same"), (3L, "diff")).toDF("doc_id", "text")
    val kept = Deduplicator.exact(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L))
  }

  test("Profiler.nullProfile counts per column in one row") {
    val df = Seq((Some(1), Some("a")), (None, Some("b")), (None, None))
      .toDF("x", "y")
    val r = Profiler.nullProfile(df).as[(Long, Long)].head()
    assert(r == ((2L, 1L)))
  }

  test("Profiler.dupProfileApprox within HLL error of exact") {
    val ev = Tables.events(spark, sf())
    val exact = Profiler.dupProfile(ev, Seq("user_id", "event_type"))
      .select("distinct_keys").as[Long].head()
    val approx = Profiler.dupProfileApprox(ev, Seq("user_id", "event_type"))
      .select("approx_distinct_keys").as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.15,
      s"approx=$approx exact=$exact")
  }

  test("Profiler.dupProfile") {
    val df = Seq((1, "a"), (1, "a"), (2, "b")).toDF("k", "v")
    val r = Profiler.dupProfile(df, Seq("k", "v")).as[(Long, Long, Long)].head()
    assert(r == ((3L, 2L, 1L)))
  }

  test("Profiler.errorLog emits only failing rules") {
    val df = Seq((Some(1), None: Option[Int]), (Some(2), Some(3))).toDF("a", "b")
    val v = Profiler.validate(df, Seq(
      "b_null" -> col("b").isNull, "a_null" -> col("a").isNull))
    val log = Profiler.errorLog(v, Map("b_null" -> "b was null"))
      .as[(String, String, String)].collect().toSeq
    assert(log == Seq(("b_null", "b was null", "1")))
  }

  test("CatalogEnricher normalizes keys and broadcasts") {
    val fact = Seq((" ab ", 1), ("cd", 2), ("zz", 3)).toDF("code", "v")
    val cat = Seq(("AB", "Alpha"), ("CD", "Charlie")).toDF("code", "name")
    val out = CatalogEnricher.enrich(fact, cat, "code", "code", "name", "label")
      .select("v", "label").as[(Int, Option[String])].collect().toMap
    assert(out == Map(1 -> Some("Alpha"), 2 -> Some("Charlie"), 3 -> None))
  }

  test("StarSchema orphans finds fact keys missing from dim") {
    val fact = Seq(1, 2, 2, 9).toDF("k")
    val dim = Seq(1, 2, 3).toDF("k")
    val orphans = StarSchema.orphans(fact, dim, "k").as[Int].collect().toSeq
    assert(orphans == Seq(9))
  }

  test("StarSchema orphans: NULL fact key is one orphan, duplicates collapse, empty dim") {
    def count(fact: Seq[Option[Int]], dim: Seq[Option[Int]]): Long =
      StarSchema.orphanCount(fact.toDF("k"), dim.toDF("k"), "k").as[Long].head()
    // NULL matches nothing, a NULL dim key included: one orphan, as the
    // q_integrity_orphans oracle counts DISTINCT o_custkey rows with no match
    assert(count(Seq(Some(1), None, None), Seq(Some(1), None)) == 1L)
    // duplicate keys on either side: each distinct orphan once
    assert(count(Seq(Some(1), Some(9), Some(9), Some(8)), Seq(Some(1), Some(1))) == 2L)
    assert(StarSchema.orphans(Seq(1, 9, 9).toDF("k"), Seq(1, 1, 2).toDF("k"), "k")
      .as[Int].collect().toSeq == Seq(9))
    // empty dimension: every distinct fact key, NULL included
    assert(count(Seq(Some(1), Some(1), Some(2), None), Nil) == 3L)
    assert(count(Nil, Seq(Some(1))) == 0L)
  }

  test("globalSample: deterministic, seed-sensitive, exactly n rows") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "lang")
    val a = Sampling.globalSample(docs, "doc_id", n = 10).as[(Long, String)].collect().toSeq
    val b = Sampling.globalSample(docs, "doc_id", n = 10).as[(Long, String)].collect().toSeq
    val c = Sampling.globalSample(docs, "doc_id", n = 10, salt = 1).as[(Long, String)].collect().toSeq
    assert(a == b, "same seed must reproduce the same sample in the same order")
    assert(a.size == 10 && a.map(_._1).distinct.size == 10)
    assert(a.toSet != c.toSet, "different seed must select a different sample")
  }

  test("Upsert: changeset beats snapshot at same version; tombstones delete") {
    val snap = Seq((1L, "a", 1L, false), (2L, "b", 1L, false), (3L, "c", 1L, false))
      .toDF("k", "v", "version", "deleted")
    val changes = Seq(
      (1L, "a2", 1L, false), // same version: changeset wins
      (2L, "b2", 2L, true),  // tombstone
      (4L, "d", 1L, false))  // brand-new key
      .toDF("k", "v", "version", "deleted")
    val out = Upsert(snap, changes, Seq("k"), "version", Some("deleted"))
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a2"), (3L, "c"), (4L, "d")))
  }

  test("numericProfile: one row per column; approx median tracks exact at scale") {
    val docs = Tables.documents(spark, sf())
    val total = docs.count()
    val p = Profiler.numericProfile(docs, Seq("n_chars", "doc_id"))
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    assert(p.keySet == Set("n_chars", "doc_id"))
    val nc = p("n_chars")
    assert(nc.getAs[Long]("n") + nc.getAs[Long]("n_null") == total)
    assert(nc.getAs[Double]("min") <= nc.getAs[Double]("median") &&
      nc.getAs[Double]("median") <= nc.getAs[Double]("max"))
    // the documented 100 TB swap: approx_percentile stays within 2% of
    // the exact interpolated median on real data
    val Row(exact: Double, approx: Double) = docs
      .select(expr("percentile(n_chars, 0.5)"),
        expr("approx_percentile(n_chars, 0.5, 10000)").cast("double")).head()
    assert(math.abs(approx - exact) / exact < 0.02, s"exact=$exact approx=$approx")
  }

  test("Scd2.build: change-only rows, contiguous validity, single current") {
    val log = Seq(
      (1L, "2024-01-01", "A", 1L), (1L, "2024-02-01", "A", 2L), // no change
      (1L, "2024-03-01", "B", 3L), (1L, "2024-04-01", "A", 4L),
      (2L, "2024-01-15", "X", 5L)
    ).toDF("k", "d", "status", "seq")
      .withColumn("d", col("d").cast("timestamp_ntz"))
    val hist = Scd2.build(log, Seq("k"), "d", Seq("status"), Some("seq"))
      .select(col("k"), col("status"),
        date_format(col("valid_from"), "yyyy-MM-dd").as("from"),
        date_format(col("valid_to"), "yyyy-MM-dd").as("to"),
        col("is_current"))
      .as[(Long, String, String, Option[String], Boolean)]
      .collect().sortBy(r => (r._1, r._3)).toSeq
    assert(hist == Seq(
      (1L, "A", "2024-01-01", Some("2024-03-01"), false), // dup collapsed
      (1L, "B", "2024-03-01", Some("2024-04-01"), false),
      (1L, "A", "2024-04-01", None, true),
      (2L, "X", "2024-01-15", None, true)))
    // exactly one current row per key
    val cur = hist.filter(_._5).groupBy(_._1).view.mapValues(_.size).toMap
    assert(cur == Map(1L -> 1, 2L -> 1))
  }

  test("Bm25.topK ranks term-dense docs first and never returns non-matches") {
    val docs = Seq(
      (1L, "spark spark spark join"),
      (2L, "spark is here"),
      (3L, "nothing relevant at all"),
      (4L, "spark"),
      (5L, "a much longer document that mentions spark once among many many other words")
    ).toDF("doc_id", "text")
    val out = Bm25.topK(docs, "doc_id", "text", Seq("spark"), k = 10).collect()
    val ids = out.map(_.getAs[Long]("doc_id")).toSeq
    assert(!ids.contains(3L), "doc without the term must not match")
    assert(ids.head == 1L, s"highest-tf doc must rank first: $ids")
    // length normalization: the one-word doc beats the long doc
    assert(ids.indexOf(4L) < ids.indexOf(5L), s"length norm violated: $ids")
    assert(out.forall(_.getAs[Long]("n_hits") == 1L))
  }

  test("pre-1582 dates roundtrip ONLY under the scoped LEGACY rebase writer") {
    // The reference scopes its hybrid-calendar write confs to the
    // silver/gold jobs (job-silver-rues.py:44-45, job-gold-rues.py:
    // 38-39); graft mirrors that with Writers.withLegacyRebase around
    // the medallion write path instead of session-globally (r7
    // ADVICE). Three pins: (1) the session default is NOT LEGACY
    // (Spark 4 defaults to CORRECTED = proleptic, which is exactly
    // what the proleptic-only oracle readers DuckDB/Arrow expect, so
    // every non-medallion write stays oracle-safe by default); (2) the
    // scoped writer actually engages hybrid-calendar mode — visible as
    // the legacyDateTime footer marker, absent from a bare write; and
    // (3) the scoped writer roundtrips Julian-era dates losslessly in
    // Spark and restores the conf afterwards.
    assert(spark.conf.getOption("spark.sql.parquet.datetimeRebaseModeInWrite")
      .forall(_ != "LEGACY"))
    def hasLegacyMarker(dir: String): Boolean = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val f = new java.io.File(dir).listFiles
        .filter(_.getName.endsWith(".parquet")).head
      val in = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath),
        spark.sparkContext.hadoopConfiguration))
      try in.getFooter.getFileMetaData.getKeyValueMetaData
        .containsKey("org.apache.spark.legacyDateTime")
      finally in.close()
    }
    val base = "/tmp/graft_rebase_spec"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    val old = Seq("1500-03-01", "1582-10-04", "2020-06-15").toDF("d")
      .select(to_date(col("d")).as("d"),
        to_timestamp(concat(col("d"), lit(" 12:34:56"))).as("ts"))
    old.write.mode("overwrite").parquet(base)
    assert(!hasLegacyMarker(base), "bare write must stay proleptic (no marker)")
    graft.sources.Writers.withLegacyRebase(spark) {
      old.write.mode("overwrite").parquet(base)
    }
    assert(hasLegacyMarker(base), "scoped write must stamp the legacyDateTime marker")
    assert(spark.conf.getOption("spark.sql.parquet.datetimeRebaseModeInWrite")
      .forall(_ != "LEGACY"), "withLegacyRebase must restore the conf")
    val back = spark.read.parquet(base)
      .select(date_format(col("d"), "yyyy-MM-dd"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .as[(String, String)].collect().toSet
    assert(back == Set(
      ("1500-03-01", "1500-03-01 12:34:56"),
      ("1582-10-04", "1582-10-04 12:34:56"),
      ("2020-06-15", "2020-06-15 12:34:56")))
  }

  test("compactParquet shrinks file count to the byte target, content identical") {
    val base = "/tmp/graft_compact_spec"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    Tables.orders(spark, sf()).repartition(32)
      .write.mode("overwrite").parquet(s"$base/small")
    def parquetFiles(dir: String): Int =
      new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$base/small") == 32)
    // sf0.001 orders is ~tens of KB: a 1 MiB target must compact to 1 file
    val n = graft.sources.Writers.compactParquet(
      spark, s"$base/small", s"$base/out", targetFileBytes = 1024L * 1024)
    assert(n == 1 && parquetFiles(s"$base/out") == 1)
    val before = spark.read.parquet(s"$base/small")
    val after = spark.read.parquet(s"$base/out")
    assert(after.count() == before.count())
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
  }

  test("zorderWrite clusters BOTH dimensions; lead-sort clusters only one") {
    val orders = Tables.orders(spark, sf())
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val base = "/tmp/graft_zorder_spec"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    sources.ZOrder.zorderWrite(orders, s"$base/z", "o_custkey", "o_orderkey", 16)
    orders.repartitionByRange(16, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.parquet(s"$base/lead")
    // per-FILE normalized min/max span of a column: the fraction of
    // files a uniformly-placed point predicate on it must read
    def avgSpan(dir: String, c: String): Double = {
      val files = new java.io.File(dir).listFiles
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      val Seq(lo, hi) = orders.agg(min(col(c)).cast("double"),
        max(col(c)).cast("double")).as[(Double, Double)].head() match {
        case (a, b) => Seq(a, b)
      }
      files.map { f =>
        val (flo, fhi) = spark.read.parquet(f)
          .agg(min(col(c)).cast("double"), max(col(c)).cast("double"))
          .as[(Double, Double)].head()
        (fhi - flo) / (hi - lo)
      }.sum / files.length
    }
    // z-order: BOTH dims clustered (each file covers a fraction of each)
    assert(avgSpan(s"$base/z", "o_custkey") < 0.6, "z custkey span")
    assert(avgSpan(s"$base/z", "o_orderkey") < 0.6, "z orderkey span")
    // lead sort: first dim tight, second dim useless for skipping
    assert(avgSpan(s"$base/lead", "o_custkey") < 0.25, "lead custkey span")
    assert(avgSpan(s"$base/lead", "o_orderkey") > 0.7, "lead orderkey span")
    // content identity through the layout
    val back = spark.read.parquet(s"$base/z")
    assert(back.count() == orders.count())
    assert(back.exceptAll(orders).isEmpty)
  }

  test("csvWithCorruptCapture quarantines malformed rows without losing bytes") {
    import org.apache.spark.sql.types._
    val dir = new java.io.File("/tmp/graft_corrupt_csv")
    org.apache.commons.io.FileUtils.deleteDirectory(dir); dir.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Path.of("/tmp/graft_corrupt_csv/in.csv"),
      "id,amount\n1,10.5\nnot_a_number,oops\n3,7.25\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("amount", DoubleType)))
    val df = sources.Readers.csvWithCorruptCapture(
      spark, "/tmp/graft_corrupt_csv/in.csv", schema).cache()
    val good = df.filter(col("_corrupt_record").isNull)
      .select("id", "amount").as[(Long, Double)].collect().toSet
    assert(good == Set((1L, 10.5), (3L, 7.25)))
    val bad = df.filter(col("_corrupt_record").isNotNull)
      .select("_corrupt_record").as[String].collect().toSeq
    assert(bad == Seq("not_a_number,oops"), s"raw bytes must survive: $bad")
    df.unpersist()
  }

  test("SequencePacker two-level prefix sum equals the naive global cumsum") {
    import org.apache.spark.sql.expressions.Window
    val docs = (0L until 200L).map(i => (i, 10 + (i * 37) % 500)).toDF("id", "tok")
    val packed = operators.SequencePacker
      .pack(docs, "id", "tok", budget = 1000, groupExpr = floor(col("id") / 16))
      .select(col("id"), col("cum_tokens"), col("bin"))
      .as[(Long, Long, Long)].collect().map { case (i, c, b) => i -> (c, b) }.toMap
    val naive = docs.withColumn("cum", sum(col("tok")).over(
        Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("bin", floor((col("cum") - col("tok")).cast("double") / 1000.0).cast("long"))
      .select(col("id"), col("cum"), col("bin"))
      .as[(Long, Long, Long)].collect().map { case (i, c, b) => i -> (c, b) }.toMap
    assert(packed == naive)
    // every doc lands in the bin where its START position falls
    assert(packed.values.map(_._2).max > 1, "test must span several bins")
  }

  test("IncrementalAgg merge equals from-scratch aggregation, history untouched") {
    val all = Seq(("a", 1.0), ("a", 5.0), ("b", 2.0), ("a", 3.0), ("b", -4.0))
      .toDF("k", "v")
    val full = operators.IncrementalAgg.toState(all, Seq("k"), "v")
    val incremental = operators.IncrementalAgg.merge(
      operators.IncrementalAgg.merge(
        operators.IncrementalAgg.toState(all.filter(col("v") >= 3), Seq("k"), "v"),
        all.filter(col("v").between(0, 2)), Seq("k"), "v"),
      all.filter(col("v") < 0), Seq("k"), "v")
    val f = full.orderBy("k").collect().toSeq
    val i = incremental.orderBy("k").collect().toSeq
    assert(f == i, s"full=$f incremental=$i")
    // a delta introducing a brand-new key must appear in merged state
    val withNew = operators.IncrementalAgg.merge(full,
      Seq(("c", 9.0)).toDF("k", "v"), Seq("k"), "v")
    assert(withNew.filter(col("k") === "c").count() == 1)
  }

  test("approxPercentiles tracks the exact quantiles within rank-error bounds") {
    val orders = Tables.orders(spark, sf())
    val approx = operators.Profiler
      .approxPercentiles(orders, Seq("o_totalprice"), Seq(0.25, 0.5, 0.9))
      .select("quantiles").as[Seq[Double]].head()
    val exact = orders.select(
      expr("percentile(o_totalprice, array(0.25, 0.5, 0.9))"))
      .as[Seq[Double]].head()
    // accuracy=10000 → rank error <= n/10000; on a smooth value
    // distribution that is far inside 1% relative here
    approx.zip(exact).foreach { case (a, e) =>
      assert(math.abs(a - e) / e < 0.01, s"approx=$approx exact=$exact")
    }
  }

  test("Resample.gapFill emits explicit zero rows for every missing bucket") {
    val df = Seq(
      (1L, "2024-01-01 00:10:00", 2.0),
      (1L, "2024-01-01 03:40:00", 3.0),   // gap: hours 01, 02
      (2L, "2024-01-05 10:00:00", 1.0)    // single bucket, no gaps
    ).toDF("k", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val out = operators.Resample.gapFill(df, Seq("k"), "ts", "v", "hour")
      .orderBy("k", "bucket")
      .select(col("k"), date_format(col("bucket"), "HH").as("h"), col("n"), col("sum_value"))
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, "00", 1L, 2.0), (1L, "01", 0L, 0.0), (1L, "02", 0L, 0.0),
      (1L, "03", 1L, 3.0), (2L, "10", 1L, 1.0)))
  }

  test("FuzzyJoin finds within-block close pairs and drops hot blocks before pairing") {
    val df = Seq(
      (1L, "cold widget"), (2L, "cold widgets"),   // dist 1, same block
      (3L, "cold rodder"), (4L, "warm widget"),    // 4 vs 1: diff block
      (5L, "warm widget")                          // exact dup of 4
    ).toDF("id", "name")
    val p = operators.FuzzyJoin.pairs(df, "id", "name",
        substring_index(col("name"), " ", 1), maxDist = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(p == Set((1L, 2L, 1L), (4L, 5L, 0L)), s"pairs: $p")
    // cap: a block bigger than maxBlock contributes nothing
    val hot = (1L to 10L).map(i => (i, "same word")).toDF("id", "name")
    val capped = operators.FuzzyJoin.pairs(hot, "id", "name",
      substring_index(col("name"), " ", 1), maxDist = 2, maxBlock = 5)
    assert(capped.count() == 0)
  }

  test("SnapshotDiff classifies insert/update/delete, drops unchanged, survives schema drift") {
    val old = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val neu = Seq((1L, "a", 10.0), (2L, "B", 20.0), (4L, "d", 40.0))
      .toDF("k", "s", "v").withColumn("extra", lit("ignored"))
    val d = operators.SnapshotDiff.diff(old, neu, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(d == Map(2L -> "update", 3L -> "delete", 4L -> "insert"))
    // null-safe compare: null -> value and value -> null are updates
    val o2 = Seq((1L, Option.empty[String]), (2L, Option("x"))).toDF("k", "s")
    val n2 = Seq((1L, Option("y")), (2L, Option.empty[String])).toDF("k", "s")
    val d2 = operators.SnapshotDiff.diff(o2, n2, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(d2 == Map(1L -> "update", 2L -> "update"))
  }

  test("DerivedColumns semantics match reference rules") {
    val df = Seq(("nit ", "2020-05-01"), ("CC", "2023-01-01")).toDF("clase", "d")
      .withColumn("d", col("d").cast("date"))
    val out = df.select(
      DerivedColumns.conditionalCode(col("clase"), "NIT"),
      DerivedColumns.ageYears(col("d"), 2026),
      DerivedColumns.uniqueKey(Seq(col("clase"), col("d")))
    ).as[(Long, Long, String)].collect().toSeq
    assert(out.head == ((2L, 6L, "nit _2020-05-01")))
    assert(out(1) == ((1L, 3L, "CC_2023-01-01")))
  }
}
