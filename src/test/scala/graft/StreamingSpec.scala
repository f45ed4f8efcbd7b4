package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Events

/** True streaming-path specs (readStream semantics via MemoryStream →
  * memory sink), complementing the batch-equivalent forms the
  * correctness gate checks.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowedAggStream: tumbling windows with watermark over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")

    val agg = Events.windowedAggStream(df, windowLen = "1 hour", watermark = "2 hours")
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
        (2L, ts("2024-01-01 10:45:00"), 2L, "click", 2.0),
        (3L, ts("2024-01-01 11:10:00"), 1L, "view", 5.0))
      q.processAllAvailable()
      // advance far past the watermark so the 10:00 and 11:00 windows close
      input.addData((4L, ts("2024-01-01 15:00:00"), 3L, "click", 1.0))
      q.processAllAvailable()

      val out = spark.table("win_agg")
        .select(col("window_start").cast("string"), col("event_type"),
          col("n_events"), col("sum_value"))
        .as[(String, String, Long, Double)].collect().toSet
      assert(out.contains(("2024-01-01 10:00:00", "click", 2L, 3.0)))
      assert(out.contains(("2024-01-01 11:00:00", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("windowedAggStream drops late data behind the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val agg = Events.windowedAggStream(df, windowLen = "1 hour", watermark = "1 hour")
    val q = agg.writeStream.format("memory").queryName("late_agg")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, ts("2024-01-01 10:10:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      input.addData((2L, ts("2024-01-01 14:00:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      // 10:00-window event arriving after watermark passed 13:00 — dropped
      input.addData((3L, ts("2024-01-01 10:20:00"), 9L, "click", 100.0))
      q.processAllAvailable()
      input.addData((4L, ts("2024-01-01 18:00:00"), 1L, "click", 1.0))
      q.processAllAvailable()

      val out = spark.table("late_agg")
        .select(col("window_start").cast("string"), col("n_events"), col("sum_value"))
        .as[(String, Long, Double)].collect().toMap2
      assert(out("2024-01-01 10:00:00") == (1L, 1.0)) // late row absent
    } finally q.stop()
  }

  test("dedupStream drops re-delivered events within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Events.dedupStream(df, "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      // same event re-delivered (at-least-once source) + a new one
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
        (2L, ts("2024-01-01 10:30:00"), 1L, "click", 2.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L)) // duplicate dropped, both uniques kept
    } finally q.stop()
  }

  test("attributionStream: joins clicks within the window, excludes outside") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val clicks = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def df(m: MemoryStream[(Long, Timestamp, Long, String, Double)]) =
      m.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val joined = Events.attributionStream(df(purchases), df(clicks), withinMinutes = 30)
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(
        (10L, ts("2024-01-01 09:50:00"), 1L, "click", 0.0),  // in window
        (11L, ts("2024-01-01 09:00:00"), 1L, "click", 0.0),  // too early
        (12L, ts("2024-01-01 10:05:00"), 1L, "click", 0.0),  // after purchase
        (13L, ts("2024-01-01 09:55:00"), 2L, "click", 0.0))  // other user
      purchases.addData((1L, ts("2024-01-01 10:00:00"), 1L, "purchase", 5.0))
      q.processAllAvailable()
      val out = spark.table("attrib")
        .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
      assert(out == Set((1L, 10L)), s"got $out")
      // a click arriving later (but in-window by event time) still joins:
      // inner-join emission is eager, not watermark-gated
      clicks.addData((14L, ts("2024-01-01 09:40:00"), 1L, "click", 0.0))
      q.processAllAvailable()
      val out2 = spark.table("attrib")
        .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
      assert(out2 == Set((1L, 10L), (1L, 14L)), s"got $out2")
    } finally q.stop()
  }

  test("attributionStreamOuter: unmatched purchase flushes null-padded after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val clicks = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def df(m: MemoryStream[(Long, Timestamp, Long, String, Double)]) =
      m.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val joined = Events.attributionStreamOuter(df(purchases), df(clicks), withinMinutes = 30)
    val q = joined.writeStream.format("memory").queryName("attrib_outer")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData((10L, ts("2024-01-01 09:50:00"), 1L, "click", 0.0))
      purchases.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "purchase", 5.0),   // matched
        (2L, ts("2024-01-01 10:00:00"), 2L, "purchase", 7.0))   // no click
      q.processAllAvailable()
      // matched row emits eagerly; the unmatched one is NOT out yet —
      // a click for user 2 could still arrive within the watermark
      val out1 = spark.table("attrib_outer")
        .select("purchase_id", "click_id").as[(Long, Option[Long])].collect().toSet
      assert(out1 == Set((1L, Some(10L))), s"got $out1")
      // watermark jump: far-future rows on BOTH sides push the
      // watermark past purchase 2's eviction point; the outer row
      // then flushes null-padded on the following batch
      clicks.addData((99L, ts("2024-01-02 12:00:00"), -1L, "click", 0.0))
      purchases.addData((98L, ts("2024-01-02 12:00:00"), -1L, "purchase", 0.0))
      q.processAllAvailable()
      purchases.addData((97L, ts("2024-01-02 13:00:00"), -1L, "purchase", 0.0))
      q.processAllAvailable()
      val out2 = spark.table("attrib_outer").filter(col("user_id") === 2L)
        .select("purchase_id", "click_id").as[(Long, Option[Long])].collect().toSet
      assert(out2 == Set((2L, None)), s"unmatched purchase must flush null-padded: $out2")
    } finally q.stop()
  }

  test("sessionizeStream: in-batch gap close and event-time timeout close") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Events.Event]
    val sessions = Events.sessionizeStream(input.toDS(), gapMinutes = 30,
      watermark = "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // one user, two bursts separated by > 30 min in one batch: the
      // first session closes in-batch inside the state function
      input.addData(
        Events.Event(1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0),
        Events.Event(2L, ts("2024-01-01 10:10:00"), 7L, "click", 2.0),
        Events.Event(3L, ts("2024-01-01 12:00:00"), 7L, "click", 4.0))
      q.processAllAvailable()
      val first = spark.table("sessions").as[Events.Session].collect()
      assert(first.length == 1)
      assert(first.head.user_id == 7L)
      assert(first.head.session_start == ts("2024-01-01 10:00:00"))
      assert(first.head.session_end == ts("2024-01-01 10:10:00"))
      assert(first.head.n_events == 2L && first.head.sum_value == 3.0)

      // another user's event drags the watermark past 12:30 → user 7's
      // open 12:00 session closes via EVENT-TIME timeout, no user-7 data
      input.addData(Events.Event(4L, ts("2024-01-01 14:00:00"), 9L, "view", 1.0))
      q.processAllAvailable()
      input.addData(Events.Event(5L, ts("2024-01-01 14:05:00"), 9L, "view", 1.0))
      q.processAllAvailable()
      val out = spark.table("sessions").as[Events.Session].collect()
      val timedOut = out.filter(s => s.user_id == 7L && s.n_events == 1L)
      assert(timedOut.length == 1, s"expected timeout-closed session, got ${out.toSeq}")
      assert(timedOut.head.session_start == ts("2024-01-01 12:00:00"))
      assert(timedOut.head.sum_value == 4.0)
    } finally q.stop()
  }

  test("upsertSink maintains latest-state table across micro-batches with tombstones") {
    implicit val sqlCtx = spark.sqlContext
    val base = "/tmp/graft_upsert_sink"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    val input = MemoryStream[(Long, String, Long, Boolean)]
    val df = input.toDF().toDF("k", "v", "version", "deleted")
    val q = Events.upsertSink(df, Seq("k"), "version", Some("deleted"),
      s"$base/table", s"$base/cp")
    try {
      input.addData((1L, "a", 1L, false), (2L, "b", 1L, false))
      q.processAllAvailable()
      def state(): Map[Long, String] =
        Events.upsertSinkView(spark, s"$base/table", "deleted")
          .select("k", "v").as[(Long, String)].collect().toMap
      assert(state() == Map(1L -> "a", 2L -> "b"))
      // batch 2: update 1, insert 3, tombstone 2
      input.addData((1L, "a2", 2L, false), (3L, "c", 2L, false), (2L, "b", 2L, true))
      q.processAllAvailable()
      assert(state() == Map(1L -> "a2", 3L -> "c"))
      // stale version must lose against the standing snapshot
      input.addData((1L, "old", 1L, false))
      q.processAllAvailable()
      assert(state() == Map(1L -> "a2", 3L -> "c"))
      // a late STALE change for a deleted key must NOT resurrect it —
      // only works because the retained tombstone outranks it
      input.addData((2L, "zombie", 1L, false))
      q.processAllAvailable()
      assert(state() == Map(1L -> "a2", 3L -> "c"), "deleted key resurrected")
    } finally q.stop()
  }

  test("streaming parquet sink is exactly-once across restarts (checkpoint + sink metadata)") {
    val base = "/tmp/graft_eo_sink"
    val (cp, out) = (s"$base/cp", s"$base/out")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    val sfDir = sf()
    def runOnce(): Unit = {
      val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
      val q = spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir)
        .select(col("event_id"), col("event_type"), col("value"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    runOnce()
    val expected = spark.read.parquet(s"$sfDir/events.parquet").count()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == expected, s"sink must hold exactly the source rows: $n1 vs $expected")
    // restart with the same checkpoint: the already-committed input is
    // not reprocessed and the sink's _spark_metadata admits no dup files
    runOnce()
    val n2 = spark.read.parquet(out).count()
    assert(n2 == expected, s"restart must not duplicate rows: $n2 vs $expected")
  }

  test("ingest dedup: the recrawl batch vanishes, the fresh batch survives intact") {
    val out = graft.streaming.Ingest.ingestDedupFileStream(spark, sf())
      .select("source", "n_docs", "n_chars")
      .as[(String, Long, Long)].collect().toMap2
    // batch-side expectation: exactly the salted fresh docs (none of
    // their texts exist in the historical corpus by construction)
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val expected = docs.select(col("source"),
        length(concat(lit("fresh "), col("doc_id").cast("string"),
          lit(" "), col("text"))).as("len"))
      .groupBy("source").agg(count(lit(1)).as("n_docs"), sum("len").as("n_chars"))
      .as[(String, Long, Long)].collect().toMap2
    assert(out === expected, s"stream=$out batch=$expected")
  }

  test("stream gates give the same rows over a directory-form events table") {
    // the layout DataGen.write gives a generated tier: events.parquet as
    // a Spark-written directory of round-robin parts, every other table
    // as on sf0.001
    import java.nio.file.{Files, Paths}
    val tier = Files.createTempDirectory("graft_dir_tier")
    try {
      Tables.all.filterNot(_ == "events").foreach { t =>
        Files.copy(Paths.get(sf(), s"$t.parquet"), tier.resolve(s"$t.parquet"))
      }
      Tables.events(spark, sf()).repartition(3)
        .write.parquet(tier.resolve("events.parquet").toString)
      def rows(q: String, dir: String): Seq[String] =
        SparkEntry.queries(q)(spark, dir).collect().map(_.toSeq.mkString("|")).toSeq.sorted
      val differing = Seq("q_stream_windows", "q_sessionize_stream", "q_stream_join",
          "q_stream_join_outer", "q_stream_dedup", "q_stream_sketch_store",
          "q_stream_exactly_once").flatMap { q =>
        val flat = rows(q, sf())
        assert(flat.nonEmpty, q)
        scala.util.Try(rows(q, tier.toString)).fold(
          e => Some(s"$q: ${e.getMessage.linesIterator.next().take(200)}"),
          dir => if (dir == flat) None else Some(s"$q: ${dir.size} rows vs ${flat.size}"))
      }
      assert(differing.isEmpty, differing.mkString("\n"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tier.toFile)
  }

  private implicit class MapOps(rows: Array[(String, Long, Double)]) {
    def toMap2: Map[String, (Long, Double)] =
      rows.map { case (k, a, b) => k -> (a, b) }.toMap
  }

  private implicit class MapOpsL(rows: Array[(String, Long, Long)]) {
    def toMap2: Map[String, (Long, Long)] =
      rows.map { case (k, a, b) => k -> (a, b) }.toMap
  }
}
