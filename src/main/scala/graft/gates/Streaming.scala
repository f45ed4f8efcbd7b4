package graft
package gates

import org.apache.spark.sql.functions._

import graft.sources.Readers
import graft.streaming.Events
import Fixtures.upsertMergeSql

/** Family H: streaming gates in their batch-equivalent forms
  * (event windows, sessionization, stream joins, ingest dedup,
  * upsert sinks, exactly-once and corrupt-record capture).
  */
object Streaming {

  val gates: Seq[Gate] = Seq(

    Gate("q_event_windows", (s, d) => Events.windowedAggBatch(Tables.events(s, d)),
      oracle = Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
           count(*) AS n_events, round(sum(value), 2) AS sum_value,
           count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1, 2"""),
      bench = Role.Headline,
      ceiling = Some(Ceiling(2, 1, bnljOk = false))),

    Gate("q_event_windows_approx", (s, d) =>
      // the HLL flip for the exact-distinct engine floor (r11 verdict
      // item 4): same windowed agg with approx_count_distinct user
      // counts — sketches partial-agg map-side, so the exchange
      // carries |windows×types| KB rows instead of ~n user rows (the
      // 100 TB form). rows-only by nature (estimates aren't cross-
      // engine); the envelope gate below and StreamingSpec bound it.
      // Benched under extras with a comparable-work DuckDB baseline
      // (approx_count_distinct — DuckDB's own HLL on the same work)
      Events.windowedAggApprox(Tables.events(s, d)),
      // HLL distinct counts; the same-work baseline is DuckDB's own
      // approx_count_distinct
      bench = Role.Extra,
      // the HLL flip is the point: 1 exchange of sketch rows and 1
      // leaf, where the exact form needs 2 user-row exchanges
      ceiling = Some(Ceiling(1, 1, bnljOk = false))),

    Gate("q_event_windows_approx_check", (s, d) =>
      // partial-oracle envelope for the HLL flip: exact n_events and
      // exact distinct columns, with the 4σ (20%-or-±5) hard envelope
      // pinned TRUE (the q_lsh_ingest_dedup upgrade pattern; rsd 0.05
      // is a σ, so the tighter 95%-within-2σ claim lives in spec —
      // see Events.windowedAggApproxCheck calibration note)
      Events.windowedAggApproxCheck(Tables.events(s, d)),
      // envelope check for the HLL flip: exact columns + the 5% verdict
      // pinned TRUE (estimates themselves are not cross-engine values)
      oracle = Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users_exact,
           TRUE AS within_envelope
         FROM events GROUP BY 1, 2""")),

    Gate("q_stream_windows", (s, d) => Events.windowedAggFileStream(s, d),
      oracle = Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2""")),

    Gate("q_sessionize", (s, d) => Events.sessionizeBatch(Tables.events(s, d), 30),
      oracle = Some("""WITH e AS (
           SELECT event_id, ts, user_id, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events
         ), f AS (
           SELECT *, CASE WHEN prev_ts IS NULL
                            OR date_diff('second', prev_ts, ts) > 1800
                          THEN 1 ELSE 0 END AS new_session
           FROM e
         ), g AS (
           SELECT *, sum(new_session) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
           FROM f
         )
         SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) AS TIMESTAMP) AS session_end,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM g GROUP BY user_id, session_seq"""),
      bench = Role.Headline,
      ceiling = Some(Ceiling(1, 1, bnljOk = false))),

    Gate("q_ewma_anomaly", (s, d) =>
      // EWMA ingest-volume smoothing + relative-jump spikes (r11):
      // alpha pinned to 1/2 so the recursion is one IEEE add + one
      // exact power-of-two scale per day, replayed bit-for-bit by the
      // oracle's recursive CTE — a full value oracle for a smoother
      // (operators.Ewma: one daily-agg exchange, then bounded
      // per-type prefix folds; no window-scan primitive, no collect)
      graft.operators.Ewma.dailySpikes(Tables.events(s, d), "event_type", "ts"),
      // the exact alpha=1/2 recursion replayed by a recursive CTE:
      // (y + n) * 0.5 is one IEEE add + an exact power-of-two scale,
      // in day order — bit-identical across engines
      oracle = Some("""WITH RECURSIVE daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
           FROM events GROUP BY 1, 2
         ), o AS (
           SELECT event_type, day, n,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
           FROM daily
         ), r AS (
           SELECT event_type, day, n, rn, CAST(n AS DOUBLE) AS y, false AS spike
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.event_type, o.day, o.n, o.rn, (r.y + o.n) * 0.5,
             abs(o.n - r.y) > 0.5 * r.y
           FROM r JOIN o ON o.event_type = r.event_type AND o.rn = r.rn + 1
         )
         SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
           floor(y * 10000 + 0.5) / 10000 AS ewma, spike
         FROM r"""),
      // benched: one daily-agg exchange + bounded prefix folds
      bench = Role.Headline),

    Gate("q_chat_assemble", (s, d) =>
      // conversation/SFT transcript assembly (r11): inactivity-gapped
      // sessions reassembled into ordered training documents — ONE
      // user-keyed exchange serves both the session window and the
      // per-session ordered concat (the agg key starts with the
      // window's partition key). Turn text uses cent-long values
      // (double→string formatting is not portable across engines);
      // the transcript rides as (n_turns, n_chars, md5)
      graft.operators.ChatAssembly.transcripts(
        Tables.events(s, d), "user_id", "ts", "event_id",
        turn = concat(col("event_type"), lit(":"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").cast("string")),
        gapMinutes = 30, sep = "\n"),
      // q_sessionize's session identity + ordered string_agg turn
      // concat; cent-long turn values keep the text engine-portable
      oracle = Some("""WITH e AS (
           SELECT event_id, ts, user_id,
             event_type || ':' ||
               CAST(CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS VARCHAR) AS turn,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events
         ), f AS (
           SELECT *, CASE WHEN prev_ts IS NULL
                            OR date_diff('second', prev_ts, ts) > 1800
                          THEN 1 ELSE 0 END AS new_session
           FROM e
         ), g AS (
           SELECT *, sum(new_session) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
           FROM f
         ), t AS (
           SELECT user_id, session_seq,
             CAST(min(ts) AS TIMESTAMP) AS session_start,
             count(*) AS n_turns,
             string_agg(turn, chr(10) ORDER BY ts, event_id) AS transcript
           FROM g GROUP BY user_id, session_seq
         )
         SELECT user_id, CAST(session_seq AS BIGINT) AS session_id,
           session_start, n_turns,
           CAST(length(transcript) AS BIGINT) AS n_chars,
           md5(transcript) AS transcript_md5
         FROM t"""),
      // benched: one user-keyed exchange serving both the session
      // window and the ordered per-session concat
      bench = Role.Headline),

    Gate("q_sessionize_native", (s, d) =>
      // Spark's built-in session_window: overlapping [ts, ts+gap)
      // windows merge, so the gap rule is strict-< and the reported
      // end is last_event + gap (vs sessionizeBatch's max(ts) end and
      // seconds-truncated >-gap rule — both forms offered, each with
      // its exact oracle)
      Tables.events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"), col("sum_value")),
      oracle = Some("""WITH e AS (
           SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
             lag(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events
         ), f AS (
           SELECT *, CASE WHEN prev_ts IS NULL
                            OR ts >= prev_ts + INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_session
           FROM e
         ), g AS (
           SELECT *, sum(new_session) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS session_seq
           FROM f
         )
         SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM g GROUP BY user_id, session_seq""")),

    Gate("q_sessionize_stream", (s, d) => Events.sessionizeFileStream(s, d, 30),
      // same session semantics as q_sessionize; the stream form has no
      // session_seq ordinal (Append-mode state emits sessions as the
      // watermark closes them, in no defined order)
      oracle = Some("""WITH e AS (
           SELECT event_id, ts, user_id, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events
         ), f AS (
           SELECT *, CASE WHEN prev_ts IS NULL
                            OR date_diff('second', prev_ts, ts) > 1800
                          THEN 1 ELSE 0 END AS new_session
           FROM e
         ), g AS (
           SELECT *, sum(new_session) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
           FROM f
         )
         SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) AS TIMESTAMP) AS session_end,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM g GROUP BY user_id, session_seq""")),

    Gate("q_stream_join", (s, d) => Events.attributionFileStream(s, d, 30),
      // stream-stream attribution join == batch interval self-join
      oracle = Some("""SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts
         FROM events p JOIN events c
           ON p.user_id = c.user_id
          AND c.ts <= p.ts
          AND c.ts >= p.ts - INTERVAL 30 MINUTE
         WHERE p.event_type = 'purchase' AND c.event_type = 'click'""")),

    Gate("q_stream_join_outer", (s, d) =>
      // stream-stream LEFT OUTER with watermark-bounded state: every
      // purchase emits exactly once, null click columns when no click
      // landed in the 30-minute window; unmatched rows flush once the
      // staged sentinel feed drags the watermark past their eviction
      // point (see Events.attributionOuterFileStream)
      Events.attributionOuterFileStream(s, d, 30),
      // stream-stream LEFT OUTER == batch left interval self-join
      oracle = Some("""SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND c.ts <= p.ts
          AND c.ts >= p.ts - INTERVAL 30 MINUTE""")),

    Gate("q_stream_dedup", (s, d) => Events.dedupFileStream(s, d),
      oracle = Some("""SELECT event_type, count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_value
         FROM events GROUP BY event_type""")),

    Gate("q_stream_ingest_dedup", (s, d) =>
      // continuous-crawl ingest dedup: a file STREAM of incoming
      // batches (full recrawl + per-id-salted fresh docs) anti-joined
      // against the static historical corpus by content hash — the
      // recrawl must vanish, the fresh batch must survive
      graft.streaming.Ingest.ingestDedupFileStream(s, d),
      oracle = Some("""WITH hist AS (
           SELECT DISTINCT text FROM documents
         ), incoming AS (
           SELECT doc_id, text, source FROM documents
           UNION ALL
           SELECT doc_id, 'fresh ' || CAST(doc_id AS VARCHAR) || ' ' || text AS text, source
           FROM documents
         ), novel AS (
           SELECT i.* FROM incoming i
           WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.text = i.text)
         )
         SELECT source, count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars
         FROM novel GROUP BY source""")),

    Gate("q_stream_lsh_ingest", (s, d) =>
      // streaming NEAR-dup ingest (r11 verdict item 6): the persisted
      // LSH index composed with foreachBatch — each micro-batch
      // screens against the index's current state and appends its
      // delta; the read-back verdicts must be per-doc INVARIANT to
      // the batch boundaries (equal to a one-shot screen), with the
      // q_lsh_ingest_dedup partial-oracle shape: n_in exact,
      // partition/verdict/invariance booleans pinned TRUE
      graft.streaming.Ingest.lshIngestFileStream(s, d),
      // streamed form: same slice sizes, plus the batch-boundary
      // invariance verdict pinned TRUE
      oracle = Some("""SELECT 'recrawl' AS batch_src, count(*) AS n_in,
                TRUE AS partition_ok, TRUE AS verdict_ok,
                TRUE AS boundary_invariant
         FROM documents WHERE doc_id % 10 = 3
         UNION ALL
         SELECT 'fresh_reversed' AS batch_src, count(*) AS n_in,
                TRUE AS partition_ok, TRUE AS verdict_ok,
                TRUE AS boundary_invariant
         FROM documents WHERE doc_id % 10 = 4""")),

    Gate("q_stream_sketch_store", (s, d) =>
      // streaming maintenance of the persisted HLL sketch store
      // (r11): each micro-batch folds once and merges into the
      // standing store (lossless union — identical to a one-shot
      // build no matter where batch boundaries fall); the read-back
      // estimates sit inside the 10% envelope of exact per-type
      // distincts, with exact row counts the oracle's compare side
      graft.streaming.Events.sketchStoreFileStream(s, d),
      // exact per-type row and distinct counts compared; the
      // streaming store's envelope verdict pinned TRUE
      oracle = Some("""SELECT event_type, count(*) AS n_rows,
           count(DISTINCT user_id) AS exact_distinct,
           TRUE AS within_10pct
         FROM events GROUP BY event_type""")),

    Gate("q_stream_upsert", (s, d) =>
      // streaming MERGE sink gated end-to-end (r10 verdict item 7):
      // three changeset files (snapshot / repriced updates /
      // tombstones) stream one per micro-batch through
      // Events.upsertSink; the read-back state table must equal the
      // one-shot batch MERGE — the q_upsert oracle, shared verbatim
      graft.streaming.Events.upsertFileStream(s, d),
      // the streaming MERGE sink must converge to the identical state
      // table the one-shot batch MERGE produces — same oracle verbatim
      oracle = Some(upsertMergeSql)),

    Gate("q_stream_exactly_once", (s, d) =>
      // exactly-once parquet sink across a restart (r10 verdict item
      // 7): the same AvailableNow query runs twice on one checkpoint;
      // committed batches must not reprocess, so the read-back
      // per-type aggregate equals ONE clean copy of the feed (the
      // oracle) — a broken restart doubles every count
      graft.streaming.Events.exactlyOnceFileStream(s, d),
      // one clean copy of the feed per type — a restart that
      // reprocessed committed batches would double every count
      oracle = Some("""SELECT event_type, count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_value
         FROM events GROUP BY event_type""")),

    Gate("q_corrupt_capture", (s, d) => {
      // corrupt-record quarantine read gated end-to-end (r10 verdict
      // item 7): a CSV feed where every 5th key carries a non-numeric
      // value in a LongType column, read PERMISSIVE with
      // columnNameOfCorruptRecord — bad rows land whole in the capture
      // column (nothing is silently dropped: good + bad = input), and
      // the good/bad split is deterministic, so the oracle computes it
      // straight from the clean table
      import org.apache.spark.sql.types._
      val tmp = s"/tmp/graft_corrupt_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      Tables.nation(s, d).select(
        when(pmod(col("n_nationkey"), lit(5)) === 2,
          concat(lit("BAD_"), col("n_name"), lit(","), col("n_name"),
            lit(","), col("n_regionkey").cast("string")))
          .otherwise(concat_ws(",", col("n_nationkey"), col("n_name"),
            col("n_regionkey"))).as("value"))
        .coalesce(1).write.mode("overwrite").text(tmp)
      val schema = StructType(Seq(
        StructField("n_nationkey", LongType), StructField("n_name", StringType),
        StructField("n_regionkey", LongType)))
      Readers.csvWithCorruptCapture(s, tmp, schema, header = false)
        .agg(count(when(col("_corrupt_record").isNull, lit(1))).as("n_good"),
          count(col("_corrupt_record")).as("n_bad"),
          sum(when(col("_corrupt_record").isNull, col("n_nationkey")))
            .as("sum_good_keys"))
    },
      // the planted bad-row set is exact SQL over the clean table
      oracle = Some("""SELECT count(*) FILTER (n_nationkey % 5 <> 2) AS n_good,
           count(*) FILTER (n_nationkey % 5 = 2) AS n_bad,
           CAST(sum(n_nationkey) FILTER (n_nationkey % 5 <> 2) AS BIGINT)
             AS sum_good_keys
         FROM nation""")),

    Gate("q_observe_metrics", (s, d) => {
      // Dataset.observe in-flight metrics gated end-to-end (r10
      // verdict item 7): the silver chain runs ONCE with zero extra
      // passes while CollectMetrics accumulates rows_in / rows_out /
      // null_dates / unenriched; a planted unparseable date on every
      // 211th key makes null_dates a real signal, and the orphan
      // custkeys make unenriched one. The observed values are folded
      // to a one-row frame the oracle recomputes from the raw tables.
      val raw = graft.pipeline.Medallion.rawFromOrders(s, d)
        .withColumn("FechaMatricula",
          when(pmod(col("Matricula"), lit(211L)) === 5L, lit("not a date"))
            .otherwise(col("FechaMatricula")))
      val catalog = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      val (out, inObs, outObs) = graft.pipeline.Medallion.silverObserved(
        raw, catalog, "c_custkey", "c_name", 2026)
      out.foreach(_ => ()) // the ONE action; listeners fill the observations
      val in = inObs.get
      val o = outObs.get
      import s.implicits._
      Seq((in("rows_in").asInstanceOf[Long], o("rows_out").asInstanceOf[Long],
        o("null_dates").asInstanceOf[Long], o("unenriched").asInstanceOf[Long]))
        .toDF("rows_in", "rows_out", "null_dates", "unenriched")
    },
      // recompute every observed metric from the raw tables: rows in
      // and out (orderkeys are unique, so latest-wins dedup is a
      // no-op), planted unparseable dates, orphan-custkey enrich misses
      oracle = Some("""SELECT (SELECT count(*) FROM orders) AS rows_in,
           (SELECT count(*) FROM orders) AS rows_out,
           (SELECT count(*) FROM orders WHERE o_orderkey % 211 = 5) AS null_dates,
           (SELECT count(*) FROM orders o LEFT JOIN customer c
              ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey IS NULL) AS unenriched"""))
  )
}
