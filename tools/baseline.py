#!/usr/bin/env python3
"""Record the oracle-engine baseline for the bench headliners: time each
headliner's oracle SQL in DuckDB (all cores, same parquet, same box) and
write BASELINE.md, stamped with the box's core count and DuckDB's thread
count. Bench's `ratio` fields divide its medians by these timings.

Usage: python3 tools/baseline.py <sfDir> <oracle_sql.json> [runs] [out_md]
"""
import json, sys, os, time

import duckdb

# q_dedup_minhash is intentionally absent: it has no DuckDB oracle (not
# SQL-expressible), so Bench reports it under "extras" outside the
# baseline-comparable totals (r7 verdict item 8).
HEADLINERS = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q_window_dedup", "q_v4_ml_dataset", "q_dedup_exact",
    "q_ann_bruteforce", "q_token_count",
    "q_quality_score", "q_event_windows", "q_sessionize",
    "q_medallion_silver", "q_corpus_prep", "q_asof_join", "q_range_join",
    "q_window_analytics", "q_dedup_clusters",
    "q_tfidf", "q_unigram_logprob", "q_passage_dedup", "q_rolling_agg",
    "q_line_dedup", "q_shuffle_corpus",
    # round-9 operators (bench rows from birth): token-budget mixing,
    # CMS heavy hitters (its exact top-k columns are the oracle side),
    # DSIR importance weights, CCNet quality buckets (q_bpe_encode is
    # absent on purpose: its oracle is a fixture read, not a baseline)
    "q_token_budget", "q_heavy_hitters_sketch", "q_dsir_weights",
    "q_ccnet_buckets",
    # late-r9 operators (bench rows from birth): Gopher rule bundle,
    # temperature mixture rates (q_bloom_ingest_dedup moved to the
    # extras in r12 — staged index + same-work digest-probe baseline)
    "q_gopher_rules", "q_temperature_mix",
    # final r9 operators (bench rows from birth): PMI association
    # mining, shuffle-skew advisor. q_hll_store_check and
    # q_source_overlap_sketch left the bench in r11 (their timed cost
    # was the exact ENVELOPE, not the operator — the operators are
    # benched as the q_hll_store / q_overlap_sketch extras below)
    "q_pmi_cooccur", "q_skew_advisor",
    "q_source_overlap", "q_drift_summary",
    # fifth-session r9 operators (bench rows from birth): Stupid
    # Backoff LM scoring, unicode NFC cleanup, Zipf frequency
    # spectrum, URL domain policy (q_corpus_stats is absent on
    # purpose: it times the same token exchange as q_freq_spectrum)
    "q_backoff_logprob", "q_unicode_clean", "q_freq_spectrum",
    "q_domain_policy", "q_change_points", "q_embedding_standardize",
    "q_mad_outliers", "q_burstiness",
    # r10 check harnesses (bench-row-from-birth): classifier scoring
    # replay, frozen-assignment outlier threshold check
    "q_classifier_margin_check", "q_outlier_threshold_check",
    # r10 operators: keep-best canonical dedup, n-gram novelty
    "q_dedup_keep_best", "q_ngram_novelty",
    # robust median/IQR per-dim scaling
    "q_robust_scale",
    # char-diversity gibberish screen
    "q_char_diversity",
    # r11 operators (bench rows from birth): EWMA volume smoothing,
    # chat/SFT transcript assembly, URL frontier dedup
    "q_ewma_anomaly", "q_chat_assemble", "q_url_dedup",
    # r12 operators (bench rows from birth): batch BM25 retrieval
    # eval, vocabulary JS drift, URL-graph PageRank
    # (q_tokenizer_fertility is absent on purpose: its oracle is a
    # fixture read, not a baseline)
    "q_retrieval_eval", "q_vocab_drift", "q_pagerank"]

# Comparable-WORK baselines for extras (r10 verdict item 1): these
# queries have no value-level oracle (minhash family), but the work a
# no-index oracle engine pays for the same JOB is SQL. For
# q_lsh_ingest_dedup that job is "screen one crawl batch against the
# corpus for near-dups": with no persisted index, the engine must
# re-shingle the corpus, candidate-join the batch's shingles against
# it (df-capped at 64 — the maxBucket hot-bucket drop's analog), and
# exact-Jaccard-verify. Spark's screen probes the PERSISTED band
# index instead — the advantage under measurement. Timed like the
# headliners, recorded under "extras" (outside comparable totals).
EXTRAS_BASELINE_SQL = {
    "q_lsh_ingest_dedup": """
      WITH batch AS (
        SELECT doc_id + 10000000 AS doc_id, text || ' zzrecrawlpad' AS text,
               'recrawl' AS batch_src
        FROM documents WHERE doc_id % 10 = 3
        UNION ALL
        SELECT doc_id + 20000000,
               array_to_string(list_reverse(
                 string_split_regex(trim(lower(text)), '\\s+')), ' '),
               'fresh_reversed'
        FROM documents WHERE doc_id % 10 = 4
      ), ctoks AS (
        SELECT doc_id, CASE WHEN length(trim(lower(text))) = 0
                 THEN CAST([] AS VARCHAR[])
                 ELSE string_split_regex(trim(lower(text)), '\\s+') END AS ts
        FROM documents
      ), csh AS (
        SELECT doc_id, CASE WHEN len(ts) = 0 THEN CAST([] AS VARCHAR[])
                 WHEN len(ts) <= 3 THEN [array_to_string(ts, ' ')]
                 ELSE list_distinct(list_transform(range(1, len(ts) - 1),
                        i -> array_to_string(ts[i:i+2], ' '))) END AS shs
        FROM ctoks
      ), btoks AS (
        SELECT doc_id, batch_src, CASE WHEN length(trim(lower(text))) = 0
                 THEN CAST([] AS VARCHAR[])
                 ELSE string_split_regex(trim(lower(text)), '\\s+') END AS ts
        FROM batch
      ), bsh AS (
        SELECT doc_id, batch_src, CASE WHEN len(ts) = 0 THEN CAST([] AS VARCHAR[])
                 WHEN len(ts) <= 3 THEN [array_to_string(ts, ' ')]
                 ELSE list_distinct(list_transform(range(1, len(ts) - 1),
                        i -> array_to_string(ts[i:i+2], ' '))) END AS shs
        FROM btoks
      ), cidx AS (
        SELECT doc_id AS hist_id, CAST(len(shs) AS BIGINT) AS hsz,
               unnest(shs) AS sh
        FROM csh
      ), kept AS (
        SELECT hist_id, hsz, sh FROM cidx
        WHERE sh NOT IN (SELECT sh FROM cidx GROUP BY sh HAVING count(*) > 64)
      ), bidx AS (
        SELECT doc_id, batch_src, CAST(len(shs) AS BIGINT) AS sz,
               unnest(shs) AS sh
        FROM bsh
      ), cand AS (
        SELECT b.doc_id, b.batch_src, k.hist_id, b.sz, k.hsz, count(*) AS inter
        FROM bidx b JOIN kept k USING (sh)
        GROUP BY 1, 2, 3, 4, 5
      ), flagged AS (
        SELECT DISTINCT doc_id, batch_src FROM cand
        WHERE CAST(inter AS DOUBLE) / (sz + hsz - inter) >= 0.5
      )
      SELECT b.batch_src, count(*) AS n_in,
             count(*) FILTER (f.doc_id IS NOT NULL) AS n_flagged
      FROM batch b LEFT JOIN flagged f
        ON b.doc_id = f.doc_id AND b.batch_src = f.batch_src
      GROUP BY 1""",
    # q_hll_store: the operator answers "distinct keys per partition /
    # overall, incrementally maintainable" — the comparable work for an
    # engine with no mergeable sketches is the exact answer
    "q_hll_store": """
      SELECT CAST(year(o_orderdate) AS BIGINT) AS part,
             count(*) AS n_rows,
             count(DISTINCT o_custkey) AS distinct_est
      FROM orders GROUP BY 1
      UNION ALL
      SELECT -1, count(*), count(DISTINCT o_custkey) FROM orders""",
    # r12 (verdict item 2): bloom ingest's job is "screen one batch
    # against an INDEXED historical corpus" — a production ingest
    # maintains the digest index incrementally and the batch arrives
    # MATERIALIZED, so both the digest build and the batch staging are
    # setup (untimed, mirroring Spark's stageTier) and the timed unit
    # is the batch anti-join both engines pay per batch
    "q_bloom_ingest_dedup": {
        "setup": ["""CREATE TABLE IF NOT EXISTS bloom_hist AS
            SELECT DISTINCT md5(text) AS dig FROM documents""",
                  """CREATE TABLE IF NOT EXISTS bloom_batch AS
            SELECT doc_id, text, source FROM documents WHERE doc_id % 10 = 3
            UNION ALL
            SELECT doc_id, 'fresh ' || CAST(doc_id AS VARCHAR) || ' ' || text,
                   source
            FROM documents"""],
        "query": """
          SELECT source, count(*) AS n_docs,
            CAST(sum(length(text)) AS BIGINT) AS n_chars
          FROM bloom_batch i
          WHERE NOT EXISTS (SELECT 1 FROM bloom_hist h WHERE h.dig = md5(i.text))
          GROUP BY source""",
    },
    # r12 (verdict item 3): the q5 staged-map form — the persisted
    # order→nation reduction is setup (the pipeline pays it once), the
    # timed unit is the fact probe + supplier join + agg both engines
    # pay per reporting query
    "q5_local_supplier_staged": {
        "setup": ["""CREATE TABLE IF NOT EXISTS q5map AS
            SELECT o_orderkey, c_nationkey
            FROM orders
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"""],
        "query": """
          SELECT n_name,
            round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          FROM lineitem
            JOIN q5map ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
            JOIN nation ON c_nationkey = n_nationkey
          GROUP BY n_name
          ORDER BY revenue DESC, n_name ASC""",
    },
    # r12 (verdict item 4): the HLL flip for the exact-distinct engine
    # floor — comparable work is DuckDB's own approx_count_distinct
    # over the same windowed agg
    "q_event_windows_approx": """
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
             event_type, count(*) AS n_events,
             round(sum(value), 2) AS sum_value,
             approx_count_distinct(user_id) AS n_users_est
      FROM events GROUP BY 1, 2""",
}

# extras whose comparable-work SQL IS an existing oracle entry:
# q_overlap_sketch answers the q_source_overlap question (the exact
# pairwise shared-shingle matrix) with KB sketches instead of a
# shingle exchange — the exact matrix SQL is the work it replaces
EXTRAS_BASELINE_FROM_ORACLE = {"q_overlap_sketch": "q_source_overlap"}

sf_dir = sys.argv[1]
oracle = json.load(open(sys.argv[2]))
runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
out_md = sys.argv[4] if len(sys.argv) > 4 else "BASELINE.md"

con = duckdb.connect()
threads = con.execute("SELECT current_setting('threads')").fetchone()[0]
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.isfile(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    elif os.path.isdir(p):  # Spark writes a directory of part files
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")

def time_sql(sql):
    best = None
    for _ in range(runs):
        t0 = time.monotonic()
        con.execute(sql).fetchall()
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    return best

timings, skipped = {}, []
for q in HEADLINERS:
    if q not in oracle:
        skipped.append(q)
        continue
    timings[q] = time_sql(oracle[q])

# comparable-work extras rows (outside the headline total). An entry
# is either a SQL string or {"setup": [sql, ...], "query": sql} — the
# setup statements run ONCE, untimed, before the timed query (the
# staged-artifact analog: Spark's bench pre-stages persisted indexes
# via stageTier, so the baseline's one-time builds must sit outside
# its timed unit too for the compare to be same-work).
extras_sql = dict(EXTRAS_BASELINE_SQL)
for q, src in EXTRAS_BASELINE_FROM_ORACLE.items():
    if src in oracle:
        extras_sql[q] = oracle[src]
extras = {}
for q, e in extras_sql.items():
    if isinstance(e, dict):
        for stmt in e.get("setup", []):
            con.execute(stmt)
        extras[q] = time_sql(e["query"])
    else:
        extras[q] = time_sql(e)
total = sum(timings.values())
lines = [
    "# BASELINE — oracle-engine (DuckDB) headliner timings",
    "",
    f"DuckDB {duckdb.__version__}, {threads} threads on a {os.cpu_count()}-core box,",
    f"parquet at `{sf_dir}`, min of {runs} runs per query, recorded by",
    "`tools/baseline.py`. Bench's `ratio` fields divide its medians by",
    "these timings.",
    "",
    "| query | seconds |",
    "|---|---|",
]
for q in HEADLINERS:
    if q in timings:
        lines.append(f"| {q} | {timings[q]:.3f} |")
    else:
        lines.append(f"| {q} | n/a (not SQL-expressible; no oracle) |")
lines += [
    f"| **total ({len(timings)} queries)** | **{total:.3f}** |",
]
if extras:
    lines += [
        "",
        "Extras (comparable-WORK SQL, no value oracle — outside the",
        "headline total; see EXTRAS_BASELINE_SQL in tools/baseline.py):",
        "",
        "| query | seconds |",
        "|---|---|",
    ] + [f"| {q} | {extras[q]:.3f} |" for q in sorted(extras)]
lines += [
    "",
    f"Skipped (no oracle): {', '.join(skipped) if skipped else 'none'}.",
    "When comparing BENCH totals, drop the skipped queries from the",
    "Spark total as well.",
    "",
    "```json",
    json.dumps({"sf": sf_dir, "runs": runs, "cpus": os.cpu_count(),
                "duckdb_threads": threads, "total_sec": round(total, 3),
                "queries": {k: round(v, 3) for k, v in timings.items()},
                "extras": {k: round(v, 3) for k, v in extras.items()},
                "skipped": skipped}),
    "```",
]
open(out_md, "w").write("\n".join(lines) + "\n")
print("\n".join(lines))
