package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions.{TextFunctions => TF}
import graft.sources.Readers
import Fixtures.{withRecrawls, stopwords, pround, stagePath, ensureBloomBatch}

/** Family G, `graft.operators` data curation: exact/bloom/line/URL
  * dedup, novelty, domain and Gopher rules, quality buckets,
  * heavy hitters, token budgets, DSIR and mixture sampling.
  */
object Curation {

  val gates: Seq[Gate] = Seq(

    Gate("q_sample_per_key", (s, d) =>
      // 3 lowest-id docs per language: per-key top-n via WindowGroupLimit
      graft.operators.Sampling.perKey(
          Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
          Seq("lang"), Seq(col("doc_id").asc), n = 3),
      oracle = Some("""SELECT doc_id, lang, n_chars FROM (
           SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id ASC) AS rn
           FROM documents) t
         WHERE rn <= 3""")),

    Gate("q_heavy_hitters", (s, d) =>
      // key-skew diagnostic on the events stream's user key
      Profiler.heavyHitters(Tables.events(s, d), Seq("user_id"), topN = 10),
      oracle = Some("""WITH c AS (
           SELECT user_id, count(*) AS n FROM events GROUP BY user_id
         ), t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM events)
         SELECT user_id, n,
           floor(n / total * 10000.0 + 0.5) / 10000.0 AS share
         FROM c, t
         ORDER BY n DESC, user_id ASC
         LIMIT 10""")),

    Gate("q_sample_global", (s, d) =>
      // seeded ORDER BY RAND() LIMIT n analogue; plans as TakeOrdered.
      // Gate uses the portable md5 ordering (xxhash64 = production default)
      graft.operators.Sampling.globalSample(
          Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
          "doc_id", n = 25,
          ordering = Some(graft.operators.Sampling.portableOrdering("doc_id"))),
      oracle = Some("""SELECT doc_id, lang, n_chars FROM documents
         ORDER BY md5(CAST(doc_id AS VARCHAR) || '#0') ASC, doc_id ASC
         LIMIT 25""")),

    Gate("q_shuffle_corpus", (s, d) =>
      // deterministic training-order shuffle: portable md5 key →
      // shard (leading 32 bits) + per-shard window position; no
      // corpus-wide ordering anywhere (spec plan-asserts the window
      // is partitioned). The oracle reproduces the exact assignment.
      operators.CorpusShuffle.shuffle(
          Tables.documents(s, d).select("doc_id"), "doc_id", nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos_in_shard")),
      oracle = Some("""WITH k AS (
           SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '#0') AS k
           FROM documents
         ), s AS (
           SELECT doc_id, k,
             CAST(('0x' || substr(k, 1, 8))::BIGINT % 8 AS INT) AS shard
           FROM k
         )
         SELECT CAST(doc_id AS BIGINT) AS doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
             AS BIGINT) AS pos_in_shard
         FROM s"""),
      // benched: a corpus-wide shard-window shuffle
      bench = Role.Headline,
      ceiling = Some(Ceiling(1, 1, bnljOk = false))),

    Gate("q_line_dedup", (s, d) =>
      // CCNet-style boilerplate line removal. Gate texts are
      // single-line, so the gate plants a deterministic multi-line
      // structure (mirrored in the oracle): a doc-specific line, a
      // rotating 1-in-3 banner, a second doc line, a repeated first
      // line on every 4th doc (within-doc dup), and a footer on ALL
      // docs. Non-vacuous by construction at every SF: the footer
      // (100% df) and banners (33% df) MUST drop, the repeated first
      // line MUST dedup, and doc-specific lines survive — constant
      // or passthrough regressions flip the row hash red.
      operators.LineDedup.clean(
        Tables.documents(s, d).select(col("doc_id"),
          concat(
            substring(col("text"), 1, 80), lit("\n"),
            element_at(array(lit("subscribe to our newsletter"),
              lit("all rights reserved"), lit("click here to continue")),
              (pmod(col("doc_id"), lit(3)) + 1).cast("int")), lit("\n"),
            substring(col("text"), 81, 80), lit("\n"),
            when(pmod(col("doc_id"), lit(4)) === 0,
              concat(substring(col("text"), 1, 80), lit("\n")))
              .otherwise(lit("")),
            lit("copyright 2026 example corp")).as("text")),
        maxDfPct = 5),
      oracle = Some("""WITH aug AS (
           SELECT doc_id,
             substr(text, 1, 80) || chr(10) ||
             CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN 'subscribe to our newsletter'
               WHEN 1 THEN 'all rights reserved'
               ELSE 'click here to continue' END || chr(10) ||
             substr(text, 81, 80) || chr(10) ||
             CASE WHEN doc_id % 4 = 0 THEN substr(text, 1, 80) || chr(10)
               ELSE '' END ||
             'copyright 2026 example corp' AS text
           FROM documents
         ), sp AS (
           SELECT doc_id, string_split(text, chr(10)) AS ls FROM aug
         ), lines AS (
           SELECT doc_id, unnest(ls) AS line,
             unnest(range(1, len(ls) + 1)) AS pos
           FROM sp
         ), firsts AS (
           SELECT doc_id, line, min(pos) AS pos
           FROM lines GROUP BY doc_id, line
         ), df AS (
           SELECT line, count(*) AS n_docs FROM firsts GROUP BY line
         ), total AS (
           SELECT count(*) AS n FROM aug
         ), kept AS (
           SELECT f.doc_id, f.line, f.pos
           FROM firsts f JOIN df ON f.line = df.line CROSS JOIN total
           WHERE df.n_docs * 100 <= total.n * 5
         )
         SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_kept,
           string_agg(line, chr(10) ORDER BY pos) AS text_clean
         FROM kept GROUP BY doc_id"""),
      // benched: a corpus-wide line-keyed grid shuffle
      bench = Role.Headline,
      // the BNLJ is the 1-row df-threshold broadcast
      ceiling = Some(Ceiling(3, 2, bnljOk = true))),

    Gate("q_heavy_hitters_sketch", (s, d) =>
      // Count-Min sketch probe under the cross-engine check harness
      // (the q_profile_approx_check pattern): the exact top-20 terms
      // match DuckDB row-for-row, and the CMS estimates fold into two
      // booleans the oracle pins TRUE (CMS never undercounts; stays
      // within the eps·N envelope). The sketch is the 100 TB shape
      // for frequency questions: a fixed d×w grid partial-aggregated
      // per partition, ONE ~KB blob per partition on the exchange —
      // vocabulary-independent, unlike the exact top-k whose
      // exchange is sized by the vocabulary.
      // eps=1e-3 (7x2000 grid, ~112 KB): the grid a 100 TB run would
      // pick (per-executor-cache-resident; still a ±0.1%·N envelope).
      // r10 A/B sf10: sketch pass 0.78-0.85 s at eps=1e-4 → 0.60-
      // 0.66 s at 1e-3; exact side 0.49-0.56 s; harness ≈ their sum —
      // the residual vs the 0.31 s oracle is that the CHECK HARNESS
      // runs both passes while the oracle runs only the exact one
      // (the q_hll_store_check ≥2x-by-construction class).
      HeavyHitters.topTermsSketchCheck(s, Tables.documents(s, d), "text",
        k = 20, eps = 0.001),
      oracle = Some("""WITH tok AS (
           SELECT unnest(CASE WHEN length(trim(lower(text))) = 0
                    THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(lower(text)), '\s+') END) AS term
           FROM documents
         ), top AS (
           SELECT term, CAST(count(*) AS BIGINT) AS cnt
           FROM tok GROUP BY term
           ORDER BY cnt DESC, term LIMIT 20
         )
         SELECT term, cnt, TRUE AS est_ge_exact, TRUE AS est_within_eps
         FROM top"""),
      // benched: sketch-per-partition exchange + exact top-k
      bench = Role.Headline,
      // the k-row check harness is eagerly materialized and its
      // top-k cache released: a local relation at the gate boundary
      ceiling = Some(Ceiling(0, 1, bnljOk = false))),

    Gate("q_token_budget", (s, d) =>
      // token-budget data mixing: per-source quotas ∝ token mass,
      // docs drawn in portable md5 order until the quota crosses
      // (boundary doc included). Pure-SQL selection rule → full
      // oracle; the prefix sum runs the SequencePacker two-level
      // scan so no corpus-sized unpartitioned window exists (PlanSpec).
      TokenBudget.select(Tables.documents(s, d), "doc_id", "source",
        "text", budget = 5000),
      oracle = Some("""WITH base AS (
           SELECT doc_id, source,
             CAST(CASE WHEN length(trim(lower(text))) = 0 THEN 0
               ELSE len(string_split_regex(trim(lower(text)), '\s+'))
               END AS BIGINT) AS n_tok,
             md5(CAST(doc_id AS VARCHAR) || '#0') AS ord
           FROM documents
         ), src AS (
           SELECT source, sum(n_tok) AS src_tok FROM base GROUP BY source
         ), tot AS (
           SELECT sum(src_tok) AS all_tok FROM src
         ), q AS (
           SELECT source,
             CAST(floor(5000.0 * (CAST(src_tok AS DOUBLE)
               / CAST(all_tok AS DOUBLE))) AS BIGINT) AS quota
           FROM src CROSS JOIN tot
         ), w AS (
           SELECT doc_id, source, n_tok,
             coalesce(sum(n_tok) OVER (PARTITION BY source
               ORDER BY ord, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS tok_before
           FROM base
         )
         SELECT CAST(w.doc_id AS BIGINT) AS doc_id, w.source, w.n_tok
         FROM w JOIN q ON w.source = q.source
         WHERE w.tok_before < q.quota"""),
      // benched: two corpus exchanges
      bench = Role.Headline,
      // the BNLJ is the documented 1-row stat frame
      ceiling = Some(Ceiling(6, 4, bnljOk = true))),

    Gate("q_dsir_weights", (s, d) =>
      // DSIR importance weights (Xie et al. 2023): mean hashed-unigram
      // log-ratio ln(p_target/p_source) per doc, target = the English
      // subset. md5 bucketing + integerized log-ratios make every
      // weight engine-portable → full DuckDB oracle. One bucket-keyed
      // token exchange; the B-row model broadcasts (PlanSpec).
      // scan spread (graft.Spread): both DSIR passes (the pass-1
      // model job and the scan-pure scoring projection) otherwise run
      // off a single-split tier scan; at-scale shape pinned by the
      // regime test
      graft.operators.Dsir.weights(
        Spread.ifNarrow(Tables.documents(s, d)), "doc_id",
        "text", col("lang") === "en"),
      oracle = Some("""WITH t AS (
           SELECT doc_id, lang = 'en' AS is_t,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
           FROM documents
         ), tok AS (
           SELECT doc_id, is_t, unnest(toks) AS term FROM t
         ), tok2 AS (
           SELECT doc_id, is_t,
             ('0x' || substr(md5(term || '#13'), 1, 8))::BIGINT % 1024 AS b
           FROM tok WHERE length(term) > 0
         ), dist AS (
           SELECT b, CAST(count(*) AS BIGINT) AS src,
             CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS tgt
           FROM tok2 GROUP BY b
         ), tot AS (
           SELECT sum(src) AS src_tot, sum(tgt) AS tgt_tot FROM dist
         ), ilr AS (
           SELECT b,
             CAST(floor(ln(
               ((tgt + 1.0) / (tgt_tot + 1024.0)) /
               ((src + 1.0) / (src_tot + 1024.0))) * 1000000.0 + 0.5)
               AS BIGINT) AS ilr
           FROM dist, tot
         ), pd AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok, sum(ilr) AS s
           FROM tok2 JOIN ilr USING (b) GROUP BY doc_id
         )
         SELECT d.doc_id, coalesce(n_tok, 0) AS n_tok,
           CASE WHEN n_tok IS NULL THEN 0.0
                ELSE floor(CAST(s AS DOUBLE) / (n_tok * 1000000.0)
                       * 10000.0 + 0.5) / 10000.0 END AS dsir_logratio
         FROM documents d LEFT JOIN pd USING (doc_id)"""),
      // benched: one reused token exchange + doc agg
      bench = Role.Headline,
      // the returned frame is a scan-pure narrow projection (the
      // B-row model is a separate bounded pass-1 job collected
      // before plan construction, as Ivf collects its cell list);
      // the one exchange is the small-regime scan spread (a
      // round-robin exchange of the tiny tier file so the fused
      // pass fills the cores); PlanSpec's at-scale test pins 0 when
      // the scan is wide
      ceiling = Some(Ceiling(1, 1, bnljOk = false))),

    Gate("q_dsir_sample", (s, d) =>
      // the resampling half: keep docs with portable-uniform
      // u < sigmoid(3·weight) — a pure per-row filter (never a
      // corpus-wide Gumbel top-k sort), tilting the corpus toward
      // the target distribution
      graft.operators.Dsir.sample(Tables.documents(s, d), "doc_id",
        "text", col("lang") === "en"),
      oracle = Some("""WITH t AS (
           SELECT doc_id, lang = 'en' AS is_t,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
           FROM documents
         ), tok AS (
           SELECT doc_id, is_t, unnest(toks) AS term FROM t
         ), tok2 AS (
           SELECT doc_id, is_t,
             ('0x' || substr(md5(term || '#13'), 1, 8))::BIGINT % 1024 AS b
           FROM tok WHERE length(term) > 0
         ), dist AS (
           SELECT b, CAST(count(*) AS BIGINT) AS src,
             CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS tgt
           FROM tok2 GROUP BY b
         ), tot AS (
           SELECT sum(src) AS src_tot, sum(tgt) AS tgt_tot FROM dist
         ), ilr AS (
           SELECT b,
             CAST(floor(ln(
               ((tgt + 1.0) / (tgt_tot + 1024.0)) /
               ((src + 1.0) / (src_tot + 1024.0))) * 1000000.0 + 0.5)
               AS BIGINT) AS ilr
           FROM dist, tot
         ), pd AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok, sum(ilr) AS s
           FROM tok2 JOIN ilr USING (b) GROUP BY doc_id
         ), w AS (
           SELECT d.doc_id,
             CASE WHEN n_tok IS NULL THEN 0.0
                  ELSE floor(CAST(s AS DOUBLE) / (n_tok * 1000000.0)
                         * 10000.0 + 0.5) / 10000.0 END AS dsir_logratio
           FROM documents d LEFT JOIN pd USING (doc_id)
         ), p AS (
           SELECT doc_id, dsir_logratio,
             floor(1.0 / (1.0 + exp(dsir_logratio * -3.0))
               * 10000.0 + 0.5) / 10000.0 AS accept_p
           FROM w
         )
         SELECT doc_id, dsir_logratio, accept_p FROM p
         WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#29'), 1, 8))::BIGINT
                 / 4294967296.0 < accept_p""")),

    Gate("q_dedup_exact", (s, d) =>
      // the 500-doc gate corpora carry no planted duplicates (the
      // generator plants 1/625), so the gate re-crawls a deterministic
      // 10% of docs under new ids — exact-dup groups of size >= 2 now
      // exist at every SF and the oracle mirrors the same augmentation
      Deduplicator.exactGroups(
        withRecrawls(Tables.documents(s, d).select("doc_id", "text")),
        "doc_id", "text", c => md5(c.cast("binary"))),
      oracle = Some("""WITH off AS (
           SELECT CAST(coalesce(power(10, length(CAST(greatest(coalesce(max(doc_id), 0), 0) AS VARCHAR))), 1000000) AS BIGINT) AS v
           FROM documents
         ), aug AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + (SELECT v FROM off), text FROM documents
           WHERE doc_id % 10 = 3
         )
         SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
           count(*) AS group_size
         FROM aug GROUP BY md5(text)"""),
      bench = Role.Headline,
      // the corpus-derived recrawl offset (the max(doc_id) stat
      // frame) adds a shuffle, a leaf and a 1-row BNLJ
      ceiling = Some(Ceiling(2, 3, bnljOk = true))),

    Gate("q_dedup_drop", (s, d) =>
      // surviving ids after exact-dup removal (left_semi against keepers)
      Deduplicator.exact(
        withRecrawls(Tables.documents(s, d).select("doc_id", "text", "lang", "n_chars")),
        "doc_id", "text")
        .select("doc_id", "lang", "n_chars"),
      oracle = Some("""WITH off AS (
           SELECT CAST(coalesce(power(10, length(CAST(greatest(coalesce(max(doc_id), 0), 0) AS VARCHAR))), 1000000) AS BIGINT) AS v
           FROM documents
         ), aug AS (
           SELECT doc_id, text, lang, n_chars FROM documents
           UNION ALL
           SELECT doc_id + (SELECT v FROM off), text, lang, n_chars FROM documents
           WHERE doc_id % 10 = 3
         )
         SELECT doc_id, lang, n_chars FROM aug
         WHERE doc_id IN (SELECT min(doc_id) FROM aug GROUP BY md5(text))""")),

    Gate("q_dedup_keep_best", (s, d) =>
      // canonical selection (r10): exact dedup keeping the HIGHEST-
      // priority copy per content group (priority = lower source
      // suffix wins, a metadata score — content-derived scores tie on
      // byte-identical text), lowest doc_id breaking ties. The staged
      // recrawl slice shares its original's source (id tiebreak must
      // keep the first crawl); the generator's natural 1/625 dup
      // pairs straddle ADJACENT round-robin sources (priority must
      // pick the lower suffix regardless of id). Kept rows fold to a
      // per-source profile
      Deduplicator.keepBest(
        withRecrawls(Tables.documents(s, d).select("doc_id", "text", "source")),
        "doc_id", "text",
        score = lit(0) - substring(col("source"), 4, 6).cast("int"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("n_chars")),
      oracle = Some("""WITH off AS (
           SELECT CAST(coalesce(power(10, length(CAST(greatest(coalesce(max(doc_id), 0), 0) AS VARCHAR))), 1000000) AS BIGINT) AS v
           FROM documents
         ), aug AS (
           SELECT doc_id, text, source FROM documents
           UNION ALL
           SELECT doc_id + (SELECT v FROM off), text, source FROM documents
           WHERE doc_id % 10 = 3
         ), ranked AS (
           SELECT *, row_number() OVER (PARTITION BY md5(text)
             ORDER BY CAST(substr(source, 4) AS INT) ASC, doc_id ASC) AS rn
           FROM aug
         )
         SELECT source, count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars
         FROM ranked WHERE rn = 1 GROUP BY source"""),
      // benched: digest exchange with a WindowGroupLimit partial
      // top-1
      bench = Role.Headline,
      // digest exchange with a WindowGroupLimit partial below it +
      // source agg; the BNLJ is the 1-row recrawl offset broadcast;
      // the leaves are staged-batch cache probes
      ceiling = Some(Ceiling(3, 5, bnljOk = true))),

    Gate("q_ngram_novelty", (s, d) => {
      // n-gram novelty vs a reference corpus (r10): per candidate
      // doc, the fraction of its distinct 3-grams absent from the
      // reference slice (docs ≡ 0 mod 5) — the memorization/
      // recombination diagnostic; one shingle-keyed anti-join, per-doc
      // shingle sets deduped in-row before the explode
      val docs = Tables.documents(s, d)
      graft.operators.Novelty.report(
        docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L),
        docs.filter(pmod(col("doc_id"), lit(5L)) === 0L),
        "doc_id", "text", k = 3)
    },
      oracle = Some("""WITH t AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS ts
           FROM documents
         ), sh AS (
           SELECT doc_id, doc_id % 5 = 0 AS is_ref,
             CASE WHEN len(ts) = 0 THEN CAST([] AS VARCHAR[])
                  WHEN len(ts) <= 3 THEN [array_to_string(ts, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ts) - 1),
                         i -> array_to_string(ts[i:i+2], ' ')))
             END AS shs
           FROM t
         ), ref AS (
           SELECT DISTINCT unnest(shs) AS sh FROM sh WHERE is_ref
         ), cand AS (
           SELECT doc_id, unnest(shs) AS sh FROM sh WHERE NOT is_ref
         ), novel AS (
           SELECT doc_id, count(*) AS n_novel FROM cand c
           WHERE NOT EXISTS (SELECT 1 FROM ref r WHERE r.sh = c.sh)
           GROUP BY doc_id
         ), totals AS (
           SELECT doc_id, CAST(len(shs) AS BIGINT) AS n_grams
           FROM sh WHERE NOT is_ref
         )
         SELECT t.doc_id, t.n_grams,
           CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
           CASE WHEN t.n_grams = 0 THEN 0.0
                ELSE floor(CAST(coalesce(n.n_novel, 0) AS DOUBLE) / t.n_grams
                       * 10000 + 0.5) / 10000.0 END AS novelty
         FROM totals t LEFT JOIN novel n USING (doc_id)"""),
      // benched: a shingle-keyed anti-join
      bench = Role.Headline,
      // reference distinct-shingle exchange, shingle-keyed anti
      // join, doc-keyed count + totals join
      ceiling = Some(Ceiling(5, 4, bnljOk = false))),

    Gate("q_bloom_ingest_dedup", (s, d) => {
      // batch form of the continuous-ingest dedup gate, through the
      // bloom-prefilter recipe: the corpus membership sketch
      // (~10 bits/doc) + the corpus digest table are STAGED once per
      // tier (BloomDedup.ensureIngestIndex fingerprint stamp — the
      // r11 verdict item 2 rework, the LshIngest precedent): a
      // production ingest maintains both incrementally, so its
      // per-batch cost is screen+verify ONLY, never a corpus re-scan.
      // The timed unit here is exactly that: the incoming batch (full
      // recrawl — must vanish — plus per-id-salted fresh docs — must
      // survive) probes the on-disk sketch codegen'd, bloom MISSES
      // pass join-free, and only hits (~9% + fpp tail) anti-join the
      // persisted 16 B/row digest table. Exact regardless of fpp, so
      // the oracle stays the same NOT EXISTS as q_stream_ingest_dedup.
      // Bench pre-stages via SparkEntry.stageTier; standalone runs
      // self-stage on first call. History: through r11 the gate built
      // the sketch AND re-digested the corpus for the verify side
      // inside the timed query — the r9 sf30 decomposition (cache
      // 0.54 s + sketch 0.80 s + probe/verify 1.0-1.6 s vs DuckDB
      // 0.631 s) shows ~55% of its 3.35x ratio was one-time build
      // work the baseline never performs; the same-work baseline
      // (EXTRAS_BASELINE_SQL: DuckDB probing a pre-built digest
      // table) now compares batch cost to batch cost.
      // The staged batch is cached as ONE relation: left as a raw
      // union the optimizer clones the probe filter AND the verify
      // anti-join into each branch. A real ingest batch arrives
      // materialized (one scan), so the gate stages it the same way.
      // Sketch sizing from file METADATA (bytesOnDisk/64; est and
      // bits over-sized TOGETHER keeps the hash count, fpp ~1%,
      // Spark clamps at 8 MB) — no count job runs. Upper cap keeps
      // est*10 overflow-safe (bytesOnDisk returns Long.MaxValue for
      // an unreadable path).
      val est = math.min(math.max(Tables.bytesOnDisk(s, d, "documents") / 64L, 1024L),
        1L << 26)
      val idx = stagePath("bloomidx", d)
      BloomDedup.ensureIngestIndex(
        Tables.documents(s, d).select("doc_id", "text"), "text", idx,
        est, est * 10L, sourceFp = Tables.sourceStamp(s, d, "documents"))
      // the incoming batch is STAGED parquet too (a crawl batch
      // arrives materialized; the two corpus text scans that derive
      // it are harness): the timed unit is read batch → bloom probe →
      // verify → agg, and the DuckDB baseline stages the same batch
      // as an untimed setup table. The digest side broadcasts under
      // incrementalKeepStaged's size gate (single-pass plan); past
      // the cap it flips to the miss/verify branch split.
      val batch = ensureBloomBatch(s, d)
      BloomDedup.incrementalKeepStaged(Readers.parquet(s, batch), "text", idx)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("n_chars"))
    },
      oracle = Some("""WITH hist AS (
           SELECT DISTINCT md5(text) AS dig FROM documents
         ), incoming AS (
           SELECT text, source FROM documents WHERE doc_id % 10 = 3
           UNION ALL
           SELECT 'fresh ' || CAST(doc_id AS VARCHAR) || ' ' || text AS text, source
           FROM documents
         ), novel AS (
           SELECT i.* FROM incoming i
           WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.dig = md5(i.text))
         )
         SELECT source, count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars
         FROM novel GROUP BY source"""),
      // probes staged sketch + digest artifacts; the same-work
      // baseline (DuckDB anti-join against a pre-built digest
      // table) is under the baseline's extras, since a from-raw
      // headline compare would charge Spark for builds the oracle
      // never performs
      bench = Role.Extra,
      // the batch and the digest index are persisted artifacts, so
      // the timed plan is ONE batch-parquet scan (bloom flag, md5
      // only on hits) + the broadcast digest left join + the source
      // agg. Past the broadcast cap the plan flips to the
      // miss/verify branch split (Round12OpsSpec checks its
      // equality)
      ceiling = Some(Ceiling(1, 2, bnljOk = false))),

    Gate("q_domain_policy", (s, d) => {
      // C4/RefinedWeb URL hygiene: the corpus carries no URL column,
      // so the gate synthesizes a deterministic one (140 hosts out of
      // source x doc_id%7; every fifth doc sits on a cdn. subdomain) —
      // the oracle builds the identical string. The suffix blocklist
      // must remove src1-3.example.com AND cdn.src1-3.example.com;
      // the per-host cap keeps 3 docs by portable-md5 draw (the
      // verify-SF host-count max is 4, so the cap observably binds).
      val docs = Tables.documents(s, d).withColumn("url",
        concat(lit("https://"),
          when(pmod(col("doc_id"), lit(5L)) === 0, lit("cdn.")).otherwise(lit("")),
          col("source"), lit("-"),
          pmod(col("doc_id"), lit(7L)).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string")))
      graft.operators.DomainPolicy.applyPolicy(docs, "url", "doc_id",
          blocked = Seq("src1-3.example.com", "src2-1.example.com"),
          maxPerHost = 3)
        .select(col("doc_id"), col("host"))
    },
      oracle = Some("""WITH u AS (
           SELECT doc_id,
             lower(CASE WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END
               || source || '-' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.com') AS host
           FROM documents
         ), unblocked AS (
           SELECT doc_id, host FROM u
           WHERE NOT EXISTS (
             SELECT 1 FROM (VALUES ('src1-3.example.com'),
               ('src2-1.example.com')) b(h)
             WHERE u.host = b.h OR u.host LIKE '%.' || b.h)
         ), ranked AS (
           SELECT doc_id, host,
             row_number() OVER (PARTITION BY host
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM unblocked
         )
         SELECT doc_id, host FROM ranked WHERE rn <= 3"""),
      // benched: one host-keyed capped window
      bench = Role.Headline,
      // exactly the one host-keyed capped window; 2 leaves since
      // the hostless pass-through branch (null-host docs skip the
      // window) re-reads the scan
      ceiling = Some(Ceiling(1, 2, bnljOk = false))),

    Gate("q_domain_policy_big", (s, d) => {
      // the UT1-SCALE blocklist path (r11 verdict item 7): the same
      // corpus and policy, but the blocklist is the 2 live entries
      // padded with 2000 synthetic .invalid domains — past the
      // InlineBlocklistCap switch, so applyPolicyAuto takes the
      // explode+semi-join form (DISTINCT hosts explode suffixes and
      // join the list; the literal form would bake megabytes into the
      // plan at real UT1 size). The padding matches nothing, so the
      // oracle is q_domain_policy's verbatim — the two forms' output
      // equality is ALSO spec-pinned on the same corpus
      // (Round12OpsSpec).
      val docs = Tables.documents(s, d).withColumn("url",
        concat(lit("https://"),
          when(pmod(col("doc_id"), lit(5L)) === 0, lit("cdn.")).otherwise(lit("")),
          col("source"), lit("-"),
          pmod(col("doc_id"), lit(7L)).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string")))
      val bigList = Seq("src1-3.example.com", "src2-1.example.com") ++
        (1 to 2000).map(i => s"blocked$i.invalid")
      graft.operators.DomainPolicy.applyPolicyAuto(docs, "url", "doc_id",
          blocked = bigList, maxPerHost = 3)
        .select(col("doc_id"), col("host"))
    },
      // the big-blocklist form: identical semantics (the 2000 synthetic
      // .invalid pads match no host), so the oracle is the same SQL
      oracle = Some("""WITH u AS (
           SELECT doc_id,
             lower(CASE WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END
               || source || '-' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.com') AS host
           FROM documents
         ), unblocked AS (
           SELECT doc_id, host FROM u
           WHERE NOT EXISTS (
             SELECT 1 FROM (VALUES ('src1-3.example.com'),
               ('src2-1.example.com')) b(h)
             WHERE u.host = b.h OR u.host LIKE '%.' || b.h)
         ), ranked AS (
           SELECT doc_id, host,
             row_number() OVER (PARTITION BY host
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM unblocked
         )
         SELECT doc_id, host FROM ranked WHERE rn <= 3"""),
      // distinct-host dedup, suffix semi-join, host anti-join, cap
      // window, and the hostless pass-through union (6 leaves incl.
      // the blocklist local relation); every exchange is host- or
      // suffix-keyed, bounded by host cardinality, never doc count
      ceiling = Some(Ceiling(5, 6, bnljOk = false))),

    Gate("q_compression_quality", (s, d) =>
      // deflate-compressibility templatedness proxy: zlib's 32 KB
      // window catches long-range repetition bounded n-gram counters
      // cannot; zlib is not SQL-expressible -> rows-only, with the
      // compressible-vs-prose ordering and ratio bounds spec-pinned
      graft.operators.CompressionQuality.scores(
        Tables.documents(s, d), "doc_id", "text"),
      // exact expected per-doc deflate lengths from an INDEPENDENT
      // Python zlib (tools/compress_oracle.py — same zlib stream as
      // the JDK Deflater at pinned level 6, verified byte-identical),
      // fixtures keyed like q_bpe_train's (r10 verdict item 6)
      oracle = Some("""SELECT doc_id, raw_bytes, deflate_bytes, ratio
         FROM read_parquet('/root/repo/tools/fixtures/deflate_*.parquet')
         WHERE n_docs = (SELECT count(*) FROM documents)
           AND sum_chars = (SELECT sum(n_chars) FROM documents)"""),
      // zlib is not SQL-expressible, so there is no oracle-engine
      // baseline
      bench = Role.Extra),

    Gate("q_gopher_rules", (s, d) => {
      // Gopher/MassiveText document-shape rules (Rae et al. 2021
      // §A1.1) as one fused scan pass. The corpus rows run through
      // unfiltered (their signals computed honestly); four planted
      // docs under high ids — bullet-led, ellipsis-ended, too-short,
      // symbol-heavy — guarantee each rule has a violator at every
      // SF, plus one constructed doc that PASSES all seven rules, so
      // a threshold or tokenizer regression flips the row hash red.
      // Planting is literal VALUES mirrored verbatim in the oracle.
      import s.implicits._
      val planted = Seq(
        (20000001L, ("- alpha beta gamma delta epsilon zeta eta theta iota kappa\n" * 10)),
        (20000002L, ("we continued into the night...\n" * 10)),
        (20000003L, "too short"),
        (20000004L, ("the tag # of # and # that # have # with #\n" * 6)),
        (20000005L, ("the quick brown fox jumps over that lazy dog to be of and have with great zeal " * 5)))
        .toDF("doc_id", "text")
      // scan spread of the corpus side only (graft.Spread): the fused
      // rules pass otherwise runs as ONE task off a single-split tier
      // file; at-scale zero-shuffle shape pinned by the regime test
      GopherRules.signals(
        Spread.ifNarrow(
          Tables.documents(s, d).select("doc_id", "text")).unionByName(planted))
    },
      oracle = Some("""WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT 20000001,
             repeat('- alpha beta gamma delta epsilon zeta eta theta iota kappa' || chr(10), 10)
           UNION ALL SELECT 20000002,
             repeat('we continued into the night...' || chr(10), 10)
           UNION ALL SELECT 20000003, 'too short'
           UNION ALL SELECT 20000004,
             repeat('the tag # of # and # that # have # with #' || chr(10), 6)
           UNION ALL SELECT 20000005,
             repeat('the quick brown fox jumps over that lazy dog to be of and have with great zeal ', 5)
         ), t AS (
           SELECT doc_id, text,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks,
             string_split(text, chr(10)) AS lns
           FROM corpus
         ), sig AS (
           SELECT doc_id,
             len(toks) AS word_count,
             len(list_filter(toks, x -> list_contains(
               ['the','be','to','of','and','that','have','with'], x))) AS stopword_hits,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                       / len(toks) END AS alpha_word_ratio,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                       / len(toks) END AS mean_word_len,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(len(regexp_extract_all(text, '#|\.{3}|…')) AS DOUBLE)
                       / len(toks) END AS symbol_word_ratio,
             CAST(len(list_filter(lns, x -> regexp_matches(x, '^\s*[-*•]'))) AS DOUBLE)
               / len(lns) AS bullet_line_ratio,
             CAST(len(list_filter(lns, x -> regexp_matches(x, '(\.{3}|…)\s*$'))) AS DOUBLE)
               / len(lns) AS ellipsis_line_ratio
           FROM t
         )
         SELECT doc_id, word_count, stopword_hits,
           floor(alpha_word_ratio*10000+0.5)/10000 AS alpha_word_ratio,
           floor(mean_word_len*100+0.5)/100 AS mean_word_len,
           floor(symbol_word_ratio*10000+0.5)/10000 AS symbol_word_ratio,
           floor(bullet_line_ratio*10000+0.5)/10000 AS bullet_line_ratio,
           floor(ellipsis_line_ratio*10000+0.5)/10000 AS ellipsis_line_ratio,
           ((word_count BETWEEN 50 AND 100000)
             AND (mean_word_len BETWEEN 3.0 AND 10.0)
             AND symbol_word_ratio <= 0.1
             AND bullet_line_ratio <= 0.9
             AND ellipsis_line_ratio <= 0.3
             AND alpha_word_ratio >= 0.8
             AND stopword_hits >= 2) AS keep
         FROM sig"""),
      // benched: a full corpus scan pass
      bench = Role.Headline,
      // a pure scan pass; the one exchange is the small-regime scan
      // spread (a round-robin exchange of the tiny tier file so the
      // fused pass fills the cores); PlanSpec's at-scale test pins
      // 0 when the scan is wide
      ceiling = Some(Ceiling(1, 2, bnljOk = false))),

    Gate("q_ccnet_buckets", (s, d) =>
      // CCNet-style relative quality bucketing: head/middle/tail by
      // the score's percentile WITHIN ITS LANGUAGE (value-based, ties
      // share a bucket). Exact without any doc-keyed shuffle: the
      // integerized score makes the per-lang histogram bounded, the
      // cumulative runs over histogram rows, and docs join the
      // broadcast (lang, score) percentile table in-scan.
      graft.operators.QuantileFilter.buckets(
        Tables.documents(s, d).select("doc_id", "lang", "text"),
        "lang", TF.qualityScore(col("text"), stopwords))
        .select(col("doc_id"), col("lang"), col("score"),
          pround(col("frac_better"), 4).as("frac_better"), col("bucket")),
      oracle = Some("""WITH t AS (
           SELECT doc_id, lang,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks,
             text
           FROM documents
         ), q AS (
           SELECT doc_id, lang,
             floor((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
               + (CASE WHEN length(text) = 0 THEN 0.0
                       ELSE CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text) END)
               + least((CASE WHEN len(toks) = 0 THEN 0.0
                             ELSE CAST(len(list_filter(toks,
                                    x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE)
                                  / len(toks) END) * 4.0, 1.0)
               ) / 3.0 * 10000.0 + 0.5) / 10000.0 AS score
           FROM t
         ), h AS (
           SELECT lang, score, CAST(count(*) AS BIGINT) AS c
           FROM q GROUP BY 1, 2
         ), cum AS (
           SELECT lang, score,
             coalesce(sum(c) OVER (PARTITION BY lang ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS better,
             sum(c) OVER (PARTITION BY lang) AS n
           FROM h
         )
         SELECT q.doc_id, q.lang, q.score,
           floor(CAST(better AS DOUBLE) / n * 10000.0 + 0.5) / 10000.0
             AS frac_better,
           CASE WHEN CAST(better AS DOUBLE) / n < 0.3 THEN 'head'
                WHEN CAST(better AS DOUBLE) / n < 0.7 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM q JOIN cum ON q.lang = cum.lang AND q.score = cum.score"""),
      // benched: histogram exchange + broadcast-join scan
      bench = Role.Headline,
      ceiling = Some(Ceiling(2, 2, bnljOk = false))),

    Gate("q_weighted_sample", (s, d) =>
      // quality-weighted importance sampling: keep each doc with
      // probability = its quality score, via the portable md5 uniform
      // draw — a pure narrow filter, reproducible under retries
      graft.operators.Sampling.weightedSample(
        Tables.documents(s, d).select(col("doc_id"),
          TF.qualityScore(col("text"), stopwords).as("quality")),
        "doc_id", "quality", salt = 7),
      oracle = Some("""WITH t AS (
           SELECT doc_id, text,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
           FROM documents
         ), q AS (
           SELECT doc_id,
             floor((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
               + (CASE WHEN length(text) = 0 THEN 0.0
                       ELSE CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text) END)
               + least((CASE WHEN len(toks) = 0 THEN 0.0
                             ELSE CAST(len(list_filter(toks,
                                    x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE)
                                  / len(toks) END) * 4.0, 1.0)
               ) / 3.0 * 10000.0 + 0.5) / 10000.0 AS quality
           FROM t
         )
         SELECT doc_id, quality FROM q
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#7'), 1, 8))
                 AS BIGINT) / 4294967296.0 < quality""")),

    Gate("q_stratified_sample", (s, d) =>
      // stratified corpus mixing: keep 60% of en, 30% of es/de, default
      // 10% — a pure narrow filter (portable per-row uniform vs a
      // literal fraction map), no per-stratum pass, no shuffle
      graft.operators.Sampling.stratifiedSample(
        Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
        "doc_id", "lang",
        Map("en" -> 0.6, "es" -> 0.3, "de" -> 0.3), default = 0.1,
        salt = 11),
      oracle = Some("""SELECT doc_id, lang, n_chars FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#11'), 1, 8))
                 AS BIGINT) / 4294967296.0
               < (CASE WHEN lang = 'en' THEN 0.6
                       WHEN lang IN ('es', 'de') THEN 0.3
                       ELSE 0.1 END)""")),

    Gate("q_mix_rebalance", (s, d) =>
      // downsample over-represented languages to a target token
      // mixture: stats pass → per-stratum keep rates (min(1,
      // target·total/actual)) → broadcast-rate narrow filter. Never
      // upsamples; unlisted strata drop
      graft.operators.Sampling.rebalanceToTargets(
        Tables.documents(s, d).select(col("doc_id"), col("lang"),
          TF.tokenCount(col("text")).as("n_tok")),
        "doc_id", "lang", "n_tok",
        Map("en" -> 0.3, "es" -> 0.2, "de" -> 0.2, "fr" -> 0.15, "zh" -> 0.15),
        salt = 13)
        .select(col("doc_id"), col("lang"), pround(col("keep_rate"), 6).as("keep_rate")),
      oracle = Some("""WITH t AS (
           SELECT doc_id, lang,
             CAST(CASE WHEN length(trim(lower(text))) = 0 THEN 0
                  ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS BIGINT)
               AS n_tok
           FROM documents
         ), w AS (
           SELECT lang, sum(n_tok) AS wt FROM t GROUP BY lang
         ), r AS (
           SELECT lang, least(1.0,
             (CASE lang WHEN 'en' THEN 0.3 WHEN 'es' THEN 0.2 WHEN 'de' THEN 0.2
                        WHEN 'fr' THEN 0.15 WHEN 'zh' THEN 0.15 ELSE 0.0 END)
             * (SELECT sum(wt) FROM w) / wt) AS keep_rate
           FROM w
         )
         SELECT doc_id, t.lang,
           floor(keep_rate * 1000000.0 + 0.5) / 1000000.0 AS keep_rate
         FROM t JOIN r USING (lang)
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#13'), 1, 8))
                 AS BIGINT) / 4294967296.0 < keep_rate""")),

    Gate("q_temperature_mix", (s, d) =>
      // temperature (alpha) sampling: the multilingual-pretraining
      // mixture rule — target share p^alpha/sum(p^alpha), downsample-
      // only keep rates. Per-stratum steering table (<=|langs| rows);
      // ratios portably rounded, the pow-derived values at 6 dp
      graft.operators.Sampling.temperatureRates(
        Tables.documents(s, d).select(col("lang"),
          TF.tokenCount(col("text")).as("n_tok")),
        "lang", "n_tok", alpha = 0.5)
        .select(col("lang"), col("actual"),
          pround(col("share"), 6).as("share"),
          pround(col("target_share"), 6).as("target_share"),
          pround(col("keep_rate"), 6).as("keep_rate")),
      oracle = Some("""WITH t AS (
           SELECT lang,
             CAST(CASE WHEN length(trim(lower(text))) = 0 THEN 0
                  ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS BIGINT) AS n_tok
           FROM documents
         ), s AS (
           SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS actual FROM t GROUP BY lang
         ), w AS (
           SELECT lang, actual,
             CAST(actual AS DOUBLE) / SUM(actual) OVER () AS share,
             pow(CAST(actual AS DOUBLE) / SUM(actual) OVER (), 0.5) AS pw,
             SUM(actual) OVER () AS total
           FROM s
         ), r AS (
           SELECT lang, actual, share,
             pw / SUM(pw) OVER () AS target_share,
             least(1.0, (pw / SUM(pw) OVER ()) * total / actual) AS keep_rate
           FROM w
         )
         SELECT lang, actual,
           floor(share*1000000+0.5)/1000000 AS share,
           floor(target_share*1000000+0.5)/1000000 AS target_share,
           floor(keep_rate*1000000+0.5)/1000000 AS keep_rate
         FROM r"""),
      // benched: corpus tokenize + stratum-cardinality derivation
      bench = Role.Headline,
      ceiling = Some(Ceiling(2, 1, bnljOk = false))),

    Gate("q_url_dedup", (s, d) => {
      // URL-canonicalization frontier dedup (r11): the corpus has no
      // URL column, so the gate synthesizes four messy variants of
      // the same page per id group — raw, SHOUTED scheme/host with
      // www. + :443 + trailing slash, tracking params, kept params
      // out of order + fragment — and the canonicalizer must collapse
      // the first three and sort the fourth. The oracle constructs
      // the EXPECTED canonical analytically from doc_id (it never
      // parses), so every normalization rule is value-checked.
      val docs = Tables.documents(s, d).select("doc_id", "source")
      val gid = floor(col("doc_id") / 4).cast("long").cast("string")
      val v = pmod(col("doc_id"), lit(4L))
      val urls = docs.select(col("doc_id"),
        when(v === 0, concat(lit("https://"), col("source"),
            lit(".example.com/p/"), gid))
          .when(v === 1, concat(lit("HTTPS://WWW."), upper(col("source")),
            lit(".EXAMPLE.COM:443/p/"), gid, lit("/")))
          .when(v === 2, concat(lit("https://"), col("source"),
            lit(".example.com/p/"), gid, lit("?gclid=xyz&utm_source=feed")))
          .otherwise(concat(lit("https://"), col("source"),
            lit(".example.com/p/"), gid, lit("?b=2&a=1#frag")))
          .as("url"))
      graft.operators.UrlCanonical.dupReport(urls, "doc_id", "url")
    },
      // exact mirror of Decontaminate.stats(k=3, threshold=0.5): same
      // shingle CTE as the ngram oracles, eval = every 10th doc, train =
      // the rest; hit counts via inner join on distinct shingles
      // the oracle CONSTRUCTS the expected canonical analytically —
      // the Spark side must parse and normalize its way to the same
      // string (host lower-cased: the corpus source labels already
      // are, lower() documents the invariant)
      oracle = Some("""WITH u AS (
           SELECT doc_id, lower(source) AS src,
             CAST(floor(doc_id / 4.0) AS BIGINT) AS gid,
             doc_id % 4 AS v
           FROM documents
         ), canon AS (
           SELECT doc_id,
             'https://' || src || '.example.com/p/' || CAST(gid AS VARCHAR) ||
             CASE WHEN v = 3 THEN '?a=1&b=2' ELSE '' END AS canonical_url
           FROM u
         )
         SELECT canonical_url, count(*) AS n_dups, min(doc_id) AS keep_id
         FROM canon GROUP BY 1"""),
      // benched: a narrow canonicalize pass + one canonical-keyed
      // exchange
      bench = Role.Headline)
  )
}
