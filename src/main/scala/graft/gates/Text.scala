package graft
package gates

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import Fixtures.{stopwords, langMarkers, pround}

/** Family G, `graft.functions` text expressions: token counts,
  * vocabularies, quality scores, repetition, language id, cleanup,
  * PII redaction and chunking.
  */
object Text {

  val gates: Seq[Gate] = Seq(

    Gate("q_vocab", (s, d) =>
      // corpus vocabulary: top-100 tokens by document-independent
      // frequency; explode is narrow, count partial-aggregates, top-k
      // is a TakeOrdered — the right plan at any corpus size
      Tables.documents(s, d)
        .select(explode(TF.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token").asc)
        .limit(100),
      oracle = Some("""SELECT token, count(*) AS freq FROM (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
           FROM documents WHERE length(trim(lower(text))) > 0
         ) t
         WHERE length(token) > 0
         GROUP BY token
         ORDER BY freq DESC, token ASC
         LIMIT 100""")),

    Gate("q_token_count", (s, d) =>
      // size-gated spread (r13, the q_quality_score pattern)
      Spread.ifSmall(s, d, "documents")(Tables.documents(s, d))
        .select(col("doc_id"),
          TF.tokenCount(col("text")).as("ws_tokens"),
          TF.bpeTokenCount(col("text")).as("bpe_tokens")),
      oracle = Some("""SELECT doc_id,
           CAST(CASE WHEN length(trim(lower(text))) = 0 THEN 0
                     ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS BIGINT)
             AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
             AS bpe_tokens
         FROM documents"""),
      bench = Role.Headline,
      ceiling = Some(Ceiling(1, 1, bnljOk = false))),

    Gate("q_quality_score", (s, d) =>
      // scan-pure rules pass; the size-gated spread (r13) fans the
      // single-split tier scan out — the 100 TB zero-shuffle contract
      // is pinned by PlanSpec's at-scale regime test
      Spread.ifSmall(s, d, "documents")(Tables.documents(s, d)).select(col("doc_id"),
        TF.qualityScore(col("text"), stopwords).as("quality"),
        pround(TF.meanTokenLen(col("text")), 2).as("mean_token_len"),
        pround(TF.alphaRatio(col("text")), 4).as("alpha_ratio")),
      oracle = Some("""WITH t AS (
           SELECT doc_id, text,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
           FROM documents
         )
         SELECT doc_id,
           floor((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
             + (CASE WHEN length(text) = 0 THEN 0.0
                     ELSE CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text) END)
             + least((CASE WHEN len(toks) = 0 THEN 0.0
                           ELSE CAST(len(list_filter(toks,
                                  x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE)
                                / len(toks) END) * 4.0, 1.0)
             ) / 3.0 * 10000.0 + 0.5) / 10000.0 AS quality,
           floor((CASE WHEN len(toks) = 0 THEN 0.0
                      ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                           / len(toks) END) * 100.0 + 0.5) / 100.0 AS mean_token_len,
           floor((CASE WHEN length(text) = 0 THEN 0.0
                      ELSE CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
                           / length(text) END) * 10000.0 + 0.5) / 10000.0 AS alpha_ratio
         FROM t"""),
      bench = Role.Headline,
      // scan-pure: the one exchange is the small-regime scan spread
      // (a round-robin exchange of the tiny tier file so the fused
      // pass fills the cores); PlanSpec's at-scale test pins 0 with
      // the spread gate off
      ceiling = Some(Ceiling(1, 1, bnljOk = false))),

    Gate("q_mix_report", (s, d) => {
      // data-mixture report: per (source-bucket, lang) doc counts,
      // token totals, mean quality, and corpus token share — the
      // one-page summary a pretraining run is steered by. One partial
      // agg over narrow per-row stats; the share divides by a 1-row
      // global total joined back onto the tiny aggregate (never a
      // second corpus pass)
      val docs = Tables.documents(s, d).select(
        regexp_replace(col("source"), "[0-9]+$", "").as("src_family"),
        col("lang"),
        TF.tokenCount(col("text")).as("n_tok"),
        TF.qualityScore(col("text"), stopwords).as("quality"))
      // quality is 4dp-floored, so sum it as exact 1e4-scaled longs:
      // float summation order (engine-dependent) can never bend the mean
      val per = docs.groupBy("src_family", "lang").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("sum_tokens"),
        sum(floor(col("quality") * lit(10000.0) + lit(0.5)).cast("long")).as("qsum"))
        .withColumn("mean_quality",
          pround(col("qsum").cast("double") / (col("n_docs") * lit(10000.0)), 4))
        .drop("qsum")
      // the share's global total is a window over the ALREADY-AGGREGATED
      // frame (mixture-cell cardinality, ~tens of rows) — an unpartitioned
      // window is forbidden over corpus-sized data, not over aggregates;
      // the cross-join-a-reaggregated-total alternative scans the corpus
      // twice (no subplan reuse across aggregation branches)
      per.withColumn("token_share",
          pround(col("sum_tokens").cast("double") /
            sum("sum_tokens").over(org.apache.spark.sql.expressions.Window
              .partitionBy()), 4))
        .orderBy(col("src_family").asc, col("lang").asc)
    },
      oracle = Some("""WITH t AS (
           SELECT regexp_replace(source, '[0-9]+$', '') AS src_family, lang,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks,
             text
           FROM documents
         ), q AS (
           SELECT src_family, lang, CAST(len(toks) AS BIGINT) AS n_tok,
             floor((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
               + (CASE WHEN length(text) = 0 THEN 0.0
                       ELSE CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text) END)
               + least((CASE WHEN len(toks) = 0 THEN 0.0
                             ELSE CAST(len(list_filter(toks,
                                    x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE)
                                  / len(toks) END) * 4.0, 1.0)
               ) / 3.0 * 10000.0 + 0.5) / 10000.0 AS quality
           FROM t
         ), per AS (
           SELECT src_family, lang, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
             sum(CAST(floor(quality * 10000.0 + 0.5) AS BIGINT)) AS qsum
           FROM q GROUP BY src_family, lang
         )
         SELECT src_family, lang, n_docs, sum_tokens,
           floor(CAST(qsum AS DOUBLE) / (n_docs * 10000.0) * 10000.0 + 0.5) / 10000.0
             AS mean_quality,
           floor(CAST(sum_tokens AS DOUBLE)
             / (SELECT sum(sum_tokens) FROM per) * 10000.0 + 0.5) / 10000.0
             AS token_share
         FROM per
         ORDER BY src_family ASC, lang ASC""")),

    Gate("q_vocab_coverage", (s, d) => {
      // tokenizer-vocab coverage: what fraction of corpus tokens a
      // top-k word vocabulary covers (the go/no-go metric before
      // committing to a vocab size). One explode pass; the top-k and
      // both totals derive from the same frequency aggregate
      val freq = Tables.documents(s, d)
        .select(explode(TF.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("freq"))
      val top = freq.orderBy(col("freq").desc, col("token").asc).limit(20)
      top.agg(count(lit(1)).as("vocab_size"), sum("freq").as("covered_tokens"))
        .crossJoin(broadcast(freq.agg(sum("freq").as("total_tokens"))))
        .select(col("vocab_size"), col("covered_tokens"), col("total_tokens"),
          pround(col("covered_tokens").cast("double") / col("total_tokens"), 6)
            .as("coverage"))
    },
      oracle = Some("""WITH tok AS (
           SELECT unnest(CASE WHEN length(trim(lower(text))) = 0
                    THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(lower(text)), '\s+') END) AS token
           FROM documents
         ), f AS (
           SELECT token, count(*) AS freq FROM tok
           WHERE length(token) > 0 GROUP BY token
         ), top AS (
           SELECT freq FROM f ORDER BY freq DESC, token ASC LIMIT 20
         )
         SELECT (SELECT count(*) FROM top) AS vocab_size,
           CAST((SELECT sum(freq) FROM top) AS BIGINT) AS covered_tokens,
           CAST((SELECT sum(freq) FROM f) AS BIGINT) AS total_tokens,
           floor(CAST((SELECT sum(freq) FROM top) AS DOUBLE)
             / (SELECT sum(freq) FROM f) * 1000000.0 + 0.5) / 1000000.0 AS coverage""")),

    Gate("q_dup_rate_by_source", (s, d) =>
      // data-quality panel: exact-duplicate rate per source family —
      // which feeds are rebroadcasting content. Shuffles a 16-byte
      // hash + the group key, never the text
      Tables.documents(s, d)
        .groupBy(regexp_replace(col("source"), "[0-9]+$", "").as("src_family"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(md5(col("text").cast("binary"))).as("n_unique"))
        .withColumn("dup_rate", pround(
          (col("n_docs") - col("n_unique")).cast("double") / col("n_docs"), 6)),
      oracle = Some("""SELECT regexp_replace(source, '[0-9]+$', '') AS src_family,
           count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique,
           floor(CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
             / count(*) * 1000000.0 + 0.5) / 1000000.0 AS dup_rate
         FROM documents GROUP BY 1""")),

    Gate("q_repetition_stats", (s, d) => {
      // Gopher-style repetition filters (Rae et al. 2021 §A1.1):
      // duplicate-token fraction, most-frequent unigram/bigram share,
      // mean word length. The mode counts come from the native
      // `ngram_repetition` expression (functions/NgramRepetition —
      // one codegen'd pass + a per-row hash map), never an
      // explode+groupBy (which would shuffle every token at 100 TB).
      // FunctionsSpec pins top_cnt bit-identical to the interpreted
      // TF.maxMultiplicity HOF this query used through r8, so the
      // oracle below is unchanged. k-gram count = n_words - k + 1,
      // so the bigram denominator is n_words - 1.
      val ts = TF.tokens(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"),
        size(ts).cast("long").as("n_words"),
        pround(TF.dupTokenFrac(col("text")), 4).as("dup_word_frac"),
        call_function("ngram_repetition", ts, lit(1))
          .getField("top_cnt").as("uni_top"),
        call_function("ngram_repetition", ts, lit(2))
          .getField("top_cnt").as("bi_top"),
        pround(TF.meanTokenLen(col("text")), 4).as("mean_word_len"))
      .select(
        col("doc_id"), col("n_words"), col("dup_word_frac"),
        pround(when(col("n_words") === 0, lit(0.0)).otherwise(
          col("uni_top").cast("double") / col("n_words")), 4)
          .as("top_unigram_frac"),
        pround(when(col("n_words") < 2, lit(0.0)).otherwise(
          col("bi_top").cast("double") / (col("n_words") - 1)), 4)
          .as("top_bigram_frac"),
        col("mean_word_len"))
        .withColumn("flagged",
          when(col("dup_word_frac") > 0.5 || col("top_bigram_frac") > 0.2
            || col("mean_word_len") < 2.0, lit(1L)).otherwise(lit(0L)))
    },
      oracle = Some("""WITH t AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
           FROM documents
         ), tb AS (
           SELECT doc_id, toks,
             CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(range(1, len(toks)),
                         i -> toks[i] || ' ' || toks[i + 1]) END AS bigs
           FROM t
         ), unimx AS (
           SELECT doc_id, max(c) AS mx FROM (
             SELECT doc_id, tok, count(*) AS c
             FROM t, unnest(toks) AS u(tok) GROUP BY doc_id, tok
           ) GROUP BY doc_id
         ), bigmx AS (
           SELECT doc_id, max(c) AS mx FROM (
             SELECT doc_id, bg, count(*) AS c
             FROM tb, unnest(bigs) AS u(bg) GROUP BY doc_id, bg
           ) GROUP BY doc_id
         ), r AS (
           SELECT tb.doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             floor((CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END)
               * 10000.0 + 0.5) / 10000.0 AS dup_word_frac,
             floor((CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE CAST(coalesce(unimx.mx, 0) AS DOUBLE) / len(toks) END)
               * 10000.0 + 0.5) / 10000.0 AS top_unigram_frac,
             floor((CASE WHEN len(bigs) = 0 THEN 0.0
                    ELSE CAST(coalesce(bigmx.mx, 0) AS DOUBLE) / len(bigs) END)
               * 10000.0 + 0.5) / 10000.0 AS top_bigram_frac,
             floor((CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                         / len(toks) END)
               * 10000.0 + 0.5) / 10000.0 AS mean_word_len
           FROM tb
           LEFT JOIN unimx USING (doc_id) LEFT JOIN bigmx USING (doc_id)
         )
         SELECT *, CAST(CASE WHEN dup_word_frac > 0.5 OR top_bigram_frac > 0.2
                              OR mean_word_len < 2.0 THEN 1 ELSE 0 END AS BIGINT)
           AS flagged
         FROM r""")),

    Gate("q_lang_id", (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TF.langId(col("text"), langMarkers).as("lang_pred")),
      oracle = Some("""WITH t AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
           FROM documents
         ), s AS (
           SELECT doc_id,
             len(list_filter(toks, x -> list_contains(['the','a'], x))) AS s_en,
             len(list_filter(toks, x -> list_contains(['el','la','los'], x))) AS s_es,
             len(list_filter(toks, x -> list_contains(['der','die','und'], x))) AS s_de,
             len(list_filter(toks, x -> list_contains(['le','les','et'], x))) AS s_fr
           FROM t
         )
         SELECT doc_id,
           CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                ELSE 'fr' END AS lang_pred
         FROM s""")),

    Gate("q_lang_eval", (s, d) =>
      // confusion matrix of the heuristic against ground-truth lang
      Tables.documents(s, d)
        .select(col("lang"), TF.langId(col("text"), langMarkers).as("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n")),
      oracle = Some("""WITH t AS (
           SELECT doc_id, lang,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
           FROM documents
         ), s AS (
           SELECT doc_id, lang,
             len(list_filter(toks, x -> list_contains(['the','a'], x))) AS s_en,
             len(list_filter(toks, x -> list_contains(['el','la','los'], x))) AS s_es,
             len(list_filter(toks, x -> list_contains(['der','die','und'], x))) AS s_de,
             len(list_filter(toks, x -> list_contains(['le','les','et'], x))) AS s_fr
           FROM t
         ), p AS (
           SELECT doc_id, lang,
             CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                  WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                  WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                  ELSE 'fr' END AS lang_pred
           FROM s
         )
         SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY lang, lang_pred""")),

    Gate("q_char_diversity", (s, d) => {
      // char-level gibberish screen (r10): Simpson concentration +
      // modal-char stats from a ZERO-shuffle sorted-run fold; the
      // organic corpus is char-diverse, so one doc per 211 becomes a
      // planted single-char flood (mirrored in the oracle) that must
      // flag while prose does not. Simpson over entropy: rational in
      // exact integer counts — no libm ln() boundary
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(211L)) === 7L,
          repeat(lit("a"), (lit(50L) + pmod(col("doc_id"), lit(100L))).cast("int")))
          .otherwise(col("text")).as("text"))
      graft.functions.CharDiversity.flagged(docs, "doc_id", "text")
    },
      // explode + groupBy char counts — a different plan computing
      // the same exact integers as the Spark sorted-run fold (the
      // cross-engine witness); simpson is one IEEE division + floor
      oracle = Some("""WITH base AS (
           SELECT doc_id,
             CASE WHEN doc_id % 211 = 7
                  THEN repeat('a', CAST(50 + doc_id % 100 AS INT))
                  ELSE text END AS text
           FROM documents
         ), ch AS (
           SELECT doc_id, unnest(list_transform(range(1, length(text) + 1),
             i -> text[i])) AS c
           FROM base WHERE length(text) > 0
         ), hist AS (
           SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2
         ), agg AS (
           SELECT doc_id, sum(n) AS n_chars, count(*) AS distinct_chars,
             max(n) AS max_char_n, sum(n * n) AS sumsq
           FROM hist GROUP BY doc_id
         ), rep AS (
           SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(distinct_chars AS BIGINT) AS distinct_chars,
             CAST(max_char_n AS BIGINT) AS max_char_n,
             floor(CAST(sumsq AS DOUBLE) / (CAST(n_chars AS DOUBLE) * n_chars)
               * 10000 + 0.5) / 10000.0 AS simpson
           FROM agg
           UNION ALL
           SELECT doc_id, 0, 0, 0, 0.0 FROM base WHERE length(text) = 0
         )
         SELECT doc_id, n_chars, distinct_chars, max_char_n, simpson,
           (n_chars > 0 AND (CAST(max_char_n AS DOUBLE) / n_chars > 0.2
              OR simpson > 0.1)) AS flagged
         FROM rep"""),
      // benched: a zero-shuffle sorted-run fold
      bench = Role.Headline,
      // a pure scan pass (sorted-run fold), zero exchanges by
      // design
      ceiling = Some(Ceiling(0, 1, bnljOk = false))),

    Gate("q_text_clean", (s, d) => {
      // the synthetic corpus carries no URLs/emails/whitespace runs, so
      // cleanText was a verified no-op — plant deterministic dirt on a
      // quarter of the docs (oracle plants the identical dirt) so both
      // the transform and the no-op path are value-checked
      val dirty = when(pmod(col("doc_id"), lit(4L)) === 1L,
        concat(col("text"), lit("  see https://example.com/d"),
          col("doc_id").cast("string"), lit("  or  mail team"),
          col("doc_id").cast("string"), lit("@corp.io  ")))
        .otherwise(col("text"))
      Tables.documents(s, d).select(col("doc_id"),
        length(TF.cleanText(dirty)).cast("long").as("clean_len"),
        (TF.cleanText(dirty) =!= dirty).as("changed"))
    },
      oracle = Some("""WITH dirty AS (
           SELECT doc_id,
             CASE WHEN doc_id % 4 = 1
                  THEN text || '  see https://example.com/d'
                       || CAST(doc_id AS VARCHAR) || '  or  mail team'
                       || CAST(doc_id AS VARCHAR) || '@corp.io  '
                  ELSE text END AS text
           FROM documents
         ), c AS (
           SELECT doc_id, text,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(text, 'https?://\S+', ' ', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
               '\s+', ' ', 'g')) AS clean
           FROM dirty
         )
         SELECT doc_id, CAST(length(clean) AS BIGINT) AS clean_len,
           clean <> text AS changed
         FROM c""")),

    Gate("q_unicode_clean", (s, d) => {
      // the synthetic corpus is pure ASCII, so unicodeClean would be a
      // verified no-op — plant a deterministic mojibake specimen on a
      // quarter of the docs (decomposed accent, NBSP, zero-width
      // space, BEL control; oracle plants the identical codepoints):
      // NFC must compose e+U+0301, the space class must map NBSP to
      // ' ', and the zero-width/control classes must delete
      val planted = when(pmod(col("doc_id"), lit(4L)) === 1L,
        concat(col("text"), lit(" caf"), lit("e\u0301"), lit(" x"), // decomposed e+acute
          lit("\u00A0"), lit("a"), lit("\u200B"), lit("b"), // NBSP, zero-width
          lit("\u0007"), lit("c"))) // BEL control
        .otherwise(col("text"))
      val cleaned = TF.unicodeClean(planted)
      // NO spread (r13 A/B): the clean expression fires on 1/4 of the
      // docs, so the fan-out exchange measured flat — scan-pure stays
      Tables.documents(s, d).select(col("doc_id"),
        length(cleaned).cast("long").as("clean_len"),
        (cleaned =!= planted).as("changed"),
        md5(cleaned.cast("binary")).as("clean_md5"))
    },
      oracle = Some("""WITH planted AS (
           SELECT doc_id,
             CASE WHEN doc_id % 4 = 1
                  THEN text || ' caf' || 'e' || chr(769) || ' x'
                       || chr(160) || 'a' || chr(8203) || 'b'
                       || chr(7) || 'c'
                  ELSE text END AS text
           FROM documents
         ), c AS (
           SELECT doc_id, text,
             regexp_replace(
               regexp_replace(
                 regexp_replace(nfc_normalize(text),
                   '[\x{00A0}\x{2000}-\x{200A}\x{202F}\x{3000}]', ' ', 'g'),
                 '[\x{200B}\x{200E}\x{200F}\x{FEFF}]', '', 'g'),
               '[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}\x{007F}-\x{009F}]',
               '', 'g') AS clean
           FROM planted
         )
         SELECT doc_id, CAST(length(clean) AS BIGINT) AS clean_len,
           clean <> text AS changed, md5(clean) AS clean_md5
         FROM c"""),
      // benched: a full regex scan pass
      bench = Role.Headline,
      // a pure scan pass
      ceiling = Some(Ceiling(0, 1, bnljOk = false))),

    Gate("q_fingerprint", (s, d) =>
      // rolling polynomial hash only — contentHash (xxhash64) has no
      // cross-engine oracle and is exercised by the dedup paths/specs
      Tables.documents(s, d).select(col("doc_id"),
        TF.fingerprint(col("text")).as("rolling_fp")),
      oracle = Some("""SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(text) + 1),
                 i -> CAST(ascii(text[i]) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_fp
         FROM documents""")),

    Gate("q_pii_redact", (s, d) => {
      // the synthetic corpus carries no PII, so the gate plants a
      // deterministic specimen of each type (derived from doc_id) and
      // the oracle plants the identical one — the regexes and the
      // full redacted text are then compared byte-for-byte
      import graft.functions.{PiiFunctions => P}
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
        lit(" ip 10.0."), pmod(col("doc_id"), lit(256L)).cast("string"),
        lit("."), pmod(col("doc_id") * 7, lit(256L)).cast("string"),
        lit(" ssn 123-45-"),
        lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
        lit(" call 555-867-"),
        lpad(pmod(col("doc_id") * 13, lit(10000L)).cast("string"), 4, "0"),
        lit(" card 4111-1111-1111-"),
        lpad(pmod(col("doc_id") * 31, lit(10000L)).cast("string"), 4, "0"))
      Tables.documents(s, d).select(col("doc_id"),
        P.countEmails(planted).as("n_email"),
        P.countCards(planted).as("n_card"),
        P.countSsns(planted).as("n_ssn"),
        P.countPhones(planted).as("n_phone"),
        P.countIps(planted).as("n_ip"),
        P.redactPii(planted).as("redacted"))
    },
      // exact mirror of q_pii_redact: identical planted PII, identical
      // regexes (RE2/java.util.regex-common subset), identical rewrite
      // order email → card → ssn → phone → ip
      oracle = Some("""WITH aug AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                  || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                  || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' call 555-867-' || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
                  || ' card 4111-1111-1111-' || lpad(CAST((doc_id * 31) % 10000 AS VARCHAR), 4, '0')
               AS planted
           FROM documents
         )
         SELECT doc_id,
           CAST(len(regexp_extract_all(planted, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(planted, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b')) AS BIGINT) AS n_card,
           CAST(len(regexp_extract_all(planted, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
           CAST(len(regexp_extract_all(planted, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(planted, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(planted,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                   '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b', '[CARD]', 'g'),
                 '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
               '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS redacted
         FROM aug""")),

    Gate("q_chunk_overlap", (s, d) =>
      // RAG-style overlapping chunking: 8-word windows every 4 words;
      // one narrow tokenize+HOF pass, posexplode carries the ordinal
      Tables.documents(s, d)
        .select(col("doc_id"), posexplode(TF.chunks(col("text"), w = 8, stride = 4))
          .as(Seq("chunk_id", "chunk")))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("chunk")),
      oracle = Some("""WITH t AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
           FROM documents
         ), ch AS (
           SELECT doc_id,
             CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(
                    range(0, greatest(CAST(ceil((len(toks) - 8) / 4.0) AS BIGINT), 0) + 1),
                    i -> array_to_string(toks[(i*4+1):(i*4+8)], ' '))
             END AS cs
           FROM t
         )
         SELECT doc_id,
           CAST(generate_subscripts(cs, 1) - 1 AS BIGINT) AS chunk_id,
           unnest(cs) AS chunk
         FROM ch"""))
  )
}
