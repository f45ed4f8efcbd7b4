package graft
package gates

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions.{TextFunctions => TF}
import Fixtures.pround

/** Family G, `graft.operators` tokenizers and models: BPE and
  * unigram tokenizers, sequence packing, n-gram LMs, TF-IDF,
  * BM25 retrieval, vocabulary statistics and the quality
  * classifier.
  */
object Tokenizers {

  val gates: Seq[Gate] = Seq(

    Gate("q_pack_sequences", (s, d) => {
      // pretraining sample packing: docs → consecutive 2048-token
      // bins via two-level distributed prefix sum (never a corpus-
      // wide unpartitioned window)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), TF.bpeTokenCount(col("text")).as("n_tok"))
      graft.operators.SequencePacker.summary(
        graft.operators.SequencePacker.pack(docs, "doc_id", "n_tok",
          budget = 2048, groupExpr = floor(col("doc_id") / 64)),
        budget = 2048)
    },
      oracle = Some("""WITH t AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok
           FROM documents
         ), c AS (
           SELECT doc_id, n_tok,
             sum(n_tok) OVER (ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM t
         ), p AS (
           SELECT doc_id, n_tok,
             CAST(floor(CAST(cum - n_tok AS DOUBLE) / 2048.0) AS BIGINT) AS bin
           FROM c
         )
         SELECT bin, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           floor(CAST(sum(n_tok) AS DOUBLE) / 2048.0 * 10000.0 + 0.5) / 10000.0
             AS fill_ratio
         FROM p GROUP BY bin""")),

    Gate("q_bm25_search", (s, d) =>
      // ranked retrieval for corpus curation; query-term-only postings
      graft.operators.Bm25.topK(Tables.documents(s, d), "doc_id", "text",
        Seq("join", "hash", "stream"), k = 15),
      // exact mirror of Bm25.topK(k1=1.5, b=0.75, terms=[join,hash,stream]):
      // same tokenization, Lucene-style idf, identical operation order and
      // exact-binary constants, floor-rounded score, (score, id) ordering
      oracle = Some("""WITH toks AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS ts
           FROM documents
         ), tf AS (
           SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl,
             [CAST(len(list_filter(ts, x -> x = 'join')) AS DOUBLE),
              CAST(len(list_filter(ts, x -> x = 'hash')) AS DOUBLE),
              CAST(len(list_filter(ts, x -> x = 'stream')) AS DOUBLE)] AS tfs
           FROM toks
         ), stats AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
             [sum(CASE WHEN tfs[1] > 0 THEN 1.0 ELSE 0.0 END),
              sum(CASE WHEN tfs[2] > 0 THEN 1.0 ELSE 0.0 END),
              sum(CASE WHEN tfs[3] > 0 THEN 1.0 ELSE 0.0 END)] AS dfs
           FROM tf
         ), scored AS (
           SELECT doc_id,
             (CASE WHEN tfs[1] > 0 THEN
               ln(1.0 + (n_docs - dfs[1] + 0.5) / (dfs[1] + 0.5)) * tfs[1] * (1.5 + 1.0)
                 / (tfs[1] + 1.5 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) ELSE 0.0 END)
             + (CASE WHEN tfs[2] > 0 THEN
               ln(1.0 + (n_docs - dfs[2] + 0.5) / (dfs[2] + 0.5)) * tfs[2] * (1.5 + 1.0)
                 / (tfs[2] + 1.5 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) ELSE 0.0 END)
             + (CASE WHEN tfs[3] > 0 THEN
               ln(1.0 + (n_docs - dfs[3] + 0.5) / (dfs[3] + 0.5)) * tfs[3] * (1.5 + 1.0)
                 / (tfs[3] + 1.5 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) ELSE 0.0 END)
               AS raw_score,
             (CASE WHEN tfs[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN tfs[2] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN tfs[3] > 0 THEN 1 ELSE 0 END) AS n_hits
           FROM tf, stats
         )
         SELECT doc_id, floor(raw_score * 10000.0 + 0.5) / 10000.0 AS score,
           CAST(n_hits AS BIGINT) AS n_hits
         FROM scored WHERE n_hits > 0
         ORDER BY score DESC, doc_id ASC
         LIMIT 15""")),

    Gate("q_freq_spectrum", (s, d) =>
      // Zipf frequency spectrum (freq -> type count): distinct corpus
      // frequencies are O(sqrt(tokens)), so the re-key off the
      // vocab-sized term-count frame stays tiny at any corpus size
      graft.operators.VocabStats.spectrum(Tables.documents(s, d), "text"),
      oracle = Some("""WITH tc AS (
           SELECT token, count(*) AS freq FROM (
             SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
             FROM documents WHERE length(trim(lower(text))) > 0
           ) t
           WHERE length(token) > 0 GROUP BY token
         ), voc AS (SELECT count(*) AS n_vocab FROM tc)
         SELECT freq, count(*) AS n_types,
           floor((CAST(count(*) AS DOUBLE) / voc.n_vocab) * 1000000.0 + 0.5)
             / 1000000.0 AS vocab_share
         FROM tc, voc GROUP BY freq, voc.n_vocab"""),
      // benched: one token exchange
      bench = Role.Headline,
      // the BNLJ is the 1-row vocab total
      ceiling = Some(Ceiling(4, 2, bnljOk = true))),

    // not benched: it times the same token exchange as
    // q_freq_spectrum
    Gate("q_corpus_stats", (s, d) =>
      // one-row vocabulary-health summary: hapax fraction + TTR, the
      // corpus-linguistics drift/collapse diagnostics
      graft.operators.VocabStats.summary(Tables.documents(s, d), "text"),
      oracle = Some("""WITH tc AS (
           SELECT token, count(*) AS freq FROM (
             SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
             FROM documents WHERE length(trim(lower(text))) > 0
           ) t
           WHERE length(token) > 0 GROUP BY token
         )
         SELECT CAST(sum(freq) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS hapax_types,
           floor((CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS hapax_frac,
           floor((CAST(count(*) AS DOUBLE) / sum(freq)) * 1000000.0 + 0.5)
             / 1000000.0 AS type_token_ratio
         FROM tc""")),

    Gate("q_classifier_margin_check", (s, d) =>
      // full-oracle check for q_quality_classifier's SCORING pass
      // (r9 verdict item 7): portable md5 bucket + pinned integer
      // milli-weights make every margin an exact integer DuckDB
      // reproduces bit-for-bit — see QualityClassifier.marginCheck
      // size-gated spread (r13, the q_quality_score pattern)
      graft.operators.QualityClassifier.marginCheck(
        Spread.ifSmall(s, d, "documents")(Tables.documents(s, d)),
        "doc_id", "text"),
      // exact-integer replay of the scoring machinery: portable md5
      // bucket (the CorpusShuffle hex recipe), pinned milli-weights
      oracle = Some("""WITH t AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS ts
           FROM documents
         ), m AS (
           SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok,
             CAST(coalesce(list_sum(list_transform(ts, tk ->
               ((CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) % 4096) * 31)
                 % 1000 - 500)), 0) AS BIGINT) AS margin_milli
           FROM t
         )
         SELECT doc_id, n_tok, margin_milli,
           CAST(CASE WHEN margin_milli >= 0 THEN 1 ELSE 0 END AS BIGINT) AS predicted
         FROM m"""),
      // benched: one tokenize + md5-bucket scan pass
      bench = Role.Headline,
      // a pure scan pass; the one exchange is the small-regime scan
      // spread (a round-robin exchange of the tiny tier file so the
      // fused pass fills the cores); PlanSpec's at-scale test pins
      // 0 with the spread gate off
      ceiling = Some(Ceiling(1, 1, bnljOk = false))),

    Gate("q_classifier_train_check", (s, d) => {
      // the TRAINING loop driver-checked (r11 verdict item 8): the
      // margin machinery was already full-oracle
      // (q_classifier_margin_check); this pins the other half — the
      // iterative gradient-descent loop itself — by running it in
      // exact fixed-point integer arithmetic (portable md5 buckets,
      // rational fast-sigmoid link, truncating division; see
      // QualityClassifier.trainCheck) against an INDEPENDENT pure-
      // Python trainer's committed weight fixtures
      // (tools/classifier_oracle.py — the bpe_oracle precedent).
      // Same class construction as q_quality_classifier: positives
      // as-is, negatives token-reversed, held-out fifth excluded.
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .filter(pmod(col("doc_id"), lit(5L)) =!= 4L)
      val pos = base.select(col("text"), lit(1L).as("label"))
      val neg = base.select(
        concat_ws(" ", transform(TF.tokens(col("text")), t => reverse(t)))
          .as("text"),
        lit(0L).as("label"))
      QualityClassifier.trainCheck(pos.unionByName(neg), "text", "label")
    },
      // exact trained weights from an INDEPENDENT pure-Python trainer
      // (tools/classifier_oracle.py), committed as per-sf fixtures keyed
      // like q_bpe_train's — the training loop is exact fixed-point
      // integer arithmetic, so the weights replay bit-for-bit
      oracle = Some("""SELECT bucket, w_milli
         FROM read_parquet('/root/repo/tools/fixtures/clf_train_*.parquet')
         WHERE n_docs = (SELECT count(*) FROM documents)
           AND sum_chars = (SELECT sum(n_chars) FROM documents)""")),

    Gate("q_quality_classifier", (s, d) => {
      // model-based quality filter (the GPT-3/LLaMA recipe): hashed
      // bag-of-words + logistic regression separating reference docs
      // (the corpus as-is) from synthetic crawl negatives (the same
      // docs token-REVERSED — a disjoint gibberish vocabulary, so the
      // classes are linearly separable over hash buckets and the
      // held-out fifth must score perfectly; GroundTruthSpec pins
      // that exactly). Training is iterative gradient descent as
      // DataFrame aggregations (not SQL-expressible) → rows-only
      // gate.
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"),
        (pmod(col("doc_id"), lit(5)) === 4).as("is_eval"))
      val neg = base.select((col("doc_id") + lit(30000000L)).as("doc_id"),
        concat_ws(" ", transform(TF.tokens(col("text")), t => reverse(t))).as("text"),
        col("is_eval"))
      val all = base.withColumn("label", lit(1.0))
        .unionByName(neg.withColumn("label", lit(0.0)))
      val model = QualityClassifier.train(
        all.filter(!col("is_eval")), "text", "label")
      QualityClassifier.score(model, all.filter(col("is_eval")), "text")
        .groupBy("label")
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("predicted") === col("label").cast("long"), 1L)
            .otherwise(0L)).as("n_correct"))
        .select(col("label").cast("long").as("label"), col("n_eval"), col("n_correct"))
        .orderBy("label")
    }),

    Gate("q_bpe_train", (s, d) =>
      // BPE vocabulary induction on the compressed word-frequency
      // table: one corpus pass, then |vocab|-sized merge rounds with a
      // 1-row TakeOrdered argmax each (rows-only: iterative argmax is
      // not SQL-expressible; BpeSpec hand-verifies the merge order)
      graft.operators.Bpe.train(Tables.documents(s, d), "text", nMerges = 12),
      // exact expected merge table from an INDEPENDENT pure-Python BPE
      // (tools/bpe_oracle.py), committed as per-sf fixtures keyed by
      // (doc count, char total) — an unknown sf dir selects zero rows
      // and fails the gate loudly instead of passing vacuously
      oracle = Some("""SELECT rank, "left", "right", merged, pair_count
         FROM read_parquet('/root/repo/tools/fixtures/bpe_expected_*.parquet')
         WHERE n_docs = (SELECT count(*) FROM documents)
           AND sum_chars = (SELECT sum(n_chars) FROM documents)""")),

    // not benched: the oracle is a committed-fixture read, so a
    // DuckDB baseline would time a file scan, not the computation
    Gate("q_bpe_encode", (s, d) => {
      // apply-time BPE: encode the distinct vocabulary once under the
      // trained merge table, broadcast-join tokens, reassemble each
      // doc's subword sequence in token order (one doc-keyed
      // exchange). The gate folds the sequence to (count, md5) and an
      // independent pure-Python encoder (tools/bpe_oracle.py) provides
      // the exact expected rows per sf fixture.
      val docs = Tables.documents(s, d)
      val merges = graft.operators.Bpe.train(docs, "text", nMerges = 12)
      graft.operators.Bpe.encodeDocs(docs, "doc_id", "text", merges)
        .select(col("doc_id"),
          size(col("bpe")).cast("long").as("n_bpe"),
          md5(concat_ws(" ", col("bpe")).cast("binary")).as("bpe_md5"))
    },
      // exact expected (count, md5-of-sequence) per doc from the same
      // independent Python implementation, fixtures keyed like
      // q_bpe_train's (unknown sf dir -> zero rows -> loud fail)
      oracle = Some("""SELECT doc_id, n_bpe, bpe_md5
         FROM read_parquet('/root/repo/tools/fixtures/bpe_enc_*.parquet')
         WHERE n_docs = (SELECT count(*) FROM documents)
           AND sum_chars = (SELECT sum(n_chars) FROM documents)""")),

    Gate("q_unigram_train", (s, d) =>
      // unigram-LM (SentencePiece-style) tokenizer training (r11
      // verdict item 5): substring-seeded vocabulary + EM rounds of
      // Viterbi segmentation / count re-estimation, all comparisons
      // exact rationals so the whole trainer replays bit-for-bit in
      // the independent Python fixture oracle
      // (tools/unigram_oracle.py — the bpe_oracle precedent). Each
      // EM round is one narrow distinct-word pass + one ≤V-row
      // exchange; driver state is the V-piece model.
      graft.operators.UnigramTokenizer.train(Tables.documents(s, d), "text"),
      // exact expected unigram-tokenizer vocabulary and encodings from
      // an INDEPENDENT pure-Python trainer (tools/unigram_oracle.py),
      // fixtures keyed like q_bpe_train's — every Viterbi comparison is
      // an exact rational, so the trainer replays bit-for-bit
      oracle = Some("""SELECT rank, piece, piece_count
         FROM read_parquet('/root/repo/tools/fixtures/unigram_vocab_*.parquet')
         WHERE n_docs = (SELECT count(*) FROM documents)
           AND sum_chars = (SELECT sum(n_chars) FROM documents)"""),
      // returns a driver-local V-row relation (EM ran as
      // per-iteration jobs, the q_dsir_weights contract)
      ceiling = Some(Ceiling(0, 1, bnljOk = false))),

    Gate("q_unigram_encode", (s, d) => {
      // apply-time unigram segmentation: the distinct-word vocabulary
      // is segmented once under the trained model, tokens broadcast-
      // join it, docs reassemble in token order (the Bpe.encodeDocs
      // shape). Folded to (count, md5) per doc; the Python oracle
      // provides exact expected rows per sf fixture.
      val docs = Tables.documents(s, d)
      val model = graft.operators.UnigramTokenizer.trainModel(docs, "text")
      graft.operators.UnigramTokenizer.encodeDocs(docs, "doc_id", "text", model)
        .select(col("doc_id"),
          size(col("pieces")).cast("long").as("n_pieces"),
          md5(concat_ws(" ", col("pieces")).cast("binary")).as("piece_md5"))
    },
      oracle = Some("""SELECT doc_id, n_pieces, piece_md5
         FROM read_parquet('/root/repo/tools/fixtures/unigram_enc_*.parquet')
         WHERE n_docs = (SELECT count(*) FROM documents)
           AND sum_chars = (SELECT sum(n_chars) FROM documents)"""),
      // distinct-word segmentation (broadcast model), token join,
      // one doc-keyed reassembly + the token-less right join
      ceiling = Some(Ceiling(3, 3, bnljOk = false))),

    Gate("q_vocab_drift", (s, d) => {
      // vocabulary-distribution drift between source families (r12):
      // pairwise Jensen-Shannon divergence over unigram
      // distributions — the text analog of the numeric PSI/KS
      // scorecard (what a crawl pipeline watches between dumps).
      // The organic sources share a generator (JS ≈ 0 among them),
      // so every 7th doc becomes a planted 'drifted' family with
      // token-REVERSED text (disjoint vocabulary → JS near ln 2) —
      // the matrix must separate the planted drift from the organic
      // noise floor, and the oracle replays every nano-integerized
      // token contribution exactly.
      val docs = Tables.documents(s, d).select(
        when(pmod(col("doc_id"), lit(7L)) === 3L, lit("drifted"))
          .otherwise(col("source")).as("fam"),
        when(pmod(col("doc_id"), lit(7L)) === 3L,
          concat_ws(" ", transform(TF.tokens(col("text")), t => reverse(t))))
          .otherwise(col("text")).as("text"))
      graft.operators.VocabDrift.jsMatrix(docs, "fam", "text")
    },
      // pairwise JS divergence with per-token nano integerization —
      // probabilities are exact count/total rationals, so both engines
      // divide the same integers and sum the same longs
      oracle = Some("""WITH toks AS (
           SELECT CASE WHEN doc_id % 7 = 3 THEN 'drifted'
                  ELSE source END AS fam,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  WHEN doc_id % 7 = 3 THEN list_transform(
                    string_split_regex(trim(lower(text)), '\s+'), x -> reverse(x))
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS ts
           FROM documents
         ), tok AS (
           SELECT fam, unnest(ts) AS t FROM toks
         ), cnt AS (
           SELECT fam, t, CAST(count(*) AS BIGINT) AS c
           FROM tok WHERE length(t) > 0 GROUP BY 1, 2
         ), tot AS (
           -- CAST: DuckDB's sum(BIGINT) is HUGEINT, which pandas
           -- renders float64 and the driver's dtype compare rejects
           SELECT fam, CAST(sum(c) AS BIGINT) AS tc FROM cnt GROUP BY 1
         ), pairs AS (
           SELECT a.fam AS fa, b.fam AS fb, a.tc AS t1, b.tc AS t2
           FROM tot a, tot b WHERE a.fam < b.fam
         ), gridtok AS (
           SELECT p.fa, p.fb, p.t1, p.t2, c.t
           FROM pairs p JOIN cnt c ON c.fam = p.fa OR c.fam = p.fb
           GROUP BY 1, 2, 3, 4, 5
         ), contrib AS (
           SELECT g.fa, g.fb, g.t1, g.t2,
             CAST(coalesce(ca.c, 0) AS DOUBLE) / g.t1 AS p1,
             CAST(coalesce(cb.c, 0) AS DOUBLE) / g.t2 AS p2
           FROM gridtok g
             LEFT JOIN cnt ca ON ca.fam = g.fa AND ca.t = g.t
             LEFT JOIN cnt cb ON cb.fam = g.fb AND cb.t = g.t
         )
         SELECT fa AS fam_a, fb AS fam_b, t1 AS n_tok_a, t2 AS n_tok_b,
           CAST(sum(CAST(floor(
             (CASE WHEN p1 > 0 THEN p1 * ln(p1 / ((p1 + p2) / 2.0)) ELSE 0.0 END
              + CASE WHEN p2 > 0 THEN p2 * ln(p2 / ((p1 + p2) / 2.0)) ELSE 0.0 END)
             * 0.5 * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS js_nano
         FROM contrib GROUP BY 1, 2, 3, 4"""),
      // benched: one token exchange, then vocab-sized frames
      bench = Role.Headline,
      // ONE (fam, token, count) frame feeds the vocab-keyed map
      // exchange and the |pairs|-row sum; the pair grid is a
      // non-equi self-join of the |families|-row totals, so the
      // (fam, t) aggregation subtree appears 3x pre-AQE
      // (ReusedExchange collapses them to one corpus pass at
      // runtime). 7 = 3 corpus-agg clones + 2 totals aggs + map
      // exchange + |pairs| sum. The BNLJ is the broadcast
      // |families|²-row pair grid crossed with the vocab-sized
      // token map
      ceiling = Some(Ceiling(7, 3, bnljOk = true))),

    Gate("q_retrieval_eval", (s, d) => {
      // retrieval-quality eval harness (r12): a deterministic query
      // set (every 100th doc below id 10k; terms = its last 3
      // distinct tokens, relevant = itself) scores through the
      // MULTI-query BM25 (Bm25.batchTopK — one corpus pass, postings
      // semi-joined to the broadcast union vocabulary before any
      // exchange) and each query reports its relevant doc's rank@10 /
      // reciprocal rank / hit. No planting: the metric VALUE is the
      // oracle-compared quantity, replayed exactly in DuckDB
      // (per-term scores integerized to micro units before the
      // per-(query,doc) sum, so summation order cannot flip a rank).
      // The id cap makes the eval set CORPUS-INDEPENDENT (≤100
      // queries at any SF) — the labeled-set shape a real eval has,
      // and the bound that keeps the per-(query, matching-doc) score
      // grid ∝ corpus, never ∝ corpus × corpus/100: the uncapped
      // form built a 5k-query × 500k-doc grid at sf10 and OOM-killed
      // a 50 GB JVM (measured r12).
      val docs = Tables.documents(s, d)
      val ts = TF.tokens(col("text"))
      val queries = docs.filter(
          pmod(col("doc_id"), lit(100L)) === 7L && col("doc_id") < 10000L)
        .select(col("doc_id").as("query_id"),
          array_distinct(slice(ts, greatest(size(ts) - 2, lit(1)), lit(3)))
            .as("terms"),
          col("doc_id").as("rel_id"))
        .filter(size(col("terms")) > 0)
      // the corpus pass (native vocab_term_counts postings build) is
      // the dominant CPU: fan it out when the tier file is
      // single-split (scanFanout — no-op at scale)
      graft.operators.Bm25.retrievalEval(
        Spread.ifSmall(s, d, "documents")(docs), "doc_id", "text", queries, k = 10)
    },
      // the eval metric replayed exactly: same tokenize, same Okapi/
      // Lucene idf constants as q_bm25_search, per-term micro
      // integerization before the (query, doc) sum so group order
      // cannot flip a rank
      oracle = Some("""WITH toks AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS ts
           FROM documents
         ), q AS (
           SELECT doc_id AS query_id, doc_id AS rel_id,
             list_distinct(ts[greatest(len(ts) - 2, 1):len(ts)]) AS terms
           FROM toks WHERE doc_id % 100 = 7 AND doc_id < 10000 AND len(ts) > 0
         ), qt AS (
           SELECT query_id, unnest(terms) AS term FROM q
         ), dl AS (
           SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl FROM toks
         ), tokrows AS (
           SELECT doc_id, unnest(ts) AS term FROM toks
         ), post AS (
           SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           FROM tokrows
           WHERE term IN (SELECT DISTINCT term FROM qt)
           GROUP BY 1, 2
         ), df AS (
           SELECT term, CAST(count(*) AS DOUBLE) AS df FROM post GROUP BY 1
         ), stats AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
         ), term_scores AS (
           SELECT p.doc_id, p.term,
             CAST(floor(
               ln(1.0 + (n_docs - df.df + 0.5) / (df.df + 0.5)) * p.tf * (1.5 + 1.0)
                 / (p.tf + 1.5 * ((1.0 - 0.75) + 0.75 * d.dl / avgdl))
               * 1000000.0 + 0.5) AS BIGINT) AS ts_micro
           FROM post p JOIN df USING (term) JOIN dl d ON p.doc_id = d.doc_id, stats
         ), scored AS (
           SELECT qt.query_id, t.doc_id, sum(t.ts_micro) AS score_micro
           FROM qt JOIN term_scores t USING (term)
           GROUP BY 1, 2
         ), ranked AS (
           SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score_micro DESC, doc_id ASC) AS rnk
           FROM scored
         )
         SELECT q.query_id, q.rel_id,
           CAST(coalesce(r.rnk, 0) AS BIGINT) AS rel_rank,
           CASE WHEN r.rnk IS NULL THEN 0.0
                ELSE floor(1.0 / r.rnk * 10000 + 0.5) / 10000 END AS rr,
           r.rnk IS NOT NULL AS hit
         FROM q LEFT JOIN (SELECT * FROM ranked WHERE rnk <= 10) r
           ON q.query_id = r.query_id AND q.rel_id = r.doc_id"""),
      // benched: one corpus tokenize + postings pass,
      // semi-join-gated before any exchange
      bench = Role.Headline,
      // the native vocab_term_counts postings build (rows ∝ matches
      // from the scan, no token explode), its map-explode exchange,
      // the df / per-(query, doc) sum / rank-window exchanges, and
      // pre-AQE clones the runtime collapses to ReusedExchange: 3
      // of the small-regime scan fan-out (the spread docs frame
      // feeds the postings, stats and doc-length branches) and 3 of
      // the union query vocabulary, which rides as a broadcast
      // 1-row aggregate inside the plan instead of a
      // plan-construction collect job. The BNLJ is the 1-row (N,
      // avgdl) stats broadcast; PlanSpec's at-scale test pins the
      // spread-free count
      ceiling = Some(Ceiling(12, 8, bnljOk = true))),

    // not benched: the oracle is a committed-fixture read (as
    // q_bpe_encode), so a DuckDB baseline would time a file scan
    Gate("q_tokenizer_fertility", (s, d) => {
      // tokenizer FERTILITY eval (r12; the BLOOM/Scao et al. metric —
      // subword pieces per word, the go/no-go number before
      // committing a tokenizer to a language/corpus): both trained
      // tokenizers (BPE merges, unigram-LM pieces) encode the corpus
      // and every doc reports pieces-per-word for each. Full oracle
      // with genuine independence: Spark re-trains and re-encodes
      // from raw text, while the oracle reads BOTH independent
      // Python implementations' committed encodings (bpe_enc_* and
      // unigram_enc_* fixtures) joined on doc_id — a drift in either
      // trainer, either encoder, or the fertility arithmetic breaks
      // the hash.
      val docs = Tables.documents(s, d)
      val nWords = docs.select(col("doc_id"),
        size(TF.tokens(col("text"))).cast("long").as("n_words"))
      val bpe = graft.operators.Bpe.encodeDocs(docs, "doc_id", "text",
        graft.operators.Bpe.train(docs, "text", nMerges = 12))
        .select(col("doc_id"), size(col("bpe")).cast("long").as("n_bpe"))
      val uni = graft.operators.UnigramTokenizer.encodeDocs(docs, "doc_id", "text",
        graft.operators.UnigramTokenizer.trainModel(docs, "text"))
        .select(col("doc_id"), size(col("pieces")).cast("long").as("n_uni"))
      def fert(n: Column) = when(col("n_words") === 0, lit(0.0))
        .otherwise(pround(n.cast("double") / col("n_words"), 4))
      nWords.join(bpe, "doc_id").join(uni, "doc_id")
        .select(col("doc_id"), col("n_words"), col("n_bpe"), col("n_uni"),
          fert(col("n_bpe")).as("fert_bpe"),
          fert(col("n_uni")).as("fert_uni"))
    },
      // fertility joins BOTH independent Python encoders' fixtures:
      // Spark recomputes everything from raw text
      oracle = Some("""WITH w AS (
           SELECT doc_id,
             CAST(CASE WHEN length(trim(lower(text))) = 0 THEN 0
                  ELSE len(string_split_regex(trim(lower(text)), '\s+')) END
               AS BIGINT) AS n_words
           FROM documents
         ), b AS (
           SELECT doc_id, n_bpe
           FROM read_parquet('/root/repo/tools/fixtures/bpe_enc_*.parquet')
           WHERE n_docs = (SELECT count(*) FROM documents)
             AND sum_chars = (SELECT sum(n_chars) FROM documents)
         ), u AS (
           SELECT doc_id, n_pieces AS n_uni
           FROM read_parquet('/root/repo/tools/fixtures/unigram_enc_*.parquet')
           WHERE n_docs = (SELECT count(*) FROM documents)
             AND sum_chars = (SELECT sum(n_chars) FROM documents)
         )
         SELECT doc_id, n_words, n_bpe, n_uni,
           CASE WHEN n_words = 0 THEN 0.0
                ELSE floor(CAST(n_bpe AS DOUBLE) / n_words * 10000 + 0.5) / 10000
           END AS fert_bpe,
           CASE WHEN n_words = 0 THEN 0.0
                ELSE floor(CAST(n_uni AS DOUBLE) / n_words * 10000 + 0.5) / 10000
           END AS fert_uni
         FROM w JOIN b USING (doc_id) JOIN u USING (doc_id)""")),

    Gate("q_bigram_logprob", (s, d) =>
      // bigram LM quality score (add-1 smoothing): captures local word
      // order, which the unigram proxy cannot — shuffled gibberish
      // with a normal word histogram scores low here
      graft.operators.BigramLm.scores(Tables.documents(s, d), "doc_id", "text"),
      oracle = Some("""WITH t AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
           FROM documents
         ), bg AS (
           SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
           FROM t, unnest(range(1, len(toks))) AS r(i)
         ), tfb AS (
           SELECT doc_id, w1, w2, count(*) AS tf FROM bg GROUP BY 1, 2, 3
         ), fb AS (
           SELECT w1, w2, count(*) AS c_bg FROM bg GROUP BY 1, 2
         ), ctx AS (
           SELECT w1, count(*) AS c_ctx FROM bg GROUP BY 1
         ), voc AS (
           SELECT count(DISTINCT term) AS v
           FROM (SELECT unnest(toks) AS term FROM t)
           WHERE length(term) > 0
         ), score AS (
           SELECT tfb.doc_id, sum(tfb.tf) AS n_bigrams,
             sum(tfb.tf * CAST(floor(ln((fb.c_bg + 1.0) / (ctx.c_ctx + voc.v))
               * 1000000.0 + 0.5) AS BIGINT)) AS s
           FROM tfb
           JOIN fb USING (w1, w2)
           JOIN ctx USING (w1), voc
           GROUP BY 1
         )
         SELECT d.doc_id,
           CAST(coalesce(score.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CASE WHEN score.n_bigrams IS NULL THEN 0.0
                ELSE floor(CAST(score.s AS DOUBLE)
                       / (score.n_bigrams * 1000000.0) * 10000.0 + 0.5) / 10000.0
           END AS logprob_mean
         FROM documents d LEFT JOIN score ON d.doc_id = score.doc_id""")),

    Gate("q_unigram_logprob", (s, d) =>
      // CCNet-style LM-quality proxy: mean unigram log-prob per doc
      // under the corpus's own distribution; one term-keyed shuffle
      // (freq, total, and the join all reuse it), integerized
      // per-token log-probs so the mean is order-independent
      graft.operators.UnigramLm.scores(Tables.documents(s, d), "doc_id", "text"),
      oracle = Some("""WITH t AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
           FROM documents
         ), tok AS (
           SELECT doc_id, unnest(toks) AS term FROM t
         ), tok2 AS (
           SELECT doc_id, term FROM tok WHERE length(term) > 0
         ), f AS (
           SELECT term, count(*) AS freq FROM tok2 GROUP BY term
         ), tot AS (
           SELECT sum(freq) AS total FROM f
         ), lp AS (
           SELECT doc_id,
             CAST(floor(ln(CAST(freq AS DOUBLE) / total) * 1000000.0 + 0.5) AS BIGINT)
               AS lps
           FROM tok2 JOIN f USING (term), tot
         ), d AS (
           SELECT doc_id, count(*) AS n_tok, sum(lps) AS s FROM lp GROUP BY doc_id
         )
         SELECT dd.doc_id, coalesce(n_tok, 0) AS n_tok,
           CASE WHEN n_tok IS NULL THEN 0.0
                ELSE floor(CAST(s AS DOUBLE) / (n_tok * 1000000.0)
                       * 10000.0 + 0.5) / 10000.0 END AS logprob_mean
         FROM documents dd LEFT JOIN d USING (doc_id)"""),
      bench = Role.Headline,
      // model pass + broadcast-model scoring pass: 3 exchanges at
      // runtime (vocab agg, 1-row total, per-doc partials), 4 in
      // the pre-AQE plan, where the total branch's reuse of the
      // vocab exchange is not yet applied. Token-less docs re-enter
      // via a narrow union branch, so the token stream never
      // shuffles and nothing joins on the doc key (Round5OpsSpec
      // pins the bare-exchange check)
      ceiling = Some(Ceiling(4, 4, bnljOk = true))),

    Gate("q_backoff_logprob", (s, d) => {
      // Stupid Backoff trigram scoring (Brants et al. 2007): the
      // model trains on the doc_id%3==0 reference slice so the
      // backoff chain genuinely fires on the other two thirds —
      // n_hit3/2/1 tallies make each level's firing oracle-visible
      val docs = Tables.documents(s, d)
      graft.operators.BackoffLm.scores(
        docs, docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        spreadTypes = Spread.scanFanout(s, d, "documents"))
    },
      oracle = Some("""WITH t AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
           FROM documents
         ), mt AS (
           SELECT toks FROM t WHERE doc_id % 3 = 0
         ), muni AS (
           SELECT term AS w, count(*) AS c1
           FROM (SELECT unnest(toks) AS term FROM mt)
           WHERE length(term) > 0 GROUP BY 1
         ), mtot AS (
           SELECT count(*) AS n_tok, count(DISTINCT term) AS v
           FROM (SELECT unnest(toks) AS term FROM mt)
           WHERE length(term) > 0
         ), mbig AS (
           SELECT toks[i] AS w1, toks[i + 1] AS w2, count(*) AS c2
           FROM mt, unnest(range(1, len(toks))) AS r(i) GROUP BY 1, 2
         ), mtri AS (
           SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3,
             count(*) AS c3
           FROM mt, unnest(range(1, len(toks) - 1)) AS r(i) GROUP BY 1, 2, 3
         ), tfd AS (
           SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
             toks[i + 2] AS w3, count(*) AS tf
           FROM t, unnest(range(1, len(toks) - 1)) AS r(i)
           GROUP BY 1, 2, 3, 4
         ), types AS (
           SELECT DISTINCT w1, w2, w3 FROM tfd
         ), scored AS (
           SELECT types.w1, types.w2, types.w3,
             CASE WHEN mtri.c3 IS NOT NULL THEN 3
                  WHEN b23.c2 IS NOT NULL THEN 2 ELSE 1 END AS level,
             CAST(floor(ln(
               CASE WHEN mtri.c3 IS NOT NULL
                      THEN CAST(mtri.c3 AS DOUBLE) / b12.c2
                    WHEN b23.c2 IS NOT NULL
                      THEN CAST(0.4 AS DOUBLE) * b23.c2 / u2.c1
                    ELSE CAST(0.16 AS DOUBLE) * (coalesce(u3.c1, 0) + 1)
                      / (mtot.n_tok + mtot.v) END)
               * 1000000.0 + 0.5) AS BIGINT) AS lns
           FROM types
           LEFT JOIN mtri USING (w1, w2, w3)
           LEFT JOIN mbig b12 ON types.w1 = b12.w1 AND types.w2 = b12.w2
           LEFT JOIN mbig b23 ON types.w2 = b23.w1 AND types.w3 = b23.w2
           LEFT JOIN muni u2 ON types.w2 = u2.w
           LEFT JOIN muni u3 ON types.w3 = u3.w, mtot
         ), perdoc AS (
           SELECT tfd.doc_id, sum(tf) AS n_trigrams,
             sum(CASE WHEN level = 3 THEN tf ELSE 0 END) AS n_hit3,
             sum(CASE WHEN level = 2 THEN tf ELSE 0 END) AS n_hit2,
             sum(CASE WHEN level = 1 THEN tf ELSE 0 END) AS n_hit1,
             sum(tf * lns) AS s
           FROM tfd JOIN scored USING (w1, w2, w3) GROUP BY 1
         )
         SELECT d.doc_id,
           CAST(coalesce(p.n_trigrams, 0) AS BIGINT) AS n_trigrams,
           CAST(coalesce(p.n_hit3, 0) AS BIGINT) AS n_hit3,
           CAST(coalesce(p.n_hit2, 0) AS BIGINT) AS n_hit2,
           CAST(coalesce(p.n_hit1, 0) AS BIGINT) AS n_hit1,
           CASE WHEN p.n_trigrams IS NULL THEN 0.0
                ELSE floor(CAST(p.s AS DOUBLE)
                       / (p.n_trigrams * 1000000.0) * 10000.0 + 0.5) / 10000.0
           END AS backoff_mean
         FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id"""),
      // benched: two tokenize sides + type-keyed joins
      bench = Role.Headline,
      // one corpus scan per n-gram order (the Brants MapReduce
      // shape; totals fold from the vocab-sized unigram table, and
      // 3 pre-AQE duplicate branches come back as runtime
      // ReusedExchange) plus type-keyed joins. The doc side folds
      // the type table off the (h3, doc) aggregate (one
      // type-bounded exchange instead of a second corpus trigram
      // scan), and the small-regime spreadTypes respread guards the
      // five-join chain's parallelism (absent at scale). The BNLJ
      // is the 1-row (N, V) broadcast
      ceiling = Some(Ceiling(13, 9, bnljOk = true))),

    Gate("q_tfidf", (s, d) =>
      // top-3 TF-IDF terms per doc: tf and df from ONE tokenize pass,
      // vocabulary join keyed by term (not broadcast — vocab is big at
      // corpus scale), WindowGroupLimit top-k on the 4dp-rounded score
      graft.operators.TfIdf.topTerms(Tables.documents(s, d), "doc_id", "text", k = 3,
        spreadN = Spread.scanFanout(s, d, "documents")),
      oracle = Some("""WITH t AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
           FROM documents
         ), tok AS (
           SELECT doc_id, unnest(toks) AS term FROM t
         ), tf AS (
           SELECT doc_id, term, count(*) AS tf FROM tok
           WHERE length(term) > 0 GROUP BY doc_id, term
         ), df AS (
           SELECT term, count(*) AS df FROM tf GROUP BY term
         ), n AS (
           SELECT count(*) AS n_docs FROM documents
         ), sc AS (
           SELECT doc_id, term, tf,
             floor(CAST(tf AS DOUBLE) * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0)
               * 10000.0 + 0.5) / 10000.0 AS tfidf
           FROM tf JOIN df USING (term), n
         ), r AS (
           SELECT *, row_number() OVER (
             PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
           FROM sc
         )
         SELECT doc_id, term, tf, tfidf, CAST(rk AS BIGINT) AS rk
         FROM r WHERE rk <= 3"""),
      bench = Role.Headline,
      ceiling = Some(Ceiling(4, 3, bnljOk = true)))
  )
}
