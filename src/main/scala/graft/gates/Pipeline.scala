package graft
package gates

import org.apache.spark.sql.functions._

import Fixtures.{withNearRecrawls, stopwords, langMarkers, pround, corpusPrepSql, stagePath}

/** Family G, `graft.pipeline`: the corpus-prep pipeline in its
  * lazy, staged, full and clustered forms, train/eval splits and
  * decontamination.
  */
object Pipeline {

  val gates: Seq[Gate] = Seq(

    Gate("q_corpus_prep", (s, d) =>
      // LLM-corpus prep chain (SQL-expressible portion, oracle-checked)
      graft.pipeline.CorpusPrep.prep(Tables.documents(s, d), "doc_id", "text",
        stopwords, langMarkers, minQuality = 0.3,
        allowedLangs = Seq("en"), minTokens = 10),
      oracle = Some(corpusPrepSql),
      bench = Role.Headline,
      ceiling = Some(Ceiling(1, 2, bnljOk = false))),

    Gate("q_corpus_prep_staged", (s, d) =>
      // write-barrier variant: scored corpus staged to parquet instead
      // of cache — the form that holds at 100 TB. Same oracle as prep.
      graft.pipeline.CorpusPrep.prepStaged(Tables.documents(s, d), "doc_id", "text",
        stopwords, langMarkers, minQuality = 0.3,
        allowedLangs = Seq("en"), minTokens = 10,
        stagePath = s"/tmp/graft_prep_stage_${d.replaceAll("[^a-zA-Z0-9]", "_")}"),
      // staged (write-barrier) variant has identical semantics
      oracle = Some(corpusPrepSql)),

    Gate("q_corpus_prep_full", (s, d) =>
      // + MinHash near-dup removal (rows-only: LSH not SQL-expressible)
      graft.pipeline.CorpusPrep.prepFull(Tables.documents(s, d), "doc_id", "text",
        stopwords, langMarkers)),

    Gate("q_corpus_prep_clustered", (s, d) => {
      // cluster-canonical near-dup removal, fully oracle-checked over
      // the near-recrawl-augmented corpus (see withNearRecrawls: pair
      // plantings at %25==4 plus 3-node chain plantings at %50==11
      // where the cluster policy is STRICTLY stronger than pairwise).
      val aug = withNearRecrawls(Tables.documents(s, d).select("doc_id", "text"))
      val res = graft.pipeline.CorpusPrep.prepClustered(aug, "doc_id", "text",
        stopwords, langMarkers, minQuality = 0.3, allowedLangs = Seq("en"),
        minTokens = 10, jaccardThreshold = 0.5, shingleK = 3, maxDf = 20)
      // Degeneracy tripwire: if the chain planting regressed (pads too
      // short/long, slice empty, gates dropping the chain docs), the
      // cluster policy would collapse to pairwise drop-id_b and this
      // gate would verify nothing beyond q_corpus_prep — fail red
      // instead of going vacuously green. Cheap at gate scale.
      val prepped = graft.pipeline.CorpusPrep.prep(aug, "doc_id", "text",
        stopwords, langMarkers, minQuality = 0.3, allowedLangs = Seq("en"),
        minTokens = 10)
      val surv = aug.join(prepped.select("doc_id"), Seq("doc_id"), "left_semi")
      val pairs = graft.dedup.NgramJaccard.pairs(surv, "doc_id", "text", 3, 0.5, 20)
      val pairwiseKept = prepped.join(
        pairs.select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      require(res.count() < pairwiseKept.count(),
        "degenerate corpus: cluster-canonical == pairwise (chain planting regressed)")
      res
    },
      // prep + cluster-canonical near-dup removal: corpus-prep CTEs over
      // the near-recrawl-augmented corpus, then exact-Jaccard pairs over
      // the survivors closed into components by a recursive CTE; only
      // cluster-min ids survive
      oracle = Some("""WITH RECURSIVE off AS (
           SELECT CAST(coalesce(power(10, length(CAST(greatest(coalesce(max(doc_id), 0), 0) AS VARCHAR))), 1000000) AS BIGINT) AS v
           FROM documents
         ), gsrc AS (
           SELECT doc_id, text,
             CAST(ceil(1.2 * len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT) AS g,
             translate(CAST(doc_id AS VARCHAR), '0123456789', 'abcdefghij') AS lid
           FROM documents WHERE doc_id % 50 = 11
         ), aug AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + (SELECT v FROM off), text || ' nearly' FROM documents
           WHERE doc_id % 25 = 4
           UNION ALL
           SELECT doc_id + 2 * (SELECT v FROM off),
             text || ' ' || array_to_string(list_transform(range(1, g + 1),
               i -> 'zz' || lid || 'x' || translate(CAST(i AS VARCHAR), '0123456789', 'abcdefghij')), ' ')
           FROM gsrc
           UNION ALL
           SELECT doc_id + 3 * (SELECT v FROM off),
             text || ' ' || array_to_string(list_transform(range(g + 1, 2 * g + 1),
               i -> 'zz' || lid || 'x' || translate(CAST(i AS VARCHAR), '0123456789', 'abcdefghij')), ' ')
           FROM gsrc
           UNION ALL
           SELECT doc_id + 4 * (SELECT v FROM off),
             text || ' ' || array_to_string(list_transform(range(1, 2 * g + 1),
               i -> 'zz' || lid || 'x' || translate(CAST(i AS VARCHAR), '0123456789', 'abcdefghij')), ' ')
           FROM gsrc
         ), c AS (
           SELECT doc_id,
             trim(regexp_replace(regexp_replace(
               regexp_replace(text, 'https?://\S+', ' ', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
               '\s+', ' ', 'g')) AS clean
           FROM aug
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
         ), prep AS (
           SELECT doc_id, quality, lang_pred, n_tokens FROM g
           WHERE doc_id IN (SELECT min(doc_id) FROM g GROUP BY md5(clean))
         ), surv AS (
           SELECT a.doc_id, a.text FROM aug a JOIN prep pp ON a.doc_id = pp.doc_id
         ), toks2 AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS ts
           FROM surv
         ), sh AS (
           SELECT doc_id,
             CASE WHEN len(ts) = 0 THEN CAST([] AS VARCHAR[])
                  WHEN len(ts) <= 3 THEN [array_to_string(ts, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ts) - 1),
                         i -> array_to_string(ts[i:i+2], ' ')))
             END AS shs
           FROM toks2
         ), idx AS (
           SELECT doc_id, CAST(len(shs) AS BIGINT) AS set_size, unnest(shs) AS shingle
           FROM sh
         ), rare AS (
           SELECT shingle FROM idx GROUP BY shingle HAVING count(*) BETWEEN 2 AND 20
         ), pr AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.set_size AS size_a, b.set_size AS size_b, count(*) AS inter
           FROM idx a JOIN rare r ON a.shingle = r.shingle
                      JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4
         ), e AS (
           SELECT id_a AS u, id_b AS v FROM pr
           WHERE floor(CAST(inter AS DOUBLE) / (size_a + size_b - inter)
                   * 10000.0 + 0.5) / 10000.0 >= 0.5
         ), sym2 AS (
           SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e
         ), reach AS (
           SELECT doc_id AS a, doc_id AS b FROM surv
           UNION
           SELECT r.a, s2.v AS b FROM reach r JOIN sym2 s2 ON r.b = s2.u
         ), comp AS (
           SELECT a AS doc_id, min(b) AS m FROM reach GROUP BY a
         )
         SELECT pp.doc_id, pp.quality, pp.lang_pred, pp.n_tokens
         FROM prep pp JOIN comp ON pp.doc_id = comp.doc_id AND comp.doc_id = comp.m""")),

    Gate("q_corpus_prep_full_clustered", (s, d) =>
      // the 100 TB recipe: LSH candidate pairs -> connected components
      // -> cluster-min keep. Rows-only (banding isn't SQL-expressible);
      // GroundTruthSpec pins the policy to brute-force cluster minima.
      graft.pipeline.CorpusPrep.prepFullClustered(
        withNearRecrawls(Tables.documents(s, d).select("doc_id", "text")),
        "doc_id", "text", stopwords, langMarkers)),

    Gate("q_train_split", (s, d) =>
      // deterministic hash split on the cross-engine md5 bucket (the
      // xxhash64 default is the production path but only Spark
      // reproduces its seed — portableBucket makes the gate exact)
      graft.pipeline.CorpusPrep.trainSplit(Tables.documents(s, d), "doc_id",
          bucket = Some(graft.pipeline.CorpusPrep.portableBucket("doc_id")))
        .groupBy("split").agg(count(lit(1)).as("n"),
          pround(avg("n_chars"), 2).as("avg_chars")),
      oracle = Some("""WITH b AS (
           SELECT n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#0'), 1, 8))::BIGINT % 100
               AS bucket
           FROM documents
         ), s AS (
           SELECT n_chars,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
           FROM b
         )
         SELECT split, count(*) AS n,
           floor(avg(n_chars) * 100.0 + 0.5) / 100.0 AS avg_chars
         FROM s GROUP BY split""")),

    Gate("q_verbatim_contamination", (s, d) => {
      // verbatim eval-leak scan (r11): 40-char eval snippets pasted
      // into every (50k+1)-th training doc must flag through the
      // broadcast contains-semi join — the exact-substring check that
      // catches what token-boundary shingle overlap (q_decontaminate)
      // cannot. Snippets shorter than 20 chars are excluded on both
      // sides (contains(text, '') is vacuously true).
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val evalDocs = docs.filter(pmod(col("doc_id"), lit(50L)) === 0L)
      val snippets = evalDocs
        .select(substring(col("text"), 11, 40).as("snippet"))
        .filter(length(col("snippet")) >= 20)
      val planted = docs.filter(pmod(col("doc_id"), lit(50L)) =!= 0L)
        .join(evalDocs.select((col("doc_id") + 1).as("doc_id"),
          substring(col("text"), 11, 40).as("__sn")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__sn").isNotNull && length(col("__sn")) >= 20,
            concat(col("text"), lit(" ... "), col("__sn")))
            .otherwise(col("text")).as("text"))
      val flagged = graft.pipeline.Decontaminate.verbatimFlagged(
        planted, snippets, "text", "snippet")
      planted.agg(count(lit(1)).as("n_train"))
        .crossJoin(snippets.agg(count(lit(1)).as("n_eval")))
        .crossJoin(flagged.agg(count(lit(1)).as("n_flagged")))
    },
      oracle = Some("""WITH ev AS (
           SELECT doc_id, substr(text, 11, 40) AS snippet
           FROM documents WHERE doc_id % 50 = 0
         ), sn AS (
           SELECT snippet FROM ev WHERE length(snippet) >= 20
         ), train AS (
           SELECT d.doc_id,
             CASE WHEN e.snippet IS NOT NULL AND length(e.snippet) >= 20
                  THEN d.text || ' ... ' || e.snippet ELSE d.text END AS text
           FROM documents d LEFT JOIN ev e ON d.doc_id = e.doc_id + 1
           WHERE d.doc_id % 50 <> 0
         )
         SELECT (SELECT count(*) FROM train) AS n_train,
                (SELECT count(*) FROM sn) AS n_eval,
                (SELECT count(*) FROM train t WHERE EXISTS
                   (SELECT 1 FROM sn s WHERE contains(t.text, s.snippet)))
                  AS n_flagged""")),

    Gate("q_decontaminate", (s, d) => {
      // benchmark decontamination: every 10th doc plays the eval set,
      // the rest are the training corpus (the 100 TB side — only the
      // tiny eval shingle dim is broadcast, the corpus is not shuffled)
      val docs = Tables.documents(s, d)
      graft.pipeline.Decontaminate.stats(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", k = 3, threshold = 0.5)
    },
      oracle = Some("""WITH train AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
         ), ev AS (
           SELECT text FROM documents WHERE doc_id % 10 = 0
         ), toks_t AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS ts
           FROM train
         ), sh_t AS (
           SELECT doc_id,
             CASE WHEN len(ts) = 0 THEN CAST([] AS VARCHAR[])
                  WHEN len(ts) <= 3 THEN [array_to_string(ts, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ts) - 1),
                         i -> array_to_string(ts[i:i+2], ' ')))
             END AS shs
           FROM toks_t
         ), toks_e AS (
           SELECT CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                       ELSE string_split_regex(trim(lower(text)), '\s+') END AS ts
           FROM ev
         ), evsh AS (
           SELECT DISTINCT unnest(
             CASE WHEN len(ts) = 0 THEN CAST([] AS VARCHAR[])
                  WHEN len(ts) <= 3 THEN [array_to_string(ts, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ts) - 1),
                         i -> array_to_string(ts[i:i+2], ' ')))
             END) AS shingle
           FROM toks_e
         ), idx AS (
           SELECT doc_id, unnest(shs) AS shingle FROM sh_t
         ), hits AS (
           SELECT i.doc_id, count(*) AS n_hit
           FROM idx i JOIN evsh e USING (shingle) GROUP BY 1
         ), stats AS (
           SELECT s.doc_id, CAST(len(s.shs) AS BIGINT) AS n_shingles,
                  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit
           FROM sh_t s LEFT JOIN hits h USING (doc_id)
         ), fin AS (
           SELECT doc_id, n_shingles, n_hit,
             CASE WHEN n_shingles = 0 THEN 0.0
                  ELSE floor(CAST(n_hit AS DOUBLE) / n_shingles * 10000.0 + 0.5)
                       / 10000.0 END AS contamination
           FROM stats
         )
         SELECT doc_id, n_shingles, n_hit, contamination,
           CAST(CASE WHEN contamination >= 0.5 THEN 1 ELSE 0 END AS BIGINT)
             AS contaminated
         FROM fin"""))
  )
}
