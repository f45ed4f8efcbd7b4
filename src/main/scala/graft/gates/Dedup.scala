package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{MinHashLSH, NgramJaccard, SemDeDup, SimHash}
import Fixtures.{withRecrawls, stagePath}

/** Family G, `graft.dedup`: MinHash/SimHash LSH, n-gram Jaccard,
  * near-dup clusters, passage dedup, SemDeDup, the incremental LSH
  * ingest, and fuzzy entity resolution.
  */
object Dedup {

  // Shared between q_fuzzy_match and q_entity_clusters so the two
  // queries (and their DuckDB oracles) can't silently desynchronize.
  private def partNameReps(parts: DataFrame): DataFrame =
    parts.groupBy("p_name").agg(min("p_partkey").as("rep"))
  private def partNameFuzzyPairs(reps: DataFrame): DataFrame =
    graft.operators.FuzzyJoin.pairs(reps, "rep", "p_name",
      substring_index(col("p_name"), " ", 1), maxDist = 3)

  val gates: Seq[Gate] = Seq(

    Gate("q_fuzzy_match", (s, d) =>
      // fuzzy string join, DEDUP-FIRST: exact duplicates collapse to a
      // min-key representative before any pairing, so the pair fanout
      // is quadratic in DISTINCT values, never in rows (duplicate-
      // heavy data otherwise explodes: row-level pairing on sf0.1
      // parts is 3.1M pairs; name-level is 16). Blocking after the
      // collapse is also what keeps block sizes bounded: the distinct-
      // name pool does not grow with corpus size, so first-word blocks
      // stay under the hot-block cap at any SF
      partNameFuzzyPairs(partNameReps(Tables.part(s, d))),
      oracle = Some("""WITH t AS (
           SELECT min(p_partkey) AS id, p_name AS s,
                  split_part(p_name, ' ', 1) AS blk
           FROM part GROUP BY p_name
         ), ok AS (
           SELECT blk FROM t GROUP BY blk HAVING count(*) <= 1000
         ), b AS (
           SELECT t.* FROM t JOIN ok USING (blk)
         )
         SELECT a.id AS id_a, x.id AS id_b,
                CAST(levenshtein(a.s, x.s) AS BIGINT) AS dist
         FROM b a JOIN b x ON a.blk = x.blk AND a.id < x.id
         WHERE levenshtein(a.s, x.s) <= 3""")),

    Gate("q_entity_clusters", (s, d) => {
      // entity resolution, dedup-first: exact names collapse to a
      // min-key representative; fuzzy pairs + connected components run
      // at DISTINCT-name scale; membership expands back with one
      // broadcastable join. Every part gets a canonical cluster id
      val parts = Tables.part(s, d).select("p_partkey", "p_name")
      val reps = partNameReps(parts)
      val comp = graft.dedup.Components.connectedComponents(
        partNameFuzzyPairs(reps), "id_a", "id_b")
      parts.join(reps, "p_name")
        .join(comp, col("rep") === col("id"), "left")
        .select(col("p_partkey"),
          coalesce(col("component"), col("rep")).as("component"))
    },
      oracle = Some("""WITH RECURSIVE t AS (
           SELECT min(p_partkey) AS id, p_name AS s,
                  split_part(p_name, ' ', 1) AS blk
           FROM part GROUP BY p_name
         ), ok AS (
           SELECT blk FROM t GROUP BY blk HAVING count(*) <= 1000
         ), b AS (
           SELECT t.* FROM t JOIN ok USING (blk)
         ), e AS (
           SELECT a.id AS u, x.id AS v
           FROM b a JOIN b x ON a.blk = x.blk AND a.id < x.id
           WHERE levenshtein(a.s, x.s) <= 3
         ), sym2 AS (
           SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e
         ), reach AS (
           SELECT id AS a, id AS b FROM t
           UNION
           SELECT r.a, s2.v AS b FROM reach r JOIN sym2 s2 ON r.b = s2.u
         ), comp AS (
           SELECT a AS rep, min(b) AS component FROM reach GROUP BY a
         )
         SELECT p.p_partkey, CAST(c.component AS BIGINT) AS component
         FROM part p
         JOIN t ON p.p_name = t.s
         JOIN comp c ON t.id = c.rep""")),

    Gate("q_semdedup", (s, d) => {
      // SemDeDup (Abbas et al. 2023): k-means cells → intra-cell
      // pairwise cosine → keep the min id per dup pair. Random unit
      // vectors never reach cosine 0.95 (the q_dedup_embedding
      // lesson), so the gate plants 20 scaled copies (cosine exactly
      // 1 with their originals, co-clustered by construction since
      // assignment is direction-only) under high ids — exactly the
      // planted ids MUST come back removed and every original must
      // survive; GroundTruthSpec proves that same construction
      // exactly. k-means is not SQL-expressible → rows-only gate.
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val planted = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(0.99f)).as("embedding"))
      SemDeDup.verdictsAuto(emb.unionByName(planted), eps = 0.95)
        .filter(col("removed")).select("vec_id")
    },
      // rows-only by nature: embeddings-wide k-means + intra-cell
      // pair grid
      bench = Role.Extra),

    Gate("q_semdedup_check", (s, d) => {
      // the SemDeDup planted construction as a DRIVER-CHECKED gate
      // (r11, the q_embedding_dedup_check pattern): direction-only
      // assignment co-clusters each 0.99-scaled copy with its
      // original at cosine exactly 1.0, and min-id-keeps means the
      // removed set must be EXACTLY the planted ids — n_removed
      // compares to the exact construction size, the only-planted
      // verdict is pinned TRUE
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val planted = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(0.99f)).as("embedding"))
      SemDeDup.verdictsAuto(emb.unionByName(planted), eps = 0.95)
        .filter(col("removed"))
        .agg(count(lit(1)).as("n_removed"),
          (count(when(col("vec_id") >= 10000000L, lit(1))) === count(lit(1)))
            .as("only_planted_removed"))
    },
      // removed set == the planted ids, exactly
      oracle = Some("""SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 20)
             AS n_removed,
           TRUE AS only_planted_removed""")),

    Gate("q_split_by_cluster", (s, d) => {
      // leakage-safe train/test split: near-duplicate docs share a
      // connected-component id, and the split draw hashes the CLUSTER
      // id — near-dups can never straddle the boundary (a doc-id split
      // leaks eval content whenever a near-copy lands in train)
      val docs = Tables.documents(s, d)
      graft.dedup.Components.clusters(
          docs, "doc_id",
          NgramJaccard.pairs(docs, "doc_id", "text", k = 3, threshold = 0.5, maxDf = 20),
          "id_a", "id_b")
        .withColumn("split",
          when(graft.operators.Sampling.portableUniform("component", 5) < 0.9, "train")
            .otherwise("test"))
    },
      oracle = Some("""WITH RECURSIVE toks AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS ts
           FROM documents
         ), sh AS (
           SELECT doc_id,
             CASE WHEN len(ts) = 0 THEN CAST([] AS VARCHAR[])
                  WHEN len(ts) <= 3 THEN [array_to_string(ts, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ts) - 1),
                         i -> array_to_string(ts[i:i+2], ' ')))
             END AS shs
           FROM toks
         ), idx AS (
           SELECT doc_id, CAST(len(shs) AS BIGINT) AS set_size, unnest(shs) AS shingle
           FROM sh
         ), rare AS (
           SELECT shingle FROM idx GROUP BY shingle HAVING count(*) BETWEEN 2 AND 20
         ), p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.set_size AS size_a, b.set_size AS size_b, count(*) AS inter
           FROM idx a JOIN rare r ON a.shingle = r.shingle
                      JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4
         ), e AS (
           SELECT id_a AS u, id_b AS v FROM p
           WHERE floor(CAST(inter AS DOUBLE) / (size_a + size_b - inter)
                   * 10000.0 + 0.5) / 10000.0 >= 0.5
         ), sym2 AS (
           SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e
         ), reach AS (
           SELECT doc_id AS a, doc_id AS b FROM documents
           UNION
           SELECT r.a, s.v AS b FROM reach r JOIN sym2 s ON r.b = s.u
         ), comp AS (
           SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS component
           FROM reach GROUP BY a
         )
         SELECT doc_id, component,
           CASE WHEN CAST(('0x' || substr(md5(CAST(component AS VARCHAR) || '#5'), 1, 8))
                  AS BIGINT) / 4294967296.0 < 0.9
                THEN 'train' ELSE 'test' END AS split
         FROM comp""")),

    Gate("q_lsh_ingest_dedup", (s, d) => {
      // incremental NEAR-dup ingest (r10; re-measured r11): the
      // MinHash analog of q_bloom_ingest_dedup — a persisted
      // banded-LSH index screens each crawl batch without
      // re-shingling history. The index build is STAGED once per
      // tier (LshIngest.ensureIndex fingerprint stamp): the timed
      // unit is the per-batch cost a production ingest pays
      // (signatures + bounded probe + verify + delta), NOT the
      // one-time build the operator exists to amortize away —
      // r10's gate re-built the full-corpus index inside the timed
      // query (18.2 s at sf10, slower than one-shot q_dedup_minhash).
      // Bench pre-stages via SparkEntry.stageTier; standalone runs
      // self-stage on first call. The batch: one-token-appended
      // recrawl slice (J >= s/(s+3), min 8 shingles/doc => ~0.73+,
      // must flag vs its original) + token-REVERSED docs (disjoint
      // shingle direction => novel, must survive). Partial oracle
      // (r10 verdict item 1, the q_profile_approx_check precedent):
      // n_in exact; partition_ok (novel + flagged = batch) and
      // verdict_ok (>=90% of each slice gets its constructed
      // verdict; the minhash miss floor at 8 shingles is ~0.5%/doc)
      // pinned TRUE. LshIngestSpec pins the exact flag/survive sets.
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val base = stagePath("lshidx", d)
      graft.dedup.LshIngest.ensureIndex(docs, "doc_id", "text", base,
        sourceFp = Tables.sourceStamp(s, d, "documents"))
      val recrawl = docs.filter(pmod(col("doc_id"), lit(10L)) === 3L)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" zzrecrawlpad")).as("text"),
          lit("recrawl").as("batch_src"))
      val fresh = docs.filter(pmod(col("doc_id"), lit(10L)) === 4L)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          concat_ws(" ", reverse(split(trim(lower(col("text"))), "\\s+")))
            .as("text"),
          lit("fresh_reversed").as("batch_src"))
      val incoming = recrawl.unionByName(fresh).localCheckpoint(eager = false)
      val (novel, dups, _, _) = graft.dedup.LshIngest.screen(
        s, incoming, "doc_id", "text", base, threshold = 0.5)
      incoming.groupBy("batch_src").agg(count(lit(1)).as("n_in"))
        .join(novel.groupBy("batch_src").agg(count(lit(1)).as("n_novel")),
          Seq("batch_src"), "left")
        .join(incoming.join(dups.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .groupBy("batch_src").agg(count(lit(1)).as("n_flagged")),
          Seq("batch_src"), "left")
        .select(col("batch_src"), col("n_in"),
          (coalesce(col("n_novel"), lit(0L)) + coalesce(col("n_flagged"), lit(0L))
            === col("n_in")).as("partition_ok"),
          (when(col("batch_src") === "recrawl", coalesce(col("n_flagged"), lit(0L)))
            .otherwise(coalesce(col("n_novel"), lit(0L))).cast("double")
            >= col("n_in") * 0.9).as("verdict_ok"))
    },
      // partial oracle (r10 verdict item 1): the batch slice sizes are
      // exact SQL; the screen verdicts are minhash-recall-dependent, so
      // the gate collapses them to booleans the oracle pins TRUE
      // (partition_ok: novel+flagged covers the batch; verdict_ok:
      // >=90% of each constructed slice gets its designed verdict).
      // The exact flag/survive sets are LshIngestSpec's job; the
      // comparable-WORK baseline SQL (batch-vs-corpus candidate join +
      // exact jaccard verify) lives in tools/baseline.py's
      // EXTRAS_BASELINE_SQL and times the screen's oracle-engine analog
      oracle = Some("""SELECT 'recrawl' AS batch_src, count(*) AS n_in,
                TRUE AS partition_ok, TRUE AS verdict_ok
         FROM documents WHERE doc_id % 10 = 3
         UNION ALL
         SELECT 'fresh_reversed' AS batch_src, count(*) AS n_in,
                TRUE AS partition_ok, TRUE AS verdict_ok
         FROM documents WHERE doc_id % 10 = 4"""),
      // the index build is staged outside the timed unit, so the
      // bench measures screen + verify + delta, the per-batch cost;
      // the comparable-work DuckDB row is under the baseline's
      // extras
      bench = Role.Extra),

    Gate("q_dedup_minhash", (s, d) =>
      MinHashLSH.nearDupSummary(Tables.documents(s, d), "doc_id", "text"),
      // rows-only by nature (no SQL-expressible oracle)
      bench = Role.Extra,
      // the two-phase bucket harvest (count → filter → collect
      // survivors) adds 2 shuffles/leaves; that cheap codegen'd
      // pass avoids the sort-based object-agg fallback over the
      // full band frame (65 s → 13 s at sf10)
      ceiling = Some(Ceiling(8, 9, bnljOk = false))),

    Gate("q_minhash_check", (s, d) => {
      // minhash's pigeonhole guarantee as a DRIVER-CHECKED gate (r11):
      // an exact copy has the identical signature, so every band
      // matches, the pair is always a candidate, and the verify sees
      // jaccard exactly 1.0 — for each planted recrawl copy AND its
      // original, deterministically, at any SF. Probabilistic recall
      // (threshold pairs) stays GroundTruthSpec's job; this pins the
      // exact-dup floor the operator can never miss.
      val base = Tables.documents(s, d).select("doc_id", "text")
      val aug = withRecrawls(base)
      val rep = MinHashLSH.nearDupSummary(aug, "doc_id", "text")
      val cons = base.filter(pmod(col("doc_id"), lit(10L)) === 3L)
        .select("doc_id")
        .unionByName(aug.select("doc_id")
          .join(base.select("doc_id"), Seq("doc_id"), "left_anti"))
      rep.join(cons, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("n_construction"),
          (count(when(col("is_near_dup") && col("best_jaccard") === 1.0,
            lit(1))) === count(lit(1))).as("all_exact_flagged"))
    },
      // the construction is 2 rows per recrawled doc (original +
      // copy); the pigeonhole verdict is pinned TRUE
      oracle = Some("""SELECT (SELECT count(*) FROM documents WHERE doc_id % 10 = 3) * 2
             AS n_construction,
           TRUE AS all_exact_flagged""")),

    Gate("q_dedup_simhash", (s, d) =>
      SimHash.summary(Tables.documents(s, d), "doc_id", "text", maxHamming = 16)),

    Gate("q_simhash_check", (s, d) => {
      // simhash's pigeonhole guarantee, same pattern: identical text
      // -> identical 64-bit fingerprint -> same chunk buckets ->
      // candidate pair at hamming exactly 0, for every construction
      // doc, deterministically
      val base = Tables.documents(s, d).select("doc_id", "text")
      val aug = withRecrawls(base)
      val rep = SimHash.summary(aug, "doc_id", "text", maxHamming = 16)
      val cons = base.filter(pmod(col("doc_id"), lit(10L)) === 3L)
        .select("doc_id")
        .unionByName(aug.select("doc_id")
          .join(base.select("doc_id"), Seq("doc_id"), "left_anti"))
      rep.join(cons, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("n_construction"),
          (count(when(col("min_hamming") === 0, lit(1))) === count(lit(1)))
            .as("all_zero_hamming"))
    },
      oracle = Some("""SELECT (SELECT count(*) FROM documents WHERE doc_id % 10 = 3) * 2
             AS n_construction,
           TRUE AS all_zero_hamming""")),

    Gate("q_ngram_jaccard", (s, d) =>
      NgramJaccard.summary(Tables.documents(s, d), "doc_id", "text", k = 3, maxDf = 100),
      // exact mirror of NgramJaccard.summary(k=3, maxDf=100): shingling
      // (distinct word 3-grams; short docs → whole text), df-capped
      // inverted index (HAVING df BETWEEN 2 AND maxDf == the bounded
      // collect + size filter), pair intersection counts, floor-rounded
      // jaccard, best-match per doc with (jaccard, other_id) max order
      oracle = Some("""WITH toks AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS ts
           FROM documents
         ), sh AS (
           SELECT doc_id,
             CASE WHEN len(ts) = 0 THEN CAST([] AS VARCHAR[])
                  WHEN len(ts) <= 3 THEN [array_to_string(ts, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ts) - 1),
                         i -> array_to_string(ts[i:i+2], ' ')))
             END AS shs
           FROM toks
         ), idx AS (
           SELECT doc_id, CAST(len(shs) AS BIGINT) AS set_size, unnest(shs) AS shingle
           FROM sh
         ), rare AS (
           SELECT shingle FROM idx GROUP BY shingle HAVING count(*) BETWEEN 2 AND 100
         ), p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.set_size AS size_a, b.set_size AS size_b, count(*) AS inter
           FROM idx a JOIN rare r ON a.shingle = r.shingle
                      JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4
         ), j AS (
           SELECT id_a, id_b,
             floor(CAST(inter AS DOUBLE) / (size_a + size_b - inter) * 10000.0 + 0.5)
               / 10000.0 AS jaccard
           FROM p
         ), sym AS (
           SELECT id_a AS doc_id, id_b AS other_id, jaccard FROM j
           UNION ALL
           SELECT id_b AS doc_id, id_a AS other_id, jaccard FROM j
         ), ranked AS (
           SELECT doc_id, other_id, jaccard,
             count(*) OVER (PARTITION BY doc_id) AS n_overlapping,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY jaccard DESC, other_id DESC) AS rn
           FROM sym
         )
         SELECT d.doc_id,
           CAST(COALESCE(r.n_overlapping, 0) AS BIGINT) AS n_overlapping,
           r.other_id AS best_match_id,
           COALESCE(r.jaccard, -1.0) AS best_jaccard
         FROM documents d
         LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r ON d.doc_id = r.doc_id""")),

    Gate("q_dedup_clusters", (s, d) =>
      // pairs → CLUSTERS: alternating large/small-star connected
      // components over the (oracle-green) ngram-jaccard pair list;
      // component = min doc_id, unmatched docs are singletons
      // maxDf=20 (vs the summary query's 100): candidate fanout is
      // O(Σ df²), and a ≥0.5-jaccard pair that shares ONLY shingles
      // common to 20+ docs cannot exist in practice — the lower cap
      // cuts pair generation ~25× at identical output (oracle mirrors)
      graft.dedup.Components.clusters(
        Tables.documents(s, d), "doc_id",
        NgramJaccard.pairs(Tables.documents(s, d), "doc_id", "text",
          k = 3, threshold = 0.5, maxDf = 20),
        "id_a", "id_b"),
      oracle = Some("""WITH RECURSIVE toks AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS ts
           FROM documents
         ), sh AS (
           SELECT doc_id,
             CASE WHEN len(ts) = 0 THEN CAST([] AS VARCHAR[])
                  WHEN len(ts) <= 3 THEN [array_to_string(ts, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(ts) - 1),
                         i -> array_to_string(ts[i:i+2], ' ')))
             END AS shs
           FROM toks
         ), idx AS (
           SELECT doc_id, CAST(len(shs) AS BIGINT) AS set_size, unnest(shs) AS shingle
           FROM sh
         ), rare AS (
           SELECT shingle FROM idx GROUP BY shingle HAVING count(*) BETWEEN 2 AND 20
         ), p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.set_size AS size_a, b.set_size AS size_b, count(*) AS inter
           FROM idx a JOIN rare r ON a.shingle = r.shingle
                      JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4
         ), e AS (
           SELECT id_a AS u, id_b AS v FROM p
           WHERE floor(CAST(inter AS DOUBLE) / (size_a + size_b - inter)
                   * 10000.0 + 0.5) / 10000.0 >= 0.5
         ), sym2 AS (
           SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e
         ), reach AS (
           SELECT doc_id AS a, doc_id AS b FROM documents
           UNION
           SELECT r.a, s.v AS b FROM reach r JOIN sym2 s ON r.b = s.u
         )
         SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS component
         FROM reach GROUP BY a"""),
      bench = Role.Headline,
      ceiling = Some(Ceiling(1, 3, bnljOk = false))),

    Gate("q_passage_dedup", (s, d) =>
      // passage-level (exact-substring-style) dedup stats, Lee et al.
      // 2021: 8-word chunk grid, shared = hash in >=2 distinct docs.
      // md5 keys here for the cross-engine oracle; production default
      // is xxhash64 (8-byte shuffle keys)
      graft.dedup.PassageDedup.stats(Tables.documents(s, d), "doc_id", "text",
        w = 8, hash = c => md5(c.cast("binary"))),
      oracle = Some("""WITH t AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
           FROM documents
         ), ch AS (
           SELECT doc_id, list_transform(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT)),
                    i -> array_to_string(toks[(i*8+1):(i*8+8)], ' ')) AS ps
           FROM t
         ), occ AS (
           SELECT doc_id, unnest(ps) AS p FROM ch
         ), hot AS (
           SELECT p FROM occ GROUP BY p HAVING count(DISTINCT doc_id) >= 2
         ), spd AS (
           SELECT doc_id, count(*) AS n_shared FROM occ
           WHERE p IN (SELECT p FROM hot) GROUP BY doc_id
         )
         SELECT ch.doc_id, CAST(len(ps) AS BIGINT) AS n_passages,
           coalesce(n_shared, 0) AS n_shared,
           CASE WHEN len(ps) = 0 THEN 0.0
                ELSE floor(CAST(coalesce(n_shared, 0) AS DOUBLE) / len(ps)
                       * 10000.0 + 0.5) / 10000.0 END AS shared_frac
         FROM ch LEFT JOIN spd USING (doc_id)"""),
      bench = Role.Headline,
      ceiling = Some(Ceiling(3, 2, bnljOk = false))),

    Gate("q_passage_clean", (s, d) =>
      // the corpus with cross-doc-shared passages removed, reassembled
      // in chunk order (docs whose every passage is shared drop out)
      graft.dedup.PassageDedup.dropShared(Tables.documents(s, d), "doc_id", "text",
        w = 8, hash = c => md5(c.cast("binary"))),
      oracle = Some("""WITH t AS (
           SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
           FROM documents
         ), ch AS (
           SELECT doc_id, list_transform(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT)),
                    i -> array_to_string(toks[(i*8+1):(i*8+8)], ' ')) AS ps
           FROM t
         ), occ AS (
           SELECT doc_id, unnest(ps) AS p, generate_subscripts(ps, 1) AS pos FROM ch
         ), hot AS (
           SELECT p FROM occ GROUP BY p HAVING count(DISTINCT doc_id) >= 2
         )
         SELECT doc_id, string_agg(p, ' ' ORDER BY pos) AS clean_text
         FROM occ WHERE p NOT IN (SELECT p FROM hot)
         GROUP BY doc_id"""))
  )
}
