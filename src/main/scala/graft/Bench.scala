package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline workload on SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line {"metric":...,"queries":{...}}.
  *
  * Headliners cover each engine area: TPC-H joins/aggs, window dedup,
  * LSH dedup, ANN, text stats, windowed events, sessionization.
  *
  * Contention guard: this box is shared. r5's official bench ran 14x
  * slow purely from external load; r6's ran at loadavg 20 yet reported
  * `contended:false`; r8's sf0.1 tier started at load 6-7/32, passed
  * the old 0.25-cores gate, and shipped physically-inverted timings
  * (q_passage_dedup 0.72 s at sf0.1 vs 0.17 s at sf10) under a
  * `clean:true` stamp. The guard logic lives in [[BenchGuard]]
  * (unit-tested against recorded telemetry) and, since r9, brackets
  * EVERY QUERY with CPU-bound sentinel probes — a query whose closing
  * sentinel comes back hot is re-run once after the spike subsides,
  * and each tier's JSON carries the per-query `dirty` list, so one
  * contended query no longer poisons (or hides inside) a whole tier.
  * A cross-tier physical-sanity check (same query, more data, must
  * not be faster beyond noise — [[BenchGuard.crossTierViolations]])
  * marks the small tier dirty when the r8 failure mode recurs.
  */
object Bench {
  private[graft] val headliners = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q_window_dedup", "q_v4_ml_dataset", "q_dedup_exact",
    "q_ann_bruteforce", "q_token_count",
    "q_quality_score", "q_event_windows", "q_sessionize",
    "q_medallion_silver", "q_corpus_prep", "q_asof_join", "q_range_join",
    "q_window_analytics", "q_dedup_clusters",
    // round-5 additions: token-shuffle analytics (tf-idf, unigram LM),
    // passage-grid dedup, rolling range-frame windows
    "q_tfidf", "q_unigram_logprob", "q_passage_dedup", "q_rolling_agg",
    // round-9 additions (r8 verdict item 7): the two r8 operators are
    // corpus-wide shuffles (line-keyed grid; shard window) that had no
    // bench row at any tier
    "q_line_dedup", "q_shuffle_corpus",
    // round-9 operators, same policy — corpus-wide work gets a bench
    // row from birth: token-budget mixing (two corpus exchanges),
    // CMS heavy hitters (sketch-per-partition exchange + exact top-k),
    // DSIR importance weights (one reused token exchange + doc agg),
    // CCNet quality buckets (histogram exchange + broadcast-join scan).
    // q_bpe_encode is NOT here: its oracle is a committed fixture
    // READ, so a DuckDB "baseline" for it would time a file scan,
    // not the computation.
    "q_token_budget", "q_heavy_hitters_sketch", "q_dsir_weights",
    "q_ccnet_buckets",
    // late-r9 operators, same bench-row-from-birth policy: the Gopher
    // rule bundle (a full corpus scan pass) and temperature mixture
    // rates (corpus tokenize + stratum-cardinality derivation)
    "q_gopher_rules", "q_temperature_mix",
    // q_bloom_ingest_dedup moved to extras in r12 (verdict item 2):
    // its index builds are staged like LshIngest's, and the same-work
    // baseline (DuckDB probing a pre-built digest table) lives under
    // the baseline's extras — a from-raw headline compare charged
    // Spark for sketch+digest builds the oracle never performs
    // final r9 operators, same policy: PMI association mining (two
    // corpus tokenize passes + a pair-keyed exchange) and the skew
    // advisor (the counts-only key exchange a prospective join would
    // pay). q_hll_store_check moved to the correctness gate only in
    // r11 (verdict item 2): its timed cost was ~85% exact ENVELOPE,
    // not operator — the operator is benched as q_hll_store (extras)
    "q_pmi_cooccur", "q_skew_advisor",
    // cross-source contamination matrix (one shingle-keyed exchange)
    // and the drift verdict (two corpus scans + B-row exchanges)
    "q_source_overlap", "q_drift_summary",
    // fifth-session r9 operators, same bench-row-from-birth policy:
    // Stupid Backoff LM (two tokenize sides + type-keyed joins),
    // unicode NFC cleanup (a full regex scan pass), the Zipf
    // frequency spectrum (one token exchange), and URL domain policy
    // (host-keyed capped window). q_corpus_stats is NOT here — it
    // times the same token exchange as q_freq_spectrum.
    "q_backoff_logprob", "q_unicode_clean", "q_freq_spectrum",
    "q_domain_policy",
    // change-point monitoring: the events stream's one corpus-sized
    // exchange (daily partial agg) + key-partitioned frames
    "q_change_points",
    // embedding standardization: the full posexplode moment pass +
    // broadcast-stats HOF rewrite over every vector.
    // q_source_overlap_sketch (the exact+sketch check harness) moved
    // to the correctness gate only in r11 — the benched name is the
    // standalone sub-exchange operator q_overlap_sketch (extras)
    "q_embedding_standardize",
    // MAD robust outliers: one corpus exchange to the value histogram
    "q_mad_outliers",
    // burstiness bot screen: one user-keyed exchange, lag + agg
    // share its sort
    "q_burstiness",
    // r10 check harnesses (bench-row-from-birth): the classifier
    // scoring replay (one tokenize + md5-bucket scan pass) and the
    // frozen-assignment outlier threshold check (one embeddings pass
    // + C-row threshold broadcast)
    "q_classifier_margin_check", "q_outlier_threshold_check",
    // r10 operators (bench-row-from-birth): keep-best canonical
    // dedup (digest exchange, WindowGroupLimit partial top-1) and
    // n-gram novelty (shingle-keyed anti-join, the decontaminate
    // shape)
    "q_dedup_keep_best", "q_ngram_novelty",
    // robust median/IQR scaling: per-dim histogram exchange + keyed
    // rank windows + broadcast-stats HOF pass
    "q_robust_scale",
    // char-diversity gibberish screen: zero-shuffle sorted-run fold
    "q_char_diversity",
    // r11 operators (bench-row-from-birth): EWMA volume smoothing
    // (one daily-agg exchange + bounded prefix folds), chat/SFT
    // transcript assembly (one user-keyed exchange serving both the
    // session window and the ordered per-session concat), and URL
    // frontier dedup (narrow canonicalize pass + one canonical-keyed
    // exchange)
    "q_ewma_anomaly", "q_chat_assemble", "q_url_dedup",
    // r12 operators (bench-row-from-birth): the batch BM25 retrieval
    // eval (one corpus tokenize+postings pass, semi-join-gated before
    // any exchange) and vocabulary JS drift (one token exchange, then
    // vocab-sized frames). q_tokenizer_fertility is NOT here: its
    // oracle is a committed-fixture READ (the q_bpe_encode class), so
    // a DuckDB "baseline" would time a file scan, not the computation
    "q_retrieval_eval", "q_vocab_drift",
    // r12: URL-graph PageRank — 10 nano-integer power iterations,
    // two bounded exchanges per round (the canonical iterative job)
    "q_pagerank")

  // Timed every tier but EXCLUDED from the headline totals: these have
  // no DuckDB oracle (not SQL-expressible), so including them would make
  // every Spark-vs-baseline total need a "comparable subset" footnote
  // (r7 verdict item 8). Reported under "extras" in each tier block.
  // q_semdedup joins q_dedup_minhash here: embeddings-wide k-means +
  // intra-cell pair grid, rows-only by nature.
  // q_compression_quality joins the extras: zlib is not
  // SQL-expressible, so it has no oracle-engine baseline by nature
  private val extras = Seq("q_dedup_minhash", "q_semdedup",
    "q_compression_quality",
    // r10: incremental LSH ingest (index build staged OUTSIDE the
    // timed unit since r11 — the bench measures screen+verify+delta,
    // the per-batch cost; comparable-WORK DuckDB row recorded under
    // the baseline's "extras")
    "q_lsh_ingest_dedup",
    // r11 (verdict item 2 + r10 overlap-sketch note): the OPERATOR
    // forms of the two check harnesses — sketch store build+merge+
    // estimate, and the sub-exchange sketch overlap matrix. Both
    // rows-only by nature (HLL estimates aren't SQL); both carry
    // comparable-WORK baselines (DuckDB answering the same question
    // exactly) under the baseline's "extras"
    "q_hll_store", "q_overlap_sketch",
    // r12 staged/approx operator forms (verdict items 2-4) — all
    // full-or-partial-oracle GATES, benched here because their
    // baselines need same-work treatment outside the headline total:
    // bloom ingest probes staged sketch+digest artifacts (baseline:
    // DuckDB anti-join against a pre-built digest table), the q5
    // staged map reads a persisted order→nation reduction (baseline:
    // DuckDB probing the same pre-built map), and the approx event
    // windows flip the exact-distinct engine floor to HLL (baseline:
    // DuckDB's own approx_count_distinct)
    "q_bloom_ingest_dedup", "q5_local_supplier_staged",
    "q_event_windows_approx")

  // sf30 demonstration tier (r8 verdict item 1; widened per r9 item
  // 5): every headliner whose sf10 Spark time is >= 2 s — deep enough
  // that fixed per-job cost is a falling fraction, so the tier
  // separates engine floors from plan waste (it killed the r8 q3
  // "amortization" theory and the r9 bloom diagnosis lives on it) —
  // plus the original floor-adjudicated seven and q_mad_outliers
  // (whose ~0.7 s post-histogram cost is measured FLAT sf10->sf30,
  // the amortization demonstrator).
  private val sf30Subset = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q_dedup_exact", "q_ann_bruteforce", "q_event_windows",
    "q_bloom_ingest_dedup",
    "q_v4_ml_dataset", "q_token_count", "q_medallion_silver",
    "q_corpus_prep", "q_asof_join", "q_dedup_clusters", "q_tfidf",
    "q_unigram_logprob", "q_passage_dedup", "q_dsir_weights",
    "q_ccnet_buckets", "q_pmi_cooccur", "q_hll_store",
    "q_source_overlap", "q_overlap_sketch", "q_backoff_logprob",
    "q_mad_outliers",
    // r11 (verdict item 4): q_robust_scale exceeded the >=2 s-at-sf10
    // admission rule from birth but was absent from the sf30 tier;
    // the staged LSH screen joins for its amortization evidence, and
    // the chat-assembly newborn qualifies at 2.9 s sf10
    "q_robust_scale", "q_lsh_ingest_dedup", "q_chat_assemble",
    // r12 staged/approx forms: benched at the amortization-
    // demonstration tier from birth (their whole point is the sf30
    // ratio their from-raw/exact siblings could not reach)
    "q5_local_supplier_staged", "q_event_windows_approx",
    // r12 newborns over the >=2 s-at-sf10 admission rule: the batch
    // retrieval eval at 7.5 s (the synthetic corpus's 31-token
    // vocabulary makes every query term match most docs — the
    // worst-case grid BOTH engines pay; the native vocab_term_counts
    // postings build is what holds it under the oracle engine) and
    // PageRank at 10.1 s (10 iterations x 2 exchanges)
    "q_retrieval_eval", "q_pagerank")

  /** Tier-freshness preamble (r9 verdict item 8): the gitignored tier
    * parquet was wiped twice during r9 and the old existence-only gate
    * (`lineitem.parquet` present) let a bench run against stale/small
    * data — r8's "sf10" document timings were physically impossible
    * (q_token_count 0.143 s vs DuckDB's 12.3 s) because documents had
    * been regenerated tiny. Row counts are the cheap invariant: every
    * scaled tier carries >= factor x the sf0.1 rows for the replicated
    * AND the synthesized tables (columnless count scans, once per
    * tier). A tier that fails is SKIPPED and named in `stale`.
    */
  private def tierFresh(spark: SparkSession, dir: String, factor: Long,
                        baseDir: String): Boolean = {
    def n(d: String, t: String): Long =
      try spark.read.parquet(s"$d/$t.parquet").count()
      catch { case _: Throwable => -1L }
    Seq("lineitem", "documents", "events").forall { t =>
      val base = n(baseDir, t)
      base > 0 && n(dir, t) >= base * factor
    }
  }

  private def loadavg1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").head.toDouble
    catch { case _: Throwable => -1.0 }

  /** Fixed CPU-bound probe: 200M-row codegen'd sum over 32 partitions.
    * ~0.27 s on this box when idle; external load inflates it
    * proportionally (it needs all cores), which is exactly the signal.
    */
  private def sentinel(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 200000000L, 1L, 32).selectExpr("sum(id * 3 + 1)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private case class Probe(load1: Double, sentinelSec: Double, waits: Int) {
    def quiet(cores: Int, idleSec: Double): Boolean =
      BenchGuard.quiet(load1, cores, sentinelSec, idleSec)
    def json: String = f"""{"load1":$load1%.2f,"sentinel_sec":$sentinelSec%.3f,"waits":$waits}"""
  }

  /** Probe, and while the box is hot, wait out the spike (bounded). */
  private def waitQuiet(spark: SparkSession, cores: Int, idleSec: Double,
                        maxWaits: Int = 8): Probe = {
    var p = Probe(loadavg1(), sentinel(spark), 0)
    while (!p.quiet(cores, idleSec) && p.waits < maxWaits) {
      Thread.sleep(20000L)
      p = Probe(loadavg1(), sentinel(spark), p.waits + 1)
    }
    p
  }

  /** Evaluate EVERY output column of every row on the executors
    * (no driver collect) — the measurement action. See the comment
    * at the timed call site for why count() must not be used.
    */
  private def exec(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.toRdd.foreach(_ => ())

  /** One query's guarded measurement. `sec` < 0 marks a failed query;
    * `clean` means the kept attempt ran between two quiet sentinels
    * AND did not trip the cross-round prior tripwire; `priorOutlier`
    * names the tripwire specifically (a subset of !clean).
    */
  private case class QRes(name: String, sec: Double, clean: Boolean,
                          retried: Boolean, priorOutlier: Boolean = false)

  /** Per-tier per-query timings parsed from a committed bench artifact
    * (BENCH_LAST.json / BENCH_r*.json): tier tag → name → seconds,
    * headline and extras merged. Jackson (on Spark's classpath) —
    * these are nested objects, beyond the flat-regex baselineMaps.
    */
  private[graft] def artifactTierTimings(path: String): Map[String, Map[String, Double]] =
    try {
      val f = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(f)) Map.empty
      else tierTimingsFromJson(
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
    } catch { case _: Throwable => Map.empty }

  private[graft] def tierTimingsFromJson(json: String): Map[String, Map[String, Double]] =
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(json)
      import scala.jdk.CollectionConverters._
      Seq("sf01", "sf1", "sf10", "sf30").flatMap { tag =>
        Option(root.get(tag)).map { t =>
          def obj(key: String): Map[String, Double] =
            Option(t.get(key)).map(_.fields().asScala
              .map(e => e.getKey -> e.getValue.asDouble()).toMap)
              .getOrElse(Map.empty)
          tag -> (obj("queries") ++ obj("extras"))
        }
      }.toMap
    } catch { case _: Throwable => Map.empty }

  /** The COMMITTED BENCH_LAST.json's tier timings (`git show
    * HEAD:BENCH_LAST.json`), empty when git/HEAD is unavailable. The
    * tripwire's reference must survive a same-session rerun: the
    * first r12 run correctly flagged a 4.8x in-tier outlier against
    * the committed prior, but its own (dirty) artifact then replaced
    * BENCH_LAST.json on disk and the rerun compared against the very
    * outlier it should re-test — the committed artifact is the
    * reviewed reference, the working-tree file is just the newest
    * sample.
    */
  private[graft] def committedTierTimings(): Map[String, Map[String, Double]] =
    try {
      val p = new ProcessBuilder("git", "show", "HEAD:BENCH_LAST.json")
        .redirectErrorStream(false).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      if (p.waitFor() == 0) tierTimingsFromJson(out) else Map.empty
    } catch { case _: Throwable => Map.empty }

  /** Best (min) prior per-query time per tier across the given
    * committed artifacts — the cross-round tripwire's reference
    * ([[BenchGuard.priorOutlier]]). Min-of-artifacts so one contended
    * prior run can't inflate the reference and mask a blip.
    */
  private[graft] def priorTimings(paths: Seq[String],
      extra: Seq[Map[String, Map[String, Double]]] = Nil): Map[String, Map[String, Double]] = {
    val all = paths.map(artifactTierTimings) ++ extra
    all.flatMap(_.keys).distinct.map { tag =>
      val maps = all.flatMap(_.get(tag))
      val names = maps.flatMap(_.keys).distinct
      tag -> names.flatMap { n =>
        val ts = maps.flatMap(_.get(n)).filter(_ > 0)
        if (ts.isEmpty) None else Some(n -> ts.min)
      }.toMap
    }.toMap
  }

  /** Time each query as the `agg` of `runs` cache-cleared executions,
    * bracketing every query with CPU-bound sentinel probes: the probe
    * that closes query N opens query N+1, so the per-tier overhead is
    * one sentinel per query. A query whose opening sentinel is hot
    * waits the spike out (bounded); one whose closing sentinel is hot
    * is re-run once after the box quiets, keeping the cleaner attempt.
    * Mid-tier the 1-min loadavg is dominated by the bench's own
    * 32-thread work, so only the sentinel gates here — loadavg gates
    * the tier start ([[BenchGuard.quiet]]).
    */
  private def timeGuarded(spark: SparkSession, dir: String, names: Seq[String],
                          runs: Int, agg: Seq[Double] => Double,
                          idleSec: Double,
                          prior: Map[String, Double] = Map.empty): Seq[QRes] = {
    // (kept aggregate, max/min spread across the timed runs). A spread
    // beyond 2.5× means a load burst hit SOME run while the bracketing
    // sentinels landed in gaps — the kept min may still be honest, but
    // the query must not stamp `clean` (late-r9: a poisoned sf10 tier
    // passed every sentinel this way)
    def attempt(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double) = {
      val samples = (1 to runs).map { _ =>
        // drop plan-level caches so each run pays the query's full
        // cost (some pipelines cache internally); repeated runs then
        // control for CPU noise only, not for cached reuse
        spark.sharedState.cacheManager.clearCache()
        // Release the previous runs' shuffle deps and broadcasts so
        // the ContextCleaner frees their tmpfs files OUTSIDE the
        // timed window. Without this the 48g AlwaysPreTouch heap
        // almost never GCs, weak refs never enqueue, and a long
        // bench accumulates every prior query's shuffle blocks in
        // /dev/shm — measured r9: q_range_join read 10.2 s inside
        // the full-tier sequence vs 1.65 s standalone at sf10, and
        // back-to-back sf30 runs of one query degraded 14 s → 24 s
        // → 34 s until a System.gc() between runs cured both.
        System.gc(); Thread.sleep(300)
        val t0 = System.nanoTime()
        // FULL materialization, not count(): count() rebuilds the plan
        // as groupBy().count() and Catalyst then PRUNES every computed
        // column — a pure-projection query (q_quality_score,
        // q_token_count) degenerates to a row-count scan while the
        // DuckDB baseline (fetchall) pays for every value. Measured at
        // sf10: q_quality_score 0.1 s under count() vs ~9.4 s honestly
        // materialized. toRdd.foreach evaluates every output column on
        // the executors without collecting to the driver.
        val ok = try { exec(fn(spark, dir)); true }
                 catch { case _: Throwable => false }
        (ok, (System.nanoTime() - t0) / 1e9)
      }
      // a query that threw must not report its (near-zero) elapsed
      // time as a success — sentinel -1 and a `failed` list instead
      if (samples.forall(_._1)) {
        val ts = samples.map(_._2)
        (agg(ts), if (ts.min > 0) ts.max / ts.min else 1.0)
      } else (-1.0, 1.0)
    }
    def waitSentinel(first: Double): Double = {
      var s = first
      var waits = 0
      while (!BenchGuard.quietPost(s, idleSec) && waits < 8) {
        Thread.sleep(20000L); s = sentinel(spark); waits += 1
      }
      s
    }
    val SpreadBound = 2.5
    var opening = sentinel(spark)
    names.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        // cross-round tripwire (r11 verdict item 1): a kept time >3×
        // the best committed prior-artifact time at this tier retries
        // exactly like a hot closing sentinel, and stays dirty if the
        // retry trips too — the q_token_count 8× sf0.1 blip shipped
        // inside a contended:false artifact because it fit between
        // two quiet sentinels
        def outlier(x: Double): Boolean =
          BenchGuard.priorOutlier(x, prior.get(name))
        opening = waitSentinel(opening)
        var (t, spread) = attempt(fn)
        var closing = sentinel(spark)
        var clean = BenchGuard.quietPost(opening, idleSec) &&
          BenchGuard.quietPost(closing, idleSec) &&
          (runs < 2 || spread <= SpreadBound) && !outlier(t)
        var retried = false
        if (!clean) {
          val reopening = waitSentinel(closing)
          if (BenchGuard.quietPost(reopening, idleSec)) {
            val (t2, spread2) = attempt(fn)
            val c2 = sentinel(spark)
            retried = true
            if (BenchGuard.quietPost(c2, idleSec) &&
                (runs < 2 || spread2 <= SpreadBound) && !outlier(t2)) {
              t = t2; clean = true
            }
            else if (t2 >= 0 && (t < 0 || t2 < t)) t = t2
            closing = c2
          }
        }
        opening = closing // the closing probe opens the next query
        QRes(name, t, clean, retried, priorOutlier = outlier(t))
      }
    }
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Parse a committed BASELINE*.md's embedded ```json block — the
    * "queries" (and optional "extras") name→seconds maps. Flat regex
    * parse: the block holds only flat {"name": num} objects.
    */
  private[graft] def baselineMaps(path: String): Option[(Map[String, Double], Map[String, Double])] =
    try {
      val f = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(f)) None
      else {
        val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        "(?s)```json\\s*(\\{.*?\\})\\s*```".r.findFirstMatchIn(text).map { blk =>
          val block = blk.group(1)
          def obj(key: String): Map[String, Double] =
            ("\"" + key + "\"\\s*:\\s*\\{([^}]*)\\}").r.findFirstMatchIn(block).map { m =>
              "\"([^\"]+)\"\\s*:\\s*([-0-9.eE+]+)".r.findAllMatchIn(m.group(1))
                .map(p => p.group(1) -> p.group(2).toDouble).toMap
            }.getOrElse(Map.empty)
          (obj("queries"), obj("extras"))
        }
      }
    } catch { case _: Throwable => None }

  /** Comparable subset vs a committed baseline: (n, sparkTotal,
    * baselineTotal) over the intersection of the tier's succeeded
    * headline queries with the baseline's recorded queries.
    */
  private def comparable(t: Tier, path: String): Option[(Int, Double, Double)] =
    baselineMaps(path).map { case (bq, _) =>
      val common = t.headline.filter { case (k, v) => v >= 0 && bq.contains(k) }
      (common.size, common.map(_._2).sum, common.map { case (k, _) => bq(k) }.sum)
    }

  /** Artifact-computed comparable ratio (r10 verdict item 3): the
    * bench itself computes and PRINTS the Spark/baseline ratio per
    * tier over the exact headline intersection — build-log and SURVEY
    * prose must quote only this field, never a hand-derived number.
    */
  private def ratioJson(t: Tier, path: String): String =
    (comparable(t, path), baselineMaps(path)) match {
      case (Some((n, sparkTotal, baseTotal)), Some((bq, bx))) =>
        val excluded = t.headline.collect { case (k, v) if v >= 0 && !bq.contains(k) => k }
        val ratio = if (baseTotal > 0) sparkTotal / baseTotal else -1.0
        val exJson = excluded.map("\"" + _ + "\"").mkString("[", ",", "]")
        val extrasRatios = t.extraResults.collect {
          case (k, v) if v >= 0 && bx.get(k).exists(_ > 0) =>
            "\"" + k + "\":" + f"${v / bx(k)}%.3f"
        }.mkString("{", ",", "}")
        f""","baseline_file":"$path","baseline_n":$n,"spark_comparable_total":$sparkTotal%.3f,"baseline_total":$baseTotal%.3f,"ratio":$ratio%.3f,"ratio_excluded":$exJson,"extras_ratio":$extrasRatios"""
      case _ => ""
    }

  private case class Tier(results: Seq[QRes], preQuiet: Boolean, pre: Probe,
                          stagingFailed: Boolean = false) {
    // a tier is clean iff it STARTED on a quiet box (loadavg +
    // sentinel), staging succeeded (a failed stageTier silently moves
    // the one-time index builds INSIDE the timed unit — r11 advice
    // item 1: the amortization claim would be invalidated with no
    // signal in the artifact), and every kept query measurement ran
    // between two quiet sentinels; `dirty` names the exceptions so
    // one contended query doesn't anonymously poison the tier
    def dirty: Seq[String] = results.collect { case q if !q.clean => q.name }
    def clean: Boolean = preQuiet && !stagingFailed && dirty.isEmpty
    def timings: Seq[(String, Double)] = results.map(q => q.name -> q.sec)
    def headline: Seq[(String, Double)] =
      timings.filterNot(r => extras.contains(r._1))
    def extraResults: Seq[(String, Double)] = timings.filter(r => extras.contains(r._1))
    def json: String = {
      val failed = results.collect { case q if q.sec < 0 => q.name }
      def obj(rs: Seq[(String, Double)]) =
        rs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
      def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
      val total = headline.filter(_._2 >= 0).map(_._2).sum
      val retried = results.count(_.retried)
      val priorOutliers = results.collect { case q if q.priorOutlier => q.name }
      f""""total":$total%.3f,"clean":$clean,"staging_failed":$stagingFailed,"retried":$retried,"pre":${pre.json},"dirty":${arr(dirty)},"prior_outliers":${arr(priorOutliers)},"queries":${obj(headline)},"extras":${obj(extraResults)},"failed":${arr(failed)}"""
    }
  }

  /** Run one tier: wait for a quiet box (loadavg + sentinel — at tier
    * start the loadavg reflects OTHER processes, which is the point),
    * then per-query guarded timings.
    */
  private def runTier(spark: SparkSession, cores: Int, idleSec: Double,
                      dir: String, names: Seq[String], runs: Int,
                      agg: Seq[Double] => Double,
                      prior: Map[String, Double] = Map.empty): Tier = {
    // stage per-tier artifacts (persisted indexes) BEFORE the timed
    // loop: their one-time build is the cost the incremental
    // operators amortize away, so it must not land inside (r10
    // verdict item 1) — nor inflate the first run's spread past the
    // dirty bound. A staging FAILURE is recorded in the artifact
    // (tier `staging_failed` + a contended reason) instead of being
    // swallowed (r11 advice item 1): the consuming gates would
    // silently self-stage inside the timed loop, putting the full
    // index build into the 'screen+delta only' timed unit.
    val stagingFailed =
      try { SparkEntry.stageTier(spark, dir); false }
      catch { case e: Throwable =>
        System.err.println(s"stageTier($dir) FAILED: $e"); true }
    val pre = waitQuiet(spark, cores, idleSec)
    val rs = timeGuarded(spark, dir, names, runs, agg, idleSec, prior)
    Tier(rs, pre.quiet(cores, idleSec), pre, stagingFailed)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val idleSec = sys.env.getOrElse("SPARK_GRAFT_SENTINEL_IDLE",
      BenchGuard.DefaultIdleSentinelSec.toString).toDouble
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    sentinel(spark) // first call pays JIT for the probe itself: discard

    // Warm JIT + whole-stage-codegen caches by running every headliner
    // once against the smallest SF (different data files, same generated
    // code). Steady-state throughput is the number that projects to a
    // long-running 100 TB job; a cold JVM's first-compile cost does not.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      (headliners ++ extras).foreach { name =>
        SparkEntry.queries.get(name).foreach { fn =>
          try exec(fn(spark, warmDir)) catch { case _: Throwable => () }
        }
      }
    else spark.read.parquet(s"$sfDir/nation.parquet").count()

    // cross-round tripwire reference: the best committed per-query
    // times — git HEAD's BENCH_LAST.json (the reviewed reference; the
    // working-tree copy may be a same-session rerun's own outlier),
    // the working-tree file, and the last driver-stamped round
    // artifact, min-merged. Override with SPARK_GRAFT_PRIOR_BENCH=path
    // for A/B work.
    val priorPaths = sys.env.get("SPARK_GRAFT_PRIOR_BENCH").map(Seq(_))
      .getOrElse {
        val rounds = Option(new java.io.File(".").listFiles())
          .getOrElse(Array.empty[java.io.File]).map(_.getName)
          .filter(_.matches("BENCH_r\\d+\\.json"))
        val newest =
          if (rounds.isEmpty) Nil
          else Seq(rounds.maxBy(n => "\\d+".r.findFirstIn(n).get.toInt))
        "BENCH_LAST.json" +: newest
      }
    val prior = priorTimings(priorPaths,
      extra = if (sys.env.contains("SPARK_GRAFT_PRIOR_BENCH")) Nil
              else Seq(committedTierTimings()))

    // ---- sf0.1 tier: median of 3 (discards one contended run AND one
    // anomalously fast one) --------------------------------------------------
    val t0 = runTier(spark, cpus, idleSec, sfDir, headliners ++ extras,
      runs = 3, median, prior.getOrElse("sf01", Map.empty))

    // ---- optional sf1 tier -------------------------------------------------
    // at sf0.1 all headliners sit inside the ~0.2 s/job scheduling floor,
    // so per-query ratios vs the baseline engine are noise; the sf1 tier
    // (DataGen output, 10x) puts the big ones seconds deep where the
    // ratio measures the plan, not the scheduler. min-of-2 is stable
    // because every query is bracketed by quiet sentinels.
    val stale = scala.collection.mutable.ListBuffer[String]()
    def tierIf(dir: String, factor: Long, tag: String)(
        run: => Tier): Option[Tier] =
      if (!new java.io.File(s"$dir/lineitem.parquet").exists || dir == sfDir) None
      // freshness is relative to the RUN's base tier (sfDir), not a
      // hard-coded absolute path — a bench run from another checkout
      // or data root must not silently skip every scaled tier
      // (r10 advice item 3)
      else if (!tierFresh(spark, dir, factor, baseDir = sfDir)) { stale += tag; None }
      else Some(run)

    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "testdata/sf1")
    val sf1Tier = tierIf(sf1Dir, 10L, "sf1") {
      runTier(spark, cpus, idleSec, sf1Dir, headliners ++ extras,
        runs = 2, _.min, prior.getOrElse("sf1", Map.empty))
    }
    val sf1Json = sf1Tier.map(t => s""","sf1":{"dir":"$sf1Dir","runs":2,${t.json}${ratioJson(t, "BASELINE_SF1.md")}}""").getOrElse("")

    // ---- optional sf10 tier: the FULL headliner set (r7 verdict item 2 —
    // the 5-query tier settled its borderliners decisively, so every
    // headliner now gets the seconds-deep trial instead of a "floor"
    // presumption) -----------------------------------------------------------
    val sf10Dir = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "testdata/sf10")
    val sf10Tier = tierIf(sf10Dir, 100L, "sf10") {
      runTier(spark, cpus, idleSec, sf10Dir, headliners ++ extras,
        runs = 2, _.min, prior.getOrElse("sf10", Map.empty))
    }
    val sf10Json = sf10Tier.map(t => s""","sf10":{"dir":"$sf10Dir","runs":2,${t.json}${ratioJson(t, "BASELINE_SF10.md")}}""").getOrElse("")

    // ---- optional sf30 tier: the floor-amortization demonstration
    // (r8 verdict item 1) — only the adjudicated-floor/weak subset,
    // deep enough that fixed per-job cost is a falling fraction -------------
    val sf30Dir = sys.env.getOrElse("SPARK_GRAFT_SF30_DIR", "testdata/sf30")
    val sf30Tier = tierIf(sf30Dir, 300L, "sf30") {
      runTier(spark, cpus, idleSec, sf30Dir, sf30Subset,
        runs = 2, _.min, prior.getOrElse("sf30", Map.empty))
    }
    val sf30Json = sf30Tier.map(t => s""","sf30":{"dir":"$sf30Dir","runs":2,${t.json}${ratioJson(t, "BASELINE_SF30.md")}}""").getOrElse("")

    // ---- cross-tier physical sanity (r8 verdict item 5): same query,
    // more data, must not be faster beyond noise — else the small
    // tier's timing is load noise and the tier is marked dirty.
    // EXTRAS are covered too (late r9): a builder run recorded
    // q_dedup_minhash at 77.6 s in a load-poisoned sf10 tier whose
    // per-query sentinels all landed in burst gaps — headline-only
    // sanity would have let that pass silently ------------------------------
    def full(t: Tier): Seq[(String, Double)] = t.headline ++ t.extraResults
    val biggest = sf30Tier.map(t => full(t) ++
        sf10Tier.map(b => full(b).filterNot(q => sf30Subset.contains(q._1))).getOrElse(Nil))
      .orElse(sf10Tier.map(full))
      .orElse(sf1Tier.map(full))
    val xtier01 = biggest.map(b => BenchGuard.crossTierViolations(full(t0), b)).getOrElse(Nil)
    val xtier1 = (sf1Tier, biggest) match {
      case (Some(t1), Some(b)) => BenchGuard.crossTierViolations(full(t1), b)
      case _ => Nil
    }
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val xtierJson = s""","cross_tier_dirty":{"sf01":${arr(xtier01)},"sf1":${arr(xtier1)}}"""

    // `contended` decomposed (r10 verdict item 4): the top-level flag
    // is the OR of named reasons, so an artifact reader sees exactly
    // which component tripped it (a dirty tier, a cross-tier
    // violation, or a stale skipped tier) instead of discounting a
    // run whose tier blocks all read clean
    val reasons = scala.collection.mutable.ListBuffer[String]()
    if (!t0.clean) reasons += "sf01_dirty"
    if (sf1Tier.exists(!_.clean)) reasons += "sf1_dirty"
    if (sf10Tier.exists(!_.clean)) reasons += "sf10_dirty"
    if (sf30Tier.exists(!_.clean)) reasons += "sf30_dirty"
    if (t0.stagingFailed) reasons += "staging_failed_sf01"
    if (sf1Tier.exists(_.stagingFailed)) reasons += "staging_failed_sf1"
    if (sf10Tier.exists(_.stagingFailed)) reasons += "staging_failed_sf10"
    if (sf30Tier.exists(_.stagingFailed)) reasons += "staging_failed_sf30"
    if (xtier01.nonEmpty) reasons += "cross_tier_sf01"
    if (xtier1.nonEmpty) reasons += "cross_tier_sf1"
    stale.foreach(t => reasons += s"stale_$t")
    val allClean = reasons.isEmpty
    // top-level total/queries are headline-only (baseline-comparable);
    // the per-tier blocks carry the "extras" timings
    val total = t0.headline.filter(_._2 >= 0).map(_._2).sum
    val qs = t0.headline.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val failedJson = arr(t0.results.collect { case q if q.sec < 0 => q.name })
    val staleJson = s""","stale_tiers":${arr(stale.toSeq)}"""

    // full artifact: every tier block, probes, per-query timings
    val reasonsJson = s""","contended_reasons":${arr(reasons.toSeq)},"prior_files":${arr(priorPaths)}"""
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir","idle_calibration_sec":$idleSec%.3f,"load_gate":${BenchGuard.LoadFraction * cpus}%.1f,"sentinel_bound_sec":${BenchGuard.SentinelSlack * idleSec}%.3f,"contended":${!allClean}$reasonsJson$staleJson,"sf01":{${t0.json}${ratioJson(t0, "BASELINE.md")}}$sf1Json$sf10Json$sf30Json$xtierJson}"""
    val out = new java.io.PrintWriter("BENCH_LAST.json")
    try out.println(json) finally out.close()

    // stdout gets the COMPACT line, and it must be the LAST line: the
    // driver keeps only the final ~2000 chars of stdout and parses the
    // JSON line it finds there. r7-r9's full multi-tier line outgrew
    // that window, so the round artifact shipped `"parsed": null` with
    // a truncated raw tail (r9 verdict item 4). Per-tier totals +
    // clean flags fit; per-query tier detail lives in BENCH_LAST.json
    // (committed each round).
    def tierBrief(tag: String, t: Option[Tier], basePath: String): Option[String] =
      t.map { x =>
        val ratio = comparable(x, basePath).collect {
          case (_, sp, b) if b > 0 => f""","ratio":${sp / b}%.2f""" }.getOrElse("")
        f""""$tag":{"total":${x.headline.filter(_._2 >= 0).map(_._2).sum}%.2f,"clean":${x.clean}$ratio}"""
      }
    val tiers = (Seq(tierBrief("sf1", sf1Tier, "BASELINE_SF1.md"),
      tierBrief("sf10", sf10Tier, "BASELINE_SF10.md"),
      tierBrief("sf30", sf30Tier, "BASELINE_SF30.md")).flatten ++
      comparable(t0, "BASELINE.md").collect {
        case (_, sp, b) if b > 0 => f""""sf01_ratio":${sp / b}%.2f""" } :+
      s""""xtier_dirty":${(xtier01 ++ xtier1).distinct.size}""").mkString(",")
    val compact = compactLine(total, t0.headline, failedJson, sfDir,
      !allClean, stale.toSeq, tiers)
    println(compact)
    spark.stop()
  }

  /** The one stdout line the driver parses — MUST stay under the
    * driver's 2000-char tail window (BenchSpec pins the bound against
    * the live headliner list). Falls back to 2-decimal timings, then
    * drops the tier brief, if the headliner set ever grows past it.
    */
  private[graft] def compactLine(total: Double, headline: Seq[(String, Double)],
                                 failedJson: String, sfDir: String,
                                 contended: Boolean, stale: Seq[String],
                                 tiers: String): String = {
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    def build(dp: Int, withTiers: Boolean): String = {
      val qs = headline.map { case (k, v) =>
        "\"" + k + "\":" + s"%.${dp}f".format(v) }.mkString("{", ",", "}")
      val tierPart = if (withTiers) s""","tiers":{$tiers}""" else ""
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir","contended":$contended,"stale_tiers":${arr(stale)}$tierPart}"""
    }
    Seq(build(3, true), build(2, true), build(2, false))
      .find(_.length <= 1900).getOrElse(build(2, false))
  }
}
