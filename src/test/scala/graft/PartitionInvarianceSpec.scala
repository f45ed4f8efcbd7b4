package graft

/** Parallelism-invariance battery: a result that depends on the
  * shuffle partition count or the scan split size is not a result —
  * at 100 TB the same job runs at 10,000-way parallelism on Monday
  * and 40,000-way after an autoscale, and a retry re-splits inputs.
  * The repo's determinism disciplines (portable md5 draws instead of
  * rand(), integerized sums instead of float accumulation order,
  * explicitly ordered window frames and sort_array'd collections)
  * all exist to make results a pure function of the DATA; this spec
  * pins that claim by re-running parallelism-sensitive gates under a
  * different shuffle width and scan split size and requiring
  * row-identical output.
  *
  * The gate list targets the operators with a plausible failure mode:
  * sampling draws (would differ under rand()), ordered per-group
  * concat/prefix folds (would differ under unordered collect_list),
  * integerized float sums (would differ if summed as doubles),
  * iterative convergence (components), and trained-model outputs
  * (would differ if training order leaked into the model).
  */
class PartitionInvarianceSpec extends SparkSpec {

  private val gates = Seq(
    "q_shuffle_corpus",    // deterministic global order + sharding
    "q_sample_global",     // scalable ORDER BY md5 LIMIT n
    "q_weighted_sample",   // portable md5 keep-draws
    "q_stratified_sample", // per-stratum keep rates
    "q_dsir_sample",       // importance-resampled subset
    "q_train_split",       // salted hash-bucket split counts
    "q_chat_assemble",     // ordered per-session transcript concat
    "q_ewma_anomaly",      // sequential prefix recursion
    "q_pack_sequences",    // greedy order-dependent packing
    "q_unigram_logprob",   // micro-integerized per-doc sums
    "q_vocab_drift",       // nano-integerized JS divergence sums
    "q_retrieval_eval",    // micro-integerized BM25 sums + ranks
    "q_dedup_clusters",    // iterative connected components
    "q_bpe_train",         // trained vocabulary (merge order)
    "q_overlap_sketch",    // HLL estimates (sketch estimator state)
    "q_semdedup",          // k-means cells + per-cell kernel shuffle
    "q_semdedup_check",
    "q_ann_ivf",           // trained cells + per-partition top-k lists
    "q_ann_ivf_indexed")   // the same search over the written cells

  private def canonical(name: String): Seq[String] = {
    val df = SparkEntry.queries(name)(spark, sf())
    df.collect().map(_.toString).sorted.toSeq
  }

  test("gates are invariant to shuffle width and scan split size") {
    val conf = spark.conf
    val (sp0, mpb0) = (conf.get("spark.sql.shuffle.partitions"),
      conf.get("spark.sql.files.maxPartitionBytes"))
    val failures = gates.flatMap { name =>
      conf.set("spark.sql.shuffle.partitions", sp0)
      conf.set("spark.sql.files.maxPartitionBytes", mpb0)
      val base = canonical(name)
      // a different shuffle width AND an 8 KB split size: the sf0.001
      // parquet then scans as many small splits instead of few, and
      // even the 65 KB documents file yields a split per core, so
      // Spread leaves its scan alone instead of round-robining it as
      // at the default
      conf.set("spark.sql.shuffle.partitions", "7")
      conf.set("spark.sql.files.maxPartitionBytes", "8192")
      val alt =
        try canonical(name)
        finally {
          conf.set("spark.sql.shuffle.partitions", sp0)
          conf.set("spark.sql.files.maxPartitionBytes", mpb0)
        }
      if (alt == base) None
      else Some(s"$name: ${base.size} rows vs ${alt.size}; first diff: " +
        base.zipAll(alt, "<missing>", "<missing>")
          .find { case (a, b) => a != b }
          .map { case (a, b) => s"\n  base=$a\n  alt =$b" }.getOrElse(""))
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
