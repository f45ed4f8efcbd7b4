package graft

import org.apache.spark.sql.SparkSession

/** Central session factory with scale-oriented defaults.
  *
  * Runs `local[N]` at [[cores]] by default; every
  * setting is chosen to also be correct on a 1000-executor cluster:
  * AQE handles runtime re-planning (skew joins, partition coalescing),
  * NTZ timestamps keep parquet round-trips engine-portable, and the
  * shuffle-partition count is sized to the local core count (on a real
  * cluster this would be ~2-3x total cores or left to AQE).
  */
object GraftSession {

  /** Extra session confs from `SPARK_GRAFT_CONF` ("k=v;k=v") — the
    * parameterization hook for scale-dependent settings (the
    * optimization rounds' A/B lever, and the documented way a cluster
    * deployment overrides harness-sized defaults without a code edit).
    */
  private def withEnvConf(b: SparkSession.Builder): SparkSession.Builder = {
    sys.env.get("SPARK_GRAFT_CONF").foreach { s =>
      s.split(";").iterator.map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        // loud on stderr (r12 advice): a leftover env var from an A/B
        // run silently changing perf/correctness-relevant confs would
        // make committed bench/verify artifacts unreproducible from
        // code alone — every applied override is stamped in the log
        System.err.println(s"[graft] SPARK_GRAFT_CONF override: ${k.trim}=${v.trim}")
        b.config(k.trim, v.trim)
      }
    }
    b
  }

  /** The `local[N]` width of every main: `SPARK_GRAFT_CPUS` when it is
    * set in `env`, else this machine's core count.
    */
  def cores(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(master: String = s"local[${cores()}]",
              shufflePartitions: Int = cores()): SparkSession.Builder =
    withEnvConf(SparkSession
      .builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // InferFiltersFromGenerate adds `size(arr)>0 AND isnotnull(arr)`
      // below every explode; predicate pushdown then CLONES the
      // array-producing expression into that filter and pushes it to
      // the scan. For cheap array columns that's a win, but graft's
      // explodes all generate from expensive native passes
      // (shingle_hash64, minhash64) — the clone re-runs the dominant
      // per-doc CPU a second time below the parallelizing exchange
      // (measured r9: the n-gram pair grid spent 2x its shingling
      // cost; explode already skips empty/null arrays by itself, so
      // the inferred filter buys nothing here).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // NTZ keeps parquet timestamps byte-identical across engines
      // (Spark, DuckDB, Arrow) — no UTC-adjustment flag mismatches.
      .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // local[32] reads sub-GB files: the 128 MB default yields fewer
      // scan splits than cores and serializes the scan stage. 32 MB
      // fills the box at the bench tiers; on a real cluster the
      // default (or table-level tuning) is the right call — this knob
      // sizes splits to THIS harness's core count, not the plan.
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      // Fact-fact equi-joins: prefer shuffled HASH join over
      // sort-merge — it skips both sides' O(n log n) sorts, and the
      // per-partition build side is bounded (shuffle partitions are
      // sized so a partition fits executor memory; AQE splits skewed
      // ones). SMJ remains Spark's conservative default because a
      // misestimated build side can OOM an executor; with AQE runtime
      // sizing that risk is the scheduler's, not the plan's.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // 64 MB broadcast ceiling (default 10): AQE's runtime conversion
      // then turns a join whose built side MEASURES small — e.g. a
      // filtered dim⨝fact intermediate — into a broadcast join and
      // deletes the big side's exchange entirely. 64 MB per executor
      // is modest on any modern cluster; the knob that matters at
      // 100 TB is that conversion uses runtime sizes, not estimates.
      .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
      // Spark reads a parquet TIMESTAMP(NANOS) column only under this
      // legacy conf, as a raw long (ns since epoch); Spark 4.1.2
      // honours it (ReadersSpec pins LongType). The testdata tiers
      // write `events.ts` as TIMESTAMP(MICROS), which reads as a
      // timestamp either way. Every consumer (Tables.events,
      // Events.tsNormalized) guards on the actual dtype, so either
      // encoding works.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Hybrid-calendar rebase-on-write is deliberately NOT set here:
      // the reference scopes those confs to its silver/gold jobs, so
      // graft scopes them to the medallion write path too
      // (Writers.withLegacyRebase). Session-wide the Spark 4 default
      // (CORRECTED = proleptic) stays in force — which is exactly what
      // the proleptic-only DuckDB/Arrow oracle readers expect, so a
      // pre-1582 value in any other gate compares correctly instead of
      // silently shifting by the calendar gap (r7 ADVICE).
      // Shuffle/spill files on tmpfs: this box's /tmp is a virtio disk
      // whose writeback throttling made repeated sf10 shuffle-heavy
      // runs erratic (same query 3 s ... 30 s). The oracle engine runs
      // entirely in memory, so RAM-backed local dirs are measurement
      // parity, not an unfair edge; on a real cluster local dirs are
      // provisioned NVMe and this knob is moot.
      .config("spark.local.dir", scratchDir())
      .config("spark.ui.enabled", "false"))

  /** RAM-backed scratch, scoped by OWNING PID and swept at startup.
    *
    * Spark removes its blockmgr/spark-* dirs via shutdown hook — which
    * a SIGKILL (OOM killer) never runs. On a tmpfs local dir that
    * leak is not disk junk, it is RESIDENT MEMORY: one killed sf10 run
    * left 72 GB in /dev/shm (r12, the uncapped q_retrieval_eval),
    * and every later JVM on the box then OOMed at ~50 GB while `free`
    * showed the loss only as "shared". Scoping each session's scratch
    * to pid-<n> makes ownership decidable, so the next builder() call
    * reclaims any dir whose pid is dead — the crash-consistent
    * cleanup pattern (stale-lock sweep) rather than trusting exits
    * to be graceful.
    */
  private[graft] def scratchDir(): String = {
    if (!new java.io.File("/dev/shm").isDirectory)
      return System.getProperty("java.io.tmpdir")
    val base = new java.io.File("/dev/shm/graft-spark")
    base.mkdirs()
    sweepDeadPidScratch(base)
    val mine = new java.io.File(base, s"pid-${ProcessHandle.current().pid()}")
    mine.mkdirs()
    mine.getAbsolutePath
  }

  /** Delete pid-<n> scratch dirs whose owning process is gone.
    * Returns the names it removed (spec hook).
    */
  private[graft] def sweepDeadPidScratch(base: java.io.File): Seq[String] = {
    val children = Option(base.listFiles()).getOrElse(Array.empty)
    children.toSeq.collect {
      case d if d.getName.startsWith("pid-") &&
          d.getName.drop(4).toLongOption.exists(p => !isLive(p)) =>
        deleteRecursively(d); d.getName
    }
  }

  private def isLive(pid: Long): Boolean = {
    val h = ProcessHandle.of(pid)
    h.isPresent && h.get().isAlive
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  def get(): SparkSession = builder().getOrCreate()
}
