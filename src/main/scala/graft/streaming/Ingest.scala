package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.sources.Readers

/** Continuous-ingest deduplication: a STREAM of incoming documents
  * anti-joined against the STATIC historical corpus — the shape a
  * continuous web-crawl pipeline runs forever: every arriving batch
  * keeps only documents whose content hash has never been seen.
  *
  * Structured Streaming executes stream-static left_anti natively
  * (the static side is re-planned per micro-batch), so at 100 TB the
  * static side must be the PRECOMPUTED hash index (an 8-byte-hash
  * parquet table, bucketed by hash so each batch's join prunes), not
  * a rescan of the raw corpus — here the index builds inline because
  * the testdata is unindexed, mirroring [[graft.ann.Ivf]]'s inline
  * assignment note. State is carried by the historical index itself,
  * not stream state, so the query needs no watermark and survives
  * restarts with exactly the index's contents as memory.
  */
object Ingest {

  /** Streaming NEAR-dup ingest (r11 verdict item 6): the persisted
    * LSH band index composed with foreachBatch — the sketch-store
    * sink precedent ([[Events.sketchStoreSink]]) applied to
    * [[graft.dedup.LshIngest]]. Each micro-batch screens against the
    * index's CURRENT state, its verdicts append to a result table,
    * and its own band/signature rows append to the index so the next
    * batch sees this one — exactly the forever-loop a continuous
    * crawl runs. The screen's hot-bucket re-bound (probe-side window
    * count) is what keeps per-batch cost bounded as appends accrete;
    * the verdicts write materializes BEFORE the delta appends, so a
    * batch never screens against itself.
    */
  def lshIngestSink(incoming: DataFrame, idCol: String, textCol: String,
                    indexPath: String, verdictsPath: String,
                    checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint(true)
        val (novel, dups, bands, sigs) = graft.dedup.LshIngest.screen(
          spark, b, idCol, textCol, indexPath)
        novel.select(col(idCol).as("doc_id"), lit(true).as("novel"))
          .unionByName(dups.select(col("doc_id"), lit(false).as("novel")))
          .write.mode("append").parquet(verdictsPath)
        bands.write.mode("append").parquet(s"$indexPath/bands")
        sigs.select(col("doc_id"), col("sh_hashes"))
          .write.mode("append").parquet(s"$indexPath/sigs")
        sigs.unpersist()
        ()
      }
      .start()

  /** [[lshIngestSink]] as a gate harness: the q_lsh_ingest_dedup
    * batch construction (recrawl-padded slice — must flag — plus
    * token-reversed slice — must survive) streams as THREE ordered
    * micro-batches, and the read-back verdicts must be INVARIANT to
    * those batch boundaries: per-doc equal to a one-shot screen of
    * the whole set against the pre-append index (computed first).
    * Invariance holds because the construction has no cross-batch
    * near-dup pairs within the incoming set itself, and minhash
    * misses are hash-deterministic — identical one-shot or streamed.
    * Partial oracle: n_in exact; partition_ok (every doc exactly one
    * verdict), verdict_ok (≥90% designed verdicts — the minhash miss
    * floor), and boundary_invariant pinned TRUE.
    */
  def lshIngestFileStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.dedup.LshIngest
    val docs = Readers.parquet(spark, s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val recrawl = docs.filter(pmod(col("doc_id"), lit(10L)) === 3L)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), lit(" zzrecrawlpad")).as("text"),
        lit("recrawl").as("batch_src"))
    val fresh = docs.filter(pmod(col("doc_id"), lit(10L)) === 4L)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        concat_ws(" ", reverse(split(trim(lower(col("text"))), "\\s+")))
          .as("text"),
        lit("fresh_reversed").as("batch_src"))
    val incoming = recrawl.unionByName(fresh).localCheckpoint(true)
    Feed((0 until 3).map(i => incoming.filter(pmod(col("doc_id"), lit(3L)) === i)): _*) { feed =>
      val indexPath = feed.path("index")
      LshIngest.writeIndex(docs, "doc_id", "text", indexPath)
      // one-shot reference BEFORE any append mutates the index
      val (_, dups1, _, sigs1) = LshIngest.screen(
        spark, incoming, "doc_id", "text", indexPath)
      val oneShot = incoming.select(col("doc_id"))
        .join(dups1.select(col("doc_id"), lit(false).as("novel_oneshot")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("novel_oneshot"), lit(true)).as("novel_oneshot"))
        .localCheckpoint(true)
      sigs1.unpersist()
      val q = lshIngestSink(feed.stream(), "doc_id", "text", indexPath,
        feed.path("verdicts"), feed.path("cp"))
      try q.processAllAvailable() finally q.stop()
      val streamed = Readers.parquet(spark, feed.path("verdicts"))
      val designed = when(col("batch_src") === "recrawl", !col("novel"))
        .otherwise(col("novel"))
      incoming.select("doc_id", "batch_src")
        .join(streamed, Seq("doc_id"), "left")
        .join(oneShot, Seq("doc_id"), "left")
        .groupBy("batch_src")
        .agg(count(lit(1)).as("n_in"),
          (count(col("novel")) === count(lit(1)) &&
            count_distinct(col("doc_id")) === count(lit(1))).as("partition_ok"),
          (sum(when(designed, 1L).otherwise(0L)).cast("double")
            >= count(lit(1)) * 0.9).as("verdict_ok"),
          (sum(when(col("novel") <=> col("novel_oneshot"), 1L).otherwise(0L))
            === count(lit(1))).as("boundary_invariant"))
    }
  }

  /** Real file-stream gate: the incoming feed is staged as TWO
    * deterministic corpus-derived batches — a full RECRAWL (every
    * historical text again under fresh ids; all of it must drop) and
    * a FRESH batch (per-id salted texts; all of it must survive,
    * salt collisions aside, which the text-equality oracle decides
    * identically). Survivors aggregate per source, so a dedup
    * regression in either direction (dropping novel docs / passing
    * recrawled ones) flips both counts and char sums red.
    */
  def ingestDedupFileStream(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Readers.parquet(spark, s"$sfDir/documents.parquet")
      .select("doc_id", "text", "source")
    // corpus-derived id offset (the r7 convention: never a magic
    // constant that a bigger SF could collide with)
    val offset = docs.agg(coalesce(max("doc_id"), lit(0L))).head().getLong(0) + 1L
    val recrawl = docs.select((col("doc_id") + offset).as("doc_id"),
      col("text"), col("source"))
    val fresh = docs.select((col("doc_id") + lit(2L) * offset).as("doc_id"),
      concat(lit("fresh "), col("doc_id").cast("string"), lit(" "), col("text")).as("text"),
      col("source"))
    Feed(recrawl, fresh) { feed =>
      val historical = docs.select(xxhash64(col("text")).as("h")).distinct()
      val novel = feed.stream().withColumn("h", xxhash64(col("text")))
        .join(historical, Seq("h"), "left_anti")
        .drop("h")
      Feed.toMemory(novel, OutputMode.Append(), "graft_ingest_dedup")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("n_chars"))
    }
  }
}
