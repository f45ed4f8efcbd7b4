package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** How a gate feeds a file stream: one tag, one file, one micro-batch.
  *
  * Each frame of a feed is staged as exactly ONE parquet file whose
  * modification time is later than every earlier tag's, and the stream
  * reads one file per trigger, so each tag is exactly one micro-batch
  * in tag order whatever file layout the source table has. A feed that
  * split one tag over several files (a Spark-written table directory)
  * would hand a watermarked query several micro-batches of one tag,
  * and the watermark advanced by the first would drop the older rows of
  * the next as late; a feed ordered by listing or copy time instead of
  * tag order would reorder the tags.
  */
private[graft] object Feed {

  /** A staged feed: [[stream]] is its one read form, [[path]] names
    * scratch space in a work dir that dies with the feed.
    */
  final class Staged private[Feed] (spark: SparkSession, schema: StructType,
                                    dir: Path, work: Path) {
    /** The staged frame's schema, `*.parquet`, one file per trigger. */
    def stream(): DataFrame =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(dir.toString)

    def path(name: String): String = work.resolve(name).toString
  }

  /** Stage `tags` in order (tag i is micro-batch i) into a fresh temp
    * dir, run `body` over it and return its rows materialized; the
    * feed and work dirs are deleted in a finally, so `body`'s result
    * must not be read lazily from either.
    */
  def apply(tags: DataFrame*)(body: Staged => DataFrame): DataFrame = {
    val dirs = Seq("graft_feed", "graft_feed_work").map(Files.createTempDirectory(_))
    try {
      tags.zipWithIndex.foreach { case (df, i) => stage(df, dirs(0), f"$i%02d") }
      body(new Staged(tags.head.sparkSession, tags.head.schema, dirs(0), dirs(1)))
        .localCheckpoint(eager = true)
    } finally dirs.foreach(delete)
  }

  /** Run `df` AvailableNow into a memory sink and return its rows
    * materialized; the sink's temp view is dropped before returning.
    */
  def toMemory(df: DataFrame, mode: OutputMode, name: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    try {
      try q.awaitTermination() finally q.stop()
      df.sparkSession.table(name).localCheckpoint(eager = true)
    } finally df.sparkSession.catalog.dropTempView(name)
  }

  // The file source orders a trigger's candidates by modification
  // time; one process-wide clock keeps every staged tag strictly after
  // the previous one, 1 s apart for filesystems with second-granular
  // mtimes.
  private val clock = new AtomicLong(0L)

  private def stage(df: DataFrame, dir: Path, tag: String): Unit = {
    val tmp = dir.resolve(s"_$tag")
    df.coalesce(1).write.parquet(tmp.toString)
    val listing = Files.list(tmp)
    val parts =
      try listing.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally listing.close()
    require(parts.size == 1, s"tag $tag staged ${parts.size} parquet files, not one")
    val dst = dir.resolve(s"$tag.parquet")
    Files.move(parts.head, dst, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(
      clock.updateAndGet(t => math.max(System.currentTimeMillis(), t + 1000L))))
    delete(tmp)
  }

  private def delete(root: Path): Unit = {
    val walked = Files.walk(root)
    try walked.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
    finally walked.close()
  }
}
