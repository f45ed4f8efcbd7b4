package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Conversation/SFT transcript assembly: group a user's event stream
  * into inactivity-gapped sessions and reassemble each session's
  * turns, IN ORDER, into one training document — the shaping pass
  * that turns interaction logs into instruction-tuning rows (every
  * chat-data pipeline ends in exactly this: stable session identity,
  * deterministic turn order, one text per conversation).
  *
  * Scale design: ONE user-keyed exchange carries both the session
  * window (lag + cumulative boundary sum — the sessionizeBatch
  * machinery) and the per-session aggregation, because the session
  * group-by key starts with the window's partition key, so the agg
  * reuses the sort/partitioning. Turn order inside a session is made
  * deterministic by sorting the collected (ts, event_id, turn)
  * structs — collect_list alone has no order guarantee across
  * retries/merges; the sort is per-session (bounded by session
  * length), not corpus-wide. The transcript is emitted as
  * (n_turns, chars, md5) — the gate's cross-engine form; library
  * callers take `transcript` itself.
  */
object ChatAssembly {

  /** One row per (user, session): session_start, n_turns, transcript
    * (ordered `turn` texts joined by `sep`), plus its length and md5.
    */
  def transcripts(events: DataFrame, userCol: String, tsCol: String,
                  orderTieBreak: String, turn: Column,
                  gapMinutes: Int = 30, sep: String = "\n"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(userCol).orderBy(col(tsCol), col(orderTieBreak))
    val gapSec = gapMinutes * 60L
    // a narrow input (graft.Spread) makes the user-keyed exchange
    // explicit-width (the window and the session agg both reuse it):
    // AQE's size-based coalesce folds a small tier's exchange to one
    // partition and the whole lag+sum+collect chain runs serial
    val n = graft.Spread.width(events)
    val spread = if (n > 0) events.repartition(n, col(userCol)) else events
    val sessions = spread
      .withColumn("__turn", turn)
      .withColumn("__prev", lag(col(tsCol), 1).over(byUser))
      .withColumn("__new",
        when(col("__prev").isNull ||
          unix_timestamp(col(tsCol)) - unix_timestamp(col("__prev")) > gapSec, 1L)
          .otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions
      .groupBy(col(userCol), col("__sid"))
      .agg(
        min(col(tsCol)).as("session_start"),
        count(lit(1)).as("n_turns"),
        array_join(
          transform(
            sort_array(collect_list(struct(col(tsCol).as("t"),
              col(orderTieBreak).as("k"), col("__turn").as("x")))),
            e => e.getField("x")),
          sep).as("transcript"))
      .select(col(userCol), col("__sid").as("session_id"),
        col("session_start"), col("n_turns"),
        length(col("transcript")).cast("long").as("n_chars"),
        md5(col("transcript").cast("binary")).as("transcript_md5"))
  }
}
