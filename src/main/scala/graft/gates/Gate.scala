package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Golden plan ceiling of one gate, audited by PlanSpec on the
  * pre-AQE executed plan: at most `shuffles` ShuffleExchangeExec
  * nodes and `leaves` leaf scans, and no BroadcastNestedLoopJoin
  * unless `bnljOk` (the documented 1-row broadcast stat frames).
  */
final case class Ceiling(shuffles: Int, leaves: Int, bnljOk: Boolean)

/** Bench membership. `Headline` gates are timed on every tier and
  * summed against the DuckDB baseline. `Extra` gates are timed on
  * every tier but kept out of the headline total: they have no
  * SQL-expressible oracle, or their baseline needs same-work treatment
  * (a staged artifact, an approximate answer), so including them would
  * make every Spark-vs-baseline total need a "comparable subset"
  * footnote. `Off` gates are checked by Verify but not benched.
  */
sealed trait Role
object Role {
  case object Off extends Role
  case object Headline extends Role
  case object Extra extends Role
}

/** One named driver-contract gate: how to build it over a tier
  * directory, the DuckDB SQL the driver checks it against (None:
  * rows-only), its bench role and its golden plan ceiling.
  */
final case class Gate(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    bench: Role = Role.Off,
    ceiling: Option[Ceiling] = None)

object Gate {

  /** The families' gates concatenated in declaration order. Throws on
    * a name declared twice: a `Map` literal would silently keep the
    * last of the two.
    */
  def registry(families: Seq[Gate]*): Seq[Gate] = {
    val all = families.flatten
    val dups = all.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"gate declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }
}
