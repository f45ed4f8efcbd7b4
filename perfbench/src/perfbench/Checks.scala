package perfbench

/** Output checks derived from the generator's construction, never from
  * the code under test. Each returns the list of violations (empty =
  * pass) so the self-test can show it rejects a wrong output.
  */
object Checks {

  /** medallion_etl, per repetition: the counts the pipeline reports
    * while it runs.
    */
  final case class MedallionRep(rowsIn: Long, rowsOut: Long, orphans: Long,
                                bronzeDupRows: Long, bronzeNulls: Long)

  def medallionRep(rows: Long, keys: Long, planted: Long, o: MedallionRep): Seq[String] =
    Seq(
      (o.rowsIn != rows) -> s"silver read ${o.rowsIn} rows, landed $rows",
      (o.bronzeDupRows != planted) ->
        s"bronze dup profile found ${o.bronzeDupRows} duplicate rows, planted $planted",
      (o.bronzeNulls != 0) -> s"bronze null profile found ${o.bronzeNulls} nulls, expected 0",
      (o.rowsOut != keys) -> s"silver kept ${o.rowsOut} rows for $keys keys",
      (o.orphans != 0) -> s"gold orphan count ${o.orphans}, expected 0"
    ).collect { case (true, msg) => msg }

  /** medallion_etl, on the written silver table. `laterKept`: planted
    * keys whose silver row carries the re-registration's later date.
    */
  final case class MedallionSilver(rows: Long, distinct: Long, laterKept: Long)

  def medallionSilver(keys: Long, planted: Long, o: MedallionSilver): Seq[String] =
    Seq(
      (o.rows != keys) -> s"silver table holds ${o.rows} rows for $keys keys",
      (o.distinct != keys) -> s"silver table has ${o.distinct} distinct keys, expected $keys",
      (o.laterKept != planted) ->
        s"${planted - o.laterKept} of $planted re-registrations kept the superseded row"
    ).collect { case (true, msg) => msg }

  /** corpus_prep: every planted exact copy removed, every canonical
    * kept. Near copies only count towards recall.
    */
  def corpus(kept: Set[Long], families: Seq[(Long, Long, String)]): Seq[String] = {
    val exactKept = families.collect { case (c, _, "exact") if kept(c) => c }
    val canonLost = families.map(_._2).distinct.filterNot(kept)
    Seq(
      exactKept.nonEmpty -> s"${exactKept.size} planted exact copies kept (e.g. ${exactKept.take(3)})",
      canonLost.nonEmpty -> s"${canonLost.size} canonicals removed (e.g. ${canonLost.take(3)})"
    ).collect { case (true, msg) => msg }
  }

  def corpusRecall(kept: Set[Long], families: Seq[(Long, Long, String)]): Double =
    families.count(f => !kept(f._1)).toDouble / math.max(1, families.size)

  /** embedding_dedup: removed set == planted copies exactly; each
    * query with a planted twin finds it at rank 1; recall@10 against
    * the exact top-10 stays at or above `recallFloor`.
    */
  def embedding(removed: Set[Long], planted: Map[Long, Long],
                top: Map[Long, Seq[Long]], exact: Map[Long, Seq[Long]],
                recallFloor: Double): Seq[String] = {
    val twin = planted.map(_.swap)
    val wrongTop1 = exact.keys.filter(q => twin.contains(q) &&
      !top.get(q).flatMap(_.headOption).contains(twin(q)))
    val missing = exact.keySet -- top.keySet
    val r = recallAt10(top, exact)
    Seq(
      (removed != planted.keySet) ->
        (s"removed ${removed.size} vectors, ${(removed -- planted.keySet).size} not planted; " +
          s"${(planted.keySet -- removed).size} planted copies kept"),
      wrongTop1.nonEmpty -> s"${wrongTop1.size} queries miss their planted twin at rank 1",
      missing.nonEmpty -> s"${missing.size} queries returned no neighbours",
      (r < recallFloor) -> f"recall@10 $r%.4f below floor $recallFloor%.2f"
    ).collect { case (true, msg) => msg }
  }

  def recallAt10(top: Map[Long, Seq[Long]], exact: Map[Long, Seq[Long]]): Double = {
    val hits = exact.iterator.map { case (q, ex) =>
      top.getOrElse(q, Nil).take(10).toSet.intersect(ex.toSet).size
    }.sum
    hits.toDouble / math.max(1, exact.values.map(_.size).sum)
  }

  def embeddingRecall(removed: Set[Long], planted: Map[Long, Long]): Double =
    planted.keys.count(removed).toDouble / math.max(1, planted.size)
}
