package perfbench

/** Shows each output check accepts the constructed answer and rejects
  * a deliberately wrong one. No Spark: the checks are pure functions.
  * Exits non-zero if any case goes the wrong way.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    var bad = 0
    def expect(name: String, violations: Seq[String], shouldFail: Boolean): Unit = {
      val ok = violations.nonEmpty == shouldFail
      if (!ok) bad += 1
      println(s"${if (ok) "ok  " else "FAIL"} $name" +
        (if (violations.nonEmpty) s" -> ${violations.mkString("; ")}" else ""))
    }

    // medallion_etl: 100 rows landed, 90 keys, 10 planted re-registrations
    val rep = Checks.MedallionRep(rowsIn = 100, rowsOut = 90, orphans = 0,
      bronzeDupRows = 10, bronzeNulls = 0)
    expect("medallion: correct counts", Checks.medallionRep(100, 90, 10, rep), false)
    expect("medallion: dedup kept a superseded row",
      Checks.medallionRep(100, 90, 10, rep.copy(rowsOut = 91)), true)
    expect("medallion: orphan fact rows",
      Checks.medallionRep(100, 90, 10, rep.copy(orphans = 3)), true)
    expect("medallion: dup profile misses a duplicate",
      Checks.medallionRep(100, 90, 10, rep.copy(bronzeDupRows = 9)), true)
    val silver = Checks.MedallionSilver(rows = 90, distinct = 90, laterKept = 10)
    expect("medallion: silver table correct", Checks.medallionSilver(90, 10, silver), false)
    expect("medallion: earlier date kept for one key",
      Checks.medallionSilver(90, 10, silver.copy(laterKept = 9)), true)
    expect("medallion: duplicate key in silver",
      Checks.medallionSilver(90, 10, silver.copy(distinct = 89)), true)

    // corpus_prep: canonicals 1, 2; copies 10 (exact of 1), 11 (near of 1), 12 (exact of 2)
    val fam = Seq((10L, 1L, "exact"), (11L, 1L, "near"), (12L, 2L, "exact"))
    expect("corpus: copies removed, canonicals kept", Checks.corpus(Set(1L, 2L, 3L), fam), false)
    expect("corpus: near copy kept only lowers recall", Checks.corpus(Set(1L, 2L, 11L), fam), false)
    expect("corpus: exact copy kept", Checks.corpus(Set(1L, 2L, 12L), fam), true)
    expect("corpus: canonical removed", Checks.corpus(Set(1L), fam), true)
    assert(Checks.corpusRecall(Set(1L, 2L, 11L), fam) == 2.0 / 3)

    // embedding_dedup: copies 100 (of 1), 101 (of 2); queries 1 and 5
    val planted = Map(100L -> 1L, 101L -> 2L)
    val exact = Map(1L -> Seq(100L, 7L, 8L), 5L -> Seq(6L, 7L, 8L))
    val top = Map(1L -> Seq(100L, 7L, 8L), 5L -> Seq(6L, 7L, 8L))
    expect("embedding: exact removal, twin at rank 1",
      Checks.embedding(Set(100L, 101L), planted, top, exact, 0.85), false)
    expect("embedding: an original removed",
      Checks.embedding(Set(100L, 101L, 2L), planted, top, exact, 0.85), true)
    expect("embedding: a planted copy kept",
      Checks.embedding(Set(100L), planted, top, exact, 0.85), true)
    expect("embedding: twin not at rank 1",
      Checks.embedding(Set(100L, 101L), planted, top + (1L -> Seq(7L, 100L, 8L)), exact, 0.85),
      true)
    expect("embedding: recall@10 under the floor",
      Checks.embedding(Set(100L, 101L), planted, top + (5L -> Seq(9L, 10L, 11L)), exact, 0.85),
      true)
    expect("embedding: a query without neighbours",
      Checks.embedding(Set(100L, 101L), planted, top - 5L, exact, 0.5), true)

    println(if (bad == 0) "selftest: all checks behave" else s"selftest: $bad cases wrong")
    sys.exit(if (bad == 0) 0 else 1)
  }
}
