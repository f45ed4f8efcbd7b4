package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.SplittableRandom

/** Seeded input generator. Plain Scala, no Spark: it runs in its own
  * short JVM before the measured process, and caches each workload's
  * inputs per seed under `<root>/<workload>/seed-<n>/`.
  *
  * Every input carries the construction the checks are derived from:
  * which rows are planted duplicates and what the pipeline must keep.
  * The same seed writes byte-identical files.
  */
object Gen {

  /** Input sizes, one place (BENCHMARK.json's `why` quotes them). */
  object Sizes {
    val medallionKeys = 100000    // distinct registrations
    val medallionReReg = 0.10     // share of keys re-registered later
    val corpusDocs = 8000         // DataGen.documents-law documents
    val corpusFamilies = 300      // canonicals with planted copies
    val vectors = 8000            // 64-dim unit vectors
    val vectorCopies = 80         // planted 0.99-scaled copies
    val vectorQueries = 80        // IVF top-10 queries (~1%)
    val dim = 64
    val parts = 8                 // landing files per input
  }
  import Sizes._

  def dir(root: String, workload: String, seed: Long): File =
    new File(root, s"$workload/seed-$seed")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, root) = args
    val seed = seedS.toLong
    val out = dir(root, workload, seed)
    if (new File(out, "_DONE").exists()) return
    val tmp = new File(root, s"$workload/.tmp-seed-$seed-${ProcessHandle.current().pid()}")
    deleteTree(tmp)
    tmp.mkdirs()
    workload match {
      case "medallion_etl"   => medallion(tmp, seed)
      case "corpus_prep"     => corpus(tmp, seed)
      case "embedding_dedup" => embedding(tmp, seed)
      case other => sys.error(s"unknown workload $other")
    }
    new File(tmp, "_DONE").createNewFile()
    deleteTree(out)
    if (!tmp.renameTo(out)) sys.error(s"cannot publish $out")
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }

  private def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new FileWriter(f), 1 << 16)
  }

  private def writeMeta(d: File, kv: Seq[(String, Any)]): Unit = {
    val w = writer(new File(d, "meta.properties"))
    kv.foreach { case (k, v) => w.write(s"$k=$v\n") }
    w.close()
  }

  // ---------------------------------------------------------------
  // medallion_etl: the Medallion.rawFromOrders shape, landed as CSV.
  // Every key appears once; a seeded ~10% are re-registered with a
  // strictly later date (RN-002 must keep the later row and drop the
  // earlier one). Dates use the two raw formats, by key parity.
  // ---------------------------------------------------------------
  private val epoch1992 = java.time.LocalDate.of(1992, 1, 1).toEpochDay

  private def rawDate(key: Long, day: Long): String = {
    val d = java.time.LocalDate.ofEpochDay(day)
    if (key % 2 == 0) f"${d.getYear}%04d${d.getMonthValue}%02d${d.getDayOfMonth}%02d"
    else f"${d.getYear}%04d/${d.getMonthValue}%02d/${d.getDayOfMonth}%02d 00:00:00.000000000"
  }

  def medallion(d: File, seed: Long): Unit = {
    val rnd = new SplittableRandom(seed * 31 + 1)
    val nCust = medallionKeys / 10
    val estados = Array("O", "F", "P")
    val clases = Array("CC", "NIT", "CE")
    // keys are a seeded permutation-free sparse range: 1 + 4*i + jitter
    val ws = (0 until parts).map(p =>
      writer(new File(d, f"landing/part-$p%03d.csv")))
    ws.foreach(_.write("Matricula,Estado,FechaMatricula,ClaseIdentificacion,IdTitular\n"))
    val planted = writer(new File(d, "planted.csv"))
    var rows = 0L
    var nPlanted = 0L
    var i = 0
    while (i < medallionKeys) {
      val key = 1L + 4L * i + rnd.nextInt(4)
      val day = epoch1992 + rnd.nextInt(2400)
      def line(dday: Long, cust: Int, est: String): String =
        s"$key, $est ,${rawDate(key, dday)},${clases((key % 3).toInt)},$cust\n"
      val cust = 1 + rnd.nextInt(nCust)
      ws(rnd.nextInt(parts)).write(line(day, cust, estados(rnd.nextInt(3))))
      rows += 1
      if (rnd.nextDouble() < medallionReReg) {
        val later = day + 1 + rnd.nextInt(1500)
        ws(rnd.nextInt(parts)).write(line(later, 1 + rnd.nextInt(nCust), estados(rnd.nextInt(3))))
        planted.write(s"$key,${java.time.LocalDate.ofEpochDay(later)}\n")
        rows += 1
        nPlanted += 1
      }
      i += 1
    }
    ws.foreach(_.close())
    planted.close()
    // catalog: ~95% of titular ids have a name (the rest stay unenriched)
    val cat = writer(new File(d, "catalog/catalog.csv"))
    cat.write("c_custkey,c_name\n")
    (1 to nCust).foreach { c =>
      if (rnd.nextInt(20) != 0) cat.write(f"$c,Customer#$c%09d\n")
    }
    cat.close()
    val bytes = new File(d, "landing").listFiles().map(_.length()).sum
    writeMeta(d, Seq("rows" -> rows, "keys" -> medallionKeys,
      "planted" -> nPlanted, "landing_bytes" -> bytes))
  }

  // ---------------------------------------------------------------
  // corpus_prep: the DataGen.documents law (30-word vocabulary, rare
  // 'dup' token in ~5% of docs, word count U[10,100], natural exact
  // duplicate every 625th doc) plus planted families. A canonical is
  // >= 60 words and starts with "the", so it passes every quality
  // gate; each family adds one exact copy and one near copy (one word
  // substituted, Jaccard of 3-shingle sets ~0.9) under ids above all
  // base docs, so min-id keep policies must keep the canonical.
  // ---------------------------------------------------------------
  val vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch")

  def corpus(d: File, seed: Long): Unit = {
    val rnd = new SplittableRandom(seed * 31 + 2)
    val texts = new Array[Array[String]](corpusDocs)
    var i = 0
    while (i < corpusDocs) {
      texts(i) =
        if (i % 625 == 624) texts(i - 1)
        else {
          val n = 10 + rnd.nextInt(91)
          val w = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
          if (rnd.nextInt(20) == 0) w(rnd.nextInt(n)) = "dup"
          w
        }
      i += 1
    }
    // canonicals: distinct base docs that are not natural duplicates
    // of, or duplicated by, a neighbour
    val canon = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (canon.size < corpusFamilies) {
      val c = rnd.nextInt(corpusDocs)
      if (c % 625 < 623) canon += c
    }
    canon.foreach { c =>
      val n = 60 + rnd.nextInt(41)
      val w = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
      w(0) = "the"
      texts(c) = w
    }
    val ws = (0 until parts).map(p => writer(new File(d, f"docs/part-$p%03d.csv")))
    ws.foreach(_.write("doc_id,text\n"))
    i = 0
    while (i < corpusDocs) {
      ws(i % parts).write(s"$i,${texts(i).mkString(" ")}\n")
      i += 1
    }
    val fam = writer(new File(d, "families.csv"))
    var next = corpusDocs
    canon.foreach { c =>
      val t = texts(c)
      ws(next % parts).write(s"$next,${t.mkString(" ")}\n")
      fam.write(s"$next,$c,exact\n")
      next += 1
      val near = t.clone()
      val pos = 1 + rnd.nextInt(near.length - 1)
      var sub = near(pos)
      while (sub == near(pos)) sub = vocab(rnd.nextInt(vocab.length))
      near(pos) = sub
      ws(next % parts).write(s"$next,${near.mkString(" ")}\n")
      fam.write(s"$next,$c,near\n")
      next += 1
    }
    ws.foreach(_.close())
    fam.close()
    writeMeta(d, Seq("docs" -> next, "canonicals" -> corpusFamilies,
      "planted" -> (next - corpusDocs)))
  }

  // ---------------------------------------------------------------
  // embedding_dedup: unit vectors from a 32-centre mixture (so IVF
  // cells are meaningful), vector i drawn around centre i % 32. The
  // balanced, id-fixed membership keeps the cell sizes, and so the
  // work, alike from seed to seed: SemDeDup seeds its cells by a hash
  // of vec_id, the same ids on every seed, and a random membership
  // made some seeds' runs 15% slower than others'. Planted copies
  // are scaled by 0.99 (cosine exactly 1 with the original) and get
  // ids above every original. The
  // exact top-10 of each query is computed here, in plain Scala, with
  // the pipeline's ranking rule: round(cos, 4) desc, id asc, self
  // excluded.
  // ---------------------------------------------------------------
  def embedding(d: File, seed: Long): Unit = {
    val rnd = new SplittableRandom(seed * 31 + 3)
    def gauss(): Double = {
      // Box-Muller on the seeded stream (java.util.Random is not used
      // so every value comes from one SplittableRandom)
      val u1 = 1.0 - rnd.nextDouble()
      val u2 = rnd.nextDouble()
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val centres = Array.fill(32)(Array.fill(dim)(gauss()))
    val vecs = new Array[Array[Float]](vectors + vectorCopies)
    var i = 0
    while (i < vectors) {
      val c = centres(i % centres.length)
      vecs(i) = unit(Array.tabulate(dim)(j => c(j) + 1.2 * gauss()))
      i += 1
    }
    val origs = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (origs.size < vectorCopies) origs += rnd.nextInt(vectors)
    val planted = writer(new File(d, "planted.csv"))
    origs.zipWithIndex.foreach { case (o, j) =>
      vecs(vectors + j) = vecs(o).map(x => x * 0.99f)
      planted.write(s"${vectors + j},$o\n")
    }
    planted.close()
    val ws = (0 until parts).map(p => writer(new File(d, f"vectors/part-$p%03d.csv")))
    ws.foreach(_.write(("vec_id" +: (0 until dim).map(j => s"e$j")).mkString(",") + "\n"))
    vecs.indices.foreach { id =>
      ws(id % parts).write(s"$id,${vecs(id).mkString(",")}\n")
    }
    ws.foreach(_.close())
    // queries: half are originals with a planted twin (their top-1
    // must be the twin), half are other originals
    val queries = scala.collection.mutable.LinkedHashSet.empty[Int]
    origs.take(vectorQueries / 2).foreach(queries += _)
    while (queries.size < vectorQueries) queries += rnd.nextInt(vectors)
    val exact = writer(new File(d, "exact_top10.csv"))
    val norms = vecs.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))
    queries.foreach { q =>
      val scored = vecs.indices.iterator.filter(_ != q).map { id =>
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += vecs(q)(j).toDouble * vecs(id)(j); j += 1 }
        (BigDecimal(dot / (norms(q) * norms(id))).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble, id)
      }.toArray.sortBy { case (s, id) => (-s, id) }.take(10)
      exact.write(s"$q,${scored.map(_._2).mkString(" ")}\n")
    }
    exact.close()
    writeMeta(d, Seq("vectors" -> vecs.length, "originals" -> vectors,
      "planted" -> vectorCopies, "queries" -> vectorQueries))
  }
}
