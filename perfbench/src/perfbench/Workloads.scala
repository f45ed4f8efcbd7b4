package perfbench

import java.io.File

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.io.Source

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.Ivf
import graft.dedup.{Components, MinHashLSH, SemDeDup}
import graft.operators.Profiler
import graft.pipeline.{CorpusPrep, Medallion}
import graft.sources.{Readers, Writers}

/** What one repetition produced: its check violations and the
  * workload's quality and count figures.
  */
final case class RepOut(violations: Seq[String], recall: Double,
                        counts: Map[String, Double] = Map.empty)

/** One benchmark workload over generated inputs in `data`. `load`
  * brings inputs into the session (set-up, untimed); `rep` is one
  * timed pipeline run; `breakdown` (traced runs only) materializes
  * each public call on its own to time it.
  */
trait Workload {
  def records: Long
  def load(spark: SparkSession): Unit
  def rep(spark: SparkSession, tr: Tracer): RepOut
  /** Checks on written outputs, once after the last repetition. */
  def finalCheck(spark: SparkSession): Option[RepOut] = None
  def breakdown(spark: SparkSession, tr: Tracer, c: Collector): Map[String, Double] = Map.empty
  /** The pipeline steps of one repetition, as span names; each is one
    * operation towards `attempted`.
    */
  def stepSpans: Seq[String]
  /** Per-layer metrics this workload reports beyond [[PerLayer.names]]. */
  def extraLayers: Seq[(String, String)] = Nil
}

object Workload {
  def apply(name: String, data: File, work: File): Workload = name match {
    case "medallion_etl"   => new MedallionEtl(data, work)
    case "corpus_prep"     => new CorpusPrepWl(data)
    case "embedding_dedup" => new EmbeddingDedup(data)
    case other => sys.error(s"unknown workload $other")
  }

  def meta(data: File): Map[String, Long] =
    Source.fromFile(new File(data, "meta.properties")).getLines()
      .map(_.split("=", 2)).map(a => a(0) -> a(1).toLong).toMap

  def lines(f: File): Seq[Array[String]] = {
    val s = Source.fromFile(f)
    try s.getLines().filter(_.nonEmpty).map(_.split(",")).toVector finally s.close()
  }

  def plan[T](tr: Tracer, name: String)(body: => T): T = tr.span(s"plan:$name")(body)
}

/** Bronze → profile → silver → gold → RN-007 error log, written. */
final class MedallionEtl(data: File, work: File) extends Workload {
  import Workload.plan
  private val m = Workload.meta(data)
  val records: Long = m("rows")
  val stepSpans = Seq("medallion.bronze", "medallion.profile", "medallion.silver",
    "medallion.gold", "medallion.errorlog")
  private def p(n: String) = new File(work, n).getAbsolutePath
  private val landing = new File(data, "landing").getAbsolutePath
  private val catalogPath = new File(data, "catalog").getAbsolutePath
  private val outputs = Seq("bronze", "silver", "gold_dim", "gold_fact", "errorlog")

  def load(spark: SparkSession): Unit = work.mkdirs()

  def bytesWritten: Long = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(size).sum
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    outputs.map(o => size(new File(work, o))).sum
  }

  def rep(spark: SparkSession, tr: Tracer): RepOut = {
    tr.span("medallion.bronze") {
      val raw = plan(tr, "Readers.csv")(Readers.csv(spark, landing))
      Writers.parquetPartitioned(raw, p("bronze"), Nil)
    }
    val (nulls, dupRows) = tr.span("medallion.profile") {
      val b = plan(tr, "Readers.parquet")(Readers.parquet(spark, p("bronze")))
      val nullRow = plan(tr, "Profiler.nullProfile")(Profiler.nullProfile(b)).collect()(0)
      val dupRow = plan(tr, "Profiler.dupProfile")(Profiler.dupProfile(b, Seq("Matricula")))
        .collect()(0)
      ((0 until nullRow.length).map(nullRow.getLong).sum,
        dupRow.getAs[Long]("duplicate_rows"))
    }
    val (rowsIn, rowsOut) = tr.span("medallion.silver") {
      val (out, inObs, outObs) = plan(tr, "Medallion.silverObserved") {
        Medallion.silverObserved(Readers.parquet(spark, p("bronze")),
          Readers.csv(spark, catalogPath), "c_custkey", "c_name", 2026)
      }
      Writers.parquetByYear(out, p("silver"), "fecha_matricula")
      (observed(inObs, "rows_in"), observed(outObs, "rows_out"))
    }
    val orphans = tr.span("medallion.gold") {
      val (dim, fact, orph) = plan(tr, "Medallion.gold") {
        Medallion.gold(Readers.parquet(spark, p("silver")),
          dimCols = Seq("matricula", "clase_identificacion", "titular_name"),
          factCols = Seq("matricula", "id_titular", "antiguedad"),
          vigenciaDate = java.sql.Date.valueOf("1998-12-01"))
      }
      Writers.parquetPartitioned(dim, p("gold_dim"), Nil)
      Writers.parquetPartitioned(fact, p("gold_fact"), Nil)
      orph.collect()(0).getLong(0)
    }
    tr.span("medallion.errorlog") {
      val log = plan(tr, "Profiler.validate") {
        val s = Readers.parquet(spark, p("silver"))
        Profiler.errorLog(Profiler.validate(s, Seq(
          "null_fecha" -> col("fecha_matricula").isNull,
          "sin_titular" -> col("titular_name").isNull,
          "estado_abierto" -> (col("estado") === "O"),
          "persona_juridica" -> (col("tipo_persona") === 2),
          "antiguedad_alta" -> (col("antiguedad") > 30))), Map(
          "null_fecha" -> "fecha de matricula nula",
          "sin_titular" -> "titular no encontrado en catalogo",
          "estado_abierto" -> "registro abierto",
          "persona_juridica" -> "persona juridica",
          "antiguedad_alta" -> "antiguedad mayor a 30 anos"))
      }
      Writers.errorLogCsv(log, p("errorlog"))
    }
    val dropped = rowsIn - rowsOut
    RepOut(Checks.medallionRep(m("rows"), m("keys"), m("planted"),
      Checks.MedallionRep(rowsIn, rowsOut, orphans, dupRows, nulls)),
      recall = Double.NaN, counts = Map("operators.dedup_dropped_rows" -> dropped.toDouble,
        "sources.bytes_written_per_input_byte" ->
          bytesWritten.toDouble / m("landing_bytes")))
  }

  private def observed(o: Observation, k: String): Long =
    Await.result(o.future, 120.seconds).getAs[Long](k)

  /** Reads the written silver table back and checks it against the
    * planted re-registrations; recall is the share resolved to the
    * later row.
    */
  override def finalCheck(spark: SparkSession): Option[RepOut] = {
    val silver = spark.read.parquet(p("silver"))
    val planted = spark.read.schema("matricula STRING, fecha STRING")
      .csv(new File(data, "planted.csv").getAbsolutePath)
    val laterKept = silver.join(planted, "matricula")
      .filter(date_format(col("fecha_matricula"), "yyyy-MM-dd") === col("fecha")).count()
    val o = Checks.MedallionSilver(silver.count(),
      silver.select("matricula").distinct().count(), laterKept)
    Some(RepOut(Checks.medallionSilver(m("keys"), m("planted"), o),
      laterKept.toDouble / m("planted")))
  }
}

/** CorpusPrep.prepFullClustered, fully materialized, no writes. */
final class CorpusPrepWl(data: File) extends Workload {
  import Workload.plan
  private val m = Workload.meta(data)
  val records: Long = m("docs")
  val stepSpans = Seq("corpus.full")
  override def extraLayers: Seq[(String, String)] = PerLayer.corpus
  private val families = Workload.lines(new File(data, "families.csv"))
    .map(a => (a(0).toLong, a(1).toLong, a(2)))
  // the gate constants of SparkEntry's corpus-prep family
  private val stopwords = Seq("the", "a", "of", "and", "to", "in")
  private val langMarkers = Seq(
    "en" -> Seq("the", "a"),
    "es" -> Seq("el", "la", "los"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "les", "et"))
  private var docs: DataFrame = _

  def load(spark: SparkSession): Unit = {
    docs = Readers.csv(spark, new File(data, "docs").getAbsolutePath,
      schema = Some(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))).localCheckpoint()
  }

  def rep(spark: SparkSession, tr: Tracer): RepOut = {
    val kept = tr.span("corpus.full") {
      plan(tr, "CorpusPrep.prepFullClustered")(
        CorpusPrep.prepFullClustered(docs, "doc_id", "text", stopwords, langMarkers))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    spark.catalog.clearCache()
    RepOut(Checks.corpus(kept, families), Checks.corpusRecall(kept, families),
      Map("corpus.kept_docs" -> kept.size.toDouble))
  }

  override def breakdown(spark: SparkSession, tr: Tracer, c: Collector): Map[String, Double] = {
    val kept = tr.span("corpus.prep") {
      val k = CorpusPrep.prep(docs, "doc_id", "text", stopwords, langMarkers, 0.3,
        Seq("en"), 10).cache()
      k.count(); k
    }
    val survivors = docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
    val sigs = tr.span("dedup.signatures") {
      val s = MinHashLSH.signatures(survivors, "doc_id", "text", numHashes = 64).cache()
      s.count(); s
    }
    val (pairs, nPairs) = tr.span("dedup.candidates") {
      val p = MinHashLSH.candidatePairs(MinHashLSH.bands(sigs, 16, 4)).cache()
      (p, p.count())
    }
    val (verified, nVerified) = tr.span("dedup.verify") {
      val v = MinHashLSH.verifiedPairs(sigs, pairs, 0.8).cache()
      (v, v.count())
    }
    tr.span("dedup.components") {
      Components.clusters(survivors, "doc_id", verified, "id_a", "id_b").count()
    }
    val compSpan = tr.spans.filter(_.name == "dedup.components").last
    spark.catalog.clearCache()
    Map("dedup.candidate_pairs" -> nPairs.toDouble,
      "dedup.verified_pairs" -> nVerified.toDouble,
      "dedup.verify_yield" -> nVerified.toDouble / math.max(1L, nPairs),
      "dedup.components_jobs" -> Layers.jobsIn(c, compSpan).toDouble)
  }
}

/** SemDeDup.verdictsAuto over the corpus, then Ivf.topK(k = 10) for a
  * seeded ~1% query slice. In-memory inputs, no writes.
  */
final class EmbeddingDedup(data: File) extends Workload {
  import Workload.plan
  private val m = Workload.meta(data)
  val records: Long = m("vectors")
  val stepSpans = Seq("ann.semdedup", "ann.topk")
  // the recall floor of the q_ann_recall_check gate family
  val recallFloor = 0.85
  private val planted = Workload.lines(new File(data, "planted.csv"))
    .map(a => a(0).toLong -> a(1).toLong).toMap
  private val exact = Workload.lines(new File(data, "exact_top10.csv"))
    .map(a => a(0).toLong -> a(1).split(" ").toSeq.map(_.toLong)).toMap
  private var emb: DataFrame = _
  private var queries: DataFrame = _

  def load(spark: SparkSession): Unit = {
    val dim = Gen.Sizes.dim
    val schema = StructType(StructField("vec_id", LongType) +:
      (0 until dim).map(j => StructField(s"e$j", FloatType)))
    emb = Readers.csv(spark, new File(data, "vectors").getAbsolutePath, schema = Some(schema))
      .select(col("vec_id"), array((0 until dim).map(j => col(s"e$j")): _*).as("embedding"))
      .localCheckpoint()
    queries = emb.filter(col("vec_id").isin(exact.keys.toSeq: _*)).localCheckpoint()
  }

  def rep(spark: SparkSession, tr: Tracer): RepOut = {
    val removed = tr.span("ann.semdedup") {
      plan(tr, "SemDeDup.verdictsAuto")(SemDeDup.verdictsAuto(emb, eps = 0.95))
        .filter(col("removed")).select("vec_id").collect().map(_.getLong(0)).toSet
    }
    val top = tr.span("ann.topk") {
      plan(tr, "Ivf.topK")(Ivf.topK(emb, queries, k = 10))
        .select("query_id", "rank", "nbr_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
    }
    spark.catalog.clearCache()
    RepOut(Checks.embedding(removed, planted, top, exact, recallFloor),
      Checks.embeddingRecall(removed, planted),
      Map("ann.semdedup_removed" -> removed.size.toDouble,
        "ann.recall_at_10" -> Checks.recallAt10(top, exact),
        "ann.queries" -> exact.size.toDouble))
  }
}
