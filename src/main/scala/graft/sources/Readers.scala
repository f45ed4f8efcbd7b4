package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.CodecStreams
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Robust file readers.
  *
  * Mirrors the ingest surface of the reference bronze layer
  * (reference: src/bronze/job-bronze-rues.py:52-73 reads messy CSV
  * with quotes/escapes/multiline/permissive mode), re-expressed as
  * plain Spark DataFrameReader configuration. At 100 TB the same
  * options apply unchanged — CSV parsing is a narrow, per-file
  * operation that scales with input splits.
  */
object Readers {

  /** CSV with the permissive, quote-safe options a raw landing zone
    * needs. `schema=None` (and `inferSchema` off) gives all-string
    * columns named from the first record, the way Spark names them
    * (blank names become `_c<i>`, duplicates get their index appended;
    * `_c<i>` throughout when `header` is off). That record is parsed
    * on the driver from the first non-empty data file in path order,
    * with Spark's own parser settings, so building the plan starts no
    * Spark job; `spark.read` would run one to fetch the same record.
    * A path with no such record goes to `spark.read` unchanged, so the
    * caller gets Spark's own error. `inferSchema` is an extra full
    * pass over the data: never at scale, which is also why the
    * reference sets inferSchema=false.
    */
  def csv(
      spark: SparkSession,
      path: String,
      header: Boolean = true,
      sep: String = ",",
      multiLine: Boolean = true,
      schema: Option[StructType] = None,
      inferSchema: Boolean = false,
      maxColumns: Int = -1): DataFrame = {
    val options = csvOptions(header, sep, multiLine, maxColumns)
    val base = spark.read.options(options)
    val resolved = schema.orElse(if (inferSchema) None else csvSchema(spark, path, options))
    resolved.fold(base.option("inferSchema", inferSchema.toString))(base.schema).csv(path)
  }

  /** The reader options of [[csv]]. */
  private[graft] def csvOptions(header: Boolean = true, sep: String = ",",
                                multiLine: Boolean = true,
                                maxColumns: Int = -1): Map[String, String] =
    Map(
      "header" -> header.toString,
      "sep" -> sep,
      "encoding" -> "UTF-8",
      "quote" -> "\"",
      "escape" -> "\"",
      "multiLine" -> multiLine.toString,
      "ignoreLeadingWhiteSpace" -> "true",
      "ignoreTrailingWhiteSpace" -> "true",
      "mode" -> "PERMISSIVE") ++
      // parser-width cap (reference bronze sets 50,
      // src/bronze/job-bronze-rues.py:66): a malformed row with runaway
      // separators fails fast instead of allocating unbounded columns
      (if (maxColumns > 0) Map("maxColumns" -> maxColumns.toString) else Map.empty)

  /** The all-string schema Spark would infer for a CSV read with
    * `options` and inference off, from the first record of the first
    * data file under `path` that has one ([[dataFiles]] order). None
    * when no file has a record.
    */
  private def csvSchema(spark: SparkSession, path: String,
                        options: Map[String, String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    val parsed = new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val hadoopConf = spark.sessionState.newHadoopConf()
    dataFiles(path, hadoopConf).iterator.filter(_.getLen > 0)
      .map(f => firstRecord(f.getPath, parsed, hadoopConf))
      .collectFirst { case Some(r) => r }
      .map(r => StructType(CSVUtils.makeSafeHeader(r, conf.caseSensitiveAnalysis, parsed)
        .map(StructField(_, StringType))))
  }

  /** A file's first CSV record as Spark's inference reads it: with
    * `multiLine` the first record of the token stream, else the first
    * line with a non-space character (and no comment prefix), parsed
    * on its own.
    */
  private def firstRecord(file: Path, options: CSVOptions,
                          hadoopConf: Configuration): Option[Array[String]] = {
    val in = CodecStreams.createInputStream(hadoopConf, file)
    try {
      val parser = new CsvParser(options.asParserSettings)
      if (options.multiLine) {
        parser.beginParsing(in, options.charset)
        try Option(parser.parseNext()) finally parser.stopParsing()
      } else
        scala.io.Source.fromInputStream(in, options.charset).getLines()
          .find(l => l.exists(_ != ' ') &&
            !(options.isCommentSet && l.startsWith(options.comment.toString)))
          .map(parser.parseLine)
    } finally in.close()
  }

  /** CSV with corrupt-record QUARANTINE: rows that fail to parse
    * against the typed schema land intact in `_corrupt_record`
    * instead of silently becoming nulls or killing the job — the
    * bronze-layer pattern for a raw landing zone (ingest everything,
    * split good/bad downstream, never lose bytes). Returns the frame
    * with the capture column appended; split with
    * `col("_corrupt_record").isNull` / `.isNotNull`.
    *
    * Caveat encoded here: Spark only populates the capture column if
    * it is present in the supplied schema, and a frame selecting ONLY
    * the capture column must be materialized from the same scan as a
    * data column (both handled by appending the field to the schema).
    */
  def csvWithCorruptCapture(
      spark: SparkSession,
      path: String,
      schema: StructType,
      header: Boolean = true): DataFrame = {
    val withCapture = schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    spark.read
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCapture)
      .csv(path)
  }

  /** Parquet (columnar) — the bronze/silver/gold interchange format.
    * Filter pushdown + column pruning reach the scan automatically.
    *
    * The data schema is read on the driver from the footer of the file
    * Spark's own inference would pick (the lowest path among
    * [[dataFiles]]), converted as Spark converts it, and passed as the
    * read schema; left to infer it, Spark would start a job per call
    * to read that footer. Spark still infers partition columns from
    * the directory names. A path with no data file goes to
    * `spark.read` unchanged, so the caller gets Spark's own error.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val schema = dataFiles(path, hadoopConf).headOption.map { f =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
    schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The data files Spark lists under `path` (a file, a directory or a
    * glob), sorted by path: directories are walked recursively, and
    * names starting with `_` (unless a `k=v` partition directory) or
    * `.`, or ending in `._COPYING_`, are skipped, as Spark's file index
    * skips them (`_SUCCESS`, `.crc`, `_temporary`). Empty when nothing
    * matches.
    */
  private def dataFiles(path: String,
                        hadoopConf: Configuration): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory)
        fs.listStatus(s.getPath).toSeq.filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
      else Seq(s)
    Option(fs.globStatus(p)).toSeq.flatten.flatMap(leaves).sortBy(_.getPath.toString)
  }

  /** JSON lines. Schema should be supplied at scale (inference = full
    * extra pass over 100 TB).
    */
  def json(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read.json(path))(s => spark.read.schema(s).json(path))

  /** ORC (columnar) — same pushdown/pruning properties as parquet;
    * kept for interop with ORC-based lakes.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** XML (Spark 4 built-in source): one row per `rowTag` element.
    * Schema should be supplied at scale — XML inference is a full
    * extra parse pass, and XML itself is a row-oriented interchange
    * format (feeds land in it; analytics storage should not).
    */
  def xml(spark: SparkSession, path: String, rowTag: String,
          schema: Option[StructType] = None): DataFrame = {
    val base = spark.read.option("rowTag", rowTag).format("xml")
    schema.fold(base)(s => base.schema(s)).load(path)
  }
}
