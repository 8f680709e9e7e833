package graft.sources

import graft.core.{BatchInfo, UnsupportedFormatError}
import graft.util.Fs
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** What to do with consumed input files after a successful commit.
  * Mirrors Spark file-source `cleanSource` and reference
  * `sources/file.py:106-148`. */
sealed trait CleanSource
object CleanSource {
  case object Off extends CleanSource
  case object Delete extends CleanSource
  /** Move to `<inputDir>/_archive/...`, suffixing on collision. */
  case object Archive extends CleanSource
}

/** Format auto-inference: explicit beats pattern-suffix beats `_delta_log`
  * presence beats extension; parquet is the default. Alias normalization
  * included (reference `sources/base.py:19-107`). */
object FormatInference {
  private val aliases = Map(
    "jsonl" -> "ndjson", "xlsx" -> "excel", "pq" -> "parquet", "txt" -> "text")

  def normalize(fmt: String): String = aliases.getOrElse(fmt.toLowerCase, fmt.toLowerCase)

  def infer(
      path: String,
      explicit: Option[String],
      pattern: Option[String],
      conf: Configuration): String = {
    explicit.map(normalize).getOrElse {
      val fromPattern = pattern.flatMap(extensionOf)
      fromPattern.getOrElse {
        if (Fs.exists(new Path(path, "_delta_log"), conf)) "delta"
        else {
          val listed = Fs.list(new Path(path), conf)
            .filter(_.isFile).flatMap(s => extensionOf(s.getPath.getName))
          listed.headOption.getOrElse("parquet")
        }
      }
    }
  }

  private def extensionOf(name: String): Option[String] = {
    val i = name.lastIndexOf('.')
    if (i < 0 || i == name.length - 1) None
    else {
      val ext = normalize(name.substring(i + 1))
      if (Set("parquet", "csv", "json", "ndjson", "avro", "excel", "text",
        "orc").contains(ext)) Some(ext)
      else None
    }
  }
}

/** Read a planned batch of files into one DataFrame with per-format
  * dispatch (reference `sources/file.py:101-174`).
  *
  * Formats: parquet (vectorized scan), csv, json (multiLine), ndjson
  * (json-lines), text, orc (native vectorized scan), avro (via
  * [[AvroSupport]] — avro core/mapred, no spark-avro needed), excel/xlsx
  * (via [[XlsxSupport]] — JDK zip+StAX, no POI needed) (SURVEY §2.A-A2).
  */
class FileSource(
    val inputDir: String,
    val checkpoint: FileStreamCheckpoint,
    val format: String = "parquet",
    val options: FileSourceOptions = FileSourceOptions(),
    val schema: Option[StructType] = None,
    val readerOptions: Map[String, String] = Map.empty,
    val cleanSource: CleanSource = CleanSource.Off) extends Source {

  def checkpointDir: String = checkpoint.checkpointDir
  def conf: org.apache.hadoop.conf.Configuration = checkpoint.conf

  def planBatch(): Option[BatchInfo] = checkpoint.planBatch(inputDir, options)

  def readBatch(spark: SparkSession, batch: BatchInfo): DataFrame = {
    val paths = batch.paths
    if (paths.isEmpty) return spark.emptyDataFrame
    val fmt = FormatInference.normalize(format)
    var reader = spark.read.options(readerOptions)
    schema.orElse(if (fmt == "parquet") parquetFooterSchema(spark, paths) else None)
      .foreach(s => reader = reader.schema(s))
    fmt match {
      case "parquet" => reader.parquet(paths: _*)
      case "csv" => reader.option("header", readerOptions.getOrElse("header", "true")).csv(paths: _*)
      case "ndjson" => reader.json(paths: _*)
      case "json" => reader.option("multiLine", "true").json(paths: _*)
      case "text" => reader.text(paths: _*)
      case "orc" => reader.orc(paths: _*)
      case "avro" => AvroSupport.read(spark, paths)
      case "excel" => XlsxSupport.read(spark, paths, schema)
      case other =>
        throw new UnsupportedFormatError(
          s"format '$other' is not supported on this classpath (no ${other} reader jar)")
    }
  }

  /** Reader options under which Spark's parquet inference reads more than
    * the first file's footer, or a different file set. */
  private val inferenceOptions = Set("mergeSchema", "basePath", "pathGlobFilter",
    "recursiveFileLookup", "modifiedBefore", "modifiedAfter")

  /** The schema Spark's parquet inference would give `paths`, read on the
    * DRIVER from the one footer that inference reads (the first data
    * file; without `mergeSchema` the others are assumed to agree) and
    * converted by Spark's own `ParquetFileFormat.readSchemaFromFooter`
    * under the session's conf — so a batch launches no schema-inference
    * job. None (the read infers as before) whenever inference would do
    * more: merging schemas, a summary or hidden first file, or an option
    * that changes the file set or adds partition columns; also when the
    * footer cannot be read, so Spark reports the error. */
  private def parquetFooterSchema(spark: SparkSession,
      paths: Seq[String]): Option[StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val first = new Path(paths.head)
    val mergeSchema = spark.conf.getOption("spark.sql.parquet.mergeSchema")
      .exists(_.toBoolean)
    if (mergeSchema || readerOptions.keySet.exists(inferenceOptions) ||
        first.getName.startsWith("_") || first.getName.startsWith("."))
      return None
    try {
      val hconf = spark.sessionState.newHadoopConfWithOptions(readerOptions)
      val footer = ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(first, hconf),
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
      Some(ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(first, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Post-commit cleanup of consumed files (reference `sources/file.py:106-148`). */
  def cleanBatch(batch: BatchInfo): Unit = cleanSource match {
    case CleanSource.Off =>
    case CleanSource.Delete =>
      batch.paths.foreach(p => Fs.delete(new Path(p), recursive = false, checkpoint.conf))
    case CleanSource.Archive =>
      val archiveRoot = new Path(inputDir, "_archive")
      val fs = Fs.fs(archiveRoot, checkpoint.conf)
      fs.mkdirs(archiveRoot)
      batch.paths.foreach { p =>
        val src = new Path(p)
        var dst = new Path(archiveRoot, src.getName)
        var i = 1
        while (fs.exists(dst)) { dst = new Path(archiveRoot, s"${src.getName}.$i"); i += 1 }
        fs.rename(src, dst)
      }
  }

  def commitBatch(batch: BatchInfo, metadata: Map[String, String]): Unit = {
    checkpoint.commitBatch(batch, metadata, options)
    cleanBatch(batch)
  }
}
