package graft.sources

import java.nio.file.{Files, Path}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet footers read on the driver, and the Spark schema Spark's
  * parquet writer stores in every file's footer. A reader handed this
  * schema skips Spark's schema inference, which otherwise starts a
  * one-task job on every `spark.read.parquet` without `.schema(...)`.
  * Nothing is memoized. */
object ParquetFooters {

  /** The footer key Spark's writer stores the written frame's schema
    * (JSON) under, and its reader takes the schema from. */
  val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The data files a scan of `paths` (absolute local files or
    * directories) reads, in path order: a directory contributes every file
    * below it that Spark's file index lists (`_`/`.` names and
    * `._COPYING_` files skipped). The first one's footer holds the schema
    * Spark's non-merging inference gives the scan. None when inference
    * would read another footer — the session merges schemas (inference
    * then reads every footer) or a directory holds a parquet summary file
    * (inference would read it first) — or a path cannot be listed. */
  def dataFiles(spark: SparkSession, paths: Seq[Path]): Option[Seq[Path]] = {
    def name(p: Path) = p.getFileName.toString
    def summary(p: Path) =
      name(p).startsWith("_metadata") || name(p).startsWith("_common_metadata")
    def listed(p: Path) = !name(p).startsWith(".") &&
      !(name(p).startsWith("_") && !name(p).contains("=")) &&
      !name(p).endsWith("._COPYING_")
    def files(p: Path): Seq[Path] =
      if (!Files.isDirectory(p)) Seq(p)
      else {
        val s = Files.list(p)
        try s.toArray(new Array[Path](_)).toSeq finally s.close()
      }.filter(c => listed(c) || summary(c)).flatMap(files)
    if (spark.conf.get("spark.sql.parquet.mergeSchema") == "true") None
    else scala.util.Try(paths.flatMap(files)).toOption
      .filterNot(_.exists(summary)).map(_.sortBy(_.toString))
  }

  /** The data schema Spark's non-merging inference gives a scan of `paths`,
    * without its job: the Spark schema in the footer of the first of
    * [[dataFiles]] — the file inference reads. None, so the caller infers
    * as before, when [[dataFiles]] is None, there is no data file, or that
    * footer has no Spark schema. */
  def inferredSchema(spark: SparkSession, paths: Seq[Path]): Option[StructType] =
    dataFiles(spark, paths).flatMap(_.headOption)
      .flatMap(f => sparkSchema(spark, new org.apache.hadoop.fs.Path(f.toUri)))

  /** The Spark schema in `file`'s footer, reading the footer alone
    * without its row groups (opening a ParquetFileReader costs ~15x more).
    * None when the footer lacks the key (a file from another writer), or
    * the file is missing, corrupt or not parquet, or holds a legacy schema
    * string: the caller then takes Spark's inference, which fails, or
    * copes, exactly as an inferred read always did. */
  def sparkSchema(spark: SparkSession, file: org.apache.hadoop.fs.Path)
      : Option[StructType] =
    scala.util.Try {
      Option(footer(spark.sparkContext.hadoopConfiguration, file,
          skipRowGroups = true)
        .getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
    }.toOption.flatten

  /** `file`'s footer, read alone, on the driver; `skipRowGroups` leaves
    * out the row groups' metadata (`SKIP_ROW_GROUPS`), which a schema
    * read does not need. */
  def footer(conf: Configuration, file: org.apache.hadoop.fs.Path,
      skipRowGroups: Boolean): ParquetMetadata = {
    val options = HadoopReadOptions.builder(conf, file)
    if (skipRowGroups) options.withMetadataFilter(SKIP_ROW_GROUPS)
    val in = HadoopInputFile.fromPath(file, conf)
    val stream = in.newStream()
    try ParquetFileReader.readFooter(in, options.build(), stream)
    finally stream.close()
  }
}
