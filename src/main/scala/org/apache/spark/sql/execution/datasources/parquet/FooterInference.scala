package org.apache.spark.sql.execution.datasources.parquet

import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils, HadoopFsRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.ThreadUtils

/** Spark's parquet schema inference with the footer reads supplied by
  * the caller (`graft.tables.FooterSchemas` memoizes them), so a read
  * resolves its schema on the driver instead of in a Spark job. It lives
  * in Spark's parquet package for the package-private helpers it reuses.
  *
  * What a read answers is what `spark.read.options(o).parquet(paths)`
  * answers (Spark 4.1's `ParquetUtils.inferSchema`, `ParquetFileFormat.
  * mergeSchemasInParallel` and `DataSource.resolveRelation`):
  *  - the files come from Spark's own file index for the read, so a sink
  *    dir's `_spark_metadata` log decides which files count, globs
  *    expand and `k=v` dirs give partition columns;
  *  - data files are taken in path order; a mergeSchema read unions
  *    every footer's schema with `StructType.merge`, a plain read takes
  *    the first file's;
  *  - each footer converts with the session's parquet settings;
  *  - the data schema is made nullable, except over a sink dir's log.
  * Summary files, `ignoreCorruptFiles` and a read with no data file go
  * to Spark's own inference, which also raises Spark's own errors. */
object FooterInference {

  /** One file's footer facts: the Spark schema inference reads from it,
    * and its row count. */
  final case class FooterFacts(schema: StructType, rows: Long)

  /** The session settings a footer's converted schema depends on. */
  final case class Converter(
      binaryAsString: Boolean, int96AsTimestamp: Boolean, inferTimestampNtz: Boolean,
      nanosAsLong: Boolean, respectUnknownTypes: Boolean) {
    private[parquet] def toSpark = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = binaryAsString,
      assumeInt96IsTimestamp = int96AsTimestamp,
      inferTimestampNTZ = inferTimestampNtz,
      nanosAsLong = nanosAsLong,
      respectUnknownTypeAnnotation = respectUnknownTypes)
  }

  def converterOf(spark: SparkSession): Converter = {
    val c = castToImpl(spark).sessionState.conf
    Converter(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong,
      c.parquetReaderRespectUnknownTypeAnnotation)
  }

  def hadoopConf(spark: SparkSession, options: Map[String, String]): Configuration =
    castToImpl(spark).sessionState.newHadoopConfWithOptions(options)

  /** Read the footers of `files` (up to 8 at a time, as Spark does). */
  def readFooters(conf: Configuration, files: Seq[FileStatus], c: Converter): Seq[FooterFacts] = {
    def one(f: FileStatus): FooterFacts =
      try Using.resource(ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))) { r =>
        FooterFacts(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, r.getFooter), c.toSpark),
          r.getRecordCount)
      } catch {
        case e: RuntimeException => throw QueryExecutionErrors.cannotReadFooterForFileError(f.getPath, e)
      }
    if (files.size <= 1) files.map(one) else ThreadUtils.parmap(files, "footer-schemas", 8)(one)
  }

  /** `spark.read.options(options).parquet(paths: _*)`, its data schema
    * taken from `footerSchemas` of the files inference would touch (in
    * path order) instead of from a Spark job. */
  def read(spark: SparkSession, paths: Seq[String], options: Map[String, String])(
      footerSchemas: (Seq[FileStatus], Configuration, Converter) => Seq[StructType]): DataFrame = {
    val session = castToImpl(spark)
    val conf = session.sessionState.conf
    // DataFrameReader.loadV1Source: a single path travels as the option.
    val (dsPaths, dsOptions) =
      if (paths.size == 1 && !conf.legacyPathOptionBehavior) (Nil, options + ("path" -> paths.head))
      else (paths, options)
    // An empty given schema builds Spark's relation, file index included,
    // without inferring anything; the data schema is filled in below.
    val relation = DataSource(session, className = "parquet", paths = dsPaths,
      userSpecifiedSchema = Some(new StructType()), options = dsOptions)
      .resolveRelation().asInstanceOf[HadoopFsRelation]
    def sparks = spark.read.options(options).parquet(paths: _*)
    val files = relation.location match {
      case index: PartitioningAwareFileIndex => index.allFiles().sortBy(_.getPath.toString)
      case _ => return sparks
    }
    val data = files.filterNot(f => isSummary(f.getPath.getName))
    val popts = new ParquetOptions(dsOptions, conf)
    if (data.isEmpty || data.size < files.size || popts.ignoreCorruptFiles) return sparks
    val touched = if (popts.mergeSchema) data else data.take(1)
    val merged = footerSchemas(touched, hadoopConf(spark, dsOptions), converterOf(spark))
      .distinct.reduce(mergeSchemas(conf))
    val dataSchema = relation.location match {
      case _: MetadataLogFileIndex => merged
      case _ => merged.asNullable
    }
    SchemaUtils.checkSchemaColumnNameDuplication(dataSchema, conf.caseSensitiveAnalysis)
    DataSourceUtils.verifySchema(relation.fileFormat, dataSchema)
    session.baseRelationToDataFrame(relation.copy(dataSchema = dataSchema)(session))
  }

  private def isSummary(name: String): Boolean =
    name == ParquetFileWriter.PARQUET_METADATA_FILE || name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE

  private def mergeSchemas(conf: SQLConf)(left: StructType, right: StructType): StructType =
    try left.merge(right, conf.caseSensitiveAnalysis)
    catch { case e: SparkException => throw QueryExecutionErrors.failedMergingSchemaError(left, right, e) }
}
