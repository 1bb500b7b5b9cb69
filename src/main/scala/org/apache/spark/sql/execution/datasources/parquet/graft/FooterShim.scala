package org.apache.spark.sql.execution.datasources.parquet.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils, FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.{ThreadUtils, Utils}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** A parquet read of a path, resolved in-process with one listing.
  *
  * A plain `spark.read.parquet(path)` globs and lists the path, then infers
  * the schema: with `mergeSchema` off, `ParquetUtils.inferSchema` picks one
  * footer (`_common_metadata`, else `_metadata`, else the first data file by
  * path) and reads it in a one-task Spark job (`SchemaMergeUtils`). This shim
  * globs and lists the path as that read does, picks the same footer (the
  * choice is mirrored here because `ParquetUtils.splitFiles` is private),
  * converts it as `ParquetFileFormat.readSchema` does under the session's
  * conf, with no job, and builds the relation `DataSource.resolveRelation`
  * builds over that same file index: same options, same nullable schema.
  * `nanosAsLong` reads TIMESTAMP(NANOS) columns as raw longs in this one
  * conversion, as `spark.sql.legacy.parquet.nanosAsLong` would, without
  * touching the session's conf; the scan reads such a column into the
  * relation's long field with the conf off. Compiled into Spark's parquet
  * package, like `org.apache.spark.sql.graft.DatasetShim`, because those
  * helpers are internal API. */
object FooterShim {
  /** [[relation]] of each (path, nanosAsLong), in order, resolved at once on
    * a pool of at most one thread per core. The pool threads carry the
    * caller's Spark local properties and active session; the failure of
    * the first failing path, in order, is rethrown as raised. */
  def relations(spark: SparkSession, paths: Seq[(String, Boolean)]): Seq[DataFrame] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val sc = session.sparkContext
    val props = sc.getLocalProperties
    val threads = math.min(paths.size, Runtime.getRuntime.availableProcessors)
    val pool = ThreadUtils.newDaemonFixedThreadPool(math.max(threads, 1), "graft-resolve")
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val resolving = paths.map { case (path, nanosAsLong) => Future {
        sc.setLocalProperties(Utils.cloneProperties(props))
        session.withActive(relation(session, path, nanosAsLong))
      } }
      resolving.map(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
  }

  /** The frame a plain parquet read of `path` gives: a parquet file, or a
    * flat directory of them. A partitioned directory or a streaming sink's
    * output is rejected; a missing path raises the read's
    * `[PATH_NOT_FOUND]`. */
  def relation(spark: SparkSession, path: String, nanosAsLong: Boolean): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val (index, dataSchema) = resolve(session, path, nanosAsLong)
    val format = new ParquetFileFormat
    SchemaUtils.checkSchemaColumnNameDuplication(dataSchema, session.sessionState.conf.resolver)
    DataSourceUtils.verifySchema(format, dataSchema)
    session.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, dataSchema,
      None, format, CaseInsensitiveMap(readOptions(path)))(session))
  }

  /** The schema [[relation]] gives `path`. */
  def schema(spark: SparkSession, path: String, nanosAsLong: Boolean): StructType =
    resolve(spark.asInstanceOf[classic.SparkSession], path, nanosAsLong)._2

  /** What `DataFrameReader` passes the data source for one path. */
  private def readOptions(path: String): Map[String, String] = Map("path" -> path)

  private def resolve(session: classic.SparkSession, path: String,
      nanosAsLong: Boolean): (InMemoryFileIndex, StructType) = {
    val conf = session.sessionState.conf
    require(!new ParquetOptions(Map.empty[String, String], conf).mergeSchema,
      s"reading one footer of $path cannot merge schemas: spark.sql.parquet.mergeSchema is on")
    val hadoopConf = session.sessionState.newHadoopConf()
    require(!FileStreamSink.hasMetadata(Seq(path), hadoopConf, conf),
      s"$path is a streaming sink's output; the footer resolver reads plain parquet")
    // raises the [PATH_NOT_FOUND] AnalysisException a read raises
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    val index = new InMemoryFileIndex(session, roots, readOptions(path), None,
      FileStatusCache.getOrCreate(session))
    require(index.partitionSchema.isEmpty,
      s"$path is a partitioned directory (${index.partitionSchema.fieldNames.mkString(", ")}); " +
        "the footer resolver reads a parquet file or a flat directory of them")
    val byPath = index.allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    val footer = summaries.flatMap(n => byPath.find(_.getPath.getName == n)).headOption
      .orElse(byPath.find(f => !summaries.contains(f.getPath.getName)))
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = nanosAsLong || conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val schema = footer.flatMap(readFooter(hadoopConf, _, conf.ignoreCorruptFiles))
      .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
    (index, schema.asNullable) // as the read's relation holds it
  }

  /** `ParquetFileFormat.readParquetFootersInParallel` for one file, on the
    * calling thread instead of a pool of its own. */
  private def readFooter(hadoopConf: Configuration, file: FileStatus,
      ignoreCorruptFiles: Boolean): Option[Footer] =
    try Some(new Footer(file.getPath,
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS)))
    catch {
      case _: RuntimeException if ignoreCorruptFiles => None
      case e: RuntimeException => throw QueryExecutionErrors.cannotReadFooterForFileError(file.getPath, e)
    }
}
