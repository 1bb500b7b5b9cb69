package org.apache.spark.sql.execution.datasources.parquet.graft

import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions}
import org.apache.spark.sql.types.StructType

/** The schema a parquet read of a path infers, read in-process.
  *
  * With `mergeSchema` off, `ParquetUtils.inferSchema` picks one footer
  * (`_common_metadata`, else `_metadata`, else the first data file by path)
  * and reads it in a one-task Spark job (`SchemaMergeUtils`). This shim
  * globs and lists the path as a read does, picks the same footer (the
  * choice is mirrored here because `ParquetUtils.splitFiles` is private)
  * and converts it with Spark's own `readParquetFootersInParallel` and
  * `readSchema` under the session's conf, with no job. Compiled into
  * Spark's parquet package, like `org.apache.spark.sql.graft.DatasetShim`,
  * because those helpers are internal API. */
object FooterShim {
  def schema(spark: SparkSession, path: String): StructType = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    require(!new ParquetOptions(Map.empty[String, String], conf).mergeSchema,
      s"reading one footer of $path cannot merge schemas: spark.sql.parquet.mergeSchema is on")
    val hadoopConf = session.sessionState.newHadoopConf()
    // raises the [PATH_NOT_FOUND] AnalysisException a read raises
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    val index = new InMemoryFileIndex(session, roots, Map.empty, None)
    require(index.partitionSchema.isEmpty,
      s"$path is a partitioned directory (${index.partitionSchema.fieldNames.mkString(", ")}); " +
        "the footer resolver reads a parquet file or a flat directory of them")
    val byPath = index.allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    val footer = summaries.flatMap(n => byPath.find(_.getPath.getName == n)).headOption
      .orElse(byPath.find(f => !summaries.contains(f.getPath.getName)))
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(hadoopConf, footer.toSeq,
        conf.ignoreCorruptFiles), session)
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
      .asNullable // as the read's relation holds it
  }
}
