package graft

import graft.features.Features
import graft.ingest.Ingest
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** End-to-end green-taxi pipeline — the user-facing equivalent of the
  * reference's two entry points (`01.py` ingest, `02.py` features) as one
  * CLI:
  *
  *   runMain graft.GreenTaxiPipeline <raw.csv | http(s)://...csv> <outDir> [--fixed-dow]
  *
  * An http(s) source is streamed to local disk first (`Ingest.fetchToLocal`),
  * matching the reference's smart-open URL invocation (01.py:247-250).
  *
  * Produces `<outDir>/01.parquet` (typed ingest) and `<outDir>/02.parquet`
  * (features), each extracted to a single file like the reference's
  * committed outputs (S15/S17: coalesce(1) + glob-move, 02.py:117-138).
  * `--fixed-dow` selects the corrected day-of-week encoding instead of the
  * reference-bug-compatible one (SURVEY.md §2a S12). The CLI prints the
  * ingest counters as one `metrics` line, for a rejected file too.
  */
object GreenTaxiPipeline {

  /** Spark writes a directory; the reference contract is a single file —
    * glob the one part-file and move it over the target (02.py:138). */
  def extractSingleFile(sparkOutDir: String, target: String): Unit = {
    val dir = Paths.get(sparkOutDir)
    val part = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq match {
        case Seq(one) => one
        case other => sys.error(s"expected exactly one part file, got $other")
      }
    Files.move(part, Paths.get(target), StandardCopyOption.REPLACE_EXISTING)
  }

  final case class Result(out01: Path, out02: Path, counts: Ingest.Counts)

  /** coalesce(1) write of `df` to `<outDir>/<name>.parquet` through the
    * staging dir `<outDir>/_<name>_dir`, which is deleted afterwards, on
    * failure too. */
  private def writeSingleFile(spark: SparkSession, df: DataFrame, outDir: String,
      name: String): Path = {
    val staging = s"$outDir/_${name}_dir"
    val target = Paths.get(s"$outDir/$name.parquet")
    try {
      Ingest.writeParquet(df, staging, singleFile = true)
      extractSingleFile(staging, target.toString)
    } finally {
      val p = new org.apache.hadoop.fs.Path(staging)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    target
  }

  /** Validates the whole CSV before any output exists, then writes `01`
    * and `02` from the one materialized typed frame: three Spark jobs, one
    * scan of the raw text. A malformed file throws the typed ingest error
    * and leaves neither output. */
  def run(spark: SparkSession, csvPath: String, outDir: String,
      bugCompatDow: Boolean = true): Result =
    Ingest.withIngested(spark, csvPath) { (typed, counts) =>
      val out01 = writeSingleFile(spark, typed, outDir, "01")
      val out02 = writeSingleFile(spark, Features(typed, bugCompatDow), outDir, "02")
      Result(out01, out02, counts)
    }

  /** The ingest counters as one stdout line. */
  private def metricsLine(rowsWritten: Long, c: Ingest.Counts): String =
    s"metrics rows_written=$rowsWritten bad_rows=${c.badRows} bad_flags=${c.badFlags}"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GreenTaxiPipeline <raw.csv> <outDir> [--fixed-dow]")
    val Array(csvPath, outDir) = args.take(2)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"))
      .appName("green-taxi-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val src =
        if (csvPath.startsWith("http://") || csvPath.startsWith("https://"))
          Ingest.fetchToLocal(csvPath)
        else csvPath
      val r =
        try run(spark, src, outDir, bugCompatDow = !args.contains("--fixed-dow"))
        catch {
          case e: Ingest.InvalidDataException =>
            println(metricsLine(0L, e.counts))
            throw e
        }
      println(metricsLine(r.counts.rows, r.counts))
      println(s"wrote ${r.out01} and ${r.out02}")
    } finally spark.stop()
  }
}
