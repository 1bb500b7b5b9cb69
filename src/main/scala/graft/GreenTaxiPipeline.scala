package graft

import graft.features.Features
import graft.ingest.Ingest
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.SparkContext
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

  private def staging(outDir: String, name: String): String = s"$outDir/_${name}_dir"

  private def deleteStaging(spark: SparkSession, outDir: String, name: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(staging(outDir, name))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** coalesce(1) write of `df` to `<outDir>/<name>.parquet` through the
    * staging dir `<outDir>/_<name>_dir`, which is deleted afterwards, on
    * failure too. */
  private def writeSingleFile(spark: SparkSession, df: DataFrame, outDir: String,
      name: String): Path = {
    val target = Paths.get(s"$outDir/$name.parquet")
    try {
      Ingest.writeParquet(df, staging(outDir, name), singleFile = true)
      extractSingleFile(staging(outDir, name), target.toString)
    } finally deleteStaging(spark, outDir, name)
    target
  }

  /** Waits, at most 30 s, until no task of a job tagged `tag` runs: a
    * cancelled job fails before its tasks have stopped, and a late task
    * could still write into its staging dir. */
  private def awaitTasks(sc: SparkContext, tag: String): Unit = {
    val st = sc.statusTracker
    def running: Boolean = st.getJobIdsForTag(tag).iterator
      .flatMap(st.getJobInfo(_)).flatMap(_.stageIds)
      .flatMap(st.getStageInfo(_)).exists(_.numActiveTasks > 0)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (running && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Validates the whole CSV before any output exists, then writes `01`
    * and `02` from the one materialized typed frame at the same time: three
    * Spark jobs, one scan of the raw text. `02`, the longer write, runs on
    * the calling thread; `01` runs on a thread started here, which inherits
    * the caller's Spark local properties (job group, description, tags), so
    * a caller's `cancelJobGroup` reaches both. The frame is unpersisted
    * after both writes have ended.
    *
    * A malformed file throws the typed ingest error and leaves neither
    * output. If a write fails, the other is cancelled through this run's
    * job tag; once both have ended, everything the run wrote (either
    * target, both staging dirs) is deleted and the first error is rethrown,
    * with the other's error, if any, suppressed in it. */
  def run(spark: SparkSession, csvPath: String, outDir: String,
      bugCompatDow: Boolean = true): Result = {
    val sc = spark.sparkContext
    val tag = s"green-taxi-${java.util.UUID.randomUUID()}"
    sc.addJobTag(tag)
    try Ingest.withIngested(spark, csvPath) { (typed, counts) =>
      val errors = new ConcurrentLinkedQueue[Throwable]
      def fail(e: Throwable): Unit = { errors.add(e); sc.cancelJobsWithTag(tag) }
      def sink(df: => DataFrame, name: String): Option[Path] =
        try Some(writeSingleFile(spark, df, outDir, name))
        catch { case e: Throwable => fail(e); None }
      var out01: Option[Path] = None
      val write01 = new Thread(() => out01 = sink(typed, "01"), "green-taxi-write01")
      write01.start()
      val out02 = sink(Features(typed, bugCompatDow), "02")
      try write01.join()
      catch { case e: InterruptedException => fail(e); write01.join() }
      if (errors.isEmpty) Result(out01.get, out02.get, counts)
      else {
        awaitTasks(sc, tag)
        (out01 ++ out02).foreach(Files.deleteIfExists)
        Seq("01", "02").foreach(deleteStaging(spark, outDir, _))
        val first = errors.poll()
        errors.forEach(first.addSuppressed(_))
        throw first
      }
    } finally sc.removeJobTag(tag)
  }

  /** The ingest counters as one stdout line. */
  private def metricsLine(rowsWritten: Long, c: Ingest.Counts): String =
    s"metrics rows_written=$rowsWritten bad_rows=${c.badRows} bad_flags=${c.badFlags} " +
      s"blank_lines=${c.blankLines} header_rows=${c.headerRows}"

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
