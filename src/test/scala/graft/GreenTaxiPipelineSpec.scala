package graft

import graft.features.Features
import graft.ingest.Ingest
import graft.schema.GreenTaxi
import java.io.File
import java.nio.file.{DirectoryNotEmptyException, Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `GreenTaxiPipeline.run` end to end on IngestSpec's hand-written rows:
  * what a valid run leaves on disk, that `02` is `Features` of `01`, the
  * job budget, one validation task per core with the CSV's row order kept,
  * that a rejected file leaves no output, and that a failed write leaves
  * none either. Every case also checks that the run released what it
  * persisted. */
class GreenTaxiPipelineSpec extends AnyFunSuite {
  import IngestSpec._
  private lazy val spark = TestSpark.spark

  private def outDir(): String =
    Files.createTempDirectory("taxi_pipe").toString + "/out"

  /** Runs `f` and asserts it left the session's persisted RDDs as it found
    * them. */
  private def released[T](f: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.size
    val r = f
    assert(spark.sparkContext.getPersistentRDDs.size === before, "a persisted RDD survived")
    r
  }

  /** Jobs started by `f`, in id order. The listener bus is asynchronous,
    * so a sentinel job after `f` marks the end of `f`'s events. */
  private def jobsOf(f: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == "sentinel"))
          sentinelSeen.countDown()
        else { jobs.add(j); () }
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription("sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "sentinel job never reached the listener")
      jobs.asScala.toSeq.sortBy(_.jobId)
    } finally sc.removeSparkListener(listener)
  }

  test("a valid run leaves exactly 01.parquet and 02.parquet") {
    val out = outDir()
    val r = released(GreenTaxiPipeline.run(spark, writeCsv(Seq(header, "", rowA, rowExtra)), out))
    assert(new File(out).list().toSet === Set("01.parquet", "02.parquet"))
    assert(Files.isRegularFile(r.out01) && Files.isRegularFile(r.out02))
    assert(spark.read.parquet(r.out01.toString).schema === GreenTaxi.Schema)
    assert(r.counts === Ingest.Counts(rows = 2, badRows = 0, badFlags = 0, blankLines = 1,
      headerRows = 1))
  }

  test("02 equals Features of 01 with either day-of-week encoding") {
    val csv = writeCsv(Seq(header, rowA, rowExtra))
    for (bugCompatDow <- Seq(true, false)) {
      val out = outDir()
      released(GreenTaxiPipeline.run(spark, csv, out, bugCompatDow))
      val got = spark.read.parquet(s"$out/02.parquet")
      val want = Features(spark.read.parquet(s"$out/01.parquet"), bugCompatDow)
      assert(got.columns.toSeq === want.columns.toSeq)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"02 differs from Features(01) with bugCompatDow=$bugCompatDow")
    }
  }

  test("a valid run takes at most three Spark jobs") {
    val csv = writeCsv(Seq(header, rowA, rowExtra))
    val n = released(jobsOf { GreenTaxiPipeline.run(spark, csv, outDir()); () }).size
    assert(n <= 3, s"$n jobs")
  }

  test("validation runs one task per core and 01 keeps the CSV's row order") {
    val cores = spark.sparkContext.defaultParallelism
    val rows = 100 * cores
    // pickups one minute apart: monotone in the file
    val fields = rowA.split(",", -1)
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val t0 = LocalDateTime.of(2013, 9, 1, 0, 0)
    val csv = writeCsv(header +: (0 until rows).map { i =>
      fields.updated(1, fmt.format(t0.plusMinutes(i)))
        .updated(2, fmt.format(t0.plusMinutes(i + 30))).mkString(",")
    })
    val out = outDir()
    val jobs = released(jobsOf { GreenTaxiPipeline.run(spark, csv, out); () })
    val validation = jobs.head
    assert(validation.stageInfos.map(_.numTasks).sum === cores,
      s"validation job ran ${validation.stageInfos.map(_.numTasks).sum} tasks on $cores cores")
    val pickups = spark.read.parquet(s"$out/01.parquet").select("lpep_pickup_datetime")
      .collect().map(_.getTimestamp(0).getTime).toSeq
    assert(pickups.size === rows)
    assert(pickups.sliding(2).forall { case Seq(a, b) => a < b }, "01 is not in CSV line order")
  }

  for (failing <- Seq("01", "02"))
    test(s"a failed $failing write surfaces its error and leaves no output of the run") {
      val out = outDir()
      // a non-empty directory at the target makes the final move fail
      val blocker = Files.createDirectories(Paths.get(s"$out/$failing.parquet"))
      Files.writeString(blocker.resolve("keep"), "not the run's")
      val csv = writeCsv(Seq(header, rowA, rowExtra))
      released(intercept[DirectoryNotEmptyException](GreenTaxiPipeline.run(spark, csv, out)))
      assert(new File(out).list().toSet === Set(s"$failing.parquet"),
        s"left behind: ${new File(out).list().mkString(", ")}")
      assert(Files.exists(blocker.resolve("keep")), "deleted a file the run did not write")
    }

  private val rejects = Seq(
    ("a short row", Seq(header, rowA, rowShort), classOf[Ingest.InvalidDataException]),
    ("a bad flag", Seq(header, rowA.replace(",N,", ",X,")), classOf[Ingest.InvalidDataException]),
    ("a bad header", Seq("foo,bar", rowA), classOf[Ingest.InvalidHeaderException]))

  for ((what, lines, expected) <- rejects)
    test(s"$what raises ${expected.getSimpleName} and leaves no output") {
      val out = outDir()
      val csv = writeCsv(lines)
      val e = released(intercept[RuntimeException](GreenTaxiPipeline.run(spark, csv, out)))
      assert(expected.isInstance(e), s"got $e")
      for (f <- Seq("01.parquet", "02.parquet", "_01_dir", "_02_dir"))
        assert(!new File(s"$out/$f").exists(), s"$f left behind")
    }
}
