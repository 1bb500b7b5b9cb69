package graft

import graft.features.Features
import graft.ingest.Ingest
import graft.schema.GreenTaxi
import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** `GreenTaxiPipeline.run` end to end on IngestSpec's hand-written rows:
  * what a valid run leaves on disk, that `02` is `Features` of `01`, the
  * job budget, and that a rejected file leaves no output. Every case also
  * checks that the run released what it persisted. */
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

  /** Jobs started by `f`. The listener bus is asynchronous, so a sentinel
    * job after `f` marks the end of `f`'s events. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == "sentinel"))
          sentinelSeen.countDown()
        else { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription("sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "sentinel job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("a valid run leaves exactly 01.parquet and 02.parquet") {
    val out = outDir()
    val r = released(GreenTaxiPipeline.run(spark, writeCsv(Seq(header, "", rowA, rowExtra)), out))
    assert(new File(out).list().toSet === Set("01.parquet", "02.parquet"))
    assert(Files.isRegularFile(r.out01) && Files.isRegularFile(r.out02))
    assert(spark.read.parquet(r.out01.toString).schema === GreenTaxi.Schema)
    assert(r.counts === Ingest.Counts(rows = 2, badRows = 0, badFlags = 0))
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
    val n = released(jobsOf { GreenTaxiPipeline.run(spark, csv, outDir()); () })
    assert(n <= 3, s"$n jobs")
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
