package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `file:` FileSystem that counts its list and glob calls per qualified
  * path. The global storage statistics of the local FileSystem count
  * neither, so the listing test registers this in their place. */
class CountingLocalFs extends LocalFileSystem {
  private def count(p: Path): Unit =
    CountingLocalFs.calls.computeIfAbsent(makeQualified(p).toString, _ => new AtomicInteger)
      .incrementAndGet()
  override def listStatus(p: Path): Array[FileStatus] = { count(p); super.listStatus(p) }
  override def globStatus(p: Path): Array[FileStatus] = { count(p); super.globStatus(p) }
  override def globStatus(p: Path, f: PathFilter): Array[FileStatus] = {
    count(p); super.globStatus(p, f)
  }
}

object CountingLocalFs {
  val calls = new ConcurrentHashMap[String, AtomicInteger]()
}

/** `Tables.parquet` resolves a parquet input in-process: the relation a
  * plain parquet read builds, from one listing of the path and the footer
  * that read's inference picks, without the Spark job the inference runs.
  * `Tables.preTouch` resolves a session's tables at once on a pool, and
  * no resolution changes the session's conf. Fixture-free: the testdata
  * tables plus small files written here. */
class ParquetResolverSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDirs = Seq(TestSpark.sfDir("0.001"), TestSpark.sfDir("0.01"))
  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def tableFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq

  private def tableNames(dir: String): Seq[String] =
    tableFiles(dir).map(p => new java.io.File(p).getName.stripSuffix(".parquet"))

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.replaceAll("#\\d+", "#")

  test("preTouch on a cleared memo runs no Spark job") {
    // every job started between the two sentinels counts, whatever thread
    // started it and whatever local properties it carries
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.jobId -> String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.job.description")).orNull))
    }
    def sentinel(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      sentinel("graft.spec.start")
      Tables.clear()
      Tables.preTouch(spark, sfDirs.head)
      sentinel("graft.spec.end")
      // listener events arrive in order: once the end sentinel is seen,
      // every job started before it has been seen too
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def idOf(name: String) = jobs.asScala.collectFirst { case (id, `name`) => id }
      while (idOf("graft.spec.end").isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      val (start, end) = (idOf("graft.spec.start").get, idOf("graft.spec.end").get)
      assert(jobs.asScala.toSeq.filter { case (id, _) => id > start && id < end } === Seq.empty)
    } finally sc.removeSparkListener(listener)
  }

  test("preTouch lists each table path once") {
    val dir = sfDirs.head
    CountingLocalFs.calls.clear()
    spark.conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      Tables.clear()
      Tables.preTouch(spark, dir)
    } finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
    val calls = CountingLocalFs.calls.asScala.map { case (p, n) => p -> n.get }.toMap
    val expected = tableFiles(dir).map(p => s"file:$p" -> 1).toMap
    assert(expected.size === 10)
    assert(calls === expected)
  }

  test("concurrent resolution equals serial") {
    val dir = sfDirs.head
    val names = tableNames(dir).filterNot(_ == "events")
    def resolveAll(): Seq[(String, DataFrame)] =
      names.map(n => n -> Tables.table(spark, dir, n)) ++ Seq(
        "events" -> Tables.events(spark, dir),
        "events(nanos)" -> Tables.events(spark, TestSpark.nanosEventsDir))
    def shape(dfs: Seq[(String, DataFrame)]): Map[String, (String, String)] =
      dfs.map { case (n, df) => n -> (df.schema.json, plan(df)) }.toMap
    Tables.clear()
    val serial = shape(resolveAll())
    assert(serial.size === 11)

    Tables.clear()
    @volatile var running = true
    val before = spark.conf.getOption(nanosKey)
    val confSeen = new ConcurrentLinkedQueue[Option[String]]()
    val watcher = new Thread(() =>
      while (running) {
        Some(spark.conf.getOption(nanosKey)).filter(_ != before).foreach(confSeen.add)
        Thread.sleep(1)
      })
    watcher.start()
    val results = new ConcurrentLinkedQueue[Map[String, (String, String)]]()
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        if (i == 0) Tables.preTouch(spark, dir)
        val all = resolveAll()
        val k = i % all.size
        results.add(shape(all.drop(k) ++ all.take(k)))
      })
    }
    try {
      threads.foreach(_.start())
      threads.foreach(_.join())
    } finally {
      running = false
      watcher.join()
    }
    assert(results.size === 8)
    results.asScala.foreach(r => assert(r === serial))
    assert(confSeen.isEmpty, confSeen.asScala.toSet)
  }

  test("TIMESTAMP(NANOS) events read back as the source rows, conf untouched") {
    val dir = TestSpark.nanosEventsDir
    val before = spark.conf.getOption(nanosKey)
    assert(Tables.parquetSchema(spark, s"$dir/events.parquet", nanosAsLong = true)("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    val e = intercept[AnalysisException](Tables.parquetSchema(spark, s"$dir/events.parquet"))
    assert(e.getCondition === "PARQUET_TYPE_ILLEGAL", e.getMessage)
    val nanos = Tables.events(spark, dir)
    val micros = Tables.events(spark, sfDirs.head)
    assert(nanos.schema === micros.schema)
    assert(nanos.count() === 1000L)
    assert(nanos.exceptAll(micros).isEmpty && micros.exceptAll(nanos).isEmpty)
    assert(spark.conf.getOption(nanosKey) === before)
  }

  test("every testdata table resolves to the schema a plain read infers") {
    for (dir <- sfDirs; path <- tableFiles(dir)) {
      val plain = spark.read.parquet(path).schema
      val resolved = Tables.parquetSchema(spark, path)
      assert(resolved === plain, path) // StructField equality includes metadata
      assert(resolved.json === plain.json, path)
    }
  }

  test("the resolved frame plans the scan a plain read plans") {
    // every testdata table: the full scan and a filtered projection
    for (dir <- sfDirs; path <- tableFiles(dir)) {
      val (resolved, plain) = (Tables.parquet(spark, path), spark.read.parquet(path))
      val c = col(plain.columns.head)
      assert(plan(resolved) === plan(plain), path)
      assert(plan(resolved.where(c.isNotNull).select(c)) === plan(plain.where(c.isNotNull).select(c)),
        path)
    }
  }

  test("a written directory with _SUCCESS and .crc files resolves to its data file's schema") {
    val dir = TestSpark.tempDir("resolver_flat") + "/t"
    spark.range(10).select(col("id"), col("id").cast("string").as("s"))
      .coalesce(1).write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    val data = names.filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(data.size === 1, names)
    val resolved = Tables.parquetSchema(spark, dir)
    assert(resolved === spark.read.parquet(s"$dir/${data.head}").schema)
    assert(resolved === spark.read.parquet(dir).schema)
    assert(Tables.parquet(spark, dir).count() === 10L)
  }

  test("a missing path raises the read's [PATH_NOT_FOUND]") {
    val missing = TestSpark.tempDir("resolver_missing") + "/absent.parquet"
    val plain = intercept[AnalysisException](spark.read.parquet(missing))
    val resolved = intercept[AnalysisException](Tables.parquet(spark, missing))
    assert(plain.getCondition === "PATH_NOT_FOUND")
    assert(resolved.getCondition === "PATH_NOT_FOUND")
    assert(resolved.getMessage === plain.getMessage)
  }

  test("a partitioned directory is rejected with the resolver's message") {
    val dir = TestSpark.tempDir("resolver_partitioned") + "/t"
    spark.range(4).select(col("id"), (col("id") % 2).as("k")).write.partitionBy("k").parquet(dir)
    val e = intercept[IllegalArgumentException](Tables.parquetSchema(spark, dir))
    assert(e.getMessage.contains("is a partitioned directory (k)"), e.getMessage)
  }
}
