package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `Tables.parquet` resolves a parquet input in-process: the schema a
  * plain parquet read infers, from the same footer, without the Spark job
  * that read's inference runs. Fixture-free: the testdata tables plus
  * small frames written here. */
class ParquetResolverSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDirs = Seq(TestSpark.sfDir("0.001"), TestSpark.sfDir("0.01"))

  private def tableFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq

  test("preTouch on a cleared memo runs no Spark job") {
    val sc = spark.sparkContext
    val key = "graft.spec.resolver"
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(key) != null).foreach(p =>
          jobs.add(String.valueOf(p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "on")
    try {
      Tables.clear()
      Tables.preTouch(spark, sfDirs.head)
      // listener events arrive in order: once the sentinel is seen, every
      // job preTouch started has been seen too
      sc.setJobDescription("sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.asScala.toSeq === Seq("sentinel"))
    } finally {
      sc.setLocalProperty(key, null)
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
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
    val path = s"${sfDirs.head}/lineitem.parquet"
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.where(col("l_quantity") > 10).select("l_orderkey").queryExecution.executedPlan
        .toString.replaceAll("#\\d+", "#")
    assert(plan(Tables.parquet(spark, path)) === plan(spark.read.parquet(path)))
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
