package graft

import graft.ingest.Ingest
import graft.schema.GreenTaxi
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ingest (S1–S7) behavior on the synthetic edge-case CSV prescribed by
  * FIXTURES.md §1a: blank line after header, >20-field row, Y/N/empty
  * boolean, empty Ehail_fee/Trip_type, a binary-unrepresentable longitude,
  * and hard failures on bad header / short rows. */
class IngestSpec extends AnyFunSuite {
  import IngestSpec._
  private lazy val spark = TestSpark.spark

  test("parses a valid file with blank lines and trailing-field truncation") {
    val path = writeCsv(Seq(header, "", "   ", rowA, rowExtra))
    val df = Ingest.ingest(spark, path)
    assert(df.count() === 2)
    assert(df.schema === GreenTaxi.Schema)

    val a = df.filter(col("VendorID") === 2).head()
    // exact decimal survives (01.py:94-103: -73.952407836914062 is not
    // representable as a binary double; the decimal path must keep it)
    assert(a.getDecimal(5).toPlainString === "-73.952407836914062")
    assert(a.getBoolean(3) === false)   // N → false
    assert(a.isNullAt(16))              // empty Ehail_fee → null
    assert(a.isNullAt(19))              // empty Trip_type → null

    val b = df.filter(col("VendorID") === 1).head()
    assert(b.getBoolean(3) === true)    // Y → true
    assert(b.getShort(19) === 1.toShort)
  }

  test("naive timestamps are attributed to America/New_York (UTC instant +4h in Sep)") {
    val path = writeCsv(Seq(header, rowA))
    val df = Ingest.ingest(spark, path)
    // 2013-09-01 00:02:00 EDT = 2013-09-01 04:02:00 UTC
    val utc = df.select(date_format(col("lpep_pickup_datetime"),
      "yyyy-MM-dd HH:mm:ss").as("s")).head().getString(0)
    assert(utc === "2013-09-01 04:02:00")
  }

  test("rejects a wrong header") {
    val path = writeCsv(Seq("foo,bar", rowA))
    assertThrows[Ingest.InvalidHeaderException] { Ingest.ingest(spark, path) }
  }

  test("rejects rows with fewer than 20 fields in strict mode") {
    val path = writeCsv(Seq(header, rowA, rowShort))
    assertThrows[Ingest.InvalidDataException] { Ingest.ingest(spark, path) }
  }

  test("rejects invalid boolean tokens in strict mode") {
    val bad = rowA.replace(",N,", ",X,")
    val path = writeCsv(Seq(header, bad))
    assertThrows[Ingest.InvalidDataException] { Ingest.ingest(spark, path) }
  }

  test("withIngested lends a frame equal to the lazy ingest frame") {
    val path = writeCsv(Seq(header, "", rowA, rowExtra))
    val lazyDf = Ingest.ingest(spark, path)
    Ingest.withIngested(spark, path) { (df, counts) =>
      assert(df.schema === GreenTaxi.Schema)
      assert(counts === Ingest.Counts(rows = 2, badRows = 0, badFlags = 0, blankLines = 1,
        headerRows = 1))
      assert(df.exceptAll(lazyDf).count() === 0L)
      assert(lazyDf.exceptAll(df).count() === 0L)
    }
  }

  test("withIngested rejects a short row before any output exists") {
    val path = writeCsv(Seq(header, rowA, rowShort))
    val out = Files.createTempDirectory("taxi_loan_bad").toString + "/out"
    val e = intercept[Ingest.InvalidDataException] {
      Ingest.withIngested(spark, path) { (df, _) => Ingest.writeParquet(df, out) }
    }
    assert(e.counts === Ingest.Counts(rows = 2, badRows = 1, badFlags = 0, blankLines = 0,
      headerRows = 1))
    assert(!new java.io.File(out).exists(), "no output may be written for a rejected file")
  }

  test("round-trips through parquet with the exact declared schema") {
    val path = writeCsv(Seq(header, rowA, rowExtra))
    val out = Files.createTempDirectory("taxi_pq").toString + "/out"
    Ingest.writeParquet(Ingest.ingest(spark, path), out, singleFile = true)
    val back = spark.read.parquet(out)
    assert(back.schema === GreenTaxi.Schema)
    assert(back.count() === 2)
  }

  test("ingests over HTTP: streamed fetch to local file, then normal pipeline") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val body = Seq(header, rowA, rowExtra).mkString("\n").getBytes("UTF-8")
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/trips.csv", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.sendResponseHeaders(200, body.length.toLong)
        try ex.getResponseBody.write(body) finally ex.close()
      }
    })
    server.createContext("/missing.csv", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.sendResponseHeaders(404, -1); ex.close()
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val df = Ingest.ingestUrl(spark, s"http://127.0.0.1:$port/trips.csv")
      assert(df.count() === 2)
      assert(df.schema === GreenTaxi.Schema)
      intercept[java.io.IOException] {
        Ingest.ingestUrl(spark, s"http://127.0.0.1:$port/missing.csv")
      }
    } finally server.stop(0)
  }

  test("ingestAny dispatches by scheme like smart-open") {
    // bare local path and file: URI both route to the Hadoop-FS reader
    val p = writeCsv(Seq(header, rowA))
    assert(Ingest.ingestAny(spark, p).count() === 1)
    assert(Ingest.ingestAny(spark, "file:" + p).count() === 1)
    // URI-illegal local paths (spaces) must still dispatch as plain paths
    val dirWithSpace = Files.createTempDirectory("graft spaced")
    val spaced = dirWithSpace.resolve("in put.csv")
    Files.copy(java.nio.file.Paths.get(p), spaced)
    assert(Ingest.ingestAny(spark, spaced.toString).count() === 1)
    // s3:// is rewritten to the s3a connector scheme (case-insensitively,
    // per RFC 3986); in this sandbox the connector jars are absent, so
    // Hadoop must fail fast naming the scheme (environment gap, not a
    // silent wrong-path read)
    for (u <- Seq("s3://bucket/key.csv", "S3://bucket/key.csv")) {
      val e = intercept[Exception] { Ingest.ingestAny(spark, u).count() }
      assert(e.getMessage != null && e.getMessage.contains("s3a"),
        s"expected an s3a-naming failure for $u, got: ${e.getMessage}")
    }
  }

  test("ingestAny reads through a NON-file Hadoop scheme (the any-Hadoop-FS claim)") {
    // graftfs:// is a loopback FileSystem registered only for this test —
    // the read must traverse the foreign scheme's dispatch, globbing and
    // open paths end-to-end, not fall back to file:
    val conf = spark.sparkContext.hadoopConfiguration
    val p = writeCsv(Seq(header, rowA, rowExtra))
    conf.set("fs.graftfs.impl", classOf[LoopbackFs].getName)
    conf.setBoolean("fs.graftfs.impl.disable.cache", true)
    try {
      val viaScheme = Ingest.ingestAny(spark, "graftfs://" + p)
      val viaFile = Ingest.ingestAny(spark, p)
      assert(viaScheme.count() === 2)
      assert(viaScheme.exceptAll(viaFile).isEmpty &&
        viaFile.exceptAll(viaScheme).isEmpty,
        "foreign-scheme read differs from the file: read of the same bytes")
    } finally {
      conf.unset("fs.graftfs.impl")
      conf.unset("fs.graftfs.impl.disable.cache")
    }
  }

  test("s3:// rewrite hands a REGISTERED s3a connector real bytes") {
    // With a connector present (here: an s3a-registered loopback), the
    // smart-open-parity rewrite must produce a working read — the
    // companion case to the fail-fast assertion above.
    val conf = spark.sparkContext.hadoopConfiguration
    val p = writeCsv(Seq(header, rowA))
    conf.set("fs.s3a.impl", classOf[FakeS3aFs].getName)
    conf.setBoolean("fs.s3a.impl.disable.cache", true)
    try {
      assert(Ingest.ingestAny(spark, "s3://testbucket" + p).count() === 1)
    } finally {
      conf.unset("fs.s3a.impl")
      conf.unset("fs.s3a.impl.disable.cache")
    }
  }

  /** A directory holding `parts` as CSV files, plus a `_SUCCESS` marker and
    * a `.`-named CSV that is not one, both skipped by the text reader. */
  private def csvDir(parts: Seq[String]*): String = {
    val dir = Files.createTempDirectory("taxi_parts")
    parts.zipWithIndex.foreach { case (lines, i) =>
      Files.writeString(dir.resolve(f"part-$i%05d.csv"), lines.mkString("\n") + "\n")
    }
    Files.writeString(dir.resolve("_SUCCESS"), "")
    Files.writeString(dir.resolve(".notes.csv"), "not csv")
    dir.toString
  }

  test("a directory of CSV parts and a glob over them ingest like the single file") {
    val single = Ingest.ingest(spark, writeCsv(Seq(header, rowA, rowExtra)))
    val dir = csvDir(Seq(header, rowA), Seq(header, "", rowExtra))
    for (path <- Seq(dir, s"$dir/*.csv")) {
      val df = Ingest.ingest(spark, path)
      assert(df.schema === GreenTaxi.Schema, path)
      assert(df.count() === 2L, path)
      assert(df.exceptAll(single).isEmpty && single.exceptAll(df).isEmpty, path)
    }
  }

  test("a part with a bad header raises InvalidHeaderException and leaves no output") {
    val dir = csvDir(Seq(header, rowA), Seq("foo,bar", rowExtra))
    for (path <- Seq(dir, s"$dir/*.csv")) {
      val out = Files.createTempDirectory("taxi_parts_bad").toString + "/out"
      intercept[Ingest.InvalidHeaderException] {
        Ingest.withIngested(spark, path) { (df, _) => Ingest.writeParquet(df, out) }
      }
      assert(!new java.io.File(out).exists(), s"$path: no output may be written")
    }
  }

  test("a path that matches no input file raises FileNotFoundException") {
    val dir = csvDir()
    for (path <- Seq(dir, s"$dir/*.csv", s"$dir/absent.csv"))
      intercept[java.io.FileNotFoundException](Ingest.ingest(spark, path))
  }
}

/** Hand-written CSV rows shared by the ingest and pipeline specs. */
object IngestSpec {
  val header = GreenTaxi.CsvHeader.mkString(",")
  // 20 fields: vendor, pickup, dropoff, flag, rate, plon, plat, dlon, dlat,
  // pcount, dist, fare, extra, mta, tip, tolls, ehail, total, ptype, ttype
  val rowA =
    "2,2013-09-01 00:02:00,2013-09-01 00:54:51,N,1,-73.952407836914062,40.810726165771484,-73.924140930175781,40.743766784667969,1,7.06,28.50,0.50,0.50,0.00,0.00,,29.50,2,"
  val rowExtra = // 22 fields: two trailing empties must be dropped
    "1,2013-09-01 12:00:00,2013-09-01 12:30:00,Y,1,-73.90,40.75,-73.91,40.76,2,3.10,12.00,0.00,0.50,2.00,0.00,,14.50,1,1,,"
  val rowShort = "2,2013-09-01 05:00:00,2013-09-01 05:10:00,N,1"

  def writeCsv(lines: Seq[String]): String = {
    val f = Files.createTempFile("taxi", ".csv")
    Files.writeString(f, lines.mkString("\n") + "\n")
    f.toString
  }
}
