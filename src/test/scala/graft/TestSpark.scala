package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (UTC, matching the driver). */
object TestSpark {
  /** Fixture root for the driver-generated parquet tables (overridable
    * for a machine with a different layout — r18 ADVICE: specs were
    * hard-coupling the absolute path). */
  val testdataRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")
  def sfDir(sf: String): String = s"$testdataRoot/sf$sf"

  /** Temp dir that is recursively deleted on JVM exit (plain
    * File.deleteOnExit only handles empty directories). */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try Files.walk(d).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      catch { case _: Throwable => () }
    }))
    d.toString
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A directory holding `events.parquet` with sf0.001's rows and `ts`
    * stored as parquet TIMESTAMP(NANOS) — the encoding older testdata
    * shipped, which Spark cannot write. Each value is the source
    * microsecond times 1000 plus `event_id % 1000` nanoseconds, so
    * `Tables.events`' truncating `div 1000` gives the source rows back. */
  lazy val nanosEventsDir: String = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.functions.{col, expr}
    val schema = MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val rows = graft.Tables.events(spark, sfDir("0.001"))
      .select(col("event_id"), expr("unix_micros(cast(ts as timestamp)) * 1000 + event_id % 1000"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .collect()
    val dir = tempDir("nanos_events")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      Seq(0, 1, 2).filterNot(r.isNullAt).foreach(i => g.append(schema.getFieldName(i), r.getLong(i)))
      Seq(3, 5).filterNot(r.isNullAt).foreach(i => g.append(schema.getFieldName(i), r.getString(i)))
      if (!r.isNullAt(4)) g.append("value", r.getDouble(4))
      writer.write(g)
    } finally writer.close()
    dir
  }
}
