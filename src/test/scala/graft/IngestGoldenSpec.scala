package graft

import graft.features.GoldenParity
import graft.ingest.Ingest
import graft.schema.GreenTaxi
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Golden round-trip for the ingest path: reconstruct the raw CSV from the
  * reference's committed 01.parquet (timestamps back to naive
  * America/New_York local strings, booleans to Y/N, nulls to empty
  * fields), run the full Ingest pipeline over it, and require exact
  * value-level equality with 01.parquet — 49,647 real rows through header
  * validation, row normalization, typed parse, and timezone attribution.
  * (The original CSV is unreachable offline; equality of parsed VALUES is
  * the invariant, independent of source formatting quirks.) */
class IngestGoldenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("reconstructed-CSV round-trip equals 01.parquet on all rows") {
    val golden = GoldenParity.reference(spark, "01.parquet")

    val fieldToString = GreenTaxi.Columns.zip(GreenTaxi.ColumnTypes).map {
      case (n, BooleanType) =>
        when(col(n), "Y").when(!col(n), "N").otherwise(lit(null)).as(n)
      case (n, TimestampType) =>
        date_format(from_utc_timestamp(col(n), GreenTaxi.SourceTimeZone),
          GreenTaxi.TimestampFormat).as(n)
      case (n, _) => col(n).cast(StringType).as(n)
    }
    val lines = golden.select(fieldToString: _*)
      .select(concat_ws(",",
        GreenTaxi.Columns.map(n => coalesce(col(n), lit(""))): _*).as("value"))

    val dir = Files.createTempDirectory("taxi_golden")
    val textDir = s"$dir/lines"
    lines.coalesce(1).write.text(textDir)
    val part = Files.list(Paths.get(textDir)).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    val csv = s"$dir/raw.csv"
    Files.writeString(Paths.get(csv), GreenTaxi.CsvHeader.mkString(",") + "\n")
    Files.write(Paths.get(csv), Files.readAllBytes(part),
      java.nio.file.StandardOpenOption.APPEND)

    val ingested = Ingest.ingest(spark, csv)
    assert(ingested.count() === 49647L)
    assert(ingested.schema === GreenTaxi.Schema)
    assert(ingested.exceptAll(golden).count() === 0L)
    assert(golden.exceptAll(ingested).count() === 0L)
  }
}
