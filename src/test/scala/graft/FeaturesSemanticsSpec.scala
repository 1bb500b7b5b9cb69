package graft

import graft.features.Features
import graft.ingest.Ingest
import graft.schema.GreenTaxi
import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The reference's feature semantics on inputs built in the test, with
  * hand-computed expectations: no fixture file. Covers the JFK box edges
  * (the reference widens the decimal coordinates to double), the
  * day-of-week bug, the 2013-11-03 New York DST hour and a negative
  * duration. */
class FeaturesSemanticsSpec extends AnyFunSuite {
  import IngestSpec._
  private lazy val spark = TestSpark.spark

  /** The reference's flag (02.py:89-95): the decimals are compared with
    * double literals, so Catalyst casts each to double first. */
  private def doubleFlag(pLon: Column, pLat: Column, dLon: Column, dLat: Column): Column = {
    import Features._
    when((pLon.between(JfkLonMin, JfkLonMax) && pLat.between(JfkLatMin, JfkLatMax)) ||
      (dLon.between(JfkLonMin, JfkLonMax) && dLat.between(JfkLatMin, JfkLatMax)), 1).otherwise(0)
  }

  test("the JFK flag equals the double comparison on every scale-15 value near a bound") {
    val radius = 3000
    def around(bound: Double): Seq[JBigDecimal] = {
      val c = new JBigDecimal(bound).setScale(15, RoundingMode.HALF_EVEN)
      (-radius to radius).map(k => c.add(JBigDecimal.valueOf(k.toLong, 15)))
    }
    val lonMid = new JBigDecimal("-73.785000000000000")
    val latMid = new JBigDecimal("40.646000000000000")
    val lons = around(Features.JfkLonMin) ++ around(Features.JfkLonMax)
    val lats = around(Features.JfkLatMin) ++ around(Features.JfkLatMax)
    // each value in each of the four slots, its partner inside the box and
    // the other end of the trip null; then nulls in every slot
    val rows =
      lons.flatMap(v => Seq(Row(v, latMid, null, null), Row(null, null, v, latMid))) ++
      lats.flatMap(v => Seq(Row(lonMid, v, null, null), Row(null, null, lonMid, v))) ++
      Seq(Row(null, null, null, null), Row(null, latMid, lonMid, latMid),
        Row(lonMid, null, lonMid, latMid), Row(lonMid, latMid, null, latMid),
        Row(lonMid, latMid, lonMid, null), Row(lonMid, null, null, latMid))
    val coords = Seq("Pickup_longitude", "Pickup_latitude", "Dropoff_longitude", "Dropoff_latitude")
    val schema = StructType(coords.map(GreenTaxi.Schema(_)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val Seq(pLon, pLat, dLon, dLat) = coords.map(col)
    val got = Features.jfkFlag(pLon, pLat, dLon, dLat)
    val want = doubleFlag(pLon, pLat, dLon, dLat)
    val r = df.agg(count(lit(1)), count_if(got =!= want), sum(want)).head()
    assert(r.getLong(0) === rows.size.toLong)
    assert(r.getLong(1) === 0L, "rows where the decimal flag differs from the double flag")
    // every window straddles its bound: both flag values occur
    val ones = r.getLong(2)
    assert(ones > 0 && ones < rows.size, s"$ones of ${rows.size} rows flagged")
  }

  test("hand-computed rows: day-of-week bug, DST hour, negative duration, JFK box") {
    val f = rowA.split(",", -1)
    def row(pickup: String, dropoff: String, lonLat: Seq[String] = f.slice(5, 9).toSeq) =
      (f.take(1) ++ Seq(pickup, dropoff) ++ f.slice(3, 5) ++ lonLat ++ f.drop(9)).mkString(",")
    val jfk = Seq("-73.780000000000000", "40.645000000000000", "-73.924140930175781",
      "40.743766784667969")
    // (naive New York pickup, dropoff) -> UTC pickup hour, day-of-week
    // columns set (bug encoding, fixed encoding), duration, JFK flag
    val cases = Seq(
      // Friday 22:00 EDT is Saturday 02:00 UTC: the bug sets no column
      (row("2013-09-06 22:00:00", "2013-09-06 22:10:00"), 2, None, Some(6), 600L, 0),
      // Sunday 10:00 EDT is 14:00 UTC; the bug calls Sunday 1, never 0
      (row("2013-09-08 10:00:00", "2013-09-08 10:05:00"), 14, Some(1), Some(0), 300L, 0),
      // the repeated hour takes the earlier (daylight) offset: 05:30 UTC
      (row("2013-11-03 01:30:00", "2013-11-03 01:45:00"), 5, Some(1), Some(0), 900L, 0),
      // 00:50 EDT to 02:10 EST is 80 wall-clock minutes but 140 real ones
      (row("2013-11-03 00:50:00", "2013-11-03 02:10:00"), 4, Some(1), Some(0), 8400L, 0),
      // a dropoff before the pickup passes through as a negative duration
      (row("2013-09-01 12:00:00", "2013-09-01 11:59:00"), 16, Some(1), Some(0), -60L, 0),
      // a pickup inside the JFK box (Monday 08:00 EDT)
      (row("2013-09-02 08:00:00", "2013-09-02 08:40:00", jfk), 12, Some(2), Some(1), 2400L, 1))
    val typed = Ingest.ingest(spark, writeCsv(header +: cases.map(_._1)))
    val pickup = col("lpep_pickup_datetime")
    val fixed = Features.oneHotDows(pickup, bugCompat = false).zipWithIndex
      .map { case (c, d) => c.as(s"fixed_dow_$d") }
    val got = Features(typed).select(col("*") +: fixed: _*).collect().toSeq
    assert(got.size === cases.size)
    for ((r, (line, hour, bugDow, fixedDow, duration, flag)) <- got.zip(cases)) {
      def ones(prefix: String, n: Int) = (0 until n).filter(i => r.getAs[Int](s"$prefix$i") == 1)
      assert(ones("Pickup_hour_is_", 24) === Seq(hour), line)
      assert(ones("Pickup_dow_is_", 7) === bugDow.toSeq, line)
      assert(r.getAs[Int]("Pickup_dow_is_0") === 0, line)
      assert(ones("fixed_dow_", 7) === fixedDow.toSeq, line)
      assert(r.getAs[Long]("Duration_seconds") === duration, line)
      assert(r.getAs[Int]("Pickup_or_dropoff_at_JFK") === flag, line)
    }
  }

  test("Features requires the decimal coordinate types") {
    val df = spark.range(1).select(
      lit(null).cast("timestamp").as("lpep_pickup_datetime"),
      lit(null).cast("timestamp").as("lpep_dropoff_datetime"),
      lit(-73.78).as("Pickup_longitude"), lit(40.645).as("Pickup_latitude"),
      lit(-73.78).as("Dropoff_longitude"), lit(40.645).as("Dropoff_latitude"))
    intercept[IllegalArgumentException](Features(df))
  }
}
