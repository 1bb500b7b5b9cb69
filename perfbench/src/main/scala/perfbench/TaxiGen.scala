package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{LocalDateTime, ZoneId, ZoneOffset}
import java.util.SplittableRandom

/** Seeded green-taxi CSV generator with the 2013 source file's shape:
  * the exact 20-column header (including `Lpep_dropoff_datetime`), blank
  * and whitespace-only lines, over-wide rows with trailing empty fields,
  * Y/N flags (some blank), exact-scale decimals, a share of JFK-box
  * coordinates, negative durations, and pickups in the repeated hour of
  * the 2013-11-03 New York DST change. It also writes the reject twin: the
  * same file with one short row at a seeded position in its last tenth.
  *
  * While writing, it sums what the features stage must reproduce: rows,
  * one-hot hour and day-of-week sums (UTC, reference-bug encoding: `dow_is_0`
  * is never set and Saturday is in no column), the JFK flag count and the
  * duration min/max/sum. Pickups are naive New York times; an ambiguous
  * fall-back time takes the earlier (daylight) offset. */
object TaxiGen {
  val Header: Seq[String] = Seq(
    "VendorID", "lpep_pickup_datetime", "Lpep_dropoff_datetime",
    "Store_and_fwd_flag", "RateCodeID", "Pickup_longitude", "Pickup_latitude",
    "Dropoff_longitude", "Dropoff_latitude", "Passenger_count",
    "Trip_distance", "Fare_amount", "Extra", "MTA_tax", "Tip_amount",
    "Tolls_amount", "Ehail_fee", "Total_amount", "Payment_type", "Trip_type")

  // JFK box of the features stage, as fractional parts below 73 / above 40
  private val JfkLon = (776284000000000L, 794693000000000L)
  private val JfkLat = (640669000000000L, 651380000000000L)
  private val NewYork = ZoneId.of("America/New_York")
  private val Start = LocalDateTime.of(2013, 10, 1, 0, 0, 0)
  private val SpanSeconds = 92L * 86400 // Oct 1 .. Dec 31
  private val DstHour = LocalDateTime.of(2013, 11, 3, 1, 0, 0)

  final case class Expected(rows: Long, hourSums: Array[Long], dowSums: Array[Long],
      jfk: Long, durMin: Long, durMax: Long, durSum: Long, rejectLine: Long)

  private def ts(sb: java.lang.StringBuilder, t: LocalDateTime): Unit = {
    def two(x: Int): Unit = { if (x < 10) sb.append('0'); sb.append(x) }
    sb.append(t.getYear).append('-'); two(t.getMonthValue); sb.append('-')
    two(t.getDayOfMonth); sb.append(' '); two(t.getHour); sb.append(':')
    two(t.getMinute); sb.append(':'); two(t.getSecond)
  }

  /** Exact-scale decimal: intPart.frac with `scale` digits (sign applied). */
  private def dec(sb: java.lang.StringBuilder, negative: Boolean, intPart: Long,
      frac: Long, scale: Int): Unit = {
    if (negative) sb.append('-')
    sb.append(intPart).append('.')
    val f = frac.toString
    var pad = scale - f.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(f)
  }

  private def money(sb: java.lang.StringBuilder, cents: Long): Unit =
    dec(sb, cents < 0, math.abs(cents) / 100, math.abs(cents) % 100, 2)

  private def between(r: SplittableRandom, lo: Long, hi: Long): Long = lo + r.nextLong(hi - lo + 1)

  /** Writes `csv` and `reject` for `rows` data rows; returns the aggregates. */
  def write(seed: Long, rows: Int, csv: String, reject: String): Expected = {
    val r = new SplittableRandom(seed)
    val rejectAt = rows - 1 - r.nextInt(math.max(1, rows / 10))
    val hours = new Array[Long](24)
    val dows = new Array[Long](7)
    var jfk, durSum = 0L
    var durMin = Long.MaxValue
    var durMax = Long.MinValue
    var line = 1L // header is line 1
    var rejectLine = -1L
    def open(p: String) = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(p), StandardCharsets.UTF_8), 1 << 20)
    val out = open(csv)
    val bad = open(reject)
    def both(s: CharSequence): Unit = { out.append(s); bad.append(s) }
    try {
      both(Header.mkString(",") + "\n")
      val sb = new java.lang.StringBuilder(256)
      var i = 0
      while (i < rows) {
        // blank and whitespace-only lines, which ingest skips
        if (r.nextInt(500) == 0) { both(if (r.nextBoolean()) "\n" else "  \n"); line += 1 }
        val pickup =
          if (r.nextInt(100) == 0) DstHour.plusSeconds(r.nextLong(3600))
          else Start.plusSeconds(r.nextLong(SpanSeconds))
        val dur =
          if (r.nextInt(100) == 0) -between(r, 1, 3600)
          else between(r, 60, 3600)
        val dropoff = pickup.plusSeconds(dur)
        val pu = pickup.atZone(NewYork).toInstant
        val dou = dropoff.atZone(NewYork).toInstant
        val utc = LocalDateTime.ofInstant(pu, ZoneOffset.UTC)
        hours(utc.getHour) += 1
        // Spark dayofweek: 1 = Sunday .. 7 = Saturday; columns test 0..6
        val sparkDow = utc.getDayOfWeek.getValue % 7 + 1
        if (sparkDow < 7) dows(sparkDow) += 1
        val d = dou.getEpochSecond - pu.getEpochSecond
        durSum += d
        if (d < durMin) durMin = d
        if (d > durMax) durMax = d
        val pJfk = r.nextInt(20) == 0
        val dJfk = r.nextInt(25) == 0
        if (pJfk || dJfk) jfk += 1

        sb.setLength(0)
        sb.append(if (r.nextBoolean()) 1 else 2).append(',')
        ts(sb, pickup); sb.append(','); ts(sb, dropoff); sb.append(',')
        sb.append(r.nextInt(10) match { case 0 => "Y"; case 1 => ""; case _ => "N" }).append(',')
        sb.append(1 + r.nextInt(6)).append(',')
        Seq(pJfk, dJfk).foreach { inBox =>
          val lon = if (inBox) between(r, JfkLon._1, JfkLon._2)
                    else between(r, 800000000000000L, 999999999999999L)
          val lat = if (inBox) between(r, JfkLat._1, JfkLat._2)
                    else between(r, 500000000000000L, 899999999999999L)
          dec(sb, negative = true, 73, lon, 15); sb.append(',')
          dec(sb, negative = false, 40, lat, 15); sb.append(',')
        }
        sb.append(r.nextInt(7)).append(',')
        dec(sb, negative = false, r.nextInt(30), r.nextInt(100), 2); sb.append(',')
        val fare = between(r, 250, 9000)
        val extra = if (r.nextInt(3) == 0) 50L else 0L
        val tip = if (r.nextInt(3) == 0) between(r, 0, 2000) else 0L
        val tolls = if (r.nextInt(15) == 0) 533L else 0L
        money(sb, fare); sb.append(','); money(sb, extra); sb.append(',')
        money(sb, 50); sb.append(','); money(sb, tip); sb.append(',')
        money(sb, tolls); sb.append(",,") // Ehail_fee is always blank
        money(sb, fare + extra + 50 + tip + tolls); sb.append(',')
        sb.append(1 + r.nextInt(5)).append(',')
        if (r.nextInt(50) != 0) sb.append(1 + r.nextInt(2))
        // the source file pads some rows with two trailing empty fields
        if (r.nextInt(4) == 0) sb.append(",,")
        sb.append('\n')
        out.append(sb)
        line += 1
        if (i == rejectAt) {
          // a row cut after its tenth field: fewer than 20 columns
          val cut = sb.toString.split(",", -1).take(10).mkString(",")
          bad.append(cut).append('\n')
          rejectLine = line
        } else bad.append(sb)
        i += 1
      }
    } finally { out.close(); bad.close() }
    Expected(rows, hours, dows, jfk, durMin, durMax, durSum, rejectLine)
  }
}
