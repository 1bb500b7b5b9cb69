package graft.features

import graft.schema.GreenTaxi
import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Feature derivation with the exact semantics of the reference's part 2
  * (/root/reference/02.py:17-103), as typed Column builders instead of
  * generated SQL strings: 24 one-hot pickup-hour columns, 7 one-hot
  * day-of-week columns, trip duration in seconds, JFK bounding-box flag.
  *
  * All 33 derived columns are per-row CASE/arithmetic expressions — one
  * narrow projection, no shuffle, fully inside whole-stage codegen; this
  * stage is embarrassingly parallel at any scale.
  *
  * Timezone contract: `hour`/`dayofweek` on TimestampType are session-TZ
  * dependent. The reference container ran UTC (02.py:34-37), so these are
  * UTC hours/days — callers must run with spark.sql.session.timeZone=UTC
  * (pinned in build.sbt and Verify/Bench).
  */
object Features {

  /** JFK bounding box (02.py:85-88, sourced from chriswhong.com). */
  val JfkLonMin = -73.794694
  val JfkLonMax = -73.776283
  val JfkLatMin = 40.640668
  val JfkLatMax = 40.651381

  private def oneHot(cond: Column): Column =
    when(cond, 1).otherwise(0).cast(IntegerType)

  /** 24 one-hot hour columns (02.py:38-47). */
  def oneHotHours(ts: Column): Seq[Column] =
    (0 until 24).map(h => oneHot(hour(ts) === h).as(s"Pickup_hour_is_$h"))

  /** 7 one-hot day-of-week columns (02.py:57-65).
    *
    * bugCompat=true reproduces the reference bug (SURVEY.md §2a S12): the
    * loop tests DAYOFWEEK = 0..6 but Spark's DAYOFWEEK is 1=Sunday..7=
    * Saturday, so `Pickup_dow_is_0` is always 0 and Saturdays are encoded
    * in no column. bugCompat=false ships the corrected 0=Sunday..6=Saturday
    * encoding via pmod(dayofweek-1, 7).
    */
  def oneHotDows(ts: Column, bugCompat: Boolean = true): Seq[Column] =
    (0 until 7).map { d =>
      val dowVal = if (bugCompat) dayofweek(ts) else pmod(dayofweek(ts) - 1, lit(7))
      oneHot(dowVal === d).as(s"Pickup_dow_is_$d")
    }

  /** Duration = epoch-seconds difference (02.py:67-76); negative values
    * pass through untouched (source-data quality issue the reference
    * preserves). */
  def durationSeconds(pickup: Column, dropoff: Column): Column =
    (dropoff.cast(LongType) - pickup.cast(LongType)).as("Duration_seconds")

  /** One step of the coordinates' scale (15). */
  private val Step = JBigDecimal.ONE.movePointLeft(15)

  /** Smallest scale-15 decimal `t` with `x.doubleValue >= bound` ⇔ `x >= t`
    * for every scale-15 `x`: the decimal → double rounding is monotone, so
    * the set it maps to `>= bound` is an up-set, and `t` is its least
    * element. Found by stepping from the bound's exact binary value. */
  private def lowerThreshold(bound: Double): JBigDecimal = {
    var t = new JBigDecimal(bound).setScale(15, RoundingMode.CEILING)
    while (t.subtract(Step).doubleValue >= bound) t = t.subtract(Step)
    while (t.doubleValue < bound) t = t.add(Step)
    t
  }

  /** Largest scale-15 decimal `t` with `x.doubleValue <= bound` ⇔ `x <= t`. */
  private def upperThreshold(bound: Double): JBigDecimal = {
    var t = new JBigDecimal(bound).setScale(15, RoundingMode.FLOOR)
    while (t.add(Step).doubleValue <= bound) t = t.add(Step)
    while (t.doubleValue > bound) t = t.subtract(Step)
    t
  }

  private val LonRange = (lowerThreshold(JfkLonMin), upperThreshold(JfkLonMax))
  private val LatRange = (lowerThreshold(JfkLatMin), upperThreshold(JfkLatMax))

  /** The four coordinates the JFK flag reads. */
  private val Coordinates =
    Seq("Pickup_longitude", "Pickup_latitude", "Dropoff_longitude", "Dropoff_latitude")

  /** JFK pickup-or-dropoff flag (02.py:78-95). The reference compares the
    * decimal(18,15)/(17,15) lon/lat columns against double literals, so
    * Catalyst widens each decimal to double first (S14). That cast is a
    * string parse per value (the unscaled values exceed 2^52, so
    * `BigDecimal.doubleValue` goes through `Double.parseDouble`); instead
    * each column is compared, as an exact decimal, against the scale-15
    * threshold at which the double comparison flips. The flag is the same,
    * bit for bit, for every scale-15 input and for nulls
    * (`FeaturesSemanticsSpec` pins it against `cast(double) between` around
    * every bound); the columns must have scale 15, which [[apply]] checks. */
  def jfkFlag(pLon: Column, pLat: Column, dLon: Column, dLat: Column): Column = {
    def in(c: Column, r: (JBigDecimal, JBigDecimal)): Column = c.between(lit(r._1), lit(r._2))
    oneHot(
      (in(pLon, LonRange) && in(pLat, LatRange)) || (in(dLon, LonRange) && in(dLat, LatRange))
    ).as("Pickup_or_dropoff_at_JFK")
  }

  /** SELECT *, <33 derived columns> (02.py:22-30). */
  def apply(df: DataFrame, bugCompat: Boolean = true): DataFrame = {
    for (c <- Coordinates) {
      val (want, got) = (GreenTaxi.Schema(c).dataType, df.schema(c).dataType)
      require(got == want, s"$c must be ${want.simpleString}, got ${got.simpleString}")
    }
    val pickup = col("lpep_pickup_datetime")
    val derived =
      oneHotHours(pickup) ++
      oneHotDows(pickup, bugCompat) :+
      durationSeconds(pickup, col("lpep_dropoff_datetime")) :+
      jfkFlag(col("Pickup_longitude"), col("Pickup_latitude"),
        col("Dropoff_longitude"), col("Dropoff_latitude"))
    df.select(col("*") +: derived: _*)
  }
}
