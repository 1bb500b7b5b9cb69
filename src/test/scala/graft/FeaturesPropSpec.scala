package graft

import graft.features.{Features, GoldenParity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant tests for the derived features (SURVEY.md §5): one-hot
  * exclusivity per row, dow-bug shape, duration antisymmetry. Runs on the
  * real golden input (49,647 rows), so these are corpus-wide invariants,
  * not example checks. */
class FeaturesPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val derived =
    Features(GoldenParity.reference(spark, "01.parquet"))

  test("exactly one hour flag per row, always") {
    val hourSum = (0 until 24).map(h => col(s"Pickup_hour_is_$h")).reduce(_ + _)
    assert(derived.filter(hourSum =!= 1).count() === 0L)
  }

  test("at most one dow flag per row; dow_0 always dead (bug-compat)") {
    val dowSum = (0 until 7).map(d => col(s"Pickup_dow_is_$d")).reduce(_ + _)
    assert(derived.filter(dowSum > 1).count() === 0L)
    assert(derived.filter(col("Pickup_dow_is_0") =!= 0).count() === 0L)
  }

  test("fixed dow variant: exactly one flag per row") {
    val fixed = Features(GoldenParity.reference(spark, "01.parquet"),
      bugCompat = false)
    val dowSum = (0 until 7).map(d => col(s"Pickup_dow_is_$d")).reduce(_ + _)
    assert(fixed.filter(dowSum =!= 1).count() === 0L)
  }

  test("duration is antisymmetric in its arguments") {
    val df = GoldenParity.reference(spark, "01.parquet")
    val fwd = Features.durationSeconds(
      col("lpep_pickup_datetime"), col("lpep_dropoff_datetime"))
    val rev = Features.durationSeconds(
      col("lpep_dropoff_datetime"), col("lpep_pickup_datetime"))
    assert(df.select((fwd + rev).as("s")).filter(col("s") =!= 0).count() === 0L)
  }

  test("JFK flag is monotone: flag implies a coordinate inside the box") {
    val inBox = (lon: String, lat: String) =>
      col(lon).between(Features.JfkLonMin, Features.JfkLonMax) &&
        col(lat).between(Features.JfkLatMin, Features.JfkLatMax)
    val bad = derived.filter(col("Pickup_or_dropoff_at_JFK") === 1)
      .filter(!(inBox("Pickup_longitude", "Pickup_latitude") ||
        inBox("Dropoff_longitude", "Dropoff_latitude")))
    assert(bad.count() === 0L)
  }
}
