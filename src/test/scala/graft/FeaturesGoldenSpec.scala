package graft

import graft.features.{Features, GoldenParity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden-parity tests: apply Features to the reference's own ingest output
  * (`GoldenParity.refPath("01.parquet")`) and require exact agreement with the
  * reference's committed 02.parquet — both anchor aggregates (FIXTURES.md
  * §1c) and a full two-way value-level diff. */
class FeaturesGoldenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val derived =
    Features(GoldenParity.reference(spark, "01.parquet"))
  private lazy val golden = GoldenParity.reference(spark, "02.parquet")

  test("row count and schema match the golden output") {
    assert(derived.count() === 49647L)
    assert(derived.columns.length === 53)
    assert(derived.columns.toSeq === golden.columns.toSeq)
  }

  test("hour one-hot sums match verified golden values") {
    val expected = Seq(2001, 1596, 1231, 897, 738, 430, 549, 977, 1544, 1771,
      1898, 1889, 1954, 2049, 2300, 2721, 3027, 3301, 3620, 3704, 3373, 3016,
      2734, 2327)
    val sums = derived.select((0 until 24).map(h =>
      sum(col(s"Pickup_hour_is_$h")).cast("long")): _*).head().toSeq
    assert(sums === expected.map(_.toLong))
  }

  test("dow one-hot sums reproduce the reference bug (dow_0 dead, Saturdays unencoded)") {
    val expected = Seq(0L, 7858L, 7315L, 5253L, 5944L, 6585L, 7926L)
    val sums = derived.select((0 until 7).map(d =>
      sum(col(s"Pickup_dow_is_$d")).cast("long")): _*).head().toSeq
    assert(sums === expected)
    assert(expected.sum === 40881L) // 8,766 Saturday rows carry no flag
  }

  test("corrected dow variant encodes every row exactly once") {
    val fixed = Features(GoldenParity.reference(spark, "01.parquet"),
      bugCompat = false)
    val total = fixed.select(
      sum((0 until 7).map(d => col(s"Pickup_dow_is_$d")).reduce(_ + _)).cast("long"))
      .head().getLong(0)
    assert(total === 49647L)
  }

  test("JFK flag and duration anchors") {
    val r = derived.select(
      sum(col("Pickup_or_dropoff_at_JFK")).cast("long"),
      sum(when(col("Duration_seconds") < 0, 1).otherwise(0)).cast("long"),
      min(col("Duration_seconds")), max(col("Duration_seconds")),
      sum(when(col("Duration_seconds").isNull, 1).otherwise(0)).cast("long")
    ).head()
    assert(r.getLong(0) === 488L)
    assert(r.getLong(1) === 9L)
    assert(r.getLong(2) === -85860L)
    assert(r.getLong(3) === 86367L)
    assert(r.getLong(4) === 0L)
  }

  test("full value-level diff vs 02.parquet is empty both ways") {
    assert(derived.exceptAll(golden).count() === 0L)
    assert(golden.exceptAll(derived).count() === 0L)
  }
}
