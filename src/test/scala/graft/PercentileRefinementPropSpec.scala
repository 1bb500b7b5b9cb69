package graft

import graft.functions.{GraftFunctions, SortableDoubleBits}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the exact-percentile plan ([[graft.ops.gridBucketPercentiles]]:
  * census-only grid chains and fixed-bucket refinement chains) to
  * Spark's own `percentile` aggregate, and the sortable-bits transform
  * to the double ordering it must preserve. The oracle (DuckDB
  * quantile_cont) checks the inventory entries at spec SFs; this spec
  * checks the HELPER on adversarial domains the TPC-H columns never
  * hit — negatives, mixed signs, sub-normal spreads, single-value
  * groups, groups of one row. */
class PercentileRefinementPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("sortable bits preserve the double ordering (property)") {
    def ord(d: Double): Long =
      SortableDoubleBits(org.apache.spark.sql.catalyst.expressions.Literal(d))
        .eval(null).asInstanceOf[Long]
    val rnd = new scala.util.Random(7)
    // varied-regime random doubles: raw bit patterns (covers every
    // exponent, both signs, subnormals) plus uniform/gaussian draws
    val samples = Seq.fill(4000)(
        java.lang.Double.longBitsToDouble(rnd.nextLong())) ++
      Seq.fill(2000)(rnd.nextDouble() * 2e6 - 1e6) ++
      Seq.fill(2000)(rnd.nextGaussian())
    val clean = samples.filterNot(_.isNaN)
    for (Seq(a, b) <- clean.grouped(2)) {
      if (a < b) assert(ord(a) < ord(b), s"$a < $b")
      else if (a > b) assert(ord(a) > ord(b), s"$a > $b")
      else assert(ord(a) === ord(b) || (a == 0.0 && b == 0.0), s"$a == $b")
    }
    // fixed anchors: sign straddle, zero pair, infinities
    val anchors = Seq(Double.NegativeInfinity, -1.7e308, -1.0, -1e-310,
      -0.0, 0.0, 1e-310, 1.0, 1.7e308, Double.PositiveInfinity)
    anchors.sliding(2).foreach { case Seq(x, y) =>
      assert(ord(x) <= ord(y), s"$x vs $y")
    }
  }

  /** `gridBucketPercentiles` over `df` must equal `percentile` per group
    * for every (column, p, out) spec, value for value. */
  private def assertMatchesPercentile(df: org.apache.spark.sql.DataFrame,
      gridSpecs: Seq[(String, Double, String)],
      contSpecs: Seq[(String, Double, String)]): Unit = {
    val specs = gridSpecs ++ contSpecs
    val got = graft.ops.gridBucketPercentiles(df, "g", gridSpecs, contSpecs)
      .orderBy(col("g")).collect()
    val wantCols = specs.map { case (v, p, out) =>
      expr(s"percentile($v, $p)").as(out) }
    val want = df.groupBy(col("g")).agg(wantCols.head, wantCols.tail: _*)
      .orderBy(col("g")).collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (a, b) =>
      assert(a.getString(0) === b.getString(0))
      specs.foreach { case (_, p, out) =>
        val x = a.getDouble(a.fieldIndex(out))
        val y = b.getDouble(b.fieldIndex(out))
        assert(x === y, s"group ${a.getString(0)} $out (p=$p): got $x want $y")
      }
    }
  }

  test("gridBucketPercentiles equals Spark's percentile aggregate (both chain kinds)") {
    // Both paths must be value-identical to the aggregate: a grid column
    // resolved census-only AND a continuous column through the bucket
    // census + refinement chain, on value regimes the TPC-H columns
    // never hit.
    GraftFunctions.register(spark)
    import spark.implicits._
    def regime(rnd: scala.util.Random, i: Int): Double = (i % 7) match {
      case 0 => rnd.nextDouble() * 1e6 - 5e5        // mixed sign, wide
      case 1 => -1000.0 - rnd.nextDouble()          // all negative
      case 2 => 42.0                                // constant group
      case 3 => rnd.nextDouble() * 1e-8             // tiny magnitudes
      case 4 => rnd.nextInt(3).toDouble             // heavy ties
      case 5 => math.pow(10, rnd.nextInt(12) - 6) * rnd.nextDouble() // many binades
      case _ => rnd.nextGaussian()
    }
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(4000) { i =>
      val cont = regime(rnd, i)
      // grid regime: small integer domain with heavy ties (the
      // l_quantity shape), including negatives
      val grid = (rnd.nextInt(50) - 10).toDouble
      (s"g${i % 7}", grid, cont)
    } :+ (("solo", 17.0, 17.5)) // single-row group
    assertMatchesPercentile(rows.toDF("g", "gv", "cv"),
      gridSpecs = Seq(("gv", 0.5, "g50"), ("gv", 0.9, "g90")),
      contSpecs = Seq(("cv", 0.5, "c50"), ("cv", 0.99, "c99")))
    // the same adversarial groups from a second draw at the extreme and
    // near-extreme ranks (p = 0, 0.01, 0.99, 1 hit the first/last
    // bucket), through BOTH chain kinds — bucket geometry must not matter
    val rnd2 = new scala.util.Random(42)
    val rows2 = Seq.tabulate(4000)(i => (s"g${i % 7}", regime(rnd2, i))) :+
      (("solo", 17.5))
    val ps = Seq(0.0, 0.01, 0.5, 0.9, 0.99, 1.0).zipWithIndex
    assertMatchesPercentile(rows2.toDF("g", "v"),
      gridSpecs = ps.map { case (p, i) => ("v", p, s"gp$i") },
      contSpecs = ps.map { case (p, i) => ("v", p, s"cp$i") })
  }

  test("gridBucketPercentilesWith rejects extra names that shadow its outputs") {
    // the join-free union fold keys columns by name, so a colliding extra
    // would silently merge into the group key or a percentile column
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("g", "v")
    def run(extra: String) = graft.ops.gridBucketPercentilesWith(df, "g",
      gridSpecs = Seq(("v", 0.5, "p50")), contSpecs = Nil,
      extraAggs = Seq((count(lit(1)), extra)))
    intercept[IllegalArgumentException](run("g"))
    intercept[IllegalArgumentException](run("p50"))
    assert(run("n").columns.toSeq === Seq("g", "p50", "n"))
  }
}
