package graft.ops

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Value-parity pins for the r20 optimization rewrites: each rewritten
  * operator must equal its pre-rewrite shape row-for-row on real data
  * (the DuckDB oracle remains the driver gate; these keep the
  * equivalence checkable in sbt alone, arm-vs-arm in one JVM). */
class R20RewriteParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq === b.columns.toSeq)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("cdcApply equals the legacy window+join shape (exploded log, agg LWW)") {
    // the pre-r20 plan, verbatim: cdcLog 3-arm union, row_number window,
    // separate opCounts aggregate, inner join on status
    val log = Lakehouse.cdcLog(spark, dir)
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("version").desc)
    val last = log.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val opCounts = log.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_log_rows"))
    val legacy = Lakehouse.cdcCensus(last).join(opCounts, "o_orderstatus")
      .orderBy(col("o_orderstatus"))
    assertSame(Lakehouse.cdcApply(spark, dir), legacy)
  }

  test("link-prediction wedge arms agree (array expansion vs self-join)") {
    // the pre-r20 wedge generator, verbatim: adj ⋈ adj on the shared
    // endpoint, strict l.b < r.b half
    val adj = Graph.cappedAdjacency(spark, dir)
    val selfJoin = adj.as("l").join(adj.as("r"), col("l.a") === col("r.a"))
      .filter(col("l.b") < col("r.b"))
      .groupBy(col("l.b").as("u"), col("r.b").as("v"))
      .agg(count(lit(1)).as("common_neighbors"))
    assertSame(Graph.lpWedges(adj), selfJoin)
  }

  test("golden-parity count-join diff equals exceptAll multiset counts") {
    // multiset-difference identity |A∖B| = Σ_h max(0, cntA−cntB) on the
    // REAL fingerprint frames, both directions, including an injected
    // asymmetry so the zero-diff fixture cannot make the test vacuous
    val golden = graft.features.GoldenParity.reference(spark, "02.parquet")
    val gcols = golden.columns.toSeq
    val fpAll = golden.select(xxhash64(gcols.map(col): _*).as("h"))
    // asymmetric sides: drop a distinct-valued slice from one, duplicate
    // a slice on the other
    val a = fpAll.limit(4000).union(fpAll.limit(500))
    val b = fpAll.limit(3500)
    def viaExcept(x: DataFrame, y: DataFrame): Long =
      x.exceptAll(y).count()
    def viaCounts(x: DataFrame, y: DataFrame): (Long, Long) = {
      val cx = x.groupBy(col("h")).agg(count(lit(1)).as("cx"))
      val cy = y.groupBy(col("h")).agg(count(lit(1)).as("cy"))
      val r = cx.join(cy, Seq("h"), "full_outer")
        .select(coalesce(col("cx"), lit(0L)).as("cx"),
          coalesce(col("cy"), lit(0L)).as("cy"))
        .agg(
          coalesce(sum(greatest(col("cx") - col("cy"), lit(0L))), lit(0L)),
          coalesce(sum(greatest(col("cy") - col("cx"), lit(0L))), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val (ab, ba) = viaCounts(a, b)
    assert(ab === viaExcept(a, b))
    assert(ba === viaExcept(b, a))
    assert(ab > 0 && ba >= 0) // the asymmetry actually exercised the path
  }

  test("sortSmall finisher emits the SAME ROW ORDER as a ranged orderBy") {
    // r20 ADVICE: assertSame compares multisets, so the sbt-level pins
    // did not cover output ROW ORDER — which the orderBy → sortSmall
    // sweep also changed (order parity was only enforced by the external
    // oracle's row-order-sensitive hash). Pin it in-JVM for a converted
    // census: the collected sequence must equal the ranged global sort
    // of the same frame, element for element.
    val viaSmall = Aggregations.monthlyOrders(spark, dir).collect().toSeq
    val viaRanged = Aggregations.monthlyOrders(spark, dir)
      .orderBy(col("month_start"))
      .collect().toSeq
    assert(viaSmall.nonEmpty)
    assert(viaSmall === viaRanged)
  }

  test("golden-parity census still reports zero diffs and the pinned totals") {
    val m = graft.features.GoldenParity.census(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("diff_derived_minus_golden") === 0L)
    assert(m("diff_golden_minus_derived") === 0L)
    assert(m("n_rows") === 49647L)
    assert(m("jfk_rows") === 488L)
  }
}
