package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join inventory (SURVEY.md §2b "Joins").
  *
  * Scale posture: dimension tables (region/nation/supplier/part at TPC-H
  * proportions) are `broadcast()`-hinted so fact-side data never shuffles
  * for them; fact⋈fact joins (orders⋈customer, lineitem⋈part) rely on the
  * shuffle hash/sort-merge join on the join key, which is the correct plan
  * at 100 TB (co-partition by key; AQE handles skew). No nested-loop joins
  * except the deliberately tiny band-join demo.
  */
object Joins {

  /** Fact⋈dimension equi-join: orders ⋈ customer, aggregated by segment. */
  def innerCustomerOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .sortSmall(col("c_mktsegment"))
  }

  val innerCustomerOrdersSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Snowflake dimension chain with explicit broadcast hints:
    * customer ⋈ nation ⋈ region. nation/region are tiny in any TPC-H-like
    * schema — broadcasting them removes two shuffles from the plan. */
  def broadcastDims(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"))
      .sortSmall(col("r_name"), col("n_name"))
  }

  val broadcastDimsSql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** Left outer join: every customer, including the order-less ones
    * (COUNT of the right-side key is 0 for them, exactly as in SQL). */
  def leftOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("c_custkey"))
  }

  val leftOuterSql: String =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** Left-semi join: customers having at least one big order. Spark plans
    * this without materializing the right side's columns. */
  def semi(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 300000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val semiSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join: customers with no orders at all. */
  def anti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .orderBy(col("c_custkey"))
  }

  val antiSql: String =
    """SELECT c_custkey, c_name, c_nationkey FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Band (non-equi range) join against a tiny literal bucket table —
    * Spark executes this as a BroadcastNestedLoopJoin, the right plan when
    * one side is a handful of rows. Buckets are half-open [lo, hi). */
  def rangeBand(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val buckets = spark.createDataFrame(Seq(
      (1, -100000.0, 0.0),
      (2, 0.0, 2500.0),
      (3, 2500.0, 5000.0),
      (4, 5000.0, 7500.0),
      (5, 7500.0, 100000.0)
    )).toDF("bucket_id", "lo", "hi")
    c.join(broadcast(buckets),
        col("c_acctbal") >= col("lo") && col("c_acctbal") < col("hi"))
      .groupBy(col("bucket_id"))
      .agg(count(lit(1)).as("n_customers"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"))
      .sortSmall(col("bucket_id"))
  }

  val rangeBandSql: String =
    """SELECT bucket_id, COUNT(*) AS n_customers,
      |  MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
      |FROM customer
      |JOIN (VALUES (1, -100000.0, 0.0), (2, 0.0, 2500.0), (3, 2500.0, 5000.0),
      |             (4, 5000.0, 7500.0), (5, 7500.0, 100000.0)) AS b(bucket_id, lo, hi)
      |  ON c_acctbal >= lo AND c_acctbal < hi
      |GROUP BY bucket_id ORDER BY bucket_id""".stripMargin

  /** Bucketed co-located join: both sides saved `bucketBy(8, key)` — the
    * storage layout a maintained 100 TB fact table would have — so the
    * sort-merge join reads each side already hash-partitioned by the key:
    * zero exchange on either side, and grouping on the bucket key stays
    * exchange-free too (`BucketedJoinSpec` + the hash-exchange-free
    * assertion in PlanSpec pin it). Spark 4.1's bucketed scan reports no
    * output ordering, so the plan sorts each side itself (`Sort ...,
    * false, 0` over both scans) and a `sortBy` at write time would buy
    * nothing. This is the layout decision that
    * turns every repeated fact⋈fact shuffle into a scan-side property;
    * the write cost is paid once per table, not once per query. The MERGE
    * hint pins the sort-merge path so the demo is bucketing, not a
    * broadcast that happens to fit. Tables are EXTERNAL (explicit scratch
    * path) so the shared session's warehouse stays untouched. */
  // One bucketed layout per (session, dir) — the Graph.edgeMemo pattern.
  // The write is once-per-layout in production (that is the query's own
  // argument); re-writing both tables on every invocation made the bench
  // entry time table maintenance, not the exchange-free join. Table names
  // carry a dir-derived suffix so several SF dirs coexist in one session
  // (the test suite runs sf0.001 and sf0.01 through one catalog). Dead
  // sessions are evicted on lookup, mirroring Graph.edgeMemo's hazard (1);
  // re-generating files under `dir` in-session requires clearBucketMemo()
  // (hazard (2)), same as Tables.clear().
  private val bucketMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), (DataFrame, DataFrame)]

  /** Drops memoized bucketed layouts (in-session testdata re-base, or
    * between SparkSessions in one JVM). Catalog entries and files are
    * left behind — they are scratch-dir external tables. */
  def clearBucketMemo(): Unit = bucketMemo.clear()

  def bucketedColocated(spark: SparkSession, dir: String): DataFrame = {
    bucketMemo.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    val (o, li) = bucketMemo.getOrElseUpdate((spark, dir), {
      val suf = java.lang.Integer.toHexString(dir.hashCode)
      val root = Sources.tempDir("graft_bucketed")
      spark.sql(s"DROP TABLE IF EXISTS graft_orders_bkt_$suf")
      spark.sql(s"DROP TABLE IF EXISTS graft_lineitem_bkt_$suf")
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderstatus"))
        .write.bucketBy(8, "o_orderkey")
        .option("path", s"$root/orders").mode("overwrite")
        .saveAsTable(s"graft_orders_bkt_$suf")
      Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_quantity"))
        .write.bucketBy(8, "l_orderkey")
        .option("path", s"$root/lineitem").mode("overwrite")
        .saveAsTable(s"graft_lineitem_bkt_$suf")
      (spark.table(s"graft_orders_bkt_$suf"),
        spark.table(s"graft_lineitem_bkt_$suf"))
    })
    bucketedColocatedJoin(o, li)
  }

  /** Split out so PlanSpec can assert the exchange-free shape. */
  private[graft] def bucketedColocatedJoin(o: DataFrame, li: DataFrame): DataFrame =
    o.hint("merge")
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("o_orderkey") % 100 === 0)
      .orderBy(col("o_orderkey"))

  val bucketedColocatedSql: String =
    """SELECT o_orderkey, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey % 100 = 0
      |GROUP BY 1 ORDER BY o_orderkey""".stripMargin

  /** Three-way fact join lineitem ⋈ orders ⋈ customer (TPC-H Q3 shape):
    * two shuffle joins on different keys — the canonical re-partitioning
    * pipeline a 100 TB engine must get right (AQE coalesces the post-join
    * partitions). */
  def threeWay(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_lineitems"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .sortSmall(col("c_mktsegment"), col("o_orderstatus"))
  }

  val threeWaySql: String =
    """SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n_lineitems,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment, o_orderstatus
      |ORDER BY c_mktsegment, o_orderstatus""".stripMargin
}
