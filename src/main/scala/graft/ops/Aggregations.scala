package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Aggregation inventory (SURVEY.md §2b "Aggregations").
  *
  * Scale notes: every query here is a hash-aggregate with map-side partial
  * aggregation (Spark plans `HashAggregate(partial) → shuffle → HashAggregate
  * (final)`), so shuffle volume is O(groups × partitions), not O(rows) —
  * the pattern that survives a 100 TB lineitem. Group-by keys are
  * low-cardinality columns; no `collect`, no driver-side loops.
  */
object Aggregations {

  /** TPC-H Q1-shaped pricing summary: multi-measure groupBy over lineitem. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .sortSmall(col("l_returnflag"), col("l_linestatus"))
  }

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** count / countDistinct per order status. */
  def countDistinct_(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(col("o_orderpriority")).as("n_priorities"))
      .sortSmall(col("o_orderstatus"))
  }

  val countDistinctSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  COUNT(DISTINCT o_custkey) AS n_customers,
      |  COUNT(DISTINCT o_orderpriority) AS n_priorities
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** min/max — exact on doubles and timestamps, no arithmetic involved. */
  def statsMinMax(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"))
      .agg(
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        min(col("l_shipdate")).as("min_shipdate"),
        max(col("l_shipdate")).as("max_shipdate"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))
      .sortSmall(col("l_returnflag"))
  }

  val statsMinMaxSql: String =
    """SELECT l_returnflag,
      |  MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
      |  MIN(l_shipdate) AS min_shipdate, MAX(l_shipdate) AS max_shipdate,
      |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ROLLUP hierarchy totals. Group keys are COALESCEd to a sentinel so the
    * subtotal rows sort identically in both engines (Spark default orders
    * NULLS FIRST, DuckDB NULLS LAST). */
  def rollup_(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
        col("n_rows"), col("sum_qty"))
      .sortSmall(col("returnflag"), col("linestatus"))
  }

  val rollupSql: String =
    """SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
      |  COALESCE(l_linestatus, '(all)') AS linestatus,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** CUBE over two dimensions. */
  def cube_(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("orderpriority"),
        col("n_orders"), col("sum_price"))
      .sortSmall(col("orderstatus"), col("orderpriority"))
  }

  val cubeSql: String =
    """SELECT COALESCE(o_orderstatus, '(all)') AS orderstatus,
      |  COALESCE(o_orderpriority, '(all)') AS orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY orderstatus, orderpriority""".stripMargin

  /** Time-bucketed aggregation (the batch shape of a tumbling window).
    * At scale this is the query that motivates date-partitioned layout:
    * with `o_orderdate` as a partition column the scan prunes to the
    * requested months instead of reading 100 TB. */
  def monthlyOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(date_trunc("month", col("o_orderdate")).as("month_start"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .sortSmall(col("month_start"))
  }

  val monthlyOrdersSql: String =
    """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY month_start""".stripMargin

  /** GROUPING SETS: two independent one-dimension rollups in one pass
    * (status totals and priority totals) — Spark expands to a single
    * aggregate over the union of sets, one scan instead of two. */
  def groupingSets_(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("orderpriority"),
        col("n_orders"), col("sum_price"))
      .sortSmall(col("orderstatus"), col("orderpriority"))
  }

  val groupingSetsSql: String =
    """SELECT COALESCE(o_orderstatus, '(all)') AS orderstatus,
      |  COALESCE(o_orderpriority, '(all)') AS orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY orderstatus, orderpriority""".stripMargin

  /** approx_count_distinct (HyperLogLog++). The sketch itself is
    * engine-specific, so the *output* is made portable: exact distinct
    * counts plus deterministic `within_tol` booleans asserting the
    * sketch landed within 10% of truth (HLL rsd=0.02 → 5 std errors of
    * margin; the sketch is hash-based, so the booleans are a fixed
    * property of the dataset, not a coin flip — and rsd=0.02 keeps the
    * same 5σ determinism as the earlier rsd=0.01/5% pair while staying
    * below the p=14 register count whose per-row update path measured
    * 2-3× slower in Spark's HLL++). The oracle twin computes the exact
    * counts and expects TRUE. At 100 TB the HLL column replaces exact
    * COUNT(DISTINCT) for dashboards: one pass, fixed memory, mergeable,
    * no exploding distinct-shuffle. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // ONE dedup-first pass for BOTH distinct columns: each row explodes
    // into its (tag, value) pairs, ONE distinct exchange carries the
    // combined pair cardinality (map-side combined — pairs, not raw
    // rows), and the final 3-row aggregate computes the exact counts AND
    // the HLL sketches from the already-distinct values — HLL insertion
    // is idempotent, so the sketch over distinct values has bit-identical
    // registers to one over raw rows, and nulls (the other tag's rows)
    // never enter a sketch. This fuses the earlier per-column pass+join
    // shape (two scans, two distinct exchanges, one broadcast join) into
    // one scan + one exchange + no join — half the stage waves for the
    // same bytes — while keeping both prior failure modes out:
    // countDistinct's multi-distinct EXPAND (which at one point put the
    // rsd=0.01 p=14 ~13 KB sketch buffers inside the expand keying — 22
    // minutes of sort spill), and wide partial-sketch merges (the final
    // agg sees only pre-deduped values, 6 sketch buffers total). Same
    // 100 TB shape: dedup-first is the standard rewrite when
    // value-cardinality ≪ row count.
    // r20 A/B (r19 VERDICT task 2b): profiling split the 0.77 s wall
    // into ~0.6 distinct-exchange + ~0.5 HLL register updates (the
    // exact-only control measured 0.89 vs 1.36 in-shell). Two constant
    // cuts survive the A/B: (1) `stack` generates the (tag, value)
    // pairs without the array-of-structs materialization the explode
    // arm paid; (2) the sketch/count aggregate groups by (flag, tag) so
    // every row updates exactly ONE unconditional HLL instead of
    // evaluating two `when` guards per row — the 6-row by-tag frame
    // then folds to the 3-row wide shape in a free post-exchange
    // aggregate (BENCH_NOTES r20).
    val pairs = li.selectExpr("l_returnflag",
        "stack(2, 'o', l_orderkey, 'p', l_partkey) as (t, v)")
      .distinct()
    val byTag = pairs.groupBy(col("l_returnflag"), col("t"))
      .agg(count(lit(1)).as("n"),
        approx_count_distinct(col("v"), 0.02).as("a"))
    byTag.groupBy(col("l_returnflag"))
      .agg(max(when(col("t") === "o", col("n"))).as("exact_orders"),
        max(when(col("t") === "p", col("n"))).as("exact_parts"),
        max(when(col("t") === "o", col("a"))).as("ao"),
        max(when(col("t") === "p", col("a"))).as("ap"))
      .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
        (abs(col("ao") - col("exact_orders")).cast(DoubleType) /
          col("exact_orders") <= 0.10).as("orders_ok"),
        (abs(col("ap") - col("exact_parts")).cast(DoubleType) /
          col("exact_parts") <= 0.10).as("parts_ok"))
      .sortSmall(col("l_returnflag"))
  }

  val approxDistinctSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS exact_orders,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  TRUE AS orders_ok, TRUE AS parts_ok
      |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** approx_percentile (Greenwald-Khanna/KLL-style mergeable quantile
    * sketch). Same portability pattern as `approxDistinct`: scalar
    * `within_tol` booleans (sketch within 5% relative of the exact
    * percentile — at accuracy=2000 the rank error is 5e-4, far inside
    * tolerance) next to exact counts. No array columns in the output (the
    * driver's comparator requires flat scalars). The exact-percentile twin
    * (`agg_percentiles`) value-checks interpolation; this entry checks the
    * sketch path. One pass, bounded memory — the 100 TB quantile plan. */
  def approxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val li = Tables.lineitem(spark, dir)
    // ONE narrow-chain exact plan with the GK sketches riding it
    // ([[graft.ops.gridBucketPercentilesWith]], the shape agg_percentiles
    // adopted in r19): l_quantity is a 50-value grid resolved
    // census-only, l_extendedprice keeps bucket census + refinement, and
    // the sketch extras (mergeable fixed-size buffers — exactly what
    // quantile sketches are FOR; map-side parallel) join the percentile
    // chains in the join-free union fold instead of a broadcast-join
    // assembly, whose build re-executed the extras subtree as a separate
    // prepare-time job. Exact values never go through `percentile()`'s
    // boxed value-list buffers (2.4 s for a 3-row output). r21
    // interleaved QBench min-of-7 at sf0.1: 0.626 → 0.461 s, jobs 3 → 2.
    gridBucketPercentilesWith(li, "l_returnflag",
        gridSpecs = Seq(("l_quantity", 0.5, "emq")),
        contSpecs = Seq(
          ("l_extendedprice", 0.5, "eq50"),
          ("l_extendedprice", 0.9, "eq90"),
          ("l_extendedprice", 0.99, "eq99")),
        extraAggs = Seq(
          (expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 2000)"),
            "aq"),
          (expr("approx_percentile(l_quantity, 0.5, 2000)"), "amq"),
          (count(lit(1)), "n_rows")))
      .select(col("l_returnflag"), col("n_rows"),
        (abs(col("aq")(0) - col("eq50")) / col("eq50") <= 0.05).as("q50_ok"),
        (abs(col("aq")(1) - col("eq90")) / col("eq90") <= 0.05).as("q90_ok"),
        (abs(col("aq")(2) - col("eq99")) / col("eq99") <= 0.05).as("q99_ok"),
        (abs(col("amq") - col("emq")) / col("emq") <= 0.05).as("median_qty_ok"))
      .sortSmall(col("l_returnflag"))
  }

  val approxQuantilesSql: String =
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  TRUE AS q50_ok, TRUE AS q90_ok, TRUE AS q99_ok, TRUE AS median_qty_ok
      |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** Fixed-width histogram of order totals: bucket = floor(total / 500).
    * Grouping on the derived key is the 100 TB histogram plan — map-side
    * combine reduces each partition to ~#buckets rows before one shuffle;
    * never a sort, never a collect. (floor of an IEEE double division is
    * bit-identical across engines, so the bucket key is portable.) */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(floor(col("o_totalprice") / lit(500.0)).as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .sortSmall(col("bucket"))
  }

  val histogramSql: String =
    """SELECT CAST(FLOOR(o_totalprice / 500.0) AS BIGINT) AS bucket,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Deterministic MODE (argmax) per group: the most frequent order
    * priority per status, plus its share of the group in fixed-point.
    * `mode()`/`max_by()` tie-break arbitrarily on both engines — not a
    * cross-engine contract — so the mode is derived as rank-1 over the
    * (status × priority) census with an explicit total order. The census
    * is map-side-combined to a bounded table BEFORE the window, so the
    * rank never touches raw rows — the scale-correct argmax plan. */
  def modePerGroup(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderstatus"))
      .orderBy(col("n").desc, col("o_orderpriority"))
    counts
      .withColumn("rk", row_number().over(w))
      .withColumn("group_total",
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderstatus"))))
      .filter(col("rk") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
        col("n"), col("group_total"),
        expr("(n * 1000000) div group_total").as("share_fp"))
      .sortSmall(col("o_orderstatus"))
  }

  /** Sketch RE-aggregation — the pattern that makes sketches matter at
    * 100 TB: per-(type, day) HLL sketches (Apache DataSketches via
    * `hll_sketch_agg`, the materialized daily-rollup table a warehouse
    * maintains) are MERGED with `hll_union_agg` into per-type monthly
    * distinct-user estimates WITHOUT touching raw events again — distinct
    * counts are not additive, sketch unions are. Checked like
    * [[approxDistinct]]: exact values + deterministic within-5% booleans
    * (estimate vs the true per-type distinct count), since sketch
    * internals are engine-specific. The day tier genuinely constrains the
    * union (merging 30 day-sketches, not re-scanning), so this exercises
    * the two-level dataflow, not just the function. */
  def sketchReaggregation(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val daily = e.groupBy(col("event_type"),
        expr("unix_date(cast(ts as date))").as("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
        count(lit(1)).as("n"))
    val merged = daily.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_users"),
        count(lit(1)).as("n_days"), sum(col("n")).as("n_events"))
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, "event_type")
      .select(col("event_type"), col("n_days"), col("n_events"),
        col("exact_users"),
        (abs(col("est_users") - col("exact_users")).cast(DoubleType) /
          col("exact_users") <= 0.05).as("est_ok"))
      .sortSmall(col("event_type"))
  }

  val sketchReaggregationSql: String =
    """SELECT event_type,
      |  COUNT(DISTINCT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS n_days,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  TRUE AS est_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val modePerGroupSql: String =
    """WITH c AS (
      |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      |  FROM orders GROUP BY o_orderstatus, o_orderpriority),
      |r AS (
      |  SELECT o_orderstatus, o_orderpriority, n,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
      |                       ORDER BY n DESC, o_orderpriority) AS rk,
      |    CAST(SUM(n) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS group_total
      |  FROM c)
      |SELECT o_orderstatus, o_orderpriority AS mode_priority, n, group_total,
      |  CAST((n * 1000000) // group_total AS BIGINT) AS share_fp
      |FROM r WHERE rk = 1 ORDER BY o_orderstatus""".stripMargin

  /** Gini impurity (1 − Σ pᵢ²) of the event-type mix per user cohort
    * (user_id mod 10) — the diversity/imbalance signal (CART's split
    * criterion; ecology's Simpson index) data-mix audits report per
    * shard. Chosen over Shannon entropy DELIBERATELY: entropy needs a
    * transcendental log that can never hash-match across engines, while
    * Gini is a RATIONAL function of the counts — computed here in exact
    * integer arithmetic (Σnᵢ², n²) and one final double division,
    * bit-identical in both engines. Two map-side-combined aggregates
    * (type-counts, then sum-of-squares); no window, no explode. */
  def giniImpurity(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(pmod(col("user_id"), lit(10L)).as("cohort"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    // Σn² and n_events² accumulate in DECIMAL(38,0) — exact like DuckDB's
    // HUGEINT arithmetic in the twin; long·long products would silently
    // wrap once a cohort reaches ~3e9 events, diverging cross-engine at
    // the 100 TB posture. Cast to double only at the final division, the
    // same point the twin casts.
    counts.groupBy(col("cohort"))
      .agg(sum(col("n")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("n").cast("decimal(19,0)") * col("n")).as("sum_sq"))
      .select(col("cohort"), col("n_events"), col("n_types"),
        (lit(1.0) - col("sum_sq").cast("double") /
          (col("n_events").cast("decimal(19,0)") * col("n_events"))
            .cast("double")).as("gini"))
      .sortSmall(col("cohort"))
  }

  val giniImpuritySql: String =
    """WITH c AS (
      |  SELECT ((user_id % 10) + 10) % 10 AS cohort, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT cohort, SUM(n) AS n_events, COUNT(*) AS n_types,
      |    SUM(n * n) AS sum_sq
      |  FROM c GROUP BY cohort)
      |SELECT cohort, CAST(n_events AS BIGINT) AS n_events, n_types,
      |  1.0 - CAST(sum_sq AS DOUBLE) / CAST(n_events * n_events AS DOUBLE)
      |    AS gini
      |FROM g ORDER BY cohort""".stripMargin

  /** WEIGHTED percentiles (p50/p90 of document length under the mixture
    * weights of [[Pipeline.weightedSample]]'s tiers) — when rows carry
    * sampling weights, the unweighted median answers the wrong question;
    * the weighted one is what the resampled corpus actually looks like.
    * percentile_cont has no weighted form in either engine, so this is
    * the textbook formulation: order by value, running weight sum, first
    * row whose cumulative weight reaches p·W — ALL INTEGER comparisons
    * (cumw·100 ≥ W·p avoids fractional thresholds), so both engines pick
    * the identical row. One window per lang + one aggregate, on one
    * exchange (subset-key: hash(lang) serves the window and the final
    * group). */
  def weightedPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        when(col("n_chars") >= 450, lit(7L))
          .when(col("n_chars") >= 250, lit(4L)).otherwise(lit(1L)).as("wt"))
      .withColumn("cumw", sum(col("wt")).over(w))
      .withColumn("totw", sum(col("wt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))))
      .groupBy(col("lang"))
      .agg(max(col("totw")).as("total_weight"),
        min(when(col("cumw") * 2 >= col("totw"), col("n_chars"))).as("wp50_chars"),
        min(when(col("cumw") * 10 >= col("totw") * 9, col("n_chars"))).as("wp90_chars"))
      .sortSmall(col("lang"))
  }

  val weightedPercentilesSql: String =
    """WITH t AS (
      |  SELECT lang, doc_id, n_chars,
      |    CASE WHEN n_chars >= 450 THEN 7
      |         WHEN n_chars >= 250 THEN 4 ELSE 1 END AS wt
      |  FROM documents),
      |c AS (
      |  SELECT lang, n_chars,
      |    SUM(wt) OVER (PARTITION BY lang
      |                  ORDER BY n_chars, doc_id) AS cumw,
      |    SUM(wt) OVER (PARTITION BY lang) AS totw
      |  FROM t)
      |SELECT lang, CAST(MAX(totw) AS BIGINT) AS total_weight,
      |  MIN(CASE WHEN cumw * 2 >= totw THEN n_chars END) AS wp50_chars,
      |  MIN(CASE WHEN cumw * 10 >= totw * 9 THEN n_chars END) AS wp90_chars
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  private val HllPairs = Seq(("click", "purchase"), ("view", "signup"))

  /** Sketch SET ALGEBRA — audience-overlap estimation from mergeable HLL
    * sketches (the DataSketches path `agg_sketch_reagg` builds on): per
    * event-type pair, |A∩B| is estimated by inclusion-exclusion over
    * three sketch estimates (est_A + est_B − est_A∪B, with the union
    * sketch from the binary `hll_union` — never re-scanning raw data),
    * the standard overlap estimator for pre-aggregated audiences. The
    * EXACT inclusion-exclusion runs beside it (exact intersection =
    * a + b − union over exact distinct counts — an identity, not an
    * estimate), and the output carries exact values + tolerance booleans
    * like every sketch query (the oracle pins the exact columns and the
    * booleans as literals). At 100 TB the point is that the per-type
    * sketches are BUILT ONCE (k × 13 KB state), and any of the k²
    * pairwise overlaps is then sketch-only arithmetic — no pairwise
    * corpus passes. One corpus pass builds sketches; one pass per pair
    * computes the exact side (test-only cross-check). */
  def hllIntersection(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    // Sketch table computed ONCE and persisted (type-domain rows, 16 KiB
    // sketches): the per-pair est branches reference it 4x.
    val sks = e.groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ests = HllPairs.map { case (ta, tb) =>
      sks.as("a").filter(col("a.event_type") === ta)
        .crossJoin(sks.as("b").filter(col("b.event_type") === tb))
        .select(lit(ta).as("type_a"), lit(tb).as("type_b"),
          expr("hll_sketch_estimate(a.sk)").as("est_a"),
          expr("hll_sketch_estimate(b.sk)").as("est_b"),
          expr("hll_sketch_estimate(hll_union(a.sk, b.sk))").as("est_u"))
    }.reduce(_ union _)
    // Exact legs in ONE scan for ALL pairs (was: one expand-scan of
    // events per pair): explode each event row into its (pair, isA)
    // memberships, ONE distinct exchange on (pair, user, isA) — the
    // dedup-first rewrite approxDistinct documents — then a per-pair
    // aggregate with a SINGLE distinct column (union users), which needs
    // no multi-distinct EXPAND: exact_a/exact_b count the already-
    // distinct (user, side) rows directly.
    val memberships = HllPairs.zipWithIndex.map { case ((ta, tb), i) =>
      when(col("event_type").isin(ta, tb),
        struct(lit(i).as("pid"), (col("event_type") === lit(ta)).as("isA")))
    }
    val pm = e
      // NULL user_ids must drop here: the distinct (pid,isA,NULL) row
      // would survive into count(when(isA,1)) while COUNT(DISTINCT
      // CASE...) in the twin (and the old countDistinct legs) skips it.
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), explode(array(memberships: _*)).as("m"))
      .filter(col("m").isNotNull)
      .select(col("m.pid").as("pid"), col("m.isA").as("isA"), col("user_id"))
      .distinct()
    val pairNames = HllPairs.zipWithIndex.map { case ((ta, tb), i) =>
      struct(lit(i).as("pid"), lit(ta).as("type_a"), lit(tb).as("type_b"))
    }
    val pairsDf = spark.range(1)
      .select(explode(array(pairNames: _*)).as("p"))
      .select(col("p.pid").as("pid"), col("p.type_a").as("type_a"),
        col("p.type_b").as("type_b"))
    val exacts = pm.groupBy(col("pid"))
      .agg(count(when(col("isA"), 1)).as("exact_a"),
        count(when(!col("isA"), 1)).as("exact_b"),
        countDistinct(col("user_id")).as("exact_union"))
      .join(broadcast(pairsDf), "pid")
      .select(col("type_a"), col("type_b"),
        col("exact_a"), col("exact_b"), col("exact_union"),
        (col("exact_a") + col("exact_b") - col("exact_union"))
          .as("exact_inter"))
    exacts.join(broadcast(ests), Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"),
        col("exact_a"), col("exact_b"), col("exact_union"), col("exact_inter"),
        (abs(col("est_a") - col("exact_a")).cast(DoubleType) /
          col("exact_a") <= 0.05).as("a_ok"),
        (abs(col("est_b") - col("exact_b")).cast(DoubleType) /
          col("exact_b") <= 0.05).as("b_ok"),
        (abs(col("est_u") - col("exact_union")).cast(DoubleType) /
          col("exact_union") <= 0.05).as("union_ok"),
        (abs(col("est_a") + col("est_b") - col("est_u") - col("exact_inter"))
          .cast(DoubleType) /
          greatest(col("exact_inter"), lit(1L)) <= 0.15).as("inter_ok"))
      .sortSmall(col("type_a"))
  }

  val hllIntersectionSql: String = {
    val pairSel = HllPairs.map { case (ta, tb) =>
      s"""SELECT '$ta' AS type_a, '$tb' AS type_b,
         |  COUNT(DISTINCT CASE WHEN event_type = '$ta' THEN user_id END) AS exact_a,
         |  COUNT(DISTINCT CASE WHEN event_type = '$tb' THEN user_id END) AS exact_b,
         |  COUNT(DISTINCT user_id) AS exact_union,
         |  COUNT(DISTINCT CASE WHEN event_type = '$ta' THEN user_id END)
         |    + COUNT(DISTINCT CASE WHEN event_type = '$tb' THEN user_id END)
         |    - COUNT(DISTINCT user_id) AS exact_inter,
         |  TRUE AS a_ok, TRUE AS b_ok, TRUE AS union_ok, TRUE AS inter_ok
         |FROM events WHERE event_type IN ('$ta', '$tb')""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$pairSel
      |ORDER BY type_a""".stripMargin
  }

  /** EXACT distributed distinct counting via bitmap aggregation — the
    * roaring-bitmap/warehouse pattern (bitmap-typed distinct rollups in
    * Doris/ClickHouse/Kylin): each id sets one bit in a 64-bit word
    * keyed by `id div 32` (32-bit words inside BIGINT lanes: DuckDB's checked shift rejects 1<<63, and half-full lanes keep the algebra identical), words merge with an idempotent, commutative,
    * map-side-combinable `bit_or`, and the distinct count is the popcount
    * sum. Unlike COUNT(DISTINCT) there is NO expand/dedup pass — repeated
    * ids fold into the same bit on the map side — and unlike HLL the
    * answer is exact AND re-aggregable (the word table is a reusable
    * bitmap index: union = bit_or, intersection = bit_and of word
    * tables). Emitted beside the built-in exact count with a match flag,
    * so the driver compare proves the bitmap identity, not just shape.
    *
    * Scale posture: one exchange on (group, word) whose cardinality is
    * group × ⌈id-domain/32⌉ — 32× smaller than the distinct pair set,
    * dense-domain-friendly; for sparse 64-bit id spaces the same
    * dataflow carries compressed bitmap payloads (roaring) instead of
    * single words — the aggregation algebra is identical. */
  def bitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    // pmod-derived (word, bit) mapping is TOTAL over the id domain:
    // a plain `%` on a negative id is negative in Spark (shiftleft then
    // masks the count — silently sets a wrong bit) and engine-divergent
    // in DuckDB (truncating `%` vs `<<` semantics). pmod is identical in
    // both engines, and (id − pmod) is exactly divisible by 32, so the
    // truncating `div` equals floor-div — no sign assumption anywhere.
    val words = e.select(col("event_type"),
      expr("(user_id - pmod(user_id, 32)) div 32").as("w"),
      expr("shiftleft(cast(1 as bigint), cast(pmod(user_id, 32) as int))").as("b"))
    val bm = words.groupBy(col("event_type"), col("w"))
      .agg(expr("bit_or(b)").as("bm"))
    val viaBitmap = bm.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_words"),
        sum(expr("bit_count(bm)")).cast("long").as("n_distinct"))
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    viaBitmap.join(exact, "event_type")
      .select(col("event_type"), col("n_words"), col("n_distinct"),
        col("n_exact"), (col("n_distinct") === col("n_exact")).as("exact_match"))
      .sortSmall(col("event_type"))
  }

  val bitmapDistinctSql: String =
    """WITH w AS (
      |  SELECT event_type,
      |    (user_id - ((user_id % 32 + 32) % 32)) // 32 AS w,
      |    (CAST(1 AS BIGINT) << CAST((user_id % 32 + 32) % 32 AS INTEGER)) AS b
      |  FROM events),
      |bm AS (SELECT event_type, w, bit_or(b) AS bm FROM w GROUP BY 1, 2),
      |v AS (
      |  SELECT event_type, COUNT(*) AS n_words,
      |    CAST(SUM(bit_count(bm)) AS BIGINT) AS n_distinct
      |  FROM bm GROUP BY 1),
      |x AS (
      |  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
      |  FROM events GROUP BY 1)
      |SELECT v.event_type, v.n_words, v.n_distinct, x.n_exact,
      |  v.n_distinct = x.n_exact AS exact_match
      |FROM v JOIN x USING (event_type) ORDER BY event_type""".stripMargin
}
