package graft.features

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-visible flagship parity: the FeaturesGoldenSpec anchors promoted
  * into an inventory query, so reference parity shows up in the driver's
  * CORRECTNESS gate, not only in sbt.
  *
  * Applies [[Features]] to the reference's own ingest output
  * (`/root/reference/01.parquet`) and emits a (metric, value) census:
  * row count, all 24 one-hot hour sums, all 7 one-hot day-of-week sums
  * (including the reference's S12 bug — dead `dow0`, 8,766 unencoded
  * Saturday rows), the JFK-box row count (488), the duration anchors
  * (9 negative durations, min −85,860 s, max 86,367 s, 0 nulls), and —
  * the strongest check — the two-way `exceptAll` row-level diff against
  * the reference's committed `02.parquet` (both 0: every one of the
  * 49,647 × 53 values agrees). The oracle twin is the corresponding
  * constant table (values independently verified against 02.parquet with
  * PyArrow — FIXTURES.md §1c), so any drift in the feature semantics
  * turns the driver's gate red.
  *
  * One aggregate pass over 49,647 rows plus one exceptAll shuffle —
  * trivial at this size; at 100 TB a parity census like this is exactly
  * the shape of a reconciliation job (full-scan aggregate + anti-diff),
  * all map-side combined. */
object GoldenParity {
  /** Reference checkout root — env-overridable (like SPARK_GRAFT_SF_DIR)
    * so a host with the fixture elsewhere can run the suite; the census
    * queries' `dir` argument is deliberately unused (their input is the
    * reference's fixed golden pair, so their cost is CONSTANT across SFs —
    * per-SF bench totals include it as a fixed additive term). */
  private def refRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_REF_DIR", "/root/reference")

  /** The reference fixture `name` (`01.parquet` or `02.parquet`): the one
    * place every fixture reader, specs included, finds it. */
  def refPath(name: String): String = s"$refRoot/$name"

  /** Reference fixture `name` through [[graft.Tables.parquet]]; a missing
    * fixture raises one message that names the file and the variable. */
  def reference(spark: SparkSession, name: String): DataFrame = {
    val path = refPath(name)
    if (!new java.io.File(path).exists())
      throw new java.io.FileNotFoundException(s"reference fixture $path is missing; " +
        "set SPARK_GRAFT_REF_DIR to the directory that holds 01.parquet and 02.parquet")
    graft.Tables.parquet(spark, path)
  }

  def census(spark: SparkSession, dir: String): DataFrame = {
    val derived = Features(reference(spark, "01.parquet"))
    val golden = reference(spark, "02.parquet")
    // The two-way multiset diff runs on 64-bit row FINGERPRINTS
    // (xxhash64 over every column, golden column order on both sides):
    // identical diff-count semantics — a row is unmatched iff its
    // fingerprint is unmatched, up to a ~n²/2⁶⁴ ≈ 1.3e-10 collision
    // probability at 49,647 rows — while the shuffles carry 8-byte rows
    // instead of 53-column ones (2.3 → ~0.9 s for the whole census).
    // Value-level 53-column exceptAll equality stays pinned in
    // FeaturesGoldenSpec; this census is the driver-visible
    // reconciliation, exactly the fingerprint-compare shape a 100 TB
    // parity job uses.
    //
    // r20 (guide §2.4): BOTH diff directions come from ONE
    // count-by-fingerprint full-outer join instead of two exceptAlls.
    // |A∖B| = Σ_h max(0, cntA(h)−cntB(h)) and symmetrically — the
    // definition of multiset difference — so the two directions share
    // the same per-side count aggregate instead of re-evaluating each
    // side's whole subtree per direction. The old shape executed the
    // Features pipeline 3× and scanned the two parquet inputs 10× in
    // total (each exceptAll re-planned both sides); this one evaluates
    // Features 2× (census + fingerprint pass) and scans each input at
    // most twice: 10 scans/5 exchanges → 3 scans/3 small exchanges
    // (plans/r20/flagship_golden_parity_{before,after}.txt).
    // r20b (guide §2.3/§2.4 again, after measuring the fused shape): the
    // census now RIDES the derived side's fingerprint aggregate — the
    // per-h partial census re-aggregates losslessly (sums of sums,
    // sum(cd) for the count, min of mins, max of maxes), so the Features
    // pipeline runs ONCE and 01.parquet is scanned ONCE (probe: the
    // census-side scan+Features+stack was 0.15–0.2 s of pure repeat
    // work; the reference files are single-partition, so every repeated
    // pass is serial — a parallelizing repartition was probed and LOST,
    // 0.286 → 0.356, the 53-column shuffle costs more than the serial
    // compute it spreads). Everything assembles in one tree whose final
    // 35-row sort is a sortSmall (no range-sampling job; this query has
    // no memoized frames, so the eval-tier warmup caveat does not
    // apply).
    val gcols = golden.columns.toSeq
    val censusAggs =
      (0 until 24).map(h =>
        sum(col(s"Pickup_hour_is_$h")).cast("long").as(f"h$h%02d")) ++
      (0 until 7).map(d =>
        sum(col(s"Pickup_dow_is_$d")).cast("long").as(s"dow$d")) ++
      Seq(
        // INTEGER-INDICATOR INVARIANT (r20 ADVICE): the long cast lands
        // on per-fingerprint PARTIAL sums here (the legacy shape cast
        // once after the final sum). Identical only because every summed
        // column is an exact 0/1 integer indicator — a fractional column
        // would truncate per group and diverge from the old census. Keep
        // the inputs integer or move the cast to the re-aggregation.
        sum(col("Pickup_or_dropoff_at_JFK")).cast("long").as("jfk_rows"),
        sum(when(col("Duration_seconds") < 0, 1).otherwise(0)).cast("long")
          .as("neg_durations"),
        min(col("Duration_seconds")).as("min_duration"),
        max(col("Duration_seconds")).as("max_duration"),
        sum(when(col("Duration_seconds").isNull, 1).otherwise(0)).cast("long")
          .as("null_durations"))
    val byH = derived
      .groupBy(xxhash64(gcols.map(col): _*).as("h"))
      .agg(count(lit(1)).as("cd"), censusAggs: _*)
    val cg = golden.select(xxhash64(gcols.map(col): _*).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("cg"))
    // full-outer on the fingerprint: golden-only rows carry null census
    // partials (sum/min/max skip them), derived-only rows carry null cg
    val reAggs =
      (0 until 24).map(h => sum(col(f"h$h%02d")).as(f"h$h%02d")) ++
      (0 until 7).map(d => sum(col(s"dow$d")).as(s"dow$d")) ++
      Seq(
        coalesce(sum(col("cd")), lit(0L)).as("n_rows"),
        sum(col("jfk_rows")).as("jfk_rows"),
        sum(col("neg_durations")).as("neg_durations"),
        min(col("min_duration")).as("min_duration"),
        max(col("max_duration")).as("max_duration"),
        sum(col("null_durations")).as("null_durations"),
        coalesce(sum(greatest(
          coalesce(col("cd"), lit(0L)) - coalesce(col("cg"), lit(0L)),
          lit(0L))), lit(0L)).as("diff_derived_minus_golden"),
        coalesce(sum(greatest(
          coalesce(col("cg"), lit(0L)) - coalesce(col("cd"), lit(0L)),
          lit(0L))), lit(0L)).as("diff_golden_minus_derived"))
    val wide = byH.join(cg, Seq("h"), "full_outer")
      .agg(reAggs.head, reAggs.tail: _*)
    val names = wide.columns
    import graft.ops.SmallSortOps
    wide.select(expr(
      s"stack(${names.length}, ${names.map(n => s"'$n', $n").mkString(", ")})" +
        " as (metric, value)"))
      .sortSmall(col("metric"))
  }

  /** Corrected-day-of-week flagship twin (SURVEY.md §2a S12, VERDICT r10
    * item 7): the same census shape over [[Features]] with
    * `bugCompat=false` — the 0=Sunday..6=Saturday encoding the reference
    * INTENDED (`/root/reference/02.py:57-65` loops d=0..6 against a
    * 1=Sunday..7=Saturday DAYOFWEEK, so its `dow_0` is dead and Saturday
    * rows are unencoded). Under the fix every buggy sum shifts down one
    * slot (fixed dow d ≡ buggy dow d+1) and the 8,766 Saturdays that the
    * bug dropped reappear in dow6 — pinned by `encoded_rows` = Σ dows =
    * n_rows, the exactly-one-hot invariant the buggy encoding violates
    * (its Σ is 40,881). Oracle is the corresponding constant table,
    * derived independently of the Spark code path: the six surviving
    * buggy sums are PyArrow-verified against the reference's committed
    * 02.parquet (FIXTURES.md §1c), and dow6 is forced by the row total. */
  def fixedDowCensus(spark: SparkSession, dir: String): DataFrame = {
    val derived = Features(reference(spark, "01.parquet"), bugCompat = false)
    val dowSums = (0 until 7).map(d =>
      sum(col(s"Pickup_dow_is_$d")).cast("long").as(s"dow$d"))
    val aggCols = dowSums ++ Seq(
      count(lit(1)).as("n_rows"),
      (0 until 7).map(d => sum(col(s"Pickup_dow_is_$d")))
        .reduce(_ + _).cast("long").as("encoded_rows"))
    val wide = derived.agg(aggCols.head, aggCols.tail: _*)
    val names = wide.columns
    import graft.ops.SmallSortOps
    wide.select(expr(
      s"stack(${names.length}, ${names.map(n => s"'$n', $n").mkString(", ")})" +
        " as (metric, value)"))
      .sortSmall(col("metric"))
  }

  val fixedDowCensusSql: String = {
    // buggy sums [dead, Sun..Fri] shift to fixed [Sun..Fri, Sat];
    // Sat = 49,647 − (7858+7315+5253+5944+6585+7926) = 8,766.
    val fixedDows = Seq(7858L, 7315L, 5253L, 5944L, 6585L, 7926L, 8766L)
    val rows =
      fixedDows.zipWithIndex.map { case (v, d) => s"('dow$d', $v)" } ++
      Seq("('n_rows', 49647)", "('encoded_rows', 49647)")
    s"""SELECT metric, CAST(value AS BIGINT) AS value FROM (VALUES
       |  ${rows.mkString(",\n  ")}
       |) AS t(metric, value) ORDER BY metric""".stripMargin
  }

  /** Constant-table oracle twin: the independently verified anchors. */
  val censusSql: String = {
    val hours = Seq(2001, 1596, 1231, 897, 738, 430, 549, 977, 1544, 1771,
      1898, 1889, 1954, 2049, 2300, 2721, 3027, 3301, 3620, 3704, 3373,
      3016, 2734, 2327)
    val dows = Seq(0L, 7858L, 7315L, 5253L, 5944L, 6585L, 7926L)
    val rows =
      hours.zipWithIndex.map { case (v, h) => f"('h$h%02d', $v)" } ++
      dows.zipWithIndex.map { case (v, d) => s"('dow$d', $v)" } ++
      Seq("('n_rows', 49647)", "('jfk_rows', 488)", "('neg_durations', 9)",
        "('min_duration', -85860)", "('max_duration', 86367)",
        "('null_durations', 0)", "('diff_derived_minus_golden', 0)",
        "('diff_golden_minus_derived', 0)")
    s"""SELECT metric, CAST(value AS BIGINT) AS value FROM (VALUES
       |  ${rows.mkString(",\n  ")}
       |) AS t(metric, value) ORDER BY metric""".stripMargin
  }
}
