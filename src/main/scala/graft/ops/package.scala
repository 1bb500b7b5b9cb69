package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Shared helpers for the operator inventory (SURVEY.md §2b).
  *
  * Cross-engine determinism rules (the driver hash-compares our parquet
  * output against DuckDB running `SparkEntry.oracleSql` on the same inputs):
  *
  *   - Sums/averages over doubles are NOT order-independent; Spark's partial
  *     aggregation across 32 shuffle partitions and DuckDB's sequential sum
  *     differ in the last ulps. We cast to DECIMAL(18,4) first (exact,
  *     associative) and cast the exact result back to double — both engines
  *     produce the bit-identical double. Oracle twin fragment:
  *     `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`.
  *   - Every query ends in a total ORDER BY over a unique key combination.
  *   - min/max/count and pure per-row arithmetic on doubles are exact and
  *     need no special handling.
  *   - DuckDB's SUM over BIGINT returns HUGEINT (arrow DECIMAL(38,0)) —
  *     plain AND windowed (`SUM(n) OVER (...)`) — and `//` division
  *     propagates it. Spark's sum(long) stays BIGINT. The driver's hash
  *     is TYPE-sensitive even when values are equal, so every twin
  *     integer sum (and anything derived from one) needs
  *     `CAST(... AS BIGINT)`. `tools/check_oracle.py` compares arrow
  *     type classes and flags this locally (the r7 red class:
  *     agg_mode_per_group / ts_markov_transitions /
  *     graph_pagerank_bipartite all forgot the cast on a windowed sum).
  *   - Integer-overflow symmetry: Spark wraps long·long silently; DuckDB
  *     promotes to HUGEINT (or errors). Any product that can exceed 2⁶³
  *     at the 100 TB posture must either accumulate in DECIMAL on the
  *     Spark side (see `sum(n.cast("decimal(19,0)") * n)` in
  *     giniImpurity/anomalyZscore), pre-reduce its operands (domainQuota
  *     hashes `doc_id % p` before multiplying), or rescale its fixed
  *     point to document-scale operands (bm25TopK's avgdl form) — the
  *     claim "fits int64" must hold for per-ROW/per-GROUP quantities,
  *     not only at test SFs.
  */
package object ops {

  /** Total-order finisher for SMALL (group-domain-sized) final outputs
    * (r20, guide §2.4 — remove shuffles outright): `df.orderBy(cols)`
    * plans an Exchange rangepartitioning, whose range-bounds come from a
    * separate SAMPLING JOB over the child — one extra job per query plus
    * a re-execution of the child's post-shuffle stages, paid to sort
    * outputs that are often 3–10k rows. A single-partition exchange +
    * local sort produces the IDENTICAL total order (every inventory
    * orderBy carries a unique tiebreaker) in one job with no sampling
    * pass. Use ONLY where the output is provably domain-sized (group
    * censuses, top-k tables, curve artifacts): a data-sized result must
    * keep the ranged global sort ([[graft.ops.SortsLimits]]'s
    * sort_global_ranged pins that tier's shape). Measured min-of-7 at
    * sf0.1: dedup_exact_normalized 0.220 → 0.167 s, merge_cdc_apply
    * 0.697 → 0.519 s, before the callers were converted.
    *
    * The boundedness precondition is MACHINE-CHECKED (r21,
    * `SortSmallAuditSpec`): every registered query's plan is walked and
    * any single-partition REPARTITION_BY_NUM exchange must sit over a
    * subtree rooted in aggregates/limits — a caller that puts a raw
    * data-sized result through sortSmall fails CI, not review. */
  implicit class SmallSortOps(private val df: org.apache.spark.sql.DataFrame)
      extends AnyVal {
    def sortSmall(cols: Column*): org.apache.spark.sql.DataFrame =
      df.repartition(1).sortWithinPartitions(cols: _*)
  }

  /** Order-independent, cross-engine-exact sum of a double expression. */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast(DoubleType)

  /** Cross-engine-exact average built from the exact sum.
    * Oracle twin: `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)`. */
  def davg(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast(DoubleType) / count(lit(1))

  /** Bucket id = `graft_sortable_bits(v) >> PctBktShift`: 2^(52−42) =
    * 1024 mantissa slices per binade. A money/quantity domain spanning
    * ≤8 binades occupies ≤8k buckets — the resolution the old
    * range-linear 8192-cell histogram had — but with NO bounds pass
    * (the function is fixed) and exponent-adaptive balance under skew. */
  private val PctBktShift = 42

  /** Spark `percentile`'s interpolation, bit-identical:
    * `(ceil−pos)·v_lo + (pos−floor)·v_hi` (the exact-hit branch returns
    * v_lo untouched). Shared by both chain kinds of
    * [[gridBucketPercentilesWith]] so every output assembles the same
    * double. */
  private def pctInterp(out: String): Column = {
    val pos = col(s"__pos_$out"); val lo = floor(pos); val hi = ceil(pos)
    when(lo === hi, col(s"__vlo_$out")).otherwise(
      (hi.cast(DoubleType) - pos) * col(s"__vlo_$out") +
        (pos - lo.cast(DoubleType)) * col(s"__vhi_$out"))
      .as(out)
  }

  /** EXACT interpolated percentiles as distributed rank selection,
    * instead of Spark's `percentile()` aggregate, whose buffer is the
    * full per-group value list: boxed, serialized across the exchange in
    * partial mode, and group-cardinality-parallel (3 tasks here) after a
    * pre-repartition — measured 1.8–2.4 s per query at sf0.1 for 3-row
    * outputs. Every value column gets its own NARROW column-pruned chain
    * (r19 VERDICT task 2a), shaped by the measured cost model of the r19
    * pair — at bench SFs every subtree execution costs ~0.1 s of
    * scheduling/scan overhead regardless of row count (a 60 M-row
    * `range` sum and a 600 k-row parquet scan both clock ~0.11 s warm),
    * so the win is FEWER SUBTREE EXECUTIONS, not fewer rows:
    *
    *   - NO generator: the r15 unified (vn, value)-exploded census paid
    *     2× struct-explode passes; per-column chains A/B'd 0.95 → 0.66 s
    *     in-shell.
    *   - `gridSpecs` columns (small-domain grids — l_quantity is a
    *     50-value integer grid at every SF) census at FULL value
    *     granularity: the census row IS the boundary value, so the
    *     refinement pass disappears for them entirely (the kcore
    *     histogram-median shape).
    *   - `contSpecs` columns keep two-pass selection (l_extendedprice
    *     measures 594 k distinct of 600 k rows at sf0.1, so a full-value
    *     census would be data-sized and its single-partition census sort
    *     a 100 TB scale defect): (1) every value maps to a FIXED
    *     value-monotone bucket ([[graft.functions.SortableDoubleBits]] >>
    *     [[PctBktShift]] — monotone by construction, so no min/max bounds
    *     pass exists at all) and one map-side-combined count aggregate
    *     builds the bucket census; (2) the cumulative census
    *     (bucket-domain window) locates the bucket holding each needed
    *     rank `floor/ceil(p·(n−1))+1`; (3) refinement re-scans the column
    *     and inner-joins the BROADCAST target locator on (group, bucket)
    *     — only target buckets' rows survive, ranked inside the bucket
    *     per target (global rank = census prefix + local rank — buckets
    *     are value-monotone, so this IS the global order).
    *   - every output assembles `percentile`'s interpolation expression
    *     bit-identically ([[pctInterp]]), so oracle behavior matches the
    *     aggregate exactly.
    *   - assembly is JOIN-FREE: per-chain 3-row results union and
    *     re-aggregate on the group key (max over null-padded columns)
    *     instead of broadcast-joining — a broadcast assembly re-executes
    *     one side's whole chain as the broadcast-exchange job (the v2
    *     A/B arm measured 1.0 s: its shared census fed both the locator
    *     broadcast and the main job and ran twice).
    *
    * At 100 TB: per-column passes are column-pruned scans with map-side
    * combined censuses (≤ groups·cells rows each), the locator broadcast
    * is target-sized, and nothing sorts more than a census partition.
    *
    * Specs are (valueColumn, p, outputName); value columns MUST be
    * non-null (callers filter first — `percentile` ignores nulls, the
    * shared counts here must too). One row per group, unrounded
    * doubles. Callers must have registered
    * [[graft.functions.GraftFunctions]] (every inventory query does). */
  def gridBucketPercentiles(df: org.apache.spark.sql.DataFrame, group: String,
      gridSpecs: Seq[(String, Double, String)],
      contSpecs: Seq[(String, Double, String)]): org.apache.spark.sql.DataFrame =
    gridBucketPercentilesWith(df, group, gridSpecs, contSpecs, Nil)

  /** [[gridBucketPercentiles]] plus extra per-group aggregates (sketches,
    * counts) computed in a sibling map-side-combined chain over the same
    * input. The extras ride the SAME join-free union fold as the
    * percentile chains (null-padded columns, max per group) rather than
    * a broadcast-join assembly: no broadcast-exchange job, no
    * re-execution of either side as a build pass — the r21 motivation
    * for moving agg_approx_quantiles here (3 → 2 jobs). Extra
    * columns may be any orderable type (arrays included); exactly one
    * non-null row per group survives the fold. */
  def gridBucketPercentilesWith(df: org.apache.spark.sql.DataFrame,
      group: String,
      gridSpecs: Seq[(String, Double, String)],
      contSpecs: Seq[(String, Double, String)],
      extraAggs: Seq[(Column, String)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val allOuts = (gridSpecs ++ contSpecs).map(_._3)
    val extNames = extraAggs.map(_._2)
    // the union fold keys every column by name: an extra named like the
    // group or a percentile output would silently merge into it
    require(!extNames.contains(group) && extNames.forall(!allOuts.contains(_)),
      s"extra aggregate names ${extNames.mkString(", ")} must differ from " +
        s"the group column $group and the percentile outputs ${allOuts.mkString(", ")}")
    val wBelow = Window.partitionBy(col(group), col("__vn")).orderBy(col("__k"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(col(group), col("__vn"))
    // census rows (group, __vn, __k, __c) -> cumulative (+__below, +__n)
    def cumulate(census: org.apache.spark.sql.DataFrame) = census
      .withColumn("__below", coalesce(sum(col("__c")).over(wBelow), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(wTot))
    def padded(res: org.apache.spark.sql.DataFrame, outs: Seq[String]) =
      res.select((col(group) +: allOuts.map(o =>
        if (outs.contains(o)) col(o) else lit(null).cast(DoubleType).as(o))): _*)
    // ---- grid chains: census at value granularity, no refinement ----
    val gridChains = gridSpecs.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (v, specs) =>
        val census = df
          .groupBy(col(group), col(v).cast(DoubleType).as("__k"))
          .agg(count(lit(1)).as("__c"))
          .withColumn("__vn", lit(v))
        val cum = cumulate(census)
        val aggCols = specs.flatMap { case (_, p, out) =>
          val pos = lit(p) * (col("__n") - 1).cast(DoubleType)
          val rlo = floor(pos) + 1
          val rhi = ceil(pos) + 1
          Seq(
            min(when(rlo > col("__below") && rlo <= col("__below") + col("__c"),
              col("__k"))).as(s"__vlo_$out"),
            min(when(rhi > col("__below") && rhi <= col("__below") + col("__c"),
              col("__k"))).as(s"__vhi_$out"),
            max(pos).as(s"__pos_$out"))
        }
        val res = cum.groupBy(col(group)).agg(aggCols.head, aggCols.tail: _*)
          .select((col(group) +: specs.map { case (_, _, out) => pctInterp(out) }): _*)
        padded(res, specs.map(_._3))
    }
    // ---- continuous chains: bucket census locator + refinement ----
    val contChains = contSpecs.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (v, specs) =>
        val census = df
          .select(col(group), col(v).cast(DoubleType).as("__vv"))
          .withColumn("__k", shiftright(
            call_function("graft_sortable_bits", col("__vv")), PctBktShift))
          .groupBy(col(group), col("__k")).agg(count(lit(1)).as("__c"))
          .withColumn("__vn", lit(v))
        val specArr = array(specs.flatMap { case (_, p, out) =>
          val pos = lit(p) * (col("__n") - 1).cast(DoubleType)
          Seq(
            struct(lit(out).as("out"), lit("lo").as("which"),
              (floor(pos) + 1).as("rank"), pos.as("pos")),
            struct(lit(out).as("out"), lit("hi").as("which"),
              (ceil(pos) + 1).as("rank"), pos.as("pos")))
        }: _*)
        val tloc = cumulate(census).withColumn("__t", explode(specArr))
          .filter(col("__t.rank") > col("__below") &&
            col("__t.rank") <= col("__below") + col("__c"))
          .select(col(group), col("__k"), col("__t.out").as("__out"),
            col("__t.which").as("__which"), col("__t.rank").as("__rank"),
            col("__t.pos").as("__pos"), col("__below"))
        val pp = df.select(col(group), col(v).cast(DoubleType).as("__vv"))
          .withColumn("__k", shiftright(
            call_function("graft_sortable_bits", col("__vv")), PctBktShift))
        val wl = Window.partitionBy(col(group), col("__k"), col("__out"),
          col("__which")).orderBy(col("__vv"))
        val vals = pp.join(broadcast(tloc), Seq(group, "__k"))
          .withColumn("__lrn", row_number().over(wl))
          .filter(col("__below") + col("__lrn") === col("__rank"))
        val aggCols = specs.flatMap { case (_, _, out) =>
          Seq(
            min(when(col("__out") === out && col("__which") === "lo",
              col("__vv"))).as(s"__vlo_$out"),
            min(when(col("__out") === out && col("__which") === "hi",
              col("__vv"))).as(s"__vhi_$out"),
            max(when(col("__out") === out, col("__pos"))).as(s"__pos_$out"))
        }
        val res = vals.groupBy(col(group)).agg(aggCols.head, aggCols.tail: _*)
          .select((col(group) +: specs.map { case (_, _, out) => pctInterp(out) }): _*)
        padded(res, specs.map(_._3))
    }
    // ---- join-free assembly: union the null-padded chains, fold by max
    val extChains =
      if (extraAggs.isEmpty) Nil
      else {
        val extAggCols = extraAggs.map { case (c, n) => c.as(n) }
        Seq(df.groupBy(col(group)).agg(extAggCols.head, extAggCols.tail: _*))
      }
    val extTypes: Map[String, org.apache.spark.sql.types.DataType] =
      extChains.headOption
        .map(_.schema.fields.map(f => f.name -> f.dataType).toMap)
        .getOrElse(Map.empty)
    val unionCols = allOuts ++ extNames
    def padTo(res: org.apache.spark.sql.DataFrame) = {
      val have = res.columns.toSet
      res.select((col(group) +: unionCols.map { o =>
        if (have.contains(o)) col(o)
        else lit(null).cast(extTypes.getOrElse(o, DoubleType)).as(o)
      }): _*)
    }
    val unioned = (gridChains ++ contChains ++ extChains)
      .map(padTo).reduce(_ unionByName _)
    val folded = unionCols.map(o => max(col(o)).as(o))
    unioned.groupBy(col(group)).agg(folded.head, folded.tail: _*)
  }
}
