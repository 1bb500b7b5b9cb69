package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced join/reshape operators beyond the plain join inventory: as-of
  * join, pivot, and lateral-view token explosion.
  *
  * The as-of join follows the compose-first rule (SURVEY.md: prefer
  * composing existing ops over a custom SparkPlan when semantics allow):
  * it is built as union → single window pass — one shuffle on the join
  * key, O(n log n) per partition, no range self-join blowup. That is the
  * scalable formulation (a custom physical operator would save constants,
  * not complexity). The DuckDB twin uses native ASOF JOIN, so the oracle
  * also cross-validates our composition against an independent as-of
  * implementation.
  */
object AdvancedJoins {

  /** For every purchase event: the user's most recent view event at or
    * before it (left as-of semantics — purchases with no prior view keep
    * nulls). Union-tag + last(ignoreNulls) over a time-ordered window;
    * views sort before purchases at equal timestamps (kind 0 < 1) so ties
    * match ASOF's `>=`. */
  def asofPurchaseView(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(0).as("kind"), col("event_id").as("v_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(1).as("kind"), lit(null).cast("long").as("v_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.union(purchases)
      .withColumn("view_id", last(col("v_id"), ignoreNulls = true).over(w))
      .withColumn("view_ts",
        last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(
        col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("view_id"), col("view_ts"),
        (expr("unix_micros(cast(ts as timestamp))") -
          expr("unix_micros(cast(view_ts as timestamp))")).as("gap_us"))
      .orderBy(col("purchase_id"))
  }

  val asofPurchaseViewSql: String =
    """WITH v AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
      |  WHERE event_type = 'view'),
      |p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
      |  WHERE event_type = 'purchase')
      |SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
      |  v.event_id AS view_id, v.ts AS view_ts,
      |  epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
      |FROM p ASOF LEFT JOIN v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY purchase_id""".stripMargin

  private val Priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Pivot (long → wide reshape): order counts per status × priority.
    * Pivot values are declared explicitly — at scale an implicit pivot
    * triggers a distinct-collect over the column; declared values keep the
    * plan a single pass. */
  def pivotStatusPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", Priorities)
      .count()
      .sortSmall(col("o_orderstatus"))
  }

  val pivotStatusPrioritySql: String =
    """SELECT o_orderstatus,
      |  COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS "1-URGENT",
      |  COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS "2-HIGH",
      |  COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS "3-MEDIUM",
      |  COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS "4-NOT SPECIFIED",
      |  COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS "5-LOW"
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Lateral view / UDTF shape: explode document tokens, global top-20
    * token frequencies. Explode → partial-aggregated count: the shuffle
    * carries (token, partial count), not the exploded rows. */
  def topTokens(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)
  }

  val topTokensSql: String =
    """SELECT token, COUNT(*) AS n FROM (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
      |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin

  /** Exact percentiles (median / p90) per return flag — linear
    * interpolation, same formula in both engines, rounded to 6.
    * Computed by narrow per-column chains
    * ([[graft.ops.gridBucketPercentiles]]): l_quantity is a 50-value
    * grid, resolved census-only; l_extendedprice is effectively
    * continuous, bucket census + refinement. No `percentile()` boxed
    * value-list buffers (2.0 s at sf0.1; these chains ~0.6 s, BENCH_NOTES
    * r20), same values — the helper reproduces the aggregate's
    * interpolation expression bit-identically. Both value columns are
    * non-null in lineitem. */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val li = Tables.lineitem(spark, dir)
    gridBucketPercentiles(li, "l_returnflag",
        gridSpecs = Seq(
          ("l_quantity", 0.5, "p50_qty"),
          ("l_quantity", 0.9, "p90_qty")),
        contSpecs = Seq(("l_extendedprice", 0.5, "p50_price")))
      .select(col("l_returnflag"),
        round(col("p50_qty"), 6).as("p50_qty"),
        round(col("p90_qty"), 6).as("p90_qty"),
        round(col("p50_price"), 6).as("p50_price"))
      .sortSmall(col("l_returnflag"))
  }

  val percentilesSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
      |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
      |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Interval join executed as a BINNED equi-join: for every error event,
    * count the same user's events in the preceding hour (exclusive of the
    * error itself).
    *
    * A literal translation is a theta self-join (`b.ts < a.ts AND b.ts >=
    * a.ts - 1h`) — a per-user cartesian that Spark would execute as a
    * nested-loop join, O(n²) per user at 100 TB. Instead each probe row
    * replicates to its hour bin and the one before (an interval of width W
    * ≤ bin size can only span 2 bins), candidates equi-join on
    * (user_id, bin) — a plain hash shuffle, linear in input plus true
    * matches — and the exact interval predicate evaluates inside the
    * conditional count. The LEFT join keeps zero-match errors at
    * n_prior = 0, and a candidate matches exactly one of the two probe
    * replicas (its own bin), so nothing double-counts. The DuckDB twin
    * runs the plain theta join, independently cross-checking the binning. */
  def priorEventsWindow(spark: SparkSession, dir: String): DataFrame =
    priorEventsWindowDf(Tables.events(spark, dir))

  private[ops] def priorEventsWindowDf(events: DataFrame): DataFrame = {
    val e = events
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
        // Hour bin from the NTZ wall-clock fields directly (days-since-epoch
        // × 24 + hour) — NOT unix_seconds(cast(..)), whose NTZ→LTZ step is
        // session-timezone-dependent and non-monotonic across a DST
        // fall-back, which could place a candidate 2 bins before its probe
        // and silently undercount.
        expr("unix_date(cast(ts as date)) * 24 + hour(ts)").as("bin"))
    val probe = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), col("ts"),
        explode(array(col("bin") - 1, col("bin"))).as("bin"))
    probe.as("a")
      .join(e.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.bin") === col("b.bin"),
        "left")
      .groupBy(col("a.event_id").as("event_id"))
      .agg(count(when(col("b.ts") < col("a.ts") &&
        col("b.ts") >= col("a.ts") - expr("INTERVAL 1 HOUR"),
        lit(1))).as("n_prior"))
      .orderBy(col("event_id"))
  }

  /** Attribution pairs — the other canonical interval-join shape: every
    * (view, purchase) pair by the same user with the purchase inside the
    * 30 minutes AFTER the view, with the exact attribution lag. This is
    * the batch twin of a stream-stream interval join (two watermarked
    * streams, join condition `p.ts ∈ (v.ts, v.ts + 30m]`; the real
    * readStream version of the same dataflow is
    * [[graft.streaming.StreamingOps.streamingPriorEventsJoin]]).
    *
    * Executed binned like [[priorEventsWindowDf]]: views replicate to
    * their 30-minute bin and the next (a width-W interval spans ≤ 2
    * width-W bins), purchases stay in their own bin, candidates equi-join
    * on (user_id, bin) — linear shuffle, no per-user nested loop. A view
    * replica pair can match a purchase at most once (the two replicas
    * live in different bins). Bins derive from NTZ wall-clock fields —
    * timezone-independent (see the DST note in priorEventsWindowDf). The
    * lag is an exact integer microsecond diff, so both engines agree
    * bit-for-bit. */
  def attributionPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
        expr("unix_date(cast(ts as date)) * 48 + hour(ts) * 2 + minute(ts) div 30")
          .as("bin"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("v_event"),
        col("ts").as("v_ts"),
        explode(array(col("bin"), col("bin") + 1)).as("bin"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_event"),
        col("ts").as("p_ts"), col("bin"))
    views.join(purchases, Seq("user_id", "bin"))
      .filter(col("p_ts") > col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTE"))
      .select(col("user_id"), col("v_event"), col("p_event"),
        expr("timestampdiff(MICROSECOND, v_ts, p_ts)").as("lag_us"))
      .orderBy(col("p_event"), col("v_event"))
  }

  val attributionPairsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events)
      |SELECT v.user_id, v.event_id AS v_event, p.event_id AS p_event,
      |  date_diff('microsecond', v.ts, p.ts) AS lag_us
      |FROM e v JOIN e p
      |  ON p.user_id = v.user_id
      |  AND v.event_type = 'view' AND p.event_type = 'purchase'
      |  AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
      |ORDER BY p_event, v_event""".stripMargin

  val priorEventsWindowSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events)
      |SELECT a.event_id, COUNT(b.event_id) AS n_prior
      |FROM e a LEFT JOIN e b
      |  ON b.user_id = a.user_id AND b.ts < a.ts
      |  AND b.ts >= a.ts - INTERVAL 1 HOUR
      |WHERE a.event_type = 'error'
      |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin

  /** Strictly-ordered conversion funnel: users who viewed, then clicked
    * AFTER their first view, then purchased AFTER that first qualifying
    * click. Each stage is one grouped min-timestamp aggregate joined to
    * the previous stage's frontier — stage frames shrink monotonically, so
    * at scale each join's build side (the prior stage) is far smaller than
    * the event stream and AQE broadcasts it; the event side shuffles at
    * most once per stage on user_id. No window over the whole per-user
    * event history (the naive formulation sorts every user's events). */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    def stage(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
    stage("a_any", e.select(col("user_id")).distinct())
      .unionAll(stage("b_view", v))
      .unionAll(stage("c_click_after_view", c))
      .unionAll(stage("d_purchase_after_click", p))
      .sortSmall(col("stage"))
  }

  val eventsFunnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |v AS (
      |  SELECT user_id, MIN(ts) AS v_ts FROM e
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS c_ts FROM e
      |  JOIN v ON v.user_id = e.user_id AND e.ts > v.v_ts
      |  WHERE event_type = 'click' GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS p_ts FROM e
      |  JOIN c ON c.user_id = e.user_id AND e.ts > c.c_ts
      |  WHERE event_type = 'purchase' GROUP BY e.user_id)
      |SELECT 'a_any' AS stage, COUNT(DISTINCT user_id) AS n_users FROM e
      |UNION ALL SELECT 'b_view', COUNT(*) FROM v
      |UNION ALL SELECT 'c_click_after_view', COUNT(*) FROM c
      |UNION ALL SELECT 'd_purchase_after_click', COUNT(*) FROM p
      |ORDER BY stage""".stripMargin

  /** Cohort retention matrix: users bucketed by first-seen week (cohort),
    * counted per week-offset of later activity — THE product-analytics
    * rollup over an event log. Dataflow: per-user first-day aggregate
    * (key-only shuffle), distinct (user, day) activity, one join back on
    * user_id (the first-day side is user-cardinality — small relative to
    * events; Catalyst broadcasts it when stats allow), then a grouped
    * distinct count. Week arithmetic is DATE-level (no session-tz
    * sensitivity); both engines' date_trunc('week') is ISO Monday. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("d"))
    val firstDay = e.groupBy(col("user_id")).agg(min(col("d")).as("first_day"))
    e.distinct()
      .join(firstDay, "user_id")
      .select(
        date_trunc("week", col("first_day")).cast("date").as("cohort_week"),
        expr("datediff(cast(date_trunc('week', d) as date), " +
          "cast(date_trunc('week', first_day) as date)) div 7")
          .cast("long").as("week_no"),
        col("user_id"))
      .groupBy(col("cohort_week"), col("week_no"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .sortSmall(col("cohort_week"), col("week_no"))
  }

  val retentionCohortsSql: String =
    """WITH e AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |fs AS (
      |  SELECT user_id, MIN(d) AS first_day FROM e GROUP BY user_id)
      |SELECT CAST(date_trunc('week', first_day) AS DATE) AS cohort_week,
      |  date_diff('day', date_trunc('week', first_day), date_trunc('week', d)) // 7
      |    AS week_no,
      |  COUNT(DISTINCT e.user_id) AS n_users
      |FROM e JOIN fs USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_week, week_no""".stripMargin

  // Fuzzy-join edit-distance threshold. k=2 (ed<=1 pairs don't exist in
  // the bigram domain at any SF; ed<=2 yields ~420). The deletion-key
  // completeness argument below holds for ANY k; the key count per
  // string is sum_{i<=k} C(L,i) — for k=2 and L<=24 at most 1+24+276,
  // and each key is an equi-join key, so raising k trades key volume,
  // never join shape.
  private val FuzzyK = 2

  /** Fuzzy string self-join under an edit-distance threshold — the
    * record-linkage primitive (matching near-identical titles, names,
    * phrases across a corpus). Domain: the distinct word bigrams of the
    * document corpus (one explode, shared shape with
    * [[TextAnalysis.bigramLmScore]]).
    *
    * Candidate generation is the DELETION-NEIGHBORHOOD join (the
    * symmetric-delete / "SymSpell" scheme, a folk refinement of
    * Mor/Fraenkel 1982's deletion-variant dictionaries): each string
    * emits every variant obtainable by deleting at most [[FuzzyK]]
    * characters, candidates are pairs sharing a variant, and an exact
    * `levenshtein` check verifies. COMPLETE for ed<=k: an optimal
    * alignment with e<=k edits deletes from s the <=e positions it
    * substitutes-or-deletes and from t the <=e positions it
    * substitutes-or-inserts, leaving the SAME string — so some common
    * variant always exists and the filter can only over-generate (false
    * candidates die at the verify). No false negatives, no cartesian.
    *
    * Scale posture: per-string fan-out is O(L^k) keys built by one
    * codegen'd nested-transform projection (no UDF); the candidate join
    * is a plain equi-join on the variant key whose bucket sizes are
    * bounded by how many corpus strings share a deletion variant —
    * corpus-driven like every LSH tier here, with the same hot-bucket
    * cap available if a degenerate key family ever saturates (not needed
    * at these SFs). Verify cost is |candidate pairs|, each a
    * constant-time levenshtein on short strings. The quadratic
    * all-pairs program exists ONLY on the oracle side (916² length-
    * banded pairs — DuckDB-cheap), exactly like the dedup ground-truth
    * twins. */
  def fuzzyEditDistJoin(spark: SparkSession, dir: String): DataFrame = {
    val bi = Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t)-2), i -> concat(t[i], ' ', t[i+1]))"))
        .as("s"))
      .distinct()
    // all <=2-deletion variants: the string itself, every 1-deletion,
    // every unordered 2-deletion (delete j then i, j > i)
    val keyed = bi.select(col("s"), explode(expr(
      """concat(
        |  array(s),
        |  transform(sequence(0, length(s)-1),
        |    i -> concat(substring(s, 1, i), substring(s, i+2, length(s)))),
        |  flatten(transform(sequence(0, length(s)-2),
        |    i -> transform(sequence(i+1, length(s)-1),
        |      j -> concat(substring(s, 1, i),
        |                  substring(s, i+2, j-i-1),
        |                  substring(s, j+2, length(s)))))))""".stripMargin))
      .as("k")).distinct()
    keyed.as("a").join(keyed.as("b"),
        col("a.k") === col("b.k") && col("a.s") < col("b.s"))
      .select(col("a.s").as("s1"), col("b.s").as("s2"))
      .distinct()
      .withColumn("dist", levenshtein(col("s1"), col("s2")))
      .filter(col("dist") <= FuzzyK)
      .sortSmall(col("s1"), col("s2"))
  }

  /** Oracle twin: the exhaustive length-banded quadratic program — an
    * independent formulation (no deletion keys), so the driver compare
    * also proves the candidate scheme lossless. */
  val fuzzyEditDistJoinSql: String =
    s"""WITH toks AS (
      |  SELECT string_split(text, ' ') AS t FROM documents),
      |bi AS (
      |  SELECT DISTINCT
      |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
      |  FROM toks WHERE len(t) >= 2)
      |SELECT a.s AS s1, b.s AS s2,
      |  CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
      |FROM bi a JOIN bi b
      |  ON a.s < b.s AND abs(length(a.s) - length(b.s)) <= $FuzzyK
      |WHERE levenshtein(a.s, b.s) <= $FuzzyK
      |ORDER BY s1, s2""".stripMargin
}
