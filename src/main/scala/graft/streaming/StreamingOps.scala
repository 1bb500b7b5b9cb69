package graft.streaming

import graft.Tables
import graft.ops.{dsum, SmallSortOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming inventory (SURVEY.md §2b "Streaming").
  *
  * The batch entries below are the oracle-checkable twins of the streaming
  * plans; `streamingTumblingCounts` is the actual readStream pipeline
  * (file source → watermark → tumbling window → append) exercised by
  * StreamingSpec. In a deployment the same transform runs over a
  * continuous source (Kafka etc.) with identical semantics — that
  * batch/stream unification is Structured Streaming's contract.
  */
object StreamingOps {

  /** Schema-aware event-time normalizer for STREAMING reads — the
    * readStream counterpart of [[graft.Tables.events]]'s dual-encoding
    * branch (testdata has shipped `ts` as both INT64-nanos and
    * TIMESTAMP(MICROS)). Watermarks need an instant TIMESTAMP, so both
    * branches land there: nanos-long → integer `div 1000` rebuild;
    * NTZ-micros → plain cast (UTC session ⇒ identical wall-clock). The
    * branch is decided once at plan-build time from the locked source
    * schema, exactly like the batch loader. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** Tumbling 1-day event-time window aggregation (batch shape). */
  def tumblingDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("day_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .sortSmall(col("day_start"), col("event_type"))

  val tumblingDailySql: String =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY day_start, event_type""".stripMargin

  /** Windowed top-k: the 2 most frequent event types per tumbling day
    * (ties broken by type name) — the trending-items rollup every event
    * dashboard runs; in streaming deployment the same plan runs per
    * closed window on the watermark (rank-on-update via foreachBatch or
    * complete-mode sink). Aggregate first, rank over the tiny per-window
    * census — the window function never touches raw events. */
  def topkWindowed(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("day_start"), col("event_type"), col("n_events"))
    val byDay = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day_start"))
      .orderBy(col("n_events").desc, col("event_type"))
    counts.withColumn("rk", row_number().over(byDay))
      .filter(col("rk") <= 2)
      .sortSmall(col("day_start"), col("rk"))
  }

  val topkWindowedSql: String =
    """WITH c AS (
      |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
      |    event_type, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT day_start, event_type, n_events,
      |    ROW_NUMBER() OVER (PARTITION BY day_start
      |      ORDER BY n_events DESC, event_type) AS rk
      |  FROM c)
      |SELECT day_start, event_type, n_events, rk
      |FROM r WHERE rk <= 2 ORDER BY day_start, rk""".stripMargin

  /** Sliding window (1 day, advancing 12h): each event lands in 2 windows. */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 day", "12 hours").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("n_events"))
      .sortSmall(col("window_start"))

  // Spark's window(ts, 1d, 12h) is epoch-aligned: event t lands in windows
  // starting at floor12h(t) and floor12h(t) - 12h. Mirrored with integer
  // epoch-microsecond arithmetic (make_timestamp keeps it naive/TZ-free).
  val slidingWindowSql: String =
    """WITH b AS (
      |  SELECT make_timestamp((epoch_us(ts) // 43200000000) * 43200000000) AS hi
      |  FROM events),
      |windows AS (
      |  SELECT hi AS window_start FROM b
      |  UNION ALL
      |  SELECT hi - INTERVAL 12 HOUR AS window_start FROM b)
      |SELECT window_start, COUNT(*) AS n_events
      |FROM windows GROUP BY 1 ORDER BY window_start""".stripMargin

  /** Declarative session windows (gap 30 min) — the built-in counterpart of
    * the flatMapGroups sessionization in Sessionize: a session extends to
    * last_event + gap, so a new session starts when the inter-event
    * difference is >= gap (vs the fold's strict >; both variants exposed
    * deliberately). window end = last event + gap, per Spark semantics. */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  val sessionWindowSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |flagged AS (
      |  -- exact microsecond gap, matching Spark's full-precision merge rule
      |  -- (new session iff ts - last >= gap; date_diff('second') would
      |  -- count boundary crossings and disagree on sub-second offsets)
      |  SELECT user_id, ts,
      |    CASE WHEN epoch_us(ts) -
      |        epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
      |        >= 1800000000
      |      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |    THEN 1 ELSE 0 END AS is_new
      |  FROM e),
      |islands AS (
      |  SELECT user_id, ts,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 1800 SECOND AS session_end, COUNT(*) AS n_events
      |FROM islands GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** The streaming pipeline proper: file source (schema locked to the batch
    * table, nanos already normalized), 2-hour watermark for late data,
    * tumbling 1-day window per event_type. Returned unstarted; callers
    * attach a sink (`writeStream`). `eventsDir` must be a DIRECTORY of
    * events parquet files (the file source tails directories). */
  def streamingTumblingCounts(spark: SparkSession, eventsDir: String): DataFrame = {
    val schema = Tables.parquetSchema(spark, eventsDir, nanosAsLong = true)
    // Watermarks require TIMESTAMP (instant) event time; with a UTC session
    // the wall-clock matches the NTZ batch twin, and the output window start
    // is cast back to NTZ for comparability.
    normalizeTs(spark.readStream
      .schema(schema)
      .parquet(eventsDir))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").cast("timestamp_ntz").as("day_start"),
        col("event_type"), col("n_events"))
  }

  /** Watermarked streaming dedup, batch twin: one event per
    * (user_id, event_type), keeping the earliest by event time (event_id
    * tiebreak). The streaming form is `dropDuplicatesWithinWatermark`
    * (state bounded by the watermark horizon instead of growing forever —
    * the only viable dedup posture on an unbounded stream); with an
    * event-time-ordered source, first-arrival == earliest-event-time and
    * the two agree exactly (StreamingSpec drives the real streaming API
    * against this twin). */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    e.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val streamDedupSql: String =
    """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts FROM (
      |  SELECT user_id, event_type, event_id, ts,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** Stream-stream INTERVAL JOIN — the real two-stream plan: error
    * events join the same user's prior events within 1 hour, both sides
    * watermarked so the join state is BOUNDED (rows older than the
    * watermark minus the interval are evicted — without the time-range
    * condition + watermarks, stream-stream join state grows forever;
    * with them, Spark derives the state-retention bound from the
    * predicate). This is the streaming twin of the batch
    * `join_interval_binned` semantics; `StreamingSpec` proves the
    * emitted pair set equals the batch theta join. Returned unstarted. */
  def streamingPriorEventsJoin(spark: SparkSession, eventsDir: String): DataFrame = {
    val schema = Tables.parquetSchema(spark, eventsDir, nanosAsLong = true)
    def src() = normalizeTs(spark.readStream
      .schema(schema)
      .parquet(eventsDir))
    val errors = src()
      .filter(col("event_type") === "error")
      .select(col("user_id").as("a_user"), col("event_id").as("a_event"),
        col("ts").as("a_ts"))
      .withWatermark("a_ts", "2 hours")
    val prior = src()
      .select(col("user_id").as("b_user"), col("event_id").as("b_event"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", "2 hours")
    errors.join(prior,
      col("a_user") === col("b_user") &&
        col("b_ts") < col("a_ts") &&
        col("b_ts") >= col("a_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("a_event"), col("b_event"),
        col("a_ts").cast("timestamp_ntz").as("a_ts"))
  }

  /** The real streaming OHLC plan: readStream → watermark → 15-minute
    * tumbling bars with `min_by`/`max_by` open/close on the UNIQUE
    * composite (ts, event_id) key — a pure declarative aggregate
    * (mergeable partial state, no sort, no analytic window), which is
    * both the streaming-legal formulation and the cheaper batch plan at
    * scale. The batch twin [[graft.ops.TimeSeries.ohlcResample]] derives
    * the same bars via ROW_NUMBER (the cross-engine-checkable shape);
    * StreamingSpec asserts closed-bar agreement between the two. */
  def streamingOhlcBars(spark: SparkSession, eventsDir: String): DataFrame = {
    val schema = Tables.parquetSchema(spark, eventsDir, nanosAsLong = true)
    normalizeTs(spark.readStream
      .schema(schema)
      .parquet(eventsDir))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .select(col("w.start").cast("timestamp_ntz").as("bar"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("sum_value"))
  }

  /** The real streaming dedup plan: readStream → watermark →
    * dropDuplicatesWithinWatermark on the business key. State stores one
    * row per key seen within the watermark horizon and evicts as the
    * watermark advances — bounded memory on an unbounded stream. */
  def streamingDedup(spark: SparkSession, eventsDir: String): DataFrame = {
    val schema = Tables.parquetSchema(spark, eventsDir, nanosAsLong = true)
    normalizeTs(spark.readStream
      .schema(schema)
      .parquet(eventsDir))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").cast("timestamp_ntz").as("ts"))
  }
}
