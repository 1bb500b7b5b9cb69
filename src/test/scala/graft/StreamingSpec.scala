package graft

import graft.streaming.{Sessionize, StreamingOps}
import java.time.{LocalDateTime, ZoneOffset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Structured-Streaming behavior: the streaming plans must agree with their
  * batch twins on the same data. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("streaming tumbling window over the file source equals the batch twin") {
    // the file source tails a directory; stage the single parquet into one
    val staged = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val stream = StreamingOps.streamingTumblingCounts(spark, staged.toString)
    val q = stream.writeStream
      .format("memory")
      .queryName("tumbling_test")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    // Append mode only emits windows the watermark has passed; the last
    // day's window stays open, so compare on the common prefix.
    val streamed = spark.table("tumbling_test")
      .select(col("day_start"), col("event_type"), col("n_events"))
    val batch = StreamingOps.tumblingDaily(spark, dir)
      .select(col("day_start"), col("event_type"), col("n_events").cast("long").as("n_events"))
    val maxClosed = streamed.agg(max(col("day_start"))).head().getAs[LocalDateTime](0)
    assert(streamed.count() > 0)
    val batchClosed = batch.filter(col("day_start") <= lit(maxClosed))
    assert(streamed.exceptAll(batchClosed).count() === 0L)
    assert(batchClosed.exceptAll(streamed).count() === 0L)
  }

  test("streaming OHLC bars equal the batch resample on closed windows") {
    // min_by/max_by over the unique (ts, event_id) key in the stream must
    // reproduce the batch twin's ROW_NUMBER-derived open/close exactly —
    // two independent formulations of the same bars.
    val staged = java.nio.file.Files.createTempDirectory("events_ohlc")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val q = StreamingOps.streamingOhlcBars(spark, staged.toString)
      .writeStream
      .format("memory")
      .queryName("ohlc_test")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("ohlc_test")
    val maxClosed = streamed.agg(max(col("bar"))).head().getAs[LocalDateTime](0)
    assert(streamed.count() > 0)
    val batch = graft.ops.TimeSeries.ohlcResample(spark, dir)
      .select(col("bar"), col("event_type"), col("open"), col("high"),
        col("low"), col("close"), col("n_events").cast("long").as("n_events"),
        col("sum_value"))
      .filter(col("bar") <= lit(maxClosed))
    assert(streamed.exceptAll(batch).count() === 0L)
    assert(batch.exceptAll(streamed).count() === 0L)
  }

  test("streaming sessionization emits the same closed sessions as the batch fold") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val base = LocalDateTime.of(2024, 3, 1, 0, 0, 0).toInstant(ZoneOffset.UTC)
    val evs = Seq(
      // user 1: two sessions separated by a 2.5h gap
      Sessionize.Ev(1L, 1L, base),
      Sessionize.Ev(1L, 2L, base.plusSeconds(600)),
      Sessionize.Ev(1L, 3L, base.plusSeconds(3 * 3600)),
      // user 2: one session
      Sessionize.Ev(2L, 4L, base.plusSeconds(300)),
      Sessionize.Ev(2L, 5L, base.plusSeconds(1200)))

    val mem = MemoryStream[Sessionize.Ev]
    val q = Sessionize.sessionizeStream(mem.toDS())
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode(OutputMode.Append()).start()
    mem.addData(evs: _*)
    q.processAllAvailable()
    // advance watermark far past the horizon so open sessions time out
    mem.addData(Sessionize.Ev(99L, 999L, base.plusSeconds(2 * 86400)))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sessions_test")
      .filter(col("user_id") =!= 99L)
      .select(col("user_id"), col("session_id"), col("session_start"),
        col("session_end"), col("n_events"))
    val batch = evs.groupBy(_.user_id).flatMap { case (u, es) =>
      Sessionize.foldSessions(u, es.iterator)
    }.toSeq.toDS().select(col("user_id"), col("session_id"),
      col("session_start"), col("session_end"), col("n_events"))

    assert(streamed.exceptAll(batch).count() === 0L)
    assert(batch.exceptAll(streamed).count() === 0L)
  }

  test("second microbatch still reads nanos parquet with the session conf untouched") {
    // The source schema reads TIMESTAMP(NANOS) as long through the
    // resolver's own flag; the session's
    // spark.sql.legacy.parquet.nanosAsLong is never set, and every
    // microbatch's scan reads the nanos column into that long field. If a
    // Spark upgrade starts requiring the conf at scan time, the batches
    // here fail with [PARQUET_TYPE_ILLEGAL] and surface the regression.
    val nanos = s"${TestSpark.nanosEventsDir}/events.parquet"
    val conf = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    val staged = java.nio.file.Files.createTempDirectory("events_two_batches")
    java.nio.file.Files.copy(java.nio.file.Paths.get(nanos), staged.resolve("batch1.parquet"))
    val stream = StreamingOps.streamingTumblingCounts(spark, staged.toString)
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong") === conf,
      "building the stream must leave the session conf alone")
    val q = stream.writeStream
      .format("memory").queryName("two_batch_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable() // batch 1
      java.nio.file.Files.copy(java.nio.file.Paths.get(nanos), staged.resolve("batch2.parquet"))
      q.processAllAvailable() // batch 2: a fresh parquet split, same schema path
      assert(q.exception.isEmpty, s"second microbatch failed: ${q.exception}")
      assert(q.recentProgress.count(_.numInputRows > 0) === 2)
    } finally q.stop()
  }

  test("stream-stream interval join emits exactly the batch theta-join pair set") {
    val staged = java.nio.file.Files.createTempDirectory("events_ssjoin")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val q = StreamingOps.streamingPriorEventsJoin(spark, staged.toString)
      .writeStream.format("memory").queryName("ssjoin_test")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "stream-stream join did not finish")
    finally q.stop()

    import spark.implicits._
    val streamed = spark.table("ssjoin_test")
      .select(col("a_event"), col("b_event"))
      .as[(Long, Long)].collect().toSet
    // batch theta join over the same data (the join_interval_binned
    // semantics, as explicit pairs)
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val batch = e.filter(col("event_type") === "error").as("a")
      .join(e.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.ts") < col("a.ts") &&
          col("b.ts") >= col("a.ts") - expr("INTERVAL 1 HOUR"))
      .select(col("a.event_id"), col("b.event_id"))
      .as[(Long, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("file source -> watermark agg -> file sink resumes exactly-once from checkpoint") {
    // The property a 100 TB incremental pipeline actually needs: stop the
    // query, deliver more data, restart from the SAME checkpoint — the
    // resumed run must process only unseen files and append only new
    // windows (no duplicates, no losses), and a restart with nothing new
    // must emit nothing.
    import org.apache.spark.sql.streaming.Trigger
    val streamDir = java.nio.file.Files.createTempDirectory("events_restart_src")
    val outDir = java.nio.file.Files.createTempDirectory("events_restart_out")
    val ckpt = java.nio.file.Files.createTempDirectory("events_restart_ckpt")
    // encoding-agnostic event-time split: ts has shipped as both
    // INT64-nanos (read as long: nanosAsLong) and
    // TIMESTAMP(MICROS) across testdata generations — reduce either to
    // a monotone long for the midpoint cut, but WRITE the original
    // column so the staged arrival files keep the source encoding
    val raw = Tables.parquet(spark, s"$dir/events.parquet", nanosAsLong = true)
    val tsLong = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ts")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    val Array(lo, hi) = raw.agg(min(tsLong), max(tsLong)).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = lo + (hi - lo) / 2

    def runOnce(): Unit = {
      val q = StreamingOps.streamingTumblingCounts(spark, streamDir.toString)
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      try assert(q.awaitTermination(120000), "streaming run did not finish")
      finally q.stop()
    }
    def sink() = spark.read.parquet(outDir.toString)
      .select(col("day_start"), col("event_type"), col("n_events"))

    // arrival batch 1: first half of event time
    raw.filter(tsLong <= mid).coalesce(1)
      .write.mode("append").parquet(streamDir.toString)
    runOnce()
    val afterFirst = sink().count()
    assert(afterFirst > 0, "first run must close at least one window")

    // arrival batch 2: the rest; restart from the same checkpoint
    raw.filter(tsLong > mid).coalesce(1)
      .write.mode("append").parquet(streamDir.toString)
    runOnce()
    val afterSecond = sink().count()
    assert(afterSecond > afterFirst, "resume must emit the newly closed windows")

    // restart with NO new data: nothing may be re-emitted
    runOnce()
    assert(sink().count() === afterSecond, "idle restart must append nothing")

    // no duplicate windows anywhere in the sink
    assert(sink().select(col("day_start"), col("event_type")).distinct().count()
      === afterSecond, "restart must not re-emit windows from the first run")

    // and no losses: the sink equals the batch twin on all closed windows
    val streamed = sink()
    val maxClosed = streamed.agg(max(col("day_start")))
      .head().getAs[LocalDateTime](0)
    val batchClosed = StreamingOps.tumblingDaily(spark, dir)
      .select(col("day_start"), col("event_type"),
        col("n_events").cast("long").as("n_events"))
      .filter(col("day_start") <= lit(maxClosed))
    assert(streamed.exceptAll(batchClosed).count() === 0L)
    assert(batchClosed.exceptAll(streamed).count() === 0L)
  }

  test("foreachBatch incremental merge converges to the batch aggregate") {
    // The #1 streaming SINK pattern in production: each micro-batch
    // upserts into a maintained snapshot table (per-user event count +
    // latest event time), versioned write per batch. After streaming the
    // corpus in 3 arrival chunks, the final snapshot must equal the batch
    // aggregate over everything — per-key mergeability is what makes the
    // incremental pipeline equivalent to the batch one.
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.DataFrame
    val streamDir = java.nio.file.Files.createTempDirectory("events_merge_src")
    val snapRoot = java.nio.file.Files.createTempDirectory("events_merge_snap")
    val ckpt = java.nio.file.Files.createTempDirectory("events_merge_ckpt")
    // normalize ts to a LONG up front (nanos pass through; micros via
    // unix_micros) — this stream is read back with raw.schema by the
    // test's own readStream, so a long column round-trips cleanly and
    // the Long.MinValue sentinel below stays type-correct
    val raw0 = Tables.parquet(spark, s"$dir/events.parquet", nanosAsLong = true)
    val raw = (raw0.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw0
      case _ => raw0.withColumn("ts", unix_micros(col("ts").cast("timestamp")))
    }).select(col("user_id"), col("ts"))
    // three arrival chunks, one file each → 3 micro-batches at
    // maxFilesPerTrigger=1
    val Array(lo, hi) = raw.agg(min(col("ts")), max(col("ts"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * ((hi - lo) / 3)
    Seq(col("ts") <= cut1, col("ts") > cut1 && col("ts") <= cut2,
      col("ts") > cut2).foreach { p =>
      raw.filter(p).coalesce(1).write.mode("append").parquet(streamDir.toString)
    }

    val current = new java.util.concurrent.atomic.AtomicReference[String](null)
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    def mergeBatch(batch: DataFrame, id: Long): Unit = {
      val s = batch.sparkSession
      val agg = batch.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), max(col("ts")).as("last_ts"))
      val prev = Option(current.get()).map(s.read.parquet(_))
        .getOrElse(s.emptyDataFrame
          .select(lit(0L).as("user_id"), lit(0L).as("n"), lit(0L).as("last_ts"))
          .limit(0))
      val merged = prev.as("p").join(agg.as("b"), Seq("user_id"), "full_outer")
        .select(col("user_id"),
          (coalesce(col("p.n"), lit(0L)) + coalesce(col("b.n"), lit(0L))).as("n"),
          greatest(coalesce(col("p.last_ts"), lit(Long.MinValue)),
            coalesce(col("b.last_ts"), lit(Long.MinValue))).as("last_ts"))
      val next = s"$snapRoot/v${nBatches.incrementAndGet()}"
      merged.write.mode("overwrite").parquet(next)
      current.set(next)
    }

    val q = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch(mergeBatch _)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "merge stream did not finish")
    finally q.stop()

    assert(nBatches.get() === 3, s"expected 3 micro-batches, got ${nBatches.get()}")
    val streamed = spark.read.parquet(current.get())
    val batchTwin = raw.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), max(col("ts")).as("last_ts"))
    assert(streamed.exceptAll(batchTwin).count() === 0L)
    assert(batchTwin.exceptAll(streamed).count() === 0L)
  }

  test("dropDuplicatesWithinWatermark over an event-time-ordered source equals the batch twin") {
    // Stage the events parquet re-sorted by event time: with arrival order
    // == event-time order, streaming first-arrival dedup equals the batch
    // keep-earliest twin exactly.
    val staged = java.nio.file.Files.createTempDirectory("events_dedup_stream")
    Tables.parquet(spark, s"$dir/events.parquet", nanosAsLong = true)
      .orderBy(col("ts"), col("event_id"))
      .coalesce(1)
      .write.mode("overwrite").parquet(staged.toString)
    val q = StreamingOps.streamingDedup(spark, staged.toString)
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000),
      "streaming dedup did not finish within the timeout")
    finally q.stop()

    val streamed = spark.table("dedup_test")
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
    val batch = StreamingOps.streamDedup(spark, dir)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0L)
    assert(batch.exceptAll(streamed).count() === 0L)
  }

  test("foreachBatch CDC compaction converges to the batch cdc apply census") {
    // Stream the deterministic I/U/D log in three arrival chunks (one
    // version per file) through a foreachBatch last-writer-wins
    // compactor; the final snapshot's census must equal the batch
    // merge_cdc_apply census. LWW merge is ORDER-INDEPENDENT (max
    // version wins regardless of arrival order), which is exactly why
    // it is the production CDC consumption pattern — this test would
    // pass under any chunk arrival permutation.
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.DataFrame
    val streamDir = java.nio.file.Files.createTempDirectory("cdc_stream_src")
    val snapRoot = java.nio.file.Files.createTempDirectory("cdc_stream_snap")
    val ckpt = java.nio.file.Files.createTempDirectory("cdc_stream_ckpt")
    val log = graft.ops.Lakehouse.cdcLog(spark, dir)
    (1L to 3L).foreach { v =>
      log.filter(col("version") === v).coalesce(1)
        .write.mode("append").parquet(streamDir.toString)
    }
    val current = new java.util.concurrent.atomic.AtomicReference[String](null)
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    def compact(batch: DataFrame, id: Long): Unit = {
      val s = batch.sparkSession
      val prev = Option(current.get()).map(s.read.parquet(_))
      val merged = prev.map(_.unionByName(batch)).getOrElse(batch)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderkey")).orderBy(col("version").desc)
      val next = s"$snapRoot/v${nBatches.incrementAndGet()}"
      merged.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .write.mode("overwrite").parquet(next)
      current.set(next)
    }
    val q = spark.readStream.schema(log.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch(compact _)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "cdc stream did not finish")
    finally q.stop()
    assert(nBatches.get() === 3, s"expected 3 micro-batches, got ${nBatches.get()}")

    val streamedCensus = graft.ops.Lakehouse
      .cdcCensus(spark.read.parquet(current.get()))
    val batchCensus = graft.ops.Lakehouse.cdcApply(spark, dir)
      .select(col("o_orderstatus"), col("n_live"), col("sum_price"),
        col("n_updated"))
    assert(streamedCensus.exceptAll(batchCensus).count() === 0L)
    assert(batchCensus.exceptAll(streamedCensus).count() === 0L)
  }
}
