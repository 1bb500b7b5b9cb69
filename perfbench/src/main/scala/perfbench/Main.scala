package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. `run.py` builds it, prepares inputs, calls
  *
  *   perfbench.Main <workload> <seed> <passes> <trace 0|1> <workDir> <sfDir> <result.json>
  *
  * and turns the raw samples in `result.json` into metrics. Workloads:
  * `taxi_pipeline`, `query_power`, `query_streams`; plus
  * `oracle-sql`, which only dumps `SparkEntry.oracleSql`.
  *
  * Every run: untimed input preparation and a JIT warm-up on the workload's
  * own inputs, timed set-ups (session start, input resolution, a warm-up
  * probe), then a fixed number of closed-loop passes, each starting
  * from cleared caches and memos. With tracing on, untraced passes and
  * passes with [[Tracer]] attached alternate. */
object Main {
  final case class Op(name: String, seconds: Double, ok: Boolean, pass: Int,
      rows: Long = -1, digest: String = "", error: String = "",
      buildS: Double = 0.0, plan: Map[String, Double] = Map.empty,
      bytes: Long = -1, group: String = "", startMs: Long = 0L, endMs: Long = 0L) {
    def json: Map[String, Any] = Map("name" -> name, "s" -> seconds, "ok" -> ok,
      "pass" -> pass, "rows" -> rows, "digest" -> digest, "error" -> error,
      "build_s" -> buildS, "plan" -> plan, "bytes" -> bytes, "group" -> group,
      "start_ms" -> startMs, "end_ms" -> endMs)
  }

  /** One pass: its ops, its `pass_s` figure, its wall and the heap after it. */
  final case class Pass(ops: Seq[Op], figure: Double, wall: Double, heapMb: Double)

  /** Measured passes taken together: ops, per-pass figures, summed wall and
    * the heap peak. */
  final case class Window(ops: Seq[Op], passes: Seq[Double], wall: Double,
      peakHeapMb: Double) {
    def json: Map[String, Any] = Map("ops" -> ops.map(_.json), "passes" -> passes,
      "wall_s" -> wall, "peak_heap_mb" -> peakHeapMb)
  }

  def window(ps: Seq[Pass]): Window =
    Window(ps.flatMap(_.ops), ps.map(_.figure), ps.map(_.wall).sum, ps.map(_.heapMb).max)

  val cpus: Int = Runtime.getRuntime.availableProcessors

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, passesS, traceS, work, sfDir, result) = argv
    val out: Map[String, Any] = workload match {
      case "oracle-sql" => Map("sql" -> graft.SparkEntry.oracleSql)
      case "taxi_pipeline" =>
        Taxi.run( seedS.toLong, passesS.toInt, traceS == "1", work)
      case "query_power" | "query_streams" =>
        Queries.run(workload, seedS.toLong, passesS.toInt, traceS == "1", work, sfDir)
      case other => sys.error(s"unknown workload $other")
    }
    val tmp = Paths.get(result + ".tmp")
    Files.writeString(tmp, Json(out))
    Files.move(tmp, Paths.get(result), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    SparkSession.getActiveSession.foreach(_.stop())
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** A local session with `confs`, scratch kept inside the work dir. */
  def session(work: String, confs: Seq[(String, String)]): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    confs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Times `reps` set-ups, each a fresh session with its inputs resolved
    * and a small probe job. `prepare` runs untimed inside the first one.
    * Returns the set-up and resolve seconds and the last session. */
  def timedSetups(reps: Int, make: () => SparkSession, prepare: SparkSession => Unit,
      resolve: SparkSession => Unit): (Map[String, Any], SparkSession) = {
    var spark: SparkSession = null
    val times = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      spark = make()
      val t1 = System.nanoTime()
      if (i == 1) prepare(spark)
      val t2 = System.nanoTime()
      resolve(spark)
      val resolved = secondsSince(t2)
      spark.range(1000000).selectExpr("sum(id)").collect()
      (secondsSince(t0) - (t2 - t1) / 1e9, resolved)
    }
    (Map("setup_s" -> times.map(_._1), "resolve_s" -> times.map(_._2)), spark)
  }

  /** Untimed JIT warm-up on the run's own inputs, in the measured session. */
  def warmUp(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    secondsSince(t0)
  }

  /** Heap in use after a full GC, taken at the end of each pass while the
    * pass's memos are still held; the peak over the passes is
    * `peak_heap_mb`. The second GC, after Spark's context cleaner has had
    * a moment to drop what the first one freed, keeps the reading from
    * depending on the cleaner's timing. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The measured passes: `passes` untraced ones or, with `trace`, at
    * least four, where untraced passes and passes with a [[Tracer]]
    * attached alternate as untraced, traced, traced, untraced. The JVM
    * still speeds up over a run, most in the first pass after the warm-up;
    * a traced run first does one more unmeasured pass, and in that order
    * the rest of the drift falls on both halves alike, so traced minus
    * untraced is the tracer's cost. */
  def traced(spark: SparkSession, passes: Int, trace: Boolean, base: Map[String, Any],
      pass: Option[Tracer] => Int => (Seq[Op], Double)): Map[String, Any] =
    if (!trace) base + ("untraced" -> window((0 until passes).map(measure(pass(None)))).json)
    else {
      pass(None)(-1)
      val tracer = new Tracer(spark)
      val runs = (0 until 4 * ((passes + 3) / 4)).map { i =>
        if (i % 4 == 1 || i % 4 == 2) {
          tracer.attach()
          try true -> measure(pass(Some(tracer)))(i) finally tracer.detach()
        } else false -> measure(pass(None))(i)
      }
      val traced = window(runs.filter(_._1).map(_._2))
      base ++ Map("untraced" -> window(runs.filterNot(_._1).map(_._2)).json,
        "traced" -> traced.json, "layers" -> tracer.report(traced.wall))
    }

  /** Runs pass `i`, which returns its ops and its `pass_s` figure. */
  def measure(pass: Int => (Seq[Op], Double))(i: Int): Pass = {
    val t0 = System.nanoTime()
    val (ops, figure) = pass(i)
    val wall = secondsSince(t0)
    Pass(ops, figure, wall, heapAfterGcMb())
  }
}

/** `query_power` and `query_streams` over the vendored sf0.1 tables. */
object Queries {
  import Main._

  type Query = (SparkSession, String) => DataFrame

  /** `graft.Bench`'s session confs, with its scratch dir moved into the
    * work dir. */
  val benchConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> math.max(8, cpus / 4).toString,
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.ui.enabled" -> "false",
    "spark.ui.retainedJobs" -> "100000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "1048576",
    "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "1048576",
    "spark.sql.sessionWindow.buffer.in.memory.threshold" -> "1048576",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.files.maxPartitionBytes" -> "134217728")

  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings")

  /** `Bench.relayout`'s multi-file layout, written once per work dir. */
  def relayout(spark: SparkSession, sfDir: String, work: String): String = {
    val out = s"$work/relayout-sf0.1"
    val done = new File(s"$out/_DONE")
    if (!done.exists()) {
      val n = math.max(8, spark.sparkContext.defaultParallelism / 4)
      tables.foreach { t =>
        graft.Tables.table(spark, sfDir, t).repartition(n)
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
      graft.Tables.events(spark, sfDir).repartition(n)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      done.createNewFile()
    }
    out
  }

  /** Cached data, dropped after every power query. */
  def clearCaches(spark: SparkSession): Unit =
    spark.sharedState.cacheManager.clearCache()

  /** Cached data and the program's memos, dropped before every pass. */
  def clearAll(spark: SparkSession): Unit = {
    clearCaches(spark)
    graft.ops.IndexMemo.clear()
    graft.ops.Graph.clearEdgeMemo()
    graft.ops.Joins.clearBucketMemo()
  }

  /** One query: build, collect (timed), then digest (untimed). */
  def runOne(spark: SparkSession, dir: String, name: String, fn: Query,
      pass: Int, tracer: Option[Tracer]): Op = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    try {
      tracer.foreach(_.enter(sc, s"build:$name"))
      val df = fn(spark, dir)
      val built = secondsSince(t0)
      tracer.foreach(_.enter(sc, s"exec:$name"))
      val rows = df.collect()
      val dt = secondsSince(t0)
      val plan = df.queryExecution.tracker.phases
        .map { case (k, v) => k -> v.durationMs / 1000.0 }
      Op(name, dt, ok = true, pass, rows.length, Digest(df.columns.toSeq, rows),
        buildS = built, plan = plan)
    } catch {
      case e: Throwable =>
        Op(name, secondsSince(t0), ok = false, pass,
          error = String.valueOf(e.getMessage).take(300))
    } finally {
      tracer.foreach(_.leave(sc))
    }
  }

  /** Drains `queue` with `streams` threads; returns the ops in finish order. */
  def drain(spark: SparkSession, dir: String, queue: Seq[(String, Query)],
      streams: Int, pass: Int, tracer: Option[Tracer]): Seq[Op] = {
    val q = new ConcurrentLinkedQueue[(String, Query)](queue.asJava)
    val done = new ConcurrentLinkedQueue[Op]()
    val threads = (1 to streams).map { i =>
      val th = new Thread(() => {
        var next = q.poll()
        while (next != null) {
          done.add(runOne(spark, dir, next._1, next._2, pass, tracer))
          next = q.poll()
        }
      }, s"perfbench-stream-$i")
      th.start()
      th
    }
    threads.foreach(_.join())
    done.asScala.toSeq
  }

  /** The run's query panel (`workloads.json`, written to `panel.txt` by
    * run.py, heaviest first), rotated by the seed: every run sees the same
    * neighbours in the streams queue, starting at a seeded place. */
  def panel(seed: Long, work: String): Seq[(String, Query)] = {
    val names = Files.readAllLines(Paths.get(s"$work/panel.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    val all = graft.SparkEntry.queries
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"workloads.json names unknown queries: $missing")
    val k = java.lang.Math.floorMod(seed, names.size.toLong).toInt
    (names.drop(k) ++ names.take(k)).map(n => n -> all(n))
  }

  def run(workload: String, seed: Long, passes: Int, trace: Boolean,
      work: String, sfDir: String): Map[String, Any] = {
    val queries = panel(seed, work)
    val streams = if (workload == "query_streams") cpus else 1
    var dir = ""
    // three set-ups: each resolves ten tables, about a second
    val (setups, spark) = timedSetups(3,
      () => session(work, benchConfs),
      s => dir = relayout(s, sfDir, work),
      s => { graft.Tables.clear(); graft.Tables.preTouch(s, dir) })
    def onePass(tracer: Option[Tracer])(i: Int): (Seq[Op], Double) = {
      clearAll(spark)
      val t0 = System.nanoTime()
      if (streams == 1) {
        val ops = queries.map { case (n, fn) =>
          val op = runOne(spark, dir, n, fn, i, tracer)
          clearCaches(spark)
          op
        }
        // power pass = sum of its query times, as graft.Bench totals it
        (ops, ops.filter(_.ok).map(_.seconds).sum)
      } else {
        // two copies of the panel per drain, so equal queries overlap and one
        // slow query's tail is a smaller share of the drain
        val ops = drain(spark, dir, Seq.fill(2)(queries).flatten, streams, i, tracer)
        (ops, secondsSince(t0))
      }
    }

    // concurrent, like graft.Bench's warm-up: more JIT per second than
    // serial passes
    val warm = warmUp { drain(spark, dir, queries, cpus, -1, None); clearAll(spark) }
    val base = setups ++ Map[String, Any]("warmup_s" -> warm,
      "panel" -> queries.map(_._1), "streams" -> streams, "cpus" -> cpus)
    traced(spark, passes, trace, base, onePass)
  }
}
