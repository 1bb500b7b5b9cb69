package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.concurrent.TrieMap

/** Per-job records for the traced passes of a run, gathered from outside
  * the program through Spark's public hooks: a `SparkListener` (jobs,
  * stages, tasks and their metrics, SQL executions), a
  * `QueryExecutionListener` (planning phases of every executed query) and a
  * log4j appender (warning counts).
  *
  * Every job is recorded with its job group (which the harness sets with
  * [[enter]] around a call), its start and end time, the program frames of
  * its call site and, when it runs a file write, the output path. `run.py`
  * charges jobs to layers from these. The tracer can be attached and
  * detached several times; its records add up. */
final class Tracer(spark: SparkSession) {
  private val cpus = spark.sparkContext.defaultParallelism

  final class Acc {
    val stages, tasks, runMs, cpuNs, gcMs, inputBytes = new AtomicLong
    val shuffleWrite, shuffleRead, fetchWaitMs, spillMem, spillDisk = new AtomicLong
    val stageWaitMs = new AtomicLong
    def json: Map[String, Any] = Map(
      "stages" -> stages.get, "tasks" -> tasks.get,
      "task_run_s" -> runMs.get / 1e3, "task_cpu_s" -> cpuNs.get / 1e9,
      "task_gc_s" -> gcMs.get / 1e3, "input_bytes" -> inputBytes.get,
      "shuffle_write_bytes" -> shuffleWrite.get, "shuffle_read_bytes" -> shuffleRead.get,
      "fetch_wait_s" -> fetchWaitMs.get / 1e3, "spill_memory_bytes" -> spillMem.get,
      "spill_disk_bytes" -> spillDisk.get, "stage_wait_s" -> stageWaitMs.get / 1e3)
  }

  /** One job: group, call site (program frames only), the SQL execution
    * it ran in, start and end (epoch ms) and its stages' task metrics.
    * Jobs that an SQL execution submits from Spark's own threads (adaptive
    * query stages) have no program frames; they take their execution's. */
  final class Job(val id: Int, val group: String, val frames: Seq[String],
      val execution: Long, val startMs: Long) {
    @volatile var endMs: Long = -1L
    val acc = new Acc
  }

  private val jobs = TrieMap[Int, Job]()
  private val stageJob = TrieMap[Int, Int]()
  private val stageSubmit = TrieMap[Int, Long]()
  private val executions = TrieMap[Long, (Seq[String], Option[String])]()
  private val persisted = TrieMap[Int, Unit]()
  private val plan = TrieMap[String, AtomicLong]()
  private val logs = TrieMap[String, AtomicLong]()
  private val events = new AtomicLong

  def enter(sc: SparkContext, group: String): Unit = sc.setJobGroup(group, group)
  def leave(sc: SparkContext): Unit = sc.clearJobGroup()

  private def stageAcc(stage: Int): Option[Acc] = stageJob.get(stage).flatMap(jobs.get).map(_.acc)

  /** The program's frames of a call site. */
  private def frames(site: String): Seq[String] =
    site.split("\n").map(_.trim).filter(_.startsWith("graft.")).take(8).toSeq

  /** The output path of a file write, from the SQL execution's plan. */
  private val WritePath = """InsertIntoHadoopFsRelationCommand\s+(\S+?),""".r
  private def writePath(p: SparkPlanInfo): Option[String] =
    WritePath.findFirstMatchIn(p.simpleString).map(_.group(1))
      .orElse(p.children.iterator.flatMap(writePath).nextOption())

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // the result stage carries the job's call site; it has the largest id
      val site = e.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse("")
      jobs.put(e.jobId, new Job(e.jobId, prop("spark.jobGroup.id").getOrElse("none"), frames(site),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time))
      e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      events.incrementAndGet()
      val id = e.stageInfo.stageId
      stageAcc(id).foreach(_.stages.incrementAndGet())
      stageSubmit.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      events.incrementAndGet()
      // stage wait: submission to its first task launch
      stageSubmit.remove(e.stageId).foreach { s =>
        stageAcc(e.stageId).foreach(_.stageWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - s)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      stageAcc(e.stageId).foreach { a =>
        a.tasks.incrementAndGet()
        if (m != null) {
          a.runMs.addAndGet(m.executorRunTime)
          a.cpuNs.addAndGet(m.executorCpuTime)
          a.gcMs.addAndGet(m.jvmGCTime)
          a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          a.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
          a.spillMem.addAndGet(m.memoryBytesSpilled)
          a.spillDisk.addAndGet(m.diskBytesSpilled)
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      events.incrementAndGet()
      val info = e.blockUpdatedInfo
      info.blockId.asRDDId.foreach { b =>
        if (info.storageLevel.isValid) persisted.putIfAbsent(b.rddId, ())
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        events.incrementAndGet()
        executions.put(s.executionId, (frames(s.details), writePath(s.sparkPlanInfo)))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      qe.tracker.phases.foreach { case (k, v) =>
        plan.getOrElseUpdate(k, new AtomicLong).addAndGet(v.durationMs)
      }
      plan.getOrElseUpdate("executions", new AtomicLong).incrementAndGet()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      events.incrementAndGet()
  }

  /** Warnings that point at double materialization or unpartitioned windows. */
  private val patterns = Seq(
    "already_cached" -> "Asked to cache already cached data",
    "block_exists" -> "already exists",
    "window_no_partition" -> "No Partition Defined for Window operation")
  private val appender = new AbstractAppender("perfbench-counter", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = String.valueOf(e.getMessage.getFormattedMessage)
      patterns.foreach { case (k, p) =>
        if (msg.contains(p) && (k != "block_exists" || msg.contains("Block")))
          logs.getOrElseUpdate(k, new AtomicLong).incrementAndGet()
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    if (!appender.isStarted) appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }

  /** Waits for the listener bus to go quiet, then unhooks everything. */
  def detach(): Unit = {
    var last = -1L
    var waited = 0
    while (events.get != last && waited < 50) {
      last = events.get
      Thread.sleep(100)
      waited += 1
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
  }

  /** Everything gathered, for `run.py` to classify, name and sum. */
  def report(wall: Double): Map[String, Any] = Map(
    "jobs" -> jobs.values.toSeq.sortBy(_.id).map { j =>
      val (site, path) = executions.getOrElse(j.execution, (Nil, None))
      Map("id" -> j.id, "group" -> j.group,
        "frames" -> (if (j.frames.nonEmpty) j.frames else site),
        "write_path" -> path, "start_ms" -> j.startMs, "end_ms" -> j.endMs) ++ j.acc.json
    },
    "plan_s" -> plan.map { case (k, v) =>
      k -> (if (k == "executions") v.get.toDouble else v.get / 1e3) }.toMap,
    "logs" -> patterns.map { case (k, _) => k -> logs.get(k).map(_.get).getOrElse(0L) }.toMap,
    "persisted_rdds" -> persisted.size,
    "wall_s" -> wall,
    "cores" -> cpus)
}
