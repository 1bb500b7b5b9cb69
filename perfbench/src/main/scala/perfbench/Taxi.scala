package perfbench

import graft.GreenTaxiPipeline
import graft.ingest.Ingest
import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** `taxi_pipeline`: each pass runs `GreenTaxiPipeline.run` on the valid
  * CSV, then on its reject twin, which must end in the typed exception
  * and leave no output. */
object Taxi {
  import Main._

  val Rows = 50000

  /** `GreenTaxiPipeline.main`'s session confs. */
  val pipelineConfs: Seq[(String, String)] = Seq(
    "spark.app.name" -> "green-taxi-pipeline",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  val Columns01: Seq[String] = TaxiGen.Header.updated(2, "lpep_dropoff_datetime")
  val Types01: Seq[String] = Seq("smallint", "timestamp", "timestamp", "boolean",
    "smallint", "decimal(18,15)", "decimal(17,15)", "decimal(18,15)",
    "decimal(17,15)", "smallint", "decimal(4,2)") ++ Seq.fill(7)("decimal(6,2)") ++
    Seq("smallint", "smallint")
  val Derived: Seq[String] = (0 until 24).map(h => s"Pickup_hour_is_$h") ++
    (0 until 7).map(d => s"Pickup_dow_is_$d") ++
    Seq("Duration_seconds", "Pickup_or_dropoff_at_JFK")

  /** Generated input for `seed`, cached in the work dir with its aggregates. */
  def inputs(work: String, seed: Long): (String, String, TaxiGen.Expected, Double) = {
    val dir = new File(s"$work/taxi")
    dir.mkdirs()
    val stem = s"$dir/green-$seed-$Rows"
    val exp = new File(s"$stem.expected")
    val t0 = System.nanoTime()
    val e =
      if (exp.exists()) {
        val v = Files.readString(exp.toPath).trim.split("\\s+").map(_.toLong)
        TaxiGen.Expected(v(0), v.slice(1, 25), v.slice(25, 32), v(32), v(33), v(34), v(35), v(36))
      } else {
        // keep one seed's files at a time
        Option(dir.listFiles()).foreach(_.foreach(_.delete()))
        val e = TaxiGen.write(seed, Rows, s"$stem.csv", s"$stem-reject.csv")
        val nums = Seq(e.rows) ++ e.hourSums ++ e.dowSums ++
          Seq(e.jfk, e.durMin, e.durMax, e.durSum, e.rejectLine)
        Files.writeString(exp.toPath, nums.mkString(" "))
        e
      }
    (s"$stem.csv", s"$stem-reject.csv", e, secondsSince(t0))
  }

  def size(p: String): Long = { val f = new File(p); if (f.isFile) f.length else -1L }

  /** Schema and aggregate check of one pipeline output against the generator. */
  def verify(spark: SparkSession, dir: String, e: TaxiGen.Expected): Seq[String] = {
    val bad = ArrayBuffer[String]()
    val d1 = spark.read.parquet(s"$dir/01.parquet")
    val d2 = spark.read.parquet(s"$dir/02.parquet")
    if (d1.columns.toSeq != Columns01) bad += s"01 columns ${d1.columns.mkString(",")}"
    val t1 = d1.schema.map(_.dataType.simpleString)
    if (t1 != Types01) bad += s"01 types ${t1.mkString(",")}"
    if (d2.columns.toSeq != Columns01 ++ Derived) bad += s"02 columns ${d2.columns.mkString(",")}"
    if (bad.isEmpty) {
      val n1 = d1.count()
      if (n1 != e.rows) bad += s"01 rows $n1 != ${e.rows}"
      val dur = col("Duration_seconds")
      val r = d2.agg(count(lit(1)), (Derived.take(31).map(c => sum(col(c))) ++
        Seq(sum(col("Pickup_or_dropoff_at_JFK")), min(dur), max(dur), sum(dur))): _*).head()
      val got = (0 until r.length).map(i => r.getAs[Number](i).longValue)
      val want = Seq(e.rows) ++ e.hourSums ++ e.dowSums ++
        Seq(e.jfk, e.durMin, e.durMax, e.durSum)
      if (got != want) bad += s"02 aggregates ${got.mkString(",")} != ${want.mkString(",")}"
    }
    bad.toSeq
  }

  def isInvalidData(t: Throwable): Boolean =
    t != null && (t.isInstanceOf[Ingest.InvalidDataException] || isInvalidData(t.getCause))

  def run(seed: Long, passes: Int, trace: Boolean, work: String): Map[String, Any] = {
    val (csv, reject, exp, genS) = inputs(work, seed)
    val runs = new File(s"$work/taxi-runs")

    /** One op into a fresh directory; checked (untimed) after. Traced, it
      * runs in its own job group, named like the op, so `run.py` can find
      * its jobs and split the run into layers. */
    def op(spark: SparkSession, i: Int, rejecting: Boolean, tracer: Option[Tracer]): Op = {
      val name = if (rejecting) "reject" else "pipeline"
      val input = if (rejecting) reject else csv
      val dir = s"$runs/$i"
      deleteTree(new File(dir))
      spark.sharedState.cacheManager.clearCache()
      val sc = spark.sparkContext
      tracer.foreach(_.enter(sc, s"$name:$i"))
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val err =
        try { GreenTaxiPipeline.run(spark, input, dir); None }
        catch { case e: Throwable => Some(e) }
        finally tracer.foreach(_.leave(sc))
      val dt = secondsSince(t0)
      val endMs = System.currentTimeMillis()
      val o1 = s"$dir/01.parquet"
      val o2 = s"$dir/02.parquet"
      val problems: Seq[String] =
        if (rejecting) {
          (if (err.exists(isInvalidData)) Nil
           else Seq(s"expected InvalidDataException, got $err")) ++
            Seq(o1, o2).filter(new File(_).exists()).map(p => s"$p left behind")
        } else err match {
          case Some(e) => Seq(s"pipeline failed: $e")
          // full aggregate check on every third pass, file check on all
          case None if i % 3 == 0 => verify(spark, dir, exp)
          case None => Seq(o1, o2).filterNot(new File(_).isFile).map(p => s"$p missing")
        }
      val bytes = math.max(0L, size(o1)) + math.max(0L, size(o2))
      deleteTree(new File(dir))
      Op(name, dt, problems.isEmpty, i, rows = exp.rows, error = problems.mkString("; ").take(500),
        bytes = bytes, group = s"$name:$i", startMs = startMs, endMs = endMs)
    }

    // five set-ups: each is about half a second, and the first is cold
    val (setups, spark) = timedSetups(5, () => session(work, pipelineConfs), _ => (),
      s => Ingest.validateHeader(Ingest.readHeaderLine(s, csv)))
    val warm = warmUp {
      (1 to 2).foreach { i =>
        op(spark, -i, rejecting = false, None)
        op(spark, -i, rejecting = true, None)
      }
    }

    def onePass(tracer: Option[Tracer])(i: Int): (Seq[Op], Double) = {
      val ops = Seq(op(spark, i, rejecting = false, tracer), op(spark, i, rejecting = true, tracer))
      (ops, ops.map(_.seconds).sum)
    }

    val base = setups ++ Map[String, Any]("warmup_s" -> warm, "generate_s" -> genS,
      "csv_bytes" -> size(csv), "cpus" -> cpus)
    traced(spark, passes, trace, base, onePass)
  }
}
