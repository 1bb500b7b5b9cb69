package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.graft.FooterShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's testdata tables (see TESTDATA.md / FIXTURES.md §2).
  *
  * One parquet file per table under `sfDir`. Every load is the relation a
  * plain parquet read builds, resolved from one listing and one in-process
  * footer read ([[parquet]]), so Catalyst gets full pushdown/pruning
  * freedom — no caching or eager materialization here; each query
  * declares what it needs and the scan reads only that (verify with
  * `.explain`: `ReadSchema` / `PushedFilters`).
  *
  * Scale posture: at 100 TB these would be partitioned/bucketed table paths
  * instead of single files; the API (name → DataFrame) stays the same, so
  * every operator in `graft.ops` is agnostic to the physical layout.
  */
object Tables {
  /** Analyzed-DataFrame memo, keyed by (session, path). The testdata
    * tables are immutable files, so the resolved relation can be reused
    * across the suite's 151 queries: each [[parquet]] call lists the path
    * and reads a footer — pure per-query floor when the same ten tables
    * are read hundreds of times. A DataFrame is an immutable logical plan;
    * sharing one shares no execution state, and resolving one changes no
    * session conf, so concurrent first touches are safe (at worst a path
    * resolves twice and one result is kept). At 100 TB the same role is
    * played by the catalog's cached table metadata (HMS/Unity relation
    * cache) — this is that cache, scoped to path-loaded files. Entries
    * strongly retain their SparkSession; a long-lived JVM cycling sessions
    * should call [[clear]] at session teardown. */
  private val memo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]

  /** Drops all memoized relations (e.g. between SparkSessions in a
    * long-lived JVM, so stopped sessions and their plans can be GC'd).
    * The single-session Bench/Verify/test flows never need it. */
  def clear(): Unit = memo.clear()

  private val names = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings", "events")

  /** A table's path, and whether its footer reads TIMESTAMP(NANOS) as long:
    * only `events`' `ts` has shipped in that encoding (see [[events]]). */
  private def source(sfDir: String, name: String): (String, Boolean) =
    (s"$sfDir/$name.parquet", name == "events")

  /** Resolves every table not yet memoized, all at once
    * ([[FooterShim.relations]]: one listing per path, the footers read in
    * parallel), so the queries that follow hit only the memo. */
  def preTouch(s: SparkSession, d: String): Unit = {
    evictStopped()
    val missing = names.map(source(d, _)).filterNot { case (path, _) => memo.contains((s, path)) }
    missing.zip(FooterShim.relations(s, missing)).foreach { case ((path, _), df) =>
      memo.putIfAbsent((s, path), df)
    }
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    evictStopped()
    val (path, nanosAsLong) = source(sfDir, name)
    memo.getOrElseUpdate((spark, path), parquet(spark, path, nanosAsLong))
  }

  // Self-healing for the long-lived-JVM case [[clear]] covers manually:
  // entries whose session has been stopped are dropped on lookup, so a
  // session-cycling host can't accumulate dead plans (+ file indexes).
  private def evictStopped(): Unit =
    memo.filterInPlace((k, _) => !k._1.sparkContext.isStopped)

  /** A parquet file, or a flat directory of them, as the plain parquet
    * read of `path` gives it (the same relation, file index, statistics
    * and pushdown), resolved in-process from one listing of the path:
    * Spark's own inference reads the one footer it picks in a Spark job,
    * one job per table before the first query; [[FooterShim]] reads the
    * same footer with no job. `nanosAsLong` converts TIMESTAMP(NANOS)
    * columns to long for this read only. A partitioned directory is
    * rejected; a missing path raises the read's `[PATH_NOT_FOUND]`. */
  def parquet(spark: SparkSession, path: String, nanosAsLong: Boolean = false): DataFrame =
    FooterShim.relation(spark, path, nanosAsLong)

  /** The schema [[parquet]] gives `path`: the one a plain parquet read
    * infers, from the same footer, read in-process. */
  def parquetSchema(spark: SparkSession, path: String, nanosAsLong: Boolean = false): StructType =
    FooterShim.schema(spark, path, nanosAsLong)

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** events.parquet's `ts` has shipped in two encodings across testdata
    * generations, and this loader normalizes both to microsecond
    * TIMESTAMP_NTZ so every downstream query is encoding-agnostic:
    *
    *   - parquet TIMESTAMP(NANOS) (pre-r10 testdata): Spark's schema
    *     conversion rejects it ([PARQUET_TYPE_ILLEGAL]), so the footer is
    *     converted with nanos as raw long ([[parquet]]'s `nanosAsLong`,
    *     which leaves the session conf alone) and the timestamp is
    *     rebuilt via integer division — `ts div 1000`, NOT `/` (double
    *     division would lose precision above 2^53 and shift values by up
    *     to ~256 ns).
    *     Truncation matches DuckDB's own TIMESTAMP_NS → TIMESTAMP(µs)
    *     cast, so oracle comparisons line up.
    *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) (r10 testdata):
    *     Spark already reads it as TIMESTAMP_NTZ; pass through.
    *
    * The branch is decided by the READ SCHEMA (one footer inspection,
    * memoized with the relation), not by SF or path convention — the
    * robust posture for a lakehouse table whose writer fleet migrates
    * timestamp encodings over time. NTZ (not LTZ) in both branches so
    * the values stay naive like DuckDB's reading of the same file.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }
}
