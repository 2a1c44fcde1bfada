package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetBridge

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every operator in the engine is a pure `DataFrame => DataFrame`
  * function; these are the only places that touch storage. At cluster
  * scale the same loaders work unchanged — parquet scans are
  * partition-pruned and column-pruned by Catalyst, so ops should
  * `select` early and let pushdown reach the scan.
  *
  * SCHEMA FROM THE FOOTER: [[parquet]] hands the reader its schema,
  * read by `ParquetBridge.schema` from ONE footer on the driver — the
  * file Spark's own inference would touch (the path itself, or in a
  * flat directory `_common_metadata`, then `_metadata`, then the
  * first data file by path). Plain `spark.read.parquet` infers the
  * same schema with a one-task Spark job, and on the short queries
  * of the read path the job count sets the wall time. The converter
  * settings (nanosAsLong, binaryAsString, int96AsTimestamp,
  * inferTimestampNTZ) come from the session PASSED IN, which is why
  * [[events]] reads through its configured child. The footer is read
  * again on every call: a schema cached across calls would be a
  * result shared across queries (the invariant below) and would go
  * stale when a path is rewritten. Partitioned layouts keep
  * `spark.read.parquet` (`ParquetBridge` rejects them).
  *
  * INVARIANT (Bench depends on it): no DataFrame — in particular no
  * cached or localCheckpoint'd one — is ever shared ACROSS declared
  * queries; each `SparkEntry.queries` entry builds its full lineage
  * from these loaders. `graft.Bench` unpersists every persistent RDD
  * between queries (checkpoint blocks have truncated lineage and are
  * unrecoverable once dropped), which is safe exactly as long as this
  * holds. If a cross-query shared table is ever introduced, Bench's
  * between-query cleanup must learn to track per-query RDD ids first.
  */
object Tables {
  /** A parquet file or flat directory, read without a schema job. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ParquetBridge.schema(spark, path)).parquet(path)

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** events.ts is surfaced to every downstream op as **Long
    * nanos-since-epoch (UTC)** — the engine's event-time axis is a
    * plain ordered integer, converted to calendar timestamps
    * explicitly where needed. The parquet physical type has varied
    * across driver-generated corpora (TIMESTAMP(NANOS) originally,
    * TIMESTAMP(MICROS) since 2026-08-13), so [[events]] normalizes
    * whatever the scan yields: a Long column (the nanos-as-long
    * legacy read) passes through; a timestamp column is converted
    * via `unix_micros * 1000` — exact Long arithmetic, no double
    * rounding. DuckDB oracles read the same files with
    * `epoch_ns(ts)` / `epoch_us(ts)`, which are storage-granularity
    * agnostic, so engine and oracle stay value-identical.
    *
    * `nanosAsLong` is a session conf with no per-read option, so an
    * externally-built session that lacks it gets a CHILD session
    * (`newSession`: shared SparkContext and cached data, private
    * SQLConf) with the flag set — the caller's session is never
    * mutated. The engine's own entry points (Verify / Bench /
    * PlansDump / SparkSpec) set it at session build and take the
    * first branch. The conf must hold at ACTION time (planning
    * captures it into the scan's Hadoop conf), which is why a
    * set-then-restore around the lazy read would be wrong.
    *
    * The configured child is MEMOIZED per parent session (weak keys:
    * an entry dies with its parent) — repeated events() calls from an
    * external session reuse one child instead of accumulating
    * sessions and re-copying confs per call. Runtime confs are thus
    * captured at FIRST use; a caller changing session confs between
    * events() calls should set nanosAsLong itself and take the first
    * branch. */
  private val childSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())

  def events(spark: SparkSession, dir: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val s =
      if (spark.conf.getOption(key).contains("true")) spark
      else childSessions.computeIfAbsent(spark, _ => {
        val child = spark.newSession()
        // newSession starts from SparkConf defaults, NOT the caller's
        // runtime confs — copy them over so the events scan runs under
        // the same settings (timezone, rebase modes, partition sizing)
        // as every other load in the caller's program, plus the flag.
        // Static/read-only confs reject the set (AnalysisException,
        // e.g. "Cannot modify the value of a static config"); skip
        // those, propagate anything unexpected.
        spark.conf.getAll.foreach { case (k, v) =>
          try child.conf.set(k, v)
          catch { case _: org.apache.spark.sql.AnalysisException => () }
        }
        child.conf.set(key, "true")
        child
      })
    val df = load(s, dir, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    import org.apache.spark.sql.functions.expr
    df.schema("ts").dataType match {
      case LongType => df // legacy nanos read — already the contract
      case TimestampType =>
        df.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      case TimestampNTZType =>
        // NTZ→TZ cast interprets wall-clock in the session zone; every
        // engine entry point (Verify/Bench/PlansDump/SparkSpec) pins
        // UTC, making the cast the identity instant mapping.
        df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
      case other =>
        throw new IllegalStateException(
          s"events.ts read as unsupported type $other; expected long " +
            "nanos, timestamp, or timestamp_ntz")
    }
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
}
