package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one local SparkSession every entry point and the test suite
  * build: `cores` local threads and as many shuffle partitions,
  * parquet INT64 nanosecond timestamps read as Long (`Tables.events`
  * relies on it), UTC session time (hour windows and date rollups
  * compute the same thing on any machine), no UI. `extra` adds confs
  * on top (the test suite's temp warehouse).
  *
  * The engine's only unpartitioned windows rank the ≤ k survivors of
  * an `orderBy.limit` (PLANS.md documents the bound), so
  * WindowExec's blanket single-partition warning is noise; a
  * constant partition key cannot silence it (EliminateWindowPartitions
  * folds it away), so its logger is set to ERROR directly. */
object GraftSession {
  /** Local cores from `SPARK_GRAFT_CPUS`, 4 when unset. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def local(cores: String, logLevel: String, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }
}
