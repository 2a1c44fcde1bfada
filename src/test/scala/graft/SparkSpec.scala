package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per `sbt test`
  * fork; suites reuse the session to keep the run fast). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Same column names and types, and the same multiset of rows.
    * `exceptAll` compares nulls (and NaNs) as equal, so the check is
    * null-safe; it keeps multiplicities, so it is row for row. */
  def assertSameRows(actual: DataFrame, expected: DataFrame): Unit = {
    assert(actual.schema.map(f => f.name -> f.dataType) ===
      expected.schema.map(f => f.name -> f.dataType))
    val extra = actual.exceptAll(expected).collect()
    val missing = expected.exceptAll(actual).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"extra rows: ${extra.take(5).mkString(", ")}; missing rows: ${missing.take(5).mkString(", ")}")
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("4", "WARN",
    "spark.sql.warehouse.dir" -> java.nio.file.Files.createTempDirectory("graft_wh").toString)
}
