package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per `sbt test`
  * fork; suites reuse the session to keep the run fast). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("4", "WARN",
    "spark.sql.warehouse.dir" -> java.nio.file.Files.createTempDirectory("graft_wh").toString)
}
