package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dumps `.explain("formatted")` for a comma-separated list of queries
  * into per-query files — the optimization-round before/after evidence
  * (`plans/r15/<name>_<suffix>.txt`).
  * Run: `sbt "runMain graft.PlansFiles <outDir> <suffix> name1,name2"`. */
object PlansFiles {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlansFiles <outDir> <suffix> <names>")
    val (outDir, suffix, names) = (args(0), args(1), args(2).split(',').toSeq)
    // fixed 4 cores, so the plans do not depend on the host
    val spark = GraftSession.local("4", "ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
