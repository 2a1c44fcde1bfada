package perfbench

import graft.functions.{PortableHash, VectorMath}
import graft.ops.{DedupOps, EmbedOps, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kernels below the operators, in ns per row over a seeded, cached
  * column: the kernel's time minus the time of a scan of the same cached
  * rows that reads them but computes only their sizes. The column
  * kernels are summed into one aggregate (so the sink costs nothing) and
  * evaluated four times per row where the inputs allow, to lift their
  * few tens of ns above the run-to-run noise of a job. Each kernel gets
  * its own warm-up. */
object Kernels {
  private val WarmUps = 1
  private val Reps = 3

  private def seconds(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def nsPerRow(rows: Long, scan: DataFrame, kernel: DataFrame): Double = {
    (1 to WarmUps).foreach { _ => seconds(scan); seconds(kernel) }
    val pairs = (1 to Reps).map(_ => (seconds(scan), seconds(kernel)))
    val base = pairs.map(_._1).sorted.apply(Reps / 2)
    val total = pairs.map(_._2).sorted.apply(Reps / 2)
    (total - base) * 1e9 / rows
  }

  def run(spark: SparkSession, dir: String, seed: Long): Map[String, Double] = {
    val dim = 64
    val vecRows = 200000L
    def vec(offset: Int) = array((0 until dim).map(i => rand(seed * 131 + offset + i)): _*)
    val vecs = spark.range(vecRows).select(vec(0).as("a"), vec(dim).as("b")).cache()
    val strRows = 400000L
    val strs = spark.range(strRows)
      .select(concat(lit("tok"), (rand(seed) * 1e12).cast("long").cast("string")).as("s"))
      .cache()
    // the permuted corpus, repeated under fresh ids so that the per-row
    // work outweighs the fixed cost of a job
    val copies = 4
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .crossJoin(spark.range(copies).withColumnRenamed("id", "copy"))
      .select((col("doc_id") * copies + col("copy")).as("doc_id"), col("text"))
      .cache()
    val docRows = Seq(vecs, strs, docs).map(_.count()).last
    val (a, b) = (col("a"), col("b"))
    val scanVecs = vecs.select(sum(size(a) + size(b)))
    def fourTimes(k: (Column, Column) => Column) =
      vecs.select(sum(k(a, b) + k(b, a) + k(a, a) + k(b, b)))
    val scanDocs = docs.select(col("doc_id"), length(col("text")).as("n"))
    try Map(
      "kernel.VectorMath.fastCosine_ns_row" ->
        nsPerRow(4 * vecRows, scanVecs, fourTimes(VectorMath.fastCosine)),
      "kernel.VectorMath.fastL2Sq_ns_row" ->
        nsPerRow(4 * vecRows, scanVecs, fourTimes(VectorMath.fastL2Sq)),
      "kernel.PortableHash.hash24_ns_row" ->
        nsPerRow(strRows, strs.select(sum(length(col("s")))),
          strs.select(sum(PortableHash.hash24(col("s"))))),
      "kernel.DedupOps.minhashSignatures_ns_row" ->
        nsPerRow(docRows, scanDocs, DedupOps.minhashSignatures(docs)),
      "kernel.EmbedOps.embedSparse_ns_row" ->
        nsPerRow(docRows, scanDocs, EmbedOps.embedSparse(docs)))
    finally Seq(vecs, strs, docs).foreach(_.unpersist(blocking = true))
  }
}
