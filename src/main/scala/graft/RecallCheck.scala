package graft

import org.apache.spark.sql.functions._
import graft.ops.{Tables, VectorOps}

/** Recall receipt for the IVF probe policy: compares [[VectorOps.ivfTopK]]
  * under the DERIVED probe budget ([[VectorOps.probePolicy]]) against the
  * exact [[VectorOps.annTopK]] on the same 10 queries, and prints
  * recall@3 plus the derived parameters. Run at any SF dir:
  *
  *   sbt "runMain graft.RecallCheck /root/testdata/sf0.01"
  *
  * This is the measurement behind the recall table in the ivfTopK /
  * probePolicy scaladoc — re-run it whenever the quantizer or probe
  * policy changes.
  */
object RecallCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(GraftSession.cpus, "WARN")
    try {
      val emb = Tables.embeddings(spark, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val k = 3
      val exact = VectorOps.annTopK(emb, queries, k)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val (kCells, cent) = VectorOps.sqrtCellsWithK(emb, iters = 2)
      val (nProbe, nAssign) = VectorOps.probePolicy(kCells)
      val approx = VectorOps.ivfTopK(emb, queries, cent, nProbe = nProbe, k = k,
          nAssign = nAssign)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val hit = exact.count(approx.contains)
      println(s"""{"dir":"$dir","cells":$kCells,"nProbe":$nProbe,"nAssign":$nAssign,""" +
        s""""recall_at_$k":"$hit/${exact.size}"}""")
      // PQ/ADC receipt — same queries, same exact baseline. 16-code
      // 8-dim codebooks are deliberately coarse on near-random
      // embeddings (the hardest PQ case: no cluster structure to
      // exploit), so the rerank window carries the recall.
      for (rf <- Seq(8, 16, 32)) {
        val pq = VectorOps.pqTopK(emb, queries, k = k, rerankFactor = rf)
          .select("query_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val pqHit = exact.count(pq.contains)
        println(s"""{"dir":"$dir","op":"ann_pq","rerankFactor":$rf,""" +
          s""""recall_at_$k":"$pqHit/${exact.size}"}""")
      }
    } finally spark.stop()
  }
}
