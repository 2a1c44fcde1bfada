package graft.ops

import graft.SparkSpec
import graft.functions.PortableHash
import graft.functions.VectorMath.roundn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class EmbedOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "alpha beta alpha"),
    (1L, ""),
    (2L, "alpha beta alpha") // duplicate content of 0
  ).toDF("doc_id", "text")

  test("tokenize: positions, blank filtering, truncation") {
    val t = EmbedOps.tokenize(docs).filter($"doc_id" === 0).orderBy("pos").collect()
    assert(t.map(_.getString(2)).toSeq === Seq("alpha", "beta", "alpha"))
    assert(t.map(_.getInt(1)).toSeq === Seq(0, 1, 2))
    val wide = Seq((0L, (1 to 600).map(_ => "w").mkString(" "))).toDF("doc_id", "text")
    assert(EmbedOps.tokenize(wide, maxTokens = 512).count() === 512) // app_callapi.py:113
  }

  test("embedSparse: L2-normalized weights, deterministic across docs") {
    val w = EmbedOps.embedSparse(docs)
    val norms = w.groupBy("doc_id").agg(sum($"weight" * $"weight").as("n2"))
      .select("n2").as[Double].collect()
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-4)) // rounded weights, unit norm
    val w0 = w.filter($"doc_id" === 0).orderBy("dim").collect().map(r => (r.getLong(1), r.getDouble(2)))
    val w2 = w.filter($"doc_id" === 2).orderBy("dim").collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(w0.toSeq === w2.toSeq) // same text → same embedding
  }

  /** embedSparse as written before per-row bucketing, kept as the
    * parity reference: each distinct token hashed once and joined back
    * onto the per-doc term counts, the norms joined back on doc_id. */
  private def embedSparseJoinBack(docs: DataFrame, dim: Int): DataFrame = {
    val tf0 = EmbedOps.tokenize(docs)
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val vocab = tf0.select(col("tok")).distinct()
      .withColumn("dim", PortableHash.bucket(col("tok"), dim))
    val tf = tf0
      .join(vocab, "tok")
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("tf")).cast("double").as("cnt"))
    val norms = tf
      .groupBy(col("doc_id"))
      .agg(sqrt(sum(col("cnt") * col("cnt"))).as("nrm"))
    tf.join(norms, "doc_id")
      .select(col("doc_id"), col("dim"), roundn(col("cnt") / col("nrm"), 6).as("weight"))
  }

  test("embedSparse equals the join-back formulation row for row (dim 2 forces collisions)") {
    val d = ParityDocs(spark)
    for (dim <- Seq(2, 64, 4096))
      assertSameRows(EmbedOps.embedSparse(d, dim), embedSparseJoinBack(d, dim))
    // dim 2: every doc with two distinct buckets has weights below 1
    assert(EmbedOps.embedSparse(d, 2).filter($"weight" < 1.0).count() > 0)
  }

  test("embedSparse: empty text produces no weight rows") {
    assert(EmbedOps.embedSparse(docs).filter($"doc_id" === 1).count() === 0)
  }

  test("embedDense: empty text gets the zero vector (app_callapi.py:112)") {
    val d = EmbedOps.embedDense(docs, dim = 16)
    val v1 = d.filter($"doc_id" === 1).head().getSeq[Float](1)
    assert(v1.length === 16 && v1.forall(_ === 0f))
    val v0 = d.filter($"doc_id" === 0).head().getSeq[Float](1)
    assert(math.abs(v0.map(x => x * x).sum - 1f) < 1e-3)
  }
  test("hashCollisionAudit: width-1 census exact, wide census matches the JVM hash twin") {
    val docs = Seq((0L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val r = EmbedOps.hashCollisionAudit(docs, Seq(1, 1048576)).collect()
      .map(x => x.getAs[Long]("dim") ->
        ((x.getAs[Long]("n_vocab"), x.getAs[Long]("n_buckets_used"),
          x.getAs[Long]("max_bucket"), x.getAs[Long]("n_collided"),
          x.getAs[Long]("collided_micro"))))
      .toMap
    assert(r(1L) === ((5L, 1L, 5L, 5L, 1000000L)),
      "width 1: every token collides in the single bucket")
    // wide leg: recompute the expected census from the JVM hash twin
    val toks = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val buckets = toks.map(t => graft.functions.PortableHash.hash24Jvm(t) % 1048576L)
    val byBucket = buckets.groupBy(identity).map(_._2.size)
    val collided = byBucket.filter(_ >= 2).sum.toLong
    assert(r(1048576L) === ((5L, byBucket.size.toLong, byBucket.max.toLong,
      collided, collided * 1000000L / 5L)))
  }
}
