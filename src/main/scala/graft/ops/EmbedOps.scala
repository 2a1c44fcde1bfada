package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PortableHash
import graft.functions.VectorMath.roundn

/** E1 — text→embedding substitute (SURVEY.md §2.9 decision): the
  * reference runs LaBSE transformer inference (app.py:56-67,
  * app_callapi.py:110-115 — tokenize/truncate(512) → forward →
  * mean-pool → 768-d float32). Transformer inference is out of scope
  * in this zero-egress build, so the engine ships a *deterministic
  * hashed term-frequency embedder* with the same signature
  * (text → dense unit vector) and the same downstream algebra:
  *
  *   tokenize (split on whitespace, app.py:24 analog)
  *   → truncate to `maxTokens` (app_callapi.py:113 `max_length=512`)
  *   → hash token to a dimension (portable sha-fold, PortableHash)
  *   → per-dim term counts → L2 normalize
  *   → empty text ⇒ zero vector (app_callapi.py:112 guard)
  *
  * Everything is Catalyst builtins (one explode, one keyed agg, one
  * per-doc window), so the DuckDB oracle replicates it bit-for-bit and
  * whole-stage codegen covers the hot path. At 100 TB this is one
  * shuffle keyed by (doc_id, dim) with map-side partial counts, then
  * a shuffle of the much smaller count table by doc_id for the norm.
  */
object EmbedOps {

  /** Tokenize + truncate: (doc_id, pos, tok) rows, blanks dropped. */
  def tokenize(docs: DataFrame, maxTokens: Int = 512): DataFrame =
    docs
      .select(
        col("doc_id"),
        posexplode(slice(split(col("text"), " "), 1, maxTokens)).as(Seq("pos", "tok")))
      .withColumn("tok", trim(col("tok")))
      .filter(col("tok") =!= "")

  /** Sparse hashed-TF: (doc_id, dim, weight) with L2-normalized
    * weights. Exploded form — scalar-typed for the oracle; use
    * [[embedDense]] for the Array[Float] column form.
    *
    * Each token is bucketed in the map stage that produces it, so the
    * one (doc_id, dim) count aggregate partial-counts map-side; the
    * norm is a window sum over the doc's dims. Counts are integers and
    * their squares sum exactly below 2^53, so the weights do not
    * depend on summation order. */
  def embedSparse(docs: DataFrame, dim: Int = 64, maxTokens: Int = 512): DataFrame =
    tokenize(docs, maxTokens)
      .select(col("doc_id"), PortableHash.bucket(col("tok"), dim).as("dim"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(count(lit(1)).cast("double").as("cnt"))
      .withColumn("nrm", sqrt(sum(col("cnt") * col("cnt")).over(Window.partitionBy(col("doc_id")))))
      .select(col("doc_id"), col("dim"), roundn(col("cnt") / col("nrm"), 6).as("weight"))

  /** Dense form: (doc_id, embedding Array[Float]) — the reference's
    * output shape (app.py:105). Built from the sparse form via a
    * pivot-free map_from_entries + dimension walk; empty docs get the
    * zero vector (app_callapi.py:112). */
  def embedDense(docs: DataFrame, dim: Int = 64, maxTokens: Int = 512): DataFrame = {
    val sparse = embedSparse(docs, dim, maxTokens)
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("dim"), col("weight")))).as("m"))
    val dense = docs
      .select(col("doc_id"))
      .join(sparse, Seq("doc_id"), "left")
      .withColumn(
        "embedding",
        transform(
          sequence(lit(0), lit(dim - 1)),
          d => coalesce(element_at(col("m"), d.cast("long")), lit(0.0)).cast("float")))
    dense.select(col("doc_id"), col("embedding"))
  }
  /** Hashing-trick collision audit — the receipt for the cost
    * [[embedSparse]] silently pays: hashed-TF folds an unbounded
    * vocabulary into `dim` buckets, and every collision conflates two
    * unrelated tokens' weights. Per candidate width, the DISTINCT
    * token vocabulary is bucketed once and censused: buckets used,
    * worst bucket, and the fraction of tokens that share a bucket
    * with at least one other token — the number that justifies (or
    * indicts) a chosen dim before an embedding ships. All integer
    * (the fraction is a floor-quotient in micros).
    *
    * Scale shape: the vocab (distinct tokens — orders of magnitude
    * smaller than the token stream) materializes once and each width
    * leg is one bounded-key bucket agg over it; the widths axis is a
    * 3-leg union, not a data multiplier. */
  def hashCollisionAudit(docs: DataFrame,
                         dims: Seq[Int] = Seq(256, 4096, 65536)): DataFrame = {
    val vocab = tokenize(docs).select(col("tok")).distinct().localCheckpoint(false)
    dims.map { d =>
      vocab.withColumn("bucket", PortableHash.bucket(col("tok"), d))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_toks"))
        .groupBy()
        .agg(sum(col("n_toks")).as("n_vocab"),
          count(lit(1)).as("n_buckets_used"),
          max(col("n_toks")).as("max_bucket"),
          sum(when(col("n_toks") >= 2, col("n_toks")).otherwise(lit(0L)))
            .as("n_collided"))
        .select(lit(d.toLong).as("dim"), col("n_vocab"), col("n_buckets_used"),
          col("max_bucket"), col("n_collided"),
          expr("(n_collided * 1000000L) div n_vocab").as("collided_micro"))
    }.reduce(_ unionByName _)
  }
}
