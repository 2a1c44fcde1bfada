package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.VectorMath._

class VectorMathSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Double =
    Seq(1).toDF("x").select(c.as("v")).head().getDouble(0)

  private val a = typedLit(Seq(1.0, 2.0, 2.0))
  private val b = typedLit(Seq(1.0, 0.0, 0.0))
  private val zero = typedLit(Seq(0.0, 0.0, 0.0))

  test("l2Sq: squared distance, FAISS flat-L2 contract") {
    assert(one(l2Sq(a, b)) === 8.0)
    assert(one(l2Sq(a, a)) === 0.0)
  }

  test("norm and dot") {
    assert(one(norm(a)) === 3.0)
    assert(one(dot(a, b)) === 1.0)
  }

  test("cosine: self-similarity 1, orthogonal 0, zero-vector guard returns 0 not NaN") {
    assert(math.abs(one(cosine(a, a)) - 1.0) < 1e-12)
    assert(one(cosine(typedLit(Seq(1.0, 0.0)), typedLit(Seq(0.0, 1.0)))) === 0.0)
    assert(one(cosine(a, zero)) === 0.0) // app_callapi.py:112 empty-text zero vector
  }

  test("roundn normalizes -0.0") {
    assert(one(roundn(lit(-0.0000001), 4)).compareTo(0.0) == 0)
  }
}
