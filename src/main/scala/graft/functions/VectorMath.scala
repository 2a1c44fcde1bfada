package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `ArrayType` columns, expressed as Catalyst
  * higher-order functions so plans stay inside whole-stage codegen and
  * the DuckDB oracle can replicate the arithmetic exactly.
  *
  * Semantics derive from the reference's flat-L2 search + cosine
  * re-score (reference: app.py:180 squared-L2 via faiss.IndexFlatL2;
  * app.py:184 cosine_similarity per hit).
  *
  * Determinism contract (SURVEY.md §7.4): all arithmetic is performed
  * in DOUBLE (inputs cast before subtraction — float-subtract-then-
  * widen rounds differently than widen-then-subtract) and folds run in
  * ordinal array order, matching a sequential SQL fold. Callers round
  * final values with [[roundn]] before oracle comparison.
  */
object VectorMath {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
  import graft.functions.expressions.{CosineSimilarity, DotProduct, L2SqDistance, NearestCells}

  /** Cast an Array[Float] column to Array[Double] for stable math. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  // ---- codegen'd one-pass forms (identical arithmetic; hot paths) ----

  /** Squared L2 via the native fused-loop expression. */
  def fastL2Sq(a: Column, b: Column): Column =
    column(L2SqDistance(expression(a), expression(b)))

  /** Dot product via the native fused-loop expression. */
  def fastDot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** Cosine via the native one-pass expression (dot + norms fused). */
  def fastCosine(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  /** The `n` cells of the codebook row `cells` (array of (id, centroid)
    * structs) nearest the vector `e`, nearest first, as an array of
    * (c_label, cdist) structs: [[nearestCells]] evaluated in the row. */
  def fastNearestCells(e: Column, cells: Column, n: Int): Column =
    column(NearestCells(expression(e), expression(cells), n))

  // ---- higher-order-function reference forms (oracle-readable) ----

  /** Sequential ordered fold of an Array[Double] column: sum. */
  private def foldSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Squared L2 distance between two Array[Double] columns.
    * (FAISS IndexFlatL2 returns *squared* L2 — reference app.py:180.) */
  def l2Sq(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => (x - y) * (x - y)))

  /** Dot product of two Array[Double] columns. */
  def dot(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => x * y))

  /** Euclidean norm of an Array[Double] column. */
  def norm(v: Column): Column = sqrt(foldSum(transform(v, x => x * x)))

  /** Cosine similarity (reference app.py:184). NULL-safe on zero
    * vectors: returns 0.0 rather than NaN (zero-vector rows exist via
    * the empty-text guard, reference app_callapi.py:112). */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom === 0.0, 0.0).otherwise(dot(a, b) / denom)
  }

  /** Round to `n` decimals and normalize -0.0 to 0.0 so driver-side
    * value hashing can't diverge on sign-of-zero. */
  def roundn(c: Column, n: Int): Column = round(c, n) + lit(0.0)

  /** Order-deterministic grouped float sum: `value` accumulated
    * SEQUENTIALLY in ascending `key` order. A plain `sum()` merges
    * partition partials in a run-dependent order, and a float sum's
    * low bits depend on that order — on values sitting near a
    * 6-decimal rounding boundary the rounded result then flips
    * between runs (observed on sparse-cosine scores at sf0.1). The
    * DuckDB twin `sum(value ORDER BY key)` folds in the identical
    * order, so both engines produce bit-equal sums every run. Cost:
    * one collect_list per group — use only where the per-group term
    * count is bounded (sparse-vector dims, query terms), never on
    * data-sized groups. */
  def orderedSum(key: Column, value: Column): Column =
    aggregate(
      transform(array_sort(collect_list(struct(key.as("k"), value.as("p")))),
        x => x.getField("p")),
      lit(0.0), (s, x) => s + x)

  // ---- JVM twins of the column kernels (for loops outside Catalyst) ----

  /** `roundn(x, 6)` on the JVM: Spark's `round` on a double (HALF_UP on
    * the shortest decimal string of `x`; NaN and ±∞ pass through), then
    * `+ 0.0`, which turns -0.0 into 0.0. */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0

  /** The `n` cells nearest `e`, nearest first, as (index into `cells`,
    * distance): the JVM twin of `roundn(fastL2Sq(e, cell), 6)` ranked
    * by (distance, id). The fold is [[fastL2Sq]]'s (ascending index over
    * the common prefix), every distance is rounded before it is
    * compared, and equal distances go to the lower id. `ids(i)` is the
    * id of `cells(i)`. */
  def nearestCells(e: Array[Double], ids: Array[Long], cells: Array[Array[Double]],
                   n: Int): Array[(Int, Double)] = {
    val d = new Array[Double](cells.length)
    var c = 0
    while (c < cells.length) {
      val v = cells(c)
      val m = math.min(e.length, v.length)
      var s = 0.0
      var i = 0
      while (i < m) { val x = e(i) - v(i); s += x * x; i += 1 }
      d(c) = round6(s)
      c += 1
    }
    nearestOf(d, ids, n).map(c => (c, d(c)))
  }

  /** Indices of the `n` smallest rounded distances `d`, smallest first;
    * equal distances go to the lower id and NaN sorts last. */
  def nearestOf(d: Array[Double], ids: Array[Long], n: Int): Array[Int] = {
    // n argmin passes: n is 1 or a small nAssign, so this beats a sort
    val taken = new Array[Boolean](d.length)
    Array.fill(math.min(n, d.length)) {
      var best = -1
      var c = 0
      while (c < d.length) {
        if (!taken(c) && (best < 0 || {
          val o = java.lang.Double.compare(d(c), d(best))
          o < 0 || (o == 0 && ids(c) < ids(best))
        })) best = c
        c += 1
      }
      taken(best) = true
      best
    }
  }
}
