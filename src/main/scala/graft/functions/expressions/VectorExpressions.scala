package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for dense-vector math — the
  * bench-driven promotion path of SURVEY.md §2.11 (#5): the
  * `zip_with`/`aggregate` higher-order forms in
  * [[graft.functions.VectorMath]] are oracle-readable but evaluate
  * interpreted lambdas per element; these fused one-pass loops
  * participate in whole-stage codegen and allocate nothing per row.
  *
  * Arithmetic contract: identical to the HOF forms — sequential
  * left-to-right double accumulation in array ordinal order — so
  * swapping them in changes NO query result (the DuckDB oracle keeps
  * matching bit-for-bit). Verified by VectorExpressionsSpec parity
  * tests.
  *
  * Inputs are Array[Double] (ImplicitCastInputTypes inserts the cast
  * for float arrays). Ragged pairs fold over the shorter length;
  * corpus embeddings are fixed-width so this is unobservable in
  * practice (the HOF form yields NULL there instead — do not feed
  * ragged arrays to either).
  */
trait VectorFoldExpression extends BinaryExpression with ImplicitCastInputTypes {
  // no explicit Seq[AbstractDataType] annotation: that type is
  // private[sql]; the inferred Seq[ArrayType] conforms
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
}

/** Squared L2 distance (FAISS IndexFlatL2 contract, reference
  * app.py:180). */
case class L2SqDistance(left: Expression, right: Expression) extends VectorFoldExpression {
  override def prettyName: String = "graft_l2sq"

  override def nullSafeEval(a: Any, b: Any): Any =
    L2SqDistance.fold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object L2SqDistance {
  /** The interpreted fold: squared differences over the common prefix,
    * in ascending index order. */
  def fold(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { val d = x.getDouble(i) - y.getDouble(i); s += d * d; i += 1 }
    s
  }
}

/** The `n` codebook cells nearest a vector, nearest first: `right` is
  * one codebook row, an array of (id, centroid) structs, and the result
  * is an array of (c_label, cdist) structs. Every cell is scored with
  * `roundn(fastL2Sq(e, centroid), 6)` and ranked by (cdist, c_label) —
  * [[graft.functions.VectorMath.nearestOf]], the argmin of the Lloyd
  * rounds and the stream. A null vector scores every cell null, so its
  * cells rank by id alone (nulls first, as a SQL sort puts them). */
case class NearestCells(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "graft_nearest_cells"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("c_label", LongType, nullable = false),
    StructField("cdist", DoubleType))), containsNull = false)

  override def nullable: Boolean = right.nullable

  override def eval(input: InternalRow): Any = {
    val book = right.eval(input).asInstanceOf[ArrayData]
    if (book == null) return null
    val e = left.eval(input).asInstanceOf[ArrayData]
    val ids = Array.tabulate(book.numElements())(c => book.getStruct(c, 2).getLong(0))
    val d = Array.tabulate(ids.length)(c =>
      if (e == null) 0.0
      else graft.functions.VectorMath.round6(L2SqDistance.fold(e, book.getStruct(c, 2).getArray(1))))
    new GenericArrayData(graft.functions.VectorMath.nearestOf(d, ids, n).map(c =>
      InternalRow(ids(c), if (e == null) null else d(c)): Any))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Dot product. */
case class DotProduct(left: Expression, right: Expression) extends VectorFoldExpression {
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) $s += $a.getDouble($i) * $b.getDouble($i);
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Cosine similarity in ONE pass (dot + both norms fused — the HOF
  * form walks both arrays three times). Zero-denominator → 0.0, the
  * reference's empty-text guard semantics (app_callapi.py:112). The
  * result expression sqrt(na)*sqrt(nb) matches VectorMath.cosine's
  * norm(a)*norm(b) exactly. */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorFoldExpression {
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i)
      val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i);
         |  double $yv = $b.getDouble($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
