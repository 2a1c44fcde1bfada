package graft.functions.expressions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Leading bytes of sha-256 as an integer: the first `nBytes` bytes
  * of sha-256 over the string's UTF-8 bytes, folded big-endian and
  * unsigned into a long — the same value as parsing the first
  * 2·`nBytes` lowercase hex digits of the digest, which is what the
  * DuckDB twins in [[graft.functions.PortableHash]] compute. Null in,
  * null out.
  *
  * Spark's `sha2` formats the digest as 64 hex characters and asks
  * `MessageDigest.getInstance` per row; this expression keeps one
  * digest per generated class (codegen) or per thread (interpreted)
  * and never leaves bytes, so no string is built per row. */
case class ShaPrefix(child: Expression, nBytes: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(nBytes >= 1 && nBytes <= 7, s"nBytes must be in [1, 7], got $nBytes")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sha_prefix"

  override def nullSafeEval(s: Any): Any =
    ShaPrefix.prefix(s.asInstanceOf[UTF8String].getBytes, nBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = classOf[ShaPrefix].getName
    val md = ctx.addMutableState(classOf[MessageDigest].getName, "sha256",
      v => s"$v = $self.newDigest();")
    defineCodeGen(ctx, ev, c => s"$self.prefix($md, $c.getBytes(), $nBytes)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShaPrefix {
  /** A fresh sha-256 digest (no checked exception for generated code
    * to declare). */
  def newDigest(): MessageDigest = MessageDigest.getInstance("SHA-256")

  private val localDigest = ThreadLocal.withInitial[MessageDigest](() => newDigest())

  /** The first `nBytes` bytes of sha-256(`bytes`), big-endian and
    * unsigned. `md` is reset by the call, so it may be reused. */
  def prefix(md: MessageDigest, bytes: Array[Byte], nBytes: Int): Long = {
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < nBytes) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  /** [[prefix]] with this thread's digest. */
  def prefix(bytes: Array[Byte], nBytes: Int): Long =
    prefix(localDigest.get, bytes, nBytes)
}
