package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import graft.functions.expressions.ShaPrefix
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** Deterministic string→bucket hashing that is *portable across SQL
  * engines* (SURVEY.md §7.4 "hash function parity"): Spark's `hash()`
  * is Murmur3 and has no DuckDB twin, so every oracle-checked hashing
  * path instead derives an integer from the leading bytes of
  * sha-256 over the UTF-8 string — both engines produce the same
  * digest, and DuckDB reads it back from its hex form with plain
  * arithmetic.
  *
  * Spark side: the codegen'd [[ShaPrefix]] expression
  * (`graft_sha_prefix(s, 3)` in plans), which folds the first 3
  * digest bytes into a long — the value of the first 6 hex digits.
  * DuckDB twin (same value):
  * {{{
  * list_sum(list_transform(range(1,7), i ->
  *   (strpos('0123456789abcdef', substr(sha256(s), i, 1)) - 1)
  *     * CAST(power(16, 6-i) AS BIGINT)))
  * }}}
  *
  * Cost: 70–80 ns per row on 4 tasks over 400k short strings
  * (`kernel.PortableHash.hash24_ns_row` of `perfbench`, 4-core x86
  * host with SHA extensions, JDK 17); one digest of a short string
  * takes about 170 ns on one core. For non-oracle hot paths that need
  * no DuckDB twin,
  * [[org.apache.spark.sql.functions.xxhash64]] is cheaper still.
  */
object PortableHash {

  /** 24-bit non-negative integer from the first 3 bytes (6 hex chars)
    * of sha-256(s). Value range [0, 16^6). */
  def hash24(s: Column): Column = column(ShaPrefix(expression(s.cast("string")), 3))

  /** Bucket assignment in [0, nBuckets). */
  def bucket(s: Column, nBuckets: Int): Column =
    pmod(hash24(s), lit(nBuckets.toLong))

  /** 48-bit non-negative integer from the first 6 bytes (12 hex chars)
    * of sha-256(s). Value range [0, 16^12) — wide enough that simhash
    * band chunks stay selective join keys (12-bit chunks = 4096
    * distinct values; a 24-bit signature's 6-bit chunks would be
    * 64-value skew magnets). */
  def hash48(s: Column): Column = column(ShaPrefix(expression(s.cast("string")), 6))

  /** Row-local JVM twin of [[hash24]] — the same byte fold, for
    * streaming kernels that fold one row at a time where a Column
    * expression can't reach. Spec-pinned equal to the Column form. */
  def hash24Jvm(s: String): Long = ShaPrefix.prefix(s.getBytes(UTF_8), 3)

  /** Row-local JVM twin of [[hash48]]. Spec-pinned equal to the
    * Column form. */
  def hash48Jvm(s: String): Long = ShaPrefix.prefix(s.getBytes(UTF_8), 6)

  /** SQL fragment for the DuckDB twin of [[hash24]], for oracle
    * authoring. `sExpr` is a SQL expression yielding the input string. */
  def duckdbHash24(sExpr: String): String =
    s"list_sum(list_transform(range(1,7), i -> " +
      s"(strpos('0123456789abcdef', substr(sha256($sExpr), i, 1)) - 1) " +
      s"* CAST(power(16, 6-i) AS BIGINT)))"

  /** DuckDB twin of [[hash48]]. Exact in DOUBLE arithmetic: every
    * partial term and the total stay below 2^53. */
  def duckdbHash48(sExpr: String): String =
    s"list_sum(list_transform(range(1,13), i -> " +
      s"(strpos('0123456789abcdef', substr(sha256($sExpr), i, 1)) - 1) " +
      s"* CAST(power(16, 12-i) AS BIGINT)))"
}
