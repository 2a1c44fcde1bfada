package graft.functions

import graft.SparkSpec
import graft.functions.expressions.ShaPrefix
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class PortableHashSpec extends SparkSpec {
  import spark.implicits._

  /** The string chain hash24/hash48 computed before the native
    * expression, kept as the parity reference. */
  private def chain(s: Column, hexDigits: Int): Column =
    conv(substring(sha2(s.cast("string"), 256), 1, hexDigits), 16, 10).cast("long")

  /** Runs `f` with the given SQL confs set, restoring them after. */
  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Seeded random strings (ASCII and Hangul, 0–80 chars, so some span
    * two sha-256 blocks) plus the edge cases, with a null. */
  private def parityInputs: DataFrame = {
    val rnd = new scala.util.Random(4242)
    val pool = "abcxyz019 :-\u00e9\ud55c\uad6d\uc5b4"
    val random = (0 until 300).map(_ =>
      (0 until rnd.nextInt(81)).map(_ => pool(rnd.nextInt(pool.length))).mkString)
    val fixed = Seq("", "tok", "\ud55c\uad6d\uc5b4", "x" * 55, "y" * 56, "z" * 64,
      "\ud55c\uad6d\uc5b4" * 20, null)
    (fixed ++ random).zipWithIndex.map { case (s, i) => (s, i.toLong, i * 0.5) }
      .toDF("s", "n", "d")
  }

  /** Rows where hash24/hash48 differ from the chain, over a string, a
    * long, a double and a nullable long column (numbers are cast to
    * string first). Nulls must agree too, so the comparison is
    * null-safe. */
  private def mismatches(): Long = {
    val checks = for {
      c <- Seq(col("s"), col("n"), col("d"), when(col("n") % 3 === 0, col("n")))
      (h, digits) <- Seq((PortableHash.hash24 _, 6), (PortableHash.hash48 _, 12))
    } yield !(h(c) <=> chain(c, digits))
    parityInputs.filter(checks.reduce(_ || _)).count()
  }

  test("hash24 matches a reference value computed from sha-256 hex") {
    // sha256("tok") starts 0x1a75f2... → first 6 hex digits as int
    val h = Seq("tok").toDF("s").select(PortableHash.hash24(col("s")).as("h"))
      .head().getLong(0)
    val expected = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest("tok".getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString, 16)
    assert(h === expected)
  }

  test("hash24 is deterministic and in [0, 16^6)") {
    val df = Seq("a", "b", "", "한국어", "a").toDF("s")
      .select(PortableHash.hash24(col("s")).as("h"))
    val hs = df.collect().map(_.getLong(0))
    assert(hs.forall(h => h >= 0 && h < (1L << 24)))
    assert(hs(0) === hs(4)) // same input, same hash
    assert(hs(0) !== hs(1))
  }

  test("hash48Jvm and hash24Jvm match the Column forms on tricky inputs") {
    val inputs = Seq("tok", "", "한국어", "hll:42", "a b c")
    val rows = inputs.toDF("s").select(
      col("s"), PortableHash.hash24(col("s")).as("h24"),
      PortableHash.hash48(col("s")).as("h48"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    inputs.foreach { s =>
      assert(PortableHash.hash24Jvm(s) === rows(s)._1, s"hash24 of '$s'")
      assert(PortableHash.hash48Jvm(s) === rows(s)._2, s"hash48 of '$s'")
    }
  }

  test("bucket stays within range and seeded hashes differ by seed") {
    val df = Seq("x").toDF("s").select(
      PortableHash.bucket(col("s"), 64).as("b"),
      PortableHash.seededHash24(col("s"), 0).as("h0"),
      PortableHash.seededHash24(col("s"), 1).as("h1"))
    val r = df.head()
    assert(r.getLong(0) >= 0 && r.getLong(0) < 64)
    assert(r.getLong(1) !== r.getLong(2))
  }

  // codegen fallback off: a generated class that fails to compile
  // must fail the test, not quietly run interpreted
  test("hash24 and hash48 equal the sha2 string chain under whole-stage codegen") {
    withConf("spark.sql.codegen.fallback" -> "false") {
      assert(mismatches() === 0)
      assert(parityInputs.filter(PortableHash.hash24(col("s")).isNull).count() === 1)
    }
  }

  test("hash24 and hash48 equal the sha2 string chain under interpreted evaluation") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(mismatches() === 0)
    }
    val direct = ShaPrefix(Literal("tok"), 3).eval(InternalRow.empty)
    assert(direct === PortableHash.hash24Jvm("tok"))
  }

  test("codegen path is exercised (no fallback to interpreted eval)") {
    val df = spark.range(50)
      .select(PortableHash.hash48($"id").as("h"))
      .filter($"h" >= 0)
    withConf("spark.sql.codegen.fallback" -> "false")(assert(df.count() === 50))
    val starred = df.queryExecution.executedPlan.toString
      .linesIterator.exists(l => l.contains("graft_sha_prefix") && l.trim.startsWith("*"))
    assert(starred)
  }
}
