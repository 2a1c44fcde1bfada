package graft.ops

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.SparkSpec

class RankSpec extends SparkSpec {
  import spark.implicits._

  private def ids(df: DataFrame): Seq[Long] =
    df.select(col("id")).as[Long].collect().toSeq.sorted

  test("ties on the leading keys are broken by the later ones") {
    // every score ties; the rows arrive in the OPPOSITE order of the
    // tie-break, so a cut that ignored the last key would keep others
    val desc = (1L to 6L).reverse.map(i => ("g", 1.0, i)).toDF("g", "score", "id")
      .repartition(1)
    assert(ids(Rank.top(desc, Seq(col("g")), Seq(col("score").desc, col("id")), lit(2)))
      === Seq(1L, 2L))
    val asc = (1L to 6L).map(i => ("g", 1.0, i)).toDF("g", "score", "id").repartition(1)
    assert(ids(Rank.top(asc, Seq(col("g")), Seq(col("score"), col("id").desc), lit(2)))
      === Seq(5L, 6L))
  }

  test("descending and ascending keys mix, per group") {
    val df = Seq(
      ("a", 3L, 9L, 1L), ("a", 3L, 1L, 2L), ("a", 5L, 7L, 3L), ("a", 1L, 0L, 4L),
      ("b", 2L, 2L, 5L), ("b", 2L, 1L, 6L), ("b", 2L, 1L, 7L))
      .toDF("g", "hi", "lo", "id")
    val top = Rank.top(df, Seq(col("g")), Seq(col("hi").desc, col("lo"), col("id")), lit(2))
      .select(col("g"), col("rank"), col("id")).as[(String, Long, Long)].collect().toSet
    assert(top === Set(("a", 1L, 3L), ("a", 2L, 2L), ("b", 1L, 6L), ("b", 2L, 7L)))
  }

  test("null and NaN order keys keep the rows the hand-written window keeps") {
    val df = Seq[(String, Option[Double], Long)](
      ("g", None, 1L), ("g", Some(Double.NaN), 2L), ("g", Some(1.0), 3L),
      ("g", Some(Double.PositiveInfinity), 4L), ("g", Some(-0.0), 5L), ("g", None, 6L),
      ("g", Some(Double.NaN), 7L), ("h", None, 8L), ("h", Some(2.0), 9L))
      .toDF("g", "x", "id")
    val orders: Seq[Column] = Seq(col("x"), col("x").desc, col("x").asc_nulls_last,
      col("x").desc_nulls_first)
    for (o <- orders; k <- Seq(1, 3)) {
      val byHand = df
        .withColumn("rn", row_number().over(Window.partitionBy(col("g")).orderBy(o, col("id"))))
        .filter(col("rn") <= k)
        .select(col("id"), col("rn").cast("long")).as[(Long, Long)].collect().toSet
      val viaRank = Rank.top(df, Seq(col("g")), Seq(o, col("id")), lit(k))
        .select(col("id"), col("rank")).as[(Long, Long)].collect().toSet
      assert(viaRank === byHand, s"order $o, k $k")
    }
  }

  test("k can be a per-row column") {
    val df = Seq(("a", 2L, 1L), ("a", 2L, 2L), ("a", 2L, 3L), ("b", 1L, 4L), ("b", 1L, 5L),
      ("c", 0L, 6L)).toDF("g", "lim", "id")
    assert(ids(Rank.top(df, Seq(col("g")), Seq(col("id")), col("lim"))) === Seq(1L, 2L, 4L))
  }

  test("by = Nil ranks the whole frame") {
    val df = (1L to 20L).map(i => (i % 3, i)).toDF("g", "id")
    val top = Rank.top(df, Nil, Seq(col("g").desc, col("id")), lit(3))
    assert(top.select(col("rank"), col("id")).as[(Long, Long)].collect().sortBy(_._1).toSeq
      === Seq((1L, 2L), (2L, 5L), (3L, 8L)))
  }

  test("the rank column is a bigint under the name asked for") {
    val df = Seq((1L, 1L)).toDF("g", "id")
    assert(Rank.top(df, Seq(col("g")), Seq(col("id")), lit(1)).schema("rank").dataType
      === LongType)
    val named = Rank.top(df, Seq(col("g")), Seq(col("id")), lit(1), "qrank")
    assert(named.schema("qrank").dataType === LongType)
    assert(!named.columns.contains("rank"))
  }

  test("guard: no hand-written row_number cut outside Rank.scala") {
    // a row_number() column filtered with `<=` or `=== 1` within six
    // lines is a per-group cut, which belongs in Rank.top; the two
    // attribution ranks also feed the linear credit, and the
    // prefix-filter rank is cut only after a join
    val allowed = Set(
      "RelationalOps.scala" -> "rn_first", "RelationalOps.scala" -> "rn_last",
      "DedupOps.scala" -> "rk")
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"sources not found under ${root.getAbsolutePath}")
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val named = """(?s).*withColumn\(\s*"([^"]+)"\s*,[^"]*row_number\(\).*""".r
    val found = files(root)
      .filter(f => f.getName.endsWith(".scala") && f.getName != "Rank.scala")
      .flatMap { f =>
        val lines = new String(Files.readAllBytes(f.toPath), "UTF-8").split("\n").toSeq
        lines.indices.filter(i => lines(i).contains("row_number()")).flatMap { i =>
          lines.slice(i - 2, i + 1).mkString("\n") match {
            case named(rank) =>
              val cut = ("""filter\(\s*col\("""" + rank + """"\)\s*(<=|===\s*1\b)""").r
              if (lines.slice(i + 1, i + 7).exists(cut.findFirstIn(_).isDefined))
                Some(f.getName -> rank)
              else None
            case _ => None
          }
        }
      }.toSet
    assert(found === allowed)
  }
}
