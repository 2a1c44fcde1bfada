package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class KeywordOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "spark spark spark catalyst tungsten"),
    (1L, "flink flink beam")
  ).toDF("doc_id", "text")

  test("keywordTopN ranks by tf then length, caps at n") {
    val r = KeywordOps.keywordTopN(docs, n = 2)
    assert(r.filter($"doc_id" === 0).count() === 2)
    val top = r.filter($"doc_id" === 0 && $"rank" === 1).head()
    assert(top.getAs[String]("keyword") === "spark")
    assert(top.getAs[Long]("tf") === 3L)
  }

  test("distinctKeywords: first-occurrence order, capped (app_callapi.py:213)") {
    val dk = KeywordOps.distinctKeywords(KeywordOps.keywordTopN(docs, 2), cap = 3)
      .orderBy("first_seen").select("keyword").as[String].collect()
    assert(dk.head === "spark") // doc 0 rank 1 comes first
    assert(dk.length === 3)
    assert(dk.distinct.length === dk.length)
  }

  test("assemblePrompt joins keywords in first-seen order with notes") {
    val p = KeywordOps.assemblePrompt(
      KeywordOps.distinctKeywords(KeywordOps.keywordTopN(docs, 1), cap = 2), "n1")
      .head().getString(0)
    assert(p.startsWith("Write a project proposal covering the following keywords: spark"))
    assert(p.endsWith("Additional notes: n1"))
  }

  test("keywordExtract produces 1- and 2-gram candidates ranked per doc") {
    val r = KeywordOps.keywordExtract(docs, n = 5)
    val kws = r.filter($"doc_id" === 0).select("keyword").as[String].collect().toSet
    assert(kws.exists(_.contains(" "))) // bigram present
    assert(r.filter($"doc_id" === 0).count() <= 5)
    // corpus-distinctive tokens outrank cross-doc ones
    assert(r.filter($"rank" === 1 && $"doc_id" === 0).head().getAs[String]("keyword").contains("spark"))
  }

  test("F4 stopword filter: English exact-match + Korean containment (app.py:70-71,108-110)") {
    val d = Seq(
      (0L, "the spark engine is the best engine"),
      (1L, "데이터는 스파크의 엔진 엔진 엔진") // 는/의 are particle-containing
    ).toDF("doc_id", "text")
    val top = KeywordOps.keywordTopN(d, n = 10)
    val kw0 = top.filter($"doc_id" === 0).select("keyword").as[String].collect().toSet
    assert(!kw0.contains("the") && !kw0.contains("is")) // English exact-match dropped
    assert(kw0.contains("engine") && kw0.contains("spark"))
    val kw1 = top.filter($"doc_id" === 1).select("keyword").as[String].collect().toSet
    assert(!kw1.contains("데이터는") && !kw1.contains("스파크의")) // particle containment dropped
    assert(kw1.contains("엔진"))
    // keywordExtract: bigram containing a stopword token is dropped
    val ext = KeywordOps.keywordExtract(d, n = 20)
      .filter($"doc_id" === 0).select("keyword").as[String].collect().toSet
    assert(!ext.exists(_.split(" ").exists(KeywordOps.StopwordsEn.contains)))
    assert(ext.contains("spark engine"))
  }

  /** keywordExtract as written before the df window, kept as the
    * parity reference: df is a groupBy on the tf table joined back on
    * gram, which plans the gram stream twice. */
  private def keywordExtractJoinBack(docs: DataFrame, n: Int): DataFrame = {
    val next = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = EmbedOps.tokenize(docs)
      .withColumn("tok2", lead(col("tok"), 1).over(next))
      .select(
        col("doc_id"),
        col("pos"),
        explode(
          when(col("tok2").isNotNull, array(col("tok"), concat_ws(" ", col("tok"), col("tok2"))))
            .otherwise(array(col("tok")))).as("gram"))
      .filter(KeywordOps.keepKeyword(col("gram")))
    val tf = grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("tf"), min(col("pos")).as("first_pos"))
    val df = tf.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(countDistinct(col("doc_id")).cast("double").as("n_docs"))
    val scored = tf
      .join(df, "gram")
      .crossJoin(broadcast(nDocs))
      .withColumn(
        "score",
        round(col("tf") * log((col("n_docs") + 1) / (col("df") + 1)), 6) + lit(0.0))
    Rank.top(scored, Seq(col("doc_id")),
        Seq(col("tf").desc, col("df"), col("gram"), col("first_pos")), lit(n))
      .select(col("doc_id"), col("rank"), col("gram").as("keyword"), col("score"))
  }

  test("keywordExtract equals the join-back formulation row for row") {
    for (d <- Seq(ParityDocs(spark), ParityDocs.withSharedGram(spark)); n <- Seq(1, 3, 8))
      assertSameRows(KeywordOps.keywordExtract(d, n), keywordExtractJoinBack(d, n))
  }

  test("keywordExtract: a gram in every doc scores 0; a one-token doc gets only its token") {
    val r = KeywordOps.keywordExtract(ParityDocs.withSharedGram(spark), n = 50)
    val shared = r.filter($"keyword" === "shared").select("score").as[Double].collect()
    assert(shared.length === ParityDocs.edgeCases.size + 40 && shared.forall(_ === 0.0))
    val solo = KeywordOps.keywordExtract(ParityDocs(spark), n = 50).filter($"doc_id" === 5)
      .select("keyword").as[String].collect()
    assert(solo.toSeq === Seq("solo"))
  }
}
