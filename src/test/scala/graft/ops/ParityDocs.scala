package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Text fixtures for the parity tests of the text ops against their
  * earlier formulations: the edge cases plus seeded random docs over a
  * small vocabulary (Latin, Hangul, English stopwords, a Korean
  * particle), joined by single spaces or runs of them. */
object ParityDocs {

  val edgeCases: Seq[(Long, String)] = Seq(
    0L -> "alpha beta alpha alpha beta", // repeated tokens and bigrams
    1L -> "  alpha   beta  gamma ", // runs of spaces
    2L -> "",
    3L -> null,
    4L -> "한국어 데이터는 한국어 데이터", // Hangul, one token holds a particle
    5L -> "solo", // one token: no bigram, no shingle
    6L -> "ab", // shorter than a char trigram
    7L -> "alpha beta", // shorter than a 3-shingle
    8L -> "the spark engine is the engine") // English stopwords

  def random(n: Int, seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "데이터", "엔진은", "the", "of", "x")
    (0 until n).map { i =>
      val sep = if (rnd.nextBoolean()) " " else "   "
      (100L + i, Seq.fill(rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(sep))
    }
  }

  /** (doc_id, text): the edge cases and 40 random docs. */
  def apply(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (edgeCases ++ random(40, 707)).toDF("doc_id", "text")
  }

  /** The same docs with "shared" prepended to every text, so one gram
    * occurs in every doc. */
  def withSharedGram(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (edgeCases ++ random(40, 707))
      .map { case (id, t) => (id, "shared " + Option(t).getOrElse("")) }
      .toDF("doc_id", "text")
  }
}
