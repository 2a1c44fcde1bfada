package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword operators — the reference's KeyBERT stage and its result
  * post-processing (reference app.py:107-111; app_callapi.py:150-152,
  * 204-219).
  *
  * KeyBERT itself decomposes into already-shipped operators
  * (SURVEY.md §2.9 E2: n-gram candidates + embeddings + cosine + per-
  * group top-n); the scoring here uses deterministic text statistics
  * in place of transformer cosine so the DuckDB oracle can follow.
  */
object KeywordOps {

  /** F4 — the 13 Korean particles the reference suppresses by
    * CONTAINMENT: a keyword is dropped when any particle appears
    * anywhere inside it (`any(sw in kw for sw in stopwords_ko)`,
    * app.py:70-71,110). */
  val StopwordsKo: Seq[String] =
    Seq("은", "는", "이", "가", "의", "에", "을", "를", "와", "과", "도", "로", "으로")

  /** F4 — English stopwords, matched EXACTLY against each constituent
    * token of a candidate (the reference delegates to KeyBERT's
    * `stop_words="english"` CountVectorizer filter, app.py:108; this
    * deterministic subset of that list is the engine's stand-in). */
  val StopwordsEn: Seq[String] = Seq(
    "a", "an", "the", "and", "or", "of", "to", "in", "on", "for", "is", "are",
    "was", "were", "be", "it", "as", "at", "by", "with", "from", "this", "that")

  /** F4 predicate: keep `kw` iff no constituent token is an English
    * stopword and no Korean particle is contained in it. Pure builtin
    * array ops (arrays_overlap / exists) — codegen'd, no UDF. */
  def keepKeyword(kw: Column): Column =
    !arrays_overlap(split(kw, " "), typedlit(StopwordsEn)) &&
      !exists(typedlit(StopwordsKo), p => kw.contains(p))

  /** W2 — per-document top-n keywords. Score: token length (longer ≈
    * more specific, the deterministic stand-in for KeyBERT relevance),
    * ties broken lexicographically then by first position — every tie
    * broken, per SURVEY.md §7.4. Reference: top_n=8 keywords per
    * paragraph (app_callapi.py:150); fallback `p.split()[:8]`
    * (app_callapi.py:152) is the pos-ordered degenerate case.
    * Candidates pass the F4 stopword filter first (app.py:108-110). */
  def keywordTopN(docs: DataFrame, n: Int = 8): DataFrame = {
    val toks = EmbedOps
      .tokenize(docs)
      .filter(keepKeyword(col("tok")))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"), min(col("pos")).as("first_pos"))
    Rank.top(toks, Seq(col("doc_id")),
        Seq(col("tf").desc, length(col("tok")).desc, col("tok"), col("first_pos")), lit(n))
      .select(col("doc_id"), col("rank"), col("tok").as("keyword"), col("tf"))
  }

  /** A4 — order-preserving distinct, capped: `list(dict.fromkeys(
    * all_kw))[:6]` (app_callapi.py:213) — first-occurrence order over
    * keywords accumulated in (doc_id, rank) order, limit `cap`.
    * First-occurrence order is made explicit as min(doc_id·10^6+rank)
    * so both engines sort on the same key. */
  def distinctKeywords(topn: DataFrame, cap: Int = 6): DataFrame =
    topn
      .groupBy(col("keyword"))
      .agg(min(col("doc_id") * 1000000 + col("rank")).as("first_seen"))
      .orderBy(col("first_seen"))
      .limit(cap)
      .select(col("keyword"), col("first_seen"))

  /** F8/F9/F10 — deterministic prompt assembly (the engine-side prefix
    * of proposal generation, app_callapi.py:226-243; the LLM call
    * itself is an application concern, SURVEY.md §2.9 E3). Keywords
    * are joined in first-seen order via a sorted collect — the
    * `", ".join(keywords)` of app_callapi.py:226 with explicit order. */
  def assemblePrompt(distinctKws: DataFrame, notes: String): DataFrame =
    distinctKws
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("first_seen"), col("keyword")))),
            x => x.getField("keyword")),
          ", ").as("kw_list"))
      .select(
        concat(
          lit("Write a project proposal covering the following keywords: "),
          col("kw_list"),
          lit(". Additional notes: "),
          lit(notes)).as("prompt"))

  /** E2 composite — keyword extraction end-to-end: candidates are 1-
    * and 2-grams (KeyBERT CountVectorizer (1,2) analog, app.py:108)
    * passing the F4 stopword filter (app.py:108-110), scored by
    * corpus-level distinctiveness (tf·idf — deterministic stand-in
    * for embedding-cosine), top-n per doc.
    *
    * Scale shape: the (doc, gram) tf table is built in the doc_id
    * partitioning of the lead window; the df window hash-partitions it
    * by gram — the exchange a sort-merge join on gram would need at
    * 100 TB — and the top-n cut re-partitions by doc_id. A window has
    * no skew split: the partition of a very common gram runs in one
    * task, where AQE could split a skewed join. */
  def keywordExtract(docs: DataFrame, n: Int = 8): DataFrame = {
    val toks = EmbedOps.tokenize(docs)
    val next = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = toks
      .withColumn("tok2", lead(col("tok"), 1).over(next))
      .select(
        col("doc_id"),
        col("pos"),
        explode(
          when(col("tok2").isNotNull, array(col("tok"), concat_ws(" ", col("tok"), col("tok2"))))
            .otherwise(array(col("tok")))).as("gram"))
      .filter(keepKeyword(col("gram")))
    // df counts tf's (doc, gram) rows over a gram window, so the gram
    // stream is planned once; a groupBy + join-back on tf would plan
    // the tokenize → lead → explode branch a second time
    val tf = grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("tf"), min(col("pos")).as("first_pos"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gram"))))
    // n_docs as a 1-row aggregate broadcast-cross-joined in — NOT a
    // driver-side count(): query construction stays lazy, no extra
    // eager corpus scan per call
    val nDocs = docs.agg(countDistinct(col("doc_id")).cast("double").as("n_docs"))
    val scored = tf
      .crossJoin(broadcast(nDocs))
      .withColumn(
        "score",
        round(col("tf") * log((col("n_docs") + 1) / (col("df") + 1)), 6) + lit(0.0))
    // Rank on INTEGER keys only (tf desc ≈ score desc for fixed df;
    // df asc for fixed tf): a 1-ulp libm ln() difference between
    // engines must not be able to flip the top-n set.
    Rank.top(scored, Seq(col("doc_id")),
        Seq(col("tf").desc, col("df"), col("gram"), col("first_pos")), lit(n))
      .select(col("doc_id"), col("rank"), col("gram").as("keyword"), col("score"))
  }
}
