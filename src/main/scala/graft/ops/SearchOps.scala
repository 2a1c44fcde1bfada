package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorMath.roundn

/** The reference's search entry point end-to-end (SURVEY.md §3.2):
  * free-text query → embed → score every corpus document → ranked
  * top-k with metadata. Composed entirely from shipped operators:
  * [[EmbedOps.embedSparse]] for both sides, cosine as a sparse
  * inverted-index join (unit-norm weights ⇒ dot over shared dims),
  * deterministic top-k.
  *
  * Scale shape: the query side is a handful of (dim, weight) rows —
  * broadcast; the corpus side streams; the only wide exchange is the
  * per-doc score aggregation, keyed by doc_id. No dense vectors are
  * materialized anywhere.
  */
object SearchOps {

  /** Top-k documents for a text query: (rank, doc_id, source, score). */
  def searchText(docs: DataFrame, queryText: String, k: Int, dim: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val corpusW = EmbedOps.embedSparse(docs, dim)
    val queryW = EmbedOps
      .embedSparse(Seq((-1L, queryText)).toDF("doc_id", "text"), dim)
      .select(col("dim"), col("weight").as("qw"))
    val scored = corpusW
      .join(broadcast(queryW), "dim")
      .groupBy(col("doc_id"))
      // dim-ordered sequential fold — run-stable float sum (see
      // VectorMath.orderedSum)
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("dim"), col("weight") * col("qw")), 6).as("score"))
    // orderBy.limit FIRST (plans as TakeOrderedAndProject — per-
    // partition top-k, no global single-reducer sort); the window
    // then ranks only the ≤k survivors, so its single-partition
    // shape is intended (WindowExec's blanket warning is silenced at
    // the logger in the entry points — a constant partition key
    // can't do it, EliminateWindowPartitions folds it away)
    val top = scored
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    top
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"), col("score"))
  }

  /** The reference's full search→proposal lifecycle as ONE composed
    * query (app_callapi.py:196-243, the last undeclared lifecycle
    * beside ingest_pipeline / web_ingest / pretrain_pipeline): query
    * string → embed → top-k search ([[searchText]]) → per-hit
    * keywords in hit-rank order (the `all_kw += kws` accumulation) →
    * order-preserving distinct capped at 6
    * (`list(dict.fromkeys(all_kw))[:6]`, app_callapi.py:213) →
    * deterministic prompt prefix
    * ([[graft.ops.KeywordOps.assemblePrompt]]). Output mirrors the
    * reference's result panel: one row per hit (rank, doc, source,
    * score, its keyword list in top-n order — the `', '.join(kws)`
    * display line) with the assembled proposal prompt alongside.
    *
    * First-seen order is (hit_rank, keyword_rank) — the reference
    * accumulates keywords BY SEARCH RANK, not by document id, so
    * [[graft.ops.KeywordOps.distinctKeywords]] is reused with
    * hit_rank riding its doc_id slot.
    *
    * Scale shape: every stage is a shipped operator's plan —
    * the search side broadcasts the ≤dim-row query vector and top-k
    * is TakeOrderedAndProject; the keyword join then touches k rows
    * against the per-doc top-n table; the distinct/prompt tail runs
    * on ≤ k·n rows. The k-row hit table and the k·n-row keyword
    * join head 2+ consumers each and localCheckpoint once. */
  def proposalFlow(docs: DataFrame, queryText: String, k: Int = 5,
                   notes: String = "focus on quarterly impact"): DataFrame = {
    val hits = searchText(docs, queryText, k)
      .select(col("rank").as("hit_rank"), col("doc_id"), col("source"), col("score"))
      .localCheckpoint(false)
    val hitKw = hits.select(col("hit_rank"), col("doc_id"))
      .join(KeywordOps.keywordTopN(docs), "doc_id")
      .localCheckpoint(false)
    val kwList = hitKw.groupBy(col("doc_id"), col("hit_rank"))
      .agg(expr("array_join(transform(array_sort(collect_list(struct(rank, keyword)))," +
        " x -> x.keyword), ', ')").as("keywords"))
    val dk = KeywordOps.distinctKeywords(
      hitKw.select(col("hit_rank").as("doc_id"), col("rank"), col("keyword")))
    val prompt = KeywordOps.assemblePrompt(dk, notes)
    hits.join(kwList, Seq("doc_id", "hit_rank"), "left")
      // a hit whose every token is stopworded has no keywords — the
      // reference shows it with an empty keyword line, so '' not null
      .withColumn("keywords", coalesce(col("keywords"), lit("")))
      .crossJoin(broadcast(prompt))
      .select(col("hit_rank"), col("doc_id"), col("source"), col("score"),
        col("keywords"), col("prompt"))
  }

  /** More-like-this — [[searchText]] with a DOCUMENT as the query
    * (the related-items primitive): the seed doc's own sparse
    * hashed-TF vector retrieves its nearest corpus documents by
    * cosine over shared dims, self excluded. Same plan skeleton:
    * the ≤`dim`-row query side broadcasts, the only wide exchange is
    * the per-doc score agg, top-k is TakeOrderedAndProject. */
  def moreLikeThis(docs: DataFrame, seedDocId: Long, k: Int = 10,
                   dim: Int = 64): DataFrame = {
    val corpusW = EmbedOps.embedSparse(docs, dim)
    val queryW = corpusW.filter(col("doc_id") === seedDocId)
      .select(col("dim"), col("weight").as("qw"))
    val scored = corpusW
      .filter(col("doc_id") =!= seedDocId)
      .join(broadcast(queryW), "dim")
      .groupBy(col("doc_id"))
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("dim"), col("weight") * col("qw")), 6).as("score"))
    val top = scored
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"), col("score"))
  }

  /** BM25 ranked retrieval (Robertson/Lucene form) — the lexical
    * counterpart to [[searchText]]'s embedding cosine:
    *
    *   score(d) = Σ_t ln((N − df_t + 0.5)/(df_t + 0.5) + 1)
    *              · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
    *
    * Exact query terms (no hashing — df/idf want real term
    * statistics). Term stats are computed only for the query's terms:
    * the tf scan filters on the (tiny, broadcast-literal) term set,
    * df derives from tf, and N/avgdl are 1-row aggregates broadcast
    * in — one keyed shuffle on doc_id plus k-row top-k, same scale
    * shape as searchText. */
  def searchBm25(docs: DataFrame, queryText: String, k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = EmbedOps.tokenize(docs)
    val qTerms = queryText.split(" ").map(_.trim).filter(_.nonEmpty).distinct.toSeq
    val lens = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("len_d"))
    val avgLen = lens.agg(avg(col("len_d")).as("avg_len"))
    val nDocs = docs.agg(countDistinct(col("doc_id")).cast("double").as("n_docs"))
    val tf = toks.filter(col("tok").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), "tok")
      .join(lens, "doc_id")
      .crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(avgLen))
      .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("len_d") / col("avg_len"))))
      .groupBy(col("doc_id"))
      // term-ordered sequential fold — run-stable float sum
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("tok"), col("contrib")), 6).as("score"))
    val top = scored
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    top
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"), col("score"))
  }

  /** Lexical hard negatives — the DPR training-data recipe
    * (Karpukhin et al., EMNLP'20: the strongest negatives for a dense
    * retriever are BM25's top non-relevant hits, not random docs)
    * beside the dense family's [[graft.ops.VectorOps.hardNegatives]]/
    * [[graft.ops.VectorOps.tripletMining]]: each probe document's
    * top-`qTerms` keywords form its query, BM25 scores every
    * lexically-overlapping doc, the positive (the probe itself) is
    * excluded, and the top-k survivors are the hard negatives a
    * contrastive batch would carry.
    *
    * Determinism: [[searchBm25]]'s exact decision path — tf/df/len
    * integers, idf/contrib doubles folded in TERM order per
    * (query, doc), rounded once; ranks tie-break on doc_id.
    *
    * Scale shape: the query side is nQueries·qTerms rows (broadcast);
    * the corpus touches only postings matching some query term (the
    * searchBm25 pruning); scoring is one (query, doc)-keyed agg and
    * the top-k a bounded rank window per query. */
  def bm25HardNegatives(docs: DataFrame, nQueries: Long = 10, qTerms: Int = 3,
                        k: Int = 5, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qt = KeywordOps.keywordTopN(docs)
      .filter(col("doc_id") < nQueries && col("rank") <= qTerms)
      .select(col("doc_id").as("query_doc"), col("keyword").as("tok"))
      .localCheckpoint(false)
    val toks = EmbedOps.tokenize(docs)
    val lens = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("len_d"))
    val avgLen = lens.agg(avg(col("len_d")).as("avg_len"))
    val nDocs = docs.agg(countDistinct(col("doc_id")).cast("double").as("n_docs"))
    val tf = toks.join(broadcast(qt.select(col("tok")).distinct()), "tok")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(qt), "tok")
      .filter(col("doc_id") =!= col("query_doc"))
      .join(broadcast(df), "tok")
      .join(lens, "doc_id")
      .crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(avgLen))
      .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("len_d") / col("avg_len"))))
      .groupBy(col("query_doc"), col("doc_id"))
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("tok"), col("contrib")), 6).as("score"))
    Rank.top(scored, Seq(col("query_doc")), Seq(col("score").desc, col("doc_id")), lit(k))
      .select(col("query_doc"), col("rank"), col("doc_id").as("neg_id"), col("score"))
  }

  /** The CONTRASTIVE DATASET CAPSTONE (r14 verdict #6) — the DPR
    * training-set funnel composed from the three pinned kernels:
    * [[graft.ops.TextOps.ictPairs]] supplies each anchor's (query,
    * positive) — the unsupervised ORQA objective; [[bm25HardNegatives]]
    * supplies the LEXICAL hard negatives (positives excluded by the
    * kernel's own `doc_id ≠ query_doc` gate); and
    * [[graft.ops.VectorOps.tripletMining]] supplies the DENSE hardest
    * positive/negative per anchor (cross-label by construction, so
    * the dense negative can never be the dense positive). Output is
    * ONE replayable funnel row: per-stage counts plus id-sums and the
    * integer-micro margin sum, so a drift in ANY stage's membership
    * or values — not just its cardinality — is a hash mismatch.
    *
    * Anchors are the bounded probe set (doc_id / vec_id < nAnchors,
    * the recall-receipt convention); `n_complete` counts anchors
    * carrying all three components — the rows a contrastive batch
    * builder could actually emit.
    *
    * Scale shape: inherits each kernel's declared plan (ICT =
    * doc-keyed fold + map-side slice; BM25 = broadcast query terms +
    * postings-pruned scoring; triplets = cell-bounded pair join);
    * the composition adds only probe-bounded joins on anchor_id and
    * 1-row agg crossJoins. */
  def retrievalTrainingSet(docs: DataFrame, emb: DataFrame, cells: VectorOps.Codebook,
                           nAnchors: Long = 10): DataFrame = {
    // the three mining legs are independent job chains over different
    // substrates (token windows / BM25 postings / embedding cells) —
    // materialize them as parallel Legs so their jobs overlap; EAGER
    // checkpoints here, since each leg's job is the materialization
    // itself. Output order and values are unchanged — the composition
    // below reads the same three tables whichever leg finishes first.
    val Seq(ict, lex, dense) = Legs(
      () => TextOps.ictPairs(docs).filter(col("doc_id") < nAnchors)
        .select(col("doc_id").as("anchor_id"), col("q_start"))
        .localCheckpoint(true),
      () => bm25HardNegatives(docs, nQueries = nAnchors)
        .select(col("query_doc").as("anchor_id"), col("neg_id"))
        .localCheckpoint(true),
      () => VectorOps.tripletMining(emb, cells)
        .filter(col("anchor_id") < nAnchors)
        .select(col("anchor_id"), col("pos_id"), col("neg_id"), col("margin"))
        .localCheckpoint(true))
    val complete = ict.select(col("anchor_id")).distinct()
      .join(lex.select(col("anchor_id")).distinct(), "anchor_id")
      .join(dense.select(col("anchor_id")).distinct(), "anchor_id")
    docs.filter(col("doc_id") < nAnchors)
      .agg(count(lit(1)).as("n_anchors"))
      .crossJoin(broadcast(ict.agg(
        count(lit(1)).as("n_ict"),
        coalesce(sum(col("q_start")), lit(0L)).as("q_start_sum"))))
      .crossJoin(broadcast(lex.agg(
        count(lit(1)).as("n_lex"),
        coalesce(sum(col("neg_id")), lit(0L)).as("lex_neg_id_sum"))))
      .crossJoin(broadcast(dense.agg(
        count(lit(1)).as("n_dense"),
        coalesce(sum(col("pos_id")), lit(0L)).as("dense_pos_id_sum"),
        coalesce(sum(col("neg_id")), lit(0L)).as("dense_neg_id_sum"),
        coalesce(sum(round(col("margin") * 1e6).cast("long")), lit(0L))
          .as("margin_micro_sum"))))
      .crossJoin(broadcast(complete.agg(count(lit(1)).as("n_complete"))))
  }

  /** The BM25 retrieval index AS A TABLE — the ADDITIVE half of the
    * BM25 state, per-document only: postings (doc_id, tok, tf) plus
    * one sentinel row (doc_id, '', 0) per document (tokenize drops
    * blanks, so '' never collides with a real term). Everything else
    * BM25 needs DERIVES by aggregation — len_d = Σ tf per doc, N =
    * distinct doc_ids (the sentinel keeps token-less docs counted),
    * df_t = docs per term, avgdl over len_d > 0 — which is exactly
    * why incremental maintenance is EXACT here, not approximate:
    * index(base) ∪ index(batch) ≡ index(base ∪ batch) row-for-row,
    * so merged-index scores equal full-rebuild scores bit-for-bit
    * (unlike a cached df/avgdl snapshot, which would go stale with
    * every add — the stats are recomputed from the merged postings
    * at query time, one bounded agg each).
    *
    * Scale shape: building is one tokenize + (doc, tok) count — cost
    * ∝ the docs indexed, which for a daily batch is the batch, never
    * the corpus; at rest the table bucketBys on tok so query-term
    * probes read postings without an exchange. */
  def bm25Index(docs: DataFrame): DataFrame =
    EmbedOps.tokenize(docs)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .unionByName(docs.select(col("doc_id"), lit("").as("tok"), lit(0L).as("tf")))

  /** [[searchBm25]]'s scoring half against a PRECOMPUTED (possibly
    * persisted-base ∪ batch) postings index — same formula, same
    * term-ordered fold, same rounding, so a merged incremental index
    * must reproduce the from-scratch [[searchBm25]] answer exactly
    * (the shared oracle pins it). */
  def searchBm25FromIndex(index: DataFrame, docs: DataFrame, queryText: String,
                          k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qTerms = queryText.split(" ").map(_.trim).filter(_.nonEmpty).distinct.toSeq
    val lens = index.groupBy(col("doc_id")).agg(sum(col("tf")).as("len_d"))
    // avgdl over docs WITH tokens (searchBm25's lens only ever held
    // those); N counts every doc — the sentinel keeps empty docs in
    val avgLen = lens.filter(col("len_d") > 0L).agg(avg(col("len_d")).as("avg_len"))
    val nDocs = index.agg(countDistinct(col("doc_id")).cast("double").as("n_docs"))
    val tf = index.filter(col("tok").isin(qTerms: _*))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), "tok")
      .join(lens, "doc_id")
      .crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(avgLen))
      .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("len_d") / col("avg_len"))))
      .groupBy(col("doc_id"))
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("tok"), col("contrib")), 6).as("score"))
    val top = scored
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    top
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"), col("score"))
  }

  /** Positional-index phrase search — exact "quoted phrase" retrieval
    * over the token stream (the lexical sibling of [[searchBm25]]:
    * BM25 ranks bags of words; this matches token ADJACENCY). The
    * token sequence index `seq` is the blank-dropped token rank (a
    * per-doc window — index-build cost, amortized over queries at
    * scale where the postings table is materialized once); a match of
    * the m-term phrase is a position where each postings list for
    * term i contains (doc, seq+i).
    *
    * Scale shape: each join side is first FILTERED to one phrase
    * term's postings — the joins move only the phrase terms' postings
    * lists, never the corpus token stream, and they are equi-joins on
    * (doc_id, seq) (uniform). Top-k is orderBy.limit →
    * TakeOrderedAndProject.
    */
  def phraseSearch(docs: DataFrame, phrase: String, k: Int): DataFrame = {
    val terms = phrase.split(" ").map(_.trim).filter(_.nonEmpty)
    require(terms.nonEmpty, "phrase must contain at least one term")
    val seqW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val postings = EmbedOps.tokenize(docs)
      .withColumn("seq", row_number().over(seqW).cast("long"))
      .select(col("doc_id"), col("seq"), col("tok"))
    val first = postings.filter(col("tok") === terms.head)
      .select(col("doc_id"), col("seq"))
    val matches = terms.zipWithIndex.tail.foldLeft(first) { case (acc, (t, i)) =>
      acc.join(
        postings.filter(col("tok") === t)
          .select(col("doc_id"), (col("seq") - i).as("seq")),
        Seq("doc_id", "seq"))
    }
    val counted = matches.groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))
    val top = counted
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .orderBy(col("n_matches").desc, col("doc_id"))
      .limit(k)
    top
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("n_matches").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"), col("n_matches"))
  }

  /** Proximity (NEAR/k) search — the retrieval operator between
    * [[searchBm25]]'s bag-of-words and [[phraseSearch]]'s exact
    * adjacency: rank documents where BOTH terms occur within
    * `maxGap` token positions, scored by qualifying position-pair
    * count with the tightest observed gap as the tie-break (closer
    * co-mention = stronger signal — the classic proximity-scoring
    * heuristic).
    *
    * Scale shape: same positional index as [[phraseSearch]] (per-doc
    * rank window — index-build cost, amortized where the postings
    * table is materialized once); each join side is FILTERED to one
    * term's postings first, so the band-join on (doc_id, |Δseq| ≤
    * maxGap) moves only those two postings lists. Per-doc pair
    * enumeration is |A_d|·|B_d| — per-document term frequencies, not
    * corpus-scale. Top-k = orderBy.limit → TakeOrderedAndProject. */
  def proximitySearch(docs: DataFrame, termA: String, termB: String,
                      maxGap: Long = 5, k: Int = 10): DataFrame = {
    val seqW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val postings = EmbedOps.tokenize(docs)
      .withColumn("seq", row_number().over(seqW).cast("long"))
      .select(col("doc_id"), col("seq"), col("tok"))
    val a = postings.filter(col("tok") === termA).select(col("doc_id"), col("seq").as("sa"))
    val b = postings.filter(col("tok") === termB).select(col("doc_id"), col("seq").as("sb"))
    val scored = a.join(b, "doc_id")
      .filter(abs(col("sa") - col("sb")) <= maxGap && col("sa") =!= col("sb"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"), min(abs(col("sa") - col("sb"))).as("min_gap"))
    scored
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .orderBy(col("n_pairs").desc, col("min_gap"), col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_pairs").desc, col("min_gap"), col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"), col("n_pairs"), col("min_gap"))
  }

  /** Token-budget context packing — the retrieval→prompt step of the
    * reference's proposal flow (SURVEY §3.3 assembles retrieved
    * keywords into a prompt; an LLM context has a hard token budget):
    * rank the top-`k` documents for the query, then keep the ranked
    * PREFIX whose running whitespace-token total stays within
    * `tokenBudget`. Once the cumulative count passes the budget every
    * later row is over too (running sums are monotone), so the filter
    * is a true prefix cut, not a knapsack.
    *
    * Scale shape: [[searchText]] bounds the candidate set to k rows
    * BEFORE the window, so the unpartitioned running-sum window ranks
    * ≤k rows — never the corpus. Token counting is likewise bounded:
    * the corpus is first LEFT-SEMI joined to the ≤k ranked doc_ids
    * (broadcast — k rows), so the tokenize projection runs on the
    * survivors only, never as a second full-corpus pass. Re-reading
    * `docs` for its text column is a pruned (doc_id, text) scan; the
    * expensive part — tokenization — touches k rows.
    */
  def contextPack(docs: DataFrame, queryText: String, tokenBudget: Long,
                  k: Int = 50): DataFrame = {
    val ranked = searchText(docs, queryText, k)
    val toks = docs
      .join(broadcast(ranked.select(col("doc_id"))), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), TextOps.wsTokenCount(col("text")).as("n_ws_tokens"))
    val cum = Window.orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked
      .join(toks, "doc_id")
      .withColumn("cum_tokens", sum(col("n_ws_tokens")).over(cum))
      .filter(col("cum_tokens") <= tokenBudget)
      .select(col("rank"), col("doc_id"), col("score"),
        col("n_ws_tokens"), col("cum_tokens"))
  }

  /** QUERY EXPANSION retrieval — the co-occurrence-thesaurus step a
    * plain term-match search lacks (a query for "vector" should also
    * surface docs saying only its habitual collocates): each query
    * term is expanded with its top-`mExpand` ±`window` co-occurrence
    * partners mined from the corpus itself (count-ranked, partner-asc
    * ties; partners that are query terms dedup at weight 1.0), then
    * documents score Σ tf·w with originals at 1.0 and expansions at
    * 0.5 — weighted postings, top-k as TakeOrderedAndProject.
    *
    * Determinism: co-occurrence counts are exact integers with an
    * (n_co desc, partner) argmax; weights are exact halves, so the
    * score fold is exact in floating point (kept dim-ordered by the
    * house discipline anyway).
    *
    * Scale shape: pair generation is the wordPmi MAP-ONLY zip_with
    * shape, but filtered to pairs TOUCHING a query term before the
    * count (broadcast literal array — the selective predicate rides
    * the map side); the expansion table is ≤ |q|·m rows broadcast
    * into the tf join; one doc-keyed score agg; top-k never sorts the
    * corpus. */
  def searchExpanded(docs: DataFrame, queryText: String = "spark vector hash join",
                     k: Int = 10, mExpand: Int = 2, window: Int = 2,
                     maxTokens: Int = 512): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qTerms = queryText.split(" ").map(_.trim).filter(_.nonEmpty).distinct.toSeq
    val toks = expr(
      s"filter(transform(slice(split(text, ' '), 1, $maxTokens), t -> trim(t)), t -> t <> '')")
    val pairArr = (1 to window).map { d =>
      zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - d, lit(0))),
        slice(col("toks"), lit(1 + d), greatest(size(col("toks")) - d, lit(0))),
        (a, b) => struct(least(a, b).as("t1"), greatest(a, b).as("t2")))
    }
    val qlit = array(qTerms.map(lit): _*)
    val touching = docs.select(toks.as("toks"))
      .select(explode(flatten(array(pairArr: _*))).as("p"))
      .select(col("p.t1"), col("p.t2"))
      .filter(array_contains(qlit, col("t1")) || array_contains(qlit, col("t2")))
      .select(
        when(array_contains(qlit, col("t1")), col("t1")).otherwise(col("t2")).as("q"),
        when(array_contains(qlit, col("t1")), col("t2")).otherwise(col("t1")).as("partner"))
      .filter(!array_contains(qlit, col("partner")))
    val coCounts = touching
      .groupBy(col("q"), col("partner")).agg(count(lit(1)).as("n_co"))
    val expansions = Rank.top(coCounts, Seq(col("q")),
        Seq(col("n_co").desc, col("partner")), lit(mExpand))
      .select(col("partner").as("tok"), lit(0.5).as("w"))
      .distinct()
    val terms = qTerms.toDF("tok").withColumn("w", lit(1.0))
      .unionByName(expansions)
      .groupBy(col("tok")).agg(max(col("w")).as("w"))
    val scored = EmbedOps.tokenize(docs)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .join(broadcast(terms), "tok")
      .groupBy(col("doc_id"))
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("tok"), col("tf") * col("w")), 6).as("score"))
    scored.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"), col("score"))
  }

  /** Per-token char-trigram hashed vector (tok, tdim, w): trigrams
    * (the whole token when shorter than 3 chars) → distinct-gram
    * hash bucket in [0, tdims) → per-(tok, tdim) counts →
    * L2-normalized 6dp weights. The subword geometry behind
    * [[maxsimSearch]]: tokens sharing surface form ("sort" /
    * "sorting") land on shared buckets and cosine-overlap; unrelated
    * tokens at tdims = 4096 almost never collide. */
  def tokenTrigramVec(toks: DataFrame, tdims: Int = 4096): DataFrame = {
    import graft.functions.PortableHash
    val grams = toks
      .select(col("tok"),
        explode(when(length(col("tok")) >= 3,
          expr("transform(sequence(1, length(tok) - 2), ii -> substring(tok, ii, 3))"))
          .otherwise(array(col("tok")))).as("g"))
    val hashed = grams.groupBy(col("tok"), col("g")).agg(count(lit(1)).as("cnt"))
      .withColumn("tdim", PortableHash.bucket(col("g"), tdims))
      .groupBy(col("tok"), col("tdim")).agg(sum(col("cnt")).as("cnt"))
    val nrm = hashed.groupBy(col("tok"))
      .agg(sqrt(sum(col("cnt") * col("cnt"))).as("nrm"))
    hashed.join(nrm, "tok")
      .select(col("tok"), col("tdim"), roundn(col("cnt") / col("nrm"), 6).as("w"))
  }

  /** Late-interaction retrieval (the ColBERT MaxSim shape, Khattab &
    * Zaharia '20) — the modern reranking primitive the bag-of-words
    * scorers can't express: score(d) = Σ_{query tokens q} max_{doc
    * tokens t} cos(vec(q), vec(t)). Each TOKEN keeps its own vector
    * (here the deterministic [[tokenTrigramVec]] subword embedding —
    * the engine's zero-egress stand-in for contextual token
    * embeddings), so a query token is satisfied by its single best
    * match in the document: full query COVERAGE beats one-term
    * repetition (a doc spamming one query term caps that term's
    * contribution at its max), and surface variants ("sorting" vs
    * "sort") still match through shared trigrams — both pinned in
    * SearchOpsSpec against [[searchText]]'s cosine, which ranks the
    * opposite way on the repetition fixture.
    *
    * Scale shape: token vectors are computed once over the DISTINCT
    * vocab (never the token stream); the query side is ≤|q|·dims
    * rows, broadcast into the vocab-keyed sim table, which is itself
    * ≤|trigram-sharing vocab|·|q| rows and broadcasts into one
    * doc-token-keyed pass; the only wide exchanges are the distinct
    * doc-token agg and the per-doc score agg — the searchText
    * skeleton with a vocab-sized sim stage in between. Absent
    * (doc, qtok) pairs contribute exactly 0 (no shared trigram ⇒
    * cosine 0), so the sum over present pairs IS the MaxSim total.
    * Determinism: sims and scores are 6dp-rounded, max is
    * order-free, sums are key-ordered folds. */
  def maxsimSearch(docs: DataFrame, queryText: String, k: Int = 10,
                   tdims: Int = 4096): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dtoks = EmbedOps.tokenize(docs).select(col("doc_id"), col("tok")).distinct()
    val tokVec = tokenTrigramVec(dtoks.select(col("tok")).distinct(), tdims)
    val qtoks = queryText.split(" ").map(_.trim).filter(_.nonEmpty).distinct.toSeq
    val qVec = tokenTrigramVec(qtoks.toDF("tok"), tdims)
      .select(col("tok").as("qtok"), col("tdim"), col("w").as("qw"))
    val sims = tokVec.join(broadcast(qVec), "tdim")
      .groupBy(col("tok"), col("qtok"))
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("tdim"), col("w") * col("qw")), 6).as("sim"))
    val scored = dtoks.join(broadcast(sims), "tok")
      .groupBy(col("doc_id"), col("qtok"))
      .agg(max(col("sim")).as("best"))
      .groupBy(col("doc_id"))
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("qtok"), col("best")), 6).as("score"))
    scored.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"), col("score"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    * '98) — diversified top-k: greedily pick argmax of
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), so each new result
    * adds relevance the already-selected set doesn't cover. The
    * de-duplication knob for retrieval over near-duplicate corpora —
    * plain cosine top-k returns k copies of the best template; MMR
    * returns one plus what else matches (pinned in SearchOpsSpec).
    *
    * Scale shape: relevance top-`cand` is [[searchText]]'s
    * TakeOrderedAndProject pipeline; pairwise sims join only the
    * ≤cand candidate vectors (dim-keyed equi-join, never the corpus);
    * the greedy loop localizes ≤cand rels + ≤cand² sims — BOUNDED BY
    * THE cand PARAMETER by construction (the kmeansCells / bpeMerges
    * bounded-localize pattern), then k driver-side folds over ≤cand
    * entries. Determinism: rel and sim are 6dp ⇒ exact integer
    * micros, λ is an exact tenth, so every mmr score is the EXACT
    * Long λ₁₀·rel_micro − (10−λ₁₀)·ms_micro in deci-micros — no
    * rounded float ever enters the argmax (0.7·rel lands ON the 6dp
    * half-step whenever rel's last digit is odd — measured, the
    * round-then-compare form diverged at sf0.1); ties break doc_id
    * asc. The emitted double is one exact-integer division, bit-equal
    * across engines. */
  def searchMmr(docs: DataFrame, queryText: String, k: Int = 5,
                cand: Int = 20, lambda: Double = 0.7,
                dim: Int = 64): DataFrame = {
    val l10 = math.round(lambda * 10).toInt
    require(l10 >= 0 && l10 <= 10 && math.abs(lambda * 10 - l10) < 1e-9,
      "lambda must be an exact tenth for the fixed-point mmr fold")
    val spark = docs.sparkSession
    import spark.implicits._
    val topc = searchText(docs, queryText, cand)
      .select(col("doc_id"), col("score").as("rel")).localCheckpoint(false)
    val w = EmbedOps.embedSparse(docs, dim)
      .join(broadcast(topc.select(col("doc_id"))), "doc_id")
    val sims = w.as("x").join(w.as("y"), col("x.dim") === col("y.dim"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("x.dim"), col("x.weight") * col("y.weight")), 6).as("sim"))
    val rels = topc.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val relM = rels.map { case (d, r) => d -> math.round(r * 1e6) }
    val simM = sims.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), math.round(r.getDouble(2) * 1e6)))
      .toMap
    def simOf(a: Long, b: Long): Long =
      simM.getOrElse(if (a < b) (a, b) else (b, a), 0L)
    var selected = Vector.empty[(Long, Long)] // (doc_id, score in deci-micros)
    val remaining = scala.collection.mutable.SortedSet(relM.keys.toSeq: _*)
    for (_ <- 0 until math.min(k, relM.size)) {
      val best = remaining.toSeq.map { c =>
        val maxSim =
          if (selected.isEmpty) 0L
          else selected.map(s => simOf(c, s._1)).max
        (c, l10 * relM(c) - (10L - l10) * maxSim)
      }.minBy { case (c, m) => (-m, c) }
      selected :+= best
      remaining -= best._1
    }
    val sel = selected.zipWithIndex
      .map { case ((d, s7), i) => (i + 1L, d, rels(d), s7 / 1.0e7) }
      .toDF("sel_rank", "doc_id", "rel", "mmr_score")
    sel.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("sel_rank"), col("doc_id"), col("source"),
        col("rel"), col("mmr_score"))
  }

  /** Best-window snippet extraction — the passage-selection step
    * between ranking and display (and the passage-chunking shape RAG
    * pipelines feed the generator): for each doc containing a query
    * term, the `window`-token span holding the most query-term hits,
    * emitted with its reconstructed text. Windows are anchored at a
    * hit (WLOG optimal: shifting a window right until its first hit
    * leads it keeps every hit), tie-break earliest start; top-`k`
    * docs by (hits desc, doc_id).
    *
    * Scale shape: the hit table holds only query-term OCCURRENCES, so
    * the window self-join is hit-bounded (never the token stream);
    * the token stream is touched once for the seq index and once,
    * broadcast-pruned by the ≤k winners, for snippet text. The seq
    * index is the same per-doc build cost [[phraseSearch]] amortizes
    * at scale by materializing the postings table once. */
  def searchSnippet(docs: DataFrame, queryText: String, window: Int = 10,
                    k: Int = 10): DataFrame = {
    val qTerms = queryText.split(" ").map(_.trim).filter(_.nonEmpty).distinct.toSeq
    val seqd = EmbedOps.tokenize(docs)
      .withColumn("seq", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))).cast("long"))
    val hits = seqd.filter(col("tok").isin(qTerms: _*))
      .select(col("doc_id"), col("seq"))
    val wins = hits.as("a").join(hits.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("b.seq") >= col("a.seq") &&
          col("b.seq") < col("a.seq") + window)
      .groupBy(col("a.doc_id").as("doc_id"), col("a.seq").as("win_start"))
      .agg(count(lit(1)).as("n_hits"))
    val best = Rank.top(wins, Seq(col("doc_id")), Seq(col("n_hits").desc, col("win_start")),
      lit(1)).drop("rank")
    val top = best.orderBy(col("n_hits").desc, col("doc_id")).limit(k)
    seqd.join(broadcast(top), Seq("doc_id"))
      .filter(col("seq") >= col("win_start") &&
        col("seq") < col("win_start") + window)
      .groupBy(col("doc_id"), col("win_start"), col("n_hits"))
      .agg(expr(
        "array_join(transform(sort_array(collect_list(struct(seq, tok))), x -> x.tok), ' ')")
        .as("snippet"))
  }

  /** Hybrid retrieval by reciprocal-rank fusion (Cormack et al. '09 —
    * the standard score-free way to combine heterogeneous rankers):
    * rrf(d) = Σ_r 1/(k0 + rank_r(d)) over the engine's three ranking
    * families — [[searchText]] (hashed-TF cosine), [[searchBm25]]
    * (lexical), [[maxsimSearch]] (late-interaction subword). Rank
    * fusion needs no score calibration across legs, which is exactly
    * why production hybrid search uses it over score blending.
    * `n_lists` reports how many legs surfaced each doc — the fusion
    * triage column.
    *
    * Scale shape: each leg is its own TakeOrderedAndProject top-
    * `perLeg` pipeline (the legs' costs, not fusion's); fusion itself
    * unions 3·perLeg rows and aggregates on doc_id — driver-bounded.
    * Determinism: contributions are 6dp-rounded, summed by
    * ranker-name-ordered fold, re-rounded once. */
  def searchRrf(docs: DataFrame, queryText: String, k: Int = 10,
                perLeg: Int = 20, k0: Int = 60): DataFrame = {
    val legs = Seq(
      ("cosine", searchText(docs, queryText, perLeg)),
      ("bm25", searchBm25(docs, queryText, perLeg)),
      ("maxsim", maxsimSearch(docs, queryText, perLeg)))
    val union = legs.map { case (m, df) =>
      df.select(col("doc_id"), lit(m).as("ranker"), col("rank"))
    }.reduce(_ unionByName _)
    val fused = union
      .withColumn("contrib", roundn(lit(1.0) / (lit(k0.toLong) + col("rank")), 6))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lists"),
        roundn(graft.functions.VectorMath.orderedSum(
          col("ranker"), col("contrib")), 6).as("rrf"))
    fused.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .orderBy(col("rrf").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"), col("n_lists"), col("rrf"))
  }

  /** nDCG@k ranking-quality audit — the graded IR metric the search
    * family's rankers are MEASURED with (ann_recall audits the ANN
    * tier; this audits the text tier): the cosine ranking is the
    * graded ground truth (rel = k+1 − cosine rank), and each system's
    * DCG = Σ rel(doc at system pos i) · ln2/ln(i+1) is normalized by
    * the ideal DCG of those grades. The `cosine_self` leg scores the
    * ground-truth ranking against itself and must emit ndcg = 1.0
    * exactly — the internal invariant that pins the metric's own
    * arithmetic; the `bm25` row is the measured audit. Per-position
    * terms round once, fold in position order, divide once.
    *
    * Scale shape: both rankers end in TakeOrderedAndProject; every
    * nDCG table is ≤ k rows. */
  def ndcgAudit(docs: DataFrame, queryText: String, k: Int = 10): DataFrame = {
    val truth = searchText(docs, queryText, k)
      .select(col("doc_id"), (lit(k + 1L) - col("rank")).as("rel"))
      .localCheckpoint(false)
    def term(rel: org.apache.spark.sql.Column, pos: org.apache.spark.sql.Column) =
      roundn(rel.cast("double") * log(lit(2.0)) / log(pos + lit(1.0)), 6)
    val idcg = truth
      .withColumn("pos", row_number().over(
        Window.orderBy(col("rel").desc, col("doc_id"))).cast("long"))
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("pos"), term(col("rel"), col("pos"))), 6).as("idcg"))
    def leg(name: String, sys: DataFrame): DataFrame =
      sys.select(col("rank").as("pos"), col("doc_id"))
        .join(truth, Seq("doc_id"), "left")
        .na.fill(0L, Seq("rel"))
        .agg(sum(when(col("rel") > 0L, 1L).otherwise(0L)).as("n_overlap"),
          roundn(graft.functions.VectorMath.orderedSum(
            col("pos"), term(col("rel"), col("pos"))), 6).as("dcg"))
        .crossJoin(broadcast(idcg))
        .select(lit(name).as("system"), col("n_overlap"), col("dcg"),
          col("idcg"), roundn(col("dcg") / col("idcg"), 6).as("ndcg"))
    // the self leg's ranking IS the truth ranking — derive it from
    // the checkpointed truth instead of re-running the cosine chain
    val selfSys = truth.withColumn("rank", row_number().over(
      Window.orderBy(col("rel").desc, col("doc_id"))).cast("long"))
    leg("bm25", searchBm25(docs, queryText, k))
      .unionByName(leg("cosine_self", selfSys))
  }
}
