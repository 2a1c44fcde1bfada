package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.VectorMath._

/** Vector-search operators — the reference's heart (flat-L2 KNN +
  * cosine re-score, reference app.py:179-185, app_callapi.py:201-209).
  *
  * Design (SURVEY.md §1.3): there is no index *object*; exact KNN is a
  * distance expression + top-k over the embeddings DataFrame, which is
  * semantically identical to what `faiss.IndexFlatL2` computes. The
  * flat scan parallelizes embarrassingly (no shuffle until the final
  * k-row reduction, which Spark plans as TakeOrderedAndProject —
  * per-partition top-k then a k-sized merge on the driver). At 100 TB
  * the ANN tier (LSH bucketing, see [[graft.ops.DedupOps]]) prunes the
  * scan; the brute-force path stays as the exact fallback and the
  * per-bucket kernel.
  */
object VectorOps {

  /** An IVF codebook: (c_label, centroid) pairs in ascending c_label,
    * held on the driver. [[lloyd]] trains it, and [[MaxCentroidCells]]
    * bounds its size. */
  type Codebook = Seq[(Long, Array[Double])]

  /** J3+W1+J1 — exact KNN: top-k nearest corpus vectors to the single
    * query row in `query` (column `qe`: Array[Double]), with rank,
    * squared-L2 (FAISS contract, app.py:180) and cosine re-score
    * (app.py:184). Ties break on vec_id (FAISS tie order is insertion
    * order — the oracle needs an explicit key, SURVEY.md §7.4).
    *
    * The query side is broadcast (k ≤ 10 rows in the reference); the
    * corpus side streams through whole-stage codegen; `orderBy.limit`
    * becomes TakeOrderedAndProject — no full sort, no full shuffle.
    */
  def knnSearch(corpus: DataFrame, query: DataFrame, k: Int): DataFrame = {
    // Rank on the ROUNDED distance with vec_id tie-break: a 1-ulp
    // summation difference vs the oracle then cannot flip the top-k
    // set (SURVEY.md §7.4 float-determinism rule).
    val scored = corpus
      .withColumn("e", asDouble(col("embedding")))
      .crossJoin(broadcast(query))
      .withColumn("l2_sq", roundn(fastL2Sq(col("e"), col("qe")), 6))
      .withColumn("cos_sim", roundn(fastCosine(col("e"), col("qe")), 6))
      .orderBy(col("l2_sq"), col("vec_id"))
      .limit(k)
    scored
      // unpartitioned window over the k survivors of the limit:
      // single-partition is the intended shape (bounded ≤ k rows).
      // WindowExec still logs its blanket single-partition warning —
      // a constant partition key can't silence it (Spark 4's
      // EliminateWindowPartitions folds it away), so the entry
      // points set that logger to ERROR instead.
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("l2_sq"), col("vec_id"))).cast("long"))
      .select(col("rank"), col("vec_id"), col("l2_sq"), col("cos_sim"), col("label"))
  }

  /** A1 — vector mean-pool: per-dimension average over a group
    * (reference app.py:66 `last_hidden_state.mean(dim=1)` — token
    * vectors → paragraph vector; generalized to label-grouped corpus
    * centroids). Exploded (group, dim, value) output keeps the oracle
    * comparison scalar-typed.
    *
    * Plain partial-aggregated `avg` over RAW floats: the inputs sit
    * off the 6-decimal rounding grid, so a partial-merge-order flip of
    * the rounded mean has ~1e-9/group odds — cheap codegen'd hash
    * aggregation is the right trade here. (Order-hardened
    * [[orderedSum]] is reserved for sums of already-ROUNDED values,
    * which land on grid boundaries systematically — sparse cosine
    * scores, search weights.)
    */
  def meanPoolByLabel(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"),
        posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
      .withColumn("dim", col("dim").cast("long"))
      .groupBy(col("label"), col("dim"))
      .agg(roundn(avg(col("x")), 6).as("centroid_val"))

  /** N×M similarity join: all pairs (a < b) with cosine ≥ threshold.
    * Exact quadratic VERIFY kernel — runs per IVF/LSH bucket at
    * scale, never bare over a corpus. `limitIds` caps the quadratic
    * blow-up when driven standalone (tests); the declared engine
    * surface uses [[similarityJoinIvf]], which has no cap. */
  def similarityJoin(embeddings: DataFrame, threshold: Double, limitIds: Long): DataFrame = {
    val e = embeddings
      .filter(col("vec_id") < limitIds)
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
    val a = e.select(col("vec_id").as("a_id"), col("e").as("ea"))
    val b = e.select(col("vec_id").as("b_id"), col("e").as("eb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos_sim", roundn(fastCosine(col("ea"), col("eb")), 6))
      .filter(col("cos_sim") >= threshold) // threshold on rounded value: engine-portable
      .select(col("a_id"), col("b_id"), col("cos_sim"))
  }

  /** Scale form of [[similarityJoin]] — candidate generation by IVF
    * cell co-residency instead of all pairs: vectors are multi-
    * assigned to their `nAssign` nearest cells, pairs sharing ANY
    * cell run the exact cosine kernel, everything else is pruned by
    * the cell equi-join. No id cap; the full corpus runs. Approximate
    * in the same sense as [[ivfTopK]] (a pair split across disjoint
    * cell sets is unseen) — multi-assignment attacks exactly that
    * boundary loss mode. */
  def similarityJoinIvf(embeddings: DataFrame, cells: Codebook, threshold: Double,
                        nAssign: Int = 2): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e"))
    coResidents(embeddings, cells, nAssign, "a_id", "b_id", directed = false)
      .join(e.select(col("vec_id").as("a_id"), col("e").as("ea")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("e").as("eb")), "b_id")
      .withColumn("cos_sim", roundn(fastCosine(col("ea"), col("eb")), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos_sim"))
  }

  /** The candidate pairs of the cell co-residency join: every vector
    * sits in its `nAssign` nearest cells, and two vectors pair when they
    * share one. Output (a, b), distinct (a pair can share several
    * cells): a < b, or a ≠ b when `directed`. */
  private def coResidents(embeddings: DataFrame, cells: Codebook, nAssign: Int,
                          a: String, b: String, directed: Boolean): DataFrame = {
    val assigned = cellRanks(embeddings, cells, "id", nAssign).select(col("id"), col("c_label"))
    assigned.select(col("id").as(a), col("c_label"))
      .join(assigned.select(col("id").as(b), col("c_label")), "c_label")
      .filter(if (directed) col(a) =!= col(b) else col(a) < col(b))
      .select(col(a), col(b))
      .distinct()
  }

  /** SemDeDup-style selection (Abbas et al., arXiv 2303.09540):
    * semantic dedup PRUNES every vector that has a
    * sufficiently-similar neighbor with a smaller id, keeping one
    * representative per near-duplicate neighborhood. Candidates come
    * from the same cluster-scoped pair join as [[similarityJoinIvf]]
    * (quantizer cells bound the quadratic kernel; multi-assignment
    * covers cell-boundary straddlers), so the decision column is the
    * keep/prune verdict a curation pipeline filters on. Smaller-id
    * representative is SemDeDup's deterministic tie-break; chains
    * don't matter — any vector with a smaller similar neighbor is
    * pruned whether or not that neighbor survives. */
  def semanticDedupKeep(embeddings: DataFrame, cells: Codebook,
                        threshold: Double = 0.3): DataFrame = {
    val pruned = similarityJoinIvf(embeddings, cells, threshold)
      .groupBy(col("b_id").as("vec_id"))
      .agg(min(col("a_id")).as("pruned_by"), max(col("cos_sim")).as("max_cos"))
    embeddings.select(col("vec_id"))
      .join(pruned, Seq("vec_id"), "left")
      .select(col("vec_id"), col("pruned_by"), col("max_cos"),
        col("pruned_by").isNull.as("keep"))
  }

  /** SemDeDup threshold-sensitivity receipt — the error-curve
    * convention (cms/hll/quantile/substring_window_curve) on
    * [[semanticDedupKeep]]'s ONE free parameter: the cosine threshold
    * decides how much corpus survives, and the paper (Abbas et al.
    * 2303.09540 §4) tunes exactly this sweep. The cluster-scoped pair
    * join and every exact cosine compute ONCE at the LOOSEST
    * threshold (a pair admitted at θ is admitted at every θ' ≤ θ —
    * the first_probe economy on the threshold axis); each curve point
    * is a filter + two bounded aggs over the checkpointed pair table.
    * Output per threshold: surviving-pair count, pruned/kept vector
    * counts, kept fraction (micro grid), plus the decision flag:
    * `chosen` marks the smallest θ keeping ≥ `keepTarget` of the
    * corpus ([[graft.ops.DedupOps.withChosenThreshold]]'s shared
    * rule — most aggressive prune inside the keep budget). */
  def semdedupCurve(embeddings: DataFrame, cells: Codebook,
                    thresholds: Seq[Double] = Seq(0.2, 0.3, 0.5),
                    keepTarget: Double = 0.8): DataFrame = {
    val scored = similarityJoinIvf(embeddings, cells, thresholds.min)
      .localCheckpoint(false)
    val n = embeddings.agg(count(lit(1)).as("n_vecs"))
    val curve = thresholds.map { t =>
      scored.filter(col("cos_sim") >= t)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("b_id")).as("n_pruned"))
        .crossJoin(broadcast(n))
        .select(lit(math.round(t * 1e6)).as("threshold_micro"),
          col("n_pairs"), col("n_pruned"),
          (col("n_vecs") - col("n_pruned")).as("n_kept"),
          expr("((n_vecs - n_pruned) * 1000000L) div n_vecs").as("kept_micro"))
    }.reduce(_ unionByName _)
    // the decision beside the evidence (dedup_threshold_curve's
    // shared rule): smallest θ keeping ≥ keepTarget of the corpus
    DedupOps.withChosenThreshold(curve, math.round(keepTarget * 1e6))
  }

  /** Contrastive hard-negative mining — the training-pair step of an
    * embedding-model data pipeline (in-batch negatives are easy; the
    * informative negatives are the CLOSEST vectors with a different
    * label): for every anchor vector, the highest-cosine co-candidate
    * whose `label` differs. Candidates come from the same IVF
    * cell-co-residency equi-join as [[similarityJoinIvf]] (directed —
    * each anchor sees its co-residents both ways), labels join and
    * the cross-label filter run BEFORE any float math, and the exact
    * cosine kernel + per-anchor top-1 rank touch only surviving
    * candidates. Anchors whose probed cells hold no cross-label
    * vector drop out (approximate in [[ivfTopK]]'s boundary-loss
    * sense; nAssign multi-assignment attacks exactly that).
    *
    * Determinism: rank on the ROUNDED cosine with a vec_id tie-break.
    * Scale shape: cells bound the pair blowup, the rank window keys
    * on the uniform anchor id, nothing driver-side. */
  def hardNegatives(embeddings: DataFrame, cells: Codebook, nAssign: Int = 2): DataFrame = {
    val lab = embeddings.select(col("vec_id"), col("label"))
    val cand = coResidents(embeddings, cells, nAssign, "anchor_id", "neg_id", directed = true)
      .join(lab.select(col("vec_id").as("anchor_id"), col("label").as("anchor_label")), "anchor_id")
      .join(lab.select(col("vec_id").as("neg_id"), col("label").as("neg_label")), "neg_id")
      .filter(col("anchor_label") =!= col("neg_label"))
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e"))
    val scored = cand
      .join(e.select(col("vec_id").as("anchor_id"), col("e").as("ea")), "anchor_id")
      .join(e.select(col("vec_id").as("neg_id"), col("e").as("eb")), "neg_id")
      .withColumn("cos_sim", roundn(fastCosine(col("ea"), col("eb")), 6))
    Rank.top(scored, Seq(col("anchor_id")), Seq(col("cos_sim").desc, col("neg_id")), lit(1))
      .select(col("anchor_id"), col("anchor_label"), col("neg_id"),
        col("neg_label"), col("cos_sim"))
  }

  /** Triplet mining — the COMPLETE contrastive-training sample
    * beside [[hardNegatives]]' negative half: per anchor, the nearest
    * co-resident with the SAME label (the hardest positive — the one
    * the model is most likely to already separate wrongly) and the
    * nearest with a DIFFERENT label (the hardest negative), plus the
    * margin cos_pos − cos_neg the triplet loss will be asked to
    * widen. Anchors missing either side (a label alone in its cells)
    * emit no row — a triplet needs all three corners (stated).
    *
    * Scale shape: ONE cell-bounded candidate join and ONE cosine pass
    * serve both halves (the scored table checkpoints; the pos/neg
    * argmaxes are two windows over the same cell-occupancy-bounded
    * partitions) — mining the positive is not a second scan. Margin
    * is a difference of two on-grid values (exact), re-rounded only
    * to normalize the −0.0 corner. */
  def tripletMining(embeddings: DataFrame, cells: Codebook, nAssign: Int = 2): DataFrame = {
    val lab = embeddings.select(col("vec_id"), col("label"))
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e"))
    val scored = coResidents(embeddings, cells, nAssign, "anchor_id", "other_id", directed = true)
      .join(lab.select(col("vec_id").as("anchor_id"), col("label").as("anchor_label")),
        "anchor_id")
      .join(lab.select(col("vec_id").as("other_id"), col("label").as("other_label")),
        "other_id")
      .join(e.select(col("vec_id").as("anchor_id"), col("e").as("ea")), "anchor_id")
      .join(e.select(col("vec_id").as("other_id"), col("e").as("eb")), "other_id")
      .withColumn("cos_sim", roundn(fastCosine(col("ea"), col("eb")), 6))
      .select(col("anchor_id"), col("anchor_label"), col("other_id"),
        col("other_label"), col("cos_sim"))
      .localCheckpoint(false)
    def top(same: Boolean, idName: String, cosName: String): DataFrame =
      Rank.top(
        scored.filter(if (same) col("other_label") === col("anchor_label")
                      else col("other_label") =!= col("anchor_label")),
        Seq(col("anchor_id")), Seq(col("cos_sim").desc, col("other_id")), lit(1))
        .select(col("anchor_id"), col("anchor_label"),
          col("other_id").as(idName), col("cos_sim").as(cosName))
    top(same = true, "pos_id", "cos_pos")
      .join(top(same = false, "neg_id", "cos_neg").drop("anchor_label"), "anchor_id")
      .select(col("anchor_id"), col("anchor_label"), col("pos_id"), col("cos_pos"),
        col("neg_id"), col("cos_neg"),
        roundn(col("cos_pos") - col("cos_neg"), 6).as("margin"))
  }

  /** SEMANTIC decontamination — the embedding-tier member of the
    * decontamination family (`decontaminate` = exact 13-gram overlap,
    * `decontaminate_bloom` = map-side membership prefilter, this =
    * near-duplicate MEANING): for every corpus vector, its nearest
    * benchmark vector via IVF cell co-residency, flagged when cosine
    * clears `tau`. Catches the paraphrased benchmark leak that no
    * n-gram tier can see (the SemDeDup/semantic-contamination
    * argument applied across the corpus/benchmark boundary).
    *
    * Scale shape: identical to [[hardNegatives]] — shared codebook,
    * cell equi-join candidates only (a corpus vector is scored
    * against benchmark vectors in its cells, never all of them),
    * exact cosine on the candidate sliver, per-corpus-vector argmax
    * window bounded by cell occupancy. */
  def decontaminateSemantic(embeddings: DataFrame, cells: Codebook, nBench: Long = 50,
                            tau: Double = 0.35, nAssign: Int = 2): DataFrame = {
    val assigned = cellRanks(embeddings, cells, "id", nAssign).select(col("id"), col("c_label"))
    val cand = assigned.filter(col("id") >= nBench)
      .select(col("id").as("corpus_id"), col("c_label"))
      .join(assigned.filter(col("id") < nBench)
        .select(col("id").as("bench_id"), col("c_label")), "c_label")
      .select(col("corpus_id"), col("bench_id")).distinct()
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e"))
    val scored = cand
      .join(e.select(col("vec_id").as("corpus_id"), col("e").as("ec")), "corpus_id")
      .join(broadcast(e.filter(col("vec_id") < nBench)
        .select(col("vec_id").as("bench_id"), col("e").as("eb"))), "bench_id")
      .withColumn("cos_sim", roundn(fastCosine(col("ec"), col("eb")), 6))
    Rank.top(scored, Seq(col("corpus_id")), Seq(col("cos_sim").desc, col("bench_id")), lit(1))
      .select(col("corpus_id"), col("bench_id"), col("cos_sim"),
        (col("cos_sim") >= tau).as("contaminated"))
  }

  /** Embedding-space anisotropy receipt (Ethayarajh, EMNLP '19; Su
    * '21's whitening motivation): the mean pairwise cosine over a
    * bounded vector sample, RAW and after mean-centering (the first
    * whitening step — subtracting the corpus mean direction). An
    * isotropic space reads ≈ 0; contextual-embedding spaces
    * notoriously read 0.5+ raw (every vector shares a dominant mean
    * direction), which silently compresses every cosine the
    * ANN/dedup/hard-negative tiers rank on. Centering collapsing the
    * mean toward 0 is the cheap fix this receipt prices.
    *
    * Determinism: the per-dim mean folds in vec_id order
    * (orderedSum ↔ `sum(v ORDER BY vec_id)`), localized once
    * (|dims| rows — the bounded-localize convention) and re-entering
    * as literals; per-pair cosines stay RAW doubles and each mean
    * rounds ONCE after the ordered pair-key fold — per-pair rounding
    * would put grid sums on .5 boundaries 1/n of the time (the
    * SCALE.md round-7 corollary).
    *
    * Scale shape: one dim-keyed agg over the corpus for the mean
    * (uniform, |dims| groups, map-side partials); the pair census is
    * C(nSample, 2) rows of array arithmetic — the sample bounds it
    * by declaration, and at 100 TB the mean still costs one pass
    * while the sample stays fixed. */
  def embeddingAnisotropy(embeddings: DataFrame, nSample: Int = 64): DataFrame = {
    import graft.functions.VectorMath.orderedSum
    val ex = embeddings.select(col("vec_id"),
      posexplode(asDouble(col("embedding"))).as(Seq("dim", "v")))
    val mu = ex.groupBy(col("dim"))
      .agg((orderedSum(col("vec_id"), col("v")) / count(lit(1))).as("mu"))
      .orderBy(col("dim")).collect().map(_.getDouble(1))
    val muArr = array(mu.map(lit(_)): _*)
    val s = embeddings.filter(col("vec_id") < nSample)
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("c", zip_with(col("e"), muArr, (x, m) => x - m))
      .localCheckpoint(false)
    s.select(col("vec_id").as("a_id"), col("e").as("ea"), col("c").as("ca"))
      .crossJoin(broadcast(s.select(col("vec_id").as("b_id"),
        col("e").as("eb"), col("c").as("cb"))))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        fastCosine(col("ea"), col("eb")).as("cos_raw"),
        fastCosine(col("ca"), col("cb")).as("cos_cen"))
      // pair fold key a·2³² + b is collision-free for any vec_id
      // < 2³¹ — a narrower multiplier would alias distinct pairs and
      // leave the fold order unspecified between them
      .agg(count(lit(1)).as("n_pairs"),
        roundn(orderedSum(col("a_id") * lit(4294967296L) + col("b_id"), col("cos_raw"))
          / count(lit(1)), 6).as("mean_cos_raw"),
        roundn(orderedSum(col("a_id") * lit(4294967296L) + col("b_id"), col("cos_cen"))
          / count(lit(1)), 6).as("mean_cos_centered"))
  }

  /** k-occurrence hubness census (Radovanović et al., JMLR '10) —
    * the high-dimensional retrieval pathology audit: O_k(x) = how
    * many of a query sample's top-k lists contain x. In hub-prone
    * embedding spaces a few points appear in a large fraction of ALL
    * neighbor lists (right-skewed O_k), silently dominating
    * similarity joins, dedup candidates, and hard-negative mining —
    * the histogram this emits is the tripwire a retrieval tier reads
    * before trusting its nearest-neighbor structure. Self-matches
    * are excluded ([[annTopK]]'s contract), and the 0-occurrence row
    * keeps the census complete (antihubs are half the pathology).
    *
    * Determinism: occurrence counts are exact integers over
    * [[annTopK]]'s rounded-cosine, vec_id-tie-broken ranks.
    *
    * Scale shape: the query SAMPLE (vec_id < nQueries, the
    * recall-receipt convention) bounds the scan at nQueries·|corpus|
    * — at 100 TB the same census runs over the IVF/LSH candidate
    * top-k instead of the brute-force kernel (hubness of the SERVED
    * index is the operative number); one left join + two uniform
    * keyed aggs, output ≤ max-occurrence rows. */
  def annHubness(embeddings: DataFrame, k: Int = 5, nQueries: Int = 100): DataFrame = {
    val occ = annTopK(embeddings, embeddings.filter(col("vec_id") < nQueries), k)
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_occ"))
    embeddings.select(col("vec_id"))
      .join(occ, Seq("vec_id"), "left")
      .select(coalesce(col("n_occ"), lit(0L)).as("n_occ"))
      .groupBy(col("n_occ")).agg(count(lit(1)).as("n_docs"))
  }

  /** Brute-force cosine top-k for a *set* of query vectors: per-query
    * ranked neighbors. The scale path replaces the cross join with an
    * LSH/IVF candidate join; this exact kernel then runs per bucket.
    * Queries are broadcast (small side by construction). */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = corpusVecs(corpus).crossJoin(broadcast(queryVecs(queries)))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", roundn(fastCosine(col("e"), col("qe")), 6))
    topByCos(scored, k).select(col("query_id"), col("rank"), col("vec_id"), col("cos_sim"))
  }

  /** The exact top-k (query_id, vec_id) pairs every recall receipt
    * scores against: [[annTopK]], pinned by a localCheckpoint so one
    * brute-force pass can serve several receipts. */
  def groundTruth(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    annTopK(corpus, queries, k).select(col("query_id"), col("vec_id")).localCheckpoint(false)

  /** Float vectors of the corpus side, (vec_id, e). */
  private def corpusVecs(df: DataFrame): DataFrame =
    df.select(col("vec_id"), asDouble(col("embedding")).as("e"))

  /** Float vectors of the query side, (query_id, qe). */
  private def queryVecs(df: DataFrame): DataFrame =
    df.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qe"))

  /** The exact stage of every ANN funnel: (query_id, vec_id, …)
    * candidate pairs join their float vectors — the corpus side by
    * vec_id, the queries broadcast — and gain the rounded cosine
    * `cos_sim`. Floats are read for candidate rows only. */
  private def scorePairs(pairs: DataFrame, corpus: DataFrame, queries: DataFrame): DataFrame =
    pairs.join(corpusVecs(corpus), "vec_id")
      .join(broadcast(queryVecs(queries)), "query_id")
      .withColumn("cos_sim", roundn(fastCosine(col("e"), col("qe")), 6))
      .drop("e", "qe")

  /** Each query's first `k` rows by (`score` desc, vec_id). */
  private def topByCos(scored: DataFrame, k: Int, score: String = "cos_sim"): DataFrame =
    Rank.top(scored, Seq(col("query_id")), Seq(col(score).desc, col("vec_id")), lit(k))

  /** Exact rerank of candidate pairs: [[scorePairs]], then each
    * query's top `k` ([[topByCos]]), as (query_id, rank, vec_id,
    * carry…, cos_sim). */
  private def rerank(pairs: DataFrame, corpus: DataFrame, queries: DataFrame, k: Int,
                     carry: String*): DataFrame =
    topByCos(scorePairs(pairs, corpus, queries), k)
      .select(Seq(col("query_id"), col("rank"), col("vec_id")) ++ carry.map(col) :+
        col("cos_sim"): _*)

  /** Scalar-quantized ANN — int8 codes for candidate generation,
    * exact floats only for the rerank sliver. The memory-bandwidth
    * scale path COMPLEMENTARY to IVF ([[ivfTopK]] prunes which
    * vectors are scanned; quantization shrinks the bytes per vector
    * scanned 4× vs float32, which is the dominant cost of a flat scan
    * at 100 TB): each component is mapped to round(x·127/s) with one
    * global symmetric scale s = max|x| from a build-time scalar agg,
    * candidates are ranked by integer squared-L2 over the codes
    * (exact int arithmetic — no float nondeterminism anywhere in
    * candidate selection), and only the top `k·rerankFactor` codes
    * per query are joined back to the float table for the exact
    * cosine rerank.
    *
    * Determinism: quantized codes are integers (identical across
    * engines by round-half-away-from-zero parity), integer distances
    * tie-break on vec_id, and the rerank rounds cosine before
    * ranking — every decision is exact.
    */
  def annQuantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                       rerankFactor: Int = 4): DataFrame =
    exactCosRerank(sq8Candidates(corpus, queries), k * rerankFactor, corpus, queries, k)

  /** The int8 funnel's candidates: every (query, vector) pair but the
    * self-match, with its integer code distance `qdist`. */
  private def sq8Candidates(corpus: DataFrame, queries: DataFrame): DataFrame = {
    val scale = symmetricScale(corpus)
    quantizedCodes(corpus, scale, "vec_id", "qc")
      .crossJoin(broadcast(quantizedCodes(queries, scale, "query_id", "qq")))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("qdist", intL2Sq(col("qc"), col("qq")))
  }

  /** The full production ANN funnel — IVF × scalar quantization
    * (the IVFADC shape): cells prune WHICH vectors are scanned
    * (equi-join candidate generation, [[ivfTopK]]), int8 codes prune
    * the BYTES per candidate scanned (integer distances,
    * [[annQuantizedTopK]]), and float vectors are touched only for
    * the final k·rerankFactor exact-cosine rerank. At 100 TB the
    * funnel reads: cell index (√N rows, broadcast) → code table
    * (N·d bytes, 4× smaller than float32) → float table (random
    * access, k·rerankFactor rows per query). */
  def ivfQuantizedTopK(corpus: DataFrame, queries: DataFrame, cells: Codebook,
                       nProbe: Int, k: Int, nAssign: Int = 1,
                       rerankFactor: Int = 4): DataFrame = {
    val assigned = cellRanks(corpus, cells, "vec_id", nAssign)
      .select(col("vec_id"), col("c_label"))
    val candidates = ivfCandidates(queries, assigned, cells, nProbe)

    val scale = symmetricScale(corpus)
    val codes = quantizedCodes(corpus, scale, "vec_id", "qc")
    val qcodes = quantizedCodes(queries, scale, "query_id", "qq")
    val cand = candidates
      .join(codes, "vec_id")
      .join(broadcast(qcodes), "query_id")
      .withColumn("qdist", intL2Sq(col("qc"), col("qq")))
    exactCosRerank(cand, k * rerankFactor, corpus, queries, k)
  }

  /** Product quantization top-k (ADC form, Jégou et al. TPAMI'11) —
    * the codebook member of the ANN family: [[annQuantizedTopK]]'s
    * scalar codes shrink each COMPONENT to int8 (d bytes/vector);
    * PQ shrinks each SUBVECTOR to one codebook id (m bytes/vector —
    * here 8 bytes for a 64-d float32 vector, 32× less scan bandwidth)
    * and queries scan codes with per-subspace lookup tables instead
    * of arithmetic on components.
    *
    * Build: split each vector into `m` contiguous subvectors (a
    * map-side `slice`, no shuffle); per subspace, k-means with `ksub`
    * centroids (a relational, exploded-dim Lloyd with the subspace
    * id riding the grouping keys — ONE pipeline trains
    * all m codebooks); encode = nearest-code argmin per (vector,
    * subspace) via partial-aggregated `min_by` on rounded distances.
    * At 100 TB train the codebooks on a SAMPLE (the standard PQ
    * practice) and encode the full corpus with them; encoding is one
    * broadcast join + one keyed min.
    *
    * Query (ADC): each query precomputes a lookup table of partial
    * distances to every (subspace, code) — m·ksub rounded doubles,
    * built as a broadcast MAP (code ids of emptied cells vanish, so
    * positional arrays would misalign); scanning is a MAP-SIDE fold
    * over each vector's m codes in subspace order (deterministic —
    * no aggregation, no shuffle until the per-query top-k window).
    * Floats are touched only for the exact-cosine rerank of the
    * top k·rerankFactor survivors.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 8, ksub: Int = 16,
             iters: Int = 2, rerankFactor: Int = 4): DataFrame = {
    val d = corpus.select(size(col("embedding"))).head().getInt(0)
    require(d % m == 0, s"dims $d not divisible by m=$m subspaces")
    requireDenseSeedIds(corpus, ksub, "pqTopK")
    val dsub = d / m
    def subvecs(df: DataFrame, idCol: String): DataFrame = pqSubvecs(
      df.select(col("vec_id").as(idCol), asDouble(col("embedding")).as("e")),
      Seq(idCol), "e", m, dsub)

    val csv = subvecs(corpus, "vec_id")
    val cent = pqTrain(csv, subvecs(corpus.filter(col("vec_id") < ksub), "code"), iters)
    val cand = codeArrays(pqAssign(csv, "vec_id", cent))
      .crossJoin(broadcast(adcLut(subvecs(queries, "query_id"), Seq("query_id"), cent, ksub)))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("qdist", adcDist(m, ksub))
    exactCosRerank(cand, k * rerankFactor, corpus, queries, k)
  }

  /** Each vector's m codes as one array `carr` in subspace order, from
    * [[pqAssign]]'s (vec_id, s, code) rows. */
  private def codeArrays(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("s"), col("code")))),
        x => x.getField("code")).as("carr"))

  /** A query's ADC lookup table: per `keys` group of (s, sv) subvectors,
    * a MAP from s·ksub + code to the rounded partial distance `pd` of
    * subvector s to that code of `book` (m·ksub entries). */
  private def adcLut(sv: DataFrame, keys: Seq[String], book: DataFrame, ksub: Int): DataFrame =
    sv.join(broadcast(book), "s")
      .withColumn("pd", roundn(fastL2Sq(col("sv"), col("cvec")), 6))
      .groupBy(keys.map(col): _*)
      .agg(map_from_entries(collect_list(
        struct((col("s") * ksub + col("code")).as("idx"), col("pd")))).as("lut"))

  /** ADC distance of a row carrying `lut` and `carr`: the m table
    * lookups folded in subspace order — map-side and deterministic
    * (the oracle's sum(pd ORDER BY s)), rounded once. */
  private def adcDist(m: Int, ksub: Int): Column =
    roundn(aggregate(sequence(lit(0L), lit(m - 1L)), lit(0.0),
      (acc, s) => acc + element_at(col("lut"),
        s * ksub + element_at(col("carr"), (s + 1).cast("int")))), 6)

  /** The residual-IVFADC INDEX as tables — the TRAIN half (the
    * ann_index_persist convention on the PQ tier: the codebook and
    * the encoded corpus are the artifacts you train ONCE and ship to
    * every search job): returns (codebook `(s, code, cvec)`, codes
    * `(vec_id, c_label, carr)`) — each vector's primary cell plus its
    * m residual codes, the m-bytes-per-vector payload. Both persist
    * to parquet losslessly (once-rounded doubles / longs), and a
    * reloaded index must answer [[ivfPqTopKFromIndex]] bit-identically
    * to the in-session build (ann_pq_index_persist pins it on the
    * ann_ivf_pq oracle).
    *
    * Training is the [[pqTopK]] relational-Lloyd pipeline on the
    * RESIDUAL stream: [[cellRanks]] assigns each vector its primary
    * cell, the residual is a map-side zip_with against the broadcast
    * `cent` codebook, seeds = the first ksub vectors' residual
    * subvectors, `iters` assign/update rounds. */
  def ivfPqIndex(corpus: DataFrame, cent: Codebook,
                 m: Int = 8, ksub: Int = 16, iters: Int = 2): (DataFrame, DataFrame) = {
    val d = corpus.select(size(col("embedding"))).head().getInt(0)
    require(d % m == 0, s"dims $d not divisible by m=$m subspaces")
    requireDenseSeedIds(corpus, ksub, "ivfPqIndex")
    val dsub = d / m

    // primary-cell assignment + map-side residual (raw double − the
    // once-rounded centroid component, the oracle's d.x − c.cv)
    val assigned = cellRanks(corpus, cent, "vec_id", 1).select(col("vec_id"), col("c_label"))
    val res = corpus.select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .join(assigned, "vec_id")
      .join(broadcast(codebookFrame(corpus.sparkSession, cent)), "c_label")
      .select(col("vec_id"), col("c_label"),
        zip_with(col("e"), col("cvec"), (x, c) => x - c).as("r"))

    // residual subvector view + PQ training — the pqTopK pipeline on
    // the residual stream (seeds = first ksub vectors' residuals).
    // The subvector stream heads every assign round AND the final
    // encode (~5 reads of the res→cellRanks chain otherwise) —
    // materialize it ONCE; at 100 TB this is the standard
    // train-on-a-materialized-sample step (pqTopK scaladoc)
    val csv = pqSubvecs(res, Seq("vec_id"), "r", m, dsub)
      .localCheckpoint(false)
    val seeds = pqSubvecs(res.filter(col("vec_id") < ksub)
      .withColumnRenamed("vec_id", "code"), Seq("code"), "r", m, dsub)
    // the trained codebook heads the encode here and the query LUT in
    // the apply half — m·ksub rows, pin it
    val pqc = pqTrain(csv, seeds, iters).localCheckpoint(false)
    val codes = codeArrays(pqAssign(csv, "vec_id", pqc))
      .join(assigned, "vec_id")
      .select(col("vec_id"), col("c_label"), col("carr"))
    (pqc, codes)
  }

  /** PQ seed-selection precondition (r14 ADVICE): `vec_id < ksub`
    * seeding assumes DENSE ids from 0 — an offset/sparse-id corpus
    * would silently train a degenerate (or empty) codebook. Enforced
    * eagerly at index-build time (build already pays a `.head()` for
    * dims); the fix for an arbitrary-id corpus is to re-key with
    * row_number before training, stated in the failure message. */
  private def requireDenseSeedIds(corpus: DataFrame, ksub: Int, who: String): Unit = {
    val nSeeds = corpus.filter(col("vec_id") < ksub)
      .select(countDistinct(col("vec_id"))).head().getLong(0)
    require(nSeeds == ksub,
      s"$who: seed selection vec_id < $ksub found $nSeeds distinct ids — " +
        "PQ seeding requires dense vec_ids from 0; re-key the corpus with " +
        "row_number() over vec_id before training")
  }

  /** Map-side subvector view shared by every PQ train/apply half:
    * (keys..., s, sv[dsub]) — slice, never a shuffle. */
  private def pqSubvecs(df: DataFrame, keyCols: Seq[String], vecCol: String,
                        m: Int, dsub: Int): DataFrame = df
    .withColumn("s", explode(sequence(lit(0L), lit(m - 1L))))
    .select(keyCols.map(col) ++ Seq(col("s"),
      slice(col(vecCol), (col("s") * dsub + 1).cast("int"), lit(dsub)).as("sv")): _*)

  /** Nearest-code argmin per (id, subspace): rounded distance, code
    * tie-break, evaluated as a partial-aggregated min_by over the
    * codegen'd dense-array kernel (no window over the N·m·ksub rows).
    * `book` is a densified (s, code, cvec) codebook. */
  private def pqAssign(sv: DataFrame, idCol: String, book: DataFrame): DataFrame = sv
    .join(broadcast(book), "s")
    .withColumn("dist", roundn(fastL2Sq(col("sv"), col("cvec")), 6))
    .groupBy(col(idCol), col("s"))
    .agg(min_by(col("code"), struct(col("dist"), col("code"))).as("code"))

  /** Relational Lloyd over a (vec_id, s, sv) subvector stream: the
    * seeds' subvectors `(code, s, sv)`, rounded like the oracle, are
    * the first codebook; each of `iters` rounds assigns every
    * subvector its nearest code ([[pqAssign]]) and moves each code to
    * the rounded per-component mean of its members, densified back to
    * broadcastable (s, code, cvec) rows (per-group collect bounded by
    * dsub). Materializing `csv` or the result is the caller's call. */
  private def pqTrain(csv: DataFrame, seeds: DataFrame, iters: Int): DataFrame =
    (1 to iters).foldLeft(seeds.select(col("s"), col("code"),
        transform(col("sv"), x => roundn(x, 6)).as("cvec"))) { (book, _) =>
      csv.join(pqAssign(csv, "vec_id", book), Seq("vec_id", "s"))
        .select(col("s"), col("code"), posexplode(col("sv")).as(Seq("ld", "x")))
        .groupBy(col("s"), col("code"), col("ld"))
        .agg(roundn(avg(col("x")), 6).as("cv"))
        .groupBy(col("s"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("ld"), col("cv")))),
          x => x.getField("cv")).as("cvec"))
    }

  /** The APPLY half of the residual-IVFADC funnel against a
    * (possibly reloaded) index: per probed cell the query residual
    * q − c_cell and its m·ksub partial-distance lookup table (a
    * broadcast MAP), then the ADC scan — the IVF equi-join prunes
    * rows and a map-side m-term fold in subspace order prices each
    * survivor (the oracle's sum(pd ORDER BY s)). */
  def ivfPqCandidatesFromIndex(queries: DataFrame, nProbe: Int, cent: Codebook,
                               pqCodebook: DataFrame, codes: DataFrame,
                               m: Int = 8, ksub: Int = 16): DataFrame = {
    val d = queries.select(size(col("embedding"))).head().getInt(0)
    require(d % m == 0, s"dims $d not divisible by m=$m subspaces")
    val dsub = d / m
    val probes = cellRanks(queries, cent, "query_id", nProbe)
      .select(col("query_id"), col("c_label"))
    val qres = queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qe"))
      .join(probes, "query_id")
      .join(broadcast(codebookFrame(queries.sparkSession, cent)), "c_label")
      .select(col("query_id"), col("c_label"),
        zip_with(col("qe"), col("cvec"), (x, c) => x - c).as("r"))
    val lut = adcLut(pqSubvecs(qres, Seq("query_id", "c_label"), "r", m, dsub),
      Seq("query_id", "c_label"), pqCodebook, ksub)
    probes.join(codes, "c_label")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "c_label"))
      .withColumn("qdist", adcDist(m, ksub))
      .select(col("query_id"), col("vec_id"), col("qdist"))
  }

  /** PQ distortion receipt — the number a trained codebook SHIPS
    * with (Jégou TPAMI'11's quantization MSE, the standard
    * train-time diagnostic): per vector, the squared error between
    * its residual and its code reconstruction — which is exactly the
    * sum of its per-subspace assigned-code distances — censused to
    * one row on the exact integer-micro grid (count, floor-mean,
    * p50/p95 via the cumulative value-grid census — the tailIndex
    * rank trick, no sort of the row stream — and max). Rising
    * distortion on re-encode is the PQ-tier twin of
    * [[embeddingDrift]]'s tripwire: it says the CODEBOOK no longer
    * fits the data even when the coarse cells still do.
    *
    * Scale shape: one residual pass (broadcast cells), one broadcast
    * codebook join keyed (s, code), one vec-keyed 8-term ordered
    * fold; the census windows run over ≤|distinct micro values|
    * rows, never the corpus. */
  def ivfPqDistortion(corpus: DataFrame, cent: Codebook,
                      pqCodebook: DataFrame, codes: DataFrame,
                      m: Int = 8, ksub: Int = 16): DataFrame = {
    val d = corpus.select(size(col("embedding"))).head().getInt(0)
    require(d % m == 0, s"dims $d not divisible by m=$m subspaces")
    val dsub = d / m
    val res = corpus.select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .join(codes.select(col("vec_id"), col("c_label"), col("carr")), "vec_id")
      .join(broadcast(codebookFrame(corpus.sparkSession, cent)), "c_label")
      .select(col("vec_id"), col("carr"),
        zip_with(col("e"), col("cvec"), (x, c) => x - c).as("r"))
    val pv = pqSubvecs(res, Seq("vec_id", "carr"), "r", m, dsub)
      .withColumn("code", element_at(col("carr"), (col("s") + 1).cast("int")))
      .join(broadcast(pqCodebook), Seq("s", "code"))
      .withColumn("term", roundn(fastL2Sq(col("sv"), col("cvec")), 6))
      .groupBy(col("vec_id"))
      .agg(roundn(graft.functions.VectorMath.orderedSum(col("s"), col("term")), 6)
        .as("dist"))
      .select(round(col("dist") * 1e6).cast("long").as("d6"))
      .localCheckpoint(false)
    val tot = pv.agg(count(lit(1)).as("n_vecs"), sum(col("d6")).as("s6"),
      max(col("d6")).as("max_micro"))
    val wCum = Window.orderBy(col("d6"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = pv.groupBy(col("d6")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .localCheckpoint(false)
    val p50 = cum.crossJoin(broadcast(tot.select(col("n_vecs").as("n"))))
      .filter(col("cum") * 2 >= col("n")).agg(min(col("d6")).as("p50_micro"))
    val p95 = cum.crossJoin(broadcast(tot.select(col("n_vecs").as("n"))))
      .filter(col("cum") * 20 >= col("n") * 19).agg(min(col("d6")).as("p95_micro"))
    tot.crossJoin(broadcast(p50)).crossJoin(broadcast(p95))
      .select(col("n_vecs"), expr("s6 div n_vecs").as("mean_micro"),
        col("p50_micro"), col("p95_micro"), col("max_micro"))
  }

  /** [[ivfPqTopK]]'s budget window + exact rerank against a
    * precomputed (possibly persisted-and-reloaded) index — the load
    * half of load-or-create on the PQ tier; must reproduce the
    * in-session [[ivfPqTopK]] answer bit-for-bit (shared oracle). */
  def ivfPqTopKFromIndex(corpus: DataFrame, queries: DataFrame, nProbe: Int, k: Int,
                         cent: Codebook, pqCodebook: DataFrame, codes: DataFrame,
                         m: Int = 8, ksub: Int = 16,
                         rerankFactor: Int = 4): DataFrame = {
    val cand = ivfPqCandidatesFromIndex(queries, nProbe, cent, pqCodebook, codes, m, ksub)
    exactCosRerank(cand, k * rerankFactor, corpus, queries, k)
  }

  /** Residual IVFADC top-k: trains the index ([[ivfPqIndex]]), then
    * scores its ADC candidates over the probed cells
    * ([[ivfPqCandidatesFromIndex]]), keeps k·rerankFactor per query and
    * reranks those by exact cosine ([[exactCosRerank]]).
    *
    * Residual PQ (Jégou et al. TPAMI'11 §IV, the FAISS IVFADC
    * lineage): [[ivfQuantizedTopK]] composes IVF with a GLOBAL int8
    * scale; production IVFADC quantizes the RESIDUAL x − c(x) per
    * PRIMARY cell, which is what keeps code distances accurate as
    * cells tighten — residual norms shrink with cell radius, so the
    * same m·ksub codebook budget buys finer resolution where the
    * data actually lives. Encode assigns each vector ONCE (rn=1 —
    * the residual is defined against the primary cell; multi-assign
    * would store conflicting codes per copy), queries probe nProbe
    * cells and carry a PER-CELL lookup table (q − c_cell residual vs
    * the shared residual codebooks).
    *
    * Scale shape: the coarse codebook broadcasts (√N rows); residuals are
    * map-side zip_with over the scan; PQ training runs on the
    * residual subvector stream exactly like [[pqTopK]] (at 100 TB:
    * train on a sample, encode the full corpus with the broadcast
    * codebook); the query LUT is nQueries·nProbe·m·ksub rounded
    * doubles — broadcast; candidate scan is the IVF equi-join with a
    * map-side m-term fold per row, floats touched only in the rerank.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, cells: Codebook, nProbe: Int, k: Int,
                m: Int = 8, ksub: Int = 16, iters: Int = 2,
                rerankFactor: Int = 4): DataFrame = {
    val (pqCodebook, codes) = ivfPqIndex(corpus, cells, m, ksub, iters)
    ivfPqTopKFromIndex(corpus, queries, nProbe, k, cells, pqCodebook, codes, m, ksub,
      rerankFactor)
  }

  /** The IVFADC leg of the recall-receipt family: rerank budget vs
    * recall@k against the brute-force ground truth, over the
    * residual-IVFADC `index` (codebook, codes) of [[ivfPqIndex]],
    * which may be the family's persisted artifact: the oracle retrains
    * it from scratch, so a stale index is a mismatch, never a silent
    * pass. The ADC candidates rank once at the largest budget, and each
    * curve point keeps `qrank ≤ k·f` ([[recallReceipt]]; method
    * 'ivfpq', param = factor). */
  def ivfPqRecallCurve(corpus: DataFrame, cells: Codebook, index: (DataFrame, DataFrame),
                       k: Int = 3, factors: Seq[Int] = Seq(1, 2, 4), nQueries: Int = 10,
                       nProbe: Int = 3, m: Int = 8, ksub: Int = 16): DataFrame = {
    val queries = corpus.filter(col("vec_id") < nQueries)
    val exact = groundTruth(corpus, queries, k)
    // m/ksub describe the supplied index's shape: a codebook trained at
    // another (m, ksub) must be scored with its own LUT keys
    val cand = ivfPqCandidatesFromIndex(queries, nProbe, cells, index._1, index._2,
      m = m, ksub = ksub)
    val pairs = budgetCut(cand, k * factors.max)
      .select(col("query_id"), col("vec_id"), col("qrank"))
    recallReceipt("ivfpq", exact, scorePairs(pairs, corpus, queries), k,
      factors.map(f => (f, col("qrank") <= k * f, "cos_sim")))
  }

  /** Build-time quantization scale: one scalar (max |component|) over
    * the INDEXED vectors — queries reuse it; arriving queries can't
    * rescale a built index. */
  private def symmetricScale(corpus: DataFrame): DataFrame =
    corpus.agg(
      max(greatest(abs(array_min(col("embedding")).cast("double")),
        abs(array_max(col("embedding")).cast("double")))).as("qs"))

  /** int8 codes: round(x·127/s) per component, exact in both engines
    * (round-half-away-from-zero parity). */
  private def quantizedCodes(df: DataFrame, scale: DataFrame,
                             idCol: String, codeCol: String): DataFrame =
    df.crossJoin(broadcast(scale))
      .select(col("vec_id").as(idCol),
        transform(asDouble(col("embedding")),
          x => round(x * lit(127.0) / col("qs")).cast("long")).as(codeCol))

  /** Integer squared-L2 over code arrays — exact arithmetic, no float
    * nondeterminism anywhere in candidate selection. */
  private def intL2Sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** Budget cut + exact rerank: each query keeps its first `budget`
    * candidates by (qdist, vec_id), and float vectors are touched only
    * for those rows — a k·rerankFactor-per-query equi-join, never a
    * second flat scan. `cand` carries (query_id, vec_id, qdist), uncut. */
  private def exactCosRerank(cand: DataFrame, budget: Int, corpus: DataFrame,
                             queries: DataFrame, k: Int): DataFrame =
    rerank(budgetCut(cand, budget).select(col("query_id"), col("vec_id"), col("qdist")),
      corpus, queries, k, "qdist")

  /** Each query's first `budget` candidates by (qdist, vec_id); a
    * row's `qrank` is the smallest budget that admits it. */
  private def budgetCut(cand: DataFrame, budget: Int): DataFrame =
    Rank.top(cand, Seq(col("query_id")), Seq(col("qdist"), col("vec_id")), lit(budget), "qrank")

  /** Per-vector stats via ARRAY higher-order folds (`aggregate` /
    * `array_min`/`array_max`) — the brief's array-op surface for
    * embedding columns, map-only over the scan. Fold order is array
    * order on both engines, so sums are reproducible. (HOF lambdas
    * don't whole-stage-codegen; for the hot distance paths the
    * engine uses native expressions instead — this op is the
    * schema/array-API surface, not the kernel.) */
  def vectorStats(embeddings: DataFrame): DataFrame =
    embeddings.select(
      col("vec_id"),
      roundn(sqrt(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))), 6).as("l2_norm"),
      roundn(array_min(col("embedding")).cast("double"), 6).as("v_min"),
      roundn(array_max(col("embedding")).cast("double"), 6).as("v_max"),
      size(col("embedding")).cast("long").as("n_dims"))

  /** K-means cells for IVF at a chosen cell count — the √N-cells
    * policy the quantizer needs when labels are absent or too coarse
    * (10 label cells ≈ nothing at 100 TB; cells should track √N).
    * Seeding is deterministic and oracle-replicable: the first `k`
    * vectors by vec_id are the initial centroids (c_label = vec_id),
    * refined by `iters` Lloyd rounds. Returns the [[Codebook]] every
    * IVF op takes. */
  def kmeansCells(embeddings: DataFrame, k: Int, iters: Int): Codebook = {
    val seeds = embeddings
      .filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"),
        posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
      .withColumn("dim", col("dim").cast("long"))
      .select(col("c_id"), col("dim"), roundn(col("x"), 6).as("cv"))
    lloyd(embeddings, iters, seeds)
  }

  /** [[kmeansCells]] with the cell count derived from the data:
    * k = ceil(sqrt(N)). This is the policy the IVF scaladoc states —
    * per-cell candidate lists and the cell index then grow together
    * as √N instead of one of them growing linearly. The one eager
    * action (`count()`) happens at query BUILD time and is the
    * documented price of a data-dependent plan; the oracle mirrors it
    * with `(SELECT ceil(sqrt(count(*))) FROM embeddings)`. */
  def sqrtCells(embeddings: DataFrame, iters: Int): Codebook =
    sqrtCellsWithK(embeddings, iters)._2

  /** [[sqrtCells]] exposing the derived cell count too, so callers can
    * derive the probe budget from it ([[probePolicy]]) without a
    * second eager `count()`. */
  def sqrtCellsWithK(embeddings: DataFrame, iters: Int): (Int, Codebook) = {
    val k = sqrtK(embeddings)
    (k, kmeansCells(embeddings, k, iters))
  }

  private def sqrtK(embeddings: DataFrame): Int =
    math.ceil(math.sqrt(embeddings.count().toDouble)).toInt

  /** A codebook as a (c_label, cvec) table: the form it persists in
    * and the broadcast side of the IVFADC residual joins. */
  def codebookFrame(spark: SparkSession, cells: Codebook): DataFrame = {
    import spark.implicits._
    cells.map { case (id, v) => (id, v.toSeq) }.toDF("c_label", "cvec")
  }

  /** A (c_label, cvec) table collected back into a [[Codebook]]. A
    * double array survives the parquet round trip bit for bit. */
  def collectCodebook(df: DataFrame): Codebook = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("c_label"), col("cvec")).as[(Long, Array[Double])].collect().toSeq.sortBy(_._1)
  }

  /** Codebook REFRESH receipt — the re-Lloyd that [[ivfIncrementalTopK]]'s
    * staleness story defers to (SCALE.md: the frozen codebook drifts;
    * `embedding_drift` trips; THEN you retrain): the stale codebook
    * (trained on the base slice only, exactly the `ann_incremental`
    * artifact) and the refreshed one (trained on the full corpus)
    * both assign every vector, and the output is the (old_cell →
    * new_cell) MIGRATION CENSUS — the table that prices the refresh
    * (how many vectors re-home, which cells dissolve) before the
    * assignment table is rebuilt.
    *
    * Scale shape: two bounded Lloyd trainings (each the ann_ivf
    * train cost), two broadcast map-side assignment passes over the
    * corpus, one agg on the ≤ k_old·k_new census key — no join ever
    * carries more than (vec_id, cell) rows. */
  def codebookRefreshCensus(emb: DataFrame): DataFrame = {
    val base = emb.filter(col("vec_id") % 10 < 8)
    val oldCent = sqrtCells(base, iters = 2)
    val newCent = sqrtCells(emb, iters = 2)
    val oldA = cellRanks(emb, oldCent, "vec_id", 1)
      .select(col("vec_id"), col("c_label").as("old_cell"))
    val newA = cellRanks(emb, newCent, "vec_id", 1)
      .select(col("vec_id"), col("c_label").as("new_cell"))
    oldA.join(newA, "vec_id")
      .groupBy(col("old_cell"), col("new_cell"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** The drift→refresh decision COMPOSED — the operational question
    * "do we re-Lloyd this week" as one replayable row, wiring three
    * pinned kernels: [[embeddingDrift]] (the tripwire — half-vs-half
    * centroid shift), the refresh boolean (centroid_l2 > tau, tau
    * stated in the row's contract rather than buried in a runbook),
    * and [[codebookRefreshCensus]]'s migration census collapsed to
    * its price (how many vectors change cells if the stale
    * base-trained codebook retires, and how many cells each codebook
    * actually uses). A drifted corpus with a CHEAP migration and an
    * undrifted one with an expensive migration read off the same row.
    *
    * Scale shape: each kernel keeps its own declared plan
    * (drift = two bounded (half, dim) aggs; census = two Lloyd
    * trainings by definition — the refresh family's stated cost); the
    * composition adds one bounded census agg and a 1-row crossJoin. */
  def indexMaintenancePlan(emb: DataFrame, tau: Double = 0.01): DataFrame = {
    val drift = embeddingDrift(emb)
      .select(col("centroid_l2"), col("max_dim_shift"))
    val price = codebookRefreshCensus(emb)
      .agg(sum(col("n_vecs")).as("n_vecs"),
        sum(when(col("old_cell") =!= col("new_cell"), col("n_vecs"))
          .otherwise(lit(0L))).as("n_moved"),
        countDistinct(col("old_cell")).as("n_cells_stale"),
        countDistinct(col("new_cell")).as("n_cells_refreshed"))
    drift.crossJoin(broadcast(price))
      .withColumn("refresh", col("centroid_l2") > tau)
      .withColumn("frac_moved",
        roundn(col("n_moved") / col("n_vecs").cast("double"), 6))
      .select(col("centroid_l2"), col("max_dim_shift"), col("refresh"),
        col("n_vecs"), col("n_moved"), col("frac_moved"),
        col("n_cells_stale"), col("n_cells_refreshed"))
  }

  /** Probe budget derived from the quantizer's cell count — the knob
    * that must SCALE WITH k or recall decays as cells grow with √N
    * (the ivfTopK scaladoc table: at 45 cells, (1,1) falls to 24/30
    * while (2,2)/(3,2) hold 29/30). nProbe = max(3, ⌈cells/16⌉) keeps
    * the probed fraction of the index roughly constant (≥ 1/16 of
    * cells, floor 3 — at small cell counts the floor dominates and
    * (2,2) measured only 28/30); nAssign = 2 multi-assignment is the
    * boundary-recall knob and stays flat — it buys recall per
    * candidate scanned, independent of cell count. Measured by
    * graft.RecallCheck: recall@3 = 30/30 at sf0.01 (N=500 → 23 cells,
    * nProbe 3) and 29/30 at sf0.1 (N=2000 → 45 cells, nProbe 3). */
  def probePolicy(numCells: Int): (Int, Int) =
    (math.max(3, math.ceil(numCells / 16.0).toInt), 2)

  /** Ceiling on the (c_id, dim) centroid cells [[lloyd]] holds on the
    * driver and broadcasts to every task each round, next to one k×d
    * sum buffer per task: 2²² ≈ 4.2M cells ≈ 32 MB of dense doubles —
    * comfortably inside a default driver heap and the per-task
    * broadcast budget. Under the √N-cells policy with d = 64 this
    * allows k ≈ 65k cells ⇔ N ≈ 4.3B vectors; beyond that the centroid
    * table itself must stay distributed (hierarchical / sharded
    * k-means), which is a different algorithm — fail loudly rather
    * than silently OOM the driver. */
  private[ops] val MaxCentroidCells: Long = 1L << 22

  /** The guard itself, factored out so the failure contract is
    * unit-testable without materializing an over-limit table. */
  private[ops] def requireCentroidBudget(nCells: Long, limit: Long = MaxCentroidCells): Unit =
    require(nCells <= limit,
      s"lloyd: centroid table has at least $nCells (c_id, dim) cells > limit $limit — " +
        s"centroids localize to the driver and broadcast to every task each iteration " +
        s"(at least ${nCells * 8} bytes dense + per-row overhead). At this k·d keep the " +
        "centroid table distributed (hierarchical/sharded k-means) instead.")

  /** Lloyd's k-means: refines the seed centroids `seedCent` ((c_id,
    * dim, cv) rows) by `iters` rounds and returns them dense, as
    * (c_id, centroid) in ascending c_id.
    *
    * Each round is one map-side pass over the persisted vectors and
    * one Spark job. The centroids go to the tasks as a broadcast dense
    * array. Each task assigns every vector to its nearest centroid with
    * [[nearestCells]] — the fold, 6dp rounding and (d, c_id) tie order
    * of `roundn(fastL2Sq(e, c), 6)` ranked by [[Rank.top]] — and folds
    * it into per-cell, per-dim sums and counts. `treeAggregate` merges
    * the partials on the executors, so the driver receives one k×d
    * buffer, and the driver turns it into the next centroids.
    *
    * The new centroid is, per dim, `roundn(sum / count, 6)` over the
    * members that carry that dim — the per-(c_id, dim) `avg` of the
    * exploded form: a ragged dim averages only over the vectors long
    * enough to have it, null and empty embeddings contribute nothing,
    * and a seed that loses every member drops out. (A null element
    * inside a vector reads as 0.0, as in the distance kernel.) The
    * float-sum order across partitions follows the merge tree, which
    * is no more fixed than a shuffled `avg`'s; the 6dp rounding
    * absorbs it, as it did there.
    *
    * The seed is collected through a `limit` of `limit` + 1 cells:
    * assignment never adds a c_id, and over equal-length vectors the
    * dims are fixed, so the seed's cell count is the loop's, and an
    * over-limit seed fails without being collected whole. */
  private[ops] def lloyd(embeddings: DataFrame, iters: Int, seedCent: DataFrame,
                         limit: Long = MaxCentroidCells): Codebook = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val seed = seedCent.select(col("c_id"), col("dim"), col("cv"))
      .limit(math.min(limit + 1, Int.MaxValue.toLong).toInt)
      .as[(Long, Long, Double)].collect()
    requireCentroidBudget(seed.length.toLong, limit)
    var cent = seed.toSeq.groupBy(_._1).toSeq
      .map { case (id, rows) => (id, rows.sortBy(_._2).map(_._3).toArray) }
      .sortBy(_._1)

    val vecs = embeddings.select(asDouble(col("embedding")).as("e"))
      .filter(size(col("e")) > 0)
      .queryExecution.toRdd.map(_.getArray(0).toDoubleArray())
      .persist(StorageLevel.MEMORY_AND_DISK)
    for (_ <- 1 to iters if cent.nonEmpty) {
      val ids = cent.map(_._1).toArray
      val cells = spark.sparkContext.broadcast(cent.map(_._2).toArray)
      val sums = vecs.treeAggregate(new CellSums(ids.length),
        (acc: CellSums, e: Array[Double]) => acc.add(nearestCells(e, ids, cells.value, 1)(0)._1, e),
        (a: CellSums, b: CellSums) => a.merge(b), depth = 2, finalAggregateOnExecutor = true)
      cells.destroy()
      cent = ids.indices.flatMap(c => sums.mean(c).map(ids(c) -> _))
    }
    vecs.unpersist()
    cent
  }

  /** Per-cell, per-dim sums and member counts of one [[lloyd]] round.
    * A cell's arrays grow to the length of its longest member, so each
    * dim counts only the members that carry it. */
  private final class CellSums(k: Int) extends Serializable {
    private val sums = new Array[Array[Double]](k)
    private val counts = new Array[Array[Long]](k)

    private def grow(c: Int, n: Int): Unit =
      if (sums(c) == null) { sums(c) = new Array(n); counts(c) = new Array(n) }
      else if (sums(c).length < n) {
        sums(c) = java.util.Arrays.copyOf(sums(c), n)
        counts(c) = java.util.Arrays.copyOf(counts(c), n)
      }

    def add(c: Int, e: Array[Double]): CellSums = {
      grow(c, e.length)
      val s = sums(c); val n = counts(c)
      var i = 0
      while (i < e.length) { s(i) += e(i); n(i) += 1; i += 1 }
      this
    }

    def merge(o: CellSums): CellSums = {
      for (c <- 0 until k if o.sums(c) != null) {
        grow(c, o.sums(c).length)
        val s = sums(c); val n = counts(c)
        var i = 0
        while (i < o.sums(c).length) { s(i) += o.sums(c)(i); n(i) += o.counts(c)(i); i += 1 }
      }
      this
    }

    /** Cell `c`'s next centroid, `roundn(sum / count, 6)` per dim; None
      * when no vector chose the cell. */
    def mean(c: Int): Option[Array[Double]] =
      Option(sums(c)).map(s => Array.tabulate(s.length)(i => round6(s(i) / counts(c)(i))))
  }

  /** K-means as a first-class clustering RESULT (not just the ANN
    * quantizer it powers): per cluster, the member count and the
    * inertia (Σ squared-L2 to the centroid) of the √N-cell Lloyd
    * codebook [[sqrtCells]] trains. The pair is the elbow-curve /
    * cluster-balance diagnostic a curation pipeline reads before
    * trusting cell-scoped dedup ([[similarityJoinIvf]]) or IVF
    * routing ([[ivfTopK]]).
    *
    * Determinism: per-member distances are rounded to 6dp, then
    * scaled to integer micros BEFORE the sum — inertia aggregates in
    * exact Long arithmetic (order-free, partial-aggregable), immune
    * to float-sum-order drift; the displayed double is derived from
    * that exact integer. Empty cells (seeds that lost every member)
    * simply have no row, matching the oracle's GROUP BY.
    *
    * Scale shape: [[cellRanks]] at n = 1 — the codebook comes straight
    * from [[lloyd]] as one broadcast row and each vector's nearest cell
    * is picked inside its own row. The only shuffle is the stats agg on
    * the uniform c_label key, with map-side partials. */
  def kmeansClusterStats(embeddings: DataFrame, iters: Int = 2): DataFrame =
    cellRanks(embeddings, sqrtCells(embeddings, iters), "vec_id", 1)
      .groupBy(col("c_label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(round(col("cdist") * 1e6).cast("long")).as("inertia6"))
      .select(col("c_label"), col("n_vecs"),
        roundn(col("inertia6").cast("double") / 1e6, 6).as("inertia"))

  /** Each vector's `n` nearest cells of the codebook `cells`:
    * (idCol, c_label, cdist, cell_rank), cell_rank 1 = nearest. The
    * codebook broadcasts as ONE local row, and each vector scores all
    * k cells inside its own row with `roundn(fastL2Sq(e, cvec), 6)` —
    * a fold in ascending dim order, bit-equal to the oracle's
    * `sum((x-cv)^2 ORDER BY dim)` — and keeps the first `n` by
    * (cdist, c_label) ([[fastNearestCells]], the argmin of the Lloyd
    * rounds). A null embedding scores every cell null, and its cells
    * rank by c_label. Map-only: no N×k rows, no aggregate, no
    * shuffle. */
  def cellRanks(df: DataFrame, cells: Codebook, idCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val book = Seq(cells.map { case (id, v) => (id, v.toSeq) }).toDF("cells")
    df.select(col("vec_id").as(idCol), asDouble(col("embedding")).as("e"))
      .crossJoin(broadcast(book))
      .select(col(idCol),
        posexplode(fastNearestCells(col("e"), col("cells"), n)).as(Seq("pos", "cell")))
      .select(col(idCol), col("cell.c_label"), col("cell.cdist"),
        (col("pos") + 1).as("cell_rank"))
  }

  /** IVF-style approximate top-k — the 100 TB scale path for
    * [[annTopK]]: a coarse quantizer (the √N [[kmeansCells]] codebook,
    * whose [[lloyd]] rounds are one map-side pass each) assigns every
    * vector to its nearest centroid;
    * a query probes only its `nProbe` nearest cells and runs the exact
    * cosine kernel inside them. The full cross join never happens:
    * candidate generation is an equi-join on the cell id.
    *
    * Determinism: centroid components and distances are rounded
    * before any argmin/rank decision, ties broken on label/vec_id, so
    * the DuckDB oracle reproduces cell assignment bit-for-bit.
    *
    * Measured recall@3 vs exact (sf0.01, N=500, 10 queries), with
    * [[kmeansCells]] quantizers (first-k seeds, 2 Lloyd rounds):
    *
    *   k=10:  (nProbe,nAssign) (1,1)→27/30 (1,2)→30/30 (3,1)→30/30
    *   k=25:  (1,1)→27/30 (2,1)→28/30 (2,2)→29/30 (3,2)→30/30
    *   k=45:  (1,1)→24/30 (2,2)→29/30 (3,2)→29/30
    *
    * vs the round-1 label-cell quantizer (10 coarse cells):
    * (2,1)→13/30, (6,1)→24/30 — DATA-FITTED cells dominate label
    * cells at every probe budget, and multi-assignment (nAssign=2)
    * recovers the boundary-straddling loss mode at every k. The
    * declared query uses k=25 ≈ √N with (2,1); at scale hold k ≈ √N
    * so per-cell candidate lists and the cell index grow together as
    * √N. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, cells: Codebook,
              nProbe: Int, k: Int, nAssign: Int = 1): DataFrame = {
    // cells: the trained codebook, (c_label, centroid) with every
    // component rounded once — the cells the oracle replays
    // nAssign > 1 = multi-assignment: each vector lives in its
    // nAssign nearest cells, trading candidate-set size for recall
    // at cell BOUNDARIES — the loss mode more probes alone can't fix
    // cheaply (measured: nAssign=2 at nProbe=2 beats nProbe=4 on
    // candidates scanned per unit recall; see scaladoc table)
    val assigned = cellRanks(corpus, cells, "vec_id", nAssign)
      .select(col("vec_id"), col("c_label"))
    ivfTopKFromIndex(corpus, queries, assigned, cells, nProbe, k)
  }

  /** The probe/score/rank half of [[ivfTopK]] against a PRECOMPUTED
    * assignment table (vec_id, c_label) — the entry point an
    * incremental or persisted index uses: the caller owns how the
    * assignment list was built (fresh [[cellRanks]], a parquet
    * reload, or a persisted-base ∪ map-side-assigned-batch union);
    * this half only probes cells, scores candidates and ranks.
    * Identical plan shape to the inlined form it was factored from:
    * cell equi-join for candidates (never all-pairs), broadcast
    * 1-row-per-query build side, rank window per query. */
  def ivfTopKFromIndex(corpus: DataFrame, queries: DataFrame, assigned: DataFrame,
                       cent: Codebook, nProbe: Int, k: Int): DataFrame =
    rerank(ivfCandidates(queries, assigned, cent, nProbe), corpus, queries, k)

  /** IVF candidate pairs (query_id, vec_id): each query probes its
    * `nProbe` nearest cells of `cent` and meets every vector `assigned`
    * (vec_id, c_label) to one of them, self-match excluded. Distinct,
    * since a pair can meet in several cells. */
  private def ivfCandidates(queries: DataFrame, assigned: DataFrame, cent: Codebook,
                            nProbe: Int): DataFrame =
    cellRanks(queries, cent, "query_id", nProbe).select(col("query_id"), col("c_label"))
      .join(assigned, "c_label")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()

  /** Incremental ANN ingest — the reference's defining maintenance
    * loop (app_callapi.py:139-148: unchanged files skipped, new
    * paragraphs embedded and `index.add`-ed with NO rebuild) applied
    * to the IVF tier, the way [[graft.ops.DedupOps.incrementalCandidatesFromIndex]]
    * already does it for the dedup tier: the PERSISTED codebook stays
    * fixed, the arriving batch map-side assigns to it (broadcast
    * centroids — cost ∝ batch, never ∝ corpus), and the merged index
    * is persisted-base-assignments ∪ batch-assignments.
    *
    * The identity this pins (and the oracle recomputes): cell
    * assignment is a pure per-vector function of the codebook, so
    * assign(base) ∪ assign(batch) ≡ assign(base ∪ batch) — a merged
    * index answers every query BIT-IDENTICALLY to a full rebuild
    * against the same codebook. What an incremental add does NOT
    * refresh is the codebook itself: as the batch distribution
    * drifts, cells go stale (recall decays, cells skew) —
    * [[embeddingDrift]] is the tripwire that schedules the re-Lloyd
    * (see SCALE.md).
    *
    * @param baseAssigned the persisted index: (vec_id, c_label) of
    *                     already-ingested vectors
    * @param cent         the codebook the base was built with, collected
    *                     back from its persisted (c_label, cvec) table
    * @param batch        newly arriving vectors (vec_id, embedding)
    * @param nAssign      multi-assignment width — must match the
    *                     base's or merged ≠ rebuild */
  def ivfIncrementalTopK(corpus: DataFrame, queries: DataFrame,
                         baseAssigned: DataFrame, cent: Codebook,
                         batch: DataFrame, nProbe: Int, k: Int,
                         nAssign: Int): DataFrame = {
    val batchAssigned = cellRanks(batch, cent, "vec_id", nAssign)
      .select(col("vec_id"), col("c_label"))
    val merged = baseAssigned.select(col("vec_id"), col("c_label"))
      .unionByName(batchAssigned)
    ivfTopKFromIndex(corpus, queries, merged, cent, nProbe, k)
  }

  /** Attribute-FILTERED ANN — metadata predicate + vector search in
    * one query (the "filtered vector search" production shape: only
    * permitted / in-tenant / in-language vectors may be returned).
    * The predicate is applied PRE-candidate-generation: the
    * assignment list shrinks before the cell equi-join, so every
    * candidate — and all k result slots — satisfies the filter.
    * Post-filtering an unfiltered top-k instead silently returns
    * fewer than k rows (or none) whenever the neighborhood is
    * dominated by filtered-out vectors — the classic recall hole.
    * The codebook is TRAINED ON (and shared with) the full corpus:
    * cells stay stable across predicates, so one persisted index
    * serves every filter, and a selective predicate just means
    * sparser cells (probe more cells to compensate — the
    * nProbe-vs-selectivity trade is the operator's tuning axis).
    * Cost shape identical to [[ivfTopK]]; the filter rides the
    * corpus scan (predicate pushdown) before assignment. */
  def ivfFilteredTopK(corpus: DataFrame, pred: Column, queries: DataFrame,
                      cells: Codebook, nProbe: Int, k: Int,
                      nAssign: Int = 1): DataFrame =
    ivfTopK(corpus.filter(pred), queries, cells, nProbe, k, nAssign)

  /** Declared ANN-recall receipt — the recall-vs-nProbe curve as an
    * oracle-pinned query (the way `bpe_vocab_size` pins training
    * depth): for each probe budget, recall@k of [[ivfTopK]] over the
    * √N Lloyd codebook (nAssign = 1 so the curve isolates the probe
    * axis) against `exact`, the pinned [[groundTruth]] the caller can
    * share with [[srpRecallCurve]]. Both sides are
    * recomputed exactly by the DuckDB twin — the receipt is not a
    * stored number but a replayable measurement, so a quantizer or
    * probe-policy regression shows up as a hash mismatch.
    *
    * Output: [[recallReceipt]]'s, one row per budget. n_returned can
    * undershoot k·|queries| at small budgets (a 1-probe query may see < k candidates); that
    * undershoot is part of what the curve documents.
    *
    * Scale shape: the exact side is the one cross join (queries
    * broadcast — the receipt's cost is the ground truth, exactly as
    * in [[graft.ops.SkewOps.keySkewProfile]]-style verification
    * twins); the approximate side is computed ONCE for the whole
    * curve, not once per point: with nAssign = 1 a (query, vec)
    * candidate pair meets through exactly one cell, whose probe rank
    * for that query is the SMALLEST budget that reaches the pair
    * (`first_probe`) — so the corpus assignment, the query probe
    * ranks, and every pairwise cosine are evaluated a single time
    * and each curve point keeps `first_probe <= p` of the same pinned
    * scored table ([[recallReceipt]]; measured 6.3 → ~2 s at
    * sf0.1 vs the ivfTopK-per-point form; output identical, which
    * the unchanged oracle pins). */
  def annRecallCurve(corpus: DataFrame, queries: DataFrame, exact: DataFrame, k: Int = 3,
                     nProbes: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    val cent = sqrtCells(corpus, iters = 2)
    val assigned = cellRanks(corpus, cent, "vec_id", 1)
      .select(col("vec_id"), col("c_label"))
    val pairs = cellRanks(queries, cent, "query_id", nProbes.max)
      .select(col("query_id"), col("c_label"), col("cell_rank"))
      .join(assigned, "c_label")
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(min(col("cell_rank")).as("first_probe"))
    recallReceipt("ivf", exact, scorePairs(pairs, corpus, queries), k,
      nProbes.map(p => (p, col("first_probe") <= p, "cos_sim")))
  }

  /** The recall receipt every ANN method shares. `scored` holds
    * (query_id, vec_id), the score columns and whatever the points
    * filter on; it is computed once and pinned. Each point
    * `(param, keep, score)` keeps the rows `keep` admits, cuts each
    * query to its top `k` by `score` ([[topByCos]]) and is tagged
    * (`method`, param). Each (method, param) then counts its hits
    * against the pinned [[groundTruth]] pairs `exact`.
    * Output: (method, param, n_returned, n_hits, n_exact, recall). */
  private def recallReceipt(method: String, exact: DataFrame, scored: DataFrame, k: Int,
                            points: Seq[(Int, Column, String)]): DataFrame = {
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val pinned = scored.localCheckpoint(false)
    points.map { case (param, keep, score) =>
      topByCos(pinned.filter(keep), k, score)
        .select(col("query_id"), col("vec_id"))
        .withColumn("method", lit(method))
        .withColumn("param", lit(param.toLong))
    }.reduce(_ unionByName _)
      .join(exact.withColumn("hit", lit(1)), Seq("query_id", "vec_id"), "left")
      .groupBy(col("method"), col("param"))
      .agg(count(lit(1)).as("n_returned"),
        coalesce(sum(col("hit")), lit(0)).cast("long").as("n_hits"))
      .crossJoin(broadcast(nExact))
      .withColumn("recall", roundn(col("n_hits") / col("n_exact").cast("double"), 6))
      .select(col("method"), col("param"), col("n_returned"), col("n_hits"),
        col("n_exact"), col("recall"))
  }

  /** SRP leg of the recall receipt — recall-vs-bands for [[srpTopK]]'s
    * hyperplane-bit index (method 'srp', param = band budget). A
    * candidate pair's first matching band is the smallest band budget
    * that reaches it, so the signatures, the bucket join and every
    * candidate cosine are computed once, and each curve point keeps
    * `first_band < b` ([[recallReceipt]]). */
  def srpRecallCurve(corpus: DataFrame, exact: DataFrame, k: Int = 3,
                     bands: Seq[Int] = Seq(2, 4, 8), outDim: Int = 32,
                     bandBits: Int = 4, nQueries: Int = 10): DataFrame = {
    val sig = bandSigs(srpBits(corpus, outDim, bandBits), bandBits)
    val pairs = sig.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("band"), col("band_sig"))
      .join(sig, Seq("band", "band_sig"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(min(col("band")).as("first_band"))
    recallReceipt("srp", exact,
      scorePairs(pairs, corpus, corpus.filter(col("vec_id") < nQueries)), k,
      bands.map(b => (b, col("first_band") < b, "cos_sim")))
  }

  /** Scalar-quantization recall receipt — the BYTES axis of the
    * recall-vs-cost trade, completing the per-method receipt family
    * ([[annRecallCurve]] prices probes, [[srpRecallCurve]] bands,
    * [[matryoshkaRecall]] dims; this prices the int8 candidate
    * funnel's RERANK BUDGET): recall@k of [[annQuantizedTopK]]'s
    * code-distance candidates + exact-cosine rerank, one curve point
    * per rerank factor (method 'sq8', param = factor).
    *
    * The candidate ranking, the code distances, and every exact
    * rerank cosine are computed ONCE at the LARGEST budget (a
    * candidate's integer qrank is the smallest budget that admits it);
    * each curve point keeps `qrank ≤ k·f` ([[recallReceipt]]). Integer code distances tie-break on vec_id, the rerank on
    * (rounded cos desc, vec_id) — [[annQuantizedTopK]]'s exact
    * decision path. */
  def sq8RecallCurve(corpus: DataFrame, k: Int = 3,
                     factors: Seq[Int] = Seq(1, 2, 4), nQueries: Int = 10): DataFrame = {
    val queries = corpus.filter(col("vec_id") < nQueries)
    val exact = groundTruth(corpus, queries, k)
    val pairs = budgetCut(sq8Candidates(corpus, queries), k * factors.max)
      .select(col("query_id"), col("vec_id"), col("qrank"))
    recallReceipt("sq8", exact, scorePairs(pairs, corpus, queries), k,
      factors.map(f => (f, col("qrank") <= k * f, "cos_sim")))
  }

  /** Matryoshka truncation receipt — the dimension axis of the
    * recall-vs-cost trade, beside [[annRecallCurve]]'s probe axis and
    * [[srpRecallCurve]]'s band axis (matryoshka-trained embeddings
    * are served TRUNCATED: scoring the first d dims reads d/D of the
    * bytes — the cheapest ANN lever there is, because it needs no
    * index at all): recall@k of cosine top-k over each PREFIX length
    * against the full-dimension exact ground truth, one curve row per
    * prefix (method 'trunc', param = d).
    *
    * All prefix scores come from ONE pass: the candidate cross join
    * (queries broadcast — the [[annTopK]] receipt shape) computes
    * every prefix cosine per pair via `slice`, and each curve point
    * ranks the same pinned table by its own prefix cosine
    * ([[recallReceipt]]).
    * Tie-break (rounded cos desc, vec_id) matches the ground truth's.
    *
    * Scale shape: the receipt is exact-vs-exact by construction (its
    * cost IS the ground truth, as in [[annRecallCurve]]); production
    * serving uses the prefix that this curve prices, under whatever
    * index the corpus already has — truncation composes with IVF/PQ
    * because it only changes the vector payload. */
  def matryoshkaRecall(corpus: DataFrame, k: Int = 3,
                       dims: Seq[Int] = Seq(8, 16, 32),
                       nQueries: Int = 10): DataFrame = {
    val queries = corpus.filter(col("vec_id") < nQueries)
    val exact = groundTruth(corpus, queries, k)
    val scored = corpusVecs(corpus).crossJoin(broadcast(queryVecs(queries)))
      .filter(col("vec_id") =!= col("query_id"))
      .select(Seq(col("query_id"), col("vec_id")) ++ dims.map(d =>
        roundn(fastCosine(slice(col("e"), 1, d), slice(col("qe"), 1, d)), 6)
          .as(s"cos_$d")): _*)
    recallReceipt("trunc", exact, scored, k, dims.map(d => (d, lit(true), s"cos_$d")))
  }

  /** Embedding-space outlier screen — the mislabeled-data detector a
    * curated corpus runs before contrastive training: each vector's
    * variance-normalized squared distance to its LABEL centroid
    * (diagonal-covariance Mahalanobis), ranked; the top scorers are
    * the rows whose embedding disagrees most with their label
    * assignment (wrong label, polluted text, or a genuine hard
    * example — all worth surfacing).
    *
    * Determinism: centroids and per-dim variances are rounded ONCE;
    * per-vector scores sum the 64 rounded-input terms in DIM ORDER
    * ([[graft.functions.VectorMath.orderedSum]] — terms derived from
    * rounded values land on grid boundaries systematically, the exact
    * hazard class orderedSum exists for).
    *
    * Scale shape: two (label, dim)-keyed aggs (bounded: |labels|·64
    * cells) BROADCAST back; scoring shuffles the exploded stream once
    * on the uniform vec_id key; top-k = TakeOrderedAndProject. */
  def embeddingOutliers(embeddings: DataFrame, k: Int = 20,
                        eps: Double = 1e-6): DataFrame = {
    val d = embeddings.select(col("vec_id"), col("label"),
      posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
    val cent = d.groupBy(col("label"), col("dim"))
      .agg(roundn(avg(col("x")), 6).as("cv"))
    val dev = d.join(broadcast(cent), Seq("label", "dim"))
      .withColumn("dv", col("x") - col("cv"))
    val vr = dev.groupBy(col("label"), col("dim"))
      .agg(roundn(avg(col("dv") * col("dv")), 6).as("vr"))
    val scored = dev.join(broadcast(vr), Seq("label", "dim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("dim"), col("dv") * col("dv") / (col("vr") + lit(eps))), 6).as("score"))
    scored
      .orderBy(col("score").desc, col("vec_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("vec_id"))).cast("long"))
      .select(col("rank"), col("vec_id"), col("label"), col("score"))
  }

  /** Deterministic ±1 sign matrix for signed random projection:
    * signs(i)(j) from the parity of the portable 24-bit hash of
    * "srp:i:j" — the JVM twin of the hash the oracle recomputes in
    * SQL (PortableHashSpec pins JVM ≡ Column ≡ SQL). */
  private[graft] def srpSigns(inDim: Int, outDim: Int): Array[Array[Double]] =
    Array.tabulate(inDim, outDim)((i, j) =>
      if (graft.functions.PortableHash.hash24Jvm(s"srp:$i:$j") % 2 == 0) 1.0 else -1.0)

  /** Signed random projection (Achlioptas '03 / JL lemma): project
    * each embedding onto `outDim` deterministic ±1 hyperplanes —
    * dimensionality reduction whose pairwise distances concentrate
    * around the originals (the spec gates the distortion), and whose
    * SIGN BITS are the cosine-LSH signature [[srpTopK]] buckets on
    * (Charikar STOC'02: P[sign match] = 1 − θ/π).
    *
    * Scale shape: MAP-ONLY — the sign matrix is a compile-time
    * literal folded into the projection expressions (no join, no
    * broadcast, no shuffle); each output coordinate is a sequential
    * zip_with fold the oracle replays in the same order (list_sum
    * over the per-j sign list), rounded once. Long-format output
    * keeps the oracle comparison scalar-typed. */
  def randomProject(embeddings: DataFrame, outDim: Int = 16, inDim: Int = 64): DataFrame = {
    val signs = srpSigns(inDim, outDim)
    val e = asDouble(col("embedding"))
    val projs = (0 until outDim).map { j =>
      val signArr = array(signs.map(row => lit(row(j))).toIndexedSeq: _*)
      struct(lit(j.toLong).as("out_dim"),
        roundn(aggregate(zip_with(e, signArr, (x, s) => x * s),
          lit(0.0), (acc, x) => acc + x), 6).as("proj"))
    }
    embeddings
      .select(col("vec_id"), explode(array(projs: _*)).as("p"))
      .select(col("vec_id"), col("p.out_dim"), col("p.proj"))
  }

  /** SRP-LSH approximate top-k — the third ANN indexing method next
    * to IVF (cell pruning) and PQ (byte pruning): bucket vectors by
    * the sign bits of their [[randomProject]] coordinates, banded
    * `bandBits` bits at a time (any shared band ⇒ candidate — the
    * MinHash banding construction applied to Charikar hyperplane
    * bits), then exact-cosine rerank of the candidates only.
    *
    * Scale shape: signatures are map-only (the projection is a
    * literal-matrix fold); candidates come from an EQUI-JOIN on
    * (band, band_sig) — bounded buckets under uniform hashes;
    * reranking touches floats only for candidate pairs; per-query
    * top-k is a window over candidates. The probability knob is
    * bands×bits: more bands → recall, longer bands → precision. */
  def srpTopK(embeddings: DataFrame, k: Int = 3, nQueries: Int = 10,
              outDim: Int = 32, bandBits: Int = 4): DataFrame =
    rerank(srpCandidates(embeddings, multiProbe = false, nQueries, outDim, bandBits),
      embeddings, embeddings.filter(col("vec_id") < nQueries), k)

  /** Multi-probe SRP-LSH (Lv et al., VLDB'07 applied to the Charikar
    * signature): [[srpTopK]] probes only each query's HOME bucket per
    * band; this also probes the bucket with the band's lowest-margin
    * bit flipped — the projection coordinate nearest the hyperplane
    * is the bit most likely to differ for a true neighbor, so one
    * extra probe per band buys the recall another hash TABLE would
    * cost memory for (the multi-probe trade). Candidates are a strict
    * SUPERSET of single-probe's (home probes are included —
    * spec-pinned), reranked by exact cosine identically.
    *
    * Scale shape: identical to srpTopK plus one |queries|·|bands|-row
    * flip computation (a per-(query, band) argmin window over
    * bandBits rows) — the probe union doubles only the QUERY side of
    * the candidate equi-join, never the corpus signatures. */
  def srpMultiProbeTopK(embeddings: DataFrame, k: Int = 3, nQueries: Int = 10,
                        outDim: Int = 32, bandBits: Int = 4): DataFrame =
    rerank(srpCandidates(embeddings, multiProbe = true, nQueries, outDim, bandBits),
      embeddings, embeddings.filter(col("vec_id") < nQueries), k)

  /** The SRP-LSH candidate generator of [[srpTopK]] (single probe) and
    * [[srpMultiProbeTopK]] (`multiProbe`): each of the first `nQueries`
    * vectors probes its home bucket in every band — and, multi-probe,
    * also the bucket with that band's lowest-margin bit flipped — and
    * meets every vector sharing a probed bucket. Output (query_id,
    * vec_id), distinct, self-match excluded.
    *
    * `sig` feeds the probes and the corpus side of the join, and under
    * multi-probe the banded projection feeds the flip table too: each
    * is pinned where two consumers read it, so the corpus-wide
    * projection evaluates once. */
  private[graft] def srpCandidates(embeddings: DataFrame, multiProbe: Boolean,
                                   nQueries: Int = 10, outDim: Int = 32,
                                   bandBits: Int = 4): DataFrame = {
    val bits = srpBits(embeddings, outDim, bandBits)
    val proj = if (multiProbe) bits.localCheckpoint(false) else bits
    val sig = bandSigs(proj, bandBits).localCheckpoint(false)
    val home = sig.filter(col("vec_id") < nQueries)
    val base = home.select(col("vec_id").as("query_id"), col("band"), col("band_sig"))
    val probes = if (!multiProbe) base else {
      val flip = Rank.top(proj.filter(col("vec_id") < nQueries),
          Seq(col("vec_id"), col("band")), Seq(abs(col("proj")), col("out_dim")), lit(1))
        .select(col("vec_id"), col("band"),
          (col("out_dim") % bandBits).as("flip_pos"))
      base.unionByName(home.join(flip, Seq("vec_id", "band"))
        .select(col("vec_id").as("query_id"), col("band"),
          expr("band_sig ^ shiftleft(1L, cast(flip_pos as int))").as("band_sig")))
    }
    probes.join(sig, Seq("band", "band_sig"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
  }

  /** The [[randomProject]] coordinates as sign bits, `bandBits` to a
    * band: (vec_id, out_dim, proj, bit, band). */
  private def srpBits(embeddings: DataFrame, outDim: Int, bandBits: Int): DataFrame =
    randomProject(embeddings, outDim)
      .withColumn("bit", (col("proj") > 0).cast("long"))
      .withColumn("band", floor(col("out_dim") / bandBits).cast("long"))

  /** Each vector's band signatures (vec_id, band, band_sig): a band's
    * sign bits read as one integer, bit i of the band at 2^i. */
  private def bandSigs(bits: DataFrame, bandBits: Int): DataFrame =
    bits.groupBy(col("vec_id"), col("band"))
      .agg(sum(col("bit") * pow(lit(2.0), col("out_dim") % bandBits)).cast("long")
        .as("band_sig"))

  /** EMBEDDING DRIFT monitor — the vector member of the drift family
    * (valueDrift distributions, mixDrift composition, this one
    * feature space): split the embedding table at its id midpoint and
    * measure how far the two halves’ centroids moved — the L2
    * centroid shift and the single worst-moving dimension. An
    * upstream encoder change, a normalization bug, or genuine
    * data drift all surface here before any ANN index is rebuilt on
    * mixed geometry.
    *
    * Determinism: components fix-point to micros (exact integer sums
    * via the avg-of-Long convention shared with [[embeddingPca]]),
    * per-dim means round once, the L2 fold runs in dim order.
    *
    * Scale shape: one (half, dim)-keyed agg with map-side partials
    * (≤ 2d cells), then d-row arithmetic. */
  def embeddingDrift(emb: DataFrame): DataFrame = {
    import graft.functions.VectorMath.roundn
    val mid = emb.agg(expr("(max(vec_id) + 1) div 2").as("mid"))
    val mu = emb.crossJoin(broadcast(mid))
      .withColumn("half", when(col("vec_id") < col("mid"), "a").otherwise("b"))
      .select(col("half"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("half"), col("dim").cast("long").as("dim"),
        round(col("xf").cast("double") * 1e6).cast("long").as("x6"))
      .groupBy(col("half"), col("dim"))
      .agg(round(avg(col("x6"))).cast("long").as("mu6"), count(lit(1)).as("n"))
    val a = mu.filter(col("half") === "a")
      .select(col("dim"), col("mu6").as("ma"), col("n").as("na"))
    val b = mu.filter(col("half") === "b")
      .select(col("dim"), col("mu6").as("mb"), col("n").as("nb"))
    a.join(b, "dim")
      .withColumn("d", (col("ma") - col("mb")).cast("double") / 1e6)
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        roundn(sqrt(graft.functions.VectorMath.orderedSum(
          col("dim"), col("d") * col("d"))), 6).as("centroid_l2"),
        roundn(max(abs(col("ma") - col("mb"))).cast("double") / 1e6, 6)
          .as("max_dim_shift"))
  }

  /** PRINCIPAL COMPONENT by relational POWER ITERATION — the eigen
    * member of the in-engine training family (GD logistic regression,
    * PLSA EM, Lloyd k-means, NB counting, OLS — and now iterative
    * linear algebra): center the embedding matrix in fixed-point
    * micros, form the UNNORMALIZED covariance C = Σᵥ dxᵥdxᵥᵀ EXACTLY
    * (integer products, order-free sums — the scale-safe determinism
    * path), then run `iters` rounds of v ← round₆(C·v / ‖C·v‖)
    * starting from e₀. Output: the 64 loadings of the `iters`-round
    * iterate plus the explained-variance ratio vᵀCv/(vᵀv·tr C) — the
    * number a whitening / dimensionality decision is made on
    * (SemDeDup-style pipelines whiten before cosine thresholds).
    *
    * Determinism: components round once into micros; means round once
    * per dim; every C entry is an exact integer; each matvec sums 64
    * terms in dim order ([[graft.functions.VectorMath.orderedSum]]);
    * the iterate re-rounds to 6dp per round so both engines carry
    * identical doubles into the next round. Fixed `iters` (statically
    * unrolled plan, the bpe_vocab_size training-depth stance); the
    * result is "the iters-round iterate", pinned — not a convergence
    * promise.
    *
    * Scale shape: the only corpus-sized stage is the covariance, and
    * it is MAP-ONLY — the outer product is row-local, so the d²
    * centered products are generated per row from the array column
    * (nested transform + flatten over the broadcast-centered
    * embedding, no vec_id self-join, no join at all) and partial
    * aggregation reduces each map task to ≤d²=4096 cells before the
    * single exchange onto the bounded (di,dj) key; Long sums hold to
    * ~10⁶ rows of unit vectors, decimal(38,0) beyond. Every
    * iteration then runs on the 4096-row C (localCheckpointed once)
    * and a 64-row vector. No driver-side numerics at all.
    *
    * Start-vector caveat (mirrored by the oracle, so never a
    * divergence): if dimension 0 had exactly zero covariance with
    * every dimension, C·e₀ = 0 and the iterate NaNs out — real
    * embedding corpora always carry variance in every dimension. */
  /** The map-only covariance stage of [[embeddingPca]], exposed so
    * PlanSpec can pin its shape (the eager localCheckpoint hides it
    * from the final query plan): each row's centered micro vector
    * folds into a d²-cell Long buffer IN PLACE via the
    * [[graft.functions.VectorAggregators.outerProductSum]] typed
    * Aggregator (zero joins — `muArr` is a broadcast 1-row scalar;
    * zero intermediate rows — the previous explode form generated
    * n·d² struct rows, 3.0 s at sf0.1, just to reduce them onto
    * 4096 keys; the buffer fold is ~10×). Partial aggregation ships
    * one 4096-long buffer per task; the single output row explodes
    * to the bounded (di, dj, c) table the power iteration consumes.
    * Exact Long sums — bit-identical to the exploded form
    * (VectorAggregators parity spec). */
  private[graft] def covarianceCells(emb: DataFrame, muArr: DataFrame): DataFrame =
    emb.crossJoin(broadcast(muArr))
      .select(expr("transform(embedding, (xf, ii) -> " +
        "cast(round(cast(xf as double) * 1e6) as bigint) - mu6_arr[ii])").as("dx6"))
      .agg(graft.functions.VectorAggregators.outerProductSumUdaf(col("dx6")).as("cells"))
      .select(col("cells"), expr("cast(round(sqrt(size(cells))) as bigint)").as("d"))
      .select(col("d"), posexplode(col("cells")).as(Seq("idx", "c")))
      .select(expr("cast(idx as bigint) div d").as("di"),
        expr("cast(idx as bigint) % d").as("dj"), col("c"))

  def embeddingPca(emb: DataFrame, iters: Int = 8): DataFrame = {
    val x = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        round(col("xf").cast("double") * 1e6).cast("long").as("x6"))
    val mu = x.groupBy(col("dim")).agg(round(avg(col("x6"))).cast("long").as("mu6"))
    // per-dim means as ONE broadcast array (sorted-struct fold keeps
    // the dim order deterministic), so centering is a row-local
    // transform — no per-dim join back onto the exploded table
    val muArr = mu.agg(expr(
      "transform(array_sort(collect_list(struct(dim, mu6))), s -> s.mu6)")
      .as("mu6_arr"))
    val cov = covarianceCells(emb, muArr).localCheckpoint(false)
    var v = cov.select(col("di").as("dim")).distinct()
      .withColumn("v", when(col("dim") === 0L, lit(1.0)).otherwise(lit(0.0)))
    def matvec(vec: DataFrame): DataFrame =
      cov.join(vec.select(col("dim").as("dj"), col("v")), "dj")
        .groupBy(col("di").as("dim"))
        .agg(orderedSum(col("dj"), col("c").cast("double") * col("v")).as("w"))
    for (_ <- 1 to iters) {
      val w = matvec(v)
      val nrm = w.agg(sqrt(orderedSum(col("dim"), col("w") * col("w"))).as("nrm"))
      // truncate the iterate's lineage every round: v is 64 rows, but
      // without this each round's plan nests all previous rounds and
      // planning time dwarfs the (tiny) execution
      v = w.crossJoin(broadcast(nrm))
        .select(col("dim"), roundn(col("w") / col("nrm"), 6).as("v"))
        .localCheckpoint(false)
    }
    val wf = matvec(v)
    val scalars = v.join(wf, "dim")
      .agg(orderedSum(col("dim"), col("v") * col("w")).as("num"),
        orderedSum(col("dim"), col("v") * col("v")).as("den"))
    val trace = cov.filter(col("di") === col("dj"))
      .agg(sum(col("c")).cast("double").as("tr"))
    val evr = scalars.crossJoin(trace)
      .select(roundn(col("num") / col("den") / col("tr"), 6).as("explained_ratio"))
    v.crossJoin(broadcast(evr))
      .select(col("dim"), col("v").as("loading"), col("explained_ratio"))
  }

  /** PCA PROJECTION — the apply half of [[embeddingPca]] (the
    * train/apply pairing every other trained artifact already has):
    * score each vector on the first principal component,
    * pc1 = Σ_dim (x−μ)·v_dim in embedding units. This is the
    * whitening/reduction step SemDeDup-style pipelines run between
    * training the component and thresholding cosines — the component
    * is trained once, the projection is one map-shaped pass.
    *
    * Determinism: loadings arrive 6dp-rounded from the trainer; the
    * centered deviations are exact integer micros scaled back by 1e6;
    * the fold runs in dim order (orderedSum), so both engines build
    * the identical IEEE sum; rounded once at the end.
    *
    * Scale shape: training cost is [[embeddingPca]]'s (bounded
    * covariance + 64-row iterations); the projection itself is
    * MAP-ONLY — the mean and loading vectors fold to 1-row broadcast
    * ARRAYS and each row's score is a zip_with product folded in
    * array (= dim) order, so no explode, no join, no shuffle ever
    * touches the corpus (the covarianceCells broadcast-array
    * convention). */
  def pcaProject(emb: DataFrame, iters: Int = 8): DataFrame = {
    val x = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim").cast("long").as("dim"),
        round(col("xf").cast("double") * 1e6).cast("long").as("x6"))
    val muArr = x.groupBy(col("dim"))
      .agg(round(avg(col("x6"))).cast("long").as("mu6"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, mu6))), s -> s.mu6)")
        .as("mu6_arr"))
    val loadArr = embeddingPca(emb, iters)
      .agg(expr(
        "transform(array_sort(collect_list(struct(dim, loading))), s -> s.loading)")
        .as("load_arr"))
    emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(muArr))
      .crossJoin(broadcast(loadArr))
      .select(col("vec_id"), roundn(expr(
        "aggregate(zip_with(" +
          "transform(embedding, (xf, ii) -> " +
          "  cast(round(cast(xf as double) * 1e6) as bigint) - mu6_arr[ii]), " +
          "load_arr, (d, v) -> cast(d as double) / 1e6 * v), " +
          "0D, (acc, t) -> acc + t)"), 6).as("pc1"))
  }

  /** Greedy k-center (farthest-first traversal, Gonzalez '85) — the
    * DIVERSITY member of the data-selection family ([[graft.ops.TextOps.dsirSelect]]
    * picks by importance, [[graft.ops.TextOps.rhoSelect]] by
    * learnability, [[semanticDedupKeep]] drops redundancy; this picks
    * the k points that COVER the embedding space, 2-approximation to
    * the optimal k-center radius): seed at the smallest vec_id, then
    * k−1 rounds of "take the point farthest from everything selected
    * so far". Each selection's `far_dist` IS the coverage radius of
    * the set before it — the radius curve a coreset budget is chosen
    * from.
    *
    * Scale shape: the accumulator carries one (vec_id, embedding,
    * min-dist) row per point; each round is ONE map pass folding the
    * single new center (broadcast 1-row cross join) into the running
    * min plus one TakeOrdered(1) argmax — k bounded (≤8), so the
    * whole op is k map passes, with the accumulator re-materialized
    * per round (k corpus-width checkpoints beats the k²/2 lineage
    * recompute; the driver localizes exactly 1 row per round). Ties
    * break on vec_id; duplicates are safe — a selected point's
    * min-dist is 0 and selected ids are excluded from the argmax. */
  def kCenterSelect(embeddings: DataFrame, k: Int = 6): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e0 = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e"))
    def distTo(se: Column): Column =
      roundn(sqrt(roundn(fastL2Sq(col("e"), se), 6)), 6)
    // an empty corpus (or one with < k points) returns the selections
    // made so far instead of throwing on an empty argmax
    val seed = e0.agg(min(col("vec_id"))).head()
    if (seed.isNullAt(0))
      return Seq.empty[(Long, Long, Option[Double])]
        .toDF("sel_rank", "vec_id", "far_dist")
    val seedId = seed.getLong(0)
    var sel = Vector[(Long, Option[Double])]((seedId, None))
    var acc = e0
      .crossJoin(broadcast(e0.filter(col("vec_id") === seedId)
        .select(col("e").as("se"))))
      .select(col("vec_id"), col("e"), distTo(col("se")).as("mind"))
      .localCheckpoint(false)
    var exhausted = false
    for (_ <- 2 to k if !exhausted) {
      val top = acc.filter(!col("vec_id").isInCollection(sel.map(_._1)))
        .orderBy(col("mind").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("mind")).collect().headOption
      top match {
        case None => exhausted = true // fewer points than k: stop early
        case Some(t) =>
          sel :+= ((t.getLong(0), Some(t.getDouble(1))))
          acc = acc
            .crossJoin(broadcast(e0.filter(col("vec_id") === t.getLong(0))
              .select(col("e").as("se"))))
            .select(col("vec_id"), col("e"),
              least(col("mind"), distTo(col("se"))).as("mind"))
            .localCheckpoint(false)
      }
    }
    sel.zipWithIndex
      .map { case ((id, d), i) => (i + 1L, id, d) }
      .toDF("sel_rank", "vec_id", "far_dist")
  }

  /** Local Outlier Factor (Breunig et al., SIGMOD 2000) — the
    * DENSITY-relative outlier screen beside [[embeddingOutliers]]'s
    * centroid distance: a point on the edge of a tight cluster and a
    * point inside a diffuse one can share the same centroid score;
    * LOF compares each point's local reachability density to its
    * NEIGHBORS' and only flags points sparser than their own
    * neighborhood (LOF >> 1).
    *
    * Candidates come from the IVF cell co-residency join (the
    * [[similarityJoinIvf]] generator, directed) — never all pairs.
    * kNN keeps exactly the first k by (rounded distance, id) — the
    * deterministic tie policy in place of the classic
    * all-ties-at-k-distance set, stated not hidden. reach-dist =
    * max(d, k-distance(o)) on once-rounded distances; lrd's division
    * is floored at 1e-6 so exact-duplicate neighborhoods (sum of
    * reach distances 0) emit a large-but-finite density instead of a
    * divide-by-zero. Isolated points (no co-resident candidate) have
    * no local density question and drop out — at scale they surface
    * through the cell-occupancy tripwire instead.
    *
    * Scale shape: candidate generation is the cell equi-join; every
    * downstream stage (kNN rank, k-distance, reach, lrd, LOF) is a
    * candidate-keyed agg or a k-bounded window partitioned by the
    * uniform point id; top-N = TakeOrderedAndProject. */
  def lofOutliers(embeddings: DataFrame, cells: Codebook, k: Int = 5, nAssign: Int = 2,
                  topN: Int = 20): DataFrame = {
    // distances once per UNDIRECTED pair (L2 is symmetric), mirrored
    // after the kernel — halves the fold work on both engines
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e"))
    val distU = coResidents(embeddings, cells, nAssign, "p_id", "o_id", directed = false)
      .join(e.select(col("vec_id").as("p_id"), col("e").as("ep")), "p_id")
      .join(e.select(col("vec_id").as("o_id"), col("e").as("eo")), "o_id")
      .select(col("p_id"), col("o_id"),
        roundn(sqrt(roundn(fastL2Sq(col("ep"), col("eo")), 6)), 6).as("d"))
    val dist = distU.unionByName(distU.select(
      col("o_id").as("p_id"), col("p_id").as("o_id"), col("d")))
    val knn = Rank.top(dist, Seq(col("p_id")), Seq(col("d"), col("o_id")), lit(k))
      .select(col("p_id"), col("o_id"), col("d"))
      .localCheckpoint(false) // k rows per point, serves 3 legs
    val kd = knn.groupBy(col("p_id"))
      .agg(count(lit(1)).as("n"), max(col("d")).as("kdist"))
    val lrd = knn
      .join(kd.select(col("p_id").as("o_id"), col("kdist").as("kdist_o")), "o_id")
      .withColumn("reach", greatest(col("d"), col("kdist_o")))
      .groupBy(col("p_id"))
      .agg(graft.functions.VectorMath.orderedSum(col("o_id"), col("reach")).as("sr"))
      .join(kd, "p_id")
      .select(col("p_id"), col("n"), col("kdist"),
        roundn(col("n") / greatest(col("sr"), lit(1e-6)), 6).as("lrd"))
    knn
      .join(lrd.select(col("p_id").as("o_id"), col("lrd").as("lrd_o")), "o_id")
      .groupBy(col("p_id"))
      .agg(graft.functions.VectorMath.orderedSum(col("o_id"), col("lrd_o")).as("slrd"))
      .join(lrd, "p_id")
      .withColumn("lof", roundn(col("slrd") / col("n") / col("lrd"), 6))
      .orderBy(col("lof").desc, col("p_id")).limit(topN)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("lof").desc, col("p_id"))).cast("long"))
      .select(col("rank"), col("p_id").as("vec_id"), col("n").as("n_k"),
        col("kdist"), col("lrd"), col("lof"))
  }
}
