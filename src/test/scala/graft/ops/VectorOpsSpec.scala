package graft.ops

import java.io.File
import java.nio.file.Files
import graft.SparkSpec
import graft.functions.VectorMath
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** KNN invariants from SURVEY.md §5.2: result size = min(k, n),
  * distances non-decreasing in rank, self-distance 0 (app.py:179-185
  * semantics). */
class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Seq(
    (0L, Seq(1f, 0f, 0f), 0),
    (1L, Seq(0f, 1f, 0f), 0),
    (2L, Seq(1f, 1f, 0f), 1),
    (3L, Seq(-1f, 0f, 0f), 1)
  ).toDF("vec_id", "embedding", "label")

  /** Per-label mean cells (c_label = label). */
  private def labelCells(df: DataFrame): VectorOps.Codebook =
    VectorOps.meanPoolByLabel(df).as[(Int, Long, Double)].collect().toSeq
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (label, rows) => label.toLong -> rows.sortBy(_._2).map(_._3).toArray }

  /** One zero cell of `dims` dims: every vector is co-resident. */
  private def zeroCell(dims: Int): VectorOps.Codebook = Seq(0L -> new Array[Double](dims))

  private def query = emb.filter($"vec_id" === 0)
    .select(VectorMath.asDouble($"embedding").as("qe"))

  test("knnSearch: self at rank 1 with distance 0 and cosine 1") {
    val top = VectorOps.knnSearch(emb, query, 2).orderBy("rank").collect()
    assert(top.length === 2)
    assert(top(0).getAs[Long]("vec_id") === 0L)
    assert(top(0).getAs[Double]("l2_sq") === 0.0)
    assert(top(0).getAs[Double]("cos_sim") === 1.0)
  }

  test("knnSearch: k larger than corpus clamps to n (app.py:179 min(top_k, n))") {
    assert(VectorOps.knnSearch(emb, query, 100).count() === 4)
  }

  test("knnSearch: distances non-decreasing in rank") {
    val d = VectorOps.knnSearch(emb, query, 4).orderBy("rank")
      .select("l2_sq").as[Double].collect()
    assert(d.sliding(2).forall(p => p(0) <= p(1)))
  }

  test("meanPoolByLabel: centroid of label 0 is the per-dim average") {
    val c = VectorOps.meanPoolByLabel(emb)
      .filter($"label" === 0 && $"dim" === 0).head().getAs[Double]("centroid_val")
    assert(c === 0.5) // avg(1, 0)
  }

  test("similarityJoin emits each qualifying pair once with a < b") {
    val pairs = VectorOps.similarityJoin(emb, threshold = 0.5, limitIds = 10)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.contains((0L, 2L))) // cos = 1/sqrt(2) ≈ 0.707
    assert(!pairs.contains((0L, 3L))) // cos = -1
  }

  test("annTopK excludes the query itself and respects k per query") {
    val r = VectorOps.annTopK(emb, emb.filter($"vec_id" < 2), 2)
    val byQuery = r.groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(byQuery.values.forall(_ <= 2))
    assert(r.filter($"query_id" === $"vec_id").count() === 0)
  }

  test("annQuantizedTopK finds each query's near-twin; codes are integer-exact") {
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(0.95f, 0.05f, 0f, 0f), 0),
      (2L, Seq(0f, 1f, 0f, 0f), 0),
      (3L, Seq(0f, 0.9f, 0.1f, 0f), 0),
      (4L, Seq(0f, 0f, 1f, 0f), 1),
      (5L, Seq(0f, 0f, 0.9f, 0.1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val r = VectorOps.annQuantizedTopK(vecs, vecs.filter($"vec_id".isin(0L, 2L, 4L)), k = 1)
      .collect().map(x => x.getAs[Long]("query_id") -> x.getAs[Long]("vec_id")).toMap
    assert(r === Map(0L -> 1L, 2L -> 3L, 4L -> 5L))
    // identical vectors quantize identically → code distance 0
    val twin = VectorOps.annQuantizedTopK(
      vecs.union(Seq((6L, Seq(1f, 0f, 0f, 0f), 0)).toDF("vec_id", "embedding", "label")),
      vecs.filter($"vec_id" === 0), k = 1).head()
    assert(twin.getAs[Long]("vec_id") === 6L)
    assert(twin.getAs[Long]("qdist") === 0L)
    assert(twin.getAs[Double]("cos_sim") === 1.0)
  }

  test("ivfTopK returns ranked neighbors from probed cells only") {
    val r = VectorOps.ivfTopK(emb, emb.filter($"vec_id" === 0), labelCells(emb), nProbe = 1, k = 3)
      .orderBy("rank").collect()
    assert(r.nonEmpty)
    assert(r.map(_.getAs[Long]("rank")).toSeq === (1L to r.length).toSeq)
    val sims = r.map(_.getAs[Double]("cos_sim"))
    assert(sims.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("ivfIncrementalTopK: merged (base ∪ map-side batch) index ≡ full rebuild") {
    // 12 vectors over 3 rough directions; base = first 9, batch = last 3.
    // The identity under test: cell assignment is a pure per-vector
    // function of the (frozen) codebook, so assign(base) ∪ assign(batch)
    // must answer every query bit-identically to assign(base ∪ batch).
    val all = (0L until 12L).map { i =>
      val d = (i % 3).toInt
      val v = Array(0.05f * i, 0.05f * ((i * 7) % 5), 0.05f * ((i * 3) % 4))
      v(d) += 1f
      (i, v.toSeq, d)
    }.toDF("vec_id", "embedding", "label")
    val base = all.filter($"vec_id" < 9)
    val batch = all.filter($"vec_id" >= 9)
    val cent = VectorOps.kmeansCells(base, k = 3, iters = 2)
    val queries = all.filter($"vec_id".isin(0L, 4L, 11L))

    val baseAssigned = VectorOps.cellRanks(base, cent, "vec_id", 2).select($"vec_id", $"c_label")
    val merged = VectorOps.ivfIncrementalTopK(all, queries,
        baseAssigned = baseAssigned, cent = cent, batch = batch,
        nProbe = 2, k = 3, nAssign = 2)
      .orderBy("query_id", "rank").collect().toSeq
    val rebuild = VectorOps.ivfTopK(all, queries, cent, nProbe = 2, k = 3, nAssign = 2)
      .orderBy("query_id", "rank").collect().toSeq
    assert(merged === rebuild)
    assert(merged.nonEmpty)
  }

  test("codebookRefreshCensus: migration census conserves every vector exactly once") {
    val all = (0L until 20L).map { i =>
      val d = (i % 4).toInt
      val v = Array(0.05f * i, 0.03f * ((i * 7) % 5), 0.02f * ((i * 3) % 4), 0.04f * (i % 6))
      v(d) += 1f
      (i, v.toSeq, d)
    }.toDF("vec_id", "embedding", "label")
    val census = VectorOps.codebookRefreshCensus(all).collect()
    // every vector has exactly one (old, new) home → counts sum to N
    assert(census.map(_.getAs[Long]("n_vecs")).sum === 20L)
    assert(census.forall(_.getAs[Long]("n_vecs") > 0L))
  }

  test("ivfPqTopK: residual IVFADC retrieves each query's near-twin through the rerank") {
    // 18 vectors in 3 axis clusters, 8 dims (m=8 → dsub=1); the twin
    // of each query shares its cell, so residual codes route it into
    // the ADC candidate set and the exact rerank ranks it first
    val all = (0L until 18L).map { i =>
      val d = (i % 3).toInt
      val v = Array.fill(8)(0.01f * ((i * 5) % 7))
      v(d) += 1f
      (i, v.toSeq, d)
    }.toDF("vec_id", "embedding", "label")
    val cent = VectorOps.kmeansCells(all, k = 3, iters = 2)
    val queries = all.filter($"vec_id" < 3)
    val r = VectorOps.ivfPqTopK(all, queries, cent, nProbe = 2, k = 3, rerankFactor = 6)
      .orderBy("query_id", "rank").collect()
    assert(r.nonEmpty)
    // ranks are contiguous from 1 per query and cosines descend
    r.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("rank")).toSeq === (1L to rows.length).toSeq)
      val sims = rows.map(_.getAs[Double]("cos_sim"))
      assert(sims.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
    // query 0's nearest same-cluster vector wins rank 1 (axis clusters
    // are far apart, so the top hit must share query 0's label)
    val top0 = r.filter(x => x.getAs[Long]("query_id") === 0L &&
      x.getAs[Long]("rank") === 1L).head.getAs[Long]("vec_id")
    assert(top0 % 3 === 0L, s"rank-1 hit $top0 should share query 0's cluster")
  }

  test("ivfPqIndex: parquet-reloaded index answers ivfPqTopK bit-identically") {
    val all = (0L until 18L).map { i =>
      val d = (i % 3).toInt
      val v = Array.fill(8)(0.01f * ((i * 5) % 7))
      v(d) += 1f
      (i, v.toSeq, d)
    }.toDF("vec_id", "embedding", "label")
    val cent = VectorOps.kmeansCells(all, k = 3, iters = 2)
    val queries = all.filter($"vec_id" < 3)
    val fresh = VectorOps.ivfPqTopK(all, queries, cent, nProbe = 2, k = 3, rerankFactor = 6)
      .orderBy("query_id", "rank").collect().toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_pqidx").toString
    val (pqc, codes) = VectorOps.ivfPqIndex(all, cent)
    VectorOps.codebookFrame(spark, cent).write.mode("overwrite").parquet(s"$tmp/cent")
    pqc.write.mode("overwrite").parquet(s"$tmp/pq")
    codes.write.mode("overwrite").parquet(s"$tmp/codes")
    val reloaded = VectorOps.ivfPqTopKFromIndex(all, queries, nProbe = 2, k = 3,
        cent = VectorOps.collectCodebook(spark.read.parquet(s"$tmp/cent")),
        pqCodebook = spark.read.parquet(s"$tmp/pq"),
        codes = spark.read.parquet(s"$tmp/codes"),
        rerankFactor = 6)
      .orderBy("query_id", "rank").collect().toSeq
    assert(reloaded === fresh)
    assert(reloaded.nonEmpty)
  }

  test("semdedupCurve: tighter thresholds prune less; counts conserve") {
    // two near-identical pairs + spread vectors: theta=0.99 prunes the
    // twins only, theta=0.2 prunes everything cell-co-resident
    val all = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0), (1L, Array(1f, 0.01f, 0f, 0f), 0),
      (2L, Array(0f, 1f, 0f, 0f), 1), (3L, Array(0f, 1f, 0.01f, 0f), 1),
      (4L, Array(0.6f, 0.6f, 0f, 0f), 0), (5L, Array(0f, 0.6f, 0.6f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val cent = VectorOps.kmeansCells(all, k = 2, iters = 2)
    val r = VectorOps.semdedupCurve(all, cent, thresholds = Seq(0.2, 0.9)).collect()
      .map(x => x.getAs[Long]("threshold_micro") ->
        ((x.getAs[Long]("n_pairs"), x.getAs[Long]("n_pruned"),
          x.getAs[Long]("n_kept"), x.getAs[Long]("kept_micro")))).toMap
    assert(r.keySet === Set(200000L, 900000L))
    assert(r(200000L)._1 >= r(900000L)._1, "pairs monotone non-increasing in theta")
    assert(r(200000L)._2 >= r(900000L)._2, "pruning monotone non-increasing in theta")
    assert(r(900000L)._2 >= 2L, "both planted twins prune at 0.9")
    r.values.foreach { case (_, pruned, kept, _) => assert(pruned + kept === 6L) }
  }

  test("ivfPqDistortion: identical-vector cells quantize losslessly; census integer-exact") {
    // 3 clusters of IDENTICAL vectors: centroids land exactly on the
    // members, every residual is the zero vector, the codebook is
    // all-zero — distortion must be exactly 0 across the census
    val all = (0L until 18L).map { i =>
      val d = (i % 3).toInt
      val v = Array.fill(8)(0f); v(d) = 1f
      (i, v.toSeq, d)
    }.toDF("vec_id", "embedding", "label")
    val cent = VectorOps.kmeansCells(all, k = 3, iters = 2)
    val (pq, codes) = VectorOps.ivfPqIndex(all, cent)
    val r = VectorOps.ivfPqDistortion(all, cent, pq, codes).head()
    assert(r.getAs[Long]("n_vecs") === 18L)
    assert(r.getAs[Long]("mean_micro") === 0L)
    assert(r.getAs[Long]("p50_micro") === 0L)
    assert(r.getAs[Long]("p95_micro") === 0L)
    assert(r.getAs[Long]("max_micro") === 0L)
  }

  test("ivfPqRecallCurve: monotone in rerank budget; full probes + corpus budget = exact") {
    val all = (0L until 16L).map { i =>
      (i, Array((i % 7).toFloat - 3f, (i % 5).toFloat - 2f, (i % 3).toFloat - 1f,
        (i % 11).toFloat / 3f, (i % 2).toFloat, (i % 13).toFloat / 5f,
        ((i * 3) % 7).toFloat / 2f, ((i * 5) % 9).toFloat / 4f).toSeq, 0)
    }.toDF("vec_id", "embedding", "label")
    val cent = VectorOps.kmeansCells(all, k = 2, iters = 2)
    val r = VectorOps.ivfPqRecallCurve(all, cent, VectorOps.ivfPqIndex(all, cent), k = 2,
        factors = Seq(1, 10), nQueries = 3, nProbe = 2)
      .collect()
      .map(x => x.getAs[Long]("param") ->
        ((x.getAs[Long]("n_returned"), x.getAs[Long]("n_hits"),
          x.getAs[Long]("n_exact"), x.getAs[Double]("recall")))).toMap
    assert(r(1L)._4 <= r(10L)._4, "recall is monotone in the rerank budget")
    assert(r(10L)._4 === 1.0,
      "every cell probed + k*f >= corpus: ADC candidates cover everything, " +
        "the exact rerank equals the ground truth")
    assert(r(1L)._1 === 6L && r(10L)._1 === 6L, "k results per query at every budget")
  }

  test("indexMaintenancePlan: one row; price consistent with the census; boolean honors tau") {
    val all = (0L until 20L).map { i =>
      val d = (i % 4).toInt
      val v = Array(0.05f * i, 0.03f * ((i * 7) % 5), 0.02f * ((i * 3) % 4), 0.04f * (i % 6))
      v(d) += 1f
      (i, v.toSeq, d)
    }.toDF("vec_id", "embedding", "label")
    val r = VectorOps.indexMaintenancePlan(all).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("n_vecs") === 20L)
    assert(row.getAs[Long]("n_moved") <= 20L && row.getAs[Long]("n_moved") >= 0L)
    assert(math.abs(row.getAs[Double]("frac_moved") -
      row.getAs[Long]("n_moved").toDouble / 20) < 1e-6)
    assert(row.getAs[Boolean]("refresh") ===
      (row.getAs[Double]("centroid_l2") > 0.01))
    // an enormous tau can never trip
    assert(!VectorOps.indexMaintenancePlan(all, tau = 1e9)
      .head().getAs[Boolean]("refresh"))
  }

  test("ivfFilteredTopK: every result satisfies the predicate; equals filtered brute force") {
    // query 0 = (1,0,0): its true nearest is 2 (label 1) — a
    // post-filter of the unfiltered top-k would waste a slot on it;
    // the pre-filter must rank only label-0 vectors
    val q = emb.filter($"vec_id" === 0)
    // probe every cell so IVF is exhaustive → must equal brute force
    val r = VectorOps.ivfFilteredTopK(emb, $"label" === 0, q, labelCells(emb), nProbe = 10, k = 3)
      .orderBy("rank").collect()
    val labels = emb.collect().map(x => x.getLong(0) -> x.getInt(2)).toMap
    assert(r.nonEmpty && r.forall(x => labels(x.getAs[Long]("vec_id")) === 0))
    val brute = VectorOps.annTopK(emb.filter($"label" === 0), q, 3)
      .orderBy("rank").collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(r.map(_.getAs[Long]("vec_id")).toSeq === brute)
    // vec 1 (label 0) leads; vec 2 (label 1, nearer than 1) is absent
    assert(r.head.getAs[Long]("vec_id") === 1L)
  }

  test("semanticDedupKeep prunes the larger id of a near-dup pair, keeps the rest") {
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(1f, 0.01f, 0f, 0f), 0), // near-dup of 0 → pruned by 0
      (2L, Seq(0f, 1f, 0f, 0f), 0)     // orthogonal → kept
    ).toDF("vec_id", "embedding", "label")
    // one zero centroid: every vector lands in the same cell, so the
    // verdict isolates the prune rule from quantizer behavior
    val r = VectorOps.semanticDedupKeep(vecs, zeroCell(4), threshold = 0.3)
      .collect().map(x => x.getLong(0) ->
        (x.getAs[Boolean]("keep"), Option(x.get(1)).map(_.asInstanceOf[Long]))).toMap
    assert(r(0L) === ((true, None)))
    assert(r(1L) === ((false, Some(0L))))
    assert(r(2L) === ((true, None)))
  }

  test("hardNegatives: top-1 CROSS-label neighbor per anchor, same-label excluded") {
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(1f, 0.01f, 0f, 0f), 0),  // closest to 0 overall but SAME label
      (2L, Seq(1f, 0.1f, 0f, 0f), 1),   // closest cross-label to 0
      (3L, Seq(0f, 1f, 0f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    // one zero centroid: all vectors co-resident, so the verdict
    // isolates the mining rule from quantizer recall
    val r = VectorOps.hardNegatives(vecs, zeroCell(4))
      .collect().map(x => x.getAs[Long]("anchor_id") ->
        (x.getAs[Long]("neg_id"), x.getAs[Int]("neg_label"))).toMap
    assert(r.size === 4) // every anchor has some cross-label candidate
    assert(r(0L) === ((2L, 1)))  // hardest negative, not same-label near-dup 1
    assert(r(1L) === ((2L, 1)))
    // cos(2,1) ≈ 0.99599 beats cos(2,0) ≈ 0.99504; cos(3,1) ≈ 0.01 beats 0
    assert(r(2L) === ((1L, 0)))
    assert(r(3L) === ((1L, 0)))
  }

  test("hardNegatives agrees with the brute-force cross-label argmax") {
    val n = 12
    val vecs = (0 until n).map { i =>
      (i.toLong, Seq.tabulate(4)(d => ((i * 7 + d * 3) % 5 - 2).toFloat), i % 3)
    }.toDF("vec_id", "embedding", "label")
    val got = VectorOps.hardNegatives(vecs, zeroCell(4))
      .collect().map(x => x.getAs[Long]("anchor_id") -> x.getAs[Long]("neg_id")).toMap
    // brute force in memory with the same rounded-cosine + id tie-break
    val raw = (0 until n).map(i =>
      i.toLong -> Seq.tabulate(4)(d => ((i * 7 + d * 3) % 5 - 2).toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      val c = if (na * nb == 0) 0.0 else dot / (na * nb)
      BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    (0 until n).foreach { i =>
      val want = (0 until n).filter(j => j % 3 != i % 3)
        .map(j => (j.toLong, cos(raw(i.toLong), raw(j.toLong))))
        .sortBy { case (id, c) => (-c, id) }.head._1
      assert(got(i.toLong) === want, s"anchor $i")
    }
  }

  test("decontaminateSemantic: the planted benchmark copy is flagged; distant vectors are not") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bench = (0L until 50L).map(i => (i, vec(), i % 5))
    // corpus vec 60 IS bench vec 7 (a leaked benchmark row); the rest random
    val corpus = (50L until 100L).map {
      case 60L => (60L, bench(7)._2.clone(), 0L)
      case i   => (i, vec(), i % 5)
    }
    val emb = (bench ++ corpus).toDF("vec_id", "embedding", "label")
    val r = VectorOps.decontaminateSemantic(emb, VectorOps.sqrtCells(emb, iters = 2),
        nBench = 50, tau = 0.9)
      .collect().map(x => x.getAs[Long]("corpus_id") ->
        ((x.getAs[Long]("bench_id"), x.getAs[Double]("cos_sim"),
          x.getAs[Boolean]("contaminated")))).toMap
    assert(r(60L)._1 === 7L && r(60L)._2 === 1.0 && r(60L)._3,
      s"leaked row must flag against its source: ${r.get(60L)}")
    // random 64-dim vectors never clear tau = 0.9
    assert(r.filterKeys(_ != 60L).values.forall(!_._3))
  }

  test("embeddingOutliers: the label-swapped vector ranks first") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // two tight clusters around distinct centers; vec 99 carries
    // cluster-1 geometry but label 0 — the planted mislabel
    def around(c: Double) = Array.fill(64)((c + rnd.nextGaussian() * 0.05).toFloat)
    val rows = (0 until 30).map(i => (i.toLong, around(0.0), 0L)) ++
      (30 until 60).map(i => (i.toLong, around(5.0), 1L)) :+
      ((99L, around(5.0), 0L))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val r = VectorOps.embeddingOutliers(emb, k = 5).collect()
    assert(r.head.getAs[Long]("vec_id") === 99L)
    assert(r.head.getAs[Long]("rank") === 1L)
    // and by a wide margin over the in-cluster runner-up
    assert(r.head.getAs[Double]("score") > 10 * r(1).getAs[Double]("score"))
  }

  test("randomProject: JL distance concentration at 1/sqrt(outDim) scaling; signs deterministic") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vecs = (0 until 40).map(i => (i.toLong,
      Array.fill(64)(rnd.nextGaussian().toFloat), i.toLong % 5))
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val proj = VectorOps.randomProject(emb, outDim = 16).collect()
      .groupBy(_.getAs[Long]("vec_id"))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getAs[Long]("out_dim")).map(_.getAs[Double]("proj"))
      }
    val orig = vecs.map { case (id, e, _) => id -> e.map(_.toDouble) }.toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // E[||Pa−Pb||²] = outDim·||a−b||² for ±1 hyperplanes: the scaled
    // squared-distance ratio concentrates around 1 (χ²₁₆/16 shape)
    val ratios = for {
      i <- 0L until 40L; j <- (i + 1) until 40L
    } yield d2(proj(i), proj(j)) / (16.0 * d2(orig(i), orig(j)))
    val sorted = ratios.sorted
    val median = sorted(sorted.size / 2)
    assert(median > 0.7 && median < 1.35, s"median distortion ratio $median")
    val within = ratios.count(r => r > 0.25 && r < 2.5)
    assert(within >= ratios.size * 95 / 100,
      s"only $within/${ratios.size} pairs inside the loose JL envelope")
    // the sign matrix is pure hash parity — rebuild equals itself
    val s1 = VectorOps.srpSigns(64, 16)
    assert(s1.flatten.forall(v => v == 1.0 || v == -1.0))
    assert(s1.map(_.toSeq).toSeq === VectorOps.srpSigns(64, 16).map(_.toSeq).toSeq)
  }

  test("centroid localize budget: over-limit k·d fails loudly with the broadcast math") {
    VectorOps.requireCentroidBudget(5L, limit = 5L) // at the limit: fine
    val ex = intercept[IllegalArgumentException] {
      VectorOps.requireCentroidBudget(6L, limit = 5L)
    }
    assert(ex.getMessage.contains("6 (c_id, dim) cells > limit 5"))
    assert(ex.getMessage.contains("48 bytes")) // the size math, not just a count
    // the default ceiling is the documented 2^22
    assert(VectorOps.MaxCentroidCells === (1L << 22))
  }

  test("embeddingDrift: a planted per-dimension shift is measured exactly") {
    import spark.implicits._
    // first half constant 0.5 everywhere; second half +0.25 in dim 5
    val rows = (0 until 100).map { i =>
      val v = Array.fill(64)(0.5f)
      if (i >= 50) v(5) = 0.75f
      (i.toLong, v, 0L)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val r = VectorOps.embeddingDrift(emb).collect()(0)
    assert(r.getAs[Long]("n_a") === 50L && r.getAs[Long]("n_b") === 50L)
    assert(r.getAs[Double]("max_dim_shift") === 0.25)
    assert(math.abs(r.getAs[Double]("centroid_l2") - 0.25) < 1e-6)
  }

  test("embeddingPca: recovers a planted rank-1 direction with evr ~ 1") {
    import spark.implicits._
    // all variance lies along the direction (0.01, 0, 0, 0.1, 0, …):
    // dims 0 and 3 move together 1:10, every other dim is constant —
    // the top PC must weight dim 3 ten times dim 0 and explain ~all
    // variance
    val rows = (0 until 100).map { i =>
      val v = Array.fill(64)(0.5f)
      v(0) = (0.5 + i * 0.01).toFloat
      v(3) = (0.5 + i * 0.1).toFloat
      (i.toLong, v, 0L)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val r = VectorOps.embeddingPca(emb).collect()
      .map(x => x.getAs[Long]("dim") -> x).toMap
    val l0 = r(0L).getAs[Double]("loading")
    val l3 = r(3L).getAs[Double]("loading")
    assert(math.abs(math.abs(l3 / l0) - 10.0) < 0.01, s"loading ratio $l3/$l0")
    assert(math.abs(l3 * l3 + l0 * l0 - 1.0) < 1e-3, "unit iterate on the support")
    (0L to 63L).filterNot(d => d == 0L || d == 3L)
      .foreach(d => assert(math.abs(r(d).getAs[Double]("loading")) < 1e-6))
    assert(r(0L).getAs[Double]("explained_ratio") > 0.999)
  }

  test("pcaProject: scores recover the planted 1:10 direction, centered and signed") {
    import spark.implicits._
    // the embeddingPca fixture: dims 0 and 3 move together 1:10 over
    // i = 0..99 — pc1 must be linear in i, zero-mean, with step
    // |v| * sqrt(0.01^2 + 0.1^2) per i
    val rows = (0 until 100).map { i =>
      val v = Array.fill(64)(0.5f)
      v(0) = (0.5 + i * 0.01).toFloat
      v(3) = (0.5 + i * 0.1).toFloat
      (i.toLong, v, 0L)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val pc = VectorOps.pcaProject(emb).collect()
      .map(x => x.getAs[Long]("vec_id") -> x.getAs[Double]("pc1")).toMap
    val mean = pc.values.sum / pc.size
    assert(math.abs(mean) < 1e-4, s"centered scores, mean $mean")
    val step = math.sqrt(0.01 * 0.01 + 0.1 * 0.1)
    val diffs = (1 until 100).map(i => pc(i.toLong) - pc(i.toLong - 1))
    assert(diffs.forall(d => math.abs(math.abs(d) - step) < 2e-3),
      s"uniform per-i step ~ $step")
    assert(diffs.forall(d => d.sign == diffs.head.sign), "monotone along the direction")
  }

  test("kCenterSelect: farthest-first picks the far point first, then fills gaps; ties break on id") {
    import spark.implicits._
    // line x = 0,1,2,3,100: seed id0 (min id), then id4 (far 100),
    // then id3 (coverage radius 3), then the 1.0-tie -> id1, id2
    val emb = Seq(0.0, 1.0, 2.0, 3.0, 100.0).zipWithIndex
      .map { case (x, i) => (i.toLong, Array(x.toFloat, 0f), 0L) }
      .toDF("vec_id", "embedding", "label")
    val r = VectorOps.kCenterSelect(emb, k = 5).orderBy("sel_rank").collect()
      .map(x => (x.getAs[Long]("sel_rank"), x.getAs[Long]("vec_id"),
        Option(x.get(x.fieldIndex("far_dist")))))
    assert(r.toSeq === Seq(
      (1L, 0L, None), (2L, 4L, Some(100.0)), (3L, 3L, Some(3.0)),
      (4L, 1L, Some(1.0)), (5L, 2L, Some(1.0))))
  }

  test("lofOutliers: the density outlier scores >> 1, uniform-cluster members score 1") {
    import spark.implicits._
    // one shared cell so candidates are all pairs: line points
    // x = 0, 1, 2, 3 plus the far point x = 100; k = 2.
    // Hand-derived: every cluster lrd = 2/3, p4's lrd = 2/195;
    // every cluster LOF = 1.0, LOF(4) = 0.666667 / 0.010256 ~ 65.
    val emb = Seq(0.0, 1.0, 2.0, 3.0, 100.0).zipWithIndex
      .map { case (x, i) => (i.toLong, Array(x.toFloat, 0f), 0L) }
      .toDF("vec_id", "embedding", "label")
    val r = VectorOps.lofOutliers(emb, zeroCell(2), k = 2)
      .collect()
      .map(x => x.getAs[Long]("vec_id") ->
        ((x.getAs[Long]("rank"), x.getAs[Long]("n_k"),
          x.getAs[Double]("kdist"), x.getAs[Double]("lrd"),
          x.getAs[Double]("lof")))).toMap
    assert(r(4L)._1 === 1L, "the far point ranks first")
    assert(r(4L)._3 === 98.0 && r(4L)._4 === 0.010256)
    assert(r(4L)._5 > 60.0 && r(4L)._5 < 70.0)
    Seq(0L, 1L, 2L, 3L).foreach { p =>
      assert(r(p)._5 === 1.0, s"uniform-density member $p scores exactly 1")
      assert(r(p)._4 === 0.666667)
    }
  }

  test("matryoshkaRecall: the full-dim prefix recovers ground truth exactly; a misleading prefix misses") {
    // v2 is v0's true neighbor (full cosine ~0.995) but ties at
    // cos=1.0 on the first two dims with v1/v3, which the vec_id
    // tie-break then prefers; symmetric for v1 (true neighbor v3).
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(1f, 0f, 9f, 0f)),
      (2L, Array(1f, 0.1f, 0f, 0f)),
      (3L, Array(1f, 0f, 9f, 0.01f))
    ).toDF("vec_id", "embedding")
    val r = VectorOps.matryoshkaRecall(emb, k = 1, dims = Seq(2, 4), nQueries = 2)
      .collect()
      .map(x => x.getAs[Long]("param") ->
        ((x.getAs[String]("method"), x.getAs[Long]("n_returned"),
          x.getAs[Long]("n_hits"), x.getAs[Long]("n_exact"),
          x.getAs[Double]("recall")))).toMap
    assert(r(4L) === (("trunc", 2L, 2L, 2L, 1.0)),
      "the full-length prefix IS the exact scorer")
    assert(r(2L) === (("trunc", 2L, 0L, 2L, 0.0)),
      "the truncation hides the discriminating dims")
  }

  test("sq8RecallCurve: recall is monotone in the rerank budget and exact once the budget covers the corpus") {
    // deterministic spread-out vectors; int8 codes are lossy so the
    // f=1 sliver can miss, but a corpus-covering budget cannot
    val emb = (0 until 20).map { i =>
      (i.toLong, Array((i % 7).toFloat - 3f, (i % 5).toFloat - 2f,
        (i % 3).toFloat - 1f, (i % 11).toFloat / 3f), 0)
    }.toDF("vec_id", "embedding", "label")
    val r = VectorOps.sq8RecallCurve(emb, k = 2, factors = Seq(1, 10), nQueries = 3)
      .collect()
      .map(x => x.getAs[Long]("param") ->
        ((x.getAs[Long]("n_returned"), x.getAs[Long]("n_hits"),
          x.getAs[Long]("n_exact"), x.getAs[Double]("recall")))).toMap
    assert(r(10L)._3 === 6L)
    assert(r(10L)._4 === 1.0,
      "k*f >= corpus: every candidate gets the exact rerank, recall is 1 by construction")
    assert(r(1L)._4 <= r(10L)._4, "recall is monotone in the rerank budget")
    assert(r(1L)._1 === 6L && r(10L)._1 === 6L, "k results per query at every budget")
  }

  test("tripletMining: hardest positive and negative per anchor; lonely labels drop; margins can invert") {
    // all components exact in float32 so 6dp cosines are stable
    val emb = Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(1f, 0.5f), 0),
      (2L, Array(0f, 1f), 1),
      (3L, Array(0.5f, 1f), 1),
      (4L, Array(1f, 1f), 2) // alone in its label: no positive exists
    ).toDF("vec_id", "embedding", "label")
    val r = VectorOps.tripletMining(emb, labelCells(emb)).collect()
      .map(x => x.getAs[Long]("anchor_id") ->
        ((x.getAs[Int]("anchor_label"), x.getAs[Long]("pos_id"),
          x.getAs[Double]("cos_pos"), x.getAs[Long]("neg_id"),
          x.getAs[Double]("cos_neg"), x.getAs[Double]("margin")))).toMap
    assert(r.keySet === Set(0L, 1L, 2L, 3L), "the lonely label has no triplet")
    assert(r(0L) === ((0, 1L, 0.894427, 4L, 0.707107, 0.18732)))
    assert(r(2L) === ((1, 3L, 0.894427, 4L, 0.707107, 0.18732)))
    // the diagonal point is MORE similar than the in-label positive:
    // a negative margin is exactly what the miner must surface
    assert(r(1L) === ((0, 0L, 0.894427, 4L, 0.948683, -0.054256)))
    assert(r(3L) === ((1, 2L, 0.894427, 4L, 0.948683, -0.054256)))
  }

  test("embeddingAnisotropy: identical vectors read 1.0 raw, 0.0 centered") {
    // perfectly anisotropic corpus: every vector IS the mean
    // direction, so raw cosine is 1 and centering zeroes everything
    val vecs = Seq(
      (0L, Seq(1f, 0f), 0), (1L, Seq(1f, 0f), 0), (2L, Seq(1f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val r = VectorOps.embeddingAnisotropy(vecs).collect().head
    assert(r.getAs[Long]("n_pairs") === 3L)
    assert(r.getAs[Double]("mean_cos_raw") === 1.0)
    assert(r.getAs[Double]("mean_cos_centered") === 0.0,
      "centered copies are zero vectors; the cosine guard reads 0")
  }

  test("annHubness: occurrence mass conserved, antihub surfaces as the 0 row") {
    // three clustered vectors + one anti-aligned outlier: the outlier
    // is never anyone's top-2, so it must appear in the n_occ = 0 row
    val vecs = Seq(
      (0L, Seq(1f, 0f), 0), (1L, Seq(0.9f, 0.1f), 0),
      (2L, Seq(0.8f, 0.2f), 0), (3L, Seq(-1f, 0.01f), 1)
    ).toDF("vec_id", "embedding", "label")
    val r = VectorOps.annHubness(vecs, k = 2, nQueries = 4).collect()
      .map(x => x.getAs[Long]("n_occ") -> x.getAs[Long]("n_docs")).toMap
    assert(r.values.sum === 4L, "every vector lands in exactly one histogram row")
    // 4 queries x top-2 = 8 total occurrences
    assert(r.map { case (occ, n) => occ * n }.sum === 8L)
    assert(r.get(0L).contains(1L), "the anti-aligned vector is retrieved by nobody")
  }

  test("guard: one recall-receipt tagging and one SRP band-signature aggregate under graft/ops") {
    // a curve point tagged with its (method, param) belongs in
    // VectorOps.recallReceipt, and the SRP band_sig sum of sign bits
    // in VectorOps.bandSigs
    val root = new File("src/main/scala/graft/ops")
    assert(root.isDirectory, s"sources not found under ${root.getAbsolutePath}")
    val sources = root.listFiles().toSeq.filter(_.getName.endsWith(".scala"))
      .map(f => f.getName -> new String(Files.readAllBytes(f.toPath), "UTF-8"))
    def copies(pattern: String): Map[String, Int] = sources
      .map { case (name, text) => name -> pattern.r.findAllIn(text).size }
      .filter(_._2 > 0).toMap
    assert(copies("""withColumn\(\s*"param"|\.as\(\s*"param"\s*\)""") ===
      Map("VectorOps.scala" -> 1))
    assert(copies("""pow\(\s*lit\(2\.0\)\s*,\s*col\("out_dim"\)""") ===
      Map("VectorOps.scala" -> 1))
  }
}
