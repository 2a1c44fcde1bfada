package graft.ops

import graft.SparkSpec
import graft.functions.PortableHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again"
  private def docs = Seq(
    (0L, base),
    (1L, base), // exact duplicate
    (2L, base + " with a tiny edit"), // near duplicate
    (3L, "completely different words about spark query engines at scale ok")
  ).toDF("doc_id", "text")

  test("wordShingles: n-2 shingles for n tokens, in position order") {
    val sh = DedupOps.wordShingles(docs.filter($"doc_id" === 0)).orderBy("pos").collect()
    assert(sh.length === 10) // 12 tokens → 10 3-shingles
    assert(sh.head.getString(2) === "the quick brown")
  }

  test("ngramNovelty: the first copy owns its shingles; the exact dup scores zero") {
    val r = DedupOps.ngramNovelty(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_shingles"), x.getAs[Long]("n_novel"),
          x.getAs[Double]("novelty")))).toMap
    assert(r(0L)._3 === 1.0, "first occurrence owns every shingle")
    assert(r(1L)._3 === 0.0, "the exact duplicate owns nothing")
    // the near-dup owns only the shingles its edit introduced
    assert(r(2L)._3 > 0.0 && r(2L)._3 < 0.5, s"near dup: ${r(2L)}")
    assert(r(3L)._3 === 1.0, "unrelated text is fully novel")
    // distinct-shingle census consistent with wordShingles
    assert(r(0L)._1 === 10L && r(1L)._1 === 10L)
  }

  test("minhash candidates include exact and near duplicates, not unrelated docs") {
    val pairs = DedupOps.minhashCandidates(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    // the NEAR duplicate must also surface — a banding regression
    // that only finds exact copies loses the property this operator
    // exists for
    assert(pairs.contains((0L, 2L)), "near-duplicate pair missing from candidates")
    assert(!pairs.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("exact duplicates share all bands") {
    val r = DedupOps.minhashCandidates(docs)
      .filter($"a_id" === 0 && $"b_id" === 1).head()
    assert(r.getAs[Long]("n_shared_bands") === 4L) // 12 hashes / 3 per band
  }

  test("simhash banding: identical docs → hamming 0, found via equi-join candidates") {
    val pairs = DedupOps.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs((0L, 1L)) === 0L)
    assert(!pairs.contains((0L, 3L))) // unrelated doc beyond hamming 3
  }

  test("simhash banding matches the quadratic ground truth (pigeonhole exactness)") {
    import org.apache.spark.sql.functions.{bit_count, expr}
    val sh = DedupOps.simhash(docs)
    val a = sh.select($"doc_id".as("a_id"), $"simhash".as("sh_a"))
    val b = sh.select($"doc_id".as("b_id"), $"simhash".as("sh_b"))
    val ground = a.join(b, $"a_id" < $"b_id")
      .withColumn("hamming", bit_count(expr("sh_a ^ sh_b")).cast("long"))
      .filter($"hamming" <= 3)
      .select("a_id", "b_id", "hamming").collect().toSet
    val banded = DedupOps.simhashPairs(docs, maxHamming = 3).collect().toSet
    assert(banded.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      === ground.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
  }

  test("jaccardVerify over LSH candidates: dup pair = 1.0, near dup in (0,1), ordered a<b") {
    val j = DedupOps.jaccardVerify(docs, DedupOps.minhashCandidates(docs))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("jaccard"))).toMap
    assert(j((0L, 1L)) === 1.0)
    assert(j.contains((0L, 2L)) && j((0L, 2L)) > 0.5 && j((0L, 2L)) < 1.0,
      "near-dup pair must verify strictly between threshold and exact")
    assert(!j.contains((1L, 0L)))
  }

  test("containmentVerify: embedded subset scores 1.0 on its side, Jaccard-diluted on the other") {
    // doc 10 is wholly contained in doc 11, which is ~3x larger
    val sub = "alpha beta gamma delta epsilon zeta"
    val sup = sub + " one two three four five six seven eight nine ten"
    val d = Seq((10L, sub), (11L, sup)).toDF("doc_id", "text")
    val pairs = Seq((10L, 11L)).toDF("a_id", "b_id")
    val r = DedupOps.containmentVerify(d, pairs).collect()(0)
    // all 4 of sub's 3-shingles appear in sup
    assert(r.getAs[Long]("inter") === 4L)
    assert(r.getAs[Double]("containment_a") === 1.0)
    assert(r.getAs[Double]("containment_b") < 0.5) // 4 of 14 shingles
    // the same pair's Jaccard is below any useful near-dup threshold —
    // the asymmetry is the point of this operator
    val j = DedupOps.jaccardVerify(d, pairs).collect()(0).getAs[Double]("jaccard")
    assert(j < 0.5)
    // threshold keeps the pair via max(direction)
    assert(DedupOps.containmentVerify(d, pairs, minContainment = 0.9).count() === 1L)
  }

  test("triangleStats: wedge join counts each closure once; coefficient = 3T/W") {
    // 1-2-3 triangle plus pendant 4: degrees (2,2,3,1) → wedges 5
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a_id", "b_id")
    val r = DedupOps.triangleStats(e).collect()(0)
    assert(r.getAs[Long]("n_edges") === 4L)
    assert(r.getAs[Long]("n_wedges") === 5L)
    assert(r.getAs[Long]("n_triangles") === 1L)
    assert(r.getAs[Double]("clustering") === 0.6)
    // triangle-free graph: zero closures, zero coefficient
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val p = DedupOps.triangleStats(path).collect()(0)
    assert(p.getAs[Long]("n_triangles") === 0L)
    assert(p.getAs[Double]("clustering") === 0.0)
  }

  test("bandKeysJvm (streaming kernel) is bit-equal to the batch signature pipeline") {
    val fixture = Seq(
      (0L, base),
      (2L, base + " with a tiny edit"),
      (3L, "completely different words about spark query engines at scale ok"))
    val batchKeys = DedupOps.lshBuckets(DedupOps.minhashSignatures(fixture.toDF("doc_id", "text")))
      .select($"doc_id", concat_ws("#", $"band", $"band_sig").as("k"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    for ((id, text) <- fixture)
      assert(DedupOps.bandKeysJvm(text).toSet === batchKeys(id),
        s"doc $id: JVM band keys must equal the batch pipeline's")
    // below w tokens: no shingles → no signature → no buckets, as in batch
    assert(DedupOps.bandKeysJvm("one two").isEmpty)
  }

  test("degreeOrientedEdges: hub fan-out bound — a degree-10³ star pivots zero wedges") {
    // star with the hub in the MIDDLE of the id range: the id-ordered
    // pivot (middle node b in a<b<c) would enumerate 500·500 = 250k
    // wedge-join rows through it; degree orientation points every
    // edge AT the hub, so its out-degree — and the wedge fan-out — is 0
    val hub = 500L
    val e = ((0L until hub).map(i => (i, hub)) ++ (501L to 1000L).map(j => (hub, j)))
      .toDF("a_id", "b_id")
    val ori = DedupOps.degreeOrientedEdges(e)
    val outDeg = ori.groupBy($"src").agg(count(lit(1)).as("od"))
      .agg(max($"od")).head().getLong(0)
    assert(outDeg === 1L, s"leaf out-degree must be 1, hub 0; got max $outDeg")
    assert(ori.filter($"src" === hub).count() === 0L, "every edge must point AT the hub")
    val r = DedupOps.triangleStats(e).collect()(0)
    assert(r.getAs[Long]("n_edges") === 1000L)
    assert(r.getAs[Long]("n_wedges") === 1000L * 999L / 2)
    assert(r.getAs[Long]("n_triangles") === 0L)
    assert(r.getAs[Double]("clustering") === 0.0)
  }

  test("triangleStats: degree-oriented census matches brute force on a dense mixed graph") {
    // K4 on {1..4} (4 triangles) + a pendant chain + an isolated edge;
    // brute-force ground truth over all node triples
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (8L, 9L))
    val adj = edges.toSet
    def isEdge(a: Long, b: Long) = adj.contains((math.min(a, b), math.max(a, b)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val brute = nodes.combinations(3).count {
      case Seq(x, y, z) => isEdge(x, y) && isEdge(y, z) && isEdge(x, z)
    }
    val r = DedupOps.triangleStats(edges.toDF("a_id", "b_id")).collect()(0)
    assert(r.getAs[Long]("n_triangles") === brute.toLong)
    assert(brute === 4)
  }

  test("containment/jaccard invariants: J ≤ min(C_a, C_b); inter ≤ min(na, nb)") {
    val cand = DedupOps.minhashCandidates(docs).select("a_id", "b_id")
    val c = DedupOps.containmentVerify(docs, cand).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("inter"), r.getAs[Double]("containment_a"),
          r.getAs[Double]("containment_b"))).toMap
    val j = DedupOps.jaccardVerify(docs, cand).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(c.nonEmpty && c.keySet === j.keySet)
    for ((pair, (inter, ca, cb)) <- c) {
      assert(ca >= 0.0 && ca <= 1.0 && cb >= 0.0 && cb <= 1.0)
      // |A∩B|/|A∪B| ≤ |A∩B|/max(|A|,|B|) = min(C_a, C_b); 1e-9 for the 6dp rounding
      assert(j(pair) <= math.min(ca, cb) + 1e-9, s"$pair: J=${j(pair)} > min($ca,$cb)")
      assert(inter >= 1L)
    }
  }

  // multi-family corpus: three exact families (sizes 3, 2, 1) across
  // two near-dup groups plus an unrelated doc — exercises intra
  // pairs, cross-family expansion, and singleton families at once
  private def famDocs = {
    val t1 = base
    val t2 = base + " with a tiny edit"
    val t3 = "completely different words about spark query engines at scale ok"
    Seq((0L, t1), (1L, t1), (2L, t1), (3L, t2), (4L, t2), (5L, t3))
      .toDF("doc_id", "text")
  }

  test("family routing is output-identical to unrouted banding (minhash, simhash, verify)") {
    val routedCand = DedupOps.minhashCandidates(famDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rawCand = DedupOps.bandCandidates(famDocs, 12, 3, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(routedCand === rawCand, "minhashCandidates must equal full-corpus banding")

    val routedSim = DedupOps.simhashPairs(famDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rawSim = DedupOps.simhashPairsRaw(famDocs, 3, 48, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(routedSim === rawSim, "simhashPairs must equal full-corpus banding")

    val routedVer = DedupOps.nearDupVerified(famDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    val rawVer = DedupOps.jaccardVerify(famDocs,
        DedupOps.bandCandidates(famDocs, 12, 3, 3), 3, 0.5,
        passthrough = Seq("n_shared_bands"))
      .select($"a_id", $"b_id", $"n_shared_bands", $"inter", $"jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(routedVer === rawVer, "nearDupVerified must equal unrouted verify")

    val routedCc = DedupOps.dedupClusters(famDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rawCc = DedupOps.connectedComponents(
        DedupOps.jaccardVerify(famDocs,
          DedupOps.bandCandidates(famDocs, 12, 3, 3), 3, 0.5)
          .select($"a_id", $"b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(routedCc === rawCc, "star-form clusters must equal clique-form components")
  }

  test("mega-family: 10³ exact copies never enter banding; clusters stay linear stars") {
    val n = 1000
    val copies = (0L until n.toLong).map(i => (i, base))
    val near = Seq((5000L, base + " with a tiny edit"), (6000L, "unrelated words " * 8))
    val mega = (copies ++ near).toDF("doc_id", "text")
    // banding sees ONE representative for the 1000-copy family
    val members = DedupOps.exactFamilies(mega)
    assert(members.filter($"rep_id" === 0L).count() === n.toLong)
    val reps = DedupOps.repDocsOf(mega, members)
    assert(reps.count() === 3L)
    // candidate stage over reps: at most C(3,2) pairs — not ~500k
    val repCand = DedupOps.bandCandidates(reps, 12, 3, 3).count()
    assert(repCand <= 3L, s"rep-level candidates must be tiny, got $repCand")
    // clustering connects all copies + the near dup through stars:
    // one component rooted at doc 0, WITHOUT expanding C(1000,2) pairs
    val cc = DedupOps.dedupClusters(mega)
    assert(cc.filter($"component_id" === 0L).count() === n.toLong + 1)
    assert(cc.filter($"doc_id" === 6000L).count() === 0L, "unrelated doc joins no cluster")
  }

  test("clusterCandidatesCapped: over-cap buckets contribute linear stars, components survive") {
    // 40 distinct near-identical template variants (same 12-token base
    // + unique suffix) co-bucket heavily; cap 8 forces the star path
    val variants = (0L until 40L).map(i => (i, base + s" variant$i"))
      .toDF("doc_id", "text")
    val capped = DedupOps.clusterCandidatesCapped(variants, maxBucket = 8)
    val uncapped = DedupOps.bandCandidates(variants, 12, 3, 3)
    assert(capped.count() < uncapped.count(),
      "cap must shrink the candidate set on a co-bucketing family")
    // stars stay linear: every over-cap bucket of size s adds s-1 rows
    assert(capped.count() <= 40L * 4 + 8L * 8 * 4,
      "capped candidates must be bounded by stars + small-bucket pairs")
    // connectivity survives the cap: with uniform within-family
    // similarity every (bucketMin, member) star edge verifies, so the
    // capped components EQUAL the uncapped ones (capped edges are a
    // connectivity-preserving subset here; LSH may probabilistically
    // miss a few variants entirely, identically in both forms)
    val capCc = DedupOps.dedupClustersCapped(variants, maxBucket = 8, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullCc = DedupOps.dedupClusters(variants, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capCc === fullCc, "capped clustering must match uncapped on a uniform family")
    assert(capCc.size >= 35, s"family must largely cluster, got ${capCc.size}")
  }

  test("nearDupVerified composes LSH candidates with Jaccard verification, thresholded") {
    val r = DedupOps.nearDupVerified(docs, minJaccard = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("jaccard"))).toMap
    assert(r.contains((0L, 1L)) && r((0L, 1L)) === 1.0)
    assert(!r.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("embeddingNearDup: LSH-composed cosine verify finds the dup pair, no caps") {
    val pairs = DedupOps.embeddingNearDup(docs, threshold = 0.99)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("cos_sim"))).toMap
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) >= 0.999)
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("embeddingNearDupIndex df pruning drops ubiquitous dims from pairing") {
    // 'common' appears in every doc → its dim is pruned at maxDfFrac
    // 0.5; docs sharing ONLY that token never pair
    val d = Seq(
      (0L, "common alpha beta"), (1L, "common alpha beta"),
      (2L, "common gamma delta"), (3L, "common epsilon zeta")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.embeddingNearDupIndex(d, threshold = 0.01, maxDfFrac = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((2L, 3L))) // only 'common' shared → pruned
  }

  test("connectedComponents: transitive near-dup pairs collapse to min-id clusters") {
    // chain 1-2, 2-3 plus isolated pair 7-9: components {1,2,3} and {7,9}
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a_id", "b_id")
    val comp = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("dedupThresholdCurve: tighter thresholds keep more docs, admit fewer pairs") {
    val r = DedupOps.dedupThresholdCurve(docs).collect()
      .map(x => x.getAs[Long]("threshold_micro") ->
        ((x.getAs[Long]("n_pairs"), x.getAs[Long]("n_pruned"),
          x.getAs[Long]("n_kept"), x.getAs[Long]("kept_micro")))).toMap
    assert(r.keySet === Set(500000L, 700000L, 900000L))
    // the exact dup (J=1.0) and near dup (J>0.5) both pass at 0.5
    assert(r(500000L)._1 >= r(700000L)._1 && r(700000L)._1 >= r(900000L)._1)
    assert(r(500000L)._4 <= r(700000L)._4 && r(700000L)._4 <= r(900000L)._4)
    assert(r(900000L)._2 >= 1L, "the exact duplicate is pruned at every threshold")
    r.values.foreach { case (_, pruned, kept, _) => assert(pruned + kept === 4L) }
    // the decision flag: exactly one chosen row — the smallest theta
    // whose kept fraction meets the target, else the largest theta
    val rows = DedupOps.dedupThresholdCurve(docs).collect()
    val chosen = rows.filter(_.getAs[Boolean]("chosen"))
    assert(chosen.length === 1, "exactly one threshold is chosen")
    val qualifying = rows.filter(_.getAs[Long]("kept_micro") >= 800000L)
    val expected =
      if (qualifying.nonEmpty) qualifying.map(_.getAs[Long]("threshold_micro")).min
      else rows.map(_.getAs[Long]("threshold_micro")).max
    assert(chosen.head.getAs[Long]("threshold_micro") === expected)
  }

  test("substringWindowCurve: coverage monotone non-increasing in window width") {
    // A and B share a 12-token run; C shares only a 6-token run with
    // them — w=12 covers A/B only, w=6 additionally pulls in C
    val run12 = "a b c d e f g h i j k l"
    val d = Seq(
      (0L, s"$run12 m n", "en", "a", 1L),
      (1L, s"x $run12 y", "en", "b", 1L),
      (2L, "p q a b c d e f r s t u", "en", "c", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = DedupOps.substringWindowCurve(d).collect()
      .map(x => x.getAs[Long]("w") ->
        ((x.getAs[Long]("n_docs_touched"), x.getAs[Long]("dup_tokens"),
          x.getAs[Long]("n_tokens"), x.getAs[Double]("dup_fraction")))).toMap
    assert(r.keySet === Set(6L, 8L, 12L))
    // every leg sees the same corpus totals
    assert(r.values.map(_._3).toSet === Set(40L))
    // monotone: narrower windows catch at least as much
    assert(r(6L)._2 >= r(8L)._2 && r(8L)._2 >= r(12L)._2)
    assert(r(6L)._1 >= r(12L)._1)
    // w=12 covers exactly the shared 12-run in A and B (24 tokens),
    // and only those two docs
    assert(r(12L) === ((2L, 24L, 40L, 0.6)))
    // w=6 additionally reaches C's 6-token overlap
    assert(r(6L)._1 === 3L)
    assert(r.values.forall { case (_, dt, nt, fr) =>
      math.abs(fr - dt.toDouble / nt) < 1e-6 })
  }

  test("kCoreNumbers: planted clique vs chain separate into core tiers; tail peels to 1") {
    // K4 {0,1,2,3} with a pendant tail 0-4, plus a disjoint 5-node
    // chain 10-…-14: the clique is the 3-core, everything else 1-core
    def clique(ids: Seq[Long]) =
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    val pairs = (clique(Seq(0L, 1L, 2L, 3L)) ++
      Seq((0L, 4L), (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L)))
      .toDF("a_id", "b_id")
    val r = DedupOps.kCoreNumbers(pairs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("degree"), x.getAs[Long]("core")))).toMap
    assert(r(0L) === ((4L, 3L)), "clique corner with tail: degree 4, core 3")
    assert(Seq(1L, 2L, 3L).forall(r(_) === ((3L, 3L))), "clique members are 3-core")
    assert(r(4L) === ((1L, 1L)), "the pendant tail peels to the 1-core")
    assert(r(10L) === ((1L, 1L)) && r(14L) === ((1L, 1L)))
    assert(Seq(11L, 12L, 13L).forall(r(_)._2 === 1L),
      "chain interiors have degree 2 but still peel to core 1")
    // coreness never exceeds degree anywhere
    assert(r.values.forall { case (d, c) => c <= d })
  }

  test("labelPropagation: bridged cliques keep distinct communities where components fuse") {
    // two 4-cliques joined by the single bridge 4-10: one connected
    // component, but LPA's majority rule resists the lone bridge vote
    def clique(ids: Seq[Long]) =
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    val pairs = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) :+
      ((4L, 10L))).toDF("a_id", "b_id")
    val comm = DedupOps.labelPropagation(pairs, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comm(_) === 1L), s"clique A: $comm")
    assert(Seq(10L, 11L, 12L, 13L).forall(comm(_) === 10L), s"clique B: $comm")
    val comp = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(1)).distinct
    assert(comp.length === 1, "the same graph is ONE component")
  }

  test("dedupClusters groups the exact+near duplicates under the smallest doc_id") {
    val comp = DedupOps.dedupClusters(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.get(0L).contains(0L) && comp.get(1L).contains(0L)) // dup pair clusters under 0
    assert(!comp.contains(3L)) // unrelated doc is in no cluster
  }

  test("lshMaintenancePlan: undrifted index reads zero drift; re-banding priced") {
    val oldB = DedupOps.lshBuckets(DedupOps.minhashSignatures(docs))
    val x = DedupOps.lshMaintenancePlan(oldB, docs).collect().head
    assert(x.getAs[Long]("occ_l1_micro") === 0L, "same corpus, same banding")
    assert(!x.getAs[Boolean]("refresh"))
    assert(x.getAs[Long]("n_docs_indexed") === x.getAs[Long]("n_docs_corpus"))
    // 12 hashes: 4 bands at r=3, 6 bands at r=2 — one bucket row per (doc, band)
    assert(x.getAs[Long]("bucket_rows_cur") === x.getAs[Long]("n_docs_corpus") * 4)
    assert(x.getAs[Long]("bucket_rows_new") === x.getAs[Long]("n_docs_corpus") * 6)
    assert(x.getAs[Long]("cand_pairs_cur") >= 1L, "the exact dup pair co-buckets")
    // an index built on a subset skews the occupancy histogram
    val sub = DedupOps.lshBuckets(DedupOps.minhashSignatures(docs.filter($"doc_id" <= 1)))
    val d = DedupOps.lshMaintenancePlan(sub, docs).collect().head
    assert(d.getAs[Long]("occ_l1_micro") > 0L, "subset index occupancy drifts")
  }

  test("dedupClustersIncremental: merged labels equal the full recompute exactly") {
    // base corpus: two clusters + an unrelated doc; the batch (a) adds
    // a near-dup that JOINS cluster {0,1,2}, (b) adds a new pair that
    // BRIDGES nothing old (new-new cluster), and (c) leaves one old
    // cluster untouched — exercising merge, fresh, and passthrough
    val oldDocs = Seq(
      (0L, base),
      (1L, base),
      (2L, base + " with a tiny edit"),
      (3L, "completely different words about spark query engines at scale ok"),
      (4L, "an untouched duplicate family lives here calmly every single day"),
      (5L, "an untouched duplicate family lives here calmly every single day")
    ).toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, base), // exact copy — joins {0,1,2} with certainty
      (11L, "brand new template text arriving twice in the same batch today"),
      (12L, "brand new template text arriving twice in the same batch today")
    ).toDF("doc_id", "text")
    val allDocs = oldDocs.unionByName(newDocs)
    val full = DedupOps.dedupClusters(allDocs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val baseLabels = DedupOps.dedupClusters(oldDocs)
    val baseBuckets = DedupOps.lshBuckets(DedupOps.minhashSignatures(oldDocs))
    val merged = DedupOps.dedupClustersIncremental(baseLabels, baseBuckets, oldDocs, newDocs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === full, "incremental maintenance must equal the rebuild")
    // and the fixture exercised all three paths
    assert(full.get(10L).contains(0L), "batch doc joined the old cluster")
    assert(full.get(12L).contains(11L), "new-new pair formed its own cluster")
    assert(full.get(5L).contains(4L) && merged.get(5L).contains(4L),
      "untouched component passed through")
  }

  test("decontaminate flags corpus docs overlapping the benchmark set") {
    val corpus = Seq(
      (100L, base), // contaminated: identical to benchmark doc
      (101L, "completely unrelated corpus text with different vocabulary entirely here")
    ).toDF("doc_id", "text")
    val benchmark = Seq((0L, base)).toDF("doc_id", "text")
    val flagged = DedupOps.decontaminate(corpus, benchmark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.contains(100L) && flagged(100L) > 0L)
    assert(!flagged.contains(101L))
  }

  test("decontaminateBloom returns the clean complement of decontaminate, exactly") {
    val corpus = Seq(
      (100L, base), // contaminated: identical to benchmark doc
      (101L, "completely unrelated corpus text with different vocabulary entirely here"),
      (102L, "another clean document talking about distributed query planning today")
    ).toDF("doc_id", "text")
    val benchmark = Seq((0L, base)).toDF("doc_id", "text")
    val clean = DedupOps.decontaminateBloom(corpus, benchmark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // contaminated doc excluded; both clean docs present with their
    // full fingerprint counts — Bloom false positives must NOT drop
    // clean docs (the exact verify join reinstates them)
    assert(!clean.contains(100L))
    assert(clean.contains(101L) && clean(101L) > 0L)
    assert(clean.contains(102L) && clean(102L) > 0L)
    // exact complement of decontaminate over the same corpus
    val flagged = DedupOps.decontaminate(corpus, benchmark)
      .collect().map(_.getLong(0)).toSet
    assert(clean.keySet.intersect(flagged).isEmpty)
    assert((clean.keySet ++ flagged) === Set(100L, 101L, 102L))
  }

  test("editDistanceVerify scores candidate pairs by normalized Levenshtein") {
    val d = Seq((0L, "kitten"), (1L, "sitting"), (2L, "kitten"))
      .toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("a_id", "b_id")
    val out = DedupOps.editDistanceVerify(d, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(out((0L, 1L)).getAs[Long]("edit_dist") === 3L) // classic kitten→sitting
    assert(out((0L, 2L)).getAs[Long]("edit_dist") === 0L)
    assert(out((0L, 2L)).getAs[Double]("edit_sim") === 1.0)
    assert(math.abs(out((0L, 1L)).getAs[Double]("edit_sim") - (1.0 - 3.0 / 7)) < 1e-6)
    assert(out((0L, 1L)).getAs[Boolean]("within_band") && out((0L, 2L)).getAs[Boolean]("within_band"))
  }

  test("editDistanceVerify band: beyond-cap pairs report the cap+1 sentinel, in-band stay exact") {
    val base = (0 until 200).map(i => ('a' + i % 23).toChar).mkString // 200 chars
    val near = base.updated(7, 'Z').updated(90, 'Q') // distance 2
    val far = (0 until 200).map(i => ('A' + (i * 7) % 26).toChar).mkString // distance >> 64
    val d = Seq((0L, base), (1L, near), (2L, far)).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("a_id", "b_id")
    val out = DedupOps.editDistanceVerify(d, pairs, cap = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(out((0L, 1L)).getAs[Long]("edit_dist") === 2L)
    assert(out((0L, 1L)).getAs[Boolean]("within_band"))
    assert(out((0L, 2L)).getAs[Long]("edit_dist") === 65L) // sentinel = cap+1
    assert(!out((0L, 2L)).getAs[Boolean]("within_band"))
    // sentinel edit_sim is the documented clamp: 1 - (cap+1)/maxlen
    assert(math.abs(out((0L, 2L)).getAs[Double]("edit_sim") - (1.0 - 65.0 / 200)) < 1e-6)
  }

  test("prefix filter: no false negatives at the threshold; verified = exact ≥ t set") {
    // ground truth: exact Jaccard over ALL pairs (quadratic — test-size only)
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val allPairs = (for (a <- ids; b <- ids if a < b) yield (a, b))
      .toSeq.toDF("a_id", "b_id")
    val truth = DedupOps.jaccardVerify(docs, allPairs, minJaccard = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty) // fixture sanity: 0-1 exact, 0-2 near
    val cand = DedupOps.prefixFilterCandidates(docs, t = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // the pigeonhole guarantee: every true pair is a candidate
    assert(truth.subsetOf(cand))
    // the composed op returns EXACTLY the true set (verify prunes FPs)
    val got = DedupOps.prefixFilterNearDup(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got === truth)
    // and the unrelated doc never pairs
    assert(!got.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("pageRank: star center out-ranks leaves; symmetric nodes tie; deterministic") {
    import spark.implicits._
    // star: 0 linked to 1..4 (the "template" shape), plus isolated pair 5-6
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (5L, 6L))
      .toDF("a_id", "b_id")
    val pr = DedupOps.pageRank(pairs, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("pagerank")).toMap
    assert(pr.size === 7)
    // the hub accumulates its leaves' full mass each round
    assert((1L to 4L).forall(l => pr(0L) > pr(l)))
    // leaves are structurally identical → identical ranks
    assert((2L to 4L).forall(l => pr(l) === pr(1L)))
    // a degree-1↔degree-1 pair holds the stationary value 1.0 exactly
    assert(pr(5L) === 1.0 && pr(6L) === 1.0)
    val pr2 = DedupOps.pageRank(pairs, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("pagerank")).toMap
    assert(pr2 === pr)
  }

  test("pageRank: path graph matches the hand-unrolled power method") {
    import spark.implicits._
    val pairs = Seq((10L, 11L), (11L, 12L)).toDF("a_id", "b_id")
    val pr = DedupOps.pageRank(pairs, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("pagerank")).toMap
    // pr1: ends 0.575, middle 1.85; pr2: ends .15+.85*(1.85/2)=0.93625,
    // middle .15+.85*(0.575+0.575)=1.1275
    assert(math.abs(pr(10L) - 0.93625) < 1e-6)
    assert(math.abs(pr(11L) - 1.1275) < 1e-6)
    assert(math.abs(pr(12L) - 0.93625) < 1e-6)
  }

  test("winnowing fingerprints: identical docs share all fingerprints; edits share some") {
    val fp = DedupOps.winnowFingerprints(docs)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(fp(0L) === fp(1L))
    val overlap = fp(0L).intersect(fp(2L)).size.toDouble / fp(0L).size
    assert(overlap > 0.5) // small edit keeps most local minima
    assert(fp(0L).intersect(fp(3L)).isEmpty)
  }

  test("substringDupCoverage: interval union counts shared tokens once; unique docs zero") {
    import spark.implicits._
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val d = Seq(
      (0L, shared + " kilo lima"),                    // 12 tokens, span at pos 0..9
      (1L, "mike november " + shared),                // 12 tokens, span at pos 2..11
      (2L, "oscar papa quebec romeo sierra tango uniform victor")) // unique, 8 tokens
      .toDF("doc_id", "text")
    val r = DedupOps.substringDupCoverage(d, w = 8).collect()
      .map(x => x.getLong(0) -> x).toMap
    // doc 0: positions 0,1,2 duplicated (windows of the 10 shared
    // tokens) → union = 8 + 1 + 1 = 10 tokens, 3 windows
    assert(r(0L).getAs[Long]("n_tokens") === 12)
    assert(r(0L).getAs[Long]("dup_windows") === 3)
    assert(r(0L).getAs[Long]("dup_tokens") === 10)
    assert(r(1L).getAs[Long]("dup_tokens") === 10)
    assert(r(2L).getAs[Long]("dup_windows") === 0)
    assert(r(2L).getAs[Double]("dup_fraction") === 0.0)
  }

  test("substringExcise: covered spans cut, survivors in order, kept = tokens - census coverage") {
    import spark.implicits._
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val d = Seq(
      (0L, shared + " kilo lima"),
      (1L, "mike november " + shared),
      (2L, "oscar papa quebec romeo sierra tango uniform victor"), // unique
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x9"),                          // exact pair:
      (4L, "x1 x2 x3 x4 x5 x6 x7 x8 x9"))                          // fully excised
      .toDF("doc_id", "text")
    val r = DedupOps.substringExcise(d, w = 8).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_tokens"), x.getAs[Long]("n_kept"),
          x.getAs[String]("cleaned_text")))).toMap
    assert(r(0L) === ((12L, 2L, "kilo lima")), "shared span cut, tail kept in order")
    assert(r(1L) === ((12L, 2L, "mike november")), "head survives, span cut")
    assert(r(2L) === ((8L, 8L, "oscar papa quebec romeo sierra tango uniform victor")),
      "unique doc untouched")
    assert(r(3L) === ((9L, 0L, "")), "exact duplicate fully excised")
    assert(r(4L) === ((9L, 0L, "")))
    // the excision and the census agree token for token
    val cov = DedupOps.substringDupCoverage(d, w = 8).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("dup_tokens")).toMap
    for ((id, (nt, nk, _)) <- r) assert(nt - nk === cov(id), s"doc $id invariant")
  }

  test("incrementalCandidates = full-corpus banding restricted to pairs touching the batch") {
    // near-dups SPANNING the split (old 0..2 / new 3..5): family t1
    // has members on both sides, t2 entirely new, plus an old-only
    // exact pair that must NOT be re-emitted
    val t1 = base
    val t2 = base + " with a tiny edit"
    val d = Seq((0L, t1), (1L, t1), (2L, "unrelated old words about engines ok"),
      (3L, t1), (4L, t2), (5L, t2)).toDF("doc_id", "text")
    val split = 3L
    val inc = DedupOps.incrementalCandidates(
      d.filter($"doc_id" < split), d.filter($"doc_id" >= split)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = DedupOps.bandCandidates(d, 12, 3, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc === full.filter { case (a, b, _) => a >= split || b >= split })
    // sanity on the semantics: cross-split near-dup found, old-old not
    assert(inc.exists { case (a, b, _) => (a, b) == ((0L, 3L)) })
    assert(!inc.exists { case (a, b, _) => a < split && b < split })
    // batch-internal near-dup found too
    assert(inc.exists { case (a, b, _) => (a, b) == ((4L, 5L)) })
  }

  test("lshRecallCurve: identical pairs at rate 1.0, top bucket above bottom, pairs conserved") {
    // family A: three identical docs (jaccard 1.0 pairs → bucket 9);
    // family B: doc 10 vs 11 share a 4-word prefix of a 12-word text
    // (low jaccard → bottom buckets); 20 is unrelated (no shared
    // shingle → not a pair at all)
    val tA = base
    val tB = "one two three four penguin walrus otter ferret badger stoat marten weasel"
    val tB2 = "one two three four alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq((0L, tA), (1L, tA), (2L, tA), (10L, tB), (11L, tB2),
      (20L, "completely disjoint vocabulary about engines and planners ok"))
      .toDF("doc_id", "text")
    val r = DedupOps.lshRecallCurve(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    // identical pairs: (0,1),(0,2),(1,2) — all share every band
    assert(r(9L) === ((3L, 3L, 1.0)))
    // the B pair shares 2 of ~10+10-2 shingles → jaccard ≈ 0.1, a
    // bottom bucket; the curve's bottom must sit below its top
    val bottom = r.keys.min
    assert(bottom < 9L && r(bottom)._3 < 1.0)
    // pair conservation: every probe-touching co-shingled pair is in
    // exactly one bucket (3 identical + 1 cross-B pair)
    assert(r.values.map(_._1).sum === 4L)
  }

  test("incrementalCandidatesFromIndex: a parquet-reloaded bucket index answers identically") {
    val t1 = base
    val d = Seq((0L, t1), (1L, t1 + " with a tiny edit"),
      (2L, "unrelated old words about engines ok"), (3L, t1), (4L, t1))
      .toDF("doc_id", "text")
    val oldDocs = d.filter($"doc_id" < 3)
    val newDocs = d.filter($"doc_id" >= 3)
    val fresh = DedupOps.incrementalCandidates(oldDocs, newDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft_lshidx_spec").toString
    try {
      DedupOps.lshBuckets(DedupOps.minhashSignatures(oldDocs))
        .write.mode("overwrite").parquet(tmp)
      val loaded = DedupOps.incrementalCandidatesFromIndex(
        spark.read.parquet(tmp), newDocs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(loaded === fresh, "reloaded index must be bit-identical to fresh build")
      assert(fresh.exists { case (a, b, _) => (a, b) == ((0L, 3L)) })
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }
  test("adamicAdar: path predicts the closure, triangle predicts nothing, star scores 1/ln(deg)") {
    // path 1-2-3: (1,3) predicted through mid 2 (deg 2) → 1/ln2
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val rp = DedupOps.adamicAdar(path).collect()
    assert(rp.length === 1)
    assert(rp.head.getAs[Long]("a_id") === 1L && rp.head.getAs[Long]("b_id") === 3L)
    assert(rp.head.getAs[Long]("n_common") === 1L)
    assert(rp.head.getAs[Double]("aa_score") === 1.442695)
    // triangle: every distance-2 pair is already an edge
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a_id", "b_id")
    assert(DedupOps.adamicAdar(tri).count() === 0L)
    // star around hub 1 (deg 3): all leaf pairs predicted at 1/ln3
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a_id", "b_id")
    val rs = DedupOps.adamicAdar(star).collect()
      .map(x => (x.getAs[Long]("a_id"), x.getAs[Long]("b_id")) ->
        x.getAs[Double]("aa_score")).toMap
    assert(rs.keySet === Set((2L, 3L), (2L, 4L), (3L, 4L)))
    assert(rs.values.toSet === Set(0.910239))
  }

  test("linkPrediction: co-purchase closure surfaces the unseen pair") {
    // parts 10,20 co-occur in orders 1,2; parts 20,30 in orders 3,4;
    // (10,30) never seen → the predicted link through mid 20
    val li = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 20L), (3L, 30L), (4L, 20L), (4L, 30L))
      .toDF("l_orderkey", "l_partkey")
    val r = DedupOps.linkPrediction(li).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("a_id") === 10L && r.head.getAs[Long]("b_id") === 30L)
    assert(r.head.getAs[Double]("aa_score") === 1.442695)
  }

  test("goldenRecord: longest-text canonical, censuses over the merged family") {
    val gdocs = Seq(
      (0L, base, "en", "web", 60L),
      (1L, base, "en", "crawl", 60L), // exact dup
      (2L, base + " with a tiny edit", "de", "web", 77L), // near dup, longest
      (3L, "completely different words about spark query engines at scale ok",
        "en", "web", 64L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = DedupOps.goldenRecord(gdocs).collect()
    assert(r.length === 1, "the unrelated doc joins no cluster")
    val g = r.head
    assert(g.getAs[Long]("cluster_id") === 0L)
    assert(g.getAs[Long]("n_members") === 3L)
    assert(g.getAs[Long]("canonical_doc") === 2L, "longest text survives")
    assert(g.getAs[Long]("canonical_chars") === 77L)
    assert(g.getAs[String]("canonical_source") === "web")
    assert(g.getAs[Long]("n_langs") === 2L)
    assert(g.getAs[Long]("n_sources") === 2L)
    assert(g.getAs[Long]("total_chars") === 197L)
    assert(g.getAs[Long]("first_doc") === 0L)
  }
  test("dedupTierAgreement: the mid-similarity pair splits the tiers") {
    // docs fixture: exact dup (0,1) passes BOTH tiers (jaccard 1,
    // cosine 1); the tiny-edit pairs (0,2),(1,2) pass Jaccard 0.82
    // but sit at cosine 16/(4*sqrt(20)) = 0.894 < 0.9 — minhash-only
    val r = DedupOps.dedupTierAgreement(docs).collect().head
    assert(r.getAs[Long]("n_minhash") === 3L)
    assert(r.getAs[Long]("n_embedding") === 1L)
    assert(r.getAs[Long]("n_both") === 1L)
    assert(r.getAs[Long]("n_either") === 3L)
    assert(r.getAs[Long]("agreement_micro") === 333333L)
  }

  test("softDedupSample: singletons always keep; cluster rows price size^(-1/2)") {
    // docs fixture: {0,1,2} form one near-dup cluster, 3 is a singleton
    val rows = DedupOps.softDedupSample(docs).collect()
      .map(x => x.getAs[Long]("size") ->
        ((x.getAs[Long]("n_clusters"), x.getAs[Long]("n_docs"),
          x.getAs[Long]("n_kept"), x.getAs[Double]("p_keep")))).toMap
    assert(rows.keySet === Set(1L, 3L))
    val (c1, d1, k1, p1) = rows(1L)
    assert((c1, d1, p1) === ((1L, 1L, 1.0)))
    assert(k1 === 1L, "p = 1: a singleton can never be dropped")
    val (c3, d3, k3, p3) = rows(3L)
    assert((c3, d3) === ((1L, 3L)))
    assert(p3 === 0.57735, "round(1e6/sqrt(3)) micros")
    assert(k3 >= 0L && k3 <= 3L)
    // census invariant: per row, docs = clusters * size
    assert(d1 === c1 * 1L && d3 === c3 * 3L)
  }

  test("dedupClusterDensity: a fully-verified triangle reads density 1.0") {
    // {0,1,2}: exact pair (0,1) + both near pairs verified -> 3 of
    // C(3,2)=3 pairs direct; the unrelated doc forms no component
    val r = DedupOps.dedupClusterDensity(docs).collect()
    assert(r.length === 1)
    val x = r.head
    assert(x.getAs[Long]("size") === 3L)
    assert(x.getAs[Long]("n_clusters") === 1L)
    assert(x.getAs[Long]("n_possible_pairs") === 3L)
    assert(x.getAs[Long]("n_direct_pairs") === 3L)
    assert(x.getAs[Long]("density_micro") === 1000000L)
  }

  test("dedupClusterPurity: mixed-lang cluster flagged, majority share exact") {
    val d = Seq(
      (0L, base, "en"), (1L, base, "en"),
      (2L, base + " with a tiny edit", "es"),
      (3L, "completely different words about spark query engines at scale ok", "en")
    ).toDF("doc_id", "text", "lang")
    val r = DedupOps.dedupClusterPurity(d).collect()
    assert(r.length === 1, "one cluster {0,1,2}; the singleton emits no row")
    val x = r.head
    assert(x.getAs[Long]("component_id") === 0L)
    assert(x.getAs[Long]("size") === 3L)
    assert(x.getAs[Long]("n_langs") === 2L)
    assert(x.getAs[Long]("maj_share_micro") === 666666L, "2 of 3 en, exact div")
    assert(!x.getAs[Boolean]("pure"))
  }

  test("minhashBBit: four widths, equal pair counts, exact dups cost zero error") {
    val r = DedupOps.minhashBBit(docs).collect()
      .map(x => x.getAs[Long]("b_bits") ->
        ((x.getAs[Long]("n_pairs"), x.getAs[Long]("mae_micro"),
          x.getAs[Long]("storage_bits")))).toMap
    assert(r.keySet === Set(24L, 4L, 2L, 1L))
    assert(r.values.map(_._1).toSeq.distinct.length === 1,
      "every width scores the same verified-pair set")
    r.foreach { case (b, (_, _, bits)) => assert(bits === b * 12L) }
    // an exact-dup-only corpus: all 12 minhashes collide at every
    // width, the estimator returns exactly 1.0, error is zero
    val exact = Seq((0L, base), (1L, base),
      (3L, "completely different words about spark query engines at scale ok"))
      .toDF("doc_id", "text")
    val e = DedupOps.minhashBBit(exact).collect()
    assert(e.length === 4)
    e.foreach { x =>
      assert(x.getAs[Long]("n_pairs") === 1L)
      assert(x.getAs[Long]("mae_micro") === 0L,
        s"b=${x.getAs[Long]("b_bits")}: identical signatures estimate J=1 exactly")
    }
  }

  /** winnowFingerprints as written before per-row hashing, kept as the
    * parity reference: each distinct shingle hashed once and joined
    * back onto the shingle stream. */
  private def winnowJoinBack(docs: DataFrame, w: Int, window: Int): DataFrame = {
    val sh = DedupOps.wordShingles(docs, w)
    val vocab = sh.select(col("shingle")).distinct()
      .withColumn("h", PortableHash.hash24(col("shingle")))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, window - 1)
    sh.join(vocab, "shingle")
      .withColumn("fp", min(col("h")).over(frame))
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  test("winnowFingerprints equals the join-back formulation row for row") {
    val d = ParityDocs(spark)
    for ((w, window) <- Seq((3, 4), (2, 1), (5, 3)))
      assertSameRows(DedupOps.winnowFingerprints(d, w, window), winnowJoinBack(d, w, window))
    val ids = DedupOps.winnowFingerprints(d).select("doc_id").as[Long].collect().toSet
    assert(Seq(2L, 3L, 5L, 6L, 7L).forall(i => !ids.contains(i)),
      "docs shorter than w tokens have no fingerprint")
  }
}
