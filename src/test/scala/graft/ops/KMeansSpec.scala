package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.functions.VectorMath
import graft.functions.VectorMath._
import org.apache.spark.graftbridge.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

class KMeansSpec extends SparkSpec {
  import spark.implicits._

  // two tight clusters around (0,0) and (10,10); labels deliberately
  // WRONG (mixed) so refinement has to fix the seed centroids
  private def emb = Seq(
    (0L, Seq(0.0f, 0.1f), 0), (1L, Seq(0.1f, 0.0f), 1), (2L, Seq(-0.1f, 0.0f), 0),
    (3L, Seq(10.0f, 10.1f), 1), (4L, Seq(10.1f, 9.9f), 0), (5L, Seq(9.9f, 10.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  /** Label-mean seeds (c_id = label): with the mixed labels of [[emb]]
    * both seeds start between the two clusters. */
  private def labelSeeds(df: DataFrame): DataFrame = VectorOps.meanPoolByLabel(df)
    .select(col("label").cast("long").as("c_id"), col("dim"), col("centroid_val").as("cv"))

  /** A codebook as its (c_label, dim, cv) rows. */
  private def exploded(cells: VectorOps.Codebook): DataFrame =
    cells.flatMap { case (id, v) => v.indices.map(d => (id, d.toLong, v(d))) }
      .toDF("c_label", "dim", "cv")

  test("lloyd iterations converge to the true cluster means") {
    val cent = VectorOps.lloyd(emb, 3, labelSeeds(emb))
    // the two refined centroids must be near (0,0) and (10,10),
    // regardless of which c_id landed where
    val cs = cent.map(_._2.toSeq).sortBy(_.head)
    assert(math.abs(cs.head.head) < 1.0 && math.abs(cs.head(1)) < 1.0)
    assert(math.abs(cs(1).head - 10.0) < 1.0 && math.abs(cs(1)(1) - 10.0) < 1.0)
  }

  test("refined centroids plug into ivfTopK and improve assignment") {
    val refined = VectorOps.lloyd(emb, 3, labelSeeds(emb))
    val r = VectorOps.ivfTopK(emb, emb.filter($"vec_id" === 0), refined, nProbe = 1, k = 2)
      .orderBy("rank").collect()
    // with refined cells, probing ONE cell finds the true neighbors
    // (1 and 2), which the mixed label-seeded cells cannot guarantee
    assert(r.map(_.getAs[Long]("vec_id")).toSet === Set(1L, 2L))
  }

  test("kmeansCells: first-k deterministic seeds refine to cluster means, ivfTopK shape") {
    // seeds are vec_id 0 (cluster A) and vec_id... k=2 → ids 0,1 both
    // in cluster A; Lloyd must still separate: one centroid captures
    // cluster B once any seed is nearest to it — with both seeds in A,
    // iteration keeps both in A, so use k=4 (ids 0-3 span clusters)
    val cells = VectorOps.kmeansCells(emb, k = 4, iters = 2).toMap
    assert(cells.nonEmpty)
    // at least one cell centroid near each true cluster mean
    assert(cells.values.exists(c => math.abs(c.head) < 1.0 && math.abs(c(1)) < 1.0))
    assert(cells.values.exists(c => math.abs(c.head - 10.0) < 1.0 && math.abs(c(1) - 10.0) < 1.0))
    // output shape plugs straight into ivfTopK
    val r = VectorOps.ivfTopK(emb, emb.filter($"vec_id" === 5), VectorOps.kmeansCells(emb, 4, 2),
      nProbe = 1, k = 2).collect()
    assert(r.map(_.getAs[Long]("vec_id")).toSet === Set(3L, 4L))
  }

  test("sqrtCells derives k = ceil(sqrt(N)) from the data and is deterministic") {
    // N=6 → k=3: seeds vec_id 0..2 (all cluster A); Lloyd may keep
    // cells in A, but the OUTPUT CONTRACT is what matters — at most
    // k cells in ascending c_label, same result every call
    val c1 = VectorOps.sqrtCells(emb, iters = 2).map { case (id, v) => (id, v.toSeq) }
    val c2 = VectorOps.sqrtCells(emb, iters = 2).map { case (id, v) => (id, v.toSeq) }
    assert(c1 === c2)
    assert(c1.size <= 3) // ceil(sqrt(6)) = 3 cells max
    assert(c1.map(_._1) === c1.map(_._1).sorted)
    assert(c1.forall(_._2.length == 2)) // both dims present
  }

  test("kmeansClusterStats: counts cover the corpus, inertia is exact micros") {
    val stats = VectorOps.kmeansClusterStats(emb, iters = 2).collect()
    // every vector lands in exactly one cell
    assert(stats.map(_.getAs[Long]("n_vecs")).sum === emb.count())
    assert(stats.forall(_.getAs[Double]("inertia") >= 0.0))
    // inertia is a 6dp-quantized value (integer-micros sum underneath)
    assert(stats.forall { r =>
      val v = r.getAs[Double]("inertia") * 1e6
      math.abs(v - math.rint(v)) < 1e-3
    })
    // deterministic across invocations
    val again = VectorOps.kmeansClusterStats(emb, iters = 2).collect()
    assert(stats.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ===
      again.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  // ---- the exploded-dim DataFrame Lloyd the map-side rounds replaced,
  // ---- kept as the parity reference

  private def refLloyd(embeddings: DataFrame, iters: Int, seedCent: DataFrame): DataFrame = {
    val vecs = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e"))
    val dims = vecs
      .select(col("vec_id"), posexplode(col("e")).as(Seq("dim", "x")))
      .withColumn("dim", col("dim").cast("long"))
    def localizeDense(df: DataFrame): Seq[(Long, Seq[Double])] =
      df.select(col("c_id"), col("dim"), col("cv")).as[(Long, Long, Double)]
        .collect().toSeq.groupBy(_._1).toSeq
        .map { case (id, rows) => (id, rows.sortBy(_._2).map(_._3)) }
        .sortBy(_._1)
    var cent = localizeDense(seedCent)
    for (_ <- 1 to iters) {
      val dists = vecs
        .crossJoin(broadcast(cent.toDF("c_id", "cvec")))
        .withColumn("d", roundn(fastL2Sq(col("e"), col("cvec")), 6))
      val assigned = Rank.top(dists, Seq(col("vec_id")), Seq(col("d"), col("c_id")), lit(1))
        .select(col("vec_id"), col("c_id"))
      cent = localizeDense(
        dims.join(assigned, "vec_id")
          .groupBy(col("c_id"), col("dim"))
          .agg(roundn(avg(col("x")), 6).as("cv")))
    }
    cent.flatMap { case (id, arr) =>
      arr.zipWithIndex.map { case (v, d) => (id, d.toLong, v) }
    }.toDF("c_id", "dim", "cv")
  }

  private def refKmeansCells(emb: DataFrame, k: Int, iters: Int): DataFrame =
    refLloyd(emb, iters, emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"),
        posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
      .select(col("c_id"), col("dim").cast("long").as("dim"), roundn(col("x"), 6).as("cv")))
      .select(col("c_id").as("c_label"), col("dim"), col("cv"))

  private def refSqrtCells(emb: DataFrame, iters: Int): DataFrame =
    refKmeansCells(emb, math.ceil(math.sqrt(emb.count().toDouble)).toInt, iters)

  /** The (c_label, dim, cv) interchange form and the rank window that
    * [[VectorOps.cellRanks]] replaced, kept as the parity reference:
    * densify the exploded cells, score the N×k cross join, rank each
    * id's cells by (cdist, c_label), and cut at `n`. */
  private def refCellRanks(df: DataFrame, cent: DataFrame, idCol: String, n: Int): DataFrame = {
    val dense = cent.groupBy(col("c_label")).agg(
      transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
        s => s.getField("cv")).as("cvec"))
    df.select(col("vec_id").as(idCol), asDouble(col("embedding")).as("e"))
      .crossJoin(broadcast(dense))
      .withColumn("cdist", roundn(fastL2Sq(col("e"), col("cvec")), 6))
      .withColumn("cell_rank", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("cdist"), col("c_label"))))
      .filter(col("cell_rank") <= n)
      .select(col(idCol), col("c_label"), col("cdist"), col("cell_rank"))
  }

  private def refClusterStats(emb: DataFrame, iters: Int): DataFrame =
    refCellRanks(emb, refSqrtCells(emb, iters), "vec_id", 1)
      .groupBy(col("c_label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(round(col("cdist") * 1e6).cast("long")).as("inertia6"))
      .select(col("c_label"), col("n_vecs"),
        roundn(col("inertia6").cast("double") / 1e6, 6).as("inertia"))

  /** Vectors 0 and 1 are equal, so seed 1 ties seed 0 everywhere and
    * loses every member; vector 3 is equidistant from seeds 0 and 2,
    * and vector 4 is too after 6dp rounding. */
  private val tieVecs: Seq[Seq[Float]] = Seq(
    Seq(0f, 0f, 0f), Seq(0f, 0f, 0f), Seq(2f, 0f, 0f), Seq(1f, 0f, 0f), Seq(1.0000001f, 0f, 0f))

  /** [[tieVecs]], then a null (5) and an empty (6) embedding, both
    * seeds at k ≥ 7; 7–9 are ragged (2, 4 and 5 dims); then `extra`,
    * then 30 seeded random vectors of 3 or 4 dims. The rows sit in 3
    * partitions in a shuffled order. */
  private def fixtureEmb(extra: Seq[Seq[Float]]): DataFrame = {
    val rnd = new scala.util.Random(8080)
    val fixed = tieVecs ++ Seq(null, Seq.empty, Seq(5f, 5f), Seq(5f, 5f, 5f, 5f),
      Seq(4.9f, 5.1f, 5f, 5.2f, 1f)) ++ extra
    val random = Seq.fill(30)(Seq.fill(3 + rnd.nextInt(2))(rnd.nextInt(60) / 10f))
    val rows = (fixed ++ random).zipWithIndex.map { case (e, i) => (i.toLong, e, i % 3) }
    spark.sparkContext.parallelize(rnd.shuffle(rows), 3).toDF("vec_id", "embedding", "label")
  }

  private lazy val parityEmb: DataFrame = fixtureEmb(Nil)

  for (iters <- Seq(0, 1, 3)) {
    test(s"map-side Lloyd equals the exploded DataFrame Lloyd row for row (iters $iters)") {
      for (k <- Seq(3, 10))
        assertSameRows(exploded(VectorOps.kmeansCells(parityEmb, k, iters)),
          refKmeansCells(parityEmb, k, iters))
      assertSameRows(exploded(VectorOps.sqrtCells(parityEmb, iters)),
        refSqrtCells(parityEmb, iters))
      assertSameRows(
        exploded(VectorOps.lloyd(parityEmb, iters, labelSeeds(parityEmb)))
          .withColumnRenamed("c_label", "c_id"),
        refLloyd(parityEmb, iters, labelSeeds(parityEmb)))
      assertSameRows(VectorOps.kmeansClusterStats(parityEmb, iters),
        refClusterStats(parityEmb, iters))
    }
  }

  test("no seed among the vec_ids: no cells and no cluster rows, as before") {
    val shifted = emb.withColumn("vec_id", col("vec_id") + 100L)
    assert(VectorOps.kmeansCells(shifted, 3, 2).isEmpty)
    assertSameRows(VectorOps.kmeansClusterStats(shifted, 2), refClusterStats(shifted, 2))
    assert(VectorOps.kmeansClusterStats(shifted, 2).isEmpty)
  }

  /** A trained codebook plus hand-made cells: 1000 and 1002 are the same
    * point, and vectors 3 and 4 are at 1.0 from 1000, 1001 and 1002
    * after 6dp rounding; 1003 has 2 dims. */
  private lazy val rankCells: VectorOps.Codebook =
    VectorOps.kmeansCells(parityEmb, 10, 1) ++ Seq(
      1000L -> Array(0.0, 0.0, 0.0), 1001L -> Array(2.0, 0.0, 0.0),
      1002L -> Array(0.0, 0.0, 0.0), 1003L -> Array(5.0, 5.0))

  test("cellRanks equals the densify-and-window form row for row") {
    // the fixture plus a NaN-holding vector; the random vectors'
    // one-decimal components tie often after rounding
    val df = fixtureEmb(Seq(Seq(Float.NaN, 1f, 0f)))
    val k = rankCells.size
    for (n <- Seq(1, 2, k, k + 1))
      assertSameRows(VectorOps.cellRanks(df, rankCells, "vec_id", n),
        refCellRanks(df, exploded(rankCells), "vec_id", n))
  }

  test("cellRanks: equal rounded distances go to the lower c_label; no cells, no rows") {
    val cells = Seq(1000L -> Array(0.0, 0.0, 0.0), 1001L -> Array(2.0, 0.0, 0.0),
      1002L -> Array(0.0, 0.0, 0.0))
    val tieEmb = tieVecs.zipWithIndex.map { case (e, i) => (i.toLong, e) }.toDF("vec_id", "embedding")
    val r = VectorOps.cellRanks(tieEmb, cells, "id", 3)
    assert(r.schema("cell_rank").dataType === IntegerType)
    val ranked = r.collect().map(x => (x.getAs[Long]("id"), x.getAs[Int]("cell_rank")) ->
      (x.getAs[Long]("c_label"), x.getAs[Double]("cdist"))).toMap
    // vector 3 = (1, 0, 0) is at 1.0 from all three cells, vector 4 too after rounding
    for (v <- Seq(3L, 4L))
      assert((1 to 3).map(i => ranked((v, i))) === Seq(1000L -> 1.0, 1001L -> 1.0, 1002L -> 1.0))
    // vector 0 sits on 1000 and 1002: that tie ranks before the farther 1001
    assert((1 to 3).map(i => ranked((0L, i))._1) === Seq(1000L, 1002L, 1001L))
    assert(VectorOps.cellRanks(tieEmb, Seq.empty, "id", 2).isEmpty)
  }

  test("Lloyd rounds: ties go to the lower c_id and a seed without members drops out") {
    val tieEmb = tieVecs.zipWithIndex.map { case (e, i) => (i.toLong, e) }.toDF("vec_id", "embedding")
    val cells = VectorOps.kmeansCells(tieEmb, 3, 1)
      .flatMap { case (id, v) => v.indices.map(d => (id, d.toLong) -> v(d)) }.toMap
    assert(!cells.keySet.exists(_._1 == 1L), "seed 1 ties seed 0 and must lose every member")
    // vectors 3 and 4 tie seeds 0 and 2 and join cell 0: its dim-0 mean
    // is (0 + 0 + 1 + 1.0000001) / 4 over its members 0, 1, 3 and 4
    assert(cells((0L, 0L)) === round6((1.0 + 1.0000001f) / 4))
    assert(cells((2L, 0L)) === 2.0)
  }

  test("round6 equals Spark's round(x, 6) + 0.0 bit for bit") {
    val rnd = new scala.util.Random(6006)
    val random = Seq.fill(2000) {
      val x = rnd.nextDouble() * math.pow(10, rnd.nextInt(14) - 3)
      if (rnd.nextBoolean()) -x else x
    }
    val halfway = Seq(0.0000005, 1.0000005, 2.5e-7, 0.1234565, 123.4567895, 1e9 + 0.0000005,
      123456789.1234565, 4.0000025e9, 1e15 + 0.5, 9.9999995)
    val edge = Seq(0.0, -0.0, -0.0000004, -0.0000005, 1e-300, Double.MaxValue, Double.MinPositiveValue,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val xs = random ++ halfway ++ halfway.map(-_) ++ edge
    val sparkRounded = xs.toDF("x").select(col("x"), roundn(col("x"), 6).as("r")).collect()
    for (r <- sparkRounded) {
      val x = r.getDouble(0)
      assert(java.lang.Double.doubleToLongBits(round6(x)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)), s"round6($x)")
    }
  }

  test("nearestCells: rounded distances, ties to the lower id wherever it sits") {
    val e = Array(1.0, 0.0)
    // ids out of order: 9 and 4 are both at 1.0, 7 at 1.0 after rounding
    val ids = Array(9L, 7L, 4L, 2L)
    val cells = Array(Array(0.0, 0.0), Array(2.0000001, 0.0), Array(2.0, 0.0), Array(5.0))
    assert(VectorMath.nearestCells(e, ids, cells, 4).toSeq ===
      Seq((2, 1.0), (1, 1.0), (0, 1.0), (3, 16.0)))
    assert(VectorMath.nearestCells(e, ids, cells, 1).toSeq === Seq((2, 1.0)))
  }

  test("lloyd: the seed budget fails past its limit and passes at it") {
    val seed = (0L until 3L).flatMap(c => (0L until 4L).map(d => (c, d, c * 5.0)))
      .toDF("c_id", "dim", "cv") // 3 cells × 4 dims
    val ex = intercept[IllegalArgumentException](VectorOps.lloyd(emb, 1, seed, limit = 5))
    assert(ex.getMessage.contains("at least 6 (c_id, dim) cells > limit 5"))
    val cent = VectorOps.lloyd(emb, 1, seed, limit = 12)
    assert(cent.nonEmpty && cent.map(_._1).toSet.subsetOf(Set(0L, 1L, 2L)))
  }

  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bus.drain(sc)
    sc.addSparkListener(listener)
    try { body; Bus.drain(sc) } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("kmeansClusterStats construction: count, seed and one job per Lloyd round") {
    val dir = java.nio.file.Files.createTempDirectory("kmeans_jobs").toString
    emb.coalesce(1).write.mode("overwrite").parquet(dir)
    val onDisk = spark.read.parquet(dir)
    for (iters <- Seq(0, 1, 3)) {
      // the count is 2 jobs under AQE (its shuffle stage, then the result)
      assert(jobsDuring(VectorOps.kmeansClusterStats(onDisk, iters)) === 3 + iters)
    }
  }
}
