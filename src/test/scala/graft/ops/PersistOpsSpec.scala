package graft.ops

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

class PersistOpsSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join with NO shuffle exchange on either side") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
        .select($"l_orderkey".as("k"), $"l_quantity")
      val or = Tables.orders(spark, "/root/testdata/sf0.001")
        .select($"o_orderkey".as("k"), $"o_totalprice")
      PersistOps.writeBucketed(li, "li_bucketed", "k", 8)
      PersistOps.writeBucketed(or, "or_bucketed", "k", 8)
      // count Exchange nodes in the FINALIZED executed plan. The
      // execution must run THROUGH the df's OWN QueryExecution —
      // df.count() builds a separate QueryExecution and finalizes
      // that one, leaving df.queryExecution un-executed (its
      // executedPlan would print isFinalPlan=false and miss any
      // runtime replanning) — so collect() on the df itself.
      def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("isFinalPlan=false"), "AQE plan not finalized")
        "Exchange".r.findAllIn(plan).length
      }
      val joined = spark.table("li_bucketed").join(spark.table("or_bucketed"), "k")
      val plain = li.join(or, "k")
      assert(exchanges(plain) >= 2) // unbucketed SMJ: one per side
      assert(exchanges(joined) === 0) // bucket co-location: none
      assert(joined.count() === plain.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("interleaveBits: exact Morton values") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L)).toDF("a", "b")
    val z = df.select(PersistOps.interleaveBits($"a", $"b").as("z"))
      .as[Long].collect().toSeq
    // (3,5): a=011 interleaves to odd bits 0b101010 & a-bits — compute:
    // bit i of a → 2^(2i+1), bit i of b → 2^(2i):
    // a=3: bits 0,1 → 2+8=10; b=5: bits 0,2 → 1+16=17 → z=27
    assert(z === Seq(0L, 2L, 1L, 27L))
  }

  test("z-order layout bounds BOTH dimensions per partition; 1-d sort does not") {
    // 64×64 grid — every (x, y) combination, so the two dims are
    // perfectly independent and a 1-d sort cannot bound the other dim
    val n = 64
    val grid = (0 until n * n).map(i => (i.toLong, (i % n).toLong, (i / n).toLong))
      .toDF("id", "x", "y")
    def spans(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = df
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg((max($"x") - min($"x")).as("sx"), (max($"y") - min($"y")).as("sy"))
      .select($"sx", $"sy").as[(Long, Long)].collect().toSeq
    val parts = 16
    val zSpans = spans(PersistOps.zOrderValue(grid, "x", "y")
      .repartitionByRange(parts, $"zval").sortWithinPartitions($"zval"))
    val xSpans = spans(grid.repartitionByRange(parts, $"x").sortWithinPartitions($"x"))
    // 1-d layout: x is tight but y spans the whole range in every partition
    assert(xSpans.forall(_._2 === (n - 1).toLong))
    // z layout: every partition's bounding box is bounded on BOTH axes
    // (16 partitions of a 64×64 z-curve ≈ 16×16 quadrants; allow slack
    // for range-partitioner boundary estimation). The claim is NOT
    // smaller area — a 1-d sort's thin strips have less area — it is
    // a bounded WORST dimension: a predicate on either axis prunes,
    // where the 1-d layout prunes on x only and never on y.
    assert(zSpans.forall { case (sx, sy) => sx <= n / 2 && sy <= n / 2 })
    val zWorst = zSpans.map { case (sx, sy) => math.max(sx, sy) }.max
    val xWorst = xSpans.map { case (sx, sy) => math.max(sx, sy) }.max
    assert(zWorst * 2 <= xWorst)
  }

  test("partitioned write enables planning-time partition pruning") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val path = Files.createTempDirectory("persist_part").toString
    PersistOps.writePartitioned(docs, path, "lang", "doc_id")

    val pruned = spark.read.parquet(path).filter($"lang" === "es")
    // content round-trips
    assert(pruned.count() === docs.filter($"lang" === "es").count())
    // the scan itself is pruned, not post-filtered: PartitionFilters
    // carries the predicate and the other partitions never appear
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("isnotnull(lang"))
    // partition directories exist per lang value
    val dirs = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("lang="))
    assert(dirs.length >= 2 && dirs.contains("lang=es"))
  }

  test("fileSkipping: clustered layout skips, natural layout doesn't, pruning stays exact") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val r = PersistOps.fileSkipping(li).collect()
      .map(x => x.getAs[String]("layout") -> x).toMap
    // the invariant min/max pruning rests on, on BOTH layouts
    assert(r.values.forall(_.getAs[Boolean]("prune_exact")))
    // same table, same predicate — row totals agree
    assert(r("natural").getAs[Long]("rows_total") ===
      r("time_clustered").getAs[Long]("rows_total"))
    // uncorrelated layout prunes ~nothing; clustered layout prunes the
    // pre-cutoff majority — the quantified clustering lesson
    assert(r("natural").getAs[Double]("row_skip_frac") < 0.05)
    assert(r("time_clustered").getAs[Double]("row_skip_frac") > 0.4)
  }

  test("schemaMergeReceipt: union schema, v1 rows null-filled, no row lost") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val tmp = java.nio.file.Files.createTempDirectory("schmerge").toString
    val r = PersistOps.schemaMergeReceipt(docs, tmp).collect()
      .map(x => x.getAs[String]("col_name") -> x).toMap
    val total = docs.count()
    val v1Rows = docs.filter($"doc_id" % 2 === 0).count()
    assert(r("lang").getAs[Long]("n_rows") === total) // no row lost
    // exactly the v1-writer rows surface the evolved columns as null
    assert(r("lang").getAs[Long]("n_null") === v1Rows)
    assert(r("n_chars").getAs[Long]("n_null") === v1Rows)
    assert(r("source").getAs[Long]("n_null") === 0L) // shared column intact
  }

  test("compactionPlan: contiguous spans, all bytes accounted, oversized file isolated") {
    // files: 10,20,30,100(oversized),5,5 with target 50
    val docs = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 100L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "n_chars")
    val r = PersistOps.compactionPlan(docs, targetBytes = 50L)
      .collect().sortBy(_.getAs[Long]("grp"))
    assert(r.map(_.getAs[Long]("bytes")).sum === 170L) // nothing dropped
    // spans are contiguous and ordered
    r.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"))
    }
    // prior sums 0,10,30,60,160,165 → groups 0,0,0,1,3,3: the
    // oversized file owns group 1 alone
    val byGrp = r.map(x => x.getAs[Long]("grp") ->
      ((x.getAs[Long]("n_files"), x.getAs[Long]("bytes")))).toMap
    assert(byGrp(0L) === ((3L, 60L)))
    assert(byGrp(1L) === ((1L, 100L)))
    assert(byGrp(3L) === ((2L, 10L)))
  }
  test("vacuumPlan: hand-checked lineage, kept flags, last-reference cohorts") {
    import spark.implicits._
    // docs 0..5, bytes 10*(id+1); add = id%3, del = min(add+1+id%4, 5)
    val docs = (0L to 5L).map(i => (i, "t", "en", "web", 10L * (i + 1)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = PersistOps.vacuumPlan(docs).collect()
      .map(x => x.getAs[Long]("snapshot") ->
        ((x.getAs[Boolean]("kept"), x.getAs[Long]("n_live"),
          x.getAs[Long]("live_bytes"), x.getAs[Long]("n_last_ref"),
          x.getAs[Long]("last_ref_bytes"))))
      .toMap
    assert(r(0L) === ((false, 2L, 50L, 1L, 10L)))
    assert(r(1L) === ((false, 3L, 110L, 1L, 50L)))
    assert(r(2L) === ((false, 4L, 150L, 1L, 20L)))
    assert(r(3L) === ((true, 3L, 130L, 2L, 100L)))
    assert(r(4L) === ((true, 1L, 30L, 1L, 30L)))
    // retention invariant: expiring 0..2 frees exactly the cohorts
    // whose last reference precedes the cut
    assert(Seq(0L, 1L, 2L).map(k => r(k)._4).sum === 3L)
  }

  test("dppReceipt: the fact scan carries a dynamic-pruning partition filter; values reconcile") {
    val tmp = Files.createTempDirectory("graft_dpp").toString
    // global max 10 → threshold 8: 'a' (peak 10) and 'b' (peak 9)
    // qualify, 'c' (peak 3) is pruned at the partition level
    // the fixture must come FROM A FILE SOURCE like the real call: an
    // in-memory Seq lets Catalyst fold the dim filter into the
    // LocalTableScan and no Filter node survives for DPP to key on
    ((1 to 4).map(i => (i.toLong, "a", 1.0)) ++
      Seq((5L, "a", 10.0), (6L, "b", 2.0), (7L, "b", 2.0), (8L, "b", 9.0),
        (9L, "c", 3.0)))
      .toDF("event_id", "event_type", "value")
      .select(col("event_id"), col("value"), col("event_type"))
      .write.mode("overwrite").parquet(s"$tmp/src")
    val events = spark.read.parquet(s"$tmp/src")
    val df = PersistOps.dppReceipt(events, tmp)
    val plan = df.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("dynamicpruning"),
      s"the partition filter must be a DPP subquery, got:\n$plan")
    val r = df.collect().map(x => x.getAs[String]("event_type") ->
      ((x.getAs[Long]("n_rows"), x.getAs[Long]("sum_micro"),
        x.getAs[Long]("n_partitions_on_disk")))).toMap
    assert(r === Map("a" -> ((5L, 14000000L, 3L)), "b" -> ((3L, 13000000L, 3L))))
  }

  test("dppReceipt: a truly EMPTY events table yields the empty receipt, no schema-inference crash") {
    val tmp = Files.createTempDirectory("graft_dpp_empty").toString
    Seq.empty[(Long, String, Double)]
      .toDF("event_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$tmp/src")
    val events = spark.read.parquet(s"$tmp/src")
    // the guard must fire BEFORE the partitionBy write/read pair: an
    // empty write emits no files and the read-back would die with
    // UNABLE_TO_INFER_SCHEMA
    val df = PersistOps.dppReceipt(events, tmp)
    assert(df.columns.toSeq ===
      Seq("event_type", "n_rows", "sum_micro", "n_partitions_on_disk"))
    assert(df.count() === 0)
  }

  test("dppReceipt: rows present but all values NULL yields the empty receipt") {
    val tmp = Files.createTempDirectory("graft_dpp_null").toString
    Seq((1L, "a"), (2L, "b")).toDF("event_id", "event_type")
      .select(col("event_id"), lit(null).cast("double").as("value"), col("event_type"))
      .write.mode("overwrite").parquet(s"$tmp/src")
    val df = PersistOps.dppReceipt(spark.read.parquet(s"$tmp/src"), tmp)
    assert(df.count() === 0)
  }

  test("bucketJoinReceipt: values equal the plain join; no exchange below the SMJ") {
    import spark.implicits._
    val lineitem = Seq(
      (1L, 10.0), (1L, 20.0), (2L, 5.0), (3L, 7.0))
      .toDF("l_orderkey", "l_extendedprice")
    val orders = Seq((1L, "F"), (2L, "O"), (3L, "F"), (4L, "F"))
      .toDF("o_orderkey", "o_orderstatus")
    val df = PersistOps.bucketJoinReceipt(lineitem, orders, nBuckets = 4)
    val r = df.collect()
      .map(x => x.getAs[String]("o_orderstatus") ->
        ((x.getAs[Long]("n_items"), x.getAs[Long]("revenue_cp")))).toMap
    assert(r === Map("F" -> ((3L, 3700L)), "O" -> ((1L, 500L))))
    // after collect() the adaptive plan prints final + initial — pin
    // the FINAL section only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("SortMergeJoin"), "merge hints hold")
    assert(!plan.contains("BroadcastExchange"), "no broadcast sneaks in")
    assert(plan.contains("Bucketed: true"), "scans consume the buckets")
    // the ONLY exchange is the final 2-key status agg — the join
    // consumes the bucketed scans directly
    assert("Exchange".r.findAllIn(plan).size === 1, plan)
    // the read-side half of the layout story: a point filter on the
    // bucket column prunes to ONE bucket of 4 — at 100 TB a key
    // lookup reads 1/nBuckets of the files, no index needed.
    // DisableUnnecessaryBucketedScan turns the bucketed read off for
    // a filter-only plan (no distribution consumer), hiding the
    // pruning — pin it with autoBucketedScan off, as a lookup job
    // would run it
    val suf = spark.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
    val abKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(abKey)
    try {
      spark.conf.set(abKey, "false")
      val pointPlan = spark.table(s"graft_bkt_li_$suf")
        .filter($"l_orderkey" === 1L).queryExecution.executedPlan.toString
      assert(pointPlan.contains("SelectedBucketsCount: 1 out of 4"),
        s"bucket pruning must select one bucket:\n$pointPlan")
    } finally spark.conf.set(abKey, prev)
    // cleanup: drop the session tables and their warehouse files
    for (t <- Seq(s"graft_bkt_li_$suf", s"graft_bkt_ord_$suf")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("withHilbert: matches the reference xy2d on the full 16x16 grid; unit-step continuity") {
    def xy2d(n: Int, x0: Int, y0: Int): Long = {
      var (x, y, d, s) = (x0, y0, 0L, n / 2)
      while (s > 0) {
        val rx = if ((x & s) > 0) 1 else 0
        val ry = if ((y & s) > 0) 1 else 0
        d += s.toLong * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
          val t = x; x = y; y = t
        }
        s /= 2
      }
      d
    }
    val grid = (for { x <- 0L until 16L; y <- 0L until 16L } yield (x, y))
      .toDF("qx", "qy")
    val got = PersistOps.withHilbert(grid, "qx", "qy", "hval", bits = 4)
      .collect()
      .map(r => (r.getAs[Long]("qx"), r.getAs[Long]("qy")) -> r.getAs[Long]("hval"))
      .toMap
    got.foreach { case ((x, y), h) => assert(h === xy2d(16, x.toInt, y.toInt)) }
    // bijective onto 0..255 and every consecutive pair is one cell apart
    val byD = got.toSeq.sortBy(_._2)
    assert(byD.map(_._2) === (0L until 256L))
    byD.sliding(2).foreach { case Seq(((x1, y1), _), ((x2, y2), _)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L)
    }
  }

  test("curveLocality: 4^k-aligned ranges tie (exact quadrants); unaligned ranges open the hilbert gap") {
    val events = (for { u <- 0L until 256L; v <- 0L until 256L }
      yield (u, v.toDouble)).toDF("user_id", "value")
    def run(nFiles: Int) = PersistOps.curveLocality(events, nFiles = nFiles)
      .collect()
      .map(x => x.getAs[String]("curve") ->
        ((x.getAs[Long]("n_bins"), x.getAs[Long]("n_rows"),
          x.getAs[Long]("max_area"), x.getAs[Long]("mean_area_micro")))).toMap
    // 1024 = 4^5: every range is an exact 32x32 quadrant on BOTH curves
    val aligned = run(64)
    assert(aligned("hilbert") === ((64L, 65536L, 1024L, 1024000000L)))
    assert(aligned("zorder") === ((64L, 65536L, 1024L, 1024000000L)))
    // 655-cell ranges straddle quadrant seams: the z-curve's jump
    // blows its bounding boxes, hilbert's continuity bounds them
    val unaligned = run(100)
    assert(unaligned("hilbert")._2 === 65536L)
    assert(unaligned("zorder")._2 === 65536L)
    assert(unaligned("hilbert")._3 < unaligned("zorder")._3,
      s"max box: ${unaligned("hilbert")._3} vs ${unaligned("zorder")._3}")
    assert(unaligned("hilbert")._4 < unaligned("zorder")._4,
      s"mean box: ${unaligned("hilbert")._4} vs ${unaligned("zorder")._4}")
  }
}
