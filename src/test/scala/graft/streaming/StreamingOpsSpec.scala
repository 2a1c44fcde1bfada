package graft.streaming

import graft.SparkSpec
import graft.streaming.StreamingOps._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tumblingCounts aggregates event-time windows over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val q = tumblingCounts(
      input.toDF().toDF("ts", "event_type", "value"), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("append").start()
    try {
      val h = 3600L * 1000
      input.addData(
        (new Timestamp(0), "a", 1.0), (new Timestamp(h - 1), "a", 2.0),
        (new Timestamp(h), "a", 4.0))
      q.processAllAvailable()
      // advance watermark far enough to close the first windows
      input.addData((new Timestamp(10 * h), "a", 0.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .select("n_events", "sum_value").as[(Long, Double)].collect().toSet
      assert(rows === Set((2L, 3.0), (1L, 4.0)))
    } finally q.stop()
  }

  test("enrichedStream: stateless per-batch join against the static dim + gate") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = enrichedStream(
      input.toDF().toDF("event_id", "user_id", "value"), dim, minValue = 1.0)
      .writeStream.format("memory").queryName("enriched_out")
      .outputMode("append").start()
    try {
      input.addData(
        (10L, 1L, 5.0),  // joins gold
        (11L, 2L, 0.5),  // fails the value gate
        (12L, 3L, 9.0))  // unknown user -> dropped by inner join
      q.processAllAvailable()
      val rows = spark.table("enriched_out")
        .select("event_id", "tier").as[(Long, String)].collect().toSet
      assert(rows === Set((10L, "gold")))
      // second batch joins the same static dim, no state carried
      input.addData((13L, 2L, 2.0))
      q.processAllAvailable()
      val rows2 = spark.table("enriched_out")
        .select("event_id", "tier").as[(Long, String)].collect().toSet
      assert(rows2 === Set((10L, "gold"), (13L, "basic")))
    } finally q.stop()
  }

  test("tumblingCounts drops data later than the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val q = tumblingCounts(
      input.toDF().toDF("ts", "event_type", "value"), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      val h = 3600L * 1000
      input.addData((new Timestamp(h / 2), "a", 1.0))
      q.processAllAvailable()
      // advance event time far ahead -> watermark passes hour 0
      input.addData((new Timestamp(10 * h), "a", 0.0))
      q.processAllAvailable()
      // a straggler for the long-closed hour-0 window: must be DROPPED
      input.addData((new Timestamp(h / 4), "a", 100.0))
      q.processAllAvailable()
      input.addData((new Timestamp(20 * h), "a", 0.0)) // close hour 10
      q.processAllAvailable()
      val hour0 = spark.table("late_out")
        .filter($"window_start" === new Timestamp(0))
        .select("n_events", "sum_value").as[(Long, Double)].collect()
      assert(hour0.toSeq === Seq((1L, 1.0))) // straggler's 100.0 absent
    } finally q.stop()
  }

  test("dedupWithinWatermark suppresses in-horizon duplicates, re-emits after eviction") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val q = dedupWithinWatermark(
      input.toDF().toDF("ts", "doc_id"), Seq("doc_id"), watermark = "10 minutes")
      .writeStream.format("memory").queryName("ddww_out")
      .outputMode("append").start()
    try {
      val m = 60L * 1000
      input.addData((new Timestamp(0), 1L), (new Timestamp(m), 1L)) // in-batch dup
      q.processAllAvailable()
      input.addData((new Timestamp(2 * m), 1L)) // cross-batch dup, inside horizon
      q.processAllAvailable()
      // advance the watermark far past key 1's eviction point
      input.addData((new Timestamp(100 * m), 2L))
      q.processAllAvailable()
      // key 1 re-arrives at a FRESH event time after state eviction:
      // at-least-once contract → emitted again
      input.addData((new Timestamp(101 * m), 1L))
      q.processAllAvailable()
      val byKey = spark.table("ddww_out").groupBy("doc_id").count()
        .as[(Long, Long)].collect().toMap
      assert(byKey === Map(1L -> 2L, 2L -> 1L))
    } finally q.stop()
  }

  test("debounceStream (transformWithState): burst emits ONE settled row after quiet period") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[TimedEv]
    def ev(u: Long, sec: Long, v: Double) =
      TimedEv(u, new Timestamp(sec * 1000), sec * 1000, v)
    val q = debounceStream(input.toDS(), quietMs = 60000, watermark = "10 seconds")
      .writeStream.format("memory").queryName("debounce_out")
      .outputMode("append").start()
    try {
      // burst for user 1: two updates 30 s apart — one settled emission
      input.addData(ev(1L, 0, 1.0), ev(1L, 30, 2.0))
      q.processAllAvailable()
      input.addData(ev(2L, 100, 9.0)) // advances watermark to 90 s = user 1's timer
      q.processAllAvailable()
      input.addData(ev(2L, 200, 9.5)) // re-arms user 2; watermark 190 s fires nothing new for 1
      q.processAllAvailable()
      input.addData(ev(3L, 400, 0.0)) // watermark 390 s → user 2's 260 s timer fires
      q.processAllAvailable()
      val rows = spark.table("debounce_out").as[TimedEv].collect()
      val byUser = rows.groupBy(_.user_id)
      // user 1: exactly one emission, the burst-FINAL event (t=30, v=2.0)
      assert(byUser(1L).map(e => (e.ts_ms, e.value)).toSeq === Seq((30000L, 2.0)))
      // user 2: its own burst settled once with the later event
      assert(byUser(2L).map(e => (e.ts_ms, e.value)).toSeq === Seq((200000L, 9.5)))
      // a second burst for user 1 after settling re-arms and re-emits
      input.addData(ev(1L, 500, 3.0))
      q.processAllAvailable()
      input.addData(ev(3L, 700, 0.0)) // watermark 690 s → fires 560 s timer
      q.processAllAvailable()
      val again = spark.table("debounce_out").as[TimedEv].collect()
        .filter(_.user_id == 1L).map(e => (e.ts_ms, e.value)).toSeq
      assert(again === Seq((30000L, 2.0), (500000L, 3.0)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("kmvDistinctStream: streaming state equals the batch sketch over the same rows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{KeyedHash, KmvEstimate}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[KeyedHash]
    val q = StreamingOps.kmvDistinctStream(input.toDS(), k = 8)
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode("update").start()
    val rnd = new scala.util.Random(11)
    val big = Seq.fill(200)(rnd.nextLong().abs % 1000000L)
    try {
      // batch 1: 3 distinct small-group hashes; batch 2: repeats + the big group
      input.addData(Seq(10L, 20L, 30L).map(KeyedHash("small", _)): _*)
      q.processAllAvailable()
      input.addData(
        (Seq(20L, 30L, 40L).map(KeyedHash("small", _)) ++
          big.map(KeyedHash("big", _))): _*)
      q.processAllAvailable()
      val last = spark.table("kmv_out").as[KmvEstimate].collect()
        .groupBy(_.group).map { case (g, rows) => g -> rows.last }
      // under-filled sketch = exact distinct count (dup-immune)
      assert(last("small").n_distinct_est === 4L)
      // filled sketch state must equal the BATCH fold over the same rows
      val expectBuf = big.foldLeft(Array.emptyLongArray)(
        (b, h) => graft.functions.SketchAggregators.kmvInsert(b, h, 8))
      val expectEst = 7L * 281474976710656L / expectBuf(7)
      assert(last("big").sketch_size === 8)
      assert(last("big").n_distinct_est === expectEst)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("hllDistinctStream: stream estimate equals the batch hll_distinct over the same rows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{HllEstimate, KeyedHash}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the stream sees the same "hll:<user>" hashes the batch kernel derives
    def h(u: Long) = graft.functions.PortableHash.hash48Jvm(s"hll:$u")
    val input = MemoryStream[KeyedHash]
    val q = StreamingOps.hllDistinctStream(input.toDS())
      .writeStream.format("memory").queryName("hll_out")
      .outputMode("update").start()
    try {
      input.addData((1L to 400L).map(u => KeyedHash("a", h(u))): _*)
      q.processAllAvailable()
      // second batch: repeats (register no-ops) + 400 new users
      input.addData((201L to 800L).map(u => KeyedHash("a", h(u))): _*)
      q.processAllAvailable()
      val last = spark.table("hll_out").as[HllEstimate].collect().last
      val batch = graft.ops.SketchOps.hllDistinct(
        (1L to 800L).map(u => ("a", u)).toDF("event_type", "user_id"),
        "user_id").collect()(0)
      assert(last.n_regs === batch.getAs[Long]("n_regs").toInt,
        "stream registers must equal the batch registers")
      assert(last.n_hll === batch.getAs[Double]("n_hll"),
        "stream estimate arithmetic must equal the batch estimator")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("hllIdxRhoJvm matches the batch SQL register kernel") {
    import graft.streaming.StreamingOps.hllIdxRhoJvm
    val hs = Seq(0L, 1L, 4398046511103L, 4398046511104L, 281474976710655L,
      graft.functions.PortableHash.hash48Jvm("hll:7"))
    val sql = hs.toDF("h").selectExpr("h",
      "cast(shiftright(h, 42) as int) as idx",
      "cast(if(h % 4398046511104L = 0, 43, 43 - length(bin(h % 4398046511104L))) as int) as rho")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    hs.foreach(h => assert(hllIdxRhoJvm(h) === sql(h), s"kernel mismatch at h=$h"))
  }

  test("anomalyStream: batch-trained gates flag exactly the planted spike; stateless append") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val h = 3600L * 1000 * 1000 * 1000
    // train: hour 0 at 10, hour 12 at 100 (strong diurnal cycle)
    val train = ((0 until 20).map(i => (i.toLong, 1L, i * 24 * h, "a", 10.0, "{}")) ++
      (0 until 20).map(i => (100L + i, 1L, i * 24 * h + 12 * h, "a", 100.0, "{}")))
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
    val (baseline, gates) = graft.ops.RelationalOps.seasonalGates(train)
    val input = MemoryStream[(Long, Long, String, Double)]
    val stream = input.toDS().toDF("event_id", "ts", "event_type", "value")
    val q = StreamingOps.anomalyStream(stream, baseline, gates)
      .writeStream.format("memory").queryName("anom_out")
      .outputMode("append").start() // append works: the gate is stateless
    try {
      input.addData(
        (1000L, 21L * 24 * h, "a", 10.0),               // normal midnight
        (1001L, 21L * 24 * h + 12 * h, "a", 100.0),     // normal noon
        (1002L, 22L * 24 * h, "a", 95.0))               // midnight spike
      q.processAllAvailable()
      val out = spark.table("anom_out").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("resid")))
      assert(out.map(_._1).toSet === Set(1002L),
        s"only the planted spike should flag, got ${out.mkString(",")}")
      assert(math.abs(out.head._2 - 85.0) < 0.01) // 95 − baseline 10
    } finally q.stop()
  }

  test("cmsHeavyStream: stream estimates equal the batch CMS table over the same rows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{CmsEstimate, CmsEvent}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[CmsEvent]
    val q = StreamingOps.cmsHeavyStream(input.toDS(), depth = 3, width = 8)
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("update").start()
    val items = Seq.fill(40)("hot") ++ (1 to 25).map(i => s"cold$i")
    val (b1, b2) = items.splitAt(30)
    try {
      input.addData(b1.map(CmsEvent("g", _)): _*)
      q.processAllAvailable()
      input.addData(b2.map(CmsEvent("g", _)): _*)
      q.processAllAvailable()
      val last = spark.table("cms_out").as[CmsEstimate].collect()
        .groupBy(_.item).map { case (i, rows) => i -> rows.last.cms_est }
      // batch twin: the SQL-hashed countMinTable over the same rows
      import spark.implicits._
      val cells = graft.ops.SketchOps.countMinTable(
          items.toDF("user_id"), "user_id", depth = 3, width = 8)
        .collect().map(r => (r.getAs[Int]("j"), r.getAs[Long]("bucket")) ->
          r.getAs[Long]("c")).toMap
      def batchEst(item: String): Long = (0 until 3).map { j =>
        val b = graft.functions.PortableHash.hash24Jvm(s"cms$j:$item") % 8
        cells.getOrElse((j, b), 0L)
      }.min
      assert(last("hot") === batchEst("hot"))
      assert(last("cold1") === batchEst("cold1"))
      // one-sided guarantee carries over: est >= exact
      assert(last("hot") >= 40L)
      assert(last("cold1") >= 1L)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("quantileSketchStream: streaming state equals the batch pair fold over the same rows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{KeyedHashValue, QuantileEstimate}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[KeyedHashValue]
    val q = StreamingOps.quantileSketchStream(input.toDS(), k = 16)
      .writeStream.format("memory").queryName("qsk_out")
      .outputMode("update").start()
    val rnd = new scala.util.Random(29)
    val all = Seq.fill(120)((rnd.nextLong().abs % 1000000L, rnd.nextLong().abs % 5000L))
    val (b1, b2) = all.splitAt(47)
    try {
      input.addData(b1.map { case (h, v) => KeyedHashValue("g", h, v) }: _*)
      q.processAllAvailable()
      input.addData(b2.map { case (h, v) => KeyedHashValue("g", h, v) }: _*)
      q.processAllAvailable()
      val last = spark.table("qsk_out").as[QuantileEstimate].collect().last
      // batch twin: fold ALL rows through the same kernel
      val buf = all.foldLeft(Array.emptyLongArray) { case (b, (h, v)) =>
        graft.functions.SketchAggregators.pairInsert(b, h, v, 16)
      }
      val vals = Array.tabulate(buf.length / 2)(i => buf(2 * i + 1)).sorted
      assert(last.n_sample === 16)
      assert(last.p50_est_mu === vals((16 * 50 + 99) / 100 - 1))
      assert(last.p95_est_mu === vals((16 * 95 + 99) / 100 - 1))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("lshDedupStream: a near-dup arriving in a LATER batch is caught; unrelated is not") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{NearDupHit, StreamDoc}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val input = MemoryStream[StreamDoc]
    val q = StreamingOps.lshDedupStream(input.toDS())
      .writeStream.format("memory").queryName("lsh_out")
      .outputMode("append").start()
    try {
      input.addData(StreamDoc(0L, base))
      q.processAllAvailable()
      assert(spark.table("lsh_out").count() === 0L, "first doc has nothing to match")
      input.addData(
        StreamDoc(10L, base + " with a tiny edit"),
        StreamDoc(20L, "completely different words about spark query engines at scale ok"))
      q.processAllAvailable()
      val hits = spark.table("lsh_out").as[NearDupHit].collect()
      assert(hits.exists(h => h.doc_id == 10L && h.earlier_id == 0L),
        "cross-batch near-dup must be reported against the remembered original")
      assert(!hits.exists(h => h.doc_id == 20L || h.earlier_id == 20L),
        "unrelated doc shares no bucket")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("lshDedupStream: bucket state is cap-bounded; late copies still report against reps") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{NearDupHit, StreamDoc}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val input = MemoryStream[StreamDoc]
    val q = StreamingOps.lshDedupStream(input.toDS(), maxPerBucket = 2)
      .writeStream.format("memory").queryName("lsh_cap_out")
      .outputMode("append").start()
    try {
      // an exact-copy family arriving over two batches: only the first
      // 2 ids per bucket are ever remembered (the representatives)
      input.addData((0L until 4L).map(i => StreamDoc(i, base)): _*)
      q.processAllAvailable()
      input.addData(StreamDoc(100L, base))
      q.processAllAvailable()
      val hits = spark.table("lsh_cap_out").as[NearDupHit].collect()
      // the late copy matches ONLY the ≤2 remembered reps per bucket —
      // state is bounded — but it IS detected (star-to-rep semantics)
      val lateMatches = hits.filter(_.doc_id == 100L).map(_.earlier_id).distinct.sorted
      assert(lateMatches.nonEmpty, "late family copy must still be detected")
      assert(lateMatches.toSeq === Seq(0L, 1L),
        s"only the first maxPerBucket reps may be remembered, got $lateMatches")
      // and no doc ever reports more than 2 distinct partners per band
      hits.groupBy(h => (h.doc_id, h.band_key)).foreach { case (_, g) =>
        assert(g.map(_.earlier_id).distinct.length <= 2)
      }
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("bm25PostingsStream: stream postings ≡ batch bm25Index; merged index answers exactly") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{Posting, StreamDoc}
    val fixture = Seq(
      (0L, "spark engine spark engine spark"),
      (1L, "spark appears once here only today"),
      (2L, ""), // token-less: only the sentinel row, still counted in N
      (3L, "engine engine engine engine engine engine"))
    val input = MemoryStream[StreamDoc]
    val q = StreamingOps.bm25PostingsStream(input.toDS())
      .writeStream.format("memory").queryName("bm25_postings")
      .outputMode("append").start()
    try {
      // two micro-batches — the additive state must not care
      input.addData(fixture.take(2).map { case (i, t) => StreamDoc(i, t) }: _*)
      q.processAllAvailable()
      input.addData(fixture.drop(2).map { case (i, t) => StreamDoc(i, t) }: _*)
      q.processAllAvailable()
      val streamed = spark.table("bm25_postings").as[Posting]
      val docsDf = fixture.map { case (i, t) => (i, t, "en", s"$i.docx", 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      // identity 1: the streamed postings ARE the batch index
      val postings = streamed.collect().toSeq
      val got = postings.map(p => (p.doc_id, p.tok, p.tf)).sorted
      val want = graft.ops.SearchOps.bm25Index(docsDf)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      assert(got === want)
      // identity 2: scoring from the streamed index ≡ from-scratch
      // BM25 (postings re-materialized locally — the memory-sink view
      // can't self-join inside searchBm25FromIndex's df aggregate)
      val viaStream = graft.ops.SearchOps.searchBm25FromIndex(
          postings.toDS().toDF(), docsDf, "spark engine", k = 4)
        .collect().map(_.toString).sorted.toSeq
      val scratch = graft.ops.SearchOps.searchBm25(docsDf, "spark engine", k = 4)
        .collect().map(_.toString).sorted.toSeq
      assert(viaStream === scratch && viaStream.nonEmpty)
    } finally q.stop()
  }

  test("sessionCounts merges gap-contiguous events and splits across gaps") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val q = sessionCounts(
      input.toDF().toDF("ts", "user_id", "value"), gap = "30 minutes",
      watermark = "10 minutes")
      .writeStream.format("memory").queryName("session_out")
      .outputMode("append").start()
    try {
      val m = 60L * 1000
      input.addData(
        (new Timestamp(0), 7L, 1.0), // session A
        (new Timestamp(10 * m), 7L, 2.0), // 10 min gap → still A
        (new Timestamp(120 * m), 7L, 4.0)) // 110 min gap → session B
      q.processAllAvailable()
      // advance the watermark far enough to close both sessions
      input.addData((new Timestamp(600 * m), 8L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("session_out")
        .filter($"user_id" === 7L)
        .select("n_events", "sum_value").as[(Long, Double)].collect().toSet
      assert(rows === Set((2L, 3.0), (1L, 4.0)))
    } finally q.stop()
  }

  test("fileIngest appends only hash-new docs across micro-batches") {
    val base = java.nio.file.Files.createTempDirectory("fileingest")
    val watch = base.resolve("watch"); val corpus = base.resolve("corpus")
    val ckpt = base.resolve("ckpt")
    java.nio.file.Files.createDirectories(watch)
    def drop(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(watch.resolve(name),
        String.join("\n", lines: _*).getBytes("UTF-8"))
    drop("b1.json", Seq(
      """{"doc_id": 1, "source": "s1", "text": "alpha"}""",
      """{"doc_id": 2, "source": "s2", "text": "alpha"}""", // in-batch dup
      """{"doc_id": 3, "source": "s3", "text": "beta"}"""))
    val q = fileIngest(spark, watch.toString, corpus.toString, ckpt.toString)
    try {
      q.processAllAvailable()
      drop("b2.json", Seq(
        """{"doc_id": 4, "source": "s4", "text": "beta"}""", // cross-batch dup
        """{"doc_id": 5, "source": "s5", "text": "gamma"}"""))
      q.processAllAvailable()
      val ids = spark.read.parquet(corpus.toString)
        .select("doc_id").as[Long].collect().toSet
      assert(ids === Set(1L, 3L, 5L)) // first-by-doc_id per hash, dups dropped
    } finally q.stop()
  }

  test("fileIngest replay is idempotent: rewriting a batch id leaves the corpus unchanged") {
    val base = java.nio.file.Files.createTempDirectory("replay")
    val corpus = base.resolve("corpus").toString
    val b0 = Seq((1L, "s1", "alpha"), (3L, "s3", "beta")).toDF("doc_id", "source", "text")
    StreamingOps.writeBatchIdempotent(b0, corpus, 0L)
    StreamingOps.writeBatchIdempotent(
      Seq((5L, "s5", "gamma")).toDF("doc_id", "source", "text"), corpus, 1L)
    val before = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    // simulate a crash-replay of batch 0: same deterministic content,
    // same batch id — must overwrite in place, not append
    StreamingOps.writeBatchIdempotent(b0, corpus, 0L)
    val after = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(before === Set(1L, 3L, 5L) && after === before)
    assert(spark.read.parquet(corpus).columns.contains("batch_id")) // partition column
  }

  test("fileIngest keeps no hash sidecar: dedup state lives in the checkpoint store") {
    val base = java.nio.file.Files.createTempDirectory("nosidecar")
    val watch = base.resolve("watch"); val corpus = base.resolve("corpus")
    java.nio.file.Files.createDirectories(watch)
    java.nio.file.Files.write(watch.resolve("b.json"),
      """{"doc_id": 1, "source": "s", "text": "x"}""".getBytes("UTF-8"))
    val q = fileIngest(spark, watch.toString, corpus.toString, base.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()
    assert(!java.nio.file.Files.exists(base.resolve("corpus_hashes")))
    // the state store (delta/snapshot files) is inside the checkpoint
    assert(java.nio.file.Files.exists(base.resolve("ckpt").resolve("state")))
  }

  test("attributionStream joins purchases to in-window views, drops out-of-window ones") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Timestamp, Long, Long)]
    val views = MemoryStream[(Timestamp, Long, Long)]
    val q = attributionStream(
      purchases.toDF().toDF("p_ts", "p_user", "purchase_id"),
      views.toDF().toDF("v_ts", "v_user", "view_id"))
      .select("purchase_id", "view_id")
      .writeStream.format("memory").queryName("attr_out").outputMode("append").start()
    try {
      val h = 3600L * 1000
      views.addData(
        (new Timestamp(1000), 7L, 100L), // in window of purchase at h
        (new Timestamp(10 * h), 7L, 101L)) // hours after the purchase → no match
      purchases.addData((new Timestamp(h), 7L, 500L))
      q.processAllAvailable()
      val rows = spark.table("attr_out").as[(Long, Long)].collect().toSet
      assert(rows === Set((500L, 100L)))
    } finally q.stop()
  }

  test("dedupedIngest with TTL: state stays bounded across duplicate-heavy batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    // ProcessingTimeTimeout makes the engine request a follow-up batch
    // after EVERY batch (processing time always advances), so
    // processAllAvailable never sees quiescence — the TTL path must be
    // driven by a timed trigger and observed by polling. The TTL must
    // comfortably exceed inter-batch polling latency, or keys expire
    // BETWEEN duplicate batches and the re-emitted "duplicates" are
    // legitimate firsts (observed flake at 1 s).
    val q = dedupedIngest(input.toDS(), ttl = Some("10 seconds")).writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .format("memory").queryName("dedup_ttl_out").outputMode("append").start()
    def eventually(what: String, deadlineMs: Long = 20000)(cond: => Boolean): Unit = {
      val end = System.currentTimeMillis() + deadlineMs
      while (!cond) {
        assert(System.currentTimeMillis() < end, s"timed out waiting for: $what")
        Thread.sleep(100)
      }
    }
    try {
      def stateRows: Long =
        Option(q.lastProgress).toSeq.flatMap(_.stateOperators.map(_.numRowsTotal)).sum
      def emitted: Long = spark.table("dedup_ttl_out").count()
      val texts = (0 until 10).map(i => s"text $i")
      input.addData(texts.zipWithIndex.map { case (t, i) => Doc(i.toLong, "s", t) }: _*)
      eventually("first batch emits 10 uniques")(emitted >= 10L)
      assert(emitted === 10L)
      // duplicate-heavy batches: every row repeats one of the same 10
      // hashes (exercising the timeout RE-ARM path) plus ONE sentinel
      // with a new hash — the sentinel's emission marks the batch as
      // fully processed WITHOUT racing on batchIds (timeout-driven
      // empty batches advance batchId with no data), and the EXACT
      // count catches any leaked duplicate
      for (b <- 1 to 3) {
        input.addData(Doc(1000L + b, "s", s"sentinel $b") +:
          texts.zipWithIndex.map { case (t, i) => Doc((100 * b + i).toLong, "s", t) }: _*)
        eventually(s"dup batch $b's sentinel emitted")(emitted >= 10L + b)
        assert(emitted === 10L + b, s"batch $b: a duplicate leaked through")
        assert(stateRows <= 10L + b, s"batch $b: state grew past the distinct-hash bound")
      }
      // expiry: once the TTL passes since the LAST re-arm, a later
      // batch's timeout sweep removes the old keys — state does not
      // accumulate forever
      Thread.sleep(11000)
      input.addData(Doc(999L, "s", "fresh text"))
      eventually("fresh doc emitted")(emitted >= 14L)
      assert(emitted === 14L)
      eventually("expired hash keys removed from the state store")(stateRows <= 2)
    } finally q.stop()
  }

  test("dedupedIngest emits first occurrence per content hash only") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = dedupedIngest(input.toDS()).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      input.addData(Doc(0L, "s0", "same text"), Doc(1L, "s1", "other text"))
      q.processAllAvailable()
      input.addData(Doc(2L, "s2", "same text")) // dup arrives in later batch
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("doc_id").as[Long].collect().toSet
      assert(ids === Set(0L, 1L))
    } finally q.stop()
  }

  test("stateHistoryStream emits closed versions across batch boundaries, drops stale events") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = stateHistoryStream(input.toDS())
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    try {
      // batch 1: user 7 goes view -> cart (one closed version)
      input.addData(
        Ev(1L, 100L, 7L, "view"), Ev(2L, 200L, 7L, "view"), Ev(3L, 300L, 7L, "cart"))
      q.processAllAvailable()
      // batch 2: cart -> view closes version 2 across the boundary;
      // a stale event (ts < last applied) is dropped, not applied
      input.addData(Ev(4L, 400L, 7L, "view"), Ev(5L, 250L, 7L, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("scd2_out")
        .as[StateVersion].collect().sortBy(_.version)
      assert(rows.toSeq === Seq(
        StateVersion(7L, 1L, "view", 100L, 300L),
        StateVersion(7L, 2L, "cart", 300L, 400L)))
    } finally q.stop()
  }

  test("golden e2e: fileIngest → corpus → enrichedStream over real file arrivals, " +
       "crash-replay of the last batch is idempotent") {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Files.createTempDirectory("golden")
    val watch = base.resolve("watch"); val corpus = base.resolve("corpus")
    val ckpt = base.resolve("ckpt")
    java.nio.file.Files.createDirectories(watch)
    def drop(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(watch.resolve(name),
        String.join("\n", lines: _*).getBytes("UTF-8"))

    // ---- stage 1: 24/7 file ingest with streaming dedup ----
    drop("b1.json", Seq(
      """{"doc_id": 1, "source": "web", "text": "alpha alpha alpha"}""",
      """{"doc_id": 2, "source": "web", "text": "alpha alpha alpha"}""", // in-batch dup
      """{"doc_id": 3, "source": "pdf", "text": "beta"}"""))
    val q1 = fileIngest(spark, watch.toString, corpus.toString, ckpt.toString)
    try {
      q1.processAllAvailable()
      drop("b2.json", Seq(
        """{"doc_id": 4, "source": "pdf", "text": "beta"}""",          // cross-batch dup
        """{"doc_id": 5, "source": "web", "text": "gamma gamma"}""")) // new
      q1.processAllAvailable()
    } finally q1.stop()
    val ingested = spark.read.parquet(corpus.toString)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(ingested === Seq(1L, 3L, 5L)) // multiset: dups suppressed exactly once

    // ---- crash-replay: drop the LAST batch's commit marker and restart.
    // Spark re-plans that batch from the checkpointed offsets, the state
    // store rolls back to the pre-batch version with it, and the
    // batchId-keyed sink overwrite rewrites the SAME directory — the
    // re-delivered batch must change nothing.
    val commits = ckpt.resolve("commits")
    val last = java.nio.file.Files.list(commits).iterator().asScala
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    java.nio.file.Files.delete(last)
    // the local ChecksumFs keeps a hidden CRC sidecar; a stale one
    // blocks the re-commit rename on replay
    java.nio.file.Files.deleteIfExists(
      commits.resolve("." + last.getFileName.toString + ".crc"))
    val q2 = fileIngest(spark, watch.toString, corpus.toString, ckpt.toString)
    try q2.processAllAvailable() finally q2.stop()
    val replayed = spark.read.parquet(corpus.toString)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(replayed === Seq(1L, 3L, 5L)) // same multiset — no dup, no loss

    // ---- stage 2: the ingested corpus is itself a streaming source;
    // enrich it against a static dimension with a quality floor (the
    // stream side never shuffles — per-batch broadcast hash join) ----
    val dim = Seq(("web", "crawl"), ("pdf", "upload")).toDF("source", "channel")
    val events = spark.readStream
      .schema("doc_id LONG, source STRING, text STRING")
      .parquet(corpus.toString + "/batch_id=*")
      .withColumn("user_id", col("source")) // enrichedStream joins on user_id
      .drop("source")
      .withColumn("value", length(col("text")).cast("double"))
    val q3 = enrichedStream(events, dim.withColumnRenamed("source", "user_id"),
        minValue = 5.0) // "beta" (4 chars) fails the floor
      .writeStream.format("memory").queryName("golden_enriched")
      .outputMode("append").start()
    try {
      q3.processAllAvailable()
      val out = spark.table("golden_enriched")
        .select("doc_id", "channel").as[(Long, String)].collect().toSet
      assert(out === Set((1L, "crawl"), (5L, "crawl")))
    } finally q3.stop()
  }

  test("chunkKeysJvm is bit-equal to the batch hammingBandPairs chunk explode") {
    import org.apache.spark.sql.functions._
    val sigs = Seq(0L, 1L, (1L << 47) | 12345L, 0xABCDEF012345L).map(s => (s, s))
      .toDF("id", "sig")
    val chunkBits = 12
    val batch = sigs
      .withColumn("chunk_idx", explode(sequence(lit(0), lit(3))))
      .withColumn("chunk_val",
        expr(s"(sig div cast(power(2, chunk_idx * $chunkBits) as bigint)) % ${1L << chunkBits}"))
      .select($"sig", concat($"chunk_idx", lit(":"), $"chunk_val").as("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val jvm = Seq(0L, 1L, (1L << 47) | 12345L, 0xABCDEF012345L)
      .flatMap(s => StreamingOps.chunkKeysJvm(s).map(k => (s, k))).toSet
    assert(jvm === batch)
  }

  test("hammingDedupStream: cross-batch near signature caught after popcount verify; far is not") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{HammingHit, SigDoc}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val base = 0x123456789ABCL
    val input = MemoryStream[SigDoc]
    val q = StreamingOps.hammingDedupStream(input.toDS())
      .writeStream.format("memory").queryName("ham_out")
      .outputMode("append").start()
    try {
      input.addData(SigDoc(0L, base))
      q.processAllAvailable()
      assert(spark.table("ham_out").count() === 0L)
      input.addData(
        SigDoc(10L, base), // exact copy → hamming 0
        SigDoc(20L, base ^ 1L), // one bit off → hamming 1 (vs 0 and 10)
        // shares only chunk 3 with base (top 12 bits kept, low 36
        // inverted → hamming 36) — the CANDIDATE must die at the
        // popcount verify
        SigDoc(30L, (base & 0xFFF000000000L) | (~base & 0x000FFFFFFFFFL)))
      q.processAllAvailable()
      val hits = spark.table("ham_out").as[HammingHit].collect()
      assert(hits.exists(h => h.media_id == 10L && h.other_id == 0L && h.hamming == 0L))
      assert(hits.exists(h => h.media_id == 20L && h.hamming == 1L))
      assert(!hits.exists(h => h.media_id == 30L || h.other_id == 30L),
        "far signature sharing one chunk must fail the verify")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("nbScoreStream: cross-batch stream scoring equals batch nbLangApply bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    // train on a corpus with clear per-lang trigram signal
    val trainDocs = (0 until 40).map { i =>
      val lang = if (i % 2 == 0) "en" else "es"
      val base = if (lang == "en") "the quick brown fox jumps over the dog"
                 else "el rapido zorro marron salta sobre el perro"
      (i.toLong, base + s" doc$i", lang)
    }.toDF("doc_id", "text", "lang")
    val feat = graft.ops.TextOps.nbLangFeatures(trainDocs)
    val model = graft.ops.TextOps.nbLangTrain(trainDocs, feat)
    // stream docs: two english-ish, one spanish-ish, one featureless
    val streamRows = Seq(
      Doc(100L, "s", "the brown fox jumps quick"),
      Doc(101L, "s", "el zorro marron salta"),
      Doc(102L, "s", "ab"), // < 3 chars -> prior argmax fallback
      Doc(103L, "s", "over the dog the dog"))
    val input = MemoryStream[Doc]
    val q = nbScoreStream(input.toDS(), model)
      .writeStream.format("memory").queryName("nb_out")
      .outputMode("append").start()
    try {
      input.addData(streamRows.take(2): _*)
      q.processAllAvailable()
      input.addData(streamRows.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("nb_out").as[LangScore].collect()
        .map(s => s.doc_id -> ((s.predicted_lang, s.score_micro))).toMap
      // the batch apply over the SAME rows is the ground truth
      val batchDocs = streamRows.map(d => (d.doc_id, d.text))
        .toDF("doc_id", "text")
      val expect = graft.ops.TextOps.nbLangApply(
        batchDocs, graft.ops.TextOps.nbLangFeatures(batchDocs), model)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("predicted_lang"), r.getAs[Long]("score_micro")))).toMap
      assert(got === expect)
      assert(got(100L)._1 === "en" && got(101L)._1 === "es")
    } finally q.stop()
  }

  test("ivfAssignStream: stream assignments are bit-equal to batch cellRanks; census accumulates") {
    implicit val sqlCtx = spark.sqlContext
    // a real Lloyd codebook, passed to the stream as the trainer
    // returns it
    val emb = (0L until 12L).map { i =>
      val d = (i % 3).toInt
      val v = Array(0.07f * i, 0.05f * ((i * 3) % 5), 0.03f * ((i * 7) % 4))
      v(d) += 1f
      (i, v.toSeq, d)
    }.toDF("vec_id", "embedding", "label")
    val codebook = graft.ops.VectorOps.kmeansCells(emb, k = 3, iters = 2)
    assert(codebook.size === 3 && codebook.forall(_._2.length === 3))

    val input = MemoryStream[StreamVec]
    val q = ivfAssignStream(input.toDS(), codebook, nAssign = 2)
      .writeStream.format("memory").queryName("ivf_assign_out")
      .outputMode("append").start()
    val rows = emb.collect().map(r =>
      StreamVec(r.getAs[Long]("vec_id"), r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    try {
      input.addData(rows.take(7): _*)
      q.processAllAvailable()
      input.addData(rows.drop(7): _*)
      q.processAllAvailable()
      val got = spark.table("ivf_assign_out").as[CellAssign].collect()
        .map(a => (a.vec_id, a.c_label, a.cdist, a.cell_rank)).sorted.toSeq
      // ground truth: the batch SQL kernel over the same vectors
      val expect = graft.ops.VectorOps.cellRanks(emb, codebook, "vec_id", 2).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("c_label"),
          r.getAs[Double]("cdist"), r.getAs[Int]("cell_rank"))).sorted.toSeq
      assert(got === expect)
    } finally q.stop()
  }

  test("cellCensusStream: per-cell primary occupancy accumulates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[CellAssign]
    val q = cellCensusStream(input.toDS())
      .writeStream.format("memory").queryName("ivf_census_out")
      .outputMode("update").start()
    try {
      // batch 1: cells 0←2 vecs, 1←1 vec (rank-2 copies must NOT count)
      input.addData(CellAssign(10L, 0L, 0.1, 1), CellAssign(10L, 1L, 0.2, 2),
        CellAssign(11L, 0L, 0.1, 1), CellAssign(12L, 1L, 0.3, 1))
      q.processAllAvailable()
      input.addData(CellAssign(13L, 0L, 0.2, 1), CellAssign(14L, 2L, 0.1, 1))
      q.processAllAvailable()
      val last = spark.table("ivf_census_out").as[CellCount].collect()
        .groupBy(_.c_label).map { case (c, rows) => c -> rows.last.n_vecs }
      assert(last === Map(0L -> 3L, 1L -> 1L, 2L -> 1L))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("packStream: per-stream cumsum state across micro-batches equals the batch packSequences replay") {
    implicit val sqlCtx = spark.sqlContext
    // two streams, doc sizes chosen so sequences split mid-stream;
    // in-order arrival split across two micro-batches
    val docs = Seq(
      PackDoc(0L, 0L, 3L), PackDoc(1L, 0L, 2L), PackDoc(2L, 1L, 4L),
      PackDoc(3L, 0L, 4L), PackDoc(4L, 1L, 1L), PackDoc(5L, 1L, 3L))
    val input = MemoryStream[PackDoc]
    val q = packStream(input.toDS(), tokenBudget = 4L)
      .writeStream.format("memory").queryName("pack_out")
      .outputMode("update").start()
    try {
      input.addData(docs.take(3): _*)
      q.processAllAvailable()
      input.addData(docs.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("pack_out").as[PackAssign].collect()
        .map(a => a.doc_id -> ((a.stream_id, a.n_tok, a.seq_id, a.seq_offset))).toMap
      // batch replay: same (doc, stream, n_tok) fed through the
      // window form — texts synthesized to the same token counts,
      // stream routing overridden to the fixture's explicit streams
      val expected = docs.groupBy(_.stream_id).flatMap { case (sid, ds) =>
        val sorted = ds.sortBy(_.doc_id)
        val starts = sorted.scanLeft(0L)((acc, d) => acc + d.n_tok).init
        sorted.zip(starts).map { case (d, start) =>
          d.doc_id -> ((sid, d.n_tok, start / 4L, start % 4L))
        }
      }
      assert(got === expected, "stream assignments equal the batch cumsum")
      // late beyond applied: re-sending doc 0 must not re-emit or move state
      input.addData(PackDoc(0L, 0L, 99L), PackDoc(6L, 0L, 1L))
      q.processAllAvailable()
      val after = spark.table("pack_out").as[PackAssign].collect()
      assert(after.count(_.doc_id == 0L) === 1, "late duplicate dropped")
      val d6 = after.find(_.doc_id == 6L).get
      assert(d6.seq_id === 2L && d6.seq_offset === 1L,
        "state advanced past doc 3 (cum 9) only")
    } finally q.stop()
  }

  test("packOnlineStream: per-stream bin state across micro-batches equals the batch online fold") {
    implicit val sqlCtx = spark.sqlContext
    // stream 0 arrival sizes 3,7,4,2,6 at budget 10 (the batch spec's
    // hand trace: bins 1,1,2,2,3) split across two micro-batches
    val docs = Seq(
      PackDoc(0L, 0L, 3L), PackDoc(1L, 0L, 7L), PackDoc(2L, 0L, 4L),
      PackDoc(3L, 0L, 2L), PackDoc(4L, 0L, 6L), PackDoc(5L, 1L, 99L))
    val input = MemoryStream[PackDoc]
    val q = packOnlineStream(input.toDS(), tokenBudget = 10L)
      .writeStream.format("memory").queryName("bf_out")
      .outputMode("update").start()
    try {
      input.addData(docs.take(2): _*)
      q.processAllAvailable()
      input.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("bf_out").as[BinAssign].collect()
        .map(a => a.doc_id -> a.bin_id).toMap
      assert(got === Map(0L -> 1L, 1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 3L, 5L -> 1L),
        "stream bins equal the hand-traced online fold; oversize doc owns bin 1 of stream 1")
      // late duplicate: must not re-emit or corrupt the loads state
      input.addData(PackDoc(0L, 0L, 50L), PackDoc(6L, 0L, 4L))
      q.processAllAvailable()
      val after = spark.table("bf_out").as[BinAssign].collect()
      assert(after.count(_.doc_id == 0L) === 1, "late duplicate dropped")
      // loads are [10,6,6]: doc 6 (4 tok) best-fits the first 6-load bin
      assert(after.find(_.doc_id == 6L).get.bin_id === 2L)
    } finally q.stop()
  }

  test("twapStream: running per-user state across micro-batches equals the batch eventsTwap replay") {
    implicit val sqlCtx = spark.sqlContext
    val sec = 1000L * 1000 * 1000
    // (event_id, ts, user_id, value-cents) — users 1/2/3/4 mirror the
    // batch spec: full chain, singleton, zero-span pair, instant tie
    val all = Seq(
      (0L, 0L * sec, 1L, 100L), (1L, 10L * sec, 1L, 200L), (2L, 30L * sec, 1L, 500L),
      (3L, 0L * sec, 2L, 900L),
      (4L, 5L * sec, 3L, 100L), (5L, 5L * sec, 3L, 200L),
      (6L, 0L * sec, 4L, 100L), (7L, 0L * sec, 4L, 300L), (8L, 10L * sec, 4L, 700L))
    val input = MemoryStream[ValEv]
    val q = twapStream(input.toDS())
      .writeStream.format("memory").queryName("twap_out")
      .outputMode("update").start()
    try {
      // batch 1: user 1's first two events + everything for users 2-3
      input.addData(all.take(5).map(r => ValEv(r._1, r._2, r._3, r._4)): _*)
      q.processAllAvailable()
      // batch 2: user 1's third event (state must carry) + user 4
      input.addData(all.drop(5).map(r => ValEv(r._1, r._2, r._3, r._4)): _*)
      q.processAllAvailable()
      val last = spark.table("twap_out").as[TwapUpdate].collect()
        .groupBy(_.user_id).map { case (u, rows) => u -> rows.last }
      val batch = graft.ops.RelationalOps.eventsTwap(
        all.map(r => (r._1, r._2, r._3, r._4 / 100.0)).toDF("event_id", "ts", "user_id", "value"))
        .collect().map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Long]("n_intervals"), r.getAs[Long]("total_gap_s"),
            r.getAs[Double]("twap")))).toMap
      assert(last.keySet === batch.keySet, "zero-span and singleton users emit nothing")
      batch.foreach { case (u, (n, g, t)) =>
        assert(last(u).n_intervals === n && last(u).total_gap_s === g
          && last(u).twap === t, s"user $u stream == batch")
      }
      // and the spec means what it claims: user 1 accumulated ACROSS batches
      assert(last(1L).n_intervals === 2L && last(1L).twap === 1.666667)
    } finally q.stop()
  }
}
