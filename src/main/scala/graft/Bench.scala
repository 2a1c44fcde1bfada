package graft
object Bench {
  private val Repeats = 3
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // same session as Verify/PlansDump: tz-dependent queries (hour
    // windows, date rollups) benchmark the SAME computation that was
    // verified, on any machine
    val spark = GraftSession.local(GraftSession.cpus, "WARN")
    // warm-up: JIT + codegen + parquet footer caches, so the first
    // timed query doesn't absorb session startup cost; guarded so a
    // bad sfDir still reaches the per-query loop (which reports -1s)
    spark.range(1000000).selectExpr("sum(id)").collect()
    try SparkEntry.queries.get("scan_documents").foreach(fn => fn(spark, sfDir).count())
    catch { case e: Throwable => System.err.println(s"[bench] warm-up failed: ${e.getMessage}") }
    // single-run times on iterative queries vary ±40% run-to-run —
    // take the per-query MEDIAN of `Repeats` runs so round-over-round
    // comparisons measure plan changes, not scheduler noise; min and
    // spread are emitted alongside for the variance record
    // dev-only subset filter (SPARK_GRAFT_ONLY=q1,q2): time a few
    // queries in isolation when adjudicating drift — the driver never
    // sets it, so the per-round capture always covers the full surface
    val selected = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').toSet)
      .map(only => SparkEntry.queries.filter { case (n, _) => only(n) })
      .getOrElse(SparkEntry.queries)
    // contamination instrumentation (r12 verdict #6): per-query GC
    // time and heap occupancy, to separate "this query got slower"
    // from "the JVM around it degraded" in late-suite timings
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def heapMb(): Long = {
      val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      m.getUsed / (1024 * 1024)
    }
    // `Repeats` timed runs of one query; `label` prefixes its failure
    // lines on stderr
    def timeQuery(label: String, name: String): Seq[Double] = {
      val fn = selected(name)
      val times = (1 to Repeats).map { _ =>
        val t0 = System.nanoTime()
        // noop sink forces FULL evaluation of every output column —
        // count() would let Catalyst prune unevaluated projections
        // and understate the work
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $label$name FAILED: ${e.getMessage}")
              false
          }
        // a failed query reports -1, never a flattering near-zero time
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      // drop this query's leftover localCheckpoint/cache blocks NOW:
      // the ContextCleaner only frees them on GC, which a 128 GB heap
      // may not run for hundreds of queries — accumulated blocks eat
      // execution memory and contaminated later queries' timings by
      // up to 10x in long captures (r11: embedding_pca 2.5 s isolated
      // vs 26 s late in a 258-query run). No cross-query DataFrame
      // reuse exists, so unpersisting between entries is safe.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      times
    }
    val gcPerQuery = scala.collection.mutable.LinkedHashMap[String, Long]()
    val heapPerQuery = scala.collection.mutable.LinkedHashMap[String, Long]()
    val results: Map[String, Seq[Double]] = selected.map { case (name, _) =>
      val gc0 = gcMillis()
      val times = timeQuery("", name)
      gcPerQuery(name) = gcMillis() - gc0
      heapPerQuery(name) = heapMb()
      name -> times
    }
    def median(ts: Seq[Double]): Double =
      if (ts.contains(-1.0)) -1.0 else ts.sorted.apply(ts.size / 2)
    // 1 ms resolution is below run-to-run noise
    def r3(d: Double): Double = math.round(d * 1000).toDouble / 1000
    def jsonMap(entries: Iterable[(String, Double)]): String =
      entries.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    def mapped(f: Seq[Double] => Double): Iterable[(String, Double)] =
      results.map { case (k, v) => k -> f(v) }
    val medians = results.map { case (_, v) => median(v) }
    // any failed query poisons the TOTAL to the -1 sentinel too:
    // summing a -1 in would UNDERSTATE the total, making a breaking
    // round read as a speedup in round-over-round comparison
    val total =
      if (medians.isEmpty) 0.0
      else if (medians.exists(_ < 0)) -1.0
      else medians.sum
    // the FULL per-query record (median/min/spread for every query)
    // goes to stderr: the driver's BENCH capture keeps only an ~2 KB
    // stdout tail, and for three rounds a 260-query median map (~10+
    // KB) pushed the parseable summary out of the window
    // (BENCH_r09..r11 all have parsed:null)
    System.err.println(s"""{"queries_median":${jsonMap(mapped(median))}""" +
      s""","queries_min":${jsonMap(mapped(ts => if (ts.contains(-1.0)) -1.0 else ts.min))}""" +
      s""","queries_spread":${jsonMap(mapped(ts => if (ts.contains(-1.0)) -1.0 else ts.max - ts.min))}""" +
      s""","queries_gc_ms":${jsonMap(gcPerQuery.map { case (k, v) => k -> v.toDouble })}""" +
      s""","queries_heap_mb":${jsonMap(heapPerQuery.map { case (k, v) => k -> v.toDouble })}}""")
    // the ONE stdout line stays compact AND last: totals + the top-20
    // slowest medians (~1 KB) always fit the driver's tail window.
    // FAILED queries (-1 sentinel) would sort LAST and vanish from a
    // plain top-20 cut — surface them first so a failure is always
    // visible on stdout, not only via the poisoned total
    val (failed, succeeded) = mapped(median).toSeq.partition { case (_, m) => m < 0 }
    val top20 = (failed ++ succeeded.sortBy { case (_, m) => -m }).take(20)
    // self-adjudication (r13 verdict #3): four rounds running, single
    // full-surface captures needed manual outlier re-times (r13:
    // quality_score 8.3 driver vs 0.38 solo — host co-tenancy, not
    // structure). Re-time the top-16 slowest queries SOLO in the same
    // warm JVM after the suite (r14's tail had inflated entries just
    // outside a top-12 cut) and emit both numbers: when an in-suite
    // median and its retime disagree, the retime is the structural
    // number (BASELINE.md adjudication convention, carried by the
    // capture itself). A retime run that THROWS poisons that query's
    // retime to the same -1 sentinel the main loop uses — recording
    // time-to-failure as a median would publish a flattering number
    // for a flaking query (r14 ADVICE).
    val retimeSet = succeeded.sortBy { case (_, m) => -m }.take(16)
    val retimed: Seq[(String, Double)] =
      retimeSet.map { case (name, _) => name -> median(timeQuery("retime ", name)) }
    // the adjudicated headline (r14 verdict #7, convention fixed per
    // r15 verdict #7): the suite total with each retimed query's
    // in-suite median replaced by min(in-suite median, solo retime).
    // Both numbers are medians-of-3 of the same work, so the smaller
    // is the less-contended measurement — r15's retime phase ran
    // HOTTER than the suite (lang_id_learned 5.3 in-suite vs 18.5
    // retimed) and the old always-prefer-the-retime rule published
    // the inflated number. The old convention is kept alongside as
    // value_adjusted_retime so round-over-round rows stay comparable.
    // Any -1 (suite or retime) poisons both, like the gross total.
    val valueAdjusted =
      if (total < 0 || retimed.exists(_._2 < 0)) -1.0
      else total - retimeSet.map(_._2).sum +
        retimeSet.zip(retimed).map { case ((_, m), (_, r)) => math.min(m, r) }.sum
    val valueAdjustedRetime =
      if (total < 0 || retimed.exists(_._2 < 0)) -1.0
      else total - retimeSet.map(_._2).sum + retimed.map(_._2).sum
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec"""" +
      s""","value_adjusted":${r3(valueAdjusted)}""" +
      s""","value_adjusted_retime":${r3(valueAdjustedRetime)}""" +
      s""","repeats":$Repeats,"n_queries":${results.size}""" +
      s""","queries":${jsonMap(top20)}""" +
      s""","queries_retimed":${jsonMap(retimed)}""" +
      s""","sf":"$sfDir"}""")
    spark.stop()
  }
}
