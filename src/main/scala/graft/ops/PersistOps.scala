package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Persistence layout operators (SURVEY.md §2.1 S6/S7 at scale).
  * The reference pickles four Python lists (app.py:161-168); the
  * engine's corpus IS its index, so persistence strategy = parquet
  * layout strategy:
  *
  *  - partition by a low-cardinality pruning column (lang, date,
  *    source shard) so point/range reads touch only matching
  *    directories — partition pruning happens at planning time,
  *    before any IO;
  *  - within partitions, sort by the common join/filter key so
  *    min/max row-group stats prune further (the poor man's
  *    z-order for one key).
  *
  * At 100 TB: partition count must stay bounded (directories are
  * metadata ops) — prefer coarse partitions + row-group stats over
  * millions of tiny files.
  */
object PersistOps {

  /** Write partitioned + sorted-within-partitions parquet.
    * Repartitioning includes a bounded spread key alongside the
    * partition column: repartitioning by the partition value alone
    * would route a hot value (80% `lang=en`) through ONE task;
    * the spread fans each value across up to `filesPerValue` tasks,
    * bounding both task size and file count per directory. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
                       sortCol: String, filesPerValue: Int = 4): Unit =
    df.repartition(col(partitionCol), pmod(xxhash64(col(sortCol)), lit(filesPerValue)))
      .sortWithinPartitions(col(partitionCol), col(sortCol))
      .write
      .mode("overwrite")
      .partitionBy(partitionCol)
      .parquet(path)

  /** Morton/z-order curve value for two non-negative quantized
    * coordinates: interleaves the low `bits` bits of `a` (odd
    * positions) and `b` (even positions). Pure integer shift/mask
    * arithmetic — the DuckDB oracle replays it term for term. */
  def interleaveBits(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)) +
        shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))
    }

  /** Quantize a numeric column to [0, 2^bits) by min/max scaling —
    * floor() BEFORE the cast on both engines (Spark's cast truncates,
    * DuckDB's rounds; floor makes them agree). */
  def quantize(x: Column, xmin: Column, xmax: Column, bits: Int = 16): Column = {
    val hi = (1L << bits) - 1
    least(lit(hi), floor(
      (x.cast("double") - xmin) * hi / (xmax - xmin)).cast("long"))
  }

  /** Z-order curve values for two dimensions of `df`: (row columns…,
    * zval). Bounds come from ONE tiny min/max aggregate (4 values,
    * broadcast); quantization and interleaving are map-side.
    *
    * Why z-order at 100 TB: sorting by ONE column makes that
    * column's row-group min/max stats selective and leaves every
    * other column's stats spanning the full range — a filter on the
    * second column skips nothing. Laying files out along the z-curve
    * bounds EVERY interleaved dimension's span within each file, so
    * 2-d predicates (user × time, tenant × date) prune row groups on
    * both axes from the same single layout. */
  def zOrderValue(df: DataFrame, colA: String, colB: String, bits: Int = 16): DataFrame = {
    val bounds = df.agg(
      min(col(colA).cast("double")).as("amin"), max(col(colA).cast("double")).as("amax"),
      min(col(colB).cast("double")).as("bmin"), max(col(colB).cast("double")).as("bmax"))
    df.crossJoin(broadcast(bounds))
      .withColumn("zval", interleaveBits(
        quantize(col(colA), col("amin"), col("amax"), bits),
        quantize(col(colB), col("bmin"), col("bmax"), bits), bits))
      .drop("amin", "amax", "bmin", "bmax")
  }

  /** Write `df` laid out along the z-curve of (colA, colB):
    * range-partitioned into `nFiles` z-ranges, z-sorted within each —
    * every output file covers a bounded rectangle of the 2-d key
    * space, so min/max stats prune on both columns. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    nFiles: Int = 16): Unit =
    zOrderValue(df, colA, colB)
      .repartitionByRange(nFiles, col("zval"))
      .sortWithinPartitions(col("zval"))
      .write.mode("overwrite").parquet(path)

  /** MIN/MAX DATA-SKIPPING receipt — the measurement behind every
    * lakehouse layout decision ([[zOrderValue]]'s scaladoc states the
    * lesson; this query PROVES it on real data): simulate two file
    * layouts of lineitem — `natural` (files cut along the ingest
    * order, l_orderkey ranges) and `time_clustered` (files cut along
    * calendar months of l_shipdate) — compute each file's min/max
    * shipdate stats, apply a ship-date predicate, and pin per layout
    * how many files and rows the stats would skip, plus the
    * correctness receipt (no skipped file contains a qualifying row —
    * the invariant min/max pruning rests on). On this corpus the
    * natural layout skips ~nothing (every orderkey bin spans the full
    * date range) while the clustered layout skips every pre-cutoff
    * month — the quantified argument for clustering by the filter
    * column before a 100 TB scan.
    *
    * Scale shape: two bounded bin aggs with map-side partials (the
    * orderkey bound is one broadcast scalar); no sort, no shuffle
    * beyond the ≤|bins| keys. */
  def fileSkipping(lineitem: DataFrame, nBins: Int = 32,
                   cutoff: String = "1999-01-01"): DataFrame = {
    import graft.functions.VectorMath.roundn
    val d = to_date(col("l_shipdate"))
    val cut = to_date(lit(cutoff))
    val mx = lineitem.agg(max(col("l_orderkey")).as("max_key"))
    val natural = lineitem.select(col("l_orderkey"), d.as("ship_d"))
      .crossJoin(broadcast(mx))
      .select(expr(s"l_orderkey div ((max_key div ${nBins}L) + 1L)").as("bin"),
        col("ship_d"))
    val clustered = lineitem.select(
      (year(d) * 12 + month(d)).cast("long").as("bin"), d.as("ship_d"))
    def audit(df: DataFrame, layout: String): DataFrame =
      df.groupBy(col("bin"))
        .agg(count(lit(1)).as("n_rows"), max(col("ship_d")).as("max_d"),
          sum(when(col("ship_d") >= cut, 1L).otherwise(0L)).as("n_match"))
        .withColumn("skipped", col("max_d") < cut)
        .agg(count(lit(1)).as("n_bins"),
          sum(when(col("skipped"), 1L).otherwise(0L)).as("n_skipped"),
          sum(col("n_rows")).as("rows_total"),
          sum(when(col("skipped"), col("n_rows")).otherwise(0L)).as("rows_skipped"),
          max(when(col("skipped"), col("n_match")).otherwise(0L))
            .as("max_match_in_skipped"))
        .select(lit(layout).as("layout"), col("n_bins"), col("n_skipped"),
          roundn(col("n_skipped").cast("double") / col("n_bins").cast("double"), 6)
            .as("bin_skip_frac"),
          col("rows_total"), col("rows_skipped"),
          roundn(col("rows_skipped").cast("double") /
            col("rows_total").cast("double"), 6).as("row_skip_frac"),
          (col("max_match_in_skipped") === 0L).as("prune_exact"))
    audit(natural, "natural").unionByName(audit(clustered, "time_clustered"))
  }

  /** Dynamic-partition-pruning receipt — the RUNTIME sibling of
    * [[fileSkipping]]'s static min/max pruning: the fact table is
    * written PARTITIONED BY the join column, and the dimension side
    * is the classic star-schema selective filter (the types that
    * ever see a high-value event — WHICH types survive is only known
    * at runtime), so the only way the scan avoids reading every
    * partition is Spark's DPP subquery broadcasting the surviving
    * dim values into the partition filter. The dim-side Filter must
    * be a plain selective predicate — an aggregate+limit dim does
    * NOT qualify for `PartitionPruning`'s selectivity test (measured:
    * no DPP expression is inserted), which is itself a lesson this
    * receipt documents. The receipt emits the joined per-type
    * aggregate plus the partition census; `PersistOpsSpec` pins the
    * `dynamicpruning` expression in the executed plan — the receipt
    * that the 100 TB fact scan reads the surviving partitions, not
    * all of them.
    *
    * Scale shape: one partitioned write (bounded partition count =
    * |types|), a filtered-distinct dim (bounded), and the pruned
    * scan's per-type agg. */
  def dppReceipt(events: DataFrame, tmpBase: String,
                 frac: Double = 0.8): DataFrame = {
    val spark = events.sparkSession
    val nPart = events.select(col("event_type")).distinct().count()
    // threshold = frac of the global max — ONE localized scalar (the
    // bounded-localize convention), so the dim filter is a plain
    // literal comparison (DPP-eligible) yet adapts to the corpus.
    // The guard runs BEFORE the write/read pair: an empty table's
    // partitionBy write emits no parquet files at all, so reading it
    // back would die with UNABLE_TO_INFER_SCHEMA — both the
    // empty-table and rows-but-all-null-value cases must exit here
    val vmaxRow = events.agg(max(col("value"))).head()
    if (vmaxRow.isNullAt(0))
      return events.limit(0)
        .select(col("event_type"), lit(0L).as("n_rows"),
          lit(0L).as("sum_micro"), lit(nPart).as("n_partitions_on_disk"))
    val vmax = vmaxRow.getDouble(0)
    events.select(col("event_id"), col("value"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type")
      .parquet(s"$tmpBase/pt")
    // partitioned layout: spark.read.parquet discovers event_type from
    // the directory names (Tables.parquet reads flat layouts only)
    val fact = spark.read.parquet(s"$tmpBase/pt")
    val dim = events.filter(col("value") >= frac * vmax)
      .select(col("event_type")).distinct()
    fact.join(dim, "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        expr("CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)")
          .as("sum_micro"))
      .withColumn("n_partitions_on_disk", lit(nPart))
      .select(col("event_type"), col("n_rows"), col("sum_micro"),
        col("n_partitions_on_disk"))
  }

  /** BUCKETED CO-LOCATED JOIN receipt — the fact-fact shuffle
    * eliminator SCALE.md's bucketing story promises, made executable:
    * write both join sides bucketed on the join key into catalog
    * tables (`bucketBy(n, key)`, parquet datasource, in-memory
    * catalog), then join the re-read tables. Because both sides hash
    * the SAME key into the SAME bucket count, the sort-merge join
    * consumes the bucketed scan partitions directly — the plan has
    * ZERO Exchange below the join (PlanSpec pins it; the only
    * exchange in the query is the tiny final status agg). At 100 TB
    * this is THE difference between re-shuffling two facts on every
    * join and paying the layout once at write time — the `merge`
    * hints keep the receipt honest at test SF, where the dim side
    * would otherwise broadcast and prove nothing.
    *
    * The declared output is the join's status census (oracle: plain
    * join + agg — bucketing must not change a single row). */
  def bucketJoinReceipt(lineitem: DataFrame, orders: DataFrame,
                        nBuckets: Int = 8): DataFrame = {
    val spark = lineitem.sparkSession
    val suf = spark.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
    val lt = s"graft_bkt_li_$suf"
    val ot = s"graft_bkt_ord_$suf"
    lineitem
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("ep_cp"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, "l_orderkey").saveAsTable(lt)
    orders.select(col("o_orderkey"), col("o_orderstatus"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, "o_orderkey").saveAsTable(ot)
    spark.table(lt).hint("merge")
      .join(spark.table(ot).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"), sum(col("ep_cp")).as("revenue_cp"))
  }

  /** Hilbert-curve index of pre-quantized coordinates — the
    * locality-superior sibling of [[interleaveBits]]' z-curve: the
    * standard iterative xy2d (Wikipedia's public formulation),
    * unrolled to `bits` rounds of PURE integer arithmetic (the
    * quadrant code 3·rx + ry − 2·rx·ry replaces the XOR; the
    * conditional rotate/reflect becomes a branch-free blend), so the
    * identical formula replays on both engines with no dialect CASE.
    * Each round reads the previous round's named columns — attribute
    * refs, not nested expression trees, so the plan stays linear in
    * `bits`. Appends `outCol`; drops the temps. */
  def withHilbert(df: DataFrame, qxCol: String, qyCol: String,
                  outCol: String, bits: Int = 8): DataFrame = {
    val n1 = (1L << bits) - 1
    val seeded = df.withColumn("hx", col(qxCol)).withColumn("hy", col(qyCol))
      .withColumn("hd", lit(0L))
    val rounds = (bits - 1 to 0 by -1).foldLeft(seeded) { (d, i) =>
      val s = 1L << i
      val rx = expr(s"(hx div ${s}L) % 2")
      val ry = expr(s"(hy div ${s}L) % 2")
      d.withColumn("hd",
          col("hd") + lit(s * s) * (lit(3L) * rx + ry - lit(2L) * rx * ry))
        .withColumn("hx2",
          ry * col("hx") + (lit(1L) - ry) *
            ((lit(1L) - rx) * col("hy") + rx * (lit(n1) - col("hy"))))
        .withColumn("hy2",
          ry * col("hy") + (lit(1L) - ry) *
            ((lit(1L) - rx) * col("hx") + rx * (lit(n1) - col("hx"))))
        .withColumn("hx", col("hx2")).withColumn("hy", col("hy2"))
        .drop("hx2", "hy2")
    }
    rounds.withColumn(outCol, col("hd")).drop("hx", "hy", "hd")
  }

  /** Curve-locality receipt — Hilbert vs z-order MEASURED on the same
    * 2-d key (user × value), the number a layout choice is approved
    * on: both curves index the same 8-bit quantized grid, rows are
    * cut into equal CURVE-VALUE ranges (map-only binning — no global
    * sort, no ntile), and each bin's bounding box (x-span × y-span)
    * is the min/max-stats pruning proxy: a 2-d predicate skips a file
    * iff its box misses the predicate box, so smaller mean boxes =
    * more skipping. Hilbert's no-jump continuity beats the z-curve's
    * quadrant seams on mean area — this query pins the measured gap
    * instead of asserting the folklore. The bin width is DELIBERATELY
    * not a power of 4: 4^k-aligned ranges are exact quadrants on BOTH
    * curves and the gap vanishes (measured at sf0.1: equal at width
    * 1024; at width 655 hilbert mean box 720 cells vs zorder 1174,
    * max 1248 vs 4096 — the seam-straddling range is where hilbert
    * earns its keep). Mean area is an exact floored micro-quotient;
    * spans are exact cell counts.
    *
    * Scale shape: quantize + curve arithmetic are map-side; one
    * (curve, bin) agg (≤ 2·nFiles keys) and a ≤2-row final agg. */
  def curveLocality(events: DataFrame, bits: Int = 8,
                    nFiles: Int = 100): DataFrame = {
    val bounds = events.agg(
      min(col("user_id").cast("double")).as("amin"),
      max(col("user_id").cast("double")).as("amax"),
      min(col("value")).as("bmin"), max(col("value")).as("bmax"))
    val q = events.crossJoin(broadcast(bounds))
      .select(
        quantize(col("user_id"), col("amin"), col("amax"), bits).as("qx"),
        quantize(col("value"), col("bmin"), col("bmax"), bits).as("qy"))
    val both = withHilbert(q, "qx", "qy", "hval", bits)
      .withColumn("zval", interleaveBits(col("qx"), col("qy"), bits))
    val binW = (1L << (2 * bits)) / nFiles
    val long = both.select(lit("hilbert").as("curve"),
        expr(s"hval div ${binW}L").as("bin"), col("qx"), col("qy"))
      .unionByName(both.select(lit("zorder").as("curve"),
        expr(s"zval div ${binW}L").as("bin"), col("qx"), col("qy")))
    long.groupBy(col("curve"), col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        (max(col("qx")) - min(col("qx")) + 1L).as("span_x"),
        (max(col("qy")) - min(col("qy")) + 1L).as("span_y"))
      .withColumn("area", col("span_x") * col("span_y"))
      .groupBy(col("curve"))
      .agg(count(lit(1)).as("n_bins"), sum(col("n_rows")).as("n_rows"),
        max(col("area")).as("max_area"), sum(col("area")).as("area_sum"))
      .withColumn("mean_area_micro",
        expr("(area_sum * 1000000L - pmod(area_sum * 1000000L, n_bins)) div n_bins"))
      .select(col("curve"), col("n_bins"), col("n_rows"), col("max_area"),
        col("mean_area_micro"))
  }

  /** SCHEMA-EVOLUTION merge receipt — what actually happens when a
    * 100 TB table's writer gains columns mid-life: batch 1 is written
    * with the v1 schema (doc_id, source), batch 2 with the v2 schema
    * (+ lang, n_chars), and the table is read back with
    * `mergeSchema=true`. The receipt pins the contract: the merged
    * read carries the UNION schema, v1 rows surface the new columns
    * as NULL (never defaults, never errors), and no row is lost —
    * per-column null counts against the row total, oracle-replayable
    * because which rows rode which writer is a pure doc_id predicate.
    *
    * Scale shape: two narrow writes + one merged scan with a single
    * agg (map-side partials); mergeSchema's footer-union cost is
    * per-FILE metadata work, not data work. */
  def schemaMergeReceipt(docs: DataFrame, tmpBase: String): DataFrame = {
    val spark = docs.sparkSession
    docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("source"))
      .write.mode("overwrite").parquet(s"$tmpBase/v1")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$tmpBase/v2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$tmpBase/v1", s"$tmpBase/v2")
    merged
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("null_lang"),
        sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("null_n_chars"),
        sum(when(col("source").isNull, 1L).otherwise(0L)).as("null_source"))
      .select(expr(
        "stack(3, 'lang', null_lang, 'n_chars', null_n_chars, " +
          "'source', null_source) as (col_name, n_null)"),
        col("n_rows"))
      .select(col("col_name"), col("n_null"), col("n_rows"))
  }

  /** Small-file COMPACTION planner — the other half of the layout
    * story ([[fileSkipping]] decides how to cut files; this decides
    * how to heal a table that accumulated too many): treat each doc
    * as an ingest-order file of n_chars bytes and coalesce runs of
    * adjacent files into merge groups by running-total binning
    * (group = prior_bytes div target — the deterministic form of
    * first-fit-in-order every compactor uses; an oversized file
    * naturally owns its group). Output per group: file count, bytes,
    * the doc_id span (compaction must preserve ingest clustering, so
    * groups are contiguous spans), and the fill ratio against target.
    *
    * The one global window runs over FILE METADATA, not data — at
    * 100 TB that is ~10⁶ rows on one task, the same planner-side cost
    * every table-maintenance service pays (and far from the engine's
    * unbounded-corpus-window ban). */
  def compactionPlan(docs: DataFrame, targetBytes: Long = 65536): DataFrame = {
    import graft.functions.VectorMath.roundn
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), col("n_chars").as("bytes"))
      .withColumn("prior", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("grp", expr(s"prior div ${targetBytes}L"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bytes"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .withColumn("fill_ratio",
        roundn(col("bytes").cast("double") / targetBytes.toDouble, 6))
  }

  /** Bucketed + sorted table write: co-locates rows by join key so
    * equi-joins between tables bucketed the same way plan WITHOUT
    * shuffle exchanges — the storage-layout answer to the "big
    * join shuffles every time" problem. At 100 TB, bucket the fact
    * tables on their join key once at ingest and every downstream
    * join/aggregation on that key is exchange-free. Requires
    * saveAsTable (bucket metadata lives in the catalog). */
  def writeBucketed(df: DataFrame, tableName: String, key: String, buckets: Int): Unit =
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(tableName)
  /** Snapshot-retention vacuum planning — the expire-snapshots step
    * of the lakehouse maintenance pair ([[compactionPlan]] merges
    * small files; this reclaims unreferenced ones): a table's history
    * is a set of snapshots each referencing a file set; retention
    * keeps the newest `keepLast`, and a file is reclaimable only when
    * NO kept snapshot references it. The receipt censuses each
    * snapshot (live files/bytes, kept flag) and each file cohort by
    * LAST-referencing snapshot — n_last_ref/last_ref_bytes at
    * snapshot s is exactly what expiring s (and everything older)
    * frees, the number a vacuum run is approved on.
    *
    * Snapshot membership is synthesized pure-in-doc_id (the
    * snapshot_diff convention): file f enters at doc_id % 3 and
    * leaves at enter + 1 + doc_id % 4 (capped by the history length),
    * so both engines derive identical lineage with zero state.
    *
    * Scale shape: membership is a broadcast-spine explode (|files| ×
    * nSnaps rows, map-only); both censuses reduce onto the
    * nSnaps-bounded key. The planner never touches file CONTENT —
    * metadata-only, like every layout receipt. */
  def vacuumPlan(docs: DataFrame, nSnaps: Int = 5, keepLast: Int = 2): DataFrame = {
    val cut = (nSnaps - keepLast).toLong
    val files = docs.select(col("doc_id"), col("n_chars").as("bytes"))
      .withColumn("add_snap", expr("doc_id % 3"))
      .withColumn("del_snap",
        least(expr("doc_id % 3 + 1 + doc_id % 4"), lit(nSnaps.toLong)))
      .withColumn("last_ref", col("del_snap") - 1)
    val snaps = docs.sparkSession.range(0, nSnaps)
      .select(col("id").as("snapshot"))
    val live = files.crossJoin(broadcast(snaps))
      .filter(col("snapshot") >= col("add_snap") &&
        col("snapshot") < col("del_snap"))
      .groupBy(col("snapshot"))
      .agg(count(lit(1)).as("n_live"), sum(col("bytes")).as("live_bytes"))
    val lastRef = files.groupBy(col("last_ref").as("snapshot"))
      .agg(count(lit(1)).as("n_last_ref"), sum(col("bytes")).as("last_ref_bytes"))
    live.join(lastRef, Seq("snapshot"), "left")
      .select(col("snapshot"), (col("snapshot") >= lit(cut)).as("kept"),
        col("n_live"), col("live_bytes"),
        coalesce(col("n_last_ref"), lit(0L)).as("n_last_ref"),
        coalesce(col("last_ref_bytes"), lit(0L)).as("last_ref_bytes"))
  }
}
