package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorMath.roundn

/** Relational breadth for the north star (SURVEY.md §2.3/§2.5/§2.10
  * generalizations): the reference has no two-table joins, window
  * frames, or time windows, but a 100 TB pipeline engine needs them,
  * and the TPC-H-ish testdata exercises every Spark join/agg path.
  *
  * Scale notes are per-op; the common rules: dimension sides are
  * broadcast explicitly, fact-fact joins shuffle on their keys with
  * AQE handling skew, aggregates run partial→final, and filters are
  * written against raw columns so they push into the parquet scan.
  */
object RelationalOps {

  /** Customer⋈orders⋈lineitem revenue rollup by market segment.
    * customer (150 rows/sf0.001) broadcasts; orders⋈lineitem is the
    * one real shuffle, on l_orderkey — the natural co-partition key at
    * any scale (bucket both tables by orderkey in a real deployment
    * and this becomes shuffle-free). */
  def revenueBySegment(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem
      .select(col("l_orderkey"), (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(roundn(sum(col("rev")), 2).as("revenue"), count(lit(1)).as("n_items"))

  /** Star-schema dimension chain (TPC-H Q5 shape): revenue rolled up
    * to region through supplier → nation → region. All three
    * dimension hops are EXPLICIT broadcasts — the fact table streams
    * through one stage with zero fact-side shuffles before the final
    * 5-group aggregation, the plan shape a 100 TB fact scan needs
    * (dimension tables are KBs; re-shuffling the fact per hop would
    * dominate the query). */
  def revenueByRegion(lineitem: DataFrame, supplier: DataFrame, nation: DataFrame,
                      region: DataFrame): DataFrame =
    lineitem
      .select(col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(roundn(sum(col("rev")), 2).as("revenue"), count(lit(1)).as("n_items"))

  /** PIVOT class: per-user event counts spread into one column per
    * event type. The value list is EXPLICIT — at scale the implicit
    * form first runs a distinct-values job over the fact table and
    * caps at spark.sql.pivotMaxValues; a declared dimension list
    * keeps the pivot a single pass. Nulls (user never produced a
    * type) coalesce to 0 so the output is dense. */
  def eventTypePivot(events: DataFrame,
                     types: Seq[String] = Seq("click", "error", "purchase", "signup", "view"))
      : DataFrame = {
    val p = events.groupBy(col("user_id")).pivot("event_type", types).agg(count(lit(1)))
    p.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
  }

  /** EXCEPT ALL — the MULTISET set-difference beside the declared
    * DISTINCT variants (`set_except`/`set_intersect`): row
    * multiplicities subtract instead of collapsing, the semantics a
    * dedup ledger or a bag-diff audit actually needs. Spark rewrites
    * it to the count-difference form (per-key counts on both sides,
    * replicate max(0, cntA − cntB) copies) — one agg exchange plus a
    * generate, never a row-by-row match. */
  def exceptAllEvents(events: DataFrame): DataFrame = {
    val a = events.filter(col("event_id") % 2 === 0)
      .select(col("user_id"), col("event_type"))
    val b = events.filter(col("event_id") % 3 === 0)
      .select(col("user_id"), col("event_type"))
    a.exceptAll(b)
  }

  /** INTERSECT ALL — the multiset intersection twin of
    * [[exceptAllEvents]]: min(cntA, cntB) copies per key. */
  def intersectAllEvents(events: DataFrame): DataFrame = {
    val a = events.filter(col("event_id") % 2 === 0)
      .select(col("user_id"), col("event_type"))
    val b = events.filter(col("event_id") % 3 === 0)
      .select(col("user_id"), col("event_type"))
    a.intersectAll(b)
  }

  /** NULL-AWARE ANTI JOIN receipt — the `NOT IN (subquery)` trap made
    * executable: one NULL in the subquery makes `x NOT IN (...)`
    * UNKNOWN for every row (three-valued logic), so the query returns
    * ZERO rows — while `NOT EXISTS` (a plain left-anti) is
    * null-indifferent and returns the real complement. The receipt
    * derives a key list from F-orders with every 100th key nulled
    * (deterministic injection — the synthetic keys are never null on
    * their own), and emits all three counts side by side: NOT IN over
    * the nulled list (must be 0), NOT IN over the null-free list, and
    * NOT EXISTS (must equal it). Spark plans the NOT IN as a
    * null-aware anti join (isNullAwareAntiJoin=true, single-key
    * broadcast) rather than the quadratic BNLJ-with-OR-isnull form —
    * the plan property that makes NOT IN survivable at 100 TB, pinned
    * in PlanSpec.
    *
    * Scale shape: the key list aggregates/broadcasts; three anti
    * probes over the customer scan; 1-row output. */
  def nullAwareAntiJoinReceipt(customer: DataFrame, orders: DataFrame): DataFrame = {
    val ss = customer.sparkSession
    val suf = ss.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
    val keys = orders.filter(col("o_orderstatus") === "F")
      .select(when(col("o_orderkey") % 100 === 0, lit(null).cast("long"))
        .otherwise(col("o_custkey")).as("k"))
    customer.select(col("c_custkey")).createOrReplaceTempView(s"graft_nacust_$suf")
    keys.createOrReplaceTempView(s"graft_nakeys_$suf")
    ss.sql(
      s"""SELECT
         |  (SELECT count(*) FROM graft_nacust_$suf
         |   WHERE c_custkey NOT IN (SELECT k FROM graft_nakeys_$suf))
         |    AS n_not_in_with_null,
         |  (SELECT count(*) FROM graft_nacust_$suf
         |   WHERE c_custkey NOT IN (SELECT k FROM graft_nakeys_$suf
         |                           WHERE k IS NOT NULL))
         |    AS n_not_in_clean,
         |  (SELECT count(*) FROM graft_nacust_$suf c
         |   WHERE NOT EXISTS (SELECT 1 FROM graft_nakeys_$suf x
         |                     WHERE x.k = c.c_custkey))
         |    AS n_not_exists,
         |  (SELECT count(*) FROM graft_nakeys_$suf WHERE k IS NULL)
         |    AS n_null_keys""".stripMargin)
  }

  /** UNPIVOT (melt) — the inverse of [[eventTypePivot]], closing the
    * reshape pair: the wide per-user count matrix stacks back to long
    * (user, type, n) rows via the `stack` table-generating expression
    * (map-only — no shuffle beyond the pivot's own), zero cells
    * dropped. Declared as a ROUND-TRIP receipt: melt(pivot(events))
    * must equal the plain (user, type) census the oracle states — the
    * identity that pins both reshapes at once.
    *
    * Scale shape: pivot's one user-keyed agg (explicit value list, no
    * distinct-values pre-job); the stack explode is map-side over the
    * |users|-row wide table. */
  def eventsUnpivot(events: DataFrame,
                    types: Seq[String] = Seq("click", "error", "purchase", "signup", "view"))
      : DataFrame = {
    // the round-trip identity only holds if the declared dimension
    // list COVERS the data: a sixth event_type would be silently
    // dropped by the pivot and surface as a non-obvious oracle
    // mismatch — fail loudly instead (bounded localize: at most one
    // offending value ships to the driver)
    val unknown = events.select(col("event_type")).distinct()
      .filter(!col("event_type").isin(types: _*)).limit(1).collect()
    require(unknown.isEmpty,
      s"eventsUnpivot: event_type '${unknown.head.getString(0)}' is not in " +
        s"the declared dimension list ${types.mkString(",")} — extend the list")
    val wide = eventTypePivot(events, types)
    val stackArgs = types.map(t => s"'$t', n_$t").mkString(", ")
    wide.selectExpr("user_id",
        s"stack(${types.length}, $stackArgs) AS (event_type, n)")
      .filter(col("n") > 0L)
  }

  /** GROUPING SETS with grouping_id — the explicit-sets member of the
    * multi-level-aggregate family beside [[rollupPricing]] (prefix
    * hierarchy) and [[cubePricing]] (all subsets): exactly the
    * per-flag, per-status, and grand-total levels, with the
    * `grouping_id()` bitmask distinguishing a real NULL group key
    * from a rolled-up one — the disambiguator the coalesce('ALL')
    * convention alone cannot provide.
    *
    * Scale shape: one expand + one agg exchange, same as rollup; the
    * expansion factor is |sets| = 3, stated not hidden. */
  def groupingSetsPricing(lineitem: DataFrame): DataFrame =
    lineitem
      .select(col("l_returnflag"), col("l_linestatus"),
        round(col("l_quantity")).cast("long").as("qty"))
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), sum(col("qty")).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("gid"), col("sum_qty"), col("n"))

  /** Left-semi join: parts that appear in any lineitem. Semi stops at
    * first match — no row explosion, and Catalyst can pick
    * broadcast/shuffled-hash per side sizes. */
  def partsWithSales(part: DataFrame, lineitem: DataFrame): DataFrame =
    part
      .join(lineitem.select(col("l_partkey")), col("p_partkey") === col("l_partkey"), "left_semi")
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))

  /** W — running sum per user over event time: the frame-spec window
    * query (SURVEY.md §2.5). Partition by user_id bounds state per
    * key; ties broken by event_id. */
  def runningSumPerUser(events: DataFrame): DataFrame =
    events
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn(
        "running_value",
        roundn(
          sum(col("value")).over(
            Window
              .partitionBy(col("user_id"))
              .orderBy(col("ts"), col("event_id"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)),
          4))
      .select(col("event_id"), col("user_id"), col("running_value"))

  /** Tumbling 1-hour aggregation over event time — the batch analog of
    * the streaming windowed agg (SURVEY.md §2.10); `window()` start ≡
    * date_trunc('hour') for aligned tumbling windows, which is what
    * the oracle computes. `ts` arrives as Long nanos (Tables.events);
    * convert to micros-precision timestamp for the time window. */
  def eventsTumblingAgg(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), roundn(sum(col("value")), 4).as("sum_value"))
      .select(
        col("window.start").as("hour_start"),
        col("event_type"),
        col("n_events"),
        col("sum_value"))

  /** Set-operation class: EXCEPT with SQL DISTINCT semantics
    * (Dataset.except ≡ EXCEPT DISTINCT in both engines). Union is
    * exercised by upsertSource, INTERSECT by [[intersectDocs]]. */
  def exceptDocs(docs: DataFrame, keepBelow: Long, dropBelow: Long): DataFrame =
    docs.select(col("doc_id"), col("source")).filter(col("doc_id") < keepBelow)
      .except(docs.select(col("doc_id"), col("source")).filter(col("doc_id") < dropBelow))

  /** INTERSECT DISTINCT — completes the set-op family. Planned as a
    * left-semi hash join over distinct rows (one shuffle on the full
    * row key), same scale shape as except. */
  def intersectDocs(docs: DataFrame, below: Long, atLeast: Long): DataFrame =
    docs.select(col("doc_id"), col("source")).filter(col("doc_id") < below)
      .intersect(docs.select(col("doc_id"), col("source")).filter(col("doc_id") >= atLeast))

  /** Ranking-family breadth beyond row_number: ntile quartile
    * assignment of each event's value within its type. Both engines
    * define ntile identically (earlier buckets take the remainder);
    * (value, event_id) ordering makes bucket edges deterministic. */
  def valueQuartiles(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("event_type"),
      ntile(4).over(Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))).cast("long").as("value_quartile"))

  /** Date/time scalar class over the one DATE-bearing column in the
    * corpus (l_shipdate): calendar rollup by year × quarter. At scale
    * this is the query that partition pruning serves — a date-
    * partitioned fact table turns the year predicate into pruned
    * directories (PersistOps.writePartitioned). */
  def shipDateRollup(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(
        year(col("l_shipdate")).cast("long").as("ship_year"),
        quarter(col("l_shipdate")).cast("long").as("ship_quarter"))
      .agg(
        count(lit(1)).as("n_items"),
        roundn(sum(col("l_quantity")), 2).as("sum_qty"),
        roundn(avg(col("l_discount")), 6).as("avg_discount"))

  /** Ordered array-aggregation class: each user's event-type path in
    * time order, rendered as a string (hash-comparable). Determinism:
    * collect_list order is shuffle-dependent, so the struct is sorted
    * by (ts, event_id) AFTER collection — sort_array on the struct
    * gives the explicit order an ORDER BY inside the aggregate gives
    * the oracle. */
  def userEventPaths(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")),
          ">").as("path"),
        count(lit(1)).as("n_events"))

  /** First-order Markov TRANSITION MATRIX over per-user event
    * sequences — the behavioral-model summary [[userEventPaths]]'s
    * rendered strings can't aggregate: for every consecutive
    * (event → next event) pair within a user's time-ordered stream,
    * the transition count and the conditional probability
    * P(to | from) = n(from→to) / n(from→·). The matrix is what
    * next-event prediction baselines, funnel-leak triage, and
    * session-simulation samplers are built from.
    *
    * Determinism: successor via lead() over (ts, event_id) — the
    * total order both engines agree on; probabilities are one integer
    * ratio rounded once.
    *
    * Scale shape: ONE shuffle (the user-partitioned window, uniform
    * user axis — same shape as sessionize); pair counts reduce onto
    * the bounded |types|² key with map-side partials; row totals are
    * a |types|-row agg broadcast back. No global windows, no joins on
    * the fact stream. */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    val fromTotals = counts.groupBy(col("from_type"))
      .agg(sum(col("n_trans")).as("n_from"))
    counts.join(broadcast(fromTotals), "from_type")
      .withColumn("p_trans",
        roundn(col("n_trans").cast("double") / col("n_from").cast("double"), 6))
      .select(col("from_type"), col("to_type"), col("n_trans"), col("n_from"),
        col("p_trans"))
  }

  /** Entropy RATE of the event-type Markov chain — how predictable
    * the next event is given the current one, in nats/transition
    * (the sequence-model companion to [[TextOps.charEntropy]]'s
    * within-document screen and [[markovAccuracy]]'s argmax audit:
    * accuracy grades one decision rule, the entropy rate bounds EVERY
    * rule — it is the irreducible per-step surprisal, so a sequence
    * model beating it is memorizing, and a rate near ln|types| says
    * transitions carry no signal worth modeling): per from-type the
    * conditional entropy H_i = −Σ_j p_ij·ln p_ij, and the chain rate
    * Σ_i π_i·H_i under the EMPIRICAL from-distribution π (observed
    * shares, not the stationary eigenvector — stated; they coincide
    * as the chain mixes).
    *
    * Determinism: each ln(n_ij/n_i) rounds to 6dp, the per-from fold
    * sums n_ij·ln over the |types|-bounded to_type order and divides
    * by n_i once ([[TextOps.charEntropy]]'s recipe); the rate folds
    * n_i·H_i in from order and divides by N once.
    *
    * Scale shape: one user-keyed sort serves the lead() tap (shared
    * with [[eventTransitions]] — same census); everything after runs
    * on ≤ |types|² rows with broadcast totals. */
  def markovEntropy(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTot = counts.groupBy(col("from_type")).agg(sum(col("n")).as("n_from"))
    val h = counts.join(broadcast(fromTot), "from_type")
      .groupBy(col("from_type"), col("n_from"))
      .agg(graft.functions.VectorMath.orderedSum(
        col("to_type"),
        col("n") * roundn(log(col("n") / col("n_from")), 6)).as("s_raw"))
      .select(col("from_type"), col("n_from"),
        roundn(-col("s_raw") / col("n_from"), 6).as("h_cond"))
    val nTotal = h.agg(sum(col("n_from")).as("n_all"))
    val rate = h.crossJoin(broadcast(nTotal))
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("from_type"), col("n_from") * col("h_cond")) / max(col("n_all")), 6)
        .as("entropy_rate"))
    h.crossJoin(broadcast(nTotal)).crossJoin(broadcast(rate))
      .select(col("from_type"), col("n_from"),
        roundn(col("n_from") / col("n_all"), 6).as("share"),
        col("h_cond"), col("entropy_rate"))
  }

  /** The Markov model's declared AUDIT — [[eventTransitions]] trains
    * a transition matrix; this grades it on data it never saw (the
    * NB→confusion / GD→cv_folds / ANN→recall convention): adjacent
    * (from, to) pairs split at the calendar midpoint of the FROM
    * event's day, the train half's per-from argmax becomes the
    * predicted next type, and the test half reports per-from
    * accuracy. A from-type unseen in training predicts null and
    * scores 0 — stated, not silent.
    *
    * Scale shape: one user-keyed sort serves the lead() tap; the
    * model is a |types|²-bounded agg broadcast into the test pairs;
    * the audit agg keys on |types|. */
  def markovAccuracy(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"),
        expr(s"ts div ${dayNanos}L").as("day"))
    val bounds = pairs.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val split = pairs.crossJoin(broadcast(bounds))
      .withColumn("is_train", col("day") < expr("(dmin + dmax + 1) div 2"))
    val transitions = split.filter(col("is_train"))
      .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("c"))
    val model = Rank.top(transitions, Seq(col("from_type")),
        Seq(col("c").desc, col("to_type")), lit(1))
      .select(col("from_type"), col("to_type").as("predicted_next"))
    split.filter(!col("is_train"))
      .join(broadcast(model), Seq("from_type"), "left")
      .groupBy(col("from_type"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("to_type") === col("predicted_next"), 1L).otherwise(0L))
          .as("n_correct"),
        max(col("predicted_next")).as("predicted_next"))
      .withColumn("accuracy", roundn(col("n_correct") / col("n_test"), 6))
      .select(col("from_type"), col("predicted_next"), col("n_test"),
        col("n_correct"), col("accuracy"))
  }

  /** Cohort retention — the canonical product-analytics matrix: users
    * cohorted by first-active day; each (cohort_day, day_offset) cell
    * counts the cohort members active that day, with the retention
    * rate against the cohort's size. Day index is integer `div` on
    * the Long-nanos event axis (float division could mis-bucket a
    * midnight boundary — same rationale as [[hourlyGapFill]]).
    *
    * Scale shape at 100 TB: the (user, day) distinct and the per-user
    * min shuffle on the uniform user axis; the activity→cohort join
    * is co-keyed on user_id (no re-shuffle under the same
    * partitioning); the retention agg re-keys to (cohort, offset) —
    * calendar-bounded cardinality; cohort sizes are |days| rows and
    * broadcast into the final join. No window functions, no skew
    * candidates (a hot DAY is absorbed by the user-keyed stages;
    * cohort keys are date-bounded). */
  /** Seasonal (hour-of-day) profile per event type — the calendar
    * baseline behind anomaly screens: event volume and mean value
    * per (type, hour-of-day) cycle position, with each type's peak
    * hour ranked (rank 1 = the type's busiest hour; the deterministic
    * (n desc, hour asc) tie-break). Deviations-from-baseline screens
    * ([[valueOutliers]], [[madOutliers]]-style) compare against THIS
    * table instead of a global mean when traffic is diurnal.
    *
    * Scale shape: one (type, hod)-keyed agg with map-side partials
    * over the stream (the key space is |types|·24 — bounded); the
    * rank window partitions by type over ≤24 rows. */
  def eventsSeasonality(events: DataFrame): DataFrame = {
    val hourNanos = 3600L * 1000 * 1000 * 1000
    val prof = events
      .select(col("event_type"),
        (expr(s"ts div ${hourNanos}L") % 24).as("hour_of_day"), col("value"))
      .groupBy(col("event_type"), col("hour_of_day"))
      .agg(count(lit(1)).as("n_events"), roundn(avg(col("value")), 6).as("avg_value"))
    prof.withColumn("peak_rank",
      row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("n_events").desc, col("hour_of_day"))).cast("long"))
  }

  /** k-anonymity audit — the privacy-governance gate a training
    * corpus with user-derived rows needs before release (Sweeney,
    * IJUFKS 2002): build each user's QUASI-IDENTIFIER profile
    * (coarsened activity volume, dominant event type, coarsened
    * active-day count — the attacker-observable shape of a user),
    * group users into equivalence classes sharing a profile, and
    * report the class-size (k) distribution. A class of k = 1 is a
    * re-identifiable user; releases typically require min-k ≥ some
    * threshold, and the 1 / 2-4 bands are exactly the rows a
    * generalize-further loop would act on (coarser buckets → larger
    * classes, the k-anonymity trade).
    *
    * Determinism: the dominant type is a row_number argmax with a
    * (count desc, type asc) tie-break; buckets are integer floor-div
    * — both engines agree exactly.
    *
    * Scale shape: two user-keyed aggs (uniform key, map-side
    * partials) + one small join; class keys are bounded (buckets ×
    * types), the band agg is 4 rows. No windows over unbounded sets
    * (the argmax window partitions by user — bounded by |types|). */
  def kAnonymity(events: DataFrame): DataFrame = {
    val classes = quasiProfile(events)
      .groupBy(col("activity_bucket"), col("top_type"), col("days_bucket"))
      .agg(count(lit(1)).as("k"))
    classes
      .withColumn("k_band",
        when(col("k") === 1, "1").when(col("k") <= 4, "2-4")
          .when(col("k") <= 19, "5-19").otherwise("20+"))
      .groupBy(col("k_band"))
      .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_users"))
  }

  /** The quasi-identifier profile the three privacy audits share, one
    * row per user: (user_id, activity_bucket, days_bucket, top_type) —
    * event count and active days floor-divided into ≤ 11 buckets each,
    * and the dominant event type (count desc, type asc). */
  private def quasiProfile(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val typeCounts = events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_t"))
    val topType = Rank.top(typeCounts, Seq(col("user_id")),
        Seq(col("n_t").desc, col("event_type")), lit(1))
      .select(col("user_id"), col("event_type").as("top_type"))
    events
      .select(col("user_id"), expr(s"ts div ${dayNanos}L").as("day"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"), countDistinct(col("day")).as("n_days"))
      .select(col("user_id"),
        least(lit(10L), expr("n_ev div 10")).as("activity_bucket"),
        least(lit(10L), expr("n_days div 3")).as("days_bucket"))
      .join(topType, "user_id")
  }

  /** l-diversity audit — [[kAnonymity]]'s companion (Machanavajjhala
    * et al. '07): k-anonymity bounds re-IDENTIFICATION, but a class
    * whose members all share one sensitive value still leaks it to
    * anyone who places a user in the class. Here the quasi-identifier
    * class is the (activity_bucket, days_bucket) profile and the
    * sensitive attribute is the user's dominant event type: per
    * class, k members, l = distinct sensitive values, and the
    * release gate l ≥ `lMin` (distinct-l-diversity).
    *
    * Scale shape: two user-keyed aggs sharing the events scan shape
    * kAnonymity uses, then a bounded-key (≤ 11·11) class agg —
    * nothing wider than the per-user reduction. */
  def lDiversity(events: DataFrame, lMin: Long = 3): DataFrame =
    quasiProfile(events)
      .groupBy(col("activity_bucket"), col("days_bucket"))
      .agg(count(lit(1)).as("k"),
        countDistinct(col("top_type")).as("l_distinct"))
      .withColumn("diverse_ok", col("l_distinct") >= lMin)

  /** Differentially-private count release, the mechanism made
    * REPLAYABLE — [[kAnonymity]]'s sibling in the governance family
    * (k-anonymity audits re-identifiability; this is the other
    * standard release path, ε-DP noisy counts): per event type, the
    * Laplace(1/ε) mechanism at three ε budgets, with the noise drawn
    * DETERMINISTICALLY by inverse-CDF on the portable 48-bit hash of
    * (ε index, type) — u = (h+½)/2⁴⁸, noise = −sign(u−½)·ln(1−2|u−½|)/ε
    * — so the whole stochastic mechanism is bit-reproducible and the
    * oracle pins every noisy count exactly (the `events_bootstrap`
    * discipline applied to privacy noise). The ε sweep is the
    * privacy/utility trade as a receipt: half the budget, double the
    * expected |noise|.
    *
    * True counts ride along as the receipt's ground truth (this is a
    * mechanism test, not a release); a production release would emit
    * n_noisy only.
    *
    * Scale shape: one bounded |types| agg with map-side partials; the
    * noise arithmetic is per-output-row scalar work. */
  def dpCounts(events: DataFrame,
               epsilons: Seq[Double] = Seq(0.5, 1.0, 2.0)): DataFrame = {
    val base = events.groupBy(col("event_type")).agg(count(lit(1)).as("n_true"))
    epsilons.zipWithIndex.map { case (eps, ei) =>
      base
        .withColumn("u",
          (graft.functions.PortableHash.hash48(
            concat(lit(s"dp$ei:"), col("event_type"))) + lit(0.5)) /
            lit(281474976710656.0))
        .withColumn("noise", roundn(
          (lit(-1.0) * signum(col("u") - lit(0.5))) *
            log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5))) / lit(eps), 6))
        .select(lit(eps).as("epsilon"), col("event_type"), col("n_true"),
          col("noise"), roundn(col("n_true") + col("noise"), 6).as("n_noisy"))
    }.reduce(_ unionByName _)
  }

  /** Event-level vs USER-level DP sensitivity audit — the gap
    * [[dpCounts]] ships with: Laplace(1/ε) noise protects one ROW,
    * but a per-event_type count's user-level L1 sensitivity is the
    * max rows any single user contributes to that type. If a release
    * must protect users, the effective privacy cost inflates by
    * exactly that factor (group privacy): ε_eff = ε · max_user_rows.
    * This measures the factor per event type against each declared ε
    * — the "are we actually promising user-level privacy" check a
    * governance review asks first.
    *
    * Determinism: all-integer output (ε's are exact micro literals).
    * Scale shape: one (event_type, user) keyed agg with map-side
    * partials, one bounded per-type rollup, a 3-row ε explode. */
  def dpSensitivityAudit(events: DataFrame,
                         epsilons: Seq[Double] = Seq(0.5, 1.0, 2.0)): DataFrame = {
    val eps6 = epsilons.map(e => BigDecimal(e).*(BigDecimal(1000000)).toLongExact)
    events.groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        max(col("n")).as("max_user_rows"))
      .select(col("event_type"), col("n_users"), col("max_user_rows"),
        explode(array(eps6.map(lit(_)): _*)).as("eps6"))
      .withColumn("eps_effective6", col("eps6") * col("max_user_rows"))
  }

  def cohortRetention(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val active = events
      .select(col("user_id"), expr(s"ts div ${dayNanos}L").as("day"))
      .distinct()
    val cohorts = active.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val cells = active.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_active")) // (user, day) is distinct already
    val sizes = cohorts.groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_size"))
    cells.join(broadcast(sizes), "cohort_day")
      .withColumn("retention",
        graft.functions.VectorMath.roundn(
          col("n_active").cast("double") / col("cohort_size"), 6))
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_size"), col("retention"))
  }

  /** Count-distinct class: exact distinct users per event type.
    * (The approximate tier — approx_count_distinct/HLL — can't be
    * oracle-hash-checked; the exact form covers the semantics and at
    * scale is swapped per accuracy budget.) */
  def distinctUsers(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))

  /** Moment-statistics class: spread and extrema of value per type.
    * stddev/variance are sums of squares — order-sensitive doubles —
    * so rounded at 4 (SURVEY §7.4). */
  def valueStats(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(
        roundn(stddev_samp(col("value")), 4).as("sd_value"),
        roundn(var_samp(col("value")), 4).as("var_value"),
        roundn(min(col("value")), 6).as("min_value"),
        roundn(max(col("value")), 6).as("max_value"),
        roundn(avg(col("value")), 6).as("avg_value"))

  /** Statistics class: exact quartiles of event value per type.
    * `percentile` (exact, linear interpolation) rather than
    * percentile_approx so the oracle can match bit-for-bit; at
    * 100 TB swap to approx_percentile and accept rows-only checks —
    * exact percentile shuffles the full value set per group. */
  def valuePercentiles(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.25, 0.5, 0.75))").as("ps"))
      .select(col("event_type"), posexplode(col("ps")).as(Seq("qi", "v")))
      .select(
        col("event_type"),
        col("qi").cast("long").as("qi"),
        roundn(col("v"), 6).as("quantile_value"))

  /** Winsorization census — the robust-statistics clipping step
    * (cap telemetry at per-group p05/p95 before aggregating, so a
    * handful of wild values can't drag the means): per event type,
    * the clip bounds and how many rows each tail would clip. Bounds
    * are ROUNDED before the comparison on both engines, so a value
    * equal to the printed bound classifies identically (the
    * events_outliers boundary rule).
    *
    * Scale shape: one exact-percentile agg per type (|types| rows —
    * becomes approx_percentile at 100 TB, the swap approx_stats_check
    * already pins) broadcast back over the stream; counting is one
    * map-side-combined agg. */
  def winsorizeCounts(events: DataFrame): DataFrame = {
    val bounds = events
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.05, 0.95))").as("ps"))
      .select(col("event_type"),
        roundn(element_at(col("ps"), 1), 6).as("p05"),
        roundn(element_at(col("ps"), 2), 6).as("p95"))
    events
      .join(broadcast(bounds), "event_type")
      .groupBy(col("event_type"))
      .agg(
        first(col("p05")).as("p05"),
        first(col("p95")).as("p95"),
        sum(when(col("value") < col("p05"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col("value") > col("p95"), 1L).otherwise(0L)).as("n_above"),
        count(lit(1)).as("n_total"))
  }

  /** Per-user windowed lag features — the feature-engineering step a
    * sequence model trains on: previous value, delta, and the
    * 3-event rolling mean over each user's time-ordered stream.
    * Ordering key is (ts, event_id) so simultaneous events resolve
    * deterministically on both engines; the rolling mean's frame
    * (ROWS 2 PRECEDING) fixes the fold order, so the float sum is
    * bit-identical across engines and the one round suffices.
    *
    * Scale shape: ONE user-keyed exchange; lag and the rolling frame
    * share the same (user, ts) sort — Spark plans one Window over one
    * Sort, no second shuffle. State per row is the 3-row frame. */
  def lagFeatures(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("delta", roundn(col("value") - col("prev_value"), 6))
      .withColumn("rolling_avg3",
        roundn(avg(col("value")).over(w.rowsBetween(-2, 0)), 6))
      .select(col("event_id"), col("user_id"),
        roundn(col("value"), 6).as("value"),
        roundn(col("prev_value"), 6).as("prev_value"),
        col("delta"), col("rolling_avg3"))
  }

  /** Association mining over behavior BASKETS — market-basket lift
    * (Agrawal/Srikant lineage) on event types: a basket is the
    * distinct type set a user touches in a day; for every type pair,
    * support and lift = P(ab)/(P(a)·P(b)) (> 1 ⇒ the types co-occur
    * beyond independence — the cross-feature signal segmentation and
    * recommendation start from), plus both directional confidences.
    *
    * Scale shape: baskets reduce via one (user, day)-keyed agg
    * (sorted sets — collect_set order is run-dependent, sort_array
    * pins it); PAIR GENERATION IS MAP-ONLY from each basket's array
    * (nested transform over index pairs — never a per-basket
    * self-join shuffle; baskets are ≤|types| wide so the expression
    * is bounded); pair counts and singles are bounded aggs; the
    * basket total is a 1-row scalar crossJoin. */
  def basketLift(events: DataFrame, minSupport: Int = 5): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val baskets = events
      .select(col("user_id"), expr(s"ts div ${dayNanos}L").as("day"), col("event_type"))
      .distinct()
      .groupBy(col("user_id"), col("day"))
      .agg(sort_array(collect_set(col("event_type"))).as("items"))
    val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
    val singles = baskets
      .select(explode(col("items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("n_single"))
    val pairs = baskets
      // singleton baskets have no pairs — and sequence(1, 0) DESCENDS
      // in Spark rather than being empty (the bpeLoop lesson), so
      // they must leave before the transform
      .filter(size(col("items")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(items) - 1), i ->
          |  transform(sequence(i + 1, size(items)), j ->
          |    struct(items[i - 1] AS a, items[j - 1] AS b))))""".stripMargin)).as("p"))
      .select(col("p.a"), col("p.b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .join(broadcast(singles.select(col("item").as("a"), col("n_single").as("n_a"))), "a")
      .join(broadcast(singles.select(col("item").as("b"), col("n_single").as("n_b"))), "b")
      .crossJoin(broadcast(nBaskets))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        roundn(col("n_ab").cast("double") * col("n_baskets") /
          (col("n_a").cast("double") * col("n_b")), 6).as("lift"),
        roundn(col("n_ab").cast("double") / col("n_a"), 6).as("conf_a_to_b"),
        roundn(col("n_ab").cast("double") / col("n_b"), 6).as("conf_b_to_a"))
  }

  /** Seasonal-naive FORECAST BACKTEST — the evaluation loop behind
    * any metric-forecasting claim, run in-engine: split each type's
    * calendar at its midpoint, fit the hour-of-day baseline on the
    * TRAIN half only ([[eventsSeasonality]]'s profile, honestly
    * out-of-sample), predict every TEST-half event by its cycle slot,
    * and report MAE and signed bias. A later model must beat THIS
    * number to justify itself — the backtest receipt.
    *
    * Determinism: the split day is integer arithmetic on the per-type
    * day bounds; baselines are rounded once; residuals derive from
    * identical doubles; the error means are plain partial aggregates
    * over raw-magnitude doubles (off-grid inputs — the meanPool
    * trade, not the rounded-sum hazard class).
    *
    * Scale shape: one bounds agg broadcast back (split assignment is
    * map-side); the baseline is a bounded (type, hod) agg over the
    * train slice; the test slice joins it BROADCAST and reduces to
    * |types| rows. An unmatched test hour (slot absent from train)
    * drops from the join — n_test counts scored rows only. */
  def eventsForecastBacktest(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val hourNanos = 3600L * 1000 * 1000 * 1000
    val base = events.select(col("event_type"),
      expr(s"ts div ${dayNanos}L").as("day"),
      (expr(s"ts div ${hourNanos}L") % 24).as("hour_of_day"), col("value"))
    val bounds = base.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .withColumn("split_day", expr("(d0 + d1 + 1) div 2"))
      .select(col("event_type"), col("split_day"))
    val marked = base.join(broadcast(bounds), "event_type")
    val train = marked.filter(col("day") < col("split_day"))
    val test = marked.filter(col("day") >= col("split_day"))
    val profile = train.groupBy(col("event_type"), col("hour_of_day"))
      .agg(roundn(avg(col("value")), 6).as("baseline"))
    val nTrain = train.groupBy(col("event_type")).agg(count(lit(1)).as("n_train"))
    test
      .join(broadcast(profile), Seq("event_type", "hour_of_day"))
      .withColumn("resid", col("value") - col("baseline"))
      .groupBy(col("event_type"))
      .agg(first(col("split_day")).as("split_day"),
        count(lit(1)).as("n_test"),
        roundn(avg(abs(col("resid"))), 6).as("mae"),
        roundn(avg(col("resid")), 6).as("bias"))
      .join(broadcast(nTrain), "event_type")
      .select(col("event_type"), col("split_day"), col("n_train"),
        col("n_test"), col("mae"), col("bias"))
  }

  /** Lag-k autocorrelation of the per-type DAILY mean series — the
    * time-series diagnostic that justifies (or kills) the seasonal
    * baseline: r_k = Σ(y_t−ȳ)(y_{t+k}−ȳ) / Σ(y_t−ȳ)² for k = 1..7.
    * Lag pairing is a calendar-key self-join (day+k = day'), NOT a
    * lead() over observed rows — gaps in the calendar must break
    * pairs, not silently shift them.
    *
    * Determinism: daily means round once; deviations live on the 6dp
    * grid; numerator and denominator are day-ordered folds rounded
    * once; a zero denominator (constant series) emits an explicit
    * 0.0 (the abTest guard — ANSI throws on the naive 0/0).
    *
    * Scale shape: one (type, day) agg collapses the stream; all lag
    * joins and folds run on the calendar-bounded daily table. */
  def eventsAutocorr(events: DataFrame, maxLag: Int = 7): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val daily = events
      .select(col("event_type"), expr(s"ts div ${dayNanos}L").as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(roundn(avg(col("value")), 6).as("m"))
    val mean = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        roundn(graft.functions.VectorMath.orderedSum(col("day"), col("m")), 6).as("sm"))
      .withColumn("mm", roundn(col("sm") / col("n_days"), 6))
      .select(col("event_type"), col("mm"))
    val d = daily.join(broadcast(mean), "event_type")
      .withColumn("dev", col("m") - col("mm"))
      .select(col("event_type"), col("day"), col("dev"))
      .localCheckpoint(false)
    val den = d.groupBy(col("event_type"))
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("day"), col("dev") * col("dev")), 6).as("den"))
    val lags = (1 to maxLag).map { k =>
      d.join(d.select(col("event_type"), (col("day") - k).as("day"),
          col("dev").as("dev_k")), Seq("event_type", "day"))
        .groupBy(col("event_type"))
        .agg(roundn(graft.functions.VectorMath.orderedSum(
          col("day"), col("dev") * col("dev_k")), 6).as("num"),
          count(lit(1)).as("n_pairs"))
        .withColumn("lag", lit(k.toLong))
    }.reduce(_ unionByName _)
    lags.join(broadcast(den), "event_type")
      .withColumn("autocorr",
        when(col("den") > 0.0, roundn(col("num") / col("den"), 6))
          .otherwise(lit(0.0)))
      .select(col("event_type"), col("lag"), col("n_pairs"), col("autocorr"))
  }

  /** Split-conformal prediction intervals for the seasonal-naive
    * forecaster — [[eventsForecastBacktest]] grades the POINT
    * forecast; this attaches honest uncertainty: the calendar splits
    * in THIRDS per type (train fits the hour-of-day baseline, the
    * CALIBRATION third yields empirical q05/q95 residual quantiles —
    * the split-conformal recipe, Vovk et al. — and the held-out
    * final third measures the interval's TRUE coverage). Computing
    * quantiles and coverage on the same rows would make ~90%
    * tautological; the three-way split is what makes the receipt a
    * claim.
    *
    * Determinism: baselines and quantile bounds round once; the
    * coverage comparison uses the ROUNDED bounds (the winsorize
    * boundary rule). Scale shape: bounded (type, hod) baseline and
    * |types|-row quantile aggs broadcast back; exact percentile
    * becomes approx_percentile at 100 TB (the approx_stats_check
    * swap). */
  def forecastInterval(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val hourNanos = 3600L * 1000 * 1000 * 1000
    val base = events.select(col("event_type"),
      expr(s"ts div ${dayNanos}L").as("day"),
      (expr(s"ts div ${hourNanos}L") % 24).as("hour_of_day"), col("value"))
    val bounds = base.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .withColumn("cut1", expr("d0 + (d1 - d0 + 1) div 3"))
      .withColumn("cut2", expr("d0 + (2 * (d1 - d0 + 1)) div 3"))
      .select(col("event_type"), col("cut1"), col("cut2"))
    val marked = base.join(broadcast(bounds), "event_type")
    val train = marked.filter(col("day") < col("cut1"))
    val cal = marked.filter(col("day") >= col("cut1") && col("day") < col("cut2"))
    val hold = marked.filter(col("day") >= col("cut2"))
    val profile = train.groupBy(col("event_type"), col("hour_of_day"))
      .agg(roundn(avg(col("value")), 6).as("baseline"))
    val qs = cal.join(broadcast(profile), Seq("event_type", "hour_of_day"))
      .withColumn("resid", col("value") - col("baseline"))
      .groupBy(col("event_type"))
      .agg(expr("percentile(resid, array(0.05, 0.95))").as("ps"))
      .select(col("event_type"),
        roundn(element_at(col("ps"), 1), 6).as("q05"),
        roundn(element_at(col("ps"), 2), 6).as("q95"))
    hold.join(broadcast(profile), Seq("event_type", "hour_of_day"))
      .join(broadcast(qs), "event_type")
      .withColumn("resid", col("value") - col("baseline"))
      .groupBy(col("event_type"))
      .agg(first(col("q05")).as("q05"), first(col("q95")).as("q95"),
        count(lit(1)).as("n_eval"),
        sum(when(col("resid") >= col("q05") && col("resid") <= col("q95"), 1L)
          .otherwise(0L)).as("n_covered"))
      .withColumn("coverage", roundn(col("n_covered") / col("n_eval"), 6))
  }

  /** Per-type metric TREND — fixed-point OLS of the daily mean
    * against the day index (the `zipf_fit` integer-micro regression
    * applied per group): slope sign and magnitude are the
    * drift-direction diagnostic next to [[eventsChangepoint]]'s
    * level-shift screen and [[eventsSeasonality]]'s cycle baseline.
    *
    * Determinism: daily means round once; x = raw day index (exact
    * integer), y = mean in integer micros; the per-type OLS sums are
    * exact Long arithmetic (order-free, partial-aggregable) and the
    * two final doubles are computed from identical integers on both
    * engines.
    *
    * Scale shape: the stream reduces to the calendar-bounded daily
    * table (map-side partials); the regression is one bounded
    * per-type agg — no windows, no sorts. Types observed on a single
    * day are dropped (n_days ≥ 2): one point defines no slope, and
    * the OLS denominator n·sxx − sx² is 0 there (NaN on both
    * engines otherwise). */
  def eventsTrend(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val daily = events
      .select(col("event_type"), expr(s"ts div ${dayNanos}L").as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(roundn(avg(col("value")), 6).as("m"))
      .select(col("event_type"), col("day").as("x"),
        round(col("m") * 1e6).cast("long").as("y6"))
    daily
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y6")).as("sy"),
        sum(col("x") * col("y6")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n_days") >= 2)
      .withColumn("slope_raw",
        (col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
          ((col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double") * 1e6))
      .select(col("event_type"), col("n_days"),
        roundn(col("slope_raw"), 6).as("slope"),
        roundn((col("sy").cast("double") / 1e6 -
          col("slope_raw") * col("sx").cast("double")) / col("n_days"), 6)
          .as("intercept"))
  }

  /** Incremental-view-maintenance receipt — the contract behind every
    * streaming/merge-on-read aggregate: a DECOMPOSABLE aggregate
    * state (integer cent sums + counts) computed over base and delta
    * partitions SEPARATELY and merged must equal the single-pass
    * aggregate over the union, exactly. Pinned per group as a
    * boolean: float sums would make this flaky (merge order), integer
    * state makes it an identity — which is precisely why the engine
    * keeps money in cents and responsibilities in micros everywhere.
    *
    * Scale shape: three aggs on the same uniform group key (two over
    * disjoint partition slices, one over the whole), merged with a
    * bounded join. At 100 TB the "full" twin is the receipt's cost —
    * production keeps only base state + delta merge. */
  def ivmReceipt(lineitem: DataFrame): DataFrame = {
    def agg(df: DataFrame, pfx: String): DataFrame =
      df.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as(s"${pfx}_n"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as(s"${pfx}_cents"))
    val base = agg(lineitem.filter(col("l_orderkey") % 2 === 0), "base")
    val delta = agg(lineitem.filter(col("l_orderkey") % 2 === 1), "delta")
    val full = agg(lineitem, "full")
    full.join(base, Seq("l_returnflag"), "left").join(delta, Seq("l_returnflag"), "left")
      .select(col("l_returnflag"), col("full_n"), col("full_cents"),
        (coalesce(col("base_n"), lit(0L)) + coalesce(col("delta_n"), lit(0L)))
          .as("merged_n"),
        (coalesce(col("base_cents"), lit(0L)) + coalesce(col("delta_cents"), lit(0L)))
          .as("merged_cents"))
      .withColumn("maintained_ok",
        col("full_n") === col("merged_n") && col("full_cents") === col("merged_cents"))
  }

  /** RFM segmentation — the classic customer-value grid
    * (recency / frequency / monetary), scored WITHOUT a corpus-wide
    * sort: ntile's position-based buckets would need one global sort
    * per dimension (the single-partition window the engine bans on
    * data-sized tables — the watermark_profile lesson), so scores are
    * VALUE-based cumulative quintiles instead: per metric, a
    * distinct-value census with a cumulative count window (census is
    * calendar-/count-/|users|-bounded, never event-sized), and
    * score(v) = ceil(5·c(v)/n) as exact integer arithmetic — ties
    * share a score by construction, which is also the defensible
    * semantics (two identical customers never land in different
    * bands). Recency cumulates DESCENDING (most recent ⇒ 5).
    *
    * Output: per segment (the standard champion/loyal/big-spender/
    * at-risk/hibernating/regular rules over the score grid) —
    * n_users, total monetary cents, mean recency days.
    *
    * Scale shape: one user-keyed purchase agg; three census aggs with
    * windows over distinct-value tables; three broadcast score-map
    * joins back; a ≤6-key final agg. */
  def rfmSegments(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), expr(s"ts div ${dayNanos}L").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    val horizon = p.agg(max(col("day")).as("hday"))
    val rfm = p.groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("f"),
        sum(col("cents")).as("m_cents"))
      .crossJoin(broadcast(horizon))
      .withColumn("r_days", col("hday") - col("last_day"))
      .localCheckpoint(false)
    // value-census quintile map for one metric: score(v) =
    // ceil(5 · cum(v) / n) over the ordered distinct-value census
    def scoreMap(metric: String, descending: Boolean): DataFrame = {
      val census = rfm.groupBy(col(metric)).agg(count(lit(1)).as("cnt"))
      val w = (if (descending) Window.orderBy(col(metric).desc)
               else Window.orderBy(col(metric)))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      census
        .withColumn("cum", sum(col("cnt")).over(w))
        .crossJoin(broadcast(rfm.agg(count(lit(1)).as("n"))))
        .select(col(metric),
          expr("(5 * cum + n - 1) div n").as(s"${metric}_score"))
    }
    val scored = rfm
      .join(broadcast(scoreMap("r_days", descending = true)), "r_days")
      .join(broadcast(scoreMap("f", descending = false)), "f")
      .join(broadcast(scoreMap("m_cents", descending = false)), "m_cents")
    scored
      .withColumn("segment",
        when(col("r_days_score") >= 4 && col("f_score") >= 4, "champion")
          .when(col("f_score") >= 4, "loyal")
          .when(col("m_cents_score") >= 4, "big_spender")
          .when(col("r_days_score") <= 2 && col("f_score") <= 2, "hibernating")
          .when(col("r_days_score") <= 2, "at_risk")
          .otherwise("regular"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("m_cents")).as("total_m_cents"),
        roundn(avg(col("r_days")), 6).as("avg_r_days"))
  }

  /** Pre-conversion path mining — the sequence-pattern member of the
    * events family (the SPADE/PrefixSpan question asked at fixed
    * depth): for every purchase, the exact 3-event-type path that
    * immediately preceded it in the user's stream, counted and
    * ranked with its share — "what do users DO right before they
    * convert", which the unordered funnel counts flatten away.
    *
    * Scale shape: three lag() taps over ONE user-keyed sort (the
    * [[funnelDepth]] discipline — never a shuffle per depth), a
    * |types|³-bounded path agg, a 1-row total broadcast back, and a
    * TakeOrderedAndProject top-k. */
  def prePurchasePaths(events: DataFrame, k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seq = events
      .withColumn("p1", lag(col("event_type"), 1).over(w))
      .withColumn("p2", lag(col("event_type"), 2).over(w))
      .withColumn("p3", lag(col("event_type"), 3).over(w))
      .filter(col("event_type") === "purchase" && col("p3").isNotNull)
    val paths = seq
      .groupBy(concat_ws(">", col("p3"), col("p2"), col("p1")).as("path"))
      .agg(count(lit(1)).as("n"))
    val total = paths.agg(sum(col("n")).as("t"))
    paths.crossJoin(broadcast(total))
      .select(col("path"), col("n"), roundn(col("n") / col("t"), 6).as("share"))
      .orderBy(col("n").desc, col("path")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("path"))).cast("long"))
      .select(col("rank"), col("path"), col("n"), col("share"))
  }

  /** Kaplan-Meier survival curve over user activity spans — the
    * time-to-churn member of the statistics family (Kaplan & Meier
    * '58): duration = a user's active span in days, the churn EVENT
    * is a last-active day before the corpus horizon, and a user
    * still active on the horizon day is CENSORED (their span is a
    * lower bound, which is exactly what the KM estimator is for —
    * a naive "mean lifetime" silently treats them as churned).
    * Per distinct duration t: at-risk n_t (span ≥ t), churn count
    * d_t, censored count, and S(t) = Π_{j≤t} (1 − d_j/n_j).
    *
    * Determinism (the lm_logprob log-fold discipline): each factor's
    * ln rounds once to integer micros, the cumulative product is an
    * exact windowed micro SUM, and S = exp(·) rounds once at output;
    * a d = n step (zero factor, ln −∞) sets an explicit zero flag
    * carried by a windowed max — S is 0.0 from there on, no ±inf
    * crosses an engine boundary.
    *
    * Scale shape: one user-keyed agg collapses the stream; every
    * window runs over the ≤|distinct durations| (calendar-bounded)
    * table — the single-partition windows are bounded by
    * construction, never corpus-sized. */
  def survivalCurve(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val byUser = events
      .select(col("user_id"), expr(s"ts div ${dayNanos}L").as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val maxDay = byUser.agg(max(col("d1")).as("max_day"))
    val u = byUser.crossJoin(broadcast(maxDay))
      .select((col("d1") - col("d0") + 1).as("duration"),
        when(col("d1") < col("max_day"), 1L).otherwise(0L).as("churned"))
    val perT = u.groupBy(col("duration"))
      .agg(count(lit(1)).as("n_t"), sum(col("churned")).as("n_churned"))
      .withColumn("n_censored", col("n_t") - col("n_churned"))
    val wDesc = Window.orderBy(col("duration").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perT.withColumn("n_risk", sum(col("n_t")).over(wDesc))
      .withColumn("lf_micro",
        when(col("n_churned") === col("n_risk"), lit(0L))
          .otherwise(round(log(lit(1.0) -
            col("n_churned") / col("n_risk")) * 1e6).cast("long")))
      .withColumn("zero_seen",
        max((col("n_churned") === col("n_risk")).cast("int")).over(wAsc))
      .withColumn("cum_lf", sum(col("lf_micro")).over(wAsc))
      .select(col("duration"), col("n_risk"), col("n_churned"),
        col("n_censored"),
        when(col("zero_seen") === 1, lit(0.0))
          .otherwise(roundn(exp(col("cum_lf") / lit(1000000.0)), 6))
          .as("survival"))
  }

  /** Two-proportion A/B test receipt — the experiment-analysis
    * primitive: users split by the deterministic user_id parity
    * (stand-in for an assignment column), conversion = a per-user
    * engagement threshold (≥ `minPurchases` purchase events — an
    * any-purchase metric saturates to p = 1 on this corpus and
    * degenerates the variance), and the pooled two-proportion z with
    * the |z| > 1.96 call. z is computed from EXACT Long counts in one
    * double expression and rounded once; significance compares the
    * ROUNDED z — both engines land on identical bits given identical
    * integer inputs (IEEE +,·,/,√ are correctly rounded). Degenerate
    * pools (p = 0 or p = 1 ⇒ zero pooled variance) emit z = 0 / not
    * significant EXPLICITLY — Spark's ANSI mode throws on the 0/0 a
    * naive formula produces, DuckDB NaNs: the guard is the only
    * portable semantics.
    *
    * Scale shape: one user-keyed agg (map-side partial sum) collapses
    * the stream to a user table, then a single 4-counter global agg —
    * the entire test is two bounded reductions. */
  def abTest(events: DataFrame, minPurchases: Long = 15): DataFrame = {
    val users = events.groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("n_purch"))
      .select(col("user_id"),
        when(col("n_purch") >= minPurchases, 1L).otherwise(0L).as("converted"))
      .withColumn("cohort", col("user_id") % 2)
    val p = (col("conv_a") + col("conv_b")) / (col("n_a") + col("n_b"))
    val se = sqrt(p * (lit(1.0) - p) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    users.agg(
      sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("cohort") === 0, col("converted")).otherwise(0L)).as("conv_a"),
      sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("cohort") === 1, col("converted")).otherwise(0L)).as("conv_b"))
      .withColumn("rate_a", roundn(col("conv_a") / col("n_a"), 6))
      .withColumn("rate_b", roundn(col("conv_b") / col("n_b"), 6))
      .withColumn("z", when(se > 0.0, roundn(
        (col("conv_a") / col("n_a") - col("conv_b") / col("n_b")) / se, 6))
        .otherwise(lit(0.0)))
      .withColumn("significant", abs(col("z")) > 1.96)
  }

  /** Incremental view maintenance for a JOIN — [[ivmReceipt]]'s
    * sibling for the other expensive view class. The delta identity
    *
    *   (A∪ΔA) ⋈ (B∪ΔB) = A⋈B ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB
    *
    * is what lets a 100 TB materialized join absorb a batch by
    * joining ONLY the deltas against the other side (three
    * delta-sized joins) instead of recomputing A⋈B. The receipt
    * splits both inputs on independent axes, aggregates each of the
    * four legs to exact integers per order status, and pins
    * merged ≡ recomputed-from-scratch count-for-count and
    * cent-for-cent — a leg lost or double-counted flips
    * maintained_ok. */
  def ivmJoinReceipt(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val aOld = orders.filter(col("o_orderkey") % 2 === 0)
    val aDel = orders.filter(col("o_orderkey") % 2 === 1)
    val bOld = lineitem.filter(col("l_linenumber") % 2 === 0)
    val bDel = lineitem.filter(col("l_linenumber") % 2 === 1)
    def agg(a: DataFrame, b: DataFrame, pfx: String): DataFrame = a
      .select(col("o_orderkey"), col("o_orderstatus"))
      .join(b.select(col("l_orderkey").as("o_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents")),
        "o_orderkey")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as(s"${pfx}_n"), sum(col("cents")).as(s"${pfx}_cents"))
    val full = agg(orders, lineitem, "full")
    val merged = Seq(
      agg(aOld, bOld, "bb"), agg(aDel, bOld, "db"),
      agg(aOld, bDel, "bd"), agg(aDel, bDel, "dd"))
      .foldLeft(full) { (acc, leg) => acc.join(leg, Seq("o_orderstatus"), "left") }
    def tot(suffix: String): Column =
      Seq("bb", "db", "bd", "dd")
        .map(p => coalesce(col(s"${p}_$suffix"), lit(0L)))
        .reduce(_ + _)
    merged.select(col("o_orderstatus"), col("full_n"), col("full_cents"),
      tot("n").as("merged_n"), tot("cents").as("merged_cents"))
      .withColumn("maintained_ok",
        col("full_n") === col("merged_n") &&
          col("full_cents") === col("merged_cents"))
  }

  /** Offline changepoint detection — CUSUM over the per-type DAILY
    * mean series (Page 1954; the batch screen for "when did this
    * metric shift"): cumulative sum of (daily mean − period mean),
    * whose extremum marks the most likely level-shift day. Runs on
    * the calendar-bounded day series, never the raw stream, so the
    * sequential scan a changepoint statistic needs stays bounded.
    *
    * Determinism: daily means are rounded once; the period mean folds
    * the bounded day series in day order; the running CUSUM is a
    * frame-ordered window sum over 6dp-grid values (sequential on
    * both engines); the argmax ranks on the ROUNDED |cusum| with the
    * day as tie-break.
    *
    * Scale shape: one (type, day)-keyed agg with map-side partials
    * reduces the stream to a calendar-bounded table; everything after
    * — the period mean, the running sum, the argmax window — runs on
    * |types|·|days| rows. */
  def eventsChangepoint(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val daily = events
      .select(col("event_type"), expr(s"ts div ${dayNanos}L").as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(roundn(avg(col("value")), 6).as("m"))
    val period = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        roundn(graft.functions.VectorMath.orderedSum(col("day"), col("m")), 6).as("sm"))
      .withColumn("mm", roundn(col("sm") / col("n_days"), 6))
      .select(col("event_type"), col("n_days"), col("mm"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cusum = daily.join(broadcast(period), "event_type")
      .withColumn("cusum", sum(col("m") - col("mm")).over(w))
      .withColumn("abs_cusum", roundn(abs(col("cusum")), 6))
    Rank.top(cusum, Seq(col("event_type")), Seq(col("abs_cusum").desc, col("day")), lit(1))
      .select(col("event_type"), col("n_days"), col("day").as("cp_day"),
        col("abs_cusum").as("max_abs_cusum"))
  }

  /** Column profiler — the data-quality census every warehouse runs
    * before trusting a table: per column, row count, null count,
    * distinct count, and rounded min/max, in ONE scan (all profile
    * aggregates ride a single agg; the multi-countDistinct expands
    * via Catalyst's Expand, still one pass over the data) and long
    * format for the oracle.
    *
    * Scale shape: one full-scan agg with map-side partials; the
    * unpivot explodes a 1-row result — no second scan, no shuffle
    * beyond the agg. */
  def tableProfile(df: DataFrame,
                   cols: Seq[String] = Seq("l_quantity", "l_extendedprice",
                     "l_discount", "l_tax")): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
      countDistinct(col(c)).as(s"nd_$c"),
      roundn(min(col(c)).cast("double"), 6).as(s"min_$c"),
      roundn(max(col(c)).cast("double"), 6).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map(c => struct(
      lit(c).as("column"), col("n_rows"),
      col(s"null_$c").as("n_null"), col(s"nd_$c").as("n_distinct"),
      col(s"min_$c").as("min_v"), col(s"max_$c").as("max_v")))
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  /** Declarative data-quality gate — the constraint checks a pipeline
    * runs before publishing a snapshot: referential integrity
    * (orders→customer, lineitem→orders), key uniqueness, value-range
    * and null contracts, each emitting (check, n_checked,
    * n_violations, pass). FK checks use a LEFT join + null-probe so
    * one pass yields both counts; dimension sides broadcast.
    *
    * Scale shape: each check is one scan + (for FKs) one broadcast
    * join; unioned results are |checks| rows. At 100 TB the FK right
    * sides are the dimension tables — broadcastable by construction
    * in a star schema. */
  def dqChecks(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    def check(name: String, checked: Column, violations: Column, src: DataFrame): DataFrame =
      src.agg(checked.as("n_checked"), violations.cast("long").as("n_violations"))
        .select(lit(name).as("check"), col("n_checked"), col("n_violations"),
          (col("n_violations") === 0L).as("pass"))
    // DISTINCT key sets: a duplicate dimension key would otherwise
    // multiply matching fact rows through the left join and corrupt
    // n_checked (the uniqueness check reports the dup separately)
    val custKeys = customer.select(col("c_custkey").as("o_custkey"))
      .distinct().withColumn("_m", lit(1L))
    val fkOrders = check("fk_orders_customer",
      count(lit(1)), sum(when(col("_m").isNull, 1L).otherwise(0L)),
      orders.join(broadcast(custKeys), Seq("o_custkey"), "left"))
    val orderKeys = orders.select(col("o_orderkey").as("l_orderkey"))
      .distinct().withColumn("_m", lit(1L))
    val fkLineitem = check("fk_lineitem_orders",
      count(lit(1)), sum(when(col("_m").isNull, 1L).otherwise(0L)),
      lineitem.join(broadcast(orderKeys), Seq("l_orderkey"), "left"))
    val uniqCust = check("unique_customer_key",
      count(lit(1)), count(lit(1)) - countDistinct(col("c_custkey")), customer)
    val rangeDisc = check("range_l_discount",
      count(lit(1)),
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L).otherwise(0L)),
      lineitem)
    val posQty = check("positive_l_quantity",
      count(lit(1)), sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)), lineitem)
    val nullDate = check("nonnull_o_orderdate",
      count(lit(1)), sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)), orders)
    Seq(fkOrders, fkLineitem, uniqCust, rangeDisc, posQty, nullDate)
      .reduce(_ unionByName _)
  }

  /** Inter-arrival burstiness per user (Goh & Barabási, EPL 2008):
    * the coefficient of variation of a user's event gaps and the
    * bounded burstiness index B = (cv−1)/(cv+1) — B ≈ −1 metronome,
    * 0 Poisson, → 1 bursty. The bot/scraper screen a telemetry
    * pipeline runs: human activity is bursty, schedulers are
    * periodic, and both ends of the index are suspicious.
    *
    * Determinism: gaps are exact Long nano ticks; Σg fits a Long but
    * Σg² does NOT (a 3-hour gap squared is ~10^26), so the square sum
    * accumulates in decimal(38,0) — the overflow-free-receipt rule
    * from the dedup cluster checksum; population variance derives
    * from the two exact sums in one double expression rounded once,
    * with the same expression SHAPE on the oracle (mirroring matters:
    * algebraically-equal forms round differently).
    *
    * Scale shape: one user-keyed exchange (lag shares the sort),
    * then a user-keyed agg with map-side partials; output is bounded
    * by the user census, not the stream. */
  def eventsBurstiness(events: DataFrame, minEvents: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap", col("ts") - lag(col("ts"), 1).over(w))
      .filter(col("gap").isNotNull)
    gaps
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("sg"),
        sum(col("gap").cast("decimal(38,0)") * col("gap")).as("sg2"))
      .filter(col("n_gaps") >= minEvents - 1)
      .withColumn("mean_gap", col("sg").cast("double") / col("n_gaps"))
      .withColumn("var_gap",
        col("sg2").cast("double") / col("n_gaps") - col("mean_gap") * col("mean_gap"))
      .withColumn("cv",
        when(col("mean_gap") === 0.0, lit(0.0))
          .otherwise(sqrt(greatest(col("var_gap"), lit(0.0))) / col("mean_gap")))
      .withColumn("burstiness", roundn((col("cv") - 1) / (col("cv") + 1), 6))
      // mean gap reported in SECONDS at ms resolution: a ~10^4-second
      // double rounded at 6 decimals sits within one ulp of the
      // half-step (observed 1 flip / 1500 users at sf0.1); 3 decimals
      // leaves 3 orders of guard band
      .select(col("user_id"), col("n_gaps"),
        roundn(col("mean_gap") / 1e9, 3).as("mean_gap_s"),
        roundn(col("cv"), 6).as("cv"), col("burstiness"))
  }

  /** Equi-width value histogram per event type — the distribution
    * primitive behind every profiling UI: `nBins` equal-width buckets
    * between the type's min and max, value == max landing in the last
    * bin (the standard half-open-buckets-plus-closed-top rule).
    *
    * Determinism across engines: lo/hi are rounded once; the bin
    * index is `floor((value − lo) · nBins / (hi − lo))` with the SAME
    * expression shape on the oracle side — every operand is a
    * bit-identical double on both engines, and IEEE −, ·, /, floor
    * are exactly specified, so boundary values bucket identically
    * (mirroring the expression matters: the algebraically-equal
    * `(value−lo)/((hi−lo)/nBins)` rounds differently).
    *
    * Scale shape: one tiny per-type bounds agg broadcast back; bin
    * assignment map-side; final agg on the bounded (type, bin) key
    * with map-side partials. Degenerate hi == lo collapses to bin 0.
    *
    * Both ends are clamped: lo is ROUNDED min, so a boundary value
    * with more decimals than the 6dp grid can sit a hair BELOW lo and
    * floor() to −1 — greatest(0, …) pins the declared 0..nBins−1
    * contract (mirrored in the oracle, same expression-shape rule as
    * the top cap). */
  def valueHistogram(events: DataFrame, nBins: Int = 20): DataFrame = {
    val bounds = events.groupBy(col("event_type"))
      .agg(roundn(min(col("value")), 6).as("lo"), roundn(max(col("value")), 6).as("hi"))
    events.join(broadcast(bounds), "event_type")
      .withColumn("bin",
        when(col("hi") === col("lo"), 0L)
          .otherwise(least(lit(nBins - 1).cast("long"),
            greatest(lit(0L),
              floor((col("value") - col("lo")) * nBins / (col("hi") - col("lo")))))))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(bounds), "event_type")
      .select(col("event_type"), col("bin"), col("n"), col("lo"), col("hi"))
  }

  /** MAD (median-absolute-deviation) outlier census — the ROBUST
    * sibling of [[valueOutliers]]: a z-score screen's mean/σ are
    * themselves dragged by the outliers being hunted, while the
    * median and MAD have a 50% breakdown point. Flags values beyond
    * `k`·1.4826·MAD of the median (1.4826 ≈ 1/Φ⁻¹(3/4) scales MAD to
    * σ under normality — the standard consistency constant).
    *
    * Determinism: the median is ROUNDED once; the absolute deviation
    * is computed from identical parquet doubles and the rounded
    * median, so both engines derive bit-identical deviations; the MAD
    * median interpolates those identical doubles ((a+b)·0.5 is exact
    * IEEE) and rounds once; the threshold compare uses the rounded
    * threshold. No grid-then-divide step anywhere (the SURVEY §
    * float-determinism note's hazard).
    *
    * Scale shape: two tiny per-type percentile aggs (approx_percentile
    * at 100 TB) broadcast back; tail counting is map-side-combined on
    * the |types| key — the fact stream shuffles zero times beyond the
    * final 5-row agg. */
  def madOutliers(events: DataFrame, k: Double = 3.0): DataFrame = {
    val med = events.groupBy(col("event_type"))
      .agg(roundn(expr("percentile(value, 0.5)"), 6).as("med"))
    val dev = events.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(first(col("med")).as("med"),
        roundn(expr("percentile(adev, 0.5)"), 6).as("mad"))
      .withColumn("threshold", roundn(lit(k) * lit(1.4826) * col("mad"), 6))
    dev.select(col("event_type"), col("adev"))
      .join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(first(col("med")).as("med"), first(col("mad")).as("mad"),
        sum(when(col("adev") > col("threshold"), 1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n_total"))
  }

  /** The trained artifacts of [[seasonalAnomalies]], exposed so the
    * STREAMING twin can score arrivals against the same gates:
    * (baseline (event_type, hour_of_day, baseline),
    *  gates (event_type, med_resid, mad, threshold)). */
  def seasonalGates(events: DataFrame, k: Double = 3.0): (DataFrame, DataFrame) = {
    val hourNanos = 3600L * 1000 * 1000 * 1000
    val base = events.select(col("event_type"),
      (expr(s"ts div ${hourNanos}L") % 24).as("hour_of_day"), col("value"))
    val prof = base.groupBy(col("event_type"), col("hour_of_day"))
      .agg(roundn(avg(col("value")), 6).as("baseline"))
    val resid = base
      .join(broadcast(prof), Seq("event_type", "hour_of_day"))
      .withColumn("resid", col("value") - col("baseline"))
    val med = resid.groupBy(col("event_type"))
      .agg(roundn(expr("percentile(resid, 0.5)"), 6).as("med_resid"))
    val dev = resid.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("resid") - col("med_resid")))
    val mad = dev.groupBy(col("event_type"))
      .agg(first(col("med_resid")).as("med_resid"),
        roundn(expr("percentile(adev, 0.5)"), 6).as("mad"))
      .withColumn("threshold", roundn(lit(k) * lit(1.4826) * col("mad"), 6))
    (prof, mad)
  }

  /** SEASONAL anomaly screen — [[madOutliers]] composed with the
    * [[eventsSeasonality]] baseline: residuals against each (type,
    * hour-of-day) mean, then the robust median/MAD gate on the
    * residuals. A diurnal stream makes a global screen blind (a
    * normal midnight value IS anomalous at the noon peak and vice
    * versa); subtracting the cycle baseline first is the standard
    * deseasonalize-then-screen decomposition.
    *
    * Determinism: the baseline is rounded ONCE per (type, hour) cell,
    * so residuals are derived from identical doubles on both engines;
    * the two residual percentiles follow [[madOutliers]]'s
    * round-once-then-compare discipline (no grid-then-divide).
    *
    * Scale shape: the baseline is a |types|·24-cell agg with map-side
    * partials, BROADCAST back onto the stream (map-side residuals, no
    * fact re-shuffle); the med/MAD aggs key on |types| (exact
    * percentile here; approx_percentile at 100 TB); the final census
    * is one bounded agg.
    *
    * The screen's trained artifacts live in [[seasonalGates]] so the
    * STREAMING twin can score arrivals against the same gates. */
  def seasonalAnomalies(events: DataFrame, k: Double = 3.0): DataFrame = {
    val hourNanos = 3600L * 1000 * 1000 * 1000
    val (prof, mad) = seasonalGates(events, k)
    val base = events.select(col("event_type"),
      (expr(s"ts div ${hourNanos}L") % 24).as("hour_of_day"), col("value"))
    val dev = base
      .join(broadcast(prof), Seq("event_type", "hour_of_day"))
      .withColumn("resid", col("value") - col("baseline"))
      .join(broadcast(mad.select(col("event_type"), col("med_resid"))), "event_type")
      .withColumn("adev", abs(col("resid") - col("med_resid")))
    dev.select(col("event_type"), col("adev"), col("med_resid"))
      .join(broadcast(mad.select(col("event_type"), col("mad"), col("threshold"))),
        "event_type")
      .groupBy(col("event_type"))
      .agg(first(col("med_resid")).as("med_resid"), first(col("mad")).as("mad"),
        sum(when(col("adev") > col("threshold"), 1L).otherwise(0L)).as("n_anomalies"),
        count(lit(1)).as("n_total"))
  }

  /** Anomaly gate: events whose value sits more than `z` sample
    * standard deviations from their type's mean — the data-quality
    * screen a pipeline runs before aggregating telemetry. The per-type
    * moments are a 5-row broadcast; the fact scan is filtered map-side
    * (one pass + one tiny join, no second shuffle of the fact).
    * The boundary predicate compares a ROUNDED excess: mu/sd are float
    * aggregates whose low bits depend on partial-merge order, so a row
    * sitting exactly on the z·sd boundary could otherwise flip
    * membership between runs/engines (the same flake class
    * VectorMath.orderedSum kills for sparse sums). */
  def valueOutliers(events: DataFrame, z: Double = 3.0): DataFrame = {
    val stats = events.groupBy(col("event_type"))
      .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
    events.join(broadcast(stats), "event_type")
      .filter(roundn(abs(col("value") - col("mu")) - lit(z) * col("sd"), 6) > 0)
      .select(col("event_id"), col("event_type"),
        roundn(col("value"), 6).as("value"),
        roundn((col("value") - col("mu")) / col("sd"), 4).as("z_score"))
  }

  /** Correlation family: sample Pearson correlation of quantity vs
    * extended price per return flag. corr is scale-normalized, so the
    * partial-merge float noise in the co-moments cancels — safe at
    * 6 dp where raw covariance (magnitude ~1e5 with ~1e-2 merge-order
    * noise) would not be; that is why the query emits corr only. */
  def pricingCorrelation(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(col("l_returnflag"))
      .agg(
        roundn(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
        count(lit(1)).as("n"))

  /** Approximate-statistics tier — the 100 TB form of
    * [[valuePercentiles]]/[[distinctUsers]] made TESTABLE: HLL++
    * (`approx_count_distinct`, rsd 1%) and the quantile sketch
    * (`approx_percentile`, accuracy 10000) run next to their exact
    * twins in the same keyed aggregation, and the query emits
    * WITHIN-TOLERANCE booleans instead of raw sketch values. The
    * oracle pins the booleans to true (plus the exact counts), so a
    * sketch drifting past tolerance fails the hash gate — the
    * approximate tier itself is verified, not just described. At
    * scale the exact columns drop away and the sketches stay: both
    * are one pass, no per-group value buffering (exact percentile
    * buffers values per group — the thing that OOMs at 100 TB). */
  def approxStatsCheck(events: DataFrame): DataFrame = {
    // two aggregations, not one: countDistinct plans through Expand
    // and the percentile pair through ObjectHashAggregate — fused
    // they force a slow sort-based object agg over the expanded rows
    // (measured 7 s -> sub-second split). The join key is the 5-row
    // group set.
    val counts = events
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_distinct"),
        approx_count_distinct(col("user_id"), rsd = 0.01).as("ad"))
    val pcts = events
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("approx_percentile(value, 0.5, 10000)").as("ap50"),
        (max(col("value")) - min(col("value"))).as("spread"))
    counts.join(pcts, "event_type")
      .select(
        col("event_type"),
        col("exact_distinct"),
        (abs(col("ad") - col("exact_distinct"))
          <= greatest(col("exact_distinct") * lit(0.1), lit(1.0))).as("approx_distinct_ok"),
        (abs(col("p50") - col("ap50"))
          <= greatest(col("spread") * lit(0.05), lit(1e-6))).as("approx_p50_ok"))
  }

  /** Scalar-function breadth: JSON field extraction from events.props
    * (SURVEY.md §2.8 — `get_json_object` class). Implemented with
    * regexp_extract so the oracle needs no JSON extension; props shape
    * is flat {"k": int} per FIXTURES.md. */
  def extractJsonK(events: DataFrame): DataFrame =
    events
      // filter BEFORE the cast: ANSI mode makes cast('' as bigint)
      // throw, so malformed rows must never reach it
      .filter(col("props").rlike("\"k\"\\s*:\\s*-?\\d+"))
      .select(
        col("event_id"),
        regexp_extract(col("props"), "\"k\"\\s*:\\s*(-?\\d+)", 1).cast("long").as("k"))

  /** Sessionization: split each user's event stream into sessions at
    * inactivity gaps > `gapTicks`. The classic lag + cumulative-sum
    * formulation — two window passes over the same (user_id, ts)
    * partitioning, so Spark sorts once and reuses the shuffle.
    *
    * `gapTicks` is AXIS-NEUTRAL: it is compared directly against `ts`
    * differences, so it must be in whatever unit the caller's `ts`
    * column carries (Tables.events ships nanos; [[sessionsOverlap]]
    * rescales to µs and passes a µs gap). */
  def sessionize(events: DataFrame, gapTicks: Long = 1800L * 1000 * 1000 * 1000): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn(
        "new_session",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapTicks, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(byUser))
      .select(col("event_id"), col("user_id"), col("session_idx"))
  }

  /** NATIVE session windows — Spark's built-in `session_window` in
    * BATCH mode, beside the manual lag+cumsum [[sessionize]]: the
    * same user-keyed gap sessionization expressed as one groupBy over
    * the merging window function (the form a streaming job uses
    * unchanged). Exact-gap events MERGE — the [t, t+gap) windows
    * treat touching as overlap (measured, spec-pinned), so the break
    * condition is strictly `>`, identical to the manual form; the
    * oracle replays it, making the boundary a pinned contract instead
    * of a surprise. session end = last event + gap by definition.
    *
    * Scale shape: one user-keyed exchange + sort; the window merge is
    * a per-partition linear pass (no self-join); output is
    * session-bounded. */
  def sessionizeNative(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val e = events.select(col("user_id"),
      expr("timestamp_micros(ts div 1000L)").as("tts"))
    e.groupBy(col("user_id"),
        session_window(col("tts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        expr("unix_micros(sw.start)").as("session_start_us"),
        expr("unix_micros(sw.end)").as("session_end_us"),
        col("n_events"))
  }

  /** [[sessionize]] folded to one row per session: user_id,
    * session_idx, [start_ts, end_ts] (exact integer interval
    * arithmetic, no float time), n_events. Same single user_id
    * shuffle; the window's partitioning carries into the group-by, so
    * the agg adds no second exchange. `gapTicks` follows the caller's
    * `ts` unit, as in [[sessionize]]. */
  def sessionIntervals(events: DataFrame,
                       gapTicks: Long = 1800L * 1000 * 1000 * 1000): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn(
        "new_session",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapTicks, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
        count(lit(1)).as("n_events"))
  }

  /** Interval-OVERLAP join — the non-equi join family beyond as-of
    * (point→latest-point) and band (point↔point within eps): interval
    * × interval, `a.start ≤ b.end AND b.start ≤ a.end`. Probe side =
    * "heavy" sessions (≥ `minEvents` events — the incident/campaign
    * windows of a monitoring query); build side = every other user's
    * sessions; output = concurrent session pairs with their exact
    * overlap (0 for touching or instant-inside intervals).
    *
    * A theta join with that predicate is a nested-loop cross product —
    * the plan that dies first at scale. Instead both interval sets
    * explode into the fixed-width time bins they COVER (bin = hour;
    * an interval overlapping another must share at least one covered
    * bin with it, since overlap is a nonempty time range and bins
    * tile the axis), candidates come from one bin-keyed EQUI-join,
    * are deduped (a pair can co-reside in several bins), and the
    * exact predicate runs on candidates only. Same reduction as
    * [[valueBandJoin]] one dimension up: value-eps bins → time bins,
    * point pairs → interval pairs.
    *
    * Scale notes: bins-per-interval = duration/binWidth + 1 — bounded
    * because inactivity-gap sessions are duration-bounded in
    * practice; for open-ended intervals pick binWidth ≥ the p99
    * duration so the explode stays O(1) per row (the standard
    * tradeoff: wider bins, fewer exploded rows, more candidates).
    * Shuffle key is the time bin — hot bins (flash-crowd hours) are
    * ordinary skewed-equi-join work for AQE/[[graft.ops.SkewOps]].
    *
    * Time axis is µs (oracle timestamp precision — the
    * [[purchaseAttribution]]/[[scd2UserState]] convention): overlap
    * LENGTHS and touch-boundary membership must agree exactly, so
    * both engines truncate to the precision they share. */
  def sessionsOverlap(events: DataFrame, minEvents: Long = 3,
                      binMicros: Long = 3600L * 1000 * 1000): DataFrame = {
    val sess = sessionIntervals(
      events.withColumn("ts", expr("ts div 1000")),
      gapTicks = 1800L * 1000 * 1000) // 30 min in µs on this axis
    def binned(df: DataFrame, prefix: String): DataFrame =
      df.select(
        col("user_id").as(s"${prefix}_user"), col("session_idx").as(s"${prefix}_session"),
        col("start_ts").as(s"${prefix}_start"), col("end_ts").as(s"${prefix}_end"),
        explode(sequence(expr(s"start_ts div ${binMicros}L"),
          expr(s"end_ts div ${binMicros}L"))).as("bin"))
    val probe = binned(sess.filter(col("n_events") >= minEvents), "a")
    val build = binned(sess, "b")
    probe.join(build, "bin")
      .filter(col("a_user") =!= col("b_user"))
      .select(col("a_user"), col("a_session"), col("b_user"), col("b_session"),
        col("a_start"), col("a_end"), col("b_start"), col("b_end"))
      .distinct() // pairs sharing several bins collapse BEFORE the verify
      .filter(col("a_start") <= col("b_end") && col("b_start") <= col("a_end"))
      .select(col("a_user"), col("a_session"), col("b_user"), col("b_session"),
        (least(col("a_end"), col("b_end"))
          - greatest(col("a_start"), col("b_start"))).as("overlap_us"))
  }

  /** Ordered funnel analysis — "how far did each user get through
    * view → click → purchase, in ORDER": stage i counts only at a
    * strictly later timestamp than the user's stage-(i−1) entry, so
    * a purchase before any view is depth 0, not depth 3 (the
    * sequencing that separates a funnel from three filters).
    *
    * Computed in ONE shuffle: all stage-entry times are conditional
    * minima over the SAME user_id window partitioning —
    * t1 = min(ts | stage1), t2 = min(ts | stage2 ∧ ts > t1), … —
    * chained projections over one Exchange+Sort (each ti is a
    * per-user constant the next window's filter references); the
    * final per-user collapse groups on the preserved partitioning.
    * The iterative twin (agg → join → agg per stage) would shuffle
    * the event stream once PER STAGE.
    *
    * µs axis; strict `>` between stages, so simultaneous events never
    * satisfy two stages — deterministic on values alone. */
  def funnelDepth(events: DataFrame,
                  stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    var df = events.select(col("user_id"), expr("ts div 1000").as("ts_us"),
      col("event_type"))
    stages.zipWithIndex.foreach { case (s, i) =>
      val cond =
        if (i == 0) col("event_type") === s
        else col("event_type") === s && col(s"t$i").isNotNull &&
          col("ts_us") > col(s"t$i")
      df = df.withColumn(s"t${i + 1}", min(when(cond, col("ts_us"))).over(w))
    }
    val ts = (1 to stages.length).map(i => max(col(s"t$i")).as(s"t${i}_us"))
    // build innermost-out: stage i wraps i−1, so the DEEPEST reached
    // stage is the outermost when and wins
    val depth = (1 to stages.length).foldLeft(lit(0L)) { (acc, i) =>
      when(col(s"t${i}_us").isNotNull, i.toLong).otherwise(acc)
    }
    df.groupBy(col("user_id"))
      .agg(ts.head, ts.tail: _*) // per-user constants; max = the value
      .withColumn("funnel_depth", depth)
  }

  /** Calendar gap filling — the densification step time-series
    * features need before windowed models (a missing hour must be an
    * explicit zero row, not an absent one): per event type, one row
    * for EVERY hour between the corpus' first and last event, with
    * absent hours zero-filled via generate-and-left-join.
    *
    * Scale shape: the generated grid is |types| × |hours| — calendar
    * rows, microscopic next to the event stream; the stream itself is
    * reduced by one (type, hour)-keyed partial agg before it ever
    * meets the grid, and the left join's build side is the tiny grid.
    * Nothing here is a per-row sequence explode over the data. */
  def hourlyGapFill(events: DataFrame): DataFrame = {
    // integer `div`, not `/`: epoch-nanos exceed double's 53-bit
    // mantissa, so float division could mis-bucket an hour boundary
    val hourNanos = 3600L * 1000 * 1000 * 1000
    val h = events.select(col("event_type"),
      expr(s"ts div ${hourNanos}L").as("hour_idx"))
    val bounds = h.agg(min(col("hour_idx")).as("h0"), max(col("hour_idx")).as("h1"))
    val grid = h.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("hour_idx"))
    val counts = h.groupBy(col("event_type"), col("hour_idx"))
      .agg(count(lit(1)).as("n"))
    grid
      .join(counts, Seq("event_type", "hour_idx"), "left")
      .select(col("event_type"), col("hour_idx"),
        coalesce(col("n"), lit(0L)).as("n_events"))
  }

  /** Numeric band join — all pairs of same-type events whose values
    * lie within `eps` of each other, WITHOUT the quadratic theta
    * join: values bucket into eps-wide bins (`floor(value/eps)`), a
    * pair within eps must sit in the same or adjacent bins, so
    * candidate generation is two EQUI-joins (same-bin + next-bin) and
    * the exact |va−vb| < eps predicate runs only on candidates. This
    * is the band/interval-join pattern every non-equi join at scale
    * reduces to ([[purchaseAttribution]] plays the same trick on the
    * time axis; LSH bands on the similarity axis).
    *
    * Scale notes: shuffle key is the bin — uniform when values are;
    * heaped values (price points) make hot bins, handled by the same
    * salting toolbox as any skewed equi-join ([[graft.ops.SkewOps]]).
    * Pair identity is canonical (a_id < b_id): same-bin pairs order
    * inside the join predicate, adjacent-bin pairs cannot repeat a
    * same-bin pair (bins differ), and |diff| is symmetric so values
    * need no realignment after least/greatest. */
  def valueBandJoin(events: DataFrame, eps: Double = 0.05,
                    eventType: String = "purchase"): DataFrame = {
    val e = events.filter(col("event_type") === eventType)
      .select(col("event_id"), col("value"))
      .withColumn("bin", floor(col("value") / eps))
    val a = e.select(col("event_id").as("a_id"), col("value").as("va"), col("bin"))
    val b = e.select(col("event_id").as("b_id"), col("value").as("vb"), col("bin"))
    val same = a.join(b, "bin").filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("va"), col("vb"))
    val adj = a.withColumn("bin", col("bin") + 1).join(b, "bin")
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"), col("va"), col("vb"))
    same.unionByName(adj)
      .filter(abs(col("va") - col("vb")) < eps) // exact doubles, engine-identical
      .select(col("a_id"), col("b_id"),
        roundn(abs(col("va") - col("vb")), 6).as("value_diff"))
  }

  /** SCD2 state history from an event stream — the APPLY half of CDC
    * ([[graft.ops.CorpusOps.snapshotDiff]] detects changes; this
    * builds the slowly-changing-dimension history a warehouse keeps):
    * collapse each user's event stream to its state CHANGE POINTS
    * (event_type differs from the previous event) and emit one
    * versioned row per state with [valid_from, valid_to) validity and
    * an is_current flag on the open interval.
    *
    * Plan shape: one shuffle on user_id; the change-point filter
    * preserves that partitioning, so the second window pass (version
    * numbering + lead) adds only a partition-local sort, no second
    * exchange. State per key is bounded by the frame machinery — at
    * 100 TB this is the same single-key-shuffle family as
    * [[sessionize]]. Validity bounds are on the µs time axis (oracle
    * timestamp precision, same convention as [[purchaseAttribution]]);
    * ties break on event_id, so versioning is deterministic on both
    * engines even for events sharing a microsecond. */
  def scd2UserState(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(byUser).cast("long"))
      .withColumn("valid_to", lead(col("ts_us"), 1).over(byUser))
      .select(
        col("user_id"), col("version"), col("event_type").as("state"),
        col("ts_us").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** Activity CONCENTRATION receipt — the Gini coefficient and
    * top-decile share of per-user event volume, the inequality
    * numbers behind every "10% of keys carry 90% of traffic"
    * capacity decision ([[kAnonymity]] reads the same census for
    * privacy; this reads it for skew). Exact Gini WITHOUT a per-user
    * global sort: the user census collapses to counts-of-counts
    * (one bounded row per distinct activity level), and the grouped
    * rank-sum identity Σ i·xᵢ = Σ_g c_g·(n_g·a_g + n_g(n_g+1)/2)
    * (a_g = users ranked below group g) folds over that tiny table —
    * all integer arithmetic until the two final divisions. The
    * top-decile share splits the boundary tie group proportionally in
    * exact integers.
    *
    * Scale shape: one user-keyed census agg, one counts-of-counts agg
    * (value-bounded key), cumulative windows over the ≤|distinct
    * levels| rows — the key_skew_profile family. Rank-sum products
    * reach n·c·n scale: decimal(38,0) territory at extreme corpus
    * sizes (the HUGEINT twin already covers it). */
  def activityGini(events: DataFrame): DataFrame = {
    val census = events.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val groups = census.groupBy(col("c")).agg(count(lit(1)).as("n_g"))
    val byC = Window.orderBy(col("c"))
    val byCDesc = Window.orderBy(col("c").desc)
    val g = groups
      .withColumn("a_g", coalesce(sum(col("n_g")).over(
        byC.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("ranksum", expr(
        "cast(c as decimal(38,0)) * " +
          "cast(n_g * a_g + (n_g * (n_g + 1)) div 2 as decimal(38,0))"))
      .withColumn("taken_before", coalesce(sum(col("n_g")).over(
        byCDesc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tot = g.agg(
      sum(col("n_g")).as("n_users"),
      sum(col("c") * col("n_g")).as("n_events"),
      sum(col("ranksum")).cast("decimal(38,0)").as("s"))
    val topK = g.crossJoin(broadcast(tot))
      .withColumn("k", expr("n_users div 10"))
      .withColumn("take",
        greatest(lit(0L), least(col("n_g"), col("k") - col("taken_before"))))
      .agg(max(expr("n_users div 10")).as("top10_users"),
        sum(col("take") * col("c")).as("top10_events"))
    tot.crossJoin(broadcast(topK))
      .select(col("n_users"), col("n_events"),
        roundn(lit(2.0) * col("s").cast("double") /
          (col("n_users").cast("double") * col("n_events").cast("double")) -
          (col("n_users") + 1L).cast("double") / col("n_users").cast("double"), 6)
          .as("gini"),
        col("top10_users"),
        roundn(col("top10_events").cast("double") /
          col("n_events").cast("double"), 6).as("top10_share"))
  }

  /** RIGHT-TO-BE-FORGOTTEN propagation receipt — the deletion half of
    * the governance trio ([[kAnonymity]] audits re-identifiability,
    * [[dpCounts]] releases safely; this audits ERASURE): a hash-
    * selected ~5% user cohort is deleted, and every per-type
    * aggregate rebuilt from the surviving rows must equal the
    * original aggregate minus the cohort's exact contribution —
    * count-for-count and cent-for-cent. This is [[ivmReceipt]]'s
    * contract run in reverse (decomposable integer state SUBTRACTS
    * exactly; float sums would leave residue), which is precisely
    * what makes targeted deletion auditable at 100 TB without a full
    * recompute: production subtracts contributions, the receipt
    * proves subtract ≡ rebuild.
    *
    * Scale shape: three aggs on the bounded type key (two over
    * complementary user slices — one scan each with map-side
    * partials), merged with a bounded join. */
  def deletePropagation(events: DataFrame): DataFrame = {
    val forget = graft.functions.PortableHash.hash24(
      concat(lit("gdpr:"), col("user_id").cast("string"))) % 20 === 0L
    def agg(df: DataFrame, pfx: String): DataFrame =
      df.groupBy(col("event_type"))
        .agg(count(lit(1)).as(s"n_$pfx"),
          sum(round(col("value") * 100).cast("long")).as(s"cents_$pfx"))
    // both slice aggs join LEFT from the full aggregate: a type whose
    // rows all fall in the forget cohort must still appear in the
    // audit with n_rebuilt=0 and its ok flags evaluated (an inner
    // join would silently drop the fully-erased type — the worst row
    // to lose from an erasure receipt)
    agg(events, "full")
      .join(agg(events.filter(forget), "del"), Seq("event_type"), "left")
      .join(agg(events.filter(!forget), "rebuilt"), Seq("event_type"), "left")
      .select(col("event_type"), col("n_full"),
        coalesce(col("n_del"), lit(0L)).as("n_del"),
        coalesce(col("n_rebuilt"), lit(0L)).as("n_rebuilt"),
        (coalesce(col("n_rebuilt"), lit(0L)) ===
          col("n_full") - coalesce(col("n_del"), lit(0L))).as("n_ok"),
        (coalesce(col("cents_rebuilt"), lit(0L)) ===
          col("cents_full") - coalesce(col("cents_del"), lit(0L))).as("cents_ok"))
  }

  /** Distribution DRIFT monitor (binned two-sample KS) — the check a
    * production pipeline runs before trusting this week's data with
    * last week's thresholds: split the stream at its calendar
    * midpoint, build each half's 64-bin value histogram per type over
    * SHARED bin edges (global min/max broadcast — identical bucketing
    * by construction), and report the binned Kolmogorov–Smirnov
    * statistic max|F_early − F_late| beside the 95% two-sample
    * rejection bound 1.358·√((n₁+n₂)/(n₁·n₂)). Binned KS is stated,
    * not hidden: the statistic is computed on the 64-bin CDFs, a
    * lower bound of the exact KS (binning can only merge mass).
    * Degenerate inputs are defined, not accidental: a constant value
    * column bins everything to bin 0 (epsilon-guarded denominator),
    * and a type with every row in one calendar half reports
    * `comparable = false` with null stat/bound/verdict.
    *
    * Scale shape: one bounds agg broadcast back; counts reduce onto
    * the bounded (type, half, bin) key with map-side partials; the
    * CDF windows run over ≤64 rows per (type, half). */
  def valueDrift(events: DataFrame, nBins: Int = 64): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val bounds = events.agg(
      min(expr(s"ts div ${dayNanos}L")).as("d0"),
      max(expr(s"ts div ${dayNanos}L")).as("d1"),
      min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    val binned = events
      .select(col("event_type"), expr(s"ts div ${dayNanos}L").as("day"), col("value"))
      .crossJoin(broadcast(bounds))
      .withColumn("half",
        when(col("day") < expr("(d0 + d1 + 1) div 2"), "early").otherwise("late"))
      .withColumn("bin", least(lit(nBins - 1L), floor(
        (col("value") - col("vmin")) * nBins /
          greatest(col("vmax") - col("vmin"), lit(1e-12)))
        .cast("long")))
      .groupBy(col("event_type"), col("half"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val cdf = binned
      .withColumn("n_half", sum(col("c")).over(
        Window.partitionBy(col("event_type"), col("half"))))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("event_type"), col("half")).orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("event_type"), col("half"), col("bin"),
        col("cum"), col("n_half"))
    // align halves on the union of occupied bins: carry each half's
    // cumulative forward with a running max over the bin axis
    val e = cdf.filter(col("half") === "early")
      .select(col("event_type"), col("bin"), col("cum").as("cum_e"),
        col("n_half").as("n_e"))
    val l = cdf.filter(col("half") === "late")
      .select(col("event_type"), col("bin"), col("cum").as("cum_l"),
        col("n_half").as("n_l"))
    val byBin = Window.partitionBy(col("event_type")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.join(l, Seq("event_type", "bin"), "full_outer")
      .withColumn("ce", last(col("cum_e"), ignoreNulls = true).over(byBin))
      .withColumn("cl", last(col("cum_l"), ignoreNulls = true).over(byBin))
      .withColumn("ne", max(col("n_e")).over(Window.partitionBy(col("event_type"))))
      .withColumn("nl", max(col("n_l")).over(Window.partitionBy(col("event_type"))))
      .withColumn("d", abs(
        coalesce(col("ce"), lit(0L)).cast("double") / col("ne").cast("double") -
          coalesce(col("cl"), lit(0L)).cast("double") / col("nl").cast("double")))
      .groupBy(col("event_type"))
      .agg(coalesce(max(col("ne")), lit(0L)).as("n_early"),
        coalesce(max(col("nl")), lit(0L)).as("n_late"),
        roundn(max(col("d")), 6).as("ks_stat"))
      // a type with every row in one calendar half has no two-sample
      // question to ask: flag it not-comparable explicitly (counts 0,
      // stat/bound/verdict null) instead of leaking nulls silently
      .withColumn("comparable", col("n_early") > 0L && col("n_late") > 0L)
      .withColumn("ks_crit", when(col("comparable"), roundn(lit(1.358) *
        sqrt((col("n_early") + col("n_late")).cast("double") /
          (col("n_early").cast("double") * col("n_late").cast("double"))), 6)))
      .withColumn("drifted",
        when(col("comparable"), col("ks_stat") > col("ks_crit")))
  }

  /** Composition DRIFT monitor — [[valueDrift]]'s categorical
    * sibling: does the event-type MIX shift between the two calendar
    * halves? Pearson chi-square of the late half's type counts
    * against expectations scaled from the early half's shares, with
    * per-type contributions (the triage column: WHICH type moved) and
    * the df = |types|−1 critical value at 95%.
    *
    * Scale shape: one bounded (half, type) agg; everything downstream
    * is |types|-row arithmetic. */
  def mixDrift(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val bounds = events.agg(
      min(expr(s"ts div ${dayNanos}L")).as("d0"),
      max(expr(s"ts div ${dayNanos}L")).as("d1"))
    val counts = events
      .select(col("event_type"), expr(s"ts div ${dayNanos}L").as("day"))
      .crossJoin(broadcast(bounds))
      .withColumn("half",
        when(col("day") < expr("(d0 + d1 + 1) div 2"), "early").otherwise("late"))
      .groupBy(col("event_type"), col("half")).agg(count(lit(1)).as("c"))
    val wide = counts.groupBy(col("event_type"))
      .agg(sum(when(col("half") === "early", col("c")).otherwise(0L)).as("n_early"),
        sum(when(col("half") === "late", col("c")).otherwise(0L)).as("n_late"))
    val tot = wide.agg(sum(col("n_early")).as("te"), sum(col("n_late")).as("tl"))
    // chi-square 95% critical values for df 1..8 (bounded type axis)
    val crit = Map(1 -> 3.841, 2 -> 5.991, 3 -> 7.815, 4 -> 9.488,
      5 -> 11.07, 6 -> 12.592, 7 -> 14.067, 8 -> 15.507)
    val critExpr = crit.foldLeft(lit(Double.NaN)) { case (acc, (df, v)) =>
      when(col("df") === df.toLong, lit(v)).otherwise(acc)
    }
    val contribs = wide.crossJoin(broadcast(tot))
      .withColumn("exp_late",
        roundn(col("n_early").cast("double") / col("te").cast("double") *
          col("tl").cast("double"), 6))
      .withColumn("contrib", roundn(
        (col("n_late").cast("double") - col("exp_late")) *
          (col("n_late").cast("double") - col("exp_late")) / col("exp_late"), 6))
      .localCheckpoint(false)
    val chi = contribs
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("event_type"), col("contrib")), 6).as("chi2"),
        (count(lit(1)) - 1L).as("df"))
      .withColumn("chi2_crit_95", critExpr)
    contribs.crossJoin(broadcast(chi))
      .withColumn("drifted", col("chi2") > col("chi2_crit_95"))
      .select(col("event_type"), col("n_early"), col("n_late"), col("exp_late"),
        col("contrib"), col("chi2"), col("df"), col("chi2_crit_95"), col("drifted"))
  }

  /** ACTIVE-TIME accounting by interval union — the gaps-and-islands
    * pattern ([[sessionIntervals]] SEPARATES by gap; this MERGES
    * overlapping activity holds): every event opens a `holdNanos`
    * presence interval, overlapping intervals fuse into islands
    * (new island ⇔ the event starts after the running max end of all
    * earlier intervals), and each user reports island count + total
    * covered minutes — the billing/engagement number a raw event
    * count inflates whenever events cluster.
    *
    * Scale shape: one user-keyed sort carries both windows (running
    * max end + island prefix sum — same exchange), then two
    * user-keyed aggs; integer nanos throughout. */
  def activeTime(events: DataFrame,
                 holdNanos: Long = 600L * 1000 * 1000 * 1000): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prevRows = byUser.rowsBetween(Window.unboundedPreceding, -1)
    events.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("iv_end", col("ts") + holdNanos)
      .withColumn("prev_end", max(col("iv_end")).over(prevRows))
      .withColumn("new_island",
        when(col("prev_end").isNull || col("ts") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(byUser))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("ts")).as("start_ts"), max(col("iv_end")).as("end_ts"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("end_ts") - col("start_ts")).as("active_ns"))
      .select(col("user_id"), col("n_islands"),
        expr("active_ns div 60000000000").as("active_min"))
  }

  /** FUNNEL LATENCY — the time dimension `events_funnel`'s conversion
    * counts flatten away: for every user who purchases at or after
    * their first view, the view→purchase latency (first view to the
    * FIRST subsequent purchase), summarized as count + p50/p95/max
    * minutes — the numbers an activation-flow decision is made on.
    *
    * Scale shape: two type-filtered user-keyed aggs + one co-keyed
    * join on user_id + a 1-row summary agg (exact percentile here;
    * approx_percentile at 100 TB, the madOutliers note). Integer
    * minute arithmetic on the nanos axis — no float time. */
  def funnelLatency(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"))
    v.join(p, "user_id")
      .filter(col("pts") >= col("first_view"))
      .groupBy(col("user_id"), col("first_view"))
      .agg(min(col("pts")).as("first_purchase"))
      .withColumn("latency_min",
        expr("(first_purchase - first_view) div 60000000000"))
      .agg(count(lit(1)).as("n_converted"),
        roundn(expr("percentile(latency_min, 0.5)"), 6).as("p50_min"),
        roundn(expr("percentile(latency_min, 0.95)"), 6).as("p95_min"),
        max(col("latency_min")).as("max_min"))
  }

  /** WATERMARK-DELAY profile — the measurement `withWatermark`'s
    * delay parameter should be SET from, instead of guessed: how far
    * behind the high-water mark do events actually arrive? Arrival
    * order is the event_id axis (generation order — the stream's
    * delivery proxy); the high-water mark is tracked at ARRIVAL-BUCKET
    * granularity so no unpartitioned row-level window ever runs, and
    * the bucket WIDTH scales with the data — width =
    * ceil((max_id+1)/targetBuckets) — so the bucket COUNT is bounded
    * at `targetBuckets` however large the stream grows (a fixed width
    * would make the single-task running-max window linear in volume —
    * the round-10 ADVICE finding): per-bucket max-ts agg (bounded),
    * running max over ≤targetBuckets rows, broadcast back, and each
    * row's lateness = prior-bucket high-water − its ts (clamped at 0;
    * bucket-granular by construction — stated, not hidden). Per type:
    * late-row count and the p50/p95/max lateness in ms — p95/max IS
    * the watermark recommendation.
    *
    * Scale shape: one scalar max broadcast + one bounded bucket agg +
    * a window over ≤targetBuckets rows + a broadcast join back onto
    * the stream + a |types| agg — the key_skew_profile family;
    * nothing row-level is globally sorted. */
  def watermarkProfile(events: DataFrame, targetBuckets: Long = 4096L): DataFrame = {
    val widthDf = events.agg(greatest(lit(1L),
      expr(s"(max(event_id) + ${targetBuckets}L) div ${targetBuckets}L")).as("wdt"))
    val b = events.crossJoin(broadcast(widthDf))
      .select(col("event_id"), col("event_type"), col("ts"),
        expr("event_id div wdt").as("bk"))
    val hw = b.groupBy(col("bk")).agg(max(col("ts")).as("bk_max"))
      .withColumn("hw_prior", max(col("bk_max")).over(
        Window.orderBy(col("bk")).rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("bk"), col("hw_prior"))
    b.join(broadcast(hw), "bk")
      .withColumn("late_ms",
        when(col("hw_prior").isNull, 0L)
          .otherwise(greatest(lit(0L), expr("(hw_prior - ts) div 1000000L"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_ms") > 0L, 1L).otherwise(0L)).as("n_late"),
        roundn(expr("percentile(late_ms, 0.5)"), 6).as("p50_ms"),
        roundn(expr("percentile(late_ms, 0.95)"), 6).as("p95_ms"),
        max(col("late_ms")).as("max_ms"))
  }

  /** SCD2 POINT-IN-TIME LOOKUP — the READ half of the slowly-changing
    * dimension ([[scd2UserState]] builds the history; this is the
    * warehouse query it exists for): attach to every purchase event
    * the user-state version VALID AT that event's timestamp
    * (valid_from ≤ ts < valid_to, open interval current). Because the
    * version intervals partition each user's timeline from their
    * first event, every purchase matches exactly one version — a
    * purchase that itself opens a version sees that version
    * (valid_from inclusive), the as-of-including-self convention.
    *
    * Scale shape: the history and the fact side both key on user_id —
    * the join is co-keyed with the window shuffle that built the
    * history (no extra exchange under the same partitioning); the
    * interval predicate filters the per-user version list, which is
    * bounded by that user's state CHANGES, not their event count. */
  def scd2Lookup(events: DataFrame): DataFrame = {
    val hist = scd2UserState(events)
    events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"))
      .join(hist, Seq("user_id"))
      .filter(col("valid_from") <= col("ts_us") &&
        (col("valid_to").isNull || col("ts_us") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("version"), col("state"))
  }

  /** Trailing event-time window per user — a RANGE frame over the
    * time axis (not ROWS): every event sees the count/sum of its
    * user's events in the preceding hour, however many rows that is.
    * One shuffle on user_id, one sort; Spark maintains the sliding
    * frame incrementally. Time axis is µs (oracle timestamp
    * precision); RANGE peers make tie order irrelevant, so no
    * tie-break column is needed for determinism. */
  def trailingHourStats(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600L * 1000 * 1000, Window.currentRow)
    events
      .withColumn("ts_us", expr("ts div 1000"))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      .withColumn("n_trailing_hour", count(lit(1)).over(w))
      .withColumn("sum_trailing_hour", roundn(sum(col("value")).over(w), 4))
      .select(col("event_id"), col("user_id"), col("n_trailing_hour"),
        col("sum_trailing_hour"))
  }

  /** As-of join — the time-series operator Spark has no builtin for
    * (the brief's canonical custom-operator example): for every left
    * row, attach the right row with the greatest `ts` ≤ the left
    * row's `ts` within the same `key` group.
    *
    * Implementation is the SCALE-RIGHT shape — a union-tag sweep, not
    * a range join: tag sides, sort each key group once by
    * (ts, side, tie), and carry the latest right payload forward with
    * `last(_, ignoreNulls)` over the running frame. ONE shuffle on
    * `key`, one sort, zero row blow-up — where a theta/range join
    * would materialize |L|·|R| per key before filtering.
    *
    * Determinism: right rows sort before left rows at equal ts (so
    * ties match, DuckDB-ASOF-style `>=`), and `tieBreak` totally
    * orders right rows sharing (key, ts) — the LARGEST tieBreak wins.
    * Output: every left column + each non-key right column as
    * `<prefix><name>`; unmatched left rows carry nulls. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               tieBreak: String, prefix: String = "asof_"): DataFrame = {
    val rPayload = right.columns.filter(_ != key).toSeq
    val lStructDT = left.select(struct(left.columns.map(col): _*)).schema.head.dataType
    val rStructDT = right.select(struct(rPayload.map(col): _*)).schema.head.dataType
    val l = left.select(
      col(key), col(ts).as("_ts"), lit(1).as("_side"), lit(Long.MaxValue).as("_tie"),
      struct(left.columns.map(col): _*).as("_l"), lit(null).cast(rStructDT).as("_r"))
    val r = right.select(
      col(key), col(ts).as("_ts"), lit(0).as("_side"), col(tieBreak).cast("long").as("_tie"),
      lit(null).cast(lStructDT).as("_l"), struct(rPayload.map(col): _*).as("_r"))
    val w = Window.partitionBy(col(key)).orderBy(col("_ts"), col("_side"), col("_tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("_m", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .select(left.columns.toSeq.map(c => col(s"_l.$c").as(c)) ++
        rPayload.map(c => col(s"_m.$c").as(prefix + c)): _*)
  }

  /** Purchase→view attribution: each purchase event joined as-of to
    * the same user's latest prior (or simultaneous) view event.
    * Timestamps are truncated to MICROSECONDS before matching — the
    * oracle engine reads TIMESTAMP(NANOS) parquet at µs precision,
    * so matching on raw nanos would put the two engines on different
    * axes at sub-µs boundaries. */
  def purchaseAttribution(events: DataFrame): DataFrame = {
    // integer division — ts nanos ≈ 1.7e18 exceeds double's exact
    // integer range, so a float divide would drift by ±1 µs
    val ev = events.withColumn("ts_us", expr("ts div 1000"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"), col("event_id").as("view_event_id"), col("value"))
    asofJoin(purchases, views, key = "user_id", ts = "ts_us", tieBreak = "view_event_id")
      .select(col("event_id"), col("user_id"),
        col("asof_view_event_id").as("view_event_id"),
        (col("ts_us") - col("asof_ts_us")).as("gap_us"),
        roundn(col("asof_value"), 6).as("view_value"))
  }

  /** Declarative data-quality expectation audit (the dbt-test /
    * Great Expectations receipt, run in-engine): eight standard
    * checks over the order pipeline — primary-key uniqueness,
    * both foreign-key orphan counts, numeric range bounds, a value
    * domain, a null census, and the cross-table temporal invariant
    * (no lineitem ships before its order) — each one row
    * (check_name, n_checked, n_violations, ok). The gate a 100 TB
    * ingest promotes a batch on; a check that "fails" is a
    * MEASUREMENT, pinned exactly, not an assertion error.
    *
    * Scale shape: every check is one scan-and-aggregate or one
    * key-join (the FK legs are anti-joins on the join key, the
    * temporal leg rides the fact-dim equi-join); all results are
    * 1-row aggs unioned driver-free. */
  def dataQualityChecks(lineitem: DataFrame, orders: DataFrame,
                        customer: DataFrame): DataFrame = {
    def fin(name: String, agg: DataFrame): DataFrame = agg
      .select(lit(name).as("check_name"),
        col("n_checked").cast("long").as("n_checked"),
        col("n_violations").cast("long").as("n_violations"))
      .withColumn("ok", col("n_violations") === 0L)
    val pkU = fin("orders_pk_unique",
      orders.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_checked"),
          coalesce(sum(col("c") - 1), lit(0L)).as("n_violations")))
    val fkLo = fin("lineitem_fk_orders",
      lineitem.select(col("l_orderkey"))
        .join(orders.select(col("o_orderkey").as("l_orderkey")),
          Seq("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .crossJoin(broadcast(lineitem.agg(count(lit(1)).as("n_checked")))))
    val fkOc = fin("orders_fk_customer",
      orders.select(col("o_custkey"))
        .join(customer.select(col("c_custkey").as("o_custkey")),
          Seq("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .crossJoin(broadcast(orders.agg(count(lit(1)).as("n_checked")))))
    val qty = fin("lineitem_quantity_range",
      lineitem.agg(count(lit(1)).as("n_checked"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("n_violations")))
    val disc = fin("lineitem_discount_range",
      lineitem.agg(count(lit(1)).as("n_checked"),
        sum(when(col("l_discount") < 0.0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("n_violations")))
    val dom = fin("orders_status_domain",
      orders.agg(count(lit(1)).as("n_checked"),
        sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L)
          .otherwise(0L)).as("n_violations")))
    val bal = fin("customer_acctbal_not_null",
      customer.agg(count(lit(1)).as("n_checked"),
        sum(when(col("c_acctbal").isNull, 1L).otherwise(0L)).as("n_violations")))
    val ship = fin("lineitem_ship_after_order",
      lineitem.select(col("l_orderkey"), col("l_shipdate"))
        .join(orders.select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
          "l_orderkey")
        .agg(count(lit(1)).as("n_checked"),
          sum(when(col("l_shipdate") < col("o_orderdate"), 1L)
            .otherwise(0L)).as("n_violations")))
    Seq(pkU, fkLo, fkOc, qty, disc, dom, bal, ship).reduce(_ unionByName _)
  }

  /** Multi-touch attribution model comparison — [[purchaseAttribution]]
    * answers "which view gets the credit" under ONE model (last
    * touch); this replays the same purchase→view credit under all
    * three standard models side by side, credited onto the view's
    * hour-of-day axis, so the model choice's effect is a pinned
    * receipt instead of a dashboard argument:
    *
    *   - `first_touch` / `last_touch`: the full 1e6-micro credit to
    *     the earliest / latest prior view;
    *   - `linear`: 1e6 div n to each of the n touches, the division
    *     remainder to the LAST touch — credit conservation is EXACT
    *     in integer micros (Σ credit ≡ 1e6 per attributed purchase,
    *     spec-pinned), where a float 1/n split would leak ulps.
    *
    * Touch lists come from a 7-day-lookback band join (the
    * events_band_join discipline: a production history is unbounded,
    * the lookback is what keeps the per-purchase touch set small);
    * ties break on event_id. Scale shape: one user-keyed equi-join
    * band-filtered map-side, two windows over the same purchase
    * partitioning, and a ≤ 3·24-key final agg. */
  def attributionCompare(events: DataFrame,
                         lookbackDays: Int = 7): DataFrame = {
    val lookbackUs = lookbackDays * 86400L * 1000 * 1000
    val ev = events.withColumn("ts_us", expr("ts div 1000"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts_us").as("p_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us").as("v_ts"),
        col("event_id").as("v_id"))
    val byP = Window.partitionBy(col("p_id"))
    val touches = purchases.join(views, "user_id")
      .filter(col("v_ts") < col("p_ts") &&
        col("v_ts") >= col("p_ts") - lookbackUs)
      .withColumn("n", count(lit(1)).over(byP))
      .withColumn("rn_first", row_number().over(
        byP.orderBy(col("v_ts"), col("v_id"))))
      .withColumn("rn_last", row_number().over(
        byP.orderBy(col("v_ts").desc, col("v_id").desc)))
      .withColumn("view_hour", expr("(v_ts div 3600000000L) % 24"))
    val first = touches.filter(col("rn_first") === 1)
      .select(lit("first_touch").as("model"), col("view_hour"),
        lit(1000000L).as("credit_micro"))
    val last = touches.filter(col("rn_last") === 1)
      .select(lit("last_touch").as("model"), col("view_hour"),
        lit(1000000L).as("credit_micro"))
    val linear = touches
      .select(lit("linear").as("model"), col("view_hour"),
        (expr("1000000L div n") +
          when(col("rn_last") === 1,
            lit(1000000L) - col("n") * expr("1000000L div n"))
            .otherwise(lit(0L))).as("credit_micro"))
    first.unionByName(last).unionByName(linear)
      .groupBy(col("model"), col("view_hour"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit_micro")).as("credit_micro"))
  }

  /** TPC-H Q3 (shipping priority) — the canonical 3-table
    * filter→join→agg→top-k shape, in exact integer units: revenue =
    * Σ extendedprice·(1 − discount) carried as cents × discount-
    * percent Longs (a float sum over an unbounded group is the
    * hash-flake class the engine bans), top-k by revenue with
    * orderkey tie-break.
    *
    * Scale shape: both date filters push to the parquet scans; the
    * filtered customer segment is a broadcast dim (the
    * revenue_by_region pattern); the only wide exchange is the
    * orderkey-keyed aggregation; top-k is TakeOrderedAndProject. */
  def q3ShippingPriority(customer: DataFrame, orders: DataFrame,
                         lineitem: DataFrame, segment: String = "BUILDING",
                         cutDate: String = "1998-06-01", k: Int = 10): DataFrame = {
    val cut = to_timestamp(lit(cutDate))
    val c = customer.filter(col("c_mktsegment") === segment)
      .select(col("c_custkey"))
    val o = orders.filter(col("o_orderdate") < cut)
      .select(col("o_custkey").as("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_orderpriority"))
    val l = lineitem.filter(col("l_shipdate") > cut)
      .select(col("l_orderkey").as("o_orderkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_cp"))
    o.join(broadcast(c), "c_custkey")
      .join(l, "o_orderkey")
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev_cp")).as("revenue_cp"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue_cp").desc, col("o_orderkey")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("revenue_cp").desc, col("o_orderkey"))).cast("long"))
      .select(col("rank"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"), col("revenue_cp"), col("n_items"))
  }

  /** Rollup aggregation (grouping-sets class): per (flag, status),
    * per flag subtotals, and grand total in one pass — Catalyst
    * expands to a single Expand + hash aggregate. NULL group markers
    * are coalesced to 'ALL' so the oracle's representation matches. */
  def rollupPricing(lineitem: DataFrame): DataFrame =
    lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(roundn(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))

  /** Anti join: customers with no order in the given status — the
    * probe side is the full customer table, the build side only the
    * filtered custkey projection (broadcast-able), never the orders
    * fact. */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame,
                             status: String = "F"): DataFrame =
    customer
      .join(
        orders.filter(col("o_orderstatus") === status)
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))

  /** CUBE aggregation — all four grouping sets of (flag, status) in
    * one pass (Expand + single hash aggregate), the grouping-sets
    * class beyond [[rollupPricing]]'s hierarchy. */
  def cubePricing(lineitem: DataFrame): DataFrame =
    lineitem
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(roundn(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))

  /** Revenue by part brand via an EXPLICITLY SALTED fact⋈dim join —
    * the declared, oracle-checked form of [[SkewOps.saltedEquiJoin]]:
    * the skewed fact side salts on a stable discriminator, the dim
    * side replicates ×salts, and the aggregated result is provably
    * identical to the plain join (that is what the oracle checks). */
  def saltedRevenueByBrand(lineitem: DataFrame, part: DataFrame, salts: Int = 4): DataFrame =
    SkewOps.saltedEquiJoin(
      lineitem.select(col("l_partkey").as("p_partkey"),
        col("l_extendedprice"), col("l_orderkey")),
      part.select(col("p_partkey"), col("p_brand")),
      key = "p_partkey", discriminator = "l_orderkey", salts = salts)
      .groupBy(col("p_brand"))
      .agg(roundn(sum(col("l_extendedprice")), 2).as("revenue"), count(lit(1)).as("n_items"))

  /** TPC-H Q1-shaped pricing summary — the canonical partial-agg
    * rollup; one shuffle carrying 4-ish groups regardless of scale. */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        roundn(sum(col("l_quantity")), 2).as("sum_qty"),
        roundn(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        roundn(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        roundn(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** t-closeness audit — the THIRD anonymity metric beside
    * [[kAnonymity]] and [[lDiversity]] (Li et al. '07): l-diversity
    * counts distinct sensitive values per class, but a class can hold
    * l values in wildly unrepresentative proportions and still leak
    * (99% one type is a near-certain inference even at l = 3).
    * t-closeness bounds the DISTANCE between each class's sensitive
    * distribution and the global one; for a categorical sensitive
    * attribute the earth-mover distance collapses to total variation,
    * tvd = ½·Σ_v |p_class(v) − p_global(v)|, and the release gate is
    * tvd ≤ t.
    *
    * Exactness: the TVD numerator Σ|cnt·gn − g·k| is exact Long
    * arithmetic on counts and tvd_micro = ⌊num·10⁶ / (2·k·gn)⌋ stays
    * integer end to end — no float enters the receipt (the search_mmr
    * lesson: rounded-quotient comparisons on dense grids diverge).
    *
    * Scale shape: the same two user-keyed aggs the other two audits
    * run (the per-user reduction is the only event-sized work,
    * materialized once for its four consumers — user-bounded, not
    * event-bounded); everything downstream lives on the
    * ≤(11·11·|types|) class×type spine, bounded regardless of corpus
    * size. */
  def tCloseness(events: DataFrame, tMaxMicro: Long = 250000L): DataFrame = {
    val users = quasiProfile(events)
      .select(col("activity_bucket"), col("days_bucket"), col("top_type"))
      .localCheckpoint(false)
    val global = users.groupBy(col("top_type")).agg(count(lit(1)).as("g"))
    val gn = users.groupBy().agg(count(lit(1)).as("gn"))
    val classes = users.groupBy(col("activity_bucket"), col("days_bucket"))
      .agg(count(lit(1)).as("k"))
    val classCnt = users
      .groupBy(col("activity_bucket"), col("days_bucket"), col("top_type"))
      .agg(count(lit(1)).as("cnt"))
    classes.crossJoin(broadcast(global)).crossJoin(broadcast(gn))
      .join(classCnt, Seq("activity_bucket", "days_bucket", "top_type"), "left")
      .withColumn("cnt0", coalesce(col("cnt"), lit(0L)))
      .withColumn("num", abs(col("cnt0") * col("gn") - col("g") * col("k")))
      .groupBy(col("activity_bucket"), col("days_bucket"))
      .agg(first(col("k")).as("k"), first(col("gn")).as("gn"),
        sum(col("num")).as("num"))
      .withColumn("tvd_micro", expr("(num * 1000000L) div (2L * k * gn)"))
      .select(col("activity_bucket"), col("days_bucket"), col("k"),
        col("tvd_micro"), (col("tvd_micro") <= lit(tMaxMicro)).as("t_ok"))
  }

  /** Mann–Whitney U drift test — the NONPARAMETRIC member of the
    * drift family ([[valueDrift]]'s KS compares binned CDFs; this
    * ranks): per event type, did the value distribution shift between
    * the early and late calendar halves? U is computed from the
    * value CENSUS (value → early/late counts), with average ranks for
    * ties carried in DOUBLED integer units (rank2 = 2·below + c + 1)
    * so R₁ and U₁ stay exact Longs; the tie-corrected normal
    * approximation z = (U₁ − n₁n₂/2)/σ is the single rounded double.
    *
    * Exactness: rank sums and the tie term Σ(c³−c) are exact integer
    * folds; only z touches float, computed once from exact integer
    * inputs and rounded once. A degenerate variance (one half empty,
    * or all values tied) guards to z = 0 (the abTest convention).
    *
    * Scale shape: one (type, value) census agg collapses the stream;
    * the rank window runs over the per-type census, which is
    * value-cardinality-bounded — exact ranks are the receipt tier; at
    * 100 TB the census window swaps for binned ranks (the same
    * exact→approx swap approx_stats_check documents), and the Long
    * rank sums for decimal(38,0). */
  def mannWhitney(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val base = events.select(col("event_type"),
      expr(s"ts div ${dayNanos}L").as("day"),
      (col("value") + lit(0.0)).as("v"))
    val bounds = base.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .withColumn("split_day", expr("(d0 + d1 + 1) div 2"))
      .select(col("event_type"), col("split_day"))
    val census = base.join(broadcast(bounds), "event_type")
      .withColumn("early", (col("day") < col("split_day")).cast("long"))
      .groupBy(col("event_type"), col("v"))
      .agg(sum(col("early")).as("c1"), sum(lit(1L) - col("early")).as("c2"))
      .withColumn("c", col("c1") + col("c2"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = census
      .withColumn("below", coalesce(sum(col("c")).over(w), lit(0L)))
      .withColumn("rank2", lit(2L) * col("below") + col("c") + lit(1L))
      .groupBy(col("event_type"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1") * col("rank2")).as("r1_x2"),
        sum(col("c") * col("c") * col("c") - col("c")).as("tie3"))
    agg
      .withColumn("u1_x2", col("r1_x2") - col("n1") * (col("n1") + lit(1L)))
      .withColumn("nn", col("n1") + col("n2"))
      .withColumn("varu",
        (col("n1") * col("n2")).cast("double") / lit(12.0) *
          ((col("nn") + lit(1L)).cast("double") -
            col("tie3").cast("double") /
              (col("nn") * (col("nn") - lit(1L))).cast("double")))
      .withColumn("z",
        when(col("varu") > 0.0,
          roundn((col("u1_x2") - col("n1") * col("n2")).cast("double") /
            (lit(2.0) * sqrt(col("varu"))), 6))
          .otherwise(lit(0.0)))
      .select(col("event_type"), col("n1").as("n_early"),
        col("n2").as("n_late"), col("u1_x2"), col("z"),
        (abs(col("z")) > lit(1.96)).as("significant"))
  }

  /** Theil–Sen slope — the ROBUST companion to [[eventsTrend]]'s OLS
    * drift: the median of all pairwise slopes of the per-type daily
    * mean series shrugs off the outlier days that drag a
    * least-squares line (breakdown point ~29% vs OLS's single-point
    * sensitivity). Slopes are computed in exact integer micros with
    * an explicit FLOOR division on both engines (Spark `div`
    * truncates toward zero and DuckDB `//` floors — on negative
    * numerators they disagree, so the quotient is floored via pmod
    * before dividing); the median of an even count is carried DOUBLED
    * (med_x2 = sum of the two middle slopes) so the receipt never
    * leaves integer units — the q3_shipping_priority convention.
    *
    * Scale shape: one (type, day) agg collapses the stream to the
    * calendar-bounded daily table; the pair self-join and the rank
    * window run over ≤ days²/2 rows per type — bounded by the
    * calendar, not the data. */
  def theilSenTrend(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val daily = events
      .select(col("event_type"), expr(s"ts div ${dayNanos}L").as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(roundn(avg(col("value")), 6).as("m"))
      .select(col("event_type"), col("day"),
        expr("CAST(round(m * 1000000) AS BIGINT)").as("mm"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        (col("b.mm") - col("a.mm")).as("num"),
        (col("b.day") - col("a.day")).as("den"))
      .withColumn("slope_micro", expr("(num - pmod(num, den)) div den"))
    val cnt = pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("lo", expr("(n_pairs + 1) div 2"))
      .withColumn("hi", expr("n_pairs div 2 + 1"))
    val nDays = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("slope_micro"))
    pairs
      .withColumn("rn", row_number().over(w))
      .join(broadcast(cnt), "event_type")
      .groupBy(col("event_type"))
      .agg(first(col("n_pairs")).as("n_pairs"),
        sum(when(col("rn") === col("lo"), col("slope_micro"))
          .otherwise(lit(0L))).as("s_lo"),
        sum(when(col("rn") === col("hi"), col("slope_micro"))
          .otherwise(lit(0L))).as("s_hi"))
      .withColumn("med_x2", col("s_lo") + col("s_hi"))
      .withColumn("ts_slope_micro", expr("(med_x2 - pmod(med_x2, 2)) div 2"))
      .join(broadcast(nDays), "event_type")
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("med_x2"), col("ts_slope_micro"))
  }

  /** Benford first-digit audit — the fraud/generation-artifact screen
    * of the data-quality family ([[dataQualityChecks]] gates on
    * declared constraints; this checks a STATISTICAL law): naturally
    * occurring money amounts follow P(d) = log₁₀(1 + 1/d), and a χ²
    * distance from that curve is the classic fabricated-data tripwire
    * (synthetic generators usually fail it — the receipt says by how
    * much). The first significant digit is taken from the STRING of
    * the exact cent integer (×100 never changes the leading digit) —
    * no float log10 near a digit boundary can misbin.
    *
    * Exactness: the Benford table is a compile-time integer-micros
    * literal on BOTH engines (it sums to exactly 10⁶), expected
    * counts and observed shares stay integer (share_micro is a floor
    * quotient), and only the χ² terms touch float — each computed
    * once from exact integer inputs, folded in digit order, rounded
    * once. Digits absent from the data keep a spine row (n_obs = 0).
    *
    * Scale shape: one 9-key agg with map-side partials; everything
    * after the census is a 9-row spine. */
  def benfordAudit(orders: DataFrame): DataFrame = {
    val benfordMicro = "array(301030L, 176091L, 124939L, 96910L, 79181L, " +
      "66947L, 57992L, 51153L, 45757L)"
    val digits = orders.sparkSession.range(1, 10)
      .select(col("id").as("digit"))
      .withColumn("benford_micro",
        expr(s"element_at($benfordMicro, CAST(digit AS INT))"))
    val cents = orders.select(
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val obs = cents
      .select(substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val n = cents.groupBy().agg(count(lit(1)).as("n"))
    val joined = digits.join(obs, Seq("digit"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .crossJoin(broadcast(n))
      .withColumn("exp_micro", col("n") * col("benford_micro"))
      .withColumn("diff",
        (col("n_obs") * lit(1000000L) - col("exp_micro")).cast("double"))
      .withColumn("contrib_raw", col("diff") * col("diff") /
        (col("exp_micro") * lit(1000000L)).cast("double"))
    val chi2 = joined.groupBy()
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("digit"), col("contrib_raw")), 6).as("chi2"))
    joined.crossJoin(broadcast(chi2))
      .select(col("digit"), col("n_obs"),
        expr("(n_obs * 1000000L) div n").as("share_micro"),
        col("benford_micro"),
        roundn(col("contrib_raw"), 6).as("chi2_contrib"),
        col("chi2"),
        (col("chi2") <= lit(15.507313)).as("benford_ok"))
  }
  /** TPC-H Q18 (large-volume orders) — the group-by-HAVING semi-join
    * chain: orders whose lineitems sum past `minQty` units, joined
    * back to customer and ranked by order value. The classic plan
    * trap is aggregating the 3-way join; here the HAVING filter runs
    * on lineitem ALONE first (one orderkey-keyed agg that prunes
    * ~99% of orders), and only survivors join orders and the
    * broadcast customer dim — the filter-before-join shape that
    * survives a 100× fact scale-up.
    *
    * Exactness: quantities are integral by data contract (cast to
    * Long, summed exactly); order value ranks in exact cents with
    * o_orderkey as the total tie order — the q3 convention. */
  def q18LargeOrders(customer: DataFrame, orders: DataFrame,
                     lineitem: DataFrame, minQty: Long = 300,
                     k: Int = 100): DataFrame = {
    val big = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        round(col("o_totalprice") * 100).cast("long").as("total_cents"))
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .orderBy(col("total_cents").desc, col("o_orderkey")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("total_cents").desc, col("o_orderkey"))).cast("long"))
      .select(col("rank"), col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("total_cents"), col("sum_qty"))
  }
  /** Exponentially-weighted daily mean (α = ½) in EXACT integer
    * arithmetic — the smoothing member of the forecasting family
    * ([[eventsForecastBacktest]] grades a point model; this is the
    * classic low-lag level estimate monitoring dashboards track):
    * S_t = (S_{t−1} + m_t)/2 unrolls to the closed form
    * S_T·2^(T−1) = m_1 + Σ_{t≥2} m_t·2^(t−2), computed in
    * decimal(38,0) with shiftleft weights so NO float enters —
    * the sequential recurrence becomes one order-free exact sum.
    * The window is the trailing `windowDays` days: weights below
    * 2^−32 are sub-micro (beneath the output grid by construction),
    * so truncation is exact at the receipt's own resolution, and the
    * scaled sum stays bounded (2^30·10⁹ ≪ 10³⁸) at ANY corpus size.
    * Floored divisions use the pmod idiom (the theilSenTrend rule)
    * so negative daily means divide identically on both engines.
    *
    * Scale shape: one (type, day) agg collapses the stream; ranking
    * and the weighted fold run on the ≤ windowDays-row-per-type
    * table. */
  def eventsEwma(events: DataFrame, windowDays: Int = 32): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val daily = events
      .select(col("event_type"), expr(s"ts div ${dayNanos}L").as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(roundn(avg(col("value")), 6).as("m"))
      .select(col("event_type"), col("day"),
        expr("CAST(round(m * 1000000) AS BIGINT)").as("mm"))
    val bd = daily.groupBy(col("event_type")).agg(max(col("day")).as("d1"))
    val rk = daily.join(broadcast(bd), "event_type")
      .filter(col("day") > col("d1") - windowDays)
      .withColumn("t", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))))
    rk.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("mm")).as("msum"),
        sum(expr("CAST(mm AS DECIMAL(38,0)) * CAST(CASE WHEN t = 1 THEN 1L " +
          "ELSE shiftleft(1L, CAST(t - 2 AS INT)) END AS DECIMAL(38,0))"))
          .as("scaled"),
        expr("max_by(mm, t)").as("last_micro"))
      .withColumn("denom",
        expr("CAST(shiftleft(1L, CAST(n_days - 1 AS INT)) AS DECIMAL(38,0))"))
      .withColumn("ewma_micro",
        expr("CAST((scaled - pmod(scaled, denom)) div denom AS BIGINT)"))
      .withColumn("mean_micro", expr("(msum - pmod(msum, n_days)) div n_days"))
      .select(col("event_type"), col("n_days"), col("last_micro"),
        col("mean_micro"), col("ewma_micro"))
  }
  /** Periodogram analysis bins for the 28-day window (harmonic k ↔
    * period 28/k days — k=4 IS the weekly cycle) and their
    * fixed-point trig tables, shared verbatim with the oracle (the
    * [[graft.ops.MultimodalOps.dftCosMicro]] convention on the time
    * axis). */
  val PeriodogramBins: Array[Int] = Array(1, 2, 4, 7, 14)
  lazy val pgCosMicro: Array[Array[Long]] = PeriodogramBins.map(k =>
    Array.tabulate(28)(n => Math.round(math.cos(2 * math.Pi * k * n / 28) * 1e6)))
  lazy val pgSinMicro: Array[Array[Long]] = PeriodogramBins.map(k =>
    Array.tabulate(28)(n => Math.round(math.sin(2 * math.Pi * k * n / 28) * 1e6)))

  /** Exact DFT periodogram of the per-type daily series — WHICH cycle
    * drives the signal, where [[eventsSeasonality]] assumes the
    * daily cycle and folds by hour: the trailing 28 days (gap days
    * contribute zero after mean-centering — the standard missing-
    * data convention, stated not hidden), 5 harmonic bins with k=4 ↔
    * the 7-day week, energies in EXACT integer arithmetic against the
    * fixed-point trig tables (micro products floor-scaled to millis,
    * squared in decimal(38,0) so no bound on the daily means can
    * overflow), dominant bin per type with the lowest-k tie-break.
    * The decimal energy stays INTERNAL (it orders the dominant pick
    * at full precision); the declared output floor-divides it to
    * `energy_milli2` — a BIGINT whose values fit 2^53 — per the
    * SURVEY §5 rule that declared outputs carry only driver-hashable
    * types (the r11 lesson: a DECIMAL(38,0) column with ~6.2e21
    * values hashed unequal across engines despite identical values).
    *
    * Scale shape: one (type, day) agg collapses the stream; the trig
    * join and DFT folds run over ≤ 28·5 rows per type — calendar-
    * bounded. The 28-row trig spine broadcasts. */
  def eventsPeriodogram(events: DataFrame): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val trig = (for {
      ki <- PeriodogramBins.indices
      n <- 0 until 28
    } yield (PeriodogramBins(ki).toLong, n.toLong,
      pgCosMicro(ki)(n), pgSinMicro(ki)(n)))
      .toDF("k", "n", "cosm", "sinm")
    val daily = events
      .select(col("event_type"), expr(s"ts div ${dayNanos}L").as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(roundn(avg(col("value")), 6).as("m"))
      .select(col("event_type"), col("day"),
        expr("CAST(round(m * 1000000) AS BIGINT)").as("mm"))
      // bounded (type, day) table serving three legs — one stream scan
      .localCheckpoint(false)
    val bd = daily.groupBy(col("event_type")).agg(max(col("day")).as("d1"))
    val win = daily.join(broadcast(bd), "event_type")
      .filter(col("day") > col("d1") - 28)
      .withColumn("n", col("day") - (col("d1") - 27))
    val mean = win.groupBy(col("event_type"))
      .agg(sum(col("mm")).as("msum"), count(lit(1)).as("cnt"))
      .select(col("event_type"),
        expr("(msum - pmod(msum, cnt)) div cnt").as("mean_micro"))
    val dev = win.join(broadcast(mean), "event_type")
      .select(col("event_type"), col("n"), (col("mm") - col("mean_micro")).as("dev"))
    val energies = dev.join(broadcast(trig), "n")
      .groupBy(col("event_type"), col("k"))
      .agg(sum(col("dev") * col("cosm")).as("cmic"),
        sum(col("dev") * col("sinm")).as("smic"))
      .withColumn("cm", expr("(cmic - pmod(cmic, 1000L)) div 1000L"))
      .withColumn("sm", expr("(smic - pmod(smic, 1000L)) div 1000L"))
      .withColumn("energy", expr(
        "CAST(CAST(cm AS DECIMAL(38,0)) * CAST(cm AS DECIMAL(38,0)) + " +
          "CAST(sm AS DECIMAL(38,0)) * CAST(sm AS DECIMAL(38,0)) AS DECIMAL(38,0))"))
    energies
      .withColumn("rn", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("energy").desc, col("k"))))
      .select(col("event_type"), col("k"), expr("28L div k").as("period_days"),
        expr("energy div 1000000L").as("energy_milli2"),
        (col("rn") === 1).as("dominant"))
  }

  /** Rank-profile of the per-type daily series — the last unexercised
    * window builtins in one query: `percent_rank` and `cume_dist`
    * place each day's mean within its type's distribution, and
    * `first_value` / `nth_value` over the full frame carry the
    * distribution's two smallest values alongside every row (the
    * "how far above the floor is today" lens). All four share ONE
    * window spec — partition by event_type, order by (mm, day) —
    * so the plan pays a single exchange and a single sort.
    *
    * Determinism: the (mm, day) ordering is unique per partition, so
    * the rank fractions are exact rationals both engines compute
    * identically; rounded to the 6dp grid anyway per convention.
    *
    * Scale shape: one (type, day) agg collapses the stream; the
    * window runs over the calendar-bounded daily table, partitioned
    * on the uniform type key. */
  def eventsRankProfile(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val daily = events
      .select(col("event_type"), expr(s"ts div ${dayNanos}L").as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(roundn(avg(col("value")), 6).as("m"))
      .select(col("event_type"), col("day"),
        expr("CAST(round(m * 1000000) AS BIGINT)").as("mm"))
    val byVal = Window.partitionBy(col("event_type"))
      .orderBy(col("mm"), col("day"))
    val full = byVal.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    daily
      .withColumn("pr", roundn(percent_rank().over(byVal), 6))
      .withColumn("cd", roundn(cume_dist().over(byVal), 6))
      .withColumn("first_mm", first(col("mm")).over(full))
      .withColumn("second_mm", nth_value(col("mm"), 2).over(full))
      .select(col("event_type"), col("day"), col("mm"), col("pr"),
        col("cd"), col("first_mm"), col("second_mm"))
  }

  /** rank / dense_rank with REAL ties — the two gap-semantics ranking
    * builtins [[eventsRankProfile]]'s fraction functions and the
    * row_number tie-breaks elsewhere never exercise: per type, each
    * event's value rank under both functions on the SAME window
    * (ties in the milli grid are common, so rank gaps and dense
    * compaction both actually occur). Tied rows share their rank by
    * definition, so every output row is deterministic without a
    * tie-break — the property that makes rank() safe where
    * row_number() would flake.
    *
    * Scale shape: one type-keyed exchange + one sort serving both
    * functions. */
  def eventsValueRanks(events: DataFrame): DataFrame = {
    val byVal = Window.partitionBy(col("event_type"))
      .orderBy(col("v3"))
    events
      .select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("v3"))
      .withColumn("rnk", rank().over(byVal).cast("long"))
      .withColumn("drnk", dense_rank().over(byVal).cast("long"))
  }

  /** Distribution-shape census — exact SKEWNESS and EXCESS KURTOSIS
    * per type from integer power sums, completing the moment family
    * beside mean/stddev ([[valueStats]]) and the quantile screens:
    * the four raw sums Σv, Σv², Σv³, Σv⁴ accumulate EXACTLY (milli
    * fixed point; decimal(38,0) powers — v⁴ terms hold to ~1e32 rows,
    * order-free), then the standardized central moments evaluate in
    * ONE fixed double-expression shape both engines parse identically
    * (m2^1.5 spelled m2·√m2 — `pow` is libm-implementation-defined,
    * sqrt is IEEE-exact). Scale-invariance of skew/kurt makes the
    * milli scaling free. Constant series emit 0/0 explicitly (m2 = 0
    * is exact there — the power sums divide out).
    *
    * Scale shape: ONE map-side-partial agg on the uniform type key;
    * everything after runs on |types| rows. */
  def eventsMoments(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("v3"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("v3")).as("s1"),
        sum(expr("CAST(CAST(v3 AS DECIMAL(38,0)) * v3 AS DECIMAL(38,0))")).as("s2"),
        sum(expr("CAST(CAST(v3 AS DECIMAL(38,0)) * v3 * v3 AS DECIMAL(38,0))")).as("s3"),
        sum(expr("CAST(CAST(v3 AS DECIMAL(38,0)) * v3 * v3 * v3 AS DECIMAL(38,0))")).as("s4"))
      .withColumn("mean", expr("CAST(s1 AS DOUBLE) / n"))
      .withColumn("q2", expr("CAST(s2 AS DOUBLE) / n"))
      .withColumn("q3", expr("CAST(s3 AS DOUBLE) / n"))
      .withColumn("q4", expr("CAST(s4 AS DOUBLE) / n"))
      .withColumn("m2", expr("q2 - mean * mean"))
      .withColumn("m3", expr("q3 - 3.0D * mean * q2 + 2.0D * mean * mean * mean"))
      .withColumn("m4", expr(
        "q4 - 4.0D * mean * q3 + 6.0D * mean * mean * q2" +
          " - 3.0D * mean * mean * mean * mean"))
      .select(col("event_type"), col("n"),
        expr("(s1 - pmod(s1, n)) div n").as("mean_milli"),
        roundn(when(col("m2") > 0.0,
          col("m3") / (col("m2") * sqrt(col("m2")))).otherwise(lit(0.0)), 6)
          .as("skewness"),
        roundn(when(col("m2") > 0.0,
          col("m4") / (col("m2") * col("m2")) - lit(3.0)).otherwise(lit(0.0)), 6)
          .as("kurtosis_ex"))

  /** Population Stability Index — the industry-standard drift score
    * beside [[valueDrift]]'s KS (distribution shape) and
    * [[mixDrift]]'s chi-square (composition): per type, the early and
    * late calendar halves' value distributions over 10 SHARED
    * equal-width bins (global bounds broadcast, the valueDrift
    * convention), PSI = sum((p_l - p_e) * ln(p_l / p_e)). Empty bins
    * are Laplace-smoothed (p = (c+1)/(n+10)) — deterministic on both
    * engines, no epsilon hack — and every bin participates via an
    * explicit type-by-bin spine so a bin empty in BOTH halves still
    * contributes its (tiny, n-dependent) smoothing term. The 0.1 /
    * 0.2 industry thresholds are emitted as the verdict column.
    *
    * Scale shape: one (type, half, bin) agg collapses the stream
    * (map-side partial); the spine, smoothing, and key-ordered ln
    * fold run over |types| * 10 rows. */
  def psiDrift(events: DataFrame, nBins: Int = 10): DataFrame = {
    import graft.functions.VectorMath.orderedSum
    val ss = events.sparkSession
    import ss.implicits._
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val bounds = events.agg(
      min(expr(s"ts div ${dayNanos}L")).as("d0"),
      max(expr(s"ts div ${dayNanos}L")).as("d1"),
      min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    val counts = events
      .select(col("event_type"), expr(s"ts div ${dayNanos}L").as("day"),
        col("value"))
      .crossJoin(broadcast(bounds))
      .withColumn("half",
        when(col("day") < expr("(d0 + d1 + 1) div 2"), "early").otherwise("late"))
      .withColumn("bin", least(lit(nBins - 1L), floor(
        (col("value") - col("vmin")) * nBins /
          greatest(col("vmax") - col("vmin"), lit(1e-12)))
        .cast("long")))
      .groupBy(col("event_type"), col("half"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val spine = counts.select(col("event_type")).distinct()
      .crossJoin(broadcast((0L until nBins.toLong).toDF("bin")))
    val cells = spine
      .join(counts.filter(col("half") === "early")
        .select(col("event_type"), col("bin"), col("c").as("c_e")),
        Seq("event_type", "bin"), "left")
      .join(counts.filter(col("half") === "late")
        .select(col("event_type"), col("bin"), col("c").as("c_l")),
        Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("c_e", "c_l"))
    val totals = cells.groupBy(col("event_type"))
      .agg(sum(col("c_e")).as("n_early"), sum(col("c_l")).as("n_late"))
    cells.join(broadcast(totals), "event_type")
      .withColumn("pe",
        (col("c_e") + lit(1L)).cast("double") / (col("n_early") + lit(nBins.toLong)))
      .withColumn("pl",
        (col("c_l") + lit(1L)).cast("double") / (col("n_late") + lit(nBins.toLong)))
      .groupBy(col("event_type"))
      .agg(max(col("n_early")).as("n_early"), max(col("n_late")).as("n_late"),
        roundn(orderedSum(col("bin"),
          (col("pl") - col("pe")) * log(col("pl") / col("pe"))), 6).as("psi"))
      // a type with every row in one half has no two-sample question:
      // flag not-comparable explicitly (the valueDrift convention)
      .withColumn("comparable", col("n_early") > 0L && col("n_late") > 0L)
      .withColumn("verdict", when(!col("comparable"), lit(null).cast("string"))
        .when(col("psi") < 0.1, lit("stable"))
        .when(col("psi") < 0.2, lit("moderate"))
        .otherwise(lit("major")))
      .select(col("event_type"), col("n_early"), col("n_late"),
        col("comparable"), when(col("comparable"), col("psi")).as("psi"),
        col("verdict"))
  }

  /** Spearman rank correlation of the per-type daily series against
    * the day axis — the MONOTONE-trend detector beside
    * [[eventsTrend]]'s OLS slope (linear) and [[theilSenTrend]]'s
    * median slope (robust linear): rho is invariant to any monotone
    * transform of the values, so it answers "does this series go up"
    * without assuming a line. Day ranks are distinct (row_number on
    * the calendar axis); value ranks handle ties with AVERAGE ranks
    * carried DOUBLED from the value census (the [[mannWhitney]]
    * rank2 convention — never a fractional rank), and Pearson on
    * doubled ranks equals Pearson on ranks exactly (scale cancels).
    * All five correlation sums are exact Longs (n <= calendar days,
    * rank2 <= 2n+1 => sums < 8n^4, overflow-free for any calendar);
    * the single double division happens once at the end. A constant
    * series (zero rank variance) emits rho = 0 / not-monotone
    * EXPLICITLY — the only portable semantics vs a 0/0.
    *
    * Scale shape: one (type, day) agg collapses the stream; ranks,
    * census, and sums all run over the calendar-bounded daily table. */
  def spearmanTrend(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val daily = events
      .select(col("event_type"), expr(s"ts div ${dayNanos}L").as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(roundn(avg(col("value")), 6).as("m"))
      .select(col("event_type"), col("day"),
        expr("CAST(round(m * 1000000) AS BIGINT)").as("mm"))
    val census = daily.groupBy(col("event_type"), col("mm"))
      .agg(count(lit(1)).as("c"))
    val wBelow = Window.partitionBy(col("event_type")).orderBy(col("mm"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val yRank = census
      .withColumn("below", coalesce(sum(col("c")).over(wBelow), lit(0L)))
      .select(col("event_type"), col("mm"),
        (lit(2L) * col("below") + col("c") + lit(1L)).as("ry2"))
    val ranked = daily
      .withColumn("rx2", lit(2L) * row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))).cast("long"))
      .join(yRank, Seq("event_type", "mm"))
    ranked.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("rx2")).as("sx"), sum(col("ry2")).as("sy"),
        sum(col("rx2") * col("rx2")).as("sxx"),
        sum(col("ry2") * col("ry2")).as("syy"),
        sum(col("rx2") * col("ry2")).as("sxy"))
      .withColumn("varx", col("n_days") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vary", col("n_days") * col("syy") - col("sy") * col("sy"))
      .withColumn("rho",
        when(col("varx") > 0L && col("vary") > 0L,
          roundn((col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt(col("varx").cast("double") * col("vary").cast("double")), 6))
          .otherwise(lit(0.0)))
      .select(col("event_type"), col("n_days"), col("rho"),
        (abs(col("rho")) > 0.5).as("monotone"))
  }

  /** Wald–Wolfowitz runs test — the RANDOMNESS audit of the per-type
    * daily series beside [[benfordAudit]]'s digit screen: too FEW
    * runs of above/below-median days means trending or sticky
    * regimes, too MANY means oscillation — either way the
    * i.i.d.-noise assumption behind [[eventsForecast]]'s residual
    * bands is broken. The median is exact from the value census
    * (med_x2 = sum of the two middle values, the [[theilSenTrend]]
    * doubled-median convention); exact-median days are DROPPED (the
    * standard treatment, stated not hidden); runs count via one lag
    * over the day-ordered daily table; z from the exact (n1, n2, R)
    * integers in one rounded double expression, with degenerate
    * one-sided series (n1 = 0 or n2 = 0 => zero variance) emitting
    * z = 0 / random EXPLICITLY. A fully-CONSTANT series has every day
    * equal to its median and drops out entirely — it has no runs
    * question to ask (stated, not hidden; both engines agree by the
    * same filter).
    *
    * Scale shape: one (type, day) agg collapses the stream; census,
    * median, lag, and counts all run over the calendar-bounded daily
    * table. */
  def runsTest(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val daily = events
      .select(col("event_type"), expr(s"ts div ${dayNanos}L").as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(roundn(avg(col("value")), 6).as("m"))
      .select(col("event_type"), col("day"),
        expr("CAST(round(m * 1000000) AS BIGINT)").as("mm"))
    val census = daily.groupBy(col("event_type"), col("mm"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("mm"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = census
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("event_type"))))
      .withColumn("lo", expr("(n + 1) div 2"))
      .withColumn("hi", expr("n div 2 + 1"))
    val med = cum
      .groupBy(col("event_type"))
      .agg(sum(when(col("cum") - col("c") < col("lo") && col("lo") <= col("cum"),
          col("mm")).otherwise(lit(0L))).as("m_lo"),
        sum(when(col("cum") - col("c") < col("hi") && col("hi") <= col("cum"),
          col("mm")).otherwise(lit(0L))).as("m_hi"))
      .select(col("event_type"), (col("m_lo") + col("m_hi")).as("med_x2"))
    val signed = daily.join(broadcast(med), "event_type")
      .filter(lit(2L) * col("mm") =!= col("med_x2"))
      .withColumn("above", (lit(2L) * col("mm") > col("med_x2")).cast("long"))
    val wLag = Window.partitionBy(col("event_type")).orderBy(col("day"))
    signed
      .withColumn("prev", lag(col("above"), 1).over(wLag))
      .groupBy(col("event_type"))
      .agg(sum(col("above")).as("n1"),
        sum(lit(1L) - col("above")).as("n2"),
        (sum(when(col("prev").isNull || col("prev") =!= col("above"), 1L)
          .otherwise(0L))).as("n_runs"))
      .withColumn("nn", col("n1") + col("n2"))
      .withColumn("mu",
        lit(2.0) * col("n1") * col("n2") / col("nn") + lit(1.0))
      .withColumn("varr",
        when(col("n1") > 0L && col("n2") > 0L && col("nn") > 1L,
          lit(2.0) * col("n1") * col("n2") *
            (lit(2.0) * col("n1") * col("n2") - col("n1") - col("n2")) /
            (col("nn").cast("double") * col("nn") * (col("nn") - lit(1L))))
          .otherwise(lit(0.0)))
      .withColumn("z",
        when(col("varr") > 0.0,
          roundn((col("n_runs") - col("mu")) / sqrt(col("varr")), 6))
          .otherwise(lit(0.0)))
      .select(col("event_type"), col("n1").as("n_above"),
        col("n2").as("n_below"), col("n_runs"), col("z"),
        (abs(col("z")) > 1.96).as("nonrandom"))
  }

  /** TPC-H Q5 (local supplier volume) — the CORRELATED 6-table join
    * the simpler rollups dodge: revenue only counts when the customer
    * and the supplier share a nation (`c_nationkey = s_nationkey` —
    * the equality that makes this a correlation query, not a chain of
    * lookups), region-filtered and windowed to one order year, in
    * exact cent×pct units (the [[q3ShippingPriority]] convention).
    *
    * Scale shape: region/nation broadcast into the filter side;
    * customer joins orders on custkey, lineitem joins on orderkey and
    * carries its suppkey to the supplier join; the nation equality is
    * a residual predicate on two already-joined columns — no extra
    * shuffle. The final agg is |nations|-bounded. */
  def q5LocalSupplier(customer: DataFrame, orders: DataFrame,
                      lineitem: DataFrame, supplier: DataFrame,
                      nation: DataFrame, region: DataFrame,
                      regionName: String = "ASIA",
                      yearStart: String = "1996-01-01"): DataFrame = {
    val start = to_timestamp(lit(yearStart))
    val rn = nation
      .join(broadcast(region.filter(col("r_name") === regionName)
        .select(col("r_regionkey"))), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val c = customer.select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(rn), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val o = orders
      .filter(col("o_orderdate") >= start &&
        col("o_orderdate") < add_months(start, 12))
      .select(col("o_orderkey"), col("o_custkey"))
    val l = lineitem.select(col("l_orderkey"), col("l_suppkey"),
      (round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_cp"))
    val s = supplier.select(col("s_suppkey"), col("s_nationkey"))
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_cp")).as("revenue_cp"), count(lit(1)).as("n_items"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("revenue_cp").desc, col("n_name"))).cast("long"))
      .select(col("rank"), col("n_name"), col("revenue_cp"), col("n_items"))
  }

  /** TPC-H Q10 (returned-item reporting) — the churn-triage classic
    * completing the Q1/Q3/Q5/Q18 set: top customers by revenue on
    * RETURNED items ('R' flag) for one order quarter, with the
    * customer's nation carried for the follow-up call. Exact
    * cent×pct units; top-k via TakeOrderedAndProject with the
    * (revenue desc, custkey) tie-break.
    *
    * Scale shape: the quarter filter pushes to the orders scan and
    * the flag filter to the lineitem scan; customer and nation
    * broadcast around the fact probe; the agg key (custkey) is
    * uniform. */
  def q10ReturnedItems(customer: DataFrame, orders: DataFrame,
                       lineitem: DataFrame, nation: DataFrame,
                       quarterStart: String = "1996-01-01",
                       k: Int = 20): DataFrame = {
    val start = to_timestamp(lit(quarterStart))
    val o = orders
      .filter(col("o_orderdate") >= start &&
        col("o_orderdate") < add_months(start, 3))
      .select(col("o_orderkey"), col("o_custkey"))
    val l = lineitem.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_cp"))
    val c = customer.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
      col("c_nationkey"))
    val n = nation.select(col("n_nationkey"), col("n_name"))
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("rev_cp")).as("revenue_cp"), count(lit(1)).as("n_returned"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .orderBy(col("revenue_cp").desc, col("c_custkey")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("revenue_cp").desc, col("c_custkey"))).cast("long"))
      .select(col("rank"), col("c_custkey"), col("c_name"), col("n_name"),
        roundn(col("c_acctbal"), 2).as("c_acctbal"),
        col("revenue_cp"), col("n_returned"))
  }

  /** TPC-H Q4 (order-priority checking) — the first member of the
    * CORRELATED-SUBQUERY class (EXISTS over the fact keyed by the
    * outer row): count one quarter's orders per priority where at
    * least one lineitem shipped late (here: > 60 days after the order
    * date — the synthetic schema has no commit/receipt dates, so
    * lateness correlates on the OUTER's o_orderdate, which keeps the
    * subquery genuinely correlated rather than a plain filter). The
    * oracle states the EXISTS form verbatim; the engine decorrelates
    * it into ONE left-semi join whose condition mixes the orderkey
    * equality with the non-equi lateness predicate — no
    * re-scan-per-outer-row anywhere.
    *
    * Scale shape: the quarter filter pushes to the orders scan; the
    * semi join shuffles both sides once on orderkey (equi-keyed — the
    * lateness residual rides the join, it doesn't degrade it to a
    * nested loop); the final agg is |priorities|-bounded. */
  def q4OrderPriority(orders: DataFrame, lineitem: DataFrame,
                      quarterStart: String = "1996-01-01",
                      lateDays: Int = 60): DataFrame = {
    val start = to_timestamp(lit(quarterStart))
    val o = orders
      .filter(col("o_orderdate") >= start &&
        col("o_orderdate") < add_months(start, 3))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val l = lineitem.select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q21 (suppliers who kept orders waiting) — the classic hard
    * correlated query: EXISTS and NOT EXISTS over the SAME fact table,
    * keyed by the outer lineitem's order. A supplier is charged with a
    * wait when, on a finished ('F') order, it shipped late (> 60 days
    * after the order date — the [[q4OrderPriority]] lateness
    * convention) while some OTHER supplier participated in the order
    * (EXISTS) and no other supplier was also late (NOT EXISTS).
    * Waits are counted per DISTINCT (order, supplier) incident. The
    * oracle states both correlated subqueries verbatim; the engine
    * decorrelates them into one left-semi and one left-anti join on
    * the shared late-incident table.
    *
    * Scale shape: lateness needs o_orderdate, so late incidents are
    * computed ONCE ([[org.apache.spark.sql.Dataset!.localCheckpoint(eager:Boolean):org.apache.spark.sql.Dataset[T]* localCheckpoint]]ed — they feed the probe side AND the
    * anti side) as an orderkey-keyed equi-join; the semi probes the
    * raw fact on orderkey with the supplier inequality as residual;
    * the anti probes the bounded incident table. Supplier/nation
    * broadcast at the end; the agg key (suppkey) is uniform. */
  def q21SuppliersKeptWaiting(supplier: DataFrame, orders: DataFrame,
                              lineitem: DataFrame, nation: DataFrame,
                              lateDays: Int = 60, k: Int = 20): DataFrame = {
    val o = orders.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    // distinct late (order, supplier) incidents on finished orders —
    // bounded by the fact, reused by the base, EXISTS and NOT EXISTS
    // legs, so evaluate once
    val late = lineitem.select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
      .select(col("l_orderkey"), col("l_suppkey"))
      .distinct()
      .localCheckpoint(false)
    val others = lineitem.select(col("l_orderkey").as("x_orderkey"),
      col("l_suppkey").as("x_suppkey"))
    val kept = late
      // EXISTS: some other supplier participated in the order
      .join(others, col("l_orderkey") === col("x_orderkey") &&
        col("l_suppkey") =!= col("x_suppkey"), "left_semi")
      // NOT EXISTS: no other supplier was ALSO late on it
      .join(late.select(col("l_orderkey").as("y_orderkey"),
          col("l_suppkey").as("y_suppkey")),
        col("l_orderkey") === col("y_orderkey") &&
          col("l_suppkey") =!= col("y_suppkey"), "left_anti")
    kept.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"),
        col("s_nationkey"))), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .orderBy(col("numwait").desc, col("s_name")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("numwait").desc, col("s_name"))).cast("long"))
      .select(col("rank"), col("s_name"), col("n_name"), col("numwait"))
  }

  /** TPC-H Q2 (minimum-cost supplier) — the correlated SCALAR-min
    * subquery: for every part of a given size, keep exactly the
    * supplier(s) whose offer equals that part's minimum cost, where
    * the minimum is itself a subquery correlated on the outer's
    * partkey. The synthetic schema has no partsupp table, so the
    * offer book derives from the fact: a supplier's offer for a part
    * is its cheapest observed sale in exact cents (min over lineitem
    * of round(extendedprice·100)). The oracle states the correlated
    * scalar subquery verbatim; the engine decorrelates it into ONE
    * per-part min aggregate equi-joined back onto the offers — the
    * textbook magic-set rewrite, no per-part re-scan. Ties (two
    * suppliers at the same minimum) keep both rows, exactly the
    * subquery semantics.
    *
    * Scale shape: the size filter pushes to the part scan and prunes
    * offers via the part join BEFORE the min/agg pair; offers and
    * mins join on the uniform (partkey, cost) key; supplier/nation
    * broadcast for the detail columns. */
  def q2MinCostSupplier(part: DataFrame, supplier: DataFrame,
                        lineitem: DataFrame, nation: DataFrame,
                        size: Int = 15): DataFrame = {
    val p = part.filter(col("p_size") === size)
      .select(col("p_partkey"), col("p_name"), col("p_type"))
    val offers = lineitem
      .join(broadcast(p.select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("cost_cp"))
      // offers feed the per-part min AND the join-back — pin the
      // bounded (part, supplier) table so the fact scans once
      .localCheckpoint(false)
    val mins = offers.groupBy(col("l_partkey").as("m_partkey"))
      .agg(min(col("cost_cp")).as("min_cp"))
    offers
      .join(mins, col("l_partkey") === col("m_partkey") &&
        col("cost_cp") === col("min_cp"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"),
        col("s_acctbal"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(roundn(col("s_acctbal"), 2).as("s_acctbal"), col("s_name"),
        col("n_name"), col("p_partkey"), col("p_name"), col("p_type"),
        col("cost_cp"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
  }

  /** TPC-H Q6 (forecasting revenue change) — the pure scan-agg
    * classic: one year of lineitems in a discount band under a
    * quantity cap, revenue = Σ extendedprice·discount in exact
    * cent×pct units. No join, no window — the query IS the scan, so
    * its entire cost profile is pushdown + map-side partial agg.
    *
    * Scale shape: the date range pushes to the parquet scan
    * (PushedFilters); the discount-band predicate compares the
    * ROUNDED integer pct (a computed column — evaluated in the same
    * codegen stage as the scan filter residual); the agg collapses
    * map-side to one row per partition. */
  def q6ForecastRevenue(lineitem: DataFrame,
                        yearStart: String = "1996-01-01"): DataFrame = {
    val start = to_timestamp(lit(yearStart))
    lineitem
      .filter(col("l_shipdate") >= start &&
        col("l_shipdate") < add_months(start, 12))
      .select(round(col("l_extendedprice") * 100).cast("long").as("ep_cp"),
        round(col("l_discount") * 100).cast("long").as("disc_pct"),
        col("l_quantity"))
      .filter(col("disc_pct").between(5, 7) && col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_items"),
        sum(col("ep_cp") * col("disc_pct")).as("revenue_cp_pct"))
  }

  /** TPC-H Q14 (promotion effect) — conditional aggregation over the
    * part join: what share of one month's revenue came from PROMO
    * parts. Revenue stays in exact cent×pct BIGINTs; the share is an
    * exact floored MICRO quotient computed through a decimal(38,0)
    * intermediate (promo·10⁶ would overflow Long at cluster scale;
    * the decimal stays INTERNAL per the §5.2 hashable-envelope rule).
    *
    * Scale shape: the month filter pushes to the lineitem scan; part
    * broadcasts (p_partkey, p_type only — column pruning keeps the
    * build side thin); the conditional agg is map-side partial. */
  def q14PromoRevenue(lineitem: DataFrame, part: DataFrame,
                      monthStart: String = "1996-09-01"): DataFrame = {
    val start = to_timestamp(lit(monthStart))
    val p = part.select(col("p_partkey"), col("p_type"))
    lineitem
      .filter(col("l_shipdate") >= start &&
        col("l_shipdate") < add_months(start, 1))
      .select(col("l_partkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_cp"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type") === "PROMO", col("rev_cp"))
          .otherwise(lit(0L))).as("promo_cp_pct"),
        sum(col("rev_cp")).as("total_cp_pct"))
      .withColumn("promo_share_micro", expr(
        "CAST((CAST(promo_cp_pct AS DECIMAL(38,0)) * 1000000) div total_cp_pct AS BIGINT)"))
  }

  /** TPC-H Q17 (small-quantity-order revenue) — the correlated AVG
    * subquery: lineitems whose quantity sits below 20% of their
    * part's average quantity. The oracle states the correlated
    * `l_quantity < 0.2 * (SELECT avg ...)` verbatim; the engine
    * decorrelates it into one per-part (qsum, cnt) aggregate joined
    * back, with the threshold compared EXACTLY in integers:
    * qty < 0.2·(qsum/cnt) ⟺ 5·qty·cnt < qsum — quantities are
    * integral, so no float boundary can flip the strict inequality
    * on either engine.
    *
    * Scale shape: the brand filter broadcasts into the fact probe
    * FIRST, so the per-part agg runs over the brand slice, not the
    * corpus; the pruned slice is checkpointed (it feeds the agg and
    * the probe); output is |brands|-bounded. */
  def q17SmallQuantityRevenue(lineitem: DataFrame, part: DataFrame,
                              brands: Seq[String] = Seq("Brand#1", "Brand#2")): DataFrame = {
    val p = part.filter(col("p_brand").isin(brands: _*))
      .select(col("p_partkey"), col("p_brand"))
    val li = lineitem
      .select(col("l_partkey"),
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("ep_cp"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      // the brand slice feeds the per-part agg AND the probe — pin it
      .localCheckpoint(false)
    val pa = li.groupBy(col("l_partkey").as("a_partkey"))
      .agg(sum(col("qty")).as("qsum"), count(lit(1)).as("cnt"))
    li.join(pa, col("l_partkey") === col("a_partkey"))
      .filter(lit(5L) * col("qty") * col("cnt") < col("qsum"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small"), sum(col("ep_cp")).as("revenue_cp"))
      .orderBy(col("p_brand"))
  }

  /** TPC-H Q19 (discounted revenue, disjunctive predicate) — the
    * OR-of-ANDs pushdown classic: three (brand, size-band,
    * quantity-band) branches over the part join. The branch union's
    * IMPLIED single-table bounds are pushed manually to each side
    * (part: brand ∈ the 3 brands ∧ size ≤ 15; lineitem: qty ∈
    * [1, 30]) — the rewrite Catalyst does not infer across an OR of
    * conjunctions — and the exact disjunction evaluates as the join
    * residual on the pre-pruned rows.
    *
    * Scale shape: both implied filters reach their scans; part
    * broadcasts; one map-side-partial agg row. */
  def q19DisjunctiveRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val p = part
      .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34") &&
        col("p_size") >= 1 && col("p_size") <= 15)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val li = lineitem
      .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
      .select(col("l_partkey"), col("l_quantity"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_cp"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(count(lit(1)).as("n_items"), sum(col("rev_cp")).as("revenue_cp_pct"))
  }

  /** TPC-H Q22 (global sales opportunity) — the scalar-subquery +
    * NOT EXISTS pair: customers whose balance exceeds the average
    * POSITIVE balance (an uncorrelated scalar subquery — one global
    * aggregate) and who placed no order since `sinceDate` (the
    * correlated NOT EXISTS), grouped by nation (standing in for the
    * reference query's phone-prefix country code, which the synthetic
    * schema lacks). The threshold compares exactly in integers:
    * bal > s/n ⟺ bal·n > s in cent units.
    *
    * Scale shape: the scalar aggregate is ONE broadcast row (the
    * dppReceipt bounded-localize convention, kept in-plan as a
    * broadcast crossJoin, no driver round-trip); the NOT EXISTS is a
    * left-anti equi-join on custkey against the date-pruned orders
    * scan; nation broadcasts; the agg is |nations|-bounded. */
  def q22GlobalBalance(customer: DataFrame, orders: DataFrame,
                       nation: DataFrame,
                       sinceDate: String = "1999-01-01"): DataFrame = {
    val bal = customer.select(col("c_custkey"), col("c_nationkey"),
      round(col("c_acctbal") * 100).cast("long").as("bal_cp"))
    val pos = bal.filter(col("bal_cp") > 0L)
      .agg(sum(col("bal_cp")).as("s"), count(lit(1)).as("n"))
    val recent = orders
      .filter(col("o_orderdate") >= to_timestamp(lit(sinceDate)))
      .select(col("o_custkey"))
    bal.crossJoin(broadcast(pos))
      .filter(col("bal_cp") * col("n") > col("s"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"), sum(col("bal_cp")).as("total_bal_cp"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q7 (volume shipping) — the two-nation trade-flow query:
    * revenue shipped between a nation PAIR, in both directions,
    * bucketed by ship year. Both nation lookups broadcast; the pair
    * disjunction is a residual on the two already-joined nation
    * names. The nation filters are applied INSIDE the broadcast dims
    * (supplier and customer each pre-pruned to the two nations), so
    * the fact probe drops non-participating rows at the first join
    * rather than carrying them to the residual.
    *
    * Scale shape: the ship-date window pushes to the lineitem scan;
    * supplier/customer/nation broadcast; one agg on the bounded
    * (nation, nation, year) key. */
  def q7VolumeShipping(lineitem: DataFrame, orders: DataFrame,
                       customer: DataFrame, supplier: DataFrame,
                       nation: DataFrame,
                       nationA: String = "NATION_1", nationB: String = "NATION_2",
                       windowStart: String = "1996-01-01"): DataFrame = {
    val start = to_timestamp(lit(windowStart))
    val n2 = nation.filter(col("n_name").isin(nationA, nationB))
    val s = supplier.select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(n2.select(col("n_nationkey"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cu = customer.select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(n2.select(col("n_nationkey").as("cn_key"),
        col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"), col("cust_nation"))
    val l = lineitem
      .filter(col("l_shipdate") >= start &&
        col("l_shipdate") < add_months(start, 24))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_cp"))
    l.join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cu), col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(count(lit(1)).as("n"), sum(col("rev_cp")).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q8 (national market share) — the conditional-ratio
    * classic: within one region's market for one part type, what
    * share of each order year's revenue did a given supplier nation
    * take. The share is the conditional-sum / total-sum pair in exact
    * cent×pct BIGINTs plus an exact floored micro quotient (the
    * [[q14PromoRevenue]] convention — the decimal intermediate stays
    * internal).
    *
    * Scale shape: the type filter pre-prunes part INSIDE its
    * broadcast (the fact drops non-matching rows at the first join);
    * the date window pushes to the orders scan; customer pre-joins
    * its region-filtered nation so only in-region customers build;
    * supplier nation broadcast; final agg is |years|-bounded. */
  def q8MarketShare(lineitem: DataFrame, orders: DataFrame,
                    customer: DataFrame, supplier: DataFrame,
                    nation: DataFrame, region: DataFrame,
                    regionName: String = "ASIA", partType: String = "PROMO",
                    shareNation: String = "NATION_1",
                    windowStart: String = "1996-01-01",
                    part: DataFrame): DataFrame = {
    val start = to_timestamp(lit(windowStart))
    val p = part.filter(col("p_type") === partType).select(col("p_partkey"))
    val rn = nation
      .join(broadcast(region.filter(col("r_name") === regionName)
        .select(col("r_regionkey"))), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cu = customer.select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(rn), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val s = supplier.select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val o = orders
      .filter(col("o_orderdate") >= start &&
        col("o_orderdate") < add_months(start, 24))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
    lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_cp"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cu), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_year"))
      .agg(sum(when(col("supp_nation") === shareNation, col("rev_cp"))
          .otherwise(lit(0L))).as("nation_rev"),
        sum(col("rev_cp")).as("total_rev"),
        count(lit(1)).as("n"))
      .withColumn("share_micro", expr(
        "CAST((CAST(nation_rev AS DECIMAL(38,0)) * 1000000) div total_rev AS BIGINT)"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q15 (top supplier) — the uncorrelated scalar-MAX subquery
    * member of the correlated-subquery family: per-supplier quarter
    * revenue, keep exactly the supplier(s) achieving the maximum
    * (ties kept — the subquery semantics, same policy as
    * [[q2MinCostSupplier]]'s min). The engine computes the revenue
    * table ONCE (checkpointed — it feeds the max and the probe),
    * folds the max to a 1-row broadcast, and equi-filters against it
    * in-plan — no driver round-trip.
    *
    * Scale shape: the quarter filter pushes to the scan; the revenue
    * agg shuffles once on the uniform suppkey; the max is a scalar
    * crossJoin broadcast; supplier broadcasts for the name. */
  def q15TopSupplier(lineitem: DataFrame, supplier: DataFrame,
                     quarterStart: String = "1996-01-01"): DataFrame = {
    val start = to_timestamp(lit(quarterStart))
    val rev = lineitem
      .filter(col("l_shipdate") >= start &&
        col("l_shipdate") < add_months(start, 3))
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("total_rev"))
      // feeds the scalar max AND the equality probe — evaluate once
      .localCheckpoint(false)
    val mx = rev.agg(max(col("total_rev")).as("max_rev"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("max_rev"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  /** The derived offer book — the partsupp substitute the synthetic
    * schema lacks, shared by Q2/Q9/Q11/Q16/Q20: a supplier's offer
    * for a part is its observed sale history in the fact —
    * `cost_cp` = cheapest sale in exact cents (min of
    * round(extendedprice·100), the Q2 derivation) and `availqty` =
    * total quantity shipped (exact integer units). One groupBy on the
    * uniform (partkey, suppkey) pair key with map-side partials;
    * callers localCheckpoint when the book feeds two consumers.
    * Output: (l_partkey, l_suppkey, cost_cp, availqty). */
  def offerBook(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("cost_cp"),
        sum(round(col("l_quantity")).cast("long")).as("availqty"))

  /** TPC-H Q11 (important stock identification) — the scalar-sum
    * HAVING subquery: per-part inventory value within one nation's
    * suppliers, keeping parts whose value exceeds a threshold drawn
    * from scalar subqueries over the same slice. partsupp derives
    * from the fact ([[offerBook]]); value = cost_cp · availqty in
    * exact cent·unit integers, summed through DECIMAL(38,0) (cost ≤
    * 10⁷ cents × cluster-scale quantities overflows Long; the decimal
    * stays INTERNAL per the §5.2 hashable-envelope rule — the output
    * casts the per-part value to BIGINT, safe to ~9.2e18 cent·units,
    * i.e. ~10⁹× the sf0.1 maximum of 1.2e10).
    *
    * The original's fixed fraction (0.0001/SF) is itself
    * scale-DEPENDENT — TPC-H retunes it per SF — so the adapted
    * threshold is stated scale-invariantly: keep parts worth more
    * than `meanMult`× the MEAN per-part value (value·n > mult·total,
    * exact integers, no float fraction; mult=3 keeps the slice
    * non-empty and selective at sf0.001/0.01/0.1 — 10/44/448 rows).
    *
    * Scale shape: the offer agg shuffles once on the pair key; the
    * nation slice broadcasts (suppliers are dimension-sized); the
    * per-part agg reuses the pair shuffle's key prefix; the scalar
    * (total, count) pair is a 1-row broadcast crossJoin (the q15/q22
    * convention). */
  def q11ImportantStock(supplier: DataFrame, lineitem: DataFrame,
                        nation: DataFrame, nationName: String = "NATION_3",
                        meanMult: Int = 3): DataFrame = {
    val supSlice = supplier
      .join(broadcast(nation.filter(col("n_name") === nationName)
        .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val perPart = offerBook(lineitem)
      .join(broadcast(supSlice), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"),
        (col("cost_cp").cast("decimal(38,0)") * col("availqty")).as("v"))
      .groupBy(col("l_partkey").as("ps_partkey"))
      .agg(sum(col("v")).as("value_dec"))
      // feeds the scalar total AND the HAVING probe — evaluate once
      .localCheckpoint(false)
    val tot = perPart.agg(sum(col("value_dec")).as("t"), count(lit(1)).as("n"))
    perPart.crossJoin(broadcast(tot))
      .filter(col("value_dec") * col("n") > col("t") * meanMult)
      .select(col("ps_partkey"), col("value_dec").cast("long").as("value_cp"))
      .orderBy(col("value_cp").desc, col("ps_partkey"))
  }

  /** TPC-H Q16 (parts/supplier relationship) — COUNT(DISTINCT) over
    * an anti-joined derived partsupp: how many distinct suppliers
    * offer each (brand, type, size) combination, excluding one brand,
    * a type prefix, sizes outside the stated set, and suppliers with
    * "complaints" (the synthetic schema carries no comment column —
    * negative account balance stands in, stated in the oracle's
    * NOT IN verbatim; suppkeys are non-null so the plain anti-join is
    * exactly NOT IN's semantics here, unlike [[nullAwareAntiJoin]]'s
    * receipt).
    *
    * Scale shape: the distinct pair projection collapses the fact
    * before anything else; complaints and the filtered part dimension
    * broadcast; COUNT(DISTINCT suppkey) expands to the standard
    * two-phase distinct-then-count pair of aggregates on the
    * (brand, type, size) key — no row explosion. */
  def q16PartSupplierCounts(part: DataFrame, supplier: DataFrame,
                            lineitem: DataFrame,
                            excludeBrand: String = "Brand#1",
                            excludeTypePrefix: String = "MEDIUM",
                            sizes: Seq[Int] = Seq(1, 5, 10, 15, 20, 25, 30, 35)): DataFrame = {
    val ps = lineitem.select(col("l_partkey"), col("l_suppkey")).distinct()
    val complaints = supplier.filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val p = part
      .filter(col("p_brand") =!= excludeBrand &&
        !col("p_type").startsWith(excludeTypePrefix) &&
        col("p_size").isin(sizes: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"),
        col("p_size").cast("long").as("p_size"))
    ps.join(broadcast(complaints), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q20 (potential part promotion) — the nested-IN chain with
    * a correlated AVG threshold: suppliers holding an OUTSIZED share
    * of some red part's volume. The original's
    * `availqty > 0.5 · qty-shipped-in-year` is vacuous under the
    * derived offer book (availability IS total shipped, which bounds
    * any year), so the threshold adapts while the shape stays: keep
    * pairs whose availqty exceeds TWICE the part's mean per-supplier
    * availqty — the oracle states it as two correlated scalar
    * subqueries (sum and count over the part's offers) compared in
    * exact integers (availqty·cnt > 2·sum — no float avg boundary),
    * and the engine decorrelates both into ONE per-part (sum, count)
    * aggregate joined back, the q17 rewrite.
    *
    * Scale shape: the red-part filter broadcasts into the offer book
    * BEFORE the per-part stats, so the agg runs over the name slice;
    * the book is checkpointed (it feeds the stats and the probe); the
    * qualifying-supplier set is distinct-collapsed then semi-joined
    * into the supplier dimension; nation broadcasts for the label. */
  def q20PotentialPromotion(part: DataFrame, supplier: DataFrame,
                            lineitem: DataFrame, nation: DataFrame,
                            namePrefix: String = "red"): DataFrame = {
    val redParts = part.filter(col("p_name").startsWith(namePrefix))
      .select(col("p_partkey"))
    val redOffers = offerBook(lineitem)
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_suppkey"), col("availqty"))
      // feeds the per-part stats AND the threshold probe
      .localCheckpoint(false)
    val stats = redOffers.groupBy(col("l_partkey").as("g_partkey"))
      .agg(sum(col("availqty")).as("qsum"), count(lit(1)).as("qcnt"))
    val qualifying = redOffers
      .join(stats, col("l_partkey") === col("g_partkey"))
      .filter(col("availqty") * col("qcnt") > col("qsum") * 2)
      .select(col("l_suppkey")).distinct()
    supplier
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"))
      .orderBy(col("s_name"))
  }

  /** TPC-H Q9 (product type profit) — the five-way star join with a
    * derived-cost profit measure: for parts whose name contains the
    * color token, profit = Σ (extendedprice·(1−discount) −
    * supplycost·quantity) per (supplier nation, order year), with
    * supplycost from the [[offerBook]]'s cheapest-sale derivation.
    * All arithmetic exact: revenue in cent·pct, cost lifted to the
    * same unit (cost_cp·100·qty), per-row amounts fit Long (≤ ~10⁹)
    * but the per-group sum goes through DECIMAL(38,0) (§5.2 envelope
    * — a 100 TB year·nation group overflows Long), and the output
    * truncates to whole dollars via `div 10000` — BOTH engines'
    * integer division truncates toward zero (Spark `div`, DuckDB
    * `//`), so the negative profits this cost model produces agree
    * bit-for-bit.
    *
    * Scale shape: the name filter broadcasts into the fact FIRST
    * (the dominant prune); the offer book joins on the pair key the
    * fact already carries; orders joins on orderkey (the one big
    * shuffle); supplier and nation broadcast; the final agg key
    * (nation, year) is tiny and uniform. */
  def q9ProductTypeProfit(part: DataFrame, supplier: DataFrame,
                          lineitem: DataFrame, orders: DataFrame,
                          nation: DataFrame, nameToken: String = "red"): DataFrame = {
    val p = part.filter(col("p_name").contains(nameToken)).select(col("p_partkey"))
    val costs = offerBook(lineitem)
      .select(col("l_partkey").as("c_partkey"), col("l_suppkey").as("c_suppkey"),
        col("cost_cp"))
    lineitem
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(costs, col("l_partkey") === col("c_partkey") &&
        col("l_suppkey") === col("c_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")) -
          col("cost_cp") * 100L * round(col("l_quantity")).cast("long"))
          .cast("decimal(38,0)").as("amount"))
      .groupBy(col("nation"), col("o_year"))
      .agg(sum(col("amount")).as("profit_dec"))
      .select(col("nation"), col("o_year"),
        expr("CAST(profit_dec div 10000 AS BIGINT)").as("profit_dollars"))
      .orderBy(col("nation"), col("o_year"))
  }

  /** TPC-H Q13 (customer distribution) — the correlated COUNT
    * subquery as a histogram: how many customers placed exactly N
    * qualifying orders (priority filter standing in for the comment
    * LIKE — the synthetic orders carry no comment), INCLUDING the
    * zero-order customers the inner join would drop. The oracle
    * states the correlated scalar count; the engine decorrelates it
    * into aggregate-before-join — orders collapse to per-customer
    * counts FIRST, then a left join + coalesce(0) recovers the
    * zero-count customers, then the second agg folds counts into the
    * histogram.
    *
    * Scale shape: the priority filter pushes to the orders scan; the
    * first agg shrinks orders to ≤|customers| rows BEFORE the join
    * (the eager-agg receipt's shape), so the left join moves counts,
    * not order rows; the histogram agg is tiny. */
  def q13CustomerDistribution(customer: DataFrame, orders: DataFrame,
                              excludePriority: String = "1-URGENT"): DataFrame = {
    val counts = orders.filter(col("o_orderpriority") =!= excludePriority)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    customer.select(col("c_custkey"))
      .join(counts, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** STL-lite seasonal decomposition — the three-way split the
    * events family's separate trend/seasonality queries imply but
    * never pin together: series = trend + seasonal + residual, all
    * in exact integer micros. Trend is the centered 7-day moving
    * average (floored), taken ONLY on days whose window is a full
    * contiguous calendar week (count 7 AND span 6 — a gap day
    * invalidates the week, stated not hidden); seasonal is the
    * floored per-day-of-week mean of the detrended series; residual
    * is the exact remainder. The receipt column is the SEASONAL
    * STRENGTH — 1 − Σ|residual|/Σ|detrended| in floored micros,
    * clamped at 0 — the number that says whether the weekly profile
    * explains the series (1e6 = perfectly periodic) or is noise
    * being dressed up; a flat series (zero detrended mass) emits a
    * null strength explicitly rather than a 0/0.
    *
    * Scale shape: one (type, day) agg collapses the stream; the MA
    * window, dow census, and strength sums all run over the
    * calendar-bounded daily table. */
  def seasonalDecompose(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val daily = events
      .select(col("event_type"), expr(s"ts div ${dayNanos}L").as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(roundn(avg(col("value")), 6).as("m"))
      .select(col("event_type"), col("day"),
        expr("CAST(round(m * 1000000) AS BIGINT)").as("mm"))
    val w7 = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val det = daily
      .withColumn("wn", count(lit(1)).over(w7))
      .withColumn("wspan", max(col("day")).over(w7) - min(col("day")).over(w7))
      .withColumn("tsum", sum(col("mm")).over(w7))
      .filter(col("wn") === 7L && col("wspan") === 6L)
      .withColumn("trend", expr("(tsum - pmod(tsum, 7)) div 7"))
      .withColumn("det", col("mm") - col("trend"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
      .localCheckpoint(false)
    val seasonal = det.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("det")).as("ssum"))
      .withColumn("seasonal_micro",
        expr("(ssum - pmod(ssum, n_days)) div n_days"))
      .select(col("event_type"), col("dow"), col("n_days"), col("seasonal_micro"))
    val strength = det.join(broadcast(seasonal), Seq("event_type", "dow"))
      .withColumn("resid", col("det") - col("seasonal_micro"))
      .groupBy(col("event_type"))
      .agg(sum(abs(col("resid"))).as("sr"), sum(abs(col("det"))).as("sd"))
      .select(col("event_type"),
        when(col("sd") > 0L,
          greatest(lit(0L), lit(1000000L) - expr("(sr * 1000000L) div sd")))
          .as("strength_micro"))
    seasonal.join(broadcast(strength), "event_type")
      .select(col("event_type"), col("dow"), col("n_days"),
        col("seasonal_micro"), col("strength_micro"))
  }

  /** Exact weighted median — the weighted ORDER STATISTIC the plain
    * median family lacks: per return flag, the price below which half
    * the shipped QUANTITY sits (not half the line items — a
    * 50-unit line counts 50×). Both medians ride one price census
    * with integer cumulative weights (quantity is integral, so the
    * weighted rank positions stay exact Longs); the doubled-median
    * convention ([[theilSenTrend]]) carries even-total splits without
    * leaving integer cents; the unweighted median is emitted beside
    * it so the weighting's pull is visible in the receipt itself.
    *
    * Scale shape: one (flag, price) census with map-side partials;
    * the cumulative windows run over the bounded distinct-price
    * spine per flag (TPC-H prices are formula-generated — domain-
    * bounded, the [[paretoFront]] argument). */
  def weightedMedian(lineitem: DataFrame): DataFrame = {
    val census = lineitem
      .select(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cp"),
        col("l_quantity").cast("long").as("q"))
      .groupBy(col("flag"), col("price_cp"))
      .agg(sum(col("q")).as("w"), count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("flag")).orderBy(col("price_cp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("flag"))
    val cum = census
      .withColumn("cw", sum(col("w")).over(wCum))
      .withColumn("cc", sum(col("c")).over(wCum))
      .withColumn("tw", sum(col("w")).over(tot))
      .withColumn("tc", sum(col("c")).over(tot))
      .withColumn("wlo", expr("(tw + 1) div 2"))
      .withColumn("whi", expr("tw div 2 + 1"))
      .withColumn("clo", expr("(tc + 1) div 2"))
      .withColumn("chi", expr("tc div 2 + 1"))
    def pick(rank: String, cumCol: String, weight: String): Column =
      sum(when(col(cumCol) - col(weight) < col(rank) &&
        col(rank) <= col(cumCol), col("price_cp")).otherwise(lit(0L)))
    cum.groupBy(col("flag"))
      .agg(max(col("tw")).as("total_qty"), max(col("tc")).as("n_lines"),
        (pick("wlo", "cw", "w") + pick("whi", "cw", "w")).as("wmed_x2"),
        (pick("clo", "cc", "c") + pick("chi", "cc", "c")).as("med_x2"))
      .select(col("flag"), col("total_qty"), col("n_lines"),
        expr("wmed_x2 div 2").as("weighted_median_cp"),
        expr("med_x2 div 2").as("median_cp"))
  }

  /** Eager-aggregation receipt — THE join strategy a 100 TB revenue
    * rollup lives by, pinned as an identity: revenue per customer
    * nation computed (a) LATE — join lineitem through orders and
    * customer to nation first, aggregate last (every lineitem row
    * rides every shuffle) — and (b) EAGER — partially aggregate
    * lineitem onto o_orderkey BEFORE the orders join, re-aggregate
    * onto o_custkey before the customer join, so each join moves
    * pre-collapsed rows (SUM is decomposable; the same algebra
    * behind [[ivmAggReceipt]]). The two plans must agree
    * cent-for-cent per nation; the measured row-collapse factors
    * (lineitems → orders → customers) are emitted alongside — the
    * quantified reason eager wins: every subsequent shuffle moves
    * that many times fewer rows.
    *
    * Scale shape: leg (b) IS the shape to ship — bounded-key partial
    * aggs between every join, nation broadcast; leg (a) exists to be
    * pinned against and is itself map-side-partial aggregated. */
  def eagerAggReceipt(customer: DataFrame, orders: DataFrame,
                      lineitem: DataFrame, nation: DataFrame): DataFrame = {
    val rev = lineitem.select(col("l_orderkey"),
      (round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_cp"))
    val o = orders.select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
    val late = rev
      .join(o, "l_orderkey")
      .join(customer.select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        "o_custkey")
      .join(broadcast(nation.select(col("n_nationkey").as("c_nationkey"),
        col("n_name"))), "c_nationkey")
      .groupBy(col("n_name"))
      .agg(sum(col("rev_cp")).as("rev_late_cp"))
    val perOrder = rev.groupBy(col("l_orderkey"))
      .agg(sum(col("rev_cp")).as("rev_cp"), count(lit(1)).as("n_items"))
    val perCust = perOrder.join(o, "l_orderkey")
      .groupBy(col("o_custkey"))
      .agg(sum(col("rev_cp")).as("rev_cp"), sum(col("n_items")).as("n_items"),
        count(lit(1)).as("n_orders"))
    val eager = perCust
      .join(customer.select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        "o_custkey")
      .join(broadcast(nation.select(col("n_nationkey").as("c_nationkey"),
        col("n_name"))), "c_nationkey")
      .groupBy(col("n_name"))
      .agg(sum(col("rev_cp")).as("revenue_cp"), sum(col("n_items")).as("n_lineitems"),
        sum(col("n_orders")).as("n_orders"), count(lit(1)).as("n_customers"))
    eager.join(late, "n_name")
      .select(col("n_name"), col("n_lineitems"), col("n_orders"),
        col("n_customers"), col("revenue_cp"),
        (col("revenue_cp") === col("rev_late_cp")).as("ok"))
  }

  /** Pareto frontier (skyline) over parts — the preference-query
    * operator class: the set of parts no other part dominates under
    * (MINIMIZE retail price, MAXIMIZE size). A pair census collapses
    * the table; dominance tests reduce to two running maxima on the
    * distinct-price spine (a part is dominated iff a strictly
    * cheaper price level reaches its size, or its own price level
    * holds a strictly larger size) — no pairwise self-join, exact
    * integer cents throughout. Ties on BOTH axes survive together
    * (dominance requires one strict inequality — standard skyline).
    *
    * Scale shape: the (price, size) census is a map-side-partial
    * group-by; the running max runs over the distinct-price spine —
    * bounded by the price DOMAIN, not the row count (TPC-H prices
    * are formula-generated: ~O(100k) levels at any SF). The output
    * frontier is the maximal antichain — O(log n) expected on
    * independent axes — so the final rank window is trivially
    * bounded. */
  def paretoFront(part: DataFrame): DataFrame = {
    val census = part
      .select(round(col("p_retailprice") * 100).cast("long").as("price_cp"),
        col("p_size").cast("long").as("p_size"), col("p_partkey"))
      .groupBy(col("price_cp"), col("p_size"))
      .agg(count(lit(1)).as("n_parts"), min(col("p_partkey")).as("first_part"))
    val level = census.groupBy(col("price_cp"))
      .agg(max(col("p_size")).as("smax"))
      .withColumn("rbmax", max(col("smax")).over(
        Window.orderBy(col("price_cp"))
          .rowsBetween(Window.unboundedPreceding, -1)))
    census.join(level, "price_cp")
      .filter((col("rbmax").isNull || col("rbmax") < col("p_size")) &&
        col("smax") <= col("p_size"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("price_cp"), col("p_size"))).cast("long"))
      .select(col("rank"), col("price_cp"), col("p_size"),
        col("n_parts"), col("first_part"))
  }

  /** K-anonymity generalization LADDER — the ACTION half of
    * [[kAnonymity]]'s audit (the audit says "these classes are
    * re-identifiable"; the standard response is GLOBAL RECODING:
    * coarsen every quasi-identifier one notch and re-check, until the
    * smallest class reaches k): the full ladder of bucket granularities
    * (level l halves both quasi-identifier axes l times) evaluated in
    * one pass, each level reporting its class census and whether it
    * releases, plus the CHOSEN level — the first that clears `kMin`
    * (coarser levels merge classes, so min-k is monotone up the
    * ladder and "first" is the utility-optimal global recoding).
    *
    * Scale shape: ONE user-keyed profile agg (checkpointed — all
    * levels read it); each level is a ≤121-key class agg collapsed to
    * one row; the chosen-level scalar is a 1-row broadcast crossJoin.
    * The ladder is how a release pipeline prices generalization
    * before publishing: n_below says how many users the sub-k classes
    * still expose, level says how much resolution the release pays. */
  def kAnonLadder(events: DataFrame, kMin: Long = 5,
                  maxLevel: Int = 4): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val profile = events
      .select(col("user_id"), expr(s"ts div ${dayNanos}L").as("day"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"), countDistinct(col("day")).as("n_days"))
      .select(least(lit(10L), expr("n_ev div 10")).as("act"),
        least(lit(10L), expr("n_days div 3")).as("days"))
      .localCheckpoint(false)
    val ladder = (0 to maxLevel).map { l =>
      val f = 1L << l
      profile
        .groupBy(expr(s"act div ${f}L").as("qa"), expr(s"days div ${f}L").as("qd"))
        .agg(count(lit(1)).as("k"))
        .agg(count(lit(1)).as("n_classes"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          sum(when(col("k") < kMin, col("k")).otherwise(lit(0L))).as("n_below"))
        .select(lit(l.toLong).as("level"), col("n_classes"), col("min_k"),
          col("max_k"), col("n_below"))
    }.reduce(_ unionByName _)
    val chosen = ladder
      .agg(min(when(col("min_k") >= kMin, col("level"))).as("chosen_level"))
    ladder.crossJoin(broadcast(chosen))
      .select(col("level"), col("n_classes"), col("min_k"), col("max_k"),
        col("n_below"), (col("min_k") >= kMin).as("released"),
        (col("chosen_level").isNotNull &&
          col("level") === col("chosen_level")).as("chosen"))
  }

  /** Differentially-private MEDIAN release — [[dpCounts]]' sibling
    * for the other standard DP query shape (counts take Laplace
    * noise; ORDER STATISTICS take the EXPONENTIAL MECHANISM, because
    * adding noise to a rank-selected value has unbounded sensitivity
    * while the rank-distance utility has sensitivity 1): per event
    * type, a value v is released with probability ∝ exp(−ε·d(v)/2)
    * where d(v) is how many doubled rank positions v's census
    * interval sits from the median position — the standard
    * utility-based release over the VALUE GRID.
    *
    * Replayability ([[dpCounts]]' discipline): d2 is an exact integer
    * from the census cumulative counts (doubled units so the median
    * of an even n needs no halves); each weight rounds ONCE onto the
    * integer-micro grid (exp underflow to 0 is part of the contract —
    * far values carry exactly zero mass at 6dp), so the cumulative
    * weight is an exact Long (no float-association hazard in either
    * engine); the sampling draw is inverse-CDF on the portable 48-bit
    * hash of the type, and the release is the first census value
    * whose cumulative mass reaches u·total. The TRUE doubled median
    * rides along as ground truth (mechanism receipt, not a release).
    *
    * Scale shape: one value-grid-bounded census agg; cumulative
    * windows and the pick run over the census spine
    * ([[tailIndex]]'s cost family). */
  def dpQuantile(events: DataFrame, eps: Double = 1.0): DataFrame = {
    val census = events
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = census
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
      // doubled rank distance of the interval [cum-cnt+1, cum] from
      // the median position (n+1)/2 — exact integers throughout
      .withColumn("d2",
        when(lit(2L) * (col("cum") - col("cnt") + 1) > col("n") + 1,
          lit(2L) * (col("cum") - col("cnt") + 1) - (col("n") + 1))
          .when(lit(2L) * col("cum") < col("n") + 1,
            col("n") + 1 - lit(2L) * col("cum"))
          .otherwise(lit(0L)))
      .withColumn("wt_micro",
        round(exp(lit(-eps / 4.0) * col("d2")) * 1000000.0).cast("long"))
      .withColumn("cumw", sum(col("wt_micro")).over(wCum))
      .localCheckpoint(false)
    val medAndTotal = cum
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("cumw")).as("total"),
        sum(when(col("cum") - col("cnt") < expr("(n + 1) div 2") &&
          expr("(n + 1) div 2") <= col("cum"), col("cents")).otherwise(lit(0L)))
          .as("m_lo"),
        sum(when(col("cum") - col("cnt") < expr("n div 2 + 1") &&
          expr("n div 2 + 1") <= col("cum"), col("cents")).otherwise(lit(0L)))
          .as("m_hi"))
      .withColumn("med_x2", col("m_lo") + col("m_hi"))
      .withColumn("u",
        (graft.functions.PortableHash.hash48(
          concat(lit("dpq:"), col("event_type"))) + lit(0.5)) /
          lit(281474976710656.0))
      .select(col("event_type"), col("n"), col("med_x2"),
        (col("u") * col("total").cast("double")).as("thr"))
    cum.drop("n").join(broadcast(medAndTotal), "event_type")
      .filter(col("cumw").cast("double") >= col("thr"))
      .groupBy(col("event_type"), col("n"), col("med_x2"))
      .agg(min(col("cents")).as("dp_med_cents"),
        min_by(col("d2"), col("cents")).as("dp_rank_dist2"))
  }

  /** Mann–Kendall trend test — the NONPARAMETRIC companion to
    * [[eventsTrend]]'s least-squares slope and [[spearmanTrend]]'s
    * rank correlation (the hydrology-standard monotonic-trend screen:
    * no distribution assumption, exact under ties): per event type,
    * S = Σ_{i<j} sgn(y_j − y_i) over the day-ordered daily means,
    * with the tie-corrected variance
    * var = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18 and the
    * continuity-corrected z = (S∓1)/√var.
    *
    * Exactness: the daily means land on the 6dp grid
    * ([[spearmanTrend]]'s `mm` convention), S and 18·var are EXACT
    * integers (S from sign comparisons of grid integers, the tie term
    * from the mm-census group sizes), and the only float op is the
    * final z division+sqrt, rounded once. Degenerate handling: an
    * all-days-tied series (var = 0, n ≥ 2) emits z = 0 / no trend
    * EXPLICITLY; a SINGLE-day series (n < 2) produces no (i, j) pair
    * rows at all, so the tie-census inner join drops the type and it
    * emits NO row — absence, not z = 0, is that case's contract
    * (mirrored by the oracle's identical join).
    *
    * Scale shape: the event stream collapses to the calendar-bounded
    * daily table first (one (type, day) agg); the pair join, the tie
    * census, and the final fold all run over ≤ |types|·|days| rows —
    * the O(n²) pair enumeration is over DAYS (n² ≤ a few thousand for
    * any calendar window), never over events. */
  def mannKendall(events: DataFrame): DataFrame = {
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val daily = events
      .select(col("event_type"), expr(s"ts div ${dayNanos}L").as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(roundn(avg(col("value")), 6).as("m"))
      .select(col("event_type"), col("day"),
        expr("CAST(round(m * 1000000) AS BIGINT)").as("mm"))
      .localCheckpoint(false)
    val a = daily.select(col("event_type"), col("day").as("d1"), col("mm").as("m1"))
    val b = daily.select(col("event_type"), col("day").as("d2"), col("mm").as("m2"))
    val s = a.join(b, Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("m2") > col("m1"), 1L)
        .when(col("m2") < col("m1"), -1L).otherwise(0L)).as("s_stat"))
    val ties = daily.groupBy(col("event_type"), col("mm"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_groups"), sum(col("t")).as("n_days"),
        sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)).as("tie_term"))
    ties.join(s, Seq("event_type"))
      .withColumn("var18",
        col("n_days") * (col("n_days") - 1) * (lit(2L) * col("n_days") + 5)
          - col("tie_term"))
      .withColumn("z",
        when(col("var18") <= 0L, lit(0.0))
          .when(col("s_stat") > 0L,
            roundn((col("s_stat") - 1L).cast("double") /
              sqrt(col("var18").cast("double") / 18.0), 6))
          .when(col("s_stat") < 0L,
            roundn((col("s_stat") + 1L).cast("double") /
              sqrt(col("var18").cast("double") / 18.0), 6))
          .otherwise(lit(0.0)))
      .select(col("event_type"), col("n_days"), col("s_stat"), col("var18"),
        col("z"), (abs(col("z")) > lit(1.96)).as("trending"))
  }

  /** Hill tail-index estimator — the heavy-tail screen on the VALUE
    * distribution beside [[benfordAudit]]'s digit screen and
    * [[TextOps.zipfFit]]'s frequency screen (revenue, latency, and
    * token-count distributions are routinely Pareto-tailed; α prices
    * how heavy — α ≤ 2 means infinite variance, where mean-based
    * monitors like [[eventsEwma]] stop converging): per event type,
    * α = k / Σ_{i=1..k} ln(x_(i) / x_(k+1)) over the top-k order
    * statistics.
    *
    * The order statistics come from the VALUE CENSUS, not a sort:
    * the top-(k+1) multiset is exact from a cumulative count over the
    * per-(type, cents) census ([[rfmSegments]]' quantile trick — the
    * census is value-grid-bounded, so no event-sized window exists),
    * x_(k+1) is the census row where the descending cumulative count
    * crosses k+1, and the Σ folds take_i · ln(cents_i / x_ref) with
    * per-term 6dp rounding in cents order (orderedSum — the
    * [[graft.ops.TextOps.charEntropy]] fold discipline). Zero values
    * carry no tail information (ln 0 undefined) and are filtered
    * EXPLICITLY; a type whose top-(k+1) values are ALL equal has an
    * undefined estimator (no value exceeds the reference — the fold's
    * input is empty) and emits NO row (stated, not hidden; the null-α
    * guard additionally covers the s_raw = 0 corner defensively).
    *
    * Scale shape: one (type, cents) agg collapses the stream; the
    * cumulative window, the ref join, and the fold all run over the
    * bounded census. k is a constant — the estimator reads only the
    * extreme tail by definition. */
  def tailIndex(events: DataFrame, k: Int = 50): DataFrame = {
    val census = events
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .filter(col("cents") > 0L)
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val wDesc = Window.partitionBy(col("event_type")).orderBy(col("cents").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = census.withColumn("cum", sum(col("cnt")).over(wDesc))
      .localCheckpoint(false)
    val ref = cum
      .filter(col("cum") - col("cnt") < k + 1 && col("cum") >= k + 1)
      .select(col("event_type"), col("cents").as("x_ref_cents"))
    cum
      .join(broadcast(ref), "event_type")
      .filter(col("cum") - col("cnt") < k && col("cents") > col("x_ref_cents"))
      .withColumn("take", least(col("cnt"), lit(k.toLong) - (col("cum") - col("cnt"))))
      .groupBy(col("event_type"), col("x_ref_cents"))
      .agg(graft.functions.VectorMath.orderedSum(
        col("cents"),
        col("take") * roundn(log(col("cents").cast("double") / col("x_ref_cents")), 6))
        .as("s_raw"),
        sum(col("take")).as("n_top"))
      .withColumn("alpha",
        when(col("s_raw") > 0.0, roundn(lit(k.toDouble) / col("s_raw"), 6)))
      .select(col("event_type"), col("n_top"), col("x_ref_cents"),
        roundn(col("s_raw"), 6).as("sum_log_excess"), col("alpha"))
  }

  /** Rescaled-range (R/S) Hurst exponent — the LONG-MEMORY screen
    * beside [[mannKendall]]'s monotone-trend test and [[runsTest]]'s
    * randomness audit (H ≈ 0.5 = memoryless, H > 0.5 = persistent
    * regimes, H < 0.5 = mean-reverting — the property that decides
    * whether [[eventsForecast]]-style extrapolation is even
    * admissible): per event type, R/S over calendar-aligned blocks of
    * w days for w ∈ windows, then H = Δlog(R/S) / Δlog(w) over the
    * two budgets (equally-spaced log-x makes the OLS slope exactly
    * that difference quotient).
    *
    * Exactness inside each block: deviations are kept ×w so they stay
    * integers (w·devᵢ = w·mmᵢ − Σmm), the cumulative-deviation range
    * R·w = max−min of the integer partial sums (Z_w = 0 by
    * construction, so the range brackets 0 as the classic definition
    * requires), and Σ(w·dev)² accumulates in decimal(38,0) (a micro-
    * grid deviation ×8 squared is ~10²⁰ — past Long; the
    * [[eventsBurstiness]] overflow rule). The only float math is the
    * per-block R/S = range·√(w/Σ), rounded; block means fold in block
    * order (bounded group), and H divides the per-term-rounded lns by
    * the ln 2 CONSTANT (cross-engine: no libm divisor).
    *
    * Scale shape: the stream collapses to the calendar-bounded daily
    * table once (checkpointed — both window budgets read it);
    * everything after runs over |types|·|days| rows. Partial
    * head/tail blocks are DROPPED (n = w filter, stated): R/S is
    * defined over complete windows only. */
  def eventsHurst(events: DataFrame, windows: Seq[Int] = Seq(4, 8)): DataFrame = {
    require(windows.size == 2 && windows(1) == 2 * windows(0),
      "H is the difference quotient over one log-2 step")
    val dayNanos = 86400L * 1000 * 1000 * 1000
    val daily = events
      .select(col("event_type"), expr(s"ts div ${dayNanos}L").as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(roundn(avg(col("value")), 6).as("m"))
      .select(col("event_type"), col("day"),
        expr("CAST(round(m * 1000000) AS BIGINT)").as("mm"))
      .localCheckpoint(false)
    def meanRs(w: Int): DataFrame = {
      val blk = daily.withColumn("blk", expr(s"day div ${w}L"))
      val tot = blk.groupBy(col("event_type"), col("blk"))
        .agg(count(lit(1)).as("n"), sum(col("mm")).as("s"))
        .filter(col("n") === w)
        .select(col("event_type"), col("blk"), col("s"))
      val wWin = Window.partitionBy(col("event_type"), col("blk")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = blk.join(tot, Seq("event_type", "blk"))
        .withColumn("wdev", lit(w.toLong) * col("mm") - col("s"))
        .withColumn("c", sum(col("wdev")).over(wWin))
      cum.groupBy(col("event_type"), col("blk"))
        .agg((max(col("c")) - min(col("c"))).as("rng"),
          sum(col("wdev").cast("decimal(38,0)") * col("wdev")).as("d2"))
        .filter(col("d2") > 0)
        .withColumn("rs", roundn(col("rng").cast("double") *
          sqrt(lit(w.toDouble) / col("d2").cast("double")), 6))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as(s"n_blocks_$w"),
          roundn(graft.functions.VectorMath.orderedSum(col("blk"), col("rs"))
            / count(lit(1)), 6).as(s"rs_$w"))
    }
    val (w1, w2) = (windows(0), windows(1))
    meanRs(w1).join(meanRs(w2), "event_type")
      .select(col("event_type"),
        col(s"n_blocks_$w1"), col(s"rs_$w1"),
        col(s"n_blocks_$w2"), col(s"rs_$w2"),
        roundn((roundn(log(col(s"rs_$w2")), 6) - roundn(log(col(s"rs_$w1")), 6))
          / lit(0.6931471805599453), 6).as("hurst"))
  }

  /** Time-weighted average value (TWAP) per user — the
    * feature-engineering standard for irregularly-sampled series
    * (a plain [[eventsEwma]]-style mean over events OVERWEIGHTS busy
    * bursts; weighting each observation by how long it was "current"
    * de-biases the sample onto the time axis): each event's value
    * holds until the user's next event, twap = Σ vᵢ·Δᵢ / Σ Δᵢ.
    *
    * Contract (pinned): events order by (ts, event_id) — the
    * event_id tie-break decides which of two same-instant events
    * receives the nonzero forward gap, making the weighting
    * deterministic; gaps floor to whole SECONDS in exact Long
    * arithmetic (nanos div 1e9 — keeps cents·gap products far inside
    * Long range at any horizon); a user's LAST event has no forward
    * gap and is excluded (the standard left-closed convention);
    * users whose events all share one second (Σ Δ = 0) have no time
    * axis to average over and emit no row.
    *
    * Scale shape: one lead() window per user (uniform key, per-user
    * partitions bounded by that user's activity — the [[sessionize]]
    * shape), then a user-keyed agg; integer sums, one division,
    * rounded once. */
  def eventsTwap(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .filter(col("next_ts").isNotNull)
      .withColumn("gap_s", expr("(next_ts - ts) div 1000000000L"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("gap_s")).as("total_gap_s"),
        sum(col("cents") * col("gap_s")).as("wsum"))
      .filter(col("total_gap_s") > 0L)
      .withColumn("twap",
        roundn(col("wsum") / (col("total_gap_s").cast("double") * 100.0), 6))
      .select(col("user_id"), col("n_intervals"), col("total_gap_s"), col("twap"))
  }
}
