package graft

import org.apache.spark.sql.DataFrame

/** Plan-shape regression tests: the properties that make the engine
  * scale are asserted on the optimizer output, so a refactor that
  * silently turns a broadcast into a shuffle or a top-k into a global
  * sort fails CI, not the 100 TB run. (SCALE.md documents why each
  * shape matters.) */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("group_sample: rank filter compiles to a partial WindowGroupLimit before the shuffle") {
    assert(planOf("group_sample").contains("WindowGroupLimit"))
  }

  test("knn_search: top-k via TakeOrderedAndProject, query side broadcast, no global sort") {
    val p = planOf("knn_search")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("join_orders_customers: dimension sides broadcast") {
    assert(planOf("join_orders_customers").contains("BroadcastHashJoin"))
  }

  test("q4: the correlated EXISTS decorrelates to ONE left-semi join, no per-row re-scan") {
    val p = planOf("q4_order_priority")
    assert(p.contains("LeftSemi"), "EXISTS -> left-semi")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the non-equi lateness predicate rides the equi join as a residual")
  }

  test("q21: EXISTS and NOT EXISTS decorrelate to a semi + anti pair") {
    val p = planOf("q21_suppliers_kept_waiting")
    assert(p.contains("LeftSemi"), "EXISTS -> semi")
    assert(p.contains("LeftAnti"), "NOT EXISTS -> anti")
    assert(!p.contains("CartesianProduct"))
  }

  test("null_aware_antijoin: NOT IN plans as a null-aware anti join, not a nested loop") {
    // the simple plan toString renders isNullAwareAntiJoin as the
    // trailing boolean: "LeftAnti, BuildRight, true"
    val p = planOf("null_aware_antijoin")
    assert(p.contains("LeftAnti, BuildRight, true"),
      "the single-key NOT IN must take the NAAJ path")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "never the quadratic OR-isnull nested loop")
  }

  test("q22: the NOT EXISTS is a left-anti; the scalar subquery a 1-row broadcast") {
    val p = planOf("q22_global_balance")
    assert(p.contains("LeftAnti"))
    // the balance-average scalar is the one tolerated nested-loop: a
    // 1-row identity broadcast
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    val scalar = "IdentityBroadcastMode".r.findAllIn(p).size
    assert(bnlj <= scalar, "only the scalar-agg crossJoin nests")
  }

  test("filter_sources: predicate pushed into the parquet scan") {
    val p = planOf("filter_sources")
    assert(p.contains("PushedFilters") && p.contains("StringStartsWith"))
  }

  test("scan_documents: text column pruned from the scan") {
    val p = planOf("scan_documents")
    assert(p.contains("ReadSchema") && !p.contains("text:string"))
  }

  test("search_text: ranks only the limited top-k, never all scored docs") {
    assert(planOf("search_text").contains("TakeOrderedAndProject"))
  }

  test("dedup surface: candidate generation is equi-join only — no cartesian anywhere") {
    // the round-1 scale-killers: simhash paired via a theta self-join
    // (BroadcastNestedLoopJoin), jaccard/similarity ran uncapped
    // quadratics. All four now bucket first; a regression to a
    // nested-loop/cartesian candidate stage fails here.
    for (q <- Seq("dedup_simhash", "ngram_jaccard", "dedup_near_verified",
        "dedup_embedding", "similarity_join", "dedup_minhash_lsh")) {
      val p = planOf(q)
      // a BNLJ is tolerable ONLY as a 1-row scalar cross join (the
      // n_docs aggregate broadcasts via IdentityBroadcastMode); any
      // data×data nested loop exceeds the Identity count and fails
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      val scalarBroadcasts = "IdentityBroadcastMode".r.findAllIn(p).size
      assert(bnlj <= scalarBroadcasts, s"$q has a non-scalar BroadcastNestedLoopJoin")
      assert(!p.contains("CartesianProduct"), s"$q has CartesianProduct")
    }
  }

  test("revenue_by_region: all three dimension hops broadcast, fact never re-shuffled") {
    val p = planOf("revenue_by_region")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 3)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
  }

  test("vector queries use the fused native expressions, not HOF lambdas") {
    // (WSCG participation itself is asserted in VectorExpressionsSpec
    // on a codegen-able stage; BroadcastNestedLoopJoin conditions are
    // never whole-stage-codegen'd regardless of the expression)
    val p = planOf("similarity_join")
    assert(p.contains("graft_cosine"))
    assert(!p.contains("lambdafunction"))
  }

  test("phrase_search: postings are term-filtered BEFORE every join; equi-joins only") {
    val p = planOf("phrase_search")
    // each phrase term's filter must sit under the join, not above it
    // (the join must move one term's postings, never the token stream)
    assert(p.contains("stream") && p.contains("table"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TakeOrderedAndProject")) // top-k, no global sort
  }

  test("events_heavy_hitters: sketch build partial-aggregates before its exchange") {
    // the 100 TB property: every map task compresses to <= depth*width
    // cells pre-shuffle — visible as a partial HashAggregate on (j, bucket)
    val p = planOf("events_heavy_hitters")
    assert(p.contains("partial_count") || p.contains("HashAggregate"))
    assert(!p.contains("CartesianProduct"))
  }

  test("zorder_curve: bounds broadcast in, curve itself is map-side") {
    val p = planOf("zorder_curve")
    // one tiny min/max aggregate broadcasts; the interleave must not
    // introduce a data-sized shuffle or sort
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("context_pack: token counting runs ABOVE a broadcast semi-join — no second full-corpus pass") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Project}
    val df = SparkEntry.queries("context_pack")(spark, dir)
    val opt = df.queryExecution.optimizedPlan
    // every project computing/carrying n_ws_tokens must have the
    // LeftSemi doc_id join BELOW it: tokenization touches only the ≤k
    // ranked survivors, never the corpus (the round-6/7 perf-weak
    // shape was the tokenize projection directly over the full scan)
    val tokProjects = opt.collect {
      case p: Project if p.projectList.exists(_.name == "n_ws_tokens") => p
    }
    assert(tokProjects.nonEmpty, "expected an n_ws_tokens projection in the optimized plan")
    for (p <- tokProjects) {
      val semiBelow = p.collect { case j: Join if j.joinType == LeftSemi => j }
      assert(semiBelow.nonEmpty,
        "n_ws_tokens projection must sit above the LeftSemi doc_id join")
    }
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("LeftSemi") && exec.contains("BroadcastExchange"))
  }

  test("events_gapfill: the generated grid joins the PRE-AGGREGATED counts") {
    val p = planOf("events_gapfill")
    // the left join's probe side is |types|x|hours| grid rows and the
    // build side is the aggregated counts — never raw events
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"))
  }

  test("oov_rate: vocabulary is a bounded TakeOrdered broadcast probed map-side") {
    val p = planOf("oov_rate")
    assert(p.contains("TakeOrderedAndProject")) // top-k vocab, no global sort
    assert(p.contains("BroadcastHashJoin"), "vocab membership probe must broadcast")
    assert(!p.contains("SortMergeJoin"), "token stream must never re-shuffle for the vocab probe")
  }

  test("kmv_distinct: the sketch partial-aggregates map-side before its exchange") {
    val p = planOf("kmv_distinct")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_"),
      "KMV buffer must combine map-side — shipping raw hashes defeats the sketch")
    assert(!p.contains("CartesianProduct"))
  }

  test("bloom_join: probe is one map-side conjunctive gate — no union/groupBy of fact copies") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Union}
    val df = SparkEntry.queries("bloom_join")(spark, dir)
    val opt = df.queryExecution.optimizedPlan
    // the round-10 weak shape unioned k=3 hashed copies of orders and
    // shuffled them on (o_orderkey,o_custkey) BEFORE pruning; the fix
    // tests all k positions in one conjunctive gate over a broadcast
    // array (Catalyst may fold the Filter into the join condition)
    val gateConds = opt.collect {
      case f: Filter if f.condition.toString.contains("array_contains") =>
        f.condition.toString
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.toString.contains("array_contains")) =>
        j.condition.get.toString
    }
    assert(gateConds.nonEmpty, "expected the broadcast-bitmap probe gate")
    assert("array_contains".r.findAllIn(gateConds.mkString).size >= 3,
      "all k membership tests must sit in one conjunctive gate")
    assert(opt.collect { case u: Union => u }.isEmpty,
      "no union of fact-table copies may survive")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Union") && !p.contains("SortMergeJoin"))
  }

  test("embedding_pca: covariance is map-only — row-local outer product, one exchange, no self-join") {
    import org.apache.spark.sql.functions.{col, expr}
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // the round-10 weak shape self-joined the exploded centered table
    // on vec_id (two corpus-sized shuffles); the fix generates the d²
    // products row-locally and partial-aggregates onto the 4096 cells
    val muArr = emb
      .select(org.apache.spark.sql.functions.posexplode(col("embedding")).as(Seq("dim", "xf")))
      .groupBy(col("dim"))
      .agg(expr("cast(round(avg(cast(round(cast(xf as double)*1e6) as bigint))) as bigint)").as("mu6"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, mu6))), s -> s.mu6)").as("mu6_arr"))
    val cov = graft.ops.VectorOps.covarianceCells(emb, muArr)
    val opt = cov.queryExecution.optimizedPlan
    val joins = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    // the only join is the 1-row broadcast of the means array
    assert(joins.forall(_.condition.isEmpty), "no equi/self-join in the covariance stage")
    assert(joins.size <= 1, "only the scalar means broadcast may join")
    val p = cov.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      "cells must partial-aggregate map-side before the exchange")
  }

  test("q3_shipping_priority: date filters pushed to scans, dim broadcast, top-k not global sort") {
    val p = planOf("q3_shipping_priority")
    assert(p.contains("PushedFilters"), "scan-level pushdown must exist")
    assert(p.contains("BroadcastHashJoin"), "the segment dim must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not be a global sort")
    assert(!p.contains("CartesianProduct"))
    // both date predicates reach parquet (orderdate on orders,
    // shipdate on lineitem)
    assert(p.contains("o_orderdate"), p)
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p).isDefined,
      "l_shipdate filter must be pushed")
  }

  test("events_retention: joins stay broadcast/co-keyed, never cartesian") {
    val p = planOf("events_retention")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("ann_incremental: candidates come from a cell EQUI-join over the merged index — never all-pairs") {
    val p = planOf("ann_incremental")
    assert(!p.contains("CartesianProduct"))
    // the merged index is a UNION of the persisted base scan and the
    // batch's map-side assignment — both visible under one equi-join
    assert(p.contains("Union"), "persisted-base ∪ batch assignment")
    // the only nested-loop is the 1-row centroid-table crossJoin of
    // cellRanks (the documented bounded-broadcast pattern)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      "candidate generation must be an equi-join on the cell label")
  }

  test("bm25_incremental: term filter prunes the index scan; stats joins broadcast") {
    val p = planOf("bm25_incremental")
    assert(!p.contains("CartesianProduct"))
    // the query-term isin filter must reach the merged index (the
    // batch side at minimum — the persisted side is a parquet scan
    // with pushdown)
    assert(p.contains("PushedFilters: [In(tok"),
      s"query terms must push into the persisted postings scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not be a global sort")
  }

  test("leakage_safe_split: the cluster table joins BROADCAST — the split itself stays map-only") {
    val p = planOf("leakage_safe_split")
    assert(p.contains("BroadcastHashJoin"), "family-sized cluster side must broadcast")
    assert(!p.contains("SortMergeJoin"), "the corpus must not shuffle for the split")
  }

  test("topic_assign: the per-doc argmax ranks k rows via WindowGroupLimit; no cartesian") {
    val p = planOf("topic_assign")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("WindowGroupLimit"),
      "the rn=1 filter must push a partial top-1 below the window shuffle")
  }

  for (q <- Seq("embed_text", "doc_fingerprint"))
    test(s"$q: each token is hashed where it is read — no vocabulary join-back") {
      val p = planOf(q)
      assert(!p.contains("Join"), s"$q plan holds a join:\n$p")
    }

  test("keyword_extract: the gram stream is planned once — one posexplode") {
    val p = planOf("keyword_extract")
    assert("Generate posexplode".r.findAllIn(p).size === 1, p)
  }

  test("kmeans_clusters: each vector's nearest cell is map-side — no window, no collect_list") {
    val p = planOf("kmeans_clusters")
    assert(!p.contains("Window") && !p.contains("collect_list"), p)
  }

  /** The declared queries that train or probe an IVF codebook. */
  private val codebookQueries = Seq(
    "ann_ivf", "ann_index_persist", "ann_incremental", "ann_filtered", "ann_recall",
    "ann_ivf_quantized", "ann_ivf_pq", "ann_pq_index_persist", "ann_recall_ivfpq",
    "ann_pq_distortion", "ann_codebook_refresh", "index_maintenance_plan",
    "similarity_join", "semantic_dedup", "semdedup_curve", "hard_negatives",
    "triplet_mining", "retrieval_training_set", "lof_outliers",
    "decontaminate_semantic", "kmeans_clusters")

  for (q <- Seq("similarity_join", "ann_codebook_refresh"))
    test(s"$q: cells are ranked inside each row — no window") {
      val p = planOf(q)
      assert(!p.contains("Window"), p)
    }

  test("IVF queries: no plan densifies a (c_label, dim, cv) codebook") {
    for (q <- codebookQueries) {
      val p = planOf(q)
      assert(!p.contains("collect_list(struct(dim"), s"$q:\n$p")
    }
  }

  test("guard: no (dim, cv) densify aggregate under graft/ops") {
    val root = new java.io.File("src/main/scala/graft/ops")
    assert(root.isDirectory, s"sources not found under ${root.getAbsolutePath}")
    val found = root.listFiles().toSeq.filter(_.getName.endsWith(".scala")).filter { f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .contains("""collect_list(struct(col("dim"), col("cv")))""")
    }.map(_.getName)
    assert(found.isEmpty, found)
  }
}
