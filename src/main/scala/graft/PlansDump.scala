package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Regenerates PLANS.md — formatted physical plans for EVERY query in
  * `SparkEntry.queries` (headline curation first, the rest appended
  * alphabetically), the artifact backing SURVEY §8's plan claims
  * (broadcast placement, TakeOrderedAndProject, parquet pushdown,
  * codegen stages). Run: `sbt "runMain graft.PlansDump"`. */
object PlansDump {
  private val Headline = Seq(
    "knn_search", "search_text", "ann_ivf", "similarity_join", "embed_text",
    "join_orders_customers", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_near_verified", "dedup_embedding", "corpus_curation",
    "asof_attribution", "search_bm25", "events_sliding_hour",
    "window_running_sum", "events_tumbling_agg",
    "ingest_pipeline", "revenue_by_region", "events_pivot",
    "approx_stats_check", "repetition_score", "corpus_split",
    "decontaminate_bloom", "context_pack", "stratified_sample",
    "ann_quantized", "snapshot_diff", "domain_mix", "pack_sequences",
    "scd2_user_state", "group_sample", "ann_ivf_quantized",
    "lm_logprob", "lm_bigram", "phrase_search", "dedup_pagerank",
    "dedup_prefix_filter", "events_heavy_hitters", "zorder_curve",
    "events_gapfill", "ann_pq", "dedup_substrings", "bpe_merges",
    "dsir_weights", "semantic_dedup",
    "quality_classifier", "sessions_overlap", "dsir_select",
    "char_entropy", "bpe_tokenize",
    "events_funnel", "orc_roundtrip", "bpe_vocab_size", "media_metadata")

  def main(args: Array[String]): Unit = {
    // fixed 4 cores, so PLANS.md does not depend on the host
    val spark = GraftSession.local("4", "ERROR")
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // headline curation first (reviewer reading order), then every
    // remaining declared query alphabetically — the dump covers the
    // WHOLE SparkEntry.queries surface so no plan goes unreviewed
    val names = Headline ++
      (SparkEntry.queries.keySet -- Headline.toSet).toSeq.sorted
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of every declared query\n\n")
    sb.append(s"Generated by `graft.PlansDump` on `$dir`. Things to check per\n")
    sb.append("plan: broadcast on the small side, TakeOrderedAndProject for\n")
    sb.append("top-k (never a global sort), PushedFilters/ReadSchema pruning on\n")
    sb.append("every parquet scan, and `*(n)` whole-stage-codegen stages around\n")
    sb.append("the distance expressions.\n\n")
    sb.append("Two expected patterns that LOOK alarming but are bounded by\n")
    sb.append("construction: (a) knn_search's BroadcastNestedLoopJoin is the\n")
    sb.append("1-ROW query vector crossed into the corpus scan — the intended\n")
    sb.append("flat-scan plan; (b) the `WindowExec: No Partition Defined`\n")
    sb.append("warnings in bench logs come from ranking the ≤ k survivors of\n")
    sb.append("an `orderBy.limit` (knn_search/search_text) — the window input\n")
    sb.append("is k rows, never the corpus.\n")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${names.size} queries)")
    spark.stop()
  }
}
