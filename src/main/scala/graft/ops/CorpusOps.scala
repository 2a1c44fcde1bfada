package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document-corpus operators — the ingest half of the reference
  * pipeline (reference: app.py:117-132 startup ingest;
  * app_callapi.py:135-154 incremental process_file).
  *
  * The reference keeps its corpus as four parallel Python lists keyed
  * by list position; here identity is carried by explicit key columns
  * (doc/source, para_idx), which is what makes delete/upsert a plain
  * `filter`/`union` instead of a full index rebuild
  * (app_callapi.py:122-130).
  *
  * Scale notes: every op below is a narrow map/filter or a single
  * keyed shuffle; nothing collects to the driver. Dedup and the
  * incremental anti-join shuffle on the hash key — at 100 TB those are
  * the natural partition keys (uniform by construction, sha-derived).
  */
object CorpusOps {

  /** S1 — corpus scan with projection pushed to the parquet reader.
    * (reference app.py:121 directory listing → here a columnar scan.) */
  def scanDocuments(docs: DataFrame): DataFrame =
    docs.select("doc_id", "source", "lang", "n_chars")

  /** S4 — source filter: drop Office lock files (`~$*`) and keep only
    * ingestible extensions when present (reference app.py:35-36,144;
    * app_callapi.py:74,166). The testdata `source` column has no
    * extension, so the extension clause admits extension-less names. */
  def filterSources(docs: DataFrame): DataFrame =
    docs.filter(
      !col("source").startsWith("~$") &&
        (!col("source").contains(".") ||
          col("source").rlike("(?i)\\.(pdf|docx)$")))

  /** S5 — upload sink (reference app.py:141-149): each accepted
    * upload (not an Office lock file, `.pdf`/`.docx` only — the
    * reference's exact name checks) lands in the corpus store as a
    * (source, content) row, the distributed analog of the reference
    * writing raw upload buffers into `./documents/`. Map-only filter
    * + write; megabyte-class payloads never shuffle. Returns the
    * accepted subset — what the reference goes on to process. */
  def uploadSink(uploads: DataFrame, corpusDir: String): DataFrame = {
    val accepted = uploads.filter(
      !col("source").startsWith("~$") &&
        (col("source").endsWith(".pdf") || col("source").endsWith(".docx")))
    accepted.write.mode("append").parquet(corpusDir)
    accepted
  }

  /** P1 — paragraph segmentation: split text on the LITERAL delimiter
    * (quoted — split() takes a regex), trim, drop blanks, number by
    * position (reference app.py:24,27 split + strip + filter;
    * app.py:97,104 enumerate → (file, i) key). */
  def segmentParagraphs(docs: DataFrame, delim: String = " "): DataFrame =
    docs
      .select(
        col("doc_id"),
        posexplode(split(col("text"), java.util.regex.Pattern.quote(delim)))
          .as(Seq("para_idx", "para")))
      .withColumn("para", trim(col("para")))
      .filter(col("para") =!= "")

  /** Overlapping token-window CHUNKING — the RAG indexing primitive
    * [[segmentParagraphs]]'s disjoint windows can't express: chunks
    * of `chunkSize` tokens every `stride` tokens (50% overlap at the
    * defaults), so a sentence straddling a boundary is always whole
    * in SOME chunk — the retrieval-recall argument for overlap. The
    * trailing chunk may run short; it is kept only while it carries
    * tokens no earlier chunk covers: start generation stops once the
    * previous chunk already reaches the end of the doc (a start past
    * `size - chunkSize + stride` would emit a pure sub-span of its
    * predecessor — duplicate index rows, zero recall gain).
    *
    * Scale shape: MAP-ONLY — the token array, the stride-sequence
    * explode, and each chunk's slice are all expressions over the
    * scan; no shuffle, no window. Chunk volume is
    * ~(chunkSize/stride)× the token stream — the overlap factor IS
    * the cost knob, stated, not hidden. */
  def chunkOverlap(docs: DataFrame, chunkSize: Int = 8, stride: Int = 4,
                   maxTokens: Int = 512): DataFrame = {
    val toks = expr(
      s"filter(transform(slice(split(text, ' '), 1, $maxTokens), t -> trim(t)), t -> t <> '')")
    docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("start", explode(expr(
        s"sequence(1, greatest(size(toks) - $chunkSize, 0) + $stride, $stride)")))
      .withColumn("start", col("start").cast("long"))
      .select(col("doc_id"),
        ((col("start") - 1) / stride).cast("long").as("chunk_idx"),
        col("start"),
        least(size(col("toks")) - col("start") + 1, lit(chunkSize)).cast("long")
          .as("n_tok"),
        expr(s"concat_ws(' ', slice(toks, start, $chunkSize))").as("chunk"))
  }

  /** D1 — exact dedup, deterministic representative: group by the
    * natural key and keep the smallest doc_id (reference app.py:98-99
    * skips already-seen (file, i); dropDuplicates would keep an
    * arbitrary row, min() keeps a stable one for the oracle). */
  def dedupDocuments(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("source"), col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "source", "n_copies")

  /** D1 — paragraph-level dedup (reference app.py:98-99: skip (file,i)
    * pairs already indexed, generalized to content identity): group
    * segmented paragraphs by text, keep copy count and the
    * lexicographically-first (doc_id, para_idx) as the deterministic
    * representative — carried as two columns, not an arithmetic key
    * (doc_id·K + para_idx collides once para_idx ≥ K). */
  def dedupParagraphs(docs: DataFrame, delim: String = " "): DataFrame = {
    val copies = segmentParagraphs(docs, delim)
      .withColumn("n_copies", count(lit(1)).over(Window.partitionBy(col("para"))))
    Rank.top(copies, Seq(col("para")), Seq(col("doc_id"), col("para_idx")), lit(1))
      .select(
        col("para"), col("n_copies"),
        col("doc_id").as("first_doc_id"),
        col("para_idx").cast("long").as("first_para_idx"))
  }

  /** A5 — content hash per document (reference app_callapi.py:117-120
    * sha-256 of file bytes; here sha-256 of the text column). */
  def contentHash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))

  /** A2 — corpus statistics per language: count + size aggregates
    * (reference app.py:125 paragraph totals, app_callapi.py:167-170
    * added_count; generalized to a grouped profile). */
  def corpusStats(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        graft.functions.VectorMath.roundn(avg(col("n_chars")), 4).as("avg_chars"))

  /** J2 — incremental-ingest anti-join: keep only incoming docs whose
    * content hash is absent from the known-state side (reference
    * app_callapi.py:117-120,139 sha short-circuit). `state` must carry
    * a `content_hash` column. Broadcast is left to Catalyst/AQE: the
    * state side is small per-batch in the reference, but at scale both
    * sides shuffle on the uniformly-distributed hash — the right plan
    * either way. */
  def incrementalAntiJoin(incoming: DataFrame, state: DataFrame): DataFrame =
    incoming
      // hash as a derived column, NOT a self-join on doc_id — a
      // non-unique doc_id would multiply rows through that join
      .withColumn("content_hash", sha2(col("text"), 256))
      .join(state.select("content_hash"), Seq("content_hash"), "left_anti")

  /** CDC-style snapshot diff — classify every document as added /
    * removed / changed between two corpus snapshots (the generalized
    * form of the reference's per-file sha change detection,
    * app_callapi.py:117-120,139: there one file at a time against a
    * hash dict; here whole snapshots, the incremental-ingest shape a
    * periodically re-crawled 100 TB corpus needs). Unchanged
    * documents are dropped — the output IS the change feed.
    *
    * Scale shape: each side projects to (doc_id, sha-256) MAP-SIDE
    * before the join, so document text never enters the shuffle —
    * the full-outer join moves two hash columns on a uniform key. At
    * 100 TB with both snapshots bucketed by doc_id the join is
    * exchange-free ([[graft.ops.PersistOps]] layout).
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(col("doc_id"), sha2(col("text"), 256).as("old_hash"))
    val n = newSnap.select(col("doc_id"), sha2(col("text"), 256).as("new_hash"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn(
        "change",
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") =!= col("new_hash"), lit("changed")))
      .filter(col("change").isNotNull)
      .select(col("doc_id"), col("change"), col("old_hash"), col("new_hash"))
  }

  /** Changelog application — the MERGE INTO / CDC-apply shape
    * ([[snapshotDiff]] PRODUCES a change feed; this CONSUMES one):
    * a versioned (doc_id, version, op ∈ {I, U, D}, text) changelog
    * collapses to its latest op per key (version desc, op asc
    * tie-break — deterministic even on a malformed same-version
    * pair), then merges onto the base snapshot: D drops the row,
    * I/U upserts the new text (including re-inserting a previously
    * deleted key — the resurrection case the naive anti-join form
    * gets wrong), untouched keys pass through. Output is the merged
    * state's (doc_id, content_hash) — the receipt IS the final
    * table.
    *
    * Scale shape: the latest-op window runs on the CHANGELOG
    * (delta-sized, never the base); the merge is one full-outer join
    * on the uniform doc_id key with both sides projected map-side to
    * (id, hash-sized columns); with a doc_id-bucketed base the join
    * is exchange-free on the base side — the Delta/Iceberg MERGE
    * cost model. */
  def cdcApply(base: DataFrame, changes: DataFrame): DataFrame = {
    val latest = Rank.top(changes, Seq(col("doc_id")),
        Seq(col("version").desc, col("op")), lit(1))
      .select(col("doc_id"), col("op"), col("text").as("new_text"))
    base.select(col("doc_id"), col("text"))
      .join(latest, Seq("doc_id"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("doc_id"),
        sha2(coalesce(col("new_text"), col("text")), 256).as("content_hash"))
  }

  /** D2/D3 — delete-by-predicate + upsert: remove all rows of a
    * re-uploaded source and append its replacement rows (reference
    * app_callapi.py:122-130,140-153 — there a full FAISS rebuild; here
    * a filter + union because identity is columnar). */
  def upsertSource(corpus: DataFrame, source: String, replacement: DataFrame): DataFrame =
    corpus.filter(col("source") =!= source).unionByName(replacement)

  /** P1 variant — fixed-token-window segmentation: `window`-token
    * chunks as (doc_id, para_idx, para). The reference segments on
    * newlines (app.py:24); delimiter-free text (and every RAG chunker
    * at scale) falls back to fixed token windows. One explode + one
    * keyed agg; chunk membership derives from the token position, so
    * the op is deterministic and oracle-replicable (DuckDB:
    * string_agg ORDER BY pos). */
  def chunkParagraphs(docs: DataFrame, window: Int = 8, maxTokens: Int = 512): DataFrame =
    EmbedOps.tokenize(docs, maxTokens)
      .withColumn("para_idx", expr(s"CAST(pos AS BIGINT) DIV $window"))
      .groupBy(col("doc_id"), col("para_idx"))
      // order inside the chunk is restored from pos via array_sort on
      // (pos, tok) structs — collect_list alone is shuffle-ordered
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")),
        " ").as("para"))

  /** §3.1 — the reference's FULL startup ingest as one declared
    * lineage (app_callapi.py:165-174 → 135-154): filter sources →
    * anti-join the known-hash state (only changed docs proceed) →
    * segment into token-window paragraphs → first-occurrence
    * paragraph dedup (app.py:98-99, BEFORE the expensive embed, per
    * the reference's own ordering) → hashed-TF embed per surviving
    * paragraph. Output: (doc_id, para_idx, dim, weight).
    *
    * Composition only — every stage is a declared operator above /
    * [[EmbedOps.embedSparse]]. The paragraph key is packed into a
    * surrogate (doc_id·1000 + para_idx) for the doc-keyed embedder
    * and unpacked at the end (para_idx < 1000 by construction:
    * maxTokens/window ≤ 512). */
  def ingestPipeline(docs: DataFrame, state: DataFrame, window: Int = 8,
                     dim: Int = 64): DataFrame = {
    val changed = incrementalAntiJoin(filterSources(docs), state)
    val paras = chunkParagraphs(changed, window)
    val firsts = Rank.top(paras, Seq(col("para")), Seq(col("doc_id"), col("para_idx")), lit(1))
    val keyed = firsts.select(
      (col("doc_id") * 1000 + col("para_idx")).as("doc_id"),
      col("para").as("text"))
    EmbedOps.embedSparse(keyed, dim)
      .withColumnRenamed("doc_id", "pkey")
      .select(
        expr("pkey DIV 1000").as("doc_id"),
        (col("pkey") % 1000).as("para_idx"),
        col("dim"), col("weight"))
  }

  /** Inter-source contamination matrix — which sources mirror each
    * other: for every source pair sharing at least one NEAR-dup
    * family ([[DedupOps.dedupClusters]]' components — mirrors rewrap
    * boilerplate, so byte-identical sha families would miss most of
    * them; exact copies are jaccard-1.0 members of the same
    * components), the shared-family count, the doc mass on each
    * side, and each side's containment (share of the source's docs
    * with a near-copy in the other, exact integer micros). The
    * drop-a-mirror-source decision
    * ([[graft.ops.TextOps.sourceScorecard]] flags a source mostly
    * made of copies; this names WHO it copies).
    *
    * Scale shape: the dedup tier's component labels (computed once,
    * persisted in production) + one (family, source) census;
    * self-joined on the family key, a family's fan-out is bounded by
    * |sources| holding it, so the pair explosion is |families
    * spanning ≥2 sources| · small; per-source totals broadcast back.
    * Singleton fallback labels cannot pair (1 doc). All-integer
    * output. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val fam = docs.select(col("doc_id"), col("source"))
      .join(DedupOps.dedupClusters(docs), Seq("doc_id"), "left")
      .withColumn("h", coalesce(col("component_id"), col("doc_id")))
      .groupBy(col("h"), col("source")).agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val tot = docs.groupBy(col("source")).agg(count(lit(1)).as("n_tot"))
    fam.select(col("h"), col("source").as("src_a"), col("n").as("n_a"))
      .join(fam.select(col("h"), col("source").as("src_b"), col("n").as("n_b")), "h")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared_families"),
        sum(col("n_a")).cast("long").as("n_shared_docs_a"),
        sum(col("n_b")).cast("long").as("n_shared_docs_b"))
      .join(broadcast(tot.select(col("source").as("src_a"), col("n_tot").as("tot_a"))),
        "src_a")
      .join(broadcast(tot.select(col("source").as("src_b"), col("n_tot").as("tot_b"))),
        "src_b")
      .withColumn("cont_a_micro", expr("(n_shared_docs_a * 1000000L) div tot_a"))
      .withColumn("cont_b_micro", expr("(n_shared_docs_b * 1000000L) div tot_b"))
      .select(col("src_a"), col("src_b"), col("n_shared_families"),
        col("n_shared_docs_a"), col("n_shared_docs_b"),
        col("cont_a_micro"), col("cont_b_micro"))
  }

  /** Crawl-over-crawl corpus diff — the data-card delta an ops team
    * reads before promoting a new crawl over the one in production
    * (the C4→C4.1-style refresh decision): membership churn
    * (added/removed doc ids), volume delta, exact-dup-rate per side,
    * and per-facet composition drift (lang and source share
    * histograms, L1 in integer micros — the
    * [[DedupOps.lshMaintenancePlan]] drift recipe on corpus facets).
    * One replayable row; every column is exact integer arithmetic
    * (`div` shares, no floats anywhere).
    *
    * Scale shape: two corpus-wide aggs (count/sum/distinct-text —
    * the distinct is a uniform text-keyed agg), one anti-join each
    * way on the doc_id key, and two bounded facet censuses; the
    * final row assembles by 1-row broadcast crossJoins. At 100 TB
    * both sides are parquet scans with column pruning (doc_id, text,
    * n_chars, lang, source) and every shuffle key is uniform. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def stats(d: DataFrame, sfx: String): DataFrame =
      d.agg(count(lit(1)).as(s"n_docs_$sfx"),
        coalesce(sum(col("n_chars")), lit(0L)).as(s"n_chars_$sfx"),
        countDistinct(col("text")).as("ndt"))
        .withColumn(s"dup_micro_$sfx",
          when(col(s"n_docs_$sfx") === 0L, lit(0L)).otherwise(
            expr(s"((n_docs_$sfx - ndt) * 1000000L) div n_docs_$sfx")))
        .drop("ndt")
    def facetL1(key: String, out: String): DataFrame =
      graft.functions.ShareCensus.microShareL1(
        graft.functions.ShareCensus.microShares(oldDocs.select(col(key)), key, "a"),
        graft.functions.ShareCensus.microShares(newDocs.select(col(key)), key, "b"),
        key, out)
    val added = newDocs.select(col("doc_id"))
      .join(oldDocs.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_added"))
    val removed = oldDocs.select(col("doc_id"))
      .join(newDocs.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_removed"))
    stats(oldDocs, "old")
      .crossJoin(broadcast(stats(newDocs, "new")))
      .crossJoin(broadcast(added))
      .crossJoin(broadcast(removed))
      .crossJoin(broadcast(facetL1("lang", "lang_l1_micro")))
      .crossJoin(broadcast(facetL1("source", "source_l1_micro")))
      .select(col("n_docs_old"), col("n_docs_new"), col("n_added"),
        col("n_removed"), col("n_chars_old"), col("n_chars_new"),
        col("dup_micro_old"), col("dup_micro_new"),
        col("lang_l1_micro"), col("source_l1_micro"))
  }
}
