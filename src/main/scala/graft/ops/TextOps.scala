package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorMath.roundn

/** Text-analysis operators for training-data curation: token
  * counting, quality scoring, and language identification — the
  * filter stage every large-scale corpus pipeline runs before
  * embedding (the reference filters only blank paragraphs and lock
  * files, app.py:24,35; these generalize that gate).
  *
  * All per-document map-side work: no shuffles except the final
  * per-doc aggregation of exploded tokens, keyed by doc_id (uniform).
  * Heuristics are deliberately arithmetic-only so the DuckDB oracle
  * replays them exactly.
  */
object TextOps {

  /** Whitespace-ish stopword list used by quality/lang heuristics. */
  val EnStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "it")

  /** Whitespace token count of a text column (shared by
    * [[tokenCounts]] and [[packSequences]] — one definition so the
    * packing budget and the census agree). */
  def wsTokenCount(text: Column): Column =
    size(filter(transform(split(text, " "), t => trim(t)), t => t =!= "")).cast("long")

  /** Token counting: whitespace tokens and a BPE-ish regex census
    * (letter runs / digit runs / single punctuation — the shape of a
    * byte-pair pretokenizer; SURVEY brief "token counting"). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      wsTokenCount(col("text")).as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .cast("long").as("n_bpe_tokens"),
      length(col("text")).cast("long").as("n_chars_measured"))

  /** Quality scoring: length saturation, stopword ratio, lexical
    * diversity — combined into one bounded score. Deterministic
    * integer-ratio arithmetic, rounded for cross-engine parity. */
  def qualityScore(docs: DataFrame): DataFrame = {
    EmbedOps
      .tokenize(docs)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tok"),
        countDistinct(col("tok")).as("n_distinct"),
        sum(when(col("tok").isin(EnStopwords: _*), 1L).otherwise(0L)).as("n_stop"))
      .withColumn("stop_ratio", roundn(col("n_stop") / col("n_tok"), 6))
      .withColumn("distinct_ratio", roundn(col("n_distinct") / col("n_tok"), 6))
      .withColumn(
        "quality",
        roundn(
          least(col("n_tok") / 100.0, lit(1.0)) * 0.3
            + (lit(1.0) - col("n_stop") / col("n_tok")) * 0.3
            + (col("n_distinct") / col("n_tok")) * 0.4,
          6))
      .select(col("doc_id"), col("n_tok"), col("stop_ratio"), col("distinct_ratio"), col("quality"))
  }

  /** Gopher's required-stopword list (Rae et al., arXiv 2112.11446
    * §A1.1) — shared with the oracle SQL, single source of truth. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher quality-rule battery (Rae et al., arXiv 2112.11446
    * §A1.1) — the published heuristic gate MassiveText ran before
    * training: per-document metrics plus the conjunctive pass flag.
    * Word-level rules only — the corpus is single-line, so the
    * line-shaped rules (bullet/ellipsis line fractions) have no
    * denominator here and are deliberately omitted.
    *
    *  - 50 ≤ word count ≤ 100,000
    *  - 3 ≤ mean word length ≤ 10
    *  - (# of '#' or '...') / words ≤ 0.1
    *  - ≥ 80% of words contain an alphabetic character
    *  - ≥ 2 distinct required stopwords ([[GopherStopwords]])
    *
    * Scale shape: one tokenize → doc_id-keyed agg (uniform key,
    * map-side partials) joined to a map-only symbol census on the
    * same key; every ratio is integer arithmetic rounded once, and
    * every threshold compares the ROUNDED value, so the pass flag is
    * engine-exact. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val syms = docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."), lit(0)))
        .cast("long").as("n_syms"))
    EmbedOps.tokenize(docs)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(length(col("tok"))).as("tok_chars"),
        sum(when(col("tok").rlike("[a-z]"), 1L).otherwise(0L)).as("n_alpha_words"),
        countDistinct(when(col("tok").isin(GopherStopwords: _*), col("tok")))
          .as("n_req_stopwords"))
      .join(syms, "doc_id")
      .withColumn("mean_word_len", roundn(col("tok_chars") / col("n_words"), 6))
      .withColumn("alpha_frac", roundn(col("n_alpha_words") / col("n_words"), 6))
      .withColumn("sym_ratio", roundn(col("n_syms") / col("n_words"), 6))
      .withColumn("passes",
        col("n_words").between(50L, 100000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("sym_ratio") <= 0.1 &&
          col("alpha_frac") >= 0.8 &&
          col("n_req_stopwords") >= 2L)
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("alpha_frac"), col("sym_ratio"), col("n_req_stopwords"),
        col("passes"))
  }

  /** Gopher's repetition thresholds (Rae et al. Table A1), keyed by
    * n-gram length: top-n-gram character fraction for n=2..4,
    * duplicated-n-gram character fraction for n=5..10 — shared with
    * the oracle SQL, single source of truth. */
  val GopherRepThresholds: Seq[(Int, Double)] = Seq(
    2 -> 0.20, 3 -> 0.18, 4 -> 0.16,
    5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)

  /** Gopher's repetition-rule battery (Rae et al., arXiv 2112.11446
    * §A1.1, Table A1) — the other half of [[gopherRules]]: per
    * document and n-gram length n, the fraction of characters covered
    * by repeated word n-grams, long format (one row per (doc, n)).
    *
    *  - n = 2..4  → kind `top`: chars of the MOST FREQUENT n-gram
    *    (count × n-gram length incl. inner separators) / doc chars;
    *    the top gram breaks count ties lexicographically smallest.
    *  - n = 5..10 → kind `dup`: chars of ALL n-grams occurring ≥ 2
    *    times (Σ count × length) / doc chars.
    *  - `ok` compares the 6dp-ROUNDED fraction to Table A1's
    *    threshold for that n ([[GopherRepThresholds]]).
    *
    * Contract notes: occurrences are counted independently (the
    * published rule's overlap correction is implementation-defined;
    * this engine pins the uncorrected Σ count × length form on both
    * sides), the denominator is `char_length(text)`, and a doc emits
    * a row for n only if it has ≥ n tokens — so `dup` fractions can
    * exceed 1.0 on degenerate all-repeat docs, which Table A1's
    * thresholds still classify correctly.
    *
    * Scale shape: the ENTIRE operator is map-only — repeat-count keys
    * are (doc, n, gram), local to one row, so each row's gram array
    * is sorted and run-length folded in a single `aggregate()` HOF
    * (top gram, its count, and the duplicated-char mass in one pass);
    * all nine n values fan out of one projection over string-function
    * token arrays, and NO exchange exists anywhere in the plan (the
    * earlier two-stage groupBy form shuffled the 9×-inflated gram
    * stream twice). Ties: runs arrive in lexicographic order, so the
    * strict `run > topc` update keeps the smallest max-count gram. */
  def gopherRepetition(docs: DataFrame): DataFrame = {
    // same token contract as EmbedOps.tokenize (slice 512, trim, drop
    // empties) expressed as array ops: map-only, order preserved
    val arr = docs.select(
      col("doc_id"),
      char_length(col("text")).cast("long").as("doc_chars"),
      expr("filter(transform(slice(split(text, ' '), 1, 512), t -> trim(t)), t -> t <> '')")
        .as("toks"))
    // Per-doc repeat counting needs NO cross-row aggregation — the
    // count keys are (doc, n, gram), all local to one row. Sort each
    // row's gram array and run-length fold it in ONE aggregate() HOF:
    // the operator is map-only end to end (the previous two-stage
    // groupBy shuffled the 9×-inflated gram stream twice; at sf0.1
    // this fold cut the query 6.4 s → map-side). Ties: runs arrive in
    // lexicographic order, so the strict `run > topc` update keeps
    // the smallest max-count gram — identical to the old
    // min(struct(-cnt, gram)) tie-break.
    val thr = GopherRepThresholds
      .foldLeft(lit(null).cast("double")) { case (acc, (n, t)) =>
        when(col("n") === n, t).otherwise(acc) }
    arr
      .select(col("doc_id"), col("doc_chars"), col("toks"),
        explode(sequence(lit(2), lit(10))).as("n"))
      .filter(size(col("toks")) >= col("n")) // sequence(1,0) would count DOWN
      .withColumn("s", expr(
        "array_sort(transform(sequence(1, size(toks) - n + 1), i -> array_join(slice(toks, i, n), ' ')))"))
      .withColumn("st", expr(
        """aggregate(
          |  sequence(1, size(s)),
          |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L,
          |               'dup', 0L, 'topc', 0L, 'topg', CAST(NULL AS STRING)),
          |  (a, i) -> CASE WHEN a.prev IS NOT NULL AND element_at(s, i) = a.prev
          |    THEN named_struct('prev', a.prev, 'run', a.run + 1L,
          |                      'dup', a.dup, 'topc', a.topc, 'topg', a.topg)
          |    ELSE named_struct('prev', element_at(s, i), 'run', 1L,
          |      'dup', a.dup + CASE WHEN a.run >= 2L
          |                          THEN a.run * length(a.prev) ELSE 0L END,
          |      'topc', CASE WHEN a.run > a.topc THEN a.run ELSE a.topc END,
          |      'topg', CASE WHEN a.run > a.topc THEN a.prev ELSE a.topg END) END,
          |  a -> named_struct(
          |    'dup', a.dup + CASE WHEN a.run >= 2L
          |                        THEN a.run * length(a.prev) ELSE 0L END,
          |    'topc', CASE WHEN a.run > a.topc THEN a.run ELSE a.topc END,
          |    'topg', CASE WHEN a.run > a.topc THEN a.prev ELSE a.topg END))""".stripMargin))
      .select(col("doc_id"), col("doc_chars"), col("n"),
        col("st.topg").as("top_gram"), col("st.topc").as("top_cnt"),
        col("st.dup").as("dup_chars"))
      .withColumn("kind", when(col("n") <= 4, "top").otherwise("dup"))
      .withColumn("char_frac", roundn(
        when(col("kind") === "top", col("top_cnt") * length(col("top_gram")))
          .otherwise(col("dup_chars")) / col("doc_chars"), 6))
      .withColumn("ok", col("char_frac") <= thr)
      .select(col("doc_id"), col("n").cast("long").as("n"), col("kind"),
        col("char_frac"), col("ok"))
  }

  /** Marker tokens per language — shared with the oracle SQL (the
    * DuckDB twins interpolate this list, single source of truth). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "los", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  /** Language identification by marker-token votes (the n-gram
    * heuristic of the brief, degenerate n=1): count marker hits per
    * language, pick the max with fixed precedence en>es>de>fr; no
    * hits → "und". */
  def langId(docs: DataFrame): DataFrame = {
    val aggs = LangMarkers.map { case (l, markers) =>
      sum(when(col("tok").isin(markers: _*), 1L).otherwise(0L)).as(s"c_$l")
    }
    EmbedOps
      .tokenize(docs)
      .groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(
        "predicted_lang",
        when(col("c_en") === 0 && col("c_es") === 0 && col("c_de") === 0 && col("c_fr") === 0, "und")
          .when(col("c_en") >= col("c_es") && col("c_en") >= col("c_de") && col("c_en") >= col("c_fr"), "en")
          .when(col("c_es") >= col("c_de") && col("c_es") >= col("c_fr"), "es")
          .when(col("c_de") >= col("c_fr"), "de")
          .otherwise("fr"))
      .select(col("doc_id"), col("predicted_lang"), col("c_en"), col("c_es"), col("c_de"), col("c_fr"))
  }

  /** Classifier evaluation — the confusion matrix of [[langId]]'s
    * heuristic predictions against the corpus' GOLD `lang` labels,
    * with per-cell recall against the gold-label total. The shape
    * every in-engine model audit takes (the quality_classifier's
    * accuracy receipt lives in its spec; this is the declared,
    * oracle-checked form for the one labeled column the corpus has).
    *
    * Scale shape: prediction join is co-keyed on doc_id; the matrix
    * agg keys on (gold, predicted) — |langs|² bounded; gold totals
    * are |langs| rows broadcast into the recall join. */
  def langConfusion(docs: DataFrame): DataFrame =
    langConfusionOf(docs, langId(docs).select(col("doc_id"), col("predicted_lang")))

  /** Confusion matrix of ANY (doc_id, predicted_lang) prediction
    * table against the gold labels — shared by the marker and the
    * learned model's declared audits. */
  def langConfusionOf(docs: DataFrame, pred: DataFrame): DataFrame = {
    val gold = docs.select(col("doc_id"), col("lang"))
      .join(pred.select(col("doc_id"), col("predicted_lang")), "doc_id")
    val cells = gold.groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
    val totals = gold.groupBy(col("lang")).agg(count(lit(1)).as("_t"))
    cells.join(broadcast(totals), "lang")
      .withColumn("recall", roundn(col("n") / col("_t"), 6))
      .select(col("lang"), col("predicted_lang"), col("n"), col("recall"))
  }

  /** LEARNED language identification — a hashed char-trigram
    * multinomial Naive Bayes (the fastText-nano shape: character
    * n-grams → hashed buckets → linear log-score per class), trained
    * RELATIONALLY on the corpus' gold `lang` labels over
    * [[hashSplit]]'s deterministic train buckets and scored for every
    * document. Replaces [[langId]]'s 5-language marker heuristic with
    * a model that learns ANY labeled language from its character
    * statistics — including zh, which has no function-word markers to
    * vote on (the marker baseline structurally cannot predict it).
    *
    * Training is three aggregations — count(lang, bucket),
    * count(lang), doc-count priors — i.e. the model IS a small
    * DataFrame, broadcast back for scoring: per (doc, lang),
    * score = prior + Σ_bucket tf · weight, with Laplace-1 smoothing
    * and a per-lang default weight for unseen buckets.
    *
    * Determinism (fixed-point discipline, same as zipf_fit / kmeans
    * inertia): every log-weight is computed once, scaled to INTEGER
    * MICROS (cast(round(ln(p)·10⁶))), and doc scores are exact Long
    * sums — merge-order-free, bit-identical across engines; argmax
    * breaks ties on lang asc.
    *
    * Scale shape: trigram explode and bucketing are map-side; training
    * aggs key on (lang, bucket) ≤ |langs|·4096 rows — the weight
    * table broadcasts; scoring is one (doc, bucket)-keyed agg fed by
    * a broadcast join, then a per-doc 5-row argmax window. Nothing
    * shuffles more than the (doc, bucket) feature table. */
  def langIdLearned(docs: DataFrame, nBuckets: Int = 4096): DataFrame = {
    val feat = nbLangFeatures(docs, nBuckets)
    nbLangApply(docs, feat, nbLangTrain(docs, feat, nBuckets))
  }

  /** The hashed char-trigram feature table (doc_id, bucket, tf) both
    * NB halves consume — materialized once: TWO consumers (training
    * counts + scoring) would otherwise plant the explode→hash→count
    * chain in the plan twice (measured 7.8 → ~4.5 s at sf0.1;
    * blocks freed by the ContextCleaner when dropped). */
  def nbLangFeatures(docs: DataFrame, nBuckets: Int = 4096): DataFrame = {
    import graft.functions.PortableHash
    val grams = docs
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"),
        explode(when(length(col("t")) >= 3,
          sequence(lit(1), length(col("t")) - 2)).otherwise(array()))
          .as("i"), col("t"))
      .select(col("doc_id"),
        PortableHash.bucket(expr("substring(t, i, 3)"), nBuckets).as("b"))
    grams.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
  }

  /** NB TRAINING → the model AS A DATAFRAME (the artifact the
    * production pipeline persists — train once, ship the table):
    * long format (kind, lang, b, mu) holding the per-(lang, bucket)
    * log-weights (kind 'w'), the per-lang unseen-bucket default
    * (kind 'd', b = −1) and the log-priors (kind 'p', b = −1). Every
    * mu is INTEGER micros, so the artifact parquet-round-trips
    * bit-identically — reload ≡ retrain is pinnable, not hoped. */
  def nbLangTrain(docs: DataFrame, feat: DataFrame,
                  nBuckets: Int = 4096): DataFrame =
    nbModelFromState(nbCountState(docs, feat), nBuckets)

  /** The DECOMPOSABLE half of NB training — the raw count state
    * (kind 'c': per-(lang, bucket) feature counts over the train
    * split; kind 'n': per-lang train-doc counts) as a long-format
    * table. Counts are ADDITIVE and every per-doc quantity (features,
    * the hashSplit membership) is a pure function of that doc's
    * content, so state(base) ⊎ state(batch), summed per key, equals
    * state(base ∪ batch) EXACTLY — the `ivm_agg` decomposable-state
    * contract on the MODEL tier, which is what makes daily
    * incremental retraining a merge instead of a corpus rescan
    * (`nb_incremental` pins it against the full-retrain oracle). */
  def nbCountState(docs: DataFrame, feat: DataFrame): DataFrame = {
    val train = docs
      .join(hashSplit(docs).filter(col("split") === "train").select(col("doc_id")), "doc_id")
      .select(col("doc_id"), col("lang"))
    val clb = feat.join(train, "doc_id")
      .groupBy(col("lang"), col("b")).agg(sum(col("tf")).as("v"))
      .select(lit("c").as("kind"), col("lang"), col("b"), col("v"))
    val nl = train.groupBy(col("lang")).agg(count(lit(1)).as("v"))
      .select(lit("n").as("kind"), col("lang"), lit(-1L).as("b"), col("v"))
    clb.unionByName(nl)
  }

  /** Merge count states from disjoint corpus slices — pure per-key
    * addition (the whole point of keeping the state in counts, not
    * log-weights: log-space state would not be mergeable). */
  def nbMergeStates(states: DataFrame*): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(col("kind"), col("lang"), col("b"))
      .agg(sum(col("v")).as("v"))

  /** The DERIVED half of NB training: smoothing, log, and the micro
    * grid — all per-key arithmetic over the bounded count state, so
    * deriving from a merged state costs |langs|·|buckets| regardless
    * of corpus size. */
  def nbModelFromState(state: DataFrame, nBuckets: Int = 4096): DataFrame = {
    val micro = (c: Column) => round(c * 1000000).cast("long")
    val clb = state.filter(col("kind") === "c")
      .select(col("lang"), col("b"), col("v").as("c_lb"))
    val cl = clb.groupBy(col("lang")).agg(sum(col("c_lb")).as("c_l"))
    val weights = clb.join(cl, "lang")
      .select(lit("w").as("kind"), col("lang"), col("b"),
        micro(log((col("c_lb") + 1).cast("double") /
          (col("c_l") + nBuckets).cast("double"))).as("mu"))
    val defaults = cl.select(lit("d").as("kind"), col("lang"), lit(-1L).as("b"),
      micro(log(lit(1.0) / (col("c_l") + nBuckets).cast("double"))).as("mu"))
    val nl = state.filter(col("kind") === "n")
      .select(col("lang"), col("v").as("n_l"))
    val nTotal = nl.agg(sum(col("n_l")).cast("double").as("n"))
    val priors = nl.crossJoin(broadcast(nTotal))
      .select(lit("p").as("kind"), col("lang"), lit(-1L).as("b"),
        micro(log(col("n_l") / col("n"))).as("mu"))
    weights.unionByName(defaults).unionByName(priors)
  }

  /** NB SCORING from a (possibly reloaded) model artifact — the
    * apply half: per (doc, lang) exact Long score sums, argmax with
    * lang-asc tie-break, prior-argmax fallback for featureless docs. */
  def nbLangApply(docs: DataFrame, feat: DataFrame, model: DataFrame): DataFrame = {
    val weights = model.filter(col("kind") === "w")
      .select(col("lang"), col("b"), col("mu").as("w_mu"))
    val defaults = model.filter(col("kind") === "d")
      .select(col("lang"), col("mu").as("d_mu"))
    val priors = model.filter(col("kind") === "p")
      .select(col("lang"), col("mu").as("prior_mu"))
    val scores = feat
      .crossJoin(broadcast(defaults))
      .join(broadcast(weights), Seq("lang", "b"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf") * coalesce(col("w_mu"), col("d_mu"))).as("s"))
      .join(broadcast(priors), "lang")
      .select(col("doc_id"), col("lang"), (col("s") + col("prior_mu")).as("score_micro"))
    val best = Rank.top(scores, Seq(col("doc_id")), Seq(col("score_micro").desc, col("lang")),
        lit(1))
      .select(col("doc_id"), col("lang").as("p_lang"), col("score_micro").as("p_score"))
    // docs below 3 chars have no features: fall back to the prior
    // argmax (ties on lang asc) — the Bayes answer for "no evidence"
    val topPrior = priors
      .orderBy(col("prior_mu").desc, col("lang")).limit(1)
      .select(col("lang").as("tp_lang"), col("prior_mu").as("tp_score"))
    docs.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .crossJoin(broadcast(topPrior))
      .select(col("doc_id"),
        coalesce(col("p_lang"), col("tp_lang")).as("predicted_lang"),
        coalesce(col("p_score"), col("tp_score")).as("score_micro"))
  }

  /** Engine-portable PII patterns (kept to syntax shared by Java
    * regex and RE2-style engines, so the oracle applies the SAME
    * expressions). */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9 -]{7,}[0-9]"

  /** PII redaction — the scrubbing pass a training pipeline runs
    * before tokenization: emails and phone-shaped numbers replaced by
    * typed placeholders, with per-document match counts. Map-only;
    * regexp_replace is codegen'd. */
  def redactPii(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      sha2(regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"), 256).as("redacted_hash"))

  /** Repeated-n-gram ratio — the Gopher/C4-style repetition gate:
    * heavily templated or looping text shows a high fraction of
    * DUPLICATE word n-grams. rep_ratio = 1 − distinct/total over the
    * doc's 3-shingles ([[DedupOps.wordShingles]] — same explode the
    * dedup pipeline already runs, so at scale the two stages share
    * one scan). Docs with < w tokens have no shingles and drop out
    * (nothing to judge). One keyed agg; integer ratio arithmetic, so
    * the rounded value is engine-exact. */
  def repetitionScore(docs: DataFrame, w: Int = 3): DataFrame =
    DedupOps.wordShingles(docs, w)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        countDistinct(col("shingle")).as("n_distinct_shingles"))
      .select(
        col("doc_id"), col("n_shingles"), col("n_distinct_shingles"),
        roundn(lit(1.0) - col("n_distinct_shingles") / col("n_shingles"), 6)
          .as("rep_ratio"))

  /** Deterministic train/val/test corpus split — assignment is a pure
    * function of the CONTENT (portable sha-derived bucket of the
    * text), not of row order or an RNG: re-runs, reshuffles, and
    * incremental appends all land a document in the same split, and
    * exact duplicates land together (never train/test leakage from a
    * dup straddling the boundary). Map-only; fractions hold in
    * expectation via the uniform bucket. */
  def hashSplit(docs: DataFrame, testPct: Int = 5, valPct: Int = 5): DataFrame =
    docs
      .withColumn("bucket", graft.functions.PortableHash.bucket(col("text"), 100))
      .select(
        col("doc_id"),
        col("bucket"),
        when(col("bucket") < testPct, "test")
          .when(col("bucket") < testPct + valPct, "val")
          .otherwise("train").as("split"))

  /** GROUP-AWARE (leakage-safe) train/val/test split — the hole
    * [[hashSplit]] leaves open, closed: content-keyed bucketing keeps
    * EXACT duplicates together, but two NEAR-duplicates hash to
    * unrelated buckets and can straddle the train/test boundary —
    * the classic eval-inflation leak. Here the split key is the
    * near-dup CLUSTER id wherever the doc belongs to a verified
    * family (the persisted `dedup_clusters` artifact — the same
    * table golden_record consumes), and the doc's own text otherwise
    * (exact-dup grouping preserved); the 'c|'/'d|' prefixes keep the
    * two key spaces disjoint. An entire near-dup family therefore
    * lands on ONE side of every boundary.
    *
    * Scale shape: the cluster table is near-dup-family-sized
    * (broadcastable); everything else is [[hashSplit]]'s map-only
    * bucket filter. */
  def leakageSafeSplit(docs: DataFrame, clusters: DataFrame,
                       testPct: Int = 5, valPct: Int = 5): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .join(broadcast(clusters.select(col("doc_id"), col("cluster_id"))),
        Seq("doc_id"), "left")
      .withColumn("k",
        when(col("cluster_id").isNotNull,
          concat(lit("c|"), col("cluster_id").cast("string")))
          .otherwise(concat(lit("d|"), col("text"))))
      .withColumn("bucket", graft.functions.PortableHash.bucket(col("k"), 100))
      .select(
        col("doc_id"),
        col("bucket"),
        when(col("bucket") < testPct, "test")
          .when(col("bucket") < testPct + valPct, "val")
          .otherwise("train").as("split"))

  /** Group-aware contrastive BATCH construction — the in-batch
    * false-negative mitigation ([[leakageSafeSplit]]'s hazard at the
    * batch tier): contrastive training treats every other in-batch
    * doc as a negative, so two near-dups sharing a batch teach the
    * model to push apart things that are the SAME — the known DPR /
    * CLIP data-prep bug. Group key = the verified near-dup cluster
    * for members (the shared persisted `dedup_clusters` artifact),
    * the doc's own text otherwise ('c|'/'d|' disjoint key spaces,
    * the split's exact trick). Two windows build collision-free
    * batches BY CONSTRUCTION: `slot` = the doc's rank within its
    * group (same-group docs always land in different slots, whatever
    * else happens), then batches chunk hash-ordered docs within
    * (slot, hash-bucket) shards — batch_id = (slot, bucket, seq), so
    * a batch can never hold two members of one group, and holds at
    * most `batchSize` docs. `group_h` (the hashed group key) rides
    * the output so the no-collision property is checkable from the
    * result alone.
    *
    * Scale shape: the cluster table is family-sized (broadcast); the
    * slot window partitions by group (bounded by the largest
    * cluster); the chunking window partitions by (slot, hash-bucket)
    * — NEVER by slot alone: slot 1 holds one doc per group, a
    * corpus-sized partition (the preference_pairs lesson applied at
    * design time); B scales with the cluster. */
  def contrastiveBatches(docs: DataFrame, clusters: DataFrame,
                         batchSize: Int = 8, nShards: Int = 8): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("text"))
      .join(broadcast(clusters.select(col("doc_id"), col("cluster_id"))),
        Seq("doc_id"), "left")
      .withColumn("gk",
        when(col("cluster_id").isNotNull,
          concat(lit("c|"), col("cluster_id").cast("string")))
          .otherwise(concat(lit("d|"), col("text"))))
    val wg = Window.partitionBy(col("gk")).orderBy(col("doc_id"))
    val wb = Window.partitionBy(col("slot"), col("bucket"))
      .orderBy(graft.functions.PortableHash.hash24(
        concat(col("text"), lit("|border"))), col("doc_id"))
    keyed
      .withColumn("slot", row_number().over(wg).cast("long"))
      .withColumn("bucket",
        graft.functions.PortableHash.bucket(concat(col("text"), lit("|cbatch")), nShards))
      .withColumn("r", row_number().over(wb).cast("long"))
      .select(col("doc_id"),
        graft.functions.PortableHash.hash24(col("gk")).as("group_h"),
        col("slot"), col("bucket"),
        concat_ws("#", col("slot"), col("bucket"),
          expr(s"(r - 1) div $batchSize")).as("batch_id"))
  }

  /** Deterministic stratified sampling — per-language keep rates for
    * corpus rebalancing (downsample the dominant language, keep the
    * rest), the standard data-mixing step before pretraining. The
    * keep decision is a pure function of the text (portable hash →
    * bucket in [0,100), keep iff bucket < stratum rate), so the
    * sample is REPRODUCIBLE across runs, engines, and partitionings —
    * unlike `df.sample`, whose output depends on partition layout.
    * The hash input is salted so sampling never correlates with
    * [[hashSplit]]'s train/val/test assignment (same hash would nest
    * the sample inside the test split).
    *
    * Scale shape: map-only — a filter over a scan, no shuffle, no
    * sort, no driver state; rates are a literal CASE expression.
    */
  def stratifiedSample(docs: DataFrame, ratesPct: Map[String, Int],
                       defaultPct: Int = 100): DataFrame = {
    val bucket = graft.functions.PortableHash.bucket(
      concat(col("text"), lit("|stratum")), 100)
    val keepPct = ratesPct.foldLeft(lit(defaultPct)) { case (acc, (lang, pct)) =>
      when(col("lang") === lang, lit(pct)).otherwise(acc)
    }
    docs
      .withColumn("bucket", bucket)
      .withColumn("keep_pct", keepPct.cast("long"))
      .filter(col("bucket") < col("keep_pct"))
      .select(col("doc_id"), col("lang"), col("bucket"), col("keep_pct"))
  }

  /** Deterministic per-group sampler — "n documents per domain", the
    * eval-set / inspection-sample constructor. Rows are ranked inside
    * each group by a salted content hash (a reproducible shuffle:
    * same input → same sample on any engine, any partitioning) and
    * the top n kept.
    *
    * Scale shape: rank-filter windows compile to WindowGroupLimit
    * (Spark ≥3.5) — each input partition keeps only its local top-n
    * per group BEFORE the shuffle, so the exchange moves
    * O(partitions·n) rows per group, not the group's full data
    * (asserted in PlanSpec). */
  def groupSample(docs: DataFrame, n: Int = 20): DataFrame = {
    val keyed = docs.withColumn("sample_key", graft.functions.PortableHash.hash24(
      concat(col("text"), lit("|gsample"))))
    Rank.top(keyed, Seq(col("lang")), Seq(col("sample_key"), col("doc_id")), lit(n),
        "sample_rank")
      .select(col("doc_id"), col("lang"), col("sample_key"), col("sample_rank"))
  }

  /** Deterministic k-FOLD assignment with a stratification audit —
    * the cross-validation primitive beside [[hashSplit]]'s one-shot
    * train/val/test: every document's fold is a pure function of its
    * text (salted portable hash, so folds never correlate with the
    * split or sample salts), and the emitted table is the per-(fold,
    * lang) census with each fold's share of its language — the
    * balance evidence a CV protocol cites. Reproducible across runs,
    * engines, partitionings.
    *
    * Scale shape: map-only assignment over the scan; one bounded
    * (k·|langs|)-cell agg with map-side partials; the per-lang
    * totals broadcast back for the share. */
  def cvFolds(docs: DataFrame, k: Int = 5): DataFrame = {
    import graft.functions.PortableHash
    val assigned = docs.select(col("lang"),
      PortableHash.bucket(concat(col("text"), lit("|fold")), k).as("fold"))
    val census = assigned.groupBy(col("fold"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = census.groupBy(col("lang")).agg(sum(col("n_docs")).as("n_lang"))
    census.join(broadcast(totals), "lang")
      .select(col("fold"), col("lang"), col("n_docs"),
        roundn(col("n_docs").cast("double") / col("n_lang"), 6).as("share_of_lang"))
  }

  /** Weighted sampling WITHOUT replacement — Efraimidis–Spirakis
    * (IPL 2006) one-pass reservoir form: each row draws an
    * exponential race key e_i = −ln(u_i)/w_i from its deterministic
    * uniform u_i (the portable 48-bit hash mapped into (0, 1]); the k
    * smallest keys ARE a weight-proportional sample without
    * replacement (the A-ES result: P(i first) = w_i/Σw, then
    * recursively on the rest). Here weight = n_chars, the "sample
    * long documents proportionally" curation step.
    *
    * Determinism: u derives from sha-256 of the doc_id (reproducible
    * across runs/engines/partitionings — `df.sample` is none of
    * those); the key is computed with the SAME formula on both
    * engines (ln(2^48) − ln(h+1), divided by the weight) and rounded
    * ONCE to integer micros, with doc_id breaking rounded ties — so
    * selection and order are engine-exact.
    *
    * Scale shape: map-only key computation over the scan (reads 2
    * columns), then top-k = orderBy.limit → TakeOrderedAndProject
    * (each partition keeps its local k; no global sort). The rank
    * window re-ranks only the k survivors. */
  def weightedSample(docs: DataFrame, k: Int = 50): DataFrame = {
    import graft.functions.PortableHash
    val lnH = log(lit(281474976710656.0)) // ln 2^48, same fold both engines
    val u = PortableHash.hash48(concat(lit("ws:"), col("doc_id").cast("string")))
    val key = round(
      (lnH - log(u.cast("double") + 1)) /
        greatest(col("n_chars").cast("double"), lit(1.0)) * 1e6).cast("long")
    docs
      .select(col("doc_id"), col("n_chars"), key.as("key_micro"))
      .orderBy(col("key_micro"), col("doc_id")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("key_micro"), col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("n_chars"), col("key_micro"))
  }

  /** Temperature-style domain rebalancing — the data-MIXING step that
    * decides how much of each domain (here: language) enters the
    * training mix. [[stratifiedSample]] takes rates as GIVEN; this op
    * derives them from the data with the inverse-sqrt flattening rule
    * (the α = 0.5 case of p_d ∝ n_d^α mixture reweighting used for
    * multilingual pretraining): rate_d = min(1, base · √(n_max/n_d)),
    * so the dominant domain keeps `base` of its documents and smaller
    * domains keep proportionally more (floor: all of them). Anchoring
    * on n_max (an exact integer max, not a float sum over domains)
    * keeps the rate arithmetic bit-reproducible across engines.
    *
    * The keep decision reuses the salted portable-hash bucket of
    * [[stratifiedSample]] (bucket space 1e6 — rates are 6-decimal),
    * so the sample is reproducible across runs, engines, and
    * partitionings.
    *
    * Scale shape: one tiny agg (|domains| rows) → broadcast join →
    * map-side filter. The corpus never shuffles; at 100 TB the only
    * non-map work is the domain-count aggregation, which is
    * partial-aggregated to |domains| rows.
    */
  def domainMix(docs: DataFrame, baseFrac: Double = 0.5): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_d"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(max(col("n_d")).as("n_max"))))
      .withColumn("rate",
        roundn(least(lit(1.0), lit(baseFrac) * sqrt(col("n_max").cast("double") / col("n_d"))), 6))
      .select(col("lang"), col("n_d"), col("rate"))
    docs
      .join(broadcast(rates), "lang")
      .withColumn("bucket", graft.functions.PortableHash.bucket(
        concat(col("text"), lit("|mix")), 1000000))
      // rate is 6-decimal, so rate·1e6 is integral up to float
      // representation — round() lands both engines on that integer
      .filter(col("bucket") < round(col("rate") * 1000000.0).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_d"), col("rate"))
  }

  /** TEMPERATURE-scaled mixture weights (the multilingual-pretraining
    * standard: p_i ∝ share_i^(1/T), here T = 2 so the exponent is an
    * exact `sqrt` — IEEE-correctly-rounded on every engine, unlike a
    * libm `pow`) — [[domainMix]]'s sibling: domainMix flattens
    * against the DOMINANT domain with a keep-rate per doc; this emits
    * the normalized sampling DISTRIBUTION itself plus each domain's
    * boost factor (weight/share — >1 means upsample), the numbers a
    * mixture dataloader consumes directly.
    *
    * Determinism: share rounds to 6dp BEFORE the sqrt, the normalizer
    * folds in lang order ([[graft.functions.VectorMath.orderedSum]] —
    * |langs|-bounded group), outputs round once.
    *
    * Scale shape: one lang-keyed count with map-side partials; all
    * later arithmetic on the |langs|-row census. */
  def domainTemperature(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_d"))
    val tot = counts.agg(sum(col("n_d")).cast("double").as("n_tot"))
    val shared = counts.crossJoin(broadcast(tot))
      .withColumn("share", roundn(col("n_d") / col("n_tot"), 6))
      .withColumn("w_raw", sqrt(col("share")))
    val denom = shared.agg(
      graft.functions.VectorMath.orderedSum(col("lang"), col("w_raw")).as("den"))
    shared.crossJoin(broadcast(denom))
      .select(col("lang"), col("n_d"), col("share"),
        roundn(col("w_raw") / col("den"), 6).as("weight"),
        roundn(col("w_raw") / col("den") / col("share"), 6).as("boost"))
  }

  /** Concat-and-chunk sequence packing — the step that turns a
    * curated corpus into fixed-token-budget training sequences
    * (documents are concatenated per stream and cut every
    * `tokenBudget` tokens; a document belongs to the sequence its
    * first token lands in). Packing is inherently sequential, so the
    * corpus is sharded into `nStreams` independent streams by salted
    * content hash and the running-total window runs PER STREAM: each
    * stream is one window partition, and parallelism = nStreams (at
    * 100 TB set nStreams ≈ executor cores × executors; stream sizes
    * are hash-uniform so no partition is a straggler). Within a
    * stream, order is doc_id — deterministic across runs and engines,
    * unlike any arrival-order packing.
    *
    * Output: (doc_id, stream_id, n_tok, seq_id, seq_offset) where
    * seq_id is the stream-local sequence index and seq_offset the
    * document's first-token offset inside that sequence.
    */
  /** Preference pairs from a scalar reward — the RLHF/DPO data-prep
    * step between a quality model and preference training (Ouyang et
    * al. '22 shape: (chosen, rejected) pairs a reward or DPO
    * objective consumes). Pairing is within LANGUAGE (the comparable-
    * context convention — a pair should differ in QUALITY, not
    * domain) and max-margin: rank k pairs with rank n+1−k, so the
    * best faces the worst and the margin shrinks toward the middle;
    * zero-margin pairs carry no learning signal and drop (stated
    * contract). Quality is [[qualityScore]]'s composite on the exact
    * integer-micro grid.
    *
    * Scale shape: one quality agg, then the rank window runs within
    * (lang, hash-bucket) SHARDS — never per-lang alone. One language
    * is most of a real pretraining corpus, so a per-lang window would
    * plan a single-task sort of nearly the whole corpus at 100×; the
    * salted content-hash shard (the [[packSequences]] stream trick)
    * caps every sort partition at corpus/(B·|langs|) expected rows,
    * and B scales with the cluster (set it ≈ executor cores ×
    * executors). Pairing is max-margin WITHIN each shard (rank k vs
    * n_shard+1−k) — statistically identical to the global pairing
    * under uniform sharding (each shard is a uniform random sample of
    * its language's quality distribution), and margins stay monotone
    * non-increasing per shard by construction. */
  def preferencePairs(docs: DataFrame, nShards: Int = 8): DataFrame = {
    val q = qualityScore(docs)
      .join(docs.select(col("doc_id"), col("lang"),
        graft.functions.PortableHash.bucket(concat(col("text"), lit("|pref")), nShards)
          .as("bucket")), "doc_id")
      .select(col("lang"), col("bucket"), col("doc_id"),
        round(col("quality") * 1e6).cast("long").as("q_micro"))
    val w = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("q_micro").desc, col("doc_id"))
    val ranked = q
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("lang"), col("bucket"))))
      .localCheckpoint(false)
    val top = ranked.filter(col("r") * 2 < col("n") + 1)
      .select(col("lang"), col("bucket"), col("r").as("pair_idx"),
        col("doc_id").as("chosen_id"), col("q_micro").as("chosen_q_micro"))
    val bot = ranked
      .select(col("lang"), col("bucket"), (col("n") + 1 - col("r")).as("pair_idx"),
        col("doc_id").as("rejected_id"), col("q_micro").as("rejected_q_micro"))
    top.join(bot, Seq("lang", "bucket", "pair_idx"))
      .withColumn("margin_micro", col("chosen_q_micro") - col("rejected_q_micro"))
      .filter(col("margin_micro") > 0)
      .select(col("lang"), col("bucket"), col("pair_idx"),
        col("chosen_id"), col("chosen_q_micro"),
        col("rejected_id"), col("rejected_q_micro"), col("margin_micro"))
  }

  /** Curriculum staging — order the corpus easy→hard by FK grade
    * ([[readabilityScore]]) and cut it into `stages` difficulty tiers
    * (Bengio et al. ICML'09's curriculum schedule as a data property:
    * stage s feeds training phase s). Stages come from exact quantile
    * BOUNDARIES over the value-grid census (the dp_quantile/tail_index
    * rank trick — never a corpus-wide sort): boundary b_q = smallest
    * grade with cumulative count ≥ q·n/stages, stage = number of
    * boundaries strictly below the doc's grade. Equal-grade docs land
    * in the same stage BY CONSTRUCTION (a rank split would tear
    * ties), so stage sizes are quantiles up to tie lumping — stated.
    * Wordless docs carry no readability and drop (the
    * [[readabilityScore]] contract).
    *
    * Scale shape: one map-side readability pass; the cumulative
    * window runs over the ≤|distinct grades| census, boundaries are
    * a 1-row broadcast, staging is map-side. */
  def curriculumOrder(docs: DataFrame, stages: Int = 4): DataFrame = {
    val rs = readabilityScore(docs)
      .select(col("doc_id"), col("n_words"),
        round(col("fk_grade") * 1e6).cast("long").as("grade_micro"))
      .localCheckpoint(false)
    val n = rs.agg(count(lit(1)).as("n"))
    val wCum = Window.orderBy(col("grade_micro"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val census = rs.groupBy(col("grade_micro")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .localCheckpoint(false)
    val bounds = (1 until stages).map { qi =>
      census.crossJoin(broadcast(n))
        .filter(col("cum") * stages >= col("n") * qi)
        .agg(min(col("grade_micro")).as(s"b$qi"))
    }.reduce(_ crossJoin _)
    rs.crossJoin(broadcast(bounds))
      .withColumn("stage",
        (1 until stages).map(qi =>
          when(col("grade_micro") > col(s"b$qi"), 1L).otherwise(0L))
          .reduce(_ + _))
      .select(col("doc_id"), col("n_words"), col("grade_micro"), col("stage"))
  }

  /** Inverse Cloze Task pairs (Lee et al., ACL'19 — ORQA's
    * unsupervised retrieval pretraining objective): a w-token window
    * is REMOVED from each document to become the query, the remainder
    * is its positive context — the (query, passage) pairs a dense
    * retriever pretrains on before any labeled data exists. The
    * window start is hash-derived from the text (the stratified_
    * sample convention: deterministic, replayable, uniform), so both
    * engines cut the identical window. Documents shorter than w+1
    * tokens emit no row (no context would remain).
    *
    * Scale shape: one tokenize + one doc-keyed ordered fold (the
    * array is the ≤512-token capped doc) + map-side slicing; no
    * second shuffle. */
  def ictPairs(docs: DataFrame, w: Int = 8): DataFrame = {
    val arr = EmbedOps.tokenize(docs)
      .groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)")
        .as("arr"))
      .withColumn("n_tokens", size(col("arr")).cast("long"))
      .filter(col("n_tokens") > w)
    arr.join(docs.select(col("doc_id"), col("text")), "doc_id")
      .withColumn("q_start",
        pmod(graft.functions.PortableHash.hash24(concat(col("text"), lit("|ict"))),
          col("n_tokens") - w + 1))
      .select(col("doc_id"), col("n_tokens"), col("q_start"),
        array_join(slice(col("arr"), (col("q_start") + 1).cast("int"), lit(w)), " ")
          .as("query_text"),
        array_join(concat(
          slice(col("arr"), lit(1), col("q_start").cast("int")),
          slice(col("arr"), (col("q_start") + w + 1).cast("int"),
            (col("n_tokens") - col("q_start") - w).cast("int"))), " ")
          .as("context_text"))
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022 — the
    * code-LLM pretraining standard): each document splits at two
    * hash-derived cut points into (prefix, middle, suffix) and is
    * re-serialized in PSM order with sentinel markers, teaching the
    * model to infill. Cuts are independent hashes mod (n+1), so empty
    * segments are legal and exercised (cut at 0 or n); both engines
    * derive identical cuts from the text.
    *
    * Scale shape: [[ictPairs]]' exactly — tokenize, one doc-keyed
    * fold, map-side slicing. */
  def fimTransform(docs: DataFrame): DataFrame = {
    val arr = EmbedOps.tokenize(docs)
      .groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)")
        .as("arr"))
      .withColumn("n_tokens", size(col("arr")).cast("long"))
    arr.join(docs.select(col("doc_id"), col("text")), "doc_id")
      .withColumn("h1",
        pmod(graft.functions.PortableHash.hash24(concat(col("text"), lit("|fim1"))),
          col("n_tokens") + 1))
      .withColumn("h2",
        pmod(graft.functions.PortableHash.hash24(concat(col("text"), lit("|fim2"))),
          col("n_tokens") + 1))
      .withColumn("cut1", least(col("h1"), col("h2")))
      .withColumn("cut2", greatest(col("h1"), col("h2")))
      .select(col("doc_id"), col("n_tokens"), col("cut1"), col("cut2"),
        concat(lit("<PRE> "),
          array_join(slice(col("arr"), lit(1), col("cut1").cast("int")), " "),
          lit(" <SUF> "),
          array_join(slice(col("arr"), (col("cut2") + 1).cast("int"),
            (col("n_tokens") - col("cut2")).cast("int")), " "),
          lit(" <MID> "),
          array_join(slice(col("arr"), (col("cut1") + 1).cast("int"),
            (col("cut2") - col("cut1")).cast("int")), " ")).as("psm_text"))
  }

  /** T5 span corruption (Raffel et al., JMLR'20 §3.1.4): span starts
    * are hash-selected token positions (1-in-`every` — with `span`-
    * token spans ≈ 15% of tokens masked at the defaults), overlapping
    * and adjacent spans MERGE into maximal covered runs (the paper's
    * behavior), each run is replaced by one sentinel <X_k> in the
    * input, and the target is the sentinel-prefixed masked-out text —
    * the (input, target) pair the denoising objective trains on.
    *
    * Determinism: the start predicate hashes (doc_id, pos); coverage
    * is a bounded ROWS window over the DENSE pos order (posexplode
    * guarantees no gaps, so rows-between equals positions-between);
    * run numbering is a running sum; both serializations are
    * pos-ordered folds — every step replays identically in DuckDB.
    *
    * Scale shape: one tokenize, one per-doc window pass (bounded
    * frames), one doc-keyed fold. */
  def spanCorruption(docs: DataFrame, every: Int = 20, span: Int = 3): DataFrame = {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val marked = EmbedOps.tokenize(docs)
      .withColumn("is_start",
        (pmod(graft.functions.PortableHash.hash24(
          concat_ws("|", col("doc_id"), lit("sc"), col("pos"))), lit(every.toLong))
          === 0).cast("int"))
      .withColumn("last_start",
        max(when(col("is_start") === 1, col("pos")))
          .over(byPos.rowsBetween(-(span - 1), 0)))
      .withColumn("covered", col("last_start").isNotNull.cast("int"))
      .withColumn("prev_cov", coalesce(lag(col("covered"), 1).over(byPos), lit(0)))
      .withColumn("run_start",
        (col("covered") === 1 && col("prev_cov") === 0).cast("int"))
      .withColumn("run_id",
        sum(col("run_start")).over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("in_piece",
        when(col("covered") === 0, col("tok"))
          .when(col("run_start") === 1, concat(lit("<X_"), col("run_id"), lit(">")))
          .otherwise(lit("")))
      .withColumn("tgt_piece",
        when(col("covered") === 0, lit(""))
          .when(col("run_start") === 1,
            concat(lit("<X_"), col("run_id"), lit("> "), col("tok")))
          .otherwise(col("tok")))
    marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("covered")).as("n_masked"),
        sum(col("run_start")).as("n_spans"),
        expr("array_join(transform(filter(array_sort(collect_list(" +
          "struct(pos, in_piece))), x -> x.in_piece != ''), x -> x.in_piece), ' ')")
          .as("input_text"),
        expr("array_join(transform(filter(array_sort(collect_list(" +
          "struct(pos, tgt_piece))), x -> x.tgt_piece != ''), x -> x.tgt_piece), ' ')")
          .as("target_text"))
  }

  def packSequences(docs: DataFrame, tokenBudget: Long = 128, nStreams: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("stream_id")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(
        col("doc_id"),
        wsTokenCount(col("text")).as("n_tok"),
        graft.functions.PortableHash.bucket(concat(col("text"), lit("|pack")), nStreams)
          .as("stream_id"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .select(
        col("doc_id"), col("stream_id"), col("n_tok"),
        floor((col("cum_tok") - col("n_tok")) / lit(tokenBudget.toDouble)).cast("long")
          .as("seq_id"),
        pmod(col("cum_tok") - col("n_tok"), lit(tokenBudget)).as("seq_offset"))
  }

  /** BEST-FIT-DECREASING sequence packing — the production
    * alternative beside [[packSequences]]' concat-and-chunk (r14
    * verdict #4): concat-and-chunk splits documents across sequence
    * boundaries (attention bleed / truncated examples); BFD packs
    * WHOLE documents into fixed-budget bins, paying padding waste
    * instead of splits. Within each hash-bounded stream (the
    * [[packSequences]] salted-shard trick — packing is inherently
    * sequential, so the sequential unit is the stream, and streams
    * scale with the cluster), documents fold in (n_tok DESC, doc_id)
    * order; each lands in the FULLEST bin that still fits (best fit,
    * first-index tie-break), else opens a new bin. Oversize docs
    * (n_tok > budget) open their own over-full bin — whole-doc
    * packing never truncates; the over-full bin can never fit
    * another doc, so it is exactly the "give the giant its own
    * sequence" policy, flagged downstream by load > budget.
    *
    * Determinism: the fold order, the fit rule, and both tie-breaks
    * (max load, then lowest bin index via first-position) are integer
    * decisions the DuckDB oracle replays step-for-step (recursive CTE
    * over the same ordered stream).
    *
    * Scale shape: one map-side tokenize+bucket, ONE stream-keyed
    * fold (the aggregate HOF runs inside codegen over the collected
    * stream — stream size is corpus/nStreams by hash uniformity, the
    * bounded-fold contract packSequences already declares); the bin
    * state is the loads array (≤ stream docs). At 100 TB raise
    * nStreams ≈ executor cores × executors, exactly the
    * packSequences guidance. */
  def packBestFit(docs: DataFrame, tokenBudget: Long = 128, nStreams: Int = 8): DataFrame =
    // sort key (-n_tok, doc_id) = the DECREASING order BFD needs
    packBestFitFold(docs, tokenBudget, nStreams,
      "struct(-n_tok as negnt, doc_id as d, n_tok as nt)")

  /** ONLINE best fit — [[packBestFit]] without the decreasing sort:
    * documents place in ARRIVAL (doc_id) order, each into the
    * fullest bin that still fits, else a new bin. This is what an
    * ingest pipeline actually runs (BFD needs the whole batch before
    * placing anything; online BF places each doc the moment it
    * lands — the streaming twin [[graft.streaming.StreamingOps
    * .packOnlineStream]] folds the identical rule per arrival), and
    * the classic competitive-ratio price (online BF ≤ 1.7·OPT vs
    * BFD's 11/9·OPT) becomes a measurable waste delta on the same
    * corpus. Same fold kernel, same tie-breaks, same oversize
    * policy; only the fold order differs. */
  def packBestFitOnline(docs: DataFrame, tokenBudget: Long = 128,
                        nStreams: Int = 8): DataFrame =
    packBestFitFold(docs, tokenBudget, nStreams,
      "struct(doc_id as d, n_tok as nt)")

  /** The shared best-fit fold kernel ([[packBestFit]] /
    * [[packBestFitOnline]] differ only in `sortKeyStruct`, whose
    * array_sort order IS the placement order; fields d and nt must
    * be present).
    *
    * Cost bound, stated: the accumulator appends each placed doc to
    * the assignment array, and Catalyst's array_append copies the
    * array — ~n²/2 struct copies per stream of n docs on top of the
    * O(bins) load scan per step (the load scan itself is LET-bound
    * once per step; inlining it was the measured 10.5 s → 0.46 s
    * fix). Packing is inherently sequential per stream, so the knob
    * is nStreams: size it so corpus/nStreams keeps the per-stream
    * quadratic term cheap (≈ total cores at cluster scale; the
    * streaming twin escapes the bound entirely — its state is the
    * open-bin load list only, assignments emit per arrival). */
  private def packBestFitFold(docs: DataFrame, tokenBudget: Long, nStreams: Int,
                              sortKeyStruct: String): DataFrame = {
    val base = docs.select(
      col("doc_id"),
      wsTokenCount(col("text")).as("n_tok"),
      graft.functions.PortableHash.bucket(concat(col("text"), lit("|pack")), nStreams)
        .as("stream_id"))
    val B = tokenBudget
    // best bin = first position of the max load among fitting bins —
    // any bin sharing that load also fits, so first-position IS the
    // lowest-index tie-break. NULL when nothing fits (array_max of an
    // empty filter), which is exactly the open-a-new-bin signal.
    // The singleton transform() is a LET binding: SQL lambdas have no
    // local names, and inlining this O(bins) search into the per-bin
    // update comparison would make each fold step O(bins²) — measured
    // 10.5 s at sf0.1 before the binding, the round's one perf bug.
    val bestPos = s"array_position(s.loads, array_max(filter(s.loads, l -> l + x.nt <= $B)))"
    base
      .groupBy(col("stream_id"))
      .agg(expr(
        s"""transform(array_sort(collect_list($sortKeyStruct)),
           |  x -> struct(x.nt as nt, x.d as d))""".stripMargin).as("ds"))
      .withColumn("st", expr(
        s"""aggregate(ds,
           |  struct(cast(array() as array<bigint>) as loads,
           |         cast(array() as array<struct<d: bigint, b: bigint, nt: bigint>>) as asg),
           |  (s, x) -> element_at(transform(array($bestPos),
           |    bp -> if(bp is null,
           |      struct(
           |        array_append(s.loads, x.nt) as loads,
           |        array_append(s.asg, struct(x.d as d, cast(size(s.loads) + 1 as bigint) as b,
           |                                   x.nt as nt)) as asg),
           |      struct(
           |        transform(s.loads, (l, i) -> if(i + 1 = bp, l + x.nt, l)) as loads,
           |        array_append(s.asg, struct(x.d as d, bp as b, x.nt as nt)) as asg))), 1))""".stripMargin))
      .select(col("stream_id"), explode(col("st.asg")).as("a"))
      .select(col("a.d").as("doc_id"), col("stream_id"),
        col("a.nt").as("n_tok"), col("a.b").as("bin_id"))
  }

  /** The packing-policy RECEIPT beside [[packBestFit]] — prices the
    * concat-and-chunk vs whole-doc trade on the same corpus, one row
    * per method (chunk / bestfit / bestfit_online): sequence/bin
    * count, capacity, used tokens, padding waste (micro), split
    * fraction ([[packSequences]]' documents whose span crosses a
    * boundary; structurally zero for both whole-doc forms), and the
    * oversize census. The three stated facts a packing decision
    * needs: chunking wastes almost nothing but splits ~budget's worth
    * of docs; BFD never splits but pads; online BF pads MORE than BFD
    * (the competitive-ratio price of placing on arrival) — and this
    * row makes that delta a measured number on the actual corpus.
    *
    * Scale shape: each packing's declared plan + bounded rollups
    * (per-stream / per-bin aggs, then a 3-row union). */
  def packEfficiency(docs: DataFrame, tokenBudget: Long = 128, nStreams: Int = 8): DataFrame = {
    val B = tokenBudget
    val seq = packSequences(docs, tokenBudget, nStreams).localCheckpoint(false)
    // concat-and-chunk: per stream, capacity = ceil(tokens/B)·B; a doc
    // splits when its span crosses a boundary (offset + n_tok > B)
    val seqStream = seq.groupBy(col("stream_id"))
      .agg(sum(col("n_tok")).as("toks"),
        count(lit(1)).as("nd"),
        sum(when(col("seq_offset") + col("n_tok") > B, 1L).otherwise(0L)).as("nsplit"))
    val seqRow = seqStream.agg(
      sum(expr(s"(toks + ${B - 1}) div $B")).as("n_units"),
      (sum(expr(s"(toks + ${B - 1}) div $B")) * B).as("capacity"),
      sum(col("toks")).as("used_tokens"),
      sum(col("nd")).as("n_docs"),
      sum(col("nsplit")).as("n_split_docs"),
      lit(0L).as("n_oversize"))
      .select(lit("chunk").as("method"), col("*"))
    def binRow(method: String, packed: DataFrame): DataFrame = {
      val bins = packed.localCheckpoint(false)
      val binLoads = bins.groupBy(col("stream_id"), col("bin_id"))
        .agg(sum(col("n_tok")).as("load"))
      binLoads.agg(
        count(lit(1)).as("n_units"),
        sum(greatest(col("load"), lit(B))).as("capacity"),
        sum(col("load")).as("used_tokens"))
        .crossJoin(broadcast(bins.agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_tok") > B, 1L).otherwise(0L)).as("n_oversize"))))
        .select(lit(method).as("method"), col("n_units"), col("capacity"),
          col("used_tokens"), col("n_docs"), lit(0L).as("n_split_docs"),
          col("n_oversize"))
    }
    seqRow
      .unionByName(binRow("bestfit", packBestFit(docs, tokenBudget, nStreams)))
      .unionByName(binRow("bestfit_online", packBestFitOnline(docs, tokenBudget, nStreams)))
      // zero guards: a corpus of only zero-token docs gives the chunk
      // row capacity 0 (and an empty corpus n_docs 0) — engine NULL
      // vs oracle div-by-zero would diverge without the CASE
      .withColumn("waste_micro",
        when(col("capacity") === 0L, lit(0L))
          .otherwise(expr("(capacity - used_tokens) * 1000000 div capacity")))
      .withColumn("split_micro",
        when(col("n_docs") === 0L, lit(0L))
          .otherwise(expr("n_split_docs * 1000000 div n_docs")))
      .select(col("method"), col("n_units"), col("capacity"), col("used_tokens"),
        col("waste_micro"), col("n_docs"), col("n_split_docs"), col("split_micro"),
        col("n_oversize"))
  }

  /** Corpus-derived unigram language-model scoring — the
    * perplexity-proxy quality filter (the KenLM-style gate of CCNet /
    * RedPajama curation, degenerate order 1 so the DuckDB oracle can
    * replay it exactly): estimate p(tok) from the corpus itself, then
    * score each document by its mean token log-probability. Rare-token
    * salad scores low; text made of common tokens scores high. No
    * smoothing is needed because the model is fit on the very corpus
    * it scores (every token has count ≥ 1).
    *
    * Determinism: logprob is ln of an exact integer ratio, rounded to
    * 6dp before use (ln parity with DuckDB is established by the BM25
    * oracle); the per-doc fold sums tf·logprob over DISTINCT tokens in
    * token order ([[graft.functions.VectorMath.orderedSum]] — unique
    * keys, so the sequential fold is well-defined), and the mean
    * divides the rounded sum by an exact integer count.
    *
    * Scale shape: vocab is one token-keyed partial-agg (uniform keys,
    * output |vocab| rows — orders of magnitude smaller than the token
    * stream); the 1-row total broadcasts; scoring is an equi-join of
    * per-doc term counts against the vocab table followed by one
    * doc_id-keyed agg. No window, no skew candidates.
    */
  def lmLogprob(docs: DataFrame): DataFrame = {
    val tf = EmbedOps.tokenize(docs)
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).cast("double").as("total"))
    val lp = vocab
      .crossJoin(broadcast(total))
      .select(col("tok"), roundn(log(col("cnt") / col("total")), 6).as("logprob"))
    // the RAW fold sum divides by n_tok before the single rounding:
    // rounding the sum first would snap it to the 1e-6 grid, and a
    // grid value divided by a small integer lands EXACTLY on .5
    // rounding boundaries (1/n of the time!) where engines' round
    // implementations can disagree — one round after the division
    // keeps the quotient off-grid
    tf.join(lp, "tok")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).cast("long").as("n_tok"),
        graft.functions.VectorMath.orderedSum(
          col("tok"), col("tf") * col("logprob")).as("sum_lp_raw"))
      .withColumn("avg_logprob", roundn(col("sum_lp_raw") / col("n_tok"), 6))
      .select(col("doc_id"), col("n_tok"), col("avg_logprob"))
  }

  /** Order-2 extension of [[lmLogprob]]: interpolated bigram LM
    * scoring, p̂(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) + (1−λ)·p(w₂) — the
    * Jelinek-Mercer mixture that keeps unseen-bigram mass nonzero
    * through the unigram term (every w₂ occurs in the corpus, so the
    * mixture is always positive and ln is defined). Catches
    * word-salad text that unigram scoring misses: frequent tokens in
    * improbable ORDER score low here.
    *
    * Determinism: counts are exact integers, (1−λ) comes from exact
    * decimal subtraction (mirroring DuckDB's decimal literal), each
    * bigram's ln is rounded to 6dp, and the per-doc fold orders by
    * the distinct bigram string.
    *
    * Scale shape: like [[lmLogprob]] plus one lead() window per doc
    * partition (uniform); the bigram model table is |bigram vocab|
    * rows — token-keyed aggs all the way, no skew candidates. */
  def lmBigramLogprob(docs: DataFrame, lambda: Double = 0.7): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = EmbedOps.tokenize(docs)
    val bi = toks
      .withColumn("w2", lead(col("tok"), 1).over(byDoc))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("tok").as("w1"), col("w2"))
    val tf = bi.groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("tf"))
    val cBi = tf.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("c12"))
    val cW1 = cBi.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
    val total = uni.agg(sum(col("cu")).cast("double").as("total"))
    val oneMinus = (BigDecimal(1) - BigDecimal(lambda)).toDouble
    val lp = cBi
      .join(cW1, "w1")
      .join(uni.select(col("tok").as("w2"), col("cu")), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"),
        roundn(log(lit(lambda) * (col("c12") / col("c1"))
          + lit(oneMinus) * (col("cu") / col("total"))), 6).as("logprob"))
    // raw fold sum / integer count, ONE rounding — see lmLogprob's
    // boundary note (a pre-rounded sum divided by n lands on .5
    // boundaries 1/n of the time; this bit sf0.01 doc 484)
    tf.join(lp, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).cast("long").as("n_bigrams"),
        graft.functions.VectorMath.orderedSum(
          concat_ws(" ", col("w1"), col("w2")), col("tf") * col("logprob"))
          .as("sum_lp_raw"))
      .withColumn("avg_logprob", roundn(col("sum_lp_raw") / col("n_bigrams"), 6))
      .select(col("doc_id"), col("n_bigrams"), col("avg_logprob"))
  }

  /** Training-data curation filter — the composite every pretraining
    * pipeline runs before tokenization: keep documents in the target
    * language, above a quality floor, inside a token-count band. One
    * pass per signal, joined on doc_id (each side is one keyed agg of
    * the same tokenize scan; Catalyst reuses the scan), then a plain
    * conjunctive filter that pushes nothing to the driver. */
  def curatedCorpus(docs: DataFrame, lang: String = "en", minQuality: Double = 0.5,
                    minTokens: Long = 5, maxTokens: Long = 100000): DataFrame =
    qualityScore(docs)
      .join(langId(docs).select(col("doc_id"), col("predicted_lang")), "doc_id")
      .join(tokenCounts(docs).select(col("doc_id"), col("n_ws_tokens")), "doc_id")
      .filter(col("predicted_lang") === lang && col("quality") >= minQuality &&
        col("n_ws_tokens").between(minTokens, maxTokens))
      .select(col("doc_id"), col("predicted_lang"), col("quality"), col("n_ws_tokens"))

  /** DSIR-style importance weights (Xie et al., NeurIPS'23: data
    * selection via importance resampling): rank raw documents by
    * avg_tok [ln p̂_target(tok) − ln p̂_raw(tok)] under add-one-smoothed
    * unigram LMs — documents that look like the target domain float
    * up, off-domain documents sink. Both LMs are smoothed over the
    * SAME vocabulary (the raw corpus's), so the log-ratio is defined
    * for every scored token, including those the target never saw.
    *
    * Determinism: counts are exact integers, each token's log-ratio
    * is one 6dp-rounded ln difference, the per-doc fold sums over
    * distinct tokens in token order, and the mean rounds once after
    * the integer division (same off-grid discipline as [[lmLogprob]]).
    *
    * Scale shape: two token-keyed vocab aggs (the target one over the
    * small in-domain subset), a broadcast 1-row totals join, then the
    * same tf-join + doc-keyed agg as [[lmLogprob]]. No windows, no
    * skew candidates; at 100 TB the raw vocab agg is the only
    * data-sized stage. */
  def dsirWeights(raw: DataFrame, target: DataFrame): DataFrame = {
    val tf = EmbedOps.tokenize(raw)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val rawVocab = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cnt_r"))
    val targetCounts = EmbedOps.tokenize(target)
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt_t_all"))
    val vocab = rawVocab.join(targetCounts, Seq("tok"), "left")
      .select(col("tok"), col("cnt_r"),
        coalesce(col("cnt_t_all"), lit(0L)).as("cnt_t"))
    val tot = vocab.agg(
      sum(col("cnt_r")).as("nr"), sum(col("cnt_t")).as("nt"),
      count(lit(1)).as("v"))
    val lp = vocab.crossJoin(broadcast(tot))
      .select(col("tok"), roundn(
        log((col("cnt_t") + 1).cast("double") / (col("nt") + col("v")).cast("double")) -
          log((col("cnt_r") + 1).cast("double") / (col("nr") + col("v")).cast("double")),
        6).as("logratio"))
    tf.join(lp, "tok")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).cast("long").as("n_tok"),
        graft.functions.VectorMath.orderedSum(
          col("tok"), col("tf") * col("logratio")).as("sum_lr_raw"))
      .withColumn("dsir_weight", roundn(col("sum_lr_raw") / col("n_tok"), 6))
      .select(col("doc_id"), col("n_tok"), col("dsir_weight"))
  }

  /** Character-entropy quality gate — the compression-ratio proxy
    * filter (gzip-ratio gates in published curation stacks are
    * entropy estimates; Shannon entropy is the same signal in closed
    * form, and unlike a codec it is exactly replayable on any
    * engine): H = −Σ p(c)·ln p(c) over the document's character
    * distribution. Near-zero entropy = padding/repeated-char junk;
    * the ceiling is ln(alphabet). Emitted in nats at 6dp.
    *
    * Determinism discipline: each character's ln(cnt/n) rounds to 6dp
    * (ln parity per the BM25/lm_logprob contract), the per-doc fold
    * sums cnt·logp over DISTINCT characters in character order
    * (bounded group — ≤ alphabet size — so the ordered fold is the
    * right tool), and the final division by the exact integer n
    * rounds once ([[lmLogprob]]'s off-grid rule).
    *
    * Scale shape: one char-explode into a (doc_id, char)-keyed agg
    * (≤ |alphabet| rows per doc), then the doc_id-keyed fold —
    * uniform keys, no windows, no skew candidates. The distribution's
    * denominator is `char_length(text)` carried through the explode
    * (constant per doc), so no per-doc total agg or join exists at
    * all: two hash aggs over one scan.
    *
    * Edge contract (pinned, not incidental): empty documents emit NO
    * row — entropy of an empty distribution is undefined, and the
    * `char_length > 0` filter makes both engines agree instead of one
    * emitting a null-entropy row the other never produces. Character
    * identity is the UTF-16 code unit keyed by `ascii()` (Spark's
    * `split('')` walks code units): BMP text is exact; astral
    * (non-BMP) characters count as their two surrogates. A
    * cross-engine oracle comparing against a code-point engine must
    * restrict to BMP input or normalize first. */
  def charEntropy(docs: DataFrame): DataFrame =
    docs
      .filter(char_length(col("text")) > 0)
      .select(col("doc_id"), char_length(col("text")).cast("long").as("n"),
        // ONE-PASS char split — indexed substring(text, i, 1) per char
        // is O(doc²) (each call re-scans to the offset); split('')
        // walks the string once. ascii() keys the agg by code point
        // (narrow int keys; code-point order == char order for the
        // fold key)
        explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("n"), ascii(col("ch")).as("cp"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(
        max(col("n")).as("n_chars"), // constant within the group
        count(lit(1)).as("n_distinct_chars"),
        graft.functions.VectorMath.orderedSum(
          col("cp"), col("cnt") * roundn(log(col("cnt") / col("n")), 6)).as("s_raw"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct_chars"),
        roundn(-col("s_raw") / col("n_chars"), 6).as("entropy"))

  /** The SELECTION half of DSIR: keep the top `keepNum/keepDen`
    * fraction of documents by [[dsirWeights]] importance weight —
    * exactly, deterministically, and WITHOUT a global rank. A
    * `row_number()` over the whole corpus is a single-partition sort
    * (the first thing that dies at scale); instead the 6dp-rounded
    * weights are integerized to a bounded value grid and selection
    * goes through a WEIGHT HISTOGRAM:
    *
    *   1. histogram: one keyed agg to |distinct weights| rows —
    *      grid-bounded, corpus-size-independent;
    *   2. cumulative counts from the top over that tiny table find
    *      the threshold weight t and how many ties at t still fit;
    *   3. keep = map-side `weight > t` filter, plus a doc_id-ordered
    *      rank over ONLY the t-tied rows (one bounded group).
    *
    * Ties at t break by doc_id ascending — equivalent to a global
    * (weight DESC, doc_id ASC) top-k, which is what the oracle
    * computes. k = ceil(n·frac) in exact integer arithmetic. */
  def dsirSelect(raw: DataFrame, target: DataFrame,
                 keepNum: Long = 1, keepDen: Long = 4): DataFrame = {
    val w = dsirWeights(raw, target)
      .withColumn("iw", round(col("dsir_weight") * 1000000.0, 0).cast("long"))
    val hist = w.groupBy(col("iw")).agg(count(lit(1)).as("cnt"))
    val k = hist.agg(sum(col("cnt")).as("n"))
      .select(expr(s"(n * $keepNum + $keepDen - 1) div ${keepDen}L").as("k")) // ceil, exact
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        Window.orderBy(col("iw").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(k))
    val thr = cum
      .filter(col("cum") >= col("k") && col("cum") - col("cnt") < col("k"))
      .select(col("iw").as("t"), (col("k") - (col("cum") - col("cnt"))).as("keep_at_t"))
    val above = w.crossJoin(broadcast(thr)).filter(col("iw") > col("t"))
    val atT = Rank.top(w.crossJoin(broadcast(thr)).filter(col("iw") === col("t")),
      Seq(col("t")), Seq(col("doc_id")), col("keep_at_t"))
    above.select(col("doc_id"), col("n_tok"), col("dsir_weight"))
      .unionByName(atT.select(col("doc_id"), col("n_tok"), col("dsir_weight")))
  }

  /** THE PRETRAINING FUNNEL as one declared query — the engine's
    * whole reason-to-exist composed end to end (every stage is an
    * already-pinned kernel; this pins their COMPOSITION, the
    * `web_ingest` pattern at corpus scale): raw corpus → curation
    * gate ([[curatedCorpus]]: language + quality + token band) →
    * exact dedup (min-doc_id representative per text) → near-dup
    * prune (drop every non-canonical member of a corpus-wide verified
    * near-dup pair), with per-stage document and token totals — the
    * funnel table a data lead reads before any training run is
    * approved.
    *
    * Scale shape: the token census is computed once and joined per
    * stage; each stage is a semi/anti-join on doc_id against a
    * bounded survivor list; the near-dup relation is the standard
    * LSH-routed pair pipeline, never all-pairs. */
  def pretrainPipeline(docs: DataFrame): DataFrame = {
    val tc = docs.select(col("doc_id"),
      size(filter(transform(split(col("text"), " "), t => trim(t)), t => t =!= ""))
        .cast("long").as("n_tok"))
    def stageOf(ord: Int, name: String, ids: DataFrame): DataFrame =
      ids.join(tc, "doc_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .select(lit(ord.toLong).as("stage"), lit(name).as("stage_name"),
          col("n_docs"), col("n_tokens"))
    // NOTE: the survivor lists are deliberately NOT checkpointed —
    // measured 2.55 s lazy vs 5.35 s with eager per-stage
    // localCheckpoints at sf0.1: one lazy plan shares the tokenize
    // scan and shuffle-reuses across stage rows, while eager
    // truncation serializes four blocking jobs
    val curated = curatedCorpus(docs).select(col("doc_id"))
    val exact = docs.join(curated, "doc_id")
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val dropIds = DedupOps.nearDupVerified(docs)
      .select(col("b_id").as("doc_id")).distinct()
    val near = exact.join(dropIds, Seq("doc_id"), "left_anti")
    stageOf(1, "raw", docs.select(col("doc_id")))
      .unionByName(stageOf(2, "curated", curated))
      .unionByName(stageOf(3, "exact_dedup", exact))
      .unionByName(stageOf(4, "near_dedup", near))
  }

  /** Tokenizer LOSSLESSNESS receipt — the property a tokenizer is
    * useless without, pinned instead of assumed: after `rounds` BPE
    * merges, stripping the separators from every word's symbol string
    * must reproduce the word, and the trained word table must carry
    * EXACTLY the tokenize census (same words, same counts, nothing
    * gained or lost through the merge loop). Reported as a full-outer
    * census↔decode reconciliation — any merge bug that corrupts a
    * symbol string or drops a word flips `all_ok`.
    *
    * Scale shape: the census and the word table are both vocab-sized;
    * the reconciliation is one token-keyed full-outer join. */
  def tokenizerRoundtrip(docs: DataFrame, rounds: Int = 6): DataFrame = {
    val census = EmbedOps.tokenize(docs)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val decoded = bpeLoop(docs, rounds)._2
      .select(expr("replace(syms, '  ', '')").as("tok"), col("wc"))
    census.join(decoded, Seq("tok"), "full_outer")
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("n") === col("wc"), 1L).otherwise(0L)).as("n_roundtrip_ok"),
        sum(when(col("n").isNull || col("wc").isNull, 1L).otherwise(0L))
          .as("n_unmatched"))
      .withColumn("all_ok", col("n_roundtrip_ok") === col("n_words"))
  }

  /** HYPERPARAMETER TUNING in-engine — model selection as a declared
    * receipt (the engine trains GD/EM/NB/Lloyd models; this closes
    * the loop by CHOOSING between them on held-out data, the step a
    * real pipeline never skips): hash-split documents 3:1 into
    * train/held-out, fit the Jelinek-Mercer bigram mixture's counts
    * on train only, score the held-out bigram stream at each λ in
    * the grid, and pin the per-λ held-out avg logprob with the argmax
    * flagged — the λ [[lmBigramLogprob]] should RUN with, measured
    * rather than guessed.
    *
    * Held-out bigrams whose w2 never appeared in train are SKIPPED
    * and counted (`n_oov`) — the mixture's unigram floor is 0 there
    * and ln undefined; reporting the skip count keeps the receipt
    * honest about coverage.
    *
    * Determinism: the split is a pure doc_id hash predicate; per-
    * bigram ln rounds once; the fold orders by the bigram string; the
    * one division rounds once. λ and (1−λ) literals follow the
    * lm_bigram BigDecimal ↔ DECIMAL convention.
    *
    * Scale shape: the model tables are token-keyed aggs of the train
    * split (one tokenize scan serves both splits); each λ leg re-aggs
    * the SAME joined held-out table (Catalyst reuses the subtree, and
    * the λ arithmetic is per-row map work); no new shuffle per λ
    * beyond the 1-row agg. */
  def lmTune(docs: DataFrame, lambdas: Seq[Double] = Seq(0.3, 0.5, 0.7, 0.9),
             maxTokens: Int = 512): DataFrame =
    lmTuneFromModel(docs, lmTrain(docs, maxTokens), lambdas, maxTokens)

  /** The doc-hash 3:1 split predicate both LM-tuning halves agree on. */
  private def lmIsTrain: Column =
    graft.functions.PortableHash.hash24(
      concat(lit("lmt:"), col("doc_id").cast("string"))) % 4 =!= 0

  /** The per-doc time-ordered bigram stream (w1, w2) of a token slice. */
  private def lmBigramsOf(t: DataFrame): DataFrame = t
    .withColumn("w2", lead(col("tok"), 1)
      .over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    .filter(col("w2").isNotNull)
    .select(col("tok").as("w1"), col("w2"))

  /** JM bigram-mixture TRAINING → the count tables AS THE MODEL
    * ARTIFACT: long format (kind, w1, w2, c) holding the train-split
    * bigram counts (kind 'b') and unigram counts (kind 'u', w2 = '').
    * All exact Longs, so the artifact parquet-round-trips
    * bit-identically; the marginals (c1 per w1, the corpus total) are
    * DERIVED from the artifact at apply time and cannot drift from
    * the counts they summarize. */
  def lmTrain(docs: DataFrame, maxTokens: Int = 512): DataFrame = {
    val train = EmbedOps.tokenize(docs, maxTokens).filter(lmIsTrain)
    val bi = lmBigramsOf(train).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      .select(lit("b").as("kind"), col("w1"), col("w2"), col("c"))
    val uni = train.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .select(lit("u").as("kind"), col("tok").as("w1"), lit("").as("w2"), col("c"))
    bi.unionByName(uni)
  }

  /** Held-out λ sweep from a (possibly reloaded) count artifact — the
    * apply half of [[lmTune]]. */
  def lmTuneFromModel(docs: DataFrame, model: DataFrame,
                      lambdas: Seq[Double] = Seq(0.3, 0.5, 0.7, 0.9),
                      maxTokens: Int = 512): DataFrame = {
    val held = EmbedOps.tokenize(docs, maxTokens).filter(!lmIsTrain)
    val cBi = model.filter(col("kind") === "b")
      .select(col("w1"), col("w2"), col("c").as("c12"))
    val uni = model.filter(col("kind") === "u")
      .select(col("w1").as("tok"), col("c").as("cu"))
    val cW1 = cBi.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val total = uni.agg(sum(col("cu")).cast("double").as("total"))
    val joined = lmBigramsOf(held).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
      .join(broadcast(uni.select(col("tok").as("w2"), col("cu"))), Seq("w2"), "left")
      .join(cBi, Seq("w1", "w2"), "left")
      .join(broadcast(cW1), Seq("w1"), "left")
      .crossJoin(broadcast(total))
      .localCheckpoint(false)
    val inVocab = joined.filter(col("cu").isNotNull)
    val nOov = joined.filter(col("cu").isNull)
      .agg(coalesce(sum(col("tf")), lit(0L)).as("n_oov"))
    lambdas.map { lam =>
      val oneMinus = (BigDecimal(1) - BigDecimal(lam)).toDouble
      val lp = roundn(log(
        lit(lam) * coalesce(
          col("c12").cast("double") / col("c1").cast("double"), lit(0.0)) +
          lit(oneMinus) * (col("cu") / col("total"))), 6)
      inVocab.select(col("w1"), col("w2"), col("tf"), lp.as("lp"))
        .agg(sum(col("tf")).as("n_scored"),
          graft.functions.VectorMath.orderedSum(
            concat_ws(" ", col("w1"), col("w2")), col("tf") * col("lp")).as("raw"))
        .crossJoin(broadcast(nOov))
        .select(lit(lam).as("lambda"), col("n_scored"), col("n_oov"),
          roundn(col("raw") / col("n_scored"), 6).as("avg_logprob"))
    }.reduce(_ unionByName _)
      .withColumn("is_best",
        col("avg_logprob") === max(col("avg_logprob")).over(
          Window.partitionBy(lit(1))))
  }

  /** Interpolated Kneser–Ney vs Jelinek–Mercer — the SMOOTHING
    * shoot-out on shared held-out data (Kneser & Ney '95, Chen &
    * Goodman '98): KN replaces the unigram back-off with the
    * CONTINUATION probability (in how many distinct contexts does w2
    * appear, over the bigram-type count) and absolute-discounts seen
    * bigrams by D = 0.75, so a frequent-but-context-locked word
    * ("francisco") stops leaking probability into novel contexts —
    * the failure mode JM's raw-frequency floor cannot see. Both
    * models score the SAME held-out bigram set (w2 must be in-vocab
    * AND have a continuation count — the shared-domain rule that
    * makes the comparison fair; skipped mass counted once), trained
    * on the same [[lmTrain]] split; per-bigram ln rounds once, folds
    * order by the bigram string, argmax flagged.
    *
    * An unseen-w1 bigram backs off entirely to the continuation
    * probability (c1 null ⇒ no discount mass to distribute) —
    * stated, mirrored.
    *
    * Scale shape: the KN statistics are two more token-keyed aggs of
    * the SAME train bigram table (continuations per w2, distinct
    * continuations per w1 riding the existing c1 agg); both legs
    * re-agg one checkpointed held-out join. */
  def lmKneserNey(docs: DataFrame, discount: Double = 0.75,
                  jmLambda: Double = 0.7, maxTokens: Int = 512): DataFrame = {
    val model = lmTrain(docs, maxTokens)
    val held = EmbedOps.tokenize(docs, maxTokens).filter(!lmIsTrain)
    val cBi = model.filter(col("kind") === "b")
      .select(col("w1"), col("w2"), col("c").as("c12"))
    val uni = model.filter(col("kind") === "u")
      .select(col("w1").as("tok"), col("c").as("cu"))
    val cW1 = cBi.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p_w1"))
    val contW2 = cBi.groupBy(col("w2")).agg(count(lit(1)).as("n1p_w2"))
    val nTypes = cBi.agg(count(lit(1)).cast("double").as("n_types"))
    val total = uni.agg(sum(col("cu")).cast("double").as("total"))
    val joined = lmBigramsOf(held).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
      .join(broadcast(uni.select(col("tok").as("w2"), col("cu"))), Seq("w2"), "left")
      .join(broadcast(contW2), Seq("w2"), "left")
      .join(cBi, Seq("w1", "w2"), "left")
      .join(broadcast(cW1), Seq("w1"), "left")
      .crossJoin(broadcast(nTypes)).crossJoin(broadcast(total))
      .localCheckpoint(false)
    val inVocab = joined.filter(col("cu").isNotNull && col("n1p_w2").isNotNull)
    val nOov = joined.filter(col("cu").isNull || col("n1p_w2").isNull)
      .agg(coalesce(sum(col("tf")), lit(0L)).as("n_oov"))
    val pc = col("n1p_w2").cast("double") / col("n_types")
    val pKn = when(col("c1").isNotNull,
      greatest(coalesce(col("c12").cast("double"), lit(0.0)) - lit(discount),
        lit(0.0)) / col("c1").cast("double") +
        lit(discount) * col("n1p_w1").cast("double") / col("c1").cast("double") * pc)
      .otherwise(pc)
    val oneMinus = (BigDecimal(1) - BigDecimal(jmLambda)).toDouble
    val pJm = lit(jmLambda) * coalesce(
      col("c12").cast("double") / col("c1").cast("double"), lit(0.0)) +
      lit(oneMinus) * (col("cu") / col("total"))
    def leg(name: String, p: Column): DataFrame =
      inVocab
        .select(col("w1"), col("w2"), col("tf"), roundn(log(p), 6).as("lp"))
        .agg(sum(col("tf")).as("n_scored"),
          graft.functions.VectorMath.orderedSum(
            concat_ws(" ", col("w1"), col("w2")), col("tf") * col("lp")).as("raw"))
        .crossJoin(broadcast(nOov))
        .select(lit(name).as("model"), col("n_scored"), col("n_oov"),
          roundn(col("raw") / col("n_scored"), 6).as("avg_logprob"))
    leg("kneser_ney", pKn).unionByName(leg("jelinek_mercer", pJm))
      .withColumn("is_best",
        col("avg_logprob") === max(col("avg_logprob")).over(
          Window.partitionBy(lit(1))))
  }

  /** RHO-loss-SHAPED selection (Mindermann et al. '22 / RHO-1 shape:
    * prioritize examples by EXCESS loss under a reference model) with
    * both models trained in-engine: rho = bigram avg logprob − unigram
    * avg logprob. The unigram model is order-blind, so rho isolates
    * how much the document's token ORDER adds beyond its token mix —
    * coherent prose scores high, shuffled word salad near zero or
    * negative — exactly the learnability signal frequency-based
    * filters ([[dsirWeights]], [[qualityScore]]) cannot see. Keeps the
    * top keepNum/keepDen quarter by the [[dsirSelect]] histogram
    * threshold (NO global sort): integer-micro rho histogram →
    * cumulative threshold → map-side filter + doc_id-ordered rank over
    * only the threshold ties.
    *
    * Documents with fewer than 2 tokens have no bigram leg and are
    * not scored (inner join) — stated, not silent.
    *
    * Scale shape: the two LM legs are token-keyed aggs sharing one
    * tokenize scan; the histogram is value-bounded (≤ |rho grid|
    * rows); selection is a broadcast-threshold map filter. */
  def rhoSelect(docs: DataFrame, keepNum: Long = 1, keepDen: Long = 4): DataFrame = {
    // materialize the two-LM score table once: the histogram, the
    // above-threshold filter, and the tie-rank each reference it, and
    // without truncation Catalyst re-plans the full twin-LM pipeline
    // per reference (~300-exchange plan; the checkpointed form is 4
    // references to one small (doc_id, scores) table)
    val w = lmLogprob(docs).select(col("doc_id"), col("avg_logprob").as("lp_uni"))
      .join(lmBigramLogprob(docs)
        .select(col("doc_id"), col("avg_logprob").as("lp_bi")), "doc_id")
      .withColumn("rho", roundn(col("lp_bi") - col("lp_uni"), 6))
      .withColumn("iw", round(col("rho") * 1000000.0, 0).cast("long"))
      .localCheckpoint(false)
    val hist = w.groupBy(col("iw")).agg(count(lit(1)).as("cnt"))
    val k = hist.agg(sum(col("cnt")).as("n"))
      .select(expr(s"(n * $keepNum + $keepDen - 1) div ${keepDen}L").as("k"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        Window.orderBy(col("iw").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(k))
    val thr = cum
      .filter(col("cum") >= col("k") && col("cum") - col("cnt") < col("k"))
      .select(col("iw").as("t"), (col("k") - (col("cum") - col("cnt"))).as("keep_at_t"))
    val above = w.crossJoin(broadcast(thr)).filter(col("iw") > col("t"))
    val atT = Rank.top(w.crossJoin(broadcast(thr)).filter(col("iw") === col("t")),
      Seq(col("t")), Seq(col("doc_id")), col("keep_at_t"))
    above.select(col("doc_id"), col("lp_uni"), col("lp_bi"), col("rho"))
      .unionByName(atT.select(col("doc_id"), col("lp_uni"), col("lp_bi"), col("rho")))
  }

  /** First `rounds` BPE merges (Sennrich et al., ACL'16) trained
    * relationally: word frequencies from one tokenize scan, symbols
    * start as characters, and each round (a) counts adjacent symbol
    * pairs weighted by word frequency — a map-side explode into one
    * hash agg — and (b) merges the winning pair greedily left-to-right
    * in every word. Returns (round, lhs, rhs, pair_count).
    *
    * The merge step stays MAP-ONLY by working in string space: words
    * are kept as '  '-joined symbol strings wrapped in single spaces,
    * so every symbol carries its own flank spaces and the pattern
    * ` lhs  rhs ` → ` lhsrhs ` under left-to-right non-overlapping
    * `replace` reproduces exactly BPE's greedy overlap rule (in
    * ` a  a  a ` only the first pair merges; in ` a  a  a  a ` both
    * disjoint pairs do — a single-space join would consume the shared
    * boundary and under-merge).
    *
    * Driver state per round is ONE row (the argmax pair — same
    * bounded-localize pattern as [[VectorOps.kmeansCells]]' k
    * centroids); pair counting shuffles |vocab| rows, never the
    * corpus. At 100 TB the vocab agg is the only data-sized stage
    * and it is a uniform hash agg. Ties break (count desc, lhs asc,
    * rhs asc) — both engines compare UTF-8 bytes. */
  def bpeMerges(docs: DataFrame, rounds: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeLoop(docs, rounds)._1.toDF("merge_round", "lhs", "rhs", "pair_count")
  }

  /** The trained tokenizer APPLIED: after `rounds` BPE merges the
    * word table's symbol sequences ARE the encoded corpus; this emits
    * the top-`k` vocabulary census (symbol, occurrences) — the
    * token-frequency table a sampling-temperature or vocab-size
    * decision reads. Encoding is map-only string work over the
    * vocab-sized word table; the census is one symbol-keyed agg and
    * a k-row TakeOrdered. */
  def bpeEncodedVocab(docs: DataFrame, rounds: Int = 6, k: Int = 20): DataFrame = {
    val words = bpeLoop(docs, rounds)._2
    val top = words
      .select(col("wc"), explode(split(col("syms"), "  ")).as("symbol"))
      .groupBy(col("symbol")).agg(sum(col("wc")).as("n_occ"))
      .orderBy(col("n_occ").desc, col("symbol")).limit(k)
    // rank window runs over the k surviving rows only
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("n_occ").desc, col("symbol"))).cast("long"))
      .select(col("rank"), col("symbol"), col("n_occ"))
  }

  /** The encoded-vocabulary census from a (possibly reloaded) MERGE
    * LIST artifact — the apply half of the BPE pair: [[bpeMerges]]'
    * output (round, lhs, rhs, pair_count — exact strings and Longs,
    * so parquet round-trips bit-identically) IS the tokenizer model,
    * and replaying its merges in round order over a fresh character
    * census must reproduce [[bpeEncodedVocab]] exactly. The merge
    * list localizes (≤ rounds rows — bounded by the training
    * parameter); each replayed merge is the same map-only wrapped
    * string replace the trainer used. */
  def bpeEncodedVocabFromMerges(docs: DataFrame, merges: DataFrame,
                                k: Int = 20): DataFrame = {
    val ms = merges.orderBy(col("merge_round")).collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs")))
    var words = EmbedOps.tokenize(docs)
      .groupBy(col("tok")).agg(count(lit(1)).as("wc"))
      .select(col("wc"), concat_ws("  ",
        expr("transform(sequence(1, char_length(tok)), i -> substring(tok, i, 1))"))
        .as("syms"))
      .localCheckpoint(false)
    ms.foreach { case (l, rr) =>
      val wrapped = concat(lit(" "), col("syms"), lit(" "))
      val s2 = org.apache.spark.sql.functions.replace(
        wrapped, lit(s" $l  $rr "), lit(s" $l$rr "))
      words = words.select(col("wc"), s2.substr(lit(2), length(s2) - 2).as("syms"))
    }
    val top = words
      .select(col("wc"), explode(split(col("syms"), "  ")).as("symbol"))
      .groupBy(col("symbol")).agg(sum(col("wc")).as("n_occ"))
      .orderBy(col("n_occ").desc, col("symbol")).limit(k)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("n_occ").desc, col("symbol"))).cast("long"))
      .select(col("rank"), col("symbol"), col("n_occ"))
  }

  /** The trained tokenizer applied PER DOCUMENT — the actual encode
    * step of the pipeline ([[bpeEncodedVocab]] is the vocabulary-side
    * census; this is the corpus-side census): every document's
    * whitespace-token count and its encoded length under the
    * `rounds`-merge BPE vocabulary. The word table needs no extra
    * key: a word IS its symbol string with the '  ' separators
    * removed, so the encoder join key is derived, not threaded
    * through the merge loop.
    *
    * Scale shape: the trained word table is |vocab|-sized and joins
    * the per-doc term counts on the uniform token key (broadcast-able
    * when the vocab fits); per-doc totals are one doc_id-keyed agg.
    * The corpus is scanned once (the same tokenize the trainer used).
    */
  def bpeTokenize(docs: DataFrame, rounds: Int = 6): DataFrame = {
    val enc = bpeLoop(docs, rounds)._2.select(
      org.apache.spark.sql.functions.replace(col("syms"), lit("  "), lit("")).as("tok"),
      size(split(col("syms"), "  ")).cast("long").as("n_syms"))
    EmbedOps.tokenize(docs)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .join(enc, "tok")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).cast("long").as("n_ws_tokens"),
        sum(col("tf") * col("n_syms")).cast("long").as("n_bpe_tokens"))
  }

  /** The vocabulary GROWTH CURVE of a deep BPE training run — the
    * guardrail a vocab-size decision reads (and the query that pins
    * ≥64-round training against the oracle, not just the 6-round
    * census): at every `every`-th merge round, the distinct-symbol
    * count of the word table and the encoded corpus length
    * Σ wc·|syms| (the compression curve — monotone non-increasing as
    * merges land).
    *
    * Scale shape: identical to [[bpeMerges]] — the corpus is touched
    * once (tokenize → word counts); all 64 rounds and the ≤ rounds/
    * every census jobs run over the vocab-sized word table. The loop
    * localCheckpoints every `every` rounds, so no job ever replays
    * more than `every` map-only merge projections and the plan depth
    * stays bounded at deep round counts. */
  def bpeVocabGrowth(docs: DataFrame, rounds: Int = 64, every: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeLoop(docs, rounds, censusEvery = every)._3
      .toDF("merge_round", "vocab_size", "n_bpe_tokens")
  }

  /** Census-localize guard for the driver-side trainer fast path —
    * the same bounded-localize convention as the IVF codebook's 2²²
    * cell guard: a word census at or below this collects to the
    * driver (BPE merge selection is inherently sequential-global, so
    * the distributed loop already paid one driver round-trip per
    * round; the localize moves the SAME decisions driver-side and
    * stops paying per-round scheduling). Above it, training falls
    * back to the distributed per-round loop unchanged. */
  private[ops] val MaxVocabLocalize: Int = 1 << 22

  /** Byte-ish companion guard for the census localize: even under the
    * row guard, the space-doubled symbol strings must fit driver heap
    * comfortably (≤ ~256M chars) or training stays distributed. */
  private[ops] val MaxLocalizeChars: Long = 1L << 28

  /** Unsigned UTF-8 byte comparison — the collation Spark's
    * UTF8String sorts strings by (and DuckDB's default). Scala's
    * String ordering compares UTF-16 code units and diverges above
    * the BMP, so the local trainer loops must NOT use it for the
    * argmax tie-breaks. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val (x, y) = (a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  private[ops] def bpeLoop(docs: DataFrame, rounds: Int, censusEvery: Int = 0,
                           localizeThreshold: Int = MaxVocabLocalize)
      : (Seq[(Long, String, String, Long)], DataFrame, Seq[(Long, Long, Long)]) = {
    // checkpointed up front: BOTH paths want the census materialized —
    // the distributed loop re-reads it every argmax round (this is the
    // pre-existing `words` checkpoint, hoisted), and the localize path
    // collects it — so the probe job below doubles as the materializer
    val census = EmbedOps.tokenize(docs)
      .groupBy(col("tok")).agg(count(lit(1)).as("wc"))
      .select(col("wc"), concat_ws("  ",
        expr("transform(sequence(1, char_length(tok)), i -> substring(tok, i, 1))")).as("syms"))
      .localCheckpoint(false)
    // localize probe, PAYLOAD-FREE (r15 verdict: the old
    // limit(guard+1).collect() shipped up to guard+1 (wc, syms) rows
    // of payload to the driver even when it was about to fall back):
    // one count+bytes aggregate decides; only the localize path then
    // collects the payload, straight from the checkpoint blocks the
    // probe job just materialized. The byte guard keeps a census of
    // few-but-enormous symbol strings distributed too.
    val probeRow = census
      .agg(count(lit(1)).as("n"),
        coalesce(sum(length(col("syms")).cast("long")), lit(0L)).as("chars"))
      .head()
    val (nWords, symChars) = (probeRow.getLong(0), probeRow.getLong(1))
    if (localizeThreshold > 0 && nWords <= localizeThreshold &&
        symChars <= MaxLocalizeChars) {
      val probe = census.collect().map(r => (r.getLong(0), r.getString(1)))
      return bpeLoopLocal(docs.sparkSession, probe, rounds, censusEvery)
    }
    var words = census
    // re-checkpoint cadence: at deep round counts (64+) an unbounded
    // merge chain would make round r's argmax replay r projections
    // (O(r²) total) and grow the analysis-time plan linearly; every 8
    // rounds bounds both
    val checkpointEvery = 8
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val curve = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    for (r <- 1 to rounds) {
      val top = words
        .select(col("wc"), split(col("syms"), "  ").as("a"))
        // single-symbol words have no pairs — and sequence(1, 0)
        // DESCENDS in Spark rather than being empty, so they must
        // leave before the transform
        .filter(size(col("a")) >= 2)
        .select(col("wc"), explode(
          expr("transform(sequence(1, size(a) - 1), i -> struct(a[i-1] AS lhs, a[i] AS rhs))")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("wc")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val (l, rr, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r.toLong, l, rr, c))
        // Column-typed literals, not SQL string interpolation — tokens
        // can contain quotes
        val wrapped = concat(lit(" "), col("syms"), lit(" "))
        val s2 = org.apache.spark.sql.functions.replace(
          wrapped, lit(s" $l  $rr "), lit(s" $l$rr "))
        words = words.select(col("wc"),
          s2.substr(lit(2), length(s2) - 2).as("syms"))
      }
      if (r % checkpointEvery == 0 && r < rounds) words = words.localCheckpoint(false)
      if (censusEvery > 0 && r % censusEvery == 0) {
        // one vocab-sized job: distinct live symbols + encoded length
        val row = words
          .select(col("wc"), explode(split(col("syms"), "  ")).as("symbol"))
          .agg(countDistinct(col("symbol")).cast("long"),
            sum(col("wc")).cast("long"))
          .head()
        curve += ((r.toLong, row.getLong(0), row.getLong(1)))
      }
    }
    (merges.toSeq, words, curve.toSeq)
  }

  /** Driver-side BPE merge loop over a LOCALIZED word census — the
    * fast path of [[bpeLoop]], bit-identical by construction: the
    * same adjacent-pair counting (Σ wc per (lhs, rhs)), the same
    * argmax order (pair_count desc, lhs, rhs — compared in UTF-8
    * bytes, [[utf8Lt]]), and the same wrapped two-space replace
    * (Java's `String.replace` is leftmost non-overlapping
    * continue-after-replacement — exactly Spark's `replace` /
    * UTF8String semantics the distributed loop and the oracle use).
    * 64 rounds over a ≤2²²-row census is microseconds of driver CPU
    * where the distributed loop paid 64 scheduled jobs; the returned
    * word table re-enters Spark as a local DataFrame for the
    * downstream census/encode stages. */
  private def bpeLoopLocal(spark: org.apache.spark.sql.SparkSession,
                           census: Array[(Long, String)], rounds: Int, censusEvery: Int)
      : (Seq[(Long, String, String, Long)], DataFrame, Seq[(Long, Long, Long)]) = {
    var local = census
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val curve = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    for (r <- 1 to rounds) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      local.foreach { case (wc, syms) =>
        val a = syms.split("  ", -1)
        var i = 0
        while (i < a.length - 1) {
          val k = (a(i), a(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + wc)
          i += 1
        }
      }
      if (counts.nonEmpty) {
        val ((l, rr), c) = counts.minBy { case ((lh, rh), cnt) => (-cnt, lh, rh) }(
          Ordering.Tuple3(Ordering.Long, utf8Ordering, utf8Ordering))
        merges += ((r.toLong, l, rr, c))
        val (pat, rep) = (s" $l  $rr ", s" $l$rr ")
        local = local.map { case (wc, syms) =>
          val s2 = (" " + syms + " ").replace(pat, rep)
          (wc, s2.substring(1, s2.length - 1))
        }
      }
      if (censusEvery > 0 && r % censusEvery == 0) {
        val symbols = scala.collection.mutable.HashSet.empty[String]
        var enc = 0L
        local.foreach { case (wc, syms) =>
          val a = syms.split("  ", -1)
          a.foreach(symbols.add)
          enc += wc * a.length
        }
        curve += ((r.toLong, symbols.size.toLong, enc))
      }
    }
    import spark.implicits._
    (merges.toSeq, local.toSeq.toDF("wc", "syms"), curve.toSeq)
  }

  private val utf8Ordering: Ordering[String] =
    (a: String, b: String) => if (utf8Lt(a, b)) -1 else if (utf8Lt(b, a)) 1 else 0

  /** Zipf rank-frequency fit — the corpus-statistics twin of the
    * census queries: OLS of ln(freq) on ln(rank) over the top-`topN`
    * tokens (Zipf's law predicts slope ≈ −1 on natural text; a
    * near-zero slope is itself a synthetic-corpus signal, which makes
    * the fit a useful drift alarm on training mixes).
    *
    * Determinism: the regression runs in FIXED-POINT — ln values are
    * scaled to integer micros before any aggregation, so every sum is
    * exact Long arithmetic (order-free, partial-aggregable) and the
    * final doubles are computed from identical integers on engine and
    * oracle. The usual float-sum-order hazard never arises. Magnitudes:
    * |x6| ≤ ln(topN)·10⁶, so n·Σx6² stays far below 2⁶³ for any sane
    * topN.
    *
    * Scale shape: token census = one uniform-keyed agg with map-side
    * partials; top-N = TakeOrderedAndProject (no global sort); the
    * rank window orders ≤ topN rows. */
  def zipfFit(docs: DataFrame, topN: Int = 30): DataFrame = {
    val census = EmbedOps.tokenize(docs)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(topN)
    val pts = census
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("tok"))))
      .select(
        round(log(col("rank").cast("double")) * 1e6).cast("long").as("x6"),
        round(log(col("n").cast("double")) * 1e6).cast("long").as("y6"))
    pts
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x6")).as("sx"), sum(col("y6")).as("sy"),
        sum(col("x6") * col("y6")).as("sxy"),
        sum(col("x6") * col("x6")).as("sxx"))
      .withColumn("slope_raw",
        (col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .select(col("n_terms"),
        roundn(col("slope_raw"), 6).as("slope"),
        roundn((col("sy").cast("double") / 1e6 -
          col("slope_raw") * col("sx").cast("double") / 1e6) / col("n_terms"), 6)
          .as("intercept"))
  }

  /** Heaps'-law vocabulary-growth fit — [[zipfFit]]'s companion
    * corpus statistic (Heaps '78: V(n) = K·n^β, the sublinear
    * vocabulary growth every tokenizer-vocab and shard-size decision
    * leans on): sample the (cumulative tokens, cumulative vocabulary)
    * curve along the doc_id axis at a GEOMETRIC grid of ≤ `nPoints`
    * prefix boundaries, then fit β and K by the same fixed-point
    * log-log OLS as zipfFit.
    *
    * The curve needs no running window: V(t) is the count of tokens
    * whose FIRST occurrence (min doc_id — one vocab-keyed agg) falls
    * at or before the boundary, T(t) the occurrence mass of docs ≤ t
    * — both are conditional aggregates against a broadcast ≤16-row
    * grid, NOT a global cumulative window over the corpus (the
    * unpartitioned-window shape the engine bans at 100 TB).
    *
    * Determinism: grid boundaries round once from max_doc^(k/n);
    * ln(integer count)·1e6 rounds once per point; OLS sums are exact
    * Long arithmetic (≤16 points × (1.5e7)² products — no overflow);
    * degenerate grids (OLS denominator 0) drop the output row rather
    * than emit NaN.
    *
    * Scale shape: one token-census pass (doc-keyed + vocab-keyed
    * aggs, map-side partials), a ≤16× conditional fan-out against the
    * broadcast grid, and a 1-row OLS. */
  def heapsFit(docs: DataFrame, nPoints: Int = 16): DataFrame = {
    val toks = EmbedOps.tokenize(docs).select(col("doc_id"), col("tok"))
    val grid = docs.agg(max(col("doc_id")).as("max_doc"))
      .select(col("max_doc"),
        explode(sequence(lit(1), lit(nPoints))).as("kk"))
      .select(round(pow(col("max_doc").cast("double"),
        col("kk").cast("double") / lit(nPoints.toDouble))).cast("long").as("t"))
      .distinct()
    val tt = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
      .join(broadcast(grid), col("doc_id") <= col("t"))
      .groupBy(col("t")).agg(sum(col("n_tok")).as("cum_tokens"))
    val vv = toks.groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
      .join(broadcast(grid), col("first_doc") <= col("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("vocab"))
    tt.join(vv, "t")
      .select(
        round(log(col("cum_tokens").cast("double")) * 1e6).cast("long").as("x6"),
        round(log(col("vocab").cast("double")) * 1e6).cast("long").as("y6"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("x6")).as("sx"), sum(col("y6")).as("sy"),
        sum(col("x6") * col("y6")).as("sxy"),
        sum(col("x6") * col("x6")).as("sxx"))
      .filter(col("n_points") * col("sxx") - col("sx") * col("sx") =!= 0L)
      .withColumn("slope_raw",
        (col("n_points") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_points") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("intercept_raw",
        (col("sy").cast("double") / 1e6 -
          col("slope_raw") * col("sx").cast("double") / 1e6) / col("n_points"))
      .select(col("n_points"),
        roundn(col("slope_raw"), 6).as("beta"),
        roundn(col("intercept_raw"), 6).as("intercept"),
        roundn(exp(col("intercept_raw")), 6).as("k_coef"))
  }

  /** PMI word associations — the distributional-statistics pass
    * (Church & Hanks, CL 1990) behind collocation mining, phrase
    * vocabularies, and embedding sanity checks: count co-occurring
    * token pairs within a ±`window` slide, then score each pair by
    * pointwise mutual information ln(c_xy·S / (m_x·m_y)) where S is
    * the total pair mass and m the pair-marginal of each token;
    * report the strongest `topN` associations above a `minCount`
    * support floor.
    *
    * Determinism: counts are exact integers; each count casts to
    * double BEFORE the products (a Long·Long intermediate would wrap
    * or throw past 2^63 at extreme corpus scale, and the two engines
    * disagree on which) — Longs below 2^53 convert exactly and the
    * double product rounds the exact product once, so both engines
    * compute bit-identical ratios; the single ln rounds once to 6
    * decimals with (t1, t2) breaking rank ties.
    *
    * Scale shape: pair generation is MAP-ONLY (zip_with over the
    * per-doc token array against its d-shifted self — no positional
    * self-join, no window function); pairs then hit ONE shuffle (the
    * (t1, t2)-keyed count with map-side partials). Marginals reduce
    * the pair-count table (vocab-scale, far smaller than the pair
    * stream) and broadcast back onto it; S is a 1-row scalar
    * crossJoin. Top-N = TakeOrderedAndProject. */
  def wordPmi(docs: DataFrame, window: Int = 2, minCount: Int = 3,
              topN: Int = 100, maxTokens: Int = 512): DataFrame = {
    val toks = expr(
      s"filter(transform(slice(split(text, ' '), 1, $maxTokens), t -> trim(t)), t -> t <> '')")
    val pairArr = (1 to window).map { d =>
      zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - d, lit(0))),
        slice(col("toks"), lit(1 + d), greatest(size(col("toks")) - d, lit(0))),
        (a, b) => struct(least(a, b).as("t1"), greatest(a, b).as("t2")))
    }
    val pairs = docs
      .select(toks.as("toks"))
      .select(explode(flatten(array(pairArr: _*))).as("p"))
      .select(col("p.t1"), col("p.t2"))
    val counts = pairs.groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("c_xy"))
    val marginals = counts.select(col("t1").as("tok"), col("c_xy"))
      .unionAll(counts.select(col("t2").as("tok"), col("c_xy")))
      .groupBy(col("tok")).agg(sum(col("c_xy")).as("m"))
    val total = counts.agg(sum(col("c_xy")).as("s_total"))
    counts
      .filter(col("c_xy") >= minCount)
      .join(broadcast(marginals.withColumnRenamed("tok", "t1")
        .withColumnRenamed("m", "m_x")), "t1")
      .join(broadcast(marginals.withColumnRenamed("tok", "t2")
        .withColumnRenamed("m", "m_y")), "t2")
      .crossJoin(broadcast(total))
      .withColumn("pmi", roundn(
        log((col("c_xy").cast("double") * col("s_total").cast("double")) /
          (col("m_x").cast("double") * col("m_y").cast("double"))), 6))
      .orderBy(col("pmi").desc, col("t1"), col("t2")).limit(topN)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pmi").desc, col("t1"), col("t2"))).cast("long"))
      .select(col("rank"), col("t1"), col("t2"), col("c_xy"),
        col("m_x"), col("m_y"), col("pmi"))
  }

  /** Sequence-length BUCKETING diagnostic — the batching-efficiency
    * audit behind bucketed training (docs padded to their bucket's
    * capacity; docs past the cap truncate): assign each document to
    * the smallest power-of-two token bucket that holds it (capped),
    * then report per bucket the doc count, used tokens, padded
    * capacity, and the padding-waste fraction — the number a
    * bucket-boundary decision is made on.
    *
    * Determinism: integer token counts through an explicit
    * CASE-chain (no float log2, whose boundary at exact powers of
    * two is an engine-dependent ulp); waste is one rounded integer
    * ratio.
    *
    * Scale shape: map-only token count + bucket assignment over the
    * scan, one bounded (≤10-bucket) agg with map-side partials. */
  def lengthBuckets(docs: DataFrame, cap: Int = 512): DataFrame = {
    val pows = Iterator.iterate(1)(_ * 2).takeWhile(_ <= cap).toSeq
    val n = size(filter(transform(split(col("text"), " "), t => trim(t)), t => t =!= ""))
      .cast("long")
    val bucket = pows.init.reverse.foldLeft(lit(cap.toLong)) {
      case (acc, p) => when(col("n_tok") <= p, lit(p.toLong)).otherwise(acc)
    }
    docs
      .select(n.as("n_tok"))
      .withColumn("bucket", bucket)
      .withColumn("used", least(col("n_tok"), col("bucket")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("used")).as("used_tokens"))
      .withColumn("capacity", col("bucket") * col("n_docs"))
      .withColumn("padding_waste",
        roundn(lit(1.0) - col("used_tokens").cast("double") / col("capacity"), 6))
      .select(col("bucket"), col("n_docs"), col("used_tokens"),
        col("capacity"), col("padding_waste"))
  }

  /** Histogram-CDF percentile of one (doc_id, value) metric —
    * percentile normalization WITHOUT a global sort: a corpus-rank
    * percent_rank() would be one unpartitioned window over every row
    * (the exact shape the engine bans); instead the metric's 64-bin
    * equi-width census (bounded agg, map-side partials — the
    * [[graft.ops.RelationalOps.valueHistogram]] binning contract,
    * same clamps, same expression shape) yields a broadcastable CDF
    * and each row looks its percentile up map-side. 64 levels of
    * resolution is the trade, and it is the 100 TB-correct one —
    * the same histogram-threshold move `dsir_select` makes. */
  private def histPercentile(metric: DataFrame, valueCol: String, outCol: String,
                             nBins: Int): DataFrame = {
    val b = metric.agg(
      roundn(min(col(valueCol)), 6).as("lo"),
      roundn(max(col(valueCol)), 6).as("hi"),
      count(lit(1)).as("n"))
    val binned = metric.crossJoin(broadcast(b))
      .withColumn("bin",
        when(col("hi") === col("lo"), 0L)
          .otherwise(least(lit(nBins - 1).cast("long"),
            greatest(lit(0L),
              floor((col(valueCol) - col("lo")) * nBins / (col("hi") - col("lo")))))))
    val census = binned.groupBy(col("bin")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("bin"), col("cum"))
    binned.join(broadcast(census), "bin")
      .select(col("doc_id"), roundn(col("cum") / col("n"), 6).as(outCol))
  }

  /** Model-signal quality ENSEMBLE — the curation scorer that blends
    * heterogeneous metrics on a common scale: heuristic quality
    * ([[qualityScore]]), LM fluency ([[lmLogprob]]), and length are
    * each percentile-normalized through [[histPercentile]]'s
    * broadcast CDF (no global sort anywhere) and averaged. Blending
    * percentiles instead of raw scores is the standard fix for
    * metrics with incomparable units/heavy tails (FineWeb-style
    * multi-filter ensembles).
    *
    * Scale shape: each metric costs its own bounded censuses; the
    * three percentile lookups are map-side against broadcast 64-row
    * CDFs; the final join keys on uniform doc_id. */
  def qualityBlend(docs: DataFrame, nBins: Int = 64): DataFrame = {
    val pq = histPercentile(
      qualityScore(docs).select(col("doc_id"), col("quality")),
      "quality", "p_quality", nBins)
    val pl = histPercentile(
      lmLogprob(docs).select(col("doc_id"), col("avg_logprob")),
      "avg_logprob", "p_logprob", nBins)
    val pn = histPercentile(
      docs.select(col("doc_id"), col("n_chars").cast("double").as("len_v")),
      "len_v", "p_length", nBins)
    pq.join(pl, "doc_id").join(pn, "doc_id")
      .withColumn("blend",
        roundn((col("p_quality") + col("p_logprob") + col("p_length")) / 3, 6))
      .select(col("doc_id"), col("p_quality"), col("p_logprob"),
        col("p_length"), col("blend"))
  }

  /** DoReMi-shaped domain reweighting (Xie et al., NeurIPS'23 — the
    * excess-loss form, with the corpus-wide unigram LM standing in
    * for the reference model): per source-domain, the average
    * per-token log-probability under the corpus LM; domains scoring
    * WORSE than the corpus average carry positive excess loss and are
    * upweighted exp(α·excess), normalized into a mixture. The
    * reweight-hard-domains step of mixture optimization, runnable
    * entirely in-engine.
    *
    * Determinism: token log-probs are FIXED-POINT integer micros
    * (the zipf_fit discipline), so every per-domain sum is exact
    * integer arithmetic — order-free, partial-aggregable, no
    * per-group ordered fold needed (a vocab-sized orderedSum per
    * domain would collect unboundedly at 100 TB; integer partials
    * shuffle nothing extra). Σ(tf·lp6) accumulates in decimal(38,0)
    * (10^12 tokens × 3·10^7 micros overflows Long). The bounded
    * domain-level exp/normalize folds in source order.
    *
    * Scale shape: tokenize → (doc, tok) tf agg → co-keyed doc_id
    * join for `source` → (source, tok) agg → |sources| rows; the LM
    * table is the vocab census joined back on the token key; the
    * reference loss is the exact sum of the per-domain integer sums
    * (one more bounded agg), scalar-crossJoined back. */
  def domainWeights(docs: DataFrame, alpha: Double = 1.0): DataFrame = {
    import graft.functions.VectorMath.orderedSum
    val tf = EmbedOps.tokenize(docs)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).cast("double").as("total"))
    val lp6 = vocab
      .crossJoin(broadcast(total))
      .select(col("tok"),
        round(log(col("cnt") / col("total")) * 1e6).cast("long").as("lp6"))
    val srcTf = tf
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"), col("tok")).agg(sum(col("tf")).as("tf"))
    val bySrc = srcTf.join(lp6, "tok")
      .groupBy(col("source"))
      .agg(sum(col("tf")).cast("long").as("n_tok"),
        sum(col("tf").cast("decimal(38,0)") * col("lp6")).as("sum_lp6"))
      .withColumn("avg_logprob",
        roundn(col("sum_lp6").cast("double") / (col("n_tok") * 1e6), 6))
    val ref = bySrc.agg(
      (sum(col("sum_lp6")).cast("double") /
        (sum(col("n_tok")).cast("double") * 1e6)).as("ref_raw"))
      .select(roundn(col("ref_raw"), 6).as("ref_avg"))
    val scored = bySrc.crossJoin(broadcast(ref))
      .withColumn("excess",
        roundn(greatest(col("ref_avg") - col("avg_logprob"), lit(0.0)), 6))
      .withColumn("w_raw", exp(lit(alpha) * col("excess")))
    val norm = scored.agg(
      roundn(orderedSum(col("source"), col("w_raw")), 6).as("w_total"))
    scored.crossJoin(broadcast(norm))
      .select(col("source"), col("n_tok"), col("avg_logprob"), col("excess"),
        roundn(col("w_raw") / col("w_total"), 6).as("weight"))
  }

  /** Mutual information between two corpus facets (lang × source) —
    * the mix-design diagnostic: MI ≈ 0 says the facets are
    * independent (sources are language-balanced); high MI says
    * sampling by one facet silently skews the other (the trap a
    * domain-rebalancing step must know about). Emits MI, both
    * entropies, and the normalized MI / √(H_l·H_s) in one row.
    *
    * Determinism: every probability is an integer ratio; each ln term
    * is computed with the same formula on both engines and the
    * bounded cell sums fold in (lang, source) key order
    * ([[graft.functions.VectorMath.orderedSum]]) — no float-sum-order
    * hazard. NMI guards the single-facet corner (H = 0 ⇒ 0).
    *
    * Scale shape: three bounded aggs (|langs|·|sources| cells,
    * map-side partials) + 1-row scalar crossJoins; everything after
    * the counts is arithmetic over a postcard-sized table. */
  def langSourceMi(docs: DataFrame): DataFrame = {
    import graft.functions.VectorMath.orderedSum
    val joint = docs.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_ls"))
    val ml = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
    val ms = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val tot = docs.agg(count(lit(1)).as("n_rows"))
    val mi = joint
      .join(broadcast(ml), "lang").join(broadcast(ms), "source")
      .crossJoin(broadcast(tot))
      .withColumn("term",
        col("n_ls").cast("double") / col("n_rows") *
          log(col("n_ls").cast("double") * col("n_rows") /
            (col("n_l").cast("double") * col("n_s"))))
      .agg(max(col("n_rows")).as("n_rows"), count(lit(1)).as("n_cells"),
        roundn(orderedSum(concat_ws("|", col("lang"), col("source")), col("term")), 6)
          .as("mi"))
    val hl = ml.crossJoin(broadcast(tot))
      .agg(roundn(-orderedSum(col("lang"),
        col("n_l").cast("double") / col("n_rows") *
          log(col("n_l").cast("double") / col("n_rows"))), 6).as("h_lang"))
    val hs = ms.crossJoin(broadcast(tot))
      .agg(roundn(-orderedSum(col("source"),
        col("n_s").cast("double") / col("n_rows") *
          log(col("n_s").cast("double") / col("n_rows"))), 6).as("h_source"))
    mi.crossJoin(broadcast(hl)).crossJoin(broadcast(hs))
      .withColumn("nmi",
        when(col("h_lang") * col("h_source") === 0.0, lit(0.0))
          .otherwise(roundn(col("mi") / sqrt(col("h_lang") * col("h_source")), 6)))
      .select(col("n_rows"), col("n_cells"), col("mi"),
        col("h_lang"), col("h_source"), col("nmi"))
  }

  /** Out-of-vocabulary audit per source: with the vocabulary fixed to
    * the corpus' top-`vocabSize` tokens, the fraction of each
    * source's token stream that falls outside it — the coverage
    * number a tokenizer/vocab decision is made on.
    *
    * Scale shape: the vocabulary is a TakeOrderedAndProject over the
    * uniform token census, then a BROADCAST build side for the
    * membership probe. Self-deriving the vocab costs a second corpus
    * scan (census + probe); a production pipeline feeds a prior
    * census and keeps only the probe scan, which is pure map-side —
    * the only shuffle is the final per-source agg. `source` rides
    * along from the scan, so no docs-side join re-keys the stream. */
  def oovRate(docs: DataFrame, vocabSize: Int = 16, maxTokens: Int = 512): DataFrame = {
    val toks = docs
      .select(col("source"),
        explode(slice(split(col("text"), " "), 1, maxTokens)).as("tok"))
      .withColumn("tok", trim(col("tok")))
      .filter(col("tok") =!= "")
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(true).as("in_vocab"))
    toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        roundn(col("n_oov").cast("double") / col("n_tokens"), 6))
      .select(col("source"), col("n_tokens"), col("n_oov"), col("oov_rate"))
  }

  /** Unicode canonicalization — the cleaning stage a multilingual
    * web corpus runs before ANY hash-keyed operation (exact dedup,
    * shingling, token counts): visually identical strings with
    * different codepoint sequences (decomposed accents) or invisible
    * codepoints (zero-width space/joiners, BOM) hash apart and split
    * duplicate families. The chain: strip zero-width characters by
    * regex, then compose to Unicode NFC via the native
    * [[graft.functions.expressions.NfcNormalize]] expression — a
    * codegen'd static JDK call (Spark has no built-in; a UDF here
    * would break whole-stage codegen for the whole projection).
    *
    * The corpus text is ASCII (NFC is identity there), so a dirty
    * twin is synthesized pure-in-doc_id — combining-acute "cafe",
    * zero-width space, BOM — and the oracle rebuilds it and runs
    * DuckDB's `nfc_normalize` + the same regex: both engines
    * implement UAX #15, so lengths and content match exactly.
    *
    * Map-only, zero shuffles; rides the scan at any scale. */
  def textNormalize(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    // " cafe" + COMBINING ACUTE (U+0301, NFC-composes to é) + ZERO
    // WIDTH SPACE (U+200B) + BOM (U+FEFF) -- escapes only, so no
    // invisible characters live in this source file
    val dirty = concat(col("text"),
      lit(" cafe\u0301"), lit("\u200B"), lit("\uFEFF"))
    val norm = column(graft.functions.expressions.NfcNormalize(expression(
      regexp_replace(dirty, "[\u200B-\u200D\uFEFF]", ""))))
    docs.select(col("doc_id"),
      length(dirty).cast("long").as("n_dirty"),
      length(norm).cast("long").as("n_norm"),
      substring(norm, -4, 4).as("tail"))
  }

  /** Word census behind the WordPiece tier — the same capped
    * tokenize the BPE trainer reads, collapsed to (word, wc) and
    * capped at `maxWordLen` chars (the editDistanceVerify-style
    * bound that keeps the segmentation loop depth fixed). Zipf
    * guarantees this table is vocabulary-sized at any corpus scale —
    * the corpus is scanned once, everything after runs on the
    * census. */
  private def wordpieceCensus(docs: DataFrame, maxWordLen: Int): DataFrame =
    EmbedOps.tokenize(docs)
      .filter(length(col("tok")) <= maxWordLen)
      .select(col("tok").as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))

  /** Candidate subword pieces scored by weighted occurrence: every
    * (start, len 2..maxPieceLen) substring of every census word,
    * weighted by the word's corpus count — a piece that appears
    * twice in one word counts twice. */
  private def wordpiecePieces(words: DataFrame, maxPieceLen: Int): DataFrame =
    words
      .withColumn("s", explode(sequence(lit(1), length(col("word")))))
      .withColumn("l", explode(sequence(lit(2), lit(maxPieceLen))))
      .filter(col("s") + col("l") - lit(1) <= length(col("word")))
      .select(expr("substring(word, s, l)").as("piece"), col("wc"))
      .groupBy(col("piece")).agg(sum(col("wc")).as("score"))

  /** WordPiece-style subword VOCABULARY — the greedy-tokenizer twin
    * of the BPE trainer ([[bpeMerges]]): the top-`vocabSize`
    * multi-char pieces by (weighted occurrence desc, piece asc).
    * maxPieceLen defaults to 4 so longer census words genuinely
    * segment under the declared vocabulary (a whole-word-dominated
    * vocab would make [[wordpieceEncode]] a lookup, not a
    * tokenizer).
    *
    * Scale shape: candidate explosion is census-bounded (≤ maxWordLen
    * × (maxPieceLen−1) rows per DISTINCT word), one piece-keyed agg
    * with map-side partials, top-V = TakeOrderedAndProject; the rank
    * window runs over the V survivors only. */
  def wordpieceVocab(docs: DataFrame, vocabSize: Int = 48, maxPieceLen: Int = 4,
                     maxWordLen: Int = 16): DataFrame = {
    val top = wordpiecePieces(wordpieceCensus(docs, maxWordLen), maxPieceLen)
      .orderBy(col("score").desc, col("piece")).limit(vocabSize)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("piece"))).cast("long"))
      .select(col("rank"), col("piece"), col("score"))
  }

  /** Unigram-LM (SentencePiece-shape) MAX-LIKELIHOOD segmentation —
    * the third tokenizer algorithm next to BPE and greedy WordPiece:
    * each vocab piece carries a unigram log-probability (its weighted
    * occurrence share, in integer MICROS — the [[langIdLearned]]
    * fixed-point recipe, so score sums are exact Long math), and
    * every census word is segmented by VITERBI: dp over positions
    * where dp[j] = max over pieces ending at j of
    * dp[j−len] + log p(piece). Greedy longest-match is a heuristic;
    * this is the optimum it approximates — on vocabularies where a
    * long greedy first piece strands the remainder in single chars,
    * the Viterbi path wins and the two queries' outputs diverge
    * exactly there (the divergence IS the receipt's point).
    *
    * Relational DP: the state set holds ONE best (score, pieces)
    * per (word, pos); each round extends every state through the
    * prefix-match equi-join (the [[wordpieceEncode]] explode) and
    * re-argmaxes per (word, pos) — ties broken (score desc, pieces
    * asc), so the winning PATH is deterministic, not just its score.
    * After ≤ maxWordLen rounds the dp is a fixpoint (longest path in
    * a DAG with ≤ maxWordLen nodes); the oracle replays all 16
    * rounds as unrolled MATERIALIZED stages.
    *
    * Scale shape: census-bounded like wordpieceEncode — states ≤
    * |census| × maxWordLen rows, vocab broadcasts, every round one
    * generate + broadcast equi-join + (word, pos)-keyed argmax. */
  def unigramEncode(docs: DataFrame, vocabSize: Int = 48, maxPieceLen: Int = 4,
                    maxWordLen: Int = 16, topWords: Int = 200): DataFrame = {
    val words = wordpieceCensus(docs, maxWordLen).localCheckpoint(false)
    unigramViterbi(words, unigramModelOf(words, vocabSize), maxPieceLen, maxWordLen)
      .join(words, "word")
      .orderBy(col("wc").desc, col("word")).limit(topWords)
      .select(col("word"), col("wc"),
        size(split(col("pieces"), " ")).cast("long").as("n_pieces"),
        col("pieces"), col("score_mu"))
  }

  /** The unigram-LM tokenizer AS AN ARTIFACT — (piece, w_mu) integer-
    * micro log-probs over the top-V multi-char pieces ∪ the single-
    * char floor: the table a production pipeline persists after the
    * census spend (exact Longs, so the parquet round-trip is
    * bit-identical and reload ≡ retrain is pinnable). */
  def unigramModel(docs: DataFrame, vocabSize: Int = 48, maxPieceLen: Int = 4,
                   maxWordLen: Int = 16): DataFrame =
    unigramModelOf(wordpieceCensus(docs, maxWordLen).localCheckpoint(false),
      vocabSize, maxPieceLen)

  private def unigramModelOf(words: DataFrame, vocabSize: Int = 48,
                             maxPieceLen: Int = 4): DataFrame = {
    val micro = (c: Column) => round(c * 1000000).cast("long")
    val multi = wordpiecePieces(words, maxPieceLen)
      .orderBy(col("score").desc, col("piece")).limit(vocabSize)
    val chars = words
      .withColumn("s", explode(sequence(lit(1), length(col("word")))))
      .select(expr("substring(word, s, 1)").as("piece"), col("wc"))
      .groupBy(col("piece")).agg(sum(col("wc")).as("score"))
    val scored = multi.unionByName(chars)
    scored
      .crossJoin(broadcast(scored.agg(sum(col("score")).as("tot"))))
      .select(col("piece"),
        micro(log(col("score").cast("double") / col("tot").cast("double"))).as("w_mu"))
  }

  /** The Viterbi apply half against a (possibly reloaded) model —
    * the bounded-sample re-answer a persisted artifact uses: only the
    * `topWords` most frequent census words run the dp (segmentation
    * is per-word independent, so the restriction commutes with the
    * full-census dp — the oracle computes full-census-then-limit). */
  def unigramEncodeFromModel(docs: DataFrame, model: DataFrame, topWords: Int = 16,
                             maxPieceLen: Int = 4, maxWordLen: Int = 16,
                             maxSampleLen: Int = 8): DataFrame = {
    // the sample is ALSO length-bounded: dp depth = longest sampled
    // word, so capping at 8 chars halves the round count vs the
    // 16-char census cap — the re-answer stays a real Viterbi replay
    val words = wordpieceCensus(docs, maxWordLen)
      .filter(length(col("word")) <= maxSampleLen)
      .orderBy(col("wc").desc, col("word")).limit(topWords)
      .localCheckpoint(false)
    unigramViterbi(words, model, maxPieceLen, maxWordLen)
      .join(words, "word")
      .orderBy(col("wc").desc, col("word"))
      .select(col("word"), col("wc"),
        size(split(col("pieces"), " ")).cast("long").as("n_pieces"),
        col("pieces"), col("score_mu"))
  }

  /** Candidate (start, plen[, weight]) matches per census word — the
    * shared front half of both segmenter kernels: explode every
    * ≤ maxPieceLen substring start, equi-join the broadcast vocab,
    * and fold the survivors back into ONE array per word. Everything
    * downstream is then per-row arithmetic — the DP / greedy walk
    * never shuffles again (r15 optimization; the former per-round
    * relaxation loops paid a window exchange + checkpoint per round,
    * all fixed cost on a census-bounded table). */
  private def pieceMatches(words: DataFrame, vocab: DataFrame,
                           maxPieceLen: Int, withWeight: Boolean): DataFrame = {
    val cand = words.select(col("word"))
      .withColumn("s", explode(sequence(lit(1), length(col("word")))))
      .withColumn("plen", explode(sequence(lit(1), lit(maxPieceLen))))
      .filter(col("s") + col("plen") - 1 <= length(col("word")))
      .withColumn("cand", expr("substring(word, s, plen)"))
      .join(broadcast(vocab), col("cand") === col("piece"))
    val m =
      if (withWeight) struct(col("s"), col("plen"), col("w_mu"))
      else struct(col("s"), col("plen"))
    cand.groupBy(col("word")).agg(collect_list(m).as("ms"))
  }

  /** The dp shared by [[unigramEncode]] and
    * [[unigramEncodeFromModel]]: Viterbi over the segmentation DAG as
    * ONE per-word array fold — dp[j] = best (score desc, pieces asc)
    * over pieces ending at j, exactly the fixpoint the former
    * per-(word, pos) relaxation rounds reached (within a position,
    * two segmentations of the same prefix always differ strictly
    * before either string ends, so the pieces-asc tie-break commutes
    * with extension and prefix-optimal DP is safe). Matches arrive
    * as an UNORDERED array (collect_list) — the fold only filters by
    * end position and array_sorts the candidate structs, both
    * order-insensitive, so the plan is deterministic. Unreachable
    * positions carry a NULL pieces marker; words whose full length
    * is unreachable emit nothing, as before. */
  private def unigramViterbi(words: DataFrame, model: DataFrame,
                             maxPieceLen: Int, maxWordLen: Int): DataFrame = {
    // dp element: (ns = -score_mu, pieces); array_sort ranks ns asc
    // (= score desc) then pieces asc — the declared tie order
    val sep = "CASE WHEN p.pieces = '' THEN '' ELSE ' ' END"
    val prev = s"element_at(dp, j - m.plen + 1)"
    val dp = expr(
      s"""aggregate(
         |  sequence(1, length(word)),
         |  array(named_struct('ns', 0L, 'pieces', '')),
         |  (dp, j) -> dp || array(get(array_sort(transform(
         |      filter(ms, m -> m.s = j - m.plen + 1
         |                      AND $prev.pieces IS NOT NULL),
         |      m -> transform(array($prev), p -> named_struct(
         |        'ns', p.ns - m.w_mu,
         |        'pieces', concat(p.pieces, $sep,
         |                         substring(word, j - m.plen + 1, m.plen))))[0])), 0)),
         |  dp -> element_at(dp, length(word) + 1))""".stripMargin)
    pieceMatches(words, model.localCheckpoint(false), maxPieceLen, withWeight = true)
      .withColumn("_dp", dp)
      .filter(col("_dp.pieces").isNotNull)
      .select(col("word"), length(col("word")).as("pos"),
        col("_dp.pieces").as("pieces"), (-col("_dp.ns")).as("score_mu"))
  }

  /** Tokenizer FERTILITY comparison — the number a tokenizer review
    * actually decides on: corpus-weighted pieces per word occurrence
    * (Σ wc·n_pieces / Σ wc) for the greedy WordPiece and the Viterbi
    * unigram segmenters over the SAME vocabulary. The two columns
    * agree wherever greedy already finds a max-likelihood path and
    * diverge exactly on the stranding cases the unigram spec pins
    * (note Viterbi optimizes LIKELIHOOD, not piece count — it may
    * pick more pieces when several frequent short pieces outscore
    * one rare long one, so neither column dominates by
    * construction; the comparison is the point). One row per
    * algorithm — the capstone receipt over the tokenizer triad
    * (BPE's fertility lives in `bpe_tokenize`'s per-doc ratio). */
  def tokenizerFertility(docs: DataFrame, vocabSize: Int = 48,
                         maxPieceLen: Int = 4, maxWordLen: Int = 16): DataFrame = {
    def row(name: String, enc: DataFrame): DataFrame =
      enc.agg(
        count(lit(1)).as("n_words"),
        sum(col("wc")).cast("long").as("n_occurrences"),
        sum(col("wc") * col("n_pieces")).cast("long").as("n_pieces_total"))
        .withColumn("algorithm", lit(name))
        .withColumn("fertility",
          roundn(col("n_pieces_total").cast("double") / col("n_occurrences"), 6))
        .select(col("algorithm"), col("n_words"), col("n_occurrences"),
          col("n_pieces_total"), col("fertility"))
    // ONE census shared by both dp chains — the corpus-wide
    // tokenize+agg is the only data-sized stage in this query, and
    // running wordpieceEncode + unigramEncode as black boxes paid it
    // twice (r12 verdict watch item: fertility drifted to ~2× the
    // chains' intrinsic cost; half of that was the duplicated census)
    val words = wordpieceCensus(docs, maxWordLen).localCheckpoint(false)
    val wp = wordpieceGreedy(words,
        wordpieceModelOf(words, vocabSize, maxPieceLen).select(col("piece")).distinct(),
        maxPieceLen)
      .join(words, "word")
      .select(col("word"), col("wc"), col("n_pieces"))
    val ug = unigramViterbi(words, unigramModelOf(words, vocabSize, maxPieceLen),
        maxPieceLen, maxWordLen)
      .join(words, "word")
      .select(col("word"), col("wc"),
        size(split(col("pieces"), " ")).cast("long").as("n_pieces"))
    row("wordpiece_greedy", wp).unionByName(row("unigram_viterbi", ug))
  }

  /** The WordPiece vocabulary APPLIED: greedy longest-match
    * segmentation of every census word under the top-V multi-char
    * pieces ∪ all single chars (the completeness floor — greedy can
    * never stall because every character is itself a piece, the
    * standard WordPiece guarantee). Each round matches the LONGEST
    * vocab piece prefixing the word at the current position via an
    * EQUI-join: the frontier explodes its ≤ maxPieceLen candidate
    * prefixes, joins the broadcast vocab on the piece string, and a
    * per-word argmax keeps the longest — no theta join, no UDF. The
    * loop is bounded by maxWordLen rounds (worst case one char per
    * round) and the frontier SHRINKS as words finish; the oracle
    * replays all 16 rounds as unrolled SQL stages, so the greedy
    * path itself — not just the final counts — is pinned.
    *
    * Output: (word, wc, n_pieces, pieces) for the `topWords` most
    * frequent words — the segmentation audit a tokenizer review
    * reads (compare n_pieces against [[bpeTokenize]]'s n_bpe_tokens
    * for the BPE-vs-WordPiece fertility comparison).
    *
    * Scale shape: the loop runs on the CENSUS (vocabulary-sized,
    * Zipf-bounded), not the corpus; the vocab (V + alphabet rows)
    * broadcasts; each round is one codegen'd generate + broadcast
    * equi-join + |word|-bounded argmax window; driver state is zero
    * (no collect anywhere — the early-exit probe is an isEmpty on a
    * shrinking census-bounded table). */
  def wordpieceEncode(docs: DataFrame, vocabSize: Int = 48, maxPieceLen: Int = 4,
                      maxWordLen: Int = 16, topWords: Int = 200): DataFrame = {
    val words = wordpieceCensus(docs, maxWordLen).localCheckpoint(false)
    val vocab = wordpieceModelOf(words, vocabSize, maxPieceLen)
      .select(col("piece")).distinct()
    wordpieceGreedy(words, vocab, maxPieceLen)
      .join(words, "word")
      .orderBy(col("wc").desc, col("word")).limit(topWords)
      .select(col("word"), col("wc"), col("n_pieces"), col("pieces"))
  }

  /** The WordPiece tokenizer AS AN ARTIFACT — the table a production
    * pipeline persists and ships: kind 'm' = the top-V multi-char
    * pieces with their (score, rank), kind 'c' = the single-char
    * completeness floor (score/rank 0). Exact Longs + strings, so the
    * parquet round-trip is bit-identical — reload ≡ retrain pinnable
    * by hashing every row. */
  def wordpieceModel(docs: DataFrame, vocabSize: Int = 48, maxPieceLen: Int = 4,
                     maxWordLen: Int = 16): DataFrame =
    wordpieceModelOf(wordpieceCensus(docs, maxWordLen).localCheckpoint(false),
      vocabSize, maxPieceLen)

  private def wordpieceModelOf(words: DataFrame, vocabSize: Int,
                               maxPieceLen: Int): DataFrame = {
    // top-V first (TakeOrderedAndProject — never a global window over
    // the whole piece census), then rank the V survivors only
    val multi = wordpiecePieces(words, maxPieceLen)
      .orderBy(col("score").desc, col("piece")).limit(vocabSize)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("piece"))).cast("long"))
      .select(lit("m").as("kind"), col("piece"), col("score"), col("rank"))
    val chars = words
      .withColumn("s", explode(sequence(lit(1), length(col("word")))))
      .select(expr("substring(word, s, 1)").as("piece")).distinct()
      .select(lit("c").as("kind"), col("piece"),
        lit(0L).as("score"), lit(0L).as("rank"))
    multi.unionByName(chars)
  }

  /** The greedy apply half against a (possibly reloaded) model — the
    * bounded-sample re-answer a persisted artifact uses: only the
    * `topWords` most frequent census words run the greedy loop
    * (per-word independent, so the restriction commutes with the
    * full-census encode — the oracle computes full-then-limit). */
  def wordpieceEncodeFromModel(docs: DataFrame, model: DataFrame, topWords: Int = 16,
                               maxPieceLen: Int = 4, maxWordLen: Int = 16,
                               maxSampleLen: Int = 8): DataFrame = {
    // length-bounded sample (see unigramEncodeFromModel): greedy
    // needs ≤ maxSampleLen rounds, so run them FIXED with no
    // per-round isEmpty probe — each probe is a driver job, and on a
    // 16-word frontier the probes cost more than the spared rounds
    val words = wordpieceCensus(docs, maxWordLen)
      .filter(length(col("word")) <= maxSampleLen)
      .orderBy(col("wc").desc, col("word")).limit(topWords)
      .localCheckpoint(false)
    wordpieceGreedy(words, model.select(col("piece")).distinct(), maxPieceLen)
      .join(words, "word")
      .orderBy(col("wc").desc, col("word"))
      .select(col("word"), col("wc"), col("n_pieces"), col("pieces"))
  }

  /** The greedy longest-match loop shared by [[wordpieceEncode]] and
    * [[wordpieceEncodeFromModel]]. */
  private def wordpieceGreedy(words: DataFrame, pieceVocab: DataFrame,
                              maxPieceLen: Int): DataFrame = {
    // greedy longest-match as ONE per-word fold over the matched
    // (start, plen) array (r15 optimization — the former frontier
    // loop paid a window exchange + periodic checkpoint per consumed
    // piece, all fixed cost on a census-bounded table): the walk
    // advances by the LONGEST piece matching at the current position
    // (array_max over the order-insensitive matches array), exactly
    // the old plen-desc argmax; a position with no match strands the
    // word (NULL pos marker), which then never equals length(word) —
    // the old never-enters-done behavior. ≤ length(word) iterations
    // suffice (≥1 char consumed per step; finished/stranded states
    // pass through unchanged).
    val step = expr(
      """aggregate(
        |  sequence(1, length(word)),
        |  named_struct('pos', 0, 'pieces', '', 'n_pieces', 0L),
        |  (a, i) -> CASE WHEN a.pos IS NULL OR a.pos >= length(word) THEN a
        |    ELSE transform(
        |      array(array_max(transform(filter(ms, m -> m.s = a.pos + 1),
        |                                m -> m.plen))),
        |      b -> CASE WHEN b IS NULL
        |        THEN named_struct('pos', CAST(NULL AS INT),
        |                          'pieces', a.pieces, 'n_pieces', a.n_pieces)
        |        ELSE named_struct('pos', a.pos + b,
        |          'pieces', concat(a.pieces,
        |                           CASE WHEN a.pieces = '' THEN '' ELSE ' ' END,
        |                           substring(word, a.pos + 1, b)),
        |          'n_pieces', a.n_pieces + 1L) END)[0] END)""".stripMargin)
    pieceMatches(words, pieceVocab.localCheckpoint(false), maxPieceLen,
        withWeight = false)
      .withColumn("_st", step)
      .filter(col("_st.pos") === length(col("word")))
      .select(col("word"), col("_st.pos").as("pos"),
        col("_st.pieces").as("pieces"), col("_st.n_pieces").as("n_pieces"))
  }
  /** TextRank keyword extraction (Mihalcea & Tarau '04) — the
    * GRAPH-centrality member of the keyword family
    * ([[graft.ops.KeywordOps]] ranks by tf·idf; this ranks by
    * co-occurrence topology): words are nodes, ±`window` co-occurrence
    * (count ≥ `minCount`, self-pairs dropped) are edges, and
    * [[graft.ops.DedupOps.pageRank]] — the SAME kernel the near-dup
    * graph uses, ids are type-agnostic — scores centrality over 3
    * unrolled rounds. A word that bridges many contexts outranks a
    * merely frequent one; the spec pins exactly that separation.
    *
    * Determinism: pair generation is [[wordPmi]]'s map-only zip_with
    * (no positional self-join); the PR rounds round once per node per
    * round with src-ordered folds; the top-k cut orders by
    * (score desc, word) — a total order on the 6dp grid.
    *
    * Scale shape: the graph is vocab-bounded (pairs pruned at
    * minCount), orders of magnitude smaller than the token stream;
    * each PR round is one edge⋈score equi-join + a dst-keyed fold. */
  def textrankKeywords(docs: DataFrame, window: Int = 2, minCount: Long = 2,
                       iters: Int = 3, k: Int = 20,
                       maxTokens: Int = 512): DataFrame = {
    val toks = expr(
      s"filter(transform(slice(split(text, ' '), 1, $maxTokens), t -> trim(t)), t -> t <> '')")
    val pairArr = (1 to window).map { d =>
      zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - d, lit(0))),
        slice(col("toks"), lit(1 + d), greatest(size(col("toks")) - d, lit(0))),
        (a, b) => struct(least(a, b).as("t1"), greatest(a, b).as("t2")))
    }
    val edges = docs
      .select(toks.as("toks"))
      .select(explode(flatten(array(pairArr: _*))).as("p"))
      .select(col("p.t1"), col("p.t2"))
      .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount && col("t1") =!= col("t2"))
      .select(col("t1").as("a_id"), col("t2").as("b_id"))
    graft.ops.DedupOps.pageRank(edges, iters)
      .orderBy(col("pagerank").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pagerank").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id").as("word"),
        col("pagerank").as("score"))
  }

  /** Flesch–Kincaid readability — the grade-level curation signal
    * beside [[qualityScore]]'s ratio gate and [[charEntropy]]'s junk
    * gate (readability bands are a standard pretraining-mix feature:
    * children's text, encyclopedic text, and legal text separate
    * cleanly on FK grade). Published FK needs a syllable counter; the
    * engine's is the DETERMINISTIC vowel-group heuristic — syllables
    * of a word = max(1, number of `[aeiouy]+` runs) — stated as the
    * contract rather than approximating a dictionary (no silent-e or
    * diphthong carve-outs: both engines replay the same arithmetic).
    *
    * Lowercasing contract (the [[encodingAudit]] BMP caveat's twin):
    * the word census lowercases via Spark `lower()`, which is
    * locale-dependent JVM `String.toLowerCase` for non-ASCII code
    * points ('İ' → 'i' + combining dot; Turkish-locale 'I' → 'ı'),
    * while DuckDB's `lower()` is locale-independent utf8proc — the
    * declared domain is ASCII-letter words under a root-locale JVM
    * (the engine's test and driver environment); a non-ASCII corpus
    * or non-root default locale can shift `[a-z]+` word counts
    * cross-engine and is outside this operator's contract.
    *
    * Definitions (all pinned): words = `[a-z]+` runs of the
    * lowercased text (digits/punctuation never form words);
    * sentences = `[.!?]+` runs, floored at 1 so punctuation-free text
    * is one sentence, not a division by zero; zero-word docs emit NO
    * row (a wordless text has no readability — the [[charEntropy]]
    * empty-doc convention). Ratios round to 6dp BEFORE entering the
    * published linear forms (grade 0.39·wps + 11.8·spw − 15.59, ease
    * 206.835 − 1.015·wps − 84.6·spw), which round once at the end —
    * the one-rounding-per-division discipline.
    *
    * Scale shape: pure map-side — two regexp censuses and one
    * bounded per-row array fold; no shuffle at all (the plan is a
    * single WholeStageCodegen over the scan). */
  def readabilityScore(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)).as("ws"),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
          .cast("long").as("n_sent_raw"))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .filter(col("n_words") > 0)
      .withColumn("n_syllables",
        aggregate(
          transform(col("ws"), w =>
            greatest(size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))), lit(1))),
          lit(0L), (acc, x) => acc + x.cast("long")))
      .withColumn("n_sentences", greatest(col("n_sent_raw"), lit(1L)))
      .withColumn("wps", roundn(col("n_words") / col("n_sentences"), 6))
      .withColumn("spw", roundn(col("n_syllables") / col("n_words"), 6))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        roundn(lit(0.39) * col("wps") + lit(11.8) * col("spw") - lit(15.59), 6)
          .as("fk_grade"),
        roundn(lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"), 6)
          .as("reading_ease"))

  /** Per-source encoding/charset audit — the mojibake screen a web
    * corpus runs before anything downstream trusts the text: counts
    * of U+FFFD replacement characters (the scar a broken decode
    * leaves), C0 control characters outside whitespace (binary
    * spillage), and non-ASCII code units, plus the whitespace ratio
    * (layout-dump pages are mostly whitespace). A source whose
    * replacement-char count is nonzero shipped bytes through the
    * wrong decoder; the audit localizes WHICH source, which is the
    * actionable unit (re-crawl/re-decode per source, not per doc).
    *
    * Counting contract: each census is `char_length(text) −
    * char_length(regexp_replace(text, class, ''))` — occurrence
    * counts in UTF-16 code units (the [[charEntropy]] BMP
    * convention; astral chars count as two units on both engines
    * reading the same UTF-8 bytes only if one side decodes to code
    * points — the oracle counts code POINTS, so the audit's declared
    * domain is BMP text, which the fixture satisfies and the spec
    * exercises). Ratios divide exact integer sums once, 6dp.
    *
    * Scale shape: map-side per-doc counters folded by one
    * source-keyed agg (|sources|-bounded output); no windows, no
    * joins. Zero counts in the clean fixture are the PINNED
    * contract — the audit proves cleanliness, the spec proves the
    * counters fire on dirty text. */
  def encodingAudit(docs: DataFrame): DataFrame = {
    def cnt(cls: String): Column =
      (char_length(col("text")) -
        char_length(regexp_replace(col("text"), cls, ""))).cast("long")
    docs
      .select(col("source"),
        char_length(col("text")).cast("long").as("nc"),
        cnt("[\uFFFD]").as("n_repl"),
        cnt("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]").as("n_ctl"),
        cnt("[^\\x00-\\x7F]").as("n_nonascii"),
        cnt("[ \\t\\n\\r]").as("n_ws"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"),
        sum(col("n_repl")).as("n_replacement"),
        sum(col("n_ctl")).as("n_control"),
        sum(col("n_nonascii")).as("n_non_ascii"),
        sum(col("n_ws")).as("n_whitespace"))
      .filter(col("n_chars") > 0)
      .withColumn("ws_ratio", roundn(col("n_whitespace") / col("n_chars"), 6))
      .withColumn("ascii_ratio",
        roundn((col("n_chars") - col("n_non_ascii")) / col("n_chars"), 6))
  }

  /** Per-source SCORECARD — the keep/drop decision table a curation
    * pipeline maintains over its ingest feeds (the per-doc gates
    * [[qualityScore]]/[[redactPii]]/exact-dup answer "is this DOC
    * good"; the operational question is "is this SOURCE worth
    * crawling", and that is a per-source roll-up of exactly those
    * signals): mean quality, exact-duplicate ratio (a mirror site
    * shows up as a source whose docs are mostly copies), and PII
    * incidence, with the keep gate on the ROUNDED values (the
    * [[gopherRules]] threshold discipline).
    *
    * Contracts: mean quality averages integer-milli grid values over
    * the docs that HAVE a quality row (token-less docs have no
    * quality — the [[charEntropy]] empty-doc rule — but still count
    * in n_docs and the ratios); a source with zero scored docs gets a
    * null mean and keep = false explicitly.
    *
    * Scale shape: one tokenize-agg (quality), one sha census
    * (uniform keys by construction), one map-side PII projection —
    * all joined on uniform doc_id/hash keys, collapsed to |sources|
    * rows. */
  def sourceScorecard(docs: DataFrame): DataFrame = {
    val q = qualityScore(docs)
      .select(col("doc_id"), round(col("quality") * 1000).cast("long").as("q_milli"))
    val hs = docs.select(col("doc_id"), col("source"), sha2(col("text"), 256).as("h"))
    val hc = hs.groupBy(col("h")).agg(count(lit(1)).as("hcnt"))
    val pii = redactPii(docs)
      .select(col("doc_id"),
        ((col("n_emails") + col("n_phones")) > 0).cast("long").as("pii_flag"))
    hs.join(hc, "h")
      .join(q, Seq("doc_id"), "left")
      .join(pii, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hcnt") > 1, 1L).otherwise(0L)).as("n_dup"),
        sum(col("pii_flag")).as("n_pii"),
        count(col("q_milli")).as("n_scored"),
        sum(coalesce(col("q_milli"), lit(0L))).as("q_sum"))
      .withColumn("mean_quality",
        when(col("n_scored") > 0,
          roundn(col("q_sum") / (col("n_scored").cast("double") * 1000.0), 6)))
      .withColumn("dup_ratio", roundn(col("n_dup") / col("n_docs"), 6))
      .withColumn("pii_ratio", roundn(col("n_pii") / col("n_docs"), 6))
      .withColumn("keep",
        coalesce(col("mean_quality") >= 0.5, lit(false)) && col("dup_ratio") <= 0.5)
      .select(col("source"), col("n_docs"), col("n_dup"), col("n_pii"),
        col("mean_quality"), col("dup_ratio"), col("pii_ratio"), col("keep"))
  }

  /** Token-budget mixing PLAN — the Chinchilla-style data-budgeting
    * step between [[domainTemperature]]'s sampling distribution and
    * an actual training run: given a total token budget, each
    * domain's allocation is budget·wᵢ (the T=2 temperature weight
    * over TOKEN shares, not doc shares — long documents carry their
    * real mass), and epochsᵢ = allocation / available prices the
    * repetition each domain will see (epochs > 1 = the domain is
    * oversampled and will repeat — the signal that decides whether
    * to crawl more of it or lower its temperature boost).
    *
    * Determinism: token counts are exact integers; share/weight
    * follow [[domainTemperature]]'s rounding recipe verbatim;
    * allocation rounds once onto the integer grid; epochs are exact
    * integer millis via `div` (floor — both engines truncate
    * non-negative quotients identically).
    *
    * Scale shape: one lang-keyed token agg collapses the corpus;
    * everything after is |domains|-row arithmetic with 1-row
    * broadcast scalars. */
  def tokenBudgetPlan(docs: DataFrame, budget: Long = 1000000L): DataFrame = {
    val counts = docs.groupBy(col("lang"))
      .agg(sum(wsTokenCount(col("text"))).as("n_tokens"))
    val tot = counts.agg(sum(col("n_tokens")).cast("double").as("n_tot"))
    val shared = counts.crossJoin(broadcast(tot))
      .withColumn("share", roundn(col("n_tokens") / col("n_tot"), 6))
      .withColumn("w_raw", sqrt(col("share")))
    val denom = shared.agg(
      graft.functions.VectorMath.orderedSum(col("lang"), col("w_raw")).as("den"))
    shared.crossJoin(broadcast(denom))
      .withColumn("weight", roundn(col("w_raw") / col("den"), 6))
      .withColumn("alloc_tokens", round(col("weight") * budget).cast("long"))
      .withColumn("epochs_milli", expr("(alloc_tokens * 1000L) div n_tokens"))
      .select(col("lang"), col("n_tokens"), col("share"), col("weight"),
        col("alloc_tokens"), col("epochs_milli"),
        (col("epochs_milli") > 1000L).as("oversampled"))
  }

  /** Inter-rater agreement between the engine's three quality gates —
    * Cohen's κ per scorer pair (heuristic [[qualityScore]] ≥ 0.5,
    * [[gopherRules]]' conjunctive pass, the trained
    * [[ClassifierOps.qualityClassifier]] ≥ 0.5). The curation
    * diagnostic the quality tier ships without: raw agreement (po)
    * overstates consensus when both gates pass almost everything; κ
    * subtracts the chance floor, so κ ≈ 0 says the scorers share a
    * base rate but not a ranking — running both adds nothing — while
    * κ ≈ 1 says one gate is redundant. Either answer changes which
    * filters a 100 TB pipeline actually runs.
    *
    * Determinism: keep flags compare INTEGER MICROS against 500000
    * (the quality_classifier `predicted` convention); κ =
    * (n·A − C₂)/(n² − C₂) is ONE double division of two exact Long
    * products (C₂ = yes·yes + no·no chance matches), rounded once;
    * the degenerate n² = C₂ case (a constant rater) emits 0.0 by
    * definition — agreement indistinguishable from chance.
    *
    * Scale shape: three doc-keyed scorer plans (each already proven
    * at scale) inner-joined on doc_id (co-keyed, uniform), ONE
    * corpus-collapsing agg carrying all six pairwise counters as
    * map-side partials, then a 3-row stack. */
  def qualityKappa(docs: DataFrame): DataFrame = {
    val h = qualityScore(docs).select(col("doc_id"),
      (round(col("quality") * 1e6).cast("long") >= 500000L).as("h"))
    val g = gopherRules(docs).select(col("doc_id"), col("passes").as("g"))
    val c = ClassifierOps.qualityClassifier(docs).select(col("doc_id"),
      (round(col("score") * 1e6).cast("long") >= 500000L).as("c"))
    h.join(g, "doc_id").join(c, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("h"), 1L).otherwise(0L)).as("yh"),
        sum(when(col("g"), 1L).otherwise(0L)).as("yg"),
        sum(when(col("c"), 1L).otherwise(0L)).as("yc"),
        sum(when(col("h") === col("g"), 1L).otherwise(0L)).as("a_hg"),
        sum(when(col("h") === col("c"), 1L).otherwise(0L)).as("a_hc"),
        sum(when(col("g") === col("c"), 1L).otherwise(0L)).as("a_gc"))
      .select(col("n_docs"), expr(
        """stack(3,
          |  'heuristic', 'gopher', yh, yg, a_hg,
          |  'heuristic', 'classifier', yh, yc, a_hc,
          |  'gopher', 'classifier', yg, yc, a_gc)
          |AS (rater_a, rater_b, n_yes_a, n_yes_b, n_agree)""".stripMargin))
      // decimal(38,0) products: n² overflows Long already at ~3·10⁹
      // docs — the 100 TB doc count — so the chance terms accumulate
      // in exact decimals and only the final quotient is a double
      .withColumn("chance2",
        col("n_yes_a").cast("decimal(38,0)") * col("n_yes_b") +
          (col("n_docs") - col("n_yes_a")).cast("decimal(38,0)") *
            (col("n_docs") - col("n_yes_b")))
      .withColumn("nn", col("n_docs").cast("decimal(38,0)") * col("n_docs"))
      .withColumn("kappa",
        when(col("nn") === col("chance2"), lit(0.0))
          .otherwise(roundn(
            (col("n_docs").cast("decimal(38,0)") * col("n_agree") - col("chance2"))
              .cast("double") /
              (col("nn") - col("chance2")).cast("double"), 6)))
      .select(col("rater_a"), col("rater_b"), col("n_docs"), col("n_agree"),
        col("n_yes_a"), col("n_yes_b"), col("kappa"))
  }

  /** Data-scaling-law receipt (Hestness '17 / Kaplan '20 form, the
    * Chinchilla §3 data axis): held-out cross-entropy of a
    * Laplace-smoothed unigram LM trained on NESTED doubling subsets
    * of the corpus, then L(N) = E + A·N^(−α) fitted over an α grid —
    * "how much does the next doubling of data buy" as one measured
    * curve instead of a citation. The receipt a token-budget /
    * crawl-more decision ([[tokenBudgetPlan]]) leans on: a flat curve
    * says more of THIS corpus is not worth crawling.
    *
    * Subsets nest by doc-hash bucket (%16: buckets 8–15 are the
    * held-out half; train level l covers buckets < 2^(l−1), so each
    * level doubles the previous and the membership predicate is a
    * pure doc_id hash — no sampling state, replayable by the oracle).
    * A train doc's MIN level is a map-side expression, so per-level
    * counts come from ONE (tok, min_level) census cumulated across
    * the 4-row level grid — the corpus is tokenized and aggregated
    * once, never once per level.
    *
    * Determinism: per-(tok, level) log-probs are integer micros (the
    * [[zipfFit]] fixed-point discipline); Σ tf·lp6 accumulates in
    * decimal(38,0) (the [[domainWeights]] overflow bound); the
    * per-level loss is an exact positive integer `div`; the α-grid
    * fit uses exact Long moments per α (order-free integer sums — no
    * float-sum-order hazard), doubles appear only in the final
    * closed-form slope/intercept/SSE computed from identical
    * integers on both engines; argmin tie-breaks on smaller α.
    *
    * Scale shape: tokenize → one uniform (tok, min_level) census →
    * vocab-sized joins against a broadcast 4-row level grid (the
    * inequality join is a 4-row broadcast BNL, bounded by
    * declaration) → |held vocab|·4 scoring rows → 4-point fit × 20
    * α's = 80 bounded rows. Nothing after the census is
    * corpus-sized; at 100 TB the census is the same shape as every
    * other vocab census in the engine. */
  def scalingCurve(docs: DataFrame): DataFrame = {
    // the 4-level doubling ladder is STRUCTURAL (the %16 split and the
    // bucket→min-level map below encode it); a level-count parameter
    // would be half-wired — wrong silently for any other value
    val spark = docs.sparkSession
    val bkt = graft.functions.PortableHash.bucket(
      concat(lit("scl:"), col("doc_id").cast("string")), 16)
    val base = EmbedOps.tokenize(docs).withColumn("bkt", bkt)
    // min level: bucket 0 → 1, 1 → 2, 2–3 → 3, 4–7 → 4 (held: 8–15)
    val train = base.filter(col("bkt") < 8)
      .withColumn("ml",
        when(col("bkt") < 1, 1L).when(col("bkt") < 2, 2L)
          .when(col("bkt") < 4, 3L).otherwise(4L))
    val cnt = train.groupBy(col("tok"), col("ml"))
      .agg(count(lit(1)).as("c")).localCheckpoint(false)
    val grid = spark.range(1, 5).select(col("id").as("l"))
    val levelCnt = cnt.join(broadcast(grid), col("ml") <= col("l"))
      .groupBy(col("tok"), col("l")).agg(sum(col("c")).as("c_l"))
    val nl = cnt.join(broadcast(grid), col("ml") <= col("l"))
      .groupBy(col("l")).agg(sum(col("c")).as("n_l"))
    val v = cnt.agg(countDistinct(col("tok")).as("v"))
    val held = base.filter(col("bkt") >= 8)
      .groupBy(col("tok")).agg(count(lit(1)).as("tf_h"))
    val nHeld = held.agg(sum(col("tf_h")).cast("long").as("n_held"))
    val scored = held.crossJoin(broadcast(grid))
      .join(levelCnt, Seq("tok", "l"), "left")
      .withColumn("c_l", coalesce(col("c_l"), lit(0L)))
      .join(broadcast(nl), "l")
      .crossJoin(broadcast(v))
      .withColumn("lp6",
        round(log((col("c_l") + lit(1L)) /
          (col("n_l") + col("v") + lit(1L)).cast("double")) * 1e6).cast("long"))
    val points = scored.groupBy(col("l"))
      .agg(sum(col("tf_h").cast("decimal(38,0)") * col("lp6")).as("sum_lp6"))
      .crossJoin(broadcast(nHeld))
      .withColumn("y6", expr("CAST((-sum_lp6) div n_held AS BIGINT)"))
      .join(broadcast(nl), "l")
      .select(col("l"), col("n_l"), col("y6"))
      .localCheckpoint(false)
    // α grid 0.05..1.00 step 0.05 as exact integer keys; x = N^(−α)
    // in integer micros; all four moments are exact Long sums
    val alphas = spark.range(1, 21).select((col("id") * 5L).as("alpha100"))
    val moments = points.crossJoin(broadcast(alphas))
      .withColumn("x6",
        round(pow(col("n_l").cast("double"), -col("alpha100") / lit(100.0)) * 1e6)
          .cast("long"))
      .groupBy(col("alpha100"))
      .agg(count(lit(1)).as("n"),
        sum(col("x6")).as("sx"), sum(col("y6")).as("sy"),
        sum(col("x6") * col("y6")).as("sxy"),
        sum(col("x6") * col("x6")).as("sxx"),
        sum(col("y6") * col("y6")).as("syy"))
      .withColumn("a_raw",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("sse_scaled",
        (col("n") * col("syy") - col("sy") * col("sy")).cast("double") -
          col("a_raw") * (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
    val best = Rank.top(moments, Nil, Seq(col("sse_scaled"), col("alpha100")), lit(1))
      .select(
        roundn(col("alpha100") / lit(100.0), 6).as("alpha_hat"),
        roundn((col("sy").cast("double") / 1e6 -
          col("a_raw") * col("sx").cast("double") / 1e6) / col("n"), 6).as("e_hat"),
        roundn(col("a_raw"), 6).as("a_hat"))
    points.crossJoin(broadcast(best))
      .select(col("l").as("level"), col("n_l").as("n_train_tok"),
        roundn(col("y6") / 1e6, 6).as("loss"),
        col("alpha_hat"), col("e_hat"), col("a_hat"))
  }
}
