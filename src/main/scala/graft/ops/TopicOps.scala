package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** In-engine topic modeling — PLSA (Hofmann, SIGIR'99) trained
  * relationally, the latent-factor sibling of the engine's other
  * in-engine trainers (`quality_classifier` fixed-point GD,
  * `bpe_merges` greedy merges, `ann_*` Lloyd rounds): k topics over
  * the (doc, word) count matrix via EM, every responsibility a
  * FIXED-POINT integer micro so both engines replay training
  * bit-for-bit.
  *
  * EM, relationally:
  *  - E-step: r(z|d,w) ∝ p(w|z)·p(z|d). Both factors are ratios of
  *    integer tables (φ word-mass and θ doc-mass from the previous
  *    round); a_z = (u_z/N_z)·t_z is computed with one division then
  *    one multiply (identical expression on both engines), the
  *    4-term normalizer sums in FIXED z order (an explicit
  *    ((a0+a1)+a2)+a3 — never an agg whose merge order floats), and
  *    the responsibility rounds ONCE into integer micros.
  *  - M-step: φ'(w,z) = Σ_d tf·r6 and θ'(d,z) = Σ_w tf·r6 are sums
  *    of INTEGERS — exact, order-free, partial-aggregable. φ sums
  *    accumulate in decimal(38,0) (corpus tokens × 10⁶ micros passes
  *    Long range at 100 TB — the overflow-free-receipt rule); θ sums
  *    stay in Long (docs are 512-token bounded).
  *
  * Scale shape: tf is one (doc, tok) agg; each round joins tf to the
  * vocab-scale φ (broadcastable) on tok and to θ co-keyed on doc_id,
  * then reduces back to those two keys with map-side partials —
  * no row ever carries more than k extra columns, no vocab-sized
  * collect, no unbounded window (the final top-n ranks per topic
  * compile to WindowGroupLimit). Rounds are unrolled and
  * localCheckpointed so plan depth stays bounded.
  */
object TopicOps {

  /** Deterministic init mass for (tok, z): sha-parity spread in
    * [1, 1000] — asymmetric across topics so EM has gradients to
    * follow, identical on both engines. */
  private def initMass(z: Int): Column =
    (PortableHash.hash24(concat(lit("plsa:"), col("tok"), lit(s":$z"))) % 1000 + 1)
      .cast("long")

  /** PLSA topic-word summary after `rounds` EM rounds: (topic, rank,
    * tok, weight) — the top-`topN` words per topic with their final
    * φ share. */
  def plsaTopics(docs: DataFrame, k: Int = 4, rounds: Int = 2, topN: Int = 8): DataFrame =
    plsaTopicsFromPhi(plsaPhi(docs, k, rounds), k, topN)

  /** PLSA TRAINING → the φ table AS THE MODEL ARTIFACT (tok,
    * u0..u{k−1} unnormalized decimal(38,0) topic-word masses): the
    * DataFrame a production pipeline persists after the EM spend —
    * exact integers, so a parquet round-trip reloads bit-identically
    * and every summary derived from the reloaded φ equals the
    * retrain-from-scratch answer. */
  def plsaPhi(docs: DataFrame, k: Int = 4, rounds: Int = 2): DataFrame = {
    require(k >= 2 && rounds >= 1)
    val zs = 0 until k
    val tf = EmbedOps.tokenize(docs)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    var phi = tf.select(col("tok")).distinct()
      .select(col("tok") +: zs.map(z => initMass(z).as(s"u$z")): _*)
      .localCheckpoint(false)
    var theta = tf.select(col("doc_id")).distinct()
      .select(col("doc_id") +: zs.map(z => lit(1L).as(s"t$z")): _*)
      .localCheckpoint(false)
    for (_ <- 1 to rounds) {
      val nz = phi.agg(
        sum(col("u0").cast("decimal(38,0)")).as("n0"),
        zs.tail.map(z => sum(col(s"u$z").cast("decimal(38,0)")).as(s"n$z")): _*)
      val joined = tf
        .join(phi, "tok")
        .join(theta, "doc_id")
        .crossJoin(broadcast(nz))
      val withA = joined.select(
        col("doc_id") +: col("tok") +: col("tf") +:
          zs.map(z => (col(s"u$z").cast("double") / col(s"n$z").cast("double") *
            col(s"t$z").cast("double")).as(s"a$z")): _*)
      // FIXED-order 4-term normalizer: left-assoc chain, never an agg
      val denom = zs.map(z => col(s"a$z")).reduce(_ + _)
      val resp = withA.select(
        col("doc_id") +: col("tok") +: col("tf") +:
          zs.map(z => round(col(s"a$z") / denom * 1e6).cast("long").as(s"r$z")): _*)
        .localCheckpoint(false)
      phi = resp.groupBy(col("tok"))
        .agg(sum(col("tf").cast("decimal(38,0)") * col("r0")).as("u0"),
          zs.tail.map(z =>
            sum(col("tf").cast("decimal(38,0)") * col(s"r$z")).as(s"u$z")): _*)
        .localCheckpoint(false)
      theta = resp.groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("r0")).as("t0"),
          zs.tail.map(z => sum(col("tf") * col(s"r$z")).as(s"t$z")): _*)
        .localCheckpoint(false)
    }
    phi.select(col("tok") +:
      zs.map(z => col(s"u$z").cast("decimal(38,0)").as(s"u$z")): _*)
  }

  /** The top-`topN`-per-topic summary from a (possibly reloaded) φ
    * artifact — [[plsaTopics]]' output half. */
  def plsaTopicsFromPhi(phi: DataFrame, k: Int = 4, topN: Int = 8): DataFrame = {
    val zs = 0 until k
    val long = zs.map(z =>
        phi.select(lit(z.toLong).as("topic"), col("tok"),
          col(s"u$z").cast("decimal(38,0)").as("u")))
      .reduce(_ unionByName _)
    val nzFin = long.groupBy(col("topic")).agg(sum(col("u")).as("nu"))
    Rank.top(long, Seq(col("topic")), Seq(col("u").desc, col("tok")), lit(topN))
      .join(broadcast(nzFin), "topic")
      .select(col("topic"), col("rank"), col("tok"),
        graft.functions.VectorMath.roundn(
          col("u").cast("double") / col("nu").cast("double"), 6).as("weight"))
  }

  /** PLSA fold-in ASSIGNMENT from a (possibly reloaded) φ artifact —
    * the apply half the topic family was missing (NB scores langs, GD
    * scores quality, the LM scores logprob; this scores TOPICS):
    * every document folds its term counts through the add-one-
    * smoothed topic-word log-probabilities
    *
    *   score(d, z) = Σ_t tf(d,t) · ln((u_z(t)+1) / (N_z + V))
    *
    * in exact Long micros (the [[graft.ops.TextOps.nbLangTrain]]
    * fixed-point recipe — add-one smoothing also removes the ln(0)
    * corner a zero φ mass would open), argmax per doc with topic-asc
    * tie-break. Output covers docs with ≥ 1 token (fold-in needs
    * evidence; the oracle's tf table is the same set).
    *
    * Scale shape: the weight table is vocab×k rows — joined on tok
    * (NOT force-broadcast: vocab is Zipf-bounded but can exceed the
    * broadcast budget at 100 TB; Catalyst picks); one (doc, topic)
    * agg with map-side partials; the argmax window partitions by doc
    * over k rows. */
  def plsaAssignFromPhi(docs: DataFrame, phi: DataFrame, k: Int = 4): DataFrame = {
    val micro = (c: Column) => round(c * 1000000).cast("long")
    val zs = 0 until k
    val tf = EmbedOps.tokenize(docs)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val long = zs.map(z => phi.select(lit(z.toLong).as("topic"), col("tok"),
        col(s"u$z").cast("decimal(38,0)").as("u")))
      .reduce(_ unionByName _)
    val nz = long.groupBy(col("topic")).agg(sum(col("u")).as("nu"))
    val vv = phi.agg(countDistinct(col("tok")).as("v"))
    val w = long.join(broadcast(nz), "topic").crossJoin(broadcast(vv))
      .select(col("topic"), col("tok"),
        micro(log((col("u").cast("double") + 1.0) /
          (col("nu").cast("double") + col("v").cast("double")))).as("w_mu"))
    val scores = tf.join(w, "tok")
      .groupBy(col("doc_id"), col("topic"))
      .agg(sum(col("tf") * col("w_mu")).as("score_micro"))
    Rank.top(scores, Seq(col("doc_id")), Seq(col("score_micro").desc, col("topic")), lit(1))
      .select(col("doc_id"), col("topic"), col("score_micro"))
  }

  /** TOPIC COHERENCE (NPMI, Bouma '09 / Röder '15 shape) — the
    * model-quality audit for [[plsaTopics]], completing the
    * every-trained-model-has-its-audit pattern (NB → lang_confusion,
    * GD classifier → cv_folds, ANN → ann_recall, LM → lm_tune, PLSA →
    * this): for each topic's top-`topN` words, the mean normalized
    * PMI of all word pairs under DOCUMENT co-occurrence — coherent
    * topics put words that actually co-occur together; a degenerate
    * topic scores near 0 or negative.
    *
    * Determinism: doc co-occurrence counts are exact integers; each
    * pair's NPMI uses the +1-smoothed p_ij = (c_ij+1)/(D+1) (the
    * c_ij = D corner pins to exactly 1.0 on both engines) and rounds
    * once to micros; the per-topic mean is an INTEGER floor division
    * of the exact micro sum by the pair count — no grid-divided-by-n
    * rounding boundary anywhere.
    *
    * Scale shape: the top-word set is k·topN rows broadcast into the
    * token stream; co-occurrence self-joins only the FILTERED
    * (doc, top-word) rows (≤ k·topN words); everything downstream is
    * ≤ k·C(topN,2)-row arithmetic. */
  def topicCoherence(docs: DataFrame, k: Int = 4, rounds: Int = 6,
                     topN: Int = 8): DataFrame =
    topicCoherenceFromTopics(docs, plsaTopics(docs, k, rounds, topN))

  /** The audit half of [[topicCoherence]] against a PRECOMPUTED
    * topic-word table (topic, tok, …) — the entry point a persisted
    * φ artifact uses (reload → [[plsaTopicsFromPhi]] → this), so the
    * EM spend is paid once per corpus, not once per audit. */
  def topicCoherenceFromTopics(docs: DataFrame, topics: DataFrame): DataFrame = {
    val tw = topics
      .select(col("topic"), col("tok")).localCheckpoint(false)
    val toks = EmbedOps.tokenize(docs).select(col("doc_id"), col("tok"))
    val dw = toks.join(broadcast(tw.select(col("tok")).distinct()), "tok")
      .distinct().localCheckpoint(false)
    val dd = toks.select(col("doc_id")).distinct().agg(count(lit(1)).as("dd"))
    val wc = dw.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val co = dw.select(col("doc_id"), col("tok").as("w1"))
      .join(dw.select(col("doc_id"), col("tok").as("w2")), "doc_id")
      .filter(col("w1") < col("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cij"))
    val pairs = tw.select(col("topic"), col("tok").as("w1"))
      .join(tw.select(col("topic"), col("tok").as("w2")), "topic")
      .filter(col("w1") < col("w2"))
    pairs
      .join(co, Seq("w1", "w2"), "left")
      .join(broadcast(wc.select(col("tok").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(wc.select(col("tok").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(dd))
      .withColumn("cij0", coalesce(col("cij"), lit(0L)))
      .withColumn("pij",
        (col("cij0") + 1L).cast("double") / (col("dd") + 1L).cast("double"))
      .withColumn("npmi6",
        when(col("cij0") === col("dd"), lit(1000000L))
          .otherwise(round(
            log(col("pij") /
              ((col("c1").cast("double") / col("dd").cast("double")) *
                (col("c2").cast("double") / col("dd").cast("double")))) /
              (lit(0.0) - log(col("pij"))) * 1e6).cast("long")))
      .groupBy(col("topic"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("npmi6")).as("npmi_sum6"))
      .select(col("topic"), col("n_pairs"), col("npmi_sum6"),
        // floor of the exact double quotient: Spark's integer `div`
        // truncates toward zero while DuckDB's `//` floors — on a
        // NEGATIVE sum they disagree, so both engines floor doubles
        floor(col("npmi_sum6").cast("double") / col("n_pairs").cast("double"))
          .cast("long").as("mean_npmi_micro"))
  }
}
