package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PortableHash
import graft.functions.VectorMath.roundn

/** Near-duplicate detection for training-data pipelines — the scale
  * generalization of the reference's exact dedup (app.py:98-99 skips
  * exact (file,i) repeats; app_callapi.py:117-120 skips exact file
  * hashes). At 100 TB exact hashing misses near-dups, so the engine
  * adds the standard family: MinHash+LSH banding, SimHash hamming,
  * and n-gram Jaccard — all expressed as explode/agg/join pipelines
  * over Catalyst builtins (portable sha-derived hashes, so the DuckDB
  * oracle can replay every step).
  *
  * Scale shape: everything is keyed shuffles on uniformly-distributed
  * hash keys. LSH candidate generation is the 100 TB path — the
  * quadratic verify step only ever runs inside a NON-skewed bucket
  * join (band signatures spread uniformly by construction).
  */
object DedupOps {

  /** Word w-shingles with positions: (doc_id, pos, shingle).
    *
    * MAP-ONLY (r15 optimization, guide §2.4): shingles are built from
    * the token ARRAY inside one row — the former lead()-over-Window
    * form planted an Exchange(doc_id) + Sort under every shingle
    * consumer (2–4 per dedup query), shuffling the whole token stream
    * just to look w−1 rows ahead within a document. Same token
    * contract as [[EmbedOps.tokenize]] (slice 512, trim, drop blanks,
    * pos = index in the sliced raw split), same rows out: shingles
    * over consecutive non-blank tokens, keyed by the FIRST token's
    * raw position. Docs with fewer than w surviving tokens emit
    * nothing (filter before explode — `sequence` would descend on a
    * negative span). All builtins, no shuffle, no UDF. */
  def wordShingles(docs: DataFrame, w: Int = 3): DataFrame = {
    val maxTokens = 512
    val toks = expr(
      s"filter(transform(slice(split(text, ' '), 1, $maxTokens), " +
        "(t, i) -> struct(i AS pos, trim(t) AS tok)), s -> s.tok <> '')")
    val grams = (0 until w).map(k => s"_tk[j + $k].tok").mkString(", ")
    docs
      .select(col("doc_id"), toks.as("_tk"))
      .filter(size(col("_tk")) >= w)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(_tk) - $w), " +
          s"j -> struct(_tk[j].pos AS pos, concat_ws(' ', $grams) AS shingle))")).as("_sh"))
      .select(col("doc_id"), col("_sh.pos").as("pos"), col("_sh.shingle").as("shingle"))
  }

  /** N-gram NOVELTY profile — the corpus-order diagnostic behind
    * "how much of this document is new text": per document, the
    * fraction of its distinct shingles whose FIRST corpus occurrence
    * (min doc_id over the shingle) is this document. A near-zero
    * novelty doc is assembled from earlier material (boilerplate,
    * quotation, template reuse) even when no single pairwise overlap
    * crosses a dedup threshold — the aggregate view the pair-tier
    * misses.
    *
    * Scale shape: one shingle-keyed agg (uniform sha-shaped keys,
    * map-side partial mins) produces the first-occurrence table; the
    * membership probe is the SAME (doc, shingle) stream joined back
    * on the shingle key (co-keyed, no re-shuffle of the heavy side
    * beyond the one exchange), then a doc-keyed census. Integer
    * ratios rounded once. */
  def ngramNovelty(docs: DataFrame, w: Int = 3): DataFrame = {
    val shd = wordShingles(docs, w)
      .select(col("doc_id"), col("shingle")).distinct()
    val firstSeen = shd.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
    shd.join(firstSeen, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        graft.functions.VectorMath.roundn(
          col("n_novel").cast("double") / col("n_shingles"), 6))
  }

  /** Prime just above 2^24 for the universal-hash family. */
  val MinhashPrime: Long = 16777259L

  /** MinHash signature: (doc_id, seed, minh). The hash family is the
    * textbook universal construction h_i(x) = (a_i·h0(x) + b_i) mod p
    * over ONE sha-derived base hash per (doc, shingle) row — seeded
    * variants are pure arithmetic evaluated as `numHashes` parallel
    * `min` AGGREGATION COLUMNS, not an exploded seed dimension: the
    * shuffle moves |doc shingles| rows once (map-side partial mins),
    * never ×numHashes, and no vocabulary join materializes. The
    * per-seed arithmetic is identical to the oracle's exploded form,
    * and integer mins are merge-order-free, so results are bit-equal
    * to the seed-exploded formulation. */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 12, w: Int = 3): DataFrame =
    minhashSignaturesFromShingles(distinctShingles(docs, w), numHashes)

  /** The (doc_id, shingle) distinct-shingle table every stage of the
    * LSH→verify chain keys on. Shared as ONE DataFrame per chain so
    * all consumers carry the IDENTICAL subtree — runtime exchange
    * reuse (`spark.sql.exchange.reuse`, on by default; measured 20-55%
    * on this chain) then computes the distinct exchange once per
    * query. An explicit localCheckpoint here measured SLOWER than
    * reuse (r16: ngram_jaccard 2.45→3.76 s): the cache materialization
    * costs more than the already-deduplicated recompute. */
  private[ops] def distinctShingles(docs: DataFrame, w: Int): DataFrame =
    wordShingles(docs, w).select(col("doc_id"), col("shingle")).distinct()

  /** [[minhashSignatures]] over a precomputed shingle table. */
  private[ops] def minhashSignaturesFromShingles(sh: DataFrame, numHashes: Int): DataFrame = {
    val p = MinhashPrime
    val minCols = (0 until numHashes).map { s =>
      min(expr(
        s"((${s + 1} * 2654435761 % $p) * h0 + (${s + 1} * 40503 + 12345) % $p) % $p"))
        .as(s"_m$s")
    }
    sh
      .withColumn("h0", PortableHash.hash24(col("shingle")))
      .groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until numHashes).map(s => col(s"_m$s")): _*))
          .as(Seq("seed", "minh")))
  }

  /** LSH band buckets: seeds grouped `rowsPerBand` at a time; the band
    * signature is the seed-ordered concat of its min-hashes. Docs
    * sharing any (band, signature) bucket are near-dup candidates. */
  def lshBuckets(signatures: DataFrame, rowsPerBand: Int = 3): DataFrame =
    signatures
      .withColumn("band", (col("seed") / rowsPerBand).cast("long"))
      .groupBy(col("doc_id"), col("band"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("seed"), col("minh")))),
            x => x.getField("minh").cast("string")),
          "-").as("band_sig"))

  /** Exact-duplicate family table: (doc_id, rep_id, fam_size) keyed
    * by sha2(text) — the routing step that keeps identical copies OUT
    * of LSH banding. A 10⁵-copy template family co-buckets in every
    * band and would alone contribute ~10¹⁰ within-bucket candidate
    * rows; collapsing each family to its min-doc_id representative
    * BEFORE shingling makes the expensive stages (shingle explode,
    * signatures, banding, verify joins) see one row per distinct
    * text, and family members re-enter only at output expansion —
    * cost proportional to the declared result, not to bucket².
    *
    * Scale shape: one sha2 map pass, one chash-keyed groupBy with
    * map-side partials, one chash equi-join (a 10⁵-row family joins
    * 10⁵×1 — linear). This is the same short-circuit the reference
    * runs per file (app_callapi.py:117-120 skips unchanged sha-256
    * hashes) lifted to corpus scale. */
  def exactFamilies(docs: DataFrame): DataFrame = {
    val fams = docs.select(col("doc_id"), sha2(col("text"), 256).as("chash"))
    val reps = fams.groupBy(col("chash"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("fam_size"))
    fams.join(reps, "chash").select(col("doc_id"), col("rep_id"), col("fam_size"))
  }

  /** The representative documents — one per exact-text family. */
  private[ops] def repDocsOf(docs: DataFrame, members: DataFrame): DataFrame =
    docs.join(
      members.filter(col("doc_id") === col("rep_id")).select(col("doc_id")), "doc_id")

  /** Expand representative-level pair rows (a_id, b_id, values…) back
    * to member-level pairs: every member of a's family × every member
    * of b's family, re-canonicalized to min/max id. Families are
    * disjoint, so each member pair arises from exactly one rep pair;
    * `valueCols` must be pair-symmetric (band counts, similarity) —
    * identical texts make member values equal rep values by
    * construction. Cost is exactly the output size — the inherent
    * floor for a pair-emitting contract. */
  private def expandRepPairs(repPairs: DataFrame, members: DataFrame,
                             valueCols: Seq[String]): DataFrame = {
    val ma = members.select(col("rep_id").as("a_rep"), col("doc_id").as("a_m"))
    val mb = members.select(col("rep_id").as("b_rep"), col("doc_id").as("b_m"))
    repPairs
      .select(col("a_id").as("a_rep") +: col("b_id").as("b_rep") +: valueCols.map(col): _*)
      .join(ma, "a_rep")
      .join(mb, "b_rep")
      .select(least(col("a_m"), col("b_m")).as("a_id") +:
        greatest(col("a_m"), col("b_m")).as("b_id") +: valueCols.map(col): _*)
  }

  /** All within-family member pairs (a_id < b_id) for families whose
    * representative appears in `repValues` (rep_id + the pair-value
    * columns every intra pair inherits — exact copies are maximally
    * similar by definition). C(fam,2) output rows: again the output
    * floor, reached without any shuffle wider than the members
    * table. */
  private def intraFamilyPairs(members: DataFrame, repValues: DataFrame): DataFrame = {
    val valueCols = repValues.columns.filter(_ != "rep_id").toSeq
    val fam = members.select(col("rep_id"), col("doc_id")).join(repValues, "rep_id")
    val a = fam.select(col("rep_id"), col("doc_id").as("a_id"))
    val b = fam.select(col("rep_id") +: col("doc_id").as("b_id") +: valueCols.map(col): _*)
    a.join(b, "rep_id")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id") +: col("b_id") +: valueCols.map(col): _*)
  }

  /** Distinct-shingle count per doc — doubles as the "has a MinHash
    * signature at all" eligibility gate (a doc below w tokens has no
    * shingles, hence no signature, no buckets, no pairs). */
  private def shingleCountsFromShingles(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))

  /** Raw band-bucket candidate pairs over the given docs — the
    * pre-routing kernel: docs sharing any (band, signature) bucket
    * pair up. Callers route exact-duplicate families out first
    * ([[exactFamilies]]); within a bucket this is still quadratic in
    * bucket size, which after routing means "quadratic in DISTINCT
    * near-identical texts" — see [[lshBucketProfile]] for the
    * measurement and [[clusterCandidatesCapped]] for the clustering
    * fallback when even that residue is a mega family. */
  private[ops] def bandCandidates(docs: DataFrame, numHashes: Int, rowsPerBand: Int,
                             w: Int): DataFrame =
    bandCandidatesFromShingles(distinctShingles(docs, w), numHashes, rowsPerBand)

  /** [[bandCandidates]] over a precomputed shingle table. Both sides
    * of the self-join reference the identical bucket subtree; runtime
    * exchange reuse computes it once (checkpointing it measured
    * slower — see [[distinctShingles]]). */
  private[ops] def bandCandidatesFromShingles(sh: DataFrame, numHashes: Int,
                                              rowsPerBand: Int): DataFrame = {
    val buckets = lshBuckets(minhashSignaturesFromShingles(sh, numHashes), rowsPerBand)
    val a = buckets.select(col("doc_id").as("a_id"), col("band"), col("band_sig"))
    val b = buckets.select(col("doc_id").as("b_id"), col("band"), col("band_sig"))
    a.join(b, Seq("band", "band_sig"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** MinHash-LSH candidate pairs: (a_id, b_id, n_shared_bands),
    * exact-family-routed: banding runs over one REPRESENTATIVE per
    * distinct text ([[exactFamilies]]); rep-level pairs expand back
    * to member pairs, and within-family pairs (identical texts share
    * every band by construction) are emitted directly for families
    * whose rep has ≥1 shingle. Output is bit-identical to banding the
    * full corpus — identical texts have identical signatures, so a
    * member pair's shared-band count IS its rep pair's — but the
    * quadratic bucket stage never sees a duplicate copy. */
  def minhashCandidates(docs: DataFrame, numHashes: Int = 12, rowsPerBand: Int = 3,
                        w: Int = 3): DataFrame = {
    val members = exactFamilies(docs).localCheckpoint(false)
    val reps = repDocsOf(docs, members)
    // ONE shared shingle DataFrame (see [[distinctShingles]])
    val sh = distinctShingles(reps, w)
    val nBands = (numHashes + rowsPerBand - 1) / rowsPerBand
    val cross = expandRepPairs(
      bandCandidatesFromShingles(sh, numHashes, rowsPerBand), members,
      Seq("n_shared_bands"))
    val intra = intraFamilyPairs(members,
      shingleCountsFromShingles(sh)
        .select(col("doc_id").as("rep_id"), lit(nBands.toLong).as("n_shared_bands")))
    cross.unionByName(intra)
  }

  /** INCREMENTAL near-dup maintenance — the production daily-ingest
    * shape: an already-indexed corpus (`oldDocs` — at 100 TB its band
    * buckets are a PERSISTED index, bucketed parquet keyed on
    * (band, band_sig), not recomputed here) meets a new batch
    * (`newDocs`), and only pairs TOUCHING the batch are produced:
    * (new, old) via an equi-join of the batch's buckets against the
    * index, plus (new, new) within the batch. Old-vs-old pairs are
    * never re-enumerated — per-ingest cost is proportional to the
    * batch, not the corpus (the batch mirror of
    * [[graft.streaming.StreamingOps.lshDedupStream]]'s keyed state,
    * and the corpus-scale lift of the reference's hash-incremental
    * skip, app_callapi.py:117-120).
    *
    * Receipt: signatures are a pure function of text, so the output
    * is EXACTLY the full-corpus [[minhashCandidates]] pair set
    * restricted to pairs with ≥1 batch member — the oracle pins that
    * equivalence, so index staleness bugs become hash mismatches.
    *
    * Scale shape: the (new ⋈ old) bucket join streams the small
    * batch side against the index — a mega duplicate family in the
    * OLD corpus contributes rows linear in its size (family × the
    * few batch docs it buckets with), never family²; the only
    * bucket-quadratic stage is within the batch itself, where
    * [[exactFamilies]] routing applies as usual upstream. */
  def incrementalCandidates(oldDocs: DataFrame, newDocs: DataFrame,
                            numHashes: Int = 12, rowsPerBand: Int = 3,
                            w: Int = 3): DataFrame =
    incrementalCandidatesFromIndex(
      lshBuckets(minhashSignatures(oldDocs, numHashes, w), rowsPerBand),
      newDocs, numHashes, rowsPerBand, w)

  /** [[incrementalCandidates]] against a PRE-BUILT bucket index —
    * the load half of the load-or-create contract (the reference's
    * S6/S7 pickle-else-ingest lifecycle, app.py:121-137, lifted to
    * the index tier): `oldBuckets` is the (doc_id, band, band_sig)
    * table a previous run persisted. At 100 TB persist it with
    * `bucketBy(band, band_sig)` so the probe join reads the index
    * shuffle-free and only the batch side exchanges. A reloaded
    * index must answer bit-identically to a freshly built one —
    * `dedup_index_persist` pins that against the same oracle as
    * `dedup_incremental`. */
  def incrementalCandidatesFromIndex(oldBuckets: DataFrame, newDocs: DataFrame,
                                     numHashes: Int = 12, rowsPerBand: Int = 3,
                                     w: Int = 3): DataFrame = {
    val oldB = oldBuckets
    val newB = lshBuckets(minhashSignatures(newDocs, numHashes, w), rowsPerBand)
    val newVsOld = newB.select(col("doc_id").as("n_id"), col("band"), col("band_sig"))
      .join(oldB.select(col("doc_id").as("o_id"), col("band"), col("band_sig")),
        Seq("band", "band_sig"))
      .select(least(col("n_id"), col("o_id")).as("a_id"),
        greatest(col("n_id"), col("o_id")).as("b_id"))
    val a = newB.select(col("doc_id").as("a_id"), col("band"), col("band_sig"))
    val b = newB.select(col("doc_id").as("b_id"), col("band"), col("band_sig"))
    val newVsNew = a.join(b, Seq("band", "band_sig"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    newVsOld.unionByName(newVsNew)
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** LSH detection S-curve as a DECLARED receipt — completing the
    * receipt trilogy (`ann_recall` for the vector tier,
    * `cms_error_curve` for the sketch tier): for a bounded PROBE set
    * of documents, compute the exact Jaccard of every probe-touching
    * pair (the ground-truth half, cost bounded by |probes| ×
    * co-shingled docs — the ann_recall brute-force role), bucket
    * pairs by Jaccard decile, and report what fraction of each
    * bucket the banded MinHash candidates actually caught. This is
    * the measured form of the theoretical 1−(1−s^r)^b S-curve: a
    * hash change, a banding bug, or a bad (numHashes, rowsPerBand)
    * choice reshapes the curve and hash-mismatches — detection
    * probability becomes a replayable number, not a hope.
    *
    * Scale shape: the exact side restricts its shingle equi-join to
    * the probe docs (a-side filter BEFORE the join), so cost is
    * probe-bounded, never corpus²; the candidate side is the
    * standard routed banding. Output is ≤10 rows. */
  def lshRecallCurve(docs: DataFrame, probeIds: Long = 25, numHashes: Int = 12,
                     rowsPerBand: Int = 3, w: Int = 3): DataFrame = {
    val sh = wordShingles(docs, w).select(col("doc_id"), col("shingle")).distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // with a_id < b_id ordering, every probe-touching pair has its
    // MIN id on the a side, so filtering a to the probe set keeps
    // exactly the pairs with min(id) < probeIds
    val pint = sh.filter(col("doc_id") < probeIds)
      .select(col("doc_id").as("a_id"), col("shingle"))
      .join(sh.select(col("doc_id").as("b_id"), col("shingle")), "shingle")
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
    val jac = pint
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .withColumn("jaccard",
        roundn(col("inter") / (col("na") + col("nb") - col("inter")), 6))
    val det = minhashCandidates(docs, numHashes, rowsPerBand, w)
      .filter(col("a_id") < probeIds)
      .select(col("a_id"), col("b_id"), lit(1L).as("detected"))
    jac.join(det, Seq("a_id", "b_id"), "left")
      .withColumn("bucket", least(lit(9L), floor(col("jaccard") * 10).cast("long")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("detected")), lit(0L)).as("n_detected"))
      .withColumn("detect_rate",
        roundn(col("n_detected").cast("double") / col("n_pairs"), 6))
  }

  /** SimHash per document over `bits` signature bits (default 48):
    * token hash bits weighted by tf, majority vote per bit (sum>0 →
    * 1). 48 bits (not the classic 64) because the portable sha-hex
    * fold must stay exact in the oracle's DOUBLE arithmetic.
    *
    * Evaluated as `bits` parallel signed-sum AGGREGATION COLUMNS over
    * the per-doc term table — map-side partials, one doc_id-keyed
    * shuffle of |doc vocab| rows (never ×bits), no vocabulary join.
    * Integer sums are merge-order-free, so the signature is bit-equal
    * to the bit-exploded formulation the oracle uses. */
  def simhash(docs: DataFrame, bits: Int = 48): DataFrame = {
    val tf = EmbedOps
      .tokenize(docs)
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("h",
        if (bits <= 24) PortableHash.hash24(col("tok")) else PortableHash.hash48(col("tok")))
    val sumCols = (0 until bits).map { i =>
      sum(col("tf") * (expr(s"(h div cast(power(2, $i) as bigint)) % 2") * 2 - 1)).as(s"_s$i")
    }
    tf.groupBy(col("doc_id"))
      .agg(sumCols.head, sumCols.tail: _*)
      .select(col("doc_id"),
        (0 until bits)
          .map(i => when(col(s"_s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs with hamming ≤ maxHamming, by PIGEONHOLE
    * BANDING (Manku et al., WWW'07): split the signature into
    * `chunks` equal bit-chunks; hamming ≤ maxHamming < chunks forces
    * ≥ 1 chunk to match exactly, so candidates come from an EQUI-JOIN
    * on (chunk_idx, chunk_value) and only they pay the hamming check.
    * No cartesian anywhere, no id cap — the full corpus runs.
    *
    * Chunk width is the scale lever: 48/4 = 12-bit chunks give 4096
    * join-key values per chunk index — uniform by construction
    * (sha-derived bits). At larger corpora raise `bits`/`chunks`
    * together to keep N²/2^chunkBits candidates bounded. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, bits: Int = 48,
                   chunks: Int = 4): DataFrame = {
    // exact-family routing, same contract as [[minhashCandidates]]:
    // identical texts have identical signatures (hamming 0 ≤ any
    // threshold), so banding sees one rep per distinct text and
    // members re-enter at output expansion only
    val members = exactFamilies(docs).localCheckpoint(false)
    val reps = repDocsOf(docs, members)
    val cross = expandRepPairs(
      simhashPairsRaw(reps, maxHamming, bits, chunks), members, Seq("hamming"))
    val intra = intraFamilyPairs(members,
      EmbedOps.tokenize(reps).select(col("doc_id")).distinct()
        .select(col("doc_id").as("rep_id"), lit(0L).as("hamming")))
    cross.unionByName(intra)
  }

  /** Pre-routing simhash banding kernel (see [[simhashPairs]]). */
  private[ops] def simhashPairsRaw(docs: DataFrame, maxHamming: Int, bits: Int,
                              chunks: Int): DataFrame =
    hammingBandPairs(
      simhash(docs, bits).select(col("doc_id").as("id"), col("simhash").as("sig")),
      maxHamming, bits, chunks)

  /** GENERIC pigeonhole hamming join over ANY (id, sig) signature
    * table (Manku et al., WWW'07) — the candidate machinery shared by
    * text SimHash and the image perceptual-hash tier
    * ([[MultimodalOps.imageNearDup]]): split each signature into
    * `chunks` equal bit-chunks; hamming ≤ maxHamming < chunks forces
    * ≥ 1 chunk to match exactly, so candidates come from an EQUI-JOIN
    * on (chunk_idx, chunk_value) and only they pay the popcount.
    * Output: (a_id, b_id, hamming), a_id < b_id. */
  def hammingBandPairs(sigs: DataFrame, maxHamming: Int = 3, bits: Int = 48,
                       chunks: Int = 4): DataFrame = {
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    require(bits % chunks == 0, "chunks must divide bits")
    // beyond the hash width every doc's high bits are 0 — the chunk
    // covering them would equi-join ALL docs with ALL docs
    require(bits <= 48, "signature width capped by hash48; wider bits need a wider hash")
    val chunkBits = bits / chunks
    val chunked = sigs.select(col("id"), col("sig"))
      .withColumn("chunk_idx", explode(sequence(lit(0), lit(chunks - 1))))
      .withColumn(
        "chunk_val",
        expr(s"(sig div cast(power(2, chunk_idx * $chunkBits) as bigint)) " +
          s"% ${1L << chunkBits}"))
    val a = chunked.select(
      col("id").as("a_id"), col("sig").as("sh_a"), col("chunk_idx"), col("chunk_val"))
    val b = chunked.select(
      col("id").as("b_id"), col("sig").as("sh_b"), col("chunk_idx"), col("chunk_val"))
    a.join(b, Seq("chunk_idx", "chunk_val"))
      .filter(col("a_id") < col("b_id"))
      // a pair matching on k chunks appears k times — dedupe BEFORE
      // the hamming check so bit_count runs once per pair
      .select(col("a_id"), col("b_id"), col("sh_a"), col("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(expr("sh_a ^ sh_b")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Jaccard VERIFY kernel: exact n-gram Jaccard computed ONLY for
    * the given candidate `pairs` (a_id, b_id) — the downstream half
    * of the LSH→verify pipeline ([[nearDupVerified]]). |A∩B| comes
    * from routing each candidate pair through the shingle equi-join;
    * pairs sharing no shingle drop out (their Jaccard is 0 — they
    * cannot be near-dups). Cost is O(|pairs| · shingles-per-doc),
    * never O(N²). */
  def jaccardVerify(docs: DataFrame, pairs: DataFrame, w: Int = 3,
                    minJaccard: Double = 0.0,
                    passthrough: Seq[String] = Nil): DataFrame =
    // the shingle table feeds THREE consumers below (sizes + both
    // pair-side equi-joins) as one identical subtree — runtime
    // exchange reuse computes it once (see [[distinctShingles]])
    jaccardVerifyFromShingles(distinctShingles(docs, w), pairs, minJaccard, passthrough)

  /** [[jaccardVerify]] over a precomputed (already shared/checkpointed)
    * shingle table. */
  private[ops] def jaccardVerifyFromShingles(sh: DataFrame, pairs: DataFrame,
                                             minJaccard: Double,
                                             passthrough: Seq[String] = Nil): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // `passthrough` rides the grouping key (pair-functional columns
    // like n_shared_bands), so the candidate pipeline is referenced
    // ONCE — a separate join-back would plant the expensive subtree
    // in the plan twice with differing column pruning, defeating
    // exchange reuse
    val keyCols = (Seq("a_id", "b_id") ++ passthrough).map(col)
    val inter = pairs
      .select(keyCols: _*)
      .join(sh.select(col("doc_id").as("a_id"), col("shingle")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("shingle")), Seq("b_id", "shingle"))
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .withColumn("jaccard", roundn(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select((keyCols :+ col("inter")) :+ col("jaccard"): _*)
  }

  /** Asymmetric CONTAINMENT verify over LSH candidates — the
    * direction-aware twin of [[jaccardVerify]]: C(A→B) = |A∩B|/|A|
    * (Broder '97's containment, the quantity behind quote/excerpt/
    * boilerplate detection). Jaccard misses subset duplication — a
    * paragraph wholly embedded in a 100× larger doc has Jaccard
    * ≈ 0.01 but containment 1.0 — so curation pipelines gate on
    * max(C(A→B), C(B→A)), which this emits per pair.
    *
    * Same cost shape as [[jaccardVerify]] (the shingle equi-join runs
    * only over candidate pairs, O(|pairs|·shingles/doc), never N²);
    * the LSH generator's Jaccard bias does undercount candidates for
    * extreme size ratios (a true-containment pair can band-collide
    * rarely) — at scale the generator for pure containment hunting is
    * a rare-shingle prefix join ([[prefixFilterCandidates]] family),
    * while this op scores whatever candidate set it is given. */
  def containmentVerify(docs: DataFrame, pairs: DataFrame, w: Int = 3,
                        minContainment: Double = 0.0): DataFrame = {
    // same three-consumer share as [[jaccardVerify]]
    val sh = distinctShingles(docs, w)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = pairs
      .select(col("a_id"), col("b_id"))
      .join(sh.select(col("doc_id").as("a_id"), col("shingle")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("shingle")), Seq("b_id", "shingle"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .withColumn("containment_a", roundn(col("inter") / col("na"), 6))
      .withColumn("containment_b", roundn(col("inter") / col("nb"), 6))
      .filter(greatest(col("containment_a"), col("containment_b")) >= minContainment)
      .select(col("a_id"), col("b_id"), col("inter"),
        col("containment_a"), col("containment_b"))
  }

  /** Degree-ordered edge orientation — the standard triangle-counting
    * hardening (Chiba/Nishizeki '85; the "forward" algorithm): point
    * each undirected edge from its lower-(degree, id) endpoint to its
    * higher-(degree, id) endpoint. The payoff is a worst-case bound:
    * in the oriented graph NO node's out-degree exceeds ~√(2E)
    * (a node with out-degree d has d neighbors of degree ≥ its own,
    * so d² ≤ Σ degrees = 2E) — a hub of degree 10⁵ (exactly what a
    * boilerplate/template family produces in a near-dup graph)
    * contributes ZERO wedge pairs because every incident edge points
    * AT it, while the id-ordered pivot would enumerate d²/4 pairs
    * through it. Ties break on id, making the order total and the
    * orientation acyclic. Exposed (not private) so the star-graph
    * property spec can pin the fan-out bound on the real expression. */
  def degreeOrientedEdges(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a_id"), col("b_id"))
    val deg = e.select(explode(array(col("a_id"), col("b_id"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a_id") < col("b_id"))
    e.join(deg.select(col("id").as("a_id"), col("d").as("da")), "a_id")
      .join(deg.select(col("id").as("b_id"), col("d").as("db")), "b_id")
      .select(
        when(aFirst, col("a_id")).otherwise(col("b_id")).as("src"),
        when(aFirst, col("b_id")).otherwise(col("a_id")).as("dst"))
  }

  /** Triangle census over an undirected edge list in canonical
    * a_id < b_id form — the global clustering diagnostic for the
    * near-dup graph (a template/boilerplate family shows up as dense
    * triangle-rich neighborhoods; isolated accidental collisions
    * produce wedges but few closures). One row: edge, wedge (open
    * triad) and triangle counts plus the global clustering
    * coefficient 3·triangles / wedges.
    *
    * Algorithm: wedge join over the DEGREE-ORIENTED graph
    * ([[degreeOrientedEdges]]): each triangle {x,y,z} with x lowest
    * in (degree, id) order has oriented edges x→y, x→z, y↔z, so it is
    * generated exactly once — as the wedge {y,z} pivoting on x —
    * and closed by the undirected edge {y,z}. The pivot is always the
    * LOWEST-degree corner, so wedge fan-out per node is capped at
    * ~√(2E) regardless of hub degree — the plan survives a mega
    * duplicate family where the previous id-ordered pivot (b in
    * a<b<c) would enumerate d² pairs through a middle-id hub. The
    * oracle stays a plain 2-join SQL over the same edge list: the
    * triangle SET is orientation-invariant, only the enumeration
    * order changed. */
  def triangleStats(edges: DataFrame): DataFrame = {
    // the edge list heads an expensive verify pipeline and is read by
    // four consumers (count, degrees, wedges, closure) — materialize
    // it once instead of planting the subtree four times
    val e = edges.select(col("a_id"), col("b_id")).localCheckpoint(false)
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    // d·(d−1) is always even — the integer div is exact
    val nWedges = e.select(explode(array(col("a_id"), col("b_id"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"))
    val ori = degreeOrientedEdges(e)
    val nTri = ori.select(col("src"), col("dst").as("v"))
      .join(ori.select(col("src"), col("dst").as("w")), "src")
      // v < w canonicalizes the out-neighbor pair once (ids, not
      // orientation order — the closure edge below is id-canonical)
      .filter(col("v") < col("w"))
      .join(e.select(col("a_id").as("v"), col("b_id").as("w")), Seq("v", "w"))
      .agg(count(lit(1)).as("n_triangles"))
    nEdges.crossJoin(nWedges).crossJoin(nTri)
      .withColumn("clustering",
        when(col("n_wedges") === 0L, lit(0.0))
          .otherwise(roundn(lit(3L) * col("n_triangles") / col("n_wedges").cast("double"), 6)))
  }

  /** End-to-end near-dup pipeline — the composed, uncapped form the
    * reference runs as its dedup loop (app_callapi.py:117-142,
    * generalized from exact-hash to near-dup): MinHash-LSH candidate
    * generation → exact Jaccard verification → threshold. Every stage
    * is a keyed shuffle on hash-uniform keys; the quadratic verify
    * only ever touches LSH candidates. */
  def nearDupVerified(docs: DataFrame, numHashes: Int = 12, rowsPerBand: Int = 3,
                      w: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    // verify at the REPRESENTATIVE level, then expand: exact copies
    // share their rep's shingle set, so a member pair's
    // (inter, jaccard) IS its rep pair's, and intra-family pairs are
    // jaccard 1.0 with inter = the family's shingle count. The
    // shingle equi-joins — the expensive half — thus run over
    // distinct texts only; expansion touches exactly the output rows.
    val members = exactFamilies(docs).localCheckpoint(false)
    val reps = repDocsOf(docs, members)
    // ONE shared shingle DataFrame for the whole chain — identical
    // subtrees, so runtime exchange reuse computes it once
    val sh = distinctShingles(reps, w)
    val repVer = jaccardVerifyFromShingles(sh,
      bandCandidatesFromShingles(sh, numHashes, rowsPerBand), minJaccard,
      passthrough = Seq("n_shared_bands"))
    val nBands = (numHashes + rowsPerBand - 1) / rowsPerBand
    val cross = expandRepPairs(repVer, members,
      Seq("n_shared_bands", "inter", "jaccard"))
    val intra = intraFamilyPairs(members,
      shingleCountsFromShingles(sh).select(col("doc_id").as("rep_id"),
        lit(nBands.toLong).as("n_shared_bands"), col("n_sh").as("inter"),
        lit(1.0).as("jaccard")))
    cross.unionByName(intra)
      .select(col("a_id"), col("b_id"), col("n_shared_bands"), col("inter"), col("jaccard"))
  }

  /** Embedding-cosine near-dup — the declared, composed form: LSH
    * candidate pairs ([[minhashCandidates]]) verified by exact sparse
    * cosine. Unit-L2 hashed-TF weights make cosine(a,b) = Σ w_a·w_b,
    * computed only for candidate pairs by routing each pair through
    * the dimension equi-join: O(|candidates| · dims-per-doc), never
    * O(N²), and immune to vocabulary degeneracy (see
    * [[embeddingNearDupIndex]] for why the bare inverted index can
    * collapse). */
  def embeddingNearDup(docs: DataFrame, dim: Int = 1 << 16, threshold: Double = 0.9,
                       numHashes: Int = 12, rowsPerBand: Int = 3): DataFrame =
    cosineVerify(docs, minhashCandidates(docs, numHashes, rowsPerBand), dim, threshold)

  /** Cosine VERIFY kernel over given candidate pairs (a_id, b_id):
    * exact sparse-dot-product cosine, evaluated only where a
    * candidate generator already said "maybe". Pairs sharing no
    * dimension drop out (cosine 0). */
  def cosineVerify(docs: DataFrame, pairs: DataFrame, dim: Int = 1 << 16,
                   threshold: Double = 0.9): DataFrame = {
    val w = EmbedOps.embedSparse(docs, dim)
    pairs
      .select(col("a_id"), col("b_id"))
      .join(w.select(col("doc_id").as("a_id"), col("dim"), col("weight").as("wa")), "a_id")
      .join(w.select(col("doc_id").as("b_id"), col("dim"), col("weight").as("wb")),
        Seq("b_id", "dim"))
      .groupBy(col("a_id"), col("b_id"))
      // dim-ordered sequential fold, not sum(): partial-merge order
      // varies run to run and flips boundary values at 6 decimals
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("dim"), col("wa") * col("wb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Inverted-index cosine self-join — the alternative candidate
    * generator for corpora with LARGE, sparse vocabularies: pairs
    * materialize only where docs share a dimension. Scale defenses:
    * 2^16 hash dims (uniform keys) + `maxDfFrac` pruning of
    * stopword-type dimensions (norms still use the full vector, so
    * cos_sim is a lower bound; pairs lost to pruning share only
    * ubiquitous dims and cannot be near-dups).
    *
    * CAVEAT (measured, sf0.1): when the corpus vocabulary is small
    * (this synthetic corpus: ~31 distinct tokens), only |vocab| dims
    * are occupied regardless of `dim`, every doc shares every key,
    * and the join degenerates toward all-pairs (99 s vs 3 s for the
    * LSH-composed [[embeddingNearDup]]). Prefer this form only when
    * df profiling ([[SkewOps.keySkewProfile]]) shows a long-tailed
    * dimension distribution. */
  def embeddingNearDupIndex(docs: DataFrame, dim: Int = 1 << 16, threshold: Double = 0.9,
                            maxDfFrac: Double = 0.5): DataFrame = {
    val w = EmbedOps.embedSparse(docs, dim)
    val nDocs = docs.agg(countDistinct(col("doc_id")).cast("double").as("n_docs"))
    val keptDims = w.groupBy(col("dim")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") <= col("n_docs") * maxDfFrac)
      .select(col("dim"))
    val pruned = w.join(keptDims, "dim")
    val a = pruned.select(col("doc_id").as("a_id"), col("dim"), col("weight").as("wa"))
    val b = pruned.select(col("doc_id").as("b_id"), col("dim"), col("weight").as("wb"))
    a.join(b, Seq("dim"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(roundn(graft.functions.VectorMath.orderedSum(
        col("dim"), col("wa") * col("wb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Edit-distance VERIFY kernel — character-level Levenshtein over
    * candidate pairs, the fuzzy-match complement to token-set Jaccard
    * (catches single-character noise/OCR drift that token shingles
    * amplify). Like every quadratic kernel here it runs ONLY
    * downstream of a candidate generator.
    *
    * BANDED: distance runs through Spark's threshold form
    * `levenshtein(a, b, cap)` — the banded early-exit algorithm
    * (O(cap·min(len)) instead of O(|a|·|b|)) inside UTF8String, fully
    * codegen'd, so a far pair of ~1 kB texts costs ~cap/len of the
    * full DP table. A near-dup verifier only needs exactness NEAR
    * zero: pairs farther than `cap` edits report the SENTINEL
    * edit_dist = cap+1 (a floor on the true distance, mirrored in the
    * oracle via `least(levenshtein(…), cap+1)`), within_band = false,
    * and an edit_sim computed from the capped distance (an upper
    * bound — "this pair is not a near-dup", not a measurement).
    * Output: (a_id, b_id, edit_dist, within_band, edit_sim) with
    * edit_sim = 1 − capped_dist/max(len). */
  def editDistanceVerify(docs: DataFrame, pairs: DataFrame, cap: Int = 64): DataFrame = {
    val t = docs.select(col("doc_id"), col("text"))
    pairs.select(col("a_id"), col("b_id"))
      .join(t.select(col("doc_id").as("a_id"), col("text").as("ta")), "a_id")
      .join(t.select(col("doc_id").as("b_id"), col("text").as("tb")), "b_id")
      // ONE banded evaluation projected before use (a non-cheap
      // expression referenced more than once keeps its own projection
      // — no reliance on codegen CSE to dedupe the DP kernel);
      // threshold form returns -1 beyond the band → sentinel cap+1
      .withColumn("lev", levenshtein(col("ta"), col("tb"), cap))
      .withColumn("edit_dist",
        when(col("lev") === -1, cap + 1).otherwise(col("lev")).cast("long"))
      .select(col("a_id"), col("b_id"), col("edit_dist"),
        (col("edit_dist") <= cap).as("within_band"),
        roundn(lit(1.0) - col("edit_dist") /
          greatest(length(col("ta")), length(col("tb"))).cast("double"), 6).as("edit_sim"))
  }

  /** Connected components over near-dup PAIRS → dedup clusters: the
    * step that turns pairwise verdicts into "keep one representative
    * per group" (the reference's dedup keeps the first exact copy,
    * app_callapi.py:117-120; transitively-linked NEAR-dups need the
    * component, not the pair). Alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14): each round rewires every node's larger
    * neighbors (large-star) and then its smaller neighbors
    * (small-star) to the minimum of the neighborhood, so the distance
    * from any node to its component's minimum roughly HALVES per
    * round — O(log n) rounds instead of the O(component diameter) a
    * plain min-label propagation needs. Near-dup *chains* (A~B~C~…
    * under drift) make diameter grow with corpus size; at 100 TB each
    * extra round is a full edge-list shuffle, so the round count is
    * the scale term that matters. The component id is the smallest
    * doc_id in the cluster (edges only ever point to smaller ids, so
    * every star converges rooted at its component minimum) — the same
    * output contract as the recursive-CTE oracle.
    *
    * Scale notes: both star ops are one keyed agg + one equi-join
    * over the EDGE list (near-dup pairs — tiny relative to the
    * corpus). The agg min is map-side partial, so hub nodes (which
    * contraction deliberately creates) never skew the aggregation;
    * the hub-keyed join is AQE-skew-splittable. groupBy+join is used
    * instead of a window min precisely because a window would pin an
    * entire component's edges into one task. Convergence = the edge
    * set is a star forest (depth 1, one parent per child). The
    * parent-count check and the monotone label-sum receipt (the
    * livelock/correctness detector) share ONE groupBy(src) pass, so a
    * round costs at most two driver-blocking jobs: the fused
    * stats aggregate, plus the child-is-also-parent probe only when
    * the first check passes. */
  def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponentsWithRounds(pairs)._1

  /** Large-star: for every node u, connect each STRICTLY LARGER
    * neighbor v to min(N(u) ∪ {u}). Processes the symmetric edge
    * list, so every edge is rewired exactly once (from its smaller
    * endpoint's perspective). Output keeps the src > dst orientation
    * invariant: the emitted (v, m) has m ≤ u < v. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
    val mins = sym.groupBy(col("u"))
      .agg(least(min(col("v")), col("u")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** Small-star: for every node u (edges oriented src=u > dst), let
    * m = min of u's smaller neighbors; rewire the other smaller
    * neighbors to m and keep (u, m). Orientation is preserved: both
    * emitted edge kinds point at m, the group minimum. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("src")).agg(min(col("dst")).as("m"))
    val rewired = e.join(mins, "src")
      .filter(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
    rewired.union(mins.select(col("src"), col("m").as("dst"))).distinct()
  }

  /** [[connectedComponents]] plus the number of contraction rounds it
    * took — exposed so tests can pin the O(log n) guarantee (a
    * 200-node path converges in ~log₂ rounds, not ~200). */
  def connectedComponentsWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    val raw = pairs.select(col("a_id"), col("b_id")).persist()
    // materialize the (expensive) upstream candidate pipeline exactly
    // once; every round below touches only the checkpointed edge list.
    val nEdges = raw.count()
    val nodes = raw.select(col("a_id").as("id"))
      .union(raw.select(col("b_id").as("id")))
      .distinct().persist()
    // orient src > dst (self-pairs drop; isolated nodes rejoin at the end)
    // LAZY localCheckpoint (r15 optimization): the round's single
    // stats job materializes the checkpoint blocks as its side effect
    // — an eager checkpoint would spend one extra driver-blocking job
    // per round just to persist what the very next job reads anyway.
    var e = raw.filter(col("a_id") =!= col("b_id"))
      .select(greatest(col("a_id"), col("b_id")).as("src"),
        least(col("a_id"), col("b_id")).as("dst"))
      .distinct()
      .localCheckpoint(false)
    // Per-round stats, ONE groupBy(src) pass shared by both consumers:
    //  - label(u) = min(u, smallest incident neighbor): monotone
    //    non-increasing under both star ops (every rewire points a
    //    node at something ≤ its previous parent), so an INCREASING
    //    sum means the contraction itself is broken — the
    //    round-over-round receipt. Summed as decimal(38,0): billions
    //    of nodes carrying wide hash-derived 64-bit ids would silently
    //    wrap a Long sum and turn the receipt into garbage.
    //  - multi-parent count: a star forest needs every child to have
    //    exactly one parent.
    //  - child-is-also-parent count (depth probe): a star forest has
    //    none.
    // r15 optimization (guide §5 — the driver should block as little
    // as possible): all three statistics are branches of ONE union
    // plan collected by ONE head(), so a round costs a single
    // driver-blocking job. The previous form took two jobs (stats,
    // then the depth probe) plus a separate eager-checkpoint job —
    // 3 round-trips per round, and CC rounds sit inside ~10 declared
    // queries. converged ⇔ star forest: no child is also a parent
    // (depth 1) and every child has exactly one parent. Star forests
    // are fixpoints of both ops, and both ops preserve the original
    // component structure, so each star is exactly one component
    // rooted at its minimum.
    val decZero = lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")
    def roundStats(edges: DataFrame): (Boolean, BigDecimal) = {
      val m = edges.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"), count(lit(1)).as("c"))
      val perNode = nodes.join(m.withColumnRenamed("src", "id"), Seq("id"), "left")
        .agg(
          coalesce(sum(when(col("c") > 1, 1L)), lit(0L)).as("n_multi"),
          coalesce(sum(coalesce(col("mn"), col("id")).cast("decimal(38,0)")),
            lit(java.math.BigDecimal.ZERO)).as("label_sum"),
          lit(0L).as("n_depth2"))
      val depth = edges
        .join(m.select(col("src").as("dst")), Seq("dst"), "left_semi")
        .agg(lit(0L).as("n_multi"), decZero.as("label_sum"),
          count(lit(1)).as("n_depth2"))
      val agg = perNode.unionByName(depth)
        .agg(sum(col("n_multi")), sum(col("label_sum")), sum(col("n_depth2")))
        .head()
      val starForest = agg.getLong(0) == 0L && agg.getLong(2) == 0L
      (starForest, BigDecimal(agg.getDecimal(1)))
    }
    var rounds = 0
    try {
      // r16 (guide §5 — one fewer driver block per CC run): contract
      // FIRST, check after — the old loop spent a dedicated stats job
      // probing the raw input for the rare already-a-star-forest case,
      // but star forests are fixpoints of both ops, so speculatively
      // contracting once is a no-op pass there and the post-round
      // check detects convergence identically. The monotone label-sum
      // receipt now compares round k to round k−1 (its first
      // comparison point is rounds 1→2); the star-forest fixpoint
      // check — the correctness gate — is unchanged and still runs
      // every round. Measured: dedup graphs at sf0.1 converge in one
      // round, so this cuts the CC driver blocks from 3 to 2.
      var converged = false
      var prevSum: Option[BigDecimal] = None
      // two-phase contraction provably converges in O(log² n) rounds and
      // empirically in ~log₂ n; this cap is a defensive backstop far
      // above either, not a tuning knob
      val maxRounds = 64 + 4 * (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, nEdges)))
      while (!converged) {
        rounds += 1
        require(rounds <= maxRounds,
          s"connectedComponents: no star-forest fixpoint after $maxRounds rounds (contraction broken)")
        // lazy localCheckpoint per round: truncates the per-round plan
        // nesting AND doubles as the round's cache (blocks released by
        // the ContextCleaner once the next round drops the reference);
        // materialized BY the round's stats job, not by its own job.
        // r16 measured-and-rejected: batching TWO contractions per
        // stats check (the double-relaxation trick) ran SLOWER here
        // (dedup_clusters 7.4→8.4 s solo) — a contraction pass (two
        // groupBy+join+distinct exchanges) costs more than the one
        // fused stats aggregate it would save, at sf0.1 and at scale.
        val next = smallStar(largeStar(e)).localCheckpoint(false)
        val (conv, s) = roundStats(next)
        prevSum.foreach(p => require(s <= p,
          s"connectedComponents: label sum increased ($p -> $s) — contraction broken"))
        prevSum = Some(s)
        e = next
        converged = conv
      }
      // star forest edges ARE the labels: (child → component min); roots
      // and isolated nodes label themselves
      val result = nodes
        .join(e.select(col("src").as("id"), col("dst").as("cmp")), Seq("id"), "left")
        .select(col("id").as("doc_id"),
          coalesce(col("cmp"), col("id")).as("component_id"))
        .localCheckpoint(false)
      (result, rounds)
    } finally {
      // unpersist on every exit path — a require throw must not leak
      // the cached edge list and node set for the session's lifetime
      raw.unpersist()
      nodes.unpersist()
    }
  }

  /** Declared end-to-end dedup clustering: LSH candidates → Jaccard
    * verify → connected components. Output: every doc that belongs to
    * a near-dup cluster, with its cluster's canonical id.
    *
    * CONNECTIVITY NEEDS A STAR, NOT ALL PAIRS: unlike the
    * pair-emitting queries, clustering never expands exact families
    * into C(fam,2) member pairs — each family enters the graph as a
    * linear star (rep → member), and verified REP pairs carry the
    * cross-family links. A 10⁵-copy template family contributes 10⁵−1
    * star edges instead of ~5·10⁹ clique edges, while the component
    * set — and the min-doc_id component labels — are provably
    * identical: a family star connects exactly what its clique
    * connects, family reps are family minima, and every member of a
    * shingled ≥2 family (the only docs the clique form would touch)
    * appears as a star leaf. */
  def dedupClusters(docs: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    val members = exactFamilies(docs).localCheckpoint(false)
    val reps = repDocsOf(docs, members)
    // ONE shared shingle DataFrame (see [[distinctShingles]])
    val sh = distinctShingles(reps, 3)
    val repVer = jaccardVerifyFromShingles(sh,
      bandCandidatesFromShingles(sh, 12, 3), minJaccard)
      .select(col("a_id"), col("b_id"))
    // stars only for families that would have formed intra pairs:
    // fam_size ≥ 2 (implied by doc_id ≠ rep_id) and a shingled rep
    val stars = members.filter(col("doc_id") =!= col("rep_id"))
      .join(shingleCountsFromShingles(sh).select(col("doc_id").as("rep_id")), "rep_id")
      .select(col("rep_id").as("a_id"), col("doc_id").as("b_id"))
    connectedComponents(repVer.unionByName(stars))
  }

  /** INCREMENTAL connected-components maintenance — the dedup tier's
    * last non-incremental stage closed ([[incrementalCandidates]]
    * yields batch-touching pairs; [[dedupClusters]] labels still
    * required a full rerun): merge the arriving batch's VERIFIED
    * pairs into the PERSISTED star-forest labels (`oldLabels`, a
    * prior [[dedupClusters]] artifact) without re-verifying or
    * re-contracting the untouched corpus.
    *
    * The merge form: each persisted component whose members a new
    * pair touches re-enters the graph as its LABEL STAR
    * (component_id → member, the [[exactFamilies]] star trick at the
    * component tier — connectivity-equal to the component's original
    * edge set, and depth 1 so contraction re-converges in O(1)
    * rounds unless new pairs chain components); components no new
    * pair touches pass through UNCHANGED — their min-id labels
    * cannot move when no edge reaches them. Per-ingest cost is
    * ∝ batch (candidate gen + verify) + touched components
    * (star edges into the contraction), never ∝ corpus.
    *
    * Correctness (the `ann_incremental` merged ≡ rebuild identity,
    * oracle-pinned by sharing `dedup_clusters`' full-recompute
    * oracle): signatures and Jaccard are pure functions of text, so
    * the full corpus's verified-pair set = (old-old pairs) ∪
    * (batch-touching pairs); `oldLabels`' star forest has exactly
    * the old-old components, and CC of a graph is invariant under
    * replacing a subgraph by anything with the same connectivity —
    * and the contraction re-derives each merged component's label as
    * its min doc_id over the FULL merged node set, so labels agree
    * with the rebuild whichever side the minimum lives on.
    *
    * Scale shape: candidate gen is
    * [[incrementalCandidatesFromIndex]]'s equi-join — the batch's
    * buckets stream against the PERSISTED index (`oldBuckets`, the
    * same artifact `lsh_maintenance_plan` audits; never rebuilt
    * here); the Jaccard verify shingles ONLY the candidate pairs'
    * endpoint docs (a semi-join gate — the corpus's texts are never
    * re-shingled); the touched / untouched split is two label-table
    * joins keyed on the uniform component_id; contraction runs on
    * |batch pairs| + |touched members| edges. At 100 TB `oldLabels`
    * and `oldBuckets` are the bucketed persisted tables and the
    * batch is a day's ingest — every stage is batch-proportional. */
  def dedupClustersIncremental(oldLabels: DataFrame, oldBuckets: DataFrame,
                               oldDocs: DataFrame, newDocs: DataFrame,
                               minJaccard: Double = 0.5): DataFrame = {
    val cand = incrementalCandidatesFromIndex(oldBuckets, newDocs)
      .select(col("a_id"), col("b_id"))
      .localCheckpoint(false)
    val endpoints = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    val pairDocs = oldDocs.unionByName(newDocs)
      .join(endpoints, Seq("doc_id"), "left_semi")
    val newPairs = jaccardVerify(pairDocs, cand, 3, minJaccard)
      .select(col("a_id"), col("b_id"))
      .localCheckpoint(false)
    val touchedDocs = newPairs.select(col("a_id").as("doc_id"))
      .union(newPairs.select(col("b_id").as("doc_id"))).distinct()
    val touchedComponents = oldLabels.join(touchedDocs, Seq("doc_id"), "left_semi")
      .select(col("component_id")).distinct()
    val touched = oldLabels
      .join(touchedComponents, Seq("component_id"), "left_semi")
    val untouched = oldLabels
      .join(touchedComponents, Seq("component_id"), "left_anti")
    // every persisted component has ≥2 members (labels only exist for
    // docs that appeared in an edge), so its star is non-empty and
    // carries the root as an endpoint
    val stars = touched.filter(col("doc_id") =!= col("component_id"))
      .select(col("component_id").as("a_id"), col("doc_id").as("b_id"))
    connectedComponents(newPairs.unionByName(stars))
      .unionByName(untouched.select(col("doc_id"), col("component_id")))
  }

  /** Row-local JVM twin of the [[minhashSignatures]] → [[lshBuckets]]
    * pipeline for ONE document — the streaming LSH kernel: a doc's
    * signature depends only on its own text, so the stream computes
    * it in a flatMap and only the BUCKET MEMBERSHIP needs keyed
    * state. Bit-equal to the batch SQL (spec-pinned): same tokenize
    * (first 512 raw space-separated parts, trimmed, blanks dropped —
    * EmbedOps.tokenize's contract), same distinct w-shingles, same
    * universal hash family over [[graft.functions.PortableHash]]'s
    * sha-derived base hash, same seed-ordered band signature. Returns
    * "band#minh-minh-minh" keys; empty for docs below w tokens
    * (no shingles → no signature → no buckets, as in batch). */
  def bandKeysJvm(text: String, numHashes: Int = 12, rowsPerBand: Int = 3,
                  w: Int = 3): Seq[String] = {
    val toks = text.split(" ", -1).take(512).map(_.trim).filter(_.nonEmpty)
    if (toks.length < w) return Nil
    val shingles = (0 to toks.length - w).map(i => toks.slice(i, i + w).mkString(" ")).distinct
    val p = MinhashPrime
    val sig = Array.fill(numHashes)(Long.MaxValue)
    shingles.foreach { sh =>
      val h0 = graft.functions.PortableHash.hash24Jvm(sh)
      var s = 0
      while (s < numHashes) {
        val v = (((s + 1) * 2654435761L % p) * h0 + ((s + 1) * 40503L + 12345L) % p) % p
        if (v < sig(s)) sig(s) = v
        s += 1
      }
    }
    sig.grouped(rowsPerBand).zipWithIndex
      .map { case (g, b) => s"$b#${g.mkString("-")}" }.toSeq
  }

  /** Band-bucket size profile — the measurement that decides whether
    * the within-bucket pair stage needs the capped fallback: top-n
    * LSH buckets by occupancy with their share, via
    * [[SkewOps.keySkewProfile]] over the (band, band_sig) bucket key.
    * Run it over the REPRESENTATIVE docs (post [[exactFamilies]]
    * routing — the declared `lsh_bucket_profile` query does): a
    * bucket of size s contributes ~s²/2 candidate rows, so any bucket
    * whose share makes s² rival the corpus size is the signal to
    * switch the clustering path to [[clusterCandidatesCapped]]. */
  def lshBucketProfile(docs: DataFrame, numHashes: Int = 12, rowsPerBand: Int = 3,
                       w: Int = 3, topN: Int = 10): DataFrame = {
    val members = exactFamilies(docs).localCheckpoint(false)
    SkewOps.keySkewProfile(
      lshBuckets(minhashSignatures(repDocsOf(docs, members), numHashes, w), rowsPerBand)
        .select(concat_ws("#", col("band"), col("band_sig")).as("bucket")),
      "bucket", topN)
  }

  /** LSH-tier maintenance plan — `index_maintenance_plan`'s sibling
    * on the lexical axis (the r14 verdict's framing: the ANN tier has
    * its drift→refresh→priced-migration row; the lexical tier had the
    * measurement ([[lshBucketProfile]]) but not the decision). One
    * replayable row wiring three questions:
    *
    *  - DRIFT: has the persisted bucket index's occupancy profile
    *    drifted from a fresh banding of today's corpus? Measured as
    *    the L1 distance (integer micro grid) between the two
    *    bucket-SIZE share histograms, sizes capped at `sizeCap` (the
    *    tail lumps — occupancy shape, not raw counts, is what decays
    *    detection probability as near-dup density shifts).
    *  - REFRESH: the boolean, occ_l1_micro > tauMicro — the tau
    *    stated in the row's contract, not buried in a runbook.
    *  - MIGRATION PRICE of changing r×b: re-banding `rowsPerBandCur`
    *    → `rowsPerBandNew` re-keys every indexed doc; the census
    *    prices it as bucket-row counts (index bytes) and the
    *    Σ C(size,2) candidate-pair bound (the quadratic verify work
    *    the new banding would admit) under BOTH bandings.
    *
    * Determinism: every metric is an integer count or an integer-
    * micro share; the boolean compares integers. The oracle rebuilds
    * the base index from scratch, so a stale persisted artifact is a
    * hash mismatch (the load-or-create convention).
    *
    * Scale shape: signatures compute once ([[minhashSignatures]]'s
    * one shingle-keyed shuffle) and both bandings are map-side
    * regroupings of the same 12 minhashes; every census is a keyed
    * agg with map-side partials on (band, band_sig) — uniform keys;
    * the final row is a crossJoin of 1-row aggregates. */
  def lshMaintenancePlan(oldBuckets: DataFrame, docs: DataFrame,
                         numHashes: Int = 12, rowsPerBandCur: Int = 3,
                         rowsPerBandNew: Int = 2, w: Int = 3,
                         sizeCap: Int = 8, tauMicro: Long = 50000L): DataFrame = {
    val sigs = minhashSignatures(docs, numHashes, w).localCheckpoint(false)
    val fresh = lshBuckets(sigs, rowsPerBandCur).localCheckpoint(false)
    val reband = lshBuckets(sigs, rowsPerBandNew)
    def bucketSizes(b: DataFrame): DataFrame =
      b.groupBy(col("band"), col("band_sig")).agg(count(lit(1)).as("sz"))
    def occShares(sizes: DataFrame, shareCol: String): DataFrame =
      graft.functions.ShareCensus.microShares(
        sizes.select(least(col("sz"), lit(sizeCap.toLong)).as("szc")),
        "szc", shareCol)
    def pairBound(sizes: DataFrame, name: String): DataFrame =
      sizes.agg(coalesce(sum(expr("sz * (sz - 1) div 2")), lit(0L)).as(name))
    val oldSizes = bucketSizes(oldBuckets).localCheckpoint(false)
    val freshSizes = bucketSizes(fresh).localCheckpoint(false)
    // both re-banding consumers (row census + pair bound) read the
    // checkpointed SIZE table — without it the full-corpus banding
    // executed twice; bucket rows = Σ sz exactly
    val rebandSizes = bucketSizes(reband).localCheckpoint(false)
    val drift = graft.functions.ShareCensus.microShareL1(
      occShares(oldSizes, "a"), occShares(freshSizes, "b"),
      "szc", "occ_l1_micro")
    drift
      .crossJoin(broadcast(oldBuckets.agg(
        countDistinct(col("doc_id")).as("n_docs_indexed"))))
      .crossJoin(broadcast(fresh.agg(
        countDistinct(col("doc_id")).as("n_docs_corpus"),
        count(lit(1)).as("bucket_rows_cur"))))
      .crossJoin(broadcast(rebandSizes.agg(
        coalesce(sum(col("sz")), lit(0L)).as("bucket_rows_new"))))
      .crossJoin(broadcast(pairBound(freshSizes, "cand_pairs_cur")))
      .crossJoin(broadcast(pairBound(rebandSizes, "cand_pairs_new")))
      .withColumn("refresh", col("occ_l1_micro") > tauMicro)
      .select(col("n_docs_indexed"), col("n_docs_corpus"), col("occ_l1_micro"),
        col("refresh"), col("bucket_rows_cur"), col("bucket_rows_new"),
        col("cand_pairs_cur"), col("cand_pairs_new"))
  }

  /** Bucket-capped candidate generation for the CLUSTERING path — the
    * documented fallback when even the post-routing residue holds a
    * mega NEAR-dup family (10⁵ distinct-but-near-identical template
    * variants co-bucketing in every band). Buckets at or below
    * `maxBucket` enumerate pairs as usual; over-cap buckets emit a
    * linear STAR to the bucket's min doc_id instead of s²/2 pairs —
    * sufficient for connectivity (the clustering consumer), not for
    * the pair contract, which is why this is a separate entry point
    * and not a default inside [[minhashCandidates]].
    *
    * Semantics note (the documented approximation): downstream verify
    * sees (bucketMin, member) edges only, so two over-cap members
    * whose similarity passes the threshold pairwise but NOT via the
    * bucket representative can land in different components. For
    * template families — near-identical by construction — the star
    * transitively verifies; profile first ([[lshBucketProfile]]),
    * cap only what the measurement says is a family. */
  def clusterCandidatesCapped(docs: DataFrame, maxBucket: Int,
                              numHashes: Int = 12, rowsPerBand: Int = 3,
                              w: Int = 3): DataFrame =
    clusterCandidatesCappedFromShingles(distinctShingles(docs, w), maxBucket,
      numHashes, rowsPerBand)

  /** [[clusterCandidatesCapped]] over a precomputed shingle table. */
  private[ops] def clusterCandidatesCappedFromShingles(sh: DataFrame, maxBucket: Int,
                                                       numHashes: Int,
                                                       rowsPerBand: Int): DataFrame = {
    val buckets = lshBuckets(minhashSignaturesFromShingles(sh, numHashes), rowsPerBand)
      .localCheckpoint(false)
    val sizes = buckets.groupBy(col("band"), col("band_sig"))
      .agg(count(lit(1)).as("bsize"), min(col("doc_id")).as("bmin"))
    val sized = buckets.join(sizes, Seq("band", "band_sig"))
    val small = sized.filter(col("bsize") <= maxBucket)
    val a = small.select(col("doc_id").as("a_id"), col("band"), col("band_sig"))
    val b = small.select(col("doc_id").as("b_id"), col("band"), col("band_sig"))
    val smallPairs = a.join(b, Seq("band", "band_sig"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    val starPairs = sized.filter(col("bsize") > maxBucket && col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("a_id"), col("doc_id").as("b_id"))
    smallPairs.unionByName(starPairs).distinct()
  }

  /** Clustering with the bucket cap engaged end-to-end: capped
    * candidates over exact-family reps → Jaccard verify → family
    * stars → components. The 100 TB shape of [[dedupClusters]]; see
    * [[clusterCandidatesCapped]] for the semantics it trades. */
  def dedupClustersCapped(docs: DataFrame, maxBucket: Int,
                          minJaccard: Double = 0.5): DataFrame = {
    val members = exactFamilies(docs).localCheckpoint(false)
    val reps = repDocsOf(docs, members)
    // ONE shared shingle DataFrame (see [[distinctShingles]])
    val sh = distinctShingles(reps, 3)
    val repVer = jaccardVerifyFromShingles(sh,
      clusterCandidatesCappedFromShingles(sh, maxBucket, 12, 3), minJaccard)
      .select(col("a_id"), col("b_id"))
    val stars = members.filter(col("doc_id") =!= col("rep_id"))
      .join(shingleCountsFromShingles(sh).select(col("doc_id").as("rep_id")), "rep_id")
      .select(col("rep_id").as("a_id"), col("doc_id").as("b_id"))
    connectedComponents(repVer.unionByName(stars))
  }

  /** Prefix-filter candidate generation (AllPairs/PPJoin family,
    * Bayardo et al. WWW'07) — the DETERMINISTIC alternative to
    * [[minhashCandidates]]: for Jaccard threshold `t`, order each
    * document's shingles by ascending global frequency and keep only
    * the first |d| − ⌈t·|d|⌉ + 1 ("prefix"); two documents with
    * Jaccard ≥ t MUST share a prefix shingle (pigeonhole on the
    * rarest-first order), so the candidate set has NO false negatives
    * — a guarantee MinHash only offers probabilistically — at the
    * cost of candidate counts that grow with document similarity
    * skew instead of being band-tunable.
    *
    * Scale shape: the pair join runs on PREFIX shingles only, and
    * the df-ascending order puts the RAREST shingles in prefixes —
    * join keys are low-frequency by construction, the opposite of a
    * skew magnet (the df table itself is one token-keyed agg). The
    * per-doc ranking window is partitioned by doc_id (uniform). */
  def prefixFilterCandidates(docs: DataFrame, t: Double = 0.5, w: Int = 3): DataFrame = {
    val sh = wordShingles(docs, w).select(col("doc_id"), col("shingle")).distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val rankW = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))
    val prefix = sh
      .join(dfreq, "shingle")
      .withColumn("rk", row_number().over(rankW).cast("long"))
      .join(sizes, "doc_id")
      .filter(col("rk") <= col("n") - ceil(col("n") * t) + 1)
      // df = 1 shingles can never be SHARED, so they cannot produce a
      // pair — dropping them after the rank is result-identical (the
      // rank itself must still see them) and shrinks the self-join's
      // input to the shared sliver of the vocabulary
      .filter(col("df") >= 2)
      .select(col("doc_id"), col("shingle"), col("rk"), col("n"))
      // the self-join below would otherwise plant the whole
      // rank-window pipeline in the plan TWICE; the filtered prefix
      // table is the shared sliver — materialize it once
      .localCheckpoint(false)
    prefix
      .select(col("doc_id").as("a_id"), col("shingle"),
        col("rk").as("rka"), col("n").as("na"))
      .join(prefix.select(col("doc_id").as("b_id"), col("shingle"),
        col("rk").as("rkb"), col("n").as("nb")), "shingle")
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared_prefix"),
        max(col("rka")).as("mra"), max(col("rkb")).as("mrb"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      // Spark-side-only pruning of pairs that CANNOT reach J ≥ t —
      // result-identical (verify would drop them), so the oracle
      // keeps the plain form. Both are the standard AllPairs/PPJoin
      // bounds, and both matter on low-entropy corpora where shingle
      // collisions inflate the raw candidate set:
      //  - LENGTH: J ≥ t forces t·|a| ≤ |b| and t·|b| ≤ |a|;
      //  - POSITIONAL: every shared shingle has prefix rank ≤ the
      //    pair's max observed rank, so overlap ≤ n_shared_prefix +
      //    (n − max_rk) on each side; J ≥ t needs overlap ≥
      //    t/(1+t)·(na+nb). df-ASCENDING prefix order puts COMMON
      //    shingles late, so junk pairs (shared common shingles only)
      //    have max_rk near the prefix end and fail this bound.
      .filter(col("nb") >= ceil(col("na") * t) && col("na") >= ceil(col("nb") * t))
      .filter(
        least(col("n_shared_prefix") + col("na") - col("mra"),
          col("n_shared_prefix") + col("nb") - col("mrb"))
          >= ceil((col("na") + col("nb")) * lit(t / (1.0 + t))))
      .select(col("a_id"), col("b_id"), col("n_shared_prefix"))
  }

  /** Declared composed form: prefix-filter candidates → exact Jaccard
    * verify at the SAME threshold the prefixes were sized for (the
    * no-false-negative guarantee makes verified output EXACTLY the
    * set of pairs with Jaccard ≥ t — not a sample of it). */
  def prefixFilterNearDup(docs: DataFrame, t: Double = 0.5, w: Int = 3): DataFrame =
    jaccardVerify(docs, prefixFilterCandidates(docs, t, w), w, t,
      passthrough = Seq("n_shared_prefix"))
      .select(col("a_id"), col("b_id"), col("n_shared_prefix"), col("inter"), col("jaccard"))

  /** PageRank over an undirected edge list — the graph-centrality
    * sibling of [[connectedComponents]]: where components answer
    * "which docs are the same?", PageRank over the near-dup graph
    * answers "which doc is the TEMPLATE?" (a boilerplate page that
    * near-matches many distinct documents out-ranks its copies —
    * the canonical-representative picker for template-heavy web
    * corpora). Standard damped power method, fixed `iters` rounds:
    * pr ← (1−d) + d·Σ_nbr pr(nbr)/deg(nbr), pr₀ = 1.
    *
    * Determinism: pr is rounded to 6dp after every round, each
    * contribution is one double division, and the per-node fold sums
    * neighbor contributions in neighbor-id order
    * ([[graft.functions.VectorMath.orderedSum]] — neighbor ids are
    * unique per target, so the sequential fold is well-defined and
    * the DuckDB oracle unrolls the identical iterations).
    *
    * Scale shape: each round is one equi-join of the edge list
    * against the |nodes|-row rank table plus one dst-keyed agg — the
    * [[connectedComponents]] cost family (edges are near-dup pairs,
    * tiny vs the corpus). Fixed iteration count ⇒ a statically
    * unrolled plan, no driver-side convergence loop; degrees join in
    * once, pre-divided so each round moves (dst, contribution) pairs
    * only. */
  def pageRank(pairs: DataFrame, iters: Int = 3, damping: Double = 0.85): DataFrame = {
    // materialize the (expensive) upstream candidate pipeline exactly
    // once — the unrolled iterations below reference the edge list
    // ~4 times per round, and lineage truncation keeps the candidate
    // subtree out of every one of them (same rationale as
    // connectedComponents; blocks are freed by the ContextCleaner
    // when the result is dropped)
    val edges = pairs.select(col("a_id"), col("b_id")).localCheckpoint(false)
    val und = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // (1 − d) via BigDecimal: the oracle writes the decimal literal
    // 0.15, which DuckDB folds EXACTLY in decimal before widening to
    // double — Scala's 1.0 - 0.85 would differ in the last ulp
    val base = (BigDecimal(1) - BigDecimal(damping)).toDouble
    var pr = deg.select(col("src").as("id"), lit(1.0).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = und
        .join(pr.select(col("id").as("src"), col("pr")), "src")
        .join(deg, "src")
        .select(col("dst"), col("src"), (col("pr") / col("deg")).as("c"))
      pr = contrib
        .groupBy(col("dst"))
        .agg(roundn(lit(base) +
          lit(damping) * graft.functions.VectorMath.orderedSum(col("src"), col("c")), 6)
          .as("pr"))
        .select(col("dst").as("id"), col("pr"))
    }
    pr.select(col("id").as("doc_id"), col("pr").as("pagerank"))
  }

  /** Declared form: PageRank over the verified near-dup graph. */
  def dedupPageRank(docs: DataFrame, iters: Int = 3, minJaccard: Double = 0.5): DataFrame =
    pageRank(nearDupVerified(docs, minJaccard = minJaccard), iters)

  /** Synchronous LABEL PROPAGATION (Raghavan et al. '07) over an
    * undirected edge list — the community-structure lens between
    * [[connectedComponents]] (which fuses everything reachable) and
    * [[pageRank]] (which ranks inside the blob): after k synchronous
    * rounds of "adopt the most frequent neighbor label", two template
    * families bridged by one incidental near-dup edge keep DISTINCT
    * labels while a component collapses them — the diagnostic for
    * "is this dup cluster one family or several stitched together?".
    *
    * Determinism (classic LPA is notoriously order-dependent; this
    * one is not): updates are SYNCHRONOUS (round t reads only round
    * t−1 labels — no within-round adoption order), and the per-node
    * argmax breaks ties (count desc, label asc), so every round is a
    * pure function of the previous label table and the DuckDB oracle
    * unrolls identical rounds. Labels start as node ids. Fixed k
    * rounds (statically unrolled plan), not run-to-convergence — the
    * same training-depth-as-parameter stance as `bpe_vocab_size`.
    *
    * Scale shape: each round is one edge⋈label equi-join + one
    * (dst, label)-keyed count + one per-dst argmax window (dst axis —
    * uniform); edge list is near-dup pairs, tiny vs the corpus, and
    * localCheckpointed once like [[pageRank]]. */
  def labelPropagation(pairs: DataFrame, iters: Int = 4): DataFrame = {
    val edges = pairs.select(col("a_id"), col("b_id")).localCheckpoint(false)
    val und = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
    var lab = und.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    for (_ <- 1 to iters) {
      val votes = und
        .join(lab.select(col("id").as("src"), col("label")), "src")
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("n"))
      lab = Rank.top(votes, Seq(col("dst")), Seq(col("n").desc, col("label")), lit(1))
        .select(col("dst").as("id"), col("label"))
    }
    lab.select(col("id").as("doc_id"), col("label").as("community"))
  }

  /** Declared form: label-propagation communities over the verified
    * near-dup graph. */
  def dedupCommunities(docs: DataFrame, iters: Int = 4,
                       minJaccard: Double = 0.5): DataFrame =
    labelPropagation(nearDupVerified(docs, minJaccard = minJaccard), iters)

  /** k-core numbers over an undirected edge list — the density-tier
    * triage beside [[pageRank]]/[[labelPropagation]]/[[triangleStats]]
    * on the near-dup graph: boilerplate/template farms sit in high
    * cores (every member near-dups many others), accidental LSH
    * collisions and threshold-straddlers in the 1-core fringe.
    *
    * Algorithm: the h-operator iteration (Lü et al., Nature Comm.
    * 2016 — "the H-index of a network node"): c₀(v) = deg(v), then
    * c_{r+1}(v) = H({c_r(u) : u ∈ N(v)}), the largest h such that ≥ h
    * neighbors carry value ≥ h, computed as max(min(value, rank))
    * over the desc-ranked neighbor values. The iterate decreases
    * monotonically and converges to the coreness — equivalent to the
    * min-degree peel but synchronous (one keyed agg + one bounded
    * window per round, no sequential peel order). The result is the
    * `rounds`-round iterate, PINNED (the bpe_vocab_size fixed-depth
    * stance); convergence depth is the graph's peel-chain length —
    * duplicate families are clique-like (depth ~1-2) and 8 rounds
    * peels any chain appendage up to ~16 nodes; at 100 TB run to
    * fixpoint on the [[connectedComponentsWithRounds]] cadence
    * instead of a fixed unroll.
    *
    * Determinism: values are integers; ties in the desc rank permute
    * rows only WITHIN equal values, and min(v, rank) over a
    * value-tied block is permutation-invariant, so the max is exact
    * on both engines regardless of tie order.
    *
    * Scale shape: everything runs on the verified-pair list (tiny vs
    * the corpus — the [[pageRank]] precondition); each round is one
    * dst-keyed broadcast-or-shuffle join + one src-keyed agg;
    * lineage checkpoints every 4 rounds. */
  def kCoreNumbers(pairs: DataFrame, rounds: Int = 8): DataFrame = {
    val edges = pairs.select(col("a_id"), col("b_id")).localCheckpoint(false)
    val und = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint(false)
    val deg = und.select(col("src").as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("c"))
    var core = deg
    for (i <- 1 to rounds) {
      core = und
        .join(core.select(col("id").as("dst"), col("c").as("nc")), "dst")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("nc").desc, col("dst")))
          .cast("long"))
        .groupBy(col("src"))
        .agg(max(least(col("nc"), col("rn"))).as("c"))
        .select(col("src").as("id"), col("c"))
      if (i % 4 == 0) core = core.localCheckpoint(false)
    }
    deg.select(col("id"), col("c").as("degree"))
      .join(core.select(col("id"), col("c").as("core")), "id")
      .select(col("id").as("doc_id"), col("degree"), col("core"))
  }

  /** Declared form: k-core decomposition of the verified near-dup
    * graph. */
  def dedupKCore(docs: DataFrame, rounds: Int = 8,
                 minJaccard: Double = 0.5): DataFrame =
    kCoreNumbers(nearDupVerified(docs, minJaccard = minJaccard), rounds)

  /** Benchmark decontamination — flag corpus documents sharing
    * winnowing fingerprints with a held-out benchmark set (the check
    * every pretraining pipeline runs so eval data doesn't leak into
    * training data). The benchmark side reduces to its DISTINCT
    * fingerprint set (small — broadcast-able); the corpus side joins
    * on the fingerprint hash. Output: (doc_id, n_shared_fp) for
    * corpus docs at or above `minShared`. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, w: Int = 3,
                    window: Int = 4, minShared: Long = 1): DataFrame = {
    val bfp = winnowFingerprints(benchmark, w, window).select(col("fp")).distinct()
    winnowFingerprints(corpus, w, window)
      .join(bfp, "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= minShared)
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    * hash every w-shingle, slide a window of `window` consecutive
    * shingle hashes, keep each window's minimum, emit the distinct
    * selected hashes per doc. Robust to small edits — the local-min
    * property survives shifting. */
  def winnowFingerprints(docs: DataFrame, w: Int = 3, window: Int = 4): DataFrame = {
    val hashed = wordShingles(docs, w)
      .withColumn("h", PortableHash.hash24(col("shingle")))
    val frame = Window
      .partitionBy(col("doc_id"))
      .orderBy(col("pos"))
      .rowsBetween(Window.currentRow, window - 1)
    hashed
      .withColumn("fp", min(col("h")).over(frame))
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** Bloom-gated decontamination — the 100 TB shape of
    * [[decontaminate]], inverted to return the CLEAN set. Plain
    * decontaminate shuffles EVERY corpus fingerprint into the
    * benchmark join; here the (small-by-definition) benchmark
    * fingerprint set folds into a Bloom filter once
    * (`DataFrameStatFunctions.bloomFilter` — distributed aggregate,
    * only the ~`ln(1/fpp)·n/ln2²`-bit sketch reaches the driver),
    * which broadcasts to every executor, and the corpus side is
    * pre-filtered MAP-ONLY: only true hits plus an `fpp` sliver of
    * false positives ever enter the exact verify join. The verify
    * join restores exact semantics — Bloom false positives are
    * eliminated there, so the output is bit-identical to the
    * exact anti-join the oracle runs (false negatives don't exist
    * in a Bloom filter).
    *
    * The corpus is winnowed ONCE: the gate rides inside the per-doc
    * aggregation (count every fp, collect only the gated suspect
    * sliver — bounded per doc by true hits + fpp of its fps), so the
    * expensive shingle/window subtree has a single consumer instead
    * of one pass for the count and another for the gate (measured
    * 2.4 s → ~1.2 s at sf0.1). The exploded suspects then verify
    * against the exact benchmark set and a doc is dirty iff any
    * suspect survives.
    *
    * Returns (doc_id, n_fp): corpus documents sharing NO winnowed
    * fingerprint with the benchmark, with their fingerprint count.
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, w: Int = 3,
                         window: Int = 4, fpp: Double = 0.01): DataFrame = {
    // the benchmark fp set has THREE consumers (sizing count, Bloom
    // build, verify join) — materialize its winnow pipeline once with
    // an eager localCheckpoint (blocks are reclaimed by the
    // ContextCleaner when the result is dropped, same pattern as
    // connectedComponents' iteration caches)
    val bfp = winnowFingerprints(benchmark, w, window).select(col("fp")).distinct()
      .localCheckpoint(false)
    val expected = math.max(1L, bfp.count())
    val bloom = bfp.stat.bloomFilter("fp", expected, fpp)
    val bloomBc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((fp: Long) => bloomBc.value.mightContainLong(fp))
    val perDoc = winnowFingerprints(corpus, w, window)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_fp"),
        // map-side gate: clean fps collapse into count partials and
        // never shuffle as values; collect_set drops the when()'s
        // nulls, keeping only the suspect sliver
        collect_set(when(mightContain(col("fp")), col("fp"))).as("suspect_fps"))
    perDoc
      // explode_outer keeps suspect-free docs (fp = null joins nothing)
      .select(col("doc_id"), col("n_fp"), explode_outer(col("suspect_fps")).as("fp"))
      .join(bfp.withColumn("hit", lit(1)), Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_fp")).as("n_fp"), max(col("hit")).as("dirty"))
      .filter(col("dirty").isNull) // no suspect verified → clean
      .select(col("doc_id"), col("n_fp"))
  }

  /** Exact duplicated-substring coverage (Lee et al., ACL'22: exact
    * substring dedup removes spans repeated verbatim across training
    * documents). Suffix arrays — the paper's tool — don't distribute;
    * the scale-equivalent relational form hashes every w-token window
    * and calls a window duplicated when its text occurs in >= 2
    * DISTINCT documents (intra-doc repeats are self-repetition,
    * [[graft.ops.TextOps.repetitionScore]]'s job, not dedup). Per doc
    * the duplicated windows are collapsed to their interval UNION via
    * one lag window — consecutive overlapping windows must not double
    * count the tokens they share — yielding the span fraction a
    * span-removal pass would excise.
    *
    * Scale shape: hash-keyed shuffles only (shingle vocab join,
    * window-frequency agg, join-back, per-doc lag window); no
    * driver-side state, no quadratic step anywhere — the 100 TB cost
    * is O(corpus tokens) rows through three uniform shuffles. */
  def substringDupCoverage(docs: DataFrame, w: Int = 8): DataFrame = {
    // hash windows DIRECTLY — no vocab-distinct join: unlike the w=3
    // minhash shingles, 8-token windows are nearly all unique, so a
    // distinct-then-join "dedup" of sha calls is as large as the data
    // and costs two extra shuffles for nothing
    val hashed = wordShingles(docs, w)
      .select(col("doc_id"), col("pos"), PortableHash.hash24(col("shingle")).as("h"))
    val dupHashes = hashed
      .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cov = hashed.join(dupHashes, "h")
      // interval union: each duplicated window adds min(w, gap to the
      // previous duplicated window); the first adds w
      .withColumn("gap", col("pos") - lag(col("pos"), 1).over(byPos))
      .withColumn("contrib",
        when(col("gap").isNull, lit(w.toLong))
          .otherwise(least(lit(w.toLong), col("gap"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_windows"), sum(col("contrib")).as("dup_tokens"))
    EmbedOps.tokenize(docs)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        roundn(coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"), 6)
          .as("dup_fraction"))
  }
  /** Exact duplicated-substring EXCISION — the removal pass
    * [[substringDupCoverage]]'s census plans for (Lee et al., ACL'22:
    * the cleaned corpus, not just the fraction): every token covered
    * by any cross-document duplicated w-window is cut, the survivors
    * re-join in position order. Coverage resolves with ONE ordered
    * pass per doc: duplicated window STARTS and tokens merge into a
    * single position-ordered stream (starts sort first at equal pos),
    * a running max carries the latest start, and a token is covered
    * iff that start is within w positions — the asof-join-in-one-sort
    * trick, no token×interval range join. Reassembly is an exact
    * order-free fold (sort_array over (pos, tok) structs), so the
    * cleaned string never depends on partition merge order. A fully
    * duplicated doc (an exact-dup family member) excises to the empty
    * string, kept explicitly via the left join.
    *
    * Scale shape: identical cost family to the census — hash-keyed
    * shuffles only (window-frequency agg, join-back, one per-doc
    * ordered window, one doc-keyed fold); O(corpus tokens) rows, no
    * quadratic step. Invariant (spec-pinned): n_kept = n_tokens −
    * the census's dup_tokens. */
  def substringExcise(docs: DataFrame, w: Int = 8): DataFrame = {
    val hashed = wordShingles(docs, w)
      .select(col("doc_id"), col("pos"), PortableHash.hash24(col("shingle")).as("h"))
    val dup = hashed
      .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val starts = hashed.join(dup, "h")
      .select(col("doc_id"), col("pos"),
        lit(null).cast("string").as("tok"), lit(1).as("is_start"))
    val toks = EmbedOps.tokenize(docs)
    val stream = toks
      .select(col("doc_id"), col("pos"), col("tok"), lit(0).as("is_start"))
      .unionByName(starts)
    val byPos = Window.partitionBy(col("doc_id"))
      .orderBy(col("pos"), col("is_start").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = stream
      .withColumn("last_start",
        max(when(col("is_start") === 1, col("pos"))).over(byPos))
      .filter(col("is_start") === 0 &&
        (col("last_start").isNull || col("last_start") <= col("pos") - w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(pos, tok)))," +
          " x -> x.tok), ' ')").as("cleaned_text"))
    toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** Jaccard threshold-sensitivity receipt — the error-curve
    * convention on the near-dup tier's ONE free parameter (the
    * [[graft.ops.VectorOps.semdedupCurve]] sibling on the lexical
    * axis): candidates and every exact Jaccard verify ONCE at the
    * loosest threshold, each curve point filters the checkpointed
    * verified-pair table and counts surviving pairs, touched docs,
    * and the smaller-id-representative prune estimate. The curve is
    * what a 0.5-vs-0.8 threshold decision is made on before a dedup
    * pass ships — and the decision itself ships WITH the evidence
    * (the k_anon_ladder convention): `chosen` flags the SMALLEST
    * threshold whose kept fraction is ≥ `keepTarget` (the most
    * aggressive dedup that still keeps the budgeted corpus share),
    * falling back to the loosest-pruning (largest) threshold when no
    * point meets the target. The flag is a window over the
    * ≤|thresholds|-row curve — bounded, like every declared
    * unpartitioned window in PLANS.md. */
  def dedupThresholdCurve(docs: DataFrame,
                          thresholds: Seq[Double] = Seq(0.5, 0.7, 0.9),
                          keepTarget: Double = 0.8): DataFrame = {
    val verified = nearDupVerified(docs, minJaccard = thresholds.min)
      .localCheckpoint(false)
    val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val curve = thresholds.map { t =>
      verified.filter(col("jaccard") >= t)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("b_id")).as("n_pruned"))
        .crossJoin(broadcast(n))
        .select(lit(math.round(t * 1e6)).as("threshold_micro"),
          col("n_pairs"), col("n_pruned"),
          (col("n_docs") - col("n_pruned")).as("n_kept"),
          expr("((n_docs - n_pruned) * 1000000L) div n_docs").as("kept_micro"))
    }.reduce(_ unionByName _)
    withChosenThreshold(curve, math.round(keepTarget * 1e6))
  }

  /** The shared chosen-θ rule over a (threshold_micro, kept_micro)
    * curve: smallest threshold with kept_micro ≥ target, else the
    * largest threshold. Global window over the bounded curve frame. */
  private[ops] def withChosenThreshold(curve: DataFrame, targetMicro: Long): DataFrame = {
    val wAll = Window.partitionBy()
    curve
      .withColumn("_ok",
        min(when(col("kept_micro") >= targetMicro, col("threshold_micro"))).over(wAll))
      .withColumn("_mx", max(col("threshold_micro")).over(wAll))
      .withColumn("chosen", col("threshold_micro") === coalesce(col("_ok"), col("_mx")))
      .drop("_ok", "_mx")
  }

  /** Window-length sensitivity receipt for the excision tier — the
    * error-curve convention (cms/hll/quantile_error_curve) applied to
    * [[substringDupCoverage]]'s ONE free parameter: the census and
    * [[substringExcise]] fix w=8 token windows as a documented
    * approximation of Lee et al. ACL'22's suffix-array exactness, and
    * this prices what that choice costs — corpus-level duplicated
    * coverage at each candidate width. Smaller windows catch MORE
    * (every duplicated w-window contains duplicated sub-windows, so
    * coverage is monotone non-increasing in w — spec-pinned); the
    * curve is the evidence a chosen w ships with.
    *
    * Economy: ONE per-doc window pass builds the max-width lead
    * chain, every narrower window is a PREFIX of those columns — the
    * widths axis multiplies only the per-leg hash+agg work, never
    * the tokenize or the sort underlying the lead chain. Per leg the
    * cost family is [[substringDupCoverage]]'s (hash-keyed shuffles
    * only, O(corpus tokens) rows); the rollup is one bounded agg. */
  def substringWindowCurve(docs: DataFrame,
                           windows: Seq[Int] = Seq(6, 8, 12)): DataFrame = {
    val wmax = windows.max
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val leads = (1 until wmax).map(i => lead(col("tok"), i).over(win).as(s"_t$i"))
    val base = EmbedOps.tokenize(docs)
      .select(col("doc_id") +: col("pos") +: col("tok") +: leads: _*)
      .localCheckpoint(false)
    val totals = base
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"))
      .localCheckpoint(false)
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    windows.map { w =>
      val cols = col("tok") +: (1 until w).map(i => col(s"_t$i"))
      val hashed = base.filter(col(s"_t${w - 1}").isNotNull)
        .select(col("doc_id"), col("pos"),
          PortableHash.hash24(concat_ws(" ", cols: _*)).as("h"))
      val dup = hashed
        .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("h"))
      val perDoc = hashed.join(dup, "h")
        .withColumn("gap", col("pos") - lag(col("pos"), 1).over(byPos))
        .withColumn("contrib",
          when(col("gap").isNull, lit(w.toLong))
            .otherwise(least(lit(w.toLong), col("gap"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("dw"), sum(col("contrib")).as("dt"))
      perDoc
        .agg(count(lit(1)).as("n_docs_touched"),
          coalesce(sum(col("dw")), lit(0L)).as("dup_windows"),
          coalesce(sum(col("dt")), lit(0L)).as("dup_tokens"))
        .crossJoin(broadcast(totals))
        .select(lit(w.toLong).as("w"), col("n_docs"), col("n_docs_touched"),
          col("dup_windows"), col("dup_tokens"), col("n_tokens"),
          roundn(col("dup_tokens") / col("n_tokens").cast("double"), 6)
            .as("dup_fraction"))
    }.reduce(_ unionByName _)
  }

  /** Adamic–Adar link prediction KERNEL over an undirected edge list
    * (a_id, b_id) — the missing-edge lens on the near-dup graph: a
    * pair of docs that are NOT verified near-dups but share verified
    * neighbors is where the next true duplicate family member (or a
    * threshold-straddling variant) hides; AA weights each common
    * neighbor by 1/ln(deg) so promiscuous hub docs count less
    * (Adamic & Adar '03). Candidates are exactly the distance-2
    * pairs, generated by one mid-keyed self-join of the neighbor
    * list; existing edges drop via an anti-join.
    *
    * Determinism: a common neighbor always has deg ≥ 2 (it touches
    * both endpoints), so ln(deg) ≥ ln 2 — no zero division; each
    * 1/ln(deg) term rounds to the 6dp grid BEFORE the fold and the
    * fold runs in neighbor-id order, so the score never depends on
    * partition merge order.
    *
    * Scale shape: everything runs on the verified-pair list (tiny vs
    * the corpus — the [[pageRank]] precondition); the mid-keyed
    * self-join is the same √-bounded wedge enumeration
    * [[triangleStats]] does. */
  def adamicAdar(pairs: DataFrame): DataFrame = {
    // canonicalize INSIDE the kernel: a caller passing reversed or
    // duplicated undirected edges would otherwise inflate degrees and
    // slip known edges past the anti-join (the current callers happen
    // to pass canonical lists — don't rely on it)
    val edges = pairs
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .distinct()
      .localCheckpoint(false)
    val und = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nbr = und.join(deg, "src")
      .select(col("src").as("mid"), col("dst"), col("deg"))
    nbr.as("x").join(nbr.as("y"),
        col("x.mid") === col("y.mid") && col("x.dst") < col("y.dst"))
      .select(col("x.dst").as("a_id"), col("y.dst").as("b_id"),
        col("x.mid").as("mid"), col("x.deg").as("deg"))
      .join(edges, Seq("a_id", "b_id"), "left_anti")
      .withColumn("term", roundn(lit(1.0) / log(col("deg").cast("double")), 6))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_common"),
        roundn(graft.functions.VectorMath.orderedSum(col("mid"), col("term")), 6)
          .as("aa_score"))
  }

  /** Declared form: Adamic–Adar over the PART CO-PURCHASE graph —
    * the recommendation shape of [[adamicAdar]] (the verified
    * near-dup graph is a union of closed cliques on this corpus, so
    * its distance-2 set is empty by construction — measured, not
    * assumed). Parts are linked when they co-occur in ≥ `minCount`
    * orders; the predictions are the co-purchase pairs the data has
    * not yet witnessed but the neighborhood structure implies —
    * "bought together next". Top-k by score with a full (score desc,
    * a, b) tie order so the cut is deterministic.
    *
    * Scale shape: the per-order pair explode is bounded by
    * lines-per-order (≤7) and co-partitioned on l_orderkey; the
    * ≥ minCount filter keeps the edge list |parts|-sized, and the
    * wedge join runs on that bounded list, never on lineitem. */
  def linkPrediction(lineitem: DataFrame, minCount: Long = 2,
                     topK: Int = 50): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
    val edges = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("a_id"), col("y.l_partkey").as("b_id"))
      .agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= minCount)
      .select(col("a_id"), col("b_id"))
    adamicAdar(edges)
      .orderBy(col("aa_score").desc, col("a_id"), col("b_id"))
      .limit(topK)
  }

  /** Golden-record survivorship — the MDM step AFTER
    * [[dedupClusters]]: a component tells you WHICH docs are one
    * entity; this picks the record that survives and summarizes what
    * merges into it. Canonical = longest text, doc_id ascending as
    * the tie-break (deterministic where "pick any" is not);
    * membership/source/language censuses ride along so a reviewer
    * sees what the merge discards.
    *
    * Scale shape: the cluster table is near-dup-family-sized, tiny vs
    * the corpus; the canonical window partitions by cluster over that
    * table only, and the attribute join back to `documents` is
    * doc_id-keyed (broadcastable cluster side at 100 TB). */
  def goldenRecord(docs: DataFrame, minJaccard: Double = 0.5): DataFrame =
    goldenRecordFromClusters(docs, dedupClusters(docs, minJaccard)
      .select(col("doc_id"), col("component_id").as("cluster_id")))

  /** The survivorship half of [[goldenRecord]] against a PRECOMPUTED
    * cluster table (doc_id, cluster_id) — the entry point a persisted
    * clustering artifact uses, so the star-contraction spend is paid
    * once per corpus, not once per consumer (dedup_clusters stays the
    * live full-depth receipt). */
  def goldenRecordFromClusters(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val membered = docs
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .join(broadcast(clusters), "doc_id")
      .localCheckpoint(false)
    val canon = Rank.top(membered, Seq(col("cluster_id")),
        Seq(col("n_chars").desc, col("doc_id")), lit(1))
      .select(col("cluster_id"), col("doc_id").as("canonical_doc"),
        col("n_chars").as("canonical_chars"),
        col("source").as("canonical_source"))
    val stats = membered.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("first_doc"))
    canon.join(stats, "cluster_id")
      .select(col("cluster_id"), col("n_members"), col("canonical_doc"),
        col("canonical_chars"), col("canonical_source"), col("n_langs"),
        col("n_sources"), col("total_chars"), col("first_doc"))
  }
  /** Dedup tier agreement — the META-receipt over the two near-dup
    * detectors: the MinHash/Jaccard tier ([[nearDupVerified]], surface
    * overlap) and the embedding-cosine tier ([[embeddingNearDup]],
    * weighted-profile similarity) hunt the same prey with different
    * senses; this full-outer-joins their verified pair sets and
    * reports the overlap — the calibration number that says whether
    * the two thresholds (0.5 Jaccard, 0.9 cosine) describe the same
    * "duplicate". Pairs only one tier catches are exactly the review
    * queue for threshold tuning.
    *
    * Scale shape: both generators are candidate-based (never N²); the
    * agreement join runs over the two pair lists, tiny vs the corpus.
    * An empty union guards to agreement 10⁶ (vacuously aligned). */
  def dedupTierAgreement(docs: DataFrame): DataFrame =
    dedupTierAgreementFromPairs(
      nearDupVerified(docs).select(col("a_id"), col("b_id")),
      embeddingNearDup(docs).select(col("a_id"), col("b_id")))

  /** The agreement join against PRECOMPUTED pair sets — the entry
    * point persisted tier artifacts use (each tier's pair table is
    * the thing a production pipeline materializes anyway; the live
    * tier receipts keep measuring their own full spend). */
  def dedupTierAgreementFromPairs(mhPairs: DataFrame, emPairs: DataFrame): DataFrame = {
    val mh = mhPairs.select(col("a_id"), col("b_id"))
      .withColumn("in_mh", lit(true))
    val em = emPairs.select(col("a_id"), col("b_id"))
      .withColumn("in_em", lit(true))
    mh.join(em, Seq("a_id", "b_id"), "full_outer")
      .select(coalesce(col("in_mh"), lit(false)).as("in_mh"),
        coalesce(col("in_em"), lit(false)).as("in_em"))
      .groupBy()
      .agg(sum(when(col("in_mh"), 1L).otherwise(0L)).as("n_minhash"),
        sum(when(col("in_em"), 1L).otherwise(0L)).as("n_embedding"),
        sum(when(col("in_mh") && col("in_em"), 1L).otherwise(0L)).as("n_both"),
        count(lit(1)).as("n_either"))
      .withColumn("agreement_micro",
        when(col("n_either") === 0, lit(1000000L))
          .otherwise(expr("(n_both * 1000000L) div n_either")))
  }

  /** SOFT dedup sampling census — the data-constrained-scaling
    * alternative (Muennighoff '23; SemDeDup's keep-one is the hard
    * α→∞ limit) to dropping every near-dup: each doc in a near-dup
    * cluster of size s keeps with probability s^(−1/2), so a cluster
    * contributes ~√s docs in expectation — repeated data decays in
    * value rather than going to zero. Clusters are [[dedupClusters]]'
    * components; docs outside any component are size-1 singletons
    * (p = 1, always kept).
    *
    * The keep decision is a pure doc-hash threshold, NOT an RNG:
    * keep ⇔ hash24("sds:"+doc_id)·10⁶ < p6·2²⁴ — exact Long
    * arithmetic on both engines (p6 = round(10⁶/√s); √s is
    * correctly-rounded IEEE, and 10⁶/√s sits on a .5 boundary only
    * at perfect squares, where the quotient is exactly integral).
    * Replayable, stable under re-runs and ingest order.
    *
    * Output: one row per observed cluster SIZE (the census form —
    * per-doc keep flags would be corpus-sized output): n_clusters,
    * n_docs, n_kept, and the keep probability. n_kept/n_docs
    * converging to p_keep per size bucket is the statistical check
    * the receipt exists for.
    *
    * Scale shape: [[dedupClusters]]' plan (LSH equi-joins + O(log n)
    * CC) + one left join to attach labels + two uniform-keyed aggs;
    * the census output is ≤ max-cluster-size rows. At 100 TB the
    * sampling-side cost is one hash per doc. */
  def softDedupSample(docs: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    // checkpointed: the label table feeds BOTH the size census and
    // the keep join — without the cut the whole LSH+CC chain would
    // execute twice (measured 8.2 s → ~4.7 s at sf0.1)
    val labeled = docs.select(col("doc_id"))
      .join(dedupClusters(docs, minJaccard), Seq("doc_id"), "left")
      // component labels are min member doc_ids; a singleton's own id
      // can never collide with another cluster's label
      .withColumn("cid", coalesce(col("component_id"), col("doc_id")))
      .localCheckpoint(false)
    val sizes = labeled.groupBy(col("cid")).agg(count(lit(1)).as("size"))
      .withColumn("p6",
        when(col("size") === 1L, lit(1000000L))
          .otherwise(round(lit(1e6) / sqrt(col("size").cast("double"))).cast("long")))
    labeled.join(sizes, "cid")
      .withColumn("kept",
        PortableHash.hash24(concat(lit("sds:"), col("doc_id").cast("string")))
          * lit(1000000L) < col("p6") * lit(16777216L))
      .groupBy(col("size"), col("p6"))
      .agg(countDistinct(col("cid")).as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("size"), col("n_clusters"), col("n_docs"), col("n_kept"),
        roundn(col("p6") / 1e6, 6).as("p_keep"))
  }

  /** Evidence density per near-dup cluster size — the
    * transitive-closure honesty receipt: connected components merge
    * by CHAINS, so a size-s cluster may hold member pairs nobody
    * ever verified (a–b and b–c at 0.5 do not imply a–c at 0.5).
    * Per cluster size: how many of the C(s,2) member pairs carry a
    * DIRECT verification ([[nearDupVerified]]'s member-level list,
    * intra-family 1.0 pairs included) — density 10⁶ micros = clique
    * (every pair proven), low density = chain merges, exactly where
    * [[dedupClusterPurity]]'s false-merge question and the
    * θ-tightening decision (`dedup_threshold_curve`) point.
    *
    * Determinism: counts and C(s,2) are exact Longs; density is an
    * exact integer `div`. Scale shape: the verified-pair list and
    * the CC labels the dedup tier already computes; one a_id-keyed
    * join assigns each pair its component (both endpoints share it
    * by construction), two uniform keyed aggs, census output ≤
    * max-cluster-size rows. */
  def dedupClusterDensity(docs: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    // ONE LSH+verify chain: components contract over the same
    // member-level edge list the density numerator counts (identical
    // labels to dedupClusters — member pairs connect exactly what the
    // family stars connect, min-id labels agree)
    val edges = nearDupVerified(docs, minJaccard = minJaccard)
      .select(col("a_id"), col("b_id")).localCheckpoint(false)
    val comp = connectedComponents(edges).localCheckpoint(false)
    val perComp = edges
      .join(comp.select(col("doc_id").as("a_id"), col("component_id")), "a_id")
      .groupBy(col("component_id")).agg(count(lit(1)).as("n_edges"))
    comp.groupBy(col("component_id")).agg(count(lit(1)).as("size"))
      .join(perComp, Seq("component_id"), "left")
      .withColumn("n_edges", coalesce(col("n_edges"), lit(0L)))
      .groupBy(col("size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(expr("(size * (size - 1)) div 2")).cast("long").as("n_possible_pairs"),
        sum(col("n_edges")).cast("long").as("n_direct_pairs"))
      .withColumn("density_micro",
        expr("(n_direct_pairs * 1000000L) div n_possible_pairs"))
      .select(col("size"), col("n_clusters"), col("n_possible_pairs"),
        col("n_direct_pairs"), col("density_micro"))
  }

  /** Language purity per near-dup cluster — the cross-lingual
    * contamination diagnostic on [[dedupClusters]]' output: a
    * cluster that mixes languages is either boilerplate translated
    * across sites (drop-all is wrong — each language loses a
    * legitimate copy) or a FALSE MERGE from an over-loose threshold
    * (the θ evidence `dedup_threshold_curve` prices); either way the
    * keep-one-per-cluster step must know before it picks a golden
    * record. One row per cluster: size, distinct languages, the
    * majority language's share (exact integer micros), and the
    * purity flag.
    *
    * Determinism: counts are exact; the majority share uses only the
    * MAX per-lang count (no tie-broken argmax lang is emitted, so
    * count ties cannot flake). Scale shape: [[dedupClusters]]' plan
    * + one co-keyed doc_id join for lang + two uniform keyed aggs;
    * output is one row per multi-doc cluster (≪ corpus). */
  def dedupClusterPurity(docs: DataFrame, minJaccard: Double = 0.5): DataFrame =
    dedupClusters(docs, minJaccard)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("component_id"), col("lang"))
      .agg(count(lit(1)).as("nl"))
      .groupBy(col("component_id"))
      .agg(sum(col("nl")).cast("long").as("size"),
        count(lit(1)).as("n_langs"),
        max(col("nl")).as("max_nl"))
      .withColumn("maj_share_micro", expr("(max_nl * 1000000L) div size"))
      .select(col("component_id"), col("size"), col("n_langs"),
        col("maj_share_micro"), (col("n_langs") === 1L).as("pure"))

  /** b-bit minwise hashing accuracy receipt (Li & König, WWW '10):
    * storing only the lowest b bits of each minhash shrinks the
    * signature 24/b-fold, at the price of chance collisions the
    * estimator must subtract back out — Ĵ_b = (f̂_b − C)/(1 − C)
    * with C = 2^(−b) (C = 0 recovers the full-width estimator, so
    * one formula prices every row). This measures that price ON THIS
    * CORPUS: per pair with a KNOWN exact Jaccard (the verified-pair
    * table — ground truth the engine already computes), the absolute
    * estimation error per width b ∈ {24, 4, 2, 1}, aggregated to a
    * mean-error-vs-storage-bits table. The index-sizing decision
    * (can the 100 TB signature store drop to 1/6th?) becomes a
    * measured curve instead of the paper's asymptotic claim.
    *
    * Determinism: collision counts k are exact integers; est6 is ONE
    * double expression from (k, two exact binary constants) written
    * identically on both engines; |est6 − j6| sums are exact Longs;
    * the mean is an exact integer `div` (both operands positive).
    * Never exactly .5-boundary: est values live on the k/12 grid
    * scaled by exact powers of two.
    *
    * Scale shape: pair participants prune the signature build (the
    * semi-join on pair ids — signatures cost ∝ verified pairs, not
    * corpus); the collision join is (pair × 12 seeds) equi-keyed;
    * output is 4 rows. At 100 TB signatures would already exist
    * (the persisted LSH index); here they recompute from the pruned
    * doc set to stay self-contained. */
  def minhashBBit(docs: DataFrame, numHashes: Int = 12, w: Int = 3,
                  minJaccard: Double = 0.2): DataFrame = {
    val pairs = nearDupVerified(docs, numHashes, 3, w, minJaccard)
      .select(col("a_id"), col("b_id"), col("jaccard")).localCheckpoint(false)
    val ids = pairs.select(col("a_id").as("doc_id"))
      .unionByName(pairs.select(col("b_id").as("doc_id"))).distinct()
    val sigs = minhashSignatures(docs.join(ids, "doc_id"), numHashes, w)
    val coll = pairs
      .join(sigs.select(col("doc_id").as("a_id"), col("seed"), col("minh").as("ma")),
        "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("seed"), col("minh").as("mb")),
        Seq("b_id", "seed"))
      .groupBy(col("a_id"), col("b_id"), col("jaccard"))
      .agg(
        sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).as("k24"),
        sum(when(col("ma") % 16 === col("mb") % 16, 1L).otherwise(0L)).as("k4"),
        sum(when(col("ma") % 4 === col("mb") % 4, 1L).otherwise(0L)).as("k2"),
        sum(when(col("ma") % 2 === col("mb") % 2, 1L).otherwise(0L)).as("k1"))
    coll
      .select(col("jaccard"),
        expr("stack(4, 24L, k24, 4L, k4, 2L, k2, 1L, k1) AS (b_bits, k)"))
      .withColumn("c",
        when(col("b_bits") === 24L, lit(0.0))
          .when(col("b_bits") === 4L, lit(0.0625))
          .when(col("b_bits") === 2L, lit(0.25)).otherwise(lit(0.5)))
      .withColumn("est6",
        round((col("k") / lit(numHashes.toDouble) - col("c")) /
          (lit(1.0) - col("c")) * 1e6).cast("long"))
      .withColumn("err6",
        abs(col("est6") - round(col("jaccard") * 1e6).cast("long")))
      .groupBy(col("b_bits"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("err6")).as("sum_abs_err6"))
      .withColumn("mae_micro", expr("sum_abs_err6 div n_pairs"))
      .withColumn("storage_bits", col("b_bits") * lit(numHashes.toLong))
      .select(col("b_bits"), col("n_pairs"), col("sum_abs_err6"),
        col("mae_micro"), col("storage_bits"))
  }
}
