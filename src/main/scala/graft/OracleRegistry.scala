package graft

import graft.ops._

/** The DuckDB oracle registry — the ANSI twin of every
  * SparkEntry.queries entry, computing the same values with the same
  * column names (SURVEY.md §5.2 rules: deterministic ordering, every
  * tie broken, doubles rounded on both sides, -0.0 normalized).
  * Moved out of SparkEntry verbatim in round 14 (r13 verdict #9,
  * registry hygiene): SparkEntry stays the single driver contract and
  * re-exports [[all]]; this file owns the shared DuckDB fragments
  * (duck*) and both oracle maps. Zero behavior change — the driver
  * reads SparkEntry.oracleSql exactly as before.
  */
private[graft] object OracleRegistry {


  /** DuckDB fragment: sequential double fold over two float lists. */
  private def duckL2Sq(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))^2))"
  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  private def duckNorm(a: String): String = s"sqrt(${duckDot(a, a)})"
  private def duckCos(a: String, b: String): String =
    s"(CASE WHEN ${duckNorm(a)} * ${duckNorm(b)} = 0 THEN 0.0 " +
      s"ELSE ${duckDot(a, b)} / (${duckNorm(a)} * ${duckNorm(b)}) END)"

  /** duckCos with PRE-COMPUTED norms — bit-identical values (the
    * norm is the same list_sum fold, just stored in a column), but
    * one list op per pair instead of five. The large-candidate-set
    * oracles (hard_negatives / triplet_mining: ~350k pairs at sf0.1)
    * NEED this form: per-pair norm recomputation buffers enough list
    * intermediates across 16-32 threads to hit the system allocator
    * wall before DuckDB's spill accounting notices (observed
    * 2026-08-16). */
  private def duckCosPre(a: String, b: String, na: String, nb: String): String =
    s"(CASE WHEN $na * $nb = 0 THEN 0.0 " +
      s"ELSE ${duckDot(a, b)} / ($na * $nb) END)"

  /** Shared per-vector norm table for [[duckCosPre]] consumers:
    * `nrm (vec_id, label, embedding, nm)`. */
  private lazy val duckNrmCte =
    s"""nrm AS MATERIALIZED (SELECT vec_id, label, embedding,
       |  ${duckNorm("embedding")} AS nm FROM embeddings)""".stripMargin

  /** DuckDB twin of VectorOps.randomProject: per-output-dim sign
    * lists from the srp hash parity, then the SAME sequential
    * list_sum fold over embedding×sign the Spark zip_with/aggregate
    * expression runs — `pr (vec_id, out_dim, proj)`. */
  private def duckSrp(outDim: Int) = {
    // ii/jj, NOT i/j: the duckdbHash24 fragment's own list_transform
    // binds a lambda variable `i` that would SHADOW an outer column i
    val h = graft.functions.PortableHash.duckdbHash24(
      "'srp:' || CAST(ii AS VARCHAR) || ':' || CAST(jj AS VARCHAR)")
    s"""sj AS (SELECT jj AS j, list(CASE WHEN $h % 2 = 0 THEN 1.0 ELSE -1.0 END
       |          ORDER BY ii) AS slist
       |      FROM (SELECT unnest(range(0, 64)) AS ii),
       |           (SELECT unnest(range(0, $outDim)) AS jj)
       |      GROUP BY jj),
       |pr AS (SELECT e.vec_id, s.j AS out_dim,
       |         round(list_sum(list_transform(range(1, len(e.embedding)+1),
       |           i -> CAST(e.embedding[i] AS DOUBLE) * s.slist[i])), 6) + 0 AS proj
       |       FROM embeddings e, sj s)""".stripMargin
  }

  /** DuckDB twin of one pqTopK assignment round: distance of every
    * (vector, subspace) to every code of `centCte`, argmin with code
    * tie-break → `pqa$r (vec_id, s, code)`. */
  private def duckPqAssign(r: Int, centCte: String): String =
    s"""pqd$r AS (SELECT d.vec_id, d.s, c.code,
       |    round(sum((d.x - c.cv)^2 ORDER BY d.ld), 6) + 0 AS dist
       |  FROM psd d JOIN $centCte c ON c.s = d.s AND c.ld = d.ld
       |  GROUP BY 1, 2, 3),
       |pqa$r AS (SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
       |    FROM pqd$r) WHERE rn = 1)""".stripMargin

  /** DuckDB twin of one pqTopK centroid update from `pqa$r`. */
  private def duckPqUpdate(r: Int): String =
    s"""pqc$r AS (SELECT d.s, a.code, d.ld, round(avg(d.x), 6) + 0 AS cv
       |  FROM psd d JOIN pqa$r a ON a.vec_id = d.vec_id AND a.s = d.s
       |  GROUP BY 1, 2, 3)""".stripMargin

  /** DuckDB twin of VectorOps.ivfPqIndex + ivfPqCandidatesFromIndex: the residual-IVFADC
    * CTE chain ending in `adc (query_id, vec_id, qdist)`. Builds on
    * [[duckSqrtCells]] (coarse cells) — primary-cell residuals feed
    * the [[duckPqAssign]]/[[duckPqUpdate]] training unroll via the
    * `psd` name those fragments expect; probes carry the derived
    * nProbe budget; each probed cell gets its own query-residual LUT.
    * Shared by the ann_ivf_pq and ann_recall_ivfpq oracles. */
  private lazy val duckIvfPqAdc =
    s"""$duckSqrtCells,
       |a0 AS MATERIALIZED (SELECT vec_id, c_label FROM ranked WHERE rn = 1),
       |res AS MATERIALIZED (SELECT d.vec_id, d.dim, d.x - c.cv AS x
       |        FROM dims d JOIN a0 USING (vec_id)
       |        JOIN cent c ON c.c_label = a0.c_label AND c.dim = d.dim),
       |psd AS MATERIALIZED (SELECT vec_id, dim // 8 AS s, dim % 8 AS ld, x FROM res),
       |pqc0 AS (SELECT s, vec_id AS code, ld, round(x, 6) + 0 AS cv
       |         FROM psd WHERE vec_id < 16),
       |${duckPqAssign(1, "pqc0")},
       |${duckPqUpdate(1)},
       |${duckPqAssign(2, "pqc1")},
       |${duckPqUpdate(2)},
       |${duckPqAssign(3, "pqc2")},
       |probes AS MATERIALIZED (SELECT vec_id AS query_id, c_label FROM ranked
       |           WHERE rn <= greatest(3, CAST(ceil((SELECT k FROM kk) / 16.0)
       |                                        AS BIGINT))
       |             AND vec_id < 10),
       |qres AS (SELECT p.query_id, p.c_label, d.dim, d.x - c.cv AS x
       |         FROM probes p JOIN dims d ON d.vec_id = p.query_id
       |         JOIN cent c ON c.c_label = p.c_label AND c.dim = d.dim),
       |qsd AS (SELECT query_id, c_label, dim // 8 AS s, dim % 8 AS ld, x
       |        FROM qres),
       |qlut AS MATERIALIZED (SELECT q.query_id, q.c_label, c.s, c.code,
       |    round(sum((q.x - c.cv)^2 ORDER BY q.ld), 6) + 0 AS pd
       |  FROM qsd q JOIN pqc2 c ON c.s = q.s AND c.ld = q.ld
       |  GROUP BY 1, 2, 3, 4),
       |adc AS MATERIALIZED (SELECT l.query_id, a.vec_id,
       |    round(sum(l.pd ORDER BY l.s), 6) + 0 AS qdist
       |  FROM a0 a
       |  JOIN probes p ON p.c_label = a.c_label
       |  JOIN pqa3 kc ON kc.vec_id = a.vec_id
       |  JOIN qlut l ON l.query_id = p.query_id AND l.c_label = a.c_label
       |             AND l.s = kc.s AND l.code = kc.code
       |  WHERE a.vec_id <> p.query_id
       |  GROUP BY 1, 2)""".stripMargin

  /** The full residual-IVFADC oracle (ADC budget 48 → exact-cosine
    * rerank top-3) — shared verbatim by ann_ivf_pq and its persist
    * twin ann_pq_index_persist (reload ≡ rebuild). */
  private lazy val annIvfPqSql =
    s"""WITH $duckIvfPqAdc,
       |pcand AS (SELECT query_id, vec_id, qdist FROM (
       |    SELECT query_id, vec_id, qdist,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY qdist, vec_id) AS qrank
       |    FROM adc) WHERE qrank <= 48),
       |prr AS (SELECT pcand.query_id, pcand.vec_id, pcand.qdist,
       |    round(${duckCos("c.embedding", "q.embedding")}, 6) + 0 AS cos_sim
       |  FROM pcand
       |  JOIN embeddings c ON c.vec_id = pcand.vec_id
       |  JOIN embeddings q ON q.vec_id = pcand.query_id)
       |SELECT query_id, rank, vec_id, qdist, cos_sim FROM (
       |  SELECT query_id, vec_id, qdist, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
       |  FROM prr) WHERE rank <= 3""".stripMargin

  /** DuckDB twin of one TextOps.bpeMerges round: pair counts from
    * `w$r`, argmax with (count desc, lhs, rhs) tie-break → `t$r`,
    * greedy left-to-right merge in the double-space string encoding →
    * `w${r+1}`. String slicing strips the sentinel flank spaces
    * (1-based inclusive on both engines). */
  /** 6dp-rounded sigmoid of the step-`t` weights applied to feature
    * row alias `f` — shared by every GD step and the final scoring
    * projection of the quality_classifier oracle. */
  private def duckSigmoid(w: String): String =
    s"round(1 / (1 + exp(-round($w.b + $w.w1 * f.x1 + $w.w2 * f.x2 + $w.w3 * f.x3, 6))), 6)"

  /** One full-batch GD step of the quality_classifier oracle:
    * fixed-point integer error per document (HUGEINT-exact sums, the
    * twin of the engine's decimal(38,0) gradient aggregation), then
    * the 6dp-rounded weight update at lr=4. */
  private def duckLrStep(t: Int): String =
    s"""lp$t AS (SELECT f.doc_id,
       |    CAST(round(${duckSigmoid("w")} * 1000000.0) AS BIGINT)
       |      - f.y * 1000000 AS err,
       |    f.ix1, f.ix2, f.ix3
       |  FROM cfi f, lw${t - 1} w),
       |lw$t AS (SELECT
       |    round(w.b - 4.0 * (CAST(sum(p.err) AS DOUBLE)
       |      / (1000000.0 * count(*))), 6) + 0 AS b,
       |    round(w.w1 - 4.0 * (CAST(sum(p.err * p.ix1) AS DOUBLE)
       |      / (1000000000000.0 * count(*))), 6) + 0 AS w1,
       |    round(w.w2 - 4.0 * (CAST(sum(p.err * p.ix2) AS DOUBLE)
       |      / (1000000000000.0 * count(*))), 6) + 0 AS w2,
       |    round(w.w3 - 4.0 * (CAST(sum(p.err * p.ix3) AS DOUBLE)
       |      / (1000000000000.0 * count(*))), 6) + 0 AS w3
       |  FROM lp$t p, lw${t - 1} w GROUP BY w.b, w.w1, w.w2, w.w3)""".stripMargin

  /** One unrolled greedy MMR round for the search_mmr oracle:
    * remaining candidates × already-selected set → max pairwise sim
    * (missing pair ⇒ 0) → rounded λ·rel − (1−λ)·ms argmax appended.
    * MATERIALIZED per round — selu$t is referenced three times in
    * round t+1 and DuckDB would otherwise inline the chain
    * exponentially. */
  private def duckMmrRound(t: Int): String =
    s"""m$t AS MATERIALIZED (
       |  SELECT c.doc_id, c.rel_micro,
       |         max(coalesce(sp.sim_micro, 0)) AS ms_micro
       |  FROM cand c CROSS JOIN selu${t - 1} s
       |  LEFT JOIN simp sp ON sp.d1 = least(c.doc_id, s.doc_id)
       |                   AND sp.d2 = greatest(c.doc_id, s.doc_id)
       |  WHERE c.doc_id NOT IN (SELECT doc_id FROM selu${t - 1})
       |  GROUP BY 1, 2),
       |pick$t AS MATERIALIZED (
       |  SELECT CAST($t AS BIGINT) AS sel_rank, doc_id,
       |    7 * rel_micro - 3 * ms_micro AS s7
       |  FROM m$t ORDER BY s7 DESC, doc_id LIMIT 1),
       |selu$t AS MATERIALIZED (
       |  SELECT * FROM selu${t - 1} UNION ALL SELECT * FROM pick$t)""".stripMargin

  /** The full GD-retrain CTE chain (features → 8 unrolled steps →
    * final-weight scores) ending in `gds (doc_id, y BIGINT, score)` —
    * shared by the quality_classifier and gd_calibration oracles. */
  /** DuckDB twin of ClassifierOps.features as CTEs ending in `cfi`
    * (doc_id, y, x1..x3, ix1..ix3) — shared by the GD-training
    * oracles and feature_mi. */
  private def duckGdFeatures: String =
    s"""$duckToks,
       |cq AS (SELECT doc_id, count(*) AS n_tok, count(DISTINCT tok) AS n_distinct,
       |         sum(CASE WHEN tok IN (${sqlList(graft.ops.TextOps.EnStopwords)})
       |             THEN 1 ELSE 0 END) AS n_stop
       |       FROM toks GROUP BY 1),
       |cf AS (SELECT cq.doc_id,
       |    CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END AS y,
       |    round(n_stop / n_tok, 6) + 0 AS x1,
       |    round(n_distinct / n_tok, 6) + 0 AS x2,
       |    round(least(n_tok, 100) / 100.0, 6) + 0 AS x3
       |  FROM cq JOIN documents d ON cq.doc_id = d.doc_id),
       |cfi AS (SELECT doc_id, y, x1, x2, x3,
       |    CAST(round(x1 * 1000000.0) AS BIGINT) AS ix1,
       |    CAST(round(x2 * 1000000.0) AS BIGINT) AS ix2,
       |    CAST(round(x3 * 1000000.0) AS BIGINT) AS ix3
       |  FROM cf)""".stripMargin

  private def duckGdScored: String =
    s"""$duckGdFeatures,
       |lw0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
       |${(1 to 8).map(duckLrStep).mkString(",\n")},
       |gds AS (SELECT f.doc_id, CAST(f.y AS BIGINT) AS y,
       |          ${duckSigmoid("w")} + 0 AS score
       |        FROM cfi f, lw8 w)""".stripMargin

  /** DuckDB twin of TextOps.packBestFitFold as a recursive CTE: folds
    * the ranked stream `from` (stream_id, doc_id, n_tok, rn) into
    * `name` (stream_id, rn, loads, doc_id, n_tok, bin_id) — best bin
    * = first position of the max fitting load, no fit → new bin
    * (oversize docs over-fill their own). ONE definition shared by
    * the four fold sites (pack_bestfit, pack_bestfit_online, and both
    * legs of pack_efficiency): a tie-break or oversize-rule fix can
    * no longer diverge between them. Returns pre-stripped text (no
    * margin pipes) — safe to embed inside a stripMargin literal. */
  private def duckBfdFold(name: String, from: String): String =
    s"""$name AS (
       |  SELECT stream_id, CAST(0 AS BIGINT) AS rn, CAST([] AS BIGINT[]) AS loads,
       |         CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_tok,
       |         CAST(NULL AS BIGINT) AS bin_id
       |  FROM (SELECT DISTINCT stream_id FROM $from) s0
       |  UNION ALL
       |  SELECT s.stream_id, s.rn + 1,
       |    CASE WHEN len(list_filter(s.loads, l -> l + d.n_tok <= 128)) > 0
       |      THEN list_transform(range(1, len(s.loads) + 1),
       |             i -> CASE WHEN i = list_position(s.loads,
       |                    list_max(list_filter(s.loads, l -> l + d.n_tok <= 128)))
       |                  THEN s.loads[i] + d.n_tok ELSE s.loads[i] END)
       |      ELSE list_append(s.loads, d.n_tok) END,
       |    d.doc_id, d.n_tok,
       |    CASE WHEN len(list_filter(s.loads, l -> l + d.n_tok <= 128)) > 0
       |      THEN CAST(list_position(s.loads,
       |             list_max(list_filter(s.loads, l -> l + d.n_tok <= 128))) AS BIGINT)
       |      ELSE CAST(len(s.loads) + 1 AS BIGINT) END
       |  FROM $name s JOIN $from d ON d.stream_id = s.stream_id AND d.rn = s.rn + 1)"""
      .stripMargin

  private def duckBpeRound(r: Int): String =
    // w CTEs are MATERIALIZED: each w$r is referenced twice (pair
    // census + next round's merge) and, in the deep-training oracle,
    // also by checkpoint censuses — DuckDB's per-reference inlining
    // would otherwise re-expand the whole chain (and re-open the
    // parquet scan) per reference, blowing the fd limit at 64 rounds
    s"""p$r AS (SELECT a[u.i] AS lhs, a[u.i + 1] AS rhs,
       |    CAST(sum(wc) AS BIGINT) AS pair_count
       |  FROM (SELECT wc, string_split(syms, '  ') AS a FROM w$r),
       |       unnest(range(1, len(a))) u(i)
       |  GROUP BY 1, 2),
       |t$r AS (SELECT $r AS merge_round, lhs, rhs, pair_count FROM p$r
       |  ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
       |w${r + 1} AS MATERIALIZED (SELECT wc, s2[2:length(s2) - 1] AS syms FROM (
       |  SELECT w.wc, replace(' ' || w.syms || ' ',
       |      ' ' || t.lhs || '  ' || t.rhs || ' ',
       |      ' ' || t.lhs || t.rhs || ' ') AS s2
       |  FROM w$r w, t$r t))""".stripMargin

  /** DuckDB twin of graft.functions.PortableHash.hash24 — single
    * source of truth lives next to the Spark-side hash; only the
    * BIGINT cast (DuckDB list_sum returns DOUBLE) is added here. */
  private def duckHash24(sExpr: String): String =
    s"CAST(${graft.functions.PortableHash.duckdbHash24(sExpr)} AS BIGINT)"

  /** DuckDB twin of EmbedOps.tokenize: CTE producing (doc_id, pos, tok). */
  private val duckToks =
    """toks AS (
      |  SELECT doc_id, u.i - 1 AS pos, trim(parts[u.i]) AS tok
      |  FROM (SELECT doc_id, list_slice(string_split(text, ' '), 1, 512) AS parts
      |        FROM documents) d,
      |       unnest(range(1, len(parts)+1)) u(i)
      |  WHERE trim(parts[u.i]) <> '')""".stripMargin

  /** DuckDB twin of TextOps.dsirWeights as CTEs ending in `dw`
    * (doc_id, n_tok, dsir_weight) — shared by the dsir_weights and
    * dsir_select oracles. Depends on `toks` (duckToks). */
  private val duckDsirCtes =
    """tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      |rv AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt_r FROM tf GROUP BY 1),
      |tc AS (SELECT t.tok, CAST(count(*) AS BIGINT) AS cnt_t_all
      |       FROM toks t JOIN documents d USING (doc_id)
      |       WHERE d.lang = 'en' GROUP BY 1),
      |vocab AS (SELECT rv.tok, cnt_r, coalesce(cnt_t_all, 0) AS cnt_t
      |          FROM rv LEFT JOIN tc USING (tok)),
      |tot AS (SELECT CAST(sum(cnt_r) AS BIGINT) AS nr,
      |               CAST(sum(cnt_t) AS BIGINT) AS nt,
      |               CAST(count(*) AS BIGINT) AS v FROM vocab),
      |lp AS (SELECT tok,
      |    round(ln((cnt_t + 1) / CAST(nt + v AS DOUBLE))
      |        - ln((cnt_r + 1) / CAST(nr + v AS DOUBLE)), 6) + 0 AS logratio
      |  FROM vocab, tot),
      |agg AS (
      |  SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_tok,
      |    sum(t.tf * lp.logratio ORDER BY t.tok) AS sum_lr_raw
      |  FROM tf t JOIN lp USING (tok) GROUP BY 1),
      |dw AS (SELECT doc_id, n_tok, round(sum_lr_raw / n_tok, 6) + 0 AS dsir_weight
      |       FROM agg)""".stripMargin

  /** DuckDB twin of KeywordOps.keepKeyword (F4 stopword filter):
    * no constituent token in the English list, no Korean particle
    * contained (app.py:70-71,108-110). */
  private def duckKeepKw(x: String): String = {
    val en = graft.ops.KeywordOps.StopwordsEn.map(s => s"'$s'").mkString(", ")
    val ko = graft.ops.KeywordOps.StopwordsKo.map(s => s"'$s'").mkString(", ")
    s"NOT list_has_any(string_split($x, ' '), [$en]) " +
      s"AND len(list_filter([$ko], p -> contains($x, p))) = 0"
  }

  /** DuckDB twin of KeywordOps.keywordTopN (n=8) as a CTE chain. */
  private val duckTopn =
    s"""WITH $duckToks,
       |g AS (SELECT doc_id, tok, count(*) AS tf, min(pos) AS first_pos
       |      FROM toks WHERE ${duckKeepKw("tok")} GROUP BY 1, 2),
       |topn AS (
       |  SELECT doc_id, rank, tok AS keyword, tf FROM (
       |    SELECT doc_id, tok, tf,
       |      row_number() OVER (PARTITION BY doc_id
       |        ORDER BY tf DESC, length(tok) DESC, tok, first_pos) AS rank
       |    FROM g) WHERE rank <= 8)""".stripMargin

  /** DuckDB twin of DedupOps.wordShingles (w=3): CTEs shp (with pos)
    * and shd (distinct doc_id, shingle); requires `toks` CTE. */
  private val duckShingles =
    """shp AS (
      |  SELECT doc_id, pos, tok || ' ' || t1 || ' ' || t2 AS shingle
      |  FROM (SELECT doc_id, pos, tok,
      |          lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
      |          lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
      |        FROM toks)
      |  WHERE t2 IS NOT NULL),
      |shd AS (SELECT DISTINCT doc_id, shingle FROM shp)""".stripMargin

  /** DuckDB twin of DedupOps.minhashCandidates as a CTE block ending
    * in `cand (a_id, b_id, n_shared_bands)`; requires toks+shingle
    * CTEs. Shared by the three LSH-driven dedup oracles. */
  private val duckLshCand =
    s"""v AS (SELECT shingle, ${duckHash24("shingle")} AS h0
       |      FROM (SELECT DISTINCT shingle FROM shd)),
       |mh AS (
       |  SELECT d.doc_id, s.seed,
       |    min((((s.seed + 1) * 2654435761 % 16777259) * v.h0
       |         + ((s.seed + 1) * 40503 + 12345) % 16777259) % 16777259) AS minh
       |  FROM shd d JOIN v USING (shingle), unnest(range(0, 12)) s(seed)
       |  GROUP BY 1, 2),
       |bk AS (
       |  SELECT doc_id, seed // 3 AS band,
       |         string_agg(CAST(minh AS VARCHAR), '-' ORDER BY seed) AS band_sig
       |  FROM mh GROUP BY 1, 2),
       |cand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared_bands
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.band_sig = b.band_sig
       |                     AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** DuckDB twin of DedupOps.jaccardVerify over `cand`: CTE block
    * ending in `jac (a_id, b_id, inter, jaccard)`. */
  private val duckJaccardVerify =
    """sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
      |inter AS (
      |  SELECT c.a_id, c.b_id, count(*) AS inter
      |  FROM cand c
      |  JOIN shd a ON a.doc_id = c.a_id
      |  JOIN shd b ON b.doc_id = c.b_id AND b.shingle = a.shingle
      |  GROUP BY 1, 2),
      |jac AS (
      |  SELECT i.a_id, i.b_id, i.inter,
      |         round(i.inter / (sa.n + sb.n - i.inter), 6) + 0 AS jaccard
      |  FROM inter i
      |  JOIN sizes sa ON sa.doc_id = i.a_id
      |  JOIN sizes sb ON sb.doc_id = i.b_id)""".stripMargin

  private def sqlList(xs: Seq[String]): String = xs.map(s => s"'$s'").mkString(", ")

  /** DuckDB twin of MultimodalOps.pixelOf → imageAHash as a CTE block
    * ending in `ah (media_id, ahash)` — every pixel, the integer
    * mean, and each hash bit recomputed from the generator formula
    * (idx = y·8 + x row-major; the perturbed pixel (3,2) is idx 19).
    * Shared by the image_phash and image_near_dup oracles. */
  private lazy val duckAhash =
    """px AS (SELECT d.doc_id AS media_id, u.i AS idx,
      |    (((d.doc_id % 97) + 3) * ((u.i % 8) * 7 + (u.i // 8) * 13 + 5)
      |     + CASE WHEN d.doc_id // 97 = 1 AND u.i = 19 THEN 128 ELSE 0 END) % 256 AS p
      |  FROM documents d, unnest(range(0, 48)) u(i)),
      |mu AS (SELECT media_id, sum(p) // 48 AS mu FROM px GROUP BY 1),
      |ah AS (SELECT px.media_id,
      |         CAST(sum(CASE WHEN px.p > mu.mu THEN CAST(power(2, px.idx) AS BIGINT)
      |                       ELSE 0 END) AS BIGINT) AS ahash
      |       FROM px JOIN mu USING (media_id) GROUP BY 1)""".stripMargin

  /** DuckDB twin of MultimodalOps.pcmSampleOf → audioFingerprint as
    * a CTE block ending in `afp (media_id, fp)` — every PCM sample,
    * 4-sample frame energy, and delta-sign bit recomputed from the
    * generator formula (frame f = i div 4; bit f set iff
    * e[f] > e[f+1]). Shared by the audio_fingerprint and
    * audio_near_dup oracles. */
  /** DuckDB twin of MultimodalOps.pcmSampleOf as a CTE `smp` —
    * shared by the audio fingerprint and spectrogram oracles. */
  private lazy val duckPcmSmp =
    """smp AS (SELECT d.doc_id AS media_id, u.i AS i,
      |    ((((d.doc_id % 89) + 5) * (u.i * 37 + 11)
      |      + CASE WHEN d.doc_id // 89 = 1 AND u.i = 100 THEN 1024 ELSE 0 END)
      |     % 4096) - 2048 AS s
      |  FROM documents d, unnest(range(0, 196)) u(i))""".stripMargin

  /** The fixed-point DFT trig tables rendered from
    * MultimodalOps.dftCosMicro/dftSinMicro — the SAME Long values the
    * engine multiplies, so no libm cos enters the oracle. */
  private lazy val duckTrig = {
    val rows = for {
      bi <- graft.ops.MultimodalOps.DftBins.indices
      n <- 0 until 64
    } yield s"(${graft.ops.MultimodalOps.DftBins(bi)},$n," +
      s"${graft.ops.MultimodalOps.dftCosMicro(bi)(n)}," +
      s"${graft.ops.MultimodalOps.dftSinMicro(bi)(n)})"
    s"trig AS (SELECT * FROM (VALUES ${rows.mkString(",")}) t(bin, n, cosm, sinm))"
  }

  private lazy val duckAudioFp =
    s"""$duckPcmSmp,
      |fe AS (SELECT media_id, i // 4 AS f, CAST(sum(s * s) AS BIGINT) AS e
      |       FROM smp GROUP BY 1, 2),
      |afp AS (SELECT a.media_id,
      |          CAST(sum(CASE WHEN a.e > b.e THEN CAST(power(2, a.f) AS BIGINT)
      |                        ELSE 0 END) AS BIGINT) AS fp
      |        FROM fe a JOIN fe b ON b.media_id = a.media_id AND b.f = a.f + 1
      |        GROUP BY 1)""".stripMargin

  /** DuckDB twin of TextOps.langIdLearned as a CTE block ending in
    * `nbp (doc_id, predicted_lang, score_micro)` — the NB training
    * unrolled in SQL: trigram tf → hashed buckets → (lang, bucket)
    * counts on the hash-split train buckets → integer-micro log
    * weights → per-(doc, lang) Long score sums → argmax window, with
    * the prior-argmax fallback for featureless docs. Shared by the
    * lang_id_learned and lang_confusion_learned oracles. */
  private lazy val duckNbCtes =
    s"""gr AS (
       |  SELECT doc_id, substr(t, CAST(u.i AS INTEGER), 3) AS g
       |  FROM (SELECT doc_id, lower(text) AS t FROM documents) d,
       |       unnest(range(1, greatest(length(t) - 2, 0) + 1)) u(i)),
       |gtf AS (SELECT doc_id, g, count(*) AS tf FROM gr GROUP BY 1, 2),
       |vh AS (SELECT g, ${graft.functions.PortableHash.duckdbHash24("g")} % 4096 AS b
       |       FROM (SELECT DISTINCT g FROM gtf)),
       |ft AS (SELECT doc_id, b, CAST(sum(tf) AS BIGINT) AS tf
       |       FROM gtf JOIN vh USING (g) GROUP BY 1, 2),
       |tr AS (SELECT d.doc_id, d.lang FROM documents d
       |       WHERE ${graft.functions.PortableHash.duckdbHash24("d.text")} % 100 >= 10),
       |clb AS (SELECT tr.lang, ft.b, CAST(sum(ft.tf) AS BIGINT) AS c_lb
       |        FROM ft JOIN tr USING (doc_id) GROUP BY 1, 2),
       |cl AS (SELECT lang, CAST(sum(c_lb) AS BIGINT) AS c_l FROM clb GROUP BY 1),
       |w AS (SELECT lang, b,
       |        CAST(round(ln(CAST(c_lb + 1 AS DOUBLE) / CAST(c_l + 4096 AS DOUBLE))
       |                   * 1000000) AS BIGINT) AS w_mu
       |      FROM clb JOIN cl USING (lang)),
       |dmu AS (SELECT lang,
       |          CAST(round(ln(1.0 / CAST(c_l + 4096 AS DOUBLE)) * 1000000) AS BIGINT)
       |            AS d_mu
       |        FROM cl),
       |nl AS (SELECT lang, count(*) AS n_l FROM tr GROUP BY 1),
       |nt AS (SELECT CAST(sum(n_l) AS DOUBLE) AS n FROM nl),
       |pr AS (SELECT lang, CAST(round(ln(n_l / nt.n) * 1000000) AS BIGINT) AS prior_mu
       |       FROM nl, nt),
       |sc AS (SELECT ft.doc_id, dm.lang,
       |         CAST(sum(ft.tf * coalesce(w.w_mu, dm.d_mu)) AS BIGINT) AS s
       |       FROM ft CROSS JOIN dmu dm
       |       LEFT JOIN w ON w.lang = dm.lang AND w.b = ft.b
       |       GROUP BY 1, 2),
       |sc2 AS (SELECT sc.doc_id, sc.lang, sc.s + pr.prior_mu AS score_micro
       |        FROM sc JOIN pr USING (lang)),
       |best AS (SELECT doc_id, lang, score_micro,
       |           row_number() OVER (PARTITION BY doc_id
       |             ORDER BY score_micro DESC, lang) AS rn
       |         FROM sc2),
       |top AS (SELECT lang, prior_mu FROM pr ORDER BY prior_mu DESC, lang LIMIT 1),
       |nbp AS (SELECT d.doc_id,
       |          coalesce(b.lang, (SELECT lang FROM top)) AS predicted_lang,
       |          coalesce(b.score_micro, (SELECT prior_mu FROM top)) AS score_micro
       |        FROM documents d
       |        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id))""".stripMargin

  /** DuckDB twin of HtmlOps.synthesizePages → htmlBlocks as a CTE
    * block ending in `pg (doc_id, block_idx, txt, n_chars,
    * link_density, stop_ratio, keep)` — page construction, script/
    * style/comment removal, block split, tag-strip + entity decode +
    * whitespace collapse, and the raw-double gate, all mirrored
    * expression-for-expression. Shared by the html_blocks and
    * html_extract oracles. */
  private lazy val duckHtmlGate = {
    // the normalize chain (strip tags → decode entities with &amp;
    // last → collapse whitespace → trim), as a SQL-text function
    def norm(src: String): String =
      s"""trim(regexp_replace(replace(replace(replace(replace(replace(replace(
         |    regexp_replace($src, '<[^>]*>', ' ', 'g'),
         |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
         |    '&nbsp;', ' '), '&amp;', '&'),
         |  '[ \\t\\n\\r]+', ' ', 'g'))""".stripMargin
    s"""ph AS (SELECT doc_id,
       |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
       |  '</title><style>p{margin:0}</style><script>var x=1;</script></head><body><div><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></div><p>' ||
       |  text || '</p><p>' || substring(text, 1, 15) ||
       |  '</p><div>© 2026 <a href="/terms">Terms</a> <a href="/privacy">Privacy</a></div></body></html>' AS html
       |  FROM documents),
       |pc AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
       |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
       |    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
       |    '(?s)<!--.*?-->', ' ', 'g') AS content FROM ph),
       |pb AS (SELECT doc_id, u.i - 1 AS block_idx, parts[u.i] AS raw
       |  FROM (SELECT doc_id, string_split_regex(content,
       |          '(?i)</?(?:p|div|h[1-6]|li|br|td|tr|ul|ol|section|article)[^>]*>') AS parts
       |        FROM pc) s,
       |  unnest(range(1, len(parts)+1)) u(i)),
       |pt AS (SELECT doc_id, block_idx,
       |  ${norm("raw")} AS txt,
       |  ${norm(
      // coalesce: duck's array_to_string([]) is NULL, Spark's array_join is ''
      "coalesce(array_to_string(regexp_extract_all(raw, '(?is)<a[^>]*>(.*?)</a>', 1), ' '), '')")} AS ltxt
       |  FROM pb),
       |pf AS (SELECT doc_id, block_idx, txt,
       |    CAST(length(txt) AS BIGINT) AS n_chars,
       |    length(ltxt) / greatest(length(txt), 1) AS ld_raw,
       |    list_filter(string_split(txt, ' '), x -> x <> '') AS toks
       |  FROM pt WHERE txt <> ''),
       |pg AS (SELECT doc_id, block_idx, txt, n_chars,
       |    round(least(1.0, ld_raw), 6) + 0 AS link_density,
       |    round(len(list_filter(toks, x -> list_contains([${sqlList(graft.ops.TextOps.EnStopwords)}], x)))
       |          / greatest(len(toks), 1), 6) + 0 AS stop_ratio,
       |    (n_chars >= 25 AND ld_raw <= 0.3) AS keep
       |  FROM pf)""".stripMargin
  }

  /** DuckDB twin of TextOps.wordpieceCensus → wordpieceEncode as a
    * CTE block (depends on `toks`): census, piece scoring, top-48 ∪
    * single-char vocab, then the greedy longest-match loop UNROLLED
    * into 16 SQL stages ws1..ws16 — each stage advances every
    * unfinished word by its longest matching vocab prefix (QUALIFY
    * argmax over the prefix-match join), finished words pass
    * through. 16 = maxWordLen bounds the loop: worst case one char
    * per round. Shared by wordpiece_vocab (census + scoring CTEs)
    * and wordpiece_encode (the full chain). */
  private lazy val duckWordpiece: String = {
    // MATERIALIZED is load-bearing: every stage references its
    // predecessor twice (pass-through + step), so inlined CTEs would
    // re-evaluate ws0 2^16 times (observed: fd exhaustion on the
    // documents scan before any result)
    val stages = (1 to 16).map { i =>
      s"""ws$i AS MATERIALIZED (
         |  SELECT word, pos, pieces, n_pieces, fin FROM ws${i - 1} WHERE fin
         |  UNION ALL
         |  SELECT f.word, f.pos + length(v.piece) AS pos,
         |         f.pieces || CASE WHEN f.pieces = '' THEN '' ELSE ' ' END ||
         |           v.piece AS pieces,
         |         f.n_pieces + 1 AS n_pieces,
         |         f.pos + length(v.piece) >= length(f.word) AS fin
         |  FROM (SELECT * FROM ws${i - 1} WHERE NOT fin) f
         |  JOIN wpvocab v ON v.piece = substr(f.word, f.pos + 1, length(v.piece))
         |  QUALIFY row_number() OVER (PARTITION BY f.word
         |            ORDER BY length(v.piece) DESC) = 1)""".stripMargin
    }.mkString(",\n")
    s"""$duckWordpieceVocab,
       |wpch AS (SELECT DISTINCT substr(word, CAST(u.s AS INTEGER), 1) AS piece
       |         FROM wpw, unnest(range(1, length(word) + 1)) u(s)),
       |wpvocab AS MATERIALIZED (SELECT piece FROM wpv UNION SELECT piece FROM wpch),
       |ws0 AS MATERIALIZED (SELECT word, 0 AS pos, '' AS pieces,
       |          CAST(0 AS BIGINT) AS n_pieces, false AS fin FROM wpw),
       |$stages""".stripMargin
  }

  /** DuckDB twin of TextOps.unigramEncode (depends on `toks` and the
    * wordpiece vocab CTEs): char scores + total → integer-micro
    * unigram log-probs, then the VITERBI dp unrolled into 16
    * MATERIALIZED stages — each stage relaxes one more edge
    * (Bellman-Ford over the segmentation DAG): the previous state
    * set unions with all one-piece extensions and a (word, pos)
    * argmax keeps the single best (score desc, pieces asc), so the
    * winning PATH — not just its score — is pinned. */
  private def unigramStage(i: Int): String =
    s"""us$i AS MATERIALIZED (
       |  SELECT word, pos, pieces, score_mu FROM (
       |    SELECT word, pos, pieces, score_mu,
       |      row_number() OVER (PARTITION BY word, pos
       |        ORDER BY score_mu DESC, pieces) AS rn
       |    FROM (
       |      SELECT word, pos, pieces, score_mu FROM us${i - 1}
       |      UNION ALL
       |      SELECT s.word, s.pos + length(v.piece) AS pos,
       |             s.pieces || CASE WHEN s.pieces = '' THEN '' ELSE ' ' END ||
       |               v.piece AS pieces,
       |             s.score_mu + v.w_mu AS score_mu
       |      FROM (SELECT * FROM us${i - 1} WHERE pos < length(word)) s
       |      JOIN uvocab v ON v.piece = substr(s.word, s.pos + 1, length(v.piece))
       |    ) u) t WHERE rn = 1)""".stripMargin

  private lazy val duckUnigram: String =
    s"""$duckWordpieceVocab,
       |$duckUnigramTail""".stripMargin

  /** The unigram chain MINUS the shared wordpiece-vocab head — so an
    * oracle that already includes [[duckWordpiece]] (which embeds the
    * same head) can append the Viterbi dp without duplicate CTE
    * names (the tokenizer_fertility composition). */
  private lazy val duckUnigramTail: String = {
    val stages = (1 to 16).map(unigramStage).mkString(",\n")
    s"$stagesPrefix$stages"
  }

  private lazy val stagesPrefix =
    """uch AS (SELECT substr(word, CAST(u.s AS INTEGER), 1) AS piece,
      |          CAST(sum(wc) AS BIGINT) AS score
      |        FROM wpw, unnest(range(1, length(word) + 1)) u(s) GROUP BY 1),
      |usc AS (SELECT piece, score FROM wpv
      |        UNION ALL SELECT piece, score FROM uch),
      |utot AS (SELECT CAST(sum(score) AS BIGINT) AS tot FROM usc),
      |uvocab AS MATERIALIZED (SELECT piece,
      |          CAST(round(ln(CAST(score AS DOUBLE) / CAST(tot AS DOUBLE))
      |                     * 1000000) AS BIGINT) AS w_mu
      |        FROM usc, utot),
      |us0 AS MATERIALIZED (SELECT word, 0 AS pos, '' AS pieces,
      |          CAST(0 AS BIGINT) AS score_mu FROM wpw),
      |""".stripMargin

  /** Census + piece-scoring + top-48 rank CTEs ending in
    * `wpv (piece, score, rank)` — the shared head of the two
    * wordpiece oracles. */
  private lazy val duckWordpieceVocab =
    """wpw AS MATERIALIZED (SELECT tok AS word, count(*) AS wc FROM toks
      |        WHERE length(tok) <= 16 GROUP BY 1),
      |wpsc AS (SELECT substr(word, CAST(u.s AS INTEGER), CAST(v.l AS INTEGER)) AS piece,
      |           CAST(sum(wc) AS BIGINT) AS score
      |         FROM wpw,
      |              unnest(range(1, length(word) + 1)) u(s),
      |              unnest(range(2, 5)) v(l)
      |         WHERE u.s + v.l - 1 <= length(word)
      |         GROUP BY 1),
      |wpv AS (SELECT piece, score,
      |          row_number() OVER (ORDER BY score DESC, piece) AS rank
      |        FROM wpsc QUALIFY rank <= 48)""".stripMargin

  /** DuckDB twin of UrlOps.synthesizeUrls → parseUrls as a CTE block
    * ending in `upn (doc_id, url, host, domain, canonical)` — URL
    * construction, regex parse, and the canonicalization chain
    * (case-fold, default-port drop under the matching scheme only,
    * utm_* strip, param sort, fragment drop) mirrored
    * expression-for-expression. Shared by the url_normalize,
    * url_dedup, and domain_stats oracles. NB: no continuation line
    * in this block may START with '|' after the margin pipe — the
    * outer oracle string applies stripMargin a SECOND time over the
    * interpolated block and would eat one pipe of a leading `||`. */
  private lazy val duckUrlCtes =
    """uu AS (SELECT doc_id,
      |  (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
      |  (CASE WHEN doc_id % 4 = 0 THEN 'www.' WHEN doc_id % 4 = 1 THEN 'm.'
      |        WHEN doc_id % 4 = 2 THEN '' ELSE 'CDN.' END) ||
      |  'site' || CAST(doc_id % 13 AS VARCHAR) ||
      |  (CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END) ||
      |  (CASE WHEN doc_id % 5 = 0 THEN ':443'
      |        WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END) ||
      |  '/articles/' || CAST(doc_id % 50 AS VARCHAR) ||
      |  (CASE WHEN doc_id % 2 = 0
      |        THEN '?id=' || CAST(doc_id % 20 AS VARCHAR) ||
      |             '&utm_source=feed&lang=' || lang
      |        ELSE '?lang=' || lang || '&id=' || CAST(doc_id % 20 AS VARCHAR) END) ||
      |  (CASE WHEN doc_id % 6 = 0 THEN '#section2' ELSE '' END) AS url
      |  FROM documents),
      |up AS (SELECT doc_id, url,
      |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS host_port,
      |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path0,
      |  regexp_extract(url, '\?([^#]*)', 1) AS query
      |  FROM uu),
      |up2 AS (SELECT doc_id, url, scheme,
      |  lower(regexp_extract(host_port, '^([^:]+)', 1)) AS host,
      |  regexp_extract(host_port, ':([0-9]+)$', 1) AS port,
      |  CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
      |  coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
      |      p -> p <> '' AND p NOT LIKE 'utm_%')), '&'), '') AS cq
      |  FROM up),
      |upn AS (SELECT doc_id, url, host,
      |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
      |  scheme || '://' || host ||
      |  (CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
      |             OR (scheme = 'http' AND port = '80')
      |        THEN '' ELSE ':' || port END) ||
      |  path || (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) AS canonical
      |  FROM up2)""".stripMargin

  /** DuckDB twin of TextOps.qualityScore as CTEs `q` + `qual` —
    * stopword list interpolated from TextOps.EnStopwords (single
    * source of truth; requires the `toks` CTE). Shared by the
    * quality_score and corpus_curation oracles. */
  /** DuckDB twin of TopicOps.plsaTopics' six EM rounds as a CTE chain
    * ending in `rk (topic, tok, u, rank)` + `nzf (topic, nu)` —
    * shared by the topic_model and topic_coherence oracles. Every
    * per-round CTE is MATERIALIZED (DuckDB would otherwise inline the
    * recursion exponentially). */
  private lazy val duckPlsaCtes: String = {
    val zs = 0 until 4
    def h(z: Int) = graft.functions.PortableHash.duckdbHash24(s"'plsa:' || tok || ':$z'")
    val initCols = zs.map(z => s"CAST(${h(z)} % 1000 + 1 AS BIGINT) AS u$z").mkString(", ")
    def nzCols = zs.map(z => s"sum(u$z) AS n$z").mkString(", ")
    def aCols = zs.map(z =>
      s"CAST(p.u$z AS DOUBLE) / CAST(n.n$z AS DOUBLE) * CAST(t.t$z AS DOUBLE) AS a$z")
      .mkString(", ")
    val den = "(((a0 + a1) + a2) + a3)"
    def rCols = zs.map(z =>
      s"CAST(round(a$z / $den * 1000000) AS BIGINT) AS r$z").mkString(", ")
    def phiCols = zs.map(z => s"sum(CAST(tf AS HUGEINT) * r$z) AS u$z").mkString(", ")
    def thCols = zs.map(z => s"sum(tf * r$z) AS t$z").mkString(", ")
    val unpiv = zs.map(z =>
        s"SELECT CAST($z AS BIGINT) AS topic, tok, CAST(u$z AS HUGEINT) AS u FROM phi6")
      .mkString(" UNION ALL ")
    val roundCtes = (1 to 6).map { r =>
      val (pp, tp, np) = (s"phi${r - 1}", s"th${r - 1}", s"nz${r - 1}")
      s"""e$r AS (SELECT f.doc_id, f.tok, f.tf, $aCols
         |       FROM tf f JOIN $pp p USING (tok) JOIN $tp t USING (doc_id)
         |       CROSS JOIN $np n),
         |r$r AS MATERIALIZED (SELECT doc_id, tok, tf, $rCols FROM e$r),
         |phi$r AS MATERIALIZED (SELECT tok, $phiCols FROM r$r GROUP BY 1),
         |th$r AS MATERIALIZED (SELECT doc_id, $thCols FROM r$r GROUP BY 1),
         |nz$r AS MATERIALIZED (SELECT $nzCols FROM phi$r)""".stripMargin
    }.mkString(",\n")
    s"""$duckToks,
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
       |phi0 AS MATERIALIZED (SELECT tok, $initCols FROM (SELECT DISTINCT tok FROM tf)),
       |th0 AS (SELECT DISTINCT doc_id, 1 AS t0, 1 AS t1, 1 AS t2, 1 AS t3 FROM tf),
       |nz0 AS (SELECT $nzCols FROM phi0),
       |$roundCtes,
       |fin AS ($unpiv),
       |nzf AS (SELECT topic, sum(u) AS nu FROM fin GROUP BY 1),
       |rk AS (SELECT topic, tok, u,
       |         CAST(row_number() OVER (PARTITION BY topic
       |           ORDER BY u DESC, tok) AS BIGINT) AS rank
       |       FROM fin)""".stripMargin
  }

  private val duckQualityCtes =
    s"""q AS (SELECT doc_id, count(*) AS n_tok, count(DISTINCT tok) AS n_distinct,
       |        sum(CASE WHEN tok IN (${sqlList(graft.ops.TextOps.EnStopwords)})
       |                 THEN 1 ELSE 0 END) AS n_stop
       |      FROM toks GROUP BY 1),
       |qual AS (SELECT doc_id, n_tok,
       |    round(n_stop / n_tok, 6) + 0 AS stop_ratio,
       |    round(n_distinct / n_tok, 6) + 0 AS distinct_ratio,
       |    round(least(n_tok / 100.0, 1.0) * 0.3 + (1.0 - n_stop / n_tok) * 0.3
       |          + (n_distinct / n_tok) * 0.4, 6) + 0 AS quality
       |  FROM q)""".stripMargin

  /** DuckDB twin of TextOps.langId as CTEs `c` + `lang` — marker
    * lists interpolated from TextOps.LangMarkers. Shared by the
    * lang_id and corpus_curation oracles. */
  private val duckLangCtes = {
    val counts = graft.ops.TextOps.LangMarkers.map { case (l, ms) =>
      s"  sum(CASE WHEN tok IN (${sqlList(ms)}) THEN 1 ELSE 0 END) AS c_$l"
    }.mkString(",\n")
    s"""c AS (SELECT doc_id,
       |$counts
       |  FROM toks GROUP BY 1),
       |lang AS (SELECT doc_id,
       |  CASE WHEN c_en=0 AND c_es=0 AND c_de=0 AND c_fr=0 THEN 'und'
       |       WHEN c_en>=c_es AND c_en>=c_de AND c_en>=c_fr THEN 'en'
       |       WHEN c_es>=c_de AND c_es>=c_fr THEN 'es'
       |       WHEN c_de>=c_fr THEN 'de' ELSE 'fr' END AS predicted_lang
       |  FROM c)""".stripMargin
  }

  /** DuckDB twin of VectorOps.sqrtCells(emb, 2): CTE block ending in
    * `cent (c_label, dim, cv)` plus `dims` and `ranked` (per-vector
    * cell ranks) — k = ceil(sqrt(N)) from a scalar subquery, seeds =
    * first k vectors, 2 Lloyd rounds, everything rounded before every
    * argmin so both engines assign identically. Shared by the ann_ivf
    * and similarity_join oracles. */
  private val duckSqrtCells =
    """dims AS (
      |  SELECT vec_id, CAST(u.i - 1 AS BIGINT) AS dim,
      |         CAST(embedding[u.i] AS DOUBLE) AS x
      |  FROM embeddings, unnest(range(1, len(embedding)+1)) u(i)),
      |kk AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS k FROM embeddings),
      |c0 AS (SELECT vec_id AS c_id, dim, round(x, 6) + 0 AS cv
      |       FROM dims WHERE vec_id < (SELECT k FROM kk)),
      |cd1 AS (SELECT d.vec_id, c.c_id,
      |          round(sum((d.x - c.cv)^2 ORDER BY d.dim), 6) + 0 AS dist
      |        FROM dims d JOIN c0 c USING (dim) GROUP BY 1, 2),
      |a1 AS (SELECT vec_id, c_id FROM (
      |         SELECT vec_id, c_id,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn
      |         FROM cd1) WHERE rn = 1),
      |c1 AS (SELECT a.c_id, d.dim, round(avg(d.x), 6) + 0 AS cv
      |       FROM dims d JOIN a1 a USING (vec_id) GROUP BY 1, 2),
      |cd2 AS (SELECT d.vec_id, c.c_id,
      |          round(sum((d.x - c.cv)^2 ORDER BY d.dim), 6) + 0 AS dist
      |        FROM dims d JOIN c1 c USING (dim) GROUP BY 1, 2),
      |a2 AS (SELECT vec_id, c_id FROM (
      |         SELECT vec_id, c_id,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn
      |         FROM cd2) WHERE rn = 1),
      |cent AS MATERIALIZED (SELECT a.c_id AS c_label, d.dim,
      |         round(avg(d.x), 6) + 0 AS cv
      |         FROM dims d JOIN a2 a USING (vec_id) GROUP BY 1, 2),
      |cd AS (
      |  SELECT d.vec_id, c.c_label,
      |    round(sum((d.x - c.cv)^2 ORDER BY d.dim), 6) + 0 AS cdist
      |  FROM dims d JOIN cent c USING (dim) GROUP BY 1, 2),
      |ranked AS MATERIALIZED (
      |  SELECT vec_id, c_label,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY cdist, c_label) AS rn
      |  FROM cd)""".stripMargin

  /** [[duckSqrtCells]] trained on the BASE slice (vec_id % 10 < 8)
    * only — seeds, both Lloyd rounds and the final centroids never
    * see the batch — but with `cd`/`ranked` assigning ALL vectors
    * against that codebook: the FULL-REBUILD twin whose answers
    * ann_incremental's merged (persisted-base ∪ map-side-batch)
    * index must reproduce bit-for-bit. */
  private val duckSqrtCellsIncr =
    """dims AS (
      |  SELECT vec_id, CAST(u.i - 1 AS BIGINT) AS dim,
      |         CAST(embedding[u.i] AS DOUBLE) AS x
      |  FROM embeddings, unnest(range(1, len(embedding)+1)) u(i)),
      |bdims AS (SELECT * FROM dims WHERE vec_id % 10 < 8),
      |kk AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS k
      |       FROM embeddings WHERE vec_id % 10 < 8),
      |c0 AS (SELECT vec_id AS c_id, dim, round(x, 6) + 0 AS cv
      |       FROM bdims WHERE vec_id < (SELECT k FROM kk)),
      |cd1 AS (SELECT d.vec_id, c.c_id,
      |          round(sum((d.x - c.cv)^2 ORDER BY d.dim), 6) + 0 AS dist
      |        FROM bdims d JOIN c0 c USING (dim) GROUP BY 1, 2),
      |a1 AS (SELECT vec_id, c_id FROM (
      |         SELECT vec_id, c_id,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn
      |         FROM cd1) WHERE rn = 1),
      |c1 AS (SELECT a.c_id, d.dim, round(avg(d.x), 6) + 0 AS cv
      |       FROM bdims d JOIN a1 a USING (vec_id) GROUP BY 1, 2),
      |cd2 AS (SELECT d.vec_id, c.c_id,
      |          round(sum((d.x - c.cv)^2 ORDER BY d.dim), 6) + 0 AS dist
      |        FROM bdims d JOIN c1 c USING (dim) GROUP BY 1, 2),
      |a2 AS (SELECT vec_id, c_id FROM (
      |         SELECT vec_id, c_id,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn
      |         FROM cd2) WHERE rn = 1),
      |cent AS (SELECT a.c_id AS c_label, d.dim, round(avg(d.x), 6) + 0 AS cv
      |         FROM bdims d JOIN a2 a USING (vec_id) GROUP BY 1, 2),
      |cd AS (
      |  SELECT d.vec_id, c.c_label,
      |    round(sum((d.x - c.cv)^2 ORDER BY d.dim), 6) + 0 AS cdist
      |  FROM dims d JOIN cent c USING (dim) GROUP BY 1, 2),
      |ranked AS (
      |  SELECT vec_id, c_label,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY cdist, c_label) AS rn
      |  FROM cd)""".stripMargin

  /** The FULL refresh chain shared by the ann_codebook_refresh and
    * index_maintenance_plan oracles: [[duckSqrtCellsIncr]] (the stale
    * base-trained chain, all vectors ranked) + the n-prefixed
    * full-corpus retrain over the shared exploded `dims`, ending in
    * `census (old_cell, new_cell, n_vecs)` — each vector's primary
    * cell under the two codebooks. */
  private lazy val duckCodebookRefreshCtes =
    s"""$duckSqrtCellsIncr,
       |nkk AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS k FROM embeddings),
       |nc0 AS (SELECT vec_id AS c_id, dim, round(x, 6) + 0 AS cv
       |        FROM dims WHERE vec_id < (SELECT k FROM nkk)),
       |ncd1 AS (SELECT d.vec_id, c.c_id,
       |           round(sum((d.x - c.cv)^2 ORDER BY d.dim), 6) + 0 AS dist
       |         FROM dims d JOIN nc0 c USING (dim) GROUP BY 1, 2),
       |na1 AS (SELECT vec_id, c_id FROM (
       |          SELECT vec_id, c_id,
       |            row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn
       |          FROM ncd1) WHERE rn = 1),
       |nc1 AS (SELECT a.c_id, d.dim, round(avg(d.x), 6) + 0 AS cv
       |        FROM dims d JOIN na1 a USING (vec_id) GROUP BY 1, 2),
       |ncd2 AS (SELECT d.vec_id, c.c_id,
       |           round(sum((d.x - c.cv)^2 ORDER BY d.dim), 6) + 0 AS dist
       |         FROM dims d JOIN nc1 c USING (dim) GROUP BY 1, 2),
       |na2 AS (SELECT vec_id, c_id FROM (
       |          SELECT vec_id, c_id,
       |            row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn
       |          FROM ncd2) WHERE rn = 1),
       |ncent AS (SELECT a.c_id AS c_label, d.dim, round(avg(d.x), 6) + 0 AS cv
       |          FROM dims d JOIN na2 a USING (vec_id) GROUP BY 1, 2),
       |ncd AS (
       |  SELECT d.vec_id, c.c_label,
       |    round(sum((d.x - c.cv)^2 ORDER BY d.dim), 6) + 0 AS cdist
       |  FROM dims d JOIN ncent c USING (dim) GROUP BY 1, 2),
       |nranked AS (
       |  SELECT vec_id, c_label,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cdist, c_label) AS rn
       |  FROM ncd),
       |census AS (SELECT o.c_label AS old_cell, n.c_label AS new_cell,
       |       count(*) AS n_vecs
       |  FROM (SELECT vec_id, c_label FROM ranked WHERE rn = 1) o
       |  JOIN (SELECT vec_id, c_label FROM nranked WHERE rn = 1) n USING (vec_id)
       |  GROUP BY 1, 2)""".stripMargin

  def all: Map[String, String] = oracleSqlBase ++ persistedIndexOracles

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "dedup_minhash_lsh" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |$duckLshCand
         |SELECT a_id, b_id, n_shared_bands FROM cand""".stripMargin,
    // exact probe-pair Jaccard vs banded detection, per decile; the
    // probe filter (a_id < 25) applies to BOTH sides identically
    "lsh_recall" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
         |pint AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |         FROM (SELECT doc_id, shingle FROM shd WHERE doc_id < 25) a
         |         JOIN shd b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2),
         |pjac AS (SELECT p.a_id, p.b_id,
         |           round(p.inter / (sa.n + sb.n - p.inter), 6) + 0 AS jaccard
         |         FROM pint p
         |         JOIN sizes sa ON sa.doc_id = p.a_id
         |         JOIN sizes sb ON sb.doc_id = p.b_id),
         |det AS (SELECT a_id, b_id FROM cand WHERE a_id < 25)
         |SELECT least(9, CAST(floor(j.jaccard * 10) AS BIGINT)) AS bucket,
         |  count(*) AS n_pairs,
         |  CAST(coalesce(sum(CASE WHEN d.a_id IS NOT NULL THEN 1 END), 0) AS BIGINT)
         |    AS n_detected,
         |  round(coalesce(sum(CASE WHEN d.a_id IS NOT NULL THEN 1 END), 0)
         |        / count(*), 6) + 0 AS detect_rate
         |FROM pjac j
         |LEFT JOIN det d ON d.a_id = j.a_id AND d.b_id = j.b_id
         |GROUP BY 1""".stripMargin,
    // full-recompute equivalence receipt: the incremental path must
    // reproduce the complete-corpus candidate set restricted to
    // pairs with at least one batch (>= 400) member
    "dedup_incremental" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |$duckLshCand
         |SELECT a_id, b_id, n_shared_bands FROM cand
         |WHERE a_id >= 400 OR b_id >= 400""".stripMargin,
    // banding on the Spark side is pigeonhole-exact, so the oracle
    // uses the plain quadratic form — same pair set by construction
    "dedup_simhash" ->
      s"""WITH $duckToks,
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         |hb AS (SELECT doc_id, tf,
         |         CAST(${graft.functions.PortableHash.duckdbHash48("tok")} AS BIGINT) AS h
         |       FROM tf),
         |bitsum AS (
         |  SELECT doc_id, b.i AS i,
         |    sum(tf * (((h // CAST(power(2, b.i) AS BIGINT)) % 2) * 2 - 1)) AS s
         |  FROM hb, unnest(range(0, 48)) b(i)
         |  GROUP BY 1, 2),
         |sh AS (SELECT doc_id,
         |         CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, i) AS BIGINT)
         |                       ELSE 0 END) AS BIGINT) AS simhash
         |       FROM bitsum GROUP BY 1)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a, sh b
         |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    "ngram_jaccard" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify
         |SELECT a_id, b_id, inter, jaccard FROM jac""".stripMargin,
    // first-occurrence = min doc_id per shingle; novelty = own-first
    // fraction of the doc's distinct shingles
    "ngram_novelty" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |fs AS (SELECT shingle, min(doc_id) AS first_doc FROM shd GROUP BY 1)
         |SELECT s.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  round(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
         |        / CAST(count(*) AS DOUBLE), 6) + 0 AS novelty
         |FROM shd s JOIN fs f USING (shingle)
         |GROUP BY 1""".stripMargin,
    // p(x,y) = ((gid+3)(7x+13y+5)+perturb) % 256; pooled value =
    // floor mean of each non-overlapping 2x2 block
    "image_resize" ->
      """WITH g AS (SELECT doc_id AS media_id, doc_id % 97 AS gid,
        |             doc_id // 97 AS gen FROM documents),
        |t AS (SELECT media_id, gid, gen, u.tx, v.ty
        |      FROM g, unnest(range(0, 4)) u(tx), unnest(range(0, 3)) v(ty)),
        |q AS (SELECT media_id, tx, ty,
        |        ((gid + 3) * ((2 * tx) * 7 + (2 * ty) * 13 + 5)
        |         + CASE WHEN gen = 1 AND 2 * tx = 3 AND 2 * ty = 2
        |                THEN 128 ELSE 0 END) % 256 AS p00,
        |        ((gid + 3) * ((2 * tx + 1) * 7 + (2 * ty) * 13 + 5)
        |         + CASE WHEN gen = 1 AND 2 * tx + 1 = 3 AND 2 * ty = 2
        |                THEN 128 ELSE 0 END) % 256 AS p10,
        |        ((gid + 3) * ((2 * tx) * 7 + (2 * ty + 1) * 13 + 5)
        |         + CASE WHEN gen = 1 AND 2 * tx = 3 AND 2 * ty + 1 = 2
        |                THEN 128 ELSE 0 END) % 256 AS p01,
        |        ((gid + 3) * ((2 * tx + 1) * 7 + (2 * ty + 1) * 13 + 5)
        |         + CASE WHEN gen = 1 AND 2 * tx + 1 = 3 AND 2 * ty + 1 = 2
        |                THEN 128 ELSE 0 END) % 256 AS p11
        |      FROM t)
        |SELECT media_id, CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
        |  CAST((p00 + p10 + p01 + p11) // 4 AS BIGINT) AS v
        |FROM q""".stripMargin,
    "image_phash" ->
      s"""WITH $duckAhash
         |SELECT media_id, ahash FROM ah""".stripMargin,
    // quadratic twin over the formula hashes (DuckDB at oracle SF) —
    // the engine side goes through the pigeonhole chunk join
    "image_near_dup" ->
      s"""WITH $duckAhash
         |SELECT a.media_id AS a_id, b.media_id AS b_id,
         |       CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
         |FROM ah a, ah b
         |WHERE a.media_id < b.media_id
         |  AND bit_count(xor(a.ahash, b.ahash)) <= 3""".stripMargin,
    "audio_fingerprint" ->
      s"""WITH $duckAudioFp
         |SELECT media_id, fp FROM afp""".stripMargin,
    // formula samples ⋈ the engine's exact trig literals; millis
    // floor-scale before squaring, lowest-bin dominant tie-break
    "audio_spectrogram" ->
      s"""WITH $duckPcmSmp,
         |$duckTrig,
         |fr AS (SELECT media_id, i // 64 AS frame, i % 64 AS n, s
         |       FROM smp WHERE i < 192),
         |cs AS (SELECT f.media_id, f.frame, t.bin,
         |         CAST(sum(f.s * t.cosm) AS BIGINT) AS cmic,
         |         CAST(sum(f.s * t.sinm) AS BIGINT) AS smic
         |       FROM fr f JOIN trig t ON t.n = f.n GROUP BY 1, 2, 3),
         |en AS (SELECT media_id, frame, bin,
         |         (cmic - ((cmic % 1000) + 1000) % 1000) // 1000 AS cm,
         |         (smic - ((smic % 1000) + 1000) % 1000) // 1000 AS sm
         |       FROM cs),
         |ee AS (SELECT media_id, frame, bin,
         |         CAST(cm * cm + sm * sm AS BIGINT) AS energy FROM en),
         |dm AS (SELECT *, row_number() OVER (PARTITION BY media_id, frame
         |           ORDER BY energy DESC, bin) AS rn FROM ee)
         |SELECT media_id, CAST(frame AS INT) AS frame,
         |  CAST(bin AS INT) AS bin, energy, rn = 1 AS dominant
         |FROM dm""".stripMargin,
    // quadratic twin over the formula fingerprints (DuckDB at oracle
    // SF) — the engine side goes through the pigeonhole chunk join
    "audio_near_dup" ->
      s"""WITH $duckAudioFp
         |SELECT a.media_id AS a_id, b.media_id AS b_id,
         |       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         |FROM afp a, afp b
         |WHERE a.media_id < b.media_id
         |  AND bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin,
    // both modality funnels off the shared formula-hash fragments:
    // quadratic pair twin (oracle SF) + recursive-CTE components +
    // distinct-component golden sum, one row per modality
    "multimodal_pipeline" ->
      s"""WITH RECURSIVE $duckAhash,
         |$duckAudioFp,
         |ip AS (SELECT a.media_id AS a_id, b.media_id AS b_id
         |       FROM ah a, ah b
         |       WHERE a.media_id < b.media_id
         |         AND bit_count(xor(a.ahash, b.ahash)) <= 3),
         |iu AS (SELECT a_id AS src, b_id AS dst FROM ip
         |       UNION ALL SELECT b_id, a_id FROM ip),
         |ir AS (SELECT DISTINCT src AS id, src AS r FROM iu
         |       UNION
         |       SELECT u.src, ir.r FROM iu u JOIN ir ON ir.id = u.dst),
         |icl AS (SELECT id, min(r) AS cmp FROM ir GROUP BY 1),
         |ap AS (SELECT a.media_id AS a_id, b.media_id AS b_id
         |       FROM afp a, afp b
         |       WHERE a.media_id < b.media_id
         |         AND bit_count(xor(a.fp, b.fp)) <= 3),
         |au AS (SELECT a_id AS src, b_id AS dst FROM ap
         |       UNION ALL SELECT b_id, a_id FROM ap),
         |ar AS (SELECT DISTINCT src AS id, src AS r FROM au
         |       UNION
         |       SELECT u.src, ar.r FROM au u JOIN ar ON ar.id = u.dst),
         |acl AS (SELECT id, min(r) AS cmp FROM ar GROUP BY 1)
         |SELECT 'image' AS modality,
         |  (SELECT count(*) FROM documents) AS n_media,
         |  (SELECT count(*) FROM ah) AS n_decoded,
         |  (SELECT count(*) FROM ip) AS n_pairs,
         |  (SELECT count(*) FROM icl) AS n_clustered,
         |  (SELECT count(DISTINCT cmp) FROM icl) AS n_clusters,
         |  (SELECT count(*) FROM ah) - (SELECT count(*) FROM icl)
         |    + (SELECT count(DISTINCT cmp) FROM icl) AS n_kept,
         |  (SELECT CAST(coalesce(sum(DISTINCT cmp), 0) AS BIGINT) FROM icl)
         |    AS golden_id_sum
         |UNION ALL
         |SELECT 'audio' AS modality,
         |  (SELECT count(*) FROM documents) AS n_media,
         |  (SELECT count(*) FROM afp) AS n_decoded,
         |  (SELECT count(*) FROM ap) AS n_pairs,
         |  (SELECT count(*) FROM acl) AS n_clustered,
         |  (SELECT count(DISTINCT cmp) FROM acl) AS n_clusters,
         |  (SELECT count(*) FROM afp) - (SELECT count(*) FROM acl)
         |    + (SELECT count(DISTINCT cmp) FROM acl) AS n_kept,
         |  (SELECT CAST(coalesce(sum(DISTINCT cmp), 0) AS BIGINT) FROM acl)
         |    AS golden_id_sum""".stripMargin,
    "dedup_containment" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
         |inter AS (
         |  SELECT c.a_id, c.b_id, count(*) AS inter
         |  FROM cand c
         |  JOIN shd a ON a.doc_id = c.a_id
         |  JOIN shd b ON b.doc_id = c.b_id AND b.shingle = a.shingle
         |  GROUP BY 1, 2),
         |cont AS (
         |  SELECT i.a_id, i.b_id, i.inter,
         |         round(i.inter / sa.n, 6) + 0 AS containment_a,
         |         round(i.inter / sb.n, 6) + 0 AS containment_b
         |  FROM inter i
         |  JOIN sizes sa ON sa.doc_id = i.a_id
         |  JOIN sizes sb ON sb.doc_id = i.b_id)
         |SELECT a_id, b_id, inter, containment_a, containment_b
         |FROM cont
         |WHERE greatest(containment_a, containment_b) >= 0.5""".stripMargin,
    "dedup_near_verified" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify
         |SELECT j.a_id, j.b_id, c.n_shared_bands, j.inter, j.jaccard
         |FROM jac j JOIN cand c USING (a_id, b_id)
         |WHERE j.jaccard >= 0.5""".stripMargin,
    // id-ordered wedge join (a<b<c): e1=(a,b) ⋈ e2=(b,c) closed by
    // e3=(a,c) — each triangle generated exactly once
    "dedup_triangles" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify,
         |e AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.5),
         |ne AS (SELECT count(*) AS n_edges FROM e),
         |deg AS (SELECT id, count(*) AS d
         |        FROM (SELECT a_id AS id FROM e
         |              UNION ALL SELECT b_id AS id FROM e) GROUP BY 1),
         |nw AS (SELECT coalesce(CAST(sum(d * (d - 1) // 2) AS BIGINT), 0)
         |         AS n_wedges FROM deg),
         |nt AS (SELECT count(*) AS n_triangles
         |       FROM e e1
         |       JOIN e e2 ON e1.b_id = e2.a_id
         |       JOIN e e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id)
         |SELECT ne.n_edges, nw.n_wedges, nt.n_triangles,
         |  CASE WHEN nw.n_wedges = 0 THEN 0.0
         |       ELSE round(3 * nt.n_triangles / nw.n_wedges, 6) + 0
         |  END AS clustering
         |FROM ne, nw, nt""".stripMargin,
    // component id = min doc_id transitively reachable over verified
    // near-dup edges (recursive CTE = the oracle twin of Spark-side
    // min-label propagation to fixpoint)
    // member-level verified edges (the quadratic jac twin), the same
    // recursive components, per-component direct-edge counts, then
    // the size census with exact-div density
    "dedup_cluster_density" ->
      s"""WITH RECURSIVE $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify,
         |edges AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.5),
         |und AS (SELECT a_id AS src, b_id AS dst FROM edges
         |        UNION ALL SELECT b_id, a_id FROM edges),
         |reach AS (
         |  SELECT DISTINCT src AS id, src AS r FROM und
         |  UNION
         |  SELECT u.src, reach.r FROM und u JOIN reach ON reach.id = u.dst),
         |comp AS (SELECT id AS doc_id, min(r) AS component_id FROM reach GROUP BY 1),
         |pc AS (SELECT c.component_id, CAST(count(*) AS BIGINT) AS n_edges
         |       FROM edges e JOIN comp c ON c.doc_id = e.a_id GROUP BY 1),
         |cs AS (SELECT component_id, CAST(count(*) AS BIGINT) AS size
         |       FROM comp GROUP BY 1),
         |cl AS (SELECT cs.size, coalesce(pc.n_edges, 0) AS n_edges
         |       FROM cs LEFT JOIN pc USING (component_id))
         |SELECT size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum((size * (size - 1)) // 2) AS BIGINT) AS n_possible_pairs,
         |  CAST(sum(n_edges) AS BIGINT) AS n_direct_pairs,
         |  CAST((sum(n_edges) * 1000000) // sum((size * (size - 1)) // 2) AS BIGINT)
         |    AS density_micro
         |FROM cl GROUP BY 1""".stripMargin,
    // the components twin + a lang join: per-cluster lang census,
    // majority share by exact integer div (only max counts emitted —
    // count ties cannot flake an argmax lang)
    "dedup_cluster_purity" ->
      s"""WITH RECURSIVE $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify,
         |edges AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.5),
         |und AS (SELECT a_id AS src, b_id AS dst FROM edges
         |        UNION ALL SELECT b_id, a_id FROM edges),
         |reach AS (
         |  SELECT DISTINCT src AS id, src AS r FROM und
         |  UNION
         |  SELECT u.src, reach.r FROM und u JOIN reach ON reach.id = u.dst),
         |comp AS (SELECT id AS doc_id, min(r) AS component_id FROM reach GROUP BY 1),
         |pl AS (SELECT c.component_id, d.lang, CAST(count(*) AS BIGINT) AS nl
         |       FROM comp c JOIN documents d USING (doc_id) GROUP BY 1, 2)
         |SELECT component_id, CAST(sum(nl) AS BIGINT) AS size,
         |  CAST(count(*) AS BIGINT) AS n_langs,
         |  CAST((max(nl) * 1000000) // sum(nl) AS BIGINT) AS maj_share_micro,
         |  count(*) = 1 AS pure
         |FROM pl GROUP BY 1""".stripMargin,
    // verified pairs at θ=0.2 (the quadratic jac twin), the mh minhash
    // CTE, per-pair collision counts at each width, one estimator
    // formula (C = 0 is the full-width row), exact integer error sums
    "minhash_bbit" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify,
         |p AS (SELECT a_id, b_id, jaccard FROM jac WHERE jaccard >= 0.2),
         |co AS (SELECT p.a_id, p.b_id, p.jaccard,
         |         sum(CASE WHEN ma.minh = mb.minh THEN 1 ELSE 0 END) AS k24,
         |         sum(CASE WHEN ma.minh % 16 = mb.minh % 16 THEN 1 ELSE 0 END) AS k4,
         |         sum(CASE WHEN ma.minh % 4 = mb.minh % 4 THEN 1 ELSE 0 END) AS k2,
         |         sum(CASE WHEN ma.minh % 2 = mb.minh % 2 THEN 1 ELSE 0 END) AS k1
         |       FROM p
         |       JOIN mh ma ON ma.doc_id = p.a_id
         |       JOIN mh mb ON mb.doc_id = p.b_id AND mb.seed = ma.seed
         |       GROUP BY 1, 2, 3),
         |x AS (SELECT CAST(24 AS BIGINT) AS b_bits, k24 AS k, jaccard FROM co
         |      UNION ALL SELECT 4, k4, jaccard FROM co
         |      UNION ALL SELECT 2, k2, jaccard FROM co
         |      UNION ALL SELECT 1, k1, jaccard FROM co),
         |e AS (SELECT b_bits,
         |        abs(CAST(round((k / 12.0 -
         |              CASE b_bits WHEN 24 THEN 0.0 WHEN 4 THEN 0.0625
         |                          WHEN 2 THEN 0.25 ELSE 0.5 END) /
         |            (1.0 - CASE b_bits WHEN 24 THEN 0.0 WHEN 4 THEN 0.0625
         |                               WHEN 2 THEN 0.25 ELSE 0.5 END) * 1000000)
         |          AS BIGINT)
         |          - CAST(round(jaccard * 1000000) AS BIGINT)) AS err6
         |      FROM x)
         |SELECT b_bits, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(err6) AS BIGINT) AS sum_abs_err6,
         |  CAST(sum(err6) // count(*) AS BIGINT) AS mae_micro,
         |  b_bits * 12 AS storage_bits
         |FROM e GROUP BY b_bits""".stripMargin,
    // dedup_clusters' components + singleton fallback labels, then
    // the size census with the exact integer-threshold keep rule:
    // kept ⇔ hash24('sds:'+doc_id)·10⁶ < p6·2²⁴, p6 = round(10⁶/√s)
    "soft_dedup_sample" ->
      s"""WITH RECURSIVE $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify,
         |edges AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.5),
         |und AS (SELECT a_id AS src, b_id AS dst FROM edges
         |        UNION ALL SELECT b_id, a_id FROM edges),
         |reach AS (
         |  SELECT DISTINCT src AS id, src AS r FROM und
         |  UNION
         |  SELECT u.src, reach.r FROM und u JOIN reach ON reach.id = u.dst),
         |comp AS (SELECT id AS doc_id, min(r) AS component_id FROM reach GROUP BY 1),
         |lab AS (SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS cid
         |        FROM documents d LEFT JOIN comp c USING (doc_id)),
         |sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS size,
         |         CASE WHEN count(*) = 1 THEN 1000000
         |              ELSE CAST(round(1000000 / sqrt(count(*))) AS BIGINT)
         |         END AS p6
         |       FROM lab GROUP BY 1),
         |kk AS (SELECT l.doc_id, s.cid, s.size, s.p6,
         |         CASE WHEN ${duckHash24("'sds:' || CAST(l.doc_id AS VARCHAR)")}
         |                   * 1000000 < s.p6 * 16777216 THEN 1 ELSE 0 END AS kept
         |       FROM lab l JOIN sz s USING (cid))
         |SELECT size, CAST(count(DISTINCT cid) AS BIGINT) AS n_clusters,
         |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(kept) AS BIGINT) AS n_kept,
         |  round(p6 / 1000000.0, 6) + 0 AS p_keep
         |FROM kk GROUP BY size, p6""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify,
         |edges AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.5),
         |und AS (SELECT a_id AS src, b_id AS dst FROM edges
         |        UNION ALL SELECT b_id, a_id FROM edges),
         |reach AS (
         |  SELECT DISTINCT src AS id, src AS r FROM und
         |  UNION
         |  SELECT u.src, reach.r FROM und u JOIN reach ON reach.id = u.dst)
         |SELECT id AS doc_id, min(r) AS component_id FROM reach GROUP BY 1""".stripMargin,
    // bucket occupancy over exact-family representatives (GROUP BY
    // text ≡ the engine's sha2 families): the minhash/band chain over
    // reps only, then the keySkewProfile shape — share against the
    // full bucket total, top-10 with deterministic tie-break
    "lsh_bucket_profile" ->
      s"""WITH reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |toks AS (
         |  SELECT doc_id, u.i - 1 AS pos, trim(parts[u.i]) AS tok
         |  FROM (SELECT d.doc_id, list_slice(string_split(d.text, ' '), 1, 512) AS parts
         |        FROM documents d JOIN reps USING (doc_id)) d,
         |       unnest(range(1, len(parts)+1)) u(i)
         |  WHERE trim(parts[u.i]) <> ''),
         |$duckShingles,
         |v AS (SELECT shingle, ${duckHash24("shingle")} AS h0
         |      FROM (SELECT DISTINCT shingle FROM shd)),
         |mh AS (
         |  SELECT d.doc_id, s.seed,
         |    min((((s.seed + 1) * 2654435761 % 16777259) * v.h0
         |         + ((s.seed + 1) * 40503 + 12345) % 16777259) % 16777259) AS minh
         |  FROM shd d JOIN v USING (shingle), unnest(range(0, 12)) s(seed)
         |  GROUP BY 1, 2),
         |bk AS (
         |  SELECT doc_id, seed // 3 AS band,
         |         string_agg(CAST(minh AS VARCHAR), '-' ORDER BY seed) AS band_sig
         |  FROM mh GROUP BY 1, 2),
         |counts AS (SELECT CAST(band AS VARCHAR) || '#' || band_sig AS bucket,
         |                  count(*) AS n_rows
         |           FROM bk GROUP BY 1),
         |total AS (SELECT sum(n_rows) AS t FROM counts)
         |SELECT bucket, n_rows, round(n_rows / t, 6) + 0 AS share
         |FROM counts, total
         |ORDER BY n_rows DESC, bucket LIMIT 10""".stripMargin,
    "html_blocks" ->
      s"""WITH $duckHtmlGate
         |SELECT doc_id, block_idx, n_chars, link_density, stop_ratio, keep,
         |       txt AS block_text
         |FROM pg""".stripMargin,
    "html_extract" ->
      s"""WITH $duckHtmlGate
         |SELECT doc_id, count(*) AS n_blocks,
         |  CAST(coalesce(sum(CASE WHEN keep THEN 1 END), 0) AS BIGINT) AS n_kept,
         |  coalesce(string_agg(CASE WHEN keep THEN txt END, ' ' ORDER BY block_idx), '')
         |    AS main_text
         |FROM pg GROUP BY 1""".stripMargin,
    "url_normalize" ->
      s"""WITH $duckUrlCtes
         |SELECT doc_id, url, host, domain, canonical FROM upn""".stripMargin,
    // the composition oracle: url survivors + the html gate + the
    // cleanliness filter + the per-source funnel, all from the same
    // shared CTE blocks the stage oracles use
    "web_ingest" ->
      s"""WITH $duckUrlCtes,
         |$duckHtmlGate,
         |surv AS (SELECT min(doc_id) AS doc_id FROM upn GROUP BY canonical),
         |ext AS (SELECT doc_id,
         |          CAST(coalesce(sum(CASE WHEN keep THEN 1 END), 0) AS BIGINT) AS n_kept,
         |          length(coalesce(string_agg(CASE WHEN keep THEN txt END, ' '
         |            ORDER BY block_idx), '')) AS clean_chars
         |        FROM pg GROUP BY 1),
         |cln AS (SELECT e.doc_id, e.clean_chars
         |        FROM ext e JOIN surv USING (doc_id)
         |        WHERE e.n_kept >= 1 AND e.clean_chars >= 50)
         |SELECT d.source, count(*) AS n_pages,
         |  CAST(coalesce(sum(CASE WHEN s.doc_id IS NOT NULL THEN 1 END), 0) AS BIGINT)
         |    AS n_unique,
         |  CAST(coalesce(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 END), 0) AS BIGINT)
         |    AS n_clean,
         |  CAST(coalesce(sum(c.clean_chars), 0) AS BIGINT) AS clean_chars
         |FROM documents d
         |LEFT JOIN surv s USING (doc_id)
         |LEFT JOIN cln c USING (doc_id)
         |GROUP BY 1""".stripMargin,
    "url_dedup" ->
      s"""WITH $duckUrlCtes
         |SELECT canonical, min(doc_id) AS keep_id, count(*) AS n_dup
         |FROM upn GROUP BY 1""".stripMargin,
    "domain_stats" ->
      s"""WITH $duckUrlCtes
         |SELECT domain, count(*) AS n_docs,
         |       count(DISTINCT canonical) AS n_canonical
         |FROM upn GROUP BY 1""".stripMargin,
    "corpus_curation" ->
      s"""WITH $duckToks,
         |$duckQualityCtes,
         |$duckLangCtes,
         |tc AS (SELECT doc_id,
         |  CAST(len(list_filter(list_transform(string_split(text, ' '), t -> trim(t)),
         |                       t -> t <> '')) AS BIGINT) AS n_ws_tokens
         |  FROM documents)
         |SELECT qual.doc_id, lang.predicted_lang, qual.quality, tc.n_ws_tokens
         |FROM qual JOIN lang USING (doc_id) JOIN tc USING (doc_id)
         |WHERE lang.predicted_lang = 'en' AND qual.quality >= 0.5
         |  AND tc.n_ws_tokens BETWEEN 5 AND 100000""".stripMargin,
    "doc_fingerprint" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |h AS (SELECT doc_id, pos, ${duckHash24("shingle")} AS h FROM shp)
         |SELECT DISTINCT doc_id,
         |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |FROM h""".stripMargin,
    "decontaminate" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |h AS (SELECT doc_id, pos, ${duckHash24("shingle")} AS h FROM shp),
         |fps AS (SELECT DISTINCT doc_id,
         |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |  FROM h)
         |SELECT c.doc_id, count(*) AS n_shared_fp
         |FROM (SELECT doc_id, fp FROM fps WHERE doc_id >= 50) c
         |JOIN (SELECT DISTINCT fp FROM fps WHERE doc_id < 50) b USING (fp)
         |GROUP BY 1""".stripMargin,
    // Bloom gate is an execution detail with no false negatives, and
    // its false positives die in the exact verify join — the oracle
    // is therefore the PLAIN exact anti-join over winnowed fps
    "decontaminate_bloom" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |h AS (SELECT doc_id, pos, ${duckHash24("shingle")} AS h FROM shp),
         |fps AS (SELECT DISTINCT doc_id,
         |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |  FROM h),
         |cfp AS (SELECT doc_id, fp FROM fps WHERE doc_id >= 50),
         |bfp AS (SELECT DISTINCT fp FROM fps WHERE doc_id < 50),
         |dirty AS (SELECT DISTINCT c.doc_id FROM cfp c JOIN bfp b USING (fp))
         |SELECT doc_id, count(*) AS n_fp FROM cfp
         |WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
         |GROUP BY 1""".stripMargin,
    // six chained assignment/merge CTE rounds; character seeding via
    // per-position slicing (both engines slice by character)
    "bpe_merges" ->
      s"""WITH $duckToks,
         |w1 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS wc,
         |    array_to_string(list_transform(range(1, length(tok) + 1),
         |                                   i -> tok[i:i]), '  ') AS syms
         |  FROM toks GROUP BY tok),
         |${(1 to 6).map(duckBpeRound).mkString(",\n")}
         |SELECT CAST(merge_round AS BIGINT) AS merge_round, lhs, rhs, pair_count
         |FROM (${(1 to 6).map(r => s"SELECT * FROM t$r").mkString(" UNION ALL ")})""".stripMargin,
    // same six training rounds, then the final word table's symbol
    // histogram ranked (count desc, symbol) — top 20
    "bpe_encode" ->
      s"""WITH $duckToks,
         |w1 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS wc,
         |    array_to_string(list_transform(range(1, length(tok) + 1),
         |                                   i -> tok[i:i]), '  ') AS syms
         |  FROM toks GROUP BY tok),
         |${(1 to 6).map(duckBpeRound).mkString(",\n")},
         |hist AS (SELECT symbol, CAST(sum(wc) AS BIGINT) AS n_occ FROM (
         |    SELECT wc, unnest(string_split(syms, '  ')) AS symbol FROM w7)
         |  GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY n_occ DESC, symbol) AS BIGINT)
         |    AS rank, symbol, n_occ
         |FROM hist ORDER BY n_occ DESC, symbol LIMIT 20""".stripMargin,
    // same six training rounds; the encoder key is the symbol string
    // with separators removed (a word IS its symbols re-joined)
    "bpe_tokenize" ->
      s"""WITH $duckToks,
         |w1 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS wc,
         |    array_to_string(list_transform(range(1, length(tok) + 1),
         |                                   i -> tok[i:i]), '  ') AS syms
         |  FROM toks GROUP BY tok),
         |${(1 to 6).map(duckBpeRound).mkString(",\n")},
         |enc AS (SELECT replace(syms, '  ', '') AS tok,
         |    CAST(len(string_split(syms, '  ')) AS BIGINT) AS n_syms FROM w7),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_ws_tokens,
         |       CAST(sum(tf * n_syms) AS BIGINT) AS n_bpe_tokens
         |FROM tf JOIN enc USING (tok) GROUP BY doc_id""".stripMargin,
    // 64 chained training rounds, then a live-symbol census of the
    // word table at every 8th round: the growth/compression curve
    // both engines implement UAX #15 NFC (java.text.Normalizer /
    // nfc_normalize); the dirty twin is rebuilt from the same pure
    // construction
    "text_normalize" ->
      """SELECT doc_id,
        |  length(text || ' cafe' || chr(769) || chr(8203) || chr(65279)) AS n_dirty,
        |  length(nfc_normalize(regexp_replace(
        |      text || ' cafe' || chr(769) || chr(8203) || chr(65279),
        |      '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g'))) AS n_norm,
        |  right(nfc_normalize(regexp_replace(
        |      text || ' cafe' || chr(769) || chr(8203) || chr(65279),
        |      '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g')), 4) AS tail
        |FROM documents""".stripMargin,
    "wordpiece_vocab" ->
      s"""WITH $duckToks,
         |$duckWordpieceVocab
         |SELECT rank, piece, score FROM wpv""".stripMargin,
    // both dp chains in one query (the shared wordpiece-vocab head
    // appears once via duckWordpiece; the unigram TAIL appends)
    "tokenizer_fertility" ->
      s"""WITH $duckToks,
         |$duckWordpiece,
         |$duckUnigramTail,
         |wfert AS (SELECT 'wordpiece_greedy' AS algorithm,
         |    count(*) AS n_words,
         |    CAST(sum(w.wc) AS BIGINT) AS n_occurrences,
         |    CAST(sum(w.wc * s.n_pieces) AS BIGINT) AS n_pieces_total
         |  FROM ws16 s JOIN wpw w USING (word) WHERE s.fin),
         |ufert AS (SELECT 'unigram_viterbi' AS algorithm,
         |    count(*) AS n_words,
         |    CAST(sum(w.wc) AS BIGINT) AS n_occurrences,
         |    CAST(sum(w.wc * len(string_split(s.pieces, ' '))) AS BIGINT)
         |      AS n_pieces_total
         |  FROM us16 s JOIN wpw w USING (word) WHERE s.pos = length(s.word))
         |SELECT algorithm, n_words, n_occurrences, n_pieces_total,
         |  round(n_pieces_total / n_occurrences, 6) + 0 AS fertility
         |FROM (SELECT * FROM wfert UNION ALL SELECT * FROM ufert)""".stripMargin,
    "unigram_encode" ->
      s"""WITH $duckToks,
         |$duckUnigram
         |SELECT w.word, w.wc,
         |  CAST(len(string_split(s.pieces, ' ')) AS BIGINT) AS n_pieces,
         |  s.pieces, s.score_mu
         |FROM us16 s JOIN wpw w USING (word)
         |WHERE s.pos = length(s.word)
         |QUALIFY row_number() OVER (ORDER BY w.wc DESC, w.word) <= 200""".stripMargin,
    // the greedy path replayed: 16 unrolled longest-prefix-match
    // stages; top-200 most frequent words emitted with their
    // segmentation and piece count
    "wordpiece_encode" ->
      s"""WITH $duckToks,
         |$duckWordpiece
         |SELECT w.word, w.wc, s.n_pieces, s.pieces
         |FROM ws16 s JOIN wpw w USING (word)
         |QUALIFY row_number() OVER (ORDER BY w.wc DESC, w.word) <= 200""".stripMargin,
    // the lightened persist-twin shape: retrain from scratch, hash
    // every artifact row in the engine's (kind, piece, score, rank)
    // format — model_sha pins FULL reload ≡ retrain equality — and
    // replay the greedy encode for the top-16 census words
    "wordpiece_model_persist" ->
      s"""WITH $duckToks,
         |$duckWordpiece,
         |art AS (
         |  SELECT 'm,' || piece || ',' || CAST(score AS VARCHAR) || ',' ||
         |         CAST(rank AS VARCHAR) AS r FROM wpv
         |  UNION ALL
         |  SELECT 'c,' || piece || ',0,0' FROM wpch),
         |mh AS (SELECT sha256(string_agg(r, '|' ORDER BY r)) AS model_sha FROM art)
         |SELECT w.word, w.wc, s.n_pieces, s.pieces,
         |       (SELECT model_sha FROM mh) AS model_sha
         |FROM ws16 s JOIN wpw w USING (word)
         |WHERE length(w.word) <= 8
         |QUALIFY row_number() OVER (ORDER BY w.wc DESC, w.word) <= 16""".stripMargin,
    // same twin shape for the unigram-LM tokenizer: hash the
    // (piece, w_mu) table, replay Viterbi for the top-16 words
    "unigram_model_persist" ->
      s"""WITH $duckToks,
         |$duckUnigram,
         |art AS (SELECT piece || ',' || CAST(w_mu AS VARCHAR) AS r FROM uvocab),
         |mh AS (SELECT sha256(string_agg(r, '|' ORDER BY r)) AS model_sha FROM art)
         |SELECT w.word, w.wc,
         |  CAST(len(string_split(s.pieces, ' ')) AS BIGINT) AS n_pieces,
         |  s.pieces, s.score_mu,
         |  (SELECT model_sha FROM mh) AS model_sha
         |FROM us16 s JOIN wpw w USING (word)
         |WHERE s.pos = length(s.word) AND length(w.word) <= 8
         |QUALIFY row_number() OVER (ORDER BY w.wc DESC, w.word) <= 16""".stripMargin,
    "bpe_vocab_size" ->
      s"""WITH $duckToks,
         |w1 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS wc,
         |    array_to_string(list_transform(range(1, length(tok) + 1),
         |                                   i -> tok[i:i]), '  ') AS syms
         |  FROM toks GROUP BY tok),
         |${(1 to 64).map(duckBpeRound).mkString(",\n")},
         |${(8 to 64 by 8).map(c =>
           s"""v$c AS (SELECT CAST($c AS BIGINT) AS merge_round,
              |  CAST(count(DISTINCT symbol) AS BIGINT) AS vocab_size,
              |  CAST(sum(wc) AS BIGINT) AS n_bpe_tokens
              |  FROM (SELECT wc, unnest(string_split(syms, '  ')) AS symbol
              |        FROM w${c + 1}))""".stripMargin).mkString(",\n")}
         |SELECT * FROM (${(8 to 64 by 8).map(c => s"SELECT * FROM v$c").mkString(" UNION ALL ")})""".stripMargin,
    // 8-token lead chain mirrors wordShingles(w=8); interval union
    // via the same lag-gap window; all-integer until the final ratio
    "dedup_substrings" ->
      s"""WITH $duckToks,
         |sh8 AS (
         |  SELECT doc_id, pos, tok || ' ' || t1 || ' ' || t2 || ' ' || t3 || ' ' ||
         |         t4 || ' ' || t5 || ' ' || t6 || ' ' || t7 AS shingle
         |  FROM (SELECT doc_id, pos, tok,
         |          lead(tok, 1) OVER w AS t1, lead(tok, 2) OVER w AS t2,
         |          lead(tok, 3) OVER w AS t3, lead(tok, 4) OVER w AS t4,
         |          lead(tok, 5) OVER w AS t5, lead(tok, 6) OVER w AS t6,
         |          lead(tok, 7) OVER w AS t7
         |        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
         |  WHERE t7 IS NOT NULL),
         |hh AS (SELECT doc_id, pos, ${duckHash24("shingle")} AS h FROM sh8),
         |dup AS (SELECT h FROM hh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |dpos AS (SELECT doc_id, pos,
         |    pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
         |  FROM hh JOIN dup USING (h)),
         |cov AS (SELECT doc_id, count(*) AS dup_windows,
         |    CAST(sum(CASE WHEN gap IS NULL OR gap > 8 THEN 8 ELSE gap END)
         |         AS BIGINT) AS dup_tokens
         |  FROM dpos GROUP BY 1),
         |nt AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY 1)
         |SELECT nt.doc_id, nt.n_tokens,
         |  CAST(coalesce(dup_windows, 0) AS BIGINT) AS dup_windows,
         |  CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |  round(coalesce(dup_tokens, 0) / CAST(nt.n_tokens AS DOUBLE), 6) + 0
         |    AS dup_fraction
         |FROM nt LEFT JOIN cov USING (doc_id)""".stripMargin,
    // full doc-level minhash chain; bk (seed//3) is the current
    // banding, bk2 (seed//2) the candidate re-banding; the base index
    // is REBUILT from scratch (doc_id < 400 — stale artifact = red
    // row); all metrics integer counts / integer-micro shares
    "lsh_maintenance_plan" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |bk2 AS (
         |  SELECT doc_id, seed // 2 AS band,
         |         string_agg(CAST(minh AS VARCHAR), '-' ORDER BY seed) AS band_sig
         |  FROM mh GROUP BY 1, 2),
         |oldb AS (SELECT * FROM bk WHERE doc_id < 400),
         |os AS (SELECT band, band_sig, count(*) AS sz FROM oldb GROUP BY 1, 2),
         |fs AS (SELECT band, band_sig, count(*) AS sz FROM bk GROUP BY 1, 2),
         |rs AS (SELECT band, band_sig, count(*) AS sz FROM bk2 GROUP BY 1, 2),
         |oc AS (SELECT least(sz, 8) AS szc, count(*) AS nb FROM os GROUP BY 1),
         |osh AS (SELECT szc, nb * 1000000 // (SELECT sum(nb) FROM oc) AS a FROM oc),
         |fc AS (SELECT least(sz, 8) AS szc, count(*) AS nb FROM fs GROUP BY 1),
         |fsh AS (SELECT szc, nb * 1000000 // (SELECT sum(nb) FROM fc) AS b FROM fc),
         |dr AS (SELECT CAST(coalesce(sum(abs(coalesce(a, 0) - coalesce(b, 0))), 0)
         |         AS BIGINT) AS occ_l1_micro
         |       FROM osh FULL JOIN fsh USING (szc)),
         |c1 AS (SELECT count(DISTINCT doc_id) AS n_docs_indexed FROM oldb),
         |c2 AS (SELECT count(DISTINCT doc_id) AS n_docs_corpus,
         |              count(*) AS bucket_rows_cur FROM bk),
         |c3 AS (SELECT count(*) AS bucket_rows_new FROM bk2),
         |p1 AS (SELECT CAST(coalesce(sum(sz * (sz - 1) // 2), 0) AS BIGINT)
         |         AS cand_pairs_cur FROM fs),
         |p2 AS (SELECT CAST(coalesce(sum(sz * (sz - 1) // 2), 0) AS BIGINT)
         |         AS cand_pairs_new FROM rs)
         |SELECT n_docs_indexed, n_docs_corpus, occ_l1_micro,
         |  occ_l1_micro > 50000 AS refresh,
         |  bucket_rows_cur, bucket_rows_new, cand_pairs_cur, cand_pairs_new
         |FROM dr, c1, c2, c3, p1, p2""".stripMargin,
    // the verified-pair chain at the loosest threshold, one
    // MATERIALIZED jaccard table, three filter legs
    "dedup_threshold_curve" -> {
      def leg(tm: Long, t: String): String =
        s"""SELECT CAST($tm AS BIGINT) AS threshold_micro, count(*) AS n_pairs,
           |  CAST(count(DISTINCT b_id) AS BIGINT) AS n_pruned
           |FROM ver WHERE jaccard >= $t""".stripMargin
      s"""WITH $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify,
         |ver AS MATERIALIZED (SELECT a_id, b_id, jaccard FROM jac
         |                     WHERE jaccard >= 0.5),
         |nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |       FROM documents),
         |legs AS (${leg(500000L, "0.5")}
         |  UNION ALL ${leg(700000L, "0.7")}
         |  UNION ALL ${leg(900000L, "0.9")}),
         |curve AS (SELECT threshold_micro, n_pairs, n_pruned,
         |    nn.n_docs - n_pruned AS n_kept,
         |    ((nn.n_docs - n_pruned) * 1000000) // nn.n_docs AS kept_micro
         |  FROM legs, nn)
         |SELECT *, threshold_micro = coalesce(
         |    min(CASE WHEN kept_micro >= 800000 THEN threshold_micro END) OVER (),
         |    max(threshold_micro) OVER ()) AS chosen
         |FROM curve""".stripMargin
    },
    // the similarity_join chain scored once at the loosest theta,
    // three filter legs over the MATERIALIZED cosine table
    "semdedup_curve" -> {
      def leg(tm: Long, t: String): String =
        s"""SELECT CAST($tm AS BIGINT) AS threshold_micro, count(*) AS n_pairs,
           |  CAST(count(DISTINCT b_id) AS BIGINT) AS n_pruned
           |FROM sim WHERE cos_sim >= $t""".stripMargin
      s"""WITH $duckSqrtCells,
         |assigned AS (SELECT vec_id, c_label FROM ranked WHERE rn <= 2),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM assigned a JOIN assigned b USING (c_label)
         |  WHERE a.vec_id < b.vec_id),
         |sim AS MATERIALIZED (
         |  SELECT a_id, b_id,
         |    round(${duckCos("ea.embedding", "eb.embedding")}, 6) + 0 AS cos_sim
         |  FROM pairs p
         |  JOIN embeddings ea ON ea.vec_id = p.a_id
         |  JOIN embeddings eb ON eb.vec_id = p.b_id
         |  WHERE round(${duckCos("ea.embedding", "eb.embedding")}, 6) + 0 >= 0.2),
         |nn AS (SELECT count(*) AS n_vecs FROM embeddings),
         |legs AS (${leg(200000L, "0.2")}
         |  UNION ALL ${leg(300000L, "0.3")}
         |  UNION ALL ${leg(500000L, "0.5")}),
         |curve AS (SELECT threshold_micro, n_pairs, n_pruned,
         |    nn.n_vecs - n_pruned AS n_kept,
         |    ((nn.n_vecs - n_pruned) * 1000000) // nn.n_vecs AS kept_micro
         |  FROM legs, nn)
         |SELECT *, threshold_micro = coalesce(
         |    min(CASE WHEN kept_micro >= 800000 THEN threshold_micro END) OVER (),
         |    max(threshold_micro) OVER ()) AS chosen
         |FROM curve""".stripMargin
    },
    // one max-width lead chain, per-width prefix legs (hash → dup
    // census → lag interval-union → corpus rollup), three-row union
    "substring_window_curve" -> {
      def leg(w: Int): String = {
        val sh = (Seq("tok") ++ (1 until w).map(i => s"t$i")).mkString(" || ' ' || ")
        s"""hh$w AS (SELECT doc_id, pos, ${duckHash24(s"($sh)")} AS h
           |  FROM shmax WHERE t${w - 1} IS NOT NULL),
           |dup$w AS (SELECT h FROM hh$w GROUP BY h
           |          HAVING count(DISTINCT doc_id) >= 2),
           |dpos$w AS (SELECT doc_id, pos,
           |    pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
           |  FROM hh$w JOIN dup$w USING (h)),
           |cov$w AS (SELECT doc_id, count(*) AS dw,
           |    CAST(sum(CASE WHEN gap IS NULL OR gap > $w THEN $w ELSE gap END)
           |         AS BIGINT) AS dt
           |  FROM dpos$w GROUP BY 1),
           |leg$w AS (SELECT CAST($w AS BIGINT) AS w, t.n_docs, r.n_docs_touched,
           |    r.dup_windows, r.dup_tokens, t.n_tokens,
           |    round(r.dup_tokens / CAST(t.n_tokens AS DOUBLE), 6) + 0
           |      AS dup_fraction
           |  FROM (SELECT count(*) AS n_docs_touched,
           |          CAST(coalesce(sum(dw), 0) AS BIGINT) AS dup_windows,
           |          CAST(coalesce(sum(dt), 0) AS BIGINT) AS dup_tokens
           |        FROM cov$w) r, tot t)""".stripMargin
      }
      val maxLeads = (1 until 12)
        .map(i => s"lead(tok, $i) OVER w AS t$i").mkString(",\n|          ")
      s"""WITH $duckToks,
         |shmax AS MATERIALIZED (
         |  SELECT doc_id, pos, tok,
         |          $maxLeads
         |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |               count(*) AS n_tokens FROM toks),
         |${leg(6)},
         |${leg(8)},
         |${leg(12)}
         |SELECT * FROM leg6 UNION ALL SELECT * FROM leg8
         |UNION ALL SELECT * FROM leg12""".stripMargin
    },
    // the asof-in-one-sort coverage replayed in SQL; reassembly via
    // ordered string_agg
    "dedup_excise" ->
      s"""WITH $duckToks,
         |sh8 AS (
         |  SELECT doc_id, pos, tok || ' ' || t1 || ' ' || t2 || ' ' || t3 || ' ' ||
         |         t4 || ' ' || t5 || ' ' || t6 || ' ' || t7 AS shingle
         |  FROM (SELECT doc_id, pos, tok,
         |          lead(tok, 1) OVER w AS t1, lead(tok, 2) OVER w AS t2,
         |          lead(tok, 3) OVER w AS t3, lead(tok, 4) OVER w AS t4,
         |          lead(tok, 5) OVER w AS t5, lead(tok, 6) OVER w AS t6,
         |          lead(tok, 7) OVER w AS t7
         |        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
         |  WHERE t7 IS NOT NULL),
         |hh AS (SELECT doc_id, pos, ${duckHash24("shingle")} AS h FROM sh8),
         |dup AS (SELECT h FROM hh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |st AS (SELECT doc_id, pos FROM hh JOIN dup USING (h)),
         |stream AS (
         |  SELECT doc_id, pos, tok, 0 AS is_start FROM toks
         |  UNION ALL
         |  SELECT doc_id, pos, NULL, 1 FROM st),
         |m AS (SELECT *, max(CASE WHEN is_start = 1 THEN pos END) OVER
         |        (PARTITION BY doc_id ORDER BY pos, is_start DESC
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_start
         |      FROM stream),
         |k AS (SELECT doc_id, pos, tok FROM m
         |      WHERE is_start = 0
         |        AND (last_start IS NULL OR last_start <= pos - 8)),
         |nt AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY 1),
         |ke AS (SELECT doc_id, count(*) AS n_kept,
         |        string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
         |       FROM k GROUP BY 1)
         |SELECT nt.doc_id, nt.n_tokens,
         |  CAST(coalesce(ke.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(ke.cleaned_text, '') AS cleaned_text
         |FROM nt LEFT JOIN ke USING (doc_id)""".stripMargin,
    "stratified_sample" ->
      s"""WITH b AS (SELECT doc_id, lang,
         |  ${duckHash24("text || '|stratum'")} % 100 AS bucket,
         |  CAST(CASE WHEN lang = 'en' THEN 20 WHEN lang = 'es' THEN 50
         |            ELSE 100 END AS BIGINT) AS keep_pct
         |  FROM documents)
         |SELECT doc_id, lang, bucket, keep_pct FROM b
         |WHERE bucket < keep_pct""".stripMargin,
    // inverse-sqrt domain flattening anchored on the dominant
    // domain's exact integer count (no float sum across domains —
    // bit-reproducible rates)
    "domain_mix" ->
      s"""WITH counts AS (SELECT lang, count(*) AS n_d FROM documents GROUP BY 1),
         |mx AS (SELECT max(n_d) AS n_max FROM counts),
         |rates AS (SELECT lang, n_d,
         |    round(least(1.0, 0.5 * sqrt(CAST(n_max AS DOUBLE) / n_d)), 6) + 0 AS rate
         |  FROM counts, mx)
         |SELECT d.doc_id, d.lang, r.n_d, r.rate
         |FROM documents d JOIN rates r USING (lang)
         |WHERE ${duckHash24("d.text || '|mix'")} % 1000000
         |      < CAST(round(r.rate * 1000000.0) AS BIGINT)""".stripMargin,
    // T=2 exponentiated sampling: share rounds to 6dp BEFORE the
    // sqrt (both engines sqrt the identical double — IEEE-exact),
    // normalizer folds in lang order
    // self-contained twin (the PII injection shadows the corpus, so
    // the shared toks/qual CTEs can't be reused): injected text →
    // quality millis, sha dup census, PII flags, per-source roll-up
    "source_scorecard" ->
      s"""WITH d2 AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' ||
         |      CAST(doc_id AS VARCHAR) || '@example.com or +1 555 000 1234'
         |    ELSE text END AS text, source
         |  FROM documents),
         |toks2 AS (SELECT doc_id, trim(parts[u.i]) AS tok
         |  FROM (SELECT doc_id, list_slice(string_split(text, ' '), 1, 512) AS parts
         |        FROM d2) d,
         |       unnest(range(1, len(parts)+1)) u(i)
         |  WHERE trim(parts[u.i]) <> ''),
         |q AS (SELECT doc_id, count(*) AS n_tok, count(DISTINCT tok) AS n_distinct,
         |        sum(CASE WHEN tok IN (${sqlList(graft.ops.TextOps.EnStopwords)})
         |                 THEN 1 ELSE 0 END) AS n_stop
         |      FROM toks2 GROUP BY 1),
         |qm AS (SELECT doc_id,
         |    CAST(round((round(least(n_tok / 100.0, 1.0) * 0.3
         |      + (1.0 - n_stop / n_tok) * 0.3
         |      + (n_distinct / n_tok) * 0.4, 6) + 0) * 1000) AS BIGINT) AS q_milli
         |  FROM q),
         |hs AS (SELECT doc_id, source, sha256(text) AS h FROM d2),
         |hc AS (SELECT h, count(*) AS hcnt FROM hs GROUP BY 1),
         |pi AS (SELECT doc_id,
         |    CASE WHEN len(regexp_extract_all(text, '${graft.ops.TextOps.EmailRe}'))
         |       + len(regexp_extract_all(text, '${graft.ops.TextOps.PhoneRe}')) > 0
         |    THEN 1 ELSE 0 END AS pii FROM d2),
         |j AS (SELECT hs.source, hc.hcnt, qm.q_milli, pi.pii
         |      FROM hs JOIN hc USING (h)
         |      LEFT JOIN qm ON qm.doc_id = hs.doc_id
         |      JOIN pi ON pi.doc_id = hs.doc_id),
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN hcnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |    CAST(sum(pii) AS BIGINT) AS n_pii,
         |    CAST(count(q_milli) AS BIGINT) AS n_scored,
         |    CAST(sum(coalesce(q_milli, 0)) AS BIGINT) AS q_sum
         |  FROM j GROUP BY 1)
         |SELECT source, n_docs, n_dup, n_pii,
         |  CASE WHEN n_scored > 0
         |    THEN round(q_sum / (n_scored * 1000.0), 6) + 0 END AS mean_quality,
         |  round(n_dup / n_docs, 6) + 0 AS dup_ratio,
         |  round(n_pii / n_docs, 6) + 0 AS pii_ratio,
         |  coalesce(CASE WHEN n_scored > 0
         |      THEN round(q_sum / (n_scored * 1000.0), 6) + 0 END >= 0.5, false)
         |    AND round(n_dup / n_docs, 6) + 0 <= 0.5 AS keep
         |FROM g""".stripMargin,
    // nested doubling subsets by doc hash (%16, train < 8, held ≥ 8),
    // one (tok, min_level) census cumulated over the 4-level grid,
    // Laplace lp in integer micros, exact integer-div loss, then the
    // α-grid power-law fit from exact Long moments (argmin sse, α)
    "scaling_curve" ->
      s"""WITH $duckToks,
         |b AS (SELECT doc_id, pos, tok,
         |        ${duckHash24("'scl:' || CAST(doc_id AS VARCHAR)")} % 16 AS bkt
         |      FROM toks),
         |tr AS (SELECT tok,
         |         CASE WHEN bkt < 1 THEN 1 WHEN bkt < 2 THEN 2
         |              WHEN bkt < 4 THEN 3 ELSE 4 END AS ml
         |       FROM b WHERE bkt < 8),
         |cnt AS (SELECT tok, ml, count(*) AS c FROM tr GROUP BY 1, 2),
         |grid AS (SELECT CAST(u.l AS BIGINT) AS l FROM unnest(range(1, 5)) u(l)),
         |lc AS (SELECT c.tok, g.l, CAST(sum(c.c) AS BIGINT) AS c_l
         |       FROM cnt c JOIN grid g ON c.ml <= g.l GROUP BY 1, 2),
         |nl AS (SELECT g.l, CAST(sum(c.c) AS BIGINT) AS n_l
         |       FROM cnt c JOIN grid g ON c.ml <= g.l GROUP BY 1),
         |vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM cnt),
         |h AS (SELECT tok, count(*) AS tf_h FROM b WHERE bkt >= 8 GROUP BY 1),
         |nh AS (SELECT CAST(sum(tf_h) AS BIGINT) AS n_held FROM h),
         |sc AS (SELECT g.l, h.tf_h,
         |         CAST(round(ln((coalesce(lc.c_l, 0) + 1) /
         |           CAST(nl.n_l + vv.v + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS lp6
         |       FROM h CROSS JOIN grid g
         |       LEFT JOIN lc ON lc.tok = h.tok AND lc.l = g.l
         |       JOIN nl ON nl.l = g.l CROSS JOIN vv),
         |pts0 AS (SELECT l, -sum(tf_h * lp6) AS negsum FROM sc GROUP BY 1),
         |pts AS (SELECT p0.l, nl.n_l, CAST(p0.negsum // nh.n_held AS BIGINT) AS y6
         |        FROM pts0 p0 JOIN nl ON nl.l = p0.l CROSS JOIN nh),
         |al AS (SELECT CAST(u.i * 5 AS BIGINT) AS alpha100
         |       FROM unnest(range(1, 21)) u(i)),
         |mo AS (SELECT a.alpha100, count(*) AS n,
         |         CAST(sum(CAST(round(pow(p.n_l, -a.alpha100 / 100.0) * 1000000)
         |           AS BIGINT)) AS BIGINT) AS sx,
         |         CAST(sum(p.y6) AS BIGINT) AS sy,
         |         CAST(sum(CAST(round(pow(p.n_l, -a.alpha100 / 100.0) * 1000000)
         |           AS BIGINT) * p.y6) AS BIGINT) AS sxy,
         |         CAST(sum(CAST(round(pow(p.n_l, -a.alpha100 / 100.0) * 1000000)
         |           AS BIGINT) * CAST(round(pow(p.n_l, -a.alpha100 / 100.0) * 1000000)
         |           AS BIGINT)) AS BIGINT) AS sxx,
         |         CAST(sum(p.y6 * p.y6) AS BIGINT) AS syy
         |       FROM pts p CROSS JOIN al a GROUP BY 1),
         |fit AS (SELECT alpha100,
         |          CAST(n * sxy - sx * sy AS DOUBLE) /
         |            CAST(n * sxx - sx * sx AS DOUBLE) AS a_raw,
         |          sx, sy, n,
         |          CAST(n * syy - sy * sy AS DOUBLE) -
         |            (CAST(n * sxy - sx * sy AS DOUBLE) /
         |             CAST(n * sxx - sx * sx AS DOUBLE)) *
         |            CAST(n * sxy - sx * sy AS DOUBLE) AS sse_scaled
         |        FROM mo),
         |best AS (SELECT round(alpha100 / 100.0, 6) + 0 AS alpha_hat,
         |           round((sy / 1000000.0 - a_raw * sx / 1000000.0) / n, 6) + 0
         |             AS e_hat,
         |           round(a_raw, 6) + 0 AS a_hat
         |         FROM fit ORDER BY sse_scaled, alpha100 LIMIT 1)
         |SELECT p.l AS level, p.n_l AS n_train_tok,
         |  round(p.y6 / 1000000.0, 6) + 0 AS loss,
         |  b2.alpha_hat, b2.e_hat, b2.a_hat
         |FROM pts p, best b2""".stripMargin,
    // domainTemperature's recipe on TOKEN shares + the budget grid
    "token_budget_plan" ->
      """WITH c AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens FROM (
        |    SELECT lang, len(list_filter(list_transform(string_split(text, ' '),
        |      t -> trim(t)), t -> t <> '')) AS n
        |    FROM documents) GROUP BY 1),
        |t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS n_tot FROM c),
        |s AS (SELECT lang, n_tokens, round(n_tokens / t.n_tot, 6) + 0 AS share,
        |        sqrt(round(n_tokens / t.n_tot, 6) + 0) AS w_raw
        |      FROM c, t),
        |d AS (SELECT sum(w_raw ORDER BY lang) AS den FROM s),
        |p AS (SELECT lang, n_tokens, share,
        |        round(w_raw / d.den, 6) + 0 AS weight,
        |        CAST(round((round(w_raw / d.den, 6) + 0) * 1000000) AS BIGINT)
        |          AS alloc_tokens
        |      FROM s, d)
        |SELECT lang, n_tokens, share, weight, alloc_tokens,
        |  CAST((alloc_tokens * 1000) // n_tokens AS BIGINT) AS epochs_milli,
        |  (alloc_tokens * 1000) // n_tokens > 1000 AS oversampled
        |FROM p""".stripMargin,
    "domain_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_d FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_d) AS DOUBLE) AS n_tot FROM c),
        |s AS (SELECT lang, n_d, round(n_d / t.n_tot, 6) + 0 AS share,
        |        sqrt(round(n_d / t.n_tot, 6) + 0) AS w_raw
        |      FROM c, t),
        |d AS (SELECT sum(w_raw ORDER BY lang) AS den FROM s)
        |SELECT lang, n_d, share,
        |  round(w_raw / d.den, 6) + 0 AS weight,
        |  round(w_raw / d.den / share, 6) + 0 AS boost
        |FROM s, d""".stripMargin,
    "group_sample" ->
      s"""WITH s AS (SELECT doc_id, lang,
         |  ${duckHash24("text || '|gsample'")} AS sample_key
         |  FROM documents)
         |SELECT doc_id, lang, sample_key, sample_rank FROM (
         |  SELECT doc_id, lang, sample_key,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY sample_key, doc_id) AS BIGINT) AS sample_rank
         |  FROM s) WHERE sample_rank <= 20""".stripMargin,
    // salted hash fold + (fold, lang) census + broadcast lang totals
    "cv_folds" -> {
      val h = graft.functions.PortableHash.duckdbHash24("text || '|fold'")
      s"""WITH a AS (SELECT lang, CAST($h % 5 AS BIGINT) AS fold FROM documents),
         |c AS (SELECT fold, lang, count(*) AS n_docs FROM a GROUP BY 1, 2),
         |t AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_lang FROM c GROUP BY 1)
         |SELECT c.fold, c.lang, c.n_docs,
         |  round(c.n_docs / CAST(t.n_lang AS DOUBLE), 6) + 0 AS share_of_lang
         |FROM c JOIN t USING (lang)""".stripMargin
    },
    // A-ES race keys: SAME formula shape as the Spark side
    // (ln(2^48) − ln(h+1), over the clamped weight, rounded once to
    // micros), ties broken by doc_id after rounding
    "weighted_sample" -> {
      val h48 = s"CAST(${graft.functions.PortableHash.duckdbHash48(
        "'ws:' || CAST(doc_id AS VARCHAR)")} AS BIGINT)"
      s"""WITH kdf AS (SELECT doc_id, n_chars,
         |    CAST(round((ln(281474976710656.0) - ln($h48 + 1))
         |      / greatest(CAST(n_chars AS DOUBLE), 1.0) * 1000000) AS BIGINT)
         |      AS key_micro
         |  FROM documents)
         |SELECT * FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY key_micro, doc_id) AS BIGINT)
         |           AS rank,
         |         doc_id, n_chars, key_micro
         |  FROM kdf) WHERE rank <= 50""".stripMargin
    },
    // quality chain + (lang, hash-bucket) SHARDED rank (the executed
    // 100 TB plan — never a per-lang corpus sort); top half joins the
    // mirrored bottom half on (lang, bucket, k = n_shard+1-r); zero
    // margins filtered
    "preference_pairs" ->
      s"""WITH $duckToks,
         |$duckQualityCtes,
         |qq AS (SELECT d.lang,
         |         ${duckHash24("d.text || '|pref'")} % 8 AS bucket,
         |         q2.doc_id,
         |         CAST(round(q2.quality * 1000000) AS BIGINT) AS q_micro
         |       FROM qual q2 JOIN documents d USING (doc_id)),
         |rk AS (SELECT lang, bucket, doc_id, q_micro,
         |         row_number() OVER (PARTITION BY lang, bucket
         |           ORDER BY q_micro DESC, doc_id) AS r,
         |         count(*) OVER (PARTITION BY lang, bucket) AS n
         |       FROM qq),
         |top AS (SELECT lang, bucket, r AS pair_idx, doc_id AS chosen_id,
         |          q_micro AS chosen_q_micro
         |        FROM rk WHERE r * 2 < n + 1),
         |bot AS (SELECT lang, bucket, n + 1 - r AS pair_idx, doc_id AS rejected_id,
         |          q_micro AS rejected_q_micro
         |        FROM rk)
         |SELECT t.lang, CAST(t.bucket AS BIGINT) AS bucket,
         |  CAST(t.pair_idx AS BIGINT) AS pair_idx, t.chosen_id,
         |  t.chosen_q_micro, b.rejected_id, b.rejected_q_micro,
         |  t.chosen_q_micro - b.rejected_q_micro AS margin_micro
         |FROM top t JOIN bot b USING (lang, bucket, pair_idx)
         |WHERE t.chosen_q_micro - b.rejected_q_micro > 0""".stripMargin,
    // the readability chain + the census-boundary quantile trick;
    // staging is a boundary-count sum, ties stay together
    "curriculum_order" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z]+') AS ws,
        |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sent_raw
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(ws,
        |      x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1)))
        |      AS BIGINT) AS n_syllables,
        |    greatest(n_sent_raw, 1) AS n_sentences
        |  FROM w WHERE len(ws) > 0),
        |rs AS (SELECT doc_id, n_words,
        |    CAST(round(round(0.39 * round(n_words / n_sentences, 6)
        |      + 11.8 * round(n_syllables / n_words, 6) - 15.59, 6) * 1000000)
        |      AS BIGINT) AS grade_micro
        |  FROM b),
        |nn AS (SELECT count(*) AS n FROM rs),
        |cen AS (SELECT grade_micro, sum(c) OVER (ORDER BY grade_micro) AS cum
        |        FROM (SELECT grade_micro, count(*) AS c FROM rs GROUP BY 1)),
        |bd AS (SELECT
        |    (SELECT min(grade_micro) FROM cen, nn WHERE cum * 4 >= n * 1) AS b1,
        |    (SELECT min(grade_micro) FROM cen, nn WHERE cum * 4 >= n * 2) AS b2,
        |    (SELECT min(grade_micro) FROM cen, nn WHERE cum * 4 >= n * 3) AS b3)
        |SELECT rs.doc_id, rs.n_words, rs.grade_micro,
        |  CAST(CASE WHEN grade_micro > b1 THEN 1 ELSE 0 END
        |     + CASE WHEN grade_micro > b2 THEN 1 ELSE 0 END
        |     + CASE WHEN grade_micro > b3 THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM rs, bd""".stripMargin,
    // ordered token-list fold + hash-placed window, map-side slicing
    "ict_pairs" ->
      s"""WITH $duckToks,
         |lt AS (SELECT doc_id, list(tok ORDER BY pos) AS arr
         |       FROM toks GROUP BY 1),
         |base AS (SELECT l.doc_id, CAST(len(arr) AS BIGINT) AS n_tokens, arr,
         |    ${duckHash24("d.text || '|ict'")} % (CAST(len(arr) AS BIGINT) - 7)
         |      AS q_start
         |  FROM lt l JOIN documents d USING (doc_id)
         |  WHERE len(arr) > 8)
         |SELECT doc_id, n_tokens, q_start,
         |  coalesce(array_to_string(arr[q_start + 1 : q_start + 8], ' '), '')
         |    AS query_text,
         |  coalesce(array_to_string(list_concat(coalesce(arr[1 : q_start], []),
         |    coalesce(arr[q_start + 9 : n_tokens], [])), ' '), '')
         |    AS context_text
         |FROM base""".stripMargin,
    // two independent hash cuts mod (n+1); PSM re-serialization with
    // the identical sentinel concatenation (empty segments legal)
    "fim_transform" ->
      s"""WITH $duckToks,
         |lt AS (SELECT doc_id, list(tok ORDER BY pos) AS arr
         |       FROM toks GROUP BY 1),
         |b0 AS (SELECT l.doc_id, CAST(len(arr) AS BIGINT) AS n_tokens, arr,
         |    ${duckHash24("d.text || '|fim1'")} % (CAST(len(arr) AS BIGINT) + 1)
         |      AS h1,
         |    ${duckHash24("d.text || '|fim2'")} % (CAST(len(arr) AS BIGINT) + 1)
         |      AS h2
         |  FROM lt l JOIN documents d USING (doc_id)),
         |b1 AS (SELECT doc_id, n_tokens, arr, least(h1, h2) AS cut1,
         |              greatest(h1, h2) AS cut2 FROM b0)
         |SELECT doc_id, n_tokens, cut1, cut2,
         |  '<PRE> ' || coalesce(array_to_string(arr[1 : cut1], ' '), '')
         |  || ' <SUF> '
         |  || coalesce(array_to_string(arr[cut2 + 1 : n_tokens], ' '), '')
         |  || ' <MID> '
         |  || coalesce(array_to_string(arr[cut1 + 1 : cut2], ' '), '') AS psm_text
         |FROM b1""".stripMargin,
    // dense-pos bounded window for coverage, running sums for run
    // numbering, pos-ordered filtered string folds on both sides
    "span_corruption" ->
      s"""WITH $duckToks,
         |mk AS (SELECT doc_id, pos, tok,
         |    CASE WHEN ${duckHash24(
                  "CAST(doc_id AS VARCHAR) || '|sc|' || CAST(pos AS VARCHAR)")}
         |           % 20 = 0 THEN 1 ELSE 0 END AS is_start
         |  FROM toks),
         |c1 AS (SELECT *, max(CASE WHEN is_start = 1 THEN pos END) OVER
         |        (PARTITION BY doc_id ORDER BY pos
         |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS last_start
         |      FROM mk),
         |c2 AS (SELECT *, CASE WHEN last_start IS NOT NULL THEN 1 ELSE 0 END
         |         AS covered FROM c1),
         |c3 AS (SELECT *, coalesce(lag(covered) OVER
         |        (PARTITION BY doc_id ORDER BY pos), 0) AS prev_cov FROM c2),
         |c4 AS (SELECT *, CASE WHEN covered = 1 AND prev_cov = 0 THEN 1 ELSE 0 END
         |         AS run_start FROM c3),
         |c5 AS (SELECT *, CAST(sum(run_start) OVER (PARTITION BY doc_id
         |         ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |         AS BIGINT) AS run_id FROM c4),
         |c6 AS (SELECT doc_id, pos, covered, run_start,
         |    CASE WHEN covered = 0 THEN tok
         |         WHEN run_start = 1 THEN '<X_' || CAST(run_id AS VARCHAR) || '>'
         |         ELSE '' END AS in_piece,
         |    CASE WHEN covered = 0 THEN ''
         |         WHEN run_start = 1
         |           THEN '<X_' || CAST(run_id AS VARCHAR) || '> ' || tok
         |         ELSE tok END AS tgt_piece
         |  FROM c5)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(covered) AS BIGINT) AS n_masked,
         |  CAST(sum(run_start) AS BIGINT) AS n_spans,
         |  coalesce(string_agg(in_piece, ' ' ORDER BY pos)
         |    FILTER (WHERE in_piece <> ''), '') AS input_text,
         |  coalesce(string_agg(tgt_piece, ' ' ORDER BY pos)
         |    FILTER (WHERE tgt_piece <> ''), '') AS target_text
         |FROM c6 GROUP BY 1""".stripMargin,
    "pack_sequences" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(list_filter(list_transform(string_split(text, ' '), x -> trim(x)),
         |                         x -> x <> '')) AS BIGINT) AS n_tok,
         |    ${duckHash24("text || '|pack'")} % 8 AS stream_id
         |  FROM documents),
         |c AS (SELECT doc_id, stream_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY stream_id ORDER BY doc_id
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
         |  FROM t)
         |SELECT doc_id, stream_id, n_tok,
         |  CAST((cum_tok - n_tok) // 128 AS BIGINT) AS seq_id,
         |  CAST((cum_tok - n_tok) % 128 AS BIGINT) AS seq_offset
         |FROM c""".stripMargin,
    // the BFD fold replayed step-for-step: recursive CTE per stream
    // in (n_tok DESC, doc_id) order; best bin = first position of the
    // max fitting load; no fit → new bin (oversize docs over-fill
    // their own bin)
    "pack_bestfit" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id,
         |    CAST(len(list_filter(list_transform(string_split(text, ' '), x -> trim(x)),
         |                         x -> x <> '')) AS BIGINT) AS n_tok,
         |    ${duckHash24("text || '|pack'")} % 8 AS stream_id
         |  FROM documents),
         |r AS (SELECT doc_id, n_tok, stream_id,
         |    CAST(row_number() OVER (PARTITION BY stream_id
         |      ORDER BY n_tok DESC, doc_id) AS BIGINT) AS rn
         |  FROM t),
         |${duckBfdFold("st", "r")}
         |SELECT doc_id, stream_id, n_tok, bin_id FROM st WHERE rn >= 1""".stripMargin,
    // the same BFD recursive fold but in ARRIVAL (doc_id) order —
    // the online placement an ingest pipeline actually runs
    "pack_bestfit_online" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id,
         |    CAST(len(list_filter(list_transform(string_split(text, ' '), x -> trim(x)),
         |                         x -> x <> '')) AS BIGINT) AS n_tok,
         |    ${duckHash24("text || '|pack'")} % 8 AS stream_id
         |  FROM documents),
         |r AS (SELECT doc_id, n_tok, stream_id,
         |    CAST(row_number() OVER (PARTITION BY stream_id
         |      ORDER BY doc_id) AS BIGINT) AS rn
         |  FROM t),
         |${duckBfdFold("st", "r")}
         |SELECT doc_id, stream_id, n_tok, bin_id FROM st WHERE rn >= 1""".stripMargin,
    // both packing chains + bounded rollups; chunk splits counted by
    // the boundary-crossing rule, bestfit capacity floors at the
    // budget per bin (over-full oversize bins waste nothing)
    "pack_efficiency" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id,
         |    CAST(len(list_filter(list_transform(string_split(text, ' '), x -> trim(x)),
         |                         x -> x <> '')) AS BIGINT) AS n_tok,
         |    ${duckHash24("text || '|pack'")} % 8 AS stream_id
         |  FROM documents),
         |r AS (SELECT doc_id, n_tok, stream_id,
         |    CAST(row_number() OVER (PARTITION BY stream_id
         |      ORDER BY n_tok DESC, doc_id) AS BIGINT) AS rn
         |  FROM t),
         |${duckBfdFold("st", "r")},
         |c AS (SELECT doc_id, stream_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY stream_id ORDER BY doc_id
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
         |  FROM t),
         |ss AS (SELECT stream_id, sum(n_tok) AS toks, count(*) AS nd,
         |         sum(CASE WHEN (cum_tok - n_tok) % 128 + n_tok > 128
         |             THEN 1 ELSE 0 END) AS nsplit
         |       FROM c GROUP BY 1),
         |chunkrow AS (SELECT 'chunk' AS method,
         |    CAST(sum((toks + 127) // 128) AS BIGINT) AS n_units,
         |    CAST(sum((toks + 127) // 128) * 128 AS BIGINT) AS capacity,
         |    CAST(sum(toks) AS BIGINT) AS used_tokens,
         |    CAST(sum(nd) AS BIGINT) AS n_docs,
         |    CAST(sum(nsplit) AS BIGINT) AS n_split_docs,
         |    CAST(0 AS BIGINT) AS n_oversize
         |  FROM ss),
         |r2 AS (SELECT doc_id, n_tok, stream_id,
         |    CAST(row_number() OVER (PARTITION BY stream_id
         |      ORDER BY doc_id) AS BIGINT) AS rn
         |  FROM t),
         |${duckBfdFold("st2", "r2")},
         |bl AS (SELECT stream_id, bin_id, sum(n_tok) AS load
         |       FROM st WHERE rn >= 1 GROUP BY 1, 2),
         |bf1 AS (SELECT count(*) AS n_units,
         |          CAST(sum(greatest(load, 128)) AS BIGINT) AS capacity,
         |          CAST(sum(load) AS BIGINT) AS used_tokens FROM bl),
         |bf2 AS (SELECT count(*) AS n_docs,
         |          CAST(sum(CASE WHEN n_tok > 128 THEN 1 ELSE 0 END) AS BIGINT)
         |            AS n_oversize
         |        FROM st WHERE rn >= 1),
         |bfrow AS (SELECT 'bestfit' AS method, n_units, capacity, used_tokens,
         |            n_docs, CAST(0 AS BIGINT) AS n_split_docs, n_oversize
         |          FROM bf1, bf2),
         |ol AS (SELECT stream_id, bin_id, sum(n_tok) AS load
         |       FROM st2 WHERE rn >= 1 GROUP BY 1, 2),
         |of1 AS (SELECT count(*) AS n_units,
         |          CAST(sum(greatest(load, 128)) AS BIGINT) AS capacity,
         |          CAST(sum(load) AS BIGINT) AS used_tokens FROM ol),
         |of2 AS (SELECT count(*) AS n_docs,
         |          CAST(sum(CASE WHEN n_tok > 128 THEN 1 ELSE 0 END) AS BIGINT)
         |            AS n_oversize
         |        FROM st2 WHERE rn >= 1),
         |olrow AS (SELECT 'bestfit_online' AS method, n_units, capacity, used_tokens,
         |            n_docs, CAST(0 AS BIGINT) AS n_split_docs, n_oversize
         |          FROM of1, of2),
         |u AS (SELECT * FROM chunkrow UNION ALL
         |      SELECT method, n_units, capacity, used_tokens, n_docs,
         |             n_split_docs, n_oversize FROM bfrow
         |      UNION ALL
         |      SELECT method, n_units, capacity, used_tokens, n_docs,
         |             n_split_docs, n_oversize FROM olrow)
         |SELECT method, n_units, capacity, used_tokens,
         |  CASE WHEN capacity = 0 THEN 0
         |    ELSE (capacity - used_tokens) * 1000000 // capacity
         |  END AS waste_micro,
         |  n_docs, n_split_docs,
         |  CASE WHEN n_docs = 0 THEN 0
         |    ELSE n_split_docs * 1000000 // n_docs
         |  END AS split_micro, n_oversize
         |FROM u""".stripMargin,
    // old = documents; new derives via the same salted bucket the
    // Spark side uses (bucket<5 removed, 5..9 changed, >=95 re-keyed
    // additions); unchanged docs drop out of the change feed
    "cdc_apply" ->
      """WITH ch AS (
        |  SELECT doc_id, 1 AS version, 'U' AS op, text || ' u1' AS text
        |  FROM documents WHERE doc_id % 10 = 1
        |  UNION ALL
        |  SELECT doc_id, 1, 'D', NULL FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, 2, 'U', text || ' u2'
        |  FROM documents WHERE doc_id % 20 = 1
        |  UNION ALL
        |  SELECT doc_id, 2, 'I', 'resurrected ' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 20 = 0),
        |latest AS (SELECT doc_id, op, text AS new_text FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY version DESC, op) AS rn FROM ch) WHERE rn = 1)
        |SELECT doc_id, sha256(coalesce(l.new_text, d.text)) AS content_hash
        |FROM documents d FULL JOIN latest l USING (doc_id)
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin,
    "snapshot_diff" ->
      s"""WITH b AS (SELECT doc_id, text,
         |             ${duckHash24("text || '|snap'")} % 100 AS bkt
         |           FROM documents),
         |olds AS (SELECT doc_id, sha256(text) AS old_hash FROM documents),
         |news AS (
         |  SELECT doc_id,
         |         sha256(CASE WHEN bkt < 10 THEN text || ' rev2' ELSE text END) AS new_hash
         |  FROM b WHERE bkt >= 5
         |  UNION ALL
         |  SELECT doc_id + 1000000, sha256(text || ' addendum') FROM b WHERE bkt >= 95),
         |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.old_hash, n.new_hash
         |      FROM olds o FULL JOIN news n ON o.doc_id = n.doc_id)
         |SELECT doc_id,
         |  CASE WHEN old_hash IS NULL THEN 'added'
         |       WHEN new_hash IS NULL THEN 'removed'
         |       ELSE 'changed' END AS change,
         |  old_hash, new_hash
         |FROM j
         |WHERE old_hash IS NULL OR new_hash IS NULL OR old_hash <> new_hash""".stripMargin,
    "redact_pii" ->
      s"""WITH t AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR)
         |       || '@example.com or +1 555 000 1234' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${graft.ops.TextOps.EmailRe}')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${graft.ops.TextOps.PhoneRe}')) AS BIGINT)
         |    AS n_phones,
         |  sha256(regexp_replace(regexp_replace(text, '${graft.ops.TextOps.EmailRe}',
         |    '<EMAIL>', 'g'), '${graft.ops.TextOps.PhoneRe}', '<PHONE>', 'g'))
         |    AS redacted_hash
         |FROM t""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(list_transform(string_split(text, ' '), t -> trim(t)),
        |                       t -> t <> '')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
        |    AS n_bpe_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_measured
        |FROM documents""".stripMargin,
    // fixed-point OLS twin: identical integer sums (DuckDB HUGEINT ⊇
    // the Long-exact values), identical final double expressions
    "zipf_fit" ->
      s"""WITH $duckToks,
         |cen AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1
         |        ORDER BY n DESC, tok LIMIT 30),
         |rk AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank FROM cen),
         |p AS (SELECT CAST(round(ln(rank) * 1000000) AS BIGINT) AS x6,
         |             CAST(round(ln(n) * 1000000) AS BIGINT) AS y6 FROM rk),
         |s AS (SELECT count(*) AS n_terms, sum(x6) AS sx, sum(y6) AS sy,
         |             sum(x6 * y6) AS sxy, sum(x6 * x6) AS sxx FROM p)
         |SELECT n_terms,
         |  round(CAST(n_terms * sxy - sx * sy AS DOUBLE)
         |        / CAST(n_terms * sxx - sx * sx AS DOUBLE), 6) + 0 AS slope,
         |  round((CAST(sy AS DOUBLE) / 1000000
         |         - (CAST(n_terms * sxy - sx * sy AS DOUBLE)
         |            / CAST(n_terms * sxx - sx * sx AS DOUBLE))
         |           * CAST(sx AS DOUBLE) / 1000000) / n_terms, 6) + 0 AS intercept
         |FROM s""".stripMargin,
    // Heaps fit: V/T sampled at a geometric doc-prefix grid, then the
    // zipf_fit OLS; k_coef = exp(intercept_raw) rounds once
    "heaps_fit" ->
      s"""WITH $duckToks,
         |dt AS (SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY 1),
         |fd AS (SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY 1),
         |grid AS (SELECT DISTINCT CAST(round(power(
         |           CAST((SELECT max(doc_id) FROM documents) AS DOUBLE),
         |           CAST(g.kk AS DOUBLE) / 16.0)) AS BIGINT) AS t
         |         FROM unnest(range(1, 17)) g(kk)),
         |tt AS (SELECT g.t, CAST(sum(d.n_tok) AS BIGINT) AS cum_tokens
         |       FROM grid g JOIN dt d ON d.doc_id <= g.t GROUP BY 1),
         |vv AS (SELECT g.t, count(*) AS vocab
         |       FROM grid g JOIN fd f ON f.first_doc <= g.t GROUP BY 1),
         |p AS (SELECT CAST(round(ln(CAST(cum_tokens AS DOUBLE)) * 1000000) AS BIGINT)
         |          AS x6,
         |        CAST(round(ln(CAST(vocab AS DOUBLE)) * 1000000) AS BIGINT) AS y6
         |      FROM tt JOIN vv USING (t)),
         |s AS (SELECT count(*) AS n_points, sum(x6) AS sx, sum(y6) AS sy,
         |        sum(x6 * y6) AS sxy, sum(x6 * x6) AS sxx FROM p),
         |f AS (SELECT n_points,
         |        CAST(n_points * sxy - sx * sy AS DOUBLE)
         |          / CAST(n_points * sxx - sx * sx AS DOUBLE) AS slope_raw,
         |        sx, sy
         |      FROM s WHERE n_points * sxx - sx * sx <> 0),
         |g2 AS (SELECT n_points, slope_raw,
         |         (CAST(sy AS DOUBLE) / 1000000
         |          - slope_raw * CAST(sx AS DOUBLE) / 1000000) / n_points
         |           AS intercept_raw
         |       FROM f)
         |SELECT n_points, round(slope_raw, 6) + 0 AS beta,
         |  round(intercept_raw, 6) + 0 AS intercept,
         |  round(exp(intercept_raw), 6) + 0 AS k_coef
         |FROM g2""".stripMargin,
    // PPMI pairs over the COMPACTED token list (blank-drop reindexes
    // adjacency, same as the Spark filter); marginal sums CAST back
    // to BIGINT (DuckDB sum→HUGEINT); single ln rounded once
    "word_pmi" ->
      """WITH tk AS (SELECT list_filter(list_transform(
        |        list_slice(string_split(text, ' '), 1, 512), x -> trim(x)),
        |        x -> x <> '') AS toks FROM documents),
        |pr AS (SELECT least(toks[i], toks[i + d]) AS t1,
        |              greatest(toks[i], toks[i + d]) AS t2
        |       FROM tk, unnest(range(1, len(toks) + 1)) u(i),
        |            (SELECT unnest([1, 2]) AS d) dd
        |       WHERE i + d <= len(toks)),
        |c AS (SELECT t1, t2, count(*) AS c_xy FROM pr GROUP BY 1, 2),
        |m AS (SELECT tok, CAST(sum(c_xy) AS BIGINT) AS m FROM (
        |        SELECT t1 AS tok, c_xy FROM c
        |        UNION ALL SELECT t2 AS tok, c_xy FROM c)
        |      GROUP BY 1),
        |s AS (SELECT CAST(sum(c_xy) AS BIGINT) AS s_total FROM c)
        |SELECT * FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY pmi DESC, t1, t2) AS BIGINT)
        |           AS rank, t1, t2, c_xy, m_x, m_y, pmi
        |  FROM (SELECT c.t1, c.t2, c.c_xy, mx.m AS m_x, my.m AS m_y,
        |          round(ln((CAST(c.c_xy AS DOUBLE) * CAST(s.s_total AS DOUBLE))
        |                   / (CAST(mx.m AS DOUBLE) * CAST(my.m AS DOUBLE))), 6) + 0 AS pmi
        |        FROM c
        |        JOIN m mx ON mx.tok = c.t1
        |        JOIN m my ON my.tok = c.t2
        |        CROSS JOIN s
        |        WHERE c.c_xy >= 3))
        |WHERE rank <= 100""".stripMargin,
    // wordPmi's pair CTEs feed the SAME 3-round PR unroll as
    // dedup_pagerank; top-20 on the (score desc, word) total order
    "textrank_keywords" ->
      """WITH tk AS (SELECT list_filter(list_transform(
        |        list_slice(string_split(text, ' '), 1, 512), x -> trim(x)),
        |        x -> x <> '') AS toks FROM documents),
        |pr AS (SELECT least(toks[i], toks[i + d]) AS t1,
        |              greatest(toks[i], toks[i + d]) AS t2
        |       FROM tk, unnest(range(1, len(toks) + 1)) u(i),
        |            (SELECT unnest([1, 2]) AS d) dd
        |       WHERE i + d <= len(toks)),
        |c AS (SELECT t1, t2, count(*) AS c_xy FROM pr GROUP BY 1, 2),
        |edges AS (SELECT t1 AS a_id, t2 AS b_id FROM c
        |          WHERE c_xy >= 2 AND t1 <> t2),
        |und AS (SELECT a_id AS src, b_id AS dst FROM edges
        |        UNION ALL SELECT b_id, a_id FROM edges),
        |deg AS (SELECT src, count(*) AS deg FROM und GROUP BY 1),
        |pr0 AS (SELECT src AS id, 1.0 AS pr FROM deg),
        |pr1 AS (SELECT u.dst AS id,
        |    round(0.15 + 0.85 * sum(p.pr / d.deg ORDER BY u.src), 6) + 0 AS pr
        |  FROM und u JOIN pr0 p ON p.id = u.src JOIN deg d ON d.src = u.src
        |  GROUP BY 1),
        |pr2 AS (SELECT u.dst AS id,
        |    round(0.15 + 0.85 * sum(p.pr / d.deg ORDER BY u.src), 6) + 0 AS pr
        |  FROM und u JOIN pr1 p ON p.id = u.src JOIN deg d ON d.src = u.src
        |  GROUP BY 1),
        |pr3 AS (SELECT u.dst AS id,
        |    round(0.15 + 0.85 * sum(p.pr / d.deg ORDER BY u.src), 6) + 0 AS pr
        |  FROM und u JOIN pr2 p ON p.id = u.src JOIN deg d ON d.src = u.src
        |  GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY pr DESC, id) AS BIGINT)
        |           AS rank, id AS word, pr AS score
        |  FROM pr3)
        |WHERE rank <= 20""".stripMargin,
    // vocabulary = corpus top-16 tokens; per-source stream coverage
    "oov_rate" ->
      """WITH st AS (
        |  SELECT source, trim(parts[u.i]) AS tok
        |  FROM (SELECT source, list_slice(string_split(text, ' '), 1, 512) AS parts
        |        FROM documents) d,
        |       unnest(range(1, len(parts)+1)) u(i)
        |  WHERE trim(parts[u.i]) <> ''),
        |v AS (SELECT tok FROM (
        |        SELECT tok, count(*) AS n FROM st GROUP BY 1
        |        ORDER BY n DESC, tok LIMIT 16)),
        |j AS (SELECT s.source, (v.tok IS NOT NULL) AS iv
        |      FROM st s LEFT JOIN v ON s.tok = v.tok)
        |SELECT source, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN iv THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
        |  round(CAST(sum(CASE WHEN iv THEN 0 ELSE 1 END) AS BIGINT)
        |        / count(*), 6) + 0 AS oov_rate
        |FROM j GROUP BY 1""".stripMargin,
    "repetition_score" ->
      s"""WITH $duckToks,
         |$duckShingles
         |SELECT doc_id, count(*) AS n_shingles,
         |       count(DISTINCT shingle) AS n_distinct_shingles,
         |       round(1.0 - count(DISTINCT shingle) / count(*), 6) + 0 AS rep_ratio
         |FROM shp GROUP BY 1""".stripMargin,
    "corpus_split" ->
      s"""WITH b AS (SELECT doc_id, ${duckHash24("text")} % 100 AS bucket
         |           FROM documents)
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < 5 THEN 'test'
         |       WHEN bucket < 10 THEN 'val' ELSE 'train' END AS split
         |FROM b""".stripMargin,
    // group-aware split: the cluster chain replayed (the
    // dedup_clusters oracle's recursive min-label components), split
    // key = 'c|'+component for clustered docs else 'd|'+text
    // the full recursive cluster chain + the split's 'c|'/'d|' key,
    // then the two windows: slot within group, hash-ordered chunking
    // within (slot, bucket)
    "contrastive_batches" ->
      s"""WITH RECURSIVE $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify,
         |edges AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.5),
         |und AS (SELECT a_id AS src, b_id AS dst FROM edges
         |        UNION ALL SELECT b_id, a_id FROM edges),
         |reach AS (
         |  SELECT DISTINCT src AS id, src AS r FROM und
         |  UNION
         |  SELECT u.src, reach.r FROM und u JOIN reach ON reach.id = u.dst),
         |comp AS (SELECT id AS doc_id, min(r) AS component_id FROM reach GROUP BY 1),
         |ky AS (SELECT d.doc_id, d.text,
         |         CASE WHEN c.component_id IS NOT NULL
         |              THEN 'c|' || CAST(c.component_id AS VARCHAR)
         |              ELSE 'd|' || d.text END AS gk
         |       FROM documents d LEFT JOIN comp c USING (doc_id)),
         |sl AS (SELECT doc_id, text, gk,
         |         CAST(row_number() OVER (PARTITION BY gk ORDER BY doc_id) AS BIGINT)
         |           AS slot,
         |         ${duckHash24("text || '|cbatch'")} % 8 AS bucket
         |       FROM ky),
         |rk AS (SELECT doc_id, gk, slot, bucket,
         |         CAST(row_number() OVER (PARTITION BY slot, bucket
         |           ORDER BY ${duckHash24("text || '|border'")}, doc_id) AS BIGINT) AS r
         |       FROM sl)
         |SELECT doc_id, ${duckHash24("gk")} AS group_h, slot, bucket,
         |  CAST(slot AS VARCHAR) || '#' || CAST(bucket AS VARCHAR) || '#'
         |    || CAST((r - 1) // 8 AS VARCHAR) AS batch_id
         |FROM rk""".stripMargin,
    "leakage_safe_split" ->
      s"""WITH RECURSIVE $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify,
         |edges AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.5),
         |und AS (SELECT a_id AS src, b_id AS dst FROM edges
         |        UNION ALL SELECT b_id, a_id FROM edges),
         |reach AS (
         |  SELECT DISTINCT src AS id, src AS r FROM und
         |  UNION
         |  SELECT u.src, reach.r FROM und u JOIN reach ON reach.id = u.dst),
         |comp AS (SELECT id AS doc_id, min(r) AS component_id FROM reach GROUP BY 1),
         |ky AS (SELECT d.doc_id,
         |         CASE WHEN c.component_id IS NOT NULL
         |              THEN 'c|' || CAST(c.component_id AS VARCHAR)
         |              ELSE 'd|' || d.text END AS k
         |       FROM documents d LEFT JOIN comp c USING (doc_id)),
         |b AS (SELECT doc_id, ${duckHash24("k")} % 100 AS bucket FROM ky)
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < 5 THEN 'test'
         |       WHEN bucket < 10 THEN 'val' ELSE 'train' END AS split
         |FROM b""".stripMargin,
    "quality_score" ->
      s"""WITH $duckToks,
         |$duckQualityCtes
         |SELECT doc_id, n_tok, stop_ratio, distinct_ratio, quality FROM qual""".stripMargin,
    // Gopher §A1.1 word-level battery: every ratio is integer
    // arithmetic rounded once; thresholds compare the ROUNDED value
    "gopher_rules" ->
      s"""WITH $duckToks,
         |ta AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |         CAST(sum(length(tok)) AS BIGINT) AS tok_chars,
         |         CAST(sum(CASE WHEN regexp_matches(tok, '[a-z]') THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_alpha_words,
         |         CAST(count(DISTINCT CASE WHEN tok IN (${sqlList(graft.ops.TextOps.GopherStopwords)})
         |                             THEN tok END) AS BIGINT) AS n_req_stopwords
         |       FROM toks GROUP BY 1),
         |sy AS (SELECT doc_id,
         |         CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS n_syms
         |       FROM documents),
         |m AS (SELECT t.doc_id, n_words,
         |        round(tok_chars / n_words, 6) + 0 AS mean_word_len,
         |        round(n_alpha_words / n_words, 6) + 0 AS alpha_frac,
         |        round(n_syms / n_words, 6) + 0 AS sym_ratio,
         |        n_req_stopwords
         |      FROM ta t JOIN sy s ON s.doc_id = t.doc_id)
         |SELECT doc_id, n_words, mean_word_len, alpha_frac, sym_ratio, n_req_stopwords,
         |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
         |   AND sym_ratio <= 0.1 AND alpha_frac >= 0.8 AND n_req_stopwords >= 2)
         |  AS passes
         |FROM m""".stripMargin,
    // Gopher Table A1 repetition battery: top-n-gram (n≤4) and
    // duplicated-n-gram (n≥5) character fractions; the top gram is
    // pinned by (count DESC, gram ASC) so both engines pick the same
    // one; thresholds compare the ROUNDED fraction
    "gopher_repetition" ->
      s"""WITH arr AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS doc_chars,
         |         list_filter(list_transform(list_slice(string_split(text, ' '), 1, 512),
         |                                    t -> trim(t)), t -> t <> '') AS toks
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id, doc_chars, n.n,
         |         array_to_string(list_slice(toks, u.i, u.i + n.n - 1), ' ') AS gram
         |  FROM arr, unnest(range(2, 11)) n(n),
         |       unnest(range(1, len(toks) - n.n + 2)) u(i)
         |  WHERE len(toks) >= n.n),
         |counted AS (SELECT doc_id, doc_chars, n, gram, CAST(count(*) AS BIGINT) AS cnt
         |            FROM grams GROUP BY 1, 2, 3, 4),
         |folded AS (
         |  SELECT doc_id, doc_chars, n,
         |    min(struct_pack(nc := -cnt, g := gram)).g AS top_gram,
         |    max(cnt) AS top_cnt,
         |    CAST(sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS BIGINT)
         |      AS dup_chars
         |  FROM counted GROUP BY 1, 2, 3),
         |m AS (
         |  SELECT doc_id, n,
         |    CASE WHEN n <= 4 THEN 'top' ELSE 'dup' END AS kind,
         |    round((CASE WHEN n <= 4 THEN top_cnt * length(top_gram)
         |                ELSE dup_chars END) / doc_chars, 6) + 0 AS char_frac
         |  FROM folded)
         |SELECT doc_id, n, kind, char_frac,
         |  char_frac <= (CASE n ${TextOps.GopherRepThresholds
                            .map { case (n, t) => s"WHEN $n THEN $t" }.mkString(" ")}
         |                END) AS ok
         |FROM m""".stripMargin,
    // same IVF cell chain as similarity_join, directed, label-filtered,
    // folded to each anchor's top-1 cross-label neighbor
    "hard_negatives" ->
      s"""WITH $duckSqrtCells,
         |assigned AS (SELECT vec_id, c_label FROM ranked WHERE rn <= 2),
         |cpairs AS (SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS neg_id
         |           FROM assigned a JOIN assigned b USING (c_label)
         |           WHERE a.vec_id <> b.vec_id),
         |$duckNrmCte,
         |sim AS (SELECT p.anchor_id, la.label AS anchor_label,
         |          p.neg_id, lb.label AS neg_label,
         |          round(${duckCosPre("la.embedding", "lb.embedding",
                      "la.nm", "lb.nm")}, 6) + 0 AS cos_sim
         |        FROM cpairs p
         |        JOIN nrm la ON la.vec_id = p.anchor_id
         |        JOIN nrm lb ON lb.vec_id = p.neg_id
         |        WHERE la.label <> lb.label)
         |SELECT anchor_id, anchor_label, neg_id, neg_label, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY anchor_id
         |                               ORDER BY cos_sim DESC, neg_id) AS rn
         |  FROM sim) WHERE rn = 1""".stripMargin,
    // one scored candidate table, two label-routed argmaxes, exact
    // on-grid margin
    "triplet_mining" ->
      s"""WITH $duckSqrtCells,
         |assigned AS (SELECT vec_id, c_label FROM ranked WHERE rn <= 2),
         |cpairs AS (SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS other_id
         |           FROM assigned a JOIN assigned b USING (c_label)
         |           WHERE a.vec_id <> b.vec_id),
         |$duckNrmCte,
         |sim AS MATERIALIZED (SELECT p.anchor_id, la.label AS anchor_label,
         |          p.other_id, lb.label AS other_label,
         |          round(${duckCosPre("la.embedding", "lb.embedding",
                      "la.nm", "lb.nm")}, 6) + 0 AS cos_sim
         |        FROM cpairs p
         |        JOIN nrm la ON la.vec_id = p.anchor_id
         |        JOIN nrm lb ON lb.vec_id = p.other_id),
         |pos AS (SELECT anchor_id, anchor_label, other_id AS pos_id,
         |          cos_sim AS cos_pos FROM (
         |          SELECT *, row_number() OVER (PARTITION BY anchor_id
         |                      ORDER BY cos_sim DESC, other_id) AS rn
         |          FROM sim WHERE other_label = anchor_label) WHERE rn = 1),
         |neg AS (SELECT anchor_id, other_id AS neg_id, cos_sim AS cos_neg FROM (
         |          SELECT *, row_number() OVER (PARTITION BY anchor_id
         |                      ORDER BY cos_sim DESC, other_id) AS rn
         |          FROM sim WHERE other_label <> anchor_label) WHERE rn = 1)
         |SELECT p.anchor_id, p.anchor_label, p.pos_id, p.cos_pos,
         |  n.neg_id, n.cos_neg,
         |  round(p.cos_pos - n.cos_neg, 6) + 0 AS margin
         |FROM pos p JOIN neg n USING (anchor_id)""".stripMargin,
    // corpus (vec >= 50) × benchmark (vec < 50) through the shared
    // cell table; per-corpus argmax with bench_id tie-break
    "decontaminate_semantic" ->
      s"""WITH $duckSqrtCells,
         |assigned AS (SELECT vec_id, c_label FROM ranked WHERE rn <= 2),
         |cp AS (SELECT DISTINCT a.vec_id AS corpus_id, b.vec_id AS bench_id
         |       FROM assigned a JOIN assigned b USING (c_label)
         |       WHERE a.vec_id >= 50 AND b.vec_id < 50),
         |sim AS (SELECT cp.corpus_id, cp.bench_id,
         |          round(${duckCos("ea.embedding", "eb.embedding")}, 6) + 0 AS cos_sim
         |        FROM cp
         |        JOIN embeddings ea ON ea.vec_id = cp.corpus_id
         |        JOIN embeddings eb ON eb.vec_id = cp.bench_id)
         |SELECT corpus_id, bench_id, cos_sim, cos_sim >= 0.35 AS contaminated
         |FROM (SELECT *, row_number() OVER (PARTITION BY corpus_id
         |        ORDER BY cos_sim DESC, bench_id) AS rn FROM sim)
         |WHERE rn = 1""".stripMargin,
    // same CASE-chain bucket assignment (no float log2), one bounded
    // agg, one rounded waste ratio
    "length_buckets" -> {
      val pows = Seq(1, 2, 4, 8, 16, 32, 64, 128, 256)
      val chain = pows.map(p => s"WHEN n_tok <= $p THEN $p").mkString(" ")
      s"""WITH t AS (SELECT CAST(len(list_filter(list_transform(
         |        string_split(text, ' '), x -> trim(x)), x -> x <> '')) AS BIGINT)
         |        AS n_tok FROM documents),
         |b AS (SELECT n_tok,
         |        CAST(CASE $chain ELSE 512 END AS BIGINT) AS bucket FROM t),
         |g AS (SELECT bucket, count(*) AS n_docs,
         |        CAST(sum(least(n_tok, bucket)) AS BIGINT) AS used_tokens
         |      FROM b GROUP BY 1)
         |SELECT bucket, n_docs, used_tokens, bucket * n_docs AS capacity,
         |  round(1.0 - used_tokens / CAST(bucket * n_docs AS DOUBLE), 6) + 0
         |    AS padding_waste
         |FROM g""".stripMargin
    },
    // the oracle RETRAINS the classifier from scratch (8 unrolled GD
    // steps as CTE pairs — weights are never taken from the engine):
    // HUGEINT gradient sums twin the engine's decimal(38,0) ones
    "quality_classifier" ->
      s"""WITH $duckGdScored
         |SELECT doc_id, y, score,
         |  CAST(round(score * 1000000.0) AS BIGINT) >= 500000 AS predicted
         |FROM gds""".stripMargin,
    // three keep flags (heuristic qual ≥ 0.5 micro, gopher pass,
    // retrained GD ≥ 0.5 micro) joined on doc_id; κ from exact
    // HUGEINT chance products, one double division per pair row
    "quality_kappa" ->
      s"""WITH $duckGdScored,
         |$duckQualityCtes,
         |ta AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |         CAST(sum(length(tok)) AS BIGINT) AS tok_chars,
         |         CAST(sum(CASE WHEN regexp_matches(tok, '[a-z]') THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_alpha_words,
         |         CAST(count(DISTINCT CASE WHEN tok IN (${sqlList(graft.ops.TextOps.GopherStopwords)})
         |                             THEN tok END) AS BIGINT) AS n_req_stopwords
         |       FROM toks GROUP BY 1),
         |sy AS (SELECT doc_id,
         |         CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS n_syms
         |       FROM documents),
         |m AS (SELECT t.doc_id,
         |        (n_words BETWEEN 50 AND 100000
         |         AND round(tok_chars / n_words, 6) + 0 BETWEEN 3.0 AND 10.0
         |         AND round(n_syms / n_words, 6) + 0 <= 0.1
         |         AND round(n_alpha_words / n_words, 6) + 0 >= 0.8
         |         AND n_req_stopwords >= 2) AS g
         |      FROM ta t JOIN sy s ON s.doc_id = t.doc_id),
         |j AS (SELECT q2.doc_id,
         |        CAST(round(q2.quality * 1000000.0) AS BIGINT) >= 500000 AS h,
         |        m.g,
         |        CAST(round(gds.score * 1000000.0) AS BIGINT) >= 500000 AS c
         |      FROM qual q2 JOIN m USING (doc_id) JOIN gds USING (doc_id)),
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(CASE WHEN h THEN 1 ELSE 0 END) AS BIGINT) AS yh,
         |         CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS yg,
         |         CAST(sum(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS yc,
         |         CAST(sum(CASE WHEN h = g THEN 1 ELSE 0 END) AS BIGINT) AS a_hg,
         |         CAST(sum(CASE WHEN h = c THEN 1 ELSE 0 END) AS BIGINT) AS a_hc,
         |         CAST(sum(CASE WHEN g = c THEN 1 ELSE 0 END) AS BIGINT) AS a_gc
         |       FROM j),
         |rows3 AS (
         |  SELECT 'heuristic' AS rater_a, 'gopher' AS rater_b,
         |    n, yh AS ya, yg AS yb, a_hg AS a FROM ag
         |  UNION ALL SELECT 'heuristic', 'classifier', n, yh, yc, a_hc FROM ag
         |  UNION ALL SELECT 'gopher', 'classifier', n, yg, yc, a_gc FROM ag),
         |k AS (SELECT rater_a, rater_b, n, a, ya, yb,
         |        CAST(ya AS HUGEINT) * yb + CAST(n - ya AS HUGEINT) * (n - yb)
         |          AS chance2,
         |        CAST(n AS HUGEINT) * n AS nn
         |      FROM rows3)
         |SELECT rater_a, rater_b, n AS n_docs, a AS n_agree,
         |  ya AS n_yes_a, yb AS n_yes_b,
         |  CASE WHEN nn = chance2 THEN 0.0
         |    ELSE round(CAST(CAST(n AS HUGEINT) * a - chance2 AS DOUBLE) /
         |               CAST(nn - chance2 AS DOUBLE), 6) + 0 END AS kappa
         |FROM k""".stripMargin,
    // reliability diagram + ECE over the SAME retrained-from-scratch
    // scores: integer-micro bin assignment (no float-boundary floor),
    // exact micro sums per bin, one rounded division per statistic
    "gd_calibration" ->
      s"""WITH $duckGdScored,
         |smt AS (SELECT CAST(round(score * 1000000.0) AS BIGINT) AS s_micro, y
         |        FROM gds),
         |bt AS (SELECT least((s_micro * 10) // 1000000, 9) AS bin_id, s_micro, y
         |       FROM smt),
         |pb AS (SELECT bin_id, count(*) AS n, CAST(sum(s_micro) AS BIGINT) AS sms,
         |              CAST(sum(y) AS BIGINT) AS n_pos
         |       FROM bt GROUP BY 1),
         |cal AS (SELECT bin_id, n,
         |          round(CAST(sms AS DOUBLE) / (n * 1000000.0), 6) + 0 AS mean_conf,
         |          round(n_pos / CAST(n AS DOUBLE), 6) + 0 AS frac_pos
         |        FROM pb),
         |cg AS (SELECT *, CAST(round(round(abs(mean_conf - frac_pos), 6)
         |                 * 1000000.0) AS BIGINT) AS gap_micro
         |       FROM cal),
         |et AS (SELECT round(CAST(sum(n * gap_micro) AS DOUBLE)
         |               / (sum(n) * 1000000.0), 6) + 0 AS ece FROM cg)
         |SELECT cg.bin_id, cg.n, cg.mean_conf, cg.frac_pos,
         |       round(cg.gap_micro / 1000000.0, 6) + 0 AS gap, et.ece
         |FROM cg, et""".stripMargin,
    // same gds chain + calibration bins; cumulative window descends
    // from the top bin; all ratios floored micro-quotients
    "gd_lift" ->
      s"""WITH $duckGdScored,
         |bt AS (SELECT least((CAST(round(score * 1000000.0) AS BIGINT) * 10)
         |           // 1000000, 9) AS bin_id, y
         |       FROM gds),
         |pb AS (SELECT bin_id, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos
         |       FROM bt GROUP BY 1),
         |tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
         |         CAST(sum(n_pos) AS BIGINT) AS pp FROM pb),
         |cu AS (SELECT pb.*, tt.nn, tt.pp,
         |         CAST(sum(n) OVER (ORDER BY bin_id DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_n,
         |         CAST(sum(n_pos) OVER (ORDER BY bin_id DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_pos
         |       FROM pb, tt)
         |SELECT bin_id, n, n_pos,
         |  (n_pos * 1000000) // n AS resp_micro,
         |  CASE WHEN pp > 0 THEN (n_pos * nn * 1000000) // (n * pp) END
         |    AS lift_micro,
         |  cum_n, cum_pos,
         |  CASE WHEN pp > 0 THEN (cum_pos * 1000000) // pp END
         |    AS cum_capture_micro,
         |  CASE WHEN pp > 0 THEN (cum_pos * nn * 1000000) // (cum_n * pp) END
         |    AS cum_lift_micro
         |FROM cu""".stripMargin,
    // char-ordered bounded fold over per-doc character counts; ln
    // rounded per char, one final rounding after the integer division.
    // len(text) > 0 on BOTH sides is the pinned edge contract (the
    // engine filters char_length > 0): empty docs emit no row — the
    // unnest here happens to drop them already, but the explicit
    // predicate makes the contract visible rather than incidental
    "char_entropy" ->
      """WITH ch AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS n,
        |    ascii(substring(text, u.i, 1)) AS cp
        |  FROM documents, unnest(range(1, len(text)+1)) u(i)
        |  WHERE len(text) > 0),
        |cc AS (SELECT doc_id, n, cp, count(*) AS cnt FROM ch GROUP BY 1, 2, 3)
        |SELECT doc_id, max(n) AS n_chars,
        |  count(*) AS n_distinct_chars,
        |  round(-sum(cnt * round(ln(cnt / CAST(n AS DOUBLE)), 6)
        |             ORDER BY cp) / max(n), 6) + 0 AS entropy
        |FROM cc GROUP BY doc_id""".stripMargin,
    // FK readability: words = [a-z]+ runs, sentences = [.!?]+ runs
    // floored at 1, syllables = max(1, vowel-group runs) per word;
    // ratios rounded 6dp before the published linear forms
    "readability_score" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z]+') AS ws,
        |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sent_raw
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(ws,
        |      x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1)))
        |      AS BIGINT) AS n_syllables,
        |    greatest(n_sent_raw, 1) AS n_sentences
        |  FROM w WHERE len(ws) > 0),
        |r AS (SELECT doc_id, n_words, n_sentences, n_syllables,
        |    round(n_words / n_sentences, 6) AS wps,
        |    round(n_syllables / n_words, 6) AS spw FROM b)
        |SELECT doc_id, n_words, CAST(n_sentences AS BIGINT) AS n_sentences,
        |  n_syllables,
        |  round(0.39 * wps + 11.8 * spw - 15.59, 6) + 0 AS fk_grade,
        |  round(206.835 - 1.015 * wps - 84.6 * spw, 6) + 0 AS reading_ease
        |FROM r""".stripMargin,
    // occurrence counts by length-delta after class removal ('g' =
    // replace ALL, matching Spark's regexp_replace default); the
    // clean fixture pins the zero counters, ratios pin the rest
    "encoding_audit" ->
      """WITH d AS (SELECT source,
        |    CAST(len(text) AS BIGINT) AS nc,
        |    CAST(len(text) - len(regexp_replace(text, '[\x{FFFD}]', '', 'g'))
        |      AS BIGINT) AS n_repl,
        |    CAST(len(text) - len(regexp_replace(text,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS BIGINT) AS n_ctl,
        |    CAST(len(text) - len(regexp_replace(text, '[^\x00-\x7F]', '', 'g'))
        |      AS BIGINT) AS n_na,
        |    CAST(len(text) - len(regexp_replace(text, '[ \t\n\r]', '', 'g'))
        |      AS BIGINT) AS n_ws
        |  FROM documents),
        |g AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(nc) AS BIGINT) AS n_chars,
        |    CAST(sum(n_repl) AS BIGINT) AS n_replacement,
        |    CAST(sum(n_ctl) AS BIGINT) AS n_control,
        |    CAST(sum(n_na) AS BIGINT) AS n_non_ascii,
        |    CAST(sum(n_ws) AS BIGINT) AS n_whitespace
        |  FROM d GROUP BY source)
        |SELECT source, n_docs, n_chars, n_replacement, n_control,
        |  n_non_ascii, n_whitespace,
        |  round(n_whitespace / n_chars, 6) + 0 AS ws_ratio,
        |  round((n_chars - n_non_ascii) / n_chars, 6) + 0 AS ascii_ratio
        |FROM g WHERE n_chars > 0""".stripMargin,
    // exact integer S from pairwise signs over the daily table; the
    // tie term from the mm census; one rounded continuity-corrected z
    "mann_kendall" ->
      """WITH daily AS (SELECT event_type,
        |         epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(round(round(avg(value), 6) * 1000000) AS BIGINT) AS mm
        |       FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |        CAST(sum(CASE WHEN b.mm > a.mm THEN 1
        |                      WHEN b.mm < a.mm THEN -1 ELSE 0 END) AS BIGINT)
        |          AS s_stat
        |      FROM daily a JOIN daily b USING (event_type)
        |      WHERE a.day < b.day GROUP BY 1),
        |t AS (SELECT event_type, mm, CAST(count(*) AS BIGINT) AS t
        |      FROM daily GROUP BY 1, 2),
        |tt AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n_days,
        |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        |       FROM t GROUP BY 1),
        |v AS (SELECT tt.event_type, tt.n_days, p.s_stat,
        |        n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var18
        |      FROM tt JOIN p USING (event_type)),
        |z AS (SELECT event_type, n_days, s_stat, var18,
        |        CASE WHEN var18 <= 0 THEN 0.0
        |             WHEN s_stat > 0 THEN
        |               round((s_stat - 1) / sqrt(var18 / 18.0), 6) + 0
        |             WHEN s_stat < 0 THEN
        |               round((s_stat + 1) / sqrt(var18 / 18.0), 6) + 0
        |             ELSE 0.0 END AS z
        |      FROM v)
        |SELECT event_type, n_days, s_stat, CAST(var18 AS BIGINT) AS var18, z,
        |  abs(z) > 1.96 AS trending
        |FROM z""".stripMargin,
    // top-k order statistics from the descending cumulative census
    // (never a sort); per-term ln rounded, cents-ordered fold; all-
    // tied tails emit null alpha
    "tail_index" ->
      """WITH census AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE CAST(round(value * 100) AS BIGINT) > 0
        |  GROUP BY 1, 2),
        |cum AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY event_type
        |    ORDER BY cents DESC ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS BIGINT) AS cum FROM census),
        |ref AS (SELECT event_type, cents AS x_ref_cents FROM cum
        |        WHERE cum - cnt < 51 AND cum >= 51),
        |top AS (SELECT c.event_type, c.cents, r.x_ref_cents,
        |          least(c.cnt, 50 - (c.cum - c.cnt)) AS take
        |        FROM cum c JOIN ref r USING (event_type)
        |        WHERE c.cum - c.cnt < 50 AND c.cents > r.x_ref_cents),
        |f AS (SELECT event_type, x_ref_cents,
        |        CAST(sum(take) AS BIGINT) AS n_top,
        |        sum(take * (round(ln(cents / CAST(x_ref_cents AS DOUBLE)), 6) + 0)
        |            ORDER BY cents) AS s_raw
        |      FROM top GROUP BY 1, 2)
        |SELECT event_type, n_top, x_ref_cents,
        |  round(s_raw, 6) + 0 AS sum_log_excess,
        |  CASE WHEN s_raw > 0 THEN round(50 / s_raw, 6) + 0 END AS alpha
        |FROM f""".stripMargin,
    // forward gaps in whole seconds ((ts, event_id) order pins
    // same-instant ties); integer sums, one division, rounded once
    "events_twap" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS tsn, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |g AS (SELECT user_id, cents,
        |    (lead(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id)
        |      - tsn) // 1000000000 AS gap_s
        |  FROM e),
        |a AS (SELECT user_id, count(*) AS n_intervals,
        |    CAST(sum(gap_s) AS BIGINT) AS total_gap_s,
        |    CAST(sum(cents * gap_s) AS BIGINT) AS wsum
        |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_intervals, total_gap_s,
        |  round(wsum / (total_gap_s * 100.0), 6) + 0 AS twap
        |FROM a WHERE total_gap_s > 0""".stripMargin,
    // per-block integer partial-sum ranges and HUGEINT dispersion,
    // complete calendar-aligned blocks only; H = Δln(R/S) over the
    // one log-2 window step, divided by the ln 2 CONSTANT
    "events_hurst" ->
      """WITH daily AS (SELECT event_type,
        |         epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(round(round(avg(value), 6) * 1000000) AS BIGINT) AS mm
        |       FROM events GROUP BY 1, 2),
        |b4 AS (SELECT event_type, day, mm, day // 4 AS blk FROM daily),
        |t4 AS (SELECT event_type, blk, count(*) AS n,
        |         CAST(sum(mm) AS BIGINT) AS s FROM b4 GROUP BY 1, 2),
        |c4 AS (SELECT b.event_type, b.blk,
        |         CAST(sum(4 * b.mm - t.s) OVER (PARTITION BY b.event_type, b.blk
        |           ORDER BY b.day ROWS BETWEEN UNBOUNDED PRECEDING
        |           AND CURRENT ROW) AS BIGINT) AS c,
        |         4 * b.mm - t.s AS wdev
        |       FROM b4 b JOIN t4 t USING (event_type, blk) WHERE t.n = 4),
        |r4 AS (SELECT event_type, blk,
        |         CAST(max(c) - min(c) AS BIGINT) AS rng,
        |         sum(CAST(wdev AS HUGEINT) * wdev) AS d2
        |       FROM c4 GROUP BY 1, 2),
        |rs4 AS (SELECT event_type, blk,
        |          round(rng * sqrt(4.0 / CAST(d2 AS DOUBLE)), 6) + 0 AS rs
        |        FROM r4 WHERE d2 > 0),
        |m4 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_blocks_4,
        |         round(sum(rs ORDER BY blk) / count(*), 6) + 0 AS rs_4
        |       FROM rs4 GROUP BY 1),
        |b8 AS (SELECT event_type, day, mm, day // 8 AS blk FROM daily),
        |t8 AS (SELECT event_type, blk, count(*) AS n,
        |         CAST(sum(mm) AS BIGINT) AS s FROM b8 GROUP BY 1, 2),
        |c8 AS (SELECT b.event_type, b.blk,
        |         CAST(sum(8 * b.mm - t.s) OVER (PARTITION BY b.event_type, b.blk
        |           ORDER BY b.day ROWS BETWEEN UNBOUNDED PRECEDING
        |           AND CURRENT ROW) AS BIGINT) AS c,
        |         8 * b.mm - t.s AS wdev
        |       FROM b8 b JOIN t8 t USING (event_type, blk) WHERE t.n = 8),
        |r8 AS (SELECT event_type, blk,
        |         CAST(max(c) - min(c) AS BIGINT) AS rng,
        |         sum(CAST(wdev AS HUGEINT) * wdev) AS d2
        |       FROM c8 GROUP BY 1, 2),
        |rs8 AS (SELECT event_type, blk,
        |          round(rng * sqrt(8.0 / CAST(d2 AS DOUBLE)), 6) + 0 AS rs
        |        FROM r8 WHERE d2 > 0),
        |m8 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_blocks_8,
        |         round(sum(rs ORDER BY blk) / count(*), 6) + 0 AS rs_8
        |       FROM rs8 GROUP BY 1)
        |SELECT m4.event_type, n_blocks_4, rs_4, n_blocks_8, rs_8,
        |  round(((round(ln(rs_8), 6) + 0) - (round(ln(rs_4), 6) + 0))
        |        / 0.6931471805599453, 6) + 0 AS hurst
        |FROM m4 JOIN m8 USING (event_type)""".stripMargin,
    // per-from ln terms rounded then folded in to_type order and
    // divided once; the rate folds n_i·H_i in from order over |types|
    "markov_entropy" ->
      """WITH p AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS next_type
        |  FROM events),
        |c AS (SELECT event_type AS from_type, next_type AS to_type,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |ft AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
        |       FROM c GROUP BY 1),
        |h AS (SELECT c.from_type, ft.n_from,
        |        round(-sum(c.n * (round(ln(c.n / CAST(ft.n_from AS DOUBLE)), 6) + 0)
        |                   ORDER BY c.to_type) / ft.n_from, 6) + 0 AS h_cond
        |      FROM c JOIN ft USING (from_type) GROUP BY 1, 2),
        |nt AS (SELECT CAST(sum(n_from) AS BIGINT) AS n_all FROM h),
        |r AS (SELECT round(sum(n_from * h_cond ORDER BY from_type)
        |               / (SELECT n_all FROM nt), 6) + 0 AS entropy_rate FROM h)
        |SELECT from_type, n_from,
        |  round(n_from / (SELECT n_all FROM nt), 6) + 0 AS share,
        |  h_cond, (SELECT entropy_rate FROM r) AS entropy_rate
        |FROM h""".stripMargin,
    "lang_id" ->
      s"""WITH $duckToks,
         |$duckLangCtes
         |SELECT c.doc_id, lang.predicted_lang,
         |  CAST(c_en AS BIGINT) AS c_en, CAST(c_es AS BIGINT) AS c_es,
         |  CAST(c_de AS BIGINT) AS c_de, CAST(c_fr AS BIGINT) AS c_fr
         |FROM c JOIN lang USING (doc_id)""".stripMargin,
    // NB training unrolled in SQL: trigram tf → hashed buckets →
    // (lang,bucket) counts on the train split → integer-micro log
    // weights → per-(doc,lang) Long score sums → argmax window.
    // Fixed-point ln(·)·1e6 on both engines; ties on lang asc
    "lang_id_learned" ->
      s"""WITH $duckNbCtes
         |SELECT doc_id, predicted_lang, score_micro FROM nbp""".stripMargin,
    // the learned model graded by the SAME audit shape as the marker
    // baseline: confusion matrix + per-gold-label recall
    "lang_confusion_learned" ->
      s"""WITH $duckNbCtes,
         |g AS (SELECT d.lang AS gold, nbp.predicted_lang
         |      FROM documents d JOIN nbp USING (doc_id)),
         |cell AS (SELECT gold, predicted_lang, count(*) AS n
         |         FROM g GROUP BY 1, 2),
         |tot AS (SELECT gold, count(*) AS t FROM g GROUP BY 1)
         |SELECT c.gold AS lang, c.predicted_lang, c.n,
         |       round(c.n / t.t, 6) + 0 AS recall
         |FROM cell c JOIN tot t USING (gold)""".stripMargin,
    "lang_confusion" ->
      s"""WITH $duckToks,
         |$duckLangCtes,
         |g AS (SELECT d.lang AS gold, lang.predicted_lang
         |      FROM documents d JOIN lang USING (doc_id)),
         |cell AS (SELECT gold, predicted_lang, count(*) AS n
         |         FROM g GROUP BY 1, 2),
         |tot AS (SELECT gold, count(*) AS t FROM g GROUP BY 1)
         |SELECT c.gold AS lang, c.predicted_lang, c.n,
         |       round(c.n / t.t, 6) + 0 AS recall
         |FROM cell c JOIN tot t USING (gold)""".stripMargin,
    // unigram LM fit on the corpus itself: logprob = ln(cnt/total)
    // rounded 6dp, per-doc fold over DISTINCT tokens in token order
    "lm_logprob" ->
      s"""WITH $duckToks,
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         |vocab AS (SELECT tok, sum(tf) AS cnt FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab),
         |lp AS (SELECT tok, round(ln(cnt / tot.total), 6) + 0 AS logprob
         |       FROM vocab, tot),
         |agg AS (
         |  SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_tok,
         |    sum(t.tf * lp.logprob ORDER BY t.tok) AS sum_lp_raw
         |  FROM tf t JOIN lp USING (tok) GROUP BY 1)
         |SELECT doc_id, n_tok, round(sum_lp_raw / n_tok, 6) + 0 AS avg_logprob
         |FROM agg""".stripMargin,
    // PLSA, 6 EM rounds unrolled: init mass from sha parity, a_z =
    // (u_z/N_z)·t_z with the division first, FIXED-order 4-term
    // normalizer, responsibilities rounded once to integer micros,
    // HUGEINT M-step sums (the decimal(38,0) twin)
    // same EM chain; pairs under doc co-occurrence; npmi in micros,
    // mean = floor of the exact double quotient (negative-safe)
    "topic_coherence" ->
      s"""WITH $duckPlsaCtes,
         |tw AS (SELECT topic, tok FROM rk WHERE rank <= 8),
         |dw AS (SELECT DISTINCT doc_id, tok FROM toks
         |       WHERE tok IN (SELECT tok FROM tw)),
         |dd AS (SELECT count(DISTINCT doc_id) AS dd FROM toks),
         |wc AS (SELECT tok, count(*) AS c FROM dw GROUP BY 1),
         |co AS (SELECT x.tok AS w1, y.tok AS w2, count(*) AS cij
         |       FROM dw x JOIN dw y ON y.doc_id = x.doc_id AND x.tok < y.tok
         |       GROUP BY 1, 2),
         |pr AS (SELECT a.topic, a.tok AS w1, b.tok AS w2
         |       FROM tw a JOIN tw b ON b.topic = a.topic AND a.tok < b.tok),
         |sc AS (SELECT pr.topic,
         |         CASE WHEN COALESCE(co.cij, 0) = dd.dd THEN 1000000
         |         ELSE CAST(round(
         |           ln((CAST(COALESCE(co.cij, 0) + 1 AS DOUBLE)
         |               / CAST(dd.dd + 1 AS DOUBLE))
         |              / ((CAST(c1.c AS DOUBLE) / CAST(dd.dd AS DOUBLE))
         |                 * (CAST(c2.c AS DOUBLE) / CAST(dd.dd AS DOUBLE))))
         |           / (0.0 - ln(CAST(COALESCE(co.cij, 0) + 1 AS DOUBLE)
         |               / CAST(dd.dd + 1 AS DOUBLE))) * 1000000) AS BIGINT)
         |         END AS npmi6
         |       FROM pr
         |       LEFT JOIN co ON co.w1 = pr.w1 AND co.w2 = pr.w2
         |       JOIN wc c1 ON c1.tok = pr.w1
         |       JOIN wc c2 ON c2.tok = pr.w2, dd)
         |SELECT topic, count(*) AS n_pairs,
         |  CAST(sum(npmi6) AS BIGINT) AS npmi_sum6,
         |  CAST(floor(CAST(sum(npmi6) AS DOUBLE) / CAST(count(*) AS DOUBLE))
         |    AS BIGINT) AS mean_npmi_micro
         |FROM sc GROUP BY 1""".stripMargin,
    // fold-in assignment: add-one-smoothed topic log-probs from the
    // retrained φ (fin/nzf are the shared EM chain's outputs), exact
    // Long micro scores, per-doc argmax with topic-asc ties
    "topic_assign" ->
      s"""WITH $duckPlsaCtes,
         |vv AS (SELECT count(DISTINCT tok) AS v FROM fin),
         |w AS (SELECT f.topic, f.tok,
         |        CAST(round(ln((CAST(f.u AS DOUBLE) + 1)
         |            / (CAST(n.nu AS DOUBLE) + (SELECT v FROM vv)))
         |          * 1000000) AS BIGINT) AS w_mu
         |      FROM fin f JOIN nzf n USING (topic)),
         |scr AS (SELECT t.doc_id, w.topic,
         |          CAST(sum(t.tf * w.w_mu) AS BIGINT) AS score_micro
         |        FROM tf t JOIN w USING (tok) GROUP BY 1, 2)
         |SELECT doc_id, topic, score_micro FROM scr
         |QUALIFY row_number() OVER (PARTITION BY doc_id
         |  ORDER BY score_micro DESC, topic) = 1""".stripMargin,
    "topic_model" ->
      s"""WITH $duckPlsaCtes
         |SELECT r.topic, r.rank, r.tok,
         |  round(CAST(r.u AS DOUBLE) / CAST(z.nu AS DOUBLE), 6) + 0 AS weight
         |FROM rk r JOIN nzf z USING (topic)
         |WHERE r.rank <= 8""".stripMargin,
    // three metric chains → per-metric 64-bin census CDF (same clamp
    // and expression shape as events_histogram) → map-side percentile
    // lookup, averaged
    "quality_blend" -> {
      def pctCte(src: String, v: String, p: String) =
        s"""${p}b AS (SELECT round(min($v), 6) + 0 AS lo, round(max($v), 6) + 0 AS hi,
           |          count(*) AS n FROM $src),
           |${p}bin AS (SELECT s.doc_id,
           |    CASE WHEN b.hi = b.lo THEN 0
           |         ELSE least(63, greatest(0,
           |           CAST(floor(($v - b.lo) * 64 / (b.hi - b.lo)) AS BIGINT))) END
           |      AS bin, b.n
           |  FROM $src s CROSS JOIN ${p}b b),
           |${p}cdf AS (SELECT bin, sum(count(*))
           |    OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM ${p}bin GROUP BY bin),
           |${p}p AS (SELECT x.doc_id, round(c.cum / x.n, 6) + 0 AS $p
           |  FROM ${p}bin x JOIN ${p}cdf c USING (bin))""".stripMargin
      s"""WITH $duckToks,
         |$duckQualityCtes,
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         |vocab AS (SELECT tok, sum(tf) AS cnt FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab),
         |lp AS (SELECT tok, round(ln(cnt / tot.total), 6) + 0 AS logprob
         |       FROM vocab, tot),
         |lm AS (SELECT t.doc_id,
         |         round(sum(t.tf * lp.logprob ORDER BY t.tok)
         |               / CAST(sum(t.tf) AS BIGINT), 6) + 0 AS avg_logprob
         |       FROM tf t JOIN lp USING (tok) GROUP BY 1),
         |qm AS (SELECT doc_id, quality AS v FROM qual),
         |lmm AS (SELECT doc_id, avg_logprob AS v FROM lm),
         |lnm AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS v FROM documents),
         |${pctCte("qm", "v", "p_quality")},
         |${pctCte("lmm", "v", "p_logprob")},
         |${pctCte("lnm", "v", "p_length")}
         |SELECT q.doc_id, q.p_quality, l.p_logprob, n.p_length,
         |  round((q.p_quality + l.p_logprob + n.p_length) / 3, 6) + 0 AS blend
         |FROM p_qualityp q
         |JOIN p_logprobp l USING (doc_id)
         |JOIN p_lengthp n USING (doc_id)""".stripMargin
    },
    // fixed-point per-domain LM loss (integer-micro logprobs, HUGEINT
    // sums — the decimal(38,0) twin), excess vs the exact-sum
    // reference, source-ordered exp normalization
    "domain_weights" ->
      s"""WITH $duckToks,
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         |vocab AS (SELECT tok, sum(tf) AS cnt FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab),
         |lp6 AS (SELECT tok, CAST(round(ln(cnt / tot.total) * 1000000) AS BIGINT)
         |          AS lp6 FROM vocab, tot),
         |stf AS (SELECT d.source, t.tok, sum(t.tf) AS tf
         |        FROM tf t JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |bysrc AS (SELECT s.source, CAST(sum(s.tf) AS BIGINT) AS n_tok,
         |            sum(CAST(s.tf AS HUGEINT) * l.lp6) AS sum_lp6
         |          FROM stf s JOIN lp6 l USING (tok) GROUP BY 1),
         |av AS (SELECT source, n_tok, sum_lp6,
         |         round(CAST(sum_lp6 AS DOUBLE) / (n_tok * 1000000.0), 6) + 0
         |           AS avg_logprob
         |       FROM bysrc),
         |rf AS (SELECT round(CAST(sum(sum_lp6) AS DOUBLE)
         |               / (CAST(sum(n_tok) AS DOUBLE) * 1000000.0), 6) + 0
         |          AS ref_avg FROM bysrc),
         |ex AS (SELECT a.source, a.n_tok, a.avg_logprob,
         |         round(greatest(rf.ref_avg - a.avg_logprob, 0.0), 6) + 0 AS excess
         |       FROM av a CROSS JOIN rf),
         |wr AS (SELECT source, n_tok, avg_logprob, excess,
         |         exp(1.0 * excess) AS w_raw FROM ex),
         |nm AS (SELECT round(sum(w_raw ORDER BY source), 6) + 0 AS w_total FROM wr)
         |SELECT wr.source, wr.n_tok, wr.avg_logprob, wr.excess,
         |  round(wr.w_raw / nm.w_total, 6) + 0 AS weight
         |FROM wr CROSS JOIN nm""".stripMargin,
    // shared-vocab add-one LMs; per-token 6dp ln-difference, tok-ordered
    // fold, one rounding after the mean division (lm_logprob discipline)
    "dsir_weights" ->
      s"""WITH $duckToks,
         |$duckDsirCtes
         |SELECT doc_id, n_tok, dsir_weight FROM dw""".stripMargin,
    // global (weight DESC, doc_id) top-ceil(n/4) — semantically what
    // the engine's histogram-threshold selection computes without the
    // global sort
    "dsir_select" ->
      s"""WITH $duckToks,
         |$duckDsirCtes,
         |kk AS (SELECT (count(*) + 3) // 4 AS k FROM dw),
         |r AS (SELECT doc_id, n_tok, dsir_weight,
         |        row_number() OVER (ORDER BY dsir_weight DESC, doc_id) AS rn
         |      FROM dw)
         |SELECT doc_id, n_tok, dsir_weight FROM r, kk WHERE rn <= kk.k""".stripMargin,
    // 3:1 doc_id-hash split; per-λ leg re-aggregates the same joined
    // held-out bigram table; OOV-w2 bigrams skipped and counted
    "lm_tune" -> {
      val h24 = s"CAST(${graft.functions.PortableHash.duckdbHash24(
        "'lmt:' || CAST(doc_id AS VARCHAR)")} AS BIGINT)"
      def leg(lam: String, oneMinus: String): String =
        s"""SELECT CAST($lam AS DOUBLE) AS lambda,
           |  CAST(sum(tf) AS BIGINT) AS n_scored,
           |  (SELECT n_oov FROM ov) AS n_oov,
           |  round(sum(tf * round(ln($lam * COALESCE(CAST(c12 AS DOUBLE)
           |          / CAST(c1 AS DOUBLE), 0.0)
           |        + $oneMinus * (cu / total)), 6)
           |      ORDER BY w1 || ' ' || w2)
           |    / CAST(sum(tf) AS DOUBLE), 6) + 0 AS avg_logprob
           |FROM iv""".stripMargin
      s"""WITH $duckToks,
         |tr AS (SELECT * FROM toks WHERE $h24 % 4 <> 0),
         |he AS (SELECT * FROM toks WHERE $h24 % 4 = 0),
         |bt AS (SELECT doc_id, tok AS w1, nt AS w2 FROM (
         |         SELECT doc_id, tok,
         |           lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nt
         |         FROM tr) WHERE nt IS NOT NULL),
         |cbi AS (SELECT w1, w2, count(*) AS c12 FROM bt GROUP BY 1, 2),
         |cw1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cbi GROUP BY 1),
         |uni AS (SELECT tok, count(*) AS cu FROM tr GROUP BY 1),
         |tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS total FROM uni),
         |hb AS (SELECT doc_id, tok AS w1, nt AS w2 FROM (
         |         SELECT doc_id, tok,
         |           lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nt
         |         FROM he) WHERE nt IS NOT NULL),
         |htf AS (SELECT w1, w2, count(*) AS tf FROM hb GROUP BY 1, 2),
         |j AS MATERIALIZED (SELECT h.w1, h.w2, h.tf, u.cu, c.c12, w.c1, tot.total
         |      FROM htf h
         |      LEFT JOIN uni u ON u.tok = h.w2
         |      LEFT JOIN cbi c ON c.w1 = h.w1 AND c.w2 = h.w2
         |      LEFT JOIN cw1 w ON w.w1 = h.w1, tot),
         |iv AS (SELECT * FROM j WHERE cu IS NOT NULL),
         |ov AS (SELECT COALESCE(CAST(sum(tf) AS BIGINT), 0) AS n_oov
         |       FROM j WHERE cu IS NULL),
         |legs AS (
         |${leg("0.3", "0.7")}
         |UNION ALL
         |${leg("0.5", "0.5")}
         |UNION ALL
         |${leg("0.7", "0.3")}
         |UNION ALL
         |${leg("0.9", "0.1")})
         |SELECT lambda, n_scored, n_oov, avg_logprob,
         |  avg_logprob = max(avg_logprob) OVER () AS is_best
         |FROM legs""".stripMargin
    },
    // the lm_tune CTE skeleton + continuation counts; KN's discounted
    // head + continuation backoff vs the λ=0.7 JM mixture on the
    // SHARED in-vocab-and-continuable held-out domain
    "lm_kneser_ney" -> {
      val h24 = s"CAST(${graft.functions.PortableHash.duckdbHash24(
        "'lmt:' || CAST(doc_id AS VARCHAR)")} AS BIGINT)"
      def leg(name: String, p: String): String =
        s"""SELECT '$name' AS model,
           |  CAST(sum(tf) AS BIGINT) AS n_scored,
           |  (SELECT n_oov FROM ov) AS n_oov,
           |  round(sum(tf * round(ln($p), 6) ORDER BY w1 || ' ' || w2)
           |      / CAST(sum(tf) AS DOUBLE), 6) + 0 AS avg_logprob
           |FROM iv""".stripMargin
      val pKn =
        """CASE WHEN c1 IS NOT NULL
          |    THEN greatest(COALESCE(CAST(c12 AS DOUBLE), 0.0) - 0.75, 0.0)
          |           / CAST(c1 AS DOUBLE)
          |         + 0.75 * CAST(n1p_w1 AS DOUBLE) / CAST(c1 AS DOUBLE)
          |           * (CAST(n1p_w2 AS DOUBLE) / n_types)
          |    ELSE CAST(n1p_w2 AS DOUBLE) / n_types END""".stripMargin
      val pJm =
        """0.7 * COALESCE(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE), 0.0)
          |  + 0.3 * (cu / total)""".stripMargin
      s"""WITH $duckToks,
         |tr AS (SELECT * FROM toks WHERE $h24 % 4 <> 0),
         |he AS (SELECT * FROM toks WHERE $h24 % 4 = 0),
         |bt AS (SELECT doc_id, tok AS w1, nt AS w2 FROM (
         |         SELECT doc_id, tok,
         |           lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nt
         |         FROM tr) WHERE nt IS NOT NULL),
         |cbi AS (SELECT w1, w2, count(*) AS c12 FROM bt GROUP BY 1, 2),
         |cw1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         |          count(*) AS n1p_w1 FROM cbi GROUP BY 1),
         |cont AS (SELECT w2, count(*) AS n1p_w2 FROM cbi GROUP BY 1),
         |nt AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM cbi),
         |uni AS (SELECT tok, count(*) AS cu FROM tr GROUP BY 1),
         |tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS total FROM uni),
         |hb AS (SELECT doc_id, tok AS w1, nt AS w2 FROM (
         |         SELECT doc_id, tok,
         |           lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nt
         |         FROM he) WHERE nt IS NOT NULL),
         |htf AS (SELECT w1, w2, count(*) AS tf FROM hb GROUP BY 1, 2),
         |j AS MATERIALIZED (SELECT h.w1, h.w2, h.tf, u.cu, ct.n1p_w2,
         |        c.c12, w.c1, w.n1p_w1, nt.n_types, tot.total
         |      FROM htf h
         |      LEFT JOIN uni u ON u.tok = h.w2
         |      LEFT JOIN cont ct ON ct.w2 = h.w2
         |      LEFT JOIN cbi c ON c.w1 = h.w1 AND c.w2 = h.w2
         |      LEFT JOIN cw1 w ON w.w1 = h.w1, nt, tot),
         |iv AS (SELECT * FROM j
         |       WHERE cu IS NOT NULL AND n1p_w2 IS NOT NULL),
         |ov AS (SELECT COALESCE(CAST(sum(tf) AS BIGINT), 0) AS n_oov
         |       FROM j WHERE cu IS NULL OR n1p_w2 IS NULL),
         |legs AS (
         |${leg("kneser_ney", pKn)}
         |UNION ALL
         |${leg("jelinek_mercer", pJm)})
         |SELECT model, n_scored, n_oov, avg_logprob,
         |  avg_logprob = max(avg_logprob) OVER () AS is_best
         |FROM legs""".stripMargin
    },
    // rho = bigram avg logprob − unigram avg logprob per doc (both LM
    // legs share the vocab census), top ceil(n/4) by (rho desc,
    // doc_id) — the rank form the engine's histogram threshold
    // provably equals (same oracle shape as dsir_select)
    "rho_select" ->
      s"""WITH $duckToks,
         |utf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         |vocab AS (SELECT tok, sum(tf) AS cnt FROM utf GROUP BY 1),
         |vtot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab),
         |ulp AS (SELECT tok, round(ln(cnt / vtot.total), 6) + 0 AS logprob
         |        FROM vocab, vtot),
         |uagg AS (SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_tok,
         |           sum(t.tf * ulp.logprob ORDER BY t.tok) AS sum_lp_raw
         |         FROM utf t JOIN ulp USING (tok) GROUP BY 1),
         |udoc AS (SELECT doc_id, round(sum_lp_raw / n_tok, 6) + 0 AS lp_uni
         |         FROM uagg),
         |bi AS (SELECT doc_id, tok AS w1, nt AS w2 FROM (
         |         SELECT doc_id, tok,
         |           lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nt
         |         FROM toks)
         |       WHERE nt IS NOT NULL),
         |btf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bi GROUP BY 1, 2, 3),
         |cbi AS (SELECT w1, w2, sum(tf) AS c12 FROM btf GROUP BY 1, 2),
         |cw1 AS (SELECT w1, sum(c12) AS c1 FROM cbi GROUP BY 1),
         |blp AS (SELECT c.w1, c.w2,
         |          round(ln(0.7 * (c.c12 / cw1.c1)
         |                   + 0.3 * (v.cnt / vtot.total)), 6) + 0 AS logprob
         |        FROM cbi c JOIN cw1 USING (w1) JOIN vocab v ON v.tok = c.w2, vtot),
         |bagg AS (SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_bigrams,
         |           sum(t.tf * blp.logprob ORDER BY t.w1 || ' ' || t.w2)
         |             AS sum_lp_raw
         |         FROM btf t JOIN blp USING (w1, w2) GROUP BY 1),
         |bdoc AS (SELECT doc_id, round(sum_lp_raw / n_bigrams, 6) + 0 AS lp_bi
         |         FROM bagg),
         |j AS (SELECT u.doc_id, u.lp_uni, b.lp_bi,
         |        round(b.lp_bi - u.lp_uni, 6) + 0 AS rho
         |      FROM udoc u JOIN bdoc b USING (doc_id)),
         |kk AS (SELECT (count(*) + 3) // 4 AS k FROM j),
         |r AS (SELECT *, row_number() OVER (ORDER BY rho DESC, doc_id) AS rn
         |      FROM j)
         |SELECT doc_id, lp_uni, lp_bi, rho FROM r, kk WHERE rn <= kk.k""".stripMargin,
    // interpolated bigram LM: 0.7/0.3 are DECIMAL literals DuckDB
    // folds exactly; Spark mirrors via BigDecimal-derived doubles
    "lm_bigram" ->
      s"""WITH $duckToks,
         |bi AS (SELECT doc_id, tok AS w1, nt AS w2 FROM (
         |         SELECT doc_id, tok,
         |           lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nt
         |         FROM toks)
         |       WHERE nt IS NOT NULL),
         |tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bi GROUP BY 1, 2, 3),
         |cbi AS (SELECT w1, w2, sum(tf) AS c12 FROM tf GROUP BY 1, 2),
         |cw1 AS (SELECT w1, sum(c12) AS c1 FROM cbi GROUP BY 1),
         |uni AS (SELECT tok, count(*) AS cu FROM toks GROUP BY 1),
         |tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS total FROM uni),
         |lp AS (SELECT c.w1, c.w2,
         |         round(ln(0.7 * (c.c12 / cw1.c1) + 0.3 * (u.cu / tot.total)), 6) + 0
         |           AS logprob
         |       FROM cbi c JOIN cw1 USING (w1) JOIN uni u ON u.tok = c.w2, tot),
         |agg AS (SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_bigrams,
         |          sum(t.tf * lp.logprob ORDER BY t.w1 || ' ' || t.w2) AS sum_lp_raw
         |        FROM tf t JOIN lp USING (w1, w2) GROUP BY 1)
         |SELECT doc_id, n_bigrams, round(sum_lp_raw / n_bigrams, 6) + 0 AS avg_logprob
         |FROM agg""".stripMargin,
    // positional index: seq = blank-dropped token rank; an m-term
    // phrase matches where each term's postings hold (doc, seq+i)
    "phrase_search" ->
      s"""WITH $duckToks,
         |seqd AS (SELECT doc_id, tok,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS seq
         |  FROM toks),
         |m AS (SELECT a.doc_id, count(*) AS n_matches
         |      FROM seqd a
         |      JOIN seqd b ON b.doc_id = a.doc_id AND b.seq = a.seq + 1
         |       AND b.tok = 'table'
         |      JOIN seqd c ON c.doc_id = a.doc_id AND c.seq = a.seq + 2
         |       AND c.tok = 'hash'
         |      WHERE a.tok = 'stream'
         |      GROUP BY 1)
         |SELECT rank, doc_id, source, n_matches FROM (
         |  SELECT m.doc_id, m.n_matches, d.source,
         |    row_number() OVER (ORDER BY m.n_matches DESC, m.doc_id) AS rank
         |  FROM m JOIN documents d USING (doc_id))
         |WHERE rank <= 10""".stripMargin,
    // NEAR/5: postings band-join per doc on |Δseq| ≤ 5, self-pairs
    // excluded; same positional index CTE as phrase_search
    "proximity_search" ->
      s"""WITH $duckToks,
         |seqd AS (SELECT doc_id, tok,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS seq
         |  FROM toks),
         |pr AS (SELECT a.doc_id, abs(a.seq - b.seq) AS gap
         |       FROM seqd a
         |       JOIN seqd b ON b.doc_id = a.doc_id
         |        AND abs(a.seq - b.seq) <= 5 AND a.seq <> b.seq
         |       WHERE a.tok = 'stream' AND b.tok = 'hash'),
         |m AS (SELECT doc_id, count(*) AS n_pairs, min(gap) AS min_gap
         |      FROM pr GROUP BY 1)
         |SELECT rank, doc_id, source, n_pairs, min_gap FROM (
         |  SELECT m.doc_id, m.n_pairs, m.min_gap, d.source,
         |    row_number() OVER (ORDER BY m.n_pairs DESC, m.min_gap, m.doc_id) AS rank
         |  FROM m JOIN documents d USING (doc_id))
         |WHERE rank <= 10""".stripMargin,
    // prefix = first n - ceil(0.5·n) + 1 shingles in (df, shingle)
    // order; pair join on prefixes, then the shared Jaccard-verify
    // CTE chain at the same threshold
    "dedup_prefix_filter" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |sizes0 AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
         |dfreq AS (SELECT shingle, count(*) AS df FROM shd GROUP BY 1),
         |rankedp AS (SELECT s.doc_id, s.shingle, z.n,
         |    row_number() OVER (PARTITION BY s.doc_id
         |                       ORDER BY d.df, s.shingle) AS rk
         |  FROM shd s JOIN dfreq d USING (shingle) JOIN sizes0 z USING (doc_id)),
         |pref AS (SELECT doc_id, shingle FROM rankedp
         |         WHERE rk <= n - CAST(ceil(n * 0.5) AS BIGINT) + 1),
         |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           count(*) AS n_shared_prefix
         |         FROM pref a JOIN pref b USING (shingle)
         |         WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |$duckJaccardVerify
         |SELECT j.a_id, j.b_id, c.n_shared_prefix, j.inter, j.jaccard
         |FROM jac j JOIN cand c USING (a_id, b_id)
         |WHERE j.jaccard >= 0.5""".stripMargin,
    // epoch-nanos integer-divided to hour indexes (// on BIGINT on
    // both engines); grid = distinct types × generate_series
    "events_gapfill" ->
      """WITH h AS (SELECT event_type,
        |             epoch_ns(ts) // 3600000000000 AS hour_idx FROM events),
        |b AS (SELECT min(hour_idx) AS h0, max(hour_idx) AS h1 FROM h),
        |grid AS (SELECT t.event_type, g.h AS hour_idx
        |         FROM (SELECT DISTINCT event_type FROM h) t,
        |              b, unnest(generate_series(b.h0, b.h1)) g(h)),
        |c AS (SELECT event_type, hour_idx, count(*) AS n FROM h GROUP BY 1, 2)
        |SELECT g.event_type, g.hour_idx, COALESCE(c.n, CAST(0 AS BIGINT)) AS n_events
        |FROM grid g LEFT JOIN c USING (event_type, hour_idx)""".stripMargin,
    // 3 unrolled damped power-method rounds over the verified
    // near-dup graph; 0.15 is a DECIMAL literal DuckDB folds exactly,
    // mirrored by the BigDecimal-derived constant on the Spark side
    "dedup_pagerank" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify,
         |edges AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.5),
         |und AS (SELECT a_id AS src, b_id AS dst FROM edges
         |        UNION ALL SELECT b_id, a_id FROM edges),
         |deg AS (SELECT src, count(*) AS deg FROM und GROUP BY 1),
         |pr0 AS (SELECT src AS id, 1.0 AS pr FROM deg),
         |pr1 AS (SELECT u.dst AS id,
         |    round(0.15 + 0.85 * sum(p.pr / d.deg ORDER BY u.src), 6) + 0 AS pr
         |  FROM und u JOIN pr0 p ON p.id = u.src JOIN deg d ON d.src = u.src
         |  GROUP BY 1),
         |pr2 AS (SELECT u.dst AS id,
         |    round(0.15 + 0.85 * sum(p.pr / d.deg ORDER BY u.src), 6) + 0 AS pr
         |  FROM und u JOIN pr1 p ON p.id = u.src JOIN deg d ON d.src = u.src
         |  GROUP BY 1),
         |pr3 AS (SELECT u.dst AS id,
         |    round(0.15 + 0.85 * sum(p.pr / d.deg ORDER BY u.src), 6) + 0 AS pr
         |  FROM und u JOIN pr2 p ON p.id = u.src JOIN deg d ON d.src = u.src
         |  GROUP BY 1)
         |SELECT id AS doc_id, pr AS pagerank FROM pr3""".stripMargin,
    // wedge candidates from the und self-join, existing edges
    // anti-joined, per-term 6dp rounding BEFORE the mid-ordered fold
    "link_prediction" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |edges AS (SELECT x.l_partkey AS a_id, y.l_partkey AS b_id
        |          FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |            AND x.l_partkey < y.l_partkey
        |          GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT a_id AS src, b_id AS dst FROM edges
        |        UNION ALL SELECT b_id, a_id FROM edges),
        |deg AS (SELECT src, count(*) AS deg FROM und GROUP BY 1),
        |nbr AS (SELECT u.src AS mid, u.dst, d.deg
        |        FROM und u JOIN deg d USING (src)),
        |wedge AS (SELECT x.dst AS a_id, y.dst AS b_id, x.mid, x.deg
        |          FROM nbr x JOIN nbr y ON x.mid = y.mid AND x.dst < y.dst),
        |wcand AS (SELECT w.* FROM wedge w
        |         WHERE NOT EXISTS (SELECT 1 FROM edges e
        |           WHERE e.a_id = w.a_id AND e.b_id = w.b_id)),
        |sc AS (SELECT a_id, b_id, count(*) AS n_common,
        |         round(sum(round(1.0 / ln(CAST(deg AS DOUBLE)), 6) + 0
        |           ORDER BY mid), 6) + 0 AS aa_score
        |       FROM wcand GROUP BY 1, 2)
        |SELECT * FROM sc
        |ORDER BY aa_score DESC, a_id, b_id LIMIT 50""".stripMargin,
    // components via the recursive reach, canonical = (n_chars desc,
    // doc_id asc) argmax, censuses on the cluster-sized table
    "golden_record" ->
      s"""WITH RECURSIVE $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify,
         |edges AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.5),
         |und AS (SELECT a_id AS src, b_id AS dst FROM edges
         |        UNION ALL SELECT b_id, a_id FROM edges),
         |reach AS (
         |  SELECT DISTINCT src AS id, src AS r FROM und
         |  UNION
         |  SELECT u.src, reach.r FROM und u JOIN reach ON reach.id = u.dst),
         |comp AS (SELECT id AS doc_id, min(r) AS cluster_id
         |         FROM reach GROUP BY 1),
         |mem AS (SELECT c.cluster_id, d.doc_id, d.lang, d.source, d.n_chars
         |        FROM comp c JOIN documents d USING (doc_id)),
         |canon AS (SELECT cluster_id, doc_id AS canonical_doc,
         |            n_chars AS canonical_chars, source AS canonical_source
         |          FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |              ORDER BY n_chars DESC, doc_id) AS rn FROM mem)
         |          WHERE rn = 1),
         |st AS (SELECT cluster_id, count(*) AS n_members,
         |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |         min(doc_id) AS first_doc
         |       FROM mem GROUP BY 1)
         |SELECT c.cluster_id, s.n_members, c.canonical_doc,
         |  c.canonical_chars, c.canonical_source, s.n_langs, s.n_sources,
         |  s.total_chars, s.first_doc
         |FROM canon c JOIN st s USING (cluster_id)""".stripMargin,
    // 4 synchronous LPA rounds unrolled; per round: neighbor-label
    // count + (count desc, label asc) argmax — MATERIALIZED so the
    // recursion doesn't inline exponentially
    "dedup_communities" -> {
      def round(prev: String, cur: String): String =
        s"""$cur AS MATERIALIZED (
           |  SELECT dst AS id, label FROM (
           |    SELECT dst, label,
           |      row_number() OVER (PARTITION BY dst ORDER BY n DESC, label) AS rn
           |    FROM (SELECT u.dst, l.label, count(*) AS n
           |          FROM und u JOIN $prev l ON l.id = u.src GROUP BY 1, 2))
           |  WHERE rn = 1)""".stripMargin
      s"""WITH $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify,
         |edges AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.5),
         |und AS (SELECT a_id AS src, b_id AS dst FROM edges
         |        UNION ALL SELECT b_id, a_id FROM edges),
         |l0 AS (SELECT DISTINCT src AS id, src AS label FROM und),
         |${round("l0", "l1")},
         |${round("l1", "l2")},
         |${round("l2", "l3")},
         |${round("l3", "l4")}
         |SELECT id AS doc_id, label AS community FROM l4""".stripMargin
    },
    // 8 synchronous h-operator rounds unrolled (c0 = degree; per
    // round the desc-ranked neighbor values' max(min(value, rank)) —
    // MATERIALIZED so the recursion doesn't inline exponentially);
    // value-tied rank permutations can't change min(v, rank) maxima,
    // so no tie hazard crosses engines
    "dedup_kcore" -> {
      def round(prev: String, cur: String): String =
        s"""$cur AS MATERIALIZED (
           |  SELECT src AS id, CAST(max(least(nc, rn)) AS BIGINT) AS c FROM (
           |    SELECT u.src, l.c AS nc,
           |      row_number() OVER (PARTITION BY u.src
           |        ORDER BY l.c DESC, u.dst) AS rn
           |    FROM und u JOIN $prev l ON l.id = u.dst)
           |  GROUP BY src)""".stripMargin
      s"""WITH $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify,
         |edges AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.5),
         |und AS (SELECT a_id AS src, b_id AS dst FROM edges
         |        UNION ALL SELECT b_id, a_id FROM edges),
         |c0 AS MATERIALIZED (SELECT src AS id, count(*) AS c FROM und GROUP BY 1),
         |${round("c0", "c1")},
         |${round("c1", "c2")},
         |${round("c2", "c3")},
         |${round("c3", "c4")},
         |${round("c4", "c5")},
         |${round("c5", "c6")},
         |${round("c6", "c7")},
         |${round("c7", "c8")}
         |SELECT d.id AS doc_id, d.c AS degree, c8.c AS core
         |FROM c0 d JOIN c8 USING (id)""".stripMargin
    },
    // which rows rode the v1 writer is the doc_id%2 predicate, so the
    // merged-read null census replays without touching parquet
    "schema_merge" ->
      """WITH n AS (SELECT count(*) AS n_rows,
        |             CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |               AS BIGINT) AS n_even
        |           FROM documents)
        |SELECT 'lang' AS col_name, n_even AS n_null, n_rows FROM n
        |UNION ALL SELECT 'n_chars', n_even, n_rows FROM n
        |UNION ALL SELECT 'source', CAST(0 AS BIGINT), n_rows FROM n""".stripMargin,
    // running-total binning over ingest-order file metadata: group =
    // prior-bytes div target, contiguous spans by construction
    "compaction_plan" ->
      """WITH c AS (SELECT doc_id, n_chars AS bytes,
        |        COALESCE(sum(n_chars) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |      FROM documents)
        |SELECT CAST(prior AS BIGINT) // 65536 AS grp, count(*) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS bytes,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  round(CAST(sum(bytes) AS DOUBLE) / 65536.0, 6) + 0 AS fill_ratio
        |FROM c GROUP BY 1""".stripMargin,
    // natural (orderkey-range) vs time-clustered (calendar-month)
    // layouts audited under ship_d >= 1999-01-01; a skipped bin is
    // one whose max stat falls below the predicate bound
    "file_skipping" -> {
      def leg(src: String, layout: String): String =
        s"""SELECT '$layout' AS layout, count(*) AS n_bins,
           |  CAST(sum(CASE WHEN skipped THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
           |  round(CAST(sum(CASE WHEN skipped THEN 1 ELSE 0 END) AS DOUBLE)
           |        / CAST(count(*) AS DOUBLE), 6) + 0 AS bin_skip_frac,
           |  CAST(sum(n_rows) AS BIGINT) AS rows_total,
           |  CAST(sum(CASE WHEN skipped THEN n_rows ELSE 0 END) AS BIGINT)
           |    AS rows_skipped,
           |  round(CAST(sum(CASE WHEN skipped THEN n_rows ELSE 0 END) AS DOUBLE)
           |        / CAST(sum(n_rows) AS DOUBLE), 6) + 0 AS row_skip_frac,
           |  max(CASE WHEN skipped THEN n_match ELSE 0 END) = 0 AS prune_exact
           |FROM (SELECT bin, count(*) AS n_rows, max(ship_d) AS max_d,
           |        CAST(sum(CASE WHEN ship_d >= DATE '1999-01-01' THEN 1 ELSE 0 END)
           |          AS BIGINT) AS n_match,
           |        max(ship_d) < DATE '1999-01-01' AS skipped
           |      FROM $src GROUP BY 1)""".stripMargin
      s"""WITH mx AS (SELECT max(l_orderkey) AS max_key FROM lineitem),
         |nat AS (SELECT l_orderkey // ((mx.max_key // 32) + 1) AS bin,
         |          CAST(l_shipdate AS DATE) AS ship_d FROM lineitem, mx),
         |clu AS (SELECT CAST(year(CAST(l_shipdate AS DATE)) * 12
         |            + month(CAST(l_shipdate AS DATE)) AS BIGINT) AS bin,
         |          CAST(l_shipdate AS DATE) AS ship_d FROM lineitem)
         |${leg("nat", "natural")}
         |UNION ALL
         |${leg("clu", "time_clustered")}""".stripMargin
    },
    // 16-bit min/max quantization (floor before cast — Spark casts
    // truncate, DuckDB's round) + Morton bit interleave, unrolled as
    // a 16-term integer sum
    "zorder_curve" ->
      s"""WITH b AS (SELECT min(CAST(user_id AS DOUBLE)) AS amin,
         |                  max(CAST(user_id AS DOUBLE)) AS amax,
         |                  min(value) AS bmin, max(value) AS bmax FROM events),
         |q AS (SELECT event_id,
         |    least(65535, CAST(floor((CAST(user_id AS DOUBLE) - b.amin) * 65535
         |      / (b.amax - b.amin)) AS BIGINT)) AS qa,
         |    least(65535, CAST(floor((value - b.bmin) * 65535
         |      / (b.bmax - b.bmin)) AS BIGINT)) AS qb
         |  FROM events, b)
         |SELECT event_id,
         |  CAST(list_sum(list_transform(range(0, 16), i ->
         |    ((qa // CAST(power(2, i) AS BIGINT)) % 2) * CAST(power(2, 2*i+1) AS BIGINT)
         |    + ((qb // CAST(power(2, i) AS BIGINT)) % 2) * CAST(power(2, 2*i) AS BIGINT)))
         |    AS BIGINT) AS zval
         |FROM q""".stripMargin,
    // the same unrolled branch-free xy2d rounds the engine runs
    // (pure integer arithmetic — no dialect CASE), z-curve twin from
    // the zorder fragment at 8 bits; exact spans, floored micro mean.
    // 655 = 65536 div 100 — deliberately NOT 4^k-aligned (see
    // PersistOps.curveLocality)
    "curve_locality" -> {
      val bits = 8
      val n1 = (1L << bits) - 1
      val rounds = (bits - 1 to 0 by -1).zipWithIndex.map { case (i, r) =>
        val s = 1L << i
        s"""h${r + 1} AS (SELECT qx, qy,
           |  hd + ${s * s} * (3*rx + ry - 2*rx*ry) AS hd,
           |  ry*hx + (1-ry)*((1-rx)*hy + rx*($n1 - hy)) AS hx,
           |  ry*hy + (1-ry)*((1-rx)*hx + rx*($n1 - hx)) AS hy
           |FROM (SELECT *, (hx // $s) % 2 AS rx, (hy // $s) % 2 AS ry
           |      FROM h$r))""".stripMargin
      }.mkString(",\n")
      s"""WITH b AS (SELECT min(CAST(user_id AS DOUBLE)) AS amin,
         |                  max(CAST(user_id AS DOUBLE)) AS amax,
         |                  min(value) AS bmin, max(value) AS bmax FROM events),
         |q AS (SELECT
         |    least($n1, CAST(floor((CAST(user_id AS DOUBLE) - b.amin) * $n1
         |      / (b.amax - b.amin)) AS BIGINT)) AS qx,
         |    least($n1, CAST(floor((value - b.bmin) * $n1
         |      / (b.bmax - b.bmin)) AS BIGINT)) AS qy
         |  FROM events, b),
         |h0 AS (SELECT qx, qy, qx AS hx, qy AS hy, 0 AS hd FROM q),
         |$rounds,
         |cv AS (SELECT qx, qy, hd AS hval,
         |    CAST(list_sum(list_transform(range(0, $bits), i ->
         |      ((qx // CAST(power(2, i) AS BIGINT)) % 2)
         |        * CAST(power(2, 2*i+1) AS BIGINT)
         |      + ((qy // CAST(power(2, i) AS BIGINT)) % 2)
         |        * CAST(power(2, 2*i) AS BIGINT))) AS BIGINT) AS zval
         |  FROM h$bits),
         |lng AS (SELECT 'hilbert' AS curve, hval // 655 AS bin, qx, qy FROM cv
         |        UNION ALL
         |        SELECT 'zorder' AS curve, zval // 655 AS bin, qx, qy FROM cv),
         |bb AS (SELECT curve, bin, count(*) AS n_rows,
         |         max(qx) - min(qx) + 1 AS span_x,
         |         max(qy) - min(qy) + 1 AS span_y
         |       FROM lng GROUP BY 1, 2),
         |ag AS (SELECT curve, count(*) AS n_bins,
         |         CAST(sum(n_rows) AS BIGINT) AS n_rows,
         |         CAST(max(span_x * span_y) AS BIGINT) AS max_area,
         |         CAST(sum(span_x * span_y) AS BIGINT) AS area_sum
         |       FROM bb GROUP BY 1)
         |SELECT curve, n_bins, n_rows, max_area,
         |  (area_sum * 1000000 - ((area_sum * 1000000 % n_bins) + n_bins)
         |    % n_bins) // n_bins AS mean_area_micro
         |FROM ag""".stripMargin
    },
    // count-min sketch: 3 sha-salted hash rows × 64 buckets, exact
    // top-10 twin carries the one-sided estimate into the output
    // the bootstrap replayed: same hash draws, same fixed thresholds
    // (constants interpolated from SketchOps.PoissonT — single source
    // of truth), same fixed-point mean arithmetic, same order stats
    "events_bootstrap" -> {
      val t = graft.ops.SketchOps.PoissonT
      val uh = graft.functions.PortableHash.duckdbHash48(
        "'boot:' || CAST(u.r AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)")
      s"""WITH bs AS (
         |  SELECT event_type, u.r AS r,
         |    CAST(round(value * 1000000) AS BIGINT) AS v_mu,
         |    CAST($uh AS BIGINT) AS uh
         |  FROM events, unnest(range(0, 40)) u(r)),
         |wt AS (SELECT event_type, r, v_mu,
         |    CASE WHEN uh < ${t(0)} THEN 0 WHEN uh < ${t(1)} THEN 1
         |         WHEN uh < ${t(2)} THEN 2 WHEN uh < ${t(3)} THEN 3
         |         WHEN uh < ${t(4)} THEN 4 WHEN uh < ${t(5)} THEN 5
         |         ELSE 6 END AS w
         |  FROM bs),
         |m AS (SELECT event_type, r, CAST(sum(w) AS BIGINT) AS sw,
         |        CAST(sum(w * v_mu) AS BIGINT) AS swv
         |      FROM wt GROUP BY 1, 2),
         |mr AS (SELECT event_type, r,
         |         round(swv / (greatest(sw, 1) * 1000000.0), 6) + 0 AS mean_r
         |       FROM m),
         |rk AS (SELECT event_type, r, mean_r,
         |         row_number() OVER (PARTITION BY event_type
         |           ORDER BY mean_r, r) AS rn
         |       FROM mr),
         |st AS (SELECT event_type, count(*) AS n_rows,
         |         round(avg(value), 6) + 0 AS mean_value
         |       FROM events GROUP BY 1)
         |SELECT st.event_type, st.n_rows, st.mean_value,
         |       lo.mean_r AS ci_lo, hi.mean_r AS ci_hi
         |FROM st
         |JOIN (SELECT event_type, mean_r FROM rk WHERE rn = 2) lo USING (event_type)
         |JOIN (SELECT event_type, mean_r FROM rk WHERE rn = 39) hi USING (event_type)""".stripMargin
    },
    // the sketch-tier receipt: CMS error profile per width, every
    // distinct key probed, exact integer error numbers
    "cms_error_curve" -> {
      def bucketSql(j: Int, w: Int): String =
        s"SELECT user_id, exact_cnt, $j AS j, " +
          s"${duckHash24(s"'cms$j:' || CAST(user_id AS VARCHAR)")} % $w AS bucket FROM exact"
      def updSql(j: Int, w: Int): String =
        s"SELECT $j AS j, " +
          s"${duckHash24(s"'cms$j:' || CAST(user_id AS VARCHAR)")} % $w AS bucket FROM events"
      val perWidth = Seq(16, 64, 256).map { w =>
        val upd = (0 until 3).map(j => updSql(j, w)).mkString("\n    UNION ALL ")
        val probe = (0 until 3).map(j => bucketSql(j, w)).mkString("\n    UNION ALL ")
        s"""SELECT CAST($w AS BIGINT) AS width, count(*) AS n_keys,
           |  max(est - exact_cnt) AS max_overcount,
           |  CAST(sum(est - exact_cnt) AS BIGINT) AS total_overcount,
           |  CAST(min(CASE WHEN est >= exact_cnt THEN 1 ELSE 0 END) AS BOOLEAN)
           |    AS all_ge_exact
           |FROM (
           |  SELECT p.user_id, p.exact_cnt, min(c.c) AS est
           |  FROM (
           |    $probe) p
           |  JOIN (
           |    SELECT j, bucket, count(*) AS c FROM (
           |    $upd) u GROUP BY 1, 2) c USING (j, bucket)
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH exact AS MATERIALIZED (
         |  SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1)
         |$perWidth""".stripMargin
    },
    "events_heavy_hitters" -> {
      def cmsBucketSql(j: Int, src: String): String =
        s"SELECT user_id, $j AS j, " +
          s"${duckHash24(s"'cms$j:' || CAST(user_id AS VARCHAR)")} % 64 AS bucket FROM $src"
      val upd = (0 until 3).map(j => cmsBucketSql(j, "events")).mkString("\n  UNION ALL ")
      val probe = (0 until 3).map(j => cmsBucketSql(j, "top")).mkString("\n  UNION ALL ")
      s"""WITH upd AS (
         |  $upd),
         |cms AS (SELECT j, bucket, count(*) AS c FROM upd GROUP BY 1, 2),
         |exact AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1),
         |top AS (SELECT user_id, exact_cnt FROM exact
         |        ORDER BY exact_cnt DESC, user_id LIMIT 10),
         |probe AS (
         |  $probe),
         |est AS (SELECT p.user_id, min(cms.c) AS cms_est
         |        FROM probe p JOIN cms USING (j, bucket) GROUP BY 1)
         |SELECT row_number() OVER (ORDER BY t.exact_cnt DESC, t.user_id) AS rank,
         |  t.user_id, t.exact_cnt, e.cms_est,
         |  e.cms_est - t.exact_cnt AS overcount,
         |  e.cms_est >= t.exact_cnt AS est_ge_exact
         |FROM top t JOIN est e USING (user_id)""".stripMargin
    },
    // KMV: rank the distinct 48-bit hashes per type; size < k ⇒ the
    // sketch is exact, else the k-th smallest drives the estimator.
    // 63 * 2^48 < 2^63 so the numerator is Long-exact; // is DuckDB
    // integer div, the twin of Spark's `div`.
    "kmv_distinct" -> {
      val h48 = s"CAST(${graft.functions.PortableHash.duckdbHash48(
        "'kmv:' || CAST(user_id AS VARCHAR)")} AS BIGINT)"
      s"""WITH h AS (SELECT DISTINCT event_type, $h48 AS h FROM events),
         |r AS (SELECT event_type, h,
         |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         |        count(*) OVER (PARTITION BY event_type) AS nd
         |      FROM h),
         |sk AS (SELECT event_type,
         |         CASE WHEN max(nd) < 64 THEN max(nd)
         |              ELSE (63 * 281474976710656) // greatest(max(CASE WHEN rn = 64 THEN h END), 1)
         |         END AS n_kmv
         |       FROM r GROUP BY 1),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
         |       FROM events GROUP BY 1)
         |SELECT e.event_type, e.n_exact, s.n_kmv,
         |       round(abs(s.n_kmv - e.n_exact) / e.n_exact, 6) + 0 AS rel_err
         |FROM ex e JOIN sk s USING (event_type)""".stripMargin
    },
    // per-type integer-micro OLS over (day, daily mean) — the
    // zipf_fit twin per group (HUGEINT sums ⊇ the Long-exact values)
    "events_trend" ->
      """WITH daily AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS x,
        |         CAST(round(round(avg(value), 6) * 1000000) AS BIGINT) AS y6
        |       FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*) AS n_days, sum(x) AS sx, sum(y6) AS sy,
        |        sum(x * y6) AS sxy, sum(x * x) AS sxx
        |      FROM daily GROUP BY 1 HAVING count(*) >= 2)
        |SELECT event_type, n_days,
        |  round(CAST(n_days * sxy - sx * sy AS DOUBLE)
        |        / (CAST(n_days * sxx - sx * sx AS DOUBLE) * 1000000), 6) + 0 AS slope,
        |  round((CAST(sy AS DOUBLE) / 1000000
        |         - (CAST(n_days * sxy - sx * sy AS DOUBLE)
        |            / (CAST(n_days * sxx - sx * sx AS DOUBLE) * 1000000))
        |           * CAST(sx AS DOUBLE)) / n_days, 6) + 0 AS intercept
        |FROM s""".stripMargin,
    // basket = DISTINCT (user, day, type); the oracle's pair join is
    // the relational twin of the engine's map-only array pairs
    "basket_lift" ->
      """WITH b AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day,
        |         event_type
        |       FROM events),
        |nb AS (SELECT count(*) AS n_baskets FROM
        |        (SELECT DISTINCT user_id, day FROM b)),
        |s AS (SELECT event_type, count(*) AS n_single FROM b GROUP BY 1),
        |p AS (SELECT x.event_type AS a, y.event_type AS b2, count(*) AS n_ab
        |      FROM b x JOIN b y
        |        ON y.user_id = x.user_id AND y.day = x.day
        |       AND x.event_type < y.event_type
        |      GROUP BY 1, 2)
        |SELECT p.a, p.b2 AS b, p.n_ab, sa.n_single AS n_a, sb.n_single AS n_b,
        |  round(p.n_ab * CAST(nb.n_baskets AS DOUBLE)
        |        / (CAST(sa.n_single AS DOUBLE) * sb.n_single), 6) + 0 AS lift,
        |  round(p.n_ab / CAST(sa.n_single AS DOUBLE), 6) + 0 AS conf_a_to_b,
        |  round(p.n_ab / CAST(sb.n_single AS DOUBLE), 6) + 0 AS conf_b_to_a
        |FROM p
        |JOIN s sa ON sa.event_type = p.a
        |JOIN s sb ON sb.event_type = p.b2
        |CROSS JOIN nb
        |WHERE p.n_ab >= 5""".stripMargin,
    // midpoint split via integer day bounds, train-only baseline,
    // test scored through the broadcast profile
    "events_autocorr" -> {
      def lagLeg(k: Int): String =
        s"""SELECT a.event_type, CAST($k AS BIGINT) AS lag,
           |  count(*) AS n_pairs,
           |  round(sum(a.dev * b.dev ORDER BY a.day), 6) + 0 AS num
           |FROM dv a JOIN dv b ON a.event_type = b.event_type
           |  AND b.day = a.day + $k
           |GROUP BY 1""".stripMargin
      s"""WITH daily AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
         |         round(avg(value), 6) + 0 AS m
         |       FROM events GROUP BY 1, 2),
         |mn AS (SELECT event_type,
         |         round(round(sum(m ORDER BY day), 6) / count(*), 6) + 0 AS mm
         |       FROM daily GROUP BY 1),
         |dv AS (SELECT d.event_type, d.day, d.m - mn.mm AS dev
         |       FROM daily d JOIN mn USING (event_type)),
         |dn AS (SELECT event_type, round(sum(dev * dev ORDER BY day), 6) + 0 AS den
         |       FROM dv GROUP BY 1),
         |lg AS (${(1 to 7).map(lagLeg).mkString("\nUNION ALL\n")})
         |SELECT lg.event_type, lg.lag, lg.n_pairs,
         |  CASE WHEN dn.den > 0 THEN round(lg.num / dn.den, 6) + 0
         |       ELSE 0.0 END AS autocorr
         |FROM lg JOIN dn USING (event_type)""".stripMargin
    },
    // closed-form dyadic weights in HUGEINT; arg_max last day,
    // pmod-floored divisions mirror the engine exactly
    "events_ewma" ->
      """WITH daily AS (SELECT event_type,
        |         epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(round(round(avg(value), 6) * 1000000) AS BIGINT) AS mm
        |       FROM events GROUP BY 1, 2),
        |bd AS (SELECT event_type, max(day) AS d1 FROM daily GROUP BY 1),
        |rk AS (SELECT d.event_type, d.day, d.mm,
        |         row_number() OVER (PARTITION BY d.event_type
        |           ORDER BY d.day) AS t
        |       FROM daily d JOIN bd USING (event_type)
        |       WHERE d.day > bd.d1 - 32),
        |sc AS (SELECT event_type, count(*) AS n_days,
        |         CAST(sum(mm) AS HUGEINT) AS msum,
        |         sum(CAST(mm AS HUGEINT) *
        |             CASE WHEN t = 1 THEN CAST(1 AS HUGEINT)
        |                  ELSE CAST(power(2, t - 2) AS HUGEINT) END) AS scaled,
        |         arg_max(mm, t) AS last_micro
        |       FROM rk GROUP BY 1),
        |fin AS (SELECT *, CAST(power(2, n_days - 1) AS HUGEINT) AS denom
        |        FROM sc)
        |SELECT event_type, n_days, last_micro,
        |  CAST((msum - ((msum % n_days) + n_days) % n_days) // n_days
        |    AS BIGINT) AS mean_micro,
        |  CAST((scaled - ((scaled % denom) + denom) % denom) // denom
        |    AS BIGINT) AS ewma_micro
        |FROM fin""".stripMargin,
    // trig literals rendered from the engine's own tables; HUGEINT
    // energies order the dominant pick at full precision, then
    // floor-divide to BIGINT-safe energy_milli2 (< 2^53) so the
    // declared output stays inside the driver's hashable envelope
    "events_periodogram" -> {
      val trig = (for {
        ki <- graft.ops.RelationalOps.PeriodogramBins.indices
        n <- 0 until 28
      } yield s"(${graft.ops.RelationalOps.PeriodogramBins(ki)},$n," +
        s"${graft.ops.RelationalOps.pgCosMicro(ki)(n)}," +
        s"${graft.ops.RelationalOps.pgSinMicro(ki)(n)})").mkString(",")
      s"""WITH trig AS (SELECT * FROM (VALUES $trig) t(k, n, cosm, sinm)),
         |daily AS (SELECT event_type,
         |         epoch_ns(ts) // 86400000000000 AS day,
         |         CAST(round(round(avg(value), 6) * 1000000) AS BIGINT) AS mm
         |       FROM events GROUP BY 1, 2),
         |bd AS (SELECT event_type, max(day) AS d1 FROM daily GROUP BY 1),
         |win AS (SELECT d.event_type, d.mm, d.day - (bd.d1 - 27) AS n
         |        FROM daily d JOIN bd USING (event_type)
         |        WHERE d.day > bd.d1 - 28),
         |mn AS (SELECT event_type, CAST(sum(mm) AS BIGINT) AS msum,
         |         count(*) AS cnt FROM win GROUP BY 1),
         |mn2 AS (SELECT event_type,
         |          (msum - ((msum % cnt) + cnt) % cnt) // cnt AS mean_micro
         |        FROM mn),
         |dv AS (SELECT w.event_type, w.n, w.mm - m.mean_micro AS dev
         |       FROM win w JOIN mn2 m USING (event_type)),
         |cs AS (SELECT d.event_type, t.k,
         |         CAST(sum(d.dev * t.cosm) AS BIGINT) AS cmic,
         |         CAST(sum(d.dev * t.sinm) AS BIGINT) AS smic
         |       FROM dv d JOIN trig t USING (n) GROUP BY 1, 2),
         |en AS (SELECT event_type, k,
         |         (cmic - ((cmic % 1000) + 1000) % 1000) // 1000 AS cm,
         |         (smic - ((smic % 1000) + 1000) % 1000) // 1000 AS sm
         |       FROM cs),
         |ee AS (SELECT event_type, k,
         |         CAST(cm AS HUGEINT) * CAST(cm AS HUGEINT) +
         |              CAST(sm AS HUGEINT) * CAST(sm AS HUGEINT) AS energy
         |       FROM en),
         |dm AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |           ORDER BY energy DESC, k) AS rn FROM ee)
         |SELECT event_type, CAST(k AS BIGINT) AS k,
         |  CAST(28 // k AS BIGINT) AS period_days,
         |  CAST(energy // 1000000 AS BIGINT) AS energy_milli2,
         |  rn = 1 AS dominant
         |FROM dm""".stripMargin
    },
    // one window spec serves all four rank builtins; unique (mm, day)
    // ordering keeps the fractions exact rationals on both engines
    "events_rank_profile" ->
      """WITH daily AS (SELECT event_type,
        |         epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(round(round(avg(value), 6) * 1000000) AS BIGINT) AS mm
        |       FROM events GROUP BY 1, 2)
        |SELECT event_type, day, mm,
        |  round(percent_rank() OVER w, 6) + 0 AS pr,
        |  round(cume_dist() OVER w, 6) + 0 AS cd,
        |  first_value(mm) OVER wf AS first_mm,
        |  nth_value(mm, 2) OVER wf AS second_mm
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY mm, day),
        |  wf AS (PARTITION BY event_type ORDER BY mm, day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |""".stripMargin,
    // the pruning itself is a plan property (pinned in PersistOpsSpec);
    // the oracle replays the VALUES: 0.8*max literal-shaped dim filter
    "dpp_receipt" ->
      """WITH dim AS (SELECT DISTINCT event_type FROM events
        |       WHERE value >= 0.8 * (SELECT max(value) FROM events)),
        |np AS (SELECT count(DISTINCT event_type) AS n_part FROM events)
        |SELECT e.event_type, count(*) AS n_rows,
        |  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
        |    AS sum_micro,
        |  CAST(np.n_part AS BIGINT) AS n_partitions_on_disk
        |FROM events e JOIN dim USING (event_type), np
        |GROUP BY e.event_type, np.n_part""".stripMargin,
    // full-contiguous-week MA window, floored per-dow means, strength
    // = 1 - sum|resid|/sum|det| floored and clamped at 0
    "seasonal_decompose" ->
      """WITH daily AS (SELECT event_type,
        |         epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(round(round(avg(value), 6) * 1000000) AS BIGINT) AS mm
        |       FROM events GROUP BY 1, 2),
        |win AS (SELECT *,
        |         count(*) OVER w7 AS wn,
        |         max(day) OVER w7 - min(day) OVER w7 AS wspan,
        |         CAST(sum(mm) OVER w7 AS BIGINT) AS tsum
        |       FROM daily
        |       WINDOW w7 AS (PARTITION BY event_type ORDER BY day
        |         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det AS (SELECT event_type, day, mm,
        |         (tsum - ((tsum % 7) + 7) % 7) // 7 AS trend,
        |         mm - (tsum - ((tsum % 7) + 7) % 7) // 7 AS det,
        |         ((day % 7) + 7) % 7 AS dow
        |       FROM win WHERE wn = 7 AND wspan = 6),
        |seas AS (SELECT event_type, dow, count(*) AS n_days,
        |          CAST(sum(det) AS BIGINT) AS ssum
        |        FROM det GROUP BY 1, 2),
        |seas2 AS (SELECT event_type, dow, n_days,
        |           (ssum - ((ssum % n_days) + n_days) % n_days) // n_days
        |             AS seasonal_micro
        |         FROM seas),
        |st AS (SELECT d.event_type,
        |         CAST(sum(abs(d.det - s.seasonal_micro)) AS BIGINT) AS sr,
        |         CAST(sum(abs(d.det)) AS BIGINT) AS sd
        |       FROM det d JOIN seas2 s USING (event_type, dow) GROUP BY 1),
        |st2 AS (SELECT event_type,
        |          CASE WHEN sd > 0
        |            THEN greatest(0, 1000000 - (sr * 1000000) // sd) END
        |            AS strength_micro
        |        FROM st)
        |SELECT s.event_type, s.dow, s.n_days, s.seasonal_micro,
        |  t.strength_micro
        |FROM seas2 s JOIN st2 t USING (event_type)""".stripMargin,
    "forecast_interval" ->
      """WITH b AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |         (epoch_ns(ts) // 3600000000000) % 24 AS hour_of_day, value
        |       FROM events),
        |cuts AS (SELECT event_type,
        |           min(day) + (max(day) - min(day) + 1) // 3 AS cut1,
        |           min(day) + (2 * (max(day) - min(day) + 1)) // 3 AS cut2
        |         FROM b GROUP BY 1),
        |tr AS (SELECT b.* FROM b JOIN cuts USING (event_type)
        |       WHERE b.day < cuts.cut1),
        |ca AS (SELECT b.* FROM b JOIN cuts USING (event_type)
        |       WHERE b.day >= cuts.cut1 AND b.day < cuts.cut2),
        |ho AS (SELECT b.* FROM b JOIN cuts USING (event_type)
        |       WHERE b.day >= cuts.cut2),
        |pf AS (SELECT event_type, hour_of_day, round(avg(value), 6) + 0 AS baseline
        |       FROM tr GROUP BY 1, 2),
        |qs AS (SELECT c.event_type,
        |         round(quantile_cont(c.value - p.baseline, 0.05), 6) + 0 AS q05,
        |         round(quantile_cont(c.value - p.baseline, 0.95), 6) + 0 AS q95
        |       FROM ca c JOIN pf p USING (event_type, hour_of_day) GROUP BY 1)
        |SELECT h.event_type, q.q05, q.q95, count(*) AS n_eval,
        |  CAST(sum(CASE WHEN h.value - p.baseline >= q.q05
        |                 AND h.value - p.baseline <= q.q95
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
        |  round(CAST(sum(CASE WHEN h.value - p.baseline >= q.q05
        |                       AND h.value - p.baseline <= q.q95
        |                      THEN 1 ELSE 0 END) AS BIGINT)
        |        / CAST(count(*) AS DOUBLE), 6) + 0 AS coverage
        |FROM ho h JOIN pf p USING (event_type, hour_of_day)
        |JOIN qs q USING (event_type)
        |GROUP BY 1, 2, 3""".stripMargin,
    "events_forecast" ->
      """WITH b AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |         (epoch_ns(ts) // 3600000000000) % 24 AS hour_of_day, value
        |       FROM events),
        |sp AS (SELECT event_type, (min(day) + max(day) + 1) // 2 AS split_day
        |       FROM b GROUP BY 1),
        |tr AS (SELECT b.* FROM b JOIN sp USING (event_type)
        |       WHERE b.day < sp.split_day),
        |te AS (SELECT b.* FROM b JOIN sp USING (event_type)
        |       WHERE b.day >= sp.split_day),
        |pf AS (SELECT event_type, hour_of_day, round(avg(value), 6) + 0 AS baseline
        |       FROM tr GROUP BY 1, 2),
        |nt AS (SELECT event_type, count(*) AS n_train FROM tr GROUP BY 1),
        |sc AS (SELECT t.event_type, t.value - p.baseline AS resid
        |       FROM te t JOIN pf p USING (event_type, hour_of_day))
        |SELECT s.event_type, sp.split_day, nt.n_train,
        |  count(*) AS n_test,
        |  round(avg(abs(s.resid)), 6) + 0 AS mae,
        |  round(avg(s.resid), 6) + 0 AS bias
        |FROM sc s JOIN sp USING (event_type) JOIN nt USING (event_type)
        |GROUP BY 1, 2, 3""".stripMargin,
    // decomposable integer state: base/delta/full aggs on the same
    // key, merged counts and cent sums compared exactly
    "ivm_join" -> {
      def leg(pfx: String, aPred: String, bPred: String): String =
        s"""$pfx AS (SELECT o.o_orderstatus, count(*) AS ${pfx}_n,
           |    CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           |      AS ${pfx}_cents
           |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           |  WHERE $aPred AND $bPred GROUP BY 1)""".stripMargin
      s"""WITH ${leg("f", "TRUE", "TRUE")},
         |${leg("bb", "o.o_orderkey % 2 = 0", "l.l_linenumber % 2 = 0")},
         |${leg("db", "o.o_orderkey % 2 = 1", "l.l_linenumber % 2 = 0")},
         |${leg("bd", "o.o_orderkey % 2 = 0", "l.l_linenumber % 2 = 1")},
         |${leg("dd", "o.o_orderkey % 2 = 1", "l.l_linenumber % 2 = 1")}
         |SELECT f.o_orderstatus, f.f_n AS full_n, f.f_cents AS full_cents,
         |  coalesce(bb_n, 0) + coalesce(db_n, 0) + coalesce(bd_n, 0)
         |    + coalesce(dd_n, 0) AS merged_n,
         |  coalesce(bb_cents, 0) + coalesce(db_cents, 0) + coalesce(bd_cents, 0)
         |    + coalesce(dd_cents, 0) AS merged_cents,
         |  f.f_n = coalesce(bb_n, 0) + coalesce(db_n, 0) + coalesce(bd_n, 0)
         |    + coalesce(dd_n, 0)
         |  AND f.f_cents = coalesce(bb_cents, 0) + coalesce(db_cents, 0)
         |    + coalesce(bd_cents, 0) + coalesce(dd_cents, 0) AS maintained_ok
         |FROM f LEFT JOIN bb USING (o_orderstatus)
         |LEFT JOIN db USING (o_orderstatus)
         |LEFT JOIN bd USING (o_orderstatus)
         |LEFT JOIN dd USING (o_orderstatus)""".stripMargin
    },
    "ivm_agg" ->
      """WITH b AS (SELECT l_returnflag, count(*) AS base_n,
        |        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |          AS base_cents
        |      FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1),
        |d AS (SELECT l_returnflag, count(*) AS delta_n,
        |        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |          AS delta_cents
        |      FROM lineitem WHERE l_orderkey % 2 = 1 GROUP BY 1),
        |f AS (SELECT l_returnflag, count(*) AS full_n,
        |        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |          AS full_cents
        |      FROM lineitem GROUP BY 1)
        |SELECT f.l_returnflag, f.full_n, f.full_cents,
        |  coalesce(b.base_n, 0) + coalesce(d.delta_n, 0) AS merged_n,
        |  coalesce(b.base_cents, 0) + coalesce(d.delta_cents, 0) AS merged_cents,
        |  f.full_n = coalesce(b.base_n, 0) + coalesce(d.delta_n, 0)
        |    AND f.full_cents = coalesce(b.base_cents, 0) + coalesce(d.delta_cents, 0)
        |    AS maintained_ok
        |FROM f LEFT JOIN b USING (l_returnflag) LEFT JOIN d USING (l_returnflag)""".stripMargin,
    // portable-hash Bloom: per width, distinct bit positions over k
    // seeded hashes; negative probes false-positive iff all k hit
    // per-m legs share the hash; register index = top log2(m) bits,
    // rank = (48-p+1) - bitlength(remainder); alpha literals shared
    "hll_error_curve" -> {
      val h48 = s"CAST(${graft.functions.PortableHash.duckdbHash48(
        "'hll:' || CAST(user_id AS VARCHAR)")} AS BIGINT)"
      def leg(m: Int, p: Int, alpha: String): String = {
        val rbits = 48 - p
        val maxRho = rbits + 1
        val two = 1L << maxRho
        s"""SELECT CAST($m AS BIGINT) AS m_regs,
           |  CAST(n_regs AS BIGINT) AS n_regs,
           |  CAST($m - n_regs AS BIGINT) AS v0,
           |  CASE WHEN $m - n_regs > 0 AND round(CAST($alpha AS DOUBLE)
           |        * ${m.toLong * m}.0 * $two.0
           |        / CAST(sum_present + ($m - n_regs) * $two AS DOUBLE), 6) + 0
           |        <= ${2.5 * m}
           |       THEN round(ln($m.0 / CAST($m - n_regs AS DOUBLE)) * $m.0, 6) + 0
           |       ELSE round(CAST($alpha AS DOUBLE) * ${m.toLong * m}.0 * $two.0
           |        / CAST(sum_present + ($m - n_regs) * $two AS DOUBLE), 6) + 0
           |  END AS n_hll,
           |  (SELECT n_exact FROM ex) AS n_exact,
           |  round(abs(CASE WHEN $m - n_regs > 0 AND round(CAST($alpha AS DOUBLE)
           |        * ${m.toLong * m}.0 * $two.0
           |        / CAST(sum_present + ($m - n_regs) * $two AS DOUBLE), 6) + 0
           |        <= ${2.5 * m}
           |       THEN round(ln($m.0 / CAST($m - n_regs AS DOUBLE)) * $m.0, 6) + 0
           |       ELSE round(CAST($alpha AS DOUBLE) * ${m.toLong * m}.0 * $two.0
           |        / CAST(sum_present + ($m - n_regs) * $two AS DOUBLE), 6) + 0 END
           |     - CAST((SELECT n_exact FROM ex) AS DOUBLE))
           |     / CAST((SELECT n_exact FROM ex) AS DOUBLE), 6) + 0 AS rel_err
           |FROM (
           |  SELECT count(*) AS n_regs,
           |    CAST(sum(CAST(1 AS BIGINT) << CAST($maxRho - m_j AS INTEGER))
           |      AS BIGINT) AS sum_present
           |  FROM (SELECT idx, CAST(max(rho) AS BIGINT) AS m_j FROM (
           |          SELECT h // ${1L << rbits} AS idx,
           |            CASE WHEN h % ${1L << rbits} = 0 THEN $maxRho
           |                 ELSE $maxRho - length(bin(h % ${1L << rbits})) END AS rho
           |          FROM hh) GROUP BY 1))""".stripMargin
      }
      s"""WITH hh AS (SELECT DISTINCT $h48 AS h FROM events),
         |ex AS (SELECT count(DISTINCT user_id) AS n_exact FROM events)
         |${leg(16, 4, "0.673")}
         |UNION ALL
         |${leg(64, 6, "0.709")}
         |UNION ALL
         |${leg(256, 8, "0.7182725932495458")}""".stripMargin
    },
    // every stage a pinned kernel's CTE, the composition pinned:
    // curation gate, min-id exact dedup, b_id near-dup drop
    "pretrain_pipeline" ->
      s"""WITH $duckToks,
         |$duckQualityCtes,
         |$duckLangCtes,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify,
         |tc AS (SELECT doc_id,
         |  CAST(len(list_filter(list_transform(string_split(text, ' '),
         |                                      t -> trim(t)),
         |                       t -> t <> '')) AS BIGINT) AS n_tok
         |  FROM documents),
         |cur AS (SELECT qual.doc_id
         |        FROM qual JOIN lang USING (doc_id) JOIN tc USING (doc_id)
         |        WHERE lang.predicted_lang = 'en' AND qual.quality >= 0.5
         |          AND tc.n_tok BETWEEN 5 AND 100000),
         |ex AS (SELECT min(d.doc_id) AS doc_id
         |       FROM documents d JOIN cur ON cur.doc_id = d.doc_id
         |       GROUP BY d.text),
         |dr AS (SELECT DISTINCT b_id AS doc_id FROM jac WHERE jaccard >= 0.5),
         |ne AS (SELECT doc_id FROM ex
         |       WHERE doc_id NOT IN (SELECT doc_id FROM dr))
         |SELECT CAST(1 AS BIGINT) AS stage, 'raw' AS stage_name,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM tc
         |UNION ALL
         |SELECT 2, 'curated', count(*), CAST(sum(n_tok) AS BIGINT)
         |FROM cur JOIN tc USING (doc_id)
         |UNION ALL
         |SELECT 3, 'exact_dedup', count(*), CAST(sum(n_tok) AS BIGINT)
         |FROM ex JOIN tc USING (doc_id)
         |UNION ALL
         |SELECT 4, 'near_dedup', count(*), CAST(sum(n_tok) AS BIGINT)
         |FROM ne JOIN tc USING (doc_id)""".stripMargin,
    // same six training rounds; decoded word = separators stripped;
    // full-outer reconciliation against the tokenize census
    "tokenizer_roundtrip" ->
      s"""WITH $duckToks,
         |w1 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS wc,
         |    array_to_string(list_transform(range(1, length(tok) + 1),
         |                                   i -> tok[i:i]), '  ') AS syms
         |  FROM toks GROUP BY tok),
         |${(1 to 6).map(duckBpeRound).mkString(",\n")},
         |cen AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1),
         |dec AS (SELECT replace(syms, '  ', '') AS tok, wc FROM w7),
         |j AS (SELECT cen.n, dec.wc
         |      FROM cen FULL OUTER JOIN dec USING (tok))
         |SELECT count(*) AS n_words,
         |  CAST(sum(CASE WHEN n = wc THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_roundtrip_ok,
         |  CAST(sum(CASE WHEN n IS NULL OR wc IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_unmatched,
         |  CAST(sum(CASE WHEN n = wc THEN 1 ELSE 0 END) AS BIGINT) = count(*)
         |    AS all_ok
         |FROM j""".stripMargin,
    // shared bin edges from global bounds; per-half CDFs carried
    // forward over the union of occupied bins; KS = max CDF gap
    "value_drift" ->
      """WITH b AS (SELECT min(epoch_ns(ts) // 86400000000000) AS d0,
        |             max(epoch_ns(ts) // 86400000000000) AS d1,
        |             min(value) AS vmin, max(value) AS vmax FROM events),
        |h AS (SELECT event_type,
        |        CASE WHEN epoch_ns(ts) // 86400000000000
        |                  < (b.d0 + b.d1 + 1) // 2
        |             THEN 'early' ELSE 'late' END AS half,
        |        least(63, CAST(floor((value - b.vmin) * 64
        |          / greatest(b.vmax - b.vmin, 1e-12)) AS BIGINT)) AS bin
        |      FROM events, b),
        |c AS (SELECT event_type, half, bin, count(*) AS c FROM h
        |      GROUP BY 1, 2, 3),
        |cd AS (SELECT *, sum(c) OVER (PARTITION BY event_type, half) AS n_half,
        |         sum(c) OVER (PARTITION BY event_type, half ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |       FROM c),
        |e AS (SELECT event_type, bin, cum AS cum_e, n_half AS n_e
        |      FROM cd WHERE half = 'early'),
        |l AS (SELECT event_type, bin, cum AS cum_l, n_half AS n_l
        |      FROM cd WHERE half = 'late'),
        |j AS (SELECT COALESCE(e.event_type, l.event_type) AS event_type,
        |        COALESCE(e.bin, l.bin) AS bin, e.cum_e, e.n_e, l.cum_l, l.n_l
        |      FROM e FULL OUTER JOIN l
        |        ON l.event_type = e.event_type AND l.bin = e.bin),
        |f AS (SELECT event_type,
        |        last_value(cum_e IGNORE NULLS) OVER w AS ce,
        |        last_value(cum_l IGNORE NULLS) OVER w AS cl,
        |        max(n_e) OVER (PARTITION BY event_type) AS ne,
        |        max(n_l) OVER (PARTITION BY event_type) AS nl
        |      FROM j
        |      WINDOW w AS (PARTITION BY event_type ORDER BY bin
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (SELECT event_type,
        |        CAST(COALESCE(max(ne), 0) AS BIGINT) AS n_early,
        |        CAST(COALESCE(max(nl), 0) AS BIGINT) AS n_late,
        |        round(max(abs(COALESCE(ce, 0) / CAST(ne AS DOUBLE)
        |          - COALESCE(cl, 0) / CAST(nl AS DOUBLE))), 6) + 0 AS ks_stat
        |      FROM f GROUP BY 1)
        |SELECT event_type, n_early, n_late, ks_stat,
        |  n_early > 0 AND n_late > 0 AS comparable,
        |  CASE WHEN n_early > 0 AND n_late > 0
        |    THEN round(CAST(1.358 AS DOUBLE)
        |        * sqrt(CAST(n_early + n_late AS DOUBLE)
        |          / (CAST(n_early AS DOUBLE) * CAST(n_late AS DOUBLE))), 6) + 0
        |    END AS ks_crit,
        |  CASE WHEN n_early > 0 AND n_late > 0
        |    THEN ks_stat > round(CAST(1.358 AS DOUBLE)
        |        * sqrt(CAST(n_early + n_late AS DOUBLE)
        |          / (CAST(n_early AS DOUBLE) * CAST(n_late AS DOUBLE))), 6) + 0
        |    END AS drifted
        |FROM g""".stripMargin,
    // per-type contributions + one chi2/df/crit row broadcast back
    "mix_drift" ->
      """WITH b AS (SELECT min(epoch_ns(ts) // 86400000000000) AS d0,
        |             max(epoch_ns(ts) // 86400000000000) AS d1 FROM events),
        |c AS (SELECT event_type,
        |        CASE WHEN epoch_ns(ts) // 86400000000000
        |                  < (b.d0 + b.d1 + 1) // 2
        |             THEN 'early' ELSE 'late' END AS half
        |      FROM events, b),
        |w AS (SELECT event_type,
        |        CAST(sum(CASE WHEN half = 'early' THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_early,
        |        CAST(sum(CASE WHEN half = 'late' THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_late
        |      FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(n_early) AS BIGINT) AS te,
        |        CAST(sum(n_late) AS BIGINT) AS tl FROM w),
        |k AS (SELECT w.*, round(CAST(n_early AS DOUBLE) / CAST(te AS DOUBLE)
        |          * CAST(tl AS DOUBLE), 6) + 0 AS exp_late FROM w, t),
        |k2 AS (SELECT *, round((CAST(n_late AS DOUBLE) - exp_late)
        |          * (CAST(n_late AS DOUBLE) - exp_late) / exp_late, 6) + 0
        |          AS contrib FROM k),
        |ch AS (SELECT round(sum(contrib ORDER BY event_type), 6) + 0 AS chi2,
        |         CAST(count(*) - 1 AS BIGINT) AS df FROM k2),
        |ch2 AS (SELECT chi2, df,
        |          CAST(CASE df WHEN 1 THEN 3.841 WHEN 2 THEN 5.991
        |               WHEN 3 THEN 7.815 WHEN 4 THEN 9.488 WHEN 5 THEN 11.07
        |               WHEN 6 THEN 12.592 WHEN 7 THEN 14.067
        |               WHEN 8 THEN 15.507 END AS DOUBLE) AS chi2_crit_95
        |        FROM ch)
        |SELECT k2.event_type, k2.n_early, k2.n_late, k2.exp_late, k2.contrib,
        |  ch2.chi2, ch2.df, ch2.chi2_crit_95,
        |  ch2.chi2 > ch2.chi2_crit_95 AS drifted
        |FROM k2, ch2""".stripMargin,
    // fixed-point per-dim means per id-half, dim-ordered L2 fold
    "embedding_drift" ->
      """WITH m AS (SELECT (max(vec_id) + 1) // 2 AS mid FROM embeddings),
        |x AS (SELECT CASE WHEN vec_id < m.mid THEN 'a' ELSE 'b' END AS half,
        |        CAST(u.ii - 1 AS BIGINT) AS dim,
        |        CAST(round(CAST(embedding[u.ii] AS DOUBLE) * 1000000) AS BIGINT)
        |          AS x6
        |      FROM embeddings, m, unnest(range(1, len(embedding) + 1)) u(ii)),
        |mu AS (SELECT half, dim, CAST(round(avg(x6)) AS BIGINT) AS mu6,
        |         count(*) AS n
        |       FROM x GROUP BY 1, 2),
        |a AS (SELECT dim, mu6 AS ma, n AS na FROM mu WHERE half = 'a'),
        |b2 AS (SELECT dim, mu6 AS mb, n AS nb FROM mu WHERE half = 'b')
        |SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |  round(sqrt(sum((CAST(ma - mb AS DOUBLE) / 1000000.0)
        |    * (CAST(ma - mb AS DOUBLE) / 1000000.0) ORDER BY dim)), 6) + 0
        |    AS centroid_l2,
        |  round(CAST(max(abs(ma - mb)) AS DOUBLE) / 1000000.0, 6) + 0
        |    AS max_dim_shift
        |FROM a JOIN b2 USING (dim)""".stripMargin,
    // running max end over earlier rows opens/extends islands; two
    // user-keyed aggs fold islands to minutes
    "active_time" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS tsn, event_id,
        |             epoch_ns(ts) + 600000000000 AS iv_end FROM events),
        |m AS (SELECT *, max(iv_end) OVER (PARTITION BY user_id
        |         ORDER BY tsn, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM e),
        |f AS (SELECT *, CASE WHEN prev_end IS NULL OR tsn > prev_end
        |                     THEN 1 ELSE 0 END AS new_island FROM m),
        |i AS (SELECT *, CAST(sum(new_island) OVER (PARTITION BY user_id
        |         ORDER BY tsn, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS island
        |      FROM f),
        |g AS (SELECT user_id, island, min(tsn) AS start_ts,
        |        max(iv_end) AS end_ts
        |      FROM i GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(end_ts - start_ts) AS BIGINT) // 60000000000 AS active_min
        |FROM g GROUP BY 1""".stripMargin,
    // first view -> first subsequent purchase per user, integer
    // minutes on the nanos axis
    "funnel_latency" ->
      """WITH v AS (SELECT user_id, min(epoch_ns(ts)) AS first_view
        |           FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT p.user_id, v.first_view,
        |        min(epoch_ns(p.ts)) AS first_purchase
        |      FROM events p JOIN v USING (user_id)
        |      WHERE p.event_type = 'purchase'
        |        AND epoch_ns(p.ts) >= v.first_view
        |      GROUP BY 1, 2),
        |l AS (SELECT (first_purchase - first_view) // 60000000000 AS latency_min
        |      FROM c)
        |SELECT count(*) AS n_converted,
        |  round(quantile_cont(latency_min, 0.5), 6) + 0 AS p50_min,
        |  round(quantile_cont(latency_min, 0.95), 6) + 0 AS p95_min,
        |  CAST(max(latency_min) AS BIGINT) AS max_min
        |FROM l""".stripMargin,
    // retained-set intersection under the shared theta; under-filled
    // sides contribute theta = 2^48 (they are their full sets)
    "kmv_intersect" -> {
      val h48 = s"CAST(${graft.functions.PortableHash.duckdbHash48(
        "'kmv:' || CAST(user_id AS VARCHAR)")} AS BIGINT)"
      s"""WITH ua AS (SELECT DISTINCT user_id FROM events
         |            WHERE event_type = 'view'),
         |ub AS (SELECT DISTINCT user_id FROM events
         |       WHERE event_type = 'purchase'),
         |ha AS (SELECT $h48 AS h FROM ua),
         |hb AS (SELECT $h48 AS h FROM ub),
         |ra AS (SELECT h, row_number() OVER (ORDER BY h) AS rn,
         |         count(*) OVER () AS n FROM ha),
         |rb AS (SELECT h, row_number() OVER (ORDER BY h) AS rn,
         |         count(*) OVER () AS n FROM hb),
         |ska AS (SELECT h FROM ra WHERE rn <= 64),
         |skb AS (SELECT h FROM rb WHERE rn <= 64),
         |ta AS (SELECT CASE WHEN max(n) < 64 THEN 281474976710656
         |              ELSE max(CASE WHEN rn = 64 THEN h END) END AS th FROM ra),
         |tb AS (SELECT CASE WHEN max(n) < 64 THEN 281474976710656
         |              ELSE max(CASE WHEN rn = 64 THEN h END) END AS th FROM rb),
         |th AS (SELECT least(ta.th, tb.th) AS theta FROM ta, tb),
         |si AS (SELECT count(*) AS n_si FROM ska JOIN skb USING (h), th
         |       WHERE ska.h < th.theta),
         |ex AS (SELECT count(*) AS n_exact_inter FROM ua JOIN ub USING (user_id))
         |SELECT ex.n_exact_inter, th.theta, CAST(si.n_si AS BIGINT) AS n_si,
         |  (si.n_si * 281474976710656) // th.theta AS n_inter_est,
         |  round(abs((si.n_si * 281474976710656) // th.theta - ex.n_exact_inter)
         |        / CAST(greatest(ex.n_exact_inter, 1) AS DOUBLE), 6) + 0 AS rel_err
         |FROM ex, th, si""".stripMargin
    },
    // same portable bit table, applied as a pre-join probe filter
    "bloom_join" -> {
      def posExpr(j: Int, key: String) =
        s"CAST(${graft.functions.PortableHash.duckdbHash24(s"'bj$j:' || $key")} % 4096 AS BIGINT)"
      val bitsSel = (0 until 3).map(j =>
        s"SELECT DISTINCT ${posExpr(j, "b.key")} AS pos FROM bk b").mkString(" UNION ")
      val probeSel = (0 until 3).map(j =>
        s"SELECT o.o_orderkey, o.o_custkey, $j AS j, " +
          s"${posExpr(j, "CAST(o.o_custkey AS VARCHAR)")} AS pos FROM orders o")
        .mkString(" UNION ALL ")
      s"""WITH br AS (SELECT c_custkey FROM customer
         |            WHERE c_mktsegment = 'BUILDING'),
         |bk AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS key FROM br),
         |bt AS ($bitsSel),
         |ps AS (SELECT pr.o_orderkey, pr.o_custkey FROM ($probeSel) pr
         |       JOIN bt USING (pos)
         |       GROUP BY 1, 2 HAVING count(DISTINCT pr.j) = 3)
         |SELECT (SELECT count(*) FROM bk) AS n_build_keys,
         |  (SELECT count(*) FROM bt) AS n_bits_set,
         |  (SELECT count(*) FROM orders) AS n_probe_rows,
         |  (SELECT count(*) FROM ps) AS n_pass,
         |  round((SELECT count(*) FROM ps)
         |        / CAST((SELECT count(*) FROM orders) AS DOUBLE), 6) + 0
         |    AS pass_frac,
         |  (SELECT count(*) FROM orders o JOIN br
         |     ON o.o_custkey = br.c_custkey) AS n_join_rows,
         |  (SELECT count(*) FROM ps p JOIN br ON p.o_custkey = br.c_custkey)
         |    = (SELECT count(*) FROM orders o JOIN br
         |         ON o.o_custkey = br.c_custkey) AS join_unchanged""".stripMargin
    },
    "bloom_fpr_curve" -> {
      def posExpr(j: Int, key: String, m: Int) =
        s"CAST(${graft.functions.PortableHash.duckdbHash24(s"'bf$j:' || $key")} % $m AS BIGINT)"
      val widths = Seq(256, 1024, 4096)
      widths.map { m =>
        val bitsSel = (0 until 3).map(j =>
          s"SELECT DISTINCT ${posExpr(j, "k.key", m)} AS pos FROM ks k").mkString(" UNION ")
        val probeSel = (0 until 3).map(j =>
          s"SELECT p.key, $j AS j, ${posExpr(j, "p.key", m)} AS pos FROM pk p")
          .mkString(" UNION ALL ")
        s"""SELECT CAST($m AS BIGINT) AS m_bits,
           |  (SELECT count(*) FROM ks) AS n_inserted,
           |  (SELECT count(*) FROM ($bitsSel)) AS n_bits_set,
           |  CAST(2000 AS BIGINT) AS n_probed,
           |  (SELECT count(*) FROM (
           |     SELECT pr.key FROM ($probeSel) pr
           |     JOIN ($bitsSel) bt USING (pos)
           |     GROUP BY pr.key HAVING count(DISTINCT pr.j) = 3)) AS n_false_pos,
           |  round((SELECT count(*) FROM (
           |     SELECT pr.key FROM ($probeSel) pr
           |     JOIN ($bitsSel) bt USING (pos)
           |     GROUP BY pr.key HAVING count(DISTINCT pr.j) = 3)) / 2000.0, 6) + 0
           |    AS fpr,
           |  round(power(1.0 - power(1.0 - 1.0 / $m,
           |        (SELECT count(*) FROM ks) * 3), 3.0), 6) + 0 AS theory_fpr""".stripMargin
      }.mkString(
        "WITH ks AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events),\n" +
          "pk AS (SELECT 'neg:' || CAST(u.i AS VARCHAR) AS key\n" +
          "       FROM unnest(range(0, 2000)) u(i))\n",
        "\nUNION ALL\n", "")
    },
    // daily means rounded once; period mean from the day-ordered
    // fold; frame-ordered running CUSUM; argmax on rounded |cusum|
    "events_changepoint" ->
      """WITH daily AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |         round(avg(value), 6) + 0 AS m
        |       FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, count(*) AS n_days,
        |        round(sum(m ORDER BY day), 6) + 0 AS sm
        |      FROM daily GROUP BY 1),
        |p2 AS (SELECT event_type, n_days, round(sm / n_days, 6) + 0 AS mm FROM p),
        |c AS (SELECT d.event_type, p2.n_days, d.day,
        |        round(abs(sum(d.m - p2.mm) OVER (PARTITION BY d.event_type
        |          ORDER BY d.day ROWS UNBOUNDED PRECEDING)), 6) + 0 AS abs_cusum
        |      FROM daily d JOIN p2 USING (event_type))
        |SELECT event_type, n_days, day AS cp_day, abs_cusum AS max_abs_cusum
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY abs_cusum DESC, day) AS rn FROM c)
        |WHERE rn = 1""".stripMargin,
    // per-side CMS cells from the shared bucket hash, cell-aligned
    // HUGEINT inner product, min over rows; exact join twin beside it
    "join_size_sketch" -> {
      def side(cte: String, src: String, key: String) = {
        val h = graft.functions.PortableHash.duckdbHash24(
          s"'cms' || CAST(jj.j AS VARCHAR) || ':' || CAST($key AS VARCHAR)")
        s"""${cte}0 AS (SELECT jj.j, CAST($h % 64 AS BIGINT) AS bucket
           |       FROM $src, (SELECT unnest([0, 1, 2]) AS j) jj),
           |$cte AS (SELECT j, bucket, count(*) AS c_$cte FROM ${cte}0 GROUP BY 1, 2)"""
          .stripMargin
      }
      s"""WITH ${side("ca", "orders", "o_custkey")},
         |${side("cb", "customer", "c_custkey")},
         |${side("cc", "lineitem", "l_orderkey")},
         |${side("cd", "orders", "o_orderkey")},
         |d1 AS (SELECT a.j, sum(CAST(a.c_ca AS HUGEINT) * b.c_cb) AS dot
         |       FROM ca a JOIN cb b USING (j, bucket) GROUP BY 1),
         |e1 AS (SELECT CAST(min(dot) AS BIGINT) AS cms_est FROM d1),
         |x1 AS (SELECT count(*) AS exact_size FROM orders o
         |       JOIN customer c ON c.c_custkey = o.o_custkey),
         |d2 AS (SELECT a.j, sum(CAST(a.c_cc AS HUGEINT) * b.c_cd) AS dot
         |       FROM cc a JOIN cd b USING (j, bucket) GROUP BY 1),
         |e2 AS (SELECT CAST(min(dot) AS BIGINT) AS cms_est FROM d2),
         |x2 AS (SELECT count(*) AS exact_size FROM lineitem l
         |       JOIN orders o ON o.o_orderkey = l.l_orderkey)
         |SELECT 'orders_customer' AS join_name, x1.exact_size, e1.cms_est,
         |  e1.cms_est - x1.exact_size AS overcount,
         |  e1.cms_est >= x1.exact_size AS est_ge_exact
         |FROM x1, e1
         |UNION ALL
         |SELECT 'lineitem_orders', x2.exact_size, e2.cms_est,
         |  e2.cms_est - x2.exact_size, e2.cms_est >= x2.exact_size
         |FROM x2, e2""".stripMargin
    },
    // day-wise bottom-k tiers replayed by rank windows; merged list
    // vs whole-period list compared element-for-element
    "kmv_union" -> {
      val h48 = s"CAST(${graft.functions.PortableHash.duckdbHash48(
        "'kmv:' || CAST(user_id AS VARCHAR)")} AS BIGINT)"
      s"""WITH h AS (SELECT DISTINCT event_type,
         |        epoch_ns(ts) // 86400000000000 AS day, $h48 AS h
         |      FROM events),
         |rd AS (SELECT event_type, day, h,
         |         row_number() OVER (PARTITION BY event_type, day ORDER BY h) AS rn
         |       FROM h),
         |dsk AS (SELECT event_type, day, h FROM rd WHERE rn <= 64),
         |nd AS (SELECT event_type, count(DISTINCT day) AS n_days FROM h GROUP BY 1),
         |rm AS (SELECT event_type, h,
         |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |       FROM (SELECT DISTINCT event_type, h FROM dsk)),
         |msk AS (SELECT event_type, list(h ORDER BY h) AS ml FROM rm
         |        WHERE rn <= 64 GROUP BY 1),
         |rw AS (SELECT event_type, h,
         |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |       FROM (SELECT DISTINCT event_type, h FROM h)),
         |wsk AS (SELECT event_type, list(h ORDER BY h) AS wl FROM rw
         |        WHERE rn <= 64 GROUP BY 1)
         |SELECT m.event_type, d.n_days,
         |  CAST(len(m.ml) AS BIGINT) AS size_merged,
         |  CAST(len(w.wl) AS BIGINT) AS size_whole,
         |  m.ml = w.wl AS merged_eq_whole,
         |  CASE WHEN len(m.ml) < 64 THEN CAST(len(m.ml) AS BIGINT)
         |       ELSE (63 * 281474976710656) // greatest(m.ml[64], 1)
         |  END AS n_kmv
         |FROM msk m JOIN wsk w USING (event_type) JOIN nd d USING (event_type)""".stripMargin
    },
    // portable HLL: hash48 → idx = top 6 bits, rho = 43 − bitlength of
    // the 42-bit remainder (integer bin-length, no float log2); Z's
    // reciprocal sum as the exact 2^(43−M) numerator; branch on the
    // once-rounded raw estimate so both engines take the same arm
    "hll_distinct" -> {
      val h48 = s"CAST(${graft.functions.PortableHash.duckdbHash48(
        "'hll:' || CAST(user_id AS VARCHAR)")} AS BIGINT)"
      s"""WITH hh AS (SELECT DISTINCT event_type, $h48 AS h FROM events),
         |rr AS (SELECT event_type, h // 4398046511104 AS idx,
         |         h % 4398046511104 AS r2 FROM hh),
         |rho AS (SELECT event_type, idx,
         |          CASE WHEN r2 = 0 THEN 43 ELSE 43 - length(bin(r2)) END AS rho
         |        FROM rr),
         |regs AS (SELECT event_type, idx, CAST(max(rho) AS BIGINT) AS m_j
         |         FROM rho GROUP BY 1, 2),
         |ag AS (SELECT event_type, count(*) AS n_regs,
         |         CAST(sum(CAST(1 AS BIGINT) << CAST(43 - m_j AS INTEGER)) AS BIGINT)
         |           AS sum_present
         |       FROM regs GROUP BY 1),
         |e2 AS (SELECT event_type, CAST(n_regs AS BIGINT) AS n_regs,
         |         CAST(64 - n_regs AS BIGINT) AS v0,
         |         round(CAST(0.709 AS DOUBLE) * 4096.0 * 8796093022208.0 /
         |           CAST(sum_present + (64 - n_regs) * 8796093022208 AS DOUBLE), 6) + 0
         |           AS est_raw
         |       FROM ag),
         |fin AS (SELECT event_type, n_regs, v0,
         |          CASE WHEN v0 > 0 AND est_raw <= 160.0
         |               THEN round(ln(64.0 / CAST(v0 AS DOUBLE)) * 64.0, 6) + 0
         |               ELSE est_raw END AS n_hll
         |        FROM e2),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
         |       FROM events GROUP BY 1)
         |SELECT x.event_type, x.n_exact, f.n_regs, f.v0, f.n_hll,
         |  round(abs(f.n_hll - CAST(x.n_exact AS DOUBLE))
         |        / CAST(x.n_exact AS DOUBLE), 6) + 0 AS rel_err
         |FROM ex x JOIN fin f USING (event_type)""".stripMargin
    },
    // HLL mergeability: per-day register tables max-merged must equal
    // the whole-stream register table (idx-sorted struct lists), with
    // the merged-register estimate beside it
    "hll_union" -> {
      val h48 = s"CAST(${graft.functions.PortableHash.duckdbHash48(
        "'hll:' || CAST(user_id AS VARCHAR)")} AS BIGINT)"
      s"""WITH hh AS (SELECT DISTINCT event_type,
         |        epoch_ns(ts) // 86400000000000 AS day, $h48 AS h FROM events),
         |rr AS (SELECT event_type, day, h // 4398046511104 AS idx,
         |         h % 4398046511104 AS r2 FROM hh),
         |rho AS (SELECT event_type, day, idx,
         |          CASE WHEN r2 = 0 THEN 43 ELSE 43 - length(bin(r2)) END AS rho
         |        FROM rr),
         |pd AS (SELECT event_type, day, idx, CAST(max(rho) AS BIGINT) AS m_j
         |       FROM rho GROUP BY 1, 2, 3),
         |mg AS (SELECT event_type, idx, max(m_j) AS m_j FROM pd GROUP BY 1, 2),
         |wh AS (SELECT event_type, idx, CAST(max(rho) AS BIGINT) AS m_j
         |       FROM rho GROUP BY 1, 2),
         |nd AS (SELECT event_type, count(DISTINCT day) AS n_days FROM hh GROUP BY 1),
         |ma AS (SELECT event_type,
         |         list(struct_pack(idx := idx, m_j := m_j) ORDER BY idx) AS rm
         |       FROM mg GROUP BY 1),
         |wa AS (SELECT event_type,
         |         list(struct_pack(idx := idx, m_j := m_j) ORDER BY idx) AS rw
         |       FROM wh GROUP BY 1),
         |ag AS (SELECT event_type, count(*) AS n_regs,
         |         CAST(sum(CAST(1 AS BIGINT) << CAST(43 - m_j AS INTEGER)) AS BIGINT)
         |           AS sum_present
         |       FROM mg GROUP BY 1),
         |e2 AS (SELECT event_type, CAST(64 - n_regs AS BIGINT) AS v0,
         |         round(CAST(0.709 AS DOUBLE) * 4096.0 * 8796093022208.0 /
         |           CAST(sum_present + (64 - n_regs) * 8796093022208 AS DOUBLE), 6) + 0
         |           AS est_raw
         |       FROM ag),
         |fin AS (SELECT event_type,
         |          CASE WHEN v0 > 0 AND est_raw <= 160.0
         |               THEN round(ln(64.0 / CAST(v0 AS DOUBLE)) * 64.0, 6) + 0
         |               ELSE est_raw END AS n_hll
         |        FROM e2)
         |SELECT m.event_type, d.n_days,
         |  CAST(len(m.rm) AS BIGINT) AS n_regs_merged,
         |  m.rm = w.rw AS merged_eq_whole, f.n_hll
         |FROM ma m JOIN wa w USING (event_type) JOIN nd d USING (event_type)
         |JOIN fin f USING (event_type)""".stripMargin
    },
    // single-statement census per column, unioned long-format
    "table_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map(c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  round(CAST(min($c) AS DOUBLE), 6) + 0 AS min_v,
           |  round(CAST(max($c) AS DOUBLE), 6) + 0 AS max_v
           |FROM lineitem""".stripMargin).mkString("\nUNION ALL\n")
    },
    // one SELECT per constraint; FK checks via left-join null probe
    "dq_checks" ->
      """SELECT 'fk_orders_customer' AS "check", count(*) AS n_checked,
        |  CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violations,
        |  sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS pass
        |FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |  ON c.c_custkey = o.o_custkey
        |UNION ALL
        |SELECT 'fk_lineitem_orders', count(*),
        |  CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) = 0
        |FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |  ON o.o_orderkey = l.l_orderkey
        |UNION ALL
        |SELECT 'unique_customer_key', count(*),
        |  count(*) - count(DISTINCT c_custkey),
        |  count(*) - count(DISTINCT c_custkey) = 0
        |FROM customer
        |UNION ALL
        |SELECT 'range_l_discount', count(*),
        |  CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
        |       AS BIGINT),
        |  sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) = 0
        |FROM lineitem
        |UNION ALL
        |SELECT 'positive_l_quantity', count(*),
        |  CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT),
        |  sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) = 0
        |FROM lineitem
        |UNION ALL
        |SELECT 'nonnull_o_orderdate', count(*),
        |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) = 0
        |FROM orders""".stripMargin,
    // bottom-k pair sketch: DISTINCT (h, v_mu) pairs ranked by (h, v)
    // are the sample (the aggregator's exact contract); type-1 ranks
    // via integer (n*pct + 99) // 100 on both engines
    "quantile_sketch" -> {
      val h48 = s"CAST(${graft.functions.PortableHash.duckdbHash48(
        "'qsk:' || CAST(event_id AS VARCHAR)")} AS BIGINT)"
      s"""WITH hv AS (SELECT event_type, event_id,
         |        CAST(round(value * 1000000) AS BIGINT) AS v_mu, $h48 AS h
         |      FROM events),
         |p AS (SELECT CAST(unnest([25, 50, 75, 95]) AS BIGINT) AS pct),
         |ex0 AS (SELECT event_type, v_mu,
         |          row_number() OVER (PARTITION BY event_type
         |            ORDER BY v_mu, event_id) AS rn,
         |          count(*) OVER (PARTITION BY event_type) AS n_rows
         |        FROM hv),
         |ex AS (SELECT e.event_type, p.pct, e.n_rows, e.v_mu AS exact_mu
         |       FROM ex0 e JOIN p
         |         ON e.rn = greatest(1, (e.n_rows * p.pct + 99) // 100)),
         |sr AS (SELECT event_type, v_mu,
         |         row_number() OVER (PARTITION BY event_type ORDER BY h, v_mu) AS rh
         |       FROM (SELECT DISTINCT event_type, h, v_mu FROM hv)),
         |s0 AS (SELECT event_type, v_mu,
         |         row_number() OVER (PARTITION BY event_type ORDER BY v_mu) AS rn,
         |         count(*) OVER (PARTITION BY event_type) AS n_sample
         |       FROM sr WHERE rh <= 128),
         |es AS (SELECT s.event_type, p.pct, s.n_sample, s.v_mu AS est_mu
         |       FROM s0 s JOIN p
         |         ON s.rn = greatest(1, (s.n_sample * p.pct + 99) // 100))
         |SELECT e.event_type, e.pct, e.n_rows, s.n_sample,
         |  round(e.exact_mu / 1000000.0, 6) + 0 AS exact_v,
         |  round(s.est_mu / 1000000.0, 6) + 0 AS est_v,
         |  round(abs(e.exact_mu - s.est_mu) / 1000000.0, 6) + 0 AS abs_err
         |FROM ex e JOIN es s USING (event_type, pct)""".stripMargin
    },
    // range-partition receipt: boundaries at the n·i/8 rank statistics
    // of the bottom-256 pair sample, rows routed by counting
    // boundaries strictly below, balance = frac·parts
    "range_boundaries" -> {
      val h48 = s"CAST(${graft.functions.PortableHash.duckdbHash48(
        "'rb:' || CAST(event_id AS VARCHAR)")} AS BIGINT)"
      s"""WITH hv AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS v_mu,
         |        $h48 AS h
         |      FROM events),
         |sr AS (SELECT v_mu, row_number() OVER (ORDER BY h, v_mu) AS rh
         |       FROM (SELECT DISTINCT h, v_mu FROM hv)),
         |s0 AS (SELECT v_mu, row_number() OVER (ORDER BY v_mu) AS rn,
         |         count(*) OVER () AS n_sample
         |       FROM sr WHERE rh <= 256),
         |b AS (SELECT g.bi, s0.v_mu AS bval
         |      FROM unnest(range(1, 8)) g(bi) JOIN s0
         |        ON s0.rn = greatest(1, (s0.n_sample * g.bi) // 8)),
         |bl AS (SELECT list(bval ORDER BY bi) AS bs FROM b),
         |a AS (SELECT hv.v_mu,
         |        CAST(list_sum(list_transform(bl.bs,
         |          bb -> CASE WHEN hv.v_mu > bb THEN 1 ELSE 0 END)) AS BIGINT)
         |          AS part_idx
         |      FROM hv, bl),
         |g2 AS (SELECT part_idx, count(*) AS n_rows, min(v_mu) AS min_mu,
         |         max(v_mu) AS max_mu
         |       FROM a GROUP BY 1),
         |t AS (SELECT count(*) AS n_total FROM hv)
         |SELECT part_idx, round(min_mu / 1000000.0, 6) + 0 AS min_v,
         |  round(max_mu / 1000000.0, 6) + 0 AS max_v, n_rows,
         |  round(CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE), 6) + 0 AS frac,
         |  round(CAST(n_rows AS DOUBLE) * 8 / CAST(n_total AS DOUBLE), 6) + 0
         |    AS balance
         |FROM g2, t""".stripMargin
    },
    // same kernel swept over k ∈ {16, 64, 256}, collapsed to the
    // error curve (the cms_error_curve discipline)
    "quantile_error_curve" -> {
      val h48 = s"CAST(${graft.functions.PortableHash.duckdbHash48(
        "'qsk:' || CAST(event_id AS VARCHAR)")} AS BIGINT)"
      s"""WITH hv AS (SELECT event_type, event_id,
         |        CAST(round(value * 1000000) AS BIGINT) AS v_mu, $h48 AS h
         |      FROM events),
         |p AS (SELECT CAST(unnest([25, 50, 75, 95]) AS BIGINT) AS pct),
         |ks AS (SELECT CAST(unnest([16, 64, 256]) AS BIGINT) AS k),
         |ex0 AS (SELECT event_type, v_mu,
         |          row_number() OVER (PARTITION BY event_type
         |            ORDER BY v_mu, event_id) AS rn,
         |          count(*) OVER (PARTITION BY event_type) AS n_rows
         |        FROM hv),
         |ex AS (SELECT e.event_type, p.pct, e.v_mu AS exact_mu
         |       FROM ex0 e JOIN p
         |         ON e.rn = greatest(1, (e.n_rows * p.pct + 99) // 100)),
         |sr AS (SELECT event_type, v_mu,
         |         row_number() OVER (PARTITION BY event_type ORDER BY h, v_mu) AS rh
         |       FROM (SELECT DISTINCT event_type, h, v_mu FROM hv)),
         |s0 AS (SELECT ks.k, sr.event_type, sr.v_mu,
         |         row_number() OVER (PARTITION BY ks.k, sr.event_type
         |           ORDER BY sr.v_mu) AS rn,
         |         count(*) OVER (PARTITION BY ks.k, sr.event_type) AS n_sample
         |       FROM sr JOIN ks ON sr.rh <= ks.k),
         |es AS (SELECT s.k, s.event_type, p.pct, s.v_mu AS est_mu
         |       FROM s0 s JOIN p
         |         ON s.rn = greatest(1, (s.n_sample * p.pct + 99) // 100))
         |SELECT s.k, count(*) AS n_cells,
         |  round(max(abs(e.exact_mu - s.est_mu)) / 1000000.0, 6) + 0 AS max_abs_err,
         |  round(sum(abs(e.exact_mu - s.est_mu))
         |        / (count(*) * 1000000.0), 6) + 0 AS avg_abs_err
         |FROM ex e JOIN es s USING (event_type, pct)
         |GROUP BY 1""".stripMargin
    },
    // per-cell stats over the same 2-round Lloyd codebook as ann_ivf:
    // nearest cell from `ranked` (rn = 1), member distance from `cd`,
    // inertia summed in integer micros (exact on both engines)
    "kmeans_clusters" ->
      s"""WITH $duckSqrtCells
         |SELECT cd.c_label, count(*) AS n_vecs,
         |  round(CAST(sum(CAST(round(cd.cdist * 1000000) AS BIGINT)) AS DOUBLE)
         |        / 1000000, 6) + 0 AS inertia
         |FROM cd JOIN ranked r USING (vec_id, c_label)
         |WHERE r.rn = 1
         |GROUP BY 1""".stripMargin,
    // cent = 2 Lloyd rounds from first-k seeds, k = ceil(sqrt(N)) via
    // scalar subquery (the DuckDB twin of VectorOps.sqrtCells(emb, 2))
    // probe budget mirrors VectorOps.probePolicy: nAssign = 2,
    // nProbe = greatest(3, ceil(cells/16)) with cells = k from kk
    "ann_ivf" ->
      s"""WITH $duckSqrtCells,
         |assigned AS (SELECT vec_id, c_label FROM ranked WHERE rn <= 2),
         |probes AS (SELECT vec_id AS query_id, c_label FROM ranked
         |           WHERE rn <= greatest(3, CAST(ceil((SELECT k FROM kk) / 16.0) AS BIGINT))
         |             AND vec_id < 10),
         |cand AS (
         |  -- DISTINCT: with nAssign=2 a (query, vec) pair can meet in
         |  -- two cells (Spark side deduplicates identically)
         |  SELECT DISTINCT p.query_id, a.vec_id
         |  FROM probes p JOIN assigned a USING (c_label)
         |  WHERE a.vec_id <> p.query_id),
         |scored AS (
         |  SELECT c.query_id, c.vec_id,
         |    round(${duckCos("e.embedding", "q.embedding")}, 6) + 0 AS cos_sim
         |  FROM cand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN embeddings q ON q.vec_id = c.query_id),
         |r AS (SELECT query_id, vec_id, cos_sim,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos_sim DESC, vec_id) AS rank
         |      FROM scored)
         |SELECT query_id, rank, vec_id, cos_sim FROM r WHERE rank <= 3""".stripMargin,
    // the full-rebuild twin: base-trained codebook, ALL vectors
    // assigned — equality with the engine's merged incremental index
    // IS the merged ≡ rebuild receipt
    "ann_incremental" ->
      s"""WITH $duckSqrtCellsIncr,
         |assigned AS (SELECT vec_id, c_label FROM ranked WHERE rn <= 2),
         |probes AS (SELECT vec_id AS query_id, c_label FROM ranked
         |           WHERE rn <= greatest(3, CAST(ceil((SELECT k FROM kk) / 16.0) AS BIGINT))
         |             AND vec_id < 10),
         |cand AS (
         |  SELECT DISTINCT p.query_id, a.vec_id
         |  FROM probes p JOIN assigned a USING (c_label)
         |  WHERE a.vec_id <> p.query_id),
         |scored AS (
         |  SELECT c.query_id, c.vec_id,
         |    round(${duckCos("e.embedding", "q.embedding")}, 6) + 0 AS cos_sim
         |  FROM cand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN embeddings q ON q.vec_id = c.query_id),
         |r AS (SELECT query_id, vec_id, cos_sim,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos_sim DESC, vec_id) AS rank
         |      FROM scored)
         |SELECT query_id, rank, vec_id, cos_sim FROM r WHERE rank <= 3""".stripMargin,
    // same CTEs as ann_ivf with the label predicate applied to the
    // ASSIGNED side only (queries and codebook untouched) — the
    // pre-filter semantics mirrored exactly
    "ann_filtered" ->
      s"""WITH $duckSqrtCells,
         |assigned AS (SELECT r.vec_id, r.c_label FROM ranked r
         |             JOIN embeddings e USING (vec_id)
         |             WHERE r.rn <= 2 AND e.label % 2 = 0),
         |probes AS (SELECT vec_id AS query_id, c_label FROM ranked
         |           WHERE rn <= greatest(3, CAST(ceil((SELECT k FROM kk) / 16.0) AS BIGINT))
         |             AND vec_id < 10),
         |cand AS (
         |  SELECT DISTINCT p.query_id, a.vec_id
         |  FROM probes p JOIN assigned a USING (c_label)
         |  WHERE a.vec_id <> p.query_id),
         |scored AS (
         |  SELECT c.query_id, c.vec_id,
         |    round(${duckCos("e.embedding", "q.embedding")}, 6) + 0 AS cos_sim
         |  FROM cand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN embeddings q ON q.vec_id = c.query_id),
         |r AS (SELECT query_id, vec_id, cos_sim,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos_sim DESC, vec_id) AS rank
         |      FROM scored)
         |SELECT query_id, rank, vec_id, cos_sim FROM r WHERE rank <= 3""".stripMargin,
    // the refresh census: the stale chain IS duckSqrtCellsIncr
    // (base-trained, all vectors ranked); the refreshed chain is the
    // same Lloyd unroll n-prefixed, trained on the FULL corpus and
    // sharing the exploded `dims`; the join compares each vector's
    // primary cell under the two codebooks
    "ann_codebook_refresh" ->
      s"""WITH $duckCodebookRefreshCtes
         |SELECT old_cell, new_cell, n_vecs FROM census""".stripMargin,
    // the decision composed: the drift tripwire's two bounded (half,
    // dim) aggs + the refresh chain's migration census collapsed to
    // its price, one row out (tau = 0.01 is the stated contract)
    "index_maintenance_plan" ->
      s"""WITH $duckCodebookRefreshCtes,
         |price AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_vecs,
         |    CAST(sum(CASE WHEN old_cell <> new_cell THEN n_vecs ELSE 0 END)
         |         AS BIGINT) AS n_moved,
         |    CAST(count(DISTINCT old_cell) AS BIGINT) AS n_cells_stale,
         |    CAST(count(DISTINCT new_cell) AS BIGINT) AS n_cells_refreshed
         |  FROM census),
         |mm AS (SELECT (max(vec_id) + 1) // 2 AS mid FROM embeddings),
         |dxx AS (SELECT CASE WHEN vec_id < mm.mid THEN 'a' ELSE 'b' END AS half,
         |        CAST(u.ii - 1 AS BIGINT) AS ddim,
         |        CAST(round(CAST(embedding[u.ii] AS DOUBLE) * 1000000) AS BIGINT)
         |          AS x6
         |      FROM embeddings, mm, unnest(range(1, len(embedding) + 1)) u(ii)),
         |dmu AS (SELECT half, ddim, CAST(round(avg(x6)) AS BIGINT) AS mu6
         |        FROM dxx GROUP BY 1, 2),
         |da AS (SELECT ddim, mu6 AS ma FROM dmu WHERE half = 'a'),
         |db AS (SELECT ddim, mu6 AS mb FROM dmu WHERE half = 'b'),
         |drift AS (SELECT
         |    round(sqrt(sum((CAST(ma - mb AS DOUBLE) / 1000000.0)
         |      * (CAST(ma - mb AS DOUBLE) / 1000000.0) ORDER BY ddim)), 6) + 0
         |      AS centroid_l2,
         |    round(CAST(max(abs(ma - mb)) AS DOUBLE) / 1000000.0, 6) + 0
         |      AS max_dim_shift
         |  FROM da JOIN db USING (ddim))
         |SELECT d.centroid_l2, d.max_dim_shift, d.centroid_l2 > 0.01 AS refresh,
         |  p.n_vecs, p.n_moved,
         |  round(p.n_moved / CAST(p.n_vecs AS DOUBLE), 6) + 0 AS frac_moved,
         |  p.n_cells_stale, p.n_cells_refreshed
         |FROM drift d, price p""".stripMargin,
    // the recall curve, both sides recomputed: IVF candidates per
    // probe budget from the SAME ranked cell table (nAssign=1), exact
    // ground truth as the brute-force cross join, hit join on
    // (query_id, vec_id)
    "ann_recall" ->
      s"""WITH $duckSqrtCells,
         |params AS (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS p),
         |assigned AS (SELECT vec_id, c_label FROM ranked WHERE rn <= 1),
         |pb AS (SELECT pa.p, r.vec_id AS query_id, r.c_label
         |       FROM ranked r CROSS JOIN params pa
         |       WHERE r.vec_id < 10 AND r.rn <= pa.p),
         |cand AS (SELECT DISTINCT pb.p, pb.query_id, a.vec_id
         |         FROM pb JOIN assigned a USING (c_label)
         |         WHERE a.vec_id <> pb.query_id),
         |scored AS (SELECT c.p, c.query_id, c.vec_id,
         |    round(${duckCos("e.embedding", "q.embedding")}, 6) + 0 AS cos_sim
         |  FROM cand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN embeddings q ON q.vec_id = c.query_id),
         |rr AS (SELECT p, query_id, vec_id,
         |         row_number() OVER (PARTITION BY p, query_id
         |           ORDER BY cos_sim DESC, vec_id) AS rank
         |       FROM scored),
         |ivf AS (SELECT p, query_id, vec_id FROM rr WHERE rank <= 3),
         |exq AS (SELECT q.vec_id AS query_id, e.vec_id,
         |          round(${duckCos("e.embedding", "q.embedding")}, 6) + 0 AS cos_sim
         |        FROM embeddings e, embeddings q
         |        WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
         |exr AS (SELECT query_id, vec_id,
         |          row_number() OVER (PARTITION BY query_id
         |            ORDER BY cos_sim DESC, vec_id) AS rank
         |        FROM exq),
         |ex AS (SELECT query_id, vec_id FROM exr WHERE rank <= 3),
         |nex AS (SELECT count(*) AS n_exact FROM ex),
         |${duckSrp(32)},
         |sig AS (SELECT vec_id, out_dim // 4 AS band,
         |          CAST(sum(CASE WHEN proj > 0
         |            THEN 1 << CAST(out_dim % 4 AS INTEGER) ELSE 0 END) AS BIGINT)
         |            AS band_sig
         |        FROM pr GROUP BY 1, 2),
         |sbp AS (SELECT CAST(unnest([2, 4, 8]) AS BIGINT) AS b),
         |spairs AS (SELECT q.vec_id AS query_id, s.vec_id,
         |             min(q.band) AS first_band
         |           FROM sig q JOIN sig s USING (band, band_sig)
         |           WHERE q.vec_id < 10 AND s.vec_id <> q.vec_id
         |           GROUP BY 1, 2),
         |sscored AS (SELECT sp.query_id, sp.vec_id, sp.first_band,
         |    round(${duckCos("e.embedding", "q.embedding")}, 6) + 0 AS cos_sim
         |  FROM spairs sp
         |  JOIN embeddings e ON e.vec_id = sp.vec_id
         |  JOIN embeddings q ON q.vec_id = sp.query_id),
         |srr AS (SELECT sbp.b, ss.query_id, ss.vec_id,
         |          row_number() OVER (PARTITION BY sbp.b, ss.query_id
         |            ORDER BY ss.cos_sim DESC, ss.vec_id) AS rank
         |        FROM sscored ss JOIN sbp ON ss.first_band < sbp.b),
         |srp AS (SELECT b, query_id, vec_id FROM srr WHERE rank <= 3)
         |SELECT 'ivf' AS method, i.p AS param,
         |  count(*) AS n_returned,
         |  CAST(sum(CASE WHEN e2.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  nex.n_exact,
         |  round(sum(CASE WHEN e2.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |        / nex.n_exact, 6) + 0 AS recall
         |FROM ivf i
         |LEFT JOIN ex e2 ON e2.query_id = i.query_id AND e2.vec_id = i.vec_id
         |CROSS JOIN nex
         |GROUP BY i.p, nex.n_exact
         |UNION ALL
         |SELECT 'srp' AS method, s2.b AS param,
         |  count(*) AS n_returned,
         |  CAST(sum(CASE WHEN e3.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  nex.n_exact,
         |  round(sum(CASE WHEN e3.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |        / nex.n_exact, 6) + 0 AS recall
         |FROM srp s2
         |LEFT JOIN ex e3 ON e3.query_id = s2.query_id AND e3.vec_id = s2.vec_id
         |CROSS JOIN nex
         |GROUP BY s2.b, nex.n_exact""".stripMargin,
    // int8 code ranks once at the largest budget, per-factor rerank
    // filters, exact ground truth — the ann_recall tail on the sq8 leg
    "ann_recall_quantized" ->
      s"""WITH s AS (
         |  SELECT max(greatest(abs(CAST(list_min(embedding) AS DOUBLE)),
         |                      abs(CAST(list_max(embedding) AS DOUBLE)))) AS qs
         |  FROM embeddings),
         |qz AS (SELECT vec_id,
         |         list_transform(embedding, x ->
         |           CAST(round(CAST(x AS DOUBLE) * 127.0 / s.qs) AS BIGINT)) AS qc
         |       FROM embeddings, s),
         |cd AS (SELECT q.vec_id AS query_id, c.vec_id,
         |         CAST(list_sum(list_transform(range(1, len(c.qc)+1),
         |           i -> (c.qc[i] - q.qc[i]) * (c.qc[i] - q.qc[i]))) AS BIGINT) AS qdist
         |       FROM qz c, qz q
         |       WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |cand AS (SELECT query_id, vec_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY qdist, vec_id) AS qrank
         |         FROM cd),
         |rr AS (SELECT t.query_id, t.vec_id, t.qrank,
         |         round(${duckCos("c.embedding", "q.embedding")}, 6) + 0 AS cos_sim
         |       FROM (SELECT * FROM cand WHERE qrank <= 12) t
         |       JOIN embeddings c ON c.vec_id = t.vec_id
         |       JOIN embeddings q ON q.vec_id = t.query_id),
         |pf AS (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS f),
         |rk AS (SELECT pf.f, r.query_id, r.vec_id,
         |         row_number() OVER (PARTITION BY pf.f, r.query_id
         |           ORDER BY r.cos_sim DESC, r.vec_id) AS rank
         |       FROM rr r JOIN pf ON r.qrank <= 3 * pf.f),
         |sq AS (SELECT f, query_id, vec_id FROM rk WHERE rank <= 3),
         |exq AS (SELECT q.vec_id AS query_id, e.vec_id,
         |          round(${duckCos("e.embedding", "q.embedding")}, 6) + 0 AS cos_sim
         |        FROM embeddings e, embeddings q
         |        WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
         |exr AS (SELECT query_id, vec_id,
         |          row_number() OVER (PARTITION BY query_id
         |            ORDER BY cos_sim DESC, vec_id) AS rank
         |        FROM exq),
         |ex AS (SELECT query_id, vec_id FROM exr WHERE rank <= 3),
         |nex AS (SELECT count(*) AS n_exact FROM ex)
         |SELECT 'sq8' AS method, s2.f AS param,
         |  count(*) AS n_returned,
         |  CAST(sum(CASE WHEN e2.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  nex.n_exact,
         |  round(sum(CASE WHEN e2.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |        / nex.n_exact, 6) + 0 AS recall
         |FROM sq s2
         |LEFT JOIN ex e2 ON e2.query_id = s2.query_id AND e2.vec_id = s2.vec_id
         |CROSS JOIN nex
         |GROUP BY s2.f, nex.n_exact""".stripMargin,
    // prefix-dim cosine top-k vs the full-dim exact ground truth —
    // one scored pass carries every prefix cosine, per-dim ranks
    "matryoshka_recall" ->
      s"""WITH exq AS (SELECT q.vec_id AS query_id, e.vec_id,
         |          round(${duckCos("e.embedding", "q.embedding")}, 6) + 0 AS cos_sim
         |        FROM embeddings e, embeddings q
         |        WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
         |exr AS (SELECT query_id, vec_id,
         |          row_number() OVER (PARTITION BY query_id
         |            ORDER BY cos_sim DESC, vec_id) AS rank
         |        FROM exq),
         |ex AS (SELECT query_id, vec_id FROM exr WHERE rank <= 3),
         |nex AS (SELECT count(*) AS n_exact FROM ex),
         |pd AS (SELECT CAST(unnest([8, 16, 32]) AS BIGINT) AS d),
         |sc AS (SELECT q.vec_id AS query_id, e.vec_id,
         |    round(${duckCos("(e.embedding[1:8])", "(q.embedding[1:8])")}, 6) + 0
         |      AS cos_8,
         |    round(${duckCos("(e.embedding[1:16])", "(q.embedding[1:16])")}, 6) + 0
         |      AS cos_16,
         |    round(${duckCos("(e.embedding[1:32])", "(q.embedding[1:32])")}, 6) + 0
         |      AS cos_32
         |  FROM embeddings e, embeddings q
         |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
         |rr AS (SELECT pd.d, s.query_id, s.vec_id,
         |         row_number() OVER (PARTITION BY pd.d, s.query_id
         |           ORDER BY CASE pd.d WHEN 8 THEN s.cos_8
         |                    WHEN 16 THEN s.cos_16 ELSE s.cos_32 END DESC,
         |                    s.vec_id) AS rank
         |       FROM sc s CROSS JOIN pd),
         |tr AS (SELECT d, query_id, vec_id FROM rr WHERE rank <= 3)
         |SELECT 'trunc' AS method, t.d AS param,
         |  count(*) AS n_returned,
         |  CAST(sum(CASE WHEN e2.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  nex.n_exact,
         |  round(sum(CASE WHEN e2.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |        / nex.n_exact, 6) + 0 AS recall
         |FROM tr t
         |LEFT JOIN ex e2 ON e2.query_id = t.query_id AND e2.vec_id = t.vec_id
         |CROSS JOIN nex
         |GROUP BY t.d, nex.n_exact""".stripMargin,
    // one CTE per pipeline stage, mirroring CorpusOps.ingestPipeline
    "ingest_pipeline" ->
      s"""WITH flt AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE NOT starts_with(source, '~$$')
         |    AND (NOT contains(source, '.')
         |         OR regexp_matches(lower(source), '\\.(pdf|docx)$$'))),
         |chg AS (
         |  SELECT d.doc_id, d.text FROM flt d
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM documents s
         |    WHERE s.doc_id % 2 = 0 AND sha256(s.text) = sha256(d.text))),
         |toks AS (
         |  SELECT doc_id, u.i - 1 AS pos, trim(parts[u.i]) AS tok
         |  FROM (SELECT doc_id, list_slice(string_split(text, ' '), 1, 512) AS parts
         |        FROM chg) d,
         |       unnest(range(1, len(parts)+1)) u(i)
         |  WHERE trim(parts[u.i]) <> ''),
         |paras AS (
         |  SELECT doc_id, CAST(pos // 8 AS BIGINT) AS para_idx,
         |         string_agg(tok, ' ' ORDER BY pos) AS para
         |  FROM toks GROUP BY 1, 2),
         |firsts AS (
         |  SELECT doc_id, para_idx, para FROM (
         |    SELECT doc_id, para_idx, para,
         |      row_number() OVER (PARTITION BY para ORDER BY doc_id, para_idx) AS rn
         |    FROM paras) WHERE rn = 1),
         |ptoks AS (
         |  SELECT doc_id * 1000 + para_idx AS pkey, trim(parts[u.i]) AS tok
         |  FROM (SELECT doc_id, para_idx,
         |          list_slice(string_split(para, ' '), 1, 512) AS parts
         |        FROM firsts) p,
         |       unnest(range(1, len(parts)+1)) u(i)
         |  WHERE trim(parts[u.i]) <> ''),
         |hashed AS (SELECT pkey, ${duckHash24("tok")} % 64 AS dim FROM ptoks),
         |tf AS (SELECT pkey, dim, CAST(count(*) AS DOUBLE) AS cnt
         |       FROM hashed GROUP BY 1, 2),
         |nrm AS (SELECT pkey, sqrt(sum(cnt*cnt)) AS nrm FROM tf GROUP BY 1)
         |SELECT CAST(t.pkey // 1000 AS BIGINT) AS doc_id,
         |       CAST(t.pkey % 1000 AS BIGINT) AS para_idx,
         |       t.dim, round(t.cnt / n.nrm, 6) + 0 AS weight
         |FROM tf t JOIN nrm n USING (pkey)""".stripMargin,
    "scan_documents" ->
      "SELECT doc_id, source, lang, n_chars FROM documents",
    "filter_sources" ->
      """SELECT doc_id, source FROM documents
        |WHERE NOT starts_with(source, '~$')
        |  AND (NOT contains(source, '.')
        |       OR regexp_matches(lower(source), '\.(pdf|docx)$'))""".stripMargin,
    "segment_paragraphs" ->
      """SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS para_idx, trim(parts[u.i]) AS para
        |FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents) d,
        |     unnest(range(1, len(parts)+1)) u(i)
        |WHERE trim(parts[u.i]) <> ''""".stripMargin,
    "dedup_documents" ->
      """SELECT min(doc_id) AS doc_id, source, count(*) AS n_copies
        |FROM documents GROUP BY source, text""".stripMargin,
    "dedup_paragraphs" ->
      """WITH seg AS (
        |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS para_idx, trim(parts[u.i]) AS para
        |  FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents) d,
        |       unnest(range(1, len(parts)+1)) u(i)
        |  WHERE trim(parts[u.i]) <> '')
        |SELECT para, n_copies, first_doc_id, first_para_idx FROM (
        |  SELECT para,
        |    count(*) OVER (PARTITION BY para) AS n_copies,
        |    doc_id AS first_doc_id, para_idx AS first_para_idx,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, para_idx) AS rn
        |  FROM seg) WHERE rn = 1""".stripMargin,
    // composed form: LSH candidates → exact sparse-cosine verify
    "dedup_embedding" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |hashed AS (SELECT doc_id, ${duckHash24("tok")} % 65536 AS dim FROM toks),
         |tf AS (SELECT doc_id, dim, CAST(count(*) AS DOUBLE) AS cnt
         |       FROM hashed GROUP BY 1, 2),
         |nrm AS (SELECT doc_id, sqrt(sum(cnt*cnt)) AS nrm FROM tf GROUP BY 1),
         |w AS (SELECT t.doc_id, t.dim, round(t.cnt / n.nrm, 6) + 0 AS weight
         |      FROM tf t JOIN nrm n USING (doc_id))
         |SELECT c.a_id, c.b_id,
         |       round(sum(a.weight * b.weight ORDER BY a.dim), 6) + 0 AS cos_sim
         |FROM cand c
         |JOIN w a ON a.doc_id = c.a_id
         |JOIN w b ON b.doc_id = c.b_id AND b.dim = a.dim
         |GROUP BY 1, 2
         |HAVING round(sum(a.weight * b.weight ORDER BY a.dim), 6) + 0 >= 0.9""".stripMargin,
    // MinHash pairs (jac >= 0.5) vs embedding pairs (cos >= 0.9)
    // full-outer-joined; floor-quotient agreement in micros
    "dedup_tier_agreement" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify,
         |mhpairs AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.5),
         |hashed AS (SELECT doc_id, ${duckHash24("tok")} % 65536 AS dim FROM toks),
         |tf AS (SELECT doc_id, dim, CAST(count(*) AS DOUBLE) AS cnt
         |       FROM hashed GROUP BY 1, 2),
         |nrm AS (SELECT doc_id, sqrt(sum(cnt*cnt)) AS nrm FROM tf GROUP BY 1),
         |w AS (SELECT t.doc_id, t.dim, round(t.cnt / n.nrm, 6) + 0 AS weight
         |      FROM tf t JOIN nrm n USING (doc_id)),
         |em AS (SELECT c.a_id, c.b_id
         |       FROM cand c
         |       JOIN w a ON a.doc_id = c.a_id
         |       JOIN w b ON b.doc_id = c.b_id AND b.dim = a.dim
         |       GROUP BY 1, 2
         |       HAVING round(sum(a.weight * b.weight ORDER BY a.dim), 6) + 0
         |         >= 0.9),
         |fo AS (SELECT m.a_id IS NOT NULL AS in_mh, e.a_id IS NOT NULL AS in_em
         |       FROM mhpairs m FULL OUTER JOIN em e
         |         ON m.a_id = e.a_id AND m.b_id = e.b_id),
         |ag AS (SELECT CAST(sum(CASE WHEN in_mh THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_minhash,
         |         CAST(sum(CASE WHEN in_em THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_embedding,
         |         CAST(sum(CASE WHEN in_mh AND in_em THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_both,
         |         count(*) AS n_either
         |       FROM fo)
         |SELECT *, CASE WHEN n_either = 0 THEN 1000000
         |  ELSE CAST((n_both * 1000000) // n_either AS BIGINT) END
         |    AS agreement_micro
         |FROM ag""".stripMargin,
    "events_band_join" ->
      """WITH e AS (SELECT event_id, value,
        |             CAST(floor(value / 0.05) AS BIGINT) AS bin
        |           FROM events WHERE event_type = 'purchase'),
        |same AS (SELECT a.event_id AS a_id, b.event_id AS b_id,
        |                a.value AS va, b.value AS vb
        |         FROM e a JOIN e b ON a.bin = b.bin AND a.event_id < b.event_id),
        |adj AS (SELECT least(a.event_id, b.event_id) AS a_id,
        |               greatest(a.event_id, b.event_id) AS b_id,
        |               a.value AS va, b.value AS vb
        |        FROM e a JOIN e b ON a.bin + 1 = b.bin),
        |u AS (SELECT * FROM same UNION ALL SELECT * FROM adj)
        |SELECT a_id, b_id, round(abs(va - vb), 6) + 0 AS value_diff
        |FROM u WHERE abs(va - vb) < 0.05""".stripMargin,
    "scd2_user_state" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |             lag(event_type) OVER (PARTITION BY user_id
        |               ORDER BY epoch_us(ts), event_id) AS prev_type
        |           FROM events),
        |ch AS (SELECT user_id, ts_us, event_id, event_type FROM e
        |       WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  event_type AS state,
        |  ts_us AS valid_from,
        |  lead(ts_us) OVER w AS valid_to,
        |  lead(ts_us) OVER w IS NULL AS is_current
        |FROM ch
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin,
    // same history CTE, then the interval-containment lookup per
    // purchase (valid_from inclusive, valid_to exclusive/open)
    "scd2_lookup" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |             lag(event_type) OVER (PARTITION BY user_id
        |               ORDER BY epoch_us(ts), event_id) AS prev_type
        |           FROM events),
        |ch AS (SELECT user_id, ts_us, event_id, event_type FROM e
        |       WHERE prev_type IS NULL OR prev_type <> event_type),
        |h AS (SELECT user_id,
        |        CAST(row_number() OVER w AS BIGINT) AS version,
        |        event_type AS state, ts_us AS valid_from,
        |        lead(ts_us) OVER w AS valid_to
        |      FROM ch
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts_us, h.version, h.state
        |FROM p JOIN h ON h.user_id = p.user_id
        | AND h.valid_from <= p.ts_us
        | AND (h.valid_to IS NULL OR p.ts_us < h.valid_to)""".stripMargin,
    // day index = floor-div on positive epoch nanos — `//` is the
    // DuckDB twin of Spark's `div` here
    "events_retention" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |             epoch_ns(ts) // 86400000000000 AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1),
        |cell AS (SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
        |           count(*) AS n_active
        |         FROM d JOIN c USING (user_id) GROUP BY 1, 2),
        |s AS (SELECT cohort_day, count(*) AS cohort_size FROM c GROUP BY 1)
        |SELECT cell.cohort_day, cell.day_offset, cell.n_active, s.cohort_size,
        |       round(cell.n_active / s.cohort_size, 6) + 0 AS retention
        |FROM cell JOIN s USING (cohort_day)""".stripMargin,
    "events_seasonality" ->
      """WITH p AS (SELECT event_type,
        |         (epoch_ns(ts) // 3600000000000) % 24 AS hour_of_day,
        |         count(*) AS n_events, round(avg(value), 6) + 0 AS avg_value
        |       FROM events GROUP BY 1, 2)
        |SELECT event_type, hour_of_day, n_events, avg_value,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY n_events DESC, hour_of_day) AS peak_rank
        |FROM p""".stripMargin,
    // grouped rank-sum Gini over the counts-of-counts table; the
    // top-decile boundary tie group splits in exact integers
    "activity_gini" ->
      """WITH cen AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
        |gr AS (SELECT c, count(*) AS n_g FROM cen GROUP BY 1),
        |g2 AS (SELECT *, COALESCE(sum(n_g) OVER (ORDER BY c
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS a_g,
        |         COALESCE(sum(n_g) OVER (ORDER BY c DESC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS taken_before
        |       FROM gr),
        |g3 AS (SELECT *, CAST(c AS HUGEINT)
        |         * CAST(n_g * a_g + (n_g * (n_g + 1)) // 2 AS HUGEINT)
        |           AS ranksum
        |       FROM g2),
        |t AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_users,
        |        CAST(sum(c * n_g) AS BIGINT) AS n_events,
        |        sum(ranksum) AS s
        |      FROM g3),
        |tk AS (SELECT CAST(max(t.n_users // 10) AS BIGINT) AS top10_users,
        |         CAST(sum(greatest(0, least(g3.n_g,
        |           t.n_users // 10 - g3.taken_before)) * g3.c) AS BIGINT)
        |           AS top10_events
        |       FROM g3, t)
        |SELECT t.n_users, t.n_events,
        |  round(2.0 * CAST(t.s AS DOUBLE)
        |        / (CAST(t.n_users AS DOUBLE) * CAST(t.n_events AS DOUBLE))
        |      - CAST(t.n_users + 1 AS DOUBLE) / CAST(t.n_users AS DOUBLE), 6) + 0
        |    AS gini,
        |  tk.top10_users,
        |  round(CAST(tk.top10_events AS DOUBLE) / CAST(t.n_events AS DOUBLE), 6)
        |    + 0 AS top10_share
        |FROM t, tk""".stripMargin,
    // hash-cohort deletion; integer cents subtract exactly
    "delete_propagation" -> {
      val h24 = s"CAST(${graft.functions.PortableHash.duckdbHash24(
        "'gdpr:' || CAST(user_id AS VARCHAR)")} AS BIGINT)"
      s"""WITH f AS (SELECT event_type, count(*) AS n_full,
         |        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |          AS cents_full
         |      FROM events GROUP BY 1),
         |d AS (SELECT event_type, count(*) AS n_del,
         |        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |          AS cents_del
         |      FROM events WHERE $h24 % 20 = 0 GROUP BY 1),
         |r AS (SELECT event_type, count(*) AS n_rebuilt,
         |        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |          AS cents_rebuilt
         |      FROM events WHERE $h24 % 20 <> 0 GROUP BY 1)
         |SELECT f.event_type, f.n_full, COALESCE(d.n_del, 0) AS n_del,
         |  COALESCE(r.n_rebuilt, 0) AS n_rebuilt,
         |  COALESCE(r.n_rebuilt, 0) = f.n_full - COALESCE(d.n_del, 0) AS n_ok,
         |  COALESCE(r.cents_rebuilt, 0)
         |    = f.cents_full - COALESCE(d.cents_del, 0) AS cents_ok
         |FROM f LEFT JOIN d USING (event_type)
         |  LEFT JOIN r USING (event_type)""".stripMargin
    },
    // Laplace counts at ε ∈ {0.5, 1, 2}: u = (hash48('dp<i>:'||type)
    // + ½)/2⁴⁸, noise = (−1·sign(u−½))·ln(1−2|u−½|)/ε — exact mirror
    // (type, user) census → per-type max contribution; ε grid is
    // exact micro literals; all-integer output
    "dp_sensitivity_audit" ->
      """WITH pu AS (SELECT event_type, user_id, count(*) AS n
        |            FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |         CAST(max(n) AS BIGINT) AS max_user_rows
        |       FROM pu GROUP BY 1)
        |SELECT event_type, n_users, max_user_rows,
        |  CAST(u.e AS BIGINT) AS eps6,
        |  CAST(u.e AS BIGINT) * max_user_rows AS eps_effective6
        |FROM st, unnest([500000, 1000000, 2000000]) u(e)""".stripMargin,
    "dp_counts" -> {
      def leg(ei: Int, eps: String): String = {
        val h48 = s"CAST(${graft.functions.PortableHash.duckdbHash48(
          s"'dp$ei:' || event_type")} AS BIGINT)"
        s"""SELECT CAST($eps AS DOUBLE) AS epsilon, event_type, n_true, noise,
           |  round(n_true + noise, 6) + 0 AS n_noisy
           |FROM (SELECT event_type, n_true,
           |        round((-1.0 * sign(u - 0.5)) * ln(1.0 - 2.0 * abs(u - 0.5))
           |              / $eps, 6) + 0 AS noise
           |      FROM (SELECT event_type, n_true,
           |              ($h48 + 0.5) / 281474976710656.0 AS u
           |            FROM b))""".stripMargin
      }
      s"""WITH b AS (SELECT event_type, count(*) AS n_true FROM events GROUP BY 1)
         |${leg(0, "0.5")}
         |UNION ALL
         |${leg(1, "1.0")}
         |UNION ALL
         |${leg(2, "2.0")}""".stripMargin
    },
    // exponential-mechanism median: doubled rank distances, micro-
    // grid weights (exp underflow to exactly 0 on both engines),
    // first census value whose cumulative mass reaches u·total
    "dp_quantile" -> {
      val h48 = s"CAST(${graft.functions.PortableHash.duckdbHash48(
        "'dpq:' || event_type")} AS BIGINT)"
      s"""WITH census AS (SELECT event_type,
         |    CAST(round(value * 100) AS BIGINT) AS cents,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2),
         |cum AS (SELECT *,
         |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |  FROM census),
         |d AS (SELECT *,
         |    CASE WHEN 2 * (cum - cnt + 1) > n + 1 THEN 2 * (cum - cnt + 1) - (n + 1)
         |         WHEN 2 * cum < n + 1 THEN n + 1 - 2 * cum
         |         ELSE 0 END AS d2
         |  FROM cum),
         |w AS (SELECT *,
         |    CAST(round(exp(-0.25 * d2) * 1000000.0) AS BIGINT) AS wt_micro
         |  FROM d),
         |cw AS (SELECT *,
         |    CAST(sum(wt_micro) OVER (PARTITION BY event_type ORDER BY cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw
         |  FROM w),
         |mt AS (SELECT event_type, max(n) AS n, max(cumw) AS total,
         |    CAST(sum(CASE WHEN cum - cnt < (n + 1) // 2 AND (n + 1) // 2 <= cum
         |               THEN cents ELSE 0 END) AS BIGINT) AS m_lo,
         |    CAST(sum(CASE WHEN cum - cnt < n // 2 + 1 AND n // 2 + 1 <= cum
         |               THEN cents ELSE 0 END) AS BIGINT) AS m_hi
         |  FROM cw GROUP BY 1),
         |th AS (SELECT event_type, n, m_lo + m_hi AS med_x2,
         |    (($h48 + 0.5) / 281474976710656.0) * CAST(total AS DOUBLE) AS thr
         |  FROM mt)
         |SELECT c.event_type, t.n, t.med_x2,
         |  min(c.cents) AS dp_med_cents,
         |  arg_min(c.d2, c.cents) AS dp_rank_dist2
         |FROM cw c JOIN th t USING (event_type)
         |WHERE CAST(c.cumw AS DOUBLE) >= t.thr
         |GROUP BY 1, 2, 3""".stripMargin
    },
    // per-level class censuses over one shared user profile; chosen =
    // first level whose smallest class clears k (monotone ladder)
    "k_anon_ladder" ->
      """WITH pr AS (SELECT user_id, count(*) AS n_ev,
        |    count(DISTINCT epoch_ns(ts) // 86400000000000) AS n_days
        |  FROM events GROUP BY 1),
        |qi AS (SELECT least(10, n_ev // 10) AS act,
        |    least(10, n_days // 3) AS days FROM pr),
        |lv AS (SELECT CAST(unnest([0, 1, 2, 3, 4]) AS BIGINT) AS level),
        |cls AS (SELECT l.level, q.act // (1 << CAST(l.level AS INTEGER)) AS qa,
        |    q.days // (1 << CAST(l.level AS INTEGER)) AS qd,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM qi q CROSS JOIN lv l GROUP BY 1, 2, 3),
        |lad AS (SELECT level, CAST(count(*) AS BIGINT) AS n_classes,
        |    min(k) AS min_k, max(k) AS max_k,
        |    CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS n_below
        |  FROM cls GROUP BY 1),
        |ch AS (SELECT min(CASE WHEN min_k >= 5 THEN level END) AS chosen_level
        |       FROM lad)
        |SELECT level, n_classes, min_k, max_k, n_below,
        |  min_k >= 5 AS released,
        |  (SELECT chosen_level FROM ch) IS NOT NULL
        |    AND level = (SELECT chosen_level FROM ch) AS chosen
        |FROM lad""".stripMargin,
    "l_diversity" ->
      """WITH tc AS (SELECT user_id, event_type, count(*) AS n_t
        |            FROM events GROUP BY 1, 2),
        |tt AS (SELECT user_id, event_type AS top_type FROM (
        |         SELECT user_id, event_type,
        |           row_number() OVER (PARTITION BY user_id
        |             ORDER BY n_t DESC, event_type) AS rn
        |         FROM tc) WHERE rn = 1),
        |pr AS (SELECT user_id, count(*) AS n_ev,
        |         count(DISTINCT epoch_ns(ts) // 86400000000000) AS n_days
        |       FROM events GROUP BY 1),
        |prof AS (SELECT user_id,
        |           least(10, n_ev // 10) AS activity_bucket,
        |           least(10, n_days // 3) AS days_bucket
        |         FROM pr)
        |SELECT p.activity_bucket, p.days_bucket,
        |       count(*) AS k,
        |       CAST(count(DISTINCT t.top_type) AS BIGINT) AS l_distinct,
        |       count(DISTINCT t.top_type) >= 3 AS diverse_ok
        |FROM prof p JOIN tt t USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    // exact integer TVD on the class×type spine: |cnt·gn − g·k|
    // summed, floor-quotient micros, no float anywhere
    "t_closeness" ->
      """WITH tc AS (SELECT user_id, event_type, count(*) AS n_t
        |            FROM events GROUP BY 1, 2),
        |tt AS (SELECT user_id, event_type AS top_type FROM (
        |         SELECT user_id, event_type,
        |           row_number() OVER (PARTITION BY user_id
        |             ORDER BY n_t DESC, event_type) AS rn
        |         FROM tc) WHERE rn = 1),
        |pr AS (SELECT user_id, count(*) AS n_ev,
        |         count(DISTINCT epoch_ns(ts) // 86400000000000) AS n_days
        |       FROM events GROUP BY 1),
        |prof AS (SELECT user_id,
        |           least(10, n_ev // 10) AS activity_bucket,
        |           least(10, n_days // 3) AS days_bucket
        |         FROM pr),
        |u AS (SELECT p.activity_bucket, p.days_bucket, t.top_type
        |      FROM prof p JOIN tt t USING (user_id)),
        |gl AS (SELECT top_type, count(*) AS g FROM u GROUP BY 1),
        |gt AS (SELECT count(*) AS gn FROM u),
        |cl AS (SELECT activity_bucket, days_bucket, count(*) AS k
        |       FROM u GROUP BY 1, 2),
        |cc AS (SELECT activity_bucket, days_bucket, top_type, count(*) AS cnt
        |       FROM u GROUP BY 1, 2, 3),
        |sp AS (SELECT cl.activity_bucket, cl.days_bucket, cl.k, gl.top_type,
        |         gl.g, gt.gn, coalesce(cc.cnt, 0) AS cnt0
        |       FROM cl CROSS JOIN gl CROSS JOIN gt
        |       LEFT JOIN cc ON cc.activity_bucket = cl.activity_bucket
        |         AND cc.days_bucket = cl.days_bucket
        |         AND cc.top_type = gl.top_type),
        |ag AS (SELECT activity_bucket, days_bucket, any_value(k) AS k,
        |         any_value(gn) AS gn,
        |         sum(abs(cnt0 * gn - g * k)) AS num
        |       FROM sp GROUP BY 1, 2)
        |SELECT activity_bucket, days_bucket, k,
        |  CAST((num * 1000000) // (2 * k * gn) AS BIGINT) AS tvd_micro,
        |  CAST((num * 1000000) // (2 * k * gn) AS BIGINT) <= 250000 AS t_ok
        |FROM ag""".stripMargin,
    // doubled integer average ranks from the value census; the
    // tie-corrected z is the single rounded double
    "mann_whitney" ->
      """WITH b AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |         value + 0.0 AS v FROM events),
        |sp AS (SELECT event_type, (min(day) + max(day) + 1) // 2 AS split_day
        |       FROM b GROUP BY 1),
        |ce AS (SELECT b.event_type, b.v,
        |         CAST(sum(CASE WHEN b.day < sp.split_day THEN 1 ELSE 0 END)
        |           AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN b.day < sp.split_day THEN 0 ELSE 1 END)
        |           AS BIGINT) AS c2,
        |         count(*) AS c
        |       FROM b JOIN sp USING (event_type) GROUP BY 1, 2),
        |rk AS (SELECT *, CAST(coalesce(sum(c) OVER (PARTITION BY event_type
        |           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |           AND 1 PRECEDING), 0) AS BIGINT) AS below
        |       FROM ce),
        |ag AS (SELECT event_type,
        |         CAST(sum(c1) AS BIGINT) AS n1,
        |         CAST(sum(c2) AS BIGINT) AS n2,
        |         CAST(sum(c1 * (2 * below + c + 1)) AS BIGINT) AS r1_x2,
        |         CAST(sum(c * c * c - c) AS BIGINT) AS tie3
        |       FROM rk GROUP BY 1),
        |st AS (SELECT event_type, n1, n2,
        |         r1_x2 - n1 * (n1 + 1) AS u1_x2,
        |         CAST(n1 * n2 AS DOUBLE) / 12.0 *
        |           (CAST(n1 + n2 + 1 AS DOUBLE) -
        |            CAST(tie3 AS DOUBLE) /
        |              CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE)) AS varu
        |       FROM ag),
        |z AS (SELECT event_type, n1 AS n_early, n2 AS n_late, u1_x2,
        |        CASE WHEN varu > 0.0
        |          THEN round(CAST(u1_x2 - n1 * n2 AS DOUBLE) /
        |                 (2.0 * sqrt(varu)), 6) + 0
        |          ELSE 0.0 END AS z
        |      FROM st)
        |SELECT event_type, n_early, n_late, u1_x2, z,
        |  abs(z) > 1.96 AS significant
        |FROM z""".stripMargin,
    // Laplace-smoothed bin shares on the full type-by-bin spine;
    // bin-ordered ln fold rounded once; 0.1/0.2 verdict bands
    "psi_drift" ->
      """WITH b AS (SELECT min(epoch_ns(ts) // 86400000000000) AS d0,
        |         max(epoch_ns(ts) // 86400000000000) AS d1,
        |         min(value) AS vmin, max(value) AS vmax FROM events),
        |cnt AS (SELECT event_type,
        |         CASE WHEN epoch_ns(ts) // 86400000000000 < (d0 + d1 + 1) // 2
        |           THEN 'early' ELSE 'late' END AS half,
        |         least(9, CAST(floor((value - vmin) * 10 /
        |           greatest(vmax - vmin, 1e-12)) AS BIGINT)) AS bin,
        |         count(*) AS c
        |       FROM events CROSS JOIN b GROUP BY 1, 2, 3),
        |spine AS (SELECT event_type, bin
        |          FROM (SELECT DISTINCT event_type FROM cnt)
        |          CROSS JOIN (SELECT unnest(range(0, 10)) AS bin)),
        |cells AS (SELECT s.event_type, s.bin,
        |           coalesce(e.c, 0) AS c_e, coalesce(l.c, 0) AS c_l
        |         FROM spine s
        |         LEFT JOIN (SELECT event_type, bin, c FROM cnt
        |                    WHERE half = 'early') e USING (event_type, bin)
        |         LEFT JOIN (SELECT event_type, bin, c FROM cnt
        |                    WHERE half = 'late') l USING (event_type, bin)),
        |tot AS (SELECT event_type, CAST(sum(c_e) AS BIGINT) AS n_early,
        |          CAST(sum(c_l) AS BIGINT) AS n_late
        |        FROM cells GROUP BY 1),
        |ps AS (SELECT c.event_type, max(t.n_early) AS n_early,
        |         max(t.n_late) AS n_late,
        |         round(sum(
        |           ((c.c_l + 1) / CAST(t.n_late + 10 AS DOUBLE) -
        |            (c.c_e + 1) / CAST(t.n_early + 10 AS DOUBLE)) *
        |           ln(((c.c_l + 1) / CAST(t.n_late + 10 AS DOUBLE)) /
        |              ((c.c_e + 1) / CAST(t.n_early + 10 AS DOUBLE)))
        |           ORDER BY c.bin), 6) + 0 AS psi
        |       FROM cells c JOIN tot t USING (event_type) GROUP BY 1)
        |SELECT event_type, n_early, n_late,
        |  n_early > 0 AND n_late > 0 AS comparable,
        |  CASE WHEN n_early > 0 AND n_late > 0 THEN psi END AS psi,
        |  CASE WHEN NOT (n_early > 0 AND n_late > 0) THEN NULL
        |       WHEN psi < 0.1 THEN 'stable'
        |       WHEN psi < 0.2 THEN 'moderate'
        |       ELSE 'major' END AS verdict
        |FROM ps""".stripMargin,
    // doubled ranks on both axes (distinct days, census-averaged
    // values); five exact Long sums, one rounded division
    "spearman_trend" ->
      """WITH daily AS (SELECT event_type,
        |         epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(round(round(avg(value), 6) * 1000000) AS BIGINT) AS mm
        |       FROM events GROUP BY 1, 2),
        |cen AS (SELECT event_type, mm, count(*) AS c FROM daily GROUP BY 1, 2),
        |yr AS (SELECT event_type, mm,
        |         2 * CAST(coalesce(sum(c) OVER (PARTITION BY event_type
        |             ORDER BY mm ROWS BETWEEN UNBOUNDED PRECEDING
        |             AND 1 PRECEDING), 0) AS BIGINT) + c + 1 AS ry2
        |       FROM cen),
        |rx AS (SELECT event_type, mm,
        |         2 * row_number() OVER (PARTITION BY event_type
        |             ORDER BY day) AS rx2
        |       FROM daily),
        |j AS (SELECT r.event_type, r.rx2, y.ry2
        |      FROM rx r JOIN yr y USING (event_type, mm)),
        |s AS (SELECT event_type, count(*) AS n_days,
        |        CAST(sum(rx2) AS BIGINT) AS sx,
        |        CAST(sum(ry2) AS BIGINT) AS sy,
        |        CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
        |        CAST(sum(ry2 * ry2) AS BIGINT) AS syy,
        |        CAST(sum(rx2 * ry2) AS BIGINT) AS sxy
        |      FROM j GROUP BY 1),
        |r AS (SELECT event_type, n_days,
        |        CASE WHEN n_days * sxx - sx * sx > 0
        |              AND n_days * syy - sy * sy > 0
        |          THEN round(CAST(n_days * sxy - sx * sy AS DOUBLE) /
        |                 sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE) *
        |                      CAST(n_days * syy - sy * sy AS DOUBLE)), 6) + 0
        |          ELSE 0.0 END AS rho
        |      FROM s)
        |SELECT event_type, n_days, rho, abs(rho) > 0.5 AS monotone
        |FROM r""".stripMargin,
    // doubled-median sign filter (exact-median days dropped), one
    // lag for the run count, z from exact (n1, n2, R)
    "runs_test" ->
      """WITH daily AS (SELECT event_type,
        |         epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(round(round(avg(value), 6) * 1000000) AS BIGINT) AS mm
        |       FROM events GROUP BY 1, 2),
        |cen AS (SELECT event_type, mm, count(*) AS c FROM daily GROUP BY 1, 2),
        |cum AS (SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY mm
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(c) OVER (PARTITION BY event_type) AS n
        |       FROM cen),
        |med AS (SELECT event_type,
        |          sum(CASE WHEN cum - c < (n + 1) // 2 AND (n + 1) // 2 <= cum
        |            THEN mm ELSE 0 END) +
        |          sum(CASE WHEN cum - c < n // 2 + 1 AND n // 2 + 1 <= cum
        |            THEN mm ELSE 0 END) AS med_x2
        |        FROM cum GROUP BY 1),
        |sg AS (SELECT d.event_type, d.day,
        |         CASE WHEN 2 * d.mm > m.med_x2 THEN 1 ELSE 0 END AS above
        |       FROM daily d JOIN med m USING (event_type)
        |       WHERE 2 * d.mm <> m.med_x2),
        |lg AS (SELECT event_type, above, lag(above) OVER (
        |         PARTITION BY event_type ORDER BY day) AS prev
        |       FROM sg),
        |ag AS (SELECT event_type, CAST(sum(above) AS BIGINT) AS n1,
        |         CAST(sum(1 - above) AS BIGINT) AS n2,
        |         CAST(sum(CASE WHEN prev IS NULL OR prev <> above
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
        |       FROM lg GROUP BY 1),
        |st AS (SELECT *,
        |         CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
        |           THEN 2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) /
        |                (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1))
        |           ELSE 0.0 END AS varr
        |       FROM ag)
        |SELECT event_type, n1 AS n_above, n2 AS n_below, n_runs,
        |  CASE WHEN varr > 0.0
        |    THEN round((n_runs - (2.0 * n1 * n2 / (n1 + n2) + 1.0)) /
        |           sqrt(varr), 6) + 0
        |    ELSE 0.0 END AS z,
        |  abs(CASE WHEN varr > 0.0
        |    THEN round((n_runs - (2.0 * n1 * n2 / (n1 + n2) + 1.0)) /
        |           sqrt(varr), 6) + 0
        |    ELSE 0.0 END) > 1.96 AS nonrandom
        |FROM st""".stripMargin,
    // agg-then-broadcast-dims order mirrored; quarter + 'R' filters
    "q10_returned_items" ->
      """WITH l AS (SELECT l_orderkey,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) *
        |           (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_cp
        |       FROM lineitem WHERE l_returnflag = 'R'),
        |ag AS (SELECT o.o_custkey,
        |         CAST(sum(l.rev_cp) AS BIGINT) AS revenue_cp,
        |         count(*) AS n_returned
        |       FROM orders o JOIN l ON l.l_orderkey = o.o_orderkey
        |       WHERE o.o_orderdate >= DATE '1996-01-01'
        |         AND o.o_orderdate < DATE '1996-04-01'
        |       GROUP BY 1),
        |top AS (SELECT * FROM ag ORDER BY revenue_cp DESC, o_custkey LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY t.revenue_cp DESC, c.c_custkey)
        |    AS BIGINT) AS rank,
        |  c.c_custkey, c.c_name, n.n_name,
        |  round(c.c_acctbal, 2) + 0 AS c_acctbal,
        |  t.revenue_cp, t.n_returned
        |FROM top t
        |JOIN customer c ON c.c_custkey = t.o_custkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey""".stripMargin,
    // the correlated join as one SQL statement; cent-x-pct BIGINTs
    "q5_local_supplier" ->
      """WITH rev AS (SELECT l_orderkey, l_suppkey,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) *
        |           (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_cp
        |       FROM lineitem),
        |ag AS (SELECT n.n_name,
        |         CAST(sum(r.rev_cp) AS BIGINT) AS revenue_cp,
        |         count(*) AS n_items
        |       FROM orders o
        |       JOIN customer c ON c.c_custkey = o.o_custkey
        |       JOIN rev r ON r.l_orderkey = o.o_orderkey
        |       JOIN supplier s ON s.s_suppkey = r.l_suppkey
        |         AND s.s_nationkey = c.c_nationkey
        |       JOIN nation n ON n.n_nationkey = s.s_nationkey
        |       JOIN region rg ON rg.r_regionkey = n.n_regionkey
        |       WHERE rg.r_name = 'ASIA'
        |         AND o.o_orderdate >= DATE '1996-01-01'
        |         AND o.o_orderdate < DATE '1997-01-01'
        |       GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY revenue_cp DESC, n_name)
        |    AS BIGINT) AS rank,
        |  n_name, revenue_cp, n_items
        |FROM ag""".stripMargin,
    // the correlated EXISTS stated verbatim — the engine's left-semi
    // decorrelation must reproduce it
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= DATE '1996-01-01'
        |  AND o.o_orderdate < DATE '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1""".stripMargin,
    // EXISTS + NOT EXISTS on the same fact, stated verbatim — the
    // engine's semi + anti pair must reproduce it
    "q21_suppliers_kept_waiting" ->
      """WITH late AS (
        |  SELECT DISTINCT l.l_orderkey, l.l_suppkey
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderstatus = 'F'
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY),
        |kept AS (
        |  SELECT * FROM late t
        |  WHERE EXISTS (SELECT 1 FROM lineitem l2
        |          WHERE l2.l_orderkey = t.l_orderkey
        |            AND l2.l_suppkey <> t.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM late y
        |          WHERE y.l_orderkey = t.l_orderkey
        |            AND y.l_suppkey <> t.l_suppkey)),
        |ag AS (SELECT l_suppkey, count(*) AS numwait FROM kept GROUP BY 1),
        |top AS (SELECT a.numwait, s.s_name, n.n_name FROM ag a
        |        JOIN supplier s ON s.s_suppkey = a.l_suppkey
        |        JOIN nation n ON n.n_nationkey = s.s_nationkey
        |        ORDER BY a.numwait DESC, s.s_name LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY numwait DESC, s_name)
        |    AS BIGINT) AS rank,
        |  s_name, n_name, numwait
        |FROM top""".stripMargin,
    // the correlated scalar-min subquery stated verbatim — the
    // engine's min-agg + equi-join-back must reproduce it, ties kept
    "q2_min_cost_supplier" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |         min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_cp
        |       FROM lineitem GROUP BY 1, 2)
        |SELECT round(s.s_acctbal, 2) + 0 AS s_acctbal, s.s_name, n.n_name,
        |  p.p_partkey, p.p_name, p.p_type, ps.cost_cp
        |FROM part p
        |JOIN ps ON ps.l_partkey = p.p_partkey
        |JOIN supplier s ON s.s_suppkey = ps.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE p.p_size = 15
        |  AND ps.cost_cp = (SELECT min(ps2.cost_cp) FROM ps ps2
        |                    WHERE ps2.l_partkey = p.p_partkey)""".stripMargin,
    // bucketing must not change a single row — the oracle is the
    // plain join + agg; the zero-exchange plan shape is PlanSpec's job
    "bucket_join_receipt" ->
      """SELECT o.o_orderstatus, count(*) AS n_items,
        |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cp
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1""".stripMargin,
    // the round-trip identity: melt(pivot(x)) = the plain census
    "events_unpivot" ->
      """SELECT user_id, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    // DuckDB replays the same three-valued-logic semantics verbatim
    "null_aware_antijoin" ->
      """WITH keys AS (SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL
        |         ELSE o_custkey END AS k
        |       FROM orders WHERE o_orderstatus = 'F')
        |SELECT
        |  (SELECT count(*) FROM customer
        |   WHERE c_custkey NOT IN (SELECT k FROM keys))
        |    AS n_not_in_with_null,
        |  (SELECT count(*) FROM customer
        |   WHERE c_custkey NOT IN (SELECT k FROM keys WHERE k IS NOT NULL))
        |    AS n_not_in_clean,
        |  (SELECT count(*) FROM customer c
        |   WHERE NOT EXISTS (SELECT 1 FROM keys x WHERE x.k = c.c_custkey))
        |    AS n_not_exists,
        |  (SELECT count(*) FROM keys WHERE k IS NULL) AS n_null_keys""".stripMargin,
    "pricing_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |           CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cp_pct
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1996-01-01'
        |  AND l_shipdate < DATE '1997-01-01'
        |  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
        |  AND l_quantity < 24""".stripMargin,
    "q14_promo_revenue" ->
      """WITH j AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) *
        |         (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_cp,
        |         p.p_type
        |       FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |       WHERE l.l_shipdate >= DATE '1996-09-01'
        |         AND l.l_shipdate < DATE '1996-10-01'),
        |ag AS (SELECT
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_cp ELSE 0 END)
        |    AS BIGINT) AS promo_cp_pct,
        |  CAST(sum(rev_cp) AS BIGINT) AS total_cp_pct FROM j)
        |SELECT promo_cp_pct, total_cp_pct,
        |  CAST((CAST(promo_cp_pct AS HUGEINT) * 1000000) // total_cp_pct
        |    AS BIGINT) AS promo_share_micro
        |FROM ag""".stripMargin,
    // the correlated AVG subquery stated verbatim (safe here: integral
    // quantities + bounded per-part counts keep 0.2*avg at least
    // 1/(5*cnt) away from any quantity unless exactly ON it, where
    // both engines' doubles land exactly — see q17 scaladoc)
    "q17_small_quantity" ->
      """SELECT p.p_brand, count(*) AS n_small,
        |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cp
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand IN ('Brand#1', 'Brand#2')
        |  AND l.l_quantity < 0.2 * (SELECT avg(l2.l_quantity)
        |                            FROM lineitem l2
        |                            WHERE l2.l_partkey = l.l_partkey)
        |GROUP BY 1""".stripMargin,
    "q19_disjunctive_revenue" ->
      """SELECT count(*) AS n_items,
        |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |           (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
        |    AS BIGINT) AS revenue_cp_pct
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
        |       AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
        |       AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin,
    // the scalar subquery + correlated NOT EXISTS stated verbatim
    "q22_global_balance" ->
      """WITH pos AS (SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
        |           AS BIGINT) AS s, count(*) AS n
        |        FROM customer WHERE CAST(round(c_acctbal * 100) AS BIGINT) > 0)
        |SELECT n.n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS total_bal_cp
        |FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey, pos
        |WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * pos.n > pos.s
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= DATE '1999-01-01')
        |GROUP BY 1""".stripMargin,
    "q8_market_share" ->
      """WITH flow AS (
        |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |    CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev,
        |    sn.n_name AS supp_nation
        |  FROM lineitem l
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer cu ON cu.c_custkey = o.o_custkey
        |  JOIN nation cn ON cn.n_nationkey = cu.c_nationkey
        |  JOIN region r ON r.r_regionkey = cn.n_regionkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        |  WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
        |    AND o.o_orderdate >= DATE '1996-01-01'
        |    AND o.o_orderdate < DATE '1998-01-01')
        |SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN rev ELSE 0 END)
        |    AS BIGINT) AS nation_rev,
        |  CAST(sum(rev) AS BIGINT) AS total_rev, count(*) AS n,
        |  CAST((CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN rev ELSE 0 END)
        |    AS HUGEINT) * 1000000) // CAST(sum(rev) AS HUGEINT)
        |    AS BIGINT) AS share_micro
        |FROM flow GROUP BY 1""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l.l_shipdate) AS BIGINT) AS l_year, count(*) AS n,
        |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |           (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
        |    AS BIGINT) AS revenue
        |FROM lineitem l
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer cu ON cu.c_custkey = o.o_custkey
        |JOIN nation cn ON cn.n_nationkey = cu.c_nationkey
        |WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        |    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        |  AND l.l_shipdate >= DATE '1996-01-01'
        |  AND l.l_shipdate < DATE '1998-01-01'
        |GROUP BY 1, 2, 3""".stripMargin,
    // the scalar MAX subquery stated verbatim — ties kept
    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |             (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |      AS BIGINT) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1996-01-01'
        |    AND l_shipdate < DATE '1996-04-01'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, r.total_rev
        |FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
        |WHERE r.total_rev = (SELECT max(total_rev) FROM rev)""".stripMargin,
    // the correlated scalar COUNT stated verbatim — the engine's
    // aggregate-before-join + coalesce(0) must reproduce it,
    // zero-order customers included
    "q13_customer_distribution" ->
      """WITH co AS (SELECT c.c_custkey,
        |         (SELECT count(*) FROM orders o
        |          WHERE o.o_custkey = c.c_custkey
        |            AND o.o_orderpriority <> '1-URGENT') AS c_count
        |       FROM customer c)
        |SELECT c_count, count(*) AS custdist FROM co GROUP BY 1""".stripMargin,
    // the scalar-subquery HAVING stated verbatim over the derived
    // offer book; value arithmetic in HUGEINT (Spark: DECIMAL(38,0)),
    // threshold compared in exact integers (value·n > 3·total — the
    // scale-invariant restatement of TPC-H's per-SF fraction)
    "q11_important_stock" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |         min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_cp,
        |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS availqty
        |       FROM lineitem GROUP BY 1, 2),
        |slice AS (SELECT ps.* FROM ps
        |          JOIN supplier s ON s.s_suppkey = ps.l_suppkey
        |          JOIN nation n ON n.n_nationkey = s.s_nationkey
        |          WHERE n.n_name = 'NATION_3'),
        |pp AS (SELECT l_partkey AS ps_partkey,
        |         sum(CAST(cost_cp AS HUGEINT) * availqty) AS v
        |       FROM slice GROUP BY 1)
        |SELECT ps_partkey, CAST(v AS BIGINT) AS value_cp
        |FROM pp
        |WHERE pp.v * (SELECT count(*) FROM pp) >
        |  3 * (SELECT sum(v) FROM pp)""".stripMargin,
    // complaints NOT IN stated verbatim (suppkeys non-null, so the
    // engine's plain anti-join is exactly these semantics)
    "q16_parts_suppliers" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
        |  count(DISTINCT ps.l_suppkey) AS supplier_cnt
        |FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
        |WHERE p.p_brand <> 'Brand#1' AND p.p_type NOT LIKE 'MEDIUM%'
        |  AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                           WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,
    // the nested-IN chain with BOTH correlated scalars (sum, count)
    // stated verbatim and compared in exact integers — no float avg
    "q20_potential_promotion" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS availqty
        |       FROM lineitem GROUP BY 1, 2)
        |SELECT s.s_name, n.n_name
        |FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE s.s_suppkey IN (
        |  SELECT ps.l_suppkey FROM ps
        |  WHERE ps.l_partkey IN (SELECT p_partkey FROM part
        |                         WHERE p_name LIKE 'red%')
        |    AND ps.availqty * (SELECT count(*) FROM ps c
        |                       WHERE c.l_partkey = ps.l_partkey) >
        |        2 * (SELECT CAST(sum(g.availqty) AS BIGINT) FROM ps g
        |             WHERE g.l_partkey = ps.l_partkey))""".stripMargin,
    // five-way star with the derived cost book; profit summed in
    // HUGEINT, truncated (toward zero, both engines) to dollars
    "q9_product_profit" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |         min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_cp
        |       FROM lineitem GROUP BY 1, 2)
        |SELECT n.n_name AS nation,
        |  CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |  CAST(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |        (100 - CAST(round(l.l_discount * 100) AS BIGINT)) -
        |        CAST(ps.cost_cp AS HUGEINT) * 100 *
        |          CAST(round(l.l_quantity) AS BIGINT))
        |    AS HUGEINT) // 10000 AS BIGINT) AS profit_dollars
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN ps ON ps.l_partkey = l.l_partkey AND ps.l_suppkey = l.l_suppkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE p.p_name LIKE '%red%'
        |GROUP BY 1, 2""".stripMargin,
    // one price census, two cumulative-weight rank picks
    "weighted_median" ->
      """WITH cen AS (SELECT l_returnflag AS flag,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cp,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w,
        |         count(*) AS c
        |       FROM lineitem GROUP BY 1, 2),
        |cum AS (SELECT *,
        |         sum(w) OVER (PARTITION BY flag ORDER BY price_cp
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |         sum(c) OVER (PARTITION BY flag ORDER BY price_cp
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
        |         sum(w) OVER (PARTITION BY flag) AS tw,
        |         sum(c) OVER (PARTITION BY flag) AS tc
        |       FROM cen),
        |ag AS (SELECT flag, CAST(max(tw) AS BIGINT) AS total_qty,
        |         CAST(max(tc) AS BIGINT) AS n_lines,
        |         CAST(sum(CASE WHEN cw - w < (tw + 1) // 2
        |             AND (tw + 1) // 2 <= cw THEN price_cp ELSE 0 END) +
        |           sum(CASE WHEN cw - w < tw // 2 + 1
        |             AND tw // 2 + 1 <= cw THEN price_cp ELSE 0 END)
        |           AS BIGINT) AS wmed_x2,
        |         CAST(sum(CASE WHEN cc - c < (tc + 1) // 2
        |             AND (tc + 1) // 2 <= cc THEN price_cp ELSE 0 END) +
        |           sum(CASE WHEN cc - c < tc // 2 + 1
        |             AND tc // 2 + 1 <= cc THEN price_cp ELSE 0 END)
        |           AS BIGINT) AS med_x2
        |       FROM cum GROUP BY 1)
        |SELECT flag, total_qty, n_lines,
        |  wmed_x2 // 2 AS weighted_median_cp, med_x2 // 2 AS median_cp
        |FROM ag""".stripMargin,
    // both aggregation orders in one query; decomposable-SUM identity
    "eager_agg" ->
      """WITH rev AS (SELECT l_orderkey,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) *
        |           (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_cp
        |       FROM lineitem),
        |late AS (SELECT n.n_name, CAST(sum(r.rev_cp) AS BIGINT) AS rev_late_cp
        |         FROM rev r
        |         JOIN orders o ON o.o_orderkey = r.l_orderkey
        |         JOIN customer c ON c.c_custkey = o.o_custkey
        |         JOIN nation n ON n.n_nationkey = c.c_nationkey
        |         GROUP BY 1),
        |po AS (SELECT l_orderkey, CAST(sum(rev_cp) AS BIGINT) AS rev_cp,
        |         count(*) AS n_items
        |       FROM rev GROUP BY 1),
        |pc AS (SELECT o.o_custkey, CAST(sum(p.rev_cp) AS BIGINT) AS rev_cp,
        |         CAST(sum(p.n_items) AS BIGINT) AS n_items,
        |         count(*) AS n_orders
        |       FROM po p JOIN orders o ON o.o_orderkey = p.l_orderkey
        |       GROUP BY 1),
        |eag AS (SELECT n.n_name, CAST(sum(p.rev_cp) AS BIGINT) AS revenue_cp,
        |          CAST(sum(p.n_items) AS BIGINT) AS n_lineitems,
        |          CAST(sum(p.n_orders) AS BIGINT) AS n_orders,
        |          count(*) AS n_customers
        |        FROM pc p
        |        JOIN customer c ON c.c_custkey = p.o_custkey
        |        JOIN nation n ON n.n_nationkey = c.c_nationkey
        |        GROUP BY 1)
        |SELECT e.n_name, e.n_lineitems, e.n_orders, e.n_customers,
        |  e.revenue_cp, e.revenue_cp = l.rev_late_cp AS ok
        |FROM eag e JOIN late l USING (n_name)""".stripMargin,
    // skyline via two running maxima on the distinct-price spine;
    // exact cents; ties on both axes survive together
    "pareto_front" ->
      """WITH cen AS (SELECT CAST(round(p_retailprice * 100) AS BIGINT)
        |           AS price_cp,
        |         CAST(p_size AS BIGINT) AS p_size, count(*) AS n_parts,
        |         min(p_partkey) AS first_part
        |       FROM part GROUP BY 1, 2),
        |lvl AS (SELECT price_cp, max(p_size) AS smax FROM cen GROUP BY 1),
        |lv2 AS (SELECT price_cp, smax, max(smax) OVER (ORDER BY price_cp
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rbmax
        |        FROM lvl),
        |fr AS (SELECT c.price_cp, c.p_size, c.n_parts, c.first_part
        |       FROM cen c JOIN lv2 l USING (price_cp)
        |       WHERE (l.rbmax IS NULL OR l.rbmax < c.p_size)
        |         AND l.smax <= c.p_size)
        |SELECT CAST(row_number() OVER (ORDER BY price_cp, p_size) AS BIGINT)
        |    AS rank,
        |  price_cp, p_size, CAST(n_parts AS BIGINT) AS n_parts, first_part
        |FROM fr""".stripMargin,
    // pmod-floored slope micros, doubled median over the rank window
    "theil_sen_trend" ->
      """WITH daily AS (SELECT event_type,
        |         epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(round(round(avg(value), 6) * 1000000) AS BIGINT) AS mm
        |       FROM events GROUP BY 1, 2),
        |pr AS (SELECT a.event_type, b.mm - a.mm AS num, b.day - a.day AS den
        |       FROM daily a JOIN daily b ON a.event_type = b.event_type
        |         AND a.day < b.day),
        |sl AS (SELECT event_type,
        |         (num - ((num % den) + den) % den) // den AS slope_micro
        |       FROM pr),
        |ct AS (SELECT event_type, count(*) AS n_pairs,
        |         (count(*) + 1) // 2 AS lo, count(*) // 2 + 1 AS hi
        |       FROM sl GROUP BY 1),
        |rk AS (SELECT s.event_type, s.slope_micro, ct.n_pairs, ct.lo, ct.hi,
        |         row_number() OVER (PARTITION BY s.event_type
        |           ORDER BY s.slope_micro) AS rn
        |       FROM sl s JOIN ct USING (event_type)),
        |ag AS (SELECT event_type, any_value(n_pairs) AS n_pairs,
        |         sum(CASE WHEN rn = lo THEN slope_micro ELSE 0 END) +
        |         sum(CASE WHEN rn = hi THEN slope_micro ELSE 0 END) AS med_x2
        |       FROM rk GROUP BY 1),
        |nd AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1)
        |SELECT ag.event_type, nd.n_days, ag.n_pairs,
        |  CAST(ag.med_x2 AS BIGINT) AS med_x2,
        |  CAST((ag.med_x2 - ((ag.med_x2 % 2) + 2) % 2) // 2 AS BIGINT)
        |    AS ts_slope_micro
        |FROM ag JOIN nd USING (event_type)""".stripMargin,
    // string-of-cents first digit, literal micros expectation table
    // (sums to exactly 1e6), digit-ordered chi-square fold
    "benford_audit" ->
      """WITH spn AS (SELECT * FROM (VALUES (1, 301030), (2, 176091),
        |         (3, 124939), (4, 96910), (5, 79181), (6, 66947),
        |         (7, 57992), (8, 51153), (9, 45757)) t(digit, benford_micro)),
        |ce AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
        |         AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |       FROM orders),
        |ob AS (SELECT digit, count(*) AS n_obs FROM ce GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM ce),
        |j AS (SELECT spn.digit, coalesce(ob.n_obs, 0) AS n_obs,
        |        spn.benford_micro, nn.n,
        |        nn.n * spn.benford_micro AS exp_micro
        |      FROM spn LEFT JOIN ob USING (digit) CROSS JOIN nn),
        |c AS (SELECT *,
        |        CAST(n_obs * 1000000 - exp_micro AS DOUBLE) *
        |        CAST(n_obs * 1000000 - exp_micro AS DOUBLE) /
        |        CAST(exp_micro * 1000000 AS DOUBLE) AS contrib_raw
        |      FROM j),
        |ch AS (SELECT round(sum(contrib_raw ORDER BY digit), 6) + 0 AS chi2
        |       FROM c)
        |SELECT CAST(c.digit AS BIGINT) AS digit, c.n_obs,
        |  CAST((c.n_obs * 1000000) // c.n AS BIGINT) AS share_micro,
        |  CAST(c.benford_micro AS BIGINT) AS benford_micro,
        |  round(c.contrib_raw, 6) + 0 AS chi2_contrib,
        |  ch.chi2, ch.chi2 <= 15.507313 AS benford_ok
        |FROM c CROSS JOIN ch""".stripMargin,
    "k_anonymity" ->
      """WITH tc AS (SELECT user_id, event_type, count(*) AS n_t
        |            FROM events GROUP BY 1, 2),
        |tt AS (SELECT user_id, event_type AS top_type FROM (
        |         SELECT user_id, event_type,
        |           row_number() OVER (PARTITION BY user_id
        |             ORDER BY n_t DESC, event_type) AS rn
        |         FROM tc) WHERE rn = 1),
        |pr AS (SELECT user_id, count(*) AS n_ev,
        |         count(DISTINCT epoch_ns(ts) // 86400000000000) AS n_days
        |       FROM events GROUP BY 1),
        |prof AS (SELECT user_id,
        |           least(10, n_ev // 10) AS activity_bucket,
        |           least(10, n_days // 3) AS days_bucket
        |         FROM pr),
        |cls AS (SELECT p.activity_bucket, t.top_type, p.days_bucket,
        |          count(*) AS k
        |        FROM prof p JOIN tt t USING (user_id) GROUP BY 1, 2, 3),
        |band AS (SELECT CASE WHEN k = 1 THEN '1' WHEN k <= 4 THEN '2-4'
        |                     WHEN k <= 19 THEN '5-19' ELSE '20+' END AS k_band,
        |                k
        |         FROM cls)
        |SELECT k_band, count(*) AS n_classes, CAST(sum(k) AS BIGINT) AS n_users
        |FROM band GROUP BY 1""".stripMargin,
    "sessionize" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CASE WHEN prev_ts IS NULL OR ts_ns - prev_ts > 1800000000000
        |                THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_idx
        |FROM (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns,
        |        lag(epoch_ns(ts), 1) OVER (PARTITION BY user_id
        |          ORDER BY epoch_ns(ts), event_id) AS prev_ts
        |      FROM events)""".stripMargin,
    // plain theta join twin of the hour-bin candidate reduction —
    // same sessions CTE as sessionize, folded to intervals; the
    // engine's binned equi-join must produce EXACTLY the pairs the
    // naive overlap predicate does
    "sessions_overlap" ->
      """WITH s0 AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |        lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |          ORDER BY epoch_us(ts), event_id) AS prev_ts
        |      FROM events),
        |s1 AS (SELECT user_id, ts_us,
        |    sum(CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM s0),
        |sess AS (SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |    min(ts_us) AS start_ts, max(ts_us) AS end_ts, count(*) AS n
        |  FROM s1 GROUP BY 1, 2)
        |SELECT a.user_id AS a_user, a.session_idx AS a_session,
        |       b.user_id AS b_user, b.session_idx AS b_session,
        |       least(a.end_ts, b.end_ts) - greatest(a.start_ts, b.start_ts) AS overlap_us
        |FROM sess a JOIN sess b
        |  ON a.user_id <> b.user_id
        | AND a.start_ts <= b.end_ts AND b.start_ts <= a.end_ts
        |WHERE a.n >= 3""".stripMargin,
    // chained conditional window minima, one CTE layer per stage (a
    // stage's entry time is a per-user constant the next stage's
    // filter references); strict > keeps simultaneous events at one
    // stage only
    "events_funnel" ->
      """WITH fe AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |f1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
        |         OVER (PARTITION BY user_id) AS t1 FROM fe),
        |f2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND t1 IS NOT NULL
        |                          AND ts_us > t1 THEN ts_us END)
        |         OVER (PARTITION BY user_id) AS t2 FROM f1),
        |f3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND t2 IS NOT NULL
        |                          AND ts_us > t2 THEN ts_us END)
        |         OVER (PARTITION BY user_id) AS t3 FROM f2)
        |SELECT user_id, max(t1) AS t1_us, max(t2) AS t2_us, max(t3) AS t3_us,
        |  CAST(CASE WHEN max(t3) IS NOT NULL THEN 3
        |            WHEN max(t2) IS NOT NULL THEN 2
        |            WHEN max(t1) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS funnel_depth
        |FROM f3 GROUP BY user_id""".stripMargin,
    // oracle twin of the union-tag as-of sweep, with identical tie
    // rules (right-before-left at equal ts; largest view_event_id
    // wins among same-ts views) — deterministic by construction, so
    // no reliance on any native ASOF tie behavior
    "asof_attribution" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS tsn
        |           FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, epoch_us(ts) AS tsn, event_id AS view_event_id, value
        |      FROM events WHERE event_type = 'view'),
        |u AS (
        |  SELECT user_id, tsn, 1 AS side, 9223372036854775807 AS tie,
        |         event_id, NULL AS view_event_id, NULL AS vvalue FROM l
        |  UNION ALL
        |  SELECT user_id, tsn, 0, view_event_id, NULL, view_event_id, value FROM r),
        |w AS (SELECT user_id, tsn, side, event_id,
        |  last_value(view_event_id IGNORE NULLS) OVER win AS m_view,
        |  last_value(CASE WHEN side = 0 THEN tsn END IGNORE NULLS) OVER win AS m_tsn,
        |  last_value(vvalue IGNORE NULLS) OVER win AS m_value
        |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY tsn, side, tie
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, m_view AS view_event_id, tsn - m_tsn AS gap_us,
        |       round(m_value, 6) + 0 AS view_value
        |FROM w WHERE side = 1""".stripMargin,
    "events_sliding_hour" ->
      """SELECT event_id, user_id,
        |  count(*) OVER win AS n_trailing_hour,
        |  round(sum(value) OVER win, 4) + 0 AS sum_trailing_hour
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
        |WINDOW win AS (PARTITION BY user_id ORDER BY ts_us
        |               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "rollup_pricing" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       round(sum(l_quantity), 2) + 0 AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "cube_pricing" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       round(sum(l_quantity), 2) + 0 AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    // the salting is an execution detail — the oracle is the PLAIN
    // join+agg, which is exactly the row-identity guarantee salting
    // must preserve
    "salted_brand_revenue" ->
      """SELECT p.p_brand,
        |  round(sum(l.l_extendedprice), 2) + 0 AS revenue, count(*) AS n_items
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY 1""".stripMargin,
    "q3_shipping_priority" ->
      """WITH j AS (
        |  SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
        |    CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
        |      AS revenue_cp,
        |    count(*) AS n_items
        |  FROM customer c
        |  JOIN orders o ON c.c_custkey = o.o_custkey
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  WHERE c.c_mktsegment = 'BUILDING'
        |    AND o.o_orderdate < TIMESTAMP '1998-06-01'
        |    AND l.l_shipdate > TIMESTAMP '1998-06-01'
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(row_number() OVER (ORDER BY revenue_cp DESC, o_orderkey)
        |         AS BIGINT) AS rank,
        |       o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       o_orderpriority, revenue_cp, n_items
        |FROM j
        |QUALIFY row_number() OVER (ORDER BY revenue_cp DESC, o_orderkey) <= 10""".stripMargin,
    // lineitem-only HAVING prune, then orders + customer joins;
    // exact cents/units with the full tie order
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |    AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 300),
        |j AS (
        |  SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |    strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
        |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
        |    b.sum_qty
        |  FROM orders o JOIN big b ON o.o_orderkey = b.l_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT CAST(row_number() OVER (ORDER BY total_cents DESC, o_orderkey)
        |         AS BIGINT) AS rank,
        |       c_name, c_custkey, o_orderkey, order_date, total_cents, sum_qty
        |FROM j
        |QUALIFY row_number() OVER (ORDER BY total_cents DESC, o_orderkey)
        |  <= 100""".stripMargin,
    // pure-in-doc_id snapshot lineage; live census per snapshot and
    // last-reference cohorts, all integer
    "vacuum_plan" ->
      """WITH f AS (SELECT doc_id, n_chars AS bytes, doc_id % 3 AS add_snap,
        |         least(doc_id % 3 + 1 + doc_id % 4, 5) AS del_snap
        |       FROM documents),
        |snaps AS (SELECT unnest(range(0, 5)) AS snapshot),
        |live AS (SELECT s.snapshot, count(*) AS n_live,
        |           CAST(sum(f.bytes) AS BIGINT) AS live_bytes
        |         FROM f CROSS JOIN snaps s
        |         WHERE s.snapshot >= f.add_snap AND s.snapshot < f.del_snap
        |         GROUP BY 1),
        |lr AS (SELECT del_snap - 1 AS snapshot, count(*) AS n_last_ref,
        |         CAST(sum(bytes) AS BIGINT) AS last_ref_bytes
        |       FROM f GROUP BY 1)
        |SELECT live.snapshot, live.snapshot >= 3 AS kept, live.n_live,
        |  live.live_bytes, coalesce(lr.n_last_ref, 0) AS n_last_ref,
        |  coalesce(lr.last_ref_bytes, 0) AS last_ref_bytes
        |FROM live LEFT JOIN lr USING (snapshot)""".stripMargin,
    "skew_join_receipt" ->
      """WITH t AS (
        |  SELECT count(*) AS n_rows,
        |         CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
        |           AS revenue_cents
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
        |SELECT m.method, t.n_rows, t.revenue_cents, TRUE AS agrees
        |FROM (VALUES ('shuffle'), ('broadcast'), ('salted')) m(method), t""".stripMargin,
    "rfm_segments" ->
      """WITH p AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
        |             CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events WHERE event_type = 'purchase'),
        |h AS (SELECT max(day) AS hday FROM p),
        |rfm AS (SELECT user_id, max(day) AS last_day, count(*) AS f,
        |          CAST(sum(cents) AS BIGINT) AS m_cents
        |        FROM p GROUP BY 1),
        |r2 AS (SELECT user_id, h.hday - last_day AS r_days, f, m_cents
        |       FROM rfm, h),
        |nn AS (SELECT count(*) AS n FROM r2),
        |rs AS (SELECT r_days, (5 * cum + nn.n - 1) // nn.n AS r_days_score
        |       FROM (SELECT r_days,
        |               CAST(sum(cnt) OVER (ORDER BY r_days DESC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                 AS BIGINT) AS cum
        |             FROM (SELECT r_days, count(*) AS cnt FROM r2 GROUP BY 1)),
        |            nn),
        |fs AS (SELECT f, (5 * cum + nn.n - 1) // nn.n AS f_score
        |       FROM (SELECT f,
        |               CAST(sum(cnt) OVER (ORDER BY f
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                 AS BIGINT) AS cum
        |             FROM (SELECT f, count(*) AS cnt FROM r2 GROUP BY 1)),
        |            nn),
        |ms AS (SELECT m_cents, (5 * cum + nn.n - 1) // nn.n AS m_cents_score
        |       FROM (SELECT m_cents,
        |               CAST(sum(cnt) OVER (ORDER BY m_cents
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                 AS BIGINT) AS cum
        |             FROM (SELECT m_cents, count(*) AS cnt FROM r2 GROUP BY 1)),
        |            nn),
        |sc AS (SELECT r2.*, rs.r_days_score, fs.f_score, ms.m_cents_score
        |       FROM r2 JOIN rs USING (r_days) JOIN fs USING (f)
        |       JOIN ms USING (m_cents))
        |SELECT CASE WHEN r_days_score >= 4 AND f_score >= 4 THEN 'champion'
        |            WHEN f_score >= 4 THEN 'loyal'
        |            WHEN m_cents_score >= 4 THEN 'big_spender'
        |            WHEN r_days_score <= 2 AND f_score <= 2 THEN 'hibernating'
        |            WHEN r_days_score <= 2 THEN 'at_risk'
        |            ELSE 'regular' END AS segment,
        |       count(*) AS n_users,
        |       CAST(sum(m_cents) AS BIGINT) AS total_m_cents,
        |       round(avg(r_days), 6) + 0 AS avg_r_days
        |FROM sc GROUP BY 1""".stripMargin,
    "pre_purchase_paths" ->
      """WITH s AS (SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        |           FROM events),
        |lagd AS (SELECT event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY tsn, event_id)
        |      AS p1,
        |    lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY tsn, event_id)
        |      AS p2,
        |    lag(event_type, 3) OVER (PARTITION BY user_id ORDER BY tsn, event_id)
        |      AS p3
        |  FROM s),
        |p AS (SELECT p3 || '>' || p2 || '>' || p1 AS path, count(*) AS n
        |      FROM lagd WHERE event_type = 'purchase' AND p3 IS NOT NULL
        |      GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM p)
        |SELECT CAST(row_number() OVER (ORDER BY p.n DESC, p.path) AS BIGINT)
        |         AS rank,
        |       p.path, p.n, round(p.n / t.tt, 6) + 0 AS share
        |FROM p, t
        |QUALIFY row_number() OVER (ORDER BY p.n DESC, p.path) <= 10""".stripMargin,
    "survival_curve" ->
      """WITH bu AS (SELECT user_id,
        |         min(epoch_ns(ts) // 86400000000000) AS d0,
        |         max(epoch_ns(ts) // 86400000000000) AS d1
        |       FROM events GROUP BY 1),
        |mx AS (SELECT max(d1) AS max_day FROM bu),
        |u AS (SELECT d1 - d0 + 1 AS duration,
        |        CASE WHEN d1 < mx.max_day THEN 1 ELSE 0 END AS churned
        |      FROM bu, mx),
        |pt AS (SELECT duration, count(*) AS n_t,
        |         CAST(sum(churned) AS BIGINT) AS n_churned
        |       FROM u GROUP BY 1),
        |rk AS (SELECT *, n_t - n_churned AS n_censored,
        |         CAST(sum(n_t) OVER (ORDER BY duration DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS n_risk
        |       FROM pt),
        |lf AS (SELECT *,
        |         CASE WHEN n_churned = n_risk THEN 0
        |           ELSE CAST(round(ln(1 - n_churned / CAST(n_risk AS DOUBLE))
        |             * 1000000.0) AS BIGINT) END AS lf_micro,
        |         max(CASE WHEN n_churned = n_risk THEN 1 ELSE 0 END)
        |           OVER (ORDER BY duration
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zero_seen
        |       FROM rk),
        |cm AS (SELECT *,
        |         CAST(sum(lf_micro) OVER (ORDER BY duration
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS cum_lf
        |       FROM lf)
        |SELECT duration, n_risk, n_churned, n_censored,
        |  CASE WHEN zero_seen = 1 THEN 0.0
        |       ELSE round(exp(cum_lf / 1000000.0), 6) + 0 END AS survival
        |FROM cm""".stripMargin,
    "ab_test" ->
      """WITH u AS (SELECT user_id,
        |         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |                   >= 15 THEN 1 ELSE 0 END AS converted,
        |         user_id % 2 AS cohort
        |       FROM events GROUP BY user_id),
        |c AS (SELECT
        |        CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |        CAST(sum(CASE WHEN cohort = 0 THEN converted ELSE 0 END) AS BIGINT)
        |          AS conv_a,
        |        CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |        CAST(sum(CASE WHEN cohort = 1 THEN converted ELSE 0 END) AS BIGINT)
        |          AS conv_b
        |      FROM u),
        |s AS (SELECT *,
        |        sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
        |          * (1 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
        |          * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)) AS se
        |      FROM c),
        |zz AS (SELECT *,
        |         CASE WHEN se > 0
        |           THEN round((conv_a / n_a - conv_b / n_b) / se, 6) + 0
        |           ELSE 0.0 END AS z
        |       FROM s)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  round(conv_a / n_a, 6) + 0 AS rate_a,
        |  round(conv_b / n_b, 6) + 0 AS rate_b,
        |  z, abs(z) > 1.96 AS significant
        |FROM zz""".stripMargin,
    "attribution_compare" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, epoch_ns(ts) // 1000 AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, epoch_ns(ts) // 1000 AS v_ts, event_id AS v_id
        |      FROM events WHERE event_type = 'view'),
        |tch AS (SELECT p.p_id, v.v_ts, v.v_id,
        |          count(*) OVER (PARTITION BY p.p_id) AS n,
        |          row_number() OVER (PARTITION BY p.p_id
        |            ORDER BY v.v_ts, v.v_id) AS rn_first,
        |          row_number() OVER (PARTITION BY p.p_id
        |            ORDER BY v.v_ts DESC, v.v_id DESC) AS rn_last,
        |          (v.v_ts // 3600000000) % 24 AS view_hour
        |        FROM p JOIN v USING (user_id)
        |        WHERE v.v_ts < p.p_ts AND v.v_ts >= p.p_ts - 604800000000),
        |legs AS (
        |  SELECT 'first_touch' AS model, view_hour, 1000000 AS credit_micro
        |  FROM tch WHERE rn_first = 1
        |  UNION ALL
        |  SELECT 'last_touch' AS model, view_hour, 1000000 AS credit_micro
        |  FROM tch WHERE rn_last = 1
        |  UNION ALL
        |  SELECT 'linear' AS model, view_hour,
        |    1000000 // n + CASE WHEN rn_last = 1
        |      THEN 1000000 - n * (1000000 // n) ELSE 0 END AS credit_micro
        |  FROM tch)
        |SELECT model, view_hour, count(*) AS n_touches,
        |       CAST(sum(credit_micro) AS BIGINT) AS credit_micro
        |FROM legs GROUP BY 1, 2""".stripMargin,
    "data_quality_checks" ->
      """WITH pk AS (SELECT 'orders_pk_unique' AS check_name,
        |         CAST(count(*) AS BIGINT) AS n_checked,
        |         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |           AS n_violations
        |       FROM orders),
        |fklo AS (SELECT 'lineitem_fk_orders' AS check_name,
        |           (SELECT count(*) FROM lineitem) AS n_checked,
        |           count(*) FILTER (WHERE o.o_orderkey IS NULL) AS n_violations
        |         FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |fkoc AS (SELECT 'orders_fk_customer' AS check_name,
        |           (SELECT count(*) FROM orders) AS n_checked,
        |           count(*) FILTER (WHERE c.c_custkey IS NULL) AS n_violations
        |         FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
        |qty AS (SELECT 'lineitem_quantity_range' AS check_name,
        |          count(*) AS n_checked,
        |          CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |                        THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |        FROM lineitem),
        |disc AS (SELECT 'lineitem_discount_range' AS check_name,
        |           count(*) AS n_checked,
        |           CAST(sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
        |                         THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |         FROM lineitem),
        |dom AS (SELECT 'orders_status_domain' AS check_name,
        |          count(*) AS n_checked,
        |          CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
        |                        THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |        FROM orders),
        |bal AS (SELECT 'customer_acctbal_not_null' AS check_name,
        |          count(*) AS n_checked,
        |          CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_violations
        |        FROM customer),
        |shp AS (SELECT 'lineitem_ship_after_order' AS check_name,
        |          count(*) AS n_checked,
        |          CAST(sum(CASE WHEN l.l_shipdate < o.o_orderdate
        |                        THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked, n_violations,
        |       n_violations = 0 AS ok
        |FROM (SELECT * FROM pk UNION ALL SELECT * FROM fklo
        |      UNION ALL SELECT * FROM fkoc UNION ALL SELECT * FROM qty
        |      UNION ALL SELECT * FROM disc UNION ALL SELECT * FROM dom
        |      UNION ALL SELECT * FROM bal UNION ALL SELECT * FROM shp)""".stripMargin,
    "content_hash" ->
      "SELECT doc_id, sha256(text) AS content_hash FROM documents",
    "persist_roundtrip" ->
      "SELECT doc_id, sha256(text) AS content_hash FROM documents",
    // near-dup components (the quadratic jac twin) as the family key
    // (singleton fallback = own doc_id, cannot pair); (family, source)
    // census self-joined; containment by exact integer div
    "source_overlap" ->
      s"""WITH RECURSIVE $duckToks,
         |$duckShingles,
         |$duckLshCand,
         |$duckJaccardVerify,
         |edges AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.5),
         |und AS (SELECT a_id AS src, b_id AS dst FROM edges
         |        UNION ALL SELECT b_id, a_id FROM edges),
         |reach AS (
         |  SELECT DISTINCT src AS id, src AS r FROM und
         |  UNION
         |  SELECT u.src, reach.r FROM und u JOIN reach ON reach.id = u.dst),
         |comp AS (SELECT id AS doc_id, min(r) AS component_id FROM reach GROUP BY 1),
         |fam AS (SELECT coalesce(c.component_id, d.doc_id) AS h, d.source,
         |          count(*) AS n
         |        FROM documents d LEFT JOIN comp c USING (doc_id) GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tot
         |        FROM documents GROUP BY 1),
         |p AS (SELECT a.source AS src_a, b.source AS src_b,
         |        CAST(count(*) AS BIGINT) AS n_shared_families,
         |        CAST(sum(a.n) AS BIGINT) AS n_shared_docs_a,
         |        CAST(sum(b.n) AS BIGINT) AS n_shared_docs_b
         |      FROM fam a JOIN fam b ON a.h = b.h AND a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT p.src_a, p.src_b, p.n_shared_families,
         |  p.n_shared_docs_a, p.n_shared_docs_b,
         |  CAST((p.n_shared_docs_a * 1000000) // ta.n_tot AS BIGINT) AS cont_a_micro,
         |  CAST((p.n_shared_docs_b * 1000000) // tb.n_tot AS BIGINT) AS cont_b_micro
         |FROM p JOIN tot ta ON ta.source = p.src_a
         |       JOIN tot tb ON tb.source = p.src_b""".stripMargin,
    // two overlapping %10 hash stripes as successive crawls; exact
    // integer-div shares, full-outer L1 facet drift, anti-join churn
    "corpus_diff" ->
      s"""WITH o AS (SELECT * FROM documents
         |           WHERE ${duckHash24("'cdf:' || CAST(doc_id AS VARCHAR)")} % 10 < 9),
         |n AS (SELECT * FROM documents
         |      WHERE ${duckHash24("'cdf:' || CAST(doc_id AS VARCHAR)")} % 10 >= 1),
         |so AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_old,
         |         CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS n_chars_old,
         |         CASE WHEN count(*) = 0 THEN 0
         |           ELSE CAST(((count(*) - count(DISTINCT text)) * 1000000)
         |                // count(*) AS BIGINT) END AS dup_micro_old
         |       FROM o),
         |sn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_new,
         |         CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS n_chars_new,
         |         CASE WHEN count(*) = 0 THEN 0
         |           ELSE CAST(((count(*) - count(DISTINCT text)) * 1000000)
         |                // count(*) AS BIGINT) END AS dup_micro_new
         |       FROM n),
         |ad AS (SELECT CAST(count(*) AS BIGINT) AS n_added FROM n
         |       WHERE doc_id NOT IN (SELECT doc_id FROM o)),
         |rm AS (SELECT CAST(count(*) AS BIGINT) AS n_removed FROM o
         |       WHERE doc_id NOT IN (SELECT doc_id FROM n)),
         |lo AS (SELECT lang, CAST(count(*) * 1000000
         |         // (SELECT count(*) FROM o) AS BIGINT) AS a FROM o GROUP BY 1),
         |ln2 AS (SELECT lang, CAST(count(*) * 1000000
         |         // (SELECT count(*) FROM n) AS BIGINT) AS b FROM n GROUP BY 1),
         |ldr AS (SELECT CAST(coalesce(sum(abs(coalesce(a, 0) - coalesce(b, 0))), 0)
         |          AS BIGINT) AS lang_l1_micro
         |        FROM lo FULL JOIN ln2 USING (lang)),
         |uo AS (SELECT source, CAST(count(*) * 1000000
         |         // (SELECT count(*) FROM o) AS BIGINT) AS a FROM o GROUP BY 1),
         |un AS (SELECT source, CAST(count(*) * 1000000
         |         // (SELECT count(*) FROM n) AS BIGINT) AS b FROM n GROUP BY 1),
         |sdr AS (SELECT CAST(coalesce(sum(abs(coalesce(a, 0) - coalesce(b, 0))), 0)
         |          AS BIGINT) AS source_l1_micro
         |        FROM uo FULL JOIN un USING (source))
         |SELECT n_docs_old, n_docs_new, n_added, n_removed,
         |  n_chars_old, n_chars_new, dup_micro_old, dup_micro_new,
         |  lang_l1_micro, source_l1_micro
         |FROM so, sn, ad, rm, ldr, sdr""".stripMargin,
    "corpus_stats" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       round(avg(n_chars), 4) + 0 AS avg_chars
        |FROM documents GROUP BY lang""".stripMargin,
    "incremental_antijoin" ->
      """SELECT d.doc_id, d.source, sha256(d.text) AS content_hash
        |FROM documents d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents s
        |  WHERE s.doc_id % 2 = 0 AND sha256(s.text) = sha256(d.text))""".stripMargin,
    "delete_rebuild" ->
      """SELECT doc_id, source, sha256(text) AS content_hash FROM (
        |  SELECT doc_id, text, source FROM documents WHERE source <> 'src1'
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text), source
        |  FROM documents WHERE source = 'src1')""".stripMargin,
    "knn_search" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |s AS (
         |  SELECT e.vec_id, e.label,
         |    round(${duckL2Sq("e.embedding", "q.qe")}, 6) + 0 AS l2_sq,
         |    round(${duckCos("e.embedding", "q.qe")}, 6) + 0 AS cos_sim
         |  FROM embeddings e, q)
         |SELECT row_number() OVER (ORDER BY l2_sq, vec_id) AS rank,
         |       vec_id, l2_sq, cos_sim, label
         |FROM s ORDER BY l2_sq, vec_id LIMIT 5""".stripMargin,
    "vector_stats" ->
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) + 0 AS l2_norm,
        |  round(CAST(list_min(embedding) AS DOUBLE), 6) + 0 AS v_min,
        |  round(CAST(list_max(embedding) AS DOUBLE), 6) + 0 AS v_max,
        |  CAST(len(embedding) AS BIGINT) AS n_dims
        |FROM embeddings""".stripMargin,
    "customers_without_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""".stripMargin,
    "json_roundtrip" ->
      "SELECT doc_id, sha256(text) AS content_hash FROM documents",
    "csv_roundtrip" ->
      "SELECT doc_id, sha256(text) AS content_hash FROM documents",
    "orc_roundtrip" ->
      "SELECT doc_id, sha256(text) AS content_hash FROM documents",
    // plain-avg twin of VectorOps.meanPoolByLabel — raw-float inputs
    // sit off the 6dp rounding grid, so engine-order differences in
    // the sum cannot flip the rounded mean in practice
    "mean_pool" ->
      """SELECT label, CAST(u.i - 1 AS BIGINT) AS dim,
        |       round(avg(CAST(embedding[u.i] AS DOUBLE)), 6) + 0 AS centroid_val
        |FROM embeddings, unnest(range(1, len(embedding)+1)) u(i)
        |GROUP BY label, dim""".stripMargin,
    "embed_text" ->
      s"""WITH $duckToks,
         |hashed AS (
         |  SELECT doc_id, ${duckHash24("tok")} % 64 AS dim FROM toks),
         |tf AS (SELECT doc_id, dim, CAST(count(*) AS DOUBLE) AS cnt
         |       FROM hashed GROUP BY 1, 2),
         |nrm AS (SELECT doc_id, sqrt(sum(cnt*cnt)) AS nrm FROM tf GROUP BY 1)
         |SELECT t.doc_id, t.dim, round(t.cnt / n.nrm, 6) + 0 AS weight
         |FROM tf t JOIN nrm n USING (doc_id)""".stripMargin,
    // distinct-vocab bucket census at three widths; fraction is a
    // floor-quotient in micros — all integer
    "hash_collision_audit" -> {
      def leg(d: Int): String =
        s"""SELECT CAST($d AS BIGINT) AS dim,
           |  CAST(sum(n_toks) AS BIGINT) AS n_vocab,
           |  count(*) AS n_buckets_used, max(n_toks) AS max_bucket,
           |  CAST(sum(CASE WHEN n_toks >= 2 THEN n_toks ELSE 0 END)
           |    AS BIGINT) AS n_collided
           |FROM (SELECT ${duckHash24("tok")} % $d AS bucket,
           |        count(*) AS n_toks
           |      FROM vocab GROUP BY 1)""".stripMargin
      s"""WITH $duckToks,
         |vocab AS (SELECT DISTINCT tok FROM toks),
         |legs AS (${Seq(256, 4096, 65536).map(leg).mkString("\nUNION ALL\n")})
         |SELECT dim, n_vocab, n_buckets_used, max_bucket, n_collided,
         |  CAST((n_collided * 1000000) // n_vocab AS BIGINT) AS collided_micro
         |FROM legs""".stripMargin
    },
    // shared features fragment + constant-edge bins; key-ordered ln
    // folds, langSourceMi conventions
    "feature_mi" -> {
      def leg(fx: String): String =
        s"""SELECT '$fx' AS feature, mi.n_rows, mi.n_cells, mi.mi, hy.h_y,
           |  CASE WHEN hy.h_y = 0.0 THEN 0.0
           |       ELSE round(mi.mi / hy.h_y, 6) + 0 END AS nmi
           |FROM (
           |  SELECT max(n_rows) AS n_rows, count(*) AS n_cells,
           |    round(sum(CAST(n_by AS DOUBLE) / n_rows *
           |      ln(CAST(n_by AS DOUBLE) * n_rows /
           |         (CAST(n_b AS DOUBLE) * n_y))
           |      ORDER BY b || '|' || y), 6) + 0 AS mi
           |  FROM (
           |    SELECT j.b, j.y, j.n_by, mb.n_b, my.n_y, tt.n_rows
           |    FROM (SELECT least(3, $fx // 250000) AS b, y, count(*) AS n_by
           |          FROM cfi GROUP BY 1, 2) j
           |    JOIN (SELECT least(3, $fx // 250000) AS b, count(*) AS n_b
           |          FROM cfi GROUP BY 1) mb USING (b)
           |    JOIN (SELECT y, count(*) AS n_y FROM cfi GROUP BY 1) my USING (y)
           |    CROSS JOIN (SELECT count(*) AS n_rows FROM cfi) tt)) mi
           |CROSS JOIN (
           |  SELECT round(-sum(CAST(n_y AS DOUBLE) / n_rows *
           |      ln(CAST(n_y AS DOUBLE) / n_rows) ORDER BY y), 6) + 0 AS h_y
           |  FROM (SELECT y, count(*) AS n_y FROM cfi GROUP BY 1) my
           |  CROSS JOIN (SELECT count(*) AS n_rows FROM cfi) tt) hy""".stripMargin
      s"""WITH $duckGdFeatures
         |${Seq("ix1", "ix2", "ix3").map(leg).mkString("\nUNION ALL\n")}"""
        .stripMargin
    },
    // the cosine chain's top-20 as candidates, candidate-only
    // pairwise sims, then 4 unrolled greedy rounds after the
    // relevance-argmax seed
    "search_mmr" ->
      s"""WITH $duckToks,
         |q_toks AS (SELECT trim(u.tok) AS tok
         |           FROM unnest(string_split('spark merge sort join', ' ')) u(tok)
         |           WHERE trim(u.tok) <> ''),
         |ct_hashed AS (SELECT doc_id, ${duckHash24("tok")} % 64 AS dim FROM toks),
         |ct_tf AS (SELECT doc_id, dim, CAST(count(*) AS DOUBLE) AS cnt
         |          FROM ct_hashed GROUP BY 1, 2),
         |ct_nrm AS (SELECT doc_id, sqrt(sum(cnt*cnt)) AS nrm FROM ct_tf GROUP BY 1),
         |ct_w AS (SELECT t.doc_id, t.dim, round(t.cnt / n.nrm, 6) + 0 AS weight
         |         FROM ct_tf t JOIN ct_nrm n USING (doc_id)),
         |ct_qh AS (SELECT ${duckHash24("tok")} % 64 AS dim FROM q_toks),
         |ct_qtf AS (SELECT dim, CAST(count(*) AS DOUBLE) AS cnt FROM ct_qh GROUP BY 1),
         |ct_qw AS (SELECT dim,
         |            round(cnt / (SELECT sqrt(sum(cnt*cnt)) FROM ct_qtf), 6) + 0 AS qw
         |          FROM ct_qtf),
         |ct_scored AS (
         |  SELECT w.doc_id, round(sum(w.weight * qw.qw ORDER BY dim), 6) + 0 AS score
         |  FROM ct_w w JOIN ct_qw qw USING (dim) GROUP BY 1),
         |cand AS MATERIALIZED (
         |  SELECT doc_id, score AS rel,
         |         CAST(round(score * 1000000.0) AS BIGINT) AS rel_micro
         |  FROM (
         |    SELECT doc_id, score,
         |      row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
         |    FROM ct_scored) WHERE rnk <= 20),
         |cw AS MATERIALIZED (
         |  SELECT w.doc_id, w.dim, w.weight FROM ct_w w JOIN cand USING (doc_id)),
         |simp AS MATERIALIZED (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2,
         |         CAST(round(round(sum(x.weight * y.weight ORDER BY x.dim), 6)
         |           * 1000000.0) AS BIGINT) AS sim_micro
         |  FROM cw x JOIN cw y ON x.dim = y.dim AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |selu1 AS MATERIALIZED (
         |  SELECT CAST(1 AS BIGINT) AS sel_rank, doc_id, 7 * rel_micro AS s7
         |  FROM cand ORDER BY s7 DESC, doc_id LIMIT 1),
         |${(2 to 5).map(duckMmrRound).mkString(",\n")}
         |SELECT s.sel_rank, s.doc_id, d.source, c.rel,
         |       s.s7 / 10000000.0 AS mmr_score
         |FROM selu5 s JOIN cand c USING (doc_id)
         |JOIN documents d USING (doc_id)""".stripMargin,
    "search_snippet" ->
      s"""WITH $duckToks,
         |sq AS (SELECT doc_id, tok,
         |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos)
         |           AS BIGINT) AS seq
         |       FROM toks),
         |qt AS (SELECT DISTINCT trim(u.tok) AS tok
         |       FROM unnest(string_split('spark merge sort join', ' ')) u(tok)
         |       WHERE trim(u.tok) <> ''),
         |hits AS (SELECT s.doc_id, s.seq FROM sq s JOIN qt USING (tok)),
         |wins AS (SELECT a.doc_id, a.seq AS win_start, count(*) AS n_hits
         |         FROM hits a JOIN hits b ON a.doc_id = b.doc_id
         |           AND b.seq >= a.seq AND b.seq < a.seq + 10
         |         GROUP BY 1, 2),
         |best AS (SELECT doc_id, win_start, n_hits FROM (
         |           SELECT *, row_number() OVER (PARTITION BY doc_id
         |             ORDER BY n_hits DESC, win_start) AS rn FROM wins)
         |         WHERE rn = 1),
         |topd AS (SELECT * FROM best ORDER BY n_hits DESC, doc_id LIMIT 10)
         |SELECT t.doc_id, t.win_start, t.n_hits,
         |       string_agg(s.tok, ' ' ORDER BY s.seq) AS snippet
         |FROM topd t JOIN sq s ON s.doc_id = t.doc_id
         |  AND s.seq >= t.win_start AND s.seq < t.win_start + 10
         |GROUP BY 1, 2, 3""".stripMargin,
    // the three ranker CTE chains replayed side by side (ct_ cosine /
    // bm_ BM25 / mx_ maxsim), then the RRF fold over their top-20s
    "search_rrf" ->
      s"""WITH $duckToks,
         |q_toks AS (SELECT trim(u.tok) AS tok
         |           FROM unnest(string_split('spark merge sort join', ' ')) u(tok)
         |           WHERE trim(u.tok) <> ''),
         |ct_hashed AS (SELECT doc_id, ${duckHash24("tok")} % 64 AS dim FROM toks),
         |ct_tf AS (SELECT doc_id, dim, CAST(count(*) AS DOUBLE) AS cnt
         |          FROM ct_hashed GROUP BY 1, 2),
         |ct_nrm AS (SELECT doc_id, sqrt(sum(cnt*cnt)) AS nrm FROM ct_tf GROUP BY 1),
         |ct_w AS (SELECT t.doc_id, t.dim, round(t.cnt / n.nrm, 6) + 0 AS weight
         |         FROM ct_tf t JOIN ct_nrm n USING (doc_id)),
         |ct_qh AS (SELECT ${duckHash24("tok")} % 64 AS dim FROM q_toks),
         |ct_qtf AS (SELECT dim, CAST(count(*) AS DOUBLE) AS cnt FROM ct_qh GROUP BY 1),
         |ct_qw AS (SELECT dim,
         |            round(cnt / (SELECT sqrt(sum(cnt*cnt)) FROM ct_qtf), 6) + 0 AS qw
         |          FROM ct_qtf),
         |ct_scored AS (
         |  SELECT w.doc_id, round(sum(w.weight * qw.qw ORDER BY dim), 6) + 0 AS score
         |  FROM ct_w w JOIN ct_qw qw USING (dim) GROUP BY 1),
         |ct_ranked AS (SELECT doc_id,
         |                row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
         |              FROM ct_scored),
         |lens AS (SELECT doc_id, count(*) AS len_d FROM toks GROUP BY 1),
         |stats AS (SELECT avg(len_d) AS avg_len FROM lens),
         |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
         |bm_tf AS (SELECT t.doc_id, t.tok, count(*) AS tf
         |          FROM toks t JOIN (SELECT DISTINCT tok FROM q_toks) q USING (tok)
         |          GROUP BY 1, 2),
         |bm_df AS (SELECT tok, count(*) AS df FROM bm_tf GROUP BY 1),
         |bm_scored AS (
         |  SELECT bm_tf.doc_id,
         |    round(sum(ln((nd.n_docs - bm_df.df + 0.5) / (bm_df.df + 0.5) + 1)
         |      * (bm_tf.tf * 2.2)
         |      / (bm_tf.tf + 1.2 * (1 - 0.75 + 0.75 * lens.len_d / stats.avg_len))
         |      ORDER BY bm_tf.tok), 6) + 0 AS score
         |  FROM bm_tf JOIN bm_df USING (tok) JOIN lens USING (doc_id), nd, stats
         |  GROUP BY 1),
         |bm_ranked AS (SELECT doc_id,
         |                row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
         |              FROM bm_scored),
         |mx_dtoks AS (SELECT DISTINCT doc_id, tok FROM toks),
         |mx_vocab AS (SELECT DISTINCT tok FROM mx_dtoks),
         |mx_vg AS (SELECT tok,
         |            CASE WHEN length(tok) >= 3 THEN substring(tok, u.ii, 3)
         |                 ELSE tok END AS g
         |          FROM mx_vocab,
         |               unnest(range(1, greatest(length(tok) - 2, 1) + 1)) u(ii)),
         |mx_vh AS (SELECT tok, ${duckHash24("g")} % 4096 AS tdim,
         |                 CAST(sum(cnt) AS BIGINT) AS cnt
         |          FROM (SELECT tok, g, count(*) AS cnt FROM mx_vg GROUP BY 1, 2)
         |          GROUP BY 1, 2),
         |mx_vn AS (SELECT tok, sqrt(sum(cnt * cnt)) AS nrm FROM mx_vh GROUP BY 1),
         |mx_vw AS (SELECT mx_vh.tok, mx_vh.tdim, round(mx_vh.cnt / mx_vn.nrm, 6) + 0 AS w
         |          FROM mx_vh JOIN mx_vn USING (tok)),
         |mx_qg AS (SELECT tok,
         |            CASE WHEN length(tok) >= 3 THEN substring(tok, u.ii, 3)
         |                 ELSE tok END AS g
         |          FROM (SELECT DISTINCT tok FROM q_toks),
         |               unnest(range(1, greatest(length(tok) - 2, 1) + 1)) u(ii)),
         |mx_qh AS (SELECT tok, ${duckHash24("g")} % 4096 AS tdim,
         |                 CAST(sum(cnt) AS BIGINT) AS cnt
         |          FROM (SELECT tok, g, count(*) AS cnt FROM mx_qg GROUP BY 1, 2)
         |          GROUP BY 1, 2),
         |mx_qn AS (SELECT tok, sqrt(sum(cnt * cnt)) AS nrm FROM mx_qh GROUP BY 1),
         |mx_qw AS (SELECT mx_qh.tok AS qtok, mx_qh.tdim,
         |                 round(mx_qh.cnt / mx_qn.nrm, 6) + 0 AS w
         |          FROM mx_qh JOIN mx_qn USING (tok)),
         |mx_sims AS (SELECT mx_vw.tok, mx_qw.qtok,
         |                   round(sum(mx_vw.w * mx_qw.w), 6) + 0 AS sim
         |            FROM mx_vw JOIN mx_qw ON mx_vw.tdim = mx_qw.tdim GROUP BY 1, 2),
         |mx_best AS (SELECT d.doc_id, s.qtok, max(s.sim) AS best
         |            FROM mx_dtoks d JOIN mx_sims s USING (tok) GROUP BY 1, 2),
         |mx_scored AS (SELECT doc_id, round(sum(best), 6) + 0 AS score
         |              FROM mx_best GROUP BY 1),
         |mx_ranked AS (SELECT doc_id,
         |                row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
         |              FROM mx_scored),
         |legs AS (
         |  SELECT doc_id, 'cosine' AS ranker, rnk FROM ct_ranked WHERE rnk <= 20
         |  UNION ALL
         |  SELECT doc_id, 'bm25' AS ranker, rnk FROM bm_ranked WHERE rnk <= 20
         |  UNION ALL
         |  SELECT doc_id, 'maxsim' AS ranker, rnk FROM mx_ranked WHERE rnk <= 20),
         |fused AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
         |         round(sum(round(CAST(1 AS DOUBLE) / (60 + rnk), 6)
         |           ORDER BY ranker), 6) + 0 AS rrf
         |  FROM legs GROUP BY 1)
         |SELECT rank, doc_id, source, n_lists, rrf FROM (
         |  SELECT f.doc_id, f.n_lists, f.rrf, d.source,
         |    CAST(row_number() OVER (ORDER BY f.rrf DESC, f.doc_id) AS BIGINT) AS rank
         |  FROM fused f JOIN documents d USING (doc_id))
         |WHERE rank <= 10""".stripMargin,
    "maxsim_search" ->
      s"""WITH $duckToks,
         |dtoks AS (SELECT DISTINCT doc_id, tok FROM toks),
         |vocab AS (SELECT DISTINCT tok FROM dtoks),
         |vg AS (SELECT tok,
         |         CASE WHEN length(tok) >= 3 THEN substring(tok, u.ii, 3)
         |              ELSE tok END AS g
         |       FROM vocab,
         |            unnest(range(1, greatest(length(tok) - 2, 1) + 1)) u(ii)),
         |vh AS (SELECT tok, ${duckHash24("g")} % 4096 AS tdim,
         |              CAST(sum(cnt) AS BIGINT) AS cnt
         |       FROM (SELECT tok, g, count(*) AS cnt FROM vg GROUP BY 1, 2)
         |       GROUP BY 1, 2),
         |vn AS (SELECT tok, sqrt(sum(cnt * cnt)) AS nrm FROM vh GROUP BY 1),
         |vw AS (SELECT vh.tok, vh.tdim, round(vh.cnt / vn.nrm, 6) + 0 AS w
         |       FROM vh JOIN vn USING (tok)),
         |qtoks AS (SELECT DISTINCT trim(u.tok) AS tok
         |          FROM unnest(string_split('sorting merged sparkly', ' ')) u(tok)
         |          WHERE trim(u.tok) <> ''),
         |qg AS (SELECT tok,
         |         CASE WHEN length(tok) >= 3 THEN substring(tok, u.ii, 3)
         |              ELSE tok END AS g
         |       FROM qtoks,
         |            unnest(range(1, greatest(length(tok) - 2, 1) + 1)) u(ii)),
         |qh AS (SELECT tok, ${duckHash24("g")} % 4096 AS tdim,
         |              CAST(sum(cnt) AS BIGINT) AS cnt
         |       FROM (SELECT tok, g, count(*) AS cnt FROM qg GROUP BY 1, 2)
         |       GROUP BY 1, 2),
         |qn AS (SELECT tok, sqrt(sum(cnt * cnt)) AS nrm FROM qh GROUP BY 1),
         |qw AS (SELECT qh.tok AS qtok, qh.tdim, round(qh.cnt / qn.nrm, 6) + 0 AS w
         |       FROM qh JOIN qn USING (tok)),
         |sims AS (SELECT vw.tok, qw.qtok, round(sum(vw.w * qw.w), 6) + 0 AS sim
         |         FROM vw JOIN qw ON vw.tdim = qw.tdim GROUP BY 1, 2),
         |best AS (SELECT d.doc_id, s.qtok, max(s.sim) AS best
         |         FROM dtoks d JOIN sims s USING (tok) GROUP BY 1, 2),
         |sc AS (SELECT doc_id, round(sum(best), 6) + 0 AS score FROM best GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY sc.score DESC, sc.doc_id) AS BIGINT)
         |         AS rank,
         |       sc.doc_id, d.source, sc.score
         |FROM sc JOIN documents d USING (doc_id)
         |ORDER BY sc.score DESC, sc.doc_id LIMIT 10""".stripMargin,
    "search_text" ->
      s"""WITH $duckToks,
         |hashed AS (SELECT doc_id, ${duckHash24("tok")} % 64 AS dim FROM toks),
         |tf AS (SELECT doc_id, dim, CAST(count(*) AS DOUBLE) AS cnt
         |       FROM hashed GROUP BY 1, 2),
         |nrm AS (SELECT doc_id, sqrt(sum(cnt*cnt)) AS nrm FROM tf GROUP BY 1),
         |w AS (SELECT t.doc_id, t.dim, round(t.cnt / n.nrm, 6) + 0 AS weight
         |      FROM tf t JOIN nrm n USING (doc_id)),
         |qtoks AS (SELECT trim(u.tok) AS tok
         |          FROM unnest(string_split('spark vector hash join', ' ')) u(tok)
         |          WHERE trim(u.tok) <> ''),
         |qhashed AS (SELECT ${duckHash24("tok")} % 64 AS dim FROM qtoks),
         |qtf AS (SELECT dim, CAST(count(*) AS DOUBLE) AS cnt FROM qhashed GROUP BY 1),
         |qw AS (SELECT dim, round(cnt / (SELECT sqrt(sum(cnt*cnt)) FROM qtf), 6) + 0 AS qw
         |       FROM qtf),
         |scored AS (
         |  SELECT w.doc_id, round(sum(w.weight * qw.qw ORDER BY dim), 6) + 0 AS score
         |  FROM w JOIN qw USING (dim) GROUP BY 1)
         |SELECT rank, doc_id, source, score FROM (
         |  SELECT s.doc_id, s.score, d.source,
         |    row_number() OVER (ORDER BY s.score DESC, s.doc_id) AS rank
         |  FROM scored s JOIN documents d USING (doc_id))
         |WHERE rank <= 10""".stripMargin,
    // the lifecycle composed: search_text's CTE chain at k=5, the
    // keyword_topn CTEs (from duckTopn, inlined below the search
    // CTEs), first-seen distinct keyed (hit_rank, kw_rank), the
    // assemble_prompt prefix — one row per hit plus the prompt
    "proposal_flow" ->
      s"""$duckTopn,
         |hashed AS (SELECT doc_id, ${duckHash24("tok")} % 64 AS dim FROM toks),
         |tf AS (SELECT doc_id, dim, CAST(count(*) AS DOUBLE) AS cnt
         |       FROM hashed GROUP BY 1, 2),
         |nrm AS (SELECT doc_id, sqrt(sum(cnt*cnt)) AS nrm FROM tf GROUP BY 1),
         |w AS (SELECT t.doc_id, t.dim, round(t.cnt / n.nrm, 6) + 0 AS weight
         |      FROM tf t JOIN nrm n USING (doc_id)),
         |qtoks AS (SELECT trim(u.tok) AS tok
         |          FROM unnest(string_split('spark vector hash join', ' ')) u(tok)
         |          WHERE trim(u.tok) <> ''),
         |qhashed AS (SELECT ${duckHash24("tok")} % 64 AS dim FROM qtoks),
         |qtf AS (SELECT dim, CAST(count(*) AS DOUBLE) AS cnt FROM qhashed GROUP BY 1),
         |qw AS (SELECT dim, round(cnt / (SELECT sqrt(sum(cnt*cnt)) FROM qtf), 6) + 0 AS qw
         |       FROM qtf),
         |scored AS (
         |  SELECT w.doc_id, round(sum(w.weight * qw.qw ORDER BY dim), 6) + 0 AS score
         |  FROM w JOIN qw USING (dim) GROUP BY 1),
         |hits AS (SELECT hit_rank, doc_id, source, score FROM (
         |  SELECT s.doc_id, s.score, d.source,
         |    row_number() OVER (ORDER BY s.score DESC, s.doc_id) AS hit_rank
         |  FROM scored s JOIN documents d USING (doc_id)) WHERE hit_rank <= 5),
         |hk AS (SELECT h.hit_rank, h.doc_id, t.rank, t.keyword
         |       FROM hits h JOIN topn t USING (doc_id)),
         |kl AS (SELECT doc_id, hit_rank,
         |         string_agg(keyword, ', ' ORDER BY rank) AS keywords
         |       FROM hk GROUP BY 1, 2),
         |dk AS (SELECT keyword, min(hit_rank * 1000000 + rank) AS first_seen
         |       FROM hk GROUP BY keyword ORDER BY first_seen LIMIT 6),
         |pr AS (SELECT 'Write a project proposal covering the following keywords: '
         |         || string_agg(keyword, ', ' ORDER BY first_seen)
         |         || '. Additional notes: focus on quarterly impact' AS prompt
         |       FROM dk)
         |SELECT h.hit_rank, h.doc_id, h.source, h.score,
         |       coalesce(kl.keywords, '') AS keywords, pr.prompt
         |FROM hits h LEFT JOIN kl USING (doc_id, hit_rank) CROSS JOIN pr""".stripMargin,
    // the search_text CTE chain with the seed doc's own weights as
    // the query side, self excluded
    "more_like_this" ->
      s"""WITH $duckToks,
         |hashed AS (SELECT doc_id, ${duckHash24("tok")} % 64 AS dim FROM toks),
         |tf AS (SELECT doc_id, dim, CAST(count(*) AS DOUBLE) AS cnt
         |       FROM hashed GROUP BY 1, 2),
         |nrm AS (SELECT doc_id, sqrt(sum(cnt*cnt)) AS nrm FROM tf GROUP BY 1),
         |w AS (SELECT t.doc_id, t.dim, round(t.cnt / n.nrm, 6) + 0 AS weight
         |      FROM tf t JOIN nrm n USING (doc_id)),
         |qw AS (SELECT dim, weight AS qw FROM w WHERE doc_id = 42),
         |scored AS (
         |  SELECT w.doc_id, round(sum(w.weight * qw.qw ORDER BY dim), 6) + 0 AS score
         |  FROM w JOIN qw USING (dim) WHERE w.doc_id <> 42 GROUP BY 1)
         |SELECT rank, doc_id, source, score FROM (
         |  SELECT s.doc_id, s.score, d.source,
         |    row_number() OVER (ORDER BY s.score DESC, s.doc_id) AS rank
         |  FROM scored s JOIN documents d USING (doc_id))
         |WHERE rank <= 10""".stripMargin,
    // stride-4 starts over the compacted token list; inclusive list
    // slice mirrors Spark's slice(toks, start, 8)
    "chunk_overlap" ->
      """WITH tk AS (SELECT doc_id, list_filter(list_transform(
        |        list_slice(string_split(text, ' '), 1, 512), x -> trim(x)),
        |        x -> x <> '') AS toks FROM documents),
        |st AS (SELECT doc_id, toks, CAST(u.s AS BIGINT) AS start
        |       FROM tk, unnest(range(1, greatest(len(toks) - 8, 0) + 5, 4)) u(s)
        |       WHERE len(toks) > 0)
        |SELECT doc_id, (start - 1) // 4 AS chunk_idx, start,
        |  least(CAST(len(toks) AS BIGINT) - start + 1, 8) AS n_tok,
        |  array_to_string(toks[CAST(start AS INTEGER):CAST(start + 7 AS INTEGER)], ' ')
        |    AS chunk
        |FROM st""".stripMargin,
    // expansion partners mined from ±2 pairs touching a query term
    // (count desc, partner asc, top 2 per term), originals 1.0 /
    // expansions 0.5, weighted tf scoring
    "search_expanded" ->
      s"""WITH $duckToks,
         |qt AS (SELECT DISTINCT trim(u.tok) AS tok
         |       FROM unnest(string_split('spark vector hash join', ' ')) u(tok)
         |       WHERE trim(u.tok) <> ''),
         |tk2 AS (SELECT list_filter(list_transform(
         |          list_slice(string_split(text, ' '), 1, 512), x -> trim(x)),
         |          x -> x <> '') AS tl FROM documents),
         |pr AS (SELECT least(tl[ii], tl[ii + dd]) AS t1,
         |              greatest(tl[ii], tl[ii + dd]) AS t2
         |       FROM tk2, unnest(range(1, len(tl) + 1)) u(ii),
         |            (SELECT unnest([1, 2]) AS dd) d
         |       WHERE ii + dd <= len(tl)),
         |tc AS (SELECT CASE WHEN t1 IN (SELECT tok FROM qt) THEN t1 ELSE t2 END AS q,
         |              CASE WHEN t1 IN (SELECT tok FROM qt) THEN t2 ELSE t1 END
         |                AS partner
         |       FROM pr
         |       WHERE t1 IN (SELECT tok FROM qt) OR t2 IN (SELECT tok FROM qt)),
         |co AS (SELECT q, partner, count(*) AS n_co FROM tc
         |       WHERE partner NOT IN (SELECT tok FROM qt) GROUP BY 1, 2),
         |ex AS (SELECT DISTINCT partner AS tok, 0.5 AS w FROM (
         |         SELECT q, partner,
         |           row_number() OVER (PARTITION BY q
         |             ORDER BY n_co DESC, partner) AS rn
         |         FROM co) WHERE rn <= 2),
         |tw AS (SELECT tok, CAST(max(w) AS DOUBLE) AS w FROM (
         |         SELECT tok, 1.0 AS w FROM qt
         |         UNION ALL SELECT tok, w FROM ex) GROUP BY 1),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         |sc AS (SELECT t.doc_id,
         |         round(CAST(sum(t.tf * w.w ORDER BY t.tok) AS DOUBLE), 6) + 0
         |           AS score
         |       FROM tf t JOIN tw w USING (tok) GROUP BY 1)
         |SELECT * FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         |           AS rank, s.doc_id, d.source, s.score
         |  FROM sc s JOIN documents d USING (doc_id))
         |WHERE rank <= 10""".stripMargin,
    // BM25 with k1=1.2, b=0.75 (so tf·(k1+1) = tf·2.2)
    "search_bm25" ->
      s"""WITH $duckToks,
         |lens AS (SELECT doc_id, count(*) AS len_d FROM toks GROUP BY 1),
         |stats AS (SELECT avg(len_d) AS avg_len FROM lens),
         |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
         |qt AS (SELECT DISTINCT trim(u.tok) AS tok
         |       FROM unnest(string_split('spark vector hash join', ' ')) u(tok)
         |       WHERE trim(u.tok) <> ''),
         |tf AS (SELECT t.doc_id, t.tok, count(*) AS tf
         |       FROM toks t JOIN qt USING (tok) GROUP BY 1, 2),
         |dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT tf.doc_id,
         |    round(sum(ln((nd.n_docs - dfc.df + 0.5) / (dfc.df + 0.5) + 1)
         |      * (tf.tf * 2.2)
         |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * lens.len_d / stats.avg_len))
         |      ORDER BY tf.tok), 6) + 0
         |      AS score
         |  FROM tf JOIN dfc USING (tok) JOIN lens USING (doc_id), nd, stats
         |  GROUP BY 1)
         |SELECT rank, doc_id, source, score FROM (
         |  SELECT s.doc_id, s.score, d.source,
         |    row_number() OVER (ORDER BY s.score DESC, s.doc_id) AS rank
         |  FROM scored s JOIN documents d USING (doc_id))
         |WHERE rank <= 10""".stripMargin,
    // the search_bm25 chain with queries drawn from the keyword
    // table (duckTopn): per (query_doc, doc) term-ordered fold, the
    // positive excluded, top-5 per query
    "bm25_hard_negatives" ->
      s"""$duckTopn,
         |qt AS (SELECT doc_id AS query_doc, keyword AS tok FROM topn
         |       WHERE doc_id < 10 AND rank <= 3),
         |lens AS (SELECT doc_id, count(*) AS len_d FROM toks GROUP BY 1),
         |stats AS (SELECT avg(len_d) AS avg_len FROM lens),
         |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs
         |       FROM documents),
         |tf AS (SELECT t.doc_id, t.tok, count(*) AS tf
         |       FROM toks t JOIN (SELECT DISTINCT tok FROM qt) q USING (tok)
         |       GROUP BY 1, 2),
         |dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT qt.query_doc, tf.doc_id,
         |    round(sum(ln((nd.n_docs - dfc.df + 0.5) / (dfc.df + 0.5) + 1)
         |      * (tf.tf * 2.2)
         |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * lens.len_d / stats.avg_len))
         |      ORDER BY tf.tok), 6) + 0
         |      AS score
         |  FROM tf JOIN qt USING (tok) JOIN dfc USING (tok)
         |       JOIN lens USING (doc_id), nd, stats
         |  WHERE tf.doc_id <> qt.query_doc
         |  GROUP BY 1, 2)
         |SELECT query_doc, rank, doc_id AS neg_id, score FROM (
         |  SELECT query_doc, doc_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_doc
         |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |  FROM scored)
         |WHERE rank <= 5""".stripMargin,
    // the three kernel chains composed (ict slice + bm25 negatives +
    // triplet argmaxes), funnel counts + id-sums + micro margin sum
    // as scalar subqueries — any stage drifting is a hash mismatch
    "retrieval_training_set" ->
      s"""$duckTopn,
         |lt AS (SELECT doc_id, list(tok ORDER BY pos) AS arr
         |       FROM toks GROUP BY 1),
         |ict AS (SELECT l.doc_id AS anchor_id,
         |    ${duckHash24("d.text || '|ict'")} % (CAST(len(arr) AS BIGINT) - 7)
         |      AS q_start
         |  FROM lt l JOIN documents d USING (doc_id)
         |  WHERE len(arr) > 8 AND l.doc_id < 10),
         |qt AS (SELECT doc_id AS query_doc, keyword AS tok FROM topn
         |       WHERE doc_id < 10 AND rank <= 3),
         |lens AS (SELECT doc_id, count(*) AS len_d FROM toks GROUP BY 1),
         |stats AS (SELECT avg(len_d) AS avg_len FROM lens),
         |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs
         |       FROM documents),
         |tf AS (SELECT t.doc_id, t.tok, count(*) AS tf
         |       FROM toks t JOIN (SELECT DISTINCT tok FROM qt) q USING (tok)
         |       GROUP BY 1, 2),
         |dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT qt.query_doc, tf.doc_id,
         |    round(sum(ln((nd.n_docs - dfc.df + 0.5) / (dfc.df + 0.5) + 1)
         |      * (tf.tf * 2.2)
         |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * lens.len_d / stats.avg_len))
         |      ORDER BY tf.tok), 6) + 0
         |      AS score
         |  FROM tf JOIN qt USING (tok) JOIN dfc USING (tok)
         |       JOIN lens USING (doc_id), nd, stats
         |  WHERE tf.doc_id <> qt.query_doc
         |  GROUP BY 1, 2),
         |lex AS (SELECT query_doc AS anchor_id, neg_id FROM (
         |  SELECT query_doc, doc_id AS neg_id, score,
         |    row_number() OVER (PARTITION BY query_doc
         |      ORDER BY score DESC, doc_id) AS rank
         |  FROM scored) WHERE rank <= 5),
         |$duckSqrtCells,
         |assigned AS (SELECT vec_id, c_label FROM ranked WHERE rn <= 2),
         |cpairs AS (SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS other_id
         |           FROM assigned a JOIN assigned b USING (c_label)
         |           WHERE a.vec_id <> b.vec_id),
         |$duckNrmCte,
         |sim AS MATERIALIZED (SELECT p.anchor_id, la.label AS anchor_label,
         |          p.other_id, lb.label AS other_label,
         |          round(${duckCosPre("la.embedding", "lb.embedding",
                      "la.nm", "lb.nm")}, 6) + 0 AS cos_sim
         |        FROM cpairs p
         |        JOIN nrm la ON la.vec_id = p.anchor_id
         |        JOIN nrm lb ON lb.vec_id = p.other_id),
         |pos AS (SELECT anchor_id, other_id AS pos_id, cos_sim AS cos_pos FROM (
         |          SELECT *, row_number() OVER (PARTITION BY anchor_id
         |                      ORDER BY cos_sim DESC, other_id) AS rn
         |          FROM sim WHERE other_label = anchor_label) WHERE rn = 1),
         |neg AS (SELECT anchor_id, other_id AS neg_id, cos_sim AS cos_neg FROM (
         |          SELECT *, row_number() OVER (PARTITION BY anchor_id
         |                      ORDER BY cos_sim DESC, other_id) AS rn
         |          FROM sim WHERE other_label <> anchor_label) WHERE rn = 1),
         |dense AS (SELECT p.anchor_id, p.pos_id, n.neg_id,
         |    CAST(round(round(p.cos_pos - n.cos_neg, 6) * 1000000) AS BIGINT)
         |      AS margin_micro
         |  FROM pos p JOIN neg n USING (anchor_id)
         |  WHERE p.anchor_id < 10),
         |comp AS (SELECT count(*) AS n_complete FROM (
         |  SELECT DISTINCT i.anchor_id FROM ict i
         |  JOIN (SELECT DISTINCT anchor_id FROM lex) l USING (anchor_id)
         |  JOIN (SELECT DISTINCT anchor_id FROM dense) dn USING (anchor_id)) t)
         |SELECT
         |  (SELECT count(*) FROM documents WHERE doc_id < 10) AS n_anchors,
         |  (SELECT count(*) FROM ict) AS n_ict,
         |  (SELECT CAST(coalesce(sum(q_start), 0) AS BIGINT) FROM ict)
         |    AS q_start_sum,
         |  (SELECT count(*) FROM lex) AS n_lex,
         |  (SELECT CAST(coalesce(sum(neg_id), 0) AS BIGINT) FROM lex)
         |    AS lex_neg_id_sum,
         |  (SELECT count(*) FROM dense) AS n_dense,
         |  (SELECT CAST(coalesce(sum(pos_id), 0) AS BIGINT) FROM dense)
         |    AS dense_pos_id_sum,
         |  (SELECT CAST(coalesce(sum(neg_id), 0) AS BIGINT) FROM dense)
         |    AS dense_neg_id_sum,
         |  (SELECT CAST(coalesce(sum(margin_micro), 0) AS BIGINT) FROM dense)
         |    AS margin_micro_sum,
         |  (SELECT n_complete FROM comp) AS n_complete""".stripMargin,
    // both ranker chains (search_text / search_bm25 CTEs, ct_/bm_
    // prefixed), truth grades 11-rank, position-ordered rounded DCG
    // terms, one normalizing division; cosine_self must emit 1.0
    "ndcg_audit" ->
      s"""WITH $duckToks,
         |ct_hashed AS (SELECT doc_id, ${duckHash24("tok")} % 64 AS dim FROM toks),
         |ct_tf AS (SELECT doc_id, dim, CAST(count(*) AS DOUBLE) AS cnt
         |          FROM ct_hashed GROUP BY 1, 2),
         |ct_nrm AS (SELECT doc_id, sqrt(sum(cnt*cnt)) AS nrm FROM ct_tf GROUP BY 1),
         |ct_w AS (SELECT t.doc_id, t.dim, round(t.cnt / n.nrm, 6) + 0 AS weight
         |         FROM ct_tf t JOIN ct_nrm n USING (doc_id)),
         |ct_qt AS (SELECT trim(u.tok) AS tok
         |          FROM unnest(string_split('spark vector hash join', ' ')) u(tok)
         |          WHERE trim(u.tok) <> ''),
         |ct_qh AS (SELECT ${duckHash24("tok")} % 64 AS dim FROM ct_qt),
         |ct_qtf AS (SELECT dim, CAST(count(*) AS DOUBLE) AS cnt FROM ct_qh GROUP BY 1),
         |ct_qw AS (SELECT dim,
         |            round(cnt / (SELECT sqrt(sum(cnt*cnt)) FROM ct_qtf), 6) + 0 AS qw
         |          FROM ct_qtf),
         |ct_scored AS (
         |  SELECT w.doc_id, round(sum(w.weight * qw.qw ORDER BY dim), 6) + 0 AS score
         |  FROM ct_w w JOIN ct_qw qw USING (dim) GROUP BY 1),
         |ct_ranked AS (SELECT doc_id,
         |                row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
         |              FROM ct_scored),
         |truth AS (SELECT doc_id, 11 - rnk AS rel FROM ct_ranked WHERE rnk <= 10),
         |idcg AS (SELECT round(sum(round(rel * ln(2) / ln(pos + 1.0), 6)
         |             ORDER BY pos), 6) + 0 AS idcg
         |         FROM (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id)
         |                 AS pos FROM truth)),
         |lens AS (SELECT doc_id, count(*) AS len_d FROM toks GROUP BY 1),
         |stats AS (SELECT avg(len_d) AS avg_len FROM lens),
         |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
         |bm_qt AS (SELECT DISTINCT trim(u.tok) AS tok
         |          FROM unnest(string_split('spark vector hash join', ' ')) u(tok)
         |          WHERE trim(u.tok) <> ''),
         |bm_tf AS (SELECT t.doc_id, t.tok, count(*) AS tf
         |          FROM toks t JOIN bm_qt USING (tok) GROUP BY 1, 2),
         |bm_dfc AS (SELECT tok, count(*) AS df FROM bm_tf GROUP BY 1),
         |bm_scored AS (
         |  SELECT bm_tf.doc_id,
         |    round(sum(ln((nd.n_docs - bm_dfc.df + 0.5) / (bm_dfc.df + 0.5) + 1)
         |      * (bm_tf.tf * 2.2)
         |      / (bm_tf.tf + 1.2 * (1 - 0.75 + 0.75 * lens.len_d / stats.avg_len))
         |      ORDER BY bm_tf.tok), 6) + 0 AS score
         |  FROM bm_tf JOIN bm_dfc USING (tok) JOIN lens USING (doc_id), nd, stats
         |  GROUP BY 1),
         |bm_top AS (SELECT doc_id, pos FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS pos
         |    FROM bm_scored) WHERE pos <= 10),
         |ct_top AS (SELECT doc_id, rnk AS pos FROM ct_ranked WHERE rnk <= 10),
         |leg_bm AS (SELECT 'bm25' AS system,
         |    CAST(sum(CASE WHEN COALESCE(t.rel, 0) > 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_overlap,
         |    round(sum(round(COALESCE(t.rel, 0) * ln(2) / ln(b.pos + 1.0), 6)
         |      ORDER BY b.pos), 6) + 0 AS dcg
         |  FROM bm_top b LEFT JOIN truth t USING (doc_id)),
         |leg_ct AS (SELECT 'cosine_self' AS system,
         |    CAST(sum(CASE WHEN COALESCE(t.rel, 0) > 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_overlap,
         |    round(sum(round(COALESCE(t.rel, 0) * ln(2) / ln(c.pos + 1.0), 6)
         |      ORDER BY c.pos), 6) + 0 AS dcg
         |  FROM ct_top c LEFT JOIN truth t USING (doc_id))
         |SELECT system, n_overlap, dcg, idcg.idcg,
         |  round(dcg / idcg.idcg, 6) + 0 AS ndcg
         |FROM (SELECT * FROM leg_bm UNION ALL SELECT * FROM leg_ct), idcg""".stripMargin,
    // same ranking chain as search_text at k=50, then a prefix cut on
    // the running token total (CAST: DuckDB widens sum(BIGINT) to
    // HUGEINT; Spark's window sum stays BIGINT)
    "context_pack" ->
      s"""WITH $duckToks,
         |hashed AS (SELECT doc_id, ${duckHash24("tok")} % 64 AS dim FROM toks),
         |tf AS (SELECT doc_id, dim, CAST(count(*) AS DOUBLE) AS cnt
         |       FROM hashed GROUP BY 1, 2),
         |nrm AS (SELECT doc_id, sqrt(sum(cnt*cnt)) AS nrm FROM tf GROUP BY 1),
         |w AS (SELECT t.doc_id, t.dim, round(t.cnt / n.nrm, 6) + 0 AS weight
         |      FROM tf t JOIN nrm n USING (doc_id)),
         |qtoks AS (SELECT trim(u.tok) AS tok
         |          FROM unnest(string_split('spark vector hash join', ' ')) u(tok)
         |          WHERE trim(u.tok) <> ''),
         |qhashed AS (SELECT ${duckHash24("tok")} % 64 AS dim FROM qtoks),
         |qtf AS (SELECT dim, CAST(count(*) AS DOUBLE) AS cnt FROM qhashed GROUP BY 1),
         |qw AS (SELECT dim, round(cnt / (SELECT sqrt(sum(cnt*cnt)) FROM qtf), 6) + 0 AS qw
         |       FROM qtf),
         |scored AS (
         |  SELECT w.doc_id, round(sum(w.weight * qw.qw ORDER BY dim), 6) + 0 AS score
         |  FROM w JOIN qw USING (dim) GROUP BY 1),
         |ranked AS (
         |  SELECT rank, doc_id, score FROM (
         |    SELECT s.doc_id, s.score,
         |      row_number() OVER (ORDER BY s.score DESC, s.doc_id) AS rank
         |    FROM scored s) WHERE rank <= 50),
         |tc AS (SELECT doc_id,
         |  CAST(len(list_filter(list_transform(string_split(text, ' '), t -> trim(t)),
         |                       t -> t <> '')) AS BIGINT) AS n_ws_tokens
         |  FROM documents)
         |SELECT rank, doc_id, score, n_ws_tokens, cum_tokens FROM (
         |  SELECT r.rank, r.doc_id, r.score, tc.n_ws_tokens,
         |    CAST(sum(tc.n_ws_tokens) OVER (ORDER BY r.rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM ranked r JOIN tc USING (doc_id))
         |WHERE cum_tokens <= 400""".stripMargin,
    // per-dim mean folded in vec_id order (the engine localizes it as
    // literals — same doubles), centered lists via the ordered mu
    // list, RAW cosines folded in pair-key order, ONE rounding per
    // mean (grid sums / small n land on .5 boundaries — r7 corollary)
    "embedding_anisotropy" ->
      s"""WITH ex AS (
         |  SELECT vec_id, u.i AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
         |  FROM embeddings, unnest(range(1, len(embedding)+1)) u(i)),
         |mu AS (SELECT dim, sum(v ORDER BY vec_id) / count(*) AS mu
         |       FROM ex GROUP BY 1),
         |mul AS (SELECT list(mu ORDER BY dim) AS m FROM mu),
         |s AS (SELECT vec_id,
         |        list_transform(range(1, len(embedding)+1),
         |          i -> CAST(embedding[i] AS DOUBLE)) AS e
         |      FROM embeddings WHERE vec_id < 64),
         |sc AS MATERIALIZED (
         |  SELECT vec_id, e,
         |    list_transform(range(1, len(e)+1), i -> e[i] - mul.m[i]) AS c
         |  FROM s, mul),
         |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |        ${duckCos("a.e", "b.e")} AS cos_raw,
         |        ${duckCos("a.c", "b.c")} AS cos_cen
         |      FROM sc a JOIN sc b ON a.vec_id < b.vec_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(sum(cos_raw ORDER BY a_id * 4294967296 + b_id) / count(*), 6) + 0
         |    AS mean_cos_raw,
         |  round(sum(cos_cen ORDER BY a_id * 4294967296 + b_id) / count(*), 6) + 0
         |    AS mean_cos_centered
         |FROM p""".stripMargin,
    // the ann_topk kernel over a 100-query sample at k=5 (duckCosPre:
    // 200k pairs needs precomputed norms), then the k-occurrence
    // histogram with the explicit 0-occurrence (antihub) row
    "ann_hubness" ->
      s"""WITH $duckNrmCte,
         |q AS (SELECT vec_id AS query_id, embedding AS qe, nm AS qn
         |      FROM nrm WHERE vec_id < 100),
         |s AS MATERIALIZED (
         |  SELECT q.query_id, e.vec_id,
         |    round(${duckCosPre("e.embedding", "q.qe", "e.nm", "q.qn")}, 6) + 0
         |      AS cos_sim
         |  FROM nrm e, q WHERE e.vec_id <> q.query_id),
         |r AS (SELECT query_id, vec_id,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos_sim DESC, vec_id) AS rank
         |      FROM s),
         |o AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_occ
         |      FROM r WHERE rank <= 5 GROUP BY 1),
         |z AS (SELECT e.vec_id, coalesce(o.n_occ, 0) AS n_occ
         |      FROM embeddings e LEFT JOIN o USING (vec_id))
         |SELECT n_occ, CAST(count(*) AS BIGINT) AS n_docs
         |FROM z GROUP BY 1""".stripMargin,
    "ann_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
         |           FROM embeddings WHERE vec_id < 10),
         |s AS (
         |  SELECT q.query_id, e.vec_id,
         |    round(${duckCos("e.embedding", "q.qe")}, 6) + 0 AS cos_sim
         |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         |r AS (SELECT query_id, vec_id, cos_sim,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos_sim DESC, vec_id) AS rank
         |      FROM s)
         |SELECT query_id, rank, vec_id, cos_sim FROM r WHERE rank <= 3""".stripMargin,
    // int8 scalar quantization: one global symmetric scale, integer
    // code distances pick 12 candidates/query, exact cosine reranks
    "ann_quantized" ->
      s"""WITH s AS (
         |  SELECT max(greatest(abs(CAST(list_min(embedding) AS DOUBLE)),
         |                      abs(CAST(list_max(embedding) AS DOUBLE)))) AS qs
         |  FROM embeddings),
         |qz AS (SELECT vec_id,
         |         list_transform(embedding, x ->
         |           CAST(round(CAST(x AS DOUBLE) * 127.0 / s.qs) AS BIGINT)) AS qc
         |       FROM embeddings, s),
         |cd AS (SELECT q.vec_id AS query_id, c.vec_id,
         |         CAST(list_sum(list_transform(range(1, len(c.qc)+1),
         |           i -> (c.qc[i] - q.qc[i]) * (c.qc[i] - q.qc[i]))) AS BIGINT) AS qdist
         |       FROM qz c, qz q
         |       WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |cand AS (SELECT query_id, vec_id, qdist FROM (
         |           SELECT query_id, vec_id, qdist,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY qdist, vec_id) AS qrank
         |           FROM cd) WHERE qrank <= 12),
         |rr AS (SELECT cand.query_id, cand.vec_id, cand.qdist,
         |         round(${duckCos("c.embedding", "q.embedding")}, 6) + 0 AS cos_sim
         |       FROM cand
         |       JOIN embeddings c ON c.vec_id = cand.vec_id
         |       JOIN embeddings q ON q.vec_id = cand.query_id)
         |SELECT query_id, rank, vec_id, qdist, cos_sim FROM (
         |  SELECT query_id, vec_id, qdist, cos_sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
         |  FROM rr) WHERE rank <= 3""".stripMargin,
    // power iteration unrolled: exact integer covariance, 8 rounds of
    // matvec (sum ORDER BY dj) + norm + 6dp re-round; evr =
    // (v·Cv / v·v) / tr C with the identical division order
    "embedding_pca" -> {
      def round(prev: String, i: Int): String =
        s"""w$i AS MATERIALIZED (
           |  SELECT c.di AS dim, sum(CAST(c.c AS DOUBLE) * v.v ORDER BY c.dj) AS w
           |  FROM cov c JOIN $prev v ON v.dim = c.dj GROUP BY 1),
           |n$i AS (SELECT sqrt(sum(w * w ORDER BY dim)) AS nrm FROM w$i),
           |v$i AS MATERIALIZED (
           |  SELECT dim, round(w / n$i.nrm, 6) + 0 AS v FROM w$i, n$i)""".stripMargin
      val rounds = (1 to 8).map(i => round(if (i == 1) "v0" else s"v${i - 1}", i))
        .mkString(",\n")
      s"""WITH x AS (SELECT vec_id, CAST(u.ii - 1 AS BIGINT) AS dim,
         |        CAST(round(CAST(embedding[u.ii] AS DOUBLE) * 1000000) AS BIGINT)
         |          AS x6
         |      FROM embeddings, unnest(range(1, len(embedding)+1)) u(ii)),
         |mu AS (SELECT dim, CAST(round(avg(x6)) AS BIGINT) AS mu6
         |       FROM x GROUP BY 1),
         |dx AS MATERIALIZED (SELECT vec_id, dim, x6 - mu6 AS dx
         |      FROM x JOIN mu USING (dim)),
         |cov AS MATERIALIZED (
         |  SELECT a.dim AS di, b.dim AS dj, CAST(sum(a.dx * b.dx) AS BIGINT) AS c
         |  FROM dx a JOIN dx b USING (vec_id) GROUP BY 1, 2),
         |v0 AS (SELECT DISTINCT di AS dim,
         |         CASE WHEN di = 0 THEN 1.0 ELSE 0.0 END AS v FROM cov),
         |$rounds,
         |wf AS (SELECT c.di AS dim, sum(CAST(c.c AS DOUBLE) * v.v ORDER BY c.dj) AS w
         |       FROM cov c JOIN v8 v ON v.dim = c.dj GROUP BY 1),
         |sc AS (SELECT sum(v.v * w.w ORDER BY v.dim) AS num,
         |         sum(v.v * v.v ORDER BY v.dim) AS den
         |       FROM v8 v JOIN wf w USING (dim)),
         |tr AS (SELECT CAST(sum(c) AS DOUBLE) AS tr FROM cov WHERE di = dj),
         |evr AS (SELECT round(sc.num / sc.den / tr.tr, 6) + 0 AS explained_ratio
         |        FROM sc, tr)
         |SELECT v.dim, v.v AS loading, evr.explained_ratio
         |FROM v8 v, evr""".stripMargin
    },
    // the embedding_pca chain re-stated through v8, then the
    // projection fold in dim order
    "pca_project" -> {
      def round(prev: String, i: Int): String =
        s"""w$i AS MATERIALIZED (
           |  SELECT c.di AS dim, sum(CAST(c.c AS DOUBLE) * v.v ORDER BY c.dj) AS w
           |  FROM cov c JOIN $prev v ON v.dim = c.dj GROUP BY 1),
           |n$i AS (SELECT sqrt(sum(w * w ORDER BY dim)) AS nrm FROM w$i),
           |v$i AS MATERIALIZED (
           |  SELECT dim, round(w / n$i.nrm, 6) + 0 AS v FROM w$i, n$i)""".stripMargin
      val rounds = (1 to 8).map(i => round(if (i == 1) "v0" else s"v${i - 1}", i))
        .mkString(",\n")
      s"""WITH x AS (SELECT vec_id, CAST(u.ii - 1 AS BIGINT) AS dim,
         |        CAST(round(CAST(embedding[u.ii] AS DOUBLE) * 1000000) AS BIGINT)
         |          AS x6
         |      FROM embeddings, unnest(range(1, len(embedding)+1)) u(ii)),
         |mu AS (SELECT dim, CAST(round(avg(x6)) AS BIGINT) AS mu6
         |       FROM x GROUP BY 1),
         |dx AS MATERIALIZED (SELECT vec_id, dim, x6 - mu6 AS dx
         |      FROM x JOIN mu USING (dim)),
         |cov AS MATERIALIZED (
         |  SELECT a.dim AS di, b.dim AS dj, CAST(sum(a.dx * b.dx) AS BIGINT) AS c
         |  FROM dx a JOIN dx b USING (vec_id) GROUP BY 1, 2),
         |v0 AS (SELECT DISTINCT di AS dim,
         |         CASE WHEN di = 0 THEN 1.0 ELSE 0.0 END AS v FROM cov),
         |$rounds
         |SELECT d.vec_id,
         |  round(sum(CAST(d.dx AS DOUBLE) / 1000000.0 * v.v ORDER BY d.dim), 6)
         |    + 0 AS pc1
         |FROM dx d JOIN v8 v USING (dim)
         |GROUP BY 1""".stripMargin
    },
    // diagonal Mahalanobis: rounded centroid/variance, dim-ordered
    // score fold (sum ORDER BY dim — the orderedSum twin)
    "embedding_outliers" ->
      """WITH d AS (SELECT vec_id, label, u.i - 1 AS dim,
        |        CAST(embedding[u.i] AS DOUBLE) AS x
        |      FROM embeddings, unnest(range(1, len(embedding)+1)) u(i)),
        |c AS (SELECT label, dim, round(avg(x), 6) + 0 AS cv FROM d GROUP BY 1, 2),
        |dev AS (SELECT d.vec_id, d.label, d.dim, d.x - c.cv AS dv
        |        FROM d JOIN c USING (label, dim)),
        |v AS (SELECT label, dim, round(avg(dv * dv), 6) + 0 AS vr
        |      FROM dev GROUP BY 1, 2),
        |sc AS (SELECT dev.vec_id, dev.label,
        |         round(sum(dev.dv * dev.dv / (v.vr + 0.000001)
        |               ORDER BY dev.dim), 6) + 0 AS score
        |       FROM dev JOIN v USING (label, dim)
        |       GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS BIGINT)
        |           AS rank, vec_id, label, score
        |  FROM sc) WHERE rank <= 20""".stripMargin,
    // three censuses + scalar total; every ln term the same integer
    // ratio on both engines, folded in facet-key order
    "lang_source_mi" ->
      """WITH j AS (SELECT lang, source, count(*) AS n_ls FROM documents GROUP BY 1, 2),
        |ml AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
        |ms AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
        |t AS (SELECT count(*) AS n_rows FROM documents),
        |mi AS (SELECT max(t.n_rows) AS n_rows, count(*) AS n_cells,
        |         round(sum(CAST(j.n_ls AS DOUBLE) / t.n_rows
        |               * ln(CAST(j.n_ls AS DOUBLE) * t.n_rows
        |                    / (CAST(ml.n_l AS DOUBLE) * ms.n_s))
        |               ORDER BY j.lang || '|' || j.source), 6) + 0 AS mi
        |       FROM j JOIN ml USING (lang) JOIN ms USING (source) CROSS JOIN t),
        |hl AS (SELECT round(-sum(CAST(n_l AS DOUBLE) / t.n_rows
        |                * ln(CAST(n_l AS DOUBLE) / t.n_rows)
        |                ORDER BY lang), 6) + 0 AS h_lang
        |       FROM ml CROSS JOIN t),
        |hs AS (SELECT round(-sum(CAST(n_s AS DOUBLE) / t.n_rows
        |                * ln(CAST(n_s AS DOUBLE) / t.n_rows)
        |                ORDER BY source), 6) + 0 AS h_source
        |       FROM ms CROSS JOIN t)
        |SELECT mi.n_rows, mi.n_cells, mi.mi, hl.h_lang, hs.h_source,
        |  CASE WHEN hl.h_lang * hs.h_source = 0 THEN 0.0
        |       ELSE round(mi.mi / sqrt(hl.h_lang * hs.h_source), 6) + 0 END AS nmi
        |FROM mi CROSS JOIN hl CROSS JOIN hs""".stripMargin,
    // JL projection: the shared duckSrp CTE chain IS the query
    "rp_project" ->
      s"""WITH ${duckSrp(16)}
         |SELECT vec_id, out_dim, proj FROM pr""".stripMargin,
    // SRP-LSH: sign bits of the shared projections, 4-bit banding,
    // bucket equi-join candidates, exact-cosine rerank top-3
    "ann_srp_multiprobe" ->
      s"""WITH ${duckSrp(32)},
         |sig AS (SELECT vec_id, out_dim // 4 AS band,
         |          CAST(sum(CASE WHEN proj > 0
         |            THEN 1 << CAST(out_dim % 4 AS INTEGER) ELSE 0 END) AS BIGINT)
         |            AS band_sig
         |        FROM pr GROUP BY 1, 2),
         |fb AS (SELECT vec_id, band, CAST(out_dim % 4 AS INTEGER) AS flip_pos
         |       FROM (SELECT vec_id, out_dim, out_dim // 4 AS band,
         |               row_number() OVER (PARTITION BY vec_id, out_dim // 4
         |                 ORDER BY abs(proj), out_dim) AS rn
         |             FROM pr WHERE vec_id < 10)
         |       WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, band, band_sig FROM sig WHERE vec_id < 10
         |  UNION ALL
         |  SELECT s.vec_id, s.band, xor(s.band_sig, CAST(1 << f.flip_pos AS BIGINT))
         |  FROM sig s JOIN fb f ON s.vec_id = f.vec_id AND s.band = f.band
         |  WHERE s.vec_id < 10),
         |cand AS (SELECT DISTINCT p.query_id, s.vec_id
         |         FROM probes p JOIN sig s USING (band, band_sig)
         |         WHERE s.vec_id <> p.query_id),
         |rr AS (SELECT cand.query_id, cand.vec_id,
         |         round(${duckCos("c.embedding", "q.embedding")}, 6) + 0 AS cos_sim
         |       FROM cand
         |       JOIN embeddings c ON c.vec_id = cand.vec_id
         |       JOIN embeddings q ON q.vec_id = cand.query_id)
         |SELECT query_id, rank, vec_id, cos_sim FROM (
         |  SELECT query_id, vec_id, cos_sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
         |  FROM rr) WHERE rank <= 3""".stripMargin,
    "ann_srp" ->
      s"""WITH ${duckSrp(32)},
         |sig AS (SELECT vec_id, out_dim // 4 AS band,
         |          CAST(sum(CASE WHEN proj > 0
         |            THEN 1 << CAST(out_dim % 4 AS INTEGER) ELSE 0 END) AS BIGINT)
         |            AS band_sig
         |        FROM pr GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, s.vec_id
         |         FROM sig q JOIN sig s USING (band, band_sig)
         |         WHERE q.vec_id < 10 AND s.vec_id <> q.vec_id),
         |rr AS (SELECT cand.query_id, cand.vec_id,
         |         round(${duckCos("c.embedding", "q.embedding")}, 6) + 0 AS cos_sim
         |       FROM cand
         |       JOIN embeddings c ON c.vec_id = cand.vec_id
         |       JOIN embeddings q ON q.vec_id = cand.query_id)
         |SELECT query_id, rank, vec_id, cos_sim FROM (
         |  SELECT query_id, vec_id, cos_sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
         |  FROM rr) WHERE rank <= 3""".stripMargin,
    // PQ/ADC: per-subspace Lloyd (seeds = first-16 subvectors, 2
    // rounds, subspace rides every grouping key), encode with the
    // final codebooks, ADC = per-query (s, code) partial distances
    // summed in subspace order, exact-cosine rerank of the top 12
    "ann_pq" ->
      s"""WITH pdims AS (
         |  SELECT vec_id, CAST(u.i - 1 AS BIGINT) AS dim,
         |         CAST(embedding[u.i] AS DOUBLE) AS x
         |  FROM embeddings, unnest(range(1, len(embedding)+1)) u(i)),
         |psd AS (SELECT vec_id, dim // 8 AS s, dim % 8 AS ld, x FROM pdims),
         |pqc0 AS (SELECT s, vec_id AS code, ld, round(x, 6) + 0 AS cv
         |         FROM psd WHERE vec_id < 16),
         |${duckPqAssign(1, "pqc0")},
         |${duckPqUpdate(1)},
         |${duckPqAssign(2, "pqc1")},
         |${duckPqUpdate(2)},
         |${duckPqAssign(3, "pqc2")},
         |qlut AS (SELECT q.vec_id AS query_id, c.s, c.code,
         |    round(sum((q.x - c.cv)^2 ORDER BY q.ld), 6) + 0 AS pd
         |  FROM psd q JOIN pqc2 c ON c.s = q.s AND c.ld = q.ld
         |  WHERE q.vec_id < 10 GROUP BY 1, 2, 3),
         |padc AS (SELECT l.query_id, k.vec_id,
         |    round(sum(l.pd ORDER BY l.s), 6) + 0 AS qdist
         |  FROM pqa3 k JOIN qlut l ON l.s = k.s AND l.code = k.code
         |  WHERE k.vec_id <> l.query_id GROUP BY 1, 2),
         |pcand AS (SELECT query_id, vec_id, qdist FROM (
         |    SELECT query_id, vec_id, qdist,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY qdist, vec_id) AS qrank
         |    FROM padc) WHERE qrank <= 48),
         |prr AS (SELECT pcand.query_id, pcand.vec_id, pcand.qdist,
         |    round(${duckCos("c.embedding", "q.embedding")}, 6) + 0 AS cos_sim
         |  FROM pcand
         |  JOIN embeddings c ON c.vec_id = pcand.vec_id
         |  JOIN embeddings q ON q.vec_id = pcand.query_id)
         |SELECT query_id, rank, vec_id, qdist, cos_sim FROM (
         |  SELECT query_id, vec_id, qdist, cos_sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
         |  FROM prr) WHERE rank <= 3""".stripMargin,
    // residual IVFADC: the shared ADC chain (coarse cells -> primary
    // residuals -> PQ unroll -> per-cell query LUTs) picks 48/query,
    // exact cosine decides
    "ann_ivf_pq" -> annIvfPqSql,
    // the persist twin answers the SAME query from the reloaded
    // artifacts — a green row IS the reload ≡ rebuild identity
    "ann_pq_index_persist" -> annIvfPqSql,
    // the same ADC chain feeding the recall-receipt tail (the
    // ann_recall_quantized shape: rank once at the largest budget,
    // per-factor filters, brute-force ground truth)
    // per-(vec, s) assigned-code distances already exist as pqd3
    // restricted to pqa3's argmin rows; vec-fold in s order, micro
    // grid, census stats via the cumulative rank trick
    "ann_pq_distortion" ->
      s"""WITH $duckIvfPqAdc,
         |pvr AS (SELECT k.vec_id,
         |    round(sum(d.dist ORDER BY d.s), 6) + 0 AS dist
         |  FROM pqa3 k JOIN pqd3 d ON d.vec_id = k.vec_id AND d.s = k.s
         |                         AND d.code = k.code
         |  GROUP BY 1),
         |pvd AS MATERIALIZED (SELECT CAST(round(dist * 1000000) AS BIGINT) AS d6
         |       FROM pvr),
         |tot AS (SELECT count(*) AS n_vecs, CAST(sum(d6) AS BIGINT) AS s6,
         |               max(d6) AS max_micro FROM pvd),
         |cum AS (SELECT d6, sum(c) OVER (ORDER BY d6) AS cum FROM
         |        (SELECT d6, count(*) AS c FROM pvd GROUP BY 1)),
         |p50 AS (SELECT min(d6) AS p50_micro FROM cum, tot
         |        WHERE cum * 2 >= n_vecs),
         |p95 AS (SELECT min(d6) AS p95_micro FROM cum, tot
         |        WHERE cum * 20 >= n_vecs * 19)
         |SELECT t.n_vecs, t.s6 // t.n_vecs AS mean_micro,
         |  p50.p50_micro, p95.p95_micro, t.max_micro
         |FROM tot t, p50, p95""".stripMargin,
    "ann_recall_ivfpq" ->
      s"""WITH $duckNrmCte,
         |$duckIvfPqAdc,
         |cand AS (SELECT query_id, vec_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY qdist, vec_id) AS qrank
         |         FROM adc),
         |rr AS (SELECT t.query_id, t.vec_id, t.qrank,
         |         round(${duckCosPre("c.embedding", "q.embedding", "c.nm", "q.nm")},
         |               6) + 0 AS cos_sim
         |       FROM (SELECT * FROM cand WHERE qrank <= 12) t
         |       JOIN nrm c ON c.vec_id = t.vec_id
         |       JOIN nrm q ON q.vec_id = t.query_id),
         |pf AS (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS f),
         |rk AS (SELECT pf.f, r.query_id, r.vec_id,
         |         row_number() OVER (PARTITION BY pf.f, r.query_id
         |           ORDER BY r.cos_sim DESC, r.vec_id) AS rank
         |       FROM rr r JOIN pf ON r.qrank <= 3 * pf.f),
         |sq AS (SELECT f, query_id, vec_id FROM rk WHERE rank <= 3),
         |exq AS MATERIALIZED (SELECT q.vec_id AS query_id, e.vec_id,
         |          round(${duckCosPre("e.embedding", "q.embedding", "e.nm", "q.nm")},
         |                6) + 0 AS cos_sim
         |        FROM nrm e, nrm q
         |        WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
         |exr AS (SELECT query_id, vec_id,
         |          row_number() OVER (PARTITION BY query_id
         |            ORDER BY cos_sim DESC, vec_id) AS rank
         |        FROM exq),
         |ex AS (SELECT query_id, vec_id FROM exr WHERE rank <= 3),
         |nex AS (SELECT count(*) AS n_exact FROM ex)
         |SELECT 'ivfpq' AS method, s2.f AS param,
         |  count(*) AS n_returned,
         |  CAST(sum(CASE WHEN e2.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  nex.n_exact,
         |  round(sum(CASE WHEN e2.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |        / nex.n_exact, 6) + 0 AS recall
         |FROM sq s2
         |LEFT JOIN ex e2 ON e2.query_id = s2.query_id AND e2.vec_id = s2.vec_id
         |CROSS JOIN nex
         |GROUP BY s2.f, nex.n_exact""".stripMargin,
    // composed funnel: IVF candidate chain (same CTEs as ann_ivf) ->
    // int8 code distances pick 12/query -> exact cosine rerank
    "ann_ivf_quantized" ->
      s"""WITH $duckSqrtCells,
         |s AS (
         |  SELECT max(greatest(abs(CAST(list_min(embedding) AS DOUBLE)),
         |                      abs(CAST(list_max(embedding) AS DOUBLE)))) AS qs
         |  FROM embeddings),
         |qz AS (SELECT vec_id,
         |         list_transform(embedding, x ->
         |           CAST(round(CAST(x AS DOUBLE) * 127.0 / s.qs) AS BIGINT)) AS qc
         |       FROM embeddings, s),
         |assigned AS (SELECT vec_id, c_label FROM ranked WHERE rn <= 2),
         |probes AS (SELECT vec_id AS query_id, c_label FROM ranked
         |           WHERE rn <= greatest(3, CAST(ceil((SELECT k FROM kk) / 16.0) AS BIGINT))
         |             AND vec_id < 10),
         |ivfcand AS (
         |  SELECT DISTINCT p.query_id, a.vec_id
         |  FROM probes p JOIN assigned a USING (c_label)
         |  WHERE a.vec_id <> p.query_id),
         |qd AS (SELECT c.query_id, c.vec_id,
         |         CAST(list_sum(list_transform(range(1, len(cc.qc)+1),
         |           i -> (cc.qc[i] - qq.qc[i]) * (cc.qc[i] - qq.qc[i]))) AS BIGINT) AS qdist
         |       FROM ivfcand c
         |       JOIN qz cc ON cc.vec_id = c.vec_id
         |       JOIN qz qq ON qq.vec_id = c.query_id),
         |cq AS (SELECT query_id, vec_id, qdist FROM (
         |         SELECT query_id, vec_id, qdist,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY qdist, vec_id) AS qrank
         |         FROM qd) WHERE qrank <= 12),
         |rr AS (SELECT cq.query_id, cq.vec_id, cq.qdist,
         |         round(${duckCos("e.embedding", "q.embedding")}, 6) + 0 AS cos_sim
         |       FROM cq
         |       JOIN embeddings e ON e.vec_id = cq.vec_id
         |       JOIN embeddings q ON q.vec_id = cq.query_id)
         |SELECT query_id, rank, vec_id, qdist, cos_sim FROM (
         |  SELECT query_id, vec_id, qdist, cos_sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
         |  FROM rr) WHERE rank <= 3""".stripMargin,
    // IVF-candidate form: sqrt(N) k-means cells (same quantizer CTE
    // chain as ann_ivf), nAssign=2 multi-assignment, exact cosine
    // only on co-resident pairs
    "similarity_join" ->
      s"""WITH $duckSqrtCells,
         |assigned AS (SELECT vec_id, c_label FROM ranked WHERE rn <= 2),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM assigned a JOIN assigned b USING (c_label)
         |  WHERE a.vec_id < b.vec_id)
         |SELECT p.a_id, p.b_id,
         |  round(${duckCos("ea.embedding", "eb.embedding")}, 6) + 0 AS cos_sim
         |FROM pairs p
         |JOIN embeddings ea ON ea.vec_id = p.a_id
         |JOIN embeddings eb ON eb.vec_id = p.b_id
         |WHERE round(${duckCos("ea.embedding", "eb.embedding")}, 6) + 0 >= 0.3""".stripMargin,
    // the same greedy rounds unrolled: per round one materialized
    // running-min table and one (mind desc, vec_id) LIMIT 1 argmax
    // excluding the accumulated selection
    "kcenter_select" -> {
      val k = 6
      def d(a: String, b: String) =
        s"round(sqrt(round(${duckL2Sq(a, b)}, 6) + 0), 6) + 0"
      val steps = (2 to k).map { r =>
        val prevSel = (1 until r).map(i => s"SELECT sid FROM s$i")
          .mkString(" UNION ALL ")
        s"""s$r AS (SELECT vec_id AS sid, mind FROM m${r - 1}
           |  WHERE vec_id NOT IN ($prevSel)
           |  ORDER BY mind DESC, vec_id LIMIT 1),
           |m$r AS MATERIALIZED (
           |  SELECT m.vec_id,
           |    least(m.mind, ${d("e.embedding", "s.embedding")}) AS mind
           |  FROM m${r - 1} m
           |  JOIN embeddings e ON e.vec_id = m.vec_id
           |  CROSS JOIN embeddings s CROSS JOIN s$r
           |  WHERE s.vec_id = s$r.sid)""".stripMargin
      }.mkString(",\n")
      val out = (2 to k)
        .map(r => s"SELECT ${r}::BIGINT AS sel_rank, sid AS vec_id, " +
          s"mind AS far_dist FROM s$r")
        .mkString("\nUNION ALL\n")
      s"""WITH s1 AS (SELECT min(vec_id) AS sid FROM embeddings),
         |m1 AS MATERIALIZED (
         |  SELECT e.vec_id, ${d("e.embedding", "s.embedding")} AS mind
         |  FROM embeddings e CROSS JOIN embeddings s CROSS JOIN s1
         |  WHERE s.vec_id = s1.sid),
         |$steps
         |SELECT 1::BIGINT AS sel_rank, sid AS vec_id,
         |  CAST(NULL AS DOUBLE) AS far_dist FROM s1
         |UNION ALL
         |$out""".stripMargin
    },
    // directed candidate pairs from the similarity_join cell chain;
    // deterministic first-k kNN, reach-dist/lrd/LOF mirrored
    "lof_outliers" ->
      s"""WITH $duckSqrtCells,
         |assigned AS MATERIALIZED (SELECT vec_id, c_label FROM ranked
         |  WHERE rn <= 2),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS p_id, b.vec_id AS o_id
         |  FROM assigned a JOIN assigned b USING (c_label)
         |  WHERE a.vec_id < b.vec_id),
         |distu AS MATERIALIZED (SELECT c.p_id, c.o_id,
         |    round(sqrt(round(${duckL2Sq("ea.embedding", "eb.embedding")}, 6)
         |      + 0), 6) + 0 AS d
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.p_id
         |  JOIN embeddings eb ON eb.vec_id = c.o_id),
         |dist AS (SELECT p_id, o_id, d FROM distu
         |         UNION ALL
         |         SELECT o_id AS p_id, p_id AS o_id, d FROM distu),
         |knn AS MATERIALIZED (SELECT p_id, o_id, d FROM (
         |    SELECT *, row_number() OVER (PARTITION BY p_id
         |      ORDER BY d, o_id) AS rn FROM dist) WHERE rn <= 5),
         |kd AS MATERIALIZED (SELECT p_id, count(*) AS n, max(d) AS kdist
         |       FROM knn GROUP BY 1),
         |lr AS (SELECT r.p_id,
         |         sum(greatest(r.d, ko.kdist) ORDER BY r.o_id) AS sr
         |       FROM knn r JOIN kd ko ON ko.p_id = r.o_id GROUP BY 1),
         |lrd AS MATERIALIZED (SELECT lr.p_id, kd.n, kd.kdist,
         |          round(kd.n / greatest(lr.sr, 1e-6), 6) + 0 AS lrd
         |        FROM lr JOIN kd USING (p_id)),
         |lof AS (SELECT k.p_id,
         |          sum(lo.lrd ORDER BY k.o_id) AS slrd
         |        FROM knn k JOIN lrd lo ON lo.p_id = k.o_id GROUP BY 1),
         |fin AS (SELECT f.p_id AS vec_id, l.n AS n_k, l.kdist, l.lrd,
         |          round(f.slrd / l.n / l.lrd, 6) + 0 AS lof
         |        FROM lof f JOIN lrd l USING (p_id))
         |SELECT CAST(row_number() OVER (ORDER BY lof DESC, vec_id) AS BIGINT)
         |    AS rank, vec_id, n_k, kdist, lrd, lof
         |FROM (SELECT * FROM fin ORDER BY lof DESC, vec_id LIMIT 20)""".stripMargin,
    // same pair chain as similarity_join, folded to the per-vector
    // keep/prune verdict (min smaller similar id = representative)
    "semantic_dedup" ->
      s"""WITH $duckSqrtCells,
         |assigned AS (SELECT vec_id, c_label FROM ranked WHERE rn <= 2),
         |cpairs AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM assigned a JOIN assigned b USING (c_label)
         |  WHERE a.vec_id < b.vec_id),
         |sim AS (SELECT a_id, b_id, cos_sim FROM (
         |    SELECT p.a_id, p.b_id,
         |      round(${duckCos("ea.embedding", "eb.embedding")}, 6) + 0 AS cos_sim
         |    FROM cpairs p
         |    JOIN embeddings ea ON ea.vec_id = p.a_id
         |    JOIN embeddings eb ON eb.vec_id = p.b_id)
         |  WHERE cos_sim >= 0.3),
         |pruned AS (SELECT b_id AS vec_id, CAST(min(a_id) AS BIGINT) AS pruned_by,
         |    max(cos_sim) AS max_cos
         |  FROM sim GROUP BY 1)
         |SELECT e.vec_id, pruned_by, max_cos, (pruned_by IS NULL) AS keep
         |FROM embeddings e LEFT JOIN pruned USING (vec_id)""".stripMargin,
    "keyword_topn" ->
      s"$duckTopn\nSELECT doc_id, rank, keyword, tf FROM topn",
    "distinct_keywords" ->
      s"""$duckTopn
         |SELECT keyword, min(doc_id * 1000000 + rank) AS first_seen
         |FROM topn GROUP BY keyword ORDER BY first_seen LIMIT 6""".stripMargin,
    "assemble_prompt" ->
      s"""$duckTopn,
         |dk AS (SELECT keyword, min(doc_id * 1000000 + rank) AS first_seen
         |       FROM topn GROUP BY keyword ORDER BY first_seen LIMIT 6)
         |SELECT 'Write a project proposal covering the following keywords: '
         |  || string_agg(keyword, ', ' ORDER BY first_seen)
         |  || '. Additional notes: focus on quarterly impact' AS prompt
         |FROM dk""".stripMargin,
    "keyword_extract" ->
      s"""WITH $duckToks,
         |grams0 AS (
         |  SELECT doc_id, pos,
         |    unnest(CASE WHEN tok2 IS NOT NULL
         |                THEN [tok, tok || ' ' || tok2] ELSE [tok] END) AS gram
         |  FROM (SELECT doc_id, pos, tok,
         |          lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS tok2
         |        FROM toks)),
         |grams AS (SELECT * FROM grams0 WHERE ${duckKeepKw("gram")}),
         |tf AS (SELECT doc_id, gram, count(*) AS tf, min(pos) AS first_pos
         |       FROM grams GROUP BY 1, 2),
         |df AS (SELECT gram, count(*) AS df
         |       FROM (SELECT DISTINCT doc_id, gram FROM grams) GROUP BY gram),
         |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
         |scored AS (
         |  SELECT t.doc_id, t.gram, t.tf, d.df, t.first_pos,
         |    round(t.tf * ln((n.n_docs + 1) / (d.df + 1)), 6) + 0 AS score
         |  FROM tf t JOIN df d USING (gram), n)
         |SELECT doc_id, rank, gram AS keyword, score FROM (
         |  SELECT doc_id, gram, score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tf DESC, df, gram, first_pos) AS rank
         |  FROM scored) WHERE rank <= 8""".stripMargin,
    "join_orders_customers" ->
      """SELECT c.c_mktsegment,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) + 0 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1""".stripMargin,
    "semi_join_parts" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part p
        |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)""".stripMargin,
    "revenue_by_region" ->
      """SELECT r.r_name,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) + 0 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1""".stripMargin,
    // count(*) FILTER keeps every pivot column BIGINT (sum(CASE...)
    // widens to HUGEINT in DuckDB and breaks the schema compare)
    "events_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'error') AS n_error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS n_view
        |FROM events GROUP BY 1""".stripMargin,
    // least(d, 65) mirrors the engine's banded cap=64 sentinel (cap+1)
    "dedup_edit_distance" ->
      s"""WITH $duckToks,
         |$duckShingles,
         |$duckLshCand
         |SELECT c.a_id, c.b_id,
         |  least(CAST(levenshtein(da.text, db.text) AS BIGINT), 65) AS edit_dist,
         |  CAST(levenshtein(da.text, db.text) AS BIGINT) <= 64 AS within_band,
         |  round(1.0 - least(CAST(levenshtein(da.text, db.text) AS BIGINT), 65)
         |        / greatest(length(da.text), length(db.text)), 6) + 0 AS edit_sim
         |FROM cand c
         |JOIN documents da ON da.doc_id = c.a_id
         |JOIN documents db ON db.doc_id = c.b_id""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) + 0 AS sum_qty,
        |  round(sum(l_extendedprice), 2) + 0 AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) + 0 AS sum_disc_price,
        |  round(avg(l_quantity), 4) + 0 AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "window_running_sum" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) + 0 AS running_value
        |FROM events""".stripMargin,
    "events_tumbling_agg" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
        |  event_type, count(*) AS n_events, round(sum(value), 4) + 0 AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin,
    "set_except" ->
      """SELECT doc_id, source FROM documents WHERE doc_id < 300
        |EXCEPT
        |SELECT doc_id, source FROM documents WHERE doc_id < 100""".stripMargin,
    "set_intersect" ->
      """SELECT doc_id, source FROM documents WHERE doc_id < 300
        |INTERSECT
        |SELECT doc_id, source FROM documents WHERE doc_id >= 100""".stripMargin,
    "set_except_all" ->
      """SELECT user_id, event_type FROM events WHERE event_id % 2 = 0
        |EXCEPT ALL
        |SELECT user_id, event_type FROM events WHERE event_id % 3 = 0""".stripMargin,
    "events_value_ranks" ->
      """SELECT event_id, event_type,
        |  CAST(round(value * 1000) AS BIGINT) AS v3,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk
        |FROM events
        |WINDOW w AS (PARTITION BY event_type
        |             ORDER BY CAST(round(value * 1000) AS BIGINT))""".stripMargin,
    // identical fixed double-expression shape on both engines; power
    // sums exact HUGEINTs; m2^1.5 spelled m2*sqrt(m2)
    "events_moments" ->
      """WITH v AS (SELECT event_type,
        |        CAST(round(value * 1000) AS BIGINT) AS v3 FROM events),
        |s AS (SELECT event_type, count(*) AS n,
        |        CAST(sum(v3) AS BIGINT) AS s1,
        |        sum(CAST(v3 AS HUGEINT) * v3) AS s2,
        |        sum(CAST(v3 AS HUGEINT) * v3 * v3) AS s3,
        |        sum(CAST(v3 AS HUGEINT) * v3 * v3 * v3) AS s4
        |      FROM v GROUP BY 1),
        |m AS (SELECT *,
        |        CAST(s1 AS DOUBLE) / n AS mean,
        |        CAST(s2 AS DOUBLE) / n AS q2,
        |        CAST(s3 AS DOUBLE) / n AS q3,
        |        CAST(s4 AS DOUBLE) / n AS q4
        |      FROM s),
        |c AS (SELECT *,
        |        q2 - mean * mean AS m2,
        |        q3 - 3.0 * mean * q2 + 2.0 * mean * mean * mean AS m3,
        |        q4 - 4.0 * mean * q3 + 6.0 * mean * mean * q2
        |          - 3.0 * mean * mean * mean * mean AS m4
        |      FROM m)
        |SELECT event_type, n,
        |  (s1 - ((s1 % n) + n) % n) // n AS mean_milli,
        |  round(CASE WHEN m2 > 0.0 THEN m3 / (m2 * sqrt(m2)) ELSE 0.0 END, 6)
        |    + 0 AS skewness,
        |  round(CASE WHEN m2 > 0.0 THEN m4 / (m2 * m2) - 3.0 ELSE 0.0 END, 6)
        |    + 0 AS kurtosis_ex
        |FROM c""".stripMargin,
    // the native session_window semantics replayed manually: break on
    // STRICTLY > gap (touching [t, t+gap) windows merge — measured,
    // spec-pinned); end = last event + gap
    "sessionize_native" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us FROM events),
        |o AS (SELECT user_id, ts_us,
        |        lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev_us
        |      FROM e),
        |s AS (SELECT user_id, ts_us,
        |        sum(CASE WHEN prev_us IS NULL
        |                   OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY user_id ORDER BY ts_us
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM o)
        |SELECT user_id, CAST(min(ts_us) AS BIGINT) AS session_start_us,
        |  CAST(max(ts_us) + 1800000000 AS BIGINT) AS session_end_us,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "set_intersect_all" ->
      """SELECT user_id, event_type FROM events WHERE event_id % 2 = 0
        |INTERSECT ALL
        |SELECT user_id, event_type FROM events WHERE event_id % 3 = 0""".stripMargin,
    "events_ntile" ->
      """SELECT event_id, event_type,
        |  CAST(ntile(4) OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS BIGINT) AS value_quartile
        |FROM events""".stripMargin,
    "ship_date_rollup" ->
      """SELECT CAST(date_part('year', l_shipdate) AS BIGINT) AS ship_year,
        |  CAST(date_part('quarter', l_shipdate) AS BIGINT) AS ship_quarter,
        |  count(*) AS n_items,
        |  round(sum(l_quantity), 2) + 0 AS sum_qty,
        |  round(avg(l_discount), 6) + 0 AS avg_discount
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "user_event_paths" ->
      """SELECT user_id,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
        |  count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin,
    // every sample row recomputed from media_id arithmetic: n=id%7+4,
    // delta=100+(id%5)·20, size_i=50+((id·31+i·17)%100), chunk offset
    // 376+4n+4nk with a per-media running size prefix, sync every 3rd
    "video_frames" ->
      """WITH v AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 2 = 1),
        |p AS (SELECT media_id, CAST((media_id % 7) + 4 AS BIGINT) AS n,
        |        CAST(100 + (media_id % 5) * 20 AS BIGINT) AS delta
        |      FROM v),
        |p2 AS (SELECT *, (n + 2) // 3 AS nk FROM p),
        |s AS (SELECT media_id, n, delta, nk, CAST(u.si AS BIGINT) AS sample_idx
        |      FROM p2, unnest(range(1, n + 1)) u(si)),
        |z AS (SELECT *,
        |        50 + ((media_id * 31 + (sample_idx - 1) * 17) % 100) AS sz
        |      FROM s)
        |SELECT media_id, sample_idx,
        |  (sample_idx - 1) * delta AS pts_ticks,
        |  CAST(376 + 4 * n + 4 * nk + COALESCE(sum(sz) OVER (PARTITION BY media_id
        |    ORDER BY sample_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS "offset",
        |  sz AS size, (sample_idx % 3 = 1) AS keyframe
        |FROM z""".stripMargin,
    // the decoded keyframe pixels replayed from the pure pixelOf
    // formula: kid = media_id*7919 + si, pixel(x,y) =
    // ((kid%97 + 3)*(7x + 13y + 5)) % 256 (the perturb branch needs
    // kid div 97 = 1, unreachable at kid >= 7919) — no decoder, no
    // byte parsing, yet it must match ImageIO's output bit-for-bit
    "video_keyframes" ->
      """WITH v AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 2 = 1),
        |p AS (SELECT media_id, CAST((media_id % 7) + 4 AS BIGINT) AS n,
        |        CAST(100 + (media_id % 5) * 20 AS BIGINT) AS delta
        |      FROM v),
        |s AS (SELECT media_id, delta, CAST(u.si AS BIGINT) AS sample_idx
        |      FROM p, unnest(range(1, n + 1)) u(si)
        |      WHERE u.si % 3 = 1),
        |k AS (SELECT *, media_id * 7919 + sample_idx AS kid FROM s),
        |px AS (SELECT k.media_id, k.sample_idx, k.delta,
        |         ((kid % 97 + 3) * (x.x * 7 + y.y * 13 + 5)) % 256 AS pv
        |       FROM k, unnest(range(0, 8)) x(x), unnest(range(0, 6)) y(y))
        |SELECT media_id, sample_idx,
        |  (sample_idx - 1) * delta AS pts_ticks,
        |  CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
        |  CAST(sum(pv) AS BIGINT) AS px_sum
        |FROM px
        |GROUP BY media_id, sample_idx, delta""".stripMargin,
    "markov_accuracy" ->
      """WITH pr AS (SELECT event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |          AS to_type,
        |        epoch_ns(ts) // 86400000000000 AS day
        |      FROM events),
        |pairs AS (SELECT * FROM pr WHERE to_type IS NOT NULL),
        |b AS (SELECT min(day) AS dmin, max(day) AS dmax FROM pairs),
        |sp AS (SELECT p.*, p.day < (b.dmin + b.dmax + 1) // 2 AS is_train
        |       FROM pairs p, b),
        |m AS (SELECT from_type, to_type AS predicted_next FROM (
        |        SELECT from_type, to_type,
        |          row_number() OVER (PARTITION BY from_type
        |            ORDER BY count(*) DESC, to_type) AS rn
        |        FROM sp WHERE is_train GROUP BY from_type, to_type)
        |      WHERE rn = 1)
        |SELECT t.from_type, max(m.predicted_next) AS predicted_next,
        |  count(*) AS n_test,
        |  CAST(sum(CASE WHEN t.to_type = m.predicted_next THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct,
        |  round(CAST(sum(CASE WHEN t.to_type = m.predicted_next THEN 1 ELSE 0 END)
        |    AS BIGINT) / CAST(count(*) AS DOUBLE), 6) + 0 AS accuracy
        |FROM sp t LEFT JOIN m USING (from_type)
        |WHERE NOT t.is_train
        |GROUP BY t.from_type""".stripMargin,
    "event_transitions" ->
      """WITH ord AS (SELECT event_type,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |          AS next_type
        |      FROM events),
        |c AS (SELECT event_type AS from_type, next_type AS to_type,
        |        count(*) AS n_trans
        |      FROM ord WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |ft AS (SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS n_from
        |       FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n_trans, f.n_from,
        |  round(CAST(c.n_trans AS DOUBLE) / CAST(f.n_from AS DOUBLE), 6) + 0
        |    AS p_trans
        |FROM c JOIN ft f USING (from_type)""".stripMargin,
    "events_value_stats" ->
      """SELECT event_type,
        |  round(stddev_samp(value), 4) + 0 AS sd_value,
        |  round(var_samp(value), 4) + 0 AS var_value,
        |  round(min(value), 6) + 0 AS min_value,
        |  round(max(value), 6) + 0 AS max_value,
        |  round(avg(value), 6) + 0 AS avg_value
        |FROM events GROUP BY 1""".stripMargin,
    "events_outliers" ->
      """WITH s AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        |           FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, round(e.value, 6) + 0 AS value,
        |       round((e.value - s.mu) / s.sd, 4) + 0 AS z_score
        |FROM events e JOIN s USING (event_type)
        |WHERE round(abs(e.value - s.mu) - 3.0 * s.sd, 6) + 0 > 0""".stripMargin,
    "events_lag_features" ->
      """SELECT event_id, user_id,
        |  round(value, 6) + 0 AS value,
        |  round(prev_value, 6) + 0 AS prev_value,
        |  round(value - prev_value, 6) + 0 AS delta,
        |  round(ra3, 6) + 0 AS rolling_avg3
        |FROM (SELECT event_id, user_id, value,
        |        lag(value, 1) OVER (PARTITION BY user_id
        |          ORDER BY epoch_us(ts), event_id) AS prev_value,
        |        avg(value) OVER (PARTITION BY user_id
        |          ORDER BY epoch_us(ts), event_id
        |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ra3
        |      FROM events)""".stripMargin,
    // bin expression shape MIRRORS the engine exactly — see the
    // valueHistogram scaladoc on why the algebraic twin won't do
    "events_histogram" ->
      """WITH b AS (SELECT event_type, round(min(value), 6) + 0 AS lo,
        |                  round(max(value), 6) + 0 AS hi
        |           FROM events GROUP BY 1),
        |binned AS (SELECT e.event_type,
        |    CASE WHEN b.hi = b.lo THEN 0
        |         ELSE least(19, greatest(0, CAST(floor((e.value - b.lo) * 20 / (b.hi - b.lo)) AS BIGINT)))
        |    END AS bin
        |  FROM events e JOIN b USING (event_type))
        |SELECT n.event_type, n.bin, n.n, b.lo, b.hi
        |FROM (SELECT event_type, bin, count(*) AS n
        |      FROM binned GROUP BY 1, 2) n
        |JOIN b USING (event_type)""".stripMargin,
    "key_skew_profile" ->
      """WITH c AS (SELECT user_id, count(*) AS n_rows FROM events GROUP BY 1),
        |t AS (SELECT sum(n_rows) AS total FROM c)
        |SELECT c.user_id, c.n_rows,
        |       round(c.n_rows / t.total, 6) + 0 AS share
        |FROM c, t ORDER BY c.n_rows DESC, c.user_id LIMIT 10""".stripMargin,
    // median rounded once; deviations are bit-identical raw doubles
    // ((a+b)·0.5 interpolation is exact IEEE); threshold rounded once
    "watermark_profile" ->
      """WITH w AS (SELECT greatest(1, (max(event_id) + 4096) // 4096) AS wdt
        |           FROM events),
        |b AS (SELECT event_id, event_type, epoch_ns(ts) AS tsn,
        |             event_id // (SELECT wdt FROM w) AS bk FROM events),
        |h AS (SELECT bk, max(tsn) AS bk_max FROM b GROUP BY 1),
        |hw AS (SELECT bk, max(bk_max) OVER (ORDER BY bk
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hw_prior
        |       FROM h),
        |l AS (SELECT b.event_type,
        |        CASE WHEN hw.hw_prior IS NULL THEN 0
        |             ELSE greatest(0, (hw.hw_prior - b.tsn) // 1000000) END
        |          AS late_ms
        |      FROM b JOIN hw USING (bk))
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN late_ms > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  round(quantile_cont(late_ms, 0.5), 6) + 0 AS p50_ms,
        |  round(quantile_cont(late_ms, 0.95), 6) + 0 AS p95_ms,
        |  CAST(max(late_ms) AS BIGINT) AS max_ms
        |FROM l GROUP BY 1""".stripMargin,
    "events_mad" ->
      """WITH m AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) + 0 AS med
        |           FROM events GROUP BY 1),
        |d AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
        |      FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, round(quantile_cont(adev, 0.5), 6) + 0 AS mad
        |       FROM d GROUP BY 1),
        |t AS (SELECT event_type, mad,
        |        round(3.0 * 1.4826 * mad, 6) + 0 AS threshold FROM md)
        |SELECT d.event_type, max(d.med) AS med, max(t.mad) AS mad,
        |  CAST(sum(CASE WHEN d.adev > t.threshold THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  count(*) AS n_total
        |FROM d JOIN t USING (event_type) GROUP BY 1""".stripMargin,
    // HUGEINT gap/square sums (the decimal(38,0) twin), population
    // variance from the two exact sums, mirrored expression shapes
    "events_burstiness" ->
      """WITH g AS (SELECT user_id,
        |        epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id
        |          ORDER BY epoch_ns(ts), event_id) AS gap
        |      FROM events),
        |a AS (SELECT user_id, count(*) AS n_gaps, sum(gap) AS sg,
        |        sum(CAST(gap AS HUGEINT) * gap) AS sg2
        |      FROM g WHERE gap IS NOT NULL GROUP BY 1),
        |b AS (SELECT user_id, n_gaps,
        |        CAST(sg AS DOUBLE) / n_gaps AS mean_gap,
        |        CAST(sg2 AS DOUBLE) / n_gaps
        |          - (CAST(sg AS DOUBLE) / n_gaps) * (CAST(sg AS DOUBLE) / n_gaps)
        |          AS var_gap
        |      FROM a WHERE n_gaps >= 4),
        |c AS (SELECT user_id, n_gaps, mean_gap,
        |        CASE WHEN mean_gap = 0 THEN 0.0
        |             ELSE sqrt(greatest(var_gap, 0.0)) / mean_gap END AS cv
        |      FROM b)
        |SELECT user_id, n_gaps,
        |  round(mean_gap / 1000000000.0, 3) + 0 AS mean_gap_s,
        |  round(cv, 6) + 0 AS cv,
        |  round((cv - 1) / (cv + 1), 6) + 0 AS burstiness
        |FROM c""".stripMargin,
    // residuals vs the ROUNDED (type, hour) baseline, then the
    // events_mad CTE chain on those residuals
    "events_anomaly" ->
      """WITH b AS (SELECT event_type,
        |         (epoch_ns(ts) // 3600000000000) % 24 AS hour_of_day,
        |         round(avg(value), 6) + 0 AS baseline
        |       FROM events GROUP BY 1, 2),
        |r AS (SELECT e.event_type, e.value - b.baseline AS resid
        |      FROM events e JOIN b
        |        ON b.event_type = e.event_type
        |       AND b.hour_of_day = (epoch_ns(e.ts) // 3600000000000) % 24),
        |m AS (SELECT event_type, round(quantile_cont(resid, 0.5), 6) + 0 AS med_resid
        |      FROM r GROUP BY 1),
        |d AS (SELECT r.event_type, m.med_resid, abs(r.resid - m.med_resid) AS adev
        |      FROM r JOIN m USING (event_type)),
        |md AS (SELECT event_type, round(quantile_cont(adev, 0.5), 6) + 0 AS mad
        |       FROM d GROUP BY 1),
        |t AS (SELECT event_type, mad,
        |        round(3.0 * 1.4826 * mad, 6) + 0 AS threshold FROM md)
        |SELECT d.event_type, max(d.med_resid) AS med_resid, max(t.mad) AS mad,
        |  CAST(sum(CASE WHEN d.adev > t.threshold THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_anomalies,
        |  count(*) AS n_total
        |FROM d JOIN t USING (event_type) GROUP BY 1""".stripMargin,
    "pricing_correlation" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) + 0 AS qty_price_corr,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,
    // the sketches' tolerance booleans are pinned true: a drifting
    // HLL/quantile sketch breaks the hash gate
    "approx_stats_check" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
        |       true AS approx_distinct_ok, true AS approx_p50_ok
        |FROM events GROUP BY 1""".stripMargin,
    "events_percentiles" ->
      """SELECT event_type, CAST(u.i - 1 AS BIGINT) AS qi,
        |       round(ps[u.i], 6) + 0 AS quantile_value
        |FROM (SELECT event_type, quantile_cont(value, [0.25, 0.5, 0.75]) AS ps
        |      FROM events GROUP BY 1) t,
        |     unnest(range(1, len(ps)+1)) u(i)""".stripMargin,
    // bounds rounded BEFORE the tail comparisons on both engines
    "events_winsorized" ->
      """WITH b AS (SELECT event_type,
        |            round(quantile_cont(value, 0.05), 6) + 0 AS p05,
        |            round(quantile_cont(value, 0.95), 6) + 0 AS p95
        |          FROM events GROUP BY 1)
        |SELECT e.event_type, b.p05, b.p95,
        |  CAST(sum(CASE WHEN e.value < b.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
        |  CAST(sum(CASE WHEN e.value > b.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |  count(*) AS n_total
        |FROM events e JOIN b USING (event_type)
        |GROUP BY 1, 2, 3""".stripMargin,
    // oracle twin of the syntheticMedia → featurize pipeline's
    // SQL-expressible projection: payload = UTF-8 bytes of text, so
    // n_bytes = octet_length(encode(text)); modality = doc_id mod 3
    "multimodal_features" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin,
    // oracle twin of syntheticContainers → decodeMedia: recompute the
    // header fields the WAV/MP4 parsers must recover. wav duration is
    // data_bytes*1000 floor-div byte_rate (byte_rate = rate*ch*2 for
    // 16-bit PCM); mp4 duration is units*1000 floor-div timescale
    // (units = n_chars*3, timescale 600 → exactly n_chars*5)
    "media_metadata" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'audio' ELSE 'video' END AS modality,
        |  CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp4' END AS container,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 + (doc_id % 10) * 800 ELSE -1 END AS INT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id % 4) // 2 ELSE -1 END AS INT) AS channels,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE -1 END AS INT) AS bits_per_sample,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN -1 ELSE (doc_id % 1920) + 1 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN -1 ELSE (doc_id % 1080) + 1 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |       THEN ((n_chars % 256) + 1) * 1000
        |            // ((8000 + (doc_id % 10) * 800) * (1 + (doc_id % 4) // 2) * 2)
        |       ELSE n_chars * 5 END AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,
    "json_extract" ->
      """SELECT event_id,
        |  CAST(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1) AS BIGINT) AS k
        |FROM events WHERE regexp_matches(props, '"k"\s*:\s*-?\d+')""".stripMargin
  )

  /** The persisted-index queries assert "a reloaded index answers
    * bit-identically to a freshly built one" — so their oracle IS
    * the fresh-build oracle, shared by reference (any divergence
    * between the two declared twins would itself be the bug). */
  private def persistedIndexOracles: Map[String, String] = Map(
    "dedup_index_persist" -> oracleSqlBase("dedup_incremental"),
    // merged ≡ rebuild at the LABEL tier: incremental star-forest
    // maintenance (persisted labels + batch-touching pairs) must
    // reproduce the full-recompute clustering verbatim
    "dedup_clusters_incremental" -> oracleSqlBase("dedup_clusters"),
    "ann_index_persist" -> oracleSqlBase("ann_ivf"),
    // merged (persisted-base ∪ batch) postings must answer exactly
    // like the from-scratch BM25 — the additive-state identity
    "bm25_incremental" -> oracleSqlBase("search_bm25"),
    // the lightened persist-twin shape (round-13): the oracle still
    // RETRAINS FROM SCRATCH, then (a) hashes every artifact row in
    // the engine's long (kind, lang, b, mu) format — model_sha pins
    // FULL reload ≡ retrain equality, stronger than re-answering —
    // and (b) re-scores the bounded doc_id%8 sample through the model
    "nb_model_persist" ->
      s"""WITH $duckNbCtes,
         |art AS (
         |  SELECT 'w,' || lang || ',' || CAST(b AS VARCHAR) || ',' ||
         |         CAST(w_mu AS VARCHAR) AS r FROM w
         |  UNION ALL
         |  SELECT 'd,' || lang || ',-1,' || CAST(d_mu AS VARCHAR) FROM dmu
         |  UNION ALL
         |  SELECT 'p,' || lang || ',-1,' || CAST(prior_mu AS VARCHAR) FROM pr),
         |mh AS (SELECT sha256(string_agg(r, '|' ORDER BY r)) AS model_sha FROM art)
         |SELECT doc_id, predicted_lang, score_micro,
         |       (SELECT model_sha FROM mh) AS model_sha
         |FROM nbp WHERE doc_id % 8 = 0""".stripMargin,
    // the full from-scratch retrain IS the oracle: merged-state
    // training must land on exactly these rows or the row is red
    "nb_incremental" ->
      s"""WITH $duckNbCtes
         |SELECT 'w' AS kind, lang, CAST(b AS BIGINT) AS b, w_mu AS mu FROM w
         |UNION ALL
         |SELECT 'd' AS kind, lang, CAST(-1 AS BIGINT) AS b, d_mu AS mu FROM dmu
         |UNION ALL
         |SELECT 'p' AS kind, lang, CAST(-1 AS BIGINT) AS b, prior_mu AS mu
         |FROM pr""".stripMargin,
    "bpe_model_persist" -> oracleSqlBase("bpe_encode"),
    "plsa_model_persist" -> oracleSqlBase("topic_model"),
    "lm_model_persist" -> oracleSqlBase("lm_tune"),
    "gd_model_persist" -> oracleSqlBase("quality_classifier"))
}
