package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Structured Streaming forms of the engine's ingest operators
  * (SURVEY.md §2.10). The reference ingests in batch at startup plus
  * on-upload micro-batches (app.py:117-158); these are the same
  * semantics as continuous streams:
  *
  *  - [[tumblingCounts]]: the streaming twin of
  *    RelationalOps.eventsTumblingAgg — event-time window + watermark
  *    so state is bounded and late data beyond the horizon is dropped.
  *  - [[dedupedIngest]]: the streaming twin of the hash anti-join
  *    (app_callapi.py:117-120,139) — first occurrence of each content
  *    hash passes, repeats are suppressed via keyed state with a TTL
  *    (state must not grow unboundedly at 100 TB/day).
  *
  * Scale notes: state is partitioned by group key across executors;
  * watermark/TTL bound its size; sinks are exactly-once through
  * checkpointed offsets + idempotent parquet commits.
  */
object StreamingOps {

  /** Event-time tumbling counts with a watermark. `events` must be a
    * *streaming* DataFrame with (ts: Timestamp, event_type, value). */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Event-time SESSION windows with a watermark — the streaming twin
    * of [[graft.ops.RelationalOps.sessionize]]'s batch lag+cumsum:
    * `session_window` merges events whose gaps stay under
    * `gap`, closing a session (and emitting its row) once the
    * watermark passes gap beyond its last event. State per key is one
    * open session (bounded); late events beyond the horizon are
    * dropped exactly like [[tumblingCounts]]. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Stream-stream interval join — the streaming twin of
    * RelationalOps.purchaseAttribution's batch as-of: purchases
    * joined to the same user's views from the trailing `maxGap`.
    * Both sides carry watermarks and the join condition bounds
    * event-time distance, so each side's buffered state is PURGEABLE
    * (Spark drops a buffered row once the other side's watermark
    * passes its join-window end) — without the interval bound a
    * stream-stream join's state grows forever.
    *
    * Inputs: purchases (p_ts Timestamp, p_user, purchase_id),
    * views (v_ts Timestamp, v_user, view_id). Inner join: pairs
    * where v_ts ∈ [p_ts − maxGap, p_ts]. */
  def attributionStream(purchases: DataFrame, views: DataFrame,
                        maxGap: String = "1 hour"): DataFrame =
    purchases.withWatermark("p_ts", maxGap)
      .join(
        views.withWatermark("v_ts", maxGap),
        expr(s"p_user = v_user AND v_ts BETWEEN p_ts - INTERVAL $maxGap AND p_ts"))

  /** Stream-static enrichment join + gate — the STATELESS streaming
    * join family ([[attributionStream]] is the stateful one): each
    * micro-batch of the stream hash-joins the static dimension and
    * applies the quality floor, no watermark, no state store, because
    * the static side is re-resolved per batch (a file-backed dim
    * picks up new files; a broadcast-sized dim stays a broadcast hash
    * join inside every batch). This is the streaming twin of the
    * batch dimension hops in [[graft.ops.RelationalOps.revenueByRegion]]:
    * at any scale the stream side never shuffles for the join.
    *
    * Inner join drops events with no dimension row — the
    * "known-entity gate" shape of a production ingest (unknown keys
    * go to a dead-letter sink in a real topology, expressible as the
    * left-anti twin of this join). */
  def enrichedStream(events: DataFrame, dim: DataFrame,
                     minValue: Double = 0.0): DataFrame =
    events
      .filter(col("value") >= minValue)
      .join(org.apache.spark.sql.functions.broadcast(dim), "user_id")

  case class Doc(doc_id: Long, source: String, text: String)
  case class KeyedDoc(content_hash: String, doc: Doc)

  /** Streaming incremental ingest: emit each content hash's FIRST
    * document, drop subsequent duplicates. Keyed state holds one
    * boolean per seen hash.
    *
    * `ttl`: optional processing-time state expiry. REQUIRED in a real
    * deployment (unbounded hash-state otherwise); opt-in here because
    * ProcessingTimeTimeout makes the engine schedule continuous
    * timeout-check micro-batches — correct for a 24/7 job, a livelock
    * for processAllAvailable-style batch draining. */
  def dedupedIngest(docs: Dataset[Doc], ttl: Option[String] = None): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    docs
      .map(d => KeyedDoc(sha256Hex(d.text), d))
      .groupByKey(_.content_hash)
      .flatMapGroupsWithState[Boolean, Doc](OutputMode.Append(), timeoutConf) {
        case (_, rows, state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            // RE-ARM the timeout: GroupState clears any pending
            // timeout on every invocation for a key, so without this
            // a hash that ever sees one duplicate never expires
            ttl.foreach(state.setTimeoutDuration)
            rows.foreach(_ => ())
            Iterator.empty
          } else {
            state.update(true)
            ttl.foreach(state.setTimeoutDuration)
            // deterministic winner: smallest doc_id in the group (the
            // group iterator's order is shuffle-dependent)
            var best: Doc = null
            rows.foreach(r => if (best == null || r.doc.doc_id < best.doc_id) best = r.doc)
            Iterator.single(best)
          }
      }
  }

  /** Watermark-bounded streaming dedup — the DECLARATIVE twin of
    * [[dedupedIngest]]'s hand-rolled keyed state, via the engine's
    * own `dropDuplicatesWithinWatermark`: a key's dedup state is
    * evicted automatically once the event-time watermark passes its
    * first-seen time plus the delay, so 24/7 state stays bounded
    * WITHOUT ProcessingTimeTimeout's continuous timeout-check
    * micro-batches (the livelock caveat on [[dedupedIngest]]). The
    * trade: suppression is only guaranteed for duplicates arriving
    * within the watermark delay of the first occurrence — a
    * re-arrival after eviction re-emits (at-least-once dedup), which
    * is the right contract when a downstream exact dedup
    * (CorpusOps.dedupDocuments) runs at rest anyway.
    *
    * `events` must be a streaming DataFrame with an event-time
    * column `tsCol`; dedup is by `keys`. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           tsCol: String = "ts",
                           watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  case class Ev(event_id: Long, ts: Long, user_id: Long, event_type: String)
  case class StateVersion(user_id: Long, version: Long, state: String,
                          valid_from: Long, valid_to: Long)
  case class UserSt(version: Long, state: String, since: Long, lastTs: Long)

  /** Streaming SCD2 — the streaming twin of
    * [[graft.ops.RelationalOps.scd2UserState]]: keyed state carries
    * each user's OPEN version (state, since, last-applied ts); when a
    * later event changes the event_type, the closed version row
    * [valid_from, valid_to) is EMITTED and the open version advances.
    * Append-mode-clean: only closed (immutable) versions are output;
    * the open version is exactly the keyed state, queryable from the
    * state store rather than re-emitted per batch.
    *
    * Ordering: rows are applied in (ts, event_id) order WITHIN a
    * batch; an event older than the state's last applied ts is
    * dropped (the batch twin totally orders by ts — a streaming
    * deployment bounds that loss with a watermark-sized buffer
    * upstream or accepts drop-late semantics, same trade as
    * [[tumblingCounts]]). State per user is one small case class —
    * bounded without TTL. */
  def stateHistoryStream(events: Dataset[Ev]): Dataset[StateVersion] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserSt, StateVersion](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[UserSt]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts, e.event_id))
          var cur = state.getOption.orNull
          val out = Seq.newBuilder[StateVersion]
          sorted.foreach { e =>
            if (cur == null) cur = UserSt(1L, e.event_type, e.ts, e.ts)
            else if (e.ts < cur.lastTs) () // late beyond applied state: dropped
            else if (e.event_type != cur.state) {
              out += StateVersion(uid, cur.version, cur.state, cur.since, e.ts)
              cur = UserSt(cur.version + 1, e.event_type, e.ts, e.ts)
            } else cur = cur.copy(lastTs = e.ts)
          }
          if (cur != null) state.update(cur)
          out.result().iterator
      }
  }

  /** Input row for [[twapStream]]: `ts` in Long nanos, `cents` the
    * integer value grid (the batch twin's `round(value·100)`). */
  case class ValEv(event_id: Long, ts: Long, user_id: Long, cents: Long)
  /** [[twapStream]] state: the last APPLIED event (its value is the
    * one "current" until the next arrival) plus the running integer
    * sums — everything the batch fold keeps, nothing else. */
  case class TwapSt(lastTs: Long, lastId: Long, lastCents: Long,
                    nIntervals: Long, totalGapS: Long, wsum: Long)
  case class TwapUpdate(user_id: Long, n_intervals: Long,
                        total_gap_s: Long, twap: Double)

  /** Streaming twin of [[graft.ops.RelationalOps.eventsTwap]] (§2.10
    * convention — oracle-exempt, spec-pinned to the batch op): the
    * per-user time-weighted average maintained INCREMENTALLY. The
    * batch op's lead() window becomes one Long-arithmetic fold per
    * key: each arriving event closes the gap the PREVIOUS event was
    * "current" for (gap floored to whole seconds — the batch
    * contract), adds cents·gap to the running weighted sum, and
    * becomes the new open interval; state is six Longs per user.
    * Same-instant ties apply in (ts, event_id) order inside a batch;
    * an event at or before the last APPLIED (ts, event_id) is late
    * beyond applied state and DROPS (the [[stateHistoryStream]]
    * rule — batch ≡ stream holds for in-order arrival, which the
    * spec replays). Zero-span users emit nothing yet, exactly as the
    * batch op's total_gap_s > 0 filter. */
  def twapStream(events: Dataset[ValEv]): Dataset[TwapUpdate] = {
    import events.sparkSession.implicits._
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TwapSt, TwapUpdate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[TwapSt]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts, e.event_id))
          var st = state.getOption.orNull
          sorted.foreach { e =>
            if (st == null) st = TwapSt(e.ts, e.event_id, e.cents, 0L, 0L, 0L)
            else if (e.ts < st.lastTs ||
              (e.ts == st.lastTs && e.event_id <= st.lastId)) () // late: dropped
            else {
              val gap = (e.ts - st.lastTs) / 1000000000L
              st = TwapSt(e.ts, e.event_id, e.cents, st.nIntervals + 1,
                st.totalGapS + gap, st.wsum + st.lastCents * gap)
            }
          }
          if (st != null) state.update(st)
          if (st != null && st.totalGapS > 0)
            Iterator.single(TwapUpdate(uid, st.nIntervals, st.totalGapS,
              round6(st.wsum.toDouble / (st.totalGapS.toDouble * 100.0))))
          else Iterator.empty
      }
  }

  /** [[packStream]] input: a tokenized doc already routed to its
    * packing stream (the batch op's salted hash bucket — routing is
    * map-side and stateless, so the stream twin takes it as given). */
  case class PackDoc(doc_id: Long, stream_id: Long, n_tok: Long)
  /** [[packStream]] state: the last APPLIED doc_id (late-arrival
    * gate) and the running token count — exactly what the batch
    * cumsum window carries, nothing else. */
  case class PackSt(lastDoc: Long, cumTok: Long)
  case class PackAssign(doc_id: Long, stream_id: Long, n_tok: Long,
                        seq_id: Long, seq_offset: Long)

  /** Streaming twin of [[graft.ops.TextOps.packSequences]] (§2.10
    * convention — oracle-exempt, spec-pinned to the batch op): the
    * concat-and-chunk sequence assignment maintained INCREMENTALLY.
    * The batch op's per-stream cumsum window becomes one two-Long
    * fold per stream key: an arriving doc's sequence id/offset derive
    * from the running token count BEFORE it lands (the batch
    * `cum_tok − n_tok` contract), then the count advances. Docs apply
    * in doc_id order inside a batch (the batch window's ORDER BY); a
    * doc at or below the last APPLIED doc_id is late beyond applied
    * state and DROPS (the [[stateHistoryStream]] rule — batch ≡
    * stream holds for in-order arrival, which the spec replays).
    * State per stream is two Longs; parallelism = nStreams, exactly
    * the batch op's scale story. */
  def packStream(docs: Dataset[PackDoc], tokenBudget: Long = 128): Dataset[PackAssign] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.stream_id)
      .flatMapGroupsWithState[PackSt, PackAssign](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (sid, rows, state: GroupState[PackSt]) =>
          val sorted = rows.toSeq.sortBy(_.doc_id)
          var st = state.getOption.getOrElse(PackSt(Long.MinValue, 0L))
          val out = Seq.newBuilder[PackAssign]
          sorted.foreach { d =>
            if (d.doc_id <= st.lastDoc) () // late beyond applied: dropped
            else {
              val start = st.cumTok
              out += PackAssign(d.doc_id, sid, d.n_tok,
                start / tokenBudget, start % tokenBudget)
              st = PackSt(d.doc_id, st.cumTok + d.n_tok)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** [[packOnlineStream]] state: last APPLIED doc_id + the open
    * bins' loads — exactly the batch fold's accumulator. */
  case class BfSt(lastDoc: Long, loads: Seq[Long])
  case class BinAssign(doc_id: Long, stream_id: Long, n_tok: Long, bin_id: Long)

  /** Streaming twin of [[graft.ops.TextOps.packBestFitOnline]]
    * (§2.10 convention — oracle-exempt, spec-pinned to the batch op):
    * ONLINE best-fit bin packing maintained incrementally — each
    * arriving doc places into the fullest open bin that still fits
    * (first-index tie-break, the batch kernel's exact rule), else
    * opens a new bin; oversize docs over-fill their own bin. This is
    * the deployment form of the packing tier: BFD ([[graft.ops
    * .TextOps.packBestFit]]) needs the whole batch before placing
    * anything, online BF places on arrival — identical rule, so
    * stream ≡ batch(arrival order) exactly. State per stream is the
    * open-bin load list (≤ bins, itself ≤ docs/stream); late-beyond-
    * applied drops by the [[stateHistoryStream]] rule. */
  def packOnlineStream(docs: Dataset[PackDoc], tokenBudget: Long = 128): Dataset[BinAssign] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.stream_id)
      .flatMapGroupsWithState[BfSt, BinAssign](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (sid, rows, state: GroupState[BfSt]) =>
          val sorted = rows.toSeq.sortBy(_.doc_id)
          var st = state.getOption.getOrElse(BfSt(Long.MinValue, Vector.empty))
          val out = Seq.newBuilder[BinAssign]
          sorted.foreach { d =>
            if (d.doc_id <= st.lastDoc) () // late beyond applied: dropped
            else {
              val fit = st.loads.zipWithIndex
                .filter { case (l, _) => l + d.n_tok <= tokenBudget }
              if (fit.isEmpty) {
                out += BinAssign(d.doc_id, sid, d.n_tok, st.loads.size + 1L)
                st = BfSt(d.doc_id, st.loads :+ d.n_tok)
              } else {
                // first index holding the max fitting load — the batch
                // kernel's array_position tie-break (any bin sharing
                // that load also fits, so first-overall = first-fitting)
                val maxLoad = fit.map(_._1).max
                val idx = fit.find(_._1 == maxLoad).get._2
                out += BinAssign(d.doc_id, sid, d.n_tok, idx + 1L)
                st = BfSt(d.doc_id, st.loads.updated(idx, st.loads(idx) + d.n_tok))
              }
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Input/output row for [[debounceStream]]: `ts` is a proper
    * timestamp (the watermark column); `ts_ms` its epoch-millis twin
    * for timer arithmetic. */
  case class TimedEv(user_id: Long, ts: java.sql.Timestamp, ts_ms: Long, value: Double)

  /** Event-time debounce via the transformWithState API (Spark 4.x
    * arbitrary-state v2): a key's LATEST event is emitted only after
    * `quietMs` of event-time silence — the "settle before acting"
    * gate (a re-crawled page that updates five times in a burst
    * triggers ONE downstream re-embed, of the final version).
    *
    * Mechanics: keyed ValueState holds the burst's latest event; each
    * input re-arms an event-time TIMER at latest_ts + quietMs
    * (deleting the previous one — StatefulProcessor timers are
    * explicit, unlike GroupState's single implicit timeout); when the
    * WATERMARK passes the timer, handleExpiredTimer emits the settled
    * event and clears state. State per key is one event + one timer
    * registration — bounded; emission is append-mode-clean (only
    * settled, immutable rows leave).
    *
    * Late rows older than the stored burst tail are ignored (their
    * burst already settled or a newer event supersedes them) —
    * deterministic under the (ts_ms, user_id) max rule. Requires the
    * RocksDB state store provider (transformWithState's backing
    * store; set in the session conf, see StreamingOpsSpec). */
  class DebounceProcessor(quietMs: Long)
      extends StatefulProcessor[Long, TimedEv, TimedEv] {
    @transient private var last: org.apache.spark.sql.streaming.ValueState[TimedEv] = _
    @transient private var armed: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      last = getHandle.getValueState[TimedEv]("last", Encoders.product[TimedEv], TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[TimedEv],
                                 tv: TimerValues): Iterator[TimedEv] = {
      var cur = if (last.exists()) last.get() else null
      rows.foreach { e =>
        if (cur == null || e.ts_ms > cur.ts_ms) cur = e
      }
      if (cur != null) {
        last.update(cur)
        if (armed.exists()) getHandle.deleteTimer(armed.get())
        val fireAt = cur.ts_ms + quietMs
        getHandle.registerTimer(fireAt)
        armed.update(fireAt)
      }
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[TimedEv] = {
      val out =
        if (last.exists()) Iterator.single(last.get()) else Iterator.empty
      last.clear()
      armed.clear()
      out
    }
  }

  /** Input row for [[kmvDistinctStream]]: a group key and a
    * pre-hashed value (graft.functions.PortableHash.hash48 in the
    * declared pipeline — any uniform Long hash works). */
  case class KeyedHash(group: String, h: Long)

  /** Output row: the group's current distinct-count estimate and the
    * sketch fill level after the batch. */
  case class KmvEstimate(group: String, n_distinct_est: Long, sketch_size: Int)

  /** Streaming K-Minimum-Values distinct counting — the
    * transformWithState twin of the batch `kmv_distinct` query,
    * sharing the EXACT insert kernel
    * ([[graft.functions.SketchAggregators.kmvInsert]]): because a KMV
    * sketch is a mergeable summary, the streaming state IS the batch
    * aggregation buffer, and a stream that has seen rows {r₁…rₙ} holds
    * bit-identical state to the batch aggregate over the same rows —
    * batch/stream parity by construction, spec-pinned.
    *
    * State per key is one sorted ≤k-element Long array (k·8 bytes,
    * bounded forever — no TTL needed, the sketch cannot grow); each
    * micro-batch folds its rows in and emits the refreshed estimate
    * (Update mode). Unlike `approx_count_distinct` in streaming
    * (unsupported as stateful agg state without HLL merge plumbing),
    * the KMV buffer is just data — restart-safe through the state
    * store like any value state. */
  class KmvProcessor(k: Int)
      extends StatefulProcessor[String, KeyedHash, KmvEstimate] {
    @transient private var sk: org.apache.spark.sql.streaming.ValueState[Array[Long]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sk = getHandle.getValueState[Array[Long]]("kmv",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]](),
        TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[KeyedHash],
                                 tv: TimerValues): Iterator[KmvEstimate] = {
      var buf = if (sk.exists()) sk.get() else Array.emptyLongArray
      rows.foreach(r => buf = graft.functions.SketchAggregators.kmvInsert(buf, r.h, k))
      sk.update(buf)
      val est =
        if (buf.length < k) buf.length.toLong
        // max(…, 1): hash48 can emit 0 (p ≈ k/2^48); same guard as
        // the batch estimator so stream/batch stay value-identical
        else (k - 1).toLong * 281474976710656L / math.max(buf(k - 1), 1L)
      Iterator.single(KmvEstimate(key, est, buf.length))
    }
  }

  /** Declared entry point: per-group running distinct-count estimate
    * over a stream of pre-hashed values. */
  def kmvDistinctStream(hashes: Dataset[KeyedHash], k: Int = 64): Dataset[KmvEstimate] = {
    import hashes.sparkSession.implicits._
    hashes
      .groupByKey(_.group)
      .transformWithState(new KmvProcessor(k), TimeMode.None(), OutputMode.Update())
  }

  /** Output row: the group's current HLL estimate and register
    * occupancy after the batch. */
  case class HllEstimate(group: String, n_regs: Int, n_hll: Double)

  /** Row-local twin of the batch HLL register kernel
    * (SketchOps.hllRegisters): hash48 → (top-6-bit register index,
    * 43 − bitlength of the low 42 bits). Spec-pinned bit-equal to the
    * SQL expression chain. */
  def hllIdxRhoJvm(h: Long): (Int, Int) = {
    val idx = (h >>> 42).toInt
    val r = h & 4398046511103L // 2^42 − 1
    val rho = if (r == 0L) 43 else 43 - (64 - java.lang.Long.numberOfLeadingZeros(r))
    (idx, rho)
  }

  /** Streaming HyperLogLog distinct counting — the transformWithState
    * twin of the batch `hll_distinct` query, completing the sketch
    * symmetry (KMV, CMS, and the quantile pair sketch already have
    * stream forms): per group, state is ONE 64-slot register array
    * (max rho per slot — 512 bytes forever, the HLL contract); each
    * batch folds arrivals through [[hllIdxRhoJvm]] (bit-equal to the
    * batch SQL kernel, so stream registers = batch registers over the
    * same rows) and emits the refreshed estimate with the same
    * raw/linear-counting branch arithmetic as the batch estimator. */
  class HllProcessor
      extends StatefulProcessor[String, KeyedHash, HllEstimate] {
    @transient private var regs: org.apache.spark.sql.streaming.ValueState[Array[Long]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      regs = getHandle.getValueState[Array[Long]]("hll",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]](),
        TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[KeyedHash],
                                 tv: TimerValues): Iterator[HllEstimate] = {
      val m = if (regs.exists()) regs.get() else new Array[Long](64)
      require(m.length == 64, s"HLL state has ${m.length} registers, expected 64")
      rows.foreach { r =>
        val (idx, rho) = hllIdxRhoJvm(r.h)
        if (rho > m(idx)) m(idx) = rho
      }
      regs.update(m)
      // identical arithmetic to the batch estimator: exact 2^(43−M)
      // numerator (empty register ⇒ M=0 ⇒ 2^43), branch on the
      // once-rounded raw estimate
      var sumNum = 0L; var v0 = 0; var occupied = 0
      var j = 0
      while (j < 64) {
        if (m(j) == 0L) v0 += 1 else occupied += 1
        sumNum += (1L << (43 - m(j))); j += 1
      }
      def round6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      val estRaw = round6(0.709 * 4096.0 * 8796093022208.0 / sumNum.toDouble)
      val est =
        if (v0 > 0 && estRaw <= 160.0) round6(math.log(64.0 / v0) * 64.0)
        else estRaw
      Iterator.single(HllEstimate(key, occupied, est))
    }
  }

  /** Declared entry point: per-group running HLL distinct estimate
    * over a stream of pre-hashed values ([[kmvDistinctStream]]'s HLL
    * sibling — same input shape, different sketch contract). */
  def hllDistinctStream(hashes: Dataset[KeyedHash]): Dataset[HllEstimate] = {
    import hashes.sparkSession.implicits._
    hashes
      .groupByKey(_.group)
      .transformWithState(new HllProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Input row for [[quantileSketchStream]]: a group key, a uniform
    * row-identity hash, and the value in fixed-point micros. */
  case class KeyedHashValue(group: String, h: Long, v_mu: Long)

  /** Output row: current sample percentiles (micros) per group. */
  case class QuantileEstimate(group: String, n_sample: Int,
                              p50_est_mu: Long, p95_est_mu: Long)

  /** Streaming sample-quantile sketch — the transformWithState twin
    * of the batch `quantile_sketch` query, sharing the EXACT pair
    * insert kernel ([[graft.functions.SketchAggregators.pairInsert]]):
    * the bottom-k (hash, value) pair set is a mergeable summary, so a
    * stream that has seen rows {r₁…rₙ} holds bit-identical state to
    * the batch aggregation buffer over the same rows — parity by
    * construction, spec-pinned (same contract as [[KmvProcessor]]).
    *
    * State per key is one interleaved ≤2k-element Long array (16k
    * bytes, bounded forever — no TTL needed, a min-k set cannot
    * grow); each micro-batch folds its rows in and emits refreshed
    * type-1 sample percentiles in Update mode. */
  class QuantileProcessor(k: Int)
      extends StatefulProcessor[String, KeyedHashValue, QuantileEstimate] {
    @transient private var sk: org.apache.spark.sql.streaming.ValueState[Array[Long]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sk = getHandle.getValueState[Array[Long]]("qsk",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]](),
        TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[KeyedHashValue],
                                 tv: TimerValues): Iterator[QuantileEstimate] = {
      var buf = if (sk.exists()) sk.get() else Array.emptyLongArray
      rows.foreach(r =>
        buf = graft.functions.SketchAggregators.pairInsert(buf, r.h, r.v_mu, k))
      sk.update(buf)
      val vals = Array.tabulate(buf.length / 2)(i => buf(2 * i + 1)).sorted
      // type-1 rank: same integer (n·p + 99) / 100 as the batch query
      def pick(p: Int): Long =
        if (vals.isEmpty) 0L
        else vals(math.max(1, (vals.length * p + 99) / 100) - 1)
      Iterator.single(QuantileEstimate(key, vals.length, pick(50), pick(95)))
    }
  }

  /** Declared entry point: per-group running sample percentiles over
    * a stream of (hash, value-micros) rows. */
  def quantileSketchStream(rows: Dataset[KeyedHashValue], k: Int = 128)
      : Dataset[QuantileEstimate] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.group)
      .transformWithState(new QuantileProcessor(k), TimeMode.None(), OutputMode.Update())
  }

  /** Streaming seasonal-anomaly gate — the stream twin of the batch
    * `events_anomaly` screen, scoring each ARRIVING event against
    * gates trained in batch ([[graft.ops.RelationalOps.seasonalGates]]:
    * the (type, hour-of-day) baseline and the per-type med/MAD
    * thresholds). STATELESS: both gate tables are static broadcast
    * joins re-resolved per micro-batch (a nightly-retrained gate file
    * is picked up automatically — the [[enrichedStream]] contract),
    * the flag is a map-side filter, no watermark, no state store.
    * This is the standard train-in-batch / score-in-stream split:
    * the expensive percentile fits stay in the batch tier, the
    * stream pays one broadcast hash join per gate.
    *
    * `events` is a streaming DataFrame with (event_id, ts Long-nanos,
    * event_type, value); emits the anomalous rows with their
    * residuals. */
  def anomalyStream(events: DataFrame, baseline: DataFrame,
                    gates: DataFrame): DataFrame = {
    val hourNanos = 3600L * 1000 * 1000 * 1000
    events
      .withColumn("hour_of_day", expr(s"ts div ${hourNanos}L") % 24)
      .join(org.apache.spark.sql.functions.broadcast(baseline),
        Seq("event_type", "hour_of_day"))
      .join(org.apache.spark.sql.functions.broadcast(gates
        .select(col("event_type"), col("med_resid"), col("threshold"))), "event_type")
      .withColumn("resid", col("value") - col("baseline"))
      .filter(abs(col("resid") - col("med_resid")) > col("threshold"))
      .select(col("event_id"), col("event_type"), col("ts"), col("value"), col("resid"))
  }

  /** Input row for [[cmsHeavyStream]]: a group key and the item whose
    * frequency is being sketched. */
  case class CmsEvent(group: String, item: String)

  /** Output row: the item's refreshed count-min estimate. */
  case class CmsEstimate(group: String, item: String, cms_est: Long)

  /** Streaming count-min frequency sketching — the transformWithState
    * twin of the batch `events_heavy_hitters` CMS, completing the
    * sketch symmetry (KMV and the quantile pair sketch already have
    * stream forms): per group, state is ONE depth×width Long cell
    * array — bounded forever regardless of item cardinality, the
    * whole point of CMS — updated additively per arrival, with each
    * batch emitting refreshed estimates for the items it touched
    * (Update mode). Buckets come from
    * [[graft.functions.PortableHash.hash24Jvm]], the spec-pinned JVM
    * twin of the batch SQL bucket hash, so stream cells are
    * bit-identical to `SketchOps.countMinTable` over the same rows
    * and the one-sided est ≥ exact guarantee carries over. */
  class CmsProcessor(depth: Int, width: Int)
      extends StatefulProcessor[String, CmsEvent, CmsEstimate] {
    @transient private var sk: org.apache.spark.sql.streaming.ValueState[Array[Long]] = _
    private def bucket(j: Int, item: String): Int =
      (graft.functions.PortableHash.hash24Jvm(s"cms$j:$item") % width).toInt
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sk = getHandle.getValueState[Array[Long]]("cms",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]](),
        TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[CmsEvent],
                                 tv: TimerValues): Iterator[CmsEstimate] = {
      // The cell array is NOT reshapeable: a restored state sized for a
      // different (depth, width) would silently misattribute counts (or
      // index out of bounds mid-batch) if reused. Fail fast instead of
      // corrupting estimates — restarting with new dimensions requires a
      // fresh checkpoint by contract.
      val buf = if (sk.exists()) {
        val restored = sk.get()
        require(restored.length == depth * width,
          s"CmsProcessor state has ${restored.length} cells but depth*width = " +
            s"${depth * width}; the sketch is not reshapeable — restart from a " +
            "fresh checkpoint to change dimensions")
        restored
      } else new Array[Long](depth * width)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { r =>
        var j = 0
        while (j < depth) { buf(j * width + bucket(j, r.item)) += 1; j += 1 }
        seen += r.item
      }
      sk.update(buf)
      seen.iterator.map { item =>
        val est = (0 until depth).map(j => buf(j * width + bucket(j, item))).min
        CmsEstimate(key, item, est)
      }
    }
  }

  /** Declared entry point: per-group running count-min estimates for
    * the items each micro-batch touches. */
  def cmsHeavyStream(events: Dataset[CmsEvent], depth: Int = 3,
                     width: Int = 64): Dataset[CmsEstimate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.group)
      .transformWithState(new CmsProcessor(depth, width), TimeMode.None(), OutputMode.Update())
  }

  /** Input doc for [[lshDedupStream]]. */
  case class StreamDoc(doc_id: Long, text: String)

  /** Output row of [[bm25PostingsStream]]: one postings entry —
    * identical shape to a batch [[graft.ops.SearchOps.bm25Index]] row
    * (the '' sentinel keeps token-less docs counted in N). */
  case class Posting(doc_id: Long, tok: String, tf: Long)

  /** Streaming BM25 ingest twin (§2.10) of the batch
    * [[graft.ops.SearchOps.bm25Index]] — the easiest batch/stream
    * symmetry in the engine, because the index state is PURELY
    * ADDITIVE per-document rows: an arriving doc tokenizes map-only
    * (NO state store — the postings themselves are the state,
    * appended to the index sink) and df/N/avgdl DERIVE from the
    * merged postings at query time
    * ([[graft.ops.SearchOps.searchBm25FromIndex]]), so a
    * stream-built index ≡ the batch-built index row-for-row and its
    * scores equal a from-scratch rebuild bit-for-bit — the
    * bm25_incremental identity, fed by a stream. Tokenization is the
    * batch kernel's JVM twin (split / take 512 / trim / filter — the
    * [[graft.ops.DedupOps.bandKeysJvm]] recipe), spec-pinned against
    * batch [[graft.ops.EmbedOps.tokenize]] output.
    *
    * Scale shape: a stateless flatMap — cost ∝ arriving docs, zero
    * shuffle, zero state store; at rest the postings append to a
    * tok-bucketed table so query-term probes read without an
    * exchange (the bm25Index scaladoc's layout). */
  def bm25PostingsStream(docs: Dataset[StreamDoc]): Dataset[Posting] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap { d =>
      val toks = d.text.split(" ", -1).take(512).map(_.trim).filter(_.nonEmpty)
      val tf = scala.collection.mutable.LinkedHashMap[String, Long]()
      toks.foreach(t => tf.update(t, tf.getOrElse(t, 0L) + 1L))
      tf.iterator.map { case (t, n) => Posting(d.doc_id, t, n) } ++
        Iterator.single(Posting(d.doc_id, "", 0L))
    }
  }

  /** One (band bucket, doc) occupancy row — the stream's shuffle key
    * is the band bucket, exactly like the batch candidate join. */
  case class BandHit(band_key: String, doc_id: Long)

  /** Output: a near-dup candidate discovered across (or within)
    * micro-batches — `earlier_id` was already remembered in the same
    * band bucket when `doc_id` arrived. */
  case class NearDupHit(doc_id: Long, earlier_id: Long, band_key: String)

  /** Streaming MinHash-LSH near-dup detection — the stream twin of
    * the batch [[graft.ops.DedupOps.minhashCandidates]] tier, closing
    * the last batch/stream asymmetry (streaming previously had
    * exact-hash dedup only). Each arriving doc computes its own
    * signature row-locally ([[graft.ops.DedupOps.bandKeysJvm]] — the
    * spec-pinned JVM twin of the batch SQL pipeline), fans out one
    * row per band, and the ONLY keyed state is band-bucket
    * membership: a ≤`maxPerBucket`-element doc-id array per bucket.
    * A doc landing in a bucket reports a [[NearDupHit]] against every
    * remembered occupant — a near-dup arriving hours after its
    * original is caught as long as the bucket entry lives.
    *
    * Bounded state, two levers (the streaming mirror of the batch
    * mega-family chapter in SCALE.md): the CAP keeps any bucket at
    * `maxPerBucket` representative ids — a 10⁵-copy template family
    * remembers its first k reps and every later copy still REPORTS
    * against them (the star-to-representative semantics of
    * `clusterCandidatesCapped`), state never grows; the optional TTL
    * evicts cold buckets wholesale (TimeMode.ProcessingTime), so the
    * bucket universe itself cannot accumulate forever on an unbounded
    * corpus. */
  class LshBucketProcessor(maxPerBucket: Int, ttl: TTLConfig)
      extends StatefulProcessor[String, BandHit, NearDupHit] {
    @transient private var ids: org.apache.spark.sql.streaming.ValueState[Array[Long]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ids = getHandle.getValueState[Array[Long]]("lshBucket",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]](), ttl)
    override def handleInputRows(key: String, rows: Iterator[BandHit],
                                 tv: TimerValues): Iterator[NearDupHit] = {
      var cur = if (ids.exists()) ids.get() else Array.emptyLongArray
      val out = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
      rows.foreach { r =>
        cur.foreach(e => if (e != r.doc_id) out += NearDupHit(r.doc_id, e, key))
        if (cur.length < maxPerBucket && !cur.contains(r.doc_id)) cur = cur :+ r.doc_id
      }
      ids.update(cur)
      out.iterator
    }
  }

  /** Declared entry point: near-dup candidates over a document
    * stream. `ttl` engages processing-time state expiry (None = state
    * lives for the query's lifetime, still cap-bounded per bucket). */
  def lshDedupStream(docs: Dataset[StreamDoc], numHashes: Int = 12,
                     rowsPerBand: Int = 3, w: Int = 3, maxPerBucket: Int = 8,
                     ttl: Option[java.time.Duration] = None): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    docs
      .flatMap(d => graft.ops.DedupOps.bandKeysJvm(d.text, numHashes, rowsPerBand, w)
        .map(k => BandHit(k, d.doc_id)))
      .groupByKey(_.band_key)
      .transformWithState(
        new LshBucketProcessor(maxPerBucket,
          ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)),
        ttl.map(_ => TimeMode.ProcessingTime()).getOrElse(TimeMode.None()),
        OutputMode.Append())
  }

  case class SigDoc(media_id: Long, sig: Long)
  case class ChunkHit(chunk_key: String, media_id: Long, sig: Long)
  case class HammingHit(media_id: Long, other_id: Long, hamming: Long, chunk_key: String)

  /** Row-local pigeonhole chunk keys — the JVM twin of
    * [[graft.ops.DedupOps.hammingBandPairs]]'s chunk explode
    * (`(sig div 2^(idx·chunkBits)) % 2^chunkBits`; signatures are
    * < 2^48 so unsigned shift ≡ div). Spec-pinned against the batch
    * SQL pipeline. */
  def chunkKeysJvm(sig: Long, bits: Int = 48, chunks: Int = 4): Seq[String] = {
    val chunkBits = bits / chunks
    (0 until chunks).map(i => s"$i:${(sig >>> (i * chunkBits)) % (1L << chunkBits)}")
  }

  /** Keyed state for [[hammingDedupStream]]: per chunk bucket, an
    * interleaved [id, sig, id, sig, …] array capped at
    * `maxPerBucket` entries — the signature tier's mirror of
    * [[LshBucketProcessor]], except membership alone is not enough:
    * a chunk collision is only a CANDIDATE, so the stored signature
    * pays the popcount verify before a hit is reported (exactly the
    * batch join's verify step). Cap + optional TTL bound state the
    * same way. */
  class HammingBucketProcessor(maxPerBucket: Int, maxHamming: Int, ttl: TTLConfig)
      extends StatefulProcessor[String, ChunkHit, HammingHit] {
    @transient private var entries: org.apache.spark.sql.streaming.ValueState[Array[Long]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      entries = getHandle.getValueState[Array[Long]]("hammingBucket",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]](), ttl)
    override def handleInputRows(key: String, rows: Iterator[ChunkHit],
                                 tv: TimerValues): Iterator[HammingHit] = {
      var cur = if (entries.exists()) entries.get() else Array.emptyLongArray
      val out = scala.collection.mutable.ArrayBuffer.empty[HammingHit]
      rows.foreach { r =>
        var i = 0
        var seen = false
        while (i < cur.length) {
          val eid = cur(i); val esig = cur(i + 1)
          if (eid == r.media_id) seen = true
          else {
            val d = java.lang.Long.bitCount(r.sig ^ esig)
            if (d <= maxHamming) out += HammingHit(r.media_id, eid, d.toLong, key)
          }
          i += 2
        }
        if (!seen && cur.length < maxPerBucket * 2) cur = cur ++ Array(r.media_id, r.sig)
      }
      entries.update(cur)
      out.iterator
    }
  }

  /** Streaming near-dup detection over a SIGNATURE stream — the
    * multimodal closing of the batch/stream symmetry: batch has
    * `hammingBandPairs` for text SimHash, image aHash, and audio
    * fingerprints; this is its streaming twin. Each arriving
    * (id, sig) fans out one row per pigeonhole chunk; keyed state is
    * a cap-bounded (id, sig) list per chunk bucket, and a chunk
    * collision only reports after the popcount verify — a
    * near-duplicate image/audio/doc arriving hours later is caught
    * against the remembered representatives. A pair sharing several
    * chunks reports once per shared chunk (same contract as
    * [[lshDedupStream]]'s per-band hits; consumers distinct on the
    * id pair). */
  def hammingDedupStream(sigs: Dataset[SigDoc], maxHamming: Int = 3,
                         bits: Int = 48, chunks: Int = 4, maxPerBucket: Int = 8,
                         ttl: Option[java.time.Duration] = None): Dataset[HammingHit] = {
    import sigs.sparkSession.implicits._
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    sigs
      .flatMap(d => chunkKeysJvm(d.sig, bits, chunks)
        .map(k => ChunkHit(k, d.media_id, d.sig)))
      .groupByKey(_.chunk_key)
      .transformWithState(
        new HammingBucketProcessor(maxPerBucket, maxHamming,
          ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)),
        ttl.map(_ => TimeMode.ProcessingTime()).getOrElse(TimeMode.None()),
        OutputMode.Append())
  }

  /** Declared debounce entry point: `events` must be a streaming
    * Dataset[TimedEv]; emits each key's burst-final event once the
    * watermark passes quietMs beyond it. */
  def debounceStream(events: Dataset[TimedEv], quietMs: Long,
                     watermark: String = "10 seconds"): Dataset[TimedEv] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new DebounceProcessor(quietMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Idempotent micro-batch commit: the batch's rows land in a
    * batchId-keyed partition directory with overwrite, so a replayed
    * batch (crash between sink write and checkpoint commit) rewrites
    * the SAME directory with the SAME deterministic content instead
    * of appending duplicates. Readers see the corpus as one
    * partitioned parquet table (`batch_id` becomes a partition
    * column). */
  private[streaming] def writeBatchIdempotent(batch: DataFrame, corpusDir: String,
                                              batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$corpusDir/batch_id=$batchId")

  /** File-source streaming ingest — the reference's startup/upload
    * ingest (app.py:117-158) as a 24/7 job: watch `watchDir` for
    * dropped JSON corpus files and write each content hash's first
    * document to the corpus, suppressing duplicates within and across
    * batches.
    *
    * Dedup state lives in [[dedupedIngest]]'s KEYED STATE STORE (one
    * boolean per seen hash), not a growing parquet sidecar: per-batch
    * cost is O(batch), the state store compacts itself (delta +
    * snapshot files under the checkpoint), state versions roll back
    * WITH the checkpoint on replay, and `ttl` bounds total state for
    * true 24/7 ingest (see the TTL caveats on [[dedupedIngest]]).
    *
    * Exactly-once: file-source offsets + state versions are
    * checkpointed together; the single sink write is idempotent per
    * batch via [[writeBatchIdempotent]]'s batchId-keyed overwrite —
    * there is no second commit to fall out of sync with the first.
    *
    * Returns the started query; callers own stop()/awaitTermination.
    */
  def fileIngest(spark: org.apache.spark.sql.SparkSession, watchDir: String,
                 corpusDir: String, checkpointDir: String,
                 ttl: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    val docs = spark.readStream
      .schema(schema)
      .json(watchDir)
      .as[Doc]
    dedupedIngest(docs, ttl)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Doc], batchId: Long) =>
        writeBatchIdempotent(batch.toDF(), corpusDir, batchId)
      }
      .start()
  }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Output row of [[nbScoreStream]] — the batch
    * [[graft.ops.TextOps.nbLangApply]] schema. */
  case class LangScore(doc_id: Long, predicted_lang: String, score_micro: Long)

  /** Row-local JVM twin of the batch NB scoring kernel
    * ([[graft.ops.TextOps.nbLangApply]]): char-trigram counts of the
    * lowercased text → hashed buckets ([[graft.functions.PortableHash.hash24Jvm]],
    * the spec-pinned twin of the Column hash) → per-lang exact Long
    * score sums → argmax with lang-asc tie-break; a featureless doc
    * (< 3 chars) falls back to the prior argmax. Spec-pinned equal to
    * the batch apply over the same rows. */
  def nbScoreJvm(docId: Long, text: String, nBuckets: Int,
                 weights: Map[(String, Long), Long],
                 defaults: Map[String, Long],
                 priors: Map[String, Long]): LangScore = {
    val t = if (text == null) "" else text.toLowerCase
    val tf = scala.collection.mutable.LongMap.empty[Long]
    var i = 0
    while (i + 3 <= t.length) {
      val b = graft.functions.PortableHash.hash24Jvm(t.substring(i, i + 3)) % nBuckets
      tf(b) = tf.getOrElse(b, 0L) + 1L
      i += 1
    }
    if (tf.isEmpty) {
      val (lang, mu) = priors.toSeq.minBy { case (l, m) => (-m, l) }
      LangScore(docId, lang, mu)
    } else {
      val (lang, s) = priors.keys.toSeq.sorted.map { lang =>
        val d = defaults(lang)
        var s = priors(lang)
        tf.foreach { case (b, n) => s += n * weights.getOrElse((lang, b), d) }
        (lang, s)
      }.minBy { case (l, s) => (-s, l) }
      LangScore(docId, lang, s)
    }
  }

  /** Streaming NB language-ID scoring — the train-once/score-forever
    * closing of the model-persistence loop: the (bounded,
    * ≤ |langs|·(buckets+2)-row) model artifact from
    * [[graft.ops.TextOps.nbLangTrain]] (fresh or parquet-reloaded)
    * localizes into the closure once, and every micro-batch scores
    * STATELESSLY row-by-row through [[nbScoreJvm]] — no state store,
    * no watermark, no shuffle; scoring throughput is map-parallel at
    * any scale. The spec pins the stream's output bit-identical to
    * the batch [[graft.ops.TextOps.nbLangApply]] over the same rows. */
  def nbScoreStream(docs: Dataset[Doc], model: org.apache.spark.sql.DataFrame,
                    nBuckets: Int = 4096): Dataset[LangScore] = {
    val rows = model.collect()
    def mu(r: org.apache.spark.sql.Row) = r.getAs[Long]("mu")
    val weights = rows.filter(_.getAs[String]("kind") == "w")
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("b")) -> mu(r)).toMap
    val defaults = rows.filter(_.getAs[String]("kind") == "d")
      .map(r => r.getAs[String]("lang") -> mu(r)).toMap
    val priors = rows.filter(_.getAs[String]("kind") == "p")
      .map(r => r.getAs[String]("lang") -> mu(r)).toMap
    val spark = docs.sparkSession
    import spark.implicits._
    docs.map(d => nbScoreJvm(d.doc_id, d.text, nBuckets, weights, defaults, priors))
  }

  /** Input row for [[ivfAssignStream]]: a vector arriving for
    * incremental ANN ingest. */
  case class StreamVec(vec_id: Long, embedding: Seq[Float])

  /** One cell assignment — the row the incremental index appends:
    * one row of [[graft.ops.VectorOps.cellRanks]]' output, which is
    * what `ann_incremental`'s batch side writes. */
  case class CellAssign(vec_id: Long, c_label: Long, cdist: Double, cell_rank: Int)

  /** Output of [[cellCensusStream]]: a cell's current primary
    * occupancy — the histogram `embedding_drift` PSIs against to
    * schedule the re-Lloyd (SCALE.md's staleness tripwire). */
  case class CellCount(c_label: Long, n_vecs: Long)

  /** [[graft.ops.VectorOps.cellRanks]] for ONE vector on the JVM:
    * [[graft.functions.VectorMath.nearestCells]], the fold, HALF_UP 6dp
    * rounding and (cdist, c_label) order the batch expression ranks
    * by. Spec-pinned bit-equal to the batch form. */
  def cellRanksJvm(emb: Seq[Float], centroids: graft.ops.VectorOps.Codebook,
                   nAssign: Int): Seq[(Long, Double, Int)] = {
    val ids = centroids.map(_._1).toArray
    graft.functions.VectorMath
      .nearestCells(emb.map(_.toDouble).toArray, ids, centroids.map(_._2).toArray, nAssign)
      .toSeq.zipWithIndex
      .map { case ((c, d), i) => (ids(c), d, i + 1) }
  }

  /** Streaming incremental ANN ingest — `ann_incremental`'s stream
    * twin, and the reference's live `index.add` loop
    * (app_callapi.py:139-148) as a continuous flow: the codebook is
    * FROZEN (the driver-local codebook rides the closure, like
    * [[nbScoreStream]]'s model), and every arriving vector map-side assigns to its
    * nAssign nearest cells — STATELESS, no shuffle, no state store;
    * the emitted (vec_id, c_label) rows ARE the index appends, and
    * because assignment is a pure per-vector function of the
    * codebook, the accumulated stream output equals the batch rebuild
    * over the same vectors bit-for-bit (the merged ≡ rebuild identity,
    * here by construction). */
  def ivfAssignStream(vecs: Dataset[StreamVec],
                      centroids: graft.ops.VectorOps.Codebook,
                      nAssign: Int = 1): Dataset[CellAssign] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.flatMap(v => cellRanksJvm(v.embedding, centroids, nAssign)
      .map { case (l, d, r) => CellAssign(v.vec_id, l, d, r) })
  }

  /** Keyed running occupancy per cell over the assignment stream —
    * the STATEFUL companion to the stateless assign: one Long per
    * cell (state bounded by the codebook size forever), refreshed
    * every micro-batch in Update mode. This is the live form of the
    * index's bucket census: the table the drift tripwire reads to
    * decide when the frozen codebook has gone stale. */
  class CellCountProcessor
      extends StatefulProcessor[Long, CellAssign, CellCount] {
    @transient private var n: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      n = getHandle.getValueState[Long]("cellCount",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long](), TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[CellAssign],
                                 tv: TimerValues): Iterator[CellCount] = {
      var cur = if (n.exists()) n.get() else 0L
      rows.foreach(_ => cur += 1L)
      n.update(cur)
      Iterator.single(CellCount(key, cur))
    }
  }

  /** Declared entry point: per-cell running PRIMARY occupancy
    * (cell_rank 1 only — multi-assignment copies would double-count
    * the histogram the drift test reads). */
  def cellCensusStream(assigns: Dataset[CellAssign]): Dataset[CellCount] = {
    import assigns.sparkSession.implicits._
    assigns.filter(_.cell_rank == 1)
      .groupByKey(_.c_label)
      .transformWithState(new CellCountProcessor, TimeMode.None(), OutputMode.Update())
  }
}
