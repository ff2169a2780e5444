package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** A streaming event (the `events` table's shape, streamed). */
case class Event(ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** A document arriving on an ingest stream (the `documents` table's
  * shape, streamed: event time + id + content).
  */
case class StreamDoc(ts: Timestamp, doc_id: Long, text: String)

/** Per-user running aggregate emitted by [[Streaming.runningUserStats]]. */
case class UserStats(user_id: Long, events: Long, total_value: Double,
    last_event_type: String)

/** Internal state for [[Streaming.runningUserStats]]: carries the
  * latest event's (time, value) key so a late event in a later
  * micro-batch cannot overwrite `last_event_type` — "last" means last by
  * EVENT TIME across the whole stream, not last-arrived.
  */
private case class RunningStatsState(events: Long, total: Double,
    lastTs: Long, lastValue: Double, lastType: String)

/** Compacted newest-version state per (user, event type) key, emitted by
  * [[Streaming.latestVersionStream]]; `n_changes` counts the feed rows
  * compacted into the key so far (monotone — the final state is the row
  * with the key's max `n_changes`).
  */
case class LatestVersion(user_id: Long, event_type: String, ts: Timestamp,
    value: Double, n_changes: Long)

/** A closed (or force-flushed) activity session. */
case class UserSession(user_id: Long, start: Timestamp, end: Timestamp,
    events: Long, total_value: Double)

private case class SessionState(start: Long, end: Long, events: Long,
    total: Double)

/** A per-document contamination audit row emitted by
  * [[Streaming.semanticDecontaminateStream]] — the same frame
  * [[graft.operators.Decontaminate.semanticDecontaminate]] produces.
  */
case class ContaminationFlag(vec_id: Long, bench_id: Option[Long],
    max_sim: Option[Double], contaminated: Boolean)

/** A per-document fuzzy-contamination audit row emitted by
  * [[Streaming.fuzzyDecontaminateStream]] — the same frame
  * [[graft.operators.Decontaminate.fuzzyDecontaminate]] produces.
  */
case class FuzzyFlag(doc_id: Long, bench_id: Option[Long],
    jaccard: Option[Double], contaminated: Boolean)

/** A per-document exact-contamination flag emitted by
  * [[Streaming.exactDecontaminateStream]] — the same frame
  * [[graft.operators.Decontaminate.flagContaminated]] produces.
  */
case class ExactFlag(doc_id: Long, contaminated: Boolean)

/** A shared-span row emitted by [[Streaming.spanDecontaminateStream]] —
  * the same frame [[graft.operators.Decontaminate.spanDecontaminate]]
  * produces.
  */
case class SpanRow(doc_id: Long, bench_id: Long, doc_start: Int,
    bench_start: Int, span_chars: Int)

/** A document arriving on the LAYOUT stream: event time + shard key +
  * id + token count ([[graft.operators.Sampling.packSequences]]'s input
  * shape, streamed). Stream contract, mirroring the batch operator's
  * determinism contract: within a shard, `doc_id` is unique and event
  * time is NON-DECREASING in `doc_id` (ids are assigned in upstream
  * ingest order) — that is what lets the watermark certify that every
  * earlier-id document has already arrived.
  */
case class StreamPackDoc(ts: Timestamp, shard: String, doc_id: Long,
    n_tokens: Long)

/** A pack-coordinate assignment emitted by [[Streaming.packStream]] —
  * the same (pack_id, pack_offset) frame the batch operator produces.
  */
case class PackedDoc(shard: String, doc_id: Long, n_tokens: Long,
    pack_id: Long, pack_offset: Long)

private case class PendingDoc(doc_id: Long, n_tokens: Long, tsMs: Long)

/** State for [[Streaming.packStream]]: the shard's running token count
  * (where the NEXT released document's first token lands) plus the
  * within-watermark arrival buffer.
  */
private case class PackState(nextOffset: Long, pending: List[PendingDoc])

/** Structured Streaming surface (beyond-reference extension; the
  * reference is batch-only — SURVEY.md §2.10). The same engine operators
  * re-expressed over unbounded input: `readStream` → transform →
  * `writeStream`, with watermarked windows for out-of-order time and
  * keyed state for sessionization.
  *
  * Scale notes: all three ops shuffle once on their grouping key and keep
  * state per key in the state store (RocksDB-backed on a real cluster).
  * The watermark bounds state: windows older than it are finalized and
  * evicted — without it, windowed state grows forever at 100 TB/day.
  */
object Streaming {

  /** Streaming ingest dedup — the unbounded twin of
    * [[graft.operators.Dedup.incrementalExactDedup]]: a continuously
    * running `dropDuplicates` on the content fingerprint
    * ([[graft.operators.TextAnalysis.fingerprint]] — the same
    * normalized-md5 key the batch operators shuffle on), backed by the
    * state store. First occurrence of each fingerprint passes; repeats
    * are suppressed.
    *
    * Two state disciplines, selected by `withinWatermark`:
    *
    *  - `true` (default — the production path): Spark's
    *    `dropDuplicatesWithinWatermark` guarantees dedup only among
    *    events whose times fall within `watermarkDelay` of each other,
    *    in exchange for BOUNDED state — a fingerprint's entry is
    *    evicted once the watermark passes its expiry, so a daily-ingest
    *    pipeline holds a window of fingerprints, not the corpus. Pair
    *    it with a periodic batch
    *    [[graft.operators.Dedup.incrementalExactDedup]] pass against
    *    the stored corpus fingerprint table for cross-window exactness
    *    (stream bounds the state; batch owns history).
    *  - `false`: plain `dropDuplicates("fp")` — EXACT global dedup,
    *    but the subset carries no event-time column, so state holds one
    *    entry per distinct fingerprint forever (16 bytes/doc; viable
    *    for bounded corpora, unbounded at 100 TB/day — the scaladoc'd
    *    trade, not a default).
    *
    * `fingerprinter` is the equivalence class, pluggable like the batch
    * twins' (round 16): whitespace/case default,
    * [[graft.operators.Dedup.aggressiveNormalize]] or
    * [[graft.operators.Dedup.unicodeNormalize]] under md5 for the
    * CCNet / Unicode-fold classes — it must match the class of any
    * batch pass it is paired with (same contract as
    * [[graft.operators.Dedup.incrementalExactDedup]]).
    */
  def dedupStream(docs: DataFrame, watermarkDelay: String = "10 minutes",
      textCol: String = "text", tsCol: String = "ts",
      withinWatermark: Boolean = true,
      fingerprinter: Column => Column =
        graft.operators.TextAnalysis.fingerprint): DataFrame = {
    val fp = docs
      .withColumn("fp", fingerprinter(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
    if (withinWatermark) fp.dropDuplicatesWithinWatermark("fp")
    else fp.dropDuplicates("fp")
  }

  /** Streaming twin of [[graft.operators.Urls.urlDedup]] (round 17 —
    * with this and the blocklist twin below, the crawl FRONT DOOR has
    * stream parity like the decontamination classes got in round 16):
    * first occurrence of each CANONICAL URL passes, refetches under
    * cosmetic URL variants are suppressed at ingest. The key is the same
    * Column kernel the batch operator fingerprints with
    * ([[graft.operators.Urls.urlFingerprint]] — normalizeUrl + md5, null
    * URLs unique per row, so a null-URL feed is never collapsed) —
    * value-identical by construction. State disciplines and the
    * batch-owns-history pairing are exactly [[dedupStream]]'s; state is
    * one 16-byte key per distinct canonical URL within the watermark.
    */
  def urlDedupStream(docs: DataFrame,
      watermarkDelay: String = "10 minutes", urlCol: String = "url",
      idCol: String = "doc_id", tsCol: String = "ts",
      withinWatermark: Boolean = true): DataFrame = {
    val fp = docs
      .withColumn("fp",
        graft.operators.Urls.urlFingerprint(col(urlCol), col(idCol)))
      .withWatermark(tsCol, watermarkDelay)
    if (withinWatermark) fp.dropDuplicatesWithinWatermark("fp")
    else fp.dropDuplicates("fp")
  }

  /** Streaming twin of [[graft.operators.Urls.hostBlocklistFilter]] —
    * a stateless pure map, the cheapest possible stream stage: the
    * blocklist is metadata-sized by contract (~10⁵–10⁶ domains), so it
    * rides the closure as a normalized literal list and each document's
    * label-suffix chain ([[graft.operators.Urls.hostSuffixes]], the
    * SAME kernel the batch join explodes) probes it via `isInCollection`
    * — which Catalyst plans as an InSet hash probe, ≤ ~10 O(1) lookups
    * per row, never a loop over the list. No state, no shuffle, no
    * watermark needed. Entries normalize with the same rules as the
    * batch join side ([[graft.operators.Urls.normalizeBlocklistEntry]]);
    * null hosts are never blocked, the batch contract.
    */
  def hostBlocklistFilterStream(docs: DataFrame, blocklist: Seq[String],
      urlCol: String = "url", idCol: String = "doc_id"): DataFrame = {
    require(blocklist.nonEmpty, "hostBlocklistFilterStream: empty blocklist")
    val cleaned = blocklist.map(graft.operators.Urls.normalizeBlocklistEntry)
    docs.select(col(idCol),
        graft.operators.Urls.hostOf(col(urlCol)).as("host"))
      .withColumn("blocked", coalesce(
        exists(graft.operators.Urls.hostSuffixes(col("host")),
          s => s.isInCollection(cleaned)),
        lit(false)))
  }

  /** Chunk-granular ingest dedup — [[dedupStream]]'s sub-document twin
    * (streaming [[graft.operators.Dedup.duplicatedChunkStats]]): each
    * document explodes into its `chunkTokens`-token chunk fingerprints
    * (the codegen'd `token_chunks` kernel) and only FIRST-SEEN chunks
    * within the watermark survive — the "novel content" stream, the
    * quantity an ingest monitor alarms on when a crawl starts re-reading
    * boilerplate. Output: (tsCol, idCol, chunk_fp) of surviving chunks;
    * a wholly-duplicated document contributes nothing.
    *
    * State is one 16-byte key per distinct chunk fp within the
    * watermark horizon — bounded exactly like [[dedupStream]]'s
    * `withinWatermark` mode, and the same batch-owns-history pairing
    * applies.
    */
  def chunkDedupStream(docs: DataFrame, chunkTokens: Int = 20,
      watermarkDelay: String = "10 minutes",
      textCol: String = "text", idCol: String = "doc_id",
      tsCol: String = "ts"): DataFrame =
    docs
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), col(idCol),
        explode(graft.functions.ShingleFunctions
          .tokenChunks(col(textCol), chunkTokens)).as("__chunk"))
      .select(col(tsCol), col(idCol), md5(col("__chunk")).as("chunk_fp"))
      .dropDuplicatesWithinWatermark("chunk_fp")

  /** Watermarked tumbling-window counts per event type — the streaming
    * analogue of q18's date-bucket aggregation.
    */
  def windowedCounts(events: DataFrame, watermarkDelay: String = "10 minutes",
      windowLength: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("total_value"))

  /** Stream–static enrichment: join the unbounded stream against a
    * (small) static dimension — planned as a broadcast hash join per
    * micro-batch, no stream-side state. The streaming analogue of J1
    * (station enrichment).
    */
  def enrichStream(events: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim),
      events(streamKey) === dim(dimKey), "left")
      .drop(dim(dimKey))

  /** Stream–stream interval join: attribute each click to purchases by
    * the same user within `attributionWindow` BEFORE the click (inner,
    * time-range condition). Both sides carry watermarks, and the range
    * condition bounds buffered state on BOTH sides: a purchase can be
    * evicted once the watermark passes purchase_ts + window (no click
    * can match it anymore), a click once its own event time passes —
    * the two constraints Spark requires to plan a stream–stream join
    * with finite state. Without the time bound the join would buffer
    * both streams forever.
    *
    * @param joinType "inner", or "left_outer" to ALSO emit unattributed
    *                  clicks (null purchase columns) — outer rows flush
    *                  only once the watermark proves no matching purchase
    *                  can still arrive, which is why the watermark is
    *                  mandatory on both sides
    */
  def attributeClicks(clicks: DataFrame, purchases: DataFrame,
      watermarkDelay: String = "10 minutes",
      attributionWindow: String = "30 minutes",
      joinType: String = "inner"): DataFrame = {
    val c = clicks.select(col("ts").as("click_ts"),
        col("user_id").as("click_user"), col("value").as("click_value"))
      .withWatermark("click_ts", watermarkDelay)
    val p = purchases.select(col("ts").as("purchase_ts"),
        col("user_id").as("purchase_user"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermarkDelay)
    c.join(p,
      col("click_user") === col("purchase_user") &&
        col("purchase_ts") <= col("click_ts") &&
        col("purchase_ts") >= col("click_ts") - expr(s"INTERVAL $attributionWindow"),
      joinType)
      .select(col("click_user").as("user_id"), col("click_ts"),
        col("purchase_ts"), col("click_value"), col("purchase_value"))
  }

  /** Streaming SCD-1 upsert compaction — the unbounded twin of
    * [[graft.operators.Dedup.latestVersion]]: a continuously maintained
    * newest-version state per (user, event type) key over a change feed.
    * Version order is (event time, value) — the same lexicographic
    * struct order the batch twin's `max_by` uses, with the value
    * tie-break making the state independent of any fixture timestamp
    * convention. Arrival order is irrelevant by construction (each
    * change only replaces state if it is version-greater), so late and
    * out-of-order feeds converge to the same compacted table — the
    * property the equivalence gate feeds shuffled micro-batches to
    * exercise.
    *
    * Each update also carries `n_changes`, the number of feed rows
    * compacted into the key so far: an audit field, and the monotone
    * batch-order marker that lets a drained memory sink select each
    * key's FINAL state without re-applying version semantics.
    *
    * State discipline: deliberately NO watermark eviction — an entity's
    * current state never expires; that is the CDC compaction contract.
    * State size is bounded by LIVE KEY cardinality (exactly the size of
    * the compacted table itself), not by feed length — the right bound
    * for a 100 TB/day change stream over a finite entity population.
    */
  def latestVersionStream(changes: Dataset[Event]): Dataset[LatestVersion] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: (Long, String), batch: Iterator[Event],
            state: GroupState[LatestVersion]) =>
          val next = batch.foldLeft(state.getOption.orNull) { (cur, e) =>
            val n = if (cur == null) 1L else cur.n_changes + 1L
            val newer = cur == null || {
              val c = e.ts.compareTo(cur.ts)
              c > 0 || (c == 0 && e.value > cur.value)
            }
            if (newer) LatestVersion(key._1, key._2, e.ts, e.value, n)
            else cur.copy(n_changes = n)
          }
          state.update(next)
          next
      }
  }

  /** Running per-user stats via mapGroupsWithState — arbitrary keyed
    * state, updated per micro-batch (the streaming analogue of the
    * grouped aggregations A1/A2).
    */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Event],
            state: GroupState[RunningStatsState]) =>
          val evs = batch.toSeq
          val prev = state.getOption
            .getOrElse(RunningStatsState(0L, 0.0, Long.MinValue, 0.0, ""))
          // "last" = max by (event time, value) across STATE and batch:
          // a late event arriving in a later micro-batch must not
          // overwrite a newer event already recorded in state
          val next0 = prev.copy(events = prev.events + evs.size,
            total = prev.total + evs.map(_.value).sum)
          val next = evs.foldLeft(next0) { (s, e) =>
            val t = e.ts.getTime
            if (t > s.lastTs || (t == s.lastTs && e.value >= s.lastValue))
              s.copy(lastTs = t, lastValue = e.value,
                lastType = e.event_type)
            else s
          }
          state.update(next)
          UserStats(user, next.events, next.total, next.lastType)
      }
  }

  /** Streaming twin of [[graft.operators.TimeSeries.transitionMatrix]]'s
    * PAIRING stage: per-user last-state kept in `GroupState`, one
    * `(user, state, next_state)` row emitted per observed adjacent
    * pair; the matrix itself is the caller's downstream
    * `groupBy(state, next).count` (update mode), exactly how the batch
    * twin's counts sit on top of its pairing. Two deliberate semantic
    * gaps vs batch, both inherent to unbounded streams and documented
    * rather than papered over: no `__end__` rows (a stream never
    * observes "the last event"), and an event arriving with an event
    * time BEHIND its user's stored frontier is dropped (the chain it
    * belongs in was already emitted; re-splicing would retract emitted
    * pairs — the batch operator is the authority for late data, the
    * [[dedupStream]] within-watermark discipline). In-order input ≡
    * batch pairing exactly (spec-gated) — with one tie-resolution
    * caveat, stated rather than hidden: within a micro-batch, events
    * tied at the SAME millisecond sort by `(ts, value)` here, while
    * the batch gate (q206) orders by `(ts_ns, event_id)` — columns the
    * streaming [[Event]] does not carry (its `ts` is millisecond
    * `Timestamp`). Same-millisecond ties can therefore pair in a
    * different order than batch; the equivalence contract holds
    * exactly for per-user distinct event timestamps (the spec's
    * fixtures), and callers with sub-millisecond collision rates that
    * matter should widen `Event` with the nanosecond column and id.
    */
  def transitionPairsStream(events: Dataset[Event])
      : Dataset[(Long, String, String)] = {
    import events.sparkSession.implicits._
    events
      .filter((e: Event) => e.event_type != null)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, String), (Long, String, String)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Event],
            state: GroupState[(Long, String)]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.value))
          var cur = state.getOption
          val out = Seq.newBuilder[(Long, String, String)]
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some((lastT, lastS)) if t >= lastT =>
                out += ((user, lastS, e.event_type))
                cur = Some((t, e.event_type))
              case Some(_) => // behind the frontier: dropped (late)
              case None => cur = Some((t, e.event_type))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Gap-based sessionization via flatMapGroupsWithState: events within
    * `gapMs` of each other extend a session; a longer silence closes it
    * and emits it. Closed sessions flush on the batch AFTER the gap is
    * observed (event-time comparison against the batch's own events —
    * deterministic for tests). Trailing sessions of keys that never see
    * another event stay open; [[sessionizeEventTime]] adds the
    * watermark-driven timeout that flushes them.
    */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.value))
          var cur = state.getOption
          val closed = Seq.newBuilder[UserSession]
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.end <= gapMs =>
                // min/max, not overwrite: a LATE cross-batch event (t
                // inside the stored session) must widen the session at
                // most — never move `end` backwards (end < start) or
                // corrupt later gap decisions
                cur = Some(s.copy(start = math.min(s.start, t),
                  end = math.max(s.end, t), events = s.events + 1,
                  total = s.total + e.value))
              case Some(s) =>
                closed += UserSession(user, new Timestamp(s.start),
                  new Timestamp(s.end), s.events, s.total)
                cur = Some(SessionState(t, t, 1L, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1L, e.value))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }

  /** [[sessionize]] plus event-time timeout: the input must carry a
    * watermark on `ts`; when the watermark passes a session's
    * end + gap, the session flushes even if its key never produces
    * another event. This is the production-complete form — without the
    * timeout, idle keys hold state forever (unbounded state at scale).
    */
  def sessionizeEventTime(events: Dataset[Event], gapMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(UserSession(user, new Timestamp(s.start),
              new Timestamp(s.end), s.events, s.total))
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.value))
            var cur = state.getOption
            val closed = Seq.newBuilder[UserSession]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  // min/max, not overwrite — see [[sessionize]]
                  cur = Some(s.copy(start = math.min(s.start, t),
                    end = math.max(s.end, t), events = s.events + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  closed += UserSession(user, new Timestamp(s.start),
                    new Timestamp(s.end), s.events, s.total)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming twin of
    * [[graft.operators.Decontaminate.semanticDecontaminate]]: screen an
    * ingest stream of embedded documents against a fixed eval set. The
    * batch operator's broadcast-join + max_by shape becomes a STATELESS
    * per-row map here — the eval set is metadata-sized, so it rides the
    * closure (the executor-side analogue of the broadcast; per-partition
    * norms precomputed, the [[graft.operators.Multimodal]] mapPartitions
    * discipline), and each arriving doc scores against it with no
    * watermark, no state store, and no shuffle: unbounded input at
    * map-stage cost.
    *
    * Value-identical to the batch operator on the same rows
    * (EquivalenceSpec): dots accumulate in index order in double —
    * exactly the batch dot kernel's order — ties break to the lowest
    * bench id by scanning the set in ascending id order with a
    * strictly-greater update, and the edge rounding replays Spark's
    * HALF_UP. Zero-norm handling is the SHARED twin contract (ADVICE
    * r14 — NaN sims previously flagged batch rows contaminated while
    * killing the stream with a NegativeInfinity BigDecimal): a
    * zero-norm CORPUS vector has no cosine direction, so both twins
    * emit the defined audit row (bench_id null, max_sim null,
    * contaminated false); zero-norm EVAL vectors are ignored by both
    * (here filtered eagerly — an all-zero eval set still fails loudly).
    */
  def semanticDecontaminateStream(emb: DataFrame,
      bench: Seq[(Long, Array[Float])],
      threshold: Double): Dataset[ContaminationFlag] = {
    import emb.sparkSession.implicits._
    def norm(v: IndexedSeq[Double]): Double = math.sqrt(v.map(x => x * x).sum)
    val prepared = bench.sortBy(_._1).map { case (id, v) =>
      val d = v.map(_.toDouble).toIndexedSeq
      (id, d, norm(d))
    }.filter(_._3 > 0) // zero-norm eval vectors can match nothing: ignored
                       // in both twins (batch null-guards their sims)
    require(prepared.nonEmpty, "eval set must have a non-zero-norm vector")
    emb.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        it.map { case (docId, vf) =>
          val v = vf.map(_.toDouble).toIndexedSeq
          val vn = norm(v)
          if (vn > 0) {
            var bestId = -1L
            var best = Double.NegativeInfinity
            prepared.foreach { case (bid, bv, bn) =>
              var dot = 0.0
              var i = 0
              val n = math.min(v.length, bv.length)
              while (i < n) { dot += v(i) * bv(i); i += 1 }
              val sim = dot / (vn * bn)
              if (sim > best) { best = sim; bestId = bid }
            }
            val rounded = BigDecimal(best)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            ContaminationFlag(docId, Some(bestId), Some(rounded),
              best >= threshold)
          } else {
            // no cosine direction: the defined audit row, not a NaN
            ContaminationFlag(docId, None, None, contaminated = false)
          }
        }
      }
  }

  /** Streaming twin of
    * [[graft.operators.Decontaminate.fuzzyDecontaminate]]: screen an
    * ingest stream of documents against a fixed eval set on word-shingle
    * Jaccard. Like [[semanticDecontaminateStream]], the batch operator's
    * broadcast-index join becomes a STATELESS per-row map — the
    * benchmark's (shingle set, minhash signature, band keys) index is
    * precomputed once on the driver and rides the closure; each arriving
    * document computes its own signature, finds band-collision
    * candidates, and exact-verifies Jaccard against candidates only. No
    * watermark, no state, no shuffle.
    *
    * Value-identical to the batch twin BY CONSTRUCTION, not by parallel
    * re-implementation: shingling and min-hashing call the SAME kernel
    * statics the Catalyst expressions codegen
    * ([[graft.functions.WordShinglesExpr.shingles]] /
    * [[graft.functions.MinHashSignatureExpr.signature]]), band keys
    * replay the batch slice-and-join layout bandwise, Jaccard is the
    * same int/int double, ties break to the lowest bench id via an
    * ascending scan with a strictly-greater update, and the edge
    * rounding replays Spark's HALF_UP (EquivalenceSpec drains the twin
    * against q155's operator). Null text fails loudly — the batch plan's
    * signature-length guard errors on it too; the twins agree that a
    * null document is an upstream bug, not data.
    */
  def fuzzyDecontaminateStream(docs: DataFrame,
      bench: Seq[(Long, String)], threshold: Double = 0.8,
      k: Int = 32, bands: Int = 16, shingleN: Int = 3)
      : Dataset[FuzzyFlag] = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    import docs.sparkSession.implicits._
    val r = k / bands
    def index(text: String): (Set[String], Array[String]) = {
      val arr = graft.functions.WordShinglesExpr.shingles(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), shingleN)
      val sig = graft.functions.MinHashSignatureExpr.signature(arr, k)
      val set = (0 until arr.numElements())
        .map(i => arr.getUTF8String(i).toString).toSet
      (set, Array.tabulate(bands)(j =>
        sig.slice(j * r, j * r + r).mkString(",")))
    }
    val prepared = bench.sortBy(_._1).map { case (id, t) =>
      require(t != null, s"fuzzyDecontaminateStream: null text in bench $id")
      val (set, keys) = index(t)
      (id, set, keys)
    }
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (docId, text) =>
          require(text != null,
            s"fuzzyDecontaminateStream: null text in doc $docId")
          val (set, keys) = index(text)
          var bestId = Option.empty[Long]
          var bestJ = Double.NegativeInfinity
          prepared.foreach { case (bid, bset, bkeys) =>
            var collide = false
            var j = 0
            while (j < bands && !collide) {
              if (keys(j) == bkeys(j)) collide = true
              j += 1
            }
            if (collide) {
              val inter = set.count(bset.contains)
              val union = set.size + bset.size - inter
              val jac = inter.toDouble / union.toDouble
              if (jac >= threshold) {
                val rounded = BigDecimal(jac)
                  .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
                if (rounded > bestJ) { bestJ = rounded; bestId = Some(bid) }
              }
            }
          }
          FuzzyFlag(docId, bestId,
            bestId.map(_ => bestJ), bestId.nonEmpty)
        }
      }
  }

  /** Streaming twin of
    * [[graft.operators.Decontaminate.flagContaminated]] — with this and
    * the span twin below, every decontamination class in the library has
    * stream coverage (exact here, fuzzy and semantic above, spans
    * below): the benchmark's distinct `n`-token shingle set rides the
    * closure (eval-sized — the executor-side analogue of the batch
    * broadcast) and each arriving document flags on ANY shared shingle.
    * Same kernel static as the batch expression
    * ([[graft.functions.WordShinglesExpr.shingles]]); stateless,
    * shuffle-free.
    */
  def exactDecontaminateStream(docs: DataFrame, bench: Seq[String],
      n: Int = 13): Dataset[ExactFlag] = {
    require(n >= 1, s"shingle length must be >= 1, got $n")
    import docs.sparkSession.implicits._
    def shingleSet(t: String): Set[String] = {
      val arr = graft.functions.WordShinglesExpr.shingles(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), n)
      (0 until arr.numElements())
        .map(i => arr.getUTF8String(i).toString).toSet
    }
    val benchShingles = bench.flatMap { t =>
      require(t != null, "exactDecontaminateStream: null bench text")
      shingleSet(t)
    }.toSet
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (docId, text) =>
          require(text != null,
            s"exactDecontaminateStream: null text in doc $docId")
          ExactFlag(docId, shingleSet(text).exists(benchShingles.contains))
        }
      }
  }

  /** Streaming twin of
    * [[graft.operators.Decontaminate.spanDecontaminate]]: the benchmark's
    * (fp → positions) winnow index rides the closure, and each arriving
    * document runs the WHOLE span pipeline per row — its own winnow
    * selections (the same [[graft.functions.WinnowPosExpr.positions]]
    * kernel static the batch expression codegens), fingerprint matches
    * against every bench doc, same-offset grouping, and the
    * gaps-and-islands merge — because a (doc, bench) pair's spans depend
    * on nothing but those two documents. Emits the batch operator's
    * exact (doc, bench, doc_start, bench_start, span_chars) rows as a
    * per-row flatMap; stateless, shuffle-free, value-identical
    * (EquivalenceSpec drains it against q158's operator — integer
    * arithmetic end to end, so identity is exact, not rounded).
    */
  def spanDecontaminateStream(docs: DataFrame, bench: Seq[(Long, String)],
      minSpanChars: Int = 64, maxGapGrams: Int = 16,
      k: Int = 16, w: Int = 8): Dataset[SpanRow] = {
    require(minSpanChars >= k,
      s"minSpanChars ($minSpanChars) below k ($k) would report " +
        "single-gram noise as spans")
    require(maxGapGrams >= w,
      s"maxGapGrams ($maxGapGrams) below w ($w) would split every run")
    import docs.sparkSession.implicits._
    def selections(t: String): Array[(Long, Int)] = {
      val arr = graft.functions.WinnowPosExpr.positions(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), k, w)
      Array.tabulate(arr.numElements()) { i =>
        val r = arr.getStruct(i, 2)
        (r.getLong(0), r.getInt(1))
      }
    }
    val benchIdx: Seq[(Long, Map[Long, Array[Int]])] =
      bench.sortBy(_._1).map { case (id, t) =>
        require(t != null, s"spanDecontaminateStream: null bench text $id")
        (id, selections(t).groupBy(_._1).map { case (fp, ps) =>
          fp -> ps.map(_._2)
        })
      }
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (docId, text) =>
          require(text != null,
            s"spanDecontaminateStream: null text in doc $docId")
          val sel = selections(text)
          benchIdx.iterator.flatMap { case (benchId, idx) =>
            val byOff =
              scala.collection.mutable.Map.empty[Int,
                scala.collection.mutable.ArrayBuffer[(Int, Int)]]
            sel.foreach { case (fp, pa) =>
              idx.getOrElse(fp, Array.empty[Int]).foreach { pb =>
                byOff.getOrElseUpdate(pa - pb,
                  scala.collection.mutable.ArrayBuffer.empty) += ((pa, pb))
              }
            }
            byOff.iterator.flatMap { case (_, matches) =>
              val sorted = matches.sortBy(_._1)
              val spans = scala.collection.mutable.ArrayBuffer
                .empty[SpanRow]
              var aStart, bStart, aLast = -1
              sorted.foreach { case (pa, pb) =>
                if (aStart < 0) { aStart = pa; bStart = pb; aLast = pa }
                else if (pa - aLast <= maxGapGrams) {
                  aLast = pa
                  if (pb < bStart) bStart = pb
                } else {
                  val chars = aLast - aStart + k
                  if (chars >= minSpanChars)
                    spans += SpanRow(docId, benchId, aStart, bStart, chars)
                  aStart = pa; bStart = pb; aLast = pa
                }
              }
              if (aStart >= 0) {
                val chars = aLast - aStart + k
                if (chars >= minSpanChars)
                  spans += SpanRow(docId, benchId, aStart, bStart, chars)
              }
              spans
            }
          }
        }
      }
  }

  /** Incremental sequence packing — the streaming twin of
    * [[graft.operators.Sampling.packSequences]] (q78), same
    * concat-and-chunk semantics: within each shard, documents are laid
    * out end-to-end in `doc_id` order and the token stream is chunked
    * every `budget` tokens; each document is assigned the pack its
    * FIRST token falls in and its offset inside that pack.
    *
    * The id-order layout is reconciled with unordered ARRIVAL through
    * the watermark: arrivals buffer in shard state, and a document is
    * released — in doc_id order, with its final coordinates — only once
    * the watermark passes its event time, which (by [[StreamPackDoc]]'s
    * contract: event time non-decreasing in doc_id per shard) certifies
    * every earlier-id document has arrived. Emitted coordinates are
    * final and identical to the batch operator's on the same documents
    * (EquivalenceSpec drains the twin against q78's operator, arrival
    * order shuffled). A document arriving AFTER the watermark passed
    * its event time violates the delay contract and is dropped — the
    * standard watermarked-operator discipline, made explicit here
    * because flatMapGroupsWithState does not drop late rows itself (a
    * late doc slipped into the layout would shift every later offset
    * and break batch equivalence).
    *
    * Scale shape: one shuffle (groupByKey on shard); per-shard state is
    * two longs plus the in-flight buffer, bounded by arrival disorder
    * within the watermark delay — NOT by corpus size; the corpus never
    * re-packs. Shards must bound per-key volume exactly as the batch
    * operator's `partitionCols` must.
    */
  def packStream(docs: Dataset[StreamPackDoc], budget: Long,
      watermarkDelay: String = "10 minutes"): Dataset[PackedDoc] = {
    require(budget >= 1, s"token budget must be >= 1, got $budget")
    import docs.sparkSession.implicits._
    docs
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.shard)
      .flatMapGroupsWithState[PackState, PackedDoc](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (shard: String, batch: Iterator[StreamPackDoc],
            state: GroupState[PackState]) =>
          val st = state.getOption.getOrElse(PackState(0L, Nil))
          val wm = state.getCurrentWatermarkMs()
          // contract-violating late rows are dropped (see scaladoc);
          // on a timeout invocation `batch` is empty and only the
          // buffer drains
          val arrived = batch
            .map(d => PendingDoc(d.doc_id, d.n_tokens, d.ts.getTime))
            .filter(_.tsMs > wm).toList
          val (ready, hold) = (st.pending ++ arrived)
            .sortBy(_.doc_id).partition(_.tsMs <= wm)
          var off = st.nextOffset
          val out = ready.map { d =>
            val first = off
            off += d.n_tokens
            PackedDoc(shard, d.doc_id, d.n_tokens,
              first / budget, first % budget)
          }
          state.update(PackState(off, hold))
          // wake this shard when the watermark reaches its earliest
          // buffered doc, even if no new data arrives for the key
          if (hold.nonEmpty) state.setTimeoutTimestamp(hold.map(_.tsMs).min)
          out.iterator
      }
  }

  /** Per-block compacted match index for
    * [[incrementalResolveStream]]: one static row per blocking key
    * carrying the block's (entity, name, agreement-value) structs.
    * Block sizes are bounded by the same reasoning as
    * [[graft.operators.Linkage.matchPairs]]'s `maxBlock` (a degenerate
    * key is a modeling bug, not a load profile), so each index row is
    * small; rebuild on the [[graft.operators.Linkage.resolveEntities]]
    * compaction cadence.
    */
  def buildLinkageIndex(stored: DataFrame, entityCol: String,
      blockCols: Seq[String], nameCol: String,
      agreeCol: String): DataFrame =
    stored.groupBy(blockCols.map(col): _*)
      .agg(collect_list(struct(col(entityCol).as("e"),
        col(nameCol).as("n"), col(agreeCol).as("g"))).as("__idx"))

  /** Streaming twin of
    * [[graft.operators.Linkage.incrementalResolve]]'s RULE 1 — flag
    * each arriving record with the minimum stored entity it matches
    * (levenshtein ≤ `maxEdits` on the name field, exact agreement on
    * the reliable field), or null if it matches nothing. One
    * stream–static equi-join on the blocking key against the
    * [[buildLinkageIndex]] frame, then a per-row array scan in plain
    * Column HOFs (`filter` + the SAME `levenshtein` builtin the batch
    * verifier uses + `array_min` over matched entities — min is
    * order-free, so the unsorted collect_list is still deterministic).
    * No state, no watermark, no aggregation.
    *
    * The deliberate gap vs the batch twin, mirrored from the
    * incremental-dedup pairing: rules 2–3 (new-new clustering, new
    * entity minting) need cross-row state and belong to the periodic
    * batch [[graft.operators.Linkage.incrementalResolve]] compaction;
    * a record the stream leaves unresolved (entity_id null) is exactly
    * one the next compaction will mint or cluster.
    *
    * @return (rec_id, entity_id nullable, from_stored)
    */
  def incrementalResolveStream(newRecs: DataFrame, index: DataFrame,
      idCol: String, blockCols: Seq[String], nameCol: String,
      agreeCol: String, maxEdits: Int): DataFrame = {
    require(maxEdits >= 0, s"maxEdits must be >= 0, got $maxEdits")
    val matched = filter(col("__idx"), x =>
      levenshtein(x.getField("n"), col(nameCol)) <= maxEdits &&
        x.getField("g") === col(agreeCol))
    newRecs.join(index, blockCols, "left")
      .withColumn("__e",
        array_min(transform(matched, x => x.getField("e"))))
      .select(col(idCol).as("rec_id"), col("__e").as("entity_id"),
        col("__e").isNotNull.as("from_stored"))
  }
}
