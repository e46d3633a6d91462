package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable.ArrayBuilder

/** Structured Streaming re-expression of the reference pipeline
  * (SURVEY.md §2 A4, A5, D1-D4).
  *
  * The reference keys by trip id, holds events in a GlobalWindow and
  * fires+purges on an inactivity timer (ProcessingTimeTrigger.kt) —
  * i.e. sessionization with an inactivity gap, aggregating
  * incrementally (TripAggregatorApplication.kt:58-164).
  *
  * Two Spark-native forms:
  *  - `sessionWindowAgg`: declarative `session_window` + watermark —
  *    Catalyst/streaming state store handle merging and eviction.
  *  - `statefulTripAggregate`: `flatMapGroupsWithState` with a
  *    ProcessingTimeTimeout — the literal analog of the reference's
  *    min/max-retention trigger, but with O(1) state per key (running
  *    sums + last point) instead of the reference's per-trip TreeSets
  *    — the difference between "fits in the state store at 100 TB"
  *    and "OOMs on a long trip".
  *
  * The six ordered folds (balance, debounce, z-score, conformal,
  * Page-Hinkley, SPRT) run through one engine, [[OrderedFold]]. Its
  * emission contract: each key's rows buffer in state until they are
  * strictly below the watermark; ready rows fold in (tsec, event_id)
  * order; every call that folds at least one row emits one running
  * row (update mode). The accumulator is never dropped, so the final
  * row per key equals the batch fold over that key's rows strictly
  * below the final watermark, however the input is split into
  * micro-batches and however it is reordered within the delay.
  */
object SessionPipeline extends Serializable {

  /** One telemetry reading (the events-table shape). */
  case class Reading(user_id: Long, tsec: Long, lat: Double, lon: Double,
      speed: Double, value: Double)

  /** Closed-session result — mirrors the reference TripAggregation
    * fields (TripAggregation.kt:16-25).
    */
  case class TripSession(user_id: Long, n_events: Long, start_s: Long,
      end_s: Long, total_s: Long, stopped_s: Long, moving_s: Long,
      distance_km: Double, sum_value: Double)

  /** O(1) running state per open session. `deadlineMs` carries the
    * trigger's armed cleanup time across batches (the reference keeps
    * it in `cleanupTimeStateDescription` partitioned state,
    * ProcessingTimeTrigger.kt:13-14).
    */
  case class TripState(nEvents: Long, startS: Long, lastS: Long,
      lastLat: Double, lastLon: Double, lastSpeed: Double,
      stoppedS: Long, distanceKm: Double, sumValue: Double,
      deadlineMs: Long = 0L)

  /** The reference trigger's re-arm hysteresis
    * (ProcessingTimeTrigger.kt:30-42): on an element at `nowMs`, the
    * cleanup timer is re-armed to now+max ONLY when now+min crosses
    * the currently armed deadline — elements arriving well before the
    * deadline leave it untouched, so a steady trickle of events does
    * not push the purge out forever beyond max-retention hops.
    */
  private[graft] def nextDeadline(nowMs: Long, deadlineMs: Long,
      minRetentionMs: Long, maxRetentionMs: Long): Long =
    if (deadlineMs == 0L || nowMs + minRetentionMs > deadlineMs)
      nowMs + maxRetentionMs
    else deadlineMs

  /** Declarative event-time session windows (gap = inactivity). */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", timestamp_seconds(col("tsec")))
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(
        col("user_id"),
        unix_timestamp(col("session_window.start")).as("start_s"),
        unix_timestamp(col("session_window.end")).as("end_s"),
        col("n_events"), col("sum_value"))

  private def haversineKm(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val phi1 = math.toRadians(lat1)
    val phi2 = math.toRadians(lat2)
    val dPhi = math.toRadians(lat2 - lat1)
    val dLambda = math.toRadians(lon2 - lon1)
    val h = math.pow(math.sin(dPhi / 2), 2) +
      math.cos(phi1) * math.cos(phi2) * math.pow(math.sin(dLambda / 2), 2)
    2.0 * 6371.0 * math.asin(math.sqrt(h))
  }

  /** The reference's incremental AggregateFunction + inactivity
    * trigger as a stateful streaming operator. Emits a TripSession
    * when a key sees no events for the processing-time timeout
    * (== the trigger's FIRE_AND_PURGE on the retention timer).
    *
    * `minRetentionMs`/`maxRetentionMs` reproduce the reference
    * trigger's knobs (TripAggregatorApplication.kt:208-210 arms them
    * at 10 ms / 4 s): the purge deadline re-arms to now+max only when
    * now+min crosses it — see [[nextDeadline]].
    */
  def statefulTripAggregate(readings: Dataset[Reading],
      maxRetentionMs: Long = 4000, lowSpeed: Double = 5.0,
      minRetentionMs: Long = 10): Dataset[TripSession] = {
    import readings.sparkSession.implicits._

    def update(userId: Long, rows: Iterator[Reading],
        state: GroupState[TripState]): Iterator[TripSession] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(TripSession(
          userId, s.nEvents, s.startS, s.lastS, s.lastS - s.startS,
          s.stoppedS, (s.lastS - s.startS) - s.stoppedS,
          s.distanceKm, s.sumValue))
      } else {
        val sorted = rows.toSeq.sortBy(r => (r.tsec, r.value))
        var s = state.getOption.getOrElse {
          val h = sorted.head
          TripState(0L, h.tsec, h.tsec, h.lat, h.lon, h.speed, 0L, 0.0, 0.0)
        }
        sorted.foreach { r =>
          val stoppedDelta =
            if (s.nEvents > 0 && r.speed < lowSpeed && s.lastSpeed < lowSpeed)
              r.tsec - s.lastS
            else 0L
          val legKm =
            if (s.nEvents > 0) haversineKm(s.lastLat, s.lastLon, r.lat, r.lon)
            else 0.0
          s = s.copy(
            nEvents = s.nEvents + 1,
            startS = math.min(s.startS, r.tsec), lastS = math.max(s.lastS, r.tsec),
            lastLat = r.lat, lastLon = r.lon, lastSpeed = r.speed,
            stoppedS = s.stoppedS + stoppedDelta, distanceKm = s.distanceKm + legKm,
            sumValue = s.sumValue + r.value)
        }
        val nowMs = state.getCurrentProcessingTimeMs()
        val deadline = nextDeadline(nowMs, s.deadlineMs, minRetentionMs, maxRetentionMs)
        state.update(s.copy(deadlineMs = deadline))
        // always (re)declare the timeout so the armed deadline is
        // independent of state-store timeout persistence semantics
        state.setTimeoutDuration(math.max(1L, deadline - nowMs))
        Iterator.empty
      }
    }

    readings
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(update)
  }

  /** One event for the event-time sessionizer. */
  case class SessEvent(user_id: Long, event_id: Long, tsec: Long, value: Double)

  /** One closed session. */
  case class SessOut(user_id: Long, start_s: Long, end_s: Long,
      n_events: Long, sum_value: Double)

  case class SessState(startS: Long, lastS: Long, nEv: Long, sumV: Double)

  /** Custom stateful sessionizer with EVENT-TIME timeout — the
    * deterministic form of the reference's inactivity trigger
    * (ProcessingTimeTrigger.kt), suitable for replay verification:
    * a session closes when a later event of the same key arrives
    * after the gap, or when the watermark passes last_event + gap.
    * Emission is therefore a pure function of the data:
    * every non-final session of a key is emitted; a key's final
    * session is emitted iff (last_event + gap) < final watermark.
    * `end_s` is last_event + gap (session_window convention).
    */
  def statefulSessionizeEventTime(events: Dataset[SessEvent],
      gapS: Long, delayS: Long): Dataset[SessOut] = {
    import events.sparkSession.implicits._

    def close(uid: Long, s: SessState): SessOut =
      SessOut(uid, s.startS, s.lastS + gapS, s.nEv, s.sumV)

    def update(uid: Long, rows: Iterator[SessEvent],
        state: GroupState[SessState]): Iterator[SessOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(close(uid, s))
      } else {
        val sorted = rows.toSeq.sortBy(r => (r.tsec, r.event_id))
        val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
        var st = state.getOption
        sorted.foreach { r =>
          st match {
            case None =>
              st = Some(SessState(r.tsec, r.tsec, 1L, r.value))
            case Some(s) if r.tsec - s.lastS > gapS =>
              out += close(uid, s)
              st = Some(SessState(r.tsec, r.tsec, 1L, r.value))
            case Some(s) =>
              st = Some(SessState(s.startS, math.max(s.lastS, r.tsec), s.nEv + 1, s.sumV + r.value))
          }
        }
        val s = st.get
        val deadlineMs = (s.lastS + gapS) * 1000L
        if (deadlineMs <= state.getCurrentWatermarkMs()) {
          // already expired relative to the current watermark
          out += close(uid, s)
          state.remove()
        } else {
          state.update(s)
          state.setTimeoutTimestamp(deadlineMs)
        }
        out.iterator
      }
    }

    events
      .withColumn("ts", timestamp_seconds(col("tsec")))
      .withWatermark("ts", s"$delayS seconds")
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** D4: streaming dedup within the watermark horizon. */
  def streamingDedup(events: DataFrame, idCols: Seq[String],
      tsCol: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** One event of an ordered fold: its key, event time, tie-break id
    * and one integer payload (cents, a 0/1 outcome, or unused).
    */
  case class FoldEvent[K](key: K, event_id: Long, tsec: Long, v: Long)

  /** Per-key state of an ordered fold: the accumulator, and the rows
    * not yet folded as three parallel primitive arrays (tsec,
    * event_id, payload). At the ×100 replay the whole corpus sits in
    * this buffer for one batch; three `Array[Long]` blobs encode far
    * cheaper than one product per buffered row.
    */
  case class FoldState(acc: Array[Long], bufT: Array[Long],
      bufI: Array[Long], bufV: Array[Long])

  /** Folds one event into the accumulator in place. A SAM trait rather
    * than a Function4, so each per-event call passes unboxed longs.
    */
  trait FoldStep extends Serializable {
    def apply(acc: Array[Long], tsec: Long, eventId: Long, v: Long): Unit
  }

  /** An ordered, non-decomposable per-key fold: a zero accumulator, a
    * per-event step and the output row read off the accumulator. The
    * step sees events in (tsec, event_id) order, so folds whose result
    * depends on order (a floored balance, a prefix statistic, a
    * frozen sequential decision) replay exactly. Applying it to a
    * stream runs the emission contract in the header. A key with rows
    * still buffered arms an event-time timer at max(min buffered
    * tsec·1000 + 1, watermark + 1), so a quiet key drains once the
    * watermark passes its rows; a key with nothing buffered arms no
    * timer and keeps its accumulator.
    */
  final class OrderedFold[K, O](val zero: Array[Long], val step: FoldStep,
      val emit: (K, Array[Long]) => O) extends Serializable {

    def apply(events: Dataset[FoldEvent[K]], delayS: Long)(implicit
        keyEnc: Encoder[K], outEnc: Encoder[O]): Dataset[O] = {
      def update(key: K, rows: Iterator[FoldEvent[K]],
          state: GroupState[FoldState]): Iterator[O] = {
        val wmMs = state.getCurrentWatermarkMs()
        val st = state.getOption.getOrElse(FoldState(zero.clone(),
          Array.emptyLongArray, Array.emptyLongArray, Array.emptyLongArray))
        val (bt, bi, bv) = (ArrayBuilder.make[Long], ArrayBuilder.make[Long],
          ArrayBuilder.make[Long])
        bt.addAll(st.bufT); bi.addAll(st.bufI); bv.addAll(st.bufV)
        rows.foreach { e => bt += e.tsec; bi += e.event_id; bv += e.v }
        val (t, id, v) = (bt.result(), bi.result(), bv.result())
        val (ready, hold) = t.indices.toArray.partition(t(_) < wmMs / 1000L)
        ready.sorted(Ordering.fromLessThan[Int]((a, b) =>
            t(a) < t(b) || (t(a) == t(b) && id(a) < id(b))))
          .foreach(i => step(st.acc, t(i), id(i), v(i)))
        val holdT = hold.map(t(_))
        state.update(FoldState(st.acc, holdT, hold.map(id(_)), hold.map(v(_))))
        // a timeout not re-set in this call is cleared, so a key with
        // nothing buffered keeps its accumulator and arms no timer
        if (hold.nonEmpty)
          state.setTimeoutTimestamp(math.max(holdT.min * 1000L + 1L, wmMs + 1L))
        if (ready.isEmpty) Iterator.empty else Iterator.single(emit(key, st.acc))
      }

      events
        .withColumn("ts", timestamp_seconds(col("tsec")))
        .withWatermark("ts", s"$delayS seconds")
        .as[FoldEvent[K]](events.encoder)
        .groupByKey(_.key)
        .flatMapGroupsWithState(OutputMode.Update,
          GroupStateTimeout.EventTimeTimeout)(update)(
          Encoders.product[FoldState], outEnc)
    }
  }

  case class BalOut(user_id: Long, n_folded: Long, balance_cents: Long)

  /** D23: streaming floored running balance (balance = max(0,
    * balance + Δ), B71). The fold has no partial-aggregation or prefix
    * shortcut: order matters irreducibly. The final row per key equals
    * the batch fold over every delta strictly below the final
    * watermark. Accumulator: (n_folded, balance).
    */
  val statefulBalanceFold = new OrderedFold[Long, BalOut](Array(0L, 0L),
    (a, _, _, cents) => { a(0) += 1; a(1) = math.max(a(1) + cents, 0L) },
    (uid, a) => BalOut(uid, a(0), a(1)))

  case class DebOut(user_id: Long, n_seen: Long, n_kept: Long,
      kept_id_sum: Long)

  /** D41: STREAMING ROLLING DEBOUNCE — B119's cooldown fold: keep an
    * event iff ≥ 300 s have passed since the last KEPT event of its
    * key. Survival depends on which earlier events survived, so the
    * fold is ordered and non-decomposable. Accumulator: (n_seen,
    * n_kept, kept_id_sum, last kept tsec); Long.MinValue means
    * nothing kept yet.
    */
  val statefulDebounceFold = new OrderedFold[Long, DebOut](
    Array(0L, 0L, 0L, Long.MinValue),
    (a, tsec, id, _) => {
      a(0) += 1
      if (a(3) == Long.MinValue || tsec - a(3) >= 300L) {
        a(1) += 1; a(2) += id; a(3) = tsec
      }
    },
    (uid, a) => DebOut(uid, a(0), a(1), a(2)))

  case class AnomOut(event_type: String, n_folded: Long,
      n_anomalies: Long, sum_cents: Long)

  /** D44: STREAMING PREFIX Z-SCORE ANOMALY GATE — per key, each event
    * is tested against the running mean/variance of all PRIOR events
    * (the live telemetry outlier monitor; Welford's recurrence kept
    * as additive integer sufficient statistics n/Σc/Σc² instead of
    * the float mean/M2 form, so replay is exact). Which events count
    * as "prior" is order-determined, so the fold is ordered. The
    * anomaly test is EXACT integer arithmetic, no doubles and no
    * sqrt: |v − S/n| > 3·σ  ⟺  (v·n − S)²·(n−1) > 9·n·(n·Q − S²)
    * (sample variance), evaluated in BigInt; warm-up: prior n ≥ 30.
    * Σc² stays in a Long — c ≤ 10⁵ cents ⇒ c² ≤ 10¹⁰, safe to ~10⁸
    * events/key (the stated bound; the ×1000 clone corpus holds
    * ~1.4·10⁷/key). Accumulator: (n, Σc, Σc², n_anomalies).
    */
  val statefulAnomalyFold = new OrderedFold[String, AnomOut](
    Array(0L, 0L, 0L, 0L),
    (a, _, _, c) => {
      if (a(0) >= 30) {
        val n = BigInt(a(0)); val s = BigInt(a(1)); val q = BigInt(a(2))
        val dev = BigInt(c) * n - s
        if (dev * dev * (n - 1) > 9 * n * (n * q - s * s)) a(3) += 1
      }
      a(0) += 1; a(1) += c; a(2) += c * c
    },
    (key, a) => AnomOut(key, a(0), a(3), a(1)))

  case class ConfOut(event_type: String, n_folded: Long, n_alarms: Long,
      hi_mass: Long)

  /** D53: STREAMING CONFORMAL p-VALUE GATE (split/prequential
    * conformal prediction — Vovk et al. 2005; Shafer & Vovk JMLR
    * 2008) — the DISTRIBUTION-FREE anomaly monitor beside D44's
    * parametric z-gate: each event's nonconformity score is its value
    * band, and its prequential p-value is the exact rank statistic
    * p = (1 + #{prior events with band ≥ mine}) / (n + 1) over
    * everything folded so far — valid (P(p ≤ α) ≤ α) under
    * exchangeability with NO distributional assumption, which is
    * precisely what the z-gate cannot promise on skewed telemetry.
    * Alarm at α = 1/16 as the exact integer test
    * 16·(1 + cnt_ge) ≤ n + 1 after a 30-event warm-up.
    *
    * BOUNDED STATE: the prefix multiset is kept as a 64-counter band
    * histogram (band = clamp(cents div 1000, 0..63) — $10 bands,
    * clamped so any value range fits), so the accumulator is
    * (n, n_alarms, hi_mass, 64 band counts) regardless of stream
    * length — the D33/D35 histogram-state discipline. Exact integers
    * end to end; the oracle replays the same prefix ranks with a
    * bounded band-threshold union trick (each event contributes one
    * row per band ≤ its own; a per-(key, band) running count then
    * reads cnt_ge off a plain window).
    */
  val statefulConformalFold = new OrderedFold[String, ConfOut](
    new Array[Long](3 + 64),
    (a, _, _, c) => {
      val b = math.min(63L, math.max(0L, c / 1000L)).toInt
      var cntGe = 0L
      var k = b
      while (k < 64) { cntGe += a(3 + k); k += 1 }
      if (a(0) >= 30 && 16L * (1L + cntGe) <= a(0) + 1L) a(1) += 1
      if (b >= 32) a(2) += 1
      a(3 + b) += 1
      a(0) += 1
    },
    (key, a) => ConfOut(key, a(0), a(1), a(2)))

  case class PhOut(event_type: String, n_folded: Long, max_ph_e6: Long,
      n_alarms: Long)

  /** D47: STREAMING PAGE-HINKLEY DRIFT ALARM — the classic online
    * mean-shift detector (Page Biometrika 1954; Hinkley 1971), per
    * key: m_t = Σ_{i≤t} (x_i − x̄_i), PH_t = m_t − min_{i≤t} m_i
    * (min including the initial 0), alarm when PH_t > λ. The running
    * mean makes the fold ordered. FULLY exact integers: the per-step
    * deviation is dev_e6 = c·10⁶ − (S_t·10⁶) // t (integer floor
    * division — S·10⁶ stays in a Long to ~9·10¹² cents/key), so m,
    * minM and PH are exact BIGINTs both engines replay bit-for-bit
    * with prefix windows. λ = 5000 cents · 10⁶ (a 50-dollar sustained
    * mean lift). Accumulator: (n, S, m, min m, max PH, n_alarms).
    */
  val statefulPageHinkley = new OrderedFold[String, PhOut](
    new Array[Long](6),
    (a, _, _, c) => {
      a(0) += 1; a(1) += c
      a(2) += c * 1000000L - (a(1) * 1000000L) / a(0)
      a(3) = math.min(a(3), a(2))
      val ph = a(2) - a(3)
      a(4) = math.max(a(4), ph)
      if (ph > 5000L * 1000000L) a(5) += 1
    },
    (key, a) => PhOut(key, a(0), a(4), a(5)))

  case class SprtOut(shard: Long, n_seen: Long, n1: Long, decision: String,
      n_at_decision: Long, n1_at_decision: Long)

  /** D48: STREAMING SPRT — Wald's sequential probability ratio test
    * (Wald 1945) run LIVE per traffic shard: each shard walks its
    * events in (tsec, event_id) order testing H0: P(purchase) = 0.10
    * vs H1: P = 0.15 at α = β = 0.05, freezing its decision at the
    * first ±ln(0.95/0.05) boundary crossing (the group-sequential
    * "stop the experiment early" monitor; the batch twin is B157
    * sprt_decision). The prefix LLR makes the fold ordered. The LLR
    * uses the SAME pinned double log-literals as B157 (exact-integer
    * counts × pinned constants — no live libm), so the oracle replays
    * the crossing bit-for-bit with prefix windows. The payload is the
    * 0/1 purchase outcome. Accumulator: (n, n1, decision, n at the
    * decision, n1 at the decision); decision 1 = accept H1,
    * 2 = accept H0.
    */
  private val SprtC1 = 0.4054651081081642      // ln(0.15/0.10), pinned
  private val SprtC0 = -0.05715841383994864    // ln(0.85/0.90), pinned
  private val SprtBound = 2.9444389791664403   // ln(0.95/0.05), pinned

  val statefulSprt = new OrderedFold[Long, SprtOut](new Array[Long](5),
    (a, _, _, x) => {
      a(0) += 1; a(1) += x
      if (a(2) == 0) {
        val llr = a(1) * SprtC1 + (a(0) - a(1)) * SprtC0
        if (llr >= SprtBound) { a(2) = 1; a(3) = a(0); a(4) = a(1) }
        else if (llr <= -SprtBound) { a(2) = 2; a(3) = a(0); a(4) = a(1) }
      }
    },
    (shard, a) => SprtOut(shard, a(0), a(1),
      a(2) match { case 1 => "accept_h1"; case 2 => "accept_h0"; case _ => "continue" },
      a(3), a(4)))
}
