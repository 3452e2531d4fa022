package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming analytics over an event stream: event-time windowed
  * aggregation with watermarking, and gap-based sessionization via
  * `flatMapGroupsWithState` — the Structured-Streaming capabilities the
  * gold layer uses beyond the reference's strict parity surface
  * (SURVEY §2.5 note: "our gold layer gets them for free via Spark").
  */
object EventAnalytics {

  /** Tumbling event-time window aggregate with a watermark bounding state:
    * late rows beyond `lateness` are dropped, state is GC'd — the knobs
    * that keep a 100 TB/day stream's state finite. */
  def hourlyTypeCounts(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      // DECIMAL(18,2) under the sum: exact and order-independent, and
      // bit-identical to the batch twin (w6/ts1's decimal-pinned sums) —
      // a raw double sum would float with the state-update order.
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"),
        col("total_value"))

  /** Hopping (sliding) event-time windows — the streaming twin of the
    * batch q_w6 contract: `length`-long windows advancing every `slide`,
    * each event expanding into length/slide windows MAP-SIDE before the
    * keyed state update. The watermark GCs windows whose end passed, so
    * state is O(open windows × types) regardless of stream length. */
  def slidingTypeCounts(events: DataFrame, length: String = "1 hour",
      slide: String = "15 minutes", lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), length, slide), col("event_type"))
      // Decimal-pinned sum: exact, order-independent, and row-identical
      // to the batch q_w6 twin (StreamParitySpec, pair-swapped arrival).
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Windowed trending terms: per event-time window, a bounded
    * Misra-Gries summary of the term column — "what's trending this
    * hour" over an unbounded stream with O(windows × capacity) state.
    * The sketch aggregator is MERGEABLE, so Structured Streaming's
    * incremental state updates are exactly its merge operation, and the
    * watermark GCs closed windows. Estimates carry the usual
    * N/(capacity+1) one-sided error; when capacity ≥ distinct terms in
    * the window the counts are exact regardless of merge order. */
  def trendingTerms(events: DataFrame, tsCol: String, termCol: String,
      windowLength: String, capacity: Int,
      lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLength))
      .agg(graft.functions.FrequentItems.misraGries(col(termCol), capacity)
        .as("top_terms"))
      .select(col("window.start").as("window_start"), col("top_terms"))

  /** Streaming exact-dedup — the streaming form of DD1 for at-least-once
    * upstreams: duplicates of a key arriving within the watermark horizon
    * are suppressed, and the key's state expires with the watermark, so
    * state stays bounded by (arrival rate × delay) rather than growing
    * with the stream. A duplicate arriving later than `delay` after the
    * original is re-emitted — the same contract as the LWW merge making
    * replays idempotent downstream. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, delay: String,
      keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keys)

  /** Watermarked STREAM-STREAM interval join — the streaming form of the
    * reference's ±24h USD price enrichment (tokens/models.py:64-74): a
    * transaction stream joins a price-tick stream on token within
    * `[ts - tolerance, ts]`, both sides watermarked so each side's join
    * state is GC'd once the other side's watermark clears the range —
    * state is O(arrival rate × (tolerance + lateness)) regardless of
    * stream length, the property that lets enrichment run at ingest
    * instead of as a nightly backfill. Emits ALL in-range candidates;
    * compose [[streamAsOfEnrich]] (or the batch AsOfJoin) for
    * nearest-price selection. `joinType` "leftOuter" keeps transactions
    * with NO in-range tick (null price columns, emitted once the
    * watermark proves no tick can still arrive) — the reference stores
    * a null USD value rather than dropping the donation. */
  def streamIntervalEnrich(txs: DataFrame, prices: DataFrame,
      lateness: String = "1 hour", tolerance: String = "24 hours",
      joinType: String = "inner"): DataFrame = {
    val t = txs.withWatermark("ts", lateness)
    val p = prices.withWatermark("price_ts", lateness)
    t.join(p, t("token_id") === p("token_id") &&
        p("price_ts") >= t("ts") - expr(s"INTERVAL $tolerance") &&
        p("price_ts") <= t("ts"), joinType)
      .select(t("token_id"), col("tx_id"), col("ts"), col("amount"),
        col("price_ts"), col("price_usd"))
  }

  /** Streaming as-of enrichment: the interval join above chained into a
    * per-transaction `max_by` over price_ts — nearest price at-or-before
    * the transaction within tolerance. Two stateful operators in one
    * append-mode pipeline (stream-stream join → streaming aggregation);
    * the aggregation emits a transaction once the watermark passes its
    * event time, i.e. once no in-range price tick can still arrive —
    * exactly-once enrichment without a reconciliation pass. LEFT OUTER
    * underneath, so a transaction with no tick in range (thinly-traded
    * or brand-new token) still surfaces, with a null price — matching
    * the batch AsOfJoin's "left" contract and the reference's
    * null-USD storage, instead of silently vanishing. */
  def streamAsOfEnrich(txs: DataFrame, prices: DataFrame,
      lateness: String = "1 hour", tolerance: String = "24 hours"): DataFrame =
    streamIntervalEnrich(txs, prices, lateness, tolerance, "leftOuter")
      .groupBy(col("token_id"), col("tx_id"), window(col("ts"), "1 hour"))
      .agg(first(col("amount")).as("amount"),
        max_by(col("price_usd"), col("price_ts")).as("price_usd"),
        max(col("price_ts")).as("price_ts"))
      .drop("window")

  /** Declarative gap sessionization via the built-in `session_window` —
    * the Spark-first form of [[sessionize]] when per-session output is a
    * plain aggregate (count/sum/min/max): Catalyst owns the state store,
    * merges overlapping windows incrementally, and the watermark closes
    * and GCs sessions, so no hand-written state machine exists to get
    * wrong. Use [[sessionize]] only when the per-session logic genuinely
    * exceeds aggregate expressions. Same scale shape: one shuffle by
    * user, state O(open sessions). */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class ValEvent(event_type: String, ts: java.sql.Timestamp,
      value: Double)
  /** open: hourStartMs → accumulated cents (bounded by the lateness
    * horizon); ring: newest-first closed (hourStartMs, wholeDollars),
    * capped; ewma: the running fixed-point smoothed value. */
  final case class AnomState(open: Map[Long, Long],
      ring: List[(Long, Long)], ewma: Option[Long])
  final case class HourStat(event_type: String, hour: java.sql.Timestamp,
      x: Long, ewma8: Long, n_prior: Long, is_anomaly: Option[Boolean])
  /** Session bounds in MICROSECONDS since epoch (see [[tsMicros]]). */
  final case class SessionState(sessionStart: Long, lastTs: Long, nEvents: Int)
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Int)

  /** Streaming hourly anomaly monitor — the streaming twin of the batch
    * `q_ts2_anomaly` + `q_ts3_ewma` pair: per event type, hourly totals
    * accumulate in state until the WATERMARK proves the hour complete,
    * then the closed hour is scored against the trailing `ringSize`
    * closed hours with the same division-free integer z² test
    * ((n·x−s1)² > 9·(n·s2−s1²), flagged only past `minPriors`
    * observations) and folded into the same truncating fixed-point
    * EWMA (e' = (x + 7e) div 8). Each hour is emitted EXACTLY ONCE, at
    * the moment the watermark passes its end — no reconciliation pass,
    * no recomputation (the streaming-correctness property the batch
    * pair cannot give you).
    *
    * State per event type is O(1): the open-hour accumulator map is
    * bounded by the lateness horizon (watermark closes anything older)
    * and the ring is capped at `ringSize` — total state scales with
    * DISTINCT EVENT TYPES, not events. Rows behind the late-events
    * watermark are dropped by Spark before they reach the state
    * machine — the same late-data contract as the windowed aggregates.
    * Closure happens on data batches AND on event-time timeouts, so a
    * type that goes quiet still closes its last open hours. */
  def streamHourlyAnomaly(events: Dataset[ValEvent],
      lateness: String = "1 hour", minPriors: Int = 12,
      ringSize: Int = 24): Dataset[HourStat] = {
    import events.sparkSession.implicits._
    val HOUR = 3600000L
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomState, HourStat](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (etype: String, rows: Iterator[ValEvent], state: GroupState[AnomState]) =>
          val (st, out) = anomalyStep(etype, state.getOption, rows,
            state.getCurrentWatermarkMs(), minPriors, ringSize)
          state.update(st)
          if (st.open.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(st.open.keys.min + HOUR,
                state.getCurrentWatermarkMs() + 1))
          out.iterator
      }
  }

  /** One watermark-driven transition of [[streamHourlyAnomaly]]'s state
    * machine — exposed so the closure/drop/scoring logic is unit-testable
    * without streaming machinery. Pure function of (state, rows,
    * watermark). */
  private[streaming] def anomalyStep(etype: String, st0: Option[AnomState],
      rows: Iterator[ValEvent], wm: Long, minPriors: Int,
      ringSize: Int): (AnomState, Seq[HourStat]) = {
    val HOUR = 3600000L
    var st = st0.getOrElse(AnomState(Map.empty, Nil, None))
    val newestClosed = st.ring.headOption.map(_._1).getOrElse(Long.MinValue)
    rows.foreach { e =>
      val h = Math.floorDiv(e.ts.getTime, HOUR) * HOUR
      // Late rows never get here: under EventTimeTimeout Spark drops
      // input rows below the late-events watermark (the previous batch's),
      // the same filter the windowed aggregates apply. `wm` is the
      // eviction watermark, one batch ahead of that filter, so gating on
      // it would drop rows the windowed aggregates keep; a row for an
      // hour no key closed yet accumulates and closes below, in this
      // step, as a windowed aggregate evicts its window. The closed-hour
      // gate keeps the ring ascending whatever the caller passes.
      if (h > newestClosed) {
        // Per-event cents exactly as the batch twin's cast: Spark's
        // double→DECIMAL(18,2) goes through BigDecimal.valueOf (the
        // canonical decimal string) then HALF_UP — Math.round would
        // instead round half toward +∞ and diverge on negatives and
        // on values like 2.675 whose binary expansion sits below the
        // decimal midpoint.
        val cents = java.math.BigDecimal.valueOf(e.value)
          .setScale(2, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValueExact()
        st = st.copy(open =
          st.open.updated(h, st.open.getOrElse(h, 0L) + cents))
      }
    }
    val closable = st.open.keys.filter(_ + HOUR <= wm).toSeq.sorted
    val out = closable.map { h =>
      val x = Math.floorDiv(st.open(h), 100L) // whole dollars
      val prior = st.ring
      val n = prior.size.toLong
      val s1 = prior.iterator.map(_._2).sum
      val s2 = prior.iterator.map(p => p._2 * p._2).sum
      val anomaly = if (n >= minPriors)
        Some((n * x - s1) * (n * x - s1) > 9L * (n * s2 - s1 * s1))
      else None
      // Long `/` truncates toward zero — same as the batch `div`.
      val e = st.ewma.map(p => (x + 7 * p) / 8).getOrElse(x)
      st = AnomState(st.open - h, ((h, x) :: st.ring).take(ringSize),
        Some(e))
      HourStat(etype, new java.sql.Timestamp(h), x, e, n, anomaly)
    }
    (st, out)
  }

  /** Microsecond epoch of a Timestamp (getTime alone is MILLIS and would
    * truncate the µs precision the event-time column carries — the batch
    * twin computes in exact micros, so the state machine must too). */
  private def tsMicros(t: java.sql.Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  private def microsTs(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  /** Gap-based sessionization: a session closes after `gapMs` of user
    * inactivity in EVENT time — the timeout is an event-time timestamp
    * driven by the watermark, so ingest stalls/lag do not spuriously split
    * sessions (a processing-time timeout would). All gap arithmetic runs
    * in exact MICROSECONDS (session bounds are row-identical to the batch
    * q_w3 twin — StreamParitySpec); only the timeout registration rounds
    * up to the API's millisecond grain. State per user is O(1); the
    * shuffle is one hash partition by user — scales with distinct users,
    * not events. */
  def sessionize(events: Dataset[Event], gapMs: Long,
      lateness: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId,
              microsTs(s.sessionStart), microsTs(s.lastTs), s.nEvents))
          } else {
            val sorted = rows.toSeq.sortBy(e => tsMicros(e.ts))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = tsMicros(e.ts)
              cur match {
                case Some(s) if t - s.lastTs <= gapUs =>
                  cur = Some(s.copy(lastTs = t, nEvents = s.nEvents + 1))
                case Some(s) =>
                  closed ::= Session(userId,
                    microsTs(s.sessionStart), microsTs(s.lastTs), s.nEvents)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // Close when the watermark passes lastTs+gap (rounded UP to
              // the timeout API's ms grain — never early); clamp to stay
              // ahead of the current watermark as the API requires.
              val target = math.max(
                Math.floorDiv(s.lastTs + gapUs, 1000L) + 1L,
                state.getCurrentWatermarkMs() + 1)
              state.setTimeoutTimestamp(target)
            }
            closed.reverseIterator
          }
      }
  }
}
