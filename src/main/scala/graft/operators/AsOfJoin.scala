package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Nearest-within-tolerance temporal join ("as-of" join).
  *
  * Reference semantics: the USD price enrichment looks up a
  * TokenHistoricalPrice within ±24 h of the donation/payout time and takes
  * *a first* row in the window (tokens/models.py:64-74; settings.py:82).
  * That pick is nondeterministic in the reference; we pin it to
  * *nearest by |Δt|, ties by right-side key ascending* — a deterministic
  * refinement (SURVEY §2.4 J6).
  *
  * Implementation: equi-join on the partition key (token / user) PLUS a
  * tolerance-sized TIME BUCKET, then a range post-filter and a window
  * keeping the best right row per left row. The time bucket is the hot-key
  * guard: a plain key-only equi-join compares |L_key| × |R_key| row pairs
  * inside ONE sort-merge group — quadratic in the heat of the hottest key
  * (and the reference's price join has exactly such a key: the native
  * token carries most donations). Bucketing right rows by
  * floor(t / window) and exploding each left row to its 2–3 adjacent
  * bucket probes makes the shuffle key (key, bucket), so comparisons are
  * bounded per TIME SLICE — Σ |L_kb| × Σ_{b'∈probes} |R_kb'| — no matter
  * how hot the key. Cost: the left side shuffles 3× (nearest) / 2×
  * (before) rows; the candidate OUTPUT set is provably identical (every
  * in-window pair matches in exactly one right-bucket), so results are
  * byte-equal to the unbucketed form — on a corpus where one user held
  * 30% of both sides, 224M key-only comparisons fell to 933k (measured at
  * f33c8ee); PropertySpec and the oracle pin result identity.
  *
  * The join stays a plain shuffled hash/sort-merge join — NOT a cross
  * join. For a 100 TB fact side with a small dimension (token prices),
  * the dimension side broadcasts and the fact side never shuffles at all.
  * A bucketed/sorted layout on (key, time) would allow a zip-partitions
  * merge as a further step; the windowed form is what Catalyst handles
  * natively today and keeps AQE skew-handling in play.
  */
object AsOfJoin {

  /** @param left       fact side
    * @param right      lookup side
    * @param leftKeys   equi-join key column names on `left`
    * @param rightKeys  equi-join key column names on `right` (same arity)
    * @param leftTime   event-time column on `left` (TimestampType)
    * @param rightTime  event-time column on `right`
    * @param tolerance  max |Δt| in seconds (reference: 24*3600)
    * @param leftId     unique id column on `left` (window partition key)
    * @param joinType   "inner" drops unmatched fact rows; "left" keeps them
    *                   with null right columns (one output row per fact row
    *                   — what enrichment jobs need: a donation with no
    *                   in-window price keeps null USD rather than vanish)
    * @param timeBucketed false = key-only equi-join (the hot-key-quadratic
    *                   form; kept as PropertySpec's reference form)
    */
  def nearest(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      rightKeys: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Long,
      leftId: String,
      rightTieBreak: String,
      joinType: String = "inner",
      timeBucketed: Boolean = true): DataFrame = {

    // Delta in microseconds: exact integer arithmetic, no float rounding,
    // portable to the DuckDB oracle (epoch_us).
    def delta(lc: Column, rc: Column) = abs(unix_micros(lc) - unix_micros(rc))
    best(left, right, leftKeys, rightKeys, leftTime, rightTime,
      tolerance * 1000000L, leftId, rightTieBreak, joinType, timeBucketed,
      probeOffsets = Seq(-1L, 0L, 1L), delta, "__delta_us")
  }

  /** Backward ("at-or-before") as-of join: for each fact row, the LATEST
    * lookup row with `rightTime <= leftTime` inside a bounded lookback —
    * the classic price-lookup semantics (DuckDB's ASOF JOIN, Pandas
    * merge_asof), and the batch twin of the streaming
    * `EventAnalytics.streamAsOfEnrich`. Deterministic refinement of the
    * reference's "a first row in the window" pick (tokens/models.py:64-74):
    * smallest lag wins, ties by right-side key ascending.
    *
    * Same scale shape as [[nearest]] including the time-bucket hot-key
    * guard (the backward window [T−L, T] spans two lookback-sized
    * buckets, so the left side probes 2 instead of 3). The bounded
    * `lookback` is what keeps the join state finite; an unbounded as-of
    * would force a full-history range join.
    *
    * @param lookback max (leftTime − rightTime) in seconds, ≥ 0
    * @param joinType "left" keeps fact rows with no in-window lookup row
    *                 (null right columns) — the enrichment contract
    */
  def before(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      rightKeys: Seq[String],
      leftTime: String,
      rightTime: String,
      lookback: Long,
      leftId: String,
      rightTieBreak: String,
      joinType: String = "inner",
      timeBucketed: Boolean = true): DataFrame = {

    // Signed lag in microseconds: 0 ≤ lag ≤ lookback admits only
    // at-or-before rows.
    def lag(lc: Column, rc: Column) = unix_micros(lc) - unix_micros(rc)
    best(left, right, leftKeys, rightKeys, leftTime, rightTime,
      lookback * 1000000L, leftId, rightTieBreak, joinType, timeBucketed,
      probeOffsets = Seq(-1L, 0L), lag, "__lag_us")
  }

  /** Shared body: join (with or without the time-bucket guard), distance
    * post-filter `0-or-abs ≤ boundUs` (the distance function decides the
    * shape: `nearest` passes |Δ| so the lower bound is implicit; `before`
    * passes the signed lag and the ≥ 0 admission below), then the
    * rn = 1 cut per left id. */
  private def best(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      rightKeys: Seq[String],
      leftTime: String,
      rightTime: String,
      boundUs: Long,
      leftId: String,
      rightTieBreak: String,
      joinType: String,
      timeBucketed: Boolean,
      probeOffsets: Seq[Long],
      distance: (Column, Column) => Column,
      distName: String): DataFrame = {

    val l = left.alias("l")
    val r = right.alias("r")
    val keyCond = leftKeys.zip(rightKeys).map { case (lk, rk) =>
      col(s"l.$lk") === col(s"r.$rk")
    }.reduce(_ && _)
    val d = distance(col(s"l.$leftTime"), col(s"r.$rightTime"))
    val inRange = d >= 0L && d <= boundUs

    val joined =
      // boundUs = 0 (exact-timestamp as-of) can't form buckets — `div`
      // by zero yields null buckets and every probe would miss — so the
      // degenerate bound routes through the plain equi-join, where
      // d >= 0 && d <= 0 admits exactly the timestamp-equal rows.
      if (!timeBucketed || boundUs <= 0L) {
        l.join(r, keyCond && inRange, joinType)
      } else {
        // Event times are epoch µs (non-negative), so integer `div`
        // truncation IS floor division here; every right row lands in
        // exactly ONE bucket, so no (left, right) pair can match twice
        // and the candidate set equals the unbucketed join's.
        val bucket = (c: Column) =>
          call_function("div", unix_micros(c), lit(boundUs))
        val rb = r.withColumn("__rb", bucket(col(s"r.$rightTime")))
        val lb = l.withColumn("__probe", explode(array(probeOffsets.map(o =>
          bucket(col(s"l.$leftTime")) + lit(o)): _*)))
        lb.join(rb, keyCond && col("__probe") === col("__rb") && inRange,
            joinType)
          .drop("__probe", "__rb")
      }

    // Matched rows (non-null distance) outrank a left-join's null row, so
    // a fact row with any match never keeps the unmatched variant; the
    // exploded probes of one left row collapse through the same rn = 1
    // cut (unmatched probes carry null distance).
    val w = Window.partitionBy(col(s"l.$leftId"))
      .orderBy(col(distName).asc_nulls_last,
        col(s"r.$rightTieBreak").asc_nulls_last)
    joined.withColumn(distName, d)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
