package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.functions.ClassifierFunctions
import graft.streaming.{CorpusGate, EventAnalytics}

/** Streaming-vs-batch parity harness — drives the sf0.1 `events` table
  * through every streaming operator as a REAL Structured Streaming run
  * (file source, one file per micro-batch, watermarks live) and asserts
  * the final output is row-identical to the oracle-green batch twin:
  *
  *  - slidingTypeCounts      ≡ q_w6_sliding_window
  *  - hourlyTypeCounts       ≡ q_w1_hourly_window
  *  - sessionize             ≡ q_w3_sessionize
  *  - sessionWindowCounts    ≡ q_w3_sessionize (start/lastTs/count view)
  *  - streamHourlyAnomaly    ≡ q_ts2_anomaly (+ the ts3 EWMA recurrence
  *                             replayed at hourly grain)
  *  - streamNearestEnrich    ≡ q_j6_asof_join
  *  - streamAsOfEnrich       ≡ the at-or-before max_by batch formulation
  *  - trendingTerms          ≡ the same Misra-Gries aggregator in batch
  *                             (capacity ≥ distinct terms ⇒ exact)
  *  - dedupWithinWatermark   ≡ batch distinct (horizon ≥ data span)
  *  - CorpusGate (streamed)  ≡ CorpusGate batch backfill, batch-for-batch
  *
  * This is the evidence class the batch oracle cannot give: the streaming
  * plane (the reference's PRIMARY plane — the NEAR lake consumer,
  * indexer_app/tasks.py:28-93 — is a stream) producing byte-equal results
  * to the queries the DuckDB oracle has already hash-verified.
  *
  * Replay mechanics: events are split into `Chunks` time-range files
  * (sorted by ts, contiguous ranges), written with ascending modification
  * times so the file source replays them in order — the same in-order
  * block-height arrival the lake consumer sees in production; within-file
  * disorder exercises the state machinery. Two far-future sentinel files
  * (excluded from every comparison) push the watermark past all real
  * event time so every open window, session and hour provably closes
  * through the watermark path rather than through a harness backdoor.
  *
  * A second OUT-OF-ORDER section replays the same chunks pair-swapped
  * (arrival order 1,0,3,2,…) with the watermark delay sized to cover the
  * induced two-chunk event-time regression — the claim that each
  * watermark-tolerant operator is ARRIVAL-ORDER INVARIANT within its
  * lateness horizon, not merely correct on sorted input. A final
  * `late.` scenario holds a slice of the earliest chunk back until the
  * watermark has provably passed it and asserts the emitted result
  * equals the batch twin WITHOUT the held-back rows — the late-data
  * DROP contract measured at sf0.1 rather than on fixture rows.
  * `sessionize` (the custom state machine) is deliberately absent from
  * the out-of-order section: its cross-batch contract is the in-order
  * arrival production provides (ascending block heights); within-batch
  * disorder it sorts, and that is the claim the in-order section pins.
  * The built-in `sessionWindowCounts` IS order-invariant and runs here.
  *
  * Writes STREAM_PARITY.md; exits nonzero on any mismatch.
  */
object StreamParity {

  private val Chunks = 8
  private val Flush = "__flush"

  private val evSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  final case class Row(op: String, twin: String, streamRows: Long,
      batchRows: Long, diffRows: Long, secs: Double) {
    def ok: Boolean = diffRows == 0 && streamRows == batchRows
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outMd = args.lift(1).getOrElse("STREAM_PARITY.md")
    val spark = HarnessSession.local()
    import spark.implicits._

    val work = Files.createTempDirectory("stream_parity")
    val evDir = work.resolve("events").toString

    // ---- stage the event stream: time-range chunks + sentinel files ----
    val events = spark.read.schema(evSchema)
      .parquet(s"$sfDir/events.parquet")
    val total = events.count()
    val maxTsMs = events.agg(max(unix_millis(col("ts")))).head().getLong(0)
    val minTsMs = events.agg(min(unix_millis(col("ts")))).head().getLong(0)
    val wOrd = Window.orderBy(col("ts").asc, col("event_id").asc)
    val chunkCol = (((row_number().over(wOrd) - 1) * Chunks) / total)
      .cast("int")
    val withChunk = events.withColumn("__chunk", chunkCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    withChunk.count()
    (0 until Chunks).foreach { i =>
      writeOneFile(withChunk.filter(col("__chunk") === i).drop("__chunk"),
        "parquet", Paths.get(evDir, f"chunk-$i%02d.parquet"),
        1700000000000L + i * 60000L)
    }
    // Sentinels: a pure-watermark row for the type/user operators plus
    // purchase/view rows so BOTH filtered sides of the as-of join see
    // their watermark advance. Two files: the second gives the runtime a
    // data-bearing batch in which the first file's watermark fires every
    // registered event-time timeout. `hoursOut` places them past the
    // section's watermark delay so the final watermark clears every
    // real window end.
    def writeSentinels(dir: String, pos0: Int, hoursOut: Int): Unit =
      Seq(0, 1).foreach { s =>
        val fTs = new java.sql.Timestamp(
          maxTsMs + (hoursOut + 24 * s) * 3600 * 1000L)
        writeOneFile(
          Seq((-1L - 10 * s, fTs, -1L, Flush, 0.0, null.asInstanceOf[String]),
            (-2L - 10 * s, fTs, -1L, "purchase", 0.0, null.asInstanceOf[String]),
            (-3L - 10 * s, fTs, -1L, "view", 0.0, null.asInstanceOf[String]))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
          "parquet", Paths.get(dir, s"chunk-9$s.parquet"),
          1700000000000L + (pos0 + s) * 60000L)
      }
    writeSentinels(evDir, Chunks, 48)

    // ---- out-of-order stage: the SAME chunk files, pair-swapped --------
    // Arrival 1,0,3,2,…: before chunk 2k arrives the stream has already
    // seen chunk 2k+1, so the watermark sits at max(chunk 2k+1) − delay —
    // an event-time regression of up to TWO chunk spans. OooDelay covers
    // it (asserted, so a corpus change fails loudly instead of silently
    // dropping rows); sentinels sit past maxTs + delay so every window
    // still provably closes through the watermark path.
    val OooDelay = "8 days"
    val oooDelayMs = 8L * 24 * 3600 * 1000
    require(oooDelayMs > 2 * (maxTsMs - minTsMs) / Chunks + 3600 * 1000L,
      s"OooDelay must cover the pair-swap regression: delay=${oooDelayMs}ms " +
        s"span=${maxTsMs - minTsMs}ms chunks=$Chunks")
    val evOooDir = work.resolve("events_ooo").toString
    Files.createDirectories(Paths.get(evOooDir))
    (0 until Chunks).map(i => if (i % 2 == 0) i + 1 else i - 1)
      .zipWithIndex.foreach { case (chunk, pos) =>
        val dst = Paths.get(evOooDir, f"chunk-$chunk%02d.parquet")
        Files.copy(Paths.get(evDir, f"chunk-$chunk%02d.parquet"), dst)
        dst.toFile.setLastModified(1700000000000L + pos * 60000L)
      }
    writeSentinels(evOooDir, Chunks, 216)

    // ---- late-drop stage: chunks in order, but a slice of chunk 0 held
    // back until after chunk 7 — by then the watermark has provably
    // passed every held-back hour (asserted), so the operator must DROP
    // exactly those rows and the result must equal the batch twin
    // computed WITHOUT them.
    val lateIds: Array[Long] = withChunk
      .filter(col("__chunk") === 0 && pmod(col("event_id"), lit(37)) === 0)
      .select("event_id").as[Long].collect()
    require((maxTsMs - oooDelayMs) >
      minTsMs + (maxTsMs - minTsMs) / Chunks + 2 * 3600 * 1000L,
      "held-back slice must be beyond the watermark when it arrives")
    val evLateDir = work.resolve("events_late").toString
    Files.createDirectories(Paths.get(evLateDir))
    writeOneFile(withChunk
        .filter(col("__chunk") === 0 &&
          !col("event_id").isInCollection(lateIds)).drop("__chunk"),
      "parquet", Paths.get(evLateDir, "chunk-00.parquet"), 1700000000000L)
    (1 until Chunks).foreach { i =>
      val dst = Paths.get(evLateDir, f"chunk-$i%02d.parquet")
      Files.copy(Paths.get(evDir, f"chunk-$i%02d.parquet"), dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    writeOneFile(withChunk
        .filter(col("__chunk") === 0 &&
          col("event_id").isInCollection(lateIds)).drop("__chunk"),
      "parquet", Paths.get(evLateDir, s"chunk-late.parquet"),
      1700000000000L + Chunks * 60000L)
    writeSentinels(evLateDir, Chunks + 1, 216)
    withChunk.unpersist()

    def evStreamFrom(dir: String): DataFrame = spark.readStream
      .schema(evSchema).option("maxFilesPerTrigger", 1).parquet(dir)
    def evStream: DataFrame = evStreamFrom(evDir)
    // The windowed/keyed operators get the real rows plus only the
    // watermark sentinel; the as-of join gets the purchase/view sentinels.
    def evTyped: DataFrame = evStream
      .filter(col("event_id") >= 0 || col("event_type") === Flush)

    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    def batchQ(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

    // ---------------------------------------------- sliding windows ≡ w6
    {
      val (out, secs) = runStream(spark,
        EventAnalytics.slidingTypeCounts(evTyped, "1 hour", "15 minutes",
          "1 hour"), "p_sliding")
      val s = out.filter(col("event_type") =!= Flush)
        .select(unix_micros(col("window_start")).as("wus"), col("event_type"),
          col("n"), col("total_value"))
      val b = batchQ("q_w6_sliding_window")
        .select(unix_micros(col("window_start")).as("wus"), col("event_type"),
          col("n"), col("total_value"))
      rows += diff("slidingTypeCounts", "q_w6_sliding_window", s, b, secs)
    }

    // ---------------------------------------------- hourly windows ≡ w1
    {
      val (out, secs) = runStream(spark,
        EventAnalytics.hourlyTypeCounts(evTyped, "1 hour"), "p_hourly")
      val s = out.filter(col("event_type") =!= Flush)
        .select(unix_micros(col("hour")).as("hus"), col("event_type"),
          col("n"), col("total_value"))
      val b = batchQ("q_w1_hourly_window")
        .select(unix_micros(col("hour").cast("timestamp")).as("hus"),
          col("event_type"), col("n"), col("total_value"))
      rows += diff("hourlyTypeCounts", "q_w1_hourly_window", s, b, secs)
    }

    // ------------------------------------------------- sessionize ≡ w3
    val w3 = batchQ("q_w3_sessionize")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    w3.count()
    locally {
      val ds = evTyped.select(col("user_id"), col("ts"), col("event_type"))
        .as[EventAnalytics.Event]
      val (out, secs) = runStream(spark,
        EventAnalytics.sessionize(ds, 86400000L, "1 hour").toDF(), "p_sessionize")
      val wIdx = Window.partitionBy("user_id").orderBy("session_start")
      val s = out.filter(col("user_id") >= 0)
        .withColumn("session_idx", row_number().over(wIdx).cast("long"))
        .select(col("user_id"), col("session_idx"),
          col("n_events").cast("long").as("n_events"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"))
        .withColumn("duration_us", col("end_us") - col("start_us"))
      rows += diff("sessionize", "q_w3_sessionize", s, w3, secs)
    }

    // ---------------------------------------- session_window view ≡ w3
    {
      // Gap 24h + 1µs: session_window merges on STRICT < gap, the batch
      // sessionization splits on STRICT > 24h — the one-microsecond pad
      // makes the boundary semantics identical.
      val (out, secs) = runStream(spark,
        EventAnalytics.sessionWindowCounts(evTyped,
          gap = "24 hours 1 microsecond", lateness = "1 hour"), "p_sesswin")
      val s = out.filter(col("user_id") >= 0)
        .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
          (unix_micros(col("session_end")) - lit(86400000001L)).as("last_us"),
          col("n_events"))
      val b = w3.select(col("user_id"), col("start_us"),
        col("end_us").as("last_us"), col("n_events"))
      rows += diff("sessionWindowCounts", "q_w3_sessionize", s, b, secs)
    }

    // ------------------------------- hourly anomaly ≡ ts2 (+hourly ts3)
    val ts2 = batchQ("q_ts2_anomaly")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ts2.count()
    locally {
      val ds = evTyped.select(col("event_type"), col("ts"), col("value"))
        .as[EventAnalytics.ValEvent]
      val (out, secs) = runStream(spark,
        EventAnalytics.streamHourlyAnomaly(ds, "1 hour", minPriors = 12,
          ringSize = 24).toDF(), "p_anomaly")
      val stream = out.filter(col("event_type") =!= Flush)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val s = stream.select(col("event_type"),
        unix_micros(col("hour")).as("hus"), col("x"),
        col("n_prior").as("n"), col("is_anomaly"))
      val b = ts2.select(col("event_type"),
        unix_micros(col("hour").cast("timestamp")).as("hus"), col("x"),
        col("n"), col("is_anomaly"))
      rows += diff("streamHourlyAnomaly", "q_ts2_anomaly", s, b, secs)
      // EWMA leg: the oracle-green ts3 recurrence (e' = (x + 7e) div 8,
      // truncating) replayed over ts2's hourly grid — the batch twin of
      // the monitor's smoothed column.
      val ewmaB = ewmaTwin(ts2)
      val ewmaS = stream.select(col("event_type"),
        unix_micros(col("hour")).as("hus"), col("ewma8"))
      rows += diff("streamHourlyAnomaly.ewma8", "ts3 recurrence @hourly",
        ewmaS, ewmaB, 0.0)
      stream.unpersist()
    }

    // -------------------------------------------- nearest as-of ≡ j6
    {
      val txs = evStream
        .filter(col("event_id") >= 0 || col("event_id") <= -2)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("token_id"), col("event_id").as("tx_id"),
          col("ts"), col("value").as("amount"))
      val prices = evStream
        .filter(col("event_id") >= 0 || col("event_id") <= -2)
        .filter(col("event_type") === "view")
        .select(col("user_id").as("token_id"), col("event_id").as("price_id"),
          col("ts").as("price_ts"), col("value").as("price_usd"))
      val (out, secs) = runStream(spark,
        EventAnalytics.streamNearestEnrich(txs, prices, "1 hour", "24 hours"),
        "p_asof")
      val s = out.filter(col("purchase_id") >= 0)
      val b = batchQ("q_j6_asof_join")
        .select(col("purchase_id"), col("view_id"), col("delta_us"),
          col("usd_value"))
      rows += diff("streamNearestEnrich", "q_j6_asof_join", s, b, secs)
    }

    // --------------------------- at-or-before as-of enrich ≡ batch max_by
    {
      // No (user_id, ts) ties exist in the data (verified by the batch
      // distinct below equaling the raw count), so the max_by pick is
      // deterministic on both planes.
      val txs = evStream
        .filter(col("event_id") >= 0 || col("event_id") <= -2)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("token_id"), col("event_id").as("tx_id"),
          col("ts"), col("value").as("amount"))
      val prices = evStream
        .filter(col("event_id") >= 0 || col("event_id") <= -2)
        .filter(col("event_type") === "view")
        .select(col("user_id").as("token_id"), col("ts").as("price_ts"),
          col("value").as("price_usd"))
      val (out, secs) = runStream(spark,
        EventAnalytics.streamAsOfEnrich(txs, prices, "1 hour", "24 hours"),
        "p_asof_before")
      val s = out.filter(col("tx_id") >= 0)
      val ev = spark.read.schema(evSchema).parquet(s"$sfDir/events.parquet")
      val bTx = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("token_id"), col("event_id").as("tx_id"),
          col("ts"), col("value").as("amount"))
      val bPx = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("p_token"), col("ts").as("price_ts"),
          col("value").as("price_usd"))
      val b = bTx.join(bPx,
          col("token_id") === col("p_token") &&
            col("price_ts") >= col("ts") - expr("INTERVAL 24 hours") &&
            col("price_ts") <= col("ts"), "left")
        .groupBy(col("token_id"), col("tx_id"))
        .agg(first(col("amount")).as("amount"),
          max_by(col("price_usd"), col("price_ts")).as("price_usd"),
          max(col("price_ts")).as("price_ts"))
      rows += diff("streamAsOfEnrich", "at-or-before max_by (batch)", s, b,
        secs)
    }

    // --------------------------- trending terms ≡ batch Misra-Gries
    {
      // capacity 16 ≥ the 5 distinct event types, so the sketch is EXACT
      // and its (count desc, term) output order deterministic — the
      // incremental streaming merges must land on the identical summary.
      val (out, secs) = runStream(spark,
        EventAnalytics.trendingTerms(evTyped, "ts", "event_type", "1 hour",
          capacity = 16, lateness = "1 hour"), "p_trending")
      val s = out.filter(unix_millis(col("window_start")) <= maxTsMs)
      val ev = spark.read.schema(evSchema).parquet(s"$sfDir/events.parquet")
      val b = ev.groupBy(window(col("ts"), "1 hour"))
        .agg(graft.functions.FrequentItems.misraGries(col("event_type"), 16)
          .as("top_terms"))
        .select(col("window.start").as("window_start"), col("top_terms"))
      rows += diff("trendingTerms", "Misra-Gries aggregate (batch)", s, b,
        secs)
    }

    // --------------------------- watermarked dedup ≡ batch distinct
    {
      // With the horizon covering the whole 30-day replay, the
      // within-watermark semantics coincide with a global dedup: exactly
      // one row must be emitted per (user_id, event_type) key. The
      // surviving ROW among same-key arrivals in one micro-batch is
      // runtime-order-dependent by the operator's contract, so the
      // comparison is over the emitted KEY multiset (which also proves
      // no duplicate key was re-emitted across batches).
      val (out, secs) = runStream(spark,
        EventAnalytics.dedupWithinWatermark(evTyped, "ts", "60 days",
          Seq("user_id", "event_type")), "p_dedup")
      val s = out.filter(col("user_id") >= 0)
        .select("user_id", "event_type")
      val b = spark.read.schema(evSchema).parquet(s"$sfDir/events.parquet")
        .select("user_id", "event_type").distinct()
      rows += diff("dedupWithinWatermark", "distinct keys (batch)", s, b,
        secs)
    }

    // ================= OUT-OF-ORDER replay: pair-swapped chunk arrival =
    // Same batch twins as above; the only things that change are the
    // arrival order (1,0,3,2,…) and the watermark delay (OooDelay covers
    // the induced regression). Identity here is the arrival-order
    // invariance claim: within the lateness horizon, state accumulation
    // and watermark-driven closure commute with disorder.
    def oooTyped: DataFrame = evStreamFrom(evOooDir)
      .filter(col("event_id") >= 0 || col("event_type") === Flush)

    locally {
      val (out, secs) = runStream(spark,
        EventAnalytics.hourlyTypeCounts(oooTyped, OooDelay), "o_hourly")
      val s = out.filter(col("event_type") =!= Flush)
        .select(unix_micros(col("hour")).as("hus"), col("event_type"),
          col("n"), col("total_value"))
      val b = batchQ("q_w1_hourly_window")
        .select(unix_micros(col("hour").cast("timestamp")).as("hus"),
          col("event_type"), col("n"), col("total_value"))
      rows += diff("ooo.hourlyTypeCounts", "q_w1_hourly_window", s, b, secs)
    }

    locally {
      val (out, secs) = runStream(spark,
        EventAnalytics.slidingTypeCounts(oooTyped, "1 hour", "15 minutes",
          OooDelay), "o_sliding")
      val s = out.filter(col("event_type") =!= Flush)
        .select(unix_micros(col("window_start")).as("wus"), col("event_type"),
          col("n"), col("total_value"))
      val b = batchQ("q_w6_sliding_window")
        .select(unix_micros(col("window_start")).as("wus"), col("event_type"),
          col("n"), col("total_value"))
      rows += diff("ooo.slidingTypeCounts", "q_w6_sliding_window", s, b, secs)
    }

    locally {
      val (out, secs) = runStream(spark,
        EventAnalytics.sessionWindowCounts(oooTyped,
          gap = "24 hours 1 microsecond", lateness = OooDelay), "o_sesswin")
      val s = out.filter(col("user_id") >= 0)
        .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
          (unix_micros(col("session_end")) - lit(86400000001L)).as("last_us"),
          col("n_events"))
      val b = w3.select(col("user_id"), col("start_us"),
        col("end_us").as("last_us"), col("n_events"))
      rows += diff("ooo.sessionWindowCounts", "q_w3_sessionize", s, b, secs)
    }

    locally {
      val ds = oooTyped.select(col("event_type"), col("ts"), col("value"))
        .as[EventAnalytics.ValEvent]
      val (out, secs) = runStream(spark,
        EventAnalytics.streamHourlyAnomaly(ds, OooDelay, minPriors = 12,
          ringSize = 24).toDF(), "o_anomaly")
      val s = out.filter(col("event_type") =!= Flush)
        .select(col("event_type"), unix_micros(col("hour")).as("hus"),
          col("x"), col("n_prior").as("n"), col("is_anomaly"), col("ewma8"))
      // x/n/anomaly AND the EWMA leg in one frame: hour closure order is
      // ascending regardless of arrival order (the watermark is
      // monotonic and closable hours emit sorted), so ring and EWMA
      // state walk the identical hour sequence.
      val b = ts2.select(col("event_type"),
          unix_micros(col("hour").cast("timestamp")).as("hus"), col("x"),
          col("n"), col("is_anomaly"))
        .join(ewmaTwin(ts2), Seq("event_type", "hus"))
      rows += diff("ooo.streamHourlyAnomaly", "q_ts2_anomaly + ts3@hourly",
        s, b, secs)
    }

    locally {
      val (out, secs) = runStream(spark,
        EventAnalytics.trendingTerms(oooTyped, "ts", "event_type", "1 hour",
          capacity = 16, lateness = OooDelay), "o_trending")
      val s = out.filter(unix_millis(col("window_start")) <= maxTsMs)
      val ev = spark.read.schema(evSchema).parquet(s"$sfDir/events.parquet")
      val b = ev.groupBy(window(col("ts"), "1 hour"))
        .agg(graft.functions.FrequentItems.misraGries(col("event_type"), 16)
          .as("top_terms"))
        .select(col("window.start").as("window_start"), col("top_terms"))
      rows += diff("ooo.trendingTerms", "Misra-Gries aggregate (batch)",
        s, b, secs)
    }

    locally {
      val (out, secs) = runStream(spark,
        EventAnalytics.dedupWithinWatermark(oooTyped, "ts", "60 days",
          Seq("user_id", "event_type")), "o_dedup")
      val s = out.filter(col("user_id") >= 0)
        .select("user_id", "event_type")
      val b = spark.read.schema(evSchema).parquet(s"$sfDir/events.parquet")
        .select("user_id", "event_type").distinct()
      rows += diff("ooo.dedupWithinWatermark", "distinct keys (batch)", s, b,
        secs)
    }

    locally {
      val txs = evStreamFrom(evOooDir)
        .filter(col("event_id") >= 0 || col("event_id") <= -2)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("token_id"), col("event_id").as("tx_id"),
          col("ts"), col("value").as("amount"))
      val prices = evStreamFrom(evOooDir)
        .filter(col("event_id") >= 0 || col("event_id") <= -2)
        .filter(col("event_type") === "view")
        .select(col("user_id").as("token_id"), col("event_id").as("price_id"),
          col("ts").as("price_ts"), col("value").as("price_usd"))
      val (out, secs) = runStream(spark,
        EventAnalytics.streamNearestEnrich(txs, prices, OooDelay, "24 hours"),
        "o_asof")
      val s = out.filter(col("purchase_id") >= 0)
      val b = batchQ("q_j6_asof_join")
        .select(col("purchase_id"), col("view_id"), col("delta_us"),
          col("usd_value"))
      rows += diff("ooo.streamNearestEnrich", "q_j6_asof_join", s, b, secs)
    }

    // ========================== late-drop: beyond-horizon rows DROPPED =
    // The held-back chunk-0 slice arrives after chunk 7, when the
    // watermark (maxTs − OooDelay) has long passed every held-back hour;
    // the emitted result must equal the batch twin WITHOUT those rows —
    // the drop contract measured on the full corpus, with the twin
    // computed by the SAME operator body run as a batch query (the
    // watermark is a no-op in batch mode).
    locally {
      val lateTyped = evStreamFrom(evLateDir)
        .filter(col("event_id") >= 0 || col("event_type") === Flush)
      val (out, secs) = runStream(spark,
        EventAnalytics.hourlyTypeCounts(lateTyped, OooDelay), "o_late")
      val s = out.filter(col("event_type") =!= Flush)
        .select(unix_micros(col("hour")).as("hus"), col("event_type"),
          col("n"), col("total_value"))
      val survivors = spark.read.schema(evSchema)
        .parquet(s"$sfDir/events.parquet")
        .filter(!col("event_id").isInCollection(lateIds))
      val b = EventAnalytics.hourlyTypeCounts(survivors, OooDelay)
        .select(unix_micros(col("hour")).as("hus"), col("event_type"),
          col("n"), col("total_value"))
      rows += diff(s"late.hourlyTypeCounts (−${lateIds.length} held-back)",
        "batch twin minus held-back rows", s, b, secs)
    }

    // ==================== kill-and-resume: exactly-once through restart =
    // A REAL durable sink (parquet + checkpoint) killed mid-run — the
    // first query is stopped after a wall-clock budget, cutting it at
    // whatever micro-batch it happens to be in — then restarted from the
    // checkpoint to completion. The final sink contents must equal the
    // oracle-green batch twin EXACTLY: no lost batch (checkpoint resume),
    // no doubled batch (the file sink's commit log), wherever the cut
    // landed. The cut point is deliberately nondeterministic; the result
    // identity must hold for every cut, which is the exactly-once claim.
    locally {
      // NON-VACUOUS cut required: on a fast machine AvailableNow can
      // drain every batch inside the wall-clock budget (restart = no-op),
      // or the stop can land before batch 0 commits (restart = full run,
      // no resume exercised). Either way the exactly-once-through-restart
      // claim would pass without being tested — the same vacuity
      // RetryReplaySpec rejects by asserting its injection fired. So the
      // committed-batch count at the cut is REQUIRED to sit strictly
      // between 0 and the total; budgets shrink/grow across fresh
      // checkpoint dirs until a mid-run cut is achieved.
      def commitCount(ckpt: String): Int =
        Option(new java.io.File(s"$ckpt/commits").listFiles())
          .map(_.count(f => f.getName.forall(_.isDigit))).getOrElse(0)
      val budgets = Seq(2500L, 1000L, 400L, 150L, 5000L)
      var attempt = 0
      var cut = 0; var total = 0; var secs = 0.0; var sink = ""
      while (attempt < budgets.length && !(cut > 0 && cut < total)) {
        val ckpt = work.resolve(s"resume_ckpt_$attempt").toString
        sink = work.resolve(s"resume_sink_$attempt").toString
        def start() = EventAnalytics.hourlyTypeCounts(evTyped, "1 hour")
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        val t0 = System.nanoTime()
        val q1 = start()
        q1.awaitTermination(budgets(attempt))
        q1.stop()
        cut = commitCount(ckpt)
        val q2 = start()
        q2.awaitTermination()
        secs = (System.nanoTime() - t0) / 1e9
        total = commitCount(ckpt)
        attempt += 1
      }
      require(cut > 0 && cut < total,
        s"kill-and-resume never achieved a mid-run cut (last: $cut of " +
          s"$total batches committed before the stop) — the restart " +
          "would be vacuous; widen the budget ladder")
      val s = spark.read.parquet(sink)
        .filter(col("event_type") =!= Flush)
        .select(unix_micros(col("hour")).as("hus"), col("event_type"),
          col("n"), col("total_value"))
      val b = batchQ("q_w1_hourly_window")
        .select(unix_micros(col("hour").cast("timestamp")).as("hus"),
          col("event_type"), col("n"), col("total_value"))
      rows += diff(s"resume.hourlyTypeCounts (killed @batch $cut of $total)",
        "q_w1_hourly_window", s, b, secs)
    }
    w3.unpersist(); ts2.unpersist()

    // ------------------------------ CorpusGate: stream ≡ batch backfill
    {
      val docDir = work.resolve("docs").toString
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val dTotal = docs.count()
      val dw = Window.orderBy(col("doc_id").asc)
      val dChunk = docs
        .withColumn("__chunk",
          (((row_number().over(dw) - 1) * Chunks) / dTotal).cast("int"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      dChunk.count()
      (0 until Chunks).foreach { i =>
        writeOneFile(
          dChunk.filter(col("__chunk") === i)
            .select(to_json(struct(col("doc_id"), col("text"))).as("value")),
          "text", Paths.get(docDir, f"chunk-$i%02d.json"),
          1700000000000L + i * 60000L)
      }
      val cfg = CorpusGate.Config()
      val storeS = work.resolve("gate_stream").toString
      val storeB = work.resolve("gate_batch").toString
      val t0 = System.nanoTime()
      CorpusGate.start(spark, docDir, storeS,
          work.resolve("gate_ckpt").toString, cfg, availableNow = true,
          maxFilesPerTrigger = Some(1))
        .awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      // Batch backfill: the same files, in the same order, through the
      // same gate body — driven by a plain loop instead of the stream.
      (0 until Chunks).foreach { i =>
        CorpusGate.curateBatch(
          spark.read.schema(CorpusGate.docSchema)
            .json(s"$docDir/chunk-0$i.json"),
          storeB, i, cfg)
      }
      dChunk.unpersist()
      // Batch-for-batch identity across every store artifact (the batch
      // partition column rides along, so a row landing in the WRONG
      // micro-batch also fails).
      def store(base: String, sub: String, cols: Seq[String]): DataFrame =
        spark.read.parquet(s"$base/$sub")
          .select((cols :+ "batch").map(col): _*)
      Seq(
        ("CorpusGate.corpus", "corpus", Seq("doc_id", "text")),
        ("CorpusGate.sigs", "sigs", Seq("doc_id", "sig")),
        ("CorpusGate.fps", "fps", Seq("doc_id", "fp64", "fp")),
        ("CorpusGate.stats", "stats",
          Seq("batch_id", "n_in", "n_quality_dropped", "n_exact_dup",
            "n_corpus_exact_dup", "n_batch_near_dup", "n_corpus_near_dup",
            "n_survivors"))
      ).foreach { case (label, sub, cols) =>
        rows += diff(label, "batch backfill, same batches",
          store(storeS, sub, cols), store(storeB, sub, cols),
          if (sub == "corpus") secs else 0.0)
      }

      // Kill-and-resume of the gate itself: the store writes are
      // replay-idempotent (whole-partition overwrite per batch id; a
      // batch reads only partitions strictly below its own), so a query
      // killed at an arbitrary micro-batch and restarted from its
      // checkpoint must land on the byte-identical store. The cut is
      // wall-clock (nondeterministic batch); identity must hold for any
      // cut — that is the claim.
      locally {
        val storeR = work.resolve("gate_resume").toString
        val ckptR = work.resolve("gate_resume_ckpt").toString
        val t1 = System.nanoTime()
        val q1 = CorpusGate.start(spark, docDir, storeR, ckptR, cfg,
          availableNow = true, maxFilesPerTrigger = Some(1))
        q1.awaitTermination(10000)
        q1.stop()
        val committed = Option(
            new java.io.File(s"$ckptR/offsets").listFiles())
          .map(_.count(f => f.getName.forall(_.isDigit))).getOrElse(0)
        CorpusGate.start(spark, docDir, storeR, ckptR, cfg,
          availableNow = true, maxFilesPerTrigger = Some(1))
          .awaitTermination()
        val rSecs = (System.nanoTime() - t1) / 1e9
        rows += diff(s"CorpusGate.resume.corpus (killed @batch $committed)",
          "batch backfill, same batches",
          store(storeR, "corpus", Seq("doc_id", "text")),
          store(storeB, "corpus", Seq("doc_id", "text")), rSecs)
        rows += diff(s"CorpusGate.resume.stats (killed @batch $committed)",
          "batch backfill, same batches",
          store(storeR, "stats",
            Seq("batch_id", "n_in", "n_quality_dropped", "n_exact_dup",
              "n_corpus_exact_dup", "n_batch_near_dup", "n_corpus_near_dup",
              "n_survivors")),
          store(storeB, "stats",
            Seq("batch_id", "n_in", "n_quality_dropped", "n_exact_dup",
              "n_corpus_exact_dup", "n_batch_near_dup", "n_corpus_near_dup",
              "n_survivors")), 0.0)
      }

      // -------------------- streaming inference: batch-trained NB model
      // The production classifier shape end-to-end: the quality model is
      // trained ONCE in batch on the labeled slice, PERSISTED as its
      // parquet table, and every arriving micro-batch is scored through
      // the same broadcast join — train-batch / serve-stream. Scoring is
      // stateless per document given the model, so the appended stream
      // sink must equal batch inference with the same persisted model
      // over the same held-out docs — including every fixed-point score
      // and Bayes decision bit.
      locally {
        val allDocs = spark.read.parquet(s"$sfDir/documents.parquet")
        val modelPath = work.resolve("nb_model").toString
        ClassifierFunctions.trainNbLogModel(
            allDocs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "text",
            isPositive = col("lang") === "en",
            numBuckets = 1024, seed = "nbq")
          .write.parquet(modelPath)
        val model = spark.read.parquet(modelPath)
        val sinkDir = work.resolve("nb_scored").toString
        val t2 = System.nanoTime()
        spark.readStream.schema(CorpusGate.docSchema)
          .option("maxFilesPerTrigger", 1).json(docDir)
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", work.resolve("nb_ckpt").toString)
          .foreachBatch { (b: DataFrame, _: Long) =>
            ClassifierFunctions.nbScore(
                b.filter(pmod(col("doc_id"), lit(5)) === 0),
                "doc_id", "text", model, numBuckets = 1024, seed = "nbq")
              .write.mode("append").parquet(sinkDir)
          }
          .start().awaitTermination()
        val nbSecs = (System.nanoTime() - t2) / 1e9
        val batchTwin = ClassifierFunctions.nbScore(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0),
          "doc_id", "text", model, numBuckets = 1024, seed = "nbq")
        rows += diff("nbScore (persisted model, per micro-batch)",
          "batch nbScore, same persisted model",
          spark.read.parquet(sinkDir), batchTwin, nbSecs)
      }
    }

    // -------------------- silver-plane parity: the 18-entity ingest
    // The reference's live-vs-spot path equivalence (indexer_app/
    // tasks.py:114-126 — the same handle_streamer_message serves both):
    // one block corpus driven (a) through the PRODUCTION streaming path
    // (LakeSource → micro-batches → gated LWW entity merges,
    // checkpointed) and (b) as ONE mega-batch backfill into a second
    // store, then EVERY silver table compared row-for-row (multiset,
    // both directions). The claim is ST1's at bench scale: ingest-seq
    // LWW arbitration makes per-batch merge order invisible — 40
    // micro-batches and one mega-batch land the byte-identical store.
    locally {
      val nBlocks = 20000
      val lakeDir = work.resolve("silver_lake").toString
      Files.createDirectories(Paths.get(lakeDir))
      val startHeight = 100000000L
      (0 until nBlocks).foreach { i =>
        val h = startHeight + i
        Files.write(Paths.get(lakeDir, f"$h%012d.json"),
          IngestBench.blockJson(h).getBytes("UTF-8")): Unit
      }
      val storeS = work.resolve("silver_stream").toString
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamIngest.startFromLake(spark,
        Map("fetcher.dir" -> lakeDir, "startHeight" -> startHeight.toString,
          "maxBlocksPerTrigger" -> "500", "fetchPartitions" -> "8"),
        storeS, work.resolve("silver_stream_ckpt").toString,
        availableNow = true)
      require(q.awaitTermination(1800000), "silver stream did not drain")
      val sSecs = (System.nanoTime() - t0) / 1e9
      val storeB = work.resolve("silver_batch").toString
      graft.streaming.StreamIngest.backfill(spark, lakeDir, storeB): Unit
      def tablesOf(base: String): Set[String] = Option(
          new java.io.File(base).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && !f.getName.contains(".tmp-") &&
          !f.getName.contains(".old-") && !f.getName.endsWith(".dirty.d") &&
          !f.getName.contains(".apply-"))
        .map(_.getName).toSet
      val tS = tablesOf(storeS)
      val tB = tablesOf(storeB)
      require(tS == tB,
        s"silver table sets diverge: stream-only=${tS -- tB}, " +
          s"backfill-only=${tB -- tS}")
      tS.toSeq.sorted.zipWithIndex.foreach { case (tname, i) =>
        // block_height.updated_at is wall-clock by contract (the
        // reference's BlockHeight.updated_at is the ingest's own clock,
        // indexer_app/models.py:5-24) — the one column two correct runs
        // MUST disagree on; everything else compares verbatim.
        def rd(base: String): DataFrame = {
          val df = spark.read.parquet(s"$base/$tname")
          if (tname == "block_height") df.drop("updated_at") else df
        }
        rows += diff(s"silver.$tname", "mega-batch backfill, same blocks",
          rd(storeS), rd(storeB), if (i == 0) sSecs else 0.0)
      }
    }

    render(outMd, sfDir, rows.toSeq)
    val bad = rows.filterNot(_.ok)
    println(s"[stream-parity] ${rows.size - bad.size}/${rows.size} identical")
    bad.foreach(r => println(s"[stream-parity] MISMATCH ${r.op}: " +
      s"stream=${r.streamRows} batch=${r.batchRows} diff=${r.diffRows}"))
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }

  /** Batch twin of the anomaly monitor's EWMA column: the ts3 recurrence
    * (e' = (x + 7e) div 8, truncating) replayed over ts2's hourly grid.
    * Output: (event_type, hus, ewma8). */
  private def ewmaTwin(ts2: DataFrame): DataFrame = ts2
    .select(col("event_type"), col("hour").cast("timestamp").as("hour"),
      col("x"))
    .groupBy("event_type")
    .agg(sort_array(collect_list(struct(col("hour"), col("x")))).as("s"))
    .select(col("event_type"), explode(expr(
      """aggregate(s,
        |  cast(array() as array<struct<hour:timestamp,x:bigint,ewma8:bigint>>),
        |  (acc, e) -> array_append(acc, named_struct(
        |    'hour', e.hour, 'x', e.x,
        |    'ewma8', if(size(acc) = 0, e.x,
        |      (e.x + 7 * element_at(acc, -1).ewma8) div 8))))""".stripMargin))
      .as("r"))
    .select(col("event_type"), unix_micros(col("r.hour")).as("hus"),
      col("r.ewma8").as("ewma8"))

  /** Run a streaming frame to completion (file source, AvailableNow, one
    * file per micro-batch) into a memory sink; returns (result, secs). */
  private def runStream(spark: SparkSession, df: DataFrame,
      name: String): (DataFrame, Double) = {
    val t0 = System.nanoTime()
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    (spark.table(name), (System.nanoTime() - t0) / 1e9)
  }

  /** Row-level symmetric difference under multiset semantics. */
  private def diff(op: String, twin: String, s: DataFrame, b: DataFrame,
      secs: Double): Row = {
    val cols: Seq[Column] = s.columns.sorted.toSeq.map(col)
    val ss = s.select(cols: _*)
    val bb = b.select(cols: _*)
    Row(op, twin, ss.count(), bb.count(),
      ss.exceptAll(bb).count() + bb.exceptAll(ss).count(), secs)
  }

  /** Write `df` as ONE file at `dest` with a pinned modification time
    * (the file source replays files oldest-modtime-first). */
  private def writeOneFile(df: DataFrame, fmt: String, dest: Path,
      modTime: Long): Unit = {
    val tmp = Files.createTempDirectory("sp_chunk").toString
    fmt match {
      case "parquet" => df.coalesce(1).write.mode("overwrite").parquet(tmp)
      case "text"    => df.coalesce(1).write.mode("overwrite").text(tmp)
    }
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-"))
      .getOrElse(sys.error(s"no part file written under $tmp"))
    Files.createDirectories(dest.getParent)
    Files.move(part.toPath, dest)
    dest.toFile.setLastModified(modTime)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  private def render(outMd: String, sfDir: String, rows: Seq[Row]): Unit = {
    val sb = new StringBuilder
    sb.append("# STREAM_PARITY — streaming plane vs the batch oracle\n\n")
    sb.append(s"Generated by `graft.StreamParity` over `$sfDir` " +
      s"(${java.time.LocalDate.now()}).\n\n")
    sb.append(
      """Every streaming operator is driven as a REAL Structured Streaming run —
        |file source over time-range chunk files (ascending modification times,
        |one file per micro-batch, watermarks live, two far-future sentinel
        |files proving closure happens through the watermark path) — and its
        |final output compared row-for-row (multiset `exceptAll`, both
        |directions) against the oracle-green batch twin computed directly by
        |`SparkEntry.queries`. The CorpusGate rows compare the STREAMED store
        |against a batch backfill replaying the identical files through
        |`curateBatch` — batch-for-batch, including the funnel stats.
        |
        |Three sections share the table: plain rows replay the chunks IN
        |ORDER (the ascending-block-height arrival the lake consumer sees
        |in production); `ooo.` rows replay the SAME chunks pair-swapped
        |(arrival 1,0,3,2,…) with the watermark delay sized to cover the
        |induced two-chunk event-time regression — the claim that every
        |watermark-tolerant operator is arrival-order invariant within its
        |lateness horizon; the `late.` row holds a slice of the earliest
        |chunk back until the watermark has provably passed it and asserts
        |the result equals the batch twin WITHOUT the held-back rows (the
        |beyond-horizon DROP contract, measured at sf0.1). The `resume.`
        |row drives a DURABLE sink (parquet + checkpoint), kills the query
        |mid-run at a wall-clock cut, restarts it from the checkpoint, and
        |asserts the final sink still equals the batch twin — no batch
        |lost, none doubled, wherever the cut landed (exactly-once through
        |restart; the cut batch is recorded in the row label).
        |
        |`silver.*` rows are the INGEST plane at bench scale: 20,000
        |synthetic NEAR-Lake blocks driven once through the production
        |streaming path (LakeSource → 500-block micro-batches → gated LWW
        |entity merges, checkpointed) and once as ONE mega-batch backfill
        |(the reference's spot path, tasks.py:114-126), every silver table
        |compared row-for-row — ingest-seq LWW arbitration makes per-batch
        |merge order invisible in the final store.
        |""".stripMargin)
    sb.append("\n| operator | batch twin | stream rows | batch rows | diff | identical | stream wall s |\n")
    sb.append("|---|---|---|---|---|---|---|\n")
    rows.foreach { r =>
      sb.append(s"| ${r.op} | ${r.twin} | ${r.streamRows} | ${r.batchRows} " +
        s"| ${r.diffRows} | ${if (r.ok) "YES" else "**NO**"} " +
        s"| ${if (r.secs == 0.0) "—" else f"${r.secs}%.1f"} |\n")
    }
    sb.append(
      """
        |Notes:
        |
        |- `sessionWindowCounts` runs with gap = 24h + 1 µs: the built-in
        |  `session_window` merges on strict `< gap` while the batch
        |  sessionization splits on strict `> 24 h`; the one-microsecond pad
        |  aligns the boundary case exactly.
        |- `streamHourlyAnomaly`'s per-event cents use the same
        |  `BigDecimal.valueOf → HALF_UP(2)` rounding as the batch
        |  `double → DECIMAL(18,2)` cast, so hourly totals are bit-identical.
        |- `streamNearestEnrich` is the streaming form of the q_j6 contract
        |  (nearest |Δt| within ±24 h, ties by right id): a watermarked
        |  stream-stream interval join chained into a per-transaction min_by —
        |  two stateful operators, append mode, exactly-once emission.
        |- `streamAsOfEnrich` is the at-or-before variant (latest price with
        |  `price_ts <= ts` inside the 24 h lookback): a watermarked interval
        |  join chained into a per-transaction `max_by(price_usd, price_ts)`.
        |  No (token, ts) price ties exist in the replay, so the pick is
        |  deterministic on both planes.
        |- `trendingTerms` runs with capacity 16 ≥ the 5 distinct event types,
        |  so the Misra-Gries summary is exact and the parity claim is that the
        |  INCREMENTAL per-batch sketch merges land on the identical
        |  (count desc, term) summary the one-shot batch aggregate produces.
        |- `dedupWithinWatermark` runs with the 60-day horizon covering the
        |  whole 30-day replay, so within-watermark semantics coincide with a
        |  global dedup; the compared set is the emitted KEY multiset (exactly
        |  one row per (user_id, event_type), no key re-emitted across
        |  batches). Which physical row survives among same-batch arrivals is
        |  runtime-order-dependent by the operator's contract.
        |- `sessionize` (the custom state machine) is deliberately absent
        |  from the `ooo.` section: its cross-batch contract is the in-order
        |  arrival production provides (ascending block heights); disorder
        |  WITHIN a batch it sorts, which the in-order rows exercise. The
        |  built-in `sessionWindowCounts` is order-invariant and runs in
        |  both sections.
        |- CorpusGate is order-DEPENDENT by design (batch boundaries decide
        |  near-dup suppression), so it has no `ooo.` row.
        |- CorpusGate stream-vs-backfill is the honest parity claim for the
        |  gate: its corpus-vs-batch near-dup decisions depend on batch
        |  BOUNDARIES by design (a document admitted in batch N suppresses
        |  near-dups in batch N+1 but not vice versa), so only runs with the
        |  same batch partitioning are comparable — and they must then be
        |  byte-identical, which is what this asserts.
        |""".stripMargin)
    Files.write(Paths.get(outMd), sb.toString.getBytes("UTF-8"))
    println(s"[stream-parity] wrote $outMd")
  }
}
