package graft.gold

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.ingest.{Schemas, SilverStore}
import graft.operators.MergeWriter

/** The gold-layer refresh job — operational equivalent of the reference's
  * 5-minute Celery beat (base/celery.py:27-49): USD enrichment,
  * account/pot stats and global stats derived from silver.
  *
  * Two modes behind one entry point ([[refresh]] dispatches):
  *
  *  - [[refreshFull]] (full rebuild): recompute everything from silver.
  *    The bootstrap path, and the fallback whenever incremental
  *    preconditions fail (missing state, token-metadata change, flat
  *    layouts). Its first mutation invalidates the gold meta, so a crash
  *    anywhere inside it re-runs full — never a resume into incremental
  *    over half-rebuilt state.
  *
  *  - [[refreshIncremental]]: the 100 TB path. The merge writers journal
  *    which date partitions / buckets each batch touched
  *    (MergeWriter.readDirty); the refresh re-enriches ONLY those date
  *    partitions, diffs old-vs-new enriched rows into ±1-weighted delta
  *    aggregates, and folds the deltas into STANDING mergeable state
  *    tables (MergeWriter.mergeAdditiveBucketed — the q_inc1 partial-agg
  *    discipline made durable). Final stats tables are then rebuilt only
  *    for the affected keys and LWW-merged bucket-scoped into the gold
  *    tables. Per refresh, cost scales with the batch's partition/key
  *    span — never the corpus (the reference's beat job recomputes per
  *    account in Python; a full recompute at 100 TB is unaffordable).
  *
  * Exactness: every stat is built from mergeable monoids — long counts,
  * fixed-scale decimal sums (associative, no rounding), and distinct
  * counts carried as pair/key STATE rows (distinct-donor count per
  * recipient = pair-row count, an exact monoid where countDistinct is
  * not). Incremental output is bit-identical to a full rebuild at the
  * same inputs — GoldSpec pins it across multi-batch ingests, including
  * late price arrivals and account-only batches.
  *
  * Crash safety (the swap protocol's discipline extended to a
  * multi-table update): delta aggregates are STAGED to disk before any
  * mutation; every state/final table update is fenced by a generation
  * marker; a crashed refresh resumes from the staged deltas and skips
  * already-applied steps, so additive state is applied exactly once.
  *
  * Contracts (documented, reference-matched): price history rows are
  * LWW-merged observations (tokens/models.py's historical price cache) —
  * a price arrival/update is diffed against a standing `prices_seen`
  * snapshot and re-enriches every date partition within the as-of ±24h
  * reach of the delta (so a closer late price corrects already-priced
  * donations, not just null ones); token-decimals changes are rare
  * metadata loads and take the full-rebuild path; payouts are a
  * pot-scale table and their stats leg recomputes whole (cheap at any
  * corpus size).
  */
object GoldRefresh {

  /** sum(Usd(20,2)) per Spark's decimal widening — finals must carry the
    * exact types the one-shot Stats.* aggregations produce. */
  private val UsdSum = DecimalType(30, 2)
  private val DecSum = DecimalType(38, 0)

  case class Report(mode: String, generation: Long, reEnriched: Int,
      affectedIds: Long)

  // ------------------------------------------------------------------ IO
  private def io = MergeWriter.io
  private def uidOf(path: String): String =
    io.readString(MergeWriter.swapMarkerPath(path)).getOrElse("")

  /** Order-independent multiset signature: count + exact sum + xor of
    * the row hashes. Plain xor alone cancels rows with even multiplicity
    * (a duplicated observation would hide a real change); the sum leg is
    * multiplicity-sensitive (DECIMAL(38,0) — exact, no ANSI long
    * overflow) and the count leg pins cardinality. One scan of a
    * dimension-scale table per refresh. */
  private def multisetSig(df: DataFrame, hashExpr: String): String = {
    val r = df.selectExpr(
      "count(*) AS c",
      s"coalesce(sum(cast($hashExpr AS DECIMAL(38,0))), 0) AS s",
      s"coalesce(bit_xor($hashExpr), 0L) AS x").head()
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}:${r.getLong(2)}"
  }

  /** Content signature of what enrichment DEPENDS on in the tokens
    * dimension — the (account, decimals) pairs. The table's swap uid
    * rotates on every LWW merge, including per-batch stub merges that
    * change nothing, and a spurious "tokens changed" would force a full
    * rebuild per batch; the signature moves only when a decimals mapping
    * actually moves. */
  private def tokensSig(tokens: DataFrame): String =
    multisetSig(tokens, "xxhash64(account, decimals)")

  /** Same content-signature treatment for the price history: the table is
    * loaded by writers that don't maintain swap markers (plain parquet
    * overwrites from the price backfill), so a marker uid would read as
    * "" and force pricesChanged on every refresh forever. */
  private def pricesSig(prices: DataFrame): String =
    multisetSig(prices, "xxhash64(token, timestamp, price_usd)")

  private final case class Meta(generation: Long, uids: Map[String, String]) {
    def render: String =
      (Seq(s"generation=$generation") ++
        uids.toSeq.sorted.map { case (k, v) => s"uid.$k=$v" }).mkString("\n")
  }

  private def metaPath(silverDir: String) = s"$silverDir/gold_meta"

  private def readMeta(silverDir: String): Option[Meta] =
    io.readString(metaPath(silverDir)).map { txt =>
      val kv = txt.split('\n').flatMap { l =>
        val i = l.indexOf('=')
        if (i < 0) None else Some(l.take(i) -> l.drop(i + 1))
      }.toMap
      Meta(kv.getOrElse("generation", "0").toLong,
        kv.collect { case (k, v) if k.startsWith("uid.") => k.drop(4) -> v })
    }

  private def tablePaths(silverDir: String): Map[String, String] = Map(
    "donations" -> s"$silverDir/donations",
    "token_prices" -> s"$silverDir/token_prices",
    "tokens" -> s"$silverDir/tokens",
    "accounts" -> s"$silverDir/accounts",
    "pot_payouts" -> s"$silverDir/pot_payouts")

  private[gold] def stateDir(silverDir: String) = s"$silverDir/gold_state"

  /** The input-table fingerprint the LAST refresh consumed (swap-marker
    * uid for marker-stamped tables, content signature for tokens/prices)
    * — None before any refresh. Read-side consumers (gold.GoldCounts)
    * compare it against the table's CURRENT uid to decide whether gold
    * counters are exactly current with silver. */
  def inputUid(silverDir: String, table: String): Option[String] =
    readMeta(silverDir).flatMap(_.uids.get(table))

  /** Meta generation as a read-side fence token: bumped by every
    * completed refresh, absent mid-full-rebuild (the meta delete is the
    * rebuild's first mutation). GoldCounts reads it before AND after a
    * counter lookup — equality proves no refresh completed inside the
    * read window. */
  def metaGeneration(silverDir: String): Option[Long] =
    readMeta(silverDir).map(_.generation)

  /** Refresh-in-flight marker: present from the first LIVE mutation of
    * any refresh (full or incremental apply phase) until its commit.
    * Serve-plane exact-count reads (GoldCounts) decline while it exists
    * — a price- or payout-triggered refresh rewrites the counter states
    * and global_stats WITHOUT rotating the donations marker, so uid
    * currency alone cannot see that commit window. A crash leaves the
    * marker standing: counts stay declined (live-count fallback) until
    * the next successful refresh clears it — degraded, never wrong. */
  private[gold] def inflightPath(silverDir: String) = s"$silverDir/gold_inflight"
  def refreshInFlight(silverDir: String): Boolean =
    io.exists(inflightPath(silverDir))
  private def markInflight(silverDir: String): Unit =
    io.writeStringAtomic(inflightPath(silverDir),
      java.util.UUID.randomUUID().toString.take(8))
  private def clearInflight(silverDir: String): Unit =
    io.deleteRecursively(inflightPath(silverDir))

  /** Generation fence for a state/final table: `<table>.goldgen` holds
    * "gen|rowsBefore|rowsAfter|distinctBefore|distinctAfter" after the
    * table absorbed generation `gen` — a resumed refresh skips the merge
    * and reuses the recorded counter deltas. */
  private def genPath(table: String) = table + ".goldgen"
  private def readGen(table: String): Option[(Long, MergeWriter.AdditiveMergeStats)] =
    io.readString(genPath(table)).flatMap { s =>
      s.split('|') match {
        case Array(g, a, b, c, d) => Some((g.toLong,
          MergeWriter.AdditiveMergeStats(a.toLong, b.toLong, c.toLong, d.toLong)))
        case _ => None
      }
    }
  private def writeGen(table: String, gen: Long,
      st: MergeWriter.AdditiveMergeStats): Unit =
    io.writeStringAtomic(genPath(table),
      s"$gen|${st.rowsBefore}|${st.rowsAfter}|${st.distinctBefore}|${st.distinctAfter}")

  // ------------------------------------------------- delta construction
  /** Null-preserving signed sum over ±1-weighted facts: null when no
    * non-null contribution exists on either side (so an all-null state
    * stays null, matching the one-shot aggregate), else the exact
    * pos − neg difference cast to the state's declared type. */
  private def signedSum(c: Column, t: DecimalType): Column = {
    val pos = sum(when(col("__w") === 1, c))
    val neg = sum(when(col("__w") === -1, c))
    when(pos.isNull && neg.isNull, lit(null).cast(t))
      .otherwise((coalesce(pos, lit(0)) - coalesce(neg, lit(0))).cast(t))
  }
  private def signedCount(filter: Column): Column =
    coalesce(sum(when(filter, col("__w"))), lit(0L)).cast(LongType)

  /** Drop additive-identity delta rows (every counter 0, every sum 0 or
    * null): an incremental re-enrichment diffs a WHOLE partition old-vs-
    * new, so unchanged keys cancel to identity rows that would otherwise
    * ride through the state merges and inflate the affected-id set to
    * partition size — the stats leg must track the NET change, not the
    * touched partitions' population. A zero row is a no-op by the
    * additive monoid's definition, so dropping it is exact. */
  private def dropIdentity(df: DataFrame, counters: Seq[String],
      sums: Seq[String]): DataFrame =
    df.filter(
      counters.map(c => col(c) =!= 0L)
        .++(sums.map(s => coalesce(col(s), lit(0)) =!= 0))
        .reduce(_ || _))

  private def recvDelta(facts: DataFrame): DataFrame = dropIdentity(facts
    .groupBy(col("recipient"), col("donor"))
    .agg(signedCount(lit(true)).as("n"),
      signedSum(col("total_amount_usd"), UsdSum).as("usd"))
    .select("recipient", "donor", "n", "usd"),
    counters = Seq("n"), sums = Seq("usd"))

  private def donorDelta(facts: DataFrame): DataFrame = dropIdentity(facts
    .groupBy(col("donor"))
    .agg(signedCount(lit(true)).as("n"),
      signedSum(col("total_amount_usd"), UsdSum).as("usd"),
      signedCount(col("matching_pool")).as("mn"),
      signedSum(when(col("matching_pool"), col("total_amount_usd")), UsdSum)
        .as("musd"))
    .select("donor", "n", "usd", "mn", "musd"),
    counters = Seq("n", "mn"), sums = Seq("usd", "musd"))

  private def potDelta(facts: DataFrame): DataFrame = dropIdentity(facts
    .filter(col("pot").isNotNull)
    .groupBy(col("pot"))
    .agg(signedCount(lit(true)).as("n"),
      signedSum(when(col("matching_pool"), col("total_amount_dec")), DecSum)
        .as("total_matching_pool_dec"),
      signedSum(when(col("matching_pool"), col("total_amount_usd")), UsdSum)
        .as("total_matching_pool_usd"),
      signedCount(col("matching_pool")).as("matching_pool_donations_count"),
      signedSum(when(!col("matching_pool"), col("total_amount_dec")), DecSum)
        .as("total_public_donations_dec"),
      signedSum(when(!col("matching_pool"), col("total_amount_usd")), UsdSum)
        .as("total_public_donations_usd"),
      signedCount(!col("matching_pool")).as("public_donations_count"))
    .select("pot", "n", "total_matching_pool_dec", "total_matching_pool_usd",
      "matching_pool_donations_count", "total_public_donations_dec",
      "total_public_donations_usd", "public_donations_count"),
    counters = Seq("n", "matching_pool_donations_count",
      "public_donations_count"),
    sums = Seq("total_matching_pool_dec", "total_matching_pool_usd",
      "total_public_donations_dec", "total_public_donations_usd"))

  // ------------------------------------------------------ state merges
  private def applyStates(spark: SparkSession, silverDir: String, gen: Long,
      staging: String): Map[String, MergeWriter.AdditiveMergeStats] = {
    val sd = stateDir(silverDir)
    val (bcol, buckets) = SilverStore.bucketSpec("accounts")
    require(bcol == "id") // states co-bucket with the accounts dimension
    def one(name: String, keys: Seq[String], addCols: Seq[String],
        bucketCol: String, distinctCol: String): (String, MergeWriter.AdditiveMergeStats) = {
      val table = s"$sd/$name"
      val token = s"gen$gen"
      readGen(table) match {
        case Some((g, st)) if g == gen => // already applied + fenced
          MergeWriter.clearApplyManifest(table, token)
          name -> st
        case _ =>
          // Two-phase apply: a crash between the merge and the gen fence
          // leaves the staged post-state manifest, and the resumed call
          // RE-COMMITS it instead of re-deriving the merge (which would
          // fold the delta in twice).
          val delta = spark.read.parquet(s"$staging/${name}_delta")
          val st = MergeWriter.applyAdditiveBucketed(spark, delta, table,
            keys, addCols, liveCol = "n", bucketCol, buckets, distinctCol,
            token)
          writeGen(table, gen, st)
          MergeWriter.clearApplyManifest(table, token)
          name -> st
      }
    }
    // The three state applies touch disjoint tables and are individually
    // two-phase crash-resumable, so they run CONCURRENTLY (SilverStore's
    // merge-pool discipline): the beat's state leg costs the slowest
    // merge, not the sum. A crash leaves a per-table mix of fenced /
    // staged / untouched — the resume's per-table dispatch above handles
    // each independently.
    val specs = Seq(
      ("recv_pairs", Seq("recipient", "donor"), Seq("n", "usd"),
        "recipient", "recipient"),
      ("donor_state", Seq("donor"), Seq("n", "usd", "mn", "musd"),
        "donor", "donor"),
      ("pot_state", Seq("pot"),
        Seq("n", "total_matching_pool_dec", "total_matching_pool_usd",
          "matching_pool_donations_count", "total_public_donations_dec",
          "total_public_donations_usd", "public_donations_count"),
        "pot", "pot"))
    concurrently(specs.map { case (n, k, a, b, d) =>
      () => one(n, k, a, b, d) }).toMap
  }

  /** Run independent refresh legs concurrently with settle-all semantics:
    * EVERY future settles before a failure propagates — fail-fast (or a
    * timeout rethrow) would hand control back to a retry or the
    * crash-resume path while a sibling is still mid-commit on its table,
    * and the resumed run would then race that live commit on the same
    * staged files. The await is UNBOUNDED for the same reason (only a
    * truly hung storage call blocks — and then blocking beats racing);
    * secondary failures ride along as suppressed. Legs must touch
    * DISJOINT tables/paths and be individually crash-idempotent. */
  private def concurrently[T](legs: Seq[() => T]): Seq[T] = {
    if (legs.sizeIs <= 1) return legs.map(_.apply())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(legs.size)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val settled = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(legs.map(l =>
          scala.concurrent.Future(l()).transform(t => scala.util.Success(t)))),
        scala.concurrent.duration.Duration.Inf)
      val failures = settled.collect { case scala.util.Failure(e) => e }
      failures.headOption.foreach { e =>
        failures.drop(1).foreach(e.addSuppressed)
        throw e
      }
      settled.map(_.get)
    } finally pool.shutdown()
  }

  // ---------------------------------------------- finals (from states)
  /** Bucket-file-pruned slice of a bucketed state table: reads only the
    * bucket files the (small) key set hashes into, then semi-joins. On a
    * flat/missing table, plain read (bootstrap-scale only). */
  private def stateSlice(spark: SparkSession, path: String, idCol: String,
      ids: DataFrame, buckets: Int, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val base: DataFrame =
      if (!io.exists(path))
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else if (!graft.operators.BucketedLayout.looksBucketed(path))
        spark.read.schema(schema).parquet(path)
      else {
        // `ids` is a one-column key frame whose column name varies by
        // caller ("id"); rename to idCol before hashing (same rename the
        // semi-join below does) — bucketIdExpr resolves idCol by name.
        val bucketIds = ids
          .select(col(ids.columns.head).as(idCol))
          .select(MergeWriter.bucketIdExpr(idCol, buckets).as("__b"))
          .distinct().collect().map(_.getInt(0)).toSet
        val files = io.fileSizes(path).map(_._1)
          .filter(f => MergeWriter.bucketIdOfFile(f).exists(bucketIds.contains))
        if (files.isEmpty)
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        else spark.read.schema(schema).parquet(files.map(f => s"$path/$f"): _*)
      }
    base.join(broadcast(ids.select(col(ids.columns.head).as(idCol)).distinct()),
      Seq(idCol), "left_semi")
  }

  private def recvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("recipient", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("donor", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n", LongType),
    org.apache.spark.sql.types.StructField("usd", UsdSum)))
  private def donorSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("donor", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n", LongType),
    org.apache.spark.sql.types.StructField("usd", UsdSum),
    org.apache.spark.sql.types.StructField("mn", LongType),
    org.apache.spark.sql.types.StructField("musd", UsdSum)))

  /** account_stats rows for exactly `ids` (one column `id`), rebuilt from
    * the standing states — the same outer-join shape as Stats.accountStats
    * but over state rows instead of raw facts. */
  private def accountRowsFor(spark: SparkSession, silverDir: String,
      ids: DataFrame, gen: Long): DataFrame = {
    val sd = stateDir(silverDir)
    val (_, buckets) = SilverStore.bucketSpec("accounts")
    val recv = stateSlice(spark, s"$sd/recv_pairs", "recipient", ids, buckets,
      recvSchema)
      .groupBy(col("recipient").as("id"))
      .agg(count(col("donor")).as("donors_count"),
        sum(col("usd")).cast(UsdSum).as("total_donations_in_usd"))
    val donor = stateSlice(spark, s"$sd/donor_state", "donor", ids, buckets,
      donorSchema)
    val sent = donor.select(col("donor").as("id"),
      col("usd").as("total_donations_out_usd"))
    val matched = donor.filter(col("mn") > 0).select(col("donor").as("id"),
      col("musd").as("total_matching_pool_allocations_usd"))
    val paid = paidState(spark, silverDir)
      .join(broadcast(ids.select(col(ids.columns.head).as("id")).distinct()),
        Seq("id"), "left_semi")
    ids.select(col(ids.columns.head).as("id")).distinct()
      .join(recv, Seq("id"), "left")
      .join(sent, Seq("id"), "left")
      .join(matched, Seq("id"), "left")
      .join(paid, Seq("id"), "left")
      .na.fill(0, Seq("donors_count"))
      .withColumn("__gen", lit(gen))
  }

  private def paidStatePath(silverDir: String) = s"${stateDir(silverDir)}/paid"
  private def pricesSeenPath(silverDir: String) =
    s"${stateDir(silverDir)}/prices_seen"

  /** Swap a fully-built bucketed table (dir + counts/marker sidecars +
    * dirty journal) from its `.tmp-<uid>` name to the live name. The dir
    * rename is the atomic visibility flip; sidecar moves follow (readers
    * validate the counts sidecar's uid against the swap marker, so a torn
    * sidecar window degrades to a heal scan, never to wrong data). */
  private def swapTableWithSidecars(tmpBase: String, path: String): Unit = {
    val uid = tmpBase.substring(tmpBase.lastIndexOf("-") + 1)
    val old = s"$path.old-$uid"
    if (io.exists(path)) io.atomicMove(path, old)
    io.atomicMove(tmpBase, path)
    Seq(".counts.json", ".swapuid").foreach { s =>
      if (io.exists(s"$path$s")) io.deleteRecursively(s"$path$s")
      if (io.exists(s"$tmpBase$s")) io.atomicMove(s"$tmpBase$s", s"$path$s")
    }
    MergeWriter.clearDirty(path)
    if (io.exists(MergeWriter.dirtyDir(tmpBase)))
      io.atomicMove(MergeWriter.dirtyDir(tmpBase), MergeWriter.dirtyDir(path))
    io.deleteRecursively(old)
  }
  private def paidState(spark: SparkSession, silverDir: String): DataFrame = {
    val p = paidStatePath(silverDir)
    if (io.exists(p)) spark.read.parquet(p)
    else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("total_payouts_received_usd", UsdSum))))
  }
  private def computePaid(payouts: DataFrame): DataFrame = payouts
    .filter(col("paid_at").isNotNull)
    .groupBy(col("recipient").as("id"))
    .agg(sum(col("amount_paid_usd")).cast(UsdSum)
      .as("total_payouts_received_usd"))

  private def potStatsFromState(spark: SparkSession, silverDir: String): DataFrame =
    spark.read.parquet(s"${stateDir(silverDir)}/pot_state")
      .select(col("pot"), col("total_matching_pool_dec"),
        col("total_matching_pool_usd"), col("matching_pool_donations_count"),
        col("total_public_donations_dec"), col("total_public_donations_usd"),
        col("public_donations_count"))

  // ----------------------------------------------------------- dispatch
  /** The production entry point (the reference's 5-minute beat):
    * incremental whenever standing state exists; [[refreshIncremental]]
    * itself falls back to a full rebuild on missing meta/state/layout or
    * a token-metadata change, so this is safe to call unconditionally. */
  def refresh(spark: SparkSession, silverDir: String): Report =
    refreshIncremental(spark, silverDir)

  /** Explicit full recompute: enrichment over all of silver, states
    * rebuilt from the enriched facts, finals from states. The bootstrap
    * path, the `--full` operational override, and the incremental
    * fallback. */
  def refreshFull(spark: SparkSession, silverDir: String): Report =
    fullRebuild(spark, silverDir)

  private def fullRebuild(spark: SparkSession, silverDir: String): Report = {
    val silver = new SilverStore(spark, silverDir)
    def tableOrEmpty(name: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
      if (silver.exists(name)) silver.table(name)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

    val paths = tablePaths(silverDir)
    // Input uids snapshotted BEFORE reading (single-writer per table, as
    // the merges assume; a concurrent batch would re-dirty its partitions
    // and the next refresh absorbs it). The tokens entry is a CONTENT
    // signature, not the swap uid — see tokensSig.
    val uids0 = paths.map { case (k, p) => k -> uidOf(p) }
    val dirtySnapshot = MergeWriter.snapshotDirty(paths("donations"))
    val dirtyAcctSnapshot = MergeWriter.snapshotDirty(paths("accounts"))

    // Generation read BEFORE the fence below deletes the meta.
    val gen = readMeta(silverDir).map(_.generation).getOrElse(0L) + 1L

    // In-progress fence — FIRST mutation: a full rebuild tears standing
    // state down in place, so a crash anywhere inside it must send the
    // next run back HERE, never into refreshIncremental over half-rebuilt
    // state (deltas would compute against a re-swapped enriched table and
    // silently drop every untouched account's stats row). Invalidating
    // the meta before any other write makes that dispatch automatic.
    // The inflight marker goes down first: serve-plane exact-count reads
    // (GoldCounts) must decline for the whole rebuild window.
    markInflight(silverDir)
    if (io.exists(metaPath(silverDir)))
      io.deleteRecursively(metaPath(silverDir))

    val payouts = tableOrEmpty("pot_payouts", Schemas.potPayout)
    val tokens = tableOrEmpty("tokens", Schemas.token)
    val prices = tableOrEmpty("token_prices", Schemas.tokenHistoricalPrice)
    val uids = uids0 ++ Map("tokens" -> tokensSig(tokens),
      "token_prices" -> pricesSig(prices))

    // Raw read keeps the physical __pdate partition column (hidden by
    // silver.table) so the enriched table inherits the date layout the
    // incremental path swaps partition-by-partition.
    val donations0: DataFrame =
      if (silver.exists("donations")) spark.read.parquet(paths("donations"))
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schemas.donation)

    val enrichedPlan =
      if (prices.isEmpty) donations0
      else Stats.enrichDonationsUsd(donations0, prices, tokens)
    val enrichedPath = s"$silverDir/donations_enriched"
    val partitioned = donations0.columns.contains("__pdate")
    if (partitioned) {
      val (srcBytes, srcDates) = dirBytesAndDates(paths("donations"))
      writePartitioned(enrichedPlan, enrichedPath,
        clusterGroups(srcBytes, srcDates))
    } else write(enrichedPlan, enrichedPath)
    val enriched = spark.read.parquet(enrichedPath)

    // States from scratch: one +1-weighted pass through the additive
    // merge's bootstrap path (fresh dirs), so full and incremental share
    // every aggregation expression.
    val sd = stateDir(silverDir)
    val facts = enriched.withColumn("__w", lit(1))
    Seq("recv_pairs", "donor_state", "pot_state", "paid", "prices_seen")
      .foreach { n =>
        io.deleteRecursively(s"$sd/$n")
        Seq(".goldgen", ".counts.json", ".swapuid", ".dirty", ".dirty.d")
          .foreach { s =>
            if (io.exists(s"$sd/$n$s")) io.deleteRecursively(s"$sd/$n$s") }
      }
    // Stranded incremental artifacts (apply manifests, tmp/aside dirs,
    // delta staging) from a crashed run this rebuild supersedes.
    io.listDir(sd).collect {
      case (n, _) if n.contains(".apply-") || n.contains(".tmp-") ||
        n.contains(".old-") || n.startsWith("delta_gen_") => n
    }.foreach(n => io.deleteRecursively(s"$sd/$n"))
    // Final-table generation fences are per-incremental-run resume state;
    // a full rebuild starts a fresh fence history.
    Seq("account_stats", "pot_stats", "global_stats").foreach { n =>
      if (io.exists(s"$silverDir/$n.goldgen"))
        io.deleteRecursively(s"$silverDir/$n.goldgen") }
    io.createDirectories(sd)
    val (_, buckets) = SilverStore.bucketSpec("accounts")
    // The five state legs are INDEPENDENT (disjoint state dirs, disjoint
    // aggregations of the same on-disk enriched table) — run them
    // concurrently so the rebuild pays the slowest leg, not the sum,
    // exactly as the incremental path already stages its deltas (r16,
    // guide §2.6 overlap independent jobs). Each leg stamps its own
    // generation fence, as before.
    val Seq(stRecvA, stDonorA, _, _, _) =
      concurrently[AnyRef](Seq(
        () => {
          val st = MergeWriter.mergeAdditiveBucketed(spark, recvDelta(facts),
            s"$sd/recv_pairs", Seq("recipient", "donor"), Seq("n", "usd"), "n",
            "recipient", buckets, "recipient")
          writeGen(s"$sd/recv_pairs", gen, st)
          st
        },
        () => {
          val st = MergeWriter.mergeAdditiveBucketed(spark, donorDelta(facts),
            s"$sd/donor_state", Seq("donor"), Seq("n", "usd", "mn", "musd"), "n",
            "donor", buckets, "donor")
          writeGen(s"$sd/donor_state", gen, st)
          st
        },
        () => {
          val st = MergeWriter.mergeAdditiveBucketed(spark, potDelta(facts),
            s"$sd/pot_state", Seq("pot"),
            Seq("n", "total_matching_pool_dec", "total_matching_pool_usd",
              "matching_pool_donations_count", "total_public_donations_dec",
              "total_public_donations_usd", "public_donations_count"), "n",
            "pot", buckets, "pot")
          writeGen(s"$sd/pot_state", gen, st)
          st
        },
        () => { write(computePaid(payouts), paidStatePath(silverDir)); null },
        // Price snapshot for the incremental path's overlap re-enrichment:
        // the next refresh diffs current prices against this to find NEW
        // (or LWW-updated) price observations and re-enriches only the
        // date partitions within the as-of ±24h reach of them.
        () => {
          write(prices.select(col("token"), col("timestamp"), col("price_usd")),
            pricesSeenPath(silverDir)); null
        }))
    val stRecv = stRecvA.asInstanceOf[MergeWriter.AdditiveMergeStats]
    val stDonor = stDonorA.asInstanceOf[MergeWriter.AdditiveMergeStats]

    // Finals. account_stats is rebuilt whole (all account ids) through
    // the SAME row constructor the incremental path uses, built in a tmp
    // table (full bucketed layout + sidecars via the merge path's
    // bootstrap) and swapped in — readers keep the previous stats for the
    // whole rebuild and flip in one rename (a delete-then-merge leaves
    // account_stats absent while the rebuild runs).
    val accounts = tableOrEmpty("accounts", Schemas.account)
    val statsPath = s"$silverDir/account_stats"
    io.listDir(silverDir).collect {
      case (n, _) if n.startsWith("account_stats.tmp-") ||
        n.startsWith("account_stats.old-") => n
    }.foreach(n => io.deleteRecursively(s"$silverDir/$n"))
    val allRows = accountRowsFor(spark, silverDir, accounts.select("id"), gen)
    val (statKey, statBuckets) = SilverStore.bucketSpec("accounts")
    val statsTmp = s"$statsPath.tmp-${java.util.UUID.randomUUID().toString.take(8)}"
    MergeWriter.mergeBucketed(spark, allRows, statsTmp, Seq("id"),
      Seq("__gen"), statKey, statBuckets, coalesceUpdates = false): Unit
    swapTableWithSidecars(statsTmp, statsPath)
    write(potStatsFromState(spark, silverDir), s"$silverDir/pot_stats")

    // Global stats from the state merges' exact counters + payout leg.
    val payoutsUsd = payouts.filter(col("paid_at").isNotNull)
      .agg(sum(col("amount_paid_usd")).cast(UsdSum).as("v")).head().getDecimal(0)
    val totals = facts.agg(
      count(lit(1)).as("c"),
      sum(col("total_amount_usd")).cast(UsdSum).as("u")).head()
    writeGlobal(spark, silverDir, totals.getLong(0),
      Option(totals.getDecimal(1)),
      stDonor.distinctAfter, stRecv.distinctAfter, Option(payoutsUsd))

    io.writeStringAtomic(metaPath(silverDir), Meta(gen, uids).render)
    MergeWriter.consumeDirty(paths("donations"), dirtySnapshot)
    MergeWriter.consumeDirty(paths("accounts"), dirtyAcctSnapshot)
    clearInflight(silverDir)
    Report("full", gen, -1, -1L)
  }

  private def globalRow(spark: SparkSession,
      donationsCount: Long, donationsUsd: Option[java.math.BigDecimal],
      donorsCount: Long, recipientsCount: Long,
      payoutsUsd: Option[java.math.BigDecimal]): DataFrame = {
    import spark.implicits._
    Seq((donationsCount, donationsUsd.orNull, donorsCount,
        recipientsCount, payoutsUsd.orNull))
      .toDF("total_donations_count", "total_donations_usd",
        "total_donors_count", "total_recipients_count", "total_payouts_usd")
      .select(col("total_donations_count"),
        col("total_donations_usd").cast(UsdSum),
        col("total_donors_count"), col("total_recipients_count"),
        col("total_payouts_usd").cast(UsdSum))
  }

  private def writeGlobal(spark: SparkSession, silverDir: String,
      donationsCount: Long, donationsUsd: Option[java.math.BigDecimal],
      donorsCount: Long, recipientsCount: Long,
      payoutsUsd: Option[java.math.BigDecimal]): Unit =
    write(globalRow(spark, donationsCount, donationsUsd, donorsCount,
      recipientsCount, payoutsUsd), s"$silverDir/global_stats")

  // -------------------------------------------------------- incremental
  /** Incremental refresh; falls back to [[refresh]] when preconditions
    * fail (no standing state, token-metadata change, flat layouts). */
  def refreshIncremental(spark: SparkSession, silverDir: String): Report = {
    val paths = tablePaths(silverDir)
    val enrichedPath = s"$silverDir/donations_enriched"
    val sd = stateDir(silverDir)
    val metaOpt = readMeta(silverDir)
    val silver = new SilverStore(spark, silverDir)
    val tokensNow =
      if (silver.exists("tokens")) silver.table("tokens")
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.token)
    val pricesNow =
      if (silver.exists("token_prices")) silver.table("token_prices")
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schemas.tokenHistoricalPrice)
    val uidsNow = paths.map { case (k, p) => k -> uidOf(p) } ++
      Map("tokens" -> tokensSig(tokensNow),
        "token_prices" -> pricesSig(pricesNow))

    def changed(meta: Meta, k: String): Boolean = {
      val prev = meta.uids.getOrElse(k, "")
      val now = uidsNow(k)
      // Signature formats are compared verbatim — a meta written by an
      // older signature scheme reads as "changed" and costs ONE full
      // rebuild on the first post-upgrade refresh. That is the honest
      // price of an upgrade: a format shim can only vouch for metas the
      // same process wrote, and a false "unchanged" here would leave gold
      // silently stale forever (the asymmetric risk).
      prev.isEmpty || now.isEmpty || prev != now
    }

    if (metaOpt.isEmpty) {
      println("GoldRefresh: incremental preconditions failed (no-meta) — full rebuild")
      return fullRebuild(spark, silverDir)
    }
    val meta = metaOpt.get
    val gen = meta.generation + 1L
    val staging = s"$sd/delta_gen_$gen"
    // Stale staging from a run whose commit DID land is impossible
    // (commit deletes it); staging for an older gen means a crash after
    // the meta write — drop it.
    io.listDir(sd).collect {
      case (n, true) if n.startsWith("delta_gen_") &&
        n.stripPrefix("delta_gen_").toLong <= meta.generation => n
    }.foreach(n => io.deleteRecursively(s"$sd/$n"))

    // A standing staging dir for THIS generation means a prior run crashed
    // mid-apply: resume the apply phase purely off the staged manifest.
    // The live-layout precondition probes below are invalid mid-swap (the
    // enriched table's partitions may be in flight), so they run only when
    // a fresh cycle is about to stage.
    val resuming = io.exists(staging)
    if (!resuming) {
      val fallbackReason: Option[String] =
        if (changed(meta, "tokens")) Some("tokens-changed")
        else if (!io.exists(enrichedPath)) Some("no-enriched")
        else if (!io.listDir(enrichedPath).exists { case (n, d) =>
          d && n.startsWith("__pdate=") }) Some("flat-enriched")
        else if (!io.exists(s"$silverDir/account_stats")) Some("no-account-stats")
        else Seq("recv_pairs", "donor_state", "pot_state")
          .find(n => !io.exists(s"$sd/$n")).map(n => s"no-state:$n")
      fallbackReason match {
        case Some(r) =>
          println(s"GoldRefresh: incremental preconditions failed ($r) — full rebuild")
          return fullRebuild(spark, silverDir)
        case None =>
      }
    }

    val dirtySnapshot = MergeWriter.snapshotDirty(paths("donations"))
    val dirtyAcctSnapshot = MergeWriter.snapshotDirty(paths("accounts"))
    val pricesChanged = changed(meta, "token_prices")
    val payoutsChanged = changed(meta, "pot_payouts")
    val accountsChanged = dirtyAcctSnapshot.nonEmpty || changed(meta, "accounts")
    if (!resuming && dirtySnapshot.names.isEmpty && !pricesChanged &&
        !payoutsChanged && !accountsChanged) {
      // A standing inflight marker here can only be residue of a crash
      // between a completed refresh's meta write and its marker clear:
      // inputs matching the meta ⇒ that refresh fully committed (a crash
      // mid-apply leaves its staging dir → resuming; mid-full-rebuild
      // deletes the meta → no-meta dispatch). Clear it so counts recover.
      clearInflight(silverDir)
      return Report("noop", meta.generation, 0, 0L)
    }

    if (!resuming) {
      // ---- stage: enrich touched partitions + persist delta aggregates
      val tmpStage = s"$staging.tmp"
      io.deleteRecursively(tmpStage)
      io.createDirectories(tmpStage)
      val tokens = if (silver.exists("tokens")) silver.table("tokens")
        else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.token)
      // When the price history moved, materialize its snapshot FIRST and
      // use it for both the enrichment and the seen diff — a price row
      // merging mid-staging is then either wholly inside this refresh or
      // wholly in the next one (signature mismatch re-detects it), never
      // half-absorbed. When prices are UNCHANGED (the common beat), skip
      // the snapshot round-trip and enrich straight off the live table —
      // the entry signature already pinned its content.
      val prices0 = if (silver.exists("token_prices")) silver.table("token_prices")
        else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.tokenHistoricalPrice)
      val pricesCols = prices0.select(col("token"), col("timestamp"),
        col("price_usd"))
      val prices =
        if (!pricesChanged) pricesCols
        else {
          pricesCols.write.parquet(s"$tmpStage/prices_snapshot")
          spark.read.parquet(s"$tmpStage/prices_snapshot")
        }
      // Price-arrival overlap: a NEW (or LWW-updated) price observation
      // can flip the as-of NEAREST choice for any donation within ±24h of
      // it. A donation at date partition d has timestamps in [d, d+1d),
      // so a price at timestamp t reaches partitions {date(t)-1, date(t),
      // date(t)+1} — re-enrich those that exist, in addition to the
      // batch-dirty ones. Exact, and bounded by the prices DELTA (a
      // dimension-scale diff), never the donations corpus.
      val overlapParts: Set[String] =
        if (!pricesChanged) Set.empty
        else {
          val seen =
            if (io.exists(pricesSeenPath(silverDir)))
              spark.read.parquet(pricesSeenPath(silverDir))
            else prices.limit(0)
          // SYMMETRIC diff: a price row REMOVED or LWW-rewritten by the
          // overwrite flips the as-of choice for its neighborhood just
          // like an added one — additions alone would absorb a deletion
          // (seen advances at commit) without ever re-enriching it.
          val newP = prices.except(seen)
            .unionByName(seen.except(prices))
          val dates = newP.select(to_date(col("timestamp")).as("d"))
            .select(explode(array(date_sub(col("d"), 1), col("d"),
              date_add(col("d"), 1))).as("d"))
            .distinct().collect()
            // SilverStore's donation layout prefixes the date with "d"
            // (partitionSpec) — partition names are `__pdate=dyyyy-MM-dd`.
            .map(r => s"__pdate=d${r.getDate(0)}").toSet
          val existingParts = io.listDir(enrichedPath).collect {
            case (n, true) if n.startsWith("__pdate=") => n }.toSet
          dates.intersect(existingParts)
        }
      val reEnrich: Set[String] = dirtySnapshot.names ++ overlapParts
      val partVals = reEnrich.toSeq.sorted.map(_.stripPrefix("__pdate="))
      val slice = spark.read.parquet(paths("donations"))
        .filter(col("__pdate").isin(partVals: _*))
      val newEnriched =
        if (prices.isEmpty) slice
        else Stats.enrichDonationsUsd(slice, prices, tokens)
      val enrTmp = s"$enrichedPath.tmp-gen$gen"
      io.deleteRecursively(enrTmp)
      if (partVals.nonEmpty) {
        // Same (date, donor-group) clustering as the full rebuild's
        // writePartitioned — the incremental partition swap must not
        // degrade the enriched layout back into per-upstream-task file
        // sprawl. Sized from the TOUCHED silver partitions' own bytes.
        val touchedBytes = reEnrich.toSeq
          .map(p => io.fileSizes(s"${paths("donations")}/$p").map(_._2).sum)
          .sum
        clusterForPartitionedWrite(newEnriched,
          clusterGroups(touchedBytes, partVals.size))
          .write.mode("overwrite").partitionBy("__pdate").parquet(enrTmp)
      }
      val oldSlice = spark.read.parquet(enrichedPath)
        .filter(col("__pdate").isin(partVals: _*))
      val newSlice =
        if (partVals.nonEmpty) spark.read.parquet(enrTmp)
        else oldSlice.limit(0)
      // The ±1-weighted diff is the input of all THREE delta aggregates:
      // persist it once (otherwise each delta re-scans old+new slices)
      // and stage the three independent writes concurrently — staging
      // cost is the slowest delta, not the sum.
      val facts = oldSlice.withColumn("__w", lit(-1))
        .unionByName(newSlice.withColumn("__w", lit(1)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try concurrently(Seq(
        () => recvDelta(facts).write.parquet(s"$tmpStage/recv_pairs_delta"),
        () => donorDelta(facts).write.parquet(s"$tmpStage/donor_state_delta"),
        () => potDelta(facts).write.parquet(s"$tmpStage/pot_state_delta")))
      finally facts.unpersist()
      // Payout leg staged as data (idempotent resume needs the DIFF
      // against the pre-refresh paid state, which the commit replaces).
      if (payoutsChanged) {
        val payouts = if (silver.exists("pot_payouts")) silver.table("pot_payouts")
          else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.potPayout)
        val newPaid = computePaid(payouts)
        newPaid.write.parquet(s"$tmpStage/paid_new")
        val oldPaid = paidState(spark, silverDir)
        newPaid.select(col("id"), col("total_payouts_received_usd").as("nv"))
          .join(oldPaid.select(col("id"), col("total_payouts_received_usd").as("ov")),
            Seq("id"), "full_outer")
          .filter(!(col("nv") <=> col("ov")))
          .select("id")
          .write.parquet(s"$tmpStage/paid_affected")
      }
      // Everything the apply/commit phases need is STAGED — a resumed run
      // must commit what staging saw (uids, journal entry files), not
      // whatever the inputs look like post-crash.
      io.writeStringAtomic(s"$tmpStage/manifest",
        (Seq(s"enr_tmp=$enrTmp",
          s"parts=${reEnrich.toSeq.sorted.mkString(";")}",
          s"payouts_changed=$payoutsChanged",
          s"prices_changed=$pricesChanged",
          s"dirty_donations=${dirtySnapshot.names.toSeq.sorted.mkString(";")}",
          s"dirty_accounts=${dirtyAcctSnapshot.names.toSeq.sorted.mkString(";")}",
          s"dirtyfiles_donations=${dirtySnapshot.files.toSeq.sorted.mkString(";")}",
          s"dirtyfiles_accounts=${dirtyAcctSnapshot.files.toSeq.sorted.mkString(";")}") ++
          uidsNow.toSeq.sorted.map { case (k, v) => s"uid.$k=$v" })
          .mkString("\n"))
      io.atomicMove(tmpStage, staging)
    }

    // ---- apply (crash-resumable from here purely off the staging dir)
    // First LIVE mutation is below (enriched partition swap): exact-count
    // reads decline from here until the commit clears the marker.
    markInflight(silverDir)
    val manifest = io.readString(s"$staging/manifest").get.split('\n')
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    def setOf(k: String) =
      manifest.getOrElse(k, "").split(';').filter(_.nonEmpty).toSet
    val parts = setOf("parts")
    val enrTmp = manifest("enr_tmp")
    val stagedPayoutsChanged = manifest("payouts_changed").toBoolean
    val stagedPricesChanged = manifest("prices_changed").toBoolean
    val stagedDirtyAccts = setOf("dirty_accounts")

    // Enriched partition swap — idempotent: a partition whose tmp dir is
    // gone was already swapped by the pre-crash run.
    parts.toSeq.sorted.foreach { dirName =>
      val src = s"$enrTmp/$dirName"
      val dst = s"$enrichedPath/$dirName"
      val aside = s"$enrichedPath.old-gen$gen-$dirName"
      if (io.exists(src)) {
        if (io.exists(dst)) io.atomicMove(dst, aside)
        io.atomicMove(src, dst)
        io.deleteRecursively(aside)
      } else {
        // Already swapped by a pre-crash run (a crash between its
        // src→dst move and the aside delete leaves the aside behind), or
        // a BRAND-NEW date partition whose new side was empty (gated
        // rows) — either way only the stale aside needs cleanup.
        if (io.exists(aside)) io.deleteRecursively(aside)
      }
    }
    // The partition swap changed donations_enriched without going through
    // swapIn — rotate its marker so cache freshness (ResultCache.uidsFor)
    // sees the price-only re-enrichment immediately, not at TTL.
    if (parts.nonEmpty)
      io.writeStringAtomic(MergeWriter.swapMarkerPath(enrichedPath),
        java.util.UUID.randomUUID().toString.take(8))

    val stats = applyStates(spark, silverDir, gen, staging)

    // Affected ids: keys the deltas touched + payout diffs + accounts
    // newly created since the last refresh (their dirty buckets).
    val recvIds = spark.read.parquet(s"$staging/recv_pairs_delta")
      .select(col("recipient").as("id")).na.drop()
    val donorIds = spark.read.parquet(s"$staging/donor_state_delta")
      .select(col("donor").as("id")).na.drop()
    val paidIds =
      if (stagedPayoutsChanged)
        spark.read.parquet(s"$staging/paid_affected").select("id")
      else recvIds.limit(0)
    val (statKey, statBuckets) = SilverStore.bucketSpec("accounts")
    val newAccountIds: DataFrame =
      if (stagedDirtyAccts.nonEmpty) {
        val acctSchema = spark.read.parquet(paths("accounts")).schema
        val bucketIds: Set[Int] = stagedDirtyAccts
          .flatMap(n => scala.util.Try(n.stripPrefix("bucket=").toInt).toOption)
        def sliceFiles(p: String, schema: org.apache.spark.sql.types.StructType) = {
          val fs = io.fileSizes(p).map(_._1)
            .filter(f => MergeWriter.bucketIdOfFile(f).exists(bucketIds.contains))
          if (fs.isEmpty)
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
          else spark.read.schema(schema).parquet(fs.map(f => s"$p/$f"): _*)
        }
        val statsPath = s"$silverDir/account_stats"
        val statsSchema = spark.read.parquet(statsPath).schema
        sliceFiles(paths("accounts"), acctSchema).select("id")
          .join(sliceFiles(statsPath, statsSchema).select("id"), Seq("id"), "left_anti")
      } else recvIds.limit(0)
    val affected = recvIds.unionByName(donorIds).unionByName(paidIds)
      .unionByName(newAccountIds).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nAffected = affected.count()

    // Payout state replacement (fenced: the diff was staged, so a resumed
    // run replaying this write is idempotent).
    if (stagedPayoutsChanged)
      write(spark.read.parquet(s"$staging/paid_new"), paidStatePath(silverDir))

    // account_stats: affected rows rebuilt from states, LWW-merged by
    // generation — bucket-scoped, so the write cost follows the batch too.
    // The three FINAL tables touch disjoint paths, are individually
    // gen-fenced (a crash leaves any mix of fenced/unfenced; the resume's
    // per-table readGen dispatch handles each), and none reads another's
    // output — so they commit CONCURRENTLY and the finals leg costs the
    // slowest table, not the sum (the same discipline as applyStates).
    val statsPath = s"$silverDir/account_stats"
    def accountStatsLeg(): Unit = if (!readGen(statsPath).exists(_._1 == gen)) {
      if (nAffected > 0L) {
        val rows = accountRowsFor(spark, silverDir, affected, gen)
        MergeWriter.mergeBucketed(spark, rows, statsPath, Seq("id"),
          Seq("__gen"), statKey, statBuckets, coalesceUpdates = false): Unit
      }
      writeGen(statsPath, gen, MergeWriter.AdditiveMergeStats(0, 0, 0, 0))
    }

    // pot_stats: state table IS the stats (plus liveness); rewrite whole —
    // bounded by pot count, never donations.
    val potPath = s"$silverDir/pot_stats"
    def potStatsLeg(): Unit = if (!readGen(potPath).exists(_._1 == gen)) {
      write(potStatsFromState(spark, silverDir), potPath)
      writeGen(potPath, gen, MergeWriter.AdditiveMergeStats(0, 0, 0, 0))
    }

    // global_stats: previous row + exact counter deltas from the state
    // merges (distinct counts move only inside affected buckets). The
    // update is prev + delta, which is NOT re-derivable once the live row
    // has been touched — so the NEXT row is STAGED first (atomic dir
    // move into the staging area) and the live write + gen fence commit
    // from the staged row. A crash anywhere between re-enters here: the
    // staged row short-circuits the recompute, so the delta can never
    // double-apply, and a crash mid-swap (live row transiently absent)
    // cannot wedge the resume — nothing below re-reads the live row.
    // The distinct deltas themselves are resume-stable: a fenced state
    // table returns its STORED AdditiveMergeStats.
    val globalPath = s"$silverDir/global_stats"
    def globalStatsLeg(): Unit = if (!readGen(globalPath).exists(_._1 == gen)) {
      val stagedNext = s"$staging/global_next"
      if (!io.exists(stagedNext)) {
        val prev = spark.read.parquet(globalPath).head()
        val dDelta = spark.read.parquet(s"$staging/donor_state_delta")
          .agg(coalesce(sum("n"), lit(0L)).as("c"),
            sum("usd").cast(UsdSum).as("u")).head()
        val newCount = prev.getAs[Long]("total_donations_count") + dDelta.getLong(0)
        val prevUsd = Option(prev.getAs[java.math.BigDecimal]("total_donations_usd"))
        val deltaUsd = Option(dDelta.getDecimal(1))
        val newUsd = (prevUsd, deltaUsd) match {
          case (None, d) => d
          case (p, None) => p
          case (Some(p), Some(d)) => Some(p.add(d))
        }
        val donorStats = stats("donor_state")
        val recvStats = stats("recv_pairs")
        val newDonors = prev.getAs[Long]("total_donors_count") +
          (donorStats.distinctAfter - donorStats.distinctBefore)
        val newRecipients = prev.getAs[Long]("total_recipients_count") +
          (recvStats.distinctAfter - recvStats.distinctBefore)
        val newPayouts =
          if (stagedPayoutsChanged)
            Option(spark.read.parquet(s"$staging/paid_new")
              .agg(sum("total_payouts_received_usd").cast(UsdSum)).head().getDecimal(0))
          else Option(prev.getAs[java.math.BigDecimal]("total_payouts_usd"))
        val tmpNext = s"$stagedNext.tmp"
        io.deleteRecursively(tmpNext)
        globalRow(spark, newCount, newUsd, newDonors, newRecipients,
          newPayouts).write.parquet(tmpNext)
        io.atomicMove(tmpNext, stagedNext)
      }
      write(spark.read.parquet(stagedNext), globalPath)
      writeGen(globalPath, gen, MergeWriter.AdditiveMergeStats(0, 0, 0, 0))
    }

    concurrently(Seq(
      () => accountStatsLeg(), () => potStatsLeg(), () => globalStatsLeg()))
    affected.unpersist()

    // ---- commit: price-seen snapshot, meta (from the STAGED uids — a
    // resumed run must not absorb input changes staging never saw),
    // journal consumption (exactly the staged entry files), cleanup.
    if (stagedPricesChanged)
      write(spark.read.parquet(s"$staging/prices_snapshot"),
        pricesSeenPath(silverDir))
    val stagedUids = manifest.collect {
      case (k, v) if k.startsWith("uid.") => k.drop(4) -> v }
    io.writeStringAtomic(metaPath(silverDir), Meta(gen, stagedUids).render)
    MergeWriter.consumeDirty(paths("donations"), MergeWriter.DirtySnapshot(
      setOf("dirtyfiles_donations"), setOf("dirty_donations")))
    MergeWriter.consumeDirty(paths("accounts"), MergeWriter.DirtySnapshot(
      setOf("dirtyfiles_accounts"), stagedDirtyAccts))
    io.deleteRecursively(staging)
    io.deleteRecursively(enrTmp)
    clearInflight(silverDir)
    Report("incremental", gen, parts.size, nAffected)
  }

  // ------------------------------------------------------------ writers
  /** [[write]] with a bucketed layout: files carry bucket ids so readers
    * can re-declare the layout (BucketedLayout.registerExternal) and join
    * exchange-free on `keyCol`. Zero-row frames keep the flat write (a
    * bucketed writer emits no data files for them). */
  private def writeBucketed(df: DataFrame, path: String, keyCol: String,
      buckets: Int): Unit = {
    if (df.isEmpty) return write(df, path)
    val spark = df.sparkSession
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val tmp = path + ".tmp-" + uid
    val tmpTable = s"graft_gold_bucketed_$uid"
    df.repartition(buckets, org.apache.spark.sql.functions.col(keyCol))
      .write.format("parquet").option("path", tmp)
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .mode("overwrite").saveAsTable(tmpTable)
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable") // external: files stay
    swapIn(tmp, path)
  }

  private def write(df: DataFrame, path: String): Unit = {
    // Swap pattern: write to a unique tmp, rename the live table aside,
    // atomically move the new one in, then drop the old — readers see a
    // missing table only for the instant between the two renames (a plain
    // delete-then-write left the table absent for the whole write).
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val tmp = path + ".tmp-" + uid
    df.write.mode("overwrite").parquet(tmp)
    swapIn(tmp, path)
  }

  /** One write task per (date, donor-group) pair, NOT free-running
    * upstream parallelism: a bare partitionBy("__pdate") write fans every
    * upstream task across every date it holds rows for — measured at a
    * 500k-block store: 32 shuffle tasks × ~500 dates = 16,000 files of
    * ~16 KB, and every FK-filtered serve-plane read then schedules and
    * footer-opens O(files) per request (measured at f33c8ee: donation-feed
    * cold p50 grew 9-61× across a 25× store sweep from exactly this).
    * Clustering by (__pdate, donor-group) bounds files at dates ×
    * groups; the group count is SIZED FROM THE DATA — bytes per date
    * over a 128 MB file target — so the file count tracks BYTES, not
    * calendar days: one file per date at bench scale, more groups only
    * when a date actually carries multiples of the target (a donor's
    * rows then stay in one file per date, and row-group stats narrow
    * donor-filtered scans). */
  private val TargetFileBytes = 128L * 1024 * 1024
  private def clusterGroups(totalBytes: Long, dates: Int): Int =
    math.max(1, math.min(256,
      math.ceil(totalBytes.toDouble / math.max(1, dates) /
        TargetFileBytes).toInt))

  /** (sum of data-file bytes, partition-dir count) of a date-partitioned
    * table on disk — the write-side sizing input, read from the listing
    * (never a scan). */
  private def dirBytesAndDates(path: String): (Long, Int) = {
    val parts = io.listDir(path).collect {
      case (n, true) if n.startsWith("__pdate=") => n }
    if (parts.isEmpty) (io.fileSizes(path).map(_._2).sum, 1)
    else (parts.map(p => io.fileSizes(s"$path/$p").map(_._2).sum).sum,
      parts.size)
  }

  private def writePartitioned(df: DataFrame, path: String,
      groups: Int): Unit = {
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val tmp = path + ".tmp-" + uid
    clusterForPartitionedWrite(df, groups)
      .write.mode("overwrite").partitionBy("__pdate").parquet(tmp)
    swapIn(tmp, path)
  }

  private def clusterForPartitionedWrite(df: DataFrame, groups: Int): DataFrame =
    if (groups > 1 && df.columns.contains("donor"))
      df.repartition(col("__pdate"),
        pmod(xxhash64(col("donor")), lit(groups)))
    else df.repartition(col("__pdate"))

  private def swapIn(tmp: String, path: String): Unit = {
    // Through the TableIO seam so the gold plane swaps atomically on the
    // same filesystems the silver store runs on (local nio here would
    // throw on an s3a/HDFS deployment); also puts the stranded-artifact
    // naming under Maintenance.vacuum's cleanup contract.
    val uid = tmp.substring(tmp.lastIndexOf("-") + 1)
    val io = graft.operators.MergeWriter.io
    val old = path + ".old-" + uid
    if (io.exists(path)) io.atomicMove(path, old)
    // Tolerant move-in: a reader's recoverCrashedSwap may roll this very
    // swap forward between our renames (it stamps the same uid marker).
    graft.operators.MergeWriter.moveInTolerant(tmp, path)
    io.deleteRecursively(old)
    // Swap marker, same contract as MergeWriter's writers: downstream
    // freshness checks (ResultCache.uidsFor, SilverStore's registration
    // cache) read one small file instead of hashing table contents — and
    // gold-fed routes invalidate the moment a refresh swaps in, not at
    // cache TTL.
    io.writeStringAtomic(
      graft.operators.MergeWriter.swapMarkerPath(path), uid)
  }

  def main(args: Array[String]): Unit = {
    val silverDir = args.headOption.getOrElse(sys.error("usage: GoldRefresh <silverDir> [--full]"))
    val full = args.contains("--full")
    val spark = graft.HarnessSession.local()
    if (full) refreshFull(spark, silverDir): Unit
    else refreshIncremental(spark, silverDir): Unit
    spark.stop()
  }
}
