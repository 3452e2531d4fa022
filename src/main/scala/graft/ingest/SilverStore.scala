package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MergeWriter
import graft.operators.MergeWriter.{Combine, Layout}

/** The silver entity store: applies one (micro-)batch of block messages to
  * the entity tables via the LWW merge writer. This is the single body
  * shared by the batch backfill path (S3: `spark.read` over a block range)
  * and the streaming path (S1/S2: `foreachBatch`), exactly the SURVEY §7.1
  * architecture.
  *
  * Natural keys per entity come from the reference's unique constraints
  * (FIXTURES §5): replaying a block is a no-op by construction.
  */
object SilverStore {
  /** Natural keys per entity (the reference's unique constraints,
    * FIXTURES §5) — shared by the streaming merge and SnapshotBackfill so
    * the two write paths can never drift onto different keys. */
  val naturalKeys: Map[String, Seq[String]] = Map(
    "donations" -> Seq("on_chain_id", "pot"),
    "accounts" -> Seq("id"),
    "lists" -> Seq("on_chain_id"),
    "list_registrations" -> Seq("on_chain_id"),
    "pot_applications" -> Seq("pot", "applicant"),
    "pot_application_reviews" -> Seq("pot", "applicant", "reviewer", "reviewed_at"),
    "pot_payouts" -> Seq("pot", "recipient"),
    "pots" -> Seq("account"),
    "pot_factories" -> Seq("account"),
    "pot_payout_challenges" -> Seq("challenger", "pot"),
    "pot_payout_challenge_admin_responses" -> Seq("challenger", "pot", "created_at"),
    "tokens" -> Seq("account"))

  /** Tables merged keep-first (the reference's
    * bulk_create(ignore_conflicts=True) / create-once rows) rather than
    * LWW — shared by both write paths via [[mergeEntity]] so stream and
    * snapshot arbitration can never diverge on the same table. */
  val keepFirstTables: Set[String] = Set(
    "pot_application_reviews", "pot_payout_challenge_admin_responses",
    "nadabot_stamps", "list_upvotes", "quarantine")

  /** Physical layout per table; a table not listed is flat. One map, read
    * by both the merge ([[mergeEntity]]) and the reader ([[SilverStore.table]]).
    *  - donations: partitioned by donation date, so a batch rewrites only
    *    the dates it touches, and donor-bucketed inside each partition, so
    *    the scan reports the donor HashPartitioning and the donors J2
    *    semi-join / per-donor rollups run with zero exchange on the
    *    donations side. `donor` is immutable per natural key (chain
    *    state); the bucket count matches `accounts`' so the two sides
    *    co-partition.
    *  - activities: a 32-bucket key hash partition, NOT a date — the
    *    reference's aupdate_or_create rewrites `timestamp` on re-keyed
    *    activities, so a date layout could strand a key's older version
    *    in a partition the scoped dedup never reads. A batch touching k
    *    keys rewrites min(k, 32) partitions.
    *  - accounts: bucketed on `id` — THE dimension every query-plane join
    *    touches (donor/recipient/chef/referrer embeds, the donors J2
    *    semi-join, the accounts⋈account_stats stats join), and the gold
    *    refresh writes `account_stats` bucketed the same way, so those
    *    joins plan with zero exchange on either side (BucketedLayout's
    *    q_j11 contract; reference analogue: the accounts PK index behind
    *    accounts/api.py:310's prefetch). Bucket counts are small at test
    *    scale; production picks ≈ table-bytes / 1 GB once at layout time.
    */
  val accountsLayout: Layout.Bucketed = Layout.Bucketed("id", 16)
  val layouts: Map[String, Layout] = Map(
    "donations" -> Layout.Partitioned("__pdate", Some(("donor", accountsLayout.n))),
    "activities" -> Layout.Partitioned("__pbucket"),
    "accounts" -> accountsLayout)

  /** Tables whose merges append the slices they touch to the dirty
    * journal: the gold refresh's only incremental inputs. No other table
    * has a journal consumer. */
  val journaled: Set[String] = Set("donations", "accounts")

  /** How each partitioned table derives its partition column from the
    * row, keyed by that column. The value MUST be an immutable pure
    * function of the natural key's row. donated_at is chain state carried
    * in every payload variant (stream and snapshot read the same contract
    * value); a payload missing it lands in the shared "dunknown"
    * partition on every source. The "d"/"b" prefixes stop Spark
    * partition-type inference from reading the value back as DATE or INT
    * (which would clash with the incoming string column on the next
    * merge). */
  private val partitionValue: Map[String, org.apache.spark.sql.Column] = Map(
    "__pdate" -> concat(lit("d"),
      coalesce(date_format(col("donated_at"), "yyyy-MM-dd"), lit("unknown"))),
    "__pbucket" -> concat(lit("b"),
      pmod(xxhash64(col("type"), col("action_result")), lit(32)).cast("string")))

  /** The synthetic partition column of a partitioned table — physical
    * layout detail that readers must never see. */
  def layoutColumn(name: String): Option[String] = layouts.get(name).collect {
    case Layout.Partitioned(pcol, _) => pcol
  }

  /** Single merge dispatch shared by the streaming path and
    * SnapshotBackfill, so a snapshot backfill can never rewrite a
    * partitioned table into a flat layout, nor arbitrate a table
    * differently from the stream. */
  def mergeEntity(spark: SparkSession, dir: String, name: String,
      df: DataFrame, keys: Seq[String], seqCols: Seq[String]): Long = {
    val layout = layouts.getOrElse(name, Layout.Flat)
    val rows = layoutColumn(name).fold(df)(c => df.withColumn(c, partitionValue(c)))
    MergeWriter.upsert(spark, rows, s"$dir/$name", keys, layout,
      if (keepFirstTables(name)) Combine.KeepFirst(seqCols) else Combine.Lww(seqCols),
      journal = journaled(name))
  }

  // Registration freshness: catalogName → the swap-marker uid it was
  // registered against. Each merge path stamps a new uid after its swap
  // lands, so uid-unchanged ⟺ the on-disk layout and schema are the ones
  // already registered. Per-name monitors serialize the DROP/CREATE DDL
  // (catalog names are session-global; two threads of one session reading
  // the same table must not race the re-registration).
  private val registeredUid =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val registerLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[graft] def registerCached(spark: SparkSession,
      catalogName: String, tablePath: String)(register: => Unit): Unit = {
    val lock = registerLocks.computeIfAbsent(catalogName, _ => new Object)
    lock.synchronized {
      val uid = graft.operators.TableSwap.markerUid(tablePath)
      val fresh = uid.nonEmpty && uid == registeredUid.get(catalogName) &&
        spark.catalog.tableExists(catalogName)
      if (!fresh) {
        register
        registeredUid.put(catalogName, uid): Unit
      }
    }
  }
}

final class SilverStore(spark: SparkSession, dir: String) {
  import SilverStore.naturalKeys

  private val seq = Seq("block_height", "shard_index", "receipt_index", "action_index")
  def path(name: String): String = s"$dir/$name"

  /** Read a silver table. Synthetic partition columns (__pdate/__pbucket)
    * are physical-layout detail and are hidden from readers — they would
    * otherwise leak into the API JSON surface and the gold tables.
    * Bucketed tables come back through a session-catalog registration so
    * their scans report the bucket HashPartitioning (exchange-free joins
    * on the bucket key). The registration is CACHED per catalog name and
    * refreshed only when the table's swap-marker uid changes (every merge
    * path stamps one): re-running DROP/CREATE + a schema-inferring
    * parquet read on every access would both race concurrent readers of
    * the same store (a query analyzed between another caller's DROP and
    * CREATE fails on a missing table) and pay a footer scan per read.
    * The DDL itself runs under a per-name lock, so two threads refreshing
    * the same registration serialize. A table still in its flat
    * bootstrap layout reads as plain parquet. */
  def table(name: String): DataFrame = {
    val p = path(name)
    // Catalog names are session-global; namespace by store dir so two
    // SilverStores in one session (tests, migration jobs) can't serve
    // each other's files.
    def catalogName = s"graft_silver_${name}_" +
      Integer.toHexString(dir.hashCode).replace('-', 'n')
    SilverStore.layouts.get(name) match {
      case Some(Layout.Bucketed(bcol, n))
          if graft.operators.BucketedLayout.looksBucketed(p) =>
        SilverStore.registerCached(spark, catalogName, p) {
          graft.operators.BucketedLayout.registerExternal(
            spark, catalogName, p, spark.read.parquet(p).schema, bcol, n)
        }
        spark.table(catalogName)
      case Some(Layout.Partitioned(pcol, Some((bcol, n))))
          if MergeWriter.bucketedPartitionLayout(p) =>
        // Partitioned AND bucketed: register with both specs so the scan
        // reports the bucket HashPartitioning; partitions are recovered
        // from the directories (the merge path mutates them out-of-band).
        // The synthetic partition column stays hidden from readers.
        SilverStore.registerCached(spark, catalogName, p) {
          graft.operators.BucketedLayout.registerExternalPartitioned(
            spark, catalogName, p, spark.read.parquet(p).schema, pcol, bcol, n)
        }
        spark.table(catalogName).drop(pcol)
      case _ =>
        val df = spark.read.parquet(p)
        SilverStore.layoutColumn(name).filter(df.columns.contains)
          .fold(df)(df.drop)
    }
  }
  def exists(name: String): Boolean =
    MergeWriter.io.exists(path(name))

  /** The blacklist as the reference's query surface sees it. The
    * reference HARD-deletes rows on `unblacklist_account`
    * (indexer_app/utils.py:104-114); the engine keeps an auditable LWW
    * soft delete (`active=false`, EntityTransforms.blacklistActions) and
    * equivalence is restored at read time by this tombstone-aware view —
    * any future blacklist endpoint must read THIS, not the raw table. */
  def activeBlacklist(): DataFrame =
    table("nadabot_blacklist").filter(org.apache.spark.sql.functions.col("active"))

  /** Apply add/remove deltas to an array column — the engine's form of the
    * reference's M2M `aadd`/`remove` (utils.py:785-805, 808-817, 820-828),
    * which LWW row-replace cannot express. `patches` rows carry the entity
    * key, `patch_add`/`patch_remove` string arrays, and the ingest seq.
    *
    * Mechanics: fold all patches per key in seq order (broadcast — patch
    * sets are event-sized, never table-sized), inner-join the CURRENT table
    * row (a patch for a nonexistent key is dropped, as the reference's
    * aget() failure no-ops the handler), and REPLACE the matching table
    * rows with the patched copies. Replacement, not LWW merge: the patched
    * row is derived from the current winner, and a same-batch base update
    * at a later seq than the patch would otherwise beat the patched row in
    * the LWW ordering and silently drop the array delta (the whole-history
    * backfill path applies everything as one batch, so patch-before-update
    * is the common shape, not an edge case). The patched row is stamped
    * greatest(existing row seq, max patch seq) so it also survives later
    * stale replays through the normal LWW path. Replay-idempotent:
    * re-adding a present element and re-removing an absent one are set
    * no-ops. Returns the merged table count when patches applied. */
  private def patchArrayColumn(name: String, keys: Seq[String],
      arrayCol: String, patches: DataFrame): Option[Long] = {
    if (!exists(name) || patches.isEmpty) return None
    val emptyArr = array().cast("array<string>")
    val folded = patches
      .groupBy(keys.map(col): _*)
      .agg(
        sort_array(collect_list(struct(
          struct(seq.map(col): _*).as("k"),
          col("patch_add").as("add"),
          col("patch_remove").as("rm")))).as("__patches"),
        max(struct(seq.map(col): _*)).as("__seq"))
    val patched = table(name)
      .withColumn("__rowseq", struct(seq.map(col): _*))
      .join(broadcast(folded), keys, "inner")
      .withColumn(arrayCol,
        aggregate(col("__patches"), coalesce(col(arrayCol), emptyArr),
          (acc, p) => array_except(
            array_union(acc, coalesce(p.getField("add"), emptyArr)),
            coalesce(p.getField("rm"), emptyArr))))
      .withColumn("__eff", greatest(col("__rowseq"), col("__seq")))
    val withSeq = seq.foldLeft(patched)((df, c) => df.withColumn(c, col(s"__eff.$c")))
      .drop("__patches", "__seq", "__rowseq", "__eff")
    Some(MergeWriter.replaceRows(spark, withSeq, path(name), keys))
  }

  /** Provider id-13 contract-bug rewrite (reference utils.py:1104-1111):
    * the first migrated nadabot providers all emitted on-chain id 13, and
    * the reference hands each one a sequential id from a cache counter.
    * The engine's deterministic, replay-safe form: an incoming id-13
    * provider whose identity (registry, contract, method_name, name)
    * matches an already-rewritten row reuses that row's id; genuinely new
    * ones take count(rewritten)+1, count+2, … in ingest-seq order. The
    * global window is bounded by the handful of id-13 providers in one
    * batch (13 in the reference's history), never by data volume. */
  private def rewriteProvider13(df: DataFrame): DataFrame = {
    val marked = df.withColumn("id_rewritten", col("on_chain_id") === 13)
    val p13 = marked.filter(col("id_rewritten"))
    if (p13.isEmpty) return marked
    val identity = Seq("registry", "contract", "method_name", "name")
    val existing: Option[DataFrame] =
      if (exists("nadabot_providers")) {
        val t0 = table("nadabot_providers")
        if (t0.columns.contains("id_rewritten"))
          Some(t0.filter(col("id_rewritten"))
            .groupBy(identity.map(col): _*)
            .agg(min(col("on_chain_id")).as("__prev_id")))
        else None
      } else None
    // Counter base = max already-assigned id (NOT identity count — the two
    // can diverge, and a count-based base would re-issue taken ids).
    val base: Long = existing.map { e =>
      val r = e.agg(max(col("__prev_id"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }.getOrElse(0L)
    // NULL-SAFE identity matching throughout: a provider payload may
    // carry a null identity field (optional method_name etc.), and a
    // plain equi-join would never match it against its own prior
    // assignment — the row would take a fresh id every batch (or land
    // under a NULL on_chain_id downstream).
    def joinIdentity(left: DataFrame, right: DataFrame,
        rightKeep: String): DataFrame = {
      val r = right.select(
        identity.map(c => col(c).as(s"__r_$c")) :+ col(rightKeep): _*)
      val cond = identity.map(c => left(c) <=> col(s"__r_$c")).reduce(_ && _)
      left.join(broadcast(r), cond, "left")
        .drop(identity.map(c => s"__r_$c"): _*)
    }
    val joined = existing match {
      case Some(e) => joinIdentity(p13, e, "__prev_id")
      case None => p13.withColumn("__prev_id", lit(null).cast("bigint"))
    }
    // Number DISTINCT new identities, not rows: the same provider emitted
    // twice in one batch (add then update, both still id-13) must get ONE
    // id — two rows under one key that the LWW merge then collapses.
    // Identity columns tie-break after __first: two logs of the same action
    // can share the full 4-part ingest seq, and a bare-__first window would
    // make fresh id assignment nondeterministic across rebuilds.
    // The window is deliberately UNPARTITIONED (WindowExec warns): a
    // sequential counter is global by definition, and its input is the
    // batch's DISTINCT new provider identities — dimension-scale (on-chain
    // registry registrations, not facts), a few rows on one partition at
    // any corpus size.
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__first").asc +: identity.map(col(_).asc): _*)
    val freshIds = joined.filter(col("__prev_id").isNull)
      .groupBy(identity.map(col): _*)
      .agg(min(struct(seq.map(col): _*)).as("__first"))
      .withColumn("__new_id", lit(base) + row_number().over(w))
      .drop("__first")
    val fresh = joinIdentity(joined.filter(col("__prev_id").isNull),
        freshIds, "__new_id")
      .withColumn("on_chain_id", col("__new_id"))
      .drop("__new_id")
    val reused = joined.filter(col("__prev_id").isNotNull)
      .withColumn("on_chain_id", col("__prev_id"))
    fresh.drop("__prev_id")
      .unionByName(reused.drop("__prev_id"))
      .unionByName(marked.filter(!col("id_rewritten")))
  }

  /** Run independent per-table merge tasks concurrently on a bounded
    * driver pool. Spark job submission is thread-safe and the tasks write
    * disjoint table paths; a small pool (≤6) keeps the scheduler from
    * thrashing on local mode while a cluster's executor pool is shared
    * across the concurrent jobs anyway. A task failure fails the batch
    * (propagated by Await), matching the sequential behavior. */
  private def runConcurrently(
      tasks: Seq[(String, () => Long)]): scala.collection.concurrent.TrieMap[String, Long] = {
    val out = scala.collection.concurrent.TrieMap[String, Long]()
    if (tasks.isEmpty) return out
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(6, tasks.size))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fs = tasks.map { case (name, f) =>
        scala.concurrent.Future { out(name) = f() } }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration(60, "min"))
    } finally pool.shutdown()
    out
  }

  /** Apply one batch of raw block messages (bronze) to every silver table.
    * Returns merged row counts for the entities the batch touched —
    * entities with no triggering method/event are skipped entirely (no
    * merge job, no counts entry) once their table exists, so a 1-block
    * micro-batch pays for the handful of merges it needs, not all 18. */
  def applyBatch(blocks: DataFrame): Map[String, Long] = {
    import EntityTransforms._
    val receipts = BlockIngest.receipts(blocks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val acts = BlockIngest.actions(receipts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val evts = BlockIngest.events(receipts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Frames persisted mid-batch register here so a FAILED batch (a merge
    // task throwing, a phase-2 patch error) releases them too: foreachBatch
    // retries applyBatch, and cache blocks leaked per attempt would
    // accumulate for the stream's lifetime.
    val midBatch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def persistMidBatch(df: DataFrame): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      midBatch += p
      p
    }

    // Live-tail fast path: a 1-5 block micro-batch's merges are a few
    // hundred rows each, but every merge's dedup window still fans out to
    // the session's shuffle-partition count (32) — at tiny triggers the
    // 32-task stage scheduling overhead IS the batch latency (AQE cannot
    // coalesce here: it is disabled under streaming). Narrow the shuffle
    // width to 4 for the duration of this applyBatch (micro-
    // batches run sequentially per stream; merges already assume a single
    // writer per table) and restore on exit. The threshold is receipts,
    // not blocks: a backfill mega-batch through this same path keeps the
    // full width.
    // CAVEAT: the conf is SESSION-scoped, not job-scoped — any query
    // planned concurrently in the same SparkSession during a tiny batch
    // would also plan at this width. The production wiring (foreachBatch
    // merges on the micro-batch thread; gold beat and serve plane in
    // their own sessions/processes) never co-plans.
    val nReceipts = receipts.count()
    val shufConf = "spark.sql.shuffle.partitions"
    val prevShuffle = spark.conf.get(shufConf)
    val tinyBatch = nReceipts < 512
    if (tinyBatch) spark.conf.set(shufConf, "4")

    try {
      val dons = persistMidBatch(donations(acts))
      val reviews = applicationReviews(acts)

      // One driver-side probe per batch: which handler triggers are
      // present? Distinct (method, receiver-class) over the already
      // contract-scoped receipts is bounded by the contracts' API surface
      // (a few dozen methods), never by data volume.
      val c = BlockIngest.contracts
      val cls = when(col("receiver_id").rlike(c.potSubPattern), "pot")
        .when(col("receiver_id").rlike(c.potFactoryPattern), "factory")
        .when(col("receiver_id").rlike(c.nadabotPattern) ||
          col("receiver_id").rlike(c.nadabotSubPattern), "nadabot")
        .when(col("receiver_id") === c.lists, "lists")
        .when(col("receiver_id") === c.donate, "donate")
        .when(col("receiver_id") === c.social, "social")
        .otherwise("other")
      // Both probes ride ONE Spark job: methods and events union into a
      // single distinct+collect (the "__event" class can't collide with a
      // receiver class). At single-block live-tail triggers the per-batch
      // job count IS the latency, so sequential driver probes are paid
      // once, not twice.
      val probeRows = acts
        .select(col("method_name").as("k"), cls.as("cls"))
        .unionByName(evts.select(col("event_name").as("k"),
          lit("__event").as("cls")))
        .distinct().collect()
      val methodsPresent: Set[(String, String)] = probeRows
        .collect { case r if r.getString(1) != "__event" =>
          (r.getString(0), r.getString(1)) }.toSet
      val eventsPresent: Set[String] = probeRows
        .collect { case r if r.getString(1) == "__event" => r.getString(0) }
        .toSet
      def has(m: String, classes: String*): Boolean =
        classes.exists(cl => methodsPresent((m, cl)))
      val donateHit = Seq("donate", "handle_protocol_fee_callback",
        "sybil_callback", "transfer_funds_callback")
        .exists(m => has(m, "pot", "donate"))
      val applyHit = has("apply", "pot") || has("assert_can_apply_callback", "pot")
      val reviewHit = has("chef_set_application_status", "pot")
      val listRemoveHit = has("owner_remove_admins", "lists")
      val listAcctHit = has("create_list", "lists") ||
        has("register_batch", "lists")
      val nadabotAddHit = has("owner_add_admins", "nadabot")
      val deployerAddHit = has("admin_add_whitelisted_deployers", "factory")
      val potCfgHit = eventsPresent(EntityTransforms.potConfigEvent)
      val factoryCfgHit =
        EntityTransforms.factoryConfigMethods.exists(has(_, "factory"))
      val factoryAdminPatchHit =
        has("owner_add_admins", "factory") || has("owner_remove_admins", "factory")
      val handlerActsHit = has("new", "pot") || applyHit ||
        has("register_batch", "lists") || has("upvote", "lists") ||
        has("chef_set_payouts", "pot") || has("challenge_payouts", "pot") ||
        listRemoveHit

      // Merges run only when the batch can produce rows for the entity
      // (or its table doesn't exist yet — first batch always materializes
      // every table so downstream readers never hit a missing path).
      // Each needed merge is ENQUEUED, then the queue runs on a small
      // driver thread pool: per-entity merges touch disjoint tables, so
      // they are independent Spark jobs and batch latency is bounded by
      // the slowest entity, not the sum of all of them.
      val tasks = scala.collection.mutable.ArrayBuffer[(String, () => Long)]()
      def lww(name: String, df: => DataFrame, keys: Seq[String],
          seqCols: Seq[String] = seq, need: Boolean = true): Unit =
        if (need || !exists(name))
          tasks += (name -> (() =>
            SilverStore.mergeEntity(spark, dir, name, df, keys, seqCols)))
      // Keep-first tables go through the same mergeEntity router as every
      // other write (keepFirstTables is the single semantics authority);
      // `first` only names the intent at the call site.
      def first(name: String, df: => DataFrame, keys: Seq[String],
          need: Boolean = true): Unit = {
        require(SilverStore.keepFirstTables(name),
          s"first($name): table not registered in keepFirstTables")
        lww(name, df, keys, need = need)
      }

      lww("donations", dons.drop("__receiver"), naturalKeys("donations"),
        need = donateHit)
      // Config refreshes apply only to pots/factories that exist — the
      // reference's afirst()/aget() no-ops on unknown accounts
      // (utils.py:224-227, 834) — so semi-join against this batch's
      // deploys plus the existing table. Defined up here because account
      // discovery below must see the same gating (the reference creates
      // owner/chef/admin accounts only after the pot lookup succeeds).
      //
      // MATERIALIZED EAGERLY (persist + count) before any merge task runs:
      // the semi-join scans the pots/pot_factories tables, and the merge
      // pool below atomically SWAPS those same directories — a lazy plan
      // holding the pre-swap file listing would hit FileNotFoundException
      // when a sibling task (accounts, phase-2 patches) executes it after
      // the swap. persist(MEMORY_AND_DISK) rather than localCheckpoint:
      // lineage stays intact, so a lost executor recomputes the block
      // instead of killing the batch (the recompute re-reads the pre-swap
      // listing, so it is only fault-tolerant until the owning merge
      // lands — but config updates are event-sized, so MEMORY_AND_DISK
      // loss is both unlikely and cheap, and the old localCheckpoint
      // deterministically died on ANY executor loss). Gating on the event
      // probe means a batch with no config traffic never scans the
      // dimension at all. Both frames are unpersisted in the finally.
      val potDeployRows = potDeploys(acts)
      val potCfg = {
        val upd = potConfigUpdates(evts)
        if (!potCfgHit) upd.limit(0)
        else {
          val known = potDeployRows.select("account").unionByName(
            if (exists("pots")) table("pots").select("account")
            else spark.emptyDataFrame.select(lit("").as("account")).limit(0))
          val cfg = persistMidBatch(upd.join(known, Seq("account"), "left_semi"))
          cfg.count() // eager: materialize before any directory swap
          cfg
        }
      }
      val factoryDeployRows = potFactories(acts)
      val factoryCfg = {
        val upd = factoryConfigUpdates(acts)
        if (!factoryCfgHit) upd.limit(0)
        else {
          val known = factoryDeployRows.select("account").unionByName(
            if (exists("pot_factories")) table("pot_factories").select("account")
            else spark.emptyDataFrame.select(lit("").as("account")).limit(0))
          val cfg = persistMidBatch(upd.join(known, Seq("account"), "left_semi"))
          cfg.count() // eager: materialize before any directory swap
          cfg
        }
      }
      // Accounts: discovery rows (id only) + social-profile updates merge
      // into one table; coalesce keeps the profile across later discovery
      // rows (reference stores the profile ON Account, accounts/models.py:57-62).
      lww("accounts",
        donationAccounts(dons)
          .unionByName(patchAccounts(nadabotAdminAdds(acts)))
          .unionByName(patchAccounts(factoryDeployerAdds(acts)))
          .unionByName(patchAccounts(factoryAdminPatches(acts)))
          .unionByName(potConfigAccounts(potCfg))
          .unionByName(factoryConfigAccounts(factoryCfg))
          .unionByName(listAccounts(acts))
          .withColumn("near_social_profile_data", lit(null).cast("string"))
          .unionByName(socialProfileUpdates(acts)),
        naturalKeys("accounts"),
        need = donateHit || nadabotAddHit || deployerAddHit ||
          factoryAdminPatchHit || potCfgHit || factoryCfgHit ||
          listAcctHit || has("set", "social"))
      // Reference semantics: aupdate_or_create on (action_result, type) —
      // a repeated key UPDATES signer/timestamp/tx_hash (last writer wins).
      lww("activities",
        donationActivities(acts).unionByName(handlerActivities(acts)),
        Seq("type", "action_result"), need = donateHit || handlerActsHit)
      // Token stubs from first sight of an ft reference (the reference
      // creates Token rows on first donation and fetches ft_metadata via
      // RPC — utils.py:917-943; here metadata arrives via the
      // SnapshotBackfill.tokenMetadata loader). LWW with coalescing nulls:
      // a later stub never erases loaded metadata (its metadata fields are
      // null and backfill from the earlier row), while a later metadata
      // refresh overrides stubs.
      lww("tokens",
        dons.select(col("ft").as("account"),
          lit(null).cast("string").as("name"),
          lit(null).cast("string").as("symbol"),
          lit(null).cast("string").as("icon"),
          when(col("ft") === "near", lit(24)).cast("int").as("decimals"),
          lit(null).cast("string").as("coingecko_id"),
          col("block_height"), col("shard_index"), col("receipt_index"),
          col("action_index"))
          .filter(col("account").isNotNull),
        naturalKeys("tokens"), need = donateHit)
      lww("pots",
        potDeployRows.unionByName(potCfg, allowMissingColumns = true),
        Seq("account"), need = has("new", "pot") || potCfgHit)
      lww("pot_factories",
        factoryDeployRows.unionByName(factoryCfg, allowMissingColumns = true),
        Seq("account"), need = has("new", "factory") || factoryCfgHit)
      // Status updates apply only to applications that EXIST — the
      // reference afirst()s the application and returns on None
      // (utils.py:561-569) — so semi-join against this batch's creates
      // plus the existing table (the lists/pots gating pattern).
      val applCreates = potApplications(acts)
      val applUpdates = {
        val upd = applicationStatusUpdates(reviews)
        if (!reviewHit) upd.limit(0)
        else {
          val known = applCreates.select("pot", "applicant").unionByName(
            if (exists("pot_applications"))
              table("pot_applications").select("pot", "applicant")
            else spark.emptyDataFrame
              .select(lit("").as("pot"), lit("").as("applicant")).limit(0))
          upd.join(known, Seq("pot", "applicant"), "left_semi")
        }
      }
      lww("pot_applications", applCreates.unionByName(applUpdates),
        naturalKeys("pot_applications"), need = applyHit || reviewHit)
      first("pot_application_reviews", reviews,
        naturalKeys("pot_application_reviews"), need = reviewHit)
      // Keyed (pot, recipient): a transfer updates the matching set-payout
      // row in place (utils.py:719-721 aupdate on recipient); seq extended
      // with payout_index for within-action determinism.
      lww("pot_payouts", payoutsSet(acts).unionByName(payoutTransfers(acts)),
        naturalKeys("pot_payouts"), seq :+ "payout_index",
        need = has("chef_set_payouts", "pot") || has("transfer_payout_callback", "pot"))
      // Repeated challenge by the same challenger updates
      // created_at/message/tx_hash (utils.py:746-748 aupdate_or_create) —
      // last writer wins, not keep-first.
      lww("pot_payout_challenges", payoutChallenges(acts),
        Seq("challenger", "pot"), need = has("challenge_payouts", "pot"))
      first("pot_payout_challenge_admin_responses", challengeResponses(acts),
        Seq("challenger", "pot", "created_at"),
        need = has("admin_update_payouts_challenge", "pot"))
      // List updates (admin_set_default_project_status) apply only to lists
      // that exist — reference filter().aupdate() no-ops on unknown ids
      // (utils.py:624) — so semi-join against this batch's creates plus the
      // existing table.
      val creates = listCreates(acts)
      val updates = {
        val upd = listStatusChanges(acts)
        val known = creates.select("on_chain_id").unionByName(
          if (exists("lists")) table("lists").select("on_chain_id")
          else spark.emptyDataFrame.select(lit(0L).as("on_chain_id")).limit(0))
        upd.join(known, Seq("on_chain_id"), "left_semi")
      }
      lww("lists", creates.unionByName(updates), naturalKeys("lists"),
        need = has("create_list", "lists") ||
          has("admin_set_default_project_status", "lists"))
      // Registration updates likewise touch only EXISTING rows — the
      // reference's filter(id=...).aupdate() matches nothing on unknown
      // ids (utils.py:469) — never inserting a skeleton row.
      val regCreates = listRegistrations(acts)
      val regUpdates = {
        val upd = registrationUpdates(acts)
        if (!has("update_registration", "lists")) upd.limit(0)
        else {
          val known = regCreates.select("on_chain_id").unionByName(
            if (exists("list_registrations"))
              table("list_registrations").select("on_chain_id")
            else spark.emptyDataFrame.select(lit(0L).as("on_chain_id")).limit(0))
          upd.join(known, Seq("on_chain_id"), "left_semi")
        }
      }
      lww("list_registrations", regCreates.unionByName(regUpdates),
        naturalKeys("list_registrations"),
        need = has("register_batch", "lists") || has("update_registration", "lists"))
      first("list_upvotes", listUpvotes(acts), Seq("list_id", "account"),
        need = has("upvote", "lists"))
      lww("nadabot_registries",
        nadabotRegistries(acts).unionByName(
          humanThresholdUpdates(evts)
            .select(col("account"), col("default_human_threshold"),
              col("updated_at"),
              lit(null).cast("string").as("owner"),
              lit(null).cast("timestamp").as("created_at"),
              lit(null).cast("array<string>").as("admins"),
              lit(null).cast("string").as("source_metadata"),
              col("block_height"), col("shard_index"), col("receipt_index"),
              col("action_index")),
          allowMissingColumns = true),
        Seq("account"),
        need = has("new", "nadabot") ||
          eventsPresent("update_default_human_threshold"))
      lww("nadabot_providers", rewriteProvider13(providers(evts)),
        Seq("registry", "on_chain_id"),
        need = eventsPresent("add_or_update_provider"))
      // Stamp has no unique constraint in the reference
      // (nadabot/models.py:221-239; aupdate_or_create keys user+provider+
      // verified_at) — each distinct verification date is its own row.
      first("nadabot_stamps", stamps(evts), Seq("user", "provider_id", "verified_at"),
        need = eventsPresent("add_stamp"))
      lww("nadabot_groups", groups(evts), Seq("registry", "on_chain_id"),
        need = eventsPresent("add_or_update_group"))
      lww("nadabot_blacklist", blacklistActions(evts), Seq("registry", "account"),
        need = eventsPresent("blacklist_account") ||
          eventsPresent("unblacklist_account"))

      // Per-record error quarantine (SURVEY §2.9): decode/parse failures
      // are kept inspectable instead of silently dropped. No method gate
      // can predict decode failures, so this one probes its own extract.
      val q = BlockIngest.quarantine(receipts)
      // One-time legacy upgrade, ordered BEFORE the merge inside the same
      // task: stores built before `kind` joined quarantine's keep-first
      // key hold rows without it; unionByName would null-fill those into
      // a keyspace disjoint from the new 'action'/'log' rows and
      // duplicate receipts. Every pre-`kind` row WAS an action decode —
      // stamp them once (no-op when the column exists).
      def quarantineUpgraded(): Unit =
        if (exists("quarantine"))
          MergeWriter.backfillLiteralColumn(
            spark, path("quarantine"), "kind", lit("action"))
      if (!q.isEmpty) {
        tasks += ("quarantine" -> (() => {
          quarantineUpgraded()
          SilverStore.mergeEntity(spark, dir, "quarantine", q,
            Seq("receipt_id", "kind", "action_index"), seq)
        }))
      } else if (!exists("quarantine"))
        first("quarantine", q, Seq("receipt_id", "kind", "action_index"),
          need = false)

      // Stream-cursor parity row (S2; reference BlockHeight singleton,
      // indexer_app/models.py:5-24).
      val bh = blocks.agg(
        max(col("block.header.height")).as("block_height"),
        max(timestamp_micros(call_function("div", col("block.header.timestamp"), lit(1000L)).cast("long")))
          .as("block_timestamp"))
        .select(lit(1).as("id"), col("block_height"), col("block_timestamp"),
          current_timestamp().as("updated_at"),
          col("block_height").as("__seq"))
      tasks += ("block_height" -> (() => MergeWriter.merge(
        spark, bh, path("block_height"), Seq("id"), Seq("__seq"),
        coalesceUpdates = false)))

      // Chains dimension (chains/models.py:5-48): seeded with the NEAR
      // default row the first time the store materializes — the reference
      // seeds it via migrations, and Account.save() depends on the NEAR
      // row existing (accounts/models.py:141-143). Dump-driven loads
      // (Chains.fromJson → mergeInto) extend it out-of-band.
      if (!exists("chains"))
        tasks += ("chains" -> (() =>
          Chains.mergeInto(spark, dir, Chains.defaultRows(spark))))

      // Materialize the one input shared by several tasks ONCE, so racing
      // threads don't each compute the donations extract into the cache.
      if (donateHit) dons.count()
      val counts = runConcurrently(tasks.toSeq)

      // Phase 2 — array-delta patches (M2M admins/deployers mutations,
      // utils.py:785-828) run AFTER the base merges so same-batch creates
      // are visible to the read-modify-write.
      if (listRemoveHit)
        patchArrayColumn("lists", naturalKeys("lists"), "admins",
          listAdminRemovals(acts)).foreach(counts("lists") = _)
      if (nadabotAddHit)
        patchArrayColumn("nadabot_registries", Seq("account"), "admins",
          nadabotAdminAdds(acts)).foreach(counts("nadabot_registries") = _)
      if (deployerAddHit)
        patchArrayColumn("pot_factories", Seq("account"), "whitelisted_deployers",
          factoryDeployerAdds(acts)).foreach(counts("pot_factories") = _)
      if (factoryAdminPatchHit) {
        // Sequential parity for mixed whole-array + delta batches: an
        // owner_set/clear_admins at seq S supersedes any add/remove delta
        // at seq < S (the reference's per-method RPC refresh always lands
        // on final chain state), so drop superseded patches before the
        // read-modify-write.
        val setsMax = factoryCfg.filter(col("admins").isNotNull)
          .groupBy("account").agg(max(struct(seq.map(col): _*)).as("__set_seq"))
        val live = factoryAdminPatches(acts)
          .join(broadcast(setsMax), Seq("account"), "left")
          .filter(col("__set_seq").isNull ||
            struct(seq.map(col): _*) > col("__set_seq"))
          .drop("__set_seq")
        patchArrayColumn("pot_factories", Seq("account"), "admins", live)
          .foreach(counts("pot_factories") = _)
      }

      counts.toMap
    } finally {
      if (tinyBatch) spark.conf.set(shufConf, prevShuffle)
      midBatch.foreach(_.unpersist())
      receipts.unpersist(); acts.unpersist(); evts.unpersist()
    }
  }
}
