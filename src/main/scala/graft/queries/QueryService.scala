package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, LongType, StringType,
  TimestampType}

import graft.ingest.Schemas
import graft.operators.Relational

/** The read-side query plane: every REST route of the reference
  * (api/urls.py:37-132, SURVEY §2.11) as a DataFrame query with the same
  * filter → join → sort → paginate → nested-serialize shape. Each list
  * route is one [[QueryService.Listing]] (its `…Listing` method); the
  * page-number method beside it is that listing's [[Listing.page]].
  *
  * Pagination envelope matches the reference
  * ({count, next, previous, results}; api/pagination.py:8-24, default page
  * size 30). `count` is computed alongside the slice (A4); at 100 TB
  * gold-table cached counts replace the live count (SURVEY §7.4-6).
  *
  * Serializer FK expansion (J1) uses broadcast left joins — dimension
  * tables (accounts, tokens, pots) are small relative to facts.
  */
object QueryService {

  /** Sentinel page number for DRF's `?page=last` alias
    * (rest_framework PageNumberPagination.last_page_strings). Every
    * Page-construction site resolves it via [[resolveLast]] AFTER the
    * count is priced — the count job runs anyway for the envelope, so
    * `last` costs nothing extra. */
  val LastPage: Int = -1

  /** Offset ceiling for EAGER page materialization (paginateWith): up to
    * here the slice's per-partition heap is small and the count∥slice
    * overlap is pure win; beyond it the slice stays a lazy plan so a
    * past-the-end request costs only its count job. */
  val EagerSliceMaxOffset: Long = 1000000L

  /** Resolve [[LastPage]] against the priced count (django Paginator
    * num_pages floors at 1, so `last` of an empty set is page 1).
    *
    * DOCUMENTED DEVIATION (corner of the offset ceiling): on a set
    * whose page count exceeds Int.MaxValue (> ~2.1B pages, i.e.
    * > ~64B rows at the default page size), the resolved page clamps
    * to Int.MaxValue, whose offset is beyond the addressable slice
    * range — the envelope answers the typed 400 pointing at keyset
    * pagination, where DRF (64-bit Postgres OFFSET) would serve the
    * actual last page after an impossibly deep scan. Same rationale as
    * the envelope's offset ceiling: at that depth, offset pagination
    * is the wrong tool on either system; keyset serves the tail at
    * constant cost. */
  def resolveLast(count: Long, page: Int, pageSize: Int): Int =
    if (page != LastPage) page
    else math.min(
      math.max(1L, (count + pageSize - 1L) / pageSize),
      Int.MaxValue.toLong).toInt
  /** The reference's DEFAULT_PAGE_SIZE (base/settings.py:111,115);
    * companion-level so the serving tier shares the constant. */
  val DefaultPageSize = 30

  /** Collect a BOUNDED frame once and rebuild it as a LocalRelation:
    * the shared materialization idiom of the page/dim/keyset paths —
    * rows for driver-side inspection (cursors, key lists) and the local
    * frame so downstream plans never recompute the slice. NEVER call on
    * an unbounded frame. */
  private[queries] def materializeBounded(
      df: DataFrame): (Array[org.apache.spark.sql.Row], DataFrame) = {
    val rows = df.collect()
    (rows, df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema))
  }

  /** Pagination envelope ({count, next, previous, results} — the
    * reference's DRF shape). Top-level (companion) so pattern matches
    * need no outer-instance check. */
  final case class Page(count: Long, page: Int, pageSize: Int,
      results: DataFrame) {
    def hasNext: Boolean = page.toLong * pageSize < count
    def hasPrevious: Boolean = page > 1
    /** Nested-JSON rows (S8) — Spark's compact row JSON (null fields
      * omitted, decimals as numbers): the fast envelope render the
      * benches measure. BYTE-parity with DRF (explicit nulls,
      * two-decimal USD strings, Meta.fields order) is the Serializers
      * tier — route results whose entity has a serializer render
      * through it (Serializers.donationJson/potJson/accountJson/…). */
    def toJsonRows(): Array[String] = results.toJSON.collect()
  }

  /** One sort key of a list route: a column, its declared type (the
    * keyset cursor codec reads it, QueryServer.decodeCursor) and its
    * direction. A bare `desc` is desc_nulls_last, the null placement
    * keysetSlice's continuation predicate assumes. */
  final case class Key(name: String, tpe: DataType, asc: Boolean = true) {
    def order: Column = if (asc) col(name).asc else col(name).desc
  }

  /** One list route, declared once: its rows (filter, joins), its sort
    * keys (a total order, unique tie-break last), how a page-number
    * request prices its count and slices its page, and, on routes that
    * validate a status enum, the reference's 400 message for an invalid
    * one. Both paginations run off this one value, so a keyset walk
    * enumerates exactly the offset pages:
    *  - [[page]]: `page`/`page_size`, the reference's envelope;
    *  - [[after]]: the keyset continuation past `cursor`, the previous
    *    page's last sort-key values (None = the first page).
    * Building a Listing runs no Spark job and plans nothing; the rows are
    * built by the first page or continuation asked of it. Callers check
    * [[invalid]] first: an invalid status filter matches no rows. */
  final class Listing private[queries] (val keys: Seq[Key],
      val invalid: Option[String],
      pageOf: (Int, Int) => Page,
      afterOf: (Option[Seq[Any]], Int) => DataFrame) {
    def page(page: Int, pageSize: Int): Page = pageOf(page, pageSize)
    def after(cursor: Option[Seq[Any]], pageSize: Int): DataFrame =
      afterOf(cursor, pageSize)
  }

  /** The reference's 400 enum-validation message, byte-for-byte
    * (`{"message": f"Invalid status value: {status_param}"}` —
    * accounts/api.py:267,438; lists/api.py:154,211). Rendered through
    * [[Serializers.errorJson]] for the full body. */
  def invalidStatusMessage(bad: String): String =
    s"Invalid status value: $bad"

  /** The reference's 404 message, byte-for-byte
    * (`{"message": f"Account with ID {account_id} not found."}` —
    * accounts/api.py:157; lists/api.py:95; pots/api.py:137). */
  def notFoundMessage(entity: String, id: Any): String =
    s"$entity with ID $id not found."

  /** Executor for the per-request concurrent dimension fetches
    * (expandDonationPage). Cached pool, daemon threads: fetches are
    * short Spark actions, the pool must never pin the JVM alive, and a
    * fixed size could starve under concurrent requests. */
  private[queries] lazy val dimFetchEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool((r: Runnable) => {
        val t = new Thread(r, "dim-fetch")
        t.setDaemon(true)
        t
      }))
}

final class QueryService(t0: String => DataFrame) {
  import QueryService.{DefaultPageSize, Key, Listing, Page}

  /** Table loader, hardened against physical-layout leakage: the silver
    * store's synthetic partition columns (__pdate/__pbucket) are dropped
    * here even when the caller wires a raw `spark.read.parquet` loader, so
    * layout detail can never reach the API JSON surface (Page.toJsonRows
    * serializes whole rows). */
  private val t: String => DataFrame = name => {
    val df = t0(name)
    graft.ingest.SilverStore.layoutColumn(name).filter(df.columns.contains)
      .fold(df)(df.drop)
  }

  /** A route's page-number strategy over its rows and their order. */
  private type PageOf = (DataFrame, Seq[Column], Int, Int) => Page

  /** The [[Listing]] of `rows` sorted by `keys`. `pageOf` is the route's
    * page-number strategy, by default [[paginateWith]] priced by the rows'
    * own count; `expand` runs on each keyset page (the donation routes'
    * post-slice embeds). */
  private def listing(keys: Key*)(rows: => DataFrame,
      pageOf: PageOf = (df, order, page, size) =>
        paginateWith(df, order, page, size, df.count()),
      expand: DataFrame => DataFrame = identity,
      invalid: Option[String] = None): Listing = {
    lazy val df = rows
    new Listing(keys, invalid,
      (page, size) => pageOf(df, keys.map(_.order), page, size),
      (after, size) => expand(Relational.keysetSlice(df,
        keys.map(k => (col(k.name), k.asc)), after, size)))
  }

  /** [[paginateWith]] priced by `count` instead of the rows' own count. */
  private def countedBy(count: => Long): PageOf =
    (df, order, page, size) => paginateWith(df, order, page, size, count)

  /** The reference's 400 message for a status outside the route's enum. */
  private def badStatus(status: Option[String],
      allowed: Seq[String]): Option[String] =
    status.filterNot(allowed.contains).map(QueryService.invalidStatusMessage)

  private def byStatus(df: DataFrame, status: Option[String]): DataFrame =
    status.fold(df)(s => df.filter(col("status") === s))

  /** A status-validated route's page: Left(its 400 message) on a bad enum. */
  private def checkedPage(l: Listing, page: Int,
      pageSize: Int): Either[String, Page] =
    l.invalid.toLeft(l.page(page, pageSize))

  /** Count job ∥ slice+materialize — the donation routes' request shape
    * (paginateDonations) extended to every paginate route: the envelope
    * needs both, they are independent Spark actions, so a cold request
    * pays max(count, slice), not their sum. The page materializes to a
    * LocalRelation (≤ pageSize rows by construction), so the serializer
    * and any page-bounded embed expansion run without re-executing the
    * slice. `count` is by-name: the serving tier's gold countOverride
    * must only be priced on the fetch thread. (donors keeps its lazy
    * results frame instead — its zero-exchange bucketed plan is a pinned
    * artifact, BucketedSilverSpec — and its production count is a gold
    * counter lookup, so the overlap buys nothing there.) */
  private def paginateWith(df: DataFrame, order: Seq[Column], page: Int,
      pageSize: Int, count: => Long): Page = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      QueryService.dimFetchEc
    val fCount = Future(count)
    // page=last needs the count BEFORE slicing — that one path
    // serializes the two jobs; every numeric page keeps the overlap.
    val pg =
      if (page == QueryService.LastPage)
        QueryService.resolveLast(Await.result(fCount, Duration.Inf), page, pageSize)
      else page
    // Eager only while the slice is sanely addressed: past the eager
    // threshold the offset plan's per-partition heap is page·size rows,
    // and executing THAT eagerly for a page the envelope is about to
    // 404 against the count would hand any client a discarded-work (and
    // at the extreme, executor-memory) lever the lazy contract never
    // exposed. Beyond the threshold the slice stays lazy — the envelope
    // validates the page before serialize collects anything, and legit
    // deep walkers ride keyset.
    val lo = (pg.toLong - 1L) * pageSize
    // The eager slice launches CONCURRENTLY with the count (the A4
    // overlap: a cold request pays max(count, slice), not their sum) —
    // but under its own cancellable job group, gated on the count: a
    // page the count proves past the end NEVER materializes — the
    // envelope is about to 404 it, and executing the sort+offset job
    // for it would hand each distinct garbage page value a
    // discarded-work lever. The group tag is per-request-unique;
    // interruptOnCancel stays false (interrupting a pooled thread
    // mid-read can poison shared Hadoop FS clients — cancellation
    // lands at the next task boundary, which for a page slice is
    // milliseconds).
    val sliceCancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sliceTag = "eager-page-slice-" + java.util.UUID.randomUUID().toString
    val sc = df.sparkSession.sparkContext
    val eagerSlice: Option[Future[DataFrame]] =
      if (lo <= QueryService.EagerSliceMaxOffset)
        Some(Future {
          if (sliceCancelled.get) df.limit(0)
          else {
            sc.setJobGroup(sliceTag, "eager page slice",
              interruptOnCancel = false)
            try {
              // Re-check AFTER the group is set; the cancel side uses
              // cancelJobGroupAndFutureJobs, so even a job submitted
              // after the cancel call is killed — between the two, no
              // interleaving lets the discarded slice run to completion.
              if (sliceCancelled.get) df.limit(0)
              else materializeDim(sliceOrEmpty(df, order, pg, pageSize))
            } finally sc.clearJobGroup()
          }
        })
      else None
    // A count that FAILS must not leak the already-submitted eager
    // slice: without the cancel here, only the past-the-end branch
    // below would reach it, leaving a discarded sort+offset job running
    // per failed request. Flag + group-cancel mirror that branch.
    val c =
      try Await.result(fCount, Duration.Inf)
      catch { case e: Throwable =>
        sliceCancelled.set(true)
        if (eagerSlice.isDefined) sc.cancelJobGroupAndFutureJobs(sliceTag)
        throw e
      }
    val pastEnd =
      pg.toLong > math.max(1L, (c + pageSize - 1L) / pageSize)
    val results = eagerSlice match {
      case None => sliceOrEmpty(df, order, pg, pageSize)
      case Some(_) if pastEnd =>
        sliceCancelled.set(true)
        // AndFutureJobs: a slice job submitted AFTER this call is
        // cancelled too (plain cancelJobGroup only reaches jobs already
        // in flight — the submit-after-cancel interleave would leak the
        // whole discarded sort+offset job). The per-request-unique tag
        // keeps the future-jobs tombstone from touching anything else.
        sc.cancelJobGroupAndFutureJobs(sliceTag)
        df.limit(0)
      case Some(f) => Await.result(f, Duration.Inf)
    }
    Page(c, pg, pageSize, results)
  }

  /** [[Relational.pageSlice]] with the serving tier's degrade: the
    * library call fails LOUD on an offset beyond the addressable range
    * (Relational.PageOffsetOverflow — any other caller must not mistake
    * "unaddressable" for "empty"); the route layer alone answers the
    * empty frame, because QueryServer.envelope owns the document
    * semantics — 404 past-the-end first, then the typed 400 pointing at
    * keyset pagination. */
  private def sliceOrEmpty(df: DataFrame, order: Seq[Column],
      page: Int, pageSize: Int): DataFrame =
    try Relational.pageSlice(df, order, page, pageSize)
    catch { case _: Relational.PageOffsetOverflow => df.limit(0) }

  private def accounts = t("accounts")
  private def donations = t("donations")
  private def pots = t("pots")
  private def opt(name: String): Option[DataFrame] = scala.util.Try(t(name)).toOption

  /** The store's BUSIEST ids per route family — the production-shape
    * prewarm's targets (QueryServer.prewarm). Synthetic-id warms compile
    * the plans but skip the work real requests pay (full-page
    * materialization, dim fetches, gold-counter lookups); warming the
    * hottest real ids pays those too, off the socket path. Driver-cheap:
    * top-1 aggregations over single columns, run once at startup. Keys
    * absent when the backing table is missing/empty. */
  def hotIds: Map[String, String] = {
    def top(df: => DataFrame, grp: String): Option[String] =
      scala.util.Try {
        val d = df
        if (!d.columns.contains(grp)) None
        else d.filter(col(grp).isNotNull).groupBy(col(grp)).count()
          .orderBy(col("count").desc, col(grp).asc).limit(1)
          .collect().headOption.map(_.get(0).toString)
      }.toOption.flatten
    Seq(
      top(donations, "recipient").map("account" -> _),
      top(donations, "donor").map("donor" -> _),
      top(donations, "pot").map("pot" -> _)
        .orElse(top(pots, "account").map("pot" -> _)),
      top(t("list_registrations"), "list_id").map("list" -> _)
    ).flatten.toMap
  }

  private def colOr(df: DataFrame, name: String, tpe: String): Column =
    if (df.columns.contains(name)) col(name).cast(tpe) else lit(null).cast(tpe)

  /** AccountSerializer's stat fields (accounts/serializers.py:58-66),
    * normalized to the serializer's declared types. */
  private val accountStatFields = Seq(
    "total_donations_in_usd" -> "decimal(20,2)",
    "total_donations_out_usd" -> "decimal(20,2)",
    "total_matching_pool_allocations_usd" -> "decimal(20,2)",
    "donors_count" -> "bigint")

  /** Account dimension in full AccountSerializer shape
    * (accounts/serializers.py:55-66): id + gold stats + profile JSON. The
    * stats come from the gold account_stats table when wired. A per-call
    * `def`, NOT a cached lazy val: a resident service pinning the
    * first-read snapshot would keep serving pre-merge embeds after a
    * table swap — defeating ResultCache's marker-based immediate
    * invalidation — and would throw once maintenance vacuums the
    * swapped-out files. Plan reuse across calls comes from the caller's
    * loader (SilverStore.registerCached re-registers only on uid
    * change), not from pinning frames here. */
  private def accountDim: DataFrame = {
    val a = accounts
    val base = a.select(col("id"),
      colOr(a, "near_social_profile_data", "string").as("near_social_profile_data"))
    opt("account_stats") match {
      case Some(st) =>
        base.join(
          st.select(col("id") +: accountStatFields.map { case (n, tp) =>
            colOr(st, n, tp).as(n) }: _*),
          Seq("id"), "left")
      case None =>
        accountStatFields.foldLeft(base) { case (df, (n, tp)) =>
          df.withColumn(n, lit(null).cast(tp)) }
    }
  }

  private def accountStructFields: Seq[String] =
    "id" +: (accountStatFields.map(_._1) :+ "near_social_profile_data")

  /** Expand an account FK into a nested struct column (donor/recipient/…
    * embed; donations/serializers.py:44-49). An id with no account row
    * still embeds as {id, nulls…} (parity with the reference, where the
    * FK row always exists). */
  private def expandAccount(df: DataFrame, fk: String): DataFrame =
    expandAccountImpl(df, fk, bounded = false)

  /** Page-scoped account embed: `df` is a BOUNDED page (≤ pageSize
    * rows), so the account dim is first pruned to the page's FK ids by
    * a broadcast left-semi join — the ids push into the accounts scan
    * as a runtime filter (the store is bucketed AND sorted on id at
    * rest, so parquet row groups skip) — and only that ≤page-sized dim
    * slice broadcasts back for the left-outer embed. Nothing unbounded
    * is ever broadcast, at ANY corpus size: the Spark spelling of the
    * reference's prefetch_related (accounts/api.py:310). The unbounded
    * variant above broadcasts the whole dim — correct for the
    * reference-scale dims and for pre-slice expansion, a driver OOM on
    * a 100 TB accounts table. */
  private def expandAccountBounded(df: DataFrame, fk: String): DataFrame =
    expandAccountImpl(df, fk, bounded = true)

  private def expandAccountImpl(df: DataFrame, fk: String,
      bounded: Boolean): DataFrame = {
    val dim0 =
      if (bounded)
        accountDim.join(
          broadcast(df.select(df(fk).as("__pk")).na.drop().distinct()),
          accountDim("id") === col("__pk"), "left_semi")
      else accountDim
    embedAccountStruct(df, fk, dim0)
  }

  /** The embed join itself, dim source injected: `dim0` must be
    * accountDim-shaped (id + stats + profile). Shared by the unbounded /
    * bounded paths above and the donation page's one-fetch-for-all-FKs
    * local path. */
  private def embedAccountStruct(df: DataFrame, fk: String,
      dim0: DataFrame): DataFrame = {
    val obj = s"__${fk}_obj"
    val dim = broadcast(dim0.select(
      col("id").as(s"__${fk}_id"),
      struct(accountStructFields.map(dim0(_)): _*).as(obj)))
    val fallback = struct(
      df(fk).as("id") +:
        (accountStatFields.map { case (n, tp) => lit(null).cast(tp).as(n) } :+
          lit(null).cast("string").as("near_social_profile_data")): _*)
    df.join(dim, df(fk) === col(s"__${fk}_id"), "left")
      .withColumn(fk, when(df(fk).isNotNull, coalesce(col(obj), fallback)))
      .drop(s"__${fk}_id", obj)
  }

  /** TokenSerializer embed (tokens/serializers.py:6-13: id + metadata).
    * Adds a `token` struct column from the `ft` FK. */
  private def expandToken(df: DataFrame): DataFrame =
    expandTokenFrom(df, opt("tokens"))

  private def expandTokenFrom(df: DataFrame,
      tokens: Option[DataFrame]): DataFrame = {
    if (!df.columns.contains("ft")) return df
    val metaFields = Seq("name" -> "string", "symbol" -> "string",
      "icon" -> "string", "decimals" -> "int", "coingecko_id" -> "string")
    val fallback = struct(df("ft").as("id") +:
      metaFields.map { case (n, tp) => lit(null).cast(tp).as(n) }: _*)
    tokens match {
      case Some(tk) =>
        val dim = broadcast(tk.select(
          col("account").as("__ft_id"),
          struct(col("account").as("id") +: metaFields.map { case (n, tp) =>
            colOr(tk, n, tp).as(n) }: _*).as("__ft_obj")))
        df.join(dim, df("ft") === col("__ft_id"), "left")
          .withColumn("token",
            when(df("ft").isNotNull, coalesce(col("__ft_obj"), fallback)))
          .drop("__ft_id", "__ft_obj")
      case None =>
        df.withColumn("token", when(df("ft").isNotNull, fallback))
    }
  }

  /** PotSerializer field list (pots/serializers.py:16-54) with the
    * serializer's types; stats fields come from gold pot_stats, RPC-derived
    * fields (matching_pool_balance, cooldown_end, all_paid_out,
    * protocol_config_provider) stay null by the no-RPC design. */
  private val accountStructDdl =
    """STRUCT<id: STRING, total_donations_in_usd: DECIMAL(20,2),
      |total_donations_out_usd: DECIMAL(20,2),
      |total_matching_pool_allocations_usd: DECIMAL(20,2),
      |donors_count: BIGINT, near_social_profile_data: STRING>"""
      .stripMargin.replace("\n", " ")
  private val adminsArrayDdl = s"ARRAY<$accountStructDdl>"

  /** PotSerializer's Meta.fields order (pots/serializers.py:16-54) —
    * nested account embeds interleave with the plain fields. */
  private val potNested = Set("deployer", "owner", "admins", "chef")
  // The single authority for the 35-entry PotSerializer field list is the
  // serializer itself — a drifted copy here would desynchronize potDim's
  // struct layout from the JSON field order.
  private val potFieldOrder = Serializers.potFields
  private val potPlainTypes: Map[String, String] = Map(
    "account" -> "string", "pot_factory" -> "string",
    "deployed_at" -> "timestamp", "source_metadata" -> "string",
    "name" -> "string", "description" -> "string",
    "max_approved_applicants" -> "int", "base_currency" -> "string",
    "application_start" -> "timestamp", "application_end" -> "timestamp",
    "matching_round_start" -> "timestamp", "matching_round_end" -> "timestamp",
    "registry_provider" -> "string",
    "min_matching_pool_donation_amount" -> "string",
    "sybil_wrapper_provider" -> "string", "custom_sybil_checks" -> "string",
    "custom_min_threshold_score" -> "int",
    "referral_fee_matching_pool_basis_points" -> "int",
    "referral_fee_public_round_basis_points" -> "int",
    "chef_fee_basis_points" -> "int", "total_matching_pool" -> "string",
    "total_matching_pool_usd" -> "decimal(20,2)",
    "matching_pool_balance" -> "string",
    "matching_pool_donations_count" -> "bigint",
    "total_public_donations" -> "string",
    "total_public_donations_usd" -> "decimal(20,2)",
    "public_donations_count" -> "bigint", "cooldown_end" -> "timestamp",
    "cooldown_period_ms" -> "bigint", "all_paid_out" -> "boolean",
    "protocol_config_provider" -> "string")

  private def nullPotField(n: String): Column =
    if (n == "admins") lit(null).cast(adminsArrayDdl)
    else if (potNested(n)) lit(null).cast(accountStructDdl)
    else lit(null).cast(potPlainTypes(n))

  /** Expand an ARRAY<STRING> of account ids into an order-preserving
    * array of account objects (a DRF many=True AccountSerializer embed:
    * pot admins, list admins, factory admins/whitelisted_deployers).
    * posexplode keeps the M2M order through the shuffle, array_sort
    * restores it after collect_list; rows with no entries coalesce to []
    * (DRF's empty M2M), not null. `src` supplies the (key, id-array)
    * pairs — the caller's PRE-join frame, so the explode never runs over
    * already-widened rows — and the embedded array lands back on `df` by
    * `key`. A `src` without the column degrades to a null-typed array
    * (legacy fixture tolerance, same contract as the FK embeds). */
  private def expandAccountArray(df: DataFrame, src: DataFrame,
      key: String, field: String): DataFrame = {
    if (!src.columns.contains(field))
      return df.drop(field).withColumn(field, lit(null).cast(adminsArrayDdl))
    val dim0 = accountDim
    val arr = src
      .select(col(key).as("__pk"),
        posexplode(col(field)).as(Seq("__pos", "__aid")))
      .join(broadcast(dim0.select(
        col("id").as("__aid"),
        struct(accountStructFields.map(dim0(_)): _*).as("__obj"))),
        Seq("__aid"), "left")
      .withColumn("__obj", coalesce(col("__obj"), struct(
        col("__aid").as("id") +:
          (accountStatFields.map { case (n, tp) => lit(null).cast(tp).as(n) } :+
            lit(null).cast("string").as("near_social_profile_data")): _*)))
      .groupBy(col("__pk"))
      .agg(transform(
        array_sort(collect_list(struct(col("__pos"), col("__obj")))),
        x => x.getField("__obj")).as("__arr_obj"))
    df.join(broadcast(arr), df(key) === arr("__pk"), "left")
      .withColumn(field,
        coalesce(col("__arr_obj"), array().cast(adminsArrayDdl)))
      .drop("__pk", "__arr_obj")
  }

  /** Rebuild the silver layer's JSON-string `source_metadata` into its
    * typed struct so the serializers render it as the OBJECT DRF emits
    * for the model's JSONField (pots/models.py source_metadata) — not a
    * JSON-escaped string. Field NAMES are the ingest contract's
    * (EntityTransforms potPayload/factoryPayload); field ORDER is the
    * reference's documented rendering — (link, version, commit_hash),
    * per SIMPLE_POT_EXAMPLE / SIMPLE_POT_FACTORY_EXAMPLE
    * (pots/serializers.py:129-133,188-192) — from_json matches by name,
    * so the schema order IS the output order. A frame already carrying
    * a struct (spec fixtures) passes through. */
  private def inlineSourceMetadata(df: DataFrame): DataFrame =
    if (!df.columns.contains("source_metadata")) df
    else df.schema("source_metadata").dataType match {
      case org.apache.spark.sql.types.StringType =>
        df.withColumn("source_metadata", from_json(col("source_metadata"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "link STRING, version STRING, commit_hash STRING")))
      case _ => df
    }

  /** Pot dimension in full PotSerializer shape and field order:
    * deployer/owner/chef embedded as account objects, admins as an
    * order-preserving array of account objects (pots/serializers.py:55-58,
    * empty M2M serializes as [], not null), gold stats joined in. A
    * per-call `def`, NOT a cached lazy val — same freshness contract as
    * [[accountDim]]: pinning the first-read snapshot would keep serving
    * pre-merge embeds after a table swap and break once maintenance
    * vacuums the swapped-out files; plan reuse across calls comes from
    * the caller's loader, not from pinning frames here. */
  private def potDim: DataFrame = potDimFor(None)

  /** [[potDim]] pruned AT THE SOURCE to `potIds` when given: the filter
    * lands under BOTH the stats join and the admins aggregation subplan
    * (which is built from the same pots scan), so a donation page's pot
    * embed prices ≤ pageSize pots — not the whole dimension's admins
    * explode. */
  private def potDimFor(potIds: Option[Seq[String]]): DataFrame = {
    val p0 = inlineSourceMetadata(potIds match {
      case Some(ks) if ks.nonEmpty => pots.filter(col("account").isin(ks: _*))
      case Some(_) => emptyLike(pots)
      case None => pots
    })
    // Gold stats override the pot row's own handler-written copies (the
    // silver pots table carries total_public_donations etc. from config
    // events), with the silver value as fallback where gold has no row
    // (a pot with no indexed donations) — the reference's shape exactly:
    // handlers write the Pot model fields and the beat job overwrites
    // them (base/celery.py:27-49). Gold columns ride a __g_ prefix so
    // the join can never turn same-named columns ambiguous.
    val potStatCols = Seq(
      "total_matching_pool" -> "string",
      "total_matching_pool_usd" -> "decimal(20,2)",
      "matching_pool_donations_count" -> "bigint",
      "total_public_donations" -> "string",
      "total_public_donations_usd" -> "decimal(20,2)",
      "public_donations_count" -> "bigint")
    val withStats = opt("pot_stats") match {
      case Some(st) =>
        val joined = p0.join(
          broadcast(st.select(col("pot").as("account"),
            colOr(st, "total_matching_pool_dec", "decimal(38,0)")
              .cast("string").as("__g_total_matching_pool"),
            colOr(st, "total_matching_pool_usd", "decimal(20,2)")
              .as("__g_total_matching_pool_usd"),
            colOr(st, "matching_pool_donations_count", "bigint")
              .as("__g_matching_pool_donations_count"),
            colOr(st, "total_public_donations_dec", "decimal(38,0)")
              .cast("string").as("__g_total_public_donations"),
            colOr(st, "total_public_donations_usd", "decimal(20,2)")
              .as("__g_total_public_donations_usd"),
            colOr(st, "public_donations_count", "bigint")
              .as("__g_public_donations_count"))),
          Seq("account"), "left")
        potStatCols.foldLeft(joined) { case (df, (n, tp)) =>
          df.withColumn(n,
            coalesce(col(s"__g_$n"), colOr(df, n, tp).cast(tp)))
        }.drop(potStatCols.map { case (n, _) => s"__g_$n" }: _*)
      case None => p0
    }
    val withFks = Seq("deployer", "owner", "chef")
      .filter(withStats.columns.contains)
      .foldLeft(withStats)(expandAccount)
    val withAdmins = expandAccountArray(withFks, p0, "account", "admins")
    withAdmins.select(potFieldOrder.map { n =>
      if (withAdmins.columns.contains(n)) col(n).as(n)
      else if (potNested(n)) nullPotField(n).as(n)
      else colOr(withAdmins, n, potPlainTypes(n)).as(n)
    }: _*)
  }

  /** The pot embed struct for donation JSON (donations/serializers.py:47):
    * full PotSerializer field set in Meta.fields order. A pot id whose row
    * is missing (deployed before stream start, no snapshot) still embeds
    * as {account, nulls…} so the id is never lost and `pot.account`
    * filters keep working; with no pots table wired at all, every pot
    * embed takes that fallback shape. */
  private def expandPot(df: DataFrame): DataFrame =
    expandPotFrom(df,
      if (opt("pots").isDefined) Some(potDim) else None)

  /** Pot embed with the dim injected: `dim0opt` must be potDim-shaped
    * (PotSerializer field set). None ⇒ no pots table wired, every embed
    * takes the {account, nulls…} fallback. */
  private def expandPotFrom(df: DataFrame,
      dim0opt: Option[DataFrame]): DataFrame = {
    if (!df.columns.contains("pot")) return df
    dim0opt match {
      case Some(dim0) =>
        val fallback = struct(
          df("pot").as("account") +: potFieldOrder.tail.map(n =>
            lit(null).cast(dim0.schema(n).dataType).as(n)): _*)
        val dim = broadcast(dim0.select(
          dim0("account").as("__pot_id"),
          struct(potFieldOrder.map(n => dim0(n).as(n)): _*).as("__pot_obj")))
        df.join(dim, df("pot") === col("__pot_id"), "left")
          .withColumn("pot",
            when(df("pot").isNotNull, coalesce(col("__pot_obj"), fallback)))
          .drop("__pot_id", "__pot_obj")
      case None =>
        val fallback = struct(
          df("pot").as("account") +:
            potFieldOrder.tail.map(n => nullPotField(n).as(n)): _*)
        df.withColumn("pot", when(df("pot").isNotNull, fallback))
    }
  }

  // Donation routes never expand pre-slice anymore: filters hit the raw
  // donor-bucketed scan, the slice bounds the rows, and embeds run only
  // on the surviving page (paginateDonations / donationListing /
  // expandDonationPage below) — the expanded struct's id IS the raw FK
  // by construction, so raw-column filtering is semantically identical
  // to filtering the struct field after expansion.

  private val donationKeys =
    Seq(Key("donated_at", TimestampType, asc = false), Key("on_chain_id", LongType))
  private val donationOrder = donationKeys.map(_.order)

  /** Embed expansion for a BOUNDED page of donation rows: account
    * embeds through [[expandAccountBounded]] (dim pruned to the page's
    * ids — see its scaladoc for the 100 TB contract); token/pot dims
    * are metadata-bounded and keep the plain broadcast embed. Joins
    * scramble row order, so the page re-sorts (≤ pageSize rows). */
  private def expandDonationPage(pageRows: DataFrame): DataFrame = {
    // The DRF request shape — fetch the page, then prefetch embeds:
    //
    //  1. Materialize the page (≤ pageSize rows by construction). Without
    //     this, every dim-pruning subplan below embeds a COPY of the
    //     page's TakeOrdered slice and one request re-executes the
    //     fact-table scan per embed.
    //  2. The embed ids come off the collected rows DRIVER-side — no
    //     Spark job prices id extraction.
    //  3. The three dimension slices (accounts ONCE for all four FKs,
    //     tokens, potDim) fetch CONCURRENTLY, each pruned to the page's
    //     ids — request latency pays the slowest dim fetch, not four
    //     account scans + a token scan + a pot scan in sequence.
    //  4. The embed joins and the serializer then run over LocalRelations
    //     only — no further table scans inside the request.
    //
    // Scale contract unchanged: nothing unbounded is collected — the page
    // is ≤ pageSize rows, each dim slice is ≤ (4 × pageSize) keyed rows.
    val spark = pageRows.sparkSession
    val rows = pageRows.collect()
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), pageRows.schema)
    val cols = pageRows.schema.fieldNames.toSet
    def ids(c: String): Seq[String] =
      if (!cols(c)) Seq.empty
      else rows.flatMap(r => Option(r.getAs[String](c))).distinct.toSeq
    val fks = Seq("donor", "recipient", "referrer", "chef").filter(cols)
    val acctIds = fks.flatMap(ids).distinct

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      QueryService.dimFetchEc
    def slice(dim: => DataFrame, key: String,
        ks: Seq[String]): Future[DataFrame] = Future {
      val d = dim
      if (ks.isEmpty) emptyLike(d)
      else materializeDim(d.filter(col(key).isin(ks: _*)))
    }
    val fAcct = slice(accountDim, "id", acctIds)
    val fTok = opt("tokens").map(tk => slice(tk, "account", ids("ft")))
    val potIds = ids("pot")
    val fPot = opt("pots").map(_ =>
      slice(potDimFor(Some(potIds)), "account", potIds))
    val acctLocal = Await.result(fAcct, Duration.Inf)
    val tokLocal = fTok.map(Await.result(_, Duration.Inf))
    val potLocal = fPot.map(Await.result(_, Duration.Inf))

    val withAccounts =
      fks.foldLeft(local)((d, fk) => embedAccountStruct(d, fk, acctLocal))
    expandPotFrom(expandTokenFrom(withAccounts, tokLocal), potLocal)
      .orderBy(donationOrder: _*)
  }

  /** Collect a BOUNDED frame into a LocalRelation (pages ≤ pageSize,
    * dim slices ≤ the page's key count — never call on an unbounded
    * frame). */
  private def materializeDim(df: DataFrame): DataFrame =
    QueryService.materializeBounded(df)._2

  private def emptyLike(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), df.schema)

  /** Paginated donation route body — BOTH request jobs run on the raw
    * filtered facts, with serializer embeds only on the returned page:
    *
    *  - the envelope's `count` is priced on the raw facts (DRF's own
    *    shape: pagination counts the queryset BEFORE serialization);
    *    every embed is a key-unique LEFT join, so expansion preserves
    *    cardinality exactly.
    *  - the page SLICES the raw facts first (TakeOrdered over the
    *    donor-bucketed scan), then [[expandDonationPage]] embeds the
    *    ≤ pageSize surviving rows — so the dimension joins never see
    *    the fact table, and the account dim is never broadcast
    *    unbounded (the 100 TB OOM the pre-slice expansion would hit). */
  private def paginateDonations(raw: DataFrame, page: Int, pageSize: Int,
      countOverride: => Option[Long]): Page = {
    // countOverride (BY-NAME): the serving tier can price the envelope
    // count from the gold counter states (recv_pairs/donor_state/
    // pot_state) instead of a per-request count job — at 100 TB the
    // count job scans the whole fact table for recipient-filtered routes
    // (donations is donor-bucketed, not recipient-bucketed). The QUERY
    // layer stays pure: None (the default, and every spec/oracle path)
    // keeps the exact DRF count-the-queryset semantics; the override's
    // exactness contract (gold current with silver, marker-checked) is
    // the caller's (gold.GoldCounts + QueryServer).
    //
    // The count — override lookup or live count job — runs CONCURRENTLY
    // with the slice + embed pipeline: the two sides are independent
    // Spark actions, so the request pays max(count, slice+embeds), not
    // their sum.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      QueryService.dimFetchEc
    val fCount = Future(countOverride.getOrElse(raw.count()))
    // page=last needs the count BEFORE slicing — that one path serializes
    // the two jobs; every numeric page keeps the concurrent shape.
    val pg =
      if (page == QueryService.LastPage)
        QueryService.resolveLast(Await.result(fCount, Duration.Inf), page, pageSize)
      else page
    // Deep offsets gate on the count before paying the slice (the
    // expansion must collect the page, so it cannot stay lazy like
    // paginateWith's generic branch): a past-the-end page never
    // executes the page·size per-partition offset heap — the envelope
    // 404s on the count without touching results.
    val lo = (pg.toLong - 1L) * pageSize
    val results =
      if (lo <= QueryService.EagerSliceMaxOffset)
        expandDonationPage(sliceOrEmpty(raw, donationOrder, pg, pageSize))
      else {
        val c = Await.result(fCount, Duration.Inf)
        if (pg.toLong > math.max(1L, (c + pageSize - 1L) / pageSize))
          raw.limit(0)
        else expandDonationPage(sliceOrEmpty(raw, donationOrder, pg, pageSize))
      }
    Page(Await.result(fCount, Duration.Inf), pg, pageSize, results)
  }

  /** A donation route's listing: the facts matching `filter`, both
    * paginations slicing the raw facts and embedding only the surviving
    * page ([[paginateDonations]]; the keyset page through
    * [[expandDonationPage]]). */
  private def donationListing(filter: Column,
      countOverride: => Option[Long]): Listing =
    listing(donationKeys: _*)(donations.filter(filter),
      (raw, _, page, size) => paginateDonations(raw, page, size, countOverride),
      expandDonationPage)

  /** List embed for registration rows (ListRegistrationSerializer
    * declares `list = ListSerializer()`, lists/serializers.py:52): the
    * `list_id` FK becomes a full ListSerializer struct from the injected
    * (pruned, materialized) list dim; a dangling id still embeds as
    * {on_chain_id, nulls…}. No lists table ⇒ flat degrade (the
    * serializer's withAlias tolerance). */
  private def expandListFrom(df: DataFrame,
      dimLocal: Option[DataFrame]): DataFrame = {
    if (!df.columns.contains("list_id")) return df
    dimLocal match {
      case Some(dim0) =>
        val fallback = struct(
          df("list_id").as("on_chain_id") +:
            Serializers.listFields.tail.map(n =>
              lit(null).cast(dim0.schema(n).dataType).as(n)): _*)
        val dim = broadcast(dim0.select(
          dim0("on_chain_id").as("__list_key"),
          struct(Serializers.listFields.map(n => dim0(n).as(n)): _*)
            .as("__list_obj")))
        df.join(dim, df("list_id") === col("__list_key"), "left")
          .withColumn("list",
            when(df("list_id").isNotNull, coalesce(col("__list_obj"), fallback)))
          .drop("__list_key", "__list_obj")
      case None => df
    }
  }

  /** Embed expansion for a BOUNDED page of list-registration rows
    * (ListRegistrationSerializer, lists/serializers.py:36-55: full list
    * object + registrant/registered_by accounts) — the
    * [[expandDonationPage]] pattern: materialize the ≤ pageSize page,
    * ONE account fetch for both FKs + the list dim pruned to the page's
    * ids, concurrent fetches, embeds over LocalRelations, re-sort on the
    * routes' shared ordering. Serving-tier only. */
  def listRegistrationExpanded(pageRows: DataFrame): DataFrame = {
    val (rows, local) = QueryService.materializeBounded(pageRows)
    val cols = pageRows.schema.fieldNames.toSet
    def strIds(c: String): Seq[String] =
      if (!cols(c)) Seq.empty
      else rows.flatMap(r => Option(r.getAs[String](c))).distinct.toSeq
    val fks = Seq("registrant", "registered_by").filter(cols)
    val acctIds = fks.flatMap(strIds).distinct
    val listIds: Seq[Long] =
      if (!cols("list_id")) Seq.empty
      else rows.flatMap(r => Option(r.getAs[Any]("list_id"))
        .map(_.asInstanceOf[Number].longValue())).distinct.toSeq
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      QueryService.dimFetchEc
    val fAcct = Future {
      if (acctIds.isEmpty) emptyLike(accountDim)
      else materializeDim(accountDim.filter(col("id").isin(acctIds: _*)))
    }
    val fList = opt("lists").map(_ => Future {
      if (listIds.isEmpty) emptyLike(listDim)
      else materializeDim(listDim.filter(col("on_chain_id").isin(listIds: _*)))
    })
    val acctLocal = Await.result(fAcct, Duration.Inf)
    val listLocal = fList.map(Await.result(_, Duration.Inf))
    val withAccounts =
      fks.foldLeft(local)((d, fk) => embedAccountStruct(d, fk, acctLocal))
    expandListFrom(withAccounts, listLocal)
      .orderBy(col("submitted_at").desc, col("on_chain_id").asc)
  }

  /** Embed expansion for a BOUNDED page of pot-application rows
    * (PotApplicationSerializer, pots/serializers.py:97-99: full pot
    * object + applicant account) — the [[expandDonationPage]] pattern:
    * materialize the ≤ pageSize page, prune both dims to the page's ids
    * with concurrent fetches, embed over LocalRelations only, re-sort.
    * The re-sort key (submitted_at desc, pot asc, applicant asc) is a
    * superset of BOTH application routes' orderings — each route holds
    * one of the tie-break keys constant, so the extra key never reorders
    * its pages. Serving-tier only: the pure-route Page keeps the raw FK
    * frame for its count/slice jobs. */
  def potApplicationExpanded(pageRows: DataFrame): DataFrame = {
    val (rows, local) = QueryService.materializeBounded(pageRows)
    val cols = pageRows.schema.fieldNames.toSet
    def ids(c: String): Seq[String] =
      if (!cols(c)) Seq.empty
      else rows.flatMap(r => Option(r.getAs[String](c))).distinct.toSeq
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      QueryService.dimFetchEc
    val acctIds = ids("applicant")
    val potIds = ids("pot")
    val fAcct = Future {
      if (acctIds.isEmpty) emptyLike(accountDim)
      else materializeDim(accountDim.filter(col("id").isin(acctIds: _*)))
    }
    val fPot = opt("pots").map(_ => Future {
      if (potIds.isEmpty) emptyLike(potDimFor(Some(Seq.empty)))
      else materializeDim(potDimFor(Some(potIds)))
    })
    val acctLocal = Await.result(fAcct, Duration.Inf)
    val potLocal = fPot.map(Await.result(_, Duration.Inf))
    val withApplicant =
      if (cols("applicant")) embedAccountStruct(local, "applicant", acctLocal)
      else local
    expandPotFrom(withApplicant, potLocal)
      .orderBy(col("submitted_at").desc, col("pot.account").asc,
        col("applicant.id").asc)
  }

  // ---------------------------------------------------- accounts routes

  /** GET /v1/accounts (accounts/api.py:95-123): scan, order id. Rows are
    * the AccountSerializer shape (id + gold stats + profile — the
    * accountDim), never raw silver columns: the raw frame carries ingest
    * seq columns that must not leak into API JSON, and the reference
    * guarantees the four stat fields on every account row
    * (accounts/serializers.py:55-66). Its keyset form is the 100 TB
    * pagination path: a pushed-down range predicate plus
    * TakeOrderedAndProject instead of an offset scan. */
  def accountsListing: Listing = listing(Key("id", StringType))(accountDim)
  def accountsList(page: Int = 1, pageSize: Int = DefaultPageSize): Page =
    accountsListing.page(page, pageSize)

  /** GET /v1/accounts/{id} (accounts/api.py:126-160): one
    * AccountSerializer-shaped row. */
  def accountDetail(id: String): DataFrame =
    accountDim.filter(col("id") === id)

  /** GET /v1/accounts/{id}/active_pots [?status=live]
    * (accounts/api.py:163-217): approved applications → pots, optional
    * live-interval filter (J3 + P6). Page-number only at the serving
    * tier: rows filtered on request-time liveness have no cursor that
    * stays valid across requests. */
  def accountActivePotsListing(id: String, live: Boolean,
      now: java.sql.Timestamp): Listing =
    listing(Key("account", StringType)) {
      val approvedPots = t("pot_applications")
        .filter(col("applicant") === id && col("status") === "Approved")
        .select(col("pot").as("account"))
      val p = potDim
      val base = Relational.semiJoin(p, approvedPots,
        p("account") === approvedPots("account"))
      if (live)
        base.filter(col("matching_round_start") <= lit(now) &&
          col("matching_round_end") >= lit(now))
      else base
    }
  def accountActivePots(id: String, live: Boolean,
      now: java.sql.Timestamp, page: Int = 1, pageSize: Int = DefaultPageSize): Page =
    accountActivePotsListing(id, live, now).page(page, pageSize)

  /** GET /v1/accounts/{id}/pot_applications [?status]
    * (accounts/api.py:220-272): P3 enum validation then filter. */
  def accountPotApplicationsListing(id: String, status: Option[String]): Listing =
    listing(Key("submitted_at", TimestampType, asc = false), Key("pot", StringType))(
      byStatus(t("pot_applications").filter(col("applicant") === id), status),
      invalid = badStatus(status, Schemas.applicationStatuses))
  def accountPotApplications(id: String, status: Option[String],
      page: Int = 1, pageSize: Int = DefaultPageSize): Either[String, Page] =
    checkedPage(accountPotApplicationsListing(id, status), page, pageSize)

  /** GET /v1/accounts/{id}/donations_received (accounts/api.py:275-313). */
  def accountDonationsReceivedListing(id: String,
      countOverride: => Option[Long] = None): Listing =
    donationListing(col("recipient") === id, countOverride)
  def accountDonationsReceived(id: String, page: Int = 1,
      pageSize: Int = DefaultPageSize,
      countOverride: => Option[Long] = None): Page =
    accountDonationsReceivedListing(id, countOverride).page(page, pageSize)

  /** GET /v1/accounts/{id}/donations_sent (accounts/api.py:316-354). */
  def accountDonationsSentListing(id: String,
      countOverride: => Option[Long] = None): Listing =
    donationListing(col("donor") === id, countOverride)
  def accountDonationsSent(id: String, page: Int = 1,
      pageSize: Int = DefaultPageSize,
      countOverride: => Option[Long] = None): Page =
    accountDonationsSentListing(id, countOverride).page(page, pageSize)

  /** GET /v1/accounts/{id}/payouts_received (accounts/api.py:357-395):
    * P4 null predicate on paid_at. */
  def accountPayoutsReceivedListing(id: String): Listing =
    listing(Key("paid_at", TimestampType, asc = false), Key("pot", StringType))(
      t("pot_payouts").filter(col("recipient") === id && col("paid_at").isNotNull))
  def accountPayoutsReceived(id: String, page: Int = 1,
      pageSize: Int = DefaultPageSize): Page =
    accountPayoutsReceivedListing(id).page(page, pageSize)

  /** GET /v1/accounts/{id}/list-registrations [?status]
    * (accounts/api.py:398-443). */
  def accountListRegistrationsListing(id: String, status: Option[String]): Listing =
    listing(registrationKeys: _*)(
      byStatus(t("list_registrations").filter(col("registrant") === id), status),
      invalid = badStatus(status, Schemas.registrationStatuses))
  def accountListRegistrations(id: String, status: Option[String],
      page: Int = 1, pageSize: Int = DefaultPageSize): Either[String, Page] =
    checkedPage(accountListRegistrationsListing(id, status), page, pageSize)

  private val registrationKeys =
    Seq(Key("submitted_at", TimestampType, asc = false), Key("on_chain_id", LongType))

  /** GET /v1/donors [?sort=most_donated_usd] (accounts/api.py:50-92):
    * J2 semi-join (accounts with ≥1 outgoing donation) + optional O2
    * sort over the gold account_stats. accountDim already carries
    * total_donations_out_usd (null-typed when the gold table has not been
    * built yet — the route must not 500 on a fresh deployment where the
    * beat has never run). The keyset form is the leaderboard deep-walk:
    * its stat cursor is stable BETWEEN gold beats exactly as the offset
    * pages' frontiers are — a refresh mid-walk can shift the frontier
    * either way; the reference's offset pages carry the same anomaly.
    * `countOverride`: same contract as the donation routes — the serving
    * tier can price the envelope count from gold (global_stats
    * total_donors_count) instead of a per-request semi-join count. The
    * page slice stays lazy: its zero-exchange bucketed plan is a pinned
    * artifact (BucketedSilverSpec). */
  def donorsListing(sortMostDonated: Boolean,
      countOverride: => Option[Long] = None): Listing = {
    val id = Key("id", StringType)
    val keys =
      if (sortMostDonated)
        Seq(Key("total_donations_out_usd", DecimalType(20, 2), asc = false), id)
      else Seq(id)
    listing(keys: _*)({
      val a = accountDim
      val d = donations
      Relational.semiJoin(a, d, a("id") === d("donor"))
    }, (rows, order, page, size) => {
      val c = countOverride.getOrElse(rows.count())
      val pg = QueryService.resolveLast(c, page, size)
      Page(c, pg, size, sliceOrEmpty(rows, order, pg, size))
    })
  }
  def donors(sortMostDonated: Boolean, page: Int = 1,
      pageSize: Int = DefaultPageSize,
      countOverride: => Option[Long] = None): Page =
    donorsListing(sortMostDonated, countOverride).page(page, pageSize)

  // ---------------------------------------------------- lists routes

  /** List dimension in full ListSerializer shape and field order
    * (lists/serializers.py:9-33): owner embedded as an account object,
    * admins as an order-preserving account array. Lists are a dimension
    * at any corpus size (one row per created list), so the embeds stay
    * broadcast-scale; same per-call-def freshness contract as
    * [[accountDim]]/[[potDim]]. */
  private def listDim: DataFrame = {
    val l0 = t("lists")
    val withOwner =
      if (l0.columns.contains("owner")) expandAccount(l0, "owner")
      else l0.withColumn("owner", lit(null).cast(accountStructDdl))
    val withAdmins = expandAccountArray(withOwner, l0, "on_chain_id", "admins")
    val listPlainTypes = Map(
      "on_chain_id" -> "bigint", "name" -> "string",
      "description" -> "string", "cover_image_url" -> "string",
      "admin_only_registrations" -> "boolean",
      "default_registration_status" -> "string",
      "created_at" -> "timestamp", "updated_at" -> "timestamp")
    withAdmins.select(Serializers.listFields.map(n =>
      if (withAdmins.columns.contains(n)) col(n).as(n)
      else lit(null).cast(listPlainTypes(n)).as(n)): _*)
  }

  /** GET /v1/lists (lists/api.py:33-61): ListSerializer shape — count on
    * the raw lists table, slice over [[listDim]] (key-unique LEFT joins
    * only, the potsList contract). */
  def listsListing: Listing =
    listing(Key("on_chain_id", LongType))(listDim, countedBy(t("lists").count()))
  def listsList(page: Int = 1, pageSize: Int = DefaultPageSize): Page =
    listsListing.page(page, pageSize)

  /** GET /v1/lists/{id} (lists/api.py:64-98). */
  def listDetail(id: Long): DataFrame =
    listDim.filter(col("on_chain_id") === id)

  /** GET /v1/lists/{id}/registrations [?status][?category]
    * (lists/api.py:101-164): P3 enum validation, list scoping, status
    * filter, and the P7 category iregex over the registrant's social
    * profile. */
  def listRegistrationsListing(listId: Long, status: Option[String],
      category: Option[String]): Listing =
    listing(registrationKeys: _*)({
      val st = byStatus(
        t("list_registrations").filter(col("list_id") === listId), status)
      category match {
        case Some(c) =>
          // registrant.near_social_profile_data.plCategories iregex
          // '\[.*?"{cat}".*?\]' (lists/api.py:157-161)
          val joined = st.join(
            broadcast(accounts.select(col("id").as("__rid"),
              col("near_social_profile_data"))),
            col("registrant") === col("__rid"), "left")
          joined.filter(regexp_like(
            get_json_object(col("near_social_profile_data"), "$.plCategories"),
            lit("(?i)\\[.*?\"" + java.util.regex.Pattern.quote(c) + "\".*?\\]")))
            .drop("__rid", "near_social_profile_data")
        case None => st
      }
    }, invalid = badStatus(status, Schemas.registrationStatuses))
  def listRegistrations(listId: Long, status: Option[String],
      category: Option[String], page: Int = 1,
      pageSize: Int = DefaultPageSize): Either[String, Page] =
    checkedPage(listRegistrationsListing(listId, status, category), page, pageSize)

  /** GET /v1/lists/{id}/random_registration [?status]
    * (lists/api.py:167-225): O5 — deterministic seeded pick (rand() in the
    * reference; we pin to an md5-ordered pick for replayability). Performs
    * the same status-enum validation as its sibling routes — the
    * reference 400s on an invalid status (lists/api.py:211) rather than
    * returning an empty pick. */
  def randomRegistration(listId: Long,
      status: Option[String]): Either[String, DataFrame] =
    badStatus(status, Schemas.registrationStatuses).toLeft(
      byStatus(t("list_registrations").filter(col("list_id") === listId), status)
        .orderBy(md5(col("on_chain_id").cast("string").cast("binary")).asc,
          col("on_chain_id").asc).limit(1))

  // ---------------------------------------------------- pots routes

  /** GET /v1/pots (pots/api.py:48-75): PotSerializer shape — account
    * objects embedded for deployer/owner/chef/admins
    * (pots/serializers.py:55-58). Count on the raw pots table: potDim
    * only adds key-unique LEFT joins (gold stats by account;
    * deployer/owner/chef account embeds by id) — same
    * count-before-serialize contract as the donation routes
    * (paginateDonations). */
  def potsListing: Listing =
    listing(Key("account", StringType))(potDim, countedBy(pots.count()))
  def potsList(page: Int = 1, pageSize: Int = DefaultPageSize): Page =
    potsListing.page(page, pageSize)

  /** Pot-factory dimension in full PotFactorySerializer shape and field
    * order (pots/serializers.py:61-80): owner/protocol_fee_recipient
    * embedded as account objects, admins/whitelisted_deployers as
    * order-preserving account arrays, source_metadata inlined back to
    * its typed object. Factories are a handful of rows at any corpus
    * size; same per-call-def freshness contract as [[potDim]]. */
  private def potFactoryDim: DataFrame = {
    val f0 = inlineSourceMetadata(t("pot_factories"))
    val withFks = Seq("owner", "protocol_fee_recipient")
      .foldLeft(f0) { (df, fk) =>
        if (df.columns.contains(fk)) expandAccount(df, fk)
        else df.withColumn(fk, lit(null).cast(accountStructDdl))
      }
    val withArrays = Seq("admins", "whitelisted_deployers")
      .foldLeft(withFks)((df, f) => expandAccountArray(df, f0, "account", f))
    val factoryPlainTypes = Map(
      "account" -> "string", "deployed_at" -> "timestamp",
      "source_metadata" -> "string",
      "protocol_fee_basis_points" -> "int",
      "require_whitelist" -> "boolean")
    withArrays.select(Serializers.potFactoryFields.map(n =>
      if (withArrays.columns.contains(n)) col(n).as(n)
      else lit(null).cast(factoryPlainTypes(n)).as(n)): _*)
  }

  /** GET /v1/potfactories (pots/api.py:78-105): PotFactorySerializer
    * shape — count on the raw table, slice over [[potFactoryDim]]. */
  def potFactoriesListing: Listing =
    listing(Key("account", StringType))(potFactoryDim,
      countedBy(t("pot_factories").count()))
  def potFactoriesList(page: Int = 1, pageSize: Int = DefaultPageSize): Page =
    potFactoriesListing.page(page, pageSize)

  /** GET /v1/pots/{id} (pots/api.py:108-139). */
  def potDetail(id: String): DataFrame =
    potDim.filter(col("account") === id)

  /** GET /v1/pots/{id}/applications (pots/api.py:142-177). */
  def potApplicationsListing(potId: String): Listing =
    listing(Key("submitted_at", TimestampType, asc = false), Key("applicant", StringType))(
      t("pot_applications").filter(col("pot") === potId))
  def potApplications(potId: String, page: Int = 1,
      pageSize: Int = DefaultPageSize): Page =
    potApplicationsListing(potId).page(page, pageSize)

  /** GET /v1/pots/{id}/donations (pots/api.py:180-215). */
  def potDonationsListing(potId: String,
      countOverride: => Option[Long] = None): Listing =
    donationListing(col("pot") === potId, countOverride)
  def potDonations(potId: String, page: Int = 1,
      pageSize: Int = DefaultPageSize,
      countOverride: => Option[Long] = None): Page =
    potDonationsListing(potId, countOverride).page(page, pageSize)

  /** GET /v1/pots/{id}/sponsors (pots/api.py:218-258): J4 distinct
    * matching-pool donors → accounts. */
  def potSponsorsListing(potId: String): Listing =
    listing(Key("id", StringType)) {
      val sponsorIds = donations
        .filter(col("pot") === potId && col("matching_pool"))
        .select(col("donor")).distinct()
      val a = accountDim
      Relational.semiJoin(a, sponsorIds, a("id") === sponsorIds("donor"))
    }
  def potSponsors(potId: String, page: Int = 1,
      pageSize: Int = DefaultPageSize): Page =
    potSponsorsListing(potId).page(page, pageSize)

  /** GET /v1/pots/{id}/payouts (pots/api.py:261-296). A null paid_at
    * continues correctly through keysetSlice's null-aware lexicographic
    * predicate — unpaid payouts sort last on the descending key. */
  def potPayoutsListing(potId: String): Listing =
    listing(Key("paid_at", TimestampType, asc = false), Key("recipient", StringType))(
      t("pot_payouts").filter(col("pot") === potId))
  def potPayouts(potId: String, page: Int = 1,
      pageSize: Int = DefaultPageSize): Page =
    potPayoutsListing(potId).page(page, pageSize)

  // ---------------------------------------------------- misc routes

  /** GET /v1/donate_contract_config (donations/api.py:25-70): config
    * passthrough minus internal keys. Config is modeled as a 1-row JSON
    * table refreshed by the enrichment jobs (RPC side-effects stay out of
    * the engine, SURVEY §2.9). */
  def donateContractConfig(excludeKeys: Seq[String] =
      Seq("owner", "protocol_fee_recipient_account", "total_donations_amount",
        "net_donations_amount", "total_donations_count")): DataFrame = {
    // Proper JSON manipulation (Jackson ships with Spark): a regex strip
    // leaves dangling commas / truncates nested values. The config is a
    // 1-row table, so driver-side parse is free.
    val spark = t("donate_contract_config").sparkSession
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rows = t("donate_contract_config").collect().map { r =>
      val node = mapper.readTree(r.getAs[String]("config"))
      node match {
        case obj: com.fasterxml.jackson.databind.node.ObjectNode =>
          excludeKeys.foreach(obj.remove)
        case _ => ()
      }
      mapper.writeValueAsString(node)
    }
    import spark.implicits._
    rows.toSeq.toDF("config")
  }

  /** GET /v1/stats (base/api.py:29-89): reads the gold global_stats table
    * (A1), refreshed by gold.Stats. */
  def stats(): DataFrame = t("global_stats")
}
