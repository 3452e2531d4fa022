package graft.queries

import org.apache.spark.sql.DataFrame

import graft.queries.QueryService.Page

/** The resident serving tier: every REST route of the reference
  * (api/urls.py:37-132) bound in ONE long-lived process —
  * [[QueryService]] plans the query, [[Serializers]] renders the
  * DRF-parity body, [[ResultCache]] memoizes the RENDERED envelope under
  * swap-marker freshness, and the reference's anon throttle
  * (base/settings.py:116-123, `anon: 500/min`) fronts it all as a
  * per-client token bucket. This is what a user of the reference points
  * their traffic at; perfbench `tail` measures THROUGH it.
  *
  * Layering (deliberate):
  *  - the QUERY layer (QueryService) stays pure — no cache, no clock, no
  *    HTTP types — so the oracle board and QueryServiceSpec pin its
  *    semantics independently of serving concerns;
  *  - [[handle]] is a pure (method, path, params, client) → [[Response]]
  *    function — routing, validation, throttling, caching and rendering
  *    are all testable without a socket;
  *  - [[start]] is the thin JDK-HttpServer binding of [[handle]] (no
  *    framework dependency; the JDK server is production-adequate for a
  *    per-replica API pod, exactly the reference's gunicorn role).
  *
  * Caching: GET responses memoize under (route, canonical params) and
  * serve while BOTH the 300 s TTL holds and the swap-marker uids of the
  * route's source tables are unchanged (ResultCache's contract — fresher
  * than the reference's cache_page(60*5), which serves stale bodies for
  * up to 5 min after a write).
  *
  * Envelope counts: the three hot FK-filtered donation routes price
  * `count` from the gold counter states ([[graft.gold.GoldCounts]]) when
  * gold is provably current with silver, falling back to the live count
  * job otherwise — at 100 TB a recipient-filtered count would otherwise
  * scan the donor-bucketed fact table per request.
  *
  * Bodies: EVERY entity family renders through a DRF-parity serializer
  * (donations, accounts, pots, list registrations, payouts, lists,
  * pot applications, pot factories, the stats document); only the
  * config route serves a stored document verbatim. next/previous are
  * ABSOLUTE URIs when the request carries a Host header
  * (request.build_absolute_uri parity, X-Forwarded-Proto deciding the
  * scheme), relative otherwise.
  *
  * Keyset extension: every list route except active_pots ALSO serves
  * `?after=` keyset continuation (the 100 TB deep-page path — constant
  * work per page where offset page N scans N pages; see
  * [[keysetEnvelope]]). active_pots stays page-number only — its rows
  * are filtered on request-time liveness, so no cursor is stable across
  * requests; donors' derived-stat cursor is beat-stable (see
  * QueryService.donorsKeyset). Without `after` the surface is exactly
  * the reference's page-number API.
  */
final class QueryServer(
    qs: QueryService,
    silverDir: String,
    goldCounts: Option[graft.gold.GoldCounts] = None,
    cache: ResultCache = new ResultCache(),
    throttlePerMin: Int = 500,
    nowMs: () => Long = () => System.currentTimeMillis()) {

  import QueryServer.Response

  // ------------------------------------------------------------ metrics
  private val requestCount = new java.util.concurrent.atomic.AtomicLong
  private val throttledCount = new java.util.concurrent.atomic.AtomicLong
  private val errorCount = new java.util.concurrent.atomic.AtomicLong
  private val staleRetryCount = new java.util.concurrent.atomic.AtomicLong
  private val startedAtMs = nowMs()
  def requests: Long = requestCount.get
  def throttled: Long = throttledCount.get
  def staleRetries: Long = staleRetryCount.get
  def errors: Long = errorCount.get
  def cacheHits: Long = cache.hits
  def cacheMisses: Long = cache.misses
  def cacheSize: Int = cache.size

  // ----------------------------------------------------------- throttle
  /** Per-client token bucket (the reference's DRF AnonRateThrottle
    * envelope: 500 requests/min/client, base/settings.py:116-123).
    * Capacity = the per-minute quota, continuous refill — a client that
    * slept a minute bursts a full quota, same as DRF's sliding window in
    * the steady state. Client map is LRU-bounded: the key space is
    * attacker-driven. */
  private final class Bucket(var tokens: Double, var atMs: Long)
  private val clientBuckets =
    new java.util.LinkedHashMap[String, Bucket](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Bucket]): Boolean = size() > 65536
    }
  private val refillPerMs = throttlePerMin / 60000.0

  /** Left(retryAfterSeconds) when over quota. */
  private def acquire(client: String): Either[Long, Unit] =
    clientBuckets.synchronized {
      val t = nowMs()
      val b = Option(clientBuckets.get(client)).getOrElse {
        val nb = new Bucket(throttlePerMin.toDouble, t)
        clientBuckets.put(client, nb)
        nb
      }
      // Clamp negative elapsed AND keep the refill baseline monotone: a
      // backwards wall-clock step (NTP) must pause refill — neither
      // draining tokens for the step size nor rewinding atMs so the
      // stepped-over interval refills a second time once the clock
      // recovers (quota over-admission).
      b.tokens = math.min(throttlePerMin.toDouble,
        b.tokens + math.max(0L, t - b.atMs) * refillPerMs)
      b.atMs = math.max(b.atMs, t)
      if (b.tokens >= 1.0) { b.tokens -= 1.0; Right(()) }
      else Left(math.ceil((1.0 - b.tokens) / refillPerMs / 1000.0).toLong.max(1L))
    }

  // ------------------------------------------------------ render helpers
  private def jsonCol(df: DataFrame): Seq[String] =
    df.select("json").collect().map(_.getString(0)).toSeq

  /** Paginated envelope: serializer over the page rows, DRF
    * {count,next,previous,results} document, relative continuation
    * URLs preserving the route's non-page params. */
  private def envelope(path: String, params: Map[String, String], p: Page,
      serialize: DataFrame => DataFrame): Response = {
    // DRF parity: a page past the end is 404 Invalid page., not a 200
    // empty envelope (django Paginator.validate_number raises EmptyPage;
    // num_pages floors at 1, so page=1 of an empty set is still a 200).
    val numPages = math.max(1L,
      (p.count + p.pageSize - 1L) / p.pageSize)
    if (p.page > numPages)
      return Response(404, Serializers.detailJson("Invalid page."))
    // A page WITHIN range but beyond Spark's Int-bounded offset ceiling
    // (possible when count itself exceeds ~2.1B rows): pageSlice answered
    // the empty frame, and silently serving 200 {results: []} with live
    // next links would walk forever. A typed 400 pointing at the
    // constant-cost path is the honest answer — the reference (Postgres
    // 64-bit OFFSET) would serve rows here, but at that depth offset
    // pagination is the wrong tool on either system.
    if ((p.page - 1L) * p.pageSize > Int.MaxValue.toLong - p.pageSize)
      return Response(400, Serializers.errorJson(
        "Page offset exceeds the addressable range; use keyset " +
          "pagination (?after=, served on every list route except " +
          "active_pots)."))
    // DRF parity: get_previous_link REMOVES the page param for page 1
    // (rest_framework/pagination.py remove_query_param) — the previous
    // link of page 2 is the bare route, not ?page=1 (which would also
    // mint a second cache entry for the same body).
    def url(pg: Int): Option[String] =
      if (pg < 1) None
      else Some(continuationUrl(path, params,
        if (pg == 1) None else Some("page" -> pg.toString)))
    val next = if (p.hasNext) url(p.page + 1) else None
    val prev = if (p.hasPrevious) url(p.page - 1) else None
    Response(200,
      Serializers.envelopeJson(p.count, next, prev, jsonCol(serialize(p.results))))
  }

  // ------------------------------------ keyset continuation (?after=)
  /** Engine EXTENSION beyond the reference's page-number surface: the
    * statically-ordered list routes also serve a keyset continuation
    * when `?after=` is present (empty value = first keyset page). The page is a pushed-down
    * range predicate + TakeOrderedAndProject (Relational.keysetSlice) —
    * page depth costs nothing, where offset page N scans N pages — and
    * the envelope deliberately omits `count`/`previous` (the total-count
    * job is what keyset exists to avoid). `next` carries the last row's
    * sort-key cursor; a full final page costs one extra empty request
    * (the standard keyset trade). */
  private def keysetEnvelope(path: String, params: Map[String, String],
      pageDf: DataFrame, pageSize: Int, cursorCols: Seq[String],
      serialize: DataFrame => DataFrame): Response = {
    // One action: the page is ≤ pageSize rows by construction; serialize
    // runs over the collected LocalRelation so the slice job isn't paid
    // twice (once for rows, once for the cursor).
    val (rows, local) = QueryService.materializeBounded(pageDf)
    val body = jsonCol(serialize(local))
    val next =
      if (rows.length < pageSize) None
      else {
        val last = rows.last
        val cursor = cursorCols.map { c =>
          last.getAs[Any](c) match {
            case null => "null"
            case t: java.sql.Timestamp => QueryServer.tsCursor(t)
            case v => String.valueOf(v)
          }
        }.mkString(",")
        Some(continuationUrl(path, params, Some("after" -> cursor)))
      }
    Response(200, Serializers.keysetEnvelopeJson(next, body))
  }

  /** ONE continuation-URL builder for both pagination surfaces: the
    * requested path, the request's params minus any pagination state,
    * plus the continuation param — keys sorted, values URL-encoded (a
    * quote or '&' in a user param must not corrupt the envelope or
    * restructure the query string). */
  private def continuationUrl(path: String, params: Map[String, String],
      continue: Option[(String, String)]): String = {
    val qp = ((params - "page" - "after") ++ continue).toSeq.sortBy(_._1)
    if (qp.isEmpty) path
    else path + "?" + qp.map { case (k, v) =>
      s"${java.net.URLEncoder.encode(k, "UTF-8")}=" +
        java.net.URLEncoder.encode(v, "UTF-8") }.mkString("&")
  }

  /** Keyset dispatch for one route: decode the cursor (empty = start,
    * garbage = 400 — a cursor is machine-built, unlike DRF's page), run
    * the route's keyset plan, memoize the rendered envelope under the
    * same freshness tables as the page-number form. `run` answers
    * Left(message) for route-level validation errors (bad status enum). */
  private def keyset[C](path: String, params: Map[String, String],
      tables: Seq[String], parse: String => Option[C],
      cursorCols: Seq[String], serialize: DataFrame => DataFrame)(
      run: (Option[C], Int) => Either[String, DataFrame]): Response = {
    val raw = params.getOrElse("after", "")
    val size = pageSizeParam(params)
    val cur: Either[Response, Option[C]] =
      if (raw.isEmpty) Right(None)
      else parse(raw).map(c => Some(c): Option[C])
        .toRight(badRequest("Invalid after cursor."))
    // run() sits INSIDE the memo compute: donation keyset plans
    // materialize their page eagerly (expandDonationPage bounds the dim
    // joins on the collected page), so building the frame outside the
    // memo would pay that slice job on every warm hit.
    cur.fold(identity, c =>
      memo(path, params, tables)(
        run(c, size).fold(badRequest, df =>
          keysetEnvelope(path, params, df, size, cursorCols, serialize))))
  }

  /** One-row detail body, or the reference's 404 document. */
  private def detail(df: DataFrame, serialize: DataFrame => DataFrame,
      entity: String, id: Any): Response =
    jsonCol(serialize(df)).headOption match {
      case Some(body) => Response(200, body)
      case None =>
        Response(404, Serializers.errorJson(
          QueryService.notFoundMessage(entity, id)))
    }

  private def badRequest(message: String): Response =
    Response(400, Serializers.errorJson(message))

  private def pageEither(path: String, params: Map[String, String],
      e: Either[String, Page], serialize: DataFrame => DataFrame): Response =
    e.fold(badRequest, p => envelope(path, params, p, serialize))

  // --------------------------------------------------- freshness tables
  // Source tables per route family — the swap-marker uids that key cache
  // freshness. Over-listing a table only invalidates more eagerly.
  private val donationT = Seq("donations", "donations_enriched", "accounts",
    "account_stats", "tokens", "pots", "pot_stats")
  private val accountT = Seq("accounts", "account_stats")
  private val potT = Seq("pots", "pot_stats", "accounts", "account_stats")
  private val payoutT = Seq("pot_payouts")
  private val regT = Seq("list_registrations", "lists", "accounts",
    "account_stats")
  // Serializer embeds widen the read set: application bodies embed the
  // full pot object + applicant account, list/factory bodies embed
  // owner/admins accounts.
  private val applicationT = Seq("pot_applications") ++ potT
  private val listT = Seq("lists", "accounts", "account_stats")
  private val factoryT = Seq("pot_factories", "accounts", "account_stats")

  /** PotApplicationSerializer body over a BOUNDED page: pot + applicant
    * embeds on the ≤ pageSize rows (QueryService.potApplicationExpanded),
    * then the DRF-parity render. */
  private val appJson: DataFrame => DataFrame = df =>
    Serializers.potApplicationJson(qs.potApplicationExpanded(df))

  /** ListRegistrationSerializer body over a BOUNDED page: full list
    * object + registrant/registered_by account embeds
    * (QueryService.listRegistrationExpanded), then the DRF render. */
  private val regJson: DataFrame => DataFrame = df =>
    Serializers.listRegistrationJson(qs.listRegistrationExpanded(df))

  private def uids(tables: Seq[String]): Seq[String] =
    ResultCache.uidsFor(silverDir)(tables)

  // ------------------------------------------------------------ routing
  /** The whole request path minus the socket: throttle → cache → route →
    * render. `params` are the decoded query params; `client` is the
    * throttle key (remote IP at the HTTP binding). */
  def handle(method: String, rawPath: String, params: Map[String, String],
      client: String = "local",
      headers: Map[String, String] = Map.empty): Response = {
    requestCount.incrementAndGet(): Unit
    if (method != "GET")
      return Response(405, Serializers.errorJson("Method not allowed"))
    acquire(client) match {
      case Left(retryAfter) =>
        throttledCount.incrementAndGet(): Unit
        return Response(429,
          Serializers.errorJson("Request was throttled."),
          Map("Retry-After" -> retryAfter.toString))
      case Right(()) =>
    }
    // DRF parity: next/previous are ABSOLUTE URIs built from the
    // request's own authority (request.build_absolute_uri — Host, with
    // X-Forwarded-Proto deciding the scheme behind a TLS-terminating
    // proxy). No Host header (direct handle() callers, HTTP/1.0) falls
    // back to relative links — resolvable against the requested base.
    // Both values are CLIENT-CONTROLLED and spliced into a JSON body,
    // so they are validated against the grammar of a real authority /
    // scheme first (Django's analogue: ALLOWED_HOSTS validation before
    // build_absolute_uri). JDK HttpServer only rejects CR/LF in header
    // values — a Host carrying a quote or backslash would otherwise
    // corrupt the envelope's next/previous fields. Invalid values
    // degrade to relative links, never a 500.
    val base = headers.collectFirst {
      case (k, v) if k.equalsIgnoreCase("host") &&
        QueryServer.validHost(v) => v
    }.map { host =>
      val proto = headers.collectFirst {
        case (k, v) if k.equalsIgnoreCase("x-forwarded-proto") &&
          QueryServer.validScheme(v) => v
      }.getOrElse("http")
      s"$proto://$host"
    }.getOrElse("")
    // Stale-swap retries: the gold/merge swap protocol renames the old
    // table aside, the new one in, then vacuums the old — a request that
    // LISTED the old files (or hit the instant between the renames) dies
    // with FileNotFound/PATH_NOT_FOUND mid-plan. The snapshot it lost is
    // gone, so the CORRECT answer is a fresh plan against the new
    // marker uid (the memoized loader rebuilds on it) — never
    // ignoreMissingFiles (silently wrong rows), never a 500 for a
    // planned, crash-safe table rotation. The first loss always gets one
    // retry. A later loss is retried only while a swap marker under
    // silverDir has rotated since that attempt started — a beat swaps
    // accounts, account_stats and pot_stats back to back, so one request
    // can lose a snapshot to each — up to StaleSwapAttempts in total. A
    // loss with no rotation behind it reports honestly as the 500 it is.
    //
    // Links absolutize OUTSIDE the route/memo: the cache stores the
    // host-INDEPENDENT body (relative links), and the client-controlled
    // authority is spliced per request — keying the cache on Host would
    // let one client fragment and evict the shared LRU with rotated
    // Host values, collapsing every other client to cold requests.
    def attempt(): Response = {
      val r = route(rawPath, params)
      if (base.isEmpty) r else QueryServer.absolutizeLinks(r, base)
    }
    // `n` numbers the attempt; `started` holds the swap-marker uids read
    // as it began (None for the first attempt, whose loss is always
    // retried).
    def attempts(n: Int, started: Option[Map[String, String]]): Response =
      try attempt() catch {
        case e if QueryServer.isStaleSwapRead(e) &&
            n < QueryServer.StaleSwapAttempts =>
          // The swap writes its marker AFTER vacuuming the old files;
          // a beat of grace lets the marker land so the memoized
          // loader's uid check rebuilds against the new table rather
          // than re-planning the same lost snapshot.
          Thread.sleep(50)
          if (started.contains(QueryServer.swapMarkers(silverDir))) throw e
          staleRetryCount.incrementAndGet(): Unit
          // A swap that CRASHED between its two renames leaves NO live
          // table — the retry alone would report a 500 for every
          // request until the next beat republishes. Roll the crashed
          // swap forward first (finish its remaining steps from the
          // complete tmp payload; see MergeWriter.recoverCrashedSwap
          // for why the paired-uid residue makes this safe and
          // race-tolerant). One directory listing when no recovery is
          // needed — retries are beat-cadence rare.
          QueryServer.rollForwardCrashedSwaps(silverDir): Unit
          // …and drop the loader's frame memos: a swap that crashed
          // after its move-in but before its marker write leaves the
          // uid unchanged while the memoized frame's files are gone —
          // the retry must replan from CURRENT disk, not the memo.
          QueryServer.invalidateServingLoaders(silverDir)
          attempts(n + 1, Some(QueryServer.swapMarkers(silverDir)))
      }
    try attempts(1, None) catch {
      case _: QueryServer.InvalidPageException =>
        Response(404, Serializers.detailJson("Invalid page."))
      case _: graft.operators.Relational.PageOffsetOverflow =>
        // Defense in depth: QueryService degrades the slice itself, so
        // the envelope can 404 past-the-end first; a library path that
        // still throws gets the same typed 400 as the envelope's check.
        Response(400, Serializers.errorJson(
          "Page offset exceeds the addressable range; use keyset " +
            "pagination (?after=, served on every list route except " +
            "active_pots)."))
      case scala.util.control.NonFatal(e) =>
        errorCount.incrementAndGet(): Unit
        Response(500, Serializers.errorJson(
          s"Internal error: ${e.getClass.getSimpleName}"))
    }
  }

  /** DRF PageNumberPagination parity: a missing `page` means page 1, but
    * a PRESENT page that is not a positive integer is 404 {"detail":
    * "Invalid page."} (rest_framework NotFound), not silently coerced —
    * coercion would also mint a distinct cache entry per garbage value.
    * DRF's `page=last` alias (last_page_strings) resolves to the final
    * page at the Page-construction site — the envelope prices the count
    * anyway (or has a gold countOverride), so `last` costs nothing
    * extra. Lazily evaluated at the use site, so detail routes ignore
    * `page` exactly like DRF does. */
  private def pageParam(params: Map[String, String]): Int =
    params.get("page") match {
      case None => 1
      // EXACT match like DRF's last_page_strings membership test — no
      // trim: " last " is not the alias there (int(" last ") raises →
      // 404) and must not be here. The numeric branch keeps the trim,
      // matching Python int()'s whitespace tolerance.
      case Some("last") => QueryService.LastPage
      case Some(s) => s.trim.toIntOption.filter(_ >= 1)
        .getOrElse(throw new QueryServer.InvalidPageException)
    }

  /** DRF `page_size` parity: every reference list view mixes in
    * CustomSizePageNumberPagination (api/pagination.py:8-9), whose
    * get_page_size takes a positive `page_size` query param and SILENTLY
    * falls back to the default 30 on anything else (garbage page_size is
    * not a 404 — only garbage `page` is; rest_framework pagination
    * catches the ValueError and passes). DELIBERATE deviation: the
    * reference sets no max_page_size, but page rows materialize on THIS
    * server's shared Spark driver (bounded collects for serializer
    * embeds and keyset cursors), so one anonymous
    * ?page_size=2000000000 request would OOM the process for every
    * client — not just its own worker as in the reference. Values above
    * [[QueryServer.MaxPageSize]] clamp (DRF's max_page_size cutoff
    * semantics, not an error); the throttle bounds request RATE, this
    * bounds per-request row volume. */
  private def pageSizeParam(params: Map[String, String]): Int =
    params.get("page_size").flatMap(_.trim.toIntOption).filter(_ >= 1)
      .map(_.min(QueryServer.MaxPageSize))
      .getOrElse(QueryService.DefaultPageSize)

  private def memo(path: String, params: Map[String, String],
      tables: Seq[String])(compute: => Response): Response =
    cache.memo(
      ResultCache.routeKey(path, params.toSeq: _*), uids(tables),
      // Django cache_page parity: only 200 bodies enter the LRU —
      // otherwise each distinct garbage page/param value's 404 mints
      // its own entry, an eviction lever against the shared cache.
      (r: Response) => r.status == 200)(compute)

  private def route(path: String, params: Map[String, String]): Response = {
    // Accept both the reference's /api/v1 prefix and bare /v1 — but ONLY
    // for matching. Envelope continuation URLs and cache keys use the
    // path AS REQUESTED: a client behind a proxy that routes /api/* must
    // get next/previous links it can actually follow, and the two
    // spellings must not share a cache entry (their bodies differ).
    // Links stay RELATIVE here — handle() splices the request's own
    // authority per response, so the cached body is host-independent.
    val matchPath =
      if (path.startsWith("/api/")) path.stripPrefix("/api") else path
    val segs = matchPath.split('/').filter(_.nonEmpty).toList
    lazy val page = pageParam(params)
    val size = pageSizeParam(params)
    val status = params.get("status")
    segs match {
      // ---------------------------------------------------- service meta
      case List("health") => Response(200, """{"status": "ok"}""")
      case List("metrics") => Response(200, metricsJson())
      case List("schema") | List("v1", "schema") =>
        Response(200, qs.openApiSchema())
      case List("docs") =>
        Response(200, OpenApi.swaggerUiHtml,
          Map("Content-Type" -> "text/html; charset=utf-8"))
      case List("redoc") =>
        Response(200, OpenApi.redocHtml,
          Map("Content-Type" -> "text/html; charset=utf-8"))

      // ------------------------------------------------------- accounts
      case List("v1", "accounts") if params.contains("after") =>
        keyset(path, params, accountT, QueryServer.afterString,
          Seq("id"), Serializers.accountJson)((c, sz) =>
          Right(qs.accountsListKeyset(c, sz)))
      case List("v1", "accounts") =>
        memo(path, params, accountT)(
          envelope(path, params, qs.accountsList(page, size), Serializers.accountJson))
      case List("v1", "accounts", id) =>
        memo(path, params, accountT)(
          detail(qs.accountDetail(id), Serializers.accountJson, "Account", id))
      case List("v1", "accounts", id, "active_pots") =>
        // The ONE route without keyset support (its rows are filtered on
        // request-time liveness — no cursor is stable across requests):
        // a typed 400, matching the OpenAPI schema that deliberately
        // omits the param, never a silent fall-through to page 1 that
        // would also mint a cache entry per cursor value.
        if (params.contains("after"))
          return badRequest("Keyset pagination (?after=) is not supported " +
            "on active_pots; use page-number pagination.")
        // ?status=live (accounts/api.py:163-217). `now` is request time,
        // so live-filtered responses cache only within the TTL window —
        // the filter is over ROUND BOUNDS (hours-long), TTL is 300 s.
        val live = status.contains("live")
        memo(path, params, potT ++ Seq("pot_applications"))(
          envelope(path, params,
            qs.accountActivePots(id, live,
              new java.sql.Timestamp(nowMs()), page, size),
            Serializers.potJson))
      case List("v1", "accounts", id, "pot_applications")
          if params.contains("after") =>
        keyset(path, params, applicationT,
          QueryServer.afterTsString, Seq("submitted_at", "pot"), appJson)(
          (c, sz) => qs.accountPotApplicationsKeyset(id, status, c, sz))
      case List("v1", "accounts", id, "pot_applications") =>
        memo(path, params, applicationT)(
          pageEither(path, params, qs.accountPotApplications(id, status, page, size),
            appJson))
      case List("v1", "accounts", id, "donations_received")
          if params.contains("after") =>
        keyset(path, params, donationT, QueryServer.afterTsLong,
          Seq("donated_at", "on_chain_id"), Serializers.donationJson)(
          (c, sz) => Right(qs.accountDonationsReceivedKeyset(id, c, sz)))
      case List("v1", "accounts", id, "donations_received") =>
        memo(path, params, donationT)(
          envelope(path, params,
            qs.accountDonationsReceived(id, page, size,
              countOverride = goldCounts.flatMap(_.donationsReceived(id))),
            Serializers.donationJson))
      case List("v1", "accounts", id, "donations_sent")
          if params.contains("after") =>
        keyset(path, params, donationT, QueryServer.afterTsLong,
          Seq("donated_at", "on_chain_id"), Serializers.donationJson)(
          (c, sz) => Right(qs.accountDonationsSentKeyset(id, c, sz)))
      case List("v1", "accounts", id, "donations_sent") =>
        memo(path, params, donationT)(
          envelope(path, params,
            qs.accountDonationsSent(id, page, size,
              countOverride = goldCounts.flatMap(_.donationsSent(id))),
            Serializers.donationJson))
      case List("v1", "accounts", id, "payouts_received")
          if params.contains("after") =>
        keyset(path, params, payoutT, QueryServer.afterTsString,
          Seq("paid_at", "pot"), Serializers.potPayoutJson)(
          (c, sz) => Right(qs.accountPayoutsReceivedKeyset(id, c, sz)))
      case List("v1", "accounts", id, "payouts_received") =>
        memo(path, params, payoutT)(
          envelope(path, params, qs.accountPayoutsReceived(id, page, size),
            Serializers.potPayoutJson))
      case List("v1", "accounts", id, "list-registrations")
          if params.contains("after") =>
        keyset(path, params, regT, QueryServer.afterTsLong,
          Seq("submitted_at", "on_chain_id"),
          regJson)(
          (c, sz) => qs.accountListRegistrationsKeyset(id, status, c, sz))
      case List("v1", "accounts", id, "list-registrations") =>
        memo(path, params, regT)(
          pageEither(path, params,
            qs.accountListRegistrations(id, status, page, size),
            regJson))

      // -------------------------------------------------------- donors
      case List("v1", "donors") if params.contains("after") =>
        // Leaderboard deep-walk: cursor shape follows the sort mode.
        val donorsT = accountT ++ Seq("donations", "global_stats")
        if (params.get("sort").contains("most_donated_usd"))
          keyset(path, params, donorsT, QueryServer.afterDecString,
            Seq("total_donations_out_usd", "id"), Serializers.accountJson)(
            (c, sz) => Right(qs.donorsKeyset(sortMostDonated = true,
              c.map { case (v, id) => Seq(v, id) }, sz)))
        else
          keyset(path, params, donorsT, QueryServer.afterString,
            Seq("id"), Serializers.accountJson)((c, sz) =>
            Right(qs.donorsKeyset(sortMostDonated = false, c.map(Seq(_)), sz)))
      case List("v1", "donors") =>
        val sortMost = params.get("sort").contains("most_donated_usd")
        memo(path, params, accountT ++ Seq("donations", "global_stats"))(
          envelope(path, params,
            qs.donors(sortMost, page, size,
              countOverride = goldCounts.flatMap(_.totalDonors())),
            Serializers.accountJson))

      // --------------------------------------------------------- lists
      case List("v1", "lists") if params.contains("after") =>
        keyset(path, params, listT, QueryServer.afterLong,
          Seq("on_chain_id"), Serializers.listJson)((c, sz) =>
          Right(qs.listsListKeyset(c, sz)))
      case List("v1", "lists") =>
        memo(path, params, listT)(
          envelope(path, params, qs.listsList(page, size), Serializers.listJson))
      case List("v1", "lists", IntId(id)) =>
        memo(path, params, listT)(
          detail(qs.listDetail(id), Serializers.listJson, "List", id))
      case List("v1", "lists", IntId(id), "registrations")
          if params.contains("after") =>
        keyset(path, params, regT, QueryServer.afterTsLong,
          Seq("submitted_at", "on_chain_id"),
          regJson)((c, sz) =>
          qs.listRegistrationsKeyset(id, status, params.get("category"), c, sz))
      case List("v1", "lists", IntId(id), "registrations") =>
        memo(path, params, regT)(
          pageEither(path, params,
            qs.listRegistrations(id, status, params.get("category"), page, size),
            regJson))
      case List("v1", "lists", IntId(id), "random_registration") =>
        // Deterministic seeded pick (O5) — cacheable like any route; the
        // reference re-rolls per request, ours re-rolls per table merge
        // (documented deviation, q_o5's replayability contract).
        memo(path, params, regT)(
          qs.randomRegistration(id, status).fold(badRequest, df =>
            jsonCol(regJson(df)).headOption
              .map(Response(200, _))
              .getOrElse(Response(404, Serializers.errorJson(
                QueryService.notFoundMessage("Registration for list", id))))))

      // ---------------------------------------------------------- pots
      case List("v1", "pots") if params.contains("after") =>
        keyset(path, params, potT, QueryServer.afterString,
          Seq("account"), Serializers.potJson)((c, sz) =>
          Right(qs.potsListKeyset(c, sz)))
      case List("v1", "pots") =>
        memo(path, params, potT)(
          envelope(path, params, qs.potsList(page, size), Serializers.potJson))
      case List("v1", "pots", id) =>
        memo(path, params, potT)(
          detail(qs.potDetail(id), Serializers.potJson, "Pot", id))
      case List("v1", "pots", id, "applications")
          if params.contains("after") =>
        keyset(path, params, applicationT,
          QueryServer.afterTsString, Seq("submitted_at", "applicant"),
          appJson)((c, sz) => Right(qs.potApplicationsKeyset(id, c, sz)))
      case List("v1", "pots", id, "applications") =>
        memo(path, params, applicationT)(
          envelope(path, params, qs.potApplications(id, page, size), appJson))
      case List("v1", "pots", id, "donations")
          if params.contains("after") =>
        keyset(path, params, donationT, QueryServer.afterTsLong,
          Seq("donated_at", "on_chain_id"), Serializers.donationJson)(
          (c, sz) => Right(qs.potDonationsKeyset(id, c, sz)))
      case List("v1", "pots", id, "donations") =>
        memo(path, params, donationT)(
          envelope(path, params,
            qs.potDonations(id, page, size,
              countOverride = goldCounts.flatMap(_.potDonations(id))),
            Serializers.donationJson))
      case List("v1", "pots", id, "sponsors")
          if params.contains("after") =>
        keyset(path, params, donationT, QueryServer.afterString,
          Seq("id"), Serializers.accountJson)((c, sz) =>
          Right(qs.potSponsorsKeyset(id, c, sz)))
      case List("v1", "pots", id, "sponsors") =>
        memo(path, params, donationT)(
          envelope(path, params, qs.potSponsors(id, page, size),
            Serializers.accountJson))
      case List("v1", "pots", id, "payouts")
          if params.contains("after") =>
        keyset(path, params, payoutT, QueryServer.afterTsString,
          Seq("paid_at", "recipient"), Serializers.potPayoutJson)(
          (c, sz) => Right(qs.potPayoutsKeyset(id, c, sz)))
      case List("v1", "pots", id, "payouts") =>
        memo(path, params, payoutT)(
          envelope(path, params, qs.potPayouts(id, page, size),
            Serializers.potPayoutJson))
      case List("v1", "potfactories") if params.contains("after") =>
        keyset(path, params, factoryT, QueryServer.afterString,
          Seq("account"), Serializers.potFactoryJson)((c, sz) =>
          Right(qs.potFactoriesListKeyset(c, sz)))
      case List("v1", "potfactories") =>
        memo(path, params, factoryT)(
          envelope(path, params, qs.potFactoriesList(page, size),
            Serializers.potFactoryJson))

      // ---------------------------------------------------------- misc
      case List("v1", "donate_contract_config") =>
        memo(path, params, Seq("donate_contract_config"))(
          qs.donateContractConfig().collect().headOption
            .map(r => Response(200, r.getAs[String]("config")))
            .getOrElse(Response(404,
              Serializers.errorJson("Config not found."))))
      case List("v1", "stats") =>
        memo(path, params, Seq("global_stats"))(
          jsonCol(Serializers.statsJson(qs.stats())).headOption
            .map(Response(200, _))
            .getOrElse(Response(404, Serializers.errorJson("Stats not found."))))

      case _ =>
        Response(404, Serializers.errorJson(s"Not found: $path"))
    }
  }

  def metricsJson(): String = {
    val up = (nowMs() - startedAtMs) / 1000
    s"""{"requests": ${requestCount.get}, "throttled": ${throttledCount.get}, """ +
      s""""errors": ${errorCount.get}, "stale_retries": ${staleRetryCount.get}, """ +
      s""""cache_hits": ${cache.hits}, """ +
      s""""cache_misses": ${cache.misses}, """ +
      s""""cache_revalidations": ${cache.revalidations}, """ +
      s""""cache_entries": ${cache.size}, """ +
      s""""throttle_per_min": $throttlePerMin, "uptime_s": $up}"""
  }

  private object IntId {
    def unapply(s: String): Option[Long] =
      scala.util.Try(s.toLong).toOption
  }

  // -------------------------------------------------------- HTTP binding
  /** Pre-warm the serve plane BEFORE the socket opens (the gunicorn
    * `preload_app`/warmup analog): one synthetic request per route
    * family through the full [[handle]] path, paid while the box is
    * quiet. First-touch costs — Catalyst plan compilation, codegen,
    * JIT, parquet footer reads, the memoized loader's table builds —
    * land here instead of on the first client request, which in the
    * deployment shape (serving resident next to a live ingest) would
    * otherwise race the opening micro-batch for task slots: SOAK
    * measured that race at 37-54 s on a handful of early-tail
    * requests (FAIR scheduling and GC both tried and exonerated).
    * Detail routes warm with a synthetic id — the 404 still compiles
    * and executes the route's plan. Failures are swallowed: a missing
    * optional table must not block startup. Returns
    * (route, status, ms) per warmed route for the caller's log. */
  /** The production-shape prewarm set: one representative per route
    * family (every distinct plan shape the server compiles — list,
    * keyset, detail, and each nested-collection family), at the DEFAULT
    * page size and with the store's HOTTEST real ids (QueryService
    * .hotIds). The earlier synthetic-id/page_size=1 warm compiled the
    * plans but left full-page materialization, real-dim fetches and
    * gold-counter lookups to the first client requests — SOAK measured
    * those first REAL requests as the early-tail latency outliers even
    * with plans warm. Real-id warms also PRIME the result cache, so the
    * first production request on a warmed route is a hit. Stores with
    * empty tables fall back to synthetic ids (the 404 still compiles and
    * executes the route's plan). */
  def productionPrewarmPaths(): Seq[String] = {
    val hot =
      try qs.hotIds
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, String] }
    val acct = hot.getOrElse("account", "prewarm.synthetic.near")
    val donor = hot.getOrElse("donor", acct)
    val pot = hot.getOrElse("pot", "prewarm.pot.near")
    val list = hot.getOrElse("list", "1")
    Seq(
      "/v1/stats",
      "/v1/donors", "/v1/donors?after=",
      "/v1/accounts", "/v1/accounts?after=",
      s"/v1/accounts/$acct",
      s"/v1/accounts/$acct/active_pots",
      s"/v1/accounts/$acct/pot_applications",
      s"/v1/accounts/$acct/donations_received",
      s"/v1/accounts/$acct/donations_received?after=",
      s"/v1/accounts/$donor/donations_sent",
      s"/v1/accounts/$acct/payouts_received",
      s"/v1/accounts/$acct/list-registrations",
      "/v1/lists", s"/v1/lists/$list", s"/v1/lists/$list/registrations",
      s"/v1/lists/$list/random_registration",
      "/v1/pots", "/v1/pots?after=",
      s"/v1/pots/$pot", s"/v1/pots/$pot/applications",
      s"/v1/pots/$pot/donations", s"/v1/pots/$pot/sponsors",
      s"/v1/pots/$pot/payouts",
      "/v1/potfactories", "/v1/donate_contract_config")
  }

  def prewarm(paths: Seq[String] = productionPrewarmPaths())
      : Seq[(String, Int, Double)] =
    paths.map { p =>
      val (path, query) = p.indexOf('?') match {
        case -1 => (p, "")
        case i => (p.take(i), p.drop(i + 1))
      }
      val params = query.split('&').toSeq.filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        val k = if (i < 0) kv else kv.take(i)
        val v = if (i < 0) "" else kv.drop(i + 1)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
      val t0 = System.nanoTime()
      val r =
        try handle("GET", path, params, client = "prewarm")
        catch { case scala.util.control.NonFatal(_) =>
          QueryServer.Response(599, "")
        }
      (p, r.status, (System.nanoTime() - t0) / 1e6)
    }

  /** Bind [[handle]] on a JDK HttpServer. Returns the server (caller
    * stops it); a small fixed pool serves concurrently — route compute
    * is Spark-job bound, so the pool just needs to cover cache hits
    * while a cold route computes. */
  def start(port: Int, poolSize: Int = 8): com.sun.net.httpserver.HttpServer = {
    // Header and body go out as separate small writes; without nodelay
    // the Nagle/delayed-ACK interaction pins every small response at
    // ~40 ms regardless of compute.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(port), 0)
    server.createContext("/", (exchange: com.sun.net.httpserver.HttpExchange) => {
      val resp =
        try {
          val uri = exchange.getRequestURI
          val params =
            try {
              Option(uri.getRawQuery).toSeq
                .flatMap(_.split('&').toSeq).filter(_.nonEmpty).map { kv =>
                  val i = kv.indexOf('=')
                  val k = if (i < 0) kv else kv.take(i)
                  val v = if (i < 0) "" else kv.drop(i + 1)
                  java.net.URLDecoder.decode(k, "UTF-8") ->
                    java.net.URLDecoder.decode(v, "UTF-8")
                }.toMap
            } catch {
              // Malformed percent-encoding (?page=%zz, a trailing '%')
              // is CLIENT input, not a server fault: 400, not 500.
              case _: IllegalArgumentException =>
                throw new QueryServer.MalformedQueryException
            }
          val client = exchange.getRemoteAddress.getAddress.getHostAddress
          val hs = exchange.getRequestHeaders
          val fwd = Seq("Host", "X-Forwarded-Proto")
            .flatMap(n => Option(hs.getFirst(n)).map(n -> _)).toMap
          handle(exchange.getRequestMethod, uri.getPath, params, client, fwd)
        } catch {
          case _: QueryServer.MalformedQueryException =>
            Response(400, Serializers.errorJson("Malformed query string."))
          case scala.util.control.NonFatal(e) =>
            // Count binding-layer 500s too — a 500 invisible in /metrics
            // is a 500 nobody pages on.
            errorCount.incrementAndGet(): Unit
            Response(500, Serializers.errorJson(
              s"Internal error: ${e.getClass.getSimpleName}"))
        }
      val bytes = resp.body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val headers = exchange.getResponseHeaders
      headers.set("Content-Type", "application/json")
      resp.headers.foreach { case (k, v) => headers.set(k, v) }
      exchange.sendResponseHeaders(resp.status, bytes.length.toLong)
      val os = exchange.getResponseBody
      try os.write(bytes) finally os.close()
    })
    // Daemon threads: HttpServer.stop does not shut down a user-supplied
    // executor, and a non-daemon pool would pin the JVM alive after the
    // caller stops the server (benches hang on exit; the resident main
    // blocks on its own join anyway).
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
      poolSize,
      (r: Runnable) => {
        val t = new Thread(r, "query-server")
        t.setDaemon(true)
        t
      }))
    server.start()
    server
  }
}

object QueryServer {
  /** page_size ceiling (DRF max_page_size cutoff semantics — values
    * above clamp, they do not error). See pageSizeParam for why the
    * resident server must bound per-request row volume. */
  val MaxPageSize = 10000

  /** One rendered HTTP response — status, JSON body, extra headers. */
  final case class Response(status: Int, body: String,
      headers: Map[String, String] = Map.empty)

  /** Raised by [[QueryServer.pageParam]] on a present-but-invalid `page`
    * query param; rendered as DRF's 404 {"detail": "Invalid page."}. */
  private[queries] final class InvalidPageException
    extends RuntimeException("Invalid page.")

  /** Splice the request's authority into the envelope's continuation
    * links (DRF build_absolute_uri parity) AFTER the cache: the memoized
    * body carries relative links, so one cache entry serves every Host.
    * Safe as string surgery because the rewrite targets only the FIRST
    * `"next": "/` / `"previous": "/` occurrences and both fields precede
    * `results` in the envelope documents this server renders — user
    * content (messages, profiles) can only appear after them. Non-2xx
    * and non-envelope bodies (no leading {"count") pass through. */
  private[queries] def absolutizeLinks(r: Response, base: String): Response = {
    if (r.status != 200 || !r.body.startsWith("""{"count""")) return r
    def splice(body: String, key: String): String = {
      val marker = "\"" + key + "\": \"/"
      val i = body.indexOf(marker)
      if (i < 0) body
      else body.substring(0, i) + "\"" + key + "\": \"" + base + "/" +
        body.substring(i + marker.length)
    }
    r.copy(body = splice(splice(r.body, "next"), "previous"))
  }

  /** Frame memos per silver dir, WEAKLY held: the stale-swap retry must
    * be able to drop memoizedServingLoader entries whose files are gone
    * so the replan reads CURRENT disk. The marker-uid key alone cannot
    * see a swap that crashed AFTER its move-in but BEFORE its marker
    * write — the uid is unchanged while the memoized frame's files are
    * gone; without this hook the retry would replan the same dead
    * snapshot until the next marker rotation. Weak references: tests
    * and benches wire many loaders per JVM, and a strongly-held closure
    * would pin every discarded loader's frames (and their plans) for
    * the process lifetime. */
  private val loaderCaches = scala.collection.concurrent.TrieMap[String,
    List[java.lang.ref.WeakReference[
      scala.collection.concurrent.TrieMap[String, (String, DataFrame)]]]]()
  private def registerLoaderCache(dir: String,
      cache: scala.collection.concurrent.TrieMap[String, (String, DataFrame)])
      : Unit = {
    loaderCaches.updateWith(dir) {
      case Some(rs) => Some(new java.lang.ref.WeakReference(cache) ::
        rs.filter(_.get != null))
      case None => Some(List(new java.lang.ref.WeakReference(cache)))
    }: Unit
  }

  /** Drop the PRECISE set of dead loader entries for `dir`: an entry is
    * dead when its recorded marker uid no longer matches (a rotation —
    * the loader would rebuild it anyway; removal just releases the
    * frame) or when the marker is unchanged but the frame's files are
    * gone (the crashed-swap window). One marker read + one file stat
    * per memoized table — NOT a whole-plane clear, which would turn one
    * table's swap race into a cold replan of every route. */
  private[queries] def invalidateServingLoaders(dir: String): Unit = {
    val io = graft.operators.MergeWriter.io
    loaderCaches.getOrElse(dir, Nil).foreach { ref =>
      val cache = ref.get
      if (cache != null) cache.foreach { case (name, (uid, df)) =>
        val physical = physicalTable(dir, name)
        val cur = io.readString(graft.operators.MergeWriter
          .swapMarkerPath(s"$dir/$physical")).getOrElse("")
        val filesGone =
          try df.inputFiles.headOption.exists { f =>
            !io.exists(new java.net.URI(f).getPath)
          } catch { case scala.util.control.NonFatal(_) => true }
        if (cur != uid || filesGone) cache.remove(name): Unit
      }
    }
  }

  /** Attempts a request may make when each loses its table snapshot to
    * a concurrent swap (see [[QueryServer.handle]]). */
  private[queries] val StaleSwapAttempts = 3

  /** Swap-marker uid per marker file directly under `dir` — the state a
    * stale-swap retry compares to tell a rotation from a dead table. */
  private[queries] def swapMarkers(dir: String): Map[String, String] = {
    val io = graft.operators.MergeWriter.io
    val suffix = graft.operators.MergeWriter.swapMarkerPath("")
    io.listDir(dir).collect {
      case (n, false) if n.endsWith(suffix) =>
        n -> io.readString(s"$dir/$n").getOrElse("")
    }.toMap
  }

  /** Sweep `dir` for tables whose live directory is missing beside
    * whole-table swap residue and roll each forward
    * (MergeWriter.recoverCrashedSwap) — the serve plane's half of the
    * swap protocol's crash contract. Returns the number recovered. */
  private[queries] def rollForwardCrashedSwaps(dir: String): Int = {
    val io = graft.operators.MergeWriter.io
    val entries =
      try { if (io.exists(dir)) io.listDir(dir) else Seq.empty }
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
    val names = entries.collect { case (n, true) => n }.toSet
    val bases = names.flatMap { n =>
      Seq(".tmp-", ".old-").flatMap { tag =>
        val i = n.indexOf(tag)
        if (i > 0) Some(n.take(i)) else None
      }
    }
    bases.count(b => !names.contains(b) &&
      graft.operators.MergeWriter.recoverCrashedSwap(s"$dir/$b"))
  }

  /** Host header grammar gate for absolute continuation links: the
    * conservative authority charset (reg-name / IPv4 / bracketed IPv6 /
    * port — RFC 3986 host + ":" port, minus percent-encoding). Anything
    * outside it (in particular `"` and `\`, which JDK HttpServer lets
    * through) is rejected and the response keeps relative links. */
  private val HostPattern = java.util.regex.Pattern
    .compile("[A-Za-z0-9._~:\\[\\]-]+")
  private[queries] def validHost(v: String): Boolean =
    v.nonEmpty && HostPattern.matcher(v).matches()

  /** X-Forwarded-Proto gate: RFC 3986 scheme grammar
    * (ALPHA *( ALPHA / DIGIT / "+" / "-" / "." )). */
  private val SchemePattern = java.util.regex.Pattern
    .compile("[A-Za-z][A-Za-z0-9+.-]*")
  private[queries] def validScheme(v: String): Boolean =
    v.nonEmpty && SchemePattern.matcher(v).matches()

  /** A read that lost its table snapshot to a concurrent swap: the
    * scan's file listing (or the table path itself, for the instant
    * between the swap's two renames) no longer exists. Walks the cause
    * chain — Spark wraps the task's FileNotFoundException in
    * SparkException layers. Message sniffing is SCOPED to Spark's
    * bracketed error-class tags ("[PATH_NOT_FOUND]", "[FILE_NOT_EXIST]"
    * — the forms whose cause chain the scheduler's serialization
    * truncates); a bare "FileNotFoundException" substring is NOT enough,
    * because any exception whose message merely quotes the class name
    * would otherwise buy the 50 ms grace sleep plus a replanned second
    * attempt. The FIRST retry is not uid-gated: a swap-shaped loss
    * whose marker has not yet landed is exactly the race the grace sleep
    * exists for, and a permanently missing table pays one bounded extra
    * attempt before reporting the honest 500. Later retries need a
    * marker rotation (see [[handle]]). */
  private[queries] def isStaleSwapRead(e: Throwable): Boolean = {
    var t = e
    var depth = 0
    while (t != null && depth < 10) {
      t match {
        case _: java.io.FileNotFoundException => return true
        case _ =>
          val m = t.getMessage
          if (m != null && (m.contains("[PATH_NOT_FOUND]") ||
              m.contains("[FILE_NOT_EXIST]"))) return true
      }
      t = t.getCause
      depth += 1
    }
    false
  }

  /** Raised by the HTTP binding's query parser on malformed
    * percent-encoding; rendered as a 400, never a 500. A CLASS, not a
    * case object: a singleton exception captures one stack trace at
    * class-init and shares it across every throw, which would mislead
    * any future logging of 400s. */
  private[queries] final class MalformedQueryException
    extends RuntimeException("Malformed query string.")

  // ------------------------------------------ keyset cursor codecs
  // The ?after= cursor is the sort-key tuple of the previous page's last
  // row, comma-joined: timestamps as MICROS since epoch (TimestampType's
  // native precision — a millis encoding could re-include or skip the
  // boundary row on sub-ms data), ids verbatim ("null" for a null
  // timestamp: unpaid pot payouts sort last and remain continuable).
  // Account/pot ids cannot contain ',' (NEAR account grammar), so the
  // join is unambiguous.
  private[queries] def tsCursor(t: java.sql.Timestamp): String =
    (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L).toString
  private[queries] def cursorTs(s: String): Option[java.sql.Timestamp] =
    if (s == "null") Some(null)
    else s.toLongOption.map { micros =>
      val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      t
    }
  private[queries] def afterString(s: String): Option[String] = Some(s)
  private[queries] def afterLong(s: String): Option[Long] = s.toLongOption
  private[queries] def afterTsLong(
      s: String): Option[(java.sql.Timestamp, Long)] =
    s.split(",", -1) match {
      case Array(a, b) =>
        for { ts <- cursorTs(a); id <- b.toLongOption } yield (ts, id)
      case _ => None
    }
  private[queries] def afterDecString(
      s: String): Option[(java.math.BigDecimal, String)] =
    s.split(",", -1) match {
      case Array(a, b) if b.nonEmpty =>
        if (a == "null") Some((null, b))
        else scala.util.Try(new java.math.BigDecimal(a)).toOption
          // Bounds checked BEFORE setScale: rescaling a huge-negative-
          // scale cursor (?after=1e20000000,x) would compute a 10^N
          // BigInteger first — seconds of CPU per 10-char request, an
          // attacker-priced allocation. scale ≤ 2 (no extra fractional
          // digits to round away) and ≤ 18 integer digits keep the
          // rescaled value inside the stat column's decimal(20,2), so
          // the setScale below is a cheap exact widening and Catalyst's
          // lit() can never throw. Engine-issued cursors (toString of a
          // (20,2) value) always pass.
          .filter(bd => bd.scale <= 2 && bd.precision - bd.scale <= 18)
          .map(bd => (bd.setScale(2), b))
      case _ => None
    }
  private[queries] def afterTsString(
      s: String): Option[(java.sql.Timestamp, String)] =
    s.split(",", -1) match {
      case Array(a, b) if b.nonEmpty => cursorTs(a).map((_, b))
      case _ => None
    }

  /** The physical table a serving read of `name` actually touches —
    * ONE definition shared by the loader and its memo, so the memo can
    * never key freshness on a different table's swap marker than the
    * one the loader reads. */
  private def physicalTable(silverDir: String, name: String): String =
    if (name == "donations" && graft.operators.MergeWriter.io
        .exists(s"$silverDir/donations_enriched")) "donations_enriched"
    else name

  /** The canonical SERVING loader: silver tables through the store's
    * registered layouts, with `donations` mapped to the beat-enriched
    * `donations_enriched` when it exists. The DonationSerializer's USD
    * fields are beat-computed in this engine (the documented deviation:
    * the reference prices at handler time, the engine moves price work
    * out of the ingest hot path, SURVEY §2.9/ST7), so the API must read
    * the beat's output — raw silver donations carry NULL USD forever.
    * Row visibility therefore lags ingest by ≤ the beat cadence, the
    * same 5-minute staleness envelope as the reference's cache_page
    * feeds; counts served from the gold counter states are exactly
    * consistent with these rows (both sides are the same beat's output).
    * `__gen` (the refresh bookkeeping column) is stripped — it must not
    * leak into API JSON. NOT memoized here: freshness comes from
    * SilverStore.registerCached / plain re-reads; wrap in your own memo
    * only if you also key it on the swap-marker uid. */
  def servingLoader(spark: org.apache.spark.sql.SparkSession,
      silverDir: String): String => DataFrame = {
    val store = new graft.ingest.SilverStore(spark, silverDir)
    name =>
      // Only the "donations" ALIAS takes the raw enriched read; a literal
      // "donations_enriched" request still goes through the store's
      // registered layout like any other table.
      if (name == "donations" &&
          physicalTable(silverDir, name) == "donations_enriched") {
        val df = spark.read.parquet(s"$silverDir/donations_enriched")
        val noGen = if (df.columns.contains("__gen")) df.drop("__gen") else df
        if (noGen.columns.contains("__pdate")) noGen.drop("__pdate") else noGen
      } else store.table(name)
  }

  /** [[servingLoader]] memoized per (table, swap-marker uid): the frame —
    * and with it the registration DDL / parquet footer read behind it —
    * is built once per table per SWAP, not per request. Freshness is the
    * marker, exactly what ResultCache keys on: a merge or gold swap
    * rotates the uid and the next call rebuilds; between swaps the cost
    * per call is one small marker-file read. `donations` keys on
    * `donations_enriched`'s marker — that is the table the loader
    * actually reads (every refresh path stamps it: write/writeBucketed/
    * writePartitioned via swapIn, the incremental partition swap
    * explicitly). */
  def memoizedServingLoader(spark: org.apache.spark.sql.SparkSession,
      silverDir: String): String => DataFrame = {
    val raw = servingLoader(spark, silverDir)
    val io = graft.operators.MergeWriter.io
    val cache =
      scala.collection.concurrent.TrieMap[String, (String, DataFrame)]()
    registerLoaderCache(silverDir, cache)
    name => {
      val physical = physicalTable(silverDir, name)
      val uid = io.readString(graft.operators.MergeWriter
        .swapMarkerPath(s"$silverDir/$physical")).getOrElse("")
      cache.get(name) match {
        case Some((u, df)) if u == uid => df
        case _ =>
          val df = raw(name)
          cache.put(name, (uid, df)): Unit
          df
      }
    }
  }

  /** Resident entry point: `runMain graft.queries.QueryServer <silverDir>
    * [port]` — one SparkSession, memoized table loader (registration DDL
    * and footer reads paid once per table per swap), gold counters wired,
    * serves until killed. */
  def main(args: Array[String]): Unit = {
    val silverDir = args.headOption.getOrElse(
      sys.error("usage: QueryServer <silverDir> [port]"))
    val port = if (args.length > 1) args(1).toInt else 8080
    val spark = graft.HarnessSession.local()
    val qs = new QueryService(memoizedServingLoader(spark, silverDir))
    val server = new QueryServer(qs, silverDir,
      goldCounts = Some(new graft.gold.GoldCounts(spark, silverDir)))
    val http = server.start(port)
    println(s"[query-server] serving $silverDir on :$port " +
      "(GET /api/v1/…, /metrics, /health)")
    sys.addShutdownHook { http.stop(0); spark.stop() }
    Thread.currentThread().join()
  }
}
