package graft.queries

/** TTL + freshness-keyed memo over RENDERED route envelopes — the Spark
  * analogue of the reference's per-view result cache
  * (accounts/api.py:79 `cache_page(60*5)` over Redis,
  * base/settings.py:206-218): the reason the reference serves its list
  * routes in single-digit ms while a cold request pays the full
  * filter → join → sort → paginate → serialize pipeline.
  *
  * Key = route + canonicalized params. An entry serves as a WARM HIT
  * while BOTH hold:
  *
  *  - it is younger than `ttlMs` — the reference's 300 s staleness
  *    contract, kept as the outer bound;
  *  - the swap-marker uids of the tables the route reads are unchanged.
  *    Every engine write path rotates its table's marker — the silver
  *    merges via MergeWriter's writers, the gold tables via
  *    GoldRefresh.swapIn. A table written OUT-OF-BAND (a bare df.write
  *    with no swap, as test harnesses do) has no marker; uidsFor
  *    returns "" for it and such routes refresh only at TTL.
  *
  * A marker ROTATION on an entry still inside TTL serves
  * STALE-WHILE-REVALIDATE (when enabled, the production default): the
  * pre-swap body goes out and a single-flight background recompute
  * replaces it — so a beat's table swap never turns every client of the
  * route into a convoy of recomputes racing the beat's own Spark stages
  * (the round-14 soak measured that convoy at 8-39 s). Bodies lag a
  * swap by one background recompute (seconds); the absolute staleness
  * bound stays `ttlMs`, the same envelope as the reference's
  * cache_page(60*5) — which serves 300-s-stale bodies after EVERY
  * write, so this tier remains strictly fresher.
  *
  * Values are the rendered envelope (JSON strings), so a warm hit costs a
  * hash lookup plus one marker-file read per source table — no Spark job,
  * no plan, no collect. That is what turns the serve plane's 600-800 ms
  * donation routes into single-digit-ms warm hits (measured at f33c8ee).
  *
  * Bounded: LRU eviction at `maxEntries` (the route × params space is
  * user-driven and unbounded). This is a per-process memo, not a
  * distributed tier — at fleet scale each API replica warms
  * independently, exactly like a per-replica local cache in front of the
  * reference's Redis.
  *
  * Thread-safe; `now` is injectable for deterministic TTL tests.
  */
final class ResultCache(
    ttlMs: Long = 5 * 60 * 1000L,
    maxEntries: Int = 4096,
    now: () => Long = () => System.currentTimeMillis(),
    staleWhileRevalidate: Boolean = true) {

  private final case class Entry(uids: Seq[String], atMs: Long, value: AnyRef)

  // Access-ordered LinkedHashMap = LRU; all access synchronized (route
  // rendering dominates cost, the map is never hot).
  private val map = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Entry]): Boolean = size() > maxEntries
  }

  private val hitCount = new java.util.concurrent.atomic.AtomicLong
  private val missCount = new java.util.concurrent.atomic.AtomicLong
  private val revalidationCount = new java.util.concurrent.atomic.AtomicLong
  def hits: Long = hitCount.get
  def misses: Long = missCount.get
  def revalidations: Long = revalidationCount.get

  // Single-flight guard for background revalidations (one in-flight
  // recompute per key; concurrent stale hits don't stampede) + the
  // daemon pool they run on. Cached pool: revalidations are short
  // route computes and bursty only right after a swap.
  private val inFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val revalidateEc =
    java.util.concurrent.Executors.newCachedThreadPool((r: Runnable) => {
      val t = new Thread(r, "cache-revalidate")
      t.setDaemon(true)
      t
    })

  /** Serve `key` from cache when fresh, else run `compute`, store, and
    * return it. `uids` is the CURRENT freshness fingerprint of the tables
    * the route reads (evaluated on every call — cheap marker reads); a
    * cached entry whose recorded fingerprint differs is recomputed.
    * `store` gates which computed values enter the map (Django
    * cache_page parity: only status-200 bodies cache — without the
    * gate, every distinct garbage param spelling that 404s would mint
    * its own LRU entry, an eviction lever against the shared cache). */
  def memo[T <: AnyRef](key: String, uids: => Seq[String],
      store: T => Boolean = (_: T) => true)(compute: => T): T = {
    val t = now()
    val u = uids
    val stale: Option[T] = map.synchronized {
      Option(map.get(key)) match {
        case Some(e) if t - e.atMs < ttlMs && e.uids == u =>
          hitCount.incrementAndGet(): Unit
          return e.value.asInstanceOf[T]
        case Some(e) if t - e.atMs < ttlMs => Some(e.value.asInstanceOf[T])
        case _ => None
      }
    }
    // STALE-WHILE-REVALIDATE: a swap-marker rotation alone (entry still
    // inside TTL, only the uid fingerprint moved) serves the PRE-swap
    // body and recomputes in the BACKGROUND — the client-visible path
    // never pays a post-swap recompute convoy (measured at 8-39 s when
    // every client of an invalidated route recomputed in the beat's own
    // busiest window). Freshness contract: bodies lag a swap by ONE
    // background recompute (seconds, single-flight per key), bounded
    // absolutely by the TTL — the reference's cache_page(60*5) serves
    // 300-s-stale bodies after every write, so this remains strictly
    // fresher. Monotone for clients: the stale body is exactly what
    // they were already being served; the swap publishes when the
    // revalidation lands. The entry's uid fingerprint is evaluated
    // BEFORE the recompute starts: a swap racing the recompute leaves a
    // mismatched fingerprint and the next request revalidates again —
    // convergent, never stale-forever.
    stale match {
      case Some(v) if staleWhileRevalidate =>
        if (inFlight.add(key)) {
          revalidationCount.incrementAndGet(): Unit
          missCount.incrementAndGet(): Unit
          revalidateEc.execute(() => {
            try {
              val u2 = uids
              val t2 = now()
              val v2 = compute
              if (store(v2))
                map.synchronized { map.put(key, Entry(u2, t2, v2)): Unit }
              else
                // The recompute is a non-storable body (e.g. the route
                // now 404s a page that existed pre-swap): EVICT the
                // stale entry so the next request takes the synchronous
                // miss path and serves the fresh answer. Leaving it
                // would pin the dead 200 until TTL and re-trigger a
                // background recompute on every request.
                map.synchronized { map.remove(key): Unit }
            } catch {
              case scala.util.control.NonFatal(_) =>
                // Dropped revalidation: the next stale hit retriggers.
            } finally inFlight.remove(key): Unit
          })
        } else hitCount.incrementAndGet(): Unit
        v
      case _ =>
        // Compute OUTSIDE the lock (a slow route must not serialize the
        // whole plane); a concurrent miss on the same key double-computes,
        // which is the standard cache-stampede trade at this tier.
        missCount.incrementAndGet(): Unit
        val v = compute
        if (store(v))
          map.synchronized { map.put(key, Entry(u, t, v)): Unit }
        v
    }
  }

  def invalidateAll(): Unit = map.synchronized(map.clear())
  def size: Int = map.synchronized(map.size())
}

object ResultCache {
  /** Canonical cache key for a route + params (order-independent).
    * Keys and values are URL-encoded: params are USER-driven route
    * inputs, so a value containing '&'/'=' must not collide with a
    * differently-structured param list rendering the same raw string. */
  def routeKey(route: String, params: (String, Any)*): String = {
    def esc(s: String): String =
      java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
    route + "?" + params.sortBy(_._1)
      .map { case (k, v) => s"${esc(k)}=${esc(String.valueOf(v))}" }
      .mkString("&")
  }

  /** Freshness fingerprint provider over a silver store directory: the
    * swap-marker uid per table (empty string when the table or marker
    * does not exist yet — still a valid fingerprint: it changes when the
    * first merge lands). */
  def uidsFor(silverDir: String)(tables: Seq[String]): Seq[String] = {
    val io = graft.operators.MergeWriter.io
    tables.map { n =>
      io.readString(
        graft.operators.MergeWriter.swapMarkerPath(s"$silverDir/$n"))
        .getOrElse("")
    }
  }
}
