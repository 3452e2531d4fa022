package graft.queries

import org.scalatest.funsuite.AnyFunSuite

class ResultCacheSpec extends AnyFunSuite {

  private def fixedClock(t0: Long): (() => Long, Long => Unit) = {
    var t = t0
    (() => t, (nt: Long) => t = nt)
  }

  test("warm hit returns the identical envelope without recompute") {
    val cache = new ResultCache(ttlMs = 300000)
    var computes = 0
    def render(): Array[String] = { computes += 1; Array("""{"a":1}""") }
    val k = ResultCache.routeKey("/v1/accounts", "page" -> 1)
    val a = cache.memo(k, Seq("u1"))(render())
    val b = cache.memo(k, Seq("u1"))(render())
    assert(computes == 1)
    assert(a eq b) // the SAME rendered envelope, not a re-render
    assert(cache.hits == 1 && cache.misses == 1)
  }

  test("uid rotation: stale-while-revalidate serves the pre-swap body, then converges") {
    val cache = new ResultCache(ttlMs = 300000)
    @volatile var computes = 0
    val k = ResultCache.routeKey("/v1/donations", "page" -> 1)
    cache.memo(k, Seq("u1")) { computes += 1; "v1" }
    // Rotation: the request path serves the PRE-swap body (no recompute
    // convoy on clients) while a single-flight background recompute runs…
    assert(cache.memo(k, Seq("u2")) { computes += 1; "v2" } == "v1")
    // …and the entry converges to the recomputed body.
    var polls = 0
    while (cache.memo(k, Seq("u2")) { computes += 1; "v2" } == "v1" &&
        polls < 200) { Thread.sleep(25); polls += 1 }
    assert(cache.memo(k, Seq("u2")) { computes += 1; "v3" } == "v2")
    assert(computes == 2, s"stampeded: $computes computes")
    assert(cache.revalidations == 1)
  }

  test("TTL expiry recomputes even with unchanged uids (300 s contract)") {
    val (now, set) = fixedClock(1000000L)
    val cache = new ResultCache(ttlMs = 300000, now = now)
    var computes = 0
    val k = "route"
    cache.memo(k, Seq("u")) { computes += 1; "v1" }
    set(1000000L + 299999L)
    assert(cache.memo(k, Seq("u")) { computes += 1; "v2" } == "v1")
    set(1000000L + 300000L)
    assert(cache.memo(k, Seq("u")) { computes += 1; "v3" } == "v3")
    assert(computes == 2)
  }

  test("distinct params are distinct entries; key is order-independent") {
    val cache = new ResultCache()
    var computes = 0
    val k1 = ResultCache.routeKey("/v1/accounts", "page" -> 1, "sort" -> "id")
    val k1b = ResultCache.routeKey("/v1/accounts", "sort" -> "id", "page" -> 1)
    val k2 = ResultCache.routeKey("/v1/accounts", "page" -> 2, "sort" -> "id")
    assert(k1 == k1b && k1 != k2)
    cache.memo(k1, Seq("u")) { computes += 1; "p1" }
    cache.memo(k2, Seq("u")) { computes += 1; "p2" }
    assert(cache.memo(k1b, Seq("u")) { computes += 1; "p1x" } == "p1")
    assert(computes == 2)
  }

  test("LRU bound evicts the least-recently-used entry") {
    val cache = new ResultCache(maxEntries = 2)
    var computes = 0
    cache.memo("a", Seq("u")) { computes += 1; "va" }
    cache.memo("b", Seq("u")) { computes += 1; "vb" }
    cache.memo("a", Seq("u")) { computes += 1; "va2" } // touch a → b is LRU
    cache.memo("c", Seq("u")) { computes += 1; "vc" }  // evicts b
    assert(cache.size == 2)
    assert(cache.memo("a", Seq("u")) { computes += 1; "va3" } == "va")
    assert(cache.memo("b", Seq("u")) { computes += 1; "vb2" } == "vb2")
    assert(computes == 4)
  }

  test("uidsFor reads swap markers and changes when a merge lands") {
    val dir = java.nio.file.Files.createTempDirectory("rc-uids").toString
    val before = ResultCache.uidsFor(dir)(Seq("donations", "accounts"))
    assert(before == Seq("", ""))
    graft.operators.MergeWriter.io.writeStringAtomic(
      graft.operators.TableSwap.markerPath(s"$dir/donations"), "abc123")
    val after = ResultCache.uidsFor(dir)(Seq("donations", "accounts"))
    assert(after == Seq("abc123", ""))
  }
}
