package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.gold.Stats

/** The resident serving tier over the QueryServiceSpec fixture: routing,
  * DRF-parity bodies, 404/400 documents, the 500 req/min token bucket,
  * rendered-envelope caching with swap-marker invalidation, and the JDK
  * HTTP binding end-to-end. */
@org.scalatest.tags.Slow
class QueryServerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val silverDir = tmpDir("serve-silver")

  private lazy val tables: Map[String, DataFrame] = {
    val accounts = Seq(
      ("donor1.near", null.asInstanceOf[String]),
      ("proj1.near", null.asInstanceOf[String])
    ).toDF("id", "near_social_profile_data")
    val ts0 = java.sql.Timestamp.valueOf("2024-06-10 00:00:00")
    val donations = Seq(
      (1L, "donor1.near", "proj1.near", null.asInstanceOf[String], false, 10.0, ts0),
      (2L, "donor1.near", "proj1.near", null.asInstanceOf[String], false, 20.0, ts0)
    ).toDF("on_chain_id", "donor", "recipient", "pot", "matching_pool",
      "usd", "donated_at")
      .withColumn("total_amount_usd", col("usd").cast("decimal(20,2)"))
      .withColumn("total_amount_dec", col("usd").cast("decimal(38,0)"))
      .withColumn("ft", lit("near"))
      .drop("usd")
      // full DonationSerializer column set (the production silver shape —
      // the route render goes through Serializers.donationJson)
      .withColumn("total_amount", lit("100000000"))
      .withColumn("net_amount", lit("90000000"))
      .withColumn("net_amount_usd", col("total_amount_usd"))
      .withColumn("message", lit(null).cast("string"))
      .withColumn("protocol_fee", lit("0"))
      .withColumn("protocol_fee_usd", lit(null).cast("decimal(20,2)"))
      .withColumn("referrer", lit(null).cast("string"))
      .withColumn("referrer_fee", lit(null).cast("string"))
      .withColumn("referrer_fee_usd", lit(null).cast("decimal(20,2)"))
      .withColumn("chef", lit(null).cast("string"))
      .withColumn("chef_fee", lit(null).cast("string"))
      .withColumn("chef_fee_usd", lit(null).cast("decimal(20,2)"))
      .withColumn("tx_hash", lit("abc"))
    val payouts = Seq.empty[(String, String, java.sql.Timestamp)]
      .toDF("pot", "recipient", "paid_at")
      .withColumn("amount_paid_usd", lit(null).cast("decimal(20,2)"))
      // full PotPayoutSerializer column set (production silver shape)
      .withColumn("amount", lit(null).cast("string"))
      .withColumn("ft", lit(null).cast("string"))
      .withColumn("tx_hash", lit(null).cast("string"))
    Map(
      "accounts" -> accounts,
      "donations" -> donations,
      "tokens" -> Seq(("near", "NEAR", "NEAR", 24))
        .toDF("account", "name", "symbol", "decimals"),
      "pot_payouts" -> payouts,
      "lists" -> Seq((5L, "owner.near")).toDF("on_chain_id", "owner"),
      "list_registrations" -> Seq(
        (11L, 5L, "proj1.near", "owner.near", "Approved", ts0, ts0,
          null.asInstanceOf[String], null.asInstanceOf[String], "txr"))
        .toDF("on_chain_id", "list_id", "registrant", "registered_by",
          "status", "submitted_at", "updated_at", "registrant_notes",
          "admin_notes", "tx_hash"),
      "pots" -> Seq(("pot1.near", "v1.factory.near", "My Pot"))
        .toDF("account", "pot_factory", "name"),
      "pot_applications" -> Seq(
        ("pot1.near", "proj1.near", "please", "Pending", ts0, ts0, "tx1"))
        .toDF("pot", "applicant", "message", "status", "submitted_at",
          "updated_at", "tx_hash"),
      "pot_factories" -> Seq(("v1.factory.near", "owner.near",
        """{"commit_hash":"abc123","link":"https://github.com/PotLock/core","version":"0.1.0"}"""))
        .toDF("account", "owner", "source_metadata"),
      "donate_contract_config" -> Seq(
        """{"owner":"potlock.near","protocol_fee_basis_points":250}""")
        .toDF("config"),
      "account_stats" -> Stats.accountStats(accounts, donations, payouts),
      "global_stats" -> Stats.globalStats(donations, payouts))
  }

  private lazy val qs = new QueryService(tables(_))

  private def server(throttle: Int = 500,
      clock: () => Long = () => System.currentTimeMillis()): QueryServer =
    new QueryServer(qs, silverDir, throttlePerMin = throttle, nowMs = clock)

  test("routes render DRF documents: envelope, detail, 404, 400, method guard") {
    val s = server()
    val list = s.handle("GET", "/api/v1/accounts", Map.empty)
    assert(list.status == 200)
    assert(list.body.startsWith("""{"count": 2, "next": null, "previous": null, "results": ["""))
    assert(list.body.contains(""""id":"donor1.near""""))

    val det = s.handle("GET", "/v1/accounts/donor1.near", Map.empty)
    assert(det.status == 200 && det.body.startsWith("""{"id":"donor1.near""""))

    val miss = s.handle("GET", "/api/v1/accounts/ghost.near", Map.empty)
    assert(miss.status == 404)
    assert(miss.body == """{"message": "Account with ID ghost.near not found."}""")

    val bad = s.handle("GET", "/api/v1/accounts/proj1.near/list-registrations",
      Map("status" -> "Bogus"))
    assert(bad.status == 400)
    assert(bad.body == """{"message": "Invalid status value: Bogus"}""")

    val feed = s.handle("GET", "/api/v1/accounts/proj1.near/donations_received",
      Map.empty)
    assert(feed.status == 200 && feed.body.startsWith("""{"count": 2"""))
    assert(feed.body.contains(""""total_amount_usd":"10.00""""))

    assert(s.handle("GET", "/api/v1/nope", Map.empty).status == 404)
    assert(s.handle("POST", "/api/v1/accounts", Map.empty).status == 405)
    assert(s.handle("GET", "/health", Map.empty).status == 200)
    assert(s.handle("GET", "/metrics", Map.empty).body.contains("\"requests\":"))
  }

  test("pagination envelope carries relative continuation URLs preserving params") {
    val qs31 = new QueryService(tables.updated("accounts",
      (1 to 70).map(i => (f"acct$i%03d.near", null.asInstanceOf[String]))
        .toDF("id", "near_social_profile_data"))(_))
    val s = new QueryServer(qs31, silverDir)
    // Continuation URLs keep the path AS REQUESTED: a client routed
    // through a proxy that forwards only /api/* must be able to follow
    // next/previous (the two prefix spellings also cache separately —
    // their bodies differ).
    val p2 = s.handle("GET", "/api/v1/accounts", Map("page" -> "2"))
    assert(p2.body.contains(""""next": "/api/v1/accounts?page=3""""))
    // DRF removes the page param for page 1 (get_previous_link) — the
    // previous link of page 2 is the bare route.
    assert(p2.body.contains(""""previous": "/api/v1/accounts""""))
    assert(!p2.body.contains("previous\": \"/api/v1/accounts?page=1"))
    val bare = s.handle("GET", "/v1/accounts", Map("page" -> "2"))
    assert(bare.body.contains(""""next": "/v1/accounts?page=3""""))
    assert(bare.body.contains(""""previous": "/v1/accounts""""))
    // With other params, page-1 previous keeps them: ?page_size only.
    val p2s = s.handle("GET", "/api/v1/accounts",
      Map("page" -> "2", "page_size" -> "30"))
    assert(p2s.body.contains(""""previous": "/api/v1/accounts?page_size=30""""))
  }

  test("DRF pagination parity: invalid and past-the-end pages are 404 Invalid page.") {
    val s = server()
    // Present-but-garbage page values: DRF's NotFound document, not a
    // silent coercion to page 1 (and not a cache entry per garbage
    // value). `last` is NOT garbage — DRF's last_page_strings alias,
    // covered by its own test below.
    Seq("0", "-3", "abc", "LAST", "1last").foreach { bad =>
      val r = s.handle("GET", "/api/v1/accounts", Map("page" -> bad))
      assert(r.status == 404, s"page=$bad")
      assert(r.body == """{"detail": "Invalid page."}""", s"page=$bad")
    }
    // Past the end: 2 accounts / page size 30 → page 2 is out of range.
    val past = s.handle("GET", "/api/v1/accounts", Map("page" -> "2"))
    assert(past.status == 404 && past.body == """{"detail": "Invalid page."}""")
    // Page 1 of an EMPTY set stays 200 (django num_pages floors at 1):
    // donor1 received nothing, so the set is empty but page 1 is valid.
    val empty = s.handle("GET",
      "/api/v1/accounts/donor1.near/donations_received", Map("page" -> "1"))
    assert(empty.status == 200 && empty.body.contains(""""count": 0"""))
    // Detail routes ignore `page` exactly like DRF (pagination never runs).
    val det = s.handle("GET", "/api/v1/accounts/donor1.near",
      Map("page" -> "abc"))
    assert(det.status == 200)
  }

  test("token bucket: the reference's 500/min envelope — burst, 429 + Retry-After, refill") {
    var t = 0L
    val s = server(throttle = 3, clock = () => t)
    (1 to 3).foreach { _ =>
      assert(s.handle("GET", "/health", Map.empty, client = "1.2.3.4").status == 200)
    }
    val over = s.handle("GET", "/health", Map.empty, client = "1.2.3.4")
    assert(over.status == 429)
    assert(over.body == """{"message": "Request was throttled."}""")
    assert(over.headers.get("Retry-After").exists(_.toLong >= 1L))
    assert(s.throttled == 1)
    // Another client has its own bucket.
    assert(s.handle("GET", "/health", Map.empty, client = "5.6.7.8").status == 200)
    // Refill: 3/min = one token per 20 s.
    t += 21000L
    assert(s.handle("GET", "/health", Map.empty, client = "1.2.3.4").status == 200)
    assert(s.handle("GET", "/health", Map.empty, client = "1.2.3.4").status == 429)
    // A backwards wall-clock step (NTP) must pause refill — never DRAIN
    // tokens, and never refill the stepped-over interval TWICE when the
    // clock recovers (the refill baseline is monotone): stepping back
    // 21 s and returning grants nothing; only genuinely new time does.
    t -= 21000L
    assert(s.handle("GET", "/health", Map.empty, client = "1.2.3.4").status == 429)
    t += 21000L // clock back at its former value: no NEW elapsed time
    assert(s.handle("GET", "/health", Map.empty, client = "1.2.3.4").status == 429)
    t += 21000L // genuinely new time: one token refills
    assert(s.handle("GET", "/health", Map.empty, client = "1.2.3.4").status == 200)
  }

  test("rendered envelopes memoize; a swap-marker rotation triggers a revalidation") {
    val s = server()
    val cold = s.handle("GET", "/api/v1/stats", Map.empty)
    assert(cold.status == 200)
    val missesAfterCold = s.cacheMisses
    val warm = s.handle("GET", "/api/v1/stats", Map.empty)
    assert(warm == cold)
    assert(s.cacheHits >= 1 && s.cacheMisses == missesAfterCold)
    // Rotate the source table's swap marker (what every merge/refresh
    // does): the very next request triggers a recompute (served
    // stale-while-revalidate — the request itself gets the pre-swap
    // body; ResultCacheSpec pins the convergence).
    graft.operators.MergeWriter.io.writeStringAtomic(
      graft.operators.TableSwap.markerPath(s"$silverDir/global_stats"),
      "probe-uid")
    s.handle("GET", "/api/v1/stats", Map.empty): Unit
    assert(s.cacheMisses == missesAfterCold + 1)
  }

  test("page_size parity: honored on list routes, garbage falls back to 30 silently") {
    val qs31 = new QueryService(tables.updated("accounts",
      (1 to 70).map(i => (f"acct$i%03d.near", null.asInstanceOf[String]))
        .toDF("id", "near_social_profile_data"))(_))
    val s = new QueryServer(qs31, silverDir)
    // CustomSizePageNumberPagination (api/pagination.py:8-9): page_size
    // resizes the page and the envelope's arithmetic follows.
    val small = s.handle("GET", "/api/v1/accounts",
      Map("page" -> "2", "page_size" -> "5"))
    assert(small.status == 200)
    assert(small.body.contains(""""count": 70"""))
    assert(small.body.contains("acct006.near") &&
      small.body.contains("acct010.near") && !small.body.contains("acct011.near"))
    // Continuation URLs carry page_size through (params key-sorted).
    assert(small.body.contains(""""next": "/api/v1/accounts?page=3&page_size=5""""))
    // 70 rows / size 5 → page 14 exists, page 15 is DRF's 404.
    assert(s.handle("GET", "/api/v1/accounts",
      Map("page" -> "14", "page_size" -> "5")).status == 200)
    assert(s.handle("GET", "/api/v1/accounts",
      Map("page" -> "15", "page_size" -> "5")).status == 404)
    // Garbage page_size is NOT a 404 (DRF get_page_size catches the
    // ValueError): silent fallback to the default 30.
    val garbage = s.handle("GET", "/api/v1/accounts",
      Map("page_size" -> "abc"))
    assert(garbage.status == 200)
    assert(garbage.body.contains("acct030.near") &&
      !garbage.body.contains("acct031.near"))
  }

  test("page_size clamps at MaxPageSize — the shared-driver OOM guard") {
    // 10,005 accounts: a request for 20,000 rows must clamp to the
    // 10,000 ceiling (next page non-null, count untouched) — if the raw
    // value were honored the whole set would fit one page and next would
    // be null. This is the one behavior protecting the resident driver
    // from an anonymous ?page_size=2000000000 materialization.
    val big = new QueryService(tables.updated("accounts",
      (1 to 10005).map(i => (f"a$i%05d.near", null.asInstanceOf[String]))
        .toDF("id", "near_social_profile_data"))(_))
    val s = new QueryServer(big, silverDir)
    val r = s.handle("GET", "/api/v1/accounts", Map("page_size" -> "20000"))
    assert(r.status == 200)
    assert(r.body.contains(""""count": 10005"""))
    assert(r.body.contains(
      """"next": "/api/v1/accounts?page=2&page_size=20000""""))
    assert(r.body.contains("a10000.near") && !r.body.contains("a10001.near"))
  }

  test("keyset continuation (?after=): full walk ≡ offset pages, composite cursors, 400 on garbage") {
    val qs31 = new QueryService(tables.updated("accounts",
      (1 to 70).map(i => (f"acct$i%03d.near", null.asInstanceOf[String]))
        .toDF("id", "near_social_profile_data"))(_))
    val s = new QueryServer(qs31, silverDir)
    // Walk the accounts list by following `next` from the first keyset
    // page (after= empty) — the union must equal the offset walk, and no
    // count job is ever paid (count: null in every envelope).
    def ids(body: String): Seq[String] =
      """"id":"(acct\d+\.near)"""".r.findAllMatchIn(body).map(_.group(1)).toSeq
    var url = "/api/v1/accounts?after=&page_size=30"
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    var hops = 0
    while (url != null && hops < 10) {
      hops += 1
      val Array(p, q) = url.split("\\?", 2)
      val params = q.split('&').filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
      val r = s.handle("GET", p, params)
      assert(r.status == 200)
      assert(r.body.startsWith("""{"count": null,"""))
      seen ++= ids(r.body)
      url = """"next": "([^"]+)"""".r.findFirstMatchIn(r.body)
        .map(_.group(1)).orNull
    }
    assert(hops == 3 && seen.size == 70, s"hops=$hops seen=${seen.size}")
    assert(seen == (1 to 70).map(i => f"acct$i%03d.near"),
      "keyset walk must enumerate exactly the offset order")
    // The next URL keeps the requested prefix and page_size.
    val first = s.handle("GET", "/api/v1/accounts",
      Map("after" -> "", "page_size" -> "30"))
    assert(first.body.contains(""""next": "/api/v1/accounts?after=acct030.near&page_size=30""""))

    // Composite (timestamp,long) cursor on a donation route: both fixture
    // donations share donated_at, so order is the on_chain_id ASC
    // tie-break — after (ts0, 1) the continuation is exactly id 2.
    val ts0 = java.sql.Timestamp.valueOf("2024-06-10 00:00:00")
    val cursor = s"${QueryServer.tsCursor(ts0)},1"
    val cont = s.handle("GET", "/api/v1/accounts/proj1.near/donations_received",
      Map("after" -> cursor))
    assert(cont.status == 200)
    assert(cont.body.contains(""""on_chain_id":2""") &&
      !cont.body.contains(""""on_chain_id":1"""))

    // Garbage cursors are 400 (machine-built, unlike DRF's page).
    Seq("not-a-cursor", "123", "abc,def").foreach { bad =>
      val r = s.handle("GET", "/api/v1/accounts/proj1.near/donations_received",
        Map("after" -> bad))
      assert(r.status == 400, s"after=$bad")
      assert(r.body == """{"message": "Invalid after cursor."}""")
    }
    // Timestamp cursor codec is exact at micros precision.
    val t = new java.sql.Timestamp(1718000000123L)
    t.setNanos(123456000)
    assert(QueryServer.cursorTs(QueryServer.tsCursor(t)) == Some(t))

    // Every keyset-capable route of the route table, walked at
    // page_size=1 by following `next` from the first keyset page, serves
    // exactly the rows of its offset pages in the same order. The
    // fixture gives each route ≥ 2 rows, with sort-key ties and a null
    // paid_at, so every continuation predicate runs.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def local(df: DataFrame): DataFrame =
      spark.createDataFrame(df.collectAsList(), df.schema)
    val ts = (0 to 2).map(d => java.sql.Timestamp.valueOf(s"2024-06-1$d 00:00:00"))
    val accounts = Seq("donor1.near", "donor2.near", "proj1.near")
      .map((_, null.asInstanceOf[String])).toDF("id", "near_social_profile_data")
    val dons = local((1 to 5).map { i =>
      tables("donations").limit(1)
        .withColumn("on_chain_id", lit(i.toLong))
        .withColumn("donor", lit(if (i % 2 == 0) "donor2.near" else "donor1.near"))
        .withColumn("pot", lit("pot1.near"))
        .withColumn("matching_pool", lit(i <= 2))
        .withColumn("donated_at", lit(ts(i / 2)))
    }.reduce(_ union _))
    val payouts = Seq(("pot1.near", "proj1.near", ts(0)),
      ("pot1.near", "proj2.near", null.asInstanceOf[java.sql.Timestamp]),
      ("pot1.near", "proj3.near", ts(1)), ("pot2.near", "proj1.near", ts(2)))
      .toDF("pot", "recipient", "paid_at")
      .withColumn("amount_paid_usd", lit(null).cast("decimal(20,2)"))
      .withColumn("amount", lit(null).cast("string"))
      .withColumn("ft", lit(null).cast("string"))
      .withColumn("tx_hash", lit(null).cast("string"))
    val rich = tables ++ Map(
      "accounts" -> accounts,
      "donations" -> dons,
      "pot_payouts" -> payouts,
      "lists" -> Seq(5L, 6L, 7L).map((_, "owner.near")).toDF("on_chain_id", "owner"),
      "list_registrations" -> Seq((11L, "proj1.near", ts(0)),
        (12L, "proj1.near", ts(1)), (13L, "proj2.near", ts(1)))
        .toDF("on_chain_id", "registrant", "submitted_at")
        .withColumn("list_id", lit(5L))
        .withColumn("registered_by", lit("owner.near"))
        .withColumn("status", lit("Approved"))
        .withColumn("updated_at", col("submitted_at"))
        .withColumn("registrant_notes", lit(null).cast("string"))
        .withColumn("admin_notes", lit(null).cast("string"))
        .withColumn("tx_hash", lit("txr")),
      "pots" -> Seq("pot1.near", "pot2.near", "pot3.near")
        .map((_, "v1.factory.near")).toDF("account", "pot_factory"),
      "pot_applications" -> Seq(("pot1.near", "proj1.near", ts(0)),
        ("pot1.near", "proj2.near", ts(0)), ("pot2.near", "proj1.near", ts(1)))
        .toDF("pot", "applicant", "submitted_at")
        .withColumn("message", lit("please"))
        .withColumn("status", lit("Pending"))
        .withColumn("updated_at", col("submitted_at"))
        .withColumn("tx_hash", lit("tx1")),
      "pot_factories" -> Seq("f1.near", "f2.near").toDF("account"),
      "account_stats" -> Stats.accountStats(accounts, dons, payouts),
      "global_stats" -> Stats.globalStats(dons, payouts))
    val rqs = new QueryService(rich(_))
    val rs = new QueryServer(rqs, silverDir)
    val fixtureIds = Map("account" -> "proj1.near", "donor" -> "donor1.near",
      "pot" -> "pot1.near", "list" -> "5")
    def results(body: String) =
      om.readTree(body).get("results").elements().asScala.toSeq
    def get(path: String, params: Map[String, String]) = {
      val r = rs.handle("GET", path, params)
      assert(r.status == 200, s"$path $params -> ${r.status} ${r.body.take(200)}")
      r.body
    }
    // The one-string-key cursor is the whole value (ids are free text),
    // so no non-empty value is garbage there; every other shape 400s.
    val garbage: Map[Seq[DataType], (String, Int)] = Map(
      Seq(StringType) -> (("not,a,cursor", 200)),
      Seq(LongType) -> (("abc", 400)),
      Seq(TimestampType, LongType) -> (("1718000000000000,abc", 400)),
      Seq(TimestampType, StringType) -> (("abc,proj1.near", 400)),
      Seq(DecimalType(20, 2), StringType) -> (("abc,donor1.near", 400)))
    val walked = for {
      route <- QueryServer.routes
      listing <- Seq(route.serves).collect { case QueryServer.Pages(l, false) => l }
      extra <- Map.empty[String, String] +: route.query.filter(_ == "sort")
        .map(k => Map(k -> "most_donated_usd"))
    } yield {
      val id = fixtureIds.getOrElse(route.warm, "")
      val path = "/api" + route.path.replaceAll("\\{[^}]+\\}", id)
      val shape = listing(QueryServer.Call(rqs, None, () => 0L, id, extra))
        .keys.map(_.tpe)
      val offset = {
        val first = get(path, extra + ("page_size" -> "1"))
        val n = om.readTree(first).get("count").asLong
        results(first) ++ (2L to n).flatMap(pg =>
          results(get(path, extra ++ Map("page_size" -> "1", "page" -> pg.toString))))
      }
      var url: Option[String] = Some(path + "?after=&page_size=1")
      val keyset = scala.collection.mutable.ArrayBuffer.empty[com.fasterxml.jackson.databind.JsonNode]
      var hops = 0
      while (url.nonEmpty && hops <= offset.size) {
        hops += 1
        val Array(p, q) = url.get.split("\\?", 2)
        val body = get(p, QueryServer.parseQuery(q) ++ extra)
        keyset ++= results(body)
        url = Option(om.readTree(body).get("next")).filterNot(_.isNull).map(_.asText)
      }
      assert(offset.size >= 2, s"$path $extra: fixture gives ${offset.size} rows")
      assert(keyset.toSeq == offset,
        s"$path $extra: keyset walk ${keyset.size} rows != offset ${offset.size}")
      val (bad, status) = garbage(shape)
      val r = rs.handle("GET", path, extra + ("after" -> bad))
      assert(r.status == status, s"$path after=$bad -> ${r.status}")
      if (status == 400) assert(r.body == """{"message": "Invalid after cursor."}""")
      shape
    }
    assert(walked.size == 16, s"walked ${walked.size} route forms")
    assert(walked.toSet == garbage.keySet, s"cursor shapes walked: ${walked.toSet}")
  }

  test("donors keyset: leaderboard deep-walk cursor under both sort modes") {
    val s = server()
    // Stat-sorted first page: donor1 (the only donor, 30.00 USD out).
    val first = s.handle("GET", "/api/v1/donors",
      Map("sort" -> "most_donated_usd", "after" -> ""))
    assert(first.status == 200)
    assert(first.body.startsWith("""{"count": null,"""))
    assert(first.body.contains(""""id":"donor1.near""""))
    // Continuation past the stat cursor: nothing remains.
    val cont = s.handle("GET", "/api/v1/donors",
      Map("sort" -> "most_donated_usd", "after" -> "30.00,donor1.near"))
    assert(cont.status == 200 && cont.body.contains(""""results": []"""))
    // Default (id) sort cursor.
    val byId = s.handle("GET", "/api/v1/donors",
      Map("after" -> "donor1.near"))
    assert(byId.status == 200 && byId.body.contains(""""results": []"""))
    // A null stat cursor continues (nulls sort last on the desc stat).
    val nullCur = s.handle("GET", "/api/v1/donors",
      Map("sort" -> "most_donated_usd", "after" -> "null,aaa.near"))
    assert(nullCur.status == 200)
    // Unliftable decimals are 400 (>20-digit precision, extra
    // fractional digits) — none may reach Catalyst's lit() as a 500,
    // and the huge-exponent form must be REJECTED BEFORE any rescale
    // (setScale on 1e20000000 would compute a 10^20000002 BigInteger:
    // ~12 s of attacker-priced CPU per 12-char request).
    Seq("abc", "1" * 50, "30.005", "1e20000000").foreach { bad =>
      val t0 = System.nanoTime()
      val r = s.handle("GET", "/api/v1/donors",
        Map("sort" -> "most_donated_usd", "after" -> s"$bad,donor1.near"))
      assert(r.status == 400, s"after=$bad → ${r.status}")
      assert((System.nanoTime() - t0) < 2e9, s"after=$bad took too long")
    }
    // Exponent notation is a VALID decimal oddly spelled: the cursor
    // rescales to the stat column's (20,2) — 1e9 ≡ 1000000000.00 — and
    // serves, rather than 500ing inside lit() on the negative scale.
    assert(s.handle("GET", "/api/v1/donors",
      Map("sort" -> "most_donated_usd", "after" -> "1e9,donor1.near"))
      .status == 200)
  }

  test("donors keyset plans bounded: TakeOrderedAndProject, no Window") {
    // The deep-walk claim is a PLAN property, not just a wall-clock one:
    // the continuation must stay a pushed predicate + bounded top-k even
    // with the semi-join in front (q_o6 pins bare keysetSlice; this pins
    // the composed donors shape).
    // pageSize BELOW the fixture's known row count: on a 2-row
    // LocalRelation with pageSize ≥ rows, EliminateLimits proves the
    // result fits and strips the limit (a plain Sort of a provably-tiny
    // input — harmless, and impossible on a real file scan whose maxRows
    // is unknown). The bounded-top-k claim needs the limit to survive.
    for (sortMost <- Seq(true, false)) {
      val plan = qs.donorsListing(sortMost).after(None, pageSize = 1)
        .queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"),
        s"sortMost=$sortMost:\n${plan.take(500)}")
      assert(!plan.contains("Window"),
        s"sortMost=$sortMost:\n${plan.take(500)}")
    }
  }

  test("DRF serializer families over routes: lists, applications, factories, stats order") {
    val s = server()
    // lists — ListSerializer shape with owner embedded (a dangling FK
    // still embeds as {id, nulls…})
    val lists = s.handle("GET", "/api/v1/lists", Map.empty)
    assert(lists.status == 200, lists.body)
    assert(lists.body.contains(""""on_chain_id":5,"owner":{"id":"owner.near""""),
      lists.body)
    val det = s.handle("GET", "/api/v1/lists/5", Map.empty)
    assert(det.status == 200 &&
      det.body.startsWith("""{"on_chain_id":5,"owner":{"id":"owner.near""""),
      det.body)

    // applications — full pot object + applicant account embedded
    val apps = s.handle("GET", "/api/v1/pots/pot1.near/applications", Map.empty)
    assert(apps.status == 200, apps.body)
    assert(apps.body.contains(""""pot":{"account":"pot1.near""""), apps.body)
    assert(apps.body.contains(""""applicant":{"id":"proj1.near""""), apps.body)
    assert(apps.body.contains(""""message":"please","status":"Pending""""),
      apps.body)
    val accApps = s.handle("GET",
      "/api/v1/accounts/proj1.near/pot_applications", Map.empty)
    assert(accApps.status == 200 &&
      accApps.body.contains(""""pot":{"account":"pot1.near""""), accApps.body)

    // factories — PotFactorySerializer shape
    val fac = s.handle("GET", "/api/v1/potfactories", Map.empty)
    assert(fac.status == 200, fac.body)
    assert(fac.body.contains(
      """"account":"v1.factory.near","owner":{"id":"owner.near""""), fac.body)
    // The STORED string (silver's to_json, commit_hash-first) re-inlines
    // as the JSONField OBJECT in the reference's documented field order
    // (link, version, commit_hash) — this drives the from_json path the
    // golden fixtures bypass with pre-built structs.
    assert(fac.body.contains(
      """"source_metadata":{"link":"https://github.com/PotLock/core",""" +
        """"version":"0.1.0","commit_hash":"abc123"}"""), fac.body)

    // registrations — full list object + registrant/registered_by embeds
    // (ListRegistrationSerializer's declared shape)
    val regs = s.handle("GET", "/api/v1/lists/5/registrations", Map.empty)
    assert(regs.status == 200, regs.body)
    assert(regs.body.contains(""""list":{"on_chain_id":5,"owner":{"id":"owner.near""""),
      regs.body)
    assert(regs.body.contains(""""registrant":{"id":"proj1.near""""), regs.body)
    assert(regs.body.contains(""""registered_by":{"id":"owner.near""""), regs.body)

    // stats — base/api.py:81-89 dict order
    val st = s.handle("GET", "/api/v1/stats", Map.empty)
    assert(st.status == 200 && st.body.startsWith("""{"total_donations_usd":"""),
      st.body)
    val order = Seq("total_donations_usd", "total_payouts_usd",
      "total_donations_count", "total_donors_count", "total_recipients_count")
    val idxs = order.map(st.body.indexOf)
    assert(idxs.forall(_ >= 0) && idxs == idxs.sorted, st.body)
  }

  test("page=last resolves to the final page (DRF last_page_strings)") {
    val qs70 = new QueryService(tables.updated("accounts",
      (1 to 70).map(i => (f"acct$i%03d.near", null.asInstanceOf[String]))
        .toDF("id", "near_social_profile_data"))(_))
    val s = new QueryServer(qs70, silverDir)
    val last = s.handle("GET", "/api/v1/accounts", Map("page" -> "last"))
    val p3 = s.handle("GET", "/api/v1/accounts", Map("page" -> "3"))
    assert(last.status == 200, last.body)
    // identical document to the resolved numeric page — same results,
    // same numeric continuation links (DRF renders page_number resolved)
    assert(last.body == p3.body)
    assert(last.body.contains(""""next": null"""))
    assert(last.body.contains(""""previous": "/api/v1/accounts?page=2""""))
    // page=last of an empty set is page 1 (Paginator num_pages floors
    // at 1): a 200 empty envelope, not a 404
    val qsEmpty = new QueryService(tables.updated("accounts",
      Seq.empty[(String, String)].toDF("id", "near_social_profile_data"))(_))
    val s2 = new QueryServer(qsEmpty, silverDir)
    val lastEmpty = s2.handle("GET", "/api/v1/accounts", Map("page" -> "last"))
    assert(lastEmpty.status == 200 && lastEmpty.body.startsWith("""{"count": 0"""),
      lastEmpty.body)
  }

  test("active_pots rejects ?after= with a typed 400 (no keyset on liveness filters)") {
    val s = server()
    val r = s.handle("GET", "/api/v1/accounts/proj1.near/active_pots",
      Map("after" -> ""))
    assert(r.status == 400, r.body)
    assert(r.body.contains("not supported"), r.body)
  }

  test("absolute continuation URLs behind Host / X-Forwarded-Proto, relative fallback") {
    val qs70 = new QueryService(tables.updated("accounts",
      (1 to 70).map(i => (f"acct$i%03d.near", null.asInstanceOf[String]))
        .toDF("id", "near_social_profile_data"))(_))
    val s = new QueryServer(qs70, silverDir)
    val abs = s.handle("GET", "/api/v1/accounts", Map("page" -> "2"),
      headers = Map("Host" -> "api.example.org"))
    assert(abs.body.contains(
      """"next": "http://api.example.org/api/v1/accounts?page=3""""), abs.body)
    assert(abs.body.contains(
      """"previous": "http://api.example.org/api/v1/accounts""""), abs.body)
    // X-Forwarded-Proto decides the scheme behind a TLS-terminating
    // proxy; header names match case-insensitively
    val tls = s.handle("GET", "/api/v1/accounts", Map("page" -> "2"),
      headers = Map("host" -> "api.example.org", "x-forwarded-proto" -> "https"))
    assert(tls.body.contains(
      """"next": "https://api.example.org/api/v1/accounts?page=3""""), tls.body)
    assert(abs.body != tls.body)
    // no Host header (direct handle callers): relative links, as before
    val rel = s.handle("GET", "/api/v1/accounts", Map("page" -> "2"))
    assert(rel.body.contains(""""next": "/api/v1/accounts?page=3""""), rel.body)
    // The cache stores ONE host-independent body; the authority splices
    // per response OUTSIDE the memo — a client rotating Host values must
    // not fragment (or evict through) the shared LRU.
    assert(s.cacheMisses == 1 && s.cacheHits == 2,
      s"misses=${s.cacheMisses} hits=${s.cacheHits}")
  }

  test("stale-swap retry: a lost file listing replans once instead of 500ing") {
    // A planned table rotation (gold swap, merge) can yank the files a
    // request already listed — the response must be a replan against
    // the new snapshot, counted in stale_retries, never a 500. A
    // PERSISTENT loss (table really gone) still reports as the 500 it
    // is after the single retry.
    val flaky = new java.util.concurrent.atomic.AtomicBoolean(true)
    val qsFlaky = new QueryService(name => {
      if (name == "accounts" && flaky.getAndSet(false))
        throw new java.io.FileNotFoundException(s"$name swapped away")
      tables(name)
    })
    val s = new QueryServer(qsFlaky, silverDir)
    val r = s.handle("GET", "/api/v1/accounts", Map.empty)
    assert(r.status == 200, r.body)
    assert(s.staleRetries == 1)
    assert(s.metricsJson().contains(""""stale_retries": 1"""))

    val qsDead = new QueryService(
      name => throw new java.io.FileNotFoundException(name))
    val s2 = new QueryServer(qsDead, silverDir)
    assert(s2.handle("GET", "/api/v1/accounts", Map.empty).status == 500)
    assert(s2.staleRetries == 1 && s2.errors == 1)

    // A beat swaps several tables back to back, so one request can lose
    // its snapshot more than once. A loss behind a rotated swap marker
    // replans again, up to three attempts in total.
    val dir = tmpDir("serve-rotating")
    val marker = graft.operators.TableSwap.markerPath(s"$dir/accounts")
    def rotating(losses: Int): QueryServer = {
      val left = new java.util.concurrent.atomic.AtomicInteger(losses)
      new QueryServer(new QueryService(name => {
        if (name == "accounts" && left.getAndDecrement() > 0) {
          graft.operators.MergeWriter.io.writeStringAtomic(marker,
            java.util.UUID.randomUUID().toString)
          throw new java.io.FileNotFoundException(s"$name swapped away")
        }
        tables(name)
      }), dir)
    }
    val twice = rotating(2)
    val r2 = twice.handle("GET", "/api/v1/accounts", Map.empty)
    assert(r2.status == 200, r2.body)
    assert(twice.staleRetries == 2 && twice.errors == 0)
    val always = rotating(Int.MaxValue)
    assert(always.handle("GET", "/api/v1/accounts", Map.empty).status == 500)
    assert(always.staleRetries == 2 && always.errors == 1)
    // A dead loader with no rotation behind its losses still gets only
    // the one retry.
    val dead = new QueryServer(qsDead, dir)
    assert(dead.handle("GET", "/api/v1/accounts", Map.empty).status == 500)
    assert(dead.staleRetries == 1 && dead.errors == 1)
  }

  test("param fuzz: no garbage query param can 500 a route") {
    // Every handled failure mode has a typed document (400/404); a 500
    // means an exception escaped the param layer into the plan. The grid
    // crosses the fixture-supported routes with hostile values for every
    // recognized param — including the large-but-valid page number that
    // used to overflow pageSlice's Int offset arithmetic into a 500.
    val s = server()
    val routes = Seq(
      "/api/v1/accounts",
      "/api/v1/accounts/donor1.near",
      "/api/v1/accounts/donor1.near/donations_received",
      "/api/v1/accounts/donor1.near/donations_sent",
      "/api/v1/donors",
      "/api/v1/lists",
      "/api/v1/stats")
    val fuzz: Seq[Map[String, String]] = Seq(
      Map("page" -> "100000000"), // valid int, absurd offset → 404 not 500
      Map("page" -> "2147483647", "page_size" -> "2147483647"),
      // offset fits Int but offset+limit does not
      // (SUM_OF_LIMIT_AND_OFFSET_EXCEEDS_MAX_INT at analysis)
      Map("page" -> "71582789"),
      Map("page" -> "2", "page_size" -> "2147483647"),
      Map("page" -> "-0"), Map("page" -> "½"),
      Map("page" -> "1e3"), Map("page" -> " 2 "),
      Map("page_size" -> "-1"), Map("page_size" -> "0"),
      Map("page_size" -> "99999999999999999999"),
      Map("after" -> ","), Map("after" -> ",,,"),
      Map("after" -> "null,null"), Map("after" -> "-5,xyz"),
      Map("after" -> "999999999999999999999999,1"),
      Map("after" -> "🦀"), Map("sort" -> "junk"),
      Map("status" -> "Bogus"),
      Map("page" -> "abc", "page_size" -> "abc", "after" -> "abc",
        "sort" -> "abc", "status" -> "abc"))
    for (r <- routes; params <- fuzz) {
      val resp = s.handle("GET", r, params)
      assert(Set(200, 400, 404).contains(resp.status),
        s"$r $params → ${resp.status}: ${resp.body.take(120)}")
    }
    // The overflow case specifically answers DRF's past-the-end document.
    val big = s.handle("GET", "/api/v1/accounts", Map("page" -> "100000000"))
    assert(big.status == 404 && big.body == """{"detail": "Invalid page."}""")
  }

  test("memoizedServingLoader: one build per table per swap, rebuilt on marker rotation") {
    val dir = tmpDir("serve-loader")
    val io = graft.operators.MergeWriter.io
    val mk = graft.operators.TableSwap.markerPath(s"$dir/donations_enriched")
    Seq(("donor1.near", 1L)).toDF("donor", "on_chain_id")
      .write.parquet(s"$dir/donations_enriched")
    io.writeStringAtomic(mk, "u1")
    val loader = QueryServer.memoizedServingLoader(spark, dir)
    val f1 = loader("donations")
    assert(loader("donations") eq f1,
      "between swaps the SAME frame is served — footer reads paid once")
    // A swap (new files + rotated marker) must rebuild on the next call:
    // a name-keyed memo would keep serving the pre-swap snapshot forever.
    io.deleteRecursively(s"$dir/donations_enriched")
    Seq(("donor1.near", 1L), ("donor2.near", 2L)).toDF("donor", "on_chain_id")
      .write.parquet(s"$dir/donations_enriched")
    io.writeStringAtomic(mk, "u2")
    val f3 = loader("donations")
    assert(!(f3 eq f1) && f3.count() == 2L)
    assert(loader("donations") eq f3, "memoized again under the new uid")
  }

  test("compaction rotates the swap marker: a memoized frame never reads compacted-away files") {
    val dir = tmpDir("serve-compact")
    val enriched = s"$dir/donations_enriched"
    // One date partition in two files; compaction folds them into one.
    val dons = tables("donations").withColumn("__pdate", lit("d2024-06-10"))
    Seq(1L, 2L).foreach { id =>
      dons.filter(col("on_chain_id") === id).write.mode("append")
        .partitionBy("__pdate").parquet(enriched)
    }
    val memo = QueryServer.memoizedServingLoader(spark, dir)
    val s = new QueryServer(
      new QueryService(n => if (n == "donations") memo(n) else tables(n)),
      dir, cache = new ResultCache(ttlMs = 0L))
    val route = "/api/v1/accounts/proj1.near/donations_received"
    assert(s.handle("GET", route, Map.empty).status == 200)
    val r = graft.operators.Maintenance.compact(spark, enriched,
      targetFiles = Some(1))
    assert(r.rewritten == 1, r.toString)
    val again = s.handle("GET", route, Map.empty)
    assert(again.status == 200 && again.body.startsWith("""{"count": 2"""),
      again.body)
    assert(s.staleRetries == 0)
  }

  test("countOverride prices the envelope without a live count job") {
    // The query layer honors an external count verbatim (the serving
    // tier's gold-counter path); default None keeps the live count.
    assert(qs.accountDonationsReceived("proj1.near").count == 2L)
    assert(qs.accountDonationsReceived("proj1.near",
      countOverride = Some(42L)).count == 42L)
  }

  test("concurrent requests: parallel mixed routes stay correct and consistent") {
    // The serve tier's production shape: many clients hitting one
    // resident process. Cache stampedes double-compute (documented),
    // but every response must be correct and identical for identical
    // requests — concurrent Spark actions, memo writes and throttle
    // bookkeeping must not corrupt each other.
    val s = server()
    val paths = Seq(
      "/api/v1/accounts" -> Map("page" -> "1"),
      "/api/v1/accounts/donor1.near" -> Map.empty[String, String],
      "/api/v1/accounts/proj1.near/donations_received" -> Map("page" -> "1"),
      "/api/v1/stats" -> Map.empty[String, String],
      // keyset continuations race the page-number twins on the same
      // tables (their memo builds the plan inside compute — stampedes
      // double-compute but must stay consistent).
      "/api/v1/accounts" -> Map("after" -> ""),
      "/api/v1/accounts/proj1.near/donations_received" -> Map("after" -> ""),
      "/api/v1/accounts/ghost.near" -> Map.empty[String, String])
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(
        java.util.concurrent.Executors.newFixedThreadPool(12))
    val all = Await.result(Future.sequence(
      (1 to 4).flatMap(i => paths.map { case (p, prm) =>
        Future(((p, prm), s.handle("GET", p, prm, client = s"c$i")))
      })), Duration.Inf)
    // identical requests → identical responses, across all threads
    all.groupBy(_._1).foreach { case (k, rs) =>
      assert(rs.map(_._2).distinct.size == 1, s"divergent responses for $k")
    }
    assert(all.count(_._2.status == 200) == 24)
    assert(all.count(_._2.status == 404) == 4) // the ghost detail route
    assert(s.requests == 28)
  }

  test("HTTP binding serves handle() verbatim: status, body, headers, metrics") {
    val s = server()
    val http = s.start(0) // ephemeral port
    try {
      val port = http.getAddress.getPort
      def get(path: String): (Int, String) = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val body = new String(is.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        (code, body)
      }
      val (c1, b1) = get("/api/v1/accounts?page=1")
      assert(c1 == 200 && b1.startsWith("""{"count": 2"""))
      val (c2, b2) = get("/api/v1/accounts/ghost.near")
      assert(c2 == 404 &&
        b2 == """{"message": "Account with ID ghost.near not found."}""")
      val (c3, b3) = get("/metrics")
      assert(c3 == 200 && b3.contains("\"requests\":"))
      // Malformed percent-encoding is CLIENT input → 400, never a 500.
      // The JDK server's URI parser pre-rejects this shape with its own
      // 400 body; the binding's decoder-level catch stays as defense for
      // escapes a different front end might let through.
      val (c4, _) = get("/api/v1/accounts?page=%zz")
      assert(c4 == 400)
    } finally http.stop(0)
  }

  test("hostile Host / X-Forwarded-Proto values degrade to relative links, never corrupt JSON") {
    val qs70 = new QueryService(tables.updated("accounts",
      (1 to 70).map(i => (f"acct$i%03d.near", null.asInstanceOf[String]))
        .toDF("id", "near_social_profile_data"))(_))
    val s = new QueryServer(qs70, silverDir)
    // A Host carrying a quote/backslash (JDK HttpServer only rejects
    // CR/LF in header values) must not be spliced into the envelope —
    // the links stay relative and the body stays valid JSON.
    val hostile = Seq(
      """evil", "previous": "pwned""",
      """a\"b""",
      "host with spaces",
      "evil/path",
      "a?b=c",
      "")
    hostile.foreach { h =>
      val r = s.handle("GET", "/api/v1/accounts", Map("page" -> "2"),
        headers = Map("Host" -> h))
      assert(r.status == 200, r.body)
      assert(r.body.contains(""""next": "/api/v1/accounts?page=3""""),
        s"Host=$h body=${r.body.take(200)}")
      assert(!r.body.contains("pwned"))
    }
    // A hostile scheme falls back to http behind a VALID Host.
    val badProto = s.handle("GET", "/api/v1/accounts", Map("page" -> "2"),
      headers = Map("Host" -> "api.example.org",
        "X-Forwarded-Proto" -> """https","x":""""))
    assert(badProto.body.contains(
      """"next": "http://api.example.org/api/v1/accounts?page=3""""),
      badProto.body)
    // The legit grammar still passes: reg-names, ports, bracketed IPv6.
    Seq("api.example.org:8443", "[2001:db8::1]:8080", "10.0.0.7").foreach { h =>
      val ok = s.handle("GET", "/api/v1/accounts", Map("page" -> "2"),
        headers = Map("Host" -> h))
      assert(ok.body.contains(s""""next": "http://$h/api/v1/accounts?page=3""""),
        s"Host=$h body=${ok.body.take(200)}")
    }
  }

  test("isStaleSwapRead scope: error-class tags match, quoted class names do not") {
    // Real swap-loss shapes: the raw class, and Spark's bracketed
    // error-class messages on a truncated cause chain.
    assert(QueryServer.isStaleSwapRead(
      new java.io.FileNotFoundException("part-0000.parquet")))
    assert(QueryServer.isStaleSwapRead(new RuntimeException(
      "outer", new java.io.FileNotFoundException("gone"))))
    assert(QueryServer.isStaleSwapRead(new RuntimeException(
      "[PATH_NOT_FOUND] Path does not exist: /tmp/t")))
    assert(QueryServer.isStaleSwapRead(new RuntimeException(
      "Job aborted: [FILE_NOT_EXIST] File file:/x does not exist")))
    // An exception that merely QUOTES the class name must not buy the
    // grace sleep + replan — it is not a swap loss.
    assert(!QueryServer.isStaleSwapRead(new RuntimeException(
      "user message mentioning java.io.FileNotFoundException verbatim")))
    assert(!QueryServer.isStaleSwapRead(new RuntimeException(
      "PATH_NOT_FOUND without brackets")))
    assert(!QueryServer.isStaleSwapRead(new RuntimeException("plain failure")))
  }

  test("only 200 bodies enter the result cache (Django cache_page parity)") {
    val s = server()
    // Warm a legit route once: 1 miss, then a hit.
    assert(s.handle("GET", "/api/v1/accounts", Map.empty).status == 200)
    val missesAfterWarm = s.cacheMisses
    assert(s.handle("GET", "/api/v1/accounts", Map.empty).status == 200)
    assert(s.cacheMisses == missesAfterWarm)
    // Distinct garbage page values 404 but mint NO entries: the repeat
    // of each garbage value misses again (recompute), and the cache
    // size stays at the single 200 entry — no eviction lever.
    val size0 = s.cacheSize
    (2 to 4).foreach { p =>
      assert(s.handle("GET", "/api/v1/accounts",
        Map("page" -> p.toString)).status == 404)
      assert(s.handle("GET", "/api/v1/accounts",
        Map("page" -> p.toString)).status == 404)
    }
    assert(s.cacheSize == size0,
      s"404s minted cache entries: $size0 -> ${s.cacheSize}")
  }

  test("mid-swap kill loop: crashes injected at every swap step — zero 5xx, zero stale bodies") {
    // The serve-plane symmetry of GoldSpec's gold-state crash loop: the
    // swap protocol (move aside → move in → drop old → stamp marker) is
    // killed after EACH step, a burst of requests fires against the
    // crashed state through the production wiring (memoized serving
    // loader + stale-swap retry + roll-forward recovery), and then the
    // restarted beat republishes. Contract under every crash state:
    // never a 5xx, every body is the pre- or post-swap version (never a
    // mix, never an older one), and versions are monotone per client.
    val dir = tmpDir("serve-crash-swap")
    val io = graft.operators.MergeWriter.io
    val table = s"$dir/donate_contract_config"
    def writeTmp(v: Int, uid: String): String = {
      val tmp = s"$table.tmp-$uid"
      Seq(s"""{"v":$v}""").toDF("config").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      tmp
    }
    val marker = graft.operators.TableSwap.markerPath(table)
    io.atomicMove(writeTmp(0, "u0"), table)
    io.writeStringAtomic(marker, "u0")

    val loader = QueryServer.memoizedServingLoader(spark, dir)
    // ttl=0 result cache: every request computes, so the burst drives
    // the loader + retry machinery instead of the rendered-body memo
    // (whose swap semantics the invalidation test already pins).
    val s = new QueryServer(new QueryService(loader), dir,
      cache = new ResultCache(ttlMs = 0))
    def served(): (Int, Int) = {
      val r = s.handle("GET", "/v1/donate_contract_config", Map.empty)
      val v =
        if (r.status == 200)
          """"v":(\d+)""".r.findFirstMatchIn(r.body)
            .map(_.group(1).toInt).getOrElse(-1)
        else -1
      (r.status, v)
    }
    assert(served() == ((200, 0)))

    var cur = 0
    var n = 0
    for {
      round <- 1 to 3
      killAfterStep <- 1 to 3 // 1=aside, 2=move-in, 3=old dropped; marker never lands
    } {
      n += 1
      val v = cur + 1
      val uid = f"k$n%03d"
      val tmp = writeTmp(v, uid)
      val old = s"$table.old-$uid"
      io.atomicMove(table, old)
      if (killAfterStep >= 2)
        graft.operators.TableSwap.moveInTolerant(tmp, table)
      if (killAfterStep >= 3) io.deleteRecursively(old)
      // ---- the crashed state serves
      var seenNew = false
      (1 to 5).foreach { i =>
        val (st, got) = served()
        assert(st == 200,
          s"round $round kill@$killAfterStep req $i: status $st")
        assert(got == cur || got == v,
          s"round $round kill@$killAfterStep: served v=$got want $cur|$v")
        if (seenNew) assert(got == v,
          s"round $round kill@$killAfterStep: regressed to $got after $v")
        if (got == v) seenNew = true
      }
      // ---- the restarted beat republishes (fresh uid, same content)
      val uid2 = uid + "r"
      val tmp2 = writeTmp(v, uid2)
      val old2 = s"$table.old-$uid2"
      if (io.exists(table)) io.atomicMove(table, old2)
      graft.operators.TableSwap.moveInTolerant(tmp2, table)
      io.deleteRecursively(old2)
      io.writeStringAtomic(marker, uid2)
      assert(served() == ((200, v)),
        s"round $round kill@$killAfterStep: settled state wrong")
      cur = v
    }
    // Residue contract: recovery consumes the tmp/old PAIR of the
    // unservable window itself; a kill after the move-in strands only
    // the `.old-` copy beside a LIVE table — which is exactly
    // Maintenance.vacuum's cleanup contract (a reader must NOT delete
    // it: the same shape is a healthy additive commit's aside
    // mid-flight). After the vacuum, nothing remains.
    val residue0 = io.listDir(dir).collect {
      case (nm, true) if nm.contains(".tmp-") || nm.contains(".old-") => nm
    }
    assert(residue0.forall(_.contains(".old-")),
      s"recovery left tmp residue: $residue0")
    graft.operators.Maintenance.vacuum(table, graceMs = 0L): Unit
    val residue = io.listDir(dir).collect {
      case (nm, true) if nm.contains(".tmp-") || nm.contains(".old-") => nm
    }
    assert(residue.isEmpty, s"swap residue survived the vacuum: $residue")
  }

  test("loader invalidation is precise: only the table whose files vanished drops its frame") {
    val dir = tmpDir("serve-precise-invalidate")
    val io = graft.operators.MergeWriter.io
    Seq(("a.near", 1L)).toDF("id", "v").write.parquet(s"$dir/t_alpha")
    Seq(("b.near", 2L)).toDF("id", "v").write.parquet(s"$dir/t_beta")
    io.writeStringAtomic(
      graft.operators.TableSwap.markerPath(s"$dir/t_alpha"), "ua")
    io.writeStringAtomic(
      graft.operators.TableSwap.markerPath(s"$dir/t_beta"), "ub")
    val loader = QueryServer.memoizedServingLoader(spark, dir)
    val fAlpha = loader("t_alpha")
    val fBeta = loader("t_beta")
    // Simulate the crash-after-move-in window on ONE table: new files,
    // marker unchanged (the uid key cannot see it).
    io.deleteRecursively(s"$dir/t_alpha")
    Seq(("a.near", 9L)).toDF("id", "v").write.parquet(s"$dir/t_alpha")
    QueryServer.invalidateServingLoaders(dir)
    // alpha rebuilds (its memoized files are gone); beta keeps the SAME
    // frame — one table's swap race must not cold-replan the plane.
    val fAlpha2 = loader("t_alpha")
    assert(!(fAlpha2 eq fAlpha), "dead frame served from the memo")
    assert(fAlpha2.collect().map(_.getLong(1)).toSeq == Seq(9L))
    assert(loader("t_beta") eq fBeta,
      "untouched table's frame was collaterally invalidated")
  }

  test("OpenAPI parity audit: served schema covers every route, param, and envelope; every schema path routes") {
    import scala.jdk.CollectionConverters._
    val s = server()
    val doc = s.handle("GET", "/api/schema", Map.empty)
    assert(doc.status == 200, doc.body.take(120))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(doc.body)
    val paths = root.get("paths")
    assert(paths != null && paths.isObject, "schema has no paths object")

    // The reference's api/urls.py:49-132 route inventory, declared HERE,
    // independently of OpenApi.routes — drift in EITHER direction
    // (schema advertising a route the server dropped, or the server
    // growing a route the document omits) fails this audit. `after` is
    // the engine's keyset extension, documented on every statically
    // ordered list route (active_pots excluded: liveness filter, no
    // stable cursor).
    val inventory: Seq[(String, Set[String], Boolean)] = Seq(
      ("/api/v1/accounts", Set("page", "page_size", "after"), true),
      ("/api/v1/accounts/{account_id}", Set("account_id"), false),
      ("/api/v1/accounts/{account_id}/active_pots",
        Set("account_id", "status", "page", "page_size"), true),
      ("/api/v1/accounts/{account_id}/pot_applications",
        Set("account_id", "status", "page", "page_size", "after"), true),
      ("/api/v1/accounts/{account_id}/donations_received",
        Set("account_id", "page", "page_size", "after"), true),
      ("/api/v1/accounts/{account_id}/donations_sent",
        Set("account_id", "page", "page_size", "after"), true),
      ("/api/v1/accounts/{account_id}/payouts_received",
        Set("account_id", "page", "page_size", "after"), true),
      ("/api/v1/accounts/{account_id}/list-registrations",
        Set("account_id", "status", "page", "page_size", "after"), true),
      ("/api/v1/donate_contract_config", Set.empty[String], false),
      ("/api/v1/donors", Set("sort", "page", "page_size", "after"), true),
      ("/api/v1/lists", Set("page", "page_size", "after"), true),
      ("/api/v1/lists/{list_id}", Set("list_id"), false),
      ("/api/v1/lists/{list_id}/registrations",
        Set("list_id", "status", "category", "page", "page_size", "after"),
        true),
      ("/api/v1/lists/{list_id}/random_registration",
        Set("list_id", "status"), false),
      ("/api/v1/pots", Set("page", "page_size", "after"), true),
      ("/api/v1/pots/{pot_id}", Set("pot_id"), false),
      ("/api/v1/pots/{pot_id}/applications",
        Set("pot_id", "page", "page_size", "after"), true),
      ("/api/v1/pots/{pot_id}/donations",
        Set("pot_id", "page", "page_size", "after"), true),
      ("/api/v1/pots/{pot_id}/sponsors",
        Set("pot_id", "page", "page_size", "after"), true),
      ("/api/v1/pots/{pot_id}/payouts",
        Set("pot_id", "page", "page_size", "after"), true),
      ("/api/v1/potfactories", Set("page", "page_size", "after"), true),
      ("/api/v1/stats", Set.empty[String], false))

    // 1) schema side: every inventory route present, with exactly the
    //    expected params and the DRF envelope keys on paginated routes.
    inventory.foreach { case (p, params, paginated) =>
      val node = paths.get(p)
      assert(node != null, s"schema missing path $p")
      val get = node.get("get")
      assert(get != null && get.has("summary"), s"$p: no get/summary")
      val declared = Option(get.get("parameters")).toSeq
        .flatMap(_.elements().asScala).map(_.get("name").asText()).toSet
      assert(declared == params,
        s"$p params drifted: schema=$declared expected=$params")
      val respSchema = get.get("responses").get("200")
        .get("content").get("application/json").get("schema")
      assert(respSchema != null, s"$p: no 200 response schema")
      if (paginated) {
        val props = respSchema.get("properties")
        assert(props != null, s"$p: paginated but no envelope properties")
        Seq("count", "next", "previous", "results").foreach { k =>
          assert(props.has(k), s"$p envelope missing $k")
        }
      }
    }
    // 2) no phantom paths: the schema documents exactly the inventory.
    val documented = paths.fieldNames().asScala.toSet
    assert(documented == inventory.map(_._1).toSet,
      s"phantom/missing schema paths: ${
        (documented diff inventory.map(_._1).toSet) ++
          (inventory.map(_._1).toSet diff documented)}")
    // 3) implementation side: every documented path actually ROUTES —
    //    a synthetic-id request must reach the route's own handler (a
    //    typed 404/400/200), never the router's generic not-found.
    inventory.foreach { case (p, _, _) =>
      val concrete = p.replace("{account_id}", "ghost.near")
        .replace("{list_id}", "1").replace("{pot_id}", "ghost.pot.near")
      val r = s.handle("GET", concrete, Map.empty)
      assert(r.status < 500, s"$concrete 5xx: ${r.body.take(120)}")
      assert(r.status != 405 && !(r.status == 404 &&
        r.body.contains("\"Not found:")),
        s"$concrete does not route: ${r.status} ${r.body.take(120)}")
    }
    // 4) the service-meta routes of api/urls.py:38-47 serve alongside.
    assert(s.handle("GET", "/schema", Map.empty).status == 200)
    assert(s.handle("GET", "/docs", Map.empty).body.toLowerCase
      .contains("swagger"))
    assert(s.handle("GET", "/redoc", Map.empty).body.toLowerCase
      .contains("redoc"))
  }

  test("OpenAPI field-level schemas: entity property sets match the reference serializers AND live response bodies") {
    import scala.jdk.CollectionConverters._
    val s = server()
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(s.handle("GET", "/api/schema", Map.empty).body)
    val schemas = root.at("/components/schemas")
    assert(!schemas.isMissingNode, "schema has no components/schemas")

    // The reference serializers' Meta.fields, declared HERE independently
    // of OpenApi's source (accounts/serializers.py:55-78,
    // donations/serializers.py:18-49, pots/serializers.py:15-117,
    // lists/serializers.py:9-55, base/api.py:81-89) — the same field sets
    // the golden byte-parity fixtures in QueryServiceSpec pin. Drift in
    // EITHER direction (document advertising a field the serializer
    // dropped, or a serializer growing a field the document omits) fails.
    val expected: Map[String, Seq[String]] = Map(
      "Account" -> Seq("id", "total_donations_in_usd",
        "total_donations_out_usd", "total_matching_pool_allocations_usd",
        "donors_count", "near_social_profile_data"),
      "Donation" -> Seq("on_chain_id", "total_amount", "total_amount_usd",
        "net_amount", "net_amount_usd", "matching_pool", "message",
        "donated_at", "protocol_fee", "protocol_fee_usd", "referrer_fee",
        "referrer_fee_usd", "chef_fee", "chef_fee_usd", "tx_hash", "donor",
        "token", "pot", "recipient", "referrer", "chef"),
      "Pot" -> Seq("account", "pot_factory", "deployer", "deployed_at",
        "source_metadata", "owner", "admins", "chef", "name", "description",
        "max_approved_applicants", "base_currency", "application_start",
        "application_end", "matching_round_start", "matching_round_end",
        "registry_provider", "min_matching_pool_donation_amount",
        "sybil_wrapper_provider", "custom_sybil_checks",
        "custom_min_threshold_score",
        "referral_fee_matching_pool_basis_points",
        "referral_fee_public_round_basis_points", "chef_fee_basis_points",
        "total_matching_pool", "total_matching_pool_usd",
        "matching_pool_balance", "matching_pool_donations_count",
        "total_public_donations", "total_public_donations_usd",
        "public_donations_count", "cooldown_end", "cooldown_period_ms",
        "all_paid_out", "protocol_config_provider"),
      "PotApplication" -> Seq("pot", "applicant", "message", "status",
        "submitted_at", "updated_at", "tx_hash"),
      "PotPayout" -> Seq("pot", "recipient", "amount", "amount_paid_usd",
        "token", "paid_at", "tx_hash"),
      "PotFactory" -> Seq("account", "owner", "admins",
        "whitelisted_deployers", "source_metadata", "deployed_at",
        "protocol_fee_basis_points", "require_whitelist",
        "protocol_fee_recipient"),
      "List" -> Seq("on_chain_id", "owner", "admins", "name", "description",
        "cover_image_url", "admin_only_registrations",
        "default_registration_status", "created_at", "updated_at"),
      "ListRegistration" -> Seq("on_chain_id", "list", "registrant",
        "registered_by", "status", "submitted_at", "updated_at",
        "registrant_notes", "admin_notes", "tx_hash"),
      "Stats" -> Seq("total_donations_usd", "total_payouts_usd",
        "total_donations_count", "total_donors_count",
        "total_recipients_count"))

    def propsOf(entity: String): Seq[String] = {
      val node = schemas.get(entity)
      assert(node != null, s"components/schemas missing $entity")
      node.get("properties").fieldNames().asScala.toSeq
    }
    expected.foreach { case (entity, fields) =>
      assert(propsOf(entity) == fields,
        s"$entity schema properties drifted:\n  doc=${propsOf(entity)}\n  ref=$fields")
    }
    assert(schemas.fieldNames().asScala.toSet == expected.keySet,
      "phantom/missing entity schemas")

    // Every route's 200 response must reference one of these entities
    // (donate_contract_config alone is free-form — the chain blob).
    root.get("paths").properties().asScala.foreach { e =>
      val (p, node) = (e.getKey, e.getValue)
      val schema = node.at("/get/responses/200/content/application~1json/schema")
      val ref =
        if (!schema.at("/properties/results/items/$ref").isMissingNode)
          Some(schema.at("/properties/results/items/$ref").asText())
        else if (schema.has("$ref")) Some(schema.get("$ref").asText())
        else None
      if (p == "/api/v1/donate_contract_config")
        assert(ref.isEmpty && schema.get("additionalProperties") != null,
          s"$p should be free-form")
      else {
        assert(ref.nonEmpty, s"$p response carries no entity \\$$ref")
        val entity = ref.get.stripPrefix("#/components/schemas/")
        assert(expected.contains(entity), s"$p references unknown $entity")
      }
    }

    // LIVE parity: a real served row's JSON keys must equal the
    // documented properties, in order. (PotPayout has no fixture rows;
    // its field set is pinned above plus by the golden byte-parity spec.)
    def keysOf(json: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
      json.fieldNames().asScala.toSeq
    def firstResult(path: String): com.fasterxml.jackson.databind.JsonNode = {
      val r = s.handle("GET", path, Map("page_size" -> "1"))
      assert(r.status == 200, s"$path -> ${r.status} ${r.body.take(120)}")
      val results = om.readTree(r.body).get("results")
      assert(results != null && results.size() > 0, s"$path: no rows")
      results.get(0)
    }
    def detail(path: String): com.fasterxml.jackson.databind.JsonNode = {
      val r = s.handle("GET", path, Map.empty)
      assert(r.status == 200, s"$path -> ${r.status} ${r.body.take(120)}")
      om.readTree(r.body)
    }
    val live: Seq[(String, com.fasterxml.jackson.databind.JsonNode)] = Seq(
      "Account" -> detail("/v1/accounts/donor1.near"),
      "Donation" -> firstResult("/v1/accounts/proj1.near/donations_received"),
      "Pot" -> detail("/v1/pots/pot1.near"),
      "PotApplication" -> firstResult("/v1/pots/pot1.near/applications"),
      "PotFactory" -> firstResult("/v1/potfactories"),
      "List" -> detail("/v1/lists/5"),
      "ListRegistration" -> firstResult("/v1/lists/5/registrations"),
      "Stats" -> detail("/v1/stats"))
    live.foreach { case (entity, row) =>
      assert(keysOf(row) == expected(entity),
        s"$entity LIVE response keys drifted from the documented schema:" +
          s"\n  live=${keysOf(row)}\n  doc=${expected(entity)}")
    }
  }

  test("prewarm compiles every route family before the socket opens: no 5xx, cache primed") {
    val s = server()
    val warmed = s.prewarm()
    assert(warmed.nonEmpty)
    // Production-shape warm set: REAL hot ids from the store (the
    // busiest recipient/donor/list), so the detail/nested warms must
    // 200, not 404 — the warm pays full-page materialization and dim
    // fetches, not just plan compilation. Missing-table fallbacks
    // (pot routes here: the fixture's donations carry no pot) may 404;
    // active_pots' ?after= guard 400s; nothing may 5xx.
    warmed.foreach { case (p, status, _) =>
      assert(status < 500, s"prewarm 5xx on $p")
    }
    val byPath = warmed.map(w => w._1 -> w._2).toMap
    assert(byPath("/v1/accounts/proj1.near") == 200,
      s"hot-account detail warm should hit the real busiest account: $warmed")
    assert(byPath("/v1/accounts/proj1.near/donations_received") == 200)
    assert(byPath("/v1/accounts/donor1.near/donations_sent") == 200)
    assert(byPath("/v1/lists/5") == 200)
    // The list-route warms prime the cache AT PRODUCTION SHAPE: the
    // first real default-page request on a warmed route is a HIT.
    val hits0 = s.cacheHits
    assert(s.handle("GET", "/v1/accounts", Map.empty).status == 200)
    assert(s.handle("GET", "/v1/accounts/proj1.near/donations_received",
      Map.empty).status == 200)
    assert(s.cacheHits == hits0 + 2,
      s"warmed routes missed the cache: hits $hits0 -> ${s.cacheHits}")
  }
}
