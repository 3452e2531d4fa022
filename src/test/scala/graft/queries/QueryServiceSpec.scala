package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.gold.Stats

/** The 24-endpoint query plane over a small silver fixture: pagination
  * envelope, enum validation (400-equivalent), semi-joins, category regex,
  * deterministic random pick (SURVEY §2.11). */
class QueryServiceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tables: Map[String, DataFrame] = {
    val accounts = Seq(
      ("donor1.near", """{"plCategories": "[\"Education\",\"Climate\"]"}"""),
      ("donor2.near", null),
      ("proj1.near", """{"plCategories": "[\"climate\"]"}"""),
      ("proj2.near", null),
      ("pot1.pot.near", null)
    ).toDF("id", "near_social_profile_data")

    val ts0 = java.sql.Timestamp.valueOf("2024-06-10 00:00:00")
    val donations = Seq(
      (1L, "donor1.near", "proj1.near", null.asInstanceOf[String], false, 10.0, ts0),
      (2L, "donor1.near", "proj2.near", "pot1.pot.near", true, 20.0, ts0),
      (3L, "donor2.near", "proj1.near", "pot1.pot.near", false, 30.0, ts0)
    ).toDF("on_chain_id", "donor", "recipient", "pot", "matching_pool",
      "usd", "donated_at")
      .withColumn("total_amount_usd", col("usd").cast("decimal(20,2)"))
      .withColumn("total_amount_dec", col("usd").cast("decimal(38,0)"))
      .withColumn("ft", lit("near"))
      .drop("usd")

    val pots = Seq(
      ("pot1.pot.near", java.sql.Timestamp.valueOf("2024-06-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-06-30 00:00:00"), "owner.near",
        Seq("donor1.near", "donor2.near"))
    ).toDF("account", "matching_round_start", "matching_round_end", "owner",
      "admins")

    val tokens = Seq(("near", "NEAR", "NEAR", 24))
      .toDF("account", "name", "symbol", "decimals")

    val applications = Seq(
      ("pot1.pot.near", "proj1.near", "Approved", ts0),
      ("pot1.pot.near", "proj2.near", "Pending", ts0)
    ).toDF("pot", "applicant", "status", "submitted_at")

    val payouts = Seq(
      ("pot1.pot.near", "proj1.near", java.sql.Timestamp.valueOf("2024-06-12 00:00:00"), 5.0),
      ("pot1.pot.near", "proj2.near", null.asInstanceOf[java.sql.Timestamp], 6.0)
    ).toDF("pot", "recipient", "paid_at", "usd")
      .withColumn("amount_paid_usd", col("usd").cast("decimal(20,2)")).drop("usd")

    val registrations = Seq(
      (11L, 5L, "proj1.near", "Approved", ts0),
      (12L, 5L, "proj2.near", "Pending", ts0),
      (13L, 5L, "donor1.near", "Approved", ts0)
    ).toDF("on_chain_id", "list_id", "registrant", "status", "submitted_at")

    val lists = Seq((5L, "owner.near")).toDF("on_chain_id", "owner")

    Map(
      "accounts" -> accounts,
      "donations" -> donations,
      "pots" -> pots,
      "tokens" -> tokens,
      "pot_applications" -> applications,
      "pot_payouts" -> payouts,
      "list_registrations" -> registrations,
      "lists" -> lists,
      "pot_factories" -> Seq(("f1.near")).toDF("account"),
      "account_stats" -> Stats.accountStats(accounts, donations, payouts),
      "global_stats" -> Stats.globalStats(donations, payouts),
      "donate_contract_config" ->
        Seq(("""{"owner":"x.near","protocol_fee_basis_points":250,"referral_fee_basis_points":100}"""))
          .toDF("config"))
  }

  private lazy val qs = new QueryService(tables(_))

  test("donation route count is priced on the raw facts and survives dangling embed FKs") {
    // The envelope count runs on the pre-expansion filtered facts (DRF
    // counts the queryset before serialization); the invariant making
    // that exact is that every embed is a key-unique LEFT join. Pin it
    // with a donation whose donor has NO accounts row: the row must
    // still be counted AND still appear in the page (donor struct built
    // around the FK with null stats/profile), never dropped by an embed
    // join.
    val t2 = tables.updated("donations", tables("donations").unionByName(
      Seq((9L, "ghost.near", "proj1.near", null.asInstanceOf[String], false,
        java.sql.Timestamp.valueOf("2024-06-11 00:00:00")))
        .toDF("on_chain_id", "donor", "recipient", "pot", "matching_pool",
          "donated_at")
        .withColumn("total_amount_usd", lit(1.0).cast("decimal(20,2)"))
        .withColumn("total_amount_dec", lit(1L).cast("decimal(38,0)"))
        .withColumn("ft", lit("near"))))
    val qs2 = new QueryService(t2(_))
    val p = qs2.accountDonationsReceived("proj1.near")
    assert(p.count == 3, s"raw-fact count must include the dangling-FK row, got ${p.count}")
    assert(p.results.count() == 3)
    val ghost = p.results.filter(col("on_chain_id") === 9L)
      .select(col("donor.id"), col("donor.near_social_profile_data"))
      .collect()
    assert(ghost.length == 1 && ghost.head.getString(0) == "ghost.near"
      && ghost.head.isNullAt(1))
  }

  test("pagination envelope: count + slice + next/previous (O3/A4)") {
    val p1 = qs.accountsList(page = 1, pageSize = 2)
    assert(p1.count == 5 && p1.results.count() == 2)
    assert(p1.hasNext && !p1.hasPrevious)
    val p3 = qs.accountsList(page = 3, pageSize = 2)
    assert(p3.results.count() == 1 && !p3.hasNext && p3.hasPrevious)
  }

  test("potDim: gold stats override the pot row's own copies, silver fills gold gaps") {
    // A real-ingest pots table carries total_public_donations etc. from
    // config events (Schemas.pot), and gold pot_stats recomputes the
    // same names — the join must coalesce (gold first), never turn the
    // shared names ambiguous. The reference's shape: handlers write the
    // Pot model fields, the beat job overwrites them.
    val pots2 = Seq(
      ("pot1.pot.near", "999", 9L),
      ("pot2.pot.near", "777", 7L)
    ).toDF("account", "total_public_donations", "public_donations_count")
    val potStats = Seq(("pot1.pot.near", 123L, 3L))
      .toDF("pot", "gold_dec", "public_donations_count")
      .withColumn("total_public_donations_dec",
        col("gold_dec").cast("decimal(38,0)"))
      .drop("gold_dec")
    val m = Map(
      "accounts" -> Seq(("owner.near", null.asInstanceOf[String]))
        .toDF("id", "near_social_profile_data"),
      "pots" -> pots2,
      "pot_stats" -> potStats)
    val q2 = new QueryService(m(_))
    val p1 = q2.potDetail("pot1.pot.near")
      .select("total_public_donations", "public_donations_count").head()
    assert(p1.getString(0) == "123" && p1.getLong(1) == 3L) // gold wins
    val p2 = q2.potDetail("pot2.pot.near")
      .select("total_public_donations", "public_donations_count").head()
    assert(p2.getString(0) == "777" && p2.getLong(1) == 7L) // silver fills
  }

  test("golden negative paths: 400 enum-validation bodies byte-match the reference") {
    // Every status-validated route rejects a bogus enum with the
    // reference's EXACT body: {"message": "Invalid status value: <p>"}
    // (accounts/api.py:263-269,434-440; lists/api.py:151-156,208-213),
    // rendered by Serializers.errorJson from the route's Left.
    val golden = """{"message": "Invalid status value: NotAStatus"}"""
    val lefts = Seq(
      qs.accountPotApplications("proj1.near", Some("NotAStatus")).left.toOption,
      qs.accountListRegistrations("proj1.near", Some("NotAStatus")).left.toOption,
      qs.listRegistrations(5L, Some("NotAStatus"), None).left.toOption,
      qs.accountPotApplicationsListing("proj1.near", Some("NotAStatus")).invalid,
      qs.accountListRegistrationsListing("proj1.near", Some("NotAStatus")).invalid,
      qs.listRegistrationsListing(5L, Some("NotAStatus"), None).invalid)
    lefts.foreach { l =>
      val body = Serializers.errorJson(l.get)
      assert(body == golden, body)
    }
    // A VALID status must never produce the error shape.
    assert(qs.accountPotApplications("proj1.near", Some("Approved")).isRight)
    // The 404 family (account/list/pot detail misses) renders the same
    // reference bodies byte-for-byte.
    assert(Serializers.errorJson(
      QueryService.notFoundMessage("Account", "ghost.near")) ==
      """{"message": "Account with ID ghost.near not found."}""")
    assert(Serializers.errorJson(QueryService.notFoundMessage("List", 404L)) ==
      """{"message": "List with ID 404 not found."}""")
    assert(Serializers.errorJson(
      QueryService.notFoundMessage("Pot", "nope.pot.near")) ==
      """{"message": "Pot with ID nope.pot.near not found."}""")
    // and the detail routes actually report the miss (empty frame) the
    // API layer maps onto those bodies
    assert(qs.accountDetail("ghost.near").isEmpty)
    assert(qs.listDetail(404L).isEmpty)
    assert(qs.potDetail("nope.pot.near").isEmpty)
    // a message with JSON metacharacters cannot break the document
    assert(Serializers.errorJson("""bad "quo\te""") ==
      """{"message": "bad \"quo\\te"}""")
  }

  test("golden negative paths: empty-page envelope on every paginated route") {
    // DRF renders an empty page as
    // {"count": 0, "next": null, "previous": null, "results": []} —
    // every paginated route against miss criteria must produce exactly
    // that envelope through Page → envelopeJson.
    val golden = """{"count": 0, "next": null, "previous": null, "results": []}"""
    val now = java.sql.Timestamp.valueOf("2024-06-15 00:00:00")
    val empties = Seq(
      qs.accountActivePots("ghost.near", live = false, now),
      qs.accountDonationsReceived("ghost.near"),
      qs.accountDonationsSent("ghost.near"),
      qs.accountPayoutsReceived("ghost.near"),
      qs.potApplications("nope.pot.near"),
      qs.potDonations("nope.pot.near"),
      qs.potSponsors("nope.pot.near"),
      qs.potPayouts("nope.pot.near"),
      qs.accountPotApplications("ghost.near", None).toOption.get,
      qs.accountListRegistrations("ghost.near", None).toOption.get,
      qs.listRegistrations(404L, None, None).toOption.get,
      // valid enum value that matches nothing: filter, not error
      qs.listRegistrations(5L, Some("Rejected"), None).toOption.get)
    empties.foreach { p =>
      assert(p.count == 0 && !p.hasNext && !p.hasPrevious)
      val env = Serializers.envelopeJson(p.count, None, None,
        p.toJsonRows().toSeq)
      assert(env == golden, env)
    }
  }

  test("donors semi-join + most_donated sort (J2/O2)") {
    val d = qs.donors(sortMostDonated = true)
    val ids = d.results.select("id").collect().map(_.getString(0)).toSeq
    assert(ids == Seq("donor1.near", "donor2.near")) // 30 usd > 30? donor1=30, donor2=30 -> tie by id
    assert(d.count == 2)
  }

  test("enum validation returns error, not rows (P3)") {
    assert(qs.accountPotApplications("proj1.near", Some("NotAStatus")).isLeft)
    assert(qs.accountListRegistrations("proj1.near", Some("Bogus")).isLeft)
    val ok = qs.accountPotApplications("proj1.near", Some("Approved"))
    assert(ok.toOption.get.count == 1)
  }

  test("active pots with live interval (J3/P6)") {
    val live = qs.accountActivePots("proj1.near", live = true,
      java.sql.Timestamp.valueOf("2024-06-15 00:00:00"))
    assert(live.count == 1)
    val notLive = qs.accountActivePots("proj1.near", live = true,
      java.sql.Timestamp.valueOf("2024-07-15 00:00:00"))
    assert(notLive.count == 0)
  }

  test("donations received/sent with nested account expansion (J1/S8)") {
    val recv = qs.accountDonationsReceived("proj1.near")
    assert(recv.count == 2)
    val json = recv.toJsonRows().mkString
    assert(json.contains("\"donor\":{\"id\":\"donor1.near\"") ||
      json.contains("\"donor\":{\"id\":\"donor2.near\""))
    assert(qs.accountDonationsSent("donor1.near").count == 2)
  }

  test("payouts received: paid only (P4)") {
    assert(qs.accountPayoutsReceived("proj1.near").count == 1)
    assert(qs.accountPayoutsReceived("proj2.near").count == 0)
  }

  test("pot sponsors: distinct matching-pool donors (J4)") {
    val s = qs.potSponsors("pot1.pot.near")
    assert(s.results.select("id").collect().map(_.getString(0)).toSeq ==
      Seq("donor1.near"))
  }

  test("list registrations with category regex over profile JSON (P7)") {
    val cat = qs.listRegistrations(5L, None, Some("climate"))
    // case-insensitive: matches donor1 (Climate) and proj1 (climate)
    assert(cat.toOption.get.count == 2)
    val none = qs.listRegistrations(5L, None, Some("Art"))
    assert(none.toOption.get.count == 0)
  }

  test("random registration deterministic (O5)") {
    val a = qs.randomRegistration(5L, Some("Approved")).toOption.get
      .head().getAs[Long]("on_chain_id")
    val b = qs.randomRegistration(5L, Some("Approved")).toOption.get
      .head().getAs[Long]("on_chain_id")
    assert(a == b && Set(11L, 13L).contains(a))
    // Invalid status 400s with the reference's message (lists/api.py:211)
    assert(qs.randomRegistration(5L, Some("bogus")) ==
      Left(QueryService.invalidStatusMessage("bogus")))
  }

  test("stats endpoint reads gold global stats (A1)") {
    val s = qs.stats().head()
    assert(s.getAs[Long]("total_donations_count") == 3)
    assert(s.getAs[java.math.BigDecimal]("total_donations_usd").doubleValue() == 60.0)
    assert(s.getAs[Long]("total_donors_count") == 2)
    assert(s.getAs[java.math.BigDecimal]("total_payouts_usd").doubleValue() == 5.0)
  }

  test("donate contract config passthrough minus internal keys") {
    val cfg = qs.donateContractConfig().head().getString(0)
    assert(!cfg.contains("owner"))
    assert(cfg.contains("referral_fee_basis_points"))
  }

  test("all 24 route shapes execute and honor the envelope") {
    val now = java.sql.Timestamp.valueOf("2024-06-15 00:00:00")
    val pages = Seq(
      qs.accountsList(), qs.accountActivePots("proj1.near", live = false, now),
      qs.accountDonationsReceived("proj1.near"), qs.accountDonationsSent("donor1.near"),
      qs.accountPayoutsReceived("proj1.near"), qs.donors(sortMostDonated = false),
      qs.listsList(), qs.potsList(), qs.potFactoriesList(),
      qs.potApplications("pot1.pot.near"), qs.potDonations("pot1.pot.near"),
      qs.potSponsors("pot1.pot.near"), qs.potPayouts("pot1.pot.near")) ++
      Seq(
        qs.accountPotApplications("proj1.near", None).toOption.get,
        qs.accountListRegistrations("proj1.near", None).toOption.get,
        qs.listRegistrations(5L, None, None).toOption.get)
    pages.foreach { p =>
      assert(p.count >= 0 && p.results.count() <= p.pageSize)
      assert(p.results.count() <= p.count)
    }
    Seq(qs.accountDetail("proj1.near"), qs.listDetail(5L),
      qs.potDetail("pot1.pot.near"), qs.randomRegistration(5L, None).toOption.get,
      qs.stats(), qs.donateContractConfig()).foreach { df =>
      assert(df.count() == 1)
    }
  }

  test("DRF-shaped JSON: two-decimal USD strings, explicit nulls, envelope") {
    val d = tables("donations")
      .withColumn("net_amount", lit("90"))
      .withColumn("protocol_fee", lit("10"))
      .withColumn("referrer", lit(null).cast("string"))
      .withColumn("referrer_fee", lit(null).cast("string"))
      .withColumn("referrer_fee_usd", lit(null).cast("decimal(20,2)"))
      .withColumn("chef", lit(null).cast("string"))
      .withColumn("chef_fee", lit(null).cast("string"))
      .withColumn("chef_fee_usd", lit(null).cast("decimal(20,2)"))
      .withColumn("net_amount_usd", col("total_amount_usd"))
      .withColumn("protocol_fee_usd", lit(null).cast("decimal(20,2)"))
      .withColumn("total_amount", lit("100000000"))
      .withColumn("ft", lit("near"))
      .withColumn("message", lit(null).cast("string"))
      .withColumn("tx_hash", lit("abc"))
    val json = Serializers.donationJson(d)
      .filter(col("on_chain_id") === 1).head().getAs[String]("json")
    assert(json.contains("\"total_amount_usd\":\"10.00\""))
    assert(json.contains("\"referrer\":null"))
    assert(json.contains("\"donated_at\":\"2024-06-10T00:00:00Z\""))
    // Python isoformat duality: micros render when (and only when)
    // nonzero — the zero case above omits the fraction entirely.
    val micro = spark.sql(
      "SELECT timestamp'2024-06-10 01:02:03.123456' AS ts")
      .select(Serializers.isoTs(col("ts")).as("s")).head().getString(0)
    assert(micro == "2024-06-10T01:02:03.123456Z")

    val env = Serializers.envelopeJson(31, Some("?page=2"), None, Seq(json))
    assert(env.startsWith("{\"count\": 31, \"next\": \"?page=2\", \"previous\": null,"))
    // next/previous URLs are user-echoed — escaping must hold the
    // envelope together when a param carries a quote.
    val evil = Serializers.envelopeJson(1, Some("?category=a\"b"), None, Nil)
    assert(evil.contains("\"next\": \"?category=a\\\"b\""))
  }

  test("golden byte-parity: donation JSON matches the reference serializer example") {
    // SIMPLE_DONATION_EXAMPLE (donations/serializers.py:52-82) rebuilt as
    // a typed row and asserted BYTE-EQUAL through Serializers.donationJson.
    // Documented deviations from the hand-written Swagger example: the DB
    // surrogate `id` is omitted (on_chain_id is the chain identity) and
    // timestamps render 6-digit micros — the reference's own pot example
    // ("2024-02-16T17:45:03.600845Z", pots/serializers.py:127) shows DRF
    // emits micros; the donation example hand-truncated to millis.
    val accountDdl =
      """STRUCT<id: STRING, total_donations_in_usd: DECIMAL(20,2),
        |total_donations_out_usd: DECIMAL(20,2),
        |total_matching_pool_allocations_usd: DECIMAL(20,2),
        |donors_count: BIGINT, near_social_profile_data: STRING>"""
        .stripMargin.replace("\n", " ")
    val account = expr(
      """named_struct(
        |'id', 'user.near',
        |'total_donations_in_usd', CAST(740.00 AS DECIMAL(20,2)),
        |'total_donations_out_usd', CAST(1234.56 AS DECIMAL(20,2)),
        |'total_matching_pool_allocations_usd', CAST(800.01 AS DECIMAL(20,2)),
        |'donors_count', CAST(321 AS BIGINT),
        |'near_social_profile_data', CAST(NULL AS STRING))""".stripMargin)
    val fee = "10000000000000000000000"
    val d = Seq(1).toDF("x")
      .withColumn("on_chain_id", lit(156L))
      .withColumn("total_amount", lit("1000000000000000000000000"))
      .withColumn("total_amount_usd", lit(1.17).cast("decimal(20,2)"))
      .withColumn("net_amount", lit("1000000000000000000000000"))
      .withColumn("net_amount_usd", lit(1.02).cast("decimal(20,2)"))
      .withColumn("matching_pool", lit(false))
      .withColumn("message", lit(null).cast("string"))
      .withColumn("donated_at",
        lit(java.sql.Timestamp.valueOf("2024-06-05 18:08:40.751")))
      .withColumn("protocol_fee", lit(fee))
      .withColumn("protocol_fee_usd", lit(0.27).cast("decimal(20,2)"))
      .withColumn("referrer_fee", lit(fee))
      .withColumn("referrer_fee_usd", lit(0.27).cast("decimal(20,2)"))
      .withColumn("chef_fee", lit(null).cast("string"))
      .withColumn("chef_fee_usd", lit(null).cast("decimal(20,2)"))
      .withColumn("tx_hash", lit("EVMQsXorrrxPLHfK9UnbzFUy1SVYWvc8hwSGQZs4RbTk"))
      .withColumn("donor", account)
      .withColumn("token", expr("named_struct('id', 'near', 'decimals', 24)"))
      .withColumn("pot", expr(
        """named_struct(
          |'account', 'some-pot.v1.potfactory.potlock.near',
          |'deployed_at', TIMESTAMP '2024-02-16 17:45:03.600845',
          |'source_metadata', named_struct(
          |  'link', 'https://github.com/PotLock/core',
          |  'version', '0.1.0',
          |  'commit_hash', '2db43b1182eb97d34e1b67f21b44c7084b364358'),
          |'name', 'My Pot Name',
          |'total_matching_pool', '10000000000000000000',
          |'total_matching_pool_usd', CAST(100.17 AS DECIMAL(20,2)))"""
          .stripMargin).withField("admins", array(account)))
      .withColumn("recipient", account)
      .withColumn("referrer", account)
      .withColumn("chef", lit(null).cast(accountDdl))
    val json = Serializers.donationJson(d).head().getAs[String]("json")
    val acctJson = """{"id":"user.near","total_donations_in_usd":"740.00",""" +
      """"total_donations_out_usd":"1234.56",""" +
      """"total_matching_pool_allocations_usd":"800.01","donors_count":321,""" +
      """"near_social_profile_data":null}"""
    val golden =
      """{"on_chain_id":156,"total_amount":"1000000000000000000000000",""" +
        """"total_amount_usd":"1.17","net_amount":"1000000000000000000000000",""" +
        """"net_amount_usd":"1.02","matching_pool":false,"message":null,""" +
        """"donated_at":"2024-06-05T18:08:40.751000Z",""" +
        s""""protocol_fee":"$fee","protocol_fee_usd":"0.27",""" +
        s""""referrer_fee":"$fee","referrer_fee_usd":"0.27",""" +
        """"chef_fee":null,"chef_fee_usd":null,""" +
        """"tx_hash":"EVMQsXorrrxPLHfK9UnbzFUy1SVYWvc8hwSGQZs4RbTk",""" +
        s""""donor":$acctJson,"token":{"id":"near","decimals":24},""" +
        """"pot":{"account":"some-pot.v1.potfactory.potlock.near",""" +
        """"deployed_at":"2024-02-16T17:45:03.600845Z",""" +
        """"source_metadata":{"link":"https://github.com/PotLock/core",""" +
        """"version":"0.1.0",""" +
        """"commit_hash":"2db43b1182eb97d34e1b67f21b44c7084b364358"},""" +
        """"name":"My Pot Name","total_matching_pool":"10000000000000000000",""" +
        s""""total_matching_pool_usd":"100.17","admins":[$acctJson]},""" +
        s""""recipient":$acctJson,"referrer":$acctJson,"chef":null}"""
    assert(json == golden)
  }

  test("golden byte-parity: account JSON with inlined profile matches SIMPLE_ACCOUNT_EXAMPLE") {
    // SIMPLE_ACCOUNT_EXAMPLE (accounts/serializers.py:81-112) rebuilt as
    // a typed row. The near_social_profile_data blob is stored as the
    // chain-provided compact JSON and INLINED as a raw object — DRF's
    // rendering of the stored dict — in the example's own key order.
    // Deviation notes: the example shows the USD decimals as strings
    // (the engine matches that; DRF's coerce_to_string=False would emit
    // numbers, contradicting the reference's own example).
    val profile =
      """{"name":"Illia","image":{"nft":{""" +
        """"media":"https://ipfs.nftstorage.link/ipfs/bafybeie6mpnk6iya3wvwtxtogzmzpprw5734dydoeujo5esqqxmmirug6y",""" +
        """"baseUri":"https://arweave.net/q8IenkSo5aogF-bIphzedrom24OFYGECZYUs9gEfM0A",""" +
        """"tokenId":"8120","contractId":"citizen.bodega-lab.near"}},""" +
        """"linktree":{"github":"ilblackdragon","twitter":"ilblackdragon",""" +
        """"website":"near.org","telegram":""},""" +
        """"description":"Bringing 1B users to web3","horizon_tnc":"true",""" +
        """"backgroundImage":{"ipfs_cid":"bafkreiemktmsdhpdoomwlvfi2ztm7c5sdqdmb2z5mg4bjssoqkz7wunaoi"}}"""
    val a = Seq(1).toDF("x")
      .withColumn("id", lit("user.near"))
      .withColumn("total_donations_in_usd", lit(740.00).cast("decimal(20,2)"))
      .withColumn("total_donations_out_usd", lit(1234.56).cast("decimal(20,2)"))
      .withColumn("total_matching_pool_allocations_usd",
        lit(800.01).cast("decimal(20,2)"))
      .withColumn("donors_count", lit(321L))
      .withColumn("near_social_profile_data", lit(profile))
    val json = Serializers.accountJson(a).head().getAs[String]("json")
    val golden =
      """{"id":"user.near","total_donations_in_usd":"740.00",""" +
        """"total_donations_out_usd":"1234.56",""" +
        """"total_matching_pool_allocations_usd":"800.01",""" +
        s""""donors_count":321,"near_social_profile_data":$profile}"""
    assert(json == golden)

    // A null blob stays an explicit null, like every other DRF field.
    val bare = a.withColumn("near_social_profile_data",
      lit(null).cast("string"))
    val bareJson = Serializers.accountJson(bare).head().getAs[String]("json")
    assert(bareJson.endsWith(""""near_social_profile_data":null}"""))

    // A string-scalar profile (any account can submit one via the social
    // contract; get_json_object unquotes it) must NOT splice raw — that
    // would corrupt the document. It re-escapes as a JSON string.
    val scalar = a.withColumn("near_social_profile_data",
      lit("""hello "world"\path"""))
    val scalarJson =
      Serializers.accountJson(scalar).head().getAs[String]("json")
    assert(scalarJson.endsWith(
      """"near_social_profile_data":"hello \"world\"\\path"}"""))
    // The document as a whole stays parseable JSON.
    assert(spark.range(1).select(
      from_json(lit(scalarJson), schema_of_json(lit(scalarJson)))).count() == 1)

    // A scalar profile that STARTS with '{' ("{oops" — the first-char
    // check alone would splice it raw and corrupt the document) must
    // also take the re-escape branch: only VALID object/array JSON
    // splices.
    val trap = a.withColumn("near_social_profile_data", lit("{oops"))
    val trapJson = Serializers.accountJson(trap).head().getAs[String]("json")
    assert(trapJson.endsWith(""""near_social_profile_data":"{oops"}"""))
    assert(spark.range(1).select(
      from_json(lit(trapJson), schema_of_json(lit(trapJson)))).count() == 1)
  }

  test("golden byte-parity: pot, list registration and payout JSON match the reference serializers") {
    // SIMPLE_POT_EXAMPLE (pots/serializers.py:124-166),
    // SIMPLE_LIST_REGISTRATION_EXAMPLE (lists/serializers.py:86-97) and
    // SIMPLE_PAYOUT_EXAMPLE (pots/serializers.py:239-248) rebuilt as
    // typed rows and asserted BYTE-EQUAL through the entity serializers.
    // Same documented deviations as the donation golden: DB surrogate
    // `id` omitted (chain identity instead), 6-digit micros, and field
    // order follows the serializer's Meta.fields declaration (DRF's
    // actual render order), not the hand-reordered Swagger examples.
    val account = expr(
      """named_struct(
        |'id', 'user.near',
        |'total_donations_in_usd', CAST(740.00 AS DECIMAL(20,2)),
        |'total_donations_out_usd', CAST(1234.56 AS DECIMAL(20,2)),
        |'total_matching_pool_allocations_usd', CAST(800.01 AS DECIMAL(20,2)),
        |'donors_count', CAST(321 AS BIGINT),
        |'near_social_profile_data', CAST(NULL AS STRING))""".stripMargin)
    val acctJson = """{"id":"user.near","total_donations_in_usd":"740.00",""" +
      """"total_donations_out_usd":"1234.56",""" +
      """"total_matching_pool_allocations_usd":"800.01","donors_count":321,""" +
      """"near_social_profile_data":null}"""

    val potStruct = expr(
      """named_struct(
        |'account', 'some-pot.v1.potfactory.potlock.near',
        |'pot_factory', 'v1.potfactory.potlock.near',
        |'deployer', CAST(NULL AS STRING),
        |'deployed_at', TIMESTAMP '2024-02-16 17:45:03.600845',
        |'source_metadata', named_struct(
        |  'link', 'https://github.com/PotLock/core',
        |  'version', '0.1.0',
        |  'commit_hash', '2db43b1182eb97d34e1b67f21b44c7084b364358'),
        |'owner', CAST(NULL AS STRING),
        |'admins', CAST(NULL AS STRING),
        |'chef', CAST(NULL AS STRING),
        |'name', 'My Pot Name',
        |'description', 'To support impactful open source software projects.',
        |'max_approved_applicants', 50,
        |'base_currency', 'near',
        |'application_start', TIMESTAMP '2024-04-08 04:00:00',
        |'application_end', TIMESTAMP '2024-04-22 03:59:00',
        |'matching_round_start', TIMESTAMP '2024-04-22 04:00:00',
        |'matching_round_end', TIMESTAMP '2024-05-06 03:59:00',
        |'registry_provider', 'registry.potlock.near:is_registered',
        |'min_matching_pool_donation_amount', '0',
        |'sybil_wrapper_provider', 'v1.nadabot.near:is_human',
        |'custom_sybil_checks', CAST(NULL AS STRING),
        |'custom_min_threshold_score', CAST(NULL AS INT),
        |'referral_fee_matching_pool_basis_points', 500,
        |'referral_fee_public_round_basis_points', 500,
        |'chef_fee_basis_points', 500,
        |'total_matching_pool', '10000000000000000000',
        |'total_matching_pool_usd', CAST(100.17 AS DECIMAL(20,2)),
        |'matching_pool_balance', '10000000000000000000',
        |'matching_pool_donations_count', CAST(0 AS BIGINT),
        |'total_public_donations', '100000000000000000',
        |'total_public_donations_usd', CAST(1.17 AS DECIMAL(20,2)),
        |'public_donations_count', CAST(0 AS BIGINT),
        |'cooldown_end', CAST(NULL AS TIMESTAMP),
        |'cooldown_period_ms', CAST(NULL AS BIGINT),
        |'all_paid_out', false,
        |'protocol_config_provider',
        |  'v1.potfactory.potlock.near:get_protocol_config')""".stripMargin)
      .withField("deployer", account)
      .withField("owner", account)
      .withField("admins", array(account))
      .withField("chef", account)
    val potGolden =
      """{"account":"some-pot.v1.potfactory.potlock.near",""" +
        """"pot_factory":"v1.potfactory.potlock.near",""" +
        s""""deployer":$acctJson,""" +
        """"deployed_at":"2024-02-16T17:45:03.600845Z",""" +
        """"source_metadata":{"link":"https://github.com/PotLock/core",""" +
        """"version":"0.1.0",""" +
        """"commit_hash":"2db43b1182eb97d34e1b67f21b44c7084b364358"},""" +
        s""""owner":$acctJson,"admins":[$acctJson],"chef":$acctJson,""" +
        """"name":"My Pot Name",""" +
        """"description":"To support impactful open source software projects.",""" +
        """"max_approved_applicants":50,"base_currency":"near",""" +
        """"application_start":"2024-04-08T04:00:00Z",""" +
        """"application_end":"2024-04-22T03:59:00Z",""" +
        """"matching_round_start":"2024-04-22T04:00:00Z",""" +
        """"matching_round_end":"2024-05-06T03:59:00Z",""" +
        """"registry_provider":"registry.potlock.near:is_registered",""" +
        """"min_matching_pool_donation_amount":"0",""" +
        """"sybil_wrapper_provider":"v1.nadabot.near:is_human",""" +
        """"custom_sybil_checks":null,"custom_min_threshold_score":null,""" +
        """"referral_fee_matching_pool_basis_points":500,""" +
        """"referral_fee_public_round_basis_points":500,""" +
        """"chef_fee_basis_points":500,""" +
        """"total_matching_pool":"10000000000000000000",""" +
        """"total_matching_pool_usd":"100.17",""" +
        """"matching_pool_balance":"10000000000000000000",""" +
        """"matching_pool_donations_count":0,""" +
        """"total_public_donations":"100000000000000000",""" +
        """"total_public_donations_usd":"1.17","public_donations_count":0,""" +
        """"cooldown_end":null,"cooldown_period_ms":null,""" +
        """"all_paid_out":false,""" +
        """"protocol_config_provider":"v1.potfactory.potlock.near:get_protocol_config"}"""

    // pot: flatten the struct to columns, serialize, byte-compare
    val potDf = Seq(1).toDF("x").withColumn("p", potStruct).select("p.*")
    assert(Serializers.potJson(potDf).head().getAs[String]("json") == potGolden)

    // list registration: the `list` embed recurses ListSerializer's shape
    val listStruct = expr(
      """named_struct(
        |'on_chain_id', CAST(1 AS BIGINT),
        |'owner', CAST(NULL AS STRING),
        |'admins', CAST(NULL AS STRING),
        |'name', 'Potlock Public Goods Registry',
        |'description', 'The official NEAR Protocol Public Goods Registry',
        |'cover_image_url', CAST(NULL AS STRING),
        |'admin_only_registrations', false,
        |'default_registration_status', 'Approved',
        |'created_at', TIMESTAMP '2024-03-27 15:24:46.104',
        |'updated_at', TIMESTAMP '2024-04-30 19:00:51.002')""".stripMargin)
      .withField("owner", account)
      .withField("admins", array(account))
    val listGolden =
      s"""{"on_chain_id":1,"owner":$acctJson,"admins":[$acctJson],""" +
        """"name":"Potlock Public Goods Registry",""" +
        """"description":"The official NEAR Protocol Public Goods Registry",""" +
        """"cover_image_url":null,"admin_only_registrations":false,""" +
        """"default_registration_status":"Approved",""" +
        """"created_at":"2024-03-27T15:24:46.104000Z",""" +
        """"updated_at":"2024-04-30T19:00:51.002000Z"}"""
    val regDf = Seq(1).toDF("x")
      .withColumn("on_chain_id", lit(10L))
      .withColumn("list", listStruct)
      .withColumn("registrant", account)
      .withColumn("registered_by", account)
      .withColumn("status", lit("Approved"))
      .withColumn("submitted_at",
        lit(java.sql.Timestamp.valueOf("2024-06-05 18:01:02.319")))
      .withColumn("updated_at",
        lit(java.sql.Timestamp.valueOf("2024-06-05 18:01:02.319")))
      .withColumn("registrant_notes", lit("I'm excited to apply for this list"))
      .withColumn("admin_notes",
        lit("This is a great project that I want on my list."))
      .withColumn("tx_hash", lit("EVMQsXorrrxPLHfK9UnbzFUy1SVYWvc8hwSGQZs4RbTk"))
    val regGolden =
      s"""{"on_chain_id":10,"list":$listGolden,"registrant":$acctJson,""" +
        s""""registered_by":$acctJson,"status":"Approved",""" +
        """"submitted_at":"2024-06-05T18:01:02.319000Z",""" +
        """"updated_at":"2024-06-05T18:01:02.319000Z",""" +
        """"registrant_notes":"I'm excited to apply for this list",""" +
        """"admin_notes":"This is a great project that I want on my list.",""" +
        """"tx_hash":"EVMQsXorrrxPLHfK9UnbzFUy1SVYWvc8hwSGQZs4RbTk"}"""
    assert(Serializers.listRegistrationJson(regDf).head().getAs[String]("json")
      == regGolden)

    // payout: full PotSerializer embed + AccountSerializer recipient
    // (the serializer's declared shape; the Swagger example hand-writes
    // a bare recipient string)
    val payoutDf = Seq(1).toDF("x")
      .withColumn("pot", potStruct)
      .withColumn("recipient", account)
      .withColumn("amount", lit("1000000000000000000000000"))
      .withColumn("amount_paid_usd", lit(1.27).cast("decimal(20,2)"))
      .withColumn("token", expr("named_struct('id', 'near', 'decimals', 24)"))
      .withColumn("paid_at",
        lit(java.sql.Timestamp.valueOf("2024-06-05 18:12:39.014")))
      .withColumn("tx_hash", lit("EVMQsXorrrxPLHfK9UnbzFUy1SVYWvc8hwSGQZs4RbTk"))
    val payoutGolden =
      s"""{"pot":$potGolden,"recipient":$acctJson,""" +
        """"amount":"1000000000000000000000000","amount_paid_usd":"1.27",""" +
        """"token":{"id":"near","decimals":24},""" +
        """"paid_at":"2024-06-05T18:12:39.014000Z",""" +
        """"tx_hash":"EVMQsXorrrxPLHfK9UnbzFUy1SVYWvc8hwSGQZs4RbTk"}"""
    assert(Serializers.potPayoutJson(payoutDf).head().getAs[String]("json")
      == payoutGolden)
  }

  test("golden byte-parity: list, pot application, pot factory and stats JSON match the reference") {
    // SIMPLE_LIST_EXAMPLE (lists/serializers.py:57-69),
    // SIMPLE_POT_FACTORY_EXAMPLE (pots/serializers.py:183-197) and
    // SIMPLE_POT_APPLICATION_EXAMPLE (pots/serializers.py:215-224)
    // rebuilt as typed rows and asserted BYTE-EQUAL through the entity
    // serializers; the stats document pins base/api.py:81-89's dict
    // order. Same documented deviations as the sibling goldens: DB
    // surrogate `id` omitted, 6-digit micros, Meta.fields order.
    val account = expr(
      """named_struct(
        |'id', 'user.near',
        |'total_donations_in_usd', CAST(740.00 AS DECIMAL(20,2)),
        |'total_donations_out_usd', CAST(1234.56 AS DECIMAL(20,2)),
        |'total_matching_pool_allocations_usd', CAST(800.01 AS DECIMAL(20,2)),
        |'donors_count', CAST(321 AS BIGINT),
        |'near_social_profile_data', CAST(NULL AS STRING))""".stripMargin)
    val acctJson = """{"id":"user.near","total_donations_in_usd":"740.00",""" +
      """"total_donations_out_usd":"1234.56",""" +
      """"total_matching_pool_allocations_usd":"800.01","donors_count":321,""" +
      """"near_social_profile_data":null}"""

    // list — ListSerializer Meta.fields order (lists/serializers.py:9-33)
    val listDf = Seq(1).toDF("x")
      .withColumn("on_chain_id", lit(1L))
      .withColumn("owner", account)
      .withColumn("admins", array(account))
      .withColumn("name", lit("Potlock Public Goods Registry"))
      .withColumn("description",
        lit("The official NEAR Protocol Public Goods Registry"))
      .withColumn("cover_image_url", lit(null).cast("string"))
      .withColumn("admin_only_registrations", lit(false))
      .withColumn("default_registration_status", lit("Approved"))
      .withColumn("created_at",
        lit(java.sql.Timestamp.valueOf("2024-03-27 15:24:46.104")))
      .withColumn("updated_at",
        lit(java.sql.Timestamp.valueOf("2024-04-30 19:00:51.002")))
    val listGolden =
      s"""{"on_chain_id":1,"owner":$acctJson,"admins":[$acctJson],""" +
        """"name":"Potlock Public Goods Registry",""" +
        """"description":"The official NEAR Protocol Public Goods Registry",""" +
        """"cover_image_url":null,"admin_only_registrations":false,""" +
        """"default_registration_status":"Approved",""" +
        """"created_at":"2024-03-27T15:24:46.104000Z",""" +
        """"updated_at":"2024-04-30T19:00:51.002000Z"}"""
    assert(Serializers.listJson(listDf).head().getAs[String]("json")
      == listGolden)

    // pot factory — source_metadata renders as the JSONField OBJECT
    val factoryDf = Seq(1).toDF("x")
      .withColumn("account", lit("v1.potfactory.potlock.near"))
      .withColumn("owner", account)
      .withColumn("admins", array(account))
      .withColumn("whitelisted_deployers", array(account))
      .withColumn("source_metadata", expr(
        """named_struct(
          |'link', 'https://github.com/PotLock/core',
          |'version', '1.0.0',
          |'commit_hash', 'e6b108e9442920333b44eb1a4068b9b9ae551d79')"""
          .stripMargin))
      .withColumn("deployed_at",
        lit(java.sql.Timestamp.valueOf("2024-02-12 13:49:58.940854")))
      .withColumn("protocol_fee_basis_points", lit(200))
      .withColumn("require_whitelist", lit(false))
      .withColumn("protocol_fee_recipient", account)
    val factoryGolden =
      s"""{"account":"v1.potfactory.potlock.near","owner":$acctJson,""" +
        s""""admins":[$acctJson],"whitelisted_deployers":[$acctJson],""" +
        """"source_metadata":{"link":"https://github.com/PotLock/core",""" +
        """"version":"1.0.0",""" +
        """"commit_hash":"e6b108e9442920333b44eb1a4068b9b9ae551d79"},""" +
        """"deployed_at":"2024-02-12T13:49:58.940854Z",""" +
        """"protocol_fee_basis_points":200,"require_whitelist":false,""" +
        s""""protocol_fee_recipient":$acctJson}"""
    assert(Serializers.potFactoryJson(factoryDf).head().getAs[String]("json")
      == factoryGolden)

    // pot application — the pot embed recurses through whatever struct
    // the route provides (potDim's full PotSerializer shape in
    // production — pinned by the pot golden above; a compact struct here
    // keeps this fixture readable)
    val appDf = Seq(1).toDF("x")
      .withColumn("pot", expr(
        """named_struct('account', 'some-pot.v1.potfactory.potlock.near',
          |'name', 'My Pot Name')""".stripMargin))
      .withColumn("applicant", account)
      .withColumn("message",
        lit("Hi, I'm a great project and I'd like to apply for this pot."))
      .withColumn("status", lit("Pending"))
      .withColumn("submitted_at",
        lit(java.sql.Timestamp.valueOf("2024-06-05 18:06:45.519")))
      .withColumn("updated_at",
        lit(java.sql.Timestamp.valueOf("2024-06-05 18:06:45.519")))
      .withColumn("tx_hash", lit("EVMQsXorrrxPLHfK9UnbzFUy1SVYWvc8hwSGQZs4RbTk"))
    val appGolden =
      """{"pot":{"account":"some-pot.v1.potfactory.potlock.near",""" +
        """"name":"My Pot Name"},""" +
        s""""applicant":$acctJson,""" +
        """"message":"Hi, I'm a great project and I'd like to apply for this pot.",""" +
        """"status":"Pending",""" +
        """"submitted_at":"2024-06-05T18:06:45.519000Z",""" +
        """"updated_at":"2024-06-05T18:06:45.519000Z",""" +
        """"tx_hash":"EVMQsXorrrxPLHfK9UnbzFUy1SVYWvc8hwSGQZs4RbTk"}"""
    assert(Serializers.potApplicationJson(appDf).head().getAs[String]("json")
      == appGolden)

    // stats — base/api.py:81-89 dict order; the handler's `or 0` on null
    // sums; exact-decimal rendering (the documented float deviation)
    val statsDf = Seq((2L, 2L, 1L))
      .toDF("total_donations_count", "total_donors_count",
        "total_recipients_count")
      .withColumn("total_donations_usd", lit(30).cast("decimal(20,2)"))
      .withColumn("total_payouts_usd", lit(null).cast("decimal(20,2)"))
    val statsGolden =
      """{"total_donations_usd":30.00,"total_payouts_usd":0.00,""" +
        """"total_donations_count":2,"total_donors_count":2,""" +
        """"total_recipients_count":1}"""
    assert(Serializers.statsJson(statsDf).head().getAs[String]("json")
      == statsGolden)
  }

  test("keyset pagination: page-number parity, no global window (O3 scale path)") {
    // Walk all three keyset pages and compare against the page-number form.
    val accts = qs.accountsListing
    val k1 = accts.after(None, 2).select("id").collect().map(_.getString(0))
    val k2 = accts.after(Some(Seq(k1.last)), 2).select("id").collect().map(_.getString(0))
    val k3 = accts.after(Some(Seq(k2.last)), 2).select("id").collect().map(_.getString(0))
    val paged = (1 to 3).flatMap(p => qs.accountsList(p, 2).results
      .select("id").collect().map(_.getString(0)))
    assert((k1 ++ k2 ++ k3).toSeq == paged)

    // Physical plan: no Window operator, TakeOrderedAndProject instead.
    val plan = accts.after(Some(Seq("a")), 2).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
    assert(plan.contains("TakeOrderedAndProject"))

    // Multi-key descending continuation: donated_at DESC, on_chain_id ASC.
    val feed = qs.accountDonationsSentListing("donor1.near")
    val f1 = feed.after(None, 1).select("donated_at", "on_chain_id").collect()
    val last = Seq(f1.last.getTimestamp(0), f1.last.getLong(1))
    val f2 = feed.after(Some(last), 1)
      .select("on_chain_id").collect().map(_.getLong(0))
    assert(f1.map(_.getLong(1)).toSeq == Seq(1L) && f2.toSeq == Seq(2L))
  }

  test("keyset variants on every paginated route: offset parity + plan shape") {
    val ts0 = java.sql.Timestamp.valueOf("2024-06-10 00:00:00")

    // lists: single page
    assert(qs.listsListing.after(None, 10).select("on_chain_id")
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    assert(qs.listsListing.after(Some(Seq(5L)), 10).count() == 0)

    // list registrations: walk size-2 keyset pages, compare to offset form
    val regs = qs.listRegistrationsListing(5L, None, None)
    val r1 = regs.after(None, 2).select("submitted_at", "on_chain_id").collect()
    val rAfter = Seq(r1.last.getTimestamp(0), r1.last.getLong(1))
    val r2 = regs.after(Some(rAfter), 2)
      .select("on_chain_id").collect().map(_.getLong(0))
    val rPaged = (1 to 2).flatMap(p =>
      qs.listRegistrations(5L, None, None, p, 2).toOption.get.results
        .select("on_chain_id").collect().map(_.getLong(0)))
    assert((r1.map(_.getLong(1)) ++ r2).toSeq == rPaged)
    assert(qs.listRegistrationsListing(5L, Some("Bogus"), None).invalid.nonEmpty)

    // pots / factories / sponsors: account-keyed ascending
    val size = QueryService.DefaultPageSize
    assert(qs.potsListing.after(None, size).select("account")
      .collect().map(_.getString(0)).toSeq == Seq("pot1.pot.near"))
    assert(qs.potsListing.after(Some(Seq("pot1.pot.near")), size).count() == 0)
    assert(qs.potFactoriesListing.after(None, size).select("account")
      .collect().map(_.getString(0)).toSeq == Seq("f1.near"))
    assert(qs.potSponsorsListing("pot1.pot.near").after(None, size).select("id")
      .collect().map(_.getString(0)).toSeq == Seq("donor1.near"))
    assert(qs.potSponsorsListing("pot1.pot.near")
      .after(Some(Seq("donor1.near")), size).count() == 0)

    // pot applications: (submitted_at DESC, applicant ASC) continuation
    val apps = qs.potApplicationsListing("pot1.pot.near")
    val a1 = apps.after(None, 1).select("submitted_at", "applicant").collect()
    assert(a1.map(_.getString(1)).toSeq == Seq("proj1.near"))
    val a2 = apps.after(Some(Seq(a1.last.getTimestamp(0), a1.last.getString(1))), 1)
      .select("applicant").collect().map(_.getString(0))
    assert(a2.toSeq == Seq("proj2.near"))

    // pot donations: parity with the offset form, expanded shape intact
    val dons = qs.potDonationsListing("pot1.pot.near")
    val d1 = dons.after(None, 1).select("donated_at", "on_chain_id").collect()
    val d2 = dons.after(Some(Seq(d1.last.getTimestamp(0), d1.last.getLong(1))), 1)
      .select("on_chain_id").collect().map(_.getLong(0))
    val dPaged = (1 to 2).flatMap(p =>
      qs.potDonations("pot1.pot.near", p, 1).results
        .select("on_chain_id").collect().map(_.getLong(0)))
    assert((d1.map(_.getLong(1)) ++ d2).toSeq == dPaged)

    // pot payouts: the NULL paid_at row must survive the descending
    // continuation (sorts last; strict < alone would drop it)
    val pays = qs.potPayoutsListing("pot1.pot.near")
    val p1 = pays.after(None, 1).select("paid_at", "recipient").collect()
    assert(p1.map(_.getString(1)).toSeq == Seq("proj1.near"))
    val p2 = pays.after(Some(Seq(p1.last.getTimestamp(0), p1.last.getString(1))), 1)
      .select("recipient", "paid_at").collect()
    assert(p2.map(_.getString(0)).toSeq == Seq("proj2.near"))
    assert(p2.head.isNullAt(1))

    // account-scoped keyset forms
    assert(qs.accountPotApplicationsListing("proj1.near", None).after(None, size)
      .select("pot").collect().map(_.getString(0)).toSeq ==
      Seq("pot1.pot.near"))
    assert(qs.accountPotApplicationsListing("x", Some("Nope")).invalid.nonEmpty)
    val recv = qs.accountDonationsReceivedListing("proj1.near")
    val dr = recv.after(None, 1).select("on_chain_id").collect().map(_.getLong(0))
    val dr2 = recv.after(Some(Seq(ts0, dr.last)), 1)
      .select("on_chain_id").collect().map(_.getLong(0))
    assert(dr.toSeq == Seq(1L) && dr2.toSeq == Seq(3L))
    assert(qs.accountDonationsSentListing("donor1.near").after(None, 10)
      .select("on_chain_id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(qs.accountPayoutsReceivedListing("proj1.near").after(None, size)
      .select("recipient").collect().map(_.getString(0)).toSeq ==
      Seq("proj1.near"))
    assert(qs.accountListRegistrationsListing("proj1.near", None).after(None, size)
      .select("on_chain_id").collect().map(_.getLong(0)).toSeq == Seq(11L))
    assert(qs.accountListRegistrationsListing("proj1.near", Some("Bad"))
      .invalid.nonEmpty)

    // Plan shape on a continuation page: pushed-down predicate +
    // TakeOrderedAndProject, never a global row_number window. The
    // in-memory fixture can FOLD to a LocalTableScan at planning
    // (Catalyst evaluates the whole query over a LocalRelation), so
    // these checks run against parquet-backed copies — the production
    // shape the assertion is actually about.
    val pdir = tmpDir("keyset-plan")
    Seq("pot_payouts", "list_registrations").foreach(n =>
      tables(n).write.mode("overwrite").parquet(s"$pdir/$n"))
    val qp = new QueryService(n => spark.read.parquet(s"$pdir/$n"))
    Seq(
      qp.potPayoutsListing("pot1.pot.near").after(Some(Seq(ts0, "a")), 2),
      qp.listRegistrationsListing(5L, None, None).after(Some(Seq(ts0, 11L)), 2)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"))
      assert(plan.contains("TakeOrderedAndProject"))
    }
  }

  test("donation embeds full token + pot objects; pot embeds accounts (S8 parity)") {
    // donations/serializers.py:44-49: token and pot serialize as objects.
    val rows = qs.potDonations("pot1.pot.near").toJsonRows().mkString
    assert(rows.contains("\"token\":{\"id\":\"near\",\"name\":\"NEAR\""))
    assert(rows.contains("\"pot\":{\"account\":\"pot1.pot.near\""))
    // the embedded pot itself carries its account embeds
    assert(rows.contains("\"owner\":{\"id\":\"owner.near\""))

    // AccountSerializer shape: the donor embed carries gold stats
    // (accounts/serializers.py:58-66), not just id+profile.
    assert(rows.contains("\"total_donations_out_usd\":30"))

    // pots/serializers.py:55-58: admins as an ordered array of account
    // objects on the pot routes.
    val pot = qs.potDetail("pot1.pot.near").toJSON.collect().mkString
    assert(pot.contains("\"admins\":[{\"id\":\"donor1.near\""))
    assert(pot.contains("{\"id\":\"donor2.near\""))
    assert(pot.contains("\"owner\":{\"id\":\"owner.near\""))
  }

  test("OpenAPI schema document covers every route with its parameters") {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val doc = m.readTree(OpenApi.schemaJson)
    assert(doc.get("openapi").asText().startsWith("3."))
    val paths = doc.get("paths")
    assert(paths.size() == 22)
    val regs = paths.get("/api/v1/lists/{list_id}/registrations").get("get")
    val params = (0 until regs.get("parameters").size())
      .map(regs.get("parameters").get(_).get("name").asText())
    assert(params ==
      Seq("list_id", "status", "category", "page", "page_size", "after"))
    val env = paths.get("/api/v1/accounts").get("get").get("responses")
      .get("200").get("content").get("application/json").get("schema")
      .get("properties")
    assert(Seq("count", "next", "previous", "results")
      .forall(k => env.has(k)))
  }

  test("swagger-ui and redoc wrappers render and reference the schema route") {
    // api/urls.py:40-47: two static HTML shells over the schema document
    val sw = OpenApi.swaggerUiHtml
    assert(sw.startsWith("<!DOCTYPE html>"))
    assert(sw.contains("SwaggerUIBundle"))
    assert(sw.contains("\"/api/schema/\""))
    val rd = OpenApi.redocHtml
    assert(rd.startsWith("<!DOCTYPE html>"))
    assert(rd.contains("<redoc spec-url=\"/api/schema/\""))
  }

  test("account stats gold: per-account rollups (A2)") {
    val st = tables("account_stats")
    val d1 = st.filter(col("id") === "donor1.near").head()
    assert(d1.getAs[java.math.BigDecimal]("total_donations_out_usd").doubleValue() == 30.0)
    val p1 = st.filter(col("id") === "proj1.near").head()
    assert(p1.getAs[Long]("donors_count") == 2)
    assert(p1.getAs[java.math.BigDecimal]("total_payouts_received_usd").doubleValue() == 5.0)
  }
}
