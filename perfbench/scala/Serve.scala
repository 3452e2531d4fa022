package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.gold.GoldCounts
import graft.queries.{QueryServer, QueryService, ResultCache, Serializers}

/** The store the tail serves: a silver dir fed by the lake stream, its
  * side tables (NEAR prices, donate config), and a QueryServer in
  * production wiring (memoized serving loader, gold envelope counters,
  * default ResultCache) bound on loopback. */
final class Store(val spark: SparkSession, val work: String, val lake: Lake) {
  val lakeDir: java.nio.file.Path = Paths.get(work, "lake")
  val silver = s"$work/silver"
  val cache = new ResultCache()
  var service: QueryService = _
  var goldCounts: GoldCounts = _
  var server: QueryServer = _
  var http: com.sun.net.httpserver.HttpServer = _
  var prewarmS = 0.0

  /** Lake dir plus the side tables the stream does not derive (NEAR
    * prices, donate config), written before the first beat so that
    * enrichment prices every donation. The stream itself creates the
    * `near` token row with its 24 decimals. */
  def prepare(): Unit = {
    Files.createDirectories(lakeDir)
    import spark.implicits._
    val day0 = Lake.BaseMs / 86400000L
    (day0 - 1 to day0 + 2).map { d =>
      ("near", new java.sql.Timestamp(d * 86400000L + 43200000L), Lake.NearUsd.bigDecimal)
    }.toDF("token", "timestamp", "price_usd")
      .withColumn("price_usd", col("price_usd").cast("decimal(20,2)"))
      .write.mode("overwrite").parquet(s"$silver/token_prices")
    Seq("""{"owner":"potlock.near","protocol_fee_basis_points":250}""")
      .toDF("config").coalesce(1).write.parquet(s"$silver/donate_contract_config")
  }

  /** Wires the server over the (by now non-empty) store, prewarms the
    * given routes before the socket opens, and binds it. Returns the
    * prewarm requests that did not answer 200. */
  def open(warm: Seq[String]): Seq[String] = {
    service = new QueryService(QueryServer.memoizedServingLoader(spark, silver))
    goldCounts = new GoldCounts(spark, silver)
    server = new QueryServer(service, silver, goldCounts = Some(goldCounts),
      cache = cache, throttlePerMin = Int.MaxValue)
    var warmed = Seq.empty[(String, Int, Double)]
    prewarmS = Time.s { warmed = server.prewarm(warm) }
    http = server.start(0, poolSize = 4)
    warmed.collect { case (path, status, _) if status != 200 => s"prewarm $path -> $status" }
  }

  def port: Int = http.getAddress.getPort

  def stop(): Unit = if (http != null) http.stop(0)

  /** Bytes of every file under the silver dir (silver and gold tables). */
  def storeBytes: Long = {
    val files = Files.walk(Paths.get(silver))
    try files.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally files.close()
  }
}

object Time {
  def s(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
}

/** The seeded read mix: rounds over the route families, each round a
  * seeded permutation of all ten, then uniform over ids, page sizes and
  * pages (or an `?after=` keyset continuation). Ids and pages come from
  * `visible`, what the store is known to serve. */
final class Mix(lake: Lake, visible: Lake#Expect, seed: Long) {
  private val rng = new scala.util.Random(seed)
  val families: Seq[String] = Seq("accounts", "account", "donations_received",
    "donations_sent", "donors", "pots", "pot", "pot_donations", "lists", "stats")

  final case class Req(family: String, path: String, params: Map[String, String])

  private def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))
  private var round = List.empty[String]
  private def nextFamily(): String = {
    if (round.isEmpty) round = rng.shuffle(families).toList
    val f = round.head
    round = round.tail
    f
  }
  private val sizes = Seq(5, 10, 20)
  private val recipients = visible.received.keys.toSeq.sorted
  private val senders = visible.sent.keys.toSeq.sorted
  private val potsWithDonations = visible.potDonations.keys.toSeq.sorted

  private def paged[D](family: String, base: String, rows: Seq[D],
      cursor: D => String): Req = {
    val size = pick(sizes)
    if (rng.nextInt(4) == 0) {
      val after = cursor(rows(rng.nextInt(rows.size)))
      Req(family, base, Map("after" -> after, "page_size" -> size.toString))
    } else {
      val page = 1 + rng.nextInt((rows.size + size - 1) / size)
      Req(family, base, Map("page" -> page.toString, "page_size" -> size.toString))
    }
  }

  def next(): Req =
    nextFamily() match {
      case "accounts" =>
        val size = pick(sizes).toString
        if (rng.nextBoolean())
          Req("accounts", "/api/v1/accounts",
            Map("after" -> pick(lake.donors ++ lake.projects), "page_size" -> size))
        else Req("accounts", "/api/v1/accounts",
          Map("page" -> (1 + rng.nextInt(3)).toString, "page_size" -> size))
      case "account" =>
        Req("account", s"/api/v1/accounts/${pick(recipients)}", Map.empty)
      case "donations_received" =>
        val id = pick(recipients)
        paged("donations_received", s"/api/v1/accounts/$id/donations_received",
          visible.received(id), (d: Lake#Donation) => d.cursor)
      case "donations_sent" =>
        val id = pick(senders)
        paged("donations_sent", s"/api/v1/accounts/$id/donations_sent",
          visible.sent(id), (d: Lake#Donation) => d.cursor)
      case "donors" =>
        paged("donors", "/api/v1/donors", senders, (d: String) => d)
      case "pots" =>
        paged("pots", "/api/v1/pots", lake.pots.take(visible.pots), (p: String) => p)
      case "pot" =>
        Req("pot", s"/api/v1/pots/${pick(lake.pots.take(visible.pots))}", Map.empty)
      case "pot_donations" =>
        val pot = pick(potsWithDonations)
        paged("pot_donations", s"/api/v1/pots/$pot/donations", visible.potDonations(pot),
          (d: Lake#Donation) => d.cursor)
      case "lists" =>
        paged("lists", "/api/v1/lists", (1 to visible.lists).map(_.toLong), (l: Long) => l.toString)
      case _ =>
        Req("stats", "/api/v1/stats", Map.empty)
    }
}

object Mix {
  private val countRe = """"count":\s*(\d+)""".r
  private val statRe = """"total_donations_count":\s*(\d+)""".r

  def count(body: String): Option[Long] =
    countRe.findFirstMatchIn(body).map(_.group(1).toLong)
  def statsCount(body: String): Option[Long] =
    statRe.findFirstMatchIn(body).map(_.group(1).toLong)

  def expectCount(body: String, n: Long): Option[String] =
    count(body) match {
      case Some(c) if c == n => None
      case other => Some(s"count $other, expected $n")
    }

  def expectStat(body: String, key: String, n: Long): Option[String] =
    statsCount(body) match {
      case Some(c) if c == n => None
      case other => Some(s"$key $other, expected $n")
    }

  def expectUsd(body: String, key: String, usd: BigDecimal): Option[String] = {
    val re = ("\"" + key + "\":\\s*\"?([0-9.]+)").r
    re.findFirstMatchIn(body).map(m => BigDecimal(m.group(1))) match {
      case Some(v) if v == usd => None
      case other => Some(s"$key $other, expected $usd")
    }
  }
}

/** A blocking loopback HTTP client. */
final class Client(port: Int) {
  def get(path: String, params: Map[String, String]): (Int, String) = {
    val q = params.toSeq.sortBy(_._1).map { case (k, v) =>
      java.net.URLEncoder.encode(k, "UTF-8") + "=" + java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("&")
    val url = s"http://127.0.0.1:$port$path" + (if (q.isEmpty) "" else "?" + q)
    val conn = java.net.URI.create(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(60000)
    try {
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
      (code, body)
    } finally conn.disconnect()
  }
}

/** Traced-run probes that call the serve layers in-process, no socket,
  * on a settled store. After one untimed round of the mix (first-plan
  * codegen and JIT): `handle` (routing, cache, route, render) of a
  * second QueryServer over the same service with an empty ResultCache,
  * over `Rounds` whole rounds of the mix, so every route family has as
  * many samples; and QueryService routes plus their serializers without
  * the cache. Every `handle` must answer 200. The Spark work of the
  * timed `handle` calls gives the per-request job, stage, task and read
  * counts. */
object InProcess {
  val Rounds = 3

  def measure(store: Store, ledger: Ledger, mix: Mix,
      problems: java.util.Collection[String]): Map[String, Double] = {
    def call(server: QueryServer, r: mix.Req): Unit = {
      val status = server.handle("GET", r.path, r.params, client = "probe").status
      if (status != 200) problems.add(s"probe ${r.path} ${r.params} -> $status")
    }
    mix.families.foreach(_ => call(store.server, mix.next()))
    val n = Rounds * mix.families.size
    val reqs = (0 until n).map(_ => mix.next())
    val server = new QueryServer(store.service, store.silver,
      goldCounts = Some(store.goldCounts), throttlePerMin = Int.MaxValue)
    ledger.phase = "probe"
    val before = ledger.snapshot("probe")
    val handle = reqs.map { r =>
      val t0 = System.nanoTime()
      call(server, r)
      r.family -> (System.nanoTime() - t0) / 1e6
    }
    val work = Metrics.delta(ledger.snapshot("probe"), before)
    ledger.phase = "after"
    val lake = store.lake
    val svc = store.service
    val rng = new scala.util.Random(17)
    val service = (0 until n).map { i =>
      val id = lake.projects(rng.nextInt(lake.projects.size))
      val t0 = System.nanoTime()
      val rendered = i % 4 match {
        case 0 => Serializers.donationJson(svc.accountDonationsReceived(id, 1, 10).results)
        case 1 => Serializers.accountJson(svc.accountDetail(id))
        case 2 => Serializers.accountJson(svc.accountsList(1 + rng.nextInt(3), 10).results)
        case _ => Serializers.statsJson(svc.stats())
      }
      rendered.select("json").collect()
      (System.nanoTime() - t0) / 1e6
    }
    val byRoute = handle.groupBy(_._1).map { case (f, xs) =>
      s"serve.route.${f}_p50_ms" -> Stats.median(xs.map(_._2))
    }
    byRoute ++ Map("serve.handle_p50_ms" -> Stats.median(handle.map(_._2)),
      "serve.cache_hits" -> server.cacheHits.toDouble,
      "serve.cache_misses" -> server.cacheMisses.toDouble,
      "serve.service_p50_ms" -> Stats.median(service),
      "serve.jobs_per_req" -> work("jobs").toDouble / n,
      "serve.stages_per_req" -> work("stages").toDouble / n,
      "serve.tasks_per_req" -> work("tasks").toDouble / n,
      "serve.rows_read_per_req" -> work("input_records").toDouble / n,
      "serve.mb_read_per_req" -> work("input_bytes") / 1048576.0 / n)
  }
}
