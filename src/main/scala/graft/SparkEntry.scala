package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Amounts, ClassifierFunctions, DedupFunctions, DomainFunctions, FrequentItems, SampleFunctions, SearchFunctions, Similarity, TextFunctions}
import graft.operators.{AsOfJoin, BucketedLayout, IntervalJoin, Relational}

/** Driver contract — the operator-inventory correctness surface.
  *
  * Each entry exercises one operator family from SURVEY.md §2 over the
  * harness tables (TESTDATA.md), with a DuckDB-equivalent oracle in
  * [[oracleSql]]. Engine-parity rules used throughout:
  *  - aggregates over doubles go through exact DECIMAL arithmetic and are
  *    cast to double at the end (bit-identical across engines);
  *  - pure double arithmetic (+,-,*,/) is IEEE-deterministic and safe;
  *    `round()` and float accumulation orders are avoided;
  *  - every result has a deterministic ORDER BY with unique tie-breaks;
  *  - counts are BIGINT on both sides (DuckDB SUM/COUNT casts pinned).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * End-to-end slice: fact scan → broadcast dimension expansion (J1) →
    * per-group exact-decimal aggregation (A2) → deterministic top-k (O2).
    */
  def entry(spark: SparkSession): DataFrame = {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val enriched = t.orders
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"), "left")
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"), "left")
    enriched.groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total_usd"))
      .orderBy(col("total_usd").desc, col("n_name").asc)
      .limit(10)
  }

  private val dec182 = DecimalType(18, 2)
  private def dsum(c: Column): Column = sum(c.cast(dec182)).cast("double")

  /** Materialized-handle registry. `queries()` must hand the harness a
    * bare DataFrame, but the iterative operators (pageRank, kCore,
    * duplicateClusters, dedupCorpus) return a
    * [[graft.operators.Materialized]] whose caches must outlive the
    * frame's consumption — so the query builders `track` the handle here
    * and the harness calls [[releaseTracked]] after each query's result
    * is consumed. Library consumers never touch this: they hold the
    * handle and call `.release()` directly. */
  private val tracked =
    scala.collection.mutable.ArrayBuffer.empty[graft.operators.Materialized]
  def track(m: graft.operators.Materialized): DataFrame =
    tracked.synchronized { tracked += m; m.df }
  def releaseTracked(): Unit = tracked.synchronized {
    tracked.foreach(_.release()); tracked.clear()
  }

  /** Constructed timestamps go out as TIMESTAMP_NTZ so parquet stores naive
    * (un-adjusted) values matching the DuckDB oracle; session TZ is UTC so
    * the wall-clock value is unchanged. */
  private def ntz(c: Column): Column = c.cast("timestamp_ntz")

  // ---------------------------------------------------------------- P: filters

  /** P1 — column projection + distinct. */
  private def p1(t: Tables): DataFrame =
    t.lineitem.select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** P2 — equality filter on a key/enum column. */
  private def p2(t: Tables): DataFrame =
    t.orders.filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")

  /** P4 — NULL predicate (on a NULLIF-derived column, as the testdata has
    * no native nulls). */
  private def p4(t: Tables): DataFrame =
    t.orders
      .withColumn("status_nn", expr("nullif(o_orderstatus, 'O')"))
      .filter(col("status_nn").isNotNull)
      .select("o_orderkey", "status_nn")
      .orderBy("o_orderkey")

  /** P5 — 5-way disjunctive predicate (tasks.py:155-161 analog). */
  private def p5(t: Tables): DataFrame =
    t.lineitem.filter(
      col("l_returnflag") === "R" ||
        col("l_discount") > 0.09 ||
        col("l_quantity") >= 49 ||
        col("l_tax") < 0.001 ||
        col("l_shipdate") >= lit("2001-06-01").cast("timestamp"))
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")

  /** P6 — interval containment ("live pots" shape, accounts/api.py:205-214). */
  private def p6(t: Tables): DataFrame =
    t.orders.filter(
      col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") <= lit("1997-12-31").cast("timestamp"))
      .select("o_orderkey", "o_orderdate")
      .orderBy("o_orderkey")

  /** P7/F8 — JSON field extraction + predicate (profile-category shape,
    * lists/api.py:157-161). */
  private def p7(t: Tables): DataFrame =
    t.events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .filter(col("k").isNotNull && col("k") >= 10 && col("k") < 50)
      .select("event_id", "k")
      .orderBy("event_id")

  /** P8 — regex dispatch routing (contract-address patterns,
    * pots/utils.py:5-21). */
  private def p8(t: Tables): DataFrame =
    t.documents
      .withColumn("route",
        when(col("source").rlike("^src[0-2]$"), "primary")
          .when(col("source").rlike("^src[0-9]+$"), "secondary")
          .otherwise("unrouted"))
      .groupBy("route").agg(count(lit(1)).as("n_docs"))
      .orderBy("route")

  /** P11/F7 — base64 encode/decode round-trip (FunctionCall args shape,
    * handler.py:171-196). */
  private def p11(t: Tables): DataFrame =
    t.documents
      .withColumn("b64", base64(substring(col("text"), 1, 16).cast("binary")))
      .withColumn("roundtrip_len", length(unbase64(col("b64")).cast("string")).cast("long"))
      .select("doc_id", "b64", "roundtrip_len")
      .orderBy("doc_id")

  // ---------------------------------------------------------------- F: scalars

  /** F1 — amount / 10^decimals scaling (tokens/models.py:59-62). */
  private def f1(t: Tables): DataFrame =
    t.lineitem
      .withColumn("scaled", col("l_extendedprice") / pow(lit(10.0), pmod(col("l_linenumber"), lit(3))))
      .select("l_orderkey", "l_linenumber", "scaled")
      .orderBy("l_orderkey", "l_linenumber")

  /** F2 — fee arithmetic in exact decimals (net = total − fees,
    * utils.py:875-884). */
  private def f2(t: Tables): DataFrame = {
    val total = col("o_totalprice").cast(dec182)
    val protocolFee = total * lit(new java.math.BigDecimal("0.05"))
    val referrerFee = when(col("o_orderstatus") === "F", total * lit(new java.math.BigDecimal("0.01")))
    val net = total - protocolFee - coalesce(referrerFee, lit(new java.math.BigDecimal("0.00")))
    t.orders
      .withColumn("net_usd", net.cast("double"))
      .withColumn("protocol_fee_usd", protocolFee.cast("double"))
      .select("o_orderkey", "net_usd", "protocol_fee_usd")
      .orderBy("o_orderkey")
  }

  /** F4 — epoch-milliseconds ↔ timestamp conversions (handler.py:50-52,
    * utils.py:886-888). */
  private def f4(t: Tables): DataFrame =
    t.events
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("ts_rebuilt", ntz(timestamp_millis(col("ts_ms"))))
      .select("event_id", "ts_ms", "ts_rebuilt")
      .orderBy("event_id")

  /** F5 — dd-MM-yyyy date key (coingecko key, base/utils.py:4-8). */
  private def f5(t: Tables): DataFrame =
    t.orders
      .withColumn("date_key", Amounts.dateKey(col("o_orderdate")))
      .select("o_orderkey", "date_key")
      .orderBy("o_orderkey")

  /** F6 — digit-guard before integer cast (tasks.py:200-204). */
  private def f6(t: Tables): DataFrame =
    t.customer
      .withColumn("digits", regexp_extract(col("c_name"), "([0-9]+)", 1))
      .withColumn("cust_num", Amounts.digitGuardedLong(col("digits")))
      .select("c_custkey", "cust_num")
      .orderBy("c_custkey")

  /** F9 — slugify (chains/models.py:14-21). */
  private def f9(t: Tables): DataFrame =
    t.part
      .withColumn("slug", Amounts.slugify(concat_ws(" ", col("p_brand"), col("p_type"), col("p_name"))))
      .select("p_partkey", "slug")
      .orderBy("p_partkey")

  // ---------------------------------------------------------------- J: joins

  /** J1 — serializer FK expansion: fact → 3 broadcast dims
    * (donations/serializers.py:44-49). */
  private def j1(t: Tables): DataFrame =
    t.orders
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"), "left")
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"), "left")
      .select("o_orderkey", "c_name", "n_name", "r_name")
      .orderBy("o_orderkey")

  /** J2 — EXISTS semi-join (accounts/api.py:82-83). */
  private def j2(t: Tables): DataFrame =
    Relational.semiJoin(
      t.customer,
      t.orders.filter(col("o_totalprice") > 200000.0),
      col("c_custkey") === col("o_custkey"))
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** J4 — distinct-project-then-IN (pot sponsors, pots/api.py:250-255). */
  private def j4(t: Tables): DataFrame =
    Relational.semiJoin(
      t.customer,
      t.orders.filter(col("o_orderstatus") === "P").select("o_custkey").distinct(),
      col("c_custkey") === col("o_custkey"))
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")

  /** J5/A1 — distinct-count aggregates (base/api.py:60-79). */
  private def j5(t: Tables): DataFrame = {
    val o = t.orders.agg(
      count(lit(1)).as("orders_count"),
      countDistinct(col("o_custkey")).as("unique_customers"),
      dsum(col("o_totalprice")).as("total_usd"))
    val l = t.lineitem.agg(
      count(lit(1)).as("lineitem_count"),
      countDistinct(col("l_partkey")).as("unique_parts"))
    o.crossJoin(l)
  }

  /** J6/F3 — temporal as-of join with ±24h tolerance + price conversion
    * (tokens/models.py:64-74; donations/models.py:210-247). For each
    * purchase event: the nearest view event of the same user within 24h. */
  private def j6(t: Tables): DataFrame = {
    val purchases = t.events.filter(col("event_type") === "purchase")
    val views = t.events.filter(col("event_type") === "view")
    AsOfJoin.nearest(purchases, views,
        Seq("user_id"), Seq("user_id"), "ts", "ts",
        tolerance = 86400L, leftId = "event_id", rightTieBreak = "event_id")
      .select(
        col("l.event_id").as("purchase_id"),
        col("r.event_id").as("view_id"),
        col("__delta_us").as("delta_us"),
        (col("l.value") * col("r.value")).as("usd_value"))
      .orderBy("purchase_id")
  }

  /** J13 — backward ("at-or-before") as-of join with a 24 h lookback and
    * LEFT semantics (tokens/models.py:64-74 price lookup; the batch twin
    * of the streaming EventAnalytics.streamAsOfEnrich, whose at-or-before
    * pick EventAnalyticsSpec pins): for each purchase, the
    * latest prior view of the same user within 24 h, purchases with no
    * in-window view kept with null enrichment. */
  private def j13(t: Tables): DataFrame = {
    val purchases = t.events.filter(col("event_type") === "purchase")
    val views = t.events.filter(col("event_type") === "view")
    AsOfJoin.before(purchases, views,
        Seq("user_id"), Seq("user_id"), "ts", "ts",
        lookback = 86400L, leftId = "event_id", rightTieBreak = "event_id",
        joinType = "left")
      .select(
        col("l.event_id").as("purchase_id"),
        col("r.event_id").as("view_id"),
        col("__lag_us").as("lag_us"),
        (col("l.value") * col("r.value")).as("usd_value"))
      .orderBy("purchase_id")
  }

  /** J7 — latest-per-group (most recent price, tokens/models.py:56-57). */
  private def j7(t: Tables): DataFrame =
    Relational.latestPerGroup(t.events,
        Seq("user_id"), Seq(col("ts").desc, col("event_id").desc))
      .select(col("user_id"), col("event_id"), ntz(col("ts")).as("ts"), col("event_type"))
      .orderBy("user_id")

  /** J8 — anti-join discovery (new-accounts except, utils.py:892-918):
    * parts never shipped in large quantity. */
  private def j8(t: Tables): DataFrame =
    Relational.antiJoin(t.part,
        t.lineitem.filter(col("l_quantity") >= 48),
        col("p_partkey") === col("l_partkey"))
      .select("p_partkey", "p_name")
      .orderBy("p_partkey")

  // ---------------------------------------------------------------- A: aggregates

  /** A2 — per-account stats rollup incl. zero-activity accounts
    * (tasks.py:275-327, reduced from O(N) SQL loops to one shuffle). */
  private def a2(t: Tables): DataFrame = {
    val perCust = t.orders.groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_usd"),
        countDistinct(col("o_orderpriority")).as("n_priorities"))
    t.customer
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(
        col("c_custkey"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("total_usd"), lit(0.0)).as("total_usd"),
        coalesce(col("n_priorities"), lit(0L)).as("n_priorities"))
      .orderBy("c_custkey")
  }

  /** A3 — grouped conditional aggregation (per-pot matching-pool split,
    * tasks.py:188-272). */
  private def a3(t: Tables): DataFrame =
    t.lineitem.groupBy(col("l_returnflag"))
      .agg(
        dsum(when(col("l_linestatus") === "F", col("l_quantity"))).as("qty_f"),
        dsum(when(col("l_linestatus") === "O", col("l_quantity"))).as("qty_o"),
        count(when(col("l_linestatus") === "F", 1)).as("n_f"),
        count(when(col("l_linestatus") === "O", 1)).as("n_o"))
      .orderBy("l_returnflag")

  /** A6 — hierarchical rollup totals (beyond-parity; free on Spark,
    * SURVEY §2.5 note). */
  private def a6(t: Tables): DataFrame =
    t.lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** A10 — CUBE aggregation: all 2^k grouping-set combinations in one
    * pass via Catalyst's Expand (k× row replication map-side, then ONE
    * hash aggregation — never k separate scans unioned). The dashboard
    * cross-tab companion to A6's ROLLUP. */
  private def a10(t: Tables): DataFrame =
    t.orders
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(dsum(col("o_totalprice")).as("sum_price"), count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** A11 — PIVOT cross-tab: one row per user, one count column per
    * event type. Pivot values are PINNED (the API contract's enum) so
    * the plan is a single hash aggregation with conditional partials —
    * pivoting on unpinned values would need a distinct-scan first AND
    * make the output schema data-dependent, both wrong at 100 TB. */
  private def a11(t: Tables): DataFrame =
    t.events
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      // fill scoped to the pivoted count columns only: an unscoped fill
      // would also rewrite a NULL user_id grouping key to 0, merging it
      // with (or fabricating) a real user 0 and diverging from the
      // oracle's NULL-group handling.
      .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
      .orderBy("user_id")

  /** A8 — exact interpolated median per group. */
  private def a8(t: Tables): DataFrame =
    t.lineitem.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_extendedprice, 0.5)").as("median_price"))
      .orderBy("l_returnflag")

  /** A5/S7 — last-writer-wins upsert dedup on a natural key
    * (update_or_create semantics, utils.py:978-982). */
  private def a5(t: Tables): DataFrame =
    Relational.lwwDedup(t.events,
        Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
      .select("user_id", "event_type", "event_id", "value")
      .orderBy("user_id", "event_type")

  // ---------------------------------------------------------------- O/W: order, pages, windows

  /** O2 — top-k sort (donor leaderboard, accounts/api.py:84-88). */
  private def o2(t: Tables): DataFrame =
    Relational.topK(t.customer,
        Seq(col("c_acctbal").desc, col("c_custkey").asc), 25)
      .select("c_custkey", "c_name", "c_acctbal")

  /** O3/A4 — deterministic page slice, page 3 of size 30
    * (api/pagination.py:8-24). */
  private def o3(t: Tables): DataFrame =
    Relational.pageSlice(t.orders, Seq(col("o_orderkey").asc), page = 3, pageSize = 30)
      .select("o_orderkey", "o_custkey", "o_orderstatus")

  /** O6 — keyset (cursor) pagination, the 100 TB pagination path: page
    * 2 is fetched by the lexicographic continuation predicate from page
    * 1's last row, NOT by offset — offset N forces the engine to
    * produce and discard N rows on every page, keyset stays
    * TakeOrderedAndProject regardless of depth. The cursor read is one
    * page-sized driver collect (the documented bounded-metadata
    * pattern). Oracle contract: on a static table, keyset page 2
    * equals offset page 2 — which is exactly what the DuckDB oracle
    * computes. */
  private def o6(t: Tables): DataFrame = {
    val order = Seq((col("o_orderdate"), false), (col("o_orderkey"), true))
    val page1 = Relational.keysetSlice(t.orders, order, None, 25)
      .select("o_orderdate", "o_orderkey").collect()
    val last = page1.last
    Relational.keysetSlice(t.orders, order,
        Some(Seq(last.get(0), last.get(1))), 25)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").asc)
  }

  /** O5/F10 — seeded pseudo-random pick per group
    * (random_registration, lists/api.py:216-223). */
  private def o5(t: Tables): DataFrame =
    Relational.pseudoRandomPickPerGroup(t.customer,
        Seq("c_mktsegment"), col("c_custkey").cast("string"))
      .select("c_mktsegment", "c_custkey")
      .orderBy("c_mktsegment")

  /** W — event-time tumbling-window aggregation (streaming gold shape;
    * batch-equivalent of the windowed stream agg). */
  private def w1(t: Tables): DataFrame =
    t.events
      .groupBy(ntz(date_trunc("hour", col("ts"))).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("hour", "event_type")

  /** W2 — running aggregate window (event-time cumulative sum per user;
    * decimal-exact accumulation). */
  private def w2(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.events
      .withColumn("running_value",
        sum(col("value").cast(dec182)).over(w).cast("double"))
      .select("user_id", "event_id", "running_value")
      .orderBy("user_id", "event_id")
  }

  /** A7 — sketch aggregate: approx_count_distinct (HLL++). Engine-specific
    * sketch values → no SQL oracle (rows-only check); demonstrated for the
    * 100 TB cardinality path where exact distinct is too expensive. */
  private def a7(t: Tables): DataFrame =
    t.lineitem.agg(
      approx_count_distinct(col("l_partkey")).as("approx_parts"),
      approx_count_distinct(col("l_orderkey")).as("approx_orders"))

  /** SAMP5 — deterministic k-per-group sample: 3 documents per language
    * by content-hash rank, via the bounded top-k aggregate (k rows of
    * state per group — never a window over raw rows). The 48-bit draw is
    * double-exact and hex-orderable, so DuckDB replays the exact same
    * selection. */
  private def samp5(t: Tables): DataFrame =
    SampleFunctions.samplePerGroup(
        t.documents.select("lang", "doc_id"), Seq("lang"), col("doc_id"),
        k = 3, seed = "s5")
      .orderBy("lang", "sample_id")

  /** SAMP6 — training-export shard manifest: every document gets a
    * deterministic 16-way shard (md5 draw — reconstructible from the id
    * alone, no counter, no global shuffle) and each shard gets its
    * bookkeeping row: doc count, token sum, id range, and an
    * ORDER-INDEPENDENT 60-bit xor of the content fingerprints — the
    * checksum a consumer re-derives to detect a dropped/duplicated/
    * corrupted document without sorting anything (xor state is one
    * bigint per shard at any corpus size, where a sorted-concat digest
    * would hold the shard in memory). Assignment and manifest both
    * replay in DuckDB (hex→int is one CAST, bit_xor is an aggregate). */
  private def samp6(t: Tables): DataFrame = {
    val assigned = t.documents.select(col("doc_id"),
      SampleFunctions.shardAssign(col("doc_id"), 16, "shard16").as("shard"),
      TextFunctions.tokenCount(col("text")).cast("long").as("tok"),
      TextFunctions.fingerprint(col("text")).as("fp"))
    val manifest = assigned.groupBy("shard").agg(
      count(lit(1)).as("n_docs"),
      sum(col("tok")).as("sum_tokens"),
      expr("bit_xor(cast(conv(substring(fp, 1, 15), 16, 10) as bigint))")
        .as("content_xor"),
      min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    val nl = lit(null).cast("long")
    assigned
      .select(lit("doc").as("section"), col("doc_id"), col("shard"),
        nl.as("n_docs"), nl.as("sum_tokens"), nl.as("content_xor"),
        nl.as("min_doc"), nl.as("max_doc"))
      .unionByName(manifest.select(lit("shard").as("section"),
        nl.as("doc_id"), col("shard"), col("n_docs"), col("sum_tokens"),
        col("content_xor"), col("min_doc"), col("max_doc")))
      .orderBy("section", "doc_id", "shard")
  }

  /** SAMP7 — temperature-flattened language mixture (the UniMax /
    * multilingual-rebalance family): sample so language shares follow
    * p^α with α = 0.5 — head languages down-weighted, tail languages
    * kept — targeting 3/5 of the corpus. α = 0.5 makes the weight an
    * IEEE `sqrt` (exact on every engine, unlike a general `pow`), and
    * every cross-engine-fragile step is integer-pinned: weights
    * quantize to floor(sqrt(p)·10⁹) BEFORE the (order-sensitive) sum,
    * and the per-language keep fraction becomes a 32-bit threshold the
    * md5 draw compares against — the q_samp1 machinery. The language
    * dims are tiny 1-row/`|langs|`-row aggregates that BROADCAST back;
    * the corpus itself is touched by one count pass and one filter
    * pass, never shuffled. */
  private def samp7(t: Tables): DataFrame = {
    val docs = t.documents.select("doc_id", "lang")
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val tot = docs.agg(count(lit(1)).as("big_n"))
    val dim = counts.crossJoin(broadcast(tot))
      .withColumn("w",
        floor(sqrt(col("n").cast("double") / col("big_n")) * lit(1e9))
          .cast("long"))
    val wsum = dim.agg(sum(col("w")).as("wsum"))
    val dim2 = dim.crossJoin(broadcast(wsum))
      .withColumn("target_n",
        (col("w").cast("double") / col("wsum")) *
          expr("cast(big_n * 3 div 5 as double)"))
      .withColumn("f", least(lit(1.0), col("target_n") / col("n")))
      .withColumn("thresh",
        floor(col("f") * lit(4294967296.0)).cast("long"))
    val kept = docs.join(broadcast(dim2.select("lang", "thresh")), Seq("lang"))
      // the shared 32-bit draw (q_samp1's convention), numeric because
      // the threshold is computed IN the plan, not driver-side hex
      .filter(conv(SampleFunctions.hashDraw(col("doc_id"), "t7"), 16, 10)
        .cast("long") < col("thresh"))
    val nl = lit(null).cast("long")
    kept.select(lit("doc").as("section"), col("doc_id"), col("lang"),
        nl.as("n"), nl.as("w"), nl.as("thresh"))
      .unionByName(dim2.select(lit("lang").as("section"), nl.as("doc_id"),
        col("lang"), col("n"), col("w"), col("thresh")))
      .orderBy("section", "doc_id", "lang")
  }

  /** W3 — batch sessionization (gaps-and-islands): a user's events break
    * into activity episodes at >24 h silences (the fixture's natural
    * cadence; the threshold is a parameter in production). Both windows
    * partition BY USER — state is bounded by one user's events, never
    * the table (the q_o3 lesson: an empty partition spec funnels the
    * world through one task). All arithmetic is integer microseconds —
    * exact on any engine. */
  private def w3(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    t.events
      .withColumn("__us", unix_micros(col("ts")))
      .withColumn("__prev", lag(col("__us"), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull ||
          col("__us") - col("__prev") > lit(86400L * 1000000L), 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("__new")).over(w))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min(col("__us")).as("start_us"), max(col("__us")).as("end_us"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
      .select("user_id", "session_idx", "n_events", "start_us", "end_us",
        "duration_us")
      .orderBy("user_id", "session_idx")
  }

  /** A9 — approximate percentiles (Greenwald-Khanna sketch,
    * `percentile_approx`): p50/p95 of event value per type at accuracy
    * 100 (rank error ≤ 1/100). Mergeable sketch partials — the
    * cluster-scale alternative to exact sorts. The oracle echoes each
    * approximate value iff it lies inside the exact quantile BRACKET
    * [q(p−0.02), q(p+0.02)] (the published rank-error guarantee with
    * margin), else substitutes the exact percentile and fails the hash
    * compare. */
  private def a9(t: Tables): DataFrame =
    t.events.groupBy("event_type").agg(
      percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(100)).as("p"))
      .select(col("event_type"), col("p")(0).as("p50"), col("p")(1).as("p95"))
      .orderBy("event_type")

  /** PROF1 — table profiler: per-column null/distinct/min/max in one
    * pass (single 1-row aggregate exploded into per-column rows).
    * Columns are restricted to portably-rendered types; the timestamp
    * ships as a UTC date. */
  private def prof1(t: Tables): DataFrame =
    graft.functions.Profiler.profile(
        t.lineitem.withColumn("l_shipdate_d", to_date(col("l_shipdate"))),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
          "l_linestatus", "l_shipdate_d"))
      .orderBy("column")

  /** PROF2 — join-key skew planner: the pre-flight diagnosis a 100 TB
    * pipeline runs BEFORE a big shuffle join — per-key row counts for
    * the hottest keys, each key's corpus share (integer ppm, portable),
    * and the salting factor `ceil(cnt / 64)` that would split the key's
    * rows into ≤64-row sub-buckets. Pure integer arithmetic end to end;
    * the top-20 selection ties-breaks on key so the cut is
    * deterministic, and the plan is a partial-agg shuffle plus a
    * TakeOrderedAndProject — no global sort, no window. */
  private def prof2(t: Tables): DataFrame = {
    val counts = t.events.groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val total = t.events.agg(count(lit(1)).as("n"))
    counts.crossJoin(broadcast(total))
      .select(col("user_id"), col("cnt"),
        expr("cnt * 1000000 div n").as("share_ppm"),
        greatest(lit(1L), expr("(cnt + 63) div 64")).as("salt"))
      .orderBy(col("cnt").desc, col("user_id"))
      .limit(20)
  }

  /** TXT12 — Unicode canonicalization: decomposed accent sequences
    * (e + U+0301, u + U+0308) appended to every document compose to the
    * precomposed forms under the native NFC expression — two combining
    * marks vanish from the length, and the bytes match DuckDB's
    * `nfc_normalize` exactly. */
  private def txt12(t: Tables): DataFrame = {
    // explicit escapes: the appended tail must carry the DECOMPOSED
    // combining-mark sequences, and must survive any editor normalization
    val decorated = concat(col("text"), lit(" cafe\u0301 u\u0308ber"))
    t.documents.select(col("doc_id"),
        TextFunctions.nfc(decorated).as("nfc_text"),
        length(decorated).cast("long").as("len_raw"),
        length(TextFunctions.nfc(decorated)).cast("long").as("len_nfc"))
      .orderBy("doc_id")
  }

  /** SET — union + except on keys (ignore_conflicts / discovery,
    * SURVEY §2.8). */
  private def set1(t: Tables): DataFrame =
    t.customer.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      .union(t.customer.filter(col("c_acctbal") > 9000.0).select("c_custkey"))
      .distinct()
      .except(t.orders.filter(col("o_orderstatus") === "P")
        .select(col("o_custkey").as("c_custkey")))
      .orderBy("c_custkey")

  // ---------------------------------------------------------------- T: text analysis

  /** TXT1 — token counting + quality signals. */
  private def txt1(t: Tables): DataFrame = {
    val sig = TextFunctions.qualitySignals(col("text"))
    sig.foldLeft(t.documents) { case (df, (name, c)) => df.withColumn(name, c) }
      .select((Seq(col("doc_id")) ++ sig.map(s => col(s._1))): _*)
      .orderBy("doc_id")
  }

  /** TXT2 — heuristic language ID (stopword profiles). */
  private def txt2(t: Tables): DataFrame =
    t.documents
      .withColumn("predicted_lang", TextFunctions.langId(col("text")))
      .withColumn("en_score", TextFunctions.langScore(col("text"), TextFunctions.stopwordProfiles.head._2))
      .select("doc_id", "predicted_lang", "en_score")
      .orderBy("doc_id")

  /** TXT4 — BPE-style pre-tokenizer counts (LLM token estimation). */
  private def txt4(t: Tables): DataFrame =
    t.documents
      .withColumn("bpeish_tokens", TextFunctions.bpeTokenCount(col("text")))
      .select("doc_id", "bpeish_tokens")
      .orderBy("doc_id")

  /** TXT5 — winnowing (rolling-hash) fingerprints. The k-gram hash
    * sequence is materialized alongside the selected fingerprints; the
    * DuckDB oracle replays the window-min selection, the distinct-sort
    * and the count from the hashes — only the hash VALUES are
    * engine-specific trusted input. Array columns ship as canonical
    * compact JSON strings (`[1,2,3]`) — the harness comparator sorts
    * rows in pandas, which cannot order raw array cells; integer-list
    * JSON renders identically in Spark and DuckDB. */
  private def txt5(t: Tables): DataFrame =
    t.documents
      .withColumn("kgram_hashes", TextFunctions.winnowingKgramHashes(col("text")))
      .withColumn("fps", TextFunctions.winnowingFromHashes(col("kgram_hashes")))
      .select(col("doc_id"),
        to_json(col("kgram_hashes")).as("kgram_hashes"),
        to_json(col("fps")).as("fps"),
        size(col("fps")).cast("long").as("n_fingerprints"))
      .orderBy("doc_id")

  /** TXT6 — PII redaction before a corpus ships to training. The corpus
    * text carries no planted PII, so each row gets a deterministic
    * doc_id-derived email/phone/IP suffix appended, then redacted — the
    * transformation (not the synthesis) is what the oracle checks. */
  private def txt6(t: Tables): DataFrame = {
    val withPii = t.documents.select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or +1 555 123 4"),
        lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
        lit(" at 10.0.0."), pmod(col("doc_id"), lit(255)).cast("string"))
        .as("text"))
    val counts = TextFunctions.piiCounts(col("text"))
    withPii.select(col("doc_id"),
      TextFunctions.redactPii(col("text")).as("redacted"),
      counts.getField("emails").cast("long").as("n_emails"),
      counts.getField("ips").cast("long").as("n_ips"),
      counts.getField("phones").cast("long").as("n_phones"))
      .orderBy("doc_id")
  }

  /** TXT3 — document fingerprinting (md5 of normalized content). */
  private def txt3(t: Tables): DataFrame =
    t.documents
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .select("doc_id", "fp")
      .orderBy("doc_id")

  /** TXT7 — benchmark-contamination scores: fraction of each document's
    * distinct word 3-grams that appear in the "benchmark" subset (every
    * 97th document stands in for an eval set). */
  private def txt7(t: Tables): DataFrame =
    DedupFunctions.contaminationScores(
        t.documents, "doc_id", "text",
        t.documents.filter(pmod(col("doc_id"), lit(97)) === 0), "text", n = 3)
      .orderBy("doc_id")

  /** TXT14 — HTML main-content extraction: the corpus is plain text, so
    * each document is first wrapped in a deterministic doc_id-derived
    * page skeleton (title, style/script payload, nav chrome, footer, a
    * conditional extra link, entity-encoded punctuation — q_txt6's
    * synthesis precedent), then the extraction chain recovers the main
    * text: boilerplate blocks dropped, tags stripped, entities decoded,
    * whitespace collapsed. Link count and main-to-page length ratio are
    * the link-density / text-density quality signals. Every regex is
    * RE2-safe and the DuckDB oracle replays synthesis AND extraction. */
  private def txt14(t: Tables): DataFrame = {
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>body{margin:0}</style><script>var v="),
      pmod(col("doc_id"), lit(97)).cast("string"),
      lit(";</script></head><body><nav><a href=\"/home\">Home</a> " +
        "<a href=\"/about\">About</a></nav><div id=\"main\"><p>"),
      col("text"),
      lit("</p><p>5 &lt; 6 &amp; 7 &gt; 4</p>"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("<a href=\"/more\">see more</a>")).otherwise(lit("")),
      lit("</div><footer>&copy; site "),
      pmod(col("doc_id"), lit(10)).cast("string"),
      lit("</footer></body></html>"))
    t.documents
      .withColumn("html", html)
      .withColumn("main_text", TextFunctions.htmlMainText(col("html")))
      .select(col("doc_id"),
        TextFunctions.htmlTitle(col("html")).as("title"),
        col("main_text"),
        TextFunctions.htmlLinkCount(col("html")).cast("long").as("n_links"),
        expr("length(main_text) * 100 div length(html)").as("content_pct"))
      .orderBy("doc_id")
  }

  /** SAMP1 — deterministic 80/20 train/test split: hash-of-id draw, stable
    * under re-runs/repartitioning and reproducible by any engine with md5
    * (the oracle recomputes the identical expression in DuckDB). */
  private def samp1(t: Tables): DataFrame =
    t.documents.select(col("doc_id"),
      SampleFunctions.splitLabel(col("doc_id"), 0.8, "s1").as("split"))
      .orderBy("doc_id")

  /** SAMP2 — stratified downsample: cap over-represented languages (en at
    * 50%, es at 75%, everything else at 25%) with the same deterministic
    * per-row draw. */
  private def samp2(t: Tables): DataFrame =
    SampleFunctions.stratifiedSample(
        t.documents.select("doc_id", "lang"), col("doc_id"), col("lang"),
        Map("en" -> 0.5, "es" -> 0.75), default = 0.25, seed = "s2")
      .orderBy("doc_id")

  /** SAMP3 — sequence packing: concat-then-chunk layout of the tokenized
    * corpus into 512-token training sequences across 8 shards. */
  private def samp3(t: Tables): DataFrame =
    SampleFunctions.packSequences(
        t.documents.select("doc_id", "text"), "doc_id",
        TextFunctions.tokenCount(col("text")), budgetTokens = 512L,
        numShards = 8)
      .orderBy("doc_id")

  /** TXT8 — repetition signals (dup-word / top-word / dup-bigram
    * fractions): the boilerplate and degenerate-text filters of published
    * corpus-quality pipelines. */
  private def txt8(t: Tables): DataFrame =
    TextFunctions.repetitionSignals(t.documents, "doc_id", "text")
      .orderBy("doc_id")

  /** TXT9 — C4-style line-level dedup: lines occurring in more than 2
    * distinct documents are boilerplate and are scrubbed from all of
    * them; documents are rebuilt from the surviving lines in order. The
    * fixture corpus has no newlines, so the query manufactures 3-word
    * lines first (same precedent as q_txt6's synthetic PII) — the same
    * regex runs in the oracle. */
  private def txt9(t: Tables): DataFrame =
    TextFunctions.dedupLines(
        t.documents.withColumn("text",
          regexp_replace(col("text"), "((\\S+ ){3})", "$1\n")),
        "doc_id", "text", maxDocFreq = 2)
      .orderBy("doc_id")

  /** TXT10 — corpus-LM surprisal quality score: average whole-bit
    * information content per token under the corpus's own unigram
    * distribution (the cheap perplexity-filter stand-in). Integer-exact
    * by construction, so the oracle reproduces it bit-for-bit. */
  private def txt10(t: Tables): DataFrame =
    TextFunctions.unigramSurprisal(t.documents, "doc_id", "text")
      .orderBy("doc_id")

  /** TXT16 — bigram-LM surprisal (the CCNet-style perplexity filter one
    * model order above q_txt10): average negative log-prob of each word
    * transition under the corpus's own Laplace-smoothed bigram model,
    * integer-pinned in 1/1024ths of a bit. */
  private def txt16(t: Tables): DataFrame =
    TextFunctions.bigramSurprisal(t.documents, "doc_id", "text")
      .orderBy("doc_id")

  /** SAMP4 — downsample to a target domain mixture (50% en / 30% es /
    * 20% de; other languages dropped): the data-mixing step of corpus
    * assembly. Keep fractions derive from the actual per-domain supply;
    * the draw is the deterministic content-hash draw. */
  private def samp4(t: Tables): DataFrame =
    SampleFunctions.targetMixture(
        t.documents.select("doc_id", "lang"), col("doc_id"), col("lang"),
        Map("en" -> 0.5, "es" -> 0.3, "de" -> 0.2), seed = "s4")
      .orderBy("doc_id")

  /** DD8 — SimHash banded near-dup pairs: 64-bit signatures, 4×16-bit
    * bands, exact popcount verify at Hamming ≤ 3 (pigeonhole-complete
    * within the radius). The output carries the signatures (section
    * 'sig') and the pairs (section 'pair'); the DuckDB oracle brute-force
    * recomputes ALL Hamming ≤ 3 pairs from the signatures — the strongest
    * possible check of the banding's completeness guarantee, feasible
    * exactly because the oracle runs at fixture scale. */
  private def dd8(t: Tables): DataFrame = {
    val sigs = DedupFunctions.simHashSignatures(t.documents, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = DedupFunctions.simHashNearDupPairsFromSignatures(
      sigs, maxHamming = 3, bands = 4)
    val nl = lit(null).cast("long")
    sigs.select(lit("sig").as("section"), col("id").as("doc_id"),
        col("sig").as("simhash"), nl.as("id_a"), nl.as("id_b"),
        nl.as("hamming"))
      .unionByName(pairs.select(lit("pair").as("section"), nl.as("doc_id"),
        nl.as("simhash"), col("id_a"), col("id_b"), col("hamming")))
      .orderBy("section", "doc_id", "id_a", "id_b")
  }

  /** DD9 — incremental near-dup: every ~10th document plays the "new
    * batch" and is LSH-checked against the rest (the standing corpus);
    * matches at Jaccard ≥ 0.5 are reported. Signatures ride along in
    * section 'sig' (the batch/corpus split is doc_id-derived, so the
    * oracle re-derives the roles), and DuckDB replays band-slice
    * candidates + exact Jaccard from the documents table. */
  private def dd9(t: Tables): DataFrame = {
    val sigs = DedupFunctions.minHashSignatures(
      t.documents, "doc_id", "text", shingleN = 3, k = 16).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = DedupFunctions.minHashNearDupAgainstFromSignatures(
      sigs.filter(pmod(col("id"), lit(10)) === 7),
      sigs.filter(pmod(col("id"), lit(10)) =!= 7),
      k = 16, bands = 4, threshold = 0.5)
    val nl = lit(null).cast("long")
    sigs.select(lit("sig").as("section"), col("id").as("doc_id"),
        to_json(col("sig")).as("sig"),
        nl.as("id_new"), nl.as("id_corpus"),
        lit(null).cast("double").as("jaccard_sim"))
      .unionByName(pairs.select(lit("pair").as("section"), nl.as("doc_id"),
        lit(null).cast("string").as("sig"),
        col("id_new"), col("id_corpus"), col("jaccard_sim")))
      .orderBy("section", "doc_id", "id_new", "id_corpus")
  }

  /** DD11 — bloom-gated incremental EXACT dedup: the batch (every 5th
    * doc, plus re-submitted copies of every 7th doc under fresh ids)
    * is deduplicated against the standing corpus (the other 4/5)
    * WITHOUT a corpus-sized join: one bloom build over the corpus
    * fingerprint store gates the batch map-side, and only
    * bloom-positive rows reach the 128-bit verify anti-join. The
    * result is exactly batch ∖ corpus by content fingerprint — bloom
    * internals never leak into the answer, so the oracle is a plain
    * anti-join on the md5 fingerprint. */
  private def dd11(t: Tables): DataFrame = {
    val corpus = t.documents.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val batch = t.documents.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(t.documents.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val store = DedupFunctions.fingerprintStore(corpus, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom = DedupFunctions.fingerprintBloom(store,
      expectedItems = math.max(store.count(), 1L), fpp = 0.01)
    DedupFunctions.bloomGatedNewDocs(batch, "doc_id", "text", store, bloom)
      .select(col("id").as("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  /** DD12 — repeated-SPAN (substring-granular) dedup: cross-document
    * shared spans found via winnowing-selected k-gram positions with
    * exact character verification (the distributed re-expression of
    * suffix-array ExactSubstr dedup — see
    * [[graft.functions.DedupFunctions.sharedSpanPairs]]). Per-doc k-gram
    * hash sequences ride along in section 'sig' as the one
    * engine-specific trusted input; the DuckDB oracle replays the
    * window-min position selection, both deterministic skew caps, the
    * substring verify against the raw documents table, and the per-pair
    * counts — a missed span, a phantom span, or a wrong count all
    * hash-mismatch. */
  private def dd12(t: Tables): DataFrame = {
    // k=20, w=16: the coverage guarantee fires on any shared span of
    // ≥ w + k − 1 = 35 characters — long enough to be duplication
    // evidence, not a common phrase (5-char grams pair half the corpus).
    // The sig echo and the pair derivation each recompute the hash pass:
    // measured FASTER than persisting the fingerprint table (the kh
    // column is one bigint PER CHARACTER — caching it costs ~2× the
    // codegen'd xxhash64 recompute at sf0.1: 6.0 s cached vs 3.0 s).
    val fps = DedupFunctions.spanFingerprints(t.documents, "doc_id", "text", k = 20)
    val pairs = track(DedupFunctions.sharedSpanPairsFromFingerprints(
      fps, k = 20, w = 16, maxDocsPerHash = 50, maxPosPerDocHash = 10))
    val nl = lit(null).cast("long")
    fps
      .select(lit("sig").as("section"), col("id").as("doc_id"),
        to_json(col("kh")).as("kgram_hashes"),
        nl.as("id_a"), nl.as("id_b"), nl.as("n_shared"))
      .unionByName(pairs.select(lit("pair").as("section"), nl.as("doc_id"),
        lit(null).cast("string").as("kgram_hashes"),
        col("id_a"), col("id_b"), col("n_shared")))
      .orderBy("section", "doc_id", "id_a", "id_b")
  }

  /** DD13 — content-defined chunking dedup (the LBFS/rsync/FastCDC
    * family): rolling-hash chunk boundaries make chunk identity
    * shift-RESISTANT — an insertion perturbs only the chunk it lands
    * in, so near-identical documents share every other chunk and
    * shared bytes surface from a plain groupBy on the chunk
    * fingerprint, never a pairwise comparison. Only the boundary
    * positions are trusted input (section 'bounds', the rolling hash is
    * engine-specific); chunk extraction, md5 fingerprints, and the
    * cross-doc sharing stats all re-derive in DuckDB from the raw
    * documents table. */
  private def dd13(t: Tables): DataFrame = {
    val chunks = DedupFunctions.cdcChunks(t.documents, "doc_id", "text")
    val share = chunks.groupBy("chunk_md5")
      .agg(countDistinct("id").as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
    val nl = lit(null).cast("long")
    val ns = lit(null).cast("string")
    t.documents
      .select(lit("bounds").as("section"), col("doc_id"),
        to_json(TextFunctions.cdcBoundaries(col("text"))).as("bounds"),
        nl.as("chunk_idx"), nl.as("start"), nl.as("chunk_len"),
        ns.as("chunk_md5"), nl.as("n_docs"), nl.as("n_occ"))
      .unionByName(chunks.select(lit("chunk").as("section"),
        col("id").as("doc_id"), ns.as("bounds"),
        col("chunk_idx"), col("start"), col("chunk_len"), col("chunk_md5"),
        nl.as("n_docs"), nl.as("n_occ")))
      .unionByName(share.select(lit("share").as("section"), nl.as("doc_id"),
        ns.as("bounds"), nl.as("chunk_idx"), nl.as("start"),
        nl.as("chunk_len"), col("chunk_md5"), col("n_docs"), col("n_occ")))
      .orderBy("section", "doc_id", "chunk_idx", "chunk_md5")
  }

  /** DD14 — ensemble dedup consensus: a pair must be confirmed by BOTH
    * independent near-dup families — MinHash+LSH with exact-Jaccard
    * verify (shingle evidence) AND banded SimHash within Hamming ≤ 3
    * (term-frequency evidence) — before it counts. Stacking orthogonal
    * detectors is the standard precision lever when a false merge is
    * costly (deleting a non-duplicate training document); the join of
    * the two verified pair sets is tiny, so the consensus step is free
    * at scale. Both signature families are echoed; the oracle replays
    * both detection paths and intersects them. */
  private def dd14(t: Tables): DataFrame = {
    val mh = DedupFunctions.minHashSignatures(
      t.documents, "doc_id", "text", shingleN = 3, k = 16)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mhPairs = DedupFunctions.minHashNearDupPairsFromSignatures(
      mh, k = 16, bands = 4, threshold = 0.5)
    val sh = DedupFunctions.simHashSignatures(t.documents, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shPairs = DedupFunctions.simHashNearDupPairsFromSignatures(
      sh, maxHamming = 3, bands = 4)
    val consensus = mhPairs.join(shPairs, Seq("id_a", "id_b"))
    val nl = lit(null).cast("long")
    val nd = lit(null).cast("double")
    mh.select(lit("mh").as("section"), col("id").as("doc_id"),
        to_json(col("sig")).as("mh_sig"), nl.as("simhash"),
        nl.as("id_a"), nl.as("id_b"), nd.as("jaccard_sim"), nl.as("hamming"))
      .unionByName(sh.select(lit("sh").as("section"), col("id").as("doc_id"),
        lit(null).cast("string").as("mh_sig"), col("sig").as("simhash"),
        nl.as("id_a"), nl.as("id_b"), nd.as("jaccard_sim"), nl.as("hamming")))
      .unionByName(consensus.select(lit("pair").as("section"), nl.as("doc_id"),
        lit(null).cast("string").as("mh_sig"), nl.as("simhash"),
        col("id_a"), col("id_b"), col("jaccard_sim"), col("hamming")))
      .orderBy("section", "doc_id", "id_a", "id_b")
  }

  /** J12 — multi-way star join (the TPC-H Q5 shape): lineitem ⋈ orders
    * and orders ⋈ customer are FACT-FACT edges (customer scales with
    * the data — canonical Q5 shuffles it), so the customer join is
    * merge-hinted to pin the production plan at toy scale (the j11
    * discipline); nation and region are the true small dimensions and
    * BROADCAST, with the region-name equality and the order-date
    * interval pushed into their scans. Revenue = Σ price·(1−discount),
    * exact at 4 decimals. At 100 TB: two fact shuffles, zero movement
    * for the dimension chain, partial aggregation map-side.
    * Plan-audited: BHJ for the dims, shuffled equi-join for customer,
    * pushed filters, no cartesian. */
  private def j12(t: Tables): DataFrame = {
    val dims = t.customer.select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"),
        col("n_regionkey"))), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.filter(col("r_name") === "ASIA")
        .select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"))
    // price(2dp) × (1−disc)(2dp) is EXACT at 4 decimals — kept unrounded
    // (a per-row 2dp rounding would sit on .xx50 ties, where engines'
    // tie-breaking differs); the sum of exact 4dp decimals is exact.
    val facts = t.lineitem
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast(dec182) *
          (lit(1).cast(dec182) - col("l_discount").cast(dec182)))
          .cast(DecimalType(30, 4)).as("rev"))
      .join(t.orders.filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
    facts.join(dims.hint("merge"), col("o_custkey") === col("c_custkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_items"),
        sum("rev").cast("double").as("revenue"))
      .orderBy("n_name")
  }

  /** W7 — hour-over-hour deltas via lag: per event type, the change and
    * basis-point change of each hour's total against the previous
    * OBSERVED hour (the diff panel every metrics dashboard draws).
    * Integer-pinned: whole-dollar totals, bp = (10000·Δ) div prev
    * (truncating division, verified identical in DuckDB, negative
    * deltas included). Same bounded-Window contract as ts1/ts2: raw
    * events collapse to the (type, hour) grid FIRST, lag runs over that
    * aggregate partitioned by type. */
  private def w7(t: Tables): DataFrame = {
    val hourly = t.events
      .select(col("event_type"), ntz(date_trunc("hour", col("ts"))).as("hour"),
        col("value").cast(dec182).as("v"))
      .groupBy("event_type", "hour")
      .agg(floor(sum("v")).cast("long").as("x"))
    val w = Window.partitionBy("event_type").orderBy("hour")
    hourly
      .withColumn("prev", lag(col("x"), 1).over(w))
      .withColumn("delta", col("x") - col("prev"))
      .withColumn("delta_bp",
        when(col("prev") > 0, expr("(10000 * (x - prev)) div prev"))
          .otherwise(lit(null).cast("long")))
      .orderBy("event_type", "hour")
  }

  /** J11 — co-located join over BUCKETED table layout: orders and
    * lineitem are written bucketed (16 buckets, sorted) on their join
    * keys, then joined with ZERO exchange on either side — the scan's
    * HashPartitioning satisfies the join's distribution requirement, so
    * at 100 TB the fact-fact join moves no bytes over the network
    * (plan-audited: SortMergeJoin present, NO exchange on either join
    * key; the storage story in operators/BucketedLayout). The write
    * cost is paid inside the query deliberately: the measured time IS
    * the layout-once price that every later join amortizes. Result is
    * layout-independent — the oracle is a plain join-aggregate. */
  private def j11(t: Tables): DataFrame = {
    val spark = t.orders.sparkSession
    // Fixed location PER SPARK APP (mode=overwrite replaces it per run
    // within the app): a fresh temp dir per DataFrame construction would
    // leak a full bucketed copy of both tables on every Verify/Bench/
    // PlanAudit invocation, while a path shared ACROSS processes would
    // let two concurrent harness runs overwrite each other's files
    // mid-scan — the applicationId namespaces both the directory and
    // the catalog names. A real deployment writes the layout once into
    // the lake.
    val appNs = spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9_]", "_")
    val base =
      s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_$appNs"
    BucketedLayout.writeBucketed(
      t.orders.select("o_orderkey", "o_orderpriority"),
      s"graft_b_orders_$appNs", s"$base/b_orders", "o_orderkey", 16)
    BucketedLayout.writeBucketed(
      t.lineitem.select("l_orderkey", "l_quantity", "l_extendedprice"),
      s"graft_b_lineitem_$appNs", s"$base/b_lineitem", "l_orderkey", 16)
    BucketedLayout.cooperativeJoin(spark, s"graft_b_orders_$appNs",
        s"graft_b_lineitem_$appNs", "o_orderkey", "l_orderkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(dec182)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(dec182)).cast("double")
          .as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** TXT17 — Zipf power-law fit per language: OLS slope of fixed-point
    * log2(term count) vs log2(rank) over each language's top-500 terms
    * (natural text sits near slope −1; template/boilerplate mass
    * flattens the head, duplication steepens it — a vocabulary-level
    * corpus-quality diagnostic to pair with txt1's per-doc scores).
    * Mechanics and the 100 TB shape in SearchFunctions.zipfFit; the
    * oracle replays the whole fit including the shared fixed-point
    * log2 and the two-step intercept. */
  private def txt17(t: Tables): DataFrame =
    SearchFunctions.zipfFit(t.documents, "text", "lang", topN = 500)
      .select(col("grp").as("lang"), col("n_terms"), col("sx"), col("sy"),
        col("sxx"), col("sxy"), col("slope_milli"), col("intercept_milli"))
      .orderBy("lang")

  /** TXT18 — distribution drift of an arriving batch vs the standing
    * corpus: per language, the KL divergence of the batch's unigram
    * distribution from the corpus's (add-one smoothed), fixed-point —
    * the domain-shift monitor a continuously-fed training pipeline runs
    * on every batch before admitting it (a spike = the crawl started
    * pulling a different distribution). All-integer: KL·Np in
    * 1/1024ths of a bit via the shared fixed-point log2 —
    * Σ_t cb·(ilog2(cb·(Nq+V)) − ilog2((cc+1)·Np)) — per-term terms are
    * integral so the sum is shuffle-order-proof; the milli-bit
    * normalization divides once at the end (truncating, both engines).
    * Only batch terms contribute (p=0 terms add zero), so the sum is
    * over the BATCH vocabulary — work scales with the batch. Scale
    * shape: two (lang, term) hash aggregations, one term-keyed
    * equi-join, per-lang scalars ride a broadcast join. */
  private def txt18(t: Tables): DataFrame = {
    val batch = t.documents.filter(pmod(col("doc_id"), lit(10)) === 3)
    val corpus = t.documents.filter(pmod(col("doc_id"), lit(10)) =!= 3)
    def termCounts(df: DataFrame) = df
      .select(col("lang"),
        explode(split(TextFunctions.normalize(col("text")), " ")).as("t"))
      .groupBy("lang", "t").agg(count(lit(1)).as("c"))
    val cb = termCounts(batch)
    val cc = termCounts(corpus)
    val np = cb.groupBy("lang").agg(sum("c").as("np"))
    val nqv = cc.groupBy("lang")
      .agg(sum("c").as("nq"), count(lit(1)).as("v"))
    // A language present in the batch but absent from the corpus has no
    // reference distribution to diverge from — excluded identically in
    // the oracle (smoothing needs nq, v ≥ 1).
    val scal = np.join(nqv, Seq("lang")).filter(col("nq") > 0)
    val joined = cb
      .join(cc.select(col("lang"), col("t"), col("c").as("ccnt")),
        Seq("lang", "t"), "left")
      .join(broadcast(scal), Seq("lang"))
      .select(col("lang"), col("np"), col("nq"), col("v"),
        (col("c") * (SearchFunctions.ilog2_1024(col("c") * (col("nq") + col("v")))
          - SearchFunctions.ilog2_1024(
            (coalesce(col("ccnt"), lit(0L)) + 1) * col("np")))).as("term_kl"))
    joined.groupBy("lang", "np", "nq", "v")
      .agg(sum("term_kl").as("kl_num_1024"))
      .select(col("lang"), col("np").as("n_batch_tokens"),
        col("nq").as("n_corpus_tokens"), col("v").as("corpus_vocab"),
        col("kl_num_1024"),
        expr("(1000 * kl_num_1024) div (1024 * np)").as("kl_milli_bits"))
      .orderBy("lang")
  }

  /** DD15 — EXACT all-pairs Jaccard ≥ 0.8 self-join via prefix
    * filtering (AllPairs/PPJoin), blocked by language: the deterministic
    * complement to dd3's MinHash LSH — zero probabilistic misses, every
    * qualifying pair returned, yet still sub-quadratic because
    * candidates only form on rare-token prefix collisions (rarest-first
    * global token order; stopwords sort to the suffix and never emit a
    * candidate). The oracle is the INDEPENDENT gold standard: a full
    * brute-force within-language pair scan in DuckDB — so this query
    * proves the prefix filter's completeness (no pair missed) AND
    * precision (no pair invented) on real data, not just by theorem.
    * Scale design in DedupFunctions.allPairsJaccard. */
  private def dd15(t: Tables): DataFrame =
    track(DedupFunctions.allPairsJaccard(t.documents, "doc_id", "text",
        blockCol = "lang", tauNum = 4, tauDen = 5))
      .orderBy("id_a", "id_b")

  /** DD16 — incremental EXACT all-pairs: the arriving batch (every
    * 10th doc) probed against the standing corpus at τ = 0.8 with the
    * prefix-filter machinery — the exact-dedup twin of dd9's minhash
    * incremental path and the ingestion-time form of dd15 (work scales
    * with the batch; the corpus is never self-joined). Shared
    * rarest-first order over both sides makes the completeness theorem
    * hold across the sets; the oracle is the independent brute-force
    * batch × corpus scan, so the incremental path's exactness is
    * measured, not assumed. */
  private def dd16(t: Tables): DataFrame = {
    val batch = t.documents.filter(pmod(col("doc_id"), lit(10)) === 3)
    val corpus = t.documents.filter(pmod(col("doc_id"), lit(10)) =!= 3)
    track(DedupFunctions.allPairsJaccardAgainst(batch, corpus, "doc_id",
        "text", blockCol = "lang", tauNum = 4, tauDen = 5))
      .orderBy("id_new", "id_corpus")
  }

  /** DD17 — MinHash CALIBRATION against exact ground truth: for every
    * pair the EXACT prefix-filter join proves is a τ ≥ 0.8 near-dup,
    * the 16-perm MinHash estimate (matching-minima / 16) is computed
    * from the signatures and the signed error recorded — the
    * measurement that tells you what an LSH threshold actually MEANS on
    * your corpus before you bet a dedup pass on it (ties the dd3
    * approximate family to the dd15 exact family). Integer-pinned:
    * est_ppm = matches·62500; err_ppm = est_ppm − jac_ppm. Signatures
    * are echoed; the oracle re-derives the exact pairs from raw text by
    * brute force and the estimates from the echoed signatures. */
  private def dd17(t: Tables): DataFrame = {
    // ONE tokenize pass feeds both signature families (r16, guide §2.4):
    // the exact prefix-filter pass needs the distinct word set and the
    // minhash pass needs 3-shingles, but both start from
    // split(normalize(text)) — un-shared, the corpus was normalized and
    // split twice (the regex chain is the dominant per-row text cost).
    // The persisted word arrays are released by the harness via track().
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val words = t.documents.select(col("doc_id"), col("lang"),
        split(TextFunctions.normalize(col("text")), " ").as("w"))
      .persist(lvl)
    track(graft.operators.Materialized(words, Seq(words))): Unit
    val exact = track(DedupFunctions.allPairsJaccardOfSets(
      words.select(col("doc_id").as("id"), col("lang").as("blk"),
        array_distinct(col("w")).as("ws")), tauNum = 4, tauDen = 5))
    val sigs = DedupFunctions.minHashSignaturesOfWords(
      words, "doc_id", "w", shingleN = 3, k = 16)
      .select(col("id"), col("sig"))
      .persist(lvl)
    val matches = expr(
      "aggregate(zip_with(sa, sb, (x, y) -> if(x = y, 1L, 0L)), 0L, (a, v) -> a + v)")
    // Signature sides BROADCAST (guide §3.1): the pair table is the big
    // side here and sigs is a ~16·8 B/doc array table; the static
    // planner can't see that through the persisted plan and picked a
    // shuffle join on each id key.
    val pairs = exact
      .join(broadcast(sigs.select(col("id").as("id_a"), col("sig").as("sa"))), "id_a")
      .join(broadcast(sigs.select(col("id").as("id_b"), col("sig").as("sb"))), "id_b")
      .withColumn("matches", matches)
      .withColumn("est_ppm", col("matches") * 62500L)
      .withColumn("err_ppm", col("est_ppm") - col("jac_ppm"))
    val nl = lit(null).cast("long")
    sigs.select(lit("sig").as("section"), col("id").as("doc_id"),
        to_json(col("sig")).as("sig"), nl.as("id_a"), nl.as("id_b"),
        nl.as("jac_ppm"), nl.as("matches"), nl.as("est_ppm"),
        nl.as("err_ppm"))
      .unionByName(pairs.select(lit("pair").as("section"), nl.as("doc_id"),
        lit(null).cast("string").as("sig"), col("id_a"), col("id_b"),
        col("jac_ppm"), col("matches"), col("est_ppm"), col("err_ppm")))
      .orderBy("section", "doc_id", "id_a", "id_b")
  }

  /** TXT11 — Luhn-validated card redaction: candidate digit runs are
    * checksum-VALIDATED before redaction (a bare regex over-redacts
    * order ids and phone numbers). Each document gets one valid and one
    * invalid synthetic card (separator varies by doc — q_txt6
    * precedent); only the valid one may be redacted. */
  private def txt11(t: Tables): DataFrame = {
    val sep = when(pmod(col("doc_id"), lit(2)) === 0, lit(" ")).otherwise(lit("-"))
    val t2 = concat(col("text"),
      lit(" card 4111"), sep, lit("1111"), sep, lit("1111"), sep, lit("1111"),
      lit(" ref 1234"), sep, lit("5678"), sep, lit("9012"), sep, lit("3456"))
    t.documents.select(col("doc_id"), t2.as("t2"))
      .select(col("doc_id"),
        TextFunctions.redactCards(col("t2")).as("redacted"),
        size(filter(
          array_distinct(regexp_extract_all(col("t2"),
            lit(TextFunctions.CardRe), lit(0))),
          c => TextFunctions.luhnValid(c))).cast("long").as("n_cards"))
      .orderBy("doc_id")
  }

  /** REP1 — corpus report card, per language: doc/token totals, exact
    * discrete token-count percentiles (counting construction — state
    * bounded by distinct values, not rows), exact-dup fraction. The
    * operational dashboard a corpus owner reads after every pipeline
    * run. */
  private def rep1(t: Tables): DataFrame = {
    // Two scans, each computing exactly one heavy expression: the
    // percentile branch carries doc/token totals out of its own counts
    // table (the `totals` rider), so only the distinct-fingerprint branch
    // re-reads the corpus — never a scan that tokenizes AND fingerprints
    // just to throw one of them away.
    val pcts = Relational.discretePercentiles(
      t.documents.withColumn("tok",
        TextFunctions.tokenCount(col("text")).cast("long")),
      Seq("lang"), "tok",
      Seq("median_tokens" -> 0.5, "p90_tokens" -> 0.9),
      totals = Some(("n_docs", "total_tokens")))
    t.documents
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .groupBy("lang")
      .agg(countDistinct("fp").as("n_unique"))
      .join(pcts, Seq("lang"))
      .withColumn("dup_frac",
        (col("n_docs") - col("n_unique")).cast("double") /
          col("n_docs").cast("double"))
      .select("lang", "n_docs", "total_tokens", "median_tokens",
        "p90_tokens", "n_unique", "dup_frac")
      .orderBy("lang")
  }

  /** CUR1 — the curation funnel, end to end: language gate → token-count
    * band → repetition filter → benchmark decontamination → exact dedup
    * (keep lowest id per fingerprint, decided WITHIN the filtered set) →
    * deterministic 80% train split. Every stage is an already-oracled
    * operator; this query proves they compose — the oracle replays the
    * whole funnel in DuckDB and must keep the exact same documents. */
  private def cur1(t: Tables): DataFrame = {
    val docs = t.documents
    // Cheap per-row gates FIRST, and the expensive stages (word/bigram
    // explode-aggregates, trigram contamination join) run only over the
    // eligible slice — both helpers are per-document pure, so filtering
    // their corpus input is result-identical and cuts their shuffle
    // volume to the surviving fraction. The benchmark set stays the FULL
    // corpus's %97 slice (decontamination is against the eval set, not
    // against eligible docs).
    val eligible = docs
      .filter(col("lang") === "en")
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
      .filter(col("n_tokens").between(20, 80))
    // withBigrams=false: only dup_word_frac is consumed, and the bigram
    // explode+aggregate+join would otherwise run just to be discarded
    // (no left-join elimination in Catalyst)
    val rep = TextFunctions.repetitionSignals(
        eligible, "doc_id", "text", withBigrams = false)
      .select(col("doc_id"), col("dup_word_frac"))
    val cont = DedupFunctions.contaminationScores(
      eligible, "doc_id", "text",
      docs.filter(pmod(col("doc_id"), lit(97)) === 0), "text", n = 3)
    val base = eligible
      .join(rep, Seq("doc_id"))
      .filter(col("dup_word_frac") <= 0.6)
      .join(cont, Seq("doc_id"))
      .filter(col("contamination") < 0.5)
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
    Relational.latestPerGroup(base, Seq("fp"), Seq(col("doc_id").asc))
      .filter(SampleFunctions.splitLabel(col("doc_id"), 0.8, "cur") === "train")
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** CUR2 — domain-level curation (judge the domain, not just the page):
    * per-source stats ride in section 'src'; section 'doc' holds the
    * documents that survive dropping EVERY source whose short-doc
    * fraction (tokens < 30) exceeds 0.22. Fully re-derivable — the
    * oracle recomputes stats, verdicts and survivors from the documents
    * table; nothing is echoed. */
  private def cur2(t: Tables): DataFrame = {
    val stats = DomainFunctions.sourceStats(t.documents, "source", "text",
      minTokens = 30)
    val kept = DomainFunctions.filterBySourceQuality(t.documents, "source",
      "text", minTokens = 30, maxShortFrac = 0.22)
    val nl = lit(null)
    stats.select(lit("src").as("section"), col("source"), col("n_docs"),
        col("n_short"), col("short_frac"), col("avg_tokens"),
        nl.cast("long").as("doc_id"))
      .unionByName(kept.select(lit("doc").as("section"), col("source"),
        nl.cast("long").as("n_docs"), nl.cast("long").as("n_short"),
        nl.cast("double").as("short_frac"), nl.cast("double").as("avg_tokens"),
        col("doc_id")))
      .orderBy("section", "source", "doc_id")
  }

  /** SRCH1 — inverted-index keyword search: every ~100th document's
    * first five (normalized) words form a query; the corpus answers all
    * queries in one pass with integer TF-IDF top-5 (fixed-point idf in
    * 1/1024ths of a bit — integer-exact, no transcendentals, so the
    * oracle re-derives every score exactly).
    * Query terms broadcast-semi-join the exploded corpus before any
    * shuffle; ranking is the bounded top-k aggregate, never a window
    * over raw rows. */
  private def srch1(t: Tables): DataFrame = {
    val queries = t.documents.filter(pmod(col("doc_id"), lit(100)) === 3)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(TextFunctions.normalize(col("text")), " "),
          1, 5), " ").as("qtext"))
    SearchFunctions.keywordTopK(t.documents, "doc_id", "text",
        queries, "query_id", "qtext", k = 5)
      .orderBy("query_id", "rank")
  }

  /** SRCH3 — BM25 top-k (same query workload as srch1): TF saturation +
    * length normalization over the integer-pinned fixed-point pipeline —
    * see [[graft.functions.SearchFunctions.bm25TopK]]. The scoring
    * differences against srch1's raw TF-IDF are the point: long
    * documents stop winning on volume, repeated terms saturate. */
  /** SRCH4 — per-hour trending terms via the Misra-Gries sketch run as a
    * windowed aggregate (the batch twin of the streaming
    * EventAnalytics.trendingTerms — StreamParitySpec asserts the
    * incremental per-micro-batch merges land on this exact summary).
    * Capacity 16 ≥ the 5 distinct event types, so the sketch is EXACT
    * here and the oracle can replay it as plain per-window counts ranked
    * (count desc, term asc) — the hash gate that licenses the sketch's
    * deterministic output contract. At vocab scale the same plan holds:
    * one map-side-combined shuffle on the window key, O(capacity) state
    * per window, never a per-term shuffle. */
  private def srch4(t: Tables): DataFrame =
    t.events
      .groupBy(window(col("ts"), "1 hour"))
      .agg(FrequentItems.misraGries(col("event_type"), 16).as("tt"))
      .select(col("window.start").as("ws"),
        posexplode(col("tt")).as(Seq("pos", "e")))
      .select(ntz(col("ws")).as("window_start"),
        col("e._1").as("term"), col("e._2").as("cnt"),
        (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("window_start", "rnk")

  private def srch3(t: Tables): DataFrame = {
    val queries = t.documents.filter(pmod(col("doc_id"), lit(100)) === 3)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(TextFunctions.normalize(col("text")), " "),
          1, 5), " ").as("qtext"))
    track(SearchFunctions.bm25TopK(t.documents, "doc_id", "text",
        queries, "query_id", "qtext", k = 5))
      .orderBy("query_id", "rank")
  }

  /** SRCH2 — exact corpus-wide top-25 terms: vocabulary head / boilerplate
    * discovery. Two-level count (map-side partial combine on term) +
    * bounded TakeOrderedAndProject cut, ties to the smaller term. The
    * Misra-Gries sketch (FrequentItems.misraGries) is the vocab-scale
    * path where even the term shuffle must go — its estimates are
    * merge-order-dependent inside the N/(m+1) guarantee band, so the
    * sketch is spec-verified and the exact form is what the hash gate
    * replays. */
  private def srch2(t: Tables): DataFrame =
    FrequentItems.topTermsExact(t.documents, "text", k = 25)
      .orderBy(col("n").desc, col("term"))

  /** CUR3 — crawl dedup by canonical URL, the pre-content dedup tier.
    * The corpus carries no URL column, so each row synthesizes one from
    * doc_id arithmetic (same precedent as q_txt6's planted PII) with the
    * full noise menu — upper-case scheme/host, default :443 port,
    * tracking params, shuffled parameter order, trailing slash, fragment
    * — and the oracle rebuilds the identical raw URLs and replays the
    * canonicalization rules with DuckDB string ops. Refetch collisions
    * are planted by construction (path and surviving params derive from
    * doc_id mod classes). */
  private def cur3(t: Tables): DataFrame = {
    val d = col("doc_id")
    val raw = concat(
      lit("HTTPS://WWW.Example"), pmod(d, lit(5)).cast("string"),
      lit(".COM:443/Articles/item"), pmod(d, lit(29)).cast("string"),
      when(pmod(d, lit(2)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(d, lit(2)) === 0,
        concat(lit("?b="), pmod(d, lit(3)).cast("string"),
          lit("&utm_source=feed"), pmod(d, lit(7)).cast("string"),
          lit("&a=1")))
        .otherwise(concat(lit("?a=1&fbclid=x"), pmod(d, lit(11)).cast("string"),
          lit("&b="), pmod(d, lit(3)).cast("string"))),
      lit("#sec"), pmod(d, lit(4)).cast("string"))
    DomainFunctions.dedupByCanonicalUrl(
        t.documents.select(d.as("doc_id"), raw.as("url")), "doc_id", "url")
      .orderBy("url_canonical")
  }

  /** CUR4 — corpus snapshot diff: the crawl-delta computation between
    * two corpus versions. The "new" snapshot is synthesized from the
    * fixture (every 15th doc dropped, every 20th revised, every 25th
    * re-added under a fresh id — q_txt6's synthesis precedent), then
    * the diff is ONE full-outer equi-join of (id, fingerprint) pairs:
    * added / removed / changed classify from fingerprint nullness and
    * inequality, and per-status counts summarize. At 100 TB only ids
    * and 128-bit fingerprints move through the join — document text
    * never shuffles — which is what makes per-crawl delta processing
    * (ingest only `added`+`changed` downstream) affordable. */
  private def cur4(t: Tables): DataFrame = {
    val d = col("doc_id")
    val old = t.documents.select(d,
      TextFunctions.fingerprint(col("text")).as("fp_old"))
    val neu = t.documents
      .filter(pmod(d, lit(15)) =!= 3)
      .select(d, when(pmod(d, lit(20)) === 5,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text"))
        .as("text"))
      .unionByName(t.documents.filter(pmod(d, lit(25)) === 0)
        .select((d + 2000000).as("doc_id"), col("text")))
      .select(d, TextFunctions.fingerprint(col("text")).as("fp_new"))
    val diff = old.join(neu, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") =!= col("fp_new"), lit("changed"))
          .otherwise(lit("unchanged")))
    val stats = diff.groupBy("status").agg(count(lit(1)).as("n"))
    diff.filter(col("status") =!= "unchanged")
      .select(lit("doc").as("section"), col("doc_id"), col("status"),
        lit(null).cast("long").as("n"))
      .unionByName(stats.select(lit("stat").as("section"),
        lit(null).cast("long").as("doc_id"), col("status"), col("n")))
      .orderBy("section", "doc_id", "status")
  }

  /** J10 — salted skew join, EXECUTED end to end: events (all rows of a
    * hot event_type land on one reducer in a naive shuffle) join their
    * per-type mean-value threshold through
    * [[graft.operators.Relational.saltedJoin]] — each left row gains a
    * salt in [0, 8) (an xxhash64 over the row's columns: deterministic
    * under retry/repartition, and the result is salt-independent by
    * construction because the dim side carries every salt value — see
    * the operator's scaladoc), the 5-row dim side explodes ×8, and the
    * shuffle runs on (type, salt) so one hot key spreads over 8
    * reducers. The SALT NEVER LEAKS: the oracle is the PLAIN equi-join
    * (salting is internal mechanics, not semantics), which is exactly
    * the operator's contract. The merge hint pins the shuffled-join
    * shape the salt exists for (at fixture scale AQE would broadcast
    * the dim and no salted exchange would be observable; at 100 TB the
    * dim side of a pathological key is itself too big to broadcast).
    * Threshold arithmetic is exact-decimal sum / bigint count — one
    * IEEE division on both engines. */
  private def j10(t: Tables): DataFrame = {
    val dim = t.events.groupBy(col("event_type").as("t_event_type"))
      .agg((sum(col("value").cast(dec182)).cast("double") /
        count(lit(1))).as("avg_value"))
    Relational.saltedJoin(
        t.events.select("event_id", "event_type", "value"),
        dim.hint("merge"), "event_type", "t_event_type", salts = 8)
      .select(col("event_id"), col("event_type"),
        (col("value") > col("avg_value")).as("above_avg"))
      .orderBy("event_id")
  }

  /** TXT13 — contamination EVIDENCE: the distinct (doc, benchmark-3-gram)
    * hits behind q_txt7's scores, the span-level audit a decontamination
    * pass reports (targeted scrubbing instead of whole-document drops).
    * Benchmark n-gram union broadcasts; the corpus never shuffles on the
    * n-gram key. */
  private def txt13(t: Tables): DataFrame =
    DedupFunctions.contaminationHits(
        t.documents, "doc_id", "text",
        t.documents.filter(pmod(col("doc_id"), lit(97)) === 0), "text", n = 3)
      .orderBy("doc_id", "ngram")

  /** J9 — point-in-interval join as a bin-bucketed EQUI-join (the range
    * join that must never plan as a nested loop): events matched to a
    * per-(event_type, day) maintenance window synthesized from the events
    * table itself — 2 hours starting at hour (len(event_type) mod 12) —
    * with hour-wide bins, so the join is hash-keyed on (type, bin) and
    * the exact half-open bounds verify candidates. Micros ride as
    * bigints end-to-end, so no timezone ever renders. */
  private def j9(t: Tables): DataFrame = {
    val hourUs = 3600000000L
    val ev = t.events.select(col("event_id"), col("ts"), col("event_type"))
    val wins = ev
      .select(col("event_type"), date_trunc("day", col("ts")).as("__day"))
      .distinct()
      .withColumn("w_start", timestamp_micros(unix_micros(col("__day")) +
        pmod(length(col("event_type")), lit(12)).cast("long") * hourUs))
      .withColumn("w_end",
        timestamp_micros(unix_micros(col("w_start")) + 2L * hourUs))
      .select("event_type", "w_start", "w_end")
    IntervalJoin.pointInInterval(ev, "ts", wins, "w_start", "w_end",
        Seq("event_type"), binMicros = hourUs)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        unix_micros(col("w_start")).as("window_start_us"))
      .orderBy("event_id")
  }

  /** W4 — funnel conversion (view → purchase within 1 hour, per user):
    * event-sequence analysis as a COMPOSITION of the interval bin join —
    * each view opens a [ts, ts+1h) window keyed by user, purchases are
    * the points, and the equi-(user, bin) join with exact bounds verify
    * replaces the nested-loop "purchases after views" self-join that is
    * quadratic per user at scale. Daily rollup keys on an integer day
    * index (micros / 86400e6), so no timezone renders. */
  private def w4(t: Tables): DataFrame = {
    val hourUs = 3600000000L
    val views = t.events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
      .withColumn("w_end", timestamp_micros(unix_micros(col("view_ts")) + hourUs))
    val purchases = t.events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    IntervalJoin.pointInInterval(purchases, "ts", views,
        "view_ts", "w_end", Seq("user_id"), binMicros = hourUs)
      .groupBy(expr("unix_micros(view_ts) div 86400000000").as("day_key"))
      .agg(countDistinct(col("user_id")).as("converted_users"),
        count(lit(1)).as("n_conversions"))
      .orderBy("day_key")
  }

  /** W5 — cohort retention: users grouped by first-seen day; for each
    * day offset, how many of the cohort were active again. No window
    * functions: first-seen is a per-user min aggregate, activity is a
    * distinct (user, day) projection, and the cohort join is a
    * user-keyed equi-join — every step shuffles on a high-cardinality
    * key and scales linearly in events. Day keys are integer
    * micros-div-day, so no timezone renders. */
  private def w5(t: Tables): DataFrame = {
    val dayKey = expr("unix_micros(ts) div 86400000000")
    val activity = t.events.select(col("user_id"), dayKey.as("day")).distinct()
    val firsts = activity.groupBy("user_id").agg(min("day").as("cohort_day"))
    activity.join(firsts, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_day", "offset_days")
  }

  /** W6 — sliding (hopping) windows: 1-hour windows advancing every
    * 15 minutes, so each event lands in exactly 4 overlapping windows.
    * Spark's `window()` expands the assignment map-side (a 4× row
    * multiplier BEFORE the shuffle, the standard trade for hopping
    * aggregation); the aggregate itself is one hash shuffle on
    * (window, type). Exact-decimal sums, cast to double at the end. */
  private def w6(t: Tables): DataFrame =
    t.events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy("window_start", "event_type")

  /** INC1 — incremental aggregate maintenance: the gold-table update
    * pattern at 100 TB, where re-aggregating the full history per batch
    * is unaffordable. The fact stream is split into a base (90%) and a
    * delta batch (10%); per-user partials (count/sum/min/max — all
    * mergeable monoids) are computed independently and MERGED
    * (sum-of-counts, sum-of-sums, min-of-mins, max-of-maxes). The
    * oracle recomputes the aggregate from scratch over the union —
    * merged incremental state must equal the full recompute exactly,
    * which the decimal-pinned sums make bit-identical. */
  private def inc1(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"), col("event_id"), col("ts"),
      col("value").cast(DecimalType(18, 2)).as("v"))
    def partial(df: DataFrame): DataFrame = df.groupBy("user_id").agg(
      count(lit(1)).as("n"), sum("v").as("tot"),
      min("ts").as("first_ts"), max("ts").as("last_ts"))
    val base = partial(ev.filter(pmod(col("event_id"), lit(10)) =!= 0))
    val delta = partial(ev.filter(pmod(col("event_id"), lit(10)) === 0))
    base.unionByName(delta)
      .groupBy("user_id")
      .agg(sum("n").as("n_events"),
        sum("tot").cast("double").as("total_value"),
        min("first_ts").as("first_ts"), max("last_ts").as("last_ts"))
      .orderBy("user_id")
  }

  /** INC2 — mergeable-sketch incremental maintenance: the sketch twin of
    * q_inc1 for DISTINCT counts, where exact incremental maintenance is
    * impossible (distinct users is not a monoid over per-batch counts) —
    * the Datasketches HLL sketch IS the gold-table state. Base (90%) and
    * delta (10%) batches build sketches independently; the stored state
    * merges via `hll_union_agg` and the estimate reads off the union —
    * per batch at 100 TB that is O(sketch bytes) of state touched, not a
    * re-scan of history. The oracle gates the merged estimate against
    * DuckDB's exact distinct count (echo-iff-within, the q_a7 contract —
    * well inside HLL's published error at lgK=12). */
  private def inc2(t: Tables): DataFrame = {
    val part = pmod(col("event_id"), lit(10))
    val sketches = t.events.select(col("event_id"), col("user_id"))
      .groupBy((part === 0).as("is_delta"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    sketches
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
  }

  /** INC3 — mergeable heavy-hitters sketch maintenance: per-batch
    * `approx_top_k_accumulate` states (Spark 4's frequent-items sketch)
    * combine associatively, so stored state absorbs a delta batch in
    * O(sketch bytes) — the top-k twin of q_inc2's HLL distinct state.
    * With maxItemsTracked (16384) far above the distinct-user count the
    * sketch tracks every key exactly (no evictions), so the estimate IS
    * the exact frequency table and the oracle is a plain GROUP BY; the
    * k-boundary tie is broken deterministically by user_id on both
    * engines. At true 100 TB cardinality the same plan degrades
    * gracefully to the sketch's ±N/maxItemsTracked count guarantee. */
  private def inc3(t: Tables): DataFrame = {
    val part = pmod(col("event_id"), lit(10))
    val st = t.events.select(col("event_id"), col("user_id"))
      .groupBy((part === 0).as("is_delta"))
      .agg(expr("approx_top_k_accumulate(user_id, 16384)").as("state"))
    st.agg(expr("approx_top_k_estimate(approx_top_k_combine(state), 16384)")
        .as("items"))
      .select(explode(col("items")).as("it"))
      .select(col("it.item").as("user_id"), col("it.count").as("n_events"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(20)
  }

  /** ER1 — fuzzy entity resolution (record linkage) as block → verify:
    * collapse rows to distinct names first (the exact-dup collapse that
    * keeps the pair space tractable), block on the last name token, and
    * verify candidates with levenshtein ≤ 2 — quadratic work confined to
    * a block, never a corpus cross-join. On this corpus last-token
    * blocking keeps 100% recall (all 24 true pairs share their last
    * token) at an 8× candidate reduction; at 100 TB the collapsed name
    * table shuffles once on the block key and no candidate pair ever
    * leaves its block. The reference resolves account aliases with exact
    * keys only (accounts/models.py:12) — this is the fuzzy extension a
    * curation pipeline needs for dirty entity columns. */
  private def er1(t: Tables): DataFrame = {
    val names = t.part.groupBy("p_name")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("blk", substring_index(col("p_name"), " ", -1))
    val a = names.select(col("blk"), col("p_name").as("n1"),
      col("cnt").as("cnt1"))
    val b = names.select(col("blk"), col("p_name").as("n2"),
      col("cnt").as("cnt2"))
    a.join(b, "blk")
      .filter(col("n1") < col("n2"))
      .withColumn("dist", levenshtein(col("n1"), col("n2")))
      .filter(col("dist") <= 2)
      .select("n1", "n2", "dist", "cnt1", "cnt2")
      .orderBy("n1", "n2")
  }

  /** TS1 — time-series resample + forward-fill gap-fill: hourly grid per
    * event_type over the table's full time range, empty hours carrying
    * the last non-empty hour's total forward (the gap-fill every
    * time-series store exposes; the reference's price table is exactly
    * this shape, tokens/models.py:131-152). Scale shape: raw events
    * collapse to the (type, hour) aggregate FIRST; the grid expansion
    * and the forward-fill window then run over that bounded grid
    * (types × hours), never over raw rows — at 100 TB the window's
    * partition is O(hours), not O(events), so the analytic Window here
    * is deliberate and bounded, unlike the per-event windows the w*
    * audits forbid. Decimal-pinned totals; leading gaps (a type with no
    * data yet) stay null. */
  private def ts1(t: Tables): DataFrame = {
    val ev = t.events.select(col("event_type"),
      ntz(date_trunc("hour", col("ts"))).as("hour"),
      col("value").cast(dec182).as("v"))
    val hourly = ev.groupBy("event_type", "hour")
      .agg(sum("v").cast(dec182).as("tot"), count(lit(1)).as("n"))
    val bounds = ev.agg(min("hour").as("h0"), max("hour").as("h1"))
    val grid = ev.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
    val w = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        last(col("tot"), ignoreNulls = true).over(w).cast("double")
          .as("total_value"),
        (coalesce(col("n"), lit(0L)) === 0).as("is_gap"))
      .orderBy("event_type", "hour")
  }

  /** The gr1/gr2/gr3 link graph — ONE definition (the oracles replay
    * the same three hash lines via Oracles.linkGenSql; keep in sync).
    * Deterministic 3-out-regular on the doc-id space mod `n`. */
  private def linkGraphDirected(nodes: DataFrame, n: Long): DataFrame =
    nodes.select(col("v").as("src"), explode(array(
      pmod(col("v") * 37 + 11, lit(n)),
      pmod(col("v") * 101 + 53, lit(n)),
      pmod(col("v") * 197 + 89, lit(n)))).as("dst"))

  /** Symmetrized simple-graph view of [[linkGraphDirected]]: no self
    * loops, canonical (a < b) distinct edges. */
  private def linkGraphUndirected(nodes: DataFrame, n: Long): DataFrame =
    linkGraphDirected(nodes, n)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** GR1 — fixed-point PageRank over a deterministic 3-out-regular link
    * graph on the document id space (authority centrality is a published
    * web-corpus quality signal; the iterative join-agg data flow is the
    * graph-analytics workload class). Five damped rounds at 1e12
    * fixed-point; every division is integer and happens before the sums,
    * so the result is bit-identical across engines and shuffle orders —
    * the DuckDB oracle replays all five rounds as chained CTEs. */
  private def gr1(t: Tables): DataFrame = {
    val nodes = t.documents.select(col("doc_id").as("v"))
    // 1-row scalar for the modulus of the edge generator (documented
    // driver-side count, not row data).
    val n = nodes.count()
    val edges = linkGraphDirected(nodes, n).distinct()
    track(graft.functions.GraphFunctions.pageRank(nodes, edges, iters = 5))
      .select(col("v").as("doc_id"), col("rank").as("rank_e12"))
      .orderBy("doc_id")
  }

  /** GR2 — per-node triangle counts over the same deterministic link
    * graph as gr1, symmetrized to an undirected simple graph (triangle
    * density ≈ clustering coefficient numerator — a published
    * link-farm/community signal for web-corpus curation). The heavy
    * lifting and the 100 TB story (degree-ordered orientation bounding
    * the wedge join's fan-out at O(√m) per node) live in
    * GraphFunctions.triangleCounts; the oracle replays the whole
    * enumeration — symmetrize, degree, orient, wedge, close — in SQL.
    * All-integer counts: bit-identical across engines. */
  private def gr2(t: Tables): DataFrame = {
    val nodes = t.documents.select(col("doc_id").as("v"))
    val n = nodes.count() // 1-row scalar modulus, as in gr1
    graft.functions.GraphFunctions.triangleCounts(nodes,
        linkGraphUndirected(nodes, n))
      .select(col("v").as("doc_id"), col("degree"), col("n_triangles"))
      .orderBy("doc_id")
  }

  /** GR3 — k-core peeling TO CONVERGENCE (k = 3, cap 16) over the
    * gr1/gr2 link graph: the dense-backbone extraction that complements
    * PageRank's authority ranking and gr2's triangle density (k-core
    * membership is a standard link-farm/community-core signal). The
    * operator exits at the first nothing-peeled round (the k-core's
    * defining fixpoint) and only the CAP is pinned: the oracle replays
    * exactly `cap` peel rounds as chained CTEs, which matches in every
    * case — converged within the cap, the extra oracle rounds are
    * no-ops; deeper than the cap, both engines stop at the same round.
    * Peeling CASCADES are the point: a node can survive round 1 and die
    * in round 3 because its neighbors were peeled — iteration is
    * semantically load-bearing, not an optimization. */
  private def gr3(t: Tables): DataFrame = {
    val nodes = t.documents.select(col("doc_id").as("v"))
    val n = nodes.count() // 1-row scalar modulus, as in gr1/gr2
    track(graft.functions.GraphFunctions.kCore(nodes,
        linkGraphUndirected(nodes, n), k = 3, rounds = 16))
      .select(col("v").as("doc_id"), col("in_core"), col("core_degree"))
      .orderBy("doc_id")
  }

  /** GR4 — exact radius-2 truncated harmonic centrality over the
    * gr1/gr2/gr3 link graph: h(v) = Σ 1/dist over the distance-≤2
    * neighborhood, the centrality the web-corpus-quality literature
    * uses (harmonic rather than closeness because it is defined on
    * disconnected graphs). Integer fixed-point in 1/840ths —
    * n1·840 + n2·420 — so the result is engine-exact; the per-radius
    * counts surface alongside. The exact form's cost IS the
    * distance-≤2 pair set (Σ deg² wedges), fine on the bounded-degree
    * generator graph and the ground-truth side of a HyperBall-style
    * sketch on hub graphs — the sim8/dd17 exact-vs-approx pairing. */
  private def gr4(t: Tables): DataFrame = {
    val nodes = t.documents.select(col("doc_id").as("v"))
    val n = nodes.count() // 1-row scalar modulus, as in gr1/gr2/gr3
    graft.functions.GraphFunctions.harmonicR2(nodes,
        linkGraphUndirected(nodes, n))
      .select(col("v").as("doc_id"), col("n1"), col("n2"),
        col("harmonic_x840"))
      .orderBy("doc_id")
  }

  /** GR5 — KMV-sketch neighborhood function CALIBRATED against gr4's
    * exact radius-2 truth (HyperBall's data flow with a k-minimum-values
    * sketch; the scale path for neighborhood/centrality estimation when
    * the exact pair set is unaffordable — sketch state is O(nodes·k)
    * per round no matter how large the balls grow). Per node: the
    * sketch estimates for |ball(v,1)| and |ball(v,2)| next to the exact
    * counts, so the estimator's error distribution is measured on real
    * ground truth — the dd17/sim8 exact-vs-approx pairing. All draws
    * are md5-derived 32-bit integers and every estimate is integer
    * arithmetic, so the oracle replays the sketches bit-exactly. */
  private def gr5(t: Tables): DataFrame = {
    val nodes = t.documents.select(col("doc_id").as("v"))
    val n = nodes.count() // 1-row scalar modulus, as in gr1..gr4
    val ue = linkGraphUndirected(nodes, n)
    val est = graft.functions.GraphFunctions.kmvNeighborhood(nodes, ue,
      k = 16, seed = "gr5")
    graft.functions.GraphFunctions.harmonicR2(nodes, ue)
      .join(est, "v")
      .select(col("v").as("doc_id"),
        col("ball1_est"), col("ball2_est"),
        (col("n1") + 1L).as("ball1_exact"),
        (col("n1") + col("n2") + 1L).as("ball2_exact"))
      .orderBy("doc_id")
  }

  /** TS2 — rolling z-score anomaly detection over the hourly series:
    * for each (event_type, hour), the hour's total is flagged when it
    * sits more than 3 sigma from the mean of the 24 PRECEDING hours
    * (the streaming-telemetry outlier monitor every observability
    * pipeline runs; the reference's 5-minute beat-job stats are the
    * same rolling-aggregate shape, base/celery.py:27-43). The z-test
    * is algebraically cleared of division and sqrt so it is ALL-INTEGER:
    * z² > 9  ⇔  (n·x − s1)² > 9·(n·s2 − s1²) with s1,s2 the window's
    * sum and sum-of-squares over whole-dollar totals — bit-identical
    * across engines, no float tolerance anywhere. Scale shape: raw
    * events collapse to the (type, hour) aggregate FIRST; the window
    * runs over that bounded grid (types × hours), never over raw rows —
    * same deliberate bounded-Window contract as ts1. Warm-up hours
    * (fewer than 12 prior observations) report NULL, not false. */
  private def ts2(t: Tables): DataFrame = {
    val hourly = t.events
      .select(col("event_type"), ntz(date_trunc("hour", col("ts"))).as("hour"),
        col("value").cast(dec182).as("v"))
      .groupBy("event_type", "hour")
      .agg(floor(sum("v")).cast("long").as("x"))
    val w = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(-24, -1)
    hourly
      .select(col("event_type"), col("hour"), col("x"),
        count(col("x")).over(w).as("n"),
        coalesce(sum(col("x")).over(w), lit(0L)).as("s1"),
        coalesce(sum(col("x") * col("x")).over(w), lit(0L)).as("s2"))
      .withColumn("is_anomaly",
        when(col("n") >= 12,
          (col("n") * col("x") - col("s1")) * (col("n") * col("x") - col("s1"))
            > lit(9L) * (col("n") * col("s2") - col("s1") * col("s1")))
          .otherwise(lit(null).cast("boolean")))
      .orderBy("event_type", "hour")
  }

  /** TS3 — fixed-point EWMA smoothing of the daily series (α = 1/8):
    * e₀ = x₀, e_t = (x_t + 7·e_{t−1}) div 8 over whole-dollar daily
    * totals — the telemetry smoother behind every "trend line" panel,
    * and a recurrence that has NO closed form once each step truncates,
    * so it is a genuine sequential-scan operator, not a disguised
    * window sum. All-integer and non-negative, so Spark `div` and
    * DuckDB `//` agree exactly; the oracle replays the recurrence as a
    * recursive CTE. Scale shape: raw events collapse to the
    * (type, day) aggregate FIRST (hash agg, partial map-side); the fold
    * then runs inside one ObjectHashAggregate row per type whose state
    * is the bounded day series — O(days) per key, never O(events), the
    * same bounded-state contract as ts1/ts2's grid windows. */
  private def ts3(t: Tables): DataFrame = {
    val daily = t.events
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value").cast(dec182).as("v"))
      .groupBy("event_type", "day")
      .agg(floor(sum("v")).cast("long").as("x"))
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("s"))
      .select(col("event_type"), explode(expr(
        """aggregate(s,
          |  cast(array() as array<struct<day:date,x:bigint,ewma8:bigint>>),
          |  (acc, e) -> array_append(acc, named_struct(
          |    'day', e.day, 'x', e.x,
          |    'ewma8', if(size(acc) = 0, e.x,
          |      (e.x + 7 * element_at(acc, -1).ewma8) div 8))))""".stripMargin))
        .as("r"))
      .select(col("event_type"), col("r.day").as("day"), col("r.x").as("x"),
        col("r.ewma8").as("ewma8"))
      .orderBy("event_type", "day")
  }

  /** A12 — group-wise OLS trend: per-user least-squares slope and
    * intercept of daily spend vs day index (the per-entity trend scan
    * behind churn/growth detection; the closed-form normal equations
    * make OLS a pure aggregation — the textbook "regression as a
    * groupBy" distributed formulation, no iteration). Day indexes are
    * rebased per user (x = day − first day), so every moment is a small
    * integer; slope/intercept are pinned to ppm via integer division
    * (Spark `div` and DuckDB `//` both truncate toward zero, verified,
    * so negative slopes agree bit-for-bit). Users with a single active
    * day have zero x-variance → NULL slope, not a division error.
    * Scale shape: two chained hash aggregations (events→daily,
    * daily→moments) plus one broadcast-size join for the rebase —
    * partial aggregation collapses everything map-side; no window. */
  private def a12(t: Tables): DataFrame = {
    val daily = t.events
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("value").cast(dec182).as("v"))
      .groupBy("user_id", "day")
      .agg(floor(sum("v")).cast("long").as("y"))
    val first = daily.groupBy("user_id").agg(min("day").as("d0"))
    val xy = daily.join(first, "user_id")
      .select(col("user_id"), datediff(col("day"), col("d0")).cast("long").as("x"),
        col("y"))
    val m = xy.groupBy("user_id").agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    m.select(col("user_id"), col("n").as("n_days"),
        col("sx"), col("sy"), col("sxx"), col("sxy"),
        when(den === 0, lit(null).cast("long")).otherwise(
          expr("(1000000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)"))
          .as("slope_ppm"))
      // Two-step intercept from the already-truncated slope (the zipfFit
      // discipline): the single-step closed form multiplies Σy·Σxx by
      // 10⁶ and overflows i64 at realistic per-user history scale.
      .withColumn("intercept_ppm",
        when(col("slope_ppm").isNull, lit(null).cast("long")).otherwise(
          expr("(1000000 * sy - slope_ppm * sx) div n_days")))
      .orderBy("user_id")
  }

  /** TXT15 — overlapping sliding-window chunking (64-token windows,
    * stride 48): the context-window packing precursor for RAG indexing
    * and long-document training. Pure map-side work — tokenize once,
    * explode the chunk index range, slice — no shuffle until the
    * output sort; at 100 TB this is scan-bound with a bounded ~1.33×
    * row multiplier. Chunk text is echoed as md5 + token count (the
    * identity of the chunk, without duplicating the corpus bytes). */
  private def txt15(t: Tables): DataFrame = {
    val W = 64; val S = 48
    t.documents
      .select(col("doc_id"),
        split(TextFunctions.normalize(col("text")), " ").as("ws"))
      .withColumn("nw", size(col("ws")).cast("long"))
      .withColumn("chunk_idx", explode(expr(
        s"sequence(0L, (greatest(nw - $W, 0L) + ${S - 1}) div $S)")))
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"slice(ws, cast(chunk_idx * $S + 1 as int), $W)").as("cw"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("cw")).cast("long").as("chunk_tokens"),
        md5(array_join(col("cw"), " ").cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  // ---------------------------------------------------------------- D: dedup

  /** DD1 — exact dedup via content-hash groups. */
  private def dd1(t: Tables): DataFrame =
    DedupFunctions.exactDuplicateGroups(t.documents, "doc_id", "text")
      .orderBy("fp")

  /** DD2 — n-gram/word Jaccard similarity over bucketed candidate pairs. */
  private def dd2Pairs(t: Tables): DataFrame = {
    // Word sets are projected on each side BEFORE the pair join: a right-side
    // text that meets m left candidates is tokenized once, not m times.
    val left = t.documents.filter(pmod(col("doc_id"), lit(50)) === 0)
      .select(col("doc_id").as("id_a"),
        DedupFunctions.wordSet(col("text")).as("ta"), col("lang").as("lang"))
    val right = t.documents
      .select(col("doc_id").as("id_b"),
        DedupFunctions.wordSet(col("text")).as("tb"), col("lang").as("lang"))
    left.join(right, Seq("lang"))
      .filter(col("id_b") > col("id_a"))
      .withColumn("jaccard_sim", DedupFunctions.jaccardOfSets(col("ta"), col("tb")))
      .filter(col("jaccard_sim") >= 0.5)
      .select("id_a", "id_b", "jaccard_sim")
  }

  private def dd2(t: Tables): DataFrame =
    dd2Pairs(t).orderBy("id_a", "id_b")

  /** DD6 — duplicate clusters: connected components over the MinHash+LSH
    * near-dup pair graph (min member id labels each component). The pair
    * source is the banded candidate machinery with exact-Jaccard verify —
    * NOT a blocking join on a low-cardinality column like lang, whose
    * dominant bucket becomes a near-cartesian self-join at corpus scale.
    * Signatures ride along in section 'sig'; the oracle replays
    * candidates, verify and the connected components (recursive CTE). */
  private def dd6(t: Tables): DataFrame = {
    val sigs = DedupFunctions.minHashSignatures(
      t.documents, "doc_id", "text", shingleN = 3, k = 16).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // CC only needs connectivity — the expanded member-pair set is
    // quadratic in exact-dup group size (see minHashConnectivityEdges);
    // components and min-id labels are provably identical.
    val pairs = DedupFunctions.minHashConnectivityEdges(
      sigs, k = 16, bands = 4, threshold = 0.5)
    val clusters = track(DedupFunctions.duplicateClusters(pairs, "id_a", "id_b"))
    val nl = lit(null).cast("long")
    sigs.select(lit("sig").as("section"), col("id").as("doc_id"),
        to_json(col("sig")).as("sig"),
        nl.as("member"), nl.as("cluster_id"))
      .unionByName(clusters.select(lit("cluster").as("section"),
        nl.as("doc_id"), lit(null).cast("string").as("sig"),
        col("member"), col("cluster_id")))
      .orderBy("section", "doc_id", "member")
  }

  /** DD7 — keep-one-per-cluster corpus dedup over the same LSH pair
    * evidence as DD6: one surviving representative per near-dup cluster
    * (longest text, tie-break lowest id), singletons untouched. */
  private def dd7(t: Tables): DataFrame = {
    val sigs = DedupFunctions.minHashSignatures(
      t.documents, "doc_id", "text", shingleN = 3, k = 16).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // keep-one only needs cluster membership — connectivity edges give
    // identical components at O(members) edge volume
    val pairs = DedupFunctions.minHashConnectivityEdges(
      sigs, k = 16, bands = 4, threshold = 0.5)
    val reps = track(DedupFunctions.dedupCorpus(
        t.documents.select("doc_id", "text"), "doc_id", length(col("text")),
        pairs, "id_a", "id_b"))
      .select(col("doc_id"), col("cluster_id"))
    sigs.select(lit("sig").as("section"), col("id").as("doc_id"),
        to_json(col("sig")).as("sig"),
        lit(null).cast("long").as("cluster_id"))
      .unionByName(reps.select(lit("rep").as("section"), col("doc_id"),
        lit(null).cast("string").as("sig"), col("cluster_id")))
      .orderBy("section", "doc_id")
  }

  /** DD3 — MinHash+LSH near-dup pairs, oracle-checked end to end: the
    * output carries BOTH the per-doc signatures (section 'sig' — the
    * engine-specific intermediate, verified by bit-parity specs) and the
    * derived pairs (section 'pair'). The DuckDB oracle reads the
    * signatures back and independently replays everything downstream —
    * band-slice candidate generation AND the exact-Jaccard verify from
    * the raw documents table — so a missed pair, a phantom pair, or a
    * wrong similarity all hash-mismatch. */
  private def dd3(t: Tables): DataFrame = {
    // persist: the signature table feeds both the output's sig section
    // and the pair derivation — compute shingle+minhash once.
    val sigs = DedupFunctions.minHashSignatures(
      t.documents, "doc_id", "text", shingleN = 3, k = 16).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = DedupFunctions.minHashNearDupPairsFromSignatures(
      sigs, k = 16, bands = 4, threshold = 0.2)
    val nl = lit(null).cast("long")
    sigs.select(lit("sig").as("section"), col("id").as("doc_id"),
        to_json(col("sig")).as("sig"),
        nl.as("id_a"), nl.as("id_b"), lit(null).cast("double").as("jaccard_sim"))
      .unionByName(pairs.select(lit("pair").as("section"), nl.as("doc_id"),
        lit(null).cast("string").as("sig"),
        col("id_a"), col("id_b"), col("jaccard_sim")))
      .orderBy("section", "doc_id", "id_a", "id_b")
  }

  /** DD4 — SimHash signatures + band split: the 16-bit band keys and the
    * anchor Hamming distance are DERIVED from the signature by the DuckDB
    * oracle (shift/mask/xor/popcount are engine-portable), so the banded
    * search's bit logic is cross-checked even though the signature itself
    * is engine-specific (bit-parity specs cover it). */
  private def dd4(t: Tables): DataFrame =
    t.documents
      .withColumn("simhash", DedupFunctions.simHash(col("text")))
      .select(Seq(col("doc_id"), col("simhash")) ++
        (0 until 4).map(b =>
          call_function("shiftrightunsigned", col("simhash"), lit(16 * b))
            .bitwiseAND(lit(0xFFFFL)).as(s"band$b")) :+
        DedupFunctions.hamming64(col("simhash"), lit(0x5DEECE66DL))
          .cast("long").as("anchor_dist"): _*)
      .orderBy("doc_id")

  /** DD5 — embedding-cosine near-dup pairs within label buckets. */
  private def dd5(t: Tables): DataFrame =
    track(Similarity.embeddingNearDupPairs(
        t.embeddings.filter(pmod(col("vec_id"), lit(5)) === 0),
        "vec_id", "embedding", "label", threshold = 0.25))
      .orderBy("id_a", "id_b")

  // ---------------------------------------------------------------- S: similarity search

  /** SIM1 — brute-force cosine top-k (exact ANN baseline). */
  private def sim1(t: Tables): DataFrame =
    Similarity.cosineTopK(
        t.embeddings.filter(col("vec_id") < 8), t.embeddings,
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")

  /** SIM7 — exact maximum-inner-product top-k (MIPS): retrieval scoring
    * for un-normalized embeddings, where magnitude is part of the score
    * and cosine would mis-rank. Same plan shape as sim1 (queries
    * broadcast, one corpus scan, bounded k-heaps); the approximate scale
    * path is the norm-augmentation reduction onto the cosine ANN
    * indexes ([[graft.functions.Similarity.mipsAugmentCorpus]],
    * property-tested for order equivalence). */
  private def sim7(t: Tables): DataFrame =
    Similarity.mipsTopK(
        t.embeddings.filter(col("vec_id") < 8), t.embeddings,
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")

  /** SIM8 — ANN index quality: recall@5 of the LSH-bucketed path
    * against the exact cosine top-5, per query — the evaluation a
    * pipeline runs BEFORE trusting an approximate index at 100 TB.
    * Pure composition: the exact side is sim1's broadcast scan, the
    * approximate side is sim2's bucket join, the comparison is a
    * left-semi join on (query, neighbor). Signatures ride in section
    * 'sig' (the one engine-specific input); the oracle replays BOTH
    * retrieval paths and the integer recall arithmetic. */
  private def sim8(t: Tables): DataFrame = {
    val exact = Similarity.cosineTopK(
        t.embeddings.filter(col("vec_id") < 8), t.embeddings,
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nl = lit(null).cast("long")
    // Recall at two index granularities: fewer hyperplanes = bigger
    // buckets = more candidates = higher recall, and the measured curve
    // is what picks the production operating point.
    val perPlanes = Seq(4, 6).map { planes =>
      val c = t.embeddings
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
        .withColumn("sig", Similarity.rhpSignature(col("cv"), planes))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val approx = Similarity.lshAnnTopKFromSignatures(
        c.filter(col("neighbor_id") < 8)
          .select(col("neighbor_id").as("query_id"), col("cv").as("qv"), col("sig")),
        c, k = 5).select("query_id", "neighbor_id")
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      val recall = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall_pct", expr("n_hit * 100 div n_exact"))
      c.select(lit("sig").as("section"), lit(planes.toLong).as("planes"),
          col("neighbor_id").as("vec_id"), col("sig"),
          nl.as("query_id"), nl.as("n_exact"), nl.as("n_hit"),
          nl.as("recall_pct"))
        .unionByName(recall.select(lit("recall").as("section"),
          lit(planes.toLong).as("planes"), nl.as("vec_id"), nl.as("sig"),
          col("query_id"), col("n_exact"), col("n_hit"), col("recall_pct")))
    }
    perPlanes.reduce(_ unionByName _)
      .orderBy("section", "planes", "vec_id", "query_id")
  }

  /** SIM9 — multi-probe LSH vs single-probe, same index: recall@5 per
    * query under both probing strategies on the SAME 6-plane
    * signatures. The fix for the recall sim8 exposes — probe the
    * `planes` one-bit-flip neighbor buckets — without coarsening the
    * index for every query. Probe-set derivation is integer signature
    * arithmetic, so the oracle replays both strategies end to end. */
  private def sim9(t: Tables): DataFrame = {
    val planes = 6
    val c = t.embeddings
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .withColumn("sig", Similarity.rhpSignature(col("cv"), planes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = c.filter(col("neighbor_id") < 8)
      .select(col("neighbor_id").as("query_id"), col("cv").as("qv"), col("sig"))
    val exact = Similarity.cosineTopK(
        t.embeddings.filter(col("vec_id") < 8), t.embeddings,
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def recallOf(approx: DataFrame, method: String): DataFrame = {
      val hits = exact.join(approx.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .select(lit(method).as("method"), col("query_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall_pct", expr("n_hit * 100 div n_exact"))
    }
    val single = recallOf(Similarity.lshAnnTopKFromSignatures(q, c, k = 5), "single")
    val multi = recallOf(
      Similarity.lshMultiProbeTopKFromSignatures(q, c, k = 5, planes), "multiprobe")
    val nl = lit(null).cast("long")
    c.select(lit("sig").as("section"), col("neighbor_id").as("vec_id"),
        col("sig"), lit(null).cast("string").as("method"),
        nl.as("query_id"), nl.as("n_exact"), nl.as("n_hit"), nl.as("recall_pct"))
      .unionByName(single.unionByName(multi)
        .select(lit("recall").as("section"), nl.as("vec_id"), nl.as("sig"),
          col("method"), col("query_id"), col("n_exact"), col("n_hit"),
          col("recall_pct")))
      .orderBy("section", "vec_id", "method", "query_id")
  }

  /** SIM2 — LSH-bucketed ANN (scale path). The corpus signatures ride
    * along in section 'sig' (queries are the vec_id<8 subset of the same
    * table, so their signatures are the same rows); the DuckDB oracle
    * replays the bucket equi-join, the cosine rerank (from the embeddings
    * base table) and the top-k cut. */
  private def sim2(t: Tables): DataFrame = {
    val c = t.embeddings
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .withColumn("sig", Similarity.rhpSignature(col("cv"), 6))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val res = Similarity.lshAnnTopKFromSignatures(
      c.filter(col("neighbor_id") < 8)
        .select(col("neighbor_id").as("query_id"), col("cv").as("qv"), col("sig")),
      c, k = 5)
    val nl = lit(null).cast("long")
    c.select(lit("sig").as("section"), col("neighbor_id").as("vec_id"),
        col("sig"), nl.as("query_id"), nl.as("neighbor_id"),
        nl.as("rank"), lit(null).cast("double").as("cos_sim"))
      .unionByName(res.select(lit("topk").as("section"), nl.as("vec_id"),
        nl.as("sig"), col("query_id"), col("neighbor_id"), col("rank"),
        col("cos_sim")))
      .orderBy("section", "vec_id", "query_id", "rank")
  }

  /** SIM3 — IVF ANN: seeded driver-side quantizer, distributed assignment
    * + probe. The trained centroids ride along in section 'centroid'
    * (float-rounded exactly as the assignment kernel sees them); the
    * DuckDB oracle re-derives cell assignment, probe selection, rerank
    * and top-k from the embeddings base table — only the centroid VALUES
    * are trusted input. */
  private def sim3(t: Tables): DataFrame = {
    val spark = t.embeddings.sparkSession
    import spark.implicits._
    val cents = Similarity.trainSphericalCentroids(
      t.embeddings, "vec_id", "embedding", nlist = 8, maxIter = 4)
    val res = Similarity.ivfTopKWithCentroids(
      t.embeddings.filter(col("vec_id") < 8), t.embeddings,
      "vec_id", "embedding", "vec_id", "embedding",
      cents, k = 5, nprobe = 3)
    // Centroids are echoed at the FLOAT precision the cosine kernel
    // actually computes with (centroidSims materializes float literals).
    val centRows = cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat.toDouble)) }.toSeq
      .toDF("cell", "centroid")
    val nl = lit(null).cast("long")
    centRows.select(lit("centroid").as("section"), col("cell"),
        to_json(col("centroid")).as("centroid"),
        nl.as("query_id"), nl.as("neighbor_id"), nl.as("rank"),
        lit(null).cast("double").as("cos_sim"))
      .unionByName(res.select(lit("topk").as("section"), nl.as("cell"),
        lit(null).cast("string").as("centroid"),
        col("query_id"), col("neighbor_id"), col("rank"), col("cos_sim")))
      .orderBy("section", "cell", "query_id", "rank")
  }

  /** SIM12 — FILTERED ANN: the metadata-predicate vector search every
    * production index serves ("nearest neighbors among label < 3") —
    * the standing IVF index (quantizer trained on the FULL corpus, as
    * an index is) probed with the predicate PRE-FILTERING the corpus
    * side, so the label filter reaches the parquet scan (plan-audited
    * pushdown) and cell candidate lists shrink before any distance
    * math. Pre-filtering keeps recall semantics exact over the
    * qualifying subset — post-filtering a top-k would silently return
    * fewer than k; cell assignment is per-vector, so filtering before
    * or after assignment is provably identical. Echo contract and
    * oracle replay are sim3's with the predicate applied to the
    * corpus CTE only. */
  private def sim12(t: Tables): DataFrame = {
    val spark = t.embeddings.sparkSession
    import spark.implicits._
    val cents = Similarity.trainSphericalCentroids(
      t.embeddings, "vec_id", "embedding", nlist = 8, maxIter = 4)
    val res = Similarity.ivfTopKWithCentroids(
      t.embeddings.filter(col("vec_id") < 8),
      t.embeddings.filter(col("label") < 3),
      "vec_id", "embedding", "vec_id", "embedding",
      cents, k = 5, nprobe = 3)
    val centRows = cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat.toDouble)) }.toSeq
      .toDF("cell", "centroid")
    val nl = lit(null).cast("long")
    centRows.select(lit("centroid").as("section"), col("cell"),
        to_json(col("centroid")).as("centroid"),
        nl.as("query_id"), nl.as("neighbor_id"), nl.as("rank"),
        lit(null).cast("double").as("cos_sim"))
      .unionByName(res.select(lit("topk").as("section"), nl.as("cell"),
        lit(null).cast("string").as("centroid"),
        col("query_id"), col("neighbor_id"), col("rank"), col("cos_sim")))
      .orderBy("section", "cell", "query_id", "rank")
  }

  /** SIM13 — classifier-gated ANN (cls1 × sim12, the curation-pipeline
    * composition): the NB quality model trains on the labeled slice,
    * scores the WHOLE corpus, and its positive decision becomes the
    * metadata predicate pre-filtering the standing IVF index's corpus
    * side before any distance math — "nearest neighbors among documents
    * the quality filter keeps". Pre-filtering preserves exact top-k
    * semantics over the qualifying subset (sim12's argument: cell
    * assignment is per-vector, so gating before or after assignment is
    * identical). At 100 TB the score is a COLUMN materialized at
    * ingest/refresh time and the gate is a pushed parquet predicate,
    * exactly sim12's plan; this bench query derives the gate inline and
    * broadcasts the qualifying-id set, so the corpus side still never
    * shuffles — cell-bound retrieval with broadcast queries. */
  private def sim13(t: Tables): DataFrame = {
    val spark = t.embeddings.sparkSession
    import spark.implicits._
    val train = t.documents.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val model = ClassifierFunctions.trainNbLogModel(train, "text",
        isPositive = col("lang") === "en", numBuckets = 1024, seed = "nbq")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gate = ClassifierFunctions.nbScore(t.documents, "doc_id", "text",
        model, numBuckets = 1024, seed = "nbq")
      .filter(col("predicted_positive"))
      .select(col("doc_id").as("vec_id"))
    val corpus = t.embeddings.join(broadcast(gate), Seq("vec_id"), "left_semi")
    val cents = Similarity.trainSphericalCentroids(
      t.embeddings, "vec_id", "embedding", nlist = 8, maxIter = 4)
    val res = Similarity.ivfTopKWithCentroids(
      t.embeddings.filter(col("vec_id") < 8), corpus,
      "vec_id", "embedding", "vec_id", "embedding",
      cents, k = 5, nprobe = 3)
    val centRows = cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat.toDouble)) }.toSeq
      .toDF("cell", "centroid")
    val nl = lit(null).cast("long")
    centRows.select(lit("centroid").as("section"), col("cell"),
        to_json(col("centroid")).as("centroid"),
        nl.as("query_id"), nl.as("neighbor_id"), nl.as("rank"),
        lit(null).cast("double").as("cos_sim"))
      .unionByName(res.select(lit("topk").as("section"), nl.as("cell"),
        lit(null).cast("string").as("centroid"),
        col("query_id"), col("neighbor_id"), col("rank"), col("cos_sim")))
      .orderBy("section", "cell", "query_id", "rank")
  }

  /** SIM11 — IVF index MAINTENANCE: the quantizer trains on the
    * standing corpus (90% of vectors), then a new batch (the other 10%)
    * is assigned to the EXISTING cells without a refit — the
    * incremental path an index lives on between rebuilds. Per (cell,
    * role) the output carries occupancy and the summed in-cell
    * similarity (floor(sim·10⁶) — integer state, so the sum is exact
    * and order-independent cross-engine; no division, so no
    * trunc-vs-floor divergence on a negative mean): batch occupancy
    * piling into few cells = imbalance, batch similarity sums trending
    * low = distribution drift — the two refit triggers. Only the
    * centroids are trusted input; assignment and both statistics replay
    * in DuckDB. */
  private def sim11(t: Tables): DataFrame = {
    val spark = t.embeddings.sparkSession
    import spark.implicits._
    val corpus = t.embeddings.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val batch = t.embeddings.filter(pmod(col("vec_id"), lit(10)) === 0)
    val cents = Similarity.trainSphericalCentroids(
      corpus, "vec_id", "embedding", nlist = 8, maxIter = 4)
    def cellStats(df: DataFrame, role: String) =
      df.select(Similarity.assignCellWithSim(col("embedding"), cents).as("a"))
        .select(col("a.cell").cast("long").as("cell"),
          floor(col("a.sim") * lit(1e6)).cast("long").as("sim_ppm"))
        .groupBy("cell").agg(count(lit(1)).as("n"),
          sum(col("sim_ppm")).as("sum_sim_ppm"))
        .select(lit(role).as("role"), col("cell"), col("n"),
          col("sum_sim_ppm"))
    val stats = cellStats(corpus, "corpus")
      .unionByName(cellStats(batch, "batch"))
    val centRows = cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat.toDouble)) }.toSeq
      .toDF("cell", "centroid")
    val nl = lit(null).cast("long")
    centRows.select(lit("centroid").as("section"), col("cell"),
        to_json(col("centroid")).as("centroid"),
        lit(null).cast("string").as("role"), nl.as("n"), nl.as("sum_sim_ppm"))
      .unionByName(stats.select(lit("cells").as("section"), col("cell"),
        lit(null).cast("string").as("centroid"), col("role"), col("n"),
        col("sum_sim_ppm")))
      .orderBy("section", "cell", "role")
  }

  /** CLU1 — corpus TOPIC CLUSTERING + per-cluster curation profile: the
    * clustering-driven-curation recipe (cluster the corpus by embedding,
    * profile each cluster, then weight/prune clusters when planning a
    * training mixture). One spherical-k-means quantizer buckets every
    * vector (the same argmax map pass as IVF — no shuffle), the profile
    * joins document metadata on the id and reduces to ONE hash aggregate
    * per statistic family keyed by the 8 cells: size, total chars, the
    * dominant language (max count, ties to the lexicographically first
    * lang), and the medoid-style exemplar (closest to centroid, ties to
    * the lowest doc id). Similarities are pinned to floor(sim·10⁶)
    * integers BEFORE comparison so argmax and the echoed value are
    * engine-exact; the tie-breaks ride along inside min/max over structs
    * (partial-aggregatable — no Window, no per-cell sort). Only the
    * centroids are trusted input; the oracle replays assignment, both
    * aggregate families and both tie-breaks from the raw tables. At
    * 100 TB: one corpus scan for assignment, one equi-join to metadata,
    * then 8-key hash aggs — partial aggregation collapses everything
    * map-side. */
  private def clu1(t: Tables): DataFrame = {
    val spark = t.embeddings.sparkSession
    import spark.implicits._
    val cents = Similarity.trainSphericalCentroids(
      t.embeddings, "vec_id", "embedding", nlist = 8, maxIter = 4)
    val assigned = t.embeddings
      .select(col("vec_id"),
        Similarity.assignCellWithSim(col("embedding"), cents).as("a"))
      .select(col("vec_id"), col("a.cell").cast("long").as("cell"),
        floor(col("a.sim") * lit(1e6)).cast("long").as("sim_ppm"))
    val joined = assigned.join(
      t.documents.select(col("doc_id"), col("lang"), col("n_chars")),
      assigned("vec_id") === col("doc_id"))
    val core = joined.groupBy("cell").agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("n_chars"),
        max(struct(col("sim_ppm").as("s"), (-col("doc_id")).as("nid")))
          .as("ex"))
      .select(col("cell"), col("n_docs"), col("n_chars"),
        (-col("ex.nid")).as("exemplar_id"),
        col("ex.s").as("exemplar_sim_ppm"))
    val topLang = joined.groupBy("cell", "lang")
      .agg(count(lit(1)).as("ln"))
      .groupBy("cell")
      .agg(min(struct((-col("ln")).as("nln"), col("lang").as("lang")))
        .as("tl"))
      .select(col("cell"), col("tl.lang").as("top_lang"),
        (-col("tl.nln")).as("top_lang_n"))
    val clusters = core.join(topLang, Seq("cell"))
    val centRows = cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat.toDouble)) }.toSeq
      .toDF("cell", "centroid")
    val nl = lit(null).cast("long")
    centRows.select(lit("centroid").as("section"), col("cell"),
        to_json(col("centroid")).as("centroid"),
        nl.as("n_docs"), nl.as("n_chars"),
        lit(null).cast("string").as("top_lang"), nl.as("top_lang_n"),
        nl.as("exemplar_id"), nl.as("exemplar_sim_ppm"))
      .unionByName(clusters.select(lit("cluster").as("section"),
        col("cell"), lit(null).cast("string").as("centroid"),
        col("n_docs"), col("n_chars"), col("top_lang"), col("top_lang_n"),
        col("exemplar_id"), col("exemplar_sim_ppm")))
      .orderBy("section", "cell")
  }

  /** SAMP8 — cluster-balanced coverage sampling: k representatives per
    * quantizer cell, closest-to-centroid first — the diversity-selection
    * step of corpus curation (cluster then sample per cluster, so no
    * topic monopolizes the budget; the selection dual of SemDeDup's
    * within-cell pruning). Assignment is the same literal-backed argmax
    * map pass as clu1/dd10; the per-cell cut is the bounded topKByScore
    * aggregate (k rows of state per cell, never a window over the
    * corpus). Ranks are integer-ppm-pinned: ties at equal similarity go
    * to the lower vec_id, identically in the oracle replay. */
  private def samp8(t: Tables): DataFrame = {
    val spark = t.embeddings.sparkSession
    import spark.implicits._
    val cents = Similarity.trainSphericalCentroids(
      t.embeddings, "vec_id", "embedding", nlist = 8, maxIter = 4)
    val assigned = t.embeddings
      .select(col("vec_id"),
        Similarity.assignCellWithSim(col("embedding"), cents).as("a"))
      .select(col("vec_id"), col("a.cell").cast("long").as("cell"),
        floor(col("a.sim") * lit(1e6)).cast("long").as("sim_ppm"))
    val kept = assigned.groupBy("cell")
      .agg(plans.expressions.topKByScore(
        col("sim_ppm").cast("double"), col("vec_id"), 32).as("top"))
      .select(col("cell"), posexplode(col("top")))
      .select(col("cell"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("vec_id"), col("col.score").cast("long").as("sim_ppm"))
    val centRows = cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat.toDouble)) }.toSeq
      .toDF("cell", "centroid")
    val nl = lit(null).cast("long")
    centRows.select(lit("centroid").as("section"), col("cell"),
        to_json(col("centroid")).as("centroid"),
        nl.as("rank"), nl.as("vec_id"), nl.as("sim_ppm"))
      .unionByName(kept.select(lit("kept").as("section"), col("cell"),
        lit(null).cast("string").as("centroid"),
        col("rank"), col("vec_id"), col("sim_ppm")))
      .orderBy("section", "cell", "rank", "vec_id")
  }

  /** SAMP9 — DSIR-style importance selection (Xie et al. 2023): score
    * every document by the hashed-unigram+bigram LM ratio between a
    * TARGET slice (here: the English docs — "select data that looks like
    * the target") and the raw corpus, then keep the top 100 by
    * fixed-point log-weight. The full chain — md5 feature hashing,
    * add-1-smoothed bucket counts, ilog2x1024 log-probabilities,
    * integral per-occurrence terms — replays bit-for-bit in the oracle;
    * selection is ORDER BY + LIMIT (TakeOrderedAndProject), the weight
    * table broadcasts, and the corpus never shuffles on a feature key
    * (plan-audited). */
  private def samp9(t: Tables): DataFrame =
    SampleFunctions.dsirLogWeights(t.documents, "doc_id", "text",
        isTarget = col("lang") === "en", numBuckets = 1024, seed = "dsir",
        passthrough = Seq("lang"))
      .orderBy(col("logw_1024").desc, col("doc_id").asc)
      .limit(100)
      .select("doc_id", "lang", "logw_1024", "n_features")

  /** CLS1 — learned quality filter, the classifier recipe of production
    * corpus curation (CCNet's fastText filter; GPT-3's "looks like a
    * trusted corpus" scorer): train a multinomial Naive Bayes model on a
    * LABELED 80% split (positive = English — the "target distribution"
    * proxy this testdata affords), score the HELD-OUT 20%, keep the top
    * 100 by log-odds. Unlike samp9's DSIR (same-corpus fit+score in one
    * pass), train and inference here are separate phases over disjoint
    * data and the model is a persistable ≤1025-row table — the shape
    * where one curated labeled set filters every incoming crawl batch.
    * All arithmetic is counting + ilog2x1024 fixed-point with integral
    * per-occurrence terms, so the oracle replays the ENTIRE chain —
    * hashing, smoothing, prior, decision threshold — bit-for-bit.
    * Plan: train is one bucket-bounded agg; the model broadcasts;
    * the held-out corpus never shuffles on a feature key; selection is
    * TakeOrderedAndProject. */
  private def cls1(t: Tables): DataFrame = {
    val train = t.documents.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val heldout = t.documents.filter(pmod(col("doc_id"), lit(5)) === 0)
    // The model feeds TWO broadcast builds in nbScore (weights + prior);
    // unpersisted, each would re-run the training aggregation — two
    // scans of the labeled slice at 100 TB. The ≤1025-row model persists
    // instead (production callers write it to parquet — the shape
    // ClassifierFunctionsSpec's round-trip pins; the query harness clears
    // caches per query).
    val model = ClassifierFunctions.trainNbLogModel(train, "text",
        isPositive = col("lang") === "en", numBuckets = 1024, seed = "nbq")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ClassifierFunctions.nbScore(heldout, "doc_id", "text", model,
        numBuckets = 1024, seed = "nbq", passthrough = Seq("lang"))
      .orderBy(col("score_1024").desc, col("doc_id").asc)
      .limit(100)
      .select("doc_id", "lang", "score_1024", "n_features",
        "predicted_positive")
  }

  /** CLS2 — classifier CALIBRATION against ground truth, the dd17/sim8
    * pattern applied to the learned filter: the q_cls1 model's held-out
    * confusion matrix plus integer-ppm accuracy/precision/recall against
    * the true label its proxy was built from. A quality filter deployed
    * over 100 TB is only as good as its measured error rates — this is
    * the query that prices the model before anyone gates a corpus with
    * it. Rates are integer ppm with guarded denominators (an empty
    * predicted-positive class yields NULL precision, not a crash), so
    * both engines agree bit-exactly. One extra 4-counter aggregate over
    * cls1's scoring plan; nothing new shuffles. */
  private def cls2(t: Tables): DataFrame = {
    val train = t.documents.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val heldout = t.documents.filter(pmod(col("doc_id"), lit(5)) === 0)
    // Same persist rationale as cls1: two broadcast builds, one train.
    val model = ClassifierFunctions.trainNbLogModel(train, "text",
        isPositive = col("lang") === "en", numBuckets = 1024, seed = "nbq")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truth = col("lang") === "en"
    ClassifierFunctions.nbScore(heldout, "doc_id", "text", model,
        numBuckets = 1024, seed = "nbq", passthrough = Seq("lang"))
      .agg(
        sum(when(truth && col("predicted_positive"), 1L).otherwise(0L))
          .as("tp"),
        sum(when(!truth && col("predicted_positive"), 1L).otherwise(0L))
          .as("fp"),
        sum(when(truth && !col("predicted_positive"), 1L).otherwise(0L))
          .as("fn"),
        sum(when(!truth && !col("predicted_positive"), 1L).otherwise(0L))
          .as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        expr("(tp + tn) * 1000000 div (tp + fp + fn + tn)")
          .as("accuracy_ppm"),
        when(col("tp") + col("fp") > 0,
          expr("tp * 1000000 div (tp + fp)")).as("precision_ppm"),
        when(col("tp") + col("fn") > 0,
          expr("tp * 1000000 div (tp + fn)")).as("recall_ppm"))
  }

  /** TXT19 — BPE merge LEARNING (tokenizer training's core loop) over
    * the documents corpus: the 6 most frequent adjacent symbol-pair
    * merges, learned iteratively (pair counts recomputed after every
    * fusion — iteration is semantic, exactly like gr1's rounds). The
    * corpus collapses to distinct words+counts ONCE; every round then
    * runs at vocabulary scale (Heaps' law: ≪ corpus). The oracle
    * replays all 6 rounds as chained CTEs with the identical
    * left-to-right greedy fold (list_reduce ≙ aggregate) and md5
    * tie-break, so the learned table matches bit-for-bit. */
  private def txt19(t: Tables): DataFrame =
    TextFunctions.learnBpeMerges(t.documents, "text", nMerges = 6)
      .orderBy("merge_rank")

  /** TXT20 — the learned tokenizer APPLIED (train→apply end-to-end):
    * each vocabulary word segmented under txt19's merges, with token
    * counts. Application is a static chain of the same greedy fold —
    * no iteration at eval time; tokenizing the full corpus is then a
    * broadcast vocab join onto exploded words. */
  private def txt20(t: Tables): DataFrame =
    track(TextFunctions.bpeVocabulary(t.documents, "text", nMerges = 6))
      .orderBy("word")

  /** TXT21 — BYTE-LEVEL BPE merge learning (GPT-2-style base vocab:
    * UTF-8 bytes of every NFC word, no ASCII gate — a multilingual
    * corpus trains on all of its text, closing txt19's ASCII-core
    * limitation). Same vocab-scale merge loop. */
  private def txt21(t: Tables): DataFrame =
    TextFunctions.learnByteBpeMerges(t.documents, "text", nMerges = 6)
      .orderBy("merge_rank")

  /** TXT22 — the byte-level tokenizer applied (train→apply): every NFC
    * word segmented into learned byte-pair symbols. */
  private def txt22(t: Tables): DataFrame =
    track(TextFunctions.byteBpeVocabulary(t.documents, "text", nMerges = 6))
      .orderBy("word")

  /** SAMP10 — token-budgeted shard cutting (the export-plane step
    * samp6's count-balanced shards cannot provide: training exports
    * budget TOKENS, and document length skews count-balanced shards).
    * Corpus order is the deterministic md5 draw (ties by id); a doc's
    * shard is the budget slice its cumulative start offset falls in.
    * The running total is a DISTRIBUTED two-level prefix sum (256
    * draw-prefix buckets: bucket totals → bounded 256-row offset
    * window, broadcast back; within-bucket running sums partitioned by
    * bucket) — nothing windows the corpus in one partition; the oracle
    * replays the same order with one global window, which is exactly
    * the single-node collapse of the same prefix sum. */
  private def samp10(t: Tables): DataFrame =
    SampleFunctions.packShardsByBudget(t.documents, "doc_id",
        TextFunctions.tokenCount(col("text")), budgetTokens = 4096L,
        seed = "samp10")
      .orderBy("doc_id")

  /** SIM10 — IVF recall vs nprobe: recall@5 of the IVF path at
    * nprobe ∈ {1, 2, 4} against the exact cosine top-5, one shared
    * quantizer — the cells-scanned-vs-recall curve that completes the
    * evaluation story across both ANN families (sim8/sim9 cover LSH).
    * Only the centroids are trusted input; the oracle replays cell
    * assignment, all three probe depths, reranks, and the recall
    * arithmetic. */
  private def sim10(t: Tables): DataFrame = {
    val spark = t.embeddings.sparkSession
    import spark.implicits._
    val cents = Similarity.trainSphericalCentroids(
      t.embeddings, "vec_id", "embedding", nlist = 8, maxIter = 4)
    val exact = Similarity.cosineTopK(
        t.embeddings.filter(col("vec_id") < 8), t.embeddings,
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nl = lit(null).cast("long")
    val recalls = Seq(1, 2, 4).map { np =>
      val approx = Similarity.ivfTopKWithCentroids(
        t.embeddings.filter(col("vec_id") < 8), t.embeddings,
        "vec_id", "embedding", "vec_id", "embedding", cents, k = 5, nprobe = np)
      val hits = exact.join(approx.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .select(lit(np.toLong).as("nprobe"), col("query_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall_pct", expr("n_hit * 100 div n_exact"))
    }.reduce(_ unionByName _)
    val centRows = cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat.toDouble)) }.toSeq
      .toDF("cell", "centroid")
    centRows.select(lit("centroid").as("section"), col("cell"),
        to_json(col("centroid")).as("centroid"), nl.as("nprobe"),
        nl.as("query_id"), nl.as("n_exact"), nl.as("n_hit"), nl.as("recall_pct"))
      .unionByName(recalls.select(lit("recall").as("section"), nl.as("cell"),
        lit(null).cast("string").as("centroid"), col("nprobe"),
        col("query_id"), col("n_exact"), col("n_hit"), col("recall_pct")))
      .orderBy("section", "cell", "nprobe", "query_id")
  }

  /** SIM4 — per-vector int8 affine quantization + reconstruction error:
    * the 4×-storage lever of a billion-vector store. Every step is plain
    * IEEE double with explicit floor(x+0.5) rounding, so the oracle
    * reproduces codes AND error bit-for-bit. */
  private def sim4(t: Tables): DataFrame =
    t.embeddings
      .withColumn("q", Similarity.quantizeInt8(col("embedding")))
      .withColumn("recon", Similarity.dequantizeInt8(col("q")))
      .select(col("vec_id"),
        col("q.scale").as("scale"),
        element_at(col("q.codes"), 1).cast("long").as("code0"),
        array_max(zip_with(col("recon"), col("embedding").cast("array<double>"),
          (r, x) => abs(r - x))).as("max_abs_err"))
      .orderBy("vec_id")

  /** DD10 — SemDeDup-style semantic dedup: quantizer cells → within-cell
    * cosine near-dup graph → one representative per component (lowest
    * id). The trained centroids ride along in section 'centroid'; the
    * DuckDB oracle re-derives cell assignment, the within-cell cosine
    * pair graph, connected components (recursive CTE) and the keep-one
    * decision from the embeddings base table. */
  private def dd10(t: Tables): DataFrame = {
    val spark = t.embeddings.sparkSession
    import spark.implicits._
    val cents = Similarity.trainSphericalCentroids(
      t.embeddings, "vec_id", "embedding", nlist = 8, maxIter = 4)
    val sem = Similarity.semanticDedupWithCentroids(
      t.embeddings, "vec_id", "embedding", threshold = 0.9, cents)
    val centRows = cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat.toDouble)) }.toSeq
      .toDF("cell", "centroid")
    val nl = lit(null).cast("long")
    centRows.select(lit("centroid").as("section"), col("cell"),
        to_json(col("centroid")).as("centroid"),
        nl.as("vec_id"), nl.as("cluster_id"),
        lit(null).cast("boolean").as("kept"))
      .unionByName(sem.select(lit("doc").as("section"),
        col("cell").cast("long").as("cell"),
        lit(null).cast("string").as("centroid"),
        col("vec_id"), col("cluster_id"), col("kept")))
      .orderBy("section", "cell", "vec_id")
  }

  /** SIM5 — product quantization: m=4 subspaces × k=16 L2 centroids
    * (driver-trained over the bounded deterministic sample), every
    * embedding becomes 4 codes — 64× smaller than its float32 form —
    * plus its exact reconstruction error (which IS the ADC distance to
    * the decoded point). Only the codebooks are echoed; the codes and
    * errors re-derive in DuckDB by argmin + left-fold replay, so a
    * misassigned subspace or a drifted fold order mismatches. */
  private def sim5(t: Tables): DataFrame = {
    val spark = t.embeddings.sparkSession
    import spark.implicits._
    val cbs = Similarity.trainPqCodebooks(
      t.embeddings, "vec_id", "embedding", m = 4, k = 16, maxIter = 4)
    val coded = t.embeddings
      .withColumn("codes", Similarity.pqEncode(col("embedding"), cbs))
      .withColumn("err",
        Similarity.l2Sq(col("embedding").cast("array<double>"),
          Similarity.pqDecode(col("codes"), cbs)))
      .select("vec_id", "codes", "err")
    val cbRows = cbs.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (c, ci) => (s.toLong, ci.toLong, c.toSeq) }
    }.toSeq.toDF("sub", "cell", "centroid")
    val nl = lit(null).cast("long")
    cbRows.select(lit("codebook").as("section"), col("sub"), col("cell"),
        to_json(col("centroid")).as("centroid"), nl.as("vec_id"),
        lit(null).cast("string").as("codes"),
        lit(null).cast("double").as("err"))
      .unionByName(coded.select(lit("vec").as("section"), nl.as("sub"),
        nl.as("cell"), lit(null).cast("string").as("centroid"),
        col("vec_id"), to_json(col("codes").cast("array<bigint>")).as("codes"),
        col("err")))
      .orderBy("section", "sub", "cell", "vec_id")
  }

  /** SIM6 — PQ ANN (asymmetric distance): the first 8 vectors query the
    * coded corpus; distance is exactly `l2Sq(q, decode(codes))`, so the
    * oracle replays codes, reconstructions, every distance and the full
    * ranking (ties to the lower neighbor id) from the echoed codebooks
    * alone. Ranking is the bounded top-k aggregate — never a window
    * over raw distances. */
  private def sim6(t: Tables): DataFrame = {
    val spark = t.embeddings.sparkSession
    import spark.implicits._
    val cbs = Similarity.trainPqCodebooks(
      t.embeddings, "vec_id", "embedding", m = 4, k = 16, maxIter = 4)
    val coded = t.embeddings
      .withColumn("codes", Similarity.pqEncode(col("embedding"), cbs))
      .select("vec_id", "codes")
    val res = Similarity.pqTopK(
      t.embeddings.filter(col("vec_id") < 8), "vec_id", "embedding",
      coded, "vec_id", "codes", cbs, k = 5)
    val cbRows = cbs.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (c, ci) => (s.toLong, ci.toLong, c.toSeq) }
    }.toSeq.toDF("sub", "cell", "centroid")
    val nl = lit(null).cast("long")
    cbRows.select(lit("codebook").as("section"), col("sub"), col("cell"),
        to_json(col("centroid")).as("centroid"), nl.as("query_id"), nl.as("rank"),
        nl.as("neighbor_id"), lit(null).cast("double").as("dist"))
      .unionByName(res.select(lit("topk").as("section"), nl.as("sub"),
        nl.as("cell"), lit(null).cast("string").as("centroid"),
        col("query_id"), col("rank"), col("neighbor_id"), col("dist")))
      .orderBy("section", "sub", "cell", "query_id", "rank")
  }

  // ---------------------------------------------------------------- M: multimodal

  /** MM1 — opaque binary column plumbing with REAL header decode: a
    * third of the rows carry genuine PNG bytes (signature + IHDR), a
    * third genuine JPEG bytes (SOI → APP0 → SOF0), the rest raw text
    * (fake-codec fallback). Dimensions are doc_id-derived, so the oracle
    * reconstructs the same bytes and the expected dimensions — if the
    * pure-JVM header parser misread a single byte, width/height would
    * mismatch. content_hash is md5 over the HEX encoding (engine-portable;
    * DuckDB's md5 cannot hash raw blobs). */
  private def mm1(t: Tables): DataFrame = {
    val m = pmod(col("doc_id"), lit(3))
    val pw = (lit(100) + pmod(col("doc_id"), lit(500))).cast("long")
    val ph = (lit(80) + pmod(col("doc_id"), lit(400))).cast("long")
    val jw = (lit(64) + pmod(col("doc_id"), lit(1000))).cast("long")
    val jh = (lit(48) + pmod(col("doc_id"), lit(600))).cast("long")
    val pngHex = concat(lit("89504e470d0a1a0a0000000d49484452"),
      lpad(lower(hex(pw)), 8, "0"), lpad(lower(hex(ph)), 8, "0"),
      lit("080600000000000000"))
    val jpgHex = concat(
      lit("ffd8ffe000104a46494600010100004800480000ffc0001108"),
      lpad(lower(hex(jh)), 4, "0"), lpad(lower(hex(jw)), 4, "0"),
      lit("03012200021101031101"))
    val payload = when(m === 0, unhex(pngHex))
      .when(m === 1, unhex(jpgHex))
      .otherwise(col("text").cast("binary"))
    graft.multimodal.BinaryPipeline.decodeMedia(
        t.documents.select("doc_id", "text").withColumn("payload", payload))
      .select(col("doc_id"),
        col("media_meta.n_bytes").as("n_bytes"),
        md5(lower(hex(col("payload")))).as("content_hash"),
        col("media_meta.width").cast("long").as("width"),
        col("media_meta.height").cast("long").as("height"),
        col("media_meta.format").as("format"))
      .orderBy("doc_id")
  }

  /** MM4 — audio metadata through the REAL RIFF/WAVE header parser: two
    * thirds of the rows carry genuine WAV headers (RIFF → fmt → data,
    * little-endian fields built by hex construction) with doc_id-derived
    * rate/channels/length; the rest are raw text (null-meta fallback —
    * no invented sample rates). Duration is integer-exact division. A
    * single misread little-endian byte mismatches the oracle, which
    * re-derives every field from the doc_id arithmetic. */
  private def mm4(t: Tables): DataFrame = {
    def le16(x: Column): Column = {
      val h = lpad(lower(hex(x)), 4, "0")
      concat(substring(h, 3, 2), substring(h, 1, 2))
    }
    def le32(x: Column): Column = {
      val h = lpad(lower(hex(x)), 8, "0")
      concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2))
    }
    val m = pmod(col("doc_id"), lit(3))
    val rate = (lit(8000) + pmod(col("doc_id"), lit(5)) * lit(4000)).cast("long")
    val ch = (lit(1) + pmod(col("doc_id"), lit(2))).cast("long")
    val blockAlign = ch * lit(2L) // 16-bit PCM
    val byteRate = rate * blockAlign
    val dataSize = ((pmod(col("doc_id"), lit(1000)) + 1) * lit(100L) * blockAlign).cast("long")
    val wavHex = concat(
      lit("52494646"), le32(dataSize + 36), lit("57415645"), // RIFF size WAVE
      lit("666d7420"), le32(lit(16L)),                       // "fmt " 16
      le16(lit(1L)), le16(ch), le32(rate), le32(byteRate),   // PCM, ch, rates
      le16(blockAlign), le16(lit(16L)),                      // align, bits
      lit("64617461"), le32(dataSize))                       // "data" size
    val payload = when(m =!= 2, unhex(wavHex)).otherwise(col("text").cast("binary"))
    graft.multimodal.BinaryPipeline.decodeAudio(
        t.documents.select("doc_id", "text").withColumn("payload", payload))
      .select(col("doc_id"),
        col("audio_meta.n_bytes").as("n_bytes"),
        col("audio_meta.sample_rate").cast("long").as("sample_rate"),
        col("audio_meta.channels").cast("long").as("channels"),
        col("audio_meta.n_samples").as("n_samples"),
        when(col("audio_meta.sample_rate").isNotNull,
          call_function("div", col("audio_meta.n_samples") * 1000L,
            col("audio_meta.sample_rate").cast("long"))).as("duration_ms"),
        col("audio_meta.format").as("format"))
      .orderBy("doc_id")
  }

  /** The shared decode front of the mm2/mm3 queries: documents text as
    * the stand-in payload, run through the real batch-decode plumbing. */
  private def decodedDocs(t: Tables): DataFrame =
    graft.multimodal.BinaryPipeline.decodeMedia(
      graft.multimodal.BinaryPipeline.withPayload(
        t.documents.select("doc_id", "text"), "text"))

  /** MM2 — uniform frame sampling through the REAL decode plumbing
    * (mapPartitions batch decode → array-expression grid → explode): 4
    * sampled frame indices per clip. The fake codec's frame count is pure
    * arithmetic on the byte length, so the oracle reproduces it exactly. */
  private def mm2(t: Tables): DataFrame =
    graft.multimodal.BinaryPipeline.sampleFrames(decodedDocs(t), k = 4)
      .select(col("doc_id"), col("frame_idx"))
      .orderBy("doc_id", "frame_idx")

  /** MM5 — video/clip near-dup via FRAME-HASH bucketing, the standard
    * video-dedup recipe (hash every frame, bucket clips by shared
    * hashes, flag pairs sharing a majority): every 10th clip gets a
    * "re-encode" under a fresh id (identical content — the planted
    * duplicates), frames are deterministic content segments (chars
    * `[i·stride, (i+1)·stride)`, n_frames = 1 + len mod 13 — the
    * documented stand-in for decoded frame bytes; the pixel decode is
    * the stubbed codec seam), and candidate pairs form ONLY inside
    * frame-hash buckets — never an all-pairs clip comparison. Frame
    * hashes seen in > 50 clips are dropped before pairing (the
    * boilerplate-frame guard: intros/logos would otherwise bucket the
    * whole catalog together — same deterministic-cap pattern as dd12's
    * skew guards, a pure data function the oracle replays). Internal
    * repeats collapse per clip, so `is_dup` compares distinct-frame
    * sets: 2·shared ≥ |A| + |B|. */
  private def mm5(t: Tables): DataFrame = {
    val base = t.documents.select(col("doc_id"), col("text"))
    val clips = base.unionByName(
      base.filter(pmod(col("doc_id"), lit(10)) === 2)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
    val frames = clips
      .select(col("doc_id"), col("text"),
        (lit(1L) + pmod(length(col("text")), lit(13)).cast("long")).as("nf"))
      .withColumn("stride", expr("greatest(length(text) div nf, 1)"))
      .select(col("doc_id"),
        explode(expr("sequence(0L, nf - 1)")).as("frame_idx"),
        col("text"), col("stride"))
      .select(col("doc_id"),
        expr("md5(cast(substr(text, cast(frame_idx * stride + 1 as int)," +
          " cast(stride as int)) as binary))").as("fh"))
      .distinct()
    val common = frames.groupBy("fh")
      .agg(countDistinct(col("doc_id")).as("ncl"))
      .filter(col("ncl") > 50).select("fh")
    val kept = frames.join(common, Seq("fh"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = kept.groupBy("doc_id").agg(count(lit(1)).as("nfd"))
    val a = kept.select(col("doc_id").as("id_a"), col("fh"))
    val b = kept.select(col("doc_id").as("id_b"), col("fh"))
    val pairs = a.join(b, Seq("fh")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .join(counts.select(col("doc_id").as("id_a"), col("nfd").as("nf_a")),
        Seq("id_a"))
      .join(counts.select(col("doc_id").as("id_b"), col("nfd").as("nf_b")),
        Seq("id_b"))
      .withColumn("is_dup",
        col("n_shared") * 2 >= col("nf_a") + col("nf_b"))
    val nl = lit(null).cast("long")
    counts.select(lit("clip").as("section"), col("doc_id"),
        col("nfd").as("n_frames"), nl.as("id_a"), nl.as("id_b"),
        nl.as("n_shared"), lit(null).cast("boolean").as("is_dup"))
      .unionByName(pairs.select(lit("pair").as("section"), nl.as("doc_id"),
        nl.as("n_frames"), col("id_a"), col("id_b"), col("n_shared"),
        col("is_dup")))
      .orderBy("section", "doc_id", "id_a", "id_b")
  }

  /** MM3 — aspect-preserving resize planning to fit 256×256, through the
    * same decode plumbing; integer-exact target dims. */
  private def mm3(t: Tables): DataFrame =
    graft.multimodal.BinaryPipeline.resizeMeta(decodedDocs(t),
        maxW = 256, maxH = 256)
      .select(col("doc_id"),
        col("media_meta.width").cast("int").as("width"),
        col("media_meta.height").cast("int").as("height"),
        col("resize_w"), col("resize_h"))
      .orderBy("doc_id")

  // ================================================================
  // GOLD: the production GoldRefresh job under the oracle gate.
  // Round 10 proved the 138-query board could not see a GoldRefresh
  // regression (the job was broken at HEAD while the board stayed green):
  // these entries EXECUTE the job — a deterministic silver store is built
  // from `orders` through the real SilverStore merge paths (dirty
  // journals and all), bootstrap-full-rebuilt on batch 1, then a second
  // batch plus late-arriving prices taken through refreshIncremental —
  // and the resulting gold tables are replayed by DuckDB straight off
  // `orders` (tasks.py:188-327 semantics).

  /** One harness run per input dir (memoized: both gold queries and
    * repeated bench iterations read the same built store). Returns the
    * silver dir holding the refreshed gold tables. */
  private val goldRunCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def goldRun(spark: SparkSession, dir: String): String =
    goldRunCache.computeIfAbsent(dir, { _ =>
      import graft.ingest.{Schemas, SilverStore}
      val tmp = java.nio.file.Files.createTempDirectory("graft-goldq-").toString
      val U128 = Schemas.U128
      val Usd = Schemas.Usd
      val seqNames = Seq("block_height", "shard_index", "receipt_index",
        "action_index")
      val pow24 = lit(("1" + "0" * 24)).cast(U128)

      // Deterministic donation mapping over orders: amounts are whole
      // NEAR (× 10^24 yocto, exercising the digit-exact decimal path),
      // prices are an exact integer function of the calendar DAY-OF-
      // MONTH, and every donation timestamp coincides with its date's
      // price row so the ±24h as-of NEAREST join resolves with delta 0
      // (no ties). Donation dates collapse to 31 synthetic days (Jan
      // 2024, one per day-of-month of o_orderdate — day() is preserved,
      // so the oracle's price formula reads o_orderdate directly): the
      // gate must exercise the partitioned merge + incremental refresh,
      // not pay a 2,400-partition TPC-H date range × 16 donor buckets of
      // file churn per merge.
      // PERSISTED (r16, guide §2.4): don0 seeds EVERY input the gate
      // merges — don (two batch slices, each evaluated 2-3× inside the
      // partition-scoped merge), accountsOf × 2, payouts, pricesOf × 2 —
      // ~10 full orders scans + the decimal projection un-cached. The
      // cache is gate-harness state, released in a finally (a throwing
      // merge or refresh, or the incremental-path require, must not
      // leak it into every later query); the refresh operators under
      // test never see it.
      val don0 = Tables(spark, dir).orders.select(
        col("o_orderkey").as("k"),
        (pmod(col("o_custkey"), lit(200))).cast("string").as("ckey"),
        (pmod(col("o_orderkey"), lit(97))).cast("string").as("rkey"),
        (pmod(col("o_orderkey"), lit(1000)) + 1).cast(U128).as("whole"),
        (pmod(col("o_orderkey"), lit(4)) === 0).as("matching_pool"),
        when(pmod(col("o_orderkey"), lit(3)) === 0,
          concat(lit("pot"), pmod(col("o_orderkey"), lit(7)).cast("string")))
          .as("pot"),
        date_add(to_date(lit("2023-12-31")), dayofmonth(col("o_orderdate")))
          .as("ddate"))
        .withColumn("donated_at",
          col("ddate").cast("timestamp") + expr("INTERVAL 12 HOURS"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nullS = lit(null).cast("string")
        val zeroDec = lit(0).cast(U128)
        val don = don0.select(
          col("k").as("on_chain_id"),
          concat(lit("c"), col("ckey")).as("donor"),
          concat(col("whole").cast("string"), lit("0" * 24)).as("total_amount"),
          (col("whole") * pow24).cast(U128).as("total_amount_dec"),
          lit(null).cast(Usd).as("total_amount_usd"),
          nullS.as("net_amount"),
          (col("whole") * pow24).cast(U128).as("net_amount_dec"),
          lit(null).cast(Usd).as("net_amount_usd"),
          lit("near").as("ft"),
          col("pot"),
          col("matching_pool"),
          nullS.as("message"),
          col("donated_at"),
          concat(lit("r"), col("rkey")).as("recipient"),
          nullS.as("protocol_fee"), zeroDec.as("protocol_fee_dec"),
          lit(null).cast(Usd).as("protocol_fee_usd"),
          nullS.as("referrer"), nullS.as("referrer_fee"),
          zeroDec.as("referrer_fee_dec"), lit(null).cast(Usd).as("referrer_fee_usd"),
          nullS.as("chef"), nullS.as("chef_fee"),
          zeroDec.as("chef_fee_dec"), lit(null).cast(Usd).as("chef_fee_usd"),
          nullS.as("tx_hash"),
          col("k").as("block_height"), lit(0L).as("shard_index"),
          lit(0).as("receipt_index"), lit(0).as("action_index"))

        // Batch 2 = days 28-31 (a late tail of NEW date partitions +
        // re-seen accounts, bounded to 4 of the 31 partitions); everything
        // earlier is batch 1.
        val inB2 = dayofmonth(to_date(col("donated_at"))) >= 28

        def accountsOf(d: DataFrame): DataFrame = d
          .select(explode(array(col("donor"), col("recipient"))).as("id"))
          .distinct()
          .select(col("id"), nullS.as("chain"),
            nullS.as("near_social_profile_data"),
            lit(null).cast(Usd).as("total_donations_in_usd"),
            lit(null).cast(Usd).as("total_donations_out_usd"),
            lit(null).cast(Usd).as("total_matching_pool_allocations_usd"),
            lit(null).cast("int").as("donors_count"),
            lit(0L).as("block_height"), lit(0L).as("shard_index"),
            lit(0).as("receipt_index"), lit(0).as("action_index"))

        def pricesOf(d: DataFrame): DataFrame = d
          .select(col("ddate")).distinct()
          .select(lit("near").as("token"),
            (col("ddate").cast("timestamp") + expr("INTERVAL 12 HOURS"))
              .as("timestamp"),
            (pmod(dayofmonth(col("ddate")), lit(5)) + 1).cast(Usd)
              .as("price_usd"))

        val tokens = spark.range(1).select(
          lit("near").as("account"), nullS.as("name"), nullS.as("symbol"),
          nullS.as("icon"), lit(24).as("decimals"), nullS.as("coingecko_id"),
          lit(0L).as("block_height"), lit(0L).as("shard_index"),
          lit(0).as("receipt_index"), lit(0).as("action_index"))

        // One payout per qualifying recipient key (unique natural key).
        val payouts = don0.select(pmod(col("k"), lit(97)).as("r")).distinct()
          .filter(pmod(col("r"), lit(3)) === 0)
          .select(lit("potP").as("pot"),
            concat(lit("r"), col("r").cast("string")).as("recipient"),
            nullS.as("amount"), lit(null).cast(U128).as("amount_dec"),
            (pmod(col("r"), lit(90)) + 10).cast(Usd).as("amount_paid_usd"),
            nullS.as("ft"),
            lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("paid_at"),
            nullS.as("tx_hash"),
            col("r").cast("long").as("block_height"), lit(0L).as("shard_index"),
            lit(0).as("receipt_index"), lit(0).as("action_index"))

        def mergeDon(d: DataFrame): Unit = SilverStore.mergeEntity(spark, tmp,
          "donations", d, SilverStore.naturalKeys("donations"), seqNames): Unit
        def mergeAcc(d: DataFrame): Unit = SilverStore.mergeEntity(spark, tmp,
          "accounts", d, Seq("id"), seqNames): Unit

        // Batch 1 → bootstrap full rebuild. Prices cover only even calendar
        // days, so odd-day donations stay null-USD until the late arrival.
        // Phase laps on stdout: the gate is the board's single heaviest
        // item (BENCH's gold_gate_build_sec), and these ten lines are how
        // its cost is attributed (printed once per process, well before
        // the bench's final summary line).
        var __t0 = System.nanoTime()
        def __lap(tag: String): Unit = {
          val t = System.nanoTime()
          println(f"[goldgate] $tag ${(t - __t0) / 1e9}%.2f s"); __t0 = t
        }
        mergeDon(don.filter(!inB2))
        __lap("mergeDon1")
        mergeAcc(accountsOf(don.filter(!inB2)))
        __lap("mergeAcc1")
        SilverStore.mergeEntity(spark, tmp, "tokens", tokens, Seq("account"),
          seqNames): Unit
        __lap("mergeTokens")
        SilverStore.mergeEntity(spark, tmp, "pot_payouts", payouts,
          SilverStore.naturalKeys("pot_payouts"), seqNames): Unit
        __lap("mergePayouts")
        val p1 = pricesOf(don0.filter(!inB2)
          .filter(pmod(dayofmonth(col("ddate")), lit(2)) === 0))
        p1.write.mode("overwrite").parquet(s"$tmp/token_prices")
        __lap("prices1")
        graft.gold.GoldRefresh.refreshFull(spark, tmp): Unit
        __lap("refreshFull")

        // Batch 2 + the full price history (late CLOSER/new observations)
        // through the PRODUCTION incremental path — a silent fallback to
        // full is a gate failure, not a shrug.
        mergeDon(don.filter(inB2))
        __lap("mergeDon2")
        mergeAcc(accountsOf(don.filter(inB2)))
        __lap("mergeAcc2")
        pricesOf(don0).write.mode("overwrite").parquet(s"$tmp/token_prices")
        __lap("prices2")
        val r = graft.gold.GoldRefresh.refreshIncremental(spark, tmp)
        __lap("refreshIncremental")
        require(r.mode == "incremental",
          s"gold gate expected the incremental path, got $r")
        tmp
      } finally don0.unpersist()
    })

  /** GOLD-A2 — account_stats as produced by the refreshed gold table
    * (tasks.py:275-327). USD figures are exact decimals → double. */
  private def goldAccountStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${goldRun(spark, dir)}/account_stats")
      .select(col("id"),
        col("donors_count").cast("long").as("donors_count"),
        col("total_donations_in_usd").cast("double").as("in_usd"),
        col("total_donations_out_usd").cast("double").as("out_usd"),
        col("total_matching_pool_allocations_usd").cast("double")
          .as("matching_usd"),
        col("total_payouts_received_usd").cast("double").as("payouts_usd"))
      .orderBy("id")

  /** GOLD-A3 — pot_stats from the same refreshed store (tasks.py:188-272).
    * Yocto sums divide back to exact whole-NEAR integers. */
  private def goldPotStats(spark: SparkSession, dir: String): DataFrame = {
    val pow24 = lit(("1" + "0" * 24)).cast(DecimalType(38, 0))
    spark.read.parquet(s"${goldRun(spark, dir)}/pot_stats")
      .select(col("pot"),
        (col("total_matching_pool_dec") / pow24).cast("long")
          .as("matching_near"),
        col("total_matching_pool_usd").cast("double").as("matching_usd"),
        col("matching_pool_donations_count").cast("long").as("matching_n"),
        (col("total_public_donations_dec") / pow24).cast("long")
          .as("public_near"),
        col("total_public_donations_usd").cast("double").as("public_usd"),
        col("public_donations_count").cast("long").as("public_n"))
      .orderBy("pot")
  }

  // ================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    def q(f: Tables => DataFrame): (SparkSession, String) => DataFrame =
      (s, dir) => f(Tables(s, dir))
    Map(
      "q_p1_distinct_project" -> q(p1),
      "q_p2_eq_filter" -> q(p2),
      "q_p4_null_predicate" -> q(p4),
      "q_p5_disjunctive" -> q(p5),
      "q_p6_interval" -> q(p6),
      "q_p7_json_extract" -> q(p7),
      "q_p8_regex_dispatch" -> q(p8),
      "q_p11_base64" -> q(p11),
      "q_f1_amount_scale" -> q(f1),
      "q_f2_fee_math" -> q(f2),
      "q_f4_ts_convert" -> q(f4),
      "q_f5_date_key" -> q(f5),
      "q_f6_digit_guard" -> q(f6),
      "q_f9_slugify" -> q(f9),
      "q_j1_fk_expand" -> q(j1),
      "q_j2_exists_semi" -> q(j2),
      "q_j4_distinct_semi" -> q(j4),
      "q_j5_global_stats" -> q(j5),
      "q_j6_asof_join" -> q(j6),
      "q_j13_asof_before" -> q(j13),
      "q_j7_latest_per_group" -> q(j7),
      "q_j8_anti_discover" -> q(j8),
      "q_a2_account_rollup" -> q(a2),
      "q_gold_refresh" -> goldAccountStats _,
      "q_gold_pot_stats" -> goldPotStats _,
      "q_a3_conditional_agg" -> q(a3),
      "q_a5_lww_upsert" -> q(a5),
      "q_a6_rollup" -> q(a6),
      "q_a8_median" -> q(a8),
      "q_o2_topk" -> q(o2),
      "q_o3_page_slice" -> q(o3),
      "q_o6_keyset_page" -> q(o6),
      "q_o5_random_pick" -> q(o5),
      "q_w1_hourly_window" -> q(w1),
      "q_w2_running_sum" -> q(w2),
      "q_w3_sessionize" -> q(w3),
      "q_a7_approx_distinct" -> q(a7),
      "q_a9_approx_percentile" -> q(a9),
      "q_prof1_table_profile" -> q(prof1),
      "q_prof2_skew_salt" -> q(prof2),
      "q_txt12_nfc_normalize" -> q(txt12),
      "q_txt14_html_extract" -> q(txt14),
      "q_set_union_except" -> q(set1),
      "q_txt1_quality" -> q(txt1),
      "q_txt2_langid" -> q(txt2),
      "q_txt3_fingerprint" -> q(txt3),
      "q_txt4_bpe_tokens" -> q(txt4),
      "q_txt5_winnowing" -> q(txt5),
      "q_txt6_pii_redact" -> q(txt6),
      "q_dd1_exact_dedup" -> q(dd1),
      "q_dd2_jaccard_pairs" -> q(dd2),
      "q_dd3_minhash_lsh" -> q(dd3),
      "q_dd6_dup_clusters" -> q(dd6),
      "q_dd7_dedup_corpus" -> q(dd7),
      "q_samp1_train_test_split" -> q(samp1),
      "q_samp2_stratified_sample" -> q(samp2),
      "q_samp3_pack_sequences" -> q(samp3),
      "q_txt7_contamination" -> q(txt7),
      "q_txt8_repetition" -> q(txt8),
      "q_txt9_line_dedup" -> q(txt9),
      "q_txt10_surprisal" -> q(txt10),
      "q_samp4_target_mixture" -> q(samp4),
      "q_samp5_group_sample" -> q(samp5),
      "q_samp6_shard_manifest" -> q(samp6),
      "q_samp7_temperature_mix" -> q(samp7),
      "q_rep1_corpus_report" -> q(rep1),
      "q_txt11_card_redact" -> q(txt11),
      "q_dd8_simhash_pairs" -> q(dd8),
      "q_dd9_incremental_neardup" -> q(dd9),
      "q_dd11_bloom_gate" -> q(dd11),
      "q_cur1_curation_funnel" -> q(cur1),
      "q_cur2_source_filter" -> q(cur2),
      "q_cur3_url_dedup" -> q(cur3),
      "q_cur4_snapshot_diff" -> q(cur4),
      "q_srch1_keyword_topk" -> q(srch1),
      "q_srch2_top_terms" -> q(srch2),
      "q_srch3_bm25" -> q(srch3),
      "q_srch4_trending_terms" -> q(srch4),
      "q_txt13_contamination_hits" -> q(txt13),
      "q_j9_interval_join" -> q(j9),
      "q_j10_salted_join" -> q(j10),
      "q_w4_funnel" -> q(w4),
      "q_w5_retention" -> q(w5),
      "q_dd12_substring_dup" -> q(dd12),
      "q_dd13_cdc_chunks" -> q(dd13),
      "q_dd14_ensemble_consensus" -> q(dd14),
      "q_dd4_simhash" -> q(dd4),
      "q_dd5_embed_neardup" -> q(dd5),
      "q_sim1_cosine_topk" -> q(sim1),
      "q_sim7_mips" -> q(sim7),
      "q_sim8_ann_recall" -> q(sim8),
      "q_sim9_multiprobe" -> q(sim9),
      "q_sim10_ivf_recall" -> q(sim10),
      "q_sim11_index_maintenance" -> q(sim11),
      "q_clu1_topic_profile" -> q(clu1),
      "q_sim2_lsh_ann" -> q(sim2),
      "q_sim3_ivf_ann" -> q(sim3),
      "q_sim4_quantize" -> q(sim4),
      "q_sim5_pq" -> q(sim5),
      "q_sim6_pq_ann" -> q(sim6),
      "q_dd10_semantic_dedup" -> q(dd10),
      "q_mm1_binary_meta" -> q(mm1),
      "q_mm2_frame_sample" -> q(mm2),
      "q_mm3_resize_meta" -> q(mm3),
      "q_mm4_audio_meta" -> q(mm4),
      "q_mm5_frame_dedup" -> q(mm5),
      "q_w6_sliding_window" -> q(w6),
      "q_inc1_incremental_agg" -> q(inc1),
      "q_gr1_pagerank" -> q(gr1),
      "q_txt15_chunk" -> q(txt15),
      "q_txt16_bigram_lm" -> q(txt16),
      "q_a10_cube" -> q(a10),
      "q_samp8_coverage_sample" -> q(samp8),
      "q_samp9_dsir" -> q(samp9),
      "q_samp10_token_shards" -> q(samp10),
      "q_txt19_bpe_merges" -> q(txt19),
      "q_txt20_bpe_vocab" -> q(txt20),
      "q_txt21_byte_bpe_merges" -> q(txt21),
      "q_txt22_byte_bpe_vocab" -> q(txt22),
      "q_a11_pivot" -> q(a11),
      "q_inc2_sketch_merge" -> q(inc2),
      "q_inc3_topk_sketch" -> q(inc3),
      "q_er1_fuzzy_join" -> q(er1),
      "q_ts1_gap_fill" -> q(ts1),
      "q_gr2_triangles" -> q(gr2),
      "q_dd15_allpairs" -> q(dd15),
      "q_txt17_zipf" -> q(txt17),
      "q_j11_bucketed_join" -> q(j11),
      "q_j12_star_join" -> q(j12),
      "q_dd16_incremental_allpairs" -> q(dd16),
      "q_sim12_filtered_ann" -> q(sim12),
      "q_sim13_classifier_gated_ann" -> q(sim13),
      "q_txt18_kl_drift" -> q(txt18),
      "q_gr3_kcore" -> q(gr3),
      "q_gr4_harmonic" -> q(gr4),
      "q_gr5_kmv_neighborhood" -> q(gr5),
      "q_dd17_minhash_calibration" -> q(dd17),
      "q_w7_lag_delta" -> q(w7),
      "q_ts2_anomaly" -> q(ts2),
      "q_ts3_ewma" -> q(ts3),
      "q_a12_trend_ols" -> q(a12),
      "q_cls1_nb_quality" -> q(cls1),
      "q_cls2_nb_eval" -> q(cls2))
  }

  def oracleSql: Map[String, String] = Oracles.sql
}
