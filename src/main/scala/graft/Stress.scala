package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale/skew stress harness: generates a deliberately DEGENERATE corpus
  * (~10× the sf0.1 row volume) and proves the skew guards are
  * load-bearing on it — measured behavior, not just audited plan shape.
  *
  * Engineered degeneracy (the shapes a 100 TB crawl corpus actually has):
  *   - 100,490 byte-identical documents: one hot group of 2,000 copies of
  *     a single text plus 490 groups of 200 copies each (empty pages,
  *     boilerplate, mirrored articles), on top of 50,000 unique
  *     background docs. One near-dup variant per group exercises the
  *     verify path.
  *   - one dominant language: ~93% of the corpus is `en`.
  *   - one hot join key: `event_type = "hot"` holds 30% of 1,000,000
  *     events (the other 70% spreads over 20 cold types).
  *   - one hot quantizer cell: 6,000 byte-identical embedding vectors
  *     plus 1,500 near-copies of the same vector — ~30% of the 25,000
  *     vectors land in ONE cell of dd10's 8-cell quantizer.
  *
  * Against this corpus the harness runs the exact `SparkEntry.queries`
  * entries the skew guards protect (q_dd3, q_dd8, q_dd10, q_dd12, q_j10,
  * q_cur1), an UNSALTED control join for j10, and a set of direct guard
  * measurements:
  *   - banded-join candidate counts WITH vs WITHOUT the exact-duplicate
  *     collapse (minhash + simhash): the collapse must cut candidates by
  *     ≥ 100× or the run fails.
  *   - exact-dup collapse counts (documents and embedding vectors) > 0.
  *   - dd12's `maxDocsPerHash` cap: the count of k-gram hashes whose doc
  *     frequency exceeds the cap (each one a bucket the cap bounded).
  *   - per-query task-time distribution (max / p50) from a listener —
  *     the straggler evidence.
  *
  * Usage: `runMain graft.Stress [reportPath] [workDir]`
  * (defaults: ./STRESS.md, /tmp/graft_stress). The corpus is generated
  * once per workDir and reused; delete the dir to regenerate.
  */
object Stress {
  // --- deterministic content generators (pure column expressions: the
  // corpus generator follows the same scale discipline as the engine —
  // no driver-side row materialization) ---
  private def words(key: Column, n: Column): Column =
    array_join(
      transform(sequence(lit(0), n.cast("int") - 1),
        p => concat(lit("w"), pmod(xxhash64(key, p, lit(1009L)), lit(1000L)))),
      " ")

  private def vec(key: Column): Column =
    transform(sequence(lit(0), lit(63)),
      j => ((pmod(xxhash64(key, j, lit(2027L)), lit(2000001L)).cast("double")
        - 1000000.0) / 1000000.0).cast("float"))

  /** Zipf(1)-distributed token ranks over `vocab` types (log-uniform
    * rank = floor(vocab^u)): the heavy-tailed vocabulary real text has.
    * The main stress corpus's 1,000-token uniform vocabulary is the
    * documented WORST case for prefix filtering — with no rare tokens,
    * every token is a stopword and the prefix filter cannot
    * discriminate (that corpus is what dd3's LSH is for). dd15 is
    * stressed on the realistic shape instead: duplicate mass + Zipf
    * vocabulary. */
  private def zipfWords(key: Column, n: Column, vocab: Long): Column =
    array_join(
      transform(sequence(lit(0), n.cast("int") - 1),
        p => concat(lit("z"),
          floor(pow(lit(vocab.toDouble),
            pmod(xxhash64(key, p, lit(3041L)), lit(1000000L))
              .cast("double") / 1000000.0)).cast("long"))),
      " ")

  /** dd15 stress corpus (separate flag: additive to cached workDirs):
    * 30k unique Zipf-vocab docs + 20k byte-identical duplicate mass
    * (one 2,000-copy hot group + 90 × 200-copy groups) + 91 near-dup
    * variants (one extra token per group text). */
  private def generate15(spark: SparkSession, dir: String): Unit = {
    val done = new java.io.File(s"$dir/_GENERATED15")
    if (done.exists()) return
    val bg = spark.range(0, 30000).select(
      col("id").as("doc_id"),
      zipfWords(col("id"), lit(40) + pmod(xxhash64(col("id"), lit(7L)),
        lit(40L)), 30000L).as("text"))
    val dup = spark.range(0, 20000)
      .withColumn("g",
        expr("case when id < 2000 then 0L else (id - 2000) div 200 + 1 end"))
      .select((col("id") + 1000000L).as("doc_id"),
        zipfWords(col("g") + 7000000L, lit(40) + pmod(col("g"), lit(30)),
          30000L).as("text"))
    val variants = spark.range(0, 91).select(
      (col("id") + 2000000L).as("doc_id"),
      concat(zipfWords(col("id") + 7000000L, lit(40) + pmod(col("id"),
        lit(30)), 30000L), lit(" vx"), col("id")).as("text"))
    bg.unionByName(dup).unionByName(variants)
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents15.parquet")
    done.createNewFile(): Unit
  }

  private def generate(spark: SparkSession, dir: String): Unit = {
    val done = new java.io.File(s"$dir/_GENERATED")
    if (done.exists()) return
    // documents: 50k unique background + 100k byte-identical copies
    // (group 0 = 2,000 copies; groups 1..490 = 200 copies) + 490
    // near-dup variants. Group texts are 40-69 words so every one passes
    // cur1's token-count gate; background 30-119 words.
    val bg = spark.range(0, 50000).select(
      col("id").as("doc_id"),
      words(col("id"), lit(30) + pmod(xxhash64(col("id"), lit(7L)), lit(90L)))
        .as("text"),
      when(pmod(xxhash64(col("id"), lit(11L)), lit(10L)) < 9, lit("en"))
        .otherwise(element_at(
          array(lit("es"), lit("de"), lit("fr"), lit("zh")),
          (pmod(xxhash64(col("id"), lit(13L)), lit(4L)) + 1).cast("int")))
        .as("lang"),
      concat(lit("src"), pmod(xxhash64(col("id"), lit(17L)), lit(10L)))
        .as("source"))
    val dup = spark.range(0, 100000)
      .withColumn("g", expr("case when id < 2000 then 0L else (id - 2000) div 200 + 1 end"))
      .select(
        (col("id") + 1000000L).as("doc_id"),
        words(col("g") + 5000000L, lit(40) + pmod(col("g"), lit(30))).as("text"),
        lit("en").as("lang"), lit("src0").as("source"))
    val variants = spark.range(1, 491).select(
      (col("id") + 2000000L).as("doc_id"),
      concat(
        words(col("id") + 5000000L, lit(40) + pmod(col("id"), lit(30))),
        lit(" vx"), col("id")).as("text"),
      lit("en").as("lang"), lit("src0").as("source"))
    bg.unionByName(dup).unionByName(variants)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // embeddings: 17.5k unique background vectors + 6k byte-identical
    // copies of ONE vector + 1.5k near-copies (dim 0 perturbed by up to
    // 0.15 on a ~4.6-norm vector: cosine vs the base stays > 0.999).
    val hot = vec(lit(-1L))
    val bgV = spark.range(0, 17500).select(
      col("id").as("vec_id"), vec(col("id")).as("embedding"))
    val hotV = spark.range(17500, 23500).select(
      col("id").as("vec_id"), hot.as("embedding"))
    val nearV = spark.range(23500, 25000).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        when(j === 0,
          (element_at(hot, 1) + (col("id") - 23500L).cast("float") * lit(0.0001f))
            .cast("float"))
          .otherwise(element_at(hot, j.cast("int") + 1))).as("embedding"))
    bgV.unionByName(hotV).unionByName(nearV)
      .withColumn("label", pmod(col("vec_id"), lit(10L)).cast("int"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // events: 1M rows, event_type "hot" holds 30%, 20 cold types share
    // the rest.
    spark.range(0, 1000000).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 1000000L).as("ts"),
      pmod(xxhash64(col("id"), lit(31L)), lit(50000L)).as("user_id"),
      when(pmod(col("id"), lit(10L)) < 3, lit("hot"))
        .otherwise(concat(lit("t"), pmod(xxhash64(col("id"), lit(37L)), lit(20L))))
        .as("event_type"),
      (pmod(xxhash64(col("id"), lit(41L)), lit(10000L)).cast("double") / 100.0)
        .as("value"),
      lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    done.createNewFile(): Unit
  }

  /** Successful-task durations, drained per measured query. Boxed
    * j.l.Long in the queue: a Scala-primitive element type would unbox
    * poll()'s empty-queue null to 0L and the drain loop would never see
    * the end. */
  private final class TaskStats extends SparkListener {
    private val q = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null && t.taskInfo.successful)
        q.add(java.lang.Long.valueOf(t.taskInfo.duration)): Unit
    def drain(): Seq[Long] = {
      val out = scala.collection.mutable.ArrayBuffer[Long]()
      var v = q.poll()
      while (v ne null) { out += v.longValue(); v = q.poll() }
      out.toSeq
    }
  }

  private final case class Run(name: String, wallSec: Double, rows: Long,
      tasks: Int, maxTaskMs: Long, p50TaskMs: Long)

  private def pct(xs: Seq[Long], p: Double): Long = HarnessSession.pct(xs, p)

  def main(args: Array[String]): Unit = {
    val reportPath = args.headOption.getOrElse("STRESS.md")
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_stress"
    val cpus = HarnessSession.cpus()
    val spark = HarnessSession.local(cpus)
    new java.io.File(workDir).mkdirs()
    generate(spark, workDir)
    generate15(spark, workDir)

    val stats = new TaskStats
    spark.sparkContext.addSparkListener(stats)
    def measure(name: String)(df: => DataFrame): Run = {
      SparkEntry.releaseTracked(); spark.catalog.clearCache()
      System.gc()
      stats.drain()
      val t0 = System.nanoTime()
      val n = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      // Let straggler task-end events land before draining: the listener
      // bus is async, and the LAST task to finish — the exact maxTaskMs
      // evidence asserted on — is the likeliest event still in flight.
      Thread.sleep(200)
      val ts = stats.drain()
      val r = Run(name, wall, n, ts.size, ts.maxOption.getOrElse(0L), pct(ts, 0.5))
      println(f"[stress] ${r.name}%-28s ${r.wallSec}%8.2f s ${r.rows}%12d rows " +
        f"tasks=${r.tasks}%5d maxTask=${r.maxTaskMs}%6d ms p50Task=${r.p50TaskMs}%5d ms")
      r
    }

    val t = Tables(spark, workDir)
    val docs = t.documents
    val embs = t.embeddings

    // ---------------- direct guard measurements ----------------
    println("[stress] computing guard metrics…")
    val nDocs = docs.count()
    val nDistinctTexts =
      docs.select(md5(col("text").cast("binary"))).distinct().count()
    val docCollapse = nDocs - nDistinctTexts

    val nVecs = embs.count()
    val nDistinctVecs = embs
      .select(md5(to_json(col("embedding")).cast("binary"))).distinct().count()
    val vecCollapse = nVecs - nDistinctVecs

    // Banded-candidate arithmetic, minhash (k=16, 4 bands of 4 — the
    // q_dd3 configuration). "naive" = the self-join the banded stage
    // would do WITHOUT the exact-dup collapse (sum of C(n,2) over
    // (band, key) buckets counting every copy); "guarded" = the same sum
    // counting each distinct shingle set once — the join the engine
    // actually runs.
    val sigs = functions.DedupFunctions.minHashSignatures(
        docs, "doc_id", "text", shingleN = 3, k = 16)
      .withColumn("shkey", md5(to_json(col("sh")).cast("binary")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mhBand = (0 until 4)
      .map(b => sigs.select(lit(b).as("band"),
        to_json(slice(col("sig"), b * 4 + 1, 4)).as("key"), col("shkey")))
      .reduce(_ unionByName _)
    def pairSum(buckets: DataFrame): Long =
      buckets.groupBy("band", "key").agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) div 2"))).collect()(0).getLong(0)
    val mhNaive = pairSum(mhBand)
    val mhGuarded = pairSum(mhBand.select("band", "key", "shkey").distinct())

    // dd6/dd7 CC edge volume (the q_dd6/q_dd7 configuration: bands=4,
    // threshold 0.5): the expanded member-level pair set — quadratic in
    // exact-dup group size, the straggler class this harness first
    // caught in dd10's CC — vs the connectivity-sufficient edge set
    // (rep-level pairs + member→rep stars) the cluster queries consume
    // since minHashConnectivityEdges.
    val ccExpanded = functions.DedupFunctions
      .minHashNearDupPairsFromSignatures(sigs, k = 16, bands = 4,
        threshold = 0.5).count()
    val ccConnectivity = functions.DedupFunctions
      .minHashConnectivityEdges(sigs, k = 16, bands = 4,
        threshold = 0.5).count()
    sigs.unpersist()

    // Same arithmetic for simhash (64-bit sig, 4 × 16-bit bands — the
    // q_dd8 configuration; collapse keys on the signature itself).
    val ssigs = functions.DedupFunctions.simHashSignatures(docs, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shBand = (0 until 4)
      .map(b => ssigs.select(lit(b).as("band"),
        call_function("shiftrightunsigned", col("sig"), lit(16 * b))
          .bitwiseAND(lit(0xFFFFL)).as("key"), col("sig").as("full")))
      .reduce(_ unionByName _)
    val shNaive = pairSum(shBand)
    val shGuarded = pairSum(shBand.select("band", "key", "full").distinct())
    ssigs.unpersist()

    // dd12's maxDocsPerHash = 50 cap: k-gram hashes whose doc frequency
    // exceeds the cap are buckets the cap bounded (every duplicate group
    // is ≥ 200 docs, so each of its hashes would otherwise fan out into
    // C(≥200·positions, 2) position pairs).
    val hotHashes = functions.DedupFunctions
      .spanFingerprints(docs, "doc_id", "text", k = 20)
      .select(col("id"), explode(col("kh")).as("h"))
      .distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 50).count()

    // dd15 prefix-filter guard arithmetic on the Zipf corpus: sum of
    // C(n,2) over (block, prefix-token) buckets — the candidate probes
    // the equi-join would form — WITHOUT vs WITH the exact-dup
    // collapse. Each side computes its own rarest-first order (df over
    // its own doc set), mirroring what each pipeline would run.
    val d15 = spark.read.parquet(s"$workDir/documents15.parquet")
    def prefixBuckets(docs: DataFrame): DataFrame = {
      val base = docs.select(col("doc_id").as("id"), col("lang").as("blk"),
        functions.DedupFunctions.wordSet(col("text")).as("ws"))
      val toks = base.select(col("id"), col("blk"), explode(col("ws")).as("tok"))
      val tdf = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      toks.join(tdf, "tok").groupBy("id", "blk")
        .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("st"))
        .select(col("blk"), expr("transform(st, s -> s.tok)").as("toks"),
          size(col("st")).cast("long").as("n"))
        .selectExpr("blk as band",
          "explode(slice(toks, 1, cast(n - ((4 * n + 4) div 5) + 1 as int))) as key")
    }
    val d15Reps = d15
      .withColumn("fp", xxhash64(col("lang"),
        to_json(array_sort(functions.DedupFunctions.wordSet(col("text"))))))
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .join(d15, Seq("doc_id"))
    val apNaive = pairSum(prefixBuckets(d15))
    val apGuarded = pairSum(prefixBuckets(d15Reps))
    val dd15Run = measure("dd15_zipf_allpairs")(
      SparkEntry.track(functions.DedupFunctions.allPairsJaccard(d15,
        "doc_id", "text", "lang", tauNum = 4, tauDen = 5)))

    // ---------------- the queries under stress ----------------
    val names = Seq(
      "q_dd3_minhash_lsh", "q_dd8_simhash_pairs", "q_dd12_substring_dup",
      "q_dd10_semantic_dedup", "q_dd6_dup_clusters", "q_dd7_dedup_corpus",
      "q_cur1_curation_funnel", "q_j10_salted_join",
      // round 8: the bigram-LM filter's (doc,bigram) pre-aggregation is
      // its hot-word guard — 93% identical docs make every bigram of the
      // hot text a degenerate key; and PageRank's per-round join-agg
      // must stay bounded when the modulus graph rides a 150k-node
      // corpus with 2k-copy duplicate mass.
      "q_txt16_bigram_lm", "q_gr1_pagerank",
      // round 9: the ANN RETRIEVAL paths under the hot-cell corpus (the
      // fit was stress-fixed in round 8; these drive the probe/rerank).
      "q_sim3_ivf_ann", "q_sim6_pq_ann",
      // round 9: the NB classifier under duplicate mass — 99.5k
      // byte-identical docs make every feature of the hot text a
      // degenerate (doc,bucket) key family; the pre-agg before the
      // broadcast model join is the guard that has to hold.
      "q_cls1_nb_quality")
    val runs = names.map(n => measure(n)(SparkEntry.queries(n)(spark, workDir)))

    // ---------------- graph stress: hub-heavy topology ----------------
    // One node incident on ~30% of edges — the link-farm/superhub shape
    // a web graph actually has, and the input on which a naive wedge
    // enumeration (Σ C(deg,2)) is quadratic in the hub degree. The
    // degree-ordered orientation must bound every out-degree at O(√m)
    // and cut the wedge candidates by orders of magnitude.
    val nG = 100000L
    val gBg = spark.range(0, 200000).select(
      pmod(xxhash64(col("id"), lit(61L)), lit(nG)).as("x"),
      pmod(xxhash64(col("id"), lit(67L)), lit(nG)).as("y"))
    // The hub is adjacent to EVERY other node (deterministic — random
    // draws collapse under distinct()): ~100k of ~300k edges, and every
    // background edge closes a triangle through the hub.
    val gHub = spark.range(1, nG).select(lit(0L).as("x"), col("id").as("y"))
    val gEdges = gBg.unionByName(gHub)
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mEdges = gEdges.count()
    val gNodes = spark.range(0, nG).select(col("id").as("v"))
    val hubDeg = gEdges.filter(col("a") === 0L || col("b") === 0L).count()
    val gDeg = gEdges.select(col("a").as("v"))
      .unionAll(gEdges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val naiveWedges = gDeg.agg(sum(expr("deg * (deg - 1) div 2")))
      .head().getLong(0)
    // The orientation's out-degree arithmetic (triangleCounts' internal
    // orientByDegree, replayed): every edge directed from its
    // (deg,id)-smaller endpoint.
    val gWithDeg = gEdges
      .join(gDeg.select(col("v").as("a"), col("deg").as("dega")), "a")
      .join(gDeg.select(col("v").as("b"), col("deg").as("degb")), "b")
    val gAFirst = struct(col("dega"), col("a")) < struct(col("degb"), col("b"))
    val gOutDeg = gWithDeg
      .select(when(gAFirst, col("a")).otherwise(col("b")).as("src"))
      .groupBy("src").agg(count(lit(1)).as("od"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val maxOutDeg = gOutDeg.agg(max("od")).head().getLong(0)
    val orientedWedges = gOutDeg.agg(sum(expr("od * (od - 1) div 2")))
      .head().getLong(0)
    gOutDeg.unpersist()
    val gr2Run = measure("gr2_hub_triangles")(
      functions.GraphFunctions.triangleCounts(gNodes, gEdges))
    var kcInfo: Map[String, Long] = Map.empty
    val gr3Run = measure("gr3_hub_kcore") {
      val m = functions.GraphFunctions.kCore(gNodes, gEdges, k = 3,
        rounds = 32)
      kcInfo = m.info
      SparkEntry.track(m) // released by the next measure()'s releaseTracked
    }
    // KMV neighborhood on the SAME hub graph: the sketch's defining
    // claim is hub-immunity — per-round state is nodes·k slots no
    // matter that the hub's 2-hop ball is the entire graph (the exact
    // pair materialization here would be ~Σ deg² ≈ the hub degree
    // squared ≈ 10^10 rows). The hub's own ball-1 estimate doubles as
    // an accuracy probe against known truth (= every node).
    val gr5Run = measure("gr5_hub_kmv")(
      functions.GraphFunctions.kmvNeighborhood(gNodes, gEdges, k = 16,
        seed = "gr5"))
    val hubBall1Est = functions.GraphFunctions
      .kmvNeighborhood(gNodes, gEdges, k = 16, seed = "gr5")
      .filter(col("v") === 0L).select("ball1_est").head().getLong(0)
    gEdges.unpersist()

    // ---------------- ANN probe stress (sim3's IVF configuration) -----
    // The quantizer fit is already stress-fixed (dedup before Lloyd's);
    // this measures the PROBE side on the hot-cell corpus: cell-size
    // distribution after assignment, and the candidate volume the 8
    // queries' nprobe=3 probe actually scans vs brute force.
    val annCents = functions.Similarity.trainSphericalCentroids(
      embs, "vec_id", "embedding", nlist = 8, maxIter = 4)
    val cellSizes = embs
      .withColumn("cell", functions.Similarity.assignCell(col("embedding"), annCents))
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val maxCell = cellSizes.values.max
    val queryVecs = embs.filter(col("vec_id") < 8)
      .select("vec_id", "embedding").collect()
      .map(r => r.getSeq[Float](1).toArray.map(_.toDouble))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.max(math.sqrt(na) * math.sqrt(nb), 1e-12)
    }
    val probeCand = queryVecs.map { q =>
      annCents.zipWithIndex.map { case (c, ci) => (cos(q, c), ci) }
        .sortBy(-_._1).take(3)
        .map { case (_, ci) => cellSizes.getOrElse(ci, 0L) }.sum
    }.sum
    val bruteCand = queryVecs.length.toLong * nVecs

    // ---------------- as-of join stress: hot-key temporal join --------
    // One user on ~30% of BOTH sides — the shape the reference's price
    // enrichment actually has (the native token carries most donations,
    // tokens/models.py:64-74). A key-only equi-join compares
    // |T_hot| × |P_hot| row pairs inside ONE sort-merge group (quadratic
    // in key heat); the tolerance-bucketed join (AsOfJoin's default)
    // keys the shuffle by (user, floor(t/tolerance)) so comparisons are
    // bounded per time slice. Both forms must return IDENTICAL rows —
    // the guard is a physical rewrite, not a semantics change.
    val asofTol = 3600L // seconds; window = ±1 h over a 30-day span
    val asofSpanUs = 30L * 86400L * 1000000L
    def asofSide(seed: Long, idOff: Long): DataFrame =
      spark.range(0, 50000).select(
        (col("id") + idOff).as("event_id"),
        when(pmod(xxhash64(col("id"), lit(seed)), lit(10L)) < 3, lit(0L))
          .otherwise(pmod(xxhash64(col("id"), lit(seed + 1)), lit(7000L)) + 1)
          .as("user_id"),
        timestamp_micros(pmod(xxhash64(col("id"), lit(seed + 2)),
          lit(asofSpanUs))).as("ts"),
        (pmod(xxhash64(col("id"), lit(seed + 3)), lit(1000L)).cast("double")
          / 100.0).as("value"))
    def asofT = asofSide(101L, 0L)
    def asofP = asofSide(211L, 10000000L)
    val asofHotT = asofT.filter(col("user_id") === 0L).count()
    // Analytic comparison volume: what each join's equal-key groups
    // multiply out to. Key-only: Σ_u |T_u|·|P_u|. Bucketed:
    // Σ_{u,b} |T_ub| · Σ_{b'∈{b−1,b,b+1}} |P_ub'|.
    val asofNaiveCmp = asofT.groupBy("user_id").agg(count(lit(1)).as("tc"))
      .join(asofP.groupBy("user_id").agg(count(lit(1)).as("pc")), "user_id")
      .agg(sum(col("tc") * col("pc"))).head().getLong(0)
    val asofBUs = asofTol * 1000000L
    val asofBucketCmp = {
      def sideB(df: DataFrame, cnt: String) = df.groupBy(col("user_id"),
          call_function("div", unix_micros(col("ts")), lit(asofBUs)).as("b"))
        .agg(count(lit(1)).as(cnt))
      sideB(asofT, "tc")
        .select(col("user_id"),
          explode(array(col("b") - 1, col("b"), col("b") + 1)).as("b"),
          col("tc"))
        .join(sideB(asofP, "pc"), Seq("user_id", "b"))
        .agg(sum(col("tc") * col("pc"))).head().getLong(0)
    }
    def asofRun(bucketed: Boolean): DataFrame =
      operators.AsOfJoin.nearest(asofT, asofP, Seq("user_id"), Seq("user_id"),
        "ts", "ts", tolerance = asofTol, leftId = "event_id",
        rightTieBreak = "event_id", timeBucketed = bucketed)
    val asofBRun = measure("asof_hot_bucketed")(asofRun(bucketed = true))
    val asofURun = measure("asof_hot_unbucketed_ctl")(asofRun(bucketed = false))
    val asofPick = (df: DataFrame) => df.select(col("l.event_id"),
      col("r.event_id").as("rid"), col("__delta_us"))
    val asofDiff = asofPick(asofRun(true)).exceptAll(asofPick(asofRun(false)))
      .count() +
      asofPick(asofRun(false)).exceptAll(asofPick(asofRun(true))).count()

    // Unsalted control for j10: the identical merge-hinted join WITHOUT
    // the salt — the hot key's 300k rows land on one reducer.
    val dec182 = org.apache.spark.sql.types.DecimalType(18, 2)
    def j10Dim = t.events.groupBy(col("event_type").as("t_event_type"))
      .agg((sum(col("value").cast(dec182)).cast("double") /
        count(lit(1))).as("avg_value"))
    val control = measure("j10_unsalted_control")(
      t.events.select("event_id", "event_type", "value")
        .join(j10Dim.hint("merge"),
          col("event_type") === col("t_event_type"))
        .select(col("event_id"), col("event_type"),
          (col("value") > col("avg_value")).as("above_avg")))

    // dd10 guard evidence from the query's own output: hot-cell size and
    // the keep-one decision. (Re-runs the query once more; cheap relative
    // to certainty.)
    val dd10 = SparkEntry.queries("q_dd10_semantic_dedup")(spark, workDir)
      .filter(col("section") === "doc")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hotCell = dd10.groupBy("cell").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc).limit(1).collect()(0)
    val dd10Kept = dd10.filter(col("kept")).count()
    val dd10Total = dd10.count()
    dd10.unpersist()

    // ---------------- assertions: every guard load-bearing ----------------
    def check(cond: Boolean, msg: String): Unit =
      if (!cond) throw new AssertionError(s"STRESS FAILED: $msg")
    // 100,490 duplicate-mass docs collapse onto 491 representatives
    // (2,000-copy hot group + 490 × 200-copy groups): 99,509 removed.
    check(docCollapse >= 99000, s"expected ≥99k collapsed duplicate docs, got $docCollapse")
    // 6,000 identical vectors collapse onto 1 representative.
    check(vecCollapse >= 5900, s"expected ≥5.9k collapsed duplicate vectors, got $vecCollapse")
    check(mhGuarded * 100 <= mhNaive,
      s"minhash collapse must cut banded candidates ≥100×: naive=$mhNaive guarded=$mhGuarded")
    check(shGuarded * 100 <= shNaive,
      s"simhash collapse must cut banded candidates ≥100×: naive=$shNaive guarded=$shGuarded")
    check(hotHashes > 0, "dd12: no k-gram hash exceeded maxDocsPerHash — cap never engaged")
    check(ccConnectivity * 50 <= ccExpanded,
      s"dd6/dd7 connectivity edges must cut CC input ≥50×: " +
        s"expanded=$ccExpanded connectivity=$ccConnectivity")
    check(hotCell.getLong(1) >= 7000,
      s"dd10: expected a hot quantizer cell ≥7k vectors, got ${hotCell.getLong(1)}")
    check(dd10Kept < dd10Total,
      "dd10: keep-one decision removed nothing on a corpus of 7.5k duplicate vectors")
    runs.foreach(r => check(r.rows > 0, s"${r.name}: empty result under stress"))
    // dd15: the collapse must cut prefix-join probes ≥10× (duplicate
    // mass is 40% of the corpus concentrated in 91 groups; measured
    // ~17× on this corpus), and the output must contain at least the
    // full expansion of the planted duplicate groups:
    // C(2000,2) + 90·C(200,2) = 3,790,000 pairs.
    check(apGuarded * 10 <= apNaive,
      s"dd15 collapse must cut prefix candidates ≥10×: naive=$apNaive guarded=$apGuarded")
    check(dd15Run.rows >= 3790000L,
      s"dd15: expected ≥3.79M expanded pairs, got ${dd15Run.rows}")
    // gr2/gr3 on the hub graph: the hub must actually hold ~30% of edges
    // (the stress premise), the orientation must bound EVERY out-degree
    // at O(√m) — the property that keeps the wedge join's fan-out linear
    // when a naive enumeration is quadratic in the hub degree — and the
    // k-core loop must CONVERGE (fixpoint exit), not run to its cap.
    check(hubDeg * 10L >= mEdges * 3L,
      s"hub holds ${hubDeg}/$mEdges edges — premise broken (<30%)")
    check(maxOutDeg <= 4L * math.sqrt(2.0 * mEdges).toLong,
      s"orientation out-degree $maxOutDeg exceeds O(√m) bound " +
        s"(m=$mEdges, bound=${4L * math.sqrt(2.0 * mEdges).toLong})")
    check(orientedWedges * 100L <= naiveWedges,
      s"orientation must cut wedge candidates ≥100×: " +
        s"naive=$naiveWedges oriented=$orientedWedges")
    check(kcInfo.getOrElse("converged", 0L) == 1L &&
      kcInfo.getOrElse("rounds_run", 99L) < 32L,
      s"gr3 hub k-core did not converge within the cap: $kcInfo")
    check(gr2Run.rows == nG && gr3Run.rows == nG,
      s"graph runs must cover every node: gr2=${gr2Run.rows} gr3=${gr3Run.rows}")
    check(gr5Run.rows == nG,
      s"gr5 KMV must estimate every node: ${gr5Run.rows} of $nG")
    // The hub's true ball-1 is the whole graph (it is adjacent to every
    // node); a [÷2, ×2] band is ~3.7σ for KMV at k=16 — and the draw is
    // deterministic, so this is a fixed property of the corpus, not a
    // flaky sample.
    check(hubBall1Est * 2L >= nG && hubBall1Est <= nG * 2L,
      s"hub ball1 estimate $hubBall1Est vs true $nG out of the KMV band")
    // sim3's probe: the hot mass must be contained in one cell (not
    // smeared by a degenerate fit) and the nprobe=3 probe must scan
    // materially less than brute force even with 30% of the corpus in
    // one cell.
    check(maxCell >= 7000L,
      s"ANN probe: expected the hot mass contained in one cell ≥7k, got $maxCell")
    check(probeCand * 2 <= bruteCand,
      s"ANN probe must scan <half of brute force: probe=$probeCand brute=$bruteCand")
    // as-of: premise (hot user ≥25% of a side), guard (≥20× comparison
    // cut), and RESULT IDENTITY between the two physical forms.
    check(asofHotT * 4 >= 50000L,
      s"as-of premise broken: hot user holds $asofHotT/50000 tx rows (<25%)")
    check(asofBucketCmp * 20 <= asofNaiveCmp,
      s"time-bucketed as-of must cut comparisons ≥20×: " +
        s"naive=$asofNaiveCmp bucketed=$asofBucketCmp")
    check(asofDiff == 0 && asofBRun.rows == asofURun.rows,
      s"bucketed as-of result differs from key-only control: diff=$asofDiff " +
        s"rows ${asofBRun.rows} vs ${asofURun.rows}")

    // ---------------- report ----------------
    val sb = new StringBuilder
    sb ++= "# STRESS — skew/scale harness results\n\n"
    sb ++= s"Generated by `runMain graft.Stress` on local[$cpus] " +
      s"(shuffle.partitions=$cpus, AQE on). Corpus in `$workDir` " +
      "(deterministic; delete to regenerate).\n\n"
    sb ++= "## Corpus (engineered degeneracy, ~10× sf0.1 row volume)\n\n"
    sb ++= f"- documents: $nDocs%,d rows, $nDistinctTexts%,d distinct texts → " +
      f"**$docCollapse%,d byte-identical duplicates** (one 2,000-copy hot " +
      "group + 490 × 200-copy groups + 490 near-dup variants); ~93% `en`.\n"
    sb ++= f"- embeddings: $nVecs%,d vectors, $nDistinctVecs%,d distinct → " +
      f"**$vecCollapse%,d identical copies** of one vector, plus 1,500 " +
      "near-copies — all in one quantizer cell.\n"
    sb ++= "- events: 1,000,000 rows; `event_type = \"hot\"` holds 30%.\n\n"
    sb ++= "## Guard engagement (measured, not audited)\n\n"
    sb ++= "| guard | without | with | effect |\n|---|---|---|---|\n"
    sb ++= f"| dd3 minhash exact-dup collapse (banded candidates) | $mhNaive%,d | $mhGuarded%,d | ${mhNaive.toDouble / math.max(mhGuarded, 1)}%,.0f× fewer join probes |\n"
    sb ++= f"| dd8 simhash exact-dup collapse (banded candidates) | $shNaive%,d | $shGuarded%,d | ${shNaive.toDouble / math.max(shGuarded, 1)}%,.0f× fewer join probes |\n"
    sb ++= f"| dd12 maxDocsPerHash=50 cap | — | $hotHashes%,d hashes over cap | every one a bounded bucket |\n"
    sb ++= f"| dd6/dd7 CC edge set (connectivity vs expanded pairs) | $ccExpanded%,d | $ccConnectivity%,d | ${ccExpanded.toDouble / math.max(ccConnectivity, 1)}%,.0f× fewer CC edges |\n"
    sb ++= f"| dd10 vector-fingerprint collapse | $nVecs%,d vectors | $nDistinctVecs%,d reps | hot cell ${hotCell.getLong(1)}%,d vecs; kept $dd10Kept%,d of $dd10Total%,d |\n"
    sb ++= f"| dd15 exact-dup collapse (prefix-join probes, Zipf corpus) | $apNaive%,d | $apGuarded%,d | ${apNaive.toDouble / math.max(apGuarded, 1)}%,.0f× fewer join probes |\n"
    val salted = runs.find(_.name == "q_j10_salted_join").get
    sb ++= f"| j10 salt (8-way) vs unsalted | max task ${control.maxTaskMs}%,d ms | max task ${salted.maxTaskMs}%,d ms | hot key spread over 8 reducers |\n"
    sb ++= f"| gr2 degree-ordered orientation (wedge candidates, hub graph) | $naiveWedges%,d | $orientedWedges%,d | ${naiveWedges.toDouble / math.max(orientedWedges, 1)}%,.0f× fewer wedges; max out-degree $maxOutDeg%,d on m=$mEdges%,d |\n"
    sb ++= f"| gr3 k-core convergence exit (hub graph, cap 32) | 32-round cap | ${kcInfo.getOrElse("rounds_run", -1L)}%d rounds run | fixpoint exit engaged (converged=${kcInfo.getOrElse("converged", -1L)}%d) |\n"
    sb ++= f"| gr5 KMV neighborhood vs exact 2-hop pair set (hub graph) | ${naiveWedges * 2}%,d wedge pairs | ${nG * 16}%,d sketch slots | hub ball-1 estimate $hubBall1Est%,d vs true $nG%,d |\n"
    sb ++= f"| sim3 IVF probe (nprobe=3 of nlist=8, hot cell $maxCell%,d vecs) | $bruteCand%,d brute-force probes | $probeCand%,d probed | ${bruteCand.toDouble / math.max(probeCand, 1)}%.1f× fewer candidates |\n"
    sb ++= f"| j6/j13 time-bucketed as-of (join comparisons, hot-user ±1 h) | $asofNaiveCmp%,d | $asofBucketCmp%,d | ${asofNaiveCmp.toDouble / math.max(asofBucketCmp, 1)}%,.0f× fewer; result identity verified (diff=$asofDiff) |\n\n"
    sb ++= "## Query runs (count() wall time; task times from listener)\n\n"
    sb ++= "| query | wall s | output rows | tasks | max task ms | p50 task ms |\n"
    sb ++= "|---|---|---|---|---|---|\n"
    (runs :+ dd15Run :+ gr2Run :+ gr3Run :+ gr5Run :+ asofBRun :+ asofURun
        :+ control)
      .foreach { r =>
      sb ++= f"| ${r.name} | ${r.wallSec}%.2f | ${r.rows}%,d | ${r.tasks}%d | ${r.maxTaskMs}%,d | ${r.p50TaskMs}%,d |\n"
    }
    sb ++= "\nNotes:\n"
    sb ++= "- dd3/dd8 output the TRUE all-pairs result (inherent to the " +
      "pair contract — ~12M rows from the planted duplicate groups); the " +
      "guard bounds the JOIN, not the output: the banded self-join ran on " +
      f"$mhGuarded%,d / $shGuarded%,d rep-level candidates instead of " +
      f"$mhNaive%,d / $shNaive%,d.\n"
    sb ++= "- The unsalted j10 control runs under AQE, whose skew-join " +
      "split can mitigate a hot reducer at this scale; the salted path is " +
      "for the shapes AQE cannot rewrite (see PlanAudit's AQE-on j10 check).\n"
    sb ++= "- This harness caught two real dd10 stragglers on its first " +
      "runs. (1) The quantizer fit trained on the raw sample, so the " +
      "6,000-copy vector dragged most centroids onto one point and the " +
      "corpus's whole distinct density funneled into one residual cell " +
      "(42 s max task, 108 s wall) — fixed by deduping the normalized " +
      "fit sample before Lloyd's (Similarity.trainSphericalCentroids), " +
      "the fit-side twin of the operators' exact-dup collapse. (2) " +
      "semanticDedup fed the fully EXPANDED member-pair graph into " +
      "connected components — quadratic in duplicate-group size (the " +
      "6,000-copy group alone contributes ~18M intra edges; 40 s CC " +
      "straggler) — fixed by a connectivity-sufficient edge set " +
      "(rep-level pairs + member→rep star edges, " +
      "Similarity.nearDupConnectivityEdges), which provably yields " +
      "identical components and min-id cluster decisions at O(members) " +
      "edge volume. The numbers above are post-fix.\n"
    sb ++= "- Round 8 extended the dd10 connectivity fix to the minhash " +
      "cluster queries: dd6/dd7 now feed CC " +
      "DedupFunctions.minHashConnectivityEdges (rep-level verified pairs " +
      "+ member→rep star edges — provably identical components and " +
      "min-id labels) instead of the expanded all-pairs set, and both " +
      "run under this harness with the edge-volume reduction in the " +
      "guard table above.\n"
    sb ++= "- dd15 (exact all-pairs prefix filter) is stressed on its own " +
      "50,091-doc corpus: 40% byte-identical duplicate mass in 91 groups " +
      "over a Zipf(1) 30,000-type vocabulary — the heavy-tailed shape " +
      "real text has and the contract the prefix filter is designed for. " +
      "Its output is the TRUE pair expansion (≥3.79M rows from the " +
      "planted groups alone); the collapse bounds the JOIN. The main " +
      "corpus's uniform 1,000-token vocabulary is the documented " +
      "out-of-contract worst case for prefix filtering (every token is a " +
      "stopword, nothing is rare) — that degenerate shape is what the " +
      "banded-LSH family (dd3/dd8) is for, which is why both operator " +
      "families exist.\n"
    sb ++= "- Round 9 adds the graph and retrieval stress classes: gr2/gr3 " +
      f"run on a hub-heavy graph (node 0 on $hubDeg%,d of $mEdges%,d edges " +
      "≈ 30%) where the degree-ordered orientation's O(√m) out-degree " +
      "bound is what keeps the wedge join linear; gr3's k-core uses the " +
      "convergence exit (fixpoint, cap as a backstop); sim3/sim6 drive " +
      "the IVF/PQ RETRIEVAL paths over the hot-cell corpus with the probe " +
      "candidate volume measured directly against brute force.\n"
    sb ++= "- The as-of rows measure the TIME-BUCKET guard now default in " +
      "AsOfJoin (q_j6/q_j13 and the gold USD enrichment): on a corpus " +
      "where one user holds 30% of both join sides, the key-only form " +
      f"multiplies $asofNaiveCmp%,d row pairs inside one sort-merge group " +
      f"while the (key, floor(t/tolerance)) form touches $asofBucketCmp%,d " +
      "— and the two return byte-identical results (checked both " +
      "directions), so the guard is purely physical. The left side " +
      "shuffles 3× (nearest) / 2× (before) probe rows for it; at " +
      "reference scale the dimension broadcasts and neither form " +
      "shuffles the fact side.\n"
    sb ++= "- Every assertion in graft.Stress passed: collapse counts, " +
      "≥100× candidate reduction (≥10× for dd15's prefix probes), cap " +
      "engagement, hot-cell containment, keep-one removal, non-empty " +
      "results, dd15's full duplicate-group expansion, the orientation's " +
      "out-degree bound and ≥100× wedge cut, k-core convergence within " +
      "the cap, the IVF probe scanning <half of brute force, and the " +
      "as-of comparison cut with result identity.\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(reportPath), sb.toString)
    println(s"[stress] report written to $reportPath")
    spark.stop()
  }
}
