package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.functions.{DedupFunctions, GraphFunctions, SampleFunctions}
import graft.operators.{MergeWriter, Relational}

/** Re-execution determinism: the task-retry replay suite.
  *
  * At 1000 executors task failures are ROUTINE (preemption, OOM kills,
  * disk faults), and Spark's recovery contract is "re-run the task" — so
  * every distributed claim this repo makes ("content-hash draws",
  * "shuffle-order-proof", "retry-stable") is ultimately a claim that a
  * re-executed task reproduces its lost output exactly. A violation is
  * silent corruption: the job succeeds, some rows came from attempt 0 and
  * some from attempt 1, and nothing downstream can tell.
  *
  * The suite injects a failure into the FIRST attempt of every task of an
  * operator's input scan (the shared session master is `local[4, 2]`:
  * maxFailures=2 grants exactly one retry), runs the operator to
  * completion through real scheduler retries, and asserts the result is
  * row-identical to the failure-free run. Each test also asserts the
  * injection actually fired — a vacuous pass (no task failed) is a test
  * bug, not evidence.
  *
  * Operators chosen for their distinct re-execution risk surfaces:
  * windowed prefix sums (packShardsByBudget), iterative persisted loops
  * (pageRank, minhash LSH with exact-dup collapse), salted shuffles
  * (saltedJoin — whose salt is content-deterministic for exactly this
  * reason; see its scaladoc on indeterminate stages), seeded per-group
  * picks, LWW aggregation, and the merge WRITE path (task commit
  * protocol: a retried write task must not double-commit rows).
  */
@org.scalatest.tags.Slow
class RetryReplaySpec extends SparkSpec {
  import RetryReplaySpec._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toIndexedSeq

  /** Run `op` failure-free and under first-attempt task failure; assert
    * identical results and that the injection actually fired. */
  private def assertRetryInvariant(tag: String, input: DataFrame,
      op: DataFrame => DataFrame): Unit = {
    val expected = rows(op(input))
    assert(expected.nonEmpty, s"$tag: degenerate fixture — empty result")
    injected.removeIf(_.startsWith(s"$tag/"))
    val actual = rows(op(flakyOnce(input, tag)))
    assert(countFor(tag) > 0, s"$tag: no task failure was injected — " +
      "the retry path never ran and this test proved nothing")
    assert(actual == expected,
      s"$tag: result changed under task retry " +
        s"(${countFor(tag)} injected failures)")
  }

  test("packShardsByBudget: two-level prefix sum identical under task retry") {
    val docs = spark.range(1000).select(col("id").as("doc_id"),
      (pmod(col("id"), lit(50)) + 1).as("toks"))
    assertRetryInvariant("shards", docs,
      d => SampleFunctions.packShardsByBudget(d, "doc_id", col("toks"),
        budgetTokens = 200L, seed = "retry"))
  }

  test("minhash LSH near-dup pairs: iterative persisted pipeline identical under task retry") {
    // 20 distinct contents × 15 copies: exercises the exact-dup collapse,
    // rep-level banding, candidate join, verify and member expansion.
    val docs = spark.range(300).select(col("id").as("doc_id"),
      concat(lit("the quick brown fox jumps over the lazy dog variant "),
        pmod(col("id"), lit(20))).as("text"))
    assertRetryInvariant("minhash", docs,
      d => DedupFunctions.minHashNearDupPairs(d, "doc_id", "text",
        shingleN = 3, k = 32, bands = 8, threshold = 0.5))
  }

  test("pageRank: persisted ping-pong iteration identical under task retry") {
    val nodes = spark.range(100).select(col("id").as("v"))
    val edges = spark.range(100).select(col("id").as("src"),
        pmod(col("id") * 7 + 3, lit(100)).as("dst"))
      .union(spark.range(100).select(col("id").as("src"),
        pmod(col("id") * 13 + 1, lit(100)).as("dst")))
    // Only the edge side is wrapped (nodes is consumed by a driver-side
    // count — a 1-row action retried like any other task).
    val expected = {
      val m = GraphFunctions.pageRank(nodes, edges, iters = 3)
      val r = rows(m.df); m.release(); r
    }
    injected.removeIf(_.startsWith("pagerank/"))
    val actual = {
      val m = GraphFunctions.pageRank(nodes, flakyOnce(edges, "pagerank"),
        iters = 3)
      val r = rows(m.df); m.release(); r
    }
    assert(countFor("pagerank") > 0, "no task failure was injected")
    assert(actual == expected, "pageRank changed under task retry")
  }

  test("saltedJoin: content-deterministic salt equals plain join under task retry") {
    val facts = spark.range(2000).select(col("id").as("fact_id"),
      when(pmod(col("id"), lit(10)) < 7, lit("hot")) // 70% one key
        .otherwise(concat(lit("k"), pmod(col("id"), lit(10)))).as("key"),
      (col("id") * 3).as("v"))
    val dims = spark.range(10).select(
      when(col("id") < 1, lit("hot"))
        .otherwise(concat(lit("k"), col("id"))).as("dkey"),
      col("id").as("w"))
    val plain = rows(facts.join(dims, facts("key") === dims("dkey")))
    injected.removeIf(_.startsWith("salted/"))
    val salted = rows(Relational.saltedJoin(
      flakyOnce(facts, "salted"), dims, "key", "dkey", salts = 8))
    assert(countFor("salted") > 0, "no task failure was injected")
    assert(salted == plain, "saltedJoin diverged from the plain join under retry")
  }

  test("seeded per-group pick and LWW latest-per-group identical under task retry") {
    val evs = spark.range(500).select(col("id").as("ev"),
      pmod(col("id"), lit(13)).as("grp"),
      pmod(col("id") * 17, lit(97)).as("seq"))
    assertRetryInvariant("pick", evs,
      d => Relational.pseudoRandomPickPerGroup(d, Seq("grp"),
        col("ev").cast("string")))
    assertRetryInvariant("lww", evs,
      d => Relational.latestPerGroup(d, Seq("grp"),
        Seq(col("seq").desc, col("ev").asc)))
  }

  test("stateful streaming (sessionize) emits identically under task retry") {
    // The state-store risk surface: a micro-batch task that fails after
    // partially updating per-group session state must, on retry, land on
    // the same committed state and emissions — Spark's state store
    // versions per batch, and this drives that contract through real
    // retries in BOTH micro-batches of a two-batch run.
    import spark.implicits._
    import graft.streaming.EventAnalytics
    import graft.streaming.EventAnalytics.{Event, Session}
    def ts(min: Int) = new java.sql.Timestamp(1718000000000L + min * 60000L)
    val dir = tmpDir("retry-sess")
    def writeFile(evs: Seq[Event], name: String, mtime: Long): Unit = {
      val sub = tmpDir(s"retry-sess-$name")
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = java.nio.file.Paths.get(dir, s"$name.parquet")
      java.nio.file.Files.copy(part.toPath, dest): Unit
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtime)): Unit
    }
    writeFile(Seq(Event(1, ts(0), "click"), Event(1, ts(10), "click"),
      Event(2, ts(5), "view")), "b1", 1700000000000L)
    writeFile(Seq(Event(1, ts(60), "view"), Event(1, ts(65), "click"),
      Event(3, ts(62), "view")), "b2", 1700000060000L)
    val schema = Seq.empty[Event].toDS().schema
    def run(flaky: Boolean, sink: String): Set[(Long, Long, Long, Long)] = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val in = (if (flaky) flakyOnce(src.toDF(), "sess") else src.toDF())
        .as[Event]
      val q = EventAnalytics.sessionize(in, gapMs = 30 * 60000L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(300000), s"$sink did not drain")
      spark.table(sink).as[Session].collect()
        .map(s => (s.user_id, s.session_start.getTime,
          s.session_end.getTime, s.n_events.toLong)).toSet
    }
    val expected = run(flaky = false, "sess_plain")
    assert(expected.nonEmpty)
    injected.removeIf(_.startsWith("sess/"))
    val actual = run(flaky = true, "sess_flaky")
    assert(countFor("sess") > 0, "no task failure was injected")
    assert(actual == expected,
      "stateful stream emissions changed under task retry")
  }

  test("bucket-scoped merge commits exactly once under task retry") {
    // The round's bucket-scoped LWW path: batch 2 rewrites ONLY the
    // buckets it hashes into, so a retried task must neither double a
    // bucket's rows nor leave a half-swapped bucket behind.
    val dir = tmpDir("retry-bmerge")
    val base = spark.range(500).select(col("id").as("k"), lit(1L).as("seq"),
      concat(lit("v"), col("id")).as("payload"))
    val update = spark.range(120).select((col("id") * 4).as("k"),
      lit(2L).as("seq"), concat(lit("u"), col("id")).as("payload"))
    def build(path: String, wrap: DataFrame => DataFrame): (Long, Long) = {
      val n1 = MergeWriter.mergeBucketed(spark, wrap(base), path,
        Seq("k"), Seq("seq"), "k", 8)
      assert(graft.operators.BucketedLayout.looksBucketed(path),
        "bootstrap merge must establish the bucketed layout so the " +
          "second call provably takes the bucket-SCOPED path")
      val n2 = MergeWriter.mergeBucketed(spark, wrap(update), path,
        Seq("k"), Seq("seq"), "k", 8)
      (n1, n2)
    }
    // The returned n AND the counts sidecar are read off the committed
    // files' footers: assert BOTH against a post-merge recount of the
    // table on disk, under injected write-job failures — a failed
    // attempt's files counted, or a retry's lost, would disagree here.
    def assertCountsExact(path: String, returned: Long): Unit = {
      val actual = spark.read.parquet(path).count()
      assert(returned == actual,
        s"returned n=$returned but the merged table holds $actual rows")
      val onDisk = spark.read.parquet(path)
        .groupBy(MergeWriter.bucketIdExpr("k", 8))
        .count().collect()
        .map(r => (s"bucket=${r.get(0)}", r.getLong(1))).toMap
      val sidecar = MergeWriter.readCountsSidecar(path)
      assert(sidecar.nonEmpty, "counts sidecar missing after bucketed merge")
      assert(sidecar.get._1 == onDisk,
        s"counts sidecar ${sidecar.get._1} != on-disk recount $onDisk")
    }
    val (p1, p2) = build(s"$dir/plain", identity)
    injected.removeIf(_.startsWith("bmerge/"))
    val (f1, f2) = build(s"$dir/flaky", df => flakyOnce(df, "bmerge"))
    assert(countFor("bmerge") > 0, "no task failure was injected")
    assert(rows(spark.read.parquet(s"$dir/flaky")) ==
      rows(spark.read.parquet(s"$dir/plain")),
      "bucket-scoped merged table changed under task retry")
    assert((f1, f2) == (p1, p2),
      "returned counts changed under task retry")
    assertCountsExact(s"$dir/flaky", f2)
    // Second round: failures injected into the WRITE job's own stage
    // (post-dedup, mid-row-stream) via the pre-write seam — a failed
    // attempt has already written PART of its file when it dies; that
    // file must never count and the retry's rows land exactly once.
    val dirW = tmpDir("retry-bmerge-wstage")
    injected.removeIf(_.startsWith("bmergew/"))
    MergeWriter.preWriteWrap = (p, df) =>
      if (p.startsWith(dirW)) flakyAfter(df, "bmergew", 3) else df
    try {
      val (w1, w2) = build(s"$dirW/t", identity)
      assert(countFor("bmergew") > 0,
        "no write-stage task failure was injected")
      assert((w1, w2) == (p1, p2),
        "returned counts changed under write-stage task retry")
      assert(rows(spark.read.parquet(s"$dirW/t")) ==
        rows(spark.read.parquet(s"$dir/plain")),
        "bucketed table changed under write-stage task retry")
      assertCountsExact(s"$dirW/t", w2)
    } finally MergeWriter.preWriteWrap = (_, df) => df
  }

  test("MergeWriter.merge: write path commits exactly once under task retry") {
    val dir = tmpDir("retry-merge")
    val pathPlain = s"$dir/plain"
    val pathFlaky = s"$dir/flaky"
    val base = spark.range(400).select(col("id").as("k"),
      lit(1L).as("seq"), concat(lit("v"), col("id")).as("payload"))
    val update = spark.range(200).select((col("id") * 2).as("k"),
      lit(2L).as("seq"), concat(lit("u"), col("id")).as("payload"))
    val p1 = MergeWriter.merge(spark, base, pathPlain, Seq("k"), Seq("seq"))
    val p2 = MergeWriter.merge(spark, update, pathPlain, Seq("k"), Seq("seq"))
    injected.removeIf(_.startsWith("merge/"))
    val f1 = MergeWriter.merge(spark, flakyOnce(base, "merge"), pathFlaky,
      Seq("k"), Seq("seq"))
    val f2 = MergeWriter.merge(spark, flakyOnce(update, "merge"), pathFlaky,
      Seq("k"), Seq("seq"))
    assert(countFor("merge") > 0, "no task failure was injected")
    val plain = rows(spark.read.parquet(pathPlain))
    val flaky = rows(spark.read.parquet(pathFlaky))
    assert(flaky == plain,
      "merged table changed when the incoming batch's tasks were retried")
    // The returned n is read off the committed files' footers — it must
    // equal a recount of what landed.
    assert((f1, f2) == (p1, p2), "returned counts changed under task retry")
    assert(f2 == spark.read.parquet(pathFlaky).count(),
      s"returned n=$f2 disagrees with the merged table's actual rows")
    // And under failures in the WRITE stage itself (the stage that runs
    // the file-commit protocol), dying MID-STREAM after a partial file:
    val pathW = s"$dir/wstage"
    injected.removeIf(_.startsWith("mergew/"))
    MergeWriter.preWriteWrap = (p, df) =>
      if (p.startsWith(pathW)) flakyAfter(df, "mergew", 5) else df
    try {
      val w1 = MergeWriter.merge(spark, base, pathW, Seq("k"), Seq("seq"))
      val w2 = MergeWriter.merge(spark, update, pathW, Seq("k"), Seq("seq"))
      assert(countFor("mergew") > 0,
        "no write-stage task failure was injected")
      assert((w1, w2) == (p1, p2),
        "returned counts changed under write-stage task retry")
      assert(rows(spark.read.parquet(pathW)) == plain,
        "merged table changed under write-stage task retry")
      assert(w2 == spark.read.parquet(pathW).count(),
        s"returned n=$w2 disagrees with the merged table's actual rows")
    } finally MergeWriter.preWriteWrap = (_, df) => df
  }
}

object RetryReplaySpec {
  /** Injection log: one entry per failed task attempt, keyed
    * `tag/stageId/partitionId/attempt`. Local-mode executors share the
    * JVM, so a static set observes executor-side throws directly. */
  val injected: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()

  def countFor(tag: String): Int = {
    val it = injected.iterator()
    var n = 0
    while (it.hasNext) { if (it.next().startsWith(s"$tag/")) n += 1 }
    n
  }

  /** Pass-through over `df` whose every task FAILS its first attempt
    * (attempt 0 throws before yielding a row; the scheduler's retry —
    * attempt 1 — passes rows through untouched). Inserted upstream of an
    * operator it forces the whole input through real task-retry recovery. */
  def flakyOnce(df: DataFrame, tag: String): DataFrame = {
    implicit val enc = Encoders.row(df.schema)
    df.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0) {
        injected.add(s"$tag/${tc.stageId()}/${tc.partitionId()}/0"): Unit
        throw new RuntimeException(
          s"graft-retry-injection $tag (deliberate first-attempt failure)")
      }
      it
    }
  }

  /** Like [[flakyOnce]] but the first attempt dies MID-STREAM: it yields
    * `emit` rows before throwing. Downstream operators in the same stage
    * (a CollectMetrics accumulator, a file-commit task) have already
    * consumed partial output when the failure lands — the sharpest shape
    * for the exactly-once count/commit contracts, since the failed
    * attempt's partial side effects must be dropped wholesale. */
  def flakyAfter(df: DataFrame, tag: String, emit: Int): DataFrame = {
    implicit val enc = Encoders.row(df.schema)
    df.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0) {
        injected.add(s"$tag/${tc.stageId()}/${tc.partitionId()}/0"): Unit
        var n = 0
        it.map { r =>
          n += 1
          if (n > emit)
            throw new RuntimeException(
              s"graft-retry-injection $tag (deliberate mid-stream failure)")
          r
        }
      } else it
    }
  }
}
