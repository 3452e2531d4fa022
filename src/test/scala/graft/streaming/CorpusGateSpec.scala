package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming corpus curation gate: quality gate → within-batch exact +
  * near dedup → near-dup-vs-corpus via the signature store; survivors
  * accumulate, batches never re-read corpus text, replays are
  * idempotent. */
@org.scalatest.tags.Slow
class CorpusGateSpec extends SparkSpec {

  private def jsonl(docs: Seq[(Long, String)]): String =
    docs.map { case (id, t) =>
      s"""{"doc_id": $id, "text": "$t"}"""
    }.mkString("\n")

  private val longA =
    "the quick brown fox jumps over the lazy dog near the river bank today"
  private val longANear =
    "the quick brown fox jumps over the lazy dog near the river bank tonight"
  private val longB =
    "completely different content about spark query engines and columnar formats"
  private val longC =
    "der schnelle braune fuchs springt und der hund schläft und die katze auch"

  test("gate: quality filter, batch dedup, corpus dedup across batches, replay-safe accounting") {
    val in = tmpDir("gate-in")
    val store = tmpDir("gate-store")
    val ckpt = tmpDir("gate-ckpt")

    // Batch 1: 1 keeps, 2 is its near-dup (dropped within batch), 3 is
    // too short (quality), 4 is an exact dup of 1 at higher id, 5 keeps.
    Files.write(Paths.get(in, "b1.json"), jsonl(Seq(
      1L -> longA, 2L -> longANear, 3L -> "too short", 4L -> longA,
      5L -> longB)).getBytes("UTF-8"))
    val q1 = CorpusGate.start(spark, in, store, ckpt, availableNow = true)
    assert(q1.awaitTermination(300000), "gate stream 1 did not drain")

    val afterB1 = CorpusGate.corpus(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(afterB1 == Set(1L, 5L))

    // Batch 2: 20 near-dups ACCEPTED doc 1 (corpus store must catch it —
    // without ever reading corpus text), 21 is fresh and keeps.
    Files.write(Paths.get(in, "b2.json"), jsonl(Seq(
      20L -> longANear, 21L -> longC)).getBytes("UTF-8"))
    val q2 = CorpusGate.start(spark, in, store, ckpt, availableNow = true)
    assert(q2.awaitTermination(300000), "gate stream 2 did not drain")

    val afterB2 = CorpusGate.corpus(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(afterB2 == Set(1L, 5L, 21L))

    // The streamed store ≡ a batch backfill replaying the same files
    // through curateBatch, batch for batch, in every store artifact (the
    // batch partition column rides along, so a row in the wrong batch
    // fails too).
    val backfill = tmpDir("gate-backfill")
    Seq("b1.json", "b2.json").zipWithIndex.foreach { case (f, i) =>
      CorpusGate.curateBatch(
        spark.read.schema(CorpusGate.docSchema).json(s"$in/$f"), backfill, i.toLong)
    }
    for ((sub, cols) <- Seq(
        "corpus" -> Seq("doc_id", "text"),
        "sigs" -> Seq("doc_id", "sig"),
        "fps" -> Seq("doc_id", "fp64", "fp"),
        "stats" -> Seq("batch_id", "n_in", "n_quality_dropped", "n_exact_dup",
          "n_corpus_exact_dup", "n_batch_near_dup", "n_corpus_near_dup",
          "n_survivors"))) {
      def read(base: String) =
        spark.read.parquet(s"$base/$sub").select((cols :+ "batch").map(col): _*)
      assert(read(store).exceptAll(read(backfill)).isEmpty &&
        read(backfill).exceptAll(read(store)).isEmpty,
        s"streamed $sub diverged from the backfill")
    }

    // Funnel accounting rows: one per batch, conserved counts.
    val st = CorpusGate.stats(spark, store).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(st.keySet == Set(0L, 1L))
    val b1 = st(0L)
    assert(b1.getAs[Long]("n_in") == 5L)
    assert(b1.getAs[Long]("n_quality_dropped") == 1L)
    assert(b1.getAs[Long]("n_exact_dup") == 1L)
    assert(b1.getAs[Long]("n_batch_near_dup") == 1L)
    assert(b1.getAs[Long]("n_corpus_near_dup") == 0L)
    assert(b1.getAs[Long]("n_survivors") == 2L)
    val b2 = st(1L)
    assert(b2.getAs[Long]("n_corpus_near_dup") == 1L)
    assert(b2.getAs[Long]("n_survivors") == 1L)

    // Replaying batch 1's content through curateBatch (the at-least-once
    // case) overwrites its own partitions with identical content — the
    // corpus does not grow and batch 1 never sees later batches.
    import spark.implicits._
    CorpusGate.curateBatch(
      Seq(1L -> longA, 2L -> longANear, 3L -> "too short", 4L -> longA,
        5L -> longB).toDF("doc_id", "text"),
      store, batchId = 0L)
    val afterReplay = CorpusGate.corpus(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(afterReplay == Set(1L, 5L, 21L))
  }

  test("undecodable crawl records are quality-dropped, never stored") {
    val in = tmpDir("hostile-in")
    val store = tmpDir("hostile-store")
    val ckpt = tmpDir("hostile-ckpt")
    // A real crawl chunk: valid docs interleaved with a truncated JSON
    // line, a record missing text, a record missing doc_id, and a line
    // that is not JSON at all — the PERMISSIVE source surfaces all four
    // as null-bearing rows, which the gate must drop and ACCOUNT as
    // quality drops (a null doc_id reaching the store could never be
    // deduplicated or fetched back by id).
    Files.write(Paths.get(in, "b1.json"), Seq(
      s"""{"doc_id": 1, "text": "$longA"}""",
      """{"doc_id": 2, "text": """,
      """{"doc_id": 3}""",
      s"""{"text": "$longB"}""",
      """%%% not json at all %%%""",
      s"""{"doc_id": 4, "text": "$longC"}"""
    ).mkString("\n").getBytes("UTF-8"))
    val q = CorpusGate.start(spark, in, store, ckpt, availableNow = true)
    assert(q.awaitTermination(300000), "gate stream did not drain")
    assert(CorpusGate.corpus(spark, store).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 4L))
    val st = spark.read.parquet(s"$store/stats").collect().head
    assert(st.getAs[Long]("n_in") == 6L)
    assert(st.getAs[Long]("n_quality_dropped") == 4L)
    assert(st.getAs[Long]("n_survivors") == 2L)
  }

  test("docs too short to shingle survive and never mass-match each other") {
    val store = tmpDir("gate-short-store")
    import spark.implicits._
    // minTokens=1 admits one-word docs that produce ZERO 3-shingles; the
    // degenerate empty-set signature must not make them 'near-dups' of
    // each other (or of anything in a later batch).
    val cfg = CorpusGate.Config(minTokens = 1)
    CorpusGate.curateBatch(
      Seq(1L -> "alpha", 2L -> "beta", 3L -> longA).toDF("doc_id", "text"),
      store, batchId = 0L, cfg)
    CorpusGate.curateBatch(
      Seq(10L -> "gamma", 11L -> longANear).toDF("doc_id", "text"),
      store, batchId = 1L, cfg)
    val kept = CorpusGate.corpus(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // all three short docs keep; 11 is caught as a near-dup of corpus 3
    assert(kept == Set(1L, 2L, 3L, 10L))
  }

  test("config validation fails loud on truncating band widths") {
    intercept[IllegalArgumentException] {
      CorpusGate.Config(k = 16, bands = 5)
    }
  }

  test("borderline estimates are corrected by the exact-Jaccard verify tier") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.functions.DedupFunctions
    // Base doc A (40 distinct words) vs variants sharing a prefix of m
    // words: true 3-shingle Jaccard is (m-2)/(78-m) — fixed per m — while
    // the k=16 signature-agreement estimate varies with hash luck. One
    // Spark pass scores every variant; we pick deterministic over- and
    // under-estimates. bands=16 (1 row/band) so any agreeing component
    // already makes the pair a band candidate.
    val aText = (0 until 40).map(i => s"a$i").mkString(" ")
    def variant(v: Int, m: Int): String =
      ((0 until m).map(i => s"a$i") ++ (m until 40).map(i => s"x${v}z$i"))
        .mkString(" ")
    val cands = (0 until 60).map(v => (v.toLong, variant(v, 25))) ++ // jacc .434
      (60 until 120).map(v => (v.toLong, variant(v, 28)))            // jacc .520
    val scored = cands.toDF("v", "b").withColumn("a", lit(aText))
      .select(col("v"),
        CorpusGate.sigAgreement(
          DedupFunctions.minHashSignature(DedupFunctions.shingles(col("a"), 3), 16),
          DedupFunctions.minHashSignature(DedupFunctions.shingles(col("b"), 3), 16))
          .as("est"),
        DedupFunctions.jaccardOfSets(
          DedupFunctions.shingles(col("a"), 3),
          DedupFunctions.shingles(col("b"), 3)).as("exact"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    // over-estimate: truly below threshold, estimate at/above it (a pure
    // estimate gate would drop the doc) but inside the borderline band
    val fp = scored.find { case (_, est, ex) => ex < 0.5 && est >= 0.5 && est < 0.75 }
    // under-estimate: truly at/above threshold, estimate below it (a pure
    // estimate gate would keep the dup) but inside the borderline band
    val fn = scored.find { case (_, est, ex) => ex >= 0.5 && est < 0.5 && est >= 0.25 }
    assert(fp.nonEmpty && fn.nonEmpty,
      s"fixture search found fp=$fp fn=$fn over ${scored.length} variants")
    val noVerify = CorpusGate.Config(bands = 16, verifyMargin = 0.0)
    val verify = CorpusGate.Config(bands = 16) // default margin 0.25

    def corpusAfter(cfg: CorpusGate.Config, v: Long, tag: String): Set[Long] = {
      val store = tmpDir(s"gate-tier-$tag")
      CorpusGate.curateBatch(Seq(0L -> aText).toDF("doc_id", "text"), store, 0L, cfg)
      CorpusGate.curateBatch(
        Seq(v -> cands.find(_._1 == v).get._2).toDF("doc_id", "text"), store, 1L, cfg)
      CorpusGate.corpus(spark, store).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    }
    val fpId = fp.get._1
    // over-estimate: pure estimate wrongly drops the non-dup…
    assert(corpusAfter(noVerify, fpId, "fp-raw") == Set(0L))
    // …the exact verify keeps it
    assert(corpusAfter(verify, fpId, "fp-ver") == Set(0L, fpId))
    val fnId = fn.get._1
    // under-estimate: pure estimate misses the true dup…
    assert(corpusAfter(noVerify, fnId, "fn-raw") == Set(0L, fnId))
    // …the exact verify catches it
    assert(corpusAfter(verify, fnId, "fn-ver") == Set(0L))
  }

  test("exact re-submits are caught by the bloom tier, not the near-dup path") {
    val store = tmpDir("gate-bloom-store")
    import spark.implicits._
    CorpusGate.curateBatch(
      Seq(1L -> longA, 5L -> longB).toDF("doc_id", "text"), store, 0L)
    // 30 is doc 1's text re-submitted (plus trailing whitespace — the
    // fingerprint normalizes it away); 31 is fresh content
    CorpusGate.curateBatch(
      Seq(30L -> (longA + " "), 31L -> longC).toDF("doc_id", "text"), store, 1L)
    val kept = CorpusGate.corpus(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L, 31L))
    val st = CorpusGate.stats(spark, store).collect()
      .map(r => r.getLong(0) -> r).toMap
    // the drop is accounted to the EXACT tier — it never reached the
    // band joins — and the near-dup counter stays clean
    assert(st(1L).getAs[Long]("n_corpus_exact_dup") == 1L)
    assert(st(1L).getAs[Long]("n_corpus_near_dup") == 0L)
    assert(st(1L).getAs[Long]("n_survivors") == 1L)
    // one filter artifact per batch — the incremental chain
    assert(Files.exists(Paths.get(store, "bloom", "batch=0")))
    assert(Files.exists(Paths.get(store, "bloom", "batch=1")))
    // replaying batch 1 rebuilds identical state: corpus unchanged
    CorpusGate.curateBatch(
      Seq(30L -> (longA + " "), 31L -> longC).toDF("doc_id", "text"), store, 1L)
    val afterReplay = CorpusGate.corpus(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(afterReplay == Set(1L, 5L, 31L))
  }

  test("a saturated bloom filter only costs verify work, never answers") {
    val store = tmpDir("gate-bloom-sat")
    import spark.implicits._
    // expectedItems=1 at fpp=0.5: the filter saturates immediately and
    // answers "might contain" for nearly everything — every such row
    // goes through the fingerprint-store verify and the result must be
    // IDENTICAL to a well-sized filter's.
    val cfg = CorpusGate.Config(bloomExpectedItems = 1, bloomFpp = 0.5)
    CorpusGate.curateBatch(
      Seq(1L -> longA, 5L -> longB).toDF("doc_id", "text"), store, 0L, cfg)
    CorpusGate.curateBatch(
      Seq(30L -> longA, 31L -> longC).toDF("doc_id", "text"), store, 1L, cfg)
    val kept = CorpusGate.corpus(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L, 31L))
    val st = CorpusGate.stats(spark, store).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(st(1L).getAs[Long]("n_corpus_exact_dup") == 1L)
  }

  test("compaction folds per-batch partitions into one, preserving every answer") {
    val store = tmpDir("gate-compact-store")
    import spark.implicits._
    CorpusGate.curateBatch(
      Seq(1L -> longA, 2L -> longANear, 5L -> longB).toDF("doc_id", "text"), store, 0L)
    CorpusGate.curateBatch(Seq(10L -> longC).toDF("doc_id", "text"), store, 1L)
    CorpusGate.curateBatch(Seq(11L -> longB).toDF("doc_id", "text"), store, 2L)
    val corpusBefore = CorpusGate.corpus(spark, store)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val statsBefore = CorpusGate.stats(spark, store)
      .collect().map(_.toSeq).toSet

    CorpusGate.compact(spark, store, upToBatch = 2L)

    // batch=2 is the newest stored id, so compaction clamps to 1: the
    // frontier partition stays replayable, everything below folds into one
    Seq("corpus", "sigs", "fps", "stats", "bloom").foreach { sub =>
      val names = java.nio.file.Files.list(Paths.get(store, sub))
        .toArray.map(_.toString.split('/').last).filter(_.startsWith("batch="))
        .toSeq.sorted
      assert(names == Seq("batch=1", "batch=2"), s"$sub: $names")
    }
    // every answer preserved: corpus rows, per-batch stats rows
    assert(CorpusGate.corpus(spark, store)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == corpusBefore)
    assert(CorpusGate.stats(spark, store)
      .collect().map(_.toSeq).toSet == statsBefore)

    // the gate still works on the compacted store: exact + near dedup
    // against the consolidated corpus, fresh content accepted
    CorpusGate.curateBatch(
      Seq(20L -> longA, 21L -> longANear,
        22L -> "entirely new sentence about bloom filters and compaction work")
        .toDF("doc_id", "text"), store, 3L)
    val kept = CorpusGate.corpus(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L, 10L, 22L))
    val st3 = CorpusGate.stats(spark, store).collect()
      .map(r => r.getLong(0) -> r).toMap.apply(3L)
    assert(st3.getAs[Long]("n_corpus_exact_dup") == 1L) // 20 = exact re-submit
    assert(st3.getAs[Long]("n_corpus_near_dup") == 1L)  // 21 = near-dup of 1
  }

  test("compaction during the restart window survives a replay of the newest batch") {
    // Crash-before-commit: batch 2 wrote its partitions but the stream
    // checkpoint never committed, so the restart REPLAYS batch 2. If
    // compact(upToBatch=2) had consolidated under batch=2, the replay's
    // overwrite would wipe all prior history and its strict `< 2` read
    // would see an empty store. The clamp must make this sequence safe.
    val store = tmpDir("gate-compact-replay")
    import spark.implicits._
    CorpusGate.curateBatch(
      Seq(1L -> longA, 5L -> longB).toDF("doc_id", "text"), store, 0L)
    CorpusGate.curateBatch(Seq(10L -> longC).toDF("doc_id", "text"), store, 1L)
    val batch2 = Seq(11L -> longANear, 12L -> longB).toDF("doc_id", "text")
    CorpusGate.curateBatch(batch2, store, 2L) // written, "uncommitted"
    // maintenance compaction lands in the restart window, asking for
    // everything — the clamp must hold it to batch 1
    CorpusGate.compact(spark, store, upToBatch = Long.MaxValue)
    CorpusGate.curateBatch(batch2, store, 2L) // the replay
    val kept = CorpusGate.corpus(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // full history intact, and the replayed batch still deduplicates
    // against it: 11 is a near-dup of 1, 12 an exact dup of 5
    assert(kept == Set(1L, 5L, 10L))
  }

  test("checkpoint-level crash replay: kill before commit, compact during restart, stream resumes without history loss or re-admitted dups") {
    // The end-to-end version of the restart-window scenario, through the
    // real Structured Streaming checkpoint machinery: batch 0 commits via
    // the stream; batch 1's foreachBatch WRITES its partitions but the
    // "process dies" before the checkpoint commit (simulated by calling
    // curateBatch directly with the id the stream will assign); a
    // maintenance compaction lands in the restart window; then the stream
    // restarts from the checkpoint and REPLAYS batch 1 from the source
    // file. History must survive and the replayed batch must still
    // deduplicate against it.
    val in = tmpDir("gate-crash-in")
    val store = tmpDir("gate-crash-store")
    val ckpt = tmpDir("gate-crash-ckpt")
    import spark.implicits._

    Files.write(Paths.get(in, "b1.json"),
      jsonl(Seq(1L -> longA, 5L -> longB)).getBytes("UTF-8"))
    val q1 = CorpusGate.start(spark, in, store, ckpt, availableNow = true)
    assert(q1.awaitTermination(300000), "gate stream 1 did not drain")

    // batch 1 arrives; the write lands, the checkpoint commit does not
    val b2docs = Seq(11L -> longANear, 12L -> longB, 13L -> longC)
    Files.write(Paths.get(in, "b2.json"), jsonl(b2docs).getBytes("UTF-8"))
    CorpusGate.curateBatch(b2docs.toDF("doc_id", "text"), store, 1L)

    // maintenance compaction during the restart window asks for
    // everything; the clamp must hold it strictly below the uncommitted
    // batch 1
    CorpusGate.compact(spark, store, upToBatch = Long.MaxValue)

    // restart: the checkpoint committed only batch 0, so the stream
    // replays the b2 file as batch 1
    val q2 = CorpusGate.start(spark, in, store, ckpt, availableNow = true)
    assert(q2.awaitTermination(300000), "gate stream 2 did not drain")

    // full history intact; 11 (near-dup of 1) and 12 (exact dup of 5)
    // still rejected on the replay; 13 admitted exactly once
    assert(CorpusGate.corpus(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 5L, 13L))
    // accounting: one stats row per batch id, replay overwrote its own
    val st = CorpusGate.stats(spark, store).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(st.keySet == Set(0L, 1L))
    assert(st(1L).getAs[Long]("n_corpus_near_dup") == 1L)
    // the exact re-submit of 5 is caught by the BLOOM tier (corpus-exact),
    // not the within-batch exact pass
    assert(st(1L).getAs[Long]("n_corpus_exact_dup") == 1L)
    assert(st(1L).getAs[Long]("n_exact_dup") == 0L)
    assert(st(1L).getAs[Long]("n_survivors") == 1L)
  }

  test("an interrupted compaction swap heals before the next batch reads") {
    val store = tmpDir("gate-compact-heal")
    import spark.implicits._
    CorpusGate.curateBatch(Seq(1L -> longA).toDF("doc_id", "text"), store, 0L)
    CorpusGate.curateBatch(Seq(2L -> longB).toDF("doc_id", "text"), store, 1L)
    // Simulate a crash AFTER the commit point of the corpus sub-store's
    // swap: consolidated data fully written under the invisible name,
    // marker present, sources still in place.
    val dir = Paths.get(store, "corpus")
    val docs = CorpusGate.corpus(spark, store)
    docs.coalesce(1).write.mode("overwrite")
      .parquet(s"$store/corpus/batch=1.compacting")
    Files.write(dir.resolve("compact.pending"), "1".getBytes("UTF-8"))
    // the next batch heals first, then reads a consistent store
    CorpusGate.curateBatch(Seq(3L -> longC).toDF("doc_id", "text"), store, 2L)
    assert(!Files.exists(dir.resolve("compact.pending")))
    assert(!Files.exists(dir.resolve("batch=1.compacting")))
    val names = java.nio.file.Files.list(dir)
      .toArray.map(_.toString.split('/').last).filter(_.startsWith("batch="))
    assert(names.toSeq.sorted == Seq("batch=1", "batch=2"))
    assert(CorpusGate.corpus(spark, store).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("store listing skips non-numeric batch= directories instead of throwing") {
    val store = tmpDir("gate-badname-store")
    import spark.implicits._
    CorpusGate.curateBatch(
      Seq(1L -> longA, 2L -> longB).toDF("doc_id", "text"),
      store, batchId = 0L)
    // A leftover manual copy / temp dir that matches the prefix but not
    // the numeric suffix must be skipped, not fail every later batch.
    Files.createDirectories(Paths.get(store, "corpus", "batch=0.bak"))
    Files.createDirectories(Paths.get(store, "sigs", "batch=tmp"))
    val kept = CorpusGate.corpus(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
    // and the next batch's store read still works
    CorpusGate.curateBatch(
      Seq(10L -> longC).toDF("doc_id", "text"), store, batchId = 1L)
    val after = CorpusGate.corpus(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after == Set(1L, 2L, 10L))
  }
}
