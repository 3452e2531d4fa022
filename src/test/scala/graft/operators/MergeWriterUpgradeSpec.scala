package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** In-place upgrade paths for stores built by older code: type widening
  * (the int32→int64 shard_index change) must route scoped merges through
  * a one-time full rewrite — never a slice-scoped write that leaves
  * mixed physical types across a table's files — and legacy rows missing
  * a later-added key column get a one-time literal backfill. Plus the
  * crash-resume fixes: a replayed additive commit folds its delta once,
  * and staging dirs stranded by a crash before the manifest write are
  * swept by the next stage. */
class MergeWriterUpgradeSpec extends SparkSpec {
  import spark.implicits._

  test("type widening on a bucketed table takes the full rewrite; narrower batches stay scoped") {
    val path = tmpDir("wide-b") + "/dim"
    // Legacy store: shard int32.
    val v1 = Seq(("a", 1, 1L), ("b", 2, 1L)).toDF("id", "shard", "seqno")
    MergeWriter.mergeBucketed(spark, v1, path, Seq("id"), Seq("seqno"), "id", 4)
    assert(spark.read.parquet(path).schema("shard").dataType.typeName == "integer")

    // New writers emit int64: the merge must widen the WHOLE table (a
    // scoped write would leave int32 files beside int64 ones).
    val v2 = Seq(("c", 3L, 2L)).toDF("id", "shard", "seqno")
    MergeWriter.mergeBucketed(spark, v2, path, Seq("id"), Seq("seqno"), "id", 4)
    val out = spark.read.parquet(path)
    assert(out.schema("shard").dataType == LongType)
    assert(out.count() == 3)
    // Every file individually readable as long (no mixed footers):
    Files.list(Paths.get(path)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).foreach { f =>
        assert(spark.read.parquet(f).schema("shard").dataType == LongType, f)
      }

    // A NARROWER batch after the upgrade resolves back to the table's
    // types and must NOT trigger another full rewrite (it would re-pay
    // O(table) on every batch): the scoped path leaves other buckets'
    // files untouched.
    val filesBefore = Files.list(Paths.get(path)).toArray.map(_.toString).toSet
    val v3 = Seq(("a", 9, 3L)).toDF("id", "shard", "seqno") // int32 again
    MergeWriter.mergeBucketed(spark, v3, path, Seq("id"), Seq("seqno"), "id", 4)
    val out3 = spark.read.parquet(path)
    assert(out3.schema("shard").dataType == LongType)
    assert(out3.filter(col("id") === "a").head().getAs[Long]("shard") == 9L)
    val filesAfter = Files.list(Paths.get(path)).toArray.map(_.toString).toSet
    // at least one untouched bucket file survived the scoped merge
    assert((filesBefore & filesAfter).nonEmpty)
  }

  test("type widening on a partitioned table migrates wholesale (untouched partitions rewritten too)") {
    val path = tmpDir("wide-p") + "/facts"
    val v1 = Seq(
      ("k1", "2024-06-01", 1, 1L),
      ("k2", "2024-06-02", 2, 1L)
    ).toDF("key", "day", "shard", "seqno")
    MergeWriter.mergePartitioned(spark, v1, path, Seq("key"), Seq("seqno"), "day")

    // Batch touches ONLY day=2024-06-01, but with int64 shard: day=02's
    // files must also end up int64 — partition-scoped writing would have
    // left them int32 and broken schema-by-footer reads.
    val v2 = Seq(("k3", "2024-06-01", 3L, 2L)).toDF("key", "day", "shard", "seqno")
    MergeWriter.mergePartitioned(spark, v2, path, Seq("key"), Seq("seqno"), "day")
    val out = spark.read.parquet(path)
    assert(out.schema("shard").dataType == LongType)
    assert(out.count() == 3)
    val day2 = spark.read.parquet(s"$path/day=2024-06-02")
    assert(day2.schema("shard").dataType == LongType)

    // Steady state resumes partition-scoped after the one-time migration.
    val day2Files = Files.list(Paths.get(path, "day=2024-06-02"))
      .toArray.map(_.toString).sorted.toSeq
    val v4 = Seq(("k4", "2024-06-01", 4L, 3L)).toDF("key", "day", "shard", "seqno")
    MergeWriter.mergePartitioned(spark, v4, path, Seq("key"), Seq("seqno"), "day")
    assert(Files.list(Paths.get(path, "day=2024-06-02"))
      .toArray.map(_.toString).sorted.toSeq == day2Files)
  }

  test("backfillLiteralColumn stamps legacy rows once, no-ops when present") {
    val path = tmpDir("bfill") + "/quarantine"
    Seq(("r1", 0), ("r2", 1)).toDF("receipt_id", "action_index")
      .write.parquet(path)
    MergeWriter.backfillLiteralColumn(spark, path, "kind", lit("action"))
    val out = spark.read.parquet(path)
    assert(out.columns.contains("kind"))
    assert(out.select("kind").collect().forall(_.getString(0) == "action"))
    // Second call is a no-op: the swap marker (stamped by the rewrite)
    // must not rotate again — downstream caches key freshness on it.
    val marker = MergeWriter.io
      .readString(TableSwap.markerPath(path))
    MergeWriter.backfillLiteralColumn(spark, path, "kind", lit("action"))
    assert(MergeWriter.io.readString(TableSwap.markerPath(path)) == marker)
  }

  test("replayed additive commit folds once; stranded tmp is swept") {
    val path = tmpDir("addres") + "/state"
    def delta(r: String, n: Long) = Seq((r, n, new java.math.BigDecimal(n)))
      .toDF("recipient", "n", "usd")
      .select(col("recipient"), col("n"),
        col("usd").cast("decimal(30,2)").as("usd"))
    // Bootstrap the bucketed state.
    MergeWriter.mergeAdditiveBucketed(spark, delta("r1", 1L), path,
      Seq("recipient"), Seq("n", "usd"), "n", "recipient", 4, "recipient")

    // Two-phase apply WITHOUT clearing the manifest (a consumer that
    // crashed before its fence), then replay: rows must not double-fold.
    val st1 = MergeWriter.applyAdditiveBucketed(spark, delta("r1", 2L), path,
      Seq("recipient"), Seq("n", "usd"), "n", "recipient", 4, "recipient",
      token = "genT")
    val st2 = MergeWriter.applyAdditiveBucketed(spark, delta("r1", 2L), path,
      Seq("recipient"), Seq("n", "usd"), "n", "recipient", 4, "recipient",
      token = "genT")
    assert(st1 == st2) // replay commits the SAME staged post-state
    assert(spark.read.parquet(path).filter(col("recipient") === "r1")
      .head().getAs[Long]("n") == 3L) // 1 + 2, folded exactly once
    MergeWriter.clearApplyManifest(path, "genT")

    // Stranded staging (crash before the manifest write): a sibling tmp
    // dir nothing references. The next stage must reclaim it.
    val stranded = path + ".tmp-deadbeef"
    Files.createDirectories(Paths.get(stranded))
    Files.write(Paths.get(stranded, "junk"), "x".getBytes)
    MergeWriter.mergeAdditiveBucketed(spark, delta("r2", 1L), path,
      Seq("recipient"), Seq("n", "usd"), "n", "recipient", 4, "recipient")
    assert(!Files.exists(Paths.get(stranded)))
  }
}
