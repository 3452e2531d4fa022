package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import graft.gold.GoldRefresh
import graft.ingest.Fixtures._
import graft.streaming.StreamIngest

/** The suite runs the session every main runs (`HarnessSession.local`). */
class HarnessSessionSpec extends SparkSpec {

  test("the suite session carries every setting HarnessSession pins") {
    val pinned = Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.files.openCostInBytes" -> (256 * 1024).toString,
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")
    pinned.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(!spark.sparkContext.getConf.getBoolean("spark.speculation", true))
  }

  test("a gold refresh writes its timestamps as INT64 micros, not INT96") {
    val in = tmpDir("session-bronze")
    val silverDir = tmpDir("session-silver")
    Files.write(Paths.get(in, "b.json"), block(500, 1718000000000000000L, Seq(
      receipt("donate.potlock.near", "donate", "{}",
        resultJson = Some(directDonationResult(1, "whale.near",
          "100000000000000000000000000", "0", "sea.near", 1718000000001L)),
        receiptId = "r1"))).getBytes)
    StreamIngest.backfill(spark, in, silverDir)
    GoldRefresh.refresh(spark, silverDir)

    val part = Files.walk(Paths.get(silverDir, "donations_enriched"))
      .iterator().asScala.find(_.toString.endsWith(".parquet"))
      .getOrElse(fail("donations_enriched has no parquet file"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(part.toString), new Configuration()))
    val schema = try reader.getFooter.getFileMetaData.getSchema
      finally reader.close()
    val ts = schema.getType(schema.getFieldIndex("donated_at")).asPrimitiveType()
    assert(ts.getPrimitiveTypeName == PrimitiveTypeName.INT64)
    ts.getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => assert(t.getUnit == TimeUnit.MICROS)
      case other => fail(s"donated_at is annotated $other, not TIMESTAMP(MICROS)")
    }
  }
}
