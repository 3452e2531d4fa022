package graft

import java.nio.file.{Files, Paths}
import java.util.Base64

import graft.gold.Stats
import graft.ingest.SilverStore
import graft.queries.QueryService
import graft.streaming.StreamIngest

/** End-to-end usage sample: lake blocks → streaming ingest → silver →
  * gold → query plane. Run: sbt "runMain graft.Demo". */
object Demo {
  private def b64(s: String) = Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private def donationBlock(height: Long, id: Long, donor: String, usd: String): String = {
    val result = s"""{"id": $id, "donor_id": "$donor", "total_amount": "$usd",
                    | "ft_id": "near", "donated_at_ms": ${height * 1000},
                    | "recipient_id": "proj.near", "protocol_fee": "0"}"""
      .stripMargin.replace("\n", " ")
    s"""{"block": {"header": {"height": $height, "timestamp": ${height}000000000}}, "shards": [{"shard_id": 0, "receipt_execution_outcomes": [{"receipt": {"receipt_id": "r$height", "receiver_id": "donate.potlock.near", "predecessor_id": "$donor", "receipt": {"Action": {"signer_id": "$donor", "actions": [{"FunctionCall": {"method_name": "donate", "args": "${b64("{}")}"}}]}}}, "execution_outcome": {"outcome": {"status": {"SuccessValue": "${b64(result)}"}, "logs": []}}}]}]}"""
  }

  /** A deliberately malformed block: garbage base64 args, truncated result
    * JSON, and a failed receipt — none of which may kill ingest. */
  private def malformedBlock(height: Long): String =
    s"""{"block": {"header": {"height": $height, "timestamp": ${height}000000000}}, "shards": [{"shard_id": 0, "receipt_execution_outcomes": [{"receipt": {"receipt_id": "bad1", "receiver_id": "donate.potlock.near", "predecessor_id": "x.near", "receipt": {"Action": {"signer_id": "x.near", "actions": [{"FunctionCall": {"method_name": "donate", "args": "!!!not-base64!!!"}}]}}}, "execution_outcome": {"outcome": {"status": {"SuccessValue": "${b64("{\"id\": 77, \"donor_id\"")}"}, "logs": []}}}, {"receipt": {"receipt_id": "bad2", "receiver_id": "donate.potlock.near", "predecessor_id": "y.near", "receipt": {"Action": {"signer_id": "y.near", "actions": []}}}, "execution_outcome": {"outcome": {"status": {"Failure": "boom"}, "logs": []}}}]}]}"""

  def main(args: Array[String]): Unit = {
    val spark = HarnessSession.local(logLevel = "ERROR")

    val in = Files.createTempDirectory("demo-in").toString
    val silverDir = Files.createTempDirectory("demo-silver").toString
    val ckpt = Files.createTempDirectory("demo-ckpt").toString

    Files.write(Paths.get(in, "b1.json"),
      (Seq(
        donationBlock(300, 1, "alice.near", "5000000000000000000000000"),
        donationBlock(301, 2, "bob.near", "3000000000000000000000000"),
        malformedBlock(302)).mkString("\n")).getBytes)

    println("[demo] streaming ingest (AvailableNow)...")
    val q = StreamIngest.start(spark, in, silverDir, ckpt, availableNow = true)
    q.awaitTermination(180000)

    val silver = new SilverStore(spark, silverDir)
    println("[demo] quarantined records (malformed payloads kept inspectable):")
    silver.table("quarantine")
      .select("receipt_id", "method_name", "args_json", "result_json").show(false)
    println("[demo] silver donations:")
    silver.table("donations")
      .select("on_chain_id", "donor", "recipient", "total_amount", "net_amount", "donated_at")
      .show(false)

    // Gold refresh (the 5-minute beat-job equivalent).
    import org.apache.spark.sql.functions.col
    val accounts = silver.table("accounts")
    val donations = silver.table("donations")
      .withColumn("total_amount_usd", col("total_amount_dec").cast("double")
        ./(1e24).cast("decimal(20,2)"))
    val emptyPayouts = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.ingest.Schemas.potPayout)
    Stats.globalStats(donations, emptyPayouts).write.mode("overwrite")
      .parquet(s"$silverDir/global_stats")
    Stats.accountStats(accounts, donations, emptyPayouts).write.mode("overwrite")
      .parquet(s"$silverDir/account_stats")

    // silver.table hides the synthetic partition columns (__pdate/__pbucket)
    // so the physical layout never reaches the API JSON below.
    val qs = new QueryService(silver.table)
    println("[demo] GET /v1/stats:")
    qs.stats().show(false)
    println("[demo] GET /v1/donors?sort=most_donated_usd (page envelope):")
    val donors = qs.donors(sortMostDonated = true)
    println(s"[demo] count=${donors.count} next=${donors.hasNext}")
    donors.results.select("id", "total_donations_out_usd").show(false)
    println("[demo] GET /v1/accounts/proj.near/donations_received as JSON:")
    qs.accountDonationsReceived("proj.near").toJsonRows().foreach(println)
    println("[demo] done")
    spark.stop()
  }
}
