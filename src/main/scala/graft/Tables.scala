package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the harness tables (TESTDATA.md). One parquet file per
  * table; schemas are fixed by the driver's generator, so we read the
  * parquet footer schema as-is (no inference beyond the footer).
  *
  * Reads carry a resolved schema (`spark.read.schema(s)`): without one,
  * every read runs Spark's footer inference, which is a Spark job of its
  * own (a 1-task `parquet at Tables` stage), and every query builds a
  * fresh `Tables`. The schema is resolved once per table version and
  * memoized in the companion object (see [[Tables.read]]).
  *
  * At 100 TB these would be partitioned directories (e.g. donations
  * partitioned by date) — the loaders keep a single entry point so the
  * query layer never hard-codes paths.
  */
final class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    Tables.read(spark, s"$dir/$name.parquet")

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")

  /** `events.ts` is nanosecond-precision parquet, which Spark 4 refuses as
    * TimestampType. We read it as a raw long (legacy nanosAsLong) and
    * normalize ns → microsecond TimestampType — the same ns→ts conversion
    * the reference applies to NEAR block-header timestamps
    * (indexer_app/handler.py:50-52). Truncation is exact here: the
    * generator emits µs-precision values.
    */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t("events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
  /** documents/embeddings ship as a single parquet row group, which would
    * pin every CPU-heavy per-row operator (shingling, minhash, cosine) to
    * ONE task. Repartition to the session's parallelism on load — the rows
    * are few but each carries heavy compute. On a real 100 TB corpus the
    * scan parallelizes by file split and this becomes a no-op-cost round
    * robin. */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism)

  def documents: DataFrame = spread(t("documents"))
  def embeddings: DataFrame = spread(t("embeddings"))
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** A table version: every file under the path with its length and
    * modification time, plus the nanosAsLong setting in force — `events`
    * sets it, and it turns a nanosecond timestamp column, which has no
    * Spark type, into a long. */
  private type Version = (Seq[(String, Long, Long)], Option[String])

  /** Resolved schema per table path, with the version it was resolved
    * at. One entry per path: a rewritten table replaces its entry. */
  private val schemas =
    scala.collection.concurrent.TrieMap[String, (Version, StructType)]()

  private def version(spark: SparkSession, path: String): Version = {
    val p = new org.apache.hadoop.fs.Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    val files = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    (files.result().sorted,
      spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong"))
  }

  /** `spark.read.parquet(path)` with the schema resolved once per table
    * version: only the first read of a version runs the inference job,
    * and a table rewritten in place (new files, lengths or modification
    * times) is resolved again. A path that cannot be listed takes the
    * plain read, so its error is Spark's own. */
  def read(spark: SparkSession, path: String): DataFrame =
    scala.util.Try(version(spark, path)).toOption match {
      case None => spark.read.parquet(path)
      case Some(v) =>
        val schema = schemas.get(path) match {
          case Some((seen, s)) if seen == v => s
          case _ =>
            val s = spark.read.parquet(path).schema
            schemas.put(path, (v, s)): Unit
            s
        }
        spark.read.schema(schema).parquet(path)
    }
}
