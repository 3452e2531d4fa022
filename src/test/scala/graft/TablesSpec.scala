package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Job groups of the jobs `body` starts on this thread. Listener events
    * arrive asynchronously, so a marker job runs after `body` and the
    * count is read once the listener has seen it. */
  private def jobGroups(body: => Unit): Seq[String] = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tables-probe", "reads under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("tables-marker", "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!groups.contains("tables-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("tables-marker"), "listener never saw the marker job")
      groups.asScala.toSeq.filter(_ == "tables-probe")
    } finally sc.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a second read of a table version runs no Spark job") {
    Tables(spark, dir).lineitem.queryExecution.analyzed: Unit
    val jobs = jobGroups {
      Tables(spark, dir).lineitem.queryExecution.analyzed: Unit
    }
    assert(jobs.isEmpty, s"${jobs.size} jobs while re-reading lineitem")

    // The listener does see the inference job of a first read.
    val fresh = tmpDir("tables-fresh")
    Seq((1, "a")).toDF("k", "v").write.parquet(s"$fresh/region.parquet")
    val first = jobGroups {
      Tables(spark, fresh).region.queryExecution.analyzed: Unit
    }
    assert(first.nonEmpty, "a first read resolves its schema with a job")
  }

  test("every harness table reads the schema and rows of a plain read") {
    names.foreach { n =>
      val path = s"$dir/$n.parquet"
      val plain = spark.read.parquet(path)
      val resolved = Tables.read(spark, path)
      assert(resolved.schema == plain.schema, n)
      assert(rows(resolved) == rows(plain), n)
    }
  }

  test("events' nanosecond timestamps read as longs, keyed on nanosAsLong") {
    // The test data's events carry microsecond timestamps; a generator
    // that writes nanoseconds needs the nanosAsLong path.
    val d = tmpDir("tables-nanos")
    val path = s"$d/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    val groups = new SimpleGroupFactory(schema)
    Seq(1L -> 1704067200123456000L, 2L -> 1704153600000001000L).foreach {
      case (id, ns) => w.write(groups.newGroup().append("event_id", id).append("ts", ns))
    }
    w.close()

    val events = Tables(spark, d).events
    val plain = spark.read.parquet(path)
    assert(plain.schema("ts").dataType == LongType)
    assert(Tables.read(spark, path).schema == plain.schema)
    assert(rows(Tables.read(spark, path)) == rows(plain))
    assert(events.schema("ts").dataType == TimestampType)
    assert(rows(events.selectExpr("event_id", "unix_micros(ts)")) ==
      Seq("[1,1704067200123456]", "[2,1704153600000001]"))

    // Without nanosAsLong the column has no Spark type: the memo is keyed
    // on the setting, so the read fails as a plain read does instead of
    // serving the long schema resolved above.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "false")
    try {
      intercept[Exception](spark.read.parquet(path))
      intercept[Exception](Tables.read(spark, path))
    } finally spark.conf.set(key, "true")
  }

  test("a table rewritten in place with a different schema is resolved again") {
    val d = tmpDir("tables-rewrite")
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(s"$d/region.parquet")
    val before = Tables(spark, d).region
    assert(before.columns.toSeq == Seq("k", "v"))
    assert(rows(before) == Seq("[1,a]", "[2,b]"))

    Seq((3L, 1.5, true)).toDF("id", "x", "flag")
      .write.mode("overwrite").parquet(s"$d/region.parquet")
    val after = Tables(spark, d).region
    assert(after.schema == spark.read.parquet(s"$d/region.parquet").schema)
    assert(after.columns.toSeq == Seq("id", "x", "flag"))
    assert(rows(after) == Seq("[3,1.5,true]"))
  }
}
