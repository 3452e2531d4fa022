package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `board`: a fixed panel of SparkEntry pipeline queries over seeded
  * TPC-H-like tables, one at a time in sorted order. Each execution is
  * timed to Spark's `noop` sink, which consumes every output column, so
  * the optimizer cannot prune the query's computed expressions the way
  * a `count()` does. An untimed warm pass runs first. Outputs are dumped
  * once, after timing, for the DuckDB oracle check.
  */
object Board {
  /** One query per family, the cheapest of each at this scale, so a run
    * holds several whole rounds. q_txt12_nfc_normalize and q_dd4_simhash
    * compute expressions that a count() would prune away. */
  val Panel: Seq[String] = Seq(
    "q_a7_approx_distinct", "q_dd4_simhash", "q_gr3_kcore",
    "q_j7_latest_per_group", "q_p6_interval", "q_samp1_train_test_split",
    "q_sim4_quantize", "q_srch2_top_terms", "q_txt12_nfc_normalize",
    "q_w7_lag_delta").sorted

  val MinRounds = 3

  /** Untimed passes after the output pass, each running the whole panel
    * once per thread. */
  val WarmPasses = 2

  val Families: Seq[String] = Seq("a", "dd", "gr", "j", "p", "samp", "sim", "srch", "txt", "w")

  def family(q: String): String = q.stripPrefix("q_").takeWhile(_.isLetter)

  /** Releases what a query persisted through the engine's own handle
    * (SparkEntry.releaseTracked) and the catalog cache, then counts the
    * RDDs still persisted (leaked) and unpersists them too, so they cannot
    * slow later queries. */
  private def release(spark: SparkSession): Int = {
    SparkEntry.releaseTracked()
    spark.catalog.clearCache()
    val left = spark.sparkContext.getPersistentRDDs.values.toSeq
    left.foreach(_.unpersist(blocking = true))
    left.size
  }

  /** Runs the labelled `tasks` on a pool of `threads`, waiting for all; a
    * task that throws adds its label and error to `errors`. */
  private def parallel(threads: Int, tasks: Seq[(String, () => Unit)],
      errors: java.util.Collection[String]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map { case (label, task) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try task()
          catch {
            case scala.util.control.NonFatal(e) => errors.add(s"$label: ${e.getMessage}".take(300))
          }
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, ledger: Ledger, tables: String, out: String,
      seconds: Double): Outcome = {
    val queries = SparkEntry.queries
    // Set-up: the untimed warm-up. Its first pass (first-query codegen)
    // also writes each query's output for the oracle check. The JIT keeps
    // speeding the panel up for about ten sequential rounds after that,
    // so `WarmPasses` more passes follow, in each of which every thread
    // runs the whole panel from its own starting query. Passes run on as
    // many threads as Spark has cores; persisted intermediates are
    // released after each.
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = spark.sparkContext.defaultParallelism
    val setupS = Time.s {
      parallel(threads, Panel.map(q => s"$q output" -> (() =>
        ntz(queries(q)(spark, tables)).coalesce(1).write.mode("overwrite").parquet(s"$out/$q"))),
        errors)
      release(spark)
      (0 until WarmPasses).foreach { _ =>
        parallel(threads, (0 until threads).map { k => "warm-up" -> (() =>
          (Panel.drop(k * Panel.size / threads) ++ Panel.take(k * Panel.size / threads))
            .foreach(q => noop(queries(q)(spark, tables))))
        }, errors)
        release(spark)
      }
    }
    ledger.phase = "board"
    val before = ledger.snapshot("board")
    val samples = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    var leaked = 0L
    var rounds = 0
    var failed = 0L
    val t0 = System.nanoTime()
    // Whole rounds until `seconds` have passed, and at least `MinRounds`,
    // so a query's median is taken over as many samples in every run.
    while (rounds < MinRounds || System.nanoTime() - t0 < seconds * 1e9) {
      Panel.foreach { q =>
        val q0 = System.nanoTime()
        try {
          noop(queries(q)(spark, tables))
          samples.getOrElseUpdate(q, mutable.ArrayBuffer()) += (System.nanoTime() - q0) / 1e6
        } catch {
          case scala.util.control.NonFatal(e) =>
            failed += 1
            errors.add(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
        leaked += release(spark)
      }
      rounds += 1
    }
    ledger.phase = "after"
    val work = Metrics.delta(ledger.snapshot("board"), before)

    val abs = new java.io.File(out).getAbsolutePath
    val oracle = Panel.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _.replace("${OUT}", abs)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }))

    val medians = Panel.flatMap(q => samples.get(q).map(xs => q -> Stats.median(xs.toSeq))).toMap
    val e2e = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.geomean(medians.values.toSeq),
      "ops_per_s" -> medians.size / (medians.values.sum / 1000.0))
    val stages = work("stages").toDouble
    val layers = mutable.Map[String, Double](
      "board.rounds" -> rounds.toDouble,
      "board.stages" -> stages / rounds,
      "board.tasks" -> work("tasks").toDouble / rounds,
      "board.tasks_per_stage" -> (if (stages > 0) work("tasks") / stages else 0.0),
      "board.shuffle_mb" -> work("shuffle_bytes") / 1048576.0 / rounds,
      "board.spill_mb" -> work("spill_bytes") / 1048576.0 / rounds,
      "board.task_cpu_s" -> work("cpu_ns") / 1e9 / rounds,
      "board.gc_s" -> work("gc_ms") / 1000.0 / rounds,
      "board.leaked_rdds" -> leaked.toDouble / rounds)
    Families.foreach { f =>
      val xs = medians.collect { case (q, m) if family(q) == f => m }.toSeq
      layers(s"board.family.${f}_ms") = if (xs.isEmpty) 0.0 else Stats.geomean(xs)
    }
    Outcome(errors.isEmpty, rounds.toLong * Panel.size, failed, e2e, layers.toMap,
      errors.asScala.take(5).toSeq)
  }

  /** Timestamps go out as TIMESTAMP_NTZ, as the oracle dump in graft.Verify
    * writes them, so DuckDB reads naive values on both sides. */
  private def ntz(df: DataFrame): DataFrame = {
    def conv(dt: DataType): DataType = dt match {
      case TimestampType => TimestampNTZType
      case s: StructType => StructType(s.fields.map(f => f.copy(dataType = conv(f.dataType))))
      case a: ArrayType => a.copy(elementType = conv(a.elementType))
      case m: MapType => m.copy(keyType = conv(m.keyType), valueType = conv(m.valueType))
      case other => other
    }
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      val t = conv(f.dataType)
      if (t == f.dataType) col(f.name) else col(f.name).cast(t).as(f.name)
    }: _*)
  }
}
