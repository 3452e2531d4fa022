package perfbench

import org.apache.spark.sql.SparkSession

import graft.HarnessSession

/** What one workload run produced. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    endToEnd: Map[String, Double], layers: Map[String, Double], problems: Seq[String])

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

object Metrics {
  def delta(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Host probe, outside every timed region: the wall time of a 1-task
  * Spark job on cached data (scheduler latency) and of a fixed
  * single-thread CPU loop. Read beside the numbers to tell a slow host
  * from a slow program. */
object HostProbe {
  def run(spark: SparkSession): Map[String, Double] = {
    val one = spark.range(1).persist()
    one.count()
    val canary = (0 until 5).map { _ =>
      val t0 = System.nanoTime(); one.count(); (System.nanoTime() - t0) / 1e6
    }
    one.unpersist(blocking = true)
    val cpu = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      var x = 0.0
      var i = 1
      while (i < 20000000) { x += math.sqrt(i.toDouble); i += 1 }
      if (x < 0) println(x)
      (System.nanoTime() - t0) / 1e6
    }
    Map("host.canary_ms" -> Stats.median(canary), "host.cpu_ms" -> Stats.median(cpu))
  }
}

/** Runs one workload in this JVM and prints one JSON line: the run's
  * outcome with every end-to-end and per-layer value it measured.
  *
  * Usage: perfbench.Main --workload board|tail --seed N --seconds S
  *          --trace 0|1 --work DIR [--tables DIR]
  */
object Main {
  /** Spark runs `local[4]` on every host, so figures from different
    * hosts differ by host speed, not by parallelism. */
  val SparkCores = "4"

  /** Heap in use after full collections: the lowest of three reads, each
    * after a System.gc() and a pause for reference processing. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val spark = HarnessSession.local(SparkCores)
    val ledger = new Ledger
    if (trace) {
      spark.sparkContext.addSparkListener(ledger)
      spark.streams.addListener(ledger.streams)
    }
    val outcome =
      try workload match {
        case "board" => Board.run(spark, ledger, opts("tables"), s"$work/out", seconds)
        case "tail" => Tail.run(spark, ledger, work, seed, seconds, trace)
        case other => sys.error(s"unknown workload $other")
      } catch {
        case scala.util.control.NonFatal(e) =>
          e.printStackTrace()
          Outcome(correct = false, 1, 1, Map.empty, Map.empty, Seq(e.toString))
      }
    val probe = HostProbe.run(spark)
    val retainedMb = retainedHeapMb()
    val fields = Seq(
      "correct" -> outcome.correct.toString,
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "end_to_end" -> Json.obj((outcome.endToEnd + ("mem_retained_mb" -> retainedMb))
        .toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj((outcome.layers ++ probe).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }),
      "problems" -> outcome.problems.map(Json.str).mkString("[", ", ", "]"))
    spark.stop()
    println(Json.obj(fields))
  }
}
