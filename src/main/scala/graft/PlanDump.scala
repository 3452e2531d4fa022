package graft

/** Writes `.explain("formatted")` for named queries to files
  * (`<outDir>/<q>_<suffix>.txt`), on demand, for before/after plan
  * evidence. Usage:
  *
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  *
  * No timing, no execution beyond what a builder does eagerly
  * (driver-side fits/counts); the formatted string is the PRE-execution
  * plan (AdaptiveSparkPlan isFinalPlan=false), which is what the plan
  * deliverables pin — join strategy, Exchange count, PushedFilters,
  * ReadSchema, codegen spans.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <suffix> [names]")
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names: Seq[String] =
      if (args.length >= 4) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = HarnessSession.local()
    new java.io.File(outDir).mkdirs()
    // Failures are COLLECTED and fail the process (ADVICE r15): a
    // per-query catch that exits 0 lets plan-evidence automation silently
    // produce missing files. Fatal errors (OOM) propagate immediately.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { name =>
      try {
        SparkEntry.releaseTracked(); spark.catalog.clearCache()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plandump] OK   $name")
      } catch {
        case fatal: VirtualMachineError => throw fatal
        case e: Throwable =>
          failed += name
          println(s"[plandump] FAIL $name: ${e.getMessage}")
      }
    }
    SparkEntry.releaseTracked()
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
