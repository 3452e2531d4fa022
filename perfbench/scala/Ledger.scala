package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Work counters of one phase of a run, summed from listener events. */
final class Counters {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleBytes, spillBytes,
    inputRecords, inputBytes, outputBytes, filesWritten = new LongAdder

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
    "run_ms" -> runMs.sum, "cpu_ns" -> cpuNs.sum, "gc_ms" -> gcMs.sum,
    "shuffle_bytes" -> shuffleBytes.sum, "spill_bytes" -> spillBytes.sum,
    "input_records" -> inputRecords.sum, "input_bytes" -> inputBytes.sum,
    "output_bytes" -> outputBytes.sum, "files_written" -> filesWritten.sum)
}

/** One micro-batch of the live tail, from its progress event. */
final case class Batch(id: Long, fromHeight: Long, toHeight: Long, durationMs: Long)

/** The traced run's only instrument: a SparkListener plus a
  * StreamingQueryListener, registered from outside the program. Jobs are
  * attributed to a phase in this order: the `perfbench.phase` local
  * property (set only on the benchmark's own short-lived threads), the
  * streaming query id that Spark stamps on every job a micro-batch runs,
  * and otherwise the phase the benchmark's main thread is in. */
final class Ledger extends SparkListener {
  @volatile var phase: String = "setup"

  private val phases = new ConcurrentHashMap[String, Counters]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val stageBatch = new ConcurrentHashMap[Int, java.lang.Long]()
  private val writtenFilesAccums = ConcurrentHashMap.newKeySet[Long]()
  /** batch id → (stages, tasks) */
  val batchWork = new ConcurrentHashMap[Long, (LongAdder, LongAdder)]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  /** Height before the stream's first block: a fresh stream's first
    * progress event carries no start offset. */
  @volatile var streamFrom: Long = 0L

  def of(p: String): Counters = phases.computeIfAbsent(p, _ => new Counters)

  private def prop(props: java.util.Properties, key: String): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(key)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val streaming = prop(e.properties, "sql.streaming.queryId").isDefined
    val p = prop(e.properties, "perfbench.phase")
      .getOrElse(if (streaming) "stream" else phase)
    of(p).jobs.increment()
    val batch = prop(e.properties, "streaming.sql.batchId").flatMap(_.toLongOption)
    e.stageIds.foreach { s =>
      stagePhase.put(s, p)
      batch.foreach(b => stageBatch.put(s, b))
    }
  }

  private def batchAdders(b: Long): (LongAdder, LongAdder) =
    batchWork.computeIfAbsent(b, _ => (new LongAdder, new LongAdder))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    of(stagePhase.getOrDefault(id, phase)).stages.increment()
    Option(stageBatch.get(id)).foreach(b => batchAdders(b)._1.increment())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stagePhase.getOrDefault(e.stageId, phase))
    c.tasks.increment()
    Option(stageBatch.get(e.stageId)).foreach(b => batchAdders(b)._2.increment())
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.add(m.executorRunTime)
      c.cpuNs.add(m.executorCpuTime)
      c.gcMs.add(m.jvmGCTime)
      c.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.inputRecords.add(m.inputMetrics.recordsRead)
      c.inputBytes.add(m.inputMetrics.bytesRead)
      c.outputBytes.add(m.outputMetrics.bytesWritten)
    }
  }

  /** Written-file counts are driver-side SQL metrics: remember the
    * accumulator ids of every "number of written files" metric a plan
    * declares, then sum the driver updates posted for them. */
  private def collectWriteAccums(info: SparkPlanInfo): Unit = {
    info.metrics.foreach { m =>
      if (m.name == "number of written files") writtenFilesAccums.add(m.accumulatorId)
    }
    info.children.foreach(collectWriteAccums)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => collectWriteAccums(s.sparkPlanInfo)
    case a: SparkListenerSQLAdaptiveExecutionUpdate => collectWriteAccums(a.sparkPlanInfo)
    case u: SparkListenerDriverAccumUpdates =>
      val n = u.accumUpdates.collect {
        case (id, v) if writtenFilesAccums.contains(id) => v
      }.sum
      if (n > 0) of(phase).filesWritten.add(n)
    case _ =>
  }

  def snapshot(p: String): Map[String, Long] = of(p).snapshot

  /** Micro-batch records from the stream's progress events. LakeSource
    * offsets are block heights: a batch covers (start, end]. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      p.sources.headOption.foreach { s =>
        val from = Option(s.startOffset).flatMap(_.trim.toLongOption)
          .getOrElse(streamFrom)
        Option(s.endOffset).flatMap(_.trim.toLongOption) match {
          case Some(t) if t > from =>
            val ms = p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)
            batches.add(Batch(p.batchId, from, t, ms))
          case _ =>
        }
      }
    }
  }
}
