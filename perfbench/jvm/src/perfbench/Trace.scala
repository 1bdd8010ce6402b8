package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark-side tracing.
  *
  * Always on: task input/output byte counters (the end-to-end bytes-per-row
  * metrics). With `traced = true` it also records, while `enabled`:
  *  - a span around every call the benchmark makes into a layer (name,
  *    layer, kind, start, end, parent, operation id);
  *  - per stage, the task metrics summed over its tasks, the span open when
  *    its job was submitted (a job-local property, so it survives the
  *    broadcast threads), its SQL execution id and the `graft.` frames of
  *    its call site (`StageInfo.details`), innermost first;
  *  - per job, its submit/end times and span;
  *  - per query, the Catalyst phase times (QueryExecutionListener).
  * Everything is kept in memory and returned by [[dump]] at the end.
  * Attribution to layers happens when the result is summarised. */
final class Tracer(spark: SparkSession, val traced: Boolean)
    extends SparkListener with QueryExecutionListener {

  val SpanKey = "perfbench.span"
  private val sc = spark.sparkContext

  val inputBytes = new AtomicLong
  val outputBytes = new AtomicLong

  @volatile var enabled = false

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  final class StageRec(val span: Int, val execution: String, val frames: Seq[String]) {
    var tasks = 0L; var failures = 0L; var cpuNs = 0L; var runMs = 0L
    var waitMs = 0L; var inBytes = 0L; var outBytes = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
    def toMap(id: Int): Map[String, Any] = Map("stage" -> id, "span" -> span,
      "execution" -> execution, "frames" -> frames, "tasks" -> tasks, "failures" -> failures,
      "cpu_ns" -> cpuNs, "run_ms" -> runMs, "wait_ms" -> waitMs,
      "in_bytes" -> inBytes, "out_bytes" -> outBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes)
  }

  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private var nextSpan = 0
  private var openSpans: List[Int] = Nil
  private val stages = mutable.LinkedHashMap[Int, StageRec]()
  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val plans = mutable.ArrayBuffer[Map[String, Any]]()

  if (traced) {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  } else sc.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = countBytes(e)
  })

  /** Runs `body` inside a span when tracing is enabled; a plain call
    * otherwise. `op` groups the spans of one benchmark operation. */
  def span[T](name: String, layer: String, kind: String, op: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = openSpans.headOption.getOrElse(-1)
      val prevProp = sc.getLocalProperty(SpanKey)
      openSpans = id :: openSpans
      sc.setLocalProperty(SpanKey, id.toString)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        openSpans = openSpans.tail
        sc.setLocalProperty(SpanKey, prevProp)
        spans += Map("id" -> id, "parent" -> parent, "name" -> name,
          "layer" -> layer, "kind" -> kind, "op" -> op,
          "start_ms" -> start, "end_ms" -> end)
      }
    }

  private def countBytes(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { s =>
      val frames = Option(e.stageInfo.details).toSeq
        .flatMap(_.split("\n")).map(_.trim).filter(_.startsWith("graft.")).take(4)
      val execution = Option(e.properties.getProperty("spark.sql.execution.id")).getOrElse("")
      synchronized { stages(e.stageInfo.stageId) = new StageRec(s, execution, frames) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    countBytes(e)
    synchronized(stages.get(e.stageId)).foreach { r =>
      val m = e.taskMetrics
      val info = e.taskInfo
      synchronized {
        r.tasks += 1
        if (e.reason != Success) r.failures += 1
        if (m != null) {
          val gettingResult =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
          val schedulerDelay = math.max(0L, (info.finishTime - info.launchTime) -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - gettingResult)
          r.cpuNs += m.executorCpuTime
          r.runMs += m.executorRunTime
          r.waitMs += schedulerDelay + m.shuffleReadMetrics.fetchWaitTime
          r.inBytes += m.inputMetrics.bytesRead
          r.outBytes += m.outputMetrics.bytesWritten
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          r.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      synchronized {
        jobs(e.jobId) = mutable.Map("job" -> e.jobId, "span" -> s,
          "start_ms" -> e.time, "end_ms" -> e.time, "stages" -> e.stageIds)
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobs.get(e.jobId).foreach(_("end_ms") = e.time))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  /** Catalyst phase times of one query; attributed by time window later,
    * since this callback runs on the listener thread. */
  private def recordPlan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      plans += Map("start_ms" -> phases.map(_.startTimeMs).min,
        "plan_ms" -> phases.map(_.durationMs).sum)
    }
  }

  /** Waits until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.perfbench.BusDrain(sc)

  def dump(): Map[String, Any] = {
    drain()
    synchronized {
      Map("spans" -> spans.toList,
        "stages" -> stages.map { case (id, r) => r.toMap(id) }.toList,
        "jobs" -> jobs.values.map(_.toMap).toList,
        "plans" -> plans.toList)
    }
  }
}

/** Process-level probes: user CPU, GC time, heap used after GC. */
object Proc {
  private val statFile = java.nio.file.Paths.get("/proc/self/stat")
  private val TicksPerSec = 100.0

  /** Process user CPU seconds (Linux `/proc/self/stat` utime); total process
    * CPU where that file is absent. */
  def userCpuS(): Double =
    if (java.nio.file.Files.exists(statFile)) {
      val s = new String(java.nio.file.Files.readAllBytes(statFile))
      s.substring(s.lastIndexOf(')') + 2).split(" ")(11).toLong / TicksPerSec
    } else ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val peakAfterGc = new AtomicLong

  /** Largest heap-used-after-GC seen since the last call (bytes), from the
    * collectors' notifications. */
  def takePeakHeapAfterGc(): Long = peakAfterGc.getAndSet(0L)

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: javax.management.NotificationEmitter =>
      emitter.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakAfterGc.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }
      }, null, null)
    case _ =>
  }
}
