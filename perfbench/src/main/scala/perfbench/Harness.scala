package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the result line and the trace report. */
object Json {
  /** Every digit of the value (shortest round-trip form); NaN is null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Nearest-rank quantile (q in (0, 1]); NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** JVM-side counters read around calls into the program. */
object Jvm {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Bytes allocated so far by the calling thread. */
  def threadAlloc(): Long = threads.getCurrentThreadAllocatedBytes

  def processCpuNs(): Long = os.getProcessCpuTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** Heap still reachable after full collections, in MB. */
  def retainedHeapMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** One traced interval. `parent` is the enclosing span's id (-1 at a root);
  * `request` is the request id shared by every span of one request (-1 for
  * the once-per-run layer probe).
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int,
    request: Long, attrs: Map[String, Double]) {
  def durNs: Long = endNs - startNs
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder, written out when the run ends. Disabled, it
  * only runs the body: the untraced run pays nothing but a branch.
  */
final class Trace(val enabled: Boolean) {
  /** Whether spans are recorded now: off for the untraced requests of a
    * traced run, so they take the same code path as an untraced run.
    */
  var active: Boolean = enabled
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.ArrayStack.empty[(Int, mutable.Map[String, Double])]
  private var nextId = 0
  var request: Long = -1L

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = if (stack.isEmpty) -1 else stack.top._1
      val attrs = mutable.Map.empty[String, Double]
      stack.push((id, attrs))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        spans += Span(id, name, t0, t1, parent, request, attrs.toMap)
      }
    }

  /** Records an interval measured by the caller, under the open span. */
  def record(name: String, startNs: Long, endNs: Long, attrs: Map[String, Double]): Unit =
    if (active) {
      val id = nextId
      nextId += 1
      spans += Span(id, name, startNs, endNs, if (stack.isEmpty) -1 else stack.top._1, request, attrs)
    }

  /** Attaches a measured value to the innermost open span. */
  def attr(key: String, value: Double): Unit =
    if (active && stack.nonEmpty) stack.top._2(key) = value

  def all: Seq[Span] = spans.toSeq

  /** Spans named `name`, preferring the requests' own over the probe's. */
  def named(name: String): Seq[Span] = {
    val own = spans.filter(s => s.name == name && s.request >= 0)
    if (own.nonEmpty) own.toSeq else spans.filter(_.name == name).toSeq
  }

  /** Self time per layer (span duration minus the part its children cover),
    * summed over the requests' spans, in ms.
    */
  def selfMsByLayer(): Map[String, Double] = {
    val own = spans.filter(_.request >= 0)
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    own.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    own.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => (s.durNs - childNs(s.id)).toDouble).sum / 1e6
    }
  }

  def writeJsonl(file: File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "parent" -> s.parent.toString, "request" -> s.request.toString) ++
        s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
    } finally w.close()
  }
}

/** Job, stage, task and scan ledger gathered from Spark's own events: a
  * `SparkListener` for jobs and tasks, a `QueryExecutionListener` for the
  * pjparquet scan's SQL metrics. Jobs are attributed to the request that
  * submitted them through the `perfbench.request` local property.
  */
final class Ledger(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  final class JobRec(val request: Long, val submitted: Long) {
    @volatile var finished: Long = -1L
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var shuffleBytes = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var outputTasks = 0
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val scanSums = mutable.Map.empty[String, Long].withDefaultValue(0L)
  @volatile private var scans = 0L

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def beginRequest(id: Long): Unit =
    spark.sparkContext.setLocalProperty(Ledger.RequestProp, id.toString)

  /** Waits until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val req = Option(e.properties).flatMap(p => Option(p.getProperty(Ledger.RequestProp)))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobRec(req, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.finished = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    forStage(e.stageInfo.stageId)(_.stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = forStage(e.stageId) { j =>
    j.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      j.taskMs += m.executorRunTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.inputBytes += m.inputMetrics.bytesRead
      j.outputBytes += m.outputMetrics.bytesWritten
      if (m.outputMetrics.bytesWritten > 0) j.outputTasks += 1
    }
  }
  private def forStage(stage: Int)(f: JobRec => Unit): Unit =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j))).foreach(r => r.synchronized(f(r)))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = collectWithSubqueries(qe.executedPlan) {
      case b: BatchScanExec if b.scan.getClass.getName.endsWith("PjScan") => b
    }
    scanSums.synchronized {
      nodes.foreach { b =>
        scans += 1
        Ledger.ScanMetrics.foreach(n => b.metrics.get(n).foreach(m => scanSums(n) += m.value))
      }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def resetScans(): Unit = scanSums.synchronized { scanSums.clear(); scans = 0L }

  def jobsOf(request: Long): Seq[JobRec] =
    jobs.values().asScala.filter(_.request == request).toSeq.sortBy(_.submitted)

  def allJobs: Seq[JobRec] = jobs.values().asScala.toSeq

  /** Sums of the pjparquet scan metrics, and the number of scans seen. */
  def scanTotals: (Long, Map[String, Long]) = scanSums.synchronized((scans, scanSums.toMap))
}

object Ledger {
  val RequestProp = "perfbench.request"
  val ScanMetrics = Seq("pjFilesPlanned", "pjFilesPruned", "pjRowGroupsPlanned", "pjPlannedBytes")

  /** Union of job intervals inside [t0, t1] (epoch ms). */
  def busyMs(js: Seq[Ledger#JobRec], t0: Long, t1: Long): Long = {
    var busy = 0L
    var cur = t0
    js.sortBy(_.submitted).foreach { j =>
      val s = math.max(cur, math.max(t0, j.submitted))
      val e = math.min(t1, if (j.finished < 0) t1 else j.finished)
      if (e > s) { busy += e - s; cur = e }
    }
    busy
  }
}
