package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.perfbench.SparkBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval in epoch milliseconds. Spans nest by [[Span.Level]]:
  * pass > op > operators.build / action > stream.trigger >
  * spark.job / planner > spark.stage. Every span of one op carries the
  * op's id (`<pass>/<member>`); a pass span carries `<pass>`.
  */
final case class Span(kind: String, name: String, startMs: Double, endMs: Double,
    pass: Int, op: String) {
  def ms: Double = endMs - startMs
  def json: String = {
    def q(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    s"""{"kind":${q(kind)},"name":${q(name)},"op":${q(op)},"pass":$pass,"start_ms":$startMs,"end_ms":$endMs}"""
  }
}

object Span {
  val Level: Map[String, Int] = Map("pass" -> 0, "op" -> 1, "operators.build" -> 2,
    "action" -> 2, "stream.trigger" -> 3, "spark.job" -> 4, "planner" -> 4,
    "spark.stage" -> 5)
  def level(kind: String): Int = Level.getOrElse(kind, 6)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def coveredMs(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time per span kind: each span's length minus the part of it
    * covered by any deeper-level span.
    */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val deeper = spans.groupBy(s => level(s.kind))
    spans.groupBy(_.kind).map { case (kind, ss) =>
      val lv = level(kind)
      val below = deeper.collect { case (l, xs) if l > lv => xs }.flatten
        .map(s => (s.startMs, s.endMs)).toSeq.sortBy(_._1)
      kind -> ss.map(s => s.ms - coveredMs(
        below.filter(b => b._1 < s.endMs && b._2 > s.startMs), s.startMs, s.endMs)).sum
    }
  }
}

/** Per-layer counters of one traced window (a pass). */
final class LayerCounters {
  var jobs, stages, tasks = 0L
  var schedDelayMs, runMs, gcMs, deserMs, fetchWaitMs = 0.0
  var cpuNs = 0L
  var shuffleWrite, shuffleRead, spill, scanBytes, scanRecords, outBytes = 0L
  var blocksPut, bytesPut = 0L
  val stageSkews = mutable.ArrayBuffer.empty[Double]
  var queries = 0L
  val planMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var triggers, inputRows, stateRows, stateMem = 0L
  var stateCommitMs = 0.0
  val streamMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val triggerMs = mutable.ArrayBuffer.empty[Double]
}

/** Listens to Spark's public listener interfaces while attached and
  * keeps spans and counters in memory. Everything the listeners see
  * arrives on the asynchronous listener bus; call [[drain]] before
  * reading counters or closing the span of an op.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var pass = -1
  @volatile private var op = ""
  @volatile private var cur = new LayerCounters
  private val jobStart = mutable.Map.empty[Int, Long]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobStart(e.jobId) = e.time
      cur.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach(t =>
        spans += Span("spark.job", s"job ${e.jobId}", t.toDouble, e.time.toDouble, pass, op))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      cur.stages += 1
      for (s <- i.submissionTime; c <- i.completionTime)
        spans += Span("spark.stage", s"stage ${i.stageId}.${i.attemptNumber()} ${i.name}",
          s.toDouble, c.toDouble, pass, op)
      taskMs.remove((i.stageId, i.attemptNumber())).filter(_.length >= 2).foreach { ds =>
        val med = Stats.median(ds.map(_.toDouble).toSeq)
        if (med > 0) cur.stageSkews += ds.max / med
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val c = cur
      val info = e.taskInfo
      val dur = info.finishTime - info.launchTime
      c.tasks += 1
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += dur
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.deserMs += m.executorDeserializeTime
        c.schedDelayMs += math.max(0L,
          dur - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.scanBytes += m.inputMetrics.bytesRead
        c.scanRecords += m.inputMetrics.recordsRead
        c.outBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        cur.blocksPut += 1
        cur.bytesPut += b.memSize + b.diskSize
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      cur.queries += 1
      qe.tracker.phases.foreach { case (phase, p) =>
        cur.planMs(phase) += (p.endTimeMs - p.startTimeMs).toDouble
        spans += Span("planner", phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble, pass, op)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = lock.synchronized {
      val p = e.progress
      val c = cur
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      c.triggers += 1
      c.inputRows += p.numInputRows
      d.foreach { case (k, v) => c.streamMs(k) += v }
      val trig = d.getOrElse("triggerExecution", 0.0)
      c.triggerMs += trig
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      spans += Span("stream.trigger", s"${p.name} #${p.batchId}", start, start + trig, pass, op)
      p.stateOperators.foreach { so =>
        c.stateRows += so.numRowsTotal
        c.stateMem += so.memoryUsedBytes
        c.stateCommitMs += so.commitTimeMs
      }
    }
  }

  private var attached = false

  /** Start attributing events to traced pass `p`. */
  def attach(p: Int): LayerCounters = {
    drain()
    lock.synchronized { pass = p; cur = new LayerCounters }
    if (!attached) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
      attached = true
    }
    cur
  }

  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def drain(): Unit = SparkBridge.drainListenerBus(sc)

  /** Attribute the spans that follow to op `id`. */
  def startOp(id: String): Unit = op = id

  def span(kind: String, name: String, startMs: Double, endMs: Double, p: Int, id: String): Unit =
    lock.synchronized { spans += Span(kind, name, startMs, endMs, p, id) }

  def allSpans: Seq[Span] = lock.synchronized(spans.toList)
}

/** JVM-wide counters read by differencing. */
object JvmCounters {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  /** Peak resident set (VmHWM) in MB; 0 where /proc is absent. */
  def peakRssMb: Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) 0.0
    else java.nio.file.Files.readAllLines(f.toPath).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }
}
