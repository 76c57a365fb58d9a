package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced public call. Times are epoch nanoseconds (wall clock), so
  * they intersect directly with the listener's stage intervals. */
final case class Span(id: Long, layer: String, name: String, pass: Int,
                      parent: Long, start: Long, var end: Long = 0L) {
  def wall: Long = end - start
}

/** Per-span (per job group) counters charged by [[Attribution]]. */
final class Charge {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ns
}

/** Spark listener owned by the benchmark: charges jobs, tasks, CPU, GC,
  * shuffle and spill to the job group that launched them (the span id the
  * tracer sets), records stage-active intervals for the driver-gap
  * computation, tracks cached RDD bytes from block updates, and keeps each
  * query's analysis/optimization/planning phases. */
final class Attribution extends SparkListener with QueryExecutionListener {
  val NoGroup = "-"
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageStart = mutable.Map.empty[Int, Long]
  val charges = mutable.Map.empty[String, Charge]
  /** (phase start epoch ns, duration ns) of every successful query's plan. */
  val planPhases = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var cachedBytes = 0L
  var cachedPeakBytes = 0L

  private def charge(group: String): Charge = charges.getOrElseUpdate(group, new Charge)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(NoGroup)
    charge(g).jobs += 1
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    stageStart(info.stageId) = info.submissionTime.getOrElse(System.currentTimeMillis()) * 1000000L
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val start = stageStart.remove(info.stageId)
      .orElse(info.submissionTime.map(_ * 1000000L))
    val end = info.completionTime.getOrElse(System.currentTimeMillis()) * 1000000L
    start.foreach(s => charge(stageGroup.getOrElse(info.stageId, NoGroup)).stageIntervals += ((s, end)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = charge(stageGroup.getOrElse(e.stageId, NoGroup))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.recordsRead += m.inputMetrics.recordsRead
      c.bytesRead += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedBytes += now - blockBytes.getOrElse(key, 0L)
      if (now == 0L) blockBytes.remove(key) else blockBytes(key) = now
      cachedPeakBytes = math.max(cachedPeakBytes, cachedBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.values.foreach { p =>
        planPhases += ((p.startTimeMs * 1000000L, (p.endTimeMs - p.startTimeMs) * 1000000L))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def resetPeak(): Unit = synchronized { cachedPeakBytes = cachedBytes }
}

/** Issues the benchmark's public calls. Untraced, a call is only timed
  * (top-level call latencies feed the end-to-end op percentiles). Traced,
  * each call also becomes a [[Span]] whose id is the Spark job group, and
  * `materialize` caches a layer's output so the next layer's span covers
  * only its own work. */
final class Tracer(val spark: SparkSession, val traced: Boolean) {
  private val epoch0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = epoch0 + System.nanoTime()

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 0L
  var pass = 0
  private var tracing = false

  /** Spans are recorded only inside `withTracing(true)` in a traced run. */
  def isTracing: Boolean = tracing

  def withTracing[T](on: Boolean)(body: => T): T = {
    val before = tracing
    tracing = on && traced
    try body finally tracing = before
  }

  def call[T](layer: String, name: String)(body: => T): T = {
    if (!tracing) return body
    nextId += 1
    val span = Span(nextId, layer, name, pass, stack.headOption.map(_.id).getOrElse(0L), now())
    stack ::= span
    val sc = spark.sparkContext
    sc.setJobGroup(s"pb-${span.id}", s"$layer.$name", interruptOnCancel = false)
    try body
    finally {
      span.end = now()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"pb-${p.id}", s"${p.layer}.${p.name}", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += span
    }
  }

  private val checkpoints = mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]

  /** Traced: compute `df` inside the current span and cut its lineage
    * (an eager local checkpoint), so that the next call's span covers only
    * its own work and plans stay small. Untraced: identity (the lazy plan
    * flows on, as a user's would). */
  def materialize(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (!tracing) df
    else {
      val c = df.localCheckpoint(eager = true)
      checkpoints ++= c.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
      c
    }

  /** Drop the pass's checkpoints: they are the benchmark's, not graft's. */
  def releaseCheckpoints(): Unit = {
    checkpoints.foreach(_.unpersist(blocking = true))
    checkpoints.clear()
  }
}
