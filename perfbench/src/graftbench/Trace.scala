package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.{ExternalCatalogEvent, ExternalCatalogEventListener, ExternalCatalogWithListener}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans plus Spark's public listeners.
  *
  * A span is opened around each benchmark op (the root) and around each
  * public graft call inside it (children). Spans are held in memory and
  * summarised once the run ends. Listener records carry the wall-clock
  * time at which the work happened (job start, task finish, planning
  * phase start, micro-batch trigger), and are attributed afterwards to
  * the span whose interval holds that time; catalog events arrive on the
  * calling thread and take the span that is open when they fire.
  *
  * With tracing off, `span` is a plain call and no listener is installed. */
object Trace {
  @volatile var enabled = false

  final case class Span(id: Int, parent: Int, name: String, start: Double, var end: Double)

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Wall-clock milliseconds with sub-millisecond resolution. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var open: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = spans.synchronized {
        val parent = open.headOption.map(_.id).getOrElse(-1)
        val sp = Span(spans.size, parent, name, nowMs, Double.NaN)
        spans += sp
        open = sp :: open
        sp
      }
      try body
      finally spans.synchronized {
        s.end = nowMs
        open = open.filterNot(_ eq s)
      }
    }

  def allSpans: IndexedSeq[Span] = spans.synchronized(spans.toIndexedSeq)
  def currentRoot: Int = spans.synchronized(open.lastOption.map(_.id).getOrElse(-1))

  // ---------------------------------------------------------------------
  // Listener records.
  // ---------------------------------------------------------------------
  final case class JobRec(start: Double, var end: Double)
  final case class StageRec(at: Double)
  final case class TaskRec(at: Double, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, failed: Boolean)
  final case class QeRec(at: Double, analysisMs: Double, optimizationMs: Double, planningMs: Double)
  final case class StreamRec(at: Double, durations: Map[String, Long])

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val qes = mutable.ArrayBuffer.empty[QeRec]
  val streams = mutable.ArrayBuffer.empty[StreamRec]
  /** Catalog events per root span id. */
  val catalogEvents = mutable.Map.empty[Int, Int].withDefaultValue(0)
  @volatile private var received = 0L

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.synchronized {
      jobs(e.jobId) = JobRec(e.time.toDouble, Double.NaN)
      received += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
      received += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.synchronized {
      stages += StageRec(e.stageInfo.completionTime.getOrElse(0L).toDouble)
      received += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      tasks += (if (m == null) TaskRec(info.finishTime.toDouble, 0, 0, 0, 0, 0, 0, info.failed)
        else TaskRec(info.finishTime.toDouble, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, info.failed))
      received += 1
    }
  }

  private object QeListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.synchronized {
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      val at = ph.get("analysis").orElse(ph.values.headOption).map(_.startTimeMs.toDouble).getOrElse(0.0)
      qes += QeRec(at, ms("analysis"), ms("optimization"), ms("planning"))
      received += 1
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Trace.synchronized {
      val p = e.progress
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      streams += StreamRec(at, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      received += 1
    }
  }

  private object CatalogListener extends ExternalCatalogEventListener {
    override def onEvent(event: ExternalCatalogEvent): Unit = {
      // pre-events announce the same change twice; count completed ones
      if (!event.getClass.getSimpleName.endsWith("PreEvent")) Trace.synchronized {
        catalogEvents(currentRoot) += 1
      }
    }
  }

  /** Forget every record so far (set-ups run before the measured ops). */
  def reset(): Unit = Trace.synchronized {
    jobs.clear(); stages.clear(); tasks.clear(); qes.clear(); streams.clear(); catalogEvents.clear()
    spans.synchronized { spans.clear(); open = Nil }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(QeListener)
    spark.streams.addListener(StreamListener)
    spark.sharedState.externalCatalog match {
      case c: ExternalCatalogWithListener => c.addListener(CatalogListener)
      case _ => ()
    }
  }

  /** Listener delivery is asynchronous: wait until every started job has
    * ended and no record has arrived for a while. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    var last = -1L
    var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val (n, open) = Trace.synchronized((received, jobs.values.exists(_.end.isNaN)))
      if (n == last && !open) quiet += 1 else quiet = 0
      last = n
    }
  }

  // ---------------------------------------------------------------------
  // Summaries.
  // ---------------------------------------------------------------------

  /** Length of the union of intervals clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time per span name (span minus the part its children cover),
    * in seconds, summed over the given roots' subtrees. */
  def selfTimes(roots: Set[Int]): Map[String, Double] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    def inTree(s: Span): Boolean =
      roots(s.id) || (s.parent >= 0 && inTree(all(s.parent)))
    all.filter(s => !s.end.isNaN && inTree(s)).groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).filterNot(_.end.isNaN).map(k => (k.start, k.end))
        (s.end - s.start - covered(kids, s.start, s.end)) / 1000.0
      }.sum
    }
  }
}
