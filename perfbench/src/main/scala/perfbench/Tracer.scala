package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** In-memory span recorder for traced runs. The harness opens a span
  * around each of its own calls into a layer; the span id travels to
  * Spark as a local property, so the listener below turns every Spark
  * job (and its stages) into a child span of the call that caused it.
  * Disabled tracers record nothing and register no listener.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val baseNs = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  val spans = new ConcurrentLinkedQueue[Stats.Span]()
  val attribution = new Attribution
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()

  /** Epoch-based nanoseconds, comparable with listener event times. */
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNs)

  /** Runs `body` as span `name` under the calling thread's current span
    * and returns its result.
    */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val prevProp = sc.getLocalProperty(Attribution.SpanKey)
      val prevCur = current.get()
      sc.setLocalProperty(Attribution.SpanKey, id.toString)
      current.set(id)
      val t0 = now()
      try body
      finally {
        spans.add(Stats.Span(id, prevCur, name, t0, now()))
        current.set(prevCur)
        sc.setLocalProperty(Attribution.SpanKey, prevProp)
      }
    }

  /** Records a span whose interval was measured elsewhere. */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Stats.Span(id, parent, name, startNs, endNs))
    id
  }

  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val stageAcc = mutable.Map.empty[Int, StageRec]
  private val openJobs = mutable.Map.empty[Int, (Long, JobRec)]
  private val executionSpan = mutable.Map.empty[Long, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Attribution.spanOf(e.properties)
      attribution.onJobStart(e.jobId, e.stageIds, span)
      span.foreach { s =>
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => executionSpan.getOrElseUpdate(x.toLong, s))
        val first = e.stageInfos.sortBy(_.stageId).headOption
        openJobs(e.jobId) = (e.time, JobRec(e.jobId, s,
          first.map(_.name).getOrElse(""), first.map(_.details).getOrElse(""),
          Option(e.properties.getProperty("streaming.sql.batchId")).map(_.toLong), 0L, 0L))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      openJobs.remove(e.jobId).foreach { case (t0, j) =>
        jobs.add(j.copy(startNs = t0 * 1000000L, endNs = e.time * 1000000L))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        for {
          s <- executionSpan.remove(end.executionId)
          qe <- PerfbenchAccess.queryExecution(end)
        } {
          val ph = qe.tracker.phases
          def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
          plans.add(PlanRec(s, ms("optimization"), ms("planning"),
            Plans.scanMetrics(qe.executedPlan)))
        }
      case _ =>
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      attribution.spanOfStage(e.stageId).foreach { s =>
        val m = e.taskMetrics
        val wait = stageSubmitMs.get(e.stageId).map(t => (e.taskInfo.launchTime - t).max(0L)).getOrElse(0L)
        val r = stageAcc.getOrElse(e.stageId, StageRec(e.stageId, s))
        stageAcc(e.stageId) = if (m == null) r.copy(tasks = r.tasks + 1, waitMs = r.waitMs + wait)
        else r.copy(tasks = r.tasks + 1, waitMs = r.waitMs + wait,
          cpuNs = r.cpuNs + m.executorCpuTime, runMs = r.runMs + m.executorRunTime,
          gcMs = r.gcMs + m.jvmGCTime,
          shuffleRead = r.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = r.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          spill = r.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
          inputRows = r.inputRows + m.inputMetrics.recordsRead)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      stageSubmitMs.remove(id)
      stageAcc.remove(id).foreach { r =>
        val t0 = e.stageInfo.submissionTime.getOrElse(0L)
        val t1 = e.stageInfo.completionTime.getOrElse(t0)
        stages.add(r.copy(startNs = t0 * 1000000L, endNs = t1 * 1000000L))
      }
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Waits until every posted listener event has been handled. */
  def drain(): Unit = if (enabled) PerfbenchAccess.waitUntilEmpty(spark.sparkContext)

  /** Span tree plus Spark jobs and stages as child spans; read it after
    * [[drain]], once the traced work is over.
    */
  lazy val finished: Seq[Stats.Span] = {
    val jobSpans = jobs.asScala.toSeq.map(j =>
      j.jobId -> Stats.Span(ids.incrementAndGet(), j.span, "job", j.startNs, j.endNs)).toMap
    val stageSpans = stages.asScala.toSeq.flatMap(st =>
      attribution.jobOfStage(st.stageId).flatMap(jobSpans.get).map(j =>
        Stats.Span(ids.incrementAndGet(), j.id, "stage", st.startNs, st.endNs)))
    spans.asScala.toSeq ++ jobSpans.values ++ stageSpans
  }

  /** Writes the finished spans as JSON lines. */
  def writeSpans(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try finished.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Tracer {
  final case class JobRec(jobId: Int, span: Long, name: String, details: String,
                          batchId: Option[Long], startNs: Long, endNs: Long)

  final case class StageRec(stageId: Int, span: Long, tasks: Int = 0, waitMs: Long = 0,
                            cpuNs: Long = 0, runMs: Long = 0, gcMs: Long = 0,
                            shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
                            inputRows: Long = 0, startNs: Long = 0, endNs: Long = 0)

  final case class PlanRec(span: Long, optimizeMs: Double, physicalMs: Double, scan: Map[String, Long])
}
