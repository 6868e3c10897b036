package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run. A span is (name, start,
  * end, parent, run id); the parent is the innermost open span on the
  * same thread, or the one passed explicitly. When disabled, `span` only
  * runs its body. */
final class Tracer(val runId: String, val enabled: Boolean) {

  final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                        parent: Option[Long])

  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue = Nil }

  def span[T](name: String)(body: => T): T = spanId(name)(_ => body)

  /** [[span]] that hands the body its own span id, so spans rebuilt
    * later (from listener events) can name it as their parent. */
  def spanId[T](name: String)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try body(id)
      finally {
        done.add(Span(id, name, t0, System.nanoTime(), parent))
        open.set(open.get.tail)
      }
    }

  /** Record a span measured elsewhere (e.g. a streaming progress phase);
    * returns its id so children can name it as parent. */
  def record(name: String, startNs: Long, endNs: Long,
             parent: Option[Long] = None): Long = {
    val id = ids.incrementAndGet()
    if (enabled) done.add(Span(id, name, startNs, endNs, parent))
    id
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Per span name: count, total seconds and self seconds (total minus the
    * time of direct children). */
  def summary: Seq[(String, Int, Double, Double)] = {
    val all = spans
    val childTime = all.groupBy(_.parent).collect { case (Some(p), cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum
    }
    all.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => (s.endNs - s.startNs) - childTime.getOrElse(s.id, 0L)).sum
      (n, ss.size, total / 1e9, self / 1e9)
    }
  }

  /** Self seconds per layer, the layer being the span name's first
    * dot-separated segment. */
  def layerSelf: Seq[(String, Double)] =
    summary.groupBy(_._1.takeWhile(_ != '.')).toSeq.sortBy(_._1)
      .map { case (l, rows) => l -> rows.map(_._4).sum }

  def toJson(origin: Long): Seq[Any] = spans.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name,
      "start_ms" -> (s.startNs - origin) / 1e6, "end_ms" -> (s.endNs - origin) / 1e6,
      "parent" -> s.parent, "run" -> runId)
  }
}

/** Scheduler counters from a SparkListener: jobs, stages, tasks, task
  * seconds, scheduler delay, shuffle, spill and GC. */
final class SchedulerCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  private val taskNs = new AtomicLong
  private val delayMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  private val gcMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskNs.addAndGet(m.executorRunTime * 1000000L)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      val info = e.taskInfo
      if (info != null && info.finished)
        delayMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime))
    }
    ()
  }
  def taskSeconds: Double = taskNs.get / 1e9
  def schedDelaySeconds: Double = delayMs.get / 1e3
  def gcSeconds: Double = gcMs.get / 1e3

  def reset(): Unit = Seq(jobs, stages, tasks, taskNs, delayMs, shuffleBytes,
    spillBytes, gcMs).foreach(_.set(0L))
}

/** Catalyst phase seconds (QueryPlanningTracker) of every action. */
final class PlanningCounters extends QueryExecutionListener {
  private val phases = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  val actions = new AtomicLong

  private def add(qe: QueryExecution): Unit = {
    actions.incrementAndGet()
    qe.tracker.phases.foreach { case (phase, s) =>
      phases.computeIfAbsent(phase, _ => new AtomicLong).addAndGet(s.durationMs)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = add(qe)

  def seconds(phase: String): Double =
    Option(phases.get(phase)).map(_.get / 1e3).getOrElse(0.0)
  def total: Double = phases.values.asScala.map(_.get).sum / 1e3
  def reset(): Unit = { phases.clear(); actions.set(0L) }
}

/** Every streaming progress event, kept in arrival order. The CDC
  * workload needs it untraced too: it maps each batch's end offsets to
  * its commit time. */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    events.add(e); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def forRun(runId: java.util.UUID): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    events.asScala.toSeq.map(_.progress).filter(_.runId == runId)
}

/** The listeners of a traced window, attached together. */
final class TraceListeners(spark: SparkSession) {
  val scheduler = new SchedulerCounters
  val planning = new PlanningCounters
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(planning)
  }
  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(planning)
  }
  def reset(): Unit = { scheduler.reset(); planning.reset() }
}
