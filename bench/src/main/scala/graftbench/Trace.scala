package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans the benchmark opens around its calls into the engine, kept in
  * memory and written out when the run ends. Times are epoch
  * nanoseconds, so they line up with the listener's epoch-millisecond
  * job and stage times. When tracing is off every call is a no-op apart
  * from running the body.
  *
  * The id of the innermost open span is published as a Spark local
  * property, so each job records the span that was open when it started
  * (threads the engine starts, such as a streaming query's, inherit it).
  */
final class Trace(val enabled: Boolean) {
  import Trace._

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val ids = new AtomicLong()
  private var sc: SparkContext = _

  def bind(context: SparkContext): Unit = {
    sc = context
    publish()
  }

  private def publish(): Unit =
    if (enabled && sc != null)
      sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(ids.incrementAndGet(), stack.headOption.fold(0L)(_.id), name, now())
      spans += s
      stack.push(s)
      publish()
      try body
      finally {
        s.end = now()
        stack.pop()
        publish()
      }
    }

  /** A child of the innermost open span, for an interval measured by hand. */
  def record(name: String, start: Long, end: Long): Unit =
    if (enabled) spans += Span(ids.incrementAndGet(), stack.headOption.fold(0L)(_.id), name, start, end)
}

object Trace {
  final case class Span(id: Long, parent: Long, name: String,
                        start: Long, var end: Long = 0L)

  val SpanProperty = "graftbench.span"
  private val nanoBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Epoch nanoseconds from the monotonic clock. */
  def now(): Long = nanoBase + System.nanoTime()
}

/** Job, stage and task figures as the scheduler reports them. Task metrics
  * are folded per stage as tasks end, so memory stays bounded by the
  * number of stages, not tasks.
  */
final class ExecListener extends SparkListener {
  final class StageAgg(val id: Int, val attempt: Int) {
    var job = -1
    var name = ""
    var submitMs = 0L
    var completeMs = 0L
    var tasks = 0L
    var usefulTasks = 0L
    var schedWaitMs = 0L
    var runMs = 0L
    var cpuNs = 0L
    var deserMs = 0L
    var gcMs = 0L
    var shuffleReadB = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
    var inputB = 0L
    var outputRecords = 0L
  }
  final class JobAgg(val id: Int, val span: Long, val startMs: Long) {
    var endMs = 0L
    var stageIds: Seq[Int] = Nil
  }

  val jobs = new ConcurrentHashMap[Int, JobAgg]()
  val stages = new ConcurrentHashMap[(Int, Int), StageAgg]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val events = new AtomicLong()

  private def stage(info: StageInfo): StageAgg =
    stages.computeIfAbsent((info.stageId, info.attemptNumber()),
      _ => new StageAgg(info.stageId, info.attemptNumber()))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .flatMap(_.toLongOption).getOrElse(0L)
    val j = new JobAgg(e.jobId, span, e.time)
    j.stageIds = e.stageIds
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, j)
    events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    events.incrementAndGet()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo)
    s.name = e.stageInfo.name
    s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    s.job = stageJob.getOrDefault(e.stageInfo.stageId, -1)
    events.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo)
    s.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.computeIfAbsent((e.stageId, e.stageAttemptId),
      _ => new StageAgg(e.stageId, e.stageAttemptId))
    s.tasks += 1
    if (s.submitMs > 0) s.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s.submitMs)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.deserMs += m.executorDeserializeTime
      s.gcMs += m.jvmGCTime
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.spillB += m.diskBytesSpilled
      s.inputB += m.inputMetrics.bytesRead
      s.outputRecords += m.outputMetrics.recordsWritten
      if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead > 0) s.usefulTasks += 1
    }
    events.incrementAndGet()
  }

  /** Wait until the asynchronous listener bus has delivered every event
    * posted so far: the event count must hold still for a few polls.
    */
  def drain(): Unit = {
    var last = -1L
    var still = 0
    var waited = 0
    while (still < 3 && waited < 5000) {
      Thread.sleep(20); waited += 20
      val n = events.get()
      if (n == last) still += 1 else { still = 0; last = n }
    }
  }

  def jobList: Seq[JobAgg] = jobs.values.asScala.toSeq.sortBy(_.id)
  def stageList: Seq[StageAgg] = stages.values.asScala.toSeq.sortBy(s => (s.id, s.attempt))
}
