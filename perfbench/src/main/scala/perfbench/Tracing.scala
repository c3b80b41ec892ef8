package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed wrapper around a stage call. `parent` is the enclosing
  * span's name (None for the iteration root). Times are epoch ms. */
final case class Span(name: String, parent: Option[String], startMs: Long,
    endMs: Long) {
  def durMs: Long = endMs - startMs
}

/** One finished Spark task, reduced to what the per-span metrics need. */
final case class TaskRec(stageId: Int, stageAttempt: Int, launchMs: Long,
    durMs: Long, failed: Boolean, cpuNs: Long, gcMs: Long,
    shuffleBytes: Long, spillBytes: Long)

/** Engine counters of one span (`spark.<span>.*`). */
final case class SpanCounts(jobs: Int, tasks: Int, taskFailures: Int,
    cpuS: Double, gcS: Double, shuffleMb: Double, spillMb: Double,
    schedWaitS: Double, taskSkew: Double)

object Tracing {

  /** Local property carrying the current span into every job submitted
    * from the calling thread (Spark copies local properties into the
    * job's properties, also for SQL's broadcast/subquery threads). */
  val SpanProp = "perfbench.span"

  /** Self time per span: its duration minus the time covered by its
    * direct children (clipped to the span's own interval). */
  def selfTimes(spans: Seq[Span]): Map[String, Long] =
    spans.map { s =>
      val covered = spans.iterator.filter(_.parent.contains(s.name))
        .map(c => math.max(0L,
          math.min(c.endMs, s.endMs) - math.max(c.startMs, s.startMs)))
        .sum
      s.name -> (s.durMs - covered)
    }.toMap

  /** Share of the root span covered by its direct children. */
  def coverage(spans: Seq[Span]): Double =
    spans.find(_.parent.isEmpty) match {
      case Some(root) if root.durMs > 0 =>
        selfTimes(spans).get(root.name).fold(0.0)(self =>
          1.0 - self.toDouble / root.durMs)
      case _ => 0.0
    }

  /** The span a job belongs to: the span named by its local property
    * when set, otherwise the innermost span whose interval holds the
    * job's submission time. */
  def attribute(prop: Option[String], submitMs: Long,
      spans: Seq[Span]): Option[String] =
    prop.filter(p => spans.exists(_.name == p)).orElse {
      spans.filter(s => s.startMs <= submitMs && submitMs <= s.endMs)
        .sortBy(_.durMs).headOption.map(_.name)
    }

  /** max / median task duration of the stage with the most total task
    * time — the stage that bounds the span's wall. 1.0 when no stage
    * has two tasks. */
  def taskSkew(durationsByStage: Map[Int, Seq[Long]]): Double = {
    val multi = durationsByStage.filter(_._2.size >= 2)
    if (multi.isEmpty) 1.0
    else {
      val d = multi.maxBy { case (id, ds) => (ds.sum, -id) }._2.sorted
      val med = Stats.median(d.map(_.toDouble))
      if (med <= 0) 1.0 else d.last / med
    }
  }

  /** Fold a span's jobs and tasks into its counters. */
  def counts(jobs: Int, tasks: Seq[TaskRec],
      stageSubmitMs: Map[(Int, Int), Long]): SpanCounts = {
    val waits = tasks.flatMap(t => stageSubmitMs.get((t.stageId,
      t.stageAttempt)).map(s => math.max(0L, t.launchMs - s)))
    SpanCounts(
      jobs = jobs,
      tasks = tasks.size,
      taskFailures = tasks.count(_.failed),
      cpuS = tasks.map(_.cpuNs).sum / 1e9,
      gcS = tasks.map(_.gcMs).sum / 1e3,
      shuffleMb = tasks.map(_.shuffleBytes).sum / 1e6,
      spillMb = tasks.map(_.spillBytes).sum / 1e6,
      schedWaitS = waits.sum / 1e3,
      taskSkew = taskSkew(tasks.filterNot(_.failed)
        .groupBy(_.stageId).map { case (k, v) => k -> v.map(_.durMs) }))
  }
}

/** Records spans around stage calls and, while attached, the Spark jobs
  * and tasks each span ran. Untraced iterations use the same wrapper
  * with no listener attached, so both arms time identical code. */
final class Tracer(sc: SparkContext) {
  import Tracing._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[String]
  private var listener: Option[Listener] = None

  def attach(): Unit = {
    val l = new Listener
    sc.addSparkListener(l)
    listener = Some(l)
  }

  /** Time `body` as span `name`, nested under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, name)
    stack.push(name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans += Span(name, parent, t0, System.currentTimeMillis())
      stack.pop()
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  def recorded: Seq[Span] = spans.toSeq

  /** Detach the listener after every event of this iteration has been
    * delivered: a one-task fence job runs last, and the listener bus is
    * FIFO, so once the fence's end event arrives nothing earlier is
    * still queued. Returns counters per span. */
  def finish(): Map[String, SpanCounts] = listener match {
    case None => Map.empty
    case Some(l) =>
      sc.setLocalProperty(SpanProp, Listener.Fence)
      sc.parallelize(Seq(1), 1).count(): Unit
      sc.setLocalProperty(SpanProp, null)
      val deadline = System.currentTimeMillis() + 30000
      while (!l.fenced && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      sc.removeSparkListener(l)
      listener = None
      require(l.fenced, "listener bus did not deliver the fence job")
      l.result(spans.toSeq)
  }
}

object Listener { val Fence = "__fence__" }

/** Collects job → span and task records; read only after the fence. */
final class Listener extends SparkListener {
  import Tracing._

  private final case class Job(prop: Option[String], submitMs: Long,
      stages: Seq[Int])
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  @volatile var fenced = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SpanProp)))
    jobs(e.jobId) = Job(prop, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobs.get(e.jobId).exists(_.prop.contains(Listener.Fence)))
      fenced = true
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stageSubmit((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    val failed = !e.taskInfo.successful
    tasks += TaskRec(e.stageId, e.stageAttemptId, e.taskInfo.launchTime,
      e.taskInfo.duration, failed,
      m.fold(0L)(_.executorCpuTime),
      m.fold(0L)(_.jvmGCTime),
      m.fold(0L)(x => x.shuffleWriteMetrics.bytesWritten +
        x.shuffleReadMetrics.totalBytesRead),
      m.fold(0L)(x => x.diskBytesSpilled + x.memoryBytesSpilled))
  }

  def result(spans: Seq[Span]): Map[String, SpanCounts] = synchronized {
    val jobSpan = jobs.toSeq.collect {
      case (id, j) if !j.prop.contains(Listener.Fence) =>
        id -> attribute(j.prop, j.submitMs, spans)
    }.collect { case (id, Some(s)) => id -> s }.toMap
    val stageSpan = jobs.toSeq.flatMap { case (id, j) =>
      jobSpan.get(id).toSeq.flatMap(s => j.stages.map(_ -> s))
    }.toMap
    val submits = stageSubmit.toMap
    spans.map(_.name).distinct.map { s =>
      s -> counts(jobSpan.count(_._2 == s),
        tasks.filter(t => stageSpan.get(t.stageId).contains(s)).toSeq,
        submits)
    }.toMap
  }
}
