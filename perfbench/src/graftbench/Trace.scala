package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: name, start, end and the span that caused
  * it. Times are epoch microseconds so they line up with the scheduler's
  * epoch-millisecond job events. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long,
                      endUs: Long) {
  def wallMs: Double = (endUs - startUs) / 1000.0
}

/** Work the scheduler did for the jobs attributed to one span. */
final class Work {
  var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var inputBytes = 0L
  var inputRecords = 0L; var outputBytes = 0L; var outputRecords = 0L
  var planMs = 0.0
  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
    planMs += o.planMs
  }
}

/** Spans around the benchmark's calls into the engine's layers. Disabled,
  * `span` only runs its body. Enabled, the innermost span id rides on the
  * Spark local property [[Tracer.Key]], so every job a layer call starts is
  * attributed to that call by the listeners in [[Recorder]]. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val baseUs = System.currentTimeMillis() * 1000
  private val baseNs = System.nanoTime()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  val spans = new ConcurrentLinkedQueue[Span]()

  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val start = nowUs()
      stack.set(id :: outer)
      sc.setLocalProperty(Tracer.Key, id.toString)
      try body
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, start,
          nowUs()))
        stack.set(outer)
        sc.setLocalProperty(Tracer.Key, outer.headOption.map(_.toString)
          .orNull)
      }
    }
}

object Tracer { val Key = "perfbench.span" }

/** Records the scheduler's, SQL's and streaming's own events while a traced
  * run is measured: job → span and job → SQL execution from the job's
  * local properties, per-stage task metrics, per-execution planning phases
  * and the operators with the most SQL-metric time in the final adaptive
  * plan. Attribution happens when a traced run reads it back
  * ([[workBySpan]], [[execsUnder]]), after the listener bus has drained.
  *
  * A stage's work belongs to the job that submitted it, read from the
  * properties of its `SparkListenerStageSubmitted`. A job's `stageIds` are
  * not used: they also list shuffle-map stages an earlier job already
  * computed (under AQE, every query stage runs as its own map-stage job
  * and the final job lists them all again), so summing them would count
  * the same tasks once per job that lists them. */
final class Recorder extends SparkListener with QueryExecutionListener {
  /** The span, SQL execution and call site a job or stage ran under. */
  final case class Owner(span: Long, exec: Long, callSite: String)
  final case class Job(owner: Owner, startMs: Long, var endMs: Long)
  final case class Exec(planMs: Double, durMs: Double, target: String,
                        ops: Seq[(String, Double)])

  val jobs = mutable.Map.empty[Int, Job]
  val stageOwner = mutable.Map.empty[Int, Owner]
  val stageWork = mutable.Map.empty[Int, Work]
  val execs = mutable.Map.empty[Long, Exec]
  /** SQL execution id (what jobs carry) → QueryExecution id. */
  val execQuery = mutable.Map.empty[Long, Long]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Option(org.apache.spark.sql.PerfbenchBridge.queryOf(end)).foreach(qe =>
        synchronized { execQuery(end.executionId) = qe.id })
    case _ => ()
  }

  private def execOf(sqlExec: Long): Option[Exec] =
    execQuery.get(sqlExec).flatMap(execs.get)

  private def ownerOf(props: java.util.Properties): Owner = {
    def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
    Owner(prop(Tracer.Key).map(_.toLong).getOrElse(0L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      prop("callSite.short").getOrElse(""))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(ownerOf(e.properties), e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  /** The first submission of a stage names its owner; a retried attempt
    * keeps it. */
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      if (!stageOwner.contains(e.stageInfo.stageId))
        stageOwner(e.stageInfo.stageId) = ownerOf(e.properties)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = stageWork.getOrElseUpdate(e.stageId, new Work)
    w.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.inputBytes += m.inputMetrics.bytesRead
      w.inputRecords += m.inputMetrics.recordsRead
      w.outputBytes += m.outputMetrics.bytesWritten
      w.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(func: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    val rec = Exec(planMs, durationNs / 1e6, Recorder.target(qe),
      Recorder.operatorTimes(qe.executedPlan))
    synchronized { execs(qe.id) = rec }
  }

  override def onFailure(func: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Stages that ran, each once, with the owner that submitted it. */
  private def ownedStages: Seq[(Owner, Work)] =
    stageWork.toSeq.flatMap { case (id, w) => stageOwner.get(id).map(_ -> w) }

  /** Work per span id (jobs and stages attributed to exactly that span). */
  def workBySpan(): Map[Long, Work] = synchronized {
    val out = mutable.Map.empty[Long, Work]
    jobs.values.foreach(j => out.getOrElseUpdate(j.owner.span, new Work)
      .jobs += 1)
    ownedStages.foreach { case (o, w) =>
      out.getOrElseUpdate(o.span, new Work).add(w) }
    // planning time once per SQL execution, on the span of its jobs
    jobs.values.groupBy(_.owner.exec).foreach { case (ex, js) =>
      execOf(ex).foreach(e =>
        out.getOrElseUpdate(js.head.owner.span, new Work).planMs += e.planMs)
    }
    out.toMap
  }

  /** SQL executions whose jobs ran under a span in `spans`, each with the
    * work of the stages it submitted under those spans. */
  def execsUnder(spans: Set[Long]): Seq[(Long, Exec, Work)] = synchronized {
    val stages = ownedStages.filter { case (o, _) => spans(o.span) }
      .groupBy(_._1.exec)
    jobs.values.filter(j => spans(j.owner.span)).groupBy(_.owner.exec).toSeq
      .flatMap { case (ex, js) =>
        execOf(ex).map { e =>
          val w = new Work
          w.jobs = js.size
          stages.getOrElse(ex, Nil).foreach { case (_, sw) => w.add(sw) }
          (ex, e, w)
        }
      }
  }

  def jobIntervals(spans: Set[Long]): Seq[(Long, Long)] = synchronized {
    jobs.values.filter(j => spans(j.owner.span))
      .map(j => (j.startMs, j.endMs)).toSeq
  }

  def callSiteCpuMs(spans: Set[Long]): Seq[(String, Double)] =
    synchronized {
      ownedStages.filter { case (o, _) => spans(o.span) }
        .groupBy(_._1.callSite).toSeq
        .map { case (site, ws) => site -> ws.map(_._2.cpuNs).sum / 1e6 }
        .sortBy(-_._2)
    }
}

object Recorder {
  /** Output path of a file write, "" for other executions. */
  def target(qe: QueryExecution): String =
    qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }.getOrElse("")

  private def timingMs(p: SparkPlan): Double =
    p.metrics.values.toSeq.map { m =>
      m.metricType match {
        case "timing" => m.value.toDouble
        case "nsTiming" => m.value / 1e6
        case _ => 0.0
      }
    }.sum

  /** Per operator name, the SQL-metric time of the final adaptive plan. */
  def operatorTimes(plan: SparkPlan): Seq[(String, Double)] = {
    val acc = mutable.Map.empty[String, Double]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        val t = timingMs(other)
        if (t > 0) acc(other.nodeName) = acc.getOrElse(other.nodeName, 0.0) + t
        (other.children ++ other.subqueries).foreach(walk)
    }
    try walk(plan) catch { case _: Throwable => () }
    acc.toSeq.sortBy(-_._2)
  }
}

/** Streaming progress: per microbatch with input, its trigger time, the
  * stream's own planning time and its input rows. */
final class StreamRecorder extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
    : Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
    : Unit = {
    val p = e.progress
    val d = Option(p.durationMs.get("triggerExecution"))
      .map(_.longValue).getOrElse(0L)
    val plan = Option(p.durationMs.get("queryPlanning"))
      .map(_.longValue).getOrElse(0L)
    if (p.numInputRows > 0) progress.add((d, plan, p.numInputRows))
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent)
    : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Attach/detach all listeners for the traced part of a run. */
final class TraceSession(spark: SparkSession, val tracer: Tracer) {
  val recorder = new Recorder
  val streams = new StreamRecorder
  def start(): Unit = {
    spark.sparkContext.addSparkListener(recorder)
    spark.listenerManager.register(recorder)
    spark.streams.addListener(streams)
    tracer.enabled = true
  }
  def stop(): Unit = {
    tracer.enabled = false
    org.apache.spark.sql.PerfbenchBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(recorder)
    spark.listenerManager.unregister(recorder)
    spark.streams.removeListener(streams)
  }
}
