package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Every span name below gets the same
  * eleven fields, each the mean over that span's calls; the fields count
  * the work of the span's jobs and of its child spans' jobs. */
object Layers {
  val Spans: Seq[String] = Seq(
    "pipelines.Monthly.run", "etl.Publish.publishWithLedger",
    "queries.build", "queries.plan", "queries.exec",
    "streaming.batch", "ops.ingestScreen")

  val Fields: Seq[(String, String)] = Seq(
    "wall_ms" -> "ms", "self_ms" -> "ms", "plan_ms" -> "ms",
    "jobs" -> "count", "tasks" -> "count", "exec_cpu_ms" -> "ms",
    "gc_ms" -> "ms", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "input_bytes" -> "bytes", "driver_gap_ms" -> "ms")

  /** Derived and context metrics, with units; workloads fill their own. */
  val Derived: Seq[(String, String)] = Seq(
    "monthly.jobs_per_window" -> "count",
    "monthly.scan_amplification" -> "ratio",
    "monthly.seg_exec_cpu_ms" -> "ms",
    "publish.bytes_per_row" -> "bytes",
    "publish.write_ms" -> "ms",
    "bi.plan_share" -> "share",
    "bi.rows_examined_per_row" -> "ratio",
    "bi.seg_exec_cpu_ms" -> "ms",
    "bi.exact_sum_exec_cpu_ms" -> "ms",
    "streaming.plan_ms_per_batch" -> "ms",
    "streaming.backlog_files" -> "count",
    "streaming.generator_lag_ms" -> "ms",
    "trace.overhead" -> "ratio",
    "jvm.heap_retained_mb" -> "MB",
    "host.loadavg_1m" -> "load",
    "host.process_cpu_per_wall" -> "ratio",
    "fail_rate" -> "share")

  val All: Seq[(String, String)] =
    Spans.flatMap(s => Fields.map { case (f, u) => s"$s.$f" -> u }) ++
      Derived

  private val units = All.toMap
  def unitOf(name: String): String = units.getOrElse(name,
    throw new IllegalArgumentException(s"undeclared per-layer metric $name"))

  /** Metrics only `monthly_load` fills. It runs only by hand, so they are
    * left out of `BENCHMARK.json` and reported only when produced. */
  val MonthlyOnly: Set[String] =
    Seq("pipelines.Monthly.run", "etl.Publish.publishWithLedger")
      .flatMap(s => Fields.map(f => s"$s.${f._1}")).toSet ++
      All.map(_._1).filter(n => n.startsWith("monthly.") ||
        n.startsWith("publish."))

  /** The declared metrics in declaration order: every benchmarked one (one
    * a workload did not produce reads 0, the layer did no work on it), and
    * the monthly-only ones the run produced. */
  def ordered(m: Map[String, (Double, String)])
    : scala.collection.immutable.ListMap[String, (Double, String)] =
    scala.collection.immutable.ListMap(All.collect {
      case (k, u) if !MonthlyOnly(k) || m.contains(k) =>
        k -> m.getOrElse(k, (0.0, u)) }: _*)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  final class Tree(ts: TraceSession) {
    val spans: Seq[Span] = ts.tracer.spans.asScala.toSeq
    val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)
    val work: Map[Long, Work] = ts.recorder.workBySpan()
    def subtree(id: Long): Set[Long] =
      children.getOrElse(id, Nil).flatMap(c => subtree(c.id)).toSet + id
    def named(n: String): Seq[Span] = spans.filter(_.name == n)
    def ids(n: String): Set[Long] = named(n).flatMap(s => subtree(s.id)).toSet
    def inclusive(id: Long): Work = {
      val w = new Work
      subtree(id).flatMap(work.get).foreach(w.add)
      w
    }
    def selfMs(s: Span): Double = s.wallMs - covered(
      children.getOrElse(s.id, Nil).map(c => (c.startUs / 1000.0,
        c.endUs / 1000.0)), s.startUs / 1000.0, s.endUs / 1000.0)
    def gapMs(s: Span): Double = s.wallMs - covered(
      ts.recorder.jobIntervals(subtree(s.id)).map { case (a, b) =>
        (a.toDouble, b.toDouble) }, s.startUs / 1000.0, s.endUs / 1000.0)
  }

  def spanMetrics(ts: TraceSession): Map[String, (Double, String)] = {
    val t = new Tree(ts)
    Spans.flatMap { n =>
      val ss = t.named(n)
      if (ss.isEmpty) Nil
      else {
        val ws = ss.map(s => t.inclusive(s.id))
        def mean(f: Work => Double) = ws.map(f).sum / ss.size
        Seq(
          "wall_ms" -> ss.map(_.wallMs).sum / ss.size,
          "self_ms" -> ss.map(t.selfMs).sum / ss.size,
          "plan_ms" -> mean(_.planMs),
          "jobs" -> mean(_.jobs.toDouble),
          "tasks" -> mean(_.tasks.toDouble),
          "exec_cpu_ms" -> mean(_.cpuNs / 1e6),
          "gc_ms" -> mean(_.gcMs.toDouble),
          "shuffle_bytes" -> mean(_.shuffleBytes.toDouble),
          "spill_bytes" -> mean(_.spillBytes.toDouble),
          "input_bytes" -> mean(_.inputBytes.toDouble),
          "driver_gap_ms" -> ss.map(t.gapMs).sum / ss.size
        ).map { case (f, v) => s"$n.$f" -> (v, unitOf(s"$n.$f")) }
      }
    }.toMap
  }

  /** The trace itself: every span, plus per span name its five operators
    * with the most SQL-metric time in the final adaptive plans and its
    * call sites by executor CPU. */
  def spanDump(ts: TraceSession): String = {
    val t = new Tree(ts)
    def q(s: String) = PerfBench.json(s)
    val spanRows = t.spans.sortBy(_.id).map { s =>
      val w = t.work.getOrElse(s.id, new Work)
      s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},""" +
        s""""jobs":${w.jobs},"exec_cpu_ms":${w.cpuNs / 1e6}}"""
    }
    val perName = t.spans.map(_.name).distinct.sorted.map { n =>
      val ids = t.ids(n)
      val ops = mutable.Map.empty[String, Double]
      ts.recorder.execsUnder(ids).foreach { case (_, e, _) =>
        e.ops.foreach { case (op, ms) => ops(op) = ops.getOrElse(op, 0.0) + ms }
      }
      val top = ops.toSeq.sortBy(-_._2).take(5).map { case (op, ms) =>
        s"""{"operator":${q(op)},"metric_ms":$ms}""" }
      val sites = ts.recorder.callSiteCpuMs(ids).take(10).map { case (c, ms) =>
        s"""{"call_site":${q(c)},"exec_cpu_ms":$ms}""" }
      s"""${q(n)}:{"top_operators":[${top.mkString(",")}],""" +
        s""""call_sites":[${sites.mkString(",")}]}"""
    }
    s"""{"spans":[${spanRows.mkString(",\n")}],""" +
      s""""layers":{${perName.mkString(",\n")}}}"""
  }
}
