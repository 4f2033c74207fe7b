package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Run-wide context handed to every workload. */
final case class Ctx(spark: SparkSession, data: String, scratch: String,
                     tracer: Tracer, cpus: Int) {
  def dir(name: String): String = {
    val f = new File(scratch, name); f.mkdirs(); f.getPath
  }
}

/** What one measured phase of a workload produced.
  *  - latencies: one sample (ms) per completed operation;
  *  - work / wallS: completed work and the time it took, for throughput;
  *  - attempted / failed: operations and the ones that failed (errors,
  *    wrong probes, stream files past the latency limit);
  *  - errors: what went wrong, when an output was wrong or missing;
  *  - context: workload-specific per-layer figures measured outside the
  *    listeners (e.g. the stream generator's lateness). */
final case class Measured(latencies: Seq[Double],
                          work: Double, wallS: Double, attempted: Long,
                          failed: Long,
                          context: Map[String, Double] = Map.empty,
                          errors: Seq[String] = Nil)

/** A workload: derive inputs from the seed, warm up once, measure, check. */
trait Workload {
  type State
  /** Derive the inputs for `seed` (timed, repeated for setup_s). */
  def prepare(ctx: Ctx, seed: Long): State
  /** One untimed iteration with the same code paths as [[measure]]. */
  def warmUp(ctx: Ctx, st: State): Unit
  def measure(ctx: Ctx, st: State, seconds: Double): Measured
  /** Checks on the last measured iteration; returns failed checks and a
    * description of each failure. */
  def check(ctx: Ctx, st: State): Seq[String]
  /** Per-layer metrics derived from a traced measurement. */
  def layers(ctx: Ctx, st: State, m: Measured, tr: TraceSession)
    : Map[String, Double]
  def release(ctx: Ctx, st: State): Unit = ()
  /** Extra entries for the result file (tools/check.py hand-off). */
  def resultExtras(st: State): Map[String, String] = Map.empty
}

object PerfBench {
  val Workloads: Map[String, Workload] = Map(
    "monthly_load" -> MonthlyLoad,
    "bi_reporting" -> BiReporting,
    "stream_ingest" -> StreamIngest)

  /** Repeats of the input derivation inside one run; setup_s takes their
    * median so one slow derivation does not move it. */
  val SetupRepeats = 3

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Whole iterations a closed-loop workload runs for `seconds`: one per
    * `nominal` seconds, at least one. A fixed count keeps every run of a
    * workload doing the same work. */
  def iterations(seconds: Double, nominal: Double): Int =
    math.max(1, (seconds / nominal).toInt)

  /** Linear-interpolated percentile (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = (s.size - 1) * p / 100.0
      val lo = r.floor.toInt
      val hi = r.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Driver heap still live after a full collection: what the workload
    * keeps (caches, memos, statics) once its measured phase is over. */
  private def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The benchmark's one JSON writer (records, results, trace dumps). */
  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString).map { case (k, x) =>
      json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case null => "null"
    case other => json(other.toString)
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val cpu0 = cpuSeconds()
    val load0 = loadAvg()
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val wl = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val scratch = a("scratch")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$scratch/ckpt")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, a("data"), scratch, new Tracer(spark.sparkContext),
      cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9

    def timed[T](f: => T): (T, Double) = {
      val s = System.nanoTime(); val r = f; (r, (System.nanoTime() - s) / 1e9)
    }
    // set-up: derive the inputs several times (median), then one untimed
    // warm-up iteration; setup_s adds the session start to both
    val prepared = (1 to SetupRepeats).map { i =>
      val (st, s) = timed(wl.prepare(ctx, seed))
      if (i < SetupRepeats) wl.release(ctx, st)
      (st, s)
    }
    val st = prepared.last._1
    val (_, warmS) = timed(wl.warmUp(ctx, st))
    val setupS = sessionS + median(prepared.map(_._2)) + warmS

    // a traced run measures twice, untraced then traced, in the time an
    // untraced run measures once
    val phaseS = if (traced) seconds / 2 else seconds
    val cpuM0 = cpuSeconds()
    val wallM0 = System.nanoTime()
    val untraced = wl.measure(ctx, st, phaseS)
    val cpuPerWall = (cpuSeconds() - cpuM0) /
      ((System.nanoTime() - wallM0) / 1e9)
    val heapMb = retainedHeapMb()

    val traceOut: Option[(Measured, TraceSession)] =
      if (!traced) None
      else {
        val ts = new TraceSession(spark, ctx.tracer)
        ts.start()
        val m = try wl.measure(ctx, st, phaseS) finally ts.stop()
        Some((m, ts))
      }

    val problems = untraced.errors ++
      traceOut.map(_._1.errors).getOrElse(Nil) ++ wl.check(ctx, st)
    problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    val last = traceOut.map(_._1).getOrElse(untraced)
    val attempted = untraced.attempted + traceOut.map(_._1.attempted)
      .getOrElse(0L) + 1L
    val failed = untraced.failed + traceOut.map(_._1.failed).getOrElse(0L) +
      (if (problems.nonEmpty) 1L else 0L)

    val endToEnd: Map[String, (Double, String)] = Map(
      "setup_s" -> (setupS, "s"),
      "latency_p50_ms" -> (median(untraced.latencies), "ms"),
      "latency_p95_ms" -> (percentile(untraced.latencies, 95), "ms"),
      "throughput_per_s" -> (untraced.work / untraced.wallS, "1/s"))

    val perLayer: Map[String, (Double, String)] = traceOut match {
      case None => Map.empty
      case Some((m, ts)) =>
        val overhead = median(m.latencies) / median(untraced.latencies)
        Layers.spanMetrics(ts) ++
          (wl.layers(ctx, st, m, ts) ++ m.context).map { case (k, v) =>
            k -> (v, Layers.unitOf(k)) } ++ Map(
            "trace.overhead" -> (overhead, "ratio"),
            "jvm.heap_retained_mb" -> (heapMb, "MB"),
            "host.loadavg_1m" -> (loadAvg(), "load"),
            "host.process_cpu_per_wall" -> (cpuPerWall, "ratio"),
            "fail_rate" -> (failed.toDouble / attempted, "share"))
    }
    val metrics = if (traced) Layers.ordered(perLayer) else endToEnd

    // self-describing record: what ran, where, and how busy the host was
    val record = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version, "commit" -> a.getOrElse("commit", ""),
      "source_digest" -> a.getOrElse("source-digest", ""),
      "loadavg_start" -> load0, "loadavg_end" -> loadAvg(),
      "process_cpu_per_wall" ->
        (cpuSeconds() - cpu0) / ((System.nanoTime() - t0) / 1e9),
      "session_s" -> sessionS,
      "prepare_s" -> prepared.map(_._2), "warmup_s" -> warmS,
      "heap_retained_mb" -> heapMb,
      "samples" -> untraced.latencies.size,
      "measured_wall_s" -> untraced.wallS,
      "checks_failed" -> problems,
      "metrics" -> metrics.map { case (k, (v, _)) => k -> v })
    val recDir = new File(a("records")); recDir.mkdirs()
    Files.writeString(Paths.get(recDir.getPath,
      s"$name-seed$seed-trace${if (traced) 1 else 0}.json"), json(record))
    traceOut.foreach { case (_, ts) =>
      Files.writeString(Paths.get(recDir.getPath, s"$name-seed$seed-spans.json"),
        Layers.spanDump(ts))
    }
    println(s"[perfbench] record: ${json(record)}")

    val extras = wl.resultExtras(st)
    val result = Map(
      "correct" -> problems.isEmpty,
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }) ++
      extras.map { case (k, v) => k -> (if (k == "oracle_expected") v.toInt
        else v) }
    wl.release(ctx, st)
    Files.writeString(Paths.get(a("result")), json(result))
    spark.stop()
  }
}
