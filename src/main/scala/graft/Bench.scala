package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints one JSON line per
  * completed pass PLUS a final min-of-N line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Survivability protocol (each rule answers a lost or poisoned record
  * of an earlier round):
  *   - each completed pass prints its own JSON line immediately
  *     ({"metric":"pass","pass":N,...} — same shape as the total line),
  *     so killing the process at any point after pass 1 still leaves a
  *     parseable result in the log tail;
  *   - every query runs under a watchdog (SPARK_GRAFT_BENCH_CAP seconds,
  *     default 120): on timeout its Spark job group is cancelled and the
  *     query records -1 for the pass; a query that throws records -1;
  *   - -1 entries are excluded from every total; a query that never
  *     succeeded appears as -1 in "queries" so breakage is visible;
  *   - reps auto-downshift: if a completed pass exceeds
  *     SPARK_GRAFT_BENCH_BUDGET wall seconds (default 720, above the
  *     ~640 s healthy pass so a healthy host keeps min-of-N), remaining
  *     passes are skipped — a 10-50x-degraded host yields one honest
  *     pass instead of a dead process;
  *   - pass-START health gate: a pass whose start kernel breaches
  *     MaxStartFactor (2.0) waits GateWaitSec (60 s) and re-measures,
  *     up to SPARK_GRAFT_BENCH_GATE_TRIES times (default 5); if the gate
  *     exhausts, the pass runs anyway and its line (and, when EVERY
  *     pass exhausted, the total/compact record) carries
  *     degraded_start=true so trend tooling can refuse the record;
  *   - single-pass -1 rescue: when only one pass ran and it left -1
  *     entries, exactly those queries are retried once, under fresh
  *     bracket kernels like any pass (a "retry" JSON line), before the
  *     total line;
  *   - contention salvage: each key's min carries PROVENANCE (the
  *     kernels bracketing its family segment in the pass the min came
  *     from). Keys whose every observation ran between degraded kernels
  *     are re-measured after the rep loop — health-gated,
  *     budget-bounded (SPARK_GRAFT_BENCH_SALVAGE tries, default 2;
  *     SalvageBudgetSec, 420 wall seconds) — under fresh bracket
  *     kernels ("salvage" JSON lines). The total
  *     line reports all_keys_clean / unclean_keys / per-key
  *     query_factors (pass-of-origin bracket-min normalization), so
  *     trend tooling can trust a record whose every reported key is
  *     clean-backed even when no full pass was clean end to end.
  *
  * Timing protocol (single-shot numbers are JIT/GC noise): one untimed
  * warm-up (scan-agg-join round trip, the fixture exports, the frozen
  * statics of the scale and streaming keys), then up to
  * SPARK_GRAFT_BENCH_REPS (default 2) full passes, reporting the
  * per-query MIN across passes. The staging memos (t03/t14 verified
  * pairs, Seg-family ratios) are cleared before each pass so every pass
  * pays each staging fill exactly once; the Seg fill itself is timed as
  * its own "seg_staging" entry (inside the gated total — the work is
  * real) so q34/q41/q43/q44 time only their incremental cost.
  *
  * Every pass, retry and salvage attempt is one run over the same
  * family-labelled key list (Families: gated, scale, streaming), each
  * family a Segment bracketed by its own kernels, printed by one line
  * writer (lineOf); the record math over them is Record, pinned by
  * BenchSpec.
  *
  * Host-health calibration: every pass times a fixed deterministic
  * in-memory kernel (50M-row hash -> 9973-key agg -> sort, no I/O, no
  * cache reuse) at pass START ("host_factor"), at each family boundary
  * (after the gated family, after the scale family) and at pass END
  * ("host_factor_end"), each kernel_s / HOST_KERNEL_REF_SEC. The pass
  * line carries the full "host_factor_segments" vector and a
  * "degraded_mid" flag (any segment above the start-gate threshold), so
  * a mid-pass host collapse shows in the record itself; the
  * record-level degraded_mid means NO full pass was clean end to end,
  * and tools/bench_trend.py refuses such records for trending exactly
  * as it refuses degraded_start. ~1.0 = healthy host, >>1 = the host
  * (not the code) is slow.
  *
  * `value` sums the mins of the oracle-verified queries only — directly
  * comparable to BASELINE.md and earlier rounds. The xxhash64 scale-path
  * variants (DataQueries.benchOnly) are timed the same way but reported
  * under the separate "scale_queries" key: same pipeline shapes, the
  * hash family a cluster would actually run (Verify can't check them —
  * DuckDB cannot recompute xxhash64 — so they must not inflate or
  * deflate the gated total). The streaming keys (StreamingQueries.all)
  * report under "streaming_queries" the same way.
  */
object Bench {
  /** Seconds the calibration kernel takes on a healthy build box
    * (best-observed on the round-6 box at local[32]; the same box showed
    * 0.62s and 1.05s on consecutive passes minutes apart — the wobble the
    * factor exists to expose); host_factor divides by this. Re-pin only if
    * the kernel itself changes. */
  val HostKernelRefSec = 0.65

  /** Fixed deterministic no-I/O kernel: 50M longs -> xxhash64 ->
    * 9973-key hash aggregate -> sort. Partition count is pinned (64) so
    * the measured work is identical regardless of SPARK_GRAFT_CPUS; the
    * result exercises codegen, shuffle write/read and sort — the same
    * machinery the real queries stress — with zero data dependence.
    * The sorted frame is driven through a noop WRITE, not count():
    * under count() Catalyst eliminates the Sort beneath the count
    * aggregate and the kernel would silently stop measuring the
    * sort/range-exchange path. */
  def hostKernelAction(spark: SparkSession): Unit =
    spark.range(0, 50000000L, 1, 64)
      // pmod bounds the summed value: 50M raw xxhash64 longs would
      // overflow the ANSI sum (and with count() instead of the noop
      // write, column pruning would silently skip the sum altogether)
      .select((col("id") % 9973).as("k"),
        pmod(xxhash64(col("id")), lit(1000000L)).as("h"))
      .groupBy(col("k"))
      .agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
      .orderBy(col("s"))
      .write.format("noop").mode("overwrite").save()

  def hostKernelSec(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    hostKernelAction(spark)
    (System.nanoTime() - t0) / 1e9
  }

  /** Start-gate threshold: a calibration kernel above it, or a failed
    * one (-1), marks its pass or bracket degraded. tools/bench_trend.py
    * re-derives degraded_start for pre-flag records with the same 2.0. */
  val MaxStartFactor = 2.0
  /** Seconds the start gate waits before re-measuring a degraded host. */
  val GateWaitSec = 60.0
  /** Wall seconds all contention-salvage attempts may spend together. */
  val SalvageBudgetSec = 420.0
  /** The key families in record order; each label is the JSON field its
    * timings report under, and only the first sums into `value`. */
  val Families = Seq("queries", "scale_queries", "streaming_queries")

  private def degraded(f: Double): Boolean = f < 0 || f > MaxStartFactor

  /** One family's timings within one pass, with the calibration kernels
    * measured just before (`left`) and just after (`right`) it. */
  case class Segment(family: String, times: Seq[(String, Double)],
                     left: Double, right: Double) {
    /** Both bracketing kernels measured AND under the health gate:
      * a measurement inside such a segment cannot have been taken
      * during a detectable contention window, so a per-key min with
      * at least one clean-bracketed observation is trustworthy even
      * when the record's FULL passes were all degraded elsewhere. */
    def clean: Boolean = left > 0 && right > 0 &&
      left <= MaxStartFactor && right <= MaxStartFactor
    /** Normalization factor for the segment: the MIN of the positive
      * bracketing kernels — bench_trend's streaming lens rule (min, not
      * nearest, so a transient boundary spike cannot deflate the segment
      * it brackets) generalized to every family. -1 when both failed. */
    def factor: Double =
      Seq(left, right).filter(_ > 0).minOption.getOrElse(-1.0)
  }

  /** One run over the family segments: a full "pass", the single-pass
    * "retry" of its -1 keys, or a contention "salvage" attempt; `n`
    * numbers it within its metric. `streamDetail` holds the per-stream
    * batch stats of the streams this run timed. */
  case class Pass(metric: String, n: Int, segments: Seq[Segment],
                  wall: Double = 0.0, gateWaits: Int = 0,
                  degradedStart: Boolean = false,
                  streamDetail: Seq[(String, String)] = Nil) {
    /** start, every boundary, end */
    def kernels: Seq[Double] = segments.head.left +: segments.map(_.right)
    def hostFactor: Double = kernels.head
    def hostFactorEnd: Double = kernels.last
    def full: Boolean = metric == "pass"
    /** Mid-pass health: a start-only gate cannot see a collapse
      * BETWEEN its kernels, so any boundary or end kernel above the
      * start-gate threshold (or a failed kernel, -1) marks the pass
      * degraded_mid; trend tooling refuses records with no clean pass
      * the same way it refuses degraded_start records. */
    def degradedMid: Boolean = kernels.tail.exists(degraded)
    def times(family: String): Seq[(String, Double)] =
      segments.filter(_.family == family).flatMap(_.times)
  }

  /** A key's min over every observation, the factor of the segment the
    * min came from and whether any successful observation ran inside a
    * clean bracket; min -1 when no observation succeeded. */
  case class Prov(min: Double, factor: Double, clean: Boolean)

  // locale-safe 3-decimal rendering: the f-interpolator goes through
  // String.format and would emit "1,234" (invalid JSON) on
  // comma-decimal locales; Double.toString never does
  private def r3(x: Double): Double = math.round(x * 1000) / 1000.0
  private def jsonMap[V](rs: Seq[(String, V)]): String =
    rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
  private def sumOk(rs: Seq[(String, Double)]): Double =
    rs.collect { case (_, v) if v >= 0 => v }.sum

  /** The JSON line of one pass, retry or salvage attempt. */
  def lineOf(p: Pass, sf: String): String =
    s"""{"metric":"${p.metric}",""" +
    s""""${if (p.full) "pass" else "attempt"}":${p.n},""" +
    s""""value":${sumOk(p.times(Families.head))},""" +
    s""""unit":"sec","wall":${p.wall},""" +
    s""""host_factor":${r3(p.hostFactor)},""" +
    s""""host_factor_end":${r3(p.hostFactorEnd)},""" +
    s""""host_factor_segments":""" +
    s"""${p.kernels.map(r3).mkString("[", ",", "]")},""" +
    s""""gate_waits":${p.gateWaits},""" +
    s""""degraded_start":${p.degradedStart},""" +
    s""""degraded_mid":${p.degradedMid},""" +
    Families.map(f => s""""$f":${jsonMap(p.times(f))},""").mkString +
    s""""streaming_detail":${jsonMap(p.streamDetail)},"sf":"$sf"}"""

  /** The min-of-N record over every pass, retry and salvage attempt. */
  case class Record(passes: Seq[Pass]) {
    /** Per-key min over passes WITH PROVENANCE (round 16): alongside
      * the min (failed -1 observations ignored; a key that never
      * succeeded stays -1 and is excluded from the total), each key
      * carries (a) the bracket-min factor of the segment its min came
      * from — the per-key pass-of-origin normalization that collapses
      * the one-record-factor ambiguity BASELINE.md documents (0.42-0.61x
      * on the r15 anchor) — and (b) a clean bit: some successful
      * observation ran inside a clean-bracketed segment. Contention
      * only ever ADDS time, so a clean observation bounds the min from
      * above and the reported min cannot be contention-inflated. */
    val prov: Map[String, Seq[(String, Prov)]] = Families.map { fam =>
      fam -> passes.flatMap(_.segments.filter(_.family == fam)).flatMap(s =>
        s.times.map { case (k, v) => (k, v, s.factor, s.clean) }
      ).groupBy(_._1).map { case (k, obs) =>
        val ok = obs.filter(_._2 >= 0)
        if (ok.isEmpty) k -> Prov(-1.0, -1.0, clean = false)
        else {
          val minV = ok.map(_._2).min
          // among observations achieving the min prefer one from a
          // clean-bracketed segment, then the smaller factor
          val w = ok.filter(_._2 == minV).minBy(o => (!o._4, o._3))
          k -> Prov(minV, w._3, ok.exists(_._4))
        }
      }.toSeq.sortBy(_._1)
    }.toMap
    private val provAll = Families.flatMap(prov)
    def mins(family: String): Seq[(String, Double)] =
      prov(family).map { case (k, p) => k -> p.min }
    /** Keys whose reported number has no clean-bracketed backing (a -1
      * key is its own alarm and is excluded); all_keys_clean makes the
      * record trend-usable even when no FULL pass was clean end to end. */
    val uncleanKeys: Seq[String] = provAll.collect {
      case (k, p) if p.min >= 0 && !p.clean => k }.sorted
    /** Per-key pass-of-origin normalization factors (bracket-min of the
      * segment each min came from); consumers fall back to the record
      * host_factor for keys absent here (factor unmeasurable, -1). */
    val queryFactors: Seq[(String, Double)] = provAll.collect {
      case (k, p) if p.min >= 0 && p.factor > 0 => k -> r3(p.factor) }
    private val fullPasses = passes.filter(_.full)
    /** The best host_factor among passes that were CLEAN END TO END
      * (start gate passed, every segment under the gate) — a start
      * kernel from a pass whose middle collapsed must not normalize the
      * record (round-15 review finding: the min-start rule picked 1.042
      * from a pass that hit 2.9 mid-run, loosening the anchor gate
      * ~1.45x). Fallback order: clean full-pass starts, any full-pass
      * start, -1 when every calibration failed. Retry and salvage starts
      * never count: their (usually healthy, post-cooldown) start kernel
      * must not become the record factor for mins they didn't produce. */
    val bestFactor: Double = {
      val clean = fullPasses.filter(p => !p.degradedStart && !p.degradedMid)
        .map(_.hostFactor).filter(_ >= 0)
      val ok = fullPasses.map(_.hostFactor).filter(_ >= 0)
      if (clean.nonEmpty) clean.min else if (ok.nonEmpty) ok.min else -1.0
    }
    /** The RECORD is degraded only when every FULL pass began degraded
      * (the gate exhausted its waits each time) — one clean-start pass
      * gives the per-query mins a trustworthy pass to draw from. */
    val degradedStart: Boolean =
      fullPasses.nonEmpty && fullPasses.forall(_.degradedStart)
    /** No full pass was clean end to end (start gate passed AND every
      * boundary/end kernel under the gate). Per-query mins tolerate ONE
      * degraded pass when a clean pass exists (min takes the lower), so
      * only the no-clean-pass case poisons the record — the r14
      * single-pass driver record is the archetype. */
    val degradedMid: Boolean = fullPasses.nonEmpty &&
      fullPasses.forall(p => p.degradedStart || p.degradedMid)

    private def head(value: Double): String =
      s"""{"metric":"total","value":$value,"unit":"sec",""" +
      s""""reps":${fullPasses.size},"host_factor":${r3(bestFactor)},""" +
      s""""degraded_start":$degradedStart,""" +
      s""""degraded_mid":$degradedMid,""" +
      s""""all_keys_clean":${uncleanKeys.isEmpty},""" +
      s""""n_unclean":${uncleanKeys.size},"""
    def totalLine(sf: String): String =
      head(sumOk(mins(Families.head))) +
      s""""unclean_keys":${uncleanKeys
        .map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""query_factors":${jsonMap(queryFactors)},""" +
      Families.map(f => s""""$f":${jsonMap(mins(f))},""").mkString +
      s""""sf":"$sf"}"""
    /** FINAL stdout line: a compact min-of-N record that fits the
      * driver's fixed-size stdout tail (round-8 post-mortem: the full
      * total line is ~5 KB of per-query entries, the driver keeps the
      * last ~2 KB, so BENCH_r*.json recorded "parsed": null every round
      * and the official record needed bench_summary_*.json to be
      * readable). Same totals, family sums, failure count and the top
      * few most expensive queries; full per-query detail stays in the
      * total line and in the summary file `detail` names. n_failed
      * counts across ALL families, so n_total does too — a consumer
      * computing a failure rate divides matching populations (n_queries
      * stays the gated count, the denominator of "value"). */
    def compactLine(sf: String, detail: String): String = {
      val gated = mins(Families.head)
      val all = Families.flatMap(mins)
      val top = gated.filter(_._2 >= 0).sortBy(-_._2).take(8)
        .map { case (k, v) => k -> r3(v) }
      head(r3(sumOk(gated))) +
      s""""n_queries":${gated.size},"n_total":${all.size},""" +
      s""""n_failed":${all.count(_._2 < 0)},""" +
      s""""scale_total":${r3(sumOk(mins(Families(1))))},""" +
      s""""streaming_total":${r3(sumOk(mins(Families(2))))},""" +
      s""""top_queries":${jsonMap(top)},""" +
      s""""detail":"$detail","sf":"$sf"}"""
    }
  }

  /** Extra CLI args are a dev-only name filter (same convention as
    * Verify): run only the named main/scale/streaming entries. Empty =
    * everything. The official driver run passes no args. */
  def main(args: Array[String]): Unit = {
    val nameFilter = args.toSet
    def keep(name: String): Boolean =
      nameFilter.isEmpty || nameFilter.contains(name)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val capSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_CAP", "120").toDouble
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "720").toDouble
    // pass-START health gate: the budget downshift refuses to CONTINUE
    // on a degraded host, this refuses to START recording into one
    val gateTries =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_GATE_TRIES", "5").toInt.max(0)
    // clear any stale last-line handoff: a previous run killed between
    // writing the file and sbt's exit hook would otherwise replay its
    // record into some LATER sbt invocation's stdout
    try java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get("target/bench_last_line.json"))
    catch { case _: Throwable => () }
    val spark = SparkEntry.localSession(cpus)
    // Untimed warm-up: JIT/codegen round trip, then the one-time
    // materializations (the q48-q50 CSV/JSON/partitioned exports, the
    // scale keys' frozen statics), each only when a kept key reads it, so
    // they happen outside every timed region (the export memo persists
    // across passes; only the staging memos are cleared per pass).
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("l_returnflag").count().count()
      SparkEntry.queries.view
        .filterKeys(k => (k.startsWith("q48") || k.startsWith("q49") ||
          k.startsWith("q50")) && keep(k))
        .foreach { case (_, fn) => fn(spark, sfDir).count() }
      DataQueries.warmStatics(spark, sfDir, keep)
      hostKernelSec(spark) // JIT the calibration kernel itself
      ()
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] warm-up failed: ${e.getMessage}")
    }

    /** Run one action under a watchdog: elapsed seconds on success, -1 on
      * throw or on exceeding the cap (the query's job group is cancelled
      * so a hung query can't also poison the next one). Job groups are
      * thread-local, so the group is set inside the worker thread. */
    def timed(name: String)(action: => Unit): Double = {
      val t0 = System.nanoTime()
      @volatile var failed: Option[String] = None
      val worker = new Thread(() => {
        try {
          spark.sparkContext
            .setJobGroup(s"bench-$name", name, interruptOnCancel = true)
          action
        } catch { case e: Throwable => failed = Some(String.valueOf(e)) }
      }, s"bench-$name")
      worker.setDaemon(true)
      worker.start()
      worker.join((capSec * 1000).toLong)
      if (worker.isAlive) {
        spark.sparkContext.cancelJobGroup(s"bench-$name")
        worker.join(15000)
        System.err.println(s"[bench] $name exceeded ${capSec}s cap, cancelled")
        -1.0
      } else if (failed.isDefined) {
        System.err.println(s"[bench] $name failed: ${failed.get}")
        -1.0
      } else (System.nanoTime() - t0) / 1e9
    }

    // noop WRITE, not count() — the hostKernelAction rationale applied
    // to the queries themselves: under count() Catalyst prunes unneeded
    // columns and ELIMINATES cardinality-preserving operators (t54 timed
    // 0.1 s under count(), ~1.6 s for real). The noop sink computes every
    // output column and row, which is what a pipeline consumer pays.
    def noop(fn: (SparkSession, String) => DataFrame): () => Unit =
      () => fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // Streaming keys (StreamingQueries.all, reported under
    // "streaming_queries", not the gated total) run on their own session
    // (shared SparkContext, isolated SQLConf), so a watchdog-abandoned
    // stream thread can never leak its settings into the timed batch
    // queries. Their frozen statics are built here, untimed; after this
    // the statics memo builds nothing, so a key whose static failed
    // records -1 instead of timing an in-pass build.
    val streamSpark = StreamingQueries.session(spark)
    if (StreamingQueries.all.exists(p => keep(p._1)))
      StreamingQueries.warmStatics(streamSpark, sfDir).foreach {
        case (name, e) => System.err.println(s"[bench] stream static " +
          s"'$name' failed at warm-up (keys that read it record -1): " +
          e.getMessage)
      }
    // Streams self-cap: the watchdog's job-group cancel can't reach a
    // stream's microbatch thread (job groups are thread-local), so an
    // overlong stream is stopped here and recorded as a failure (-1)
    // instead of running on into the next timings. Per-microbatch
    // durations from StreamingQueryProgress go to streamDetail — the
    // one-shot total hides steady-state behavior (one 5 s batch and ten
    // 0.5 s batches total the same), so the pass line also records batch
    // count and max/sum triggerExecution ms per stream.
    val streamDetail =
      scala.collection.concurrent.TrieMap.empty[String, String]
    def runStreamQuery(name: String,
        start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      // drop any previous pass's entry first: a stream that fails or
      // exceeds the cap must not report the prior pass's batch stats
      // next to its own -1 timing
      streamDetail.remove(name)
      val q = start
      try {
        // in-stream cap with headroom UNDER the watchdog: the watchdog's
        // job-group cancel can't reach the microbatch thread, so this
        // deadline must expire first — otherwise a slow stream startup
        // lets the watchdog fire, and the still-active stream's jobs
        // would overlap and inflate the next timed query
        val headroomMs = (((capSec - 5).max(1)) * 1000).toLong
        if (!q.awaitTermination(headroomMs)) {
          q.stop()
          throw new RuntimeException(s"stream exceeded in-stream cap " +
            s"(${headroomMs}ms < watchdog ${capSec}s)")
        }
      } finally if (q.isActive) q.stop()
      val durs = q.recentProgress.toSeq.map(p =>
        Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L))
      if (durs.nonEmpty)
        streamDetail(name) = s"""{"batches":${durs.size},""" +
          s""""max_batch_ms":${durs.max},"sum_batch_ms":${durs.sum}}"""
    }

    // The kept keys per family, in pass order, each with the action its
    // timing covers. The Seg staging fill is its own gated key, so
    // q34/q41/q43/q44 time only their incremental cost.
    val families: Seq[(String, Seq[(String, () => Unit)])] =
      Families.zip(Seq(
        ("seg_staging" -> (() => CoreQueries.warmSegStaging(spark, sfDir))) +:
          SparkEntry.queries.toSeq.sortBy(_._1).map(e => e._1 -> noop(e._2)),
        DataQueries.benchOnly.toSeq.sortBy(_._1).map(e => e._1 -> noop(e._2)),
        StreamingQueries.all.map { case (k, start) =>
          k -> (() => runStreamQuery(k, start(streamSpark, sfDir))) }
      ).map(_.filter(e => keep(e._1))))

    // Persisted bench record (round-6 verdict: BENCH_rN.json's truncated
    // tail drops pass-1 lines and per-query numbers; they must survive
    // in-repo, not in /tmp): every pass line and the final total line are
    // also written — rewritten after each pass, so a killed run still
    // leaves everything completed so far — to bench_summary_r{N}.json,
    // N inferred as (max existing BENCH_r*.json round)+1 in the cwd.
    // Override with SPARK_GRAFT_BENCH_SUMMARY; set it empty to disable.
    // A dev-filtered run (CLI name args) never writes the default file:
    // it would clobber the full record with a one-query summary.
    val summaryPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY",
      if (nameFilter.nonEmpty) "" else {
      val rx = "BENCH_r(\\d+)\\.json".r
      val rounds = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .flatMap(f => rx.findFirstMatchIn(f.getName).map(_.group(1).toInt))
      val n = if (rounds.nonEmpty) rounds.max + 1 else 1
      f"bench_summary_r$n%02d.json"
    })
    var passes = Vector.empty[Pass]
    def writeSummary(totalLine: Option[String]): Unit =
      if (summaryPath.nonEmpty) try {
        val body = "{\"passes\":[" +
          passes.map(lineOf(_, sfDir)).mkString(",\n") + "]" +
          totalLine.map(t => ",\n\"total\":" + t).getOrElse("") + "}\n"
        java.nio.file.Files.write(java.nio.file.Paths.get(summaryPath),
          body.getBytes("UTF-8"))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] summary write failed: ${e.getMessage}")
      }

    def kernelFactor(): Double = {
      // prompt a collection first: the kernel measures the HOST, not
      // the just-finished family's heap debt — without this the run
      // pays the previous stage's accumulated garbage inside the
      // timed region
      System.gc()
      val kernelSec = timed("host_kernel") { hostKernelAction(spark) }
      if (kernelSec < 0) -1.0 else kernelSec / HostKernelRefSec
    }
    /** Boundary/end kernels: re-measure once after a short settle when
      * the first read breaches the gate, taking the MIN. Round-16 live
      * finding: the kernel immediately after the scale family read
      * 2.09/2.44/2.71 across three same-run measurements while the
      * kernels before and after read 0.94-1.9 (and the r15 anchor's
      * passes show the same mid-kernel elevation) — residual JVM state
      * from the heaviest family, not host contention, was flagging
      * whole families unclean. A genuinely contended host reads high
      * on BOTH samples and still flags; the start kernel keeps its own
      * longer gate-wait loop (gatedStartFactor). */
    def boundaryKernelFactor(): Double = {
      val f1 = kernelFactor()
      if (!degraded(f1)) f1
      else {
        Thread.sleep(5000)
        val f2 = kernelFactor()
        if (f1 < 0) f2 else if (f2 < 0) f1 else math.min(f1, f2)
      }
    }
    /** Start-gated calibration: re-measure (after a bounded wait) while
      * the host reads degraded — above the gate OR a failed (-1)
      * kernel, which on a wedged host means the watchdog cap fired.
      * Returns (factor, waits, stillDegraded). */
    def gatedStartFactor(): (Double, Int, Boolean) = {
      var f = kernelFactor()
      var waits = 0
      while (degraded(f) && waits < gateTries) {
        System.err.println(
          f"[bench] pass-start host_factor $f%.2f breaches the " +
            f"$MaxStartFactor%.1f start gate; waiting ${GateWaitSec}%.0fs " +
            s"(retry ${waits + 1}/$gateTries) for the host to calm down")
        Thread.sleep((GateWaitSec * 1000).toLong)
        f = kernelFactor()
        waits += 1
      }
      if (degraded(f))
        System.err.println(
          f"[bench] start gate exhausted after $waits waits at " +
            f"host_factor $f%.2f — recording anyway, degraded_start=true")
      (f, waits, degraded(f))
    }

    /** One pass, retry or salvage attempt from an already-measured start
      * kernel (factor, gate waits, still degraded): times the selected
      * keys family by family, each family bracketed by the kernel before
      * it and a boundary kernel after it (~0.7 s on a healthy host), so a
      * start-healthy host that collapses mid-run shows at the nearest
      * boundary; its line is printed and persisted at once. `select` is
      * re-evaluated just before each key runs (not once up front) so a
      * stateful predicate — the salvage wall-budget check — can cut the
      * run short between keys. The wall clock starts AFTER the start
      * gate: its bounded sleeps are idling, not pass work, and must not
      * trip the budget downshift. */
    def runSegments(metric: String, n: Int, start: (Double, Int, Boolean),
        select: String => Boolean): Pass = {
      val w0 = System.nanoTime()
      var left = start._1
      val segs = families.map { case (fam, keys) =>
        val times = keys.collect { case (k, act) if select(k) =>
          k -> timed(k)(act()) }
        val seg = Segment(fam, times, left, boundaryKernelFactor())
        left = seg.right
        seg
      }
      val ran = segs.flatMap(_.times.map(_._1)).toSet
      // only streams this run actually timed — a stale entry from an
      // earlier pass must not sit next to retry or salvage times
      val p = Pass(metric, n, segs, (System.nanoTime() - w0) / 1e9,
        start._2, start._3,
        streamDetail.toSeq.filter(e => ran(e._1)).sortBy(_._1))
      if (p.degradedMid)
        System.err.println(
          f"[bench] $metric $n%d mid-pass health breach: segments " +
            s"${p.kernels.map(f => f"$f%.2f").mkString("[", ", ", "]")} " +
            f"vs gate $MaxStartFactor%.1f — degraded_mid=true on this line")
      passes :+= p
      println(lineOf(p, sfDir))
      writeSummary(None)
      p
    }

    var pass = 0
    var continue = true
    def runPass(): Double = {
      pass += 1
      // the calibration kernels run under the same watchdog/cap as the
      // queries — on a wedged host a hang or throw records factor=-1
      // instead of killing the whole pass before any line is emitted
      val start = gatedStartFactor()
      // cold staging per pass: drop the t03/t14 verified-pairs checkpoint
      // AND every persisted frame (segStaging etc.), so each pass pays
      // each staging fill exactly once — the same work profile as the
      // earlier single-pass rounds
      DataQueries.clearStagingCache()
      CoreQueries.clearStagingCache()
      spark.catalog.clearCache()
      runSegments("pass", pass, start, _ => true).wall
    }
    var lastWall = 0.0
    while (continue && pass < reps) {
      lastWall = runPass()
      if (lastWall > budgetSec && pass < reps) {
        System.err.println(
          s"[bench] pass $pass took ${lastWall}s > ${budgetSec}s budget; " +
            s"downshifting from $reps to $pass passes")
        continue = false
      }
    }
    // Noise guard (round-9 verdict: pass 1 ran on a degrading host and
    // left 1.5-2x artifacts on sub-second queries that the min-of-2
    // couldn't erase): when any completed pass's host_factor drifted
    // >10% between its start and end kernels, the per-query mins carry
    // mid-pass host noise — run ONE extra pass so the min has a stable
    // pass to draw from. Only when the normal reps completed (no budget
    // downshift — a dying host gets no extra work) and at most once.
    def drifted(p: Pass): Boolean =
      p.hostFactor > 0 && p.hostFactorEnd > 0 &&
        math.abs(p.hostFactorEnd / p.hostFactor - 1.0) > 0.10
    if (continue && reps > 1 && pass == reps && lastWall <= budgetSec &&
        passes.exists(drifted)) {
      System.err.println(s"[bench] host_factor drifted >10% within a " +
        s"pass; running one noise-guard extra pass (min-of-${reps + 1})")
      runPass()
    }

    // -1 rescue for single-pass records: if only one pass ran and it
    // left -1 entries, retry exactly those keys once, under boundary
    // kernels like any pass (so a retried key can be clean-backed); the
    // min then folds a successful retry in, and a key that fails twice
    // stays -1. Staging memos are NOT cleared: a retried staging
    // CONSUMER runs against the warm staging it would have had mid-pass
    // (comparable timing); a retried staging FILLER (t03/t14,
    // seg_staging) re-times without its fill cost — deflated, but a
    // number beats a -1 and the retry line is labeled so the record
    // shows which attempt is which.
    val failed = passes.flatMap(_.segments.flatMap(_.times))
      .collect { case (k, v) if v < 0 => k }.toSet
    if (passes.size == 1 && failed.nonEmpty) {
      System.err.println(s"[bench] single-pass run left -1 entries; " +
        s"retrying once: ${failed.toSeq.sorted.mkString(", ")}")
      val f = kernelFactor()
      runSegments("retry", 1, (f, 0, degraded(f)), failed)
    }

    // ---- contention salvage (round-16 mandate: the driver's official
    // record has been health-degraded three rounds running, leaving
    // the 2x anchor gate unevaluated). A degraded pass typically
    // pollutes a HANDFUL of keys (r15: ~5 — t79/q01/seg_staging/...),
    // so instead of refusing the whole record, keys that ended the rep
    // loop without clean-bracket provenance are re-measured here:
    // health-gated (the same bounded start-gate waits), in pass order
    // (staging fillers before their consumers), under fresh bracket
    // kernels, within a wall budget — minutes for the usual handful,
    // never another full pass forced onto a dying host (the gate
    // aborts salvage when the host won't calm down). A salvaged key's
    // time folds into the min like any pass (it can only lower it) and
    // its clean brackets grant provenance; trend tooling may then
    // trust a record whose every reported key is clean-backed even
    // when no FULL pass was clean end to end ("all_keys_clean").
    val salvageTries =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SALVAGE", "2").toInt.max(0)
    var salvageWall = 0.0
    var salvageAttempt = 0
    var salvageAbandoned = false
    while (salvageAttempt < salvageTries && !salvageAbandoned &&
        salvageWall < SalvageBudgetSec &&
        Record(passes).uncleanKeys.nonEmpty) {
      salvageAttempt += 1
      val un = Record(passes).uncleanKeys
      System.err.println(s"[bench] salvage $salvageAttempt/$salvageTries: " +
        s"${un.size} keys lack clean-bracket provenance: " +
        un.mkString(", "))
      val start = gatedStartFactor()
      if (start._3) {
        System.err.println("[bench] salvage abandoned: host still " +
          f"degraded (factor ${start._1}%.2f) after the gate's waits — " +
          "unclean keys stay flagged")
        salvageAbandoned = true
      } else {
        val deadline = System.nanoTime() +
          ((SalvageBudgetSec - salvageWall) * 1e9).toLong
        // staging discipline: a selected FILLER re-pays its fill (its
        // memo is cleared — the first-in-pass-order semantics every
        // pass has), while a selected CONSUMER whose filler is absent
        // times against warm staging exactly as it would mid-pass
        if (un.contains("seg_staging")) CoreQueries.clearStagingCache()
        if (un.exists(k => k.startsWith("t03") || k.startsWith("t14")))
          DataQueries.clearStagingCache()
        def budgeted(name: String): Boolean =
          un.contains(name) && {
            val over = System.nanoTime() > deadline
            if (over) System.err.println(s"[bench] salvage budget " +
              s"exhausted before $name — stays unclean")
            !over
          }
        salvageWall +=
          runSegments("salvage", salvageAttempt, start, budgeted).wall
      }
    }

    val record = Record(passes)
    val totalLine = record.totalLine(sfDir)
    println(totalLine)
    writeSummary(Some(totalLine))
    val compactLine = record.compactLine(sfDir, summaryPath)
    println(compactLine)
    // The driver parses the LAST stdout line of the sbt invocation, but
    // the bench runs in a forked JVM and sbt prints its "[success]
    // Total time…" epilogue AFTER this process exits — so nothing
    // printed here can be the last line. Hand the compact record to the
    // sbt process instead: the JVM shutdown hook build.sbt registers
    // (benchLastLineEcho, via Runtime.addShutdownHook) reads this file
    // and prints it raw during sbt shutdown, after the epilogue.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("target/bench_last_line.json"),
      (compactLine + "\n").getBytes("UTF-8"))
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] last-line handoff failed: " +
          s"${e.getMessage}")
    }
    spark.stop()
  }
}
