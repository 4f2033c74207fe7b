package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Structural lints that pin four audit results so they cannot
  * regress silently:
  *
  *  1. exactSums invariant (round-15 sweep, round-15 verdict item 2):
  *     no corpus-scaled non-oracle path pays fractional-decimal
  *     aggregation. The scale twins (DataQueries.benchOnly, the
  *     xxhash64 family a cluster actually runs) must plan NO
  *     decimal(27,12) accumulation — the exact-sum signature — except
  *     the two sites whose decimal frames are rank-sized by
  *     construction (rrfFuse's k-row fusion, marginMine's rank
  *     frames), and none at all of the exactSum helper's decimal(18,4)
  *     signature. A contributor's convenience `exactSum` on a
  *     100 TB-shaped path fails here instead of shipping.
  *
  *  2. fan-out door (round-15 verdict item 7): round-robin
  *     `repartition(n)` (no partitioning column — pure width
  *     spreading) is the knob the Par.fanOutReady contract guards,
  *     and the round-15 amplification audit found two sites where
  *     blind spreading REGRESSED 1.3-2.8x (t80, t56 — PLANS.md
  *     table). The audited spread sites are pinned per file below; a
  *     NEW round-robin site fails here and must either go through
  *     `graft.ops.Par.fanOutReady` or be added with an A/B
  *     measurement note at the call site.
  *
  *  3. stream door: every AvailableNow stream is started in
  *     `Streams` or the `StreamingQueries` registry, so the bench
  *     times exactly the wiring StreamingSpec checks.
  *
  *  4. session door: every main gets its session from
  *     `SparkEntry.localSession`, the one `SparkSession.builder()` site.
  *
  *  5. twin door: an operator under `ops/` takes its hash family as an
  *     `md5Keys` argument; no `…Md5` def duplicates an entry point.
  */
class LintSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("exactSums invariant: scale-twin plans carry no fractional-decimal " +
      "aggregation outside the rank-frame-sized rrfFuse/marginMine sites") {
    // rank-frame-sized by construction (k rows per query, never
    // corpus-scaled): x79i fuses two k-deep rankings per query via
    // rrfFuse; x80 averages cosine over marginMine's rank frames
    val allowed27 = Set("x79i_hybrid_warm", "x80_margin_mine_scale")
    val plans = DataQueries.benchOnly.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        name -> fn(spark, d).queryExecution.optimizedPlan.toString
    }
    val offenders27 = plans.collect {
      case (name, plan)
        if plan.contains("decimal(27,12)") && !allowed27(name) => name
    }
    assert(offenders27.isEmpty,
      s"decimal(27,12) accumulation appeared in corpus-scaled twin(s) " +
        s"${offenders27.mkString(", ")} — the round-15 sweep established " +
        "no x-key pays exact fractional sums outside rrfFuse/marginMine " +
        "rank frames; use double sums (exactSums=false) on scale paths " +
        "or extend the allowlist WITH a scale-shape justification")
    // the allowlist stays honest: an allowed key that stops planning
    // the pattern must be removed, not carried
    val stale = allowed27.filterNot(k => plans.toMap.apply(k)
      .contains("decimal(27,12)"))
    assert(stale.isEmpty, s"allowlist entries no longer plan " +
      s"decimal(27,12): ${stale.mkString(", ")} — drop them")
    // exactSum/exactAvg accumulate as decimal(18,4); no scale twin may
    // plan that signature at all (integer-exact sketch masses are
    // decimal(38,0)/(18,0) and deliberately exempt — determinism
    // contract on integer-scaled values, no fractional cost)
    val offenders18 = plans.collect {
      case (name, plan) if plan.contains("decimal(18,4)") => name
    }
    assert(offenders18.isEmpty,
      s"exactSum's decimal(18,4) signature appeared in scale twin(s) " +
        s"${offenders18.mkString(", ")} — scale paths take " +
        "double sums (nondeterminism is the documented trade; the " +
        "oracle-replayed t-twin owns exactness)")
  }

  test("fan-out door: round-robin repartition sites are pinned — new " +
      "spreading goes through Par.fanOutReady (PLANS.md amplification " +
      "audit: blind spreading regressed t80 2.1->5.8s, t56 2.7->3.5s)") {
    // audited round-robin sites per file (PLANS.md + call-site notes):
    //   TextOps: the tf localCheckpoint widening (t78 postings family)
    //   Tables: fixture-export sharding (paced-stream part files)
    //   DataQueries: bench-twin scan spreading (defaultParallelism,
    //     measured flat-to-better on the salted corpora)
    //   Par: the guarded implementation (the one sanctioned door)
    val audited = Map(
      "ops/TextOps.scala" -> 1,
      "etl/Tables.scala" -> 4,
      // +1 in round 16: scaledEmbeddings' checkpoint froze at the
      // 8-branch union width and every consumer's cosine kernel ran
      // 8-wide (A/B note at the call site)
      "DataQueries.scala" -> 5,
      "ops/Par.scala" -> 1,
      // round-16 A/B (OPTIMIZATION_r16.md): the per-row codec kernel
      // ran serial behind a one-task corpus scan; the 40 KB id frame
      // sits under fanOutReady's 128 KB stats floor, so the site
      // spreads explicitly with the measurement note at the call site
      "ops/Multimodal.scala" -> 1)
    val found = sitesPerFile { (raw, next) =>
      // args up to the close paren, spilling onto the next line for
      // multi-line calls; a partitioning column makes it a
      // co-location shuffle, not width spreading
      val at = raw.indexOf(".repartition(")
      at >= 0 && {
        val args = (raw.substring(at + ".repartition(".length) + next)
          .takeWhile(_ != ')')
        !(args.contains("col(") || args.contains("$\""))
      }
    }
    assert(found == audited,
      s"round-robin repartition sites moved: found $found, audited " +
        s"$audited — route new spreading through " +
        "graft.ops.Par.fanOutReady (stats-floor guarded) or A/B it " +
        "and pin the new count here with a call-site note")
  }

  test("stream door: every AvailableNow stream starts in Streams or the " +
      "StreamingQueries registry — Bench owns no stream wiring") {
    // Streams: the one per-batch gate/monitor helper plus the three
    // one-shot sinks (upsert, upsert-by-month, hourly rollup);
    // StreamingQueries: the noop-sink starter of the stateful keys.
    // Bench times what the registry starts and starts nothing itself,
    // so what is benched is what StreamingSpec runs
    val audited = Map(
      "streaming/Streams.scala" -> 4,
      "StreamingQueries.scala" -> 1)
    val found = sitesPerFile((raw, _) => raw.contains("Trigger.AvailableNow("))
    assert(found == audited,
      s"AvailableNow stream sites moved: found $found, audited $audited " +
        "— start a new stream through a Streams start* entry point (or a " +
        "StreamingQueries entry) and pin the count here")
  }

  test("session door: every main builds its session through " +
      "SparkEntry.localSession — one SparkSession.builder() site") {
    // one builder keeps the confs every main needs in one place (the
    // nanos-as-long read events.parquet needs, UTC, partitions = cpus)
    val found = sitesPerFile((raw, _) => raw.contains("SparkSession.builder()"))
    assert(found == Map("SparkEntry.scala" -> 1),
      s"SparkSession.builder() sites: found $found — build sessions with " +
        "SparkEntry.localSession(cpus, conf) instead")
  }

  test("twin door: no operator under ops/ defines an …Md5 twin — the " +
      "hash family is the md5Keys argument") {
    val twin = "\\bdef \\w+Md5\\(".r
    val found = sitesPerFile((raw, _) => twin.findFirstIn(raw).isDefined)
      .filter(_._1.startsWith("ops/"))
    assert(found.isEmpty,
      s"…Md5 defs under ops/: $found — take `md5Keys: Boolean = false` " +
        "as the last parameter of the one entry point instead")
  }

  /** Per file under src/main/scala/graft (path relative to it), the
    * code lines — comments skipped, since Scaladoc mentions the idioms
    * — for which `hit(line, nextLine)` holds. */
  private def sitesPerFile(hit: (String, String) => Boolean)
      : Map[String, Int] = {
    val root = Paths.get("src/main/scala/graft")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val rel = root.relativize(p).toString.replace('\\', '/')
        val lines = Files.readAllLines(p).asScala
        lines.indices.filter { i =>
          val line = lines(i).trim
          !(line.startsWith("*") || line.startsWith("//") ||
            line.startsWith("/*")) &&
            hit(lines(i), lines.lift(i + 1).getOrElse(""))
        }.map(_ => rel)
      }.toSeq.groupBy(identity).view.mapValues(_.size).toMap
    finally walk.close()
  }
}
