package graft

import org.scalatest.funsuite.AnyFunSuite
import Bench.{Pass, Record, Segment, lineOf}

/** Bench's record math — per-key min with provenance, unclean keys,
  * query_factors, the best-factor fallback, the record-level degraded
  * flags and the exact line strings — on synthetic passes, no Spark.
  * tools/bench_trend.py trusts these rules, so they are pinned here. */
class BenchSpec extends AnyFunSuite {
  private val Seq(gated, scale, streaming) = Bench.Families

  /** A run whose four kernels bracket the three families in order. */
  private def run(metric: String, n: Int, kernels: Seq[Double],
      times: Seq[Seq[(String, Double)]], degradedStart: Boolean = false)
      : Pass =
    Pass(metric, n, Bench.Families.indices.map(i =>
      Segment(Bench.Families(i), times(i), kernels(i), kernels(i + 1))),
      degradedStart = degradedStart)
  private def full(n: Int, kernels: Seq[Double], q: (String, Double)*) =
    run("pass", n, kernels, Seq(q, Nil, Nil))
  private val healthy = Seq(1.0, 1.1, 1.2, 1.3)

  test("a -1 observation is ignored: the min and its factor come from " +
      "the passes that succeeded") {
    val rec = Record(Seq(full(1, healthy, "q1" -> -1.0),
      full(2, Seq(1.5, 1.4, 1.0, 1.0), "q1" -> 2.0)))
    assert(rec.mins(gated) == Seq("q1" -> 2.0))
    assert(rec.queryFactors == Seq("q1" -> 1.4))
    assert(rec.uncleanKeys.isEmpty)
  }

  test("a clean observation wins a tie for the min over a smaller-factor " +
      "unclean one") {
    // pass 1's gated bracket (0.5, 2.5) breaches the gate: factor 0.5,
    // unclean; pass 2's (1.2, 1.3) is clean with the larger factor
    val rec = Record(Seq(full(1, Seq(0.5, 2.5, 1.0, 1.0), "q1" -> 1.0),
      full(2, Seq(1.2, 1.3, 1.0, 1.0), "q1" -> 1.0)))
    val Seq((_, p)) = rec.prov.find(_._1 == gated).get._2
    assert(p == Bench.Prov(1.0, 1.2, clean = true))
    // among unclean ties the smaller factor wins
    val rec2 = Record(Seq(full(1, Seq(0.5, 2.5, 1.0, 1.0), "q1" -> 1.0),
      full(2, Seq(0.7, 2.6, 1.0, 1.0), "q1" -> 1.0)))
    assert(rec2.queryFactors == Seq("q1" -> 0.5))
    assert(rec2.uncleanKeys == Seq("q1"))
  }

  test("an all-failed key stays -1, is never unclean and has no factor") {
    val rec = Record(Seq(full(1, Seq(3.0, 3.0, 3.0, 3.0), "q1" -> -1.0,
      "q2" -> 1.0), run("retry", 1, Seq(1.0, -1.0, -1.0, -1.0),
      Seq(Seq("q1" -> -1.0), Nil, Nil))))
    assert(rec.mins(gated) == Seq("q1" -> -1.0, "q2" -> 1.0))
    assert(rec.uncleanKeys == Seq("q2"))
    assert(rec.queryFactors == Seq("q2" -> 3.0))
  }

  test("best factor: clean full passes first, then any full pass, then -1; " +
      "retry and salvage starts never count") {
    val clean = full(1, Seq(1.4, 1.0, 1.0, 1.0), "q1" -> 1.0)
    val midBad = full(2, Seq(1.1, 2.5, 1.0, 1.0), "q1" -> 1.0)
    val startBad = full(3, Seq(0.9, 1.0, 1.0, 1.0), "q1" -> 1.0)
      .copy(degradedStart = true)
    assert(Record(Seq(clean, midBad, startBad)).bestFactor == 1.4)
    assert(Record(Seq(midBad, startBad)).bestFactor == 0.9)
    assert(Record(Seq(full(1, Seq(-1.0, 1.0, 1.0, 1.0), "q1" -> 1.0)))
      .bestFactor == -1.0)
    val salvage = run("salvage", 1, Seq(0.5, 0.6, 0.6, 0.6),
      Seq(Seq("q1" -> 0.9), Nil, Nil))
    val retry = run("retry", 1, Seq(0.4, 0.5, 0.5, 0.5),
      Seq(Seq("q1" -> 0.9), Nil, Nil))
    assert(Record(Seq(midBad, retry, salvage)).bestFactor == 1.1)
    assert(Record(Seq(retry, salvage)).bestFactor == -1.0)
  }

  test("a retry or salvage start kernel never becomes the record factor, " +
      "nor vouches for a degraded record") {
    val bad = run("pass", 1, Seq(2.5, 2.6, 2.6, 2.6),
      Seq(Seq("q1" -> 1.0), Nil, Nil), degradedStart = true)
    val retry = run("retry", 1, Seq(0.9, 0.95, 0.95, 0.95),
      Seq(Seq("q1" -> 0.5), Nil, Nil))
    val rec = Record(Seq(bad, retry))
    assert(rec.bestFactor == 2.5)
    assert(rec.degradedStart && rec.degradedMid)
    // ...while its clean brackets still back the key it re-timed
    assert(rec.mins(gated) == Seq("q1" -> 0.5))
    assert(rec.queryFactors == Seq("q1" -> 0.9))
    assert(rec.uncleanKeys.isEmpty)
  }

  test("record-level degraded_mid: set only when no full pass was clean " +
      "end to end") {
    val midBad = full(1, Seq(1.0, 1.0, 2.1, 1.0), "q1" -> 1.0)
    val endFailed = full(2, Seq(1.0, 1.0, 1.0, -1.0), "q1" -> 1.0)
    val clean = full(3, healthy, "q1" -> 1.0)
    assert(midBad.degradedMid && endFailed.degradedMid && !clean.degradedMid)
    assert(Record(Seq(midBad, endFailed)).degradedMid)
    assert(!Record(Seq(midBad, endFailed, clean)).degradedMid)
    assert(!Record(Seq(midBad)).degradedStart)
    assert(!Record(Nil).degradedMid && !Record(Nil).degradedStart)
  }

  // two full passes over all three families and one salvage of the
  // key the first pass's bad scale bracket left unclean
  private val passes = Seq(
    run("pass", 1, Seq(1.0, 1.2, 2.4, 1.1), Seq(
      Seq("q01" -> 1.5, "seg_staging" -> 4.0, "t01" -> -1.0),
      Seq("x01" -> 2.25), Seq("s01" -> 3.0))).copy(wall = 12.5),
    run("pass", 2, Seq(1.3, 2.2, 1.4, 1.2), Seq(
      Seq("q01" -> 1.25, "seg_staging" -> 4.5, "t01" -> -1.0),
      Seq("x01" -> 2.5), Seq("s01" -> 2.75))).copy(wall = 13.0,
      gateWaits = 1, streamDetail = Seq("s01" ->
        """{"batches":3,"max_batch_ms":900,"sum_batch_ms":2100}""")),
    run("salvage", 1, Seq(0.9, 1.0, 1.1, 1.05), Seq(
      Seq("q01" -> 1.0), Seq("x01" -> 2.0), Nil)))

  test("pass and salvage lines: one writer, the exact strings") {
    assert(lineOf(passes(1), "sf") ==
      """{"metric":"pass","pass":2,"value":5.75,"unit":"sec","wall":13.0,""" +
      """"host_factor":1.3,"host_factor_end":1.2,""" +
      """"host_factor_segments":[1.3,2.2,1.4,1.2],"gate_waits":1,""" +
      """"degraded_start":false,"degraded_mid":true,""" +
      """"queries":{"q01":1.25,"seg_staging":4.5,"t01":-1.0},""" +
      """"scale_queries":{"x01":2.5},"streaming_queries":{"s01":2.75},""" +
      """"streaming_detail":{"s01":{"batches":3,"max_batch_ms":900,""" +
      """"sum_batch_ms":2100}},"sf":"sf"}""")
    assert(lineOf(passes(2), "sf") ==
      """{"metric":"salvage","attempt":1,"value":1.0,"unit":"sec",""" +
      """"wall":0.0,"host_factor":0.9,"host_factor_end":1.05,""" +
      """"host_factor_segments":[0.9,1.0,1.1,1.05],"gate_waits":0,""" +
      """"degraded_start":false,"degraded_mid":false,""" +
      """"queries":{"q01":1.0},"scale_queries":{"x01":2.0},""" +
      """"streaming_queries":{},"streaming_detail":{},"sf":"sf"}""")
  }

  test("total and compact lines: the exact strings for fixed passes") {
    val rec = Record(passes)
    // q01 and x01 are clean via the salvage; s01's min is pass 2's,
    // bracketed (1.4, 1.2); seg_staging's is pass 1's, bracketed
    // (1.0, 1.2); t01 never succeeded
    assert(rec.uncleanKeys.isEmpty)
    assert(rec.totalLine("sf") ==
      """{"metric":"total","value":5.0,"unit":"sec","reps":2,""" +
      """"host_factor":1.0,"degraded_start":false,"degraded_mid":true,""" +
      """"all_keys_clean":true,"n_unclean":0,"unclean_keys":[],""" +
      """"query_factors":{"q01":0.9,"seg_staging":1.0,"x01":1.0,""" +
      """"s01":1.2},""" +
      """"queries":{"q01":1.0,"seg_staging":4.0,"t01":-1.0},""" +
      """"scale_queries":{"x01":2.0},"streaming_queries":{"s01":2.75},""" +
      """"sf":"sf"}""")
    assert(rec.compactLine("sf", "bench_summary_r19.json") ==
      """{"metric":"total","value":5.0,"unit":"sec","reps":2,""" +
      """"host_factor":1.0,"degraded_start":false,"degraded_mid":true,""" +
      """"all_keys_clean":true,"n_unclean":0,"n_queries":3,"n_total":5,""" +
      """"n_failed":1,"scale_total":2.0,"streaming_total":2.75,""" +
      """"top_queries":{"seg_staging":4.0,"q01":1.0},""" +
      """"detail":"bench_summary_r19.json","sf":"sf"}""")
  }
}
