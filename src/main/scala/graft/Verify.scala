package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Partial-run-proof (round-4 post-mortem: a killed sweep yielded `{}`
  * because oracle_sql.json was written LAST): the oracle map is written
  * FIRST, queries run cheapest-first (the q01-q33 singles before the
  * Seg/sketch families), and each query prints an OK/FAIL line — so a
  * sweep killed at 50% still leaves the driver ~38 comparable results
  * and a visible record of which query was in flight. */
object Verify {
  /** Sweep order: cheap single-operator queries first, pipeline queries
    * next, the expensive staged families (Seg ratios, MinHash/Jaccard
    * sketches) last — maximizes comparable rows per wall-second if the
    * host degrades mid-run. */
  private val expensive = Set(
    "q34_seg_personas", "q41_client_minimarket_top", "q43_industry_spend",
    "q44_client_spend", "q51_client_territory_spend",
    // q52-q54 pay a write+read round trip, and q52/q53 recompute the q51
    // snapshot (triggering the Seg staging fill if they run first) — keep
    // them behind the cheap singles so a dying sweep still maximizes
    // comparable rows
    "q52_csv_egress", "q53_json_egress", "q54_partitioned_egress",
    "q55_orc_egress",
    "q36_new_fingerprints", "q37_billing_group_scd",
    "t03_minhash_lsh", "t04_jaccard_pairs", "t05_simhash",
    "t14_neardup_clusters",
    // the census-steered knn-joins run 2+ candidate joins each
    "t30_knn_adaptive", "t32_knn_budget",
    // graph build (all-pairs on the capped corpus) + 2 beam rounds
    "t69_graph_search",
    // corpus-wide gram/posting machinery (sketch build; postings join)
    "t75_kmv_overlap", "t77_sparse_cosine",
    // same postings machinery (t79 also runs the dense brute pass);
    // full evens-x-odds cross cosines; LSH + brute double retrieval
    "t78_bm25", "t79_hybrid_rrf", "t80_margin_mine",
    "t81_ranking_metrics", "t82_rbo")
  private def costClass(name: String): Int =
    if (expensive(name)) 2
    else if (name.matches("q(0[1-9]|[12][0-9]|3[0-3])_.*")) 0
    else 1

  def main(args: Array[String]): Unit = {
    // driver contract: (sfDir, outDir); extra args = optional dev-only
    // query-name filter for fast iteration
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.localSession(cpus)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    var ok = 0
    var failed = 0
    SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy { case (name, _) => (costClass(name), name) }
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          ok += 1
          println(f"[verify] OK   $name (${(System.nanoTime() - t0) / 1e9}%.1fs)")
        } catch { case e: Throwable =>
          failed += 1
          println(s"[verify] FAIL $name: ${e.getMessage}")
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    println(s"[verify] done: $ok ok, $failed failed")
    spark.stop()
  }
}
