package graft
import java.nio.file.{Files, Paths}

/** Physical-plan snapshots: `.explain("formatted")` for every
  * SparkEntry query, scrubbed of run-varying noise (expression ids,
  * plan ids, absolute paths, size/row statistics) and written one file
  * per query under `plans/`. Committed so a reviewer can read or DIFF
  * the plan an operator compiles to — broadcast placement, pushed
  * filters, exchange count, codegen spans — without running anything;
  * regenerating after a change shows exactly which plans moved.
  *
  * Usage: `sbt "runMain graft.PlanDump [sfDir] [outDir]"`
  * (defaults: /root/testdata/sf0.001, plans). Egress-style queries
  * (q52-q54, t42…) execute their write as part of building the frame —
  * the dump pays those small sf0.001 writes.
  */
object PlanDump {
  /** Strip everything that varies run to run but never changes the
    * plan's shape: expression ids (#123, kept as '#'), plan/subquery
    * ids, stats annotations, and any absolute path (temp egress dirs,
    * testdata roots, checkpoint locations). */
  private[graft] def scrub(plan: String): String =
    plan
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("subquery#?\\d*", "subquery")
      .replaceAll("cteId=\\d+", "cteId=x")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics(...)")
      .replaceAll("\\$\\$Lambda\\$?\\d*/0x[0-9a-f]+@[0-9a-f]+",
        "\\$\\$Lambda@x")
      .replaceAll("@[0-9a-f]{6,}", "@x")
      .replaceAll("\\.scala:\\d+", ".scala:x")
      .replaceAll("RDD\\[\\d+\\]", "RDD[x]")
      // lambda-variable fresh names draw from one GLOBAL counter, so
      // ADDING a query shifts x_NNN in every later-planned snapshot —
      // churn with no plan-shape meaning (the t15 family moved 29
      // files when t121-t123 landed)
      .replaceAll("\\blambda ([a-z])_\\d+", "lambda $1_")
      .replaceAll("\\b([a-z])_\\d+#", "$1_#")
      .replaceAll("(?m)^(\\s*Location:).*$", "$1 <path>")
      .replaceAll("file:/[^\\s,\\]\\)]+", "<path>")
      .replaceAll("/(?:tmp|root)/[^\\s,\\]\\)]+", "<path>")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "plans"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.localSession(cpus)
    Files.createDirectories(Paths.get(outDir))
    var failed = 0
    // args(2..): optional name filter (accepts bench-only x-keys too) —
    // the round-16 before/after snapshot path (plans/r16/); an unknown
    // key reports a per-name FAIL below instead of ending the dump
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      try {
        val df = SparkEntry.byName(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
        Files.write(Paths.get(outDir, s"$name.txt"),
          (scrub(txt) + "\n").getBytes("UTF-8"))
        println(s"[plans] wrote $name")
      } catch {
        case e: Throwable =>
          failed += 1
          println(s"[plans] FAIL $name: ${e.getMessage}")
      }
    }
    println(s"[plans] done: ${names.size - failed} written, " +
      s"$failed failed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
