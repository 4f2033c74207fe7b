package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.mutable.ArrayBuffer

/** Dev-only per-key profiler: where does a key's wall time go? For each
  * named key (default: every SparkEntry query; bench-only x-keys too),
  * each of SPARK_GRAFT_PROFILE_REPS reps (default 1, repeated in one
  * JVM — run-to-run swings at matching host health implicate the
  * plan/GC/spill, not the box) prints the DataFrame build, the analysis
  * + optimization + physical planning (executedPlan forced) and the
  * noop-write execution ms, then one row per completed stage in
  * submission order: the driver gap before it (AQE re-planning, codegen,
  * scheduling — what stage metrics cannot see), its run, CPU and GC ms,
  * spill and shuffle read/write MB. SPARK_GRAFT_LAB_CONF ("k=v,k=v")
  * overrides session confs — the A/B lens for driver-side costs.
  *
  * Usage: `sbt "runMain graft.Profile [key ...]"` (SPARK_GRAFT_SF_DIR,
  * default /root/testdata/sf0.1; SPARK_GRAFT_CPUS, default 32). */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "1").toInt.max(1)
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    // resolved before Spark starts: a typo'd key fails at once, by name
    val keys = names.map(n => n -> SparkEntry.byName(n))
    val conf = sys.env.get("SPARK_GRAFT_LAB_CONF").toSeq
      .flatMap(_.split(",")).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = SparkEntry.localSession(cpus, conf)

    case class St(id: Int, submitMs: Long, doneMs: Long, runMs: Long,
                  cpuMs: Long, gcMs: Long, spillMB: Double,
                  shuffleReadMB: Double, shuffleWriteMB: Double, tasks: Int,
                  name: String)
    val stages = ArrayBuffer.empty[St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += St(si.stageId, si.submissionTime.getOrElse(0L),
            si.completionTime.getOrElse(0L), m.executorRunTime,
            m.executorCpuTime / 1000000, m.jvmGCTime,
            m.memoryBytesSpilled / 1e6,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6, si.numTasks, si.name)
        }
      }
    })

    // one untimed warm-up: JIT + parquet footer cache
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("l_returnflag").count().count()
    } catch { case _: Throwable => () }

    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    for ((name, fn) <- keys; rep <- 1 to reps) {
      stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuild = ms(t0)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force analysis -> physical plan
      val tPlan = ms(t1)
      val execStartMs = System.currentTimeMillis()
      val t2 = System.nanoTime()
      // noop write, not count() — the Bench action (count() prunes
      // projection-shaped work to a bare scan, so the profile would
      // hunt shuffles in a plan that isn't the one being graded)
      df.write.format("noop").mode("overwrite").save()
      val tExec = ms(t2)
      println(f"\n=== $name rep $rep/$reps: build=$tBuild%.0f ms " +
        f"plan=$tPlan%.0f ms exec=$tExec%.0f ms total=${ms(t0)}%.0f ms")
      val ss = stages.synchronized(stages.sortBy(_.submitMs).toList)
      var prevDone = execStartMs
      ss.foreach { s =>
        val gap = (s.submitMs - prevDone).max(0L)
        println(f"  stage ${s.id}%4d gapBefore=$gap%5d ms " +
          f"run=${s.runMs}%6d ms cpu=${s.cpuMs}%6d ms gc=${s.gcMs}%5d ms " +
          f"spill=${s.spillMB}%7.1f MB tasks=${s.tasks}%3d " +
          f"shR=${s.shuffleReadMB}%8.1f MB shW=${s.shuffleWriteMB}%8.1f MB" +
          s"  ${s.name.take(70)}")
        prevDone = prevDone.max(s.doneMs)
      }
      println(f"  total executor run: ${ss.map(_.runMs).sum}%d ms, gc " +
        f"${ss.map(_.gcMs).sum}%d ms, spill ${ss.map(_.spillMB).sum}%.1f MB " +
        s"across ${ss.size} stages")
    }
    spark.stop()
  }
}
