package graft

/** Smoke main mirroring the driver's t1 gate: SparkEntry.entry must return
  * rows > 0 on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession("4")
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, truncate = false)
    // streaming surface over the real (nanos-timestamped) fixture events
    val hourly = graft.streaming.Streams.runHourlyOnce(
      spark, "/root/testdata/sf0.001", nanosTs = true)
    println("STREAM_ROWS=" + hourly.count())
    hourly.orderBy("hour_start", "event_type").show(3)
    spark.stop()
  }
}
