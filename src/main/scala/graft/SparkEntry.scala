package graft

import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries live in [[CoreQueries]] (reference-parity operators, SURVEY §2)
  * and [[DataQueries]] (training-data pipeline operators); DuckDB oracle SQL
  * in [[Oracles]].
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The S1 fingerprint pipeline — detail⋈header join, canonical hash,
    * fingerprint-dimension lookup, grouped aggregate. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q07FingerprintPipeline(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.all ++ DataQueries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (LSH/simhash candidate generation, media stubs) → rows-only check. */
  def oracleSql: Map[String, String] = Oracles.all

  /** The gated query or bench-only scale twin named `name`; an unknown
    * or typo'd key fails naming itself, not with a bare
    * NoSuchElementException. */
  def byName(name: String): (SparkSession, String) => DataFrame =
    queries.get(name).orElse(DataQueries.benchOnly.get(name)).getOrElse(
      sys.error(s"unknown key '$name' (not in SparkEntry.queries or " +
        "DataQueries.benchOnly)"))

  /** Entries in Spark's generated-class cache (the static
    * `spark.sql.codegen.cache.maxEntries`, default 100). One Bench pass
    * at sf0.1 compiles 3748 distinct sources; with 100 entries an evicted
    * class is compiled again at its next use, 5750 compiles in all. */
  private final val CodegenCacheEntries = 4096

  /** The one session every main runs on: local[cpus] with as many
    * shuffle partitions, UTC session time, the nanos-as-long read
    * events.parquet's TIMESTAMP(NANOS) needs, no UI, a generated-class
    * cache of [[CodegenCacheEntries]]; `conf` entries apply last. Logs
    * at WARN. */
  def localSession(cpus: String,
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)) { case (b, (k, v)) =>
      b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
