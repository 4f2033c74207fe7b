package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface — net-new relative to the reference (a
  * strictly monthly batch, SURVEY §2.9); preserves its semantics of
  * idempotent incremental windows and late-data tolerance via watermarks.
  *
  * The same transform functions run in batch mode (DataQueries.t10 is the
  * batch twin of [[hourlyRollup]]) — write once, run either way.
  */
object Streams {

  /** Shared sentinel identity for null keys in the monitors (the s13
    * rule: a null-spewing producer is exactly the storm shape the
    * monitors exist to flag, so its rows must COUNT, folded to one
    * identity). Leads with U+0000 so no real string key collides;
    * written as the escape — a raw NUL byte in source makes git treat
    * the file as binary and hides its diffs (round-10 advice). */
  val NullKeySentinel: String = "\u0000null"

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Event schema variant for sources written with TIMESTAMP(NANOS): the
    * reader surfaces ts as a nanos long (spark.sql.legacy.parquet
    * .nanosAsLong) and we convert back to a timestamp. */
  val eventSchemaNanos: StructType = StructType(
    eventSchema.map(f => if (f.name == "ts") f.copy(dataType = LongType) else f))

  /** File-source stream over a directory of event parquet files. The
    * default glob targets fixture layouts where `events.parquet` is a
    * single file among sibling tables; point `glob` at `*.parquet` for a
    * dedicated directory of part files. Set `nanosTs` when the files carry
    * TIMESTAMP(NANOS) (e.g. the driver fixtures). */
  def eventsStream(spark: SparkSession, dir: String,
                   glob: String = "events*.parquet",
                   nanosTs: Boolean = false): DataFrame = {
    val raw = spark.readStream
      .schema(if (nanosTs) eventSchemaNanos else eventSchema)
      .option("pathGlobFilter", glob)
      .parquet(dir)
    if (nanosTs) raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }

  /** [[eventsStream]] with the fixture's physical `ts` type auto-detected
    * from a batch peek at the same path — the exact same three-way
    * normalization as `Tables.events` (driver fixture generations have
    * shipped TIMESTAMP(NANOS) → nanos long under nanosAsLong, and
    * TIMESTAMP(MICROS) with no timezone → TIMESTAMP_NTZ): whatever the
    * files carry, downstream watermark/window code sees TIMESTAMP. The
    * peek reads footer metadata only, not data. */
  def eventsStreamAuto(spark: SparkSession, dir: String,
                       glob: String = "events*.parquet"): DataFrame =
    spark.read.option("pathGlobFilter", glob).parquet(dir)
      .schema("ts").dataType match {
      case LongType => eventsStream(spark, dir, glob, nanosTs = true)
      case TimestampNTZType =>
        spark.readStream
          .schema(StructType(eventSchema.map(f =>
            if (f.name == "ts") f.copy(dataType = TimestampNTZType) else f)))
          .option("pathGlobFilter", glob).parquet(dir)
          .withColumn("ts", col("ts").cast(TimestampType))
      case _ => eventsStream(spark, dir, glob)
    }

  /** Paced file-source stream over a directory of NORMALIZED event
    * parquet files (as written by `Tables.exportedEventsParts` — ts is a
    * genuine TIMESTAMP, no nanos/NTZ variants): `filesPerTrigger` files
    * per microbatch, so an AvailableNow run executes
    * ceil(files/filesPerTrigger) batches instead of one ingest batch —
    * the steady-state shape the s03 bench measures. */
  def eventsStreamPaced(spark: SparkSession, dir: String,
                        filesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(dir)

  /** Document schema for the paced corpus stream (matches the documents
    * fixture / `Tables.exportedDocsParts` layout). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Paced file-source stream over a directory of document parquet parts
    * (as written by `Tables.exportedDocsParts`): `filesPerTrigger` files
    * per microbatch — the ingest shape the s04 quality gate screens. */
  def docsStreamPaced(spark: SparkSession, dir: String,
                      filesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(dir)

  /** Embedding schema for the paced ingest stream (matches the
    * embeddings fixture / `Tables.exportedEmbsParts` layout). */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Paced file-source stream over a directory of embedding parquet
    * parts (as written by `Tables.exportedEmbsParts`): `filesPerTrigger`
    * files per microbatch — the ingest shape the s07 semantic gate
    * screens. */
  def embsStreamPaced(spark: SparkSession, dir: String,
                      filesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(embSchema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(dir)

  /** The one per-microbatch wiring every gate and monitor below starts
    * through: each microbatch of `source` goes through `step` into
    * `sink`, under AvailableNow (bounded input, then stop). Returns the
    * started query so the caller owns termination — a spec awaits it,
    * the bench's capped runner stops it at its deadline. */
  private def startPerBatch(source: DataFrame, sink: DataFrame => Unit,
                            outputMode: String = "append")(
      step: DataFrame => DataFrame): StreamingQuery =
    source.writeStream
      .outputMode(outputMode)
      .foreachBatch { (batch: DataFrame, _: Long) => sink(step(batch)) }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming cardinality monitor — the HyperLogLog sketch run as a
    * per-key running aggregate: per event type, row count and the
    * approximate distinct-user estimate ([[graft.ops.Stats.hllDistinctBy]],
    * p = 9 → 512 ints of state per key FOREVER, no matter how many users
    * stream past — the bounded-state form of streaming count-distinct,
    * which an exact distinct aggregation cannot provide). `alarm` fires
    * when distinct users sink under `minDistinct` (a stuck producer
    * replaying one user) or when rows-per-distinct-user exceeds
    * `maxRepeatFactor` (a bot flood / replay storm). Write-once: complete
    * mode on a stream (s13), plain aggregate on a batch frame — the paced
    * stream's final frame must equal the batch answer
    * (StreamingSpec-pinned). */
  def cardinalityMonitor(events: DataFrame, minDistinct: Double = 5.0,
                         maxRepeatFactor: Double = 500.0): DataFrame =
    // null user_ids fold to ONE sentinel identity instead of being
    // dropped: a broken producer emitting null users is exactly the
    // replay-storm shape this monitor exists to flag, so its rows must
    // count in n_rows AND crush est_distinct toward 1 (review finding:
    // hllDistinctBy's count(distinct) null semantics would silently
    // hide such a producer from both alarms)
    graft.ops.Stats.hllDistinctBy(events, Seq("event_type"),
        coalesce(col("user_id").cast("string"), lit(NullKeySentinel)), p = 9)
      .select(col("event_type"), col("n_rows"), col("est_distinct"),
        (col("est_distinct") < minDistinct ||
          col("n_rows").cast("double") / col("est_distinct") >
            maxRepeatFactor).as("alarm"))

  /** Streaming item-frequency grid — the Count-Min sketch
    * ([[graft.ops.Stats.cmsSketchBy]]) as the ONE stateful aggregation a
    * stream allows: per event type, a depth × width grid of exact
    * counters whose state is ≤ depth·width rows per type FOREVER, no
    * matter how many distinct items stream past. The point of the
    * sketch over a per-watched-item count: the state doesn't know the
    * watch list — ANY item can be probed after the fact (a bot id
    * discovered on Tuesday queries Monday's state), and grids persisted
    * per window merge by summing cells. Complete mode; estimates are a
    * downstream batch step on the aggregate-sized grid (streaming
    * forbids the probe's second aggregate) — [[startFrequencyMonitor]]
    * wires it per trigger. Null items fold to one sentinel identity
    * (the s13 rule: a null-spewing producer is exactly the storm shape
    * this exists to flag). Write-once: same function on a batch frame
    * must equal the paced stream's final grid (StreamingSpec-pinned). */
  def frequencyGrid(events: DataFrame, depth: Int = 4,
                    width: Int = 1024): DataFrame =
    graft.ops.Stats.cmsSketchBy(events, Seq("event_type"),
      coalesce(col("user_id").cast("string"), lit(NullKeySentinel)),
      depth = depth, width = width)

  /** Drive [[frequencyGrid]] over a paced event-part directory and probe
    * the `watch` list against each trigger's full grid (complete mode →
    * foreachBatch receives the aggregate-sized state): `sink` gets
    * (event_type, probe, est_count, alarm) rows, alarm =
    * est_count > maxCount — the replay-storm / bot-flood per-item gate.
    * The estimate NEVER undercounts (CMS guarantee), so an alarm can
    * only be early, never missed, at any width. Returns the started
    * query; the caller owns termination. */
  def startFrequencyMonitor(spark: SparkSession, dir: String,
                            watch: DataFrame, maxCount: Long,
                            sink: DataFrame => Unit,
                            filesPerTrigger: Int = 1,
                            depth: Int = 4, width: Int = 1024)
      : StreamingQuery =
    startPerBatch(frequencyGrid(eventsStreamPaced(spark, dir,
        filesPerTrigger), depth, width), sink, "complete")(grid =>
      graft.ops.Stats.cmsEstimate(grid, watch, Seq("event_type"), depth,
          width)
        .withColumn("alarm", col("est_count") > maxCount))

  /** [[frequencyGrid]] with exponential decay
    * ([[graft.ops.Stats.cmsDecayedSketchBy]]): the long-running form of
    * s16 — a monitor that runs for months wants last week's bot flood
    * to stop alarming without keeping one grid per window and composing
    * them. Cells hold forward-weighted 2^halfLifeBucket mass as exact
    * decimals, so state stays ≤ depth·width rows per type forever,
    * microbatch order cannot change a cell, and paced == batch EXACTLY
    * (StreamingSpec-pinned). One epoch covers 88 half-lives; re-anchor
    * t0 beyond that (the sketch's documented contract). */
  def decayedFrequencyGrid(events: DataFrame, t0Micros: Long,
                           halfLifeSeconds: Long, depth: Int = 4,
                           width: Int = 1024): DataFrame =
    graft.ops.Stats.cmsDecayedSketchBy(events, Seq("event_type"),
      coalesce(col("user_id").cast("string"), lit(NullKeySentinel)),
      col("ts"), t0Micros, halfLifeSeconds, depth = depth, width = width)

  /** Drive [[decayedFrequencyGrid]] over a paced event-part directory —
    * the s16 wiring with age-discounted estimates: `sink` gets
    * (event_type, probe, est_decayed, alarm) per trigger, alarm =
    * est_decayed > maxDecayed as of `asOfMicros`. Returns the started
    * query (the bench's capped runner owns termination). */
  def startDecayedFrequencyMonitor(spark: SparkSession, dir: String,
                                   watch: DataFrame, maxDecayed: Double,
                                   t0Micros: Long, halfLifeSeconds: Long,
                                   asOfMicros: Long,
                                   sink: DataFrame => Unit,
                                   filesPerTrigger: Int = 1,
                                   depth: Int = 4, width: Int = 1024)
      : StreamingQuery =
    startPerBatch(decayedFrequencyGrid(eventsStreamPaced(spark, dir,
        filesPerTrigger), t0Micros, halfLifeSeconds, depth, width), sink,
        "complete")(grid =>
      graft.ops.Stats.cmsDecayedEstimate(grid, watch, Seq("event_type"),
          asOfMicros, t0Micros, halfLifeSeconds, depth, width)
        .withColumn("alarm", col("est_decayed") > maxDecayed))

  /** [[cardinalityMonitor]]'s sketch under epoch slicing
    * ([[graft.ops.Stats.hllEpochSketchBy]]) — the long-running form of
    * s13: its all-time registers can never forget, so a month-old
    * cardinality storm alarms forever; slicing one register set per
    * half-life epoch lets [[graft.ops.Stats.hllDecayedDistinct]] weight
    * each user by the recency of their LAST event at read time. One
    * stateful aggregation, ≤ 88 epochs × 2^p ints per event type
    * forever (re-anchor past the horizon — the s19 contract); register
    * merges are maxima, so paced == batch EXACTLY
    * (StreamingSpec-pinned). Null users fold to the s13 sentinel. */
  def epochCardinalityGrid(events: DataFrame, t0Micros: Long,
                           halfLifeSeconds: Long, p: Int = 9): DataFrame =
    graft.ops.Stats.hllEpochSketchBy(events, Seq("event_type"),
      coalesce(col("user_id").cast("string"), lit(NullKeySentinel)),
      col("ts"), t0Micros, halfLifeSeconds, p)

  /** Drive [[epochCardinalityGrid]] over a paced event-part directory —
    * the s13 wiring with recency-weighted estimates: `sink` gets
    * (event_type, n_epochs, rows_decayed, est_decayed, alarm) per
    * trigger. Alarm semantics are s13's storm shape under decay:
    * within active traffic (`rows_decayed >= activityFloor` — a type
    * whose mass has decayed away is idle, not stuck), fire when the
    * decayed distinct count sinks under `minDistinct` (stuck producer
    * replaying one user) or decayed rows-per-distinct-user exceeds
    * `maxRepeatFactor` (bot flood). A month-old storm's row mass has
    * halved ~30 times, so it falls under the floor and un-alarms while
    * an identical fresh storm still fires — exactly what s13's
    * all-time registers cannot do (s20, StreamingSpec-pinned).
    *
    * `asOfMicros = None` (the long-running deployment default) reads
    * each trigger "as of the newest data": the as-of epoch is the
    * grid's max present epoch, so the latest events weigh 1 and the
    * monitor keeps running as the stream advances. A FIXED Some(asOf)
    * is the replayable form the spec and bench pin — but a fixed
    * as-of would make hllDecayedDistinct fail loud (by contract) on
    * the first event past it, killing the query on healthy traffic
    * (review finding), so fixed is for bounded replays only. */
  def startDecayedCardinalityMonitor(spark: SparkSession, dir: String,
                                     minDistinct: Double,
                                     maxRepeatFactor: Double,
                                     activityFloor: Double,
                                     t0Micros: Long, halfLifeSeconds: Long,
                                     asOfMicros: Option[Long],
                                     sink: DataFrame => Unit,
                                     filesPerTrigger: Int = 1, p: Int = 9)
      : StreamingQuery =
    startPerBatch(epochCardinalityGrid(eventsStreamPaced(spark, dir,
        filesPerTrigger), t0Micros, halfLifeSeconds, p), sink,
        "complete") { grid =>
      val asOf = asOfMicros.getOrElse {
        // aggregate-sized grid; an all-null max (no data yet) reads
        // as-of t0 — the estimate frame is empty then anyway
        val maxEpoch = grid.agg(max(col("epoch"))).first()
        t0Micros + (if (maxEpoch.isNullAt(0)) 0L
                    else maxEpoch.getLong(0)) *
          halfLifeSeconds * 1000000L
      }
      graft.ops.Stats.hllDecayedDistinct(grid, Seq("event_type"), asOf,
          t0Micros, halfLifeSeconds, p)
        // double /0 is Infinity (not an error even under ANSI), and
        // Infinity > maxRepeatFactor — a zero-distinct active type
        // alarms through either arm, as it should
        .withColumn("alarm", col("rows_decayed") >= activityFloor &&
          (col("est_decayed") < minDistinct ||
            col("rows_decayed") / col("est_decayed") > maxRepeatFactor))
    }

  /** Streaming length-drift gate — sampled token-count quantiles per
    * source at ingest: a [[graft.functions.KMinPairs]] bottom-k-by-hash
    * sample (ONE stateful aggregation: quantiles then interpolate as a
    * pure expression via [[graft.ops.Stats.quantileOfArray]], because
    * Structured Streaming forbids a second aggregate) with an `alarm`
    * when the median token count sinks under `minP50` — the truncated-
    * scrape / boilerplate-flood signal a mean-based monitor misses.
    * State per source is ≤ k (hash, count) pairs forever; the sample is
    * hash-deterministic, so paced == batch EXACTLY under any microbatch
    * split (order-free set algebra — StreamingSpec-pinned). Write-once:
    * complete mode on a stream (s14), plain aggregate on a batch
    * frame. */
  def lengthDriftGate(docs: DataFrame, minP50: Double = 5.0,
                      k: Int = 128): DataFrame = {
    import graft.ops.{Stats, TextOps}
    val kmp = org.apache.spark.sql.functions.udaf(
      new graft.functions.KMinPairs(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble))
    // ingest-robustness gate ⇒ it must survive malformed rows, not die
    // on them (review finding: the non-nullable tuple encoder would
    // kill the query on the first null field): a null text counts as
    // ZERO tokens — a truncated scrape SHOULD drag the median down —
    // and the rare null doc_id samples under one shared sentinel key
    docs
      .filter(col("source").isNotNull)
      .select(col("source"),
        Stats.hash60(coalesce(col("doc_id").cast("string"),
          lit(NullKeySentinel))).as("__h"),
        coalesce(TextOps.tokenCount(col("text")).cast("double"), lit(0.0))
          .as("__t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        kmp(col("__h"), col("__t")).as("__sample"))
      .select(col("source"), col("n_docs"),
        size(col("__sample")).cast("long").as("n_sample"),
        round(Stats.quantileOfArray(col("__sample"), 0.5), 4).as("p50_tokens"),
        round(Stats.quantileOfArray(col("__sample"), 0.9), 4).as("p90_tokens"))
      .withColumn("alarm", col("p50_tokens") < minP50)
  }

  /** Streaming ingest quality gate: per-source document counts, the
    * decimal-exact mean quality score, total PII matches, and an `alarm`
    * flag when mean quality sinks under `minQuality` or PII incidence
    * passes `maxPiiPerKDocs` per thousand documents — the ingest-time
    * twin of the batch corpus screens (TextOps.documentStats /
    * scrubPii). Stateless projection + running aggregate: on a stream
    * the per-source state is one row per source (run in complete mode —
    * s04); on a batch frame it is the plain aggregate, so the paced
    * stream's final frame must equal the batch answer
    * (StreamingSpec-pinned). */
  def qualityScreen(docs: DataFrame, minQuality: Double = 0.3,
                    maxPiiPerKDocs: Double = 50.0,
                    thresholds: Option[DataFrame] = None): DataFrame = {
    import graft.ops.TextOps
    val agg = docs
      .select(col("source"),
        TextOps.qualityScore(col("text")).as("__q"),
        TextOps.piiCount(col("text")).as("__pii"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("__q").cast("decimal(18,4)")).cast("double") /
          count(lit(1))).as("__mq"),
        sum(col("__pii")).as("n_pii"))
    // per-source overrides ride a broadcast stream-static join (a
    // deployment would load them from a config table); sources without
    // an override fall back to the global knobs
    val withKnobs = thresholds match {
      case Some(t) => agg.join(
        broadcast(t.select(col("source"),
          col("min_quality").as("__min_q"),
          col("max_pii_per_k").as("__max_pii"))),
        Seq("source"), "left")
      case None => agg.withColumn("__min_q", lit(null).cast("double"))
        .withColumn("__max_pii", lit(null).cast("double"))
    }
    withKnobs.select(col("source"), col("n_docs"),
      round(col("__mq"), 4).as("mean_quality"), col("n_pii"),
      (col("__mq") < coalesce(col("__min_q"), lit(minQuality)) ||
        col("n_pii") * lit(1000.0) / col("n_docs") >
          coalesce(col("__max_pii"), lit(maxPiiPerKDocs)))
        .as("alarm"))
  }

  /** Per-source reference profile for [[driftMonitor]]: decimal-exact
    * mean quality score and mean token count over a reference corpus —
    * the frozen distribution snapshot ingest is later compared against.
    * Tiny (one row per source): meant to be broadcast. */
  def referenceProfile(docs: DataFrame): DataFrame = {
    import graft.ops.TextOps
    docs.select(col("source"),
        TextOps.qualityScore(col("text")).as("__q"),
        TextOps.tokenCount(col("text")).as("__t"))
      .groupBy(col("source"))
      .agg((sum(col("__q").cast("decimal(18,4)")).cast("double") /
          count(lit(1))).as("ref_quality"),
        (sum(col("__t")).cast("double") / count(lit(1)))
          .as("ref_tokens"))
  }

  /** Distribution-drift monitor — the s04 quality gate generalized from
    * absolute levels to drift against a frozen [[referenceProfile]]:
    * running per-source mean quality and mean token count, flagged when
    * either rounded mean moves more than its tolerance from the
    * reference, or when the source is ABSENT from the profile (a brand
    * new source is always drift — there is nothing to compare against).
    * Stateless projection + running aggregate: complete mode on a
    * stream (one state row per source — s06), plain aggregate on a
    * batch frame, so the paced stream's final frame must equal the
    * batch answer (StreamingSpec-pinned); the batch shape is the t50
    * oracle. Comparisons use the round-4 means, so an external engine
    * replays the flag exactly. */
  def driftMonitor(docs: DataFrame, profile: DataFrame,
                   qualityTol: Double = 0.05,
                   tokensTol: Double = 20.0): DataFrame = {
    import graft.ops.TextOps
    val mq = round(sum(col("__q").cast("decimal(18,4)")).cast("double") /
      count(lit(1)), 4)
    val mt = round(sum(col("__t")).cast("double") / count(lit(1)), 4)
    docs.select(col("source"),
        TextOps.qualityScore(col("text")).as("__q"),
        TextOps.tokenCount(col("text")).as("__t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), mq.as("mean_quality"),
        mt.as("mean_tokens"))
      .join(broadcast(profile), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("mean_quality"),
        col("mean_tokens"),
        (col("ref_quality").isNull ||
          abs(col("mean_quality") - round(col("ref_quality"), 4)) >
            qualityTol ||
          abs(col("mean_tokens") - round(col("ref_tokens"), 4)) >
            tokensTol).cast("long").as("drift"))
  }

  /** At-least-once ingest dedup: drop event_id replays while BOUNDING the
    * dedup state with the watermark — a replay arriving within the
    * watermark horizon is suppressed, and state for ids older than the
    * watermark is evicted (`dropDuplicatesWithinWatermark`), so state size
    * tracks the horizon instead of growing with the stream. Batch frames
    * take the plain exact dedup on the same key. */
  def dedupEvents(events: DataFrame,
                  watermark: String = "2 hours"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** Tumbling 1-hour rollup with a late-data watermark; in append mode a
    * window finalizes once the watermark passes window end. Works on both
    * streaming and batch frames. */
  def hourlyRollup(events: DataFrame,
                   watermark: String = "2 hours"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Sliding-window per-user activity (10 min windows every 5 min). */
  def slidingUserActivity(events: DataFrame,
                          watermark: String = "30 minutes"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("user_id"),
        col("n_events"))
  }

  /** Session-window rollup — 30-min inactivity gap, native
    * `session_window` (dynamic gap windows merge as events arrive; batch
    * and streaming share the plan). Output bounds as epoch micros: exact
    * cross-engine values, no timestamp comparison pitfalls. */
  def sessionRollup(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"), col("sum_value"))
  }

  /** One closed user session from the custom-state sessionizer. */
  case class UserSession(user_id: Long, session_start_us: Long,
                         session_end_us: Long, n_events: Long)

  /** Custom-state sessionization via `flatMapGroupsWithState` — the
    * KeyValueGroupedDataset state API for semantics `session_window` can't
    * express (per-session open state, explicit event-time timeouts).
    * Sessions close when a later event arrives past the gap, or when the
    * watermark passes last-event + gap (EventTimeTimeout); the open tail
    * session stays in state until then. Emits end = last + gap, matching
    * session_window bounds. */
  def sessionizeWithState(events: DataFrame, gapMs: Long = 30L * 60 * 1000,
                          watermark: String = "2 hours")
      : org.apache.spark.sql.Dataset[UserSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    // open session state: (startMs, lastMs, n)
    def flush(uid: Long, st: (Long, Long, Long)): UserSession =
      UserSession(uid, st._1 * 1000L, (st._2 + gapMs) * 1000L, st._3)
    events.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[(Long, Long, Long)]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // watermark passed last+gap: the open session is final
            val out = state.getOption.map(flush(uid, _)).toList
            state.remove()
            out.iterator
          } else {
            // one microbatch's events for this user, oldest first; close a
            // session whenever the next event starts past the gap
            val ts = rows.map(_._2.getTime).toArray.sorted
            var closed = List.empty[UserSession]
            var st = state.getOption.getOrElse((ts.head, ts.head, 0L))
            ts.foreach { t =>
              st = if (t - st._2 >= gapMs) {
                closed ::= flush(uid, st); (t, t, 1L)
              } else (st._1, math.max(st._2, t), st._3 + 1)
            }
            state.update(st)
            state.setTimeoutTimestamp(st._2 + gapMs)
            closed.reverse.iterator
          }
      }
  }

  /** One user's funnel progress from [[funnelWithState]]: stage
    * timestamps in micros (-1 = not reached) + depth. */
  case class FunnelProgress(user_id: Long, stage_us: Seq[Long],
                            stages_reached: Int)

  /** Streaming funnel state: the folded chain so far + events still
    * inside the watermark horizon (not yet safe to fold). */
  case class FunnelState(chain: Seq[Long], buf: Seq[(Long, String)])

  /** Streaming funnel — `Temporal.funnel`'s stream twin, OUT-OF-ORDER
    * tolerant (the reason a naive monotone state update is wrong: a
    * view arriving before its signup would be discarded forever, where
    * the batch funnel counts it). Discipline: events BUFFER in state
    * until the watermark passes them — only then can no earlier event
    * still arrive (Spark drops later-than-watermark stragglers) — and
    * fold into the chain in event-time order, which reproduces the
    * batch recursion exactly (stage k = first event of its type
    * strictly after stage k-1; same-ts never counts, so fold tie-order
    * is irrelevant). Emits a user's progress whenever folding advances
    * the chain (Update semantics). State per user = n chain slots +
    * the events inside the watermark horizon — bounded by rate x
    * delay, the honest cost of exactness under disorder.
    * StreamingSpec proves the out-of-order case against the batch
    * funnel; a far-future sentinel event advances the watermark so
    * EventTimeTimeout folds the tails (the sessionizer flush
    * discipline). */
  def funnelWithState(events: DataFrame, stages: Seq[String],
                      watermark: String = "60 days")
      : org.apache.spark.sql.Dataset[FunnelProgress] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val n = stages.size
    require(n >= 1, "funnelWithState needs at least one stage")
    // the batch recursion over time-sorted events: one event advances
    // at most one stage (chain(k-1) < us is strict, so an event that
    // just set stage k-1 can never also set stage k)
    def fold(chain: Array[Long], evs: Seq[(Long, String)]): Array[Long] = {
      evs.sortBy(e => (e._1, e._2)).foreach { case (us, tp) =>
        var k = 0
        while (k < n) {
          if (chain(k) == -1L && stages(k) == tp &&
              (k == 0 || (chain(k - 1) != -1L && chain(k - 1) < us)))
            chain(k) = us
          k += 1
        }
      }
      chain
    }
    // exact micros from the Timestamp (getTime floors to millis; the
    // nanos field carries the sub-second part) — matches unix_micros
    def us(t: java.sql.Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    // the watermarked column itself must reach the grouping (event-time
    // timeout requires it) — convert to micros inside the function
    events.withWatermark("ts", watermark)
      .filter(col("event_type").isin(stages.distinct: _*))
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[FunnelState]) =>
          val st = state.getOption.getOrElse(
            FunnelState(Seq.fill(n)(-1L), Nil))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // strictly-before-watermark events are final: nothing earlier
          // can arrive anymore (it would be dropped as late)
          val (ready, hold) = (st.buf ++ rows.map(r => (us(r._2), r._3)))
            .partition(_._1 < wmUs)
          val chain = fold(st.chain.toArray, ready)
          state.update(FunnelState(chain.toSeq, hold))
          if (hold.nonEmpty) {
            // wake when the watermark passes the oldest held event
            val t = hold.map(_._1).min / 1000L + 1L
            state.setTimeoutTimestamp(math.max(t,
              state.getCurrentWatermarkMs() + 1L))
          }
          if (chain.toSeq != st.chain)
            Iterator(FunnelProgress(uid, chain.toSeq,
              chain.count(_ != -1L)))
          else Iterator.empty
      }
  }

  /** One emitted transition from [[transitionsWithState]]. */
  case class Transition(user_id: Long, prev_type: String,
                        next_type: String, at_us: Long)

  /** Transition state: the last FOLDED event + events still inside the
    * watermark horizon (not yet safe to pair). */
  case class TransState(last: Option[(Long, Long, String)],
                        buf: Seq[(Long, Long, String)])

  /** Streaming transition extraction — [[graft.ops.Temporal
    * .transitionMatrix]]'s pair stage at ingest, OUT-OF-ORDER tolerant
    * via the s15 discipline: events buffer in state until the watermark
    * passes them (only then can nothing earlier arrive), then pair in
    * event-time order (ties by event id — the batch total order), each
    * next event pairing with the last folded one ACROSS microbatch and
    * watermark boundaries. A naive lag-per-microbatch both loses the
    * cross-batch pair and miscounts under disorder; this emits exactly
    * the batch lag pairs (StreamingSpec-pinned). Downstream a
    * foreachBatch consumer folds pairs into the (prev, next) grid —
    * the transition-drift companion to s13/s16's gates. State per user
    * = ONE last event + the events inside the watermark horizon
    * (bounded by rate × delay, the honest cost of exactness under
    * disorder). */
  def transitionsWithState(events: DataFrame,
                           watermark: String = "60 days")
      : org.apache.spark.sql.Dataset[Transition] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    def us(t: java.sql.Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    events.withWatermark("ts", watermark)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[TransState]) =>
          val st = state.getOption.getOrElse(TransState(None, Nil))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ready, hold) =
            (st.buf ++ rows.map(r => (us(r._2), r._3, r._4)))
              .partition(_._1 < wmUs)
          var last = st.last
          val out = List.newBuilder[Transition]
          ready.sortBy(e => (e._1, e._2)).foreach { e =>
            last.foreach(p => out += Transition(uid, p._3, e._3, e._1))
            last = Some(e)
          }
          state.update(TransState(last, hold))
          if (hold.nonEmpty) {
            val t = hold.map(_._1).min / 1000L + 1L
            state.setTimeoutTimestamp(math.max(t,
              state.getCurrentWatermarkMs() + 1L))
          }
          out.result().iterator
      }
  }

  /** Row-normalized probabilities over a (prev_type, next_type,
    * n_transitions) count grid — [[graft.ops.Temporal.transitionMatrix]]'s
    * probability arithmetic (exact integer counts divided, round 6)
    * applied to an externally folded grid, so a per-batch fold and the
    * batch operator produce the IDENTICAL frame on the same pairs. */
  def transitionGridProbs(counts: DataFrame): DataFrame =
    counts.withColumn("prob",
      round(col("n_transitions").cast("double") /
        sum(col("n_transitions")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("prev_type"))).cast("double"), 6))

  /** Transition-probability drift gate — the s06 drift discipline on
    * t108's behavior statistics: an observed transition matrix
    * ([[graft.ops.Temporal.transitionMatrix]] on a batch frame, or the
    * running grid [[startTransitionDriftMonitor]] folds) compared
    * against a FROZEN `baseline` matrix. A (prev, next) pair drifts
    * when its probability moves more than `tol` from the baseline's,
    * or when the pair is ABSENT from the baseline — a brand-new
    * transition is always drift (the s06 new-source rule). Pairs the
    * baseline has but the observation lacks don't alarm here (early
    * grids legitimately cover few pairs; run the comparison the other
    * way for a disappearance audit). Both sides compare at round-6, so
    * an external engine replays every flag. Baseline is
    * aggregate-sized (≤ |event types|²) — broadcast. */
  def transitionDrift(observed: DataFrame, baseline: DataFrame,
                      tol: Double = 0.1): DataFrame =
    observed.join(broadcast(baseline.select(col("prev_type"),
        col("next_type"), col("prob").as("ref_prob"))),
        Seq("prev_type", "next_type"), "left")
      .select(col("prev_type"), col("next_type"), col("n_transitions"),
        col("prob"), col("ref_prob"),
        (col("ref_prob").isNull ||
          abs(col("prob") - col("ref_prob")) > tol).cast("long")
          .as("drift"))

  /** Drive [[transitionsWithState]] over a paced event-part directory
    * and alarm transition-probability drift per trigger (s18): each
    * microbatch's emitted pairs fold into a RUNNING (prev, next) count
    * grid (aggregate-sized — ≤ |event types|² rows — localCheckpointed
    * per trigger, the upsert-sink discipline), and `sink` receives the
    * grid's [[transitionDrift]] frame against the frozen `baseline`.
    * Because [[transitionsWithState]] emits exactly the batch lag
    * pairs under any microbatch split and admitted disorder (s17), the
    * final grid equals [[graft.ops.Temporal.transitionMatrix]] on the
    * same events and the final drift frame equals the batch gate —
    * StreamingSpec pins that parity. State: the watermark-bounded
    * buffer inside the pair extractor plus the grid, both bounded.
    * The grid lives in this run's memory (localCheckpoint): a
    * deployment that must survive driver restarts folds each batch
    * into a parquet grid through [[runUpsertOnce]]'s atomic-publish
    * discipline instead — the drift comparison is unchanged. */
  def startTransitionDriftMonitor(spark: SparkSession, dir: String,
                                  baseline: DataFrame, tol: Double = 0.1,
                                  sink: DataFrame => Unit,
                                  filesPerTrigger: Int = 1,
                                  watermark: String = "60 days")
      : StreamingQuery = {
    var grid: Option[DataFrame] = None
    startPerBatch(transitionsWithState(
        eventsStreamPaced(spark, dir, filesPerTrigger), watermark).toDF(),
        sink) { b =>
      val delta = b.groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n_transitions"))
      val next = grid.fold(delta)(g =>
        g.unionByName(delta)
          .groupBy(col("prev_type"), col("next_type"))
          .agg(sum(col("n_transitions")).as("n_transitions")))
        .localCheckpoint()
      grid = Some(next)
      transitionDrift(transitionGridProbs(next), baseline, tol)
    }
  }

  /** Stream-stream interval join: purchases attributed to the clicks of
    * the same user within the preceding `horizon`. Both sides carry a
    * watermark and the join condition bounds click_ts to
    * [purchase_ts - horizon, purchase_ts], so Spark can expire join state
    * on both sides — the state-bounded form a 100 TB event stream needs
    * (an unbounded-condition stream-stream join grows state forever).
    * Works on batch frames too (same plan, no watermark). Emits one row
    * per (purchase, candidate click); pick-latest is a downstream concern
    * (see DataQueries.t20 for the batch formulation with the rank). */
  /** `joinType` "inner" (default) or "left_outer": the outer form emits a
    * purchase with NULL click columns once the watermark passes its horizon
    * and no click matched — streaming left-outer results are withheld until
    * state for the row can no longer match (a batch frame emits them
    * immediately; values are identical on bounded input). */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      horizon: String = "1 hour",
                      watermark: String = "2 hours",
                      joinType: String = "inner"): DataFrame = {
    def wm(df: DataFrame) =
      if (df.isStreaming) df.withWatermark("ts", watermark) else df
    val c = wm(clicks).select(col("event_id").as("click_id"),
      col("user_id").as("__cuser"), col("ts").as("click_ts"))
    val p = wm(purchases).select(col("event_id").as("purchase_id"),
      col("user_id"), col("ts").as("purchase_ts"),
      col("value").as("purchase_value"))
    p.join(c,
      col("user_id") === col("__cuser") &&
      col("click_ts") <= col("purchase_ts") &&
      col("click_ts") >= col("purchase_ts") - expr(s"interval $horizon"),
      joinType)
      .drop("__cuser")
  }

  /** One microbatch step of the upsert sink: per-user totals of `delta`
    * folded into `target` (full-outer on user_id, counters summed). Pure
    * DataFrame -> DataFrame so batch and foreachBatch share it. */
  def upsertUserTotals(target: DataFrame, delta: DataFrame): DataFrame = {
    val d = delta.groupBy(col("user_id").as("__uid"))
      .agg(count(lit(1)).as("__n"),
        sum(col("value").cast("decimal(18,4)")).as("__sum"))
    target.join(d, col("user_id") === col("__uid"), "full_outer")
      .select(
        coalesce(col("user_id"), col("__uid")).as("user_id"),
        (coalesce(col("n_events"), lit(0L)) +
          coalesce(col("__n"), lit(0L))).as("n_events"),
        (coalesce(col("sum_value"), lit(java.math.BigDecimal.ZERO)
            .cast("decimal(18,4)")) +
          coalesce(col("__sum"), lit(java.math.BigDecimal.ZERO)
            .cast("decimal(18,4)"))).cast("decimal(18,4)").as("sum_value"))
  }

  /** foreachBatch upsert sink: stream events into a parquet "table" that
    * holds running per-user totals — the MERGE-into-warehouse idiom the
    * reference runs monthly, incrementalized. Each microbatch reads the
    * current target, folds the batch in ([[upsertUserTotals]]), and
    * republishes through [[graft.etl.Publish]]'s stage-then-atomic-swap,
    * so a crashed batch never leaves a half-written table. Returns the
    * final target. (At warehouse scale the rewrite would target only
    * changed partitions; the publish protocol is the part that carries.) */
  def runUpsertOnce(spark: SparkSession, dir: String, targetRoot: String,
                    glob: String = "events*.parquet",
                    nanosTs: Boolean = false): DataFrame = {
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("n_events", LongType),
      StructField("sum_value", DecimalType(18, 4))))
    def readTarget(): DataFrame = {
      val p = new java.io.File(s"$targetRoot/user_totals")
      if (p.exists()) spark.read.parquet(p.toString)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    val q = eventsStream(spark, dir, glob, nanosTs)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val merged = upsertUserTotals(readTarget(), batch)
        graft.etl.Publish
          .publishAll(targetRoot, Map("user_totals" -> merged)).get
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    readTarget()
  }

  /** Partition-scoped upsert sink — the form [[runUpsertOnce]] must take at
    * warehouse scale: the target is a month=yyyyMM-partitioned parquet
    * table of per-(user, month) totals, and each microbatch rewrites ONLY
    * the partitions its events touch. Read side prunes to the touched
    * months (PartitionFilters), write side uses dynamic partition
    * overwrite, so a batch covering one month of a 10-year table moves
    * 1/120th of it. The merged frame is localCheckpointed before the
    * write — the overwrite targets the same directories the merge reads,
    * and the eager materialization both avoids the self-overwrite
    * rejection and pins the pre-write state. The per-partition commit is
    * Spark's usual staging protocol (not cross-partition atomic like
    * [[graft.etl.Publish]] — the reference's monthly reruns are idempotent,
    * so a replayed batch converges). */
  def runUpsertByMonthOnce(spark: SparkSession, dir: String,
                           targetRoot: String,
                           glob: String = "events*.parquet",
                           nanosTs: Boolean = false): DataFrame = {
    val tablePath = s"$targetRoot/user_month_totals"
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("n_events", LongType),
      StructField("sum_value", DecimalType(18, 4)),
      StructField("month", IntegerType)))
    def exists = new java.io.File(tablePath).exists()
    def readAll(): DataFrame =
      if (exists) spark.read.parquet(tablePath)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val q = eventsStream(spark, dir, glob, nanosTs)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val delta = batch
          .withColumn("month",
            (expr("year(ts)") * 100 + expr("month(ts)")).cast("int"))
          .groupBy(col("user_id").as("__uid"), col("month").as("__m"))
          .agg(count(lit(1)).as("__n"),
            sum(col("value").cast("decimal(18,4)")).as("__sum"))
        // touched months: bounded by the batch's event-time span (a
        // handful), so the driver-side list is a scalar lookup, not data
        val months = delta.select(col("__m")).distinct()
          .collect().map(_.getInt(0)).toSeq
        if (months.nonEmpty) {
          val current = readAll().filter(col("month").isin(months: _*))
          val merged = current
            .join(delta, col("user_id") === col("__uid") &&
              col("month") === col("__m"), "full_outer")
            .select(
              coalesce(col("user_id"), col("__uid")).as("user_id"),
              (coalesce(col("n_events"), lit(0L)) +
                coalesce(col("__n"), lit(0L))).as("n_events"),
              (coalesce(col("sum_value"),
                  lit(java.math.BigDecimal.ZERO).cast("decimal(18,4)")) +
                coalesce(col("__sum"),
                  lit(java.math.BigDecimal.ZERO).cast("decimal(18,4)")))
                .cast("decimal(18,4)").as("sum_value"),
              coalesce(col("month"), col("__m")).as("month"))
            .localCheckpoint()
          merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("month").parquet(tablePath)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    readAll()
  }

  /** Run the hourly rollup as a one-shot (availableNow) stream into an
    * in-memory table; returns the populated result. Demonstrates the full
    * readStream -> agg -> writeStream path on bounded input. */
  def runHourlyOnce(spark: SparkSession, dir: String,
                    sinkName: String = "hourly_rollup",
                    glob: String = "events*.parquet",
                    nanosTs: Boolean = false): DataFrame = {
    val q = hourlyRollup(eventsStream(spark, dir, glob, nanosTs))
      .writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sinkName)
  }

  /** Streaming near-dup ingest gate — the stream-static twin of the
    * MinHash dedup family: incoming documents are banded per microbatch
    * (native signature kernel) and screened against a STATIC corpus band
    * index ([[graft.ops.Dedup.nearDupIndex]], built once and
    * materialized), each row emerging with an `is_near_dup` flag. Each
    * microbatch goes through the batch gate
    * ([[graft.ops.Dedup.nearDupFlag]]): one map-only band lookup against
    * the index (a checkpointed index is collected on the first batch
    * only; an index past the broadcast threshold takes a band-keyed
    * semi-join), stateless across batches, so the paced stream's union
    * equals the batch gate over the same files (StreamingSpec-pinned;
    * benched as s05). `sink` receives each flagged microbatch (the bench
    * passes a noop writer; a deployment appends to the ingest table). */
  def startNearDupGate(spark: SparkSession, dir: String,
                       index: DataFrame, sink: DataFrame => Unit,
                       filesPerTrigger: Int = 1,
                       bands: Int = 8, rowsPerBand: Int = 4,
                       shingleSize: Int = 3): StreamingQuery =
    startPerBatch(docsStreamPaced(spark, dir, filesPerTrigger), sink)(
      graft.ops.Dedup.nearDupFlag(_, index, bands = bands,
        rowsPerBand = rowsPerBand, shingleSize = shingleSize))

  /** Streaming semantic ingest gate — the s05 discipline applied to the
    * embedding modality: incoming vectors are screened per microbatch
    * against a FROZEN coarse-quantizer index
    * ([[graft.ops.Dedup.semanticIndex]], built once and materialized)
    * with the within-cluster cosine threshold, each row emerging with an
    * `is_semantic_dup` flag. The per-doc flag needs an aggregate over
    * the batch's candidate pairs, so each microbatch goes through the
    * batch gate ([[graft.ops.Dedup.semanticDupFlag]]): one
    * centroid_id-keyed join against the index, stateless across
    * batches, so the paced stream's union equals the batch gate over
    * the same files (StreamingSpec-pinned; benched as s07).
    * `centroids` MUST be the frame `index` was built with. `nprobe > 1`
    * runs the multi-probe gate
    * ([[graft.ops.Dedup.semanticDupFlagProbed]]) — the recall knob for
    * Voronoi-boundary twins, raised without touching the index. */
  def startSemanticGate(spark: SparkSession, dir: String,
                        index: DataFrame, centroids: DataFrame,
                        sink: DataFrame => Unit, tau: Double = 0.99,
                        filesPerTrigger: Int = 1,
                        nprobe: Int = 1): StreamingQuery =
    startPerBatch(embsStreamPaced(spark, dir, filesPerTrigger), sink)(b =>
      if (nprobe > 1)
        graft.ops.Dedup.semanticDupFlagProbed(b, index, centroids, tau,
          nprobe)
      else graft.ops.Dedup.semanticDupFlag(b, index, centroids, tau))

  /** Streaming lexical-decontamination gate — the s05/s07
    * build-once/probe-forever discipline applied to BM25 retrieval:
    * incoming documents are scored per microbatch against a FROZEN
    * benchmark [[graft.ops.TextOps.bm25Index]] (built once from the
    * held-out eval/benchmark corpus and materialized), each row
    * emerging with (bm25_top, is_contaminated) — a deployment drops
    * or quarantines flagged rows at ingest instead of discovering
    * eval leakage after training. Per batch: one term-keyed join of
    * the batch's distinct terms against the postings + one
    * (doc, bench-doc) aggregate + one max
    * ([[graft.ops.TextOps.bm25ScreenFlag]]), stateless across
    * batches, so the paced stream's union equals the batch screen
    * over the same files (StreamingSpec-pinned; benched as s12).
    * `minLen` must match the index build. The flag arithmetic is
    * oracle-gated as t84. */
  def startBm25Gate(spark: SparkSession, dir: String, index: DataFrame,
                    sink: DataFrame => Unit, tau: Double,
                    filesPerTrigger: Int = 1, minLen: Int = 3,
                    exactSums: Boolean = true): StreamingQuery =
    startPerBatch(docsStreamPaced(spark, dir, filesPerTrigger), sink)(
      graft.ops.TextOps.bm25ScreenFlag(_, index, tau, minLen = minLen,
        exactSums = exactSums))

  /** Streaming DSIR ingest gate — the s05/s07 build-once/probe-forever
    * discipline applied to the data-selection model: incoming documents
    * are scored per microbatch against a FROZEN
    * [[graft.ops.TextOps.dsirProfile]] (built once from the raw/target
    * model corpora and materialized), each row emerging with its
    * (n_grams, log_weight) — a deployment thresholds on log_weight to
    * keep target-like documents at ingest. Per batch: one map-only
    * projection ([[graft.ops.TextOps.dsirScore]]) against the profile's
    * terms (collected on the first batch only when the profile is a
    * checkpoint); stateless across batches, so the paced stream's union
    * equals the batch scorer over the same files
    * (StreamingSpec-pinned; benched as s09). (n, buckets, salt) MUST
    * match the profile build or the buckets silently disagree. */
  def startDsirGate(spark: SparkSession, dir: String, profile: DataFrame,
                    sink: DataFrame => Unit, filesPerTrigger: Int = 1,
                    n: Int = 2, buckets: Int = 4096,
                    salt: String = "dsir"): StreamingQuery =
    startPerBatch(docsStreamPaced(spark, dir, filesPerTrigger), sink)(
      graft.ops.TextOps.dsirScore(_, profile, n, buckets, salt))


  /** Composed per-document ingest screen — every doc-modality gate in
    * ONE pass over an incoming frame: per document its quality score
    * and PII count (pure projections), its near-dup flag against the
    * frozen band index ([[graft.ops.Dedup.nearDupFlag]]) and its DSIR
    * log-weight against the frozen bucket profile
    * ([[graft.ops.TextOps.dsirScore]]) — the columns an ingest policy
    * thresholds on, in one frame, so a deployment runs ONE stream
    * instead of three. One output row per input row, so repeated and
    * null ids come through as they went in. Stateless per input frame
    * (both statics are build-once), so paced == batch by construction
    * (StreamingSpec-pinned); each component's arithmetic is separately
    * oracle-gated (t46 family, t01/t37, t66/t67).
    *
    * Scale shape: one Project over `docs`, one native kernel per gate
    * column — no regex, split or band-key chain left in the plan; no
    * join, no shuffle, no per-batch broadcast. Both statics ship once to
    * the executors and the kernels probe them per row; a checkpointed
    * static (`localCheckpoint()`, as the build-once discipline asks) is
    * collected on the first call only, so every later microbatch is one
    * job over its own rows. A band index past
    * `spark.sql.autoBroadcastJoinThreshold` is the exception: the
    * near-dup flag then takes the band-keyed semi-join
    * ([[graft.ops.Dedup.nearDupFlag]]) ahead of the Project. */
  def ingestScreen(docs: DataFrame, bandIndex: DataFrame,
                   dsirProfile: DataFrame,
                   bands: Int = 8, rowsPerBand: Int = 4,
                   shingleSize: Int = 3, n: Int = 2,
                   buckets: Int = 4096,
                   salt: String = "dsir"): DataFrame = {
    import graft.ops.{Dedup, TextOps}
    val text = col("text")
    val (flagged, flag) =
      if (Dedup.lookupFits(bandIndex)) (docs, Dedup.nearDupLookup(text,
        bandIndex, bands, rowsPerBand, shingleSize, md5Keys = false))
      else (Dedup.nearDupFlag(docs, bandIndex, bands = bands,
          rowsPerBand = rowsPerBand, shingleSize = shingleSize),
        col("is_near_dup"))
    flagged.select((docs.columns.map(col) :+ flag.as("is_near_dup")) ++
      TextOps.dsirColumns(text, dsirProfile, n, buckets, salt) :+
      TextOps.qualityScore(text).as("quality") :+
      TextOps.piiCount(text).as("pii"): _*)
  }

  /** Streaming form of [[ingestScreen]] — the s10 bench shape: paced
    * documents screened per microbatch against BOTH frozen statics,
    * each batch emerging with all gate columns at once. Stateless
    * across batches; paced == batch (StreamingSpec). */
  def startIngestScreen(spark: SparkSession, dir: String,
                        bandIndex: DataFrame, dsirProfile: DataFrame,
                        sink: DataFrame => Unit,
                        filesPerTrigger: Int = 1): StreamingQuery =
    startPerBatch(docsStreamPaced(spark, dir, filesPerTrigger), sink)(
      ingestScreen(_, bandIndex, dsirProfile))

  /** Stream-static as-of enrichment — [[graft.ops.Temporal.asofJoin]]
    * applied per microbatch: each paced batch of purchase events is
    * enriched with the most recent same-user `right` row at or before
    * the purchase, from a FROZEN static snapshot (a profile/history
    * table a deployment materializes ahead of the stream). Stateless
    * across batches (the s05 discipline — nothing carried, the static
    * side plays the index role), and per-row results depend only on
    * (row, static), so pacing cannot change them (StreamingSpec pins
    * paced == batch). Each batch plans the t70 shape: no join
    * operator, one hash exchange over batch ∪ static. Benched as
    * s11. */
  def startAsofEnrich(spark: SparkSession, dir: String,
                      right: DataFrame, rightTs: String,
                      payload: Seq[String], tie: String,
                      sink: DataFrame => Unit,
                      tolerance: Option[String] = None,
                      filesPerTrigger: Int = 1): StreamingQuery =
    startPerBatch(eventsStreamPaced(spark, dir, filesPerTrigger)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts")), sink)(
      graft.ops.Temporal.asofJoin(_, right, Seq("user_id"), "ts", rightTs,
        payload, tie, tolerance))

  /** Stream-static RANGE-JOIN enrichment — the s11 as-of discipline on
    * the many-match contract: each paced purchase microbatch joins
    * against a FROZEN frame of incident windows through
    * [[graft.ops.Temporal.rangeJoinBucketed]] (every purchase × every
    * containing window; inner, so out-of-window purchases drop —
    * the alert-correlation shape, not the enrichment one). Stateless
    * across batches; per-row results depend only on (row, static), so
    * pacing cannot change them (StreamingSpec: paced == batch; benched
    * as s21). */
  def startRangeJoin(spark: SparkSession, dir: String,
                     intervals: DataFrame, startTs: String,
                     endTs: String, bucketSeconds: Long,
                     sink: DataFrame => Unit,
                     filesPerTrigger: Int = 1): StreamingQuery =
    startPerBatch(eventsStreamPaced(spark, dir, filesPerTrigger)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts")), sink)(
      graft.ops.Temporal.rangeJoinBucketed(_, intervals, "ts", startTs,
        endTs, bucketSeconds))
}
