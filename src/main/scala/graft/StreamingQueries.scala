package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.etl.{Tables => T}
import graft.ops.{Dedup, Similarity, Temporal, TextOps}
import graft.streaming.Streams

/** The streaming bench keys (Bench's "streaming_queries", outside the
  * gated total) beside [[DataQueries.benchOnly]]: each entry starts its
  * stream over the fixture at `d` into the noop sink — so the measured
  * cost is the streaming engine, the stateful operators and the
  * per-batch gates, not a sink — and returns the started query. The
  * caller owns termination: Bench's capped runner stops a stream at its
  * deadline, StreamingSpec awaits every entry. Each entry starts the
  * same `Streams` function its StreamingSpec case checks.
  *
  * The stream-static gates probe frozen statics (band index, profiles,
  * quantizer, snapshots) that a deployment builds long before the
  * stream runs. They are built once per fixture directory by
  * [[warmStatics]], untimed and localCheckpointed, and shared across
  * passes; after warm-up the memo builds nothing, so a key whose static
  * is missing fails naming it instead of timing the build. */
object StreamingQueries {
  type SQ = (SparkSession, String) => StreamingQuery

  /** The session the streams run on: the caller's SparkContext with an
    * isolated SQLConf (`newSession()`), so stream settings never leak
    * into the batch queries. A stateful operator spins up (and commits)
    * one state store per shuffle partition per microbatch, so at fixture
    * scale a batch-sized partition count is pure overhead — the s02
    * interval join carries 4 stores per partition. The partition count
    * (SPARK_GRAFT_STREAM_SHUFFLE, default 8) is the deployment-level
    * setting a cluster tunes per stream; SPARK_GRAFT_STREAM_STATE_PROVIDER
    * swaps the state-store provider (PLANS.md "s03 state-store provider"
    * records the HDFS-default vs RocksDB A/B; the default stays Spark's). */
  def session(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    // conf inheritance across newSession() is not guaranteed for
    // builder-time options; set what the streams need explicitly
    s.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE", "8"))
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sys.env.get("SPARK_GRAFT_STREAM_STATE_PROVIDER").foreach(p =>
      s.conf.set("spark.sql.streaming.stateStore.providerClass", p))
    s
  }

  private def embeddings(s: SparkSession, d: String): DataFrame =
    T.embeddings(s, d).select(col("vec_id"), col("embedding"))

  /** The frozen statics, by name, in build order (a builder may read an
    * earlier static). */
  private val builders: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq(
      // s05/s10: the corpus band index
      "band index" -> ((s, d) => Dedup.nearDupIndex(T.documents(s, d))),
      // s06: per-source reference profile
      "reference profile" -> ((s, d) =>
        Streams.referenceProfile(T.documents(s, d))),
      // s07/s08: coarse-quantizer centroids (every 50th vector)
      "centroids" -> ((s, d) => embeddings(s, d)
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))),
      // s07: the assigned-corpus index under those centroids
      "semantic index" -> ((s, d) =>
        Dedup.semanticIndex(embeddings(s, d), static(s, d, "centroids"))),
      // s08: per-list embedding profile
      "embedding profile" -> ((s, d) => Similarity.embeddingProfile(
        embeddings(s, d), static(s, d, "centroids"))),
      // s09/s10: DSIR profile (raw model = the corpus, target model =
      // its English slice)
      "dsir profile" -> ((s, d) => {
        val docs = T.documents(s, d)
          .select(col("doc_id"), col("lang"), col("text"))
        TextOps.dsirProfile(docs, docs.filter(col("lang") === "en"),
          n = 2, buckets = 4096)
      }),
      // s11: the view-event history each purchase batch as-of joins
      "views" -> ((s, d) => T.events(s, d)
        .filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("view_ts"), col("value").as("view_value"))),
      // s21: every error event opens a 30-minute incident window
      "incidents" -> ((s, d) => T.events(s, d)
        .filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("ts").as("inc_start"),
          (col("ts") + expr("INTERVAL 30 minutes")).as("inc_end"))),
      // s12: every 50th doc as the held-out "benchmark" corpus (fan-out
      // per incoming doc = sum of matched bench dfs — the benchmark size
      // IS the cost knob)
      "bm25 index" -> ((s, d) => TextOps.bm25Index(
        T.documents(s, d).filter(col("doc_id") % 50 === 0))),
      // s18: the reference-period transition matrix (even users — a
      // deliberately different population than the full stream, so some
      // drift flags genuinely fire)
      "transition baseline" -> ((s, d) => Temporal.transitionMatrix(
        T.events(s, d).filter(col("user_id") % 2 === 0),
        "user_id", "ts", "event_type", "event_id")))

  private val memo =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
  private val warmed = scala.collection.concurrent.TrieMap.empty[String, Unit]

  private[graft] def static(s: SparkSession, d: String, name: String)
      : DataFrame =
    memo.getOrElse((name, d), synchronized {
      memo.getOrElse((name, d), {
        if (warmed.contains(d)) throw new IllegalStateException(
          s"stream static '$name' for $d did not build at warm-up; " +
            "refusing to build it inside a timed run")
        val df = builders.find(_._1 == name).get._2(s, d).localCheckpoint()
        memo((name, d)) = df
        df
      })
    })

  /** Build every static for `d` and the event, document and embedding
    * part exports the streams read, once, then seal `d`: from here on a
    * missing static throws naming itself. Returns the statics and exports
    * that failed to build, with their errors. */
  def warmStatics(s: SparkSession, d: String): Seq[(String, Throwable)] = {
    def attempt(name: String)(build: => Any) =
      try { build; None } catch { case e: Throwable => Some(name -> e) }
    val failed = builders.flatMap(b => attempt(b._1)(static(s, d, b._1))) ++
        attempt("event parts")(T.exportedEventsParts(s, d)) ++
        attempt("document parts")(T.exportedDocsParts(s, d)) ++
        attempt("embedding parts")(T.exportedEmbsParts(s, d))
    warmed(d) = ()
    failed
  }

  private val noop: DataFrame => Unit =
    _.write.format("noop").mode("overwrite").save()
  private def toNoop(df: DataFrame, outputMode: String): StreamingQuery =
    df.writeStream.format("noop").outputMode(outputMode)
      .trigger(Trigger.AvailableNow()).start()
  private def watchList(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(("click", "1"), ("click", "2"), ("view", "3"), ("purchase", "4"))
      .toDF("event_type", "probe")
  }

  /** The entries, in bench order. */
  val all: Seq[(String, SQ)] = Seq(
    // s01 is the watermarked tumbling rollup (t10's stream twin) one-shot
    // over the events fixture, s02 the stream-stream interval
    // attribution join (t20's) — the two stateful shapes a cluster would
    // actually run
    "s01_hourly_rollup" -> ((s, d) =>
      toNoop(Streams.hourlyRollup(Streams.eventsStreamAuto(s, d)), "append")),
    "s02_attribution_join" -> ((s, d) => {
      val src = Streams.eventsStreamAuto(s, d)
      toNoop(Streams.attributionJoin(
        src.filter(col("event_type") === "click"),
        src.filter(col("event_type") === "purchase")), "append")
    }),
    // steady-state complement to the s01 one-shot: same rollup, but
    // paced one file per microbatch over the 8-part export, so the
    // per-batch (state churn) cost shows up as ~9 batches in
    // streaming_detail instead of being averaged into 2
    "s03_steady_rollup" -> ((s, d) =>
      toNoop(Streams.hourlyRollup(Streams.eventsStreamPaced(s,
        T.exportedEventsParts(s, d))), "append")),
    // per-source quality/PII screen as a running aggregate over the
    // paced 8-part document export (complete mode, one state row per
    // source)
    "s04_quality_gate" -> ((s, d) =>
      toNoop(Streams.qualityScreen(Streams.docsStreamPaced(s,
        T.exportedDocsParts(s, d))), "complete")),
    // paced documents banded per microbatch and screened against the
    // static corpus band index — the stream-static MinHash gate shape
    "s05_neardup_gate" -> ((s, d) =>
      Streams.startNearDupGate(s, T.exportedDocsParts(s, d),
        static(s, d, "band index"), noop)),
    // per-source running means vs the frozen reference profile —
    // complete mode, one state row per source, s04 generalized to drift
    "s06_drift_monitor" -> ((s, d) =>
      toNoop(Streams.driftMonitor(Streams.docsStreamPaced(s,
        T.exportedDocsParts(s, d)), static(s, d, "reference profile")),
        "complete")),
    // paced embeddings assigned to the frozen coarse quantizer per
    // microbatch and screened within-list against the assigned-corpus
    // index — the s05 discipline on the embedding modality
    "s07_semantic_gate" -> ((s, d) =>
      Streams.startSemanticGate(s, T.exportedEmbsParts(s, d),
        static(s, d, "semantic index"), static(s, d, "centroids"), noop)),
    // paced embeddings quantized against the frozen centroids per
    // microbatch, per-list running count + mean cosine vs the frozen
    // profile — complete mode, s06 on the embedding modality
    "s08_embedding_drift" -> ((s, d) =>
      toNoop(Similarity.embeddingDriftMonitor(
        Streams.embsStreamPaced(s, T.exportedEmbsParts(s, d)),
        static(s, d, "centroids"), static(s, d, "embedding profile")),
        "complete")),
    // paced documents scored per microbatch against the frozen bucket
    // profile — the s05 discipline on the data-selection model
    "s09_dsir_gate" -> ((s, d) =>
      Streams.startDsirGate(s, T.exportedDocsParts(s, d),
        static(s, d, "dsir profile"), noop)),
    // quality + PII + near-dup flag + DSIR score in ONE pass per batch
    // against both frozen statics — the production shape (one stream
    // instead of three)
    "s10_ingest_screen" -> ((s, d) =>
      Streams.startIngestScreen(s, T.exportedDocsParts(s, d),
        static(s, d, "band index"), static(s, d, "dsir profile"), noop)),
    // each paced purchase microbatch picks the latest same-user view
    // from the frozen history snapshot — per batch the t70 join-free
    // union+window shape
    "s11_asof_enrich" -> ((s, d) =>
      Streams.startAsofEnrich(s, T.exportedEventsParts(s, d),
        static(s, d, "views"), "view_ts", Seq("view_id", "view_value"),
        "view_id", noop)),
    // paced documents BM25-scored per microbatch against the frozen
    // benchmark index; production double-sum accumulator (the bench
    // measures the gate, the t84 oracle owns the arithmetic)
    "s12_bm25_gate" -> ((s, d) =>
      Streams.startBm25Gate(s, T.exportedDocsParts(s, d),
        static(s, d, "bm25 index"), noop, tau = 9.0, exactSums = false)),
    // the HLL sketch as a complete-mode running aggregate — bounded
    // state (512 ints per event type) however many users stream past
    "s13_cardinality_monitor" -> ((s, d) =>
      toNoop(Streams.cardinalityMonitor(Streams.eventsStreamPaced(s,
        T.exportedEventsParts(s, d))), "complete")),
    // sampled token-count quantiles per source as ONE stateful
    // aggregation, <= k pairs of state per source forever
    "s14_length_gate" -> ((s, d) =>
      toNoop(Streams.lengthDriftGate(Streams.docsStreamPaced(s,
        T.exportedDocsParts(s, d))), "complete")),
    // out-of-order-tolerant custom state: events buffer until the
    // watermark passes them, then fold into the chain; the flush
    // sentinel part fires the tail timeout
    "s15_funnel" -> ((s, d) =>
      toNoop(Streams.funnelWithState(Streams.eventsStreamPaced(s,
        T.exportedEventsPartsFlush(s, d)),
        Seq("signup", "view", "purchase")).toDF(), "update")),
    // the Count-Min grid as the one stateful aggregate (<= 4x1024 cells
    // per event type forever), each trigger's grid probed for a 4-item
    // watch list — the per-item replay-storm gate
    "s16_frequency_monitor" -> ((s, d) =>
      Streams.startFrequencyMonitor(s, T.exportedEventsParts(s, d),
        watchList(s), maxCount = 1000L, sink = noop)),
    // s16's grid under a 1-day half-life, probed as of the fixture
    // window's end, so month-old floods stop alarming while fresh ones
    // still do
    "s19_decayed_frequency" -> ((s, d) =>
      Streams.startDecayedFrequencyMonitor(s, T.exportedEventsParts(s, d),
        watchList(s), maxDecayed = 100.0,
        t0Micros = 1704067200000000L, halfLifeSeconds = 86400L,
        asOfMicros = 1706659200000000L, sink = noop)),
    // s13 under epoch slicing: one register set per (type, day),
    // recombined with recency weights per trigger
    "s20_decayed_cardinality" -> ((s, d) =>
      Streams.startDecayedCardinalityMonitor(s, T.exportedEventsParts(s, d),
        minDistinct = 2.0, maxRepeatFactor = 500.0, activityFloor = 1.0,
        t0Micros = 1704067200000000L, halfLifeSeconds = 86400L,
        asOfMicros = Some(1706659200000000L), sink = noop)),
    // each paced purchase microbatch x the frozen incident windows
    // (every containing window) — the s11 discipline on t121's operator
    "s21_range_join" -> ((s, d) =>
      Streams.startRangeJoin(s, T.exportedEventsParts(s, d),
        static(s, d, "incidents"), "inc_start", "inc_end",
        bucketSeconds = 1800L, sink = noop)),
    // buffer-until-watermark pair emission (the s15 discipline on
    // consecutive-event pairs)
    "s17_transitions" -> ((s, d) =>
      toNoop(Streams.transitionsWithState(Streams.eventsStreamPaced(s,
        T.exportedEventsPartsFlush(s, d))).toDF(), "append")),
    // s17's pairs folded into the running (prev, next) grid per batch
    // and alarmed against the frozen reference-period matrix
    "s18_transition_drift" -> ((s, d) =>
      Streams.startTransitionDriftMonitor(s,
        T.exportedEventsPartsFlush(s, d),
        static(s, d, "transition baseline"), tol = 0.1, sink = noop)))
}
