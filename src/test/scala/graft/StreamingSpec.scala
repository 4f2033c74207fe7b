package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.streaming.Streams

/** Streaming surface: the file-source hourly rollup must equal its batch
  * twin on the same bounded input (write-once-run-either-way contract). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("hourlyRollup streaming (availableNow) == batch on same input") {
    val dir = Files.createTempDirectory("graft_events").toString
    val events = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:05:00"), 7L, "click", 1.5, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 10:55:00"), 7L, "click", 2.5, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 11:05:00"), 8L, "view", 1.0, "{}"),
      (4L, Timestamp.valueOf("2024-01-01 11:20:00"), 8L, "click", 4.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.write.mode("overwrite").parquet(s"$dir/events_a.parquet")

    val streamed = Streams
      .runHourlyOnce(spark, s"$dir/events_a.parquet", "spec_hourly", "*.parquet")
      .orderBy("hour_start", "event_type").collect()
    val batch = Streams.hourlyRollup(spark.read.parquet(s"$dir/events_a.parquet"))
      .orderBy("hour_start", "event_type").collect()

    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.length == 3) // (10h click), (11h click), (11h view)
    val tenClick = streamed(0)
    assert(tenClick.getLong(2) == 2 && tenClick.getDouble(3) == 4.0)
  }

  test("paced multi-batch rollup == one-shot == batch (steady-state twin)") {
    // the s03 bench shape: N files, one per microbatch — the rollup's
    // COMPLETE result must not depend on how ingestion was paced
    val d = "/root/testdata/sf0.001"
    val parts = graft.etl.Tables.exportedEventsParts(spark, d, parts = 4)
    val q = Streams.hourlyRollup(Streams.eventsStreamPaced(spark, parts, 1))
      .writeStream.format("memory").queryName("spec_paced")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 4,
      s"expected >=4 paced microbatches, saw ${q.recentProgress.length}")
    val paced = spark.table("spec_paced")
      .orderBy("hour_start", "event_type").collect().toSeq
    val batch = Streams.hourlyRollup(graft.etl.Tables.events(spark, d))
      .orderBy("hour_start", "event_type").collect().toSeq
    assert(paced == batch)
  }

  test("qualityScreen: paced stream == batch; alarm fires on planted " +
      "PII and low quality") {
    // paced == batch over the real fixture (the s04 bench shape)
    val d = "/root/testdata/sf0.001"
    val parts = graft.etl.Tables.exportedDocsParts(spark, d, parts = 4)
    val q = Streams.qualityScreen(Streams.docsStreamPaced(spark, parts, 1))
      .writeStream.format("memory").queryName("spec_gate")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 4,
      s"expected >=4 paced microbatches, saw ${q.recentProgress.length}")
    val paced = spark.table("spec_gate").orderBy("source").collect().toSeq
    val batch = Streams
      .qualityScreen(graft.etl.Tables.documents(spark, d))
      .orderBy("source").collect().toSeq
    assert(paced == batch)
    // alarm semantics on a planted frame: src_pii trips the PII rate,
    // src_bad the quality floor, src_ok neither
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "walks home through the quiet town in the early evening light"
    val planted = Seq(
      (1L, good, "en", "src_ok", 1L),
      (2L, good + " mail me at a.b@example.com", "en", "src_pii", 1L),
      (3L, "!?!?!?!?!?!?!?!?!?!?!?", "und", "src_bad", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val gate = Streams.qualityScreen(planted, minQuality = 0.3,
        maxPiiPerKDocs = 50.0)
      .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(gate === Map("src_ok" -> false, "src_pii" -> true,
      "src_bad" -> true))
    // per-source overrides beat the global knobs: a lenient PII budget
    // silences src_pii and a lenient quality floor silences src_bad,
    // while un-overridden sources (src_ok) keep the globals
    val knobs = Seq(("src_pii", 0.1, 2000.0), ("src_bad", 0.05, 50.0))
      .toDF("source", "min_quality", "max_pii_per_k")
    val gated = Streams.qualityScreen(planted, minQuality = 0.3,
        maxPiiPerKDocs = 50.0, thresholds = Some(knobs))
      .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(gated === Map("src_ok" -> false, "src_pii" -> false,
      "src_bad" -> false))
  }

  test("cardinalityMonitor: paced stream == batch (HLL registers merge " +
      "across microbatches); alarm fires on replay storms and stuck " +
      "producers") {
    val d = "/root/testdata/sf0.001"
    val parts = graft.etl.Tables.exportedEventsParts(spark, d)
    val q = Streams.cardinalityMonitor(
        Streams.eventsStreamPaced(spark, parts, 1))
      .writeStream.format("memory").queryName("spec_card")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 4,
      s"expected >=4 paced microbatches, saw ${q.recentProgress.length}")
    val paced = spark.table("spec_card").orderBy("event_type")
      .collect().toSeq
    val batch = Streams
      .cardinalityMonitor(graft.etl.Tables.events(spark, d))
      .orderBy("event_type").collect().toSeq
    assert(paced == batch,
      "HLL state must merge across microbatches to the one-pass sketch")
    // alarm semantics: a replay storm (1000 rows, 2 users) trips the
    // repeat factor; a healthy mix does not
    val storm = (1L to 1000L).map(i =>
        (i, new java.sql.Timestamp(i * 1000), i % 2 + 1, "click",
          1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val healthy = (1L to 200L).map(i =>
        (i + 5000L, new java.sql.Timestamp(i * 1000), i, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val flags = Streams.cardinalityMonitor(storm.unionByName(healthy),
        minDistinct = 5.0, maxRepeatFactor = 100.0)
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(flags === Map("click" -> true, "view" -> false))
    // a broken producer emitting NULL user_ids must not hide from the
    // monitor: nulls fold to one sentinel identity, so the rows count
    // and est_distinct collapses toward 1 -> alarm
    val nullStorm = (1L to 500L).map(i =>
        (i + 9000L, new java.sql.Timestamp(i * 1000),
          null.asInstanceOf[java.lang.Long], "signup", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val nf = Streams.cardinalityMonitor(nullStorm, minDistinct = 5.0,
        maxRepeatFactor = 100.0).collect()(0)
    assert(nf.getLong(1) == 500L, "null-user rows must count in n_rows")
    assert(nf.getBoolean(3), "an all-null-user producer must alarm")
  }

  test("lengthDriftGate: paced stream == batch (hash sample is order-" +
      "free); alarm fires on a truncated-scrape source") {
    val d = "/root/testdata/sf0.001"
    val parts = graft.etl.Tables.exportedDocsParts(spark, d, parts = 4)
    val q = Streams.lengthDriftGate(Streams.docsStreamPaced(spark, parts, 1))
      .writeStream.format("memory").queryName("spec_len")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 4,
      s"expected >=4 paced microbatches, saw ${q.recentProgress.length}")
    val paced = spark.table("spec_len").orderBy("source").collect().toSeq
    val batch = Streams
      .lengthDriftGate(graft.etl.Tables.documents(spark, d))
      .orderBy("source").collect().toSeq
    assert(paced == batch,
      "bottom-k sample state must merge across microbatches exactly")
    // planted truncation: src_trunc ships 3-token stubs, src_ok real text
    val good = "the quick brown fox jumps over the lazy dog tonight"
    val planted = (1L to 40L).map { i =>
      if (i % 2 == 0) (i, good, "en", "src_ok", 1L)
      else (i, "a b c", "en", "src_trunc", 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val flags = Streams.lengthDriftGate(planted, minP50 = 5.0)
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(flags === Map("src_ok" -> false, "src_trunc" -> true))
    // malformed rows must not kill the robustness gate: null text
    // counts as ZERO tokens (dragging the median down is the point),
    // and a null doc_id still samples under the sentinel key
    val broken = (1L to 20L).map { i =>
      val id: java.lang.Long = if (i == 7) null else java.lang.Long.valueOf(i)
      val text = if (i <= 11) null else good // a majority-null source
      (id, text, "en", "src_broken", 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val b = Streams.lengthDriftGate(broken, minP50 = 5.0).collect()(0)
    assert(b.getLong(1) == 20L, "all rows must count")
    assert(b.getBoolean(5), "a half-null-text source must alarm on p50")
  }

  test("bm25Gate: paced foreachBatch stream == batch screen; verbatim " +
      "benchmark copy flags, benchmark-disjoint doc passes with null top") {
    import graft.ops.TextOps
    val d = "/root/testdata/sf0.001"
    val parts = graft.etl.Tables.exportedDocsParts(spark, d, parts = 4)
    val docs = graft.etl.Tables.documents(spark, d)
      .select(col("doc_id"), col("text"))
    val idx = TextOps.bm25Index(docs.filter(col("doc_id") % 10 === 0))
      .localCheckpoint()
    val got = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(Long, Option[Double], Long)]]
    Streams.startBm25Gate(spark, parts, idx,
      b => got += b.select(col("doc_id"), col("bm25_top"),
          col("is_contaminated"))
        .collect().toSeq.map(r => (r.getLong(0),
          Option(r.getAs[java.lang.Double](1)).map(_.toDouble),
          r.getLong(2))),
      tau = 9.0)
      .awaitTermination()
    assert(got.size >= 4, s"expected >=4 paced microbatches, saw ${got.size}")
    val paced = got.flatten.sortBy(_._1)
    val batch = TextOps
      .bm25ScreenFlag(graft.etl.Tables.documents(spark, d), idx,
        tau = 9.0)
      .select(col("doc_id"), col("bm25_top"), col("is_contaminated"))
      .collect().toSeq.map(r => (r.getLong(0),
        Option(r.getAs[java.lang.Double](1)).map(_.toDouble),
        r.getLong(2))).sortBy(_._1)
    assert(paced == batch,
      "paced per-microbatch screen must equal the batch screen")
    // planted semantics on a disjoint incoming frame (tau below the
    // copy's own retrieval score, so the flag is fixture-robust): a
    // verbatim copy of a benchmark doc flags; a doc sharing no term
    // with the benchmark carries a null top and passes
    import spark.implicits._
    val benchText = docs.filter(col("doc_id") % 10 === 0)
      .orderBy(col("doc_id")).limit(1).collect().head.getString(1)
    val fresh = "zyx wvu tsr qpo nml kji hgf edc"
    val incoming = Seq((900001L, benchText), (900002L, fresh))
      .toDF("doc_id", "text")
    val flags = TextOps.bm25ScreenFlag(incoming, idx, tau = 0.5)
      .collect().map(r => r.getLong(0) ->
        (Option(r.getAs[java.lang.Double]("bm25_top")), r.getLong(3)))
      .toMap
    assert(flags(900001L)._2 === 1L, "verbatim benchmark copy must flag")
    assert(flags(900002L) === ((None, 0L)),
      "benchmark-disjoint doc must pass with a null top")
  }

  test("nearDupGate: paced foreachBatch stream == batch gate; twins flag, " +
      "unshingleable docs pass with 0") {
    import graft.ops.Dedup
    // the s05 bench shape: paced documents screened per microbatch
    // against the static band index of the ORIGINAL corpus
    val d = "/root/testdata/sf0.001"
    val parts = graft.etl.Tables.exportedDocsParts(spark, d, parts = 4)
    val docs = graft.etl.Tables.documents(spark, d)
      .select(col("doc_id"), col("text"))
    val idx = Dedup.nearDupIndex(docs).localCheckpoint()
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
    Streams.startNearDupGate(spark, parts, idx,
      b => got += b.select(col("doc_id"), col("is_near_dup"))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
      .awaitTermination()
    assert(got.size >= 4, s"expected >=4 paced microbatches, saw ${got.size}")
    val paced = got.flatten.sortBy(_._1)
    val batch = Dedup
      .nearDupFlag(graft.etl.Tables.documents(spark, d), idx)
      .select(col("doc_id"), col("is_near_dup"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(paced == batch,
      "paced per-microbatch gate must equal the batch gate on the same files")
    // the stream here IS the corpus, so every shingleable doc collides
    // with its own bands — and unshingleable docs must pass with 0
    import graft.ops.TextOps
    val shingleable = docs
      .filter(size(TextOps.wordShingles(col("text"), 3)) > 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    paced.foreach { case (id, flag) =>
      assert(flag === (if (shingleable(id)) 1L else 0L),
        s"doc $id: flag $flag vs shingleable=${shingleable(id)}")
    }
    // planted twin semantics on a disjoint incoming frame: a near-dup
    // of a corpus doc flags, a fresh doc does not
    import spark.implicits._
    val corpusDoc = docs.orderBy(col("doc_id")).limit(1).collect().head
    val twinText = corpusDoc.getString(1).trim.split("\\s+").drop(1)
      .mkString(" ")
    val fresh = "zyx wvu tsr qpo nml kji hgf edc ba zz yy xx ww vv uu tt"
    val incoming = Seq((900001L, twinText), (900002L, fresh))
      .toDF("doc_id", "text")
    val flags = Dedup.nearDupFlag(incoming, idx)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(flags(900001L) === 1L, "planted twin must flag against the index")
    assert(flags(900002L) === 0L, "fresh doc must pass the gate")
  }

  test("semanticGate: paced foreachBatch stream == batch gate; perturbed " +
      "twin flags, negated vector passes") {
    import graft.ops.Dedup
    // the s07 bench shape: paced embeddings assigned per microbatch to
    // the frozen coarse quantizer and screened within-list against the
    // static assigned-corpus index of the ORIGINAL embeddings
    val d = "/root/testdata/sf0.001"
    val parts = graft.etl.Tables.exportedEmbsParts(spark, d, parts = 4)
    val emb = graft.etl.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
    val cents = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      .localCheckpoint()
    val idx = Dedup.semanticIndex(emb, cents).localCheckpoint()
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
    Streams.startSemanticGate(spark, parts, idx, cents,
      b => got += b.select(col("vec_id"), col("is_semantic_dup"))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
      .awaitTermination()
    assert(got.size >= 4, s"expected >=4 paced microbatches, saw ${got.size}")
    val paced = got.flatten.sortBy(_._1)
    val batch = Dedup
      .semanticDupFlag(graft.etl.Tables.embeddings(spark, d), idx, cents,
        tau = 0.99)
      .select(col("vec_id"), col("is_semantic_dup"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(paced == batch,
      "paced per-microbatch gate must equal the batch gate on the same files")
    // the stream here IS the corpus, so every vector collides with its
    // own index row at cosine 1
    assert(paced.nonEmpty && paced.forall(_._2 == 1L),
      "re-ingesting the indexed corpus must flag every vector")
    // planted semantics on a disjoint incoming frame: a +0.001 perturbed
    // twin of a corpus vector flags (same list, cosine ~1); its NEGATED
    // vector (cosine -1 to the original, far from every list mate) passes
    val incoming = emb.filter(col("vec_id") === 0L)
      .select(lit(900001L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.001f)).otherwise(x))
          .as("embedding"))
      .unionByName(emb.filter(col("vec_id") === 0L)
        .select(lit(900002L).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding")))
    val flags = Dedup.semanticDupFlag(incoming, idx, cents, tau = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(flags(900001L) === 1L,
      "perturbed twin must flag against the index")
    assert(flags(900002L) === 0L, "negated vector must pass the gate")
    // the runner's probe knob: paced nprobe=2 == batch probed gate
    val got2 = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
    Streams.startSemanticGate(spark, parts, idx, cents,
      b => got2 += b.select(col("vec_id"), col("is_semantic_dup"))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))),
      nprobe = 2)
      .awaitTermination()
    val paced2 = got2.flatten.sortBy(_._1)
    val batch2 = Dedup
      .semanticDupFlagProbed(graft.etl.Tables.embeddings(spark, d), idx,
        cents, tau = 0.99, nprobe = 2)
      .select(col("vec_id"), col("is_semantic_dup"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(paced2 == batch2,
      "paced multi-probe gate must equal the batch probed gate")
  }

  test("embeddingDriftMonitor: paced stream == batch; self profile is " +
      "drift-free; a corpus pulled toward one centroid drifts its list") {
    import graft.ops.Similarity
    // the s08 bench shape: paced embeddings quantized per microbatch,
    // per-list running mean cosine vs the frozen profile
    val d = "/root/testdata/sf0.001"
    val parts = graft.etl.Tables.exportedEmbsParts(spark, d, parts = 4)
    val emb = graft.etl.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
    val cents = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      .localCheckpoint()
    val profile = Similarity.embeddingProfile(emb, cents).localCheckpoint()
    val q = Similarity.embeddingDriftMonitor(
        Streams.embsStreamPaced(spark, parts, 1), cents, profile)
      .writeStream.format("memory").queryName("spec_emb_drift")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 4,
      s"expected >=4 paced microbatches, saw ${q.recentProgress.length}")
    val paced = spark.table("spec_emb_drift")
      .orderBy("centroid_id").collect().toSeq
    val batch = Similarity.embeddingDriftMonitor(emb, cents, profile)
      .orderBy("centroid_id").collect().toSeq
    assert(paced == batch)
    // self-comparison: a corpus monitored against its own profile must
    // not drift anywhere
    assert(batch.forall(_.getLong(3) == 0L),
      "own-profile monitoring must be drift-free")
    // planted shift: every vector pulled toward centroid 0 piles into
    // c0's list with a far higher mean cosine than the profile's — the
    // list must flag
    val c0 = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").as("__d"))
    val pulled = emb.crossJoin(broadcast(c0))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("__d"),
          (x, y) => x + lit(0.75f) * y).as("embedding"))
    val drifted = Similarity.embeddingDriftMonitor(pulled, cents, profile)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(drifted(0L) === 1L,
      "the pulled-toward list must drift against the frozen profile")
  }

  test("driftMonitor: paced stream == batch; shifted source drifts, " +
      "stable source and profile match don't; new source always drifts") {
    // paced == batch over the real fixture (the s06 bench shape), with
    // the frozen profile from the same corpus — zero drift everywhere
    val d = "/root/testdata/sf0.001"
    val parts = graft.etl.Tables.exportedDocsParts(spark, d, parts = 4)
    val docs = graft.etl.Tables.documents(spark, d)
    val profile = Streams.referenceProfile(docs).localCheckpoint()
    val q = Streams.driftMonitor(
        Streams.docsStreamPaced(spark, parts, 1), profile)
      .writeStream.format("memory").queryName("spec_drift")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 4,
      s"expected >=4 paced microbatches, saw ${q.recentProgress.length}")
    val paced = spark.table("spec_drift").orderBy("source").collect().toSeq
    val batch = Streams.driftMonitor(docs, profile)
      .orderBy("source").collect().toSeq
    assert(paced == batch)
    // self-comparison: every source's means equal its own profile
    assert(batch.forall(_.getLong(4) == 0L),
      "a corpus monitored against its own profile must not drift")
    // planted semantics: src_shift's tokens collapse vs its profile,
    // src_same is byte-identical, src_new has no profile row
    import spark.implicits._
    val refDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "en", "src_shift", 1L),
      (2L, "one two three four five six seven eight nine ten",
        "en", "src_same", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val incoming = Seq(
      (3L, "alpha", "en", "src_shift", 1L),
      (4L, "one two three four five six seven eight nine ten",
        "en", "src_same", 1L),
      (5L, "brand new source text here", "en", "src_new", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val flags = Streams.driftMonitor(incoming,
        Streams.referenceProfile(refDocs),
        qualityTol = 0.05, tokensTol = 2.0)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(flags === Map("src_shift" -> 1L, "src_same" -> 0L,
      "src_new" -> 1L))
  }

  test("sessionRollup batch == flatMapGroupsWithState sessionizer") {
    val dir = Files.createTempDirectory("graft_sessions").toString
    // user 7: two sessions (45-min gap); user 8: one session; user 99 is a
    // far-future sentinel that advances the watermark past every real
    // session so EventTimeTimeout flushes the open tails
    val events = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 10:10:00"), 7L, "click", 1.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 10:55:00"), 7L, "click", 1.0, "{}"),
      (4L, Timestamp.valueOf("2024-01-01 10:20:00"), 8L, "view", 1.0, "{}"),
      (5L, Timestamp.valueOf("2024-01-02 12:00:00"), 99L, "view", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.write.mode("overwrite").parquet(s"$dir/events_a.parquet")

    val stream = spark.readStream.schema(Streams.eventSchema)
      .parquet(s"$dir/events_a.parquet")
    val q = Streams.sessionizeWithState(stream)
      .writeStream.format("memory").queryName("spec_sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("spec_sessions")
      .filter(col("user_id") =!= 99L)
      .orderBy("user_id", "session_start_us")
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect()

    val batch = Streams.sessionRollup(events)
      .filter(col("user_id") =!= 99L)
      .orderBy("user_id", "session_start_us")
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect()

    assert(streamed.toSeq == batch.toSeq)
    assert(batch.map(r => (r.getLong(0), r.getLong(3))).toSeq ==
      Seq((7L, 2L), (7L, 1L), (8L, 1L))) // two sessions for 7, one for 8
  }

  test("funnelWithState: out-of-order arrival ACROSS microbatches still " +
      "equals the batch funnel (buffer-until-watermark); naive monotone " +
      "state would lose the early stages") {
    val dir = Files.createTempDirectory("graft_funnel").toString
    // batch 1 delivers user 7's LATER stages first (B, C) and user 8's
    // complete in-order chain; batch 2 delivers user 7's EARLIER A —
    // the out-of-order case that breaks a fold-as-you-go funnel — plus
    // the far-future sentinel that flushes via EventTimeTimeout
    val batch1 = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:30:00"), 7L, "B", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 11:00:00"), 7L, "C", 1.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 09:00:00"), 8L, "A", 1.0, "{}"),
      (4L, Timestamp.valueOf("2024-01-01 09:30:00"), 8L, "B", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batch2 = Seq(
      (5L, Timestamp.valueOf("2024-01-01 10:10:00"), 7L, "A", 1.0, "{}"),
      (6L, Timestamp.valueOf("2024-03-01 00:00:00"), 99L, "A", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    batch1.coalesce(1).write.mode("overwrite").parquet(s"$dir/ev")
    Thread.sleep(50)
    val before = new java.io.File(s"$dir/ev").listFiles().map(_.getName).toSet
    batch2.coalesce(1).write.mode("append").parquet(s"$dir/ev")
    // pin file delivery order by mtime (the file source's order)
    val now = System.currentTimeMillis()
    new java.io.File(s"$dir/ev").listFiles().foreach { f =>
      f.setLastModified(if (before(f.getName)) now - 120000L else now)
    }
    val stream = spark.readStream.schema(Streams.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/ev")
    val q = Streams.funnelWithState(stream, Seq("A", "B", "C"),
        watermark = "2 days")
      .writeStream.format("memory").queryName("spec_funnel")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // last emission per user = final chain
    val streamed = spark.table("spec_funnel")
      .filter(col("user_id") =!= 99L)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("stages_reached").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("stage_us"), col("stages_reached"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1).toSeq, r.getInt(2)))).toMap
    val batchFunnel = graft.ops.Temporal.funnel(
        batch1.unionByName(batch2).filter(col("user_id") =!= 99L),
        "user_id", "ts", "event_type", Seq("A", "B", "C"))
      .select(col("user_id"),
        coalesce(unix_micros(col("stage0_ts")), lit(-1L)).as("s0"),
        coalesce(unix_micros(col("stage1_ts")), lit(-1L)).as("s1"),
        coalesce(unix_micros(col("stage2_ts")), lit(-1L)).as("s2"),
        col("stages_reached"))
      .collect().map(r => r.getLong(0) ->
        ((Seq(r.getLong(1), r.getLong(2), r.getLong(3)), r.getInt(4))))
      .toMap
    assert(streamed == batchFunnel,
      s"streamed $streamed != batch $batchFunnel")
    // and the chain is genuinely complete for user 7: the early A that
    // arrived LAST still anchors the B/C that arrived FIRST
    assert(streamed(7L)._2 == 3,
      "out-of-order A must re-anchor the buffered B and C")
  }

  test("transitionsWithState: out-of-order arrival ACROSS microbatches " +
      "still emits exactly the batch lag pairs; the cross-batch chain " +
      "survives the state boundary") {
    val dir = Files.createTempDirectory("graft_trans").toString
    // batch 1 delivers user 7's LATER events first (B@10:30, C@11:00)
    // and user 8's in-order pair; batch 2 delivers user 7's EARLIER
    // A@10:10 — a naive per-batch lag would emit (B,C) then nothing,
    // losing (A,B) and the true order — plus the flush sentinel
    val batch1 = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:30:00"), 7L, "B", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 11:00:00"), 7L, "C", 1.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 09:00:00"), 8L, "A", 1.0, "{}"),
      (4L, Timestamp.valueOf("2024-01-01 09:30:00"), 8L, "B", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batch2 = Seq(
      (5L, Timestamp.valueOf("2024-01-01 10:10:00"), 7L, "A", 1.0, "{}"),
      (6L, Timestamp.valueOf("2024-03-01 00:00:00"), 99L, "Z", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    batch1.coalesce(1).write.mode("overwrite").parquet(s"$dir/ev")
    Thread.sleep(50)
    val before = new java.io.File(s"$dir/ev").listFiles().map(_.getName).toSet
    batch2.coalesce(1).write.mode("append").parquet(s"$dir/ev")
    val now = System.currentTimeMillis()
    new java.io.File(s"$dir/ev").listFiles().foreach { f =>
      f.setLastModified(if (before(f.getName)) now - 120000L else now)
    }
    val stream = spark.readStream.schema(Streams.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/ev")
    val q = Streams.transitionsWithState(stream, watermark = "2 days")
      .writeStream.format("memory").queryName("spec_trans")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("spec_trans")
      .filter(col("user_id") =!= 99L)
      .select("user_id", "prev_type", "next_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(streamed == Set(
      (7L, "A", "B"), (7L, "B", "C"), (8L, "A", "B")),
      s"streamed pairs: $streamed")
    // and the corpus-level matrix folded from the streamed pairs equals
    // the batch operator on the same events
    val batchPairs = graft.ops.Temporal.transitionMatrix(
        batch1.unionByName(batch2).filter(col("user_id") =!= 99L),
        "user_id", "ts", "event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val fromStream = streamed.groupBy(p => (p._2, p._3)).view
      .mapValues(_.size.toLong).toMap
    assert(fromStream == batchPairs, s"$fromStream vs $batchPairs")
  }

  test("transition drift monitor (s18): the final per-trigger drift " +
      "frame equals the batch gate on the same events; a pair absent " +
      "from the baseline alarms, an in-tolerance pair does not") {
    val dir = Files.createTempDirectory("graft_tdrift").toString
    // the s17 fixture: user 7 out-of-order ACROSS microbatches, user 8
    // in-order, plus the far-future flush sentinel (user 99, no pair)
    val batch1 = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:30:00"), 7L, "B", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 11:00:00"), 7L, "C", 1.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 09:00:00"), 8L, "A", 1.0, "{}"),
      (4L, Timestamp.valueOf("2024-01-01 09:30:00"), 8L, "B", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batch2 = Seq(
      (5L, Timestamp.valueOf("2024-01-01 10:10:00"), 7L, "A", 1.0, "{}"),
      (6L, Timestamp.valueOf("2024-03-01 00:00:00"), 99L, "Z", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    batch1.coalesce(1).write.mode("overwrite").parquet(s"$dir/ev")
    Thread.sleep(50)
    val before = new java.io.File(s"$dir/ev").listFiles().map(_.getName).toSet
    batch2.coalesce(1).write.mode("append").parquet(s"$dir/ev")
    val now = System.currentTimeMillis()
    new java.io.File(s"$dir/ev").listFiles().foreach { f =>
      f.setLastModified(if (before(f.getName)) now - 120000L else now)
    }
    // frozen baseline says A->B always follows A (prob 1.0); B->C is
    // NOT in the baseline, so it must alarm as a brand-new transition
    val baseline = Seq(("A", "B", 1.0))
      .toDF("prev_type", "next_type", "prob")
    @volatile var last: Array[org.apache.spark.sql.Row] = Array.empty
    Streams.startTransitionDriftMonitor(spark, s"$dir/ev", baseline,
      tol = 0.1, sink = f => { last = f.collect() },
      filesPerTrigger = 1, watermark = "2 days")
      .awaitTermination()
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(5)))).toMap
    val got = keyed(last)
    // batch twin: the t108 matrix through the same gate
    val expected = keyed(Streams.transitionDrift(
      graft.ops.Temporal.transitionMatrix(batch1.unionByName(batch2),
        "user_id", "ts", "event_type", "event_id"),
      baseline, tol = 0.1).collect())
    assert(got == expected, s"streamed $got != batch $expected")
    assert(got(("A", "B"))._3 === 0L,
      "in-tolerance pair must not alarm")
    assert(got(("B", "C"))._3 === 1L,
      "a transition absent from the baseline must alarm")
    assert(got(("A", "B"))._1 === 2L && got(("A", "B"))._2 === 1.0)
  }

  test("dedupEvents suppresses replayed event_ids within the watermark") {
    val dir = Files.createTempDirectory("graft_dedup").toString
    // event 2 replayed (same id, same payload), id 3 unique
    val a = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 10:10:00"), 7L, "click", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val b = Seq(
      (2L, Timestamp.valueOf("2024-01-01 10:10:00"), 7L, "click", 2.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 10:20:00"), 8L, "view", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    a.write.mode("append").parquet(s"$dir/ev")
    b.write.mode("append").parquet(s"$dir/ev")

    val stream = spark.readStream.schema(Streams.eventSchema)
      .parquet(s"$dir/ev")
    val q = Streams.dedupEvents(stream)
      .writeStream.format("memory").queryName("spec_dedup")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ids = spark.table("spec_dedup").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
    // batch twin: same exact dedup
    val batchIds = Streams.dedupEvents(a.unionByName(b))
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(batchIds == ids)
  }

  test("attributionJoin streaming == batch; horizon bounds candidates") {
    val dir = Files.createTempDirectory("graft_attr").toString
    val events = Seq(
      // user 7: clicks at 10:00 and 10:40, purchase 11:10 -> only the
      // 10:40 click is inside the 1h horizon
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "click", 0.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 10:40:00"), 7L, "click", 0.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 11:10:00"), 7L, "purchase", 9.5, "{}"),
      // user 8: purchase with no prior click -> inner join drops it
      (4L, Timestamp.valueOf("2024-01-01 11:00:00"), 8L, "purchase", 5.0, "{}"),
      // user 9: click AFTER the purchase -> not attributable
      (5L, Timestamp.valueOf("2024-01-01 11:30:00"), 9L, "purchase", 1.0, "{}"),
      (6L, Timestamp.valueOf("2024-01-01 11:45:00"), 9L, "click", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.write.mode("overwrite").parquet(s"$dir/events_a.parquet")

    def split(df: org.apache.spark.sql.DataFrame) =
      (df.filter(col("event_type") === "click"),
        df.filter(col("event_type") === "purchase"))
    val (bc, bp) = split(events)
    val batch = Streams.attributionJoin(bc, bp)
      .select("purchase_id", "click_id").orderBy("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(batch == Seq((3L, 2L))) // one attributable purchase, one click

    val src = spark.readStream.schema(Streams.eventSchema)
      .parquet(s"$dir/events_a.parquet")
    val (sc, sp) = split(src)
    val q = Streams.attributionJoin(sc, sp)
      .writeStream.format("memory").queryName("spec_attr")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("spec_attr")
      .select("purchase_id", "click_id").orderBy("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed == batch)
  }

  test("attributionJoin left_outer: NULL rows emit on watermark expiry") {
    val dir = Files.createTempDirectory("graft_attr_outer").toString
    val real = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:40:00"), 7L, "click", 0.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 11:10:00"), 7L, "purchase", 9.5, "{}"),
      (4L, Timestamp.valueOf("2024-01-01 11:00:00"), 8L, "purchase", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // sentinels on BOTH sides: the global watermark is the min over the
    // watermarked inputs, and each side only sees events surviving its
    // type filter — a click-only sentinel would leave the purchase side's
    // watermark behind and the NULL row withheld forever
    val sentinels = Seq(
      (8L, Timestamp.valueOf("2024-01-03 00:00:00"), 99L, "click", 0.0, "{}"),
      (9L, Timestamp.valueOf("2024-01-05 00:00:00"), 98L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    real.coalesce(1).write.mode("append").parquet(s"$dir/ev")
    Thread.sleep(1100) // file-source batches order by file mtime
    sentinels.coalesce(1).write.mode("append").parquet(s"$dir/ev")

    val src = spark.readStream.schema(Streams.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/ev")
    val q = Streams.attributionJoin(
        src.filter(col("event_type") === "click"),
        src.filter(col("event_type") === "purchase"),
        joinType = "left_outer")
      .writeStream.format("memory").queryName("spec_attr_outer")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("spec_attr_outer")
      .filter(!col("user_id").isin(98L, 99L))
      .select("purchase_id", "click_id").orderBy("purchase_id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    // purchase 3 attributed to click 1; purchase 4 unmatched -> NULL row
    assert(streamed == Seq((3L, 1L), (4L, -1L)))

    val batch = Streams.attributionJoin(
        real.filter(col("event_type") === "click"),
        real.filter(col("event_type") === "purchase"),
        joinType = "left_outer")
      .select("purchase_id", "click_id").orderBy("purchase_id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    assert(batch == streamed)
  }

  test("runUpsertOnce: foreachBatch merge publishes running user totals") {
    val dir = Files.createTempDirectory("graft_upsert_src").toString
    val target = Files.createTempDirectory("graft_upsert_tgt").toString
    val a = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "click", 1.5, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 10:10:00"), 7L, "click", 2.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 10:20:00"), 8L, "view", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    a.write.mode("overwrite").parquet(s"$dir/events_a.parquet")

    val out1 = Streams.runUpsertOnce(spark, s"$dir/events_a.parquet",
        target, "*.parquet")
      .orderBy("user_id").collect()
    assert(out1.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((7L, 2L), (8L, 1L)))
    assert(out1(0).getDecimal(2).doubleValue() == 3.5)

    // second run over a NEW file folds into the existing published target
    val b = Seq(
      (4L, Timestamp.valueOf("2024-01-01 11:00:00"), 8L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir2 = Files.createTempDirectory("graft_upsert_src2").toString
    b.write.mode("overwrite").parquet(s"$dir2/events_b.parquet")
    val out2 = Streams.runUpsertOnce(spark, s"$dir2/events_b.parquet",
        target, "*.parquet")
      .orderBy("user_id").collect()
    assert(out2.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((7L, 2L), (8L, 2L)))
    assert(out2(1).getDecimal(2).doubleValue() == 5.0)
  }

  test("runUpsertByMonthOnce rewrites only the touched month partitions") {
    val target = Files.createTempDirectory("graft_upsert_pt").toString
    val jan = Timestamp.valueOf("2024-01-10 10:00:00")
    val feb = Timestamp.valueOf("2024-02-10 10:00:00")
    val a = Seq(
      (1L, jan, 7L, "click", 1.5, "{}"),
      (2L, jan, 7L, "click", 2.0, "{}"),
      (3L, feb, 7L, "view", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir1 = Files.createTempDirectory("graft_upsert_pt1").toString
    a.write.mode("overwrite").parquet(s"$dir1/events_a.parquet")
    val out1 = Streams.runUpsertByMonthOnce(spark, s"$dir1/events_a.parquet",
        target, "*.parquet")
      .orderBy("month").collect()
    assert(out1.map(r => (r.getAs[Int]("month"), r.getAs[Long]("n_events")))
      .toSeq == Seq((202401, 2L), (202402, 1L)))

    val janDir = new java.io.File(s"$target/user_month_totals/month=202401")
    val janFiles = janDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet

    // second run touches ONLY February
    val b = Seq((4L, feb, 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir2 = Files.createTempDirectory("graft_upsert_pt2").toString
    b.write.mode("overwrite").parquet(s"$dir2/events_b.parquet")
    val out2 = Streams.runUpsertByMonthOnce(spark, s"$dir2/events_b.parquet",
        target, "*.parquet")
      .orderBy("month").collect()
    assert(out2.map(r => (r.getAs[Int]("month"), r.getAs[Long]("n_events"),
        r.getAs[java.math.BigDecimal]("sum_value").doubleValue()))
      .toSeq == Seq((202401, 2L, 3.5), (202402, 2L, 5.0)))

    // January's partition files are byte-identical — dynamic overwrite
    // never listed, read, or rewrote that directory
    val janAfter = janDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet
    assert(janAfter == janFiles)
  }

  test("slidingUserActivity counts overlapping windows") {
    val events = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:02:00"), 7L, "click", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 10:07:00"), 7L, "click", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Streams.slidingUserActivity(events).collect()
    // 10:02 lands in [9:55,10:05) and [10:00,10:10); 10:07 in [10:00,10:10)
    // and [10:05,10:15) -> window [10:00,10:10) holds both
    assert(out.exists(r => r.getLong(2) == 2))
  }

  test("runDsirGateOnce: paced foreachBatch scorer == batch dsirScore " +
      "against the frozen profile; target-language docs outscore") {
    import graft.ops.TextOps
    // the s09 bench shape: paced documents scored per microbatch
    // against the FROZEN bucket profile (raw model = the corpus,
    // target model = its English slice)
    val d = "/root/testdata/sf0.001"
    val parts = graft.etl.Tables.exportedDocsParts(spark, d, parts = 4)
    val docs = graft.etl.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("text"))
    val prof = TextOps.dsirProfile(docs,
      docs.filter(col("lang") === "en"), n = 2, buckets = 512)
      .localCheckpoint()
    type Scored = (Long, Long, Option[Double])
    def rows(b: org.apache.spark.sql.DataFrame): Seq[Scored] =
      b.select(col("doc_id"), col("n_grams"), col("log_weight"))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Scored]]
    Streams.startDsirGate(spark, parts, prof,
      b => got += rows(b), buckets = 512)
      .awaitTermination()
    assert(got.size >= 4, s"expected >=4 paced microbatches, saw ${got.size}")
    val paced = got.toSeq.flatten.sortBy(_._1)
    val batch = rows(TextOps.dsirScore(docs, prof, buckets = 512))
      .sortBy(_._1)
    assert(paced == batch,
      "paced per-microbatch scorer must equal the batch scorer")
    // the profile's target is the corpus's own English slice, so
    // English docs must outscore the rest in aggregate
    val langOf = docs.select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (en, other) = paced.filter(_._3.isDefined)
      .partition(p => langOf(p._1) == "en")
    def avg(xs: Seq[Scored]): Double = xs.map(_._3.get).sum / xs.size
    assert(en.nonEmpty && other.nonEmpty)
    assert(avg(en) > avg(other),
      f"en ${avg(en)}%.3f must outscore non-en ${avg(other)}%.3f")
  }

  test("runIngestScreenOnce: paced composed screen == batch, and every " +
      "gate column agrees with its standalone component") {
    import graft.ops.{Dedup, TextOps}
    // the s10 bench shape: one foreachBatch pass producing quality,
    // PII, the near-dup flag and the DSIR weight together against the
    // two frozen statics
    val d = "/root/testdata/sf0.001"
    val parts = graft.etl.Tables.exportedDocsParts(spark, d, parts = 4)
    val docs = graft.etl.Tables.documents(spark, d)
    val idx = Dedup.nearDupIndex(
      docs.select(col("doc_id"), col("text"))).localCheckpoint()
    val prof = TextOps.dsirProfile(docs,
      docs.filter(col("lang") === "en")).localCheckpoint()
    type Screened = (Long, Long, Long, Option[Double], Double, Long)
    def rows(b: org.apache.spark.sql.DataFrame): Seq[Screened] =
      b.select(col("doc_id"), col("is_near_dup"), col("n_grams"),
          col("log_weight"), col("quality"), col("pii").cast("long"))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          r.getDouble(4), r.getLong(5)))
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Screened]]
    Streams.startIngestScreen(spark, parts, idx, prof,
      b => got += rows(b))
      .awaitTermination()
    assert(got.size >= 4, s"expected >=4 paced microbatches, saw ${got.size}")
    val paced = got.toSeq.flatten.sortBy(_._1)
    val batch = rows(Streams.ingestScreen(docs, idx, prof)).sortBy(_._1)
    assert(paced == batch,
      "paced composed screen must equal the batch composition")
    // composition adds nothing: each column equals its standalone op
    val nd = Dedup.nearDupFlag(docs.select(col("doc_id"), col("text")),
        idx)
      .select(col("doc_id"), col("is_near_dup")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ds = TextOps.dsirScore(docs.select(col("doc_id"), col("text")),
        prof)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    paced.foreach { case (id, flag, ng, w, _, _) =>
      assert(flag === nd(id), s"doc $id near-dup flag diverged")
      assert((ng, w) === ds(id), s"doc $id DSIR columns diverged")
    }
  }

  test("runAsofEnrichOnce: paced stream-static as-of == batch asofJoin; " +
      "unmatched purchases keep nulls") {
    import graft.ops.Temporal
    val d = "/root/testdata/sf0.001"
    val parts = graft.etl.Tables.exportedEventsParts(spark, d, parts = 4)
    val ev = graft.etl.Tables.events(spark, d)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"), col("value").as("view_value"))
      .localCheckpoint()
    type Enriched = (Long, Option[Long])
    def rows(b: org.apache.spark.sql.DataFrame): Seq[Enriched] =
      b.select(col("purchase_id"), col("view_id")).collect().toSeq
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1))))
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Enriched]]
    Streams.startAsofEnrich(spark, parts, views, "view_ts",
      Seq("view_id", "view_value"), "view_id", b => got += rows(b))
      .awaitTermination()
    assert(got.size >= 4, s"expected >=4 paced microbatches, saw ${got.size}")
    val paced = got.toSeq.flatten.sortBy(_._1)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts"))
    val batch = rows(Temporal.asofJoin(purchases, views, Seq("user_id"),
      "ts", "view_ts", Seq("view_id", "view_value"), tie = "view_id"))
      .sortBy(_._1)
    assert(paced == batch,
      "per-microbatch as-of against the static must equal the batch join")
    assert(paced.exists(_._2.nonEmpty), "some purchase must match a view")
    // the tolerance knob threads through: a 1-second window voids
    // almost everything, and paced still equals batch
    val gotT = scala.collection.mutable.ArrayBuffer.empty[Seq[Enriched]]
    Streams.startAsofEnrich(spark, parts, views, "view_ts",
      Seq("view_id", "view_value"), "view_id", b => gotT += rows(b),
      tolerance = Some("1 second"))
      .awaitTermination()
    val pacedT = gotT.toSeq.flatten.sortBy(_._1)
    val batchT = rows(Temporal.asofJoin(purchases, views, Seq("user_id"),
      "ts", "view_ts", Seq("view_id", "view_value"), tie = "view_id",
      tolerance = Some("1 second"))).sortBy(_._1)
    assert(pacedT == batchT)
    assert(pacedT.count(_._2.nonEmpty) < paced.count(_._2.nonEmpty),
      "the 1s tolerance must void matches the unbounded join kept")
  }

  test("runRangeJoinOnce: paced stream-static range join == batch " +
      "rangeJoinBucketed pair-for-pair; multi-window purchases carry " +
      "every containing incident") {
    import graft.ops.Temporal
    val d = "/root/testdata/sf0.001"
    val parts = graft.etl.Tables.exportedEventsParts(spark, d, parts = 4)
    val ev = graft.etl.Tables.events(spark, d)
    val incidents = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"),
        col("ts").as("inc_start"),
        (col("ts") + expr("INTERVAL 2 hours")).as("inc_end"))
      .localCheckpoint()
    def pairs(b: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      b.select(col("purchase_id"), col("error_id")).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1)))
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
    Streams.startRangeJoin(spark, parts, incidents, "inc_start",
      "inc_end", bucketSeconds = 7200L, b => got += pairs(b))
      .awaitTermination()
    assert(got.size >= 4, s"expected >=4 paced microbatches, saw ${got.size}")
    val paced = got.toSeq.flatten.sorted
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts"))
    val batch = pairs(Temporal.rangeJoinBucketed(purchases, incidents,
      "ts", "inc_start", "inc_end", bucketSeconds = 7200L)).sorted
    assert(paced == batch,
      "per-microbatch range join against the static must equal batch")
    // the many-match contract is actually exercised: at least one
    // purchase sits inside MORE than one incident window
    assert(paced.groupBy(_._1).values.exists(_.size > 1),
      "fixture should put some purchase in overlapping incident windows")
  }

  test("frequencyGrid: paced stream == batch (CMS cells sum across " +
      "microbatches); the foreachBatch probe flags a planted storm item " +
      "and never undercounts") {
    val d = "/root/testdata/sf0.001"
    val parts = graft.etl.Tables.exportedEventsParts(spark, d)
    val q = Streams.frequencyGrid(
        Streams.eventsStreamPaced(spark, parts, 1))
      .writeStream.format("memory").queryName("spec_freq")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 4,
      s"expected >=4 paced microbatches, saw ${q.recentProgress.length}")
    val key = Seq("event_type", "row", "bucket")
    val paced = spark.table("spec_freq").orderBy(key.map(col): _*)
      .collect().toSeq
    val batch = Streams
      .frequencyGrid(graft.etl.Tables.events(spark, d))
      .orderBy(key.map(col): _*).collect().toSeq
    assert(paced == batch,
      "CMS cells must sum across microbatches to the one-pass grid")

    // end-to-end monitor over the paced parts: a planted bot user
    // (written as an extra part) must alarm above maxCount while a
    // light watched user must not — and the estimate must never sit
    // below the true count (probed through the full gate wiring)
    val stormDir = java.nio.file.Files
      .createTempDirectory("graft_freq").toString
    graft.etl.Tables.events(spark, d).write.mode("overwrite")
      .parquet(stormDir)
    import spark.implicits._
    (1L to 400L).map(i => (90000L + i,
        new java.sql.Timestamp(i * 1000), 77777L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(stormDir)
    val watch = Seq(("click", "77777"), ("click", "1")).toDF(
      "event_type", "probe")
    var last: Map[(String, String), (Long, Boolean)] = Map.empty
    Streams.startFrequencyMonitor(spark, stormDir, watch,
      maxCount = 300L,
      sink = est => last = est.collect().map(r =>
        (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getBoolean(3))).toMap,
      filesPerTrigger = 2)
      .awaitTermination()
    val trueCounts = spark.read.parquet(stormDir)
      .filter(col("event_type") === "click" &&
        col("user_id").isin(77777L, 1L))
      .groupBy(col("user_id").cast("string").as("u"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(last(("click", "77777"))._2, "the storm item must alarm")
    assert(!last(("click", "1"))._2, "a light watched item must not")
    trueCounts.foreach { case (u, n) =>
      assert(last(("click", u))._1 >= n,
        s"CMS must never undercount: $u est ${last(("click", u))._1} < $n")
    }
  }

  test("decayedFrequencyGrid: paced stream == batch (decayed cells are " +
      "exact decimal sums); a LAST-WEEK storm stops alarming while a " +
      "fresh one still does — the long-running-monitor semantics") {
    val d = "/root/testdata/sf0.001"
    val t0 = 1704067200000000L   // 2024-01-01, the fixture window start
    val asOf = 1706659200000000L // 2024-01-31 -> B = 30 day half-lives
    val hl = 86400L
    val parts = graft.etl.Tables.exportedEventsParts(spark, d)
    val q = Streams.decayedFrequencyGrid(
        Streams.eventsStreamPaced(spark, parts, 1), t0, hl)
      .writeStream.format("memory").queryName("spec_freq_decay")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val key = Seq("event_type", "row", "bucket")
    val paced = spark.table("spec_freq_decay").orderBy(key.map(col): _*)
      .collect().toSeq
    val batch = Streams
      .decayedFrequencyGrid(graft.etl.Tables.events(spark, d), t0, hl)
      .orderBy(key.map(col): _*).collect().toSeq
    assert(paced == batch,
      "decayed cells must sum across microbatches to the one-pass grid")

    // two planted storms of IDENTICAL volume (400 clicks each): one on
    // day 0, one on day 29. As of day 30 the old storm's mass has
    // halved 30 times (est 400/2^30 ~ 4e-7) while the fresh one still
    // carries 400/2 = 200 — so with the same threshold the fresh storm
    // alarms and the month-old one does not, which is exactly what the
    // undecayed s16 grid cannot do (both count 400 forever)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_freq_decay").toString
    graft.etl.Tables.events(spark, d).write.mode("overwrite").parquet(dir)
    import spark.implicits._
    def plant(uid: Long, epochSec: Long) =
      (1L to 400L).map(i => (800000L + uid * 1000 + i,
          new java.sql.Timestamp(epochSec * 1000L + i), uid, "click",
          1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    plant(70001L, 1704070800L) // day 0 storm
    plant(70002L, 1706572800L) // day 29 storm
    val watch = Seq(("click", "70001"), ("click", "70002"))
      .toDF("event_type", "probe")
    var last: Map[String, (Double, Boolean)] = Map.empty
    Streams.startDecayedFrequencyMonitor(spark, dir, watch,
        maxDecayed = 100.0, t0Micros = t0, halfLifeSeconds = hl,
        asOfMicros = asOf,
        sink = est => last = est.collect().map(r =>
          r.getString(1) -> (r.getDouble(2), r.getBoolean(3))).toMap,
        filesPerTrigger = 2)
      .awaitTermination()
    assert(last("70002")._2, "the fresh storm must alarm")
    assert(!last("70001")._2,
      s"the month-old storm must have decayed below the threshold, " +
        s"est ${last("70001")._1}")
    // never undercounts the decayed truth: day-29 mass 400*2^29/2^30
    assert(last("70002")._1 >= 200.0,
      s"fresh-storm estimate ${last("70002")._1} undercuts 400/2")
  }

  test("epochCardinalityGrid: paced stream == batch (register maxima " +
      "merge slices exactly); a MONTH-OLD replay storm un-alarms while " +
      "an identical fresh one still fires — what s13's all-time " +
      "registers cannot do") {
    val d = "/root/testdata/sf0.001"
    val t0 = 1704067200000000L   // 2024-01-01, the fixture window start
    val asOf = 1706659200000000L // 2024-01-31 -> B = 30 day half-lives
    val hl = 86400L
    val parts = graft.etl.Tables.exportedEventsParts(spark, d)
    val q = Streams.epochCardinalityGrid(
        Streams.eventsStreamPaced(spark, parts, 1), t0, hl)
      .writeStream.format("memory").queryName("spec_card_decay")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val key = Seq("event_type", "epoch")
    val paced = spark.table("spec_card_decay").orderBy(key.map(col): _*)
      .collect().toSeq
    val batch = Streams
      .epochCardinalityGrid(graft.etl.Tables.events(spark, d), t0, hl)
      .orderBy(key.map(col): _*).collect().toSeq
    assert(paced == batch,
      "per-epoch registers must max-merge across microbatches to the " +
        "one-pass grid")

    // two planted replay storms of IDENTICAL shape (400 rows, ONE user
    // each), in their own event types so the fixture traffic stays
    // clean: as of day 30 the old storm's decayed row mass is
    // 400/2^30 ~ 4e-7 — under any activity floor — while the fresh one
    // still carries 200 decayed rows from ~0.5 decayed distinct users,
    // so the same thresholds alarm the fresh storm only. The undecayed
    // s13 monitor sees both storms identically forever.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_card_decay").toString
    graft.etl.Tables.events(spark, d).write.mode("overwrite").parquet(dir)
    import spark.implicits._
    def plant(uid: Long, typ: String, epochSec: Long) =
      (1L to 400L).map(i => (900000L + uid * 1000 + i,
          new java.sql.Timestamp(epochSec * 1000L + i), uid, typ,
          1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    plant(90001L, "storm_old", 1704070800L) // day 0 storm
    plant(90002L, "storm_new", 1706572800L) // day 29 storm
    var last: Map[String, (Double, Double, Boolean)] = Map.empty
    // minDistinct sits between the fresh storm's ~0.5 decayed users and
    // the fixture's organic ~5 decayed users per type (sf0.001 is tiny)
    Streams.startDecayedCardinalityMonitor(spark, dir,
        minDistinct = 2.0, maxRepeatFactor = 500.0, activityFloor = 1.0,
        t0Micros = t0, halfLifeSeconds = hl, asOfMicros = Some(asOf),
        sink = est => last = est.collect().map(r =>
          r.getString(0) -> (r.getDouble(2), r.getDouble(3),
            r.getBoolean(4))).toMap,
        filesPerTrigger = 2)
      .awaitTermination()
    assert(last("storm_new")._3,
      s"the fresh one-user storm must alarm: ${last("storm_new")}")
    assert(!last("storm_old")._3,
      s"the month-old storm must have decayed under the activity " +
        s"floor: ${last("storm_old")}")
    // the fresh storm's decayed rows replay the truth EXACTLY
    // (400 rows all in epoch 29: 400 * 2^29 / 2^30 = 200, exact
    // forward-mass arithmetic)
    assert(last("storm_new")._1 == 200.0,
      s"fresh-storm rows_decayed ${last("storm_new")._1}")
    // the fixture's organic traffic must NOT alarm: many distinct
    // recent users per type, modest rows-per-user
    Seq("click", "view", "purchase").foreach { t =>
      assert(!last(t)._3, s"organic $t traffic alarmed: ${last(t)}")
    }
  }

  test("decayed-monitor soak (s19/s20 long-horizon contract): 88 " +
      "half-lives of paced traffic keep state bounded — cardinality " +
      "grid saturates at types x 88 register sets, frequency grid at " +
      "types x depth x width cells — and the horizon raise_error " +
      "fires exactly at epoch 88, not 87") {
    val t0 = 1704067200000000L // 2024-01-01
    val hl = 3600L             // 1-hour half-life -> 88 epochs in ~4 days
    val hlUs = hl * 1000000L
    val types = Seq("soak_a", "soak_b")
    // epochs 0..87, every epoch populated: 5 users per (type, epoch),
    // users 1..3 recurring every epoch (their e_last advances — the
    // recency mechanism) and 2 epoch-local users (fresh mass each step).
    // Written as 11 time-ordered part files of 8 epochs each, paced one
    // file per trigger -> an 11-point state-size curve.
    val dir = Files.createTempDirectory("graft_soak").toString
    (0 until 11).foreach { part =>
      val rows = for {
        e <- (part * 8) until ((part + 1) * 8)
        t <- types
        u <- Seq(1L, 2L, 3L, 10000L + e * 2, 10001L + e * 2)
      } yield (e * 1000L + u, new Timestamp((t0 / 1000L) + e * hl * 1000L
          + 60000L), u, t, 1.0, "{}")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value",
          "props")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    // --- cardinality grid soak (s20 state shape) ---
    var curve = Vector.empty[(Long, Long)] // (state rows, max epoch)
    val p7 = 7
    val q = Streams.epochCardinalityGrid(
        Streams.eventsStreamPaced(spark, dir, 1), t0, hl, p = p7)
      .writeStream.outputMode("complete")
      .foreachBatch { (grid: org.apache.spark.sql.DataFrame, _: Long) =>
        val g = grid.agg(count(lit(1)), max(col("epoch"))).first()
        curve :+= (g.getLong(0), g.getLong(1))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    println(s"[soak] cardinality state-size curve (rows, maxEpoch): " +
      curve.mkString(" "))
    assert(curve.size == 11, s"expected 11 triggers, got ${curve.size}")
    // the curve is exactly types x epochs-seen: linear growth to the
    // 88-epoch horizon and NEVER beyond types x 88 — the bound that
    // makes the monitor run forever (with re-anchor) in fixed state
    curve.zipWithIndex.foreach { case ((rows, maxE), i) =>
      val epochsSeen = (i + 1) * 8
      assert(rows == types.size.toLong * epochsSeen,
        s"trigger $i: $rows state rows, want ${types.size * epochsSeen}")
      assert(maxE == epochsSeen - 1, s"trigger $i: max epoch $maxE")
      assert(rows <= types.size.toLong * 88, "state bound breached")
    }
    // register payload per state row is fixed: 2^p ints
    val gridB = Streams.epochCardinalityGrid(
      spark.read.parquet(dir), t0, hl, p = p7)
    val regLens = gridB.select(size(col("hll"))).distinct().collect()
      .map(_.getInt(0)).toSeq
    assert(regLens == Seq(1 << p7), s"register lengths $regLens")
    // decayed read-out at the horizon edge still works and weighs the
    // recurring users at ~1 (last seen in the as-of epoch) while each
    // epoch-local pair from e < 87 contributes 2^-(87-e) -> the
    // estimate sits near 3 + sum of decayed locals (~2 more), far
    // under the 88 * 5 raw user-slots — recency weighting, not a sum
    // of epoch counts
    val est = graft.ops.Stats.hllDecayedDistinct(gridB,
        Seq("event_type"), asOfMicros = t0 + 88L * hlUs - 1L,
        t0Micros = t0, halfLifeSeconds = hl, p = p7)
      .select(col("event_type"), col("est_decayed")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    types.foreach { t =>
      assert(est(t) >= 3.0 && est(t) <= 12.0,
        s"decayed distinct for $t = ${est(t)} out of the recency band")
    }
    // --- frequency grid soak (s19 state shape): cells never exceed
    // types x depth x width no matter how many epochs stream in ---
    var fcurve = Vector.empty[Long]
    val qf = Streams.decayedFrequencyGrid(
        Streams.eventsStreamPaced(spark, dir, 1), t0, hl,
        depth = 2, width = 32)
      .writeStream.outputMode("complete")
      .foreachBatch { (grid: org.apache.spark.sql.DataFrame, _: Long) =>
        fcurve :+= grid.count(); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    qf.awaitTermination()
    println(s"[soak] frequency state-size curve (cells): " +
      fcurve.mkString(" "))
    assert(fcurve.size == 11 && fcurve == fcurve.sorted,
      s"cell curve must be nondecreasing: $fcurve")
    assert(fcurve.last <= types.size.toLong * 2 * 32,
      s"cells ${fcurve.last} exceed types x depth x width")

    // --- the horizon contract, exactly at 88 ---
    def eventAt(us: Long) = Seq((1L, new Timestamp(us / 1000L), 1L,
        "soak_a", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${chain(t.getCause)}"
    // one microsecond below the boundary -> epoch 87, legal in BOTH
    // sketches (and the CMS's 2^87 forward weight must not overflow)
    val edge = eventAt(t0 + 88L * hlUs - 1L)
    assert(Streams.epochCardinalityGrid(edge, t0, hl, p = p7)
      .select(max(col("epoch"))).first().getLong(0) == 87L)
    // sum the MASS, not count(): count() prunes the cell-mass column
    // where the horizon guard lives (the round-13 bench-action lesson,
    // caught again here when count() silently passed the epoch-88 case)
    assert(graft.ops.Stats.cmsDecayedSketchBy(edge, Seq("event_type"),
        col("user_id").cast("string"), col("ts"), t0, hl,
        depth = 2, width = 32)
      .agg(sum(col("mass"))).first().getDecimal(0).signum() > 0)
    // at the boundary -> epoch 88, loud in BOTH sketches
    val over = eventAt(t0 + 88L * hlUs)
    val e1 = intercept[Exception] {
      Streams.epochCardinalityGrid(over, t0, hl, p = p7).count()
    }
    assert(chain(e1).contains("88-half-life horizon"), chain(e1).take(300))
    val e2 = intercept[Exception] {
      graft.ops.Stats.cmsDecayedSketchBy(over, Seq("event_type"),
          col("user_id").cast("string"), col("ts"), t0, hl,
          depth = 2, width = 32)
        .agg(sum(col("mass"))).first()
    }
    assert(chain(e2).contains("88-half-life horizon"), chain(e2).take(300))
  }

  test("ingestScreen: one row per input row — a repeated id and a null " +
      "id come through as they went in, each scored on its own text") {
    import graft.ops.{Dedup, TextOps}
    val d = "/root/testdata/sf0.01"
    val docs = graft.etl.Tables.documents(spark, d)
    val idx = Dedup.nearDupIndex(docs.select(col("doc_id"), col("text")))
      .localCheckpoint()
    val prof = TextOps.dsirProfile(docs, docs.filter(col("lang") === "en"))
      .localCheckpoint()
    // docs 0-2, a second copy of doc 0 and a null-id copy of doc 0
    val doc0 = docs.filter(col("doc_id") === 0)
    val input = docs.filter(col("doc_id") <= 2).unionByName(doc0)
      .unionByName(doc0.withColumn("doc_id", lit(null).cast("long")))
    type Screened = (Option[Long], Long, Long, Option[Double], Double, Long)
    def rows(b: org.apache.spark.sql.DataFrame): Seq[Screened] =
      b.select(col("doc_id"), col("is_near_dup"), col("n_grams"),
          col("log_weight"), col("quality"), col("pii").cast("long"))
        .collect().toSeq.map(r => (
          if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1),
          r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          r.getDouble(4), r.getLong(5)))
    val out = rows(Streams.ingestScreen(input, idx, prof))
    assert(out.size === 5, s"5 rows in, ${out.size} out")
    assert(out.map(_._1).sortBy(_.getOrElse(-1L)) ===
      Seq(None, Some(0L), Some(0L), Some(1L), Some(2L)))
    // every copy of doc 0 carries doc 0's own screen, id aside
    val alone = rows(Streams.ingestScreen(doc0, idx, prof)).head
    val copies = out.filter(r => r._1.forall(_ == 0L))
    assert(copies.size === 3)
    copies.foreach(r => assert(r.copy(_1 = Some(0L)) === alone))
    // n_grams counts the text's own bigrams, not those of every copy
    val text0 = doc0.select(col("text")).head().getString(0)
    assert(alone._3 === text0.trim.toLowerCase.split("\\s+").length - 1L)
    assert(alone._4.isDefined && alone._2 === 1L)
    // the standalone scorer obeys the same one-row-per-row contract
    val ds = TextOps.dsirScore(input, prof).collect()
    assert(ds.length === 5)
    val zeros = ds.filter(r => r.isNullAt(0) || r.getLong(0) == 0L)
    assert(zeros.length === 3)
    zeros.foreach(r => assert((r.getLong(1), r.getDouble(2)) ===
      ((alone._3, alone._4.get))))
  }

  test("StreamingQueries: statics warmed once, then every streaming " +
      "bench key runs to termination on sf0.001; a static missing after " +
      "warm-up fails naming itself") {
    // the exact entries Bench times, on the spec session
    val d = "/root/testdata/sf0.001"
    val failed = StreamingQueries.warmStatics(spark, d)
    assert(failed.isEmpty, s"warm-up failed: ${failed.map(_._1)}")
    assert(StreamingQueries.all.map(_._1).distinct.size == 21)
    StreamingQueries.all.foreach { case (name, start) =>
      val q = start(spark, d)
      try q.awaitTermination() finally if (q.isActive) q.stop()
      assert(q.recentProgress.exists(_.numInputRows > 0),
        s"$name read no input")
    }
    // warm-up seals the directory: a static whose build failed is
    // refused by name, never rebuilt inside a timed run
    val missing = Files.createTempDirectory("graft_nofixture").toString
    val broken = StreamingQueries.warmStatics(spark, missing).map(_._1)
    assert(broken.contains("band index"))
    val e = intercept[IllegalStateException](
      StreamingQueries.static(spark, missing, "band index"))
    assert(e.getMessage.contains("'band index'"))
  }
}
