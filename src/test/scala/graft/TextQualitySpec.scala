package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import graft.functions.{GraftFunctions, MisraGries, TextKernels}
import graft.ops.TextOps

/** Specs for the training-mix quality ops: repetition screens, per-group
  * caps, corpus heavy hitters (exact + Misra-Gries sketch), PII scrub. */
class TextQualitySpec extends SparkSpec {
  import spark.implicits._

  test("repetitionStats measures duplicate lines and the modal bigram") {
    val docs = Seq(
      (1L, "a b\na b\nc d"),      // 3 lines, one dup pair
      (2L, "x y\n\nz w"),         // blank line excluded
      (3L, "solo")                // single token: no bigrams
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionStats(docs).orderBy("doc_id").collect()
    // doc 1: lines [a b, a b, c d] -> 3 lines, 2 distinct; chars 9 vs 6;
    // tokens a b a b c d -> bigrams [a b, b a, a b, b c, c d], modal 2/5
    assert(out(0).getLong(1) == 3L)
    assert(out(0).getDouble(2) == 0.3333)
    assert(out(0).getDouble(3) == 0.3333)
    assert(out(0).getDouble(4) == 0.4)
    // doc 2: blank line dropped, no dups, 2 distinct bigrams... tokens
    // are x y z w -> bigrams [x y, y z, z w] all unique -> 1/3
    assert(out(1).getLong(1) == 2L)
    assert(out(1).getDouble(2) == 0.0)
    assert(out(1).getDouble(4) == 0.3333)
    // doc 3: one line, no bigrams -> fraction 0
    assert(out(2).getLong(1) == 1L)
    assert(out(2).getDouble(4) == 0.0)
  }

  test("capPerGroup keeps exactly n per group, deterministically") {
    val df = (1L to 25L).map(i => (i, if (i <= 15) "a" else "b"))
      .toDF("id", "grp")
    val cap = TextOps.capPerGroup(df, col("grp"), col("id"), n = 5,
      salt = "s1")
    val byGrp = cap.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp == Map("a" -> 5L, "b" -> 5L))
    assert(cap.agg(max("rk")).first().getInt(0) == 5)
    // reproducible: a second run selects the identical ids
    val ids1 = cap.select("id").collect().map(_.getLong(0)).toSet
    val ids2 = TextOps.capPerGroup(df, col("grp"), col("id"), 5, "s1")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // a different salt draws a different (independent) sample of "a"'s 15
    val ids3 = TextOps.capPerGroup(df, col("grp"), col("id"), 5, "s2")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 != ids3)
  }

  test("topNgrams ranks exact bigram counts with ngram tie-break") {
    val docs = Seq("a b a b", "a b c", "c d").toDF("text")
    // bigrams: doc1 [a b, b a, a b], doc2 [a b, b c], doc3 [c d]
    val out = TextOps.topNgrams(docs, n = 2, k = 3).orderBy("rk").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "a b", 3L), (2L, "b a", 1L), (3L, "b c", 1L)))
  }

  test("Misra-Gries sketch is exact when capacity exceeds the vocabulary " +
    "and an undercount within n/capacity when it does not") {
    val items = (Seq.fill(40)("hot") ++ Seq.fill(12)("warm") ++
      (1 to 28).map(i => s"cold$i"))
    val ds = spark.createDataset(scala.util.Random.shuffle(items))
      .repartition(4)
    val exact = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    // capacity > |vocab| = 30: exact
    val full = ds.select(MisraGries.sketch(64)).first()
    assert(full == exact)
    // capacity 8 over n=80: every estimate <= truth, undercount <= n/cap,
    // and any item with freq > n/cap = 10 must survive
    val small = ds.select(MisraGries.sketch(8)).first()
    small.foreach { case (k, est) =>
      val t = exact(k)
      assert(est <= t && t - est <= 80 / 8)
    }
    assert(small.contains("hot") && small.contains("warm"))
  }

  test("writeTrainingMix: deterministic membership, cap respected, " +
      "packing survives the round trip") {
    val docs = (1L to 200L).map(i =>
      (i, s"src${i % 3}", Seq.fill((i % 7).toInt + 1)("w").mkString(" ")))
      .toDF("doc_id", "source", "text")
    def run(tag: String) = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"mix_$tag").toString
      TextOps.writeTrainingMix(docs, dir, capPerSource = 20,
          rate = lit(0.5), salt = "s", capacity = 10, buckets = 4)
        .select("doc_id", "source", "bucket", "bin", "n_tokens")
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getAs[Number](2).longValue(), r.getLong(3), r.getLong(4)))
        .toSet
    }
    val a = run("a")
    assert(a.nonEmpty)
    // same salt + inputs -> identical mix, file layout independent
    assert(a === run("b"))
    // the cap bounds every source BEFORE sampling, so no source can
    // exceed it after
    val bySource = a.groupBy(_._2).view.mapValues(_.size)
    assert(bySource.values.forall(_ <= 20), bySource.toMap.toString)
    // packing invariant holds on the read-back frame: within a bucket,
    // bins are dense from 0 and every doc's bin matches the running sum
    // of earlier docs' tokens
    a.groupBy(_._3).foreach { case (_, rows) =>
      var before = 0L
      rows.toSeq.sortBy(_._1).foreach { case (_, _, _, bin, n) =>
        assert(bin === before / 10)
        before += n
      }
    }
  }

  test("chunkDocuments: exact boundaries, overlap shared, every token " +
      "covered; short docs stay whole") {
    // 10 tokens at maxTokens=4, overlap=1 (stride 3): [1-4] [4-7] [7-10]
    val docs = Seq((1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (2L, "short doc here")).toDF("doc_id", "text")
    val out = TextOps.chunkDocuments(docs, maxTokens = 4, overlap = 1)
      .orderBy("doc_id", "chunk_no").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 0L, "t1 t2 t3 t4", 4L),
      (1L, 1L, "t4 t5 t6 t7", 4L),
      (1L, 2L, "t7 t8 t9 t10", 4L),
      (2L, 0L, "short doc here", 3L)))
    // property sweep on the fixture: chunk counts reconstruct exactly,
    // consecutive chunks share `overlap` tokens, concatenating chunk
    // tokens minus overlaps replays the doc
    val d = "/root/testdata/sf0.001"
    val fixture = graft.etl.Tables.documents(spark, d)
    val chunks = TextOps.chunkDocuments(fixture, maxTokens = 40,
      overlap = 8)
    val chk = chunks.groupBy("doc_id")
      .agg(sum(col("n_chunk_tokens")).as("sum_chunk"),
        count(lit(1)).as("n_chunks"))
      .join(fixture.select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens")), Seq("doc_id"))
    // sum of chunk tokens = doc tokens + overlap per extra chunk
    assert(chk.filter(col("sum_chunk") =!=
      col("n_tokens") + (col("n_chunks") - 1) * 8).count() === 0L)
    // both multi-chunk and single-chunk docs are present in the sweep
    assert(chk.filter(col("n_chunks") > 1).count() > 0)
    assert(chk.filter(col("n_chunks") === 1).count() > 0)
  }

  test("keepTopFraction: exact integer boundaries per group; best score " +
      "survives first; a singleton group keeps nothing at 3/4") {
    // groups of 4, 5 and 1 at num/den = 3/4: rank*4 <= n*3 keeps
    // exactly 3 (4*3/4), 3 (floor of 3.75) and 0 (1*4 > 3)
    val df = Seq(
      ("a", 1L, 0.9), ("a", 2L, 0.8), ("a", 3L, 0.7), ("a", 4L, 0.6),
      ("b", 5L, 0.5), ("b", 6L, 0.5), ("b", 7L, 0.4), ("b", 8L, 0.3),
      ("b", 9L, 0.2),
      ("c", 10L, 1.0)
    ).toDF("source", "doc_id", "score")
    val out = TextOps.keepTopFraction(df, col("source"), col("score"),
        col("doc_id"), num = 3, den = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("is_kept"), r.getAs[Int]("grp_rank"))).toMap
    assert(out.view.mapValues(_._1).toMap === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L,
      5L -> 1L, 6L -> 1L, 7L -> 1L, 8L -> 0L, 9L -> 0L,
      10L -> 0L))
    // equal scores rank by id ascending — 5 before 6
    assert(out(5L)._2 === 1 && out(6L)._2 === 2)
    // one group-keyed exchange, nothing else
    val plan = TextOps.keepTopFraction(df, col("source"), col("score"),
      col("doc_id"), 3, 4).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(1500))
    assert("hashpartitioning".r.findAllIn(plan).size <= 2, plan.take(1500))
  }

  test("c4LineFilter: the three line rules and the page screens on a " +
      "hand-built doc; pure projection (no exchange in the plan)") {
    val text = Seq(
      "A good first sentence with plenty of words here.",   // kept
      "no terminal punctuation so this one dies",           // punct rule
      "Too short.",                                         // word floor
      "  An indented line that still ends properly, kept!  ", // kept (trim)
      "Enable JavaScript to view the comments.",            // blocklist
      "Review our Cookie Policy before you continue today.",// blocklist
      "Ends with a quoted word so it survives the \"rules\"" // kept (quote)
    ).mkString("\n")
    val docs = Seq((1L, text), (2L, "lorem ipsum { dolor sit amet."))
      .toDF("doc_id", "text")
    val out = TextOps.c4LineFilter(docs, minWords = 5,
        blocklist = Seq("javascript", "cookie policy"))
      .orderBy("doc_id").collect()
    val r1 = out(0)
    assert(r1.getString(1) ===
      Seq("A good first sentence with plenty of words here.",
        "  An indented line that still ends properly, kept!  ",
        "Ends with a quoted word so it survives the \"rules\"")
        .mkString("\n"))
    assert(r1.getLong(2) === 3L && r1.getLong(3) === 4L)
    assert(r1.getBoolean(4), "doc 1 passes the page screens")
    assert(!out(1).getBoolean(4),
      "lorem ipsum + brace must trip the page screens")
    // scale shape: a pure per-row projection — no exchange, no join,
    // no window anywhere in the plan
    val plan = TextOps.c4LineFilter(docs).queryExecution.executedPlan
      .toString
    assert(!plan.contains("Exchange") && !plan.contains("Join") &&
      !plan.contains("Window"), plan.take(1500))
    // the blocklist is case-insensitive on BOTH sides: natural-casing
    // entries must screen exactly like their lowercase forms
    val mixed = TextOps.c4LineFilter(docs, minWords = 5,
        blocklist = Seq("JavaScript", "Cookie Policy"))
      .orderBy("doc_id").collect()
    assert(mixed(0).getString(1) === r1.getString(1) &&
      mixed(0).getLong(3) === r1.getLong(3),
      "mixed-case blocklist entries must match case-insensitively")
  }

  test("writeTrainingMixSharded: same mix as the bucket layout, audit " +
      "passes, and per-shard file order replays hashShard's order") {
    val docs = (1L to 200L).map(i =>
      (i, s"src${i % 3}", Seq.fill((i % 7).toInt + 1)("w").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("mix_shard").toString
    val back = TextOps.writeTrainingMixSharded(docs, dir, capPerSource = 20,
      rate = lit(0.5), salt = "s", capacity = 10, buckets = 4, shards = 4)
    // the mix is the SAME mix as writeTrainingMix (same salt/inputs) —
    // sharding only changes the layout, never membership
    val bucketDir =
      java.nio.file.Files.createTempDirectory("mix_bucket").toString
    val bucketed = TextOps.writeTrainingMix(docs, bucketDir,
      capPerSource = 20, rate = lit(0.5), salt = "s", capacity = 10,
      buckets = 4)
    assert(back.select("doc_id").collect().map(_.getLong(0)).toSet ===
      bucketed.select("doc_id").collect().map(_.getLong(0)).toSet)
    // the audit contract survives the sharded layout unchanged
    assert(TextOps.auditTrainingMix(spark, dir)
      .filter(!col("ok")).count() === 0)
    // shard assignment and within-shard file order replay the public
    // hashShard twin exactly: reading shard s's rows in file order IS
    // the documented (shuffle_key, doc_id) hash order
    val hs = TextOps.hashShard(back.select("doc_id").distinct(),
        shards = 4, salt = "s:shuffle")
      .collect()
      .map(r => r.getLong(0) -> (r.getAs[Number]("shard").longValue(),
        r.getAs[String]("shuffle_key"))).toMap
    (0 until 4).foreach { s =>
      val got = spark.read.parquet(s"$dir/shard=$s")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val members = hs.filter(_._2._1 == s).keys.toSeq
      assert(got.toSet === members.toSet,
        s"shard $s membership diverged from hashShard")
      val expected = members.sortBy(id => (hs(id)._2, id))
      assert(got === expected,
        s"shard $s file order is not the documented hash order")
    }
  }

  test("auditTrainingMix: clean layout audits ok; a dropped partition " +
      "surfaces as ok=false") {
    val docs = (1L to 100L).map(i =>
      (i, s"src${i % 2}", Seq.fill((i % 5).toInt + 1)("w").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("mix_audit").toString
    TextOps.writeTrainingMix(docs, dir, capPerSource = 60, rate = lit(0.5),
      salt = "a", capacity = 12, buckets = 4)
    val clean = TextOps.auditTrainingMix(spark, dir)
    assert(clean.count() > 0 && clean.filter(!col("ok")).count() === 0)
    // drop one bucket's payload directory -> every bin of that bucket
    // must flag, the rest stay ok
    val victim = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket=")).head
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
    }
    rm(victim)
    val audit = TextOps.auditTrainingMix(spark, dir)
    val droppedBucket = victim.getName.stripPrefix("bucket=").toLong
    assert(audit.filter(col("bucket") === droppedBucket)
      .filter(col("ok")).count() === 0)
    assert(audit.filter(col("bucket") =!= droppedBucket)
      .filter(!col("ok")).count() === 0)
    // repair rewrites ONLY the damaged bucket (healthy buckets' files
    // keep their mtimes) and the post-repair audit is clean
    val healthyFiles = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified()).toMap
    val repaired = TextOps.repairTrainingMix(docs, dir, capPerSource = 60,
      rate = lit(0.5), salt = "a", capacity = 12, buckets = 4)
    assert(repaired.filter(!col("ok")).count() === 0)
    healthyFiles.foreach { case (p, mtime) =>
      assert(new java.io.File(p).lastModified() === mtime,
        s"healthy file rewritten: $p")
    }
  }

  test("materializeSequences concatenates bin members in id order") {
    val docs = Seq((1L, "a a"), (2L, "b"), (3L, "c c c"), (5L, "d"))
      .toDF("doc_id", "text")
    val packed = TextOps.packDocuments(docs, capacity = 3, buckets = 1)
    val out = TextOps.materializeSequences(docs, packed, sep = "|")
      .orderBy("bin").collect()
    // tokens: 2,1,3,1 -> bins by running sum/3: doc1@0->bin0, doc2@2->
    // bin0, doc3@3->bin1, doc5@6->bin2
    assert(out.map(r => (r.getLong(1), r.getString(4))).toSeq ===
      Seq((0L, "a a|b"), (1L, "c c c"), (2L, "d")))
  }

  test("scrubPii masks planted e-mails, phones and cards and counts them") {
    val docs = Seq(
      (1L, "mail me at jo.doe+x@ex-mail.co or call 555-123-4567"),
      (2L, "card 4111111111111111 and phone 555.987.6543"),
      (3L, "nothing here 12345")
    ).toDF("doc_id", "text")
    val out = TextOps.scrubPii(docs).orderBy("doc_id").collect()
    assert(out(0).getString(1) == "mail me at <EMAIL> or call <PHONE>")
    assert((out(0).getLong(2), out(0).getLong(3), out(0).getLong(4)) ==
      (1L, 1L, 0L))
    assert(out(1).getString(1) == "card <CARD> and phone <PHONE>")
    assert((out(1).getLong(2), out(1).getLong(3), out(1).getLong(4)) ==
      (0L, 1L, 1L))
    // 5-digit run is neither a card nor a phone
    assert(out(2).getString(1) == "nothing here 12345")
    assert((out(2).getLong(2), out(2).getLong(3), out(2).getLong(4)) ==
      (0L, 0L, 0L))
  }

  test("lmScore: hand-computed bigram model; gibberish scores below " +
      "in-distribution text") {
    // corpus: doc1 "a b a b", doc2 "a c", doc3 "a" (no bigram)
    // bigram counts: "a b"->2, "b a"->1, "a c"->1; prefix counts:
    // a->3, b->1; vocab V = |{a,b,c}| = 3
    val corpus = Seq((1L, "a b a b"), (2L, "a c"), (3L, "a"))
      .toDF("doc_id", "text")
    val out = TextOps.lmScore(corpus, corpus).orderBy("doc_id").collect()
    // doc1: "a b" ln((2+1)/(3+3)) twice, "b a" ln((1+1)/(1+3)) — every
    // term ln(0.5) -> avg = ln(0.5) = -0.693147
    assert(out(0).getLong(1) === 3L)
    assert(out(0).getDouble(2) === -0.693147)
    // doc2: "a c" ln((1+1)/(3+3)) = ln(1/3) = -1.098612
    assert(out(1).getLong(1) === 1L)
    assert(out(1).getDouble(2) === -1.098612)
    // doc3: no bigram -> no evidence, NULL score
    assert(out(2).getLong(1) === 0L)
    assert(out(2).isNullAt(2))
    // discrimination on the fixture: reversing token ORDER destroys
    // bigram structure while keeping every unigram — the reversed corpus
    // must score strictly below the original under the original's model
    val docs = graft.etl.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val reversed = docs.select(col("doc_id"),
      array_join(reverse(split(lower(trim(col("text"))), "\\s+")), " ")
        .as("text"))
    def meanScore(scored: org.apache.spark.sql.DataFrame): Double =
      scored.agg(avg(col("avg_logp"))).first().getDouble(0)
    val natural = meanScore(TextOps.lmScore(docs, docs))
    val shuffled = meanScore(TextOps.lmScore(reversed, docs))
    info(f"mean avg_logp: natural $natural%.4f, token-reversed " +
      f"$shuffled%.4f")
    assert(natural > shuffled,
      f"LM score failed to separate in-distribution from reversed text: " +
        f"$natural%.4f <= $shuffled%.4f")
  }

  test("epochAllocation: small sources repeat to the cap, large sources " +
      "subsample to the budget, deterministically") {
    // "small": 5 docs x 20 tokens = 100 tokens, budget 1000 -> epochs
    // capped at 4.0 exactly -> every doc gets exactly 4 copies (no
    // fractional pick). "big": 100 docs x 20 tokens = 2000 tokens ->
    // epochs 0.5 -> 0 full copies + ~half the docs picked by hash
    val twenty = (1 to 20).map(i => s"w$i").mkString(" ")
    val small = (1 to 5).map(i => (i.toLong, twenty, "small"))
    val big = (101 to 200).map(i => (i.toLong, twenty, "big"))
    val docs = (small ++ big).toDF("doc_id", "text", "source")
    val out = TextOps.epochAllocation(docs, budgetTokens = 1000L,
      maxEpochs = 4.0).localCheckpoint()
    val smallCopies = out.filter(col("source") === "small")
      .select(col("n_copies")).collect().map(_.getLong(0))
    assert(smallCopies.length === 5 && smallCopies.forall(_ === 4L),
      s"capped source must take exactly maxEpochs copies: " +
        smallCopies.mkString(","))
    val bigCopies = out.filter(col("source") === "big")
      .select(col("n_copies")).collect().map(_.getLong(0))
    assert(bigCopies.forall(c => c == 0L || c == 1L),
      "a half-epoch source must only ever pick 0 or 1 copies")
    val picked = bigCopies.sum
    // Bernoulli(0.5) over 100 docs: 4-sigma band around 50
    assert(picked >= 30 && picked <= 70,
      s"half-epoch pick far off budget: $picked of 100")
    // deterministic: identical on re-run
    val again = TextOps.epochAllocation(docs, budgetTokens = 1000L,
      maxEpochs = 4.0).select(col("doc_id"), col("n_copies"))
    assert(out.select(col("doc_id"), col("n_copies"))
      .except(again).count() === 0L)
  }

  test("epochAllocation caps a zero-token source at maxEpochs " +
      "(explicit branch — ANSI-safe, no divide-by-zero)") {
    // an all-empty-doc source has sum(n_tokens)=0: under ANSI mode
    // (Spark 4's default) budget/0 would RAISE, so the allocation takes
    // an explicit when(st=0) branch that lands the source exactly at
    // the epoch cap — every doc gets precisely floor(maxEpochs) copies
    // with zero fractional pick. This pins the edge on the engine, not
    // just in prose.
    val docs = Seq(
      (1L, "", "empty"), (2L, "   ", "empty"), (3L, "", "empty"),
      (10L, "a b c d e", "normal"), (11L, "f g h i j", "normal"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.epochAllocation(docs, budgetTokens = 100L,
      maxEpochs = 4.0).localCheckpoint()
    val empties = out.filter(col("source") === "empty")
      .select(col("n_tokens").cast("long"), col("n_copies"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(empties.length === 3 && empties.forall(_ == (0L, 4L)),
      s"zero-token source must take exactly maxEpochs copies: " +
        empties.mkString(","))
    // the normal source is untouched by the edge: 10 tokens, budget 100
    // -> capped at 4.0 too, full copies only
    val normal = out.filter(col("source") === "normal")
      .select(col("n_copies")).collect().map(_.getLong(0))
    assert(normal.forall(_ === 4L))
    // the temperature variant has the same 0/0 hazard (share 0 over
    // tokens 0) and the same pinned answer
    val tOut = TextOps.temperatureAllocation(docs, totalBudgetTokens = 100L,
      temperature = 2.0, maxEpochs = 4.0)
      .filter(col("source") === "empty")
      .select(col("n_copies")).collect().map(_.getLong(0))
    assert(tOut.length === 3 && tOut.forall(_ === 4L),
      s"temperature variant must cap a zero-token source: " +
        tOut.mkString(","))
  }

  test("temperatureAllocation: T=1 is proportional, larger T upsamples " +
      "low-resource sources") {
    // big: 200 docs x 20 tokens = 4000; small: 100 docs x 5 tokens = 500
    val big = (1 to 200).map(i =>
      (i.toLong, (1 to 20).map(j => s"b$j").mkString(" "), "big"))
    val small = (1001 to 1100).map(i =>
      (i.toLong, "s1 s2 s3 s4 s5", "small"))
    val docs = (big ++ small).toDF("doc_id", "text", "source")
    def meanCopies(t: Double): Map[String, Double] =
      TextOps.temperatureAllocation(docs, totalBudgetTokens = 4000L,
          temperature = t, maxEpochs = 100.0)
        .groupBy(col("source"))
        .agg((sum(col("n_copies")).cast("double") / count(lit(1)))
          .as("m"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // T=1: every source gets the same epoch count (B / total tokens =
    // 4000/4500 ≈ 0.889) — the means may only differ by Bernoulli noise
    val m1 = meanCopies(1.0)
    assert(math.abs(m1("big") - m1("small")) < 0.2,
      s"T=1 must be proportional: $m1")
    // T=2: e_small = 4000*(sqrt(500)/z)/500 ≈ 2.09 -> every small doc
    // at least 2 copies (integer floor, deterministic), e_big ≈ 0.74 ->
    // every big doc at most 1
    val a2 = TextOps.temperatureAllocation(docs, 4000L, temperature = 2.0,
      maxEpochs = 100.0).localCheckpoint()
    val smallMin = a2.filter(col("source") === "small")
      .agg(min(col("n_copies"))).first().getLong(0)
    val bigMax = a2.filter(col("source") === "big")
      .agg(max(col("n_copies"))).first().getLong(0)
    assert(smallMin >= 2L, s"T=2 small-source floor lost: $smallMin")
    assert(bigMax <= 1L, s"T=2 big-source cap lost: $bigMax")
    // flattening is monotone in T: the low-resource source's mean only
    // grows as T rises (2.09 at T=2 -> ~2.98 at T=4)
    val m2 = meanCopies(2.0)
    val m4 = meanCopies(4.0)
    info(f"small-source mean copies: T=1 ${m1("small")}%.2f, " +
      f"T=2 ${m2("small")}%.2f, T=4 ${m4("small")}%.2f")
    assert(m4("small") > m2("small") && m2("small") > m1("small"),
      s"temperature must monotonically upsample the small source: " +
        s"$m1 / $m2 / $m4")
  }

  test("shardShuffle: equal contiguous shards, deterministic, covering; " +
      "hashShard twin is map-side and balanced") {
    // 103 rows into 8 shards: 103 = 8*12 + 7, so exactly seven shards
    // of 13 and one of 12 — the floor(i*S/n) partition's guarantee
    val df = spark.range(1, 104).select(col("id").as("doc_id"))
    val out = TextOps.shardShuffle(df, shards = 8).localCheckpoint()
    val sizes = out.groupBy(col("shard")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.keySet === (0L until 8L).toSet)
    assert(sizes.values.toSeq.sorted === Seq(12L, 13L, 13L, 13L, 13L,
      13L, 13L, 13L), s"unbalanced: $sizes")
    // positions are contiguous 0..size-1 within every shard
    val posOk = out.groupBy(col("shard"))
      .agg(min(col("pos_in_shard")).as("mn"), max(col("pos_in_shard")).as("mx"),
        count(lit(1)).as("n"), count_distinct(col("pos_in_shard")).as("nd"))
      .collect()
    posOk.foreach { r =>
      assert(r.getAs[Long]("mn") === 0L &&
        r.getAs[Long]("mx") === r.getAs[Long]("n") - 1 &&
        r.getAs[Long]("nd") === r.getAs[Long]("n"), r.toString)
    }
    // reading (shard, pos) order replays the global hash order exactly
    val byShardPos = out.orderBy(col("shard"), col("pos_in_shard"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val byHash = df.orderBy(
        md5(concat(lit("shuffle"), col("doc_id").cast("string"))),
        col("doc_id"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(byShardPos === byHash)
    // it IS a shuffle: the permutation differs from id order
    assert(byHash !== byHash.sorted)
    // deterministic on re-run
    val again = TextOps.shardShuffle(df, shards = 8)
    assert(out.except(again).count() === 0L && again.except(out).count() === 0L)
    // the scale twin: no exchange/window anywhere in the plan (pure
    // per-row projection), and balance within Bernoulli tolerance
    val hs = TextOps.hashShard(df, shards = 8)
    val plan = hs.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Window"),
      s"hashShard must be map-side only:\n$plan")
    val hsSizes = hs.groupBy(col("shard")).count()
      .collect().map(_.getLong(1))
    assert(hsSizes.forall(n => n > 0 && n < 40),
      s"hashShard badly unbalanced: ${hsSizes.mkString(",")}")
    // the bounded-corpus guard: an input past maxRows fails the job
    // with the hashShard pointer instead of silently serializing
    val boom = intercept[Exception] {
      TextOps.shardShuffle(df, shards = 8, maxRows = 10).collect()
    }
    assert(String.valueOf(boom.getMessage).contains("hashShard") ||
      String.valueOf(boom.getCause).contains("hashShard"), boom.toString)
  }

  test("lmScoreByLang: each doc scores against its own language's model") {
    // en model from doc1 only, fr model from doc2 only — the language
    // key must keep the two count tables fully separate:
    // doc1 (en): "a b" ln((2+1)/(2+2)) twice, "b a" ln((1+1)/(1+2))
    //   -> avg = (2*ln 0.75 + ln(2/3))/3 = -0.326943
    // doc2 (fr): "a c" ln((1+1)/(1+2)) = ln(2/3) = -0.405465
    // (under the BLENDED t48 model doc2 would see V=3 and score
    // ln(2/6) instead — keyed counts are observably different)
    val corpus = Seq((1L, "a b a b", "en"), (2L, "a c", "fr"))
      .toDF("doc_id", "text", "lang")
    val out = TextOps.lmScoreByLang(corpus, corpus)
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) === "en")
    assert(out(0).getLong(2) === 3L)
    assert(out(0).getDouble(3) === -0.326943)
    assert(out(1).getString(1) === "fr")
    assert(out(1).getLong(2) === 1L)
    assert(out(1).getDouble(3) === -0.405465)
    // fixture sanity: every doc comes back, langs preserved, every doc
    // with a bigram is scored
    val docs = graft.etl.Tables.documents(spark, "/root/testdata/sf0.001")
    val scored = TextOps.lmScoreByLang(docs, docs).localCheckpoint()
    assert(scored.count() === docs.count())
    assert(scored.filter(col("n_bigrams") > 0 && col("avg_logp").isNull)
      .count() === 0L)
  }

  test("stratifiedSplit: exact per-stratum proportions, deterministic, " +
      "covering; hashSplit is map-side and within Bernoulli tolerance") {
    val docs = graft.etl.Tables.documents(spark, "/root/testdata/sf0.001")
    val w = Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125)
    val split = TextOps.stratifiedSplit(docs, w).localCheckpoint()
    // every row labeled, none dropped or duplicated
    assert(split.count() === docs.count())
    assert(split.filter(!col("split").isin("train", "val", "test"))
      .count() === 0L)
    // EXACT floor-boundary proportions per stratum: train gets
    // floor(0.75n), val floor(0.875n)-floor(0.75n), test the rest
    val got = split.groupBy(col("source"), col("split")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val sizes = docs.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (src, n) =>
      val train = math.floor(0.75 * n).toLong
      val vl = math.floor(0.875 * n).toLong - train
      assert(got.getOrElse((src, "train"), 0L) === train,
        s"$src train: ${got.get((src, "train"))} != $train of $n")
      assert(got.getOrElse((src, "val"), 0L) === vl,
        s"$src val: ${got.get((src, "val"))} != $vl of $n")
      assert(got.getOrElse((src, "test"), 0L) === n - train - vl)
    }
    // deterministic: a re-run assigns identical labels
    val again = TextOps.stratifiedSplit(docs, w)
      .select(col("doc_id"), col("split"))
    assert(split.select(col("doc_id"), col("split"))
      .except(again).count() === 0L)
    // a different salt reshuffles membership (not a constant function)
    val other = TextOps.stratifiedSplit(docs, w, salt = "other")
      .select(col("doc_id"), col("split"))
    assert(split.select(col("doc_id"), col("split"))
      .except(other).count() > 0L)
    // hashSplit: the scale twin must be map-side only — no exchange, no
    // window in the plan — and land within Bernoulli tolerance
    val hs = TextOps.hashSplit(docs, w)
    val plan = hs.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Window"),
      s"hashSplit must stay map-side, got:\n$plan")
    val n = docs.count().toDouble
    val trainFrac = hs.filter(col("split") === "train").count() / n
    // 0.75 +- 4 sigma of sqrt(p(1-p)/n)
    val tol = 4 * math.sqrt(0.75 * 0.25 / n)
    assert(math.abs(trainFrac - 0.75) <= tol,
      f"hashSplit train fraction $trainFrac%.4f off 0.75 (tol $tol%.4f)")
  }

  test("dsirWeights: target-like docs outscore off-distribution ones; " +
      "gramless docs return n_grams 0 / NULL weight; deterministic") {
    // target distribution: bigrams over a small 'alpha…' vocabulary
    val target = (1 to 20).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (101L, "alpha beta gamma delta"),  // in-distribution
      (102L, "qq ww ee rr tt"),          // off-distribution
      (103L, "solo")                     // 1 token -> no bigrams
    ).toDF("doc_id", "text")
    val w = TextOps.dsirWeights(raw, target, n = 2, buckets = 256)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    assert(w(101)._1 === 3L && w(102)._1 === 4L)
    assert(w(103) === ((0L, None)),
      "a gramless doc must carry no evidence")
    assert(w(101)._2.get > w(102)._2.get,
      s"in-distribution doc must outscore the off-distribution one: $w")
    // every off-distribution bigram sits at the smoothing floor
    // ln(1·(Nr+B) / ((cr+1)·(Nt+B))) < 0 for this fixture's totals
    assert(w(102)._2.get < 0.0)
    // hash-bucketed features + decimal accumulation: bit-for-bit rerun
    val w2 = TextOps.dsirWeights(raw, target, n = 2, buckets = 256)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    assert(w === w2)
  }

  test("prioritySample: exactly min(k, group) rows, deterministic, and " +
      "heavy rows win far more often than light ones") {
    import spark.implicits._
    // 60 groups, each one heavy row (w=500) among 20 light (w=1):
    // weight-proportional sampling must pick the heavy row in most
    // groups, a uniform sample only ~1/21 of the time
    val df = (0 until 60).flatMap(g =>
      (0 until 21).map(i =>
        (g.toLong, g * 100L + i, if (i == 0) 500L else 1L)))
      .toDF("grp", "doc_id", "w")
    val s1 = TextOps.prioritySample(df, col("grp"), col("w"),
      col("doc_id"), k = 1)
    assert(s1.count() === 60L, "exactly one winner per group")
    val heavyWins = s1.filter(col("w") === 500L).count()
    // deterministic (md5-derived): measured below; a uniform sampler
    // would land near 60/21 ~ 3
    assert(heavyWins >= 40L,
      s"heavy row must dominate: won $heavyWins/60")
    // k >= group size degenerates to the whole group, and the sample
    // is a bit-stable subset of the input
    val all = TextOps.prioritySample(df.filter(col("grp") === 0),
      col("grp"), col("w"), col("doc_id"), k = 30)
    assert(all.count() === 21L)
    val s2 = TextOps.prioritySample(df, col("grp"), col("w"),
      col("doc_id"), k = 1).collect().map(_.getLong(1)).toSet
    assert(s2 === s1.collect().map(_.getLong(1)).toSet)
    // the rank plans as a WindowGroupLimit (map-side partial top-k)
    val plan = TextOps.prioritySample(df, col("grp"), col("w"),
      col("doc_id"), k = 1).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(1200))
  }

  test("sparseCosineTopK: hand-computed tf-idf cosines, df-pruning " +
      "drops stop-term-only pairs but keeps norms, symmetric, " +
      "termless docs pairless") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana cherry"), (2L, "apple banana damson"),
      (3L, "apple evergreen fig"), (4L, "zebra yak xylophone"))
      .toDF("doc_id", "text")
    def m(num: Int, den: Int, k: Int = 3) =
      TextOps.sparseCosineTopK(docs, k = k, maxDfNum = num,
          maxDfDen = den)
        .collect().map(r => (r.getLong(0), r.getLong(2)) ->
          r.getDouble(3)).toMap
    // expected from the same formula: w = tf * ln(4/df)
    val wApple = math.log(4.0 / 3); val wBanana = math.log(2.0)
    val wUniq = math.log(4.0)
    val n12 = math.sqrt(wApple * wApple + wBanana * wBanana +
      wUniq * wUniq)
    val n3 = math.sqrt(wApple * wApple + 2 * wUniq * wUniq)
    val full = m(1, 1) // cap = N: nothing pruned, exact tf-idf cosine
    assert(math.abs(full((1L, 2L)) -
      (wApple * wApple + wBanana * wBanana) / (n12 * n12)) < 1e-3)
    assert(math.abs(full((1L, 3L)) -
      wApple * wApple / (n12 * n3)) < 1e-3)
    assert(full((1L, 2L)) > full((1L, 3L)),
      "two shared terms must beat one")
    assert(full.keys.count(_._1 == 4L) === 0, "disjoint doc has no pairs")
    assert(full((2L, 1L)) === full((1L, 2L)), "cosine is symmetric")
    // prune apple (df 3 > 4*1/2): the 1-3 pair vanishes (apple was its
    // only link); 1-2 survives via banana with apple still in the NORM
    val pruned = m(1, 2)
    assert(!pruned.contains((1L, 3L)),
      "a pair linked only by a pruned term must disappear")
    assert(math.abs(pruned((1L, 2L)) -
      wBanana * wBanana / (n12 * n12)) < 1e-3,
      "pruned terms leave the dot but stay in the norms")
  }

  test("bm25TopK: hand-computed scores, tf saturation below idf*(k1+1), " +
      "b=0 kills length normalization, query terms count once, df cap " +
      "prunes postings, unmatched query rowless") {
    import spark.implicits._
    // N=3, Ltot=9: df(apple)=df(banana)=2, the cherry family df=1
    val corpus = Seq(
      (1L, "apple banana"), (2L, "apple apple apple banana"),
      (3L, "cherry damson evergreen")).toDF("doc_id", "text")
    def run(qs: Seq[(Long, String)], k1: Double = 1.2,
            b: Double = 0.75, num: Int = 1, den: Int = 1) =
      TextOps.bm25TopK(qs.toDF("doc_id", "text"), corpus, k = 3,
          k1 = k1, b = b, maxDfNum = num, maxDfDen = den)
        .collect().map(r => (r.getLong(0), r.getLong(2)) ->
          r.getDouble(3)).toMap
    val idfA = math.log(1.0 + 1.5 / 2.5)
    def tfn(tf: Long, dl: Long, k1: Double = 1.2, b: Double = 0.75) =
      tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * (dl * 3.0 / 9.0)))
    val one = run(Seq((10L, "apple")))
    assert(math.abs(one((10L, 1L)) - idfA * tfn(1, 2)) < 1e-3)
    assert(math.abs(one((10L, 2L)) - idfA * tfn(3, 4)) < 1e-3)
    assert(one((10L, 2L)) > one((10L, 1L)),
      "tf 3 in a 4-token doc must beat tf 1 in a 2-token doc")
    assert(!one.contains((10L, 3L)), "no shared term, no row")
    // saturation: every contribution sits below idf * (k1 + 1)
    assert(one.values.forall(_ < idfA * 2.2))
    // a repeated query term scores once (the distinct rule)
    assert(run(Seq((10L, "apple apple apple"))) === one)
    // b = 0: doc length leaves the formula entirely
    val nob = run(Seq((10L, "apple")), b = 0.0)
    assert(math.abs(nob((10L, 1L)) - idfA * (2.2 / 2.2)) < 1e-3)
    assert(math.abs(nob((10L, 2L)) - idfA * (3 * 2.2 / 4.2)) < 1e-3)
    // df cap 1/3 keeps only df=1 terms: apple postings vanish, the
    // cherry family still answers
    val capped = run(Seq((10L, "apple"), (11L, "cherry zebra")),
      num = 1, den = 3)
    assert(capped.keys.count(_._1 == 10L) === 0,
      "capped stop term must yield no candidates")
    assert(capped.keys.toSet === Set((11L, 3L)))
    // a query with no corpus terms returns nothing
    assert(run(Seq((12L, "zebra"))).isEmpty)
    // top-k plans as a WindowGroupLimit (map-side partial top-k)
    val plan = TextOps.bm25TopK(Seq((10L, "apple")).toDF("doc_id",
        "text"), corpus, k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(1200))
    // the production double-sum path (exactSums=false, the x78
    // accumulator) returns the identical ranking on the fixture
    val fixture = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val qs = fixture.filter(col("doc_id") % 50 === 0)
    def ranking(exact: Boolean) =
      TextOps.bm25TopK(qs, fixture, k = 5, exactSums = exact)
        .select(col("query_id"), col("rank"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    assert(ranking(exact = true) === ranking(exact = false),
      "fast accumulator must not move any fixture rank")
  }

  test("topPByMass: boundary row kept, coverage >= p, score ties break " +
      "by id, zero-mass group keeps nothing") {
    import spark.implicits._
    // scores already distinct: sorted weights are 5,3,2 of total 10 —
    // the top row alone covers exactly half, so p=1/2 keeps ONLY it
    val a = Seq(("a", 1L, 3.0, 5L), ("a", 2L, 2.0, 3L),
      ("a", 3L, 1.0, 2L)).toDF("g", "id", "score", "w")
    val ka = TextOps.topPByMass(a, col("g"), col("score"), col("w"),
        col("id"), 1, 2)
      .filter(col("is_kept") === 1).collect().map(_.getLong(1)).toSet
    assert(ka === Set(1L), s"exact-boundary: only the top row: $ka")
    // sorted weights 2,2,6: the third row CROSSES the half boundary
    // (preceding mass 4 < 5) and must be kept -> coverage 10/10
    val b = Seq(("b", 1L, 3.0, 2L), ("b", 2L, 2.0, 2L),
      ("b", 3L, 1.0, 6L)).toDF("g", "id", "score", "w")
    val kb = TextOps.topPByMass(b, col("g"), col("score"), col("w"),
        col("id"), 1, 2)
      .filter(col("is_kept") === 1).collect().map(_.getLong(1)).toSet
    assert(kb === Set(1L, 2L, 3L), s"boundary-crossing row kept: $kb")
    // equal scores: the lower id ranks first and takes the mass
    val c = Seq(("c", 7L, 1.0, 5L), ("c", 4L, 1.0, 5L))
      .toDF("g", "id", "score", "w")
    val kc = TextOps.topPByMass(c, col("g"), col("score"), col("w"),
        col("id"), 1, 2)
      .filter(col("is_kept") === 1).collect().map(_.getLong(1)).toSet
    assert(kc === Set(4L))
    // zero total mass: p of nothing is nothing
    val z = Seq(("z", 1L, 1.0, 0L)).toDF("g", "id", "score", "w")
    assert(TextOps.topPByMass(z, col("g"), col("score"), col("w"),
      col("id"), 1, 2).filter(col("is_kept") === 1).count() === 0L)
  }

  test("scriptProfile: planted multi-script strings count per codepoint " +
      "class, ties resolve by fixed script order, empty/null/digit-only " +
      "text is 'none'") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Привет мир"), // 9 cyrillic + 1 space
      (2L, "你好世界 ok"), // 4 cjk + 2 latin + 1 space -> cjk dominant
      (3L, "abc абв"), // 3 latin vs 3 cyrillic tie -> latin (fixed order)
      (4L, "مرحبا"), // 5 arabic
      (5L, ""), (6L, null.asInstanceOf[String]),
      (7L, "123 456"), // digits are counted but never dominate
      // accented Latin (Latin-1 Supplement / Extended) counts as latin
      // (round-10 advice: "détérioré" must not land in n_other and flip
      // dominance to 'none'), while × ÷ stay math signs, not letters
      (8L, "été ñoño Đặng"), // 11 latin letters + 2 spaces
      (9L, "2×3÷4") // x-sign and division sign are other, digits count
    ).toDF("doc_id", "text")
    val out = TextOps.scriptProfile(docs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    def counts(id: Long) = {
      val r = out(id)
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getString(9))
    } // (latin, cjk, cyr, ar, digit, space, chars, other, dominant)
    assert(counts(1L) == (0L, 0L, 9L, 0L, 0L, 1L, 10L, 0L, "cyrillic"))
    assert(counts(2L) == (2L, 4L, 0L, 0L, 0L, 1L, 7L, 0L, "cjk"))
    assert(counts(3L) == (3L, 0L, 3L, 0L, 0L, 1L, 7L, 0L, "latin"))
    assert(counts(4L) == (0L, 0L, 0L, 5L, 0L, 0L, 5L, 0L, "arabic"))
    assert(counts(5L) == (0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, "none"))
    assert(counts(6L) == (0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, "none"))
    assert(counts(7L) == (0L, 0L, 0L, 0L, 6L, 1L, 7L, 0L, "none"))
    assert(counts(8L) == (11L, 0L, 0L, 0L, 0L, 2L, 13L, 0L, "latin"))
    assert(counts(9L) == (0L, 0L, 0L, 0L, 3L, 0L, 5L, 2L, "none"))
  }

  test("linearScore: hand-computed tf·weight sums, bare bias for " +
      "no-hit/empty/null docs, sigmoid at 6 dp") {
    import spark.implicits._
    val weights = Seq(("alpha", BigDecimal("0.5")),
      ("beta", BigDecimal("-0.25"))).toDF("term", "weight")
    val docs = Seq((1L, "alpha Alpha  beta"), (2L, "gamma delta"),
      (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextOps.linearScore(docs, weights, bias = 0.1)
      .orderBy("doc_id").collect()
    def sig(x: Double) = BigDecimal(1.0 / (1.0 + math.exp(-x)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1: lowercased tf = {alpha: 2, beta: 1} -> 0.1 + 2(0.5) - 0.25
    assert(out(0).getLong(1) == 2L && out(0).getDouble(2) == 0.85 &&
      out(0).getDouble(3) == sig(0.85))
    // docs 2/3/4: no weighted term / empty / null text -> bare bias
    for (i <- 1 to 3)
      assert(out(i).getLong(1) == 0L && out(i).getDouble(2) == 0.1 &&
        out(i).getDouble(3) == sig(0.1), s"doc ${i + 1}")
  }

  test("linearScore exactSums=false (the x102 production fast-sum " +
      "path): round-6 scores and probs identical to the decimal " +
      "default on the fixture corpus") {
    import graft.etl.Tables
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // the same md5-seeded model the x102 twin scores against
    val weights = graft.DataQueries.md5SeedWeights(docs, 200)
    val exact = TextOps.linearScore(docs, weights, bias = 0.25)
      .orderBy("doc_id").collect()
    val fast = TextOps.linearScore(docs, weights, bias = 0.25,
        exactSums = false)
      .orderBy("doc_id").collect()
    assert(exact.length == fast.length && exact.nonEmpty)
    // tolerance, not Row equality: the double path's accumulation
    // order varies with partitioning, and a sum at a round(_, 6)
    // knife edge could legitimately round the other way — the
    // contract is agreement AT the 6-dp output granularity (<= 1 ulp
    // of round-6), ids and hit counts exact
    exact.zip(fast).foreach { case (e, f) =>
      assert(e.getLong(0) == f.getLong(0) && e.getLong(1) == f.getLong(1),
        s"row identity diverged: $e vs $f")
      assert(math.abs(e.getDouble(2) - f.getDouble(2)) <= 1e-6 &&
        math.abs(e.getDouble(3) - f.getDouble(3)) <= 1e-6,
        s"fast-sum diverged past 1e-6 at round-6 output: $e vs $f")
    }
  }

  /** The gram-row formulation [[TextOps.dsirScore]] replaced: explode
    * every document to gram rows, broadcast-join the profile on the
    * bucket, sum the decimal(27,12) terms per document id and left-join
    * back. Ids must be unique (the aggregate is keyed on them). */
  private def dsirScoreReference(docs: org.apache.spark.sql.DataFrame,
                                 profile: org.apache.spark.sql.DataFrame,
                                 n: Int, buckets: Int)
    : org.apache.spark.sql.DataFrame = {
    val perDoc = TextOps.ngramRows(docs, n, "text", Seq("doc_id"))
      .withColumn("__b",
        pmod(TextOps.md5U32(concat(lit("dsir"), col("ngram"))),
          lit(buckets)))
      .join(broadcast(profile), Seq("__b"))
      .withColumn("__lw", log(
        ((col("__ct") + 1).cast("double") *
          (col("__nr") + buckets).cast("double")) /
        ((col("__cr") + 1).cast("double") *
          (col("__nt") + buckets).cast("double")))
        .cast("decimal(27,12)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        round(sum(col("__lw")).cast("double"), 6).as("__w"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("__w").as("log_weight"))
  }

  private def dsirRows(df: org.apache.spark.sql.DataFrame)
    : Map[Long, (Long, Option[Double])] =
    df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap

  test("dsirScore: the per-document kernel sum == the gram-row " +
      "explode/broadcast-join/aggregate formulation, unseen buckets and " +
      "gramless docs included") {
    val corpus = graft.etl.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("lang"), col("text"))
    // a profile from a tenth of the corpus leaves most of the 4096
    // buckets unseen by both model corpora
    val prof = TextOps.dsirProfile(corpus.filter(col("doc_id") % 10 === 0),
      corpus.filter(col("lang") === "en" && col("doc_id") % 10 === 1))
      .localCheckpoint()
    val crafted = Seq[(Long, String)](
      (900001L, "solo"),                          // one token: no bigram
      (900002L, ""),                              // empty text
      (900003L, null),                            // null text
      (900004L, "zqxv wbkj qqzx jjvk xxqz vvbk"), // words no corpus has
      (900005L, "  Mixed\tCASE  whitespace\nand trailing "))
      .toDF("doc_id", "text")
    val docs = corpus.select(col("doc_id"), col("text"))
      .unionByName(crafted).localCheckpoint()
    val unseen = TextOps.ngramRows(docs, 2, "text", Seq("doc_id"))
      .withColumn("__b",
        pmod(TextOps.md5U32(concat(lit("dsir"), col("ngram"))), lit(4096)))
      .join(prof.filter(col("__ct") === 0 && col("__cr") === 0), "__b")
      .count()
    assert(unseen > 0, "the fixture must reach buckets the profile never saw")
    val got = dsirRows(TextOps.dsirScore(docs, prof))
    val want = dsirRows(dsirScoreReference(docs, prof, 2, 4096))
    assert(got.size === 505)
    assert(got === want)
    for (id <- Seq(900001L, 900002L, 900003L))
      assert(got(id) === ((0L, None)), s"doc $id has no gram")
    assert(got(900004L)._1 === 5L && got(900005L)._1 === 4L)
  }

  test("dsirScore: the sum is exact or loud — exact to the last digit " +
      "below the 64-bit unscaled range, a throw naming dsirScore past it") {
    // one bucket whose term is ln(9e18 · 9e18) ≈ 87.3: the largest a
    // profile of long counts can give
    val big = 9000000000000000000L
    val prof = Seq((0L, big, 0L, 0L, big))
      .toDF("__b", "__ct", "__cr", "__nt", "__nr")
    def doc(grams: Int) = Seq((1L, Seq.fill(grams)("a").mkString(" ")))
      .toDF("doc_id", "text")
    // 100k grams ≈ 8.7e6: inside the range, equal to the decimal sum
    val in = doc(100000)
    assert(dsirRows(TextOps.dsirScore(in, prof, n = 1, buckets = 1)) ===
      dsirRows(dsirScoreReference(in, prof, 1, 1)))
    // 120k grams ≈ 1.05e7 > 2^63 / 10^12
    val err = intercept[Exception](
      TextOps.dsirScore(doc(120000), prof, n = 1, buckets = 1).collect())
    val msgs = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
    assert(msgs.exists(_.contains("dsirScore")), msgs.mkString(" | "))
  }

  test("dsirScore: a profile with the wrong bucket count fails loudly") {
    val prof = Seq((0L, 1L, 1L, 1L, 1L), (1L, 1L, 1L, 1L, 1L))
      .toDF("__b", "__ct", "__cr", "__nt", "__nr")
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException](
      TextOps.dsirScore(docs, prof, buckets = 4096))
    assert(err.getMessage.contains("dsirScore"))
  }

  /** The Spark chain [[TextOps.qualityScore]] replaced: three regex
    * passes and a split per row. */
  private def qualityScoreReference(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nAlpha = length(regexp_replace(text, "[^A-Za-z ]", "")).cast("double")
    val nPunct = length(regexp_replace(text, "[^.,;:!?]", "")).cast("double")
    val nTok   = TextOps.tokenCount(text).cast("double")
    val alphaRatio = when(nChars === 0, 0.0).otherwise(nAlpha / nChars)
    val punctRatio = when(nChars === 0, 0.0).otherwise(nPunct / nChars)
    val meanWordLen = when(nTok === 0, 0.0).otherwise(nChars / nTok)
    val lengthOk = when(nTok.between(10, 100000), 1.0).otherwise(0.5)
    round(least(lit(1.0), greatest(lit(0.0),
      alphaRatio * 0.5 + lengthOk * 0.3 +
        (lit(1.0) - least(lit(1.0), punctRatio * 10)) * 0.1 +
        when(meanWordLen.between(2, 12), 0.1).otherwise(0.0))), 4)
  }

  /** The Spark chain [[TextOps.piiCount]] replaced: four regex passes. */
  private def piiCountReference(text: Column): Column = {
    def nMatches(c: Column, pat: String) =
      size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")
    nMatches(text, TextKernels.EmailRegex) +
      nMatches(regexp_replace(text, TextKernels.CardRegex, "<CARD>"),
        TextKernels.PhoneRegex) +
      nMatches(text, TextKernels.CardRegex)
  }

  test("quality_score, pii_count and ws_parts == the Spark chains they " +
      "replaced, interpreted and codegen'd, over the sf0.01 documents and " +
      "edge texts") {
    val corpus = graft.etl.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("text")).collect().map(_.getString(0)).toSeq
    // 100k tokens is the top of the length band, 100k + 1 is past it
    val Seq(t100k, t100k1) = Seq(100000, 100001).map(Seq.fill(_)("w")
      .mkString(" "))
    val edges = Seq[String](
      null, "", "   ", "\tleading tab survives trim", "  \t padded \t  ",
      "trailing tab\t", "a\u000Bb\fc\r\nd", "word",
      "a bb", "abcdefghijk abcdefghijkl",  // mean word length 2 and 12
      "héllo wörld ✓ naïve café 日本語のテキスト",
      "surrogates 😀😀 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 and 🇺🇳 flags",
      // 13-16 digit runs next to phone shapes: masked cards cannot
      // half-claim a phone, 17 digits is no card
      "4111111111111111 555-123-4567 4111111111111111555-123-4567",
      "1234567890123 555.123.4567 12345678901234567 555-1234567",
      "card4111111111111111 555-123-45678 (555)-123-4567 555-123-4567.",
      // adjacent and chained e-mails
      "a@b.co c@d.org,e@f.net x@y.comz@w.io first.last+tag@sub.example.com",
      "Hello, world! How are you? Fine; thanks: ok... !!! ???",
      t100k, t100k1)
    val df = (corpus ++ edges).map(Tuple1(_)).toDF("text")
    val text = col("text")
    // a projection over local rows is folded into the local relation at
    // planning (interpreted); above an exchange it runs in generated code
    for ((frame, shape) <- Seq(df -> "LocalTableScan",
        df.repartition(2) -> "*(1) Project")) {
      val out = frame.select(text,
        GraftFunctions.quality_score(text), qualityScoreReference(text),
        GraftFunctions.pii_count(text), piiCountReference(text),
        GraftFunctions.ws_parts(text), size(split(trim(text), "\\s+")),
        size(split(lower(trim(text)), "\\s+")))
      for ((k, c) <- Seq(1 -> 2, 3 -> 4, 5 -> 6))
        assert(out.schema(k).copy(name = "") === out.schema(c)
          .copy(name = ""), s"$shape: ${out.schema(k)} vs ${out.schema(c)}")
      val rows = out.collect()
      assert(rows.length === corpus.size + edges.size)
      assert(out.queryExecution.executedPlan.toString.contains(shape))
      rows.foreach { r =>
        val t = Option(r.getString(0)).map(_.take(60)).orNull
        assert(r.getDouble(1) == r.getDouble(2),
          s"$shape quality_score($t): ${r.get(1)} != chain ${r.get(2)}")
        assert(r.get(3) == r.get(4),
          s"$shape pii_count($t): ${r.get(3)} != chain ${r.get(4)}")
        assert(r.get(5) == r.get(6) && r.get(5) == r.get(7),
          s"$shape ws_parts($t): ${r.get(5)} != chain ${r.get(6)}")
      }
      val byText = rows.filter(_.getString(0) != null)
        .map(r => r.getString(0) -> r).toMap
      assert(rows.filter(_.isNullAt(0)).forall(r =>
        r.getDouble(1) == 0.0 && r.isNullAt(3) && r.isNullAt(5)))
      assert(byText("").getDouble(1) == 0.25 && byText("").getInt(5) == 1)
      assert(byText("\tleading tab survives trim").getInt(5) == 5)
      // one card and one phone: 17 digits and 555-1234567 are neither
      assert(byText(edges(13)).getLong(3) == 2L)
      assert(byText(t100k).getDouble(1) == 0.9 &&
        byText(t100k1).getDouble(1) == 0.75)
    }
  }

  test("near_dup_hit, dsir_grams and dsir_log_weight == the band-key and " +
      "dsir_sum chains they replaced, interpreted and codegen'd, both hash " +
      "families, over the sf0.01 documents and short texts") {
    import graft.functions.ReferenceKernels.{band_hit, dsir_sum}
    import graft.ops.Dedup
    val corpus = graft.etl.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("lang"), col("text"))
    // an index over half the corpus: the other half mostly misses
    val half = corpus.filter(col("doc_id") % 2 === 0)
    val families = Seq(false, true).map(md5Keys =>
      md5Keys -> Dedup.nearDupIndex(half, md5Keys = md5Keys).localCheckpoint())
    val prof = TextOps.dsirProfile(corpus,
      corpus.filter(col("lang") === "en")).localCheckpoint()
    val edges = Seq[String](null, "", "   ", "word", "two words",
      "three word text", "  Three\tWORD  text\n", "a\u000Bb\fc\rd")
    val texts = corpus.select(col("text")).collect().map(_.getString(0))
    val df = (texts.toSeq ++ edges).map(Tuple1(_)).toDF("text")
    val text = col("text")
    val terms = TextOps.dsirTerms(prof, 4096)
    def reference(index: org.apache.spark.sql.DataFrame, md5Keys: Boolean) = {
      val sig =
        if (md5Keys) GraftFunctions.minhash_sig_md5(text, 32, 3)
        else GraftFunctions.minhash_sig(text, 32, 3)
      when(GraftFunctions.ws_parts(text) >= 3, band_hit(
          Dedup.bandKeys(sig, 8, 4, md5Keys), Dedup.bandSets(index)))
        .otherwise(lit(0L))
    }
    val dsir = dsir_sum(text, 2, "dsir", terms)
    // (name, kernel columns, the chains they replaced); each side is its
    // own projection and rows pair up by text
    val pairs = families.map { case (md5Keys, idx) =>
      (if (md5Keys) "near_dup_hit md5" else "near_dup_hit",
        Seq(Dedup.nearDupLookup(text, idx, 8, 4, 3, md5Keys)),
        Seq(reference(idx, md5Keys)))
    } :+
      ("dsir_grams, dsir_log_weight",
        TextOps.dsirColumns(text, prof, 2, 4096, "dsir"),
        Seq(coalesce(dsir("n_grams"), lit(0L)),
          round(dsir("sum").cast("double"), 6)))
    def sortedByText(rs: Array[org.apache.spark.sql.Row]) =
      rs.sortBy(r => (r.isNullAt(0), Option(r.getString(0)).getOrElse("")))
    // a projection over local rows is folded into the local relation at
    // planning (interpreted); above an exchange it runs in generated code
    for ((frame, shape) <- Seq(df -> "LocalTableScan",
        df.repartition(2) -> "*(1) Project");
        (what, kernels, chains) <- pairs) {
      val out = frame.select(text +: kernels: _*)
      val ref = frame.select(text +: chains: _*)
      val w = kernels.size
      for (k <- 1 to w)
        assert(out.schema(k).copy(name = "") === ref.schema(k)
          .copy(name = ""), s"$shape $what: ${out.schema(k)} vs " +
          s"${ref.schema(k)}")
      val rows = out.collect()
      assert(rows.length === texts.length + edges.size)
      assert(out.queryExecution.executedPlan.toString.contains(shape),
        s"$shape $what")
      val want = ref.collect()
      assert(want.length === rows.length)
      sortedByText(rows).zip(sortedByText(want)).foreach { case (r, c) =>
        val t = Option(r.getString(0)).map(_.take(60)).orNull
        assert(r.getString(0) == c.getString(0))
        for (k <- 1 to w)
          assert(r.get(k) == c.get(k), s"$shape $what($t) col $k: " +
            s"${r.get(k)} != chain ${c.get(k)}")
      }
      val nulls = rows.filter(_.isNullAt(0))
      val byText = rows.filter(!_.isNullAt(0))
        .map(r => r.getString(0) -> r).toMap
      assert(nulls.length == 1 && nulls.head.getLong(1) == 0L)
      if (w == 1) {
        // each family both hits and misses on the corpus
        assert(rows.map(_.getLong(1)).toSet === Set(0L, 1L), s"$what")
      } else {
        assert(nulls.head.isNullAt(2))
        assert(byText("word").getLong(1) == 0L && byText("word").isNullAt(2))
        assert(byText("two words").getLong(1) == 1L &&
          !byText("two words").isNullAt(2))
        assert(byText("three word text").getLong(1) == 2L)
      }
    }
  }
}
