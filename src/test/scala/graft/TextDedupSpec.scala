package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity, TextOps}

/** Specs for training-data ops: text analysis, dedup sketches, ANN. */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c.as("r")).first().get(0)

  test("tokenCount handles empty and multi-space text") {
    assert(one(TextOps.tokenCount(lit(""))) == 0)
    assert(one(TextOps.tokenCount(lit("  "))) == 0)
    assert(one(TextOps.tokenCount(lit("a  b\tc"))) == 3)
  }

  test("bpeTokenCount splits words, digits, punctuation") {
    // "ab 12, c" -> [ab] [1] [2] [,] [c]
    assert(one(TextOps.bpeTokenCount(lit("ab 12, c"))) == 5)
  }

  test("wordShingles produces n-grams in order") {
    val sh = one(TextOps.wordShingles(lit("a b c d"), 3))
      .asInstanceOf[scala.collection.Seq[String]]
    assert(sh.toList == List("a b c", "b c d"))
    assert(one(TextOps.wordShingles(lit("a b"), 3))
      .asInstanceOf[scala.collection.Seq[String]].isEmpty)
  }

  test("langId identifies stopword-rich text, und when nothing matches") {
    assert(one(TextOps.langId(lit("the cat and the dog is in the house"))) == "en")
    assert(one(TextOps.langId(lit("der hund ist nicht mit der katze"))) == "de")
    assert(one(TextOps.langId(lit("zzz qqq www"))) == "und")
  }

  test("docFingerprint collapses case and whitespace") {
    assert(one(TextOps.docFingerprint(lit("Hello  World"))) ==
      one(TextOps.docFingerprint(lit("hello world "))))
  }

  test("exactDedup keeps lowest id per identical content") {
    val docs = Seq((5L, "same text"), (2L, "same  TEXT"), (9L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedup(docs).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 9L))
  }

  test("minhash signature: identical docs match, disjoint docs don't") {
    val df = Seq(("a b c d e f g h"), ("a b c d e f g h"), ("q r s t u v w x"))
      .toDF("text")
      .select(graft.functions.ReferenceKernels.minHashSignature(
        col("text"), 16, 2).as("sig"))
    val sigs = df.collect().map(_.getSeq[Long](0))
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("lineDedup keeps first occurrence corpus-wide, blanks pass through") {
    val docs = Seq(
      (1L, "shared header\nbody one\n\nshared footer"),
      (2L, "shared header\nbody two\n\nshared footer"),
      (3L, "body one\nunique three")).toDF("doc_id", "text")
    val out = TextOps.lineDedup(docs).orderBy("doc_id").collect()
    assert(out(0).getString(1) == "shared header\nbody one\n\nshared footer")
    assert(out(0).getLong(2) == 4)
    // doc 2 loses header+footer, keeps its body and the blank
    assert(out(1).getString(1) == "body two\n")
    assert(out(1).getLong(2) == 2)
    // "body one" already seen in doc 1
    assert(out(2).getString(1) == "unique three")
  }

  test("lineDedup works with non-numeric doc ids") {
    // the arithmetic doc_id*1e6+line_no key this replaced returned NULL on
    // string ids and silently dropped every non-blank line
    val docs = Seq(
      ("doc-a", "shared\nonly a"),
      ("doc-b", "shared\nonly b")).toDF("doc_id", "text")
    val out = TextOps.lineDedup(docs).orderBy("doc_id").collect()
    assert(out(0).getString(1) == "shared\nonly a")
    assert(out(1).getString(1) == "only b")
  }

  test("lineDedupScalable matches lineDedup exactly (hash-first kernel)") {
    val docs = Seq(
      (1L, "shared header\nbody one\n\nshared footer"),
      (2L, "shared header\nbody two\n\nshared footer"),
      (3L, "body one\nunique three"),
      // space-only line (blank), trailing newline (trailing empty
      // segment), and a tab line (NOT blank under space-only trim)
      (4L, "   \ntrailing\n"),
      (5L, "\t\nxyz")).toDF("doc_id", "text")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(dump(TextOps.lineDedupScalable(docs)) == dump(TextOps.lineDedup(docs)))
    // non-numeric ids exercise the struct-ordered min key in both paths
    val sdocs = Seq(("doc-a", "shared\nonly a"), ("doc-b", "shared\nonly b"))
      .toDF("doc_id", "text")
    def sdump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(sdump(TextOps.lineDedupScalable(sdocs)) == sdump(TextOps.lineDedup(sdocs)))
  }

  test("hashSample is deterministic and stratified rates hold roughly") {
    val docs = spark.range(0, 2000).toDF("doc_id")
      .withColumn("band", (col("doc_id") % 2 === 0).cast("int"))
    val rate = when(col("band") === 1, 0.75).otherwise(0.25)
    val a = TextOps.hashSample(docs, col("doc_id"), rate, "s1")
    val b = TextOps.hashSample(docs, col("doc_id"), rate, "s1")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val hi = a.filter(col("band") === 1).count().toDouble / 1000
    val lo = a.filter(col("band") === 0).count().toDouble / 1000
    assert(hi > 0.65 && hi < 0.85, s"hi=$hi")
    assert(lo > 0.15 && lo < 0.35, s"lo=$lo")
    // different salt selects a different (independent) subset
    val c = TextOps.hashSample(docs, col("doc_id"), rate, "s2")
    assert(c.exceptAll(a).count() > 0)
  }

  test("packDocuments: running-sum bins per bucket, oversized isolated") {
    // single bucket (buckets=1): tokens 3,3,3 with capacity 6 -> bins
    // 0,0,1; a 10-token doc then consumes bins worth of space
    val docs = Seq((0L, "a b c"), (1L, "d e f"), (2L, "g h i"),
      (3L, (1 to 10).map(i => s"w$i").mkString(" ")), (4L, "x y"))
      .toDF("doc_id", "text")
    val out = TextOps.packDocuments(docs, capacity = 6, buckets = 1)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 0L, 1L, 1L, 3L))
    // deterministic: same result on re-run
    val again = TextOps.packDocuments(docs, capacity = 6, buckets = 1)
      .orderBy("doc_id").collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("packDocumentsFirstFit: bins hard-capped at capacity") {
    // tokens 3,3,3,10,2 at capacity 6: doc1 fits with doc0 (3+3=6),
    // doc2 opens bin 1, the 10-token doc gets bin 2 alone (oversized),
    // doc4 opens bin 3 because bin 2 is already past capacity
    val docs = Seq((0L, "a b c"), (1L, "d e f"), (2L, "g h i"),
      (3L, (1 to 10).map(i => s"w$i").mkString(" ")), (4L, "x y"))
      .toDF("doc_id", "text")
    val out = TextOps.packDocumentsFirstFit(docs, capacity = 6, buckets = 1)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 0L, 1L, 2L, 3L))
    // invariant: no bin exceeds capacity unless it is a single oversized doc
    val binSums = out.groupBy(r => (r.getLong(1), r.getLong(2)))
      .view.mapValues(rs => (rs.map(_.getLong(3)).sum, rs.length)).toMap
    binSums.foreach { case (bin, (sum, n)) =>
      assert(sum <= 6 || n == 1, s"bin $bin overflows: $sum tokens, $n docs")
    }
    // deterministic across runs
    val again = TextOps.packDocumentsFirstFit(docs, capacity = 6, buckets = 1)
      .orderBy("doc_id").collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("connectedComponents: path graph, isolated pair, singleton-free") {
    // path 1-2-3-4-5 (diameter 4 forces multiple propagation rounds),
    // separate pair 10-11, edge listed high-to-low (6,9) to check symmetry
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L),
      (9L, 6L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(comp.toSeq == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 6L -> 6L, 9L -> 6L, 10L -> 10L, 11L -> 10L))
  }

  /** md5-derived 64-bit SimHash votes — cross-engine recomputable (the
    * DuckDB oracle rebuilds the identical sketch): per-shingle hash = two
    * 32-bit chunks of md5(shingle); bit b of the feature hash is bit b%32
    * of chunk b/32. Word-bigram features, distinct (set semantics, so the
    * SQL recomputation by grouped sums agrees). */
  private def simHashVotesMd5(text: org.apache.spark.sql.Column)
    : org.apache.spark.sql.Column = {
    val shingles = array_distinct(TextOps.wordShingles(text, 2))
    val pairs = transform(shingles, s => {
      val m = md5(s)
      array(TextOps.md5U32(s),
        conv(substring(m, 9, 8), 16, 10).cast("long"))
    })
    val init = transform(sequence(lit(1), lit(64)), _ => lit(0L))
    aggregate(pairs, init, (acc, p) =>
      zip_with(acc, array((0 until 64).map { b =>
        when(shiftright(element_at(p, b / 32 + 1), b % 32)
          .bitwiseAND(1L) === 1L, lit(1L)).otherwise(lit(-1L))
      }: _*), (a, v) => a + v))
  }

  /** Fold a 64-slot vote vector into the final 64-bit simhash long. */
  private def votesToHash(votes: org.apache.spark.sql.Column)
    : org.apache.spark.sql.Column =
    (0 until 64).map { b =>
      when(element_at(votes, b + 1) > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((a, c) => a.bitwiseOR(c))

  /** The md5-derived simhash via the HOF formulation — the interpreted
    * reference the native kernel is cross-checked against. */
  private def simHash64Md5Hof(text: org.apache.spark.sql.Column)
    : org.apache.spark.sql.Column = votesToHash(simHashVotesMd5(text))

  test("native md5 sketch kernels are bit-identical to the HOF formulations") {
    // fixture docs + adversarial strings: empty, short, tabs/newlines
    // (space-only trim leaves them), repeated shingles, unicode case
    val edge = Seq("", " ", "a", "a b", "a b c", "a  b\tc d\n", "\tx y z",
      "A B C a b c A B C", "Ω λ Ω λ Ω λ", "one two three four five")
      .toDF("text")
    val docs = etl.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text")).unionByName(edge)
    val cmp = docs.select(
      graft.functions.GraftFunctions.minhash_sig_md5(col("text"), 32, 3).as("n_sig"),
      graft.functions.ReferenceKernels.minHashSignatureMd5(col("text"), 32,
        3).as("h_sig"),
      graft.functions.GraftFunctions.simhash64_md5(col("text"), 2).as("n_sh"),
      simHash64Md5Hof(col("text")).as("h_sh"))
    assert(cmp.filter(col("n_sig") =!= col("h_sig") ||
      col("n_sh") =!= col("h_sh")).count() == 0)
  }

  test("minHashLshCandidates finds a planted near-duplicate pair") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (2 to 40).map(i => s"w$i").mkString(" ") // drop one token
    val docs = Seq((1L, base), (2L, nearDup),
      (3L, (100 to 140).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val cands = Dedup.minHashLshCandidates(docs, bands = 8, rowsPerBand = 2,
      shingleSize = 2).collect()
    assert(cands.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(!cands.exists(r => r.getLong(1) == 3L))
  }

  test("jaccardVerify computes exact shingle jaccard") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.jaccardVerify(pairs, docs, shingleSize = 2)
      .orderBy("id_b").collect()
    assert(out(0).getDouble(2) == 1.0)
    assert(out(1).getDouble(2) == 0.0)
  }

  test("simhash: identical text -> hamming 0; candidates find planted dup") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base),
      (3L, (200 to 260).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.simHashCandidates(docs, blocks = 4, maxHamming = 3)
      .collect()
    assert(out.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getInt(2) == 0))
    assert(!out.exists(r => r.getLong(1) == 3L))
  }

  test("decontaminate: exact, n-gram-overlap and clean docs flag correctly") {
    val evalSet = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different benchmark prompt with its own words"))
      .toDF("doc_id", "text")
    val train = Seq(
      (10L, "The  quick brown fox jumps over the lazy dog tonight"), // exact mod ws/case
      (11L, "prefix words then quick brown fox jumps over the end"), // shares a 5-gram
      (12L, "no overlap at all here just fresh tokens entirely"))    // clean
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, evalSet, shingleSize = 5)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 1L && out(0).getLong(2) == 1L)
    assert(out(1).getLong(1) == 0L && out(1).getLong(2) == 1L)
    assert(out(2).getLong(1) == 0L && out(2).getLong(2) == 0L)
    // the report form: exact fractions, not just flags. Doc 11 has 6
    // distinct 5-grams ("prefix words then quick brown" ... "fox jumps
    // over the end") of which exactly 2 ("quick brown fox jumps over",
    // "brown fox jumps over the") occur in the eval set; doc 10 is
    // fully contained; doc 12 is fresh
    val rep = Dedup.decontaminationReport(train, evalSet, shingleSize = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rep(0) === ((6L, 6L, 1.0)))
    assert(rep(1) === ((6L, 2L, 2.0 / 6)))
    assert(rep(2) === ((5L, 0L, 0.0)))
  }

  test("tfIdfTopTerms: rare terms outrank corpus-wide ones") {
    val docs = Seq(
      (1L, "common common zebra common"),
      (2L, "common words here"),
      (3L, "common words again")
    ).toDF("doc_id", "text")
    val out = TextOps.tfIdfTopTerms(docs, k = 2)
      .filter(col("doc_id") === 1).orderBy("term_rank").collect()
    // 'zebra' (df=1) beats 'common' (df=3) despite tf 1 vs 3:
    // 1*ln(3) > 3*ln(1)=0
    assert(out(0).getString(2) == "zebra")
    assert(out(1).getString(2) == "common")
    assert(out(1).getDouble(3) == 0.0) // df == N -> idf 0
  }

  test("cosine: orthonormal and identical vectors") {
    val df = Seq((Array(1f, 0f), Array(0f, 1f)), (Array(1f, 2f), Array(1f, 2f)))
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    val cs = df.collect().map(_.getDouble(0))
    assert(cs(0) == 0.0)
    assert(math.abs(cs(1) - 1.0) < 1e-12)
  }

  test("bruteForceTopK ranks the exact duplicate vector first") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(0.9f, 0.1f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), 2)
      .orderBy("rank").collect()
    assert(out(0).getLong(2) == 1L) // identical vector is nearest
    assert(out(0).getDouble(3) == 1.0)
    assert(out(1).getLong(2) == 3L)
  }

  test("kmeansCentroids recovers two separable clusters") {
    // two tight direction clusters around (1,0,0) and (0,1,0); init picks
    // one seed from each (ids 0 and 10 via initEvery=10)
    val vecs = (0L to 19L).map { i =>
      val base = if (i < 10) Array(1f, 0f, 0f) else Array(0f, 1f, 0f)
      (i, base.zipWithIndex.map { case (v, j) =>
        v + 0.01f * ((i + j) % 3).toFloat })
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(vecs, initEvery = 10, iters = 3)
      .orderBy("centroid_id").collect()
    assert(cents.length == 2)
    val c0 = cents(0).getSeq[Double](1)
    val c1 = cents(1).getSeq[Double](1)
    assert(c0.head > 0.9 && c0(1) < 0.1)  // cluster around x-axis
    assert(c1(1) > 0.9 && c1.head < 0.1)  // cluster around y-axis
  }

  test("kmeansStep mean is the plain per-dimension average of assignees") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.8f, 0.2f)),
      (2L, Array(0f, 1f)), (3L, Array(0.2f, 0.8f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("centroid_id", "cvec")
    val out = Similarity.kmeansStep(vecs, cents)
      .orderBy("centroid_id").collect()
    val c0 = out(0).getSeq[Double](1)
    assert(math.abs(c0.head - 0.9) < 1e-6 && math.abs(c0(1) - 0.1) < 1e-6)
  }

  test("lshTopK: bucketed search still finds the exact duplicate") {
    val vecs = (0L to 50L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 7.0 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val withDup = vecs.union(Seq((999L, Array.tabulate(8)(j =>
      math.sin(7.0 + j).toFloat))).toDF("vec_id", "embedding"))
    val out = Similarity.lshTopK(withDup, withDup.filter(col("vec_id") === 1),
      k = 3, bits = 3).collect()
    assert(out.exists(r => r.getLong(2) == 999L && r.getDouble(3) == 1.0))
  }

  test("nearDupFlagBloomed == nearDupFlag for any m (no false negatives); " +
      "the Bloom pre-filter cuts miss-dominated band volume") {
    import spark.implicits._
    val corpus = graft.etl.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val idx = Dedup.nearDupIndex(corpus).localCheckpoint()
    // incoming = the t03 twins (mostly hits) + fresh gibberish (misses)
    val twins = corpus.select((col("doc_id") + 100000L).as("doc_id"),
      concat_ws(" ",
        slice(split(trim(col("text")), "\\s+"), 2, 1000000)).as("text"))
    val fresh = spark.range(0, 200).select(
      (col("id") + 900000L).as("doc_id"),
      concat_ws(" ", concat(lit("zz"), col("id")),
        concat(lit("yy"), col("id")), concat(lit("xx"), col("id")),
        concat(lit("ww"), col("id"))).as("text"))
    val incoming = twins.unionByName(fresh).localCheckpoint()
    def flags(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(col("doc_id"), col("is_near_dup"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // equality must hold for a roomy filter AND a tiny, FP-heavy one —
    // false positives only ever send extra bands to the exact join; the
    // md5 family (the t56 oracle path) obeys it against ITS exact gate,
    // at the oracle's own (m=2^16, k=3) sizing
    for (md5Keys <- Seq(false, true)) {
      val ix =
        if (md5Keys) Dedup.nearDupIndex(corpus, md5Keys = true)
          .localCheckpoint()
        else idx
      val exact = flags(Dedup.nearDupFlag(incoming, ix, md5Keys = md5Keys))
      val sizes =
        if (md5Keys) Seq((1 << 16, 3)) else Seq((1 << 20, 4), (1 << 10, 4))
      for ((m, k) <- sizes) {
        val bloom = Dedup.nearDupIndexBloom(ix, m, k, md5Keys)
          .localCheckpoint()
        val got = flags(Dedup.nearDupFlagBloomed(incoming, ix, bloom,
          m = m, k = k, md5Keys = md5Keys))
        assert(got === exact,
          s"bloomed gate diverged at m=$m, k=$k, md5Keys=$md5Keys")
      }
    }
    // every fresh doc is a miss; with the roomy filter its 8 bands
    // should rarely survive the pre-filter — measure the cut
    val m = 1 << 20
    val bloom = Dedup.nearDupIndexBloom(idx, m = m).localCheckpoint()
    val freshBands = Dedup.gateBands(fresh, "doc_id", "text",
      bands = 8, rowsPerBand = 4, shingleSize = 3, md5Keys = false)
    val total = freshBands.count()
    val surviving = freshBands.crossJoin(broadcast(bloom))
      .filter(forall(
        Dedup.bloomPositions(col("band"), col("band_hash"), m, 4,
          md5Keys = false),
        p => element_at(col("bf"), (p + 1).cast("int"))))
      .count()
    info(s"bloom pre-filter: $surviving of $total miss bands survive " +
      s"to the semi-join (m=$m)")
    assert(surviving < total / 2,
      s"pre-filter failed to cut miss volume: $surviving of $total")
  }

  test("repeatedNgramRemoval excises a REFLOWED license block across " +
      "line boundaries and keeps every unique token") {
    import spark.implicits._
    // the same 13-token license block embedded in three docs with
    // DIFFERENT line breaks (not line-aligned — lineDedup cannot see
    // it) and unique text around it; a fourth doc has no block
    val lic = Seq("permission", "is", "hereby", "granted", "free", "of",
      "charge", "to", "any", "person", "obtaining", "a", "copy")
    def reflow(breakAfter: Set[Int]): String =
      lic.zipWithIndex.map { case (w, i) =>
        if (breakAfter(i)) w + "\n" else w + " " }.mkString.trim
    val docs = Seq(
      (1L, "alpha bravo charlie\n" + reflow(Set(5)) + "\ndelta echo foxtrot"),
      (2L, "golf hotel india juliet " + reflow(Set(2, 9)) + " kilo lima"),
      (3L, reflow(Set(7)) + "\nmike november oscar papa"),
      (4L, "quebec romeo sierra tango uniform victor"))
      .toDF("doc_id", "text")
    val out = TextOps.repeatedNgramRemoval(docs, n = 4, minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) === (("alpha bravo charlie delta echo foxtrot", 6L, 13L)))
    assert(out(2L) === (("golf hotel india juliet kilo lima", 6L, 13L)))
    assert(out(3L) === (("mike november oscar papa", 4L, 13L)))
    // the block-free doc is byte-identical (it had no internal newlines)
    assert(out(4L) === (("quebec romeo sierra tango uniform victor", 6L, 0L)))
    // minDocs=5 > block frequency: nothing flags, every doc comes back
    // whitespace-normalized but complete
    val none = TextOps.repeatedNgramRemoval(docs, n = 4, minDocs = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(none.values.forall(_ === 0L))
  }

  test("repeatedNgramRemoval: xxhash64 scale family == md5 oracle family " +
      "on the planted fixture corpus") {
    val boiler = "this software is provided as is without any express " +
      "or implied warranty of merchantability"
    val docs = graft.etl.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
            concat(lit(boiler), lit("\n"), col("text")))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit(" "), lit(boiler)))
          .otherwise(col("text")).as("text"))
    val Seq(xxOut, md5Out) = Seq(false, true).map(md5Keys =>
      TextOps.repeatedNgramRemoval(docs, n = 5, minDocs = 3,
        md5Keys = md5Keys))
    assert(md5Out.except(xxOut).count() === 0L &&
      xxOut.except(md5Out).count() === 0L,
      "hash families disagree on survivorship")
    // the plant is actually exercised: every planted doc lost at least
    // the 13 boilerplate tokens
    val planted = md5Out.join(docs.select(col("doc_id")), Seq("doc_id"))
      .filter(col("doc_id") % 3 < 2)
    assert(planted.filter(col("n_removed") < 13).count() === 0L)
  }

  test("repeatedNgramRemoval keepFirst: the min-(doc,pos) copy survives " +
      "verbatim — including against a SECOND occurrence in the winner — " +
      "and every other copy is excised; families agree") {
    import spark.implicits._
    val span = "one two three four five six seven"
    val docs = Seq(
      // winner (lowest doc id): span at pos 4..10, AND AGAIN at 13..19
      (1L, "aa bb cc " + span + " dd ee " + span),
      (2L, "ff gg " + span + " hh"),
      (3L, "ii " + span))
      .toDF("doc_id", "text")
    val out = TextOps.repeatedNgramRemoval(docs, n = 4, minDocs = 2,
        keepFirst = true)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1 keeps the FIRST occurrence only (the second is a
    // non-canonical copy of every constituent gram)
    assert(out(1L) === (("aa bb cc " + span + " dd ee", 12L, 7L)),
      out(1L).toString)
    assert(out(2L) === (("ff gg hh", 3L, 7L)), out(2L).toString)
    assert(out(3L) === (("ii", 1L, 7L)), out(3L).toString)
    // keepFirst = false (the boilerplate contract) cuts the winner too
    val all = TextOps.repeatedNgramRemoval(docs, n = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(all(1L) === 14L && all(2L) === 7L && all(3L) === 7L)
    // corpus-wide conservation: exactly one copy of the span remains
    // across the whole output
    // family parity on the real corpus at the t122 parameters
    val Seq(xxOut, md5Out) = Seq(false, true).map(md5Keys =>
      TextOps.repeatedNgramRemoval(
        graft.etl.Tables.documents(spark, "/root/testdata/sf0.001"),
        n = 5, minDocs = 2, keepFirst = true, md5Keys = md5Keys))
    assert(md5Out.except(xxOut).count() === 0L &&
      xxOut.except(md5Out).count() === 0L,
      "hash families disagree under keepFirst")
  }

  test("duplicateSpans: maximal merged spans with exact boundaries; " +
      "overlapping non-consecutive starts merge into ONE span") {
    import spark.implicits._
    val span = "one two three four five six seven"       // 7 tokens
    val docs = Seq(
      (1L, "aa bb cc " + span + " dd ee"),                // span at 4..10
      (2L, span + " ff gg"),                              // span at 1..7
      // two separated copies of a SHORTER shared 4-gram
      (3L, "one two three four hh ii jj kk one two three four"))
      .toDF("doc_id", "text")
    val out = TextOps.duplicateSpans(docs, n = 4, minDocs = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // doc1: starts 4..7 merge -> span 4..10 (7 tokens, 4 windows)
    // doc2: starts 1..4 -> 1..7
    // doc3: "one two three four" duplicated cross-doc at starts 1 and 9
    //       -> TWO disjoint spans (gap 5..8 is unique)
    assert(out === Set(
      (1L, 4L, 10L, 7L, 4L),
      (2L, 1L, 7L, 7L, 4L),
      (3L, 1L, 4L, 4L, 1L),
      (3L, 9L, 12L, 4L, 1L)), out.toString)
    // interval-merge (not consecutive-starts): plant grams at starts
    // 1 and 3 only (start 2's gram is unique) — coverage overlaps, so
    // ONE span 1..6 with 2 windows
    val tricky = Seq(
      (10L, "pp qq rr ss tt uu vv"),
      (11L, "pp qq rr ss xx rr ss tt uu yy"))
      .toDF("doc_id", "text")
    val t = TextOps.duplicateSpans(tricky, n = 4, minDocs = 2)
      .filter(col("doc_id") === 10L)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(4))).toSet
    assert(t === Set((1L, 6L, 2L)), t.toString)
    // md5 family parity (the t123 oracle path)
    val Seq(a, b) = Seq(false, true).map(md5Keys =>
      TextOps.duplicateSpans(docs, n = 4, minDocs = 2, md5Keys = md5Keys))
    assert(a.except(b).count() === 0L && b.except(a).count() === 0L)
  }

  test("retainBest keeps exactly the best-scored member per cluster; " +
      "unpaired docs survive as their own cluster") {
    import spark.implicits._
    // clusters: {1,2,3} (chain 1-2, 2-3), {4,5}; 6 unpaired
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    // doc 2 best in its cluster; 4 and 5 tie -> lowest id (4) wins
    val scores = Seq((1L, 10L), (2L, 30L), (3L, 20L), (4L, 7L), (5L, 7L),
      (6L, 1L)).toDF("doc_id", "score")
    val out = Dedup.retainBest(docs, pairs, scores)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out === Map(
      1L -> (1L, 0L), 2L -> (1L, 1L), 3L -> (1L, 0L),
      4L -> (4L, 1L), 5L -> (4L, 0L),
      6L -> (6L, 1L)))
    // invariant on the real pipeline: one survivor per cluster, total
    // kept = number of clusters
    val corpus = graft.etl.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val cands = Dedup.minHashLshCandidates(corpus, md5Keys = true)
    val verified = Dedup.jaccardVerify(cands, corpus, threshold = 0.5)
      .select(col("id_a"), col("id_b"))
    val kept = Dedup.retainBest(corpus, verified,
      corpus.select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("score")))
    val perCluster = kept.groupBy(col("cluster_id"))
      .agg(sum(col("is_kept")).as("k"))
    assert(perCluster.filter(col("k") =!= 1).count() === 0L,
      "every cluster must keep exactly one survivor")
    assert(kept.count() === corpus.count(), "no doc may be dropped")
  }

  test("positivePairs: transitive closure emits the unverified (A, C) " +
      "pair, anchors stay below positives, sizes carry, disjoint " +
      "clusters never cross") {
    // edges 1-2, 2-3 (chain) and 7-8 (separate cluster)
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val got = graft.ops.Dedup.positivePairs(edges)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (1L, 2L, 1L, 3L), (1L, 3L, 1L, 3L), (2L, 3L, 1L, 3L),
      (7L, 8L, 7L, 2L)),
      s"closure pairs with cluster provenance: $got")
  }

  test("canonicalNames: a transitive edit chain canonicalizes to the " +
      "min name even past maxDist, singletons map to themselves, and " +
      "repeated rows of one name all get the same canonical") {
    import spark.implicits._
    import graft.ops.Dedup
    // chain: "walnut" ~1~ "valnut" ~... plant a 2-step chain where the
    // ends are 2 edits apart THROUGH the middle but share the prefix
    // ("sal"): salmonx ~1~ salmonxy ~1~ salmonxyz; ed(salmonx,
    // salmonxyz) = 2 (within maxDist) — and a genuinely transitive
    // case: salmona ~2~ salmonbc via salmonab? use dist-1 chain:
    // salmon1 ~1~ salmon12 ~1~ salmon123 (ends at dist 2); extend to
    // salmon1234 (dist 3 from salmon1 — ONLY reachable transitively)
    val rows = Seq(
      (1L, "salmon1"), (2L, "salmon12"), (3L, "salmon123"),
      (4L, "salmon1234"),     // 3 edits from salmon1: transitive only
      (5L, "walnut"),         // singleton
      (6L, "salmon1"),        // repeat of name 1
      (7L, "plum9"))          // singleton
      .toDF("id", "name")
    val got = Dedup.canonicalNames(rows, maxDist = 2)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(1L) === "salmon1" && got(2L) === "salmon1" &&
      got(3L) === "salmon1", "chain members take the min name")
    assert(got(4L) === "salmon1",
      "a name 3 edits from the canonical must still join through the " +
        "transitive chain")
    assert(got(5L) === "walnut" && got(7L) === "plum9",
      "singletons canonicalize to themselves")
    assert(got(6L) === "salmon1", "every row of a repeated name maps")
    // null names survive the mapping as nulls (no match, no crash) and
    // never pair with anything in editDistancePairs
    val withNull = rows.unionByName(
      Seq((8L, null.asInstanceOf[String])).toDF("id", "name"))
    val gn = Dedup.canonicalNames(withNull, maxDist = 2)
      .collect().map(r => r.getLong(0) ->
        Option(r.getString(2))).toMap
    assert(gn(8L).isEmpty && gn(1L).contains("salmon1"))
    assert(!Dedup.editDistancePairs(withNull, maxDist = 2)
      .collect().exists(r => r.getLong(0) == 8L || r.getLong(1) == 8L))
    // a duplicate id carrying two near names must not self-pair (the
    // direct-id formulation's id_a < id_b excluded it — review
    // finding), and multiplicity still matches that formulation
    val dupId = Seq((1L, "salmon1"), (1L, "salmon12"), (2L, "salmon12"))
      .toDF("id", "name")
    val dp = Dedup.editDistancePairs(dupId, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(dp === List((1L, 2L)), s"expected one (1,2) pair: $dp")
  }

  test("nearDupFlag: the frozen band lookup == the band-keyed semi-join " +
      "on both hash families (sf0.01); the index size picks the path") {
    val corpus = graft.etl.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("text"))
    // incoming: the corpus itself (hits, and short docs that pass with
    // 0), its t46 twins (mostly hits) and fresh text (misses)
    val twins = corpus.select((col("doc_id") + 100000L).as("doc_id"),
      concat_ws(" ",
        slice(split(trim(col("text")), "\\s+"), 2, 1000000)).as("text"))
    val fresh = spark.range(0, 50).select(
      (col("id") + 900000L).as("doc_id"),
      concat_ws(" ", concat(lit("zz"), col("id")),
        concat(lit("yy"), col("id")), concat(lit("xx"), col("id")),
        concat(lit("ww"), col("id"))).as("text"))
    val incoming = corpus.unionByName(twins).unionByName(fresh)
    def flags(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(col("doc_id"), col("is_near_dup"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // the xxhash64 index is checkpointed (frozen once), the md5 one is
    // not (collected per call): both StaticCache branches
    for (md5Keys <- Seq(false, true)) {
      val family = if (md5Keys) "md5" else "xxhash64"
      val built = Dedup.nearDupIndex(corpus, md5Keys = md5Keys)
      val idx = if (md5Keys) built else built.localCheckpoint()
      def gate(df: org.apache.spark.sql.DataFrame,
               ix: org.apache.spark.sql.DataFrame) =
        Dedup.nearDupFlag(df, ix, md5Keys = md5Keys)
      val lookup = gate(incoming, idx)
      assert(!plan(lookup).contains("Join"),
        s"$family: a small index must take the lookup:\n${plan(lookup)}")
      val got = flags(lookup)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val want = try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val semi = gate(incoming, idx)
        assert(plan(semi).contains("LeftSemi"),
          s"$family: past the threshold the gate must semi-join")
        flags(semi)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      assert(got === want, s"$family: lookup and semi-join flags diverged")
      assert(got.values.toSet === Set(0L, 1L), s"$family: need hits and misses")
      assert((900000L until 900050L).forall(got(_) == 0L))
    }
  }
}
