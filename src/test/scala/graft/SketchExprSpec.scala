package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.ops.Dedup

/** Native Catalyst sketch expressions: correctness + SQL registration. */
class SketchExprSpec extends SparkSpec {
  import spark.implicits._

  test("minhash_sig: identical texts identical, disjoint differ, stable size") {
    val df = Seq("a b c d e f", "a b c d e f", "q r s t u v")
      .toDF("text")
      .select(GraftFunctions.minhash_sig(col("text"), 16, 2).as("sig"))
    val sigs = df.collect().map(_.getSeq[Long](0))
    assert(sigs.forall(_.length == 16))
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("minhash_sig estimates jaccard: overlapping docs share signature slots") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = (3 to 60).map(i => s"w$i").mkString(" ")
    val far = (100 to 160).map(i => s"z$i").mkString(" ")
    val sigs = Seq(base, near, far).toDF("text")
      .select(GraftFunctions.minhash_sig(col("text"), 64, 2).as("s"))
      .collect().map(_.getSeq[Long](0))
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count(p => p._1 == p._2)
    assert(agree(sigs(0), sigs(1)) > 40) // high-jaccard pair agrees often
    assert(agree(sigs(0), sigs(2)) < 10) // disjoint pair almost never
  }

  test("simhash64: identical zero-hamming, near texts low, far texts high") {
    val base = (1 to 80).map(i => s"w$i").mkString(" ")
    val near = (2 to 80).map(i => s"w$i").mkString(" ")
    val far = (200 to 280).map(i => s"z$i").mkString(" ")
    val hs = Seq(base, base, near, far).toDF("text")
      .select(GraftFunctions.simhash64(col("text")).as("h"))
      .collect().map(_.getLong(0))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(0), hs(1)) == 0)
    assert(ham(hs(0), hs(2)) <= 8)
    assert(ham(hs(0), hs(3)) > 16)
  }

  test("expressions survive codegen inside a larger projection") {
    val df = spark.range(200).select(
      concat_ws(" ", lit("tok"), col("id"), lit("x y z")).as("text"))
      .select(GraftFunctions.simhash64(col("text")).as("h"),
        GraftFunctions.minhash_sig(col("text"), 8, 2).as("s"),
        length(col("text")).as("l"))
    assert(df.filter(col("h").isNotNull && size(col("s")) === 8).count() == 200)
  }

  test("SQL registration: graft_minhash_sig / graft_simhash64 callable") {
    GraftFunctions.register(spark)
    Seq("a b c").toDF("text").createOrReplaceTempView("v_sketch")
    val r = spark.sql(
      "SELECT size(graft_minhash_sig(text)) s, graft_simhash64(text) h FROM v_sketch")
      .first()
    assert(r.getInt(0) == 32)
  }

  test("l2_sq kernel is bit-identical to the HOF fold, float and double") {
    val l2Hof = (a: org.apache.spark.sql.Column,
                 b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) =>
          (x.cast("double") - y.cast("double")) *
            (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, v) => acc + v)
    val f = Seq((Array(1.5f, -2.25f, 0.125f), Array(0.5f, 3.75f, -1.0f)))
      .toDF("a", "b")
    val rf = f.select(GraftFunctions.l2_sq(col("a"), col("b")).as("k"),
      l2Hof(col("a"), col("b")).as("h")).first()
    assert(rf.getDouble(0) === rf.getDouble(1))
    val d = Seq((Array(1.0e-7, 2.0, -3.0), Array(4.0, -5.0e3, 6.0)))
      .toDF("a", "b")
    val rd = d.select(GraftFunctions.l2_sq(col("a"), col("b")).as("k"),
      l2Hof(col("a"), col("b")).as("h")).first()
    assert(rd.getDouble(0) === rd.getDouble(1))
    // identical arrays -> exactly zero (the pqTopK self-rank invariant)
    assert(f.select(GraftFunctions.l2_sq(col("a"), col("a"))).first()
      .getDouble(0) === 0.0)
  }

  test("ivfAssign (native ivf_argmin projection) matches the r13 min_by " +
      "aggregate formulation winner-for-winner, keeps null-vector rows " +
      "with null assignment, and emits nothing on an empty centroid " +
      "table") {
    import graft.ops.Similarity
    // deterministic pseudo-random corpus + centroids, float vectors
    def vec(seed: Int): Array[Float] =
      Array.tabulate(8)(j => (((seed * 31 + j * 17) % 13) - 6).toFloat / 3f)
    val corpus = (0 until 40).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val cents = (0 until 6).map(i => (i.toLong * 10, vec(i * 7 + 3)))
      .toDF("centroid_id", "cvec")
    val got = Similarity.ivfAssign(corpus, cents)
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the OLD formulation, inline: corpus x centroid expansion, packed
    // long ordering floor(-cos*1e12)*2^20 + rank(cid), min_by argmin
    val ranked = cents.withColumn("__cr",
      (row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("centroid_id"))) - 1).cast("long"))
    val packed = floor((-Similarity.cosine(col("embedding"), col("cvec")))
      * lit(1e12)) * lit(1048576L) + col("__cr")
    val want = corpus.crossJoin(broadcast(ranked))
      .groupBy(col("vec_id"))
      .agg(min_by(col("centroid_id"), packed).as("centroid_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"got=$got want=$want")
    // exact tie (corpus vector == two identical centroid vectors under
    // different ids): lowest-rank (= lowest cid) wins, the old rule
    val tieC = Seq((5L, vec(1)), (2L, vec(1))).toDF("centroid_id", "cvec")
    val tie = Similarity.ivfAssign(
        Seq((9L, vec(1))).toDF("vec_id", "embedding"), tieC)
      .select("centroid_id").first().getLong(0)
    assert(tie == 2L, s"tie went to $tie")
    // null corpus vector: row kept, assignment null (min_by over
    // all-null orderings)
    val withNull = corpus.unionByName(
      Seq(99L).toDF("vec_id").select(col("vec_id"),
        lit(null).cast("array<float>").as("embedding")))
    val nullRow = Similarity.ivfAssign(withNull, cents)
      .filter(col("vec_id") === 99L).collect()
    assert(nullRow.length == 1 && nullRow.head.isNullAt(2), "null-vec row")
    // empty centroid table -> empty output (old: cross join with an
    // empty broadcast)
    assert(Similarity.ivfAssign(corpus, cents.filter(lit(false))).count()
      == 0L)
    // ALL-NULL centroid vectors with a NON-null corpus vector: the
    // argmin is null even though the vector isn't, and the old
    // vecCol.isNotNull guard let the ANSI ElementAt wart emit a
    // garbage element here (round-14 ADVICE). min_by semantics: null.
    val nullCents = Seq((1L, null.asInstanceOf[Array[Float]]),
      (2L, null.asInstanceOf[Array[Float]])).toDF("centroid_id", "cvec")
    val allNull = Similarity.ivfAssign(corpus.limit(3), nullCents).collect()
    assert(allNull.length == 3 && allNull.forall(_.isNullAt(2)),
      "all-null centroid table must yield null assignments, " +
        s"got ${allNull.mkString(",")}")
  }

  test("sorted_intersect_count == exploded-join intersection on every " +
      "shape (round-16 jaccardVerify kernel swap)") {
    import graft.functions.GraftFunctions.sorted_intersect_count
    // crafted shapes: empty/empty, empty/full, disjoint, subset,
    // interleaved partial overlap, negative longs around the signed
    // ordering boundary
    val cases = Seq(
      (Array.empty[Long], Array.empty[Long], 0L),
      (Array.empty[Long], Array(1L, 2L), 0L),
      (Array(1L, 3L, 5L), Array(2L, 4L, 6L), 0L),
      (Array(2L, 4L), Array(1L, 2L, 3L, 4L, 5L), 2L),
      (Array(-9L, -1L, 0L, 7L), Array(-1L, 7L, 8L), 2L),
      (Array(Long.MinValue, -1L, Long.MaxValue),
        Array(Long.MinValue, 0L, Long.MaxValue), 2L))
    val df = cases.zipWithIndex.map { case ((a, b, w), i) =>
      (i, a, b, w) }.toDF("i", "a", "b", "want")
    val got = df.select(col("i"),
        sorted_intersect_count(col("a"), col("b")).as("n"),
        col("want")).collect()
    got.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"case ${r.getInt(0)}: got ${r.getLong(1)} want ${r.getLong(2)}"))
    // null on either side -> null (the old explode form dropped the
    // doc's rows; assembly coalesces both to 0)
    val n = Seq((Array(1L, 2L), null.asInstanceOf[Array[Long]]))
      .toDF("a", "b")
      .select(sorted_intersect_count(col("a"), col("b"))).collect()
    assert(n.head.isNullAt(0))
    // equivalence with the exploded-join formulation on real shingle
    // sets, incl. a zero-overlap pair (which the old form expressed as
    // an ABSENT row): jaccardVerify end-to-end must agree with a
    // hand-computed set intersection
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "x y z w q r"), (4L, "")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.jaccardVerify(pairs, docs, shingleSize = 3)
      .orderBy(col("id_a"), col("id_b")).collect()
    assert(out.length == 3)
    assert(out(0).getDouble(2) == 1.0)   // identical docs
    assert(out(1).getDouble(2) == 0.0)   // disjoint shingles, row kept
    assert(out(2).getDouble(2) == 0.0)   // empty doc, row kept
  }

  test("simHashCandidates on the native path still finds planted dup") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base),
      (3L, (300 to 360).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.simHashCandidates(docs, blocks = 4, maxHamming = 3).collect()
    assert(out.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(!out.exists(r => r.getLong(1) == 3L))
  }

  test("md5_prefix == conv(substring(md5(s),1,n),16,10) for n=8 and 15 " +
      "(round-17 hash60 kernel swap)") {
    // crafted shapes: empty string, single char, whitespace, unicode
    // (multi-byte UTF-8), long text, digits, a leading-zero-digest
    // probe set large enough to hit varied first nibbles
    val base = Seq("", "a", " ", "\t\n", "héllo wörld ✓",
      "the quick brown fox jumps over the lazy dog",
      "0123456789abcdef") ++ (0 until 200).map(i => s"probe-$i")
    val df = base.toDF("s")
    for (n <- Seq(8, 15)) {
      val got = df.select(col("s"),
          GraftFunctions.md5_prefix(col("s"), n).as("kernel"),
          conv(substring(md5(col("s")), 1, n), 16, 10).cast("long")
            .as("chain"))
        .collect()
      got.foreach(r => assert(r.getLong(1) == r.getLong(2),
        s"n=$n s='${r.getString(0)}': kernel ${r.getLong(1)} != " +
          s"chain ${r.getLong(2)}"))
    }
    // null stays null
    val nr = Seq(Option.empty[String]).toDF("s")
      .select(GraftFunctions.md5_prefix(col("s"), 15)).collect()
    assert(nr.head.isNullAt(0))
  }

  test("gram_digests == shifted-slices/arrays_zip/posexplode digest chain " +
      "on both families and every token-count shape (round-17 kernel)") {
    // shapes: empty text (tokenizes to [\"\"]), fewer tokens than n,
    // exactly n, n+1, repeated/mixed whitespace (tabs, newlines,
    // trailing — split keeps a trailing empty token), unicode,
    // duplicate grams, long text
    val texts = Seq("", "a", "a b", "a b c", "a b c d",
      "  leading and  double  spaces ", "tab\tsep\nnewline mix",
      "trailing space ", "héllo wörld ✓ mixed ünicode tokens here",
      "x y x y x y x y", ("tok " * 40).trim, "UPPER Case MiXeD case")
    for (n <- Seq(1, 2, 5); md5Keys <- Seq(true, false)) {
      val df = texts.zipWithIndex.map(_.swap).toDF("i", "text")
      // the pre-round-17 column formulation, verbatim
      val slices = (0 until n).map(j =>
        slice(split(lower(trim(col("text"))), "\\s+"), j + 1, 1 << 30)
          .as(s"__s$j"))
      val zipped = df.select(col("i"), arrays_zip(slices: _*).as("__a"))
        .select(col("i"), posexplode(col("__a")))
        .filter(col(s"col.__s${n - 1}").isNotNull)
      val fields = (0 until n).map(j => col(s"col.__s$j"))
      val oldDg = if (md5Keys)
          conv(substring(md5(concat_ws(" ", fields: _*)), 1, 15), 16, 10)
            .cast("long")
        else xxhash64(fields: _*)
      val want = zipped.select(col("i"), col("pos"), oldDg.as("dg"))
        .orderBy(col("i"), col("pos")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      val got = df.select(col("i"),
          posexplode(GraftFunctions.gram_digests(col("text"), n, md5Keys)))
        .select(col("i"), col("pos"), col("col"))
        .orderBy(col("i"), col("pos")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      assert(got.toSeq == want.toSeq,
        s"n=$n md5Keys=$md5Keys: kernel rows differ from column chain " +
          s"(got ${got.length}, want ${want.length})")
    }
    // null text -> null array -> posexplode drops the row, like the
    // old chain (split(null) is null all the way down)
    val nr = Seq((1, Option.empty[String])).toDF("i", "text")
      .select(col("i"),
        posexplode(GraftFunctions.gram_digests(col("text"), 2, true)))
      .collect()
    assert(nr.isEmpty)
  }

  test("gram_strings == shifted-slices/arrays_zip/explode/concat_ws chain " +
      "on every token-count shape (round-17 kernel)") {
    val texts = Seq("", "a", "a b", "a b c", "a b c d",
      "  leading and  double  spaces ", "tab\tsep\nnewline mix",
      "trailing space ", "héllo wörld ✓ mixed ünicode tokens here",
      "x y x y x y", ("tok " * 40).trim, "UPPER Case MiXeD case")
    for (n <- Seq(1, 2, 3)) {
      val df = texts.zipWithIndex.map(_.swap).toDF("i", "text")
      val slices = (0 until n).map(j =>
        slice(split(lower(trim(col("text"))), "\\s+"), j + 1, 1 << 30)
          .as(s"__s$j"))
      val zipped = df.select(col("i") +: slices: _*)
        .select(col("i"), explode(arrays_zip(
          (0 until n).map(j => col(s"__s$j")): _*)).as("__z"))
        .filter(col(s"__z.__s${n - 1}").isNotNull)
      val want = zipped.select(col("i"), concat_ws(" ",
          (0 until n).map(j => col(s"__z.__s$j")): _*).as("ngram"))
        .orderBy(col("i"), col("ngram")).collect()
        .map(r => (r.getInt(0), r.getString(1)))
      val got = df.select(col("i"),
          explode(GraftFunctions.gram_strings(col("text"), n)).as("ngram"))
        .orderBy(col("i"), col("ngram")).collect()
        .map(r => (r.getInt(0), r.getString(1)))
      assert(got.toSeq == want.toSeq,
        s"n=$n: kernel grams differ from column chain " +
          s"(got ${got.length}, want ${want.length})")
    }
  }

  test("md5_prefix over a binary column == conv(substring(md5(bin),1,n)," +
      "16,10), interpreted and codegen'd") {
    // shapes: empty, a zero byte, sign-bit bytes, multi-byte UTF-8, and
    // lengths 0..99 of patterned bytes for varied leading nibbles
    val base = Seq(Array.emptyByteArray, Array[Byte](0),
      Array[Byte](-1, 0, 127, -128),
      "héllo wörld ✓".getBytes(java.nio.charset.StandardCharsets.UTF_8)) ++
      (0 until 100).map(i => Array.tabulate(i)(j => (j * 31 + i).toByte))
    val df = base.map(Tuple1(_)).toDF("b")
    // a projection straight over the local rows is folded on the driver
    // (interpreted); above an exchange it runs in generated code
    for (frame <- Seq(df, df.repartition(2)); n <- Seq(8, 15)) {
      val got = frame.select(col("b"),
          GraftFunctions.md5_prefix(col("b"), n).as("kernel"),
          conv(substring(md5(col("b")), 1, n), 16, 10).cast("long")
            .as("chain"))
        .collect()
      assert(got.length === base.length)
      got.foreach(r => assert(r.getLong(1) == r.getLong(2),
        s"n=$n bytes=${r.getAs[Array[Byte]](0).mkString(",")}: kernel " +
          s"${r.getLong(1)} != chain ${r.getLong(2)}"))
    }
    val nr = Seq(Tuple1(Option.empty[Array[Byte]])).toDF("b")
      .select(GraftFunctions.md5_prefix(col("b"), 8)).collect()
    assert(nr.head.isNullAt(0))
  }
}
