package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - brute-force cosine top-k — exact baseline; broadcast the (small)
  *    query set against the corpus, one pass, no shuffle of the corpus.
  *  - LSH / IVF-style bucketed ANN — the 100 TB path: random-hyperplane
  *    signs bucket the corpus once (a cheap projection), queries probe only
  *    their bucket, so the candidate set is corpus/2^bits per probe.
  */
object Similarity {

  /** Double-precision dot product of two float-array columns; sequential
    * fold => deterministic, identical across partitionings. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Native codegen'd kernel (graft.functions.CosineSimExpr) — same
    * sequential double accumulation as [[cosineHof]], one loop, no
    * intermediate arrays. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine_sim(a, b)

  /** Pure-functions._ reference formulation. */
  def cosineHof(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = l2Norm(a) * l2Norm(b)
    when(n === 0, 0.0).otherwise(d / n)
  }

  /** Exact brute-force cosine top-k: for each query row, the k nearest
    * corpus rows (excluding itself when `selfJoin`, the shared-id-space
    * default — see [[knnJoin]] for the contract). The query side is
    * expected to be small and is broadcast; the corpus streams. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     selfJoin: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv")))
    // NO Par.fanOutReady on the stream side (round-15 A/B): a
    // sub-split corpus does run its |queries|-cosines-per-row loop as
    // ONE task (t80: two 1.2 s serial passes), but the two brute
    // subtrees of a marginMine already run CONCURRENTLY, and the
    // 32-way spread regressed t80 2.1 -> 5.8 s wall at sf0.1 — ~35 ms
    // of kernel work per task under ~0.8 s of task/fan-in/GC overhead
    // (the round-14 gram-explode lesson on the vector path). A
    // split-parallel production corpus never has the problem; this
    // operator is the deliberate small-N exact baseline.
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    q.join(c, if (selfJoin) col("query_id") =!= col("neighbor_id")
              else lit(true))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cosine"))
  }

  /** Hard-negative mining for contrastive training (the dense-retriever
    * / SimCSE data-prep step, cf. Karpukhin et al. 2020 §3.2): per query
    * vector, the k corpus vectors MOST similar yet carrying a DIFFERENT
    * label — the negatives a contrastive loss learns most from. Next to
    * each negative: `pos_cosine` (the query's nearest same-label
    * neighbor, its hardest positive), `margin` = pos − neg similarity,
    * and `semihard` (true = the negative is still farther than the
    * positive, margin > 0 — FaceNet's semi-hard band; false = a
    * VIOLATING negative that outranks the positive, the triplets a
    * margin loss actually moves on). Comparisons and the margin
    * use the 4-dp ROUNDED cosines so the flags replay cross-engine
    * (unrounded last-ulp drift must not flip a boolean). Queries with
    * no same-label peer get null pos/margin/semihard (no positive
    * evidence — still minable as plain negatives).
    *
    * Scale shape: one pass — the (small, batched) query table
    * broadcasts with its label, the corpus flows ONCE through the
    * scoring join, and the positive max + the negative top-k are two
    * windows sharing one query-keyed exchange. For
    * corpus-sized query sets compose [[knnJoin]] with an oversampled k
    * and post-filter labels instead (approximate — oversample covers
    * same-label crowding). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), col(labelCol).as("__ql")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), col(labelCol).as("__cl"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("__cos", round(cosine(col("__qv"), col("__cv")), 4))
    // the positive max is a second window over the SAME partitioning,
    // not a groupBy + re-join: the expensive cosine join is evaluated
    // once (the t82 double-retrieval lesson) and both windows share
    // one exchange. max(when(...)) over no same-label rows is null —
    // exactly the no-positive-evidence contract.
    scored
      .withColumn("pos_cosine",
        max(when(col("__cl") === col("__ql"), col("__cos")))
          .over(Window.partitionBy(col("query_id"))))
      .filter(col("__cl") =!= col("__ql"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("__cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("__cl").as("neighbor_label"), col("__cos").as("cosine"),
        col("pos_cosine"),
        round(col("pos_cosine") - col("__cos"), 4).as("margin"),
        (col("pos_cosine") > col("__cos")).as("semihard"))
  }

  /** [[hardNegatives]] at corpus scale, approximate: a bucketed
    * [[knnJoin]] retrieves each query's k·oversample nearest over ALL
    * labels (nothing broadcast — both sides may be corpus-sized), then
    * labels join on and the different-label survivors re-rank to k.
    * Oversampling covers same-label crowding: a query whose shortlist
    * is mostly own-label still fills its k negatives as long as the
    * crowd runs shallower than k·(oversample−1). No positive/margin
    * columns — the shortlist carries no same-label-complete guarantee,
    * so those belong to the exact path (or a separate same-label
    * retrieval). Queries are re-derivable members of `corpus` when
    * mining all-pairs (the knnJoin two-sided contract). */
  def hardNegativesBucketed(corpus: DataFrame, queries: DataFrame, k: Int,
                            oversample: Int = 4, bits: Int = 8,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            labelCol: String = "label"): DataFrame = {
    require(oversample >= 1, "oversample must be >= 1")
    val cl = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__cl"))
    val ql = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql"))
    knnJoin(queries.select(col(idCol), col(vecCol)),
        corpus.select(col(idCol), col(vecCol)),
        k = k * oversample, bits = bits,
        idCol = idCol, vecCol = vecCol)
      .join(cl, Seq("neighbor_id"))
      .join(ql, Seq("query_id"))
      .filter(col("__cl") =!= col("__ql"))
      .withColumn("neg_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("neg_rank") <= k)
      .select(col("query_id"), col("neg_rank").as("rank"),
        col("neighbor_id"), col("__cl").as("neighbor_label"),
        col("cosine"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009
    * — the hybrid-retrieval standard, e.g. Elasticsearch/OpenSearch
    * hybrid search): combine any number of per-query rankings into
    * one list by `score(q, d) = sum over lists of 1/(k0 + rank)`.
    * Scores are deliberately IGNORED — only the integer ranks fuse,
    * so a dense cosine list and a sparse BM25 list (incomparable
    * score scales) combine without calibration, and the arithmetic
    * is one IEEE division of integers per term, accumulated as
    * decimal(27,12) (order-independent) — any engine replays the
    * fused ranking exactly (t79). `k0` (classic 60) damps the head:
    * smaller trusts top ranks more. Each input needs
    * (`queryCol`, `rankCol`, `idCol`); rows past a list's own k
    * simply contribute nothing. Output: (query_id, rank, neighbor_id,
    * n_lists, rrf_score round 6), ranked on the unrounded score with
    * neighbor-id ties; n_lists = how many input lists carried the
    * pair (consensus provenance).
    *
    * Scale shape: a union of rank-frame projections (each list is
    * already top-k-sized, k·|Q| rows — nothing corpus-sized) → ONE
    * (query, doc)-keyed aggregate → per-query top-k
    * (WindowGroupLimit). The expensive work lives in the input
    * retrievers; fusion itself is rank-frame-sized. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, k0: Int = 60,
              queryCol: String = "query_id",
              idCol: String = "neighbor_id",
              rankCol: String = "rank"): DataFrame = {
    require(rankings.nonEmpty && k > 0 && k0 >= 0,
      "need >= 1 ranking, k > 0, k0 >= 0")
    val u = rankings.map(_.select(col(queryCol).as("query_id"),
        col(idCol).as("neighbor_id"),
        col(rankCol).cast("long").as("__r")))
      .reduce(_.unionAll(_))
    u.withColumn("__t",
        lit(1.0) / (lit(k0.toLong) + col("__r")).cast("double"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__t").cast("decimal(27,12)")).cast("double")
          .as("__score"),
        count(lit(1)).as("n_lists"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("__score").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("n_lists"),
        round(col("__score"), 6).as("rrf_score"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, ACL 2019; the
    * CCMatrix / NLLB parallel-corpus mining rule): score every
    * cross-side candidate pair by the RATIO margin
    * `margin(x, y) = cos(x, y) / (avg_kNN(x)/2 + avg_kNN(y)/2)`
    * — how much closer x and y are than each one's k-neighborhood —
    * and flag the pairs where x and y are each other's rank-1 by
    * margin (mutual best, the mining criterion). Takes the two
    * neighbor frames in the (query_id, rank, neighbor_id, cosine)
    * retriever contract — `fwd` = src queries over the tgt corpus,
    * `bwd` = the reverse — so ANY retriever supplies candidates
    * (bruteForceTopK here; knnJoin / lshTopK / ivfTopK / graphSearch
    * at scale) and the mining itself, like [[rrfFuse]], never sees
    * anything corpus-sized. Candidates = the union of both lists,
    * RESTRICTED to pairs where both endpoints have a neighborhood in
    * their own direction's frame — a margin is undefined without both
    * k-NN means, so a pair proposed by bwd for a src id that fwd
    * never queried (e.g. fwd built from a sampled query subset) is
    * dropped, not scored (spec-pinned); mine with matching query
    * coverage on both sides to score every candidate. Margins use
    * the retriever's reported round-4 cosines (documented
    * — at that granularity the ratio is unchanged for mining) with
    * neighborhood sums decimal(27,12)-accumulated and divided by the
    * ACTUAL list size (= k whenever the corpus has k rows), so the
    * t80 oracle replays every margin. Output: (src_id, tgt_id,
    * margin round 6, src_rank, tgt_rank, is_mutual), ranks on the
    * unrounded margin with partner-id ties.
    *
    * Scale shape: two rank-frame-sized aggregates (per-side
    * neighborhood means), one pair-keyed dedup aggregate, two
    * windows (per-src and per-tgt rank — two exchanges, both
    * rank-frame-sized). */
  def marginMine(fwd: DataFrame, bwd: DataFrame): DataFrame = {
    def avgOf(nn: DataFrame, side: String) = nn
      .groupBy(col("query_id").as(s"${side}_id"))
      .agg((sum(col("cosine").cast("decimal(27,12)")).cast("double") /
        (lit(2.0) * count(lit(1)).cast("double"))).as(s"__h$side"))
    val pairs = fwd.select(col("query_id").as("src_id"),
        col("neighbor_id").as("tgt_id"), col("cosine"))
      .unionAll(bwd.select(col("neighbor_id").as("src_id"),
        col("query_id").as("tgt_id"), col("cosine")))
      .groupBy(col("src_id"), col("tgt_id"))
      .agg(max(col("cosine")).as("__cos"))
    val m = pairs
      .join(avgOf(fwd, "src"), "src_id")
      .join(avgOf(bwd, "tgt"), "tgt_id")
      .withColumn("__m", col("__cos") / (col("__hsrc") + col("__htgt")))
    m.withColumn("src_rank", row_number().over(
        Window.partitionBy(col("src_id"))
          .orderBy(col("__m").desc, col("tgt_id"))).cast("long"))
      .withColumn("tgt_rank", row_number().over(
        Window.partitionBy(col("tgt_id"))
          .orderBy(col("__m").desc, col("src_id"))).cast("long"))
      .select(col("src_id"), col("tgt_id"),
        round(col("__m"), 6).as("margin"),
        col("src_rank"), col("tgt_rank"),
        (col("src_rank") === 1L && col("tgt_rank") === 1L)
          .cast("long").as("is_mutual"))
  }

  /** [[marginMine]] at corpus scale — the CCMatrix/NLLB composition
    * where BOTH language sides are corpus-sized: the candidate lists
    * come from [[knnJoin]] in each direction (bucket-keyed shuffle
    * joins, nothing broadcast, per-query fan-out |other side|/2^bits
    * per probe — the [[hardNegativesBucketed]] discipline), then the
    * mining itself runs rank-frame-sized exactly as in [[marginMine]].
    * Approximation lives ONLY in the candidate lists: margins of
    * retrieved pairs are computed by the same exact rule, and a true
    * mutual-best pair is mined iff each endpoint retrieves the other
    * into its k-list — mined-mutual recall vs the exact brute-force
    * mine is spec-pinned on the fixture (SimilaritySpec). Sides must
    * be disjoint id spaces (bitext sides are; the knnJoin
    * selfJoin=false contract). */
  def marginMineBucketed(src: DataFrame, tgt: DataFrame, k: Int,
                         bits: Int = 8, probe1: Boolean = true,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame =
    marginMine(
      knnJoin(src, tgt, k, bits, probe1 = probe1, idCol = idCol,
        vecCol = vecCol, selfJoin = false),
      knnJoin(tgt, src, k, bits, probe1 = probe1, idCol = idCol,
        vecCol = vecCol, selfJoin = false))

  /** Per-query retrieval-quality metrics — recall@k, MRR@k and binary
    * nDCG@k of a `system` ranking against a `truth` ranking (both in
    * the (query_id, rank, neighbor_id) retriever contract; truth's
    * top-k is the binary relevant set). This is the eval harness the
    * retriever family reports itself through: every approximate path
    * (LSH / IVF / PQ / graph / sparse) can be scored per-query
    * against [[bruteForceTopK]] in-engine instead of driver-side.
    * Metrics: recall = |hits| / |truth top-k|; MRR = 1/rank of the
    * first relevant system row (0 when none); nDCG uses the binary
    * DCG `sum 1/log2(rank+1)` written as `ln(2)/ln(rank+1)` — one ln
    * per term, the engine-portable form — with DCG and the ideal DCG
    * (first min(n_rel, k) positions) both decimal(27,12)-accumulated,
    * so the t81 oracle replays every term. Queries absent from
    * `system` (an empty LSH bucket — the case eval exists to catch)
    * score 0 on all three; queries absent from `truth` are undefined
    * and excluded.
    *
    * Scale shape: rank-frame-sized throughout ([[rrfFuse]]'s
    * discipline): one hits join, three query-keyed aggregates, a
    * per-query sequence explode of <= k rows for the ideal DCG. */
  def rankingMetrics(system: DataFrame, truth: DataFrame, k: Int,
                     queryCol: String = "query_id",
                     idCol: String = "neighbor_id",
                     rankCol: String = "rank"): DataFrame = {
    require(k > 0, "need k > 0")
    val sys = system.filter(col(rankCol) <= k)
      .select(col(queryCol).as("query_id"),
        col(idCol).as("neighbor_id"), col(rankCol).cast("long").as("__sr"))
    val tru = truth.filter(col(rankCol) <= k)
      .select(col(queryCol).as("query_id"), col(idCol).as("neighbor_id"))
    val nrel = tru.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel"))
    def lnTerm(rank: Column) =
      log(lit(2.0)) / log((rank + lit(1L)).cast("double"))
    val hagg = sys.join(tru, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("__hits"), min(col("__sr")).as("__minr"),
        sum(lnTerm(col("__sr")).cast("decimal(27,12)")).as("__dcg"))
    val idcg = nrel
      .select(col("query_id"), explode(sequence(lit(1L),
        least(col("n_rel"), lit(k.toLong)))).as("__i"))
      .groupBy(col("query_id"))
      .agg(sum(lnTerm(col("__i")).cast("decimal(27,12)")).as("__idcg"))
    nrel.join(hagg, Seq("query_id"), "left")
      .join(idcg, Seq("query_id"))
      .select(col("query_id"), col("n_rel"),
        coalesce(col("__hits"), lit(0L)).as("hits"),
        round(coalesce(col("__hits"), lit(0L)).cast("double") /
          col("n_rel").cast("double"), 6).as("recall"),
        round(coalesce(lit(1.0) / col("__minr").cast("double"),
          lit(0.0)), 6).as("mrr"),
        round(coalesce(col("__dcg").cast("double"), lit(0.0)) /
          col("__idcg").cast("double"), 6).as("ndcg"))
  }

  /** Rank-biased overlap at depth k (Webber, Moffat & Zobel, TOIS
    * 2010 — prefix-evaluated / minimal form, no extrapolation):
    * compare two rankings per query WITHOUT a truth set,
    * `RBO@k = sum over d=1..k of (1-p) * p^(d-1) * |A_d ∩ B_d| / d`,
    * top-weighted by the persistence `p = pNum/pDen` (classic 9/10).
    * The depth sum is regrouped per ITEM: a matched item with
    * `m = max(rank_a, rank_b)` is inside every prefix intersection
    * from depth m on, so it contributes the closed weight
    * `W(m) = sum over d=m..k of (1-p)*p^(d-1)/d` — RBO collapses to
    * ONE (query, item) join + a k-row broadcast weight lookup + a
    * per-query sum. Complements [[rankingMetrics]]: that scores a
    * system against a truth; this measures how much two systems
    * agree (exact-vs-LSH drift, two quantizers, pre/post re-rank).
    *
    * Determinism: p^(d-1) is an ITERATED double multiplication
    * (a left fold — deliberately not libm `pow`, the t73 lesson,
    * whose rounding may differ per engine); each depth term is one
    * double expression; W(m) and the per-query sums accumulate as
    * decimal(27,12) (order-independent), so the t82 oracle replays
    * the weight table with a recursive CTE and every sum. Output:
    * (query_id, overlap_k, rbo round 6) for every query in EITHER
    * ranking — disjoint prefixes score 0, identical prefixes
    * `1 - p^k` (the mass past depth k is unobserved; divide by
    * `1 - p^k` for a [0,1]-normalized agreement if needed).
    *
    * Scale shape: rank-frame-sized ([[rrfFuse]]'s discipline) — the
    * weight table is k rows, the join is prefix-sized. */
  def rboSimilarity(a: DataFrame, b: DataFrame, k: Int,
                    pNum: Int = 9, pDen: Int = 10,
                    queryCol: String = "query_id",
                    idCol: String = "neighbor_id",
                    rankCol: String = "rank"): DataFrame = {
    require(k > 0 && pNum > 0 && pNum < pDen,
      "need k > 0 and a persistence fraction in (0,1)")
    val spark = a.sparkSession
    val p = lit(pNum.toDouble / pDen.toDouble)
    // p^(d-1) as a left fold over d-1 copies of p (array_repeat, NOT
    // sequence(1, d-1): Spark's sequence turns descending for d=1
    // instead of empty)
    val terms = spark.range(1, k + 1L).toDF("__d")
      .withColumn("__pw", aggregate(
        array_repeat(p, (col("__d") - lit(1L)).cast("int")), lit(1.0),
        (acc, v) => acc * v))
      .withColumn("__term",
        (lit(1.0) - p) * col("__pw") / col("__d").cast("double"))
    val w = spark.range(1, k + 1L).toDF("__m")
      .join(terms, col("__d") >= col("__m"))
      .groupBy(col("__m"))
      .agg(sum(col("__term").cast("decimal(27,12)")).as("__w"))
    def side(df: DataFrame, rc: String) = df
      .filter(col(rankCol) <= k)
      .select(col(queryCol).as("query_id"),
        col(idCol).as("neighbor_id"), col(rankCol).cast("long").as(rc))
    // ONE full-outer pass: each input DAG (the two retrievals — the
    // expensive part) executes exactly once; a one-sided row keeps the
    // query in the universe with a null weight (greatest() would
    // IGNORE the null rank, so the both-present guard is explicit)
    val sa = side(a, "__ra"); val sb = side(b, "__rb")
    sa.join(sb, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("__m",
        when(col("__ra").isNotNull && col("__rb").isNotNull,
          greatest(col("__ra"), col("__rb"))))
      .join(broadcast(w), Seq("__m"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("__w")).as("overlap_k"),
        sum(col("__w")).as("__rbo"))
      .select(col("query_id"), col("overlap_k"),
        round(coalesce(col("__rbo").cast("double"), lit(0.0)), 6)
          .as("rbo"))
  }

  /** Random-hyperplane LSH bucket id (Charikar '02 sign sketch): `bits`
    * pseudo-random hyperplanes derived deterministically from xxhash64 of
    * (dimension index, plane index); bucket = sign-bit vector as int.
    * Same expression buckets corpus and queries => co-partitioned join. */
  def rhpBucket(vec: Column, bits: Int): Column = {
    val planes = (0 until bits).map { p =>
      // pseudo-random +/-1 weight per (dim, plane), from a hash of indices
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (x, i) =>
          x.cast("double") *
            when(xxhash64(i, lit(p)).bitwiseAND(1L) === 0L, 1.0).otherwise(-1.0)),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1), p)).otherwise(lit(0))
    }
    planes.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Probe buckets for a `b0` bucket column: own bucket, plus Hamming-1
    * neighbors (`probe1`), plus Hamming-2 (`probe2` — the recall-tail
    * knob: 1+bits+C(bits,2) probes; recall/cost measured in
    * SimilaritySpec). All probe values are distinct and a neighbor lives
    * in exactly one bucket, so a (query, neighbor) pair matches at most
    * one probe — no dedup needed before ranking. */
  private def probeSet(b0: Column, bits: Int, probe1: Boolean,
                       probe2: Boolean): Seq[Column] =
    Seq(b0) ++
      (if (probe1 || probe2)
        (0 until bits).map(p => b0.bitwiseXOR(1 << p)) else Nil) ++
      (if (probe2)
        for { i <- 0 until bits; j <- (i + 1) until bits }
          yield b0.bitwiseXOR((1 << i) | (1 << j))
      else Nil)

  /** Shared candidate-join + rank core of [[lshTopK]] and [[knnJoin]]:
    * bucket-keyed equi-join, self-pair filter (only when the two sides
    * share an id space — `excludeSelf`), exact cosine, top-k per query
    * with the neighbor_id tiebreak, cosine rounded to 4 — the ONE
    * definition the DuckDB oracles mirror. `qb` must carry
    * (query_id, __qv, bucket), `cb` (neighbor_id, __cv, bucket). */
  private def bucketedTopK(qb: DataFrame, cb: DataFrame, k: Int,
                           excludeSelf: Boolean = true): DataFrame =
    qb.join(cb, Seq("bucket"))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id")
              else lit(true))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cosine"))

  private def bucketCorpus(corpus: DataFrame, bits: Int, idCol: String,
                           vecCol: String): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      rhpBucket(col(vecCol), bits).as("bucket"))

  private def explodeProbes(queries: DataFrame, bits: Int, probe1: Boolean,
                            probe2: Boolean, idCol: String,
                            vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        rhpBucket(col(vecCol), bits).as("b0"))
      .select(col("query_id"), col("__qv"),
        explode(array(probeSet(col("b0"), bits, probe1, probe2): _*))
          .as("bucket"))

  /** Bucketed ANN: corpus and queries hashed to `bits`-bit buckets; each
    * query only scans its bucket (multi-probe: plus buckets at Hamming
    * distance 1 when `probe1` — recall/cost knob). Returns top-k per query
    * among candidates. The (small) query side is broadcast; for a
    * large-batch query side use [[knnJoin]]. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int = 4,
              probe1: Boolean = true, idCol: String = "vec_id",
              vecCol: String = "embedding",
              selfJoin: Boolean = true): DataFrame =
    bucketedTopK(
      broadcast(explodeProbes(queries, bits, probe1, probe2 = false,
        idCol, vecCol)),
      bucketCorpus(corpus, bits, idCol, vecCol), k, excludeSelf = selfJoin)

  /** Two-sided scalable knn-join — "for every left row, its k nearest
    * right rows" where BOTH sides are large. Unlike [[lshTopK]], which
    * broadcasts a small probe set, nothing here is broadcast: both sides
    * are bucketed by the same RHP sign sketch ([[rhpBucket]]), the left
    * side explodes its multi-probe bucket list (`bits`+1 rows per query
    * when `probe1`), and candidates meet in a bucket-keyed shuffle
    * equi-join — the same hash→band→bucket-join discipline as the dedup
    * family, so per-query fan-out is |right|/2^bits per probe instead of
    * |right|. Top-k per left row is then a window over the candidate
    * sliver. At 100 TB each side shuffles once on the bucket key and the
    * candidates once on query_id for the rank; no unbounded frame ever
    * ships to every executor. A neighbor lives in exactly one bucket and
    * the probe list is distinct, so a (query, neighbor) pair can match at
    * most one probe — no dedup needed before the rank.
    *
    * `selfJoin` declares whether left and right share an id space (left
    * drawn from right, e.g. a corpus joined to itself): when true
    * (default), a query's own row is filtered out of its neighbors. Set
    * it false for genuinely disjoint frames — otherwise a right row whose
    * id happens to collide with a query id would be silently dropped. */
  def knnJoin(left: DataFrame, right: DataFrame, k: Int, bits: Int = 8,
              probe1: Boolean = true, probe2: Boolean = false,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              selfJoin: Boolean = true): DataFrame =
    bucketedTopK(
      explodeProbes(left, bits, probe1, probe2, idCol, vecCol),
      bucketCorpus(right, bits, idCol, vecCol), k, excludeSelf = selfJoin)

  /** Exact Hamming-1 candidate census behind [[knnJoinAdaptive]]'s probe
    * decision: per query, how many right-side rows its 1+bits probe set
    * would meet. Bucket sizes are a 2^bits-row broadcast frame; the count
    * is the sum of the probed buckets' sizes, minus one only when
    * `selfJoin` (the query's own vector then sits in exactly one probed
    * bucket and is never a neighbor). For disjoint sides no row is
    * subtracted — an unconditional minus-one would undercount by one and
    * send borderline queries into needlessly deep probes.
    * Returns (query_id, __cand). */
  private[graft] def knnCensus(left: DataFrame, right: DataFrame,
                               bits: Int, idCol: String = "vec_id",
                               vecCol: String = "embedding",
                               selfJoin: Boolean = true): DataFrame =
    knnCensusFromSizes(left,
      broadcast(bucketCorpus(right, bits, idCol, vecCol)
        .groupBy(col("bucket")).count()),
      bits, idCol, vecCol, selfJoin)

  /** [[knnCensus]] against a pre-computed broadcast (bucket, count) sizes
    * frame — the callers that already bucketed the corpus (adaptive /
    * budget joins) pass their own sizes instead of paying a second
    * corpus scan + broadcast for the census. */
  private[graft] def knnCensusFromSizes(left: DataFrame, sizes: DataFrame,
                                        bits: Int, idCol: String,
                                        vecCol: String,
                                        selfJoin: Boolean): DataFrame =
    explodeProbes(left, bits, probe1 = true, probe2 = false, idCol, vecCol)
      .join(sizes, Seq("bucket"), "left")
      .groupBy(col("query_id"))
      .agg((coalesce(sum(col("count")), lit(0L)) -
        (if (selfJoin) 1 else 0)).as("__cand"))

  /** Adaptive probe depth over [[knnJoin]]: probe Hamming-2 only for the
    * queries whose Hamming-1 candidate census falls under `k` — recall
    * where needed, cost where not. The census ([[knnCensus]]) is exact
    * and cheap: bucket sizes are a 2^bits-row broadcast frame, integer
    * arithmetic only — the t30 DuckDB oracle mirrors the split decision
    * exactly. Queries at or above `k` take the 1+bits probe set; starved
    * queries re-probe with the full 1+bits+C(bits,2) set. The two
    * populations are disjoint, so per-query ranks union cleanly.
    * `selfJoin` as in [[knnJoin]]: it gates both the self-pair filter and
    * the census's minus-one.
    *
    * EAGER: constructing the returned DataFrame already runs Spark jobs —
    * the census is materialized via `localCheckpoint()` (so the two
    * population joins don't recompute it), which executes at call time
    * and pins executor-local blocks that do not survive executor loss.
    * Callers composing plans lazily (plan inspection, `explain`) should
    * expect jobs to have run. */
  def knnJoinAdaptive(left: DataFrame, right: DataFrame, k: Int,
                      bits: Int = 8, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      selfJoin: Boolean = true): DataFrame = {
    val cb = bucketCorpus(right, bits, idCol, vecCol)
    val sizes = broadcast(cb.groupBy(col("bucket")).count())
    val census =
      knnCensusFromSizes(left, sizes, bits, idCol, vecCol, selfJoin)
    // materialized once: both population joins consume it, and without
    // the checkpoint each would recompute the census (probe explode +
    // broadcast join + agg) from scratch. The frame is (id) per starved
    // query — bounded and tiny next to the candidate join it steers.
    val starvedIds = census.filter(col("__cand") < k).select(col("query_id"))
      .localCheckpoint()
    val rich = left.join(starvedIds, left(idCol) === starvedIds("query_id"),
      "left_anti")
    val starved = left.join(starvedIds, left(idCol) === starvedIds("query_id"),
      "left_semi")
    // union the two populations' probe frames, then ONE candidate join +
    // rank — two separate joins would re-scan and re-bucket the corpus
    // twice. Populations are disjoint, so ranks are unchanged.
    bucketedTopK(
      explodeProbes(rich, bits, probe1 = true, probe2 = false,
        idCol, vecCol)
        .unionByName(explodeProbes(starved, bits, probe1 = true,
          probe2 = true, idCol, vecCol)),
      cb, k, excludeSelf = selfJoin)
  }

  /** Graded probe budget over [[knnJoin]] — the census-proportional
    * generalization of [[knnJoinAdaptive]]'s binary split. Each query
    * gets the SHALLOWEST probe set whose integer candidate census
    * already covers `k`:
    *  - tier 0: the query's own bucket holds >= k candidates -> probe
    *    only it (1 probe instead of 1+bits — in a dense corpus this is
    *    the majority, and the candidate volume drops ~(1+bits)x);
    *  - tier 1: the Hamming-1 census covers k -> the 1+bits probe set;
    *  - tier 2: otherwise -> the full 1+bits+C(bits,2) set.
    * The censuses are bucket-size sums against the same 2^bits-row
    * broadcast frame ([[knnCensus]]); tiers are disjoint so per-query
    * ranks union cleanly, and everything is integer arithmetic — the
    * t32 DuckDB oracle mirrors the two censuses and the tier CASE
    * exactly. Cost/recall: tier-0 queries trade Hamming-1 candidates
    * for a ~(1+bits)x smaller scan, so recall sits at or below the
    * uniform probe1 join on dense corpora (measured in SimilaritySpec);
    * probe depth concentrates where the census says it buys neighbors.
    * `selfJoin` as in [[knnJoin]].
    *
    * EAGER: constructing the returned DataFrame already runs Spark jobs —
    * the tier map is materialized via `localCheckpoint()` (three branch
    * joins consume it; without the checkpoint each would recompute both
    * censuses), which executes at call time and pins executor-local
    * blocks that do not survive executor loss. */
  def knnJoinBudget(left: DataFrame, right: DataFrame, k: Int,
                    bits: Int = 8, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    selfJoin: Boolean = true): DataFrame = {
    val cb = bucketCorpus(right, bits, idCol, vecCol)
    val sizes = broadcast(cb.groupBy(col("bucket")).count())
    val self = if (selfJoin) 1 else 0
    val q0 = left.select(col(idCol).as("query_id"),
      rhpBucket(col(vecCol), bits).as("b0"))
    val ownCensus = q0.join(sizes, q0("b0") === sizes("bucket"), "left")
      .select(col("query_id"),
        (coalesce(col("count"), lit(0L)) - self).as("__c0"))
    // reuse the broadcast sizes frame: a second knnCensus(left, right, …)
    // would re-bucket the corpus and build an identical broadcast
    val h1Census =
      knnCensusFromSizes(left, sizes, bits, idCol, vecCol, selfJoin)
    // materialized once: three branch joins consume the tier map, and
    // without the checkpoint each would recompute BOTH censuses. (id,
    // tier) per query — two ints, tiny next to the candidate joins.
    val tiers = ownCensus.join(h1Census, Seq("query_id"))
      .select(col("query_id"),
        when(col("__c0") >= k, 0)
          .when(col("__cand") >= k, 1)
          .otherwise(2).as("__tier"))
      .localCheckpoint()
    // union the per-tier PROBE frames (query-sized), then run ONE
    // candidate join + rank against the bucketed corpus — three separate
    // joins would re-scan and re-bucket the corpus once per tier. Tier
    // populations are disjoint and within a probe set a neighbor matches
    // at most one probe, so the union introduces no duplicate pairs and
    // per-query ranks are unchanged.
    def probesFor(tier: Int, probe1: Boolean, probe2: Boolean): DataFrame = {
      val ids = tiers.filter(col("__tier") === tier).select(col("query_id"))
      explodeProbes(left.join(ids, left(idCol) === ids("query_id"),
        "left_semi"), bits, probe1, probe2, idCol, vecCol)
    }
    bucketedTopK(
      probesFor(0, probe1 = false, probe2 = false)
        .unionByName(probesFor(1, probe1 = true, probe2 = false))
        .unionByName(probesFor(2, probe1 = true, probe2 = true)),
      cb, k, excludeSelf = selfJoin)
  }

  /** Align a centroid frame's vector element type to the corpus's (the
    * [[ivfTopK]]/[[kmeansStep]] rule, centralized): trained centroid
    * frames carry array<double> decimal-accumulated means while corpora
    * are array<float>, and the cosine kernel rejects mixed widths at
    * analysis time. A no-op projection when the types already agree. */
  private[ops] def alignCentroids(vecs: DataFrame, centroids: DataFrame,
                                  vecCol: String,
                                  cvecCol: String): DataFrame = {
    val elemType = vecs.schema(vecCol).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    if (centroids.schema(cvecCol).dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType == elemType) centroids
    else centroids.withColumn(cvecCol,
      transform(col(cvecCol), x => x.cast(elemType)))
  }

  /** IVF-style coarse quantizer: assign each vector to the nearest of
    * `centroids` (a small table (centroid_id, vec)); search
    * ([[ivfTopK]]) then probes only the nprobe nearest lists. Centroids
    * come from [[kmeansCentroids]] — or any clustering feeding
    * (centroid_id, vec).
    *
    * A PURE PROJECTION (the [[ivfAssignWithCos]] shape, round 14): the
    * centroid table collapses to a one-row broadcast of two parallel
    * rank-ordered arrays (cids, cvecs — sorted together by cid, so the
    * array index IS the centroid rank), and each corpus row picks its
    * list with ONE native `ivf_argmin` kernel call
    * (graft.functions.IvfArgminExpr) — the exact packed ordering the
    * round-13 min_by form used (floor(-cos * 1e12) 1e-12-bucketed
    * distance in the high bits, rank in the low 20, loud-guarded at
    * 2^20 centroids), so assignment winners are bit-identical and the
    * DuckDB oracles (`ORDER BY -cosine, centroid_id`) replay unchanged.
    *
    * Why not the min_by aggregate (round-14 x44 variance post-mortem,
    * PLANS.md "x44"): the corpus x k expansion + groupBy(id, VECTOR)
    * re-normalized (NormalizeFloatingNumbers wraps array keys in a
    * per-row transform — a fresh k-element array allocation per
    * EXPANSION row) and re-hashed the 256-byte float array per row,
    * ~95% of x44's executor time with GC-coupled 2.8x CPU swings; and
    * the lambda-bearing exchange never reused across semanticDedup's
    * three assignment consumers, so the whole subtree ran 3x. The
    * projection form has no expansion, no aggregate, no exchange: each
    * consumer replays one map-only corpus pass — k native cosines per
    * row and nothing else.
    *
    * Semantics preserved exactly: empty centroid table -> empty output
    * (the old cross join with an empty broadcast); a null corpus
    * vector keeps its row with a null assignment (min_by over all-null
    * orderings); null centroid vectors are skipped (null packed
    * orderings were ignored); duplicate centroid ids rank
    * nondeterministically among themselves, as Window.orderBy ties
    * did. Output: (idCol, vecCol, cidCol) with cidCol in the centroid
    * table's own id type (element_at of the broadcast cid array). */
  def ivfAssign(vecs: DataFrame, centroids: DataFrame,
                idCol: String = "vec_id", vecCol: String = "embedding",
                cidCol: String = "centroid_id",
                cvecCol: String = "cvec"): DataFrame = {
    val packedCents = alignCentroids(vecs, centroids, vecCol, cvecCol)
      .agg(sort_array(collect_list(
        struct(col(cidCol).as("cid"), col(cvecCol).as("cvec"))))
        .as("__cs"))
      .select(col("__cs.cid").as("__cids"), col("__cs.cvec").as("__cvecs"))
    // the CASE WHEN around element_at is load-bearing, not style:
    // ANSI ElementAt reports nullable=false when the array has
    // non-null elements, IGNORING that its INDEX expression (the
    // argmin) is nullable — and projection writers trust
    // expression.nullable, so a computed null index was DROPPED and a
    // garbage element written (last under codegen, first interpreted;
    // SketchExprSpec pins the null-vec row). Guard on the ARGMIN
    // result, not the input vector: ivf_argmin is null for a null
    // vector (null-safe left input) AND for an all-null/empty centroid
    // array — the vecCol.isNotNull form missed the second branch and
    // let the wart emit a garbage cid where min_by produced null
    // (round-14 ADVICE). Same rule as ivfAssignWithCos and pqEncode.
    // Plan note: a downstream equi-join on cidCol inlines this CASE
    // WHEN, so argmin also appears in the inferred isnotnull join
    // condition (plans/t11_ann_ivf.txt); the condition's argmin is
    // unconditional, codegen subexpression elimination reuses it, and
    // both r15 bench records show every consumer flat-to-improved.
    vecs.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(packedCents))
      .filter(size(col("__cids")) > 0)
      .withColumn("__ci", graft.functions.GraftFunctions.ivf_argmin(
        col(vecCol), col("__cvecs")))
      .select(col(idCol), col(vecCol),
        when(col("__ci").isNotNull,
          element_at(col("__cids"), col("__ci") + 1)).as(cidCol))
  }

  /** End-to-end IVF search — the piece that makes a trained index
    * ([[kmeansCentroids]] or any (centroid_id, cvec) frame) usable the
    * way [[lshTopK]]/[[knnJoin]] are. Per query: rank all centroids by
    * cosine (same deterministic -cosine/centroid_id ordering as
    * [[ivfAssign]]'s quantizer), probe the `nprobe` nearest lists,
    * candidates = union of the probed lists' members, then the standard
    * top-k contract ([[bucketedTopK]]: exact cosine, neighbor_id
    * tiebreak, cosine rounded to 4).
    *
    * Scale shape: the centroid table is small and broadcast twice (once
    * into the corpus assign pass, once into the query probe ranking); the
    * corpus shuffles once on its list id and candidates once on query_id
    * for the rank — the same discipline as [[knnJoin]], with the list id
    * playing the bucket role. Each corpus row lives in exactly one list
    * and a query's nprobe list ids are distinct, so no (query, neighbor)
    * pair duplicates before the rank. `selfJoin` as in [[knnJoin]]. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              k: Int, nprobe: Int = 2, idCol: String = "vec_id",
              vecCol: String = "embedding", cidCol: String = "centroid_id",
              cvecCol: String = "cvec",
              selfJoin: Boolean = true): DataFrame = {
    // align centroid element type to the corpus vectors (same rule as
    // kmeansStep): a trained centroid frame carries array<double> means,
    // and the cosine kernel requires both sides the same element type.
    // For raw-vector centroids the element-wise cast is a no-op
    val elemType = corpus.schema(vecCol).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val cents = centroids.withColumn(cvecCol,
      transform(col(cvecCol), x => x.cast(elemType)))
    val assigned = ivfAssign(corpus, cents, idCol, vecCol, cidCol,
        cvecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        col(cidCol).as("bucket"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .crossJoin(broadcast(cents.select(col(cidCol), col(cvecCol))))
      .withColumn("__d", -cosine(col("__qv"), col(cvecCol)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__d"), col(cidCol))))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col("__qv"), col(cidCol).as("bucket"))
    bucketedTopK(probes, assigned, k, excludeSelf = selfJoin)
  }

  /** Squared L2 between two equal-length numeric array columns, as the
    * DECIMAL(27,12) truncation of the sequential double fold (the native
    * codegen'd [[graft.functions.L2SqExpr]] kernel — same operation
    * order as the zip_with/aggregate fold, which runs interpreted and
    * benched ~10x slower on the corpus x codebook PQ hot path). The
    * decimal cast makes downstream argmin/rank comparisons exact and
    * engine-portable: two distances closer than 1e-12 round equal and
    * fall to the deterministic id tiebreak instead of hinging on the
    * last float ULP. */
  private def l2sqDec(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.l2_sq(a, b).cast("decimal(27,12)")

  /** The `m` subvector slices of `vec` as (subspace, sub) structs;
    * dsub = len/m is computed in-expression so one definition serves any
    * dimension. Guarded: a dimension not divisible by m would silently
    * drop the trailing (dim mod m) dimensions from every subspace —
    * encode/ADC distances would quietly ignore them — so the expression
    * raises instead (row-level, so a mixed-dimension corpus fails on the
    * offending row, not only at plan time). */
  private def subVectors(vec: Column, m: Int): Column = {
    val dsub = (size(vec) / m).cast("int")
    val slices = array((0 until m).map(s =>
      struct(lit(s).as("subspace"),
        slice(vec, lit(s) * dsub + 1, dsub).as("sub"))): _*)
    when(pmod(size(vec), lit(m)) =!= 0,
        raise_error(concat(
          lit(s"PQ requires vector dimension divisible by m=$m; got dim="),
          size(vec).cast("string"))))
      .otherwise(slices)
  }

  /** Align codebook element type to the vector column's (same
    * re-alignment rule as [[ivfTopK]]/[[kmeansStep]]): the native L2
    * kernel requires both sides the same element type, and a
    * k-means-refined codebook carries array<double> means. No-op for
    * same-type codebooks. */
  private def alignCodebooks(codebooks: DataFrame, vecs: DataFrame,
                             vecCol: String): DataFrame = {
    val elemType = vecs.schema(vecCol).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    codebooks.withColumn("w", transform(col("w"), x => x.cast(elemType)))
  }

  /** Product-quantization codebooks by deterministic sampling (the same
    * every-`every`-th-vector init rule as [[kmeansCentroids]]): codebook
    * of subspace s = the s-th subvector slice of every sampled vector,
    * keyed by the source id. (subspace, code_id, w) — small: m * (n/every)
    * rows, meant to be broadcast. A k-means-refined codebook (run
    * [[kmeansStep]] per subspace) plugs into the same (subspace, code_id,
    * w) contract. */
  def pqCodebooksFromSample(vecs: DataFrame, m: Int, every: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame =
    vecs.filter(col(idCol) % every === 0)
      .select(col(idCol).cast("long").as("code_id"),
        explode(subVectors(col(vecCol), m)).as("sv"))
      .select(col("sv.subspace").as("subspace"), col("code_id"),
        col("sv.sub").as("w"))

  /** L2-Lloyd-refined PQ codebooks: `iters` k-means steps per subspace
    * from the [[pqCodebooksFromSample]] init — assignment IS
    * [[pqEncode]] (decimal-exact squared-L2 argmin, code_id tiebreak),
    * means accumulate per dimension as DECIMAL(27,12) exactly like
    * [[kmeansStep]] so the refined codewords are partitioning- and
    * order-independent and an external engine recomputes them
    * term-for-term. A codeword that attracts no subvectors drops out
    * (standard Lloyd). Returns the same (subspace, code_id, w) contract
    * pqEncode/pqTopK consume (w comes back array<double>; the encode
    * path re-aligns element types itself).
    *
    * Scale shape per iteration: one encode pass (see [[pqEncode]]) +
    * one (subspace, code, dim)-keyed decimal aggregate; each exchanged
    * row is (int, long, int, decimal) — subvectors never cross the wire
    * unaggregated. Refined codebooks stay m * K rows, localCheckpointed
    * per round so round r+1's plan does not replay round r. */
  def pqCodebooksKmeans(vecs: DataFrame, m: Int, every: Int, iters: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val sub = vecs.select(col(idCol).as("vec_id"),
        explode(subVectors(col(vecCol), m)).as("sv"))
      .select(col("vec_id"), col("sv.subspace").as("subspace"),
        col("sv.sub").as("sub"))
    var cb = pqCodebooksFromSample(vecs, m, every, idCol, vecCol)
    for (_ <- 1 to iters)
      cb = pqEncode(vecs, cb, m, idCol, vecCol)
        .join(sub, Seq("vec_id", "subspace"))
        .select(col("subspace"), col("code_id"), posexplode(col("sub")))
        .groupBy(col("subspace"), col("code_id"), col("pos"))
        .agg((sum(col("col").cast("decimal(27,12)")).cast("double") /
          count(lit(1))).as("__val"))
        .groupBy(col("subspace"), col("code_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("__val"))))
          .as("__a"))
        .select(col("subspace"), col("code_id"),
          transform(col("__a"), x => x.getField("__val")).as("w"))
        .localCheckpoint()
    cb
  }

  /** Product-quantization encode (Jegou et al. 2011): each vector becomes
    * `m` small codes — per subspace, the id of the nearest codeword by
    * squared L2 (decimal-exact compare, code_id tiebreak). Returns the
    * exploded (vec_id, subspace, code_id) frame — the compressed corpus
    * representation that [[pqTopK]] scans; at 64 codewords a 64-dim float
    * vector (256 B) compresses to m bytes.
    *
    * Scale shape: corpus x broadcast-codebook expansion is map-side only;
    * the per-(vector, subspace) argmin is a partial-aggregated single-
    * decimal `min` — each map task reduces to m rows per vector before
    * the one (vec_id, subspace)-keyed exchange. The full vector never
    * shuffles.
    *
    * The argmin is `min_by(code_id, packed)` where (distance, tiebreak)
    * pack into ONE decimal instead of a struct: a struct-valued `min`
    * is not a mutable aggregation buffer, which forced a SortAggregate
    * (sort the whole corpus x codebook expansion); min_by's
    * (long, decimal) buffer is mutable, so the same argmin
    * HashAggregates — measured 0.27 s vs the struct form's 0.42 s on
    * the x38 16k x 4 x 81 regime. Packing is exact, not a quantization:
    * the distance keeps its decimal(27,12) value with the scale
    * extended to 18, and a dense 0-based per-subspace code RANK
    * (ordered by code_id, so min rank == min code_id) occupies the six
    * digits BELOW the distance's 1e-12 resolution. Ranks are unique per
    * subspace, so packed values are distinct within every group and
    * min_by is deterministic: it returns the code_id of lexicographic
    * min(d, code_id) bit-for-bit — the t38-t41/t45/t63/t65 oracles
    * replay unchanged. Rank caps at 10^6 codewords per subspace
    * (row-level raise_error beyond — PQ codebooks are 256-4096 entries).
    * A codeword whose distance overflows decimal(27,12) packs to null
    * and is skipped (the defined argmin over in-range distances).
    *
    * `exactSums = false` (round 14, the x78 fast-sum precedent applied
    * to PQ): the argmin becomes a PURE PROJECTION — per-subspace
    * codewords collapse to rank-sorted broadcast arrays and each
    * (vector, subspace) row picks its code with one native `l2_argmin`
    * kernel call (exact-double strict-<, first-lowest-rank tie rule) —
    * no decimal packing, no aggregate, no (vec_id, subspace) exchange.
    * Codes can differ from the exact path only where two codeword
    * distances land within the decimal's 1e-12 truncation
    * (SimilaritySpec pins code-identity on the fixture); every oracle
    * (t38-t41/t45/t63/t65) keeps the exact default. */
  def pqEncode(vecs: DataFrame, codebooks: DataFrame, m: Int,
               idCol: String = "vec_id",
               vecCol: String = "embedding",
               exactSums: Boolean = true): DataFrame = {
    if (!exactSums) {
      val cb = alignCodebooks(codebooks, vecs, vecCol)
        .groupBy(col("subspace"))
        .agg(sort_array(collect_list(
          struct(col("code_id"), col("w")))).as("__cs"))
        .select(col("subspace"), col("__cs.code_id").as("__cids"),
          col("__cs.w").as("__ws"))
      // the CASE WHEN is the ElementAt nullability guard (see
      // ivfAssign): a null argmin (all-null codewords) must surface as
      // a null code, not a garbage element
      return vecs.select(col(idCol).as("vec_id"),
          explode(subVectors(col(vecCol), m)).as("sv"))
        .select(col("vec_id"), col("sv.subspace").as("subspace"),
          col("sv.sub").as("sub"))
        .join(broadcast(cb), Seq("subspace"))
        .withColumn("__ci", graft.functions.GraftFunctions.l2_argmin(
          col("sub"), col("__ws")))
        .select(col("vec_id"), col("subspace"),
          when(col("__ci").isNotNull,
            element_at(col("__cids"), col("__ci") + 1)).as("code_id"))
    }
    val ranked = alignCodebooks(codebooks, vecs, vecCol)
      .withColumn("__cr", (row_number().over(
        Window.partitionBy(col("subspace")).orderBy(col("code_id")))
        - 1).cast("long"))
    val rankGuard = when(col("__cr") >= 1000000L,
        raise_error(lit("pqEncode packs the code rank into 6 decimal " +
          "digits; a subspace has >= 10^6 codewords")))
      .otherwise(col("__cr"))
    val packed =
      l2sqDec(col("sub"), col("w")).cast("decimal(33,18)") +
        rankGuard.cast("decimal(6,0)") *
          lit(new java.math.BigDecimal("1E-18"))
    vecs.select(col(idCol).as("vec_id"),
        explode(subVectors(col(vecCol), m)).as("sv"))
      .select(col("vec_id"), col("sv.subspace").as("subspace"),
        col("sv.sub").as("sub"))
      .join(broadcast(ranked), Seq("subspace"))
      .groupBy(col("vec_id"), col("subspace"))
      .agg(min_by(col("code_id"), packed).as("code_id"))
  }

  /** PQ asymmetric-distance (ADC) top-k: queries keep full precision,
    * the corpus is scanned in code space. Per query and subspace a
    * distance table d(q_sub, codeword) is built against the broadcast
    * codebook; a corpus vector's approximate distance is the sum of its
    * m table entries; rank ascending (squared L2), neighbor_id tiebreak.
    * Distances accumulate as DECIMAL(27,12), so the ranking — not just
    * the output — is exact integer-like arithmetic that an external
    * engine replays bit-for-bit.
    *
    * Scale shape: the query table (|q| * m * K rows) broadcasts; the
    * corpus flows as its (vec_id, subspace, code) codes — m ints per
    * vector, not the vector — through one map-side-combined
    * (query, neighbor) sum. The scan is corpus-complete by design (ADC
    * is compressed brute force); at 100 TB compose with the IVF coarse
    * quantizer ([[ivfAssign]] lists as a pre-filter on the code frame)
    * so only probed lists are scanned — the codes frame joins on vec_id
    * against any candidate-restriction frame without re-encoding. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, codebooks: DataFrame,
             m: Int, k: Int, idCol: String = "vec_id",
             vecCol: String = "embedding",
             selfJoin: Boolean = true,
             exactSums: Boolean = true): DataFrame = {
    val codes = pqEncode(corpus, codebooks, m, idCol, vecCol, exactSums)
      .withColumnRenamed("vec_id", "neighbor_id")
    codes.join(broadcast(
        pqQueryTable(queries, codebooks, m, idCol, vecCol, exactSums)),
        Seq("subspace", "code_id"))
      .filter(if (selfJoin) col("query_id") =!= col("neighbor_id")
              else lit(true))
      .transform(adcRank(k))
  }

  /** Per-query ADC distance table: d(q_sub, codeword) for every
    * (query, subspace, codeword) — |q| * m * K rows, meant to be
    * broadcast. Shared by [[pqTopK]] and [[ivfPqTopK]]. */
  private def pqQueryTable(queries: DataFrame, codebooks: DataFrame, m: Int,
                           idCol: String, vecCol: String,
                           exactSums: Boolean = true): DataFrame =
    queries.select(col(idCol).as("query_id"),
        explode(subVectors(col(vecCol), m)).as("sv"))
      .select(col("query_id"), col("sv.subspace").as("subspace"),
        col("sv.sub").as("sub"))
      .join(alignCodebooks(codebooks, queries, vecCol), Seq("subspace"))
      .select(col("query_id"), col("subspace"), col("code_id"),
        // fast-sum path: plain double table entries; adcRank's sum
        // follows dq's type, so the decimal accumulator (and its
        // per-partial BigDecimal boxing) disappears end to end
        (if (exactSums) l2sqDec(col("sub"), col("w"))
         else graft.functions.GraftFunctions.l2_sq(col("sub"), col("w")))
          .as("dq"))

  /** Sum the m per-subspace table entries and rank ascending — the ADC
    * tail shared by [[pqTopK]] and [[ivfPqTopK]]. Input rows:
    * (query_id, neighbor_id, dq). */
  private def adcRank(k: Int)(cand: DataFrame): DataFrame =
    cand.groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("dq")).as("__adc"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("__adc"), col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"),
        round(col("__adc").cast("double"), 6).as("adc"))

  /** IVF-PQ search — the 100 TB composition the two indexes exist for:
    * the IVF coarse quantizer restricts candidates to the `nprobe`
    * probed lists ([[ivfTopK]]'s probe rule), PQ scans those candidates
    * in code space ([[pqTopK]]'s ADC), so the compressed scan covers
    * |corpus| * nprobe / nlists instead of |corpus| and the scanned
    * payload is m codes per row, not the vector.
    *
    * Scale shape: centroids broadcast twice (corpus assign, query probe
    * ranking); the candidate frame is probes ⋈ assignment on the list id
    * (|q| * avg-list-size * nprobe pairs), joined to the code frame on
    * neighbor_id and to the broadcast query distance table on
    * (query_id, subspace, code_id); one map-side-combined decimal sum,
    * one query-keyed rank. A neighbor lives in exactly one list and
    * probe list ids are distinct, so no pair duplicates before the
    * rank. `selfJoin` as in [[knnJoin]]. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                centroids: DataFrame, codebooks: DataFrame, m: Int, k: Int,
                nprobe: Int = 2, idCol: String = "vec_id",
                vecCol: String = "embedding", cidCol: String = "centroid_id",
                cvecCol: String = "cvec",
                selfJoin: Boolean = true,
                exactSums: Boolean = true): DataFrame = {
    val elemType = corpus.schema(vecCol).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val cents = centroids.withColumn(cvecCol,
      transform(col(cvecCol), x => x.cast(elemType)))
    // NO entry-level corpus spread (round-17 A/B): fanOutReady here
    // read t40/t45 ~0.90 adj — inside the same-run noise band of
    // UNTOUCHED keys — while the x40/x45 scale twins regressed ~1.10
    // (their statics are already wide; the stats window cannot see
    // width — the round-16 x63 lesson). Reverted.
    val assigned = ivfAssign(corpus, cents, idCol, vecCol, cidCol, cvecCol)
      .select(col(idCol).as("neighbor_id"), col(cidCol))
    val codes = pqEncode(corpus, codebooks, m, idCol, vecCol, exactSums)
      .withColumnRenamed("vec_id", "neighbor_id")
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .crossJoin(broadcast(cents.select(col(cidCol), col(cvecCol))))
      .withColumn("__d", -cosine(col("__qv"), col(cvecCol)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__d"), col(cidCol))))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col(cidCol))
    probes.join(assigned, Seq(cidCol))
      .filter(if (selfJoin) col("query_id") =!= col("neighbor_id")
              else lit(true))
      .select(col("query_id"), col("neighbor_id"))
      .join(codes, Seq("neighbor_id"))
      .join(broadcast(
        pqQueryTable(queries, codebooks, m, idCol, vecCol, exactSums)),
        Seq("query_id", "subspace", "code_id"))
      .transform(adcRank(k))
  }

  /** Residual frame for residual-encoded IVF-PQ (Jegou et al. 2011 §IV —
    * the composition FAISS's IVFPQ runs): each vector minus its assigned
    * coarse centroid, computed per element in double so the arithmetic
    * is IEEE-exact and engine-portable. Residual norms are much smaller
    * than vector norms once the quantizer is trained, so the same m
    * codes spend their precision on the fine structure the coarse
    * quantizer missed — the accuracy edge over raw-vector PQ at equal
    * code budget. Returns (id, residual array<double>, centroid_id).
    *
    * Scale shape: one broadcast-assign pass ([[ivfAssign]]) plus a
    * broadcast re-join to fetch the centroid vector; map-side only. */
  def ivfResiduals(vecs: DataFrame, centroids: DataFrame,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   cidCol: String = "centroid_id",
                   cvecCol: String = "cvec"): DataFrame =
    ivfAssign(vecs, centroids, idCol, vecCol, cidCol, cvecCol)
      .join(broadcast(centroids.select(col(cidCol), col(cvecCol))),
        Seq(cidCol))
      .select(col(idCol),
        zip_with(col(vecCol), col(cvecCol),
          (x, y) => x.cast("double") - y.cast("double")).as("residual"),
        col(cidCol))

  /** Sampled PQ codebooks over the RESIDUAL space — the training twin of
    * [[ivfPqResidualTopK]]: assign + residualize the corpus, then the
    * deterministic every-`every`-th sampling rule of
    * [[pqCodebooksFromSample]] on the residual frame. Same
    * (subspace, code_id, w) contract; refine with [[kmeansStep]] per
    * subspace or [[pqCodebooksKmeans]]'s discipline if desired. */
  def ivfPqResidualCodebooks(corpus: DataFrame, centroids: DataFrame,
                             m: Int, every: Int,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             cidCol: String = "centroid_id",
                             cvecCol: String = "cvec"): DataFrame =
    pqCodebooksFromSample(
      ivfResiduals(corpus, centroids, idCol, vecCol, cidCol, cvecCol),
      m, every, idCol, "residual")

  /** Residual-encoded IVF-PQ search — [[ivfPqTopK]] with the corpus PQ
    * codes taken over (vector − assigned centroid) instead of the raw
    * vector, and the query distance table built PER PROBED LIST against
    * the query's residual w.r.t. THAT list's centroid (the asymmetry
    * that makes residual ADC correct: a candidate's codes approximate
    * its residual in its own list's frame, so the query must be
    * expressed in the same frame). `codebooks` must be trained on
    * residuals ([[ivfPqResidualCodebooks]]).
    *
    * Scale shape: identical to [[ivfPqTopK]] except the broadcast query
    * table grows by the nprobe factor (|q| * nprobe * m * K rows — still
    * query-sized); the corpus-side cost is unchanged (one assign pass,
    * one residual encode, candidates = probed lists only, m codes per
    * row on the wire). Distances accumulate as DECIMAL(27,12) — the
    * ranking is exact and the t45 oracle replays it term-for-term.
    * `selfJoin` as in [[knnJoin]]. */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame,
                        centroids: DataFrame, codebooks: DataFrame, m: Int,
                        k: Int, nprobe: Int = 2, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        cidCol: String = "centroid_id",
                        cvecCol: String = "cvec",
                        selfJoin: Boolean = true,
                        exactSums: Boolean = true): DataFrame = {
    val elemType = corpus.schema(vecCol).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val cents = centroids.withColumn(cvecCol,
      transform(col(cvecCol), x => x.cast(elemType)))
    // no entry-level corpus spread — see ivfPqTopK (round-17 A/B
    // reverted: t-key wins inside noise, x-twins regressed ~1.10)
    val res = ivfResiduals(corpus, cents, idCol, vecCol, cidCol, cvecCol)
    val assigned = res.select(col(idCol).as("neighbor_id"), col(cidCol))
    val codes = pqEncode(res, codebooks, m, idCol, "residual", exactSums)
      .withColumnRenamed("vec_id", "neighbor_id")
    // per-query probe set with the query residual in each probed list's
    // frame: (query_id, centroid_id, qres)
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .crossJoin(broadcast(cents.select(col(cidCol), col(cvecCol))))
      .withColumn("__d", -cosine(col("__qv"), col(cvecCol)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__d"), col(cidCol))))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col(cidCol),
        zip_with(col("__qv"), col(cvecCol),
          (x, y) => x.cast("double") - y.cast("double")).as("__qres"))
    // distance table per (query, probed list): d(qres_sub, codeword)
    val qt = probes
      .select(col("query_id"), col(cidCol),
        explode(subVectors(col("__qres"), m)).as("sv"))
      .select(col("query_id"), col(cidCol),
        col("sv.subspace").as("subspace"), col("sv.sub").as("sub"))
      .join(alignCodebooks(codebooks, res, "residual"), Seq("subspace"))
      .select(col("query_id"), col(cidCol), col("subspace"), col("code_id"),
        (if (exactSums) l2sqDec(col("sub"), col("w"))
         else graft.functions.GraftFunctions.l2_sq(col("sub"), col("w")))
          .as("dq"))
    probes.select(col("query_id"), col(cidCol))
      .join(assigned, Seq(cidCol))
      .filter(if (selfJoin) col("query_id") =!= col("neighbor_id")
              else lit(true))
      .join(codes, Seq("neighbor_id"))
      .join(broadcast(qt), Seq("query_id", cidCol, "subspace", "code_id"))
      .transform(adcRank(k))
  }

  /** One spherical-k-means (Lloyd) step — the centroid TRAINING that
    * [[ivfAssign]]'s Scaladoc used to leave out of scope: assign every
    * vector to its nearest centroid by cosine (deterministic centroid_id
    * tiebreak, same rule as the IVF quantizer), then recompute each
    * centroid as the elementwise mean of its assigned vectors. The mean
    * accumulates per-dimension as DECIMAL(27,12) so the result is
    * partitioning- and order-independent (float summation is not), then
    * divides in double. A centroid that attracts no vectors drops out —
    * standard Lloyd behavior; k shrinks rather than keeping a dead list.
    *
    * Scale shape: one broadcast assign pass over the corpus (k small) +
    * one (centroid, dim)-keyed aggregate — dims per row explode before
    * the shuffle, but each exchanged row is (int, int, decimal): the
    * full embedding array never crosses the wire unaggregated. */
  def kmeansStep(vecs: DataFrame, centroids: DataFrame,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 cidCol: String = "centroid_id",
                 cvecCol: String = "cvec"): DataFrame = {
    // the cosine kernel requires both sides the same element type; means
    // come back as array<double>, so a round-2 centroid frame must be
    // re-aligned to the corpus type. Element-wise cast — the array-level
    // ARRAY<DOUBLE> -> ARRAY<FLOAT> cast is rejected as a downcast, the
    // per-element fractional cast is legal (and deterministic)
    val elemType = vecs.schema(vecCol).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val aligned = centroids.withColumn(cvecCol,
      transform(col(cvecCol), x => x.cast(elemType)))
    ivfAssign(vecs, aligned, idCol, vecCol, cidCol, cvecCol)
      .select(col(cidCol), posexplode(col(vecCol)))
      .groupBy(col(cidCol), col("pos"))
      .agg((sum(col("col").cast("decimal(27,12)")).cast("double") /
        count(lit(1))).as("__val"))
      .groupBy(col(cidCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("__val"))))
        .as("__a"))
      .select(col(cidCol),
        transform(col("__a"), x => x.getField("__val")).as(cvecCol))
  }

  /** `iters` Lloyd steps from a deterministic every-`initEvery`-th-vector
    * init — a full (small-k) centroid trainer for the IVF index. */
  def kmeansCentroids(vecs: DataFrame, initEvery: Int, iters: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    var cents = vecs.filter(col(idCol) % initEvery === 0)
      .select(col(idCol).cast("long").as("centroid_id"),
        col(vecCol).as("cvec"))
    for (_ <- 1 to iters)
      // localCheckpoint per round: k rows, and without it each round's
      // plan would re-run every previous assignment pass
      cents = kmeansStep(vecs, cents, idCol, vecCol).localCheckpoint()
    cents
  }

  /** Deterministic Johnson–Lindenstrauss sign random projection:
    * `proj_j = (Σ_i x_i · s_ij) / sqrt(outDim)` with `s_ij = ±1` drawn
    * from md5(seed:i:j) (Achlioptas 2003's database-friendly ±1 family).
    * The sign matrix is a SMALL inDim×outDim literal baked into the
    * plan — no side table, no shuffle, pure projection over the corpus;
    * at 100 TB this is the cheap dimensionality cut (e.g. 768 → 64)
    * applied before ANN indexing so every downstream bucket/codebook
    * pass moves 12x fewer bytes. Distances are preserved to (1±ε) with
    * outDim = O(log n / ε²); identical vectors project identically, so
    * dedup/replica structure survives exactly. The hash-derived signs
    * make the projection reproducible months later from the seed alone
    * (no persisted matrix), and an external engine replays it: the
    * sequential fold here matches DuckDB's `list_dot_product` loop
    * term-for-term (the t06 discipline). */
  def randomProject(vecs: DataFrame, inDim: Int, outDim: Int,
                    seed: String = "jl", vecCol: String = "embedding",
                    projCol: String = "proj"): DataFrame = {
    require(inDim > 0 && outDim > 0, "dims must be positive")
    val signs: Seq[Seq[Double]] = (0 until outDim).map { j =>
      (0 until inDim).map { i =>
        val h = java.lang.Long.parseLong(
          org.apache.commons.codec.digest.DigestUtils
            .md5Hex(s"$seed:$i:$j").take(15), 16)
        if (h % 2 == 0) 1.0 else -1.0
      }
    }
    val scale = math.sqrt(outDim.toDouble)
    val proj = array(signs.map { sj =>
      aggregate(zip_with(col(vecCol), typedLit(sj),
          (x, s) => x.cast("double") * s),
        lit(0.0), (acc, v) => acc + v) / lit(scale)
    }: _*)
    // fail fast on a dimension mismatch: zip_with would null-pad a
    // shorter vector and the fold would silently project every row to
    // all-nulls (review finding) — garbage neighbors downstream instead
    // of an error
    val guarded = when(size(col(vecCol)) === inDim, proj)
      .otherwise(raise_error(concat(
        lit(s"randomProject: expected $inDim-dim vectors, got "),
        size(col(vecCol)).cast("string"))))
    vecs.withColumn(projCol, guarded)
  }

  /** Scalar (int8) quantization encode — the FAISS SQ8 idea in its
    * per-vector symmetric form: `code_i = round(127 · x_i / maxabs(x))`
    * (int values in [-127, 127]) plus the `scale = maxabs/127` that
    * dequantizes `code·scale ≈ x`. Cosine is scale-invariant, so
    * SQ search never touches the scale — ranking runs directly on the
    * codes — and the 4x memory cut (int8 storage vs float32) needs no
    * distance-table machinery, unlike PQ. All arithmetic is one
    * float-exact double division plus an integer rounding, so the t63
    * oracle replays every code. A zero vector encodes to zeros with
    * scale 0. Pure projection: no shuffle. */
  def sqEncode(vecs: DataFrame, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val maxabs = array_max(transform(col(vecCol),
      x => abs(x.cast("double"))))
    vecs.select(col(idCol),
      when(maxabs > 0,
        transform(col(vecCol),
          x => round(x.cast("double") * 127.0 / maxabs).cast("int")))
        .otherwise(transform(col(vecCol), _ => lit(0))).as("codes"),
      (maxabs / lit(127.0)).as("scale"))
  }

  /** Brute-force top-k over SQ8 codes — [[bruteForceTopK]]'s exact
    * contract (cosine desc, neighbor_id tiebreak, round-4 cosine) with
    * the corpus flowing as int8 codes instead of float vectors:
    * cosine(query, codes) equals cosine(query, dequantized) because
    * the per-vector scale cancels, so recall loss is rounding error
    * only (SimilaritySpec pins the floor). Queries stay full-precision
    * and broadcast; the corpus streams at a quarter the bytes. */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding",
             selfJoin: Boolean = true): DataFrame = {
    val enc = sqEncode(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"),
        transform(col("codes"), x => x.cast("double")).as("__cv"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), x => x.cast("double")).as("__qv")))
    q.join(enc, if (selfJoin) col("query_id") =!= col("neighbor_id")
                else lit(true))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cosine"))
  }

  /** Bounded-degree k-NN neighbor graph — the navigable-graph layer a
    * graph-ANN search walks ([[graphSearch]]): one (node_id, nbr_id)
    * edge per node per rank, `degree` edges per node. The exact build
    * ranks by [[bruteForceTopK]] (the t69 oracle path — fully
    * replayable); [[knnGraph]] routes the same contract through the
    * bucketed [[knnJoin]], the 100 TB construction (never all-pairs). */
  def knnGraphExact(corpus: DataFrame, degree: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    // repartition the scored side first: the n^2 cosine pass is CPU-dense
    // and inherits the scan's split count — a one-file corpus would run
    // every pairwise cosine in a single task (measured 1.4s of t69's
    // cost). The row shuffle is corpus-sized (cheap) and spreads the
    // quadratic work across the cluster — the q07 repartition-before-
    // CPU-dense-derivation discipline.
    bruteForceTopK(corpus.repartition(col(idCol)), corpus, degree,
        idCol, vecCol)
      .select(col("query_id").as("node_id"), col("neighbor_id").as("nbr_id"))

  /** Bucketed-construction twin of [[knnGraphExact]] (the scale path:
    * the x29 knnJoin shape builds the edges). */
  def knnGraph(corpus: DataFrame, degree: Int, bits: Int = 8,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    knnJoin(corpus, corpus, degree, bits, idCol = idCol, vecCol = vecCol)
      .select(col("query_id").as("node_id"), col("neighbor_id").as("nbr_id"))

  /** Graph-ANN beam search — the NSW/HNSW idea in its deterministic
    * bounded-round Spark form: per query, start from the fixed entry
    * set (a deterministic `entryCount`-node sample in md5 order — the
    * hashSplit/stratifiedSplit discipline, so any engine replays the
    * same entries), keep the `beam` best nodes seen so far by
    * (cosine desc, node asc), and for `rounds` rounds expand the
    * frontier along the graph's edges, rescore, and re-rank frontier ∪
    * expansions back down to `beam`. The frontier is the best-ever
    * set, so per-query best cosine improves monotonically with rounds
    * (spec-pinned); every rank and tiebreak is deterministic, so a
    * fixed-round search is replayable round-for-round by an external
    * engine (t69 oracle unrolls both rounds in SQL). Returns the
    * final frontier's top-`k` under the standard contract.
    *
    * The FIXED-COUNT entry sample is the round-10 fix: the previous
    * every-`entryEvery`-th-node entry set scaled with the corpus, so
    * round-0 scoring was |Q|·|C|/entryEvery cosines — the one
    * corpus-proportional term in an otherwise corpus-free search. The
    * measured entry-density-vs-depth trade (SimilaritySpec: recall
    * saturates across the trade at equal budget, depth wins) already
    * justified a small fixed set: round 0 is now O(|Q|·entryCount)
    * at ANY corpus size. The sample ranks by md5 of the node id with
    * an 'entry' salt (TakeOrderedAndProject — one bounded-heap scan,
    * no full sort) and broadcasts.
    *
    * Scale shape: per round ONE edge join (frontier × degree rows),
    * one id-keyed vector fetch join and one query-partitioned beam
    * rank — candidates are bounded by beam·degree·|Q| per round,
    * independent of corpus size; the graph builds once
    * ([[knnGraph]]) and amortizes over every search. The frontier is
    * localCheckpointed per round (beam·|Q| rows) so plans don't nest
    * across rounds. */
  def graphSearch(corpus: DataFrame, graph: DataFrame,
                  queries: DataFrame, k: Int, beam: Int = 8,
                  rounds: Int = 2, entryCount: Int = 16,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  selfJoin: Boolean = true): DataFrame = {
    require(beam >= k, s"beam $beam must cover k $k")
    require(entryCount >= 1, "need at least one entry node")
    val cv = corpus.select(col(idCol).as("__nid"), col(vecCol).as("__nv"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv")))
    def score(pairs: DataFrame): DataFrame =
      pairs.join(cv, Seq("__nid")).join(q, Seq("query_id"))
        .filter(if (selfJoin) col("query_id") =!= col("__nid")
                else lit(true))
        .select(col("query_id"), col("__nid"),
          cosine(col("__qv"), col("__nv")).as("__cos"))
    // Round-16: beam selection as ONE aggregate instead of
    // distinct + window. The old per-round chain paid three exchanges
    // (candidate distinct, scored distinct, window repartition) and a
    // sort per round; collect_set dedups the (negCos, nid) structs and
    // the ascending struct sort sliced to `beam` picks exactly the
    // window's (__cos desc, __nid asc) top rows (struct ordering is
    // field-by-field; double negation is a sign flip, bit-exact both
    // ways, and Double.compare puts -0.0 before 0.0 on BOTH forms).
    // Values identical — the t69 oracle replays ranking unchanged.
    // Null cosines (null embeddings) are dropped BEFORE the aggregate:
    // the ascending (negCos, nid) struct sort puts nulls FIRST, so
    // without this filter a null vector would silently enter every beam
    // (round-16 ADVICE). This is not exactly the old row_number window's
    // __cos desc NULLS LAST: in a group with fewer than `beam` non-null
    // cosines, the window filled the trailing slots with null-cosine
    // neighbors, which are now dropped. Fixture vectors are non-null, so
    // that edge is unreachable there: plans gain one codegen Filter and
    // results are byte-identical (t69 oracle unchanged).
    def topBeam(scored: DataFrame): DataFrame =
      scored.filter(col("__cos").isNotNull).groupBy(col("query_id"))
        .agg(slice(sort_array(collect_set(struct(
            (-col("__cos")).as("negCos"), col("__nid").as("nid")))),
          1, beam).as("__top"))
        .select(col("query_id"), explode(col("__top")).as("__t"))
        .select(col("query_id"), col("__t.nid").as("__nid"),
          (-col("__t.negCos")).as("__cos"))
    val entries = q.select(col("query_id"))
      .crossJoin(broadcast(corpus
        .select(col(idCol).as("__nid"))
        .orderBy(md5(concat(lit("entry"), col("__nid").cast("string"))),
          col("__nid"))
        .limit(entryCount)))
    // materialize the edge projection ONCE before the loop: every round
    // joins it, and when the edge list is small enough to broadcast,
    // each round's broadcast build would otherwise RE-RUN the whole
    // graph construction (the knnGraph cosine pass) inside one
    // single-threaded broadcast thread — measured 2x ~1.4s single-task
    // stages on t69. The checkpoint computes the build with full
    // parallelism and pins edge-count-sized blocks (corpus x degree
    // rows), consistent with the per-round frontier checkpoints that
    // already make this operator eager.
    val edges = graph.select(col("node_id").as("__nid"), col("nbr_id"))
      .localCheckpoint()
    var frontier = topBeam(score(entries)).localCheckpoint()
    for (_ <- 1 to rounds) {
      // no pre-score distinct (round 16): duplicate (query, nbr)
      // candidates score to identical rows that collect_set dedups
      // anyway — the distinct's exchange cost more than the few extra
      // cosines (candidates are bounded by beam x degree per query)
      val expanded = frontier
        .join(edges, Seq("__nid"))
        .select(col("query_id"), col("nbr_id").as("__nid"))
      frontier = topBeam(score(expanded).unionByName(frontier))
        .localCheckpoint()
    }
    frontier.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("__cos").desc, col("__nid"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("__nid").as("neighbor_id"),
        round(col("__cos"), 4).as("cosine"))
  }

  /** kNN label propagation — classify each query vector by the
    * majority label of its k nearest corpus vectors: the
    * semi-supervised labeling step a curation pipeline uses to spread
    * a small hand-labeled seed set (quality tiers, domains, topics)
    * over an unlabeled corpus. Vote contract: one vote per neighbor,
    * winner by (votes desc, label asc) — fully deterministic, so the
    * t68 oracle replays ranking, votes and the tiebreak exactly.
    * `bits = 0` ranks with the exact [[bruteForceTopK]] (the oracle
    * path); `bits > 0` routes through the bucketed [[knnJoin]] — the
    * 100 TB path, same cost/recall trade as every knn consumer, and
    * the label join + vote aggregate are unchanged.
    *
    * Scale shape: neighbors join labels on one id-keyed equi join
    * (labels are (id, label) — narrow), then the vote aggregate and
    * the winner rank both partition by query — batch-sized windows,
    * never corpus-wide. */
  def knnPredict(corpus: DataFrame, queries: DataFrame, k: Int,
                 bits: Int = 0, idCol: String = "vec_id",
                 vecCol: String = "embedding",
                 labelCol: String = "label",
                 selfJoin: Boolean = true): DataFrame = {
    val nn =
      if (bits <= 0)
        bruteForceTopK(corpus, queries, k, idCol, vecCol, selfJoin)
      else knnJoin(queries, corpus, k, bits, probe1 = true,
        probe2 = false, idCol, vecCol, selfJoin)
    nn.join(corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("__lbl")), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("__lbl"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("votes").desc, col("__lbl"))))
      .filter(col("__rn") === 1)
      .select(col("query_id"),
        col("__lbl").as(s"predicted_$labelCol"), col("votes"))
  }

  /** Binary (sign-bit) quantization encode — 1 bit per dimension,
    * 64 dimensions packed per long: word `w`'s bit `i` is set iff
    * `x[64w+i] > 0`. A 32x memory cut vs float32 (the most aggressive
    * point on the PQ/SQ8/binary quantization ladder), and Hamming
    * distance over the packed words — popcount of XOR — is a
    * monotone proxy for angular distance (Charikar 2002 sign-LSH:
    * E[hamming]/dims = angle/pi). Pure per-row projection, no shuffle;
    * the bit arithmetic is integer-exact so any engine replays the
    * downstream Hamming counts (t65 oracle recomputes them straight
    * from the sign definition, independent of this packing). */
  def bqEncode(vecs: DataFrame, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    vecs.select(col(idCol),
      when(size(col(vecCol)) === 0, expr("cast(array() as array<bigint>)"))
        .otherwise(expr(
          s"""transform(
             |  sequence(0, cast(ceil(size(`$vecCol`) / 64.0) as int) - 1),
             |  w -> aggregate(
             |    transform(slice(`$vecCol`, w * 64 + 1, 64),
             |      (x, i) -> if(x > 0, shiftleft(cast(1 as bigint), i),
             |                   cast(0 as bigint))),
             |    cast(0 as bigint), (acc, b) -> acc | b))""".stripMargin))
        .as("words"))

  /** Brute-force top-k over binary codes with exact rerank — the
    * two-stage contract every binary-embedding search engine uses:
    * (1) Hamming shortlist: rank ALL corpus codes per query by
    * (popcount(q XOR c), neighbor_id) and keep the `shortlist`
    * nearest (default 4k); (2) exact rerank: fetch only the
    * shortlisted vectors' floats and apply the standard top-k contract
    * ([[bruteForceTopK]]: cosine desc, neighbor_id tiebreak, cosine
    * rounded to 4). shortlist >= corpus size degenerates to exactly
    * [[bruteForceTopK]] (spec-pinned), so recall is a pure function of
    * the shortlist knob.
    *
    * Scale shape: queries broadcast with their codes and floats; the
    * corpus flows through stage 1 as (id, words) ONLY — 1/32nd of the
    * float bytes, the whole point — and stage 2 re-joins the corpus
    * floats for just the |Q| x shortlist surviving pairs on one
    * id-keyed equi-join. Nothing corpus-sized is ever broadcast. */
  def bqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             shortlist: Int = 0, idCol: String = "vec_id",
             vecCol: String = "embedding",
             selfJoin: Boolean = true): DataFrame = {
    val r = if (shortlist > 0) shortlist else 4 * k
    val enc = bqEncode(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("words").as("__cw"))
    val q = broadcast(bqEncode(queries, idCol, vecCol)
      .join(queries.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col(idCol).as("query_id"), col("words").as("__qw"),
        col(vecCol).as("__qv")))
    val short = q
      .join(enc, if (selfJoin) col("query_id") =!= col("neighbor_id")
                 else lit(true))
      .withColumn("hamming", expr(
        "aggregate(zip_with(__qw, __cw, (a, b) -> bit_count(a ^ b)), " +
          "0, (acc, x) -> acc + x)"))
      .withColumn("__hr", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("hamming"), col("neighbor_id"))))
      .filter(col("__hr") <= r)
      .select(col("query_id"), col("__qv"), col("neighbor_id"),
        col("hamming"))
    short
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__cv")), Seq("neighbor_id"))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("hamming").cast("long").as("hamming"),
        round(col("cos"), 4).as("cosine"))
  }

  /** [[ivfAssign]] keeping the winning cosine — (id, centroid_id,
    * cos_to_centroid) — as a PURE PROJECTION: the centroid table
    * collapses to a one-row broadcast array and every vector folds
    * over it with the exact (-cosine, centroid_id) ordering
    * [[ivfAssign]]'s argmin uses. No aggregate and no exchange at all,
    * which is what lets [[embeddingDriftMonitor]] run on a stream in
    * complete mode with exactly ONE stateful operator (an
    * aggregate-shaped assignment would chain two and trip the global
    * watermark correctness check) — and costs batch callers nothing
    * (same k cosines per row, one shuffle less). */
  def ivfAssignWithCos(vecs: DataFrame, centroids: DataFrame,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       cidCol: String = "centroid_id",
                       cvecCol: String = "cvec"): DataFrame = {
    // the [[ivfAssign]] shape exactly (round 14): rank-sorted parallel
    // broadcast arrays + ONE native ivf_argmin kernel call per row —
    // the old interpreted transform/array_min fold allocated k structs
    // per corpus row (HOFs have no doGenCode). Winner ordering is the
    // packed (1e-12-bucketed -cosine, rank) rule, the same quantizer
    // as ivfAssign and the same winners as the exact (-cosine, cid)
    // struct ordering on anything coarser than 1e-12 ties (the t62
    // oracle's fixture regime); the winning cosine is recomputed once
    // for the winner only. Empty centroid tables now yield an EMPTY
    // frame (ivfAssign's convention) and null vectors keep their row
    // with null assignment/cosine.
    val packedCents = alignCentroids(vecs, centroids, vecCol, cvecCol)
      .agg(sort_array(collect_list(
        struct(col(cidCol).cast("long").as("cid"), col(cvecCol).as("cvec"))))
        .as("__cs"))
      .select(col("__cs.cid").as("__cids"), col("__cs.cvec").as("__cvecs"))
    vecs.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(packedCents))
      .filter(size(col("__cids")) > 0)
      .withColumn("__ci", graft.functions.GraftFunctions.ivf_argmin(
        col(vecCol), col("__cvecs")))
      .select(col(idCol),
        when(col("__ci").isNotNull,
          element_at(col("__cids"), col("__ci") + 1)).as(cidCol),
        when(col("__ci").isNotNull,
          cosine(col(vecCol), element_at(col("__cvecs"), col("__ci") + 1)))
          .as("cos_to_centroid"))
  }

  /** Frozen per-list profile for [[embeddingDriftMonitor]]: for every
    * coarse-quantizer list, the reference corpus's population and its
    * decimal-exact mean cosine-to-centroid — the embedding-modality
    * twin of [[graft.streaming.Streams.referenceProfile]]. Tiny (one
    * row per centroid): meant to be broadcast. */
  def embeddingProfile(vecs: DataFrame, centroids: DataFrame,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       cidCol: String = "centroid_id",
                       cvecCol: String = "cvec"): DataFrame =
    ivfAssignWithCos(vecs, centroids, idCol, vecCol, cidCol, cvecCol)
      .groupBy(col(cidCol))
      .agg(count(lit(1)).as("ref_n"),
        (sum(col("cos_to_centroid").cast("decimal(18,4)")).cast("double") /
          count(lit(1))).as("ref_cos"))

  /** Embedding-space drift monitor — the
    * [[graft.streaming.Streams.driftMonitor]] discipline on the
    * embedding modality: incoming vectors quantize against the FROZEN
    * centroids and each populated list reports its count and rounded
    * mean cosine-to-centroid, flagged when the mean moves more than
    * `cosTol` from the frozen [[embeddingProfile]] or when the list is
    * ABSENT from the profile (a never-before-populated region of the
    * space is always drift). Comparisons use round-4 means so an
    * external engine replays the flag exactly (t62 oracle). One
    * broadcast join + one list-keyed aggregate: complete mode on a
    * stream (one state row per list — s08), plain aggregate on a
    * batch frame, so paced == batch (StreamingSpec-pinned). */
  def embeddingDriftMonitor(vecs: DataFrame, centroids: DataFrame,
                            profile: DataFrame, cosTol: Double = 0.05,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            cidCol: String = "centroid_id",
                            cvecCol: String = "cvec"): DataFrame =
    ivfAssignWithCos(vecs, centroids, idCol, vecCol, cidCol, cvecCol)
      .groupBy(col(cidCol))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("cos_to_centroid").cast("decimal(18,4)"))
          .cast("double") / count(lit(1)), 4).as("mean_cos"))
      .join(broadcast(profile), Seq(cidCol), "left")
      .select(col(cidCol), col("n_vecs"), col("mean_cos"),
        (col("ref_cos").isNull ||
          abs(col("mean_cos") - round(col("ref_cos"), 4)) > cosTol)
          .cast("long").as("drift"))
}
