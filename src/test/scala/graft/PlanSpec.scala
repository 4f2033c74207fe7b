package graft

/** Plan-quality guards: the physical plans the engine relies on at scale —
  * pushdown reaching the parquet scan, broadcast joins for dimensions, no
  * accidental cartesian products in the relational core. */
class PlanSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("q01: shipdate filter is pushed to the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"), p.take(2000))
  }

  test("q03: dimension joins broadcast, no cartesian/sort-merge for dims") {
    val p = plan("q03_star_join_agg")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("relational core plans are cartesian-free") {
    for (q <- Seq("q15_map_update_fact", "q12_merge_upsert",
        "q14_insert_if_absent", "q17_dedup_rank", "q34_seg_personas",
        "q46_brand_profile_merge", "q47_parent_self_link")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1500)}")
    }
  }

  test("q47: parent self-link is an equi hash join, not nested-loop") {
    val p = plan("q47_parent_self_link")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("q48: CSV source scan carries the explicit pruned schema") {
    val p = plan("q48_csv_source")
    assert(p.toLowerCase.contains("csv"), p.take(2000))
    assert(p.contains("c_custkey") && p.contains("c_mktsegment") &&
      p.contains("c_acctbal"), p.take(2000))
  }

  test("q50: month predicate prunes partition directories at the scan") {
    val p = plan("q50_partitioned_source")
    assert(p.contains("PartitionFilters") && p.contains("month"), p.take(2000))
    // the month window must NOT appear as a post-scan data filter — pruning
    // happens at directory listing, so the scan carries it as a partition
    // filter and no separate Filter(month) survives
    assert(!p.contains("PushedFilters: [IsNotNull(month)"), p.take(2000))
  }

  test("t09/t17: metadata-only media plans stay codegen'd (no object mapPartitions)") {
    for (q <- Seq("t09_frame_plan", "t17_media_resize")) {
      val p = plan(q)
      assert(!p.contains("MapPartitions") && !p.contains("SerializeFromObject"),
        s"$q: ${p.take(1500)}")
    }
    // the decode-boundary path keeps its partition-wise iterator by design
    assert(plan("t08_media_meta").contains("MapPartitions"))
  }

  test("q07: fingerprint join is a hash join on the derived key") {
    val p = plan("q07_fingerprint_pipeline")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      p.take(2000))
  }

  test("t03: LSH candidate join is an equi hash join, not nested-loop") {
    val p = plan("t03_minhash_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("t29: knn-join never broadcasts an unbounded frame") {
    // the two-sided knn-join is the large×large path: with auto-broadcast
    // disabled the plan must degrade to a bucket-keyed shuffled equi-join
    // (SortMergeJoin / ShuffledHashJoin) — proving no broadcast hint is
    // baked into the operator and the bucket key is a genuine equi key.
    // With the default threshold Catalyst MAY still broadcast the
    // fixture-sized side; that is its call, not the operator's.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("t29_knn_join")
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct") && !p.contains("BroadcastExchange"),
        p.take(2000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("x29: scale-twin knn-join keeps the shuffle-join shape on the 8x frame") {
    // same guard as t29, but on the exact frame the x29 bench times: the
    // replicated corpus must flow through a bucket-keyed shuffled
    // equi-join with no broadcast of either side
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = DataQueries.benchOnly("x29_knn_join_scale")(spark, d)
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct") && !p.contains("BroadcastExchange"),
        p.take(2000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("t121/x121: the keyless range join is a bucket-keyed equi-join — " +
      "no BNLJ, no cartesian, nothing broadcast with the threshold off") {
    // the NAIVE formulation of t121 (pure theta predicate, no equi key)
    // can only plan as BroadcastNestedLoopJoin / cartesian; the bucket
    // key is what makes it shuffle-joinable — pin that on the gated
    // query AND on the 4x-density frame the x121 bench times
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for ((label, df) <- Seq(
          "t121" -> SparkEntry.queries("t121_range_join")(spark, d),
          "t124" -> SparkEntry.queries("t124_interval_join")(spark, d),
          "x121" -> DataQueries.benchOnly("x121_range_join_scale")(spark, d))) {
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct") && !p.contains("BroadcastExchange"),
          s"$label: ${p.take(2000)}")
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"$label: ${p.take(2000)}")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("t15: line dedup reads only (doc_id, text) from the scan") {
    val p = plan("t15_line_dedup")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q41: broadcast hints only on scan-rooted dimensions, never on an " +
      "aggregated (cardinality-unbounded) frame") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, ResolvedHint}
    val lp = SparkEntry.queries("q41_client_minimarket_top")(spark, d)
      .queryExecution.analyzed
    lp.collect { case h: ResolvedHint => h }.foreach { h =>
      assert(h.child.collect { case a: Aggregate => a }.isEmpty,
        "broadcast hint over an aggregate: its cardinality is unbounded " +
          "(one row per group) and would OOM the build side at scale")
    }
  }

  test("t16: sampling filter reaches the scan side (no shuffle at all)") {
    val p = plan("t16_hash_sample")
    // one projection+filter over the scan, then the output sort — the
    // sampling decision must not introduce an exchange of its own
    assert(!p.contains("hashpartitioning"), p.take(2000))
  }

  test("t35: the cap's rank-limit runs map-side (WindowGroupLimit " +
      "before the group exchange)") {
    val p = plan("t35_cap_per_source")
    // Catalyst must rewrite row_number <= n into WindowGroupLimit with a
    // Partial mode instance upstream of the exchange — each map task
    // then forwards at most n rows per group, the property capPerGroup's
    // 100 TB story rests on
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(p.contains("Partial"), p.take(2000))
  }

  test("t36: global top-k collapses to TakeOrderedAndProject, not a " +
      "vocabulary-sized single-partition sort") {
    val p = plan("t36_top_ngrams")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    // the only single-partition exchange allowed is AFTER the k-row
    // cut — a SinglePartition exchange feeding a Sort of the full
    // aggregate would be the anti-pattern
    assert(!p.contains("rangepartitioning(cnt"), p.take(2000))
  }

  test("t38: PQ encode's argmin is a map-side partial HASH aggregate " +
      "against a broadcast codebook") {
    val p = plan("t38_pq_encode")
    // the corpus x codebook expansion must meet in a broadcast join and
    // reduce to one row per (vector, subspace) BEFORE the exchange —
    // partial_min(packed decimal) upstream of the shuffle
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("partial_min"), p.take(3000))
    // the (dist, code) pair packs into ONE decimal precisely so the
    // argmin hash-aggregates: a struct-valued min is not a mutable
    // buffer and regresses to sorting the whole corpus x codebook
    // expansion
    assert(p.contains("HashAggregate"), p.take(3000))
    assert(!p.contains("SortAggregate"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("t39: ADC joins the broadcast query table and ranks via " +
      "map-side WindowGroupLimit; the corpus codes never broadcast") {
    val p = plan("t39_pq_adc")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(2000))
  }

  test("t37: the PII scrub is a pure projection over the scan") {
    val p = plan("t37_pii_scrub")
    // no aggregate, no join, no window — one codegen'd projection, then
    // the output sort
    assert(!p.contains("hashpartitioning"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("t44: semantic dedup's within-cluster pair join degrades to a " +
      "cluster-keyed shuffle join, never a cartesian") {
    // with auto-broadcast off, the only broadcast left is the explicitly
    // hinted centroid table (the quantizer's bounded side); the corpus
    // pair join and the flag join-back must both shuffle on their keys
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("t44_semantic_dedup")
      assert(!p.contains("CartesianProduct"), p.take(2000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(2000))
      // round 14: ivfAssign is a pure projection (native ivf_argmin
      // over a one-row broadcast centroid array) — no expansion, no
      // argmin aggregate, no (id, vector)-keyed exchange anywhere. The
      // r13 min_by form's lambda-bearing exchange never reused across
      // the three assignment consumers and its per-expansion-row key
      // normalization was 95% of x44's executor time (PLANS.md "x44")
      assert(p.contains("ivf_argmin"), p.take(2000))
      assert(!p.contains("min_by"), p.take(2000))
      // the remaining aggregates (pair-screen distinct, flag join-back)
      // must still hash-aggregate
      assert(!p.contains("SortAggregate"), p.take(2000))
      assert(p.contains("HashAggregate"), p.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("t57: the semantic gate's index join shuffles on the list key — " +
      "only the hinted centroid table broadcasts, never the index") {
    // with auto-broadcast off, the only broadcast left is the explicitly
    // hinted centroid table (bounded by the list count); the incoming
    // batch and the corpus-sized index must meet in a centroid_id-keyed
    // shuffle join, and the flag join-back shuffles on the id
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("t57_semantic_gate")
      assert(!p.contains("CartesianProduct"), p.take(2000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("t46: the near-dup gate joins shuffle on the band key with NOTHING " +
      "broadcast — the index is corpus-sized at scale") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("t46_neardup_gate")
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct") && !p.contains("BroadcastExchange"),
        p.take(2000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("t54: repeated-substring removal is cartesian-free digest-keyed " +
      "work — no window over corpus text, text joins back once by doc id") {
    val p = plan("t54_repeated_substring")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // survivorship is aggregates + equi-joins; no corpus-wide sort-window
    assert(!p.contains("WindowExec") && !p.contains("WindowGroupLimit"),
      p.take(2000))
    // with broadcast disabled every join degrades to a keyed shuffle
    // join — the digest/doc_id-keyed discipline, nothing data-sized
    // broadcast by necessity
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p2 = plan("t54_repeated_substring")
      assert(!p2.contains("BroadcastExchange") &&
        !p2.contains("CartesianProduct") &&
        (p2.contains("SortMergeJoin") || p2.contains("ShuffledHashJoin")),
        p2.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("t47: the stratified split is window-only — no join anywhere") {
    val p = plan("t47_stratified_split")
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("WindowGroupLimit") || p.contains("Window"),
      p.take(2000))
  }

  test("t48/t51: LM scoring is cartesian-free; the only nested-loop is " +
      "the broadcast 1-row vocabulary scalar") {
    for (q <- Seq("t48_lm_score", "t51_lm_by_lang")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(2000)}")
      // count joins shuffle or broadcast on compact keys — with
      // auto-broadcast ON at fixture scale any hash-join form is fine;
      // what must never appear is an unbounded nested loop (the 1-row
      // vocab crossJoin is a broadcast NLJ by construction and bounded)
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnlj <= 1, s"$q: ${bnlj} nested-loop joins (expected only " +
        s"the 1-row vocab scalar)\n${p.take(2000)}")
    }
  }

  test("t50: the drift monitor is one aggregate + a broadcast profile " +
      "join, cartesian-free") {
    val p = plan("t50_drift_monitor")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("t65: bq search broadcasts ONLY the query table — the corpus " +
      "flows shuffled through both stages, the rerank is an equi join") {
    // with auto-broadcast off the single BroadcastExchange left is the
    // hinted query-side table (codes + floats); the Hamming stage scans
    // the corpus codes against it (BNLJ over the broadcast — the
    // bruteForceTopK discipline) and the rerank re-joins corpus floats
    // through a shuffled equi join, never a broadcast of the corpus
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("t65_bq_topk")
      assert("BroadcastExchange".r.findAllIn(p).size === 1, p.take(2500))
      assert(!p.contains("CartesianProduct"), p.take(2000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("t66: DSIR scoring is one map-only projection over the documents: " +
      "no gram rows, no join, no broadcast") {
    // with auto-broadcast off, the profile's own totals broadcast runs
    // in the job that collects its terms; the scoring plan is the scan,
    // the per-document kernel and the output sort's range exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("t66_dsir_weights")
      assert(!p.contains("CartesianProduct"), p.take(2000))
      assert(!p.contains("BroadcastExchange"), p.take(2500))
      assert(!p.contains("Join") && !p.contains("Generate"), p.take(2500))
      assert("Exchange".r.findAllIn(p).size === 1, p.take(2500))
      assert(p.contains("dsir_log_weight("), p.take(2500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** The documents and the two checkpointed ingest statics over them. */
  private lazy val screenInputs = {
    import org.apache.spark.sql.functions.col
    import graft.ops.{Dedup, TextOps}
    val docs = graft.etl.Tables.documents(spark, d)
    (docs,
      Dedup.nearDupIndex(docs.select(col("doc_id"), col("text")))
        .localCheckpoint(),
      TextOps.dsirProfile(docs, docs.filter(col("lang") === "en"))
        .localCheckpoint())
  }

  test("ingestScreen against checkpointed statics: after the first call a " +
      "microbatch is ONE job with no Exchange, and minhash_sig runs once " +
      "per row") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.Streams
    val (docs, idx, prof) = screenInputs
    def batch(lo: Long) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 20)
    // the first call freezes both statics
    Streams.ingestScreen(batch(0), idx, prof).collect()
    val sc = spark.sparkContext
    val tag = "graft.spec.ingestScreen"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(tag) != null)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "on")
    try {
      val screened = Streams.ingestScreen(batch(20), idx, prof)
      assert(screened.collect().nonEmpty)
      org.apache.spark.ListenerDrain(sc)
      assert(jobs.get === 1, "a microbatch after the first must run one job")
      val p = screened.queryExecution.executedPlan.toString
      // "Exchange" covers BroadcastExchange and ShuffleExchange alike
      assert(!p.contains("Exchange") && !p.contains("Join"), p.take(2500))
      // the signature is signed and probed inside one kernel: once in the
      // plan, not once per band key
      assert("near_dup_hit\\(".r.findAllIn(p).size === 1, p.take(2500))
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("ingestScreen's microbatch plan is two native Projects: no regex " +
      "or split, quality_score and pii_count once each") {
    import org.apache.spark.sql.functions.col
    val (docs, idx, prof) = screenInputs
    val screened = graft.streaming.Streams.ingestScreen(
      docs.filter(col("doc_id") < 20), idx, prof)
    val plan = screened.queryExecution.executedPlan
    val p = plan.toString
    assert(!p.contains("regexp_") && !p.contains("split("), p.take(2500))
    for (k <- Seq("quality_score", "pii_count"))
      assert(s"$k\\(".r.findAllIn(p).size === 1, p.take(2500))
    val projects = plan.collect {
      case x: org.apache.spark.sql.execution.ProjectExec => x }
    assert(projects.size <= 2, p.take(2500))
    assert(screened.collect().length === 20)
  }

  test("ingestScreen's lookup-path microbatch plan is one Project with " +
      "one near_dup_hit kernel: no minhash_sig, xxhash64 or slice") {
    import org.apache.spark.sql.functions.col
    val (docs, idx, prof) = screenInputs
    val screened = graft.streaming.Streams.ingestScreen(
      docs.filter(col("doc_id") < 20), idx, prof)
    val plan = screened.queryExecution.executedPlan
    val p = plan.toString
    val projects = plan.collect {
      case x: org.apache.spark.sql.execution.ProjectExec => x }
    assert(projects.size === 1, p.take(2500))
    assert("near_dup_hit\\(".r.findAllIn(p).size === 1, p.take(2500))
    for (k <- Seq("minhash_sig(", "xxhash64(", "slice("))
      assert(!p.contains(k), s"$k in\n${p.take(2500)}")
    assert(screened.collect().length === 20)
  }

  test("Tables.table memoizes per session: a call from another session " +
      "keeps this session's resolved relation") {
    val a = graft.etl.Tables.table(spark, d, "orders")
    val other = spark.newSession()
    val b = graft.etl.Tables.table(other, d, "orders")
    assert(!(b eq a) && (b.sparkSession eq other))
    assert(graft.etl.Tables.table(spark, d, "orders") eq a)
    assert(graft.etl.Tables.table(other, d, "orders") eq b)
  }

  test("t101: the CMS grid aggregates with a map-side partial and the " +
      "estimate broadcasts only the aggregate-sized sketch") {
    val p = plan("t101_count_min")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // grid: partial_sum under the (group,row,bucket) hash aggregate —
    // each partition collapses to <= depth*width rows pre-exchange
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      p.take(2500))
    // probe side: the sketch arrives via broadcast (it is d*w*groups
    // rows by construction), never a shuffled corpus-sized join
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
  }

  test("t117: the decayed grid keeps t101's map-side-combined aggregate " +
      "shape — the decay weighting adds no window, no extra exchange") {
    val p = plan("t117_cms_decayed")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // forward 2^bucket mass is a pure projection into the same
    // (group,row,bucket)-keyed partial_sum as the undecayed grid
    assert(p.contains("partial_sum"), p.take(2500))
    assert(!p.contains("Window"), p.take(2500))
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
  }

  test("t119: the decayed HLL keeps t85's map-side-combined register " +
      "aggregate on the row-data path; the suffix recombination and its " +
      "window run on the aggregate-sized epoch grid only") {
    val p = plan("t119_hll_decayed")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the udaf register aggregate partials per partition before the
    // (type, epoch) exchange — row data collapses to <= 88 x 512 ints
    // per type map-side, exactly the t85 shape
    assert(p.contains("ObjectHashAggregate"), p.take(2500))
    // the events scan reads only what the sketch needs
    assert(p.contains("PushedFilters: [IsNotNull(user_id)"), p.take(2500))
  }

  test("q56: the problem-children report broadcasts every lookup and " +
      "the problem-triple frame; the only fact-fact joins are keyed") {
    val p = plan("q56_problem_children")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("t102: classifier inference broadcasts only the model-sized " +
      "weight table; tf rows meet it in a hash join, cartesian-free") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("t102_linear_score")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
      // exactly the one explicit hint: the weight table
      assert("BroadcastExchange".r.findAllIn(p).size === 1, p.take(2500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("t103: hard-negative mining broadcasts ONLY the query table; the " +
      "labeled corpus flows once and the top-k ranks map-side") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("t103_hard_negatives")
      // exactly ONE broadcast — the hinted query table feeding the
      // non-equi scoring join; the corpus flows once, and positive max
      // + negative top-k are two windows over one shared exchange (no
      // groupBy + re-join, no second evaluation of the cosine join)
      assert(!p.contains("CartesianProduct"), p.take(2000))
      assert("BroadcastExchange".r.findAllIn(p).size === 1, p.take(2500))
      assert(p.contains("WindowGroupLimit"), p.take(2500))
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        p.take(2500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("graphSearch entry sample: md5-order + limit plans as " +
      "TakeOrderedAndProject (one bounded-heap scan), never a global " +
      "sort — the shape that keeps round 0 corpus-cheap") {
    import org.apache.spark.sql.functions._
    // the exact expression graphSearch builds its entry set from (the
    // per-round localCheckpoints hide it from the t69 plan snapshot,
    // so this pins the planning of the shape directly)
    val emb = graft.etl.Tables.embeddings(spark, d)
      .select(col("vec_id").as("__nid"))
    val entries = emb
      .orderBy(md5(concat(lit("entry"), col("__nid").cast("string"))),
        col("__nid"))
      .limit(10)
    val p = entries.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"entry sample fell back to a global sort:\n${p.take(1500)}")
    assert(!p.contains("Exchange rangepartitioning"), p.take(1500))
  }

  test("x78i: the warm-index BM25 probe plan touches no corpus-" +
      "statistics aggregate — query tokenize + postings join + pair " +
      "sum + top-k only") {
    import org.apache.spark.sql.functions.col
    import graft.ops.TextOps
    val docs = graft.etl.Tables.documents(spark, d)
    val idx = TextOps.bm25Index(docs.filter(col("doc_id") % 5 === 0))
      .localCheckpoint()
    val probe = TextOps.bm25TopKIndexed(
      docs.filter(col("doc_id") % 50 === 0), idx, k = 5,
      exactSums = false)
    val p = probe.queryExecution.executedPlan.toString
    // the index arrives as the checkpointed RDD scan: the corpus
    // tokenize/tf/df/dl/N/Ltot pipeline ran at BUILD time (t78/x78
    // carry that cost; x78i must not). The probe plan has exactly two
    // logical aggregates — the query-term distinct and the
    // (query, doc) pair sum — i.e. at most 4 partial+final physical
    // HashAggregates; the 26-exchange inline-statistics shape would
    // show many more, plus extra parquet scans of the corpus text
    assert(p.contains("Scan ExistingRDD"), p.take(2500))
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs <= 4,
      s"corpus-statistics aggregates leaked into the probe plan " +
        s"($aggs HashAggregates):\n${p.take(3000)}")
    assert("Scan parquet".r.findAllIn(p).size <= 1,
      s"the probe plan re-reads the corpus:\n${p.take(3000)}")
    // and the per-query top-k ranks map-side before the final filter
    assert(p.contains("WindowGroupLimit"), p.take(2500))
  }

  test("fanOutReady stats-floor contract (ENGINE.md): a sub-floor " +
      "microbatch-sized input takes NO round-robin exchange through " +
      "the postings tokenizer; a corpus-shaped mid-band input takes " +
      "the pre-explode spread") {
    import spark.implicits._
    import graft.ops.TextOps
    val idx = TextOps.bm25Index(
      Seq((1L, "alpha beta gamma"), (2L, "alpha delta"))
        .toDF("doc_id", "text")).localCheckpoint()
    // sub-floor: a handful of rows — the s12 streaming-microbatch
    // shape whose per-trigger exchange the 128 KB floor removed
    // (round-14 trend catch; its serial explode was never the
    // bottleneck at that size)
    val tiny = Seq((10L, "alpha beta words here today fine"))
      .toDF("doc_id", "text")
    val pTiny = TextOps.bm25TopKIndexed(tiny, idx, k = 2)
      .queryExecution.executedPlan.toString
    assert(!pTiny.contains("RoundRobinPartitioning"),
      s"sub-floor input must pass through unspread:\n${pTiny.take(2000)}")
    // mid-band: past the 128 KB column-pruned-stats floor, far below
    // the want x 16 MB ceiling — the regime where a sub-split-size
    // corpus scans as ONE task and serializes a ~100x tokenize explode
    // (round-14 t84 profile: 5.5 s of CPU on one core, 31 idle)
    // LocalRelation stats use schema defaultSize (20 bytes per string
    // regardless of content), so the row COUNT is what crosses the
    // floor: 8000 x (8 + 20) = ~224 KB estimated
    val midText = "lorem ipsum dolor sit amet consectetur adipiscing " * 10
    val mid = (0 until 8000).map(i => (i.toLong, s"$midText token$i"))
      .toDF("doc_id", "text")
    val pMid = TextOps.bm25TopKIndexed(mid, idx, k = 2)
      .queryExecution.executedPlan.toString
    assert(pMid.contains("RoundRobinPartitioning"),
      s"mid-band input must spread before the explode:\n${pMid.take(2000)}")
  }

  test("round-15 A/B decisions hold: the brute-force cosine pass and " +
      "the near-dup gate signature kernel keep their NATURAL scan " +
      "width — no round-robin exchange (spreading measured 2.8x/1.3x " +
      "WORSE at sf0.1; PLANS.md amplification-audit table)") {
    import org.apache.spark.sql.functions.col
    import graft.ops.{Dedup, Similarity}
    val emb = graft.etl.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
    val pBrute = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") % 50 === 0), k = 4)
      .queryExecution.executedPlan.toString
    assert(!pBrute.contains("RoundRobinPartitioning"),
      s"bruteForceTopK re-spread its stream side:\n${pBrute.take(1500)}")
    val docs = graft.etl.Tables.documents(spark, d)
      .select(col("doc_id"), col("text"))
    val idx2 = Dedup.nearDupIndex(docs, md5Keys = true)
    val pGate = Dedup.nearDupFlag(docs, idx2, md5Keys = true)
      .queryExecution.executedPlan.toString
    assert(!pGate.contains("RoundRobinPartitioning"),
      s"gateBands re-spread its corpus:\n${pGate.take(1500)}")
  }

  test("t56: every md5 band key of the final adaptive plan is computed " +
      "inside whole-stage codegen (no per-element lambda in the key)") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayJoin, Md5}
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan,
      WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object stages extends AdaptiveSparkPlanHelper
    val df = SparkEntry.queries("t56_neardup_gate_bloom")(spark, d)
    df.collect()
    val top = df.queryExecution.executedPlan
    val keyed = stages.collect(top) {
      case p if p.expressions.exists(_.exists {
        case m: Md5 => m.child.exists(_.isInstanceOf[ArrayJoin])
        case _ => false
      }) => p
    }
    // the keys sit in the band explode (Generate); a codegen stage's
    // fused operators end at its input adapters
    def fused(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case _ => p.children.flatMap(fused)
    })
    val inside = stages.collect(top) { case w: WholeStageCodegenExec => w }
      .flatMap(w => fused(w.child))
    assert(keyed.nonEmpty, s"no md5 band key in the plan:\n$top")
    val out = keyed.filterNot(k => inside.exists(_ eq k))
    assert(out.isEmpty, s"md5 band keys outside whole-stage codegen: " +
      s"${out.map(_.nodeName).mkString(", ")}\n$top")
  }
}
