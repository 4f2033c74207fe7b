package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.types.DecimalType

/** bi_reporting — many short reads over the same pipeline functions:
  * the read-only reference queries (CoreQueries q01–q47, q51, q56; the
  * q48–q50 exports and q52–q55 egress writes are left out) served to two
  * concurrent clients, closed loop. One round runs every query once, in
  * lockstep pairs (see [[inLockstep]]); the seed orders the pairs, so each
  * client runs its share in its own seeded order and every round does the
  * same work. Each query is timed as build → executedPlan → noop write.
  *
  * The warm-up round writes every query's output as parquet next to its
  * DuckDB oracle SQL (graft.Verify's layout) for tools/check.py. */
object BiReporting extends Workload {
  val Clients = 2
  type Query = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Query)] = graft.CoreQueries.all.toSeq
    .filter { case (n, _) =>
      val k = n.substring(1, 3).toInt
      k <= 47 || k == 51 || k == 56
    }.sortBy(_._1)
  private val byName = queries.toMap

  val SegQueries = Set("q34_seg_personas", "q41_client_minimarket_top",
    "q43_industry_spend", "q44_client_spend", "q51_client_territory_spend")

  /** The queries from slowest to fastest, as graft.Bench timed them on
    * sf0.1 (BENCH_r17.json). Only the order is used: it pairs queries of
    * similar cost and schedules the warm-up's slowest queries first. */
  val CostOrder: Seq[String] = Seq("q07_fingerprint_pipeline",
    "q01_pricing_summary", "q36_new_fingerprints",
    "q40_unique_patron_three_phase", "q56_problem_children",
    "q25_personas_union", "q37_billing_group_scd", "q03_star_join_agg",
    "q42_bi_reporting", "q45_diners_count", "q35_patron_two_pass",
    "q41_client_minimarket_top", "q51_client_territory_spend",
    "q44_client_spend", "q31_sql_view", "q38_restaurant_rank",
    "q43_industry_spend", "q08_composite_key_join", "q24_agg_ratio",
    "q46_brand_profile_merge", "q18_priority_rank", "q39_cuisine_impute",
    "q15_map_update_fact", "q26_datekey_windows", "q09_theta_selfjoin",
    "q14_insert_if_absent", "q04_left_join_enrich",
    "q30_zip_normalize_join", "q20_topk_per_group", "q17_dedup_rank",
    "q11_union_fuzzy_join", "q47_parent_self_link", "q34_seg_personas",
    "q28_scalar_subquery", "q29_scalar_funcs", "q21_mode_per_group",
    "q32_validation_unmapped", "q10_case_expr_join", "q19_sequence_keys",
    "q23_distinct", "q06_semi_join", "q27_order_limit",
    "q22_having_conditional", "q05_anti_join", "q33_fuzzy_prefix_join",
    "q13_merge_delete_guard", "q12_merge_upsert", "q02_filter_in_like",
    "q16_string_clean")
  require(CostOrder.sorted == queries.map(_._1),
    "CostOrder must list exactly the benchmarked queries")

  /** The fixed pairs two clients run side by side: neighbours in cost
    * order, so neither client waits long for the other (the odd one out
    * runs alone). */
  val Pairs: Seq[Seq[String]] = CostOrder.grouped(Clients).toSeq

  /** Rounds per 20 s of --seconds (a round takes ~25 s on 4 cores). */
  val RoundSeconds = 20.0

  final case class State(pairs: Seq[Seq[String]], dump: String)

  def prepare(ctx: Ctx, seed: Long): State =
    State(new scala.util.Random(seed).shuffle(Pairs), ctx.dir("oracle"))

  /** Runs `f` on every query of a round in lockstep: the members of a
    * pair run concurrently, one per client, and the next pair starts when
    * both are done. Each query's concurrent neighbour is therefore the
    * same for every seed, and only the order of the pairs varies. */
  private def inLockstep(pairs: Seq[Seq[String]])(f: String => Unit): Unit =
    pairs.foreach { pair =>
      val others = pair.tail.map { q =>
        val t = new Thread(() => f(q)); t.start(); t }
      f(pair.head)
      others.foreach(_.join())
    }

  def warmUp(ctx: Ctx, st: State): Unit = {
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) =>
      byName.contains(k) }
    Files.writeString(Paths.get(st.dump, "oracle_sql.json"),
      PerfBench.json(oracles))
    // the cold start of every query: one worker per core takes the next
    // query, slowest first, from a shared queue
    val todo = new java.util.concurrent.ConcurrentLinkedQueue[String](
      CostOrder.asJava)
    val workers = (1 to ctx.cpus).map { _ =>
      val t = new Thread(() => Iterator.continually(todo.poll())
        .takeWhile(_ != null).foreach { name =>
          byName(name)(ctx.spark, ctx.data).write.mode("overwrite")
            .parquet(s"${st.dump}/$name")
        })
      t.start(); t
    }
    workers.foreach(_.join())
  }

  def measure(ctx: Ctx, st: State, seconds: Double): Measured = {
    val lat = mutable.Buffer.empty[Double]
    val errors = mutable.Buffer.empty[String]
    var attempted = 0L
    val tr = ctx.tracer
    val t0 = System.nanoTime()
    (1 to PerfBench.iterations(seconds, RoundSeconds)).foreach { _ =>
      inLockstep(st.pairs) { name =>
          val s0 = System.nanoTime()
          val ok = try {
            tr.span(s"bench.query:$name") {
              val df = tr.span("queries.build") {
                byName(name)(ctx.spark, ctx.data) }
              tr.span("queries.plan") { df.queryExecution.executedPlan }
              tr.span("queries.exec") {
                df.write.format("noop").mode("overwrite").save() }
            }
            true
          } catch { case e: Exception =>
            lat.synchronized { errors += s"$name failed: $e" }; false }
          val ms = (System.nanoTime() - s0) / 1e6
          lat.synchronized {
            attempted += 1
            if (ok) lat += ms
          }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Measured(lat.toSeq, lat.size.toDouble, wall, attempted,
      errors.size, errors = errors.toSeq)
  }

  /** Correctness is the oracle hash-compare of the warm-up dump, which
    * run.py runs through tools/check.py once the JVM has exited. */
  def check(ctx: Ctx, st: State): Seq[String] = Nil

  override def resultExtras(st: State): Map[String, String] = Map(
    "oracle_dump" -> st.dump,
    "oracle_expected" -> graft.SparkEntry.oracleSql.keys
      .count(byName.contains).toString)

  /** Queries that aggregate an exact decimal sum (Ops.exactSum's
    * sum(cast(x as decimal(18,4)))). */
  private def exactSum(ctx: Ctx, name: String): Boolean =
    byName(name)(ctx.spark, ctx.data).queryExecution.analyzed.exists {
      case a: Aggregate => a.aggregateExpressions.exists(_.exists {
        case s: Sum => s.child.dataType == DecimalType(18, 4)
        case _ => false
      })
      case _ => false
    }

  def layers(ctx: Ctx, st: State, m: Measured, tr: TraceSession)
    : Map[String, Double] = {
    val t = new Layers.Tree(tr)
    val calls = t.spans.filter(_.name.startsWith("bench.query:"))
    def child(q: Span, n: String) = t.children.getOrElse(q.id, Nil)
      .find(_.name == n)
    def execWork(qs: Seq[Span]): Seq[Work] =
      qs.flatMap(child(_, "queries.exec")).map(s => t.inclusive(s.id))
    def meanCpu(qs: Seq[Span]) = {
      val ws = execWork(qs)
      if (ws.isEmpty) 0.0 else ws.map(_.cpuNs / 1e6).sum / ws.size
    }
    val name = (q: Span) => q.name.stripPrefix("bench.query:")
    val outRows = queries.map(_._1).map(n =>
      n -> ctx.spark.read.parquet(s"${st.dump}/$n").count()).toMap
    val examined = execWork(calls).map(_.inputRecords).sum.toDouble
    val exact = queries.map(_._1).filter(exactSum(ctx, _)).toSet
    Map(
      "bi.plan_share" -> calls.flatMap(child(_, "queries.plan"))
        .map(_.wallMs).sum / calls.map(_.wallMs).sum,
      "bi.rows_examined_per_row" ->
        examined / calls.map(q => outRows(name(q))).sum.max(1L),
      "bi.seg_exec_cpu_ms" -> meanCpu(calls.filter(q => SegQueries(name(q)))),
      "bi.exact_sum_exec_cpu_ms" -> meanCpu(calls.filter(q => exact(name(q)))))
  }
}
