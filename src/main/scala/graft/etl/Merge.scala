package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational-core operator library: the mutable-table idioms of the
  * reference (MERGE / UPDATE..FROM / insert-if-absent / rank-dedup)
  * re-expressed as pure DataFrame -> DataFrame transforms.
  *
  * Scale posture: every transform here is a single equi-join or window —
  * one shuffle each, broadcastable when one side is dimension-sized, and
  * safe under AQE. Nothing collects to the driver.
  */
object Merge {

  /** O3 — insert-if-absent (`INSERT .. SELECT .. LEFT JOIN t ON k WHERE
    * t.k IS NULL`, e.g. UpdtMapDimPatron.sql:48-62, script.sql S2:23-28).
    * Appends only rows whose key is not already present; incoming dups
    * collapse to one deterministic row per key (smallest row by all
    * non-key columns ascending — stable across runs and retries).
    */
  def insertIfAbsent(existing: DataFrame, incoming: DataFrame,
                     keys: Seq[String]): DataFrame = {
    // Deterministic duplicate collapse: dropDuplicates picks whichever row a
    // partition scan sees first, which can differ across runs/retries. Rank
    // by every non-key column instead so reruns always keep the same row.
    val nonKeys = existing.columns.filterNot(keys.contains)
    val aligned = incoming.select(existing.columns.map(col).toIndexedSeq: _*)
    val deduped =
      if (nonKeys.isEmpty) aligned.dropDuplicates(keys)
      else pickLatest(aligned, keys.map(col), nonKeys.map(c => col(c).asc).toSeq)
    val fresh = deduped
      .join(existing.select(keys.map(col).toIndexedSeq: _*), keys, "left_anti")
    existing.unionByName(fresh)
  }

  /** O4/O5/O6 — MERGE upsert as a full-outer join.
    *
    * - matched -> UPDATE (optionally only `when updateCondition`, the
    *   conditional-update clause of spScript.sql:55-70),
    * - not matched by target -> INSERT,
    * - not matched by source -> DELETE when `deleteNotMatched`, except rows
    *   matching `deleteGuard` which are always kept (guard rows, e.g.
    *   spScript.sql:201-202 `SFKey <> 'XXXXXXXXXXXXXXX'`).
    *
    * `updateCols`: columns taken from source on match (others keep target
    * values). Source must be unique per key — enforce upstream with
    * [[pickLatest]] like the reference does (BillingGroup_script.sql:30).
    */
  def mergeUpsert(target: DataFrame, source: DataFrame, keys: Seq[String],
                  updateCols: Seq[String],
                  updateCondition: Option[Column] = None,
                  deleteNotMatched: Boolean = false,
                  deleteGuard: Option[Column] = None): DataFrame = {
    val t = target.withColumn("__in_t", lit(true)).alias("t")
    val s = source.withColumn("__in_s", lit(true)).alias("s")
    // plain equality, NOT null-safe <=>: T-SQL MERGE ON t.k = s.k never
    // matches NULL keys — a NULL-key source row inserts and a NULL-key
    // target row is treated as not-matched-by-source, exactly as here
    val cond = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val joined = t.join(s, cond, "full_outer")
    val inSource = col("s.__in_s").isNotNull
    val inTarget = col("t.__in_t").isNotNull
    val doUpdate = updateCondition.getOrElse(lit(true))

    val outCols = target.columns.map { c =>
      val tc = col(s"t.$c")
      val base =
        if (keys.contains(c)) coalesce(tc, col(s"s.$c"))
        else if (updateCols.contains(c) && source.columns.contains(c))
          when(inSource && inTarget && doUpdate, col(s"s.$c"))
            .when(inSource && !inTarget, col(s"s.$c"))
            .otherwise(tc)
        else if (source.columns.contains(c))
          when(!inTarget, col(s"s.$c")).otherwise(tc)
        else tc
      base.as(c)
    }
    val kept =
      if (!deleteNotMatched) joined
      else joined.filter(inSource || !inTarget || deleteGuard.getOrElse(lit(false)))
    kept.select(outCols.toIndexedSeq: _*)
  }

  /** O7 — correlated `UPDATE fact SET x = mapped FROM fact JOIN map` — the
    * reference's workhorse (15 occurrences, e.g. script.sql S2:31-37,
    * UpdMapDimRest.sql:466-484). Left-joins fact to mapping on `keys` and,
    * only where `guard` holds (date window + sentinel "unmapped" predicates),
    * replaces each column in `set` with the mapped value when present.
    * Rows outside the guard, and rows with no match, pass through untouched —
    * the bit-exact-preservation contract of SURVEY §7.3(1).
    *
    * `set`: fact-column -> expression over the joined mapping columns.
    */
  def mapUpdate(fact: DataFrame, mapping: DataFrame, keys: Seq[Column],
                set: Map[String, Column], guard: Column): DataFrame = {
    val joined = fact.join(mapping, keys.reduce(_ && _), "left")
    val outCols = fact.columns.map { c =>
      set.get(c) match {
        case Some(mapped) =>
          when(guard && mapped.isNotNull, mapped).otherwise(fact(c)).as(c)
        case None => fact(c)
      }
    }
    joined.select(outCols.toIndexedSeq: _*)
  }

  /** O37 — `ROW_NUMBER() OVER (PARTITION BY part ORDER BY ord) = 1`:
    * dedup / pick-latest (BillingGroup_script.sql:23, 76; cuisine_type.sql
    * passim). `ord` should end with a unique tiebreaker for determinism. */
  def pickLatest(df: DataFrame, part: Seq[Column], ord: Seq[Column]): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(part: _*).orderBy(ord: _*)))
      .filter(col("__rn") === 1).drop("__rn")

  /** O38 — RANK by a computed priority (match-quality CASE score,
    * UpdMapDimRest.sql:22, 30-41); ties survive like the reference's RANK. */
  def rankPick(df: DataFrame, part: Seq[Column], priority: Column,
               keepRank: Int = 1): DataFrame =
    df.withColumn("__rk", rank().over(
        Window.partitionBy(part: _*).orderBy(priority)))
      .filter(col("__rk") <= keepRank).drop("__rk")

  /** O41 — most-frequent value per group (mode), count-then-rank like
    * cuisine_type.sql:28-46. Ties break by value ascending (the reference
    * leaves ties to ORDER BY stability; we make it deterministic). */
  def modePerGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol)).count()
      .transform(pickLatest(_, Seq(col(groupCol)),
        Seq(col("count").desc, col(valueCol).asc)))
      .select(col(groupCol), col(valueCol).as(s"${valueCol}_mode"))

  /** O39 — surrogate-key sequencing: `ROW_NUMBER() OVER (ORDER BY ord) +
    * max(existing key)` (BillingGroup_script.sql:65).
    *
    * The single-partition window matches the reference semantics and is fine
    * for dimension-sized data; for anything that can grow, use
    * [[sequenceKeysOrdered]] (same keys for unique `ord`, no
    * single-partition exchange) or [[sequenceKeysScalable]] (order-free).
    */
  def sequenceKeys(df: DataFrame, ord: Seq[Column], keyCol: String,
                   offset: Long): DataFrame =
    df.withColumn(keyCol,
      row_number().over(Window.orderBy(ord: _*)).cast("long") + lit(offset))

  /** Cumulative start offset per partition id from a (pid, count) pass —
    * the shared tail of the scalable sequencers. Computed as a broadcast
    * theta self-join over the partition-count frame (|partitions| rows,
    * |partitions|^2 pairs — metadata-sized) so NO single-partition
    * exchange exists anywhere in the sequencing plan, not even a tiny
    * one: base(p) = sum of counts of partitions before p. */
  private def partitionBases(withPid: DataFrame): DataFrame = {
    val counts = withPid.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
    counts.select(col("__pid"), col("__cnt"))
      .join(broadcast(counts.select(col("__pid").as("__pid2"),
        col("__cnt").as("__cnt2"))), col("__pid2") < col("__pid"), "left")
      .groupBy(col("__pid"))
      .agg(coalesce(sum(col("__cnt2")), lit(0L)).as("__base"))
  }

  /** [[sequenceKeys]] without the single-partition window — the monthly
    * pipeline's default (SURVEY §7.3-7): range-repartition on `ord`, rank
    * within each (ord-disjoint) partition, and add the preceding
    * partitions' counts via [[partitionBases]]. For unique `ord` the
    * assigned keys are IDENTICAL to [[sequenceKeys]] — key = global rank
    * in ord order + offset — because the range partitioner keeps equal
    * ord values in one partition, so ranks never straddle a boundary;
    * ties (non-unique ord) fall to arbitrary within-partition order,
    * the same caveat the global window has. Scale shape: one range
    * exchange + per-partition sort (every task sorts its slice; no task
    * sorts the world) + a metadata-sized base join. */
  def sequenceKeysOrdered(df: DataFrame, ord: Seq[Column], keyCol: String,
                          offset: Long): DataFrame = {
    // materialize the (pid, rank) assignment ONCE: the range partitioner
    // SAMPLES its boundaries, and the frame is referenced both as the
    // row side and inside partitionBases — without pinning, a plan that
    // fails to reuse the exchange (exchange-reuse off, AQE
    // canonicalization miss) could instantiate the subtree twice with
    // DIFFERENT sampled boundaries, making the per-pid counts describe
    // a different partitioning than the row side's pids — silent
    // duplicate/skipped keys. The checkpoint fixes one partitioning for
    // both consumers; the frame is the to-be-keyed insert set
    // (dimension-insert-sized in every pipeline use).
    val withPid = df.repartitionByRange(ord: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__pid")).orderBy(ord: _*)))
      .localCheckpoint()
    withPid.join(broadcast(partitionBases(withPid)), "__pid")
      .withColumn(keyCol, col("__rn").cast("long") + col("__base") + lit(offset))
      .drop("__pid", "__rn", "__base")
  }

  /** Scale-safe dense sequencing: per-partition `row_number` plus a
    * broadcast map of partition offsets — no global shuffle to one task.
    * Keys are contiguous from offset+1 but assignment order follows the
    * current partitioning; use [[sequenceKeysOrdered]] when key order
    * must follow a sort order deterministically.
    */
  def sequenceKeysScalable(df: DataFrame, keyCol: String, offset: Long): DataFrame = {
    val withPid = df.withColumn("__pid", spark_partition_id())
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__pid")).orderBy(monotonically_increasing_id())))
    withPid.join(broadcast(partitionBases(withPid)), "__pid")
      .withColumn(keyCol, col("__rn").cast("long") + col("__base") + lit(offset))
      .drop("__pid", "__rn", "__base")
  }
}
