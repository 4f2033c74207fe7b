package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Fixture / warehouse readers.
  *
  * The reference reaches tables through SQL Server linked-server four-part
  * names (`Dindb.db.schema.table`, reference S3:11, S4:62); here a "database"
  * is just a directory of parquet files and a table is one file. One
  * SparkSession spans what the reference splits across servers.
  */
object Tables {
  /** Per-session memo of RESOLVED base relations. `spark.read.parquet`
    * pays driver-side file listing + footer schema inference on every
    * call; the bench resolves the same handful of fixture tables
    * hundreds of times (181 keys x 1-6 tables x passes), so resolving
    * each (session, path) once is the same move a production catalog
    * makes — a table is registered once and `spark.table` reuses the
    * resolved relation. This caches ONLY the lazy plan (metadata):
    * every action still scans parquet; no results or data are held.
    * Keyed by (session, path), so sessions that interleave (Bench's
    * batch and stream sessions) keep each other's entries; an entry
    * whose session's context has stopped is dropped at the next miss,
    * so sequential test suites (each with its own context) never see a
    * frame bound to a stopped context (the mediaStaticMemo ADVICE wart,
    * avoided here by construction).
    *
    * Assumes static fixtures: the file listing is frozen at first
    * resolution, so a base table rewritten under `dir` later in the same
    * session reads the stale listing (or fails on deleted files). Code
    * that rewrites a base table mid-session must read it with
    * `spark.read.parquet` directly; the export memos below key on
    * fixture mtime for exactly that reason. */
  private val relMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val key = (spark, s"$dir/$name.parquet")
    relMemo.getOrElse(key, {
      relMemo.keys.filter(_._1.sparkContext.isStopped)
        .foreach(relMemo.remove)
      relMemo.getOrElseUpdate(key, spark.read.parquet(key._2))
    })
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** The events fixture's `ts` physical type has varied across driver
    * generations: TIMESTAMP(NANOS) (arrives as a nanos long under
    * `spark.sql.legacy.parquet.nanosAsLong`) and TIMESTAMP(MICROS) with no
    * timezone (arrives as TIMESTAMP_NTZ). Normalize both to TIMESTAMP so
    * downstream `unix_micros`/`window`/watermark code sees one type. The
    * NTZ→TZ cast reinterprets wall-clock in the session timezone — every
    * entrypoint pins UTC, so the instant is exact and matches what DuckDB
    * computes on the same naive values. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      // cast to the concrete type object, not cast("timestamp"): the DDL
      // name resolves via spark.sql.timestampType, so a session configured
      // for TIMESTAMP_NTZ would turn this into an NTZ->NTZ no-op
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** O1 width beyond parquet: CSV / JSON-lines sources with an explicit
    * schema (DDL string). Schema-explicit reads skip the inference scan —
    * at 100 TB a schema-inference pass is a full extra read of the input —
    * and both formats stay splittable (single-line records), so a
    * 1000-executor scan parallelizes exactly like parquet, minus the
    * column pruning/statistics parquet would add.
    */
  def csv(s: SparkSession, path: String, ddl: String): DataFrame =
    s.read.schema(StructType.fromDDL(ddl)).option("header", "true").csv(path)

  def jsonLines(s: SparkSession, path: String, ddl: String): DataFrame =
    s.read.schema(StructType.fromDDL(ddl)).json(path)

  /** ORC reader (schema-explicit like [[csv]]/[[jsonLines]] so a schema
    * drift fails loudly instead of silently widening). ORC is the other
    * columnar lake format Spark ships natively — typed, splittable,
    * footer-statistics-bearing like parquet, so it round-trips floats,
    * nulls, timestamps and embedded newlines exactly. */
  def orc(s: SparkSession, path: String, ddl: String): DataFrame =
    s.read.schema(StructType.fromDDL(ddl)).orc(path)

  /** O1's last unexercised modality — a JDBC source behind the same
    * facade. The reference reaches remote tables through linked-server
    * four-part names (S3:11, S4:62), modeled elsewhere in this file as
    * path prefixes; a real migration off SQL Server would read them with
    * `spark.read.jdbc`, and this is that surface. `tableOrQuery` accepts
    * either a table name or the `"(SELECT ...) t"` pushdown-subquery
    * idiom (the filter/projection then executes on the REMOTE server —
    * the linked-server equivalent of predicate pushdown). For a
    * fact-sized pull, `partitionColumn` + `bounds` + `numPartitions`
    * split the read into parallel range queries so 1000 executors don't
    * serialize behind one cursor. Spec'd against the in-memory Derby that
    * ships with Spark (JdbcSpec); a containerized SQL Server round-trip
    * is out of sandbox scope (zero egress). */
  def jdbc(s: SparkSession, url: String, tableOrQuery: String,
           props: java.util.Properties = new java.util.Properties,
           partitionColumn: Option[String] = None,
           bounds: Option[(Long, Long)] = None,
           numPartitions: Int = 1): DataFrame =
    (partitionColumn, bounds) match {
      case (Some(pc), Some((lo, hi))) =>
        s.read.jdbc(url, tableOrQuery, pc, lo, hi, numPartitions, props)
      case _ => s.read.jdbc(url, tableOrQuery, props)
    }

  /** O2 width in the write direction — symmetric egress: materialize a
    * reporting snapshot as a headered CSV or JSON-lines directory (the
    * reference's Excel-facing consumers, Seg:267). Egress stays
    * distributed — each task writes its own partition file; the
    * `coalesce(1)` mirrors the single-file snapshot a spreadsheet consumer
    * expects and is only sane for reporting-sized frames (a fact-sized
    * egress keeps its partitioning and writes one file per task).
    *
    * CSV contract (pinned by EgressSpec, incl. a seeded adversarial-string
    * property sweep): quoting/commas, edge whitespace and NULLs
    * round-trip; empty strings read back as NULL (default null encoding —
    * normalize with Ops.emptyToNull upstream, as the reference snapshots
    * do), and embedded newlines do not survive — the readers stay
    * single-line-record for splittability. JSON-lines round-trips all of
    * those exactly; prefer it for free-text columns. */
  def writeSnapshot(df: DataFrame, fmt: String, path: String): String = {
    val w = df.coalesce(1).write.mode("overwrite")
    fmt match {
      case "csv"  => w.option("header", "true")
        // univocity's writer-side defaults TRIM unquoted leading/trailing
        // whitespace — silent value corruption for an egress writer
        // (found by the EgressSpec property sweep); the reader-side
        // defaults are already false, so preserving on write restores
        // the round trip
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
      case "json" => w.json(path)
      case "orc"  => w.orc(path)
      case other  => throw new IllegalArgumentException(s"format: $other")
    }
    path
  }

  /** Egress mirror of [[jdbc]]: push a frame back to a JDBC table — the
    * reverse linked-server direction (a warehouse writing a reporting
    * snapshot back to an operational store). Overwrite mode drops and
    * recreates the remote table through the engine's JDBC dialect;
    * `batchsize` controls rows per INSERT round trip. Reporting-sized
    * frames only — a fact-sized egress belongs in parquet. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                mode: String = "overwrite",
                props: java.util.Properties =
                  new java.util.Properties): Unit =
    df.write.mode(mode).jdbc(url, table, props)

  /** Process-unique scratch directory under the fixture cache — for
    * write-direction queries that pay their own materialization each
    * invocation (q52-q54). Two concurrent JVMs never collide, and every
    * scratch path this JVM hands out is deleted on exit — unlike the
    * content-keyed exportMemo copies (reused across runs), pid-keyed
    * paths are dead the moment the process ends and would otherwise
    * accumulate one egress copy per bench/test run. */
  private val scratchIssued =
    scala.collection.concurrent.TrieMap.empty[String, Unit]
  private lazy val scratchCleanup: Unit = {
    sys.addShutdownHook {
      scratchIssued.keys.foreach(p => deleteRecursively(new java.io.File(p)))
    }
    ()
  }
  /** Per-invocation suffix: pid alone is not enough — a query cancelled
    * mid-write by the bench watchdog can leave a straggler task still
    * writing while the next pass's same query reuses the path, and the
    * read-back would transiently see a mix of both writes. A fresh
    * directory per invocation makes that impossible; all of them stay
    * registered for the shutdown-hook cleanup. */
  private val scratchSeq = new java.util.concurrent.atomic.AtomicLong(0)

  def scratchDir(tag: String): String = {
    scratchCleanup
    val p = s"$cacheRoot/${tag}_" + ProcessHandle.current().pid() +
      "_" + scratchSeq.incrementAndGet()
    scratchIssued.put(p, ())
    p
  }

  /** Write-then-read round trip through [[writeSnapshot]] and the
    * schema-explicit readers above: the frame's own schema is captured as
    * DDL before the write and drives the read-back, so a trip that drops
    * numeric precision, mangles quoting/null encoding, or reorders columns
    * yields a frame that no longer hashes equal to the original
    * computation — which is exactly what the q52/q53 oracles check. The
    * path is process-unique so a concurrent test + bench JVM pair never
    * read each other's half-written copies. */
  def egressRoundTrip(s: SparkSession, df: DataFrame, fmt: String,
                      tag: String): DataFrame = {
    val path = scratchDir(s"egress_${tag}_$fmt")
    writeSnapshot(df, fmt, path)
    val ddl = df.schema.toDDL
    fmt match {
      case "csv"  => csv(s, path, ddl)
      case "json" => jsonLines(s, path, ddl)
      case "orc"  => orc(s, path, ddl)
      case other  => throw new IllegalArgumentException(s"format: $other")
    }
  }

  private val exportMemo = scala.collection.concurrent.TrieMap
    .empty[(String, String, String, Long), String]

  private def fixtureMtime(d: String, name: String): Long = {
    val f = new java.io.File(s"$d/$name.parquet")
    val nested = Option(f.listFiles()).getOrElse(Array.empty)
    (f.lastModified() +: nested.map(_.lastModified())).max
  }

  /** Cache root for re-materialized fixture copies: repo-relative (the
    * JVM's working directory), overridable via SPARK_GRAFT_CACHE_DIR. */
  private def cacheRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_CACHE_DIR",
      s"${sys.props("user.dir")}/target/fixture-cache")

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Publish a generated fixture directory atomically. The path is keyed
    * by fixture mtime, so its CONTENT is deterministic — but two
    * concurrent JVMs (test + bench) used to overwrite-write the same
    * directory while the other read it. Now: if a complete copy already
    * exists (_SUCCESS marker), adopt it; otherwise write to a
    * process-unique tmp dir and rename into place — the loser of the
    * rename race discards its tmp and adopts the winner's directory, and
    * a reader never observes a half-written path. */
  private def materialize(path: String)(write: String => Unit): String = {
    val target = new java.io.File(path)
    if (target.isDirectory && new java.io.File(target, "_SUCCESS").exists())
      return path
    val tmp = path + ".tmp-" + ProcessHandle.current().pid() +
      "-" + java.lang.Long.toHexString(System.nanoTime())
    write(tmp)
    try
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
        java.nio.file.Paths.get(path),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileSystemException =>
        deleteRecursively(new java.io.File(tmp))
    }
    path
  }

  /** Re-materialize the orders fixture as a Hive-style month-partitioned
    * directory tree (`.../month=199601/part-*.parquet`) — the layout a
    * 100 TB fact table actually lives in, where a DateKey-window predicate
    * must prune whole directories instead of scanning them. Written once
    * per fixture version; returns the root path for
    * `spark.read.parquet(root)` partition discovery. */
  def exportedOrdersByMonth(s: SparkSession, d: String): String = {
    val key = (d, "orders", "month-parquet", fixtureMtime(d, "orders"))
    exportMemo.getOrElseUpdate(key, {
      exportMemo.keys
        .filter(k => k._1 == d && k._2 == "orders" &&
          k._3 == "month-parquet" && k != key)
        .foreach(exportMemo.remove)
      val path = s"$cacheRoot/orders_bymonth_${key._4.toHexString}_" +
        Integer.toHexString(d.hashCode)
      materialize(path) { tmp =>
        table(s, d, "orders")
          .withColumn("month",
            (expr("year(o_orderdate)") * 100 + expr("month(o_orderdate)"))
              .cast("int"))
          .repartition(col("month"))
          .write.mode("overwrite").partitionBy("month").parquet(tmp)
      }
    })
  }

  /** Re-materialize the events fixture as `parts` equal parquet files with
    * a NORMALIZED timestamp column (micros, session-tz) — the multi-file
    * layout the steady-state streaming bench paces through one file per
    * microbatch (`maxFilesPerTrigger=1`), turning the 2-batch AvailableNow
    * one-shot into a `parts`-batch run whose per-batch cost is the
    * steady-state signal. Written once per fixture version. */
  def exportedEventsParts(s: SparkSession, d: String,
                          parts: Int = 8): String = {
    val key = (d, "events", s"parts$parts", fixtureMtime(d, "events"))
    exportMemo.getOrElseUpdate(key, {
      exportMemo.keys
        .filter(k => k._1 == d && k._2 == "events" &&
          k._3 == s"parts$parts" && k != key)
        .foreach(exportMemo.remove)
      val path = s"$cacheRoot/events_parts${parts}_${key._4.toHexString}_" +
        Integer.toHexString(d.hashCode)
      materialize(path) { tmp =>
        events(s, d).repartition(parts)
          .write.mode("overwrite").parquet(tmp)
      }
    })
  }

  /** [[exportedEventsParts]] plus a far-future SENTINEL part (one
    * `user_id = -1` event at max(ts) + 90 days) whose file mtime is
    * bumped past the real parts, so the file source (which orders by
    * modification time) delivers it LAST: the sentinel advances the
    * watermark beyond every real event, firing the EventTimeTimeout
    * flush that stateful-buffer consumers (the streaming funnel s15)
    * need to fold their tails. Written once per fixture version. */
  def exportedEventsPartsFlush(s: SparkSession, d: String,
                               parts: Int = 8): String = {
    val key = (d, "events", s"flush$parts", fixtureMtime(d, "events"))
    exportMemo.getOrElseUpdate(key, {
      exportMemo.keys
        .filter(k => k._1 == d && k._2 == "events" &&
          k._3 == s"flush$parts" && k != key)
        .foreach(exportMemo.remove)
      val path = s"$cacheRoot/events_flush${parts}_${key._4.toHexString}_" +
        Integer.toHexString(d.hashCode)
      materialize(path) { tmp =>
        val ev = events(s, d)
        ev.repartition(parts).write.mode("overwrite").parquet(tmp)
        val dir = new java.io.File(tmp)
        val firstWave = dir.listFiles().map(_.getName).toSet
        val maxTs = ev.agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col("ts"))).collect()(0)
          .getTimestamp(0)
        val sentinelTs = java.sql.Timestamp.from(
          maxTs.toInstant.plus(java.time.Duration.ofDays(90)))
        s.createDataFrame(
            java.util.List.of(org.apache.spark.sql.Row(
              -1L, sentinelTs, -1L, "flush", 0.0, "{}")),
            ev.schema)
          .coalesce(1).write.mode("append").parquet(tmp)
        // pin the delivery order: real parts 2 min in the past, the
        // sentinel wave at now
        val now = System.currentTimeMillis()
        dir.listFiles().foreach { f =>
          f.setLastModified(
            if (firstWave(f.getName)) now - 120000L else now)
          ()
        }
      }
    })
  }

  /** Re-materialize the documents fixture as `parts` equal parquet files
    * — the multi-file layout the streaming ingest quality gate (s04)
    * paces through one file per microbatch, the document-corpus twin of
    * [[exportedEventsParts]]. Written once per fixture version. */
  def exportedDocsParts(s: SparkSession, d: String,
                        parts: Int = 8): String = {
    val key = (d, "documents", s"parts$parts", fixtureMtime(d, "documents"))
    exportMemo.getOrElseUpdate(key, {
      exportMemo.keys
        .filter(k => k._1 == d && k._2 == "documents" &&
          k._3 == s"parts$parts" && k != key)
        .foreach(exportMemo.remove)
      val path = s"$cacheRoot/docs_parts${parts}_${key._4.toHexString}_" +
        Integer.toHexString(d.hashCode)
      materialize(path) { tmp =>
        documents(s, d).repartition(parts)
          .write.mode("overwrite").parquet(tmp)
      }
    })
  }

  /** The Seg fact (lineitem⋈orders⋈supplier projection — the
    * [[graft.CoreQueries]] segStaging shape) replicated `copies`x with
    * distinct patron ids and laid out as date_month=yyyyMM partition
    * directories ([[Scale.writeFactByMonth]]'s layout) — the 100 TB
    * fact posture for the reference's heaviest real shape, the
    * 12-month trailing window over the full fact (Seg:74-75, ~9M-patron
    * backfill Seg:211). Replicas multiply the patron population, not
    * the calendar, so the month layout and any window's selectivity
    * are scale-invariant. Written once per fixture version; read back
    * with `spark.read.parquet(root)` so a DateKey-window predicate
    * prunes whole month directories (ScaleSpec proves the file count;
    * benched as x34). */
  def exportedSegFactByMonth(s: SparkSession, d: String,
                             copies: Int = 10): String = {
    val ver = Seq("lineitem", "orders", "supplier")
      .map(fixtureMtime(d, _)).max
    val key = (d, "segfact", s"bymonth$copies", ver)
    exportMemo.getOrElseUpdate(key, {
      exportMemo.keys
        .filter(k => k._1 == d && k._2 == "segfact" &&
          k._3 == s"bymonth$copies" && k != key)
        .foreach(exportMemo.remove)
      val path = s"$cacheRoot/segfact_bymonth${copies}_${ver.toHexString}_" +
        Integer.toHexString(d.hashCode)
      materialize(path) { tmp =>
        val fact = lineitem(s, d)
          .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(supplier(s, d)),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("o_custkey").as("UniquePatronId"),
            col("s_nationkey").as("GeographyID"),
            Ops.dateKey(col("o_orderdate")).as("DateKey"),
            col("l_extendedprice").cast("decimal(18,4)").as("Amount"))
        (0 until copies).map(i =>
            fact.select(
              (col("UniquePatronId") * copies + i).as("UniquePatronId"),
              col("GeographyID"), col("DateKey"), col("Amount")))
          .reduce(_ unionByName _)
          .withColumn("date_month", (col("DateKey") / 100).cast("int"))
          .repartition(col("date_month"))
          .write.mode("overwrite").partitionBy("date_month").parquet(tmp)
      }
    })
  }

  /** Re-materialize the embeddings fixture as `parts` equal parquet
    * files — the multi-file layout the streaming semantic ingest gate
    * (s07) paces through one file per microbatch, the embedding-corpus
    * twin of [[exportedDocsParts]]. Written once per fixture version. */
  def exportedEmbsParts(s: SparkSession, d: String,
                        parts: Int = 8): String = {
    val key = (d, "embeddings", s"parts$parts", fixtureMtime(d, "embeddings"))
    exportMemo.getOrElseUpdate(key, {
      exportMemo.keys
        .filter(k => k._1 == d && k._2 == "embeddings" &&
          k._3 == s"parts$parts" && k != key)
        .foreach(exportMemo.remove)
      val path = s"$cacheRoot/embs_parts${parts}_${key._4.toHexString}_" +
        Integer.toHexString(d.hashCode)
      materialize(path) { tmp =>
        embeddings(s, d).repartition(parts)
          .write.mode("overwrite").parquet(tmp)
      }
    })
  }

  /** Re-materialize selected columns of a parquet fixture as a CSV or
    * JSON-lines copy (the non-parquet-source test bed: the copy is written
    * by Spark once per fixture version, then read back through [[csv]] /
    * [[jsonLines]] while the DuckDB oracle reads the original parquet).
    * Lives under target/ so nothing outside the repo is touched. */
  def exportedCopy(s: SparkSession, d: String, name: String, fmt: String,
                   cols: Seq[String]): String = {
    val key = (d, name, fmt, fixtureMtime(d, name))
    exportMemo.getOrElseUpdate(key, {
      exportMemo.keys
        .filter(k => k._1 == d && k._2 == name && k._3 == fmt && k != key)
        .foreach(exportMemo.remove)
      val path = s"$cacheRoot/${name}_${fmt}_${key._4.toHexString}_" +
        Integer.toHexString(d.hashCode)
      materialize(path) { tmp =>
        val w = table(s, d, name).select(cols.map(col).toIndexedSeq: _*)
          .coalesce(4).write.mode("overwrite")
        fmt match {
          case "csv"  => w.option("header", "true").csv(tmp)
          case "json" => w.json(tmp)
          case other  => throw new IllegalArgumentException(s"format: $other")
        }
      }
    })
  }
}
