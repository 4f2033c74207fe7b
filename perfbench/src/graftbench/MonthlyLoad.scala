package graftbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.etl.{KeyLedger, Ops, Tables => T}
import graft.pipelines.{Fingerprint, Monthly}

/** monthly_load — the job the reference exists for: three consecutive
  * monthly windows, each `Monthly.run` then `Monthly.publishWithLedger`
  * into a fresh warehouse, the next window reading what the previous one
  * published. Closed loop, one caller; one operation is one full load.
  *
  * Inputs are one calendar year of the sf0.1 fixtures (the seed picks the
  * year and the first month), shaped the way CoreQueries derives them: the
  * q36 merchant header, the Seg staging fact with sentinel FKs, the q35
  * txnProxy / patron dimension, the q40 txnKeys / unique-patron candidates
  * and the clientDims / nation territory frames. Surrogate-key ranges are
  * kept disjoint so every published key must come out unique. */
object MonthlyLoad extends Workload {
  val Windows = 3
  /** Loads per 20 s of --seconds (a load takes ~20 s on 4 cores). */
  val LoadSeconds = 20.0
  private val Years = 1995 to 2000

  final case class State(year: Int, month: Int, inputs: String,
                         factRows: Long, expected: Map[Int, (Long, Long)],
                         distinctInputBytes: Long) {
    var lastLoad: Option[Load] = None
    /** Loads of the latest measure() call, for the per-layer ratios. */
    val loads = mutable.Buffer.empty[Load]
  }

  /** One load's warehouses (one per window), ledger and results;
    * `readBackBytes` is what later windows read of earlier ones. */
  final case class Load(root: String, results: Seq[Monthly.Result],
                        readBackBytes: Long) {
    def wh(w: Int): String = s"$root/w$w"
    def ledger: String = s"$root/ledger"
  }

  private val inputNames = Seq("header", "detail", "fact", "txn_proxy",
    "txn_keys", "dim_patron", "dim_unique_patron", "candidates",
    "dim_fingerprint", "dim_zip_geo", "dim_client", "dim_territory")

  private def monthKeys(year: Int, month: Int): (String, String, Long, Long) = {
    val ym = java.time.YearMonth.of(year, month)
    (ym.atDay(1).toString, ym.atEndOfMonth().toString,
      year * 10000L + month * 100 + 1, year * 10000L + month * 100 +
        ym.lengthOfMonth)
  }

  /** Merchant (and card holder) attributes per customer, q36's shape. */
  private def merchants(s: SparkSession, d: String): DataFrame = {
    val ck = col("c_custkey")
    T.customer(s, d)
      .join(broadcast(T.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(ck, col("c_name"), col("c_nationkey"),
        ck.cast("string").as("MerchantNumber"),
        col("c_name").as("MerchantLegalName"),
        col("c_mktsegment").as("MerchantName"),
        concat(lit("addr "), ck.cast("string")).as("AddressLine01"),
        col("n_name").as("CityName"), lit("ST").as("StateProvince"),
        lpad((ck % 10000).cast("string"), 5, "0").as("PostalCode"),
        when(col("c_nationkey") < 20, "US").otherwise("DE").as("CountryCode"),
        col("c_mktsegment").as("clientcode"))
  }

  private def synthProxy(ck: Column): Column =
    concat((ck % 100).cast("string"), lit("_"),
      Ops.padLast4((ck * 7).cast("string")))

  def prepare(ctx: Ctx, seed: Long): State = {
    val s = ctx.spark
    val d = ctx.data
    val rnd = new scala.util.Random(seed)
    val yr = Years(rnd.nextInt(Years.size))
    val mo = 1 + rnd.nextInt(12 - Windows) // leaves one month for warm-up
    val out = ctx.dir(s"inputs-${System.nanoTime()}")
    val ck = col("o_custkey")
    // the fact holds the measured windows plus the warm-up month
    val orders = T.orders(s, d).filter(year(col("o_orderdate")) === lit(yr) &&
      month(col("o_orderdate")).between(mo, mo + Windows))
    val m = merchants(s, d)
    val header = orders.join(m.drop("MerchantLegalName"),
        ck === col("c_custkey")).select(
      col("o_orderkey").cast("long").as("id"),
      col("o_orderkey").cast("string").as("transactionid"),
      col("MerchantNumber"),
      when(col("o_orderkey") % 7 === 0, concat(lit("REV:"), col("c_name")))
        .otherwise(col("c_name")).as("MerchantLegalName"),
      col("MerchantName"), col("AddressLine01"), col("CityName"),
      col("StateProvince"), col("PostalCode"), col("CountryCode"),
      col("clientcode"),
      (lit(5811) + col("o_orderkey") % 4).cast("string").as("MccCode"),
      col("o_orderdate").cast("date").as("TransactionDate"),
      when(ck % 2 === 0, concat(lit("P"), ck.cast("string"))).as("proxyid"),
      col("PostalCode").as("cardmemberbillingzipcode"),
      when(col("c_nationkey") < 20, "840").otherwise("276")
        .as("cardmembercountrycode"),
      (ck * 7).cast("string").as("creditcardnum"))
    // detail id: (orderkey, linenumber) repeats in the fixture, the full
    // line key does not
    val li = T.lineitem(s, d)
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(T.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .withColumn("__dv", row_number().over(Window.orderBy(col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"))).cast("long"))
    val dvId = col("__dv")
    val detail = li.select(dvId.as("id"),
      col("o_orderkey").cast("string").as("transactionid"),
      col("o_orderdate").cast("date").as("txndate"))
    val fact = li.select(
      col("o_orderkey").cast("long").as("TH_ID"), dvId.as("DVHD_ID"),
      Ops.dateKey(col("o_orderdate")).cast("long").as("DateKey"),
      lit(1L).as("Patron_ID"), lit(0L).as("UniquePatronId"),
      col("s_nationkey").as("GeographyID"),
      col("l_extendedprice").cast("decimal(18,4)").as("Amount"),
      lit(null).cast("long").as("FingerprintID"),
      lit(1L).as("SFRestaurantKey"))
    val txnProxy = orders.select(
      col("o_orderkey").cast("long").as("TH_ID"),
      when(ck % 2 === 0, concat(lit("P"), ck.cast("string")))
        .otherwise(lit("none")).as("proxyid"),
      (ck % 100).cast("long").as("ClientID"),
      (ck * 7).cast("string").as("creditcardnum"))
    val txnKeys = li.select(dvId.as("DVHD_ID"),
      concat(lit("C"), (ck % 50).cast("string")).as("clientcode"),
      when(ck % 3 === 0, (ck % 500).cast("string")).otherwise(lit(""))
        .as("employeeid"),
      (ck * 9).cast("string").as("creditcardnum"),
      concat(lit("U"), ck.cast("string")).as("proxyid"))
    val c = T.customer(s, d)
    val k = col("c_custkey")
    val dimPatron = c.filter(k % 3 === 0)
      .select((k + 10L).cast("long").as("ID"),
        concat(lit("P"), k.cast("string")).as("ProxyID"))
      .unionByName(c.filter(k % 5 === 0)
        .select((k + 1000000L).cast("long").as("ID"), synthProxy(k).as("ProxyID")))
    val dimUnique = c.filter(k % 3 === 0 && k % 4 === 0).select(
        concat_ws("_", concat(lit("C"), (k % 50).cast("string")),
          (k % 500).cast("string"), (k * 9).cast("string")).as("ProxyID"),
        (k + 1000000L).cast("long").as("UniquePatronId"))
      .unionByName(c.filter(k % 6 === 0).select(
        concat_ws("_", concat(lit("C"), (k % 50).cast("string")),
          Ops.padLast4((k * 9).cast("string"))).as("ProxyID"),
        (k + 2000000L).cast("long").as("UniquePatronId")))
      .unionByName(c.filter(k % 5 === 0).select(
        concat(lit("U"), k.cast("string")).as("ProxyID"),
        (k + 3000000L).cast("long").as("UniquePatronId")))
      .withColumn("IsHighValue", lit(1))
    val candidates = c.filter(k % 7 === 0 && k % 5 =!= 0).select(
      concat(lit("U"), k.cast("string")).as("ProxyID"),
      when(k % 2 === 0, 1).otherwise(0).as("IsHighValue"),
      lit(null).cast("long").as("UniquePatronId"))
    val dimFingerprint = m.filter(col("c_custkey") % 2 === 0).select(
      col("c_custkey").cast("long").as("FingerprintID"),
      Fingerprint.simHash(m(_)).as("SimHash"),
      col("MerchantLegalName"), col("MerchantName"), col("AddressLine01"),
      (col("c_custkey") % 97 + 2).cast("long").as("SFRestaurantKey"))
    val dimZip = c.groupBy(lpad((k % 10000).cast("string"), 5, "0")
        .as("ZipCode"))
      .agg(min(col("c_nationkey")).as("GeographyID"))
    val segments = c.select(col("c_mktsegment")).distinct().collect()
      .map(_.getString(0)).sorted
    val dimClient = s.createDataFrame(segments.zipWithIndex.toSeq
        .map { case (seg, i) => (seg, i + 1L) })
      .toDF("clientcode", "ClientID")
    val dimTerritory = T.nation(s, d)
      .join(broadcast(T.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("GeographyID"),
        col("r_name").as("SalesTerritory"),
        col("n_name").as("DIN_DisplayMiniMarketName"))
    Seq(header, detail, fact, txnProxy, txnKeys, dimPatron, dimUnique,
        candidates, dimFingerprint, dimZip, dimClient, dimTerritory)
      .zip(inputNames).foreach { case (df, n) =>
        df.write.parquet(s"$out/$n") }

    // what the derivation implies per window, computed from the staged
    // inputs with plain set membership (not through the pipeline code):
    // a patron row stays unmapped iff its natural proxy is "none" and its
    // synthesized proxy is no patron's; a unique-patron row iff none of
    // its three keys is a unique-patron or candidate proxy
    def in(n: String) = s.read.parquet(s"$out/$n")
    val synth = in("dim_patron").filter(col("ProxyID").contains("_"))
      .select(col("ProxyID").as("p"))
    val uProxies = in("dim_unique_patron").select(col("ProxyID").as("p"))
      .unionByName(in("candidates").select(col("ProxyID").as("p")))
      .distinct()
    val keyed = in("fact").select(col("TH_ID"), col("DVHD_ID"),
        (col("DateKey") / 100).cast("long").as("ym"))
      .join(in("txn_proxy").select(col("TH_ID"), col("proxyid").as("pp"),
        col("ClientID"), col("creditcardnum").as("pcc")), "TH_ID")
      .join(in("txn_keys").select(col("DVHD_ID"),
        concat(col("clientcode"), lit("_"), col("employeeid"), lit("_"),
          col("creditcardnum")).as("k1"),
        concat(col("clientcode"), lit("_"),
          Ops.padLast4(col("creditcardnum"))).as("k2"),
        col("proxyid").as("k3")), "DVHD_ID")
    val pat = keyed.filter(col("pp") === "none")
      .join(synth, concat(col("ClientID").cast("string"), lit("_"),
        Ops.padLast4(col("pcc"))) === col("p"), "left_anti")
      .groupBy("ym").count()
    val uni = Seq("k1", "k2", "k3").foldLeft(keyed)((df, key) =>
        df.join(uProxies, col(key) === col("p"), "left_anti"))
      .groupBy("ym").count()
    def byMonth(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0) % 100).toInt -> r.getLong(1)).toMap
    val (p, u) = (byMonth(pat), byMonth(uni))
    val expected = (1 to 12).map(mo => mo ->
      (p.getOrElse(mo, 0L), u.getOrElse(mo, 0L))).toMap
    val factRows = in("fact").count()
    State(yr, mo, out, factRows, expected, dirBytes(new File(out)))
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** One window: run the month, publish it with the key ledger, and
    * return the result. Window w reads window w-1's warehouse. */
  private def window(ctx: Ctx, st: State, load: String, w: Int,
                     month: Int): Monthly.Result = {
    val s = ctx.spark
    def in(n: String) = s.read.parquet(s"${st.inputs}/$n")
    // window 0 starts from the staged inputs, later ones from the
    // previous window's published warehouse
    def prev(published: String, staged: String) =
      if (w == 0) in(staged) else s.read.parquet(s"$load/w${w - 1}/$published")
    val (sd, ed, sk, ek) = monthKeys(st.year, month)
    val inputs = Monthly.Inputs(
      header = in("header"), detail = in("detail"),
      dimFingerprint = prev("dim_fingerprint", "dim_fingerprint"),
      fact = prev("fact_transaction", "fact"),
      txnProxy = in("txn_proxy"), txnKeys = in("txn_keys"),
      dimPatron = prev("dim_patron", "dim_patron"),
      dimUniquePatron = prev("dim_unique_patron", "dim_unique_patron"),
      uniquePatronCandidates = in("candidates"),
      dimZipGeo = in("dim_zip_geo"), dimClient = in("dim_client"),
      dimTerritory = in("dim_territory"),
      startDate = sd, endDate = ed, startKey = sk, endKey = ek,
      keyLedger = Some(s"$load/ledger"))
    val r = ctx.tracer.span("pipelines.Monthly.run") { Monthly.run(inputs) }
    ctx.tracer.span("etl.Publish.publishWithLedger") {
      Monthly.publishWithLedger(s, s"$load/w$w", r.outputs, s"$load/ledger")
        .get
    }
    r
  }

  private def newLoadDir(ctx: Ctx): String =
    ctx.dir(s"load-${System.nanoTime()}")

  def warmUp(ctx: Ctx, st: State): Unit = {
    val load = newLoadDir(ctx)
    window(ctx, st, load, 0, st.month + Windows)
    deleteTree(new File(load))
  }

  def measure(ctx: Ctx, st: State, seconds: Double): Measured = {
    val lat = mutable.Buffer.empty[Double]
    val errors = mutable.Buffer.empty[String]
    var attempted = 0L
    st.loads.clear()
    val t0 = System.nanoTime()
    (1 to PerfBench.iterations(seconds, LoadSeconds)).foreach { _ =>
      st.lastLoad.foreach(l => deleteTree(new File(l.root)))
      val load = newLoadDir(ctx)
      val s0 = System.nanoTime()
      val results = (0 until Windows).map { w =>
        attempted += 1
        val r = try Some(window(ctx, st, load, w, st.month + w))
        catch { case e: Exception => errors += s"window $w failed: $e"; None }
        // the zero-expectation probes must read what the inputs imply
        r.map(x => (x.unmappedPatrons, x.unmappedUniquePatrons))
          .filter(_ != st.expected(st.month + w))
          .foreach(p => errors += s"window $w probes $p != expected " +
            s"${st.expected(st.month + w)}")
        r
      }
      lat += (System.nanoTime() - s0) / 1e6
      st.lastLoad = Some(Load(load, results.flatten, (0 until Windows - 1)
        .map(w => dirBytes(new File(s"$load/w$w"))).sum))
      st.loads += st.lastLoad.get
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Measured(lat.toSeq, lat.size.toDouble, wall, attempted,
      errors.size, errors = errors.toSeq)
  }

  /** Order-independent content hash of a frame. */
  private def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*)
      .cast("decimal(38,0)"))).first()
    (r.getLong(0), r.getDecimal(1))
  }

  def check(ctx: Ctx, st: State): Seq[String] = {
    val s = ctx.spark
    val load = st.lastLoad.get
    val bad = mutable.Buffer.empty[String]
    if (load.results.size != Windows) bad += "a window failed"
    val keys = Seq(("dimFingerprint", "dim_fingerprint", "FingerprintID"),
      ("dimPatron", "dim_patron", "ID"),
      ("dimUniquePatron", "dim_unique_patron", "UniquePatronId"))
    (0 until Windows).foreach { w =>
      val wh = load.wh(w)
      val n = s.read.parquet(s"$wh/fact_transaction").count()
      if (n != st.factRows) bad += s"w$w fact rows $n != ${st.factRows}"
      keys.foreach { case (table, out, key) =>
        val dim = s.read.parquet(s"$wh/$out")
        val r = dim.agg(count(lit(1)), countDistinct(col(key)), max(col(key)))
          .first()
        if (r.getLong(0) != r.getLong(1)) bad += s"w$w $out $key not unique"
        if (w == Windows - 1 &&
            !KeyLedger.read(load.ledger, table).contains(r.getLong(2)))
          bad += s"ledger $table ${KeyLedger.read(load.ledger, table)} " +
            s"!= published max ${r.getLong(2)}"
      }
    }
    // the last window's in-memory result (its lineage still reads the
    // previous window's warehouse) must hash equal to what was published
    load.results.lastOption.foreach(_.outputs.foreach { case (out, df) =>
      val mem = digest(df)
      val disk = digest(s.read.parquet(s"${load.wh(Windows - 1)}/$out"))
      if (mem != disk) bad += s"$out read-back $disk != in-memory $mem"
    })
    bad.toSeq
  }

  def layers(ctx: Ctx, st: State, m: Measured, tr: TraceSession)
    : Map[String, Double] = {
    val t = new Layers.Tree(tr)
    val windows = t.named("pipelines.Monthly.run").size.max(1)
    val runIds = t.ids("pipelines.Monthly.run")
    val pubIds = t.ids("etl.Publish.publishWithLedger")
    val all = runIds ++ pubIds
    val work = new Work
    all.flatMap(t.work.get).foreach(work.add)
    val execs = tr.recorder.execsUnder(all)
    val writes = tr.recorder.execsUnder(pubIds).filter(_._2.target.nonEmpty)
    val segCpu = execs.filter { case (_, e, _) =>
      e.target.endsWith("/minimarket_spend") || e.target.endsWith("/personas")
    }.map(_._3.cpuNs).sum / 1e6
    val pubOut = new Work
    pubIds.flatMap(t.work.get).foreach(pubOut.add)
    // distinct input bytes: the staged inputs once, plus each window's
    // warehouse read by the next one
    val distinct = st.loads.map(_.readBackBytes).sum +
      st.loads.size * st.distinctInputBytes
    Map(
      "monthly.jobs_per_window" -> work.jobs.toDouble / windows,
      "monthly.scan_amplification" -> work.inputBytes.toDouble / distinct,
      "monthly.seg_exec_cpu_ms" -> segCpu / windows,
      "publish.bytes_per_row" ->
        pubOut.outputBytes.toDouble / pubOut.outputRecords.max(1L),
      "publish.write_ms" -> writes.map(_._2.durMs).sum / windows)
  }

  override def release(ctx: Ctx, st: State): Unit = {
    deleteTree(new File(st.inputs))
    st.loads.foreach(l => deleteTree(new File(l.root)))
  }
}
