package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.etl.{Merge, Ops}

/** Seg — patron segmentation (`patching_scripts/patron_segmentation.sql`)
  * and Cui — cuisine-type imputation (`patching_scripts/cuisine_type.sql`).
  *
  * Personas (Seg:221-225):
  *   Road Warrior  — max-territory spend ratio < 0.8
  *   City person   — territory ratio >= 0.8 and max-minimarket ratio < 0.8
  *   Office manager— territory ratio > 0.8 and minimarket ratio >= 0.8
  *   Undefined     — every patron not otherwise classified (backfill)
  */
object Segmentation {

  /** Seg:127-136 — MinimarketSpend staging: high-value patrons' spend per
    * (patron, territory, minimarket) inside the trailing-12-month window. */
  def minimarketSpend(fact: DataFrame, dimZip: DataFrame,
                      dimUniquePatron: DataFrame,
                      startKey: Long, endKey: Long): DataFrame =
    fact
      .filter(col("DateKey").between(startKey, endKey))
      .join(dimZip.select(col("GeographyID"), col("SalesTerritory"),
        col("DIN_DisplayMiniMarketName")), Seq("GeographyID"))
      .join(dimUniquePatron.filter(col("IsHighValue") === 1)
        .select(col("UniquePatronId")), Seq("UniquePatronId"))
      .groupBy(col("UniquePatronId"), col("SalesTerritory"),
        col("DIN_DisplayMiniMarketName"))
      .agg(sum(col("Amount")).as("MinimarketAmount"),
        count(lit(1)).as("TxnCount"))

  /** Seg:144-182 — the ratio chain: total per patron; top territory and top
    * minimarket (row_number desc, rn=1); spend ratios vs the total.
    *
    * Pure-aggregate formulation of the reference's CTE-join chain: the
    * rank-1 picks become `min(struct(-amount, tiebreaks…))` — struct
    * ordering compares fields left to right, so negated-amount-then-
    * tiebreak minima select exactly the reference's
    * `ORDER BY amount DESC, tiebreaks` first row, and min-of-struct is
    * associative, so it runs as a two-level hash aggregate with map-side
    * partials and no sorts at all (the window formulation this replaces
    * paid one exchange plus four in-partition sorts). Values are identical
    * (decimal addition associative, negation exact, tie-breaks mirror the
    * ORDER BY columns). */
  def spendRatios(mmSpend: DataFrame): DataFrame =
    mmSpend
      .groupBy(col("UniquePatronId"), col("SalesTerritory"))
      .agg(sum(col("MinimarketAmount")).as("__tAmt"),
        min(struct((-col("MinimarketAmount")).as("negAmt"),
          col("SalesTerritory").as("terr"),
          col("DIN_DisplayMiniMarketName").as("name"))).as("__mTop"))
      .groupBy(col("UniquePatronId"))
      .agg(
        min(struct((-col("__tAmt")).as("negAmt"),
          col("SalesTerritory").as("terr"))).as("__tTop"),
        min(col("__mTop")).as("__mTop"),
        sum(col("__tAmt")).as("TotalAmount"))
      .select(col("UniquePatronId"),
        col("__tTop.terr").as("SalesTerritory"),
        col("__mTop.name").as("DIN_DisplayMiniMarketName"),
        Ops.safeRatio(-col("__tTop.negAmt"), col("TotalAmount"))
          .as("TerritorySpendRatio"),
        Ops.safeRatio(-col("__mTop.negAmt"), col("TotalAmount"))
          .as("MMSpendRatio"))

  /** Seg:184-217 — persona classification via the three UNION ALL branches
    * at the 0.8 thresholds, then the Undefined backfill for every patron in
    * the dimension not yet classified (anti-join, Seg:211-217). Returns
    * (UniquePatronId, PersonaName). */
  /** Seg:184-209 persona rules over the per-patron ratio rows, with the
    * in-scope Undefined fallback. The reference's three UNION ALL branches
    * have mutually exclusive predicates, so a single CASE pass is
    * value-identical — and evaluates the ratio chain once instead of three
    * times (branch filters push into each union arm and defeat exchange
    * reuse). `ratios` is one row per patron (spendRatios output), so no
    * dedup is needed. */
  def personaLabel(ratios: DataFrame): DataFrame =
    ratios.select(col("UniquePatronId"),
      coalesce(
        when(col("TerritorySpendRatio") < 0.8, "Road Warrior")
          .when(col("TerritorySpendRatio") >= 0.8 && col("MMSpendRatio") < 0.8,
            "City person")
          .when(col("TerritorySpendRatio") > 0.8 && col("MMSpendRatio") >= 0.8,
            "Office manager"),
        lit("Undefined")).as("PersonaName"))

  def classify(ratios: DataFrame, dimUniquePatron: DataFrame): DataFrame =
    // union(classified, dim anti-join classified -> Undefined) expressed as
    // one full-outer join: referencing the labeled frame twice would
    // evaluate the whole ratio-chain subtree twice (joins, staging reads) —
    // row-identical, since ratio patrons keep their label and dim patrons
    // missing from it get the Undefined backfill either way
    dimUniquePatron.select(col("UniquePatronId"))
      .join(personaLabel(ratios), Seq("UniquePatronId"), "full_outer")
      .select(col("UniquePatronId"),
        coalesce(col("PersonaName"), lit("Undefined")).as("PersonaName"))

  /** Seg:391-399 — ClientMinimarketSpend top-10 snapshot: rank minimarkets
    * per (client, territory, persona) by spend share, keep MMRank <= 10. */
  def topMinimarkets(spend: DataFrame, k: Int = 10): DataFrame =
    spend.withColumn("MMRank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("ClientCode"), col("SalesTerritory"),
            col("PersonaName"))
          .orderBy(col("PercentOfSpend").desc,
            col("DIN_DisplayMiniMarketName"))))
      .filter(col("MMRank") <= k)

  /** Seg:243-265 — vw_IndustrySpend: minimarket spend per (ClientIndustry,
    * PersonaName) and its share of the industry total.
    *
    * The reference computes TotalSpend in a second full scan of
    * MinimarketSpend and re-joins it on industry (Seg:244-252); because
    * the segmentation fact covers every spending patron, the industry
    * total equals the sum of the grouped rows themselves — so it is a
    * window sum OVER the aggregate here: one pass over MinimarketSpend
    * instead of two plus a join, value-identical (decimal addition of the
    * same addends). `personas` = (UniquePatronId, PersonaName) — the
    * FactUniquePatronSegmentation ⋈ DimPatronSegmentation equivalent. */
  def industrySpend(mmSpend: DataFrame, personas: DataFrame,
                    dimPatron: DataFrame, dimClient: DataFrame): DataFrame = {
    val spend = mmSpend
      .join(personas, Seq("UniquePatronId"))
      .join(dimPatron.select(col("UniquePatronId"), col("ClientID")),
        Seq("UniquePatronId"))
      .join(broadcast(dimClient.select(col("ClientID"), col("ClientIndustry"))),
        Seq("ClientID"))
      .groupBy(col("ClientIndustry"), col("PersonaName"))
      .agg(sum(col("MinimarketAmount")).as("SpendbySegmentation"))
    spend
      .withColumn("__tot", sum(col("SpendbySegmentation")).over(
        Window.partitionBy(col("ClientIndustry"))))
      .select(col("ClientIndustry"), col("PersonaName"),
        col("SpendbySegmentation"),
        Ops.safeRatio(col("SpendbySegmentation"), col("__tot"))
          .as("PercentOfSpend"))
  }

  /** Seg:270-296 — vw_ClientSpend: the per-client twin of
    * [[industrySpend]] — spend per (industry, client, persona) against the
    * client's total. The reference's TotalSpend CTE groups by (industry,
    * code, name) but joins back on ClientCode alone (Seg:292), relying on
    * code → (industry, name) being functional; the window over ClientCode
    * encodes exactly that join key. */
  def clientSpend(mmSpend: DataFrame, personas: DataFrame,
                  dimPatron: DataFrame, dimClient: DataFrame): DataFrame = {
    val spend = mmSpend
      .join(personas, Seq("UniquePatronId"))
      .join(dimPatron.select(col("UniquePatronId"), col("ClientID")),
        Seq("UniquePatronId"))
      .join(broadcast(dimClient.select(col("ClientID"), col("ClientIndustry"),
        col("ClientCode"), col("ClientName"))), Seq("ClientID"))
      .groupBy(col("ClientIndustry"), col("ClientCode"), col("ClientName"),
        col("PersonaName"))
      .agg(sum(col("MinimarketAmount")).as("SpendbySegmentation"))
    spend
      .withColumn("__tot", sum(col("SpendbySegmentation")).over(
        Window.partitionBy(col("ClientCode"))))
      .select(col("ClientIndustry"), col("ClientCode"), col("ClientName"),
        col("PersonaName"), col("SpendbySegmentation"),
        Ops.safeRatio(col("SpendbySegmentation"), col("__tot"))
          .as("PercentOfSpend"))
  }

  /** Seg:313-339 — Reporting.ClientTerritorySpend: spend per (client,
    * territory, persona) against the client-territory total. The
    * reference's TotalSpend CTE groups by (code, name, territory) but
    * joins back on (code, territory) alone (Seg:337) — name is functional
    * on code — so the window over (ClientCode, SalesTerritory) encodes
    * exactly that join key: one pass over MinimarketSpend instead of two
    * scans plus a join, value-identical (same decimal addends; the
    * segmentation fact covers every spending patron, see
    * [[industrySpend]]). */
  def territorySpend(mmSpend: DataFrame, personas: DataFrame,
                     dimPatron: DataFrame, dimClient: DataFrame): DataFrame = {
    val spend = mmSpend
      .join(personas, Seq("UniquePatronId"))
      .join(dimPatron.select(col("UniquePatronId"), col("ClientID")),
        Seq("UniquePatronId"))
      .join(broadcast(dimClient.select(col("ClientID"), col("ClientCode"),
        col("ClientName"))), Seq("ClientID"))
      .groupBy(col("ClientCode"), col("ClientName"), col("SalesTerritory"),
        col("PersonaName"))
      .agg(sum(col("MinimarketAmount")).as("SpendbySegmentation"))
    spend
      .withColumn("__tot", sum(col("SpendbySegmentation")).over(
        Window.partitionBy(col("ClientCode"), col("SalesTerritory"))))
      .select(col("ClientCode"), col("ClientName"), col("SalesTerritory"),
        col("PersonaName"), col("SpendbySegmentation"),
        Ops.safeRatio(col("SpendbySegmentation"), col("__tot"))
          .as("PercentOfSpend"))
  }

  /** Seg:405-426 — DinersCount: distinct diners and high-value diners per
    * client over the trailing window. */
  def dinersCount(fact: DataFrame, dimUniquePatron: DataFrame,
                  dimClient: DataFrame, startKey: Long,
                  endKey: Long): DataFrame =
    fact.filter(col("DateKey").between(startKey, endKey))
      .join(dimUniquePatron.select(col("UniquePatronId"), col("IsHighValue"),
        col("ClientID")), Seq("UniquePatronId"))
      .join(broadcast(dimClient.select(col("ClientID"), col("ClientName"))),
        Seq("ClientID"))
      .groupBy(col("ClientName"))
      .agg(countDistinct(col("UniquePatronId")).as("DinersCount"),
        countDistinct(when(col("IsHighValue") === 1, col("UniquePatronId")))
          .as("HighValueDiners"))

  /** Cui:11-67 — cuisine-type mode imputation for DimSalesForceRestaurant:
    * most frequent non-'N/A' cuisine per brand, preferring partner
    * restaurants' mode (Type='Partner') over the all-rows mode; rows with
    * CuisineType 'N/A' in brands below `rankCutoff` get the imputed value. */
  def imputeCuisine(dim: DataFrame, rankCutoff: Int = 1500): DataFrame = {
    val known = dim.filter(col("CuisineType").isNotNull &&
      col("CuisineType") =!= "N/A")
    val partnerMode = Merge.modePerGroup(
        known.filter(col("Type") === "Partner"), "Brand", "CuisineType")
      .withColumnRenamed("CuisineType_mode", "__partner_mode")
    val commonMode = Merge.modePerGroup(known, "Brand", "CuisineType")
      .withColumnRenamed("CuisineType_mode", "__common_mode")
    dim
      .join(broadcast(partnerMode), Seq("Brand"), "left")
      .join(broadcast(commonMode), Seq("Brand"), "left")
      .withColumn("CuisineType",
        when(col("CuisineType") === "N/A" && col("Rank") < rankCutoff &&
            coalesce(col("__partner_mode"), col("__common_mode")).isNotNull,
          coalesce(col("__partner_mode"), col("__common_mode")))
          .otherwise(col("CuisineType")))
      .drop("__partner_mode", "__common_mode")
  }
}
