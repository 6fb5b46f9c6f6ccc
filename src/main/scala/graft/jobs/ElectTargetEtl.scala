package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Relational.decode

/** Scope-1/scope-2 target projections (reference: jobs/elect_target_etl.py).
  *
  * `scope_cal` (:16-69) turns the latest electricity simulation into
  * location/market scope-2 tonnage per year (grid share × carbon
  * coefficient), derives scope-1 as the 6% estimate, and scope-1+2 as their
  * sum. `decarb_renew_setting_etl` (:178-295) then emits, per future year,
  * the three scope categories plus three percentage "decarb simulate"
  * comparisons: market scope-2 vs the 2022 base, scope-1+2 vs base, and
  * scope-1+2 vs the previous year (SBTi).
  *
  * The reference runs an 8-iteration year loop where each iteration WRITES
  * staging.renewable_setting and the next iteration READS those rows back
  * as its "previous year" — a hidden self-dependency through the database.
  * Since the value read back is exactly the scope-1+2 just computed for
  * year−1, the loop collapses to one year-range plan with a year−1
  * self-join ([[decarbRenewSetting]]): 8 read-modify-write round-trips
  * become a single lazy DataFrame. Only the first year's predecessor comes
  * from outside the run (`priorScope1n2`). The reference's January branch
  * (:187-191) skips the whole body — callers gate on the clock month.
  */
object ElectTargetEtl {

  /** Per-year scope totals, each frame (year, amount). */
  final case class ScopeTotals(location: DataFrame, market: DataFrame,
                               scope1: DataFrame, scope1n2: DataFrame)

  private val siteDict = Map("WIHK1" -> "WIHK-1", "WIHK2" -> "WIHK-2",
    "WMYP1" -> "WMY", "WMYP2" -> "WMY")

  private val scope1Factor = 0.06 / (1 - 0.06)

  private def sum1n2(scope1: DataFrame, market: DataFrame,
                     key: String): DataFrame =
    scope1.unionByName(market).groupBy(col(key)).agg(sum("amount").as("amount"))

  /** The reference's double scalar subquery (:30): rows of the globally
    * highest version AND version_year. */
  def latestSimulate(simulate: DataFrame): DataFrame = {
    val mv = simulate.agg(max(col("version")).as("__v"),
      max(col("version_year")).as("__vy"))
    simulate.crossJoin(broadcast(mv))
      .filter(col("version") === col("__v") && col("version_year") === col("__vy"))
      .drop("__v", "__vy")
  }

  /** Grid-electricity share per year: 1 − (PPA+solar)% for location-based,
    * 1 − (PPA+solar+REC)% for market-based (reference :32-40). */
  def s2Ratios(renewableSetting: DataFrame): DataFrame = {
    def ratio(cats: Seq[String], label: String) =
      renewableSetting.filter(col("category").isin(cats: _*))
        .groupBy(col("year"))
        .agg((lit(1) - sum(col("amount")) / 100).as("ratio"))
        .withColumn("category", lit(label))
    ratio(Seq("PPA", "solar"), "location")
      .unionByName(ratio(Seq("PPA", "solar", "REC"), "market"))
  }

  /** `scope_cal` over every year at once (reference :16-69 runs per year):
    * latest simulation × grid ratio × site coefficient / 1000, summed per
    * year at both scopes.
    *
    * @param coefRaw          staging.decarb_carbon_coef: (year, site, coef)
    * @param targetSimulate   app.decarb_elect_simulate:
    *                         (site, year, amount, version, version_year)
    * @param renewableSetting staging.renewable_setting (year, category, amount)
    */
  def scopeCalYears(coefRaw: DataFrame, targetSimulate: DataFrame,
                    renewableSetting: DataFrame): ScopeTotals = {
    val coef = coefRaw
      .withColumn("site", decode(col("site"), siteDict, col("site")))
      .dropDuplicates()
    val t = latestSimulate(targetSimulate).select("site", "year", "amount")
      .join(s2Ratios(renewableSetting), Seq("year"), "left")
      .join(broadcast(coef.select("year", "site", "coef")), Seq("year", "site"), "left")
      .na.fill(0.0)
      .withColumn("amount", col("amount") * col("ratio") * col("coef") / 1000)
    def yearSum(cat: String) = t.filter(col("category") === cat)
      .groupBy(col("year")).agg(sum("amount").as("amount"))
    val location = yearSum("location")
    val market = yearSum("market")
    val scope1 = location.withColumn("amount", col("amount") * scope1Factor)
    ScopeTotals(location, market, scope1, sum1n2(scope1, market, "year"))
  }

  /** Base/previous-year scopes from the published overview (reference
    * `base_scope_cal_elec_overview` :77-86, the 2022 branch): December YTM
    * actuals per scope category.
    * @param overview app.decarb_elec_overview:
    *                 (year, month, category, type, ytm_amount) */
  def baseScopeFromOverview(overview: DataFrame): ScopeTotals = {
    def cat(c: String) = overview
      .filter(col("month") === 12 && col("type") === "actual" &&
        col("category") === c)
      .select(col("year"), col("ytm_amount").as("amount"))
    val s1 = cat("scope1")
    val mkt = cat("scope2_market")
    ScopeTotals(cat("scope2_location"), mkt, s1, sum1n2(s1, mkt, "year"))
  }

  /** `base_scope_cal_stage_table` (reference :102-163): the 2022 base
    * scopes recomputed from the staging layer at 2022-12-01 — electricity
    * minus renewables, × coefficient / 1000, summed over sites. Frames are
    * keyed by period_start instead of year. Inputs are the period slices
    * (site, amount, period_start); coefBase is (site, coef). Returns
    * (location, market, scope1, scope1n2). */
  def baseScopeFromStaging(electBase: DataFrame, solarBase: DataFrame,
                           greenEnergyBase: DataFrame, greenElectBase: DataFrame,
                           coefBase: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val coef = coefBase
      .withColumn("site", decode(col("site"), siteDict, col("site")))
      .dropDuplicates()
    def renw(parts: Seq[DataFrame]) = parts.reduce(_ unionByName _)
      .groupBy(col("site"), col("period_start")).agg(sum("amount").as("amount"))
    def scope2(renwDf: DataFrame) = electBase
      .withColumnRenamed("amount", "amount_x")
      .join(renwDf.withColumnRenamed("amount", "amount_y"),
        Seq("site", "period_start"), "left")
      .join(broadcast(coef), Seq("site"), "left")
      .na.fill(0.0)
      .withColumn("amount",
        (col("amount_x") - col("amount_y")) * col("coef") / 1000)
      .groupBy(col("period_start")).agg(sum("amount").as("amount"))
    val market = scope2(renw(Seq(solarBase, greenEnergyBase, greenElectBase)))
    val location = scope2(renw(Seq(solarBase, greenElectBase)))
    val scope1 = location.withColumn("amount", col("amount") * scope1Factor)
    (location, market, scope1, sum1n2(scope1, market, "period_start"))
  }

  /** `decarb_simulate` (reference :166-175): year-over-base percentage. */
  def decarbSimulate(yoo: DataFrame, before: DataFrame,
                     category: String): DataFrame =
    yoo.withColumnRenamed("amount", "amount_x")
      .crossJoin(broadcast(before.select(col("amount").as("amount_y"))))
      .withColumn("amount", (col("amount_x") / col("amount_y") - 1) * 100)
      .select(col("year"), col("amount"))
      .withColumn("category", lit(category))

  /** The collapsed `decarb_renew_setting_etl` year loop (reference
    * :178-295): for every year in `years`, the three scope categories plus
    * the three decarb-simulate percentages, as ONE plan. The SBTi
    * comparison's previous-year value is the in-plan scope-1+2 of year−1
    * (the loop's read-back through the settings table), except the first
    * year whose predecessor is `priorScope1n2` (year, amount).
    *
    * @param base 2022 base totals, usually [[baseScopeFromOverview]]
    */
  def decarbRenewSetting(coefRaw: DataFrame, targetSimulate: DataFrame,
                         renewableSetting: DataFrame, base: ScopeTotals,
                         priorScope1n2: DataFrame,
                         years: Seq[Int]): DataFrame = {
    val sc = scopeCalYears(coefRaw, targetSimulate, renewableSetting)
    def inYears(df: DataFrame) = df.filter(col("year").isin(years: _*))

    val scope2Sim = decarbSimulate(inYears(sc.market), base.market,
      "scope2_decarb_simulate")
    val scope1n2Sim = decarbSimulate(inYears(sc.scope1n2), base.scope1n2,
      "scope1n2_decarb_simulate")
    // previous-year totals: shift the in-plan totals one year forward and
    // union the externally-supplied predecessor of the first year
    val prev = sc.scope1n2.unionByName(priorScope1n2)
      .select((col("year") + 1).as("year"), col("amount").as("amount_y"))
    val sbti = inYears(sc.scope1n2).withColumnRenamed("amount", "amount_x")
      .join(prev, Seq("year"), "left")
      .withColumn("amount", (col("amount_x") / col("amount_y") - 1) * 100)
      .select(col("year"), col("amount"))
      .withColumn("category", lit("scope1n2_decarb_simulate_sbti"))

    inYears(sc.location).withColumn("category", lit("scope2_location"))
      .unionByName(inYears(sc.market).withColumn("category", lit("scope2_market")))
      .unionByName(inYears(sc.scope1).withColumn("category", lit("scope1")))
      .unionByName(scope2Sim)
      .unionByName(scope1n2Sim)
      .unionByName(sbti)
  }
}
