package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Scope-1/scope-2 carbon-emission computation, the reference's
  * staging→app calculation core (reference: jobs/staging_cal.py:41-107).
  *
  * Semantics preserved:
  *  - scope-2 (market / location): per (site, period) electricity minus the
  *    applicable renewable offset, times the site's carbon coefficient,
  *    /1000 to tonnes (:45-53), summed over sites per period;
  *  - missing offsets and coefficients are zero-filled (`fillna(0)`, :46);
  *  - coefficient decode of site aliases before join (:35-37);
  *  - scope-1 is estimated from scope-2 location via the fixed factor
  *    `x * 0.06/(1-0.06)` (:95-99);
  *  - scope1n2 = scope-1 + scope-2-market, re-aggregated per period (:101-104).
  */
object StagingCal {

  /** (site, period_start, amount, ytm_amount) × offsets × coefficients →
    * per-period emission totals in tonnes. */
  def scope2(elect: DataFrame, renewableOffset: DataFrame, coef: DataFrame): DataFrame = {
    val offset = renewableOffset
      .select(col("site"), col("period_start"),
        col("amount").as("off_amount"), col("ytm_amount").as("off_ytm"))
    elect
      .join(offset, Seq("site", "period_start"), "left")
      .join(broadcast(coef.select(col("site"), col("coef")).distinct()),
        Seq("site"), "left")
      .na.fill(0.0, Seq("off_amount", "off_ytm", "coef"))
      .withColumn("em_amount",
        (col("amount") - col("off_amount")) * col("coef") / 1000.0)
      .withColumn("em_ytm",
        (col("ytm_amount") - col("off_ytm")) * col("coef") / 1000.0)
      .groupBy(col("period_start"))
      .agg(sum(col("em_amount")).as("amount"), sum(col("em_ytm")).as("ytm_amount"))
  }

  /** Scope-1 estimate from the location-based scope-2 (fixed 6% factor). */
  def scope1(scope2Location: DataFrame): DataFrame = {
    val f = lit(0.06) / (lit(1.0) - lit(0.06))
    scope2Location
      .withColumn("amount", col("amount") * f)
      .withColumn("ytm_amount", col("ytm_amount") * f)
  }

  /** scope1 + scope2-market per period. */
  def scope1n2(scope1All: DataFrame, scope2Market: DataFrame): DataFrame =
    scope1All.unionByName(scope2Market)
      .groupBy(col("period_start"))
      .agg(sum(col("amount")).as("amount"), sum(col("ytm_amount")).as("ytm_amount"))

  /** Reduction percentage versus a reference series (reference:
    * jobs/elect_target_etl.py:226-240 decarb simulate — `(current - base) /
    * base` per period; also jobs/staging_cal.py:181-184 YoY%). Zero/null
    * baselines yield null, the replace(0, nan) idiom. */
  def reductionPct(current: DataFrame, baseline: DataFrame): DataFrame = {
    val base = baseline.select(col("period_start"),
      col("amount").as("base_amount"))
    current.join(base, Seq("period_start"), "left")
      .withColumn("reduction_pct",
        graft.functions.Money.safeDiv(
          col("amount") - col("base_amount"), col("base_amount")))
      .select(col("period_start"), col("amount"), col("base_amount"),
        col("reduction_pct"))
  }

  /** Carbon-coefficient preprocessing (reference :29-38): decode site
    * aliases, dedupe. */
  def coefPreprocess(coef: DataFrame, siteAliases: Map[String, String]): DataFrame =
    coef.withColumn("site",
        Relational.decode(col("site"), siteAliases, col("site")))
      .distinct()

  /** The four scope series of one slice (reference `scope_cal_current_year`
    * :109-139, identical to `scope_cal_target_current` :142-172): renewables
    * union into the market offset (solar + certificates + green
    * electricity) and the location offset (solar + green electricity), then
    * scope-2 at both bases, the scope-1 estimate, and their sum. */
  final case class ScopeSeries(market: DataFrame, location: DataFrame,
                               scope1All: DataFrame, scope1n2All: DataFrame)

  def scopeCalCurrentYear(elect: DataFrame, solar: DataFrame,
                          greenEnergy: DataFrame, greenElect: DataFrame,
                          coef: DataFrame): ScopeSeries = {
    def renw(parts: Seq[DataFrame]) = parts.reduce(_ unionByName _)
      .groupBy(col("site"), col("period_start"))
      .agg(sum(col("amount")).as("amount"), sum(col("ytm_amount")).as("ytm_amount"))
    val market = scope2(elect, renw(Seq(solar, greenEnergy, greenElect)), coef)
    val location = scope2(elect, renw(Seq(solar, greenElect)), coef)
    val s1 = scope1(location)
    ScopeSeries(market, location, s1, scope1n2(s1, market))
  }

  /** Decarb-simulate percentage of a series against a base series
    * (reference `cal_scope_simulate` :175-195 cross form /
    * `cal_scope_simulate_fix` :198-218 keyed form): (x/y − 1)·100 for both
    * the month amount and the YTM, re-dated to the reporting period. */
  def calScopeSimulate(current: DataFrame, base: DataFrame,
                       periodStart: java.sql.Date,
                       keyed: Boolean = false): DataFrame = {
    val left = current
      .withColumnRenamed("amount", "amount_x")
      .withColumnRenamed("ytm_amount", "ytm_x")
    val right = base.select(
      (if (keyed) Seq(col("period_start")) else Nil) ++
        Seq(col("amount").as("amount_y"), col("ytm_amount").as("ytm_y")): _*)
    val joined =
      if (keyed) left.join(right, Seq("period_start"), "left")
      else left.crossJoin(broadcast(right))
    joined
      .withColumn("period_start", lit(periodStart))
      .withColumn("amount", (col("amount_x") / col("amount_y") - 1) * 100)
      .withColumn("ytm_amount", (col("ytm_x") / col("ytm_y") - 1) * 100)
      .select(col("period_start"), col("amount"), col("ytm_amount"))
  }

  /** Stack labeled (period_start, amount, ytm_amount) series into the
    * decarb_elec_overview long layout (reference :591-601 actual side,
    * :875-891 target side): one row family per category, typed, with
    * year/month split from the period. */
  def stackOverview(parts: Seq[(DataFrame, String)], typ: String): DataFrame =
    parts.map { case (df, cat) =>
      df.select(col("period_start"), col("amount"), col("ytm_amount"))
        .withColumn("category", lit(cat))
    }.reduce(_ unionByName _)
      .withColumn("type", lit(typ))
      .withColumn("year", year(col("period_start")).cast("int"))
      .withColumn("month", month(col("period_start")).cast("int"))
      .select(col("amount"), col("ytm_amount"), col("category"), col("type"),
        col("year"), col("month"))

  /** The certificate (REC) target demand gap (reference :666-712):
    * electricity target × total renewable ratio − solar target − green
    * electricity target, per site (`perSite = true`) or rolled to the
    * period total first. `totalRatio` is the 1-row
    * sum(REC+PPA+solar)/100 aggregate (:664). */
  def greenEnergyTargetGap(electTarget: DataFrame, solarTarget: DataFrame,
                           grelectTarget: DataFrame, totalRatio: DataFrame,
                           perSite: Boolean): DataFrame = {
    val keys = if (perSite) Seq("site", "period_start") else Seq("period_start")
    def prep(df: DataFrame, a: String, y: String) = {
      val grouped =
        if (perSite) df
        else df.groupBy(col("period_start"))
          .agg(sum(col("amount")).as("amount"), sum(col("ytm_amount")).as("ytm_amount"))
      grouped.select(keys.map(col) :+ col("amount").as(a) :+
        col("ytm_amount").as(y): _*)
    }
    prep(electTarget, "amount_x", "ytm_x")
      .join(prep(solarTarget, "amount_y", "ytm_y"), keys, "left")
      .join(prep(grelectTarget, "amount_z", "ytm_z"), keys, "left")
      .crossJoin(broadcast(totalRatio.select(col("total_ratio"))))
      .na.fill(0.0)
      .withColumn("amount", col("amount_x") * col("total_ratio") -
        col("amount_y") - col("amount_z"))
      .withColumn("ytm_amount", col("ytm_x") * col("total_ratio") -
        col("ytm_y") - col("ytm_z"))
      .select((keys.map(col) :+ col("amount") :+ col("ytm_amount")): _*)
  }

  /** PPA target series: the electricity target scaled by the PPA ratio
    * scalar (reference :779-785 — the per-provider melt is commented out
    * there in favor of this ratio form). */
  def ppaTarget(electTargetAll: DataFrame, ppaRatio: DataFrame): DataFrame =
    electTargetAll
      .crossJoin(broadcast(ppaRatio.select(col("ratio"))))
      .withColumn("amount", col("amount") * col("ratio"))
      .withColumn("ytm_amount", col("ytm_amount") * col("ratio"))
      .select(col("period_start"), col("amount"), col("ytm_amount"))
      .withColumn("category", lit("PPA"))

  /** Energy-saving wide-month melt (reference `cal_energy_saving`
    * :258-283): (year, jan..dec) rows to monthly periods, summed per
    * period, YTM per year, labeled energy_efficiency with the given type.
    * Feeds the energy_efficiency overview branch (:924-984). */
  def calEnergySaving(df: DataFrame, category: String): DataFrame = {
    val monthNames = Seq("jan", "feb", "mar", "apr", "may", "jun",
      "jul", "aug", "sep", "oct", "nov", "dec")
    val monthNum = monthNames.zipWithIndex.map { case (m, i) => m -> (i + 1) }.toMap
    val melted = df.unpivot(Array(col("year")), monthNames.map(col).toArray,
        "month_name", "amount")
      .withColumn("month", monthNames.foldLeft(lit(null).cast("int")) {
        case (acc, m) => when(col("month_name") === m, monthNum(m)).otherwise(acc)
      })
      .withColumn("period_start",
        make_date(col("year"), col("month"), lit(1)))
    val summed = melted.groupBy(col("period_start"))
      .agg(sum(col("amount")).as("amount"))
    Relational.ytm(
        summed.withColumn("__yr", year(col("period_start"))),
        Seq("__yr"), "period_start", "amount")
      .drop("__yr")
      .withColumn("category", lit("energy_efficiency"))
      .withColumn("type", lit(category))
  }

  /** app.green_elec_pre_contracts refresh (reference :288-385): yearly
    * transfer volumes per provider, area-mapped, merged onto the existing
    * contract rows — the net effect is a timestamp refresh of the contract
    * rows keyed by (provider, area); the computed ytm_amount is assigned
    * and then dropped from the projection in the reference (dead write,
    * not ported).
    *
    * `green_elec_type` is the Postgres ARRAY column the reference filters
    * with `'光電' = ALL(green_elec_type)` (staging_cal.py:336-337): keep
    * rows whose EVERY element is the target type. Modeled as
    * `ArrayType(StringType)` + `forall`, which reproduces Postgres `= ALL`
    * semantics exactly — an empty array passes (vacuous truth), a NULL
    * array yields NULL and is filtered out.
    *
    * @param greenVol      staging.green_elect_vol year window:
    *                      (site, plant, provider_name, category1, amount)
    * @param areaMapping   app.decarb_ww_meter_group (provider_name, area)
    * @param greenContract app.green_elec_pre_contracts, ALL rows:
    *                      (provider_name, contract_ytm_amount, year, area,
    *                      green_elec_type ARRAY<STRING>, contract_price)
    * @param elecType      the `= ALL` target (reference hardcodes 光電)
    */
  def greenElecPreContracts(greenVol: DataFrame, areaMapping: DataFrame,
                            greenContract: DataFrame,
                            clock: graft.core.Clock,
                            elecType: String = "光電"): DataFrame = {
    val vol = greenVol
      .filter(col("category1") === "轉供" && col("site") =!= "ALL" &&
        col("plant") =!= "ALL")
      .groupBy(col("provider_name")).agg(sum(col("amount")).as("amount"))
      .join(broadcast(areaMapping.select("provider_name", "area").distinct()),
        Seq("provider_name"), "left")
    greenContract
      // reference: WHERE year = '{year}' AND '光電' = ALL(green_elec_type)
      .filter(col("year").cast("int") === lit(clock.today.getYear) &&
        forall(col("green_elec_type"), e => e === lit(elecType)))
      .join(vol.select("provider_name", "area", "amount"),
        Seq("provider_name", "area"), "left")
      .select(col("provider_name"), col("contract_ytm_amount"), col("year"),
        col("area"), col("green_elec_type"), col("contract_price"))
      .withColumn("last_update_time",
        lit(java.sql.Timestamp.valueOf(clock.today.atStartOfDay())))
  }
}
