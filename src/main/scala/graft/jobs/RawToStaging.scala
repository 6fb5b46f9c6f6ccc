package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Clock

/** Spark-native port of the reference's raw→staging transforms, I/O-free:
  * jobs take input DataFrames and return the staging DataFrame, so tests
  * inject fixtures exactly the way the reference's unit tests patch
  * `pd_read_sql` (reference: tests/jobs_source_to_raw_test.py:12-55), and the
  * production wiring reads parquet/JDBC and writes via
  * [[graft.core.Sink.overwritePartitions]] (the S7 delete-then-append
  * refresh).
  */
object RawToStaging {

  /** The flagship slice (SURVEY.md §7.2): staging.electricity_decarb
    * (reference: jobs/raw_to_staging.py:921-977).
    *
    * Semantics preserved exactly, including the reference's quirks:
    *  - CSR-sourced electricity gets the esgi solar amount added via a
    *    left join on (site, period_start, type='CSR'); esgi-sourced rows
    *    keep their amount (solar null→0) — the 11/24 comment block;
    *  - YTM is a per-(year, site) running total ordered by month;
    *  - `cal_bo_site` (reference: jobs/raw_to_staging.py:14-59): inner-join
    *    filter to boundary sites, then EVERY detail row gets the literal
    *    bo='ALL', and the rollup branch re-aggregates by period with
    *    site='ALL' — summing amount AND the already-cumulative ytm_amount
    *    (pandas groupby().sum() sums every numeric column);
    *  - output columns (bo, site, amount, ytm_amount, period_start, unit,
    *    last_update_time) with unit='度'.
    *
    * @param electricityOrigin raw.electricity_total_decarb slice:
    *                          (site, amount, period_start, type)
    * @param renewSolar        raw.renewable_energy_decarb 光伏 slice:
    *                          (site, amount, period_start)
    * @param boundarySites     distinct boundary sites of raw.plant_mapping:
    *                          (site)
    */
  def electricityDecarb(electricityOrigin: DataFrame, renewSolar: DataFrame,
                        boundarySites: DataFrame, clock: Clock): DataFrame = {
    val origin = electricityOrigin
      .na.fill(0.0, Seq("amount"))
      .withColumnRenamed("amount", "amount_x")
    val solar = renewSolar
      .withColumn("type", lit("CSR"))
      .withColumnRenamed("amount", "amount_y")

    val joined = origin
      .join(broadcast(solar), Seq("site", "period_start", "type"), "left")
      .na.fill(0.0, Seq("amount_y"))
      .withColumn("amount", col("amount_x") + col("amount_y"))
      .select(col("site"), col("amount"), col("period_start"))

    // The reference cumsums in pandas row order, which leaves the running
    // total of same-(site, period) rows load-order-dependent. A distributed
    // engine needs a total order: tiebreak by amount so the result is
    // deterministic under any partitioning.
    val w = Window
      .partitionBy(year(col("period_start")), col("site"))
      .orderBy(col("period_start"), col("amount"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ytm = joined.withColumn("ytm_amount", sum(col("amount")).over(w))

    val rolled = calBoSite(ytm, boundarySites, extraKeys = Nil)

    rolled
      .select(col("bo"), col("site"), col("amount"), col("ytm_amount"),
        col("period_start"))
      .withColumn("unit", lit("度"))
      .withColumn("last_update_time",
        lit(java.sql.Timestamp.valueOf(clock.today.atStartOfDay())))
  }

  /** Port of `cal_bo_site` (reference: jobs/raw_to_staging.py:14-59) for any
    * extra category keys (category=0 → none, category=1 → Seq("category"),
    * category=2 → Seq("category1","category2")). */
  def calBoSite(data: DataFrame, boundarySites: DataFrame,
                extraKeys: Seq[String]): DataFrame = {
    val bounded = data
      .join(broadcast(boundarySites.select("site").distinct()), Seq("site"), "inner")
      .withColumn("bo", lit("ALL"))
    val groupKeys = (Seq("bo") ++ extraKeys :+ "period_start").map(col)
    val rollup = bounded
      .groupBy(groupKeys: _*)
      .agg(sum(col("amount")).as("amount"), sum(col("ytm_amount")).as("ytm_amount"))
      .withColumn("site", lit("ALL"))
    bounded.select(rollup.columns.toIndexedSeq.map(col): _*).unionByName(rollup)
  }

  import graft.operators.Relational.decode

  private def stamp(df: DataFrame, clock: Clock): DataFrame =
    df.withColumn("last_update_time",
      lit(java.sql.Timestamp.valueOf(clock.today.atStartOfDay())))

  /** Port of `cal_site` (reference: jobs/raw_to_staging.py:61-86): detail
    * rows, plus a plant='ALL' rollup grouped by (site, extraKeys,
    * period_start, meter_code, provider_name), plus a full copy of the
    * detail with site='ALL'. pandas `groupby` silently drops rows with a
    * null group key from the rollup branch (unmapped meters have null
    * site/provider), so the rollup filters those here too — the detail and
    * site='ALL' copies keep them, exactly like the reference. */
  def calSite(data: DataFrame, extraKeys: Seq[String]): DataFrame = {
    val keys = Seq("site") ++ extraKeys ++ Seq("period_start", "meter_code", "provider_name")
    val rollup = data
      .na.drop(keys)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("amount")).as("amount"), sum(col("ytm_amount")).as("ytm_amount"))
      .withColumn("plant", lit("ALL"))
    val siteAll = data.withColumn("site", lit("ALL"))
    data.select(rollup.columns.toIndexedSeq.map(col): _*)
      .unionByName(rollup)
      .unionByName(siteAll.select(rollup.columns.toIndexedSeq.map(col): _*))
  }

  /** The shared electric-bill preamble feeding the four green/grey slices
    * (reference: jobs/raw_to_staging.py:131-191): category2 decode, meter →
    * site/plant mapping with the 表燈營業用電價 tariff filter (null mappings
    * KEPT, as pandas `!=` keeps NaN), the WHC_ALL/WNH_ALL literal mapping
    * rows, month-start period, YTM per (year, meter, category1, category2),
    * provider mapping, and the `cal_site` three-grain union.
    *
    * @param electricBill    raw.electric_bill slice:
    *                        (meter_code, category1, category2, amount, year, month)
    * @param meterMapping    app.decarb_ww_site_elec_meter:
    *                        (site, plant, meter_code, elec_price_type)
    * @param providerMapping app.decarb_ww_meter_group:
    *                        (provider_name, meter_code)
    */
  def greenElectBase(electricBill: DataFrame, meterMapping: DataFrame,
                     providerMapping: DataFrame, clock: Clock): DataFrame = {
    val bill = electricBill
      .withColumn("category2", decode(col("category2"),
        Map("尖峰" -> "經常尖峰", "周六半尖峰" -> "週六半尖峰"), col("category2")))
    // tariff filter via the full meter mapping; unmapped meters survive
    val filtered = bill
      .join(broadcast(meterMapping.select("meter_code", "elec_price_type")),
        Seq("meter_code"), "left")
      .filter(col("elec_price_type").isNull ||
        col("elec_price_type") =!= "表燈營業用電價")
      .select("meter_code", "category1", "category2", "amount", "year", "month")
    val withPeriod = filtered
      .withColumn("period_start",
        make_date(col("year"), col("month"), lit(1)))
      .drop("year", "month")
      .withColumn("amount", col("amount").cast("double"))
    val w = Window
      .partitionBy(year(col("period_start")), col("meter_code"),
        col("category1"), col("category2"))
      .orderBy(col("period_start"), col("amount"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ytm = withPeriod.withColumn("ytm_amount", sum(col("amount")).over(w))

    val s = electricBill.sparkSession
    import s.implicits._
    val meterFull = meterMapping.select("site", "plant", "meter_code")
      .unionByName(Seq(("WHC", "WHC", "WHC_ALL"), ("WNH", "WNH", "WNH_ALL"))
        .toDF("site", "plant", "meter_code"))
    val providerFull = providerMapping.select("provider_name", "meter_code")
      .unionByName(Seq(("富威", "WHC_ALL"), ("康舒", "WNH_ALL"))
        .toDF("provider_name", "meter_code"))

    val mapped = ytm
      .join(broadcast(meterFull), Seq("meter_code"), "left")
      .join(broadcast(providerFull), Seq("meter_code"), "left")
    stamp(calSite(mapped, Seq("category1", "category2")), clock)
  }

  /** The four staging slices of the bill base: green_elect_contract (契約),
    * green_elect_price (計費), grey_elect (需量), green_elect_vol (轉供)
    * (reference: jobs/raw_to_staging.py:193-279). */
  def greenElectSlice(base: DataFrame, category1: String): DataFrame =
    base.filter(col("category1") === category1)
  def greenElectContract(base: DataFrame): DataFrame = greenElectSlice(base, "契約")
  def greenElectPrice(base: DataFrame): DataFrame = greenElectSlice(base, "計費")
  def greyElect(base: DataFrame): DataFrame = greenElectSlice(base, "需量")
  def greenElectVol(base: DataFrame): DataFrame = greenElectSlice(base, "轉供")

  /** staging.solar (reference: jobs/raw_to_staging.py:281-349): fillna(0),
    * YTM per (year, plant, category), site lookup. The reference loops two
    * calendar years re-running the same transform per year-window; since the
    * YTM partitions by year anyway, one plan over the whole window computes
    * identical rows (the caller scopes the input window / overwrite range).
    *
    * @param solarEnergy  raw.solar: (plant, category, amount, period_start)
    * @param plantMapping raw.plant_mapping distinct (site, plant) pairs
    *                     (plant_name AS plant)
    */
  def solar(solarEnergy: DataFrame, plantMapping: DataFrame,
            clock: Clock): DataFrame = {
    val filled = solarEnergy.na.fill(0.0, Seq("amount"))
    val w = Window
      .partitionBy(year(col("period_start")), col("plant"), col("category"))
      .orderBy(col("period_start"), col("amount"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ytm = filled.withColumn("ytm_amount", sum(col("amount")).over(w))
    stamp(ytm.join(broadcast(plantMapping), Seq("plant"), "left")
      .select(col("site"), col("plant"), col("category"), col("amount"),
        col("ytm_amount"), col("period_start")), clock)
  }

  /** Site-level rows × per-plant ratio table → plant-level amounts: the
    * WKS/XTRKS and WZS disaggregation move shared by solar_remain,
    * solar_other and elect_total (reference: jobs/raw_to_staging.py:377-407,
    * 511-528, 710-742). The ratio table carries one row per (plant,
    * period_start); the left join fans each site row out to its plants. */
  private def ratioSplit(rows: DataFrame, ratio: DataFrame,
                         site: String): DataFrame =
    rows.filter(col("site") === site)
      .join(broadcast(ratio.select("ratio", "plant", "period_start")
        .withColumn("site", lit(site))),
        Seq("site", "period_start"), "left")
      .withColumn("amount", col("amount") * col("ratio"))
      .select(col("plant"), col("period_start"), col("amount"))

  /** staging.solar_remain (reference: jobs/raw_to_staging.py:351-458):
    * WKS/XTRKS rows split by raw.fem_ratio_solar, WZS rows by
    * raw.solar_ratio, all other sites pass through as plants (WMI renamed
    * WMI-2), then fillna(0), YTM per (year, plant), site lookup.
    *
    * @param solarRemainRaw raw.solar_remain: (site, amount, period_start)
    * @param wksRatio       raw.fem_ratio_solar: (ratio, plant, period_start)
    * @param wzsRatio       raw.solar_ratio: (ratio, plant, period_start)
    */
  def solarRemain(solarRemainRaw: DataFrame, wksRatio: DataFrame,
                  wzsRatio: DataFrame, plantMapping: DataFrame,
                  clock: Clock): DataFrame = {
    val wks = ratioSplit(solarRemainRaw, wksRatio, "WKS/XTRKS")
    val wzs = ratioSplit(solarRemainRaw, wzsRatio, "WZS")
    val other = solarRemainRaw
      .filter(!col("site").isin("WZS", "WKS/XTRKS"))
      .withColumn("plant", decode(col("site"), Map("WMI" -> "WMI-2"), col("site")))
      .select(col("plant"), col("period_start"), col("amount"))
    val all = other.unionByName(wzs).unionByName(wks)
      .na.fill(0.0, Seq("amount"))
    val w = Window
      .partitionBy(year(col("period_start")), col("plant"))
      .orderBy(col("period_start"), col("amount"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ytm = all.withColumn("ytm_amount", sum(col("amount")).over(w))
    stamp(ytm.join(broadcast(plantMapping), Seq("plant"), "left")
      .select(col("site"), col("plant"), col("amount"), col("ytm_amount"),
        col("period_start")), clock)
  }

  /** staging.solar_other (reference: jobs/raw_to_staging.py:460-573): the
    * tree/fuel wide columns melt to a category column; WZS areas map to
    * plants via the TB/OB dictionary (unmapped areas drop, as pandas
    * pivot_table drops null index rows); WKS totals split by
    * raw.fem_ratio_solar; everything else passes site through as plant
    * (WMI → WMI-2). Then fillna(0), YTM per (year, plant, category), site
    * lookup.
    *
    * @param solarOtherRaw raw.solar_other:
    *                      (period_start, site, area, tree, fuel)
    */
  def solarOther(solarOtherRaw: DataFrame, wksRatio: DataFrame,
                 plantMapping: DataFrame, clock: Clock): DataFrame = {
    val areaDict = Map("TB2" -> "WZS-1", "OB1" -> "WZS-6",
      "TB3" -> "WZS-3", "TB5" -> "WZS-3")
    def melt(grouped: DataFrame): DataFrame = grouped
      .unpivot(Array(col("plant"), col("period_start")),
        Array(col("tree"), col("fuel")), "category", "amount")

    val wzs = melt(solarOtherRaw.filter(col("site") === "WZS")
      .withColumn("plant",
        decode(col("area"), areaDict, lit(null).cast("string")))
      .filter(col("plant").isNotNull)
      .groupBy(col("plant"), col("period_start"))
      .agg(sum(col("tree")).as("tree"), sum(col("fuel")).as("fuel")))
      .select("plant", "period_start", "amount", "category")

    val other = melt(solarOtherRaw.filter(!col("site").isin("WZS", "WKS"))
      .withColumn("plant", col("site"))
      .groupBy(col("plant"), col("period_start"))
      .agg(sum(col("tree")).as("tree"), sum(col("fuel")).as("fuel")))
      .withColumn("plant", decode(col("plant"), Map("WMI" -> "WMI-2"), col("plant")))
      .select("plant", "period_start", "amount", "category")

    val wksTotals = solarOtherRaw.filter(col("site") === "WKS")
      .groupBy(col("site"), col("period_start"))
      .agg(sum(col("tree")).as("tree"), sum(col("fuel")).as("fuel"))
      .unpivot(Array(col("site"), col("period_start")),
        Array(col("tree"), col("fuel")), "category", "amount")
    val wks = wksTotals
      .join(broadcast(wksRatio.select("ratio", "plant", "period_start")
        .withColumn("site", lit("WKS"))),
        Seq("site", "period_start"), "left")
      .withColumn("amount", col("amount") * col("ratio"))
      .select("plant", "period_start", "amount", "category")

    val all = other.unionByName(wzs).unionByName(wks)
      .na.fill(0.0, Seq("amount"))
    val w = Window
      .partitionBy(year(col("period_start")), col("plant"), col("category"))
      .orderBy(col("period_start"), col("amount"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ytm = all.withColumn("ytm_amount", sum(col("amount")).over(w))
    stamp(ytm.join(broadcast(plantMapping), Seq("plant"), "left")
      .select(col("site"), col("plant"), col("category"), col("amount"),
        col("ytm_amount"), col("period_start")), clock)
  }

  /** staging.solar_info (reference: jobs/raw_to_staging.py:575-668): a
    * snapshot table for the reporting month. WKS rows join the month's
    * fem_ratio_solar per plant (amount × ratio, period from the ratio row)
    * and re-site to XTRKS/WKS by plant; WZS and other sites pass through
    * with the literal reporting period. ytm_amount is the amount itself
    * (single-month snapshot).
    *
    * @param solarInfoRaw raw.solar_info: (site, plant, category, amount)
    * @param wksRatio     raw.fem_ratio_solar rows of the reporting month:
    *                     (ratio, plant, period_start)
    * @param periodStart  reporting month start (previous month of the clock)
    */
  def solarInfo(solarInfoRaw: DataFrame, wksRatio: DataFrame,
                periodStart: java.time.LocalDate, clock: Clock): DataFrame = {
    val wks = solarInfoRaw.filter(col("site") === "WKS")
      .drop("site")
      .join(broadcast(wksRatio.select("ratio", "plant", "period_start")),
        Seq("plant"), "left")
      .withColumn("amount", col("amount") * col("ratio"))
      .withColumn("ytm_amount", col("amount"))
      .withColumn("site",
        when(col("plant") === "XTRKS", "XTRKS").otherwise("WKS"))
      .select("plant", "category", "amount", "site", "period_start", "ytm_amount")
    def snapshot(df: DataFrame): DataFrame = df
      .withColumn("ytm_amount", col("amount"))
      .withColumn("period_start", lit(java.sql.Date.valueOf(periodStart)))
      .select("plant", "category", "amount", "site", "period_start", "ytm_amount")
    val other = snapshot(solarInfoRaw.filter(!col("site").isin("WKS", "WZS")))
    val wzs = snapshot(solarInfoRaw.filter(col("site") === "WZS"))
    stamp(wks.unionByName(other).unionByName(wzs), clock)
  }

  /** Keep only rows of the highest validated version — the reference's
    * scalar `MAX(version) WHERE validate` subquery (reference:
    * jobs/raw_to_staging.py:697,755). One aggregate + a 1-row broadcast;
    * no second scan of the table server-side. */
  def latestValidatedVersion(df: DataFrame): DataFrame = {
    val maxv = df.filter(col("validate") === true)
      .agg(max(col("version")).as("__maxv"))
    df.crossJoin(broadcast(maxv))
      .filter(col("version") === col("__maxv"))
      .drop("__maxv")
  }

  /** staging.elect_total (reference: jobs/raw_to_staging.py:670-843):
    * predict and actual slices of the latest validated
    * app.elect_target_month version, each ratio-split for WKS (by
    * raw.fem_ratio category='plant') and WZS (by raw.solar_ratio) with other
    * sites passing through as plants, unioned as category target/actual,
    * fillna(0), YTM per (year, plant, category), site lookup.
    *
    * @param electTargetMonth app.elect_target_month rows of the target year:
    *                         (site, month, amount, year, category, version, validate)
    * @param femRatioPlant    raw.fem_ratio where category='plant':
    *                         (ratio, plant, period_start)
    * @param wzsRatio         raw.solar_ratio: (ratio, plant, period_start)
    */
  def electTotal(electTargetMonth: DataFrame, femRatioPlant: DataFrame,
                 wzsRatio: DataFrame, plantMapping: DataFrame,
                 clock: Clock): DataFrame = {
    val latest = latestValidatedVersion(electTargetMonth)
      .filter(col("site") =!= "All")
      .withColumn("period_start", make_date(col("year"), col("month"), lit(1)))
    def slice(category: String, label: String): DataFrame = {
      val rows = latest.filter(col("category") === category)
        .select(col("site"), col("period_start"), col("amount"))
      val wks = ratioSplit(rows, femRatioPlant, "WKS")
      val wzs = ratioSplit(rows, wzsRatio, "WZS")
      val other = rows.filter(!col("site").isin("WZS", "WKS"))
        .withColumnRenamed("site", "plant")
        .select(col("plant"), col("period_start"), col("amount"))
      other.unionByName(wzs).unionByName(wks).withColumn("category", lit(label))
    }
    val total = slice("predict", "target").unionByName(slice("actual", "actual"))
      .na.fill(0.0, Seq("amount"))
    val w = Window
      .partitionBy(year(col("period_start")), col("plant"), col("category"))
      .orderBy(col("period_start"), col("amount"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ytm = total.withColumn("ytm_amount", sum(col("amount")).over(w))
    stamp(ytm.join(broadcast(plantMapping), Seq("plant"), "left")
      .select(col("site"), col("plant"), col("category"), col("amount"),
        col("ytm_amount"), col("period_start")), clock)
  }

  /** staging.provider_plant_list (reference: jobs/raw_to_staging.py:
    * 845-919): month-start period from year+month, YTM per (year, area,
    * site, provider).
    *
    * @param providerTarget app.provider_plant_list rows of the window:
    *                       (area, year, month, provider, site, amount)
    */
  def providerPlantList(providerTarget: DataFrame, clock: Clock): DataFrame = {
    val withPeriod = providerTarget
      .withColumn("period_start", make_date(col("year"), col("month"), lit(1)))
      .withColumn("amount", col("amount").cast("double"))
    val w = Window
      .partitionBy(col("year"), col("area"), col("site"), col("provider"))
      .orderBy(col("period_start"), col("amount"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stamp(withPeriod
      .withColumn("ytm_amount", sum(col("amount")).over(w))
      .select(col("area"), col("provider"), col("site"), col("amount"),
        col("period_start"), col("ytm_amount")), clock)
  }

  /** staging.renewable_energy_decarb (reference: jobs/raw_to_staging.py:
    * 982-1034): decode 光伏/綠證/綠電 to english categories, normalize the
    * WKS-P6* site renames, YTM per (year, site, category), cal_bo_site with
    * one category key. */
  def renewableEnergyDecarb(renewableEnergy: DataFrame, boundarySites: DataFrame,
                            clock: Clock): DataFrame = {
    val decoded = renewableEnergy
      .withColumn("category", decode(col("category"),
        Map("光伏" -> "solar_energy", "綠證" -> "green_energy",
          "綠電" -> "green_electricity"), col("category")))
      .withColumn("site", decode(col("site"),
        Map("WKS-P6A" -> "WKS-6A", "WKS-P6B" -> "WKS-6B", "WKS-P6" -> "WKS-6"),
        col("site")))
      .na.fill(0.0, Seq("amount"))
    val w = Window
      .partitionBy(year(col("period_start")), col("site"), col("category"))
      .orderBy(col("period_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ytm = decoded.withColumn("ytm_amount", sum(col("amount")).over(w))
    calBoSite(ytm, boundarySites, extraKeys = Seq("category"))
      .select(col("bo"), col("site"), col("category"), col("amount"),
        col("ytm_amount"), col("period_start"))
      .withColumn("unit", lit("度"))
      .withColumn("last_update_time",
        lit(java.sql.Timestamp.valueOf(clock.today.atStartOfDay())))
  }
}
