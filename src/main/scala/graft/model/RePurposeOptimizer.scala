package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Relational.clipNonNeg

/** The FULL renewable-purchase optimizer job (reference:
  * Model/RE_purpose_optimizer.py) — the three-stage composition around the
  * greedy core that [[GreedyAllocator]] generalizes:
  *
  *   1. `greenStage` (ref :157-231): assemble per-site PPA headroom, roll up
  *      to areas, budget = clip(ai_total·PPA% − contracts), then the greedy
  *      price-ranked allocation WITH the reference's rank-1 cap: the
  *      cheapest area may take at most `chineseContractRate` (0.5) of the
  *      whole budget (:196-200). The rank loop collapses to one window pass
  *      (see below).
  *   2. `recStage` (ref :236-334): PPA and REC priced per area, ranked by
  *      carbon-adjusted price (price − carbon_coeff, :278-280), allocated
  *      in 1-MWh lots with the reference's cross-category gate — an area's
  *      REC row is skipped once its PPA row (or vice versa) has consumed
  *      the area's remaining capacity (:303-306 `_opposite`).
  *   3. `results` (ref :338-383): solar / green_elect / green_energy amount,
  *      rate and cost tables incl. the 全集團 (worldwide) rollup rows.
  *
  * Spark shape: every data-sized step (site-grain joins, area rollups,
  * totals) is distributed with broadcast dimensions. The stage-1 rank loop
  * has a closed form even with the rank-1 cap: take₁ = min(rate·B, cap₁),
  * and for i ≥ 2, takeᵢ = clamp((B − take₁) − Σ_{2≤j<i} capⱼ, 0, capᵢ) —
  * one cumulative-capacity window, no iteration. The stage-2 loop does NOT
  * admit that form (the opposite-category gate makes each take depend on
  * which EARLIER take happened, not just their sum), so it runs as a fold
  * over the collected area×category×year table — the same size-adaptive
  * call as Graph.connectedComponents' local path: that table is bounded by
  * (#areas × 2 × #years) ≈ 10² rows regardless of corpus size, while
  * everything upstream of it stays distributed.
  */
object RePurposeOptimizer {

  /** WIHK split-site and WMY plant-merge recodes (ref :134-137). */
  private val coefSiteRecode = Map(
    "WIHK1" -> "WIHK-1", "WIHK2" -> "WIHK-2", "WMYP1" -> "WMY", "WMYP2" -> "WMY")

  /** decarb_carbon_coef → (year, site, carbon_coeff): recode sites, mean per
    * (year, site), current+future years only (ref :127-139). */
  def carbonCoef(raw: DataFrame, nowYear: Int): DataFrame =
    raw.filter(col("year") >= nowYear)
      .withColumn("site", graft.operators.Relational.decode(
        col("site"), coefSiteRecode, col("site")))
      .groupBy(col("year"), col("site"))
      .agg(avg(col("amount")).as("carbon_coeff"))

  /** Per-site headroom: (ai − solar) · green_full_ratio/100, with the
    * reference's fills — missing solar→0, missing ratio→0, missing price→
    * max(price)+1 so unpriced sites rank last (ref :160-172). */
  private def siteMax(aiElect: DataFrame, solar: DataFrame,
                      priced: DataFrame): DataFrame = {
    val joined = aiElect
      .join(solar.drop("area"), Seq("site", "year"), "left")
      .join(priced, aiElect("site") === priced("p_site") &&
        aiElect("year") === priced("p_year"), "left")
      .drop("p_site", "p_year")
    // the null-price fill is max(price)+1 over the MERGED frame (ref :166),
    // i.e. over prices that matched a simulated site, not the price table
    val maxPrice = joined.agg(max(col("price")).as("__max_price"))
    joined
      .crossJoin(broadcast(maxPrice))
      .na.fill(0.0, Seq("solar_amount", "green_full_ratio"))
      .withColumn("price", coalesce(col("price"), col("__max_price") + 1))
      .drop("__max_price")
      .withColumn("site_maxamount",
        (col("amount") - col("solar_amount")) * col("green_full_ratio") / 100)
  }

  /** Closed-form greedy with the rank-1 budget cap: returns `df` +
    * price_rank + `takeCol`. Orders by `rankOn` ('first'-rank ties broken
    * by `tiebreak`), partitions by year. Public: m03 puts this form on the
    * oracle gate over the synthetic tables. */
  def cappedGreedy(df: DataFrame, rankOn: Column, budget: Column,
                   cap: Column, rank1Rate: Double, takeCol: String,
                   tiebreak: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col("year")).orderBy(rankOn.asc +: tiebreak.map(_.asc): _*)
    val prevW = w.rowsBetween(Window.unboundedPreceding, -1)
    val withRank = df
      .withColumn("price_rank", row_number().over(w))
      .withColumn("__cap", clipNonNeg(cap))
      .withColumn("__budget", clipNonNeg(budget))
    // rank-1 take, re-broadcast to every row of the year via a second window
    val take1 = least(col("__budget") * rank1Rate, col("__cap"))
    val yearW = Window.partitionBy(col("year"))
    withRank
      .withColumn("__take1",
        max(when(col("price_rank") === 1, take1).otherwise(lit(0.0))).over(yearW))
      .withColumn("__later_consumed",
        coalesce(sum(when(col("price_rank") >= 2, col("__cap"))).over(prevW), lit(0.0)))
      .withColumn(takeCol,
        when(col("price_rank") === 1, take1).otherwise(
          greatest(lit(0.0), least(col("__cap"),
            col("__budget") - col("__take1") - col("__later_consumed")))))
      .drop("__cap", "__budget", "__take1", "__later_consumed")
  }

  /** Stage 1 (ref :157-231): green-electricity (PPA) additions per (area,
    * year). `priced` = green_elect_simulate as (p_site, p_year, price);
    * `ppaTargetPct` = renewable_setting PPA rows (year, amount = percent).
    * Returns (area, year, green_contract_addition_ytm_amount). */
  def greenStage(aiElect: DataFrame, solar: DataFrame, priced: DataFrame,
                 greenContracts: DataFrame, ppaTargetPct: DataFrame,
                 chineseContractRate: Double = 0.5): DataFrame = {
    val site = siteMax(aiElect, solar, priced)
    // pandas groupby DROPS null group keys (an unmapped site has no area);
    // Spark keeps them — filter to match the reference's rollup
    val area = site.filter(col("area").isNotNull)
      .groupBy(col("year"), col("area"))
      .agg(sum(col("site_maxamount")).as("area_maxamount"),
        sum(col("amount")).as("ai_amount"), max(col("price")).as("price"))
      .join(broadcast(greenContracts), Seq("year", "area"), "left")
      .na.fill(0.0, Seq("contract_ytm_amount"))
      .withColumn("area_remain_maxamount",
        clipNonNeg(col("area_maxamount") - col("contract_ytm_amount")))
    val totals = area.groupBy(col("year"))
      .agg(sum(col("contract_ytm_amount")).as("contract_ytm_total"),
        sum(col("ai_amount")).as("ai_ytm_total"))
      .join(broadcast(ppaTargetPct.select(col("year"), col("amount").as("__pct"))),
        Seq("year"), "left")
      .withColumn("green_remain_ytm_total",
        clipNonNeg(col("ai_ytm_total") * col("__pct") / 100 - col("contract_ytm_total")))
      .select(col("year"), col("green_remain_ytm_total"))
    val allocated = cappedGreedy(
      area.join(broadcast(totals), Seq("year"), "left"),
      rankOn = col("price"), budget = col("green_remain_ytm_total"),
      cap = col("area_remain_maxamount"), rank1Rate = chineseContractRate,
      takeCol = "addition", tiebreak = Seq(col("area")))
    allocated.groupBy(col("area"), col("year"))
      .agg(sum(col("contract_ytm_amount") + col("addition"))
        .as("green_contract_addition_ytm_amount"))
  }

  /** One (area, category) row of the stage-2 allocation table. */
  private final case class RecRow(year: Int, area: String, category: String,
      solarAmount: Double, aiAmount: Double, price: Double, carbonCoeff: Double,
      greenAddition: Double, areaRemain: Double, recRemainTotal: Double,
      priceRank: Int)

  /** The reference's coupled rank-loop (ref :283-327), verbatim semantics:
    * 1-MWh (1000-unit) lots, rank 1 may take an UNfloored remainder tail
    * (:285 branch 2 — the reference quirk), later ranks are gated off once
    * the area's opposite-category row has consumed its capacity. Pure
    * function over the collected rows of one year, rank-ordered. */
  private def recLoop(rows: Seq[RecRow]): Map[(String, String), Double] = {
    def lot(x: Double): Double = math.floor(x / 1000) * 1000
    var total = 0.0
    var takes = Map.empty[(String, String), Double]
    rows.sortBy(_.priceRank).foreach { r =>
      val opp = takes.getOrElse((r.area, if (r.category == "PPA") "REC" else "PPA"), 0.0)
      val remain = r.recRemainTotal - total
      val take =
        if (r.priceRank == 1) {
          if (r.recRemainTotal < 1000) 0.0
          else if (r.recRemainTotal - lot(r.areaRemain) < 1000) r.recRemainTotal
          else lot(r.areaRemain)
        } else {
          if (remain < 1000 || r.areaRemain - opp <= 0) 0.0
          else if (remain - lot(r.areaRemain) < 1000) lot(remain)
          else lot(r.areaRemain)
        }
      total += take
      takes += (r.area, r.category) -> take
    }
    takes
  }

  /** Stage 2 (ref :236-334): PPA+REC allocation ranked by carbon-adjusted
    * price. `pricedPpa`/`pricedRec` = (p_site, p_year, price); `targetPct` =
    * renewable_setting target rows. Returns the area×category frame with
    * `rec_green_contract_addition_ytm_amount`. */
  def recStage(aiElect: DataFrame, solar: DataFrame, pricedPpa: DataFrame,
               pricedRec: DataFrame, coef: DataFrame, greenAdditions: DataFrame,
               targetPct: DataFrame, wvnDefaultCoeff: Double = 0.9239): DataFrame = {
    val spark = aiElect.sparkSession
    import spark.implicits._
    val priced = pricedPpa.withColumn("category", lit("PPA"))
      .unionByName(pricedRec.withColumn("category", lit("REC")))
    val site = siteMax(aiElect, solar, priced)
      .join(broadcast(coef), Seq("year", "site"), "left")
      .withColumn("carbon_coeff",
        when(col("carbon_coeff").isNull && col("site") === "WVN", wvnDefaultCoeff)
          .otherwise(col("carbon_coeff")))
    // pandas groupby DROPS null group keys: a site matching NO price row
    // carries a null category (the max+1 price fill), and an unmapped site
    // a null area — the reference's rollup silently excludes both; without
    // this filter a phantom null-category row would consume loop budget and
    // then vanish at the takes join (null never equals null)
    val area = site.filter(col("area").isNotNull && col("category").isNotNull)
      .groupBy(col("year"), col("area"), col("category"))
      .agg(sum(col("solar_amount")).as("solar_amount"),
        sum(col("site_maxamount")).as("area_maxamount"),
        sum(col("amount")).as("ai_amount"),
        max(col("price")).as("price"), avg(col("carbon_coeff")).as("carbon_coeff"))
      .join(broadcast(greenAdditions), Seq("year", "area"), "left")
      .na.fill(0.0, Seq("green_contract_addition_ytm_amount"))
      .withColumn("area_remain_maxamount", when(col("category") === "PPA",
          clipNonNeg(col("area_maxamount") - col("green_contract_addition_ytm_amount")))
        .otherwise(clipNonNeg(col("ai_amount") - col("solar_amount")
          - col("green_contract_addition_ytm_amount"))))
    // per-year totals over the by-VALUE distinct area rows — ported
    // verbatim from the reference's drop_duplicates (ref :311-313). Note
    // the shared quirk: if an area's PPA and REC rows ever disagree on
    // solar/ai (sites priced in only one category), BOTH rows survive the
    // value-dedup and the totals double-count, in the reference exactly as
    // here
    val totals = area.select(col("year"), col("area"), col("solar_amount"),
        col("ai_amount"), col("green_contract_addition_ytm_amount")).distinct()
      .groupBy(col("year"))
      .agg(sum(col("green_contract_addition_ytm_amount")).as("__add_total"),
        sum(col("ai_amount")).as("__ai_total"), sum(col("solar_amount")).as("__solar_total"))
      .join(broadcast(targetPct.select(col("year"), col("amount").as("__pct"))),
        Seq("year"), "left")
      .withColumn("rec_remain_ytm_total", clipNonNeg(
        col("__ai_total") * col("__pct") / 100 - col("__solar_total") - col("__add_total")))
      .select(col("year"), col("rec_remain_ytm_total"))
    val withTotals = area.join(broadcast(totals), Seq("year"), "left")
      .withColumn("__stand", col("price") - col("carbon_coeff"))
    // a row whose carbon coefficient is entirely missing has a null
    // adjusted price: pandas rank() gives NaN a NaN rank, so the
    // reference's rank-matched loop never allocates to it (ref :278-281) —
    // rank (and loop) only the rows with a real adjusted price
    val rankW = Window.partitionBy(col("year"))
      .orderBy(col("__stand").asc, col("area").asc, col("category").asc)
    val ranked = withTotals.filter(col("__stand").isNotNull)
      .withColumn("price_rank", row_number().over(rankW))
    // ---- the coupled loop runs on the collected tiny table (see Scaladoc) ----
    val rows = ranked.select(col("year").cast("int"), col("area"), col("category"),
        col("solar_amount"), col("ai_amount"), col("price"), col("carbon_coeff"),
        col("green_contract_addition_ytm_amount"), col("area_remain_maxamount"),
        col("rec_remain_ytm_total"), col("price_rank"))
      .as[(Int, String, String, Double, Double, Double, Double, Double, Double, Double, Int)]
      .collect()
      .map(t => RecRow(t._1, t._2, t._3, t._4, t._5, t._6, t._7, t._8, t._9, t._10, t._11))
    val takes = rows.groupBy(_.year).flatMap { case (y, rs) =>
      recLoop(rs.toSeq).map { case ((a, c), t) => (y, a, c) -> t }
    }
    val takesDf = takes.toSeq.map { case ((y, a, c), t) => (y, a, c, t) }
      .toDF("year", "area", "category", "rec_addition")
    withTotals.drop("__stand")
      .join(broadcast(takesDf), Seq("year", "area", "category"), "left")
      .na.fill(0.0, Seq("rec_addition"))
      .withColumn("rec_green_contract_addition_ytm_amount",
        when(col("category") === "PPA",
          col("rec_addition") + col("green_contract_addition_ytm_amount"))
          .otherwise(col("rec_addition")))
  }

  /** Stage 3 (ref :338-383): (rate, amount, cost) serving tables. Solar rows
    * price 0; PPA→green_elect, REC→green_energy with cost = amount·price/1000;
    * worldwide rollup rows labeled 全集團; rate = round(amount/ai·100, 1).
    * The solar rows and the worldwide ai denominator dedup by VALUE
    * (drop_duplicates, ref :339-341,364-366) — the same asymmetric-pricing
    * quirk documented at recStage's totals applies, verbatim. */
  def results(recFrame: DataFrame, stampTime: java.sql.Timestamp):
      (DataFrame, DataFrame, DataFrame) = {
    val solarRows = recFrame.select(col("area"), col("year"),
        col("solar_amount").as("amount"), col("ai_amount")).distinct()
      .withColumn("category", lit("solar"))
      .withColumn("price", lit(0.0))
      .withColumn("cost", col("amount") * col("price"))
    val ppaRec = recFrame.select(col("area"), col("year"),
        when(col("category") === "PPA", "green_elect").otherwise("green_energy")
          .as("category"),
        col("price"),
        col("rec_green_contract_addition_ytm_amount").as("amount"), col("ai_amount"))
      .distinct()
      .withColumn("cost", col("amount") * col("price") / 1000)
    val amounts = solarRows.unionByName(ppaRec)
    val ww = amounts.groupBy(col("year"), col("category"))
      .agg(sum(col("amount")).as("amount"), sum(col("cost")).as("cost"))
      .join(amounts.select(col("year"), col("area"), col("ai_amount")).distinct()
        .groupBy(col("year")).agg(sum(col("ai_amount")).as("ai_amount")), Seq("year"))
      .withColumn("area", lit("全集團"))
      .withColumn("price", lit(null).cast("double"))
    val all = amounts.unionByName(ww.select(amounts.columns.toIndexedSeq.map(col): _*))
    val stamp = lit(stampTime)
    val rate = all.select(col("area"), col("category"),
      round(col("amount") / col("ai_amount") * 100, 1).as("amount"), col("year"))
      .withColumn("last_update_time", stamp)
    val amount = all.select(col("area"), col("category"), col("amount"), col("year"))
      .withColumn("last_update_time", stamp)
    val cost = all.select(col("area"), col("category"), col("cost").as("amount"),
      col("year")).withColumn("last_update_time", stamp)
    (rate, amount, cost)
  }
}
