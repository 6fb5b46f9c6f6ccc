package graft.jobs

import java.sql.{Date => SqlDate}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Clock, DecarbDate, Sink}

/** The reference's full cron batch DAG (reference: main.py:29-113) as one
  * ordered [[Pipeline.Job]] list over the parquet medallion warehouse
  * (`base/{raw,staging,app}/<table>`): ESGI + CSR + meter sources → raw,
  * data repair, the twelve raw→staging tables, the serving tables, scope
  * math, decarb path, quarterly green-energy overview, source status, the
  * transfer suggestion, and the MACC summary — in the reference's exact
  * order, with its error-isolation contract (a failed step is reported and
  * the DAG continues, main.py:118-125).
  *
  * Every write is an idempotent partition overwrite (or keyed
  * [[Sink.overwriteWhere]] where a source owns only a slice of a shared raw
  * table) — the S7 delete-then-append semantics. Each step composes the
  * spec-tested job transforms; nothing here contains transform logic.
  */
object MainDag {

  private val electCats = Seq("總用電度數")
  private val renewCats = Seq("綠電電量", "購買綠證電量", "自建自用電量")

  def jobs(base: String, clock: Clock): Seq[Pipeline.Job] = {
    def rd(s: SparkSession, layer: String, table: String): DataFrame =
      Warehouse.read(s, base, layer, table)
    def wr(df: DataFrame, layer: String, table: String): Unit =
      Sink.overwritePartitions(df, Warehouse.path(base, layer, table),
        Seq("period_start"))
    def wrWhere(df: DataFrame, layer: String, table: String,
                partitionCols: Seq[String], matches: Column): Unit =
      Sink.overwriteWhere(df, Warehouse.path(base, layer, table),
        Warehouse.schema(layer, table), partitionCols, matches)
    /** a source that owns one `type` slice of a shared raw table */
    def wrSlice(df: DataFrame, layer: String, table: String, typ: String): Unit =
      wrWhere(df.withColumn("type", lit(typ)), layer, table, Seq("period_start"),
        col("type") === typ)

    val month = DecarbDate.previousMonthWindow(clock)._1
    val monthDate = SqlDate.valueOf(month)
    val year = clock.today.getYear
    val qw = DecarbDate.reportingQuarters(clock).last
    def plantSite(s: SparkSession) =
      rd(s, "raw", "plant_mapping").select(col("plant"), col("site")).distinct()

    Seq(
      // ---- source → raw (main.py:31-52) ----
      Pipeline.Job("source_to_raw:esgi2raw", { s =>
        val esgi = rd(s, "raw", "wzs_esgi_environment_indicator_item")
          .filter(!col("plant").isin("WCD", "WZS", "WKS"))
        val elect = WzsEsgiEtl.categoryGroup(
            WzsEsgiEtl.preprocess(esgi, scaleBy = 1000.0), electCats)
          .join(broadcast(plantSite(s)), Seq("plant"))
          .groupBy(col("site"), col("period_start"))
          .agg(sum(col("amount")).as("amount"))
          .withColumn("unit", lit("度"))
        wrSlice(elect, "raw", "electricity_total_decarb", "ESGI")
        val renew = WzsEsgiEtl.preprocess(esgi)
          .filter(col("data_name").isin(renewCats: _*))
          .withColumnRenamed("data_name", "category2")
          .join(broadcast(plantSite(s)), Seq("plant"))
          .groupBy(col("site"), col("category2"), col("period_start"))
          .agg(sum(col("amount")).as("amount"))
          .withColumn("category1", lit("綠色能源"))
          .withColumn("unit", lit("度"))
        wrSlice(renew, "raw", "renewable_energy_decarb", "ESGI")
      }),
      Pipeline.Job("source_to_raw:office2raw", { s =>
        val office = CsrEtl.electricity(
          rd(s, "raw", "electricity_backstage_office"),
          rd(s, "raw", "wzks_office_mirror"))
        wrSlice(office.drop("type"), "raw", "electricity_total_decarb", "office")
      }),
      Pipeline.Job("source_to_raw:esgi2solar", { s =>
        // raw.solar grain: (category='actual', plant, period_start, amount)
        // (reference: jobs/wzsesgi_etl.py:184-230)
        val esgi = rd(s, "raw", "wzs_esgi_environment_indicator_item")
          .filter(!col("plant").isin("WCD", "WZS", "WKS"))
        val solar = WzsEsgiEtl.categoryGroup(
            WzsEsgiEtl.preprocess(esgi), Seq("自建自用電量"))
          .filter(col("amount") > 0)
          .withColumn("category", lit("actual"))
        wrSlice(solar.select(col("category"), col("plant"),
          col("period_start"), col("amount")), "raw", "solar", "ESGI")
      }),
      Pipeline.Job("source_to_raw:fem_ratio", { s =>
        wr(SourceToRaw.femRatio(rd(s, "raw", "wks_mfg_fem_dailypower"),
          plantSite(s), monthDate), "raw", "fem_ratio")
      }),
      Pipeline.Job("source_to_raw:fem_ratio_solar", { s =>
        wr(SourceToRaw.femRatioSolar(rd(s, "raw", "wks_mfg_fem_dailypower"),
          plantSite(s), monthDate, clock), "raw", "fem_ratio_solar")
      }),
      Pipeline.Job("source_to_raw:solar_ratio", { s =>
        wr(SourceToRaw.solarRatio(rd(s, "raw", "renewable_energy_decarb"),
          monthDate, clock), "raw", "solar_ratio")
      }),
      Pipeline.Job("source_to_raw:csr_replace:electricity", { s =>
        val csr = CsrEtl.electricity(
          rd(s, "raw", "electricity_backstage_update"),
          rd(s, "raw", "wzks_csr_mirror"))
        wrSlice(csr.drop("type"), "raw", "electricity_total_decarb", "CSR")
      }),
      Pipeline.Job("source_to_raw:csr_replace:renewable", { s =>
        val csr = CsrEtl.renewable(
          rd(s, "raw", "whq_esgcsrdatabase_view_csrindicatordetail_all"))
        wrSlice(csr.drop("type"), "raw", "renewable_energy_decarb", "CSR")
      }),

      // ---- data repair (main.py:54-62) ----
      Pipeline.Job("fix_data:fix_raw:renewable", { s =>
        val raw = rd(s, "raw", "renewable_energy_decarb")
        val prev = SqlDate.valueOf(month.minusMonths(6))
        val fixed = Seq("光伏", "綠電", "綠證").map { cat =>
          FixData.fixRaw(
            raw.filter(col("category2") === cat &&
              col("period_start") === lit(monthDate)),
            raw.filter(col("category2") === cat &&
              col("period_start") === lit(prev)),
            monthDate)
        }.reduce(_ unionByName _)
        wrWhere(fixed, "raw", "renewable_energy_decarb", Seq("period_start"),
          col("period_start") === lit(monthDate) &&
            col("category2").isin("光伏", "綠電", "綠證"))
      }),
      Pipeline.Job("fix_data:fix_raw_elect_decarb", { s =>
        val raw = rd(s, "raw", "electricity_total_decarb")
        val prev = SqlDate.valueOf(month.minusMonths(6))
        val fixed = FixData.fixRaw(
          raw.filter(col("period_start") === lit(monthDate)),
          raw.filter(col("period_start") === lit(prev)), monthDate)
        wrWhere(fixed, "raw", "electricity_total_decarb", Seq("period_start"),
          col("period_start") === lit(monthDate))
      }),

      // ---- raw → staging, twelve tables (main.py:64-81) ----
      Pipeline.Job("raw_to_staging:electricity_decarb", { s =>
        wr(RawToStaging.electricityDecarb(
          rd(s, "raw", "electricity_total_decarb"),
          rd(s, "raw", "renewable_energy_decarb")
            .filter(col("category2") === "光伏"),
          rd(s, "raw", "boundary_sites"), clock),
          "staging", "electricity_decarb")
      }),
      Pipeline.Job("raw_to_staging:renewable_energy_decarb", { s =>
        wr(RawToStaging.renewableEnergyDecarb(
          rd(s, "raw", "renewable_energy_decarb")
            .withColumnRenamed("category2", "category"),
          rd(s, "raw", "boundary_sites"), clock),
          "staging", "renewable_energy_decarb")
      }),
      Pipeline.Job("raw_to_staging:solar", { s =>
        wr(RawToStaging.solar(rd(s, "raw", "solar"), plantSite(s), clock),
          "staging", "solar")
      }),
      Pipeline.Job("raw_to_staging:solar_remain", { s =>
        wr(RawToStaging.solarRemain(rd(s, "raw", "solar_remain"),
          rd(s, "raw", "fem_ratio_solar"), rd(s, "raw", "solar_ratio"),
          plantSite(s), clock), "staging", "solar_remain")
      }),
      Pipeline.Job("raw_to_staging:solar_other", { s =>
        wr(RawToStaging.solarOther(rd(s, "raw", "solar_other"),
          rd(s, "raw", "fem_ratio_solar"), plantSite(s), clock),
          "staging", "solar_other")
      }),
      Pipeline.Job("raw_to_staging:solar_info", { s =>
        wr(RawToStaging.solarInfo(rd(s, "raw", "solar_info"),
          rd(s, "raw", "fem_ratio_solar")
            .filter(col("period_start") === lit(monthDate)),
          month, clock), "staging", "solar_info")
      }),
      Pipeline.Job("raw_to_staging:green_elect_slices", { s =>
        val bill = RawToStaging.greenElectBase(
          rd(s, "raw", "green_electric_bill"),
          rd(s, "raw", "meter_mapping"),
          rd(s, "raw", "provider_mapping"), clock)
        wr(RawToStaging.greenElectPrice(bill), "staging", "green_elect_price")
        wr(RawToStaging.greenElectVol(bill), "staging", "green_elect_vol")
        wr(RawToStaging.greenElectContract(bill), "staging", "green_elect_contract")
        wr(RawToStaging.greyElect(bill), "staging", "grey_elect")
      }),
      Pipeline.Job("raw_to_staging:elect_total", { s =>
        wr(RawToStaging.electTotal(rd(s, "app", "elect_target_month"),
          rd(s, "raw", "fem_ratio"), rd(s, "raw", "solar_ratio"),
          plantSite(s), clock), "staging", "elect_total")
      }),
      Pipeline.Job("raw_to_staging:provider_plant_list", { s =>
        wr(RawToStaging.providerPlantList(
          rd(s, "raw", "provider_target"), clock),
          "staging", "provider_plant_list")
      }),

      // ---- staging → app serving tables (main.py:83-95) ----
      Pipeline.Job("staging_to_app:green_elec_transfer_account", { s =>
        wr(StagingToApp.greenElecTransferAccount(
          rd(s, "staging", "green_elect_vol"),
          rd(s, "staging", "green_elect_price"),
          rd(s, "raw", "meter_mapping"), rd(s, "raw", "bill_meter"),
          rd(s, "raw", "bill_base"), rd(s, "raw", "bill_summer"),
          rd(s, "staging", "green_elect_contract"),
          rd(s, "raw", "area_mapping"), rd(s, "raw", "meter_group"),
          rd(s, "raw", "meter_group_names"), month,
          java.sql.Timestamp.valueOf(clock.today.atStartOfDay), clock),
          "app", "green_elec_transfer_account")
      }),
      Pipeline.Job("staging_to_app:solar_energy_overview", { s =>
        wr(StagingToApp.solarEnergyOverview(
          rd(s, "staging", "solar"), rd(s, "staging", "solar_remain"),
          rd(s, "staging", "solar_info"), rd(s, "staging", "solar_other"),
          rd(s, "staging", "elect_total"), clock),
          "app", "solar_energy_overview")
      }),
      Pipeline.Job("staging_to_app:green_elect_overview", { s =>
        wr(StagingToApp.greenElectOverview(
          rd(s, "staging", "provider_plant_list"),
          rd(s, "staging", "elect_total"),
          rd(s, "staging", "electricity_decarb"),
          rd(s, "staging", "green_elect_vol"),
          rd(s, "app", "elect_target_year"),
          rd(s, "app", "elect_target_year_all"),
          rd(s, "raw", "green_elect_price_year"),
          rd(s, "raw", "carbon_coef"), rd(s, "raw", "area_mapping"),
          month, clock), "app", "green_elect_overview")
      }),
      Pipeline.Job("staging_cal:green_elec_pre_contracts", { s =>
        // self-refresh: the reference reads the contract rows from
        // app.green_elec_pre_contracts itself with the array predicate
        // '光電' = ALL(green_elec_type) (staging_cal.py:336-337; the
        // filter lives inside greenElecPreContracts over the
        // ARRAY<STRING>-typed column), then deletes the matching
        // (year, provider) window and appends the refreshed rows with an
        // empty-input guard (staging_cal.py:358-375) — the keyed
        // delete-then-append, here as overwriteWhere on year partitions
        // fresh warehouse: no contract table yet means no rows to refresh —
        // the reference's len(...)==0 guard fires and the job is a no-op
        // (the table is seeded externally, never created by this job)
        val contracts =
          try rd(s, "app", "green_elec_pre_contracts")
            .drop("last_update_time").localCheckpoint() // materialize before self-overwrite
          catch {
            case e: org.apache.spark.sql.AnalysisException if Sink.pathMissing(e) =>
              s.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
                Warehouse.schema("app", "green_elec_pre_contracts"))
                .drop("last_update_time")
          }
        val refreshed = StagingCal.greenElecPreContracts(
          rd(s, "staging", "green_elect_vol"), rd(s, "raw", "area_mapping"),
          contracts, clock).localCheckpoint()
        val keys = refreshed.select(col("year"), col("provider_name"))
          .distinct().collect() // contract dimension: bounded, like the reference's tuple(year)
        if (keys.nonEmpty) {
          val years = keys.map(_.get(0)).distinct.toSeq
          val provs = keys.map(_.get(1)).distinct.toSeq
          wrWhere(refreshed, "app", "green_elec_pre_contracts", Seq("year"),
            col("year").isin(years: _*) &&
              col("provider_name").isin(provs: _*) &&
              forall(col("green_elec_type"), e => e === lit("光電")))
        }
      }),

      // ---- scope math + targets (main.py:97-102) ----
      Pipeline.Job("staging_cal:decarb_elec_overview", { s =>
        val renew = rd(s, "staging", "renewable_energy_decarb")
        val series = StagingCal.scopeCalCurrentYear(
          rd(s, "staging", "electricity_decarb"),
          renew.filter(col("category2") === "光伏"),
          renew.filter(col("category2") === "綠證"),
          renew.filter(col("category2") === "綠電"),
          StagingCal.coefPreprocess(rd(s, "raw", "carbon_coef"),
            Map("WIHK1" -> "WIHK", "WIHK2" -> "WIHK")))
        wr(StagingCal.stackOverview(Seq(
          series.market -> "scope2_market", series.location -> "scope2_location",
          series.scope1All -> "scope1", series.scope1n2All -> "scope1n2"), "actual"),
          "app", "decarb_elec_overview")
      }),
      Pipeline.Job("elect_target_etl:decarb_renew_setting", { s =>
        val setting = rd(s, "raw", "renewable_setting")
        wr(ElectTargetEtl.decarbRenewSetting(
            rd(s, "raw", "carbon_coef"),
            ElectTargetEtl.latestSimulate(rd(s, "app", "decarb_elect_simulate")),
            setting,
            ElectTargetEtl.baseScopeFromOverview(
              rd(s, "app", "decarb_elec_overview_base")),
            rd(s, "app", "prior_scope1n2"),
            (year to year + 7))
          .withColumn("period_start", make_date(col("year"), lit(1), lit(1))),
          "app", "decarb_renew_setting")
      }),
      Pipeline.Job("decarb_path_etl", { s =>
        wr(DecarbPath.decarbPath(
            rd(s, "app", "decarb_elect_simulate"),
            DecarbPath.decodeCoefSites(rd(s, "raw", "carbon_coef")),
            rd(s, "raw", "decarb_ratios"), year)
          .withColumn("period_start", make_date(col("year"), lit(1), lit(1))),
          "app", "decarb_path")
      }),

      // ---- quarterly green-energy overview (main.py:104-106) ----
      Pipeline.Job("green_energy_overview", { s =>
        val out = RenewGreenEnergy.summarizeQuarter(
          rd(s, "raw", "renewable_setting"),
          rd(s, "staging", "electricity_decarb"),
          rd(s, "staging", "renewable_energy_decarb"),
          rd(s, "app", "green_energy_customer"),
          rd(s, "raw", "green_purchase"),
          rd(s, "raw", "area_mapping"), qw)
        wrWhere(
          out.withColumn("period_start", make_date(col("year"),
            lit(qw.quarterNum * 3), lit(1))),
          "app", "green_energy_overview", Seq("period_start"),
          col("year") === qw.year && col("quarter") === qw.quarter)
      }),

      // ---- freshness + transfer suggestion + MACC (main.py:108-113) ----
      Pipeline.Job("source_status", { s =>
        wr(SourceStatus.statusReport(
            rd(s, "raw", "electricity_total_decarb"),
            rd(s, "raw", "renewable_energy_decarb"),
            plantSite(s), rd(s, "raw", "source_checklist"))
          .withColumn("period_start", lit(monthDate)),
          "app", "source_decarb_confirm")
      }),
      Pipeline.Job("next_year_green_power_transfer_suggest", { s =>
        wr(ElecTransfer.nextYearTransferSuggest(
            rd(s, "app", "green_elec_transfer_account"), year + 1, 0.6)
          .withColumn("period_start", make_date(lit(year + 1), lit(1), lit(1))),
          "app", "transfer_suggest")
      }),
      Pipeline.Job("macc_input_to_summary", { s =>
        val demand = MaccSummary.assembleDemand(
          rd(s, "raw", "energy_demand"), rd(s, "raw", "solar"),
          rd(s, "raw", "renewable_setting"), rd(s, "raw", "carbon_coef"))
        val priced = MaccSummary.joinGreenCosts(demand,
          rd(s, "raw", "green_cer_cost"), rd(s, "raw", "green_elect_cost"))
        wr(MaccSummary.summarize(priced, rd(s, "raw", "fx_rmb_usd"), 7.0)
          .withColumn("period_start", make_date(lit(year), lit(1), lit(1))),
          "app", "macc_summary")
      })
    )
  }

  /** Run the whole DAG with the reference's error-isolation contract;
    * returns the failed job names (empty = full success). */
  def run(spark: SparkSession, base: String, clock: Clock,
          notifier: Pipeline.Notifier = Pipeline.LogNotifier): Seq[String] =
    Pipeline.run(spark, jobs(base, clock), notifier)
}
