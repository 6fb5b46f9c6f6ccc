package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The warehouse contract: the declared schema of every table [[MainDag]]
  * reads, so no read has to infer one.
  *
  * The reference keeps `raw` → `staging` → `app` in PostgreSQL, where every
  * read takes its columns from the catalog (SURVEY §1.5). On parquet a bare
  * `spark.read.parquet(path)` instead starts a Spark job that reads a file
  * footer to infer the schema, once per read: about 90 jobs in a cron month.
  * [[read]] hands Spark the declared schema, so a read starts no job.
  *
  * Each schema is what inference gives on the generated warehouse
  * (`perfbench/gen_warehouse.py`) and on what the DAG's own writers leave,
  * field for field and in order, with the partition column last, as Spark
  * orders it; `WarehouseSpec` checks both. A table's schema changes here
  * first. There is no fallback: a table without a declared schema cannot
  * be read. A missing table still fails with `PATH_NOT_FOUND`, which
  * [[graft.core.Sink.pathMissing]] keys on.
  */
object Warehouse {

  /** (layer, table) -> columns, as Spark DDL. */
  private val ddl: Map[(String, String), String] = Map(
    // ---- raw
    ("raw", "area_mapping") -> (
      "meter_code STRING, area STRING, site STRING, provider_name STRING, " +
      "year INT"),
    ("raw", "bill_base") -> "base_id INT, area STRING, guideline_date TIMESTAMP",
    ("raw", "bill_meter") -> (
      "category2 STRING, price DOUBLE, elect_type STRING, is_summer BOOLEAN, " +
      "base_id INT"),
    ("raw", "bill_summer") ->
      "elect_type STRING, start_date DATE, end_date DATE, base_id INT",
    ("raw", "boundary_sites") -> "site STRING",
    ("raw", "carbon_coef") -> "site STRING, year INT, coef DOUBLE, amount DOUBLE",
    ("raw", "decarb_ratios") -> "year INT, category STRING, ratio DOUBLE",
    ("raw", "electricity_backstage_office") ->
      "site STRING, period_start DATE, amount DOUBLE",
    ("raw", "electricity_backstage_update") ->
      "site STRING, period_start DATE, amount DOUBLE",
    ("raw", "electricity_total_decarb") -> (
      "site STRING, amount DOUBLE, unit STRING, type STRING, " +
      "period_start DATE"),
    ("raw", "energy_demand") -> "site STRING, year INT, amount DOUBLE, version STRING",
    ("raw", "fem_ratio") -> (
      "site STRING, plant STRING, amount DOUBLE, ratio DOUBLE, " +
      "period_start DATE"),
    ("raw", "fem_ratio_solar") -> (
      "site STRING, plant STRING, power DOUBLE, ratio DOUBLE, " +
      "last_update_time TIMESTAMP, period_start DATE"),
    ("raw", "fx_rmb_usd") -> "year INT, rate DOUBLE",
    ("raw", "green_cer_cost") -> "site STRING, year INT, amount DOUBLE",
    ("raw", "green_elect_cost") -> "site STRING, year INT, amount DOUBLE",
    ("raw", "green_elect_price_year") -> "site STRING, amount DOUBLE",
    ("raw", "green_electric_bill") -> (
      "meter_code STRING, category1 STRING, category2 STRING, amount DOUBLE, " +
      "year INT, month INT"),
    ("raw", "green_purchase") -> (
      "year INT, site STRING, quarter STRING, customer STRING, " +
      "unit_price DOUBLE, amount DOUBLE"),
    ("raw", "meter_group") -> "meter_code STRING, group_id STRING",
    ("raw", "meter_group_names") -> "group_id STRING, group_name STRING",
    ("raw", "meter_mapping") -> (
      "site STRING, plant STRING, meter_code STRING, elec_price_type STRING, " +
      "elect_type STRING"),
    ("raw", "plant_mapping") ->
      "plant STRING, site STRING, plant_code STRING, site_category STRING",
    ("raw", "provider_mapping") -> "provider_name STRING, meter_code STRING",
    ("raw", "provider_target") -> (
      "area STRING, year INT, month INT, provider STRING, site STRING, " +
      "amount STRING"),
    ("raw", "renewable_energy_decarb") -> (
      "site STRING, category2 STRING, amount DOUBLE, category1 STRING, " +
      "unit STRING, type STRING, period_start DATE"),
    ("raw", "renewable_setting") -> "year INT, category STRING, amount DOUBLE",
    ("raw", "solar") -> (
      "category STRING, plant STRING, amount DOUBLE, type STRING, " +
      "period_start DATE"),
    ("raw", "solar_info") ->
      "site STRING, plant STRING, category STRING, amount DOUBLE",
    ("raw", "solar_other") ->
      "period_start DATE, site STRING, area STRING, tree DOUBLE, fuel DOUBLE",
    ("raw", "solar_ratio") -> (
      "plant STRING, amount DOUBLE, ratio DOUBLE, last_update_time TIMESTAMP, " +
      "period_start DATE"),
    ("raw", "solar_remain") -> "site STRING, amount DOUBLE, period_start DATE",
    ("raw", "source_checklist") -> (
      "site_category STRING, site STRING, item STRING, year INT, month INT, " +
      "confirm BOOLEAN"),
    ("raw", "whq_esgcsrdatabase_view_csrindicatordetail_all") -> (
      "site STRING, year STRING, month STRING, amount DOUBLE, " +
      "category2 STRING, remark STRING"),
    ("raw", "wks_mfg_fem_dailypower") ->
      "plant_code STRING, meter_no INT, datadate DATE, power DOUBLE",
    ("raw", "wzks_csr_mirror") -> "site STRING, period_start DATE, amount DOUBLE",
    ("raw", "wzks_office_mirror") -> "site STRING, period_start DATE, amount DOUBLE",
    ("raw", "wzs_esgi_environment_indicator_item") ->
      "data_name STRING, plant STRING, period_start DATE, amount STRING",
    // ---- staging
    ("staging", "elect_total") -> (
      "site STRING, plant STRING, category STRING, amount DOUBLE, " +
      "ytm_amount DOUBLE, last_update_time TIMESTAMP, period_start DATE"),
    ("staging", "electricity_decarb") -> (
      "bo STRING, site STRING, amount DOUBLE, ytm_amount DOUBLE, unit STRING, " +
      "last_update_time TIMESTAMP, period_start DATE"),
    ("staging", "green_elect_contract") -> (
      "site STRING, category1 STRING, category2 STRING, meter_code STRING, " +
      "provider_name STRING, amount DOUBLE, ytm_amount DOUBLE, plant STRING, " +
      "last_update_time TIMESTAMP, period_start DATE"),
    ("staging", "green_elect_price") -> (
      "site STRING, category1 STRING, category2 STRING, meter_code STRING, " +
      "provider_name STRING, amount DOUBLE, ytm_amount DOUBLE, plant STRING, " +
      "last_update_time TIMESTAMP, period_start DATE"),
    ("staging", "green_elect_vol") -> (
      "site STRING, category1 STRING, category2 STRING, meter_code STRING, " +
      "provider_name STRING, amount DOUBLE, ytm_amount DOUBLE, plant STRING, " +
      "last_update_time TIMESTAMP, period_start DATE"),
    ("staging", "provider_plant_list") -> (
      "area STRING, provider STRING, site STRING, amount DOUBLE, " +
      "ytm_amount DOUBLE, last_update_time TIMESTAMP, period_start DATE"),
    ("staging", "renewable_energy_decarb") -> (
      "bo STRING, site STRING, category STRING, amount DOUBLE, " +
      "ytm_amount DOUBLE, unit STRING, last_update_time TIMESTAMP, " +
      "period_start DATE"),
    ("staging", "solar") -> (
      "site STRING, plant STRING, category STRING, amount DOUBLE, " +
      "ytm_amount DOUBLE, last_update_time TIMESTAMP, period_start DATE"),
    ("staging", "solar_info") -> (
      "plant STRING, category STRING, amount DOUBLE, site STRING, " +
      "ytm_amount DOUBLE, last_update_time TIMESTAMP, period_start DATE"),
    ("staging", "solar_other") -> (
      "site STRING, plant STRING, category STRING, amount DOUBLE, " +
      "ytm_amount DOUBLE, last_update_time TIMESTAMP, period_start DATE"),
    ("staging", "solar_remain") -> (
      "site STRING, plant STRING, amount DOUBLE, ytm_amount DOUBLE, " +
      "last_update_time TIMESTAMP, period_start DATE"),
    // ---- app
    ("app", "decarb_elec_overview_base") ->
      "year INT, month INT, category STRING, type STRING, ytm_amount DOUBLE",
    ("app", "decarb_elect_simulate") ->
      "site STRING, year INT, amount DOUBLE, version INT, version_year INT",
    ("app", "elect_target_month") -> (
      "site STRING, month INT, amount DOUBLE, year INT, category STRING, " +
      "version INT, validate BOOLEAN"),
    ("app", "elect_target_year") -> "site STRING, provider STRING, amount DOUBLE",
    ("app", "elect_target_year_all") -> "amount DOUBLE",
    ("app", "green_elec_pre_contracts") -> (
      "provider_name STRING, contract_ytm_amount DOUBLE, area STRING, " +
      "green_elec_type ARRAY<STRING>, contract_price DOUBLE, " +
      "last_update_time TIMESTAMP, year INT"),
    ("app", "green_elec_transfer_account") -> (
      "site STRING, plant STRING, meter_code STRING, provider_name STRING, " +
      "category1 STRING, category2 STRING, amount DOUBLE, year INT, month INT, " +
      "area STRING"),
    ("app", "green_energy_customer") -> (
      "year INT, quarter INT, customer STRING, site STRING, area STRING, " +
      "remark STRING, total_elect DOUBLE, target_renew DOUBLE, solar DOUBLE, " +
      "green_elect DOUBLE, grey_elect DOUBLE, green_energy DOUBLE, " +
      "predict_price DOUBLE, green_energy_request DOUBLE, " +
      "actual_amount DOUBLE, ratio DOUBLE"),
    ("app", "green_energy_overview") -> (
      "year INT, quarter INT, site STRING, area STRING, customer STRING, " +
      "total_elect DOUBLE, grey_elect DOUBLE, target_renew DOUBLE, " +
      "solar DOUBLE, green_elect DOUBLE, green_energy DOUBLE, " +
      "green_energy_request DOUBLE, unit_price DOUBLE, predict_price DOUBLE, " +
      "actual_amount DOUBLE, ratio DOUBLE, remark STRING, period_start DATE"),
    ("app", "prior_scope1n2") -> "year INT, amount DOUBLE")

  val schemas: Map[(String, String), StructType] =
    ddl.map { case (k, cols) => k -> StructType.fromDDL(cols) }

  def schema(layer: String, table: String): StructType =
    schemas.getOrElse((layer, table), throw new IllegalArgumentException(
      s"no declared schema for $layer.$table: declare it in graft.jobs.Warehouse"))

  def path(base: String, layer: String, table: String): String =
    s"$base/$layer/$table"

  /** Read one table with its declared schema: no schema-inference job. */
  def read(spark: SparkSession, base: String, layer: String,
           table: String): DataFrame =
    spark.read.schema(schema(layer, table)).parquet(path(base, layer, table))
}
