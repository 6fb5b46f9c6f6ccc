package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Money.{cents, e4}
import graft.operators.Relational
import Q._

/** SURVEY.md §2 relational operator inventory re-expressed Spark-first over
  * the TPC-H-ish synthetic tables. Each query names the §2 operator(s) it
  * covers and cites the reference instance it generalizes.
  *
  * Scale notes (100 TB design): dimension joins (`nation`, `region`, `part`,
  * per-query scalar aggregates) are explicit `broadcast()`s — no shuffle of
  * the fact side; grouped aggregates rely on partial (map-side) aggregation;
  * windows partition by bounded keys (year, custkey) so no partition exceeds
  * executor memory; filters/projections sit directly on the scan so parquet
  * row-group pruning and column pruning engage.
  */
object RelationalQueries {

  /** q25's shape over arbitrary (lineitem, orders) frames — shared with
    * q58, which re-runs it over bucketed tables; ONE definition so the
    * two can never drift apart. */
  def q25Shape(li: org.apache.spark.sql.DataFrame,
               os: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    li.join(os, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") <= add_months(col("o_orderdate"), 2).cast("timestamp"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"))

  val all: Seq[Q] = Seq(

    // ---- A1: hash group-by + sum (reference: jobs/raw_to_staging.py:44-52 groupby-sum) ----
    Q("q01_groupby_sum",
      (s, dir) => {
        T(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            (sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
            (sum(cents(col("l_extendedprice"))) / 100.0).as("sum_base_price"),
            (sum(e4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))) / 10000.0)
              .as("sum_disc_price"),
            count(lit(1)).as("cnt"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${sqlSumC("l_quantity")}/100.0 AS sum_qty,
        ${sqlSumC("l_extendedprice")}/100.0 AS sum_base_price,
        ${sqlSumE4("l_extendedprice*(1-l_discount)")}/10000.0 AS sum_disc_price,
        count(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_linestatus"""),
      bench = true),

    // ---- A2: multi-aggregate dict (reference: Model/Factory_elect_simulator_update.py:183-184,261) ----
    Q("q02_multi_agg",
      (s, dir) => {
        T(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("cnt"),
            max(col("l_extendedprice")).as("max_price"),
            min(col("l_extendedprice")).as("min_price"),
            (sum(cents(col("l_quantity"))) / count(lit(1)) / 100.0).as("avg_qty"),
            countDistinct(col("l_suppkey")).as("n_suppliers"))
      },
      Some(s"""SELECT l_returnflag, count(*) AS cnt,
        max(l_extendedprice) AS max_price, min(l_extendedprice) AS min_price,
        ${sqlSumC("l_quantity")}/count(*)/100.0 AS avg_qty,
        count(DISTINCT l_suppkey) AS n_suppliers
        FROM lineitem GROUP BY l_returnflag""")),

    // ---- P3-P8: predicate stack — equality, range, compound booleans
    // (reference: jobs/raw_to_staging.py:150,197,305; jobs/staging_to_app.py:132-138) ----
    Q("q03_filter_predicates",
      (s, dir) => {
        T(s, dir, "lineitem")
          .filter(
            col("l_returnflag") === "R" &&
            col("l_discount").between(0.05, 0.07) &&
            col("l_quantity") < 24 &&
            col("l_linestatus") =!= "F")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_returnflag='R' AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24 AND l_linestatus <> 'F'""")),

    // ---- J1: broadcast dimension equi-join (reference: jobs/raw_to_staging.py:149,184-186) ----
    Q("q04_join_broadcast_dim",
      (s, dir) => {
        T(s, dir, "lineitem")
          .join(broadcast(T(s, dir, "part")), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(
            (sum(e4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))) / 10000.0)
              .as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""SELECT p_brand,
        ${sqlSumE4("l_extendedprice*(1-l_discount)")}/10000.0 AS revenue,
        count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand"""),
      bench = true),

    // ---- J2: multi-way inner join snowflake (reference: jobs/staging_to_app.py:115-116,296) ----
    Q("q05_multi_join",
      (s, dir) => {
        T(s, dir, "orders")
          .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_orders"),
            (sum(cents(col("o_totalprice"))) / 100.0).as("total_revenue"))
      },
      Some(s"""SELECT r_name, n_name, count(*) AS n_orders,
        ${sqlSumC("o_totalprice")}/100.0 AS total_revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name"""),
      bench = true),

    // ---- J3+J7: full outer join + coalesce backfill (reference: jobs/staging_to_app.py:813-814; jobs/fix_data.py:355-358) ----
    Q("q06_outer_coalesce",
      (s, dir) => {
        val cust = T(s, dir, "customer").select(col("c_custkey"), col("c_name"))
        val ordAgg = T(s, dir, "orders").groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_ord"), sum(cents(col("o_totalprice"))).as("spend_c"))
        cust.join(ordAgg, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(
            coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
            coalesce(col("n_ord"), lit(0L)).as("n_orders"),
            (coalesce(col("spend_c"), lit(0L)) / 100.0).as("spend"))
      },
      Some(s"""SELECT COALESCE(c_custkey, o_custkey) AS custkey,
        COALESCE(n_ord, 0) AS n_orders, COALESCE(spend_c, 0)/100.0 AS spend
        FROM (SELECT c_custkey, c_name FROM customer) c
        FULL OUTER JOIN (
          SELECT o_custkey, count(*) AS n_ord, ${sqlSumC("o_totalprice")} AS spend_c
          FROM orders GROUP BY o_custkey) o
        ON c_custkey = o_custkey""")),

    // ---- J4: cross-join a 1-row scalar onto every row (reference: jobs/staging_cal.py:17-18,177) ----
    Q("q07_cross_scalar_share",
      (s, dir) => {
        val cust = T(s, dir, "customer")
        val byNation = cust.groupBy(col("c_nationkey"))
          .agg(sum(cents(col("c_acctbal"))).as("bal_c"))
        val total = cust.agg(sum(cents(col("c_acctbal"))).as("tot_c"))
        byNation.crossJoin(broadcast(total))
          .select(col("c_nationkey"), (col("bal_c") / 100.0).as("nation_bal"),
            (col("bal_c").cast("double") / col("tot_c").cast("double")).as("share"))
      },
      Some(s"""SELECT c_nationkey, bal_c/100.0 AS nation_bal,
        CAST(bal_c AS DOUBLE)/CAST(tot_c AS DOUBLE) AS share
        FROM (SELECT c_nationkey, ${sqlSumC("c_acctbal")} AS bal_c
              FROM customer GROUP BY c_nationkey) n
        CROSS JOIN (SELECT ${sqlSumC("c_acctbal")} AS tot_c FROM customer) t""")),

    // ---- J6: anti-join (reference: jobs/fix_data.py:65-70 set-difference zero-fill) ----
    Q("q08_anti_join",
      // customers with no EARLY order (the generated data gives every
      // customer an order eventually, which left this gate vacuous — 0
      // rows both engines, r1–r10 — so the anti set is taken against the
      // pre-1996 orders: non-empty and non-trivial at every gate scale)
      (s, dir) => {
        val early = T(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        T(s, dir, "customer")
          .join(early, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_no_order"),
            (sum(cents(col("c_acctbal"))) / 100.0).as("bal"))
      },
      Some(s"""SELECT c_nationkey, count(*) AS n_no_order,
        ${sqlSumC("c_acctbal")}/100.0 AS bal
        FROM customer WHERE NOT EXISTS
          (SELECT 1 FROM orders WHERE o_custkey = c_custkey
             AND o_orderdate < TIMESTAMP '1996-01-01')
        GROUP BY c_nationkey""")),

    // ---- J2-as-semi: existence filter (reference: jobs/raw_to_staging.py:22 boundary-plant filter) ----
    Q("q09_semi_join",
      (s, dir) => {
        val urgent = T(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        T(s, dir, "customer")
          .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n_customers
        FROM customer WHERE EXISTS
          (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment""")),

    // ---- W1: year-to-month running total (reference: jobs/raw_to_staging.py:172-178 cumsum) ----
    Q("q10_ytm_running_total",
      (s, dir) => {
        val monthly = T(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
          .agg(sum(cents(col("o_totalprice"))).as("mc"))
        Relational.ytm(monthly, Seq("yr"), "mo", "mc", "ytm_c")
          .select(col("yr"), col("mo"), (col("mc") / 100.0).as("month_amount"),
            (col("ytm_c") / 100.0).as("ytm_amount"))
      },
      Some(s"""WITH m AS (
          SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
                 CAST(month(o_orderdate) AS INTEGER) AS mo,
                 ${sqlSumC("o_totalprice")} AS mc
          FROM orders GROUP BY 1, 2)
        SELECT yr, mo, mc/100.0 AS month_amount,
          CAST(sum(mc) OVER (PARTITION BY yr ORDER BY mo) AS BIGINT)/100.0 AS ytm_amount
        FROM m"""),
      bench = true),

    // ---- W2: share-of-group (reference: jobs/source_to_raw/fem_ratio.py:16-19) ----
    Q("q11_share_of_group",
      (s, dir) => {
        val n = T(s, dir, "customer")
          .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_regionkey"), col("n_name"))
          .agg(sum(cents(col("c_acctbal"))).as("nc"))
        n.withColumn("region_share",
            col("nc").cast("double") /
              sum(col("nc")).over(Window.partitionBy(col("n_regionkey"))).cast("double"))
          .select(col("n_regionkey"), col("n_name"), (col("nc") / 100.0).as("nation_bal"),
            col("region_share"))
      },
      Some(s"""WITH n AS (
          SELECT n_regionkey, n_name, ${sqlSumC("c_acctbal")} AS nc
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          GROUP BY n_regionkey, n_name)
        SELECT n_regionkey, n_name, nc/100.0 AS nation_bal,
          CAST(nc AS DOUBLE)/CAST(CAST(sum(nc) OVER (PARTITION BY n_regionkey) AS BIGINT) AS DOUBLE)
            AS region_share
        FROM n""")),

    // ---- W3: rank / row_number top-N per group (reference: Model/RE_purpose_optimizer.py:190-191) ----
    Q("q12_rank_topn",
      (s, dir) => {
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        T(s, dir, "customer")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"), col("rn"))
      },
      Some("""SELECT c_mktsegment, c_custkey, c_acctbal, CAST(rn AS INTEGER) AS rn
        FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
                row_number() OVER (PARTITION BY c_mktsegment
                  ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
              FROM customer) x
        WHERE rn <= 3""")),

    // ---- W4: arg-max per group (reference: jobs/staging_to_app.py:111-113 idxmax) ----
    Q("q13_argmax_per_group",
      (s, dir) => {
        Relational.latest(T(s, dir, "orders"), Seq("o_custkey"),
            Seq("o_orderdate", "o_orderkey"))
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            col("o_totalprice"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
        FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders) x
        WHERE rn = 1"""),
      bench = true),

    // ---- S11/W5: scalar-subquery latest selection (reference: jobs/raw_to_staging.py:697) ----
    Q("q14_latest_global",
      (s, dir) => {
        val o = T(s, dir, "orders")
        val mx = o.agg(max(col("o_orderdate")).as("mx"))
        o.join(broadcast(mx), col("o_orderdate") === col("mx"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderdate FROM orders
        WHERE o_orderdate = (SELECT max(o_orderdate) FROM orders)""")),

    // ---- A9: manual ALL-rollup via union (reference: jobs/raw_to_staging.py:14-59 cal_bo_site) ----
    Q("q15_rollup_all",
      (s, dir) => {
        Relational.allRollup(T(s, dir, "orders"),
          detailKeys = Seq("o_orderpriority"), allKey = "o_orderstatus",
          aggs = Seq((sum(cents(col("o_totalprice"))) / 100.0).as("total"),
            count(lit(1)).as("n")))
      },
      Some(s"""SELECT o_orderpriority, o_orderstatus,
          ${sqlSumC("o_totalprice")}/100.0 AS total, count(*) AS n
        FROM orders GROUP BY o_orderpriority, o_orderstatus
        UNION ALL
        SELECT o_orderpriority, 'ALL' AS o_orderstatus,
          ${sqlSumC("o_totalprice")}/100.0 AS total, count(*) AS n
        FROM orders GROUP BY o_orderpriority""")),

    // ---- A6: distinct (reference: jobs/raw_to_staging.py:19,139) ----
    Q("q16_distinct",
      (s, dir) => T(s, dir, "customer").select(col("c_mktsegment"), col("c_nationkey")).distinct(),
      Some("SELECT DISTINCT c_mktsegment, c_nationkey FROM customer")),

    // ---- R5: pivot long→wide (reference: Model/Factory_elect_simulator_update.py:47-48) ----
    Q("q17_pivot",
      (s, dir) => {
        T(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("yr"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(sum(cents(col("o_totalprice"))) / 100.0)
          .na.fill(0.0, Seq("F", "O", "P"))
      },
      Some(s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        COALESCE(CAST(sum(CASE WHEN o_orderstatus='F' THEN ${sqlCents("o_totalprice")} END) AS BIGINT)/100.0, 0.0) AS "F",
        COALESCE(CAST(sum(CASE WHEN o_orderstatus='O' THEN ${sqlCents("o_totalprice")} END) AS BIGINT)/100.0, 0.0) AS "O",
        COALESCE(CAST(sum(CASE WHEN o_orderstatus='P' THEN ${sqlCents("o_totalprice")} END) AS BIGINT)/100.0, 0.0) AS "P"
        FROM orders GROUP BY 1""")),

    // ---- R4: unpivot wide→long (reference: jobs/raw_to_staging.py:495-517 melt) ----
    Q("q18_unpivot",
      (s, dir) => {
        val wide = T(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("yr"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(sum(cents(col("o_totalprice"))) / 100.0)
          .na.fill(0.0, Seq("F", "O", "P"))
        wide.unpivot(Array(col("yr")),
          Array(col("F"), col("O"), col("P")), "status", "amount")
      },
      Some(s"""WITH w AS (
          SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
            COALESCE(CAST(sum(CASE WHEN o_orderstatus='F' THEN ${sqlCents("o_totalprice")} END) AS BIGINT)/100.0, 0.0) AS f,
            COALESCE(CAST(sum(CASE WHEN o_orderstatus='O' THEN ${sqlCents("o_totalprice")} END) AS BIGINT)/100.0, 0.0) AS o,
            COALESCE(CAST(sum(CASE WHEN o_orderstatus='P' THEN ${sqlCents("o_totalprice")} END) AS BIGINT)/100.0, 0.0) AS p
          FROM orders GROUP BY 1)
        SELECT yr, 'F' AS status, f AS amount FROM w
        UNION ALL SELECT yr, 'O', o FROM w
        UNION ALL SELECT yr, 'P', p FROM w""")),

    // ---- R1/R2: union-by-name with missing columns (reference: pandas append, jobs/raw_to_staging.py:57,144-146) ----
    Q("q19_union_align",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val a = T(s, dir, "customer").filter(col("c_custkey") <= 10)
          .select(col("c_custkey").as("id"), col("c_name").as("name"),
            col("c_acctbal").as("bal"))
        val b = Seq((0L, "SENTINEL")).toDF("id", "name")
        a.unionByName(b, allowMissingColumns = true)
      },
      Some("""SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal
        FROM customer WHERE c_custkey <= 10
        UNION ALL
        SELECT 0 AS id, 'SENTINEL' AS name, CAST(NULL AS DOUBLE) AS bal""")),

    // ---- P10: CASE WHEN tiers (reference: Model/Factory_elect_simulator_update.py:837-839 np.where) ----
    Q("q20_case_when",
      (s, dir) => {
        T(s, dir, "lineitem")
          .withColumn("disc_class",
            when(col("l_discount") >= 0.08, "high")
              .when(col("l_discount") >= 0.04, "mid")
              .otherwise("low"))
          .groupBy(col("disc_class"))
          .agg(count(lit(1)).as("n"),
            (sum(e4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))) / 10000.0)
              .as("revenue"))
      },
      Some(s"""SELECT CASE WHEN l_discount >= 0.08 THEN 'high'
                    WHEN l_discount >= 0.04 THEN 'mid'
                    ELSE 'low' END AS disc_class,
        count(*) AS n,
        ${sqlSumE4("l_extendedprice*(1-l_discount)")}/10000.0 AS revenue
        FROM lineitem GROUP BY 1""")),

    // ---- §2.8 strings: substring/split/upper/concat/contains (reference: Model/Factory_elect_simulator_update.py:275-276,585-586) ----
    Q("q21_string_funcs",
      (s, dir) => {
        T(s, dir, "part")
          .filter(col("p_name").contains("a") && col("p_size") < 15)
          .select(col("p_partkey"),
            substring(col("p_type"), 1, 6).as("type_prefix"),
            upper(col("p_brand")).as("brand_up"),
            split(col("p_name"), " ").getItem(0).as("first_word"),
            length(col("p_name")).cast("long").as("name_len"),
            concat(col("p_brand"), lit("-"), col("p_type")).as("brand_type"))
      },
      Some("""SELECT p_partkey, substr(p_type, 1, 6) AS type_prefix,
        upper(p_brand) AS brand_up,
        string_split(p_name, ' ')[1] AS first_word,
        CAST(length(p_name) AS BIGINT) AS name_len,
        p_brand || '-' || p_type AS brand_type
        FROM part WHERE p_name LIKE '%a%' AND p_size < 15""")),

    // ---- §2.8 dates: parts/add_months/last_day/trunc/diff (reference: jobs/staging_to_app.py:29-42,268-272) ----
    Q("q22_date_funcs",
      (s, dir) => {
        T(s, dir, "orders")
          .filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey"),
            year(col("o_orderdate")).as("yr"),
            month(col("o_orderdate")).as("mo"),
            quarter(col("o_orderdate")).as("qtr"),
            // dates surface as midnight timestamps: parquet DATE and DuckDB
            // DATE canonicalize differently in downstream readers, timestamps
            // identically
            add_months(col("o_orderdate"), 3).cast("timestamp").as("plus3m"),
            last_day(col("o_orderdate")).cast("timestamp").as("month_end"),
            date_trunc("year", col("o_orderdate")).as("year_start"),
            datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
              .as("days_to_2002"))
      },
      Some("""SELECT o_orderkey,
        CAST(year(o_orderdate) AS INTEGER) AS yr,
        CAST(month(o_orderdate) AS INTEGER) AS mo,
        CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        CAST(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS TIMESTAMP) AS plus3m,
        CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
        CAST(date_trunc('year', o_orderdate) AS TIMESTAMP) AS year_start,
        CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER)
          AS days_to_2002
        FROM orders WHERE o_orderkey % 100 = 0""")),

    // ---- A5: exact percentile / median (reference: Model/Factory_elect_simulator_update.py:220,295) ----
    Q("q23_percentile",
      (s, dir) => {
        T(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
            expr("percentile(l_quantity, 0.25)").as("p25_qty"),
            (sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"))
      },
      Some(s"""SELECT l_returnflag,
        quantile_cont(l_quantity, 0.5) AS median_qty,
        quantile_cont(l_quantity, 0.25) AS p25_qty,
        ${sqlSumC("l_quantity")}/100.0 AS sum_qty
        FROM lineitem GROUP BY l_returnflag""")),

    // ---- J8-as-lag: month-over-month growth (reference: Model/Factory_elect_simulator_update.py:580-583) ----
    Q("q24_lag_mom",
      (s, dir) => {
        val monthly = T(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
          .agg(sum(cents(col("o_totalprice"))).as("mc"))
        val w = Window.partitionBy(col("yr")).orderBy(col("mo"))
        monthly.withColumn("prev_c", lag(col("mc"), 1).over(w))
          .select(col("yr"), col("mo"), (col("mc") / 100.0).as("month_amount"),
            (col("prev_c") / 100.0).as("prev_amount"),
            ((col("mc") - col("prev_c")) / 100.0).as("mom_change"))
      },
      Some(s"""WITH m AS (
          SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
                 CAST(month(o_orderdate) AS INTEGER) AS mo,
                 ${sqlSumC("o_totalprice")} AS mc
          FROM orders GROUP BY 1, 2),
        l AS (SELECT yr, mo, mc, lag(mc, 1) OVER (PARTITION BY yr ORDER BY mo) AS prev_c FROM m)
        SELECT yr, mo, mc/100.0 AS month_amount, prev_c/100.0 AS prev_amount,
          (mc - prev_c)/100.0 AS mom_change FROM l""")),

    // ---- J5: equi-join + interval post-filter (reference: jobs/staging_to_app.py:122-140) ----
    Q("q25_interval_join",
      (s, dir) => q25Shape(T(s, dir, "lineitem"), T(s, dir, "orders")),
      Some(q25OracleSql),
      bench = true),

    // ---- P5: IN / NOT IN (reference: jobs/raw_to_staging.py:711,745) ----
    Q("q26_in_notin",
      (s, dir) => {
        T(s, dir, "customer")
          .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY") &&
            !col("n_name").isin("CHINA", "FRANCE"))
          .groupBy(col("c_mktsegment"), col("n_name"))
          .agg(count(lit(1)).as("n"),
            (sum(cents(col("c_acctbal"))) / count(lit(1)) / 100.0).as("avg_bal"))
      },
      Some(s"""SELECT c_mktsegment, n_name, count(*) AS n,
        ${sqlSumC("c_acctbal")}/count(*)/100.0 AS avg_bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
          AND n_name NOT IN ('CHINA', 'FRANCE')
        GROUP BY c_mktsegment, n_name""")),

    // ---- P8/§2.8: null handling — nullif/coalesce/is-null (reference: jobs/wzsesgi_etl.py:46-51; macc_summary:226-238) ----
    Q("q27_null_handling",
      (s, dir) => {
        T(s, dir, "lineitem")
          .filter(col("l_orderkey") % 50 === 0)
          .select(col("l_orderkey"), col("l_linenumber"),
            expr("nullif(l_discount, 0.0)").as("disc_or_null"),
            coalesce(expr("nullif(l_discount, 0.0)"), lit(-1.0)).as("disc_filled"),
            expr("nullif(l_discount, 0.0)").isNull.as("is_zero"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
        nullif(l_discount, 0.0) AS disc_or_null,
        COALESCE(nullif(l_discount, 0.0), -1.0) AS disc_filled,
        nullif(l_discount, 0.0) IS NULL AS is_zero
        FROM lineitem WHERE l_orderkey % 50 = 0""")),

    // ---- A5/§2.6: grand-total scalar aggregates (reference: jobs/source_to_raw/fem_ratio.py:19; decarb_path_etl.py:103) ----
    Q("q28_scalar_agg",
      (s, dir) => {
        T(s, dir, "orders")
          .agg(min(col("o_orderdate")).as("min_date"),
            max(col("o_orderdate")).as("max_date"),
            countDistinct(col("o_custkey")).as("n_customers"),
            count(lit(1)).as("n_orders"),
            max(col("o_totalprice")).as("max_price"))
      },
      Some("""SELECT min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
        count(DISTINCT o_custkey) AS n_customers, count(*) AS n_orders,
        max(o_totalprice) AS max_price FROM orders""")),

    // ---- J8: self-join vs base year (reference: Model/Factory_elect_simulator_update.py:498-503) ----
    Q("q29_vs_base_year",
      (s, dir) => {
        val yearly = T(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("yr"))
          .agg(sum(cents(col("o_totalprice"))).as("yc"))
        val base = yearly.filter(col("yr") === 1995).select(col("yc").as("base_c"))
        yearly.crossJoin(broadcast(base))
          .select(col("yr"), (col("yc") / 100.0).as("revenue"),
            (col("yc").cast("double") / col("base_c").cast("double")).as("vs_base"))
      },
      Some(s"""WITH y AS (
          SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
                 ${sqlSumC("o_totalprice")} AS yc
          FROM orders GROUP BY 1)
        SELECT yr, yc/100.0 AS revenue,
          CAST(yc AS DOUBLE)/CAST(base_c AS DOUBLE) AS vs_base
        FROM y CROSS JOIN (SELECT yc AS base_c FROM y WHERE yr = 1995) b""")),

    // ---- §2.6: global top-k with deterministic tiebreak ----
    Q("q30_topk",
      (s, dir) => {
        T(s, dir, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(10)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""")),

    // ---- A9-alt: native rollup (grouping sets) — the built-in form of the
    // reference's hand-rolled ALL-union (SURVEY.md §7.3), with collapsed keys
    // decoded to the reference's 'ALL' labels ----
    Q("q32_rollup_native",
      (s, dir) => {
        T(s, dir, "orders")
          .rollup(col("o_orderpriority"), col("o_orderstatus"))
          .agg((sum(cents(col("o_totalprice"))) / 100.0).as("total"),
            count(lit(1)).as("n"))
          .select(
            coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
            coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
            col("total"), col("n"))
      },
      Some(s"""SELECT COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
        COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
        ${sqlSumC("o_totalprice")}/100.0 AS total, count(*) AS n
        FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""")),

    // ---- §2.8 dict decode: broadcast recode through a literal map with
    // pass-through default (reference: jobs/raw_to_staging.py:136 replace;
    // jobs/csr_etl.py:84-86) — stays inside codegen, no join, no UDF ----
    Q("q34_decode_map",
      (s, dir) => {
        T(s, dir, "orders")
          .withColumn("priority_class", Relational.decode(col("o_orderpriority"),
            Map("1-URGENT" -> "rush", "2-HIGH" -> "rush", "5-LOW" -> "relaxed"),
            lit("normal")))
          .groupBy(col("priority_class"))
          .agg(count(lit(1)).as("n"),
            (sum(cents(col("o_totalprice"))) / 100.0).as("total"))
      },
      Some(s"""SELECT CASE o_orderpriority
            WHEN '1-URGENT' THEN 'rush' WHEN '2-HIGH' THEN 'rush'
            WHEN '5-LOW' THEN 'relaxed' ELSE 'normal' END AS priority_class,
          count(*) AS n, ${sqlSumC("o_totalprice")}/100.0 AS total
        FROM orders GROUP BY 1""")),

    // ---- approximate distinct at scale via a PORTABLE sketch: k-minimum-
    // values (KMV) over md5 hashes. Unlike HLL (whose estimates are
    // engine-private), the k-th smallest normalized hash is a deterministic
    // value both engines compute bit-identically, so the sketch estimate
    // (k−1)/h_k itself sits on the hash-match surface next to the exact
    // count. 13 hex chars = 52 bits keeps the hash exact in a double.
    // At corpus scale the per-group full sort below becomes a bounded
    // min-k aggregation (heap of 64 per group) — same estimate, no sort. ----
    Q("q33_approx_distinct",
      (s, dir) => {
        val k = 64
        val hashes = T(s, dir, "lineitem")
          .select(col("l_returnflag"),
            expr("CAST(conv(substring(md5(CAST(l_orderkey AS STRING)), 1, 13), 16, 10) AS BIGINT)")
              .as("hv"))
          .distinct()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag")).orderBy(col("hv"))
        val kth = hashes.withColumn("rn", row_number().over(w))
          .filter(col("rn") === k)
          .select(col("l_returnflag"),
            (col("hv").cast("double") / lit(4503599627370496.0)).as("hk"))
        T(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
          .join(kth, Seq("l_returnflag"))
          .select(col("l_returnflag"),
            (lit((k - 1).toDouble) / col("hk")).as("kmv_estimate"),
            col("exact_orders"))
      },
      Some("""WITH h AS (
          SELECT DISTINCT l_returnflag,
            CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 13))
              AS BIGINT) AS hv
          FROM lineitem),
        r AS (SELECT l_returnflag, hv,
            row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn
          FROM h),
        kth AS (SELECT l_returnflag,
            CAST(hv AS DOUBLE)/4503599627370496.0 AS hk
          FROM r WHERE rn = 64),
        ex AS (SELECT l_returnflag,
            count(DISTINCT l_orderkey) AS exact_orders
          FROM lineitem GROUP BY 1)
        SELECT ex.l_returnflag, 63.0/hk AS kmv_estimate, exact_orders
        FROM ex JOIN kth ON kth.l_returnflag = ex.l_returnflag""")),

    // ---- mergeable-sketch distinct counting: the KMV sketch is built
    // PER SLICE (here: odd/even orderkey halves, standing in for "per
    // partition" / "per day"), and the k smallest of the union of the two
    // sketches is EXACTLY the sketch of the union — the property that lets
    // a 100 TB warehouse keep a per-partition sketch table and answer
    // "distinct users this quarter" by merging KBs of state instead of
    // rescanning facts (the approximate twin of q43's exact state merge).
    // The oracle computes the sketch over all rows directly, so a green
    // row proves the merge is lossless cross-engine. The final rank is a
    // window over exactly k=64 rows (bounded, not a global sort). ----
    Q("q45_sketch_merge",
      (s, dir) => {
        val k = 64
        // ONE corpus scan for both per-slice sketches (r15; was one full
        // scan + one full-distinct exchange PER slice): the (slice, hash)
        // distinct set is built once — map-side partial hash-dedup, no
        // sort — materialized (it is distinct-set-sized, the state a
        // sketch table would keep), and each slice's bottom-k TakeOrdered
        // reads the materialized copy instead of re-scanning the fact
        // table. Same per-slice sets, same merged sketch, hash-identical.
        // (A sort-based single-scan variant — dense_rank ≤ k under a
        // map-side WindowGroupLimit, shuffling only k rows per task — was
        // built and measured first: 0.86 → 1.34 s at sf0.1, the per-task
        // sort of the full scan output costing more than it saved; noted
        // in OPTIMIZATION_r15.md as the rejected rung.)
        val li = T(s, dir, "lineitem")
        val dis = li
          .select(pmod(col("l_orderkey"), lit(2)).as("par"),
            expr("CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 13), 16, 10) AS BIGINT)")
              .as("hv"))
          .distinct().localCheckpoint()
        def sketch(p: Int): org.apache.spark.sql.DataFrame = dis
          .filter(col("par") === p).select(col("hv"))
          .orderBy(col("hv")).limit(k)
        val merged = sketch(0).unionByName(sketch(1))
          .distinct().orderBy(col("hv")).limit(k)
        merged.withColumn("rn", row_number()
            .over(org.apache.spark.sql.expressions.Window.orderBy(col("hv")))
            .cast("long"))
          .select(col("rn"), col("hv"))
      },
      Some("""WITH h AS (SELECT DISTINCT
            CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13))
              AS BIGINT) AS hv
          FROM lineitem),
        r AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM h)
        SELECT CAST(rn AS BIGINT) AS rn, hv FROM r WHERE rn <= 64"""), bench = true),

    // ---- KMV sketch SET ALGEBRA (Beyer et al. 2007): estimate the size of
    // an INTERSECTION of two audiences from their bottom-k sketches alone —
    // q45 proved the union-merge is lossless; this is the other half of the
    // sketch algebra (overlap analytics: "how many part keys appear on both
    // even and odd orders" without an exact distinct-join). The combined
    // sketch L = bottom-k of (skA ∪ skB) gives θ = max(L); Jaccard is
    // estimated by the fraction of L present in BOTH input sketches, the
    // union size by the k-th-minimum estimator (k−1)·M/θ over the 52-bit
    // hash space M = 2^52 (exact count when the merged sketch is under k —
    // then it IS the union), and |A∩B| = Ĵ·|A∪B|. Every input is a
    // deterministic md5-derived integer, so estimates are bit-identical
    // cross-engine. Scale shape: each audience's sketch is one
    // partial-aggregable distinct + TakeOrdered(k); everything after
    // operates on two 64-row frames (the bounded-input exemption q45's
    // window documents). ----
    Q("q55_sketch_intersect",
      (s, dir) => {
        val k = 64
        val M = 4503599627370496.0 // 2^52: 13 hex chars of md5
        // one corpus scan for both audience sketches — the same
        // materialized (slice, hash) distinct set as q45 (r15; was one
        // full scan + full-distinct exchange per audience)
        val li = T(s, dir, "lineitem")
        val dis = li
          .select(pmod(col("l_orderkey"), lit(2)).as("par"),
            expr("CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 13), 16, 10) AS BIGINT)")
              .as("hv"))
          .distinct().localCheckpoint()
        def sketch(p: Int, flag: String): org.apache.spark.sql.DataFrame = dis
          .filter(col("par") === p).select(col("hv"))
          .orderBy(col("hv")).limit(k)
          .withColumn(flag, lit(1L))
        val merged = sketch(0, "in_a")
          .join(sketch(1, "in_b"), Seq("hv"), "full_outer")
          .select(col("hv"), coalesce(col("in_a"), lit(0L)).as("in_a"),
            coalesce(col("in_b"), lit(0L)).as("in_b"))
          .orderBy(col("hv")).limit(k)
        merged
          .agg(count(lit(1)).as("k_used"), max(col("hv")).as("theta"),
            sum(col("in_a") * col("in_b")).as("n_common"))
          .select(col("k_used"), col("theta"), col("n_common"),
            (col("n_common").cast("double") / col("k_used").cast("double"))
              .as("jaccard_est"),
            when(col("k_used") < k, col("k_used").cast("double"))
              .otherwise((col("k_used") - 1).cast("double") * M /
                col("theta").cast("double")).as("union_est"))
          .select(col("k_used"), col("theta"), col("n_common"),
            col("jaccard_est"), col("union_est"),
            (col("jaccard_est") * col("union_est")).as("inter_est"))
      },
      Some("""WITH ha AS (SELECT hv FROM (
            SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM (
              SELECT DISTINCT
                CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13))
                  AS BIGINT) AS hv
              FROM lineitem WHERE l_orderkey % 2 = 0) d) r WHERE rn <= 64),
        hb AS (SELECT hv FROM (
            SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM (
              SELECT DISTINCT
                CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13))
                  AS BIGINT) AS hv
              FROM lineitem WHERE l_orderkey % 2 = 1) d) r WHERE rn <= 64),
        u AS (SELECT hv FROM (
            SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM (
              SELECT hv FROM ha UNION SELECT hv FROM hb) d) r WHERE rn <= 64),
        merged AS (SELECT hv,
            CASE WHEN hv IN (SELECT hv FROM ha) THEN 1 ELSE 0 END AS in_a,
            CASE WHEN hv IN (SELECT hv FROM hb) THEN 1 ELSE 0 END AS in_b
          FROM u),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS k_used, max(hv) AS theta,
            CAST(sum(in_a*in_b) AS BIGINT) AS n_common FROM merged),
        est AS (SELECT k_used, theta, n_common,
            CAST(n_common AS DOUBLE)/CAST(k_used AS DOUBLE) AS jaccard_est,
            CASE WHEN k_used < 64 THEN CAST(k_used AS DOUBLE)
                 ELSE CAST(k_used - 1 AS DOUBLE) * 4503599627370496.0
                      / CAST(theta AS DOUBLE) END AS union_est
          FROM agg)
        SELECT k_used, theta, n_common, jaccard_est, union_est,
          jaccard_est * union_est AS inter_est FROM est""")),

    // ---- §2.8 math: clip/round/floor/pow/safe-divide (reference: jobs/renew_green_energy.py:45-46; macc_summary:219-220,284-285) ----
    Q("q31_math_funcs",
      (s, dir) => {
        T(s, dir, "customer")
          .filter(col("c_custkey") % 20 === 0)
          .select(col("c_custkey"),
            Relational.clipNonNeg(col("c_acctbal")).as("bal_clipped"),
            round(col("c_acctbal"), 1).as("bal_round1"),
            (floor(col("c_acctbal") / 1000.0) * 1000.0).as("bal_floor_k"),
            pow(lit(2.0), col("c_nationkey")).as("compound"),
            when(col("c_nationkey") =!= 0,
              col("c_acctbal") / col("c_nationkey")).as("per_nation"))
      },
      Some("""SELECT c_custkey,
        greatest(c_acctbal, 0.0) AS bal_clipped,
        round(c_acctbal, 1) AS bal_round1,
        floor(c_acctbal/1000.0)*1000.0 AS bal_floor_k,
        pow(2.0, c_nationkey) AS compound,
        CASE WHEN c_nationkey <> 0 THEN c_acctbal/c_nationkey END AS per_nation
        FROM customer WHERE c_custkey % 20 = 0""")),

    // ---- single-pass histogram quantiles: the 100 TB quantile path.
    // q23's exact percentile needs a per-group sort of every value; this
    // sketch buckets prices into fixed $100 cells (bounded cardinality:
    // ~1.1k buckets/group), so the whole query is one map-side-combinable
    // groupBy + a window over the tiny bucket table — mergeable across
    // partitions by construction, the property a distributed quantile needs.
    // The answer is the bucket's inclusive upper bound: deterministic,
    // exact-integer, and within one cell width of the true quantile. ----
    Q("q35_histogram_quantile",
      (s, dir) => {
        val buckets = T(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"),
            cents(col("l_extendedprice")).as("pc"))
          .groupBy(col("flag"), expr("pc div 10000").as("bucket"))
          .agg(count(lit(1)).as("n"))
        val wCum = Window.partitionBy(col("flag")).orderBy(col("bucket"))
        val wAll = Window.partitionBy(col("flag"))
        def pick(p: Double): org.apache.spark.sql.Column =
          (min(when(col("cum") >= ceil(lit(p) * col("total")), col("bucket")))
            + 1) * 10000
        buckets
          .withColumn("cum", sum(col("n")).over(wCum))
          .withColumn("total", sum(col("n")).over(wAll))
          .groupBy(col("flag"))
          .agg(max(col("total")).as("n_rows"),
            pick(0.5).as("p50_upper_cents"),
            pick(0.95).as("p95_upper_cents"),
            pick(0.99).as("p99_upper_cents"))
      },
      Some(s"""WITH b AS (
          SELECT l_returnflag AS flag,
            ${sqlCents("l_extendedprice")} // 10000 AS bucket, count(*) AS n
          FROM lineitem GROUP BY 1, 2),
        c AS (SELECT flag, bucket, n,
            CAST(sum(n) OVER (PARTITION BY flag ORDER BY bucket) AS BIGINT) AS cum,
            CAST(sum(n) OVER (PARTITION BY flag) AS BIGINT) AS total
          FROM b)
        SELECT flag, max(total) AS n_rows,
          (min(CASE WHEN cum >= ceil(CAST(0.5 AS DOUBLE)*total)
            THEN bucket END)+1)*10000 AS p50_upper_cents,
          (min(CASE WHEN cum >= ceil(CAST(0.95 AS DOUBLE)*total)
            THEN bucket END)+1)*10000 AS p95_upper_cents,
          (min(CASE WHEN cum >= ceil(CAST(0.99 AS DOUBLE)*total)
            THEN bucket END)+1)*10000 AS p99_upper_cents
        FROM c GROUP BY 1""")),

    // ---- native CUBE: all four grains of (flag, status) in ONE pass with
    // map-side partial aggregation — the generalization of q15/q32's
    // rollup; grouping_id() disambiguates real nulls from subtotal rows. ----
    Q("q37_cube",
      (s, dir) => {
        T(s, dir, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(grouping_id().as("gid"),
            sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
            count(lit(1)).as("n"))
          .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
            col("sum_price_cents"), col("n"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
          CAST(grouping(l_returnflag)*2 + grouping(l_linestatus) AS BIGINT) AS gid,
          ${sqlSumC("l_extendedprice")} AS sum_price_cents, count(*) AS n
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)""")),

    // ---- full-row set ops (beyond the reference's key-set difference):
    // INTERSECT/EXCEPT are aggregate-shaped (one shuffle on the full row),
    // not join-shaped. ----
    Q("q38_setops",
      (s, dir) => {
        val a = T(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey"), col("o_orderstatus"))
        val b = T(s, dir, "orders").filter(col("o_orderpriority") === "2-HIGH")
          .select(col("o_custkey"), col("o_orderstatus"))
        a.intersect(b).withColumn("op", lit("both"))
          .unionByName(a.except(b).withColumn("op", lit("urgent_only")))
      },
      Some("""WITH a AS (SELECT o_custkey, o_orderstatus FROM orders
          WHERE o_orderpriority = '1-URGENT'),
        b AS (SELECT o_custkey, o_orderstatus FROM orders
          WHERE o_orderpriority = '2-HIGH')
        SELECT o_custkey, o_orderstatus, 'both' AS op
        FROM (SELECT * FROM a INTERSECT SELECT * FROM b) x
        UNION ALL
        SELECT o_custkey, o_orderstatus, 'urgent_only' AS op
        FROM (SELECT * FROM a EXCEPT SELECT * FROM b) y""")),

    // ---- range join via BUCKET EXPANSION (generalizes J5's equi+interval
    // shape, reference jobs/staging_to_app.py:122-140, to a PURE interval
    // join with no equi key). A naive interval predicate forces a
    // nested-loop join testing every (row, interval) pair — O(|L|·|I|),
    // the oracle's formulation and exactly what dies at 100 TB once the
    // interval side grows. The engine instead explodes each interval into
    // the months it covers (bounded: len/30 + 2 buckets) and equi-joins on
    // the row's month bucket, so each fact row meets only the intervals
    // overlapping its month; the exact BETWEEN then runs as a post-filter.
    // PlanAuditSpec pins the join to a hash join, not a nested loop.
    // Intervals here are deterministic md5-derived 45-day brand promo
    // windows so both engines construct identical inputs. ----
    Q("q39_range_bucket_join",
      (s, dir) => {
        val iv = T(s, dir, "part").select(col("p_brand")).distinct()
          .withColumn("promo_start", date_add(to_date(lit("1995-01-01")),
            (conv(substring(md5(col("p_brand")), 1, 4), 16, 10).cast("int") % 300) * 3))
          .withColumn("promo_end", date_add(col("promo_start"), lit(45)))
        val buckets = iv.withColumn("bucket",
          explode(expr("sequence(trunc(promo_start, 'MM'), trunc(promo_end, 'MM'), interval 1 month)")))
        T(s, dir, "lineitem")
          .select(to_date(col("l_shipdate")).as("ship_date"), col("l_extendedprice"))
          .withColumn("bucket", trunc(col("ship_date"), "MM"))
          .join(broadcast(buckets), Seq("bucket"))
          .filter(col("ship_date").between(col("promo_start"), col("promo_end")))
          .groupBy(col("p_brand"), col("promo_start"))
          .agg(count(lit(1)).as("n_ship"),
            (sum(cents(col("l_extendedprice"))) / 100.0).as("revenue"))
      },
      Some(s"""WITH iv AS (SELECT p_brand,
            DATE '1995-01-01'
              + ((CAST(('0x' || substr(md5(p_brand), 1, 4)) AS INTEGER) % 300) * 3)
              AS promo_start
          FROM (SELECT DISTINCT p_brand FROM part) b),
        iv2 AS (SELECT p_brand, promo_start, promo_start + 45 AS promo_end FROM iv)
        SELECT p_brand, promo_start, count(*) AS n_ship,
          ${sqlSumC("l_extendedprice")}/100.0 AS revenue
        FROM lineitem JOIN iv2
          ON CAST(l_shipdate AS DATE) BETWEEN promo_start AND promo_end
        GROUP BY 1, 2"""),
      bench = true),

    // ---- the spark.sql SURFACE: the same engine through ANSI SQL text —
    // views over the parquet tables, a CTE, a snowflake join, the exact-
    // cents aggregation idiom, and a HAVING clause (the one §2-adjacent
    // SQL construct the DataFrame queries never needed). Catalyst compiles
    // this to the same plan shapes as the DataFrame twin (q05); a user
    // migrating SQL text instead of pandas code runs queries this way. ----
    Q("q42_sql_surface",
      (s, dir) => {
        Seq("orders", "customer", "nation", "region").foreach { t =>
          T(s, dir, t).createOrReplaceTempView(s"v_$t")
        }
        s.sql("""
          WITH base AS (
            SELECT r_name, n_name,
              CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c
            FROM v_orders
            JOIN v_customer ON o_custkey = c_custkey
            JOIN v_nation ON c_nationkey = n_nationkey
            JOIN v_region ON n_regionkey = r_regionkey)
          SELECT r_name, n_name, count(*) AS n_orders,
            CAST(sum(price_c) AS DOUBLE)/100.0 AS total_revenue
          FROM base
          GROUP BY r_name, n_name
          HAVING count(*) > 100""")
      },
      Some(s"""WITH base AS (
          SELECT r_name, n_name,
            ${sqlCents("o_totalprice")} AS price_c
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey)
        SELECT r_name, n_name, count(*) AS n_orders,
          CAST(sum(price_c) AS BIGINT)/100.0 AS total_revenue
        FROM base
        GROUP BY r_name, n_name
        HAVING count(*) > 100""")),

    // ---- calendar grid completion (Relational.completeMonthGrid): every
    // (key, month) cell exists after this, missing months zero-filled —
    // the closed form of the reference's month-at-a-time loops and
    // anti-join zero-fills (jobs/staging_to_app.py:1062-1091,
    // jobs/fix_data.py:65-70), and the precondition for any rolling or
    // YoY metric that must see gaps as zeros rather than skip them. ----
    Q("q41_grid_fill",
      (s, dir) => {
        val monthly = T(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), trunc(col("l_shipdate"), "MM").as("mon"))
          .agg(sum(cents(col("l_extendedprice"))).as("rev_c"))
        Relational.completeMonthGrid(monthly, Seq("l_returnflag"), "mon",
            fillCols = Seq("rev_c"))
          .select(col("l_returnflag"), col("mon"),
            (col("rev_c") / 100.0).as("revenue"))
      },
      Some(s"""WITH monthly AS (
          SELECT l_returnflag, CAST(date_trunc('month', l_shipdate) AS DATE) AS mon,
            ${sqlSumC("l_extendedprice")} AS rev_c
          FROM lineitem GROUP BY 1, 2),
        b AS (SELECT min(mon) AS mn, max(mon) AS mx FROM monthly),
        spine AS (SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 MONTH))
            AS DATE) AS mon FROM b),
        grid AS (SELECT f.l_returnflag, s.mon
          FROM (SELECT DISTINCT l_returnflag FROM monthly) f, spine s)
        SELECT g.l_returnflag, g.mon, COALESCE(m.rev_c, 0)/100.0 AS revenue
        FROM grid g LEFT JOIN monthly m USING (l_returnflag, mon)""")),

    // ---- RANGE window frame: a 3-month rolling revenue where the frame is
    // defined by the ORDER-KEY VALUE, not row position — months missing
    // from the data are correctly excluded, where the reference's
    // cumsum-style ROWS frames (W1) would silently span the gap. The frame
    // kind every calendar rolling metric needs; gaps are real here
    // (per-flag month coverage is sparse at the edges). ----
    Q("q40_rolling_range",
      (s, dir) => {
        val monthly = T(s, dir, "lineitem")
          .groupBy(col("l_returnflag"),
            (year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).as("m_idx"))
          .agg(sum(cents(col("l_extendedprice"))).as("rev_c"))
        val w = Window.partitionBy(col("l_returnflag")).orderBy(col("m_idx"))
          .rangeBetween(-2, Window.currentRow)
        monthly
          .withColumn("rolling_3m", sum(col("rev_c")).over(w))
          .select(col("l_returnflag"), col("m_idx").cast("long").as("m_idx"),
            (col("rev_c") / 100.0).as("month_revenue"),
            (col("rolling_3m") / 100.0).as("rolling_3m_revenue"))
      },
      Some(s"""WITH monthly AS (
          SELECT l_returnflag,
            CAST(year(l_shipdate)*12 + month(l_shipdate) AS BIGINT) AS m_idx,
            ${sqlSumC("l_extendedprice")} AS rev_c
          FROM lineitem GROUP BY 1, 2)
        SELECT l_returnflag, m_idx, rev_c/100.0 AS month_revenue,
          CAST(sum(rev_c) OVER (PARTITION BY l_returnflag ORDER BY m_idx
            RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)/100.0
            AS rolling_3m_revenue
        FROM monthly""")),

    // ---- dataset profiling (operators/Profile): per-column row/null/
    // distinct counts in one scan — the ingest data-quality gate. Counting
    // distincts is representation-independent, so the canonical-string melt
    // the engine uses and the oracle's native count(DISTINCT col) agree
    // exactly. ----
    Q("q36_profile",
      (s, dir) => {
        import graft.operators.Profile
        Profile.profile(T(s, dir, "lineitem"),
          Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag",
            "l_shipdate"))
      },
      Some("""SELECT 'l_orderkey' AS "column", count(*) AS n_rows,
          count(*) - count(l_orderkey) AS n_null,
          count(DISTINCT l_orderkey) AS n_distinct FROM lineitem
        UNION ALL SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
          count(DISTINCT l_quantity) FROM lineitem
        UNION ALL SELECT 'l_extendedprice', count(*),
          count(*) - count(l_extendedprice),
          count(DISTINCT l_extendedprice) FROM lineitem
        UNION ALL SELECT 'l_returnflag', count(*),
          count(*) - count(l_returnflag),
          count(DISTINCT l_returnflag) FROM lineitem
        UNION ALL SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
          count(DISTINCT l_shipdate) FROM lineitem""")),

    // ---- incremental aggregate maintenance (operators/Incremental): the
    // month rollup is maintained as mergeable state — history's partials
    // merged with a delta slice's partials — instead of rescanned. The
    // oracle recomputes the SAME answers (count/sum/min/max + algebraic
    // avg/variance) directly over all facts, so a green row proves the
    // merge is lossless cross-engine: state(t+1) = merge(state(t),
    // partials(delta)) equals the from-scratch build. At 100 TB this is
    // the difference between a delta-sized refresh and a full-warehouse
    // pass; the warehouse fold itself (touched-partitions-only rewrite)
    // is IncrementalSpec's subject. ----
    Q("q43_incremental_rollup",
      (s, dir) => {
        import graft.operators.Incremental
        val li = T(s, dir, "lineitem")
          .withColumn("ship_month", trunc(col("l_shipdate"), "MM"))
        val group = Seq("ship_month", "l_returnflag")
        // r15: history + delta states from ONE scan (the q47 fold) — the
        // slice predicate rides as a group column through a single
        // partials pass and merge's monoid re-sum folds across it,
        // exactly as it folded the two separately-scanned states.
        // NOT NULL assumption (r15 ADVICE): a NULL l_shipdate yields seg
        // NULL, which the old two-filter form DROPPED but this fold keeps
        // as a third seg group that merge folds back in. Equivalent here
        // because TPC-H l_shipdate is NOT NULL; reusing the seg fold on a
        // nullable slice key needs an explicit null policy first.
        val partials = Incremental.partials(
          li.withColumn("seg",
            (col("l_shipdate") < lit("1997-01-01")).cast("int")),
          "seg" +: group, col("l_extendedprice"))
        Incremental.finalize(Incremental.merge(group, partials.drop("seg")))
      },
      Some(s"""WITH c AS (
          SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
            l_returnflag, ${sqlCents("l_extendedprice")} AS c
          FROM lineitem)
        SELECT ship_month, l_returnflag, count(*) AS n,
          CAST(sum(c) AS BIGINT) AS sum_c, min(c) AS min_c, max(c) AS max_c,
          CAST(floor(CAST(sum(c) AS DOUBLE)*100.0/CAST(count(*) AS DOUBLE)
            + 0.5) AS BIGINT)/10000.0 AS avg_amt,
          CAST(floor((CAST(sum(c*c) AS DOUBLE)
                 - CAST(sum(c) AS DOUBLE)*CAST(sum(c) AS DOUBLE)
                   /CAST(count(*) AS DOUBLE))
                /CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT)/10000.0 AS var_amt
        FROM c GROUP BY 1, 2"""), bench = true),

    // ---- Z-order (Morton) layout key (operators/Scale.zorderKey): the
    // bit-interleave that makes multi-dimensional data skipping work —
    // sorted by zkey, every parquet row group becomes a small rectangle of
    // (x, y) space, so a selective filter on EITHER dimension prunes row
    // groups (ScaleSpec measures the scan-level effect; this gates the key
    // itself bit-for-bit cross-engine). Pure shift/mask column algebra,
    // fully inside whole-stage codegen. ----
    Q("q44_zorder_key",
      (s, dir) =>
        T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
            pmod(col("l_partkey"), lit(1024L)).as("x"),
            pmod(col("l_suppkey"), lit(1024L)).as("y"))
          .withColumn("zkey",
            graft.operators.Scale.zorderKey(10, col("x"), col("y"))),
      Some {
        val terms = (0 until 10).flatMap(i => Seq(
          s"(((x >> $i) & 1) << ${2 * i})",
          s"(((y >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
        s"""WITH d AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
            l_partkey % 1024 AS x, l_suppkey % 1024 AS y FROM lineitem)
          SELECT l_orderkey, l_linenumber, x, y, CAST($terms AS BIGINT) AS zkey
          FROM d"""
      }, bench = true),

    // ---- SCD type-2 merge (operators/Scd): a second dimension snapshot
    // folds into the version history — changed keys close + reopen,
    // deleted keys close, new keys open, unchanged keys pass through.
    // The snapshot is derived deterministically from `customer` (every
    // 10th key's balance moves, every 17th key disappears, every 23rd key
    // reappears as a new surrogate), so the oracle can state the expected
    // history directly. One full-outer join on the dimension key + a
    // three-way union — no row loops, no driver state; history rows pass
    // through untouched (at 100 TB: keep is_current as a partition so the
    // merge never reads closed history). ----
    Q("q46_scd2_merge",
      (s, dir) => {
        import graft.operators.Scd
        val base = T(s, dir, "customer").select(col("c_custkey").as("k"),
          col("c_name").as("name"), col("c_acctbal").as("bal"))
        val t0 = to_timestamp(lit("2024-01-01 00:00:00"))
        val t1 = to_timestamp(lit("2024-02-01 00:00:00"))
        val h0 = Scd.firstLoad(base, "k", Seq("name", "bal"), t0)
        val snap1 = base.filter(col("k") % 17 =!= 0)
          .withColumn("bal",
            when(col("k") % 10 === 0, col("bal") + 100.0).otherwise(col("bal")))
          .unionByName(base.filter(col("k") % 23 === 0)
            .withColumn("k", col("k") + 1000000L))
        Scd.merge2(h0, snap1, "k", Seq("name", "bal"), t1)
      },
      Some("""WITH base AS (SELECT c_custkey AS k, c_name AS name,
            c_acctbal AS bal FROM customer)
        SELECT k, name, bal,
          TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
          TIMESTAMP '2024-02-01 00:00:00' AS valid_to, FALSE AS is_current
        FROM base WHERE k % 17 = 0 OR k % 10 = 0
        UNION ALL
        SELECT k, name, CASE WHEN k % 10 = 0 THEN bal + 100.0 ELSE bal END,
          TIMESTAMP '2024-02-01 00:00:00', NULL, TRUE
        FROM base WHERE k % 10 = 0 AND k % 17 <> 0
        UNION ALL
        SELECT k + 1000000, name, bal,
          TIMESTAMP '2024-02-01 00:00:00', NULL, TRUE
        FROM base WHERE k % 23 = 0
        UNION ALL
        SELECT k, name, bal, TIMESTAMP '2024-01-01 00:00:00', NULL, TRUE
        FROM base WHERE k % 10 <> 0 AND k % 17 <> 0"""), bench = true),

    // ---- incremental quantiles: q35's histogram sketch maintained as
    // MERGEABLE (group, bucket, n) state — two per-slice states (odd/even
    // orderkey halves) merge by a plain bucket re-sum, and the merged
    // state must finalize identically to the sketch computed directly over
    // all facts (the oracle IS q35's direct form). Together with q43/q45
    // this completes the incremental serving set: counts, sums, extrema,
    // mean/variance, distinct counts, and quantiles — all refreshable at
    // delta cost without a history rescan. ----
    Q("q47_incremental_quantile",
      (s, dir) => {
        import graft.operators.Incremental
        val li = T(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"), col("l_orderkey"),
            col("l_extendedprice"))
        // r15: both slices' histogram states from ONE scan — the slice id
        // rides as a group column through histPartials, and histMerge's
        // (group, bucket) re-sum folds across it exactly as it folded the
        // two separately-scanned states (the same monoid, the same
        // integers). The pre-r15 form scanned lineitem once per slice.
        val partials = Incremental.histPartials(
          li.withColumn("slice", pmod(col("l_orderkey"), lit(2))),
          Seq("slice", "flag"), col("l_extendedprice"))
        Incremental.finalizeQuantiles(
          Incremental.histMerge(Seq("flag"), partials.drop("slice")),
          Seq("flag"), Seq(0.5, 0.95, 0.99))
      },
      Some(s"""WITH b AS (
          SELECT l_returnflag AS flag,
            ${sqlCents("l_extendedprice")} // 10000 AS bucket, count(*) AS n
          FROM lineitem GROUP BY 1, 2),
        c AS (SELECT flag, bucket, n,
            CAST(sum(n) OVER (PARTITION BY flag ORDER BY bucket) AS BIGINT) AS cum,
            CAST(sum(n) OVER (PARTITION BY flag) AS BIGINT) AS total
          FROM b)
        SELECT flag, max(total) AS n_rows,
          (min(CASE WHEN cum >= ceil(CAST(0.5 AS DOUBLE)*total)
            THEN bucket END)+1)*10000 AS p50_upper_cents,
          (min(CASE WHEN cum >= ceil(CAST(0.95 AS DOUBLE)*total)
            THEN bucket END)+1)*10000 AS p95_upper_cents,
          (min(CASE WHEN cum >= ceil(CAST(0.99 AS DOUBLE)*total)
            THEN bucket END)+1)*10000 AS p99_upper_cents
        FROM c GROUP BY 1"""), bench = true),

    // ---- bloom-filter semi-join reduction (operators/Scale.bloomPrune):
    // the runtime-filter pattern made explicit. The dim side (urgent
    // high-value orders, ~2% of keys) builds a bloom; the fact side
    // (lineitem) is pre-filtered by membership BEFORE its shuffle, so at
    // 100 TB the exchange moves ~2% of the fact table instead of all of
    // it. False positives survive the filter but not the join — the
    // composed result is exactly the plain join, which is what the DuckDB
    // oracle states. Bloom build: one map-side-combined agg over the dim
    // side only (blooms OR together); probe: codegen'd
    // BloomFilterMightContain over xxhash64, no UDF. ----
    Q("q48_bloom_join",
      (s, dir) => {
        val urgent = T(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_totalprice") > 150000.0)
          .select(col("o_orderkey"))
        val pruned = graft.operators.Scale.bloomPrune(
          T(s, dir, "lineitem"), urgent, "l_orderkey", "o_orderkey",
          expectedItems = 100000L, numBits = 800000L)
        pruned.join(urgent, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("cnt"),
            (sum(e4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
              / 10000.0).as("revenue"))
      },
      Some(s"""SELECT l_returnflag, count(*) AS cnt,
        ${sqlSumE4("l_extendedprice*(1-l_discount)")}/10000.0 AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
        GROUP BY l_returnflag"""),
      bench = true),

    // ---- global row numbering without the single-partition window
    // (operators/Scale.globalRowNumber): `row_number() OVER (ORDER BY …)`
    // with no PARTITION BY funnels 100 TB through ONE reducer; this is the
    // distributed equivalent — range partition + local sort (a total order)
    // then per-partition offset arithmetic via zipWithIndex. The sort key
    // (l_orderkey, l_linenumber) is unique, so the ids are deterministic
    // whatever boundaries the range sampler picks, and the oracle can state
    // the same numbering with a plain window. Used by the packing/sharding
    // stages (t18) where training shards need stable global sequence ids. ----
    Q("q49_global_rownum",
      (s, dir) => {
        val li = T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        graft.operators.Scale.globalRowNumber(li, "rid", 32,
          col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
        row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rid
        FROM lineitem"""), bench = true)
,
    // ---- join-key skew diagnosis (operators/Profile.keySkew): the
    // pre-flight that decides whether a fact join needs Scale.saltedJoin,
    // and with what factor. One partial-aggregable count per key + a
    // TakeOrderedAndProject top-k — never a global sort; outputs are pure
    // integer arithmetic (share in ppm, rec_salt = ceil(cnt·P/total)), so
    // the diagnosis is deterministic and cross-engine checkable. ----
    Q("q51_key_skew",
      (s, dir) => graft.operators.Profile.keySkew(
        T(s, dir, "orders"), "o_orderpriority", topK = 10, parallelism = 32),
      Some("""WITH c AS (SELECT CAST(o_orderpriority AS VARCHAR) AS key,
            CAST(count(*) AS BIGINT) AS cnt FROM orders GROUP BY 1),
        t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
        SELECT key, cnt, cnt * 1000000 // total AS share_ppm,
          (cnt * 32 + total - 1) // total AS rec_salt
        FROM c CROSS JOIN t
        ORDER BY cnt DESC, key LIMIT 10"""), bench = true),

    // ---- snapshot distribution drift (operators/Profile.distributionDrift):
    // the ingest QA gate between two corpus drops — per-language ppm shares
    // side by side with their absolute drift (TV distance = Σ drift/2e6).
    // Stand-in snapshots: the even/odd doc_id halves. Two partial-aggregable
    // counts + a value-cardinality-sized full-outer join; a language present
    // in only one snapshot surfaces with share 0 on the other side. ----
    Q("q52_dist_drift",
      (s, dir) => {
        val docs = T(s, dir, "documents")
        graft.operators.Profile.distributionDrift(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1), "lang")
      },
      Some("""WITH a AS (SELECT CAST(lang AS VARCHAR) AS key, count(*) AS c
            FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        b AS (SELECT CAST(lang AS VARCHAR) AS key, count(*) AS c
            FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
        sa AS (SELECT key, CAST(c * 1000000 // (SELECT sum(c) FROM a) AS BIGINT)
            AS share_a_ppm FROM a),
        sb AS (SELECT key, CAST(c * 1000000 // (SELECT sum(c) FROM b) AS BIGINT)
            AS share_b_ppm FROM b)
        SELECT key, coalesce(share_a_ppm, 0) AS share_a_ppm,
          coalesce(share_b_ppm, 0) AS share_b_ppm,
          abs(coalesce(share_a_ppm, 0) - coalesce(share_b_ppm, 0)) AS drift_ppm
        FROM sa FULL OUTER JOIN sb USING (key)"""), bench = true),

    // ---- link-graph quality seeding (operators/Graph.pageRankQ): CCNet's
    // centrality-seeded quality idea on the customer↔supplier trade graph
    // (stand-in for a web link graph). Three BSP join-aggregate rounds of
    // the EXACT-INTEGER PageRank recurrence — float PR would differ by
    // reduction order across engines/partitionings; the quantized form is
    // bit-identical, so an iterative graph algorithm sits on the hash
    // oracle gate (the SQL unrolls the same three rounds). ----
    Q("q53_pagerank",
      (s, dir) => {
        // each customer–supplier link crosses the plan ONCE: nodes travel
        // as LONGS (customer 2k, supplier 2k+1 — integer keys hash far
        // cheaper than display strings, re-derived only on the final
        // |V|-sized projection), the operator's undirected mode emits
        // both directions itself, and duplicate pairs are left for the
        // operator to collapse — its local path dedups on the driver, so
        // the small-graph plan is scan → join → project → collect with
        // NO shuffle; its BSP path distincts after the direction explode.
        val pairs = T(s, dir, "orders")
          .join(T(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
        graft.operators.Graph.pageRankQ(pairs, 3, undirected = true)
          .select(
            when(col("node") % 2 === 0,
              concat(lit("c"), expr("node div 2")))
              .otherwise(concat(lit("s"), expr("(node - 1) div 2")))
              .as("node"),
            col("pr"))
      },
      Some {
        val iter = (k: Int) =>
          s"""p$k AS MATERIALIZED (SELECT n.node,
              CAST(150000 + (85 * coalesce(x.s, 0)) // 100 AS BIGINT) AS pr
            FROM n LEFT JOIN (
              SELECT e.dst AS node, CAST(sum(pr // outdeg) AS BIGINT) AS s
              FROM e JOIN o USING (src)
              JOIN p${k - 1} ON p${k - 1}.node = e.src
              GROUP BY 1) x USING (node))"""
        s"""WITH und AS MATERIALIZED (
            SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
              's' || CAST(l_suppkey AS VARCHAR) AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          e AS MATERIALIZED (
            SELECT src, dst FROM und UNION SELECT dst, src FROM und),
          o AS MATERIALIZED (
            SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
          n AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
          p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM n),
          ${iter(1)}, ${iter(2)}, ${iter(3)}
          SELECT node, pr FROM p3"""
      }, bench = true),

    // ---- array-typed predicates: the Postgres `'光電' = ALL(arr)` family
    // (reference: jobs/staging_cal.py:336-337) on an ArrayType column.
    // `forall` is the `= ALL` shape (vacuously true on empty arrays, NULL
    // on NULL arrays — Postgres semantics), `array_contains` the `= ANY`
    // shape; both are Catalyst higher-order functions evaluated inside the
    // scan stage, no UDF and no explode-shuffle. The business form is
    // spec-tested in StagingCalSpec; this query hash-gates the predicate
    // semantics cross-engine against DuckDB's list lambdas. ----
    Q("q54_array_forall",
      (s, dir) => {
        val toks = split(col("text"), " ")
        T(s, dir, "documents")
          .select(col("lang"),
            forall(toks, t => length(t) <= lit(10)).as("all_short"),
            array_contains(toks, "the").as("has_the"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("all_short"), 1L).otherwise(0L)).as("n_all_short"),
            sum(when(col("has_the"), 1L).otherwise(0L)).as("n_has_the"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
          CAST(sum(CASE WHEN len(list_filter(str_split(text, ' '),
            t -> length(t) > 10)) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_all_short,
          CAST(sum(CASE WHEN list_contains(str_split(text, ' '), 'the')
            THEN 1 ELSE 0 END) AS BIGINT) AS n_has_the
        FROM documents GROUP BY lang"""),
      bench = true),

    // ---- triangle counting on the co-purchase graph (parts co-occurring
    // in an order are adjacent) — graph analytics beyond the CC/PageRank
    // family: the clustering/community signal of a similarity graph. The
    // engine enumerates via Graph.triangleNodeCounts' DEGREE-ORIENTED
    // compact-forward scheme (out-degrees O(√E) on any graph → wedge
    // volume O(E^1.5), hub-safe); the oracle deliberately enumerates the
    // SAME triangle set with the naive id-ordered triple join — the hash
    // match proves two independent constructions agree, and the plans
    // embody exactly the hub-bounded-vs-quadratic tradeoff PERF.md
    // documents. Top-10 parts by triangle participation, ties to the
    // lower part id (deterministic cut). The 1-in-3 order sample keeps
    // the gate's graph at bench-able density (the FULL sf0.1 graph —
    // 1.2M edges over 20k parts, mean degree 120 — measured round 13 at
    // engine 6.6–7.9 s vs DuckDB 7.8–8.4 s same-window, a win, but it
    // would still multiply the bench total on both sides; PERF.md
    // "Round 13 delta" records the head-to-head). ----
    Q("q56_triangle_count",
      (s, dir) => {
        // Edge build: Graph.coOccurrenceEdges — one exchange on o,
        // Tungsten sort, streaming run-pair emission (its scaladoc says
        // why that form). Same canonical edge set, hash-identical result.
        // r16: entered via coOccurrenceTriangleCounts, which adds a local
        // rung BELOW the edge build — under the item cap the pair
        // emission + dedup + counting run in-process off one collect,
        // skipping both edge-build exchanges and the |E| cache; above it
        // the distributed form above runs unchanged.
        val items = T(s, dir, "lineitem")
          .filter(pmod(col("l_orderkey"), lit(3)) === 0)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        graft.operators.Graph.coOccurrenceTriangleCounts(items, "o", "p")
          .orderBy(col("n_tri").desc, col("node").asc).limit(10)
          .select(col("node").as("part"), col("n_tri"))
      },
      Some("""WITH items AS (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
          WHERE l_orderkey % 3 = 0),
        edges AS MATERIALIZED (
          SELECT DISTINCT x.p AS a, y.p AS b
          FROM items x JOIN items y ON x.o = y.o AND x.p < y.p),
        tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM edges e1
          JOIN edges e2 ON e2.a = e1.a AND e1.b < e2.b
          JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b),
        corners AS (SELECT x AS part FROM tri
          UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
        cnt AS (SELECT part, CAST(count(*) AS BIGINT) AS n_tri
          FROM corners GROUP BY 1)
        SELECT part, n_tri FROM cnt
        ORDER BY n_tri DESC, part ASC LIMIT 10"""),
      bench = true),

    // ---- skew-safe salted join END-TO-END (operators/Scale.saltedJoin):
    // q51 diagnoses the skew and ScaleSpec proves the operator under 90%
    // key concentration, but this row puts the SALTED PLAN itself on the
    // hash gate against the plain-join oracle — the defense for the
    // canonical 100×-killer ("full shuffle on a hot key" funnels 90% of a
    // fact table through ONE reducer; salting spreads it over saltFactor).
    // The fixture manufactures the pathology q51 would flag: hot_key 0
    // carries ~90% of lineitem (l_orderkey%10<9) and 50 cold keys share
    // the rest; the dim side is the distinct key set with a derived
    // attribute. The salt is dropped pre-output, so the salted inner join
    // must be ROW-IDENTICAL to the unsalted one whatever salt the hash
    // assigns — which is exactly what the oracle (plain USING join)
    // checks. PlanAuditSpec pins the physical shape: fact exchange
    // partitioned on (key, salt), dim replicated via a broadcast salt
    // range, no SinglePartition. ----
    Q("q57_salted_join",
      (s, dir) => {
        val fact = T(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          when(pmod(col("l_orderkey"), lit(10)) < 9, lit(0L))
            .otherwise(pmod(col("l_partkey"), lit(50)) + 1L).as("hot_key"),
          col("l_quantity"))
        val dim = fact.select(col("hot_key")).distinct()
          .select(col("hot_key"),
            (col("hot_key") * 1000L + 7L).as("dim_val"))
        graft.operators.Scale.saltedJoin(fact, dim, "hot_key", saltFactor = 8)
          .select(col("l_orderkey"), col("l_linenumber"), col("hot_key"),
            col("l_quantity"), col("dim_val"))
      },
      Some("""WITH fact AS (SELECT l_orderkey, l_linenumber,
          CASE WHEN l_orderkey % 10 < 9 THEN 0
               ELSE l_partkey % 50 + 1 END AS hot_key,
          l_quantity FROM lineitem),
        dim AS (SELECT DISTINCT hot_key, hot_key * 1000 + 7 AS dim_val
                FROM fact)
        SELECT l_orderkey, l_linenumber, hot_key, l_quantity, dim_val
        FROM fact JOIN dim USING (hot_key)"""),
      bench = true),

    // ---- the fact-fact co-location lever as a STANDING gate (round-9
    // verdict ask #3): q25's exact shape re-run over Scale.writeBucketed
    // tables. A 1000× probe proved the lever once (join 19.0 s vs 70.7 s
    // raw, same window; PERF.md "Round 9 delta"); this row re-proves it
    // on EVERY surface, every round — the runner asserts AT RUNTIME that the bucket-co-
    // located join subplan is exchange-free (a silent bucketing
    // regression fails the gate loudly, not just a spec), and the hash
    // gate proves the bucketed plan returns byte-identical aggregates to
    // q25's raw-shuffle plan (same oracle text — one definition). The
    // bucketed write is a memoized one-time per (session, surface) cost,
    // exactly the amortization contract bucketing has in a real
    // warehouse; Bench's untimed warmup pass absorbs it, so the timed
    // number is the join the lever buys. ----
    Q("q58_bucketed_join",
      (s, dir) => {
        val (liT, osT) = bucketedQ58Tables(s, dir)
        q25Shape(s.table(liT), s.table(osT))
      },
      Some(q25OracleSql),
      bench = true)
  )

  /** q25's oracle text — shared verbatim by q25 (raw shuffle join) and
    * q58 (bucketed co-located join): one definition, so the two gates
    * assert the SAME result from the two physical plans. */
  private def q25OracleSql: String =
    s"""SELECT o_orderpriority, count(*) AS n_lines,
        ${sqlSumC("l_quantity")}/100.0 AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= o_orderdate
          AND l_shipdate <= o_orderdate + INTERVAL 2 MONTH
        GROUP BY o_orderpriority"""

  // per-SESSION memo behind a WeakHashMap: a stopped SparkSession's entry
  // (and the session object itself) becomes collectable instead of being
  // strongly retained for the process lifetime, which a TrieMap keyed on
  // the session would do. All access synchronizes on the map — the
  // once-per-surface build inside the lock is deliberate (two threads
  // racing the same surface must not both write the tables).
  private val q58Memo =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.mutable.Map[String, (String, String)]]()

  /** One-time per (session, surface): write q25's two fact sides bucketed
    * on the join key (32 buckets, matching the session's reducer budget)
    * and assert the co-located join subplan is exchange-free. Table names
    * are surface-scoped so multiple sf dirs can coexist in one session;
    * stale managed LOCATIONS from a crashed prior run are cleared first
    * (saveAsTable refuses a pre-existing location once its catalog entry
    * is gone — the in-memory catalog forgets tables across sessions, the
    * warehouse dir does not). */
  private def bucketedQ58Tables(s: org.apache.spark.sql.SparkSession,
                                dir: String): (String, String) = q58Memo.synchronized {
    val perSession = {
      val existing = q58Memo.get(s)
      if (existing != null) existing
      else {
        val m = scala.collection.mutable.Map.empty[String, (String, String)]
        q58Memo.put(s, m)
        m
      }
    }
    perSession.getOrElseUpdate(dir, {
      // collision-proof surface tag: md5 of the RAW dir string (a 32-bit
      // hashCode hex can collide across sf dirs, silently re-pointing one
      // surface's memoized tables at another surface's data). Deliberately
      // NOT routed through java.io.File: File mangles URI-style surfaces
      // (hdfs:// and s3a:// collapse their double slash) and makes relative
      // dirs cwd-dependent, so one surface could yield two tags — the raw
      // string is already collision-proof under md5.
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      val (liT, osT) = (s"q58_lineitem_$tag", s"q58_orders_$tag")
      for (t <- Seq(liT, osT)) {
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(new java.net.URI(
          s.conf.get("spark.sql.warehouse.dir")).getPath, t)
        if (loc.exists()) {
          import scala.reflect.io.Directory
          new Directory(loc).deleteRecursively()
        }
      }
      graft.operators.Scale.writeBucketed(
        T(s, dir, "lineitem").select("l_orderkey", "l_shipdate", "l_quantity"),
        liT, "l_orderkey", numBuckets = 32)
      graft.operators.Scale.writeBucketed(
        T(s, dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority"),
        osT, "o_orderkey", numBuckets = 32)
      // the lever's claim is about the JOIN; the ~5-group final agg after
      // it shuffles a handful of partial rows per task by design. At
      // small surfaces the planner would broadcast the orders side —
      // exchange-free trivially, proving nothing about bucketing — so the
      // assertion pins a shuffle join with a hint on this one join: it
      // must co-locate purely from the bucketed scans' distribution.
      val joinOnly = s.table(liT)
        .join(s.table(osT).hint("shuffle_merge"), col("l_orderkey") === col("o_orderkey"))
      val plan = joinOnly.queryExecution.executedPlan.toString
      require(graft.operators.Scale.isExchangeFree(joinOnly) &&
          (plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")),
        s"bucketed q58 join plan still shuffles:\n$plan")
      (liT, osT)
    })
  }
}
