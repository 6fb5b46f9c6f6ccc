package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.Money.cents
import graft.model.GreedyAllocator
import Q._

/** Model-layer operators as oracle-checked queries: the greedy capacitated
  * allocator (reference: Model/RE_purpose_optimizer.py:193-324) in its
  * closed-form window formulation, and the MACC WACC discounting
  * (reference: macc_summary/macc_input_to_summary.py:219-220).
  */
object ModelQueries {

  // 1.05^k for k = 0..6 as decimal literals: both engines parse these to the
  // identical doubles, avoiding cross-libm pow() last-ulp differences.
  private val waccFactors = Seq(
    1995 -> 1.0, 1996 -> 1.05, 1997 -> 1.1025, 1998 -> 1.157625,
    1999 -> 1.21550625, 2000 -> 1.2762815625, 2001 -> 1.340095640625)

  val all: Seq[Q] = Seq(

    // ---- greedy price-ranked allocation with budget + capacities (W3 +
    // the optimizer loop collapsed to one window pass) ----
    Q("m01_greedy_allocation",
      (s, dir) => {
        val items = T(s, dir, "customer").select(
          (col("c_nationkey") % 5).cast("int").as("yr"),
          col("c_custkey").as("area"),
          col("c_acctbal").as("price"),
          // exact-integer capacities (cents as doubles) keep the running sum
          // associative-order-free on the oracle compare surface
          cents(greatest(col("c_acctbal"), lit(0.0))).cast("double").as("cap"))
        val budgets = items.select(col("yr")).distinct()
          .withColumn("budget", lit(1.0e7)) // 100k units in cents
        GreedyAllocator.allocate(items, budgets, "yr", "price", "cap",
            "budget", tiebreakCols = Seq("area"))
          .select(col("yr"), col("area"), col("price"), col("price_rank"),
            (col("allocated") / 100.0).as("allocated"))
      },
      Some(s"""WITH items AS (
          SELECT CAST(c_nationkey % 5 AS INTEGER) AS yr, c_custkey AS area,
            c_acctbal AS price,
            CAST(${sqlCents("greatest(c_acctbal, 0.0)")} AS DOUBLE) AS cap
          FROM customer),
        r AS (SELECT yr, area, price, cap,
            CAST(row_number() OVER (PARTITION BY yr ORDER BY price ASC, area ASC)
              AS INTEGER) AS price_rank,
            COALESCE(sum(cap) OVER (PARTITION BY yr ORDER BY price ASC, area ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS consumed
          FROM items)
        SELECT yr, area, price, price_rank,
          greatest(0.0, least(cap, 10000000.0 - consumed))/100.0 AS allocated
        FROM r"""),
      bench = true),

    // ---- the rank-1-capped greedy (RePurposeOptimizer.cappedGreedy): the
    // reference's chinese-contract-rate rule — the cheapest item may take at
    // most half the year's budget (RE_purpose_optimizer.py:196-200) — still
    // collapses to one window pass: take₁ = min(rate·B, cap₁) broadcast via
    // a year window, later ranks clamp against B − take₁ − Σ later caps.
    // Caps are exact integer cents so the window sums are order-free. ----
    Q("m03_capped_greedy",
      (s, dir) => {
        val items = T(s, dir, "customer").select(
          (col("c_nationkey") % 5).cast("int").as("year"),
          col("c_custkey").as("area"),
          col("c_acctbal").as("price"),
          cents(greatest(col("c_acctbal"), lit(0.0))).cast("double").as("cap"))
          .withColumn("budget", lit(1.0e7))
        graft.model.RePurposeOptimizer.cappedGreedy(items,
            rankOn = col("price"), budget = col("budget"), cap = col("cap"),
            rank1Rate = 0.5, takeCol = "allocated", tiebreak = Seq(col("area")))
          .select(col("year"), col("area"), col("price_rank"),
            (col("allocated") / 100.0).as("allocated"))
      },
      Some(s"""WITH items AS (
          SELECT CAST(c_nationkey % 5 AS INTEGER) AS year, c_custkey AS area,
            c_acctbal AS price,
            CAST(${sqlCents("greatest(c_acctbal, 0.0)")} AS DOUBLE) AS cap,
            1.0e7 AS budget
          FROM customer),
        r AS (SELECT *, CAST(row_number() OVER (PARTITION BY year
            ORDER BY price ASC, area ASC) AS INTEGER) AS price_rank FROM items),
        t AS (SELECT *,
            max(CASE WHEN price_rank = 1 THEN least(0.5*budget, cap)
                ELSE 0.0 END) OVER (PARTITION BY year) AS take1,
            COALESCE(sum(CASE WHEN price_rank >= 2 THEN cap END)
              OVER (PARTITION BY year ORDER BY price ASC, area ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
              AS later_consumed
          FROM r)
        SELECT year, area, price_rank,
          CASE WHEN price_rank = 1 THEN least(0.5*budget, cap)
               ELSE greatest(0.0, least(cap, budget - take1 - later_consumed))
          END / 100.0 AS allocated
        FROM t""")),

    // ---- WACC discounting via a literal factor lookup (broadcast join) ----
    Q("m02_wacc_discount",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val factors = waccFactors.toDF("yr", "factor")
        val yearly = T(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("yr"))
          .agg(sum(cents(col("o_totalprice"))).as("rc"))
        yearly.join(broadcast(factors), Seq("yr"))
          .select(col("yr"), (col("rc") / 100.0).as("revenue"),
            ((col("rc") / 100.0) / col("factor")).as("discounted_revenue"))
      },
      Some {
        val vals = waccFactors.map { case (y, f) => s"($y, $f)" }.mkString(", ")
        s"""WITH yearly AS (
            SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
              ${sqlSumC("o_totalprice")} AS rc
            FROM orders GROUP BY 1)
          SELECT yr, rc/100.0 AS revenue, (rc/100.0)/factor AS discounted_revenue
          FROM yearly JOIN (VALUES $vals) f(yr, factor) USING (yr)"""
      }),

    // ---- per-group OLS trend (closed form) — the distributed version of
    // the reference simulator's history→trend fit
    // (Model/Factory_elect_simulator_update.py:183-233 fits per-factory
    // rates; here: revenue-vs-month slope per order priority). Two
    // partial-aggregable groupBys: monthly cents rollup, then the five
    // moment sums (n, Σx, Σy, Σxy, Σx²) — every moment exact int64, so
    // slope numerator n·Σxy−Σx·Σy and denominator n·Σx²−(Σx)² are
    // bit-exact at any partition count; only the final display division is
    // float. No driver-side fitting, no per-group model objects — a million
    // groups fit the same way as five. ----
    Q("q50_ols_trend",
      (s, dir) => {
        val monthly = T(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("priority"),
            // month index since 1992-01: keeps x small so the int64 moment
            // products n·Σxy / sx·sy hold headroom up to sf ≫ 1
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 23904)
              .cast("long").as("x"))
          .agg(sum(cents(col("o_totalprice"))).as("y"))
        monthly.groupBy(col("priority"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(col("priority"), col("n"),
            (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
            (col("n") * col("sxx") - col("sx") * col("sx")).as("den"))
          .withColumn("slope_cents_per_month",
            col("num").cast("double") / col("den"))
      },
      Some(s"""WITH monthly AS (
          SELECT o_orderpriority AS priority,
            CAST(year(o_orderdate)*12 + month(o_orderdate) - 23904 AS BIGINT) AS x,
            ${sqlSumC("o_totalprice")} AS y
          FROM orders GROUP BY 1, 2),
        m AS (SELECT priority, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx
          FROM monthly GROUP BY 1)
        SELECT priority, n, n*sxy - sx*sy AS num, n*sxx - sx*sx AS den,
          CAST(n*sxy - sx*sy AS DOUBLE) / (n*sxx - sx*sx)
            AS slope_cents_per_month
        FROM m"""), bench = true)
  )
}
