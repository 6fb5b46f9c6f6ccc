package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Money.cents
import Q._

/** Event-stream analytics over the `events` table, expressed as batch plans
  * that are Structured-Streaming-shaped: tumbling-window aggregation,
  * dedup-keep-first, and gaps-and-islands sessionization are exactly the
  * transforms `readStream` + watermark would run incrementally
  * (graft.streaming contains the streaming variant; the reference itself is
  * batch-only — SURVEY.md §2.9 — its incremental-refresh analogue is S7).
  *
  * Scale notes: all windows partition by `user_id` (high-cardinality,
  * well-distributed) — at 100 TB this is one shuffle each, no skew hot-spot;
  * the hourly rollup is a plain partial-aggregable groupBy.
  */
object EventQueries {

  /** Events with `ts` normalized to TIMESTAMP regardless of how the current
    * testdata generation encodes it (TIMESTAMP(NANOS) → legacy Long nanos,
    * `timestamp[us]` → TIMESTAMP_NTZ, …) — the dispatch lives in
    * [[graft.core.Tables.events]] so every consumer (batch, SQL views,
    * streaming, specs) agrees. Memoized per (session, dir) via [[Q.TEvents]]. */
  private def events(s: org.apache.spark.sql.SparkSession, dir: String) =
    Q.TEvents(s, dir)

  val all: Seq[Q] = Seq(

    // ---- JSON extraction from a string props column (reference keeps JSON
    // driver-side, Model/Factory_elect_simulator_update.py:815-826; here it is
    // columnar so the extract stays inside codegen) ----
    Q("e01_json_extract",
      (s, dir) => {
        val ev = events(s, dir)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
            (sum(col("k")).cast("double") / count(lit(1)).cast("double")).as("avg_k"))
      },
      Some("""SELECT event_type, count(*) AS n,
        CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        CAST(CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS DOUBLE)
          / CAST(count(*) AS DOUBLE) AS avg_k
        FROM events GROUP BY event_type"""),
      bench = true),

    // ---- tumbling time-window aggregation (streaming-shaped rollup) ----
    Q("e02_hourly_rollup",
      (s, dir) => {
        events(s, dir)
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            (sum(cents(col("value"))) / 100.0).as("total_value"))
      },
      Some(s"""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour, event_type, count(*) AS n,
        ${sqlSumC("value")}/100.0 AS total_value
        FROM events GROUP BY 1, 2"""),
      bench = true),

    // ---- dedup keep-first-by-time (streaming dropDuplicates analogue).
    // Keep-first is an order-insensitive aggregate, not a window: min over
    // struct(ts, event_id) is lexicographic (earliest ts, then lowest id —
    // exactly the old row_number(ORDER BY ts, event_id)=1 pick), and an
    // aggregate combines MAP-SIDE, so the shuffle carries one struct per
    // (user, type) group per map partition instead of every event row,
    // and nothing sorts. Measured sf10: 18.9 s (window form, spilled
    // full-row sort) → aggregate form in PERF.md; at 100 TB the window
    // form shuffles the whole fact table, this shuffles ~|groups|. ----
    Q("e03_dedup_first",
      (s, dir) => {
        events(s, dir)
          .groupBy(col("user_id"), col("event_type"))
          .agg(min(struct(col("ts"), col("event_id"))).as("m"))
          .select(col("user_id"), col("event_type"),
            col("m.event_id").as("event_id"), col("m.ts").as("ts"))
      },
      Some("""SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                ORDER BY ts ASC, event_id ASC) AS rn
              FROM events) x
        WHERE rn = 1"""),
      bench = true),

    // ---- as-of join: attach to each purchase the most recent prior (or
    // simultaneous) click by the same user — pandas merge_asof semantics,
    // which Spark lacks as a built-in operator. Engine side is
    // Relational.asofJoin (union + one window = ONE shuffle, linear — never
    // the quadratic join-then-argmax); the oracle is DuckDB's native
    // ASOF LEFT JOIN, so the two implementations are fully independent. ----
    Q("e05_asof_join",
      (s, dir) => {
        val ev = events(s, dir)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_event_id"),
            col("ts").as("p_ts"), col("value").as("p_value"))
        // dedup clicks at identical (user, ts) keep-max-id: makes the as-of
        // pick deterministic in both engines at any scale
        val c = graft.operators.Relational.latest(
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("c_event_id"),
              col("ts").as("c_ts")),
          Seq("user_id", "c_ts"), Seq("c_event_id"))
        graft.operators.Relational
          .asofJoin(p, c, Seq("user_id"), "p_ts", "c_ts")
          .withColumn("gap_sec",
            unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts")))
      },
      Some("""WITH p AS (
          SELECT user_id, event_id AS p_event_id, CAST(ts AS TIMESTAMP) AS p_ts,
            value AS p_value
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT user_id, c_event_id, c_ts FROM (
            SELECT user_id, event_id AS c_event_id, CAST(ts AS TIMESTAMP) AS c_ts,
              row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click') x
          WHERE rn = 1)
        SELECT p.user_id, p_event_id, p_ts, p_value, c_event_id, c_ts,
          date_diff('second', c_ts, p_ts) AS gap_sec
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.p_ts >= c.c_ts"""),
      bench = true),

    // ---- the SAME as-of semantics through the custom whole-operator tier:
    // graft.plans.AsofJoin (native LogicalPlan -> AsofJoinExec sorted merge,
    // injected via GraftExtensions). Identical oracle as e05, so the gate
    // proves the custom physical operator AND the composed form against
    // DuckDB's native ASOF independently. ----
    Q("e06_asof_native",
      (s, dir) => {
        val ev = events(s, dir)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_event_id"),
            col("ts").as("p_ts"), col("value").as("p_value"))
        val c = graft.operators.Relational.latest(
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("c_event_id"),
              col("ts").as("c_ts")),
          Seq("user_id", "c_ts"), Seq("c_event_id"))
        graft.plans.AsofJoin
          .asof(p, c, Seq("user_id"), "p_ts", "c_ts")
          .withColumn("gap_sec",
            unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts")))
      },
      Some("""WITH p AS (
          SELECT user_id, event_id AS p_event_id, CAST(ts AS TIMESTAMP) AS p_ts,
            value AS p_value
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT user_id, c_event_id, c_ts FROM (
            SELECT user_id, event_id AS c_event_id, CAST(ts AS TIMESTAMP) AS c_ts,
              row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click') x
          WHERE rn = 1)
        SELECT p.user_id, p_event_id, p_ts, p_value, c_event_id, c_ts,
          date_diff('second', c_ts, p_ts) AS gap_sec
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.p_ts >= c.c_ts"""), bench = true),

    // ---- the SAME as-of semantics a THIRD way: broadcast form. The click
    // history packs into one time-sorted array per user, broadcasts, and
    // each purchase binary-searches its user's history in place (native
    // codegen AsofPickSorted) — ZERO shuffle of the purchase side, the plan
    // for the price-attach shape where the left side is the 100 TB one and
    // the right side is dimension-sized. Identical oracle as e05/e06, so
    // the gate proves all three independent implementations against DuckDB's
    // native ASOF; PlanAuditSpec pins the no-left-exchange property. ----
    Q("e10_asof_broadcast",
      (s, dir) => {
        val ev = events(s, dir)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_event_id"),
            col("ts").as("p_ts"), col("value").as("p_value"))
        val c = graft.operators.Relational.latest(
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("c_event_id"),
              col("ts").as("c_ts")),
          Seq("user_id", "c_ts"), Seq("c_event_id"))
        graft.operators.Relational
          .asofJoinBroadcast(p, c, Seq("user_id"), "p_ts", "c_ts")
          .withColumn("gap_sec",
            unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts")))
      },
      Some("""WITH p AS (
          SELECT user_id, event_id AS p_event_id, CAST(ts AS TIMESTAMP) AS p_ts,
            value AS p_value
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT user_id, c_event_id, c_ts FROM (
            SELECT user_id, event_id AS c_event_id, CAST(ts AS TIMESTAMP) AS c_ts,
              row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click') x
          WHERE rn = 1)
        SELECT p.user_id, p_event_id, p_ts, p_value, c_event_id, c_ts,
          date_diff('second', c_ts, p_ts) AS gap_sec
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.p_ts >= c.c_ts"""),
      bench = true),

    // ---- FORWARD as-of join (pandas merge_asof direction='forward'): for
    // each view, the FIRST subsequent click by the same user — time-to-
    // conversion analysis. Engine: Relational.asofJoinForward (the same
    // one-shuffle union+window, descending scan). The oracle is fully
    // independent: a correlated min-subquery picks the next click time,
    // then a join on the deduped (user, ts) key recovers its id. ----
    Q("e08_asof_forward",
      (s, dir) => {
        val ev = events(s, dir)
        val v = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("v_event_id"),
            col("ts").as("v_ts"))
        val c = graft.operators.Relational.latest(
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("c_event_id"),
              col("ts").as("c_ts")),
          Seq("user_id", "c_ts"), Seq("c_event_id"))
        graft.operators.Relational
          .asofJoinForward(v, c, Seq("user_id"), "v_ts", "c_ts")
          .withColumn("wait_sec",
            unix_timestamp(col("c_ts")) - unix_timestamp(col("v_ts")))
      },
      Some("""WITH v AS (
          SELECT user_id, event_id AS v_event_id, CAST(ts AS TIMESTAMP) AS v_ts
          FROM events WHERE event_type = 'view'),
        c AS (
          SELECT user_id, c_event_id, c_ts FROM (
            SELECT user_id, event_id AS c_event_id, CAST(ts AS TIMESTAMP) AS c_ts,
              row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click') x
          WHERE rn = 1),
        m AS (
          SELECT v.user_id, v_event_id, v_ts,
            (SELECT min(c_ts) FROM c
             WHERE c.user_id = v.user_id AND c.c_ts >= v.v_ts) AS c_ts
          FROM v)
        SELECT m.user_id, v_event_id, v_ts, c.c_event_id, m.c_ts,
          date_diff('second', v_ts, m.c_ts) AS wait_sec
        FROM m LEFT JOIN c ON c.user_id = m.user_id AND c.c_ts = m.c_ts"""),
      bench = true),

    // ---- a filter + narrow projection WRITTEN ABOVE the native as-of join:
    // without the engine's optimizer rules (plans.AsofFilterPushdown /
    // AsofPayloadPruning, injected via GraftExtensions) the custom node is an
    // optimization barrier — the filter would run post-join and both scans
    // would read every column. With them, the p_value predicate pushes into
    // the left scan, the user_id key predicate mirrors into BOTH scans'
    // PushedFilters, and the unused c_event_id payload column drops out of
    // the right ReadSchema (plan-asserted in AsofOptimizationSpec). ----
    Q("e07_asof_pushdown",
      (s, dir) => {
        val ev = events(s, dir)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_event_id"),
            col("ts").as("p_ts"), col("value").as("p_value"))
        val c = graft.operators.Relational.latest(
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("c_event_id"),
              col("ts").as("c_ts")),
          Seq("user_id", "c_ts"), Seq("c_event_id"))
        graft.plans.AsofJoin
          .asof(p, c, Seq("user_id"), "p_ts", "c_ts")
          .filter(col("user_id") < 75 && col("p_value") > 100.0)
          .select(col("user_id"), col("p_event_id"), col("p_ts"), col("c_ts"))
      },
      Some("""WITH p AS (
          SELECT user_id, event_id AS p_event_id, CAST(ts AS TIMESTAMP) AS p_ts,
            value AS p_value
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT user_id, c_event_id, c_ts FROM (
            SELECT user_id, event_id AS c_event_id, CAST(ts AS TIMESTAMP) AS c_ts,
              row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click') x
          WHERE rn = 1)
        SELECT p.user_id, p_event_id, p_ts, c_ts
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.p_ts >= c.c_ts
        WHERE p.user_id < 75 AND p.p_value > 100"""), bench = true),

    // ---- sessionization: 30-min-gap sessions via gaps-and-islands (the batch
    // equivalent of session_window / flatMapGroupsWithState) ----
    Q("e04_sessionize",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, dir)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, 1L)
              .otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(wRun))
          .groupBy(col("user_id"), col("sess_id"))
          .agg(count(lit(1)).as("n_events"), min(col("ts")).as("sess_start"),
            max(col("ts")).as("sess_end"))
      },
      Some("""WITH g AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
            lag(CAST(ts AS TIMESTAMP), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          FROM events),
        m AS (
          SELECT user_id, event_id, ts,
            CASE WHEN prev_ts IS NULL
                   OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_sess
          FROM g),
        sid AS (
          SELECT user_id, ts,
            CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
          FROM m)
        SELECT user_id, sess_id, count(*) AS n_events,
          min(ts) AS sess_start, max(ts) AS sess_end
        FROM sid GROUP BY user_id, sess_id"""),
      bench = true),

    // ---- left-outer interval attribution: every purchase emits a row,
    // attributed to each click by the same user in the preceding 30
    // minutes or padded with a null click (organic). Shuffle equi-join on
    // user_id with the interval as a post-filter (q25's shape) — at 100 TB
    // user_id is high-cardinality and uniform, AQE handles residual skew.
    // The streaming twin is EventStream.clickAttributionOuter, where the
    // null-padding point is the watermark's state-eviction proof
    // (EventStreamSpec). ----
    Q("e09_attribution_outer",
      (s, dir) => {
        val ev = events(s, dir)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"),
            col("ts").as("p_ts"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
            col("ts").as("c_ts"))
        p.join(c, col("user_id") === col("c_user") &&
            col("c_ts") <= col("p_ts") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"),
          "left_outer")
          .select(col("p_id"), col("user_id"), col("p_ts"), col("c_id"),
            col("c_ts"))
      },
      Some("""SELECT p.event_id AS p_id, p.user_id,
          CAST(p.ts AS TIMESTAMP) AS p_ts, c.event_id AS c_id,
          CAST(c.ts AS TIMESTAMP) AS c_ts
        FROM events p LEFT JOIN events c
          ON p.user_id = c.user_id AND c.event_type = 'click'
          AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
          AND CAST(c.ts AS TIMESTAMP)
              >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
        WHERE p.event_type = 'purchase'"""), bench = true),

    // ---- cohort retention triangle: users grouped by FIRST-activity week
    // (their cohort), counted in every subsequent week they return — the
    // standard retention analysis, and e11's companion (funnel = within-
    // journey conversion, retention = across-weeks comeback). Weeks are
    // date_trunc boundaries, week distance an exact day-diff / 7 (both
    // engines integer-exact); one distinct + two partial-aggregable
    // groupBys + a user_id equi-join — user_id is high-cardinality, no
    // skew, and the output is a cohorts×weeks-bounded triangle. ----
    Q("e12_retention",
      (s, dir) => {
        // r15: the cohort week is a per-user window min over the distinct
        // (user, week) set — the old weekly ⋈ cohort self-join recomputed
        // the distinct subtree on both sides (two event scans, two
        // full-distinct exchanges) to attach a value the window derives in
        // place. One scan, map-side-deduped distinct exchange, one
        // user-keyed window exchange of the deduped set, same rows.
        val ev = events(s, dir)
        val weekly = ev.select(col("user_id"),
          date_trunc("week", col("ts")).as("week")).distinct()
        val wU = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
        weekly.withColumn("cohort_week", min(col("week")).over(wU))
          .groupBy(col("cohort_week"),
            (datediff(col("week"), col("cohort_week")) / 7)
              .cast("long").as("weeks_since"))
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH weekly AS (
          SELECT DISTINCT user_id,
            date_trunc('week', CAST(ts AS TIMESTAMP)) AS week
          FROM events),
        cohort AS (SELECT user_id, min(week) AS cohort_week
          FROM weekly GROUP BY 1)
        SELECT c.cohort_week,
          CAST(date_diff('day', CAST(c.cohort_week AS DATE),
            CAST(w.week AS DATE)) // 7 AS BIGINT) AS weeks_since,
          CAST(count(*) AS BIGINT) AS n_users
        FROM weekly w JOIN cohort c ON w.user_id = c.user_id
        GROUP BY 1, 2"""),
      bench = true),

    // ---- ordered funnel analysis: view → (first click AFTER the first
    // view) → (first purchase AFTER that click), per user — the standard
    // event-analytics conversion funnel, with STRICT ordering (an earlier
    // purchase does not count, unlike e09's unordered attribution join).
    // Output: per-stage user counts + the exact summed inter-stage delay
    // in integer microseconds (order-free, hash-stable; averages derive).
    // Scale shape: one partial-aggregable groupBy per stage plus an
    // equi-join on user_id between stages — user_id is high-cardinality
    // and well-distributed, so each stage is one clean shuffle; the
    // funnel never self-joins raw events against raw events. At 100 TB
    // the per-stage frames would be cached between stages; at gate scale
    // the recompute is the measured floor. ----
    Q("e11_funnel",
      (s, dir) => {
        // r15 rebuild: the per-stage DAG (v → c → p, each stage a
        // filter + groupBy + user_id join, the three stage counts
        // re-deriving every upstream stage) recomputed v three times and
        // c twice — SIX event scans and ~six user-keyed exchanges per
        // run. The funnel's per-user state is three chained scalar
        // minima, all keyed on user_id, so ONE exchange suffices: three
        // stacked unbounded window minima over the same user partition
        // (t_view, then the first click strictly after it, then the
        // first purchase strictly after that — each `when` guard
        // reproduces the old stage's strict `ts >` filter; a user
        // missing a stage nulls the guard and every later stage, exactly
        // the old inner-join drop), one same-key per-user reduce (no
        // second exchange), one global aggregate, and an inline 3-row
        // stack. Event scans 6 → 1, exchanges ~6 → 2 (user_id + the
        // 1-row final); the integer-microsecond delay sums are the same
        // Σ(min-min) over the same user sets, so the hash is unchanged
        // (empty stages keep the old null sum via sum-over-empty).
        val ev = events(s, dir)
        val wU = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
        val perUser = ev
          .select(col("user_id"), col("ts"), col("event_type"))
          .withColumn("t_view",
            min(when(col("event_type") === "view", col("ts"))).over(wU))
          .withColumn("t_click",
            min(when(col("event_type") === "click" &&
              col("ts") > col("t_view"), col("ts"))).over(wU))
          .withColumn("t_buy",
            min(when(col("event_type") === "purchase" &&
              col("ts") > col("t_click"), col("ts"))).over(wU))
          .groupBy(col("user_id"))
          .agg(first(col("t_view")).as("t_view"),
            first(col("t_click")).as("t_click"),
            first(col("t_buy")).as("t_buy"))
        perUser
          .agg(count(col("t_view")).as("n1"),
            count(col("t_click")).as("n2"),
            sum(when(col("t_click").isNotNull,
              unix_micros(col("t_click")) - unix_micros(col("t_view"))))
              .as("d2"),
            count(col("t_buy")).as("n3"),
            sum(when(col("t_buy").isNotNull,
              unix_micros(col("t_buy")) - unix_micros(col("t_click"))))
              .as("d3"))
          .select(explode(array(
            struct(lit(1L).as("stage"), col("n1").as("n_users"),
              lit(0L).as("sum_delay_us")),
            struct(lit(2L).as("stage"), col("n2").as("n_users"),
              col("d2").as("sum_delay_us")),
            struct(lit(3L).as("stage"), col("n3").as("n_users"),
              col("d3").as("sum_delay_us")))).as("r"))
          .select(col("r.stage"), col("r.n_users"), col("r.sum_delay_us"))
      },
      Some("""WITH v AS (
          SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_view
          FROM events WHERE event_type = 'view' GROUP BY 1),
        c AS (
          SELECT e.user_id, v.t_view, min(CAST(e.ts AS TIMESTAMP)) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t_view
          GROUP BY 1, 2),
        p AS (
          SELECT e.user_id, c.t_click, min(CAST(e.ts AS TIMESTAMP)) AS t_buy
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase'
            AND CAST(e.ts AS TIMESTAMP) > c.t_click
          GROUP BY 1, 2)
        SELECT CAST(1 AS BIGINT) AS stage, CAST(count(*) AS BIGINT) AS n_users,
          CAST(0 AS BIGINT) AS sum_delay_us FROM v
        UNION ALL
        SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
          CAST(sum(epoch_us(t_click) - epoch_us(t_view)) AS BIGINT) FROM c
        UNION ALL
        SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
          CAST(sum(epoch_us(t_buy) - epoch_us(t_click)) AS BIGINT) FROM p"""),
      bench = true)
  )
}
