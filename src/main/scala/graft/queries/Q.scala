package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query plus (when SQL-expressible) its DuckDB oracle.
  *
  * The engine side is a lazy DataFrame plan — Catalyst pushes filters and
  * projections into the parquet scan and picks join strategies; nothing here
  * hand-materializes intermediates the way the reference's eager pandas steps
  * do (reference: jobs/raw_to_staging.py passim).
  *
  * Determinism contract for oracle hash-matching: any aggregate over a double
  * money column goes through an exact-integer formulation
  * ([[graft.functions.Money]]) so the sum is associative and identical under
  * Spark's 32-partition partial aggregation and DuckDB's single-threaded scan.
  * Column names and result types are aligned on both sides.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** in the bench set ([[graft.SparkEntry.benchNames]]): cheap enough +
      * representative enough for the sf0.1 bench; PERF.md records why the
      * gate-only queries stay out */
    bench: Boolean = false)

object Q {
  /** Parquet table loader for a scale-factor directory, memoized per
    * (session, dir, table). `spark.read.parquet` pays a driver-side file
    * listing + footer schema read on every call; the registry resolves the
    * same handful of immutable testdata tables across 114 queries × several
    * passes, so reusing the resolved relation (file index + schema) shaves
    * a constant off every query's plan time — part of the measured
    * 0.2–0.5 s/query floor that dominates sub-second queries at sf0.1.
    * Safe because the testdata dirs never change within a session; anything
    * reading a dir it also writes must NOT come through here. */
  def T(s: SparkSession, dir: String, n: String): DataFrame =
    graft.core.Memo(s, s"table:$dir/$n")(s.read.parquet(s"$dir/$n.parquet"))

  /** The events table with `ts` normalized ([[graft.core.Tables.events]]),
    * memoized like [[T]]. */
  def TEvents(s: SparkSession, dir: String): DataFrame =
    graft.core.Memo(s, s"table-events:$dir")(graft.core.Tables.events(s, dir))

  /** DuckDB-side exact cents: same IEEE expression as [[graft.functions.Money.cents]]. */
  def sqlCents(x: String): String = s"CAST(floor(($x)*100+0.5) AS BIGINT)"
  /** DuckDB-side exact 1e-4 units (2-decimal × 2-decimal products). */
  def sqlE4(x: String): String = s"CAST(floor(($x)*10000+0.5) AS BIGINT)"
  /** DuckDB sum of BIGINT yields HUGEINT; clamp back for schema parity. */
  def sqlSumC(x: String): String = s"CAST(sum(${sqlCents(x)}) AS BIGINT)"
  def sqlSumE4(x: String): String = s"CAST(sum(${sqlE4(x)}) AS BIGINT)"
}
