package graft.core

import java.time.{LocalDate, YearMonth}

/** Injectable clock + the reference's month-window arithmetic.
  *
  * The reference derives every incremental-refresh window from `dt.now()`
  * scattered through the jobs (reference: helpers/decarb_date.py:5-27,
  * jobs/raw_to_staging.py:100-124) and makes it testable in exactly one place
  * by patching `get_now` (reference: tests/helpers_decarb_date_test.py:8-36).
  * Here the seam is a trait: production uses [[SystemClock]], tests pass a
  * [[FixedClock]] — no mocking framework needed.
  */
trait Clock {
  def today: LocalDate
}

object SystemClock extends Clock {
  override def today: LocalDate = LocalDate.now(java.time.ZoneOffset.UTC)
}

final case class FixedClock(today: LocalDate) extends Clock

/** Port of the reference's date-window helpers
  * (reference: helpers/decarb_date.py:9-27): the previous month's [start, end]
  * closed interval, with the January→December-of-last-year rollover, plus the
  * current-year window used by the raw→staging jobs
  * (reference: jobs/raw_to_staging.py:100-124).
  */
object DecarbDate {

  /** First and last day of the month before `clock.today`. */
  def previousMonthWindow(clock: Clock): (LocalDate, LocalDate) = {
    val prev = YearMonth.from(clock.today).minusMonths(1)
    (prev.atDay(1), prev.atEndOfMonth())
  }

  /** Rolling N-month window ending at the previous month (reference:
    * jobs/staging_to_app.py:1081-1085 loops the last 12 months). */
  def rollingMonths(clock: Clock, n: Int): (LocalDate, LocalDate) = {
    val prev = YearMonth.from(clock.today).minusMonths(1)
    (prev.minusMonths(n.toLong - 1).atDay(1), prev.atEndOfMonth())
  }

  /** One reporting window per quarter elapsed this year — the green-energy
    * overview's quarter branching (reference: jobs/renew_green_energy.py:
    * 67-104): the Q1 iteration reports last year's Q4 over the whole previous
    * year; later iterations report this year's previous quarter over the
    * months 1..quarter-end. `periodEnd` is the month-START of the window's
    * last month, as in the reference. */
  final case class QuarterWindow(year: Int, quarter: String, quarterNum: Int,
                                 periodStart: LocalDate, periodEnd: LocalDate)

  def reportingQuarters(clock: Clock): Seq[QuarterWindow] = {
    val today = clock.today
    val y = today.getYear
    (1 to today.getMonthValue by 3).map {
      case i if i <= 3 =>
        QuarterWindow(y - 1, "Q4", 4, LocalDate.of(y - 1, 1, 1), LocalDate.of(y - 1, 12, 1))
      case i if i <= 6 =>
        QuarterWindow(y, "Q1", 1, LocalDate.of(y, 1, 1), LocalDate.of(y, 3, 1))
      case i if i <= 9 =>
        QuarterWindow(y, "Q2", 2, LocalDate.of(y, 1, 1), LocalDate.of(y, 6, 1))
      case _ =>
        QuarterWindow(y, "Q3", 3, LocalDate.of(y, 1, 1), LocalDate.of(y, 9, 1))
    }
  }
}
