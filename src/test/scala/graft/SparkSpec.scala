package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (getOrCreate in a forked test
  * JVM reuses the first): Verify's check profile on four cores. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.build(Session.Profile.Check, 4)

  val sfSmoke = "/root/testdata/sf0.001"

  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Run `body` with SQL confs set, restoring prior values after (the
    * session is shared across suites — leaked confs would cross-talk). */
  def withSqlConf[A](confs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val saved = confs.map { case (k, _) => k -> conf.getOption(k) }
    confs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
