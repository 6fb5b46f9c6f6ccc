package graft.functions

import graft.SparkSpec

class FinancialSpec extends SparkSpec {
  import spark.implicits._

  test("irr of (-100, +110) is 10%") {
    assert(approx(Financial.irr(Seq(-100.0, 110.0)), 0.10, 1e-7))
  }

  test("irr of a multi-year stream matches the polynomial root") {
    val r = Financial.irr(Seq(-1000.0, 400.0, 400.0, 400.0))
    // npv(r) == 0 is the defining property
    val npv = Seq(-1000.0, 400.0, 400.0, 400.0).zipWithIndex
      .map { case (cf, i) => cf / math.pow(1 + r, i) }.sum
    assert(math.abs(npv) < 1e-6)
    assert(r > 0.09 && r < 0.10) // ~9.7%
  }

  test("irr is NaN without a sign change") {
    assert(Financial.irr(Seq(10.0, 20.0)).isNaN)
    assert(Financial.irr(Seq(-10.0, -20.0)).isNaN)
  }

  test("cagr of (100 -> 121 over 2 steps) is 10%") {
    assert(approx(Financial.cagr(Seq(100.0, 110.0, 121.0)), 0.10, 1e-9))
  }

  test("aggregators sort by key across partitions before computing") {
    // rows deliberately out of order and spread over partitions
    val df = Seq((2, 110.0), (0, -100.0), (1, 0.0)).toDF("yr", "cf")
      .repartition(3)
    val gotIrr = df.agg(Financial.irrAgg($"yr", $"cf").as("irr"))
      .as[Double].head()
    // -100 + 0/(1+r) + 110/(1+r)^2 = 0  =>  r = sqrt(1.1) - 1
    assert(approx(gotIrr, math.sqrt(1.1) - 1.0, 1e-6))

    val df2 = Seq((2025, 121.0), (2023, 100.0), (2024, 999.0))
      .toDF("yr", "v").repartition(3)
    val gotCagr = df2.agg(Financial.cagrAgg($"yr", $"v").as("cagr"))
      .as[Double].head()
    assert(approx(gotCagr, 0.10, 1e-9)) // middle value irrelevant: first/last
  }

  test("money cents rounding is half-up and exact") {
    val got = Seq(1.005, 2.675, -3.145).toDF("x")
      .select(Money.cents($"x")).as[Long].collect().toSeq
    // IEEE doubles: 1.005*100 = 100.4999... -> 100; 2.675*100 = 267.5000...6
    // -> 268; -3.145*100 = -314.4999... -> -314 (same bits in every engine)
    assert(got == Seq(100L, 268L, -314L))
  }

  test("irr roots random sign-changing cashflows: NPV at the rate is ~0 (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    // one initial outlay, then positive inflows whose sum exceeds it —
    // the unique-positive-IRR shape (Descartes: one sign change)
    val gen = for {
      outlay <- Gen.choose(50, 500)
      n <- Gen.choose(2, 8)
      inflows <- Gen.listOfN(n, Gen.choose(20, 300))
    } yield (-outlay.toDouble) +: inflows.map(_.toDouble)
    val prop = Prop.forAll(gen) { flows =>
      (flows.sum > 0) ==> {
        val r = Financial.irr(flows)
        !r.isNaN && r > -1.0 && {
          val npv = flows.zipWithIndex
            .map { case (c, t) => c / math.pow(1.0 + r, t) }.sum
          math.abs(npv) < 1e-4 * flows.map(math.abs).sum
        }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }
}
