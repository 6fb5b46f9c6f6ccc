package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Numeric env knobs: unset takes the default, a set value is trimmed and
  * parsed, and a malformed one fails with the knob's name in the message. */
class EnvSpec extends AnyFunSuite {

  private def rejects(name: String)(parse: => Any): Unit = {
    val e = intercept[IllegalArgumentException](parse)
    assert(e.getMessage.contains(name), e.getMessage)
    assert(e.getMessage.contains("'12x'"), e.getMessage)
  }

  test("int: default, trimmed value, malformed value names the knob") {
    assert(Env.int("SPARK_GRAFT_PASSES", 2, Map.empty) == 2)
    assert(Env.int("SPARK_GRAFT_PASSES", 2, Map("SPARK_GRAFT_PASSES" -> " 5 ")) == 5)
    rejects("SPARK_GRAFT_SEMDEDUP_TILES")(
      Env.int("SPARK_GRAFT_SEMDEDUP_TILES", 256, Map("SPARK_GRAFT_SEMDEDUP_TILES" -> "12x")))
  }

  test("long: default, value past Int range, malformed value names the knob") {
    assert(Env.long("SPARK_GRAFT_SIG_CKPT_CAP", 200000L, Map.empty) == 200000L)
    assert(Env.long("SPARK_GRAFT_SIG_CKPT_CAP", 200000L,
      Map("SPARK_GRAFT_SIG_CKPT_CAP" -> "5000000000")) == 5000000000L)
    rejects("SPARK_GRAFT_SIG_CKPT_CAP")(
      Env.long("SPARK_GRAFT_SIG_CKPT_CAP", 200000L, Map("SPARK_GRAFT_SIG_CKPT_CAP" -> "12x")))
  }

  test("double: default, value, malformed value names the knob") {
    assert(Env.double("SPARK_GRAFT_SPIN_MEM_FLAG", 1.35, Map.empty) == 1.35)
    assert(Env.double("SPARK_GRAFT_SPIN_MEM_FLAG", 1.35,
      Map("SPARK_GRAFT_SPIN_MEM_FLAG" -> "2.5")) == 2.5)
    rejects("SPARK_GRAFT_SPIN_MEM_FLAG")(
      Env.double("SPARK_GRAFT_SPIN_MEM_FLAG", 1.35, Map("SPARK_GRAFT_SPIN_MEM_FLAG" -> "12x")))
  }
}
