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

  test("the SPARK_GRAFT_* knobs src/main reads are exactly README's table") {
    val root = new java.io.File("src/main/scala")
    val readme = new java.io.File("README.md")
    assert(root.isDirectory && readme.isFile,
      s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    def read(f: java.io.File) =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val knob = "SPARK_GRAFT_[A-Z0-9_]+".r
    val inCode = files(root).flatMap(f => knob.findAllIn(read(f))).toSet
    val row = "^\\| `(SPARK_GRAFT_[A-Z0-9_]+)` \\|".r.unanchored
    val inTable = read(readme).linesIterator
      .collect { case row(name) => name }.toSet
    assert(inCode.nonEmpty)
    assert(inCode == inTable,
      s"in code only: ${inCode -- inTable}; in README only: ${inTable -- inCode}")
  }
}
