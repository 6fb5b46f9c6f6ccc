package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine's command-line mains, listed by name. The perfbench harness
  * is the only code that times a query, so a new timed runner (or any other
  * main) has to be added to this list, where a reviewer sees it. */
class EntryPointSpec extends AnyFunSuite {

  test("the objects in src/main that define main are exactly Verify, Explain, ScaleUp and StreamBench") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory,
      s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val obj = "\\bobject\\s+(\\w+)".r
    val main = "\\bdef\\s+main\\s*\\(".r
    // each `def main` belongs to the last object declared above it
    val mains = for {
      f <- files(root)
      src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      m <- main.findAllMatchIn(src)
    } yield obj.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
      .fold(s"${f.getName}: def main outside an object")(_.group(1))
    assert(mains.sorted == Seq("Explain", "ScaleUp", "StreamBench", "Verify"))
  }
}
