package graft.jobs

import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** Failure isolation covers what one job can get wrong, not what breaks the
  * JVM: a job's exception is reported and the DAG goes on, while an error
  * such as OutOfMemoryError ends the run instead of being booked as one
  * job's failure. */
class PipelineSpec extends SparkSpec {

  test("a job that throws a RuntimeException fails isolated; the run goes on") {
    val n = new Pipeline.CollectingNotifier
    val failed = Pipeline.run(spark, Seq(
      Pipeline.Job("boom", _ => throw new RuntimeException("bad input")),
      Pipeline.Job("after", _ => ())), n)
    assert(failed == Seq("boom"))
    assert(n.events.toList ==
      List(("failure", "boom: bad input"), ("success", "after")))
  }

  test("a job that throws OutOfMemoryError ends the run") {
    val n = new Pipeline.CollectingNotifier
    var ranAfter = false
    val e = intercept[OutOfMemoryError] {
      Pipeline.run(spark, Seq(
        Pipeline.Job("oom", _ => throw new OutOfMemoryError("constructed")),
        Pipeline.Job("after", _ => ranAfter = true)), n)
    }
    assert(e.getMessage == "constructed")
    assert(n.events.isEmpty && !ranAfter)
  }

  test("no catch case in src/main matches Throwable") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory,
      s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val hits = for {
      f <- files(root)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if line.contains(": Throwable =>")
    } yield s"${f.getName}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
