package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Bench.writeArtifact]] as a plain write (no Spark session
  * needed): a cut lands at the path it is given whatever its probes read,
  * and replaces what was there. Host quietness travels inside the artifact
  * as its `probe_quiet` field, never as a different file name.
  */
class BenchArtifactSpec extends AnyFunSuite {

  private def withDir(f: Path => Unit): Unit = {
    val d = Files.createTempDirectory("bench_artifact")
    try f(d)
    finally {
      d.toFile.listFiles().foreach(_.delete()); Files.deleteIfExists(d)
    }
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8").trim

  private val quietJson   = """{"metric":"total","value":1.0,"probe_quiet":true}"""
  private val flaggedJson = """{"metric":"total","value":9.0,"probe_quiet":false}"""

  test("quiet cut lands at the record path") {
    withDir { d =>
      val p = d.resolve("BENCH.json").toString
      Bench.writeArtifact(quietJson, p)
      assert(read(d.resolve("BENCH.json")) == quietJson)
      assert(!Files.exists(d.resolve("BENCH.json.flagged")))
    }
  }

  test("flagged cut may replace a flagged or unproven record") {
    withDir { d =>
      val p = d.resolve("BENCH.json").toString
      // pre-gate artifact: no probe_quiet field at all
      Files.write(d.resolve("BENCH.json"), """{"metric":"total","value":5.0}""".getBytes("UTF-8"))
      Bench.writeArtifact(flaggedJson, p)
      assert(read(d.resolve("BENCH.json")) == flaggedJson,
        "an unproven record does not block a fresher (still flagged) cut")
      Bench.writeArtifact(flaggedJson.replace("9.0", "8.0"), p)
      assert(read(d.resolve("BENCH.json")).contains("8.0"),
        "flagged-over-flagged keeps freshness")
    }
  }
}
