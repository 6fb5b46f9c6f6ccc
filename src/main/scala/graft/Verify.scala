package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: run only these query names (local iteration)
    val only = args.drop(2).toSet
    val spark = Session.build(Session.Profile.Check, Session.cpus())
    // loud (non-fatal) schema-drift diagnosis before anything runs
    graft.core.Contract.warn(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // standing zero-row vacuity audit (q08 went quietly vacuous for ten
    // rounds before an ad-hoc sweep caught it): a gate whose output is
    // empty passes the hash compare trivially, so every empty output is
    // recorded in verify_report.json and warned loudly here. Counting the
    // WRITTEN parquet is footer-metadata-only — no recompute.
    val zeroRows = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        if (spark.read.parquet(s"$outDir/$name").count() == 0L) {
          zeroRows += name
          System.err.println(s"[verify] WARNING: $name wrote 0 rows — " +
            "a vacuous gate passes any hash compare; check the predicate")
        }
      }
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the audit artifact of record — the driver's compare doesn't read it,
    // but the round's review does: zero_rows must stay empty
    Files.writeString(Paths.get(s"$outDir/verify_report.json"),
      zeroRows.toSeq.sorted.map(q).mkString("{\"zero_rows\": [", ",", "]}"))
    spark.stop()
  }
}
