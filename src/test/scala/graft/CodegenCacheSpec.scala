package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The generated-code cache holds a plan working set larger than Spark's
  * default of 100 classes: a second round of the same 200 distinct plans
  * compiles nothing. With the default cache the first plans are evicted
  * before they run again, and the second round recompiles them. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a re-run of 200 distinct plans is served from the codegen cache") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "512")
    def round(): Long = {
      val before = compiles()
      (0 until 200).foreach { i =>
        spark.range(10).selectExpr(s"id + $i")
          .write.format("noop").mode("overwrite").save()
      }
      compiles() - before
    }
    val first = round()
    assert(first > 100, s"first round compiled $first classes")
    val second = round()
    assert(second == 0, s"second round recompiled $second classes")
  }
}
