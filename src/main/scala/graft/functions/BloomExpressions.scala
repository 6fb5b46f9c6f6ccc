package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, lit, xxhash64}

/** Bloom-filter semi-join reduction kernels — the runtime-filter pattern
  * (Spark's own `spark.sql.optimizer.runtime.bloomFilter` inserts exactly
  * this shape) exposed as an explicit, deterministic operator.
  *
  * Why it matters at 100 TB: a fact⋈dim join where the dim side is selective
  * shuffles the ENTIRE fact table today; a bloom built over the dim keys and
  * applied as a fact-side filter BEFORE the exchange cuts shuffle volume to
  * ~(matching + fpp) of the fact rows. The bloom is a few MB regardless of
  * fact size (numBits sized from the dim-side key count), the build is a
  * partial-aggregable agg (per-partition blooms merge by bitwise OR), and
  * false positives are removed by the join itself, so the composed result is
  * EXACT — which is what puts it on the DuckDB oracle gate (q48).
  *
  * These are Spark's native codegen'd expressions (`BloomFilterAggregate`,
  * `BloomFilterMightContain`), injected as `graft_bloom_agg` /
  * `graft_bloom_contains` by [[graft.GraftExtensions]] — no UDF, no
  * interpreted path.
  */
object BloomExpressions {

  /** Aggregate a bloom filter over `xxhash64(key)`. `expectedItems` is the
    * dim-side distinct-key estimate; `numBits` trades memory for fpp
    * (~0.03 at numBits = 8 × items). Returns a binary column (1 row). */
  def bloomAgg(key: Column, expectedItems: Long, numBits: Long): Column =
    call_function("graft_bloom_agg", xxhash64(key), lit(expectedItems), lit(numBits))

  /** Membership probe against a driver-collected bloom image. The literal is
    * broadcast with the task closure exactly like a broadcast-join hash map. */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    call_function("graft_bloom_contains", lit(bloom), xxhash64(key))
}
