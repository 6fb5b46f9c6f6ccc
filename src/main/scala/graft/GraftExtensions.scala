package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{GraphExpressions, TextExpressions, TimeExpressions, VectorExpressions}

/** Catalyst extension entry point and the one place anything is added to a
  * session: every native `graft_*` function, the as-of planner strategy and
  * its two optimizer rules. [[Session.conf]] sets it as
  * `spark.sql.extensions`, so ANY session built with that conf (spark-sql,
  * thrift server, notebooks) can call every function with no graft code
  * running first, and nothing on a query path registers anything.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator tier: the native as-of join (graft.plans.AsofJoinNode
    // -> AsofJoinExec)
    ext.injectPlannerStrategy(_ => new graft.plans.AsofJoinStrategy)
    // optimizer tier: teach Catalyst the as-of node's algebra — these run
    // inside the fixed-point operator-optimization batch, so filters pushed
    // through the node keep flowing down to the parquet scans
    ext.injectOptimizerRule(_ => graft.plans.AsofFilterPushdown)
    ext.injectOptimizerRule(_ => graft.plans.AsofPayloadPruning)
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in"),
        builder))
    }
  }
}

object GraftExtensions {

  // literal arguments (gram length, hash parameters, merge pair) fold into
  // the expression when the call is resolved
  private def int(e: Expression): Int = e.eval(null).asInstanceOf[Number].intValue()
  private def long(e: Expression): Long = e.eval(null).asInstanceOf[Number].longValue()
  private def str(e: Expression): String = e.eval(null).asInstanceOf[UTF8String].toString

  /** (name, usage, builder) of every native function; the Column helpers in
    * `graft.functions` call them by name. */
  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = {
    import TextExpressions._, VectorExpressions._
    Seq(
      ("graft_char_grams",
        "distinct character n-grams of a string, first-occurrence order",
        e => DistinctCharGrams(e(0), int(e(1)))),
      ("graft_word_grams",
        "distinct space-separated word n-grams of a string, first-occurrence order",
        e => DistinctWordGrams(e(0), int(e(1)))),
      ("graft_word_gram_windows",
        "every space-separated word n-gram window of a string, in position order",
        e => WordGramWindows(e(0), int(e(1)))),
      ("graft_minhash_sig",
        "k-component md5 MinHash signature of an array<string>",
        e => MinHashSignature(e(0), int(e(1)))),
      ("graft_bpe_merge",
        "one BPE merge of the adjacent pair (a, b) over a space-separated symbol string",
        e => BpeMergeApply(e(0), str(e(1)), str(e(2)))),
      ("graft_bpe_pairs",
        "adjacent symbol pairs of a space-separated symbol string",
        e => BpeSymPairs(e(0))),
      ("graft_rolling_min_hash",
        "minimum Rabin-Karp polynomial hash over all n-char windows",
        e => RollingMinHash(e(0), int(e(1)), long(e(2)), long(e(3)))),
      ("graft_sorted_intersect_size",
        "intersection size of two sorted duplicate-free array<int>",
        e => SortedIntersectSize(e(0), e(1))),
      ("graft_quantized_dot",
        "exact quantized (1e-3) integer dot product of two array<float>",
        e => QuantizedDot(e(0), e(1))),
      ("graft_quantized_norm2",
        "exact quantized (1e-3) integer squared L2 norm of array<float>",
        e => QuantizedNorm2(e(0))),
      ("graft_nearest_centroid",
        "argmin struct(dist, cluster) of a quantized vector over a foldable centroid matrix",
        e => NearestCentroid(e(0), e(1), e(2))),
      ("graft_quantize_vec",
        "exact quantized (1e-3) array<int> of an array<float>",
        e => QuantizeVec(e(0))),
      ("graft_prequantized_dot",
        "integer dot product of two pre-quantized array<int>",
        e => PreQuantizedDot(e(0), e(1))),
      ("graft_unordered_pairs",
        "all unordered pairs of a distinct array<bigint> as struct(a=min, b=max)",
        e => GraphExpressions.UnorderedPairs(e(0))),
      ("graft_asof_pick_sorted",
        "payload of the latest entry at or before a time in a time-sorted struct array",
        e => TimeExpressions.AsofPickSorted(e(0), e(1))),
      ("graft_bloom_agg",
        "bloom filter over hashed keys (expected items, number of bits)",
        e => new BloomFilterAggregate(e(0), e(1), e(2))),
      ("graft_bloom_contains",
        "whether a bloom filter might contain a hashed key",
        e => BloomFilterMightContain(e(0), e(1))))
  }
}
