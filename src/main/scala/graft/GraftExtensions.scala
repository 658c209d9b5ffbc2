package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** Session-extensions entry point: makes every graft custom Catalyst
  * function available to ANY session of an application configured with
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * — the idiomatic library-distribution path (`SparkSessionExtensions
  * .injectFunction`), as opposed to the per-session temp registration the
  * operators do lazily for themselves. Injection happens at session
  * build, survives `newSession()`, and needs no driver code changes: the
  * SQL surface (§2.11) can call `simhash`, `dot_fixed_point`,
  * `shingle_hash64`, `shingle_hash64_pos`, `lsh_bucket_bits`,
  * `contains_ignoring_separators`, `bloom_filter_agg` and `might_contain`
  * directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier(Simhash.FnName),
      info(Simhash.FnName,
        "simhash(tokens) - 64-char '0'/'1' SimHash fingerprint of a string array (over a group: simhash(collect_list(tok)))"),
      (exprs: Seq[Expression]) => Simhash.fromExprs(exprs)))
    ext.injectFunction((
      FunctionIdentifier(DotFixedPoint.FnName),
      info(DotFixedPoint.FnName,
        "dot_fixed_point(a, b) - exact dot product of two x1e9 fixed-point long arrays"),
      (exprs: Seq[Expression]) => DotFixedPoint(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier(ShingleHash64.FnName),
      info(ShingleHash64.FnName,
        "shingle_hash64(text, k) - distinct xxhash64 hashes of word k-gram shingles"),
      (exprs: Seq[Expression]) => ShingleHash64.fromExprs(exprs)))
    ext.injectFunction((
      FunctionIdentifier(ShingleHash64.PosFnName),
      info(ShingleHash64.PosFnName,
        "shingle_hash64_pos(text, k) - xxhash64 of every word k-gram shingle, index = start position"),
      (exprs: Seq[Expression]) => ShingleHash64.fromExprsPos(exprs)))
    ext.injectFunction((
      FunctionIdentifier(LshBucketBits.FnName),
      info(LshBucketBits.FnName,
        "lsh_bucket_bits(vec, nPlanes, dim) - '0'/'1' LSH sign-projection bucket of a x1e9 fixed-point long vector"),
      (exprs: Seq[Expression]) => LshBucketBits.fromExprs(exprs)))
    ext.injectFunction((
      FunctionIdentifier(ContainsIgnoringSeparators.FnName),
      info(ContainsIgnoringSeparators.FnName,
        "contains_ignoring_separators(haystack, needle) - containment after stripping ' ', ':', '_'"),
      (exprs: Seq[Expression]) => ContainsIgnoringSeparators(exprs(0), exprs(1))))
    // Spark's internal runtime-filter sketch pair, surfaced for in-plan
    // membership prefilters (see graft.functions.BloomSketch scaladoc)
    ext.injectFunction((
      FunctionIdentifier(BloomSketch.AggFnName),
      info(BloomSketch.AggFnName,
        "bloom_filter_agg(long_value[, est_items[, num_bits]]) - binary Bloom-filter sketch of a group of longs"),
      BloomSketch.aggFromExprs _))
    ext.injectFunction((
      FunctionIdentifier(BloomSketch.ProbeFnName),
      info(BloomSketch.ProbeFnName,
        "might_contain(bloom, long_value) - Bloom-filter membership probe (no false negatives)"),
      BloomSketch.probeFromExprs _))
  }
}
