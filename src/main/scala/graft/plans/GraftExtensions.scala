package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{CmsBuildAgg, CmsCountExpr, CmsMergeAgg, CmsQueryExpr, HeavyHitters, HllDistinct, HllEstimate, HllMergeAgg, HllSketchAgg, HllUnionEstimate, KllBuildAgg, KllCountExpr, KllMergeAgg, KllQuantileExpr, KllRankExpr, KmvDistinct, KmvEstimate, KmvIntersectEstimate, KmvJaccardEstimate, KmvMergeAgg, KmvSketchAgg, KmvUnionEstimate, TopK, VecSumAgg}

/** Engine extensions. Two registration paths for the same function list
  * ([[GraftExtensions.functions]]):
  *
  *  - `spark.sql.extensions=graft.plans.GraftExtensions` at session build
  *    (the proper deployment hook), or
  *  - [[GraftExtensions.registerRuntime]] on an existing session (used by
  *    graft.Catalog, because the driver harness owns the session builder).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => RewriteDotProduct)
  }
}

object GraftExtensions {

  type SqlFunction = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_], usage: String)(
      builder: Seq[Expression] => Expression): SqlFunction =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, null, name, usage, ""), builder)

  private def intLitAt(children: Seq[Expression], pos: Int, fn: String): Int =
    children(pos) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be an integer literal, got $other")
    }

  private def intLit(children: Seq[Expression], fn: String): Int =
    children(1) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$fn(col, k): k must be an integer literal, got $other")
    }

  private def bloomBuilder(children: Seq[Expression]): Expression = {
    val bytes = children(1) match {
      case Literal(b: Array[Byte], org.apache.spark.sql.types.BinaryType) => b
      case other => throw new IllegalArgumentException(
        s"graft_bloom_might_contain(key, filter): filter must be a binary literal, got $other")
    }
    BloomMightContain(children.head, bytes)
  }

  /** Every graft_* SQL function, registered by both paths. */
  val functions: Seq[SqlFunction] = Seq(
    fn("graft_dot", classOf[DotProduct],
      "graft_dot(x, y) - dot product of two float/double arrays with double accumulation in array order.")(
      c => DotProduct(c(0), c(1))),
    fn("graft_dot_long", classOf[DotProductLong],
      "graft_dot_long(x, y) - exact int64 dot product of two bigint/int arrays; " +
        "NULL on length mismatch or null elements; overflow throws.")(
      c => DotProductLong(c(0), c(1))),
    fn("graft_sqdist_long", classOf[SqDistLong],
      "graft_sqdist_long(x, y) - exact int64 squared L2 distance of two bigint/int " +
        "arrays; NULL on length mismatch or null elements; overflow throws.")(
      c => SqDistLong(c(0), c(1))),
    fn("graft_jaro_winkler", classOf[JaroWinkler],
      "graft_jaro_winkler(a, b) - Jaro-Winkler similarity in [0,1]; " +
        "prefix boost (cap 4, p=0.1) applied only when jaro > 0.7.")(
      c => JaroWinkler(c(0), c(1))),
    fn("graft_dtw", classOf[Dtw],
      "graft_dtw(a, b, w) - banded (Sakoe-Chiba |i-j| <= w) dynamic-time-" +
        "warping distance of two bigint arrays; exact int64; -1 when empty " +
        "or the band cannot connect the endpoints.")(
      c => Dtw(c(0), c(1), c(2))),
    fn("graft_lz76", classOf[Lz76],
      "graft_lz76(s) - Lempel-Ziv 1976 production complexity (phrase count " +
        "of the exhaustive-history parsing); exact integer, 0 for empty.")(
      c => Lz76(c(0))),
    fn("graft_hex32", classOf[Hex32],
      "graft_hex32(h) - first-8-hex-chars value of a (md5) hash string; " +
        "value-identical to the portable 8-term instr/substring chain.")(
      c => Hex32(c(0))),
    fn("graft_lcs", classOf[Lcs],
      "graft_lcs(a, b) - longest-common-subsequence length of two strings " +
        "(Wagner-Fischer DP); exact integer, 0 when either side is empty.")(
      c => Lcs(c(0), c(1))),
    fn("graft_kmv_distinct", classOf[KmvDistinct],
      "graft_kmv_distinct(col, k) - KMV distinct-count sketch estimate with k minimum values.")(
      c => KmvDistinct(c.head, intLit(c, "graft_kmv_distinct")).toAggregateExpression()),
    fn("graft_heavy_hitters", classOf[HeavyHitters],
      "graft_heavy_hitters(col, k) - Misra-Gries frequent-items sketch with k counters; " +
        "returns array<struct<item,est>> sorted by estimate desc.")(
      c => HeavyHitters(c.head, intLit(c, "graft_heavy_hitters")).toAggregateExpression()),
    fn("graft_rolling_hash", classOf[RollingHash],
      "graft_rolling_hash(s, k) - all k-gram Rabin-Karp rolling hashes of s " +
        "(base 1000003, mod 2^32) as array<bigint>, computed in one O(n) pass.")(
      c => RollingHash(c.head, intLit(c, "graft_rolling_hash"))),
    fn("graft_deletion_hashes", classOf[DeletionHashes],
      "graft_deletion_hashes(s, k) - FastSS deletion-neighborhood signatures for " +
        "edit-distance <= k candidate generation (k in {1,2}): one 64-bit hash per " +
        "variant of s with at most k characters deleted, as array<bigint>.")(
      c => DeletionHashes(c.head, intLit(c, "graft_deletion_hashes"))),
    fn("graft_topk", classOf[TopK],
      "graft_topk(col, k) - k largest values as a descending array<double>; " +
        "O(k) heap state per group, map-side combinable.")(
      c => TopK(c.head, intLit(c, "graft_topk")).toAggregateExpression()),
    fn("graft_vec_sum", classOf[VecSumAgg],
      "graft_vec_sum(arr) - element-wise sum of equal-length double/float arrays " +
        "as array<double>; O(d) state per group, map-side combinable.")(
      c => VecSumAgg(c.head).toAggregateExpression()),
    fn("graft_bloom_might_contain", classOf[BloomMightContain],
      "graft_bloom_might_contain(key, filter) - codegen'd membership probe of key " +
        "against a serialized Bloom filter (stat.bloomFilter layout).")(
      bloomBuilder),

    // The KMV sketch-column algebra (KmvSetOps.scala): build / merge
    // aggregates plus estimate / union / intersect / jaccard scalars.
    fn("graft_kmv_sketch", classOf[KmvSketchAgg],
      "graft_kmv_sketch(col, k) - KMV sketch of the column's distinct values as binary.")(
      c => KmvSketchAgg(c.head, intLit(c, "graft_kmv_sketch")).toAggregateExpression()),
    fn("graft_kmv_merge", classOf[KmvMergeAgg],
      "graft_kmv_merge(sketch, k) - union of already-built KMV sketches as binary.")(
      c => KmvMergeAgg(c.head, intLit(c, "graft_kmv_merge")).toAggregateExpression()),
    fn("graft_kmv_estimate", classOf[KmvEstimate],
      "graft_kmv_estimate(sketch) - distinct-count estimate of a KMV sketch.")(
      c => KmvEstimate(c.head)),
    fn("graft_kmv_union", classOf[KmvUnionEstimate],
      "graft_kmv_union(a, b) - estimated |A ∪ B| from two KMV sketches.")(
      c => KmvUnionEstimate(c(0), c(1))),
    fn("graft_kmv_intersect", classOf[KmvIntersectEstimate],
      "graft_kmv_intersect(a, b) - estimated |A ∩ B| from two KMV sketches.")(
      c => KmvIntersectEstimate(c(0), c(1))),
    fn("graft_kmv_jaccard", classOf[KmvJaccardEstimate],
      "graft_kmv_jaccard(a, b) - estimated Jaccard similarity from two KMV sketches.")(
      c => KmvJaccardEstimate(c(0), c(1))),

    // The HyperLogLog sketch-column algebra (Hll.scala): constant-size
    // (2^p bytes) distinct counting — distinct / build / merge aggregates
    // plus estimate / union scalars.
    fn("graft_hll_distinct", classOf[HllDistinct],
      "graft_hll_distinct(col, p) - HyperLogLog distinct-count estimate with 2^p registers.")(
      c => HllDistinct(c.head, intLit(c, "graft_hll_distinct")).toAggregateExpression()),
    fn("graft_hll_sketch", classOf[HllSketchAgg],
      "graft_hll_sketch(col, p) - HyperLogLog register file of the column's distinct values as binary.")(
      c => HllSketchAgg(c.head, intLit(c, "graft_hll_sketch")).toAggregateExpression()),
    fn("graft_hll_merge", classOf[HllMergeAgg],
      "graft_hll_merge(sketch, p) - register-wise-max rollup of already-built HLL sketches as binary.")(
      c => HllMergeAgg(c.head, intLit(c, "graft_hll_merge")).toAggregateExpression()),
    fn("graft_hll_estimate", classOf[HllEstimate],
      "graft_hll_estimate(sketch) - distinct-count estimate of an HLL sketch.")(
      c => HllEstimate(c.head)),
    fn("graft_hll_union", classOf[HllUnionEstimate],
      "graft_hll_union(a, b) - estimated |A ∪ B| from two equal-precision HLL sketches.")(
      c => HllUnionEstimate(c(0), c(1))),

    // The KLL quantile-sketch column algebra (KllQuantile.scala): build /
    // merge aggregates plus quantile / rank / exact-n scalars.
    fn("graft_kll_sketch", classOf[KllBuildAgg],
      "graft_kll_sketch(col, k) - KLL quantile sketch of a numeric column as binary.")(
      c => KllBuildAgg(c.head, intLit(c, "graft_kll_sketch")).toAggregateExpression()),
    fn("graft_kll_merge", classOf[KllMergeAgg],
      "graft_kll_merge(sketch, k) - merge of already-built KLL sketches as binary.")(
      c => KllMergeAgg(c.head, intLit(c, "graft_kll_merge")).toAggregateExpression()),
    fn("graft_kll_quantile", classOf[KllQuantileExpr],
      "graft_kll_quantile(sketch, q) - quantile probe of a KLL sketch; NULL when empty.")(
      c => KllQuantileExpr(c(0), c(1))),
    fn("graft_kll_rank", classOf[KllRankExpr],
      "graft_kll_rank(sketch, x) - estimated fraction of mass <= x; NULL when empty.")(
      c => KllRankExpr(c(0), c(1))),
    fn("graft_kll_n", classOf[KllCountExpr],
      "graft_kll_n(sketch) - exact total count folded into a KLL sketch.")(
      c => KllCountExpr(c.head)),

    // The Count-Min sketch-column algebra (CountMin.scala): build / merge
    // aggregates plus point-frequency / exact-n scalars.
    fn("graft_cms_sketch", classOf[CmsBuildAgg],
      "graft_cms_sketch(col, depth, width) - Count-Min frequency sketch of a string column as binary.")(
      c => CmsBuildAgg(c.head, intLitAt(c, 1, "graft_cms_sketch"),
        intLitAt(c, 2, "graft_cms_sketch")).toAggregateExpression()),
    fn("graft_cms_merge", classOf[CmsMergeAgg],
      "graft_cms_merge(sketch) - elementwise rollup of already-built CMS sketches as binary.")(
      c => CmsMergeAgg(c.head).toAggregateExpression()),
    fn("graft_cms_query", classOf[CmsQueryExpr],
      "graft_cms_query(sketch, item) - one-sided frequency estimate (never undercounts).")(
      c => CmsQueryExpr(c(0), c(1))),
    fn("graft_cms_n", classOf[CmsCountExpr],
      "graft_cms_n(sketch) - exact total count folded into a CMS sketch.")(
      c => CmsCountExpr(c.head)))

  /** Idempotent runtime registration on an already-built session. Each
    * function is registered once per session: re-registering would log
    * Spark's "replaced a previously registered function" warning for
    * every name on every query.
    */
  def registerRuntime(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }
    if (!spark.experimental.extraOptimizations.contains(RewriteDotProduct)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteDotProduct
    }
  }
}
