package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{ExactPercentilesAgg, FastRoundExpr,
  InverseNormalCdfExpr, MedianMadAgg, MinHashSigsExpr, NearestCentroidExpr,
  NfcNormalizeExpr, SortedIntersectSizeExpr, VecDotExpr}

/** SQL-surface registration of the engine's native Catalyst expressions
  * (`spark.sql.extensions=graft.GraftExtensions`, or
  * `GraftFunctions.register(spark)` on a live session):
  *
  *   - `inv_norm_cdf(p)` — Acklam probit (the gaussianize kernel)
  *   - `vec_dot(a, b)` — fused dot product (the similarity kernel)
  *   - `nearest_centroid(v, centroids)` — argmin squared-euclidean cell
  *     over a constant centroid matrix (the IVF assignment kernel)
  *   - `sorted_intersect_size(a, b)` — two-pointer merge intersection
  *     (the n-gram Jaccard kernel)
  *   - `minhash_sigs(h1, h2, n)` — fused n-way minhash minimums
  *   - `median_mad(x)` — fused exact median + MAD aggregate (the
  *     robust-scaler kernel; one buffer, both statistics)
  *   - `fast_round(x, s)` — HALF_UP decimal round, bit-identical to
  *     Spark's `round` on doubles via a guarded binary fast path
  *   - `exact_percentiles(x, array(p...))` — exact multi-percentile
  *     over a primitive value buffer (the quantile/winsorize kernel)
  *
  * This closes the loop on SURVEY.md §2.11: the same codegen'd kernels
  * the DataFrame operators use are addressable from plain `spark.sql`,
  * so a SQL-first user of the engine loses nothing.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.definitions.foreach(ext.injectFunction)
}

object GraftFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions", null, name, usage, "")

  val definitions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("inv_norm_cdf"),
      info("inv_norm_cdf", "inv_norm_cdf(p) - inverse normal CDF (probit)"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "inv_norm_cdf expects 1 argument")
        InverseNormalCdfExpr(args.head)
      }),
    (FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of numeric arrays"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "vec_dot expects 2 arguments")
        VecDotExpr(args(0), args(1))
      }),
    (FunctionIdentifier("nearest_centroid"),
      info("nearest_centroid", "nearest_centroid(v, centroids) - index " +
        "of the nearest centroid by squared euclidean distance (ties to " +
        "the lowest index; centroids a constant array of arrays)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "nearest_centroid expects 2 arguments")
        NearestCentroidExpr(args(0), args(1))
      }),
    (FunctionIdentifier("sorted_intersect_size"),
      info("sorted_intersect_size",
        "sorted_intersect_size(a, b) - |a ∩ b| for sorted bigint arrays"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "sorted_intersect_size expects 2 arguments")
        SortedIntersectSizeExpr(args(0), args(1))
      }),
    (FunctionIdentifier("fast_round"),
      info("fast_round",
        "fast_round(x, s) - HALF_UP decimal round, bit-identical to " +
          "round(x, s) on doubles with a guarded binary fast path"),
      (args: Seq[Expression]) => {
        require(args.length == 2 && args(1).foldable &&
          args(1).dataType == org.apache.spark.sql.types.IntegerType,
          "fast_round expects (double, int literal)")
        FastRoundExpr(
          org.apache.spark.sql.catalyst.expressions.Cast(
            args.head, org.apache.spark.sql.types.DoubleType),
          args(1).eval().asInstanceOf[Int])
      }),
    (FunctionIdentifier("exact_percentiles"),
      info("exact_percentiles",
        "exact_percentiles(x, array(p...)) - percentile(x, array(p...)) " +
          "over a primitive value buffer (same interpolation estimator)"),
      (args: Seq[Expression]) => {
        require(args.length == 2 && args(1).foldable,
          "exact_percentiles expects (double, foldable double array)")
        // SQL decimal literals (array(0.5, 0.9)) arrive as Decimal —
        // convert elementwise rather than assuming a double array
        val ps = (args(1).eval(), args(1).dataType) match {
          case (a: org.apache.spark.sql.catalyst.util.ArrayData,
              org.apache.spark.sql.types.ArrayType(et, _)) =>
            (0 until a.numElements()).map(i => a.get(i, et) match {
              case d: java.lang.Number => d.doubleValue()
              case d: org.apache.spark.sql.types.Decimal => d.toDouble
              case other => throw new IllegalArgumentException(
                s"exact_percentiles: non-numeric percentage $other")
            })
          case (other, _) => throw new IllegalArgumentException(
            s"exact_percentiles: expected an array literal, got $other")
        }
        ExactPercentilesAgg(
          org.apache.spark.sql.catalyst.expressions.Cast(
            args.head, org.apache.spark.sql.types.DoubleType), ps)
      }),
    (FunctionIdentifier("median_mad"),
      info("median_mad",
        "median_mad(x) - array(median(x), median(abs(x - median(x))))"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "median_mad expects 1 argument")
        MedianMadAgg(org.apache.spark.sql.catalyst.expressions.Cast(
          args.head, org.apache.spark.sql.types.DoubleType))
      }),
    (FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize",
        "nfc_normalize(s) - Unicode NFC normalization (UAX #15), " +
          "same transform as DuckDB's nfc_normalize"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "nfc_normalize expects 1 argument")
        NfcNormalizeExpr(args.head)
      }),
    (FunctionIdentifier("topk_by"),
      info("topk_by",
        "topk_by(score, id, k) - k best (score DESC, id ASC) pairs as " +
          "array<struct<score,id>>, partial-aggregated map-side"),
      (args: Seq[Expression]) => {
        require(args.length == 3 && args(2).foldable &&
          args(2).dataType == org.apache.spark.sql.types.IntegerType,
          "topk_by expects (double, bigint, int literal)")
        graft.functions.TopKByAgg(
          org.apache.spark.sql.catalyst.expressions.Cast(
            args(0), org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.catalyst.expressions.Cast(
            args(1), org.apache.spark.sql.types.LongType),
          args(2).eval().asInstanceOf[Int])
      }),
    (FunctionIdentifier("minhash_sigs"),
      info("minhash_sigs",
        "minhash_sigs(h1, h2, n) - n minhash values min_j(h1[j] + i*h2[j])"),
      (args: Seq[Expression]) => {
        require(args.length == 3 &&
          args(2).foldable && args(2).dataType ==
            org.apache.spark.sql.types.IntegerType,
          "minhash_sigs expects (array, array, int literal)")
        MinHashSigsExpr(args(0), args(1),
          args(2).eval().asInstanceOf[Int])
      })
  )

  /** Register on a live session (tests / notebooks where the session
    * predates the config). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    definitions.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
