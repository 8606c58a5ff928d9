package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}
import org.apache.spark.sql.graft.ColumnBridge

/** Nearest centroid by squared euclidean distance: the IVF coarse
  * quantizer's cell assignment as ONE codegen'd loop.
  *
  * `nearest_centroid(vec, centroids)` returns the index of the centroid
  * with the least d² = v·v − 2·v·c + c·c, each dot the VecDot fold
  * (index-ascending from 0.0), compared with Spark's double ordering
  * (`SQLOrderingUtil.compareDoubles`: NaN above everything, −0.0 = 0.0)
  * and ties to the LOWEST cell. That is the (d², cell) order of the
  * composed forms it replaces — the `array_min` over per-cell structs
  * and the `min(struct(d2, cell))` argmin after a broadcast fan-out,
  * both kept as references in NearestCentroidSpec — so the kernel is
  * bit-identical to either. Every IVF cell assignment goes through it:
  * [[graft.sim.IvfCosine.assignByCentroids]] with an array grid,
  * [[graft.sim.IvfCosine.assignByCentroidsDf]] with a (cell, cvec)
  * frame collected on the driver, and index maintenance.
  *
  * `centroids` must be foldable (an array<array<double|float>> literal):
  * the matrix and its self-dots are evaluated once per expression and
  * handed to the generated class as ONE reference object. The plan holds
  * one literal node, not nlist of them, and the generated source is the
  * same for every centroid set of the same plan shape, so one compiled
  * class serves them all. `vec` is array<float|double>; a null vector
  * yields a null cell, and a vector whose length differs from the
  * centroids' dimension fails with both lengths named.
  */
object NearestCentroid {
  def apply(vec: Column, centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(NearestCentroidExpr(ColumnBridge.expression(vec),
      Literal.create(centroids, ArrayType(
        ArrayType(DoubleType, containsNull = false), containsNull = false))))

  /** `(centroids, self-dots)` of a foldable centroid-matrix expression. */
  private[functions] def matrix(e: Expression): (Array[Array[Double]],
      Array[Double]) = {
    // a null matrix reads as empty and a null row as zero-length, which
    // the type check reports as "no centroid" / "not one dimension"
    val outer = Option(e.eval().asInstanceOf[ArrayData])
    val et = e.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[ArrayType].elementType
    val m = Array.tabulate(outer.fold(0)(_.numElements())) { c =>
      Option(outer.get.getArray(c)).fold(Array.empty[Double])(row =>
        Array.tabulate(row.numElements())(i =>
          if (et == FloatType) row.getFloat(i).toDouble
          else row.getDouble(i)))
    }
    (m, m.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    })
  }

  /** Argmin over the centroids of one vector already widened to doubles
    * (the interpreted path; the generated code is the same loop). */
  private[functions] def argmin(x: Array[Double],
      cents: Array[Array[Double]], norms: Array[Double]): Int = {
    val n = x.length
    var vv = 0.0; var i = 0
    while (i < n) { vv += x(i) * x(i); i += 1 }
    var best = 0; var bestD = 0.0; var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var vc = 0.0; i = 0
      while (i < n) { vc += x(i) * cv(i); i += 1 }
      val d = vv - 2.0 * vc + norms(c)
      if (c == 0 || SQLOrderingUtil.compareDoubles(d, bestD) < 0) {
        best = c; bestD = d
      }
      c += 1
    }
    best
  }

  private[functions] def mismatch(n: Int, dim: Int) =
    new IllegalArgumentException(s"nearest_centroid length mismatch: " +
      s"vector has $n elements, centroids have $dim")
}

case class NearestCentroidExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable

  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left.dataType), right.dataType) match {
      case (None, _) => TypeCheckResult.TypeCheckFailure(
        s"nearest_centroid requires an array<float|double> vector, got " +
          s"${left.dataType}")
      case (_, ArrayType(inner, _)) if elemType(inner).isDefined =>
        if (!right.foldable) TypeCheckResult.TypeCheckFailure(
          "nearest_centroid requires a constant centroid matrix")
        else {
          val m = cents
          if (m.isEmpty) TypeCheckResult.TypeCheckFailure(
            "nearest_centroid requires at least one centroid")
          else if (m.exists(_.length != m.head.length))
            TypeCheckResult.TypeCheckFailure(
              "nearest_centroid requires centroids of one dimension")
          else TypeCheckResult.TypeCheckSuccess
        }
      case (_, other) => TypeCheckResult.TypeCheckFailure(
        s"nearest_centroid requires array<array<float|double>> " +
          s"centroids, got $other")
    }

  @transient private lazy val mat = NearestCentroid.matrix(right)
  private def cents = mat._1
  private def norms = mat._2
  private def floatVec = elemType(left.dataType).contains(FloatType)

  override def eval(input: InternalRow): Any = {
    val v = left.eval(input)
    if (v == null) null
    else {
      val a = v.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (n != cents.head.length)
        throw NearestCentroid.mismatch(n, cents.head.length)
      val x = Array.tabulate(n)(i =>
        if (floatVec) a.getFloat(i).toDouble else a.getDouble(i))
      NearestCentroid.argmin(x, cents, norms)
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val vec = left.genCode(ctx)
    // the matrix and its self-dots enter as reference objects: their
    // values never appear in the generated source
    val cs = ctx.addReferenceObj("cents", cents, "double[][]")
    val nm = ctx.addReferenceObj("norms", norms, "double[]")
    // one widened copy of the vector per row, in a buffer reused across
    // rows (grown when a longer vector arrives)
    val buf = ctx.addMutableState("double[]", "ncBuf",
      v => s"$v = new double[0];")
    val get = if (floatVec) "(double) %s.getFloat(%s)" else "%s.getDouble(%s)"
    val Seq(n, i, c, vv, vc, d, best, bestD, cv) = Seq("n", "i", "c", "vv",
      "vc", "d", "best", "bestD", "cv").map(ctx.freshName)
    val ord = "org.apache.spark.sql.catalyst.util.SQLOrderingUtil"
    val m = ctx.freshName("m")
    ev.copy(code = code"""
      |${vec.code}
      |boolean ${ev.isNull} = ${vec.isNull};
      |int ${ev.value} = -1;
      |if (!${ev.isNull}) {
      |  double[][] $m = $cs;
      |  int $n = ${vec.value}.numElements();
      |  if ($n != $m[0].length) {
      |    throw new IllegalArgumentException(
      |      "nearest_centroid length mismatch: vector has " + $n +
      |      " elements, centroids have " + $m[0].length);
      |  }
      |  if ($buf.length < $n) $buf = new double[$n];
      |  double $vv = 0.0;
      |  for (int $i = 0; $i < $n; $i++) {
      |    $buf[$i] = ${get.format(vec.value, i)};
      |    $vv += $buf[$i] * $buf[$i];
      |  }
      |  int $best = 0;
      |  double $bestD = 0.0;
      |  for (int $c = 0; $c < $m.length; $c++) {
      |    double[] $cv = $m[$c];
      |    double $vc = 0.0;
      |    for (int $i = 0; $i < $n; $i++) {
      |      $vc += $buf[$i] * $cv[$i];
      |    }
      |    double $d = $vv - 2.0 * $vc + $nm[$c];
      |    if ($c == 0 || $ord.compareDoubles($d, $bestD) < 0) {
      |      $best = $c;
      |      $bestD = $d;
      |    }
      |  }
      |  ${ev.value} = $best;
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
  override def prettyName: String = "nearest_centroid"
  // the matrix prints as its shape, not its nlist × dim values
  private def shape: String = right.dataType match {
    case ArrayType(ArrayType(_, _), _) if right.foldable =>
      scala.util.Try(s"<${cents.length}x${cents.head.length}>")
        .getOrElse(right.toString)
    case _ => right.toString
  }
  override def sql: String = s"$prettyName(${left.sql}, $shape)"
  override def toString: String = s"$prettyName($left, $shape)"
}
