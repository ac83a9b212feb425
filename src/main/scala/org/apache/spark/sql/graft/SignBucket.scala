package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native Catalyst expression for the random-hyperplane LSH hot path: the
  * sign-bit bucket id of a vector against a literal plane matrix —
  * `sum_b (dot(v, plane_b) >= 0 ? 1<<b : 0)`.
  *
  * Why a custom `Expression`: the composable form is `nPlanes` per-plane
  * `aggregate(zip_with(...))` dot products — higher-order functions, which
  * are CodegenFallback in Spark. With 4 tables × 12 planes × 64 dims that
  * is ~3k interpreted lambda frames per row on the bucketing projection
  * (the dominant cost of `dedup_embedding`/`sim_topk_lsh` at bench).
  * This emits two tight scalar loops over a referenced `double[][]`
  * inside whole-stage codegen. The inner fold is
  * sequential left-to-right per plane — the same IEEE accumulation order as
  * the HOF form and as the DuckDB oracle's `list_aggregate('sum')`, so
  * bucket ids (and therefore the hash-verified LSH results) are
  * bit-identical.
  *
  * Reference ancestor: min-over-hashed-projections seeding
  * (`/root/reference/SparKMeansGroupByPlusPlus.java:82-96`) — the sketch
  * cousin of the nearest-center argmin, generalized to sign projections.
  */
case class SignBucket(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression with ExpectsInputTypes {

  require(planes.nonEmpty && planes.length <= 31,
    "1..31 planes (bucket is a positive int)")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType))

  override def dataType: DataType = IntegerType

  // nullable even over a non-null child: a vector shorter than the plane
  // dimension yields null (filterable malformed row) instead of an
  // ArrayIndexOutOfBounds that fails the query (round-4 ADVICE).
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData].toDoubleArray()
    if (v.length < planes(0).length) return null
    var bucket = 0
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      var s = 0.0
      var j = 0
      while (j < p.length) { s += v(j) * p(j); j += 1 }
      if (s >= 0) bucket += (1 << b)
      b += 1
    }
    bucket
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, arr => {
      val v = ctx.freshName("v")
      val bucket = ctx.freshName("bucket")
      val b = ctx.freshName("b")
      val p = ctx.freshName("p")
      val s = ctx.freshName("s")
      val j = ctx.freshName("j")
      s"""
         |double[] $v = $arr.toDoubleArray();
         |if ($v.length < $planesRef[0].length) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $bucket = 0;
         |  for (int $b = 0; $b < $planesRef.length; $b++) {
         |    double[] $p = $planesRef[$b];
         |    double $s = 0.0;
         |    for (int $j = 0; $j < $p.length; $j++) {
         |      $s += $v[$j] * $p[$j];
         |    }
         |    if ($s >= 0) $bucket += (1 << $b);
         |  }
         |  ${ev.value} = $bucket;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : SignBucket = copy(child = newChild)
}

object SignBucket {
  /** Int bucket-id column of `v` against the plane matrix. */
  def column(v: Column, planes: Array[Array[Double]]): Column =
    ExpressionUtils.column(SignBucket(ExpressionUtils.expression(v), planes))
}
