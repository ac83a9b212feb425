package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native Catalyst expression for the K-Means hot path: distance from a
  * point column to every center of a broadcast-sized literal center matrix,
  * returning struct(cid, dist) of the argmin (ties → lowest cid, matching
  * the struct-ordering argmin it replaces; an all-NaN distance row — i.e. a
  * NaN coordinate in the point — deterministically claims cid=0 rather
  * than emitting an out-of-range cid).
  *
  * Why a custom `Expression`: the composable form — k per-center `aggregate(
  * zip_with(...))` subtrees — builds on higher-order functions, which are
  * CodegenFallback in Spark: every row pays k interpreted lambda walks plus
  * k zip-array allocations. This expression participates in whole-stage
  * codegen (`doGenCode` emits one call to [[assign]], which runs the shared
  * argmin kernel [[NearestCenter.nearest]] over the point in place; the
  * centers never serialize per row) and allocates nothing but the output
  * struct. Same floating-point fold order (sequential left-to-right per
  * dimension), so results are bit-identical to the HOF form and all
  * oracles are unaffected.
  *
  * A point whose length is not the centers' dimension fails the query
  * with an `IllegalArgumentException` (the kernel's check), in the
  * interpreted path, the generated path and [[NearestCenterSums]] alike.
  *
  * Lives under org.apache.spark.sql because the Column↔Expression lift
  * (`ExpressionUtils`) and `AbstractDataType` are private[sql] — the
  * standard packaging for third-party native expressions.
  *
  * `metric`: 0 = squared Euclidean (the reference's default paradigm),
  * 1 = Manhattan/L1 (`--paradigm 1`,
  * `/root/reference/SparKMeansGroupBy.java:44`).
  */
case class NearestCenter(child: Expression, centers: Array[Array[Double]],
    metric: Int) extends UnaryExpression with ExpectsInputTypes {

  require(centers.nonEmpty, "centers must be non-empty")
  require(metric == 0 || metric == 1, "metric: 0=sqEuclidean, 1=manhattan")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType))

  override def dataType: DataType = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))

  /** struct(cid, dist) of the center nearest `v`: the one body behind
    * the interpreted and the generated path. */
  def assign(v: ArrayData): InternalRow = {
    val c = NearestCenter.nearest(v, centers, metric)
    new GenericInternalRow(Array[Any](c,
      NearestCenter.distance(v, centers(c), metric)))
  }

  override def nullSafeEval(input: Any): Any =
    assign(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCenter", this,
      classOf[NearestCenter].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.assign($v);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCenter = copy(child = newChild)
}

object NearestCenter {
  /** The center matrix of a driver-side center set, checked: non-empty,
    * cids positional (collectCenters assigns index order; a future
    * non-positional caller fails loudly instead of mis-assigning) and one
    * shared dimension. */
  def matrix(centers: Array[(Int, Array[Double])]): Array[Array[Double]] = {
    require(centers.nonEmpty, "centers must be non-empty")
    val d = centers.head._2.length
    centers.zipWithIndex.foreach { case ((cid, c), i) =>
      require(cid == i, s"centers must be positional, got cid=$cid at $i")
      require(c.length == d,
        s"center $cid has dimension ${c.length}, center 0 has $d")
    }
    centers.map(_._2)
  }

  /** Distance from `v` to one center: sequential left-to-right fold per
    * dimension (squared Euclidean, or L1 for `metric` 1). */
  def distance(v: ArrayData, ct: Array[Double], metric: Int): Double = {
    var s = 0.0
    var j = 0
    if (metric == 1)
      while (j < ct.length) { s += math.abs(v.getDouble(j) - ct(j)); j += 1 }
    else
      while (j < ct.length) {
        val diff = v.getDouble(j) - ct(j)
        s += diff * diff
        j += 1
      }
    s
  }

  /** Argmin kernel shared by [[NearestCenter]] and [[NearestCenterSums]]:
    * the cid of the nearest center, ties to the lower cid. Reads `v` in
    * place (no copy). A point whose length is not the centers' dimension
    * throws: read past its end or cut to the first d coordinates, it
    * would be assigned silently. */
  def nearest(v: ArrayData, centers: Array[Array[Double]], metric: Int): Int = {
    if (v.numElements() != centers(0).length)
      throw new IllegalArgumentException(
        s"point has dimension ${v.numElements()}, centers have ${centers(0).length}")
    var bestC = -1
    var best = Double.PositiveInfinity
    var c = 0
    while (c < centers.length) {
      val s = distance(v, centers(c), metric)
      // `bestC < 0` guard: a NaN coordinate in the point makes EVERY
      // distance NaN, and `s < best` alone would then return cid=-1 — a
      // phantom cluster downstream. Claiming center 0 keeps the cid
      // in-range deterministically (NaN *centers* cannot occur: the matrix
      // is driver-built from finite literals). For finite distances the
      // extra clause only fires at c=0 where s < +Inf already held.
      if (bestC < 0 || s < best) { best = s; bestC = c }
      c += 1
    }
    bestC
  }

  /** struct(cid, dist) column of the nearest center. */
  def struct(v: Column, centers: Array[(Int, Array[Double])],
      manhattan: Boolean = false): Column =
    ExpressionUtils.column(NearestCenter(
      ExpressionUtils.expression(v), matrix(centers),
      if (manhattan) 1 else 0))
}
