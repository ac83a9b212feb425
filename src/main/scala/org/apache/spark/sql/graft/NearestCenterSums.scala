package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native aggregate for one fused Lloyd iteration: assigns each point to
  * its nearest center (the [[NearestCenter]] argmin kernel — same fold
  * order, ties to the lower cid, a NaN point claiming cid 0) and adds it
  * into per-center sufficient statistics. The buffer is a flat
  * `k × (1 + d)` `double[]`: for center c, slot `c·(1+d)` is the count and
  * the next d slots the per-dimension sums. `merge` adds buffers
  * elementwise; the result is that buffer as one `array<double>`.
  *
  * This is MLlib's KMeans topology (per-partition sufficient statistics,
  * one k·(1+d) record per partition to the driver) as one operator. It
  * replaces a `NearestCenter` projection (an array copy and a struct per
  * row) feeding a cid-keyed hash aggregate of d `avg(element_at(v, i))`
  * functions (2d + 1 buffer slots updated per row). The sums accumulate in
  * the same order as `avg`'s partial and final sums (0.0, then rows in
  * partition order, then partial buffers in fetch order), so dividing by
  * the count on the driver gives the same means.
  *
  * Null vectors are skipped and not counted. A vector whose length is not
  * the centers' dimension fails the query (the kernel's check).
  */
case class NearestCenterSums(child: Expression, centers: Array[Array[Double]],
    metric: Int, mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]]
    with UnaryLike[Expression] with ExpectsInputTypes {

  require(centers.nonEmpty, "centers must be non-empty")
  require(metric == 0 || metric == 1, "metric: 0=sqEuclidean, 1=manhattan")

  private def dim: Int = centers(0).length

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Double] =
    new Array[Double](centers.length * (1 + dim))

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input).asInstanceOf[ArrayData]
    if (v != null) {
      val d = dim
      val o = NearestCenter.nearest(v, centers, metric) * (1 + d)
      buf(o) += 1.0
      var j = 0
      while (j < d) { buf(o + 1 + j) += v.getDouble(j); j += 1 }
    }
    buf
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Double]): Any = ArrayData.toArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bytes = ByteBuffer.allocate(8 * buf.length)
    bytes.asDoubleBuffer().put(buf)
    bytes.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val buf = new Array[Double](bytes.length / 8)
    ByteBuffer.wrap(bytes).asDoubleBuffer().get(buf)
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCenterSums = copy(child = newChild)
}

object NearestCenterSums {
  /** The aggregate over point column `v`: one `array<double>` of
    * `k × (1 + d)` per-center (count, sums). */
  def column(v: Column, centers: Array[(Int, Array[Double])],
      manhattan: Boolean = false): Column =
    ExpressionUtils.column(NearestCenterSums(
      ExpressionUtils.expression(v), NearestCenter.matrix(centers),
      if (manhattan) 1 else 0).toAggregateExpression())
}
