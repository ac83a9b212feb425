package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.util.ArrayData

/** Sufficient statistics of one fused Lloyd iteration: [[update]] assigns
  * a point to its nearest center (the [[NearestCenter]] argmin kernel —
  * same fold order, ties to the lower cid, a NaN point claiming cid 0) and
  * adds it into a flat `k × (1 + d)` `double[]`: for center c, slot
  * `c·(1+d)` is the count and the next d slots the per-dimension sums.
  * [[NearestCenterSums.merge]] adds two buffers elementwise; the all-zero
  * [[zero]] buffer is its identity.
  *
  * This is MLlib's KMeans topology (per-partition sufficient statistics,
  * one k·(1+d) record per partition to the driver):
  * [[graft.operators.KMeansOps.lloydStep]] folds each partition's rows
  * into one buffer in a single job with one stage and merges the partition
  * buffers on the driver. It replaces a `NearestCenter` projection (an
  * array copy and a struct per row) feeding a cid-keyed hash aggregate of d
  * `avg(element_at(v, i))` functions (2d + 1 buffer slots updated per row).
  * The sums accumulate in the same order as `avg`'s partial and final sums
  * (0.0, then rows in partition order, then the partition buffers in
  * task-completion order, as unordered as `avg`'s fetch order), so dividing
  * by the count gives the same means up to that order, which `snap12`
  * absorbs.
  *
  * A null vector is skipped and not counted. A vector whose length is not
  * the centers' dimension throws (the kernel's check).
  */
case class NearestCenterSums(centers: Array[Array[Double]], metric: Int) {

  require(centers.nonEmpty, "centers must be non-empty")
  require(metric == 0 || metric == 1, "metric: 0=sqEuclidean, 1=manhattan")

  private def dim: Int = centers(0).length

  def zero: Array[Double] = new Array[Double](centers.length * (1 + dim))

  def update(buf: Array[Double], v: ArrayData): Array[Double] = {
    if (v != null) {
      val d = dim
      val o = NearestCenter.nearest(v, centers, metric) * (1 + d)
      buf(o) += 1.0
      var j = 0
      while (j < d) { buf(o + 1 + j) += v.getDouble(j); j += 1 }
    }
    buf
  }
}

object NearestCenterSums {
  def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }
}
