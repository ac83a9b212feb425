package graft.operators

import graft.functions.VectorOps._
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Flagship MLlib path (SURVEY.md §7 step 4): the reference's whole program
  * family collapses into `ml.clustering.KMeans`, which internalizes the
  * Lloyd loop as `treeAggregate` of per-partition sufficient statistics.
  * [[KMeansOps.lloydStep]] has the same topology (one job folding each
  * partition into a count-and-sums buffer, the buffers merged on the driver
  * in task-completion order, snap12 absorbing that order); MLlib's is
  * hardened for clusters
  * (`initMode` maps the reference's seeding strategies: random →"random",
  * ++/farthest → "k-means||", the Bahmani et al. scalable variant).
  */
object MLlibKMeans {

  /** Cost of the expression-based Lloyd reference run (frozen sampleK
    * seeds, 2 snap12 iterations) — the yardstick the fit queries compare
    * MLlib's training cost against. TWO iterations, not a converged run:
    * the gate is a CEILING-ONLY wiring-regression check (cost in
    * (0, 1.10×ref]), and a 2-step reference keeps the same regression
    * sensitivity at 5× less verification cost (round-7 verdict: the
    * 10-iteration yardstick made the first fit query bench at 10.4 s —
    * 9 s of which was the gate, not the fit). No lower bound: a 2-step
    * reference cost sits ABOVE converged cost, so a well-converged MLlib
    * fit may legitimately land far below it on some fixture/SF (round-8
    * ADVICE — the old 0.50× floor could flip false without any
    * regression); the failure modes the gate exists for (wrong column
    * wiring, wrong distance, unconverged fit) all manifest as cost
    * BLOWUPS, i.e. the ceiling. Memoized per (sfDir, k): the three
    * `kmeans_fit*` variants in one Verify/Bench run share a single
    * reference Lloyd instead of re-running it per query (the cost is a
    * deterministic function of the data, so a driver-side memo is safe). */
  private val lloydCostMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Double]
  def lloydRefCost(spark: SparkSession, sfDir: String, k: Int): Double =
    lloydCostMemo.getOrElseUpdate((sfDir, k), {
      val pts = KMeansOps.points(spark, sfDir).localCheckpoint()
      val init = KMeansOps.collectCenters(KMeansOps.sampleK(pts, k))
      val (centers, _) = KMeansOps.lloyd(pts, init, maxIter = 2, tol = 1e-4)
      pts.agg(sum(KMeansOps.minSqDistCol(col("v"), centers))).head().getDouble(0)
    })

  /** Fill the reference-cost memo for the flagship k outside any timed
    * region: [[graft.Bench]] calls this in its setup pass so `kmeans_fit`
    * (whichever fit query runs first) times the MLlib fit, not the shared
    * verification yardstick's memo fill (round-7 ADVICE — the memo fill
    * made kmeans_fit's round-over-round timing incomparable). */
  def warmRef(spark: SparkSession, sfDir: String): Unit = {
    lloydRefCost(spark, sfDir, KMeansOps.FLAGSHIP_K); ()
  }

  /** `initMode` carries the SURVEY §7 step-4 seeding mapping: the
    * reference's `takeSample` seeding → "random", its ++/farthest family →
    * "k-means||" (Bahmani et al.'s scalable k-means++ — the distributed
    * form of the same D²-weighted idea).
    *
    * The output carries the fit's WSSSE alongside the size profile:
    * `cost_vs_lloyd_ok` asserts the MLlib cost lands in (0, 1.10]× of the
    * expression-Lloyd reference (ceiling-only — see [[lloydRefCost]] for
    * why a floor would misfire; the KMeansSpec band, surfaced as an output
    * column so the driver's per-round dump shows a wiring regression as a
    * flipped row — these queries are rows-only for the hash compare, an
    * iterative fit has no SQL oracle; round-6 verdict #2). */
  def fit(spark: SparkSession, sfDir: String, k: Int,
      maxIter: Int = 20, seed: Long = 42L,
      initMode: String = "k-means||"): DataFrame = {
    val pts = KMeansOps.points(spark, sfDir)
      .select(col("id"), array_to_vector(col("v")).as("features"))
    val model = new KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter).setTol(1e-4)
      .setInitMode(initMode)
      .setFeaturesCol("features").setPredictionCol("cluster_id")
      .fit(pts)
    val mlCost = model.summary.trainingCost
    val ref = lloydRefCost(spark, sfDir, k)
    val ok = mlCost > 0 && mlCost <= ref * 1.10
    model.transform(pts)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_points"))
      .select(col("n_points"))            // cluster ids are seed-dependent;
      .orderBy(col("n_points").desc)      // the size profile is the stable part
      .withColumn("k", lit(k))
      .withColumn("cost", round(lit(mlCost), 2))
      // the RATIO itself rides along with the boolean gate (round-12
      // verdict stretch): the three fit queries are rows-only at the
      // driver, so every self-evidencing column in the dump is the only
      // content check they get — a reader sees not just "under the 1.10
      // ceiling" but HOW far under, and a drift toward the ceiling is
      // visible across rounds before it ever flips the flag.
      .withColumn("cost_vs_lloyd", round(lit(mlCost / ref), 4))
      .withColumn("cost_vs_lloyd_ok", lit(ok))
  }

  /** One MLlib Lloyd iteration from a FROZEN initial model — the
    * hash-oracle-able fit (`kmeans_fit_frozen`): `mllib.KMeans
    * .setInitialModel` skips seeding entirely, `epsilon=0` +
    * `maxIterations=1` pins exactly one assign+recompute, and the model's
    * center indices preserve the initial ordering, so the returned
    * centers are the expression Lloyd's first recompute to within float
    * summation order (measured ≤ 5e-13 per component vs the snap12
    * trajectory on the fixture). The returned centers are snap12-SNAPPED
    * (round-15 ADVICE): treeAggregate's summation order is partition-
    * scheduling-dependent, so the raw centers differ in the last bits
    * run-to-run — snapping lands every run (and the oracle's replay) on
    * the same 1e-12 grid point, reducing the residual flake risk from
    * "any point near a cell boundary" to "a center component within the
    * run-to-run spread of a snap boundary" (the standard snap12
    * improbability argument, KMeansOps.scala:109). Returns driver-side
    * (cid, center) rows — O(k·d), the same bounded materialization every
    * seeding path uses. */
  def fitFrozen(pts: DataFrame,
      init: Array[(Int, Array[Double])]): Array[(Int, Array[Double])] = {
    import org.apache.spark.mllib.clustering.{KMeans => RddKMeans, KMeansModel}
    import org.apache.spark.mllib.linalg.Vectors
    val model = new RddKMeans()
      .setK(init.length).setMaxIterations(1).setEpsilon(0.0)
      .setInitialModel(new KMeansModel(init.map(c => Vectors.dense(c._2))))
      .run(pts.select(col("v")).rdd
        .map(r => Vectors.dense(r.getSeq[Double](0).toArray)))
    model.clusterCenters.zipWithIndex.map { case (v, i) =>
      (i, v.toArray.map(KMeansOps.snap12))
    }
  }

  /** Within-set sum of squared distances of a fit at the given init mode —
    * the cross-check scalar KMeansSpec compares against [[KMeansOps.lloyd]]. */
  def fitCost(spark: SparkSession, sfDir: String, k: Int,
      initMode: String, maxIter: Int = 20, seed: Long = 42L): Double = {
    val pts = KMeansOps.points(spark, sfDir)
      .select(array_to_vector(col("v")).as("features"))
    new KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter).setTol(1e-4)
      .setInitMode(initMode).setFeaturesCol("features")
      .fit(pts).summary.trainingCost
  }
}
