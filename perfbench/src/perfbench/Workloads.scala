package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.operators.{KMeansOps, MLlibKMeans}

/** What one timed operation reports: its units of work (the `items_per_s`
  * base), an untimed output check that returns an error message on a
  * wrong output, and, when only a part of the operation is its latency
  * (the Lloyd step of a K-Means step operation), that part's seconds. */
final case class OpOut(items: Double, verify: () => Option[String],
    timedS: Option[Double] = None)

/** Shared run state handed to a workload. `span` records a tracer span
  * when the run is traced and is a plain call otherwise. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
    val work: java.nio.file.Path) {
  var tracer: Option[Tracer] = None
  def span[A](name: String, layer: String)(body: => A): A =
    tracer.fold(body)(_.span(name, layer)(body))
  /** Drop cached relations and pinned blocks between operations. */
  def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

trait Workload {
  def name: String
  /** Write this run's inputs into `dir` (timed as set-up, repeated). */
  def generate(c: Ctx, dir: String): Unit
  /** Program-side preparation over the generated inputs (set-up). */
  def prepare(c: Ctx, dir: String): Unit = ()
  /** Untimed checks over the inputs, once per run. */
  def checkInputs(c: Ctx, dir: String): Option[String] = None
  /** Operations run only as whole groups of this size. */
  def cycle: Int = 1
  /** Untimed warm-up groups, and the fewest groups a timed loop runs:
    * both are fixed so that every run measures comparable operations. */
  def warmGroups: Int = 1
  def minGroups: Int = 1
  def op(c: Ctx, dir: String, i: Int): OpOut
  /** Isolated single-layer passes, run only in the traced run. */
  def probes(c: Ctx, dir: String): Unit = ()
  /** Workload-specific values recorded in the results file. */
  def record: Seq[(String, String)] = Nil
  def layerMetrics(c: Ctx, t: Tracer, ops: Seq[Span], probes: Seq[Span]): Map[String, Double] = Map.empty
}

object Workloads {
  def byName(n: String): Workload = n match {
    case "kmeans_large" => new KMeansWorkload("kmeans_large", n = 250000, dim = 64,
      k = 16, box = 0.5, sigma = 1.0, iters = 5, strategies = Seq("random"),
      probeStrategies = Seq("plusplus", "farthest_l1"), probeMllib = true,
      mllibIters = 5, stepOps = true, minGroups = 4)
    case "kmeans_small" => new KMeansWorkload("kmeans_small", n = 10000, dim = 2,
      k = 4, box = 10.0, sigma = 1.0, iters = 5,
      strategies = Seq("random", "plusplus", "farthest_l1", "mllib"),
      probeStrategies = Nil, probeMllib = false, minGroups = 5)
    case "curate" => new CurateWorkload(20000)
    case "query_mix" => new QueryMixWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Sum of squared distances from every point to its nearest center,
    * computed outside the program so the cost check is independent. */
  def wssse(pts: DataFrame, cs: Array[Array[Double]]): Double =
    pts.select(col("v")).rdd.map { r =>
      val v = r.getSeq[Double](0)
      var best = Double.MaxValue
      var j = 0
      while (j < cs.length) {
        val c = cs(j); var s = 0.0; var i = 0
        while (i < c.length) { val d = v(i) - c(i); s += d * d; i += 1 }
        if (s < best) best = s
        j += 1
      }
      best
    }.sum()
}

/** Lloyd's K-Means on seeded Gaussian blobs through `KMeansOps` and
  * `MLlibKMeans`. A fit is a seeding strategy from the cycle, a fixed
  * number of Lloyd iterations and the cluster summary (or one MLlib
  * k-means|| fit). Each operation is one fit, or with `stepOps` one Lloyd
  * iteration of a fit, timed alone: a fit is then a group of `iters`
  * operations, the first also seeding and the last also summarizing. */
final class KMeansWorkload(val name: String, n: Long, dim: Int, k: Int,
    box: Double, sigma: Double, iters: Int, strategies: Seq[String],
    probeStrategies: Seq[String], probeMllib: Boolean, mllibIters: Int = 20,
    stepOps: Boolean = false, override val minGroups: Int = 1)
    extends Workload {
  private var gen: Array[Array[Double]] = _
  private var pts: DataFrame = _
  private var baseCost = 0.0
  val costRatios = mutable.ArrayBuffer.empty[Double]
  /** A Lloyd fit may stop at a local optimum, but over a run at least one
    * fit must reach the generator centers' cost within this factor. */
  private val BestRatioMax = 1.05
  private val ProbeIters = 2

  override def cycle: Int = if (stepOps) iters else strategies.length

  def generate(c: Ctx, dir: String): Unit = {
    gen = Gen.centers(c.seed, k, dim, box)
    Gen.blobs(c.spark, dir, c.seed, n, gen, sigma, parts = 2 * c.cores)
  }

  override def prepare(c: Ctx, dir: String): Unit = {
    pts = KMeansOps.points(c.spark, dir).localCheckpoint()
    if (strategies.contains("mllib")) MLlibKMeans.lloydRefCost(c.spark, dir, k)
  }

  override def checkInputs(c: Ctx, dir: String): Option[String] = {
    baseCost = Workloads.wssse(pts, gen)
    val rows = pts.count()
    if (rows != n) Some(s"$name: generated $rows points, expected $n")
    else if (!(baseCost > 0)) Some(s"$name: generator-center cost $baseCost")
    else None
  }

  private def seeds(c: Ctx, s: String): Array[(Int, Array[Double])] =
    c.span(s"seed:$s", "kmeans.seed") {
      s match {
        case "random" => KMeansOps.collectCenters(KMeansOps.sampleK(pts, k))
        case "plusplus" => KMeansOps.plusPlusInit(pts, k)
        case "farthest_l1" => KMeansOps.farthestInit(pts, k, manhattanFirst = true)
      }
    }

  /** `KMeansOps.lloyd` over `maxIter` iterations; the span name carries
    * the iteration count (tol 0 runs them all; the fit check holds it). */
  private def lloyd(c: Ctx, init: Array[(Int, Array[Double])], maxIter: Int) =
    c.span(s"lloyd/$maxIter", "kmeans.lloyd") { KMeansOps.lloyd(pts, init, maxIter, 0.0) }

  private def summarize(c: Ctx, centers: Array[(Int, Array[Double])]) =
    c.span("cluster_stats", "kmeans.stats") {
      KMeansOps.clusterStats(pts, centers).collect().map(_.getLong(1))
    }

  /** The output check of one fit of `want` iterations. */
  private def fitCheck(s: String, init: Array[(Int, Array[Double])],
      centers: Array[(Int, Array[Double])], it: Int, want: Int,
      sizes: Array[Long]): Option[String] = {
    val before = Workloads.wssse(pts, init.map(_._2))
    val after = Workloads.wssse(pts, centers.map(_._2))
    costRatios += after / baseCost
    if (it != want) Some(s"$name/$s: ran $it iterations, expected $want")
    else if (sizes.sum != n) Some(s"$name/$s: cluster sizes sum to ${sizes.sum}, expected $n")
    else if (sizes.length > k) Some(s"$name/$s: ${sizes.length} clusters > k=$k")
    else if (after > before * (1 + 1e-9))
      Some(s"$name/$s: Lloyd raised the cost ($before -> $after)")
    else None
  }

  private def lloydFit(c: Ctx, s: String, want: Int = iters): OpOut = {
    val init = seeds(c, s)
    val (centers, it) = lloyd(c, init, want)
    val sizes = summarize(c, centers)
    OpOut(n.toDouble * it, () => fitCheck(s, init, centers, it, want, sizes))
  }

  /** The fit the current step operation belongs to. */
  private var fitInit, fitCenters: Array[(Int, Array[Double])] = _
  private var fitIters = 0

  /** Step `i % iters` of a fit: one Lloyd iteration, timed alone. */
  private def lloydStepOp(c: Ctx, i: Int): OpOut = {
    val s = strategies(i / iters % strategies.length)
    val step = i % iters
    if (step == 0) {
      fitCenters = null
      fitIters = 0
      fitInit = seeds(c, s)
      fitCenters = fitInit
    }
    val t0 = System.nanoTime()
    val (next, it) = lloyd(c, fitCenters, 1)
    val lloydS = (System.nanoTime() - t0) / 1e9
    fitCenters = next
    fitIters += it
    if (step < iters - 1)
      OpOut(n.toDouble * it, () => None, Some(lloydS))
    else {
      val (init, total) = (fitInit, fitIters)
      val sizes = summarize(c, next)
      OpOut(n.toDouble * it, () => fitCheck(s, init, next, total, iters, sizes), Some(lloydS))
    }
  }

  private def mllibFit(c: Ctx, dir: String): OpOut = {
    val rows = c.span("mllib_fit", "mllib.fit") {
      MLlibKMeans.fit(c.spark, dir, k, maxIter = mllibIters).collect()
    }
    OpOut(0, () => {
      val sizes = rows.map(_.getAs[Long]("n_points")).sum
      val ok = rows.forall(_.getAs[Boolean]("cost_vs_lloyd_ok"))
      rows.headOption.foreach(r => costRatios += r.getAs[Double]("cost") / baseCost)
      if (sizes != n) Some(s"$name/mllib: cluster sizes sum to $sizes, expected $n")
      else if (!ok) Some(s"$name/mllib: cost_vs_lloyd_ok is false")
      else None
    })
  }

  def op(c: Ctx, dir: String, i: Int): OpOut =
    if (stepOps) lloydStepOp(c, i)
    else strategies(i % strategies.length) match {
      case "mllib" => mllibFit(c, dir)
      case s => lloydFit(c, s)
    }

  /** Run-level cost check: the best fit reached the generator's cost. */
  def bestRatioError: Option[String] =
    if (costRatios.isEmpty) None
    else if (costRatios.min > BestRatioMax)
      Some(f"$name: best cost_ratio ${costRatios.min}%.4f > $BestRatioMax")
    else None

  override def probes(c: Ctx, dir: String): Unit = {
    def checked(o: OpOut): Unit = o.verify().foreach(e => throw new IllegalStateException(e))
    // the loop times Lloyd itself: these fits cover the other seedings
    probeStrategies.foreach(s => checked(c.span(s"fit:$s", "probe") { lloydFit(c, s, ProbeIters) }))
    if (probeMllib) {
      MLlibKMeans.lloydRefCost(c.spark, dir, k)
      checked(c.span("fit:mllib", "probe") { mllibFit(c, dir) })
    }
    val init = KMeansOps.collectCenters(KMeansOps.sampleK(pts, k))
    c.span("assign", "kmeans.assign") {
      pts.withColumn("cid", KMeansOps.nearestCol(col("v"), init))
        .write.mode("overwrite").format("noop").save()
    }
    val assigned = pts.withColumn("cid", KMeansOps.nearestCol(col("v"), init))
      .localCheckpoint()
    c.span("recompute", "kmeans.recompute") {
      KMeansOps.recompute(assigned, dim).collect()
    }
  }

  override def record: Seq[(String, String)] = Seq(
    "points" -> Json.num(n.toDouble), "dim" -> Json.num(dim), "k" -> Json.num(k),
    "lloyd_iterations" -> Json.num(iters),
    "operation" -> Json.str(if (stepOps) "lloyd_iteration" else "fit"),
    "strategies" -> strategies.map(Json.str).mkString("[", ",", "]"),
    "generator_cost" -> Json.num(baseCost),
    "cost_ratios" -> costRatios.map(Json.num).mkString("[", ",", "]"))

  override def layerMetrics(c: Ctx, t: Tracer, ops: Seq[Span],
      probes: Seq[Span]): Map[String, Double] = {
    val all = ops ++ probes
    def in(layer: String) = all.flatMap(t.subtree).filter(_.layer == layer)
    val lloyd = in("kmeans.lloyd")
    val lloydWall = lloyd.map(_.wallS).sum
    val lloydIters = lloyd.map(_.name.stripPrefix("lloyd/").toDouble).sum
    val seedSpans = in("kmeans.seed")
    val assign = in("kmeans.assign").map(_.wallS).sum
    val fixedShare = if (lloydWall > 0) t.gapS(lloyd) / lloydWall else 0.0
    System.err.println(f"[perfbench] $name Lloyd: wall $lloydWall%.3f s, driver gap " +
      f"${t.gapS(lloyd)}%.3f s, planning ${t.planS(lloyd)}%.3f s, fixed share $fixedShare%.3f")
    Map(
      "kmeans.iters" -> lloydIters,
      "kmeans.jobs_per_iter" -> (if (lloydIters > 0) t.jobsIn(lloyd).size / lloydIters else 0),
      "kmeans.seed_rounds" -> t.qesIn(seedSpans).size.toDouble,
      "kmeans.seed_s" -> seedSpans.map(_.wallS).sum,
      "kmeans.iter_s" -> (if (lloydIters > 0) lloydWall / lloydIters else 0),
      "kmeans.assign_s" -> assign,
      "kmeans.recompute_s" -> in("kmeans.recompute").map(_.wallS).sum,
      // planning runs on the driver between jobs, so the gap includes it
      "kmeans.fixed_share" -> fixedShare,
      "kmeans.cost_ratio" -> (if (costRatios.nonEmpty) Stats.median(costRatios.toSeq) else 0),
      "mllib.fit_s" -> in("mllib.fit").map(_.wallS).sum,
      "expr.nearest_center.rows_per_s" -> (if (assign > 0) n / assign else 0))
  }
}

/** A seeded documents corpus through the curation pipeline. Each
  * operation is one user pass: `pipeline_pack` written as parquet to a
  * fresh directory, then the `pipeline_export` manifest. */
final class CurateWorkload(nDocs: Long) extends Workload {
  val name = "curate"
  override def minGroups: Int = 2
  private var trainDocs = -1L
  private var funnel: Seq[Long] = Nil
  private val q = SparkEntry.queries

  def generate(c: Ctx, dir: String): Unit =
    Gen.documents(c.spark, dir, c.seed, nDocs, parts = 2 * c.cores)

  override def checkInputs(c: Ctx, dir: String): Option[String] = {
    val bad = c.spark.read.parquet(s"$dir/documents.parquet")
      .where(col("n_chars") =!= length(col("text")) ||
        col("text").contains("\t") || col("text").contains("\n")).count()
    if (bad > 0) Some(s"curate: $bad generated docs break the text contract") else None
  }

  /** The curation DAG's own invariants over this corpus: the stage funnel
    * never grows and the splits are disjoint. Two more full passes, so
    * they run with the traced run's probes. */
  def checkDag(c: Ctx, dir: String): Option[String] = {
    funnel = q("pipeline_report")(c.spark, dir).orderBy("stage_id")
      .collect().map(_.getAs[Long]("n_docs")).toSeq
    val agg = q("pipeline_curate")(c.spark, dir).agg(count(lit(1)),
      countDistinct(col("doc_id")), sum(when(col("split") === "train", 1).otherwise(0))).head()
    trainDocs = agg.getLong(2)
    if (funnel.headOption.exists(_ != nDocs))
      Some(s"curate: funnel starts at ${funnel.head}, expected $nDocs")
    else if (funnel.zip(funnel.drop(1)).exists { case (a, b) => b > a })
      Some(s"curate: stage funnel grows: ${funnel.mkString(" > ")}")
    else if (agg.getLong(0) != agg.getLong(1))
      Some(s"curate: splits overlap (${agg.getLong(0)} rows, ${agg.getLong(1)} ids)")
    else if (agg.getLong(0) != funnel.last)
      Some(s"curate: curated ${agg.getLong(0)} docs, funnel ends at ${funnel.last}")
    else if (trainDocs <= 0) Some("curate: no train documents")
    else None
  }

  def op(c: Ctx, dir: String, i: Int): OpOut = {
    val out = c.work.resolve(s"out/curate-pack-$i").toString
    Gen.deleteTree(java.nio.file.Paths.get(out))
    val packed = org.apache.spark.sql.Observation(s"pack$i")
    c.span("pipeline_pack", "sink") {
      q("pipeline_pack")(c.spark, dir).observe(packed, count(lit(1)).as("rows"))
        .write.parquet(out)
    }
    val manifest = c.span("pipeline_export", "curate.export") {
      q("pipeline_export")(c.spark, dir).collect()
    }
    OpOut(nDocs.toDouble, () => {
      val rows = packed.get("rows").asInstanceOf[Long]
      val written = c.spark.read.parquet(out).count()
      Gen.deleteTree(java.nio.file.Paths.get(out))
      val shipped = manifest.map(_.getAs[Long]("n_docs")).sum
      if (written != rows) Some(s"curate: parquet holds $written rows, pipeline_pack made $rows")
      else if (shipped != rows) Some(s"curate: manifest ships $shipped docs, $rows were packed")
      else if (trainDocs >= 0 && rows != trainDocs)
        Some(s"curate: packed $rows docs, the train split has $trainDocs")
      else if (rows <= 0) Some("curate: nothing packed")
      else None
    })
  }

  private val stages = Seq("quality_score" -> "curate.quality",
    "dedup_exact" -> "curate.dedup_exact", "dedup_substring_apply" -> "curate.substring",
    "decontaminate" -> "curate.decontam", "pack_sequences" -> "curate.pack",
    "shard_manifest" -> "curate.manifest")

  override def probes(c: Ctx, dir: String): Unit = {
    checkDag(c, dir).foreach(e => throw new IllegalStateException(e))
    stages.foreach { case (qn, layer) => stage(c, dir, qn, layer) }
  }

  /** One checked curation pass (the sink) plus the per-stage probes. */
  def passAndProbes(c: Ctx, dir: String): Unit = {
    checkDag(c, dir).foreach(e => throw new IllegalStateException(e))
    c.span("curate_pass", "probe") { op(c, dir, 0) }.verify()
      .foreach(e => throw new IllegalStateException(e))
    stages.foreach { case (qn, layer) => stage(c, dir, qn, layer) }
  }

  private def stage(c: Ctx, dir: String, qn: String, layer: String): Unit = {
    c.clearCaches()
    c.span(qn, layer) {
      q(qn)(c.spark, dir).write.mode("overwrite").format("noop").save()
    }
  }

  override def record: Seq[(String, String)] = Seq(
    "documents" -> Json.num(nDocs.toDouble), "train_docs" -> Json.num(trainDocs.toDouble),
    "funnel" -> funnel.map(x => Json.num(x.toDouble)).mkString("[", ",", "]"),
    "shares" -> Json.obj(Seq("exact_dup" -> Json.num(Gen.ExactDupShare),
      "near_dup" -> Json.num(Gen.NearDupShare), "contaminated" -> Json.num(Gen.ContamShare))))

  override def layerMetrics(c: Ctx, t: Tracer, ops: Seq[Span],
      probes: Seq[Span]): Map[String, Double] =
    stages.map { case (_, layer) =>
      s"${layer}_s" -> probes.flatMap(t.subtree).filter(_.layer == layer).map(_.wallS).sum
    }.toMap
}

object QueryMixWorkload {
  /** The replayed queries, one per owning module of `SparkEntry.queries`:
    * for each module a declared query that ran in under 0.5 s warm and
    * 1.2 s on first use over this generator (perfbench/README.md lists the
    * screen). Queries that build a layout, an index or file staging on
    * first use would put most of a run's time into set-up. */
  val Queries: Seq[(String, String)] = Seq(
    "KMeansOps" -> "init_extremal",
    "RelationalOps" -> "json_extract",
    "DedupOps" -> "decontaminate",
    "SimilarityOps" -> "similarity_topk",
    "TextOps" -> "tokenizer_fertility",
    "MultimodalOps" -> "multimodal_stats",
    "PipelineOps" -> "pipeline_curate",
    "RetrievalOps" -> "phrase_search",
    "TextIO" -> "scan_csv_badrecords",
    "StorageOps" -> "shard_manifest",
    "StreamingOps" -> "streaming_token_count")
}

/** One query per owning module, replayed in passes over a generated
  * star-schema fixture. Each operation is one query, fully materialized
  * and fingerprinted. */
final class QueryMixWorkload extends Workload {
  val name = "query_mix"
  private val scale = 0.05
  private val ref = mutable.LinkedHashMap.empty[String, (Long, Long, Long)]

  import QueryMixWorkload.Queries
  override def cycle: Int = Queries.size
  // after the cold first pass, the second still runs about 20% slower
  override def warmGroups: Int = 2
  override def minGroups: Int = 2

  private val nDocs = 1500L

  def generate(c: Ctx, dir: String): Unit = {
    Gen.starSchema(c.spark, dir, c.seed, scale, parts = 2)
    Gen.documents(c.spark, dir, c.seed, nDocs, parts = 2)
    Gen.blobs(c.spark, dir, c.seed, 500,
      Gen.centers(c.seed, 10, 64, 1.0), 1.0, parts = 2, unit = true)
  }

  /** (rows, sum of 32-bit row hashes, xor of 64-bit row hashes): equal
    * for equal row multisets, whatever the order. */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val cols = df.schema.fields.map { f =>
      def hasMap(t: DataType): Boolean = t match {
        case _: MapType => true
        case a: ArrayType => hasMap(a.elementType)
        case s: StructType => s.fields.exists(x => hasMap(x.dataType))
        case _ => false
      }
      if (hasMap(f.dataType)) to_json(struct(col(f.name))) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.as("h")).agg(count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(bit_xor(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def op(c: Ctx, dir: String, i: Int): OpOut = {
    val (mod, qn) = Queries(i % Queries.size)
    c.clearCaches()
    graft.streaming.StreamingOps.lastRunStats.clear()
    val fp = c.span(qn, s"module.$mod") { fingerprint(SparkEntry.queries(qn)(c.spark, dir)) }
    OpOut(fp._1.toDouble, () => ref.get(qn) match {
      case None => ref(qn) = fp; None
      case Some(r) if r == fp => None
      case Some(r) => Some(s"query_mix/$qn: fingerprint $fp differs from first pass $r")
    })
  }

  override def record: Seq[(String, String)] = Seq(
    "scale_of_sf0.1" -> Json.num(scale),
    "queries" -> Json.obj(Queries.map { case (mod, qn) =>
      qn -> ref.get(qn).fold("null") { case (rows, s, x) =>
        Json.obj(Seq("module" -> Json.str(mod), "rows" -> Json.num(rows.toDouble),
          "fingerprint" -> Json.str(f"$s%x-$x%x"))) }
    }))

  /** The fixed-cost-bound K-Means fits (the kmeans_small strategy cycle)
    * and the curation stages, measured once in the traced run. */
  private val small = Workloads.byName("kmeans_small").asInstanceOf[KMeansWorkload]
  private val curate = new CurateWorkload(nDocs)

  override def probes(c: Ctx, dir: String): Unit = {
    val kdir = dir + "-kmeans_small"
    small.generate(c, kdir)
    small.prepare(c, kdir)
    small.checkInputs(c, kdir).foreach(e => throw new IllegalStateException(e))
    for (i <- 0 until small.cycle)
      c.span(s"small_fit$i", "probe") { small.op(c, kdir, i) }.verify()
        .foreach(e => throw new IllegalStateException(e))
    small.bestRatioError.foreach(e => throw new IllegalStateException(e))
    curate.passAndProbes(c, dir)
  }

  override def layerMetrics(c: Ctx, t: Tracer, ops: Seq[Span],
      probes: Seq[Span]): Map[String, Double] =
    small.layerMetrics(c, t, ops, probes) ++ curate.layerMetrics(c, t, ops, probes)
}
