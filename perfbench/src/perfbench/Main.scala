package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one JVM, one client thread running
  * operations back to back (closed loop) for `--seconds`.
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` first runs the
  * same untimed-tracing loop, then installs the tracer, runs the loop again
  * plus the workload's isolated single-layer passes, and prints the
  * per-layer metrics. The last stdout line is the result JSON. */
object Main {
  val SetupReps = 3
  val ScanOverrides = Seq("events", "lineitem", "orders", "documents", "embeddings")
    .map(t => s"graft.${t}Dir")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, tag: String, train: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m("work")).toAbsolutePath,
      m.getOrElse("tag", "run"), m.getOrElse("train", "0") == "1")
  }

  /** The one session configuration every run pins (and records). */
  def sessionConf(cores: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)

  /** Heap in use right after a full collection, in bytes. */
  def liveHeap(): Long = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum
  }

  final class Loop {
    /** Seconds of each operation that passed its check. */
    val lat = mutable.ArrayBuffer.empty[Double]
    var attempted, failed = 0
    var items, wall = 0.0
    /** Wall time spent in output checks and heap sampling, not in operations. */
    var checkS = 0.0
    val errors = mutable.ArrayBuffer.empty[String]
    var heapPeak = 0L
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // the hash mode freezes at DedupOps' first use: set it before anything
    // can touch the program; generated-input runs read the generated sfDir
    System.setProperty("graft.fastHash", "true")
    ScanOverrides.foreach(System.clearProperty)
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(a.work)
    val conf = sessionConf(cores, a.work)
    val spark = conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = try { if (a.train) train(a, spark, cores) else run(a, spark, cores, conf) }
      finally spark.stop()
    sys.exit(code)
  }

  def run(a: Args, spark: SparkSession, cores: Int, conf: Seq[(String, String)]): Int = {
    val wl = Workloads.byName(a.workload)
    val c = new Ctx(spark, a.seed, cores, a.work)
    val errors = mutable.ArrayBuffer.empty[String]
    def log(s: String): Unit = System.err.println(f"[perfbench] ${
      ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s  $s")
    log("session ready")

    // ---- set-up: generate the inputs SetupReps times into fresh dirs
    // (byte-identical or the run fails), then the program-side preparation
    // and one untimed warm-up operation over the last copy
    val dataRoot = a.work.resolve(s"data/${a.workload}")
    Gen.deleteTree(dataRoot)
    val genS = mutable.ArrayBuffer.empty[Double]
    val digests = mutable.ArrayBuffer.empty[String]
    var dir = ""
    for (r <- 0 until SetupReps) {
      if (dir.nonEmpty) Gen.deleteTree(Paths.get(dir))
      dir = dataRoot.resolve(s"seed${a.seed}-r$r").toString
      val t0 = System.nanoTime()
      wl.generate(c, dir)
      genS += (System.nanoTime() - t0) / 1e9
      digests += Gen.digest(dir)
    }
    if (digests.distinct.size != 1)
      errors += s"inputs differ between generations of seed ${a.seed}: ${digests.mkString(" ")}"
    val t0 = System.nanoTime()
    wl.prepare(c, dir)
    val prepareS = (System.nanoTime() - t0) / 1e9
    log(f"generated and prepared (prepare ${prepareS}%.2f s)")
    wl.checkInputs(c, dir).foreach(errors += _)
    log("input checks done")
    val warm = new Loop
    runOps(c, wl, dir, warm, 0, wl.cycle, 0, wl.warmGroups)
    errors ++= warm.errors
    val setupS = Stats.median(genS.toSeq) + prepareS + warm.wall - warm.checkS
    log(f"set-up ${setupS}%.3f s (generation ${genS.map(x => f"$x%.2f").mkString("/")})")

    // ---- the timed closed loop
    val loop = new Loop
    val first = wl.warmGroups * wl.cycle
    runOps(c, wl, dir, loop, first, wl.cycle, a.seconds, wl.minGroups)
    errors ++= loop.errors
    log(f"timed loop: ${loop.attempted} ops in ${loop.wall}%.2f s")
    var metrics: Seq[(String, Double, String)] = Nil
    if (!a.trace) {
      metrics = endToEnd(loop, setupS)
    } else {
      val t = new Tracer(spark)
      c.tracer = Some(t)
      t.install()
      val traced = new Loop
      runOps(c, wl, dir, traced, first + loop.attempted, wl.cycle, a.seconds, wl.minGroups)
      errors ++= traced.errors
      val ops = t.spans.filter(s => s.parent == 0 && s.layer == "op").toSeq
      try t.span("probes", "probes") { wl.probes(c, dir) }
      catch { case e: Exception => errors += s"probes failed: $e" }
      t.uninstall()
      val probes = t.spans.filter(s => s.parent == 0 && s.layer == "probes").toSeq
      metrics = perLayer(c, wl, t, ops, probes, traced, loop)
      t.dump(a.work.resolve(s"traces/${a.tag}.json"))
    }
    wl match {
      case k: KMeansWorkload => k.bestRatioError.foreach(errors += _)
      case _ =>
    }
    val attempted = loop.attempted
    val failed = loop.failed
    val correct = errors.isEmpty && failed == 0
    errors.foreach(e => log(s"CHECK FAILED: $e"))

    val metricsJson = Json.obj(metrics.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val record = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> Json.num(a.seed.toDouble),
      "seconds" -> Json.num(a.seconds), "trace" -> a.trace.toString,
      "session_conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) } :+
        ("graft.fastHash" -> Json.str(sys.props.getOrElse("graft.fastHash", "")))),
      "setup_generation_s" -> genS.map(Json.num).mkString("[", ",", "]"),
      "input_sha256" -> Json.str(digests.head),
      "warmup_latencies_s" -> warm.lat.map(Json.num).mkString("[", ",", "]"),
      "op_latencies_s" -> loop.lat.map(Json.num).mkString("[", ",", "]"),
      "op_samples" -> Json.num(loop.lat.size),
      // a tail percentile needs ten samples beyond it
      "op_p90_s" -> (if (Stats.reportable(loop.lat.size, 0.9))
        Json.num(Stats.quantile(loop.lat.toSeq, 0.9)) else "null"),
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "workload_record" -> Json.obj(wl.record),
      "metrics" -> metricsJson))
    val rec = a.work.resolve(s"results/${a.tag}.json")
    Files.createDirectories(rec.getParent)
    Files.write(rec, record.getBytes("UTF-8"))
    Gen.deleteTree(dataRoot)
    log("done")
    println(Json.obj(Seq("correct" -> correct.toString,
      "attempted" -> Json.num(attempted), "failed" -> Json.num(failed),
      "metrics" -> metricsJson)))
    0
  }

  /** A miniature traced pass of the K-Means and curation workloads (which
    * between them load nearly every class a run uses), run once at build time
    * so the JVM can archive the classes a run loads (see build.py). */
  def train(a: Args, spark: SparkSession, cores: Int): Int = {
    val c = new Ctx(spark, a.seed, cores, a.work)
    val t = new Tracer(spark)
    c.tracer = Some(t)
    t.install()
    Seq(new KMeansWorkload("train_kmeans", n = 2000, dim = 8, k = 4, box = 5.0,
        sigma = 1.0, iters = 2, strategies = Seq("random", "plusplus", "farthest_l1", "mllib"),
        probeStrategies = Nil, probeMllib = false),
      new CurateWorkload(3000)).foreach { wl =>
      val dir = a.work.resolve(s"train/${wl.name}").toString
      wl.generate(c, dir)
      Gen.digest(dir)
      wl.prepare(c, dir)
      wl.checkInputs(c, dir)
      val l = new Loop
      runOps(c, wl, dir, l, 0, wl.cycle, 0)
      System.err.println(s"[perfbench] trained on ${wl.name}: ${l.errors.mkString("; ")}")
    }
    t.uninstall()
    Gen.deleteTree(a.work.resolve("train"))
    0
  }

  /** Runs operations from index `first` in whole groups of `group`, at
    * least `minGroups` groups and until `seconds` have passed. Every
    * operation runs in a try block; a failed or wrong one counts as failed
    * and its latency is left out. After each group a full collection
    * samples the live heap (the `heap_peak_mb` base). */
  def runOps(c: Ctx, wl: Workload, dir: String, l: Loop, first: Int, group: Int,
      seconds: Double, minGroups: Int = 1): Unit = {
    val start = System.nanoTime()
    var i = first
    def elapsed = (System.nanoTime() - start) / 1e9
    while (i < first + minGroups * group || (i - first) % group != 0 || elapsed < seconds) {
      l.attempted += 1
      val t0 = System.nanoTime()
      val out = try {
        val o = c.span(s"op$i", "op") { wl.op(c, dir, i) }
        Right((o, o.timedS.getOrElse((System.nanoTime() - t0) / 1e9)))
      } catch {
        case e: Exception => Left(s"op $i failed: $e")
      }
      val t1 = System.nanoTime()
      val err = out match {
        case Left(e) => Some(e)
        case Right((o, s)) =>
          try o.verify().map(x => s"op $i: $x").orElse {
            l.lat += s; l.items += o.items
            None
          } catch { case e: Exception => Some(s"op $i check failed: $e") }
      }
      err.foreach { e => l.failed += 1; l.errors += e }
      i += 1
      if ((i - first) % group == 0) l.heapPeak = math.max(l.heapPeak, liveHeap())
      l.checkS += (System.nanoTime() - t1) / 1e9
    }
    l.wall = elapsed
  }

  def endToEnd(l: Loop, setupS: Double): Seq[(String, Double, String)] = {
    val opS = l.lat.sum
    // like every percentile, the median needs ten samples beyond it
    val p50 = if (Stats.reportable(l.lat.size, 0.5))
      Seq(("op_p50_s", Stats.median(l.lat.toSeq), "s")) else Nil
    Seq(("setup_s", setupS, "s")) ++ p50 ++ Seq(
      ("ops_per_s", l.lat.size / (l.wall - l.checkS), "1/s"),
      ("items_per_s", if (opS > 0) l.items / opS else 0.0, "1/s"),
      ("heap_peak_mb", l.heapPeak / 1048576.0, "MB"))
  }

  def perLayer(c: Ctx, wl: Workload, t: Tracer, ops: Seq[Span], probes: Seq[Span],
      traced: Loop, untraced: Loop): Seq[(String, Double, String)] = {
    val all = ops ++ probes
    val tasks = t.tasksIn(all)
    val qs = t.qesIn(all)
    val writeSpans = all.flatMap(t.subtree).filter(_.layer == "sink")
    val modules = QueryMixWorkload.Queries.map(_._1)
    val wlm = wl.layerMetrics(c, t, ops, probes)
    def w(layer: String) = wlm.getOrElse(layer, 0.0)
    def p50(l: Loop) = if (l.lat.nonEmpty) Stats.median(l.lat.toSeq) else 0.0
    Seq(
      ("plan.analysis_s", qs.map(_.analysisMs).sum / 1e3, "s"),
      ("plan.optimizer_s", qs.map(_.optimizerMs).sum / 1e3, "s"),
      ("plan.physical_s", qs.map(_.physicalMs).sum / 1e3, "s"),
      ("plan.actions", qs.size.toDouble, "count"),
      ("sched.jobs", t.jobsIn(all).size.toDouble, "count"),
      ("sched.stages", t.stagesIn(all).toDouble, "count"),
      ("sched.tasks", tasks.tasks.toDouble, "count"),
      ("driver.gap_s", t.gapS(ops), "s"),
      ("kmeans.jobs_per_iter", w("kmeans.jobs_per_iter"), "count"),
      ("kmeans.iters", w("kmeans.iters"), "count"),
      ("kmeans.seed_rounds", w("kmeans.seed_rounds"), "count"),
      ("kmeans.seed_s", w("kmeans.seed_s"), "s"),
      ("kmeans.iter_s", w("kmeans.iter_s"), "s"),
      ("kmeans.assign_s", w("kmeans.assign_s"), "s"),
      ("kmeans.recompute_s", w("kmeans.recompute_s"), "s"),
      ("kmeans.fixed_share", w("kmeans.fixed_share"), "ratio"),
      ("kmeans.cost_ratio", w("kmeans.cost_ratio"), "ratio"),
      ("mllib.fit_s", w("mllib.fit_s"), "s"),
      ("expr.nearest_center.rows_per_s", w("expr.nearest_center.rows_per_s"), "1/s"),
      ("curate.quality_s", w("curate.quality_s"), "s"),
      ("curate.dedup_exact_s", w("curate.dedup_exact_s"), "s"),
      ("curate.substring_s", w("curate.substring_s"), "s"),
      ("curate.decontam_s", w("curate.decontam_s"), "s"),
      ("curate.pack_s", w("curate.pack_s"), "s"),
      ("curate.manifest_s", w("curate.manifest_s"), "s"),
      ("scan.bytes", tasks.inBytes.toDouble, "B"),
      ("scan.rows", tasks.inRecs.toDouble, "count"),
      ("scan.task_s", tasks.scanRunMs / 1e3, "s"),
      ("task.run_s", tasks.runMs / 1e3, "s"),
      ("task.cpu_s", tasks.cpuNs / 1e9, "s"),
      ("task.gc_s", tasks.gcMs / 1e3, "s"),
      ("shuffle.write_bytes", tasks.shufWriteBytes.toDouble, "B"),
      ("shuffle.write_s", tasks.shufWriteNs / 1e9, "s"),
      ("shuffle.fetch_wait_s", tasks.fetchWaitMs / 1e3, "s"),
      ("spill.bytes", tasks.spillBytes.toDouble, "B"),
      ("write.bytes", qs.map(_.bytes).sum.toDouble, "B"),
      ("write.files", qs.map(_.files).sum.toDouble, "count"),
      ("write.s", writeSpans.map(_.wallS).sum, "s"),
      ("stream.batches", t.streamBatches.toDouble, "count"),
      ("stream.input_rows", t.streamRows.toDouble, "count"),
      ("stream.batch_s", t.streamBatchMs / 1e3, "s")) ++
      modules.map(m => (s"module.$m.s",
        all.flatMap(t.subtree).filter(_.layer == s"module.$m").map(_.wallS).sum, "s")) ++
      Seq(
        ("trace.op_p50_s", p50(traced), "s"),
        ("trace.overhead_s", p50(traced) - p50(untraced), "s"),
        ("trace.spans", t.spans.size.toDouble, "count"))
  }
}
