package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.matching.Regex

/** The one session, staging and per-query isolation path behind every
  * driver main ([[Bench]], [[Probe]], [[Plans]], [[Verify]]) and the test
  * fixture, so a probed or dumped plan is always the shape the bench
  * times and a conf change lands everywhere at once.
  *
  * Two modes. Verify (`bench = false`) is the oracle mode: md5 sketch
  * hashes and stock AQE sizing. Bench mode adds the timing-session conf
  * and switches the sketch hashes to xxhash64 (see `DedupOps.h60`). */
object Harness {

  /** Fixture dir of the timing mains. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Local-mode cores of every main. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The session conf of a mode. Both modes pin UTC and one shuffle
    * partition per core. */
  def conf(cpus: Int, bench: Boolean): Seq[(String, String)] = {
    val common = Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    if (!bench) common
    else common ++ Seq(
      // codegen class cache sized to the suite (default 100): one bench
      // pass runs ~195 distinct plans, so at the default size every pass
      // evicts everything and every query re-pays generated-class
      // compilation each rep (~50 s across the suite, measured). A
      // long-lived driver running a recurring query set sizes it the same.
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      // data-derived reduce parallelism (guide §2.2): with the default
      // parallelismFirst=true, AQE coalesces post-shuffle partitions only
      // down to the core count, so every reduce stage inherits cpus-many
      // near-empty tasks whatever the data volume (round 21 measured the
      // full suite faster at 8 cores than 32 on that per-task fixed cost).
      // parallelismFirst=false honours the advisory size instead, so
      // reduce partition counts follow measured shuffle bytes: the rule
      // that sizes last-stage aggregates at 100 TB (a 6.4 TB shuffle still
      // fans out to ~100k partitions at 64 MB; a 100 KB one no longer
      // pays 32 empty tasks).
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m")
  }

  /** The session of a mode. Sets `graft.fastHash` first: DedupOps freezes
    * its hash mode at first use, and a JVM that ran a bench-mode session
    * earlier (fork disabled, ad-hoc harness) would otherwise dump xxhash64
    * results beside md5 oracle SQL. */
  def session(cpus: Int, bench: Boolean): SparkSession = {
    System.setProperty("graft.fastHash", bench.toString)
    val spark = conf(cpus, bench)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One-time staging of `sfDir`, outside any timing: layout ETL
    * (bucketed tables, the IVF index), fixture staging (text/csv/jsonl
    * files, the streaming landing dirs, export shards) and the shared
    * fit-verification yardstick. join_bucketed must measure the
    * exchange-free join (not the CTAS), the scan and streaming queries the
    * scan (not the staging write), and kmeans_fit the MLlib fit (not the
    * memo fill of the reference-Lloyd cost its three variants share).
    *
    * `splitScans` points [[Tables]] at the multi-file copies of
    * [[BenchLayout.stage]]; the 8× fixture is already written at
    * data-proportional split counts and stages without them. Any override
    * left from an earlier `stage` is cleared first, so the derivations
    * here read `sfDir`'s own tables.
    *
    * Each step fails in isolation: queries self-ensure their own staging,
    * so a broken step costs those queries (their ensure re-throws inside
    * the per-query try), never the whole run. NonFatal only: after an
    * OOM or LinkageError every later timing is garbage. */
  def stage(spark: SparkSession, sfDir: String,
      splitScans: Boolean = true): Unit = {
    def step(what: String)(body: => Unit): Unit =
      try body catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[harness] staging $what of $sfDir failed " +
            s"(continuing; affected queries will fail individually): $e")
      }
    BenchLayout.clearOverrides()
    step("bucketed layouts") {
      graft.sources.StorageOps.ensureLayouts(spark, sfDir)
      graft.sources.StorageOps.ensureRebucketed(spark, sfDir) }
    step("text fixtures") { graft.sources.TextIO.ensureFixtures(spark, sfDir) }
    step("streaming landing dir") {
      graft.streaming.StreamingOps.stageDir(spark, sfDir, "events")
      graft.streaming.StreamingOps.stageDir(spark, sfDir, "documents"); () }
    step("ivf index") {
      graft.operators.SimilarityOps.ensureIvfIndex(spark, sfDir); () }
    step("export layouts") {
      graft.operators.PipelineOps.ensureExportShards(spark, sfDir)
      graft.sources.StorageOps.ensureBaseManifest(spark, sfDir); () }
    step("mllib ref warm") {
      graft.operators.MLlibKMeans.warmRef(spark, sfDir) }
    if (splitScans)
      step("multi-rowgroup tables") { BenchLayout.stage(spark, sfDir) }
    // one untimed scan+aggregate+noop-write warmup: whole-session JIT,
    // codegen compilation, parquet-reader and noop-sink init otherwise all
    // land on whichever queries sort first (the agg_*/approx_* family)
    step("warmup") {
      import org.apache.spark.sql.functions._
      Tables.events(spark, sfDir)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .write.mode("overwrite").format("noop").save()
    }
  }

  /** Per-query isolation, run before each query outside its timing:
    * caches AND checkpointed/persisted blocks built inside one query
    * (iterative k-means loops, LSH band self-joins) must not linger into
    * the next query's timing or accumulate storage across the sequence
    * (dedup_ngram measured 12 s mid-sequence vs 5 s isolated before
    * this). clearCache only empties the SQL CacheManager; localCheckpoint
    * blocks are RDD-level and otherwise wait for driver GC and the
    * ContextCleaner, so they are dropped explicitly. ivf_index_build's
    * throwaway output is swept here too: deleting the just-built index is
    * teardown, not build ETL, and the cells frame it returns is
    * localCheckpoint-pinned. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    graft.sources.Staging.deleteRecursively(
      java.nio.file.Paths.get("target/ivf-bench"))
  }

  /** Every declared and bench-only plan in name order, optionally only the
    * names `only` matches. Name order, not Map order: hash order varies
    * with the key set, and a query's cost includes whatever codegen and
    * reader warmup its predecessors did not trigger. */
  def plans(only: Option[Regex])
      : Seq[(String, (SparkSession, String) => DataFrame)] =
    (SparkEntry.queries ++ SparkEntry.benchOnly).toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
}
