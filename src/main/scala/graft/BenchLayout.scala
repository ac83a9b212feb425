package graft

import org.apache.spark.sql.SparkSession

/** BENCH-ONLY scan-layout staging, shared by Bench/Probe/Plans so probed
  * and dumped plans always match benched shapes.
  *
  * Each driver fixture is a single parquet row group — a 1-task scan.
  * Per-table SPLIT counts decide how many files the bench-staged
  * row-identical copy holds; they were MEASURED per table at
  * sf0.1/local[32] (OPTIMIZATION_r21.md), not assumed, because the two
  * costs pull opposite ways at this scale:
  *
  *  - a 1-task scan serializes the pre-exchange stage of every branch
  *    that reads the table (the round-12 lineitem rationale), and its
  *    wall time amplifies host contention 4-10x;
  *  - every extra file adds a task to EVERY stage scanning the table,
  *    and with R reduce partitions each extra map task adds R shuffle
  *    blocks (guide §2.2's M×R blow-up, felt at micro scale as pure
  *    per-task/per-block scheduling overhead: the blanket
  *    repartition(32) experiment cost +58 s across the suite, plan-for-
  *    plan, before these per-table values were measured).
  *
  * A split of 1 means the fixture bytes are read directly (no staged
  * copy, no scan override in [[Tables]]). The split count is part of the
  * staged dir key so changing it invalidates the cache. Results are
  * unchanged by construction — same rows, different file split —
  * re-proven by a staged-layout Verify run against the DuckDB oracle
  * (282/282 green, OPTIMIZATION_r21.md). Verify/tests never stage, so
  * the oracle path always reads the fixture bytes.
  *
  * events stages THROUGH [[Tables.events]] so the ts column lands
  * pre-normalized as epoch-nanos long; the others are plain row copies. */
object BenchLayout {
  /** Measured-at-sf0.1 split counts (see OPTIMIZATION_r21.md §staging and
    * OPTIMIZATION_r22.md):
    * lineitem keeps the round-12 judged value (13.6 MB of compute-heavy
    * scans — parse_points alone is ~1.5 s of CPU in one task unsplit);
    * documents=4 parallelizes the tokenize/shingle branches that are
    * real per-row compute (token_count_utf8 0.46→0.24 s,
    * repetition_strip 0.32→0.15 s) without the task blow-up that made
    * 32-way splits a measured net loss; events/orders stay unsplit
    * (r22 re-check at events=4: 24-query subset 13.1 s → 14.4 s — the
    * window/asof/percentile consumers are exchange-bound, extra scan
    * tasks are pure overhead; r21 measured 32-way at +5 s).
    * embeddings moved 1 → 4 in r22 AFTER the spread removal: the
    * vector consumers now take their parallelism from the scan, and the
    * 58-query family measured 36.2 s → 34.0 s (embed_pca 0.57→0.34,
    * embed_cov 0.57→0.36, sim_topk_ivf_pq 1.10→0.91, knn_graph
    * 0.75→0.61), with 32-way still the r21-measured loss (iterative
    * loops 57→1638 tasks). */
  private val splits: Map[String, Int] = Map(
    "lineitem" -> 32,
    "events" -> 1,
    "documents" -> 4,
    "embeddings" -> 4,
    "orders" -> 1)

  /** The 8×-replicated fixture behind Bench's scale block (round-20
    * verdict item 8 / round-21 item 10): documents/events/lineitem/
    * orders/embeddings each unioned `reps`× with per-replica id remaps
    * (doc_id and event_id/user_id + r·1e6, l_orderkey and o_orderkey +
    * r·6e6, vec_id + r·1e7: ids stay window-valid, payload bytes repeat
    * so the dedup families see real duplication pressure). Every
    * lineitem row of replica r finds its order in replica r, so
    * lineitem⋈orders scales with the factor; o_custkey keeps pointing at
    * the one copy of customer. The other small tables are copied from
    * the source fixture as is. Built once per source-fixture fingerprint
    * (the `-o` suffix keys the orders-replicating layout apart from the
    * older one that copied orders unchanged); returns a self-contained
    * dir shaped exactly like an sfDir, so every query runs against it
    * unchanged. Other factors for ad-hoc scaling runs, e.g. 64× from
    * spark-shell: `graft.BenchLayout.stageScaleFixture(spark, sf, 64)`. */
  def stageScaleFixture(spark: SparkSession, sfDir: String,
      reps: Int = 8): String = {
    import org.apache.spark.sql.functions._
    val key = graft.sources.Staging.fixtureKey(sfDir)
    graft.sources.Staging.ensureDir(
      s"target/scale-fixture/$key-x$reps-o", marker = "_STAGED") { tmp =>
      // file counts scale the 1× split table by the replication factor
      // (capped at 32) — data-proportional scan parallelism, the same
      // bytes-per-task as the measured 1× splits
      def rep(table: String, remap: (org.apache.spark.sql.DataFrame, Int)
          => org.apache.spark.sql.DataFrame): Unit = {
        val src =
          if (table == "events") Tables.events(spark, sfDir)
          else spark.read.parquet(s"$sfDir/$table.parquet")
        (0 until reps).map(i => remap(src, i)).reduce(_ unionAll _)
          .repartition(math.min(32, splits(table) * reps))
          .write.mode("overwrite").parquet(s"$tmp/$table.parquet")
      }
      rep("documents", (d, i) =>
        d.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      rep("events", (d, i) =>
        d.withColumn("event_id", col("event_id") + lit(i * 1000000L))
          .withColumn("user_id", col("user_id") + lit(i * 1000000L)))
      rep("lineitem", (d, i) =>
        d.withColumn("l_orderkey", col("l_orderkey") + lit(i * 6000000L)))
      rep("orders", (d, i) =>
        d.withColumn("o_orderkey", col("o_orderkey") + lit(i * 6000000L)))
      rep("embeddings", (d, i) =>
        d.withColumn("vec_id", col("vec_id") + lit(i * 10000000L)))
      for (t <- Seq("region", "nation", "customer", "supplier", "part"))
        graft.sources.Staging.copyRecursively(
          java.nio.file.Paths.get(sfDir, s"$t.parquet"),
          java.nio.file.Paths.get(tmp, s"$t.parquet"))
      java.nio.file.Files.write(java.nio.file.Paths.get(tmp, "_STAGED"),
        Array.empty[Byte])
    }
  }

  /** Drop every scan-layout override so Tables reads go straight to the
    * given fixture dir — the scale block's fixture is written at its own
    * data-proportional split counts, and a leftover 1×-staging property
    * would silently point its reads back at the 1× copies. */
  def clearOverrides(): Unit =
    for (t <- splits.keys) Tables.setScanDir(t, None)

  /** Stage the multi-file copy of each table whose split exceeds 1 and
    * point [[Tables]] at it. */
  def stage(spark: SparkSession, sfDir: String): Unit = {
    def ensure(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val n = splits(name)
      Tables.setScanDir(name, Option.when(n > 1) {
        graft.sources.Staging.ensureDir(
          s"target/bench-$name/" +
            s"${graft.sources.Staging.fixtureKey(sfDir)}-s$n") { tmp =>
          df.repartition(n).write.mode("overwrite").parquet(tmp)
        }
      })
    }
    ensure("lineitem")(spark.read.parquet(s"$sfDir/lineitem.parquet"))
    ensure("events")(Tables.events(spark, sfDir))
    ensure("documents")(spark.read.parquet(s"$sfDir/documents.parquet"))
    ensure("embeddings")(spark.read.parquet(s"$sfDir/embeddings.parquet"))
    ensure("orders")(spark.read.parquet(s"$sfDir/orders.parquet"))
  }
}
