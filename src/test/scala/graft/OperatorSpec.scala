package graft

import org.apache.spark.sql.functions._

/** Smoke + semantics checks for every SparkEntry query at sf0.001, plus
  * targeted assertions where an oracle-free operator still has checkable
  * structure (dedup pair symmetry, top-k ordering, LSH ⊆ brute-force, etc.).
  */
class OperatorSpec extends SparkSpec {

  test("every declared query runs and returns a stable schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("entry flagship returns k=8 clusters covering all points") {
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.length === 8)
    val total = rows.map(_.getAs[Long]("n_points")).sum
    assert(total === 500L) // sf0.001 embeddings row count
  }

  test("assign_nearest covers every point exactly once") {
    val df = SparkEntry.queries("assign_nearest")(spark, sf)
    assert(df.count() === 500L)
    assert(df.select("vec_id").distinct().count() === 500L)
    val k = df.select("cluster_id").distinct().count()
    assert(k <= 4L && k >= 1L)
  }

  test("sink_orc round-trips every row against the parquet source") {
    val back = SparkEntry.queries("sink_orc")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toMap
    val src = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars")).collect()
    assert(back.size === src.length)
    src.foreach { r =>
      assert(back(r.getLong(0)) ===
        ((r.getString(1), r.getString(2), r.getString(3), r.getLong(4))),
        s"doc ${r.getLong(0)} drifted through the ORC round-trip")
    }
  }

  test("sink_text_sharded writes >1 shard and round-trips every row") {
    val sharded = SparkEntry.queries("sink_text_sharded")(spark, sf)
    val single = SparkEntry.queries("sink_text")(spark, sf)
    // per-row identical to the single-shard sink (sharding must only
    // change file layout, never content)
    assert(sharded.exceptAll(single).count() === 0L)
    assert(single.exceptAll(sharded).count() === 0L)
    // and the layout really is sharded — a silent coalesce would still
    // pass the row compare
    val dir = new java.io.File(
      graft.sources.TextIO.shardedSinkDir(spark, sf))
    val parts = dir.listFiles().count(f => f.getName.startsWith("part-"))
    assert(parts > 1, s"expected >1 part files, found $parts in $dir")
  }

  test("token_count_bpe matches a driver-side reference merge on every doc") {
    // independent reimplementation: java.lang.String.replace applied
    // rule-by-rule on the collected fixture vs the codegen replace-chain
    import graft.operators.TextOps
    val got = SparkEntry.queries("token_count_bpe")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
    assert(docs.nonEmpty && got.size === docs.length)
    docs.foreach { r =>
      val text = r.getString(1)
      val merged = TextOps.BPE_MERGES.foldLeft(text) {
        case (acc, (p, t)) => acc.replace(p, t)
      }
      assert(got(r.getLong(0)) ===
        (text.codePointCount(0, text.length),
          merged.codePointCount(0, merged.length)),
        s"doc ${r.getLong(0)} diverged from the reference merge")
    }
    // the ladder rules genuinely fire on the fixture (a table that never
    // reaches level 2 wouldn't test multi-level merges at all)
    val ladderHits = docs.count { r =>
      val lvl1 = TextOps.BPE_MERGES.dropRight(4).foldLeft(r.getString(1)) {
        case (acc, (p, t)) => acc.replace(p, t)
      }
      TextOps.BPE_MERGES.takeRight(4).exists { case (p, _) => lvl1.contains(p) }
    }
    assert(ladderHits > 0, "no fixture doc exercises a second-level merge")
  }

  test("pack_sequences_bpe keeps pack invariants under the BPE measure") {
    val packed = SparkEntry.queries("pack_sequences_bpe")(spark, sf)
    val counts = SparkEntry.queries("token_count_bpe")(spark, sf)
      .select(col("doc_id"), col("bpe_tokens"))
    // the packer's n_tokens IS the BPE count (no ws leakage)
    val joined = packed.join(counts, "doc_id")
    assert(joined.where(col("n_tokens") =!= col("bpe_tokens")).count() === 0L)
    // per-shard contiguity: tok_start of each doc equals the previous
    // doc's tok_start + n_tokens (same invariant pack_sequences pins)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
    val bad = packed.withColumn("prev_end",
        lag(col("tok_start") + col("n_tokens"), 1, 0L).over(w))
      .where(col("tok_start") =!= col("prev_end"))
    assert(bad.count() === 0L, "BPE pack lost head-to-tail contiguity")
  }

  test("dedup_minhash emits ordered unique pairs") {
    val df = SparkEntry.queries("dedup_minhash")(spark, sf)
    assert(df.where(col("doc_a") >= col("doc_b")).count() === 0L)
    assert(df.count() === df.distinct().count())
  }

  test("quality_repetition is a proper repetition fraction") {
    import spark.implicits._
    val df = SparkEntry.queries("quality_repetition")(spark, sf)
    assert(df.where(col("rep_ratio") < 0 || col("rep_ratio") >= 1).count() === 0L)
    assert(df.where(col("n_3grams") <= 0).count() === 0L)
    // hand check: 5 identical words -> 3 identical 3-grams, ratio 2/3
    val hand = Seq((0L, "a a a a a"), (1L, "x y z w")).toDF("doc_id", "text")
    val all3 = org.apache.spark.sql.graft.WordShingles.all(col("text"), 3)
    val got = hand.select(col("doc_id"), size(all3).as("n"),
        size(graft.operators.DedupOps.shinglesOf(col("text"))).as("d"))
      .orderBy("doc_id").collect()
    assert(got(0).getInt(1) === 3 && got(0).getInt(2) === 1)
    assert(got(1).getInt(1) === 2 && got(1).getInt(2) === 2)
  }

  test("decontamination: duplicates of eval docs are flagged and dropped") {
    import spark.implicits._
    // synthetic corpus: eval doc 0; train doc 25 is its exact duplicate,
    // 26 shares exactly one 5-gram (first five words), 27 is unrelated,
    // 28 is too short to carry any 5-gram (can never be contaminated)
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta"),
      (25L, "alpha beta gamma delta epsilon zeta eta"),
      (26L, "alpha beta gamma delta epsilon OTHER tail words here"),
      (27L, "one two three four five six seven"),
      (28L, "too short")).toDF("doc_id", "text")
    val report = graft.operators.DedupOps.contamPairs(docs)
      .orderBy("doc_id").collect()
    // doc 0 has 3 distinct 5-grams; the duplicate shares all 3, doc 26
    // shares exactly the first one
    assert(report.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq((25L, 0L, 3L), (26L, 0L, 1L)))
    // the fixture-backed keep set: clean + contaminated partition the
    // train side exactly
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id") >= 20).count()
    val clean = SparkEntry.queries("decontaminate")(spark, sf).count()
    val hit = SparkEntry.queries("decontam_report")(spark, sf)
      .select("doc_id").distinct().count()
    assert(clean + hit === all, s"clean $clean + contaminated $hit != $all")
  }

  test("decontam_incremental: only the delta is checked, hits drop") {
    import spark.implicits._
    // constructed corpus: eval doc 0; train docs 25 (contaminated) and 27
    // (clean) land in the DELTA, 26 (also contaminated, but base) must
    // neither be checked nor emitted — the standing corpus is out of
    // scope by definition
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta"),
      (25L, "alpha beta gamma delta epsilon zeta eta"),
      (26L, "alpha beta gamma delta epsilon extra pad words"),
      (27L, "one two three four five six seven"),
      (28L, "too short")).toDF("doc_id", "text")
    val isDelta = col("doc_id").isin(25L, 27L, 28L)
    val kept = graft.operators.DedupOps
      .decontamIncremental(docs, isDelta)
      .collect().map(_.getLong(0)).sorted.toSeq
    // 25 collides with eval and drops; 27 is clean; 28 carries no 5-gram
    // so it can never collide; 26 is base and must not appear either way
    assert(kept === Seq(27L, 28L))
    // fixture-backed conservation: delta keep + delta hits = whole delta
    val uu = graft.functions.VectorOps.unitUniform(col("doc_id"))
    val delta = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id") >= 20 && uu >= 0.7)
    val keepN = SparkEntry.queries("decontam_incremental")(spark, sf).count()
    val hitIds = SparkEntry.queries("decontam_report")(spark, sf)
      .select("doc_id").distinct()
    val deltaHits = delta.join(hitIds, "doc_id").count()
    assert(keepN + deltaHits === delta.count(),
      s"keep $keepN + hits $deltaHits != delta ${delta.count()}")
  }

  test("split_assign partitions every doc deterministically") {
    val df = SparkEntry.queries("split_assign")(spark, sf)
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(df.count() === total) // exhaustive
    assert(df.select("doc_id").distinct().count() === total) // disjoint
    val byS = df.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byS.keySet.subsetOf(Set("train", "val", "test")))
    // deterministic across runs and roughly 80/10/10
    assert(byS("train").toDouble / total > 0.7)
    assert(SparkEntry.queries("split_assign")(spark, sf).exceptAll(df)
      .count() === 0L)
  }

  test("doc_chunks tiles each doc with stride 150 and a short tail") {
    val chunks = SparkEntry.queries("doc_chunks")(spark, sf)
      .localCheckpoint()
    val lens = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), length(col("text")).as("len"))
    // stride arithmetic holds on every row
    assert(chunks.where(col("chunk_start") =!= col("chunk_idx") * 150)
      .count() === 0L)
    assert(chunks.where(col("chunk_len") < 1 || col("chunk_len") > 200)
      .count() === 0L)
    // every non-empty doc is tiled: chunk count = (len-1) div 150 + 1,
    // every chunk starts inside the doc, and the span covers the tail
    val per = chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("chunk_start").as("last_start"),
        max(col("chunk_start") + col("chunk_len")).as("covered"))
      .join(lens, "doc_id")
    assert(per.where(col("n") =!=
      (col("len") - 1).cast("long").divide(150).cast("long") + 1)
      .count() === 0L)
    assert(per.where(col("last_start") >= col("len")).count() === 0L)
    assert(per.where(col("covered") =!= col("len")).count() === 0L)
    assert(per.count() ===
      lens.where(col("len") > 0).count()) // empty docs carry no chunks
  }

  test("pack_sequences lays docs head-to-tail within each shard") {
    val df = SparkEntry.queries("pack_sequences")(spark, sf).localCheckpoint()
    // offsets within a shard are gapless: tok_start = previous doc's
    // tok_start + n_tokens (lag over the same (shard, doc_id) order)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    val gaps = df.withColumn("prev_end",
        lag(col("tok_start") + col("n_tokens"), 1, 0L).over(w))
      .where(col("tok_start") =!= col("prev_end"))
    assert(gaps.count() === 0L, "packing left a gap or overlap in a shard")
    // sequence ids follow from the offsets
    assert(df.where(col("first_seq") =!=
      (col("tok_start").cast("long"))
        .divide(graft.operators.TextOps.PACK_SEQ).cast("long")).count() === 0L)
    assert(df.where(col("last_seq") < col("first_seq")).count() === 0L)
    // every doc with tokens is packed exactly once
    val tokenized = spark.read.parquet(s"$sf/documents.parquet")
      .where(size(graft.operators.DedupOps.wordsCol(col("text"))) > 0).count()
    assert(df.count() === tokenized)
    assert(df.select("doc_id").distinct().count() === tokenized)
  }

  test("cappedBands drops over-populated LSH cells, keeps the rest") {
    import spark.implicits._
    // cell (0, 11): 3 docs — over a cap of 2, dropped entirely;
    // cell (0, 22): 2 docs — at cap, kept; cell (1, 11): 1 doc, kept.
    val bands = Seq(
      (1L, 0, 11L), (2L, 0, 11L), (3L, 0, 11L),
      (4L, 0, 22L), (5L, 0, 22L), (6L, 1, 11L))
      .toDF("doc_id", "band_id", "band_hash")
    val kept = graft.operators.DedupOps.cappedBands(bands, cap = 2)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(4L, 5L, 6L))
  }

  test("similarity_topk: 5 ranked neighbors per query, sims within [-1,1]") {
    val df = SparkEntry.queries("similarity_topk")(spark, sf).cache()
    assert(df.groupBy("q_id").count().where(col("count") =!= 5).count() === 0L)
    assert(df.where(col("sim") > 1.0001 || col("sim") < -1.0001).count() === 0L)
    // rank 1 sim >= rank 5 sim per query
    val byQ = df.groupBy("q_id")
      .agg(max(when(col("rnk") === 1, col("sim"))).as("s1"),
        max(when(col("rnk") === 5, col("sim"))).as("s5"))
    assert(byQ.where(col("s1") < col("s5")).count() === 0L)
  }

  test("sim_topk_lsh returns a subset of brute-force candidates per query") {
    val brute = SparkEntry.queries("similarity_topk")(spark, sf)
      .select(col("q_id"), col("vec_id"))
    val lsh = SparkEntry.queries("sim_topk_lsh")(spark, sf)
      .select(col("q_id"), col("vec_id"))
    // LSH top-k sims can only come from the full vector set; sanity: every
    // LSH (q, vec) pair is a real vector pair and ranks are <= 5 per query
    assert(lsh.count() <= 5L * 10L)
  }

  test("approx_distinct estimates within 5% of the exact count per group") {
    // the query itself carries the error bound now (sketch vs exact in one
    // plan, boolean gate the DuckDB oracle asserts TRUE); this pins the
    // flag semantics — every group in-bound, exact side identical to
    // agg_distinct's countDistinct (configured rsd = 1%, so 5% is a
    // loose, non-flaky bound)
    val approx = SparkEntry.queries("approx_distinct")(spark, sf)
    assert(approx.where(!col("approx_within_5pct")).count() === 0L,
      "HLL estimate off by >5% somewhere")
    val exact = SparkEntry.queries("agg_distinct")(spark, sf)
      .select(col("event_type"), col("n_users").as("n_exact"))
    val bad = approx.join(exact, "event_type")
      .where(col("n_users") =!= col("n_exact"))
    assert(bad.count() === 0L, "exact side diverged from agg_distinct")
    assert(approx.count() === exact.count())
  }

  test("bench-only sketch projections stay within their declared error") {
    // the production sketch-only forms are benched but not oracle-declared
    // (an estimate is not DuckDB-reproducible); pin them against their
    // exact siblings here so "bench-only" never means "untested"
    val sk = SparkEntry.benchOnly("approx_distinct_sketch")(spark, sf)
    val exact = SparkEntry.queries("agg_distinct")(spark, sf)
      .select(col("event_type"), col("n_users"))
    val badCard = sk.join(exact, "event_type")
      .where(abs(col("approx_users") - col("n_users")) >
        col("n_users") * lit(0.05))
    assert(badCard.count() === 0L, "sketch cardinality off by >5%")
    assert(sk.count() === exact.count())
    val pk = SparkEntry.benchOnly("approx_percentile_sketch")(spark, sf)
    val pexact = SparkEntry.queries("percentile_agg")(spark, sf)
      .select(col("l_returnflag"), col("p50"), col("p95"))
    val badPct = pk.join(pexact, "l_returnflag")
      .where(abs(col("a50") - col("p50")) > col("p50") * lit(0.01) ||
        abs(col("a95") - col("p95")) > col("p95") * lit(0.01))
    assert(badPct.count() === 0L, "quantile sketch off by >1%")
  }

  test("approx_percentile_agg tracks the exact percentiles within 1%") {
    val approx = SparkEntry.queries("approx_percentile_agg")(spark, sf)
    assert(approx.where(!col("approx_within_1pct")).count() === 0L,
      "quantile sketch off by >1% somewhere")
    // exact side must be the same rIeee@4 values percentile_agg pins
    val exact = SparkEntry.queries("percentile_agg")(spark, sf)
      .select(col("l_returnflag"), col("p50").as("e50"), col("p95").as("e95"))
    val bad = approx.join(exact, "l_returnflag")
      .where(col("p50") =!= col("e50") || col("p95") =!= col("e95"))
    assert(bad.count() === 0L, "exact side diverged from percentile_agg")
  }

  test("sim_topk_ivf ranks at most 5 candidates per query from probed cells") {
    val ivf = SparkEntry.queries("sim_topk_ivf")(spark, sf).cache()
    assert(ivf.count() > 0)
    assert(ivf.groupBy("q_id").count().where(col("count") > 5).count() === 0L)
    assert(ivf.where(col("rnk") > 5).count() === 0L)
    assert(ivf.where(col("sim") > 1.0001 || col("sim") < -1.0001).count() === 0L)
  }

  test("ivf_cell_stats recomputes exactly from the persisted layout") {
    import graft.operators.SimilarityOps
    val got = SparkEntry.queries("ivf_cell_stats")(spark, sf).collect()
      .map(r => r.getAs[Int]("cell") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Long]("share_ppm"),
          r.getAs[Boolean]("over_cap"))).toMap
    // independent recount straight off the layout bytes the probes scan
    val dir = SimilarityOps.ensureIvfIndex(spark, sf)
    val cells = spark.read.parquet(s"$dir/vectors")
      .select(col("cell").cast("int")).collect().map(_.getInt(0))
    // the audit's domain is the cell MODEL, not just populated cells:
    // an empty cell must report n_vecs=0 instead of vanishing (r17
    // ADVICE) — on this fixture every cell happens to be populated, so
    // the domains coincide; the keySet check is against the model
    val modelCells = spark.read.parquet(s"$dir/cells")
      .select(col("cell").cast("int")).collect().map(_.getInt(0)).toSet
    val pop = cells.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = modelCells.map(c => c -> pop.getOrElse(c, 0L)).toMap
    val total = cells.length.toLong
    assert(got.keySet === modelCells)
    assert(got.keySet.size <= SimilarityOps.NCELLS)
    assert(got.values.map(_._1).sum === total, "populations must tile the corpus")
    got.foreach { case (cell, (n, ppm, over)) =>
      assert(n === expect(cell), s"cell $cell population drift")
      assert(ppm === n * 1000000L / total, s"cell $cell ppm drift")
      assert(over === (n > SimilarityOps.BUCKET_CAP))
    }
  }

  test("lang_confusion re-derives from lang_id and the metadata column") {
    val got = SparkEntry.queries("lang_confusion")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // independent: join the DECLARED lang_id guesses to the raw lang
    // column by doc_id in plain Scala and recount every cell
    val guesses = SparkEntry.queries("lang_id")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val langs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getString(1), guesses(r.getLong(0))))
    val cells = langs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val totals = langs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    assert(got.keySet === cells.keySet)
    cells.foreach { case (k, n) =>
      assert(got(k) === ((n, n * 1000000L / totals(k._1))), s"cell $k") }
    // the matrix tiles the corpus, and the fixture's known honesty
    // artifact is visible in it: en detects mostly 'en', and no
    // non-English metadata lang is ever detected as itself
    assert(got.values.map(_._1).sum === langs.length.toLong)
    assert(got.getOrElse(("en", "en"), (0L, 0L))._2 > 500000L,
      "en must mostly detect as en via the shared stopwords")
    assert(!got.keys.exists(k => k._1 != "en" && k._1 == k._2),
      "no non-en lang can detect as itself on the shared-vocab fixture")
  }

  test("dedup_url_incremental re-derives from dedup_url's canonical keys") {
    val got = SparkEntry.queries("dedup_url_incremental")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    // independent: take the DECLARED canonicalization (dedup_url's
    // canon_url column), split by a plain-java md5 parity, and replay
    // the two-stage attribution with Scala collections
    def par(id: Long): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15), 16) % 2
    val canon = SparkEntry.queries("dedup_url")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val delta = canon.keys.toSeq.filter(par(_) == 1).sorted
    val baseCanon = canon.keys.filter(par(_) == 0).map(canon).toSet
    val firstOf = delta.groupBy(canon).map { case (c, ids) => c -> ids.min }
    val expect = delta.map { id =>
      val c = canon(id)
      id -> (c,
        if (firstOf(c) != id) "delta"
        else if (baseCanon(c)) "base"
        else "kept")
    }.toMap
    assert(got === expect)
    // all three stages must fire on the fixture (the md5-parity split
    // exists exactly because the multiplicative hash never isolates a
    // whole 4-variant resource in the delta)
    assert(Set("delta", "base", "kept").subsetOf(
      got.values.map(_._2).toSet))
  }

  test("dedup_fuzzy_incremental re-derives from the declared fuzzy pairs") {
    // same replay as the simhash form, over the EDIT-verified pair graph:
    // a delta doc drops on any verified partner in the base, else on
    // losing its within-delta component's min-id representation
    val got = SparkEntry.queries("dedup_fuzzy_incremental")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    def isBase(id: Long): Boolean =
      ((id * 2654435761L) % 4294967296L + 0.5) / 4294967296.0 < 0.7
    val pairs = SparkEntry.queries("dedup_fuzzy")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val delta = Tables.documents(spark, sf).select(col("doc_id"))
      .collect().map(_.getLong(0)).filterNot(isBase)
    val collide = delta.filter(d => pairs.exists { case (a, b) =>
      (a == d && isBase(b)) || (b == d && isBase(a)) }).toSet
    val remPairs = pairs.filter { case (a, b) =>
      !isBase(a) && !isBase(b) && !collide(a) && !collide(b) }
    val label = collection.mutable.Map.empty[Long, Long]
    remPairs.flatMap(p => Seq(p._1, p._2)).foreach(n => label(n) = n)
    var changed = true
    while (changed) {
      changed = false
      remPairs.foreach { case (a, b) =>
        val m = math.min(label(a), label(b))
        if (label(a) != m) { label(a) = m; changed = true }
        if (label(b) != m) { label(b) = m; changed = true }
      }
    }
    val nonRep = label.collect { case (n, l) if l != n => n }.toSet
    assert(got === delta.toSet -- collide -- nonRep)
    assert(got.size < delta.length,
      "no delta doc ever dropped — the incremental arms are vacuous")
  }

  test("dedup_simhash_incremental re-derives from the declared pair graph") {
    // the incremental form must be exactly the declared
    // dedup_simhash_pairs relation (same capping, same hamming verify)
    // interpreted through the base/delta split: a delta doc drops on any
    // pair partner in the base, else on losing its within-delta
    // component's min-id representation — replayed in plain Scala
    val got = SparkEntry.queries("dedup_simhash_incremental")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    def isBase(id: Long): Boolean =
      ((id * 2654435761L) % 4294967296L + 0.5) / 4294967296.0 < 0.7
    val pairs = SparkEntry.queries("dedup_simhash_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val delta = Tables.documents(spark, sf).select(col("doc_id"))
      .collect().map(_.getLong(0)).filterNot(isBase)
    val collide = delta.filter(d => pairs.exists { case (a, b) =>
      (a == d && isBase(b)) || (b == d && isBase(a)) }).toSet
    // min-label components over the remaining within-delta subgraph
    val remPairs = pairs.filter { case (a, b) =>
      !isBase(a) && !isBase(b) && !collide(a) && !collide(b) }
    val label = collection.mutable.Map.empty[Long, Long]
    remPairs.flatMap(p => Seq(p._1, p._2)).foreach(n => label(n) = n)
    var changed = true
    while (changed) {
      changed = false
      remPairs.foreach { case (a, b) =>
        val m = math.min(label(a), label(b))
        if (label(a) != m) { label(a) = m; changed = true }
        if (label(b) != m) { label(b) = m; changed = true }
      }
    }
    val nonRep = label.collect { case (n, l) if l != n => n }.toSet
    val expect = delta.toSet -- collide -- nonRep
    assert(got === expect)
    // the fixture must exercise the drop paths (8 measured at sf0.001)
    assert(got.size < delta.length,
      "no delta doc ever dropped — the incremental arms are vacuous")
  }

  test("source_overlap matches a text-equality re-derivation on the fixture") {
    // independent recheck grouping by RAW TEXT with plain string equality
    // (no digest, no Spark expression shared) — also proves the digest
    // grouping equals text grouping on the fixture
    val got = SparkEntry.queries("source_overlap")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val shimmed = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map { r =>
        val (id, src, text) = (r.getLong(0), r.getString(1), r.getString(2))
        (src, if (id % 9 == 5) s"shared resource ${id / 200}" else text)
      }
    val expect = collection.mutable.Map.empty[(String, String), Long]
    shimmed.groupBy(_._2).values.filter(_.length >= 2).foreach { g =>
      val bySrc = g.groupBy(_._1).view.mapValues(_.length.toLong).toMap
      for ((a, ca) <- bySrc; b <- bySrc.keys if a != b || ca >= 2)
        expect((a, b)) = expect.getOrElse((a, b), 0L) + ca
    }
    val totals = shimmed.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    assert(got.keySet === expect.keySet)
    expect.foreach { case (k, n) =>
      assert(got(k) === ((totals(k._1), n, n * 1000000L / totals(k._1))),
        s"pair $k drifted")
    }
    // the shim must exercise BOTH matrix arms
    assert(got.keys.exists(k => k._1 == k._2), "no diagonal rows")
    assert(got.keys.exists(k => k._1 != k._2), "no off-diagonal rows")
  }

  test("ivf_index_incremental: appended layout equals a frozen-model rebuild") {
    import graft.operators.{KMeansOps, SimilarityOps}
    val baseDir = SimilarityOps.ensureIvfIndex(spark, sf)
    val deltaDir = SimilarityOps.ensureIvfDelta(spark, sf)
    val cells = KMeansOps.collectCenters(
      spark.read.parquet(s"$baseDir/cells").orderBy(col("cell")),
      "cell", "cv")
    // the incremental serving view: standing files ∪ appended delta files
    val inc = spark.read.parquet(s"$baseDir/vectors")
      .select(col("id"), col("v"), col("cell").cast("int").as("cell"))
      .unionByName(spark.read.parquet(s"$deltaDir/vectors")
        .select(col("id"), col("v"), col("cell").cast("int").as("cell")))
    // the full rebuild at the SAME frozen model: assign base+delta in-plan
    val reb = KMeansOps.points(spark, sf)
      .unionByName(SimilarityOps.ivfDeltaVectors(spark, sf))
      .select(col("id"), col("v"),
        KMeansOps.nearestCol(col("v"), cells).as("cell"))
    // bit-for-bit set equality of (id, vector, cell) — any probe over the
    // incremental layout therefore sees exactly the rebuild's candidates:
    // probe-recall parity is structural, not statistical
    assert(inc.count() === reb.count())
    assert(inc.exceptAll(reb).count() === 0L, "appended layout drifted")
    assert(reb.exceptAll(inc).count() === 0L, "appended layout lost rows")
    // the delta must actually spread across cells (a degenerate transform
    // landing everything in one cell would make the parity vacuous)
    val deltaCells = spark.read.parquet(s"$deltaDir/vectors")
      .select(col("cell")).distinct().count()
    assert(deltaCells > 2, s"delta concentrated in $deltaCells cells")
  }

  test("ivf_index_refresh: covers the churn, moves vectors, tightens the fit") {
    import graft.operators.{KMeansOps, SimilarityOps}
    val delDir = SimilarityOps.ensureIvfDeleted(spark, sf)
    val deltaDir = SimilarityOps.ensureIvfDelta(spark, sf)
    val refDir = SimilarityOps.ensureIvfRefreshed(spark, sf)
    val churn = spark.read.parquet(s"$delDir/vectors").select("id", "v")
      .unionByName(spark.read.parquet(s"$deltaDir/vectors").select("id", "v"))
    val ref = spark.read.parquet(s"$refDir/vectors")
      .select(col("id"), col("v"), col("cell").cast("int").as("cell"))
    // exact population: refresh rewrites assignments, never gains or
    // loses a vector
    assert(ref.count() === churn.count())
    assert(ref.select("id").exceptAll(churn.select("id")).count() === 0L)
    // the re-centering genuinely moved assignments (the stale model no
    // longer fits the churned population — otherwise refresh is a no-op
    // and the operator proves nothing)
    val staleCells = spark.read.parquet(s"$delDir/vectors")
      .select(col("id"), col("cell").cast("int").as("old_cell"))
      .unionByName(spark.read.parquet(s"$deltaDir/vectors")
        .select(col("id"), col("cell").cast("int").as("old_cell")))
    val moved = ref.join(staleCells, "id")
      .where(col("cell") =!= col("old_cell")).count()
    assert(moved > 0, "refresh moved nothing — vacuous on this fixture")
    // Lloyd monotonicity, the POINT of the refresh: total squared
    // distance to the assigned centroid strictly improves over the
    // stale (model, assignment) pair on the churned population
    def cost(vecs: org.apache.spark.sql.DataFrame, cellCol: String,
        centers: Array[(Int, Array[Double])]): Double = {
      val m = centers.toMap
      vecs.select(col("v"), col(cellCol)).collect().map { r =>
        val v = r.getSeq[Double](0); val c = m(r.getInt(1))
        v.indices.map(i => (v(i) - c(i)) * (v(i) - c(i))).sum
      }.sum
    }
    val oldC = KMeansOps.collectCenters(
      spark.read.parquet(s"${SimilarityOps.ensureIvfIndex(spark, sf)}/cells")
        .orderBy(col("cell")), "cell", "cv")
    val newC = KMeansOps.collectCenters(
      spark.read.parquet(s"$refDir/cells").orderBy(col("cell")),
      "cell", "cv")
    val staleCost = cost(spark.read.parquet(s"$delDir/vectors")
      .select(col("v"), col("cell").cast("int").as("cell"))
      .unionByName(spark.read.parquet(s"$deltaDir/vectors")
        .select(col("v"), col("cell").cast("int").as("cell"))), "cell", oldC)
    val freshCost = cost(ref.select(col("v"), col("cell")), "cell", newC)
    assert(freshCost < staleCost,
      s"refresh did not tighten the fit: $freshCost !< $staleCost")
  }

  test("ivf_refresh_report: a consistent ledger of the refresh's migration") {
    import graft.operators.SimilarityOps
    val rep = SparkEntry.queries("ivf_refresh_report")(spark, sf).collect()
    assert(rep.length === 16)
    // population conservation: both sides total the churned population,
    // and migration balances (every move leaves one cell and enters one)
    val (nb, na) = (rep.map(_.getLong(1)).sum, rep.map(_.getLong(2)).sum)
    assert(nb === na)
    val churn = spark.read.parquet(
        s"${SimilarityOps.ensureIvfRefreshed(spark, sf)}/vectors").count()
    assert(na === churn)
    val (in, out) = (rep.map(_.getLong(3)).sum, rep.map(_.getLong(4)).sum)
    assert(in === out)
    assert(in > 0, "report shows no migration — inconsistent with the " +
      "refresh spec's moved-assignments gate")
    // the takedown-hollowed cells re-centered: their centroids shifted
    rep.filter(r => SimilarityOps.IVF_DELETE_CELLS.contains(r.getInt(0)))
      .foreach(r => assert(r.getDouble(5) > 0.0,
        s"cell ${r.getInt(0)} lost vectors but its centroid never moved"))
  }

  test("ivf_index_delete: surgery equals frozen-model rebuild minus the set") {
    import graft.operators.{KMeansOps, SimilarityOps}
    val baseDir = SimilarityOps.ensureIvfIndex(spark, sf)
    val delDir = SimilarityOps.ensureIvfDeleted(spark, sf)
    val cells = KMeansOps.collectCenters(
      spark.read.parquet(s"$baseDir/cells").orderBy(col("cell")),
      "cell", "cv")
    val del = spark.read.parquet(s"$delDir/vectors")
      .select(col("id"), col("v"), col("cell").cast("int").as("cell"))
    // the rebuild at the SAME frozen model, minus the takedown set —
    // the ivf_index_incremental append==rebuild spec run in reverse
    val reb = KMeansOps.points(spark, sf)
      .select(col("id"), col("v"),
        KMeansOps.nearestCol(col("v"), cells).as("cell"))
      .where(!(col("cell").isin(SimilarityOps.IVF_DELETE_CELLS: _*) &&
        pmod(col("id"), lit(SimilarityOps.IVF_DELETE_MOD)) === 1))
    assert(del.count() === reb.count())
    assert(del.exceptAll(reb).count() === 0L, "deleted layout drifted")
    assert(reb.exceptAll(del).count() === 0L, "deleted layout lost rows")
    // the takedown removed something (a vacuous set would prove nothing)
    val removed =
      spark.read.parquet(s"$baseDir/vectors").count() - del.count()
    assert(removed > 0, "takedown set empty on the fixture")
    // PARTITION SURGERY pinned at the file level: untouched cell
    // partitions carried over as the SAME files (name+size), and only
    // the affected cells were rewritten
    def partFiles(dir: String): Map[String, Set[(String, Long)]] = {
      val p = java.nio.file.Paths.get(s"$dir/vectors")
      val cellsIt = java.nio.file.Files.list(p)
      try cellsIt.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(e => e.getFileName.toString.startsWith("cell="))
        .map { e =>
          val fs = java.nio.file.Files.list(e)
          try e.getFileName.toString -> fs.toArray
            .map(_.asInstanceOf[java.nio.file.Path])
            .map(f => (f.getFileName.toString, java.nio.file.Files.size(f)))
            .toSet
          finally fs.close()
        }.toMap
      finally cellsIt.close()
    }
    val (before, after) = (partFiles(baseDir), partFiles(delDir))
    val affected = SimilarityOps.IVF_DELETE_CELLS.map(c => s"cell=$c").toSet
    for ((cell, files) <- before if !affected.contains(cell))
      assert(after(cell) === files, s"untouched partition $cell rewritten")
    for (cell <- affected)
      assert(before(cell) !== after.getOrElse(cell, Set.empty),
        s"affected partition $cell not rewritten")
  }

  test("dedup_index_delete: tombstoned index == re-band of base minus set; " +
      "takedown propagates") {
    import graft.operators.SimilarityOps
    import spark.implicits._
    def e(i: Int): Seq[Double] =
      Seq.tabulate(64)(j => if (j == i) 1.0 else 0.0)
    val base = Seq((0L, e(0)), (1L, e(1)), (2L, e(2))).toDF("id", "v")
    val delta = Seq(
      (10L, e(0)), // still matches standing base 0      -> 'base'
      (11L, e(2)), // held down ONLY by tombstoned 2     -> flips to 'kept'
      (12L, e(3))) // fresh                              -> 'kept'
      .toDF("id", "v")
    val tomb = Seq(2L).toDF("id")
    // production path: the standing band index pruned by the tombstone
    // anti-join (identical vectors share every sign bucket, so base hits
    // are guaranteed candidates at cos 1)
    val standing = SimilarityOps
      .bucketedAllTables(base, 64, SimilarityOps.PLANES_DEDUP)
      .select(col("id"), col("t"), col("b"))
    val pruned = standing.join(broadcast(tomb), Seq("id"), "left_anti")
    val got = SimilarityOps
      .dedupEmbIncrementalOf(base, delta, Some(pruned))
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(got === Map(
      10L -> ((false, "base")),
      11L -> ((true, "kept")), // the propagation flip
      12L -> ((true, "kept"))))
    // rebuild parity: pruning the standing index must equal re-banding
    // the surviving base from scratch — deletion without rebuild is
    // result-identical to the rebuild it avoids
    val keepBase = base.where(col("id") =!= 2L)
    val reband = SimilarityOps
      .dedupEmbIncrementalOf(keepBase, delta, None)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(reband === got, "tombstone pruning drifted from a fresh re-band")
  }

  test("dedup_index_compact: layout retires every tombstone; probe parity") {
    import graft.operators.{KMeansOps, SimilarityOps}
    val dir = SimilarityOps.ensureBandCompacted(spark, sf)
    val compacted = spark.read.parquet(s"$dir/bands")
      .select(col("id"), col("t"), col("b"))
    // byte-level layout gate: the compacted files name NO tombstoned id
    assert(compacted.where(
      pmod(col("id"), lit(SimilarityOps.BAND_DELETE_MOD)) === 0)
      .count() === 0L, "a tombstoned id survived compaction")
    // the compacted layout IS the pruned standing index, row for row —
    // survivors keep their full band sets (retirement loses nothing)
    val pruned = spark.read
      .parquet(s"${SimilarityOps.ensureBandIndex(spark, sf)}/bands")
      .select(col("id"), col("t"), col("b"))
      .where(pmod(col("id"), lit(SimilarityOps.BAND_DELETE_MOD)) =!= 0)
    assert(compacted.count() === pruned.count())
    assert(compacted.exceptAll(pruned).count() === 0L)
    assert(pruned.exceptAll(compacted).count() === 0L)
    // same physical scheme as the standing layout: one dir per table,
    // so probes stay layout-oblivious after retirement
    val parts = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$dir/bands"))
      .toArray.map(_.toString.split("/").last)
      .filter(_.startsWith("t=")).sorted
    assert(parts.length === SimilarityOps.TABLES,
      s"expected ${SimilarityOps.TABLES} table partitions, got $parts")
    // probe parity: compacted-index verdict == tombstone-anti-joined
    // verdict (retirement is invisible to results)
    def verdict(name: String) =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2))))
        .toMap
    assert(verdict("dedup_index_compact") === verdict("dedup_index_delete"),
      "compacted probe verdict drifted from the tombstone-filtered form")
    // the audit ledger agrees with the layouts: one row per table,
    // uniform retirement equal to the tombstone class size
    val rep = SparkEntry.queries("dedup_index_compact_report")(spark, sf)
      .collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rep.length === SimilarityOps.TABLES)
    val nTomb = KMeansOps.points(spark, sf)
      .where(pmod(col("id"), lit(SimilarityOps.BAND_DELETE_MOD)) === 0)
      .count()
    rep.foreach { case (t, nb, na, nr) =>
      assert(nr === nTomb, s"table $t retired $nr rows, expected $nTomb")
      assert(nb - na === nr)
    }
  }

  test("sim_topk_ivf recall@5 vs the exact top-k stays above the floor") {
    // retrieval QUALITY, not just determinism (round-6 verdict #1): the
    // declared recall query must report one row per query and a mean
    // recall@5 above the floor at NCELLS=16/NPROBE=4. The floor is set
    // from the measured curve (see ivfTopK's scaladoc): the fixture
    // embeddings are quasi-random in 64-dim, so recall tracks the scan
    // fraction (0.64 mean at the declared 4/16 = 25% scan) — 0.55 guards
    // a catastrophic regression; the hash-checked recall rows in
    // CORRECTNESS pin the exact per-query values on top. A cell-training
    // or nprobe regression that stays deterministic now fails here.
    val rows = SparkEntry.queries("sim_topk_ivf_recall")(spark, sf).collect()
    assert(rows.length === 10, "one recall row per fixed query expected")
    assert(rows.forall(r => r.getAs[Long]("n_hit") <= 5))
    val mean = rows.map(_.getAs[Double]("recall")).sum / rows.length
    assert(mean >= 0.55, s"mean recall@5 $mean below the 0.55 floor")
    // the PQ path sees the same candidates and exact-reranks a 20-deep
    // int8 shortlist, so its recall may trail the float path only by
    // true neighbors quantization pushed out of the shortlist — bound
    // the gap, not just a static floor
    val pqRows = SparkEntry.queries("sim_topk_ivf_pq_recall")(spark, sf)
      .collect()
    assert(pqRows.length === 10)
    val pqMean = pqRows.map(_.getAs[Double]("recall")).sum / pqRows.length
    assert(pqMean >= mean - 0.1,
      s"PQ recall $pqMean fell more than 0.1 below float-path recall $mean")
  }

  test("minhash estimate tracks exact 3-gram Jaccard and finds high-J pairs") {
    // dedup QUALITY pinned like the IVF recall floor: (1) the signature
    // agreement count is a real Jaccard estimator — within 4σ of the
    // 32-permutation binomial error (sqrt(J(1-J)/32) <= 0.088 -> 0.35
    // absolute) against the exact 3-gram Jaccard of the same pair; (2) LSH
    // candidate recall — every pair whose TRUE Jaccard >= 0.8 must surface
    // as a candidate (8 bands x 4 rows: collision prob >= 98.5% at J=0.8,
    // and the fixture's planted dups are exact or near-exact).
    import graft.operators.DedupOps
    val docs = Tables.documents(spark, sf)
    val ex = DedupOps.spreadBy(docs, col("doc_id")).select(col("doc_id"),
      explode(DedupOps.shinglesOf(col("text"))).as("s"))
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val inter = ex.select(col("doc_id").as("doc_a"), col("s"))
      .join(ex.select(col("doc_id").as("doc_b"), col("s")), "s")
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ninter"))
    val jac = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), (col("ninter").cast("double") /
        (col("na") + col("nb") - col("ninter"))).as("j")).cache()
    val scored = SparkEntry.queries("dedup_minhash_scored")(spark, sf)
    val est = scored.join(jac, Seq("doc_a", "doc_b"), "left")
      .select(col("n_match"), coalesce(col("j"), lit(0.0)).as("j"))
    assert(est.where(abs(col("n_match") / lit(32.0) - col("j")) > 0.35)
      .count() === 0L, "minhash slot agreement diverged from exact Jaccard")
    val high = jac.where(col("j") >= 0.8)
    assert(high.count() > 0, "fixture should contain high-Jaccard dup pairs")
    val missed = high.join(scored.select("doc_a", "doc_b"),
      Seq("doc_a", "doc_b"), "left_anti")
    assert(missed.count() === 0L, "LSH missed a true high-Jaccard pair")
    jac.unpersist()
  }

  test("simhash chunk pigeonhole is COMPLETE for hamming <= 3 on fixture") {
    // the operator's central claim, verified against brute force: a pair
    // within hamming distance 3 differs in at most 3 of the 4 15-bit
    // chunks, so at least one chunk collides and the pair must surface.
    // At sf0.001 no (chunk, value) cell can exceed CHUNK_CAP=1000 (only
    // 500 docs), so candidate generation must be EXACTLY the brute-force
    // hamming<=3 pair set — completeness AND precision.
    val fp = SparkEntry.queries("dedup_simhash")(spark, sf)
    val brute = fp.select(col("doc_id").as("doc_a"), col("simhash").as("ha"))
      .crossJoin(fp.select(col("doc_id").as("doc_b"), col("simhash").as("hb")))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .where(col("hamming") <= 3)
    val found = SparkEntry.queries("dedup_simhash_pairs")(spark, sf)
    assert(brute.count() > 0, "fixture should contain hamming<=3 pairs")
    assert(brute.exceptAll(found).count() === 0L, "pigeonhole missed a pair")
    assert(found.exceptAll(brute).count() === 0L, "spurious pair emitted")
  }

  test("dedup_exact keeps one survivor per distinct text") {
    val docs = Tables.documents(spark, sf)
    val distinctTexts = docs.select("text").distinct().count()
    assert(SparkEntry.queries("dedup_exact_docs")(spark, sf).count()
      === distinctTexts)
  }

  test("multimodal decode is deterministic and total") {
    val a = SparkEntry.queries("multimodal_features")(spark, sf)
    assert(a.count() === 500L)
    val b = SparkEntry.queries("multimodal_features")(spark, sf)
    assert(a.exceptAll(b).count() === 0L)
  }

  test("multimodal resize fits the box; frame sampling respects the cap") {
    // resize invariants: visual rows only, output dims within the 256²
    // box, aspect order preserved (w >= h in iff out_w >= out_h), and an
    // already-fitting payload passes through untouched
    val rs = SparkEntry.queries("multimodal_resize")(spark, sf).collect()
    assert(rs.nonEmpty && rs.forall(_.getString(1) != "audio"))
    assert(rs.forall(r => r.getInt(4) <= 256 && r.getInt(5) <= 256))
    assert(rs.forall(r => (r.getInt(2) >= r.getInt(3)) ==
      (r.getInt(4) >= r.getInt(5))))
    assert(rs.filter(r => r.getInt(2) <= 256 && r.getInt(3) <= 256)
      .forall(r => r.getInt(4) == r.getInt(2) && r.getInt(5) == r.getInt(3)))
    // frame invariants: every video emits 1..MAX_FRAMES frames, indices
    // ascend from 0, timestamps are the exact integer-ms grid
    val fr = SparkEntry.queries("multimodal_frames")(spark, sf).collect()
    val perDoc = fr.groupBy(_.getLong(0))
    val nVideos = Tables.documents(spark, sf)
      .where(col("doc_id") % 3 === 2).count()
    assert(perDoc.size === nVideos)
    assert(perDoc.values.forall(g => g.length >= 1 && g.length <= 8))
    assert(perDoc.values.forall(_.map(_.getInt(1)).min === 0))
    assert(fr.forall(r => r.getLong(2) === r.getInt(1) * 1000L / 24))
  }

  test("multimodal_topk: ranked cross-modal lists; image queries self-retrieve at sim 1") {
    val out = SparkEntry.queries("multimodal_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet === (0L until 8L).toSet, "every query must return hits")
    byQ.values.foreach { g =>
      assert(g.length <= 5)
      val sorted = g.sortBy(_._3)
      assert(sorted.map(_._3).toSeq === (1 to g.length), "ranks not contiguous")
      // sims non-increasing down the ranking
      assert(sorted.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
      // the corpus side is images only
      assert(g.forall(_._2 % 3 === 0L))
    }
    // the CLIP-recall signal: an image-modality query's text features ARE
    // its image features, so rank 1 carries sim 1.0 (self-match, or an
    // exact-duplicate text at a lower doc_id under the vec_id tie-break)
    (0L until 8L).filter(_ % 3 == 0).foreach { q =>
      val r1 = byQ(q).minBy(_._3)
      assert(r1._4 === 1.0, s"query $q rank-1 sim ${r1._4}")
    }
  }

  test("dedup_media: banded pairs are complete for L-inf < eps, modality-scoped") {
    import graft.operators.MultimodalOps
    val eps = MultimodalOps.MEDIA_EPS
    // synthetic features: (1,2) near within eps; (2,3) straddle a grid-0
    // cell boundary (0.008k) but remain within eps — the offset grid must
    // still surface them; (1,4) differ by > eps; (1,5) near but different
    // modality — never a pair
    def row(id: Long, mt: String, f: Double) =
      (id, mt, 100 + id.toInt, 100, f, 0.5, 0.5, 0.5)
    val feats = spark.createDataFrame(Seq(
      row(1L, "image", 0.1000),
      row(2L, "image", 0.1000 + eps * 0.5),
      row(3L, "image", 0.008 * 50 - eps * 0.1), // just below a boundary...
      row(4L, "image", 0.2000),
      row(5L, "audio", 0.1000),
      row(6L, "image", 0.008 * 50 + eps * 0.1) // ...just above the same one
    )).toDF("doc_id", "media_type", "width", "height",
      "f0", "f1", "f2", "f3")
    val pairs = MultimodalOps.mediaPairsOf(feats)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((1L, 2L), (3L, 6L)),
      s"expected {(1,2),(3,6)}, got ${pairs.toSet}")
  }

  test("dedup_media_apply keeps the sharpest cluster member, reinstates singles") {
    import graft.operators.MultimodalOps
    val eps = MultimodalOps.MEDIA_EPS
    // chain cluster {1,2,3} (1~2 and 2~3 within eps; 1~3 is 0.8·eps < eps
    // too, but transitivity must hold regardless): doc 2 carries the
    // highest resolution and must be the sole survivor; doc 7 ties doc
    // 2's... (no — 7 is a singleton and keeps itself); tie case {8,9}:
    // equal resolution -> lowest id 8 survives
    def row(id: Long, f: Double, w: Int, h: Int) =
      (id, "image", w, h, f, 0.5, 0.5, 0.5)
    val feats = spark.createDataFrame(Seq(
      row(1L, 0.1000, 100, 100),
      row(2L, 0.1000 + eps * 0.4, 200, 200),
      row(3L, 0.1000 + eps * 0.8, 150, 150),
      row(7L, 0.3000, 10, 10),
      row(8L, 0.5000, 120, 120),
      row(9L, 0.5000 + eps * 0.3, 120, 120)
    )).toDF("doc_id", "media_type", "width", "height",
      "f0", "f1", "f2", "f3")
    val got = MultimodalOps.mediaApplyOf(feats).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((2L, 1L, 3L), (7L, 7L, 1L), (8L, 8L, 2L)),
      s"got $got")
  }

  test("dedup_media on the fixture: verified distances, ordered ids, modality") {
    val rows = SparkEntry.queries("dedup_media")(spark, sf).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getDouble(3) <
      graft.operators.MultimodalOps.MEDIA_EPS + 1e-9))
    // modality is derived from doc_id % 3 — both members must agree with it
    assert(rows.forall { r =>
      val mt = Seq("image", "audio", "video")
      mt((r.getLong(0) % 3).toInt) == r.getString(2) &&
        mt((r.getLong(1) % 3).toInt) == r.getString(2)
    })
  }

  test("unigram_logprob: OOV path exercised, surprisal bounds hold") {
    import graft.operators.DedupOps.wordsCol
    // the fixture vocabulary must exceed the VOCAB=16 model cap, or the
    // OOV branch is dead code under oracle parity
    val distinctTok = Tables.documents(spark, sf)
      .select(explode(wordsCol(col("text"))).as("w"))
      .distinct().count()
    assert(distinctTok > 16L, s"vocab $distinctTok <= VOCAB cap")
    val df = SparkEntry.queries("unigram_logprob")(spark, sf)
    // surprisal per token is in [0, bitlength(total)-1] => mean is too
    assert(df.where(col("mean_surprisal") < 0 ||
      col("mean_surprisal") > 62).count() === 0L)
    assert(df.where(col("n_tokens") <= 0).count() === 0L)
    // rarity must actually separate documents on this fixture
    assert(df.select("mean_surprisal").distinct().count() > 1L)
  }

  test("tfidf_topk emits a total per-doc ranking of at most 3 terms") {
    val df = SparkEntry.queries("tfidf_topk")(spark, sf)
    val perDoc = df.groupBy("doc_id").agg(count(lit(1)).as("n"),
      countDistinct(col("rk")).as("nrk"), max(col("rk")).as("maxrk"))
    assert(perDoc.where(col("n") > 3 || col("n") =!= col("nrk") ||
      col("maxrk") > col("n")).count() === 0L)
    // scores are non-increasing in rank within each doc
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("rk"))
    val bad = df.withColumn("prev", lag(col("score"), 1).over(w))
      .where(col("prev").isNotNull && col("score") > col("prev"))
    assert(bad.count() === 0L)
  }

  test("mix_sample keeps the binding lang whole and never upsamples") {
    val docs = Tables.documents(spark, sf)
    val kept = SparkEntry.queries("mix_sample")(spark, sf)
    // kept ⊆ corpus with the same lang labels
    assert(kept.join(docs.select("doc_id", "lang"), Seq("doc_id", "lang"),
      "left_anti").count() === 0L)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("c"))
    val keptCounts = kept.groupBy("lang").agg(count(lit(1)).as("k"))
    val j = counts.join(keptCounts, Seq("lang"), "left")
      .select(col("lang"), col("c"), coalesce(col("k"), lit(0L)).as("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(j.forall { case (_, c, k) => k <= c }, j.mkString(","))
    // the binding lang (S = min c/t) keeps every doc
    assert(j.exists { case (_, c, k) => k == c }, j.mkString(","))
    // and at least one lang is genuinely downsampled on this fixture
    assert(j.exists { case (_, c, k) => k < c }, j.mkString(","))
  }

  test("pii_redact masks every id run; fixture truly has zero emails") {
    val df = SparkEntry.queries("pii_redact")(spark, sf)
    assert(df.where(col("redacted").rlike("[0-9]{3,}")).count() === 0L)
    assert(df.where(col("n_ids") <= 0).count() === 0L)
    assert(df.where(col("n_emails") =!= 0).count() === 0L)
    // the documented fixture-honesty claim: documents.text carries no
    // digit/@ characters anywhere, so document-side PII classes can't fire
    assert(Tables.documents(spark, sf)
      .where(col("text").rlike("[0-9@]")).count() === 0L)
  }

  test("quality_topk_per_lang two-phase equals the single global window") {
    import org.apache.spark.sql.expressions.Window
    val got = SparkEntry.queries("quality_topk_per_lang")(spark, sf)
    val scored = graft.operators.TextOps
      .qualityScored(Tables.documents(spark, sf))
      .select(col("doc_id"), col("lang"), col("quality"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id"))
    val ref = scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("doc_id"), col("quality"))
    assert(got.exceptAll(ref).count() === 0L)
    assert(ref.exceptAll(got).count() === 0L)
    assert(got.count() === 25L) // 5 langs × K=5 on the fixture
  }

  test("pipeline_curate composes its stages' guarantees") {
    val docs = Tables.documents(spark, sf)
    val out = SparkEntry.queries("pipeline_curate")(spark, sf)
    val n = out.count()
    // the quality floor and the dedup/decontam fences each really bite
    assert(n > 0L && n < docs.count(), s"degenerate curated size $n")
    // no eval docs, no duplicate ids, splits all present
    assert(out.where(col("doc_id") < 20).count() === 0L)
    assert(out.select("doc_id").distinct().count() === n)
    assert(out.select("split").distinct().count() === 3L)
    // every curated doc survived the standalone stages too: it passed the
    // quality floor and is not in the standalone decontaminate drop set
    val clean = SparkEntry.queries("decontaminate")(spark, sf)
    assert(out.join(clean, Seq("doc_id"), "left_anti").count() === 0L)
    val q = SparkEntry.queries("quality_score")(spark, sf)
      .where(col("quality") >= 0.45).select("doc_id")
    assert(out.join(q, Seq("doc_id"), "left_anti").count() === 0L)
  }

  test("pipeline_pack packs exactly the curated train docs, contiguously") {
    val cur = SparkEntry.queries("pipeline_curate")(spark, sf)
      .where(col("split") === "train").select("doc_id")
    val packed = SparkEntry.queries("pipeline_pack")(spark, sf)
    // population: curated train docs with >0 tokens, each exactly once
    assert(packed.select("doc_id").distinct().count() === packed.count())
    assert(packed.join(cur, Seq("doc_id"), "left_anti").count() === 0L)
    // per-shard offsets are gapless: total tokens == max(tok_start + n)
    val byShard = packed.groupBy("shard")
      .agg(sum(col("n_tokens").cast("long")).as("tot"),
        max(col("tok_start") + col("n_tokens")).as("hi"))
    assert(byShard.where(col("tot") =!= col("hi")).count() === 0L)
  }

  test("join_bloom equals the plain semi join its pre-filter accelerates") {
    // soundness end-to-end: the bucket signature may pass false-positive
    // probe rows to stage 2 but must never drop a true match
    val out = SparkEntry.queries("join_bloom")(spark, sf)
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf)
      .where(col("o_orderpriority") === "1-URGENT")
    val truth = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_mktsegment")
    assert(out.count() > 0L)
    assert(out.exceptAll(truth).count() === 0L)
    assert(truth.exceptAll(out).count() === 0L)
  }

  test("compact_changelog keeps exactly the latest version per key") {
    val ev = Tables.events(spark, sf)
    val out = SparkEntry.queries("compact_changelog")(spark, sf)
    assert(out.count() === ev.select("user_id").distinct().count())
    assert(out.agg(sum("n_versions")).first().getLong(0) === ev.count())
    // no event of the key is strictly later than the kept row
    val later = out
      .join(ev.select(col("user_id"), expr("ts div 1000").as("ts2")),
        "user_id")
      .where(col("ts2") > col("ts_us"))
    assert(later.count() === 0L)
  }

  test("embed_cov: full upper triangle, positive variances, C-S bound") {
    val rows = SparkEntry.queries("embed_cov")(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(rows.size === 64 * 65 / 2)
    val variance = (1 to 64).map(i => i -> rows((i, i))).toMap
    assert(variance.values.forall(_ > 0.0), "diagonal must be positive")
    // Cauchy-Schwarz: |cov(i,j)| <= sqrt(var_i var_j), with rIeee@6 slack
    rows.foreach { case ((i, j), c) =>
      assert(math.abs(c) <=
        math.sqrt(variance(i) * variance(j)) + 2e-6, s"C-S violated at ($i,$j)")
    }
  }

  test("shuffle_assign is a gapless per-shard permutation, locality broken") {
    val out = SparkEntry.queries("shuffle_assign")(spark, sf)
    val docs = Tables.documents(spark, sf)
    assert(out.count() === docs.count())
    // positions are 0..n_shard-1 gapless within each shard
    val byShard = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"))
    assert(byShard.where(col("lo") =!= 0 || col("hi") =!= col("n") - 1)
      .count() === 0L)
    // locality actually broken: consecutive doc_ids land in distinct
    // shards far more often than a sorted assignment would
    val moved = out.withColumn("next_shard",
        lead(col("shard"), 1).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("doc_id"))))
      .where(col("next_shard").isNotNull &&
        col("shard") === col("next_shard")).count()
    assert(moved < docs.count() / 4,
      s"adjacent docs share a shard $moved times — locality not broken")
  }

  test("shuffle_assign_epochs: plan-driven repetition, per-epoch reshuffle") {
    import graft.operators.TextOps
    val out = SparkEntry.queries("shuffle_assign_epochs")(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    val plan = TextOps.epochPlanOf(spark, sf).collect()
      .map(r => r.getString(0) ->
        r.getAs[Long]("epochs_milli")).toMap
    val langOf = Tables.documents(spark, sf).select("doc_id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // repetition follows the PLAN: every doc appears in all its lang's
    // full epochs, never past ceil(epochs), and a fractional final
    // epoch genuinely subsamples (capped langs fire the full path,
    // non-multiple epochs_milli langs the partial path — both exist)
    val perDoc = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    perDoc.foreach { case (id, epochs) =>
      val em = plan(langOf(id))
      (0L until em / 1000).foreach(e =>
        assert(epochs(e), s"doc $id missing full epoch $e"))
      assert(epochs.forall(_ <= (em + 999) / 1000 - 1),
        s"doc $id appears past its lang's epoch ceiling")
    }
    val partialLangs = plan.filter(p => p._2 % 1000 != 0).keySet
    assert(plan.values.exists(_ % 1000 == 0) && partialLangs.nonEmpty,
      "fixture must exhibit both full-only and partial-epoch langs")
    for (pl <- partialLangs) {
      val ids = langOf.collect { case (id, l) if l == pl => id }.toSet
      val em = plan(pl)
      val lastE = (em + 999) / 1000 - 1
      val inLast = out.count(r => ids(r._1) && r._2 == lastE)
      assert(inLast > 0 && inLast < ids.size,
        s"$pl's fractional epoch should subsample strictly ($inLast of " +
          s"${ids.size})")
    }
    // EVERY epoch reshuffles: between adjacent epochs most docs change
    // shard (mixed (doc_id, epoch) hash ⇒ ~31/32 expected)
    val maxE = out.map(_._2).max
    assert(maxE >= 1, "multi-epoch never happened")
    (0L until maxE).foreach { e =>
      val a = out.filter(_._2 == e).map(r => r._1 -> r._3).toMap
      val b = out.filter(_._2 == e + 1).map(r => r._1 -> r._3).toMap
      val both = a.keySet & b.keySet
      if (both.size >= 20) {
        val samePct = both.count(id => a(id) == b(id)).toDouble / both.size
        assert(samePct < 0.2,
          f"epochs $e/${e + 1}: $samePct%.2f of docs kept their shard — " +
            "the reshuffle is not epoch-keyed")
      }
    }
    // within each (epoch, shard) lane, positions are gapless from 0
    out.groupBy(r => (r._2, r._3)).foreach { case (_, g) =>
      assert(g.map(_._4).sorted.toSeq === g.indices.toSeq)
    }
  }

  test("pack_epochs packs the shuffled order; adjacent epochs differ") {
    import graft.operators.TextOps
    val out = SparkEntry.queries("pack_epochs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getInt(4), r.getLong(5), r.getLong(6)))
    // 1. the packed relation IS the shuffled order (token-carrying
    //    docs): same (doc_id, epoch, shard) rows, and within each
    //    (epoch, shard) lane tok_start ascends in the shuffle's pos
    //    order with NO gaps — span arithmetic is the packer's
    val order = SparkEntry.queries("shuffle_assign_epochs")(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    // the PRODUCTION tokenizer (wordsCol), not an ad-hoc split: the two
    // diverge on empty/whitespace-only text and the expected keep set
    // must use the operator's own n_tokens > 0 semantics
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(graft.operators.DedupOps.wordsCol(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.map(t => (t._1, t._2, t._3)).toSet ===
      order.filter(o => toks(o._1) > 0).map(o => (o._1, o._2, o._3)).toSet)
    val posOf = order.map(o => (o._1, o._2, o._3) -> o._4).toMap
    out.groupBy(t => (t._2, t._3)).foreach { case (_, lane) =>
      val inPos = lane.sortBy(t => posOf((t._1, t._2, t._3)))
      var cum = 0L
      inPos.foreach { t =>
        assert(t._4 === cum, s"tok_start gap at doc ${t._1}")
        assert(t._6 === t._4 / TextOps.PACK_SEQ &&
          t._7 === (t._4 + t._5 - 1) / TextOps.PACK_SEQ)
        cum += t._5
      }
    }
    // 2. the shuffle is LOAD-BEARING: adjacent epochs pack different
    //    sequence compositions — fingerprint each training sequence as
    //    its (shard, first_seq)-grouped doc set; nearly none recur
    def seqSets(e: Long): Set[Set[Long]] =
      out.filter(_._2 == e).groupBy(t => (t._3, t._6))
        .values.map(_.map(_._1).toSet).filter(_.size > 1).toSet
    val (s0, s1) = (seqSets(0L), seqSets(1L))
    assert(s0.size > 10 && s1.size > 10, "fixture too small to pin")
    val recur = (s0 & s1).size.toDouble / math.min(s0.size, s1.size)
    assert(recur < 0.05,
      f"$recur%.2f of multi-doc sequences recur across epochs 0/1 — " +
        "the per-epoch reshuffle is not reaching the packed bytes")
    // 3. a repeated doc's span moves between epochs (same fact, per-doc)
    val sp0 = out.filter(_._2 == 0L).map(t => t._1 -> (t._3, t._4)).toMap
    val sp1 = out.filter(_._2 == 1L).map(t => t._1 -> (t._3, t._4)).toMap
    val both = sp0.keySet & sp1.keySet
    assert(both.nonEmpty)
    val kept = both.count(id => sp0(id) == sp1(id)).toDouble / both.size
    assert(kept < 0.05, f"$kept%.2f of docs kept (shard, tok_start)")
  }

  test("pack_epochs_files: one file per shard dir, bytes carry the order") {
    import graft.operators.TextOps
    import java.nio.file.{Files, Paths}
    val dir = TextOps.ensureEpochShards(spark, sf)
    // one payload file per shard directory (the one-task-per-shard
    // writer shape — pipeline_export_files' pin)
    val shards = Files.list(Paths.get(dir))
    try shards.forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("shard=")) {
        val es = Files.list(p)
        val files =
          try es.toArray.map(_.asInstanceOf[java.nio.file.Path])
            .map(_.getFileName.toString)
            .filter(f => !f.startsWith("_") && !f.startsWith("."))
          finally es.close()
        assert(files.length === 1, s"$n holds ${files.length} payloads")
      }
    } finally shards.close()
    // the bytes carry EXACTLY the epoch-0 order relation: (doc_id,
    // shard, pos) parsed back from the lines equals the declared order
    val back = spark.read.text(dir)
      .select(col("shard").cast("int").as("shard"),
        split(col("value"), "\t", 3).as("kv"))
      .select(element_at(col("kv"), 2).cast("long").as("doc_id"),
        col("shard"), element_at(col("kv"), 1).cast("int").as("pos"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val order = SparkEntry.queries("shuffle_assign_epochs")(spark, sf)
      .where(col("epoch") === 0L)
      .select(col("doc_id"), col("shard"), col("pos"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(back === order, "payload bytes drifted from the order relation")
  }

  test("pack_stats agrees with pack_sequences and bounds the fill ratio") {
    val packed = SparkEntry.queries("pack_sequences")(spark, sf)
    val stats = SparkEntry.queries("pack_stats")(spark, sf)
    // per-shard token totals must be the packer's own, fill in (0, 1]
    val truth = packed.groupBy("shard")
      .agg(sum(col("n_tokens").cast("long")).as("t_toks"),
        (max(col("last_seq")) + 1).as("t_seqs"))
    val joined = stats.join(truth, "shard")
    assert(joined.where(col("n_toks") =!= col("t_toks") ||
      col("n_seqs") =!= col("t_seqs")).count() === 0L)
    assert(stats.where(col("fill") <= 0.0 || col("fill") > 1.0).count() === 0L)
    // sequences are the minimum covering the tokens: seqs-1 would not fit
    assert(stats.where(col("n_toks") <=
      (col("n_seqs") - 1) * graft.operators.TextOps.PACK_SEQ).count() === 0L)
  }

  test("pack_binpack: FFD replay identity, capacity, and padding win over next-fit") {
    val C = graft.operators.TextOps.PACK_SEQ
    val out = SparkEntry.queries("pack_binpack")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getInt(4)))
    assert(out.nonEmpty)
    val batches = out.groupBy { case (_, sh, b, _, _) => (sh, b) }
    batches.foreach { case ((sh, b), g) =>
      // capacity + contiguous bin ids from 1
      g.groupBy(_._4).foreach { case (bin, binRows) =>
        assert(binRows.map(_._5.toLong).sum <= C,
          s"bin ($sh,$b,$bin) over capacity")
      }
      val bins = g.map(_._4).toSet
      assert(bins === (1 to bins.max).toSet, s"bin ids not contiguous in ($sh,$b)")
      // exact replay: the distributed mapGroups result must equal a
      // driver-side FFD over the same (n_tokens DESC, doc_id) order —
      // the same reference-replay discipline as token_count_learned
      val loads = scala.collection.mutable.ArrayBuffer.empty[Long]
      g.sortBy { case (id, _, _, _, n) => (-n, id) }.foreach {
        case (id, _, _, gotBin, n) =>
          val j = loads.indexWhere(_ + n <= C)
          val bin = if (j < 0) { loads += n.toLong; loads.length }
            else { loads(j) += n; j + 1 }
          assert(gotBin === bin, s"doc $id placed in $gotBin, FFD replay says $bin")
      }
      // the padding-waste claim: FFD never uses more bins than the naive
      // in-arrival-order next-fit no-split packer on this fixture
      var nfBins = 0; var load = C.toLong
      g.sortBy(_._1).foreach { case (_, _, _, _, n) =>
        if (load + n > C) { nfBins += 1; load = n.toLong } else load += n
      }
      assert(bins.max <= nfBins,
        s"FFD used ${bins.max} bins vs next-fit's $nfBins in ($sh,$b)")
    }
    // global fill sanity: every token the packer accepted is in a bin once
    val docsInScope = Tables.documents(spark, sf)
      .select(size(graft.operators.DedupOps.wordsCol(col("text"))).as("n"))
      .where(col("n") >= 1 && col("n") <= C).count()
    assert(out.length.toLong === docsInScope, "binpack must cover every in-range doc")
  }

  test("pack_binpack_stats agrees with the packer; fertility is exact and >= 1") {
    val bp = SparkEntry.queries("pack_binpack")(spark, sf)
    val stats = SparkEntry.queries("pack_binpack_stats")(spark, sf).collect()
    val truth = bp.groupBy("shard")
      .agg(count(lit(1)).as("d"), sum(col("n_tokens").cast("long")).as("t"),
        countDistinct(col("bucket"), col("bin")).as("b"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    stats.foreach { r =>
      val (d, t, b) = truth(r.getInt(0))
      assert(r.getAs[Long]("n_docs") === d && r.getAs[Long]("n_toks") === t &&
        r.getAs[Long]("n_bins") === b)
      val fill = r.getAs[Double]("fill")
      // no-split packing genuinely pads: fill in (0, 1], and the tokens
      // can never exceed the opened capacity
      assert(fill > 0.0 && fill <= 1.0)
      assert(t <= b * graft.operators.TextOps.PACK_SEQ)
    }
    // fertility: the frozen merge table never merges across a space, so
    // every word is >= 1 symbol and the separators survive — per-word
    // symbol count >= 1, i.e. fertility_milli >= 1000 on any corpus
    val fert = SparkEntry.queries("tokenizer_fertility")(spark, sf).collect()
    assert(fert.nonEmpty)
    fert.foreach { r =>
      assert(r.getAs[Long]("fertility_milli") ===
        r.getAs[Long]("bpe_tokens") * 1000 / r.getAs[Long]("ws_tokens"))
      assert(r.getAs[Long]("fertility_milli") >= 1000L)
    }
  }

  test("mix_plan apportions the budget exactly; domain_weights sum to one") {
    val plan = SparkEntry.queries("mix_plan")(spark, sf).collect()
    val budget = Tables.documents(spark, sf)
      .agg(sum(size(graft.operators.DedupOps.wordsCol(col("text")))
        .cast("long"))).first().getLong(0) / 2
    // the largest-remainder guarantee: planned tokens sum to the budget
    // EXACTLY (floor division alone leaks up to |langs|-1 tokens)
    assert(plan.map(_.getAs[Long]("planned_tokens")).sum === budget)
    assert(plan.map(_.getAs[Long]("weight_ppm")).sum === 1000000L)
    // epochs_milli is planned/supply in milli-units, consistent per row
    plan.foreach { r =>
      assert(r.getAs[Long]("epochs_milli") ===
        r.getAs[Long]("planned_tokens") * 1000 / r.getAs[Long]("n_tokens"))
      assert(r.getAs[Boolean]("feasible") ===
        (r.getAs[Long]("planned_tokens") <= r.getAs[Long]("n_tokens")))
    }
    val dw = SparkEntry.queries("domain_weights")(spark, sf).collect()
    assert(dw.map(_.getAs[Long]("weight_ppm")).sum === 1000000L,
      "domain weights must apportion exactly one million ppm")
    assert(dw.forall(_.getAs[Long]("excess_micro") >= 1L))
  }

  test("mix_tempered: exact apportionment + α-smoothing direction") {
    val rows = SparkEntry.queries("mix_tempered")(spark, sf).collect()
    // both weight columns are largest-remainder apportionments — each
    // must sum to EXACTLY one million ppm
    assert(rows.map(_.getAs[Long]("raw_ppm")).sum === 1000000L)
    assert(rows.map(_.getAs[Long]("tempered_ppm")).sum === 1000000L)
    // the α = 1/2 smoothing direction: the supply-heaviest language
    // dampens (boost < 1000), the supply-lightest boosts (> 1000) —
    // a uniform pass-through would fail both
    val bySupply = rows.sortBy(_.getAs[Long]("n_tokens"))
    assert(bySupply.last.getAs[Long]("boost_milli") < 1000L,
      "heaviest language must be downweighted")
    assert(bySupply.head.getAs[Long]("boost_milli") > 1000L,
      "lightest language must be upweighted")
    // full plain-Scala re-derivation (floor(sqrt) weight + two
    // largest-remainder rounds) — shares no Spark expression code
    val supply = rows.map(r =>
      r.getString(0) -> r.getAs[Long]("n_tokens")).sortBy(_._1)
    def apportion(w: Seq[(String, Long)]): Map[String, Long] = {
      val tot = w.map(_._2).sum
      val based = w.map { case (l, x) =>
        (l, 1000000L * x / tot, 1000000L * x % tot) }
      val left = 1000000L - based.map(_._2).sum
      val bump = based.sortBy { case (l, _, rem) => (-rem, l) }
        .take(left.toInt).map(_._1).toSet
      based.map { case (l, b, _) =>
        l -> (b + (if (bump(l)) 1L else 0L)) }.toMap
    }
    val raw = apportion(supply.toSeq)
    val temp = apportion(supply.toSeq.map { case (l, n) =>
      l -> math.floor(math.sqrt(n.toDouble)).toLong })
    rows.foreach { r =>
      val l = r.getString(0)
      assert(r.getAs[Long]("raw_ppm") === raw(l), s"raw_ppm($l)")
      assert(r.getAs[Long]("tempered_ppm") === temp(l), s"tempered_ppm($l)")
      assert(r.getAs[Long]("boost_milli") ===
        (if (raw(l) > 0) temp(l) * 1000 / raw(l) else 0L))
    }
  }

  test("domain_weights upweights the domain the global LM finds harder") {
    import spark.implicits._
    // domain 'web': common words shared corpus-wide; domain 'code': its
    // own rare vocabulary — globally rare (high global surprisal) but
    // in-domain common (low domain surprisal) -> high excess -> the
    // Group-DRO upweighting signal must rank 'code' above 'web'
    val docs = (
      (1 to 40).map(i => ("web", "the quick brown fox jumps over the dog")) ++
      (1 to 4).map(i => ("code", "lambda curry monad functor applicative"))
    ).toDF("source", "text")
    val got = graft.operators.TextOps.domainWeightsOf(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("weight_ppm")).toMap
    assert(got("code") > got("web"),
      s"hard domain must be upweighted: $got")
    assert(got.values.sum === 1000000L)
  }

  test("outlier_zscore flags exactly the beyond-cutoff rows") {
    val out = SparkEntry.queries("outlier_zscore")(spark, sf)
    assert(out.count() > 0L, "fixture should surface some |z|>3 outliers")
    assert(out.where(abs(col("z")) <= 3.0).count() === 0L)
    // completeness: recompute via the window form and compare counts
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    val truth = Tables.events(spark, sf)
      .withColumn("z", round((col("value") - avg("value").over(w)) /
        stddev_pop("value").over(w), 4))
      .where(abs(col("z")) > 3.0)
    assert(out.count() === truth.count())
  }

  test("join_range brackets partition the fact table exhaustively") {
    // the brackets are contiguous and cover the price domain, so banding
    // must place every lineitem row in exactly one bracket — a dropped
    // band replication or an off-by-one residual filter breaks the total
    val out = SparkEntry.queries("join_range")(spark, sf)
    val total = out.agg(sum("n_items")).first().getLong(0)
    assert(total === Tables.lineitem(spark, sf).count())
  }

  test("text_normalize output is canonical (idempotent fixed point)") {
    val out = SparkEntry.queries("text_normalize")(spark, sf)
    // canonical form: no uppercase, no punctuation, no doubled spaces, no
    // edge whitespace — i.e. re-normalizing is the identity
    val renorm = trim(regexp_replace(
      regexp_replace(lower(col("norm_text")), "[^a-z0-9 ]", " "), "  +", " "))
    assert(out.where(renorm =!= col("norm_text")).count() === 0L)
    assert(out.where(col("n_chars_norm") =!= length(col("norm_text")))
      .count() === 0L)
    // the changed flag is exactly text != norm_text (spot the fixture's
    // actual rate rather than assuming it)
    assert(out.count() === Tables.documents(spark, sf).count())
  }

  test("event_funnel buckets are exclusive and cover every user") {
    val out = SparkEntry.queries("event_funnel")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(out.keySet.subsetOf(Set(0, 1, 2, 3)))
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(out.values.sum === users, "stage buckets must partition users")
    assert(out.getOrElse(3, 0L) > 0L, "fixture should convert some users")
  }

  test("retention_cohort: offsets start at 0 and cover every active week") {
    val out = SparkEntry.queries("retention_cohort")(spark, sf)
    assert(out.where(col("week_offset") < 0).count() === 0L)
    // every user is active in their cohort week, so each cohort's
    // offset-0 cell equals the cohort's size
    val sizes = out.groupBy("cohort_week")
      .agg(sum(when(col("week_offset") === 0, col("n_users"))).as("w0"))
    val cohortSizes = Tables.events(spark, sf)
      .select(col("user_id"), expr("(ts div 1000) div 604800000000").as("w"))
      .groupBy("user_id").agg(min("w").as("cohort_week"))
      .groupBy("cohort_week").agg(count(lit(1)).as("n"))
    assert(sizes.join(cohortSizes, "cohort_week")
      .where(col("w0") =!= col("n")).count() === 0L)
    // cells sum to the distinct (user, week) activity count
    val total = out.agg(sum("n_users")).first().getLong(0)
    val weekly = Tables.events(spark, sf)
      .select(col("user_id"), expr("(ts div 1000) div 604800000000").as("w"))
      .distinct().count()
    assert(total === weekly)
  }

  test("ivf_nprobe_sweep: recall rises monotonically with probe width") {
    val rows = SparkEntry.queries("ivf_nprobe_sweep")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(2, 4, 8))
    val rec = rows.map(_._2)
    assert(rec.zip(rec.tail).forall { case (a, b) => a <= b },
      s"recall not monotone in nprobe: ${rec.toSeq}")
    assert(rec.forall(r => r >= 0.0 && r <= 1.0))
    // at nprobe = NCELLS the probe would be exhaustive; 8 of 16 cells on
    // the quasi-random fixture must already clear a meaningful floor
    assert(rec.last >= 0.5, s"nprobe=8 recall ${rec.last} below floor")
  }

  test("embed_pca emits a unit direction with a trace-bounded eigenvalue") {
    val rows = SparkEntry.queries("embed_pca")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.length === 64)
    val norm = math.sqrt(rows.map { case (_, p, _) => p * p }.sum)
    assert(math.abs(norm - 1.0) < 1e-4, s"pc1 not unit: $norm")
    val lambda = rows.head._3
    assert(rows.forall(_._3 === lambda), "lambda must be constant")
    // 0 < λ ≤ trace(C) = Σ variances (diagonal of embed_cov)
    val trace = SparkEntry.queries("embed_cov")(spark, sf)
      .where(col("i") === col("j")).agg(sum("cov")).first().getDouble(0)
    assert(lambda > 0.0 && lambda <= trace + 1e-4,
      s"lambda $lambda outside (0, trace=$trace]")
  }

  test("pipeline_report is a monotone funnel consistent with the stages") {
    val rows = SparkEntry.queries("pipeline_report")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._2).toSeq ===
      Seq("raw", "quality", "dedup", "substring", "decontam"))
    val ns = rows.map(_._3)
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
      s"stage counts must be non-increasing: ${ns.toSeq}")
    // consistency with the declared artifacts the stages feed
    assert(ns(0) === Tables.documents(spark, sf).count())
    assert(ns(4) === SparkEntry.queries("pipeline_curate")(spark, sf).count())
  }

  test("heavy_hitters: exact output under MG decrements on a high-vocab corpus") {
    import spark.implicits._
    // 600 singleton tokens + hot×200 + cold×150; capacity m=9 ≪ vocab so
    // the decrement path runs constantly. phiDen=5 → threshold is
    // count·5 ≥ 950 → ≥190: hot qualifies, cold (750 < 950) must die on
    // its EXACT recount even though it likely survives as a candidate.
    val rareDocs = (1 to 600).map(i => s"tok$i").grouped(50)
      .map(_.mkString(" ")).toSeq
    val hotDocs = Seq.fill(4)(Seq.fill(50)("hot").mkString(" "))
    val coldDocs = Seq.fill(3)(Seq.fill(50)("cold").mkString(" "))
    val docs = (rareDocs ++ hotDocs ++ coldDocs).toDF("text")
    val got = graft.operators.TextOps
      .heavyHittersOf(docs.repartition(3), m = 9, phiDen = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === Map("hot" -> 200L))
    // guarantee margin: with the larger declared capacity the candidate
    // pass may keep more, but the exact recount keeps the output stable
    val got399 = graft.operators.TextOps
      .heavyHittersOf(docs.repartition(7), m = 399, phiDen = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got399 === got)
  }

  test("compactAgg quantizes a half-way decimal engine-neutrally (2.675 -> 2.67)") {
    import spark.implicits._
    // 2.675 is the classic round-half trap: the nearest double is
    // 2.67499999999999982..., below the true half — engines that round the
    // BINARY value at the decimal place answer 2.67 while decimal-
    // rendering HALF_UP (Spark's round) answers 2.68. rIeee pins ONE
    // op sequence both engines execute identically: 2.675*100 IEEE-rounds
    // to exactly 267.5, +0.5 -> 268, floor -> 2.68 — verified equal to
    // DuckDB's floor(2.675::DOUBLE*100+0.5)/100 = 2.68. A regression back
    // to an engine-native rounding rule fails here instead of on a future
    // fixture regeneration.
    val ev = Seq((1L, 1000000L, 10L, "click", 2.675))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val got = graft.operators.RelationalOps.compactAgg(ev).collect()
    assert(got.length === 1)
    assert(got(0).getAs[Double]("value") === 2.68)
    // same discipline in the merge core (fixed round 14) stays pinned
    val merged = graft.operators.RelationalOps.mergeActions(
      ev.select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_id"), col("event_type"), col("value")), cut = 0L)
      .collect()
    assert(merged.length === 1 && merged(0).getAs[Double]("value") === 2.68)
  }

  test("outlier_mad flags exactly the hand-computed modified-z outliers") {
    import spark.implicits._
    // group a: 1..9 plus 100 → med 5.5, adevs {0.5,0.5,1.5,1.5,2.5,2.5,
    // 3.5,3.5,4.5,94.5} → MAD 2.5; only 100 has |0.6745·(x−5.5)/2.5|>3.5.
    // group b: constant → MAD 0 → excluded entirely (no NaN rows).
    val ev = ((1 to 9).map(i => (i.toLong, "a", i.toDouble)) ++
      Seq((10L, "a", 100.0)) ++
      (11L to 15L).map(i => (i, "b", 7.0))).toDF("event_id", "event_type", "value")
    val got = graft.operators.RelationalOps.madOutliers(ev).collect()
    assert(got.length === 1)
    assert(got(0).getAs[Long]("event_id") === 10L)
    val mz = got(0).getAs[Double]("mz")
    assert(math.abs(mz - 0.6745 * 94.5 / 2.5) < 1e-3, s"mz $mz")
  }

  test("winsorize_clip caps ~10% of rows and preserves in-range values") {
    val w = SparkEntry.queries("winsorize_clip")(spark, sf)
    assert(w.count() === Tables.events(spark, sf).count())
    // clip rate ≈ 10% (5% per tail per group, small-n interpolation slack)
    val rate = w.where(col("was_clipped")).count().toDouble / w.count()
    assert(rate > 0.06 && rate < 0.14, s"clip rate $rate")
    // in-range rows pass through unchanged; clipped rows move toward
    // the interior; nothing escapes the [p5, p95] band
    assert(w.where(!col("was_clipped") &&
      abs(col("clipped") - col("value")) > 0.0001).count() === 0L)
    val perGroup = w.groupBy("event_type")
      .agg(min(col("clipped")).as("lo"), max(col("clipped")).as("hi"),
        min(col("value")).as("vlo"), max(col("value")).as("vhi"))
      .where(col("lo") < col("vlo") || col("hi") > col("vhi"))
    assert(perGroup.count() === 0L, "clipping must shrink the range")
  }

  test("outlier_mad is robust where zscore masks: the MAD flag survives") {
    // the motivating case: heavy outliers inflate sigma (masking) but
    // not the MAD — on the fixture every |z|>3 zscore outlier must also
    // be an mz outlier (mz cutoff 3.5 is the stricter convention), while
    // mad may flag MORE
    val z = SparkEntry.queries("outlier_zscore")(spark, sf)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val m = SparkEntry.queries("outlier_mad")(spark, sf)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(m.nonEmpty)
    assert(z.subsetOf(m), s"zscore-only ids: ${z -- m}")
  }

  test("dedup_fuzzy verifies band candidates by edit distance, threshold honored") {
    import spark.implicits._
    // A/B: one word of a 40-word doc gets a 2-char substitution →
    // shingle Jaccard stays high enough to band-collide, edit dist 2;
    // C unrelated → no candidate pair at all
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base.replace("word20 ", "worZZ0 ")),
      (3L, (1 to 40).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = graft.operators.DedupOps.fuzzyPairs(docs, tau = 5).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      === Seq((1L, 2L, 2)))
    // threshold variant: τ=1 must drop the same pair (distance 2 > 1)
    assert(graft.operators.DedupOps.fuzzyPairs(docs, tau = 1).count() === 0L)
    // fixture containment: fuzzy pairs ⊆ minhash candidates, dist ≤ τ
    val fuzzy = SparkEntry.queries("dedup_fuzzy")(spark, sf)
    val cands = SparkEntry.queries("dedup_minhash")(spark, sf)
    assert(fuzzy.select("doc_a", "doc_b")
      .exceptAll(cands.select("doc_a", "doc_b")).count() === 0L)
    assert(fuzzy.where(col("edit_dist") > 5 || col("edit_dist") < 0)
      .count() === 0L)
  }

  test("decontam_fuzzy is dedup_fuzzy restricted to the eval boundary") {
    import graft.operators.DedupOps
    val out = SparkEntry.queries("decontam_fuzzy")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // orientation + threshold: train side ≥ NEVAL, eval side < NEVAL,
    // every kept pair within the verify radius
    assert(out.nonEmpty, "fixture has no fuzzy contamination — vacuous")
    out.foreach { case (t, e, dist) =>
      assert(t >= DedupOps.NEVAL && e < DedupOps.NEVAL)
      assert(dist >= 0 && dist <= DedupOps.FUZZY_TAU)
    }
    // two family members, one truth: the boundary-crossing subset of
    // dedup_fuzzy's pairs (doc_a < doc_b puts eval ids on the a side)
    // must be EXACTLY this relation, distances included
    val crossing = SparkEntry.queries("dedup_fuzzy")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter(p => p._1 < DedupOps.NEVAL && p._2 >= DedupOps.NEVAL)
      .map { case (e, t, dist) => (t, e, dist) }
    assert(out.sorted.toSeq === crossing.sorted.toSeq,
      "decontam_fuzzy drifted from dedup_fuzzy's boundary-crossing pairs")
  }

  test("quality_entropy matches hand-computed histograms") {
    import spark.implicits._
    val docs = Seq((1L, "aaaa"), (2L, "abab"), (3L, "abcd"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextOps.charEntropy(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) === ((4L, 1L, 0.0)))
    assert(got(2L) === ((4L, 2L, 1.0)))
    assert(got(3L) === ((4L, 4L, 2.0)))
    // fixture sanity: entropy sits in (0, log2(uniq_chars)] for every doc
    val fx = SparkEntry.queries("quality_entropy")(spark, sf)
    assert(fx.where(col("entropy") <= 0 ||
      col("entropy") > log2(col("uniq_chars")) + 0.0001).count() === 0L)
  }

  test("bpe_train learns hand-computable merges, ladder and tie-break included") {
    import spark.implicits._
    // "ababab"×2 → ab:6 (ba:4) merges first; state "XXX" → XX:4 merges
    // (X = U+E101); state "YX" → YX:2 (Y = U+E102). Steps 2 and 3 both
    // merge previously-merged symbols — the ladder in miniature.
    import graft.operators.TextOps
    def train(docs: org.apache.spark.sql.DataFrame, steps: Int) = TextOps.bpeMerges(
      TextOps.wordHistogram(docs), steps, TextOps.learnedSym,
      skipEmptyTrips = false)
    val docs = Seq("ababab", "ababab").toDF("t")
    val got = train(docs, 3)
    val x = new String(Character.toChars(0xE101))
    val y = new String(Character.toChars(0xE102))
    assert(got.toSeq === Seq((1, "ab", 6L), (2, x + x, 4L), (3, y + x, 2L)))
    // tie-break: ab/bb/ba all count 1 → lexicographically smallest wins
    val tie = train(Seq("abba").toDF("t"), 1).head
    assert(tie._2 === "ab" && tie._3 === 1L)
    // and the declared 12-step run really reaches the ladder regime
    val full = SparkEntry.queries("bpe_train")(spark, sf).collect()
      .sortBy(_.getInt(0))
    assert(full.length === 12)
    assert(full.exists(_.getString(1).exists(_ >= 0xE100.toChar)),
      "no learned merge containing a merged symbol — ladder never reached")
  }

  test("bpe_train_bytes: ASCII corpus (byte==char), 64 real merges, deep ladder") {
    // the "byte-level" claim rests on the corpus being pure ASCII, where
    // the codepoint-pair loop IS the byte-pair loop — assert it, don't
    // assume it (a regenerated fixture with non-ASCII text must fail
    // loudly here, not silently change the operator's meaning)
    assert(Tables.documents(spark, sf)
      .where(!col("text").rlike("^[\\x20-\\x7e]*$")).count() === 0L,
      "corpus is not printable ASCII — byte==codepoint no longer holds")
    val merges = SparkEntry.queries("bpe_train_bytes")(spark, sf).collect()
      .sortBy(_.getInt(0))
    assert(merges.length === 64)
    assert(merges.forall(_.getLong(2) >= 1L), "a merge fired on zero pairs")
    assert(merges.map(_.getString(1)).distinct.length === 64,
      "duplicate merge pair — the rewrite is not consuming what it merges")
    // the realistic-count regime: a large share of late merges must build
    // on already-learned symbols (multi-level ladder at depth, the thing
    // the 12-step demo only brushes)
    assert(merges.count(_.getString(1).exists(_ >= 0xE100.toChar)) >= 16,
      "fewer than 16 ladder merges in 64 steps")
  }

  test("token_count_learned_bytes equals a replay of the sampled-training merges") {
    val merges = SparkEntry.queries("bpe_train_bytes")(spark, sf).collect()
      .sortBy(_.getInt(0)).map(r => (r.getInt(0), r.getString(1)))
    assert(merges.length === 64)
    val got = SparkEntry.queries("token_count_learned_bytes")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
    assert(got.size === docs.length, "apply must cover the FULL corpus, " +
      "not just the training sample")
    docs.foreach { r =>
      val end = merges.foldLeft(r.getString(1)) { case (acc, (k, p)) =>
        acc.replace(p, new String(Character.toChars(0xE100 + k)))
      }
      assert(got(r.getLong(0)) === end.codePointCount(0, end.length),
        s"doc ${r.getLong(0)} diverged from the 64-merge replay")
    }
    // 64 merges must compress strictly better than the 12-step table
    val got12 = SparkEntry.queries("token_count_learned")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.values.sum < got12.values.sum,
      "64 byte merges did not out-compress the 12-step table")
  }

  test("bpe_train_regex: 256 merges, Ġ-boundary merges, deep ladder, honest prune") {
    import graft.operators.TextOps
    val merges = SparkEntry.queries("bpe_train_regex")(spark, sf).collect()
      .sortBy(_.getInt(0))
    // 256 real merges — the corpus must not exhaust its mergeable pairs
    // (measured capacity 300; exhaustion would silently shrink the table)
    assert(merges.length === 256)
    assert(merges.forall(_.getLong(2) >= 1L), "a merge fired on zero pairs")
    assert(merges.map(_.getString(1)).distinct.length === 256,
      "duplicate merge pair — the rewrite is not consuming what it merges")
    // the GPT-2 semantic the split-on-space trainers can't express:
    // merges that swallow the word boundary (Ġ inside a learned pair)
    assert(merges.count(_.getString(1).contains(0x0120.toChar)) >= 8,
      "no word-boundary (Ġ) merges — space attachment is not happening")
    // deep ladder: late merges build on learned U+E2xx symbols
    assert(merges.count(_.getString(1).exists(_ >= 0xE200.toChar)) >= 64,
      "fewer than 64 ladder merges in 256 steps")
    // the prune is honest: the trained histogram is exactly the
    // (freq DESC, w ASC) top-V prefix of the full pre-token counts
    val full = graft.operators.DedupOps.spreadBy(
        TextOps.regexCorpus(spark, sf), col("t"))
      .select(explode(regexp_extract_all(col("t"),
        lit(TextOps.GPT2_PRE_PAT), lit(0))).as("tok"))
      .select(translate(col("tok"), " ", TextOps.GWORD).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy("w").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expect = full.sortBy { case (w, f) => (-f, w) }
      .take(TextOps.BPE_REGEX_VOCAB).toSeq
    val got = TextOps.regexHistogram(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.sortBy { case (w, f) => (-f, w) } === expect,
      "pruned histogram is not the deterministic top-V prefix")
  }

  test("regex-family trainer: hand ladder, tie-break, and exhaustion stop") {
    import graft.operators.TextOps
    import spark.implicits._
    // hand ladder on ("aabaab",2),("aac",1):
    //   step 1: aa=2*2+1=5, ab=2*2=4, ba=2, ac=1 -> ("aa",5), aa->S1
    //   step 2: over S1bS1b / S1c: S1b=4, bS1=2, S1c=1 -> (S1+"b",4) --
    //           left-to-right NON-OVERLAPPING replace is load-bearing
    //           here: overlap-rewriting "aa" in "aabaab" twice per run
    //           would change these counts
    //   step 3: over S2S2 / S1c: S2S2=2 wins -> the ladder merges a
    //           merged symbol with itself
    val S1 = TextOps.regexSym(1); val S2 = TextOps.regexSym(2)
    def train(hist: Seq[(String, Long)], steps: Int) = TextOps.bpeMerges(
      hist.toDF("w", "freq"), steps, TextOps.regexSym, skipEmptyTrips = true)
    val m = train(Seq(("aabaab", 2L), ("aac", 1L)), 3)
    assert(m === Seq((1, "aa", 5L), (2, S1 + "b", 4L), (3, S2 + S2, 2L)))
    // count tie breaks pair-ASC, the cross-engine (binary-collation)
    // ordering: ab:1 vs ba:1 -> "ab"
    val tie = train(Seq(("ab", 1L), ("ba", 1L)), 1)
    assert(tie === Seq((1, "ab", 1L)))
    // exhaustion: a 1-pair vocabulary stops emitting, never loops or
    // fabricates (the oracle's empty-b_k arm mirrors the omission)
    val short = train(Seq(("ab", 1L)), 5)
    assert(short.map(_._1) === Seq(1))
  }

  test("bpe_vocab_regex: base-char expansions that roundtrip to their symbol") {
    val merges = SparkEntry.queries("bpe_train_regex")(spark, sf).collect()
      .sortBy(_.getInt(0)).map(r => (r.getInt(0), r.getString(1)))
    val vocab = SparkEntry.queries("bpe_vocab_regex")(spark, sf).collect()
      .sortBy(_.getInt(0))
    assert(vocab.length === 256)
    vocab.foreach { r =>
      val e = r.getString(1)
      // serving vocab carries no training-internal symbols, only base
      // chars + the Ġ boundary marker; every merge covers ≥2 base chars
      assert(!e.exists(_ >= 0xE000.toChar),
        s"step ${r.getInt(0)} expansion leaks a private-use symbol: $e")
      assert(r.getInt(2) === e.codePointCount(0, e.length))
      assert(r.getInt(2) >= 2)
      // ROUNDTRIP: replaying the full merge list over the expansion must
      // collapse it to exactly this step's symbol — the property that
      // makes the export a faithful serving artifact (a tokenizer
      // loading (expansion → id) reproduces training's segmentation)
      val replay = merges.foldLeft(e) { case (acc, (k, p)) =>
        acc.replace(p, new String(Character.toChars(0xE200 + k)))
      }
      assert(replay === new String(Character.toChars(0xE200 + r.getInt(0))),
        s"step ${r.getInt(0)}: '$e' replays to '$replay', not its symbol")
    }
    // the GPT-2 space-attachment realism surfaces in the export: some
    // vocab entries are Ġ-prefixed whole words
    assert(vocab.count(_.getString(1).startsWith(0x0120.toChar.toString)) >= 8)
  }

  test("token_count_regex equals a driver-side 256-merge replay; beats bytes-64") {
    import graft.operators.TextOps
    val merges = SparkEntry.queries("bpe_train_regex")(spark, sf).collect()
      .sortBy(_.getInt(0)).map(r => (r.getInt(0), r.getString(1)))
    val got = SparkEntry.queries("token_count_regex")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
    assert(got.size === docs.length)
    val rx = TextOps.GPT2_PRE_PAT.r
    docs.foreach { r =>
      val n = rx.findAllIn(r.getString(1)).map { tok =>
        val end = merges.foldLeft(tok.replace(' ', 0x0120.toChar)) {
          case (acc, (k, p)) =>
            acc.replace(p, new String(Character.toChars(0xE200 + k)))
        }
        end.codePointCount(0, end.length)
      }.sum
      assert(got(r.getLong(0)) === n,
        s"doc ${r.getLong(0)} diverged from the regex-merge replay")
    }
    // r17 verdict item 8's acceptance bar: the 256-merge regex tokenizer
    // compresses the FULL documents corpus strictly better than the
    // 64-merge byte tokenizer (same corpus, same symbol-count measure —
    // pre-tokenization preserves character mass, spaces → Ġ 1:1)
    val bytes64 = SparkEntry.queries("token_count_learned_bytes")(spark, sf)
      .agg(sum("n_tokens")).collect()(0).getLong(0)
    val regex256 = got.values.map(_.toLong).sum
    assert(regex256 < bytes64,
      s"regex-256 ($regex256 tokens) did not beat bytes-64 ($bytes64)")
  }

  test("each cached BPE family's apply queries read the list its trainer stored") {
    // build ≠ apply: a trainer query retrains and stores its merge list;
    // its apply queries must read that very list and never retrain. The
    // stored list is the trainer's rows, the family's getter hands back
    // that same object, and each apply query follows the stored list:
    // with a 3-merge sentinel stored in its place, every doc's count is
    // the driver-side replay of those 3 merges, not of the trained ones.
    import graft.operators.TextOps._
    type Merges = Seq[(Int, String, Long)]
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), utf8Text(col("text")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def fold(t: String, m: Merges, sym: Int => String): Int = {
      val end = m.foldLeft(t) { case (acc, (k, p, _)) => acc.replace(p, sym(k)) }
      end.codePointCount(0, end.length)
    }
    val rx = GPT2_PRE_PAT.r
    // (family, its apply queries, per-doc replay over (text, utf8 bytes))
    val families: Seq[(BpeFamily, Seq[String], (Merges, String, String) => Int)] = Seq(
      (CHAR_BPE, Seq("token_count_learned"), (m, t, _) => fold(t, m, learnedSym)),
      (BYTE_BPE, Seq("token_count_learned_bytes"),
        (m, t, _) => fold(t, m, learnedSym)),
      (UTF8_BPE, Seq("token_count_utf8"), (m, _, b) => fold(b, m, learnedSym)),
      (REGEX_BPE, Seq("token_count_regex", "streaming_token_count"),
        (m, t, _) => rx.findAllIn(t)
          .map(tok => fold(tok.replace(' ', 0x0120.toChar), m, regexSym)).sum))
    for ((f, applies, replay) <- families) {
      val rows = SparkEntry.queries(f.name)(spark, sf).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
      val stored = learnedMergeCache((f.name, sf))
      assert(stored === rows, s"${f.name}: the stored list is not the trainer's rows")
      assert(f.merges(spark, sf) eq stored, s"${f.name}: the getter retrained")
      val sentinel = stored.take(3)
      assert(docs.exists { case (_, t, b) =>
        replay(sentinel, t, b) != replay(stored, t, b) },
        s"${f.name}: the sentinel cannot tell the two lists apart")
      learnedMergeCache((f.name, sf)) = sentinel
      try applies.foreach { q =>
        val got = SparkEntry.queries(q)(spark, sf).collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(got.size === docs.length, s"$q: not every doc counted")
        docs.foreach { case (id, t, b) =>
          assert(got(id) === replay(sentinel, t, b),
            s"$q doc $id: the count does not follow the stored list")
        }
      } finally learnedMergeCache((f.name, sf)) = stored
    }
  }

  test("tokenizer_eval_regex: a consistent per-domain compression table") {
    val ev = SparkEntry.queries("tokenizer_eval_regex")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(ev.keySet === Set("prose", "json", "catalog", "ids"))
    // the prose row IS token_count_regex's corpus, totalled
    val tc = SparkEntry.queries("token_count_regex")(spark, sf)
      .agg(sum("n_tokens")).collect()(0).getLong(0)
    assert(ev("prose").getLong(3) === tc)
    assert(ev("prose").getLong(1) === 500L)
    // char mass is the source's, untouched by tokenization
    val chars = Tables.documents(spark, sf)
      .agg(sum(length(col("text")))).collect()(0).getLong(0)
    assert(ev("prose").getLong(2) === chars)
    // the story the eval exists to tell: the frequency-weighted trainer
    // serves the dominant domain best — prose compresses hardest, the
    // high-entropy JSON payloads worst
    val cpt = ev.view.mapValues(_.getDouble(4)).toMap
    assert(cpt("prose") === cpt.values.max)
    assert(cpt("json") === cpt.values.min)
    assert(cpt.values.forall(_ >= 1.0), "a token can never cover <1 char")
  }

  test("tokenizer_vocab_sweep: strictly monotone compression, eval parity") {
    val rows = SparkEntry.queries("tokenizer_vocab_sweep")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(64, 128, 256))
    // one corpus → one char mass on every row
    assert(rows.map(_._2).distinct.length === 1)
    // the elbow's tripwire: every learned merge fires somewhere on this
    // corpus, so deeper vocabularies compress STRICTLY better
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 > b._3,
        s"n_tokens not strictly decreasing: ${a._1}→${b._1}")
      assert(a._4 < b._4,
        s"chars_per_token not strictly increasing: ${a._1}→${b._1}")
    }
    assert(rows.forall(_._4 >= 1.0), "a token can never cover <1 char")
    // the 256-depth row IS tokenizer_eval_regex's corpus, totalled —
    // same merges, same corpus, two reports that cannot drift
    val ev = SparkEntry.queries("tokenizer_eval_regex")(spark, sf)
      .agg(sum("n_chars"), sum("n_tokens")).collect()(0)
    assert(rows.last._2 === ev.getLong(0) && rows.last._3 === ev.getLong(1))
  }

  test("pretokenize_gpt2: branch coverage, order, and losslessness") {
    import graft.operators.TextOps
    // constructed text exercises every arm INCLUDING the residual
    // space-run one the fixture never produces, and the arm ORDER:
    // `'s` must tokenize as a contraction, a bare `'x` as punct+word
    val rx = java.util.regex.Pattern.compile(TextOps.GPT2_PRE_PAT)
    def toks(s: String): Seq[String] = {
      val m = rx.matcher(s)
      val b = Seq.newBuilder[String]
      while (m.find()) b += m.group()
      b.result()
    }
    assert(toks("it's 42 wells, 'x  ") ===
      Seq("it", "'s", " 42", " wells", ",", " '", "x", "  "))
    // losslessness: pre-tokenization partitions the text exactly
    val sample = Tables.documents(spark, sf).limit(50)
      .select("text").collect().map(_.getString(0))
    sample.foreach(t => assert(toks(t).mkString === t))
    // the declared audit: 4 classes at this fixture (no space runs
    // survive — every space attaches to a following token), contraction
    // n_toks > 0 proves the shim fires the arm the raw corpus can't
    val cls = SparkEntry.queries("pretokenize_gpt2")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cls.keySet === Set("contraction", "word", "number", "punct"))
    assert(cls("contraction") > 0 && cls("number") > 0 && cls("punct") > 0)
  }

  test("embed_project replays embed_pca's declared component exactly") {
    val pc = SparkEntry.queries("embed_pca")(spark, sf).collect()
      .sortBy(_.getInt(0)).map(_.getDouble(1))
    assert(pc.length === 64)
    val proj = SparkEntry.queries("embed_project")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(proj.size === 500)
    // unit-normalized embeddings × unit-ish component → |proj| ≤ ~1
    assert(proj.values.forall(p => math.abs(p) <= 1.001))
    // driver-side replay: dot each embedding against the DECLARED pc1
    // column (the learned artifact as a user would consume it)
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
    emb.foreach { r =>
      val e = r.getSeq[Float](1)
      val hand = e.indices.map(i => e(i).toDouble * pc(i)).sum
      assert(math.abs(proj(r.getLong(0)) - hand) < 1e-3,
        s"vec ${r.getLong(0)}: ${proj(r.getLong(0))} vs replay $hand")
    }
  }

  test("shard_manifest: exact offset replay, partition/contiguity/size bounds") {
    import graft.sources.StorageOps
    val man = SparkEntry.queries("shard_manifest")(spark, sf).collect()
      .sortBy(_.getLong(0))
    val docs = Tables.documents(spark, sf).select("doc_id", "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // driver replay of the offset-bucketing contract: doc → shard of its
    // starting offset — must reproduce every manifest row's counts
    var off = 0L
    val byShard = docs.map { case (id, n) =>
      val sid = off / StorageOps.SHARD_TARGET_CHARS; off += n; (sid, id, n)
    }.groupBy(_._1)
    assert(man.length === byShard.size)
    man.foreach { r =>
      val g = byShard(r.getLong(0))
      assert(r.getLong(1) === g.length.toLong, s"shard ${r.getLong(0)} n_docs")
      assert(r.getLong(2) === g.map(_._3).sum, s"shard ${r.getLong(0)} chars")
      assert(r.getLong(3) === g.map(_._2).min)
      assert(r.getLong(4) === g.map(_._2).max)
    }
    // structural contracts a loader relies on: shard ids are the dense
    // 0..K range; id ranges never interleave; a shard exceeds the target
    // only by its straddling last document's tail
    assert(man.map(_.getLong(0)).toSeq === man.indices.map(_.toLong))
    man.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0).getLong(4) < w(1).getLong(3),
        "shard doc-id ranges interleave")
    }
    val maxLen = docs.map(_._2).max
    man.foreach(r => assert(r.getLong(2) < StorageOps.SHARD_TARGET_CHARS + maxLen))
    assert(man.length >= 5, "target too coarse — packing never splits")
  }

  test("pipeline_export: shards cover exactly the curated train split") {
    val train = SparkEntry.queries("pipeline_curate")(spark, sf).collect()
      .filter(_.getString(2) == "train").map(_.getLong(0)).toSet
    val man = SparkEntry.queries("pipeline_export")(spark, sf).collect()
      .sortBy(_.getLong(0))
    // doc and char mass both equal the curated train slice of the source
    assert(man.map(_.getLong(1)).sum === train.size.toLong)
    val chars = Tables.documents(spark, sf).select("doc_id", "n_chars")
      .collect().filter(r => train(r.getLong(0))).map(_.getLong(1)).sum
    assert(man.map(_.getLong(2)).sum === chars)
    // manifest structure survives the composition: dense ids from 0,
    // non-interleaving id ranges, more than one shard (export splits)
    assert(man.map(_.getLong(0)).toSeq === man.indices.map(_.toLong))
    man.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0).getLong(4) < w(1).getLong(3))
    }
    assert(man.length >= 2)
    // and the curation is load-bearing: the composed manifest differs
    // from sharding the raw corpus (same target, fewer docs)
    val raw = SparkEntry.queries("shard_manifest")(spark, sf).collect()
    assert(man.map(_.getLong(1)).sum < raw.map(_.getLong(1)).sum)
  }

  test("pipeline_export_files: one payload file per shard; bytes == manifest") {
    import graft.operators.PipelineOps
    val dir = PipelineOps.ensureExportShards(spark, sf)
    // loader-facing layout: one shard_id=N dir per manifest row, exactly
    // ONE payload file inside each (the one-task-per-shard writer shape)
    val shardDirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("shard_id="))
    val man = SparkEntry.queries("pipeline_export")(spark, sf).collect()
    assert(shardDirs.length === man.length,
      s"${shardDirs.length} shard dirs vs ${man.length} manifest rows")
    for (sd <- shardDirs) {
      val files = java.nio.file.Files.list(sd).toArray
        .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filter(_.startsWith("part-"))
      assert(files.length === 1,
        s"shard dir ${sd.getFileName} holds ${files.length} payload files")
    }
    // framing is lossless on this corpus: single-line, tab-free text
    // (the contract that makes doc_id\ttext parseable at all)
    assert(Tables.documents(spark, sf)
      .where(col("text").contains("\t") || col("text").contains("\n"))
      .count() === 0L)
    // manifest re-derived from the BYTES equals the from-source manifest
    // (the declared query's oracle hash re-proves this vs DuckDB; this is
    // the Spark-side row identity)
    val fromBytes = SparkEntry.queries("pipeline_export_files")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
    val fromSource = man.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
    assert(fromBytes.toSeq === fromSource.toSeq,
      "payload bytes disagree with the manifest")
  }

  test("export_incremental: pure-base shards carry verbatim, tail extends") {
    import graft.sources.StorageOps
    val standing = spark.read
      .parquet(StorageOps.ensureBaseManifest(spark, sf)).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    val out = SparkEntry.queries("export_incremental")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    val boundary = standing.keySet.max
    assert(boundary >= 1L, "fixture too small: base spans one shard")
    // ivf_index_delete's carry-over discipline: every shard the delta
    // cannot reach is the STANDING manifest row, byte-for-byte
    standing.filter(_._1 < boundary).foreach { case (id, row) =>
      assert(out(id) === row, s"pure-base shard $id was rewritten")
    }
    // the boundary shard only ever EXTENDS (doc/char mass grows or
    // holds; min/max CAN move — delta doc_ids interleave numerically
    // with base ids even though their offsets pack after)
    assert(out(boundary)._1 >= standing(boundary)._1 &&
      out(boundary)._2 >= standing(boundary)._2)
    // new shards appended past the boundary; totals are the whole corpus
    assert(out.keySet.max > boundary, "delta appended no new shards")
    val allChars = Tables.documents(spark, sf)
      .agg(sum(col("n_chars"))).collect()(0).getLong(0)
    assert(out.values.map(_._2).sum === allChars)
    // shard ids are gapless 0..max (offsets resumed, not restarted)
    assert(out.keySet === (0L to out.keySet.max).toSet)
  }

  test("knn_pagerank: exact-integer trajectory replays; mass and hubs behave") {
    val out = SparkEntry.queries("knn_pagerank")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = SparkEntry.queries("knn_graph")(spark, sf)
      .select(col("src_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // bit-exact replay of the 5 integer-micro trips in plain Scala
    // (kmeans_minibatch's discipline): same init, same (pr*85) div
    // (100*outdeg) contribution, same 150000 base
    val outdeg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var pr = out.keySet.map(_ -> 1000000L).toMap
    (1 to 5).foreach { _ =>
      val inflow = scala.collection.mutable.Map.empty[Long, Long]
      edges.foreach { case (u, v) =>
        inflow(v) = inflow.getOrElse(v, 0L) + (pr(u) * 85) / (100 * outdeg(u))
      }
      pr = out.keySet.map(id => id -> (150000L + inflow.getOrElse(id, 0L)))
        .toMap
    }
    assert(out === pr, "DataFrame loop drifted from the integer replay")
    // mass: never created; the teleport base is the exact floor, hit
    // exactly by (and only by) vectors with no in-edges
    val n = out.size
    assert(out.values.sum <= n * 1000000L && out.values.min >= 150000L)
    val inbound = edges.map(_._2).toSet
    out.foreach { case (id, p) =>
      assert((p == 150000L) === !inbound(id), s"teleport-base mismatch $id")
    }
    // the centrality signal exists: a hub concentrated well past its
    // init mass, and it is better-connected than the median vector
    val indeg = edges.groupBy(_._2).view.mapValues(_.length).toMap
    val hub = out.maxBy(_._2)._1
    assert(out(hub) > 2000000L, "no hub concentration on the fixture")
    val medIn = indeg.values.toSeq.sorted.apply(indeg.size / 2)
    assert(indeg(hub) > medIn, "top-PR vector is not above-median connected")
  }

  test("ivf_cell_split: partition surgery, exact member partition, smaller cells") {
    import graft.operators.SimilarityOps
    val base = SimilarityOps.ensureIvfIndex(spark, sf)
    val split = SimilarityOps.ensureIvfSplit(spark, sf)
    val before = spark.read.parquet(s"$base/vectors")
      .select(col("id"), col("cell").cast("int").as("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val after = spark.read.parquet(s"$split/vectors")
      .select(col("id"), col("cell").cast("int").as("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val hot = before.groupBy(_._2).view.mapValues(_.length).toSeq
      .sortBy(p => (-p._2, p._1)).head._1
    // the two sub-cells exactly partition the old hot cell's members...
    val hotIds = before.filter(_._2 == hot).map(_._1).toSet
    val aMap = after.toMap
    assert(after.length === before.length)
    hotIds.foreach(id => assert(aMap(id) == hot ||
      aMap(id) == SimilarityOps.NCELLS, s"doc $id left the split pair"))
    val (subA, subB) = (after.count(p => hotIds(p._1) && p._2 == hot),
      after.count(p => hotIds(p._1) && p._2 == SimilarityOps.NCELLS))
    // ...both non-empty and strictly smaller than the cell they replace
    assert(subA > 0 && subB > 0 && subA < hotIds.size && subB < hotIds.size)
    // everyone else keeps their cell, and their partition BYTES carry
    // verbatim (the takedown op's surgery contract)
    before.filter(_._2 != hot).foreach { case (id, c) =>
      assert(aMap(id) === c, s"doc $id outside the hot cell moved")
    }
    import java.nio.file.{Files, Paths}
    before.map(_._2).distinct.filter(_ != hot).foreach { c =>
      def bytes(root: String): Map[String, Long] = {
        val dir = Paths.get(s"$root/vectors/cell=$c")
        val es = Files.list(dir)
        try es.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .map(p => p.getFileName.toString -> Files.size(p)).toMap
        finally es.close()
      }
      assert(bytes(split) === bytes(base), s"cell=$c bytes not carried")
    }
  }

  test("ivf_cell_merge: two lightest cells collapse; surgery carries the rest") {
    import graft.operators.SimilarityOps
    val base = SimilarityOps.ensureIvfIndex(spark, sf)
    val merged = SimilarityOps.ensureIvfMerged(spark, sf)
    val before = spark.read.parquet(s"$base/vectors")
      .select(col("id"), col("cell").cast("int").as("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val after = spark.read.parquet(s"$merged/vectors")
      .select(col("id"), col("cell").cast("int").as("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the same two argmin cells over the FULL model domain (empty cells
    // are mergeable — the left-join coalesce)
    val counts = before.groupBy(_._2).view.mapValues(_.length).toMap
    val light = spark.read.parquet(s"$base/cells")
      .select(col("cell").cast("int")).collect().map(_.getInt(0))
      .map(c => c -> counts.getOrElse(c, 0))
      .sortBy(p => (p._2, p._1)).take(2).map(_._1).sorted
    val (keep, retire) = (light(0), light(1))
    // union of the two old cells IS the merged cell; others unmoved
    assert(after.size === before.length)
    before.foreach { case (id, c) =>
      if (c == keep || c == retire) assert(after(id) === keep)
      else assert(after(id) === c, s"doc $id outside the merge moved")
    }
    // the model drops to NCELLS-1 rows, the retired id absent, and the
    // merged centroid is the snapped mean of the union's members
    val model = spark.read.parquet(s"$merged/cells")
      .select(col("cell").cast("int").as("cell"), col("cv")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(model.size === SimilarityOps.NCELLS - 1 &&
      !model.contains(retire))
    val members = spark.read.parquet(s"$base/vectors")
      .where(col("cell").cast("int").isin(keep, retire))
      .select(col("id"), col("v"))
    if (members.count() > 0) {
      val expect = graft.operators.KMeansOps
        .lloydStep(members, Array((0,
          spark.read.parquet(s"$base/cells")
            .where(col("cell").cast("int") === keep)
            .collect()(0).getSeq[Double](1).toArray)))(0)._2
      assert(model(keep) === expect.toSeq)
    }
  }

  test("layout_vacuum: reclaims stale + aged debris only; live layouts intact") {
    import java.nio.file.{Files, Paths}
    // the production list itself — a root added to the query can never
    // be silently skipped here
    val roots = graft.sources.StorageOps.VACUUM_ROOTS
    // live layouts' results BEFORE the vacuum — the safety contract is
    // that the pass is invisible to every layout-reading query
    def snap() = Seq("join_bucketed", "join_bucketed_rebucket",
      "compact_small_files", "export_incremental", "pipeline_export_files")
      .map(q => q -> SparkEntry.queries(q)(spark, sf)
        .collect().map(_.toString).sorted.toSeq).toMap
    val before = snap()
    // plant: a foreign fixture's stale generation (must SURVIVE — not
    // ours to reclaim) and fresh young debris (must survive the age
    // gate: it could be a live concurrent staging write)
    val foreign = Paths.get("target/bucketed/otherfix-00000000")
    Files.createDirectories(foreign)
    Files.write(foreign.resolve("keep.bin"), Array[Byte](9))
    val young = Paths.get(
      "target/ivf-index/" + Paths.get(sf).getFileName + "-00000000.tmp-young")
    Files.createDirectories(young)
    Files.write(young.resolve("inflight.bin"), Array[Byte](7))
    try {
      // the declared query plants its own superseded generation + aged
      // debris per root, vacuums, and reports the post-state ledger
      val out = SparkEntry.queries("layout_vacuum")(spark, sf)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(out.keySet === roots.map(_.split("/").last).toSet)
      out.foreach { case (root, (live, stale, debris)) =>
        assert((live, stale, debris) === ((1L, 0L, 0L)),
          s"$root post-state not (1 live, 0 stale, 0 debris)")
      }
      // the plants are gone, the ledger counted them: run the mechanism
      // again with fresh plants and read the removal columns directly
      roots.foreach { r =>
        val planted = Paths.get(r,
          Paths.get(sf).getFileName.toString + "-00000000")
        assert(!Files.exists(planted), s"planted stale dir survived in $r")
      }
      val replant = Paths.get("target/band-index/" +
        Paths.get(sf).getFileName + "-00000000")
      Files.createDirectories(replant)
      Files.write(replant.resolve("a.bin"), Array[Byte](1))
      Files.write(replant.resolve("b.bin"), Array[Byte](2))
      val ledger = graft.sources.Staging
        .vacuumFixture(sf, Seq("target/band-index"))
      assert(ledger.head.nStaleRemoved === 1L &&
        ledger.head.nFilesReclaimed === 2L,
        s"ledger did not count the reclaimed generation: ${ledger.head}")
      assert(!Files.exists(replant))
      // safety: the foreign fixture's dir and the young debris survived
      assert(Files.exists(foreign.resolve("keep.bin")),
        "vacuum touched a foreign fixture's layout")
      assert(Files.exists(young.resolve("inflight.bin")),
        "vacuum deleted young debris — a live staging write would die")
      // and every layout-reading query is byte-stable across the pass
      assert(snap() === before, "a live layout changed across the vacuum")
    } finally {
      graft.sources.Staging.deleteRecursively(foreign)
      graft.sources.Staging.deleteRecursively(young)
    }
  }

  test("compact_small_files: many→few on disk, content preserved, sized right") {
    import graft.sources.StorageOps
    val (small, compacted) = StorageOps.ensureCompacted(spark, sf)
    val (nSmall, nComp) =
      (StorageOps.layoutFiles(small), StorageOps.layoutFiles(compacted))
    // the pathology is real and the compaction bites: 48 staged writer
    // files collapse to the metadata-derived target count
    assert(nSmall === 48)
    val expect = math.max(1, math.ceil(StorageOps.layoutBytes(small)
      .toDouble / StorageOps.COMPACT_TARGET_BYTES).toInt)
    assert(nComp === expect, s"expected $expect compacted files, got $nComp")
    assert(nComp < nSmall / 4, "compaction barely reduced the file count")
    // row-level identity (the declared query's digest proves the same
    // against DuckDB; this is the Spark-side set equality incl. text)
    val a = spark.read.parquet(small)
    val b = spark.read.parquet(compacted)
    assert(a.count() === b.count())
    assert(a.exceptAll(b).count() === 0L)
    assert(b.exceptAll(a).count() === 0L)
  }

  test("zorder: morton hand cases; a 2-D box stays inside one tile block") {
    import spark.implicits._
    import graft.sources.StorageOps
    val m = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (255L, 0L), (0L, 255L))
      .toDF("x", "y")
      .select(StorageOps.mortonCol(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    // interleave: x takes odd bits, y even → (3,3)=1111b, (255,0)=0xAAAA…
    assert(m === Seq(0L, 2L, 1L, 15L, 43690L, 21845L))
    // locality: a full 256×256 grid, tiles of 4096 z-values = 64×64
    // blocks; the box x,y ∈ [0,63] must land ENTIRELY in one tile of the
    // 16 — the 2-D pruning payoff a single-column sort cannot give (the
    // same x-range with y unconstrained touches 4 tiles, one per y-band)
    val grid = (0 until 256).flatMap(x => (0 until 256).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
      .select(col("x"), col("y"),
        StorageOps.mortonCol(col("x"), col("y")).as("z"))
      .withColumn("tile", expr("z div 4096"))
    assert(grid.select("tile").distinct().count() === 16L)
    val boxTiles = grid.where(col("x") <= 63 && col("y") <= 63)
      .select("tile").distinct().count()
    assert(boxTiles === 1L, s"2-D box spilled into $boxTiles tiles")
    val stripeTiles = grid.where(col("x") <= 63)
      .select("tile").distinct().count()
    assert(stripeTiles === 4L)
    // fixture stats view: every tile's [min,max] really bounds its rows
    // (they're min/max BY construction; assert non-degenerate tiling)
    val tiles = SparkEntry.queries("zorder_layout")(spark, sf).collect()
    assert(tiles.length > 1)
    assert(tiles.map(_.getAs[Long]("n_rows")).sum ===
      Tables.lineitem(spark, sf).count())
  }

  test("filter_report attributes each rule and keep is their conjunction") {
    val rep = SparkEntry.queries("filter_report")(spark, sf)
    assert(rep.count() === Tables.documents(spark, sf).count(),
      "every doc must appear in the report")
    // keep is exactly the conjunction
    assert(rep.where(col("keep") =!=
      (col("r_len") && col("r_entropy") && col("r_rep"))).count() === 0L)
    // every rule both passes and fails somewhere on the fixture (a rule
    // that can't fire isn't a filter)
    Seq("r_len", "r_entropy", "r_rep").foreach { r =>
      val t = rep.where(col(r)).count(); val f = rep.where(!col(r)).count()
      assert(t > 0, s"$r never passes")
      // r_rep fires on ~0.2% of docs — only guaranteed present at sf0.01+;
      // r_len/r_entropy must fail on every fixture
      if (r != "r_rep") assert(f > 0, s"$r never fails")
    }
    // constructed edge cases: a 2-word doc PASSES r_rep (no 3-grams), a
    // one-char-repeated doc fails r_entropy, a boilerplate doc fails r_rep
    import spark.implicits._
    import graft.operators.TextOps
    val hand = Seq(
      (1L, (1 to 25).map(i => s"w$i").mkString(" ")), // clean: keeps
      (2L, "just two"), // no 3-grams → r_rep passes, r_len fails
      (3L, "a " * 30 + "a"), // 1 repeated 3-gram + zero entropy variety
      (4L, (1 to 25).map(_ => "spam line here").mkString(" ")) // boilerplate
    ).toDF("doc_id", "text")
    // replicate the query body over the hand corpus via a temp swap is
    // overkill — drive the rules through their cores instead
    val ent = TextOps.charEntropy(hand)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ent(3L) < 4.0, "repeated-char doc must sit below the entropy floor")
    assert(ent(1L) > ent(3L))
    val shingles = hand.select(col("doc_id"),
        size(org.apache.spark.sql.graft.WordShingles.all(col("text"), 3)).as("n3"),
        size(graft.operators.DedupOps.shinglesOf(col("text"))).as("nd3"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(shingles(2L)._1 === 0, "2-word doc must carry no 3-grams")
    val (n3, nd3) = shingles(4L)
    assert(1.0 - nd3.toDouble / n3 >= 0.05,
      "boilerplate doc must exceed the repetition cutoff")
  }

  test("token_count_learned equals a driver-side replay of the learned merges") {
    val merges = SparkEntry.queries("bpe_train")(spark, sf).collect()
      .sortBy(_.getInt(0)).map(r => (r.getInt(0), r.getString(1)))
    assert(merges.length === 12)
    val got = SparkEntry.queries("token_count_learned")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
    assert(got.size === docs.length)
    docs.foreach { r =>
      val end = merges.foldLeft(r.getString(1)) { case (acc, (k, p)) =>
        acc.replace(p, new String(Character.toChars(0xE100 + k)))
      }
      assert(got(r.getLong(0)) === end.codePointCount(0, end.length),
        s"doc ${r.getLong(0)} diverged from the merge replay")
    }
    // the learned merges genuinely compress: strictly fewer symbols than
    // raw codepoints on at least one doc (in practice nearly all)
    assert(docs.count(r => got(r.getLong(0)) < r.getString(1).length) >
      docs.length / 2)
  }

  test("embed_drift: occupancy re-derives from the declared index ops") {
    val got = SparkEntry.queries("embed_drift")(spark, sf).collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // n_base per cell must equal ivf_cell_stats' population, and n_delta
    // the declared incremental append's cell occupancy — the drift rides
    // exactly the relations those two operators already hash-verify
    val base = SparkEntry.queries("ivf_cell_stats")(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val delta = SparkEntry.queries("ivf_index_incremental")(spark, sf)
      .collect().map(_.getInt(1))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(got.keySet === (base.keySet ++ delta.keySet))
    got.foreach { case (c, (nb, nd, _)) =>
      assert(nb === base.getOrElse(c, 0L), s"cell $c base occupancy")
      assert(nd === delta.getOrElse(c, 0L), s"cell $c delta occupancy")
    }
    // the antipodal delta genuinely shifts the occupancy distribution
    assert(got.values.map(_._3).sum > 0.05,
      s"expected visible drift, got ${got.values.map(_._3).sum}")
    // and each PSI recomputes from the counts (the driftFromCounts math)
    val tb = got.values.map(_._1).sum
    val td = got.values.map(_._2).sum
    val nB = got.size
    got.foreach { case (c, (nb, nd, psi)) =>
      val p = (nb + 1).toDouble / (tb + nB)
      val q = (nd + 1).toDouble / (td + nB)
      assert(math.abs(psi - (q - p) * math.log(q / p)) < 1e-6,
        s"cell $c psi drift")
    }
  }

  test("drift_report: identical slices → 0 PSI; shifted slices → positive") {
    import spark.implicits._
    val same = ((1 to 50).map(i => (i % 5, true)) ++
      (1 to 50).map(i => (i % 5, false))).toDF("bucket", "is_base")
    val psiSame = graft.operators.TextOps.driftOf(same)
      .collect().map(_.getAs[Double]("psi"))
    assert(psiSame.forall(_ === 0.0), psiSame.toSeq.toString)
    val shifted = ((1 to 50).map(i => (i % 5, true)) ++
      (1 to 50).map(i => (i % 5 + 3, false))).toDF("bucket", "is_base")
    val totalPsi = graft.operators.TextOps.driftOf(shifted)
      .agg(sum("psi")).first().getDouble(0)
    assert(totalPsi > 0.25, s"expected clear drift, got $totalPsi")
  }

  test("join_asof_nearest is the closer of the two declared directions") {
    // cross-operator derivation: nearest must pick between join_asof's
    // backward match and join_asof_fwd's forward match by distance, ties
    // backward, sentinels composing — plain Scala over the declared rows
    val back = SparkEntry.queries("join_asof")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val fwd = SparkEntry.queries("join_asof_fwd")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val got = SparkEntry.queries("join_asof_nearest")(spark, sf).collect()
    assert(got.length === back.size && got.length === fwd.size)
    var sides = Set.empty[String]
    got.foreach { r =>
      val (id, ts) = (r.getLong(0), r.getLong(2))
      val (lb, nf) = (back(id), fwd(id))
      val (expVal, expSide) =
        if (lb == -1L && nf == -1L) (-1L, "none")
        else if (nf == -1L) (lb, "backward")
        else if (lb == -1L) (nf, "forward")
        else if (ts - lb <= nf - ts) (lb, "backward")
        else (nf, "forward")
      assert(r.getLong(3) === expVal, s"purchase $id nearest value")
      assert(r.getString(4) === expSide, s"purchase $id side")
      sides += r.getString(4)
    }
    // both real directions must fire on the fixture (the sentinel arm is
    // data-dependent and not required)
    assert(Set("backward", "forward").subsetOf(sides), sides.toString)
  }

  test("join_pit: one version per fact, knowable-then semantics") {
    val pit = SparkEntry.queries("join_pit")(spark, sf)
    val nEvents = Tables.events(spark, sf).count()
    // a PIT join never drops or duplicates facts (≤1 version per probe)
    assert(pit.count() === nEvents)
    assert(pit.select("event_id").distinct().count() === nEvents)
    // the matched version must STRICTLY precede the fact (1h delay):
    // joining back to the version's own timestamp proves knowability
    val evTs = Tables.events(spark, sf)
      .select(col("event_id"), expr("ts div 1000").as("ts_us"))
    val bad = pit.where(col("version_event_id") =!= -1L)
      .join(evTs.select(col("event_id").as("version_event_id"),
        col("ts_us").as("v_ts")), "version_event_id")
      .join(evTs, "event_id")
      .where(col("v_ts") > col("ts_us") - lit(3600000000L))
    assert(bad.count() === 0L, "a version newer than asof-time leaked in")
    // early probes (before the user's first version) carry the sentinel
    assert(pit.where(col("version_event_id") === -1L).count() > 0)
  }

  test("scd2_snapshot: intervals chain per user and agree with compaction") {
    val scd = SparkEntry.queries("scd2_snapshot")(spark, sf)
    // exactly one open (current) version per user
    val perUser = scd.groupBy("user_id")
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n_open"))
      .where(col("n_open") =!= 1)
    assert(perUser.count() === 0L)
    // each closed interval's valid_to is the next version's valid_from
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from_us"), col("event_id"))
    val broken = scd.withColumn("next_from", lead(col("valid_from_us"), 1).over(w))
      .where((col("next_from").isNotNull && col("valid_to_us") =!= col("next_from")) ||
        (col("next_from").isNull && col("valid_to_us") =!= -1L))
    assert(broken.count() === 0L)
    // the current version IS compact_changelog's latest row
    val cur = scd.where(col("is_current"))
      .select(col("user_id"), col("event_id"))
    val compact = SparkEntry.queries("compact_changelog")(spark, sf)
      .select(col("user_id"), col("event_id"))
    assert(cur.exceptAll(compact).count() === 0L)
    assert(compact.exceptAll(cur).count() === 0L)
  }

  test("window_cumsum final row equals group sum") {
    val ev = Tables.events(spark, sf)
    val sums = ev.groupBy("user_id").agg(round(sum("value"), 2).as("total"))
    val cum = SparkEntry.queries("window_cumsum")(spark, sf)
    val lastPerUser = cum.groupBy("user_id")
      .agg(max(struct(col("event_id"), col("running_value"))).as("m"))
      .select(col("user_id"), col("m.running_value").as("final_cum"))
    val joined = sums.join(lastPerUser, "user_id")
      .where(abs(col("total") - col("final_cum")) > 0.011)
    assert(joined.count() === 0L)
  }

  test("knn_graph matches an exact within-cell driver brute force") {
    // independent re-derivation sharing NO Spark expression code (the
    // semdedup recheck's discipline): plain Scala cosine + BigDecimal
    // HALF_UP rounding, top-K per src by (sim desc, id asc) within the
    // SAME persisted cell assignment the query rode.
    val res = SparkEntry.queries("knn_graph")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(res.nonEmpty)
    val dir = operators.SimilarityOps.ensureIvfIndex(spark, sf)
    val cells = spark.read.parquet(s"$dir/vectors")
      .select(col("id"), col("cell").cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val vmap = operators.KMeansOps.points(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cosD(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < a.length) {
        dot += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4D(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect: Map[Long, Seq[(Int, Long, Double)]] =
      cells.keys.groupBy(cells).values.flatMap { cellIds =>
        val ids = cellIds.toSeq.sorted
        ids.map { src =>
          val nbrs = ids.filter(_ != src)
            .map(n => (n, r4D(cosD(vmap(src), vmap(n)))))
            .sortBy { case (n, s) => (-s, n) }
            .take(4).zipWithIndex
            .map { case ((n, s), i) => (i + 1, n, s) }
          src -> nbrs
        }
      }.toMap
    val got = res.groupBy(_._1).map { case (src, g) =>
      src -> g.sortBy(_._2).map(t => (t._2, t._3, t._4)).toSeq
    }
    assert(got.keySet === expect.filter(_._2.nonEmpty).keySet)
    got.foreach { case (src, nbrs) =>
      assert(nbrs === expect(src), s"src $src neighbor list mismatch")
    }
  }

  test("knn_density matches a driver re-derivation over the knn graph") {
    // independent arithmetic: lift each declared knn_graph sim onto the
    // ×10000 integer grid in plain Scala (BigDecimal HALF_UP — no Spark
    // expression shared), fold per src, and recheck count/sum/density/
    // keep for every indexed vector including the edge-less ones.
    val dens = SparkEntry.queries("knn_density")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(dens.nonEmpty)
    val edges = SparkEntry.queries("knn_graph")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    def x4(s: Double): Long =
      BigDecimal(s * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toLong
    val expect = edges.groupBy(_._1).map { case (src, g) =>
      val sum = g.map(t => x4(t._2)).sum
      src -> (g.length.toLong, sum, sum / g.length, sum < 2700L * g.length)
    }
    val dir = operators.SimilarityOps.ensureIvfIndex(spark, sf)
    val allIds = spark.read.parquet(s"$dir/vectors")
      .select(col("id")).collect().map(_.getLong(0))
    assert(dens.keySet === allIds.toSet)
    allIds.foreach { id =>
      val e = expect.getOrElse(id, (0L, 0L, 0L, true))
      assert(dens(id) === e, s"vec $id density mismatch")
    }
    // both keep outcomes must be populated — the τ placement contract
    assert(dens.values.exists(_._4) && dens.values.exists(!_._4))
  }

  test("knn_density_scaled re-derives from the scaled graph") {
    // the scaled form must be exactly the shared density tail applied
    // to the DECLARED scaled graph — same integer lift, same τ
    val dens = SparkEntry.queries("knn_density_scaled")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val edges = SparkEntry.queries("knn_graph_scaled")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    def x4(s: Double): Long =
      BigDecimal(s * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toLong
    val expect = edges.groupBy(_._1).map { case (src, g) =>
      val sum = g.map(t => x4(t._2)).sum
      src -> (g.length.toLong, sum, sum / g.length, sum < 2700L * g.length)
    }
    assert(dens.nonEmpty)
    dens.foreach { case (id, got) =>
      assert(got === expect.getOrElse(id, (0L, 0L, 0L, true)),
        s"vec $id scaled density mismatch")
    }
    assert(dens.values.exists(_._4) && dens.values.exists(!_._4))
  }

  test("dataset_card totals agree with the standalone audits") {
    val card = SparkEntry.queries("dataset_card")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(card.nonEmpty)
    assert(card.map(_._2).sum === 500L)
    // gopher_pass totals match the standalone gopher_rules relation
    val gopherPass = SparkEntry.queries("gopher_rules")(spark, sf)
      .where(col("pass")).count()
    assert(card.map(_._6).sum === gopherPass)
    // quality_keep totals match quality_score at the shared τ
    val qKeep = SparkEntry.queries("quality_score")(spark, sf)
      .where(col("quality") >= 0.35).count()
    assert(card.map(_._5).sum === qKeep)
    // dup_docs totals match dedup_exact's copy counts (docs in >1 groups)
    // (exact dup texts exist only at sf0.1 — coalesce keeps the
    // cross-check meaningful at every SF)
    val dupDocs = SparkEntry.queries("dedup_exact")(spark, sf)
      .where(col("n_copies") > 1)
      .agg(coalesce(sum(col("n_copies")), lit(0L))).head().getLong(0)
    assert(card.map(_._8).sum === dupDocs)
  }

  test("filter_sweep: monotone keep curve over the shared quality gate") {
    val rows = SparkEntry.queries("filter_sweep")(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.length === 4)
    // keep counts and token mass are non-increasing in τ, and every
    // sweep point keeps a non-degenerate slice on the fixture
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._2 >= hi._2 && lo._3 >= hi._3)
    }
    rows.foreach { r => assert(r._2 > 0 && r._4 > 0 && r._4 < 1000000) }
    // the loosest τ agrees with a direct recount against quality_score
    val direct = SparkEntry.queries("quality_score")(spark, sf)
      .where(col("quality") >= rows.head._1).count()
    assert(rows.head._2 === direct)
  }

  test("gopher_rules: gates are the declared integer predicates, both paths") {
    val rows = SparkEntry.queries("gopher_rules")(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        (r.getLong(5), r.getLong(6), r.getLong(7)),
        (r.getBoolean(8), r.getBoolean(9), r.getBoolean(10),
          r.getBoolean(11), r.getBoolean(12), r.getBoolean(13)),
        r.getBoolean(14)))
    assert(rows.nonEmpty)
    rows.foreach { case (nw, sl, ns, na, (nl, nb, ne),
        (gw, gl, gs, ga, gb, ge), p) =>
      assert(gw === (nw >= 50 && nw <= 100000))
      assert(gl === (sl >= nw * 3 && sl <= nw * 10))
      assert(gs === (ns >= 2))
      assert(ga === (na * 5 >= nw * 4))
      // line-shape gates over the synthesized W=8 rendering: the line
      // count is the block count, fractions are the published 0.9/0.3
      assert(nl === (nw - 1) / 8 + 1)
      assert(nb >= 0 && nb <= nl && ne >= 0 && ne <= nl)
      assert(gb === (nb * 10 <= nl * 9))
      assert(ge === (ne * 10 <= nl * 3))
      assert(p === (gw && gl && gs && ga && gb && ge))
    }
    // the word-count and stopword gates both split the fixture corpus
    assert(rows.exists(_._6._1) && rows.exists(!_._6._1))
    assert(rows.exists(_._6._3) && rows.exists(!_._6._3))
    // the line-shape gates both fire at every SF (measured placement)
    assert(rows.exists(!_._6._5) && rows.exists(!_._6._6))
    // fixture honesty: every token is alphabetic, so the alpha gate is
    // exercised only in the always-pass regime here
    rows.foreach(r => assert(r._4 === r._1))
  }

  test("approx_distinct_sketch: merge-invariant registers, bounded error") {
    // the bench-only sketch projection's own gate (it has no oracle: a
    // sketch estimate is not DuckDB-reproducible). HLL++ registers merge
    // by max, so the estimate must be BIT-IDENTICAL under any partition
    // layout, and the declared rsd=0.01 config must land within a loose
    // 5% of the exact distinct count the declared sibling verifies.
    val est = SparkEntry.benchOnly("approx_distinct_sketch")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.nonEmpty)
    val relaid = Tables.events(spark, sf).repartition(7)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === relaid, "HLL registers are not merge-invariant")
    val exact = Tables.events(spark, sf).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est.foreach { case (k, a) =>
      assert(math.abs(a - exact(k)).toDouble / exact(k) < 0.05,
        s"$k: sketch $a vs exact ${exact(k)}")
    }
  }

  test("approx_percentile_sketch: ordered, counted, within the gate") {
    // the declared sibling (approx_percentile_agg) verifies sketch-vs-
    // exact in one plan; this pins the SAME contract onto the bench-only
    // pure-sketch projection so a regression in the sketch-only path is
    // visible outside the bench timings: group counts exact, a50 ≤ a95,
    // both within 1% of the exact percentiles.
    val sk = SparkEntry.benchOnly("approx_percentile_sketch")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getLong(3))).toMap
    assert(sk.nonEmpty)
    val exact = Tables.lineitem(spark, sf).groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("p50"),
        expr("percentile(l_extendedprice, 0.95)").as("p95"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1),
        r.getDouble(2), r.getLong(3))).toMap
    sk.foreach { case (k, (a50, a95, n)) =>
      val (p50, p95, en) = exact(k)
      assert(n === en)
      assert(a50 <= a95)
      assert(math.abs(a50 - p50) <= p50 * 0.01, s"$k a50=$a50 p50=$p50")
      assert(math.abs(a95 - p95) <= p95 * 0.01, s"$k a95=$a95 p95=$p95")
    }
  }

  test("ivf_index_build: the built layout matches the standing index") {
    // the bench-only ETL's layout contract: the training is
    // deterministic, so a fresh build must reproduce the standing
    // ensureIvfIndex layout exactly — same k-row cell model, same
    // cell=* partitioning, every corpus vector assigned identically.
    val before = Option(new java.io.File("target/ivf-bench").listFiles())
      .map(_.map(_.getName).toSet).getOrElse(Set.empty[String])
    val cells = SparkEntry.benchOnly("ivf_index_build")(spark, sf)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val builtDir = new java.io.File("target/ivf-bench").listFiles()
      .map(_.getName).toSet.diff(before)
    assert(builtDir.size === 1, "expected exactly one fresh build dir")
    val dir = s"target/ivf-bench/${builtDir.head}"
    val standing = operators.SimilarityOps.ensureIvfIndex(spark, sf)
    val standingCells = spark.read.parquet(s"$standing/cells")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(cells === standingCells, "cell model drifted from standing")
    // cell=* partition dirs exist — the static-pruning surface
    val parts = new java.io.File(s"$dir/vectors").listFiles()
      .map(_.getName).filter(_.startsWith("cell=")).toSet
    assert(parts.nonEmpty && parts ===
      cells.keySet.filter(c => spark.read.parquet(s"$standing/vectors")
        .where(col("cell") === c).limit(1).count() > 0)
        .map(c => s"cell=$c"))
    val built = spark.read.parquet(s"$dir/vectors")
      .select(col("id"), col("cell").cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val std = spark.read.parquet(s"$standing/vectors")
      .select(col("id"), col("cell").cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(built === std, "vector assignment drifted from standing")
  }

  test("bpe_train_unicode: merges are genuinely multi-byte + laddered") {
    // the multilingual gate: the transliterated corpus must force the
    // trainer through real 2-byte-UTF-8 codepoints (a pair containing a
    // non-ASCII non-private char) AND through ladder merges over learned
    // symbols — proving the pair loop is codepoint-clean, not
    // accidentally ASCII-bound
    val merges = SparkEntry.queries("bpe_train_unicode")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(merges.length === 12)
    assert(merges.forall(_._2.length === 2)) // every pair is 2 codepoints
    def isLearned(c: Char): Boolean = c >= 0xE100 && c <= 0xE1FF
    assert(merges.exists(_._2.exists(c => c > 127 && !isLearned(c))),
      "no multi-byte codepoint ever entered a merged pair")
    assert(merges.exists(_._2.exists(isLearned)),
      "no ladder merge over a learned symbol")
    // monotone argmax: each step's count can never exceed the previous
    merges.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3, s"step ${b._1} count rose above step ${a._1}")
    }
  }

  test("bpe_train_utf8: multi-byte codepoints split to bytes and re-merge") {
    import graft.operators.TextOps
    import spark.implicits._
    def bsym(b: Int): Char = (0x100 + b).toChar
    // the rendering contract by hand: 'ä' (U+00E4, UTF-8 C3 A4) splits
    // into its lead+continuation byte symbols; ASCII shifts into the
    // byte-symbol plane; the space byte stays a literal space boundary
    val rendered = Seq("pä a").toDF("t")
      .select(TextOps.utf8ByteSyms(col("t")).as("b")).head().getString(0)
    assert(rendered ===
      "" + bsym('p') + bsym(0xC3) + bsym(0xA4) + " " + bsym('a'))
    // byte-fallback RE-MERGE: on a corpus dominated by word-final 'é'
    // (C3 A9 — final, so no competing continuation-byte+ASCII pair can
    // tie it), the first learned merge must be exactly é's own byte
    // pair — training reassembles the codepoint the rendering split
    val tiny = Seq.fill(5)("café olé").toDF("t")
      .select(TextOps.utf8ByteSyms(col("t")).as("t"))
    val merges = TextOps.bpeMerges(TextOps.wordHistogram(tiny), 2,
      TextOps.learnedSym, skipEmptyTrips = false)
    assert(merges.head._2 === "" + bsym(0xC3) + bsym(0xA9),
      "first merge is not the split codepoint re-merging from its bytes")
    // and the declared fixture query: 12 merges, 2 symbols each, with a
    // continuation-byte symbol (0x180+) participating — bytes, not
    // codepoints, are the training alphabet
    val full = SparkEntry.queries("bpe_train_utf8")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(full.length === 12)
    assert(full.forall(_._2.length === 2))
    assert(full.exists(_._2.exists(c => c >= 0x180.toChar && c < 0x1C0.toChar)),
      "no continuation-byte symbol in any merged pair — the shim is not " +
        "rendering bytes")
    // the apply twin budgets in BYTES: per doc, chars ≤ n_tokens (bytes
    // only re-merge via learned pairs) would be the unmergable floor and
    // raw byte count the ceiling; the 12 merges must strictly bite
    val tc = SparkEntry.queries("token_count_utf8")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val raw = Tables.documents(spark, sf)
      .select(col("doc_id"), length(TextOps.utf8ByteSyms(
        translate(col("text"), TextOps.UNI_FROM, TextOps.UNI_TO)))
        .cast("int").as("nb"),
        col("n_chars").cast("int").as("nc"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2))))
      .toMap
    assert(tc.keySet === raw.keySet)
    tc.foreach { case (id, n) =>
      assert(n <= raw(id)._1, s"doc $id: more tokens than raw bytes") }
    assert(raw.exists { case (_, (nb, nc)) => nb > nc },
      "no doc ever cost more bytes than chars — the shim rendered nothing")
    assert(tc.values.map(_.toLong).sum < raw.values.map(_._1.toLong).sum,
      "12 learned merges never reduced the byte total")
  }

  test("pipeline_curate_learned composes its declared stage operators") {
    // cross-audit against the standalone stages: every curated doc must
    // pass the declared learned gate (same logit), sit past the eval-id
    // fence, and the curated set must differ from the heuristic
    // pipeline's (the gate swap is load-bearing, not cosmetic)
    val cur = SparkEntry.queries("pipeline_curate_learned")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cur.nonEmpty)
    val gate = SparkEntry.queries("quality_classifier_learned")(spark, sf)
      .where(col("pass")).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    cur.foreach { case (id, logit) =>
      assert(gate.contains(id), s"curated doc $id failed the learned gate")
      assert(gate(id) === logit, s"doc $id logit drifted from the gate's")
      assert(id >= 20L, s"eval doc $id leaked through the fence")
    }
    val heuristic = SparkEntry.queries("pipeline_curate")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(cur.keySet !== heuristic,
      "the learned gate admitted exactly the heuristic set — suspicious")
  }

  test("zipf_audit: buckets partition the token mass") {
    val rows = SparkEntry.queries("zipf_audit")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.length >= 2) // more than one doubling bucket on the fixture
    val totalTokens = SparkEntry.queries("token_count")(spark, sf)
      .agg(sum(col("ws_tokens"))).head().getLong(0)
    assert(rows.map(_._3).sum === totalTokens)
    rows.foreach { case (bits, types, toks) =>
      assert(types > 0)
      // every count in bucket b has bitlength b: mass is bounded by
      // types · (2^bits − 1) and at least types · 2^(bits−1)
      assert(toks >= types * (1L << (bits - 1)))
      assert(toks <= types * ((1L << bits) - 1))
    }
  }

  test("standing band index == in-plan banding (read-back integrity)") {
    // the persisted (id, t, b) layout dedup_embedding_incremental probes
    // must be exactly what in-plan banding would derive — the
    // append==rebuild discipline of ivf_index_incremental applied to the
    // band index, which makes the probe result independent of WHERE the
    // base bands came from
    val dir = operators.SimilarityOps.ensureBandIndex(spark, sf)
    val persisted = spark.read.parquet(s"$dir/bands")
      .select(col("id"), col("t"), col("b"))
    val derived = operators.SimilarityOps.bucketedAllTables(
      operators.KMeansOps.points(spark, sf), 64, 12) // PLANES_DEDUP
      .select(col("id"), col("t"), col("b"))
    assert(persisted.count() === derived.count())
    assert(persisted.exceptAll(derived).count() === 0L)
    assert(derived.exceptAll(persisted).count() === 0L)
  }

  test("dedup_embedding_incremental: re-crawled copies drop, antipodes live") {
    val res = SparkEntry.queries("dedup_embedding_incremental")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getString(2)))
    assert(res.length === 63) // ids 0,8,…,496 re-keyed
    // unchanged arrivals (source id ≡ 0 mod 16) are exact copies of
    // standing vectors — sign-LSH collides identical vectors with
    // certainty, so every one must drop
    res.filter(t => (t._1 - 1000000L) % 16 == 0).foreach { t =>
      assert(!t._2, s"unchanged delta ${t._1} must drop")
    }
    // at least one negated arrival survives (the antipode flips every
    // sign bit, so no table can collide it with its own source)
    assert(res.exists(t => (t._1 - 1000000L) % 16 != 0 && t._2))
    res.foreach(t => assert(t._2 === (t._3 == "kept")))
  }

  test("dedup_media_incremental: re-crawls drop, saturated probes cluster") {
    val res = SparkEntry.queries("dedup_media_incremental")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getString(2)))
    assert(res.length === 63)
    // every unchanged arrival is byte-identical to a standing row:
    // its features match at L-inf 0 and it must drop
    res.filter(t => (t._1 - 1000000L) % 16 == 0).foreach { t =>
      assert(!t._2, s"unchanged media delta ${t._1} must drop")
    }
    // saturated probes can never match the base (measured >= 0.089 from
    // any fixture feature), but similar-length ones match EACH OTHER —
    // the within-delta stage fires on the real fixture, and at least
    // one saturated row survives as its cluster's min id
    assert(res.exists(t => t._2))
    res.filter(_._2).foreach { t =>
      assert((t._1 - 1000000L) % 16 == 8, s"kept ${t._1} should be a probe")
    }
    assert(res.exists(_._3 == "delta"))
    res.foreach(t => assert(t._2 === (t._3 == "kept")))
  }

  test("epoch_plan: budget-exact requests, R_MAX-clipped plans, both paths") {
    val rows = SparkEntry.queries("epoch_plan")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getBoolean(7)))
    val supply = rows.map(_._2).sum
    // largest remainder: requested tokens sum to the 4-epoch budget EXACTLY
    assert(rows.map(_._3).sum === supply * 4)
    rows.foreach { r =>
      assert(r._4 <= r._2 * 4, s"${r._1}: plan exceeds the repetition cap")
      assert(r._5 <= 4000L, s"${r._1}: epochs_milli above R_MAX")
      assert(r._6 === r._3 - r._4)
      assert(r._7 === (r._6 > 0))
    }
    // weights and supply shares both sum to 1, so some domain caps and
    // some does not — at any corpus
    assert(rows.exists(_._7) && rows.exists(!_._7))
  }

  test("knn_components matches a driver union-find over the mutual graph") {
    // independent re-derivation: mutual edges from the declared knn_graph
    // relation (an edge survives iff BOTH orientations rank top-K), then
    // plain union-find — no Spark label-propagation code shared.
    val comps = SparkEntry.queries("knn_components")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size === 500)
    val edges = SparkEntry.queries("knn_graph")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val mutual = edges.filter { case (a, b) => a < b && edges((b, a)) }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    mutual.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    comps.foreach { case (id, rep) =>
      assert(rep === find(id), s"vec $id: rep $rep != union-find ${find(id)}")
    }
    // every representative is its own representative
    comps.values.toSet.foreach { (rep: Long) =>
      assert(comps(rep) === rep, s"rep $rep is not self-representative")
    }
  }

  test("lm_eval: held-out splits score above the train split they never fed") {
    val rows = SparkEntry.queries("lm_eval")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // full (split × lang) coverage, doc counts exhaustive
    assert(rows.length === 15)
    assert(rows.map(_._3).sum === 500L)
    // the generalization gap: tokens the train split never saw hit the
    // OOV floor, so each held-out split's overall mean surprisal must
    // exceed train's (equality would mean a leaky or memorized split)
    def mean(split: String): Double = {
      val g = rows.filter(_._1 == split)
      g.map(_._5).sum.toDouble / g.map(_._4).sum
    }
    assert(mean("val") > mean("train"))
    assert(mean("test") > mean("train"))
  }

  test("perplexity_buckets: monotone terciles covering every scored doc") {
    val res = SparkEntry.queries("perplexity_buckets")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getString(4)))
    assert(res.nonEmpty)
    // coverage: exactly the unigram-scored docs, each once
    val scoredDocs = SparkEntry.queries("unigram_logprob")(spark, sf).count()
    assert(res.length.toLong === scoredDocs)
    assert(res.map(_._1).distinct.length === res.length)
    // per lang, bucket boundaries are monotone in the quantized score:
    // every head score ≤ every middle score ≤ every tail score (equal
    // scores always share a bucket — the key→bucket map guarantees it)
    val ord = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    res.groupBy(_._2).values.foreach { g =>
      val byB = g.groupBy(t => ord(t._4))
      for (i <- 0 to 1; j <- (i + 1) to 2
           if byB.contains(i) && byB.contains(j)) {
        assert(byB(i).map(_._3).max <= byB(j).map(_._3).min,
          s"lang ${g.head._2}: bucket $i scores exceed bucket $j")
      }
    }
    // every language populates all three buckets on the fixture
    res.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._4).distinct.toSet === Set("head", "middle", "tail"))
    }
  }

  for (q <- Seq("semdedup", "semdedup_scaled"))
  test(s"$q keep set matches an exact driver brute-force recheck") {
    // independent re-derivation sharing NO Spark expression code: plain
    // Scala cosine (the same 3-accumulator left-to-right loop CosineSim
    // documents as its contract) + BigDecimal HALF_UP rounding (Spark's
    // round()), applied per cell with the min-id keep rule.
    val res = SparkEntry.queries(q)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(res.nonEmpty)
    assert(res.exists(!_._3), "fixture should produce at least one drop")
    val vmap = operators.KMeansOps.points(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cosD(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < a.length) {
        dot += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4D(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expectDrop: Set[Long] = res.groupBy(_._2).values.flatMap { cell =>
      val ids = cell.map(_._1).sorted.toSeq
      for {
        bI <- ids; aI <- ids
        if aI < bI && r4D(cosD(vmap(aI), vmap(bI))) >= 0.3
      } yield bI
    }.toSet
    res.foreach { case (id, cellId, keep) =>
      assert(keep === !expectDrop.contains(id),
        s"vec $id (cell $cellId): keep=$keep disagrees with brute force")
    }
    // min-id invariant: the smallest id of every cell is always kept
    res.groupBy(_._2).values.foreach { cell =>
      val minId = cell.map(_._1).min
      assert(cell.find(_._1 == minId).get._3,
        s"cell ${cell.head._2}: min id $minId must be kept")
    }
  }
}
