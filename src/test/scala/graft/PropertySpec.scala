package graft

import graft.functions.VectorOps._
import graft.operators.DedupOps
import org.apache.spark.sql.functions._

/** Property-style invariants over generated inputs (SURVEY.md §5.3).
  * Plain ScalaTest with a deterministic case generator — the offline cache
  * has no scalatest↔scalacheck bridge, and reproducibility beats shrinking
  * here: every case is a pure function of its index.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val N = 200
  private val DIMS = 5

  /** Deterministic pseudo-random vector for case i, stream s. */
  private def vec(i: Int, s: Int): Seq[Double] =
    Seq.tabulate(DIMS) { j =>
      val h = (i * 2654435761L + s * 40503L + j * 69069L) % 2000003L
      h.toDouble / 1000003.0 - 1.0
    }

  private lazy val triples = (0 until N)
    .map(i => (vec(i, 1), vec(i, 2), vec(i, 3)))
    .toDF("a", "b", "c").cache()

  for (p <- Seq(1.0, 2.0, 3.0)) {
    test(s"minkowski p=$p: symmetry, identity, triangle inequality") {
      val bad = triples.select(
        minkowski(col("a"), col("b"), p).as("dab"),
        minkowski(col("b"), col("a"), p).as("dba"),
        minkowski(col("a"), col("a"), p).as("daa"),
        minkowski(col("a"), col("c"), p).as("dac"),
        minkowski(col("b"), col("c"), p).as("dbc"))
        .where(abs(col("dab") - col("dba")) > 1e-12 ||
          col("daa") > 1e-12 ||
          col("dac") > col("dab") + col("dbc") + 1e-9 ||
          col("dab") < 0)
      assert(bad.count() === 0L)
    }
  }

  test("manhattan/euclidean agree with minkowski p=1/p=2") {
    val bad = triples.select(
      abs(manhattan(col("a"), col("b")) - minkowski(col("a"), col("b"), 1.0))
        .as("e1"),
      abs(euclidean(col("a"), col("b")) - minkowski(col("a"), col("b"), 2.0))
        .as("e2"))
      .where(col("e1") > 1e-12 || col("e2") > 1e-12)
    assert(bad.count() === 0L)
  }

  test("cosine is bounded and self-similarity is 1") {
    val bad = triples.select(
      cosine(col("a"), col("b")).as("sab"),
      cosine(col("a"), col("a")).as("saa"))
      .where(col("sab") < -1.000000001 || col("sab") > 1.000000001 ||
        abs(col("saa") - 1.0) > 1e-9)
    assert(bad.count() === 0L)
  }

  test("centroid mean is partition-merge invariant") {
    // the same rows under 1 partition and 7 partitions must aggregate to
    // identical centroids through CentroidAgg's reduce/merge paths
    val rows = (0 until N).map(i => (i % 4, vec(i, 1))).toDF("cid", "v")
    val centroid = udaf(graft.functions.CentroidAgg)
    def agg(parts: Int) = rows.repartition(parts).groupBy("cid")
      .agg(centroid($"v").as("c")).orderBy("cid")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).map(x =>
        BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP))))
    assert(agg(1).toSeq === agg(7).toSeq)
  }

  test("h60 is deterministic, non-negative, and 60-bit bounded") {
    val words = (0 until N).map(i => s"w$i t${i * 31}").toDF("w")
    val h = words.select(DedupOps.h60(col("w")).as("h"),
      DedupOps.h60(col("w")).as("h2"))
    val bad = h.where(col("h") =!= col("h2") || col("h") < 0 ||
      col("h") >= (1L << 60))
    assert(bad.count() === 0L)
  }

  test("native tokenizer/shingles == HOF forms on adversarial strings") {
    // generated edge cases the fixture corpus never hits: leading /
    // trailing / repeated spaces, empty and all-space strings, 1- and
    // 2-word strings (the <n guard), repeated shingles (the distinct
    // path), multi-byte utf-8
    val texts = (0 until N).map { i =>
      val words = Seq.tabulate(i % 7)(j => s"w${(i + j) % 5}é")
      val sep = if (i % 3 == 0) "  " else " "
      val pad = if (i % 4 == 0) " " else ""
      pad + words.mkString(sep) + pad
    } :+ "" :+ "   " :+ "solo" :+ "a b" :+ "a a a a a"
    val df = texts.toDF("text")
    val wordsHof = filter(split(col("text"), " "), w => length(w) > 0)
    val shHof = array_distinct(
      when(size(wordsHof) >= 3,
        transform(sequence(lit(1), size(wordsHof) - 2),
          i => concat_ws(" ", element_at(wordsHof, i),
            element_at(wordsHof, i + 1), element_at(wordsHof, i + 2))))
        .otherwise(array().cast("array<string>")))
    val bad = df.select(
        DedupOps.wordsCol(col("text")).as("tn"), wordsHof.as("th"),
        DedupOps.shinglesOf(col("text")).as("sn"), shHof.as("sh"))
      .where(not(col("tn") <=> col("th")) || not(col("sn") <=> col("sh")))
    assert(bad.count() === 0L)
  }

  test("CosineSim/SignBucket == HOF forms on generated vectors") {
    val planes = graft.operators.SimilarityOps.planes(DIMS, 8, table = 1)
    val hofBucket = planes.zipWithIndex.map { case (p, b) =>
      when(dot(col("a"), typedlit(p)) >= 0, shiftleft(lit(1), b)).otherwise(0)
    }.reduce(_ + _)
    val bad = triples.select(
        org.apache.spark.sql.graft.CosineSim.column(col("a"), col("b")).as("cn"),
        cosine(col("a"), col("b")).as("ch"),
        graft.operators.SimilarityOps.bucketCol(col("a"), DIMS, 8, 1).as("bn"),
        hofBucket.as("bh"))
      .where(col("cn") =!= col("ch") || col("bn") =!= col("bh") ||
        col("bn") < 0 || col("bn") >= (1 << 8))
    assert(bad.count() === 0L)
  }

  test("lloyd cost never increases across a step (generated blobs)") {
    import graft.operators.KMeansOps
    val pts = (0 until N).map(i => (i.toLong, vec(i, 1))).toDF("id", "v")
      .cache()
    var centers = KMeansOps.collectCenters(KMeansOps.sampleK(pts, 3))
    def cost(cs: Array[(Int, Array[Double])]): Double =
      pts.select(sum(KMeansOps.minSqDistCol(col("v"), cs))).head.getDouble(0)
    var prev = cost(centers)
    for (_ <- 1 to 4) {
      centers = KMeansOps.lloydStep(pts, centers)
      val c = cost(centers)
      assert(c <= prev + 1e-9)
      prev = c
    }
  }

  test("MarkerCounts == HOF marker hits on adversarial token streams") {
    import graft.operators.TextOps
    // generated cases: marker-dense runs, duplicates, markers embedded in
    // longer words (must NOT match), mixed-language collisions, empties
    val langs = Seq("en", "es", "de", "fr")
    val vocab = langs.flatMap(TextOps.stoplistsFor) ++
      Seq("thex", "xthe", "DER", "uend", "w1", "", "é")
    val texts = (0 until N).map { i =>
      Seq.tabulate(i % 11) { j =>
        vocab((i * 31 + j * 7) % vocab.length)
      }.mkString(if (i % 5 == 0) "  " else " ")
    }
    val df = texts.toDF("text")
    val w = DedupOps.wordsCol(col("text"))
    val hof = array(langs.map(l => TextOps.markerHitsHof(w, TextOps.stoplistsFor(l))): _*)
    val bad = df.select(TextOps.markerCounts(w).as("a"), hof.as("b"))
      .where(not(col("a") <=> col("b")))
    assert(bad.count() === 0L)
  }

  test("capped self-joins emit NOTHING on an all-duplicates corpus") {
    // round-7 verdict #5 — the adversarial input the caps exist for: every
    // band/chunk/bucket cell goes over cap on a corpus of identical
    // documents, so candidate generation must collapse to EMPTY (never a
    // quadratic n²/2 within-cell join), while the cheap exact dedup still
    // catches the whole cluster.
    val n = 1200 // over the production caps (1000)
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = (0 until n).map(i => (i.toLong, text)).toDF("doc_id", "text")
    assert(DedupOps.minhashPairs(docs).count() === 0L)
    assert(DedupOps.simhashPairs(docs).count() === 0L)
    val pts = (0 until n).map(i => (i.toLong, vec(0, 1))).toDF("id", "v")
    assert(graft.operators.SimilarityOps.capBuckets(
      graft.operators.SimilarityOps.bucketedAllTables(pts, DIMS, 12))
      .count() === 0L)
    // dedup_exact's digest-groupBy is the path that owns this corpus
    val exact = docs.groupBy(DedupOps.digest(col("text")).as("h"))
      .agg(count(lit(1)).as("n_copies")).collect()
    assert(exact.length === 1 && exact.head.getLong(1) === n.toLong)
    // cap boundary: exactly-at-cap cells are KEPT (<= cap), one past drops
    val bands = DedupOps.minhashBands(docs).localCheckpoint()
    assert(DedupOps.cappedBands(bands, cap = n).count() === bands.count())
    assert(DedupOps.cappedBands(bands, cap = n - 1).count() === 0L)
    // the same boundary for both cap forms beyond band keys, at cap = 3:
    // one group of 3 docs fills every one of its cells to exactly the cap
    // (kept), one group of 4 overfills every one of its cells (dropped),
    // the singletons stay. Driven over SimHash's 2-column chunk cells and
    // media's 6-column grid cells, with the drop set broadcast and with
    // the hint off; the drop-set and keep-set forms must agree.
    val cap = 3
    val atCap = Seq(0L, 1L, 2L)
    val overCap = Seq(3L, 4L, 5L, 6L)
    val singles = Seq(7L, 8L, 9L)
    // 4 × 15-bit chunks chosen so the three groups share no chunk value
    def fingerprint(chunks: Seq[Long]): Long =
      chunks.zipWithIndex.map { case (c, i) => c << (15 * i) }.sum
    val fp = (atCap.map(_ -> fingerprint(Seq(1, 2, 3, 4))) ++
      overCap.map(_ -> fingerprint(Seq(5, 6, 7, 8))) ++
      singles.map(i => i -> fingerprint(Seq(100 + i, 200 + i, 300 + i,
        400 + i)))).toDF("doc_id", "simhash")
    val chunks = DedupOps.simhashChunks(fp).localCheckpoint()
    // identical features per group; groups ≥ 0.05 apart per lane, far
    // outside one 0.008-wide grid cell
    def lanes(x: Double) = (x, x, x, x)
    val feats = (atCap.map(i => (i, "image", lanes(0.1))) ++
      overCap.map(i => (i, "image", lanes(0.5))) ++
      singles.map(i => (i, "image", lanes(0.05 * i))))
      .map { case (i, m, (a, b, c, d)) => (i, m, a, b, c, d) }
      .toDF("doc_id", "media_type", "f0", "f1", "f2", "f3")
    val grid = graft.operators.MultimodalOps.mediaFeatureBands(feats)
      .localCheckpoint()
    val cases = Seq(
      ("simhash", chunks, Seq("chunk_id", "chunk"), 4),
      ("media", grid, graft.operators.MultimodalOps.MEDIA_CELL_KEYS, 16))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id")).as[Long].collect().toSeq.sorted
    for (hint <- Seq("true", "false")) {
      spark.conf.set("graft.dropSetBroadcast", hint)
      try for ((name, rows, keys, perDoc) <- cases) {
        assert(keys.length === (if (name == "media") 6 else 2))
        val dropped = DedupOps.dropOverCap(rows, keys, cap)
        val kept = DedupOps.keepUnderCap(rows, keys, cap)
        def rowsOf(docs: Seq[Long]) = docs.flatMap(Seq.fill(perDoc)(_)).sorted
        assert(ids(dropped) === rowsOf(atCap ++ singles),
          s"$name drop-set, hint=$hint")
        assert(ids(kept) === rowsOf(atCap ++ singles),
          s"$name keep-set, hint=$hint")
        // at cap - 1 the at-cap cells are over too: only singletons stay
        assert(ids(DedupOps.dropOverCap(rows, keys, cap - 1)) ===
          rowsOf(singles))
        assert(ids(DedupOps.keepUnderCap(rows, keys, cap - 1)) ===
          rowsOf(singles))
        // the combined-population form counts `pop`, not `rows`
        val pop = Some(rows.unionByName(rows.where(col("doc_id") === 0L)))
        assert(ids(DedupOps.dropOverCap(rows, keys, cap, pop)) ===
          ids(DedupOps.keepUnderCap(rows, keys, cap, pop)))
        assert(!ids(DedupOps.dropOverCap(rows, keys, cap, pop))
          .contains(0L), s"$name: pop pushes the at-cap cells over")
      } finally spark.conf.unset("graft.dropSetBroadcast")
    }
  }

  test("split_leakage_safe: no near-dup pair straddles two splits") {
    // the operator's whole point: a minhash candidate pair split across
    // train and test leaks eval content into training. Verified against
    // the REAL pair graph on the fixture, plus the partition contract
    // split_assign guarantees (exhaustive: one row per document).
    import org.apache.spark.sql.functions.col
    val split = SparkEntry.queries("split_leakage_safe")(spark, sf)
      .localCheckpoint()
    val pairs = SparkEntry.queries("dedup_minhash")(spark, sf)
      .select(col("doc_a"), col("doc_b"))
    val straddle = pairs
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("sa")),
        "doc_a")
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("sb")),
        "doc_b")
      .where(col("sa") =!= col("sb"))
    assert(straddle.count() === 0L, "a near-dup pair straddles two splits")
    assert(split.count() === Tables.documents(spark, sf).count())
    assert(split.select("doc_id").distinct().count() === split.count())
  }

  test("componentsOf matches a driver union-find on generated graphs") {
    // min-label propagation must reach the exact connected-components fixed
    // point on arbitrary pair graphs — including long paths (multi-round
    // propagation) and singleton-free unions of chains/cliques
    val edges = ((0 until 60).map(i => (i.toLong, (i + 1).toLong)) ++ // path
      (100 until 110).flatMap(a => (a + 1 to 110).map(b => (a.toLong, b.toLong))) ++
      (0 until N).map { i => // pseudo-random sparse graph
        val a = (i * 2654435761L) % 300 + 200
        val b = (i * 40503L) % 300 + 200
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }).distinct
    // driver-side union-find ground truth
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => (n, find(n))).toMap
    val got = DedupOps.componentsOf(edges.toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === truth)
    // BOTH control planes must reach the same fixed point: the r21
    // adaptive split routes every in-cap graph (all fixtures) through
    // driver union-find, so the distributed label-propagation fallback
    // is driven explicitly here or nothing would cover it
    val gotDist = DedupOps.componentsOfDistributed(
        edges.toDF("doc_a", "doc_b").localCheckpoint())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotDist === truth)
  }

  test("componentsOf fails loudly instead of emitting a partial labeling") {
    // the iteration cap is a safety rail: a distributed run that hits it
    // must throw, never return half-propagated cluster labels as if
    // converged (driven on the distributed plane directly — the driver
    // union-find plane always converges, so the rail lives there alone)
    val longPath = (0 until 40).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      DedupOps.componentsOfDistributed(longPath.localCheckpoint(),
        maxIter = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("dedup_clusters is consistent with the dedup_minhash pairs (fixture)") {
    // every candidate pair must land in one cluster, and each cluster_rep
    // must be a member of its own cluster with rep == its own id
    val docs = graft.Tables.documents(spark, sf)
    val pairs = DedupOps.minhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = DedupOps.duplicateClusters(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(labels(a) === labels(b), s"pair ($a,$b) split across clusters")
    }
    labels.values.foreach(rep => assert(labels(rep) === rep))
    labels.foreach { case (id, rep) => assert(rep <= id) }
  }

  test("url canonicalization collapses surface variants, separates resources") {
    import spark.implicits._
    // every drift axis the canonicalizer claims to handle, hand-built
    val variants = Seq(
      "http://h3.example.com/d/12?a=5&b=3",
      "https://h3.example.com/d/12?a=5&b=3",          // scheme
      "http://www.h3.example.com/d/12?a=5&b=3",       // www
      "http://h3.example.com/d/12/?a=5&b=3",          // trailing slash
      "http://h3.example.com/d/12?b=3&a=5",           // param order
      "http://h3.example.com/d/12?a=5&b=3#frag",      // fragment
      "https://www.h3.example.com/d/12/?b=3&a=5")     // all axes stacked
    val distinct = Seq(
      "http://h4.example.com/d/12?a=5&b=3",           // other host
      "http://h3.example.com/d/13?a=5&b=3",           // other path
      "http://h3.example.com/d/12?a=6&b=3")           // other params
    val canon = (variants ++ distinct).toDF("url")
      .select(DedupOps.urlCanonCol(col("url")).as("c")).collect()
      .map(_.getString(0))
    assert(canon.take(variants.length).distinct.length === 1,
      s"variants did not collapse: ${canon.take(variants.length).toSeq}")
    assert((canon.drop(variants.length) :+ canon.head).distinct.length ===
      distinct.length + 1, "distinct resources collapsed")
    // and the fixture generator's 4 variants of one group collapse too,
    // while adjacent groups stay apart (the dedup_url keep-rate contract)
    val gen = spark.range(8).select(col("id").as("doc_id"))
      .select(col("doc_id"), DedupOps.urlGenExpr.as("url"))
      .select(col("doc_id"), DedupOps.urlCanonCol(col("url")).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(gen.filter(_._1 < 4).map(_._2).distinct.length === 1)
    assert(gen.filter(_._1 >= 4).map(_._2).distinct.length === 1)
    assert(gen.map(_._2).distinct.length === 2)
  }

  test("banded range join == naive interval join on generated intervals") {
    // irregular, partially OVERLAPPING intervals (a value can match
    // several) and band-aligned bounds — the cases the band replication
    // and residual filter must not mishandle
    // spans straddle zero (the negative domain is where a truncating
    // band cast on the bracket side loses matches) and bounds carry
    // sub-cent fractions (where any epsilon-under-hi band form imposes a
    // silent granularity precondition)
    val brackets = (0 until 40).map { i =>
      val lo = (i * 173 % 97) * 10.0 - 480.0 + (i % 3) * 0.003
      (i, lo, lo + 5.0 + (i * 37 % 11) * 25.0 + (i % 7) * 0.001)
    }.toDF("bracket_id", "lo", "hi")
    val probe = (0 until 500)
      .map(i => ((i * 2654435761L % 100000L) / 100.0) - 500.0)
      .toDF("price")
    val banded = graft.operators.RelationalOps
      .bandedRangeJoin(probe, brackets, w = 50.0)
      .select(col("bracket_id"), col("price"))
    val naive = probe.join(brackets,
        col("price") >= col("lo") && col("price") < col("hi"))
      .select(col("bracket_id"), col("price"))
    assert(naive.count() > 0L)
    assert(banded.exceptAll(naive).count() === 0L)
    assert(naive.exceptAll(banded).count() === 0L)
  }

  test("changelog struct-max == window compaction on ties (generated)") {
    // generated changelog with COLLIDING timestamps per key: the fixture's
    // event timestamps never tie, so this is where the unique-id
    // tie-break in max(struct(ts, id, payload…)) actually gets exercised
    val log = (0 until 300).map { i =>
      (i.toLong, (i % 20).toLong, ((i * 7) % 5).toLong, s"p$i")
    }.toDF("id", "key", "ts", "payload")
    val agg = log.groupBy(col("key"))
      .agg(max(struct(col("ts"), col("id"), col("payload"))).as("m"))
      .select(col("key"), col("m.ts").as("ts"), col("m.id").as("id"),
        col("m.payload").as("payload"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("ts").desc, col("id").desc)
    val win = log.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).select("key", "ts", "id", "payload")
    assert(agg.exceptAll(win).count() === 0L)
    assert(win.exceptAll(agg).count() === 0L)
  }

  test("covMatrix is partition-layout invariant (generated vectors)") {
    // sufficient-statistics folding must not depend on how rows land in
    // partitions: same vectors, different layouts, equal within float slop
    val pts = (0 until N).map(i => (i.toLong, vec(i, 1))).toDF("id", "v")
    val a = graft.operators.SimilarityOps.covMatrix(pts.repartition(7), DIMS)
    val b = graft.operators.SimilarityOps.covMatrix(pts.repartition(3), DIMS)
    assert(a.length === DIMS * DIMS)
    a.indices.foreach { k =>
      assert(math.abs(a(k) - b(k)) < 1e-12, s"cov[$k]: ${a(k)} vs ${b(k)}")
    }
  }

  test("power iteration recovers a planted dominant direction (2 steps)") {
    // spiked covariance: x_i = s_i·u + small noise ⇒ C ≈ E[s²]·uuᵀ. The
    // embed_pca query's 2 fixed steps must align with u when a real
    // spectral gap exists (the fixture's flat spectrum can't show this)
    val u0 = Array(1.0, 2.0, 3.0, 4.0, 5.0)
    val un = math.sqrt(u0.map(x => x * x).sum)
    val u = u0.map(_ / un)
    val pts = (0 until N).map { i =>
      val s = if (i % 2 == 0) 1.0 else -1.0
      val noise = vec(i, 2)
      (i.toLong, Seq.tabulate(DIMS)(j => s * u(j) + 0.1 * noise(j)))
    }.toDF("id", "v")
    val c = graft.operators.SimilarityOps.covMatrix(pts, DIMS)
    val (v, lambda) = graft.operators.SimilarityOps.powerIterate(c, DIMS, 2)
    val align = math.abs(v.zip(u).map { case (a, b) => a * b }.sum)
    assert(align > 0.9, s"planted direction not recovered: |cos|=$align")
    assert(lambda > 0.5, s"spike eigenvalue too small: $lambda")
  }

  test("incremental dedup drops base collisions and within-delta dups") {
    // constructed corpora exercising BOTH drop paths the fixture lacks
    // below sf0.1: delta texts colliding with the base index, and
    // duplicate texts inside the delta itself
    val base = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, "alpha"), // base collision -> dropped
      (11L, "delta"), (12L, "delta"), // within-delta dup -> min id survives
      (13L, "beta"), // base collision -> dropped
      (14L, "epsilon")) // fresh -> survives
      .toDF("doc_id", "text")
    val got = graft.operators.DedupOps
      .incrementalSurvivors(base, delta)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(11L, 14L))
  }

  test("paragraph dedup: first global occurrence wins on shared blocks") {
    // constructed shared-paragraph corpus (the fixture's duplicated
    // blocks are incidental; this pins the semantics): paragraphs are
    // exact 10-word blocks A/B/C plus a ragged 3-word tail T. Doc 1
    // carries A B, doc 2 B C, doc 3 A B again, doc 4 C T, doc 5 A A
    // (within-doc repeat — BOTH copies lose to doc 1's A).
    def para(tag: String): String =
      (1 to 10).map(k => s"$tag$k").mkString(" ")
    val (a, b, c) = (para("a"), para("b"), para("c"))
    val docs = Seq(
      (1L, s"$a $b"), (2L, s"$b $c"), (3L, s"$a $b"),
      (4L, s"$c t1 t2 t3"), (5L, s"$a $a")).toDF("doc_id", "text")
    val audit = DedupOps.paragraphAudit(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getBoolean(3)))
      .toMap
    val expect = Map(
      (1L, 0) -> (10, true), (1L, 1) -> (10, true),   // A, B first
      (2L, 0) -> (10, false), (2L, 1) -> (10, true),  // B dup, C first
      (3L, 0) -> (10, false), (3L, 1) -> (10, false), // A, B dups
      (4L, 0) -> (10, false), (4L, 1) -> (3, true),   // C dup, tail first
      (5L, 0) -> (10, false), (5L, 1) -> (10, false)) // both lose to doc 1
    assert(audit === expect)
    val apply = DedupOps.paragraphApply(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3),
        r.getString(4))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(apply(1L) === (2L, 2L, (s"$a $b").length, md5hex(s"$a $b")))
    assert(apply(2L) === (2L, 1L, c.length, md5hex(c)))
    assert(apply(3L) === (2L, 0L, 0, md5hex("")))
    assert(apply(4L) === (2L, 1L, "t1 t2 t3".length, md5hex("t1 t2 t3")))
    assert(apply(5L) === (2L, 0L, 0, md5hex("")))
  }

  test("source_overlap: hand-computed matrix on a constructed corpus") {
    // text x straddles sources A and B (off-diagonal, both directions);
    // text y is duplicated WITHIN A (diagonal, both copies count); text
    // z is a singleton (must not appear); source C has no dups at all
    // (absent from the matrix entirely)
    val docs = Seq(
      (1L, "A", "x"), (2L, "B", "x"), (3L, "A", "y"), (4L, "A", "y"),
      (5L, "C", "z")).toDF("doc_id", "source", "text")
    val got = DedupOps.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got === Map(
      ("A", "B") -> (3L, 1L, 333333L),
      ("B", "A") -> (1L, 1L, 1000000L),
      ("A", "A") -> (3L, 2L, 666666L)))
  }

  test("paragraph incremental: both drop paths and the attribution priority") {
    // constructed base/delta corpus exercising every stage AND the
    // priority rule: a delta block that is both a within-delta dup and
    // a base collision must attribute 'delta' (the within-delta
    // collapse fires first — the embedding form's rule). unitUniform
    // splits on doc_id, so ids are chosen by measuring the split:
    // u(doc) < 0.7 = base. Paragraphs are exact 10-word blocks.
    def para(tag: String): String =
      (1 to 10).map(k => s"$tag$k").mkString(" ")
    val (a, b, c) = (para("a"), para("b"), para("c"))
    def uD(i: Long): Double =
      ((i * 2654435761L) % 4294967296L + 0.5) / 4294967296.0
    val ids = (1L to 40L).map(i => i -> (uD(i) < 0.7))
    val baseId = ids.find(_._2).get._1
    val Seq(d1, d2) = ids.filter(!_._2).take(2).map(_._1)
    assert(d1 < d2)
    val docs = Seq(
      (baseId, a),          // base: carries A
      (d1, s"$a $b"),       // delta: A collides with base, B fresh
      (d2, s"$a $c"))       // delta: A is ALSO a delta dup of (d1,0)
      .toDF("doc_id", "text")
    val got = DedupOps.paragraphIncremental(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getString(3), r.getBoolean(4))).toMap
    // d1's A: first in delta but in base -> 'base'; B fresh -> kept
    assert(got((d1, 0)) === (("base", false)))
    assert(got((d1, 1)) === (("kept", true)))
    // d2's A: within-delta dup AND base collision -> 'delta' wins
    assert(got((d2, 0)) === (("delta", false)))
    assert(got((d2, 1)) === (("kept", true)))
    // base docs never appear in the delta audit
    assert(!got.keySet.exists(_._1 == baseId))
  }

  test("embedding incremental: both drop paths and the attribution priority") {
    // constructed base/delta exercising what the fixture lacks: a
    // within-delta duplicate pair, a delta doc matching BOTH a standing
    // vector and a lower-id delta twin (must attribute 'delta' — the
    // within-delta collapse fires first), and a fresh arrival.
    // Orthonormal basis vectors: identical pairs share every sign bucket
    // (guaranteed candidates, cos 1), distinct pairs verify at cos 0.
    def e(i: Int): Seq[Double] =
      Seq.tabulate(64)(j => if (j == i) 1.0 else 0.0)
    val base = Seq((0L, e(0)), (1L, e(1)), (2L, e(2))).toDF("id", "v")
    val delta = Seq(
      (10L, e(0)), // re-crawl of base 0            -> 'base'
      (11L, e(2)), // matches base 2, no lower twin -> 'base'
      (12L, e(2)), // matches base 2 AND delta 11   -> 'delta' (priority)
      (14L, e(3))) // fresh                         -> 'kept'
      .toDF("id", "v")
    val got = graft.operators.SimilarityOps
      .dedupEmbIncrementalOf(base, delta)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(got === Map(
      10L -> ((false, "base")),
      11L -> ((false, "base")),
      12L -> ((false, "delta")),
      14L -> ((true, "kept"))))
  }

  test("mediaPairsOf == brute-force L-inf pairs on generated feature clouds") {
    // the banding-completeness claim, checked exhaustively: on a dense
    // deterministic cloud (many pairs straddling grid boundaries at every
    // offset), the banded pair set must equal the all-pairs scan's —
    // completeness is the two-offset-grid theorem, soundness the exact
    // verify. Features cluster at ~2.5·eps spacing so hits, misses, and
    // boundary cases all occur in volume.
    import graft.operators.MultimodalOps
    val eps = MultimodalOps.MEDIA_EPS
    val rows = (0 until 150).map { i =>
      def f(s: Int): Double = {
        // the repo's multiplicative-hash uniform, driver-side
        val u = (Math.floorMod((i * 7 + s) * 2654435761L, 4294967296L)
          + 0.5) / 4294967296.0
        0.3 + math.floor(u * 40) * (eps * 0.4)
      }
      (i.toLong, if (i % 2 == 0) "image" else "video", 64 + i, 64,
        f(1), f(2), f(3), f(4))
    }
    val feats = rows.toDF("doc_id", "media_type", "width", "height",
      "f0", "f1", "f2", "f3")
    val got = MultimodalOps.mediaPairsOf(feats)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      a <- rows; b <- rows if a._1 < b._1 && a._2 == b._2
      linf = Seq(a._5 - b._5, a._6 - b._6, a._7 - b._7, a._8 - b._8)
        .map(math.abs).max if linf < eps
    } yield (a._1, b._1)).toSet
    assert(got === expected,
      s"banded=${got.size} brute=${expected.size}; " +
        s"missed=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(expected.nonEmpty, "degenerate case generator: no pairs at all")
  }

  test("pipeline substring stage audits SURVIVORS, not the raw corpus") {
    // the composition claim worth proving: the pipeline runs the
    // substring removal AFTER the quality floor and exact dedup, so a doc
    // whose only duplicate partner is quality-eliminated must be KEPT by
    // the pipeline while the standalone (raw-corpus) pass drops it.
    // Constructed corpus (L = 12, drop rule dup·2 > spans·1):
    //  - doc 40 = P(60 short words) ++ Q(30 ten-char words): 90 words →
    //    79 windows, 49 inside the P prefix; quality ≈ 0.63 (passes)
    //  - doc 41 = P alone: quality = 0.5·0.6 + 0.3·0.4 = 0.42 (FAILS the
    //    0.45 floor) — the only other carrier of P's windows
    //  - doc 51 = R(200 five-char words): quality 0.65; 189 windows
    //  - doc 50 = R's first 72 words: quality 0.51; 61 windows, ALL
    //    shared with doc 51 → dropped by BOTH passes (lifted text that
    //    genuinely recurs among survivors)
    val p = (1 to 60).map(i => f"p$i%03d")
    val q = (1 to 30).map(i => f"q$i%09d")
    val r = (1 to 200).map(i => f"r$i%04d")
    def doc(id: Long, words: Seq[String]) =
      (id, words.mkString(" "), "en", "crafted", words.mkString(" ").length.toLong)
    val dir = "target/pipeline-substr-spec"
    graft.sources.Staging.deleteRecursively(java.nio.file.Paths.get(dir))
    Seq(doc(40L, p ++ q), doc(41L, p), doc(50L, r.take(72)), doc(51L, r))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // standalone raw-corpus pass: doc 40's 49 P-windows are duplicated by
    // doc 41 (98 > 79 → drop); only doc 51 survives the threshold
    val standalone = SparkEntry.queries("dedup_substring_apply")(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(standalone === Set(51L), s"standalone kept $standalone")
    // pipeline: doc 41 falls at the quality floor, P's windows become
    // unique among survivors, doc 40 is rescued; doc 50 still drops
    val curated = SparkEntry.queries("pipeline_curate")(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(curated === Set(40L, 51L), s"pipeline curated $curated")
    // the funnel counts each stage's bite: raw 4 → quality 3 → dedup 3 →
    // substring 2 → decontam 2
    val funnel = SparkEntry.queries("pipeline_report")(spark, dir)
      .collect().map(rr => (rr.getInt(0), rr.getLong(2))).sortBy(_._1)
    assert(funnel.map(_._2).toSeq === Seq(4L, 3L, 3L, 2L, 2L),
      s"funnel ${funnel.toSeq}")
  }

  test("substringAudit counts lifted and self-repeated spans exactly") {
    // constructed corpus with known window arithmetic (L = 12):
    //  - doc 0: 12 distinct words -> exactly 1 window, duplicated into
    //    doc 1's tail (cross-doc lift)
    //  - doc 1: 23 words = doc 0's 12-gram + 11 fresh -> 12 windows, of
    //    which only the LAST is doc 0's window (the 11 stragglers mix)
    //  - doc 2: the same word 23 times -> 12 windows, ALL identical
    //    (within-doc repetition: every span duplicated)
    //  - doc 3: 11 words -> no windows, absent from the audit
    //  - doc 4: 12 fresh distinct words -> 1 window, clean
    val w0 = (0 until 12).map(i => s"w$i").mkString(" ")
    val fresh = (0 until 11).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (0L, w0),
      (1L, s"$fresh $w0"),
      (2L, Seq.fill(23)("rep").mkString(" ")),
      (3L, (0 until 11).map(i => s"s$i").mkString(" ")),
      (4L, (0 until 12).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.operators.DedupOps.substringAudit(docs)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap
    assert(got === Map(
      0L -> ((1L, 1L)),   // its only window is lifted into doc 1
      1L -> ((12L, 1L)),  // 23-11 windows; only the tail window collides
      2L -> ((12L, 12L)), // all windows are the same repeated span
      4L -> ((1L, 0L))))  // clean doc, zero dup spans; doc 3 absent

    // the removal pass over the same corpus (threshold 1/2, integer
    // cross-product): doc 0 (1/1 dup) and doc 2 (12/12) cross it and
    // drop; doc 1 (1/12) and doc 4 (0/1) stay; windowless doc 3 is
    // REINSTATED with a zeroed audit — absent from the audit is not
    // evidence of duplication
    val kept = graft.operators.DedupOps.substringApply(docs)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap
    assert(kept === Map(
      1L -> ((12L, 1L)),
      3L -> ((0L, 0L)),
      4L -> ((1L, 0L))))
  }

  test("substring excise: duplicated spans removed, unique text kept") {
    // constructed overlapping-span corpus at SUBSTR_L=12: the shared
    // 12-word span S appears in docs A (prefix), B (offset 2), and C
    // (twice, back to back); the shared span T appears in E (after S
    // with a 1-word gap) and F. Exercises: coverage at both ends of a
    // doc, the word exactly BETWEEN two duplicated spans surviving
    // (frame boundary), within-doc repetition excising everything, and
    // a <L-word doc (no windows) passing through untouched.
    def span(tag: String): String =
      (1 to 12).map(k => s"$tag$k").mkString(" ")
    val (sS, sT) = (span("s"), span("t"))
    val docs = Seq(
      (1L, s"$sS a1 a2 a3"),       // A: S covers 0-11, kept a1 a2 a3
      (2L, s"b1 b2 $sS"),          // B: S at 2 covers 2-13, kept b1 b2
      (3L, s"$sS $sS"),            // C: starts 0+12 cover all 24 words
      (4L, "d1 d2 d3 d4 d5"),      // D: <12 words, no windows, all kept
      (5L, s"$sS e1 $sT"),         // E: covers 0-11 and 13-24, kept e1
      (6L, s"$sT f1"))             // F: T covers 0-11, kept f1
      .toDF("doc_id", "text")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = graft.operators.DedupOps.substringExcise(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3), r.getString(4)))).toMap
    assert(got === Map(
      1L -> ((15L, 3L, "a1 a2 a3".length, md5hex("a1 a2 a3"))),
      2L -> ((14L, 2L, "b1 b2".length, md5hex("b1 b2"))),
      3L -> ((24L, 0L, 0, md5hex(""))),
      4L -> ((5L, 5L, "d1 d2 d3 d4 d5".length, md5hex("d1 d2 d3 d4 d5"))),
      5L -> ((25L, 1L, "e1".length, md5hex("e1"))),
      6L -> ((13L, 1L, "f1".length, md5hex("f1")))))
  }

  test("incremental NEAR-dup drops base collisions and collapses the delta") {
    // the minhash twin: identical texts guarantee identical signatures,
    // hence band collisions — exercising (a) the base-index probe drop,
    // (b) the within-delta component collapse to the min id, (c) the
    // bandless (<3 words) pass-through, (d) fresh docs surviving
    val D = graft.operators.DedupOps
    val base = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // base hit -> dropped
      (11L, "red orange yellow green blue indigo"), // delta dup cluster...
      (12L, "red orange yellow green blue indigo"), // ...min id 11 survives
      (13L, "red orange yellow green blue indigo"), // ...dropped
      (14L, "tiny doc"), // <3 words: bandless, passes through
      (15L, "completely fresh unseen document text here")) // survives
      .toDF("doc_id", "text")
    val got = D.incrementalNearDupSurvivors(base.union(delta),
        col("doc_id") <= 2)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(11L, 14L, 15L))
    // cap discipline holds across the split: an over-cap cell (identical
    // corpus spanning base and delta) generates NO candidates — every
    // delta doc passes the near-dup stage (exact dedup owns that corpus)
    val text = "same words in every single document here"
    val bigBase = (0 until 600).map(i => (i.toLong, text))
      .toDF("doc_id", "text")
    val bigDelta = (1000 until 1600).map(i => (i.toLong, text))
      .toDF("doc_id", "text")
    assert(D.incrementalNearDupSurvivors(bigBase.union(bigDelta),
      col("doc_id") < 1000).count() === 600L)
  }

  test("CosineSim/SignBucket yield null, not an error, on short vectors") {
    // the dimension guard: malformed (mixed-dimension) embeddings must
    // produce a filterable null instead of failing the whole query
    val planes = graft.operators.SimilarityOps.planes(DIMS, 4, table = 0)
    val rows = Seq(
      (Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)), // mismatched pair
      (Seq(1.0, 2.0, 3.0, 4.0, 5.0), Seq(5.0, 4.0, 3.0, 2.0, 1.0)))
      .toDF("a", "b")
    val got = rows.select(
        org.apache.spark.sql.graft.CosineSim.column(col("a"), col("b")).as("c"),
        graft.operators.SimilarityOps.bucketCol(col("a"), DIMS, 4, 0).as("bkt"))
      .collect()
    assert(got(0).isNullAt(0) && got(0).isNullAt(1)) // 2-dim vec vs 5-dim planes
    assert(!got(1).isNullAt(0) && !got(1).isNullAt(1))
  }

  test("dedup_cascade ordering unlocks near-dups behind a hot LSH cell") {
    // the cascade's load-bearing claim: exact dedup FIRST brings a cell
    // that clones made hot back under the band cap, so the near-dup the
    // cell hid becomes findable — LSH run before exact dedup is blind to
    // it. Constructed corpus: BAND_CAP+1 identical clones of A plus one
    // near-dup B (one word changed). Identical texts band identically, so
    // every A-cell holds ≥ cap+1 members and B's only partners are the
    // clones.
    val cap = DedupOps.BAND_CAP
    val a = ("the quick brown fox jumps over the lazy dog while the " +
      "storm rolls across the wide open plain and the river bends south")
    val b = a.replace("river", "valley")
    val docs = ((0 to cap).map(i => (i.toLong, a)) :+ ((cap + 1).toLong, b))
      .toDF("doc_id", "text")
    // precondition: A and B genuinely band-collide when cells are cool
    val pairAB = DedupOps.minhashPairs(
      Seq((0L, a), (1L, b)).toDF("doc_id", "text")).count()
    assert(pairAB === 1L, "fixture texts must band-collide — retune B")
    // blind order: banding the full corpus first finds NOTHING (every
    // cell over cap)
    assert(DedupOps.minhashPairs(docs).count() === 0L)
    // cascade order, reconstructed from the query's own helpers: exact
    // survivors = {0, B}; survivor banding pairs them; B drops 'minhash'
    import org.apache.spark.sql.functions.min
    val kept1 = docs.groupBy(DedupOps.digest(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val surv = docs.join(kept1, Seq("doc_id"), "left_semi")
    val pairs = DedupOps.minhashPairs(surv).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, (cap + 1).toLong)),
      "survivor-banding must surface the (rep, near-dup) pair")
  }

  test("repetition_strip drops repeated-span docs, keeps distinct and short ones") {
    // constructed corpus: a boilerplate span repeated 20x (rep ≈ 0.95),
    // a smaller 3x span repeat (rep = 1 - 3/7 ≈ 0.57), an all-distinct
    // doc (rep = 0), a sub-3-word doc (no 3-grams — passes by the
    // windowless-reinstatement rule), and an empty doc
    val docs = Seq(
      (1L, Seq.fill(20)("the cat sat").mkString(" ")),
      (2L, "x y z x y z x y z"),
      (3L, (0 until 60).map(i => s"w$i").mkString(" ")),
      (4L, "tiny doc"),
      (5L, "")).toDF("doc_id", "text")
    val got = graft.operators.TextOps.repetitionStripOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet === Set(3L, 4L, 5L),
      s"survivors ${got.keySet}: both span-repeat docs must be dropped")
    assert(got(3L).getAs[Double]("rep_ratio") === 0.0)
    assert(got(3L).getAs[Int]("n_tokens") === 60)
    assert(got(3L).getAs[Int]("n_tok_dedup") === 60,
      "an all-distinct doc strips nothing")
    assert(got(4L).getAs[Int]("n_3grams") === 0)
    assert(got(5L).getAs[Int]("n_tokens") === 0)
    // and the gate agrees with filter_report's r_rep rule on the corpus
    // (shared REP_TAU): a doc passes here iff n3 = 0 or rep < tau
    assert(graft.operators.TextOps.REP_TAU === 0.05)
  }

  test("the two BPE trainers agree on generated corpora (loop shapes differ, " +
      "semantics must not)") {
    // The one trainer (bpeMerges) is fed two ways: the split-on-space
    // families build their histogram from a corpus (wordHistogram —
    // bpe_train/_bytes/_unicode/_utf8) and mint U+E1xx symbols; the
    // regex family hands it a pre-built histogram and mints U+E2xx with
    // the skip-on-exhaustion rule (bpe_train_regex). Both claim the same
    // textbook semantics: overlap-counted within-word pairs weighted by
    // frequency, (count DESC, pair ASC) argmax, left-to-right
    // non-overlapping rewrite. This pins the two feeds to each other on
    // generated corpora — a drift in the histogram build or either
    // family's settings breaks equality here before it surfaces as an
    // unexplained oracle mismatch (the distributed fallback is pinned
    // against the driver plane in the dedicated dual-plane test below).
    // The minted alphabets differ by design, so pairs compare through a
    // symbol-index normalization.
    import graft.operators.TextOps
    val alphas = "abcde"
    def word(i: Int, c: Int): String = {
      val len = 2 + ((i * 2654435761L + c * 69069L) % 5L).toInt
      (0 until len).map { j =>
        alphas(((i * 40503L + c * 97L + j * 131L) % alphas.length).toInt)
      }.mkString
    }
    for (c <- 0 until 6) {
      val words = (0 until 12).map(i => (word(i, c), 1L + (i % 3)))
      val docs = words.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
      val steps = 6
      val dist = TextOps.bpeMerges(
        TextOps.wordHistogram(Seq(docs.mkString(" ")).toDF("t")), steps,
        TextOps.learnedSym, skipEmptyTrips = false)
      // histogram equivalent of the same corpus (len>=2 filter matches)
      val hist = words.groupBy(_._1).view.mapValues(_.map(_._2).sum)
        .toSeq.filter(_._1.length >= 2)
      val mem = TextOps.bpeMerges(hist.toDF("w", "freq"), steps,
        TextOps.regexSym, skipEmptyTrips = true)
      def norm(sym0: Int)(p: String): String = p.map { ch =>
        if (ch >= 0xE000.toChar) ('A' + (ch - sym0)).toChar else ch
      }
      assert(dist.length === mem.length, s"case $c: step counts diverged")
      dist.zip(mem).foreach { case ((k1, p1, n1), (k2, p2, n2)) =>
        assert(k1 === k2 && n1 === n2 &&
          norm(0xE101)(p1) === norm(0xE201)(p2),
          s"case $c step $k1: ($p1, $n1) vs ($p2, $n2)")
      }
    }
  }

  test("bpeMergesDistributed agrees with the driver merge plane " +
      "(the over-cap fallback is the only plane that runs at scale)") {
    // bpeMerges' adaptive split routes every in-cap histogram (all
    // fixtures AND every generated test corpus) through bpeMergesDriver,
    // so the distributed per-trip loop must be driven DIRECTLY or its
    // argmax / tie-break / rewrite semantics lose all coverage (the r21
    // gap: the dual-plane test above silently became driver-vs-driver).
    // Same discipline as componentsOfDistributed's explicit test.
    import graft.operators.TextOps
    val alphas = "abcde"
    def word(i: Int, c: Int): String = {
      val len = 4 + ((i * 2654435761L + c * 69069L) % 3L).toInt
      (0 until len).map { j =>
        alphas(((i * 48271L + c * 101L + j * 137L) % alphas.length).toInt)
      }.mkString
    }
    // (histogram, steps) — steps chosen so every trip still has a pair
    // (a pair-less trip fails loudly in BOTH planes by contract)
    val cases: Seq[(IndexedSeq[(String, Long)], Int)] =
      // generated corpora (the agreement test's shape; words of 4-6
      // symbols keep 3 trips pair-rich)
      (0 until 4).map { c =>
        ((0 until 12).map(i => (word(i, c), 1L + (i % 3)))
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toIndexedSeq
          .filter(_._1.length >= 2).sortBy(_._1), 3)
      } ++ Seq(
        // exact count tie: both planes must break on pair ASC ("ab")
        (IndexedSeq(("ab", 2L), ("cd", 2L)), 2),
        // off-BMP codepoints: cpLess (UTF-8 byte order) vs a UTF-16
        // compareTo would diverge here — astral pairs tie-break against
        // private-use BMP symbols
        (IndexedSeq(("😀😁", 3L), ("", 3L),
          ("a😀a", 2L)), 3))
    for (((hist, steps), ci) <- cases.zipWithIndex) {
      val histDf = hist.toDF("w", "freq").localCheckpoint()
      val dist = TextOps.bpeMergesDistributed(histDf, steps,
        TextOps.learnedSym, skipEmptyTrips = false)
      val drv = TextOps.bpeMergesDriver(hist, steps, TextOps.learnedSym,
        skipEmptyTrips = false)
      assert(dist === drv, s"case $ci: distributed $dist vs driver $drv")
    }
  }

  test("componentsOf routes non-integral ids through the distributed " +
      "plane (driver union-find admission is dtype-gated)") {
    // the driver plane's admission probe casts ids to long and reads
    // getLong — string ids would cast to null and NPE. The dtype gate
    // must route such graphs to label propagation, which computes the
    // same component-min fixed point under string ordering.
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("q", "q"))
      .toDF("doc_a", "doc_b")
    val got = DedupOps.componentsOf(edges)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "q" -> "q"))
  }
}
