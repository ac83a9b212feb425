package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media payloads ride as opaque `binary`
  * columns with typed metadata; decode/feature-extract runs as a typed
  * `mapPartitions` stage (the Scala analogue of a batched decode UDF —
  * one codec init per partition, streaming iterator, no per-row setup).
  *
  * The decode itself is a clearly-marked deterministic STUB — image/audio
  * codec libraries are not in this container — but the Spark-side plumbing
  * (schema, binary payload, partitioning, batch shape, feature fan-out)
  * is real and tested. Swapping `StubCodec.decode` for a real decoder is
  * the only change needed.
  */
object MultimodalOps {

  /** An ingested media row: payload is an opaque byte blob. */
  case class MediaRecord(doc_id: Long, media_type: String,
      payload: Array[Byte], source: String)

  /** Decoded, feature-extracted output. */
  case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Int,
      width: Int, height: Int, f0: Double, f1: Double, f2: Double, f3: Double)

  /** STUB decoder: a real implementation would decode the payload with an
    * image/audio codec; this deterministic fake derives "dimensions" and a
    * 4-dim feature vector from the bytes so the pipeline shape is testable
    * end-to-end — and every formula is plain integer/double arithmetic so
    * the DuckDB oracle reproduces the whole output bit-for-bit (a wrapping
    * 64-bit rolling hash here would be unverifiable in SQL, which is why
    * the dimensions derive from (length, first byte, last byte) instead). */
  object StubCodec {
    def decode(r: MediaRecord): MediaFeatures = {
      val bytes = r.payload
      val n = bytes.length
      var s0, s1, s2, s3 = 0.0
      var i = 0
      while (i < n) {
        val b = bytes(i) & 0xff
        (i & 3) match {
          case 0 => s0 += b
          case 1 => s1 += b
          case 2 => s2 += b
          case 3 => s3 += b
        }
        i += 1
      }
      val first = if (n > 0) bytes(0) & 0xff else 0
      val last = if (n > 0) bytes(n - 1) & 0xff else 0
      val width = 64 + (31 * n + first) % 512
      val height = 64 + (17 * n + last) % 512
      def norm(s: Double) = if (n == 0) 0.0 else s / (64.0 * n)
      MediaFeatures(r.doc_id, r.media_type, n, width, height,
        norm(s0), norm(s1), norm(s2), norm(s3))
    }
  }

  /** Build the media table from documents: utf-8 payload bytes + a media
    * type cycled by id (the container has no real media files; the binary
    * column plumbing is what's under test). */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("payload"),
        col("source"))
      .as[MediaRecord]
  }

  /** The decode stage: typed mapPartitions — batch-shaped, partition-local,
    * no driver involvement. At scale, `repartition` by a size-balanced key
    * before this stage if payload sizes are skewed. */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(StubCodec.decode))
  }

  /** Resize plan of a decoded visual payload: fit the (stub-decoded)
    * dimensions into a [[MAX_DIM]]² box preserving aspect ratio. Pure
    * integer arithmetic (floor division on positive dims — identical in
    * Scala and DuckDB `//`), so the whole stage oracle-replays. A real
    * pipeline swaps the out_bytes estimate for the actual resampled
    * payload; the shape (typed per-row plan emitted by a partition-local
    * stage, no shuffle) is the production one. */
  case class MediaResize(doc_id: Long, media_type: String, width: Int,
      height: Int, out_w: Int, out_h: Int, out_bytes: Long)
  private[graft] val MAX_DIM = 256
  def resizePlan(f: MediaFeatures): MediaResize = {
    val m = math.max(f.width, f.height)
    val (ow, oh) =
      if (m <= MAX_DIM) (f.width, f.height)
      else (math.max(1, f.width * MAX_DIM / m),
        math.max(1, f.height * MAX_DIM / m))
    MediaResize(f.doc_id, f.media_type, f.width, f.height, ow, oh,
      3L * ow * oh)
  }

  /** Frame sampling of a (stub-decoded) video stream: every `step`-th
    * frame, at most [[MAX_FRAMES]] per video, with the frame timestamp in
    * integer milliseconds at [[FPS]]. The fake frame count derives from
    * the payload size; the fan-out shape (per-row iterator flatMap inside
    * one partition-local stage — the batched frame-grab of a real
    * decoder) is what's under test. */
  case class MediaFrame(doc_id: Long, frame_idx: Int, ts_ms: Long)
  private[graft] val FPS = 24
  private[graft] val MAX_FRAMES = 8
  def sampleFrames(f: MediaFeatures): Iterator[MediaFrame] = {
    val nFrames = 1 + f.n_bytes % 240
    val step = math.max(1, nFrames / MAX_FRAMES)
    (0 until nFrames by step).take(MAX_FRAMES).iterator
      .map(i => MediaFrame(f.doc_id, i, i * 1000L / FPS))
  }

  // --- dedup_media: bucketed near-dup over the decoded feature vectors ---
  // Verify threshold: two same-modality media rows are near-dups when the
  // L-infinity distance of their 4-lane stub feature vectors is < MEDIA_EPS
  // (strict — the completeness proof below needs it). MEDIA_GRID is the
  // band-cell width = 2×eps; both constants appear as the SAME decimal
  // literals in the DuckDB oracle so the parsed doubles are bit-identical.
  private[graft] val MEDIA_EPS = 0.004
  private[graft] val MEDIA_GRID = 0.008
  private[graft] val MEDIA_CELL_CAP = 256
  private val MEDIA_LANES = 4
  /** The band cell of [[mediaFeatureBands]]: modality, offset combo and
    * the four quantized lanes. */
  private[graft] val MEDIA_CELL_KEYS: Seq[String] =
    "media_type" +: "combo" +: (0 until MEDIA_LANES).map(i => s"c$i")

  /** Two-offset grid bands of the decoded feature relation: for each of the
    * 2^4 per-lane offset choices (offset 0 or eps), quantize every lane to
    * `floor((f + off) / (2*eps))` and emit one band row keyed by
    * (media_type, combo, c0..c3). COMPLETE candidate generation for the
    * strict L∞ < eps verify: per lane, an interval shorter than eps cannot
    * cross a boundary of BOTH the unshifted and the eps-shifted grid
    * (their boundaries alternate eps apart), so some per-lane grid choice
    * cells both endpoints together — and that choice is one of the 16
    * combos. 16 narrow (long-keyed) band rows per doc, vs the all-pairs
    * join a naive near-dup would need: the 100 TB shape is
    * explode(16×) → capped cell self-join, never corpus × corpus. */
  private[graft] def mediaFeatureBands(feats: DataFrame): DataFrame = {
    val combos = array((0 until (1 << MEDIA_LANES)).map { m =>
      struct((0 until MEDIA_LANES).map { i =>
        val off = if (((m >> i) & 1) == 1) MEDIA_EPS else 0.0
        floor((col(s"f$i") + lit(off)) / lit(MEDIA_GRID))
          .cast("long").as(s"c$i")
      }: _*)
    }: _*)
    feats
      .select(col("doc_id"), col("media_type"),
        posexplode(combos).as(Seq("combo", "cell")))
      .select(col("doc_id") +: col("media_type") +: col("combo") +:
        (0 until MEDIA_LANES).map(i => col(s"cell.c$i").as(s"c$i")): _*)
  }

  /** Bare (`id+tag1`, `id+tag2`) pairs of the media rows sharing a cell. */
  private def mediaCellPairs(cells: DataFrame, id: String,
      tags: (String, String)): DataFrame =
    DedupOps.cellPairs(MEDIA_CELL_KEYS, id, tags)(t =>
      cells.select(col("doc_id").as(id + t) +: MEDIA_CELL_KEYS.map(col): _*))
      .select(col(id + tags._1), col(id + tags._2)).distinct()

  /** `dedup_media`'s body: decode → 16-combo grid bands → population-capped
    * cell self-join ([[DedupOps.dropOverCap]], [[DedupOps.cellPairs]]) →
    * bare-id candidate pairs → feature rejoin →
    * exact L∞ verify. Pairs carry the modality, the verified distance, and
    * whether the (stub-decoded) dimensions agree — a real image pipeline
    * keeps the higher-resolution member of a near-dup pair, so the dims
    * signal rides along rather than gating the match (two resolutions of
    * one image ARE near-dups). localCheckpoint, not cache: feats feeds the
    * band explode and both verify sides, and an eager checkpoint's blocks
    * die with the plan (the simhashPairs discipline). */
  private[graft] def mediaPairs(s: SparkSession, d: String): DataFrame =
    mediaPairsOf(decodeFeatures(mediaTable(s, d)).toDF()
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        col("f0"), col("f1"), col("f2"), col("f3")))

  /** The banded pair core over any (doc_id, media_type, width, height,
    * f0..f3) relation — factored (like the dedup family's `*Pairs`
    * helpers) so the spec can drive it with synthetic feature vectors. */
  private[graft] def mediaPairsOf(feats0: DataFrame): DataFrame =
    mediaPairsPinned(feats0.localCheckpoint())

  /** Pair core over an ALREADY-PINNED feature relation — split out so
    * [[mediaApplyOf]], which pins feats for its own argmax/reinstate
    * joins too, does not materialize the decode output twice. */
  private def mediaPairsPinned(feats: DataFrame): DataFrame = {
    val capped = DedupOps.dropOverCap(mediaFeatureBands(feats),
      MEDIA_CELL_KEYS, MEDIA_CELL_CAP)
    // bare id pairs through the distinct — 2 longs, not 2×(4 doubles+dims)
    val cand = mediaCellPairs(capped, "doc_", ("a", "b"))
    val fa = feats.select(col("doc_id").as("doc_a"), col("media_type"),
      col("width").as("wa"), col("height").as("ha"),
      col("f0").as("fa0"), col("f1").as("fa1"),
      col("f2").as("fa2"), col("f3").as("fa3"))
    val fb = feats.select(col("doc_id").as("doc_b"),
      col("width").as("wb"), col("height").as("hb"),
      col("f0").as("fb0"), col("f1").as("fb1"),
      col("f2").as("fb2"), col("f3").as("fb3"))
    val linf = greatest((0 until MEDIA_LANES).map(i =>
      abs(col(s"fa$i") - col(s"fb$i"))): _*)
    cand.join(fa, "doc_a").join(fb, "doc_b")
      .withColumn("linf", linf)
      .where(col("linf") < lit(MEDIA_EPS))
      .select(col("doc_a"), col("doc_b"), col("media_type"),
        graft.functions.VectorOps.rIeee(col("linf"), 6).as("dist"),
        (col("wa") === col("wb") && col("ha") === col("hb"))
          .cast("int").as("same_dims"))
  }
  // NOTE: sort-free on purpose (the minhashPairs factoring): the
  // presentation orderBy lives in the dedup_media query, so the apply
  // path's component propagation never materializes a global sort its
  // fixed point cannot use.

  /** `dedup_media_apply`: the keep set the media near-dup pass feeds a
    * curation pipeline — per near-dup CLUSTER (connected components over
    * the banded pair graph, the dedup family's [[DedupOps.componentsOf]]
    * fixed point) keep the HIGHEST-RESOLUTION member, ties to the lowest
    * doc_id; docs in no pair keep themselves. This is the visual twin of
    * `dedup_substring_apply`'s audit→removal step: two resolutions of one
    * image are near-dups and the pipeline trains on the sharper one.
    * Scale shape: components run over the capped pair graph (nodes ≪
    * corpus), the argmax is one map-side-combined struct-max per cluster,
    * and the singleton reinstatement is a bare-id anti-join. */
  private[graft] def mediaApply(s: SparkSession, d: String): DataFrame =
    mediaApplyOf(decodeFeatures(mediaTable(s, d)).toDF()
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        col("f0"), col("f1"), col("f2"), col("f3")))

  /** The removal core over any feature relation — factored like
    * [[mediaPairsOf]] so the spec can drive synthetic clusters. */
  private[graft] def mediaApplyOf(feats0: DataFrame): DataFrame = {
    val feats = feats0.localCheckpoint()
    val pairs = mediaPairsPinned(feats).select(col("doc_a"), col("doc_b"))
    val comps = DedupOps.componentsOf(pairs)
    // argmax via struct-max: (res, -doc_id) orders by resolution first,
    // then LOWEST id on ties — bit-identical to the oracle's
    // ORDER BY res DESC, doc_id ASC window
    val members = comps.join(feats.select(col("doc_id"),
      (col("width").cast("long") * col("height")).as("res")), "doc_id")
    val best = members.groupBy(col("cluster_rep"))
      .agg(max(struct(col("res"), (-col("doc_id")).as("nid"))).as("m"),
        count(lit(1)).as("n_members"))
      .select((-col("m.nid")).as("doc_id"), col("cluster_rep"),
        col("n_members"))
    val singles = feats.select(col("doc_id"))
      .join(comps.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_rep"),
        lit(1L).as("n_members"))
    best.unionByName(singles).orderBy(col("doc_id"))
  }

  /** `dedup_media_incremental`'s arriving batch: every 8th media row
    * re-keyed past [[MEDIA_DELTA_OFFSET]]; source ids ≡ 0 (mod 16)
    * arrive with UNCHANGED payloads — the re-crawl case, a guaranteed
    * L∞ = 0 match against the standing corpus — and ids ≡ 8 (mod 16)
    * arrive with the payload saturated to '~' bytes (the stuck-sensor /
    * corrupt-re-encode probe): every lane lands at ≈ 126/256, measured
    * ≥ 0.089 L∞ from any fixture feature (eps = 0.004), so it can never
    * match the base — but two saturated arrivals of similar length DO
    * match each other, which exercises the within-delta stage on the
    * real fixture (the embedding form needed a constructed corpus for
    * that path). */
  // 1e9, far above any scaled fixture's id range: the replica fixtures
  // (BenchLayout.stageScaleFixture) stride doc_ids by 1e6 per
  // replica and the embedding replicas by 1e7, so a 1e6 offset would
  // collide delta ids with standing replica ids on a scaled fixture
  // (replica r doc k's delta id == replica r+1 doc k's id) and silently
  // void the re-keyed-past-the-corpus invariant this offset exists for
  private[graft] val MEDIA_DELTA_OFFSET = 1000000000L
  private[graft] def mediaDelta(s: SparkSession, d: String)
      : Dataset[MediaRecord] = {
    import s.implicits._
    mediaTable(s, d).filter(_.doc_id % 8 == 0).map { r =>
      val keyed = r.copy(doc_id = r.doc_id + MEDIA_DELTA_OFFSET)
      if (r.doc_id % 16 == 0) keyed
      else keyed.copy(payload = Array.fill(r.payload.length)('~'.toByte))
    }
  }

  /** Core of `dedup_media_incremental` over arbitrary decoded base and
    * delta feature relations — the media member of the incremental dedup
    * family (dedupEmbIncrementalOf's stage order and attribution applied
    * to the grid-banded feature space): within-delta min-id collapse
    * fires first ('delta'), then the delta probes the standing bands
    * ('base') — [[DedupOps.stageVerdict]]; cells cap over the COMBINED
    * population ([[DedupOps.dropOverCap]]), and the base side is
    * semi-restricted to the delta's cells before any pair join (delta ≪
    * corpus; its cell set broadcasts). Bare-id candidate pairs; features
    * rejoin only for the exact L∞ verify. */
  private[graft] def mediaIncrementalOf(baseFeats0: DataFrame,
      deltaFeats0: DataFrame): DataFrame = {
    val baseFeats = baseFeats0.localCheckpoint()
    val deltaFeats = deltaFeats0.localCheckpoint()
    val keyCols = MEDIA_CELL_KEYS
    val bb = mediaFeatureBands(baseFeats).localCheckpoint()
    val db = mediaFeatureBands(deltaFeats).localCheckpoint()
    val pop = Some(bb.unionByName(db))
    val dc = DedupOps.dropOverCap(db, keyCols, MEDIA_CELL_CAP, pop)
    val bc = DedupOps.dropOverCap(bb, keyCols, MEDIA_CELL_CAP, pop)
      .join(broadcast(dc.select(keyCols.map(col): _*).distinct()),
        keyCols, "left_semi")
    val candD = mediaCellPairs(dc, "id_", ("1", "2"))
    val candB = dc.select(col("doc_id").as("id_d") +: keyCols.map(col): _*)
      .join(bc.select(col("doc_id").as("id_b") +: keyCols.map(col): _*),
        keyCols)
      .select(col("id_d"), col("id_b")).distinct()
    val linfD = greatest((0 until MEDIA_LANES).map(i =>
      abs(col(s"fa$i") - col(s"fb$i"))): _*)
    val fa1 = deltaFeats.select(col("doc_id").as("id_1") +:
      (0 until MEDIA_LANES).map(i => col(s"f$i").as(s"fa$i")): _*)
    val fb2 = deltaFeats.select(col("doc_id").as("id_2") +:
      (0 until MEDIA_LANES).map(i => col(s"f$i").as(s"fb$i")): _*)
    val dropD = candD.join(fa1, "id_1").join(fb2, "id_2")
      .where(linfD < lit(MEDIA_EPS))
      .select(col("id_2").as("doc_id")).distinct()
    val fad = deltaFeats.select(col("doc_id").as("id_d") +:
      (0 until MEDIA_LANES).map(i => col(s"f$i").as(s"fa$i")): _*)
    val fbb = baseFeats.select(col("doc_id").as("id_b") +:
      (0 until MEDIA_LANES).map(i => col(s"f$i").as(s"fb$i")): _*)
    val dropB = candB.join(fad, "id_d").join(fbb, "id_b")
      .where(linfD < lit(MEDIA_EPS))
      .select(col("id_d").as("doc_id")).distinct()
    DedupOps.stageVerdict(deltaFeats.select(col("doc_id")), dropD, dropB)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_features" -> { (s, d) =>
      // rIeee, not round: the byte-sum features are integer/integer ratios
      // (s / 64n) that land EXACTLY on 4-decimal half-boundaries (observed
      // 0.37625 at sf0.1), where Spark's exact-decimal HALF_UP and
      // DuckDB's float round split; the IEEE floor form is bit-identical
      // in both engines on the identical ratio inputs.
      import graft.functions.VectorOps.rIeee
      decodeFeatures(mediaTable(s, d)).toDF()
        .select(col("doc_id"), col("media_type"), col("n_bytes"),
          col("width"), col("height"),
          rIeee(col("f0"), 4).as("f0"), rIeee(col("f1"), 4).as("f1"))
    },
    "multimodal_stats" -> { (s, d) =>
      decodeFeatures(mediaTable(s, d)).toDF()
        .groupBy(col("media_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_bytes")).as("total_bytes"),
          round(avg(col("f0")), 4).as("avg_f0"))
    },
    "multimodal_resize" -> { (s, d) =>
      // the resize stage of a visual-ingest pipeline: visual rows only
      // (audio has no frame to resize) → decode → aspect-fit plan into
      // MAX_DIM². The media-type predicate is a COLUMN filter on the
      // ingest table BELOW the decode stage (round-10 verdict #2): it
      // evaluates in codegen before any row deserializes into the decode
      // mapPartitions, so a real codec never decodes a payload the query
      // immediately discards. One partition-local narrow stage; nothing
      // shuffles.
      val s2 = s; import s2.implicits._
      decodeFeatures(mediaTable(s, d).where(col("media_type") =!= "audio"))
        .mapPartitions(_.map(resizePlan)).toDF()
    },
    "multimodal_frames" -> { (s, d) =>
      // the frame-sampling stage of a video-ingest pipeline: video rows
      // only (column predicate below the decode, as above — 2/3 of the
      // corpus never reaches the decoder) → decode → every-step-th frame
      // capped at MAX_FRAMES, integer-ms timestamps at FPS. Fan-out is an
      // iterator flatMap inside the same partition-local stage — the
      // batched frame grab of a real decoder.
      val s2 = s; import s2.implicits._
      decodeFeatures(mediaTable(s, d).where(col("media_type") === "video"))
        .mapPartitions(_.flatMap(sampleFrames)).toDF()
    },
    "dedup_media" -> { (s, d) =>
      // the visual member of the dedup family (round-10 verdict #7):
      // near-dup detection over decoded media feature vectors, banded and
      // cell-capped like every other dedup path — never all-pairs
      mediaPairs(s, d).orderBy(col("doc_a"), col("doc_b"))
    },
    "dedup_media_apply" -> { (s, d) =>
      // the removal pass those pairs feed: keep the highest-resolution
      // member of each near-dup cluster, reinstate untouched docs
      mediaApply(s, d)
    },
    "dedup_media_incremental" -> { (s, d) =>
      // the MEDIA member of the incremental dedup family (exact /
      // MinHash / embedding / media — the matrix is now complete): an
      // arriving media batch ([[mediaDelta]] — re-crawled copies plus
      // saturated-payload probes) decoded partition-locally, then
      // near-dup-checked against the standing corpus's grid bands with
      // the family's stage order (within-delta collapse first, then
      // delta-probes-base), combined-population caps, a broadcast
      // semi-restricted base side, and per-doc stage attribution. On
      // the fixture BOTH stages fire naturally: every unchanged arrival
      // L∞-0-matches its source ('base'), and saturated arrivals of
      // similar byte length match each other ('delta').
      val cols = Seq("doc_id", "media_type", "width", "height") ++
        (0 until MEDIA_LANES).map(i => s"f$i")
      mediaIncrementalOf(
        decodeFeatures(mediaTable(s, d)).toDF().select(cols.map(col): _*),
        decodeFeatures(mediaDelta(s, d)).toDF().select(cols.map(col): _*))
    },
    "multimodal_topk" -> { (s, d) =>
      // cross-modal retrieval (round-15 verdict item 7) — the CLIP-
      // retrieval shape an LLM data pipeline runs for caption↔image
      // alignment: a TEXT query vector probes the IMAGE-modality feature
      // vectors for cosine top-k. The "text encoder" here is the same
      // deterministic stub feature map applied to the query doc's text
      // (a real deployment swaps both encoders for CLIP towers; the
      // retrieval plan — broadcast query set × corpus scoring, salted
      // two-phase per-query ranking — is identical). Self-matches are
      // KEPT on purpose: caption-retrieves-its-own-image at rank 1 is
      // the standard cross-modal recall signal (MultimodalSpec pins it).
      // Scale shape: the NQ-row query side broadcasts, the image corpus
      // never shuffles for scoring, and the ranking is SimilarityOps'
      // salted two-phase window — no reducer funnel at 100 TB. Empty
      // payloads are excluded on both engines (a zero vector has no
      // cosine — Spark NULLs the divide, DuckDB NaNs it, and the two
      // rank differently).
      import graft.functions.VectorOps.r4
      val feats = decodeFeatures(mediaTable(s, d)).toDF()
        .where(col("n_bytes") > 0)
        .select(col("doc_id"), col("media_type"),
          array(col("f0"), col("f1"), col("f2"), col("f3")).as("fv"))
        .localCheckpoint() // feeds both the query and corpus sides
      val queries = feats.where(col("doc_id") < MM_NQ)
        .select(col("doc_id").as("q_id"), col("fv").as("qv"))
      val images = feats.where(col("media_type") === "image")
        .select(col("doc_id").as("vec_id"), col("fv"))
      val scored = images.crossJoin(broadcast(queries))
        .select(col("q_id"), col("vec_id"),
          r4(org.apache.spark.sql.graft.CosineSim.column(
            col("fv"), col("qv"))).as("sim"))
      SimilarityOps.topKPerQuery(scored)
    }
  )

  /** `multimodal_topk`'s query-set size — the fixed text-query ids. */
  private[graft] val MM_NQ = 8

  /** DuckDB rendering of one stub feature lane (the fixture docs are
    * ASCII, so char positions == byte positions) — shared by the feature
    * and dedup_media oracles. */
  private def laneSql(lane: Int): String =
    s"""CASE WHEN length(text) = 0 THEN 0.0 ELSE
       |         list_aggregate(list_transform(generate_series(1, length(text)),
       |           i -> CASE WHEN (i - 1) % 4 = $lane THEN ascii(text[i]) ELSE 0 END),
       |           'sum')::DOUBLE / (64.0 * length(text)) END""".stripMargin

  /** f/b/keep/cb/cand/v CTE chain of the dedup_media oracles: the SAME
    * two-offset-grid banding, cell cap (keep-join HAVING form, per the
    * dedup-family oracle convention), distinct candidate pairs, and strict
    * L∞ verify as [[mediaPairs]]. Every constant is the same decimal
    * literal as the Spark side, so the parsed doubles — and hence every
    * floor cell and compare — are bit-identical. Shared by the pair and
    * removal oracles so the two can never drift on banding arithmetic. */
  /** The grid-cell projection fragment (applies to a relation carrying
    * f0..f3 crossed with a `combo` column) and the band key — shared by
    * the batch and incremental oracles. */
  private def cellsSql: String = (0 until MEDIA_LANES).map { i =>
    s"""         floor((f$i + CASE WHEN (combo // ${1 << i}) % 2 = 1
       |           THEN 0.004 ELSE 0.0 END) / 0.008)::BIGINT AS c$i""".stripMargin
  }.mkString(",\n")
  private def bandKeySql: String = "media_type, combo, " +
    (0 until MEDIA_LANES).map(i => s"c$i").mkString(", ")

  /** `f(doc_id, media_type, width, height, f0..f3)` — the stub decode
    * replayed in SQL over the documents table; shared by every media
    * oracle. */
  private def featCteSql: String =
    s"""f AS (
       |  SELECT doc_id,
       |         ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
       |         (64 + (31 * length(text) + CASE WHEN length(text) > 0
       |            THEN ascii(text[1]) ELSE 0 END) % 512)::INT AS width,
       |         (64 + (17 * length(text) + CASE WHEN length(text) > 0
       |            THEN ascii(text[length(text)]) ELSE 0 END) % 512)::INT AS height,
       |         ${laneSql(0)} AS f0,
       |         ${laneSql(1)} AS f1,
       |         ${laneSql(2)} AS f2,
       |         ${laneSql(3)} AS f3
       |  FROM documents)""".stripMargin

  private def mediaPairCtes: String = {
    val cells = cellsSql
    val key = bandKeySql
    val linf = "greatest(" + (0 until MEDIA_LANES)
      .map(i => s"abs(fa.f$i - fb.f$i)").mkString(", ") + ")"
    s"""$featCteSql,
       |b AS (
       |  SELECT doc_id, media_type, combo,
       |$cells
       |  FROM f, (SELECT unnest(generate_series(0, ${(1 << MEDIA_LANES) - 1})) AS combo)),
       |keep AS (
       |  SELECT $key FROM b
       |  GROUP BY ALL HAVING count(*) <= $MEDIA_CELL_CAP),
       |cb AS (SELECT b.* FROM b JOIN keep USING ($key)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM cb x JOIN cb y USING ($key)
       |  WHERE x.doc_id < y.doc_id),
       |v AS (
       |  SELECT doc_a, doc_b, fa.media_type,
       |         $linf AS linf,
       |         CASE WHEN fa.width = fb.width AND fa.height = fb.height
       |              THEN 1 ELSE 0 END AS same_dims
       |  FROM cand JOIN f fa ON fa.doc_id = cand.doc_a
       |            JOIN f fb ON fb.doc_id = cand.doc_b)""".stripMargin
  }

  /** The delta batch + two-stage probe of the incremental media dedup,
    * replayed in SQL: unchanged arrivals re-key rows of `f`; saturated
    * arrivals get the closed-form '~'-payload features (lane i sums
    * 126·⌈(n−i)/4⌉ over n bytes — exact double arithmetic in both
    * engines). Bands, combined-population cap, within-delta and
    * delta-vs-base candidates, strict L∞ verify, priority attribution. */
  private def mediaIncrementalSql: String = {
    val key = bandKeySql
    def satLane(i: Int): String =
      s"""CASE WHEN length(text) = 0 THEN 0.0 ELSE
         |           (126.0 * ((length(text) + ${3 - i}) // 4))
         |             / (64.0 * length(text)) END""".stripMargin
    val linf = "greatest(" + (0 until MEDIA_LANES)
      .map(i => s"abs(fa.f$i - fb.f$i)").mkString(", ") + ")"
    val keyEq = ("media_type" +: "combo" +:
      (0 until MEDIA_LANES).map(i => s"c$i"))
      .map(k => s"dc.$k = bb.$k").mkString(" AND ")
    s"""WITH $featCteSql,
       |fd AS (
       |  SELECT doc_id + $MEDIA_DELTA_OFFSET AS doc_id, media_type,
       |         f0, f1, f2, f3
       |  FROM f WHERE doc_id % 16 = 0
       |  UNION ALL
       |  SELECT e.doc_id + $MEDIA_DELTA_OFFSET AS doc_id,
       |         ['image','audio','video'][(e.doc_id % 3 + 1)::INT]
       |           AS media_type,
       |         ${satLane(0)} AS f0,
       |         ${satLane(1)} AS f1,
       |         ${satLane(2)} AS f2,
       |         ${satLane(3)} AS f3
       |  FROM documents e WHERE e.doc_id % 16 = 8),
       |bb AS (
       |  SELECT doc_id, media_type, combo,
       |$cellsSql
       |  FROM f, (SELECT unnest(generate_series(0, ${(1 << MEDIA_LANES) - 1})) AS combo)),
       |db AS (
       |  SELECT doc_id, media_type, combo,
       |$cellsSql
       |  FROM fd, (SELECT unnest(generate_series(0, ${(1 << MEDIA_LANES) - 1})) AS combo)),
       |keepc AS (
       |  SELECT $key FROM (SELECT $key FROM bb
       |                    UNION ALL SELECT $key FROM db)
       |  GROUP BY ALL HAVING count(*) <= $MEDIA_CELL_CAP),
       |dc AS (SELECT db.* FROM db JOIN keepc USING ($key)),
       |bc AS (SELECT bb.* FROM bb JOIN keepc USING ($key)
       |       WHERE EXISTS (SELECT 1 FROM dc WHERE $keyEq)),
       |candd AS (SELECT DISTINCT x.doc_id AS id_1, y.doc_id AS id_2
       |          FROM dc x JOIN dc y USING ($key)
       |          WHERE x.doc_id < y.doc_id),
       |candb AS (SELECT DISTINCT dc.doc_id AS id_d, bc.doc_id AS id_b
       |          FROM dc JOIN bc USING ($key)),
       |dropd AS (
       |  SELECT DISTINCT id_2 AS doc_id FROM candd
       |  JOIN fd fa ON fa.doc_id = candd.id_1
       |  JOIN fd fb ON fb.doc_id = candd.id_2
       |  WHERE $linf < $MEDIA_EPS),
       |dropb AS (
       |  SELECT DISTINCT id_d AS doc_id FROM candb
       |  JOIN fd fa ON fa.doc_id = candb.id_d
       |  JOIN f fb ON fb.doc_id = candb.id_b
       |  WHERE $linf < $MEDIA_EPS)
       |SELECT fd.doc_id,
       |       (dropd.doc_id IS NULL AND dropb.doc_id IS NULL) AS keep,
       |       CASE WHEN dropd.doc_id IS NOT NULL THEN 'delta'
       |            WHEN dropb.doc_id IS NOT NULL THEN 'base'
       |            ELSE 'kept' END AS stage
       |FROM fd LEFT JOIN dropd ON fd.doc_id = dropd.doc_id
       |        LEFT JOIN dropb ON fd.doc_id = dropb.doc_id""".stripMargin
  }

  /** [[mediaPairCtes]] + the recursive-CTE closure over the verified
    * pairs (the dedup_clusters convention) + the per-cluster resolution
    * argmax (ORDER BY res DESC, doc_id ASC — exactly the Spark side's
    * max(struct(res, -doc_id))) + the kept-id set `mkeep` — ONE fragment
    * serving the dedup_media_apply oracle and the composed
    * pipeline_curate_multimodal oracle, so the two can never drift.
    * m-prefixed CTE names: the curate chain this composes into has its
    * own keep/sur relations. Callers supply `WITH RECURSIVE`. */
  private[operators] def mediaKeepCtes: String =
    s"""$mediaPairCtes,
       |mpairs AS (SELECT doc_a, doc_b FROM v WHERE linf < 0.004),
       |medges AS (
       |  SELECT doc_a AS s, doc_b AS t FROM mpairs
       |  UNION ALL
       |  SELECT doc_b AS s, doc_a AS t FROM mpairs),
       |mreach(node, r) AS (
       |  SELECT s, s FROM medges
       |  UNION
       |  SELECT e.s, r.r FROM medges e JOIN mreach r ON e.t = r.node),
       |mcomp AS (SELECT node::BIGINT AS doc_id,
       |                 min(r)::BIGINT AS cluster_rep
       |          FROM mreach GROUP BY node),
       |mmembers AS (
       |  SELECT c.doc_id, c.cluster_rep,
       |         (f.width::BIGINT * f.height) AS res
       |  FROM mcomp c JOIN f USING (doc_id)),
       |mbest AS (
       |  SELECT doc_id, cluster_rep, n_members FROM (
       |    SELECT doc_id, cluster_rep,
       |           count(*) OVER (PARTITION BY cluster_rep) AS n_members,
       |           row_number() OVER (PARTITION BY cluster_rep
       |                              ORDER BY res DESC, doc_id ASC) AS rn
       |    FROM mmembers) WHERE rn = 1),
       |mkeep AS (
       |  SELECT doc_id FROM mbest
       |  UNION ALL
       |  SELECT doc_id FROM f
       |  WHERE doc_id NOT IN (SELECT doc_id FROM mcomp))""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_media_incremental" -> mediaIncrementalSql,
    "dedup_media" ->
      s"""WITH $mediaPairCtes
         |SELECT doc_a, doc_b, media_type,
         |       ${graft.functions.VectorSql.rIeee("linf", 6)} AS dist, same_dims
         |FROM v WHERE linf < 0.004 ORDER BY doc_a, doc_b""".stripMargin,
    // the removal oracle: the shared closure fragment's argmax winners
    // plus singleton reinstatement — see [[mediaKeepCtes]]
    "dedup_media_apply" ->
      s"""WITH RECURSIVE $mediaKeepCtes
         |SELECT doc_id, cluster_rep, n_members::BIGINT AS n_members
         |FROM mbest
         |UNION ALL
         |SELECT doc_id, doc_id AS cluster_rep, 1::BIGINT AS n_members
         |FROM f WHERE doc_id NOT IN (SELECT doc_id FROM mcomp)
         |ORDER BY doc_id""".stripMargin,
    // the byte-sum feature math is reproducible from the utf-8 text in SQL
    // (the fixture docs are ASCII, so char positions == byte positions);
    // media_type cycles doc_id % 3 → image/audio/video
    "multimodal_features" -> {
      s"""SELECT doc_id,
         |       ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
         |       length(text)::INT AS n_bytes,
         |       (64 + (31 * length(text) + CASE WHEN length(text) > 0
         |          THEN ascii(text[1]) ELSE 0 END) % 512)::INT AS width,
         |       (64 + (17 * length(text) + CASE WHEN length(text) > 0
         |          THEN ascii(text[length(text)]) ELSE 0 END) % 512)::INT AS height,
         |       ${graft.functions.VectorSql.rIeee(laneSql(0), 4)} AS f0,
         |       ${graft.functions.VectorSql.rIeee(laneSql(1), 4)} AS f1
         |FROM documents""".stripMargin
    },
    // resize: the dims formulas are the feature oracle's, the aspect-fit
    // is pure positive-integer floor division (`//` = Scala Int `/` here)
    "multimodal_resize" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |         ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
        |         (64 + (31 * length(text) + CASE WHEN length(text) > 0
        |            THEN ascii(text[1]) ELSE 0 END) % 512)::INT AS width,
        |         (64 + (17 * length(text) + CASE WHEN length(text) > 0
        |            THEN ascii(text[length(text)]) ELSE 0 END) % 512)::INT AS height
        |  FROM documents),
        |r AS (SELECT doc_id, media_type, width, height,
        |             greatest(width, height) AS m
        |      FROM dims WHERE media_type <> 'audio'),
        |o AS (SELECT doc_id, media_type, width, height,
        |        (CASE WHEN m <= 256 THEN width
        |              ELSE greatest(1, (width * 256) // m) END)::INT AS out_w,
        |        (CASE WHEN m <= 256 THEN height
        |              ELSE greatest(1, (height * 256) // m) END)::INT AS out_h
        |      FROM r)
        |SELECT doc_id, media_type, width, height, out_w, out_h,
        |       (3 * out_w * out_h)::BIGINT AS out_bytes FROM o""".stripMargin,
    // frame sampling: generate_series(0, nf-1, step) IS Scala's
    // `0 until nf by step`; list_slice caps at MAX_FRAMES like take(8)
    "multimodal_frames" ->
      """WITH q AS (
        |  SELECT doc_id, nf, greatest(1, nf // 8) AS step FROM (
        |    SELECT doc_id, 1 + length(text)::INT % 240 AS nf
        |    FROM documents WHERE doc_id % 3 = 2))
        |SELECT doc_id, f::INT AS frame_idx, ((f * 1000) // 24)::BIGINT AS ts_ms
        |FROM (SELECT doc_id,
        |             unnest(list_slice(generate_series(0, nf - 1, step), 1, 8)) AS f
        |      FROM q)""".stripMargin,
    "multimodal_stats" ->
      s"""SELECT media_type, count(*)::BIGINT AS n,
         |       sum(length(text))::BIGINT AS total_bytes,
         |       round(avg(f0), 4) AS avg_f0
         |FROM (SELECT doc_id,
         |             ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
         |             ${laneSql(0)} AS f0,
         |             text
         |      FROM documents)
         |GROUP BY media_type""".stripMargin,
    // cross-modal brute-force replay: the same stub feature lanes as the
    // feature oracle, queries = doc_id < MM_NQ (any modality, text side),
    // corpus = image modality (doc_id % 3 = 0), cosine at the round-4
    // grid with (sim DESC, vec_id) ties — the similarity_topk oracle
    // shape with self-matches kept
    "multimodal_topk" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |         ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
         |         [${laneSql(0)},
         |          ${laneSql(1)},
         |          ${laneSql(2)},
         |          ${laneSql(3)}] AS fv
         |  FROM documents WHERE length(text) > 0),
         |q AS (SELECT doc_id AS q_id, fv AS qv FROM f WHERE doc_id < $MM_NQ),
         |img AS (SELECT doc_id AS vec_id, fv FROM f
         |        WHERE media_type = 'image')
         |SELECT q_id, vec_id, rnk, sim FROM (
         |  SELECT q.q_id, img.vec_id,
         |         row_number() OVER (
         |           PARTITION BY q.q_id
         |           ORDER BY round(${graft.functions.VectorSql.cosine(
                 "img.fv", "q.qv")}, 4) DESC, img.vec_id)::INT AS rnk,
         |         (round(${graft.functions.VectorSql.cosine(
                 "img.fv", "q.qv")}, 4) + 0) AS sim
         |  FROM img CROSS JOIN q)
         |WHERE rnk <= ${SimilarityOps.TOPK}""".stripMargin
  )
}
