package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines: exact (hash-groupBy),
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Reference ancestor: textual-identity grouping (cluster key =
  * `Point.toString()`, `/root/reference/SparKMeansGroupBy.java:94` — SURVEY.md
  * §1.1) generalized to content hashing, and min-over-hashed-projections
  * (MinHash) as the sketch cousin of the reference's min-dist-to-center-set
  * map (`/root/reference/SparKMeansGroupByPlusPlus.java:82-96`).
  *
  * Scale design (100 TB discipline):
  *  - every pipeline is explode → hash-aggregate → equi-join on bounded keys;
  *    no all-pairs comparison ever materializes.
  *  - sketch computation is *flat codegen expressions over exploded rows*,
  *    never nested higher-order functions: HOF lambdas are CodegenFallback in
  *    Spark, and inlining a shingle subtree into 32 per-permutation HOF
  *    expressions re-evaluates it 32× interpreted (measured 425 s at sf0.1 —
  *    rewritten here it is ~2 s). MinHash signatures are 32 plain `min`
  *    aggregates with map-side partial aggregation: the shuffle carries
  *    32 longs per doc regardless of doc length.
  *  - band hashes derive from signature columns directly (one narrow
  *    projection) — no posexplode/collect_list re-shuffle.
  *  - all hashes are md5-prefix-derived so the DuckDB oracle reproduces every
  *    sketch bit-for-bit: these queries are hash-verified, not rows-only.
  */
object DedupOps {

  /** 60-bit base hash of a string. Two modes:
    *  - oracle (default): md5-derived, identical in both engines —
    *    Spark `conv(substring(md5(s),1,15),16,10)::long` ==
    *    DuckDB `('0x' || substring(md5(s),1,15))::BIGINT`.
    *  - bench (`graft.fastHash=true`, set by [[graft.Harness.session]] in
    *    bench mode, i.e. for Bench, Probe and Plans): xxhash64
    *    masked to 60 bits — same value range, same downstream plan shape and
    *    bucket cardinalities, ~5x cheaper per token (md5-per-word was a 5x
    *    bench regression in round 2). Results differ bit-wise between modes;
    *    only Verify's md5 output is oracle-compared. */
  // Captured ONCE at first use: reading the property per call would let a
  // mode flip mid-JVM silently mix hash functions between plans (or flip
  // later queries to bench hashes while the emitted oracle SQL stays md5).
  // Harness.session sets the property, to "true" in bench mode and to
  // "false" in oracle mode (Verify, tests), before any query touches this
  // object; where it is unset the mode is the oracle-reproducible md5.
  private lazy val fastHash: Boolean =
    sys.props.get("graft.fastHash").contains("true")

  def h60(c: Column): Column =
    if (fastHash) xxhash64(c).bitwiseAND(lit((1L << 60) - 1))
    else conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DuckDB rendering of [[h60]] (oracle mode only). */
  def h60Sql(e: String): String =
    s"('0x' || substring(md5($e), 1, 15))::BIGINT"

  /** Full-text digest for exact dedup: md5 when oracle-compared,
    * xxhash64 in bench mode (grouping by a 64-bit digest has the same
    * shuffle shape; only hash cost differs). */
  def digest(c: Column): Column =
    if (fastHash) xxhash64(c).cast("string") else md5(c)

  /** Whitespace tokens with empties dropped (docs have trailing spaces).
    * Native one-pass tokenizer — result-identical to the
    * `filter(split(text," "), length > 0)` HOF chain it replaces
    * (ExpressionSpec pins the equality) but codegen'd, which matters for
    * the explode-heavy consumers (SimHash popcounts, token_topk). */
  def wordsCol(text: Column): Column =
    org.apache.spark.sql.graft.WordShingles.tokens(text)

  /** [[spreadBy]] only when the input is under-parallel (the single-file
    * small-fixture scans) — an already-parallel scan feeds the consumer
    * directly, so at scale (data-sized scan partitioning) this is the
    * identity and the corpus is never repartitioned. r22: the explode →
    * map-side-combined-aggregate passes all measured FASTER without any
    * repartition once the bench scan layout carries >1 split, so only
    * the genuinely compute-dense explodes (per-character entropy, the
    * HOF bigram walk) still opt into this conditional form. */
  def spreadNarrow(df: DataFrame, key: Column): DataFrame =
    if (df.rdd.getNumPartitions <
        df.sparkSession.sparkContext.defaultParallelism) spreadBy(df, key)
    else df

  /** Re-spread rows by `key` before a high-fan-out generator stage. A
    * 30-70× shingle explode concentrates all generator work (and its
    * memory) on the scan tasks; at 100 TB this bounds per-task fan-out,
    * and on the local harness it breaks the one-small-parquet-file =
    * one-task serialization. HASH partitioning, not the
    * historical keyless round-robin: a keyless `repartition(n)` first
    * locally sorts its whole input so retried tasks reproduce the same
    * row→partition assignment (spark.sql.execution.sortBeforeRepartition,
    * guide §2.5) — measured at 2.5× the cost of the hash exchange on the
    * sf0.1 corpus (r22: 0.81 s vs 0.34 s for the same signature pass).
    * Hashing a real key is deterministic without the sort, and ×1
    * parallelism replaces the old ×2 (the explode consumers are one
    * codegen pass per row; two waves of half-sized tasks just doubled
    * the per-task fixed cost — r22 A/B: 64-way 0.34 s, 32-way 0.23 s). */
  def spreadBy(df: DataFrame, key: Column): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)

  /** Distinct word 3-gram shingles straight from the text column, via the
    * native one-pass [[org.apache.spark.sql.graft.WordShingles]]
    * expression. Result-identical to the HOF chain it replaces
    * (`array_distinct(transform(sequence…))` over [[wordsCol]] — including
    * the <3-words → empty guard, where Spark's `sequence(1,0)` would
    * DESCEND), but codegen'd instead of interpreted per shingle. */
  def shinglesOf(text: Column): Column =
    org.apache.spark.sql.graft.WordShingles.column(text, 3)

  private val wSql = "list_filter(string_split(text, ' '), x -> length(x) > 0)"
  private val shSql =
    s"""list_distinct(CASE WHEN len(w) >= 3
       |  THEN list_transform(generate_series(1, len(w) - 2),
       |       i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
       |  ELSE [] END)""".stripMargin

  /** Exact-substring window length (words). Production corpora use ~50
    * tokens (the "Deduplicating Training Data Makes Language Models
    * Better" convention: long enough that a collision means lifted text);
    * 12 keeps the fixture's 16-96-token docs carrying multiple windows.
    * ONE constant feeding query + oracle. */
  private[graft] val SUBSTR_L = 12

  /** dedup_substring_apply's keep rule: DROP a doc when more than
    * NUM/DEN of its windows are duplicated spans. Compared as the exact
    * integer cross-product (dup·DEN ≤ spans·NUM) — no float ratio, no
    * half-boundary hazard; ONE constant pair feeding query + oracle. */
  private[graft] val SUBSTR_DROP_NUM = 1
  private[graft] val SUBSTR_DROP_DEN = 2

  // ------------------------------------------------------------- MinHash

  private val MINHASH_PERMS = 32
  private val BANDS = 8 // 8 bands × 4 rows
  private val ROWS_PER_BAND = MINHASH_PERMS / BANDS
  private val M = 2147483647L // Mersenne prime 2^31-1
  // Max docs per (band_id, band_hash) cell in the LSH self-join
  // ([[dropOverCap]]). Members of a dropped cell still pair through their
  // other 7 bands' cells when those stay under cap, and the all-bands-hot
  // exact-duplicate cluster is precisely what the cheaper digest-based
  // dedup_exact already catches.
  // private[graft]: PlanSpec interpolates the cap into its over-cap-filter
  // plan assertion so tuning the constant keeps the test honest (r6 ADVICE)
  private[graft] final val BAND_CAP = 1000

  /** splitmix64 finalizer — full-avalanche mixing for the permutation
    * constants (the round-2 "2j+1" multipliers were small correlated odd
    * numbers, weakening LSH independence). Pure integer function, so the
    * Spark expressions and the generated oracle SQL stay in lockstep. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D4ECB967945235L
    z ^ (z >>> 31)
  }

  // affine rehash mod prime M is a bijection for any a in [1, M)
  private def permA(j: Int): Long = Math.floorMod(mix64(2L * j + 1), M - 1) + 1
  private def permB(j: Int): Long = Math.floorMod(mix64(2L * j + 2), M)

  /** (doc_id, m0..m31) MinHash signatures. Explode shingles once, reduce the
    * 60-bit hash to 31 bits, then 32 affine-rehash `min` aggregates — a
    * single codegen'd HashAggregate with map-side combine. Docs with no
    * shingles (<3 words) drop out, which is the right dedup semantics. */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("doc_id"), explode(shinglesOf(col("text"))).as("sh"))
      .select(col("doc_id"), pmod(h60(col("sh")), lit(M)).as("h"))
    val mins = (0 until MINHASH_PERMS).map(j =>
      min(pmod(col("h") * permA(j) + permB(j), lit(M))).as(s"m$j"))
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, band_id, band_hash) LSH bucketing relation: band hash = h60 of
    * the comma-joined 4-row signature slice, computed straight from the
    * signature columns (narrow projection + one explode, no extra shuffle). */
  def minhashBands(docs: DataFrame): DataFrame =
    bandsOf(minhashSignatures(docs))

  /** Whether to `broadcast()`-hint the over-cap drop sets (default true).
    * The hint is right for real corpora — the drop set is pigeonhole-
    * bounded at rows/cap, usually a handful of pathological cells — but on
    * a duplicate-DEGENERATE corpus (most cells over cap) the drop set is
    * linear in the corpus and the hint would force an oversized broadcast;
    * `spark.conf.set("graft.dropSetBroadcast", "false")` lets AQE plan the
    * anti-join (shuffled fallback) instead. Result is identical either way
    * (PlanSpec runs both paths to the same rows — round-7 verdict #3 /
    * ADVICE carry-over). Read per-plan from the session conf, so a test or
    * an operator can flip it without a new session. */
  private[graft] def dropSetHint(df: DataFrame, drop: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("graft.dropSetBroadcast", "true").toBoolean)
      broadcast(drop)
    else drop

  // ------------------------------------------- the near-dup candidate path
  // Every LSH near-dup family (MinHash, SimHash, fuzzy, media, hyperplane,
  // IVF cells) buckets rows into cells, caps the cells, pairs the rows in
  // each cell, verifies the pairs and collapses components; the shared
  // steps below serve them all.

  /** Rows per cell of `pop`, counted by one map-side-combined aggregate. */
  private def cellCounts(pop: DataFrame, keys: Seq[String]): DataFrame =
    pop.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bcnt"))

  /** The cell cap, drop-set form: `rows` minus every row of a cell (the
    * `keys` columns) holding more than `cap` rows of `pop` — `rows`
    * itself, or the base+delta population an incremental caller caps
    * both sides by. Without a cap, N exact-duplicate docs share every
    * cell and one cell emits N²/2 candidate pairs — quadratic exactly on
    * the corpora dedup exists for. The broadcast side is the OVER-cap
    * drop set, never the under-cap keep set: cell keys are hashes, so the
    * keep relation is mostly singletons, O(corpus) rows — an OOM as a
    * broadcast — while the drop set is bounded by rows / cap (where that
    * outgrows the broadcast budget the cap must rise with the
    * deployment; [[dropSetHint]] gates the hint off for
    * duplicate-degenerate corpora). The DuckDB oracles keep their
    * `HAVING count(*) <= cap` keep-join formulation. */
  private[graft] def dropOverCap(rows: DataFrame, keys: Seq[String],
      cap: Int, pop: Option[DataFrame] = None): DataFrame = {
    val drop = cellCounts(pop.getOrElse(rows), keys)
      .where(col("bcnt") > cap).select(keys.map(col): _*)
    rows.join(dropSetHint(rows, drop), keys, "left_anti")
  }

  /** The cell cap, keep-set form: `rows` joined to the broadcast set of
    * cells holding at most `cap` rows of `pop` (`rows` itself by
    * default). Keeps exactly the rows [[dropOverCap]] keeps, but its
    * broadcast is the under-cap set, so it is only for BOUNDED cell
    * domains — the hyperplane buckets (T × 2^P cells) and the IVF cells
    * — where that set stays small at any corpus size. */
  private[graft] def keepUnderCap(rows: DataFrame, keys: Seq[String],
      cap: Int, pop: Option[DataFrame] = None): DataFrame = {
    val keep = cellCounts(pop.getOrElse(rows), keys)
      .where(col("bcnt") <= cap).select(keys.map(col): _*)
    rows.join(broadcast(keep), keys)
  }

  /** The within-cell pair join: `side(tag)` projects one side of a cell
    * relation with its row id named `id + tag`; the two sides join on the
    * cell `keys`, and each unordered pair comes out once per shared cell,
    * the lower id on the first side. Callers keep their own projection,
    * verify and `distinct`. */
  private[graft] def cellPairs(keys: Seq[String], id: String,
      tags: (String, String) = ("a", "b"))(
      side: String => DataFrame): DataFrame =
    side(tags._1).join(side(tags._2), keys)
      .where(col(id + tags._1) < col(id + tags._2))

  /** Ids of a (doc_a, doc_b) pair graph that are not their component's
    * representative (its min id, [[componentsOf]]): the docs a
    * keep-one-per-cluster dedup drops. */
  private def nonRepOf(pairs: DataFrame): DataFrame =
    componentsOf(pairs).where(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id"))

  /** The incremental near-dup survivors: delta docs (`!isBase`) with no
    * verified base collision (`collide`) that represent their
    * within-delta cluster of `pairs`. */
  private def deltaSurvivors(docs: DataFrame, isBase: Column,
      collide: DataFrame, pairs: DataFrame): DataFrame =
    docs.where(!isBase).select(col("doc_id"))
      .join(collide, Seq("doc_id"), "left_anti")
      .join(nonRepOf(pairs), Seq("doc_id"), "left_anti")

  /** The incremental near-dup verdict over a delta's ids (the one column
    * of `ids`): a row in `dropD` (collapsed within the delta) reads
    * 'delta', that stage firing first and winning; a row in `dropB`
    * (matched against the base) reads 'base'; the rest read 'kept' and
    * keep = true. Both drop sets carry the ids under the same name. */
  private[graft] def stageVerdict(ids: DataFrame, dropD: DataFrame,
      dropB: DataFrame): DataFrame = {
    val id = ids.columns.head
    ids.join(dropD.withColumn("dd", lit(true)), Seq(id), "left")
      .join(dropB.withColumn("db", lit(true)), Seq(id), "left")
      .select(col(id),
        (col("dd").isNull && col("db").isNull).as("keep"),
        when(col("dd").isNotNull, "delta")
          .when(col("db").isNotNull, "base")
          .otherwise("kept").as("stage"))
  }

  /** Drop rows of over-populated (band_id, band_hash) cells before a
    * self-join ([[dropOverCap]]). `cap` is parameterized for the
    * property test; production callers use [[BAND_CAP]]. */
  private[graft] def cappedBands(bands: DataFrame,
      cap: Int = BAND_CAP): DataFrame =
    dropOverCap(bands, Seq("band_id", "band_hash"), cap)

  /** Bare (doc_a, doc_b) candidate pairs of a capped band relation. */
  private def bandPairs(bands: DataFrame): DataFrame =
    cellPairs(Seq("band_id", "band_hash"), "doc_")(t =>
      bands.select(col("doc_id").as(s"doc_$t"), col("band_id"),
        col("band_hash")))
      .select(col("doc_a"), col("doc_b")).distinct()

  /** MinHash-LSH candidate pairs of a (doc_id, text) relation — the body of
    * `dedup_minhash` (which adds its presentation sort), factored so the
    * adversarial-corpus spec can run it on a synthetic all-duplicates input
    * (round-7 verdict #5) and [[duplicateClusters]] can consume the pairs
    * without paying a global sort its propagation never needs. */
  private[graft] def minhashPairs(docs: DataFrame,
      cap: Int = BAND_CAP): DataFrame = {
    // localCheckpoint, not cache: the band relation feeds both the cell
    // count and the self-join probe; an eager checkpoint materializes it
    // once and its blocks are released when the plan is GC'd, instead of
    // occupying the cache for the session lifetime (round-4 ADVICE).
    bandPairs(cappedBands(minhashBands(docs).localCheckpoint(), cap))
  }

  /** `dedup_fuzzy`'s verification radius: the fixture's near-dup
    * generator mutates ~4 characters, so τ=5 keeps the generated pairs
    * and rejects the one transitive band candidate at distance 8 — the
    * filter demonstrably does work on the fixture. */
  private[graft] val FUZZY_TAU = 5

  /** Edit-distance near-dup pairs — the dedup family's TRUE edit-metric
    * member (MinHash ≈ shingle Jaccard, SimHash ≈ hamming; neither is an
    * edit bound): [[minhashPairs]]' banded candidates verified by
    * `levenshtein ≤ τ`. The verify uses Spark's THRESHOLD variant
    * (banded O(len·τ) DP, not the O(len²) full matrix — at 100 TB the
    * quadratic form is the difference between a verify pass and a second
    * engine); for kept rows it returns the true distance, so the output
    * column equals DuckDB's unbounded levenshtein on the same pairs
    * ([[editDist]]). Texts join onto the BARE candidate ids (candidates ≪
    * corpus; the band self-join never carries text). */
  private[graft] def fuzzyPairs(docs: DataFrame,
      tau: Int = FUZZY_TAU): DataFrame = {
    val t = docs.select(col("doc_id"), col("text"))
    minhashPairs(docs)
      .join(t.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(t.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        editDist(col("ta"), col("tb"), tau).as("edit_dist"))
      .where(col("edit_dist") =!= -1)
  }

  /** The thresholded edit distance: levenshtein(a, b) when it is at most
    * `tau`, else -1. Spark's threshold variant is a banded O(len·τ) DP
    * behind an exact-equality fast path: a band-candidate set is
    * clone-heavy by construction (exact dups share every band), and
    * levenshtein costs ~0.4 ms/pair even threshold-banded while an
    * equality memcmp is O(len) — measured 61 s → ~2 s on the 8×
    * clone-replicated fixture, where ~99% of the 156k candidates are
    * identical texts. levenshtein(x, x) = 0, so the result is unchanged
    * and the DuckDB oracles need no fast path. */
  private def editDist(a: Column, b: Column,
      tau: Int = FUZZY_TAU): Column =
    when(a === b, lit(0)).otherwise(levenshtein(a, b, tau))

  /** Band relation from an existing signature relation (callers that also
    * need the signatures themselves compute them once and reuse). */
  def bandsOf(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until BANDS).map { b =>
      val slice = (0 until ROWS_PER_BAND)
        .map(r => col(s"m${b * ROWS_PER_BAND + r}"))
      struct(lit(b).as("band_id"),
        h60(concat_ws(",", slice: _*)).as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band_id"), col("b.band_hash"))
  }

  // ------------------------------------------------------------- SimHash

  private val SIMHASH_BITS = 60 // h60 provides 60 usable bits
  private val CHUNKS = 4 // 4 × 15-bit chunks for the pairs candidate join
  private val CHUNK_BITS = SIMHASH_BITS / CHUNKS
  // pigeonhole over 4 chunks GUARANTEES recall only to hamming <= 3
  private val HAMMING_MAX = 3
  private val CHUNK_CAP = 1000 // max docs per (chunk_id, chunk) cell

  // 3 bit-counters packed per aggregate long (21-bit lanes): the SimHash
  // shuffle carries 21 longs per doc instead of 61. A lane saturates only
  // past 2^21-1 ≈ 2M tokens in ONE document (~10 MB of text) — beyond any
  // sane training-corpus document; the token-count cap is the documented
  // contract, not a silent truncation.
  private val LANES = 3
  private val PACKED_SUMS = SIMHASH_BITS / LANES // 20
  private val LANE_BITS = 21
  private val LANE_MASK = (1L << LANE_BITS) - 1

  /** 60-bit SimHash per doc. Explode words → per-bit popcount as 20
    * PACKED partial-aggregable sums (3 × 21-bit lanes per long; literal
    * shifts, exact integer arithmetic — results identical to 60 unpacked
    * sums) → sign → fingerprint. No UDFs/HOFs; map-side combine keeps the
    * shuffle at 21 longs × docs — the dominant shuffle of the dedup
    * family, 3× narrower than the unpacked form at any scale. */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(wordsCol(col("text"))).as("w"))
      .select(col("doc_id"), h60(col("w")).as("h"))
    val packedSums = (0 until PACKED_SUMS).map { s =>
      val perWord = (0 until LANES).map { lane =>
        shiftright(col("h"), s + PACKED_SUMS * lane).bitwiseAND(lit(1L)) *
          lit(1L << (LANE_BITS * lane))
      }.reduce(_ + _)
      sum(perWord).as(s"p$s")
    }
    val aggCols = count(lit(1)).as("n") +: packedSums
    val counted = tok.groupBy(col("doc_id"))
      .agg(aggCols.head, aggCols.tail: _*)
    def bitCount(j: Int): Column =
      shiftright(col(s"p${j % PACKED_SUMS}"),
        LANE_BITS * (j / PACKED_SUMS)).bitwiseAND(lit(LANE_MASK))
    val fp = (0 until SIMHASH_BITS).map(j =>
      when(bitCount(j) * 2 >= col("n"), shiftleft(lit(1L), j)).otherwise(0L))
      .reduce(_ + _)
    counted.select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup candidate pairs of a (doc_id, text) relation — the
    * body of `dedup_simhash_pairs`, factored (like [[minhashPairs]]) so the
    * adversarial-corpus spec can run it on synthetic input.
    *
    * The 4×15-bit chunk pigeonhole: a pair within hamming distance ≤ 3
    * differs in at most 3 chunks, so at least one chunk matches exactly —
    * candidate generation is COMPLETE for the ≤ 3 threshold (the round-2
    * claim of ≤ 16 was only heuristic; 17 chunks of <4 bits would be needed
    * to *guarantee* 16, with useless 8-value buckets). A per-(chunk_id,
    * chunk) population cap ([[dropOverCap]]) bounds the within-bucket
    * self-join under skew (near-constant docs collapsing to one
    * fingerprint), trading recall only on those degenerate cells.
    * localCheckpoint, not cache: fp feeds both the chunk explode and (via
    * capped) both join sides; an eager checkpoint's blocks die with the
    * plan instead of occupying the cache for the session (round-5 ADVICE
    * — same fix minhash_scored carries). */
  private[graft] def simhashPairs(docs: DataFrame,
      cap: Int = CHUNK_CAP): DataFrame = {
    val fp = simhashFingerprints(docs).localCheckpoint()
    chunkPairs(dropOverCap(simhashChunks(fp), CHUNK_KEYS, cap))
      .select(col("doc_a"), col("doc_b"), hamming.as("hamming"))
      .distinct()
      .where(col("hamming") <= HAMMING_MAX)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val CHUNK_KEYS = Seq("chunk_id", "chunk")

  /** (doc_id, simhash, chunk_id, chunk): each fingerprint exploded into
    * its [[CHUNKS]] 15-bit chunks, the SimHash LSH cells. */
  private[graft] def simhashChunks(fp: DataFrame): DataFrame =
    fp.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until CHUNKS).map(c =>
        shiftright(col("simhash"), CHUNK_BITS * c)
          .bitwiseAND(lit((1L << CHUNK_BITS) - 1))): _*))
        .as(CHUNK_KEYS))

  /** Within-chunk pairs of a capped chunk relation, each side carrying its
    * fingerprint (sim_a, sim_b) for the [[hamming]] verify. */
  private def chunkPairs(chunks: DataFrame): DataFrame =
    cellPairs(CHUNK_KEYS, "doc_")(t =>
      chunks.select(col("doc_id").as(s"doc_$t"),
        col("simhash").as(s"sim_$t"), col("chunk_id"), col("chunk")))

  private val hamming: Column =
    bit_count(col("sim_a").bitwiseXOR(col("sim_b")))

  /** Duplicate-CLUSTER extraction: connected components over the MinHash
    * candidate-pair graph, as (doc_id, cluster_rep = min doc_id of the
    * component). Pair lists answer "are these two near-dups?"; a real
    * dedup pipeline needs the transitive closure — A~B and B~C must
    * collapse to ONE surviving document even when A and C never share a
    * band (the keep-set is then `doc_id = cluster_rep`).
    *
    * Spark shape: driver-looped min-label propagation WITH pointer
    * jumping — per iteration one join of the label relation against the
    * (bounded, capped) edge list + a min-aggregate (one neighbor hop),
    * then a label-shortcut self-join (lbl := lbl's own label), each a key
    * shuffle of (id, label) longs; the shortcut makes the round count
    * O(log diameter) instead of O(diameter) (a 60-node chain converges in
    * ~7 rounds, PropertySpec-pinned), state O(nodes-in-pairs), never
    * O(docs). The loop is the k-means control-plane pattern (§2.5): the
    * CONVERGED result is a pure function of the edge set, independent of
    * iteration count, so the query stays hash-verifiable — the DuckDB
    * mirror computes the same fixed point via a recursive CTE. Convergence
    * test is exact integer label-sum (monotonically decreasing; no float
    * compare). The iteration cap is a safety rail and a non-converged run
    * FAILS loudly rather than emitting a partial labeling. */
  private[graft] def duplicateClusters(docs: DataFrame,
      cap: Int = BAND_CAP): DataFrame =
    componentsOf(minhashPairs(docs, cap))

  /** Driver-cap on the edge rows [[componentsOf]] may collect (1M
    * (long, long) pairs ≈ 16 MB payload — comfortably bounded; the
    * near-dup pair graphs of the fixtures are orders of magnitude
    * smaller). */
  private[graft] val COMPONENTS_DRIVER_EDGE_CAP = 1 << 20

  /** Connected components of an undirected (doc_a, doc_b) pair relation as
    * (doc_id, cluster_rep = component-min doc_id) — see
    * [[duplicateClusters]] for the loop-shape discussion.
    *
    * Control plane is ADAPTIVE (r21 optimization, guide §1.2): an edge
    * list under [[COMPONENTS_DRIVER_EDGE_CAP]] is collected and solved
    * with driver union-find (path-halving + union-by-size — the exact
    * component-min fixed point, microseconds at any in-cap size), an
    * over-cap graph falls back to the distributed label-propagation
    * loop unchanged. The collect is BOUNDED: take(cap+1) stops reading
    * past the cap, so the driver never holds more than cap+1 edges
    * either way. Both planes compute the identical (doc_id,
    * cluster_rep = component min) relation — union-find vs converged
    * min-label propagation is pure mechanism, the fixed point is a
    * function of the edge set alone (the DuckDB recursive-CTE oracles
    * re-prove it on every hash-gated caller). Measured motivation: at
    * bench scale the loop's ~7 rounds × (2 actions + 4 shuffles each)
    * were ~2-3 s of scheduling per components caller (9 declared
    * queries) for graphs of a few thousand edges. */
  private[graft] def componentsOf(pairs0: DataFrame,
      maxIter: Int = 30): DataFrame = {
    val pairs = pairs0.localCheckpoint()
    // the label relation's dtype under the distributed loop is the
    // union-coerced common type of (doc_a, doc_b) — mirror it exactly so
    // the two planes are schema-identical (plan-only, nothing executes)
    val outType = pairs.select(col("doc_a"))
      .union(pairs.select(col("doc_b"))).schema.head.dataType
    // driver-plane admission is gated on INTEGRAL id dtypes (r22,
    // round-21 verdict item 7): the probe casts ids to long and reads
    // them with getLong, so a non-numeric id type (string doc ids from a
    // future caller) would cast to null and NPE instead of computing —
    // the distributed plane handles any id type, so such a graph routes
    // there no matter its size. Every current caller is long-keyed.
    val integralIds = Seq("doc_a", "doc_b").forall { n =>
      pairs.schema(n).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => true
        case _ => false
      }
    }
    // ONE probe action serves both the empty-graph early exit and the
    // driver-plane admission (the former take(1) + take(cap+1) pair was
    // two sequential jobs per caller)
    val head =
      if (integralIds) pairs
        .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .take(COMPONENTS_DRIVER_EDGE_CAP + 1)
      else pairs.select(col("doc_a"), col("doc_b")).take(1)
    // an empty pair graph has an empty labeling (and the sum-of-labels
    // convergence probe of the distributed plane would read a null
    // aggregate) — exit early
    if (head.isEmpty)
      return pairs.select(col("doc_a").as("doc_id"),
        col("doc_b").as("cluster_rep"))
    if (integralIds && head.length <= COMPONENTS_DRIVER_EDGE_CAP) {
      val idx = new java.util.HashMap[java.lang.Long, Integer]()
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
      val size = scala.collection.mutable.ArrayBuffer.empty[Int]
      def nodeIdx(x: Long): Int = {
        val got = idx.get(x)
        if (got != null) got.intValue
        else {
          val i = ids.length
          idx.put(x, Integer.valueOf(i)); ids += x; parent += i; size += 1
          i
        }
      }
      def find(i0: Int): Int = {
        var r = i0
        while (parent(r) != r) {
          parent(r) = parent(parent(r)); r = parent(r)
        }
        r
      }
      for (row <- head) {
        val ra = find(nodeIdx(row.getLong(0)))
        val rb = find(nodeIdx(row.getLong(1)))
        if (ra != rb) {
          if (size(ra) < size(rb)) { parent(ra) = rb; size(rb) += size(ra) }
          else { parent(rb) = ra; size(ra) += size(rb) }
        }
      }
      val minOf = Array.fill(ids.length)(Long.MaxValue)
      for (i <- ids.indices) {
        val r = find(i)
        if (ids(i) < minOf(r)) minOf(r) = ids(i)
      }
      val rows = ids.indices
        .map(i => (ids(i), minOf(find(i)))).sortBy(_._1)
      val s = pairs.sparkSession
      import s.implicits._
      return rows.toDF("doc_id", "cluster_rep")
        .select(col("doc_id").cast(outType).as("doc_id"),
          col("cluster_rep").cast(outType).as("cluster_rep"))
        .orderBy(col("doc_id"))
    }
    componentsOfDistributed(pairs, maxIter)
  }

  /** The distributed min-label-propagation plane — the over-cap fallback
    * of [[componentsOf]] (expects an already-pinned pair relation; see
    * [[duplicateClusters]] for the loop-shape discussion, PropertySpec
    * drives it directly so the fallback stays covered even though the
    * fixtures all take the driver plane). */
  private[graft] def componentsOfDistributed(pairs: DataFrame,
      maxIter: Int = 30): DataFrame = {
    val edges = pairs.select(col("doc_a").as("s"), col("doc_b").as("t"))
      .union(pairs.select(col("doc_b").as("s"), col("doc_a").as("t")))
      .localCheckpoint()
    var labels = edges.select(col("s").as("id")).distinct()
      .select(col("id"), col("id").as("lbl")).localCheckpoint()
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val viaEdge = edges
        .join(labels.select(col("id").as("t"), col("lbl")), "t")
        .groupBy(col("s").as("id")).agg(min(col("lbl")).as("nlbl"))
      val hopped = labels.join(viaEdge, Seq("id"))
        .select(col("id"), least(col("lbl"), col("nlbl")).as("lbl"))
      // pointer jumping: every label is itself a node id (labels start as
      // ids and only ever copy other labels), so shortcut lbl to ITS
      // label — halves the remaining path depth each round
      val next = hopped
        .join(hopped.select(col("id").as("lbl"), col("lbl").as("lbl2")),
          Seq("lbl"))
        .select(col("id"), col("lbl2").as("lbl"))
        .localCheckpoint()
      // convergence = NO label changed this round — an exact, dtype-
      // agnostic probe (r22: the former integer label-sum compare
      // assumed numeric ids, which is why this plane could not actually
      // serve as componentsOf's any-type fallback). take(1) stops at the
      // first changed row; both sides of the probe join are pinned.
      converged = next
        .join(labels.select(col("id"), col("lbl").as("plbl")), Seq("id"))
        .where(col("lbl") =!= col("plbl")).take(1).isEmpty
      labels = next
      it += 1
    }
    require(converged, s"label propagation did not converge in $maxIter iters")
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_rep"))
      .orderBy(col("doc_id"))
  }

  // ----------------------------------------------- decontamination

  /** Benchmark-decontamination config (the C4/GPT-3/Llama pipeline step:
    * drop training documents that collide with an evaluation benchmark on
    * a long n-gram, so reported eval scores measure generalization, not
    * memorized test data). The fixture stand-in for the benchmark table is
    * the first [[NEVAL]] documents; a real deployment reads the eval
    * suite instead — the shapes below only assume the eval side is
    * benchmark-sized (bounded by construction, hence broadcast-able).
    * DECON_N = 5 word-grams: long enough that a collision means lifted
    * text rather than a common phrase on real corpora, short enough that
    * the fixture's 16-96-token docs carry many grams. */
  private[graft] val NEVAL = 20L
  private[graft] val DECON_N = 5

  private def sh5(text: Column): Column =
    org.apache.spark.sql.graft.WordShingles.column(text, DECON_N)

  /** (doc_id, eval_id, n_shared): each training doc sharing at least one
    * distinct word [[DECON_N]]-gram with an eval doc, with the count of
    * shared grams. Scale shape: the eval gram relation broadcasts (eval
    * suites are small by construction); the corpus side is explode →
    * broadcast-hash-join — the corpus is never shuffled, and the pair
    * aggregate sees only HIT rows (decontamination hits are the rare
    * case: per-gram collision across unrelated docs is what DECON_N is
    * sized to exclude). Both shingle sets are per-doc DISTINCT, so each
    * (train, eval) gram match counts once in both engines. */
  private[graft] def contamPairs(docs: DataFrame): DataFrame =
    contamPairsOf(docs.where(col("doc_id") >= NEVAL),
      docs.where(col("doc_id") < NEVAL))

  /** The pair core over SEPARATE train/eval relations — factored so the
    * streaming form ([[graft.streaming.StreamingOps]] `streaming_decontam`)
    * can gram-check a document STREAM against the standing batch eval
    * side; the eval grams stay broadcast either way. */
  private[graft] def contamPairsOf(train0: DataFrame,
      evalDocs: DataFrame): DataFrame = {
    val ev = evalDocs
      .select(col("doc_id").as("eval_id"), explode(sh5(col("text"))).as("s"))
    val train = train0
      .select(col("doc_id"), explode(sh5(col("text"))).as("s"))
    train.join(broadcast(ev), "s")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  // ------------------------------------------------------------- queries

  /** Incremental-dedup core (see the `dedup_incremental` query): collapse
    * within-delta duplicate texts to their min-id survivor, then drop
    * survivors whose digest already exists in `base`. Both inputs need
    * (doc_id, text); only digests ever shuffle. */
  private[graft] def incrementalSurvivors(base: DataFrame,
      delta: DataFrame): DataFrame = {
    val idx = base.select(digest(col("text")).as("h")).distinct()
    delta.groupBy(digest(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .join(idx, Seq("h"), "left_anti")
      .select(col("doc_id"))
  }

  /** Incremental NEAR-dup core (see `dedup_minhash_incremental`): delta
    * docs whose bands collide with the base band index exit first, the
    * rest collapse within-delta to their component-min survivor. Band
    * cells are capped over the COMBINED base+delta population (a cell hot
    * in the base must not be probed). `docs` needs (doc_id, text);
    * `isBase` must be a pure function of `doc_id` (it is evaluated on
    * both the docs and the band relation), which is what lets the whole
    * corpus run ONE scan + ONE signature aggregate and split afterwards —
    * the single-pass shape the DuckDB oracle uses too. Bandless docs
    * (<3 words) pass through. */
  private[graft] def incrementalNearDupSurvivors(docs: DataFrame,
      isBase: Column, cap: Int = BAND_CAP): DataFrame = {
    // checkpoint once: the capped relation feeds the probe join AND the
    // within-delta self-join
    val capped = cappedBands(minhashBands(docs).localCheckpoint(), cap)
      .localCheckpoint()
    val baseB = capped.where(isBase)
    val deltaB = capped.where(!isBase)
    val collide = deltaB
      .join(baseB.select(col("band_id"), col("band_hash")),
        Seq("band_id", "band_hash"), "left_semi")
      .select(col("doc_id")).distinct()
    val rem = deltaB.join(collide, Seq("doc_id"), "left_anti")
    deltaSurvivors(docs, isBase, collide, bandPairs(rem))
  }

  /** EXACT-substring dedup audit (the suffix-array ExactSubstr step of
    * the modern curation stack, re-expressed for a cluster — see the
    * `dedup_substring` query): every length-[[SUBSTR_L]] word window
    * (positional multiset — within-doc repeats count) hashes to 60 bits;
    * a window whose hash occurs more than once ANYWHERE in the corpus is
    * a duplicated span. Output is the per-doc audit `(doc_id, n_spans,
    * n_dup_spans)` a removal pass filters on. Scale shape: explode →
    * hash → one count aggregate keyed by the 60-bit hash (map-side
    * combined; only longs shuffle) → semi-join back. The dup-hash set is
    * corpus-scaled in the worst case, so it is never STATICALLY
    * broadcast (AQE may still runtime-convert when the measured set is
    * tiny — the size-gated safe case); all window strings live only
    * inside the scan-side projection. Docs with <L words carry no
    * windows and drop out (no spans to audit). */
  private[graft] def substringAudit(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = docs
      .select(col("doc_id"), explode(
        org.apache.spark.sql.graft.WordShingles.all(col("text"), SUBSTR_L))
        .as("win"))
      .select(col("doc_id"), h60(col("win")).as("h"))
    // global per-hash occurrence count as ONE unordered window over the
    // h exchange (r22, guide §2.4): the previous shape (checkpoint the
    // hash rows, aggregate the dup set, left-join it back by h) read the
    // checkpointed explode output twice and paid a second h-keyed
    // exchange for the join; the window computes the same global count
    // on the single h exchange the join needed anyway — the explode
    // output is consumed once, no checkpoint job, one branch. Skew
    // exposure is unchanged: a hot boilerplate hash landed in one
    // sort-merge-join partition before and lands in one window partition
    // now. A window whose h-count > 1 is a duplicated span — identical
    // to the dup-set mark, and the per-doc aggregate is byte-identical.
    val dupWin = Window.partitionBy(col("h"))
    wins
      .withColumn("c", count(lit(1)).over(dupWin))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("c") > 1, 1)).as("n_dup_spans"))
  }

  /** The substring-removal core (see the `dedup_substring_apply` query):
    * keep docs whose duplicated-span fraction stays within
    * [[SUBSTR_DROP_NUM]]/[[SUBSTR_DROP_DEN]], windowless docs reinstated
    * with a zeroed audit. */
  private[graft] def substringApply(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(substringAudit(docs), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .where(col("n_dup_spans") * SUBSTR_DROP_DEN <=
        col("n_spans") * SUBSTR_DROP_NUM)

  /** The span-EXCISION core (see the `dedup_substring_excise` query):
    * where [[substringApply]] keeps/drops WHOLE documents on their
    * duplicated-span fraction, this removes the duplicated spans
    * themselves and keeps the rest of each document — the ExactSubstr
    * discipline of "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al. 2022), where a cluster-scale pipeline excises
    * lifted passages rather than discarding the documents that carry
    * them. A word is excised iff ANY duplicated length-[[SUBSTR_L]]
    * window covers it — i.e. a duplicated window STARTS within the
    * previous `L-1` word positions — so overlapping duplicated spans
    * merge naturally and partially-duplicated documents survive with
    * their unique text intact.
    *
    * Scale shape: the audit's explode → hash-count machinery unchanged
    * (window strings never shuffle; the dup set joins back by 60-bit
    * hash, never statically broadcast — corpus-scaled worst case, same
    * rationale as [[substringAudit]]). Coverage marking is ONE range
    * window over a UNION of word rows and dup-start marker rows — the
    * marker rows ride the same doc_id exchange the reassembly groupBy
    * reuses, so the whole excise pass after candidate hashing is a
    * single corpus-token-sized shuffle (the word text rides it by
    * necessity: the reassembly needs it back — paragraphApply's rule),
    * and there is no per-word × per-span join anywhere. Output follows
    * the apply-family convention: counts + kept length + the kept
    * text's digest (the digest pins the reconstruction bit-for-bit
    * without dumping row-scaled text). */
  private[graft] def substringExcise(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // word rows carry ds=0; duplicated-window START rows carry ds=1 at
    // the start's word position. Both use the SAME tokenization, so a
    // start position is always a valid word position.
    val tok = docs
      .select(col("doc_id"), posexplode(wordsCol(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("w"),
        lit(0).as("ds"))
    val wins = docs
      .select(col("doc_id"), posexplode(
        org.apache.spark.sql.graft.WordShingles.all(col("text"), SUBSTR_L)))
      .select(col("doc_id"), col("pos"), h60(col("col")).as("h"))
    // duplicated-window starts via ONE unordered window over the h
    // exchange (substringAudit's r22 restructure): the global per-hash
    // count replaces the checkpoint + dup-set aggregate + semi-join —
    // the explode output is consumed once and the semi-join's h exchange
    // becomes the window's, so the whole candidate pass is one shuffle
    // shorter. count > 1 ⇔ the semi-join's membership test.
    val ds = wins
      .withColumn("c", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .where(col("c") > 1)
      .select(col("doc_id"), col("pos"),
        lit(null).cast("string").as("w"), lit(1).as("ds"))
    // covered(p) ⇔ max(ds) over positions [p-L+1, p] is 1: a RANGE frame
    // over the int position, so marker rows count as peers of the word
    // row sharing their position. One window, one exchange.
    val covWin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rangeBetween(-(SUBSTR_L - 1), Window.currentRow)
    val cov = tok.unionAll(ds)
      .select(col("doc_id"), col("pos"), col("w"),
        (max(col("ds")).over(covWin) === 1).as("covered"))
      .where(col("w").isNotNull) // marker rows served the frame; drop them
    val agg = cov.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        count(when(!col("covered"), 1)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(when(!col("covered"),
            struct(col("pos"), col("w"))))),
          x => x.getField("w")), " ").as("kept_text"))
    // wordless docs carry no token rows: reinstated with a zeroed audit
    // (substringApply's convention), digest pinned to the empty text
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(length(col("kept_text")), lit(0)).as("kept_len"),
        coalesce(digest(col("kept_text")), digest(lit(""))).as("kept_digest"))
  }

  // dedup_paragraph: words per paragraph block. The fixture's texts are
  // single-line (no '\n' separators a crawl corpus would carry), so the
  // paragraph unit is a deterministic fixed-width word block — the
  // doc_chunks fixed-stride discipline applied to words. ONE constant
  // feeds the Spark relation and the SQL twin.
  private[graft] val PARA_W = 10

  /** The per-paragraph relation shared by the `dedup_paragraph` audit and
    * its apply: 10-word blocks with position + word count + text. */
  private def paragraphBlocks(docs: DataFrame): DataFrame = {
    val nBlocks = floor((size(col("ws")) - 1) / lit(PARA_W)).cast("int")
    docs.select(col("doc_id"), wordsCol(col("text")).as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("doc_id"), col("ws"),
        posexplode(transform(sequence(lit(0), nBlocks),
          i => array_join(slice(col("ws"), i * PARA_W + 1, lit(PARA_W)),
            " "))))
      .select(col("doc_id"), col("pos").as("para_idx"),
        least(lit(PARA_W), size(col("ws")) - col("pos") * PARA_W)
          .cast("int").as("n_words"),
        col("col").as("para"))
  }

  /** The paragraph-dedup core (see the `dedup_paragraph` query): first
    * global occurrence of each block survives — ordered by (doc_id,
    * para_idx), windowed by the block DIGEST (never the raw text: the
    * 100 TB shuffle carries 16 bytes + two ids per block). */
  private[graft] def paragraphAudit(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the digest is PROJECTED before the window and the block text
    // dropped, so the exchange really does carry only digest + ids +
    // n_words per block (windowing on digest(para) directly would haul
    // the text through the shuffle just to re-evaluate the key)
    val w = Window.partitionBy(col("h"))
      .orderBy(col("doc_id"), col("para_idx"))
    paragraphBlocks(docs)
      .select(col("doc_id"), col("para_idx"), col("n_words"),
        digest(col("para")).as("h"))
      .select(col("doc_id"), col("para_idx"), col("n_words"),
        (row_number().over(w) === 1).as("keep"))
  }

  /** The paragraph-removal core (see the `dedup_paragraph_apply` query):
    * each doc re-assembled from its kept blocks in position order;
    * collect_list drops the when()-nulled dropped blocks, sort_array
    * restores document order regardless of shuffle arrival. */
  private[graft] def paragraphApply(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the block text rides this exchange by necessity (the reassembly
    // needs it back); the digest is still pre-projected so the window
    // key is not re-hashed post-shuffle
    val w = Window.partitionBy(col("h"))
      .orderBy(col("doc_id"), col("para_idx"))
    val kept = paragraphBlocks(docs)
      .select(col("doc_id"), col("para_idx"), col("para"),
        digest(col("para")).as("h"))
      .select(col("doc_id"), col("para_idx"), col("para"),
        (row_number().over(w) === 1).as("keep"))
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        count(when(col("keep"), 1)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(when(col("keep"),
            struct(col("para_idx"), col("para"))))),
          x => x.getField("para")), " ").as("kept_text"))
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        length(col("kept_text")).as("kept_len"),
        digest(col("kept_text")).as("kept_digest"))
  }

  /** The paragraph-incremental core (see `dedup_paragraph_incremental`):
    * base/delta split on the deterministic hash uniform, within-delta
    * first-occurrence collapse first (it wins the attribution), then
    * base-digest collision; factored so PropertySpec can drive it over
    * a constructed base/delta corpus. */
  private[graft] def paragraphIncremental(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isBase =
      graft.functions.VectorOps.unitUniform(col("doc_id")) < 0.7
    val withH = paragraphBlocks(docs)
      .select(col("doc_id"), col("para_idx"), col("n_words"),
        digest(col("para")).as("h"))
    val base = withH.where(isBase).select(col("h")).distinct()
    val w = Window.partitionBy(col("h"))
      .orderBy(col("doc_id"), col("para_idx"))
    withH.where(!isBase)
      .select(col("doc_id"), col("para_idx"), col("n_words"), col("h"),
        (row_number().over(w) === 1).as("first_d"))
      .join(base.select(col("h"), lit(true).as("inb")), Seq("h"), "left")
      .select(col("doc_id"), col("para_idx"), col("n_words"),
        when(not(col("first_d")), "delta")
          .when(col("inb").isNotNull, "base")
          .otherwise("kept").as("stage"))
      .withColumn("keep", col("stage") === "kept")
  }

  /** `source_overlap` core over any (doc_id, source, text) relation —
    * the cross-source duplicate-overlap matrix (which sources republish
    * which): n_overlap(a, b) = a's docs whose exact text also appears in
    * b (diagonal = a's docs duplicated WITHIN a), plus the integer-ppm
    * share of a's corpus. The governance read before mixing corpora:
    * a source pair with high overlap double-counts under any recipe
    * weights, and the diagonal is each source's own dup mass.
    *
    * Scale shape: ONE corpus pass — the (digest, source) pre-aggregate
    * (map-side combined; the dedup_exact digest discipline, never raw
    * text) also yields the per-source totals by re-aggregating its own
    * bounded output; singleton digests (the overwhelming mass of a real
    * corpus) are dropped by a window total BEFORE the pair join, so the
    * join runs only over genuinely duplicated digests, keyed on the
    * digest with output bounded by |sources|² per digest — never
    * all-pairs, never text. Factored so the spec can drive it over a
    * constructed corpus. */
  private[graft] def sourceOverlap(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE corpus pass, materialized: three consumers (the dup window,
    // the pair join's second side, the per-source totals) would each
    // recompute the digest aggregate from the raw text without this —
    // measured 3 full corpus scans in the physical plan. The checkpoint
    // holds only (16-byte digest, source, count) rows — the narrow
    // relation dedup_exact's discipline says may shuffle at 100 TB
    // (rank_fusion's shared-termMatches precedent).
    val g = docs
      .groupBy(digest(col("text")).as("h"), col("source"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val dupd = g
      .withColumn("tot", sum(col("c")).over(Window.partitionBy(col("h"))))
      .where(col("tot") >= 2)
    val a = dupd.select(col("h"), col("source").as("src_a"), col("c").as("c_a"))
    val b = dupd.select(col("h"), col("source").as("src_b"))
    // totals from g's own bounded output: every doc lands in exactly one
    // (digest, source) cell, so sum(c) per source IS the corpus count —
    // no second corpus scan
    val totals = g.groupBy(col("source").as("src_a"))
      .agg(sum(col("c")).as("n_docs_a"))
    a.join(b, Seq("h"))
      .where(col("src_a") =!= col("src_b") || col("c_a") >= 2)
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("c_a")).as("n_overlap"))
      .join(broadcast(totals), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("n_docs_a"), col("n_overlap"),
        expr("(n_overlap * 1000000) div n_docs_a").as("share_ppm"))
  }

  /** `source_overlap`'s fixture shim: the raw fixture has NO exact text
    * duplicates at all (every doc body is unique), so — the dataset_diff
    * / dedup_url precedent — cross-source duplication is synthesized as
    * a pure function of the parquet source: every doc with doc_id ≡ 5
    * (mod 9) takes a shared payload keyed by its 200-block. 9 is coprime
    * with the source period 20, so each 200-block's shim group spans ~20
    * sources (off-diagonal overlap), and since lcm(9, 20) = 180 < 200
    * some sources repeat within a block (diagonal overlap) — both matrix
    * arms fire and the oracle checks the WHOLE shim+matrix computation. */
  private[graft] val overlapShimExpr: Column =
    when(col("doc_id") % 9 === 5,
      concat(lit("shared resource "), expr("doc_id div 200").cast("string")))
      .otherwise(col("text"))

  private[graft] val overlapShimSql: String =
    """CASE WHEN doc_id % 9 = 5
      |     THEN 'shared resource ' || (doc_id // 200)::VARCHAR
      |     ELSE text END""".stripMargin

  /** Deterministic per-doc URL for the dedup_url fixture — the lake's
    * `source` axis promoted to a crawl-style URL. Every 4 consecutive
    * doc_ids share one logical resource (same host/path/params) published
    * under 4 surface variants: http vs https, `www.` prefix, a trailing
    * slash before the query, swapped query-parameter order, and a
    * fragment — the drift axes a crawler actually sees. Synthesized
    * because the fixture's `source` column is an opaque enum (the
    * scan_csv_badrecords precedent: the expected structure is a pure
    * function of the parquet source, so the oracle checks the WHOLE
    * canonicalize-and-dedup computation). On real data the url is just a
    * column; only this generator is fixture-specific. */
  private[graft] val urlGenExpr: Column = expr(
    """concat(
      |  CASE WHEN doc_id % 4 IN (0,1) THEN 'http://' ELSE 'https://' END,
      |  CASE WHEN doc_id % 4 IN (1,3) THEN 'www.' ELSE '' END,
      |  'h', CAST((doc_id div 4) % 50 AS STRING), '.example.com',
      |  '/d/', CAST(doc_id div 4 AS STRING),
      |  CASE WHEN doc_id % 4 = 2 THEN '/' ELSE '' END,
      |  CASE WHEN doc_id % 4 = 3
      |    THEN concat('?b=', CAST((doc_id div 4) % 9 AS STRING),
      |                '&a=', CAST((doc_id div 4) % 7 AS STRING))
      |    ELSE concat('?a=', CAST((doc_id div 4) % 7 AS STRING),
      |                '&b=', CAST((doc_id div 4) % 9 AS STRING)) END,
      |  CASE WHEN doc_id % 4 = 1 THEN '#frag' ELSE '' END)""".stripMargin)

  private[graft] val urlGenSql: String =
    """(CASE WHEN doc_id % 4 IN (0,1) THEN 'http://' ELSE 'https://' END ||
      | CASE WHEN doc_id % 4 IN (1,3) THEN 'www.' ELSE '' END ||
      | 'h' || ((doc_id // 4) % 50)::VARCHAR || '.example.com' ||
      | '/d/' || (doc_id // 4)::VARCHAR ||
      | CASE WHEN doc_id % 4 = 2 THEN '/' ELSE '' END ||
      | CASE WHEN doc_id % 4 = 3
      |   THEN '?b=' || ((doc_id // 4) % 9)::VARCHAR ||
      |        '&a=' || ((doc_id // 4) % 7)::VARCHAR
      |   ELSE '?a=' || ((doc_id // 4) % 7)::VARCHAR ||
      |        '&b=' || ((doc_id // 4) % 9)::VARCHAR END ||
      | CASE WHEN doc_id % 4 = 1 THEN '#frag' ELSE '' END)""".stripMargin

  /** URL canonicalization — text_normalize's discipline applied to the
    * crawl axis: strip scheme and `www.`, drop the fragment, remove a
    * trailing slash before the query, and order query parameters
    * canonically (bounded param set → one anchored capture-group rewrite;
    * an unbounded param list would split/sort/rejoin instead). Anchored
    * ASCII regexes in the Java∩RE2∩DuckDB common dialect. */
  private[graft] def urlCanonCol(u: Column): Column = {
    val noScheme = regexp_replace(u, "^https?://", "")
    val noWww = regexp_replace(noScheme, "^www\\.", "")
    val noFrag = regexp_replace(noWww, "#.*$", "")
    val noSlash = regexp_replace(noFrag, "/\\?", "?")
    regexp_replace(noSlash, "\\?b=([0-9]+)&a=([0-9]+)$", "?a=$2&b=$1")
  }

  private[graft] def urlCanonSql(u: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |  regexp_replace($u, '^https?://', ''),
       |  '^www\\.', ''), '#.*$$', ''), '/\\?', '?'),
       |  '\\?b=([0-9]+)&a=([0-9]+)$$', '?a=\\2&b=\\1')""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_url" -> { (s, d) =>
      // URL/metadata-level dedup (round-12 verdict item 6) — the cheapest
      // and first dedup pass a crawl pipeline runs: canonicalize the URL,
      // keep one fetch per canonical resource. Narrow codegen
      // canonicalization projection, then ONE shuffle on the
      // high-cardinality canonical key (window partitions are the
      // variant sets, bounded by the crawl's per-resource fetch count) —
      // no broadcast, no skew axis, the exact shape of dedup_exact.
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d)
        .select(col("doc_id"), urlGenExpr.as("url"))
        .withColumn("canon_url", urlCanonCol(col("url")))
        .withColumn("keep", col("doc_id") ===
          min(col("doc_id")).over(Window.partitionBy(col("canon_url"))))
        .select(col("doc_id"), col("url"), col("canon_url"), col("keep"))
    },
    "dedup_url_apply" -> { (s, d) =>
      // the audit's consuming pass (the family's apply twin): one
      // canonical resource → one surviving fetch (min doc_id) plus its
      // variant count — the column a curation report tracks as "URL-level
      // duplication rate". ONE map-side-combined hash aggregate on the
      // canonical key; no window, no second shuffle.
      Tables.documents(s, d)
        .select(col("doc_id"), urlGenExpr.as("url"))
        .withColumn("canon_url", urlCanonCol(col("url")))
        .groupBy(col("canon_url"))
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_variants"))
        .select(col("doc_id"), col("canon_url"), col("n_variants"))
    },
    "dedup_exact" -> { (s, d) =>
      // hash-groupBy dedup: at 100 TB you group by a digest, never the raw
      // text; see digest() for the md5-oracle vs xxhash64-bench split.
      Tables.documents(s, d)
        .groupBy(digest(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_doc_id"), col("n_copies"))
    },
    "dedup_exact_docs" -> { (s, d) =>
      // the surviving-document view (DISTINCT-equivalent)
      Tables.documents(s, d)
        .groupBy(digest(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
    },
    "dedup_url_incremental" -> { (s, d) =>
      // the URL member of the incremental dedup matrix (exact / MinHash /
      // embedding / media / paragraph have theirs): a crawl delta's
      // canonical URLs deduped against the standing corpus's
      // canonical-URL index — within-delta first-fetch collapse first
      // (wins the stage attribution, the family's priority rule), then
      // standing collision via a shuffled left join on the canonical key
      // (bucketable at deployment). Split = md5-parity of doc_id rather
      // than the usual unitUniform: the multiplicative-hash uniform is
      // LOW-DISCREPANCY over consecutive ids (4 consecutive fetch
      // variants of one resource can never land all-delta, so the 'kept'
      // arm would never fire); hashing the id through h60 decorrelates
      // the split from the resource grouping — all three stages fire on
      // the fixture (108 base / 122 delta / 5 kept).
      import org.apache.spark.sql.expressions.Window
      val urls = Tables.documents(s, d)
        .select(col("doc_id"), urlGenExpr.as("url"))
        .withColumn("canon_url", urlCanonCol(col("url")))
        .withColumn("par", pmod(h60(col("doc_id").cast("string")), lit(2L)))
      val base = urls.where(col("par") === 0)
        .select(col("canon_url")).distinct()
      val w = Window.partitionBy(col("canon_url")).orderBy(col("doc_id"))
      urls.where(col("par") === 1)
        .withColumn("first_d", row_number().over(w) === 1)
        .join(base.select(col("canon_url"), lit(true).as("inb")),
          Seq("canon_url"), "left")
        .select(col("doc_id"), col("canon_url"),
          when(not(col("first_d")), "delta")
            .when(col("inb").isNotNull, "base")
            .otherwise("kept").as("stage"))
    },
    "source_overlap" -> { (s, d) =>
      // the cross-source duplicate-overlap matrix (see sourceOverlap):
      // which sources republish which — the double-counting audit read
      // before trusting any mixing recipe over a multi-source corpus
      sourceOverlap(Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          overlapShimExpr.as("text")))
    },
    "dedup_incremental" -> { (s, d) =>
      // the PRODUCTION dedup deployment shape: a new crawl DELTA deduped
      // against the standing corpus's digest index — you never re-dedup
      // 100 TB to ingest a day's crawl. Base/delta split by the
      // deterministic hash uniform (the holdout discipline); the base
      // index is corpus-scaled, so the collision check is a SHUFFLED
      // anti-join on 16-byte digests (broadcast would be O(corpus) — in a
      // real deployment the digest index is a bucketed layout and this
      // anti-join co-locates with zero exchange, join_bucketed's shape).
      // Within-delta dups collapse first (digest groupBy, min id
      // survivor), then delta survivors whose text already exists in the
      // base exit. Output: the delta doc ids actually worth ingesting.
      // MEASURED fixture honesty: documents carries exact-duplicate texts
      // only at sf0.1 (4992 distinct of 5000; 500/500 below), so on the
      // small fixtures every delta doc survives — the oracle still pins
      // the full pipeline bit-for-bit, and BOTH drop paths (within-delta
      // collapse, base collision) are proven on constructed corpora in
      // PropertySpec.
      val docs = Tables.documents(s, d)
      val isBase = graft.functions.VectorOps.unitUniform(col("doc_id")) < 0.7
      incrementalSurvivors(docs.where(isBase), docs.where(!isBase))
    },
    "dedup_minhash" -> { (s, d) =>
      minhashPairs(Tables.documents(s, d)).orderBy(col("doc_a"), col("doc_b"))
    },
    "dedup_cascade" -> { (s, d) =>
      // the production dedup DEPLOYMENT ORDER as one attributed pass:
      // exact (digest groupBy, min-id survivor) FIRST, then MinHash
      // near-dup over the SURVIVORS only — with per-doc attribution of
      // the first stage that dropped it, the report a pipeline team
      // actually reads. The stage order is not cosmetic: banding the
      // survivors caps cells over the POST-exact population, so a cell
      // that exact duplicates made hot (1000 clones share every band)
      // comes back under the cap and its near-dups become findable —
      // running LSH before exact dedup forfeits them (PropertySpec
      // proves exactly this on a constructed corpus). Scale shape is the
      // two parents' unchanged: one digest aggregate, survivor-restricted
      // banding, bare-id pairs, component min-id keep.
      val docs = Tables.documents(s, d)
      val kept1 = docs
        .groupBy(digest(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")).localCheckpoint()
      val surv = docs.join(kept1, Seq("doc_id"), "left_semi")
      val nonRep = nonRepOf(minhashPairs(surv))
      docs.select(col("doc_id"))
        .join(kept1.withColumn("s1", lit(true)), Seq("doc_id"), "left")
        .join(nonRep.withColumn("s2", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("s1").isNull, lit("exact"))
            .when(col("s2").isNotNull, lit("minhash"))
            .otherwise(lit("kept")).as("stage"))
    },
    "dedup_fuzzy" -> { (s, d) =>
      // edit-distance near-dups: banded MinHash candidates verified by a
      // THRESHOLD levenshtein (≤ τ=5) — see [[fuzzyPairs]]
      fuzzyPairs(Tables.documents(s, d))
    },
    "dedup_fuzzy_incremental" -> { (s, d) =>
      // the EDIT-METRIC member closing the incremental dedup matrix
      // (exact / URL / MinHash / SimHash / embedding / media / paragraph
      // all have theirs): delta docs banded against the standing corpus's
      // MinHash band index, but — like the simhash form and unlike the
      // plain MinHash one — a band collision is only a CANDIDATE: the
      // drop decision is the thresholded levenshtein ≤ FUZZY_TAU
      // (dedup_fuzzy's own criterion, banded DP so a non-match exits
      // early) on both the standing probe and the within-delta pairs.
      // Texts join only onto the already-banded candidate pairs (bare
      // ids ride the band join), the dedup family's never-shuffle-text
      // discipline.
      val docs = Tables.documents(s, d)
      val isBase =
        graft.functions.VectorOps.unitUniform(col("doc_id")) < 0.7
      val t = docs.select(col("doc_id"), col("text"))
      val capped = cappedBands(minhashBands(docs).localCheckpoint())
        .withColumn("is_base", isBase)
        .localCheckpoint()
      val baseB = capped.where(col("is_base"))
      val deltaB = capped.where(!col("is_base"))
      val collide = deltaB.select(col("doc_id"), col("band_id"),
          col("band_hash"))
        .join(baseB.select(col("doc_id").as("doc_b"), col("band_id"),
          col("band_hash")), Seq("band_id", "band_hash"))
        .select(col("doc_id"), col("doc_b")).distinct()
        .join(t.select(col("doc_id"), col("text").as("ta")), "doc_id")
        .join(t.select(col("doc_id").as("doc_b"), col("text").as("tb")),
          "doc_b")
        .where(editDist(col("ta"), col("tb")) =!= -1)
        .select(col("doc_id")).distinct()
      val rem = deltaB.join(collide, Seq("doc_id"), "left_anti")
      val pairs = bandPairs(rem)
        .join(t.select(col("doc_id").as("doc_a"), col("text").as("ta")),
          "doc_a")
        .join(t.select(col("doc_id").as("doc_b"), col("text").as("tb")),
          "doc_b")
        .where(editDist(col("ta"), col("tb")) =!= -1)
        .select(col("doc_a"), col("doc_b"))
      deltaSurvivors(docs, isBase, collide, pairs)
    },
    "dedup_fuzzy_apply" -> { (s, d) =>
      // the keep set under the EDIT-verified pair relation — same
      // component-min survivor convention as dedup_minhash_apply, but
      // clusters form only over pairs that passed the levenshtein
      // verify: a candidate pair the edit metric rejects (the fixture's
      // distance-8 transitive pair) contributes no edge, so chains of
      // "each step similar" that drift far apart stop merging — the
      // semantic difference between banding-as-candidates and
      // banding-as-truth.
      val docs = Tables.documents(s, d)
      val nonRep = nonRepOf(fuzzyPairs(docs).select(col("doc_a"), col("doc_b")))
      docs.select(col("doc_id"))
        .join(dropSetHint(docs, nonRep), Seq("doc_id"), "left_anti")
    },
    "dedup_minhash_incremental" -> { (s, d) =>
      // NEAR-dup twin of `dedup_incremental`: a crawl delta probed against
      // the standing corpus's MinHash BAND INDEX — the production ingest
      // shape where the base index is a persisted layout (here rebuilt
      // from the base split, exactly as the digest index is in
      // `dedup_incremental`). Three stages, each scale-clean:
      //   1. delta bands probe the base index (equi-join on the band cell;
      //      left_semi, so base-side cell population never fans out) —
      //      any collision means "near-dup of something we already have".
      //   2. surviving delta bands self-join within the delta (the
      //      dedup_minhash shape at delta ≪ corpus size).
      //   3. within-delta components collapse to their min-id rep
      //      (transitive: A~B, B~C keep only A — the dedup_clusters
      //      fixed point over delta-only edges).
      // Cap discipline: cells are capped over the WHOLE corpus population
      // before the split (a cell hot in the base must not be probed —
      // same cells the batch queries drop). Docs with <3 words have no
      // bands, can't near-dup, and pass through. Output: delta doc ids
      // worth ingesting. Core factored as [[incrementalNearDupSurvivors]]
      // (PropertySpec proves both drop paths on constructed corpora).
      val docs = Tables.documents(s, d)
      val uu = graft.functions.VectorOps.unitUniform(col("doc_id"))
      incrementalNearDupSurvivors(docs, uu < 0.7)
    },
    "dedup_minhash_scored" -> { (s, d) =>
      // LSH candidates + the MinHash similarity ESTIMATE: the fraction of
      // agreeing signature slots estimates Jaccard without touching the
      // original text — the triage step that decides verify-vs-drop
      // before any expensive exact comparison. Output is the integer
      // match count (0..32): exact, no float compare hazards; the
      // signature relation is materialized once (eager localCheckpoint —
      // its blocks die with the plan, unlike a session-lifetime cache)
      // and joined three ways on doc_id.
      val sig = minhashSignatures(Tables.documents(s, d)).localCheckpoint()
      val pairs = bandPairs(cappedBands(bandsOf(sig)))
      val sigA = sig.select(col("doc_id").as("doc_a") +:
        (0 until MINHASH_PERMS).map(j => col(s"m$j").as(s"a_m$j")): _*)
      val sigB = sig.select(col("doc_id").as("doc_b") +:
        (0 until MINHASH_PERMS).map(j => col(s"m$j").as(s"b_m$j")): _*)
      val nMatch = (0 until MINHASH_PERMS).map(j =>
        when(col(s"a_m$j") === col(s"b_m$j"), 1).otherwise(0)).reduce(_ + _)
      pairs.join(sigA, "doc_a").join(sigB, "doc_b")
        .select(col("doc_a"), col("doc_b"), nMatch.as("n_match"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    "dedup_substring" -> { (s, d) =>
      substringAudit(Tables.documents(s, d))
    },
    "dedup_substring_apply" -> { (s, d) =>
      // the REMOVAL step the audit feeds (the ExactSubstr discipline's
      // consuming pass): keep documents whose duplicated-span fraction
      // stays within SUBSTR_DROP_NUM/SUBSTR_DROP_DEN — the exact integer
      // cross-product compare — and pass windowless docs (<L words, no
      // spans to audit) through with a zeroed audit. Output carries the
      // audit columns, so downstream reporting needs no re-join. Scale
      // shape: the audit's explode/hash-count machinery unchanged; the
      // reinstating join is doc-id-keyed between two doc-count-sized
      // relations (never the exploded windows).
      substringApply(Tables.documents(s, d))
    },
    "dedup_substring_excise" -> { (s, d) =>
      // span-level REMOVAL — the third consumer of the substring audit
      // machinery and the modern pipeline's actual discipline (Lee et
      // al. 2022, C4/RefinedWeb): excise the duplicated spans, keep the
      // rest of every document. Completes the exact-substring family's
      // apply matrix: audit (dedup_substring) → doc-level keep/drop
      // (dedup_substring_apply) → span-level excision (this). See
      // [[substringExcise]] for the single-shuffle coverage-marking
      // shape; the kept text is digest-pinned, so the oracle verifies
      // the reconstruction bit-for-bit.
      substringExcise(Tables.documents(s, d))
    },
    "dedup_paragraph" -> { (s, d) =>
      // PARAGRAPH-granularity exact dedup — the C4/RefinedWeb discipline
      // between doc-level (dedup_exact: whole texts) and window-level
      // (dedup_substring: every 30-word span): drop repeated paragraphs
      // individually, keep the first occurrence globally, leave the rest
      // of each document intact. The fixture's single-line texts carry
      // no newline separators, so the paragraph unit is the
      // deterministic 10-word block (doc_chunks' fixed-stride
      // arithmetic applied to words; measured: 135 cross-doc duplicated
      // blocks at sf0.001 — both keep outcomes populated at every SF).
      // Scale shape: blocks are a per-doc narrow projection (no
      // explode-join machinery needed for EXACT units), survivor choice
      // is ONE window partitioned by the 16-byte block digest —
      // hash-spread over the digest domain, never a global sort; at
      // 100 TB this is the same shuffle class as dedup_exact's groupBy.
      paragraphAudit(Tables.documents(s, d))
    },
    "dedup_paragraph_apply" -> { (s, d) =>
      // the REMOVAL step the audit feeds: each doc re-assembled from its
      // KEPT blocks in position order — the per-doc kept text a C4-style
      // pipeline ships downstream. Emits counts + kept length + the kept
      // text's digest (html_extract's convention: the digest pins the
      // reconstruction bit-for-bit without dumping row-scaled text).
      // The reassembly groupBy is doc-keyed — corpus-sized, bounded
      // rows per key (a doc's own block count), no skew surface.
      paragraphApply(Tables.documents(s, d))
    },
    "dedup_paragraph_incremental" -> { (s, d) =>
      // the PARAGRAPH member of the incremental dedup matrix (exact /
      // MinHash / embedding / media have theirs): a crawl delta's
      // blocks deduped against the STANDING corpus's paragraph digest
      // index — the corpus's own blocks are never re-windowed against
      // each other. Family discipline: base/delta split by the one
      // deterministic hash uniform, within-delta first-occurrence
      // collapse fires FIRST (and wins the attribution — the embedding
      // form's priority rule), then surviving blocks exit on base
      // collision. The base side is corpus-scaled digests, so the
      // collision check is a SHUFFLED left join on 16-byte digests
      // (dedup_incremental's rationale — broadcast would be O(corpus);
      // a deployment buckets the digest index and this join co-locates
      // with zero exchange). Output: the delta's per-block audit with
      // stage attribution ('delta'/'base'/'kept') — what an ingest
      // pipeline logs before admitting the kept text.
      paragraphIncremental(Tables.documents(s, d))
    },
    "dedup_simhash" -> { (s, d) =>
      simhashFingerprints(Tables.documents(s, d))
    },
    "dedup_simhash_pairs" -> { (s, d) =>
      simhashPairs(Tables.documents(s, d))
    },
    "dedup_simhash_incremental" -> { (s, d) =>
      // the SIMHASH member of the incremental dedup matrix (exact /
      // MinHash / embedding / media / paragraph / URL have theirs): a
      // crawl delta's fingerprints probed against the standing corpus's
      // chunk index, then deduped within itself. Unlike the MinHash form
      // — where a band collision IS the near-dup decision — a chunk
      // collision here is only a CANDIDATE: the drop decision is the
      // exact hamming ≤ HAMMING_MAX verify on the 64-bit fingerprints
      // (dedup_simhash_pairs' own criterion), applied both against the
      // standing index and within the delta (chunk cells capped by
      // [[dropOverCap]], components by [[nonRepOf]]). Survivors = delta docs that collide with nothing
      // standing and are their within-delta cluster's representative.
      val docs = Tables.documents(s, d)
      val isBase =
        graft.functions.VectorOps.unitUniform(col("doc_id")) < 0.7
      val fp = simhashFingerprints(docs).localCheckpoint()
      val capped = dropOverCap(simhashChunks(fp), CHUNK_KEYS, CHUNK_CAP)
        .withColumn("is_base", isBase)
        .localCheckpoint()
      val baseC = capped.where(col("is_base"))
      val deltaC = capped.where(!col("is_base"))
      val collide = deltaC
        .join(baseC.select(col("chunk_id"), col("chunk"),
          col("simhash").as("sim_b")), Seq("chunk_id", "chunk"))
        .where(bit_count(col("simhash").bitwiseXOR(col("sim_b"))) <=
          HAMMING_MAX)
        .select(col("doc_id")).distinct()
      val rem = deltaC.join(collide, Seq("doc_id"), "left_anti")
      val pairs = chunkPairs(rem).where(hamming <= HAMMING_MAX)
        .select(col("doc_a"), col("doc_b")).distinct()
      deltaSurvivors(docs, isBase, collide, pairs)
    },
    "dedup_clusters" -> { (s, d) =>
      duplicateClusters(Tables.documents(s, d))
    },
    "dedup_minhash_apply" -> { (s, d) =>
      // the corpus-wide KEEP set of the near-dup pass — the apply form
      // the exact path has in `dedup_exact_docs`: each near-dup
      // cluster's representative (its component-min doc) survives, the
      // other members drop, docs in no pair keep themselves. Equivalent
      // to corpus ∖ non-representative-members; the drop side is
      // non-rep-sized (rare by construction), so it takes the same
      // conf-gated broadcast hint as every dedup drop set
      // (graft.dropSetBroadcast=false ⇒ AQE plans the shuffled fallback
      // on a pathologically duplicated corpus).
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"))
        .join(dropSetHint(docs, nonRepOf(minhashPairs(docs))),
          Seq("doc_id"), "left_anti")
    },
    "split_leakage_safe" -> { (s, d) =>
      // DEDUP-AWARE train/val/test split — the leakage-safe form of
      // split_assign: a near-dup pair straddling train and test leaks
      // eval content into training, so the split key is the document's
      // near-dup CLUSTER (its connected-component representative in the
      // minhash pair graph; its own id when unpaired), and every member
      // of a cluster inherits one assignment. The split itself is the
      // same pure hash-uniform as split_assign, applied to group_rep —
      // stable under repartitioning and re-runs, disjoint and exhaustive.
      // Scale shape: comps is O(nodes-in-pairs) ≪ corpus; the corpus
      // attaches group_rep with ONE shuffled left equi-join on doc_id
      // (comps is not broadcast-bounded — a heavily-duplicated crawl can
      // pair most of its docs), then the assignment is a narrow
      // projection. PropertySpec pins the invariant: no minhash pair
      // straddles two splits.
      val docs = Tables.documents(s, d)
      val grouped = docs.select(col("doc_id"))
        .join(duplicateClusters(docs), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_rep"), col("doc_id")).as("group_rep"))
      val u = graft.functions.VectorOps.unitUniform(col("group_rep"))
      grouped.select(col("doc_id"), col("group_rep"),
        when(u < 0.8, "train").when(u < 0.9, "val")
          .otherwise("test").as("split"))
    },
    "dedup_ngram" -> { (s, d) =>
      // n-gram Jaccard of every doc against a fixed 10-doc query set.
      // Inverted-index join: |A∩B| = match count of the exploded shingle
      // equi-join (the 10-doc side broadcasts), |A∪B| = na+nb−inter. Never
      // computes per-pair array_intersect — the 100 TB shape is
      // explode → broadcast-hash-join → pair aggregate. NO caching of the
      // exploded relation (30-70× input rows; round-2 cached it and leaked
      // the storage). The shingle HOF expression is interpreted
      // (CodegenFallback), so it must only ever run on `spread` partitions:
      // per-doc shingle counts re-aggregate the exploded rows (map-side
      // combine, one tiny (doc_id,count) shuffle) instead of a separate
      // unspread size() projection that serializes on the file task count
      // (measured 13 s vs 1 s at sf0.1 on local[32]).
      val docs = Tables.documents(s, d)
      val ex = docs.select(col("doc_id"),
        explode(shinglesOf(col("text"))).as("s"))
      val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
      val qex = docs.where(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"),
          explode(shinglesOf(col("text"))).as("s"))
      val inter = ex.join(broadcast(qex), "s")
        .where(col("doc_id") > col("q_id"))
        .groupBy(col("q_id"), col("doc_id"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.where(col("doc_id") < 10)
          .select(col("doc_id").as("q_id"), col("nsh").as("na"))), "q_id")
        .join(sizes.select(col("doc_id"), col("nsh").as("nb")), "doc_id")
        .withColumn("jac", round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 4))
        .where(col("jac") >= 0.05)
        .select(col("q_id"), col("doc_id"), col("jac"))
    },
    "decontam_report" -> { (s, d) =>
      // the audit view: which training docs collide with which eval docs,
      // and how hard — see contamPairs for semantics and scale shape
      contamPairs(Tables.documents(s, d))
    },
    "decontam_fuzzy" -> { (s, d) =>
      // the decontam family's LEXICAL NEAR-DUP member (round 20): the
      // exact 5-gram check (decontam_report) catches verbatim lifts and
      // decontam_semantic catches paraphrase by embedding; this catches
      // the middle case — an eval item that reached the crawl with LIGHT
      // EDITS (the templated-benchmark-perturbation leak), reported with
      // a bounded edit distance an auditor can action per pair. Shape is
      // dedup_fuzzy's across the train/eval boundary: ONE signature pass
      // over the whole corpus (the incremental family's single-pass
      // rationale — eval and train signatures come out of the same
      // aggregate), cells capped over the combined population, then the
      // benchmark-sized eval band relation BROADCASTS against the train
      // bands (the corpus never shuffles for the probe — the decontam
      // discipline), and candidates verify by the threshold-banded
      // levenshtein (O(len·τ) DP; kept rows carry the true distance, so
      // the column equals DuckDB's unbounded form). OperatorSpec pins
      // exact agreement with dedup_fuzzy's boundary-crossing pairs — two
      // family members that cannot drift.
      val docs = Tables.documents(s, d)
      val capped = cappedBands(minhashBands(docs).localCheckpoint())
      val evalB = capped.where(col("doc_id") < NEVAL)
        .select(col("doc_id").as("eval_id"), col("band_id"),
          col("band_hash"))
      val cand = capped.where(col("doc_id") >= NEVAL)
        .join(broadcast(evalB), Seq("band_id", "band_hash"))
        .select(col("doc_id"), col("eval_id")).distinct()
      val t = docs.select(col("doc_id"), col("text"))
      cand
        .join(t.select(col("doc_id"), col("text").as("tt")), "doc_id")
        .join(t.select(col("doc_id").as("eval_id"),
          col("text").as("te")), "eval_id")
        .select(col("doc_id"), col("eval_id"),
          editDist(col("tt"), col("te")).as("edit_dist"))
        .where(col("edit_dist") =!= -1)
    },
    "decontaminate" -> { (s, d) =>
      // the keep set: training docs with NO eval n-gram collision — the
      // relation a pipeline actually trains on. Anti-join against the hit
      // id set; the hit set is contaminated-docs-sized (rare by
      // construction), so it takes the same conf-gated broadcast hint as
      // the dedup drop sets (graft.dropSetBroadcast=false => AQE plans
      // the shuffled fallback on a pathologically contaminated corpus).
      val docs = Tables.documents(s, d)
      val hits = contamPairs(docs).select(col("doc_id")).distinct()
      docs.where(col("doc_id") >= NEVAL)
        .join(dropSetHint(docs, hits), Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
    },
    "decontam_incremental" -> { (s, d) =>
      // the decontamination twin of dedup_incremental — the production
      // shape once a corpus is live: only the crawl DELTA is gram-checked
      // against the STANDING eval-gram index (benchmark-sized by
      // construction, so it broadcasts); the corpus is neither rescanned
      // nor shuffled — decontamination cost tracks delta size, not corpus
      // size. Delta = the hash-uniform slice of training docs (the same
      // deterministic split discipline as dedup_incremental); output =
      // the delta ids clean to append to the corpus.
      val uu = graft.functions.VectorOps.unitUniform(col("doc_id"))
      decontamIncremental(Tables.documents(s, d), uu >= 0.7)
    }
  )

  /** Incremental-decontamination core (see the `decontam_incremental`
    * query): gram-check ONLY the delta rows against the standing
    * eval-gram index. `docs` needs (doc_id, text); rows with
    * `doc_id < NEVAL` are the eval suite, training rows split
    * base/delta by `isDelta` (a pure function of the row). The corpus
    * (non-delta training side) appears in no join — the relation a
    * deployment would not even read. */
  private[graft] def decontamIncremental(docs: DataFrame,
      isDelta: Column): DataFrame = {
    val ev = docs.where(col("doc_id") < NEVAL)
      .select(explode(sh5(col("text"))).as("s")).distinct()
    val delta = docs.where(col("doc_id") >= NEVAL && isDelta)
    val hits = delta
      .select(col("doc_id"), explode(sh5(col("text"))).as("s"))
      .join(broadcast(ev), "s")
      .select(col("doc_id")).distinct()
    delta.join(dropSetHint(docs, hits), Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
  }

  // ------------------------------------------------------------- oracles

  /** DuckDB CTE computing the 32-column MinHash signature table. */
  /** w/wins/dup/aud CTEs — the substring audit pipeline, shared by the
    * `dedup_substring` oracle (aud verbatim) and `dedup_substring_apply`
    * (threshold over aud, windowless docs reinstated). Parameterized over
    * the source relation so [[PipelineOps]]'s composed oracles can audit
    * the post-dedup survivor corpus instead of raw `documents`. */
  private[graft] def substrAuditCtesFor(src: String): String = {
    val terms = (0 until SUBSTR_L).map(k => s"w[i+$k]").mkString(", ")
    s"""w AS (SELECT doc_id, $wSql AS w FROM $src),
       |wins AS (SELECT doc_id,
       |  unnest(list_transform(generate_series(1, len(w) - ${SUBSTR_L - 1}),
       |    i -> ${h60Sql(s"concat_ws(' ', $terms)")})) AS h
       |  FROM w WHERE len(w) >= $SUBSTR_L),
       |dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
       |aud AS (SELECT doc_id, count(*)::BIGINT AS n_spans,
       |        sum(CASE WHEN h IN (SELECT h FROM dup)
       |                 THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans
       |        FROM wins GROUP BY doc_id)""".stripMargin
  }
  private lazy val substrAuditCtes: String = substrAuditCtesFor("documents")

  /** CTE chain of the excise oracle — [[substringExcise]]'s own stages:
    * positioned windows (`pwins` keeps the 0-based start, unlike the
    * audit's bag-of-hashes `wins`), the dup set, the word/marker union,
    * the range-frame coverage window, and the per-doc reassembly
    * terminating in `exc(doc_id, n_words, n_kept, kept_len,
    * kept_digest)`. Positions are `i-1` so they line up with Spark's
    * 0-based posexplode. */
  private[graft] def substrExciseCtes(src: String): String = {
    val terms = (0 until SUBSTR_L).map(k => s"w[i+$k]").mkString(", ")
    val keptTxt = "coalesce(array_to_string(" +
      "list(word ORDER BY pos) FILTER (NOT covered), ' '), '')"
    s"""w AS (SELECT doc_id, $wSql AS w FROM $src),
       |tok AS (SELECT doc_id, i::INT - 1 AS pos, w[i] AS word, 0 AS ds
       |        FROM w, unnest(generate_series(1, len(w))) AS t(i)),
       |pwins AS (SELECT doc_id, i::INT - 1 AS pos,
       |    ${h60Sql(s"concat_ws(' ', $terms)")} AS h
       |  FROM w, unnest(generate_series(1, len(w) - ${SUBSTR_L - 1}))
       |    AS t(i)
       |  WHERE len(w) >= $SUBSTR_L),
       |dup AS (SELECT h FROM pwins GROUP BY h HAVING count(*) > 1),
       |u AS (SELECT * FROM tok UNION ALL
       |      SELECT doc_id, pos, NULL::VARCHAR AS word, 1 AS ds
       |      FROM pwins WHERE h IN (SELECT h FROM dup)),
       |cov AS (SELECT doc_id, pos, word,
       |    max(ds) OVER (PARTITION BY doc_id ORDER BY pos
       |      RANGE BETWEEN ${SUBSTR_L - 1} PRECEDING AND CURRENT ROW) = 1
       |      AS covered
       |  FROM u),
       |exc AS (SELECT doc_id, count(*)::BIGINT AS n_words,
       |    count(*) FILTER (NOT covered)::BIGINT AS n_kept,
       |    length($keptTxt)::INT AS kept_len,
       |    md5($keptTxt) AS kept_digest
       |  FROM cov WHERE word IS NOT NULL GROUP BY doc_id)""".stripMargin
  }

  /** `w`/`p` CTEs of the paragraph-block relation over `src` (must
    * provide doc_id, text, and any `extra` columns, carried through).
    * The non-empty guard sits in `w`: a 0-word text would make
    * `(len-1)//$PARA_W` a phantom 0 here while Spark's
    * `sequence(0, -1)` DESCENDS — neither branch may ever run. ONE
    * builder serves all three paragraph oracles. */
  private def paraBlocksCtes(src: String, extra: String = ""): String = {
    val e = if (extra.isEmpty) "" else s", $extra"
    s"""w AS (SELECT doc_id$e, $wSql AS ws FROM $src
       |       WHERE len($wSql) > 0),
       |p AS (SELECT doc_id$e, i::INT AS para_idx,
       |        least($PARA_W, len(ws) - i * $PARA_W)::INT AS n_words,
       |        array_to_string(ws[(i * $PARA_W + 1):((i + 1) * $PARA_W)],
       |                        ' ') AS para
       |      FROM w, unnest(generate_series(0, (len(ws) - 1) // $PARA_W))
       |        AS t(i))""".stripMargin
  }

  /** dedup_paragraph's CTE chain — the block relation + the first-
    * global-occurrence window; terminates in `k(doc_id, para_idx,
    * n_words, para, keep)`. */
  private lazy val paraCtes: String =
    s"""${paraBlocksCtes("documents")},
       |k AS (SELECT doc_id, para_idx, n_words, para,
       |        (row_number() OVER (PARTITION BY md5(para)
       |                            ORDER BY doc_id, para_idx) = 1) AS keep
       |      FROM p)""".stripMargin

  private lazy val sigSql: String = {
    val minExprs = (0 until MINHASH_PERMS).map(j =>
      s"min((h * ${permA(j)} + ${permB(j)}) % $M) AS m$j").mkString(",\n       ")
    s"""w AS (SELECT doc_id, $wSql AS w FROM documents),
       |s AS (SELECT doc_id, unnest($shSql) AS sh FROM w),
       |h AS (SELECT doc_id, ${h60Sql("sh")} % $M AS h FROM s),
       |sig AS (SELECT doc_id,
       |       $minExprs
       |       FROM h GROUP BY doc_id)""".stripMargin
  }

  /** DuckDB CTE computing (doc_id, band_id, band_hash) from `sig`. */
  private lazy val bandsSql: String = {
    val bands = (0 until BANDS).map { b =>
      val slice = (0 until ROWS_PER_BAND)
        .map(r => s"m${b * ROWS_PER_BAND + r}").mkString(", ")
      s"SELECT doc_id, $b AS band_id, ${h60Sql(s"concat_ws(',', $slice)")} AS band_hash FROM sig"
    }.mkString("\n  UNION ALL ")
    s"bands AS (\n  $bands)"
  }

  /** DuckDB CTEs mirroring [[cappedBands]]: drop over-populated cells. */
  private lazy val cappedBandsSql: String =
    s"""bkeep AS (
       |  SELECT band_id, band_hash FROM bands
       |  GROUP BY band_id, band_hash HAVING count(*) <= $BAND_CAP),
       |cbands AS (
       |  SELECT b.doc_id, b.band_id, b.band_hash FROM bands b
       |  JOIN bkeep USING (band_id, band_hash))""".stripMargin

  /** DuckDB CTE computing (doc_id, simhash) fingerprints. */
  private lazy val simhashSql: String = {
    val bitSums = (0 until SIMHASH_BITS).map(j =>
      s"sum((h >> $j) & 1) AS b$j").mkString(",\n       ")
    val fp = (0 until SIMHASH_BITS).map(j =>
      s"(CASE WHEN b$j * 2 >= n THEN (1::BIGINT << $j) ELSE 0 END)")
      .mkString(" +\n       ")
    s"""tok AS (SELECT doc_id, unnest($wSql) AS w FROM documents),
       |th AS (SELECT doc_id, ${h60Sql("w")} AS h FROM tok),
       |bits AS (SELECT doc_id, count(*) AS n,
       |       $bitSums
       |       FROM th GROUP BY doc_id),
       |fp AS (SELECT doc_id,
       |       ($fp)::BIGINT AS simhash
       |       FROM bits)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "dedup_url" ->
      s"""WITH u AS (SELECT doc_id, $urlGenSql AS url FROM documents),
         |c AS (SELECT doc_id, url, ${urlCanonSql("url")} AS canon_url FROM u)
         |SELECT doc_id, url, canon_url,
         |       doc_id = min(doc_id) OVER (PARTITION BY canon_url) AS keep
         |FROM c""".stripMargin,
    "dedup_url_apply" ->
      s"""WITH u AS (SELECT doc_id, $urlGenSql AS url FROM documents),
         |c AS (SELECT doc_id, ${urlCanonSql("url")} AS canon_url FROM u)
         |SELECT min(doc_id)::BIGINT AS doc_id, canon_url,
         |       count(*)::BIGINT AS n_variants
         |FROM c GROUP BY canon_url""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id)::BIGINT AS keep_doc_id, count(*)::BIGINT AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "dedup_exact_docs" ->
      "SELECT min(doc_id)::BIGINT AS doc_id FROM documents GROUP BY md5(text)",
    // the canonicalize chain shared with dedup_url + the incremental
    // family's two-stage attribution; the split parity via the shared
    // h60 rendering
    "dedup_url_incremental" ->
      s"""WITH u AS (SELECT doc_id, $urlGenSql AS url FROM documents),
         |c AS (SELECT doc_id, ${urlCanonSql("url")} AS canon_url,
         |        ${h60Sql("doc_id::VARCHAR")} % 2 AS par FROM u),
         |base AS (SELECT DISTINCT canon_url FROM c WHERE par = 0),
         |delta AS (SELECT doc_id, canon_url,
         |            row_number() OVER (PARTITION BY canon_url
         |              ORDER BY doc_id) AS rk
         |          FROM c WHERE par = 1)
         |SELECT d.doc_id, d.canon_url,
         |       CASE WHEN d.rk > 1 THEN 'delta'
         |            WHEN b.canon_url IS NOT NULL THEN 'base'
         |            ELSE 'kept' END AS stage
         |FROM delta d LEFT JOIN base b USING (canon_url)""".stripMargin,
    // the shim + the same digest-group / dup-filter / pair-join matrix;
    // totals re-aggregated from the (digest, source) cells like the
    // engine side so the two passes can never disagree on the base
    "source_overlap" ->
      s"""WITH s AS (SELECT doc_id, source, $overlapShimSql AS text
         |           FROM documents),
         |c AS (SELECT md5(text) AS h, source, count(*)::BIGINT AS c
         |      FROM s GROUP BY 1, 2),
         |d AS (SELECT h FROM c GROUP BY h HAVING sum(c) >= 2),
         |p AS (SELECT a.source AS src_a, b.source AS src_b,
         |             sum(a.c)::BIGINT AS n_overlap
         |      FROM c a JOIN c b USING (h) JOIN d USING (h)
         |      WHERE a.source <> b.source OR a.c >= 2
         |      GROUP BY 1, 2),
         |n AS (SELECT source AS src_a, sum(c)::BIGINT AS n_docs_a
         |      FROM c GROUP BY 1)
         |SELECT src_a, src_b, n_docs_a, n_overlap,
         |       ((n_overlap * 1000000) // n_docs_a)::BIGINT AS share_ppm
         |FROM p JOIN n USING (src_a)""".stripMargin,
    "dedup_incremental" ->
      s"""WITH u AS (SELECT doc_id, text,
        |             ${graft.functions.VectorSql.unitUniform("doc_id")} AS uu
        |           FROM documents),
        |base AS (SELECT DISTINCT md5(text) AS h FROM u WHERE uu < 0.7),
        |delta AS (SELECT md5(text) AS h, min(doc_id)::BIGINT AS doc_id
        |          FROM u WHERE uu >= 0.7 GROUP BY md5(text))
        |SELECT doc_id FROM delta
        |WHERE h NOT IN (SELECT h FROM base)""".stripMargin,
    "dedup_minhash_incremental" ->
      s"""WITH RECURSIVE $sigSql,
         |$bandsSql,
         |$cappedBandsSql,
         |u AS (SELECT doc_id,
         |             ${graft.functions.VectorSql.unitUniform("doc_id")} AS uu
         |      FROM documents),
         |baseb AS (SELECT c.doc_id, band_id, band_hash
         |          FROM cbands c JOIN u USING (doc_id) WHERE uu < 0.7),
         |deltab AS (SELECT c.doc_id, band_id, band_hash
         |           FROM cbands c JOIN u USING (doc_id) WHERE uu >= 0.7),
         |collide AS (SELECT DISTINCT d.doc_id FROM deltab d
         |            WHERE EXISTS (SELECT 1 FROM baseb b
         |                          WHERE b.band_id = d.band_id
         |                            AND b.band_hash = d.band_hash)),
         |rem AS (SELECT * FROM deltab
         |        WHERE doc_id NOT IN (SELECT doc_id FROM collide)),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM rem a JOIN rem b
         |            ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |          WHERE a.doc_id < b.doc_id),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (SELECT s, s FROM edges
         |                   UNION
         |                   SELECT e.s, r.r FROM edges e
         |                   JOIN reach r ON e.t = r.node),
         |nonrep AS (SELECT node AS doc_id FROM reach
         |           GROUP BY node HAVING min(r) < node)
         |SELECT doc_id::BIGINT AS doc_id FROM u
         |WHERE uu >= 0.7
         |  AND doc_id NOT IN (SELECT doc_id FROM collide)
         |  AND doc_id NOT IN (SELECT doc_id FROM nonrep)""".stripMargin,
    "dedup_minhash" ->
      s"""WITH $sigSql,
         |$bandsSql,
         |$cappedBandsSql
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM cbands a JOIN cbands b
         |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |WHERE a.doc_id < b.doc_id""".stripMargin,
    // bands compute per-doc over the full corpus (sig/bands CTEs are
    // per-row), but the CAP and the pair join run over the exact-SURVIVOR
    // population only — the cascade's load-bearing restriction
    "dedup_cascade" ->
      s"""WITH RECURSIVE $sigSql,
         |$bandsSql,
         |surv AS (SELECT min(doc_id)::BIGINT AS doc_id
         |         FROM documents GROUP BY md5(text)),
         |sbands AS (SELECT b.doc_id, b.band_id, b.band_hash
         |           FROM bands b JOIN surv USING (doc_id)),
         |skeep AS (SELECT band_id, band_hash FROM sbands
         |          GROUP BY band_id, band_hash HAVING count(*) <= $BAND_CAP),
         |scb AS (SELECT s.doc_id, s.band_id, s.band_hash FROM sbands s
         |        JOIN skeep USING (band_id, band_hash)),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM scb a JOIN scb b
         |            ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |          WHERE a.doc_id < b.doc_id),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (SELECT s, s FROM edges
         |                   UNION
         |                   SELECT e.s, r.r FROM edges e
         |                   JOIN reach r ON e.t = r.node),
         |nonrep AS (SELECT node AS doc_id FROM reach
         |           GROUP BY node HAVING min(r) < node)
         |SELECT d.doc_id,
         |       CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM surv)
         |              THEN 'exact'
         |            WHEN d.doc_id IN (SELECT doc_id FROM nonrep)
         |              THEN 'minhash'
         |            ELSE 'kept' END AS stage
         |FROM documents d""".stripMargin,
    "dedup_fuzzy" ->
      s"""WITH $sigSql,
         |$bandsSql,
         |$cappedBandsSql,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM cbands a JOIN cbands b
         |           ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |         WHERE a.doc_id < b.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |       levenshtein(ta.text, tb.text)::INT AS edit_dist
         |FROM cand c JOIN documents ta ON ta.doc_id = c.doc_a
         |            JOIN documents tb ON tb.doc_id = c.doc_b
         |WHERE levenshtein(ta.text, tb.text) <= $FUZZY_TAU""".stripMargin,
    // dedup_fuzzy's chain restricted across the train/eval boundary
    "decontam_fuzzy" ->
      s"""WITH $sigSql,
         |$bandsSql,
         |$cappedBandsSql,
         |cand AS (SELECT DISTINCT t.doc_id, e.doc_id AS eval_id
         |         FROM cbands t JOIN cbands e
         |           ON t.band_id = e.band_id AND t.band_hash = e.band_hash
         |         WHERE t.doc_id >= $NEVAL AND e.doc_id < $NEVAL)
         |SELECT c.doc_id, c.eval_id,
         |       levenshtein(tt.text, te.text)::INT AS edit_dist
         |FROM cand c JOIN documents tt ON tt.doc_id = c.doc_id
         |            JOIN documents te ON te.doc_id = c.eval_id
         |WHERE levenshtein(tt.text, te.text) <= $FUZZY_TAU""".stripMargin,
    // the minhash-incremental split/collide/components structure with
    // dedup_fuzzy's levenshtein verify on both candidate classes
    "dedup_fuzzy_incremental" ->
      s"""WITH RECURSIVE $sigSql,
         |$bandsSql,
         |$cappedBandsSql,
         |u AS (SELECT doc_id,
         |             ${graft.functions.VectorSql.unitUniform("doc_id")} AS uu
         |      FROM documents),
         |baseb AS (SELECT c.doc_id, band_id, band_hash
         |          FROM cbands c JOIN u USING (doc_id) WHERE uu < 0.7),
         |deltab AS (SELECT c.doc_id, band_id, band_hash
         |           FROM cbands c JOIN u USING (doc_id) WHERE uu >= 0.7),
         |xcand AS (SELECT DISTINCT d.doc_id, b.doc_id AS doc_b
         |          FROM deltab d JOIN baseb b
         |            ON b.band_id = d.band_id AND b.band_hash = d.band_hash),
         |collide AS (SELECT DISTINCT x.doc_id
         |            FROM xcand x JOIN documents ta ON ta.doc_id = x.doc_id
         |                         JOIN documents tb ON tb.doc_id = x.doc_b
         |            WHERE levenshtein(ta.text, tb.text) <= $FUZZY_TAU),
         |rem AS (SELECT * FROM deltab
         |        WHERE doc_id NOT IN (SELECT doc_id FROM collide)),
         |dcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM rem a JOIN rem b
         |            ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |          WHERE a.doc_id < b.doc_id),
         |pairs AS (SELECT c.doc_a, c.doc_b
         |          FROM dcand c JOIN documents ta ON ta.doc_id = c.doc_a
         |                       JOIN documents tb ON tb.doc_id = c.doc_b
         |          WHERE levenshtein(ta.text, tb.text) <= $FUZZY_TAU),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (SELECT s, s FROM edges
         |                   UNION
         |                   SELECT e.s, r.r FROM edges e
         |                   JOIN reach r ON e.t = r.node),
         |nonrep AS (SELECT node AS doc_id FROM reach
         |           GROUP BY node HAVING min(r) < node)
         |SELECT doc_id::BIGINT AS doc_id FROM u
         |WHERE uu >= 0.7
         |  AND doc_id NOT IN (SELECT doc_id FROM collide)
         |  AND doc_id NOT IN (SELECT doc_id FROM nonrep)""".stripMargin,
    "dedup_fuzzy_apply" ->
      s"""WITH RECURSIVE $sigSql,
         |$bandsSql,
         |$cappedBandsSql,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM cbands a JOIN cbands b
         |           ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |         WHERE a.doc_id < b.doc_id),
         |pairs AS (SELECT c.doc_a, c.doc_b
         |          FROM cand c JOIN documents ta ON ta.doc_id = c.doc_a
         |                      JOIN documents tb ON tb.doc_id = c.doc_b
         |          WHERE levenshtein(ta.text, tb.text) <= $FUZZY_TAU),
         |edges AS (
         |  SELECT doc_a AS s, doc_b AS t FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS s, doc_a AS t FROM pairs),
         |reach(node, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.t = r.node),
         |nonrep AS (
         |  SELECT node AS doc_id FROM reach
         |  GROUP BY node HAVING min(r) < node)
         |SELECT doc_id::BIGINT AS doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM nonrep)""".stripMargin,
    "dedup_minhash_scored" -> {
      val matchSum = (0 until MINHASH_PERMS).map(j =>
        s"CASE WHEN sa.m$j = sb.m$j THEN 1 ELSE 0 END")
        .mkString("(", "\n       + ", ")")
      s"""WITH $sigSql,
         |$bandsSql,
         |$cappedBandsSql,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM cbands a JOIN cbands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |  WHERE a.doc_id < b.doc_id)
         |SELECT p.doc_a, p.doc_b,
         |       $matchSum::INT AS n_match
         |FROM pairs p
         |JOIN sig sa ON p.doc_a = sa.doc_id
         |JOIN sig sb ON p.doc_b = sb.doc_id""".stripMargin
    },
    "dedup_clusters" ->
      // the same fixed point the Spark loop converges to, via a recursive
      // CTE: reach = transitive closure over the (doubled, undirected)
      // candidate-pair edges, cluster_rep = min reachable id. UNION (not
      // UNION ALL) recursion dedups per step, so the closure terminates.
      s"""WITH RECURSIVE $sigSql,
         |$bandsSql,
         |$cappedBandsSql,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM cbands a JOIN cbands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |  WHERE a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT doc_a AS s, doc_b AS t FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS s, doc_a AS t FROM pairs),
         |reach(node, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.t = r.node)
         |SELECT node::BIGINT AS doc_id, min(r)::BIGINT AS cluster_rep
         |FROM reach GROUP BY node""".stripMargin,
    "dedup_minhash_apply" ->
      // dedup_clusters' closure + the HAVING min(r) < node non-rep set
      // (the dedup_minhash_incremental convention): corpus minus
      // non-representative cluster members
      s"""WITH RECURSIVE $sigSql,
         |$bandsSql,
         |$cappedBandsSql,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM cbands a JOIN cbands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |  WHERE a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT doc_a AS s, doc_b AS t FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS s, doc_a AS t FROM pairs),
         |reach(node, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.t = r.node),
         |nonrep AS (
         |  SELECT node AS doc_id FROM reach
         |  GROUP BY node HAVING min(r) < node)
         |SELECT doc_id::BIGINT AS doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM nonrep)""".stripMargin,
    "split_leakage_safe" ->
      // dedup_clusters' closure CTEs + the split_assign CASE over the
      // component representative (unitUniform is the ONE shared SQL
      // rendering, so the split thresholds cannot drift between oracles)
      s"""WITH RECURSIVE $sigSql,
         |$bandsSql,
         |$cappedBandsSql,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM cbands a JOIN cbands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |  WHERE a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT doc_a AS s, doc_b AS t FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS s, doc_a AS t FROM pairs),
         |reach(node, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.t = r.node),
         |comps AS (
         |  SELECT node AS doc_id, min(r) AS cluster_rep
         |  FROM reach GROUP BY node),
         |grouped AS (
         |  SELECT d.doc_id, coalesce(c.cluster_rep, d.doc_id) AS group_rep
         |  FROM documents d LEFT JOIN comps c ON d.doc_id = c.doc_id)
         |SELECT doc_id::BIGINT AS doc_id, group_rep::BIGINT AS group_rep,
         |       CASE WHEN u < 0.8 THEN 'train'
         |            WHEN u < 0.9 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, group_rep,
         |             ${graft.functions.VectorSql.unitUniform("group_rep")} AS u
         |      FROM grouped)""".stripMargin,
    "dedup_substring" ->
      s"""WITH $substrAuditCtes
         |SELECT doc_id, n_spans, n_dup_spans FROM aud""".stripMargin,
    "dedup_substring_apply" ->
      s"""WITH $substrAuditCtes
         |SELECT d.doc_id, coalesce(a.n_spans, 0)::BIGINT AS n_spans,
         |       coalesce(a.n_dup_spans, 0)::BIGINT AS n_dup_spans
         |FROM documents d LEFT JOIN aud a USING (doc_id)
         |WHERE coalesce(a.n_dup_spans, 0) * $SUBSTR_DROP_DEN <=
         |      coalesce(a.n_spans, 0) * $SUBSTR_DROP_NUM""".stripMargin,
    "dedup_substring_excise" ->
      s"""WITH ${substrExciseCtes("documents")}
         |SELECT d.doc_id, coalesce(n_words, 0)::BIGINT AS n_words,
         |       coalesce(n_kept, 0)::BIGINT AS n_kept,
         |       coalesce(kept_len, 0)::INT AS kept_len,
         |       coalesce(kept_digest, md5('')) AS kept_digest
         |FROM documents d LEFT JOIN exc USING (doc_id)""".stripMargin,
    // the paragraph relation + first-occurrence window — the Spark plan's
    // own shape (the window key is the block digest there; md5(para) here
    // partitions identically since the digest is injective on the blocks)
    "dedup_paragraph" ->
      s"""WITH $paraCtes
         |SELECT doc_id, para_idx, n_words, keep FROM k""".stripMargin,
    "dedup_paragraph_apply" ->
      s"""WITH $paraCtes
         |SELECT doc_id, count(*)::BIGINT AS n_paras,
         |       count(*) FILTER (keep)::BIGINT AS n_kept,
         |       length(coalesce(array_to_string(
         |         list(para ORDER BY para_idx) FILTER (keep), ' '), ''))::INT
         |         AS kept_len,
         |       md5(coalesce(array_to_string(
         |         list(para ORDER BY para_idx) FILTER (keep), ' '), ''))
         |         AS kept_digest
         |FROM k GROUP BY doc_id""".stripMargin,
    // the delta's block relation + within-delta first-occurrence window
    // + base-digest membership, with the within-delta drop winning the
    // attribution — the Spark plan's own stage order
    "dedup_paragraph_incremental" ->
      s"""WITH u AS (SELECT doc_id, text,
         |            ${graft.functions.VectorSql.unitUniform("doc_id")} AS uu
         |           FROM documents),
         |${paraBlocksCtes("u", "uu")},
         |ph AS (SELECT doc_id, para_idx, n_words, md5(para) AS h, uu
         |       FROM p),
         |base AS (SELECT DISTINCT h FROM ph WHERE uu < 0.7),
         |delta AS (
         |  SELECT doc_id, para_idx, n_words, h,
         |         (row_number() OVER (PARTITION BY h
         |                             ORDER BY doc_id, para_idx) = 1)
         |           AS first_d
         |  FROM ph WHERE uu >= 0.7)
         |SELECT doc_id, para_idx, n_words,
         |       CASE WHEN NOT first_d THEN 'delta'
         |            WHEN h IN (SELECT h FROM base) THEN 'base'
         |            ELSE 'kept' END AS stage,
         |       (first_d AND h NOT IN (SELECT h FROM base)) AS keep
         |FROM delta""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $simhashSql
         |SELECT doc_id, simhash FROM fp""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH $simhashSql,
         |chunks AS (
         |  SELECT doc_id, simhash, c.c AS chunk_id,
         |         (simhash >> (${CHUNK_BITS} * c.c)) & ${(1L << CHUNK_BITS) - 1} AS chunk
         |  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, ${CHUNKS - 1})) AS c) c),
         |keep AS (
         |  SELECT chunk_id, chunk FROM chunks
         |  GROUP BY chunk_id, chunk HAVING count(*) <= $CHUNK_CAP),
         |capped AS (
         |  SELECT c.* FROM chunks c JOIN keep k
         |    ON c.chunk_id = k.chunk_id AND c.chunk = k.chunk)
         |SELECT doc_a, doc_b, hamming FROM (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         bit_count(xor(a.simhash, b.simhash))::INT AS hamming
         |  FROM capped a JOIN capped b
         |    ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
         |  WHERE a.doc_id < b.doc_id)
         |WHERE hamming <= $HAMMING_MAX""".stripMargin,
    // the pairs oracle's chunk/cap chain + the incremental family's
    // split/collide/components structure, with the exact hamming verify
    // on both the standing probe and the within-delta pairs
    "dedup_simhash_incremental" ->
      s"""WITH RECURSIVE $simhashSql,
         |chunks AS (
         |  SELECT doc_id, simhash, c.c AS chunk_id,
         |         (simhash >> (${CHUNK_BITS} * c.c)) & ${(1L << CHUNK_BITS) - 1} AS chunk
         |  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, ${CHUNKS - 1})) AS c) c),
         |keep AS (
         |  SELECT chunk_id, chunk FROM chunks
         |  GROUP BY chunk_id, chunk HAVING count(*) <= $CHUNK_CAP),
         |capped AS (
         |  SELECT c.* FROM chunks c JOIN keep k
         |    ON c.chunk_id = k.chunk_id AND c.chunk = k.chunk),
         |u AS (SELECT doc_id,
         |             ${graft.functions.VectorSql.unitUniform("doc_id")} AS uu
         |      FROM documents),
         |basec AS (SELECT c.* FROM capped c JOIN u USING (doc_id)
         |          WHERE uu < 0.7),
         |deltac AS (SELECT c.* FROM capped c JOIN u USING (doc_id)
         |           WHERE uu >= 0.7),
         |collide AS (SELECT DISTINCT d.doc_id FROM deltac d
         |            WHERE EXISTS (SELECT 1 FROM basec b
         |                          WHERE b.chunk_id = d.chunk_id
         |                            AND b.chunk = d.chunk
         |                            AND bit_count(xor(b.simhash, d.simhash))
         |                                  <= $HAMMING_MAX)),
         |rem AS (SELECT * FROM deltac
         |        WHERE doc_id NOT IN (SELECT doc_id FROM collide)),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM rem a JOIN rem b
         |            ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
         |          WHERE a.doc_id < b.doc_id
         |            AND bit_count(xor(a.simhash, b.simhash)) <= $HAMMING_MAX),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (SELECT s, s FROM edges
         |                   UNION
         |                   SELECT e.s, r.r FROM edges e
         |                   JOIN reach r ON e.t = r.node),
         |nonrep AS (SELECT node AS doc_id FROM reach
         |           GROUP BY node HAVING min(r) < node)
         |SELECT doc_id::BIGINT AS doc_id FROM u
         |WHERE uu >= 0.7
         |  AND doc_id NOT IN (SELECT doc_id FROM collide)
         |  AND doc_id NOT IN (SELECT doc_id FROM nonrep)""".stripMargin,
    "dedup_ngram" ->
      s"""WITH w AS (SELECT doc_id, $wSql AS w FROM documents),
         |sh AS (SELECT doc_id, $shSql AS sh FROM w),
         |pairs AS (
         |  SELECT q.doc_id AS q_id, d.doc_id AS doc_id,
         |         round(len(list_intersect(d.sh, q.sh))::DOUBLE /
         |               len(list_distinct(list_concat(d.sh, q.sh))), 4) AS jac
         |  FROM (SELECT * FROM sh WHERE len(sh) > 0) d
         |  CROSS JOIN (SELECT * FROM sh WHERE doc_id < 10 AND len(sh) > 0) q
         |  WHERE d.doc_id > q.doc_id)
         |SELECT q_id, doc_id, jac FROM pairs WHERE jac >= 0.05""".stripMargin,
    "decontam_report" ->
      s"""WITH $deconCtes
         |SELECT t.doc_id, e.eval_id, count(*)::BIGINT AS n_shared
         |FROM trg t JOIN evg e USING (s)
         |GROUP BY t.doc_id, e.eval_id""".stripMargin,
    "decontaminate" ->
      s"""WITH $deconCtes,
         |hit AS (SELECT DISTINCT t.doc_id FROM trg t JOIN evg e USING (s))
         |SELECT d.doc_id FROM documents d
         |WHERE d.doc_id >= $NEVAL
         |  AND d.doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin,
    "decontam_incremental" ->
      s"""WITH $deconCtes,
         |delta AS (SELECT doc_id FROM documents
         |          WHERE doc_id >= $NEVAL
         |            AND ${graft.functions.VectorSql.unitUniform("doc_id")} >= 0.7),
         |hit AS (SELECT DISTINCT t.doc_id FROM trg t
         |        JOIN evg e USING (s)
         |        JOIN delta USING (doc_id))
         |SELECT doc_id FROM delta
         |WHERE doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin
  )

  /** Distinct word n-gram SQL over a bound `w` token list — the
    * n-parameterized form of [[shSql]] (which stays the literal 3-gram
    * text the MinHash CTEs were hash-proven with). */
  private def shNSql(n: Int): String = {
    val parts = (0 until n).map(k => s"w[i+$k]").mkString(", ")
    s"""list_distinct(CASE WHEN len(w) >= $n
       |  THEN list_transform(generate_series(1, len(w) - ${n - 1}),
       |       i -> concat_ws(' ', $parts))
       |  ELSE [] END)""".stripMargin
  }

  /** Shared CTEs of the decontamination oracles — mirrors [[contamPairs]]'
    * eval/train gram split. */
  private[graft] lazy val deconCtes: String =
    s"""wd AS (SELECT doc_id, $wSql AS w FROM documents),
       |gd AS (SELECT doc_id, unnest(${shNSql(DECON_N)}) AS s FROM wd),
       |evg AS (SELECT doc_id AS eval_id, s FROM gd WHERE doc_id < $NEVAL),
       |trg AS (SELECT doc_id, s FROM gd WHERE doc_id >= $NEVAL)""".stripMargin
}
