package graft.sources

import graft.Tables
import graft.sources.Staging.fixtureKey
import graft.functions.VectorOps._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Line-oriented text ingestion and single-file text sink — the reference's
  * ONLY source and sink:
  *  - scan: `TextIO.read().from(path)` (`/root/reference/BeamKmeansSideInput.java:70`)
  *    and `spark.read().textFile(f)` (`/root/reference/SparKMeansGroupBy.java:66`),
  *    lines of comma-separated decimal features parsed by `Point.StringToPoint`
  *    (`/root/reference/SparKMeansGroupBy.java:80`).
  *  - sink: `TextIO.write().withoutSharding().to(out)`
  *    (`/root/reference/BeamKmeansSideInput.java:125`) — a single text shard.
  *
  * The fixture layout is parquet-only, so the text fixture is generated ONCE
  * per scale factor from the embeddings table (under target/ — the read-only
  * fixtures are never touched) and the oracle verifies the round-trip against
  * the parquet source of truth: text formatting and parsing must be lossless
  * (Java double rendering round-trips exactly; the oracle compares at the
  * usual r4 tolerance).
  *
  * Scale note: `coalesce(1)` on the sink mirrors the reference's
  * `withoutSharding()` single-file contract; at 100 TB a real export drops
  * the coalesce and writes one shard per task — the query shape is otherwise
  * identical, and the scan side is a plain distributed `FileSourceScanExec`
  * over however many line files exist.
  */
object TextIO {

  /** Text rendering of the embeddings table: "vec_id,f1,...,f64" per line. */
  private def pointLines(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      concat_ws(",", col("vec_id").cast("string"),
        transform(asDouble(col("embedding")), _.cast("string"))).as("value"))

  /** Write the canonical points text fixture once per scale factor
    * (atomically staged — see [[Staging.ensureDir]]). */
  def ensurePointsText(s: SparkSession, d: String): String =
    Staging.ensureDir(s"target/text-fixtures/${fixtureKey(d)}/points") { tmp =>
      pointLines(s, d).coalesce(1).write.mode("overwrite").text(tmp)
    }

  /** Parse text lines back to (vec_id, d0..d3) — `Point.StringToPoint` with
    * the reference's empty-line guard folded in
    * (`/root/reference/SparKMeansGroupBy.java:78-97`). `try_element_at` +
    * `try_cast` (not the plain forms): under Spark 4's default ANSI mode a
    * short line would throw INVALID_ARRAY_INDEX and a malformed value
    * CAST_INVALID_INPUT, each aborting the whole scan; a line scanner must
    * instead drop bad records like the reference's null-guard does. */
  private def parseLines(s: SparkSession, dir: String): DataFrame = {
    val parts = split(col("value"), ",")
    def tryCast(c: org.apache.spark.sql.Column, t: String) =
      c.try_cast(org.apache.spark.sql.types.DataType.fromDDL(t))
    val cols = tryCast(try_element_at(parts, lit(1)), "bigint").as("vec_id") +:
      (0 until 4).map(i =>
        r4(tryCast(try_element_at(parts, lit(i + 2)), "double")).as(s"d$i"))
    s.read.textFile(dir).toDF("value")
      .filter(length(col("value")) > 0)
      .select(cols: _*)
      .filter(col("vec_id").isNotNull)
  }

  /** Write a UCI-shaped CSV fixture (header + 8 numeric features + binary
    * label, the `data/UCI/HTRU_2.csv` shape from the reference's README)
    * once per scale factor, derived from the embeddings table. */
  def ensurePointsCsv(s: SparkSession, d: String): String =
    Staging.ensureDir(s"target/text-fixtures/${fixtureKey(d)}/points_csv") { tmp =>
      val cols = col("vec_id") +:
        (1 to 8).map(i =>
          element_at(asDouble(col("embedding")), i).as(s"f$i")) :+
        pmod(col("vec_id"), lit(2)).cast("int").as("label")
      Tables.embeddings(s, d).select(cols: _*)
        .coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(tmp)
    }

  /** Fraction knob for the planted-corruption CSV fixture: rows with
    * vec_id % BAD_EVERY == BAD_PHASE are replaced by an unparseable line.
    * Deterministic, so the oracle reconstructs the good/bad split from
    * the parquet source without reading the file. */
  private val BAD_EVERY = 50
  private val BAD_PHASE = 7

  /** Write a DELIBERATELY part-corrupted points CSV once per scale
    * factor: the real world's ingest input (truncated uploads, encoding
    * damage, log lines mixed into data files). Rendered as text so bad
    * lines can be planted; the header sorts first via the -1 key and the
    * single-shard write preserves the sort. */
  def ensurePointsCsvBad(s: SparkSession, d: String): String =
    Staging.ensureDir(s"target/text-fixtures/${fixtureKey(d)}/points_csv_bad") {
      tmp =>
        val header = s.range(1).select(lit(-1L).as("k"),
          lit("vec_id," + (1 to 4).map(i => s"f$i").mkString(",")).as("value"))
        val rows = Tables.embeddings(s, d).select(col("vec_id").as("k"),
          when(pmod(col("vec_id"), lit(BAD_EVERY)) === BAD_PHASE,
            lit("### corrupted upload fragment ###"))
            .otherwise(concat_ws(",", col("vec_id").cast("string"),
              transform(slice(asDouble(col("embedding")), 1, 4),
                _.cast("string")))).as("value"))
        header.union(rows).orderBy(col("k")).select(col("value"))
          .coalesce(1).write.mode("overwrite").text(tmp)
    }

  /** Write the events table as JSON-lines once per scale factor — the
    * interchange format of LLM training-data pipelines. Timestamps are
    * emitted as epoch-µs longs (JSON has no timestamp type; µs stays in
    * float64's exact-int range for the compare). */
  def ensureEventsJsonl(s: SparkSession, d: String): String =
    Staging.ensureDir(s"target/text-fixtures/${fixtureKey(d)}/events_jsonl") { tmp =>
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"), col("event_type"),
          col("value"), col("props"))
        .coalesce(1).write.mode("overwrite").json(tmp)
    }

  /** Write the documents table as ORC once per scale factor — the other
    * columnar lake format Spark ships a vectorized reader for; staged so
    * `scan_orc` exercises the format end-to-end (write → predicate-pushed
    * read) against the parquet source of truth. */
  def ensureDocsOrc(s: SparkSession, d: String): String =
    Staging.ensureDir(s"target/text-fixtures/${fixtureKey(d)}/docs_orc") { tmp =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .coalesce(1).write.mode("overwrite").orc(tmp)
    }

  /** `scan_evolved`'s tier rule — gen-2 files score docs by length; ONE
    * constant feeding fixture, query, and oracle. */
  private[graft] val EVOLVED_TIER_CHARS = 300

  /** Two-generation parquet dir for `scan_evolved`: generation 1 files
    * carry (doc_id, lang, n_chars); generation 2 — written later by an
    * upgraded producer — adds a `quality_tier` column. Routine lake
    * behavior: the schema moved mid-corpus and nobody rewrites the old
    * files. Split on doc_id parity so both generations exist at any SF
    * and the oracle reconstructs the whole layout from the parquet
    * source of truth. */
  def ensureDocsEvolved(s: SparkSession, d: String): String =
    Staging.ensureDir(s"target/text-fixtures/${fixtureKey(d)}/docs_evolved",
      marker = "gen2/_SUCCESS") { tmp =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      docs.where(pmod(col("doc_id"), lit(2)) === 0)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/gen1")
      docs.where(pmod(col("doc_id"), lit(2)) === 1)
        .withColumn("quality_tier",
          when(col("n_chars") >= EVOLVED_TIER_CHARS, "long")
            .otherwise("short"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/gen2")
    }

  /** Idempotently create every text-format fixture for a scale factor.
    * Fixture generation is one-time staging, not query work: Bench calls
    * this in its setup pass so the scan_* queries time the SCAN; the
    * queries still self-ensure for standalone use. */
  def ensureFixtures(s: SparkSession, d: String): Unit = {
    ensurePointsText(s, d)
    ensurePointsCsv(s, d)
    ensurePointsCsvBad(s, d)
    ensureEventsJsonl(s, d)
    ensureDocsOrc(s, d)
    ensureDocsEvolved(s, d)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_text" -> { (s, d) =>
      parseLines(s, ensurePointsText(s, d))
    },
    "scan_jsonl" -> { (s, d) =>
      // JSON-lines ingestion with an explicit schema (schema inference on
      // JSON is a full extra pass — never at scale). Doubles round-trip
      // losslessly through Spark's shortest-decimal JSON rendering, so
      // raw values compare bit-exact against the parquet source; the
      // nested props payload re-parses with from_json on the way in (the
      // lakehouse pattern: land JSONL, project typed columns once).
      val schema = "event_id LONG, user_id LONG, ts_us LONG, " +
        "event_type STRING, value DOUBLE, props STRING"
      s.read.schema(schema).json(ensureEventsJsonl(s, d))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("event_type"), col("value"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType))))
            .getField("k").as("prop_k"))
    },
    "scan_csv" -> { (s, d) =>
      // real delimited-file ingestion with header handling — the
      // reference's `data/UCI/*.csv` path (`/root/reference/README.md`,
      // 8 features + binary label à la HTRU_2). Schema is EXPLICIT: at
      // scale `inferSchema` is a second full pass over the data; a lakehouse
      // ingest declares its schema. Java's shortest-round-trip double
      // rendering makes write→read lossless, so the oracle verifies
      // against the parquet source of truth at the usual r4 tolerance.
      val schema = "vec_id LONG, " +
        (1 to 8).map(i => s"f$i DOUBLE").mkString(", ") + ", label INT"
      val csv = s.read.option("header", "true").schema(schema)
        .csv(ensurePointsCsv(s, d))
      val out = col("vec_id") +:
        (1 to 8).map(i => r4(col(s"f$i")).as(s"f$i")) :+ col("label")
      csv.select(out: _*)
    },
    "scan_orc" -> { (s, d) =>
      // ORC ingestion with an explicit schema and a pushdown-friendly
      // predicate: the lang filter must reach the ORC reader as a pushed
      // filter (PlanSpec asserts PushedFilters), so at scale the
      // vectorized scan skips whole stripes via their min/max stats
      // instead of materializing every row. Spark's ORC reader is
      // built-in; the layout choice (parquet vs ORC) is then purely a
      // lake-format decision, not a capability boundary.
      val schema = "doc_id LONG, lang STRING, source STRING, n_chars LONG"
      s.read.schema(schema).orc(ensureDocsOrc(s, d))
        .where(col("lang") === "en")
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
    "scan_evolved" -> { (s, d) =>
      // parquet SCHEMA EVOLUTION on scan — a later file generation added
      // a column and the old files are never rewritten (routine lake
      // behavior the fixed-schema scans can't express). mergeSchema
      // reconciles the per-file footers into the union schema — a
      // footer-only planning pass, no data read, which is why Spark
      // ships it off by default: at 100 TB you reconcile once at ingest
      // (or in the catalog), not on every query. Old-generation rows
      // surface the added column as null; the TYPED BACKFILL names their
      // sentinel explicitly, so downstream consumers never meet an
      // accidental null. The oracle reconstructs BOTH generations from
      // the parquet source of truth (DuckDB's union_by_name semantics
      // over the same split), verifying the staged layout end to end.
      val dir = ensureDocsEvolved(s, d)
      s.read.option("mergeSchema", "true")
        .parquet(s"$dir/gen1", s"$dir/gen2")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          coalesce(col("quality_tier"), lit("unscored")).as("quality_tier"))
    },
    "scan_csv_badrecords" -> { (s, d) =>
      // malformed-record-TOLERANT ingestion — PERMISSIVE mode with a
      // corrupt-record column, the machinery a real ingest runs on dirty
      // uploads (FAILFAST kills the job on line one; silently DROPMALFORMED
      // hides data loss). Bad lines surface as rows with the raw line in
      // the corrupt column and null data fields — countable, quarantinable,
      // re-parseable. The fixture plants an unparseable line every
      // BAD_EVERY rows, so the expected split is a pure function of the
      // parquet source and the summary is fully oracle-checked: good/bad
      // counts and the good rows' f1 sum (the value a silent drop or a
      // mis-typed good row would shift).
      val schema = "vec_id LONG, f1 DOUBLE, f2 DOUBLE, f3 DOUBLE, " +
        "f4 DOUBLE, _bad STRING"
      // localCheckpoint BEFORE aggregating: Spark's documented
      // corrupt-column caveat — under column pruning the parser only
      // parses the referenced subset, so a row can pass without its
      // corruption being detected (observed: n_bad = 0 without this).
      // Materializing the fully-parsed rows is exactly the "cache the
      // parsed results first" guidance, with the repo's checkpoint
      // lifecycle instead of a session-lifetime cache.
      val parsed = s.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .schema(schema).csv(ensurePointsCsvBad(s, d))
        .localCheckpoint()
      parsed.agg(
        count(when(col("_bad").isNull, 1)).as("n_good"),
        count(col("_bad")).as("n_bad"),
        rIeee(sum(when(col("_bad").isNull, r4(col("f1")))), 2).as("sum_f1"))
    },
    "sink_jsonl" -> { (s, d) =>
      // JSONL EXPORT round-trip — the interchange handoff at the END of a
      // curation pass (scan_jsonl covers the landing side; a corpus that
      // can only be read is half an engine). Write the documents table as
      // JSON-lines, read it back with an explicit schema, compare PER ROW
      // against the parquet source of truth: JSON string escaping and
      // Spark's shortest-decimal rendering make the round-trip lossless.
      // Same single-shard contract note as sink_text: a 100 TB export
      // drops the coalesce and writes one shard per task.
      val out = s"target/text-fixtures/${fixtureKey(d)}/docs_sink_jsonl"
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      Tables.documents(s, d).select(cols.map(col): _*)
        .coalesce(1).write.mode("overwrite").json(out)
      s.read.schema("doc_id LONG, text STRING, lang STRING, " +
          "source STRING, n_chars LONG").json(out)
        .select(cols.map(col): _*)
    },
    "sink_orc" -> { (s, d) =>
      // ORC EXPORT round-trip — completes the sink matrix (text / jsonl /
      // sharded / hive-partitioned / ORC): scan_orc covers the landing
      // side, this is the handoff to an ORC-native warehouse. Write the
      // documents table as ORC, read it back, compare PER ROW against
      // the parquet source of truth — ORC's typed columnar encoding makes
      // the round-trip lossless for longs and strings by construction,
      // and the oracle (reading the PARQUET source) hash-proves it. Same
      // single-shard contract note as sink_text: a 100 TB export drops
      // the coalesce and writes one shard per task.
      val out = s"target/text-fixtures/${fixtureKey(d)}/docs_sink_orc"
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      Tables.documents(s, d).select(cols.map(col): _*)
        .coalesce(1).write.mode("overwrite").orc(out)
      s.read.orc(out).select(cols.map(col): _*)
    },
    "sink_text" -> { (s, d) =>
      // full round-trip through the single-shard sink: write, read back,
      // and compare PER ROW against the parquet source of truth. (An
      // aggregate fingerprint like round(sum(round(x,4)),2) is a latent
      // flake: the grid sum can land on a .005 boundary where Spark's and
      // DuckDB's different summation orders round apart.)
      val out = s"target/text-fixtures/${fixtureKey(d)}/points_sink"
      pointLines(s, d).coalesce(1).write.mode("overwrite").text(out)
      parseLines(s, out)
    },
    "sink_text_sharded" -> { (s, d) =>
      // the SCALE form of sink_text (round-12 verdict item 2): one shard
      // per task, no coalesce(1) driver-side funnel — at 100 TB this is
      // the only writable shape (a single-file text sink serializes the
      // whole corpus through one task). Same per-row round-trip contract
      // and oracle as sink_text; OperatorSpec pins that >1 part file was
      // actually written (a silent coalesce would pass the row compare).
      val out = s"target/text-fixtures/${fixtureKey(d)}/points_sink_sharded"
      pointLines(s, d)
        .repartition(SINK_SHARDS, col("value"))
        .write.mode("overwrite").text(out)
      parseLines(s, out)
    }
  )

  /** Shard count for the sharded text sink — on a cluster this is "one
    * file per task" (repartition keyed on the line so shard assignment is
    * content-deterministic, not round-robin scheduling-dependent). */
  private[graft] val SINK_SHARDS = 8

  /** The sharded sink's output dir for a fixture (spec hook: count files). */
  private[graft] def shardedSinkDir(s: SparkSession, d: String): String =
    s"target/text-fixtures/${fixtureKey(d)}/points_sink_sharded"

  // `round(x,4) + 0` — NOT plain round: DuckDB's float round yields -0.0
  // for x in (-5e-5, 0), while Spark's exact-decimal round canonicalizes
  // to +0.0; the compare sorts row tuples by their string forms, so a
  // single "-0.0" row shifts the whole alignment (observed at sf0.1).
  // Adding +0 normalizes -0.0 → 0.0 in IEEE.
  private def dSql(i: Int, name: String): String =
    s"(round(embedding[$i]::DOUBLE,4) + 0) AS $name"

  val oracles: Map[String, String] = Map(
    "scan_jsonl" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value,
        |       json_extract_string(props, '$.k')::BIGINT AS prop_k
        |FROM events""".stripMargin,
    "scan_csv" -> {
      val fs = (1 to 8).map(i => dSql(i, s"f$i")).mkString(",\n       ")
      s"""SELECT vec_id, $fs,
         |       (vec_id % 2)::INT AS label
         |FROM embeddings""".stripMargin
    },
    "scan_orc" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE lang = 'en'""".stripMargin,
    // both generations reconstructed from the source of truth: even rows
    // are gen-1 (backfilled sentinel), odd rows gen-2 (scored tier)
    "scan_evolved" ->
      s"""SELECT doc_id, lang, n_chars,
         |       CASE WHEN doc_id % 2 = 1 THEN
         |         CASE WHEN n_chars >= $EVOLVED_TIER_CHARS
         |              THEN 'long' ELSE 'short' END
         |       ELSE 'unscored' END AS quality_tier
         |FROM documents""".stripMargin,
    "scan_text" ->
      s"""SELECT vec_id, ${dSql(1, "d0")},
         |       ${dSql(2, "d1")},
         |       ${dSql(3, "d2")},
         |       ${dSql(4, "d3")}
         |FROM embeddings""".stripMargin,
    "scan_csv_badrecords" ->
      s"""SELECT count(CASE WHEN vec_id % $BAD_EVERY <> $BAD_PHASE THEN 1 END)::BIGINT
         |         AS n_good,
         |       count(CASE WHEN vec_id % $BAD_EVERY = $BAD_PHASE THEN 1 END)::BIGINT
         |         AS n_bad,
         |       ${graft.functions.VectorSql.rIeee(
           s"sum(CASE WHEN vec_id % $BAD_EVERY <> $BAD_PHASE " +
             "THEN round(embedding[1]::DOUBLE, 4) END)", 2)} AS sum_f1
         |FROM embeddings""".stripMargin,
    "sink_jsonl" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    // the written ORC must round-trip the parquet source of truth
    "sink_orc" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "sink_text" ->
      s"""SELECT vec_id, ${dSql(1, "d0")},
         |       ${dSql(2, "d1")},
         |       ${dSql(3, "d2")},
         |       ${dSql(4, "d3")}
         |FROM embeddings""".stripMargin,
    "sink_text_sharded" ->
      s"""SELECT vec_id, ${dSql(1, "d0")},
         |       ${dSql(2, "d1")},
         |       ${dSql(3, "d2")},
         |       ${dSql(4, "d3")}
         |FROM embeddings""".stripMargin
  )
}
