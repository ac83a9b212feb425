package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed curation passes — the end-to-end shapes a training-data
  * pipeline actually runs, declared as single plans so the operators are
  * proven to compose (and so Catalyst optimizes across the stage
  * boundaries instead of per-fragment):
  *
  *   pipeline_curate: quality filter → exact dedup → substring removal →
  *                    decontamination → split
  *   pipeline_pack:   …curate… → keep the train split → pack_sequences
  *
  * Reference ancestor: the full scan→…→sink pipeline of
  * `/root/reference/SparKMeansGroupBy.java:66-160` — a single driver-run
  * DAG, here over the §2.6 curation vocabulary instead of K-Means steps.
  *
  * Scale audit of the composition (each stage inherits its operator's
  * shape): the quality stage is a narrow codegen projection; dedup groups
  * by a 16-byte digest, never raw text; the substring stage explodes
  * 60-bit window HASHES of the survivor corpus (window strings never
  * shuffle) and hands its keep set back as a bare-id semi-join; the
  * decontamination hit set is contaminated-docs-sized and takes the
  * conf-gated drop-set broadcast; the split is a pure per-row hash;
  * packing shuffles (id, n_tokens, shard) triples — never text — into 32
  * balanced lanes. The row-scaled shuffles in the whole pack pass are the
  * dedup digest groupBy, the substring window-hash aggregates, the
  * curated-id equi-join handoffs, and the lane exchange.
  *
  * Composition semantics worth stating: dedup runs BEFORE the eval-id
  * fence, so a duplicate cluster whose survivor (min doc_id) is an eval
  * doc exits the corpus entirely — which is decontamination working, not
  * an accident: every member of such a cluster is textually identical to
  * an eval document and must not be trained on (the 5-gram collision path
  * would drop them anyway; the digest path just gets there first).
  */
object PipelineOps {

  /** Quality floor for the curated corpus (see [[TextOps.qualityScored]]
    * for the score; the fixture's scores span ~0.25-0.65, so 0.45 keeps a
    * real majority while dropping a real tail — both branches exercised
    * under oracle parity, asserted in OperatorSpec). */
  private val QMIN = 0.45

  private def maybePin(pin: Boolean)(df: DataFrame): DataFrame =
    if (pin) df.localCheckpoint() else df

  /** The curation DAG's successive stage relations — (raw docs, quality
    * keeps, dedup survivors, substring-pass survivors, decontaminated) —
    * shared by the composed pipelines and the per-stage loss report.
    * `pin` localCheckpoints the keep prefix: the report consumes every
    * stage (without pinning, its union branches re-run the quality
    * projection ~3× — per-branch column pruning makes the exchanges
    * non-identical, so ReuseExchange cannot dedupe them). `sur` pins
    * UNCONDITIONALLY since the substring stage made the DAG branch there
    * in every pipeline: the survivor relation feeds both the audit's
    * text rejoin and the keep semi-join, and without the pin the digest
    * shuffle (and everything upstream) runs twice per plan. */
  private def stages(s: SparkSession, d: String, pin: Boolean = false)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val keep = maybePin(pin)(TextOps.qualityScored(docs)
      .where(col("quality") >= QMIN))
    val (sur, sub, clean) = curateTail(docs, keep, "quality", pin)
    (docs, keep, sur, sub, clean)
  }

  /** The dedup → substring → decontam tail over an arbitrary admitted
    * relation carrying (doc_id, text, `metric`) — the gate at the door
    * is the only stage the two curate pipelines differ in, so ONE tail
    * serves both (heuristic quality in [[stages]], the learned logit in
    * pipeline_curate_learned) and the stage semantics can never drift. */
  private def curateTail(docs: DataFrame, keep: DataFrame, metric: String,
      pin: Boolean): (DataFrame, DataFrame, DataFrame) = {
    // survivors: one doc per distinct text; the metric is a pure
    // function of text, so min() is just "the" group value
    val sur = keep
      .groupBy(DedupOps.digest(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), min(col(metric)).as(metric))
      .localCheckpoint()
    // substring removal over the SURVIVOR corpus (the ExactSubstr stage
    // runs after exact dedup: what recurs among survivors is cross-doc
    // boilerplate/lifted text, not the clone clusters the digest already
    // collapsed). The handoff is a narrow id equi-join — text flows from
    // the scan into the window explode, never through the digest
    // aggregate (the "never raw text through dedup shuffles" discipline).
    val surDocs = docs.join(sur.select(col("doc_id")), Seq("doc_id"))
    val sub = maybePin(pin)(sur.join(
      DedupOps.substringApply(surDocs).select(col("doc_id")),
      Seq("doc_id"), "left_semi"))
    val hits = DedupOps.contamPairs(docs).select(col("doc_id")).distinct()
    val clean = sub.where(col("doc_id") >= DedupOps.NEVAL)
      .join(DedupOps.dropSetHint(sub, hits), Seq("doc_id"), "left_anti")
    (sur, sub, clean)
  }

  /** The hash-split projection shared by both curate pipelines. */
  private def withSplit(clean: DataFrame, metric: String): DataFrame = {
    val u = graft.functions.VectorOps.unitUniform(col("doc_id"))
    clean.select(col("doc_id"), col(metric),
      when(u < 0.8, "train").when(u < 0.9, "val")
        .otherwise("test").as("split"))
  }

  /** (doc_id, quality, split) for the curated corpus — the shared
    * curation DAG of both declared pipelines. */
  private def curated(s: SparkSession, d: String): DataFrame =
    withSplit(stages(s, d)._5, "quality")

  /** Shared oracle CTE chain ending in `cur(doc_id, quality, split)` —
    * mirrors [[curated]]; both pipeline oracles extend it. */
  private lazy val curatedCtes: String =
    s"""${TextOps.qualityCteSql},
       |keep AS (SELECT doc_id, text, quality FROM q WHERE quality >= $QMIN),
       |sur AS (SELECT min(doc_id) AS doc_id, min(quality) AS quality
       |        FROM keep GROUP BY md5(text)),
       |surdocs AS (SELECT sur.doc_id, d.text
       |            FROM sur JOIN documents d USING (doc_id)),
       |${DedupOps.substrAuditCtesFor("surdocs")},
       |sub AS (SELECT sur.doc_id, sur.quality FROM sur
       |        LEFT JOIN aud USING (doc_id)
       |        WHERE coalesce(aud.n_dup_spans, 0) * ${DedupOps.SUBSTR_DROP_DEN} <=
       |              coalesce(aud.n_spans, 0) * ${DedupOps.SUBSTR_DROP_NUM}),
       |${DedupOps.deconCtes},
       |hit AS (SELECT DISTINCT t.doc_id FROM trg t JOIN evg e USING (s)),
       |cur AS (SELECT doc_id, quality,
       |          CASE WHEN u < 0.8 THEN 'train'
       |               WHEN u < 0.9 THEN 'val'
       |               ELSE 'test' END AS split
       |        FROM (SELECT doc_id, quality,
       |                ${graft.functions.VectorSql.unitUniform("doc_id")} AS u
       |              FROM sub
       |              WHERE doc_id >= ${DedupOps.NEVAL}
       |                AND doc_id NOT IN (SELECT doc_id FROM hit)))""".stripMargin

  /** The physical shard payload files for `pipeline_export_files` — the
    * last inch of the export path the manifest alone leaves open: one
    * text file per shard directory, each line `doc_id<TAB>text`
    * (lossless by fixture contract: document text is single-line,
    * tab-free, spec-pinned), written once per fixture. The writer rides
    * the SAME [[graft.sources.StorageOps.shardAssignments]] relation the
    * manifest rolls up — one shard arithmetic, two consumers — then
    * `repartition(shard_id)` puts each shard's rows in exactly one task
    * and `partitionBy(shard_id)` splits directories, so every shard dir
    * holds exactly one payload file (spec-pinned) whose bytes are
    * deterministic (sorted within the write). At 100 TB this is the
    * standard shard-writer shape: one task per output shard, text never
    * shuffles twice (the assignment join moves only ids and sizes; the
    * payload shuffle is the one unavoidable move to shard locality). */
  private[graft] def ensureExportShards(s: SparkSession, d: String): String =
    graft.sources.Staging.ensureDir(
      s"target/export-shards/${graft.sources.Staging.fixtureKey(d)}") { tmp =>
      val train = curated(s, d).where(col("split") === "train")
        .select(col("doc_id"))
      graft.sources.StorageOps.shardAssignments(
        Tables.documents(s, d)
          .join(train, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("n_chars"), col("text")))
        .select(concat(col("doc_id").cast("string"), lit("\t"),
          col("text")).as("value"), col("shard_id"))
        .repartition(col("shard_id"))
        .sortWithinPartitions(col("shard_id"), col("value"))
        .write.mode("overwrite").partitionBy("shard_id").text(tmp)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_curate" -> { (s, d) => curated(s, d) },
    "pipeline_export" -> { (s, d) =>
      // the LAST mile, composed: the curated train split packed into
      // fixed-size training shards with a verifiable manifest — what
      // actually leaves a curation pipeline for the training cluster.
      // The curate→export handoff is the pipeline_pack discipline: a
      // bare-id left-semi join (text and sizes flow straight from the
      // scan into the manifest builder, never through the curation
      // stages); the shard rollup is shard_manifest's two-level exact
      // prefix scan over the surviving train docs, so shard boundaries
      // are deterministic functions of the curated corpus alone.
      val train = curated(s, d).where(col("split") === "train")
        .select(col("doc_id"))
      graft.sources.StorageOps.manifestOf(
        Tables.documents(s, d)
          .join(train, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("n_chars"),
            pmod(DedupOps.h60(col("text")), lit(1000000007L)).as("dg")))
    },
    "pipeline_export_files" -> { (s, d) =>
      // manifest ↔ BYTES agreement — the compact_small_files discipline
      // applied to the export (r18 verdict item 3): the shard payload
      // files are actually written ([[ensureExportShards]] — one text
      // file per shard dir, `doc_id\ttext` lines riding the same
      // shardAssignments relation the manifest rolls up), then the
      // declared relation re-derives the manifest FROM THE BYTES ON
      // DISK: read back, re-parse, re-digest, roll up per shard. It
      // shares pipeline_export's oracle, so the hash gate proves the
      // loader-facing artifact (files + partition dirs) carries exactly
      // the documents, sizes, id ranges and digests the manifest
      // promises — a dropped line, a mangled doc or a mis-assigned
      // shard all break the hash. One-file-per-shard and read-back
      // row-identity are spec-pinned on top.
      val back = s.read.text(ensureExportShards(s, d))
        .select(col("shard_id").cast("long").as("shard_id"),
          split(col("value"), "\t", 2).as("kv"))
        .select(col("shard_id"),
          element_at(col("kv"), 1).cast("long").as("doc_id"),
          element_at(col("kv"), 2).as("text"))
      back.groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("shard_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"),
          sum(pmod(DedupOps.h60(col("text")),
            lit(1000000007L))).as("digest"))
    },
    "pipeline_curate_learned" -> { (s, d) =>
      // the curate DAG with the round-17 LEARNED gate at the door: the
      // classifier trains in-engine from the corpus's own proxy labels
      // (quality_classifier_train's weights, bounded driver
      // materialization), docs are admitted on the sign of their learned
      // logit (quality_classifier_learned's gate, text carried through),
      // and the IDENTICAL dedup → substring → decontam → split tail runs
      // over the admitted set — train-then-curate end to end in one
      // declared plan. The carried metric is the learned logit (the
      // published per-doc score of this pipeline's gate).
      val docs = Tables.documents(s, d)
      val keep = TextOps.learnedKeep(docs, TextOps.clfTrainedWeights(s, d))
      withSplit(curateTail(docs, keep, "logit_micros", pin = false)._3,
        "logit_micros")
    },
    "pipeline_pack" -> { (s, d) =>
      // the full pretraining-data build: curated train split → fixed-
      // length sequence packing. The handoff is a narrow id equi-join
      // (curated ids ⋈ documents) — text flows straight from the scan
      // into the packer's token counter, never through the curation
      // aggregates. Lane arithmetic is identical to pack_sequences
      // (shared packSequences), so a curated doc's lane never depends on
      // which other docs survived — only its offsets do.
      val ids = curated(s, d).where(col("split") === "train")
        .select(col("doc_id"))
      TextOps.packSequences(
        Tables.documents(s, d).join(ids, "doc_id"))
    },
    "pipeline_curate_multimodal" -> { (s, d) =>
      // the curate DAG with the MEDIA leg composed in — multimodal stops
      // being leaf-only (round-17 verdict item 5): visual near-dup
      // removal gates the door (dedup_media_apply's keep set — per
      // cluster the highest-resolution copy survives, exactly what a
      // joint text+image corpus trains on), then the quality gate, then
      // the IDENTICAL dedup → substring → decontam tail. Declared as the
      // FUNNEL (pipeline_report's style): per-stage survivor counts are
      // the observability artifact a composed pass ships, and every
      // count rides the shared stage relations — not re-implementations.
      // Scale audit: the media leg is the banded pair graph + component
      // argmax (nodes ≪ corpus), its keep set hands off as a bare-id
      // semi-join; everything downstream inherits the text tail's
      // shapes.
      val docs = Tables.documents(s, d)
      val mediaKeep = MultimodalOps.mediaApply(s, d)
        .select(col("doc_id")).localCheckpoint()
      val admitted = TextOps.qualityScored(docs)
        .where(col("quality") >= QMIN)
        .join(mediaKeep, Seq("doc_id"), "left_semi")
        .localCheckpoint()
      val (sur, sub, clean) = curateTail(docs, admitted, "quality",
        pin = true)
      Seq(("raw", 0, docs), ("media", 1, mediaKeep),
        ("quality", 2, admitted), ("dedup", 3, sur),
        ("substring", 4, sub), ("decontam", 5, clean))
        .map { case (name, id, df) =>
          df.agg(count(lit(1)).as("n_docs"))
            .select(lit(id).as("stage_id"), lit(name).as("stage"),
              col("n_docs"))
        }.reduce(_ union _)
    },
    "pipeline_report" -> { (s, d) =>
      // per-stage loss accounting — the observability artifact a curation
      // pass ships beside its output (how many docs each stage cost is
      // the first question asked of any corpus drop; a stage suddenly
      // eating 40% is an alert, invisible from the survivors alone).
      // Four 1-row aggregates over the SAME shared stage DAG the
      // pipelines run (not re-implementations that could drift), unioned
      // into a 4-row funnel. Each count is a map-side-combined aggregate;
      // output is stage-domain-bounded.
      val (docs, keep, sur, sub, clean) = stages(s, d, pin = true)
      Seq(("raw", 0, docs), ("quality", 1, keep), ("dedup", 2, sur),
        ("substring", 3, sub), ("decontam", 4, clean))
        .map { case (name, id, df) =>
          df.agg(count(lit(1)).as("n_docs"))
            .select(lit(id).as("stage_id"), lit(name).as("stage"),
              col("n_docs"))
        }.reduce(_ union _)
    }
  )

  /** The export-manifest oracle — the shared curation chain, then
    * shard_manifest's offset-bucketed rollup over the surviving train
    * docs (the oracle runs the one-window global-prefix form; equality
    * proves the composed two-level scan computes identical shard
    * boundaries). Shared by `pipeline_export` (manifest from source)
    * and `pipeline_export_files` (manifest re-derived from the payload
    * bytes on disk). */
  private lazy val exportManifestOracle: String =
    s"""WITH $curatedCtes,
       |tr AS (
       |  SELECT d.doc_id, d.n_chars,
       |         (${DedupOps.h60Sql("d.text")}) % 1000000007 AS dg,
       |         sum(d.n_chars) OVER (ORDER BY d.doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           - d.n_chars AS start
       |  FROM documents d JOIN cur ON d.doc_id = cur.doc_id
       |  WHERE cur.split = 'train')
       |SELECT (start // ${graft.sources.StorageOps.SHARD_TARGET_CHARS})::BIGINT
       |         AS shard_id,
       |       count(*)::BIGINT AS n_docs,
       |       sum(n_chars)::BIGINT AS shard_chars,
       |       min(doc_id) AS min_doc, max(doc_id) AS max_doc,
       |       sum(dg)::BIGINT AS digest
       |FROM tr GROUP BY shard_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "pipeline_curate" ->
      s"""WITH $curatedCtes
         |SELECT doc_id, quality, split FROM cur""".stripMargin,
    // the shared curation chain, then shard_manifest's offset-bucketed
    // rollup over the surviving train docs (the oracle runs the
    // one-window global-prefix form; equality proves the composed
    // two-level scan computes identical shard boundaries)
    "pipeline_export" -> exportManifestOracle,
    // SAME oracle as pipeline_export by design: the declared relation
    // re-derives the manifest from the payload bytes on disk, so the
    // hash equality against the from-source manifest IS the
    // manifest ↔ bytes agreement proof
    "pipeline_export_files" -> exportManifestOracle,
    // the learned-gate curate: classifier training CTEs (labels → bucket
    // counts → log-ratio weights), the per-doc logit fold, the admitted
    // set, then the IDENTICAL tail fragments the heuristic pipeline's
    // oracle uses — gate swapped, stages shared
    "pipeline_curate_learned" ->
      s"""WITH ${TextOps.qualityCteSql},
         |${TextOps.clfTrainCtes},
         |lk AS (
         |  SELECT d.doc_id, d.text,
         |         coalesce(sum(cw.weight_micros), 0)::BIGINT
         |           AS logit_micros,
         |         count(tb.b) AS n_toks
         |  FROM documents d
         |  LEFT JOIN tb ON d.doc_id = tb.doc_id
         |  LEFT JOIN cw ON tb.b = cw.bucket
         |  GROUP BY d.doc_id, d.text),
         |keepl AS (SELECT doc_id, text, logit_micros FROM lk
         |          WHERE n_toks > 0 AND logit_micros >= 0),
         |sur AS (SELECT min(doc_id) AS doc_id,
         |               min(logit_micros) AS logit_micros
         |        FROM keepl GROUP BY md5(text)),
         |surdocs AS (SELECT sur.doc_id, d.text
         |            FROM sur JOIN documents d USING (doc_id)),
         |${DedupOps.substrAuditCtesFor("surdocs")},
         |sub AS (SELECT sur.doc_id, sur.logit_micros FROM sur
         |        LEFT JOIN aud USING (doc_id)
         |        WHERE coalesce(aud.n_dup_spans, 0) * ${DedupOps.SUBSTR_DROP_DEN} <=
         |              coalesce(aud.n_spans, 0) * ${DedupOps.SUBSTR_DROP_NUM}),
         |${DedupOps.deconCtes},
         |hit AS (SELECT DISTINCT tg.doc_id FROM trg tg JOIN evg USING (s))
         |SELECT doc_id, logit_micros,
         |       CASE WHEN u < 0.8 THEN 'train'
         |            WHEN u < 0.9 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, logit_micros,
         |        ${graft.functions.VectorSql.unitUniform("doc_id")} AS u
         |      FROM sub
         |      WHERE doc_id >= ${DedupOps.NEVAL}
         |        AND doc_id NOT IN (SELECT doc_id FROM hit))""".stripMargin,
    // the media keep set (the shared closure fragment), the
    // doubly-gated admission, then the identical tail fragments —
    // every stage named once, counted by the funnel select
    "pipeline_curate_multimodal" ->
      s"""WITH RECURSIVE ${MultimodalOps.mediaKeepCtes},
         |${TextOps.qualityCteSql},
         |kq AS (SELECT doc_id, text, quality FROM q
         |       WHERE quality >= $QMIN
         |         AND doc_id IN (SELECT doc_id FROM mkeep)),
         |sur AS (SELECT min(doc_id) AS doc_id, min(quality) AS quality
         |        FROM kq GROUP BY md5(text)),
         |surdocs AS (SELECT sur.doc_id, d.text
         |            FROM sur JOIN documents d USING (doc_id)),
         |${DedupOps.substrAuditCtesFor("surdocs")},
         |sub AS (SELECT sur.doc_id, sur.quality FROM sur
         |        LEFT JOIN aud USING (doc_id)
         |        WHERE coalesce(aud.n_dup_spans, 0) * ${DedupOps.SUBSTR_DROP_DEN} <=
         |              coalesce(aud.n_spans, 0) * ${DedupOps.SUBSTR_DROP_NUM}),
         |${DedupOps.deconCtes},
         |hit AS (SELECT DISTINCT t.doc_id FROM trg t JOIN evg e USING (s)),
         |cur AS (SELECT doc_id FROM sub
         |        WHERE doc_id >= ${DedupOps.NEVAL}
         |          AND doc_id NOT IN (SELECT doc_id FROM hit))
         |SELECT 0 AS stage_id, 'raw' AS stage,
         |       (SELECT count(*) FROM documents)::BIGINT AS n_docs
         |UNION ALL SELECT 1, 'media', (SELECT count(*) FROM mkeep)::BIGINT
         |UNION ALL SELECT 2, 'quality', (SELECT count(*) FROM kq)::BIGINT
         |UNION ALL SELECT 3, 'dedup', (SELECT count(*) FROM sur)::BIGINT
         |UNION ALL SELECT 4, 'substring', (SELECT count(*) FROM sub)::BIGINT
         |UNION ALL SELECT 5, 'decontam', (SELECT count(*) FROM cur)::BIGINT""".stripMargin,
    // counts over the same shared CTE fragments the pipelines' oracles
    // use; `cur` counts the decontaminated set (the split adds no rows)
    "pipeline_report" ->
      s"""WITH $curatedCtes
         |SELECT 0 AS stage_id, 'raw' AS stage,
         |       (SELECT count(*) FROM documents)::BIGINT AS n_docs
         |UNION ALL SELECT 1, 'quality', (SELECT count(*) FROM keep)::BIGINT
         |UNION ALL SELECT 2, 'dedup', (SELECT count(*) FROM sur)::BIGINT
         |UNION ALL SELECT 3, 'substring', (SELECT count(*) FROM sub)::BIGINT
         |UNION ALL SELECT 4, 'decontam', (SELECT count(*) FROM cur)::BIGINT""".stripMargin,
    "pipeline_pack" ->
      s"""WITH $curatedCtes,
         |curdocs AS (SELECT d.doc_id, d.text FROM documents d
         |            JOIN cur ON d.doc_id = cur.doc_id
         |            WHERE cur.split = 'train'),
         |${TextOps.packCtes("curdocs")}
         |${TextOps.packSelect}""".stripMargin
  )
}
