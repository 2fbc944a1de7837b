package graft.ops

import org.apache.spark.sql.functions._

/** Flagship end-to-end training-data pipeline over `documents`:
  * quality-score → filter → near-dup cluster removal (MinHash+LSH →
  * connected components → keep cluster minimum) → per-language corpus
  * statistics. Composes t03, d02, d06 — each stage is itself
  * oracle-verified, and so is the composition. */
object TrainingPipeline {

  val q40 = QueryDef(
    "q40_training_pipeline",
    (s, d) => {
      import s.implicits._
      val quality = Q.staged("q40_quality", d) {
        TextOps.t03.run(s, d).select($"doc_id", $"n_tokens", $"quality")
      }
      val dupes = DedupOps.d06.run(s, d)
        .where($"is_duplicate").select($"doc_id".as("dup_id"))
      val docs = Q.table(s, d, "documents").select($"doc_id", $"lang")
      docs
        .join(quality, "doc_id")
        .where($"quality" >= 2)
        .join(dupes, $"doc_id" === $"dup_id", "left_anti")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("total_tokens"),
          (sum($"n_tokens").cast("double") / count(lit(1))).as("mean_tokens"))
        .withColumn("total_tokens", $"total_tokens".cast("long"))
    },
    Some(s"""
      WITH q AS (${TextOps.t03.oracle.get.trim}),
      dup AS (
        SELECT doc_id FROM (${DedupOps.d06.oracle.get.trim}) WHERE is_duplicate
      ),
      kept AS (
        SELECT d.doc_id, d.lang, q.n_tokens
        FROM documents d
        JOIN q ON d.doc_id = q.doc_id
        WHERE q.quality >= 2
          AND NOT EXISTS (SELECT 1 FROM dup WHERE dup.doc_id = d.doc_id)
      )
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             (CAST(sum(n_tokens) AS DOUBLE) / count(*)) AS mean_tokens
      FROM kept GROUP BY lang"""),
    headline = true)

  /** q68 — the corpus RELEASE gate: the final accounting pass a dataset
    * ships with, composing the round-13 curation stack in compliance
    * order. Every document gets exactly ONE verdict, first rule wins:
    * (1) `deleted` — the d22 tombstone batch (legal compliance outranks
    * everything); (2) `contained` — its exact-dup content class is a
    * contained side in a d21 verdict (quote/wrapper content
    * double-counts under any token budget); (3) `low_quality` — t19's
    * learned classifier votes drop; (4) `kept`. Output is the per
    * (lang, source) release datasheet — doc counts by verdict + kept
    * tokens — the table a data card publishes (q46's reporting shape
    * over the round-13 operators).
    *
    * Scale shape: pure composition — t19 and d21 run once each (their
    * staged frames memoize); the doc→content-class map is ONE corpus
    * scan + one md5-keyed window (no groupBy+self-join re-scan); the
    * contained-class set is verdict-sized and broadcasts through the
    * IN-subquery; the final datasheet is a metadata-width (lang,
    * source) aggregate. Inner join on t19's scored frame is exact by
    * construction: t19 scores every doc with ≥1 token and the gate
    * corpus has no zero-token docs (t09's pinned edge). */
  val q68 = QueryDef(
    "q68_corpus_release",
    (s, d) => {
      graft.ops.CurationOps.t19.run(s, d).createOrReplaceTempView("q68_t19")
      graft.ops.DedupOps.d21.run(s, d).createOrReplaceTempView("q68_d21")
      Q.withViews(s, d, "documents")(s"""
        WITH dmap AS (SELECT doc_id, lang, source,
                        min(doc_id) OVER (PARTITION BY md5(${Q.sNorm}))
                          AS rep
                      FROM documents),
        j AS (SELECT m.lang, m.source, t.n_tokens,
                CASE WHEN ${DedupOps.tombPred("m.doc_id")} THEN 'deleted'
                     WHEN m.rep IN (SELECT contained_rep FROM q68_d21)
                       THEN 'contained'
                     WHEN NOT t.pred_keep THEN 'low_quality'
                     ELSE 'kept' END AS verdict
              FROM dmap m JOIN q68_t19 t ON m.doc_id = t.doc_id)
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN verdict = 'deleted' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_deleted,
               CAST(sum(CASE WHEN verdict = 'contained' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_contained,
               CAST(sum(CASE WHEN verdict = 'low_quality' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_low_quality,
               CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN verdict = 'kept' THEN n_tokens ELSE 0 END)
                 AS BIGINT) AS kept_tokens
        FROM j GROUP BY lang, source""")
    },
    Some(s"""
      WITH t19 AS (${graft.ops.CurationOps.t19.oracle.get.trim}),
      d21 AS (${graft.ops.DedupOps.d21.oracle.get.trim}),
      dmap AS (SELECT doc_id, lang, source,
                 min(doc_id) OVER (PARTITION BY md5(${Q.oNorm})) AS rep
               FROM documents),
      j AS (SELECT m.lang, m.source, t.n_tokens,
              CASE WHEN ${DedupOps.tombPred("m.doc_id")} THEN 'deleted'
                   WHEN m.rep IN (SELECT contained_rep FROM d21)
                     THEN 'contained'
                   WHEN NOT t.pred_keep THEN 'low_quality'
                   ELSE 'kept' END AS verdict
            FROM dmap m JOIN t19 t ON m.doc_id = t.doc_id)
      SELECT lang, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN verdict = 'deleted' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_deleted,
             CAST(sum(CASE WHEN verdict = 'contained' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_contained,
             CAST(sum(CASE WHEN verdict = 'low_quality' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_low_quality,
             CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN verdict = 'kept' THEN n_tokens ELSE 0 END)
               AS BIGINT) AS kept_tokens
      FROM j GROUP BY lang, source"""))

  val all: Seq[QueryDef] = Seq(q40, q68)
}
