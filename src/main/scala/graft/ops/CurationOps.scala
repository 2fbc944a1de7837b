package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.udf

import Q._

/** Corpus-curation operators layered on the dedup/text base: weighted
  * sampling, cross-document span (paragraph) dedup, n-gram overlap
  * decontamination with a Bloom prefilter, domain-level quality gating,
  * and rare-token surprisal scoring. All oracle-exact: integer arithmetic
  * end-to-end, with at most one final IEEE division per output double.
  *
  * Shared building block: documents are chunked into NON-overlapping
  * 8-token spans ("paragraphs" — the synthetic corpus has no newlines, so
  * fixed-width token windows stand in for line boundaries). Chunk count is
  * ceil(n/8); the last span may be short.
  */
object CurationOps {

  private[graft] val W = 8

  /** Coverage + reassembly tail over a frame `mk(doc_id, p, tok, sb)` —
    * the window-MAX over the last W−1 shingle flags (reconstructing each
    * variable-length repeated interval), `lag`-based span heads, and the
    * per-doc kept-text regroup. ONE spelling, shared by d19 and d20's
    * post-pass (the oGranuleCtes no-drift rule: the coverage logic must
    * not be editable in one consumer without the other). A DataFrame
    * function, composed on d19's staged shingle frame. */
  private[graft] def coverageTail(mk: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    mk.selectExpr("doc_id", "p", "tok",
        s"""max(sb) OVER (PARTITION BY doc_id ORDER BY p
            ROWS BETWEEN ${W - 1} PRECEDING AND CURRENT ROW) AS covered""")
      .selectExpr("doc_id", "p", "tok", "covered",
        """CASE WHEN covered = 1 AND coalesce(lag(covered) OVER
             (PARTITION BY doc_id ORDER BY p), 0) = 0
           THEN 1 ELSE 0 END AS spanhead""")
      .groupBy("doc_id")
      .agg(
        expr("""array_join(transform(array_sort(collect_list(
               CASE WHEN covered = 0 THEN struct(p, tok) END)),
               x -> x.tok), ' ')""").as("kept_text"),
        expr("CAST(count(*) AS BIGINT)").as("n_tokens"),
        expr("CAST(sum(covered) AS BIGINT)").as("n_removed"),
        expr("CAST(sum(spanhead) AS BIGINT)").as("n_spans"))
  }

  /** DuckDB spelling of [[coverageTail]]. */
  private[graft] val oCoverageTail: String = s"""
      cov AS (SELECT doc_id, p, tok,
                max(sb) OVER (PARTITION BY doc_id ORDER BY p
                  ROWS BETWEEN ${W - 1} PRECEDING AND CURRENT ROW) AS covered
              FROM mk),
      tr AS (SELECT doc_id, p, tok, covered,
               CASE WHEN covered = 1 AND coalesce(lag(covered) OVER
                 (PARTITION BY doc_id ORDER BY p), 0) = 0
                 THEN 1 ELSE 0 END AS spanhead
             FROM cov)
      SELECT doc_id,
             coalesce(string_agg(tok, ' ' ORDER BY p)
               FILTER (WHERE covered = 0), '') AS kept_text,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(covered) AS BIGINT) AS n_removed,
             CAST(sum(spanhead) AS BIGINT) AS n_spans
      FROM tr GROUP BY doc_id"""

  /** The tokenization CTE `toks(<cols>, t)`: each non-empty document's
    * normalized text as its array of space-separated tokens. */
  private def toks(dl: Dialect, cols: String): String = s"""
    toks AS (SELECT $cols, ${dl.split(dl.norm)} AS t FROM documents
             WHERE length(text) >= 1)"""

  /** Spark SQL for (doc_id, source, i, chunk) over normalized text. */
  private[graft] val sChunks = s"""${toks(Dialect.Spark, "doc_id, source")},
    n AS (SELECT doc_id, source, t,
            CAST((size(t) + ${W - 1}) div $W AS INT) AS nch FROM toks),
    chunks AS (SELECT doc_id, source, i,
                 array_join(slice(t, i * $W + 1, $W), ' ') AS chunk
               FROM n LATERAL VIEW explode(sequence(0, nch - 1)) x AS i)"""

  /** DuckDB spelling of [[sChunks]] (range + list_slice; `//` int div). */
  private val oChunks = s"""${toks(Dialect.DuckDB, "doc_id, source")},
    n AS (SELECT doc_id, source, t, (len(t) + ${W - 1}) // $W AS nch FROM toks),
    ix AS (SELECT doc_id, source, t, unnest(range(nch)) AS i FROM n),
    chunks AS (SELECT doc_id, source, i,
                 array_to_string(list_slice(t, i * $W + 1, (i + 1) * $W), ' ')
                   AS chunk
               FROM ix)"""

  /** The DuckDB shingle frame `pr(doc_id, p, tok, h)` of d19's and d20's
    * oracles: every token at its 0-based position, with the md5 of the
    * W-token shingle starting there (null within W − 1 of the end). */
  private[graft] val oShingles = s"""${toks(Dialect.DuckDB, "doc_id")},
      pr AS (SELECT doc_id, CAST(p1 - 1 AS BIGINT) AS p, t[CAST(p1 AS INT)] AS tok,
               CASE WHEN p1 + $W - 1 <= len(t)
                    THEN md5(array_to_string(
                      list_slice(t, CAST(p1 AS INT), CAST(p1 + $W - 1 AS INT)), ' '))
               END AS h
             FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p1
                   FROM toks))"""

  /** A query over `documents` whose one SQL text `sql` is written for
    * both dialects. */
  private def docQuery(name: String, headline: Boolean = false)(
      sql: Dialect => String): QueryDef =
    QueryDef(name, (s, d) => withViews(s, d, "documents")(sql(Dialect.Spark)),
      Some(sql(Dialect.DuckDB)), headline)

  /** Weighted priority sampling: each document draws a deterministic
    * "uniform" u from a portable hash of its id (NO rand() — re-running
    * the pipeline reproduces the sample) and competes with priority u/w,
    * w = document length. Longer documents get proportionally smaller
    * priorities, so the per-stratum top-K skews toward content-rich docs —
    * the deterministic cousin of weighted reservoir sampling (Efraimidis-
    * Spirakis keys, with the hash standing in for the random draw).
    * Priority is ONE IEEE division of two exact integers — bit-identical
    * across engines. Row-wise + per-stratum top-K (WindowGroupLimit:
    * partial top-K before the lang shuffle), same scale shape as d09. */
  val d10 = docQuery("d10_weighted_sample") { dl => s"""
      WITH h AS (SELECT doc_id, lang, greatest(n_chars, 1) AS w,
                   CAST(${dl.fold(s"CAST(doc_id AS ${dl.str})", 303)} % 1000000
                     AS BIGINT) AS u
                 FROM documents),
      p AS (SELECT doc_id, lang, w,
              CAST(u AS DOUBLE) / CAST(w AS DOUBLE) AS priority FROM h),
      r AS (SELECT doc_id, lang, priority,
              CAST(row_number() OVER (PARTITION BY lang
                ORDER BY priority, doc_id) AS BIGINT) AS rnk
            FROM p)
      SELECT doc_id, lang, priority, rnk FROM r WHERE rnk <= 20"""
  }

  /** Cross-document span dedup (CCNet/RefinedWeb line-dedup shape): any
    * 8-token span appearing in ≥2 DISTINCT documents is boilerplate —
    * strip it everywhere and reassemble each document from its surviving
    * spans, in order. Scale shape: the frequency count shuffles only
    * (md5, doc_id) — span text never leaves its scan partition until the
    * final per-doc regroup; the repeated-span set is tiny relative to the
    * corpus (most spans are unique) and broadcasts back, so the only
    * full-width shuffle is the doc_id regroup of kept spans. */
  val d11 = QueryDef(
    "d11_span_dedup",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{broadcast, countDistinct, expr}
      // staged: `chunks` feeds both the boilerplate-frequency aggregate
      // and the join-back, so the corpus pays the tokenize + chunk
      // explode once
      val ch = staged("d11_chunks", d) {
        withViews(s, d, "documents")(s"""
          WITH $sChunks
          SELECT doc_id, i, chunk FROM chunks""")
      }
      val b = ch.selectExpr("doc_id", "md5(chunk) AS h")
        .groupBy($"h").agg(countDistinct($"doc_id").as("nd"))
        .where($"nd" >= 2).select($"h")
      val j = ch.join(broadcast(b), expr("md5(chunk) = h"), "left")
        .select($"doc_id", $"i", $"chunk", $"h".isNotNull.as("bad"))
      j.groupBy($"doc_id").agg(
        expr("""array_join(transform(array_sort(collect_list(
              CASE WHEN NOT bad THEN struct(i, chunk) END)),
              x -> x.chunk), ' ')""").as("kept_text"),
        expr("CAST(count(*) AS BIGINT)").as("n_chunks"),
        expr("CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)")
          .as("n_removed"))
    },
    Some(s"""
      WITH $oChunks,
      b AS (SELECT md5(chunk) AS h FROM chunks
            GROUP BY md5(chunk) HAVING count(DISTINCT doc_id) >= 2),
      j AS (SELECT c.doc_id, c.i, c.chunk, (b.h IS NOT NULL) AS bad
            FROM chunks c LEFT JOIN b ON md5(c.chunk) = b.h)
      SELECT doc_id,
             coalesce(string_agg(chunk, ' ' ORDER BY i)
               FILTER (WHERE NOT bad), '') AS kept_text,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
      FROM j GROUP BY doc_id"""),
    headline = true)

  /** Variable-length EXACT substring dedup (Lee et al. 2022 shape — the
    * production dedup mode d11's fixed grid doesn't cover): any exact
    * token run of length ≥ W shared by ≥ 2 distinct documents is removed
    * from every document, whatever its LENGTH and whatever its ALIGNMENT.
    * d11 hashes non-overlapping W-token grid cells, so a repeat that
    * straddles cell boundaries (or starts mid-cell) survives; here a
    * shingle is hashed at EVERY token offset, and a maximal repeated run
    * of length L ≥ W is exactly a run of L−W+1 consecutive repeated
    * shingle starts — so marking covered tokens via a window MAX over the
    * last W−1 shingle flags reconstructs the full variable-length
    * interval in ONE linear pass (no suffix array needed; the suffix
    * array in the reference recipe finds the same intervals).
    *
    * Scale shape: the shingle-frequency count shuffles (md5, doc_id) —
    * metadata-width, token text never rides it; the repeated-hash set is
    * joined back with NO broadcast hint (m09's lesson: the set size is a
    * property of corpus duplication — AQE broadcasts it when it is
    * actually small and shuffle-joins when it is not); the coverage
    * window + per-doc reassembly shuffle token-width rows once on doc_id
    * (t15's accepted regime). Within-doc repeats do not count (the
    * ≥ 2 DISTINCT docs rule, d11's semantics).
    *
    * The shingle frame `pr` (tokenize + posexplode + md5 over the full
    * corpus) feeds BOTH the frequency aggregate and the coverage join, so
    * it is staged: as a CTE, Catalyst inlined it into each consumer and
    * paid the corpus explode + md5 twice (SCALE.md "One curation
    * vocabulary"). */
  val d19 = QueryDef(
    "d19_substring_dedup",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{countDistinct, when}
      val pr = staged("d19_pr", d) {
        withViews(s, d, "documents")(s"""
          WITH ${toks(Dialect.Spark, "doc_id")}
          SELECT doc_id, pos AS p, tok,
                 CASE WHEN pos + $W <= size(t)
                      THEN md5(array_join(slice(t, pos + 1, $W), ' ')) END AS h
          FROM toks LATERAL VIEW posexplode(t) x AS pos, tok""")
      }
      val rep = pr.where($"h".isNotNull)
        .groupBy($"h").agg(countDistinct($"doc_id").as("nd"))
        .where($"nd" >= 2).select($"h".as("rh"))
      val mk = pr.join(rep, pr("h") === rep("rh"), "left")
        .select(pr("doc_id"), pr("p"), pr("tok"),
          when($"rh".isNotNull, 1).otherwise(0).as("sb"))
      coverageTail(mk)
    },
    Some(s"""
      WITH $oShingles,
      rep AS (SELECT h FROM pr WHERE h IS NOT NULL
              GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      mk AS (SELECT pr.doc_id, pr.p, pr.tok,
               CASE WHEN r.h IS NOT NULL THEN 1 ELSE 0 END AS sb
             FROM pr LEFT JOIN rep r ON pr.h = r.h),
      $oCoverageTail"""),
    headline = true)

  /** N-gram overlap decontamination, Bloom-prefiltered — the GPT-3/PaLM
    * hygiene recipe: a training document is contaminated if it shares any
    * 8-token span with the eval set (source = 'src0' stands in). The eval
    * side is bounded by construction (benchmarks are MBs, not TBs), so its
    * span-digest set builds into a driver-side Bloom filter and broadcasts
    * to every executor; the filter discards the overwhelmingly-unique
    * training spans BEFORE the shuffle, and the exact semi-join then
    * removes the Bloom's false positives — the result is exact regardless
    * of the filter, which only prunes true negatives. The oracle is the
    * plain exact overlap query. */
  val d12 = QueryDef(
    "d12_ngram_decontam",
    (s, d) => {
      import s.implicits._
      // staged: the digest projection feeds THREE consumers (the driver's
      // bloom build, the candidate side, the semi-join's eval side) — one
      // corpus scan + chunk explode instead of three, and the cached frame
      // is narrow (id, source, md5), never the chunk text
      val chunks = staged("d12_chunks", d) {
        withViews(s, d, "documents")(s"""
          WITH $sChunks
          SELECT doc_id, source, md5(chunk) AS h FROM chunks""")
      }
      val evalH = chunks.where($"source" === "src0").select($"h").distinct()
      // expectedNumItems sized for a real eval suite (~1e6 spans), not the
      // test fixture: the filter stays a few MB broadcast either way
      val bloom = evalH.stat.bloomFilter("h", 1000000L, 0.01)
      val bbf = s.sparkContext.broadcast(bloom)
      val mightContain = udf((h: String) => h != null && bbf.value.mightContainString(h))
      val candidates = chunks.where($"source" =!= "src0")
        .where(mightContain($"h"))
      candidates
        .join(evalH.withColumnRenamed("h", "eh"), $"h" === $"eh", "left_semi")
        .groupBy($"doc_id")
        .agg(org.apache.spark.sql.functions.countDistinct($"h").as("n_hit_spans"))
    },
    Some(s"""
      WITH $oChunks,
      cd AS (SELECT doc_id, source, md5(chunk) AS h FROM chunks),
      ev AS (SELECT DISTINCT h FROM cd WHERE source = 'src0')
      SELECT doc_id, CAST(count(DISTINCT h) AS BIGINT) AS n_hit_spans
      FROM cd WHERE source <> 'src0' AND h IN (SELECT h FROM ev)
      GROUP BY doc_id"""))

  /** Domain-level quality gate (UT1-blocklist shape, stats-driven): score
    * every source from its own aggregate (mean doc length), then keep only
    * documents from sources above the bar. Integer-only threshold —
    * `sum >= n * 295` cross-multiplies the mean, so no float ever enters
    * the decision. Scale shape: the per-source aggregate is tiny (domains
    * ≪ documents) and broadcasts back onto the corpus scan — two jobs, one
    * full scan, no wide shuffle of document text. */
  val q51 = docQuery("q51_domain_quality_gate") { _ => """
      WITH st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(n_chars) AS BIGINT) AS sum_chars
                  FROM documents GROUP BY source),
      g AS (SELECT source, n_docs, sum_chars FROM st
            WHERE sum_chars >= n_docs * 295)
      SELECT /*+ BROADCAST(g) */ d.doc_id, d.source,
             g.n_docs AS src_docs, g.sum_chars AS src_chars
      FROM documents d JOIN g ON d.source = g.source"""
  }

  /** Rare-token surprisal: an information-theoretic quality signal with the
    * transcendentals stripped out. Per token, surprisal ∝ N/count(token)
    * (the log is monotone — dropped, like BM25's idf in q44); scaled by 1e6
    * and floored to an integer, per-doc totals are exact BIGINT sums, and
    * the mean is ONE final IEEE division. Scale shape: the vocabulary is
    * Zipf-bounded (≪ corpus), broadcasts onto the exploded token stream;
    * shuffles carry (token) for the count and (doc_id, int) for the final
    * regroup — never the text. */
  val t09 = QueryDef(
    "t09_token_surprisal",
    (s, d) => {
      // ONE corpus pass: the vocab count, the total and the scoring join
      // all read the staged per-doc token histogram, so occurrences
      // never explode (surprisal depends only on the token, so per-doc
      // sums are count-weighted over DISTINCT words — t12's shape; why
      // not a `toks` CTE: SCALE.md "One curation vocabulary").
      // space_token_histogram over the normalized text counts exactly
      // split(text, ' ')'s tokens (maximal non-space runs). Pinned edge
      // case: a doc whose normalized text is all whitespace has zero
      // tokens and is EXCLUDED from the output in both engines — the
      // oracle filters tok <> '' so DuckDB's
      // string_split('') one-empty-token artifact never re-admits it
      // (TextSpec pins the engine half on a planted whitespace doc).
      staged("t09_dh", d) {
        withViews(s, d, "documents")(s"""
          SELECT doc_id, space_token_histogram($sNorm) AS h
          FROM documents WHERE length(text) >= 1""")
      }.createOrReplaceTempView("t09_dh")
      s.sql("""
        WITH dw AS (SELECT doc_id, w, cnt
                    FROM (SELECT doc_id, explode(h) AS (w, cnt) FROM t09_dh)),
        v AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS cnt FROM dw GROUP BY w),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM v),
        sc AS (SELECT /*+ BROADCAST(v) */ t.doc_id, t.cnt AS c,
                 CAST((tot.n * 1000000) div v.cnt AS BIGINT) AS surp
               FROM dw t JOIN v ON t.w = v.w CROSS JOIN tot)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(sum(c * surp) AS BIGINT) AS surp_sum,
               CAST(sum(c * surp) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
                 AS mean_surprisal
        FROM sc GROUP BY doc_id""")
    },
    Some(s"""
      WITH toks AS (SELECT doc_id, tok
                    FROM (SELECT doc_id,
                            unnest(string_split($oNorm, ' ')) AS tok
                          FROM documents WHERE length(text) >= 1)
                    WHERE tok <> ''),
      v AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
      sc AS (SELECT t.doc_id, (tot.n * 1000000) // v.cnt AS surp
             FROM toks t JOIN v ON t.tok = v.tok CROSS JOIN tot)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(surp) AS BIGINT) AS surp_sum,
             CAST(sum(surp) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS mean_surprisal
      FROM sc GROUP BY doc_id"""))

  /** Feature-hash width of the quality classifier's weight table — the
    * model size: the vocabulary is unbounded at corpus scale, the model
    * must not be, so tokens hash into a fixed bucket space (fastText's
    * trick). */
  private[graft] val qcWidth = 4096

  /** t19 — hashed linear quality-classifier scoring, the learned stage
    * every public-web pretraining pipeline runs after the rule battery
    * (GPT-3's WebText classifier, LLaMA's wiki-ref classifier, CCNet's
    * LM filter — fastText-shaped: bounded hashed features, linear
    * scoring). Weak supervision comes from t08's C4/Gopher rule battery
    * (`keep`), trained on the doc_id%5≠0 hash split (q54's
    * deterministic-split pattern) and scored over ALL docs, so the
    * holdout fifth measures generalization the gate can audit. Per
    * hashed bucket b the weight is the add-1-smoothed positive rate in
    * t11's exact-rational fixed-point spelling — `((pos+1)·10⁶) div
    * (pos+neg+2)`, no log/exp, bit-exact across engines; a bucket never
    * seen in training scores the neutral prior 500000. A document's
    * score is its token-count-weighted mean bucket weight, and the
    * decision boundary is Rocchio's (nearest class centroid in score
    * space): the train split's token-weighted per-class mean scores
    * `m_pos`/`m_neg` (fixed-point floor division — both engines floor
    * identically on the non-negative sums), with `pred_keep` the exact
    * integer midpoint test `2·Σcnt·w ≥ (m_pos+m_neg)·Σcnt`. A naive
    * mean ≥ ½ boundary degenerates to all-keep (measured: every doc
    * scores 0.84–0.89 because common tokens carry the majority-class
    * rate); the centroid midpoint is what separates (holdout balanced
    * accuracy 0.73 at sf0.01 vs 0.50 for all-keep — spec-pinned floor).
    * Precondition: the train split contains both classes (else a
    * centroid is a 0/0 division — null pred on a degenerate corpus).
    *
    * Scale shape: ONE corpus scan computes the per-doc token histogram
    * AND the label (both native expressions — no corpus-scale
    * label join); training is one ≤`qcWidth`-row metadata-width shuffle
    * (map-side partial agg collapses to the bucket space — q59's
    * sketch-IS-a-groupBy economics); the trained weight table is
    * COLLECTED (≤`qcWidth` rows — the model artifact a deployment
    * exports, t12's merge-table pattern) and scoring is a ZERO-SHUFFLE
    * row-wise fold of each doc's histogram against the dense
    * bucket-indexed array literal — no second explode, no join, no
    * doc_id regroup (the join spelling's corpus-scale scoring exchange
    * was 40% of the query at 64×: 18.4 → 11.1 s, SCALE.md); the
    * class-centroid boundary is a 2-value aggregate of the per-doc
    * frame cross-joined back (scalar broadcast). */
  val t19 = QueryDef(
    "t19_quality_classifier",
    (s, d) => {
      staged("t19_base", d) {
        withViews(s, d, "documents")("""
          SELECT doc_id, h,
                 (cf.n_tokens BETWEEN 5 AND 1000)
                 AND (3 * cf.n_tokens <= cf.total_chars
                      AND cf.total_chars <= 10 * cf.n_tokens)
                 AND cf.n_stop >= 2
                 AND cf.n_sym * 10 < cf.n_chars
                 AND cf.n_digit * 5 < cf.n_chars
                 AND (cf.n_bigrams - cf.n_uniq_bigrams) * 5 <= cf.n_bigrams
                   AS label_keep
          FROM (SELECT doc_id, ascii_word_histogram(lower(text)) AS h,
                       corpus_features(text) AS cf
                FROM documents)""")
      }.createOrReplaceTempView("t19_base")
      // Train: one explode over the cached base, one <=qcWidth-row
      // bucket shuffle; the weight table is COLLECTED as the model
      // artifact (t12's merge-table / d12's Bloom pattern — it is what a
      // deployment exports) and rides back into the scoring pass as a
      // dense array literal indexed by bucket. Scoring is then a
      // ZERO-SHUFFLE row-wise fold over each doc's histogram — no
      // second explode, no join, no doc_id regroup (the first spelling's
      // 11 M-row scoring exchange at 64x was 2/3 of the query; the fold
      // cut 18.4 s -> measured below in SCALE.md).
      val weights = Array.fill(qcWidth)(500000L)
      s.sql(s"""
        SELECT b, CAST((pos + 1) * 1000000 div (pos + neg + 2) AS BIGINT) AS w
        FROM (SELECT CAST(char_fold(w, 7) % $qcWidth AS BIGINT) AS b,
                CAST(sum(CASE WHEN label_keep THEN cnt ELSE 0 END) AS BIGINT) AS pos,
                CAST(sum(CASE WHEN label_keep THEN 0 ELSE cnt END) AS BIGINT) AS neg
              FROM (SELECT doc_id, label_keep, explode(h) AS (w, cnt)
                    FROM t19_base)
              WHERE doc_id % 5 != 0
              GROUP BY 1)""").collect()
        .foreach(r => weights(r.getLong(0).toInt) = r.getLong(1))
      val wLit = weights.mkString("array(", "L,", "L)")
      s.sql(s"""
        WITH doc AS (SELECT doc_id, label_keep, st.n AS n_tokens,
                       st.s AS score_sum
                     FROM (SELECT doc_id, label_keep,
                             aggregate(map_entries(h),
                               named_struct('n', CAST(0 AS BIGINT),
                                            's', CAST(0 AS BIGINT)),
                               (acc, e) -> named_struct(
                                 'n', acc.n + e.value,
                                 's', acc.s + e.value * element_at($wLit,
                                   CAST(char_fold(e.key, 7) % $qcWidth AS INT) + 1)))
                               AS st
                           FROM t19_base)
                     WHERE st.n > 0),
        ctr AS (SELECT
                  CAST(sum(CASE WHEN label_keep THEN score_sum ELSE 0 END)
                       div sum(CASE WHEN label_keep THEN n_tokens ELSE 0 END)
                       AS BIGINT) AS m_pos,
                  CAST(sum(CASE WHEN label_keep THEN 0 ELSE score_sum END)
                       div sum(CASE WHEN label_keep THEN 0 ELSE n_tokens END)
                       AS BIGINT) AS m_neg
                FROM doc WHERE doc_id % 5 != 0)
        SELECT doc_id, label_keep, n_tokens, score_sum,
               CAST(score_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 AS mean_score,
               2 * score_sum >= (m_pos + m_neg) * n_tokens AS pred_keep,
               doc_id % 5 = 0 AS holdout
        FROM doc CROSS JOIN ctr""")
    },
    Some {
      def oFold(e: String, seed: Int) = s"(${Q.oCharFold(e, seed)})"
      s"""
      WITH lab AS (SELECT doc_id, keep FROM (${TextOps.t08.oracle.get.trim}) tq),
      toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
               FROM documents),
      dw AS (SELECT t.doc_id, l.keep AS label_keep,
               ${oFold("t.w", 7)} % $qcWidth AS b
             FROM toks t JOIN lab l ON t.doc_id = l.doc_id),
      tr AS (SELECT b,
               CAST(sum(CASE WHEN label_keep THEN 1 ELSE 0 END) AS BIGINT) AS pos,
               CAST(sum(CASE WHEN label_keep THEN 0 ELSE 1 END) AS BIGINT) AS neg
             FROM dw WHERE doc_id % 5 <> 0 GROUP BY b),
      wt AS (SELECT b, (pos + 1) * 1000000 // (pos + neg + 2) AS w FROM tr),
      sc AS (SELECT dw.doc_id, dw.label_keep,
               coalesce(wt.w, 500000) AS w
             FROM dw LEFT JOIN wt ON dw.b = wt.b),
      doc AS (SELECT doc_id, label_keep,
                CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(w) AS BIGINT) AS score_sum
              FROM sc GROUP BY doc_id, label_keep),
      ctr AS (SELECT
                CAST(sum(CASE WHEN label_keep THEN score_sum ELSE 0 END)
                     // sum(CASE WHEN label_keep THEN n_tokens ELSE 0 END)
                     AS BIGINT) AS m_pos,
                CAST(sum(CASE WHEN label_keep THEN 0 ELSE score_sum END)
                     // sum(CASE WHEN label_keep THEN 0 ELSE n_tokens END)
                     AS BIGINT) AS m_neg
              FROM doc WHERE doc_id % 5 <> 0)
      SELECT doc_id, label_keep, n_tokens, score_sum,
             CAST(score_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_score,
             2 * score_sum >= (m_pos + m_neg) * n_tokens AS pred_keep,
             doc_id % 5 = 0 AS holdout
      FROM doc CROSS JOIN ctr"""
    },
    headline = true)

  /** The canonical election over the member rows `(keys…, doc_id,
    * n_chars)` of `src` (a relation, optionally aliased and filtered):
    * per `keys` group the longest member, doc_id breaking ties, and the
    * group size. One spelling in both dialects, for d13, d22's stored
    * base, repair and full re-election, and d23's oracle. */
  private[graft] def elect(src: String, keys: String): String = s"""
      SELECT $keys,
             max(CASE WHEN rk = 1 THEN doc_id END) AS canonical_doc,
             max(CASE WHEN rk = 1 THEN n_chars END) AS canonical_chars,
             CAST(count(*) AS BIGINT) AS n_members
      FROM (SELECT $keys, doc_id, n_chars,
              row_number() OVER (PARTITION BY $keys
                ORDER BY n_chars DESC, doc_id) AS rk
            FROM $src) t
      GROUP BY $keys"""

  /** Cluster members `(cluster_id, doc_id, n_chars)` of the d06 labels
    * relation `lab`, in both dialects. */
  private[graft] def memberSql(lab: String): String = s"""
      SELECT l.cluster_id, l.doc_id, doc.n_chars
      FROM $lab l JOIN documents doc ON l.doc_id = doc.doc_id"""

  /** The one staged cluster-member frame ([[memberSql]] over d06's
    * labels), read by d22 and d23's tombstone stream. It is
    * cluster-edge-set-sized (≪ corpus), and every d22 repair CTE composes
    * on it, so the corpus scans once. */
  private[graft] def clusterMembers(s: SparkSession, d: String): DataFrame =
    staged("cluster_mem", d) {
      DedupOps.d06.run(s, d).createOrReplaceTempView("cluster_lab")
      withViews(s, d, "documents")(memberSql("cluster_lab"))
    }

  /** d13's text over the d06 labels relation `lab`. */
  private def d13Sql(lab: String): String =
    s"WITH mem AS (${memberSql(lab)})${elect("mem", "cluster_id")}"

  /** Canonical-document selection — the retention policy that rides on
    * dedup clustering: within every near-dup cluster (d06's connected
    * components) keep the HIGHEST-QUALITY member (longest document,
    * doc_id tie-break), not d06's arbitrary min-id representative. The
    * cluster set is tiny relative to the corpus (only docs with a near-dup
    * edge), so the labels→documents join broadcasts and the per-cluster
    * argmax is a window over a bounded group. The join stays unstaged: d13
    * reads it once. */
  val d13 = QueryDef(
    "d13_canonical_selection",
    (s, d) => {
      DedupOps.d06.run(s, d).createOrReplaceTempView("d13_lab")
      withViews(s, d, "documents")(d13Sql("d13_lab"))
    },
    Some(d13Sql(s"(${DedupOps.d06.oracle.get.trim})")))

  /** d22's CTEs and select over the member relation `mem`, with
    * tombstones drawn from `tomb`. */
  private def d22Sql(mem: String, tomb: String): String = s"""
      tomb AS (SELECT doc_id FROM $tomb WHERE ${DedupOps.tombPred("doc_id")}),
      base AS (${elect(mem, "cluster_id")}),
      aff AS (SELECT DISTINCT cluster_id FROM $mem
              WHERE doc_id IN (SELECT doc_id FROM tomb)),
      surv AS (SELECT m.cluster_id, m.doc_id, m.n_chars FROM $mem m
               WHERE m.doc_id NOT IN (SELECT doc_id FROM tomb)),
      re AS (${elect("surv s WHERE s.cluster_id IN (SELECT cluster_id FROM aff)",
                     "cluster_id")}),
      maint AS (SELECT b.cluster_id, b.canonical_doc, b.canonical_chars,
                  b.n_members, false AS was_affected
                FROM base b
                WHERE b.cluster_id NOT IN (SELECT cluster_id FROM aff)
                UNION ALL
                SELECT r.cluster_id, r.canonical_doc, r.canonical_chars,
                  r.n_members, true AS was_affected
                FROM re r),
      fullr AS (${elect("surv s", "cluster_id")})
      SELECT coalesce(m.cluster_id, f.cluster_id) AS cluster_id,
             m.canonical_doc, m.canonical_chars, m.n_members,
             m.was_affected,
             m.cluster_id IS NOT NULL AND f.cluster_id IS NOT NULL
               AND m.canonical_doc = f.canonical_doc
               AND m.canonical_chars = f.canonical_chars
               AND m.n_members = f.n_members AS matches_full
      FROM maint m FULL OUTER JOIN fullr f ON m.cluster_id = f.cluster_id"""

  /** d22 — deletion propagation through the dedup artifacts (the
    * right-to-be-forgotten / publisher-opt-out path every production
    * corpus must run without a full rebuild): a deterministic tombstone
    * batch (doc_id % 13 = 4 stands in for the day's deletion requests —
    * swap the CTE for a real request feed and nothing else moves, q57's
    * contract) removes documents, and the derived canonical-selection
    * artifact (d13) is REPAIRED delta-bound: only clusters that lost a
    * member re-elect their canonical among survivors; untouched clusters
    * keep their stored base row byte-for-byte; clusters whose every
    * member is deleted vanish. Cluster MEMBERSHIP is the stored d06
    * artifact by scope — a deletion that removes a bridge doc can only
    * split a cluster at the next scheduled re-cluster (d06 rerun), the
    * standard production split (immediate tombstone + canonical repair
    * now, re-cluster on cadence).
    *
    * The gate output carries the q67/s12 proof obligation: `matches_full`
    * is COMPUTED per cluster against a from-scratch re-election over the
    * surviving members via FULL OUTER join — so the hash proves both
    * value equality and cluster-SET equality (a cluster present on only
    * one side surfaces as a matches_full=false row, never silently
    * drops). The proof leg exists only in the gate; a deployment runs
    * just the maintained path.
    *
    * Scale shape: tombstone keys and the affected-cluster id set are
    * request-batch-sized — they broadcast; the re-election window runs
    * only over affected clusters' surviving members (bounded per-cluster
    * groups, d13's economics); the stored base for unaffected clusters
    * moves through one anti-join and is never re-derived per refresh.
    * Every repair CTE composes on the one staged [[clusterMembers]]
    * frame: without the staged leaf Catalyst's CTE inlining expanded the
    * plan to nine live corpus scans (SCALE.md "One curation vocabulary").
    * Tombstones are read from `tomb`: the labeled members on the engine
    * side — a deletion of an unclustered doc cannot affect any cluster
    * row, so the output is identical (the oracle keeps the unfiltered
    * `documents`; the gate hash proves the equivalence). At 100 TB the
    * difference between a day's deletions and the corpus. */
  val d22 = QueryDef(
    "d22_delete_propagation",
    (s, d) => {
      clusterMembers(s, d).createOrReplaceTempView("cluster_mem")
      s.sql(s"WITH ${d22Sql("cluster_mem", "cluster_mem")}")
    },
    Some(s"""
      WITH lab AS (${DedupOps.d06.oracle.get.trim}),
      mem AS (${memberSql("lab")}),
      ${d22Sql("mem", "documents")}"""))

  /** Data-mixture sampling: hit a per-language token BUDGET (the Pile /
    * DoReMi-style static mixture weights) with a deterministic hash
    * sample. A document survives iff `bucket · lang_tokens < 1000 ·
    * budget` — the integer cross-multiplication of `bucket/1000 <
    * budget/lang_tokens`, so the keep-rate tracks the budget with no
    * float ever entering the decision, and re-running reproduces the
    * sample. Scale shape: pass 1 is a tiny per-lang aggregate that
    * broadcasts back onto the scan; pass 2 is row-wise. */
  val q52 = docQuery("q52_mixture_sample") { dl => s"""
      WITH t AS (SELECT doc_id, lang,
                   CAST(${dl.len(dl.split(dl.norm))} AS BIGINT) AS n_tokens,
                   CAST(${dl.fold(s"CAST(doc_id AS ${dl.str})", 404)} % 1000
                     AS BIGINT) AS bucket
                 FROM documents),
      lt AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
             FROM t GROUP BY lang),
      b AS (SELECT lang, lang_tokens,
              CASE lang WHEN 'en' THEN 5000 WHEN 'es' THEN 3000
                        WHEN 'de' THEN 3000 WHEN 'fr' THEN 2000
                        ELSE 4000 END AS budget
            FROM lt),
      k AS (SELECT /*+ BROADCAST(b) */ t.doc_id, t.lang, t.n_tokens,
              b.lang_tokens, b.budget
            FROM t JOIN b ON t.lang = b.lang
            WHERE t.bucket * b.lang_tokens < 1000 * b.budget)
      SELECT lang, lang_tokens, budget,
             CAST(count(*) AS BIGINT) AS n_kept,
             CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
      FROM k GROUP BY lang, lang_tokens, budget"""
  }

  /** d15's fingerprint frame: the md5 of each document's normalized text. */
  private def d15Fps(dl: Dialect): String =
    s"SELECT doc_id, md5(${dl.norm}) AS fp FROM documents"

  /** d15's new/old split `t` and old fingerprint set `oldf` over the
    * fingerprint relation `fps`. */
  private def d15Split(fps: String): String = s"""
      mx AS (SELECT max(doc_id) AS mxid FROM $fps),
      t AS (SELECT f.doc_id, f.fp, (f.doc_id * 5 >= mx.mxid * 4) AS is_new
            FROM $fps f CROSS JOIN mx),
      oldf AS (SELECT DISTINCT fp FROM t WHERE NOT is_new)"""

  /** d15's new docs with a near-dup pair (either orientation) into the
    * old side, and the output select, over the pair relation `pairs`.
    * The union takes its column name `nid` from the first arm. */
  private def d15Flags(pairs: String): String = {
    def arm(nw: String, old: String, as: String) = s"""
               SELECT p.doc_$nw$as FROM $pairs p
                 JOIN t a ON p.doc_a = a.doc_id
                 JOIN t b ON p.doc_b = b.doc_id
               WHERE $nw.is_new AND NOT $old.is_new"""
    s"""
      near AS (${arm("b", "a", " AS nid")}
               UNION${arm("a", "b", "")})
      SELECT n.doc_id,
             (o.fp IS NOT NULL) AS exact_dup,
             (nr.nid IS NOT NULL) AS near_dup
      FROM (SELECT doc_id, fp FROM t WHERE is_new) n
      LEFT JOIN oldf o ON n.fp = o.fp
      LEFT JOIN near nr ON n.doc_id = nr.nid"""
  }

  /** Incremental (new-batch-vs-corpus) dedup — the ingestion-time shape:
    * the newest 20% of documents (integer cross-multiplied id threshold
    * stands in for an arrival batch) are checked against the EXISTING 80%
    * only, never against each other. Exact hits come from a digest
    * semi-join; near-dup hits reuse d02's verified MinHash pairs filtered
    * to new×old. At 100 TB the old side's digests and band keys are
    * precomputed state — each incoming batch joins against them without
    * rescanning the corpus, which is why incremental dedup is cheap while
    * full-corpus dedup is a campaign. */
  val d15 = QueryDef(
    "d15_incremental_dedup",
    (s, d) => {
      // staged: the fingerprint frame feeds the new/old split, both
      // near-dup join sides, and the output join
      staged("d15_fps", d) {
        withViews(s, d, "documents")(d15Fps(Dialect.Spark))
      }.createOrReplaceTempView("d15_fps")
      DedupOps.d02Pairs(s, d).createOrReplaceTempView("d15_pairs")
      s.sql(s"WITH ${d15Split("d15_fps")},${d15Flags("d15_pairs")}")
    },
    Some(s"""
      WITH fps AS (${d15Fps(Dialect.DuckDB)}),${d15Split("fps")},
      prs AS (${DedupOps.d02.oracle.get.trim}),${d15Flags("prs")}"""))

  /** The split rule of q54 and d26: the 0–99 hash bucket of a split key,
    * and the 80/10/10 train/val/test assignment of a bucket. */
  private def splitBucket(dl: Dialect, key: String): String =
    s"CAST(${dl.fold(s"CAST($key AS ${dl.str})", 505)} % 100 AS BIGINT)"
  private def splitOf(bucket: String): String =
    s"CASE WHEN $bucket < 80 THEN 'train' WHEN $bucket < 90 THEN 'val' ELSE 'test' END"

  /** q54's text over the d06 labels relation `lab`. */
  private def q54Sql(dl: Dialect, lab: String): String = s"""
      WITH k AS (SELECT /*+ BROADCAST(l) */ doc.doc_id,
                   coalesce(l.cluster_id, doc.doc_id) AS split_key
                 FROM documents doc
                 LEFT JOIN $lab l ON doc.doc_id = l.doc_id),
      b AS (SELECT doc_id, split_key, ${splitBucket(dl, "split_key")} AS bucket
            FROM k)
      SELECT doc_id, split_key, ${splitOf("bucket")} AS split
      FROM b"""

  /** Leakage-safe train/val/test split: the split is assigned by hashing
    * the DEDUP-CLUSTER key, not the document id — near-duplicates always
    * land in the same split (hashing doc_ids directly is the classic eval
    *-leakage bug: one copy trains, its near-twin evaluates). Documents
    * outside any near-dup cluster key by their own id. 80/10/10 by hash
    * bucket — deterministic, reproducible, no rand(). Scale shape: d06's
    * label set is tiny (only docs with a near-dup edge) and broadcasts
    * onto the corpus scan; everything else is row-wise. */
  val q54 = QueryDef(
    "q54_leakage_safe_split",
    (s, d) => {
      DedupOps.d06.run(s, d).createOrReplaceTempView("q54_lab")
      withViews(s, d, "documents")(q54Sql(Dialect.Spark, "q54_lab"))
    },
    Some(q54Sql(Dialect.DuckDB, s"(${DedupOps.d06.oracle.get.trim})")))

  /** Intra-document repetition removal (d11's cross-document twin — the
    * C4/trafilatura "drop repeated lines WITHIN a page" stage): inside
    * each document, every span keeps only its FIRST occurrence; later
    * repeats are stripped and the document reassembled in order. Span
    * width 2 here — the synthetic corpus has no newlines and its 8-token
    * windows never repeat intra-doc (measured: 0 dups at W=8, 250
    * removed spans across 181 docs at W=2), so 2-token spans stand in
    * for the repeated-line unit the way [[sChunks]]' 8-token spans stand
    * in for paragraphs.
    *
    * Scale shape: the best in the dedup family — ZERO shuffles. The
    * whole operator is higher-order array functions over one row
    * (first-occurrence = `array_position(sp, x) == i+1`, O(spans²) per
    * doc against a document-bounded span count): a pure map pass that
    * needs no exchange at any corpus size, the 100 TB ideal. The oracle
    * replicates the same walk with list_position over range. */
  val d14 = QueryDef(
    "d14_intradoc_dedup",
    (s, d) => withViews(s, d, "documents")(s"""
      WITH ${toks(Dialect.Spark, "doc_id")},
      n AS (SELECT doc_id, t,
              CAST((size(t) + 1) div 2 AS INT) AS nch FROM toks),
      sp AS (SELECT doc_id,
               transform(sequence(0, nch - 1),
                 i -> array_join(slice(t, i * 2 + 1, 2), ' ')) AS sp
             FROM n),
      k AS (SELECT doc_id, sp,
              filter(sp, (x, i) ->
                array_position(sp, x) = CAST(i + 1 AS BIGINT)) AS kept
            FROM sp)
      SELECT doc_id, array_join(kept, ' ') AS kept_text,
             CAST(size(sp) AS BIGINT) AS n_spans,
             CAST(size(sp) - size(kept) AS BIGINT) AS n_removed
      FROM k"""),
    Some(s"""
      WITH ${toks(Dialect.DuckDB, "doc_id")},
      n AS (SELECT doc_id, t, (len(t) + 1) // 2 AS nch FROM toks),
      sp AS (SELECT doc_id,
               list_transform(range(nch),
                 i -> array_to_string(list_slice(t, i * 2 + 1, (i + 1) * 2),
                                      ' ')) AS sp
             FROM n),
      k AS (SELECT doc_id, sp,
              list_transform(
                list_filter(range(len(sp)),
                  i -> list_position(sp, sp[i + 1]) = i + 1),
                i -> sp[i + 1]) AS kept
            FROM sp)
      SELECT doc_id, array_to_string(kept, ' ') AS kept_text,
             CAST(len(sp) AS BIGINT) AS n_spans,
             CAST(len(sp) - len(kept) AS BIGINT) AS n_removed
      FROM k"""))

  /** Incremental corpus merge — the CDC/upsert stage a continuously
    * crawled corpus needs: a delta batch of re-crawled pages (upserts),
    * removed pages (tombstones) and brand-new pages (inserts) merges
    * into the base snapshot with latest-wins semantics. The delta is
    * DERIVED deterministically from the base here (doc_id % 11 = 3 →
    * tombstone; % 7 = 0 → re-crawl with revised text; % 13 = 5 → new
    * page at a shifted id) so the gate stays self-contained; swap the
    * three CTEs for a real change feed and nothing else moves.
    *
    * Scale shape: the merge is ONE broadcast anti-join — a delta batch
    * is tiny relative to a 100 TB base snapshot (a day's crawl vs the
    * corpus), so the delta key set broadcasts and the base NEVER
    * shuffles; survivors and upserts union without an exchange. A
    * same-order-of-magnitude merge would flip to a shuffle join on
    * doc_id — AQE makes that call at runtime if the hint is dropped. */
  val q57 = docQuery("q57_incremental_merge") { _ => """
      WITH del AS (SELECT doc_id FROM documents WHERE doc_id % 11 = 3),
      up AS (SELECT doc_id, concat(text, ' [rev2]') AS text, lang, source
             FROM documents WHERE doc_id % 7 = 0 AND doc_id % 11 <> 3),
      ins AS (SELECT doc_id + 10000000 AS doc_id,
                     concat('new ', text) AS text, lang, source
              FROM documents WHERE doc_id % 13 = 5),
      dkeys AS (SELECT doc_id FROM del
                UNION ALL SELECT doc_id FROM up
                UNION ALL SELECT doc_id FROM ins),
      kept AS (SELECT /*+ BROADCAST(k) */ b.doc_id, b.text, b.lang,
                      b.source, 'base' AS op
               FROM documents b ANTI JOIN dkeys k
                 ON b.doc_id = k.doc_id),
      merged AS (SELECT * FROM kept
                 UNION ALL SELECT doc_id, text, lang, source, 'upsert' AS op
                           FROM up
                 UNION ALL SELECT doc_id, text, lang, source, 'insert' AS op
                           FROM ins)
      SELECT doc_id, lang, source,
             CAST(length(text) AS BIGINT) AS n_chars_final, op
      FROM merged"""
  }

  /** Bigram-LM geometry, shared engine↔oracle (same rule as the corpus
    * chunk/pack constants): vocab cap, the add-1 smoothing denominator's
    * vocab term (cap + 1 for `<unk>`), and the 10^6 probability scale. */
  private[graft] val lmVocab = 1000
  private[graft] val lmScale = 1000000L

  /** Bigram-LM document scoring — the CCNet/KenLM-style perplexity
    * filter of a curation pipeline, in t09's exact-rational spelling
    * (no log/exp: transcendental libm calls are not bit-identical across
    * engines, so the score is the SCALED CONDITIONAL PROBABILITY
    * `p6 = ((c12 + 1) · 10^6) div (c1 + |V| + 1)` — exact BIGINT integer
    * division on both engines; monotone in per-token likelihood, which
    * is all a rank-and-threshold filter consumes). Add-1 smoothing over
    * a top-`lmVocab` vocabulary with `<unk>` out-of-vocab mapping keeps
    * the model bounded: the LM is ≤ (|V|+1)² rows in principle and only
    * observed bigrams in practice, so it BROADCASTS at any corpus size.
    *
    * Scale shape: the bigram stream is a shuffle-free explode over the
    * document scan (vocab mapping commutes with bigram formation, so
    * w1/w2 map through two broadcast joins on the exploded stream — the
    * per-doc token sequence is never re-collected); training is ONE
    * metadata-width (w1, w2) shuffle; scoring re-broadcasts the counts
    * back onto the stream and aggregates per doc_id. Self-scoring makes
    * the left joins total, but the operator keeps the left-join shape so
    * a held-out scoring corpus (the real deployment) needs no change. */
  val t11 = QueryDef(
    "t11_bigram_lm_score",
    (s, d) => {
      // Staged: Spark re-executes a CTE per reference (d02's lesson), and
      // the vocab feeds TWO join sides while the mapped bigram stream
      // feeds THREE consumers (LM counts, context counts via lm, and the
      // scoring pass) — without materialization the corpus-wide
      // tokenize+explode runs up to three times per query. The vocab is
      // 1000 rows; the mb frame is the (doc_id, w1, w2) stream.
      staged("t11_v", d) {
        withViews(s, d, "documents")(s"""
          SELECT word FROM (
            SELECT wd AS word, count(*) AS freq
            FROM (SELECT explode(regexp_extract_all(lower(text), '[a-z]+', 0)) AS wd
                  FROM documents)
            GROUP BY wd ORDER BY freq DESC, word LIMIT $lmVocab)""")
      }.createOrReplaceTempView("t11_v")
      staged("t11_mb", d) {
        withViews(s, d, "documents")(s"""
          WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+', 0) AS ws
                     FROM documents),
          bg AS (SELECT doc_id, pr.w1 AS w1, pr.w2 AS w2
                 FROM (SELECT doc_id, explode(transform(sequence(0, size(ws) - 2),
                         i -> named_struct('w1', ws[i], 'w2', ws[i + 1]))) AS pr
                       FROM w WHERE size(ws) >= 2))
          SELECT /*+ BROADCAST(v1, v2) */ bg.doc_id,
                 CASE WHEN v1.word IS NULL THEN '<unk>' ELSE bg.w1 END AS w1,
                 CASE WHEN v2.word IS NULL THEN '<unk>' ELSE bg.w2 END AS w2
          FROM bg LEFT JOIN t11_v v1 ON bg.w1 = v1.word
                  LEFT JOIN t11_v v2 ON bg.w2 = v2.word""")
      }.createOrReplaceTempView("t11_mb")
      s.sql(s"""
        WITH lm AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
               FROM t11_mb GROUP BY w1, w2),
        ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM lm GROUP BY w1),
        sc AS (SELECT /*+ BROADCAST(lm, ctx) */ mb.doc_id,
                 ((coalesce(lm.c12, CAST(0 AS BIGINT)) + 1) * $lmScale)
                   div (coalesce(ctx.c1, CAST(0 AS BIGINT)) + ${lmVocab + 1}) AS p6
               FROM t11_mb mb LEFT JOIN lm ON mb.w1 = lm.w1 AND mb.w2 = lm.w2
                       LEFT JOIN ctx ON mb.w1 = ctx.w1)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(p6) AS BIGINT) AS p6_sum,
               CAST(sum(p6) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_p6,
               CAST(min(p6) AS BIGINT) AS min_p6
        FROM sc GROUP BY doc_id""")
    },
    Some(s"""
      WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
                 FROM documents),
      v AS (SELECT word FROM (
              SELECT wd AS word, count(*) AS freq
              FROM (SELECT unnest(ws) AS wd FROM w) GROUP BY wd
              ORDER BY freq DESC, word LIMIT $lmVocab)),
      bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
             FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                   FROM w WHERE len(ws) >= 2)),
      mb AS (SELECT bg.doc_id,
               CASE WHEN v1.word IS NULL THEN '<unk>' ELSE bg.w1 END AS w1,
               CASE WHEN v2.word IS NULL THEN '<unk>' ELSE bg.w2 END AS w2
             FROM bg LEFT JOIN v v1 ON bg.w1 = v1.word
                     LEFT JOIN v v2 ON bg.w2 = v2.word),
      lm AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
             FROM mb GROUP BY w1, w2),
      ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM lm GROUP BY w1),
      sc AS (SELECT mb.doc_id,
               ((coalesce(lm.c12, CAST(0 AS BIGINT)) + 1) * $lmScale)
                 // (coalesce(ctx.c1, CAST(0 AS BIGINT)) + ${lmVocab + 1}) AS p6
             FROM mb LEFT JOIN lm ON mb.w1 = lm.w1 AND mb.w2 = lm.w2
                     LEFT JOIN ctx ON mb.w1 = ctx.w1)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(p6) AS BIGINT) AS p6_sum,
             CAST(sum(p6) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_p6,
             CAST(min(p6) AS BIGINT) AS min_p6
      FROM sc GROUP BY doc_id"""),
    headline = true)

  /** DSIR geometry, shared engine↔oracle: hashed-n-gram feature space
    * size, the 10^6 fixed-point scale, the designated target-domain
    * sources, and the selection budget. */
  private[graft] val dsirBuckets = 1024
  private[graft] val dsirScale = 1000000L
  private[graft] val dsirTargets = Seq("src1", "src2", "src3")
  private[graft] val dsirK = 25

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much it resembles a designated TARGET domain (here
    * the curated sources [[dsirTargets]]) under hashed-n-gram bag-of-words
    * importance weights, and keep the top [[dsirK]]. Word unigrams AND
    * bigrams hash into [[dsirBuckets]] buckets (`char_fold`, the codegen'd
    * portable hash); per bucket the add-1-smoothed target/raw probability
    * ratio is computed in t11's exact-rational spelling — no log/exp
    * (libm calls are not bit-identical across engines): the per-bucket
    * weight is the SCALED RATIO
    * `r6 = ((ct+1)·(R+B)·10^6) div ((cr+1)·(T+B))` — exact BIGINT
    * arithmetic, monotone in the paper's log-ratio — and a document's
    * importance is its mean bucket ratio (one IEEE division of exact
    * BIGINTs). Selection is deterministic top-K by (importance, doc_id),
    * the resampling temperature-0 limit, which is what keeps the operator
    * oracle-checkable.
    *
    * Scale shape: the n-gram stream is a shuffle-free explode over the
    * document scan (staged once — it feeds both the count and the score
    * pass); training is ONE B-bounded (bucket) shuffle where map-side
    * partial aggregation means at most B=1024 rows leave each partition
    * regardless of corpus size; the trained weight table (≤ B rows, a
    * model artifact like t11's LM) broadcasts back onto the stream; the
    * per-doc aggregate is one doc_id shuffle and the top-K is a
    * TakeOrdered — no sort of the full corpus. BIGINT headroom: the
    * ratio numerator `(ct+1)·(R+B)·10^6` must stay under 2^63, so with
    * uniform bucket load (ct ≈ T/B, B=1024) comparable-size corpora are
    * safe through T ≈ 10^8 total n-grams, degrading to ~3·10^6 under
    * total single-bucket skew (bound pinned in ScaleSpec). Past that the
    * ANSI-mode arithmetic fails LOUDLY (no silent wraparound); a 100 TB
    * deployment drops the 10^6 scale or widens to decimal — a dial, not
    * a plan change. */
  val d18 = QueryDef(
    "d18_importance_select",
    (s, d) => {
      val targetIn = dsirTargets.map(t => s"'$t'").mkString("(", ", ", ")")
      staged("d18_ng", d) {
        withViews(s, d, "documents")(s"""
          WITH w AS (SELECT doc_id, source,
                       regexp_extract_all(lower(text), '[a-z]+', 0) AS ws
                     FROM documents WHERE length(text) >= 1)
          SELECT doc_id, source, char_fold(g, 7) % $dsirBuckets AS b
          FROM (SELECT doc_id, source,
                  explode(CASE WHEN size(ws) >= 2
                    THEN concat(ws, transform(sequence(0, size(ws) - 2),
                           i -> concat(ws[i], ' ', ws[i + 1])))
                    ELSE ws END) AS g
                FROM w WHERE size(ws) >= 1)""")
      }.createOrReplaceTempView("d18_ng")
      s.sql(s"""
        WITH cnt AS (SELECT b, CAST(count(*) AS BIGINT) AS cr,
                 CAST(sum(CASE WHEN source IN $targetIn THEN 1 ELSE 0 END)
                   AS BIGINT) AS ct
               FROM d18_ng GROUP BY b),
        tot AS (SELECT CAST(sum(cr) AS BIGINT) AS rn,
                  CAST(sum(ct) AS BIGINT) AS tn FROM cnt),
        lam AS (SELECT /*+ BROADCAST(tot) */ b,
                  ((ct + 1) * (rn + $dsirBuckets) * $dsirScale)
                    div ((cr + 1) * (tn + $dsirBuckets)) AS r6
                FROM cnt CROSS JOIN tot),
        sc AS (SELECT /*+ BROADCAST(lam) */ ng.doc_id, lam.r6
               FROM d18_ng ng JOIN lam ON ng.b = lam.b),
        agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
                  CAST(sum(r6) AS BIGINT) AS w6_sum,
                  CAST(sum(r6) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                    AS importance
                FROM sc GROUP BY doc_id)
        SELECT doc_id, n_ngrams, w6_sum, importance
        FROM agg ORDER BY importance DESC, doc_id LIMIT $dsirK""")
    },
    Some {
      val targetIn = dsirTargets.map(t => s"'$t'").mkString("(", ", ", ")")
      s"""
      WITH w AS (SELECT doc_id, source,
                   regexp_extract_all(lower(text), '[a-z]+') AS ws
                 FROM documents WHERE length(text) >= 1),
      ng AS (SELECT doc_id, source, (${oCharFold("g", 7)}) % $dsirBuckets AS b
             FROM (SELECT doc_id, source, unnest(
                     CASE WHEN len(ws) >= 2
                       THEN list_concat(ws, list_transform(range(1, len(ws)),
                              i -> ws[i] || ' ' || ws[i + 1]))
                       ELSE ws END) AS g
                   FROM w WHERE len(ws) >= 1)),
      cnt AS (SELECT b, CAST(count(*) AS BIGINT) AS cr,
                CAST(sum(CASE WHEN source IN $targetIn THEN 1 ELSE 0 END)
                  AS BIGINT) AS ct
              FROM ng GROUP BY b),
      tot AS (SELECT CAST(sum(cr) AS BIGINT) AS rn,
                CAST(sum(ct) AS BIGINT) AS tn FROM cnt),
      lam AS (SELECT b,
                ((ct + 1) * (rn + $dsirBuckets) * $dsirScale)
                  // ((cr + 1) * (tn + $dsirBuckets)) AS r6
              FROM cnt CROSS JOIN tot),
      sc AS (SELECT ng.doc_id, lam.r6 FROM ng JOIN lam ON ng.b = lam.b),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
                CAST(sum(r6) AS BIGINT) AS w6_sum,
                CAST(sum(r6) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  AS importance
              FROM sc GROUP BY doc_id)
      SELECT doc_id, n_ngrams, w6_sum, importance
      FROM agg ORDER BY importance DESC, doc_id LIMIT $dsirK"""
    },
    headline = true)

  /** Hot-chunk guard for the q69 edge build: chunk hashes shared by more
    * than this many distinct sources are universal boilerplate and are
    * dropped BEFORE the pair join (d21's hot-key rule) — the per-hash pair
    * expansion is bounded at cap², so one viral chunk cannot quadratically
    * explode the edge list. Never binds at the gate's 20 sources. */
  private[graft] val pagerankCap = 256

  /** Content-sharing edge list (src, dst, w): a directed edge per ordered
    * pair of sources, weighted by how many DISTINCT 8-token chunks
    * ([[sChunks]]'s grid) the two share. Separated from [[q69]] so the
    * spec can exercise the cap directly without touching the staged
    * default frame.
    *
    * `sh` (the corpus chunk explode + DISTINCT, metadata-width (source,
    * md5)) and `sf` (keyed by cap) are staged, so the build pays one
    * explode and one filter pass and the pair join reads `sf` twice; as
    * one WITH statement Catalyst inlined them up to four times (SCALE.md
    * "One curation vocabulary"). */
  private[graft] def pagerankEdges(s: org.apache.spark.sql.SparkSession,
      d: String, cap: Int): DataFrame = {
    // plain subqueries, no WITH, below this point: a staged view whose
    // cached plan carries CTE nodes, referenced from ANOTHER WITH query,
    // trips Spark 4.1's PushdownPredicatesAndPruneColumnsForCTEDef
    // ("key not found: 0") — the optimizer gathers CTE defs across the
    // view boundary and misses the inner id
    staged("q69_sh", d) {
      withViews(s, d, "documents")(s"""
        SELECT DISTINCT source, md5(chunk) AS h
        FROM (SELECT source, array_join(slice(t, i * $W + 1, $W), ' ') AS chunk
              FROM (SELECT source, t,
                      CAST((size(t) + ${W - 1}) div $W AS INT) AS nch
                    FROM (SELECT source, split($sNorm, ' ') AS t
                          FROM documents WHERE length(text) >= 1) toks) n
              LATERAL VIEW explode(sequence(0, nch - 1)) x AS i) chunks""")
    }.createOrReplaceTempView("q69_sh")
    staged(s"q69_sf_$cap", d) {
      s.sql(s"""
        SELECT sh.source, sh.h FROM q69_sh sh
        JOIN (SELECT h FROM q69_sh GROUP BY h
              HAVING count(*) >= 2 AND count(*) <= $cap) hf
          ON sh.h = hf.h""")
    }.createOrReplaceTempView("q69_sf")
    s.sql(s"""
      SELECT src, dst, CAST(count(*) AS BIGINT) AS w
      FROM (SELECT a.source AS src, b.source AS dst
            FROM q69_sf a JOIN q69_sf b
              ON a.h = b.h AND a.source <> b.source) e0
      GROUP BY src, dst""")
  }

  /** PageRank fixed-point geometry, shared engine↔oracle: initial mass
    * [[prMass]] = 10^12 split evenly over sources; per-edge transition
    * probabilities pre-scaled to parts-per-million ((w·10^6) div
    * out-weight); damping 85/100; [[prIters]] unrolled power iterations.
    * Every step is integer multiply/divide on positives — bit-identical
    * across engines, immune to distributed-summation reordering (t09's
    * exactness idiom). Intermediate bound: (r·85 div 100)·pw ≤
    * 0.85·10^12 · 10^6 < 2^63. */
  private val prMass = "1000000000000"  // 10^12
  private val prTele = "150000000000"   // mass · 15%
  private val prIters = 3

  /** One unrolled PageRank iteration CTE in dialect `dl`. new_r(v) = teleport/n +
    * Σ_u ((r(u)·85) div 100 · pw(u,v)) div 10^6; dangling sources keep
    * only teleport mass (constant-teleport power iteration — division
    * dust and dangling loss shrink total mass, never reorder ranks). */
  private def prIter(k: Int, prev: String, dl: Dialect): String = s"""
      it$k AS (SELECT n.source,
                 CAST(($prTele ${dl.div} cnt.n)
                   + coalesce(CAST(sum((((r.r * 85) ${dl.div} 100) * ep.pw)
                       ${dl.div} 1000000) AS BIGINT), CAST(0 AS BIGINT))
                   AS BIGINT) AS r
               FROM nodes n CROSS JOIN cnt
               LEFT JOIN ep ON ep.dst = n.source
               LEFT JOIN $prev r ON r.source = ep.src
               GROUP BY n.source, cnt.n)"""

  private def prIterChain(dl: Dialect): String =
    (1 to prIters).map(k => prIter(k, if (k == 1) "r0" else s"it${k - 1}", dl))
      .mkString(",")

  /** Shared iteration + readout SQL over `edges`/`nodes` CTEs (or views). */
  private def prBody(dl: Dialect): String = s"""
      cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
      ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw,
                    CAST(count(*) AS BIGINT) AS odeg
             FROM edges GROUP BY src),
      ind AS (SELECT dst, CAST(count(*) AS BIGINT) AS ideg
              FROM edges GROUP BY dst),
      ep AS (SELECT e.src, e.dst, ((e.w * 1000000) ${dl.div} ow.outw) AS pw
             FROM edges e JOIN ow ON ow.src = e.src),
      r0 AS (SELECT source, ($prMass ${dl.div} n) AS r FROM nodes CROSS JOIN cnt),
      ${prIterChain(dl)}
      SELECT n.source, it$prIters.r AS pr_scaled,
             CAST(it$prIters.r AS DOUBLE) / $prMass.0 AS pr,
             CAST(coalesce(ow.odeg, 0) AS BIGINT) AS n_out,
             CAST(coalesce(ind.ideg, 0) AS BIGINT) AS n_in
      FROM nodes n
      JOIN it$prIters ON it$prIters.source = n.source
      LEFT JOIN ow ON ow.src = n.source
      LEFT JOIN ind ON ind.dst = n.source"""

  /** Source-reputation PageRank over the content-sharing graph — the
    * domain-quality seed ranking web pipelines maintain (the CCNet /
    * RefinedWeb host-reputation stage), and the battery's iterative
    * graph-SCORING operator (d06's label propagation converges a min;
    * this iterates a weighted mass flow). Nodes are sources; edges are
    * weighted by shared 8-token chunks — the syndication structure d11
    * detects, re-read as a reputation signal (a source whose content
    * circulates widely accumulates rank through the same power iteration
    * that ranks hosts by links when link data exists).
    *
    * Scale shape: the corpus-scale work is ONE chunk pass collapsing to
    * the DISTINCT (source, hash) frame — a metadata-width shuffle; the
    * edge list is |sources|²-bounded metadata and is checkpointed as a
    * LEAF before iteration (the d22 lesson: the iteration SQL references
    * it five times, and CTE inlining would re-run the corpus explode per
    * consumer — as a LogicalRDD leaf it is safe to consume through a
    * view). Iterations touch only (source, rank) rows: at 30 M hosts each
    * round is a co-partitioned metadata join, never a corpus pass. */
  val q69 = QueryDef(
    "q69_source_pagerank",
    (s, d) => {
      staged("q69_edges", d) { pagerankEdges(s, d, pagerankCap) }
        .createOrReplaceTempView("q69_edges")
      // the node set is also multiply referenced (cnt, r0, every
      // iteration, the readout): staged, the iteration SQL touches
      // documents zero times
      staged("q69_nodes", d) {
        withViews(s, d, "documents")("SELECT DISTINCT source FROM documents")
      }.createOrReplaceTempView("q69_nodes")
      s.sql(s"""
        WITH nodes AS (SELECT source FROM q69_nodes),
        edges AS (SELECT src, dst, w FROM q69_edges),
        ${prBody(Dialect.Spark)}""")
    },
    Some(s"""
      WITH $oChunks,
      sh AS (SELECT DISTINCT source, md5(chunk) AS h FROM chunks),
      hf AS (SELECT h FROM sh GROUP BY h
             HAVING count(*) >= 2 AND count(*) <= $pagerankCap),
      sf AS (SELECT sh.source, sh.h FROM sh JOIN hf ON sh.h = hf.h),
      e0 AS (SELECT a.source AS src, b.source AS dst
             FROM sf a JOIN sf b ON a.h = b.h AND a.source <> b.source),
      edges AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
                FROM e0 GROUP BY src, dst),
      nodes AS (SELECT DISTINCT source FROM documents),
      ${prBody(Dialect.DuckDB)}"""),
    headline = true)

  /** t20's text over the chunk CTEs `chunks` ([[sChunks]] or its DuckDB
    * spelling). */
  private def t20Sql(chunks: String): String = s"""
      WITH $chunks,
      c AS (SELECT chunk, CAST(count(*) AS BIGINT) AS n_occurrences,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM chunks GROUP BY chunk
            HAVING count(DISTINCT doc_id) >= 2)
      SELECT chunk, n_occurrences, n_docs
      FROM c ORDER BY n_occurrences DESC, chunk LIMIT 100"""

  /** Corpus-wide most-duplicated n-gram chunks — the memorization risk
    * list (the table Lee et al.'s dedup paper reports: the exact
    * sequences a model will regurgitate are the ones repeated most
    * across the corpus). Top-100 cross-document 8-token chunks by total
    * occurrence count, with the distinct-document spread; single-doc
    * repeats are excluded (d14's intra-doc territory). Rides d11's
    * chunk spelling, so the list names exactly the spans d11/d19 would
    * deduplicate — the audit and the fix share one tokenization.
    *
    * Scale shape: one corpus chunk pass into a map-side-combinable
    * (chunk, count) aggregate — t10's wordcount shuffle at chunk
    * granularity — then a global top-K that Spark executes as
    * TakeOrderedAndProject (per-partition partial top-100, never a full
    * sort). The (count DESC, chunk ASC) total order makes the LIMIT
    * boundary deterministic in both engines. */
  val t20 = QueryDef(
    "t20_memorized_ngrams",
    (s, d) => withViews(s, d, "documents")(t20Sql(sChunks)),
    Some(t20Sql(oChunks)),
    headline = true)

  /** d26's audit over the q54 split relation `split` and the verified
    * pair relation `pairs`. */
  private def d26Sql(dl: Dialect, split: String, pairs: String): String = s"""
      doc_split AS (SELECT doc_id, ${splitOf(splitBucket(dl, "doc_id"))} AS split
                    FROM $split),
      bth AS (
        SELECT 'cluster_hash' AS rule, p.doc_a, p.doc_b,
               a.split AS split_a, b.split AS split_b
        FROM $pairs p JOIN $split a ON p.doc_a = a.doc_id
                      JOIN $split b ON p.doc_b = b.doc_id
        UNION ALL
        SELECT 'doc_hash', p.doc_a, p.doc_b, a.split, b.split
        FROM $pairs p JOIN doc_split a ON p.doc_a = a.doc_id
                      JOIN doc_split b ON p.doc_b = b.doc_id)
      SELECT rule, doc_a, doc_b, split_a, split_b,
             (split_a <> split_b) AS is_leaked
      FROM bth"""

  /** SPLIT-LEAKAGE AUDIT — the measurement that tells a team whether
    * their held-out evaluation is honest: for every VERIFIED near-dup
    * pair (d02's j ≥ 0.8 output), did the two documents land in the
    * same train/val/test split? Audited under BOTH assignment rules
    * side by side: q54's cluster-hash rule (split = hash of the d06
    * dedup-cluster key — the leakage-safe assignment this battery
    * ships) and the naive doc-hash rule (split = the same bucketing
    * applied to the document id — what most pipelines actually do).
    * The gate output itself is the end-to-end proof: every
    * cluster_hash row has is_leaked = false BY THEOREM (a near-dup
    * pair shares its cluster, hence its split key), while the doc_hash
    * rows carry the measured violations — each one is a document whose
    * near-twin sits in eval while it sits in train, the classic silent
    * benchmark inflation d07/d12 exist to catch after the fact.
    *
    * Scale shape: the split frame (q54's output) checkpoints once as a
    * metadata-width leaf (multi-referenced — CTE inlining would re-run
    * the d06 chain per branch); pairs are d02's checkpointed list; the
    * audit is four metadata equi-joins and a projection. Nothing
    * corpus-scale moves. */
  val d26 = QueryDef(
    "d26_split_leakage_audit",
    (s, d) => {
      staged("d26_split", d) { q54.run(s, d) }
        .createOrReplaceTempView("d26_split")
      DedupOps.d02Pairs(s, d).createOrReplaceTempView("d26_pairs")
      graft.functions.GraftFunctions.register(s)
      s.sql(s"WITH ${d26Sql(Dialect.Spark, "d26_split", "d26_pairs")}")
    },
    Some(s"""
      WITH sp AS (
        ${q54.oracle.get.trim}
      ),
      pairs AS (SELECT doc_a, doc_b FROM (${DedupOps.d02.oracle.get.trim})),
      ${d26Sql(Dialect.DuckDB, "sp", "pairs")}"""))

  val all: Seq[QueryDef] =
    Seq(d10, d11, d19, d12, q51, t09, t19, d13, d22, q52, d15, q54, d14, q57,
      t11, d18, q69, t20, d26)
}
