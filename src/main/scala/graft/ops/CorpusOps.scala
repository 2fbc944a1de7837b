package graft.ops

import Q._

/** Corpus-level operators a training-data pipeline needs beyond per-doc
  * analysis and dedup: reproducible sampling, ranked retrieval, and
  * phrase statistics. All oracle-exact (bit-identical doubles via fixed
  * expression shapes; counts as BIGINT on both engines).
  */
object CorpusOps {

  /** Chunk/packing geometry — ONE definition interpolated into the engine
    * Dataset code, the engine SQL, and the oracle SQL alike (q47, q48,
    * q50), so retuning can never silently break engine↔oracle
    * equivalence. The q50 summary's exact-plain-aggregate rewrite
    * (n_docs = count of st=1 rows, n_packs = max(pack)+1) is only valid
    * while a chunk is smaller than a pack (consecutive pack ids then
    * differ by ≤ 1), so that relationship is enforced at load, not by
    * comment. */
  private[graft] val chunkTokens = 50
  private[graft] val hopTokens = 40
  private[graft] val packTokens = 2048
  require(chunkTokens < packTokens,
    "q50's n_packs = max(pack)+1 rewrite requires chunkTokens < packTokens")

  /** Packing prefix-sum block width (docs per block) for q48/q50's
    * two-phase distributed prefix sum — a JVM-level dial
    * (`-Dgraft.pack.blockDocs=N`). The phase-1 offset table carries
    * N_docs / packBlockDocs rows and rides a broadcast join, so the
    * default 4096 holds to ~10⁹ docs (~250 k offset rows); past that,
    * either raise the dial (each phase-2 window group is ≤ blockDocs
    * rows — 64 k blocks are still instant) or apply the same two-phase
    * trick to the offset table itself (a second prefix level: blocks of
    * blocks). The second level is deliberately NOT pre-built: it adds a
    * shuffle every run to serve a regime the dial alone covers past
    * 10¹² docs. */
  private[graft] val packBlockDocs: Long =
    sys.props.getOrElse("graft.pack.blockDocs", "4096").toLong

  /** Deterministic stratified sampling: every document hashes to a bucket
    * (portable `char_fold` of its id — NO rand(): re-running the pipeline
    * reproduces the same sample, the property that matters when a 100 TB
    * corpus is sampled incrementally), and each stratum (lang) keeps its
    * own rate. Row-wise — no shuffle, no state, embarrassingly parallel. */
  val d08 = QueryDef(
    "d08_stratified_sample",
    (s, d) => withViews(s, d, "documents")("""
      WITH h AS (SELECT doc_id, lang,
                   CAST(char_fold(CAST(doc_id AS STRING), 101) % 100 AS BIGINT) AS bucket
                 FROM documents),
      r AS (SELECT doc_id, lang, bucket,
              CASE lang WHEN 'en' THEN 20 WHEN 'es' THEN 35
                        WHEN 'de' THEN 50 ELSE 65 END AS rate
            FROM h)
      SELECT doc_id, lang, bucket FROM r WHERE bucket < rate"""),
    Some(s"""
      WITH h AS (SELECT doc_id, lang,
                   CAST(${oCharFold("CAST(doc_id AS VARCHAR)", 101)} % 100 AS BIGINT) AS bucket
                 FROM documents),
      r AS (SELECT doc_id, lang, bucket,
              CASE lang WHEN 'en' THEN 20 WHEN 'es' THEN 35
                        WHEN 'de' THEN 50 ELSE 65 END AS rate
            FROM h)
      SELECT doc_id, lang, bucket FROM r WHERE bucket < rate"""))

  /** Fixed-SIZE stratified sample: exactly K documents per stratum,
    * chosen by deterministic hash order (char_fold of the id, doc_id
    * tiebreak) — the "carve a reproducible eval set" primitive. d08 gives
    * a fixed RATE; this gives a fixed COUNT. One shuffle on lang; the
    * per-stratum ranking is Spark's WindowGroupLimit (partial top-K per
    * partition before the shuffle, so the exchange carries ≤ K·partitions
    * rows per stratum, not the corpus). */
  val d09 = QueryDef(
    "d09_fixed_size_sample",
    (s, d) => withViews(s, d, "documents")("""
      WITH h AS (SELECT doc_id, lang,
                   CAST(char_fold(CAST(doc_id AS STRING), 202) AS BIGINT) AS hk
                 FROM documents),
      r AS (SELECT doc_id, lang, hk,
              CAST(row_number() OVER (PARTITION BY lang
                ORDER BY hk, doc_id) AS BIGINT) AS rnk
            FROM h)
      SELECT doc_id, lang, rnk FROM r WHERE rnk <= 25"""),
    Some(s"""
      WITH h AS (SELECT doc_id, lang,
                   CAST(${oCharFold("CAST(doc_id AS VARCHAR)", 202)} AS BIGINT) AS hk
                 FROM documents),
      r AS (SELECT doc_id, lang, hk,
              CAST(row_number() OVER (PARTITION BY lang
                ORDER BY hk, doc_id) AS BIGINT) AS rnk
            FROM h)
      SELECT doc_id, lang, rnk FROM r WHERE rnk <= 25"""))

  // ---- BM25 ranked retrieval ------------------------------------------

  /** One query term's BM25 contribution, emitted in the target dialect.
    * Rational-idf variant: idf = (N - df + 0.5)/(df + 0.5) WITHOUT the
    * usual ln() — ln is the one BM25 operation whose libm/JVM results can
    * differ in the last ulp across engines, and it's a monotone transform
    * (per-term ranking unchanged). Every fractional literal is cast to
    * DOUBLE explicitly: bare decimal literals parse as DECIMAL in both
    * engines and would change intermediate rounding. k1=1.2, b=0.75. */
  private def bm25Term(i: Int): String = {
    def D(x: String) = s"CAST($x AS DOUBLE)"
    val (tf, df) = (s"tf$i", s"df$i")
    s"""CASE WHEN $tf > 0 THEN
       |  ((${D("n")} - ${D(df)} + ${D("0.5")}) / (${D(df)} + ${D("0.5")})) *
       |  ((${D(tf)} * ${D("2.2")}) /
       |   (${D(tf)} + ${D("1.2")} * (${D("0.25")} + ${D("0.75")} *
       |      (${D("dl")} / (${D("sumdl")} / ${D("n")})))))
       |ELSE ${D("0")} END""".stripMargin
  }

  private val terms = Seq("hash", "merge", "vector")

  private def bm25Sql(
      split: String, sizeF: String, filterF: String, eq: String => String): String = {
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST($sizeF($filterF(w, x -> ${eq(t)})) AS BIGINT) AS tf${i + 1}"
    }.mkString(",\n             ")
    val dfs = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf${i + 1} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df${i + 1}")
      .mkString(",\n             ")
    // fixed association (s1 + s2) + s3: addition order is part of the
    // cross-engine float contract
    val score = s"((${bm25Term(1)}) + (${bm25Term(2)})) + (${bm25Term(3)})"
    s"""
      WITH t AS (SELECT doc_id, $split AS w FROM documents),
      d AS (SELECT doc_id, CAST($sizeF(w) AS BIGINT) AS dl,
             $tfs
            FROM t),
      stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dl) AS BIGINT) AS sumdl,
             $dfs
            FROM d)
      SELECT doc_id, tf1, tf2, tf3, score FROM (
        SELECT d.doc_id, d.tf1, d.tf2, d.tf3, $score AS score
        FROM d CROSS JOIN stats
        WHERE tf1 + tf2 + tf3 > 0)
      ORDER BY score DESC, doc_id
      LIMIT 10"""
  }

  /** BM25 ranked retrieval for a fixed conjunctive term set — the
    * text-search primitive of corpus curation ("pull the top docs about
    * X"). Per-doc scoring is row-wise; the corpus statistics (N, Σdl,
    * per-term document frequencies) are ONE scalar aggregate broadcast to
    * every scorer (at 100 TB: a metadata-sized broadcast, the text never
    * moves); top-k plans as TakeOrderedAndProject, no global sort. */
  val q44 = QueryDef(
    "q44_bm25_search",
    (s, d) => withViews(s, d, "documents")(
      bm25Sql(s"split($sNorm, ' ')", "size", "filter", t => s"x = '$t'")),
    Some(bm25Sql(s"string_split($oNorm, ' ')", "len", "list_filter",
      t => s"x = '$t'")))

  /** Top-5 bigram phrases per language — n-gram phrase statistics for
    * corpus inspection. Shuffles only (lang, bigram, count) pairs after
    * map-side partial aggregation; ranking is a per-lang window over the
    * tiny aggregated set (deterministic tiebreak: count desc, bigram asc). */
  val t06 = QueryDef(
    "t06_bigram_phrases",
    (s, d) => withViews(s, d, "documents")(s"""
      WITH t AS (SELECT lang, w FROM
                   (SELECT lang, split($sNorm, ' ') AS w FROM documents)
                 WHERE size(w) >= 2),
      b AS (SELECT lang, bg FROM t
            LATERAL VIEW explode(transform(sequence(1, size(w) - 1),
              i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))) x AS bg),
      c AS (SELECT lang, bg, CAST(count(*) AS BIGINT) AS cnt
            FROM b GROUP BY lang, bg),
      r AS (SELECT lang, bg, cnt,
              CAST(row_number() OVER (PARTITION BY lang
                ORDER BY cnt DESC, bg) AS BIGINT) AS rnk
            FROM c)
      SELECT lang, bg AS bigram, cnt, rnk FROM r WHERE rnk <= 5"""),
    Some(s"""
      WITH t AS (SELECT lang, w FROM
                   (SELECT lang, string_split($oNorm, ' ') AS w FROM documents) x
                 WHERE len(w) >= 2),
      b AS (SELECT lang, unnest(list_transform(range(1, len(w)),
              i -> w[i] || ' ' || w[i + 1])) AS bg FROM t),
      c AS (SELECT lang, bg, CAST(count(*) AS BIGINT) AS cnt
            FROM b GROUP BY lang, bg),
      r AS (SELECT lang, bg, cnt,
              CAST(row_number() OVER (PARTITION BY lang
                ORDER BY cnt DESC, bg) AS BIGINT) AS rnk
            FROM c)
      SELECT lang, bg AS bigram, cnt, rnk FROM r WHERE rnk <= 5"""))

  // ---- corpus datasheet, chunking, packing ----------------------------

  /** Corpus composition report — the "datasheet" a curation run publishes:
    * per (lang, source) document counts, kept fraction after the t08
    * quality battery, exact-dup rate from d01, and total token volume.
    *
    * SINGLE-SCAN plan: one pass over the text computes token count, the
    * six quality rules, and the content digest together; one window
    * shuffle of (digest, doc_id, flags) marks duplicates (the text never
    * moves past the first projection); one tiny (lang, source) aggregate.
    * The ORACLE is the composition of the verified t01/t08/d01 statements
    * — proving the fused plan equals the composed semantics bit-for-bit
    * (DuckDB re-scans per subquery; at 100 TB the fused form is the one
    * you want, which is exactly why the engine side fuses). */
  val q46 = QueryDef(
    "q46_corpus_report",
    (s, d) => withViews(s, d, "documents")(s"""
      WITH c AS (SELECT doc_id, lang, source, corpus_features(text) AS cf
                 FROM documents),
      f AS (SELECT doc_id, lang, source, cf.fp AS fp,
              cf.n_tokens AS n_tokens, cf.total_chars AS total_chars,
              cf.n_stop AS n_stop, cf.n_chars AS n_chars,
              cf.n_sym AS n_sym, cf.n_digit AS n_digit,
              cf.n_bigrams AS n_bigrams, cf.n_uniq_bigrams AS n_uniq_bigrams
            FROM c),
      k AS (SELECT doc_id, lang, source, fp, n_tokens,
              (n_tokens BETWEEN 5 AND 1000)
                AND (3 * n_tokens <= total_chars AND total_chars <= 10 * n_tokens)
                AND n_stop >= 2
                AND n_sym * 10 < n_chars
                AND n_digit * 5 < n_chars
                AND (n_bigrams - n_uniq_bigrams) * 5 <= n_bigrams AS keep
            FROM f),
      u AS (SELECT lang, source, n_tokens, keep,
              doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup
            FROM k)
      SELECT lang, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS kept_frac
      FROM u GROUP BY lang, source"""),
    Some(s"""
      SELECT d.lang, d.source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN e.is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
             CAST(sum(t.n_tokens) AS BIGINT) AS n_tokens_total,
             CAST(sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS kept_frac
      FROM documents d
        JOIN (${graft.ops.TextOps.t01.oracle.get}) t ON t.doc_id = d.doc_id
        JOIN (${graft.ops.TextOps.t08.oracle.get}) k ON k.doc_id = d.doc_id
        JOIN (${graft.ops.TextOps.d01.oracle.get}) e ON e.doc_id = d.doc_id
      GROUP BY d.lang, d.source"""))

  /** Context-window chunking: split each document into fixed-size token
    * windows (50 tokens, stride 40 — 10-token overlap), the transform that
    * turns a curated corpus into training sequences. The window starts are
    * generated per row and exploded — embarrassingly parallel, no shuffle;
    * output carries the exact token span so a trainer can reconstruct
    * provenance. */
  val q47 = QueryDef(
    "q47_chunk_windows",
    (s, d) => withViews(s, d, "documents")(s"""
      WITH t AS (SELECT doc_id, split($sNorm, ' ') AS w FROM documents),
      c AS (SELECT doc_id, w, st FROM t
            LATERAL VIEW explode(sequence(1, size(w), $hopTokens)) x AS st)
      SELECT doc_id,
             CAST((st - 1) DIV $hopTokens AS BIGINT) AS chunk_idx,
             CAST(st AS BIGINT) AS start_tok,
             CAST(least(st + ${chunkTokens - 1}, size(w)) AS BIGINT) AS end_tok,
             CAST(size(slice(w, st, $chunkTokens)) AS BIGINT) AS n_chunk_tokens,
             array_join(slice(w, st, $chunkTokens), ' ') AS chunk_text
      FROM c"""),
    Some(s"""
      WITH t AS (SELECT doc_id, string_split($oNorm, ' ') AS w FROM documents),
      c AS (SELECT doc_id, w, unnest(range(1, len(w) + 1, $hopTokens)) AS st FROM t)
      SELECT doc_id,
             CAST((st - 1) // $hopTokens AS BIGINT) AS chunk_idx,
             CAST(st AS BIGINT) AS start_tok,
             CAST(least(st + ${chunkTokens - 1}, len(w)) AS BIGINT) AS end_tok,
             CAST(len(list_slice(w, st, least(st + ${chunkTokens - 1}, len(w)))) AS BIGINT)
               AS n_chunk_tokens,
             array_to_string(list_slice(w, st, least(st + ${chunkTokens - 1}, len(w))), ' ')
               AS chunk_text
      FROM c"""))

  /** Deterministic greedy sequence packing: docs stream through each lang
    * in doc_id order and fall into consecutive 2048-token bins by
    * cumulative token count — the streaming approximation of bin packing
    * that a distributed trainer actually uses (exact bin packing is
    * NP-hard and order-dependent; fixed order makes the assignment
    * reproducible).
    *
    * TWO-PHASE DISTRIBUTED PREFIX SUM — the naive formulation
    * (`sum() OVER (PARTITION BY lang ORDER BY doc_id)`) sorts each whole
    * language inside ONE task: with a handful of languages a 100 TB
    * corpus funnels through ~5 tasks. Instead, rows bucket into fixed
    * doc_id blocks (`blk = doc_id DIV packBlockDocs` — a config dial,
    * default 4096, see [[packBlockDocs]] for the >10⁹-doc sizing story —
    * deterministic, monotone in
    * the packing order, so block order = row order); phase 1 aggregates
    * per-(lang, blk) token subtotals (map-side partial agg → the exchange
    * carries one row per block, not per doc); the subtotal table is tiny
    * (|blocks|), so its cumulative offsets are one cheap window; phase 2
    * broadcast-joins the offsets back and computes the running sum WITHIN
    * each (lang, blk) — every window group is ≤ 4096 rows regardless of
    * corpus size. Same integer arithmetic as the global window (the
    * oracle keeps the naive one-window spelling), parallel at any scale.
    * The narrow (id, lang, count, blk) projection is staged once so the
    * text is scanned exactly once across both phases. */
  val q48 = QueryDef(
    "q48_greedy_packing",
    (s, d) => {
      val t = staged("q48_t", d) {
        withViews(s, d, "documents")(s"""
          SELECT doc_id, lang,
                 CAST(size(split($sNorm, ' ')) AS BIGINT) AS n_tokens,
                 CAST(doc_id DIV $packBlockDocs AS BIGINT) AS blk
          FROM documents""")
      }
      t.createOrReplaceTempView("q48_t")
      s.sql(s"""
        WITH sub AS (SELECT lang, blk, sum(n_tokens) AS sub_tokens
                     FROM q48_t GROUP BY lang, blk),
        off AS (SELECT lang, blk,
                  coalesce(sum(sub_tokens) OVER (PARTITION BY lang ORDER BY blk
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    CAST(0 AS BIGINT)) AS blk_offset
                FROM sub),
        c AS (SELECT /*+ BROADCAST(off) */ t.doc_id, t.lang, t.n_tokens,
                off.blk_offset
                  + sum(t.n_tokens) OVER (PARTITION BY t.lang, t.blk
                      ORDER BY t.doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - t.n_tokens AS cum_before
              FROM q48_t t JOIN off ON t.lang = off.lang AND t.blk = off.blk)
        SELECT doc_id, lang, n_tokens, cum_before,
               CAST(cum_before DIV $packTokens AS BIGINT) AS pack_id
        FROM c""")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, lang,
                   CAST(len(string_split($oNorm, ' ')) AS BIGINT) AS n_tokens
                 FROM documents),
      c AS (SELECT doc_id, lang, n_tokens,
              sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
                AS cum_before
            FROM t)
      SELECT doc_id, lang, n_tokens, CAST(cum_before AS BIGINT) AS cum_before,
             CAST(cum_before // $packTokens AS BIGINT) AS pack_id
      FROM c"""))

  /** Capstone sequence-production pipeline: quality-filter (t08 rules) →
    * exact-dedup keep-first (d01 semantics) → context-window chunking
    * (q47's 50/40 geometry) → greedy packing into 2048-token bins (q48)
    * → per-language summary. ONE text scan; after it only ids and token
    * counts flow — chunk sizes are computed arithmetically
    * (`least(50, n_tokens - st + 1)`), so no chunk text ever
    * materializes. The packing step uses q48's two-phase distributed
    * prefix sum (block key `doc_id DIV 4096`, monotone in the
    * (doc_id, st) packing order): per-(lang, blk) subtotals → tiny
    * cumulative-offset window → broadcast join + bounded within-block
    * window — no whole-language sort ever lands in one task. The narrow
    * chunk frame (id, lang, st, count, blk) is staged once, so the text
    * is still scanned exactly once end-to-end. Shuffles: the digest
    * window, the per-(lang, blk) packing window, the final agg — all
    * metadata-width. This is the plan shape that turns a 100 TB corpus
    * into training sequences without ever moving the corpus twice. */
  val q50 = QueryDef(
    "q50_sequence_pipeline",
    (s, d) => {
      // The per-doc feature frame is staged SEPARATELY from the chunk
      // frame, and the keep-filter runs against the staged frame, not
      // inside the scan. Filtering on `keep` directly looks cleaner but is a
      // measured 30× landmine: PushDownPredicates substitutes each
      // feature alias's DEFINITION into the pushed predicate, so the
      // normalize/split/fold chain is re-evaluated once per reference
      // (~8× per row) — and with lambda-bearing expressions outside
      // whole-stage codegen there is no subexpression elimination to
      // collapse them (33 s vs 0.14 s at 64× for the identical result;
      // t07/t08 never hit this because they EMIT keep as a column).
      // The staged frame is metadata-width (ids, counts, one digest — no
      // text), and the corpus is scanned exactly once, in its build.
      // The analysis itself is the native one-pass corpus_features
      // expression (CorpusFeaturesSpec pins it equal to the SQL lambda
      // chain the oracle runs): the interpreted lambda/regex spelling
      // re-walked each doc ~10× at ~1 ms/doc and was the single dominant
      // q50 stage at 64× (10.6 s of 11.6 s).
      val feats = staged("q50_f", d) {
        withViews(s, d, "documents")(s"""
          WITH c AS (SELECT doc_id, lang, corpus_features(text) AS cf
                     FROM documents),
          f AS (SELECT doc_id, lang, cf.fp AS fp, cf.n_tokens AS n_tokens,
                  cf.total_chars AS total_chars, cf.n_stop AS n_stop,
                  cf.n_chars AS n_chars, cf.n_sym AS n_sym,
                  cf.n_digit AS n_digit, cf.n_bigrams AS n_bigrams,
                  cf.n_uniq_bigrams AS n_uniq_bigrams
                FROM c)
          SELECT doc_id, lang, fp, n_tokens,
                 (n_tokens BETWEEN 5 AND 1000)
                   AND (3 * n_tokens <= total_chars AND total_chars <= 10 * n_tokens)
                   AND n_stop >= 2
                   AND n_sym * 10 < n_chars
                   AND n_digit * 5 < n_chars
                   AND (n_bigrams - n_uniq_bigrams) * 5 <= n_bigrams AS keep
          FROM f""")
      }
      // Dataset API (frame object, no temp view) for the dedup + chunk
      // step: embedding the feats view — whose analyzed plan carries its
      // own CTE definitions — inside another WITH trips a second
      // optimizer bug (PushdownPredicatesAndPruneColumnsForCTEDef:
      // key not found on the nested CTE id). Same plan, no CTEs.
      val ch = staged("q50_ch", d) {
        import s.implicits._
        import org.apache.spark.sql.functions.{min => fmin}
        import org.apache.spark.sql.expressions.Window
        feats
          .withColumn("is_dup",
            $"doc_id" =!= fmin($"doc_id").over(Window.partitionBy($"fp")))
          .where($"keep" && !$"is_dup")
          .selectExpr("doc_id", "lang", "n_tokens",
            s"explode(sequence(CAST(1 AS BIGINT), n_tokens, CAST($hopTokens AS BIGINT))) AS st")
          .selectExpr("doc_id", "lang", "st",
            s"least(CAST($chunkTokens AS BIGINT), n_tokens - st + 1) AS n_chunk_tokens",
            s"CAST(doc_id DIV $packBlockDocs AS BIGINT) AS blk")
      }
      // phase 2 references the staged frame OBJECT (not a temp view): the
      // cached subtree is reused by construction in both consumers, so the
      // text scan happens exactly once (view-based reuse relied on cache
      // canonicalization matching, which missed for this window-bearing
      // plan and silently re-scanned the corpus)
      import s.implicits._
      import org.apache.spark.sql.functions.{broadcast, coalesce, count,
        countDistinct, expr, lit, sum => fsum}
      import org.apache.spark.sql.expressions.Window
      val sub = ch.groupBy($"lang", $"blk")
        .agg(fsum($"n_chunk_tokens").as("sub_tokens"))
      val off = sub.select($"lang", $"blk",
        coalesce(
          fsum($"sub_tokens").over(Window.partitionBy($"lang").orderBy($"blk")
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("blk_offset"))
      val p = ch.join(broadcast(off), Seq("lang", "blk"))
        .withColumn("cum_before",
          $"blk_offset"
            + fsum($"n_chunk_tokens").over(
              Window.partitionBy($"lang", $"blk").orderBy($"doc_id", $"st")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            - $"n_chunk_tokens")
      // The summary's two count(DISTINCT)s (the oracle's spelling) compile
      // to an Expand that triples every chunk row through a wide exchange
      // — measured as the dominant q50 cost at 64×. Both are replaced by
      // exact plain aggregates:
      //  - n_docs: every kept doc emits exactly ONE st=1 chunk (the
      //    explode starts at 1 and kept docs have n_tokens ≥ 5), so
      //    counting st=1 rows IS the distinct doc count;
      //  - n_packs: pack ids are DENSE per lang — cum_before grows by the
      //    previous chunk's ≤ 50 tokens ≪ 2048, so consecutive pack ids
      //    differ by at most 1 and start at 0 — hence max(pack)+1 IS the
      //    distinct pack count.
      // One straight HashAggregate pass; no row multiplication.
      import org.apache.spark.sql.functions.{max, when}
      p.groupBy($"lang")
        .agg(fsum(when($"st" === 1L, 1L).otherwise(0L)).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          (max(expr(s"cum_before DIV $packTokens")) + 1L).as("n_packs"),
          fsum($"n_chunk_tokens").as("n_tokens_packed"))
    },
    Some(s"""
      WITH t AS (SELECT doc_id, lang, $oNorm AS nt,
                   string_split($oNorm, ' ') AS w FROM documents),
      b AS (SELECT doc_id, lang, nt, w,
              CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)),
                     i -> w[i] || ' ' || w[i + 1])
                   ELSE CAST([] AS VARCHAR[]) END AS bg
            FROM t),
      f AS (SELECT doc_id, lang, md5(nt) AS fp,
              CAST(len(w) AS BIGINT) AS n_tokens,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(w, x -> CAST(length(x) AS BIGINT))),
                (a, x) -> a + x) AS total_chars,
              CAST(len(list_filter(w, x -> x IN ${TextOps.allStop})) AS BIGINT) AS n_stop,
              CAST(length(nt) AS BIGINT) AS n_chars,
              CAST(len(regexp_extract_all(nt, '[^a-z0-9 ]', 0)) AS BIGINT) AS n_sym,
              CAST(len(regexp_extract_all(nt, '[0-9]', 0)) AS BIGINT) AS n_digit,
              CAST(len(bg) AS BIGINT) AS n_bigrams,
              CAST(len(list_distinct(bg)) AS BIGINT) AS n_uniq_bigrams
            FROM b),
      k AS (SELECT doc_id, lang, fp, n_tokens,
              (n_tokens BETWEEN 5 AND 1000)
                AND (3 * n_tokens <= total_chars AND total_chars <= 10 * n_tokens)
                AND n_stop >= 2
                AND n_sym * 10 < n_chars
                AND n_digit * 5 < n_chars
                AND (n_bigrams - n_uniq_bigrams) * 5 <= n_bigrams AS keep
            FROM f),
      u AS (SELECT doc_id, lang, n_tokens, keep,
              doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup
            FROM k),
      kept AS (SELECT doc_id, lang, n_tokens FROM u WHERE keep AND NOT is_dup),
      ch AS (SELECT doc_id, lang, unnest(range(1, n_tokens + 1, $hopTokens)) AS st,
               n_tokens
             FROM kept),
      ch2 AS (SELECT doc_id, lang, st,
                least(CAST($chunkTokens AS BIGINT), n_tokens - st + 1) AS n_chunk_tokens
              FROM ch),
      p AS (SELECT lang, doc_id, st, n_chunk_tokens,
              sum(n_chunk_tokens) OVER (PARTITION BY lang ORDER BY doc_id, st
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_chunk_tokens AS cum_before
            FROM ch2)
      SELECT lang,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(count(DISTINCT cum_before // $packTokens) AS BIGINT) AS n_packs,
             CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens_packed
      FROM p GROUP BY lang"""))

  // ---- tokenizer: one BPE pipeline over two alphabets -----------------

  /** BPE geometry — shared by the engine loop and the unrolled oracle so
    * retuning cannot break engine↔oracle equivalence (same rule as the
    * chunk/pack constants above). `bpeRounds` is a JVM-level dial
    * (`-Dgraft.bpe.rounds=N`, default 12 to keep the gate's unrolled
    * DuckDB oracle tractable): the merge loop itself is driver-local
    * (see [[bpeMergeLoop]]), so raising the dial costs O(N·vocab·len)
    * driver work and ZERO extra Spark jobs (SCALE.md "Tokenizer-training
    * ops at 8×/64× documents"). */
  private[graft] val bpeRounds: Int =
    sys.props.getOrElse("graft.bpe.rounds", "12").toInt
  private[graft] val bpeVocab = 1000

  /** One EXACT leftmost-greedy merge round as a delimited-string fold,
    * emitted in the target dialect: walk the symbol list left to right
    * with the accumulator holding the merged prefix as `|s1|s2|…|`; a
    * step either fuses the tail symbol with the incoming one (tail = lhs
    * and incoming = rhs — `endswith(acc, '|lhs|')` identifies the tail
    * EXACTLY because symbols never contain the delimiter) or appends.
    * Iterated non-overlapping `replace` is NOT this semantics: it
    * diverges from greedy BPE on self-overlapping runs (`aaaaa`+(a,a)).
    * The prepended `'|'` init also satisfies DuckDB's `list_reduce`
    * same-type constraint. */
  private[graft] def sGreedyMerge(seqE: String, lhsE: String, rhsE: String): String =
    s"""aggregate(filter(split($seqE, '[|]'), x -> x <> ''), '|',
       |  (acc, x) -> CASE WHEN endswith(acc, concat('|', $lhsE, '|')) AND x = $rhsE
       |    THEN concat(left(acc, length(acc) - length($lhsE) - 1), $lhsE, $rhsE, '|')
       |    ELSE concat(acc, x, '|') END)""".stripMargin

  private def oGreedyMerge(seqE: String, lhsE: String, rhsE: String): String =
    s"""list_reduce(list_prepend('|', list_filter(string_split($seqE, '|'), x -> x <> '')),
       |  (acc, x) -> CASE WHEN ends_with(acc, '|' || $lhsE || '|') AND x = $rhsE
       |    THEN left(acc, length(acc) - length($lhsE) - 1) || $lhsE || $rhsE || '|'
       |    ELSE acc || x || '|' END)""".stripMargin

  /** Driver-local leftmost-greedy merge — the EXACT semantics of
    * [[sGreedyMerge]]/[[oGreedyMerge]] (tail-fuse-or-append single scan),
    * in plain Scala for [[bpeMergeLoop]] and [[encodeLocal]]. */
  private[graft] def greedyMergeLocal(
      syms: Array[String], lhs: String, rhs: String): Array[String] = {
    val buf = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      val x = syms(i)
      if (buf.nonEmpty && buf(buf.length - 1) == lhs && x == rhs)
        buf(buf.length - 1) = lhs + rhs
      else buf += x
      i += 1
    }
    buf.toArray
  }

  /** Deterministic corpus augmentation for the byte-level tokenizer gate:
    * the synthetic `documents.text` is lowercase-ASCII words + spaces
    * only, which would leave a byte-level tokenizer's entire raison
    * d'être (digits, punctuation, casing, multi-byte UTF-8) untested. The
    * augmented view appends data-derived tokens — `Café-№<d>.<d>%` (Latin-1
    * 2-byte é, 3-byte №, digits, punct, uppercase) and `Ωδ<source>`
    * (Greek 2-byte prefix fused to an ASCII word) — so the gate's
    * hash-compare exercises every byte class while staying a pure
    * function of the table. ONE definition, two dialect spellings. */
  private def sAugText: String =
    "concat(text, ' Café-№', CAST(doc_id % 10 AS STRING), '.', " +
      "CAST(doc_id % 7 AS STRING), '% Ωδ', source)"
  private def oAugText: String =
    "concat(text, ' Café-№', CAST(doc_id % 10 AS VARCHAR), '.', " +
      "CAST(doc_id % 7 AS VARCHAR), '% Ωδ', source)"

  /** UTF-8 bytes of a word as uppercase hex-pair symbols — the byte-level
    * symbol alphabet. Hex pairs never contain `|`, so the SAME delimited
    * greedy fold drives byte-level merges, and merged symbols (concatenated
    * hex) are quote-free SQL literals with binary-stable ordering in BOTH
    * engines (plain ASCII compare — no collation games on raw UTF-8). */
  private[graft] def byteSyms(w: String): Array[String] =
    w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02X")

  /** A BPE symbol alphabet: everything the char-level tokenizer (t10
    * train, t12 encode) and the byte-level one (t13 train, t14 encode,
    * t15 ids, t18 detokenize) differ in. Exactly two instances, nothing
    * settable; every stage below is written once over it.
    *
    * @param unit     native-function suffix (`bpe_apply_<unit>`,
    *                 `bpe_doc_stats_<unit>`) and the encode output's length
    *                 unit (`n_<unit>`, `<unit>_per_subword`)
    * @param trainTag staged-frame prefix of the train path (t10 / t13)
    * @param encodeTag staged-frame prefix of the encode path (t12 / t14)
    * @param sHist    Spark: a document's `word → count` histogram
    * @param sOrder   Spark: the vocab cap's tiebreak over column `word`
    * @param syms     driver: a word's initial symbols
    * @param oTokens  DuckDB: a document's token list
    * @param oOrder   DuckDB: the vocab cap's tiebreak over column `w`
    * @param oSeq     DuckDB: a word's initial `|s1|s2|…|` symbol string
    * @param oLen     DuckDB: the length function counted in `n_<unit>` */
  private[graft] sealed abstract class Alphabet(
      val unit: String,
      val trainTag: String,
      val encodeTag: String,
      val sHist: String,
      val sOrder: String,
      val syms: String => Array[String],
      val oTokens: String,
      val oOrder: String,
      val oSeq: String => String,
      val oLen: String)

  /** Lowercased `[a-z]+` words, one symbol per character. */
  private[graft] case object Chars extends Alphabet(
    unit = "chars", trainTag = "t10", encodeTag = "t12",
    sHist = "ascii_word_histogram(lower(text))",
    sOrder = "word",
    syms = _.map(_.toString).toArray,
    oTokens = "regexp_extract_all(lower(text), '[a-z]+')",
    oOrder = "w",
    oSeq = w => s"'|' || regexp_replace($w, '(.)', '\\1|', 'g')",
    oLen = "length")

  /** Raw space-separated tokens of the augmented corpus ([[sAugText]]),
    * one symbol per UTF-8 byte ([[byteSyms]]); the vocab tiebreak orders
    * by `hex(encode(word))` — injective, byte-wise, collation-proof in
    * both engines. */
  private[graft] case object Bytes extends Alphabet(
    unit = "bytes", trainTag = "t13", encodeTag = "t14",
    sHist = s"space_token_histogram($sAugText)",
    sOrder = "hex(encode(word, 'UTF-8'))",
    syms = byteSyms,
    oTokens = s"list_filter(string_split($oAugText, ' '), x -> x <> '')",
    oOrder = "hex(encode(w))",
    oSeq = w => s"'|' || regexp_replace(hex(encode($w)), '(..)', '\\1|', 'g')",
    oLen = "strlen")

  /** Per-doc token histograms, staged for the encode path only: a
    * zero-shuffle projection of document-count map rows (the native
    * [[graft.functions.TokenHistogram]] collapses each doc's token stream
    * in one byte pass), from which the encode derives its wordcount, its
    * distinct-word merge input and its per-doc stats — one corpus scan
    * (SCALE.md "Round 11: single-pass tokenizer family via native per-doc
    * histograms"). */
  private[graft] def docHist(
      s: org.apache.spark.sql.SparkSession, d: String, a: Alphabet) =
    staged(s"${a.encodeTag}_doc_hist", d) {
      withViews(s, d, "documents")(
        s"SELECT doc_id, ${a.sHist} AS h FROM documents")
    }

  /** FULL per-word counts — ONE fused corpus pass (scan → native
    * histogram → distinct-per-doc explode → partial agg →
    * vocabulary-width shuffle), staged vocabulary-sized. Deliberately does
    * NOT read [[docHist]]: a train-only run pays less re-fusing the scan
    * than writing and reading the per-doc frame (same SCALE.md section). */
  private[graft] def wordCounts(
      s: org.apache.spark.sql.SparkSession, d: String, a: Alphabet) =
    staged(s"${a.trainTag}_wordcounts_full", d) {
      withViews(s, d, "documents")(s"""
        SELECT word, CAST(sum(cnt) AS BIGINT) AS freq
        FROM (SELECT explode(${a.sHist}) AS (word, cnt) FROM documents)
        GROUP BY word""")
    }

  /** The driver-local merge loop: count adjacent pairs weighted by word
    * freq, arg-max with the deterministic (freq DESC, lhs, rhs) tiebreak,
    * one greedy-merge scan per word, stop early when no pair remains
    * (every word fused to one symbol; the oracle's CROSS JOIN with the
    * then-empty `b_r` goes empty the same way). Pure function of the
    * capped vocab — trained state, the same model-artifact judgment as
    * d12's driver-built Bloom filter — so round count only ever costs
    * driver CPU. */
  private[graft] def bpeMergeLoop(
      init: Array[(Array[String], Long)],
      rounds: Int): Vector[(Int, String, String, Long)] = {
    var words = init
    val out = Vector.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((lhs, rhs), f) = counts.minBy { case ((l, rr), ff) => (-ff, l, rr) }
        out += ((r, lhs, rhs, f))
        words = words.map { case (syms, wf) => (greedyMergeLocal(syms, lhs, rhs), wf) }
        r += 1
      }
    }
    out.result()
  }

  /** BPE merge-table training: the one corpus-scale stage is
    * [[wordCounts]]; the top-`bpeVocab` cap (TakeOrdered) is collected
    * and merged driver-local. */
  private[graft] def bpeTrain(
      s: org.apache.spark.sql.SparkSession, d: String, a: Alphabet,
      rounds: Int = bpeRounds): Vector[(Int, String, String, Long)] =
    bpeTrainFrom(wordCounts(s, d, a), a, rounds)

  /** The train head over a full `(word, freq)` wordcount frame: top-K
    * vocab cap (`freq DESC` + the alphabet's tiebreak) → driver merge
    * loop. The encode path trains from the wordcount it derives from
    * [[docHist]] (same values as [[wordCounts]], TokenHistogramSpec). */
  private[graft] def bpeTrainFrom(
      wc: org.apache.spark.sql.DataFrame, a: Alphabet,
      rounds: Int): Vector[(Int, String, String, Long)] = {
    import org.apache.spark.sql.functions.{col, expr}
    val top = wc.orderBy(col("freq").desc, expr(a.sOrder))
      .limit(bpeVocab).collect()
    bpeMergeLoop(top.map(r => (a.syms(r.getString(0)), r.getLong(1))), rounds)
  }

  /** Driver-local encode of one word under a merge table — the exact
    * fold the native `bpe_apply_<unit>` applies, for spec-level proofs
    * (byte-level: the symbols always concatenate back to
    * `hex(utf8(word))`, so decoding is lossless for ANY input). */
  private[graft] def encodeLocal(
      word: String, merges: Seq[(String, String)], a: Alphabet): Array[String] =
    merges.foldLeft(a.syms(word)) { case (syms, (l, r)) =>
      greedyMergeLocal(syms, l, r)
    }

  /** The distributed encode at an arbitrary merge depth: train from the
    * staged per-doc histograms, flatten the merge table into ONE string
    * literal, and compute each document's stats in one zero-shuffle
    * row-wise pass of the native [[graft.functions.BpeDocStats]] over its
    * distinct words (SCALE.md "Round 12: t12/t14 encode tail fused into
    * one row-wise expression"). Round count only changes the literal's
    * length, never the plan shape. `size(h) > 0` drops token-free
    * documents, which the oracle's join drops too. */
  private[graft] def encode(
      s: org.apache.spark.sql.SparkSession, d: String, a: Alphabet,
      rounds: Int = bpeRounds): org.apache.spark.sql.DataFrame = {
    val dh = s"${a.encodeTag}_dh"
    docHist(s, d, a).createOrReplaceTempView(dh)
    val wc = staged(s"${a.encodeTag}_wordcounts_derived", d) {
      s.sql(s"""
        SELECT word, CAST(sum(cnt) AS BIGINT) AS freq
        FROM (SELECT explode(h) AS (word, cnt) FROM $dh)
        GROUP BY word""")
    }
    val merges = bpeTrainFrom(wc, a, rounds)
      .map { case (_, l, r, _) => s"$l $r" }.mkString(" ")
    s.sql(s"""
      SELECT doc_id,
             st.n_words AS n_words,
             st.n_subwords AS n_subwords,
             st.n_len AS n_${a.unit},
             CAST(st.n_len AS DOUBLE) / CAST(st.n_subwords AS DOUBLE)
               AS ${a.unit}_per_subword
      FROM (SELECT doc_id, bpe_doc_stats_${a.unit}(h, '$merges') AS st
            FROM $dh WHERE size(h) > 0)""")
  }

  /** One oracle merge round (a/p/b/w CTE block) — alphabet-generic: it
    * only sees `|`-delimited `seq` strings. */
  private def bpeOracleRound(r: Int): String = s"""
        a$r AS MATERIALIZED (SELECT word, freq, seq,
                   list_filter(string_split(seq, '|'), x -> x <> '') AS syms
                 FROM w$r),
        p$r AS (SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS freq
                FROM (SELECT freq, syms[i] AS lhs, syms[i + 1] AS rhs
                      FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i
                            FROM a$r WHERE len(syms) >= 2))
                GROUP BY lhs, rhs),
        b$r AS MATERIALIZED (SELECT lhs, rhs, freq FROM p$r
                ORDER BY freq DESC, lhs, rhs LIMIT 1),
        w${r + 1} AS (SELECT w.word, w.freq,
                   ${oGreedyMerge("w.seq", "b.lhs", "b.rhs")} AS seq
                   FROM a$r w CROSS JOIN b$r b)"""

  /** The ONE DuckDB spelling of the merge-table derivation (wc, w1, then
    * per round a/p/b/w), shared by every tokenizer oracle so they cannot
    * drift: the vocab queries select b1..bN, the encode queries and
    * [[oIdChain]] apply b1..bN on top. MATERIALIZED because DuckDB
    * inlines a CTE referenced twice, which re-evaluates each round's
    * frame exponentially. */
  private def oTrainChain(a: Alphabet): String =
    s"""wc AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
                  FROM (SELECT unnest(${a.oTokens}) AS w FROM documents)
                  GROUP BY w ORDER BY freq DESC, ${a.oOrder} LIMIT $bpeVocab),
      w1 AS (SELECT word, freq, ${a.oSeq("word")} AS seq FROM wc),
      ${(1 to bpeRounds).map(bpeOracleRound).mkString(",")}"""

  /** The ONE DuckDB encode-round chain over the distinct words of a
    * `toks(…, w)` CTE, ending at `e$bpeRounds(w, seq)`. LEFT JOIN ON
    * true, not CROSS JOIN: past the exhaustion round b_r is EMPTY, and
    * a cross join would wipe the chain while the engine's collected
    * table just stops early (SCALE.md "Deep-dial gate runs"). */
  private def oEncodeChain(a: Alphabet): String = {
    val rounds = (1 to bpeRounds).map { r =>
      s"""e$r AS MATERIALIZED (SELECT w,
          CASE WHEN b.lhs IS NULL THEN seq
               ELSE ${oGreedyMerge("seq", "b.lhs", "b.rhs")} END AS seq
          FROM e${r - 1} LEFT JOIN b$r b ON true)"""
    }.mkString(",\n      ")
    s"""dw AS (SELECT DISTINCT w FROM toks),
      e0 AS (SELECT w, ${a.oSeq("w")} AS seq FROM dw),
      $rounds"""
  }

  /** BPE tokenizer vocab induction (t10 char-level, t13 byte-level): the
    * merge-rule table a subword tokenizer is trained from. ONE
    * corpus-scale shuffle ([[wordCounts]] → top-`bpeVocab` via
    * TakeOrdered), then the whole greedy merge loop driver-local over the
    * collected capped vocab ([[bpeTrain]]). Symbol sequences in the
    * oracle ride `|`-delimited strings, safe because neither alphabet's
    * symbols contain `|`; the driver fold ([[greedyMergeLocal]]) and the
    * oracle fold ([[oGreedyMerge]]) are the same exact leftmost-greedy
    * single-scan semantics. Byte-level symbols are UTF-8 BYTES, so no
    * input ever falls outside the alphabet; the gate runs it on the
    * augmented corpus precisely so its hash proves the non-ASCII path.
    * Reference analogue: iterative refinement over a bounded state frame
    * (`gasket/src/runtime.rs:244-289` drives repeated bounded work units
    * through a fixed stage graph). */
  private def vocabQuery(name: String, a: Alphabet) = QueryDef(
    name,
    (s, d) => {
      import s.implicits._
      bpeTrain(s, d, a)
        .map { case (r, l, rh, f) => (r.toLong, l, rh, f) }
        .toDF("rank", "lhs", "rhs", "freq")
        .orderBy("rank")
    },
    Some(s"""
      WITH ${oTrainChain(a)}
      ${(1 to bpeRounds)
        .map(r => s"SELECT CAST($r AS BIGINT) AS rank, lhs, rhs, freq FROM b$r")
        .mkString(" UNION ALL ")}
      ORDER BY rank"""),
    headline = true)

  /** BPE tokenizer APPLICATION (t12 char-level, t14 byte-level): encode
    * every document with the learned merge table ([[encode]]) and report
    * per-doc subword count, length in the alphabet's unit, and
    * unit-per-subword compression — the number a tokenizer owner
    * monitors. The oracle cannot collect, so it re-derives the merge
    * table with the vocab query's own chain ([[oTrainChain]],
    * oracle-verified by the vocab gate row) and applies the same rounds
    * over the distinct-word frame ([[oEncodeChain]]). Byte-level encodes
    * are lossless by construction (symbols partition the byte string —
    * proved per word in QueriesSpec via [[encodeLocal]]). */
  private def encodeQuery(name: String, a: Alphabet) = QueryDef(
    name,
    (s, d) => encode(s, d, a),
    Some(s"""
      WITH ${oTrainChain(a)},
      toks AS (SELECT doc_id, unnest(${a.oTokens}) AS w FROM documents),
      ${oEncodeChain(a)},
      enc AS (SELECT w, CAST(len(list_filter(string_split(seq, '|'),
                x -> x <> '')) AS BIGINT) AS n_sub
              FROM e$bpeRounds)
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(e.n_sub) AS BIGINT) AS n_subwords,
             CAST(sum(${a.oLen}(t.w)) AS BIGINT) AS n_${a.unit},
             CAST(sum(${a.oLen}(t.w)) AS DOUBLE) / CAST(sum(e.n_sub) AS DOUBLE)
               AS ${a.unit}_per_subword
      FROM toks t JOIN enc e ON t.w = e.w
      GROUP BY t.doc_id"""),
    headline = true)

  val t10 = vocabQuery("t10_bpe_vocab", Chars)
  val t12 = encodeQuery("t12_bpe_encode", Chars)
  val t13 = vocabQuery("t13_bpe_byte_vocab", Bytes)
  val t14 = encodeQuery("t14_bpe_byte_encode", Bytes)

  /** Count-min geometry, shared engine↔oracle: depth-4 hash rows ×
    * width-1024 counters. ε = e/w ≈ 0.27%·N expected overcount per row;
    * 4 independent rows drive the min-tail down. All integers — nothing
    * to diverge across engines.
    *
    * INDEPENDENCE TRAP (a shipped bug, caught in review): varying only
    * `char_fold`'s SEED does not give independent rows — the fold is
    * `seed·31^n + Σ cᵢ·31^(n-i)`, so for two words of equal length the
    * seed term cancels in the difference and all "independent" rows
    * collide together ('aaa' vs 'bcb' collided in all four). The fix is
    * the affine 2-hash family MinHashSig already uses, with the second
    * base hash folded over the REVERSED word: reversal permutes the
    * polynomial weights, so the two base-hash differences are no longer
    * proportional and each row j's collision condition
    * `Δc1·(2j+1) + Δc2·(2j+3) ≡ 0 (mod p)` is a distinct line — two
    * distinct words can collide in at most one row by accident. */
  private[graft] val cmWidth = 1024
  private[graft] val cmDepth = 4
  private[graft] val cmPrime = 4294967311L // 2^32 + 15, MinHashSig's prime

  /** Row-j counter index of word expression `e`, in the target dialect:
    * `((c1·(2j+1) + c2·(2j+3)) mod p) mod width` with c1 = fold(e, 7),
    * c2 = fold(reverse(e), 13). Multipliers ≤ 11 on 32-bit folds keep
    * every intermediate far inside BIGINT. */
  private def cmHash(e: String, j: Int, fold: (String, Int) => String): String =
    s"((${fold(e, 7)}) * ${2 * j + 1} + (${fold(s"reverse($e)", 13)}) * ${2 * j + 3}) % $cmPrime % $cmWidth"

  /** Count-min sketch heavy hitters — frequency estimation in BOUNDED
    * memory, the sketch a 100 TB pipeline uses where an exact per-key
    * count is its own giant shuffle. The sketch IS a plain groupBy over
    * (row, bucket): Spark's map-side partial aggregation is exactly the
    * per-partition sketch build, and the exchange is the sketch merge —
    * at most depth×width counters per partition ever shuffle, regardless
    * of N or key cardinality. The gate query audits the sketch against
    * the exact top-25 (TakeOrdered): per word the estimate is
    * min over rows of counter(row, h_row(word)), and `never_undercounts`
    * is the count-min hard guarantee (est ≥ exact, always — not
    * probabilistic), so the oracle checks structure AND accuracy. */
  val q59 = QueryDef(
    "q59_heavy_hitters",
    (s, d) => {
      def sFold(e: String, seed: Int) = s"char_fold($e, $seed)"
      val hashes = (0 until cmDepth).map { j =>
        s"named_struct('j', $j, 'h', ${cmHash("word", j, sFold)})"
      }.mkString(",\n               ")
      // ONE corpus pass, vocabulary-width: the sketch rows AND the exact
      // top-K depend only on the global per-word count, so both derive
      // from the staged [[wordCounts]] frame, and the sketch hashes are
      // computed once per distinct word, weighted by its count (identical
      // integers: char_fold depends only on the word; TokenHistogramSpec
      // pins the histogram tokenizer == regexp_extract_all('[a-z]+')).
      // Measured against the per-doc-histogram spelling in SCALE.md
      // "One barrier".
      graft.functions.GraftFunctions.register(s)
      import s.implicits._
      import org.apache.spark.sql.functions.{broadcast, expr, min}
      val wt = wordCounts(s, d, Chars)
      val cm = wt.selectExpr("freq AS cnt", s"explode(array($hashes)) AS pr")
        .groupBy($"pr.j".as("j"), $"pr.h".as("h"))
        .agg(expr("CAST(sum(cnt) AS BIGINT)").as("cnt"))
      val top = wt.selectExpr("word", "freq AS exact_cnt")
        .orderBy($"exact_cnt".desc, $"word").limit(25)
      val ch = top.selectExpr("word", "exact_cnt",
          s"explode(array($hashes)) AS pr")
        .select($"word", $"exact_cnt", $"pr.j".as("j"), $"pr.h".as("h"))
      cm.join(broadcast(ch), Seq("j", "h"))
        .groupBy($"word", $"exact_cnt")
        .agg(min($"cnt").as("est_cnt"))
        .select($"word", $"exact_cnt", $"est_cnt",
          ($"est_cnt" - $"exact_cnt").as("overcount"),
          ($"est_cnt" >= $"exact_cnt").as("never_undercounts"))
    },
    Some {
      def oFold(e: String, seed: Int) = s"(${Q.oCharFold(e, seed)})"
      val unionRows = (0 until cmDepth).map { j =>
        s"SELECT $j AS j, ${cmHash("w", j, oFold)} AS h FROM toks"
      }.mkString("\n               UNION ALL ")
      val candRows = (0 until cmDepth).map { j =>
        s"SELECT word, exact_cnt, $j AS j, ${cmHash("word", j, oFold)} AS h FROM top"
      }.mkString("\n               UNION ALL ")
      s"""
      WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
                    FROM documents),
      cm AS (SELECT j, h, CAST(count(*) AS BIGINT) AS cnt
             FROM ($unionRows)
             GROUP BY j, h),
      top AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS exact_cnt
              FROM toks GROUP BY w ORDER BY exact_cnt DESC, word LIMIT 25),
      ch AS ($candRows),
      est AS (SELECT ch.word, ch.exact_cnt, min(cm.cnt) AS est_cnt
              FROM cm JOIN ch ON cm.j = ch.j AND cm.h = ch.h
              GROUP BY ch.word, ch.exact_cnt)
      SELECT word, exact_cnt, est_cnt, est_cnt - exact_cnt AS overcount,
             est_cnt >= exact_cnt AS never_undercounts
      FROM est"""
    },
    headline = true)

  /** The engine head shared by t15 (encode to ids) and t18 (decode
    * back): trains the byte-level table from the staged full wordcount,
    * registers that frame as `t13_wc`, and returns two CTEs —
    * `toks(doc_id, pos, w)`, the augmented token stream, and
    * `enc(w, ids)`, each DISTINCT word's id array read from `t13_wc`
    * (re-exploding the corpus for the distinct words would pay a second
    * scan + posexplode) — plus the id → symbol map literal t18 decodes
    * with.
    *
    * GPT-2's id scheme: ids 0..255 are the single bytes, id 255+r is
    * merge r's product. Two merge ROUNDS can produce the same product
    * STRING — ('41','4243') and ('4142','43') both yield '414243'; real
    * tokenizers key merges by id pairs, our symbols are strings — so the
    * symbol→id map keeps the FIRST (lowest-round) id for a product: an
    * undeduped literal would crash Spark's `map(...)` under
    * `mapKeyDedupPolicy=EXCEPTION`, and the oracle's rank table dedupes
    * identically (`min(id) GROUP BY sym`), keeping both engines on one
    * id per distinct symbol. */
  private def tokenIdsCte(
      s: org.apache.spark.sql.SparkSession, d: String,
      rounds: Int): (String, String) = {
    val wc = wordCounts(s, d, Bytes)
    wc.createOrReplaceTempView("t13_wc")
    val table = bpeTrainFrom(wc, Bytes, rounds)
    val merges = table.map { case (_, l, r, _) => s"$l $r" }.mkString(" ")
    val first = scala.collection.mutable.LinkedHashMap[String, Int]()
    table.foreach { case (r, l, rh, _) =>
      val p = l + rh
      if (!first.contains(p)) first(p) = 255 + r
    }
    val mergeMap = first
      .map { case (p, id) => s"'$p', $id" }.mkString("map(", ", ", ")")
    val invMap = first
      .map { case (p, id) => s"$id, '$p'" }.mkString("map(", ", ", ")")
    val symId = "CASE WHEN length(s) = 2 THEN CAST(conv(s, 16, 10) AS INT) " +
      s"ELSE element_at($mergeMap, s) END"
    (s"""toks AS (SELECT doc_id,
                      posexplode(filter(split($sAugText, ' '), x -> x <> ''))
                        AS (pos, w)
                    FROM documents),
      enc AS (SELECT word AS w,
                transform(bpe_apply_${Bytes.unit}(word, '$merges'),
                  s -> CAST($symId AS BIGINT)) AS ids
              FROM t13_wc)""", invMap)
  }

  /** DuckDB twin of [[tokenIdsCte]]'s id scheme + the word→(pos, id)
    * chain shared by the t15 and t18 oracles: re-derives the merge table
    * via [[oTrainChain]], encodes the distinct words via [[oEncodeChain]],
    * and maps symbols to ids INDEPENDENTLY of the engine (hex digits via
    * strpos arithmetic, merge products via the deduped rank table). Ends
    * at `wid(w, i, id)` and also defines `toks` and `mp` for downstream
    * use. */
  private def oIdChain: String = {
    val mpUnion = (1 to bpeRounds)
      .map(r => s"SELECT 255 + $r AS id, lhs || rhs AS sym FROM b$r")
      .mkString(" UNION ALL ")
    s"""${oTrainChain(Bytes)},
      mp AS (SELECT sym, CAST(min(id) AS BIGINT) AS id
             FROM ($mpUnion) GROUP BY sym),
      toks AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos,
                 unnest(ws) AS w
               FROM (SELECT doc_id, ${Bytes.oTokens} AS ws FROM documents)),
      ${oEncodeChain(Bytes)},
      wsyms AS (SELECT w, list_filter(string_split(seq, '|'), x -> x <> '') AS syms
                FROM e$bpeRounds),
      ws AS (SELECT w, unnest(range(1, len(syms) + 1)) AS i,
               unnest(syms) AS s
             FROM wsyms),
      wid AS (SELECT ws.w, ws.i,
                CAST(CASE WHEN strlen(ws.s) = 2
                  THEN (strpos('0123456789ABCDEF', ws.s[1:1]) - 1) * 16
                     + (strpos('0123456789ABCDEF', ws.s[2:2]) - 1)
                  ELSE mp.id END AS BIGINT) AS id
              FROM ws LEFT JOIN mp ON ws.s = mp.sym)"""
  }

  /** Token-ID materialization — the artifact a trainer actually consumes,
    * closing the tokenizer pipeline (t13 train → t14 encode → ids): every
    * document becomes its token-ID SEQUENCE under [[tokenIdsCte]]'s
    * scheme. Output per doc is bounded evidence of the full sequence:
    * token count, the first 8 ids (comma-joined STRING — list encodings
    * differ across engines, strings hash identically), and the exact
    * order-weighted BIGINT checksum Σ id_i·i (s07's audit pattern: any
    * id or position error anywhere in the sequence breaks the hash).
    *
    * Scale shape: the id mapping runs over DISTINCT words
    * (vocabulary-scale — the merge map is ≤`bpeRounds` entries riding the
    * SQL literal, base bytes map via `conv`), per-word id arrays
    * broadcast back onto one posexplode pass, and the per-DOC sequence
    * assembles with a collect_list bounded by DOCUMENT length — never
    * corpus-scale state. */
  private[graft] def t15Ids(
      s: org.apache.spark.sql.SparkSession, d: String,
      rounds: Int = bpeRounds): org.apache.spark.sql.DataFrame = {
    val (cte, _) = tokenIdsCte(s, d, rounds)
    withViews(s, d, "documents")(s"""
      WITH $cte,
      seq AS (SELECT /*+ BROADCAST(e) */ t.doc_id, t.pos, e.ids
              FROM toks t JOIN enc e ON t.w = e.w),
      doc AS (SELECT doc_id,
                flatten(transform(array_sort(collect_list(struct(pos, ids))),
                  x -> x.ids)) AS tids
              FROM seq GROUP BY doc_id)
      SELECT doc_id,
             CAST(size(tids) AS BIGINT) AS n_tokens,
             concat_ws(',', slice(tids, 1, 8)) AS head_ids,
             CAST(aggregate(zip_with(tids, sequence(1, size(tids)),
               (x, i) -> x * CAST(i AS BIGINT)), CAST(0 AS BIGINT),
               (a, b) -> a + b) AS BIGINT) AS id_checksum
      FROM doc""")
  }

  val t15 = QueryDef(
    "t15_token_ids",
    (s, d) => t15Ids(s, d),
    Some {
      s"""
      WITH $oIdChain,
      wids AS (SELECT w, list(id ORDER BY i) AS ids FROM wid GROUP BY w),
      seq AS (SELECT t.doc_id, t.pos, w2.ids
              FROM toks t JOIN wids w2 ON t.w = w2.w),
      doc AS (SELECT doc_id, flatten(list(ids ORDER BY pos)) AS tids
              FROM seq GROUP BY doc_id),
      chk AS (SELECT doc_id, CAST(sum(x * i) AS BIGINT) AS id_checksum
              FROM (SELECT doc_id, unnest(tids) AS x,
                      unnest(range(1, len(tids) + 1)) AS i
                    FROM doc)
              GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(len(d.tids) AS BIGINT) AS n_tokens,
             array_to_string(d.tids[1:8], ',') AS head_ids,
             c.id_checksum
      FROM doc d JOIN chk c ON d.doc_id = c.doc_id"""
    },
    headline = true)

  /** t18: corpus-scale DETOKENIZE round-trip — the integrity gate that
    * closes the tokenizer loop (t13 train → t14 encode → t15 ids → back
    * to bytes). Every document's token-ID sequence is decoded through
    * the INVERSE vocabulary (ids 0–255 → the byte's hex pair
    * arithmetically, 255+r → merge r's product via the inverted merge
    * map), the per-word byte strings reassemble in token order, and the
    * reconstruction is md5-compared against the same-order concatenation
    * of the ORIGINAL tokens — any dropped byte, wrong id, or ordering
    * error anywhere in the corpus flips `roundtrip` and breaks the gate
    * hash. (Spaces are not tokens in this scheme, so the reference is
    * the separator-free token concatenation — the exact byte content
    * the tokenizer is responsible for.)
    *
    * Scale shape: t15's — decode runs over DISTINCT words from the
    * staged wordcount artifact, per-word strings broadcast back onto the
    * token explode, per-doc assembly bounded by document length. */
  private[graft] def t18Detok(
      s: org.apache.spark.sql.SparkSession, d: String,
      rounds: Int = bpeRounds): org.apache.spark.sql.DataFrame = {
    val (cte, invMap) = tokenIdsCte(s, d, rounds)
    withViews(s, d, "documents")(s"""
      WITH $cte,
      dec AS (SELECT w, size(ids) AS n_ids,
                decode(unhex(concat_ws('', transform(ids, i ->
                  CASE WHEN i < 256 THEN lpad(conv(i, 10, 16), 2, '0')
                       ELSE element_at($invMap, CAST(i AS INT)) END))),
                  'UTF-8') AS w_back
              FROM enc),
      seq AS (SELECT /*+ BROADCAST(e) */ t.doc_id, t.pos, t.w, e.w_back,
                e.n_ids
              FROM toks t JOIN dec e ON t.w = e.w),
      doc AS (SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(n_ids) AS BIGINT) AS n_tokens,
                md5(concat_ws('', transform(
                  array_sort(collect_list(struct(pos, w))), x -> x.w)))
                  AS orig_md5,
                md5(concat_ws('', transform(
                  array_sort(collect_list(struct(pos, w_back))), x -> x.w_back)))
                  AS detok_md5
              FROM seq GROUP BY doc_id)
      SELECT doc_id, n_words, n_tokens, orig_md5, detok_md5,
             orig_md5 = detok_md5 AS roundtrip
      FROM doc""")
  }

  val t18 = QueryDef(
    "t18_detokenize",
    (s, d) => t18Detok(s, d),
    Some {
      // [[oIdChain]] down to wid (word, position, id), then the
      // INDEPENDENT inverse: base ids via hex-digit arithmetic, merge
      // ids via the reversed (deduped) rank table; DuckDB reassembles
      // and md5-compares exactly as the engine does
      s"""
      WITH $oIdChain,
      widdec AS (SELECT w, i,
                CASE WHEN wid.id < 256
                  THEN concat(
                    substr('0123456789ABCDEF', CAST(wid.id // 16 AS INT) + 1, 1),
                    substr('0123456789ABCDEF', CAST(wid.id % 16 AS INT) + 1, 1))
                  ELSE mp2.sym END AS hexsym
              FROM wid LEFT JOIN mp mp2 ON wid.id = mp2.id),
      wdec AS (SELECT w, count(*) AS n_ids,
                decode(unhex(string_agg(hexsym, '' ORDER BY i))) AS w_back
              FROM widdec GROUP BY w),
      seq AS (SELECT t.doc_id, t.pos, t.w, e.w_back, e.n_ids
              FROM toks t JOIN wdec e ON t.w = e.w),
      doc AS (SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(n_ids) AS BIGINT) AS n_tokens,
                md5(string_agg(w, '' ORDER BY pos)) AS orig_md5,
                md5(string_agg(w_back, '' ORDER BY pos)) AS detok_md5
              FROM seq GROUP BY doc_id)
      SELECT doc_id, n_words, n_tokens, orig_md5, detok_md5,
             orig_md5 = detok_md5 AS roundtrip
      FROM doc"""
    },
    headline = true)

  /** Drift alarm threshold: a token drifts when its corpus frequency
    * moves by more than `driftPermil`/1000 ABSOLUTE between snapshots —
    * compared by exact integer cross-multiplication (t07's rule), never
    * a float epsilon. At the gate corpus 21 of 31 vocabulary tokens
    * clear 1‰ between the two halves, so the alarm path is exercised
    * without being trivially-total. */
  private[graft] val driftPermil = 1

  /** The drift predicate's exact-integer RHS in its θ-envelope-safe
    * spelling: when θ | 1000,
    * `(NA·NB) div (1000/θ)` equals `(θ·NA·NB) div 1000` EXACTLY
    * (floor(X·θ/(m·θ)) = floor(X/m) for integers X ≥ 0, m = 1000/θ ≥ 1)
    * but its largest intermediate is NA·NB itself — headroom stays
    * √2^63 ≈ 3.0×10⁹ tokens per snapshot NO MATTER θ, instead of
    * shrinking by √θ as the threshold is raised. A θ that does not
    * divide 1000 falls back to the θ-dependent spelling (and its
    * documented √(2^63/θ) envelope). `idiv` is the caller's integer
    * division token ("div" Spark SQL, "//" DuckDB); DriftSpec pins the
    * two spellings equal over adversarial (θ, NA, NB) grids. */
  private[graft] def driftRhs(na: String, nb: String, idiv: String): String =
    if (1000 % driftPermil == 0) s"($na * $nb) $idiv ${1000 / driftPermil}"
    else s"($driftPermil * $na * $nb) $idiv 1000"

  /** Release-over-release token-distribution drift — the data-card
    * monitoring stage a recurring corpus pipeline runs before shipping
    * snapshot N+1: per token, the exact occurrence counts in each
    * snapshot, the new/dropped flags, and a drifted flag on the absolute
    * frequency move. Silent distribution shift (a source changing its
    * crawler, a filter regressing) shows up here before it shows up in
    * model evals.
    *
    * Snapshot stand-in: doc_id parity (a deployment substitutes its two
    * release manifests). All arithmetic is EXACT: counts are integer
    * sums, and the frequency comparison |cA/NA − cB/NB| > θ is the
    * cross-multiplied |cA·NB − cB·NA| > (θ‰·NA·NB) div 1000 on BIGINTs —
    * no division-by-data anywhere (the div-1000 is exact: for
    * non-negative integers A, B, `1000·A > B ⟺ A > B div 1000`, since A
    * is an integer and B div 1000 floors), so engine and oracle can never
    * diverge by a ulp. Multiplying the LHS by 1000 instead would
    * overflow 2^63 at NA≈NB≈9.6×10⁷ tokens. The RHS comes from
    * [[driftRhs]], whose largest term is NA·NB itself, so headroom is
    * √2^63 ≈ 3×10⁹ tokens per snapshot independent of θ; the LHS terms
    * count·N stay within 2^63 under the same bound. Past the envelope
    * the spelling rides decimal(38,0).
    *
    * Scale shape: ONE corpus pass (the shared per-doc token histogram —
    * occurrences never explode, only per-doc DISTINCT tokens), one
    * map-side-combinable (snap, token) aggregate, then vocabulary-width
    * frames: the pivot is |V| rows and the totals broadcast as one row.
    * At 100 TB the only full-width exchange is the histogram aggregate,
    * keyed by token — exactly the wordcount shuffle t10 already prices. */
  val q70 = QueryDef(
    "q70_snapshot_drift",
    (s, d) => {
      // staged: the vocabulary-width per-token pivot is referenced twice
      // (totals + final select)
      staged("q70_p", d) {
        withViews(s, d, "documents")(s"""
          WITH dh AS (SELECT doc_id % 2 AS snap, tok, cnt
                      FROM (SELECT doc_id,
                              explode(space_token_histogram($sNorm)) AS (tok, cnt)
                            FROM documents WHERE length(text) >= 1)),
          tc AS (SELECT snap, tok, CAST(sum(cnt) AS BIGINT) AS c
                 FROM dh GROUP BY snap, tok)
          SELECT tok,
                 CAST(sum(CASE WHEN snap = 0 THEN c ELSE 0 END) AS BIGINT) AS cnt_a,
                 CAST(sum(CASE WHEN snap = 1 THEN c ELSE 0 END) AS BIGINT) AS cnt_b
          FROM tc GROUP BY tok""")
      }.createOrReplaceTempView("q70_p")
      s.sql(s"""
        WITH tot AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS na,
                            CAST(sum(cnt_b) AS BIGINT) AS nb FROM q70_p)
        SELECT tok, cnt_a, cnt_b,
               abs(cnt_a * nb - cnt_b * na) AS imbalance,
               (cnt_a = 0) AS is_new,
               (cnt_b = 0) AS is_dropped,
               (abs(cnt_a * nb - cnt_b * na) > ${driftRhs("na", "nb", "div")})
                 AS is_drifted
        FROM q70_p CROSS JOIN tot""")
    },
    Some(s"""
      WITH toks AS (SELECT doc_id % 2 AS snap, tok FROM (
              SELECT doc_id, unnest(string_split($oNorm, ' ')) AS tok
              FROM documents WHERE length(text) >= 1) WHERE tok <> ''),
      tc AS (SELECT snap, tok, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
      p AS (SELECT tok,
              sum(CASE WHEN snap = 0 THEN c ELSE 0 END)::BIGINT AS cnt_a,
              sum(CASE WHEN snap = 1 THEN c ELSE 0 END)::BIGINT AS cnt_b
            FROM tc GROUP BY tok),
      tot AS (SELECT sum(cnt_a)::BIGINT AS na, sum(cnt_b)::BIGINT AS nb FROM p)
      SELECT tok, cnt_a, cnt_b,
             abs(cnt_a * nb - cnt_b * na) AS imbalance,
             (cnt_a = 0) AS is_new,
             (cnt_b = 0) AS is_dropped,
             (abs(cnt_a * nb - cnt_b * na) > ${driftRhs("na", "nb", "//")})
               AS is_drifted
      FROM p CROSS JOIN tot"""),
    headline = true)

  val all: Seq[QueryDef] =
    Seq(d08, d09, q44, t06, q46, q47, q48, q50, t10, t12, t13, t14, t15, t18,
      q59, q70)
}
