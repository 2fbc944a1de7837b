package graft.ops

import Q._
import SimilarityOps._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Near-duplicate detection over `documents` / `embeddings` — the core
  * dedup stages of a large-scale training-data pipeline:
  *
  *  - d02: MinHash + LSH banding (the 100 TB scale path: candidate pairs
  *    come from equality joins on band keys, never a cross join),
  *  - d03: SimHash 32-bit fingerprints,
  *  - d04: blocked n-gram Jaccard (blocking key = (lang, source)),
  *  - d05: blocked embedding-cosine near-dup (blocking key = label).
  *
  * All hashes are the portable `char_fold` polynomial (codegen'd Catalyst
  * expression on the Spark side, longhand `list_reduce` in DuckDB), so
  * every query is exactly oracle-checkable — both engines produce the SAME
  * candidates, not just similar ones.
  */
object DedupOps {

  /** MinHash banding — bands (b) × rows-per-band (r) = signature size
    * k, shared by engine SQL, oracle SQL and the staged caches. The
    * S-curve P(candidate | jaccard = j) = 1 − (1 − j^r)^b sets dedup
    * recall against cost: more bands (OR-terms) raise recall, more rows
    * per band (AND-terms) suppress random-pair collisions. b=8 × r=2
    * catches j ≥ 0.8 near-dups with P ≥ 0.999 while a j = 0.2 random
    * pair collides with P ≈ 0.3% — candidate load grows with
    * b·(collision rate); SCALE.md records the measured candidates at
    * this setting. */
  private[graft] val minhashBands = 8
  private[graft] val minhashRows = 2
  private[graft] val minhashK = minhashBands * minhashRows

  /** Band `bj`'s key of the signature `sg`, the one engine spelling (d02,
    * q58): unrolled element_at's (r is a load-time constant), NOT a
    * transform(...) lambda. d02's band frame self-joins in the candidate
    * step, and Spark's DeduplicateRelations trips an analyzer bug
    * (UnresolvedException on exprId) when a duplicated relation's plan
    * carries lambda functions — same landmine s04 dodges with
    * localCheckpoint. Unrolled scalar exprs also stay inside whole-stage
    * codegen. */
  private[graft] val bandKey: String = (1 to minhashRows)
    .map(i => s"CAST(element_at(sg, bj*$minhashRows + $i) AS STRING)")
    .mkString("concat_ws(',', ", ", ", ")")

  /** The ONE DuckDB spelling of documents → (doc_id, bj, bkey) LSH band
    * rows (normalize → 3-shingles → 2-hash affine MinHash signature →
    * banding), shared by every oracle that consumes band keys (d02's
    * batch near-dup, q58's streaming bucket registry) so the hash
    * family, seeds, prime, and banding dial cannot drift apart between
    * hand-written copies. */
  private[graft] def oracleBandsCte: String = s"""
      t AS (SELECT doc_id, string_split($oNorm, ' ') AS w FROM documents),
      sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
               i -> array_to_string(w[i:i+2], ' '))) AS sset
             FROM t WHERE len(w) >= 3),
      hh AS (SELECT doc_id, sset,
               list_transform(sset, x -> ${oCharFold("x", 7)}) AS h1,
               list_transform(sset, x -> ${oCharFold("x", 13)}) AS h2
             FROM sh),
      sig AS (SELECT doc_id, list_transform(range(0, $minhashK), i ->
                list_aggregate(list_transform(list_zip(h1, h2),
                  s -> (s[1] * (2*i+1) + s[2] * (2*i+3)) % 4294967311), 'min')) AS sg
              FROM hh),
      bands AS (SELECT doc_id, bj,
                  array_to_string(list_transform(
                    sg[bj*$minhashRows + 1 : bj*$minhashRows + $minhashRows],
                    x -> CAST(x AS VARCHAR)), ',') AS bkey
                FROM sig, (SELECT unnest(range(0, $minhashBands)) AS bj) bx)"""

  /** d02's staged shingle-set frame (doc_id, sset) — the stage that feeds
    * FOUR consumers in d02 alone (two band sides, two verify sides) and
    * now also d25's exact-overlap audit. Materializing it once cut the
    * sf0.1 bench ~8×; at cluster scale these caches are the pipeline's
    * materialized boundaries (checkpoint/exchange reuse). */
  private[graft] def d02Shingles(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val sh = staged("d02_sh", d) {
      withViews(s, d, "documents")("""
        SELECT doc_id, sset FROM
          (SELECT doc_id, shingle_set(text, 3) AS sset FROM documents)
        WHERE size(sset) >= 1""")
    }
    sh.createOrReplaceTempView("d02_sh")
    sh
  }

  /** d02's RAW banding candidate pairs (ida < idb), BEFORE the exact
    * jaccard verify — the frame whose size is LSH's cost dial (every row
    * is one verify-stage set comparison). Shared by d02 (which filters it
    * to true near-dups) and d25 (which audits its precision). */
  private[graft] def d02Candidates(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    staged("d02_cand", d) {
      d02Shingles(s, d)
      val bands = staged("d02_bands", d) {
        s.sql(s"""
          WITH sig AS (SELECT doc_id, minhash_sig(sset, $minhashK) AS sg FROM d02_sh)
          SELECT doc_id, bj, $bandKey AS bkey
          FROM sig LATERAL VIEW explode(sequence(0, ${minhashBands - 1})) x AS bj""")
      }
      import s.implicits._
      bands.as("a")
        .join(bands.as("b"),
          $"a.bj" === $"b.bj" && $"a.bkey" === $"b.bkey" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("ida"), $"b.doc_id".as("idb"))
        .distinct()
    }

  /** Verify-stage spelling dial (`-Dgraft.d02.verify`, read once at load
    * like [[minhashBands]] so the staged frames can never mix spellings
    * within a run). Both spellings produce the IDENTICAL
    * (doc_a, doc_b, n_shared, n_union) frame — exact integer set counts
    * (LshAuditSpec pins row-identity) — they differ only in what the
    * verify stage's exchanges CARRY. Measured at 64× (13.6 M candidates,
    * SCALE.md "Round 14: the d02 verify exchange A/B"):
    *
    *  - `sets` (default): join the candidate pairs to the shingle-SET
    *    frame twice, count overlap with the allocation-free
    *    `intersect_count`. d25 17.7 s. The cost at the box's edge: the
    *    intermediate BETWEEN the two joins carries sa.sset per candidate
    *    row, and at 256× (163 M replica-clique candidates × ~2 KB arrays
    *    ≈ 300 GB of second-join shuffle) that spills past free disk.
    *  - `bcast`: `sets` with the dictionary BROADCAST into both joins —
    *    the array side moves once (corpus-linear), the candidate stream
    *    stays narrow end to end, no array-carrying exchange exists. The
    *    256× leg that survives this box. Requires the (doc_id, sset)
    *    dictionary to fit executor memory, so at true 100 TB the dial
    *    stays `sets` and the exchange spreads over the cluster. */
  private[graft] val d02VerifySpelling =
    sys.props.getOrElse("graft.d02.verify", "sets")

  /** The ONE scored verify frame (doc_a, doc_b, n_shared, n_union) — the
    * exact shingle-overlap counts for every RAW banding candidate —
    * shared by d02 (filters it to jaccard ≥ 0.8 true near-dups) and d25
    * (audits its precision), so a respelling cannot drift the confirmed
    * filter apart from the audit's is_confirmed cross-multiplication.
    * NOT staged: the frame is consumed once per query (d02 filters it,
    * d25 projects it) and the expensive stages underneath
    * ([[d02Shingles]], [[d02Candidates]]) are already shared — staging
    * the scored output was measured at 64× as pure overhead on the
    * verify pass. */
  private[graft] def d02ScoredCandidates(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    d02ScoredWith(s, d, d02VerifySpelling)

  /** [[d02ScoredCandidates]] at an explicit spelling — the A/B seam
    * (LshAuditSpec proves the two spellings row-identical at the gate
    * corpus). `intersect_count`, NOT size(array_intersect(...)): the
    * alias is substituted through d02's filter and d25's derived columns
    * (CollapseProject/PushDownPredicates), so the overlap evaluates 2-3x
    * per row — the count-only expression keeps each evaluation
    * allocation-free (measured: d02 34.4 -> ~22 s at 64x). */
  private[graft] def d02ScoredWith(
      s: org.apache.spark.sql.SparkSession, d: String,
      spelling: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions.expr
    val sh = d02Shingles(s, d)
    val dict = spelling match {
      case "sets" => sh
      case "bcast" => org.apache.spark.sql.functions.broadcast(sh)
      case other =>
        throw new IllegalArgumentException(
          s"graft.d02.verify: unknown spelling '$other' (sets|bcast)")
    }
    d02Candidates(s, d)
      .join(dict.as("sa"), $"ida" === $"sa.doc_id")
      .join(dict.as("sb"), $"idb" === $"sb.doc_id")
      .select($"ida".as("doc_a"), $"idb".as("doc_b"),
        expr("intersect_count(sa.sset, sb.sset)").as("n_shared"),
        expr("CAST(size(sa.sset) AS BIGINT) + CAST(size(sb.sset) AS BIGINT)")
          .as("n_total"))
      .selectExpr("doc_a", "doc_b", "n_shared",
        "n_total - n_shared AS n_union")
  }

  /** The ONE DuckDB spelling of the scored verify frame, shared by d02's
    * and d25's oracles for the same no-drift reason as
    * [[d02ScoredCandidates]]. */
  private[graft] def oracleScoredCte: String = s"""
      $oracleBandsCte,
      cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
               FROM bands a JOIN bands b
                 ON a.bj = b.bj AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      ver AS (SELECT ida, idb,
                CAST(len(list_filter(sa.sset, x -> list_contains(sb.sset, x))) AS BIGINT) AS n_shared,
                CAST(len(sa.sset) + len(sb.sset)
                     - len(list_filter(sa.sset, x -> list_contains(sb.sset, x))) AS BIGINT) AS n_union
              FROM cand JOIN sh sa ON cand.ida = sa.doc_id
                        JOIN sh sb ON cand.idb = sb.doc_id)"""

  /** MinHash signature (k = bands·rows via 2-hash affine family) + LSH
    * banding (see [[minhashBands]]), then exact shingle-Jaccard
    * verification of candidates. Planted near-dups in the test data sit
    * at jaccard ≥ 0.8; the default banding gives ≥ 0.999 recall there. */
  val d02 = QueryDef(
    "d02_minhash_lsh",
    (s, d) => {
      d02ScoredCandidates(s, d)
        .selectExpr("doc_a", "doc_b",
          "CAST(n_shared AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard")
        .where("jaccard >= 0.8")
    },
    Some(s"""
      WITH $oracleScoredCte
      SELECT ida AS doc_a, idb AS doc_b,
             CAST(n_shared AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
      FROM ver
      WHERE CAST(n_shared AS DOUBLE) / CAST(n_union AS DOUBLE) >= 0.8"""),
    headline = true)

  /** d02's verified near-dup pair list, staged (truncated lineage),
    * shared by every composite consumer (d06 propagation, d07 decontam,
    * d15 incremental). Two reasons, both structural:
    *  - the consumers self-join or multi-reference the pairs, and with
    *    the full MinHash plan (staged lambda-bearing subtrees) on both
    *    sides Spark's DeduplicateRelations intermittently fails analysis
    *    (UnresolvedException: invalid call to exprId — dependent on prior
    *    exprId allocation in the session, so it surfaces as
    *    order-sensitive flakiness). A materialized pair list gives the
    *    analyzer a leaf relation instead of two copies of the plan.
    *  - the pair list is the dedup GRAPH — ≪ corpus, the thing d06's
    *    per-round checkpoints already materialize — so truncating round 0
    *    the same way is the scale-consistent shape, not a workaround. */
  private[graft] def d02Pairs(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    staged("d02_pairs", d) { d02.run(s, d).select("doc_a", "doc_b") }

  /** LSH candidate-precision audit — the measurement that prices d02's
    * banding dial: one row per RAW banding candidate with its EXACT
    * shingle overlap, so a deployment can read what fraction of the
    * verify stage's work the S-curve wastes (b=8 × r=2 admits a j=0.2
    * pair with P≈0.3%; at 100 TB the candidate count IS the dedup cost,
    * and this is the frame that says whether to move the dial). The
    * confirmed flag is d02's j ≥ 0.8 bar spelled as an integer
    * cross-multiplication on exact set sizes; jac6 is exact integer
    * division — no doubles anywhere. s04/s14's honest-measurement
    * pattern applied to the dedup family.
    *
    * Scale shape: exactly d02's — the candidate frame is the bounded
    * band-collision set (never all-pairs), and the per-pair set overlap
    * is the same work d02's verify stage already does (array_intersect
    * on two bounded shingle sets), re-emitted as counts instead of
    * being consumed by a filter. */
  val d25 = QueryDef(
    "d25_lsh_precision_audit",
    (s, d) => {
      d02ScoredCandidates(s, d)
        .selectExpr("doc_a", "doc_b", "n_shared", "n_union",
          "(n_shared * 1000000) div n_union AS jac6",
          "n_shared * 10 >= n_union * 8 AS is_confirmed")
    },
    Some(s"""
      WITH $oracleScoredCte
      SELECT ida AS doc_a, idb AS doc_b, n_shared, n_union,
             (n_shared * 1000000) // n_union AS jac6,
             n_shared * 10 >= n_union * 8 AS is_confirmed
      FROM ver"""),
    headline = true)

  /** Cross-source SYNDICATION MATRIX — which sources copy from which:
    * every verified near-dup pair (d02's j ≥ 0.8 list) rolled up by its
    * unordered source pair. The provenance diagnostic a web pipeline
    * reads before weighting sources (CCNet-style): a hot (A,B) cell
    * with A ≠ B is a syndication/mirror relationship (q69 scores it as
    * reputation; this names the raw flow), and a hot (A,A) diagonal is
    * a source that re-publishes itself. Source pairs are normalized
    * with least/greatest so the matrix is one triangle — deterministic
    * in both engines.
    *
    * Scale shape: two metadata equi-joins from the checkpointed pair
    * list to the (doc_id, source) projection, then a |sources|²-bounded
    * aggregate — nothing corpus-scale moves beyond the d02 chain
    * already priced. */
  val q72 = QueryDef(
    "q72_syndication_matrix",
    (s, d) => {
      d02Pairs(s, d).createOrReplaceTempView("q72_pairs")
      // the (doc_id, source) projection joins on BOTH pair sides — stage
      // it once or each side re-scans the corpus (PlanAudit caught it)
      staged("q72_src", d) {
        withViews(s, d, "documents")("SELECT doc_id, source FROM documents")
      }.createOrReplaceTempView("q72_src")
      s.sql("""
        WITH pr AS (SELECT least(a.source, b.source) AS src_lo,
                           greatest(a.source, b.source) AS src_hi
                    FROM q72_pairs p JOIN q72_src a ON p.doc_a = a.doc_id
                                     JOIN q72_src b ON p.doc_b = b.doc_id)
        SELECT src_lo, src_hi,
               CAST(count(*) AS BIGINT) AS n_pairs,
               (src_lo <> src_hi) AS is_cross_source
        FROM pr GROUP BY src_lo, src_hi""")
    },
    Some(s"""
      WITH pairs AS (SELECT doc_a, doc_b FROM (${d02.oracle.get.trim})),
      src AS (SELECT doc_id, source FROM documents),
      pr AS (SELECT least(a.source, b.source) AS src_lo,
                    greatest(a.source, b.source) AS src_hi
             FROM pairs p JOIN src a ON p.doc_a = a.doc_id
                          JOIN src b ON p.doc_b = b.doc_id)
      SELECT src_lo, src_hi,
             CAST(count(*) AS BIGINT) AS n_pairs,
             (src_lo <> src_hi) AS is_cross_source
      FROM pr GROUP BY src_lo, src_hi"""),
    headline = true)

  /** SimHash: 32-bit majority-vote fingerprint over token hashes.
    * Row-wise (no shuffle); hamming-ball grouping composes downstream. */
  val d03 = QueryDef(
    "d03_simhash",
    (s, d) => withViews(s, d, "documents")(
      // native one-pass expression (CorpusFeaturesSpec pins it equal to
      // the lambda chain the oracle runs): the SQL spelling nests a
      // 32-step fold around a per-token fold — 32·n_tokens interpreted
      // closures per doc, measured 7.5 s at 64× vs one JVM pass
      "SELECT doc_id, simhash32(text) AS simhash FROM documents"),
    Some(s"""
      WITH t AS (SELECT doc_id, string_split($oNorm, ' ') AS w FROM documents),
      h AS (SELECT doc_id, list_transform(w, x -> ${oCharFold("x", 7)}) AS hs FROM t)
      SELECT doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(0, 32), j ->
                 CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(hs, h -> CASE WHEN (h >> j) & 1 = 1
                     THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
                   (a, b) -> a + b) > 0
                 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)),
               (a, b) -> a + b) AS simhash
      FROM h"""))

  /** Blocked n-gram (word-bigram) Jaccard. Blocking key = (lang, source);
    * candidate pairs INSIDE a block come from MinHash LSH banding (16
    * bands × 1 row — d02's machinery at the lower 0.3 threshold), never
    * block-local all-pairs: a hot block (lang='en' × a big source) stays
    * linear in block size instead of quadratic. Recall at jaccard=0.3 is
    * 1-(1-j)^16 ≈ 99.7%, and the oracle runs the IDENTICAL deterministic
    * banding longhand, so both engines produce the same candidates —
    * bit-exact, not just statistically similar. */
  val d04 = QueryDef(
    "d04_ngram_jaccard",
    (s, d) => {
      val g = staged("d04_g", d) {
        withViews(s, d, "documents")("""
          SELECT doc_id, lang, source, grams, minhash_sig(grams, 16) AS sg FROM
            (SELECT doc_id, lang, source, shingle_set(text, 2) AS grams
             FROM documents)
          WHERE size(grams) >= 1""")
      }
      g.createOrReplaceTempView("d04_g")
      s.sql("""
        WITH bands AS (SELECT doc_id, lang, source, bj, element_at(sg, bj+1) AS bkey
                       FROM d04_g LATERAL VIEW explode(sequence(0, 15)) x AS bj),
        cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
                 FROM bands a JOIN bands b
                   ON a.lang = b.lang AND a.source = b.source
                  AND a.bj = b.bj AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        ver AS (SELECT ida, idb, jaccard_sim(ga.grams, gb.grams) AS jaccard
                FROM cand JOIN d04_g ga ON cand.ida = ga.doc_id
                          JOIN d04_g gb ON cand.idb = gb.doc_id)
        SELECT ida AS doc_a, idb AS doc_b, jaccard FROM ver WHERE jaccard >= 0.3""")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, lang, source, string_split($oNorm, ' ') AS w FROM documents),
      g AS (SELECT doc_id, lang, source,
              list_distinct(list_transform(range(1, len(w)),
                i -> array_to_string(w[i:i+1], ' '))) AS grams
            FROM t WHERE len(w) >= 2),
      hh AS (SELECT doc_id, lang, source, grams,
               list_transform(grams, x -> ${oCharFold("x", 7)}) AS h1,
               list_transform(grams, x -> ${oCharFold("x", 13)}) AS h2
             FROM g),
      sig AS (SELECT doc_id, lang, source, grams, list_transform(range(0, 16), i ->
                list_aggregate(list_transform(list_zip(h1, h2),
                  s -> (s[1] * (2*i+1) + s[2] * (2*i+3)) % 4294967311), 'min')) AS sg
              FROM hh),
      bands AS (SELECT doc_id, lang, source, bj, sg[bj+1] AS bkey
                FROM sig, (SELECT unnest(range(0, 16)) AS bj) bx),
      cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
               FROM bands a JOIN bands b
                 ON a.lang = b.lang AND a.source = b.source
                AND a.bj = b.bj AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      ver AS (SELECT ida, idb,
                CAST(len(list_filter(ga.grams, x -> list_contains(gb.grams, x))) AS DOUBLE) /
                CAST(len(ga.grams) + len(gb.grams)
                     - len(list_filter(ga.grams, x -> list_contains(gb.grams, x))) AS DOUBLE) AS jaccard
              FROM cand JOIN g ga ON cand.ida = ga.doc_id
                        JOIN g gb ON cand.idb = gb.doc_id)
      SELECT ida AS doc_a, idb AS doc_b, jaccard FROM ver WHERE jaccard >= 0.3"""))

  /** Containment cap: shingles present in more than this many documents
    * are boilerplate — they cannot discriminate one document being quoted
    * inside another, and at corpus scale they are exactly the keys that
    * turn the inverted-index self-join quadratic (a shingle shared by F
    * docs contributes up to F·(F−1) candidate rows). Dropping them bounds
    * every join bucket — m10's stop-landmark rule applied to text. One
    * constant shared by engine SQL, oracle SQL and the staged caches. */
  private[graft] val containCap = 512

  /** d21: ASYMMETRIC containment dedup — "document A is substantially
    * quoted/embedded inside document B". Jaccard (d02/d04) is symmetric:
    * a short doc pasted verbatim into a 10×-longer one has
    * jaccard ≈ |A|/|B| → the near-dup passes never see it, while
    * containment |S(A)∩S(B)|/|S(A)| ≈ 1 there. The training-data use
    * case is quote/aggregator/wrapper detection: the contained side
    * double-counts its content under any token budget, so curation drops
    * it (or down-weights it) even though it is nobody's near-duplicate.
    *
    * DISTINCT-CLASS COLLAPSE FIRST (m10's rule, and the reason this
    * survives a replication-heavy corpus): containment is a property of
    * CONTENT, so docs collapse to exact-dup classes (key = md5 of the
    * normalized text, d01's key) before any shingle work — the verdict
    * frame carries member counts. Without the collapse, K replicas of a
    * quote inside K replicas of its container are K² pair rows each
    * sharing the full shingle set: the first-shipped doc-level spelling
    * OOM'd local[32] at 64× (64-replica classes → 4032 ordered pairs ×
    * ~10² shared shingles per class). Class-level, the pair join is
    * replication-INVARIANT: 64× the corpus, same pair frame.
    *
    * Semantics (deterministic, oracle-shared): 3-word shingle sets on
    * d02's normalization, per distinct content class; vocabulary =
    * shingles with CLASS-frequency ≤ [[containCap]] (boilerplate
    * excluded from BOTH the numerator and the denominator, so a doc made
    * of pure boilerplate is not "contained" in everything; class-freq,
    * not doc-freq, keeps the cap replication-invariant too); emit
    * ordered class pairs with |S(A)| ≥ 5 and containment ≥ 0.9 where A
    * is the strictly smaller side (equal sizes — mutual containment,
    * d01/d02 territory — tie-break by rep id so the pair appears once).
    * Join keys are md5 digests (d19's rule: char_fold's 32 bits would
    * collide at corpus scale and silently inflate intersections; the
    * digest is computed ONCE per (class, shingle) in the checkpointed
    * frame, never per candidate pair). */
  val d21 = QueryDef(
    "d21_containment",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, count => fcount, expr}
      // ONE corpus scan: exact-dup class collapse (min_by keeps one text
      // per class through map-side partial agg — the exchange carries at
      // most |classes|·|partitions| texts, never the corpus), then
      // normalize → distinct 3-shingles → md5, exploded to (rep, h) and
      // staged, so the class-freq aggregate and the self-join below
      // re-read rows, never re-derive the explode
      val g = staged("d21_g", d) {
        withViews(s, d, "documents")(s"""
          WITH cls AS (SELECT min(doc_id) AS rep, count(*) AS members,
                              min_by(text, doc_id) AS rtext
                       FROM documents GROUP BY md5($sNorm)),
          sh AS (SELECT rep, members, shingle_set(rtext, 3) AS sset FROM cls)
          SELECT rep, members, md5(s) AS h
          FROM sh LATERAL VIEW explode(sset) x AS s""")
      }
      // (class, shingle, class-freq) over the capped vocabulary, staged
      // once: feeds the per-class size aggregate AND both self-join sides
      val gk = staged("d21_gk", d) {
        val cf = g.groupBy($"h").agg(fcount("*").as("cf"))
          .where($"cf" <= containCap)
        g.join(cf, Seq("h")).select(col("rep"), col("members"), col("h"), col("cf"))
      }
      val sz = gk.groupBy($"rep", $"members").agg(fcount("*").as("sz"))
      // cf = 1 shingles live in exactly one class — they cannot intersect,
      // so they skip the join entirely (they still count in sz: a class of
      // mostly-unique content must NOT look contained)
      val p = gk.where($"cf" >= 2).as("a")
        .join(gk.where($"cf" >= 2).as("b"),
          $"a.h" === $"b.h" && $"a.rep" =!= $"b.rep")
        .groupBy($"a.rep".as("ida"), $"b.rep".as("idb"))
        .agg(fcount("*").as("shared"))
      p.join(sz.as("sa"), $"ida" === $"sa.rep")
        .join(sz.as("sb"), $"idb" === $"sb.rep")
        .select($"ida".as("contained_rep"), $"idb".as("container_rep"),
          $"sa.members".as("contained_members"),
          $"sb.members".as("container_members"),
          $"shared", $"sa.sz".as("size_contained"),
          $"sb.sz".as("size_container"),
          expr("CAST(shared AS DOUBLE) / CAST(sa.sz AS DOUBLE)")
            .as("containment"))
        .where($"size_contained" >= 5 && $"containment" >= 0.9 &&
          ($"size_contained" < $"size_container" ||
            ($"size_contained" === $"size_container" &&
              $"contained_rep" < $"container_rep")))
    },
    Some(s"""
      WITH cls AS (SELECT min(doc_id) AS rep, count(*) AS members,
                          arg_min(text, doc_id) AS text
                   FROM documents GROUP BY md5($oNorm)),
      t AS (SELECT rep, members, string_split($oNorm, ' ') AS w FROM cls),
      sh AS (SELECT rep, members, list_distinct(list_transform(range(1, len(w)-1),
               i -> array_to_string(w[i:i+2], ' '))) AS sset
             FROM t WHERE len(w) >= 3),
      g AS (SELECT rep, members, md5(s) AS h
            FROM (SELECT rep, members, unnest(sset) AS s FROM sh)),
      k AS (SELECT h, count(*) AS cf FROM g GROUP BY h
            HAVING count(*) <= $containCap),
      gk AS (SELECT g.rep, g.members, g.h, k.cf FROM g JOIN k ON g.h = k.h),
      sz AS (SELECT rep, members, count(*) AS sz FROM gk GROUP BY rep, members),
      p AS (SELECT a.rep AS ida, b.rep AS idb, count(*) AS shared
            FROM gk a JOIN gk b ON a.h = b.h AND a.rep <> b.rep
            WHERE a.cf >= 2
            GROUP BY a.rep, b.rep)
      SELECT ida AS contained_rep, idb AS container_rep,
             sa.members AS contained_members, sb.members AS container_members,
             shared, sa.sz AS size_contained, sb.sz AS size_container,
             CAST(shared AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment
      FROM p JOIN sz sa ON p.ida = sa.rep
             JOIN sz sb ON p.idb = sb.rep
      WHERE sa.sz >= 5
        AND CAST(shared AS DOUBLE) / CAST(sa.sz AS DOUBLE) >= 0.9
        AND (sa.sz < sb.sz OR (sa.sz = sb.sz AND ida < idb))"""))

  /** Embedding-cosine near-dup, blocked by label. Candidates INSIDE a
    * block come from IVF-style coarse quantization (s03's machinery):
    * every vector is assigned to its 3 nearest centroids (deterministic
    * sample `vec_id % 50 = 7`, CAPPED at |C| ≤ 64 by `vec_id < 3200` —
    * the centroid count must NOT scale with N, or the broadcast grows
    * unboundedly and the N×|C| assignment pass turns O(N²); same rule as
    * s05's k-means seeds) and candidate pairs are an equality join on
    * (label, centroid). With fixed |C| the assignment stays one linear
    * broadcast pass; at real scale |C| is a tunable (more centroids =
    * smaller lists) refreshed by the s06 k-means loop, never a function
    * of corpus size. IVF beats hyperplane LSH here: LSH recall collapses
    * at thresholds as low as 0.4 (measured: 2/5 planted pairs vs 5/5 for
    * 3-probe IVF at ~1/3 of the all-pairs candidates). The oracle runs
    * the identical quantizer, so both engines produce the same
    * candidates; dots fold left-to-right → bit-identical doubles. */
  val d05 = QueryDef(
    "d05_embedding_neardup",
    (s, d) => {
      normEmbeddings(s, d).createOrReplaceTempView("d05_n")
      // hashed by vec_id at the session's full shuffle parallelism, so the
      // candidate DISTINCT stays partition-local behind the broadcast
      // self-join and that join runs on every core: AQE would coalesce
      // this metadata-width frame into one task that emits every pair
      // (5.8 M at 16×)
      probeAssign(s, "d05_n", seedCents("d05_n", ivfSeeds), 3, "label, ")
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
          org.apache.spark.sql.functions.col("vec_id"))
        .createOrReplaceTempView("d05_assign")
      s.sql("""
        WITH cand AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
                 FROM d05_assign a JOIN d05_assign b
                   ON a.label = b.label AND a.cluster = b.cluster AND a.vec_id < b.vec_id),
        p AS (SELECT ida, idb,
                dot_product(na.v, nb.v) / (na.nrm * nb.nrm) AS cos
              FROM cand JOIN d05_n na ON cand.ida = na.vec_id
                        JOIN d05_n nb ON cand.idb = nb.vec_id)
        SELECT ida AS vec_a, idb AS vec_b, cos FROM p WHERE cos >= 0.4""")
    },
    Some(sql"""
      ${oCorpus(Seq("label"))},
      ${oLabelAssign(ivfSeeds, "rn <= 3")},
      cand AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
               FROM assign a JOIN assign b
                 ON a.label = b.label AND a.cid = b.cid AND a.vec_id < b.vec_id),
      p AS (SELECT ida, idb,
              ${oDot("na.v", "nb.v")} / (na.nrm * nb.nrm) AS cos
            FROM cand JOIN n na ON cand.ida = na.vec_id
                      JOIN n nb ON cand.idb = nb.vec_id)
      SELECT ida AS vec_a, idb AS vec_b, cos FROM p WHERE cos >= 0.4"""))

  /** DuckDB label-blocked assignment (d05, d16) over [[oCorpus]]`(label)`:
    * centroids `c` from the `seeds` rows and `assign` (vec_id, label,
    * cid), the rows whose rank by cosine DESC, cid passes `rank`. */
  private def oLabelAssign(seeds: String, rank: String): String =
    sql"""c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
         |      WHERE $seeds),
         |sc AS (SELECT t.vec_id, t.label, cid,
         |         row_number() OVER (PARTITION BY t.vec_id
         |                            ORDER BY ${oDot("t.v", "cv")} / (t.nrm * cn) DESC,
         |                                     cid) AS rn
         |       FROM n t CROSS JOIN c),
         |assign AS (SELECT vec_id, label, cid FROM sc WHERE $rank)"""

  /** Semantic-dedup centroid count, shared by engine SQL and oracle
    * SQL. Work per corpus is N·k (assignment, row-wise — see the
    * nearest_centroid note below) + N²/k (within-cell pairs), so k must
    * grow with N to keep cells O(100). Honest caveat from the 64×
    * experiment (128 k vectors, 21.8 s at k=64): unsalted ScaleData
    * replicates vectors VERBATIM, so a larger k adds duplicate centroid
    * VALUES (ties resolve to the first replica) and cells cannot shrink
    * on that synthetic corpus — a larger k needs distinct centroids,
    * i.e. the s06 Lloyd refresh, which is where production k comes
    * from. */
  private[graft] val semCentroids = 64
  private[graft] val semSeedPred =
    s"vec_id % 50 = 7 AND vec_id < ${50L * semCentroids}"

  /** The shared coarse-cluster assignment frame (vec_id, label, cid):
    * d16's row-wise `nearest_centroid` pass over the collected centroid
    * array, memoized under one staged key so d16, s15, and any capstone
    * composing them compute it ONCE per (session, dir). */
  private[graft] def clusterAssign(s: SparkSession, d: String): DataFrame = {
    normEmbeddings(s, d).createOrReplaceTempView("d16_n")
    staged("d16_assign", d) {
      s.sql(s"""SELECT vec_id, label, nc.cid AS cid FROM (${nearestSql(
        "d16_n", seedCents("d16_n", semSeedPred), "t.vec_id, t.label")})""")
    }
  }

  /** Semantic deduplication — the embedding-space analogue of d01's
    * keep-first: k-means-style coarse clusters bound the pairwise work,
    * and within each (label, cluster) cell a vector is PRUNED when a
    * smaller-id vector sits at cosine ≥ 0.3 (the deterministic spelling
    * of "keep one representative per group of semantically near-identical
    * examples" — the curation step that removes paraphrase-level
    * redundancy exact/MinHash dedup cannot see). Output is the full
    * corpus with the keep/prune decision, i.e. what a trainer consumes.
    *
    * 100 TB shape: |C| is a CONFIG ([[semCentroids]] — never a function
    * of N), so assignment is one broadcast pass; the only quadratic term
    * is per-cluster and the centroid count is the dial that bounds it.
    * The prune join ships only (vec_id) pairs — metadata-width. */
  val d16 = QueryDef(
    "d16_semantic_dedup",
    (s, d) => {
      normEmbeddings(s, d).createOrReplaceTempView("d16_n")
      // Assignment is ROW-WISE through the native nearest_centroid
      // expression over the collected centroid array (one broadcast row):
      // the window spelling explodes each vector into k scored rows and
      // shuffles all N·k of them to sort per vector — an exchange that
      // grows with the centroid dial, which is exactly the quantity that
      // must grow with N. One pass, no row explosion, no shuffle;
      // struct-max aggregation was also tried and rejected (a StructType
      // buffer kicks HashAggregate over to SortAggregate — measured
      // SLOWER than the window at 64×). The assignment frame is STAGED:
      // it has three consumers (both pair-join sides + the final output),
      // and as a CTE Spark would inline and re-run the corpus-wide
      // arg-max pass per reference (PlanShapeSpec pins exactly one
      // evaluation); the staged frame is metadata-width (id, label, cid).
      // (spelled without WITH: a staged view whose analyzed plan carries
      // CTE defs breaks InlineCTE / CTE pushdown when referenced three
      // times downstream — the q50 landmine family)
      val assign = clusterAssign(s, d)
      assign.createOrReplaceTempView("d16_assign")
      // no outer WITH: wrapping a view whose analyzed plan carries its own
      // CTE defs (the staged assign build) in another CTE trips the same
      // PushdownPredicatesAndPruneColumnsForCTEDef key-not-found bug q50
      // dodges — an inline subquery plans cleanly
      s.sql("""
        SELECT s.vec_id, s.label, CAST(s.cid AS BIGINT) AS cluster,
               p.vec_id IS NULL AS is_kept
        FROM d16_assign s LEFT JOIN (
          SELECT DISTINCT b.vec_id
          FROM d16_assign a JOIN d16_assign b
            ON a.label = b.label AND a.cid = b.cid AND a.vec_id < b.vec_id
          JOIN d16_n na ON a.vec_id = na.vec_id
          JOIN d16_n nb ON b.vec_id = nb.vec_id
          WHERE dot_product(na.v, nb.v) / (na.nrm * nb.nrm) >= 0.3
        ) p ON s.vec_id = p.vec_id""")
    },
    Some(sql"""
      ${oCorpus(Seq("label"))},
      ${oLabelAssign(semSeedPred, "rn = 1")},
      pruned AS (SELECT DISTINCT b.vec_id
                 FROM assign a JOIN assign b
                   ON a.label = b.label AND a.cid = b.cid
                  AND a.vec_id < b.vec_id
                 JOIN n na ON a.vec_id = na.vec_id
                 JOIN n nb ON b.vec_id = nb.vec_id
                 WHERE ${oDot("na.v", "nb.v")} / (na.nrm * nb.nrm) >= 0.3)
      SELECT s.vec_id, s.label, CAST(s.cid AS BIGINT) AS cluster,
             p.vec_id IS NULL AS is_kept
      FROM assign s LEFT JOIN pruned p ON s.vec_id = p.vec_id"""))

  /** Connected components of a SYMMETRIC edge list (`doc_a`, `doc_b`,
    * both directions present: d06's unioned pairs, d24's and d27's
    * mutual k-NN edges): each `doc_a` labeled with the smallest id
    * reachable through edges, the min-reach fixpoint of the DuckDB
    * recursive-CTE oracles. Partitions are size-derived, about
    * `edgesPerPart` edge rows (~64 MB) each and never more than the
    * input has. One partition solves the whole graph in one task with
    * [[unionMin]]; a bigger graph runs the distributed min-label round
    * loop until no label moves. Callers stage the edge frame (every pass
    * re-reads it) and run under [[Q.withAdvisoryCoalesce]]. The labels
    * come back checkpointed, and nothing else stays persisted.
    * `edgesPerPart` is lowered only by specs, to send small graphs
    * through the round loop. Measured history: SCALE.md "One-task
    * fixpoint". */
  private[graft] def minLabelComponents(
      s: org.apache.spark.sql.SparkSession,
      edges: org.apache.spark.sql.DataFrame,
      edgesPerPart: Long = 4000000L): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val eRdd = edges.select($"doc_a", $"doc_b").as[(Long, Long)].rdd
    // one cheap job over the staged edges, paid once per fixpoint
    val nEdges = eRdd.count()
    val part = new org.apache.spark.HashPartitioner(
      math.max(1, math.min(eRdd.getNumPartitions.toLong,
        (nEdges + edgesPerPart - 1) / edgesPerPart).toInt))
    if (part.numPartitions == 1) {
      // the round loop would run every hop of this graph in one task
      // anyway: run them all there, as one job, on primitive arrays
      val solved = eRdd.coalesce(1).mapPartitions { it =>
        val a = new scala.collection.mutable.ArrayBuilder.ofLong
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        a.sizeHint(nEdges.toInt); b.sizeHint(nEdges.toInt)
        it.foreach { case (x, y) => a += x; b += y }
        val src = a.result()
        val (ids, root) = unionMin(src, src, b.result())
        Iterator.tabulate(ids.length)(j => (ids(j), ids(root(j))))
      }
      roundCheckpoint(solved.toDF("id", "cluster"))
    } else {
      val byDst = eRdd.map(e => (e._2, e._1)).partitionBy(part)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // nodes = distinct doc_a (symmetric edges ⇒ same as distinct doc_b),
      // labeled with themselves; reduceByKey doubles as the distinct and
      // leaves the frame partitioned like byDst
      var cur = byDst.map(p => (p._2, p._2)).reduceByKey(part, (a, _) => a)
        .persist()
      var lastPersisted: org.apache.spark.rdd.RDD[_] = cur
      var changed = 1L
      // one label-propagation hop: min over self and in-neighbors, narrow
      // except for the single metadata-width reduceByKey shuffle
      def hop(labels: org.apache.spark.rdd.RDD[(Long, Long)])
          : org.apache.spark.rdd.RDD[(Long, (Long, Boolean))] = {
        val merged = byDst.join(labels) // narrow: both sides carry `part`
          .map { case (_, (src, lab)) => (src, lab) }
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        labels.leftOuterJoin(merged) // narrow again
          .mapValues { case (old, m) =>
            val nl = m.fold(old)(math.min(old, _)); (nl, nl != old)
          }
      }
      // each round chains `ccUnroll` hops into ONE job; convergence counts
      // the LAST hop's moves, and labels only fall, so a still last hop
      // means the one-hop fixpoint was reached (at up to unroll−1 spare
      // metadata-width hops)
      while (changed > 0) {
        var stepped = cur
        var h = 1
        while (h < ccUnroll) { stepped = hop(stepped).mapValues(_._1); h += 1 }
        // persisted, not checkpointed: it only has to stop recomputation
        val next = hop(stepped)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // one count() materializes the round AND detects convergence —
        // exact under task retries (it reads the persisted result)
        changed = next.filter(_._2._2).count()
        lastPersisted.unpersist(false)
        lastPersisted = next
        cur = next.mapValues(_._1)
      }
      byDst.unpersist(false)
      val labels = roundCheckpoint(cur.toDF("id", "cluster"))
      lastPersisted.unpersist(false)
      labels
    }
  }

  /** Hops chained per materialized round of the distributed fixpoint. */
  private val ccUnroll = 4

  /** The one union-find kernel, shared by [[minLabelComponents]]' one-task
    * path and d28's per-cluster FSM ([[StreamingGate.semDeleteFsm]]): the
    * components of `nodes` under the edges `a(i)`–`b(i)`. Returns the
    * sorted distinct node ids and, slot for slot, the slot of the smallest
    * id in that node's component. Union by min slot with path halving on
    * an `Int` parent array, ids found by binary search; an edge endpoint
    * that is not a node fails loudly. */
  private[graft] def unionMin(nodes: Array[Long], a: Array[Long], b: Array[Long])
      : (Array[Long], Array[Int]) = {
    val sorted = nodes.clone()
    java.util.Arrays.sort(sorted)
    var k = 0
    for (x <- sorted) if (k == 0 || x != sorted(k - 1)) { sorted(k) = x; k += 1 }
    val ids = java.util.Arrays.copyOf(sorted, k)
    def slot(x: Long): Int = {
      val i = java.util.Arrays.binarySearch(ids, x)
      require(i >= 0, s"edge endpoint $x is not a node"); i
    }
    // every link points to a smaller slot (union by min, halving only
    // shortens), so one forward pass at the end resolves every root
    val root = Array.range(0, k)
    @scala.annotation.tailrec def find(x: Int): Int =
      if (root(x) == x) x else { root(x) = root(root(x)); find(root(x)) }
    for (i <- a.indices) {
      val ra = find(slot(a(i))); val rb = find(slot(b(i)))
      if (ra < rb) root(rb) = ra else if (rb < ra) root(ra) = rb
    }
    for (j <- root.indices) root(j) = root(root(j))
    (ids, root)
  }

  /** Dedup clustering: connected components over the MinHash near-dup
    * pair graph — each document labeled with the smallest doc_id reachable
    * through near-dup edges (the canonical "keep one per cluster" step).
    *
    * Spark side: [[minLabelComponents]] min-label propagation.
    * Oracle: DuckDB recursive CTE computing min reachable id — identical
    * fixpoint by definition. */
  val d06 = QueryDef(
    "d06_dedup_clusters",
    (s, d) => {
      import s.implicits._
      val labels = staged("d06_labels", d) { withAdvisoryCoalesce(s) {
        val pairs = d02Pairs(s, d)
        val edges = staged("d06_edges", d) {
          pairs.unionByName(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
        }
        minLabelComponents(s, edges)
      } }
      labels.select($"id".as("doc_id"), $"cluster".as("cluster_id"),
        ($"id" =!= $"cluster").as("is_duplicate"))
    },
    Some(s"""
      WITH RECURSIVE pairs AS (
        ${d02.oracle.get.trim.stripSuffix(";")}
      ),
      edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
      nodes AS (SELECT DISTINCT a AS id FROM edges),
      reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
      )
      SELECT id AS doc_id, min(r) AS cluster_id,
             (id <> min(r)) AS is_duplicate
      FROM reach GROUP BY id"""))

  /** Benchmark decontamination: flag training documents that collide with
    * an "eval set" (here: source = 'src0') either exactly (content digest)
    * or as near-duplicates (MinHash pair with an eval doc). The standard
    * pre-training hygiene step; at scale both paths are equality joins on
    * digests/band keys — the text never moves. */
  val d07 = QueryDef(
    "d07_decontamination",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val docs = withViews(s, d, "documents")(s"""
        SELECT doc_id, source, md5($sNorm) AS fp FROM documents""")
      val evalFps = docs.where($"source" === "src0")
        .select($"fp".as("eval_fp")).distinct()
      val pairs = d02Pairs(s, d)
      val evalIds = docs.where($"source" === "src0").select($"doc_id".as("eid"))
      val nearDupIds = pairs.join(evalIds, $"doc_a" === $"eid")
        .select($"doc_b".as("cid"))
        .unionByName(pairs.join(evalIds, $"doc_b" === $"eid")
          .select($"doc_a".as("cid")))
        .distinct()
      docs.where($"source" =!= "src0")
        .join(evalFps, $"fp" === $"eval_fp", "left")
        .join(nearDupIds, $"doc_id" === $"cid", "left")
        .select($"doc_id",
          $"eval_fp".isNotNull.as("exact_contaminated"),
          $"cid".isNotNull.as("neardup_contaminated"))
    },
    Some(s"""
      WITH fps AS (SELECT doc_id, source, md5($oNorm) AS fp FROM documents),
      eval_fps AS (SELECT DISTINCT fp FROM fps WHERE source = 'src0'),
      pairs AS (${d02.oracle.get.trim}),
      eval_ids AS (SELECT doc_id FROM fps WHERE source = 'src0'),
      near AS (SELECT DISTINCT cid FROM (
        SELECT p.doc_b AS cid FROM pairs p JOIN eval_ids e ON p.doc_a = e.doc_id
        UNION ALL
        SELECT p.doc_a AS cid FROM pairs p JOIN eval_ids e ON p.doc_b = e.doc_id))
      SELECT f.doc_id,
             EXISTS (SELECT 1 FROM eval_fps e WHERE e.fp = f.fp) AS exact_contaminated,
             EXISTS (SELECT 1 FROM near n WHERE n.cid = f.doc_id) AS neardup_contaminated
      FROM fps f WHERE f.source <> 'src0'"""))

  /** d17's eval-set membership + contamination threshold, shared
    * engine↔oracle. The eval set models a held-out benchmark, and a
    * benchmark is bounded in SIZE, not a corpus fraction — a `%`-only
    * predicate would grow linearly with N and silently break the
    * broadcast shape (review catch); the id cap pins |eval| ≤ 128 at
    * ANY corpus size (a real deployment substitutes its benchmark
    * table here — the cap is the stand-in for that boundedness). */
  private[graft] def evalSetPred(col: String): String =
    s"($col % 100 = 7 AND $col < 12800)"
  private[graft] val contamThreshold = "0.3"

  /** SEMANTIC decontamination — the embedding-space complement of d07
    * (exact text match) and d12 (n-gram overlap): flag every corpus
    * vector whose cosine against ANY eval/benchmark vector clears the
    * threshold, reporting the nearest eval item as evidence. Paraphrased
    * benchmark leakage survives both lexical screens; this is the stage
    * that catches it.
    *
    * Scale shape — simpler than d16's bucketed pairwise pass because the
    * problem is asymmetric: the eval set is SIZE-bounded (see
    * [[evalSetPred]]), so it broadcasts WHOLE and the corpus side is ONE
    * row-wise `nearest_centroid` arg-max pass (same native expression as
    * d16/s05/s06) with ZERO shuffles — at 100 TB the corpus never moves,
    * and the eval set is the broadcast. Cosine is emitted floor-scaled
    * (s06's exact-integer spelling); the threshold compare runs on the
    * raw double, bit-identical across engines (left-to-right dot fold,
    * one division). The `nc IS NOT NULL` filter is the empty-eval-set
    * contract: with no eval vectors `nearest_centroid` returns NULL for
    * every row and the oracle's cross join returns nothing — the filter
    * keeps both engines at zero rows instead of diverging (review
    * catch). */
  val d17 = QueryDef(
    "d17_semantic_decontam",
    (s, d) => {
      normEmbeddings(s, d).createOrReplaceTempView("d17_n")
      s.sql(s"""
        SELECT vec_id, label, nc.cid AS eval_id,
               CAST(floor(nc.cos * CAST(1000000 AS DOUBLE)) AS BIGINT) AS cos6,
               nc.cos >= $contamThreshold AS is_contaminated
        FROM (${nearestSql(s"(SELECT * FROM d17_n WHERE NOT ${evalSetPred("vec_id")})",
          seedCents("d17_n", evalSetPred("vec_id")), "t.vec_id, t.label")})
        WHERE nc IS NOT NULL""")
    },
    Some(sql"""
      ${oCorpus(Seq("label"))},
      ev AS (SELECT vec_id AS eid, v AS evv, nrm AS evn FROM n
             WHERE ${evalSetPred("vec_id")}),
      sc AS (SELECT t.vec_id, t.label, eid,
               ${oDot("t.v", "evv")} / (t.nrm * evn) AS cos,
               row_number() OVER (PARTITION BY t.vec_id
                 ORDER BY ${oDot("t.v", "evv")} / (t.nrm * evn) DESC, eid) AS rn
             FROM n t CROSS JOIN ev WHERE NOT ${evalSetPred("t.vec_id")})
      SELECT vec_id, label, eid AS eval_id,
             CAST(floor(cos * 1000000) AS BIGINT) AS cos6,
             cos >= $contamThreshold AS is_contaminated
      FROM sc WHERE rn = 1"""))

  /** k-NN graph out-degree: a retrieval/clustering constant, never a
    * function of N. */
  private[graft] val knnGraphK = 5

  /** The k-NN graph's quantizer, a pure function of corpus size N (the
    * K∝N rule). Corpora with N ≥ 50 000 vectors feed the probe/member
    * frames from a TRAINED quantizer (s06's Lloyd loop via
    * [[SimilarityOps.s06CentsWith]]) at K = max(64, ⌈N / 125⌉) instead of
    * s03's pinned |C| ≤ 64 sample. At fixed |C| the candidate load is
    * N²·P/|C| — quadratic, as the committed 16× curve showed (4× data →
    * 12.8×/16× time); with K∝N the expected cell size N/K = 125 is
    * CONSTANT, so candidates are N·P·E[cell] — linear (measured: 64×
    * salted 35.4 s trained vs 191.7 s fixed, growth 1.8× vs 8.8× per 4×
    * data).
    *
    * Below the threshold the result is None: s03's sampled quantizer.
    * The threshold sits above every gate SF (sf0.1 = 2 000 vectors), so
    * gate rows stay bit-for-bit hash-identical to the DuckDB oracle — the
    * trained path is spec-gated instead (KnnGraphSpec: graph validity +
    * measured recall floor), because an oracle cannot run Lloyd. Below
    * the threshold the fixed path is also the FASTER one (training cost
    * dominates at small N); above it the quadratic candidate load
    * dominates everything — 16× salted (80 k vectors) already crosses
    * (19.9 s trained vs 21.7 s fixed). History: SCALE.md "Round 14:
    * s15/d24 at the trained K∝N quantizer". */
  private[graft] def knnQuantizerFor(n: Long): Option[Int] =
    if (n < 50000L) None
    else Some(math.max(64L, (n + 124L) / 125L).toInt)

  /** Per-dir memoized embeddings row count: s15, d24, d27 and d28 all
    * resolve the quantizer, and the trained path sizes its sample from
    * the same count. Data dirs are immutable within a JVM run — test
    * fixtures and scaled dirs are written before any session touches
    * them. */
  private val embCountMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[graft] def embeddingsCount(s: SparkSession, d: String): Long =
    embCountMemo.computeIfAbsent(d,
      _ => java.lang.Long.valueOf(table(s, d, "embeddings").count())).longValue()

  /** Test-visible diagnostic: which assignment stage the most recent
    * [[s15KnnFrameWith]] invocation CHOSE — `s15_hassign_*` hierarchical
    * two-level, `s15_hassignf_*` hierarchical-trained/flat-assigned (the
    * spec seam), `s15_tassign_*` flat trained, `s03` fixed sampled.
    * KnnGraphSpec asserts that the path it believes it exercises actually
    * ENGAGED, so the two-level equality test cannot pass vacuously through
    * the flat fallback. Diagnostic only — no engine behavior reads it. */
  private[graft] object KnnDiag { @volatile var lastAssignKey: String = "" }

  /** The staged N·k k-NN frame (src, nb, cos, rn) behind s15 and d24's
    * semantic graph, at the quantizer [[knnQuantizerFor]] picks; every
    * consumer self-joins it. Registers the `s15_knn` temp view. */
  private[graft] def s15KnnFrame(s: SparkSession, d: String): DataFrame =
    s15KnnFrameWith(s, d, knnQuantizerFor(embeddingsCount(s, d)))

  /** Hierarchical two-stage Lloyd training — the N^1.5 respelling of the
    * K∝N quantizer. Sampled flat training cuts the two Lloyd passes from
    * N·K to (N/stride)·K folds, but with stride = N/20K that is still
    * (20K)·K — quadratic in K, and under the auto rule K ∝ N. This trains
    * in two stages, both distributed:
    *
    *  1. G ≈ ⌈√K⌉ SUPERCENTROIDS via the existing [[SimilarityOps
    *     .s06CentsWith]] sampled Lloyd (strideG = N/20G — ~20 sample
    *     points per supercell; cost ~20G·G·d = 20K·d per round, trivial).
    *  2. The stride sample (~20K rows) is assigned once to its nearest
    *     supercell (broadcast, row-wise, zero shuffle), then each
    *     supercell trains its OWN sub-centroids on its OWN members —
    *     all supercells in one distributed job per Lloyd round: the
    *     current per-group centroid lists broadcast as G member arrays
    *     (K structs total, ~K·d doubles), each sample row folds only its
    *     group's K/G entries. Per round: (20K)·(K/G)·d ≈ 20K^1.5·d —
    *     the quadratic is gone.
    *
    * Seeds are PROPORTIONAL and deterministic: supercell g with c_g
    * sample members gets max(1, round(K·c_g/Σc)) seeds, chosen as the
    * first quota members in xxhash64(vec_id) order (a deterministic
    * pseudo-random spread through the member list); cid = seed vec_id,
    * globally unique. Sub-cell sizes therefore track data density the
    * same way flat K∝N training does. Mean updates are the exact
    * [[SimilarityOps.meanUpdate]], so training is bit-reproducible across
    * runs (spec-pinned); it is NOT bit-equal to flat training — the
    * trained path is spec-gated, not oracle-gated, and KnnGraphSpec
    * measures its recall.
    *
    * The supercell model is a DISTRIBUTED training output (G rows) and
    * the grouping artifact (gid per cid) falls out of stage 2 — nothing
    * K-sized ever lands on the driver (SCALE.md has the 64× audit
    * against flat training).
    *
    * Returns (supercentroids (gid, gcv), sub-centroids (gid, cid, cv)) —
    * both staged; the second is checkpointed per Lloyd round exactly
    * like s06CentsWith. */
  private[graft] def hierCents(s: SparkSession, d: String, k: Int, stride: Int)
      : (DataFrame, DataFrame) = {
    val g = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val n = embeddingsCount(s, d)
    val strideG = math.max(1L, n / (20L * g)).toInt
    val sup = SimilarityOps
      .s06CentsWith(s, d, g, s"s15_hsup_${k}_g${g}_s$strideG", strideG)
      .selectExpr("cid AS gid", "cv AS gcv")
    val cents = staged(s"s15_hc_${k}_s$stride", d) {
      sup.createOrReplaceTempView("s15_hsup")
      s.sql(s"SELECT vec_id, v, nrm FROM s06_n WHERE vec_id % $stride = 0")
        .createOrReplaceTempView("s15_htrain")
      // one broadcast pass: sample row → nearest supercell. Checkpointed:
      // the seeding window and both Lloyd rounds re-read it.
      val asg = roundCheckpoint(s.sql(s"""
        SELECT vec_id, v, nrm, nc.cid AS gid FROM (${nearestSql("s15_htrain",
          s"SELECT ${centsAgg("gid", "gcv")} AS cents FROM s15_hsup", "t.vec_id, t.v, t.nrm")})"""))
      asg.createOrReplaceTempView("s15_hasg")
      // proportional deterministic seeds (sample-sized window, one
      // sample-row shuffle — ~20K rows at any corpus size)
      var cur = roundCheckpoint(s.sql(s"""
        WITH cnt AS (SELECT gid, count(*) AS c FROM s15_hasg GROUP BY gid),
        tot AS (SELECT sum(c) AS t FROM cnt),
        quota AS (SELECT gid, greatest(CAST(1 AS BIGINT),
                    CAST(round(CAST($k AS DOUBLE) * c / t) AS BIGINT)) AS q
                  FROM cnt CROSS JOIN tot),
        rk AS (SELECT gid, vec_id, v,
                 row_number() OVER (PARTITION BY gid
                   ORDER BY xxhash64(vec_id), vec_id) AS rn
               FROM s15_hasg)
        SELECT rk.gid, rk.vec_id AS cid, rk.v AS cv
        FROM rk JOIN quota ON quota.gid = rk.gid WHERE rk.rn <= quota.q"""))
      for (_ <- 1 to 2) {
        cur.createOrReplaceTempView("s15_hc")
        val next = roundCheckpoint(meanUpdate(s, s"""
          SELECT /*+ BROADCAST(grp) */ t.gid, nearest_centroid(t.v, t.nrm, mem).cid AS cid, t.v
          FROM s15_hasg t JOIN (SELECT gid, ${centsAgg()} AS mem FROM s15_hc GROUP BY gid) grp
            ON grp.gid = t.gid""", keys = "gid, "))
        releaseCheckpointBlocks(cur, blocking = false)
        cur = next
      }
      releaseCheckpointBlocks(asg, blocking = false)
      cur
    }
    (sup, cents)
  }

  /** [[s15KnnFrame]] at an explicit quantizer choice (None = s03's
    * sampled statics; Some(k) = trained centroids at K=k). Both assign
    * through [[SimilarityOps.probeAssign]] and search through
    * [[SimilarityOps.ivfKnn]]; they differ only in where the centroids
    * come from. Staged keys carry the variant so two choices never share
    * a cache. `twoLevelK` and `flatAssign` are test-only seams: specs
    * lower `twoLevelK` to engage the hierarchical path on a gate corpus
    * (or raise it past K for the flat trained path), and `flatAssign`
    * keeps hierarchical training but assigns FLAT over all K
    * sub-centroids — the spec seam that proves two-level assignment
    * exact when top-2 probing covers every group. */
  private[graft] def s15KnnFrameWith(s: SparkSession, d: String,
      trainedK: Option[Int], twoLevelK: Int = 1024,
      flatAssign: Boolean = false): DataFrame = {
    val P = ivfProbes
    val (assignV, nView, stageKey) = trainedK match {
      case None =>
        s03Statics(s, d)
        KnnDiag.lastAssignKey = "s03"
        ("s03_assign", "s03_n", "s15_knn")
      case Some(k) =>
        // Training rides the vec_id%stride SAMPLE (~20 points per
        // expected cell — the two Lloyd passes drop from N·K to (N/6)·K
        // at E[cell]=125). At K ≥ twoLevelK training is hierarchical
        // ([[hierCents]] — G≈√K supercells first, then per-supercell
        // sub-centroids, N^1.5 total, fully distributed) and assignment
        // goes TWO-LEVEL: nearest supercell over the G supercentroids,
        // then nearest centroid within the top-2 probed supercells —
        // per-row cost falls from K·d to ~(G + 2·K/G)·d ≈ 3√K·d (~30× at
        // K=10240), composed ENTIRELY from the existing expressions and
        // two broadcast joins (zero new shuffles). Cell assignment
        // becomes approximate at the supercell level (a vector's true
        // nearest centroid can sit in an unprobed group) — the standard
        // IVF trade, spec-gated like the rest of the trained path;
        // KnnGraphSpec measures it, SCALE.md has the 64× edge overlap.
        val n = embeddingsCount(s, d)
        val stride = math.max(1L, n / (20L * k)).toInt
        val assignKey =
          if (k >= twoLevelK) {
            val (sup, cents) = hierCents(s, d, k, stride)
            val usedG = cents.select("gid").distinct().count()
            if (usedG < 2 || flatAssign) {
              cents.selectExpr("cid", "cv").createOrReplaceTempView("s15_tc")
              s"s15_hassignf_${k}_s$stride"
            } else {
              cents.createOrReplaceTempView("s15_grpraw")
              sup.join(cents.select("gid").distinct(), "gid")
                .selectExpr("gid", "gcv").createOrReplaceTempView("s15_supraw")
              s"s15_hassign_${k}_s$stride"
            }
          } else {
            SimilarityOps.s06CentsWith(s, d, k, s"s15_tc_${k}_s$stride", stride)
              .createOrReplaceTempView("s15_tc")
            s"s15_tassign_${k}_s$stride"
          }
        KnnDiag.lastAssignKey = assignKey
        staged(assignKey, d) {
          if (assignKey.startsWith("s15_hassign_")) s.sql(s"""
              WITH sup AS (SELECT ${centsAgg("gid", "gcv")} AS sups FROM s15_supraw),
              grp AS (SELECT gid, ${centsAgg()} AS mem FROM s15_grpraw GROUP BY gid),
              a AS (SELECT /*+ BROADCAST(sup) */ t.vec_id, t.v, t.nrm,
                      nearest_centroids(t.v, t.nrm, sups, 2) AS gs
                    FROM s06_n t CROSS JOIN sup),
              j AS (SELECT /*+ BROADCAST(m1), BROADCAST(m2) */
                      a.vec_id, a.v, a.nrm, m1.mem AS mem1, m2.mem AS mem2
                    FROM a JOIN grp m1 ON m1.gid = a.gs[0].cid
                           JOIN grp m2 ON m2.gid = a.gs[1].cid),
              sc AS (SELECT vec_id,
                       slice(array_sort(
                         concat(nearest_centroids(v, nrm, mem1, $P),
                                nearest_centroids(v, nrm, mem2, $P)),
                         (l, r) -> CASE
                           WHEN isnan(l.cos) AND NOT isnan(r.cos) THEN -1
                           WHEN isnan(r.cos) AND NOT isnan(l.cos) THEN 1
                           WHEN l.cos > r.cos THEN -1
                           WHEN l.cos < r.cos THEN 1
                           WHEN l.cid < r.cid THEN -1
                           WHEN l.cid > r.cid THEN 1 ELSE 0 END),
                         1, $P) AS nc
                     FROM j)
              SELECT vec_id, pr.col.cid AS cluster,
                     CAST(pr.pos + 1 AS INT) AS rn
              FROM sc LATERAL VIEW posexplode(nc) pr""")
          else probeAssign(s, "s06_n", trainedCents("s15_tc"), P)
        }.createOrReplaceTempView("s15_tassign")
        ("s15_tassign", "s06_n", s"s15_knn@$assignKey")
    }
    val knn = staged(stageKey, d) { ivfKnn(s, assignV, nView, P, knnGraphK) }
    knn.createOrReplaceTempView("s15_knn")
    knn
  }

  /** Approximate k-NN GRAPH construction — the all-nodes adjacency
    * artifact graph-based curation consumes (SemDeDup-style neighborhood
    * analysis, graph dedup, mutual-kNN clustering). s01–s03 answer
    * query-time retrieval for a BOUNDED query set; here EVERY vector gets
    * its top-k neighbors plus a mutuality flag (the reversed edge also
    * ranks top-k — the signal mutual-kNN clustering cuts on).
    *
    * Candidate rule = s03's IVF geometry with every node as a query:
    * lists come from the rn=1 assignment, and each node probes its
    * top-`ivfProbes` clusters (the s03Statics frames are shared leaves,
    * so a pipeline composing s03/s11/s12/s15 builds them once). A
    * first-cut rn=1-only variant (d16's cells) measured recall@5 0.26 on
    * the adversarial testdata embeddings — multi-probe lifts it to 0.63
    * at P=4 (KnnGraphSpec pins the ≥0.55 floor and prints the measured
    * value; the per-node candidate budget is P·E[cell], the classic IVF
    * trade).
    *
    * Scale shape: assignment is one broadcast pass over a config-sized
    * centroid set; candidate pairs are probe-bounded equi-joins on the
    * cluster id (never a cross join); the per-source top-k is a
    * rank-filtered window (WindowGroupLimit partial top-k); the k-NN
    * frame is metadata-width (N·k rows) and staged, since the mutuality
    * readout self-joins it. */
  val s15 = QueryDef(
    "s15_knn_graph",
    (s, d) => {
      s15KnnFrame(s, d)
      s.sql("""
        SELECT k.src AS vec_id, k.nb AS neighbor_id, k.cos, k.rn,
               (m.src IS NOT NULL) AS mutual
        FROM s15_knn k LEFT JOIN s15_knn m
          ON m.src = k.nb AND m.nb = k.src""")
    },
    Some(s15OracleSql("TRUE")),
    headline = true)

  /** The ONE DuckDB spelling of s15's k-NN graph, parameterized by a
    * corpus predicate — `TRUE` is the gate oracle; d27's from-scratch
    * rebuild leg re-runs it over the tombstone survivors (the predicate
    * reaches the centroid CTE too, so the rebuild's quantizer is
    * survivor-only, exactly like the engine's rebuild). The search is
    * [[SimilarityOps.oIvfSearch]], s03's oracle with every vector a query. */
  private[graft] def s15OracleSql(pred: String): String = sql"""
      ${oIvfSearch("src", "nb", corpusPred = pred)},
      k AS (${topK("src", "nb", knnGraphK)})
      SELECT k.src AS vec_id, k.nb AS neighbor_id, k.cos, k.rn,
             (m.src IS NOT NULL) AS mutual
      FROM k LEFT JOIN k m ON m.src = k.nb AND m.nb = k.src"""

  /** Mutual-edge cosine floor for d24's semantic graph. Picked from the
    * measured edge structure on the gate embeddings (sf0.01 mutual-edge
    * cosines span 0.24–0.49, median 0.32): at 0.30 the graph percolates
    * into one giant component (356 of 408 edge-touched nodes — useless as
    * dedup), at 0.40 only 60 nodes survive; 0.35 yields 74 components
    * (max 18 members) — real neighborhood structure, not percolation.
    * A deployment re-measures this dial on its own embedding geometry
    * (it is the SemDeDup ε). */
  private[graft] val semGraphTau = "0.35"

  /** SEMANTIC graph dedup (SemDeDup-shaped): prune every vector that is
    * reachable from a smaller-id vector through MUTUAL k-NN edges with
    * cosine ≥ [[semGraphTau]] — keep one representative per semantic
    * neighborhood. The embedding-space complement of d06 (which clusters
    * LEXICAL near-dups): paraphrases and re-renderings share no shingles
    * but land in the same mutual neighborhood.
    *
    * Composition is the point: candidates are s15's k-NN graph (shared
    * staged frame — a pipeline running s15 then d24 builds it once), the
    * mutuality cut drops hub edges (a hub's one-way fans never both rank
    * top-k), and components come from [[minLabelComponents]] — d06's
    * fixpoint over a different edge semantics.
    *
    * Scale shape: the edge frame is ≤ N·k rows (metadata-width, from the
    * checkpointed k-NN leaf — never a corpus re-scan); propagation rounds
    * are bounded by component diameter, and the τ-cut keeps components
    * neighborhood-sized (the percolation analysis above is exactly the
    * dial that guards the round count at 100 TB). Every vector appears in
    * the output (isolated ⇒ its own cluster, never pruned). */
  val d24 = QueryDef(
    "d24_semantic_graph_dedup",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.coalesce
      s15KnnFrame(s, d)
      val labels = staged("d24_labels", d) { withAdvisoryCoalesce(s) {
        val edges = staged("d24_edges", d) {
          // mutual ⇒ the reversed row exists with the bit-identical cos
          // (the dot fold multiplies the same term pairs in the same
          // order), so the filtered list is already symmetric — and for
          // the same reason the τ cut applies to BOTH join inputs:
          // filtering m pre-join shrinks the mutual join's build side by
          // the τ selectivity without changing a single surviving edge
          // (k.cos = m.cos bit-for-bit on every mutual pair).
          s.sql(s"""
            SELECT k.src AS doc_a, k.nb AS doc_b
            FROM s15_knn k JOIN s15_knn m
              ON m.src = k.nb AND m.nb = k.src
            WHERE k.cos >= $semGraphTau AND m.cos >= $semGraphTau""")
        }
        minLabelComponents(s, edges)
      } }
      // every vec_id, from the staged normalized corpus the k-NN frame
      // already built (no second scan of the embeddings parquet)
      normEmbeddings(s, d).select($"vec_id")
        .join(labels, $"vec_id" === labels("id"), "left")
        .select($"vec_id",
          coalesce($"cluster", $"vec_id").as("sem_cluster_id"),
          ($"cluster".isNotNull && $"cluster" =!= $"vec_id").as("is_pruned"))
    },
    Some(s"""
      WITH RECURSIVE knn AS (
        ${s15.oracle.get.trim}
      ),
      edges AS (SELECT vec_id AS a, neighbor_id AS b FROM knn
                WHERE mutual AND cos >= $semGraphTau),
      nodes AS (SELECT DISTINCT a AS id FROM edges),
      reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
      ),
      lab AS (SELECT id, min(r) AS c FROM reach GROUP BY id)
      SELECT v.vec_id, COALESCE(lab.c, v.vec_id) AS sem_cluster_id,
             (lab.c IS NOT NULL AND lab.c <> v.vec_id) AS is_pruned
      FROM embeddings v LEFT JOIN lab ON lab.id = v.vec_id"""),
    headline = true)

  /** The one tombstone rule: a row whose `id` passes is a deletion
    * request. It stands in for a day's deletion feed in d22, d23, d27,
    * d28 and q68, on doc or vector ids (swap the predicate for a real
    * feed and nothing else moves). */
  private[graft] def tombPred(id: String): String = s"$id % 13 = 4"

  /** From-scratch survivor k-NN graph — d27's PROOF leg: s15's exact
    * pipeline re-run over the tombstone survivors, survivor-only
    * quantizer included (the predicate reaches the centroid selection,
    * so the rebuild is what a fresh index build would produce). Gate
    * economics only: the repair path never builds this; `matches_full`
    * is the audit column that prices delta-vs-rebuild divergence. */
  private[graft] def s15SurvivorKnn(s: SparkSession, d: String): DataFrame = {
    s03Statics(s, d)
    staged("d27_rknn", d) {
      s.sql(s"SELECT vec_id, v, nrm FROM s03_n WHERE NOT (${tombPred("vec_id")})")
        .createOrReplaceTempView("d27_sn")
      probeAssign(s, "d27_sn", seedCents("d27_sn", ivfSeeds), ivfProbes)
        .createOrReplaceTempView("d27_sassign")
      ivfKnn(s, "d27_sassign", "d27_sn", ivfProbes, knnGraphK)
    }
  }

  /** d27 — deletion propagation through the SEMANTIC artifacts: d22/d23
    * repair d06/d13's lexical artifacts, but a
    * forgotten document previously SURVIVED as a stored neighbor/
    * representative in s15's k-NN graph and d24's semantic clusters.
    * Same delta-bound pattern, different edge semantics: tombstones →
    * affected neighborhoods (stored clusters that lost a member) →
    * re-elect representatives among survivors over the stored mutual
    * τ-edge subgraph. Untouched clusters keep their stored rows
    * byte-for-byte BY CONSTRUCTION (the repair never recomputes them —
    * the output scopes to affected clusters only, and the planted spec
    * pins their absence); clusters whose every member is deleted emit a
    * vanish row (canonical −1, d23's convention).
    *
    * The honest part (q67/d22's proof obligation): a deletion can do
    * MORE than shrink a cluster — removing a node frees top-k slots, so
    * a from-scratch rebuild's k-NN graph may contain edges the stored
    * graph never had, and the delta repair cannot see them by scope
    * (the standard production split: tombstone + re-elect now,
    * re-index on cadence — exactly d22's membership caveat, one level
    * deeper). `matches_full` is therefore COMPUTED per surviving member
    * against a genuine from-scratch rebuild (survivor-only corpus AND
    * survivor-only quantizer, [[s15SurvivorKnn]]), never asserted: the
    * gate hash prices how often the shortcut diverges.
    *
    * Scale shape: tombstones and the affected-cluster set are
    * request-batch-sized; the delta relabel runs [[minLabelComponents]]
    * over ONLY the affected clusters' surviving stored edges (≤ the
    * affected neighborhoods' N·k rows — metadata-width, never a corpus
    * or vector pass); the stored graph and labels are the checkpointed
    * leaves s15/d24 already maintain. The rebuild leg is gate-only. */
  val d27 = QueryDef(
    "d27_semantic_delete_propagation",
    (s, d) => {
      s15KnnFrame(s, d)
      staged("d27_lab", d) { d24.run(s, d) }.createOrReplaceTempView("d27_lab")
      staged("d27_mem", d) {
        s.sql(s"""
          WITH tomb AS (SELECT vec_id FROM d27_lab WHERE ${tombPred("vec_id")}),
          aff AS (SELECT DISTINCT l.sem_cluster_id AS oc
                  FROM d27_lab l JOIN tomb t ON l.vec_id = t.vec_id)
          SELECT l.vec_id, l.sem_cluster_id AS oc, (${tombPred("l.vec_id")}) AS is_tomb
          FROM d27_lab l JOIN aff a ON l.sem_cluster_id = a.oc""")
      }.createOrReplaceTempView("d27_mem")
      // delta edges: stored mutual τ-edges with BOTH endpoints surviving —
      // components are cluster-contained, so affected-cluster membership
      // of one endpoint implies the edge lives inside an affected cluster
      val sedges = staged("d27_sedges", d) {
        s.sql(s"""
          SELECT k.src AS doc_a, k.nb AS doc_b
          FROM s15_knn k
          JOIN s15_knn m ON m.src = k.nb AND m.nb = k.src
          JOIN d27_mem a ON k.src = a.vec_id AND NOT a.is_tomb
          JOIN d27_mem b ON k.nb = b.vec_id AND NOT b.is_tomb
          WHERE k.cos >= $semGraphTau AND m.cos >= $semGraphTau""")
      }
      withAdvisoryCoalesce(s) { minLabelComponents(s, sedges) }
        .createOrReplaceTempView("d27_dlab")
      // proof leg: genuine from-scratch rebuild over the survivors
      s15SurvivorKnn(s, d).createOrReplaceTempView("d27_rknn")
      val redges = staged("d27_redges", d) {
        s.sql(s"""
          SELECT k.src AS doc_a, k.nb AS doc_b
          FROM d27_rknn k JOIN d27_rknn m ON m.src = k.nb AND m.nb = k.src
          WHERE k.cos >= $semGraphTau AND m.cos >= $semGraphTau""")
      }
      withAdvisoryCoalesce(s) { minLabelComponents(s, redges) }
        .createOrReplaceTempView("d27_rlab")
      s.sql("""
        WITH surv AS (SELECT vec_id, oc FROM d27_mem WHERE NOT is_tomb),
        repaired AS (SELECT s.oc AS old_cluster, s.vec_id,
                       coalesce(dl.cluster, s.vec_id) AS new_cluster,
                       coalesce(rl.cluster, s.vec_id) AS rebuild_cluster
                     FROM surv s
                     LEFT JOIN d27_dlab dl ON dl.id = s.vec_id
                     LEFT JOIN d27_rlab rl ON rl.id = s.vec_id)
        SELECT old_cluster, vec_id, new_cluster,
               (new_cluster <> vec_id) AS is_pruned_new,
               (new_cluster = rebuild_cluster) AS matches_full
        FROM repaired
        UNION ALL
        SELECT a.oc AS old_cluster, CAST(-1 AS BIGINT) AS vec_id,
               CAST(-1 AS BIGINT) AS new_cluster,
               false AS is_pruned_new, true AS matches_full
        FROM (SELECT DISTINCT oc FROM d27_mem) a
        LEFT JOIN (SELECT DISTINCT oc FROM d27_mem WHERE NOT is_tomb) sv
          ON a.oc = sv.oc
        WHERE sv.oc IS NULL""")
    },
    Some(s"""
      WITH RECURSIVE
      lab AS (${d24.oracle.get.trim}),
      knn AS (${s15OracleSql("TRUE").trim}),
      rknn AS (${s15OracleSql(s"NOT (${tombPred("vec_id")})").trim}),
      tomb AS (SELECT vec_id FROM embeddings WHERE ${tombPred("vec_id")}),
      aff AS (SELECT DISTINCT l.sem_cluster_id AS oc
              FROM lab l JOIN tomb t ON l.vec_id = t.vec_id),
      mem AS (SELECT l.vec_id, l.sem_cluster_id AS oc,
                (${tombPred("l.vec_id")}) AS is_tomb
              FROM lab l JOIN aff a ON l.sem_cluster_id = a.oc),
      surv AS (SELECT vec_id, oc FROM mem WHERE NOT is_tomb),
      sedges AS (SELECT k.vec_id AS a, k.neighbor_id AS b
                 FROM knn k
                 JOIN surv sa ON k.vec_id = sa.vec_id
                 JOIN surv sb ON k.neighbor_id = sb.vec_id
                 WHERE k.mutual AND k.cos >= $semGraphTau),
      dnodes AS (SELECT DISTINCT a AS id FROM sedges),
      dreach(id, r) AS (
        SELECT id, id FROM dnodes
        UNION
        SELECT e.a, dreach.r FROM sedges e JOIN dreach ON e.b = dreach.id),
      dlab AS (SELECT id, min(r) AS c FROM dreach GROUP BY id),
      redges AS (SELECT vec_id AS a, neighbor_id AS b FROM rknn
                 WHERE mutual AND cos >= $semGraphTau),
      rnodes AS (SELECT DISTINCT a AS id FROM redges),
      rreach(id, r) AS (
        SELECT id, id FROM rnodes
        UNION
        SELECT e.a, rreach.r FROM redges e JOIN rreach ON e.b = rreach.id),
      rlab AS (SELECT id, min(r) AS c FROM rreach GROUP BY id),
      repaired AS (SELECT s.oc AS old_cluster, s.vec_id,
                     COALESCE(dl.c, s.vec_id) AS new_cluster,
                     COALESCE(rl.c, s.vec_id) AS rebuild_cluster
                   FROM surv s
                   LEFT JOIN dlab dl ON dl.id = s.vec_id
                   LEFT JOIN rlab rl ON rl.id = s.vec_id)
      SELECT old_cluster, vec_id, new_cluster,
             (new_cluster <> vec_id) AS is_pruned_new,
             (new_cluster = rebuild_cluster) AS matches_full
      FROM repaired
      UNION ALL
      SELECT a.oc AS old_cluster, CAST(-1 AS BIGINT) AS vec_id,
             CAST(-1 AS BIGINT) AS new_cluster,
             false AS is_pruned_new, true AS matches_full
      FROM (SELECT DISTINCT oc FROM mem) a
      LEFT JOIN (SELECT DISTINCT oc FROM surv) sv ON a.oc = sv.oc
      WHERE sv.oc IS NULL"""))

  val all: Seq[QueryDef] =
    Seq(d02, d25, q72, d03, d04, d05, d06, d07, d16, d17, d21, s15, d24, d27)
}
