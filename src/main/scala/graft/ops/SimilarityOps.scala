package graft.ops

import Q._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Search, quantization and clustering over the `embeddings` table:
  *
  *  - exact and approximate k-NN: s01 brute force, s02 multi-table LSH,
  *    s03 IVF on a sampled quantizer, s17 IVF on a trained one, s16
  *    filtered k-NN, s04 the LSH recall audit;
  *  - k-means: s05 one Lloyd update, s06 the full loop, s12 incremental
  *    IVF maintenance, s13/s14 coreset selection and its recall audit;
  *  - compression: s07/s08 int8 codes, s09 random projection, s10 PQ.
  *
  * The IVF vocabulary is written once per dialect and shared with
  * [[DedupOps]] (d05, d16, d17, s15, d24, d27): on the engine side
  * [[probeAssign]] (row-wise top-P centroids), [[ivfKnn]] (probes ×
  * members → top-k) and the [[centsAgg]] broadcast row; on the DuckDB
  * side [[oCorpus]], [[oDot]]/[[oL2]], [[oRanked]] and [[oIvfSearch]];
  * [[rankCte]]/[[topK]] are plain SQL in both. Every oracle is built from
  * the DuckDB helpers, never derived from the engine SQL, and dots fold
  * left to right on both engines, so results are exact-checkable.
  */
object SimilarityOps {

  /** Multi-table LSH dials (the d02-banding idea applied to KNN): L
    * independent hyperplane tables of `lshPlanes` planes each; a vector
    * lands in one bucket PER TABLE, and a query probes its own bucket
    * plus the Hamming-1 neighbors in EVERY table, unioning candidates.
    *
    * Recall: with per-plane collision probability p (p = 1 − θ/π under
    * random hyperplanes; p ≥ 0.5 for positive-cosine neighbors, which is
    * the regime that matters here), a table catches a neighbor with
    * P₁ = p^k + k·p^(k−1)(1−p) and L tables catch it with 1 − (1−P₁)^L —
    * the OR over independent tables is the recall multiplier banding
    * gives d02.
    *
    * The dials were chosen by measurement, not the formula: the testdata
    * embeddings are an ADVERSARIAL regime for hyperplane LSH — true
    * top-5 neighbors sit at cos ≈ 0.27–0.45, i.e. p ≈ 0.59–0.65 against
    * a 0.5 random-pair background, so candidate sets must be large at
    * any useful recall (e2LSH exponent ρ = ln p₁ / ln p₂ ≈ 0.71). The
    * measured frontier over (k, L, probe) on the real embeddings
    * (grid-searched at sf0.01 AND sf0.1; query-directed probing was
    * dominated by plain Hamming-1 everywhere at these distances):
    *
    *   k=8 L=4  H1: recall@5 0.48, candidates ≈ 15% of corpus
    *   k=8 L=8  H1: recall@5 0.60, 24%
    *   k=8 L=14 H1: recall@5 0.68 (min 0.60/query; 0.77 at sf0.1), 35%
    *   k=9 L=16 H1: recall@5 0.64, 25% — more index for less recall
    *
    * k=8/L=14 is the shipped point: the ≥0.6-mean bar with per-query
    * margin at both scales. SimilaritySpec asserts the recall floor and
    * pins the candidate budget so a dial change that silently regresses
    * either becomes a build failure. On easier (higher-cosine) corpora
    * the same dials give far better budget — both are exposed precisely
    * so a deployment can trade on its own data. */
  private[graft] val lshPlanes = 8
  private[graft] val lshTables = 14

  /** Fixed evaluation query set: every 100th vec_id, capped at 25 queries.
    * The cap matters at scale: a bare modulus keeps |Q| proportional to
    * the corpus, which silently turns every ANN pass into |Q|·cand ∝ N²
    * work — the query workload must be a benchmark constant, not a
    * function of corpus size. The cap does not bind at the gate/bench SFs
    * (all vec_ids < 2500 there), same trick as the s05 centroid cap. */
  private[graft] val qSet = "vec_id % 100 = 0 AND vec_id < 2500"

  /** Pseudo-random hyperplane component c(gp, j) for GLOBAL plane id gp
    * (= tbl·lshPlanes + p, so every table draws distinct planes), dim j:
    * Knuth-hash of (gp*64+j) → [-1.000, 1.000] in 0.001 steps. Exact
    * integer arithmetic + one division by 1000.0 on both engines. */
  private def plane(gp: String) =
    s"(CAST(((($gp)*64 + j) * 2654435761) % 4294967296 % 2001 AS BIGINT) - 1000) / 1000.0"
  private val planeS = plane(s"tbl*$lshPlanes + p") // identical in both dialects

  /** Shared candidate-generation CTE chain (query probes → unioned,
    * deduped candidate id pairs) over the `s02_n`/`s02_idx` views. Shared
    * with SimilaritySpec so the committed budget measurement can never
    * drift from what s02 actually executes. */
  private[graft] def candCte: String = s"""
        q AS (SELECT vec_id AS query_id FROM s02_n WHERE $qSet),
        qi AS (SELECT /*+ BROADCAST(q) */ i.vec_id AS query_id, i.tbl, i.bkt
               FROM s02_idx i JOIN q ON i.vec_id = q.query_id),
        pr AS (SELECT query_id, tbl, pb
               FROM qi LATERAL VIEW explode(concat(array(bkt),
                 transform(sequence(0, ${lshPlanes - 1}),
                   p -> bkt ^ shiftleft(CAST(1 AS BIGINT), p)))) x AS pb),
        cand AS (SELECT /*+ BROADCAST(pr) */ DISTINCT query_id, i.vec_id AS neighbor_id
                 FROM pr JOIN s02_idx i ON i.tbl = pr.tbl AND i.bkt = pr.pb
                 WHERE i.vec_id <> query_id)"""

  /** Normalized double vectors with L2 norms and labels
    * (vec_id, label, v, nrm), staged ONCE per data dir and read by every
    * embedding query under its own view name (s01–s06, s12–s16, d05,
    * d16, d17, d24 through [[s03Statics]]), so a run that composes several
    * of them checkpoints the corpus once. */
  private[graft] def normEmbeddings(s: org.apache.spark.sql.SparkSession, d: String) =
    staged("emb_n", d) {
      withViews(s, d, "embeddings")("""
        WITH e AS (SELECT vec_id, label,
                     transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings)
        SELECT vec_id, label, v, sqrt(dot_product(v, v)) AS nrm FROM e""")
    }

  /** The sampled IVF quantizer's seeds: `vec_id % 50 = 7`, capped at
    * |C| ≤ 64 by `vec_id < 3200`. K must not scale with N, or the
    * broadcast grows without bound and the N×|C| assignment turns O(N²);
    * at real scale the centroids come from the s06 loop at a K chosen for
    * list size. s03, s11, s12, s15, d05 and d27's rebuild quantize with it. */
  private[graft] val ivfSeeds = "vec_id % 50 = 7 AND vec_id < 3200"

  /** k-means seeds: every 125th vec_id, capped at K = `k` (s05, s06, s13,
    * s17 at the pinned K = 64; the k-NN graph's trained quantizer at K∝N). */
  private[graft] def kmSeeds(k: Long = 64): String =
    s"vec_id % 125 = 0 AND vec_id < ${125L * k}"

  /** The centroid table as ONE broadcast value: the `collect_list` of
    * (cid, cv, cn) structs that `nearest_centroid(s)` reads. `cn` defaults
    * to the L2 norm of `cv`. */
  private[graft] def centsAgg(cid: String = "cid", cv: String = "cv", cn: String = ""): String =
    s"collect_list(named_struct('cid', $cid, 'cv', $cv, 'cn', " +
      s"${if (cn.isEmpty) s"sqrt(dot_product($cv, $cv))" else cn}))"

  /** One-row `cents` relation over the seed rows `pred` of a normalized
    * corpus view. */
  private[graft] def seedCents(view: String, pred: String): String =
    s"SELECT ${centsAgg("vec_id", "v", "nrm")} AS cents FROM $view WHERE $pred"

  /** One-row `cents` relation over a trained centroid view (cid, cv). */
  private[graft] def trainedCents(view: String): String =
    s"SELECT ${centsAgg()} AS cents FROM $view"

  /** The corpus rows (`cols` of `corpus` aliased `t`) with `nc`, the
    * nearest centroid of the one-row `cents` relation as struct(cid, cos):
    * one broadcast pass over the scan, no row explosion, no shuffle. */
  private[graft] def nearestSql(corpus: String, cents: String, cols: String = "t.vec_id"): String =
    s"""SELECT /*+ BROADCAST(cs) */ $cols, nearest_centroid(t.v, t.nrm, cs.cents) AS nc
        FROM $corpus t CROSS JOIN ($cents) cs"""

  /** The one probe assignment: every vector of `corpus` (vec_id, v, nrm,
    * …) against its top-`p` centroids of the one-row `cents` relation, as
    * rows (vec_id, carry…, cluster, rn INT), rn = 1 the nearest.
    * `nearest_centroids` selects exactly the rows of `row_number() OVER
    * (PARTITION BY vec_id ORDER BY cos DESC, cid) <= p` (NearestCentroidSpec)
    * without exploding N·K scored rows through a per-vec_id exchange.
    * `carry` lists extra corpus columns, each followed by ", ". */
  private[graft] def probeAssign(s: SparkSession, corpus: String, cents: String, p: Int,
      carry: String = ""): DataFrame =
    s.sql(s"""
      SELECT vec_id, ${carry}pr.col.cid AS cluster, CAST(pr.pos + 1 AS INT) AS rn
      FROM (SELECT /*+ BROADCAST(cs) */ t.*, nearest_centroids(t.v, t.nrm, cs.cents, $p) AS nc
            FROM $corpus t CROSS JOIN ($cents) cs) a
      LATERAL VIEW posexplode(nc) pr""")

  /** The one IVF k-NN search over an assignment view `assign` (vec_id,
    * cluster, rn) and its corpus view (vec_id, v, nrm): every source
    * passing `qPred` probes its rn ≤ `p` clusters, whose members are the
    * rn = 1 rows, and keeps its top `k` by cosine as (src, nb, cos, rn
    * BIGINT). Probes and members carry (v, nrm) into the cluster
    * equi-join and the cosine projects in its output. (src, nb) pairs are
    * unique by construction (one rn = 1 row per member, distinct clusters
    * per source), so there is no candidate DISTINCT and no re-join to
    * score: that spelling was killed unfinished after 20 minutes at 64×
    * (~10⁹-row distinct plus two vector-carrying re-joins). The sources
    * come from the views `qAssign` and `qCorpus`, by default `assign` and
    * `corpus` themselves; s11 passes a micro-batch's own. */
  private[graft] def ivfKnn(s: SparkSession, assign: String, corpus: String, p: Int,
      k: Int, qPred: String = "TRUE", qAssign: Option[String] = None,
      qCorpus: Option[String] = None): DataFrame =
    s.sql(sql"""
      WITH qp AS (SELECT a.vec_id AS src, a.cluster, n.v AS qv, n.nrm AS qn
                  FROM ${qAssign.getOrElse(assign)} a
                  JOIN ${qCorpus.getOrElse(corpus)} n ON n.vec_id = a.vec_id
                  WHERE a.rn <= $p AND ${qPred.replace("vec_id", "a.vec_id")}),
      mem AS (SELECT a.vec_id AS nb, a.cluster, n.v, n.nrm
              FROM $assign a JOIN $corpus n ON n.vec_id = a.vec_id
              WHERE a.rn = 1),
      sc AS (SELECT src, nb, dot_product(qv, v) / (qn * nrm) AS cos
             FROM qp JOIN mem ON mem.cluster = qp.cluster
             WHERE nb <> src),
      ${rankCte("src", "nb")}
      ${topK("src", "nb", k)}""")

  /** The top-k rank CTE `r` over the rows of `sc`: `row_number` per `q`
    * by `score` DESC, then `nb`. Plain SQL, the same text in both
    * dialects; `carry` lists extra columns, each followed by ", ". */
  private[graft] def rankCte(q: String, nb: String, score: String = "cos",
      carry: String = ""): String =
    sql"""r AS (SELECT $q, $nb, $carry$score,
         |        row_number() OVER (PARTITION BY $q
         |                           ORDER BY $score DESC, $nb) AS rn
         |      FROM sc)"""

  /** The top-`k` rows of [[rankCte]], rn as BIGINT. */
  private[graft] def topK(q: String, nb: String, k: Int, score: String = "cos",
      carry: String = ""): String =
    sql"""SELECT $q, $nb, $carry$score, CAST(rn AS BIGINT) AS rn
         |FROM r WHERE rn <= $k"""

  /** DuckDB dot product of two double lists: the same left fold as
    * `dot_product`, so cosines are bit-identical across engines. */
  private[graft] def oDot(a: String, b: String, zero: String = "CAST(0 AS DOUBLE)"): String =
    sql"""list_reduce(list_prepend($zero,
         |  list_transform(list_zip($a, $b), s -> s[1] * s[2])),
         |  (acc, z) -> acc + z)"""

  /** DuckDB L2 norm of a double list: `sqrt(dot_product(v, v))`'s fold. */
  private[graft] def oL2(v: String): String =
    sql"""sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform($v, x -> x * x)), (a, b) -> a + b))"""

  /** The head of every embedding oracle: `WITH` the double vectors `e` of
    * the embeddings passing `pred` (all when empty) and the corpus `n`
    * (vec_id, carry…, v, nrm). `carry` items are select expressions over
    * `embeddings`; `n` keeps their names. */
  private[graft] def oCorpus(carry: Seq[String] = Nil, pred: String = ""): String = {
    val ec = carry.map(_ + ", ").mkString
    val nc = carry.map(_.split(" AS ").last + ", ").mkString
    val where = if (pred.isEmpty) "" else s" WHERE $pred"
    sql"""WITH e AS (SELECT vec_id, ${ec}list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings$where),
         |n AS (SELECT vec_id, ${nc}v,
         |        ${oL2("v")} AS nrm
         |      FROM e)"""
  }

  /** DuckDB ranking of every corpus vector against the seed quantizer
    * `seeds`: centroids `c`, all (vector, centroid) cosines `sc0`, and
    * `ranked` (vec_id, carry…, cluster[, cos], rn) by cos DESC, cid. */
  private[graft] def oRanked(seeds: String, carry: Seq[String] = Nil,
      cos: Boolean = false): String = {
    val kept = carry.map(_ + ", ").mkString
    sql"""c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
         |      WHERE $seeds),
         |sc0 AS (SELECT t.vec_id, ${carry.map(c => s"t.$c, ").mkString}cid,
         |          ${oDot("t.v", "cv")} / (t.nrm * cn) AS cos
         |        FROM n t CROSS JOIN c),
         |ranked AS (SELECT vec_id, ${kept}cid AS cluster,${if (cos) " cos," else ""}
         |             row_number() OVER (PARTITION BY vec_id
         |                                ORDER BY cos DESC, cid) AS rn
         |           FROM sc0)"""
  }

  /** The one DuckDB IVF k-NN search (s03, s11, s15, d24, d27): the seed
    * quantizer over the embeddings passing `corpusPred`; every source
    * passing `qPred` (a prefix ending in "AND ") probes its
    * top-[[ivfProbes]] clusters' members and its candidates are ranked in
    * [[rankCte]] `r` as (`q`, `nb`, cos). */
  private[graft] def oIvfSearch(q: String, nb: String, corpusPred: String = "",
      qPred: String = ""): String =
    sql"""${oCorpus(pred = corpusPred)},
         |${oRanked(ivfSeeds)},
         |members AS (SELECT vec_id, cluster FROM ranked WHERE rn = 1),
         |probes AS (SELECT vec_id AS $q, cluster FROM ranked
         |           WHERE ${qPred}rn <= $ivfProbes),
         |cand AS (SELECT DISTINCT p.$q, m.vec_id AS $nb
         |         FROM probes p JOIN members m ON m.cluster = p.cluster
         |         WHERE m.vec_id <> p.$q),
         |sc AS (SELECT $q, $nb,
         |         ${oDot("q.v", "t.v")} / (q.nrm * t.nrm) AS cos
         |       FROM cand JOIN n q ON q.vec_id = $q
         |                 JOIN n t ON t.vec_id = $nb),
         |${rankCte(q, nb)}"""

  val s01 = QueryDef(
    "s01_knn_bruteforce",
    (s, d) => {
      // Normalized vectors materialize once (consumed by the query side
      // and the corpus side); the tiny query side broadcasts, so the scan
      // over the corpus stays a single parallel pass — linear in N.
      normEmbeddings(s, d).createOrReplaceTempView("s01_n")
      s.sql(sql"""
        WITH q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM s01_n
              WHERE $qSet),
        sc AS (SELECT /*+ BROADCAST(q) */ query_id, t.vec_id AS neighbor_id,
                 dot_product(qv, t.v) / (qn * t.nrm) AS cos
               FROM q JOIN s01_n t ON t.vec_id <> query_id),
        ${rankCte("query_id", "neighbor_id")}
        ${topK("query_id", "neighbor_id", 5)}""")
    },
    Some(sql"""
      ${oCorpus()},
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
            WHERE $qSet),
      sc AS (SELECT query_id, t.vec_id AS neighbor_id,
               ${oDot("qv", "t.v")} / (qn * t.nrm) AS cos
             FROM q JOIN n t ON t.vec_id <> query_id),
      ${rankCte("query_id", "neighbor_id")}
      ${topK("query_id", "neighbor_id", 5)}"""),
    headline = true)

  /** Multi-table LSH KNN. The index is METADATA-WIDTH — (vec_id, tbl,
    * bkt), L rows per vector, never the vectors — i.e. the L hash tables
    * of classic multi-table LSH carried as ~24 bytes/row. Candidates are
    * unioned across tables and DEDUPED (DISTINCT on the id pair) before
    * any vector is touched, so the exact-rerank cost is per unique
    * candidate, not per (table, probe) hit. Vector lookups then ride two
    * broadcast joins: the |Q|-row query-vector frame, and the bounded
    * candidate frame (|Q| is a benchmark constant — see [[qSet]] — so
    * |cand| ≤ |Q|·E[bucket] is bounded too); the corpus table never
    * shuffles. At a scale where a deployment lets |Q| grow past broadcast
    * range, drop the hints and both degrade to co-partitioned hash joins
    * on vec_id. */
  val s02 = QueryDef(
    "s02_knn_lsh",
    (s, d) => {
      normEmbeddings(s, d).createOrReplaceTempView("s02_n")
      val idx = staged("s02_idx", d) {
        s.sql(s"""
          SELECT vec_id, tbl,
                 aggregate(sequence(0, ${lshPlanes - 1}), CAST(0 AS BIGINT), (acc, p) ->
                   acc + CASE WHEN aggregate(sequence(0, 63), CAST(0 AS DOUBLE),
                     (a, j) -> a + element_at(v, j+1) * $planeS) >= 0
                   THEN shiftleft(CAST(1 AS BIGINT), p) ELSE CAST(0 AS BIGINT) END) AS bkt
          FROM s02_n LATERAL VIEW explode(sequence(0, ${lshTables - 1})) x AS tbl""")
      }
      idx.createOrReplaceTempView("s02_idx")
      s.sql(sql"""
        WITH $candCte,
        qv AS (SELECT vec_id, v, nrm FROM s02_n WHERE $qSet),
        sc0 AS (SELECT /*+ BROADCAST(qv) */ query_id, neighbor_id,
                  qv.v AS qvv, qv.nrm AS qvn
                FROM cand JOIN qv ON qv.vec_id = cand.query_id),
        sc AS (SELECT /*+ BROADCAST(sc0) */ query_id, neighbor_id,
                 dot_product(qvv, t.v) / (qvn * t.nrm) AS cos
               FROM sc0 JOIN s02_n t ON t.vec_id = sc0.neighbor_id),
        ${rankCte("query_id", "neighbor_id")}
        ${topK("query_id", "neighbor_id", 5)}""")
    },
    Some(sql"""
      ${oCorpus()},
      idx AS (SELECT vec_id, tbl,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(0, $lshPlanes), p ->
                    CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(0, 64), j -> v[j+1] * $planeS)),
                      (a, b) -> a + b) >= 0
                    THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)),
                  (a, b) -> a + b) AS bkt
              FROM n CROSS JOIN (SELECT unnest(range(0, $lshTables)) AS tbl) tables),
      q AS (SELECT vec_id AS query_id FROM n WHERE $qSet),
      qi AS (SELECT i.vec_id AS query_id, i.tbl, i.bkt
             FROM idx i JOIN q ON i.vec_id = q.query_id),
      pr AS (SELECT query_id, tbl,
               unnest(list_concat([bkt], list_transform(range(0, $lshPlanes),
                 p -> xor(bkt, CAST(1 AS BIGINT) << p)))) AS pb
             FROM qi),
      cand AS (SELECT DISTINCT pr.query_id, i.vec_id AS neighbor_id
               FROM pr JOIN idx i ON i.tbl = pr.tbl AND i.bkt = pr.pb
               WHERE i.vec_id <> pr.query_id),
      sc AS (SELECT cand.query_id, cand.neighbor_id,
               ${oDot("q2.v", "t.v")} / (q2.nrm * t.nrm) AS cos
             FROM cand JOIN n q2 ON q2.vec_id = cand.query_id
                       JOIN n t ON t.vec_id = cand.neighbor_id),
      ${rankCte("query_id", "neighbor_id")}
      ${topK("query_id", "neighbor_id", 5)}"""))

  /** IVF probe count: queries search their `ivfProbes` nearest
    * centroids' inverted lists. Measured recall@5 vs
    * the s01 ground truth on the real (adversarial — see [[lshPlanes]])
    * embeddings, via the oracle spelling (bit-identical math):
    *
    *   sf0.01 (|C|=10): p=2 0.44 @ 20% of corpus; p=3 0.52 @ 30%;
    *                    p=4 0.68 @ 40%; p=6 0.80 @ 61%
    *   sf0.1  (|C|=64): p=2 0.19 @ 5%;  p=4 0.30 @ 10%; p=6 0.45 @ 15%
    *
    * p=4 is the shipped setting: it clears the 0.55-mean bar at the gate
    * SF with budget under half the corpus. The sf0.1 column is the honest
    * finding this table exists for: on near-random vectors a coarse
    * quantizer barely separates neighbors from background, so IVF's
    * recall-per-candidate is DOMINATED by the multi-table LSH (s02: 0.77
    * @ 35% at sf0.1) — pick s02 on corpora like this, s03 where real
    * cluster structure exists (IVF recall rises steeply with structure).
    * SimilaritySpec pins the sf0.01 frontier so a probe-count or
    * quantizer change that silently regresses it fails the build. */
  private[graft] val ivfProbes = 4

  /** Register s03's static IVF structures as temp views (`s03_n`
    * normalized corpus, `s03_assign` (vec_id, cluster, rn) probe ranking
    * over the [[ivfSeeds]] quantizer) — shared by the batch gate row, the
    * s11 streaming twin and s15's fixed-quantizer k-NN graph. */
  private[graft] def s03Statics(s: SparkSession, d: String): Unit = {
    normEmbeddings(s, d).createOrReplaceTempView("s03_n")
    staged("s03_assign", d) {
      probeAssign(s, "s03_n", seedCents("s03_n", ivfSeeds), ivfProbes)
    }.createOrReplaceTempView("s03_assign")
  }

  /** IVF-flavored ANN: the coarse quantizer is the sampled [[ivfSeeds]]
    * set; every vector is assigned to its top-[[ivfProbes]] centroids in
    * one row-wise broadcast pass ([[probeAssign]]), its inverted list is
    * its nearest one, and queries search their probed lists
    * ([[ivfKnn]]) — the classic IVF trade of recall for a bounded
    * candidate set. The oracle ([[oIvfSearch]]) replicates the same
    * quantizer and probe count, so results stay exact-checkable. */
  val s03 = QueryDef(
    "s03_knn_ivf",
    (s, d) => {
      s03Statics(s, d)
      ivfKnn(s, "s03_assign", "s03_n", ivfProbes, 5, qSet)
        .toDF("query_id", "neighbor_id", "cos", "rn")
    },
    Some(sql"""
      ${oIvfSearch("query_id", "neighbor_id", qPred = s"$qSet AND ")}
      ${topK("query_id", "neighbor_id", 5)}"""))

  /** ANN index evaluation: recall@5 of the LSH index (s02) against the
    * brute-force ground truth (s01), per query — the measurement an ANN
    * deployment must ship with (an index without a recall number is a
    * guess). Composes the two verified plans; the join touches only the
    * |Q|·k result rows (tiny — broadcast at any corpus scale), so the cost
    * is the two underlying searches, not the comparison. n_hit is an exact
    * integer; recall is one IEEE division by an exact constant. */
  val s04 = QueryDef(
    "s04_ann_recall",
    (s, d) => {
      // Both searches share the staged normalized-vector checkpoint (by
      // design — one copy of the corpus), which makes this comparison a self-join
      // over the same relations; Spark's DeduplicateRelations trips an
      // analyzer bug (UnresolvedException: invalid call to exprId) on that
      // shape. Each result is only |Q|·k rows, so an eager checkpoint
      // truncates the shared lineage for free — and is the honest shape
      // anyway: the eval join must compare MATERIALIZED search results,
      // never re-derive the searches inside its own plan.
      roundCheckpoint(s01.run(s, d)).createOrReplaceTempView("s04_bf")
      roundCheckpoint(s02.run(s, d)).createOrReplaceTempView("s04_lsh")
      s.sql("""
        SELECT b.query_id,
               CAST(count(l.neighbor_id) AS BIGINT) AS n_hit,
               CAST(count(l.neighbor_id) AS DOUBLE) / CAST(5 AS DOUBLE) AS recall_at_5
        FROM s04_bf b LEFT JOIN s04_lsh l
          ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
        GROUP BY b.query_id""")
    },
    Some(s"""
      SELECT b.query_id,
             CAST(count(l.neighbor_id) AS BIGINT) AS n_hit,
             CAST(count(l.neighbor_id) AS DOUBLE) / CAST(5 AS DOUBLE) AS recall_at_5
      FROM (${s01.oracle.get}) b LEFT JOIN (${s02.oracle.get}) l
        ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
      GROUP BY b.query_id"""))

  /** One distributed Lloyd (k-means) iteration over the embeddings — the
    * topic-balancing primitive: deterministic centroid seeds (every 125th
    * vec_id, CAPPED at K=64 — k-means K must not scale with N or the
    * N·K assignment pass turns quadratic; the 64× scale run caught
    * exactly that at 24 s before the cap), cosine assignment against the
    * BROADCAST centroid set, then
    * the centroid update as per-(cluster, dim) means. Output is one row
    * per (cluster, dimension) — no array columns, so the gate hashes it
    * directly. Bit-exact: dot products are fixed left folds; per-dim
    * component sums are EXACT INTEGERS — each component is floored to
    * 12 decimal places via one IEEE multiply (decimal(28,12) casts are
    * NOT portable here: Spark casts a double through its shortest string
    * form, DuckDB rounds the exact binary value, and at 12 fractional
    * digits they disagree ~1e-5 of the time) — and each mean is ONE IEEE
    * division by (count · 10^12).
    * Scale shape: K centroids broadcast (K ≪ N); the only shuffles carry
    * (cluster, dim, partial sums) — the vectors themselves never move. */
  val s05 = QueryDef(
    "s05_kmeans_update",
    (s, d) => {
      normEmbeddings(s, d).createOrReplaceTempView("s05_n")
      kmeansReport(s, "s05_n", seedCents("s05_n", kmSeeds()))
    },
    Some(sql"""
      ${oCorpus()},
      cF AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
             WHERE ${kmSeeds()}),
      $oReport"""))

  /** A component floored to 12 decimals as an exact integer, and the mean
    * of such integers `xi` as ONE IEEE division: the k-means arithmetic of
    * [[s05]], shared by the report and the Lloyd update. */
  private def scaled12(x: String) = s"CAST(floor($x * CAST(1000000000000 AS DOUBLE)) AS BIGINT)"
  private val mean12 = "CAST(sum(xi) AS DOUBLE) / CAST(count(*) * 1000000000000 AS DOUBLE)"

  /** The k-means report of s05 and s06: every vector of `corpus` assigned
    * to its nearest centroid of the one-row `cents` relation through the
    * row-wise `nearest_centroid` (the cross-join + window spelling
    * shipped every vector K times through a per-vec_id exchange), then
    * one row per (cluster, dim): mean component, member count and
    * floor-scaled mean cosine. ONE corpus pass: the per-cluster stats come
    * out of the same (cid, dim) aggregation as the means, cos carried
    * through the explode, because a separate per-cid aggregate would
    * re-reference the assignment and Spark inlines CTEs per reference
    * (PlanShapeSpec pins one evaluation). Only (cluster, dim) integer
    * partials move. */
  private def kmeansReport(s: SparkSession, corpus: String, cents: String): DataFrame =
    s.sql(s"""
      WITH a AS (${nearestSql(corpus, cents, "t.v")}),
      e AS (SELECT nc.cid AS cid, dim,
              CAST(floor(nc.cos * CAST(1000000 AS DOUBLE)) AS BIGINT) AS ci,
              ${scaled12("xv")} AS xi
            FROM a LATERAL VIEW posexplode(v) t AS dim, xv)
      SELECT cid AS cluster_id, CAST(dim AS BIGINT) AS dim,
             $mean12 AS mean_component,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(sum(ci) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE) AS mean_cos
      FROM e GROUP BY cid, dim""")

  /** The DuckDB k-means report against the centroid CTE `cF` (cid, cv,
    * cn): arg-max assignment (ties to the smaller cid), per-cluster count
    * and mean cosine, per-(cluster, dim) mean component. */
  private def oReport: String =
    sql"""scF AS (SELECT t.vec_id, t.v, c.cid,
         |          ${oDot("c.cv", "t.v")} / (c.cn * t.nrm) AS cos
         |        FROM n t CROSS JOIN cF c),
         |aF AS (SELECT vec_id, v, cid, cos,
         |         row_number() OVER (PARTITION BY vec_id
         |           ORDER BY cos DESC, cid) AS rk
         |       FROM scF),
         |asgF AS (SELECT vec_id, v, cid, cos FROM aF WHERE rk = 1),
         |gF AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
         |         CAST(sum(CAST(floor(cos * CAST(1000000 AS DOUBLE)) AS BIGINT))
         |                AS DOUBLE)
         |           / CAST(count(*) * 1000000 AS DOUBLE) AS mean_cos
         |       FROM asgF GROUP BY cid),
         |ixF AS (SELECT cid, v, unnest(range(len(v))) AS dim FROM asgF),
         |eF AS (SELECT cid, dim,
         |         CAST(floor(v[dim + 1] * CAST(1000000000000 AS DOUBLE)) AS BIGINT) AS xi
         |       FROM ixF),
         |mF AS (SELECT cid, CAST(dim AS BIGINT) AS dim,
         |         CAST(sum(xi) AS DOUBLE)
         |           / CAST(count(*) * 1000000000000 AS DOUBLE) AS mean_component
         |       FROM eF GROUP BY cid, dim)
         |SELECT mF.cid AS cluster_id, mF.dim, mF.mean_component,
         |       gF.n_members, gF.mean_cos
         |FROM mF JOIN gF ON mF.cid = gF.cid"""

  /** One Lloyd round in the oracle dialect: centroid table `c$r`
    * (cid, cv) → `c${r+1}`. Exactly the s05 update arithmetic: cosine
    * argmax assignment (ties → smaller cid), per-(cluster, dim) means of
    * 12-decimal-floored components, arrays reassembled in dim order. */
  private def oRound(r: Int): String =
    sql"""cn$r AS (SELECT cid, cv,
         |           ${oL2("cv")} AS cn
         |         FROM c$r),
         |sc$r AS (SELECT t.vec_id, t.v, c.cid,
         |           row_number() OVER (PARTITION BY t.vec_id
         |             ORDER BY ${oDot("c.cv", "t.v")} / (c.cn * t.nrm) DESC, c.cid) AS rk
         |         FROM n t CROSS JOIN cn$r c),
         |asg$r AS (SELECT vec_id, v, cid FROM sc$r WHERE rk = 1),
         |ix$r AS (SELECT cid, v, unnest(range(len(v))) AS dim FROM asg$r),
         |e$r AS (SELECT cid, dim,
         |          CAST(floor(v[dim + 1] * CAST(1000000000000 AS DOUBLE)) AS BIGINT) AS xi
         |        FROM ix$r),
         |m$r AS (SELECT cid, dim,
         |          CAST(sum(xi) AS DOUBLE)
         |            / CAST(count(*) * 1000000000000 AS DOUBLE) AS mc
         |        FROM e$r GROUP BY cid, dim),
         |c${r + 1} AS (SELECT cid, list(mc ORDER BY dim) AS cv FROM m$r GROUP BY cid)"""

  /** DuckDB k-means training as s06 runs it: seeds `c1`, [[lloydRounds]]
    * unrolled [[oRound]]s, and the trained centroids with their norms as
    * `name` (cid, cv, cn). */
  private def oTrained(name: String): String =
    sql"""c1 AS (SELECT vec_id AS cid, v AS cv FROM n
         |       WHERE ${kmSeeds()}),
         |${(1 to lloydRounds).map(oRound).mkString(",\n")},
         |$name AS (SELECT cid, cv,
         |            ${oL2("cv")} AS cn
         |          FROM c${lloydRounds + 1})"""

  /** The exact Lloyd mean update, shared by [[s06CentsWith]]'s rounds and
    * [[DedupOps.hierCents]]' per-supercell rounds: `assigned` rows
    * (keys…, cid, v) → one centroid (keys…, cid, cv) per group, every
    * mean the s05 arithmetic, the array reassembled in dim order
    * (`sort_array` of (dim, mc) structs: dim is unique per group, so the
    * struct sort IS the dim sort). `keys` end in ", ". */
  private[graft] def meanUpdate(s: SparkSession, assigned: String, keys: String = ""): DataFrame =
    s.sql(s"""
      WITH e AS (SELECT ${keys}cid, CAST(dim AS BIGINT) AS dim, ${scaled12("xv")} AS xi
                 FROM ($assigned) a LATERAL VIEW posexplode(v) t AS dim, xv),
      m AS (SELECT ${keys}cid, dim, $mean12 AS mc FROM e GROUP BY ${keys}cid, dim)
      SELECT ${keys}cid, transform(sort_array(collect_list(struct(dim, mc))), x -> x.mc) AS cv
      FROM m GROUP BY ${keys}cid""")

  /** Lloyd iterations per training run. The count is FIXED, not
    * convergence-driven: the DuckDB oracle runs the identical unrolled
    * computation, which keeps the engines hash-comparable. */
  private val lloydRounds = 2

  /** s06's trained centroid frame (cid, cv), staged so the s06 gate row
    * and s17's trained-quantizer search share ONE training run (the
    * model-artifact seam: in deployment this frame is written once and
    * read by every index build). Registers the `s06_n` view. */
  private[graft] def s06Cents(s: SparkSession, d: String): DataFrame =
    s06CentsWith(s, d, 64, "s06_cents")

  /** [[s06Cents]] at an explicit centroid budget `k`: the gate rows train
    * at the pinned K = 64; the k-NN graph's quantizer
    * ([[DedupOps.knnQuantizerFor]]) trains at K∝N, so E[cell] = N/K stays
    * constant as the corpus grows. Seeds stay the deterministic
    * [[kmSeeds]] ladder, so training is oracle-reproducible at any K.
    * `trainStride` (default 1: every gate path bit-identical) runs the
    * update passes over the `vec_id % stride = 0` sample: centroid
    * quality needs tens of points per cell, not the corpus, and at
    * E[cell] = 125 a stride of 6 keeps ~20 per cell for 6× cheaper
    * passes. Each round checkpoints (lineage truncation, as d06's
    * fixpoint does); the final frame is a leaf, safe to self-join. */
  private[graft] def s06CentsWith(s: SparkSession, d: String, k: Int,
      stageKey: String, trainStride: Int = 1): DataFrame = {
    normEmbeddings(s, d).createOrReplaceTempView("s06_n")
    val trainView =
      if (trainStride <= 1) "s06_n"
      else {
        s.sql(s"SELECT * FROM s06_n WHERE vec_id % $trainStride = 0")
          .createOrReplaceTempView("s06_train")
        "s06_train"
      }
    staged(stageKey, d) {
      var cents = s.sql(s"SELECT vec_id AS cid, v AS cv FROM s06_n WHERE ${kmSeeds(k)}")
      withAdvisoryCoalesce(s) {
        for (_ <- 1 to lloydRounds) {
          cents.createOrReplaceTempView("s06_c")
          val assigned = nearestSql(trainView, trainedCents("s06_c"), "t.v")
          val next = roundCheckpoint(
            meanUpdate(s, s"SELECT nc.cid AS cid, v FROM ($assigned)"))
          releaseCheckpointBlocks(cents, blocking = false)
          cents = next
        }
      }
      cents
    }
  }

  /** Full distributed k-means: [[lloydRounds]] Lloyd iterations of the
    * s05 update from the capped K = 64 seeds ([[s06Cents]]), then the s05
    * report against the trained centroids, so the output schema and
    * exactness story are s05's. Per round: one broadcast assignment pass
    * over N and one metadata-width (cluster, dim) shuffle. */
  val s06 = QueryDef(
    "s06_kmeans_lloyd",
    (s, d) => {
      s06Cents(s, d).createOrReplaceTempView("s06_c")
      kmeansReport(s, "s06_n", trainedCents("s06_c"))
    },
    Some(sql"""
      ${oCorpus()},
      ${oTrained("cF")},
      $oReport"""))

  /** Shared quantized-vector frame (vec_id, v, scale, qv) — one spelling
    * for s07 (the audit) and s08 (retrieval over the codes), so the two
    * can never quantize differently. */
  private[graft] val sQuantCtes = """
      e0 AS (SELECT vec_id,
                    transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                  FROM embeddings),
      m AS (SELECT vec_id, v,
              array_max(transform(v, x -> abs(x))) / CAST(127 AS DOUBLE)
                AS scale
            FROM e0),
      q AS (SELECT vec_id, v, scale,
              CASE WHEN scale > CAST(0 AS DOUBLE) THEN
                transform(v, x -> greatest(CAST(-127 AS BIGINT),
                  least(CAST(127 AS BIGINT),
                    CAST(floor(x / scale + CAST(0.5 AS DOUBLE)) AS BIGINT))))
              ELSE transform(v, x -> CAST(0 AS BIGINT)) END AS qv
            FROM m)"""

  private val oQuantCtes = """
      e0 AS (SELECT vec_id,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                  FROM embeddings),
      m AS (SELECT vec_id, v,
              list_max(list_transform(v, x -> abs(x))) / CAST(127 AS DOUBLE)
                AS scale
            FROM e0),
      q AS (SELECT vec_id, v, scale,
              CASE WHEN scale > CAST(0 AS DOUBLE) THEN
                list_transform(v, x -> greatest(CAST(-127 AS BIGINT),
                  least(CAST(127 AS BIGINT),
                    CAST(floor(x / scale + 0.5) AS BIGINT))))
              ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qv
            FROM m)"""

  /** s07: per-vector symmetric int8 quantization — the storage half of a
    * 100 TB embedding pipeline (4× smaller than float32, 8× smaller than
    * the double working form; IVF/PQ stacks start exactly here). Each
    * vector gets `scale = max|x|/127`, codes `q_i = clamp(round(x_i /
    * scale))`, and the output audits the codes: reconstruction error
    * (max + mean of |x_i − q_i·scale|) and an order-weighted integer
    * checksum of the codes themselves, so the oracle verifies the actual
    * quantization, not just summary stats.
    *
    * Scale shape: perfectly row-wise — higher-order array functions only
    * (transform/zip_with/aggregate), no explode, no aggregation, ZERO
    * shuffles (pinned in PlanShapeSpec). Bit-exact: scale is one IEEE
    * division; codes are floor(x/scale + 0.5) — identical IEEE ops in
    * both engines; error sums ride long-scaled integers with one final
    * division, the house numeric discipline. */
  val s07 = QueryDef(
    "s07_embedding_quantize",
    (s, d) => withViews(s, d, "embeddings")(s"""
      WITH $sQuantCtes,
      e AS (SELECT vec_id, scale, qv,
              zip_with(v, qv,
                (x, c) -> abs(x - CAST(c AS DOUBLE) * scale)) AS err
            FROM q)
      SELECT vec_id, scale,
             array_max(err) AS max_abs_err,
             CAST(aggregate(transform(err, x ->
                    CAST(floor(x * CAST(1000000000000 AS DOUBLE)) AS BIGINT)),
                  CAST(0 AS BIGINT), (a, b) -> a + b) AS DOUBLE)
               / CAST(size(err) * 1000000000000L AS DOUBLE) AS mean_abs_err,
             aggregate(zip_with(qv,
                 sequence(CAST(1 AS BIGINT), CAST(size(qv) AS BIGINT)),
                 (c, i) -> c * i),
               CAST(0 AS BIGINT), (a, b) -> a + b) AS q_checksum
      FROM e"""),
    Some(s"""
      WITH $oQuantCtes,
      e AS (SELECT vec_id, scale, qv,
              list_transform(list_zip(v, qv),
                s -> abs(s[1] - CAST(s[2] AS DOUBLE) * scale)) AS err
            FROM q)
      SELECT vec_id, scale,
             list_max(err) AS max_abs_err,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(err, x ->
                      CAST(floor(x * CAST(1000000000000 AS DOUBLE)) AS BIGINT))),
                  (a, b) -> a + b) AS DOUBLE)
               / CAST(len(err) * 1000000000000 AS DOUBLE) AS mean_abs_err,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, len(qv) + 1),
                 i -> qv[i] * CAST(i AS BIGINT))),
               (a, b) -> a + b) AS q_checksum
      FROM e"""))

  /** s08: brute-force KNN over the int8 CODES — proof the 4×-smaller
    * index searches as well as the floats. Scores are exact integer dot
    * products of code arrays (cast to double: |Σ c·c| ≤ 127²·64 ≈ 10⁶,
    * far inside exact-double range), normalized by the code norms —
    * per-vector scales cancel in the cosine, so the search touches ONLY
    * codes. Each result row carries `in_exact_top5` against the s01
    * float ground truth: the quantization's recall is IN the output, not
    * asserted in prose (measured: 25/25 at sf0.01, 98/100 at sf0.1 —
    * recall@5 = 0.98; SimilaritySpec pins the floor).
    *
    * Scale shape: same as s01 — |Q| broadcast, one linear pass over the
    * code frame (64 B/vector of codes vs 512 B of doubles: the pass is
    * 8× lighter on memory bandwidth, which IS the production win), the
    * corpus never shuffles. The code frame is STAGED — in production the
    * codes are the stored index (quantize once, search many); inline, the
    * quantization chain would run twice (query side + corpus side). */
  val s08 = QueryDef(
    "s08_knn_quantized",
    (s, d) => {
      roundCheckpoint(s01.run(s, d)).createOrReplaceTempView("s08_bf")
      // the code index: ONE fused pass per vector (int8_quantize native
      // expression — the SQL spelling is 5 interpreted array walks; the
      // two are pinned bit-identical in QuantizeSpec). No qd > 0 filter
      // in the build: a filter over the derived column trips the
      // pushdown landmine (predicate re-derives the chain per row) — the
      // search side filters the staged long instead.
      staged("s08_qz", d) {
        withViews(s, d, "embeddings")("""
          SELECT vec_id, q.qv AS qv, q.qd AS qd
          FROM (SELECT vec_id, int8_quantize(embedding) AS q
                FROM embeddings)""")
      }.createOrReplaceTempView("s08_n")
      // Scores are exact integer dots cast once to double — bit-identical to the
      // oracle's double-accumulated fold (all values ≪ 2^53).
      s.sql(s"""
        SELECT r.query_id, r.neighbor_id, r.qcos, CAST(r.rn AS BIGINT) AS rn,
               b.neighbor_id IS NOT NULL AS in_exact_top5
        FROM (
          SELECT query_id, neighbor_id, qcos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY qcos DESC, neighbor_id) AS rn
          FROM (SELECT /*+ BROADCAST(qs) */ query_id,
                       t.vec_id AS neighbor_id,
                       CAST(int8_dot(qw, t.qv) AS DOUBLE)
                         / sqrt(CAST(qqd * t.qd AS DOUBLE)) AS qcos
                FROM (SELECT vec_id AS query_id, qv AS qw, qd AS qqd
                      FROM s08_n WHERE ($qSet) AND qd > 0) qs
                JOIN s08_n t ON t.vec_id <> query_id AND t.qd > 0)
        ) r LEFT JOIN s08_bf b
          ON b.query_id = r.query_id AND b.neighbor_id = r.neighbor_id
        WHERE r.rn <= 5""")
    },
    Some(sql"""
      WITH $oQuantCtes,
      z AS (SELECT vec_id,
              list_transform(qv, c -> CAST(c AS DOUBLE)) AS w FROM q),
      n0 AS (SELECT vec_id, w,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(w, x -> x * x)), (a, b) -> a + b) AS qd
             FROM z),
      n AS (SELECT vec_id, w, qd FROM n0 WHERE qd > CAST(0 AS DOUBLE)),
      qs AS (SELECT vec_id AS query_id, w AS qw, qd AS qqd FROM n
             WHERE $qSet),
      sc AS (SELECT query_id, t.vec_id AS neighbor_id,
               ${oDot("qw", "t.w")} / sqrt(qqd * t.qd) AS qcos
             FROM qs JOIN n t ON t.vec_id <> query_id),
      ${rankCte("query_id", "neighbor_id", "qcos")}
      SELECT r.query_id, r.neighbor_id, r.qcos, CAST(r.rn AS BIGINT) AS rn,
             b.neighbor_id IS NOT NULL AS in_exact_top5
      FROM r LEFT JOIN (${s01.oracle.get}) b
        ON b.query_id = r.query_id AND b.neighbor_id = r.neighbor_id
      WHERE r.rn <= 5"""))

  /** s09: Johnson–Lindenstrauss random projection 64 → 16 dims — the
    * dimensionality-reduction half of the embedding toolbox (s07/s08
    * shrink bytes-per-component; s09 shrinks components-per-vector; a
    * production retrieval tier composes both). The projection matrix is
    * Rademacher (entries ±1), derived from a deterministic integer hash
    * (see [[rpSign]] for why it must be quadratic) — no rand(), both
    * engines regenerate the identical matrix, so the reduced vectors are
    * exact-checkable.
    *
    * Arithmetic is the house long-scaled discipline end-to-end: inputs
    * quantize once to 1e-6 grid (`floor(x * 1e6)` — |x| ≤ 0.53 so
    * |x6| ≤ 5.3e5), every projection component is an exact BIGINT sum
    * (|y_p| ≤ 64·5.3e5 ≈ 3.4e7), the norm audit sums y² exactly
    * (≤ 16·1.2e15 ≈ 2e16 < 2^63), and the only doubles in the output are
    * single IEEE divisions of exact longs. The output audits the actual
    * projection (order-weighted checksum of the 16 components, s07's
    * pattern) plus the JL guarantee itself: `norm_ratio` = ‖y‖²/(r·‖x‖²)
    * has E = 1 and Var = 2/r per the distributional JL lemma —
    * SimilaritySpec pins the measured concentration, so a broken matrix
    * or a dropped term is a build failure, not a silent quality loss.
    *
    * Scale shape: perfectly row-wise — higher-order array functions, no
    * explode, no join, no aggregation, ZERO shuffles (pinned). At 100 TB
    * this is the ideal map pass; if the nested-lambda fold ever shows up
    * hot (d03's lesson), the drop-in fix is a native expression like
    * `int8_quantize` — the SQL spelling here is the semantics contract. */
  private[graft] val rpDims = 16
  /** Rademacher entry for global cell (p·64 + j): top bit of a QUADRATIC
    * integer hash. Two rejected spellings, both caught by the norm_ratio
    * audit before they shipped: the LOW bit of `c·K mod 2^32` is just
    * c's own parity (K odd ⇒ multiplication preserves bit 0), which
    * makes all 16 rows identical; and the TOP bit of the same LINEAR
    * hash is a Weyl word whose rows are phase shifts of one underlying
    * sequence (measured norm_ratio max 7.4 vs χ²₁₆/16's ≈ 2). The
    * quadratic term breaks the arithmetic-progression structure:
    * measured min 0.32 / max 2.00 / mean 0.98 at sf0.01 —
    * indistinguishable from a true ±1 matrix (0.16/2.19/1.00). Exact:
    * c ≤ 1023 ⇒ c²·K₁ ≈ 2.8e15 ≪ 2^63. */
  private def rpSign(cell: String) =
    s"CASE WHEN (($cell) * ($cell) * 2654435761 + ($cell) * 2246822519) " +
      "% 4294967296 < 2147483648 THEN 1 ELSE -1 END"

  val s09 = QueryDef(
    "s09_random_projection",
    (s, d) => withViews(s, d, "embeddings")(s"""
      WITH e AS (SELECT vec_id,
                   transform(embedding, x ->
                     CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS x6
                 FROM embeddings),
      p AS (SELECT vec_id, x6,
              transform(sequence(0, ${rpDims - 1}), pp ->
                aggregate(zip_with(x6,
                    sequence(CAST(0 AS BIGINT), CAST(size(x6) - 1 AS BIGINT)),
                    (x, j) -> x * ${rpSign("CAST(pp AS BIGINT) * 64 + j")}),
                  CAST(0 AS BIGINT), (a, b) -> a + b)) AS y
            FROM e)
      SELECT vec_id,
             aggregate(zip_with(y,
                 sequence(CAST(1 AS BIGINT), CAST(${rpDims} AS BIGINT)),
                 (c, i) -> c * i),
               CAST(0 AS BIGINT), (a, b) -> a + b) AS y_checksum,
             CASE WHEN aggregate(transform(x6, x -> x * x),
                    CAST(0 AS BIGINT), (a, b) -> a + b) = 0
               THEN CAST(0 AS DOUBLE)
               ELSE CAST(aggregate(transform(y, c -> c * c),
                      CAST(0 AS BIGINT), (a, b) -> a + b) AS DOUBLE)
                 / CAST(${rpDims} * aggregate(transform(x6, x -> x * x),
                      CAST(0 AS BIGINT), (a, b) -> a + b) AS DOUBLE)
             END AS norm_ratio
      FROM p"""),
    Some(s"""
      WITH e AS (SELECT vec_id,
                   list_transform(embedding, x ->
                     CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS x6
                 FROM embeddings),
      p AS (SELECT vec_id, x6,
              list_transform(range(0, ${rpDims}), pp ->
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(list_zip(x6, range(0, 64)),
                    s2 -> s2[1] * ${rpSign("CAST(pp AS BIGINT) * 64 + CAST(s2[2] AS BIGINT)")})),
                  (a, b) -> a + b)) AS y
            FROM e)
      SELECT vec_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_zip(y, range(1, ${rpDims + 1})),
                 s2 -> s2[1] * CAST(s2[2] AS BIGINT))),
               (a, b) -> a + b) AS y_checksum,
             CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(x6, x -> x * x)), (a, b) -> a + b) = 0
               THEN CAST(0 AS DOUBLE)
               ELSE CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(y, c -> c * c)), (a, b) -> a + b) AS DOUBLE)
                 / CAST(${rpDims} * list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(x6, x -> x * x)), (a, b) -> a + b) AS DOUBLE)
             END AS norm_ratio
      FROM p"""))

  /** s10: product quantization (PQ) + asymmetric-distance KNN with exact
    * re-ranking — the last member of the embedding-compression toolbox
    * (s07/s08 = scalar int8, s09 = dimensionality reduction, s10 =
    * subspace vector quantization, the IVF-PQ building block of every
    * billion-vector ANN deployment; cf. Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011). Vectors are
    * NORMALIZED first (the ground truth is cosine — quantizing raw
    * vectors lets corpus-norm variance corrupt the dot-product ranking;
    * measured recall@5 mean 0.07 raw vs 0.86 normalized at sf0.1, the
    * single biggest dial in this design). The 64-dim space splits into
    * [[pqSub]] subspaces of [[pqSubDim]] dims; each subspace gets a
    * [[pqSeeds]] codebook (deterministically sampled, |K| = 64 CAPPED —
    * codebook size must never scale with N, same rule as s03/s05 seeds;
    * a real deployment trains it per subspace with the s06 Lloyd loop —
    * measured worth only +0.02 recall here), and a vector's index entry
    * is 8 six-bit codes ≈ 6 bytes vs 256 bytes of doubles.
    *
    * Two-stage search (the standard IVFADC-R shape): the ADC pass ranks
    * ALL vectors by approximate score against the 8-byte codes and keeps
    * the top [[pqRerank]] per query — a CONSTANT candidate budget (10% of
    * corpus at sf0.1, independent of N by construction) — then the exact
    * pass re-scores only those candidates against full-precision vectors.
    * Measured frontier on the real (adversarial, see [[lshPlanes]])
    * embeddings at sf0.1: K16 no-rerank 0.07, K64 no-rerank 0.24,
    * K64+rerank-50 0.71, K64+rerank-100 0.86 mean / 0.40 min,
    * K64+rerank-200 **0.93 mean / 0.80 min** — shipped (the rerank
    * budget is the cheap axis: doubling the codebook to K128 measured
    * 0.97 but doubles every vector's encode scan for +0.04 that the
    * rerank dial already covers). SimilaritySpec pins the ≥0.9 floor at
    * BOTH measured SFs — sf0.01 (1.00) and sf0.1 (0.93).
    *
    * Exactness discipline: normalized components quantize once to the
    * 1e-6 grid (s09's trick, |x6| ≤ 1e6), per-subspace squared L2
    * distances are exact BIGINTs (≤ 8·(2e6)² ≈ 3.2e13), and
    * argmin-with-tiebreak is ONE plain `min()` over `dist·4096 + cid`
    * (cid < 450 < 4096; packed ≤ 1.4e17 ≪ 2⁶³) — no min_by/window
    * machinery, identical in both dialects. ADC and rerank scores are
    * exact BIGINT dot products (≤ 64·(1e6)² = 6.4e13). The only doubles
    * are the shared normalize step (one sqrt + division per component,
    * bit-identical on both engines — s03's precedent).
    *
    * Scale shape: codebook is 64 rows → broadcast everywhere; encoding
    * is one linear pass (N×64 packed-distance rows collapse map-side
    * into the per-vector min — the groupBy shuffle carries N
    * metadata-width rows); reconstruction is 8 broadcast hash joins on
    * the 64-row codebook; the ADC scan is |Q|×N with |Q| broadcast
    * (s01's shape) and its rank-100 filter runs as a partial top-K below
    * the exchange (WindowGroupLimit); the rerank join touches only
    * |Q|·[[pqRerank]] rows. The gate spelling reconstructs explicitly
    * because that is oracle-checkable; the classic per-query 8×64
    * lookup-table optimization is the same math factored differently and
    * drops in behind this contract without changing a single output row. */
  private[graft] val pqSub = 8
  private[graft] val pqSubDim = 8
  /** ADC candidate budget per query — a constant, never f(N). */
  private[graft] val pqRerank = 200
  /** Deterministic codebook sample: 64 ids at every gate SF (3, 10, …,
    * 444), capped so |K| never grows with the corpus. */
  private[graft] val pqSeeds = "vec_id % 7 = 3 AND vec_id < 450"

  /** Packed per-subspace distance `d²·4096 + cid` for subspace m —
    * engine (`slice`/`aggregate`) and oracle (`list_slice`/`list_reduce`)
    * spellings of the same exact integer arithmetic. */
  private def sPqDist(m: Int): String = {
    val lo = m * pqSubDim + 1
    s"""aggregate(zip_with(slice(t.x6, $lo, $pqSubDim), slice(c.cv, $lo, $pqSubDim),
       (a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), (acc, z) -> acc + z)
       * 4096 + c.cid AS p$m"""
  }
  private def oPqDist(m: Int): String = {
    val lo = m * pqSubDim + 1
    val hi = m * pqSubDim + pqSubDim
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       list_transform(list_zip(list_slice(t.x6, $lo, $hi), list_slice(c.cv, $lo, $hi)),
         s2 -> (s2[1] - s2[2]) * (s2[1] - s2[2]))), (a, b) -> a + b)
       * 4096 + c.cid AS p$m"""
  }
  private val pqMins =
    (0 until pqSub).map(m => s"min(p$m) % 4096 AS c$m").mkString(", ")
  private val pqJoins =
    (0 until pqSub).map(m => s"JOIN c k$m ON k$m.cid = codes.c$m").mkString(" ")
  private def pqRecon(slice: (Int, Int, Int) => String, cat: Seq[String] => String) =
    cat((0 until pqSub).map(m => slice(m, m * pqSubDim + 1, m * pqSubDim + pqSubDim)))

  val s10 = QueryDef(
    "s10_knn_pq",
    (s, d) => {
      // staged: the quantized-vector frame `e` is referenced seven times
      // below (codebooks, codes, queries, both exact-rerank sides)
      staged("s10_e", d) {
        withViews(s, d, "embeddings")("""
          WITH v0 AS (SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                      FROM embeddings),
          v AS (SELECT vec_id, v, sqrt(dot_product(v, v)) AS nrm FROM v0)
          SELECT vec_id,
                 transform(v, x -> CAST(floor(x / nrm * 1000000.0) AS BIGINT)) AS x6
          FROM v WHERE nrm > 0""")
      }.createOrReplaceTempView("s10_e")
      s.sql(s"""
      WITH e AS (SELECT vec_id, x6 FROM s10_e),
      c AS (SELECT vec_id AS cid, x6 AS cv FROM e WHERE $pqSeeds),
      sc AS (SELECT /*+ BROADCAST(c) */ t.vec_id,
               ${(0 until pqSub).map(sPqDist).mkString(",\n               ")}
             FROM e t CROSS JOIN c),
      codes AS (SELECT vec_id, $pqMins FROM sc GROUP BY vec_id),
      recon AS (SELECT /*+ BROADCAST(${(0 until pqSub).map("k" + _).mkString(", ")}) */
                  codes.vec_id,
                  ${pqRecon((m, lo, _) => s"slice(k$m.cv, $lo, $pqSubDim)",
                            ss => s"concat(${ss.mkString(", ")})")} AS rv
                FROM codes $pqJoins),
      q AS (SELECT vec_id, x6 FROM e WHERE $qSet),
      adc AS (SELECT /*+ BROADCAST(q) */ q.vec_id AS query_id, r.vec_id AS neighbor_id,
                aggregate(zip_with(q.x6, r.rv, (a, b) -> a * b),
                  CAST(0 AS BIGINT), (acc, z) -> acc + z) AS adc_score
              FROM recon r CROSS JOIN q
              WHERE r.vec_id <> q.vec_id),
      cand AS (SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_score DESC, neighbor_id) AS arn
               FROM adc),
      ex AS (SELECT /*+ BROADCAST(cand) */ cand.query_id, cand.neighbor_id,
               aggregate(zip_with(q.x6, t.x6, (a, b) -> a * b),
                 CAST(0 AS BIGINT), (acc, z) -> acc + z) AS score
             FROM cand JOIN e q ON q.vec_id = cand.query_id
                       JOIN e t ON t.vec_id = cand.neighbor_id
             WHERE cand.arn <= $pqRerank),
      rr AS (SELECT query_id, neighbor_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rn
             FROM ex)
      SELECT query_id, neighbor_id, score, CAST(rn AS BIGINT) AS rn
      FROM rr WHERE rn <= 5""")
    },
    Some(sql"""
      ${oCorpus()},
      e6 AS (SELECT vec_id,
               list_transform(v, x -> CAST(floor(x / nrm * 1000000.0) AS BIGINT)) AS x6
             FROM n WHERE nrm > 0),
      c AS (SELECT vec_id AS cid, x6 AS cv FROM e6 WHERE $pqSeeds),
      sc AS (SELECT t.vec_id,
               ${(0 until pqSub).map(oPqDist).mkString(",\n")}
             FROM e6 t CROSS JOIN c),
      codes AS (SELECT vec_id, $pqMins FROM sc GROUP BY vec_id),
      recon AS (SELECT codes.vec_id,
                  ${pqRecon((m, lo, hi) => s"list_slice(k$m.cv, $lo, $hi)",
                            ss => ss.mkString(" || "))} AS rv
                FROM codes $pqJoins),
      q AS (SELECT vec_id, x6 FROM e6 WHERE $qSet),
      adc AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
                ${oDot("q.x6", "r.rv", "CAST(0 AS BIGINT)")} AS adc_score
              FROM recon r CROSS JOIN q
              WHERE r.vec_id <> q.vec_id),
      cand AS (SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_score DESC, neighbor_id) AS arn
               FROM adc),
      ex AS (SELECT cand.query_id, cand.neighbor_id,
               ${oDot("q.x6", "t.x6", "CAST(0 AS BIGINT)")} AS score
             FROM cand JOIN e6 q ON q.vec_id = cand.query_id
                       JOIN e6 t ON t.vec_id = cand.neighbor_id
             WHERE cand.arn <= $pqRerank),
      rr AS (SELECT query_id, neighbor_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rn
             FROM ex)
      SELECT query_id, neighbor_id, score, CAST(rn AS BIGINT) AS rn
      FROM rr WHERE rn <= 5"""))

  /** s12's delta slice: the "new vectors since the last index build". */
  private[graft] val s12DeltaPred = "vec_id % 16 = 5"

  /** Incremental IVF index maintenance — q67's materialized-view pattern
    * applied to the ANN index (a 100 TB corpus grows daily; rebuilding
    * the IVF index per batch is the full-recompute anti-pattern). The
    * quantizer is FROZEN (centroids drawn from the BASE slice only — an
    * index build artifact), so
    * assigning a vector is a pure per-row function of the centroid set:
    * the MAINTAINED path scans only the delta slice and unions with the
    * stored base assignment, and the gate PROVES maintained ≡ full
    * recompute per cluster (`matches_full` compares exact counts and
    * decimal-routed cosine sums — computed, never asserted). Per-cluster
    * output doubles as the retrain trigger a deployment monitors: delta
    * counts vs base counts and each side's mean member-to-centroid
    * cosine (drift in either says the frozen quantizer no longer fits
    * the distribution).
    *
    * Scale shape: both maintained legs are one broadcast (|C| ≤ 64
    * capped, an artifact not a corpus function) assignment pass over
    * their slice + a cluster-keyed metadata-width aggregate; refresh
    * cost is delta-bound, while full recompute grows with the corpus
    * (SCALE.md, "q67 maintained-refresh path measured ALONE"). */
  val s12 = QueryDef(
    "s12_ivf_incremental",
    (s, d) => {
      normEmbeddings(s, d).createOrReplaceTempView("s12_n")
      // three assignment passes (base/delta/full): the full pass is the
      // operator's own recompute proof, deliberate
      val cents = seedCents("s12_n", s"$ivfSeeds AND NOT ($s12DeltaPred)")
      def members(cte: String, n: String, sum: String, slice: String) = s"""
        $cte AS (SELECT cid, CAST(count(*) AS BIGINT) AS $n,
                   sum(CAST(cos AS DECIMAL(18,6))) AS $sum
                 FROM (SELECT nc.cid AS cid, nc.cos AS cos FROM (${nearestSql(
                   s"(SELECT * FROM s12_n WHERE $slice)", cents)}))
                 GROUP BY cid)"""
      s.sql(s"""
        WITH ${members("mb", "n_base", "sb", s"NOT ($s12DeltaPred)")},
        ${members("md", "n_delta", "sd", s12DeltaPred)},
        ${members("mf", "n_full", "sf", "TRUE")}
        SELECT mf.cid AS cluster,
               coalesce(mb.n_base, 0L) AS n_base,
               coalesce(md.n_delta, 0L) AS n_delta,
               mf.n_full AS n_total,
               CAST(coalesce(mb.sb, CAST(0 AS DECIMAL(18,6)))
                 AS DOUBLE) / CAST(greatest(coalesce(mb.n_base, 0L), 1L)
                 AS DOUBLE) AS base_mean_cos,
               CAST(coalesce(md.sd, CAST(0 AS DECIMAL(18,6)))
                 AS DOUBLE) / CAST(greatest(coalesce(md.n_delta, 0L), 1L)
                 AS DOUBLE) AS delta_mean_cos,
               (coalesce(mb.n_base, 0L) + coalesce(md.n_delta, 0L) = mf.n_full
                AND coalesce(mb.sb, CAST(0 AS DECIMAL(18,6)))
                    + coalesce(md.sd, CAST(0 AS DECIMAL(18,6))) = mf.sf)
                 AS matches_full
        FROM mf LEFT JOIN mb ON mf.cid = mb.cid
                LEFT JOIN md ON mf.cid = md.cid""")
    },
    Some(sql"""
      ${oCorpus(Seq(s"($s12DeltaPred) AS is_delta"))},
      ${oRanked(s"$ivfSeeds AND NOT is_delta", Seq("is_delta"), cos = true)},
      m AS (SELECT cluster, is_delta, cos FROM ranked WHERE rn = 1),
      mb AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_base,
               sum(CAST(cos AS DECIMAL(18,6))) AS sb
             FROM m WHERE NOT is_delta GROUP BY cluster),
      md AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_delta,
               sum(CAST(cos AS DECIMAL(18,6))) AS sd
             FROM m WHERE is_delta GROUP BY cluster),
      mf AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_full,
               sum(CAST(cos AS DECIMAL(18,6))) AS sf
             FROM m GROUP BY cluster)
      SELECT mf.cluster AS cluster,
             coalesce(mb.n_base, 0) AS n_base,
             coalesce(md.n_delta, 0) AS n_delta,
             mf.n_full AS n_total,
             CAST(coalesce(mb.sb, CAST(0 AS DECIMAL(18,6)))
               AS DOUBLE) / CAST(greatest(coalesce(mb.n_base, 0), 1)
               AS DOUBLE) AS base_mean_cos,
             CAST(coalesce(md.sd, CAST(0 AS DECIMAL(18,6)))
               AS DOUBLE) / CAST(greatest(coalesce(md.n_delta, 0), 1)
               AS DOUBLE) AS delta_mean_cos,
             (coalesce(mb.n_base, 0) + coalesce(md.n_delta, 0) = mf.n_full
              AND coalesce(mb.sb, CAST(0 AS DECIMAL(18,6)))
                  + coalesce(md.sd, CAST(0 AS DECIMAL(18,6))) = mf.sf)
               AS matches_full
      FROM mf LEFT JOIN mb ON mf.cluster = mb.cluster
              LEFT JOIN md ON mf.cluster = md.cluster"""),
    headline = true)

  /** s13 — diversity coreset selection over the embedding space (the
    * data-pruning stage of a scale-aware pipeline: Sorscher et al. 2022,
    * "Beyond neural scaling laws" — at large N, prune the most
    * PROTOTYPICAL examples and keep the diverse frontier; SemDeDup's
    * cluster-bounded economics). Every vector assigns to its nearest
    * seed centroid (s05's frozen ≤64-centroid quantizer — assignment is
    * the native row-wise `nearest_centroid` arg-max, zero shuffle); per
    * cell the coreset keeps (a) the single most-prototypical vector
    * (highest cosine to the centroid — the cell's PROTOTYPE, so every
    * populated cell stays represented) and (b) the `1/4`-fraction
    * diversity FRONTIER — the cell's least-prototypical quarter
    * (`max(1, n div 4)`, cos ASC, vec_id tie-break). Cosines are
    * reported floored to 10⁻⁶ fixed-point (s05's exact spelling);
    * ranking orders the raw doubles, which are bit-identical across
    * engines by the decimal-routed construction.
    *
    * Scale shape: assignment is one broadcast pass over the scan —
    * vectors never leave their partitions; the windows see only
    * metadata-width (vec_id, cid, cos) rows through ONE cluster-keyed
    * exchange (both rankings partition on cid); output is the selected
    * ~31%. No pairwise anything — the cell structure bounds all work
    * (d16's argument). The selection is a pure function of the frozen
    * quantizer, so refreshing under ingest rides s12's maintained
    * assignment path unchanged. */
  val s13 = QueryDef(
    "s13_coreset_select",
    (s, d) => {
      normEmbeddings(s, d).createOrReplaceTempView("s13_n")
      s.sql(s"""
        WITH a AS (${nearestSql("s13_n", seedCents("s13_n", kmSeeds()))}),
        r AS (SELECT vec_id, cid AS cluster_id, cos,
                row_number() OVER (PARTITION BY cid
                  ORDER BY cos ASC, vec_id) AS rk_div,
                row_number() OVER (PARTITION BY cid
                  ORDER BY cos DESC, vec_id) AS rk_proto,
                count(*) OVER (PARTITION BY cid) AS n_cell
              FROM (SELECT vec_id, nc.cid AS cid, nc.cos AS cos FROM a))
        SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
               vec_id,
               CAST(floor(cos * CAST(1000000 AS DOUBLE)) AS BIGINT)
                 AS cos_scaled,
               CAST(n_cell AS BIGINT) AS n_members,
               CASE WHEN rk_proto = 1 THEN 'prototype'
                    ELSE 'frontier' END AS role,
               CAST(rk_div AS BIGINT) AS div_rank
        FROM r
        WHERE rk_proto = 1 OR rk_div <= greatest(1, n_cell div 4)""")
    },
    Some(sql"""
      ${oCorpus()},
      c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
            WHERE ${kmSeeds()}),
      sc AS (SELECT t.vec_id, c.cid,
               ${oDot("c.cv", "t.v")} / (c.cn * t.nrm) AS cos
             FROM n t CROSS JOIN c),
      asg AS (SELECT vec_id, cid, cos
              FROM (SELECT vec_id, cid, cos,
                      row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, cid) AS rk
                    FROM sc) WHERE rk = 1),
      r AS (SELECT vec_id, cid AS cluster_id, cos,
              row_number() OVER (PARTITION BY cid
                ORDER BY cos ASC, vec_id) AS rk_div,
              row_number() OVER (PARTITION BY cid
                ORDER BY cos DESC, vec_id) AS rk_proto,
              count(*) OVER (PARTITION BY cid) AS n_cell
            FROM asg)
      SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
             vec_id,
             CAST(floor(cos * CAST(1000000 AS DOUBLE)) AS BIGINT)
               AS cos_scaled,
             CAST(n_cell AS BIGINT) AS n_members,
             CASE WHEN rk_proto = 1 THEN 'prototype'
                  ELSE 'frontier' END AS role,
             CAST(rk_div AS BIGINT) AS div_rank
      FROM r
      WHERE rk_proto = 1 OR rk_div <= greatest(1, n_cell // 4)"""))

  /** s14 — coreset retrieval-quality audit (s04's evaluation pattern
    * applied to s13's pruning): data pruning is only safe if the kept
    * corpus still SERVES — so for every benchmark query, compare exact
    * top-5 retrieval over the FULL corpus against the same search
    * restricted to s13's coreset. Two evidence columns per query: the
    * top-1 cosine LOSS (how much worse is the best available neighbor
    * after pruning — the number a retrieval deployment cares about,
    * reported in s05's 10⁻⁶ fixed point, ≥ 0 by construction since the
    * coreset is a subset) and overlap@5 (how many of the full top-5
    * survived the pruning; low overlap with low cos-loss is the EXPECTED
    * signature when the pruned neighbors were near-duplicates of kept
    * ones — the point of prototype pruning). Spec pins the measured
    * floors; the gate hash pins every value.
    *
    * Scale shape: s01's economics twice — the |Q|-row query frame
    * broadcasts, the corpus (and its coreset subset) streams through one
    * linear scan each, top-5 via partial-aggregatable rank windows; the
    * coreset id set joins as a semi-join on vec_id (metadata-width).
    * Nothing pairwise beyond |Q|·N. */
  val s14 = QueryDef(
    "s14_coreset_recall",
    (s, d) => {
      s13.run(s, d).createOrReplaceTempView("s14_core")
      normEmbeddings(s, d).createOrReplaceTempView("s14_n")
      s.sql(s"""
        WITH q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM s14_n
                   WHERE $qSet),
        sc AS (SELECT /*+ BROADCAST(q) */ query_id, t.vec_id AS neighbor_id,
                 dot_product(qv, t.v) / (qn * t.nrm) AS cos,
                 t.vec_id IN (SELECT vec_id FROM s14_core) AS in_core
               FROM q JOIN s14_n t ON t.vec_id <> query_id),
        rf AS (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS rn
               FROM sc),
        rc AS (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS rn
               FROM sc WHERE in_core),
        f1 AS (SELECT query_id,
                 CAST(floor(max(CASE WHEN rn = 1 THEN cos END)
                   * CAST(1000000 AS DOUBLE)) AS BIGINT) AS full_top1
               FROM rf WHERE rn <= 5 GROUP BY query_id),
        c1 AS (SELECT query_id,
                 CAST(floor(max(CASE WHEN rn = 1 THEN cos END)
                   * CAST(1000000 AS DOUBLE)) AS BIGINT) AS core_top1
               FROM rc WHERE rn <= 5 GROUP BY query_id),
        ov AS (SELECT rf.query_id, CAST(count(*) AS BIGINT) AS overlap5
               FROM rf JOIN rc ON rf.query_id = rc.query_id
                 AND rf.neighbor_id = rc.neighbor_id
               WHERE rf.rn <= 5 AND rc.rn <= 5
               GROUP BY rf.query_id)
        SELECT f1.query_id, f1.full_top1, c1.core_top1,
               f1.full_top1 - c1.core_top1 AS top1_loss,
               coalesce(ov.overlap5, CAST(0 AS BIGINT)) AS overlap5
        FROM f1 JOIN c1 ON f1.query_id = c1.query_id
        LEFT JOIN ov ON f1.query_id = ov.query_id""")
    },
    Some(sql"""
      ${oCorpus()},
      core AS (SELECT vec_id FROM (${s13.oracle.get.trim}) cs),
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
            WHERE $qSet),
      sc AS (SELECT query_id, t.vec_id AS neighbor_id,
               ${oDot("qv", "t.v")} / (qn * t.nrm) AS cos,
               t.vec_id IN (SELECT vec_id FROM core) AS in_core
             FROM q JOIN n t ON t.vec_id <> query_id),
      rf AS (SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rn
             FROM sc),
      rc AS (SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rn
             FROM sc WHERE in_core),
      f1 AS (SELECT query_id,
               CAST(floor(max(CASE WHEN rn = 1 THEN cos END)
                 * CAST(1000000 AS DOUBLE)) AS BIGINT) AS full_top1
             FROM rf WHERE rn <= 5 GROUP BY query_id),
      c1 AS (SELECT query_id,
               CAST(floor(max(CASE WHEN rn = 1 THEN cos END)
                 * CAST(1000000 AS DOUBLE)) AS BIGINT) AS core_top1
             FROM rc WHERE rn <= 5 GROUP BY query_id),
      ov AS (SELECT rf.query_id, CAST(count(*) AS BIGINT) AS overlap5
             FROM rf JOIN rc ON rf.query_id = rc.query_id
               AND rf.neighbor_id = rc.neighbor_id
             WHERE rf.rn <= 5 AND rc.rn <= 5
             GROUP BY rf.query_id)
      SELECT f1.query_id, f1.full_top1, c1.core_top1,
             f1.full_top1 - c1.core_top1 AS top1_loss,
             coalesce(ov.overlap5, CAST(0 AS BIGINT)) AS overlap5
      FROM f1 JOIN c1 ON f1.query_id = c1.query_id
      LEFT JOIN ov ON f1.query_id = ov.query_id"""))

  /** FILTERED (predicate-constrained) k-NN — "nearest neighbors WHERE
    * label = X", the retrieval shape RAG and curation pipelines actually
    * run (restrict to a language, a license class, a domain) where
    * unconstrained ANN returns mostly-filtered-out candidates. Here each
    * query retrieves the exact top-5 among vectors sharing ITS OWN label.
    *
    * Strategy = subset scan, not probe-and-post-filter: the predicate is
    * an EQUALITY on an indexed-in-the-data attribute, so the corpus side
    * blocks on the label via an equi-join — each query scores only its
    * label's partition (≈ N/|labels| rows), the result is EXACT (recall
    * 1.0 by construction, no IVF recall haircut), and the plan is one
    * broadcast-hash-join pass over the corpus with ZERO shuffles (the
    * bounded query set broadcasts; vectors never move). The
    * probe-then-post-filter alternative keeps only ~selectivity of each
    * probed cell — at 10% selectivity it must probe ~10× the cells for
    * the same k, which is MORE corpus touched than the subset scan; IVF
    * wins only when the predicate keeps most of the corpus (then s03's
    * shape applies unchanged with the filter as a residual). That
    * crossover rule — selectivity decides scan-vs-probe — is the
    * standard filtered-ANN design (cf. postfiltering vs prefiltering in
    * IVF systems), encoded here as the exact subset path, and MEASURED
    * in the spec: post-filtering s03's P=4 probes by the label keeps
    * only 0.480 of the filtered true top-5 on the gate embeddings,
    * where the subset scan keeps 1.000 at comparable touched-rows. */
  val s16 = QueryDef(
    "s16_filtered_knn",
    (s, d) => {
      normEmbeddings(s, d).createOrReplaceTempView("s16_n")
      s.sql(sql"""
        WITH q AS (SELECT vec_id AS query_id, label AS qlab, v AS qv,
                          nrm AS qn
                   FROM s16_n WHERE $qSet),
        sc AS (SELECT /*+ BROADCAST(q) */ query_id, t.vec_id AS neighbor_id,
                 t.label,
                 dot_product(qv, t.v) / (qn * t.nrm) AS cos
               FROM q JOIN s16_n t ON t.label = q.qlab
               WHERE t.vec_id <> q.query_id),
        ${rankCte("query_id", "neighbor_id", carry = "label, ")}
        ${topK("query_id", "neighbor_id", 5, carry = "label, ")}""")
    },
    Some(sql"""
      ${oCorpus(Seq("label"))},
      q AS (SELECT vec_id AS query_id, label AS qlab, v AS qv, nrm AS qn
            FROM n WHERE $qSet),
      sc AS (SELECT query_id, t.vec_id AS neighbor_id, t.label,
               ${oDot("qv", "t.v")} / (qn * t.nrm) AS cos
             FROM q JOIN n t ON t.label = q.qlab
             WHERE t.vec_id <> q.query_id),
      ${rankCte("query_id", "neighbor_id", carry = "label, ")}
      ${topK("query_id", "neighbor_id", 5, carry = "label, ")}"""),
    headline = true)

  /** s17's probe budget — deliberately its OWN constant, and smaller
    * than s03's: the trained quantizer is supposed to need FEWER probes per
    * unit recall (that is what training buys), and at the gate SF the
    * centroid count is small enough that s03's P=4 would probe every
    * cell and trivialize the comparison. */
  private[graft] val trainedProbes = 2

  /** IVF search on a TRAINED quantizer — the production shape the s15
    * SCALE note names: s03 quantizes with deterministically SAMPLED
    * centroids (cheap, oracle-friendly, but cells are arbitrary); here
    * the quantizer is s06's converged k-means centroids — the index
    * build a real deployment runs, with K chosen for list size (K∝N)
    * rather than inherited from corpus ids. Search itself follows the
    * round's plan lesson end-to-end: queries and members carry (v, nrm)
    * into the cell equi-join and the cosine projects in its output —
    * no candidate DISTINCT, no post-hoc vector joins.
    *
    * The spec measures recall@5 against brute-force truth SIDE BY SIDE
    * with s03's sampled quantizer: measured 0.800 at P=2 probes vs
    * s03's 0.680 at P=4 — the trained quantizer reaches HIGHER recall
    * at HALF the probe budget even on the adversarial near-random gate
    * embeddings. That lift is what index training buys, and it is the
    * committed answer to the s15 SCALE note's production dial (K and
    * the centroid geometry come from the k-means artifact, not from
    * corpus ids).
    *
    * Scale shape: training is s06's (broadcast centroids, (cluster,
    * dim) partial sums — vectors never shuffle); assignment is one
    * broadcast pass; search touches only probed cells via the
    * vector-carrying equi-join. */
  val s17 = QueryDef(
    "s17_knn_ivf_trained",
    (s, d) => {
      s06Cents(s, d).createOrReplaceTempView("s17_c")
      probeAssign(s, "s06_n", trainedCents("s17_c"), trainedProbes)
        .createOrReplaceTempView("s17_assign")
      ivfKnn(s, "s17_assign", "s06_n", trainedProbes, 5, qSet)
        .toDF("query_id", "neighbor_id", "cos", "rn")
    },
    Some(sql"""
      ${oCorpus()},
      ${oTrained("cT")},
      sc0 AS (SELECT t.vec_id, c.cid,
                row_number() OVER (PARTITION BY t.vec_id
                  ORDER BY ${oDot("t.v", "c.cv")} / (t.nrm * c.cn) DESC, c.cid) AS rn
              FROM n t CROSS JOIN cT c),
      qp AS (SELECT a.vec_id AS query_id, a.cid, n.v AS qv, n.nrm AS qn
             FROM sc0 a JOIN n ON n.vec_id = a.vec_id
             WHERE ${qSet.replace("vec_id", "a.vec_id")}
               AND a.rn <= $trainedProbes),
      mem AS (SELECT a.vec_id AS neighbor_id, a.cid, n.v, n.nrm
              FROM sc0 a JOIN n ON n.vec_id = a.vec_id
              WHERE a.rn = 1),
      sc AS (SELECT query_id, neighbor_id,
               ${oDot("qp.qv", "mem.v")} / (qp.qn * mem.nrm) AS cos
             FROM qp JOIN mem ON mem.cid = qp.cid
             WHERE neighbor_id <> query_id),
      ${rankCte("query_id", "neighbor_id")}
      ${topK("query_id", "neighbor_id", 5)}"""),
    headline = true)

  val all: Seq[QueryDef] =
    Seq(s01, s02, s03, s04, s05, s06, s07, s08, s09, s10, s12, s13, s14, s16,
      s17)
}
