package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import Q._

/** Multimodal-column plumbing: media payloads ride as opaque `binary`
  * columns with typed metadata; decode / feature-extract runs as a
  * per-partition batch stage (`mapPartitions` over a typed Dataset — the
  * Scala analogue of `mapInPandas`: one iterator per partition, codec state
  * initialized once per partition, rows streamed through).
  *
  * Decoding is behind the pluggable [[MediaCodec]] seam; the gate queries
  * run the deterministic [[MediaCodec.Stub]] (no media libraries in this
  * container), whose outputs are pure functions of the payload bytes and
  * therefore SQL-expressible — the plumbing is real and oracle-checked.
  *
  * Every decode operator is [[codecStage]] plus a per-row kernel; the
  * kernels ([[aHash]], [[energyFingerprint]], [[granuleKeys]],
  * [[frames]]) exist once each, and [[mediaFeatures]] composes them. */
object MultimodalOps {

  final case class MediaIn(doc_id: Long, payload: Array[Byte], source: String)
  final case class MediaMeta(doc_id: Long, media_type: String, width: Long,
      height: Long, n_frames: Long, size_bytes: Long)

  /** A documents frame as media: the text bytes stand in for payloads
    * (the [[MediaIn]] columns). */
  private def mediaOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"),
      col("source"))

  private def media(s: SparkSession, d: String): DataFrame =
    mediaOf(table(s, d, "documents"))

  /** The one codec stage (gasket's worker: bootstrap once, then execute
    * unit after unit): the codec session opens once per partition, then
    * `rows` streams the partition through it. Row-wise, no shuffle —
    * except the small-scan spread that the CPU-heavy passes ask for
    * (`spread`): a batch frame with fewer partitions than the default
    * parallelism (a small single-file scan arrives as ONE partition) is
    * spread to that count first, so the per-row work does not serialize
    * on one core. At scale scans are multi-partition and the rule is a
    * no-op. Cheap passes skip it: on a one-partition scan the extra
    * exchange costs more than it saves (SCALE.md "One codec stage").
    * Streaming frames are never spread (`.rdd` is illegal on them; m07
    * hashes a stream). */
  private[graft] def codecStage[T: Encoder](media: DataFrame, codec: MediaCodec,
      spread: Boolean = false)(
      rows: MediaCodec.Session => Iterator[MediaIn] => Iterator[T]): Dataset[T] = {
    val spark = media.sparkSession
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    val in =
      if (spread && !media.isStreaming && media.rdd.getNumPartitions < par)
        media.repartition(par)
      else media
    in.as[MediaIn].mapPartitions(it => rows(codec.open())(it))
  }

  /** Reusable stage: binary-payload Dataset → metadata Dataset. */
  def decodeMetadata(spark: SparkSession, media: DataFrame,
      codec: MediaCodec = MediaCodec.Stub): DataFrame = {
    import spark.implicits._
    codecStage(media, codec)(sess => _.map(sess.metadata)).toDF()
  }

  /** Stub metadata is a pure function of payload length → SQL oracle
    * (ASCII: chars == bytes). */
  val m01 = QueryDef(
    "m01_media_metadata",
    (s, d) => decodeMetadata(s, media(s, d)),
    Some("""
      WITH b AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS len FROM documents)
      SELECT doc_id,
             CASE WHEN len % 3 = 0 THEN 'image'
                  WHEN len % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             (len * 31 + 7) % 640 + 1 AS width,
             (len * 17 + 3) % 480 + 1 AS height,
             len % 30 + 1 AS n_frames,
             len AS size_bytes
      FROM b"""))

  final case class FrameMeta(doc_id: Long, frame_idx: Long, byte_start: Long,
      n_bytes: Long, frame_md5: String)

  /** Frame sampling: slice each binary payload into fixed-size frames and
    * keep every Nth (the video/audio "sample k frames per clip" stage).
    * The codec session is the per-partition state — a real decoder
    * replaces the stub and nothing else changes. Row-wise flatMap: no
    * shuffle, output is offsets + per-frame digests (provenance a
    * downstream trainer can verify). */
  def sampleFrames(spark: SparkSession, media: DataFrame,
      frameBytes: Int = 64, every: Int = 4,
      codec: MediaCodec = MediaCodec.Stub): DataFrame = {
    import spark.implicits._
    codecStage(media, codec) { sess =>
      _.flatMap { m =>
        val nFrames = (m.payload.length + frameBytes - 1) / frameBytes
        (0 until nFrames by every).iterator.map { fi =>
          val start = fi * frameBytes
          val (bytes, hex) = sess.slice(m.payload, start, frameBytes)
          FrameMeta(m.doc_id, fi.toLong, start + 1L, bytes.length.toLong, hex)
        }
      }
    }.toDF()
  }

  /** Oracle: ASCII payloads mean byte slices == character substrings, so
    * DuckDB's md5(substring(...)) replicates the frame digests exactly. */
  val m02 = QueryDef(
    "m02_frame_sample",
    (s, d) => sampleFrames(s, media(s, d)),
    Some("""
      WITH b AS (SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS len
                 FROM documents),
      f AS (SELECT doc_id, text, len,
              unnest(range(0, (len + 63) // 64, 4)) AS fi FROM b)
      SELECT doc_id,
             CAST(fi AS BIGINT) AS frame_idx,
             CAST(fi * 64 + 1 AS BIGINT) AS byte_start,
             CAST(least(64, len - fi * 64) AS BIGINT) AS n_bytes,
             md5(substring(text, CAST(fi * 64 + 1 AS INT), 64)) AS frame_md5
      FROM f"""))

  final case class WinMeta(doc_id: Long, win_idx: Long, byte_start: Long,
      n_bytes: Long, energy: Long, win_md5: String)

  /** Overlapping window segmentation — the audio analysis-frame shape
    * (STFT-style: window W bytes, hop H < W, 50% overlap by default).
    * Per window: the codec's scalar feature (stub: exact unsigned-byte
    * sum — the stand-in for a spectral feature) and a content digest.
    * Tail windows shorter than W are kept (documented; an equal-length
    * formulation would drop starts past len − W). Row-wise flatMap — no
    * shuffle. */
  def segmentWindows(spark: SparkSession, media: DataFrame,
      winBytes: Int = 96, hopBytes: Int = 48,
      codec: MediaCodec = MediaCodec.Stub): DataFrame = {
    import spark.implicits._
    codecStage(media, codec, spread = true) { sess =>
      _.flatMap { m =>
        val nWin = (m.payload.length + hopBytes - 1) / hopBytes
        (0 until nWin).iterator.map { wi =>
          val start = wi * hopBytes
          val (bytes, hex) = sess.slice(m.payload, start, winBytes)
          WinMeta(m.doc_id, wi.toLong, start + 1L, bytes.length.toLong,
            sess.feature(bytes), hex)
        }
      }
    }.toDF()
  }

  /** DuckDB spelling of the Stub's `feature` — the unsigned byte sum — of
    * string expression `x` (ASCII: character codes == byte values). ONE
    * spelling for m03, m11, m12 and [[oAudioFpCtes]]. */
  private def oByteSum(x: String): String = s"""CAST(list_reduce(
               list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length($x) + 1),
                 i -> CAST(ascii(substring($x, i, 1)) AS BIGINT))),
               (a, c) -> a + c) AS BIGINT)"""

  /** Oracle: ASCII payloads — byte slices == substrings and byte values ==
    * character codes, so energy and digests replicate exactly in SQL. */
  val m03 = QueryDef(
    "m03_window_segments",
    (s, d) => segmentWindows(s, media(s, d)),
    Some(s"""
      WITH b AS (SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS len
                 FROM documents),
      w AS (SELECT doc_id, text, len,
              unnest(range(0, (len + 47) // 48)) AS wi FROM b),
      sub AS (SELECT doc_id, wi,
                substring(text, CAST(wi * 48 + 1 AS INT), 96) AS win FROM w)
      SELECT doc_id,
             CAST(wi AS BIGINT) AS win_idx,
             CAST(wi * 48 + 1 AS BIGINT) AS byte_start,
             CAST(length(win) AS BIGINT) AS n_bytes,
             ${oByteSum("win")} AS energy,
             md5(win) AS win_md5
      FROM sub"""))

  final case class ThumbMeta(doc_id: Long, thumb_w: Long, thumb_h: Long,
      thumb_energy: Long, thumb_md5: String)

  /** Sum of a pixel grid: the thumbnail's energy and the aHash mean. */
  private def pixelSum(px: Array[Int]): Long = {
    var s = 0L
    var i = 0
    while (i < px.length) { s += px(i); i += 1 }
    s
  }

  /** Thumbnail resize — the "shrink every image to a fixed grid" stage a
    * vision-data pipeline runs before embedding/featurizing. Nearest-
    * neighbor through the codec seam ([[MediaCodec.Session.resize]]): the
    * stub samples the payload as a srcW-wide byte stripe; a real codec
    * (ImageIoCodec) decodes and samples its true pixel grid — the
    * operator is identical either way. Output is metadata-width (energy +
    * a digest over the sampled intensities, spelled as the '-'-joined
    * decimal string so the oracle can reproduce it without binary
    * round-trips). Row-wise map: no shuffle, linear at any scale. */
  def thumbnail(spark: SparkSession, media: DataFrame,
      srcW: Int = 32, dstW: Int = 8, dstH: Int = 8,
      codec: MediaCodec = MediaCodec.Stub): DataFrame = {
    import spark.implicits._
    codecStage(media, codec) { sess =>
      _.map { m =>
        val px = sess.resize(m.payload, srcW, dstW, dstH)
        ThumbMeta(m.doc_id, dstW.toLong, dstH.toLong, pixelSum(px),
          org.apache.commons.codec.digest.DigestUtils.md5Hex(px.mkString("-")))
      }
    }.toDF()
  }

  /** DuckDB spelling of the Stub's 8×8 stripe resize (32-wide source) over
    * ASCII text (chars == bytes), ending at `px(doc_id, pi, v)`: each
    * sampled intensity by integer index arithmetic. ONE spelling for m04
    * and [[oAHashCtes]]. */
  private val oPxCtes = """
      b AS (SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS len
                 FROM documents),
      g AS (SELECT doc_id, text, len, (len + 31) // 32 AS src_h FROM b),
      p AS (SELECT doc_id, text, len, src_h, unnest(range(0, 64)) AS pi FROM g),
      px AS (SELECT doc_id, pi,
               CASE WHEN (((pi // 8) * src_h) // 8) * 32 + (pi % 8) * 4 + 1 <= len
                    THEN ascii(substring(text,
                      CAST((((pi // 8) * src_h) // 8) * 32 + (pi % 8) * 4 + 1 AS INT), 1))
                    ELSE 0 END AS v
             FROM p)"""

  /** Oracle: [[oPxCtes]]' intensities, the digest via string_agg in pixel
    * order. */
  val m04 = QueryDef(
    "m04_thumbnail",
    (s, d) => thumbnail(s, media(s, d)),
    Some(s"""
      WITH $oPxCtes
      SELECT doc_id,
             CAST(8 AS BIGINT) AS thumb_w,
             CAST(8 AS BIGINT) AS thumb_h,
             CAST(sum(v) AS BIGINT) AS thumb_energy,
             md5(string_agg(CAST(v AS VARCHAR), '-' ORDER BY pi)) AS thumb_md5
      FROM px GROUP BY doc_id"""))

  final case class AHashRow(doc_id: Long, ahash: String)

  /** The aHash kernel: resize to an 8×8 grid through the codec seam, then
    * one bit per pixel — is it brighter than the grid mean? EXACT integer
    * arithmetic (`v·64 > Σv` — no division, no float mean), spelled as a
    * '0'/'1' string so both engines agree without 64-bit sign/overflow
    * games. */
  private def aHash(sess: MediaCodec.Session, payload: Array[Byte],
      srcW: Int): String = {
    val px = sess.resize(payload, srcW, 8, 8)
    val sum = pixelSum(px)
    val bits = new Array[Char](px.length)
    var i = 0
    while (i < px.length) {
      bits(i) = if (px(i).toLong * 64L > sum) '1' else '0'
      i += 1
    }
    new String(bits)
  }

  /** Average-hash (aHash) perceptual fingerprint — the classic image
    * near-dup signature ([[aHash]] per row). A real codec (ImageIoCodec)
    * replaces the stub and the operator is unchanged. */
  def perceptualHash(spark: SparkSession, media: DataFrame,
      srcW: Int = 32, codec: MediaCodec = MediaCodec.Stub): DataFrame = {
    import spark.implicits._
    codecStage(media, codec) { sess =>
      _.map(m => AHashRow(m.doc_id, aHash(sess, m.payload, srcW)))
    }.toDF()
  }

  /** The oracle's independent aHash derivation ([[oPxCtes]] +
    * brighter-than-mean bits as pure SQL) ending at `h(doc_id, ahash)` —
    * ONE spelling shared by m05-m07 and m09 so the oracles cannot drift.
    * ASCII assumption: strlen/substring/ascii index CHARACTERS while the
    * engine hashes raw UTF-8 payload BYTES — identical only because
    * `documents.text` is ASCII (verified: zero non-ASCII rows at every
    * shipped SF, asserted in MultimodalSpec's "documents.text is ASCII"
    * pin; m01-m04 oracles lean on the same equivalence). */
  private val oAHashCtes: String = s"""$oPxCtes,
      sums AS (SELECT doc_id, sum(v) AS sv FROM px GROUP BY doc_id),
      h AS (SELECT px.doc_id,
              string_agg(CASE WHEN px.v * 64 > sums.sv THEN '1' ELSE '0' END,
                         '' ORDER BY px.pi) AS ahash
            FROM px JOIN sums ON px.doc_id = sums.doc_id
            GROUP BY px.doc_id)"""

  /** DuckDB Hamming distance between two 64-char bit strings — ONE
    * spelling for the m06-m09 oracles. */
  private def oHam64(a: String, b: String): String =
    s"""CAST(len(list_filter(range(1, 65),
                i -> substring($a, i, 1) <> substring($b, i, 1))) AS BIGINT)"""

  /** Perceptual near-dup grouping over the aHash: documents sharing a
    * fingerprint form a duplicate group; each row reports its group size
    * and whether it is the canonical (min-id) member — the keep/prune
    * verdict of an image-dedup pass. Shape: one row-wise hash map (no
    * shuffle), then ONE shuffle on the 64-bit fingerprint for the group
    * aggregate + join back — d01's exact-dedup economics on a perceptual
    * key; at 100 TB the hash table is one row per DISTINCT fingerprint.
    * Near-match (Hamming ≤ k) is m06's banding over hash nibbles. */
  val m05 = QueryDef(
    "m05_perceptual_neardup",
    (s, d) => {
      import s.implicits._
      // checkpointed: h feeds the group aggregate AND the join back, so
      // left lazy the scan + decode + hash pass would run twice
      // (SCALE.md "Round 12: PlanAudit"). Metadata-width.
      val h = roundCheckpoint(perceptualHash(s, media(s, d)))
      val g = h.groupBy($"ahash")
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("canonical_doc"))
      h.join(g, "ahash")
        .select($"doc_id", $"ahash", $"n_docs",
          ($"doc_id" === $"canonical_doc").as("is_canonical"))
    },
    Some(s"""
      WITH $oAHashCtes,
      ga AS (SELECT ahash, CAST(count(*) AS BIGINT) AS n_docs,
               min(doc_id) AS canonical_doc
             FROM h GROUP BY ahash)
      SELECT h.doc_id, h.ahash, ga.n_docs,
             h.doc_id = ga.canonical_doc AS is_canonical
      FROM h JOIN ga ON h.ahash = ga.ahash"""))

  /** Hamming-tolerance dial for m06: near-dup images whose aHashes differ
    * in ≤ `m06MaxHam` bits group together. Banding into 8 bytes makes
    * candidate generation EXACT, not approximate: two 64-bit hashes
    * within Hamming distance d < 8 differ in at most d bands, so at
    * least one of the 8 band values matches (pigeonhole) — every
    * qualifying pair surfaces as a band-join candidate. Band width is a
    * measured dial, not a guess: aHash bits are heavily correlated on
    * real data (bright images skew whole nibbles to 1), and at sf0.01
    * 4-bit bands put ~40% of all distinct hashes into one '1111' bucket
    * (368k candidate pairs from 487 hashes ≈ all-pairs); 8-bit bands cut
    * that to 36k while still guaranteeing completeness for d < 8. */
  private[graft] val m06MaxHam = 2
  private[graft] val m06Bands = 8

  /** Hamming distance between two 64-char binary-string fingerprints as
    * two 32-bit conv + XOR + bit_count halves — plain codegen'd integer
    * ops per pair (the 64× substring lambda this replaced was ~10×
    * slower on fat candidate sets); 32-bit halves keep conv's unsigned
    * result inside BIGINT. */
  private[graft] def sHam64(a: String, b: String): String = {
    def half(off: Int) =
      s"bit_count(CAST(conv(substring($a, $off, 32), 2, 10) AS BIGINT) ^ " +
        s"CAST(conv(substring($b, $off, 32), 2, 10) AS BIGINT))"
    s"CAST(${half(1)} + ${half(33)} AS BIGINT)"
  }

  /** Both directions `(key, other)` of every undirected edge `(a, b)` in
    * ONE pass over `edges`: a union of two projections would reference
    * `edges` twice, and a multiply-referenced non-materialized frame
    * re-executes per reference (PlanAudit caught m06's band join + Hamming
    * verify running twice). */
  private def bothWays(edges: DataFrame, a: String, b: String,
      key: String): DataFrame =
    edges.select(explode(expr(s"array(struct($a AS $key, $b AS other), " +
        s"struct($b AS $key, $a AS other))")).as("e"))
      .select(col(s"e.$key"), col("e.other"))

  /** Banded Hamming-neighbor aggregation over a (doc_id, ahash) frame —
    * d02's LSH-banding economics on the perceptual key. Plan shape, in
    * order: ONE shuffle on the fingerprint (distinct-hash groups — the
    * only stage that sees N rows); an `m06Bands`× (8×) band explode over
    * DISTINCT hashes only (metadata-width); band-key EQUI-join for candidates
    * (never a cross join); a 64-char compare per candidate pair; a
    * metadata-width edge aggregate joined back. A hash class present on
    * both sides of a ≤`maxHam` pair reports its neighbor classes and the
    * total near-dup docs behind them — the dedup-review surface of an
    * image pipeline. Skew note: a degenerate corpus of near-constant
    * images concentrates one band value, the same documented dial as
    * d02's band width (widen bands or pre-split hot buckets). */
  def perceptualNeighbors(spark: SparkSession, hashes: DataFrame,
      maxHam: Int = m06MaxHam): DataFrame = {
    // completeness is the pigeonhole argument: d < m06Bands byte-flips
    // cannot touch all m06Bands bands, so some band matches exactly. At
    // maxHam >= m06Bands the recall guarantee silently vanishes — refuse.
    require(maxHam < m06Bands,
      s"perceptualNeighbors: maxHam=$maxHam >= bands=$m06Bands would drop " +
        "the pigeonhole completeness guarantee (add bands or lower maxHam)")
    import spark.implicits._
    // materialize the distinct-hash frame before the band self-join: both
    // join sides (and the final report join) would otherwise recompute
    // the ENTIRE upstream — payload scan + codec decode + fingerprint —
    // once per reference. dh is metadata-width (one row per distinct
    // 64-bit class), so the checkpoint is effectively free
    val dh = roundCheckpoint(hashes.groupBy($"ahash")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("canonical_doc")))
    // explicit (bi, bv) repartition before the self-join: the band frames
    // are only tens of KB, so AQE's size-based advisory coalesces them to
    // ONE partition — but the join's OUTPUT is the candidate-pair
    // explosion (~1M rows at sf0.1), and generating + Hamming-scoring it
    // single-task serialized the whole operator (StageProfile: a 4.3 s
    // one-task stage). Keying the exchange by band spreads pair
    // generation across the shuffle partitions and the join needs no
    // further exchange.
    val bands = dh.select($"ahash",
        explode(expr(s"transform(sequence(0, ${m06Bands - 1}), " +
          "i -> struct(i AS bi, substring(ahash, i*8+1, 8) AS bv))")).as("b"))
      .select($"ahash", $"b.bi".as("bi"), $"b.bv".as("bv"))
      // the partition COUNT is pinned: a bare repartition(cols) is
      // advisory under AQE, which sized the tiny exchange back down to
      // one partition and re-serialized the join (re-profiled)
      .repartition(spark.sparkContext.defaultParallelism, $"bi", $"bv")
    val near = bands.as("x").join(bands.as("y"),
        $"x.bi" === $"y.bi" && $"x.bv" === $"y.bv" && $"x.ahash" < $"y.ahash")
      .select($"x.ahash".as("ha"), $"y.ahash".as("hb"))
      .distinct()
      .withColumn("ham", expr(sHam64("ha", "hb")))
      .where($"ham" <= maxHam)
    val nb = bothWays(near, "ha", "hb", "ahash")
      .join(dh.select($"ahash".as("other"), $"n_docs".as("other_docs")), "other")
      .groupBy($"ahash")
      .agg(count(lit(1)).as("n_neighbor_hashes"),
        sum($"other_docs").as("n_neighbor_docs"))
    dh.join(nb, Seq("ahash"), "left")
      .select($"ahash", $"n_docs", $"canonical_doc",
        coalesce($"n_neighbor_hashes", lit(0L)).as("n_neighbor_hashes"),
        coalesce($"n_neighbor_docs", lit(0L)).as("n_neighbor_docs"))
  }

  /** DuckDB spelling of the [[perceptualNeighbors]] report over
    * `h(doc_id, ahash)`: it brute-forces all distinct-hash pairs (an
    * INDEPENDENT derivation — no banding), which doubles as the
    * completeness proof of the pigeonhole argument. ONE spelling for the
    * m06 and m08 oracles. */
  private val oNeighbourReport = s"""
      dh AS (SELECT ahash, CAST(count(*) AS BIGINT) AS n_docs,
               min(doc_id) AS canonical_doc
             FROM h GROUP BY ahash),
      ed AS (SELECT a.ahash AS ahash, b.n_docs AS other_docs,
              ${oHam64("a.ahash", "b.ahash")} AS ham
            FROM dh a JOIN dh b ON a.ahash <> b.ahash),
      nb AS (SELECT ahash, CAST(count(*) AS BIGINT) AS n_neighbor_hashes,
               CAST(sum(other_docs) AS BIGINT) AS n_neighbor_docs
             FROM ed WHERE ham <= $m06MaxHam GROUP BY ahash)
      SELECT dh.ahash, dh.n_docs, dh.canonical_doc,
             CAST(coalesce(nb.n_neighbor_hashes, 0) AS BIGINT) AS n_neighbor_hashes,
             CAST(coalesce(nb.n_neighbor_docs, 0) AS BIGINT) AS n_neighbor_docs
      FROM dh LEFT JOIN nb ON dh.ahash = nb.ahash"""

  /** Hamming-tolerant perceptual near-dup (m05's documented extension
    * made real): per distinct aHash class, its size, canonical doc, and
    * the neighboring classes within `m06MaxHam` flipped bits — so
    * re-encoded/slightly-perturbed images that no longer collide exactly
    * still surface as near-dups. */
  val m06 = QueryDef(
    "m06_perceptual_banded",
    (s, d) => perceptualNeighbors(s, perceptualHash(s, media(s, d))),
    Some(s"WITH $oAHashCtes,$oNeighbourReport"))

  private[graft] case class PBandRow(
      doc_id: Long, bi: Long, bv: String, ahash: String)
      extends StreamingGate.Claimant
  private[graft] case class POwner(owner: Long, ahash: String)
  private[graft] case class PerceptualHit(
      bi: Long, owner_doc: Long, dup_doc: Long)

  private def hammingStr(a: String, b: String): Int = {
    var i = 0; var n = 0
    while (i < a.length) { if (a.charAt(i) != b.charAt(i)) n += 1; i += 1 }
    n
  }

  /** m07's stream, parameterized on the state-store provider so
    * StreamingSpec can drive it under RocksDB: media batches arrive as a
    * parity-staged file stream ([[StreamingGate.parityReplay]]),
    * each image row-wise aHashes ([[perceptualHash]] — a stateless typed
    * map, streaming-legal), explodes into its `m06Bands` band keys, and
    * `flatMapGroupsWithState` keyed by (band, band-value) runs q58's
    * bucket [[StreamingGate.registry]]: ONE owner per bucket, the first
    * batch's min-doc claimant WITH its full hash. A later-batch doc
    * colliding in a band is emitted as a suppression hit only if its
    * full-hash Hamming distance to the owner is within `m06MaxHam` —
    * m06's verify step executed in-state, so the streaming operator has
    * banding's exact recall (pigeonhole) AND its precision.
    *
    * Scale: state is one (owner, 64-char hash) row per DISTINCT live band
    * key ≪ corpus; per batch one band-key shuffle of the new docs only.
    * Unbounded deployments bound the registry exactly like q58 (RocksDB
    * provider + the arrival-time TTL of [[StreamingGate.neardupHits]]);
    * the bounded gate run uses NoTimeout. */
  private[graft] def perceptualStream(
      s: SparkSession, d: String, provider: Option[String]): DataFrame = {
    import s.implicits._
    StreamingGate.parityReplay(s, d, "documents", provider) { docs =>
      perceptualHash(s, mediaOf(docs))
        .selectExpr("doc_id", "ahash",
          s"explode(transform(sequence(0, ${m06Bands - 1}), " +
            "i -> struct(CAST(i AS BIGINT) AS bi, " +
            "substring(ahash, i*8+1, 8) AS bv))) AS b")
        .selectExpr("doc_id", "b.bi AS bi", "b.bv AS bv", "ahash")
        .as[PBandRow]
        .groupByKey(r => (r.bi, r.bv))
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (key: (Long, String), rows: Iterator[PBandRow], st: GroupState[POwner]) =>
            StreamingGate.registry(rows, st)(r => POwner(r.doc_id, r.ahash),
                (r, o) => hammingStr(r.ahash, o.ahash) <= m06MaxHam)
              .map { case (o, r) => PerceptualHit(key._1, o.owner, r.doc_id) }
        }
    }
  }

  /** Streaming perceptual near-dup — m06's banded image key running
    * through q58's ingest-time bucket-registry FSM: the composition a
    * multimodal pipeline ships (suppress re-encoded/perturbed images at
    * ingest, not in a nightly batch). Hits are strictly cross-batch
    * (batch-internal dups are m06's batch job); the oracle derives the
    * identical set in batch SQL — band buckets owned by the even-parity
    * batch, odd-parity claimants Hamming-verified against the owner's
    * hash. */
  val m07 = QueryDef(
    "m07_streaming_perceptual",
    (s, d) => perceptualStream(s, d, None),
    Some(s"""
      WITH $oAHashCtes,
      bands AS (SELECT doc_id, ahash, bi,
                  substring(ahash, CAST(bi * 8 + 1 AS INT), 8) AS bv
                FROM (SELECT doc_id, ahash, unnest(range(0, $m06Bands)) AS bi
                      FROM h)),
      own AS (SELECT bi, bv, min(doc_id) AS owner_doc,
                arg_min(ahash, doc_id) AS owner_hash
              FROM bands WHERE doc_id % 2 = 0 GROUP BY bi, bv)
      SELECT b.bi AS bi, o.owner_doc AS owner_doc, b.doc_id AS dup_doc
      FROM bands b JOIN own o ON b.bi = o.bi AND b.bv = o.bv
      WHERE b.doc_id % 2 = 1
        AND ${oHam64("b.ahash", "o.owner_hash")} <= $m06MaxHam"""))

  /** DuckDB audio-fingerprint chain (proportional window spans over the
    * ASCII byte==char identity, the engine's exact geometry) ending at
    * `h(doc_id, fpCol)` — ONE spelling shared by the m08 and m09 oracles
    * so the two cannot drift (oAHashCtes' rule). CTE names are
    * parameterized so the chain composes into a WITH alongside others. */
  private def oAudioFpCtes(
      b: String, en: String, h: String, fpCol: String): String = {
    val win = "substring(text, CAST((wi * len) // 65 + 1 AS INT), " +
      "CAST(((wi + 2) * len) // 65 - (wi * len) // 65 AS INT))"
    s"""
      $b AS (SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS len
             FROM documents),
      $en AS (SELECT doc_id,
               list_transform(range(0, 65), wi -> ${oByteSum(win)}) AS e
             FROM $b),
      $h AS (SELECT doc_id, array_to_string(list_transform(range(0, 64),
               i -> CASE WHEN e[i + 2] > e[i + 1] THEN '1' ELSE '0' END), '')
               AS $fpCol
            FROM $en)"""
  }

  /** The energy-delta sign kernel: bit k is '1' iff window k+1 carries
    * more energy than window k (`e.length - 1` bits). Delta signs are
    * invariant to uniform gain. */
  private def deltaBits(e: Array[Long]): String = {
    val bits = new java.lang.StringBuilder(e.length - 1)
    var k = 0
    while (k < e.length - 1) {
      bits.append(if (e(k + 1) > e(k)) '1' else '0')
      k += 1
    }
    bits.toString
  }

  /** Audio fingerprint kernel (Haitsma–Kalker shape): [[deltaBits]] over
    * `horizon` windows. Window geometry is PER-CLIP proportional — window
    * wi spans frames ⌊wi·nf/horizon⌋ to ⌊(wi+2)·nf/horizon⌋ (50% overlap,
    * m03's STFT shape) — so the horizon spans the whole clip and every
    * window is non-empty, making every bit informative (why geometry
    * decides the band load: SCALE.md "m08 audio near-dup"). Each window
    * is one codec `slice` + `feature`, so a real decoder (WavCodec) drops
    * in unchanged. */
  private def energyFingerprint(sess: MediaCodec.Session,
      payload: Array[Byte], horizon: Int): String = {
    // window boundaries land on codec frame boundaries (frameBytes) —
    // proportional BYTE offsets would slice 16-bit PCM mid-sample and
    // destroy gain covariance (caught by the m08 WAV spec)
    val fb = sess.frameBytes
    // frame count over the DECODED stream (planeLength), not the
    // container: a WAV header would shift every window and silence the
    // tail, and the same PCM re-containered (AU/AIFF) would fingerprint
    // differently — container-invariance is spec-pinned
    val nf = sess.planeLength(payload).toLong / fb
    deltaBits(Array.tabulate(horizon) { wi =>
      val startF = wi * nf / horizon
      val endF = ((wi + 2) * nf / horizon).min(nf)
      sess.feature(sess.slice(payload,
        (startF * fb).toInt, ((endF - startF) * fb).toInt)._1)
    })
  }

  /** Audio fingerprint: 64 bits over a 65-window horizon
    * ([[energyFingerprint]] per row). Shape: ZERO shuffles beyond the
    * codec stage's spread — only (doc_id, 64-char fingerprint) leaves the
    * scan. */
  def audioFingerprint(spark: SparkSession, media: DataFrame,
      horizon: Int = 65,
      codec: MediaCodec = MediaCodec.Stub): DataFrame = {
    import spark.implicits._
    codecStage(media, codec, spread = true) { sess =>
      _.map(m => (m.doc_id, energyFingerprint(sess, m.payload, horizon)))
    }.toDF("doc_id", "ahash")
  }

  /** Audio near-dup grouping — [[audioFingerprint]]'s energy-delta key
    * through [[perceptualNeighbors]]' banded Hamming machinery: the audio
    * twin of m06 (re-encoded/volume-shifted clips keep their energy
    * PROFILE — delta signs are invariant to uniform gain — so they land
    * within a few flipped bits). The DuckDB oracle re-derives the
    * fingerprint from the ASCII byte==char identity and brute-forces all
    * distinct-fingerprint pairs, exactly as m06's oracle does. */
  val m08 = QueryDef(
    "m08_audio_neardup",
    (s, d) => perceptualNeighbors(s, audioFingerprint(s, media(s, d))),
    Some(s"WITH ${oAudioFpCtes("b", "en", "h", "ahash")},$oNeighbourReport"),
    headline = true)

  // ---- content-defined audio granules (m10) ---------------------------

  /** m10 geometry. Landmark pattern: a cut lands after frame i when the
    * last 5 energy-delta SIGNS read 1,0,1,0,1 — expected spacing 2^5 = 32
    * frames on sign-balanced content. Granules shorter than
    * `m10MinFrames` frames are dropped. 33 fingerprint windows → 32 key
    * bits, wide enough that keys keep content-level selectivity at 64×
    * (the key-width A/B: SCALE.md "Round 11: m10"). For granules shorter
    * than 33 frames some windows are zero-width — lower entropy, still
    * deterministic and content-exact on both engines.
    * `m10MaxKeyClasses` is the skew backstop (the stop-landmark idea
    * production audio matchers apply to over-common landmarks): a key
    * held by more classes is dropped as non-identifying before the pair
    * join, bounding any single bucket's quadratic cost. At the measured
    * 64× corpus the cap drops 25 of 74 k keys and none of the ~64-class
    * sibling groups the salted corpus plants (SCALE.md m10). */
  private[graft] val m10MinFrames = 17
  private[graft] val m10FpWindows = 33
  private[graft] val m10MaxKeyClasses = 512

  /** Content-defined audio granule keys: the alignment-robust matching
    * signal. The proportional-grid global fingerprint
    * ([[audioFingerprint]]) decorrelates under a one-token edit because
    * EVERY window boundary is a fraction of total length (measured min
    * Hamming 19 on true pairs, SCALE.md) — and a single best-offset
    * search cannot repair a MIDDLE insertion either (the prefix aligns at
    * offset 0, the suffix at ±k; no global shift fits both). Production
    * matchers anchor analysis to CONTENT landmarks, so an edit stays
    * local: here a granule boundary is cut wherever the last 5 delta-sign
    * bits of the frame-energy stream match `10101` (delta SIGNS, not raw
    * energies, so boundaries — like the granule fingerprints — are
    * invariant to uniform gain). An insertion corrupts only the granule
    * containing it (and possibly its neighbor); every other granule's
    * bytes, boundaries, and fingerprint are untouched, so near-dups keep
    * a majority of granule keys in common no matter WHERE the edit lands.
    *
    * Per granule (≥ [[m10MinFrames]] frames): [[m10FpWindows]] (33)
    * proportional 50%-overlap windows within the granule → 32
    * [[deltaBits]]; key = `"<frameLen>:<bits>"`. Keys are exact-join
    * tokens — candidate generation is an equi-join (banding degenerates
    * to exact matching; no Hamming search, no cross join). Returns the
    * payload's decoded content digest (class key) plus the DISTINCT
    * granule keys.
    *
    * Semantics are frame-aligned through the [[MediaCodec]] seam (frame
    * energies via `feature` over single frames of the decoded plane) —
    * the stub's byte==frame identity makes the whole chain one SQL
    * spelling ([[oGranuleCtes]]). */
  private[graft] def granuleKeys(
      sess: MediaCodec.Session, payload: Array[Byte]): (String, Array[String]) = {
    val fb = sess.frameBytes
    val planeLen = sess.planeLength(payload)
    val (plane, digest) = sess.slice(payload, 0, planeLen)
    val nf = plane.length / fb
    val scratch = new Array[Byte](fb)
    val e = new Array[Long](nf)
    var i = 0
    while (i < nf) {
      System.arraycopy(plane, i * fb, scratch, 0, fb)
      e(i) = sess.feature(scratch)
      i += 1
    }
    @inline def dSign(j: Int): Boolean = e(j + 1) > e(j)
    // window energy = SUM of per-frame energies over the window's frames
    // (frame-additive by DEFINITION of this chain — both shipped codec
    // features, byte sum and |sample| sum, are additive across frames,
    // and the DuckDB oracle spells window energy as the same plain sum),
    // so one prefix-sum array answers every window in O(1) instead of
    // re-reading each granule's bytes ~2× through 33 allocated copies
    val pre = new Array[Long](nf + 1)
    i = 0
    while (i < nf) { pre(i + 1) = pre(i) + e(i); i += 1 }
    val keys = scala.collection.mutable.LinkedHashSet.empty[String]
    def emit(gs: Int, ge: Int): Unit = {
      val gl = ge - gs + 1
      if (gl >= m10MinFrames) {
        val en = Array.tabulate(m10FpWindows) { wi =>
          pre(gs + math.min((wi + 2) * gl / m10FpWindows, gl)) -
            pre(gs + wi * gl / m10FpWindows)
        }
        keys += s"$gl:${deltaBits(en)}"
      }
    }
    var start = 0
    i = 4 // first frame where 5 delta bits exist behind it
    while (i <= nf - 2) {
      if (dSign(i - 4) && !dSign(i - 3) && dSign(i - 2) && !dSign(i - 1) &&
          dSign(i)) {
        emit(start, i)
        start = i + 1
      }
      i += 1
    }
    if (nf > 0) emit(start, nf - 1)
    (digest, keys.toArray)
  }

  /** Binary-payload frame → `(doc_id, dg, gkeys)`: content digest (the
    * duplicate-class key) plus distinct granule keys, one row per doc
    * ([[granuleKeys]] per row). */
  def audioGranules(spark: SparkSession, media: DataFrame,
      codec: MediaCodec = MediaCodec.Stub): DataFrame = {
    import spark.implicits._
    codecStage(media, codec, spread = true) { sess =>
      _.map { m =>
        val (dg, keys) = granuleKeys(sess, m.payload)
        (m.doc_id, dg, keys)
      }
    }.toDF("doc_id", "dg", "gkeys")
  }

  /** ONE corpus decode for m09: the [[aHash]], [[energyFingerprint]] and
    * [[granuleKeys]] kernels composed in a single codec stage, so m09
    * pays one scan and decode and no doc_id re-join (the three-pass A/B:
    * SCALE.md "Round 12: m09 one-pass media features"). The standalone
    * operators stay the single-signal building blocks for
    * m05/m06/m08/m10. */
  private[graft] def mediaFeatures(spark: SparkSession, media: DataFrame,
      srcW: Int = 32, horizon: Int = 65,
      codec: MediaCodec = MediaCodec.Stub): DataFrame = {
    import spark.implicits._
    codecStage(media, codec, spread = true) { sess =>
      _.map { m =>
        val ihash = aHash(sess, m.payload, srcW)
        val afp = energyFingerprint(sess, m.payload, horizon)
        val (dg, keys) = granuleKeys(sess, m.payload)
        (m.doc_id, ihash, afp, dg, keys)
      }
    }.toDF("doc_id", "ihash", "afp", "dg", "gkeys")
  }

  /** DuckDB spelling of the granule chain over the stub's byte==frame
    * identity, ending at `gkName(doc_id, gkey)` (DISTINCT keys per doc) —
    * ONE spelling shared by the m10 and m09 oracles so they cannot
    * drift. 1-based byte positions mirror the engine's 0-based frames
    * (engine frame i ↔ byte p = i+1); cut after byte p ∈ [5, n-1] iff
    * delta signs d[p-4..p] = 1,0,1,0,1 with d[k] = (ascii(k+1) >
    * ascii(k)); final cut at n. */
  private def oGranuleCtes(pfx: String, gkName: String): String = s"""
      ${pfx}d AS (SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS n,
               list_transform(range(1, CAST(strlen(text) AS BIGINT)), p ->
                 CASE WHEN ascii(substring(text, CAST(p + 1 AS INT), 1)) >
                           ascii(substring(text, CAST(p AS INT), 1))
                      THEN 1 ELSE 0 END) AS dl
             FROM documents),
      ${pfx}c AS (SELECT doc_id, text,
               list_append(list_filter(range(5, n), p ->
                 dl[CAST(p - 4 AS INT)] = 1 AND dl[CAST(p - 3 AS INT)] = 0 AND
                 dl[CAST(p - 2 AS INT)] = 1 AND dl[CAST(p - 1 AS INT)] = 0 AND
                 dl[CAST(p AS INT)] = 1), n) AS cuts
             FROM ${pfx}d),
      ${pfx}g AS (SELECT doc_id, text,
               CASE WHEN k = 1 THEN CAST(1 AS BIGINT)
                    ELSE cuts[CAST(k - 1 AS INT)] + 1 END AS gs,
               cuts[CAST(k AS INT)] AS ge
             FROM (SELECT doc_id, text, cuts,
                     unnest(range(1, len(cuts) + 1)) AS k
                   FROM ${pfx}c)),
      ${pfx}e AS (SELECT doc_id, ge - gs + 1 AS gl,
               list_transform(range(0, $m10FpWindows), wi ->
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(
                     range(gs + (wi * (ge - gs + 1)) // $m10FpWindows,
                           gs + least(((wi + 2) * (ge - gs + 1)) // $m10FpWindows,
                                      ge - gs + 1)),
                     p -> CAST(ascii(substring(text, CAST(p AS INT), 1)) AS BIGINT))),
                   (a, c) -> a + c)) AS en
             FROM ${pfx}g WHERE ge - gs + 1 >= $m10MinFrames),
      $gkName AS (SELECT DISTINCT doc_id,
               gl || ':' || array_to_string(
                 list_transform(range(0, ${m10FpWindows - 1}), i ->
                   CASE WHEN en[CAST(i + 2 AS INT)] > en[CAST(i + 1 AS INT)]
                        THEN '1' ELSE '0' END), '') AS gkey
             FROM ${pfx}e)"""

  /** m10 match rule: classes match when they share at least 2 granule
    * keys AND at least half of the smaller side's keys. ONE spelling —
    * [[oGranuleMatchSql]] — drives the engine SQL, both oracles, and
    * (via this Scala twin, spec-pinned) the test-side checks, so the
    * shipped threshold cannot drift from the documented rule. */
  private[graft] def granuleMatched(shared: Long, na: Long, nb: Long): Boolean =
    shared >= 2 && 2 * shared >= math.min(na, nb)

  /** SQL spelling of [[granuleMatched]], valid in Spark SQL and DuckDB. */
  private[graft] def oGranuleMatchSql(c: String, na: String, nb: String): String =
    s"($c >= 2 AND 2 * $c >= least($na, $nb))"

  /** Alignment-robust audio near-dup via content-defined granules — the
    * production answer to [[audioFingerprint]]'s measured alignment
    * sensitivity (a one-token edit decorrelates the proportional global
    * grid; SCALE.md m09). Per duplicate-class (decoded-content digest):
    * its size, canonical doc, granule count, and the classes it matches
    * under [[granuleMatched]] — matching is a granule-key EQUI-join
    * (distinct-class collapse first, exact keys, no Hamming search), so
    * candidates stay bucketed at any corpus size. The DuckDB oracle
    * re-derives granules from the byte==frame identity and counts the
    * same shared keys — an independent end-to-end derivation. */
  val m10 = QueryDef(
    "m10_audio_granule_neardup",
    (s, d) => {
      import s.implicits._
      // class collapse BEFORE the key join (m06's rule): one row per
      // distinct decoded content, metadata-width, staged so its three
      // consumers below (ck0, nbv's class sizes, the output) never re-run
      // the scan+granulate pass
      val cls = staged("m10_cls", d) {
        audioGranules(s, media(s, d))
          .groupBy($"dg")
          .agg(min($"doc_id").as("canonical_doc"),
            count(lit(1)).as("n_docs"), first($"gkeys").as("gkeys"))
      }
      // pin the exchange key + count: the key frame is tiny but the join
      // OUTPUT is the candidate explosion (m08's AQE coalesce trap)
      val ck0 = cls.select($"dg", explode($"gkeys").as("gkey"))
        .repartition(s.sparkContext.defaultParallelism, $"gkey")
      // stop-landmark skew backstop: keys held by > m10MaxKeyClasses
      // classes are non-identifying; dropping them bounds the worst
      // bucket's quadratic pair cost (metadata-width window count —
      // ck0 is already partitioned by gkey, so no extra exchange)
      // ck feeds the denominators and both self-join sides, so it is
      // checkpointed once; its leaf keeps ck0's gkey hash partitioning,
      // so neither self-join side re-exchanges (pinned in PlanShapeSpec)
      val ck = roundCheckpoint(ck0.withColumn("kc",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy($"gkey")))
        .where($"kc" <= m10MaxKeyClasses).drop("kc"))
      // denominators count INFORMATIVE (kept) keys, consistently with
      // the shared counts the rule compares them to
      val ng = ck.groupBy($"dg").agg(count(lit(1)).as("n_g"))
      val sh = ck.as("a")
        .join(ck.as("b"), $"a.gkey" === $"b.gkey" && $"a.dg" < $"b.dg")
        .groupBy($"a.dg".as("da"), $"b.dg".as("db"))
        .agg(count(lit(1)).as("c"))
      val mt = sh
        .join(ng.select($"dg".as("da"), $"n_g".as("na")), "da")
        .join(ng.select($"dg".as("db"), $"n_g".as("nb")), "db")
        .where(expr(oGranuleMatchSql("c", "na", "nb")))
        .select($"da", $"db")
      val nbv = bothWays(mt, "da", "db", "dg")
        .join(cls.select($"dg".as("other"), $"n_docs".as("od")), "other")
        .groupBy($"dg")
        .agg(count(lit(1)).as("n_matched_classes"),
          sum($"od").as("n_matched_docs"))
      cls.join(ng, Seq("dg"), "left").join(nbv, Seq("dg"), "left")
        .select($"canonical_doc", $"n_docs",
          coalesce($"n_g", lit(0L)).as("n_granules"),
          coalesce($"n_matched_classes", lit(0L)).as("n_matched_classes"),
          coalesce($"n_matched_docs", lit(0L)).as("n_matched_docs"))
    },
    Some(s"""
      WITH ${oGranuleCtes("g", "gk")},
      cls AS (SELECT md5(text) AS dg, min(doc_id) AS canonical_doc,
                CAST(count(*) AS BIGINT) AS n_docs
              FROM documents GROUP BY md5(text)),
      ck0 AS (SELECT c.dg, g.gkey
              FROM cls c JOIN gk g ON g.doc_id = c.canonical_doc),
      ck AS (SELECT dg, gkey FROM (SELECT dg, gkey,
               count(*) OVER (PARTITION BY gkey) AS kc FROM ck0)
             WHERE kc <= $m10MaxKeyClasses),
      ng AS (SELECT dg, CAST(count(*) AS BIGINT) AS n_g FROM ck GROUP BY dg),
      sh AS (SELECT a.dg AS da, b.dg AS db, CAST(count(*) AS BIGINT) AS c
             FROM ck a JOIN ck b ON a.gkey = b.gkey AND a.dg < b.dg
             GROUP BY 1, 2),
      mt AS (SELECT da, db FROM sh
             JOIN ng na ON sh.da = na.dg JOIN ng nb ON sh.db = nb.dg
             WHERE ${oGranuleMatchSql("c", "na.n_g", "nb.n_g")}),
      ed AS (SELECT da AS dg, db AS other FROM mt
             UNION ALL SELECT db, da FROM mt),
      nbv AS (SELECT ed.dg, CAST(count(*) AS BIGINT) AS n_matched_classes,
                CAST(sum(c2.n_docs) AS BIGINT) AS n_matched_docs
              FROM ed JOIN cls c2 ON ed.other = c2.dg GROUP BY ed.dg)
      SELECT cls.canonical_doc, cls.n_docs,
             CAST(coalesce(ng.n_g, 0) AS BIGINT) AS n_granules,
             CAST(coalesce(nbv.n_matched_classes, 0) AS BIGINT) AS n_matched_classes,
             CAST(coalesce(nbv.n_matched_docs, 0) AS BIGINT) AS n_matched_docs
      FROM cls LEFT JOIN ng ON cls.dg = ng.dg
               LEFT JOIN nbv ON cls.dg = nbv.dg"""),
    headline = true)

  /** Cross-modal consensus dedup — the multi-signal verdict a production
    * dedup pipeline ships to cut false positives: every text near-dup
    * CANDIDATE pair (d02's MinHash/LSH, jaccard ≥ 0.8) is corroborated
    * against two independent perceptual signals on the same payloads —
    * the image aHash (88% of true text near-dups within m06MaxHam bits,
    * measured at sf0.01) and the AUDIO signal as a GATING input:
    * content-defined granule overlap ([[granuleKeys]] — 84% of true pairs
    * matched at sf0.01; SCALE.md "Round 11: m10"), which is
    * alignment-robust where the m08 global fingerprint is not. The global
    * fingerprint's Hamming stays reported as `ham_audio` (the m08
    * grouping signal and the measured illustration of WHY granules are
    * needed: a single-token edit shifts every proportional window span,
    * decorrelating the deltas — min Hamming 19 across true pairs).
    * `consensus` = image within tolerance AND audio granule match
    * (same decoded content, or ≥ 2 shared granule keys covering ≥ half
    * of the smaller side — [[granuleMatched]]).
    *
    * Scale shape: the candidate set is d02's (band-joined, small
    * relative to the corpus but DATA-DEPENDENT — a duplication-heavy
    * corpus can produce a fat pair set); the per-doc feature frame
    * (64-bit image key + 64-bit audio key) is computed ONCE,
    * checkpointed, and the pair frame joins it twice by doc id. The
    * join strategy is deliberately left to AQE's runtime size decision:
    * a pinned broadcast hint OOM'd the driver at 64× (the checkpointed
    * feature frame landed on the broadcast side), while AQE broadcasts
    * whichever side is actually small and falls back to a shuffle join
    * — same logical plan — when neither is. */
  val m09 = QueryDef(
    "m09_crossmodal_consensus",
    (s, d) => {
      import s.implicits._
      // ONE decode pass for all three signals (see [[mediaFeatures]])
      val feats = roundCheckpoint(mediaFeatures(s, media(s, d)))
      val pairs = graft.ops.DedupOps.d02.run(s, d)
        .select($"doc_a", $"doc_b", $"jaccard")
      val withA = feats.as("fa")
        .join(pairs.as("p"), $"fa.doc_id" === $"p.doc_a")
        .select($"p.doc_a", $"p.doc_b", $"p.jaccard",
          $"fa.ihash".as("ia"), $"fa.afp".as("aa"),
          $"fa.dg".as("dga"), $"fa.gkeys".as("ga"))
      val withB = feats.as("fb")
        .join(withA.as("x"), $"fb.doc_id" === $"x.doc_b")
        .select($"x.doc_a", $"x.doc_b", $"x.jaccard",
          expr(sHam64("x.ia", "fb.ihash")).as("ham_image"),
          expr(sHam64("x.aa", "fb.afp")).as("ham_audio"),
          ($"x.dga" === $"fb.dg").as("same_audio"),
          size(array_intersect($"x.ga", $"fb.gkeys")).cast("long")
            .as("audio_shared"),
          least(size($"x.ga"), size($"fb.gkeys")).cast("long").as("min_g"))
      withB
        .withColumn("audio_match", $"same_audio" ||
          expr(oGranuleMatchSql("audio_shared", "min_g", "min_g")))
        .withColumn("consensus",
          $"ham_image" <= lit(m06MaxHam) && $"audio_match")
        .drop("same_audio", "min_g")
    },
    Some(s"""
      WITH pairs AS (SELECT * FROM (${graft.ops.DedupOps.d02.oracle.get})),
      $oAHashCtes,
      ${oAudioFpCtes("ab", "aen", "ah", "afp")},
      ${oGranuleCtes("cg", "cgk")},
      ddg AS (SELECT doc_id, md5(text) AS dg FROM documents),
      ngd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_g
              FROM cgk GROUP BY doc_id),
      sh2 AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS c
              FROM pairs p
              JOIN cgk ga2 ON ga2.doc_id = p.doc_a
              JOIN cgk gb2 ON gb2.doc_id = p.doc_b AND ga2.gkey = gb2.gkey
              GROUP BY 1, 2),
      j AS (SELECT p.doc_a, p.doc_b, p.jaccard,
              ${oHam64("ia.ahash", "ib.ahash")} AS ham_image,
              ${oHam64("aa.afp", "bb.afp")} AS ham_audio,
              CAST(coalesce(s.c, 0) AS BIGINT) AS audio_shared,
              (da.dg = db.dg) OR ${oGranuleMatchSql("coalesce(s.c, 0)",
                "coalesce(na.n_g, 0)", "coalesce(nb.n_g, 0)")}
                AS audio_match
            FROM pairs p
            JOIN h ia ON p.doc_a = ia.doc_id
            JOIN h ib ON p.doc_b = ib.doc_id
            JOIN ah aa ON p.doc_a = aa.doc_id
            JOIN ah bb ON p.doc_b = bb.doc_id
            JOIN ddg da ON p.doc_a = da.doc_id
            JOIN ddg db ON p.doc_b = db.doc_id
            LEFT JOIN sh2 s ON p.doc_a = s.doc_a AND p.doc_b = s.doc_b
            LEFT JOIN ngd na ON p.doc_a = na.doc_id
            LEFT JOIN ngd nb ON p.doc_b = nb.doc_id)
      SELECT doc_a, doc_b, jaccard, ham_image, ham_audio, audio_shared,
             audio_match,
             ham_image <= $m06MaxHam AND audio_match AS consensus
      FROM j"""))

  /** The per-frame kernel of [[detectShots]] and [[detectSpeech]]: the
    * decoded plane cut into consecutive frames of `frameBytes` (aligned
    * down to the codec's sample granularity — a 16-bit PCM plane must not
    * slice mid-sample, m10's geometry rule), each frame's codec feature,
    * its feature length-normalized to per-full-frame scale (so the short
    * tail frame cannot fake a cut or a gate: `feat·fb div len`) and its
    * content digest. */
  private final case class Frames(feats: Array[Long], scaled: Array[Long],
      md5s: Array[String])

  private def frames(sess: MediaCodec.Session, payload: Array[Byte],
      frameBytes: Int): Frames = {
    val fb = math.max(frameBytes / sess.frameBytes, 1) * sess.frameBytes
    val n = (sess.planeLength(payload) + fb - 1) / fb
    val f = Frames(new Array[Long](n), new Array[Long](n), new Array[String](n))
    var i = 0
    while (i < n) {
      val (bytes, hex) = sess.slice(payload, i * fb, fb)
      f.feats(i) = sess.feature(bytes)
      f.md5s(i) = hex
      f.scaled(i) = f.feats(i) * fb / math.max(bytes.length, 1)
      i += 1
    }
    f
  }

  /** DuckDB spelling of [[frames]] over the stub's plane (the text
    * itself) for `fb`-byte frames of the non-empty documents, ending at
    * `g(doc_id, fi, feat, fmd5, sc)` — ONE spelling for m11 and m12. */
  private def oFrameCtes(fb: Int): String = s"""
      b AS (SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS len
                 FROM documents WHERE strlen(text) > 0),
      f AS (SELECT doc_id, text, len,
              unnest(range(0, (len + ${fb - 1}) // $fb)) AS fi FROM b),
      sub AS (SELECT doc_id, fi,
                substring(text, CAST(fi * $fb + 1 AS INT), $fb) AS fr FROM f),
      e AS (SELECT doc_id, fi, CAST(length(fr) AS BIGINT) AS flen,
              ${oByteSum("fr")} AS feat, md5(fr) AS fmd5
            FROM sub),
      g AS (SELECT doc_id, fi, feat, fmd5, (feat * $fb) // flen AS sc FROM e)"""

  final case class ShotMeta(doc_id: Long, shot_idx: Long, start_frame: Long,
      n_frames: Long, energy_sum: Long, key_frame_idx: Long,
      key_frame_md5: String)

  /** Shot-boundary sensitivity: a cut fires when the per-byte frame
    * feature jumps by more than 1/`shotSensitivity` of the larger side
    * (16 → a 6.25% relative jump). Measured on the gate corpus: 16
    * yields 64 cuts over 2640 frames at sf0.001 (healthy segmentation);
    * 4 (25%) fires zero cuts, 32 (~3%) fires on 18% of frames
    * (chatter). */
  private[graft] val shotSensitivity = 16L

  /** Shot-boundary detection + keyframe selection — the video
    * preprocessing stage a multimodal training pipeline runs before
    * captioning/sampling (PySceneDetect's content-detector shape: a cut
    * where the inter-frame feature delta exceeds a threshold, then one
    * representative keyframe per shot). Frames are [[frames]]: m02's
    * video-frame grid with stride = frame size (segmentation needs every
    * consecutive delta, not m02's every-Nth sample). The cut rule is
    * RELATIVE — `sens·|Δ| > max(prev, cur)` over the scaled features — so
    * it is invariant to global intensity scaling (a brighter encode of
    * the same video cuts identically), the same reason m08/m10 use delta
    * SIGNS. Per shot: frame span, energy sum, and the argmax-feature
    * keyframe (first-frame tie-break) with its content digest — the
    * frame a captioner/sampler would take.
    *
    * Scale shape: ONE row-wise flatMap in the codec stage — zero joins;
    * per-doc state is the frame arrays plus the current shot accumulator
    * (bounded by document length, never corpus-scale). */
  def detectShots(spark: SparkSession, media: DataFrame,
      frameBytes: Int = 64, sensitivity: Long = shotSensitivity,
      codec: MediaCodec = MediaCodec.Stub): DataFrame = {
    import spark.implicits._
    codecStage(media, codec, spread = true) { sess =>
      _.flatMap { m =>
        val Frames(feats, scaled, md5s) = frames(sess, m.payload, frameBytes)
        val n = feats.length
        val out = scala.collection.mutable.ArrayBuffer.empty[ShotMeta]
        var shotStart = 0
        def emit(endExcl: Int): Unit = {
          var e = 0L
          var kf = shotStart
          var j = shotStart
          while (j < endExcl) {
            e += feats(j)
            if (feats(j) > feats(kf)) kf = j
            j += 1
          }
          out += ShotMeta(m.doc_id, out.length.toLong, shotStart.toLong,
            (endExcl - shotStart).toLong, e, kf.toLong, md5s(kf))
        }
        var i = 1
        while (i < n) {
          val a = scaled(i - 1)
          val b = scaled(i)
          if (sensitivity * math.abs(b - a) > math.max(a, b)) {
            emit(i); shotStart = i
          }
          i += 1
        }
        if (n > 0) emit(n)
        out.iterator
      }
    }.toDF()
  }

  /** Oracle: [[oFrameCtes]], and the shot segmentation as a lag +
    * running-sum-of-cuts window. */
  val m11 = QueryDef(
    "m11_shot_detection",
    (s, d) => detectShots(s, media(s, d)),
    Some(s"""
      WITH ${oFrameCtes(64)},
      c AS (SELECT doc_id, fi, feat, fmd5, sc,
              CASE WHEN lag(sc) OVER w IS NULL THEN 0
                   WHEN $shotSensitivity * abs(sc - lag(sc) OVER w)
                        > greatest(sc, lag(sc) OVER w) THEN 1
                   ELSE 0 END AS cut
            FROM g WINDOW w AS (PARTITION BY doc_id ORDER BY fi)),
      st AS (SELECT doc_id, fi, feat, fmd5,
               sum(cut) OVER (PARTITION BY doc_id ORDER BY fi) AS shot_idx
             FROM c),
      k AS (SELECT doc_id, fi, feat, fmd5, shot_idx,
              row_number() OVER (PARTITION BY doc_id, shot_idx
                ORDER BY feat DESC, fi) AS rk
            FROM st)
      SELECT doc_id,
             CAST(shot_idx AS BIGINT) AS shot_idx,
             CAST(min(fi) AS BIGINT) AS start_frame,
             CAST(count(*) AS BIGINT) AS n_frames,
             CAST(sum(feat) AS BIGINT) AS energy_sum,
             CAST(max(CASE WHEN rk = 1 THEN fi END) AS BIGINT) AS key_frame_idx,
             max(CASE WHEN rk = 1 THEN fmd5 END) AS key_frame_md5
      FROM k GROUP BY doc_id, shot_idx"""),
    headline = true)

  final case class VadMeta(doc_id: Long, seg_idx: Long, start_frame: Long,
      n_frames: Long, seg_energy: Long)

  /** Activity margin in percent over the document's mean frame energy:
    * a frame is ACTIVE iff its length-normalized energy is
    * ≥ (100+margin)% of the doc mean. 0 = "above own mean" — the classic
    * energy-gate VAD baseline. */
  private[graft] val vadMargin = 0L

  /** Voice-activity segmentation — the silence-trimming stage a speech
    * pipeline runs before transcription/alignment (energy-gate VAD,
    * the webrtcvad/SAD baseline shape): frames whose energy clears a
    * DOC-RELATIVE threshold are active, and maximal runs of active
    * frames become the speech segments a forced aligner or ASR stage
    * consumes. The threshold is relative to the document's own mean
    * ([[vadMargin]]) so a quiet recording segments the same as a loud
    * one — m11's scaling-invariance argument, applied to the gate level
    * rather than the delta. Frames are [[frames]] (scaled per full
    * frame, the m11 tail rule) and the activity compare is exact integer
    * cross-multiplication (scaled·n·100 ≥ total·(100+margin)) — no
    * division, bit-identical in SQL.
    *
    * Scale shape: ONE row-wise flatMap in the codec stage; per-doc state
    * is the frame-feature array (bounded by document length). */
  def detectSpeech(spark: SparkSession, media: DataFrame,
      frameBytes: Int = 48, marginPct: Long = vadMargin,
      codec: MediaCodec = MediaCodec.Stub): DataFrame = {
    import spark.implicits._
    codecStage(media, codec, spread = true) { sess =>
      _.flatMap { m =>
        val Frames(feats, scaled, _) = frames(sess, m.payload, frameBytes)
        val n = feats.length
        val tot = scaled.sum
        val out = scala.collection.mutable.ArrayBuffer.empty[VadMeta]
        var segStart = -1
        var segE = 0L
        def close(endExcl: Int): Unit = {
          out += VadMeta(m.doc_id, out.length.toLong, segStart.toLong,
            (endExcl - segStart).toLong, segE)
          segStart = -1
        }
        var i = 0
        while (i < n) {
          if (scaled(i) * n * 100L >= tot * (100L + marginPct)) {
            if (segStart < 0) { segStart = i; segE = 0L }
            segE += feats(i)
          } else if (segStart >= 0) close(i)
          i += 1
        }
        if (segStart >= 0) close(n)
        out.iterator
      }
    }.toDF()
  }

  /** Oracle: [[oFrameCtes]] + the activity gate as the same integer
    * cross-multiplication, runs via lag-head + running-sum-of-heads over
    * active frames only (coverageTail's span idiom). */
  val m12 = QueryDef(
    "m12_speech_segments",
    (s, d) => detectSpeech(s, media(s, d)),
    Some(s"""
      WITH ${oFrameCtes(48)},
      t AS (SELECT doc_id, fi, feat, sc,
              count(*) OVER (PARTITION BY doc_id) AS nf,
              sum(sc) OVER (PARTITION BY doc_id) AS tot
            FROM g),
      a AS (SELECT doc_id, fi, feat,
              CASE WHEN sc * nf * 100 >= tot * (100 + $vadMargin)
                   THEN 1 ELSE 0 END AS act
            FROM t),
      h AS (SELECT doc_id, fi, feat, act,
              CASE WHEN act = 1 AND coalesce(lag(act) OVER
                (PARTITION BY doc_id ORDER BY fi), 0) = 0
              THEN 1 ELSE 0 END AS head
            FROM a),
      r AS (SELECT doc_id, fi, feat, act,
              sum(head) OVER (PARTITION BY doc_id ORDER BY fi) AS seg1
            FROM h)
      SELECT doc_id,
             CAST(seg1 - 1 AS BIGINT) AS seg_idx,
             CAST(min(fi) AS BIGINT) AS start_frame,
             CAST(count(*) AS BIGINT) AS n_frames,
             CAST(sum(feat) AS BIGINT) AS seg_energy
      FROM r WHERE act = 1 GROUP BY doc_id, seg1"""),
    headline = true)

  val all: Seq[QueryDef] =
    Seq(m01, m02, m03, m04, m05, m06, m07, m08, m09, m10, m11, m12)
}
