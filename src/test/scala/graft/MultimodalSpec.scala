package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{MediaCodec, MultimodalOps}

/** The multimodal operators' pluggable-codec seam: a deployment with real
  * media libraries registers its own [[MediaCodec]] and the operator
  * plumbing (schemas, batching, flatMap geometry) is untouched. */
object CodecProbe {
  // static (not serialized with the codec): counts session opens across
  // executor threads in this local-mode JVM
  val opens = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Recognizably-not-the-stub codec: constant media type, reversed-slice
  * "decode", digest = length in hex, feature = first byte. */
class ReversingCodec extends MediaCodec {
  def open(): MediaCodec.Session = {
    CodecProbe.opens.incrementAndGet()
    new MediaCodec.Session {
      def metadata(in: MultimodalOps.MediaIn): MultimodalOps.MediaMeta =
        MultimodalOps.MediaMeta(in.doc_id, "custom", 1L, 1L, 1L,
          in.payload.length.toLong)
      def slice(payload: Array[Byte], start: Int, len: Int): (Array[Byte], String) = {
        val bytes = java.util.Arrays.copyOfRange(
          payload, start, math.min(start + len, payload.length)).reverse
        (bytes, f"${bytes.length}%08x")
      }
      def feature(bytes: Array[Byte]): Long =
        if (bytes.isEmpty) -1L else (bytes(0) & 0xff).toLong
      def resize(payload: Array[Byte], srcW: Int, dstW: Int, dstH: Int): Array[Int] =
        Array.fill(dstW * dstH)(7) // recognizably-not-the-stub constant
    }
  }
}

class MultimodalSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  private def media = {
    import spark.implicits._
    graft.ops.Q.table(spark, dir, "documents")
      .select($"doc_id", $"text".cast("binary").as("payload"), $"source")
  }

  test("mediaFeatures == the three standalone passes, column for column (no-drift pin)") {
    import spark.implicits._
    // m09's single-decode pass composes the aHash, energy-fingerprint and
    // granule kernels of the three standalone operators; this pin checks
    // that the composition wires each kernel to its own column
    def keyed(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select("doc_id", cols: _*).collect()
        .map(r => r.getLong(0) -> cols.map(c => r.get(r.fieldIndex(c)) match {
          case a: scala.collection.Seq[_] => a.toVector
          case x => x
        }).toVector).toMap
    val fused = MultimodalOps.mediaFeatures(spark, media)
      .withColumn("gkeys", $"gkeys".cast("array<string>"))
    val f = keyed(fused, "ihash", "afp", "dg", "gkeys")
    val ih = keyed(MultimodalOps.perceptualHash(spark, media)
      .withColumnRenamed("ahash", "ihash"), "ihash")
    val af = keyed(MultimodalOps.audioFingerprint(spark, media)
      .withColumnRenamed("ahash", "afp"), "afp")
    val gr = keyed(MultimodalOps.audioGranules(spark, media)
      .withColumn("gkeys", $"gkeys".cast("array<string>")), "dg", "gkeys")
    assert(f.keySet == ih.keySet && f.keySet == af.keySet && f.keySet == gr.keySet)
    f.foreach { case (id, v) =>
      assert(v(0) == ih(id)(0), s"ihash drift at doc $id")
      assert(v(1) == af(id)(0), s"afp drift at doc $id")
      assert(v(2) == gr(id)(0), s"dg drift at doc $id")
      assert(v(3) == gr(id)(1), s"gkeys drift at doc $id")
    }
  }

  test("a spreading codec stage widens a one-partition batch scan; a wide frame plans no extra exchange") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val par = spark.sparkContext.defaultParallelism
    def stage(df: org.apache.spark.sql.DataFrame) =
      MultimodalOps.codecStage(df, MediaCodec.Stub, spread = true)(_ => _.map(_.doc_id))
    def exchanges(ds: org.apache.spark.sql.Dataset[_]): Int =
      new AdaptiveSparkPlanHelper {}.collect(ds.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }.size
    assert(media.rdd.getNumPartitions == 1, "the sf0.001 documents scan is no longer one partition")
    assert(stage(media).rdd.getNumPartitions == par)
    assert(exchanges(stage(media)) == (if (par > 1) 1 else 0))
    // an RDD-backed frame: its partitions come from no exchange Catalyst
    // could collapse a second repartition into
    val wide = spark.createDataFrame(media.rdd.repartition(par), media.schema)
    assert(wide.rdd.getNumPartitions == par && exchanges(wide) == 0)
    assert(exchanges(stage(wide)) == 0, "a frame with defaultParallelism partitions was spread again")
  }

  test("a custom codec drops into every operator without plumbing changes") {
    import spark.implicits._
    val codec = new ReversingCodec
    val meta = MultimodalOps.decodeMetadata(spark, media, codec)
    assert(meta.select($"media_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("custom"))

    val frames = MultimodalOps.sampleFrames(spark, media, codec = codec)
    // digest comes from the custom codec (slice length in hex), and the
    // slice geometry (offsets, clamped lengths) stays the operator's
    val row = frames.where($"doc_id" === 0 && $"frame_idx" === 0).head()
    assert(row.getAs[String]("frame_md5") == f"${row.getAs[Long]("n_bytes")}%08x")

    val wins = MultimodalOps.segmentWindows(spark, media, codec = codec)
    // feature = first byte of the REVERSED window = last byte of the
    // original window: recompute from the source text and compare
    val w = wins.where($"doc_id" === 0 && $"win_idx" === 0).head()
    val text = graft.ops.Q.table(spark, dir, "documents")
      .where($"doc_id" === 0).head().getAs[String]("text")
    val lastByte = text.getBytes("UTF-8")
      .apply(math.min(96, text.getBytes("UTF-8").length) - 1) & 0xff
    assert(w.getAs[Long]("energy") == lastByte.toLong)
  }

  test("codec sessions open once per partition attempt") {
    CodecProbe.opens.set(0)
    val nParts = 5
    MultimodalOps.decodeMetadata(spark, media.repartition(nParts),
      new ReversingCodec).count()
    // >= rather than ==: a task retry or speculative attempt legitimately
    // re-runs open() for its partition — the pin is "no per-ROW opens",
    // so the ceiling is a small multiple of the partition count
    val opens = CodecProbe.opens.get()
    assert(opens >= nParts && opens <= 2 * nParts,
      s"expected ~one open per partition attempt, got $opens for $nParts partitions")
  }

  test("ImageIoCodec: a genuine JDK decoder proves the seam (PNG end to end)") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // deterministic in-memory PNGs: doc i is 8×(4+i) with a fixed gradient
    def image(w: Int, h: Int, seed: Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (((x * 37 + seed) % 256) << 16) |
          (((y * 11 + 2 * seed) % 256) << 8) | ((x + y + seed) % 256))
      img
    }
    def pngBytes(img: BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // the packed-RGB plane ImageIoCodec must produce (PNG is lossless)
    def plane(img: BufferedImage): Array[Byte] = {
      val out = new Array[Byte](img.getWidth * img.getHeight * 3)
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val rgb = img.getRGB(x, y)
        val i = (y * img.getWidth + x) * 3
        out(i) = ((rgb >> 16) & 0xff).toByte
        out(i + 1) = ((rgb >> 8) & 0xff).toByte
        out(i + 2) = (rgb & 0xff).toByte
      }
      out
    }
    val imgs = (0 until 4).map(i => i -> image(8, 4 + i, i)).toMap
    val df = imgs.toSeq.sortBy(_._1)
      .map { case (i, im) => (i.toLong, pngBytes(im), "test") }
      .toDF("doc_id", "payload", "source")

    // m01 path: real container parse
    val meta = MultimodalOps.decodeMetadata(spark, df, graft.ops.ImageIoCodec)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    for ((i, im) <- imgs) {
      val m = meta(i.toLong)
      assert(m.getAs[String]("media_type") == "image/png")
      assert(m.getAs[Long]("width") == im.getWidth)
      assert(m.getAs[Long]("height") == im.getHeight)
      assert(m.getAs[Long]("n_frames") == 1L)
    }

    // m02 path: frameBytes = 24 = one 8-px row of packed RGB → frame
    // digests must equal md5 over the independently computed plane rows
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(b: Array[Byte]): String = {
      md.reset(); md.digest(b).map("%02x".format(_)).mkString
    }
    val frames = MultimodalOps.sampleFrames(spark, df,
        frameBytes = 24, every = 2, codec = graft.ops.ImageIoCodec)
      .collect().map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx")) -> r).toMap
    val p0 = plane(imgs(0))
    val expected = md5hex(java.util.Arrays.copyOfRange(p0, 0, 24))
    // NOTE: sampleFrames derives nFrames from PAYLOAD length (the PNG
    // container), while slices address the decoded plane — for doc 0 the
    // 8×4 plane is 96 bytes, so frames 0 and 2 carry plane rows 0 and 2
    assert(frames((0L, 0L)).getAs[String]("frame_md5") == expected)
    assert(frames((0L, 2L)).getAs[String]("frame_md5") ==
      md5hex(java.util.Arrays.copyOfRange(p0, 48, 72)))

    // m03 path: luma feature over a scanline band, exact integers
    val wins = MultimodalOps.segmentWindows(spark, df,
        winBytes = 48, hopBytes = 24, codec = graft.ops.ImageIoCodec)
      .collect().map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Long]("win_idx")) -> r).toMap
    val band = java.util.Arrays.copyOfRange(p0, 24, 72) // rows 1-2
    var luma = 0L
    for (px <- 0 until band.length / 3)
      luma += 299L * (band(3 * px) & 0xff) + 587L * (band(3 * px + 1) & 0xff) +
        114L * (band(3 * px + 2) & 0xff)
    assert(wins((0L, 1L)).getAs[Long]("energy") == luma)
    assert(wins((0L, 1L)).getAs[String]("win_md5") == md5hex(band))

    // m04 path: REAL resize — nearest-neighbor over the decoded 8×4 grid
    // down to 4×2, intensities = exact integer luma from getRGB directly
    val thumbs = MultimodalOps.thumbnail(spark, df, dstW = 4, dstH = 2,
        codec = graft.ops.ImageIoCodec)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val im0 = imgs(0)
    val expectPx = for (y <- 0 until 2; x <- 0 until 4) yield {
      val rgb = im0.getRGB(x * im0.getWidth / 4, y * im0.getHeight / 2)
      (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
        114 * (rgb & 0xff)) / 1000
    }
    assert(thumbs(0L).getAs[Long]("thumb_energy") == expectPx.map(_.toLong).sum)
    assert(thumbs(0L).getAs[String]("thumb_md5") ==
      org.apache.commons.codec.digest.DigestUtils.md5Hex(expectPx.mkString("-")))

    // undecodable payload → honest unknown, no task failure
    val junk = Seq((99L, Array.tabulate[Byte](40)(_.toByte), "junk"))
      .toDF("doc_id", "payload", "source")
    val jm = MultimodalOps.decodeMetadata(spark, junk, graft.ops.ImageIoCodec).head()
    assert(jm.getAs[String]("media_type") == "unknown")
    assert(jm.getAs[Long]("size_bytes") == 40L)

    // m05 path: REAL perceptual hash — the same PNG re-encoded twice must
    // collide (aHash is a function of decoded pixels, not container
    // bytes), and a distinct gradient must not; bits follow the exact
    // integer brighter-than-mean rule over the decoded 8x8 luma grid
    val pair = Seq(
      (0L, pngBytes(imgs(0)), "a"), (1L, pngBytes(imgs(0)), "b"),
      (2L, pngBytes(imgs(3)), "c")).toDF("doc_id", "payload", "source")
    val hs = MultimodalOps.perceptualHash(spark, pair,
        codec = graft.ops.ImageIoCodec)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("ahash")).toMap
    assert(hs(0L).length == 64 && hs(0L).forall(c => c == '0' || c == '1'))
    assert(hs(0L) == hs(1L), "identical pixels must share an aHash")
    assert(hs(0L) != hs(2L), "distinct gradients must not collide")
    val im3 = imgs(0)
    val lumas = for (y <- 0 until 8; x <- 0 until 8) yield {
      val rgb = im3.getRGB(x * im3.getWidth / 8, y * im3.getHeight / 8)
      (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
        114 * (rgb & 0xff)) / 1000
    }
    val sum = lumas.map(_.toLong).sum
    val expectBits = lumas.map(v => if (v.toLong * 64L > sum) '1' else '0').mkString
    assert(hs(0L) == expectBits, "aHash bits must follow v*64 > sum over decoded luma")
  }

  test("documents.text is ASCII (the m01-m06 oracle byte==char assumption)") {
    // the DuckDB oracles index CHARACTERS (strlen/substring/ascii) while
    // the engine hashes payload BYTES; equivalence requires ASCII text.
    // Pin it on the shipped data rather than assume it silently.
    import spark.implicits._
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val bad = graft.ops.Q.table(spark, sf, "documents")
        .where(org.apache.spark.sql.functions.expr(
          "octet_length(text) <> length(text)"))
        .count()
      assert(bad == 0L, s"$sf has $bad non-ASCII documents — m0x oracles break")
    }
  }

  test("m06 banding: 1-2 flipped bits are neighbors, far hashes are not") {
    import spark.implicits._
    def flip(h: String, bits: Int*): String = {
      val a = h.toCharArray
      bits.foreach(b => a(b) = if (a(b) == '0') '1' else '0')
      new String(a)
    }
    val base = ("01" * 32).take(64)
    val rows = Seq(
      (0L, base), (1L, base),                   // exact dup class of 2
      (2L, flip(base, 5)),                      // 1 bit off
      (3L, flip(base, 17, 40)),                 // 2 bits off
      (4L, flip(base, 1, 2, 3, 4, 5, 6, 7, 8,
        9, 10, 11, 12, 13, 14, 15, 16, 20, 21, 22, 23)) // 20 bits off
    ).toDF("doc_id", "ahash")
    val got = MultimodalOps.perceptualNeighbors(spark, rows)
      .collect().map(r => r.getAs[String]("ahash") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_neighbor_hashes"),
          r.getAs[Long]("n_neighbor_docs")))).toMap
    // base class: 2 docs; neighbors = the 1-bit and 2-bit classes (2 docs)
    assert(got(base) == ((2L, 2L, 2L)))
    // 1-bit class: neighbors = base (2 docs) and the 2-bit class? ham
    // between flip(5) and flip(17,40) is 3 > maxHam — so base only
    assert(got(flip(base, 5)) == ((1L, 1L, 2L)))
    assert(got(flip(base, 17, 40)) == ((1L, 1L, 2L)))
    // the 20-bit outlier has no neighbors
    assert(got(flip(base, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14,
      15, 16, 20, 21, 22, 23)) == ((1L, 0L, 0L)))
  }

  test("m06: a JPEG re-encode of the same image lands in the same group") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // smooth gradient (JPEG-friendly: no hard edges → tiny luma error)
    val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 64; x <- 0 until 64) {
      val v = (x * 2 + y) & 0xff
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val df = Seq((0L, enc("png"), "orig"), (1L, enc("jpg"), "reenc"))
      .toDF("doc_id", "payload", "source")
    val h = MultimodalOps.perceptualHash(spark, df,
      codec = graft.ops.ImageIoCodec)
    val hs = h.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("ahash")).toMap
    val ham = hs(0L).zip(hs(1L)).count { case (a, b) => a != b }
    // JPEG output is encoder/JVM-dependent, so the perturbation bound is
    // deliberately LOOSE (<= 4 bits covers any mainstream encoder on this
    // gradient); the real invariant is the round-trip grouping below,
    // checked at a tolerance that covers the measured perturbation.
    assert(ham <= 4,
      s"lossy re-encode moved the aHash $ham bits — perturbation model broken")
    // PRODUCTION-tolerance pin, conditional so other JVMs' encoders don't
    // flake: when this encoder's perturbation is within the shipped
    // m06MaxHam (true here), the SHIPPED m06 query must group the pair —
    // a recall regression at the production threshold fails the build
    // rather than hiding behind the widened diagnostic tolerance below
    if (ham <= graft.ops.MultimodalOps.m06MaxHam && ham > 0) {
      val prod = MultimodalOps.perceptualNeighbors(spark, h)
        .collect().map(r => r.getAs[String]("ahash") ->
          r.getAs[Long]("n_neighbor_docs")).toMap
      assert(prod.values.forall(_ == 1L),
        "shipped m06 tolerance no longer groups a JPEG re-encode pair")
    }
    val tol = math.max(graft.ops.MultimodalOps.m06MaxHam, ham)
    val nb = MultimodalOps.perceptualNeighbors(spark, h, maxHam = tol)
      .collect().map(r => r.getAs[String]("ahash") ->
        r.getAs[Long]("n_neighbor_docs")).toMap
    if (ham == 0)
      assert(nb.size == 1, "identical hashes must form one class")
    else
      assert(nb.values.forall(_ == 1L),
        "each class must see the other as a near-dup neighbor")
  }

  test("WavCodec: a real WAV decode drives m01-m03 semantics on genuine PCM") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // deterministic 600-sample 16-bit LE mono PCM at 8 kHz, written as a
    // REAL WAV container by the JDK encoder — so the codec parses a real
    // header and decodes real sample data, and every expectation below is
    // recomputed driver-side from the raw samples
    val n = 600
    val samples = Array.tabulate(n)(i => ((i * 37) % 20001 - 10000).toShort)
    val pcm = new Array[Byte](2 * n)
    for (i <- 0 until n) {
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    assert(wav.length > pcm.length, "container must carry a real header")

    import spark.implicits._
    val df = Seq((7L, wav, "wav")).toDF("doc_id", "payload", "source")

    // m01: real container parse (rate/channels/frame count from the header)
    val m = MultimodalOps.decodeMetadata(spark, df, codec = graft.ops.WavCodec).head()
    assert(m.getAs[String]("media_type") == "audio/wave")
    assert(m.getAs[Long]("width") == 8000L)
    assert(m.getAs[Long]("height") == 1L)
    assert(m.getAs[Long]("n_frames") == n.toLong)
    assert(m.getAs[Long]("size_bytes") == wav.length.toLong)

    def sampleAt(b: Array[Byte], i: Int): Int =
      (((b(2 * i) & 0xff) | (b(2 * i + 1) << 8)).toShort).toInt

    // m03: overlapping analysis windows over the DECODED plane — energy
    // and digest must equal the driver-side computation on the raw PCM
    val wins = MultimodalOps.segmentWindows(spark, df,
      winBytes = 96, hopBytes = 48, codec = graft.ops.WavCodec).collect()
    assert(wins.nonEmpty)
    var checked = 0
    wins.foreach { r =>
      val start = r.getAs[Long]("byte_start").toInt - 1
      if (start < pcm.length) {
        val slice = pcm.slice(start, math.min(start + 96, pcm.length))
        assert(r.getAs[Long]("n_bytes") == slice.length.toLong)
        val energy = (0 until slice.length / 2)
          .map(i => math.abs(sampleAt(slice, i)).toLong).sum
        assert(r.getAs[Long]("energy") == energy,
          s"window at $start: energy mismatch")
        val mdig = java.security.MessageDigest.getInstance("MD5")
        assert(r.getAs[String]("win_md5") ==
          mdig.digest(slice).map("%02x".format(_)).mkString)
        checked += 1
      }
    }
    assert(checked > 5, "too few in-plane windows checked")
    assert(wins.exists(_.getAs[Long]("energy") > 0L), "silent decode")

    // m02: fixed-size frame sampling — digests over decoded sample blocks
    val frames = MultimodalOps.sampleFrames(spark, df,
      frameBytes = 64, every = 4, codec = graft.ops.WavCodec).collect()
    assert(frames.nonEmpty)
    frames.foreach { r =>
      val start = r.getAs[Long]("byte_start").toInt - 1
      val slice =
        if (start >= pcm.length) Array.emptyByteArray
        else pcm.slice(start, math.min(start + 64, pcm.length))
      val mdig = java.security.MessageDigest.getInstance("MD5")
      assert(r.getAs[String]("frame_md5") ==
        mdig.digest(slice).map("%02x".format(_)).mkString)
    }
  }

  test("the default stub keeps m01-m03 oracle-identical (regression pin)") {
    // the seam refactor must not disturb the gate outputs: spot-check the
    // stub against the documented pure functions
    import spark.implicits._
    val m = MultimodalOps.decodeMetadata(spark, media)
      .where($"doc_id" === 1).head()
    val len = m.getAs[Long]("size_bytes")
    assert(m.getAs[Long]("width") == (len * 31 + 7) % 640 + 1)
    assert(m.getAs[Long]("height") == (len * 17 + 3) % 480 + 1)
  }

  test("m08: audio fingerprint is gain-invariant on real WAVs, separates signals") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    def containerOf(samples: Array[Short],
        typ: AudioFileFormat.Type, bigEndian: Boolean): Array[Byte] = {
      val pcm = new Array[Byte](2 * samples.length)
      for (i <- samples.indices) {
        val (lo, hi) = if (bigEndian) (2 * i + 1, 2 * i) else (2 * i, 2 * i + 1)
        pcm(lo) = (samples(i) & 0xff).toByte
        pcm(hi) = ((samples(i) >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, bigEndian)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong),
        typ, bos)
      bos.toByteArray
    }
    def wavOf(samples: Array[Short]): Array[Byte] =
      containerOf(samples, AudioFileFormat.Type.WAVE, bigEndian = false)
    // EVEN samples so a 0.5× gain is exact integer halving: |s/2| = |s|/2,
    // window energies halve exactly, and every delta-sign comparison is
    // preserved — the invariance the fingerprint claims
    val base = Array.tabulate(600)(i => (((i * 37) % 10000 - 5000) * 2).toShort)
    val half = base.map(s => (s / 2).toShort)
    val other = Array.tabulate(600)(i => (((i * 101 + 13) % 10000 - 5000) * 2).toShort)
    import spark.implicits._
    val df = Seq((1L, wavOf(base), "wav"), (2L, wavOf(half), "wav"),
      (3L, wavOf(other), "wav")).toDF("doc_id", "payload", "source")
    val fps = MultimodalOps.audioFingerprint(spark, df, codec = graft.ops.WavCodec)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L).length == 64 && fps(1L).forall(c => c == '0' || c == '1'))
    assert(fps(1L) == fps(2L), "uniform 0.5x gain flipped delta signs")
    assert(fps(1L) != fps(3L), "distinct signals collided")
    // the banded neighbor pass groups the gain pair under one class
    val nb = MultimodalOps.perceptualNeighbors(spark,
      MultimodalOps.audioFingerprint(spark, df, codec = graft.ops.WavCodec))
    val row = nb.filter($"ahash" === fps(1L)).head()
    assert(row.getAs[Long]("n_docs") == 2L, "gain pair split across classes")
    assert(row.getAs[Long]("canonical_doc") == 1L)
    // container invariance: the SAME samples in an AIFF container
    // (different header length, big-endian frames) must fingerprint
    // identically — window geometry derives from the DECODED plane
    // (Session.planeLength), never container bytes
    val aiff = containerOf(base, javax.sound.sampled.AudioFileFormat.Type.AIFF,
      bigEndian = true)
    val df2 = Seq((9L, aiff, "aiff")).toDF("doc_id", "payload", "source")
    val fpAiff = MultimodalOps.audioFingerprint(spark, df2,
      codec = graft.ops.WavCodec).collect().head.getString(1)
    assert(fpAiff == fps(1L), "re-containered PCM changed the fingerprint")
  }

  test("sHam64 conv/XOR/bit_count expression == driver Hamming on 2000 random pairs") {
    // the codegen'd two-half Hamming drives m06/m08/m09 candidate scoring;
    // this randomized audit pins it to a straightforward driver count,
    // including the all-zeros / all-ones / single-half-difference edges
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def fp(): String = Seq.fill(64)(if (rnd.nextBoolean()) '1' else '0').mkString
    val cases = Seq("0" * 64, "1" * 64, "1" + "0" * 63, "0" * 63 + "1") ++
      Seq.fill(1996)(fp())
    val pairs = cases.map(a => (a, if (rnd.nextBoolean()) fp() else a))
    val got = pairs.toDF("ha", "hb")
      .selectExpr(graft.ops.MultimodalOps.sHam64("ha", "hb") + " AS ham")
      .collect().map(_.getLong(0)).toSeq
    val want = pairs.map { case (a, b) =>
      a.zip(b).count { case (x, y) => x != y }.toLong
    }
    assert(got == want)
  }

  test("m09: image AND audio granule signals both corroborate text near-dups") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("m09_crossmodal_consensus")(
      spark, "/root/testdata/sf0.001").cache()
    try {
      val n = df.count()
      assert(n > 0, "no d02 candidate pairs at sf0.001")
      val agg = df.agg(
        sum(when(col("consensus"), 1L).otherwise(0L)),
        sum(when(col("audio_match"), 1L).otherwise(0L)),
        avg(col("ham_image")), avg(col("ham_audio"))).head()
      // audio is now a GATING signal: the granule overlap must land a
      // majority of true near-dup pairs (measured 84% at sf0.01), and
      // the two-signal consensus must too
      assert(agg.getLong(1) * 2 > n, "audio granule corroboration below majority")
      assert(agg.getLong(0) * 2 > n, "two-signal consensus below majority")
      // the documented reason granules replaced the global fp as the
      // gate: its alignment-sensitive Hamming exceeds the image's
      assert(agg.getDouble(3) > agg.getDouble(2),
        "global-fp audio Hamming should exceed image Hamming on near-dups")
    } finally df.unpersist()
  }

  test("m10: granule keys survive a middle-token edit that breaks the global fp") {
    // the round-10 measured failure: a single-token edit decorrelates the
    // proportional global fingerprint (min Hamming 19 on true pairs). A
    // MIDDLE insertion is the hard case — no single offset aligns both
    // the prefix (offset 0) and the shifted suffix — which is why the fix
    // is content-defined granule boundaries, not best-offset search.
    val sess = graft.ops.MediaCodec.Stub.open()
    val dir = "/root/testdata/sf0.001"
    val texts = graft.ops.Q.table(spark, dir, "documents")
      .selectExpr("text").limit(8).collect().map(_.getString(0))
      .filter(_.length > 100)
    assert(texts.nonEmpty)
    var matched = 0
    for (orig <- texts) {
      val mid = orig.length / 2
      val cut = orig.indexOf(' ', mid).max(mid) // token boundary near middle
      val edited = orig.substring(0, cut) + " extra" + orig.substring(cut)
      val (_, ka) = graft.ops.MultimodalOps.granuleKeys(sess, orig.getBytes)
      val (_, kb) = graft.ops.MultimodalOps.granuleKeys(sess, edited.getBytes)
      val shared = ka.toSet.intersect(kb.toSet).size.toLong
      if (graft.ops.MultimodalOps.granuleMatched(shared, ka.length.toLong,
          kb.length.toLong)) matched += 1
      // contrast: the global proportional fingerprint loses the pair
      import spark.implicits._
      val fps = graft.ops.MultimodalOps.audioFingerprint(spark,
        Seq((1L, orig.getBytes, "a"), (2L, edited.getBytes, "a"))
          .toDF("doc_id", "payload", "source"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val ham = fps(1L).zip(fps(2L)).count { case (x, y) => x != y }
      assert(ham > graft.ops.MultimodalOps.m06MaxHam,
        s"global fp unexpectedly robust (ham=$ham) — the granule gate " +
          "would be redundant")
    }
    // the granule signal must recover a clear majority of edited pairs
    assert(matched * 2 > texts.length,
      s"granule matching recovered only $matched of ${texts.length} edited pairs")
  }

  test("WavCodec: stereo input downmixes to the mono plane frameBytes promises") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    def wavBytes(pcm: Array[Byte], channels: Int, frames: Int): Array[Byte] = {
      val fmt = new AudioFormat(8000f, 16, channels, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
        AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val frames = 400
    val left = Array.tabulate(frames)(i => ((i * 53) % 8000 - 4000).toShort)
    val right = Array.tabulate(frames)(i => ((i * 91 + 17) % 8000 - 4000).toShort)
    val stereoPcm = new Array[Byte](4 * frames)
    for (i <- 0 until frames; (s, c) <- Seq((left(i), 0), (right(i), 1))) {
      stereoPcm(4 * i + 2 * c) = (s & 0xff).toByte
      stereoPcm(4 * i + 2 * c + 1) = ((s >> 8) & 0xff).toByte
    }
    val mix = Array.tabulate(frames)(i => ((left(i) + right(i)) / 2).toShort)
    val mixPcm = new Array[Byte](2 * frames)
    for (i <- 0 until frames) {
      mixPcm(2 * i) = (mix(i) & 0xff).toByte
      mixPcm(2 * i + 1) = ((mix(i) >> 8) & 0xff).toByte
    }
    val sess = graft.ops.WavCodec.open()
    val stereoWav = wavBytes(stereoPcm, 2, frames)
    // the round-10 advice bug: stereo planes kept 2 bytes x channels per
    // frame while frameBytes promised 2 — window boundaries landed on
    // sample, not frame, boundaries. The canonical plane is now MONO:
    assert(sess.planeLength(stereoWav) == 2 * frames,
      "stereo plane is not one 2-byte frame per sample frame")
    // and the downmix is the exact integer channel average: the stereo
    // container and the pre-mixed mono signal fingerprint identically
    import spark.implicits._
    val df = Seq((1L, stereoWav, "wav"), (2L, wavBytes(mixPcm, 1, frames), "wav"))
      .toDF("doc_id", "payload", "source")
    val fps = graft.ops.MultimodalOps.audioFingerprint(spark, df,
      codec = graft.ops.WavCodec)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L), "stereo downmix diverged from channel average")
  }

  test("m10: granule keys are gain- and container-invariant on real WAVs") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    def containerOf(samples: Array[Short],
        typ: AudioFileFormat.Type, bigEndian: Boolean): Array[Byte] = {
      val pcm = new Array[Byte](2 * samples.length)
      for (i <- samples.indices) {
        val (lo, hi) = if (bigEndian) (2 * i + 1, 2 * i) else (2 * i, 2 * i + 1)
        pcm(lo) = (samples(i) & 0xff).toByte
        pcm(hi) = ((samples(i) >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, bigEndian)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong),
        typ, bos)
      bos.toByteArray
    }
    // even samples -> exact integer halving preserves every delta sign;
    // granule boundaries are delta-sign landmarks, so they must not move
    val base = Array.tabulate(900)(i => (((i * 37) % 10000 - 5000) * 2).toShort)
    val half = base.map(s => (s / 2).toShort)
    val sess = graft.ops.WavCodec.open()
    val (_, kBase) = graft.ops.MultimodalOps.granuleKeys(sess,
      containerOf(base, AudioFileFormat.Type.WAVE, bigEndian = false))
    val (_, kHalf) = graft.ops.MultimodalOps.granuleKeys(sess,
      containerOf(half, AudioFileFormat.Type.WAVE, bigEndian = false))
    val (_, kAiff) = graft.ops.MultimodalOps.granuleKeys(sess,
      containerOf(base, AudioFileFormat.Type.AIFF, bigEndian = true))
    assert(kBase.nonEmpty, "no granules on a 900-sample signal")
    assert(kBase.toSeq == kHalf.toSeq, "uniform 0.5x gain moved granules")
    assert(kBase.toSeq == kAiff.toSeq, "re-containered PCM changed granules")
  }

  test("m11: planted hard cut detected at the exact frame; shots partition; keyframe is argmax") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 10 frames of 'a' (per-byte 97) then 10 of 'z' (122): a 20.5%
    // relative jump — above the 6.25% sensitivity — exactly at frame 10.
    // A uniform payload must stay ONE shot.
    val cutDoc = "a" * 640 + "z" * 640
    val flatDoc = "m" * 640
    val df = graft.ops.MultimodalOps.detectShots(spark,
      Seq((1L, cutDoc.getBytes("US-ASCII"), "web"),
          (2L, flatDoc.getBytes("US-ASCII"), "web"))
        .toDF("doc_id", "payload", "source")).cache()
    try {
      val shots1 = df.filter($"doc_id" === 1).orderBy("shot_idx")
        .select("shot_idx", "start_frame", "n_frames", "key_frame_idx")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // cut at frame 10; keyframe of the 'a' shot is frame 0 (all equal,
      // first-frame tie-break), of the 'z' shot frame 10
      assert(shots1.toSeq == Seq((0L, 0L, 10L, 0L), (1L, 10L, 10L, 10L)),
        s"planted cut missed or misplaced: ${shots1.toSeq}")
      assert(df.filter($"doc_id" === 2).count() == 1, "uniform payload split")
    } finally df.unpersist()
    // corpus-level invariants: per doc, shots tile the frame grid —
    // contiguous start frames, frame counts sum to ceil(len/64), and
    // every keyframe lies inside its shot's span
    val shots = graft.ops.MultimodalOps.detectShots(spark, media).cache()
    try {
      val bad = shots.groupBy("doc_id")
        .agg(sum("n_frames").as("nf"), max(expr("start_frame + n_frames")).as("end"),
          min("start_frame").as("st"),
          sum(expr("CASE WHEN key_frame_idx >= start_frame AND " +
            "key_frame_idx < start_frame + n_frames THEN 0 ELSE 1 END")).as("kout"))
        .filter($"nf" =!= $"end" || $"st" =!= 0 || $"kout" =!= 0)
        .count()
      assert(bad == 0, s"$bad docs have non-tiling shots or out-of-span keyframes")
      assert(shots.count() > graft.ops.Q.table(spark, dir, "documents").count(),
        "no document segmented into more than one shot (threshold dead)")
    } finally shots.unpersist()
  }

  test("m12: planted loud/quiet spans segment exactly; gate fires both classes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 10 frames quiet ('a'=97) / 10 loud ('z'=122) / 10 quiet / 10 loud:
    // doc mean is midway, so exactly the 'z' runs are active -> two
    // segments at frames [10,20) and [30,40), each energy 10*48*122.
    // A uniform payload sits AT its own mean (>= passes) -> one segment
    // covering every frame.
    val q = "a" * 480; val l = "z" * 480
    val df = graft.ops.MultimodalOps.detectSpeech(spark,
      Seq((1L, (q + l + q + l).getBytes("US-ASCII"), "web"),
          (2L, ("m" * 480).getBytes("US-ASCII"), "web"))
        .toDF("doc_id", "payload", "source")).cache()
    try {
      val segs1 = df.filter($"doc_id" === 1).orderBy("seg_idx")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      val e = 10L * 48L * 122L
      assert(segs1.toSeq == Seq((0L, 10L, 10L, e), (1L, 30L, 10L, e)),
        s"planted VAD spans wrong: ${segs1.toSeq}")
      val segs2 = df.filter($"doc_id" === 2).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(segs2.toSeq == Seq((0L, 0L, 10L)),
        s"uniform payload must be one all-active segment: ${segs2.toSeq}")
    } finally df.unpersist()
    // corpus-level: segments are disjoint, ordered, non-touching (a gap of
    // >=1 silent frame separates consecutive segments), and the gate
    // produces real segmentation (more segments than docs = silence exists)
    val segs = graft.ops.MultimodalOps.detectSpeech(spark, media).cache()
    try {
      val bad = segs.withColumn("prev_end",
          lag(expr("start_frame + n_frames"), 1).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("doc_id").orderBy("seg_idx")))
        .filter($"prev_end".isNotNull && $"start_frame" <= $"prev_end")
        .count()
      assert(bad == 0, s"$bad segments touch or overlap their predecessor")
      val nDocs = graft.ops.Q.table(spark, dir, "documents").count()
      assert(segs.count() > nDocs, "VAD gate dead: one segment per doc")
      assert(segs.filter($"seg_energy" <= 0).count() == 0, "non-positive energy")
    } finally segs.unpersist()
  }
}
