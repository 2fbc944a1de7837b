package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = Sessions.local("4")
}

/** Smoke regression: every registered query runs at sf0.001 and each one
  * claiming an oracle produces deterministic, re-runnable output. Exact
  * value parity vs DuckDB is checked by tools/verify_local.py + driver. */
class QueriesSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  test("registry names are unique and oracle keys ⊆ query keys") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("oracle coverage: every registered query has an oracle") {
    val noOracle = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"missing oracles: $noOracle")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q23 approximate distinct stays within HLL error bounds of exact") {
    import org.apache.spark.sql.functions._
    // within_bounds is computed IN the query (|approx-exact|/exact < 5%);
    // the oracle emits literal true — so every row must carry true here
    val rows = SparkEntry.queries("q23_approx_distinct")(spark, dir)
      .select(col("l_returnflag"), col("within_bounds")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(1),
      s"flag ${r.getString(0)}: HLL estimate beyond 5% of exact (rsd=0.01 configured)"))
  }

  test("t10 BPE merge table at sf0.001 matches the oracle-verified pins") {
    // Pinned from the DuckDB oracle (round-6 session): proves the engine
    // loop end to end, including that multi-char symbols from earlier
    // rounds win later rounds (rank 8 merges p+ar, rank 12 merges c+an).
    val got = SparkEntry.queries("t10_bpe_vocab")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val want = Seq(
      (1L, "e", "r", 4650L), (2L, "o", "r", 2880L), (3L, "i", "n", 2858L),
      (4L, "o", "w", 2763L), (5L, "s", "t", 2721L), (6L, "l", "u", 1928L),
      (7L, "a", "r", 1873L), (8L, "p", "ar", 1873L), (9L, "m", "er", 1824L),
      (10L, "a", "t", 1806L), (11L, "a", "n", 984L), (12L, "c", "an", 984L))
    assert(got == want)
    assert(want.exists(m => m._2.length > 1 || m._3.length > 1),
      "iteration must matter: some merge consumes a multi-char symbol")
  }

  test("t10 driver-local greedy fold matches the SQL fold on 2000 random sequences") {
    // the merge loop moved to the driver in round 7; this randomized audit
    // pins greedyMergeLocal to the oracle-verified sGreedyMerge SQL fold
    // (same harness that caught the iterated-replace divergence in round 6)
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val cases = Seq.fill(2000) {
      val syms = Vector.fill(rnd.nextInt(12) + 1)(
        Seq("a", "b", "ab", "ba", "c")(rnd.nextInt(5)))
      val lhs = Seq("a", "b", "ab", "ba")(rnd.nextInt(4))
      val rhs = Seq("a", "b", "ab", "ba")(rnd.nextInt(4))
      (syms.mkString("|", "|", "|"), lhs, rhs)
    }
    val viaSql = cases.toDF("seq", "lhs", "rhs")
      .selectExpr(
        "aggregate(filter(split(seq, '[|]'), x -> x <> ''), '|'," +
          " (acc, x) -> CASE WHEN endswith(acc, concat('|', lhs, '|')) AND x = rhs" +
          " THEN concat(left(acc, length(acc) - length(lhs) - 1), lhs, rhs, '|')" +
          " ELSE concat(acc, x, '|') END) AS m")
      .collect().map(_.getString(0)).toSeq
    val viaLocal = cases.map { case (seq, lhs, rhs) =>
      graft.ops.CorpusOps.greedyMergeLocal(
        seq.split('|').filter(_.nonEmpty), lhs, rhs).mkString("|", "|", "|")
    }
    assert(viaLocal == viaSql)
  }

  import graft.ops.CorpusOps.{Alphabet, Bytes, Chars}

  /** A frequent word per alphabet: the corpus's top word (char-level) and
    * the byte-level gate's augmentation token (digits, punct, case,
    * multi-byte UTF-8). */
  private def sampleWord(a: Alphabet): String = a match {
    case Chars => graft.ops.CorpusOps.wordCounts(spark, dir, Chars)
      .orderBy(org.apache.spark.sql.functions.desc("freq"), org.apache.spark.sql.functions.col("word"))
      .head().getString(0)
    case Bytes => "Café-№3.2%"
  }

  test("BPE rounds dial, both alphabets: 256 merges extend the 12-round table") {
    // O(rounds) driver work, not O(rounds) jobs: 256 rounds must extend the
    // 12-round merge table (greedy BPE is prefix-stable in round count) and
    // the extra 244 rounds must cost only local milliseconds
    for (a <- Seq(Chars, Bytes)) {
      val base = graft.ops.CorpusOps.bpeTrain(spark, dir, a)
      val t0 = System.nanoTime()
      val deep = graft.ops.CorpusOps.bpeTrain(spark, dir, a, rounds = 256)
      val sec = (System.nanoTime() - t0) / 1e9
      assert(deep.take(base.length) == base, s"$a: greedy BPE must be prefix-stable")
      assert(deep.length > base.length, s"$a: sf0.001 vocab must support >12 merges")
      assert(sec < 30.0, f"$a: 256-round train took $sec%.1f s — loop is not driver-local")
    }
  }

  test("BPE deep dial, both alphabets: 256 merges compress a frequent word") {
    // a realistic merge depth reaches the alphabet's frequent words —
    // for the byte alphabet, the non-ASCII augmentation token
    for (a <- Seq(Chars, Bytes)) {
      val merges = graft.ops.CorpusOps.bpeTrain(spark, dir, a, rounds = 256)
        .map { case (_, l, r, _) => (l, r) }
      val w = sampleWord(a)
      val syms = graft.ops.CorpusOps.encodeLocal(w, merges, a)
      assert(syms.length < a.syms(w).length,
        s"$a: deep merge table must compress '$w': ${syms.length} syms vs ${a.syms(w).length}")
    }
  }

  test("t13 byte-level BPE round-trips digits/punct/case/UTF-8 losslessly") {
    // the lossless property byte-level BPE exists for: symbols PARTITION
    // the UTF-8 byte string, so concatenating a word's subword symbols
    // always reconstructs the exact input — for any script, not just
    // [a-z]+. Checked under the gate's 12-round table AND a deep
    // 256-round table (merges only ever fuse adjacent symbols; the
    // partition invariant must survive depth).
    for (rounds <- Seq(12, 256)) {
      val merges = graft.ops.CorpusOps.bpeTrain(spark, dir, Bytes, rounds = rounds)
        .map { case (_, l, r, _) => (l, r) }
      assert(merges.nonEmpty)
      assert(merges.forall { case (l, r) =>
        (l + r).matches("[0-9A-F]+") && (l.length + r.length) % 2 == 0
      }, "merge symbols must stay in the hex byte-pair alphabet")
      val words = Seq("café", "Δ42%!", "Straße", "naïve", "日本語テスト",
        "a1-b2.c3", "ΩδWEB", "№9", "mixedCASE42", "...", "", "🙂emoji")
      for (w <- words) {
        val syms = graft.ops.CorpusOps.encodeLocal(w, merges, Bytes)
        val bytes = syms.mkString.grouped(2)
          .map(Integer.parseInt(_, 16).toByte).toArray
        assert(new String(bytes, java.nio.charset.StandardCharsets.UTF_8) == w,
          s"round-trip broke for '$w' at $rounds rounds")
      }
    }
  }

  test("bpe_apply native expression == legacy nested-SQL fold (12 rounds, both alphabets)") {
    // the native merge-apply expression replaced the round-per-nested-
    // aggregate() SQL spelling in round 10; this pins the two spellings
    // bit-identical on the gate's 12-round tables over a word set that
    // exercises every byte class (plus the char alphabet on [a-z]+ words)
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)

    val wordsB = Seq("café", "Δ42%!", "Straße", "naïve", "日本語テスト",
      "a1-b2.c3", "ΩδWEB", "№9", "mixedCASE42", "...", "x", "🙂emoji",
      "Café-№3.2%", "the", "and", "that", "with", "from", "this")
    val mergesB = graft.ops.CorpusOps.bpeTrain(spark, dir, Bytes)
      .map { case (_, l, r, _) => (l, r) }
    val flatB = mergesB.map { case (l, r) => s"$l $r" }.mkString(" ")
    val legacyB = mergesB.foldLeft(
      "concat('|', regexp_replace(hex(encode(w, 'UTF-8')), '(..)', '$1|'))") {
      case (e, (l, r)) => graft.ops.CorpusOps.sGreedyMerge(e, s"'$l'", s"'$r'")
    }
    val bothB = wordsB.toDF("w").selectExpr(
      "w",
      s"filter(split($legacyB, '[|]'), x -> x <> '') AS legacy",
      s"bpe_apply_bytes(w, '$flatB') AS native")
      .collect()
    bothB.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"byte-level divergence on '${r.getString(0)}'")
    }

    val wordsC = Seq("the", "and", "that", "with", "from", "parrot",
      "cancan", "aaaaa", "ababab", "stern", "luster", "x")
    val mergesC = graft.ops.CorpusOps.bpeTrain(spark, dir, Chars)
      .map { case (_, l, r, _) => (l, r) }
    val flatC = mergesC.map { case (l, r) => s"$l $r" }.mkString(" ")
    val legacyC = mergesC.foldLeft(
      "concat('|', regexp_replace(w, '(.)', '$1|'))") {
      case (e, (l, r)) => graft.ops.CorpusOps.sGreedyMerge(e, s"'$l'", s"'$r'")
    }
    val bothC = wordsC.toDF("w").selectExpr(
      "w",
      s"filter(split($legacyC, '[|]'), x -> x <> '') AS legacy",
      s"bpe_apply_chars(w, '$flatC') AS native")
      .collect()
    bothC.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"char-level divergence on '${r.getString(0)}'")
    }
  }

  test("bpe_doc_stats == explode + bpe_apply per word, both alphabets (tail-fusion pin)") {
    // round 12 fused the t12/t14 encode tails into one row-wise
    // expression (no explode, no join, no aggregate); this pins the
    // fused stats bit-identical to the spelling they replaced, per doc,
    // driven by the SAME gate merge tables — and through a multi-task
    // plan so the per-task memo path is the one exercised
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    for ((mode, hist, train) <- Seq(
        ("chars", "ascii_word_histogram(lower(text))",
          () => graft.ops.CorpusOps.bpeTrain(spark, dir, Chars)),
        ("bytes", "space_token_histogram(concat(text, ' Ωδ', source))",
          () => graft.ops.CorpusOps.bpeTrain(spark, dir, Bytes)))) {
      val flat = train().map { case (_, l, r, _) => s"$l $r" }.mkString(" ")
      val docs = graft.ops.Q.table(spark, dir, "documents")
        .repartition(4).selectExpr("doc_id", s"$hist AS h")
        .where("size(h) > 0")
      docs.createOrReplaceTempView(s"pin_dh_$mode")
      val fused = spark.sql(s"""
        SELECT doc_id, st.n_words, st.n_subwords, st.n_len
        FROM (SELECT doc_id, bpe_doc_stats_$mode(h, '$flat') AS st
              FROM pin_dh_$mode)""")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val lenFn = if (mode == "bytes") "octet_length(w)" else "length(w)"
      val legacy = spark.sql(s"""
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT),
               CAST(sum(cnt * size(bpe_apply_$mode(w, '$flat'))) AS BIGINT),
               CAST(sum(cnt * $lenFn) AS BIGINT)
        FROM (SELECT doc_id, explode(h) AS (w, cnt) FROM pin_dh_$mode)
        GROUP BY doc_id""")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(fused == legacy, s"bpe_doc_stats_$mode drifted from the explode spelling")
      assert(fused.nonEmpty)
    }
  }

  test("t14 deep-dial: 256 merges run through the DISTRIBUTED expression path") {
    // deep-round evidence on the driver fold alone proves nothing about
    // the engine: here the SAME 256-merge table rides the SQL literal into
    // bpe_apply_<unit> executed by Spark, and every word's distributed
    // encoding must equal the driver fold — depth is data, not plan
    // shape. Both alphabets: t12 (chars) and t14 (bytes).
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val wordsOf = Map[Alphabet, Seq[String]](
      Chars -> Seq("the", "and", "that", "with", "from", "parrot", "cancan",
        "aaaaa", "ababab", "stern", "luster", "x", sampleWord(Chars)),
      Bytes -> Seq("café", "Δ42%!", "Straße", "日本語テスト", "Café-№3.2%",
        "a1-b2.c3", "ΩδWEB", "🙂emoji", "the", "that", "with", "mixedCASE42"))
    for (a <- Seq(Chars, Bytes)) {
      val merges = graft.ops.CorpusOps.bpeTrain(spark, dir, a, rounds = 256)
        .map { case (_, l, r, _) => (l, r) }
      assert(merges.length > (if (a == Bytes) 100 else graft.ops.CorpusOps.bpeRounds),
        s"$a: sf0.001 vocab must support deep merges")
      val flat = merges.map { case (l, r) => s"$l $r" }.mkString(" ")
      val words = wordsOf(a)
      val viaSpark = words.toDF("w")
        .repartition(4) // force task-side eval, not a driver-side constant fold
        .selectExpr("w", s"bpe_apply_${a.unit}(w, '$flat') AS syms")
        .collect().map(r => (r.getString(0), r.getSeq[String](1).toSeq)).toMap
      for (w <- words) {
        val local = graft.ops.CorpusOps.encodeLocal(w, merges, a).toSeq
        assert(viaSpark(w) == local, s"$a: distributed != driver fold for '$w' at 256 rounds")
        if (a == Bytes)
          assert(local.mkString.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
            .sameElements(w.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
            s"round-trip broke for '$w'")
        else assert(local.mkString == w, s"char symbols must concatenate back to '$w'")
      }
      // and the full encode plan at 256 rounds: same plan shape, rows for
      // every doc, strictly better compression than the 12-round table
      val deep = graft.ops.CorpusOps.encode(spark, dir, a, rounds = 256)
        .selectExpr("sum(n_subwords) AS s", "count(*) AS n").collect().head
      val base = graft.ops.CorpusOps.encode(spark, dir, a)
        .selectExpr("sum(n_subwords) AS s", "count(*) AS n").collect().head
      assert(deep.getLong(1) == base.getLong(1))
      assert(deep.getLong(0) < base.getLong(0),
        s"$a: 256-round table must compress further than the 12-round table")
    }
  }

  test("t15 token-id sequences: engine output matches a full driver-side recompute") {
    // end-to-end independent check of the id materialization: rebuild a
    // document's complete token-id sequence on the driver (augmented
    // text -> tokens -> encodeLocal -> GPT-2 id scheme) and compare
    // count, head, and the order-weighted checksum for every doc
    val table = graft.ops.CorpusOps.bpeTrain(spark, dir, Bytes)
    val merges = table.map { case (_, l, r, _) => (l, r) }
    val mergeIds = table.map { case (r, l, rh, _) => (l + rh) -> (255L + r) }.toMap
    def idsOf(word: String): Seq[Long] =
      graft.ops.CorpusOps.encodeLocal(word, merges, Bytes).toSeq.map { s =>
        if (s.length == 2) java.lang.Integer.parseInt(s, 16).toLong
        else mergeIds(s)
      }
    val raw = graft.ops.Q.table(spark, dir, "documents")
      .selectExpr("doc_id", "text", "source").collect()
    val got = graft.ops.CorpusOps.t15Ids(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3))))
      .toMap
    assert(raw.nonEmpty && got.size == raw.length)
    raw.foreach { r =>
      val (id, text, source) = (r.getLong(0), r.getString(1), r.getString(2))
      val aug = s"$text Café-№${id % 10}.${id % 7}% Ωδ$source"
      val tids = aug.split(" ").filter(_.nonEmpty).toSeq.flatMap(idsOf)
      val checksum = tids.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum
      val (n, head, chk) = got(id)
      assert(n == tids.length, s"doc $id token count")
      assert(head == tids.take(8).mkString(","), s"doc $id head ids")
      assert(chk == checksum, s"doc $id checksum")
    }
  }

  test("scala UDF registration works (native expressions preferred on hot paths)") {
    import org.apache.spark.sql.functions.udf
    val clip = udf((x: Double, lo: Double, hi: Double) => math.max(lo, math.min(hi, x)))
    spark.udf.register("clip", clip)
    import spark.implicits._
    val r = Seq(-5.0, 0.5, 9.0).toDF("x")
      .selectExpr("clip(x, 0.0, 1.0) AS c").collect().map(_.getDouble(0)).toSeq
    assert(r == Seq(0.0, 0.5, 1.0))
  }

  for (q <- SparkEntry.registry) {
    test(s"${q.name} runs at sf0.001") {
      val df = q.run(spark, dir)
      assert(df.columns.nonEmpty)
      df.count() // materialize; non-empty is asserted only where guaranteed
    }
  }

  test("partitioning-invariant results (cluster determinism): q44 scores, d06 labels") {
    // a cluster repartitions at will — float outputs and iterative labels
    // must be BIT-identical under any shuffle partitioning (decimal-routed
    // sums, fixed expression shapes, min-label fixpoint)
    def run(name: String) = {
      graft.ops.Q.clearStaged()
      SparkEntry.queries(name)(spark, dir).collect().map(_.toString).sorted.toSeq
    }
    val names = Seq("q44_bm25_search", "d06_dedup_clusters",
      "q46_corpus_report", "q50_sequence_pipeline", "q08_running_totals",
      "d11_span_dedup", "t09_token_surprisal", "s06_kmeans_lloyd")
    val base = names.map(n => n -> run(n)).toMap
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      names.foreach(n =>
        assert(run(n) == base(n), s"$n must not depend on partitioning"))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      graft.ops.Q.clearStaged()
    }
  }

  test("curation invariants: d11 reassembly, d10 ranking, d15 asymmetry, q52 budgets") {
    import org.apache.spark.sql.functions.col
    val dir01 = "/root/testdata/sf0.01"
    // d11: kept+removed spans account for every span; kept_text token count
    // equals 8·(kept full spans) plus the short tail iff the tail survived
    val d11 = SparkEntry.queries("d11_span_dedup")(spark, dir01).collect()
    assert(d11.nonEmpty)
    d11.foreach { r =>
      val (kept, nch, nrm) = (r.getAs[String]("kept_text"),
        r.getAs[Long]("n_chunks"), r.getAs[Long]("n_removed"))
      assert(nrm >= 0 && nrm <= nch)
      val keptTokens = if (kept.isEmpty) 0 else kept.split(" ").length
      // every kept span has ≤ 8 tokens, so token count is bounded by 8·kept
      assert(keptTokens <= 8 * (nch - nrm),
        s"doc ${r.get(0)}: $keptTokens tokens from ${nch - nrm} kept spans")
      if (nrm == 0) assert(keptTokens > 0)
    }
    // d10: exactly ≤20 per stratum, rank sequence is 1..n without gaps
    val d10 = SparkEntry.queries("d10_weighted_sample")(spark, dir01)
      .collect().groupBy(_.getAs[String]("lang"))
    d10.values.foreach { rs =>
      val rnks = rs.map(_.getAs[Long]("rnk")).sorted.toSeq
      assert(rnks == (1L to rnks.size))
      assert(rnks.size <= 20)
    }
    // d15: only new-batch docs appear (doc_id in the top-20% id range)
    val mx = graft.ops.Q.table(spark, dir01, "documents")
      .agg(org.apache.spark.sql.functions.max(col("doc_id"))).head().getLong(0)
    val d15 = SparkEntry.queries("d15_incremental_dedup")(spark, dir01).collect()
    assert(d15.nonEmpty)
    d15.foreach(r => assert(r.getAs[Long]("doc_id") * 5 >= mx * 4))
    // q52: kept tokens never exceed total; every lang row present exactly once
    val q52 = SparkEntry.queries("q52_mixture_sample")(spark, dir01).collect()
    assert(q52.map(_.getAs[String]("lang")).toSeq.sorted ==
      Seq("de", "en", "es", "fr", "zh"))
    // all five langs present (asserted above) IS the bucket-0 keep
    // guarantee: a lang with zero kept docs would have no output row
    q52.foreach { r =>
      assert(r.getAs[Long]("kept_tokens") <= r.getAs[Long]("lang_tokens"))
    }
  }

  test("q54 split has no near-dup leakage: every d02 pair shares a split") {
    import org.apache.spark.sql.functions.col
    val dir01 = "/root/testdata/sf0.01"
    val split = SparkEntry.queries("q54_leakage_safe_split")(spark, dir01)
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = graft.ops.DedupOps.d02.run(spark, dir01)
      .select(col("doc_a"), col("doc_b")).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(split(a) == split(b),
        s"near-dup pair ($a, $b) split across ${split(a)}/${split(b)}")
    }
    val counts = split.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.keySet == Set("train", "val", "test"), counts.toString)
  }

  test("d12 Bloom prefilter is lossless (equals the exact overlap result)") {
    // the Bloom filter may only prune true negatives — the exact semi-join
    // behind it must make the final result identical to the unfiltered path
    import org.apache.spark.sql.functions.{col, countDistinct}
    val dir001 = "/root/testdata/sf0.01" // sf0.001 has too few docs to collide
    val bloomed = SparkEntry.queries("d12_ngram_decontam")(spark, dir001)
      .collect().map(_.toString).sorted.toSeq
    val chunks = graft.ops.Q.withViews(spark, dir001, "documents")(s"""
      WITH ${graft.ops.CurationOps.sChunks}
      SELECT doc_id, source, md5(chunk) AS h FROM chunks""")
    val evalH = chunks.where(col("source") === "src0").select(col("h")).distinct()
    val exact = chunks.where(col("source") =!= "src0")
      .join(evalH.withColumnRenamed("h", "eh"), col("h") === col("eh"), "left_semi")
      .groupBy(col("doc_id")).agg(countDistinct(col("h")).as("n_hit_spans"))
      .collect().map(_.toString).sorted.toSeq
    assert(exact.nonEmpty, "fixture must produce at least one contaminated doc")
    assert(bloomed == exact, "bloom prefilter changed the decontamination result")
  }

  test("s06 Lloyd output partitions the corpus over the seed cluster ids") {
    import org.apache.spark.sql.functions.col
    // argmax assignment gives every vector exactly ONE cluster, and Lloyd
    // updates can empty a seed's cluster but never mint a new id — so the
    // per-cluster member counts must sum to |embeddings| and every
    // cluster_id must come from the deterministic seed set
    val out = SparkEntry.queries("s06_kmeans_lloyd")(spark, dir)
      .where(col("dim") === 0).collect()
    val nVec = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(out.map(_.getAs[Long]("n_members")).sum == nVec,
      "cluster memberships must partition the corpus")
    out.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      assert(cid % 125 == 0 && cid < 8000, s"cluster id $cid not a seed id")
    }
  }

  test("d06 identical under reliable checkpoint (cluster durability path)") {
    import org.apache.spark.sql.functions.col
    def snapshot() = SparkEntry.queries("d06_dedup_clusters")(spark, dir)
      .orderBy(col("doc_id")).collect().toSeq
    graft.ops.Q.clearStaged() // drop memoized labels so both runs compute
    val local = snapshot()
    val ckptPath = graft.ops.StreamingGate.tempDir("graft-ckpt")
    spark.sparkContext.setCheckpointDir(ckptPath.toString)
    try {
      graft.ops.Q.clearStaged()
      val reliable = snapshot()
      assert(spark.sparkContext.getCheckpointDir.isDefined)
      assert(reliable == local,
        "reliable checkpoint() rounds must produce the same clusters as localCheckpoint")
    } finally {
      graft.ops.Q.clearStaged()
      // RESTORE the shared session: leaving the dir set would silently
      // flip every later test in the suite run onto the reliable-
      // checkpoint path. setCheckpointDir(null) maps to None inside
      // SparkContext (Option(directory)); reflection is the fallback if
      // a future Spark version starts rejecting null.
      try spark.sparkContext.setCheckpointDir(null)
      catch { case _: Throwable => () }
      if (spark.sparkContext.getCheckpointDir.isDefined)
        spark.sparkContext.getClass
          .getMethod("checkpointDir_$eq", classOf[Option[_]])
          .invoke(spark.sparkContext, None)
      assert(spark.sparkContext.getCheckpointDir.isEmpty,
        "checkpoint dir must not leak into later tests")
      // delete the checkpoint files the reliable run left behind
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      Files.walk(ckptPath).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("t16 PII scrub: redaction complete, Luhn negative control untouched") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("t16_pii_scrub")(spark, dir).cache()
    try {
      // the augmentation plants each class on its residue set — counts land
      val agg = df.agg(sum("n_email"), sum("n_phone"), sum("n_ip"),
        sum("n_card_cand"), sum("n_card_valid")).head()
      val n = df.count()
      assert(agg.getLong(0) >= n / 5, "planted emails missed")
      assert(agg.getLong(1) >= n / 7, "planted phones missed")
      assert(agg.getLong(2) >= n / 11, "planted IPs missed")
      // every %13=0 doc carries a VALID card, every %13=1 an INVALID one:
      // candidates ≈ 2×valid, and validity strictly filters
      assert(agg.getLong(4) >= n / 13 && agg.getLong(4) < agg.getLong(3),
        "Luhn validation did not strictly filter the candidate set")
      // cleaned text carries no residual PII of any class
      val residual = df.filter(
        col("cleaned").rlike("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+") ||
        col("cleaned").rlike("\\b555-[0-9]{3}-[0-9]{4}\\b") ||
        col("cleaned").rlike("\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b")).count()
      assert(residual == 0, s"$residual docs still leak PII after redaction")
      // the Luhn-invalid run survives in the clear (no over-redaction) and
      // every valid card is gone
      val invalidKept = df.filter(col("n_card_cand") > col("n_card_valid"))
        .filter(col("cleaned").contains("4539578763621480")).count()
      assert(invalidKept > 0, "negative control was over-redacted")
      val validLeaked = df.filter(col("cleaned").rlike("\\b[0-9]{13,16}\\b"))
        .filter(!col("cleaned").contains("4539578763621480")).count()
      assert(validLeaked == 0, "a Luhn-valid card survived redaction")
    } finally df.unpersist()
  }

  test("t17 script ID: planted scripts counted exactly, multiscript flagged") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("t17_script_id")(spark, dir).cache()
    try {
      // every %4=0 doc carries exactly the 4 planted Han codepoints and
      // is multiscript (Latin base + Han); %6=0 plants 15 Cyrillic letters
      val han = df.filter(col("doc_id") % 4 === 0)
      assert(han.filter(col("n_han") =!= 4 || !col("multiscript")).count() == 0,
        "planted Han run miscounted or multiscript unflagged")
      val cyr = df.filter(col("doc_id") % 6 === 0)
      assert(cyr.filter(col("n_cyr") =!= 15).count() == 0,
        "planted Cyrillic run miscounted")
      // unplanted docs are pure-Latin, single-script
      val plain = df.filter(col("doc_id") % 4 =!= 0 && col("doc_id") % 6 =!= 0
        && col("doc_id") % 9 =!= 0)
      assert(plain.filter(col("n_han") > 0 || col("n_cyr") > 0 ||
        col("n_greek") > 0 || col("multiscript")).count() == 0,
        "script counts leaked into unplanted docs")
      assert(df.filter(col("script") =!= "latin").count() == 0,
        "the ASCII-dominant corpus must stay latin-dominant per doc")
    } finally df.unpersist()
  }

  test("q66 histogram quantiles land within one bucket width of q31's exact ones") {
    // NOTE: the hard guarantee is one bucket width vs the rank-ceil(pN)
    // ORDER STATISTIC; agreement with q31's INTERPOLATED percentile at
    // this tolerance additionally relies on the groups being dense
    // (adjacent order stats within a bucket width) — true for
    // l_extendedprice, and this pin would flag a corpus where it is not
    import org.apache.spark.sql.functions._
    val est = SparkEntry.queries("q66_quantile_histogram")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3)).toMap
    val exact = SparkEntry.queries("q31_percentiles")(spark, dir)
      .collect().flatMap(r => Seq(
        (r.getString(0), 0.5) -> r.getDouble(1),
        (r.getString(0), 0.9) -> r.getDouble(2))).toMap
    assert(exact.nonEmpty)
    for (((g, p), ex) <- exact) {
      val e = est((g, p))
      assert(math.abs(e - ex) <= 100.0 + 1e-9,
        s"histogram p$p for $g drifted ${math.abs(e - ex)} > bucket width: est $e vs exact $ex")
    }
  }

  test("q67 incremental aggregate maintenance: merged state == full recompute everywhere") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q67_incremental_agg")(spark, dir)
    val bad = df.filter(!col("matches_full")).count()
    assert(bad == 0, s"$bad groups diverged between the merged and full aggregates")
    assert(df.count() > 0)
  }

  test("d19 removes any-length, any-alignment exact repeats d11's grid misses") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a 13-token run shared by two docs at DIFFERENT offsets (0 vs 3):
    // d11's non-overlapping 8-token grid cells never coincide, so it
    // removes nothing; d19's sliding shingles mark the full run in both
    val run = (1 to 13).map(i => s"run$i").mkString(" ")
    val a = s"$run alpha beta gamma delta epsi zeta eta theta"
    val b = s"pre1 pre2 pre3 $run tail1 tail2 tail3 tail4 tail5"
    val tmp = graft.ops.StreamingGate.tempDir("graft-d19").toString
    Seq((1L, a, "s"), (2L, b, "s")).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val d19 = SparkEntry.queries("d19_substring_dedup")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(3), r.getLong(4))).toMap
    // exactly the 13 run tokens removed from each doc, as ONE span
    assert(d19(1L) == ("alpha beta gamma delta epsi zeta eta theta", 13L, 1L))
    assert(d19(2L)._2 == 13L && d19(2L)._3 == 1L)
    assert(d19(2L)._1 == "pre1 pre2 pre3 tail1 tail2 tail3 tail4 tail5")
    // the fixed-grid spelling misses the misaligned repeat entirely
    val d11 = SparkEntry.queries("d11_span_dedup")(spark, tmp)
      .agg(sum("n_removed")).head().getLong(0)
    assert(d11 == 0L, s"d11 unexpectedly removed $d11 grid chunks")
  }

  test("d21 finds the quote d02's symmetric jaccard is blind to") {
    import spark.implicits._
    // docA = a 30-word paragraph; docB = a 10×-longer page quoting it
    // verbatim in the middle. Jaccard(A,B) ≈ |A|/|B| ≈ 0.2 — far below
    // d02's 0.8 near-dup bar — but containment(A→B) = 1.0 exactly.
    val quote = (1 to 30).map(i => s"quote$i").mkString(" ")
    val pre = (1 to 60).map(i => s"pre$i").mkString(" ")
    val post = (1 to 60).map(i => s"post$i").mkString(" ")
    val docA = quote
    val docB = s"$pre $quote $post"
    val docC = (1 to 40).map(i => s"other$i").mkString(" ") // unrelated
    val tmp = graft.ops.StreamingGate.tempDir("graft-d22").toString
    // doc 9 duplicates the container EXACTLY (case/whitespace jitter —
    // d01's normalized class key): it must COLLAPSE into B's class, not
    // create a second pair row
    Seq((1L, docA, "s"), (2L, docB, "s"), (3L, docC, "s"),
      (9L, "  " + docB.toUpperCase + "  ", "s"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("d21_containment")(spark, tmp)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(7))).toSet
    // exactly ONE verdict: quote class (1 member) contained in container
    // class (2 members: docs 2 and 9, rep = 2), containment exactly 1.0 —
    // every A-shingle has class-freq 2, so numerator = denominator
    assert(rows == Set((1L, 2L, 1L, 2L, 1.0)), s"got $rows")
    // the symmetric near-dup pass does NOT see the quote pair
    val d02 = SparkEntry.queries("d02_minhash_lsh")(spark, tmp)
      .where("(doc_a = 1 AND doc_b = 2) OR (doc_a = 2 AND doc_b = 1)")
      .count()
    assert(d02 == 0L, "d02 unexpectedly paired the quote with its container")
  }

  test("t09: whitespace-only doc excluded by BOTH engine and oracle spelling") {
    // round-12 advice pin: a doc whose normalized text is empty (e.g.
    // whitespace-only with length >= 1) has zero tokens. The engine's
    // space_token_histogram yields an empty map so the doc vanishes; the
    // oracle now filters tok <> '' so DuckDB's string_split('') artifact
    // (one empty-string token) never re-admits it. This pins the engine
    // half on a planted corpus; verify_local covers the oracle half.
    import spark.implicits._
    val tmp = graft.ops.StreamingGate.tempDir("graft-t09ws").toString
    Seq((1L, "alpha beta alpha", "en", "web", 16L),
        (2L, " \t  ", "en", "web", 5L), // length >= 1, zero tokens
        (3L, "beta gamma", "en", "web", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("t09_token_surprisal")(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L),
      s"whitespace-only doc handling drifted: got doc_ids $out")
  }

  test("bpe_doc_stats rejects nullable-valued maps at analysis time") {
    // round-12 advice pin: nullSafeEval reads counts with getLong, which
    // would silently decode a null slot as 0 — so a map typed with
    // valueContainsNull=true must fail the type check, not eval.
    graft.functions.GraftFunctions.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        """SELECT bpe_doc_stats_chars(
             map('a', CAST(NULL AS BIGINT)), 'a b')""").collect()
    }
    assert(e.getMessage.contains("non-nullable map values"),
      s"unexpected analysis error: ${e.getMessage}")
  }

  test("bpe_doc_stats memo: beyond-cap distinct words in one task stay exact") {
    // round-12 advice pin: the per-task word memo is LRU-bounded (byte
    // mode's token space is unbounded). Push 25% more distinct words than
    // the cap through ONE task and prove eviction only re-folds — the
    // fused stats still equal the explode + bpe_apply spelling exactly.
    graft.functions.GraftFunctions.register(spark)
    val cap = graft.functions.BpeDocStats.maxMemoWordsForTest
    val n = cap + cap / 4
    spark.range(n).coalesce(1)
      .selectExpr("map(concat('w', CAST(id AS STRING)), id + 1) AS h")
      .createOrReplaceTempView("memo_h")
    val fused = spark.sql("""
      SELECT CAST(sum(st.n_words) AS BIGINT), CAST(sum(st.n_subwords) AS BIGINT),
             CAST(sum(st.n_len) AS BIGINT)
      FROM (SELECT bpe_doc_stats_chars(h, 'w 1') AS st FROM memo_h)""").head()
    val legacy = spark.sql("""
      SELECT CAST(sum(cnt) AS BIGINT),
             CAST(sum(cnt * size(bpe_apply_chars(w, 'w 1'))) AS BIGINT),
             CAST(sum(cnt * length(w)) AS BIGINT)
      FROM (SELECT explode(h) AS (w, cnt) FROM memo_h)""").head()
    assert(fused == legacy,
      s"memo eviction changed results: fused=$fused legacy=$legacy")
  }

  test("t19 quality classifier: learned boundary separates on the holdout") {
    import org.apache.spark.sql.functions._
    // the gate hash pins the values; this pins the CLAIM — the Rocchio
    // centroid boundary actually classifies. The degenerate all-keep
    // boundary (the naive mean >= 1/2 spelling, measured and rejected)
    // scores junk recall 0.0 and balanced accuracy 0.5; measured here:
    // keep 0.82 / junk 0.57 / balanced 0.69 at sf0.001.
    val df = SparkEntry.queries("t19_quality_classifier")(spark, dir).cache()
    try {
      val h = df.filter(col("holdout")).cache()
      val keepRec = h.filter(col("label_keep")).agg(
        avg(col("pred_keep").cast("double"))).head().getDouble(0)
      val junkRec = h.filter(!col("label_keep")).agg(
        avg((!col("pred_keep")).cast("double"))).head().getDouble(0)
      assert(keepRec >= 0.7, s"holdout keep recall collapsed: $keepRec")
      assert(junkRec >= 0.5, s"holdout junk recall at/below coin-flip: $junkRec")
      assert((keepRec + junkRec) / 2 >= 0.65,
        s"balanced accuracy floor broken: keep=$keepRec junk=$junkRec")
      // scores are valid fixed-point probabilities scaled by 1e6
      assert(df.filter(col("mean_score") <= 0 ||
        col("mean_score") >= 1000000).count() == 0, "score left (0, 1e6)")
      // every document of the corpus is scored (500 docs, none dropped)
      assert(df.count() == graft.ops.Q.table(spark, dir, "documents").count())
    } finally { df.unpersist(); }
  }

  test("d22 delete propagation: vanish / re-elect / untouched, proof holds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // planted corpus: doc_id % 13 == 4 is the tombstone rule, so
    //   docs 4 + 30  (both %13==4): identical text -> cluster FULLY
    //     deleted -> must vanish from the output entirely;
    //   docs 17 (%13==4) + 18: identical text, 17 longer claim? equal ->
    //     cluster loses doc 17 -> survivor 18 re-elected canonical;
    //   docs 1 + 2: identical text, neither deleted -> untouched, row
    //     byte-equal to the base;
    //   docs 50/51/52: distinct texts -> never clustered, never output.
    val dupA = ("alpha bravo charlie delta echo foxtrot golf hotel " * 6).trim
    val dupB = ("india juliett kilo lima mike november oscar papa " * 6).trim
    val dupC = ("quebec romeo sierra tango uniform victor whiskey xray " * 6).trim
    val tmp = graft.ops.StreamingGate.tempDir("graft-d22").toString
    Seq(
      (4L, dupA, "en", "web", dupA.length.toLong),
      (30L, dupA, "en", "web", dupA.length.toLong),
      (17L, dupB, "en", "web", dupB.length.toLong),
      (18L, dupB, "en", "web", dupB.length.toLong),
      (1L, dupC, "en", "web", dupC.length.toLong),
      (2L, dupC, "en", "web", dupC.length.toLong),
      (50L, "the quick brown fox jumps over the lazy dog again and again", "en", "web", 60L),
      (51L, "pack my box with five dozen liquor jugs every single day now", "en", "web", 61L),
      (52L, "sphinx of black quartz judge my vow said the old librarian", "en", "web", 58L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("d22_delete_propagation")(spark, tmp).cache()
    try {
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(3), r.getBoolean(4), r.getBoolean(5))).toSet
      // (cluster_id, canonical_doc, n_members, was_affected, matches_full)
      assert(rows == Set(
        (1L, 1L, 2L, false, true),   // untouched pair keeps base row
        (17L, 18L, 1L, true, true)), // survivor re-elected after deletion
        s"unexpected d22 output: $rows")
      // the fully-deleted cluster (4, 30) is GONE, not a null row
      assert(!out.select("cluster_id").collect().map(_.getLong(0)).contains(4L))
    } finally out.unpersist()
  }

  test("d22 on the gate corpus: proof green, base rows preserved byte-for-byte") {
    import org.apache.spark.sql.functions._
    val d22 = SparkEntry.queries("d22_delete_propagation")(spark, dir).cache()
    val base = SparkEntry.queries("d13_canonical_selection")(spark, dir).cache()
    try {
      assert(d22.filter(!col("matches_full")).count() == 0,
        "maintained path diverged from the full recompute")
      assert(d22.filter(col("was_affected")).count() >= 1,
        "tombstone batch touched no cluster — the repair path is untested")
      // unaffected rows must equal the stored base exactly (anti-join both ways)
      val un = d22.filter(!col("was_affected"))
        .select("cluster_id", "canonical_doc", "canonical_chars", "n_members")
      assert(un.exceptAll(base.select("cluster_id", "canonical_doc",
        "canonical_chars", "n_members")).count() == 0,
        "an unaffected cluster's row drifted from the stored base")
      // member conservation: maintained members = base members - deleted members
      val deleted = graft.ops.DedupOps.d06.run(spark, dir)
        .filter(col("doc_id") % 13 === 4).count()
      val bSum = base.agg(sum("n_members")).head().getLong(0)
      val mSum = d22.agg(sum("n_members")).head().getLong(0)
      assert(mSum == bSum - deleted,
        s"member counts leak: base=$bSum deleted=$deleted maintained=$mSum")
    } finally { d22.unpersist(); base.unpersist() }
  }

  test("q68 release gate: verdicts conserve docs, all four classes fire, compliance wins") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q68_corpus_release")(spark, dir).cache()
    try {
      // per (lang, source) row: the four verdict counts tile n_docs
      assert(df.filter(col("n_docs") =!= col("n_deleted") + col("n_contained")
        + col("n_low_quality") + col("n_kept")).count() == 0,
        "verdict counts do not tile the doc count")
      val t = df.agg(sum("n_docs"), sum("n_deleted"), sum("n_contained"),
        sum("n_low_quality"), sum("n_kept")).head()
      // every verdict class fires on the gate corpus (a silent rule is
      // an untested rule), and the corpus total is every scored doc
      (1 to 4).foreach(i => assert(t.getLong(i) > 0, s"verdict class $i never fired"))
      assert(t.getLong(0) ==
        graft.ops.Q.table(spark, dir, "documents").count())
      // compliance outranks the other rules: the deleted count equals the
      // tombstone-rule count over the whole corpus — no deleted doc was
      // reclassified as contained or low-quality
      val tomb = graft.ops.Q.table(spark, dir, "documents")
        .filter(col("doc_id") % 13 === 4).count()
      assert(t.getLong(1) == tomb,
        s"deleted=${t.getLong(1)} but tombstone rule covers $tomb docs")
    } finally df.unpersist()
  }

  test("t18 detokenize: EVERY document round-trips, at 12 AND 256 merge rounds") {
    import org.apache.spark.sql.functions._
    // the gate hash pins the values; this pins the semantic claim — zero
    // failed reconstructions corpus-wide, through the distributed path
    for (rounds <- Seq(graft.ops.CorpusOps.bpeRounds, 256)) {
      val df = graft.ops.CorpusOps.t18Detok(spark, dir, rounds)
      val bad = df.filter(!col("roundtrip")).count()
      assert(bad == 0, s"$bad docs failed the $rounds-round detokenize round-trip")
    }
  }
}
