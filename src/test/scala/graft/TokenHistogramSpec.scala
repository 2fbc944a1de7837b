package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantics pins for the native [[graft.functions.TokenHistogram]]
  * expression — the tokenizer family's single corpus pass rests on the
  * claim that the byte-level run scanner is EXACTLY equivalent to the SQL
  * spellings it replaced:
  *   - `ascii_word_histogram(lower(text))` ≡ counting
  *     `regexp_extract_all(lower(text), '[a-z]+', 0)` occurrences, and
  *   - `space_token_histogram(text)` ≡ counting
  *     `filter(split(text, ' '), x -> x <> '')` occurrences,
  * including on multi-byte UTF-8 (continuation bytes never collide with
  * `[a-z]` or `0x20`). Checked on the sf0.001 documents table (augmented
  * text for the byte mode — the t13/t14 input), on adversarial literals,
  * and under randomized mixed-charset strings.
  */
class TokenHistogramSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def mismatches(histCounts: String, refToks: String): Long = {
    graft.functions.GraftFunctions.register(spark)
    graft.ops.Q.table(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(s"""
      WITH h AS (SELECT doc_id, word, cnt
                 FROM (SELECT doc_id, explode($histCounts) AS (word, cnt)
                       FROM documents)),
           r AS (SELECT doc_id, w AS word, CAST(count(*) AS BIGINT) AS cnt
                 FROM (SELECT doc_id, explode($refToks) AS w FROM documents)
                 GROUP BY doc_id, w)
      SELECT count(*) FROM (
        SELECT doc_id, word FROM h EXCEPT SELECT doc_id, word FROM r
        UNION ALL
        SELECT doc_id, word FROM r EXCEPT SELECT doc_id, word FROM h
        UNION ALL
        SELECT h.doc_id, h.word FROM h JOIN r
          ON h.doc_id = r.doc_id AND h.word = r.word AND h.cnt <> r.cnt)
    """).collect().head.getLong(0)
  }

  test("ascii_word_histogram ≡ regexp_extract_all('[a-z]+') on documents") {
    assert(mismatches(
      "ascii_word_histogram(lower(text))",
      "regexp_extract_all(lower(text), '[a-z]+', 0)") == 0L)
  }

  test("space_token_histogram ≡ filter(split(text,' ')) on augmented documents") {
    // same augmentation t13/t14 run on: digits, punct, case, multi-byte UTF-8
    val aug = "concat(text, ' Café-№', CAST(doc_id % 10 AS STRING), '.', " +
      "CAST(doc_id % 7 AS STRING), '% Ωδ', source)"
    assert(mismatches(
      s"space_token_histogram($aug)",
      s"filter(split($aug, ' '), x -> x <> '')") == 0L)
  }

  test("edge literals: empty, separators-only, unicode-adjacent runs, nulls") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val rows = Seq(
      "", "   ", "...!?", "a", "zz azz a", "Ωab caféx", "a\tb\nc d",
      "héllo wörld", "ab" + "é" + "cd", null: String)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = rows.toDF("doc_id", "text")
    df.createOrReplaceTempView("edge_docs")
    val bad = spark.sql("""
      WITH h AS (SELECT doc_id, word, cnt
                 FROM (SELECT doc_id, explode(ascii_word_histogram(lower(text))) AS (word, cnt)
                       FROM edge_docs)),
           r AS (SELECT doc_id, w AS word, CAST(count(*) AS BIGINT) AS cnt
                 FROM (SELECT doc_id, explode(regexp_extract_all(lower(text), '[a-z]+', 0)) AS w
                       FROM edge_docs)
                 GROUP BY doc_id, w)
      SELECT count(*) FROM (
        SELECT doc_id, word, cnt FROM h EXCEPT SELECT doc_id, word, cnt FROM r
        UNION ALL
        SELECT doc_id, word, cnt FROM r EXCEPT SELECT doc_id, word, cnt FROM h)
    """).collect().head.getLong(0)
    assert(bad == 0L)
    // null text -> null map (UnaryExpression null propagation), not a crash
    val nullRow = spark.sql(
      "SELECT ascii_word_histogram(text) IS NULL FROM edge_docs WHERE text IS NULL")
      .collect().head.getBoolean(0)
    assert(nullRow)
  }

  test("randomized mixed-charset equivalence, both modes") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alphabet = "abz AZ09.Ωé№\t\n-"
    val rows = (0 until 200).map { i =>
      (i.toLong, (0 until rnd.nextInt(80)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    rows.toDF("doc_id", "text").createOrReplaceTempView("rand_docs")
    def bad(hist: String, ref: String): Long = spark.sql(s"""
      WITH h AS (SELECT doc_id, word, cnt
                 FROM (SELECT doc_id, explode($hist) AS (word, cnt) FROM rand_docs)),
           r AS (SELECT doc_id, w AS word, CAST(count(*) AS BIGINT) AS cnt
                 FROM (SELECT doc_id, explode($ref) AS w FROM rand_docs)
                 GROUP BY doc_id, w)
      SELECT count(*) FROM (
        SELECT doc_id, word, cnt FROM h EXCEPT SELECT doc_id, word, cnt FROM r
        UNION ALL
        SELECT doc_id, word, cnt FROM r EXCEPT SELECT doc_id, word, cnt FROM h)
    """).collect().head.getLong(0)
    assert(bad("ascii_word_histogram(lower(text))",
      "regexp_extract_all(lower(text), '[a-z]+', 0)") == 0L)
    assert(bad("space_token_histogram(text)",
      "filter(split(text, ' '), x -> x <> '')") == 0L)
  }

  test("derived wordcount frame equals the direct wordcount spelling") {
    // the train head's staged artifact (sum over per-doc histograms) must
    // be row-identical to the pre-round-11 direct corpus aggregate
    graft.functions.GraftFunctions.register(spark)
    val derived = graft.ops.CorpusOps.wordCounts(spark, dir, graft.ops.CorpusOps.Chars)
    graft.ops.Q.table(spark, dir, "documents").createOrReplaceTempView("documents")
    val direct = spark.sql("""
      SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT explode(regexp_extract_all(lower(text), '[a-z]+', 0)) AS w
            FROM documents)
      GROUP BY w""")
    assert(derived.exceptAll(direct).isEmpty && direct.exceptAll(derived).isEmpty)
  }
}
