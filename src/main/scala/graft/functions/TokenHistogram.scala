package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native per-row token histogram: tokenize one document and count each
  * distinct token in a single byte-level pass, returning
  * `map<string,bigint>`.
  *
  * WHY a native expression: the tokenizer family's corpus pass was
  * `explode(regexp_extract_all(...))` — a java.util.regex scan that
  * materializes every token occurrence as a row (17 M rows at 64× for a
  * 7.4 M-row distinct-per-doc frame). Collapsing within the row first
  * means (a) no regex, one branchy byte scan per document; (b) the explode
  * that follows emits one row per DISTINCT word per doc (2.3× fewer at the
  * measured corpus shape); and (c) the per-doc frame becomes a zero-shuffle
  * projection that [[graft.ops.Q.staged]] can stage ONCE per run, so the
  * BPE encode family (t12/t14) derives BOTH its train-side wordcount and
  * its per-doc aggregate from a single corpus scan — the round-10 weak-set
  * root cause (SCALE.md "Byte-level tokenizer": the corpus was scanned and
  * word-counted twice). Reference analogue: per-unit user compute owned by
  * the stage itself (`/root/reference/gasket/src/framework.rs:125`), not
  * the framework.
  *
  * Two registered spellings share this class:
  *   - `ascii_word_histogram(text)` — tokens are maximal runs of bytes
  *     `a`-`z`. Applied to `lower(text)` this is EXACTLY
  *     `regexp_extract_all(lower(text), '[a-z]+', 0)` semantics: in UTF-8,
  *     continuation/lead bytes of multi-byte characters have the high bit
  *     set and can never fall in `[a-z]`, so byte-level run detection is
  *     charset-exact (equivalence is property-pinned in QueriesSpec).
  *   - `space_token_histogram(text)` — tokens are maximal runs of
  *     non-`0x20` bytes: exactly `filter(split(text, ' '), x -> x <> '')`
  *     (0x20 never occurs inside a multi-byte UTF-8 sequence). The t13/t14
  *     byte-level alphabet keeps digits, punctuation, casing, and
  *     multi-byte scripts intact.
  *
  * Map entry order is the document's first-occurrence order (deterministic,
  * but consumers only ever `explode` + re-aggregate, so order is never
  * load-bearing). Counts are exact longs.
  */
case class TokenHistogram(child: Expression, asciiWordMode: Boolean)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def prettyName: String =
    if (asciiWordMode) "ascii_word_histogram" else "space_token_histogram"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType != StringType)
      TypeCheckFailure(s"$prettyName expects a string argument")
    else TypeCheckSuccess
  }

  @inline private def isTokenByte(b: Byte): Boolean =
    if (asciiWordMode) b >= 'a' && b <= 'z' else b != ' '.toByte

  override protected def nullSafeEval(textAny: Any): Any = {
    val bytes = textAny.asInstanceOf[UTF8String].getBytes
    // first-occurrence-ordered exact counts; token slices share `bytes`
    val counts = new java.util.LinkedHashMap[UTF8String, Long]()
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && !isTokenByte(bytes(i))) i += 1
      val from = i
      while (i < n && isTokenByte(bytes(i))) i += 1
      if (i > from) {
        val tok = UTF8String.fromBytes(bytes, from, i - from)
        val prev = counts.get(tok)
        counts.put(tok, prev + 1L) // missing key => 0L (unboxed default)
      }
    }
    val m = counts.size()
    val keys = new Array[AnyRef](m)
    val vals = new Array[Any](m)
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      keys(k) = e.getKey
      vals(k) = e.getValue
      k += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override protected def withNewChildInternal(newChild: Expression): TokenHistogram =
    copy(child = newChild)
}
