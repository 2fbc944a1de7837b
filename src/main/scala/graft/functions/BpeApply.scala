package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DataTypes, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE merge-table application: encode one word under a trained
  * merge-rule table in a single JVM pass, returning the final symbol
  * sequence as `array<string>`.
  *
  * WHY a native expression: the SQL spelling of the encode
  * ([[graft.ops.CorpusOps]] t12/t14) nests one `aggregate()` lambda fold
  * per merge round — structurally capped (the expression tree grows
  * linearly in rounds, so a production 30k-merge tokenizer can never be
  * spelled that way) and interpretively slow (R nested lambda closures per
  * distinct word). Here the merge table rides ONE string literal (a model
  * artifact — same judgment as d12's driver-built Bloom filter), parsed
  * once per executor, and the fold is `O(rounds · symbols)` of primitive
  * byte compares. Round count stops being a plan-shape concern entirely —
  * the reference's contract that per-unit user compute is unbounded by
  * the framework (`/root/reference/gasket/src/framework.rs:125`) holds.
  *
  * SEMANTICS — exactly [[graft.ops.CorpusOps.encodeLocal]] /
  * `greedyMergeLocal`: merges apply in training order; each is one
  * leftmost-greedy scan (tail-fuse-or-append) over the current symbols.
  * Symbols are contiguous slices of the word's UTF-8 bytes, so the whole
  * state is a boundary array; a merge round never allocates. Equivalence
  * with both the driver fold and the legacy nested-SQL fold is pinned in
  * QueriesSpec (12 rounds vs the SQL spelling, 256 rounds vs the driver).
  *
  * Two registered spellings share this class:
  *   - `bpe_apply_bytes(word, merges)` — byte-level (GPT-2-style): initial
  *     symbols are single UTF-8 bytes, symbols render as uppercase hex
  *     pairs (the t13/t14 alphabet, [[graft.ops.CorpusOps.byteSyms]]).
  *   - `bpe_apply_chars(word, merges)` — char-level (t10/t12 alphabet):
  *     initial symbols are single characters, symbols render as raw
  *     substrings. ASCII-only by contract (t12 words are `[a-z]+`); a
  *     multi-byte input throws rather than silently diverging from the
  *     char-based driver fold.
  *
  * `merges` must be a foldable string: space-separated `lhs rhs` pairs in
  * training order, each symbol spelled in the mode's alphabet (hex pairs /
  * raw chars). Neither alphabet can contain a space, so the flat encoding
  * is unambiguous.
  */
case class BpeApply(left: Expression, right: Expression, hexMode: Boolean)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String =
    if (hexMode) "bpe_apply_bytes" else "bpe_apply_chars"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (left.dataType != StringType || right.dataType != StringType)
      TypeCheckFailure(s"$prettyName expects (string, string)")
    else if (!right.foldable)
      TypeCheckFailure(s"$prettyName merge table must be a literal")
    else TypeCheckSuccess
  }

  /** Merge table parsed ONCE per (literal, alphabet) per JVM: the
    * `@transient lazy val` alone re-parses per TASK (the expression
    * instance is deserialized with each task), which for a 30k-merge
    * production table is ~60k token splits + hex decodes repeated across
    * every task of the encode stage — so the parse memoizes in a small
    * JVM-wide LRU keyed by a SHA-256 digest of the literal (the key does
    * NOT retain the hundreds-of-KB literal text) and capped at
    * [[BpeApply.MaxCachedTables]] entries, so deep-dial sweeps that vary
    * `-Dgraft.bpe.rounds` across a long-lived executor JVM can never
    * accumulate unbounded parsed copies (round-10 advice item). */
  @transient private lazy val mergeTable: Array[Array[Byte]] =
    BpeApply.tableFor(right.eval(null), hexMode, prettyName)

  private final val HexDigits = "0123456789ABCDEF".toCharArray

  override protected def nullSafeEval(wordAny: Any, mergesAny: Any): Any = {
    val bytes = wordAny.asInstanceOf[UTF8String].getBytes
    if (!hexMode) {
      var i = 0
      while (i < bytes.length) {
        require(bytes(i) >= 0,
          "bpe_apply_chars input must be ASCII (use bpe_apply_bytes)")
        i += 1
      }
    }
    val (b, m) = BpeApply.fold(bytes, mergeTable)

    val syms = new Array[AnyRef](m)
    var k = 0
    while (k < m) {
      val from = b(k)
      val to = b(k + 1)
      if (hexMode) {
        val cs = new Array[Char](2 * (to - from))
        var j = from
        var w = 0
        while (j < to) {
          val v = bytes(j) & 0xff
          cs(w) = HexDigits(v >> 4)
          cs(w + 1) = HexDigits(v & 0xf)
          j += 1
          w += 2
        }
        syms(k) = UTF8String.fromString(new String(cs))
      } else {
        syms(k) = UTF8String.fromBytes(bytes, from, to - from)
      }
      k += 1
    }
    new GenericArrayData(syms)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeApply =
    copy(left = newLeft, right = newRight)
}

object BpeApply {
  /** Merge table parsed ONCE per (literal, alphabet) per JVM (see the
    * cache note on [[BpeApply.mergeTable]]); shared by [[BpeApply]] and
    * [[BpeDocStats]] so the two expressions can never parse the same
    * artifact differently. Atomic on the synchronized wrapper (its
    * computeIfAbsent holds the mutex), so 32 tasks hitting a fresh table
    * parse it ONCE; parseTable never touches the map, so the
    * CHM-recursion caveat doesn't apply. */
  private[functions] def tableFor(
      raw: Any, hexMode: Boolean, who: String): Array[Array[Byte]] = {
    require(raw != null, s"$who merge table must not be null")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(raw.asInstanceOf[UTF8String].getBytes)
    val key = (java.util.Base64.getEncoder.encodeToString(digest), hexMode)
    tableCache.computeIfAbsent(key, _ => parseTable(raw, hexMode, who))
  }

  private def parseTable(
      raw: Any, hexMode: Boolean, who: String): Array[Array[Byte]] = {
    val toks = raw.asInstanceOf[UTF8String].toString
      .split(" ").filter(_.nonEmpty)
    require(toks.length % 2 == 0,
      s"$who merge table must hold lhs/rhs pairs, got ${toks.length} symbols")
    toks.map { t =>
      if (hexMode) {
        require(t.length % 2 == 0, s"odd hex symbol '$t'")
        val out = new Array[Byte](t.length / 2)
        var i = 0
        while (i < out.length) {
          out(i) = java.lang.Integer
            .parseInt(t.substring(2 * i, 2 * i + 2), 16).toByte
          i += 1
        }
        out
      } else {
        val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        require(b.forall(_ >= 0),
          s"bpe_apply_chars merge symbol '$t' is not ASCII")
        b
      }
    }
  }

  private def regionEq(
      bytes: Array[Byte], from: Int, to: Int, sym: Array[Byte]): Boolean = {
    if (to - from != sym.length) return false
    var i = 0
    while (i < sym.length) {
      if (bytes(from + i) != sym(i)) return false
      i += 1
    }
    true
  }

  /** The greedy merge fold, shared by [[BpeApply]] (symbol
    * materialization) and [[BpeDocStats]] (symbol COUNT only): symbols
    * are contiguous byte slices, state = boundary array b(0..m), symbol
    * i = bytes[b(i), b(i+1)); two buffers ping-pong per round; each
    * merge is one leftmost-greedy tail-fuse-or-append scan. Returns the
    * final boundary array and symbol count. */
  private[functions] def fold(
      bytes: Array[Byte], table: Array[Array[Byte]]): (Array[Int], Int) = {
    var b = new Array[Int](bytes.length + 1)
    var nb = new Array[Int](bytes.length + 1)
    var m = bytes.length
    var i = 0
    while (i <= m) { b(i) = i; i += 1 }
    var r = 0
    while (r + 1 < table.length && m >= 2) {
      val lhs = table(r)
      val rhs = table(r + 1)
      nb(0) = b(0)
      var out = 1
      var s = 0
      while (s < m) {
        val cs = b(s)
        val ce = b(s + 1)
        if (out >= 2 && regionEq(bytes, nb(out - 2), nb(out - 1), lhs) &&
            regionEq(bytes, cs, ce, rhs)) {
          nb(out - 1) = ce // fuse into tail
        } else {
          nb(out) = ce
          out += 1
        }
        s += 1
      }
      m = out - 1
      val t = b; b = nb; nb = t
      r += 2
    }
    (b, m)
  }

  /** A JVM sees a handful of live merge tables per session (one per
    * trained tokenizer × alphabet); 16 is comfortable headroom while
    * keeping worst-case retention ~16 parsed tables. */
  private[functions] val MaxCachedTables = 16

  /** JVM-wide parsed-merge-table LRU (see [[BpeApply.mergeTable]]).
    * Keyed by (SHA-256 of the literal, alphabet) — no reference to the
    * literal text itself; values are immutable and shared read-only
    * across tasks. Access-ordered with eldest-entry eviction; the
    * synchronized wrapper is uncontended (one lookup per task deserialization,
    * not per row). */
  // test-only views (BpeApplySpec pins the bound without reaching into
  // the synchronized map from another package)
  private[graft] def maxCachedTablesForTest: Int = MaxCachedTables
  private[graft] def cacheSizeForTest: Int = tableCache.size()

  private[functions] val tableCache: java.util.Map[(String, Boolean), Array[Array[Byte]]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Boolean), Array[Array[Byte]]](
        MaxCachedTables, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Boolean), Array[Array[Byte]]]): Boolean =
          size() > MaxCachedTables
      })
}
