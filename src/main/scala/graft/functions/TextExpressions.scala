package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels referenced from generated code (must be static-callable from
  * Janino-compiled Java, hence a top-level object with forwarders). */
object TextKernels {
  def nfkc(s: UTF8String): UTF8String =
    UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFKC))

  /** Fused `lower` + `[a-z0-9]+` token scan for PURE-ASCII strings — the
    * dedup/text-stats tokenizer hot path (r16 optimization round, guide
    * §1.2 step 2 "per-task work"): the
    * `regexp_extract_all(lower(text), '[a-z0-9]+', 0)` composition this
    * accelerates first COPIES the string through `lower`, then walks it
    * with java.util.regex — per-byte interpreter dispatch plus match-
    * object churn — and it is the single most expensive scalar of the
    * MinHash band pass, which every fuzzy-dedup operator pays once per
    * corpus document.
    *
    * Returns null when the input contains ANY non-ASCII byte: callers
    * compose `coalesce(asciiWordTokens(c), regexp_extract_all(lower(c),
    * …))`, so non-ASCII rows are tokenized by Spark's own built-ins —
    * the fast path never has to replicate Unicode lowering (locale/ICU
    * edge cases stay with the engine that the oracle already pins).
    * For ASCII input the scan is EXACTLY the composition: `lower` maps
    * only A–Z (+32), and `[a-z0-9]+` matches are the maximal runs of
    * [a-z0-9] in the lowered bytes — emitted here in order, lowercased,
    * one UTF8String per run, no empty matches possible under `+`. */
  def asciiWordTokens(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = s.getBytes // zero-copy when the string is exactly its buffer
    val n = b.length
    var i = 0
    val out = new java.util.ArrayList[UTF8String]()
    var start = -1
    var needsLower = false
    while (i < n) {
      val c = b(i)
      if (c < 0) return null // non-ASCII byte → built-in fallback
      val isDigit = c >= '0' && c <= '9'
      val isLower = c >= 'a' && c <= 'z'
      val isUpper = c >= 'A' && c <= 'Z'
      if (isDigit || isLower || isUpper) {
        if (start < 0) { start = i; needsLower = false }
        if (isUpper) needsLower = true
      } else if (start >= 0) {
        out.add(sliceLower(b, start, i, needsLower))
        start = -1
      }
      i += 1
    }
    if (start >= 0) out.add(sliceLower(b, start, n, needsLower))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size())))
  }

  private def sliceLower(
      b: Array[Byte], from: Int, until: Int, needsLower: Boolean): UTF8String = {
    val len = until - from
    val t = new Array[Byte](len)
    System.arraycopy(b, from, t, 0, len)
    if (needsLower) {
      var j = 0
      while (j < len) {
        val c = t(j)
        if (c >= 'A' && c <= 'Z') t(j) = (c + 32).toByte
        j += 1
      }
    }
    UTF8String.fromBytes(t)
  }

  /** cp1252 codepoint → byte for the 27 printable characters windows-1252
    * places in the 0x80–0x9F range (the "sloppy" superset of latin-1 that
    * encoding-repair needs: mojibake produced by a cp1252 mis-decode shows
    * € „ " etc. where latin-1 would show C1 controls). */
  private val Cp1252Rev: java.util.HashMap[Character, java.lang.Byte] = {
    val m = new java.util.HashMap[Character, java.lang.Byte]()
    val pairs = Seq(
      '€' -> 0x80, '‚' -> 0x82, 'ƒ' -> 0x83, '„' -> 0x84,
      '…' -> 0x85, '†' -> 0x86, '‡' -> 0x87, 'ˆ' -> 0x88,
      '‰' -> 0x89, 'Š' -> 0x8A, '‹' -> 0x8B, 'Œ' -> 0x8C,
      'Ž' -> 0x8E, '‘' -> 0x91, '’' -> 0x92, '“' -> 0x93,
      '”' -> 0x94, '•' -> 0x95, '–' -> 0x96, '—' -> 0x97,
      '˜' -> 0x98, '™' -> 0x99, 'š' -> 0x9A, '›' -> 0x9B,
      'œ' -> 0x9C, 'ž' -> 0x9E, 'Ÿ' -> 0x9F)
    pairs.foreach { case (c, b) => m.put(c, b.toByte) }
    m
  }

  /** One round of encoding repair (the ftfy core move, reimplemented from
    * the published algorithm idea — fix UTF-8 text that was mis-decoded as
    * latin-1/windows-1252): re-encode every char back to the byte it came
    * from (identity below 0x100, the cp1252 table above it) and strictly
    * re-decode as UTF-8. Returns null when the text cannot be pure
    * mojibake — any char outside the byte-mapped set, no high bytes at
    * all, or an invalid UTF-8 byte sequence — in which case the input is
    * left untouched (conservative: mixed legit-accented + mojibake text is
    * not repaired, unlike ftfy's per-segment pass; documented deviation).
    *
    * Lossy-replacement recovery (round-10 verdict stretch item 8, the
    * last fix_text stage with no engine analog): a U+FFFD in the input —
    * a byte an earlier decoder already destroyed (e.g. cp1252's five
    * undefined codes under a non-sloppy decoder) — re-encodes as an
    * UNKNOWN byte that may stand for any continuation byte during the
    * re-decode; the scalar it participates in decodes to U+FFFD (the
    * byte's value is unrecoverable — ftfy emits � there too) while the
    * REST of the string repairs normally, instead of the whole string
    * being abandoned.
    *
    * Conservatism extensions (the whole-string discipline, round-11
    * review): (a) lossy recovery fires only when the string ALSO
    * contains a complete wildcard-free multi-byte sequence —
    * independent evidence the text is genuinely mojibake. Without it,
    * "é" followed by destroyed bytes is equally a SANE accented char
    * next to earlier damage ("café��"), and collapsing it to � would
    * corrupt correct text — so such strings stay untouched. (b) An
    * unknown byte in LEAD position of a multi-byte sequence makes the
    * sequence length unknowable; its real continuation bytes then hit
    * the bare-continuation reject and the whole string stays untouched
    * (a standalone unknown byte surrounded by decodable text stays
    * U+FFFD by itself and does not block the rest). Validation
    * elsewhere is byte-for-byte the strict rules (bare continuation,
    * overlongs C0/C1 + long forms, surrogates ED A0–BF, beyond-U+10FFFF
    * F4 90+/F5+ → all reject), so strings without U+FFFD behave exactly
    * as before. */
  private def fixOnce(str: String): String = {
    val n = str.length
    val bytes = new Array[Int](n) // 0..255, or -1 = unknown (was U+FFFD)
    var hasHigh = false
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c == '�') bytes(i) = -1
      else if (c < 0x100) {
        bytes(i) = c.toInt
        if ((c & 0x80) != 0) hasHigh = true
      } else {
        val b = Cp1252Rev.get(c)
        if (b == null) return null
        bytes(i) = b.byteValue() & 0xFF
        hasHigh = true
      }
      i += 1
    }
    if (!hasHigh) return null
    val sb = new java.lang.StringBuilder(n)
    var anyLost = false
    var realSeq = false // a complete multi-byte sequence with NO wildcard
    var p = 0
    while (p < n) {
      val b0 = bytes(p)
      if (b0 == -1) { sb.append('�'); p += 1 } // standalone unknown byte
      else if (b0 < 0x80) { sb.append(b0.toChar); p += 1 }
      else if (b0 < 0xC2) return null // bare continuation or overlong C0/C1
      else {
        val len = if (b0 < 0xE0) 2 else if (b0 < 0xF0) 3
          else if (b0 < 0xF5) 4 else return null // F5+ beyond U+10FFFF
        if (p + len > n) return null
        var cp = b0 & (if (len == 2) 0x1F else if (len == 3) 0x0F else 0x07)
        var lost = false
        var j = 1
        while (j < len) {
          val bj = bytes(p + j)
          if (bj == -1) lost = true
          else if (bj < 0x80 || bj > 0xBF) return null
          else if (j == 1 && !lost) {
            // shortest-form / range checks live on the first continuation
            if ((b0 == 0xE0 && bj < 0xA0) || (b0 == 0xED && bj > 0x9F) ||
                (b0 == 0xF0 && bj < 0x90) || (b0 == 0xF4 && bj > 0x8F))
              return null
            cp = (cp << 6) | (bj & 0x3F)
          } else cp = (cp << 6) | (bj & 0x3F)
          j += 1
        }
        if (lost) { sb.append('�'); anyLost = true }
        else { sb.appendCodePoint(cp); realSeq = true }
        p += len
      }
    }
    // lossy recovery needs independent mojibake evidence (doc point (a)):
    // a wildcard-completed sequence with no intact sequence beside it is
    // just as likely sane accented text next to earlier damage — leave it
    if (anyLost && !realSeq) return null
    val out = sb.toString
    if (out == str) null else out
  }

  /** Mojibake repair: apply [[fixOnce]] up to `passes` times (doubly
    * mis-decoded text needs two). A pass that finds nothing to fix (or
    * that would corrupt) stops the loop and the last good form is kept. */
  def fixMojibake(s: UTF8String, passes: Int): UTF8String = {
    var cur: String = null
    val base = s.toString
    var p = 0
    var go = true
    while (p < passes && go) {
      val next = fixOnce(if (cur == null) base else cur)
      if (next == null) go = false else cur = next
      p += 1
    }
    if (cur == null) s else UTF8String.fromString(cur)
  }

  /** 64-bit polynomial rolling hash (Karp-Rabin style, base 31) over UTF-8
    * bytes — the document-fingerprint primitive (reference uses SHA-256 hex
    * keys, io_helpers.py:105-115; a rolling hash is the scale-path variant:
    * 8 bytes/doc instead of 64 hex chars). */
  def rollingHash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    h
  }
}

/** T1 (data_transformation_helpers.py:20-86): Unicode NFKC normalization as
  * a native Catalyst expression — `doGenCode` keeps it inside whole-stage
  * codegen (unlike a Scala UDF, which forces an eval boundary and blocks
  * filter pushdown through the projection).
  */
case class NfkcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.nfkc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.nfkc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfkcNormalize =
    copy(child = newChild)
  override def prettyName: String = "nfkc_normalize"
}

/** T1 fidelity (data_transformation_helpers.py:20-42 via /root/reference —
  * the `ftfy.fix_text` step): encoding-confusion repair as a native
  * codegen'd expression; see TextKernels.fixMojibake for the algorithm
  * and its conservative whole-string deviation from ftfy. */
case class FixMojibake(child: Expression, passes: Int) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.fixMojibake(input.asInstanceOf[UTF8String], passes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.fixMojibake($c, $passes)")
  override protected def withNewChildInternal(newChild: Expression): FixMojibake =
    copy(child = newChild)
  override def prettyName: String = "fix_mojibake"
}

/** Rolling-hash fingerprint expression (codegen-friendly, see
  * TextKernels.rollingHash). */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.rollingHash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.rollingHash($c)")
  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
  override def prettyName: String = "rolling_hash"
}

/** ASCII fast-path word tokenizer — see [[TextKernels.asciiWordTokens]].
  * Unlike the other expressions here it is nullable BEYOND its child's
  * nullability (non-ASCII input → null, the composed fallback's cue), so
  * its codegen sets isNull from the kernel's result explicitly
  * (defineCodeGen would mark a null array non-null and NPE downstream). */
case class AsciiWordTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.asciiWordTokens(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TextKernels.asciiWordTokens($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  override protected def withNewChildInternal(newChild: Expression): AsciiWordTokens =
    copy(child = newChild)
  override def prettyName: String = "ascii_word_tokens"
}

object TextExpressions {
  def nfkc(c: Column): Column =
    GraftSqlBridge.column(NfkcNormalize(GraftSqlBridge.expression(c)))
  def fixMojibake(c: Column, passes: Int = 2): Column =
    GraftSqlBridge.column(FixMojibake(GraftSqlBridge.expression(c), passes))
  def rollingHash(c: Column): Column =
    GraftSqlBridge.column(RollingHash(GraftSqlBridge.expression(c)))

  /** Drop-in replacement for
    * `regexp_extract_all(lower(c), '[a-z0-9]+', 0)` (the corpus
    * tokenizer): the codegen'd ASCII scan when the row is pure ASCII,
    * Spark's own lower+regex otherwise (null input stays null through
    * both branches, so the coalesce is transparent). Bit-identical by
    * construction off the fast path and by the ASCII-semantics argument
    * (+ TextSpec's property pin) on it. */
  def fastWordTokens(c: Column): Column =
    org.apache.spark.sql.functions.coalesce(
      GraftSqlBridge.column(AsciiWordTokens(GraftSqlBridge.expression(c))),
      org.apache.spark.sql.functions.regexp_extract_all(
        org.apache.spark.sql.functions.lower(c),
        org.apache.spark.sql.functions.lit("[a-z0-9]+"),
        org.apache.spark.sql.functions.lit(0)))
}
