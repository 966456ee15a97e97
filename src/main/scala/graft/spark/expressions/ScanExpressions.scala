package graft.spark.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.text.AhoCorasick

/** multi_pattern_counts(text): Array[Long] — per-pattern occurrence
  * counts via one Aho–Corasick pass (overlaps included). The automaton is
  * built once per expression instance and embedded in the generated code
  * via `addReferenceObj` (the compiled-Pattern discipline of Spark's own
  * regexp expressions), so a 50-term blocklist costs ONE text scan per
  * row, not 50 — inside WholeStageCodegen. */
case class MultiPatternCounts(child: Expression, patterns: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "multi_pattern_counts"

  @transient private lazy val ac = new AhoCorasick(patterns)

  override protected def nullSafeEval(text: Any): Any =
    new GenericArrayData(ac.counts(text.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acRef = ctx.addReferenceObj("ac", ac, classOf[AhoCorasick].getName)
    defineCodeGen(ctx, ev, t =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"$acRef.counts($t.toString()))")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Luhn mod-10 checksum kernel (ISO/IEC 7812) — the validity gate that
  * separates real card-number PII from arbitrary 13–19 digit strings. */
object LuhnKernel {
  /** true iff s is all digits (len 13–19) and passes the Luhn check. */
  def valid(s: UTF8String): Boolean = {
    val str = s.toString
    val n = str.length
    if (n < 13 || n > 19) return false
    var sum = 0
    var dbl = false
    var i = n - 1
    while (i >= 0) {
      val c = str.charAt(i)
      if (c < '0' || c > '9') return false
      var d = c - '0'
      if (dbl) { d *= 2; if (d > 9) d -= 9 }
      sum += d
      dbl = !dbl
      i -= 1
    }
    sum % 10 == 0
  }
}

/** luhn_valid(s): Boolean — codegen'd Luhn checksum. */
case class LuhnValid(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "luhn_valid"

  override protected def nullSafeEval(s: Any): Any =
    LuhnKernel.valid(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.spark.expressions.LuhnKernel.valid($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Byte-level twin of `regexp_extract(s, "(\\d+)$", 1)`. Java's `\d` is
  * ASCII `[0-9]`, and a non-multiline `$` matches at the end of the input
  * or just before one final line terminator (`\n`, `\r`, `\r\n`, U+0085,
  * U+2028, U+2029). So the match is the maximal ASCII digit run ending at
  * that anchor, and "" when there is none. The regex runs on the decoded
  * String, where invalid UTF-8 becomes U+FFFD; the decoder never folds an
  * ASCII byte or a terminator's lead byte (C2, E2) into a malformed
  * sequence, so the digits and terminator it sees are the bytes seen here. */
object TrailingDigitsKernel {
  def extract(s: UTF8String): UTF8String = {
    val end = anchor(s)
    var start = end
    while (start > 0 && isDigit(s.getByte(start - 1))) start -= 1
    if (start == end) UTF8String.EMPTY_UTF8
    else s.copyUTF8String(start, end - 1)
  }

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** Byte offset where `$` can close a digit run: before a final line
    * terminator if there is one, else the end of the input. */
  private def anchor(s: UTF8String): Int = {
    val n = s.numBytes
    def at(i: Int): Int = if (i >= 0) s.getByte(i) & 0xff else -1
    at(n - 1) match {
      case 0x0a => if (at(n - 2) == 0x0d) n - 2 else n - 1     // \r\n, \n
      case 0x0d => n - 1                                        // \r
      case 0x85 if at(n - 2) == 0xc2 => n - 2                   // U+0085
      case 0xa8 | 0xa9 if at(n - 2) == 0x80 && at(n - 3) == 0xe2 =>
        n - 3                                                   // U+2028/9
      case _ => n
    }
  }
}

/** trailing_digits(s): String — the page-id parse, `regexp_extract(s,
  * "(\\d+)$", 1)` without `java.util.regex`: no String conversion and no
  * Matcher per row. Null-intolerant like the regex, so a filter over it
  * still infers `isnotnull(s)`. */
case class TrailingDigits(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "trailing_digits"

  override protected def nullSafeEval(s: Any): Any =
    TrailingDigitsKernel.extract(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.spark.expressions.TrailingDigitsKernel.extract($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** nfc_normalize(s): Unicode NFC normalization (canonical composition) —
  * the pre-dedup canonicalization step: "é" as U+0065 U+0301 and as
  * U+00E9 must hash identically or near-dup clusters split by encoder
  * accident. Wraps the JDK normalizer in codegen. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(s: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.asInstanceOf[UTF8String].toString,
      java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"java.text.Normalizer.normalize($s.toString(), " +
        "java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
