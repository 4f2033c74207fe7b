package graft.functions

import java.util.regex.Pattern
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass kernels for the per-document text screens. Each replaces a
  * chain of Spark's regex / split functions with one loop per row and
  * returns what the chain returned (TextQualitySpec pins each against its
  * chain, interpreted and codegen'd):
  *  - [[wsParts]]: `size(split(trim(text), "\\s+"))`;
  *  - [[dsirGrams]]: [[graft.ops.TextOps.dsirScore]]'s `n_grams`;
  *  - [[qualityScore]]: [[graft.ops.TextOps.qualityScore]]'s blend;
  *  - [[piiCount]]: [[graft.ops.TextOps.piiCount]]'s match total.
  *
  * Spark's `trim` strips ASCII spaces only, and Java's `\s` is the six
  * ASCII bytes space, \t, \n, \x0B, \f, \r. UTF-8 never puts an ASCII byte
  * inside a multi-byte character, so both are byte tests. */
object TextKernels {
  /** The PII patterns of [[graft.ops.TextOps.scrubPii]]. */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRegex = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"
  val CardRegex = "\\b[0-9]{13,16}\\b"
  // java.util.regex, compiled without flags: the engine and the pattern
  // compilation of Spark's regexp_* functions
  private val email = Pattern.compile(EmailRegex)
  private val phone = Pattern.compile(PhoneRegex)
  private val card = Pattern.compile(CardRegex)

  private def isWs(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  /** [start, end) byte bounds of `text` without its leading and trailing
    * ASCII spaces (Spark's `trim`); start == end for an all-space text. */
  private def trimmed(base: AnyRef, off: Long, n: Int): (Int, Int) = {
    var s = 0
    while (s < n && Platform.getByte(base, off + s) == ' ') s += 1
    var e = n
    while (e > s && Platform.getByte(base, off + e - 1) == ' ') e -= 1
    (s, e)
  }

  /** `size(split(trim(text), "\\s+"))`: one part more than the \s runs
    * of the trimmed text (an all-space text is one empty part). */
  def wsParts(text: UTF8String): Int = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val (s, e) = trimmed(base, off, text.numBytes)
    var parts = 1
    var inRun = false
    var i = s
    while (i < e) {
      val w = isWs(Platform.getByte(base, off + i))
      if (w && !inRun) parts += 1
      inRun = w
      i += 1
    }
    parts
  }

  /** The number of word n-grams [[StaticKernels.dsirLogWeight]] sums:
    * max(0, |tokens| − n + 1) over `split(lower(trim(text)), "\\s+")`,
    * whose size is [[wsParts]] (`lower` moves no whitespace); 0 for a
    * null text. */
  def dsirGrams(text: UTF8String, n: Int): Long =
    if (text == null) 0L else math.max(0, wsParts(text) - n + 1).toLong

  /** [[graft.ops.TextOps.qualityScore]] in one byte pass: counts the
    * `[A-Za-z ]` and `[.,;:!?]` bytes and the tokens of the trimmed text,
    * then blends them with the chain's double arithmetic in the chain's
    * order, rounded HALF_UP to 4 places. Null scores 0.0, as the chain's
    * `greatest(0.0, null)` does. */
  def qualityScore(text: UTF8String): Double = {
    if (text == null) return 0.0
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    val (s, e) = trimmed(base, off, n)
    var alpha = 0
    var punct = 0
    var runs = 0
    var inRun = false
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') || b == ' ')
        alpha += 1
      else if (b == '.' || b == ',' || b == ';' || b == ':' || b == '!' ||
        b == '?') punct += 1
      if (i >= s && i < e) {
        val w = isWs(b)
        if (w && !inRun) runs += 1
        inRun = w
      }
      i += 1
    }
    val nChars = text.numChars().toDouble
    val nTok = (if (s == e) 0 else runs + 1).toDouble
    val alphaRatio = if (nChars == 0) 0.0 else alpha / nChars
    val punctRatio = if (nChars == 0) 0.0 else punct / nChars
    val meanWordLen = if (nTok == 0) 0.0 else nChars / nTok
    val lengthOk = if (nTok >= 10 && nTok <= 100000) 1.0 else 0.5
    val raw = alphaRatio * 0.5 + lengthOk * 0.3 +
      (1.0 - math.min(1.0, punctRatio * 10)) * 0.1 +
      (if (meanWordLen >= 2 && meanWordLen <= 12) 0.1 else 0.0)
    java.math.BigDecimal.valueOf(math.min(1.0, math.max(0.0, raw)))
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** [[graft.ops.TextOps.piiCount]]: `find()` matches of the e-mail and
    * card patterns on the raw text plus the phone pattern on the
    * card-masked text (masked only when a card matched). */
  def piiCount(text: UTF8String): Long = {
    val s = text.toString
    val cards = matches(card, s)
    val masked = if (cards == 0) s else card.matcher(s).replaceAll("<CARD>")
    matches(email, s) + matches(phone, masked) + cards
  }

  private def matches(p: Pattern, s: String): Long = {
    val m = p.matcher(s)
    var k = 0L
    while (m.find()) k += 1
    k
  }
}

/** `ws_parts(text)` — int, see [[TextKernels.wsParts]]. */
case class WsPartsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    TextKernels.wsParts(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TextKernels.wsParts($c);""")
  override protected def withNewChildInternal(c: Expression): WsPartsExpr =
    copy(child = c)
  override def prettyName: String = "ws_parts"
}

/** `dsir_grams(text, n)` — long, never null, see
  * [[TextKernels.dsirGrams]]. */
case class DsirGramsExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"gram width $n must be >= 1")
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    TextKernels.dsirGrams(child.eval(input).asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = graft.functions.TextKernels.dsirGrams(
        ${c.isNull} ? null : ${c.value}, $n);""", isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): DsirGramsExpr =
    copy(child = c)
  override def prettyName: String = "dsir_grams"
}

/** `quality_score(text)` — double in [0, 1], never null, see
  * [[TextKernels.qualityScore]]. Typed nullable, as the chain's `round`
  * is, so a frame's schema does not change with the formulation. */
case class QualityScoreExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any =
    TextKernels.qualityScore(child.eval(input).asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      double ${ev.value} = graft.functions.TextKernels.qualityScore(
        ${c.isNull} ? null : ${c.value});""", isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): QualityScoreExpr =
    copy(child = c)
  override def prettyName: String = "quality_score"
}

/** `pii_count(text)` — long, see [[TextKernels.piiCount]]. */
case class PiiCountExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    TextKernels.piiCount(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TextKernels.piiCount($c);""")
  override protected def withNewChildInternal(c: Expression): PiiCountExpr =
    copy(child = c)
  override def prettyName: String = "pii_count"
}
