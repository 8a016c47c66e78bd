package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native Catalyst expression.
  *
  * Spark SQL ships no `normalize()` function (DuckDB has
  * `nfc_normalize`), and decomposed-vs-composed representation is a
  * real hazard in web text: 'é' as U+00E9 and as 'e'+U+0301 are
  * different byte strings, so fingerprinting, dedup and equality
  * comparisons silently split on them. A Scala `udf` would close the
  * gap but drops out of whole-stage codegen and pays per-row ser/de;
  * this expression stays fused — the generated code calls the JDK
  * normalizer (the same Unicode tables DuckDB's ICU build follows for
  * the BMP inputs the corpus contract guarantees) directly.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"NfcNormalize needs a string arg, got $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString, java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"java.text.Normalizer.normalize($c.toString(), " +
        "java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Word n-gram spans as a native Catalyst expression: every run of `n`
  * consecutive tokens, joined with one space, in start order — one
  * element per start position, multiplicity kept. Null tokens and
  * arrays under `n` tokens give an empty array (never null), so the
  * caller needs no size guard.
  *
  * This is the shingle kernel of the near-dup family. The same spans
  * as a `transform(sequence(…))` lambda are interpreted per element,
  * with one boxed lambda-variable write and one `element_at` per
  * token of every span. Here generated code calls one primitive loop,
  * [[WordSpans.spans]], from inside whole-stage codegen, and the
  * interpreted path calls the same loop. Null tokens are skipped
  * within a span, as `concat_ws` skips them. */
case class WordSpans(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"WordSpans needs n >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"WordSpans needs an array<string> arg, got $t")
  }

  override def eval(input: InternalRow): Any =
    WordSpans.spans(child.eval(input).asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      |${c.code}
      |${classOf[ArrayData].getName} ${ev.value} =
      |  graft.expr.WordSpans.spans(${c.isNull} ? null : ${c.value}, $n);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): WordSpans =
    copy(child = newChild)
}

object WordSpans {
  private val sep = UTF8String.fromString(" ")

  /** The spans of one token array; null tokens give no spans. */
  def spans(toks: ArrayData, n: Int): ArrayData = {
    val out = new Array[Any](if (toks == null) 0 else math.max(0, toks.numElements() - n + 1))
    val win = new Array[UTF8String](n)
    var i = 0
    while (i < out.length) {
      var j = 0
      while (j < n) { win(j) = toks.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(sep, win: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Spark's `lower`/`upper` on a UTF8_BINARY string, computed exactly
  * as its ICU case mapping does (`spark.sql.icu.caseMappings.enabled`,
  * the default): ASCII-only input maps byte-wise, anything else goes
  * through `UCharacter.toLowerCase`/`toUpperCase` over the valid-UTF-8
  * rendering (invalid bytes become U+FFFD, as in Spark).
  *
  * Spark's own path runs through `CollationAwareUTF8String`, whose
  * static initializer builds a title-case table over all 1,114,112
  * code points — 1.3–1.5 s in a fresh JVM, blocking every task of the
  * first stage that case-maps. This kernel calls the same two mappings
  * without loading that class. */
case class CaseMap(child: Expression, toUpper: Boolean) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs a string arg, got $t")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (toUpper) CaseMap.upper(s) else CaseMap.lower(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expr.CaseMap.${if (toUpper) "upper" else "lower"}($c)")

  override def prettyName: String = if (toUpper) "upper" else "lower"

  override protected def withNewChildInternal(newChild: Expression): CaseMap =
    copy(child = newChild)
}

object CaseMap {
  def lower(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(com.ibm.icu.lang.UCharacter.toLowerCase(s.toValidString))

  def upper(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toUpperCaseAscii
    else UTF8String.fromString(com.ibm.icu.lang.UCharacter.toUpperCase(s.toValidString))
}

object TextExprs {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Unicode NFC normalization — drop-in string Column function. */
  def nfc(c: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))

  /** Spark's `lower` on a string Column — see [[CaseMap]]. */
  def lower(c: Column): Column =
    ColumnBridge.column(CaseMap(ColumnBridge.expression(c), toUpper = false))

  /** Spark's `upper` on a string Column — see [[CaseMap]]. */
  def upper(c: Column): Column =
    ColumnBridge.column(CaseMap(ColumnBridge.expression(c), toUpper = true))

  /** Word n-gram spans of a token array — see [[WordSpans]]. */
  def wordSpans(tokens: Column, n: Int): Column =
    ColumnBridge.column(WordSpans(ColumnBridge.expression(tokens), n))
}
