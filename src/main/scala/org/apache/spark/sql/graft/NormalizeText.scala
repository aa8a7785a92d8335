package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: `norm_text(text)` — the corpus scrub pass
  * (lowercase → strip non-`[a-z0-9 ]` → collapse space runs → trim) as ONE
  * byte-level pass instead of two `regexp_replace` automata plus `trim`
  * over every byte (r21, guide §4.2 "do the heavy lifting in native code";
  * the r20 VERDICT's top-next item).
  *
  * Value-identical to the relational chain it replaces —
  * `trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""),
  * " +", " "))` — kept as [[graft.llm.TextAnalysis.normExprRelational]]
  * and pinned equal by NormalizeTextKernelSpec on corpus data plus
  * Unicode/edge fixtures. Why a byte loop is exact:
  *
  *  - Case folding delegates to the SAME code path the `Lower`
  *    expression uses for the default UTF8_BINARY collation —
  *    `CollationSupport.Lower.execBinaryICU` / `execBinary` selected by
  *    the SAME `spark.sql.icu.caseMappings.enabled` conf `Lower` reads —
  *    including multi-char expansions (e.g. İ → i + combining dot).
  *  - After lowering, the strip step keeps only ASCII `[a-z0-9 ]`. Every
  *    byte of a multi-byte UTF-8 character has the high bit set, so
  *    dropping non-matching BYTES removes exactly the non-matching
  *    CHARACTERS — no partial-character hazard.
  *  - Space collapsing and trimming are deferred emission: a run of
  *    spaces (possibly interleaved with stripped characters, which the
  *    regex chain also deletes BEFORE collapsing) emits one ' ' only when
  *    a kept alphanumeric follows and output is non-empty — which is
  *    precisely collapse-then-trim on the stripped string.
  *
  * Whole-stage codegen via [[doGenCode]] (static call); interpreted
  * [[nullSafeEval]] shares the same kernel.
  */
case class NormalizeText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = StringType

  override def prettyName: String = "norm_text"

  // the conf Lower reads (SQLConf.get.getConf(ICU_CASE_MAPPINGS_ENABLED)),
  // captured when the expression is constructed on the driver: codegen and
  // the interpreted path then fold with one mapping, and the kernel must
  // case-fold exactly as Lower does or the twin drifts on exotic code points
  private val useICU: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.getConf(
      org.apache.spark.sql.internal.SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override protected def nullSafeEval(text: Any): Any =
    NormalizeTextKernel.normalize(text.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.NormalizeTextKernel.normalize($c, $useICU)")

  override protected def withNewChildInternal(
      newChild: Expression): NormalizeText = copy(child = newChild)
}

/** Static kernel shared by the interpreted and generated paths. */
object NormalizeTextKernel {

  def normalize(text: UTF8String, useICU: Boolean): UTF8String = {
    // the identical case-folding the relational twin's Lower performs
    // (CollationSupport.Lower.exec, UTF8_BINARY branch)
    val lowered =
      if (useICU)
        org.apache.spark.sql.catalyst.util.CollationSupport.Lower
          .execBinaryICU(text)
      else text.toLowerCase
    val bytes = lowered.getBytes
    val n = bytes.length
    val out = new Array[Byte](n)
    var o = 0
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
        pendingSpace = false
        out(o) = b
        o += 1
      } else if (b == ' ') {
        pendingSpace = true
      }
      // every other byte (punctuation, control, any byte of a multi-byte
      // character) is stripped, exactly like the [^a-z0-9 ] pass
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }
}
