package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: `simhash_of_set(shingles, bits)` — the
  * Charikar SimHash signature of a distinct-shingle array, computed
  * IN-ROW.
  *
  * Value-identical to the relational formulation it replaces (r20,
  * guide §1.2 "fix the distributed algorithm first" + §4 "per-task
  * work"): explode the per-doc shingle set, then one 60-column
  * conditional-sum aggregate — `sum(CASE WHEN (h >> b) & 1 = 1 THEN 1
  * ELSE -1 END)` per bit b — and pack `s_b >= 0` sign bits. All of a
  * document's shingles live in its own row, so the signature is a
  * row-local quantity; the aggregate form paid a Generate (row
  * explosion ~190× at shingle width) plus two HashAggregate passes
  * whose evaluation was 60 shift/mask/compare expression trees PER
  * SHINGLE ROW with a 60-long buffer per doc. This kernel is the same
  * arithmetic as one tight JVM loop per doc: hash each shingle once
  * ([[Md5Hash.prefix64]] — the identical engine-portable hash), update
  * a 60-int counter array, pack the signs. SimhashKernelSpec pins
  * kernel == relational on corpus data.
  *
  * The empty set (doc shorter than the shingle width) must be filtered
  * by the caller: the relational form produces NO group for it, while
  * a kernel over an empty array would produce the all-ones signature
  * (ties resolve `>= 0`). [[graft.llm.Dedup.simhashSignatures]] keeps
  * its `size(sset) >= 1` guard for exactly this reason.
  *
  * Whole-stage codegen via [[doGenCode]] (static call); interpreted
  * [[nullSafeEval]] shares the same kernel.
  */
case class SimhashOfSet(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(bits >= 1 && bits <= 60, s"simhash bits out of range: $bits")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash_of_set"

  override protected def nullSafeEval(sset: Any): Any =
    SimhashKernel.ofSet(sset.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.SimhashKernel.ofSet($c, $bits)")

  override protected def withNewChildInternal(
      newChild: Expression): SimhashOfSet = copy(child = newChild)
}

/** Static kernel shared by the interpreted and generated paths. */
object SimhashKernel {

  /** Signature bit b = 1 iff Σ over shingles of ±1 (sign of hash bit b)
    * is >= 0 — the exact `when(s_b >= 0, 1L << b)` rule of the
    * relational form, including its >= tie (a zero sum sets the bit). */
  def ofSet(sset: ArrayData, bits: Int): Long = {
    val n = sset.numElements()
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      // null elements are SKIPPED (r20 ADVICE #1): the relational twin's
      // md5(null) hashes to null and contributes -1 to every bit; a
      // dropped element contributes 0 — both leave the `>= 0` signature
      // unchanged only for balanced inputs, so the twin semantics for
      // nulls are genuinely different. Text.shingles never yields null
      // elements (concat_ws), so no caller observes the difference; the
      // kernel simply must not NPE when exposed as a general function.
      val u = sset.getUTF8String(i)
      if (u == null) { i += 1 }
      else {
      val h = Md5Hash.prefix64(u)
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}
