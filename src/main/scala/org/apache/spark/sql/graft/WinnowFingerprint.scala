package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The FULLY FUSED winnowing pipeline — `winnow_fingerprints(tokens, k,
  * w)`: word-k-gram construction, the engine-portable md5-prefix64 gram
  * hash ([[Md5Hash.prefix64]] — the same primitive `Text.hash64` and the
  * DuckDB oracle use), and the winnowing sliding-minimum selection
  * ([[WinnowKernel.selectCore]]), all in one compiled loop per document. The three-stage
  * composable form (`transform(sequence)` gram strings →
  * `transform(hash64)` → winnow) leaves the gram/hash stages as
  * interpreted per-element lambdas even after the selection kernel — at
  * sf0.1 those lambdas were the residual 0.75 s; this fusion removes the
  * last interpreted stage. Bit-identical by construction (same gram
  * strings, same digest primitive, same selection kernel); WinnowSpec
  * pins kernel == HOF == brute on every fixture. Fewer than w gram
  * hashes (i.e. fewer than k+w−1 tokens) returns an empty array.
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(k >= 1 && w >= 1, "winnow_fingerprints needs k >= 1 and w >= 1")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("fp", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "winnow_fingerprints"

  override protected def nullSafeEval(toks: Any): Any =
    WinnowKernel.fingerprints(toks.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.WinnowKernel.fingerprints($c, $k, $w)")

  override protected def withNewChildInternal(
      newChild: Expression): WinnowFingerprint = copy(child = newChild)
}

/** Static kernel shared by the interpreted and generated paths. */
object WinnowKernel {

  private val Space = UTF8String.fromString(" ")

  /** Gram-hash + select in one pass: k-gram UTF8 concat → md5-prefix64
    * → monotone-deque window minimum. */
  def fingerprints(toks: ArrayData, k: Int, w: Int): ArrayData = {
    val n = toks.numElements()
    val m = n - k + 1
    if (m < w) return new GenericArrayData(Array.empty[Any])
    val hs = new Array[Long](m)
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < k) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      hs(i) = Md5Hash.prefix64(UTF8String.concatWs(Space,
        scala.collection.immutable.ArraySeq.unsafeWrapArray(parts): _*))
      i += 1
    }
    selectCore(hs, w)
  }

  /** WINNOWING selection (Schleimer, Wilkerson & Aiken 2003) over a
    * positional gram-hash sequence: the distinct selected `(pos, fp)`
    * pairs, where every window of `w` consecutive hashes contributes its
    * minimum with ties resolved to the RIGHTMOST position (the paper's
    * rule) and `pos` is the 1-based gram position. The textbook
    * monotone-deque sliding minimum: O(n) amortized, one loop, no
    * intermediate arrays (the r14 HOF form re-scanned every window at
    * O(n·w)). The `>=`-pop keeps the LATEST equal index at the deque
    * back, which IS the rightmost-tie rule; selected positions are
    * non-decreasing window to window, so the paper's "distinct
    * selections" set equals consecutive dedup — emitted inline. Fewer
    * than `w` hashes returns an empty array. */
  private[graft] def selectCore(hs: Array[Long], w: Int): ArrayData = {
    val n = hs.length
    // monotone deque of candidate indices: values strictly increasing
    // front -> back; `>=` pop keeps the later equal index = rightmost tie
    val deque = new Array[Int](n)
    var head = 0
    var tail = 0
    val out = new java.util.ArrayList[Any](2 * n / (w + 1) + 2)
    var lastPos = -1
    var j = 0
    while (j < n) {
      val v = hs(j)
      while (tail > head && hs(deque(tail - 1)) >= v) tail -= 1
      deque(tail) = j
      tail += 1
      if (deque(head) <= j - w) head += 1
      if (j >= w - 1) {
        val p = deque(head)
        if (p != lastPos) {
          // 1-based gram position, matching the HOF/oracle convention
          out.add(InternalRow((p + 1).toLong, hs(p)))
          lastPos = p
        }
      }
      j += 1
    }
    new GenericArrayData(out.toArray)
  }
}
