/** Lives under `org.apache.spark.sql.graft` (not the `graft` root package)
  * because Catalyst's extension points for native expressions —
  * `AbstractDataType` for `ExpectsInputTypes` and the Expression→Column
  * bridge (`ExpressionUtils`) — are `private[sql]`; a sql subpackage is the
  * established pattern for Spark-native expression libraries. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two `ARRAY<FLOAT>`
  * embeddings, fused into ONE pass (dot product and both norms in a single
  * loop, no intermediate arrays).
  *
  * The composable form (`aggregate(zip_with(a,b,*))/…`,
  * [[graft.llm.Similarity.cosine]]) is codegen'd too, but materializes a
  * products array per pair and walks each vector three times; at 100 TB
  * candidate volumes (billions of reranked pairs) the fused kernel is the
  * difference between memory-bandwidth-bound and allocation-bound.
  * Accumulation is index-sequential per accumulator — BIT-IDENTICAL to the
  * sequential double folds FOR EQUAL-LENGTH, NULL-FREE vectors (asserted in
  * CosineExpressionSpec; all engine embeddings are fixed-width non-null).
  * Outside that contract the two forms diverge by design: this kernel
  * truncates to the shorter length and reads array slots raw, while the
  * fold form norms the full arrays and propagates element nulls to NULL.
  *
  * Whole-stage codegen via [[doGenCode]]; interpreted [[nullSafeEval]]
  * keeps the expression usable where codegen is disabled.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
        |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  final double $xi = (double) $a.getFloat($i);
        |  final double $yi = (double) $b.getFloat($i);
        |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
        |}
        |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Column-API surface for the graft native expressions. */
object functions {
  def cosine_sim(a: Column, b: Column): Column =
    ExpressionUtils.column(
      CosineSimilarity(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def md5_prefix64(c: Column): Column =
    ExpressionUtils.column(Md5Prefix64(ExpressionUtils.expression(c)))

  def bpe_merge_stream(toks: Column, lefts: Column, rights: Column): Column =
    ExpressionUtils.column(BpeMergeStream(ExpressionUtils.expression(toks),
      ExpressionUtils.expression(lefts), ExpressionUtils.expression(rights)))

  def gram_max_freq(toks: Column, k: Int): Column =
    ExpressionUtils.column(GramMaxFreq(ExpressionUtils.expression(toks), k))

  def top_gram_stats(toks: Column, k: Int): Column =
    ExpressionUtils.column(TopGramStats(ExpressionUtils.expression(toks), k))

  def dup_gram_coverage(toks: Column, nMin: Int, nMax: Int): Column =
    ExpressionUtils.column(
      DupGramCoverage(ExpressionUtils.expression(toks), nMin, nMax))

  def intersect_count(a: Column, b: Column): Column =
    ExpressionUtils.column(IntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def simhash_of_set(sset: Column, bits: Int): Column =
    ExpressionUtils.column(SimhashOfSet(ExpressionUtils.expression(sset), bits))

  def norm_text(text: Column): Column =
    ExpressionUtils.column(NormalizeText(ExpressionUtils.expression(text)))

  def winnow_fingerprints(toks: Column, k: Int, w: Int): Column =
    ExpressionUtils.column(
      WinnowFingerprint(ExpressionUtils.expression(toks), k, w))

  def bloom_build(hash: Column, expectedItems: Long, fpp: Double): Column =
    ExpressionUtils.column(
      BloomBuildAgg(ExpressionUtils.expression(hash), expectedItems, fpp)
        .toAggregateExpression())

  def bloom_might_contain(filterBytes: Column, hash: Column): Column =
    ExpressionUtils.column(BloomMightContainLong(
      ExpressionUtils.expression(filterBytes), ExpressionUtils.expression(hash)))
}
