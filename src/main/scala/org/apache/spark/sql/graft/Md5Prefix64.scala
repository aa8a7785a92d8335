package org.apache.spark.sql.graft

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the engine-portable 60-bit positive hash —
  * the first 15 hex nibbles of md5 read base-16 — fused into one digest
  * pass over the UTF-8 bytes.
  *
  * BIT-IDENTICAL to the composed form
  * `conv(substr(md5(x), 1, 15), 16, 10) CAST LONG` ([[graft.llm.Text.hash64]];
  * asserted exhaustively in Md5PrefixExpressionSpec): 15 leading hex chars
  * are the top 15 nibbles of the big-endian digest, i.e. (first 8 bytes as
  * unsigned 64-bit) >>> 4. The composed form materializes a 32-char hex
  * string, a 15-char substring, and a decimal string (conv returns STRING)
  * per call; this kernel allocates none of them. The hash is called once
  * per SHINGLE in the near-dup index build (~190 per doc) and once per row
  * in stratified sampling — at corpus scale the allocation difference is
  * the build bottleneck. The DuckDB twin is unchanged
  * (`CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)`).
  *
  * Whole-stage codegen via [[doGenCode]] (static call, no boxing);
  * interpreted [[nullSafeEval]] for codegen-off paths.
  */
case class Md5Prefix64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = LongType

  override def prettyName: String = "md5_prefix64"

  override protected def nullSafeEval(input: Any): Any =
    Md5Hash.prefix64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.Md5Hash.prefix64($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix64 =
    copy(child = newChild)
}

/** Static helper target for both the interpreted and generated paths
  * (standalone Scala objects emit static forwarders, so generated Java can
  * call `Md5Hash.prefix64(...)` directly). */
object Md5Hash {

  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  def prefix64(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    val digest = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    v >>> 4 // top 15 nibbles = conv(substr(hex, 1, 15), 16, 10)
  }
}
