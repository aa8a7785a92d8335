package org.apache.spark.sql.graft

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{AbstractDataType, BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Native Catalyst AGGREGATE: build a Bloom filter over a LongType column
  * — `bloom_build(hash, expectedItems, fpp)` → the filter's serialized
  * bytes (BinaryType).
  *
  * This is the UDAF tier of the native-expression surface (the scalar
  * kernels are CosineSimilarity / Md5Prefix64 / BpeMergeStream /
  * GramMaxFreq): a [[TypedImperativeAggregate]] whose buffer is the
  * filter itself, updated per row, bit-OR-merged across partials — the
  * standard distributed sketch build (partial filters per partition, one
  * small merge), never a driver-side collect of the inserted values. The
  * filter rides `org.apache.spark.util.sketch.BloomFilter` (Spark's
  * public sketch API — deterministic seeded hashing, version-stable
  * serialization), so a filter built here is readable by
  * [[BloomMightContainLong]] in any later job.
  *
  * Use case: semi-join PREFILTERS whose build side outgrows an exact
  * broadcast set — see `Corpus.decontaminateBloom`. The filter guarantees
  * NO false negatives; callers must re-verify survivors exactly (false
  * positives) when exact semantics are required.
  */
case class BloomBuildAgg(
    child: Expression,
    expectedItems: Long,
    fpp: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BloomFilter]
  with ExpectsInputTypes with UnaryLike[Expression] {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = false

  override def prettyName: String = "bloom_build"

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.create(expectedItems, fpp)

  override def update(buf: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) buf.putLong(v.asInstanceOf[Long])
    buf
  }

  override def merge(a: BloomFilter, b: BloomFilter): BloomFilter = {
    a.mergeInPlace(b)
    a
  }

  override def eval(buf: BloomFilter): Any = serialize(buf)

  override def serialize(buf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    buf.writeTo(out)
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): BloomBuildAgg =
    copy(child = newChild)
}

/** Native Catalyst expression: membership probe against a serialized
  * Bloom filter — `bloom_might_contain(filterBytes, hash)`.
  *
  * The filter side must be FOLDABLE (a literal of the built filter's
  * bytes): the filter is deserialized ONCE per expression instance —
  * lazily, on first evaluation on each executor — and the generated code
  * probes it through a plan reference, so the per-row cost is the pure
  * bit-test with no per-row deserialization or stream allocation. A
  * non-foldable filter column is rejected at analysis time rather than
  * silently deserializing per row.
  */
case class BloomMightContainLong(filterBytes: Expression, value: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = filterBytes

  override def right: Expression = value

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, LongType)

  override def dataType: DataType = BooleanType

  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes(): TypeCheckResult =
    super.checkInputDataTypes() match {
      case TypeCheckResult.TypeCheckSuccess if !filterBytes.foldable =>
        TypeCheckResult.TypeCheckFailure(
          "bloom_might_contain requires a foldable (literal) filter argument")
      case other => other
    }

  @transient lazy val filter: BloomFilter =
    BloomFilter.readFrom(filterBytes.eval(null).asInstanceOf[Array[Byte]])

  /** Public static-shaped target for the generated code. */
  def probe(v: Long): Boolean = filter.mightContainLong(v)

  override protected def nullSafeEval(bytes: Any, v: Any): Any =
    filter.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("bloomProbe", this, classOf[BloomMightContainLong].getName)
    nullSafeCodeGen(ctx, ev, (_, v) => s"${ev.value} = $self.probe($v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContainLong =
    copy(filterBytes = newLeft, value = newRight)
}
