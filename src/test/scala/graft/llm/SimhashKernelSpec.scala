package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r20 in-row SimHash kernel ([[Dedup.simhashOf]] over
  * `simhash_of_set`) bit-for-bit equal to the pre-r20 relational
  * formulation (explode + 60 conditional bit-sums + sign packing) — on
  * the real sf0.001 corpus AND on adversarial fixtures (single-shingle
  * docs, exact-tie sums, sub-shingle-width docs absent from both). */
class SimhashKernelSpec extends SparkSpec {
  import spark.implicits._

  private def setsOf(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"),
        graft.llm.Text.shingles(col("text"), Dedup.ShingleK).as("sset"))
      .where(size(col("sset")) >= 1)

  test("kernel == relational on the sf0.001 corpus") {
    val d = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val kernel = Dedup.simhashOf(setsOf(d))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rel = SimhashKernelSpec.simhashSignaturesRelational(d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel.nonEmpty)
    assert(kernel == rel)
  }

  test("edge cases: sub-width docs absent, ties set the bit") {
    val d = Seq(
      (1L, "a b"), // 2 words < ShingleK=3 → empty set → absent
      (2L, "a b c"), // exactly one shingle: signature = its hash bits
      (3L, "a b c d") // two shingles: zero-sum bits resolve >= 0 → set
    ).toDF("doc_id", "text")
    val kernel = Dedup.simhashOf(setsOf(d))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rel = SimhashKernelSpec.simhashSignaturesRelational(d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!kernel.contains(1L) && !rel.contains(1L))
    assert(kernel == rel)
    // one-shingle doc: every hash-1 bit set, every hash-0 bit... also
    // set iff the ±1 tie rule applies — with a single +1/-1 there is no
    // tie, so signature == the shingle's hash restricted to 60 bits
    val h = org.apache.spark.sql.graft.Md5Hash
      .prefix64(org.apache.spark.unsafe.types.UTF8String.fromString("a b c"))
    assert(kernel(2L) == h)
  }

  test("interpreted eval matches codegen") {
    val sset = org.apache.spark.sql.catalyst.util.ArrayData
      .toArrayData(Array(
        org.apache.spark.unsafe.types.UTF8String.fromString("x y z"),
        org.apache.spark.unsafe.types.UTF8String.fromString("y z w")))
    val viaKernel = org.apache.spark.sql.graft.SimhashKernel.ofSet(sset, 60)
    // genuinely interpreted path (r20 ADVICE #2: the old DF leg ALSO
    // compiled to the kernel, proving nothing about nullSafeEval):
    // Expression.eval on a literal child never goes through codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val viaInterpreted = org.apache.spark.sql.graft
      .SimhashOfSet(Literal(sset, ArrayType(StringType)), 60).eval(null)
    assert(viaInterpreted == viaKernel)
    val viaDf = Dedup.simhashOf(
        Seq((1L, "x y z w")).toDF("doc_id", "text")
          .select(col("doc_id"),
            graft.llm.Text.shingles(col("text"), 3).as("sset")))
      .collect().head.getLong(1)
    assert(viaKernel == viaDf)
  }

  test("null array elements are skipped, not NPE (general-function use)") {
    val withNull = org.apache.spark.sql.catalyst.util.ArrayData
      .toArrayData(Array(
        org.apache.spark.unsafe.types.UTF8String.fromString("x y z"),
        null,
        org.apache.spark.unsafe.types.UTF8String.fromString("y z w")))
    val noNull = org.apache.spark.sql.catalyst.util.ArrayData
      .toArrayData(Array(
        org.apache.spark.unsafe.types.UTF8String.fromString("x y z"),
        org.apache.spark.unsafe.types.UTF8String.fromString("y z w")))
    assert(org.apache.spark.sql.graft.SimhashKernel.ofSet(withNull, 60) ==
      org.apache.spark.sql.graft.SimhashKernel.ofSet(noNull, 60))
  }
}

/** The relational formulation [[SimhashKernelSpec]] pins the kernel against. */
object SimhashKernelSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  import graft.llm.Text._

  /** The pre-r20 relational twin (explode + 60-bit-sum aggregate) —
    * kept as the independent formulation SimhashKernelSpec pins the
    * kernel against. */
  def simhashSignaturesRelational(d: DataFrame): DataFrame = {
    val h = d.select(col("doc_id"),
        explode(shingles(col("text"), Dedup.ShingleK)).as("sh"))
      .select(col("doc_id"), hash64(col("sh")).as("h"))
    val bitSums = h.groupBy(col("doc_id")).agg(
      sum(when(shiftright(col("h"), 0).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as("s0"),
      (1 until Dedup.SimhashBits).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
          .otherwise(-1)).as(s"s$b")): _*)
    bitSums.select(col("doc_id"),
      (0 until Dedup.SimhashBits)
        .map(b => when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }
}
