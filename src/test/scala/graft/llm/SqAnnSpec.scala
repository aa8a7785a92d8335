package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the SQ-ANN tier ([[Similarity.sqTopKOf]], r13):
  *
  *  - the 8-bit quantizer against a Scala twin on a planted fixture,
  *    including the clamp edges (corpus min → 0, corpus max → ≤ 255) and
  *    the constant-dimension guard (step 0 → code 0);
  *  - reconstruction error ≤ one step on every real sf0.001 component
  *    (the affine-code contract that makes the integer dot a faithful
  *    cosine surrogate);
  *  - end-to-end retrieval on the real corpus: recall@5 vs the exact
  *    [[Similarity.bruteTopK]] baseline (8 bits should preserve neighbor
  *    order almost everywhere — asserted ≥ 0.9 mean; the graded
  *    similarity_ann_recall entry reports the exact per-scale values).
  */
class SqAnnSpec extends SparkSpec {
  import spark.implicits._

  /** (vec_id, qv): every vector's code array under the corpus params. */
  private def quantized(e: org.apache.spark.sql.DataFrame) =
    e.crossJoin(broadcast(Similarity.sqParamsOf(e)))
      .select(col("vec_id"), Similarity.sqCodes(col("embedding")).as("qv"))

  test("codes match the Scala twin; clamp and constant-dim edges hold") {
    // dim 0: range [0, 10]; dim 1: constant 3.5 (step 0); dim 2: [-2, 2]
    val vecs: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(0f, 3.5f, -2f),
      1L -> Array(10f, 3.5f, 2f),
      2L -> Array(5f, 3.5f, 0f),
      3L -> Array(2.5f, 3.5f, 1f))
    val mn = Array(0.0, 3.5, -2.0)
    val st = Array(10.0 / 255, 0.0, 4.0 / 255)
    def code(v: Float, d: Int): Long =
      if (st(d) <= 0) 0L
      else math.min(255L, math.max(0L,
        math.floor((v.toDouble - mn(d)) / st(d)).toLong))
    val want = vecs.map { case (id, v) =>
      id -> v.toSeq.zipWithIndex.map { case (x, d) => code(x, d) }
    }.toMap
    val got = quantized(vecs.toDF("vec_id", "embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got == want)
    // the edges actually exercised: min → 0, max clamps to 255, const → 0
    assert(got(0L) == Seq(0L, 0L, 0L))
    assert(got(1L)(0) == 255L && got(1L)(2) == 255L)
    assert(got.values.forall(_(1) == 0L))
  }

  test("reconstruction error is within one step on every sf0.001 component") {
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
    val bad = quantized(e)
      .join(e, "vec_id")
      .select(explode(arrays_zip(col("embedding"), col("qv"))).as("z"))
      .select(col("z.embedding").cast("double").as("v"), col("z.qv").as("q"))
      .agg(max(col("q")).as("qmax"), min(col("q")).as("qmin"))
      .collect()(0)
    assert(bad.getLong(1) >= 0L && bad.getLong(0) <= 255L)
    // per-dimension: |v − (mn + q·st)| ≤ st wherever the dim varies
    val params = e
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v").cast("double")).as("mn"),
        ((max(col("v").cast("double")) - min(col("v").cast("double"))) / 255.0)
          .as("st"))
    val viol = quantized(e)
      .join(e, "vec_id")
      .select(col("vec_id"),
        posexplode(arrays_zip(col("embedding"), col("qv"))).as(Seq("pos", "z")))
      .join(params, "pos")
      .where(col("st") > 0)
      .where(abs(col("z.embedding").cast("double") -
        (col("mn") + col("z.qv") * col("st"))) > col("st"))
      .count()
    assert(viol == 0L)
  }

  test("recall@5 vs brute force >= 0.9 on the sf0.001 corpus") {
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
    val brute = Similarity.bruteTopK(spark, sf001)
      .select(col("query_id"), col("neighbor_id"))
    val sq = Similarity
      .sqTopKOf(e, Similarity.QueryCount, Similarity.SqCandidates,
        Similarity.TopK)
      .select(col("query_id").as("sq_q"), col("neighbor_id").as("sn"))
    val recall = brute
      .join(sq, col("query_id") === col("sq_q") &&
        col("neighbor_id") === col("sn"), "left")
      .agg((count(col("sn")).cast("double") / count(lit(1))).as("r"))
      .collect()(0).getDouble(0)
    info(s"sq recall@${Similarity.TopK} on sf0.001 = $recall")
    assert(recall >= 0.9)
  }
}
