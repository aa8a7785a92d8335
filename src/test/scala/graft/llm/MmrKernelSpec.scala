package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r21 in-row greedy MMR ([[Similarity.mmrSelect]] via
  * [[MmrGreedy]]) row-identical to the pre-r21 unrolled-rounds
  * formulation ([[MmrKernelSpec.mmrSelectRelational]]) — on the real
  * sf0.001 embedding pool AND on degenerate pools (singleton candidate
  * lists, pools smaller than K). */
class MmrKernelSpec extends SparkSpec {
  import spark.implicits._

  private def rows(d: org.apache.spark.sql.DataFrame) =
    d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3), r.getDouble(4))).toSeq

  private def compareOn(e: org.apache.spark.sql.DataFrame): Unit = {
    val pool = Similarity.mmrPoolOf(e)
    try {
      val kernel = rows(Similarity.mmrSelect(pool))
      val rel = rows(MmrKernelSpec.mmrSelectRelational(pool))
      assert(kernel.nonEmpty)
      assert(kernel == rel)
    } finally { pool._1.unpersist(); pool._2.unpersist() }
  }

  test("kernel == unrolled rounds on the sf0.001 pool") {
    compareOn(spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")))
  }

  test("kernel == unrolled rounds on a pool smaller than K") {
    // 3 query vectors, 3 non-query vectors: each query's candidate pool
    // (everything but itself) has fewer than MmrK entries after the
    // top-C cut? No — pools are 5 wide here, K=5, so ALSO exercise the
    // exhaustion path with only 2 non-query vectors below.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (100L, Array(0.5f, 0.5f, 0.0f)),
      (101L, Array(0.4f, 0.6f, 0.1f)),
      (102L, Array(0.7f, 0.1f, 0.2f)))
    compareOn(vecs.toDF("vec_id", "embedding"))
    val tiny = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.5f, 0.5f, 0.0f)),
      (100L, Array(0.9f, 0.2f, 0.0f)))
    compareOn(tiny.toDF("vec_id", "embedding"))
  }

  test("singleton candidate pool emits exactly rank 1 in both forms") {
    // one query, one non-query vector: no pairwise rows at all — the
    // kernel's no-pairwise-entry path vs the relational inner join
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (100L, Array(0.6f, 0.8f)))
    val pool = Similarity.mmrPoolOf(vecs.toDF("vec_id", "embedding"))
    try {
      val kernel = rows(Similarity.mmrSelect(pool))
      val rel = rows(MmrKernelSpec.mmrSelectRelational(pool))
      assert(kernel == rel)
      assert(kernel.map(_._3).forall(_ == 1L)) // only mmr_rank 1 rows
    } finally { pool._1.unpersist(); pool._2.unpersist() }
  }
}

/** The relational formulation [[MmrKernelSpec]] pins the in-row kernel against. */
object MmrKernelSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  /** The pre-r21 unrolled-rounds formulation — kept as the independent
    * twin MmrKernelSpec pins [[Similarity.mmrSelect]] against (and the shape the
    * oracle's K−1 generated CTEs mirror). */
  def mmrSelectRelational(pool: (DataFrame, DataFrame)): DataFrame = {
    val (cand, pw) = pool
    // greedy rounds, unrolled: rank 1 = relevance argmax
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("relevance").desc, col("neighbor_id"))
    var sel = cand.withColumn("rn", row_number().over(w1))
      .where(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("mmr_rank"),
        col("relevance"),
        (lit(Similarity.MmrLambdaTenths) * col("rel_u")).as("score_u"))
    for (r <- 2 to Similarity.MmrK) {
      val rem = cand.join(sel.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      val ms = pw
        .join(sel.select(col("query_id").as("sq"),
          col("neighbor_id").as("sid")),
          col("query_id") === col("sq") && col("b_id") === col("sid"))
        .groupBy(col("query_id"), col("a_id"))
        .agg(max(col("sim_u")).as("ms_u"))
      val wr = Window.partitionBy(col("query_id"))
        .orderBy(col("score_u").desc, col("neighbor_id"))
      val pick = rem
        .join(ms, rem("query_id") === ms("query_id") &&
          col("neighbor_id") === col("a_id"))
        .select(rem("query_id"), col("neighbor_id"), col("relevance"),
          (lit(Similarity.MmrLambdaTenths) * col("rel_u") -
            lit(Similarity.MmrMuTenths) * col("ms_u")).as("score_u"))
        .withColumn("rn", row_number().over(wr))
        .where(col("rn") === 1)
        .select(col("query_id"), col("neighbor_id"),
          lit(r.toLong).as("mmr_rank"), col("relevance"), col("score_u"))
      // eager localCheckpoint = materialize + cut lineage (the Lloyd-loop
      // discipline): round r's plan references sel three times; without
      // truncation the composed plan grows ~3^K sub-trees.
      sel = sel.unionByName(pick).localCheckpoint()
    }
    sel.select(col("query_id"), col("neighbor_id"), col("mmr_rank"),
        col("relevance"),
        (col("score_u").cast(DoubleType) / lit(1.0e7)).as("mmr_score"))
      .orderBy(col("query_id"), col("mmr_rank"))
  }
}
