package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the MMR greedy selection ([[Similarity.mmrSelect]] over
  * [[Similarity.mmrPoolOf]], Carbonell & Goldstein 1998) on planted
  * vectors where diversity must OVERRIDE pure relevance: doc 101 is the
  * relevance runner-up but nearly collinear with the rank-1 doc, doc 102
  * is slightly less relevant but angularly distinct — MMR must seat 102
  * at rank 2 (a pure-relevance ranker seats 101). Also pins the rank-1 =
  * relevance-argmax contract, the λ·rel score at rank 1, and the
  * K-distinct-results shape per query. */
class MmrSpec extends SparkSpec {
  import spark.implicits._

  private def onAngle(deg: Double): Array[Float] = {
    val r = math.toRadians(deg)
    Array(math.cos(r).toFloat, math.sin(r).toFloat, 0f, 0f)
  }

  // vec_id < QueryCount are queries; only query 0 is interesting — the
  // rest point far away so their rankings don't interfere with asserts.
  private val planted: Seq[(Long, Array[Float])] =
    (0L until Similarity.QueryCount.toLong).map { q =>
      q -> (if (q == 0L) onAngle(0) else Array(0f, 0f, 1f, 0f))
    } ++ Seq(
      100L -> onAngle(8), // rank 1: closest to the query
      101L -> onAngle(12), // relevance runner-up, but ~collinear with 100
      102L -> onAngle(-14) // less relevant, angularly distinct
    ) ++ (103L to 112L).map(i => i -> Array(0f, 0f, 0.6f, 0.8f))

  /** Build the pool, select, then release the pool's persisted frames:
    * [[Similarity.mmrSelect]] checkpoints eagerly, so its result never
    * reads the pool. */
  private def selectOnce(e: org.apache.spark.sql.DataFrame) = {
    val pool = Similarity.mmrPoolOf(e)
    try Similarity.mmrSelect(pool)
    finally { pool._1.unpersist(); pool._2.unpersist() }
  }

  private lazy val rows = {
    val e = planted.toDF("vec_id", "embedding")
    selectOnce(e)
      .where(col("query_id") === 0L)
      .orderBy(col("mmr_rank"))
      .collect()
  }

  test("rank 1 is the relevance argmax with score λ·rel") {
    val r1 = rows.head
    assert(r1.getAs[Long]("neighbor_id") == 100L)
    val rel = r1.getAs[Double]("relevance")
    val want =
      Similarity.MmrLambdaTenths * math.rint(rel * 1000000.0) / 1.0e7
    assert(r1.getAs[Double]("mmr_score") == want)
  }

  test("diversity overrides relevance at rank 2") {
    // brute order would be 101 (cos 12°−8°... vs query: cos12°) before
    // 102 (cos14°): confirm the planted premise, then the MMR flip
    val rel = rows.map(r =>
      r.getAs[Long]("neighbor_id") -> r.getAs[Double]("relevance")).toMap
    assert(rel(101L) > rel(102L), "101 must out-rank 102 on relevance")
    assert(rows(1).getAs[Long]("neighbor_id") == 102L,
      "MMR must seat the diverse doc at rank 2")
    assert(rows(2).getAs[Long]("neighbor_id") == 101L)
  }

  test("every query yields MmrK distinct results ranked 1..K") {
    val all = selectOnce(planted.toDF("vec_id", "embedding"))
    val per = all.groupBy("query_id")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("neighbor_id")).as("nd"),
        collect_set(col("mmr_rank")).as("ranks"))
      .collect()
    assert(per.length == Similarity.QueryCount)
    per.foreach { r =>
      assert(r.getAs[Long]("n") == Similarity.MmrK)
      assert(r.getAs[Long]("nd") == Similarity.MmrK)
      assert(r.getAs[scala.collection.Seq[Long]]("ranks").sorted.toSeq ==
        (1L to Similarity.MmrK.toLong))
    }
  }
}
