package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins [[Similarity.ivfKmeansConverged]]'s fixpoint semantics beyond what
  * the cross-engine oracle certifies: a hand-built two-cluster corpus with
  * a KNOWN one-round fixpoint, plus structural invariants on the real
  * sf0.001 table (the oracle pins cross-engine equality; these pin that
  * the loop's early exit and the reported outcome columns mean what they
  * say). */
class KmeansConvergedSpec extends SparkSpec {
  import spark.implicits._

  test("two well-separated clusters reach the fixpoint in one round") {
    // Centroid ids live in [CentroidBase, CentroidBase+Centroids) and are
    // corpus members themselves (each is always its own nearest neighbor,
    // so no cluster can empty out). Two seed centroids, one leaning to
    // each axis; two extra points per axis. Refinement pulls each centroid
    // to its cluster mean; no assignment flips → converged after round 1.
    val rows = Seq(
      (Similarity.CentroidBase.toLong,     Array(1.0f, 0.2f, 0f, 0f)),
      (Similarity.CentroidBase + 1L,       Array(0.2f, 1.0f, 0f, 0f)),
      (10L, Array(1.0f, 0.0f, 0f, 0f)),
      (11L, Array(0.99f, 0.01f, 0f, 0f)),
      (12L, Array(0.0f, 1.0f, 0f, 0f)),
      (13L, Array(0.01f, 0.99f, 0f, 0f)))
    val dir = java.nio.file.Files.createTempDirectory("graft_km").toString
    try {
      rows.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")

      val out = Similarity.ivfKmeansConverged(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getBoolean(4)))
      assert(out.map(_._1).toSeq ===
        Seq(Similarity.CentroidBase.toLong, Similarity.CentroidBase + 1L))
      assert(out.map(_._2).toSeq === Seq(3L, 3L)) // centroid + 2 points each
      assert(out.forall(_._4 == 1L), s"expected 1-round fixpoint, got $out")
      assert(out.forall(_._5), "both rows must report converged")
      // refined centroid = mean((1,.2),(1,0),(.99,.01)) = (.996667,.07,0,0)
      val n = math.sqrt(0.996667 * 0.996667 + 0.07 * 0.07)
      assert(math.abs(out.head._3 - math.rint(n * 1e6) / 1e6) < 1e-9)
    } finally {
      // the index store keys artifacts on the sf dir: drop both
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(graft.StateRoot.path("indexes", dir)))
    }
  }

  test("sf0.001: outcome columns are internally consistent") {
    val total = spark.read.parquet(s"$sf001/embeddings.parquet").count()
    val rows = Similarity.ivfKmeansConverged(spark, sf001).collect()
    val centRange = (Similarity.CentroidBase.toLong until
      (Similarity.CentroidBase + Similarity.Centroids).toLong).toSet
    assert(rows.map(_.getLong(0)).forall(centRange.contains))
    assert(rows.map(_.getLong(1)).sum === total) // every vector assigned
    assert(rows.forall(_.getDouble(2) > 0.0))
    val iters = rows.map(_.getLong(3)).distinct
    val conv = rows.map(_.getBoolean(4)).distinct
    assert(iters.length === 1 && conv.length === 1) // shared outcome
    assert(iters.head >= 1L && iters.head <= Similarity.MaxKmeansIters)
    // early exit ⇒ converged; only a cap-hit may report false
    if (iters.head < Similarity.MaxKmeansIters) assert(conv.head)
  }
}
