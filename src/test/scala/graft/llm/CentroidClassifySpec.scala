package graft.llm

import graft.SparkSpec

/** Pins the nearest-centroid classifier ([[Similarity.classifyWith]] over
  * r13): separable labels land on the diagonal, and two labels with
  * IDENTICAL centroids tie every assignment down to the lower label (the
  * argmax tiebreak contract shared with the oracle's row_number). */
class CentroidClassifySpec extends SparkSpec {
  import spark.implicits._

  private def v(a: Float, b: Float, c: Float): Array[Float] = Array(a, b, c)

  // label 0 clusters on e1, label 1 on e2; labels 2 and 3 are BOTH exactly
  // e3 (identical centroids) so every member of either ties 2-vs-3
  private val vectors: Seq[(Long, Int, Array[Float])] = Seq(
    (0L, 0, v(1f, 0.1f, 0f)), (1L, 0, v(1f, -0.1f, 0f)),
    (2L, 1, v(0.1f, 1f, 0f)), (3L, 1, v(-0.1f, 1f, 0f)),
    (4L, 2, v(0f, 0f, 1f)), (5L, 2, v(0f, 0f, 2f)),
    (6L, 3, v(0f, 0f, 1f)), (7L, 3, v(0f, 0f, 3f)))

  test("separable labels are diagonal; identical centroids tie to the lower label") {
    val e = vectors.toDF("vec_id", "label", "embedding")
    val got = Similarity.classifyWith(e, Similarity.labelCompOf(e))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == Map(
      (0L, 0L) -> 2L, // both label-0 vectors predicted 0
      (1L, 1L) -> 2L,
      (2L, 2L) -> 2L, // label 2 keeps itself (tie → lower label wins)
      (3L, 2L) -> 2L  // label 3 loses every tie to label 2
    ))
  }
}
