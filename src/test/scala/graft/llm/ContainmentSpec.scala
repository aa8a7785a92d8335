package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the containment near-dup detector ([[Dedup.containmentOf]],
  * Broder's |A∩B|/|A|) on planted geometry: an EXCERPT living inside a
  * long article qualifies directionally with resemblance far below the
  * Jaccard threshold (the pair X2 structurally misses — the flag the
  * operator exists for), a symmetric near-identical pair qualifies in
  * BOTH directions without the flag, and unrelated docs stay out. */
class ContainmentSpec extends SparkSpec {
  import spark.implicits._

  private def words(lo: Int, hi: Int): String =
    (lo until hi).map(i => s"w$i").mkString(" ")

  // doc 1: 100-token article; doc 2: a 12-token excerpt of it (tokens
  // 40..52 -> 10 shingles, all inside doc 1); doc 3/4: near-identical
  // twins; doc 5: unrelated
  private val docs = Seq(
    (1L, words(0, 100)),
    (2L, words(40, 52)),
    (3L, words(200, 240)),
    (4L, words(200, 239) + " zz"),
    (5L, words(500, 540)))

  private lazy val out = {
    val sets = docs.toDF("doc_id", "text")
      .select(col("doc_id"),
        Text.shingles(col("text"), Dedup.ShingleK).as("sset"))
      .where(size(col("sset")) >= 1)
      .withColumn("n", size(col("sset")))
    Dedup.containmentOf(sets, 4, None).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
  }

  test("an excerpt inside an article qualifies directionally, flagged") {
    val r = out((2L, 1L))
    assert(r.getAs[Double]("containment") == 1.0)
    assert(r.getAs[Double]("jaccard") < Dedup.JaccardThreshold)
    assert(r.getAs[Boolean]("resemblance_missed"),
      "the excerpt pair is exactly what resemblance misses")
    // the reverse direction (article contained in excerpt) must NOT hold
    assert(!out.contains((1L, 2L)))
  }

  test("near-identical twins qualify both ways without the flag") {
    for (pair <- Seq((3L, 4L), (4L, 3L))) {
      val r = out(pair)
      assert(r.getAs[Double]("containment") >= 0.8, s"$pair")
      assert(!r.getAs[Boolean]("resemblance_missed"), s"$pair")
    }
  }

  test("unrelated documents never pair; the brute arithmetic matches") {
    assert(!out.keys.exists { case (a, b) => a == 5L || b == 5L })
    // brute-recompute every emitted pair's containment from the raw text
    def sh(t: String): Set[String] =
      t.split(" ").sliding(Dedup.ShingleK).map(_.mkString(" ")).toSet
    val byId = docs.toMap
    out.foreach { case ((a, b), r) =>
      val (sa, sb) = (sh(byId(a)), sh(byId(b)))
      val inter = (sa & sb).size
      assert(r.getAs[Double]("containment") == inter.toDouble / sa.size)
      assert(inter * Dedup.ContainmentDen >=
        Dedup.ContainmentNum * sa.size, s"non-qualifying pair ($a,$b)")
    }
  }
}
