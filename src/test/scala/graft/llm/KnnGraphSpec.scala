package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r17 relational kNN-graph build ([[Similarity.knnGraphOf]]):
  * symmetry of the final edge list, the degree bound the symmetrized
  * union implies, mutual-flag consistency, and exact nearest-neighbor
  * recovery on a planted fixture where the LSH cells cannot split the
  * clusters. */
class KnnGraphSpec extends SparkSpec {
  import spark.implicits._

  private lazy val edges =
    Similarity.knnGraph(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))

  test("the symmetrized edge list is symmetric with consistent flags") {
    val bySrcDst = edges.map(e => (e._1, e._2) -> ((e._3, e._4))).toMap
    assert(edges.nonEmpty)
    edges.foreach { case (s, d, c, m) =>
      val back = bySrcDst.get((d, s))
      assert(back.isDefined, s"missing reverse edge for ($s,$d)")
      assert(back.get == ((c, m)),
        s"asymmetric payload on ($s,$d): ${(c, m)} vs ${back.get}")
      assert(s != d, s"self-loop at $s")
    }
  }

  test("degree stays within the symmetrized bound, never zero coverage") {
    // out-degree of the directed kNN is ≤ K; an endpoint can also be
    // CHOSEN by others, but a node's edge count only exceeds K through
    // mutual selection — the hard bound on distinct neighbors is the
    // node's own K picks plus its in-edges, all of which appear here;
    // the structural invariant worth pinning is: every node's MUTUAL
    // edge count ≤ K, and every node with any candidate has ≥ 1 edge.
    val mutualDeg = edges.filter(_._4).groupBy(_._1).view.mapValues(_.length)
    mutualDeg.foreach { case (n, deg) =>
      assert(deg <= Similarity.KnnGraphK, s"node $n mutual degree $deg")
    }
    val degs = edges.groupBy(_._1).view.mapValues(_.length).values
    assert(degs.forall(_ >= 1))
  }

  test("mutual edges are exactly the both-direction picks of the directed kNN") {
    // rebuild the directed kNN independently and cross-check the flag
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cells = e.select(col("vec_id"), col("embedding"),
      posexplode(array((0 until Similarity.AnnTables)
        .map(t => Similarity.annBucketOf(col("embedding"), Similarity.annPlaneSigns, t)): _*))
        .as(Seq("tbl", "bkt")))
    val cand = cells.as("a").join(cells.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val directed = cand ++ cand.map(x => (x._2, x._1, x._3))
    val knn = directed.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      es.sortBy(x => (-x._3, x._2)).take(Similarity.KnnGraphK).toSeq
    }.map(x => (x._1, x._2)).toSet
    edges.foreach { case (s, d, _, m) =>
      val want = knn.contains((s, d)) && knn.contains((d, s))
      assert(m == want, s"mutual flag wrong on ($s,$d)")
      assert(knn.contains((s, d)) || knn.contains((d, s)),
        s"edge ($s,$d) chosen by neither endpoint")
    }
  }

  test("planted clusters: every vector's graph neighbors are its cluster") {
    // two tight, well-separated direction clusters: LSH puts each
    // cluster in one cell per table, so the graph must connect exactly
    // within clusters
    val d = Similarity.Dims
    val rows = (0L until 12L).map { i =>
      val base = Array.fill(d)(0.01f)
      if (i < 6L) base(0) = 1.0f else base(1) = 1.0f
      base(8 + (i % 6L).toInt) = 0.05f // tiny per-vector jitter
      (i, base.toSeq)
    }
    val g = Similarity.knnGraphOf(rows.toDF("vec_id", "embedding"),
      Similarity.annPlaneSigns).collect()
    assert(g.nonEmpty)
    g.foreach { r =>
      val (s, dd) = (r.getLong(0), r.getLong(1))
      assert((s < 6L) == (dd < 6L),
        s"edge ($s,$dd) crosses the planted clusters")
    }
    // within a 6-cluster at K=4, everyone picks 4 of their 5 peers
    val deg = g.groupBy(_.getLong(0)).view.mapValues(_.length)
    deg.foreach { case (n, dg) =>
      assert(dg >= Similarity.KnnGraphK, s"node $n degree $dg too low")
    }
    // mutual-kNN clustering over the same planted graph recovers the
    // two clusters exactly (X120's composition on the fixture)
    val pairs = g.filter(r => r.getBoolean(3) && r.getLong(0) < r.getLong(1))
      .map(r => (r.getLong(0), r.getLong(1)))
    val comp = Dedup.clustersOf(pairs.toSeq.toDF("doc_a", "doc_b")).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    // nodes 5 and 11 are everyone's DROPPED 5th peer under the (cosine
    // desc, dst) tie-break (all within-cluster cosines are near-equal,
    // lower ids win), so nobody reciprocates their picks — mutual-kNN
    // correctly leaves such boundary nodes unclustered
    assert(comp.size == 10 && !comp.contains(5L) && !comp.contains(11L),
      s"unexpected membership: $comp")
    assert((0L until 5L).map(comp).toSet.size == 1, "cluster A split")
    assert((6L until 11L).map(comp).toSet.size == 1, "cluster B split")
    assert(comp(0L) != comp(6L), "clusters merged")
  }

  test("the graded clustering is consistent with the graph's mutual edges") {
    val clusters = Similarity.knnClusters(spark, sf001).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    edges.filter(_._4).foreach { case (s, d, _, _) =>
      assert(clusters(s) == clusters(d),
        s"mutual edge ($s,$d) crosses clusters")
    }
    // every clustered vector appears in at least one mutual edge
    val mutualNodes = edges.filter(_._4).flatMap(e => Seq(e._1, e._2)).toSet
    assert(clusters.keySet == mutualNodes)
  }
}
