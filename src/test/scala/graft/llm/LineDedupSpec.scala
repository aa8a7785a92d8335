package graft.llm

import java.security.MessageDigest

import graft.SparkSpec

/** Pins [[Corpus.lineDedupOf]] at the entry's broadcast gate: line segmentation geometry, the corpus-wide
  * threshold (within-doc repeats count toward it), the all-lines-dropped
  * digest, and tail lines shorter than [[Corpus.LineTokens]]. */
class LineDedupSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val boiler = (1 to Corpus.LineTokens).map(i => s"b$i").mkString(" ")

  private def run(docs: (Long, String)*): Map[Long, (Long, Long, String)] =
    Corpus.lineDedupOf(docs.toDF("doc_id", "text"),
      Corpus.LineBoilerBroadcastMaxRows, None)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap

  test("line occurring >= threshold corpus-wide is dropped from every doc") {
    val uniq1 = (1 to Corpus.LineTokens).map(i => s"u$i").mkString(" ")
    val uniq2 = (1 to Corpus.LineTokens).map(i => s"v$i").mkString(" ")
    val out = run(
      1L -> s"$boiler $uniq1",
      2L -> s"$boiler $uniq2",
      3L -> boiler)
    assert(out(1L) === ((2L, 1L, md5hex(md5hex(uniq1)))))
    assert(out(2L) === ((2L, 1L, md5hex(md5hex(uniq2)))))
    // doc 3 is pure boilerplate: zero kept lines, digest of empty string
    assert(out(3L) === ((1L, 0L, md5hex(""))))
  }

  test("below-threshold repeats are kept (2 occurrences < 3)") {
    val uniq = (1 to Corpus.LineTokens).map(i => s"u$i").mkString(" ")
    val out = run(1L -> s"$boiler $uniq", 2L -> boiler)
    assert(out(1L)._2 === 2L) // both lines kept
    assert(out(2L)._2 === 1L)
  }

  test("tail shorter than LineTokens is its own line; kept digest preserves order") {
    // doc: boiler(8) + 3-token tail; boiler elsewhere 2 more times => dropped
    val out = run(
      1L -> s"$boiler x y z",
      2L -> boiler,
      3L -> boiler)
    assert(out(1L) === ((2L, 1L, md5hex(md5hex("x y z")))))
  }

  test("multi-line digest concatenates kept md5s in document order") {
    val l1 = (1 to Corpus.LineTokens).map(i => s"p$i").mkString(" ")
    val l2 = (1 to Corpus.LineTokens).map(i => s"q$i").mkString(" ")
    val out = run(1L -> s"$l1 $l2")
    assert(out(1L) === ((2L, 2L, md5hex(md5hex(l1) + "|" + md5hex(l2)))))
  }

  test("within-doc repetition counts toward the corpus threshold") {
    // the same line 3x inside ONE doc is boilerplate too
    val out = run(1L -> s"$boiler $boiler $boiler")
    assert(out(1L) === ((3L, 0L, md5hex(""))))
  }

  test("over the broadcast gate: shuffled-join fallback, identical output") {
    val uniq1 = (1 to Corpus.LineTokens).map(i => s"u$i").mkString(" ")
    val uniq2 = (1 to Corpus.LineTokens).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      1L -> s"$boiler $uniq1", 2L -> s"$boiler $uniq2", 3L -> boiler)
    val d = docs.toDF("doc_id", "text")
    val gated = Corpus.lineDedupOf(d, 0L, None) // bound 4 lines/3 > 0 → fallback
    // the flagging join must be a shuffled hash join, not a broadcast
    // (AQE off for the plan assertion — AdaptiveSparkPlan hides its inner
    // tree from collect, same reason as PlanShapeSpec.withStablePlans)
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = gated.queryExecution.executedPlan
      assert(plan.collect { case j: ShuffledHashJoinExec => j }.nonEmpty,
        s"expected the gated fallback to plan a shuffled hash join:\n$plan")
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
        s"boiler set must not broadcast over the gate:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val expect = Corpus.lineDedupOf(d, Corpus.LineBoilerBroadcastMaxRows, None).collect().map(_.toSeq).toSet
    assert(gated.collect().map(_.toSeq).toSet === expect)
  }

  test("randomized corpus matches a brute-force reimplementation") {
    val rnd = new scala.util.Random(42)
    // small vocabulary => plenty of accidental line collisions
    val docs = (0L until 60L).map { id =>
      val n = 1 + rnd.nextInt(30)
      id -> Seq.fill(n)(s"w${rnd.nextInt(6)}").mkString(" ")
    }
    // brute force: segment, count, flag, rebuild — direct Scala
    val lines = docs.flatMap { case (id, text) =>
      text.split(" ").grouped(Corpus.LineTokens).zipWithIndex
        .map { case (toks, idx) => (id, idx, md5hex(toks.mkString(" "))) }
    }
    val counts = lines.groupBy(_._3).map { case (h, g) => h -> g.size }
    val expected = lines.groupBy(_._1).map { case (id, ls) =>
      val sorted = ls.sortBy(_._2)
      val kept = sorted.filter(l => counts(l._3) < Corpus.LineDupThreshold)
      id -> ((sorted.size.toLong, kept.size.toLong,
        md5hex(kept.map(_._3).mkString("|"))))
    }
    assert(run(docs: _*) === expected)
  }
}
