package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** Pins [[TextAnalysis.knPerplexity]]'s core (`knFrom`): the interpolated Kneser–Ney
  * probability arithmetic against hand-computed values (discount,
  * continuation fan-out/fan-in, type count), banding at the shared
  * type-7 quantile cuts, the shuffled-join fallback's parity with the
  * broadcast branch, and the continuation-probability behavior that
  * distinguishes KN from the add-one model (a word's score follows how
  * many CONTEXTS it attaches to, not its raw frequency). */
class KnPerplexitySpec extends SparkSpec {
  import spark.implicits._

  /** Total bigram occurrences Σ (n_tokens − 1): the gate's bound for an
    * inline relation. */
  private def bigramBound(d: DataFrame): Long = {
    val n = size(Text.tokens(col("text")))
    d.where(n >= 2)
      .agg(coalesce(sum((n - 1).cast(LongType)), lit(0L))).head().getLong(0)
  }

  /** The entry's core over an inline relation with an explicit broadcast
    * gate (0 forces the shuffled fallback). */
  private def run(gate: Long, docs: (Long, String)*): Seq[(Long, Long, Double, String)] = {
    val d = docs.toDF("doc_id", "text")
    val tf = TextAnalysis.bigramTf(d).repartitionByRange(col("doc_id"))
    TextAnalysis.knFrom(tf, TextAnalysis.knModelOf(tf), bigramBound(d), gate)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSeq
  }

  // corpus: c(ab)=3, c(ba)=2, c(bb)=1 → types {ab, ba, bb}, N1+(··)=3;
  // ctx a: cw1=3, N1+(a·)=1; ctx b: cw1=3, N1+(b·)=2;
  // cont b: N1+(·b)=2; cont a: N1+(·a)=1; doc 3 has no transitions
  private val corpus = Seq(
    1L -> "a b a b a",
    2L -> "a b",
    3L -> "z",
    4L -> "b b")

  test("hand-computed interpolated-KN scores and bands") {
    val out = run(Long.MaxValue, corpus: _*)
    assert(out.map(_._1) === Seq(1L, 2L, 4L)) // doc 3 excluded, total order
    val byId = out.map(t => t._1 -> t).toMap
    // p(ab) = (3−.75)/3 + (.75·1/3)·(2/3) = 11/12  → −ln = 0.087011377
    // p(ba) = (2−.75)/3 + (.75·2/3)·(1/3) = 7/12   → −ln = 0.538996501
    // p(bb) = (1−.75)/3 + (.75·2/3)·(2/3) = 5/12   → −ln = 0.875468737
    // doc1 = (2·0.087011377 + 2·0.538996501)/4 = 0.313004
    assert(byId(1L) === ((1L, 4L, 0.313004, "middle")))
    assert(byId(2L) === ((2L, 1L, 0.087011, "head")))
    assert(byId(4L) === ((4L, 1L, 0.875469, "tail")))
  }

  test("shuffled-join fallback (gate 0) matches the broadcast branch") {
    assert(run(0L, corpus: _*) === run(Long.MaxValue, corpus: _*))
  }

  test("continuation probability rewards versatile continuations (San-Francisco shape)") {
    // x follows 3 DIFFERENT contexts (a, b, c) while y, though more
    // frequent, only ever follows q. Types {ax, bx, cx, qy, yq} →
    // N1+(··)=5; N1+(·x)=3, N1+(·y)=1.
    val out = run(Long.MaxValue,
      1L -> "a x",
      2L -> "b x",
      3L -> "c x",
      4L -> "q y q y q y q")
    val byId = out.map(t => t._1 -> t._3).toMap
    // doc1 bigram (a x): p = (1−.75)/1 + (.75·1/1)·(3/5) = 0.7 — the
    // continuation mass lifts a SINGLETON to 0.7 because x attaches to
    // new contexts freely; −ln(0.7) = 0.356675
    assert(byId(1L) === 0.356675)
    assert(byId(1L) === byId(2L) && byId(2L) === byId(3L)) // symmetric contexts agree
    // doc4 bigrams (q y)/(y q): p = (3−.75)/3 + (.75·1/3)·(1/5) = 0.8 —
    // frequency still wins, but y's frozen continuation (n1p=1) earns
    // only 0.05 of backoff mass vs the singleton x's 0.45
    assert(byId(4L) === 0.223144)
    assert(byId(4L) < byId(1L))
  }

  test("corpus with no multi-token docs is empty, not an error") {
    assert(run(Long.MaxValue, 1L -> "a", 2L -> "b").isEmpty)
  }
}
