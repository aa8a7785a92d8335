package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** Pins [[TextAnalysis.bigramPerplexity]]'s core (`perplexityFrom`): the add-one bigram model
  * arithmetic against hand-computed values, head/middle/tail banding at
  * the type-7 quantile cuts, exclusion of sub-2-token docs, the
  * shuffled-join fallback's parity with the broadcast branch, and the
  * word-order sensitivity that motivates a conditional model over the
  * unigram surprisal proxy. */
class BigramPerplexitySpec extends SparkSpec {
  import spark.implicits._

  /** Total bigram occurrences Σ (n_tokens − 1): the gate's bound for an
    * inline relation. */
  private def bigramBound(d: DataFrame): Long = {
    val n = size(Text.tokens(col("text")))
    d.where(n >= 2)
      .agg(coalesce(sum((n - 1).cast(LongType)), lit(0L))).head().getLong(0)
  }

  /** The entry's core over an inline relation with an explicit broadcast
    * gate (0 forces the shuffled-join fallback). */
  private def run(gate: Long, docs: (Long, String)*): Seq[(Long, Long, Double, String)] = {
    val d = docs.toDF("doc_id", "text")
    val tf = TextAnalysis.bigramTf(d).repartitionByRange(col("doc_id"))
    TextAnalysis.perplexityFrom(tf, TextAnalysis.modelOf(tf), bigramBound(d),
      d.select(explode(Text.tokens(col("text"))).as("token"))
        .agg(countDistinct(col("token")).as("v")),
      gate)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSeq
  }

  // corpus: c("a b")=3, c("b a")=2, c("b b")=1; ctx(a)=3, ctx(b)=3;
  // V = |{a,b,z}| = 3; doc 3 (single token) contributes to V but has no
  // transitions
  private val corpus = Seq(
    1L -> "a b a b a",
    2L -> "a b",
    3L -> "z",
    4L -> "b b")

  test("hand-computed add-one model scores and bands") {
    val out = run(Long.MaxValue, corpus: _*)
    assert(out.map(_._1) === Seq(1L, 2L, 4L)) // doc 3 excluded, total order
    val byId = out.map(t => t._1 -> t).toMap
    // doc1: 2*round(-ln(4/6),9) + 2*round(-ln(3/6),9) over 4 bigrams
    assert(byId(1L) === ((1L, 4L, 0.549306, "middle")))
    // doc2: -ln((3+1)/(3+3)) = 0.405465108
    assert(byId(2L) === ((2L, 1L, 0.405465, "head")))
    // doc4: -ln((1+1)/(3+3)) = 1.098612289
    assert(byId(4L) === ((4L, 1L, 1.098612, "tail")))
  }

  test("shuffled-join fallback (gate 0) matches the broadcast branch") {
    assert(run(0L, corpus: _*) === run(Long.MaxValue, corpus: _*))
  }

  test("same bag of words, different order -> different score") {
    val out = run(Long.MaxValue,
      1L -> "a b a b",
      2L -> "a a b b",
      3L -> "a b a b")
    val byId = out.map(t => t._1 -> t._3).toMap
    assert(byId(1L) === byId(3L)) // identical docs agree
    assert(byId(1L) !== byId(2L)) // the unigram proxy cannot see this
  }

  test("corpus with no multi-token docs is empty, not an error") {
    assert(run(Long.MaxValue, 1L -> "a", 2L -> "b").isEmpty)
  }
}
