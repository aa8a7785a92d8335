package graft.llm

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the unigram surprisal core ([[TextAnalysis.surprisalFrom]]) against a hand-computed unigram
  * model and [[TextAnalysis.normalizeOf]]'s scrub pipeline, plus the
  * index-path/inline-path agreement of the surprisal operator. */
class SurprisalNormalizeSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** [[TextAnalysis.unigramSurprisal]]'s core over tf/df relations built
    * inline, range-clustered by doc_id as the persisted index is. */
  private def unigramSurprisalOf(d: DataFrame): DataFrame = {
    val tf = d
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .repartitionByRange(col("doc_id"))
    TextAnalysis.surprisalFrom(tf, tf.groupBy(col("token"))
      .agg(sum(col("tf")).as("term_freq")))
  }

  test("surprisal matches the hand-computed unigram model") {
    // corpus: 6 tokens total: a=3, b=2, c=1
    val out = unigramSurprisalOf(
      Seq((1L, "a a b"), (2L, "a b c")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def term(tf: Long, freq: Long): BigDecimal =
      BigDecimal(tf * -math.log(freq / 6.0)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def mean(n: Long, terms: BigDecimal*): Double =
      BigDecimal(terms.sum.toDouble / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) === ((3L, mean(3, term(2, 3), term(1, 2)))))
    assert(out(2L) === ((3L, mean(3, term(1, 3), term(1, 2), term(1, 1)))))
  }

  test("index path and inline path agree on the real corpus") {
    val viaIndex = TextAnalysis.unigramSurprisal(spark, sf001).collect().toSeq
    val inline = unigramSurprisalOf(
      spark.read.parquet(s"$sf001/documents.parquet")).collect().toSeq
    assert(viaIndex === inline)
  }

  test("curation pipeline: dedup stage keeps the first doc of a normalized-dup group") {
    // docs 1 and 3 normalize to the SAME text (case/punct differences only)
    // and pass quality; doc 2 fails the token threshold; doc 4 is distinct
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val d = Seq(
        (1L, base.toUpperCase + "!!"),
        (2L, "too short"),
        (3L, base),
        (4L, (1 to 12).map(i => s"v$i").mkString(" ")))
        .toDF("doc_id", "text")
    val out = Corpus.curationPipelineOf(d, Corpus.packWidth(Corpus.maxDocId(d)))
    val ids = out.collect().map(_.getLong(0)).toSeq
    assert(ids === Seq(1L, 4L)) // 3 deduped against 1; 2 filtered
    // survivors pack contiguously: doc 4 starts where doc 1's 12 tokens end
    val row4 = out.where(col("doc_id") === 4L).collect().head
    assert(row4.getLong(4) === 12L) // offset_in_pack
  }

  test("bpe pairs: adjacent counts with duplicates, rank by count then pair") {
    val out = TextAnalysis.bpePairsOf(
      Seq((1L, "a b a b a"), (2L, "b a c")).toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // doc1 pairs: (a,b) (b,a) (a,b) (b,a); doc2: (b,a) (a,c)
    assert(out === Seq(
      ("b", "a", 3L, 1L),
      ("a", "b", 2L, 2L),
      ("a", "c", 1L, 3L)))
  }

  test("normalize: lowercase, strip punctuation, collapse runs, trim") {
    val out = TextAnalysis.normalizeOf(
      Seq((1L, "  Hello,   WORLD!! x9  "), (2L, "..."), (3L, "plain text"))
        .toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) === ((23L, 14L, md5hex("hello world x9"))))
    // punctuation-only doc normalizes to the empty string
    assert(out(2L) === ((3L, 0L, md5hex(""))))
    assert(out(3L) === ((10L, 10L, md5hex("plain text"))))
  }
}
