package graft.llm

import org.apache.spark.sql.Row

import graft.SparkSpec

/** Pins the unigram-LM tokenizer EM ([[TextAnalysis.unigramLmParts]], Kudo
  * 2018) on a hand-computed fixture: Viterbi must prefer the whole-word
  * piece over char splits (fewer pieces win at equal mass), the M-step
  * must drop unused multi-char candidates while flooring every char at
  * count 1, and words beyond the static DP cap must contribute seed
  * candidates but never survive EM. */
class UnigramLmSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rows: Map[String, Row] =
    TextAnalysis.unigramLmParts(Seq(
      (1L, "aaab aaab aaab cd"),
      // 11 chars — beyond UlmMaxWordLen=10: seeds candidates, no usage
      (2L, "abcdefghijk")
    ).toDF("doc_id", "text"))._1
      .collect().map(r => r.getAs[String]("piece") -> r).toMap

  test("Viterbi keeps whole-word pieces; EM counts match hand computation") {
    // aaab: [aaab] scores ln(3/33) ≈ −2.40 vs [aa,ab] ≈ −4.10 — kept
    // whole; after round 1 the vocab is {aaab:3, cd:1} + unit chars
    val aaab = rows("aaab")
    assert(aaab.getAs[Long]("em_count") == 3L)
    assert(aaab.getAs[Long]("usage") == 3L)
    val cd = rows("cd")
    assert(cd.getAs[Long]("em_count") == 1L)
    assert(cd.getAs[Long]("usage") == 1L)
    // total EM mass = 3 + 1 + four floored chars... plus the capped
    // word's chars (floor 1 each) — prob checks the shared total
    val tot = rows.values.map(_.getAs[Long]("em_count")).sum
    assert(aaab.getAs[Double]("prob") ==
      math.rint(3.0 / tot * 1e6) / 1e6 ||
      aaab.getAs[Double]("prob") == BigDecimal(3.0 / tot)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("chars are floored at 1 with zero usage when unused") {
    Seq("a", "b", "c", "d").foreach { c =>
      assert(rows.contains(c), s"char $c must stay in the vocab")
      assert(rows(c).getAs[Long]("em_count") == 1L)
      assert(rows(c).getAs[Long]("usage") == 0L)
    }
  }

  test("multi-char candidates from the over-cap word die in the M-step") {
    // every multi-char substring of "abcdefghijk" seeds with count 1 but
    // the word is never segmented (beyond the DP cap) → zero usage →
    // dropped by round 1's M-step
    assert(!rows.keySet.exists(p => p.length > 1 && "abcdefghijk".contains(p)
      && p != "cd"),
      s"over-cap word pieces must not survive EM: ${rows.keySet}")
    // but its chars persist via the char floor
    Seq("e", "f", "g", "h", "i", "j", "k").foreach { c =>
      assert(rows.contains(c) && rows(c).getAs[Long]("em_count") == 1L)
    }
  }
}
