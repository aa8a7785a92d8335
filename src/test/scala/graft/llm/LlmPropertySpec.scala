package graft.llm

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.etl.SparkSpecHolder

/** Property-based invariants for the curation operators over randomized
  * text — native ScalaCheck (sbt runs Properties directly). Spark jobs per
  * trial are expensive, so trial counts are small but the generators are
  * adversarial (unicode punctuation, runs of whitespace, empty strings). */
object LlmProperties extends Properties("llm") {
  import SparkSpecHolder.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(4)

  private val messyTextGen: Gen[String] = Gen.listOfN(
    12,
    Gen.oneOf(
      Gen.oneOf("word", "Mixed", "UPPER", "x9", "", " ", "  "),
      Gen.oneOf("!!", "…", "a,b", "(paren)", "tab\tsep", "dash-ed")))
    .map(_.mkString(" "))

  private def normOf(texts: Seq[String]): Seq[(Long, String)] =
    TextAnalysis.normalizeOf(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(3))).toSeq

  property("normalize is idempotent (md5 fixpoint)") =
    forAll(Gen.nonEmptyListOf(messyTextGen)) { texts =>
      val once = normOf(texts)
      // renormalizing the NORMALIZED text must change nothing: rebuild the
      // normalized strings via THE shared pipeline expression, then compare
      val normalized = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .select(col("doc_id"), TextAnalysis.normExpr(col("text")).as("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val twice = TextAnalysis.normalizeOf(
        normalized.toSeq.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getString(3))).toSeq
      once == twice
    }

  property("pack offsets tile the token stream exactly (no gaps, no overlap)") =
    forAll(Gen.nonEmptyListOf(Gen.choose(1, 40))) { counts =>
      val out = Corpus.packOfCounts(
          counts.zipWithIndex.map { case (n, i) => (i.toLong, n.toLong) }
            .toDF("doc_id", "n_tokens"),
          Corpus.packWidth(counts.size - 1L))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      // reconstruct each doc's global start from (pack_first, offset) and
      // check starts are exactly the running sum of preceding docs
      val starts = out.map { case (_, _, packFirst, off) =>
        packFirst * Corpus.PackBudget + off
      }
      val expected = counts.map(_.toLong).scanLeft(0L)(_ + _).init
      starts.toSeq == expected
    }

  property("containment prefix filter is lossless vs the brute detector") =
    forAll(Gen.listOfN(6, Gen.choose(0, 3)).suchThat(_.nonEmpty)) { seeds =>
      // overlapping word ranges: doc i covers [10·s_i, 10·s_i + 12 + i),
      // so random pairs share runs of shingles, some containment-heavy
      val docs = seeds.zipWithIndex.map { case (sd, i) =>
        (i.toLong, (sd * 10 until sd * 10 + 12 + i)
          .map(w => s"w$w").mkString(" "))
      }
      val sets = docs.toDF("doc_id", "text")
        .select(col("doc_id"),
          Text.shingles(col("text"), Dedup.ShingleK).as("sset"))
        .where(size(col("sset")) >= 1)
        .withColumn("n", size(col("sset")))
      val got = Dedup.containmentOf(sets, 2, None)
        .select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // brute: every directional pair whose exact containment qualifies
      def sh(t: String) =
        t.split(" ").sliding(Dedup.ShingleK).map(_.mkString(" ")).toSet
      val want = (for {
        (a, ta) <- docs; (b, tb) <- docs if a != b
        inter = (sh(ta) & sh(tb)).size
        if inter * Dedup.ContainmentDen >= Dedup.ContainmentNum * sh(ta).size
      } yield (a, b)).toSet
      got == want
    }
}
