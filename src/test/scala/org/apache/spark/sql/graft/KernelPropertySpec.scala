package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property-based certification of the r15 native kernels — pure-JVM
  * (no Spark jobs per trial, so trial counts stay at ScalaCheck
  * defaults). Each kernel is pinned against an independent brute-force
  * Scala twin of its published definition over adversarial inputs
  * (small value alphabets force ties; duplicates everywhere). */
object KernelProperties extends Properties("kernels") {

  // ---- winnow selection: monotone-deque window-min, rightmost tie ----

  private def bruteWinnow(hs: Seq[Long], w: Int): Seq[(Long, Long)] =
    if (hs.size < w) Seq.empty
    else (0 to hs.size - w).map { j =>
      val win = hs.slice(j, j + w)
      val mn = win.min
      ((j + win.lastIndexOf(mn) + 1).toLong, mn)
    }.distinct

  private def runWinnow(hs: Seq[Long], w: Int): Seq[(Long, Long)] =
    WinnowKernel.selectCore(hs.toArray, w)
      .toObjectArray(null).toSeq.map { r =>
        val row = r.asInstanceOf[InternalRow]
        (row.getLong(0), row.getLong(1))
      }

  // tiny value alphabet -> dense ties; w spans degenerate 1 to > length
  private val hashSeqGen: Gen[List[Long]] =
    Gen.listOf(Gen.choose(0L, 4L))
  private val wGen: Gen[Int] = Gen.choose(1, 6)

  property("winnow_select == brute window-min with rightmost ties") =
    forAll(hashSeqGen, wGen) { (hs, w) =>
      runWinnow(hs, w) == bruteWinnow(hs, w)
    }

  property("winnow density: selected positions never more than w apart") =
    forAll(hashSeqGen, wGen) { (hs, w) =>
      val ps = runWinnow(hs, w).map(_._1)
      ps.zip(ps.drop(1)).forall { case (a, b) => b - a <= w }
    }

  // ---- top_gram_stats: max-multiplicity gram, (count desc, gram asc) --

  private def bruteTopGram(toks: Seq[String], k: Int): (Long, Long) = {
    val grams = toks.sliding(k).filter(_.size == k).map(_.mkString(" ")).toSeq
    if (grams.isEmpty) (0L, 0L)
    else {
      val counts = grams.groupBy(identity).map { case (g, o) => g -> o.size }
      val maxC = counts.values.max
      // binary UTF-8 order == Spark StringType order; the alphabet here
      // is ASCII so String ordering agrees
      val best = counts.filter(_._2 == maxC).keys.min
      (maxC.toLong, best.length.toLong)
    }
  }

  private def runTopGram(toks: Seq[String], k: Int): (Long, Long) = {
    val row = GramStats.topGram(
      new GenericArrayData(toks.map(UTF8String.fromString).toArray), k)
    (row.getLong(0), row.getLong(1))
  }

  private val tokSeqGen: Gen[List[String]] =
    Gen.listOf(Gen.oneOf("a", "b", "ab", "ba", "c"))
  private val kGen: Gen[Int] = Gen.choose(1, 4)

  property("top_gram_stats == brute max-count with lexicographic ties") =
    forAll(tokSeqGen, kGen) { (toks, k) =>
      runTopGram(toks, k) == bruteTopGram(toks, k)
    }

  // ---- winnow_fingerprints == hash-then-select composition -----------

  property("winnow_fingerprints == md5-prefix64 grams fed to winnow_select") =
    forAll(tokSeqGen, Gen.choose(1, 3), Gen.choose(1, 4)) { (toks, k, w) =>
      val fused = WinnowKernel.fingerprints(
        new GenericArrayData(toks.map(UTF8String.fromString).toArray), k, w)
        .toObjectArray(null).toSeq.map { r =>
          val row = r.asInstanceOf[InternalRow]
          (row.getLong(0), row.getLong(1))
        }
      val hs = toks.sliding(k).filter(_.size == k)
        .map(g => Md5Hash.prefix64(UTF8String.fromString(g.mkString(" "))))
        .toSeq
      fused == runWinnow(hs, w)
    }
}
