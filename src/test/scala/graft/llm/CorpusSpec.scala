package graft.llm

import java.security.MessageDigest

import org.apache.spark.sql.functions.lit

import graft.SparkSpec

/** Pins [[Corpus]] edge cases: chunk tails shorter than `ChunkSize`,
  * single-token docs, stride/overlap geometry, and the quantizer's
  * zero-vector guard (round-4 ADVICE #1). */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def chunksOf(text: String): Seq[(Long, Long, Long, String)] =
    Corpus.chunksOf(Seq(("d1", text)).toDF("doc_id", "text"))
      .select("chunk_idx", "chunk_start", "chunk_tokens", "chunk_md5")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq

  test("single-token doc => one chunk of 1 token") {
    assert(chunksOf("hello") ===
      Seq((0L, 1L, 1L, md5hex("hello"))))
  }

  test("doc shorter than ChunkSize => one tail chunk with all tokens") {
    val toks = (1 to 7).map(i => s"t$i")
    assert(chunksOf(toks.mkString(" ")) ===
      Seq((0L, 1L, 7L, md5hex(toks.mkString(" ")))))
  }

  test("doc of exactly ChunkSize tokens => full chunk + overlap tail") {
    // starts at 1 and 1+stride=41 (41 <= 50); the tail holds tokens 41..50
    val toks = (1 to Corpus.ChunkSize).map(i => s"t$i")
    assert(chunksOf(toks.mkString(" ")) === Seq(
      (0L, 1L, Corpus.ChunkSize.toLong, md5hex(toks.mkString(" "))),
      (1L, (Corpus.ChunkStride + 1).toLong,
        (Corpus.ChunkSize - Corpus.ChunkStride).toLong,
        md5hex(toks.drop(Corpus.ChunkStride).mkString(" ")))))
  }

  test("stride geometry: 130 tokens => starts 1,41,81,121 with 10-token overlap windows") {
    val toks = (1 to 130).map(i => s"t$i")
    val out = chunksOf(toks.mkString(" "))
    assert(out.map(c => (c._2, c._3)) ===
      Seq((1L, 50L), (41L, 50L), (81L, 50L), (121L, 10L)))
    // content check on an interior chunk: tokens 81..130
    assert(out(2)._4 === md5hex(toks.slice(80, 130).mkString(" ")))
    // chunk_idx is dense from 0
    assert(out.map(_._1) === Seq(0L, 1L, 2L, 3L))
  }

  test("quantizer drops all-zero vectors (127/0 guard) and keeps others") {
    val e = Seq(
      (1L, Array(0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, -2.0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val out = Corpus.quantizeOf(e)
      .select("vec_id", "max_abs", "sum_abs_q")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // vec 1 filtered; vec 2: scale = 127/2, q = [64, -127, 32]
    assert(out.toSeq === Seq((2L, 2.0, 64L + 127L + 32L)))
  }

  test("quality sample: deciles partition the corpus, ranges are monotone, decile 1 keeps all") {
    // distinct surprisal per doc → unambiguous decile cuts
    val scored = (1L to 200L).map(i => (i, i * 0.01)).toDF("doc_id", "surprisal")
    val out = Corpus.qualityFrom(scored).collect()
    assert(out.map(_.getLong(0)).toSeq === (1L to Corpus.QualityDeciles.toLong))
    assert(out.map(_.getLong(1)).sum === 200L) // every doc in exactly one decile
    // per-decile surprisal ranges are ordered and non-overlapping
    val ranges = out.map(r => (r.getDouble(3), r.getDouble(4)))
    ranges.foreach { case (lo, hi) => assert(lo <= hi) }
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2)
      case _ =>
    }
    // decile 1's keep rate is 1000/1000 — the hash gate is always true
    assert(out.head.getLong(2) === out.head.getLong(1))
    // kept counts never exceed stratum size
    out.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  /** [[Corpus.pack]]'s core over (doc_id, n_tokens), its buckets sized
    * from the largest id as the entry sizes them. */
  private def packOf(docs: Seq[(Long, Int)]): Seq[(Long, Long, Long, Long, Long)] =
    Corpus.packOfCounts(
      docs.map { case (id, n) => (id, n.toLong) }.toDF("doc_id", "n_tokens"),
      Corpus.packWidth(docs.map(_._1).max))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq

  test("pack: straddle and offset geometry at budget 256") {
    // concat order 1,2,3,5 → starts 0, 100, 300, 400
    assert(packOf(Seq(1L -> 100, 2L -> 200, 3L -> 100, 5L -> 300)) === Seq(
      (1L, 100L, 0L, 0L, 0L),   // tokens 0..99, inside pack 0
      (2L, 200L, 0L, 1L, 100L), // tokens 100..299, straddles 0→1
      (3L, 100L, 1L, 1L, 44L),  // tokens 300..399, inside pack 1
      (5L, 300L, 1L, 2L, 144L)  // tokens 400..699, straddles 1→2
    ))
  }

  test("pack: offsets are continuous across prefix-sum bucket boundaries") {
    // pin a small explicit width so ids 63 / 64 / 128 land in buckets
    // 0 / 1 / 2: the global running sum must not reset at the bucket edges
    val counts = Seq(63L -> 10L, 64L -> 20L, 128L -> 30L)
      .toDF("doc_id", "n_tokens")
    val out = Corpus.packOfCounts(counts, 64L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSeq
    assert(out === Seq((63L, 0L, 0L), (64L, 0L, 10L), (128L, 0L, 30L)))
  }

  test("packWidth bounds the bucket count for any doc_id domain") {
    // Long.MaxValue pins the overflow edge: the old additive form
    // (maxId + MaxPackBuckets) / MaxPackBuckets wrapped negative there
    for (maxId <- Seq(0L, 1L, 4095L, 4096L, 1000000L, 999999999999L,
        Long.MaxValue / 2, Long.MaxValue - 1, Long.MaxValue)) {
      val w = Corpus.packWidth(maxId)
      assert(w >= 1L)
      // every id in [0, maxId] maps to a bucket < MaxPackBuckets
      assert(maxId / w < Corpus.MaxPackBuckets,
        s"maxId=$maxId width=$w buckets=${maxId / w + 1}")
    }
  }

  test("pack: sparse, skewed doc_id domain (ids up to 1e12) stays exact") {
    // adaptive width: the old fixed width of 64 would make 1e12/64 ≈ 1.6e10
    // bucket rows and a quadratic triangular join over them — the adaptive
    // width keeps #buckets ≤ 4096 while empty buckets cost nothing
    val docs = Seq(1L -> 10, 999L -> 20, 500000000000L -> 300,
      999999999999L -> 7, 1000000000000L -> 250)
    val expected = {
      var cum = 0L
      docs.sortBy(_._1).map { case (id, n) =>
        val start = cum; cum += n
        (id, n.toLong, start / Corpus.PackBudget,
          (start + n - 1) / Corpus.PackBudget, start % Corpus.PackBudget)
      }
    }
    assert(packOf(docs) === expected)
  }

  test("pack: matches a sequential prefix-sum oracle on 300 random docs") {
    val rnd = new scala.util.Random(7)
    val docs = (0 until 300).map(i => (i * 3L + rnd.nextInt(2), 1 + rnd.nextInt(40)))
      .distinctBy(_._1)
    val expected = {
      var cum = 0L
      docs.sortBy(_._1).map { case (id, n) =>
        val start = cum; cum += n
        (id, n.toLong, start / Corpus.PackBudget,
          (start + n - 1) / Corpus.PackBudget, start % Corpus.PackBudget)
      }
    }
    assert(packOf(docs) === expected)
  }

  test("domainMix: caps the heavy source, keeps light sources whole") {
    // srcA ~98% of tokens (cap 0.05 forces a real downsample rate),
    // srcB tiny (rate clamps to 1.0 → every doc survives the keep-hash)
    val rows = (0 until 50).map(i => (i.toLong, "srcA", Seq.fill(100)("w").mkString(" "))) ++
      (50 until 60).map(i => (i.toLong, "srcB", Seq.fill(10)("w").mkString(" ")))
    val out = Corpus.mixOfPerDoc(Corpus.perDocTokens(
      rows.toDF("doc_id", "source", "text").withColumn("lang", lit("xx"))))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5), r.getLong(6)))
    assert(out.map(_._1).toSeq === Seq("srcA", "srcB"))
    val Array(a, b) = out
    assert(a._2 === 50L && a._3 === 5000L && b._2 === 10L && b._3 === 100L)
    // shares sum to 1; heavy source's rate is cap/share, light source's is 1
    assert(math.abs(a._4 + b._4 - 1.0) < 1e-6)
    assert(math.abs(a._5 - Corpus.DomainCapShare / a._4) < 1e-3)
    assert(b._5 === 1.0)
    // rate-1.0 source keeps every doc and token; capped source keeps fewer
    assert(b._6 === 10L && b._7 === 100L)
    assert(a._6 < a._2 && a._7 === a._6 * 100L)
  }

  test("weightedReservoir: equals the full-sort head, on any partitioning") {
    val rows = (1 to 200).map(i => (i.toLong, s"src${i % 5}", 10L + (i * 37) % 400))
    val df = rows.toDF("doc_id", "source", "n_chars")
    val res = Corpus.weightedReservoirOf(df)
      .collect().map(r => (r.getLong(0), r.getDouble(4), r.getLong(5))).toSeq
    assert(res.size === Corpus.ReservoirK)
    // rnk is 1..k in priority order
    assert(res.map(_._3) === (1L to Corpus.ReservoirK.toLong))
    assert(res.map(_._2) === res.map(_._2).sorted)
    // TakeOrderedAndProject merges per-partition heaps — the sample must
    // not depend on the physical layout
    val full = Corpus.weightedReservoirOf(df.repartition(7))
      .collect().map(r => (r.getLong(0), r.getDouble(4), r.getLong(5))).toSeq
    assert(full === res, "sample must be deterministic across partitionings")
  }

  test("weightedReservoir: priorities match the E-S formula exactly") {
    val df = Seq((42L, "s", 256L)).toDF("doc_id", "source", "n_chars")
    val r = Corpus.weightedReservoirOf(df).collect().head
    val h = java.lang.Long.parseLong(md5hex("wres|42").take(15), 16)
    val u = (h % Corpus.DomainKeepMod + 0.5) / Corpus.DomainKeepMod.toDouble
    val expected = BigDecimal(-math.log(u) / math.sqrt(256.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r.getDouble(3) -
      BigDecimal(u).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    assert(math.abs(r.getDouble(4) - expected) < 1e-12)
  }

  test("snapshotDiff: every status category on a hand fixture") {
    val prev = Seq(1L -> "same", 2L -> "old text", 3L -> "gone")
      .toDF("doc_id", "text")
    val cur = Seq(1L -> "same", 2L -> "new text", 4L -> "fresh")
      .toDF("doc_id", "text")
    val got = Corpus.snapshotDiffOf(prev, cur)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(got.sameElements(Array(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added")))
  }
}
