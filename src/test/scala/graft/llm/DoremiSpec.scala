package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins [[Corpus.domainReweightFrom]] (DoReMi-style Group-DRO
  * multiplicative weights, Xie et al. 2023) BIT-LOCKSTEP against a
  * plain-Scala brute twin of the same recurrence — surprisal loss proxy
  * (9-dp contributions, decimal sums, 6-dp means), excess over the
  * mixture loss, 9-dp-rounded Hedge step exp(η·excess), uniform
  * smoothing — round by round on a hand fixture, plus the structural
  * invariants: weights sum to 1 every round, the highest-loss domain
  * gains weight, and the trajectory is deterministic. */
class DoremiSpec extends SparkSpec {
  import spark.implicits._

  private def r(x: Double, dp: Int): Double =
    BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The operator's full recurrence, sequentially: loss proxy from the
    * texts, then DoremiRounds rounds of (excess, hedge, smooth). Returns
    * round -> source -> (loss, excess, alpha). */
  private def brute(rows: Seq[(Long, String, String)])
      : Map[Int, Map[String, (Double, Double, Double)]] = {
    val tf = rows.flatMap { case (_, src, text) =>
      text.split(" ", -1).map(t => (src, t))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val termFreq = tf.groupBy(_._1._2).map { case (t, m) => t -> m.values.sum }
    val total = termFreq.values.sum.toDouble
    val sources = tf.keys.map(_._1).toSeq.distinct.sorted
    val loss = sources.map { s =>
      val mine = tf.filter(_._1._1 == s)
      val n = mine.values.sum
      val sum = mine.map { case ((_, t), c) =>
        BigDecimal(r(c * -math.log(termFreq(t) / total), 9))
      }.sum.toDouble
      s -> r(sum / n, 6)
    }.toMap
    val k = sources.size
    var alpha = sources.map(s => s -> r(1.0 / k, 9)).toMap
    (1 to Corpus.DoremiRounds).map { t =>
      val lam = sources.map(s => BigDecimal(r(alpha(s) * loss(s), 9)))
        .sum.toDouble
      val excess = sources.map(s =>
        s -> r(math.max(loss(s) - lam, 0.0), 9)).toMap
      val u = sources.map(s =>
        s -> r(alpha(s) * r(math.exp(Corpus.DoremiEta * excess(s)), 9), 9))
        .toMap
      val sS = sources.map(s => BigDecimal(u(s))).sum.toDouble
      alpha = sources.map(s => s -> r(
        (1.0 - Corpus.DoremiSmooth) * r(u(s) / sS, 9) +
          Corpus.DoremiSmooth / k, 9)).toMap
      t -> sources.map(s => s -> ((loss(s), excess(s), alpha(s)))).toMap
    }.toMap
  }

  // three domains with clearly separated surprisal: srcA repeats one
  // common token (low loss), srcB is all-rare (high loss), srcC mixes
  private val fixture = Seq(
    (1L, "srcA", "a a a a a a"),
    (2L, "srcA", "a a a b"),
    (3L, "srcB", "q w e r t y"),
    (4L, "srcC", "a a q w"))

  /** The reweighting recurrence over (source, token, tf) counts built
    * inline, where the entry folds the session tf index. */
  private def reweightOf(d: DataFrame): DataFrame =
    Corpus.domainReweightFrom(
      d.select(col("source"), explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("tf")))

  private lazy val got = reweightOf(
      fixture.toDF("doc_id", "source", "text"))
    .collect()
    .map(row => (row.getAs[Int]("round"), row.getAs[String]("source")) ->
      ((row.getAs[Double]("loss"), row.getAs[Double]("excess"),
        row.getAs[Double]("alpha"))))
    .toMap

  test("bit-lockstep with the brute twin, every round") {
    val want = brute(fixture)
    assert(got.size == Corpus.DoremiRounds * 3)
    for (t <- 1 to Corpus.DoremiRounds; s <- Seq("srcA", "srcB", "srcC")) {
      val (wl, we, wa) = want(t)(s)
      val (gl, ge, ga) = got((t, s))
      assert(math.abs(gl - wl) < 1e-12, s"round $t $s loss: $gl vs $wl")
      assert(math.abs(ge - we) < 1e-12, s"round $t $s excess: $ge vs $we")
      assert(math.abs(ga - wa) < 1e-12, s"round $t $s alpha: $ga vs $wa")
    }
  }

  test("weights sum to 1 every round; worst domain gains weight") {
    for (t <- 1 to Corpus.DoremiRounds) {
      val mass = Seq("srcA", "srcB", "srcC").map(s => got((t, s))._3).sum
      assert(math.abs(mass - 1.0) < 1e-8, s"round $t mass $mass")
    }
    // srcB (all rare tokens) is the highest-loss domain: its weight must
    // rise above uniform and keep rising across the trajectory
    val uniform = 1.0 / 3
    assert(got((1, "srcB"))._3 > uniform)
    assert(got((Corpus.DoremiRounds, "srcB"))._3 > got((1, "srcB"))._3)
    assert(got((Corpus.DoremiRounds, "srcA"))._3 < uniform)
  }

  test("reweighted sample: boost normalization, max-boost anchor, keep gate") {
    // A bigger corpus so the hash gate actually drops docs: 30 low-loss
    // srcA docs, 12 high-loss srcB docs, 18 mixed srcC docs.
    val corpus = (1L to 30L).map(i => (i, "srcA", "a a a a a")) ++
      (31L to 42L).map(i => (i, "srcB", "q w e r t y")) ++
      (43L to 60L).map(i => (i, "srcC", "a a q w"))
    val df = corpus.toDF("doc_id", "source", "text")
    val out = Corpus.domainReweightSampleFrom(reweightOf(df), df).collect()
      .map(row => row.getAs[String]("source") -> row).toMap
    assert(out.keySet == Set("srcA", "srcB", "srcC"))

    // final-round alphas from the (already lockstep-certified) trajectory
    val alpha = reweightOf(df)
      .where($"round" === Corpus.DoremiRounds).collect()
      .map(row => row.getAs[String]("source") -> row.getAs[Double]("alpha"))
      .toMap

    // brute shares / boosts / rates, the operator's committed rounding
    val tok = corpus.groupBy(_._2).map { case (s, rs) =>
      s -> rs.map(_._3.split(" ", -1).length.toLong).sum
    }
    val total = tok.values.sum.toDouble
    val share = tok.map { case (s, t) => s -> r(t / total, 6) }
    val boost = share.map { case (s, sh) => s -> r(alpha(s) / sh, 6) }
    val maxB = boost.values.max
    val rate = boost.map { case (s, b) => s -> r(b / maxB, 6) }
    for (s <- Seq("srcA", "srcB", "srcC")) {
      assert(out(s).getAs[Double]("share") == share(s), s"$s share")
      assert(out(s).getAs[Double]("alpha") == alpha(s), s"$s alpha")
      assert(out(s).getAs[Double]("sample_rate") == rate(s), s"$s rate")
    }
    // the max-boost anchor: exactly the argmax source keeps rate 1.0,
    // and it is the high-loss domain (srcB gained the most weight per
    // token share) — downsample-only everywhere else
    val anchor = boost.maxBy(_._2)._1
    assert(anchor == "srcB")
    assert(out(anchor).getAs[Double]("sample_rate") == 1.0)
    assert(out(anchor).getAs[Long]("n_kept") == 12L)
    assert(rate.values.forall(_ <= 1.0))

    // keep-hash gate, recomputed doc by doc with the suite's 60-bit
    // md5-prefix hash: kept iff hash64('drw|'+id) % mod < rate * mod
    def h64(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    val kept = corpus.filter { case (id, src, _) =>
      (h64(s"drw|$id") % Corpus.TempKeepMod).toDouble <
        rate(src) * Corpus.TempKeepMod
    }
    for (s <- Seq("srcA", "srcB", "srcC")) {
      val mine = kept.filter(_._2 == s)
      assert(out(s).getAs[Long]("n_kept") == mine.size.toLong, s"$s n_kept")
      assert(out(s).getAs[Long]("kept_tokens") ==
        mine.map(_._3.split(" ", -1).length.toLong).sum, s"$s kept_tokens")
    }
    // the gate bites: at least one non-anchor source actually drops docs
    assert(out("srcA").getAs[Long]("n_kept") < 30L)
  }

  test("epoch allocation: budget demand, the 4-epoch cap, honest shortfall") {
    // srcTiny supplies very few tokens but DoReMi boosts high-loss rare
    // text, so its demand B·alpha overshoots the 4-epoch cap
    val corpus = (1L to 40L).map(i => (i, "srcBig", "a a a a a a a a a a")) ++
      (41L to 42L).map(i => (i, "srcTiny", "q w e"))
    val df = corpus.toDF("doc_id", "source", "text")
    val out = Corpus.epochAllocationFrom(reweightOf(df), df).collect()
      .map(row => row.getAs[String]("source") -> row).toMap
    val alpha = reweightOf(df)
      .where($"round" === Corpus.DoremiRounds).collect()
      .map(row => row.getAs[String]("source") -> row.getAs[Double]("alpha"))
      .toMap
    val tok = Map("srcBig" -> 400L, "srcTiny" -> 6L)
    val total = 406L
    for (s <- Seq("srcBig", "srcTiny")) {
      val o = out(s)
      assert(o.getAs[Long]("src_tokens") == tok(s))
      assert(o.getAs[Long]("total_tokens") == total)
      val target = r(Corpus.EpochBudgetX * total.toDouble * alpha(s), 6)
      assert(o.getAs[Double]("target_tokens") == target, s"$s target")
      val raw = r(target / tok(s), 6)
      assert(o.getAs[Double]("epochs_raw") == raw, s"$s raw")
      val epochs = math.min(Corpus.EpochCap, raw)
      assert(o.getAs[Double]("epochs") == epochs, s"$s epochs")
      assert(o.getAs[Boolean]("capped") == (raw > Corpus.EpochCap))
      val alloc = r(epochs * tok(s), 6)
      assert(o.getAs[Double]("allocated_tokens") == alloc)
      assert(o.getAs[Double]("shortfall_tokens") == r(target - alloc, 6))
    }
    // the planted geometry: the tiny high-loss source IS capped and its
    // shortfall is positive; the big source is not capped
    assert(out("srcTiny").getAs[Boolean]("capped"))
    assert(out("srcTiny").getAs[Double]("shortfall_tokens") > 0.0)
    assert(!out("srcBig").getAs[Boolean]("capped"))
    assert(out("srcBig").getAs[Double]("epochs") < Corpus.EpochCap)
  }

  test("deterministic across executions") {
    val again = reweightOf(
        fixture.toDF("doc_id", "source", "text"))
      .collect().map(_.toSeq)
    val first = reweightOf(
        fixture.toDF("doc_id", "source", "text"))
      .collect().map(_.toSeq)
    assert(again.sameElements(first))
  }
}
