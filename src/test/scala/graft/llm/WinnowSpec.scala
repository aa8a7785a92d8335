package graft.llm

import java.security.MessageDigest

import graft.SparkSpec

/** Pins [[TextAnalysis.winnowOf]] (winnowing / MOSS) BIT-LOCKSTEP against
  * a plain-Scala brute twin of the same window-min + rightmost-tie
  * recurrence, plus the paper's guarantees: selected positions are never
  * more than w apart, a shared run of ≥ w+k−1 tokens yields a shared
  * fingerprint, the rightmost tie rule is observable on repeated grams,
  * and short docs are out of scope. */
class WinnowSpec extends SparkSpec {
  import spark.implicits._

  private val k = Dedup.ShingleK
  private val w = TextAnalysis.WinnowW

  private def run(rows: Seq[(Long, String)]): Seq[(Long, Long, Long)] =
    TextAnalysis.winnowOf(rows.toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq

  private def h64(s: String): Long = {
    val hex = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  private def brute(rows: Seq[(Long, String)]): Seq[(Long, Long, Long)] =
    rows.flatMap { case (id, text) =>
      val t = text.split(" ", -1).toSeq
      val hs = t.sliding(k).filter(_.size == k).map(g => h64(g.mkString(" ")))
        .toIndexedSeq
      if (hs.size < w) Seq.empty
      else (0 to hs.size - w).map { j =>
        val win = hs.slice(j, j + w)
        val mn = win.min
        val rpos = win.lastIndexOf(mn) + 1
        (id, (j + rpos).toLong, mn)
      }.distinct
    }.distinct.sortBy(x => (x._1, x._2))

  private val corpus = Seq(
    1L -> "q w e r t y u i o p a s d f g",
    2L -> "z x c q w e r t y u i o p m n", // shares the 10-token run
    3L -> "a b a b a b a b a b",           // repeated grams -> hash ties
    4L -> "a b c d e f")                   // 4 grams = exactly w windows? 4 grams, 1 window
  private val tiny = Seq(5L -> "a b c d e") // 3 grams < w -> out of scope

  test("bit-lockstep with the plain-Scala brute twin") {
    assert(run(corpus ++ tiny) === brute(corpus ++ tiny))
  }

  test("native kernel == composable HOF form on every fixture (r15)") {
    val rows = corpus ++ tiny
    val hof = WinnowSpec.winnowHofOf(rows.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run(rows) === hof)
  }

  test("kernel handles adversarial shapes: all-equal, descending, exact-w") {
    // all-equal hashes -> every window ties fully, rightmost selected,
    // selections advance one per window; descending -> min always at the
    // window's right edge; exactly w grams -> one window
    val shaped = Seq(
      10L -> "a a a a a a a a a a",         // identical grams
      11L -> ("z9 z8 z7 z6 z5 z4 z3 z2 z1 z0"), // monotone gram stream
      12L -> "p q r s t u")                 // w grams exactly (k=3 -> 4)
    assert(run(shaped) === brute(shaped))
  }

  test("density guarantee: selected positions never more than w apart") {
    val out = run(corpus)
    out.groupBy(_._1).foreach { case (_, fps) =>
      val ps = fps.map(_._2).distinct.sorted
      ps.zip(ps.drop(1)).foreach { case (a, b) =>
        assert(b - a <= w, s"gap $a -> $b exceeds window $w")
      }
    }
  }

  test("detection guarantee: a shared >= w+k-1 token run shares a fingerprint") {
    val out = run(corpus)
    val f1 = out.filter(_._1 == 1L).map(_._3).toSet
    val f2 = out.filter(_._1 == 2L).map(_._3).toSet
    assert(f1.intersect(f2).nonEmpty)
  }

  test("rightmost tie rule on repeated grams; short docs out of scope") {
    val out = run(corpus ++ tiny)
    // doc 3 alternates two gram values; every window of 4 holds its min
    // twice -> the selected position must be the RIGHTMOST occurrence,
    // which the brute twin (lastIndexOf) already enforces via lockstep;
    // here pin that doc 3 produced fingerprints at all and doc 5 none
    assert(out.exists(_._1 == 3L))
    assert(!out.exists(_._1 == 5L))
  }
}

/** The higher-order-function formulation [[WinnowSpec]] pins the native
  * kernel against. */
object WinnowSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  import graft.llm.Text._

  /** The pre-r15 composable higher-order-function winnow — retained as
    * the independent formulation WinnowSpec pins the native kernel
    * against (per-window slice/array_min/rightmost-max lambdas; the
    * semantics, spelled out). */
  def winnowHofOf(d: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val n = size(t)
    val k = Dedup.ShingleK
    val grams = transform(sequence(lit(0), n - k), i =>
      concat_ws(" ", (0 until k).map(j =>
        element_at(t, (i + j + 1).cast(IntegerType))): _*))
    val w = TextAnalysis.WinnowW
    d.where(n >= k + w - 1)
      .select(col("doc_id"), transform(grams, g => hash64(g)).as("hs"))
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(0), size(col("hs")) - w), j => {
          val win = slice(col("hs"), j + 1, lit(w))
          val mn = array_min(win)
          // rightmost index of the min inside the window (the tie rule)
          val rpos = array_max(transform(sequence(lit(1), lit(w)), p =>
            when(element_at(win, p.cast(IntegerType)) === mn, p)
              .otherwise(lit(0L))))
          struct((j + rpos).cast(LongType).as("pos"), mn.as("fp"))
        }))).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
      .orderBy(col("doc_id"), col("pos"))
  }
}
