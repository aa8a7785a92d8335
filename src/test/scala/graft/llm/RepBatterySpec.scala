package graft.llm

import org.apache.spark.sql.Row

import graft.SparkSpec

/** Pins the full Gopher repetition battery
  * ([[TextAnalysis.repetitionBatteryOf]], Rae et al. 2021 Table A1) on
  * hand-computed fixtures: top-gram char fractions with the lexicographic
  * tie rule, duplicated-n-gram coverage counting each overlapped word
  * ONCE, the zero default for docs shorter than n, and the composite
  * verdict at the published thresholds. */
class RepBatterySpec extends SparkSpec {
  import spark.implicits._

  private val fixture = Seq(
    (1L, "a b a b c"), // repeated bigram dominates
    (2L, "x y z x y z x y z w"), // period-3 repetition: dup 5/6-grams overlap
    (3L, "solo"), // shorter than every n: all signals 0, passes
    // 25 distinct 2-char words (50 word chars): a count-1 top 4-gram
    // covers 8/50 = 0.16, exactly AT the published threshold
    (4L, ('a' to 'y').map(c => s"a$c").mkString(" "))
  )

  private lazy val rows: Map[Long, Row] =
    TextAnalysis.repetitionBatteryOf(fixture.toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

  private def d(id: Long, c: String): Double = rows(id).getAs[Double](c)

  test("top-gram fractions: counts, word chars, lexicographic ties") {
    // doc 1: "a b"×2 → 2 occurrences × 2 chars / 5 chars
    assert(d(1L, "top_2_frac") == 4.0 / 5.0)
    // doc 1: all 3-grams unique → lex-min "a b a", 3 chars / 5
    assert(d(1L, "top_3_frac") == 3.0 / 5.0)
    // doc 2: "x y"×3 and "y z"×3 tie → lex "x y"; 3×2/10
    assert(d(2L, "top_2_frac") == 6.0 / 10.0)
    assert(d(2L, "top_3_frac") == 9.0 / 10.0) // "x y z"×3 × 3 chars
    assert(d(2L, "top_4_frac") == 8.0 / 10.0) // "x y z x"×2 × 4 chars
  }

  test("duplicated-n-gram coverage counts each overlapped word once") {
    // doc 2: dup 5-grams at pos {0,3} and {1,4} cover positions 0..8 →
    // 9 of 10 single-char words (NOT 4 occurrences × 5 = 20)
    assert(d(2L, "dup_5_frac") == 9.0 / 10.0)
    // dup 6-gram at pos {0,3} covers 0..8 as well
    assert(d(2L, "dup_6_frac") == 9.0 / 10.0)
    // 7-grams are all distinct
    assert(d(2L, "dup_7_frac") == 0.0)
    // doc 1 has a single 5-gram — nothing duplicated
    assert(d(1L, "dup_5_frac") == 0.0)
  }

  test("docs shorter than n score zero and can still pass") {
    (Seq("top_2_frac", "top_3_frac", "top_4_frac") ++
      (5 to 10).map(n => s"dup_${n}_frac")).foreach { c =>
      assert(d(3L, c) == 0.0, s"doc 3 $c")
    }
    assert(rows(3L).getAs[Boolean]("passes"))
  }

  test("native top_gram_stats kernel == relational explode/count/rank twin (r15)") {
    // every (doc, n) the relational form emits must agree with the
    // kernel-computed covered mass the battery now uses in-row; the
    // relational twin emits NO row where m < n, and there the kernel's
    // c = 0 makes covered 0 (pinned by the doc-3 zero test above)
    import org.apache.spark.sql.functions._
    val df = fixture.toDF("doc_id", "text")
    val rel = RepBatterySpec.topGramCoveredRelational(df)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val t = Text.tokens(col("text"))
    val kern = (2 to 4).flatMap { n =>
      val st = org.apache.spark.sql.graft.functions.top_gram_stats(t, n)
      df.select(col("doc_id"), size(t).as("m"),
          (st.getField("c") *
            greatest(st.getField("gram_chars") - lit(n - 1), lit(0L)))
            .cast("long").as("covered"))
        .collect()
        .map(r => ((r.getLong(0), n), r.getInt(1), r.getLong(2)))
    }
    kern.foreach { case (key @ (id, n), m, covered) =>
      if (m >= n) assert(rel(key) == covered, s"doc $id n=$n")
      else { assert(!rel.contains(key)); assert(covered == 0L) }
    }
  }

  test("native dup_gram_coverage kernel == relational explode/count/cover twin (r20)") {
    import org.apache.spark.sql.functions._
    val df = fixture.toDF("doc_id", "text")
    val rel = RepBatterySpec.dupGramCoveredRelational(df)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val t = Text.tokens(col("text"))
    val kern = df.select(col("doc_id"),
        org.apache.spark.sql.graft.functions.dup_gram_coverage(t, 5, 10)
          .as("cov"))
      .collect()
    assert(kern.nonEmpty)
    kern.foreach { r =>
      val id = r.getLong(0)
      val cov = r.getSeq[Long](1)
      (5 to 10).foreach { n =>
        // the relational twin emits NO row where nothing is duplicated;
        // there the kernel must report 0
        assert(cov(n - 5) == rel.getOrElse((id, n), 0L), s"doc $id n=$n")
      }
    }
  }

  test("composite verdict applies the published thresholds") {
    assert(!rows(1L).getAs[Boolean]("passes")) // 0.8 > 0.20 top-2
    assert(!rows(2L).getAs[Boolean]("passes"))
    // doc 4: all grams count 1 → top_4 = 8/50 = 0.16, AT the threshold
    assert(d(4L, "top_2_frac") == 4.0 / 50.0)
    assert(d(4L, "top_4_frac") == 8.0 / 50.0)
    assert(rows(4L).getAs[Boolean]("f_top_4_frac"), "boundary is inclusive")
    assert(rows(4L).getAs[Boolean]("passes"))
  }
}

/** The relational formulations [[RepBatterySpec]] pins the native kernels against. */
object RepBatterySpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  import graft.llm.Text._

  /** The pre-r20 RELATIONAL duplicated-gram coverage leg (explode all
    * positions × n = 5..10 → (doc_id, n, gh) count → coverage-position
    * explode → distinct → join per-position lengths → per-doc sum),
    * retained as the independent formulation RepBatterySpec pins the
    * native [[org.apache.spark.sql.graft.DupGramCoverage]] kernel
    * against: (doc_id, n, covered), rows only where the doc has a
    * duplicated n-gram. */
  def dupGramCoveredRelational(d: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val m = size(t)
    val ns = array((5 to 10).map(lit(_)): _*)
    val gramRows = flatten(transform(ns, n =>
      when(m >= n,
        transform(sequence(lit(0), m - n),
          i => struct(n.as("n"), i.as("pos"),
            hash64(array_join(slice(t, i + 1, n), " ")).as("gh"))))
        .otherwise(array().cast(ArrayType(StructType(Seq(
          StructField("n", IntegerType), StructField("pos", IntegerType),
          StructField("gh", LongType))))))))
    val base = d.select(col("doc_id"), col("text"))
    val grams = base
      .select(col("doc_id"), explode(gramRows).as("g"))
      .select(col("doc_id"), col("g.n").as("n"), col("g.pos").as("pos"),
        col("g.gh").as("gh"))
    val tok = base.select(col("doc_id"),
      posexplode(t).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"), length(col("w")).cast(LongType)
        .as("wlen"))
    grams
      .groupBy(col("doc_id"), col("n"), col("gh"))
      .agg(collect_list(col("pos")).as("ps"))
      .where(size(col("ps")) >= 2)
      .select(col("doc_id"), col("n"),
        explode(flatten(transform(col("ps"),
          p => sequence(p, p + col("n") - 1)))).as("cp"))
      .distinct()
      .join(tok.withColumnRenamed("pos", "cp"), Seq("doc_id", "cp"))
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(col("wlen")).as("covered"))
  }

  /** The pre-r15 RELATIONAL top-gram leg (explode → (doc_id, n, gram)
    * count → rank window), retained as the independent formulation
    * RepBatterySpec pins the native [[org.apache.spark.sql.graft
    * .TopGramStats]] kernel against: (doc_id, n, covered) for n = 2..4,
    * rows only where the doc has ≥ n words. */
  def topGramCoveredRelational(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = tokens(col("text"))
    val m = size(t)
    val ns = array((2 to 4).map(lit(_)): _*)
    val gramRows = flatten(transform(ns, n =>
      when(m >= n,
        transform(sequence(lit(0), m - n),
          i => struct(n.as("n"),
            array_join(slice(t, i + 1, n), " ").as("gram"))))
        .otherwise(array().cast(ArrayType(StructType(Seq(
          StructField("n", IntegerType),
          StructField("gram", StringType))))))))
    val cnt = d.select(col("doc_id"), explode(gramRows).as("g"))
      .select(col("doc_id"), col("g.n").as("n"), col("g.gram").as("gram"))
      .groupBy(col("doc_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("c"))
    val wTop = Window.partitionBy(col("doc_id"), col("n"))
      .orderBy(col("c").desc, col("gram"))
    cnt.withColumn("rn", row_number().over(wTop))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("n"),
        (col("c") * (length(col("gram")) - (col("n") - 1)))
          .cast(LongType).as("covered"))
  }
}
