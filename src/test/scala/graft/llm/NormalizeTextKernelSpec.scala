package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** Pins the r21 single-pass normalization kernel (`norm_text`, backing
  * [[TextAnalysis.normExpr]]) char-identical to the pre-r21 relational
  * chain `trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]",
  * ""), " +", " "))` ([[NormalizeTextKernelSpecRef.normExprRelational]]) — on the real
  * sf0.001 corpus AND on adversarial fixtures (Unicode case folding with
  * multi-char expansions, multi-byte strip, interleaved punctuation in
  * space runs, control whitespace, empties, nulls). */
class NormalizeTextKernelSpec extends SparkSpec {
  import spark.implicits._

  private def both(d: org.apache.spark.sql.DataFrame) = {
    val kernel = d.select(col("doc_id"),
        TextAnalysis.normExpr(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rel = d.select(col("doc_id"),
        NormalizeTextKernelSpecRef.normExprRelational(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (kernel, rel)
  }

  test("kernel == relational chain on the sf0.001 corpus") {
    val d = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val (kernel, rel) = both(d)
    assert(kernel.nonEmpty)
    assert(kernel == rel)
  }

  test("kernel == relational chain on adversarial fixtures") {
    val d = Seq(
      (1L, "  Hello,   World!  "),
      (2L, "a . b"), // strip happens BEFORE collapse: "a  b" -> "a b"
      (3L, "a.,b"), // punctuation between letters: no space appears
      (4L, "İstanbul DİYARBAKIR"), // İ lowercases to i + combining dot
      (5L, "STRASSE ß Straße"), // ß stays ß (stripped as non-ASCII)
      (6L, "ΣΟΦΟΣ Σ"), // final-sigma folding, then stripped
      (7L, "tab\there\nand\r\nnewline"), // control ws is STRIPPED, not space
      (8L, " \t \n "),
      (9L, ""),
      (10L, "...!!!"),
      (11L, "42 is  the ANSWER  "),
      (12L, "emoji 😀 mid 字 text"), // multi-byte chars drop cleanly
      (13L, "x" * 5000 + "   Y"), // long run, trailing fold
      (14L, "A" + "́" + "e") // combining accent on its own
    ).toDF("doc_id", "text")
    val (kernel, rel) = both(d)
    assert(kernel == rel)
    // spot checks of the intent, not just self-consistency
    assert(kernel(1L) == "hello world")
    assert(kernel(2L) == "a b")
    assert(kernel(3L) == "ab")
    assert(kernel(7L) == "tabhereandnewline")
    assert(kernel(9L) == "")
    assert(kernel(10L) == "")
  }

  test("null text stays null in both forms") {
    val d = Seq((1L, null.asInstanceOf[String]), (2L, "Keep Me"))
      .toDF("doc_id", "text")
    val kernel = d.select(col("doc_id"),
        TextAnalysis.normExpr(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val rel = d.select(col("doc_id"),
        NormalizeTextKernelSpecRef.normExprRelational(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(kernel == rel)
    assert(kernel(1L).isEmpty && kernel(2L).contains("keep me"))
  }

  test("interpreted eval (nullSafeEval) matches codegen and kernel") {
    val in = "  Mixed CASE 42, punct!  and   runs  "
    val expected = NormalizeTextKernelSpecRef.viaRegex(in)
    // direct kernel call (both case-mapping branches agree on ASCII)
    assert(org.apache.spark.sql.graft.NormalizeTextKernel
      .normalize(UTF8String.fromString(in), false).toString == expected)
    assert(org.apache.spark.sql.graft.NormalizeTextKernel
      .normalize(UTF8String.fromString(in), true).toString == expected)
    // interpreted path: Expression.eval on a literal child — never
    // compiled, exercises nullSafeEval (the r20 ADVICE gap: a DF leg
    // also compiles to the same kernel, proving nothing)
    val expr = org.apache.spark.sql.graft.NormalizeText(
      org.apache.spark.sql.catalyst.expressions.Literal(
        UTF8String.fromString(in),
        org.apache.spark.sql.types.StringType))
    assert(expr.eval(null).asInstanceOf[UTF8String].toString == expected)
    assert(org.apache.spark.sql.graft.NormalizeText(
        org.apache.spark.sql.catalyst.expressions.Literal(
          null, org.apache.spark.sql.types.StringType))
      .eval(null) == null)
    // codegen path: DataFrame execution
    val viaDf = Seq(Tuple1(in)).toDF("text")
      .select(TextAnalysis.normExpr(col("text"))).collect().head.getString(0)
    assert(viaDf == expected)
  }
}

/** The references the kernel is pinned against. */
private object NormalizeTextKernelSpecRef {
  /** The pre-r21 relational twin (two regexp_replace passes + trim) —
    * kept as the independent formulation NormalizeTextKernelSpec pins
    * the kernel against (and the form the sql_text_normalize twin's SQL
    * text mirrors). */
  def normExprRelational(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** JVM-regex reference (what the relational chain computes), used for
    * direct string-level assertions without a Spark round-trip. */
  def viaRegex(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9 ]", "").replaceAll(" +", " ").trim
}
