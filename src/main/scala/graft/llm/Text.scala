package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared text primitives for the LLM-data-pipeline operators.
  *
  * Everything here is a composition of codegen'd built-in expressions — no
  * UDFs — and every construct has a bit-exact DuckDB translation so the
  * operators built on top can be oracle-checked (the driver hash-compares
  * results): the 64-bit hash is an md5 prefix (not Spark's murmur3 /
  * DuckDB's internal hash, which would never agree across engines).
  */
object Text {

  /** Deterministic 60-bit positive hash of a string, identical in both
    * engines: first 15 hex chars of md5, read base-16.
    * DuckDB: `CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)`.
    *
    * Served by the fused native kernel
    * [[org.apache.spark.sql.graft.Md5Prefix64]] — bit-identical to the
    * composed `conv(substr(md5(x),1,15),16,10)` form (exhaustively
    * asserted in Md5PrefixExpressionSpec) but allocation-free: no 32-char
    * hex string, 15-char substring, or decimal string per call. Hot path:
    * once per shingle in the near-dup index build, once per row in
    * stratified sampling. */
  def hash64(c: Column): Column =
    org.apache.spark.sql.graft.functions.md5_prefix64(c.cast(StringType))

  /** Whitespace tokenization (the documents table is pre-normalized
    * lowercase words; a production pipeline would lower+strip first). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word k-shingles as a distinct set. Docs shorter than k words get an
    * empty set (guard needed: Spark's `sequence(a,b)` runs DESCENDING when
    * a>b rather than returning empty). */
  def shingles(text: Column, k: Int): Column = {
    val t = tokens(text)
    val n = size(t)
    val idx = sequence(lit(0), n - k) // i .. i+k-1, 0-based
    val mk = transform(idx, i => concat_ws(" ", (0 until k).map(j => element_at(t, (i + j + 1).cast(IntegerType))): _*))
    array_distinct(when(n >= k, mk).otherwise(array().cast(ArrayType(StringType))))
  }
}
