package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.llm.{Dedup, Text}

/** Pins [[ContainmentStream]]: the per-arrival brute probe, folded
  * across micro-batches, equals the batch prefix-filtered detector row
  * for row on a planted fixture — certifying both the stream-batch
  * equivalence and (from a second direction) the batch pruning's
  * losslessness. */
class ContainmentStreamSpec extends SparkSpec {
  import spark.implicits._

  private def words(lo: Int, hi: Int): String =
    (lo until hi).map(i => s"w$i").mkString(" ")

  // the ContainmentSpec geometry: article, its excerpt, twins, unrelated
  private val docs = Seq(
    (1L, words(0, 100)),
    (2L, words(40, 52)),
    (3L, words(200, 240)),
    (4L, words(200, 239) + " zz"),
    (5L, words(500, 540)))

  private lazy val sets = docs.toDF("doc_id", "text")
    .select(col("doc_id"),
      Text.shingles(col("text"), Dedup.ShingleK).as("sset"))
    .where(size(col("sset")) >= 1)
    .withColumn("n", size(col("sset")))

  test("cross-batch streamed screen equals the batch detector") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDS().toDF("doc_id", "text")
    val q = ContainmentStream.aggedOf(stream, sets).writeStream
      .format("memory").queryName("cts")
      .outputMode(OutputMode.Complete())
      .start()
    mem.addData(docs(0), docs(1))
    q.processAllAvailable()
    mem.addData(docs(2), docs(3), docs(4))
    q.processAllAvailable()
    val streamed = spark.table("cts")
      .orderBy("doc_a", "doc_b").collect().map(_.toSeq).toSeq
    q.stop()

    val batch = Dedup.containmentOf(sets, 4, None)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // the excerpt pair arrived in batch 1 and survived the batch-2 fold
    val keys = streamed.map(r => (r(0), r(1))).toSet
    assert(keys.contains((2L, 1L)))
    assert(!keys.contains((1L, 2L)))
  }
}
