package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.llm.{Corpus, Dedup, Text}

/** STREAMED benchmark decontamination — the deployment shape of
  * [[Corpus.decontaminate]] (r15): the benchmark gram set and its Bloom
  * prefilter are built OFFLINE from the committed corpus (shared with
  * the batch X23/X50 entries — one definition of "benchmark grams"),
  * and ARRIVING documents are screened ONLINE at ingest: per-row
  * shingling (stateless), the codegen'd `bloom_might_contain` probe
  * discarding almost every clean gram before the exact-confirm
  * stream-static broadcast join (no false negatives + exact confirm =
  * byte-identical to the batch semantics), then ONE doc_id-keyed
  * aggregation folding gram totals and hit counts together. Shares
  * [[Corpus.decontaminate]]'s oracle VERBATIM — the hash match
  * certifies offline-build == online-screen under any micro-batch
  * split. DecontaminateStreamSpec pins the cross-batch MemoryStream
  * case (a doc's grams never straddle batches — per-row shingling — but
  * bucket state accumulates across arriving docs).
  *
  * 100 TB: the ingest path is shuffle-free before the doc-keyed fold —
  * shingling and the bloom probe fuse into the arrival scan, the
  * benchmark grams broadcast; state is one slim (doc_id, n_grams,
  * hits) row per in-flight doc. Complete-mode re-emission is the drain
  * harness; a continuous deployment runs update mode with an ingest
  * watermark and routes `contaminated = true` rows to quarantine. */
object DecontaminateStream {

  def decontaminateStreamed(s: SparkSession, dir: String): DataFrame = {
    // OFFLINE: benchmark gram set + bloom filter from the committed
    // corpus (the shared batch definitions)
    val benchGrams = Corpus.benchmarkGrams(s, dir)
    val bloomBytes = Corpus.benchmarkBloom(s, dir)
    val out = graft.StateRoot.once(s, "events", dir, "decontam") { out =>
      val agged = aggedOf(EventsSource.fileStream(s, dir, "documents"),
        benchGrams, bloomBytes)
      graft.StateRoot.drain(agged, "complete", out)(
        (b, _) => b.write.mode("overwrite").parquet(s"$out/result"))
    }
    s.read.parquet(s"$out/result")
      .select(col("doc_id"), col("n_grams"),
        col("hits").as("n_contaminated_grams"),
        (col("hits") > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** The streaming-legal core: per-row shingling → bloom-guarded exact
    * confirm against the broadcast benchmark grams → ONE doc-keyed
    * aggregation carrying totals and hits together (so zero-hit docs
    * stay in scope without a second relation). Batch-legal from the
    * same definition — the spec drives it with MemoryStream. */
  private[graft] def aggedOf(docStream: DataFrame, benchGrams: DataFrame,
      bloomBytes: Array[Byte]): DataFrame = {
    val might = org.apache.spark.sql.graft.functions
      .bloom_might_contain(lit(bloomBytes), Text.hash64(col("sh")))
    docStream
      .where(col("doc_id") % Corpus.BenchmarkMod =!= 0)
      .select(col("doc_id"),
        explode(Text.shingles(col("text"), Dedup.ShingleK)).as("sh"))
      // the bloom probe gates the join key: clean grams join on NULL and
      // miss the broadcast probe entirely (the prefilter), while totals
      // still count every gram
      .withColumn("probe", when(might, col("sh")))
      .join(broadcast(benchGrams.select(col("sh").as("bg"))),
        col("probe") === col("bg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_grams"),
        count(col("bg")).cast(LongType).as("hits"))
  }
}
