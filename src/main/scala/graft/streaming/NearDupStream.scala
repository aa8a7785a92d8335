package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Text}

/** STREAMING near-dup detection — the MinHash-LSH banding stage run on a
  * live document stream. The corpus-scale work of near-dup dedup (shingle
  * → 64-perm signature → 16 band keys) is purely per-row, so it pipelines
  * inside the stream's stateless projection; the only stateful piece is
  * the BUCKET CENSUS — per (band, bkey): how many docs landed there and
  * the min/max doc_id — which is exactly the keyed streaming aggregation
  * Structured Streaming is built for. An ingest deployment consults that
  * census to route new docs: an occupied bucket means a near-dup CANDIDATE
  * that must pass exact verification before admission (the batch
  * [[Dedup.minhashLsh]] verification tier — candidates-only, so the
  * expensive path is off the hot ingest loop).
  *
  * Verification (the streamed-twin discipline of
  * [[Events.sessionWindowStreamed]]): the same documents file streamed
  * through a file source, banded with the SHARED [[Dedup.bandsFromSets]]
  * definition, aggregated in complete mode and drained with
  * `Trigger.AvailableNow` — after the drain the census table equals the
  * batch banding aggregation outright, and the registered entry
  * hash-matches a DuckDB oracle that recomputes the full 64-permutation
  * signature arithmetic in SQL. Count/min/max are order-insensitive, so
  * the census is deterministic under any micro-batch split; the spec pins
  * the cross-batch case with MemoryStream.
  *
  * 100 TB: per-row banding scales embarrassingly; census state is one slim
  * row per OCCUPIED bucket (bounded by distinct-bucket count, which
  * concentrates near true near-dup groups — hot boilerplate buckets
  * update one counter, they do not grow state). Complete-mode re-emission
  * is the local-test drain harness; a continuous deployment runs the same
  * aggregation in update mode against a keyed sink, where only touched
  * buckets flow per trigger. */
object NearDupStream {

  /** Bucket census over any (doc_id, band, bkey) relation: one row per
    * occupied bucket. Streaming-legal (a single keyed aggregation) and
    * batch-legal from the same definition. */
  private[graft] def censusOf(bands: DataFrame): DataFrame =
    // band LongType at the edge: posexplode emits int32, the oracle's
    // `i // 4` is int64 — pin the dump's physical type to the oracle's
    bands.groupBy(col("band").cast("long").as("band"), col("bkey"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))

  /** Stream-safe shingle sets from a (doc_id, text) relation: per-row,
    * uncached (the batch [[Dedup.shingleSets]] persist is illegal on a
    * stream), same <3-token exclusion as the batch/oracle construction. */
  private[graft] def streamSets(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      Text.shingles(col("text"), Dedup.ShingleK).as("sset"))
      .where(size(col("sset")) >= 1)

  /** The drained streaming census, filtered to COLLISION buckets (≥ 2
    * docs — the near-dup candidate frontier) for the compare harness. */
  def minhashCensusStreamed(s: SparkSession, dir: String): DataFrame = {
    val out = graft.StateRoot.once(s, "events", dir, "minhash_census") { out =>
      val docStream = EventsSource.fileStream(s, dir, "documents")
      graft.StateRoot.drain(
        censusOf(Dedup.bandsFromSets(streamSets(docStream))), "complete", out)(
        (b, _) => b.write.mode("overwrite").parquet(s"$out/result"))
    }
    s.read.parquet(s"$out/result")
      .where(col("n_docs") >= 2)
      .orderBy(col("band"), col("bkey"))
  }
}
