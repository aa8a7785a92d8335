package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Corpus

/** STREAMED snapshot diff — the CDC form of [[Corpus.snapshotDiff]]: the
  * release compare run as rows ARRIVE instead of as a batch join of two
  * committed snapshots. Every incoming doc row fans out (statelessly)
  * into its derived prev-/cur-version digest rows — the same mod-keyed
  * derivation as the batch entry — and ONE doc_id-keyed aggregation
  * folds whichever versions have arrived into (h_prev, h_cur) state;
  * the added/removed/changed/unchanged CASE reads that state after the
  * drain. Each doc contributes at most one row per version, so the
  * `max(when(...))` fold is exact and order-insensitive — the diff is
  * deterministic under ANY micro-batch split, which is what lets the
  * entry share the batch oracle VERBATIM (the streamed-twin
  * discipline of [[NearDupStream.minhashCensusStreamed]]).
  *
  * 100 TB: per-row digesting pipelines statelessly; state is one slim
  * (doc_id, h_prev, h_cur) row per doc. Complete-mode re-emission is
  * the local drain harness; a continuous CDC deployment runs the same
  * aggregation in update mode against a keyed sink, where only docs
  * touched by a trigger flow, and ages state out with a watermark on
  * the snapshot commit time. */
object SnapshotDiffStream {

  /** Stateless fan-out of one (doc_id, text) row into its derived
    * version-digest rows: (doc_id, which ∈ prev|cur, h). */
  private[graft] def versionsOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(array(
      when(pmod(col("doc_id"), lit(Corpus.DiffAddedMod.toLong))
          =!= Corpus.DiffAddedRes,
        struct(lit("prev").as("which"),
          md5(when(pmod(col("doc_id"), lit(Corpus.DiffChangedMod.toLong)) === 0,
            concat(lit("v0 "), col("text"))).otherwise(col("text"))).as("h"))),
      when(pmod(col("doc_id"), lit(Corpus.DiffRemovedMod.toLong))
          =!= Corpus.DiffRemovedRes,
        struct(lit("cur").as("which"), md5(col("text")).as("h")))
    )).as("v"))
      .where(col("v").isNotNull)
      .select(col("doc_id"), col("v.which").as("which"), col("v.h").as("h"))

  /** The one keyed aggregation (streaming-legal): fold the ≤ 1 prev and
    * ≤ 1 cur digest rows per doc into (doc_id, h_prev, h_cur). */
  private[graft] def digestsOf(versions: DataFrame): DataFrame =
    versions.groupBy(col("doc_id"))
      .agg(
        max(when(col("which") === "prev", col("h"))).as("h_prev"),
        max(when(col("which") === "cur", col("h"))).as("h_cur"))

  /** The drained streamed diff, classified batch-side over the final
    * digest state — equals [[Corpus.snapshotDiff]] outright. */
  def snapshotDiffStreamed(s: SparkSession, dir: String): DataFrame = {
    val out = graft.StateRoot.once(s, "events", dir, "snapshot_diff") { out =>
      val digests = digestsOf(versionsOf(EventsSource.fileStream(s, dir, "documents")))
      graft.StateRoot.drain(digests, "complete", out)(
        (b, _) => b.write.mode("overwrite").parquet(s"$out/result"))
    }
    Corpus.classifyDiff(s.read.parquet(s"$out/result"))
  }
}
