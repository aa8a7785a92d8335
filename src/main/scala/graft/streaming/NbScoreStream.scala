package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Text, TextAnalysis}

/** STREAMED Naive-Bayes quality scoring — the deployment shape of
  * [[TextAnalysis.nbQualityClassifier]]: the model trains OFFLINE on the
  * committed corpus (the same token index + weak labels as the batch
  * entry, via the shared [[TextAnalysis.nbModelFrom]]), and arriving
  * documents are scored ONLINE: each doc explodes into token occurrences
  * (stateless), joins the static vocabulary-sized model (stream-static
  * broadcast join — the hot-path lookup an ingest filter runs), and ONE
  * doc_id-keyed aggregation folds the exact-decimal weight contributions.
  * The occurrence-level decimal fold equals the batch tf-level decimal
  * product bit-for-bit (Σ over tf copies of w ≡ tf·w in exact decimal),
  * so the entry shares the batch oracle VERBATIM and the hash match
  * certifies offline-train == online-apply under any micro-batch split.
  *
  * 100 TB: per-row tokenization pipelines; the model is a broadcast (no
  * shuffle on the ingest path before the doc-keyed fold); state is one
  * slim (doc_id, n_tokens, sdec) row per in-flight doc. Complete-mode
  * re-emission is the local drain harness; a continuous deployment runs
  * update mode with a watermark on the ingest timestamp. */
object NbScoreStream {

  def nbScoreStreamed(s: SparkSession, dir: String): DataFrame = {
    // OFFLINE: train on the committed corpus via the shared definition
    val labels = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        TextAnalysis.nbLabel(col("source")).as("is_target"))
    val tfl = TextAnalysis.termFreqs(s, dir).join(labels, "doc_id")
    val (w, pri) = TextAnalysis.nbModelFrom(tfl, labels)
    val out = graft.StateRoot.once(s, "events", dir, "nb_score") { out =>
      graft.StateRoot.drain(
        aggedOf(EventsSource.fileStream(s, dir, "documents"), w), "complete", out)(
        (b, _) => b.write.mode("overwrite").parquet(s"$out/result"))
    }
    TextAnalysis.nbFinish(s.read.parquet(s"$out/result"), pri)
  }

  /** The streaming-legal core: stateless explode → stream-static model
    * join → ONE keyed aggregation. Batch-legal from the same definition
    * (the spec drives it with MemoryStream for the cross-batch case). */
  private[graft] def aggedOf(docStream: DataFrame, w: DataFrame): DataFrame =
    docStream
      .select(col("doc_id"),
        TextAnalysis.nbLabel(col("source")).as("is_target"),
        explode(Text.tokens(col("text"))).as("token"))
      .join(broadcast(w), "token")
      .groupBy(col("doc_id"), col("is_target"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(TextAnalysis.nbWDec).as("sdec"))
}
