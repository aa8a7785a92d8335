package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Multimodal
import graft.llm.Multimodal.{AudioFeatures, MediaBlob}

/** STREAMED multimodal decode — the ingest shape of
  * [[Multimodal.audioFeatures]] (r15): media containers arrive on a
  * file stream and each micro-batch runs the SAME per-partition
  * RIFF/WAVE decoder ([[Multimodal.WavDecoder]], content-sniffed magic,
  * stub fallback) — the decode stage is stateless per row, so the
  * drained append-mode output must equal the batch relation row for
  * row, which is exactly what sharing the batch oracle VERBATIM
  * certifies (decode under ANY micro-batch split == batch decode).
  * AudioStreamSpec pins the cross-batch MemoryStream case.
  *
  * 100 TB: a decode fleet is precisely this — stateless per-row codec
  * work fused onto arrival, no shuffle, no state; admission control
  * (maxFilesPerTrigger) is the backpressure knob; a continuous
  * deployment appends features to a keyed sink as containers land. */
object AudioDecodeStream {

  def audioFeaturesStreamed(s: SparkSession, dir: String): DataFrame = {
    val out = graft.StateRoot.once(s, "events", dir, "audio_decode") { out =>
      import s.implicits._
      val isWav = col("doc_id") % 4 === 1
      val docStream = EventsSource.fileStream(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("blob"),
          when(isWav, lit("audio/wav")).otherwise(col("source"))
            .as("kind"))
        .as[MediaBlob]
        .map(b => if (b.kind == "audio/wav")
          b.copy(blob = Multimodal.wavContainer(b.blob)) else b)
      // stateless decode: pure per-row append
      graft.StateRoot.drain(decodedOf(docStream).toDF(), "append", out)(
        (b, _) => b.write.mode("append").parquet(s"$out/result"))
    }
    s.read.parquet(s"$out/result").orderBy(col("media_id"))
  }

  /** The streaming-legal core: stateless partition-wise decode, batch-
    * and stream-legal from one definition (the spec drives it with
    * MemoryStream for the cross-batch case). */
  private[graft] def decodedOf(
      blobs: Dataset[MediaBlob]): Dataset[AudioFeatures] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.map(b =>
      Multimodal.WavDecoder.decode(b.media_id, b.blob).getOrElse(
        Multimodal.audioStub(b))))
  }
}
