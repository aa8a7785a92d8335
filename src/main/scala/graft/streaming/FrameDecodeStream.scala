package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Multimodal

/** STREAMED video-frame decode — the ingest shape of
  * [[Multimodal.frameSamples]] (r16, the [[AudioDecodeStream]]
  * discipline applied to the motion-PPM tier): containers arrive on a
  * file stream and each micro-batch runs the SAME per-partition
  * frame-walk ([[Multimodal.MppmDecoder]] via the shared
  * [[Multimodal.frameRowsOf]] core — content-sniffed magic, strict
  * exact consumption, stub fallback). The decode is stateless per row
  * (a container's frames never depend on another container), so the
  * drained append-mode output must equal the batch relation row for
  * row — certified by sharing the batch oracle VERBATIM.
  * FrameStreamSpec pins the cross-batch MemoryStream case.
  *
  * 100 TB: a video-ingest fleet is exactly this — per-row codec work
  * fused onto arrival, the frame explode inheriting scan partitioning,
  * no shuffle, no state; maxFilesPerTrigger is the backpressure knob. */
object FrameDecodeStream {

  def frameSamplesStreamed(s: SparkSession, dir: String): DataFrame = {
    val out = graft.StateRoot.once(s, "events", dir, "frame_decode") { out =>
      val decoded = Multimodal.frameRowsOf(
        Multimodal.videoBlobsOf(EventsSource.fileStream(s, dir, "documents")))
      // stateless decode: pure per-row append
      graft.StateRoot.drain(decoded.toDF(), "append", out)(
        (b, _) => b.write.mode("append").parquet(s"$out/result"))
    }
    s.read.parquet(s"$out/result")
      .orderBy(col("media_id"), col("frame_idx"))
  }
}
