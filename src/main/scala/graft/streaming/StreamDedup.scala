package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ingest deduplication — the exactly-once admission step of a
  * training-data ingest pipeline (at-least-once transports re-deliver;
  * state-backed key dedup restores exactly-once downstream).
  *
  * The operator is `dropDuplicatesWithinWatermark` keyed by the record id:
  * state holds one entry per key seen inside the watermark horizon, so —
  * unlike plain `dropDuplicates`, whose state grows with ALL history —
  * state size at 100 TB is bounded by (arrival rate × watermark delay),
  * the same contract the windowed aggregates already rely on. Re-delivery
  * beyond the watermark horizon is the transport's documented
  * responsibility (idempotent sinks; see WarehouseSink's batchId guard).
  *
  * Verification: [[dedupedStreamed]] reads the events file through TWO
  * unioned file-stream sources — a deliberately duplicated stream, every
  * record delivered exactly twice — dedups on event_id, and appends the
  * survivors. The result must equal the original events relation row for
  * row (the registered entry hashes against that batch oracle), which
  * certifies the dedup removed precisely the injected duplicates: a
  * missed duplicate surfaces as an extra row, an over-aggressive dedup as
  * a missing one. Duplicate copies are bit-identical, so the output row
  * set is deterministic regardless of which copy wins the state race.
  * Cross-micro-batch dedup (duplicates arriving in LATER batches) is
  * pinned by StreamDedupSpec with MemoryStream.
  */
object StreamDedup {

  /** The dedup transform itself, stream-agnostic (unit-testable form):
    * event-time watermark + state-bounded key dedup. */
  def dedupe[T](events: Dataset[T], watermarkDelay: String,
      idCol: String, tsCol: String = "ts"): Dataset[T] =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCol)

  /** Run the duplicated-stream certification once per (session, sf dir)
    * and return the deduped relation (ordered by event_id for the
    * compare harness). */
  def dedupedStreamed(s: SparkSession, dir: String): DataFrame = {
    val out = graft.StateRoot.once(s, "events", dir, "dedup") { out =>
      // shared schema-adaptive source (r10: a hand-pinned nanos schema
      // silently corrupted a micros fixture)
      def source() = EventsSource.stream(s, dir)
      // every record delivered twice: the at-least-once transport,
      // simulated exactly
      val deduped = dedupe(source().union(source()), "1 hour", "event_id")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      graft.StateRoot.drain(deduped, "append", out)(
        (b, _) => b.write.mode("append").parquet(s"$out/result"))
    }
    s.read.parquet(s"$out/result").orderBy(col("event_id"))
  }
}
