package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream interval join — click→purchase attribution: every purchase
  * pairs with every click by the same user in the preceding
  * [[AttributionWindowMinutes]] (the standard last-touch candidate set).
  * This is the genuinely stateful two-sided join shape (ST5's strongest
  * form): both sides buffer in the state store and the event-time
  * constraint plus both watermarks bound how long.
  *
  * State contract at 100 TB: a row is evictable once the OTHER side's
  * watermark passes its join horizon — clicks live ~(attribution window +
  * watermark delay), purchases ~watermark delay — so state is bounded by
  * (arrival rate × horizon), never all history. Without the time bound in
  * the join condition Spark would (correctly) refuse to plan the
  * stream-stream join with append semantics.
  *
  * Verification: the registered entry runs the REAL streaming query (two
  * file-stream sources over the events file, watermarks, interval
  * condition, append-mode accumulation, AvailableNow drain) and hashes
  * against the batch theta-join oracle — stream-batch equivalence
  * certifies the streaming path. AttributionSpec pins the cross-batch
  * behavior with MemoryStream: a purchase arriving batches after its
  * click still joins (state retention), and the join emits nothing for
  * pairs outside the window.
  */
object Attribution {

  val AttributionWindowMinutes = 60

  /** The join transform, source-agnostic (unit-testable form): expects a
    * clicks side (user_id, click_event_id, click_ts) and a purchases side
    * (user_id, purchase_event_id, purchase_ts, value), both already
    * watermarked when streaming. */
  def join(purchases: DataFrame, clicks: DataFrame): DataFrame =
    purchases.join(clicks, Seq("user_id")).where(
      col("click_ts") >= col("purchase_ts") -
        expr(s"INTERVAL $AttributionWindowMinutes MINUTES") &&
        col("click_ts") <= col("purchase_ts"))

  private def shape(ev: DataFrame): (DataFrame, DataFrame) = (
    ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        col("ts").as("purchase_ts"), col("value")),
    ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_event_id"),
        col("ts").as("click_ts")))

  /** Batch twin (the oracle's relational form). */
  def batch(s: SparkSession, dir: String): DataFrame = {
    val (p, c) = shape(Events.events(s, dir))
    join(p, c)
      .select(col("purchase_event_id"), col("user_id"), col("purchase_ts"),
        col("value"), col("click_event_id"), col("click_ts"))
      .orderBy(col("purchase_event_id"), col("click_event_id"))
  }

  /** Run the streaming attribution once per (session, sf dir) and return
    * the accumulated result (ordered for the compare harness). */
  def streamed(s: SparkSession, dir: String): DataFrame = {
    val out = graft.StateRoot.once(s, "events", dir, "attribution") { out =>
      // shared schema-adaptive source (r10: a hand-pinned nanos schema
      // silently corrupted a micros fixture)
      val (p0, c0) = shape(EventsSource.stream(s, dir))
      val p = p0.withWatermark("purchase_ts", "1 hour")
      val c = c0.withWatermark("click_ts", "1 hour")
      val joined = join(p, c)
        .select(col("purchase_event_id"), col("user_id"),
          col("purchase_ts"), col("value"), col("click_event_id"),
          col("click_ts"))
      graft.StateRoot.drain(joined, "append", out)(
        (b, _) => b.write.mode("append").parquet(s"$out/result"))
    }
    s.read.parquet(s"$out/result")
      .orderBy(col("purchase_event_id"), col("click_event_id"))
  }
}
