package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ONE schema-adaptive reader for the `events` table, shared by every batch
  * and streaming consumer (r10 VERDICT #1: five copy-pasted readers all
  * hard-coded the fixture's original TIMESTAMP(NANOS) physical type and
  * broke together when the fixture moved to plain timestamp[us] — the
  * "normExpr lesson" applied to sources: one definition, or they drift).
  *
  * The fixture's `ts` column has shipped both as int64 TIMESTAMP(NANOS)
  * (rounds 1-9) and as native timestamp[us] (round 10+); a production
  * reader takes whatever the files carry. Strategy: read with
  * `spark.sql.legacy.parquet.nanosAsLong` on (nanos columns surface as
  * LongType instead of being rejected), then branch on the ACTUAL ts type:
  *
  *   - `LongType` — nanos epoch → integral `div 1000` → micros (a
  *     double-typed `/` would corrupt 19-digit nano epochs > 2^53);
  *   - `TIMESTAMP_NTZ` — the file's naive micros; session tz is pinned
  *     UTC by every entrypoint (Verify/Bench/Prof/SparkSpec), so casting
  *     to TIMESTAMP preserves the instant and keeps every downstream
  *     window/session/watermark expression and written schema identical
  *     to the nanos path;
  *   - `TIMESTAMP` — already instant-typed, pass through.
  *
  * Anything else fails loudly — the r10 stream readers' silent failure
  * mode (micros int64 read under a pinned nanos schema ⇒ every event in
  * January 1970) was strictly worse than a crash.
  */
object EventsSource {

  /** Normalize `ts` to TimestampType micros whatever the file carried. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) surfaced as raw int64 (nanosAsLong)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other " +
            "(expected int64 nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
    }

  /** Batch events relation with `ts` normalized to TimestampType. */
  def batch(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(s.read.parquet(s"$dir/events.parquet"))
  }

  /** Streaming events relation — `readStream` needs an explicit schema, so
    * it is derived from the file's actual footer (one driver-side metadata
    * read), never hand-pinned. The same [[normalizeTs]] branch then applies
    * on top, so batch and stream cannot disagree about what `ts` means. */
  def stream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(fileStream(s, dir, "events"))
  }

  /** File-source stream over `<dir>/<table>.parquet` (a production
    * deployment streams a directory of such files), its schema read from
    * the file's footer. */
  def fileStream(s: SparkSession, dir: String, table: String): DataFrame =
    s.readStream.schema(s.read.parquet(s"$dir/$table.parquet").schema)
      .option("pathGlobFilter", s"$table.parquet")
      .parquet(dir)
}
