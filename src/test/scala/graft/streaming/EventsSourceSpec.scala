package graft.streaming

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Pins the events-source fixture contract (r10 regression: the driver's
  * testdata switched `ts` from int64 TIMESTAMP(NANOS) to plain
  * timestamp[us] and five hand-pinned readers broke — 12 entries erroring,
  * 6 silently corrupted to January 1970). [[EventsSource]] must read BOTH
  * physical encodings identically, batch and stream alike.
  */
class EventsSourceSpec extends SparkSpec {
  import spark.implicits._

  // one instant, three physical encodings
  private val wall = Seq(
    (1L, "2024-03-01T10:15:30", 7L, "click", 1.5, "{}"),
    (2L, "2024-03-01T11:00:00", 8L, "view", 2.5, "{}"))

  private def micros(sIso: String): Long = {
    val ldt = LocalDateTime.parse(sIso)
    ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
      ldt.getNano / 1000L
  }

  /** Write an events.parquet under a fresh dir with the given ts writer. */
  private def fixture(sub: String)(build: => org.apache.spark.sql.DataFrame)
      : String = {
    val dir = Files.createTempDirectory(s"graft-events-src-$sub").toString
    val p = new org.apache.hadoop.fs.Path(dir)
    // a single file named events.parquet, like the fixture layout
    build.coalesce(1).write.mode("overwrite").parquet(s"$dir/tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/tmp"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/tmp"), true)
    dir
  }

  private lazy val base = wall.toDF(
    "event_id", "iso", "user_id", "event_type", "value", "props")

  /** int64 ts — what a TIMESTAMP(NANOS) file looks like under nanosAsLong. */
  private lazy val nanosDir = fixture("nanos")(
    base.withColumn("ts",
        (unix_micros(to_timestamp(col("iso"))) * 1000L).cast(LongType))
      .select("event_id", "ts", "user_id", "event_type", "value", "props"))

  /** native timestamp[us] without tz (TIMESTAMP_NTZ) — the r10+ fixture. */
  private lazy val ntzDir = fixture("ntz")(
    base.withColumn("ts", to_timestamp_ntz(col("iso")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props"))

  /** instant-typed timestamp (isAdjustedToUTC) — the third legal shape. */
  private lazy val tsDir = fixture("instant")(
    base.withColumn("ts", to_timestamp(col("iso")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props"))

  private def batchRows(dir: String): Seq[(Long, Long)] =
    EventsSource.batch(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq

  test("batch: nanos, ntz, and instant fixtures read to identical instants") {
    val expected = wall.map { case (id, iso, _, _, _, _) => (id, micros(iso)) }
    for (dir <- Seq(nanosDir, ntzDir, tsDir)) {
      val df = EventsSource.batch(spark, dir)
      assert(df.schema("ts").dataType === TimestampType, s"dir=$dir")
      assert(batchRows(dir) === expected, s"dir=$dir")
    }
  }

  test("stream: both fixture encodings drain to the batch rows") {
    for ((dir, tag) <- Seq((nanosDir, "nanos"), (ntzDir, "ntz"),
        (tsDir, "instant"))) {
      val src = EventsSource.stream(spark, dir)
      assert(src.isStreaming)
      assert(src.schema("ts").dataType === TimestampType, s"dir=$dir")
      val name = s"events_src_$tag"
      val q = src.select(col("event_id"), unix_micros(col("ts")).as("us"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.table(name).as[(Long, Long)].collect().sortBy(_._1).toSeq
      val expected = wall.map { case (id, iso, _, _, _, _) => (id, micros(iso)) }
      assert(got === expected, s"dir=$dir")
    }
  }
}
