package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse MERGE upsert — the SCD TYPE 1 verb the near-real-time DW
  * still lacked between the SCD0 first-write-wins sink
  * ([[graft.etl.WarehouseSink]], S7: `INSERT … ON DUPLICATE KEY UPDATE
  * pk = pk`) and the SCD2 history reconstruction (`scd2_user_state`):
  * a keyed MERGE that UPDATES matched rows and INSERTS unmatched ones
  * in one `foreachBatch`, maintaining a per-user latest-profile
  * dimension over the streamed events log.
  *
  * Semantics per batch (the standard lakehouse MERGE with a recency
  * guard):
  * {{{
  *   MERGE INTO user_dim t USING batch_latest s ON t.user_id = s.user_id
  *   WHEN MATCHED AND (s.ts, s.event_id) >= (t.ts, t.event_id)
  *        THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  * }}}
  * `batch_latest` is each user's most recent event WITHIN the batch
  * (ts desc, event_id desc). The (ts, event_id) guard makes the final
  * table the GLOBAL per-user argmax — identical under ANY file-to-batch
  * assignment, arrival order, or micro-batch replay (at-least-once into
  * foreachBatch): re-merging a batch re-selects the same winners, so
  * the write is idempotent without a transaction log. The oracle
  * re-derives the argmax from the raw events in one window, certifying
  * the cross-batch MERGE fold end to end.
  *
  * Physical form: copy-on-write over the parquet dim — read current,
  * full-outer join on the key against the (distinct-key, broadcast-
  * sized) batch updates, column-wise coalesce under the guard, rewrite
  * (localCheckpoint breaks the read-own-input lineage). Exactly the
  * Delta/Iceberg/Hudi CoW MERGE shape.
  *
  * 100 TB: the MERGE join is keyed on user_id (a full outer cannot
  * broadcast — Spark plans a sort-merge; under bucketing both sides
  * co-partition and the exchange drops); the batch side is one window
  * over the micro-batch;
  * a real deployment swaps the full rewrite for file-level CoW (only
  * files containing matched keys rewrite — the zone-map pruning the
  * graftdocs connector demonstrates) or a merge-on-read log. */
object Scd1MergeStream {

  /** Files the events log is split into (hash-split, so event time is
    * interleaved across files — batch order deliberately disagrees with
    * ts order and the recency guard has to earn its keep). */
  val NFiles = 6

  /** Files admitted per micro-batch — 6 files at 2 per trigger is a
    * genuine 3-batch MERGE chain. */
  val FilesPerTrigger = 2

  /** One MERGE step: the per-user latest of `updates` upserted into
    * `existing` under the (ts, event_id) recency guard. Exposed for the
    * replay-idempotence spec. */
  private[graft] def mergeBatch(existing: DataFrame,
      updates: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val latest = updates
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("user_id"), col("ts").as("s_ts"),
        col("event_type").as("s_type"), col("value").as("s_value"),
        col("event_id").as("s_id"))
    // WHEN MATCHED AND (s.ts, s.event_id) >= (t.ts, t.event_id): strict
    // ts win, or same ts with event_id tiebreak — total order, so the
    // fold is batching-invariant
    val sWins = col("s_ts").isNotNull && (col("last_ts").isNull ||
      col("s_ts") > col("last_ts") ||
      (col("s_ts") === col("last_ts") && col("s_id") >= col("last_event_id")))
    existing.join(latest, Seq("user_id"), "full")
      .select(col("user_id"),
        when(sWins, col("s_ts")).otherwise(col("last_ts")).as("last_ts"),
        when(sWins, col("s_type")).otherwise(col("last_event_type"))
          .as("last_event_type"),
        when(sWins, col("s_value")).otherwise(col("last_value"))
          .as("last_value"),
        when(sWins, col("s_id")).otherwise(col("last_event_id"))
          .as("last_event_id"))
  }

  /** The merged per-user latest-profile dim after draining the whole
    * events log through the 3-batch MERGE chain. */
  def userDimMerged(s: SparkSession, dir: String): DataFrame = {
    val root = graft.StateRoot.once(s, "scd1", dir) { root =>
      val dimPath = s"$root/user_dim"
      // fixtures: the events log hash-split into NFiles parquet files
      val events = EventsSource.batch(s, dir)
      events.repartition(NFiles)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/log")
      val stream = s.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", FilesPerTrigger.toString)
        .parquet(s"$root/log")
      graft.StateRoot.drain(stream, "append", root) { (b, _) =>
        val spark = b.sparkSession
        val existing =
          if (new java.io.File(dimPath).exists())
            spark.read.parquet(dimPath)
          else
            b.sparkSession.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(
                org.apache.spark.sql.types.StructField("user_id",
                  org.apache.spark.sql.types.LongType) +:
                  mergeSchemaTail(b)))
        // CoW rewrite: materialize the merge BEFORE overwriting the
        // table it read (localCheckpoint breaks the lineage)
        mergeBatch(existing, b).localCheckpoint()
          .write.mode(SaveMode.Overwrite).parquet(dimPath)
      }
    }
    s.read.parquet(s"$root/user_dim").orderBy(col("user_id"))
  }

  private def mergeSchemaTail(b: DataFrame) = {
    import org.apache.spark.sql.types._
    Seq(
      StructField("last_ts", b.schema("ts").dataType),
      StructField("last_event_type", StringType),
      StructField("last_value", DoubleType),
      StructField("last_event_id", LongType))
  }
}
