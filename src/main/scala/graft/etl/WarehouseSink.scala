package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.etl.Transforms._

/** The warehouse-load half of the reference engine
  * (`hybrid_join.py:361-471`) as a `foreachBatch` sink over a parquet
  * warehouse directory:
  *
  *  - S7 dim upsert, SCD type 0 / first-write-wins (`INSERT … ON DUPLICATE
  *    KEY UPDATE pk = pk`, `hybrid_join.py:364-378`): new-keys-only
  *    anti-join append — existing dimension rows are never updated.
  *  - S8 time_dim lookup-or-insert (`hybrid_join.py:381-389,421-449`): new
  *    distinct dates are derived and appended; `date_id` is the
  *    deterministic yyyyMMdd surrogate instead of the reference's
  *    load-order auto_increment (order-independent ⇒ replay-safe; queries
  *    only ever use date_id as a join key, SURVEY §7.4.5).
  *  - S9 fact load (`hybrid_join.py:392-396,455-465`): fact rows land in
  *    a `salefact/batch_id=<n>` partition.
  *
  * Write protocol of one micro-batch:
  *
  *  1. The three dimension appends (one file per table per batch) and the
  *     fact write run at the same time ([[graft.Overlap]]). The fact goes
  *     to a staging directory, `_staging/<n>/salefact`, that no reader
  *     lists.
  *  1. Only once all four writes have committed is the staged fact renamed
  *     to `salefact/batch_id=<n>`, replacing any partition of that name.
  *     The empty `_staging/<n>` is then removed.
  *
  * Invariant: any fact partition a reader can list already has its
  * dimension rows in place. The sink sets no session conf.
  *
  * S10/ST8 delivery semantics (Structured Streaming is at-least-once into
  * `foreachBatch`): if any write fails or the process dies before the
  * rename, no fact row of the batch is visible; the dims may hold some of
  * its rows, which readers only reach through facts. A leftover `_staging`
  * directory is invisible to readers and is overwritten when the batch
  * replays. The replay appends only dimension keys still missing (the
  * anti-join sees the partial appends and skips them) and publishes the
  * identical fact partition, so every table ends as after one clean load.
  * This replaces the reference's per-batch MySQL commit/rollback
  * (`hybrid_join.py:448,465-471`).
  *
  * 100 TB notes: dims are anti-joined against only the dim table (small);
  * the fact load is a columnar write with no shuffle and a metadata-only
  * rename. At cluster scale the same layout works with the fact
  * additionally bucketed/sorted inside each batch partition and
  * periodically compacted.
  */
object WarehouseSink {

  private def fs(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def existingOrEmpty(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val p = new Path(path)
    if (fs(spark, p).exists(p)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** First-write-wins append of the batch's rows whose `key` the table at
    * `path` does not hold yet. */
  private def appendNew(batch: DataFrame, key: String, path: String): Unit =
    batch.join(existingOrEmpty(batch.sparkSession, path, batch.schema).select(key),
        Seq(key), "left_anti")
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(path)

  /** S7: the customer dim rows of enriched rows, first-write-wins. */
  private def customers(e: DataFrame): DataFrame =
    e.select(
      col("Customer_ID").as("customer_id"),
      col("gender"), col("age"), col("occupation"), col("city_category"),
      col("stay_in_current_city_years"), col("marital_status"))
      .dropDuplicates("customer_id")

  /** S7: the product dim rows, first-write-wins (only product-matched rows
    * carry dim attributes — J2 is left-outer). */
  private def products(e: DataFrame): DataFrame =
    e.where(col("price").isNotNull).select(
      col("Product_ID").as("product_id"),
      col("product_category"), col("price"), col("store_id"),
      col("store_name"), col("supplier_id"), col("supplier_name"))
      .dropDuplicates("product_id")

  /** S8: the time dim rows of the distinct dates. */
  private def times(e: DataFrame): DataFrame =
    e.select(parseDate(col("date")).as("d")).distinct()
      .select(timeDimRow(col("d")): _*)

  /** S9: the fact rows. P5: purchase_amount = round(quantity·price, 2)
    * (`hybrid_join.py:451-453`); rows without a product match cannot form
    * a fact row (observable-inner, SURVEY §2.3 J2). batch_id is the
    * partition directory's name, not a column. */
  private def facts(e: DataFrame): DataFrame =
    e.where(col("price").isNotNull).select(
      col("orderID").as("order_id"),
      col("Customer_ID").as("customer_id"),
      col("Product_ID").as("product_id"),
      graft.star.Star.dateId(parseDate(col("date"))).as("date_id"),
      col("quantity"),
      round(col("quantity") * col("price"), 2).as("purchase_amount"))

  /** Give each of the four tables that does not exist yet a zero-row
    * parquet file, `_common_metadata`, carrying its schema. A reader
    * before the first commit then sees the empty snapshot (prefix 0)
    * instead of a missing path. Spark reads no rows from a file whose name
    * starts with `_`, a later `batch_id=<n>` directory still partitions
    * salefact, and a `*.parquet` glob never matches it. The schemas are
    * the load's own projections of an empty frame of `enriched`'s schema;
    * only the footer is written, so no Spark job runs. Each table appears
    * at once, by one rename of a staged directory. */
  def createEmpty(enriched: DataFrame, whDir: String): Unit = {
    val spark = enriched.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], enriched.schema)
    Seq("customer_dim" -> customers _, "product_dim" -> products _,
        "time_dim" -> times _, "salefact" -> facts _).foreach { case (name, rows) =>
      val target = new Path(s"$whDir/$name")
      val wh = fs(spark, target)
      if (!wh.exists(target)) {
        val schema = rows(empty).schema
        val staged = new Path(s"$whDir/_staging/empty/$name")
        val w = new ParquetFileWriter(conf, new SparkToParquetSchemaConverter(SQLConf.get).convert(schema),
          new Path(staged, "_common_metadata"), ParquetFileWriter.Mode.OVERWRITE)
        w.start()
        // the key Spark's own writer stores its schema under
        w.end(java.util.Map.of("org.apache.spark.sql.parquet.row.metadata", schema.json))
        if (!wh.rename(staged, target))
          throw new java.io.IOException(s"could not rename $staged to $target")
      }
    }
    fs(spark, new Path(whDir)).delete(new Path(s"$whDir/_staging/empty"), true)
  }

  /** Load one enriched micro-batch into the warehouse at `whDir`. */
  def load(enriched: DataFrame, batchId: Long, whDir: String): Unit = {
    val spark = enriched.sparkSession
    val staged = s"$whDir/_staging/$batchId/salefact"
    enriched.persist()
    try {
      // the fact goes to staging; publish renames it into place
      graft.Overlap.all(spark)(
        () => appendNew(customers(enriched), "customer_id", s"$whDir/customer_dim"),
        () => appendNew(products(enriched), "product_id", s"$whDir/product_dim"),
        () => appendNew(times(enriched), "date_id", s"$whDir/time_dim"),
        () => facts(enriched).write.mode(SaveMode.Overwrite).parquet(staged))
    } finally enriched.unpersist()
    publish(spark, new Path(staged), new Path(s"$whDir/salefact/batch_id=$batchId"))
  }

  /** Make the staged fact partition visible: replace `target` by `staged`
    * with one rename, then drop the staging directory of the batch. */
  private def publish(spark: SparkSession, staged: Path, target: Path): Unit = {
    val wh = fs(spark, target)
    wh.delete(target, true)
    wh.mkdirs(target.getParent)
    if (!wh.rename(staged, target))
      throw new java.io.IOException(s"could not rename $staged to $target")
    wh.delete(staged.getParent, true)
  }
}
