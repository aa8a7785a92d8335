package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
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
  *    KEY UPDATE pk = pk`, `hybrid_join.py:364-378`): a dim row is appended
  *    only for a key the dim does not hold yet; existing rows are never
  *    updated.
  *  - S8 time_dim lookup-or-insert (`hybrid_join.py:381-389,421-449`): new
  *    distinct dates are derived and appended; `date_id` is the
  *    deterministic yyyyMMdd surrogate instead of the reference's
  *    load-order auto_increment (order-independent ⇒ replay-safe; queries
  *    only ever use date_id as a join key, SURVEY §7.4.5).
  *  - S9 fact load (`hybrid_join.py:392-396,455-465`): fact rows land in
  *    a `salefact/batch_id=<n>` partition.
  *
  * [[WarehouseSink.open]] gives the four tables their empty snapshot and
  * returns the sink one streaming query loads through. The sink keeps the
  * set of keys each dim already holds, as the reference's loader keeps its
  * master data in memory (the Structured Streaming paper's keyed state,
  * SIGMOD 2018, in its smallest form):
  *
  *  - The first [[load]] reads the three key columns from the dim files,
  *    so a query restarted in a new process gets the sets back.
  *  - A load that fails drops them; the next load reads them again, since
  *    the failed batch may have appended some dim rows.
  *  - They are added to only after a batch is published. They belong to
  *    the query, not to the path: a warehouse wiped and loaded again gets
  *    a new sink.
  *
  * Write protocol of one micro-batch `n`:
  *
  *  1. The batch is persisted. Its fact rows are written to a staging
  *     directory, `_staging/<n>/salefact`, that no reader lists. The same
  *     job observes the batch's distinct dim keys (`Observation`, no extra
  *     job): customer and date ids of every row, product ids of the rows
  *     with a price. A dim that holds no key yet, as in a new warehouse's
  *     first batch, appends all its rows of the batch beside this write
  *     ([[graft.Overlap]]).
  *  1. Every other dim with keys the sets lack appends the rows of those
  *     keys only, one file per table; these appends run at the same time.
  *     A batch whose keys are all known writes no dim file: 3 Spark jobs
  *     in the pipeline, the two master broadcasts and the fact write.
  *  1. Only once every write has committed is the staged fact renamed to
  *     `salefact/batch_id=<n>`, and the empty `_staging/<n>` removed.
  *
  * Invariant: any fact partition a reader can list already has its
  * dimension rows in place. The sink sets no session conf.
  *
  * S10/ST8 delivery semantics (Structured Streaming is at-least-once into
  * `foreachBatch`): if any write fails or the process dies before the
  * rename, no fact row of the batch is visible; the dims may hold some of
  * its rows, which readers only reach through facts. A leftover `_staging`
  * directory is invisible to readers and is overwritten when the batch
  * replays. The replay reads the key sets from the dim files, so it appends
  * only the keys still missing, and publishes the identical fact
  * partition: every table ends as after one clean load. A replay of a
  * batch whose partition is already published (it holds `_SUCCESS`) only
  * removes a leftover `_staging/<n>` and returns, so a reader never sees a
  * published batch disappear. That rests on two facts: publishing is the
  * last step, and the query's checkpoint lives at `$whDir/_checkpoint`,
  * so a batch id names one input for the warehouse's whole life. This
  * replaces the reference's per-batch MySQL commit/rollback
  * (`hybrid_join.py:448,465-471`).
  *
  * 100 TB notes: the key sets grow with entities, not with facts; at that
  * scale they would become Structured Streaming's keyed state store, or a
  * Bloom pre-filter (`BloomFilterOps`) in front of an exact check. The
  * fact load is a columnar write with no shuffle and a
  * metadata-only rename. At cluster scale the same layout works with the
  * fact additionally bucketed/sorted inside each batch partition and
  * periodically compacted.
  */
final class WarehouseSink private (whDir: String, keySchemas: Seq[StructType]) {
  import WarehouseSink._

  /** The keys each dim holds, in `dims` order; None until a load reads
    * them from the dim files, and again after a failed load. */
  private var known: Option[Seq[Set[Any]]] = None

  /** Load one enriched micro-batch into the warehouse. */
  def load(enriched: DataFrame, batchId: Long): Unit = {
    val spark = enriched.sparkSession
    val staging = new Path(s"$whDir/_staging/$batchId")
    val target = new Path(s"$whDir/salefact/batch_id=$batchId")
    val wh = fs(spark, target)
    if (wh.exists(new Path(target, "_SUCCESS"))) wh.delete(staging, true)
    else {
      val have = known.getOrElse(dims.zip(keySchemas).map { case (d, key) =>
        spark.read.schema(key).parquet(s"$whDir/${d.name}").collect().map(_.get(0)).toSet
      })
      known = None
      val fresh = write(enriched, new Path(staging, "salefact"), have)
      publish(wh, new Path(staging, "salefact"), target)
      known = Some(have.zip(fresh).map { case (h, f) => h ++ f })
    }
  }

  /** Steps 1 and 2: the staged fact write, which observes the batch's
    * keys, and the dim appends. A dim that holds no key yet takes every row
    * of the batch, so its append needs no keys and runs beside the fact
    * write; any other dim appends the rows of its new keys once the fact
    * write has observed them. Returns the new keys. */
  private def write(enriched: DataFrame, staged: Path, have: Seq[Set[Any]]): Seq[Set[Any]] = {
    val spark = enriched.sparkSession
    val keys = Observation()
    val sets = dims.map(d => collect_set(d.batchKey).as(d.key))
    def append(d: Dim, rows: DataFrame): () => Unit =
      () => rows.coalesce(1).write.mode(SaveMode.Append).parquet(s"$whDir/${d.name}")
    enriched.persist()
    try {
      val fact = () => facts(factRows(enriched).observe(keys, sets.head, sets.tail: _*))
        .write.mode(SaveMode.Overwrite).parquet(staged.toString)
      val unfiltered = dims.zip(have).collect { case (d, h) if h.isEmpty => append(d, d.rows(enriched)) }
      graft.Overlap.all(spark)(fact +: unfiltered: _*)
      val seen = keys.get
      val fresh = dims.zip(have).map { case (d, h) =>
        seen(d.key).asInstanceOf[Iterable[Any]].toSet -- h
      }
      val appends = dims.zip(have).zip(fresh).collect { case ((d, h), f) if h.nonEmpty && f.nonEmpty =>
        append(d, d.rows(enriched).where(col(d.key).isin(f.toSeq: _*)))
      }
      if (appends.nonEmpty) graft.Overlap.all(spark)(appends: _*)
      fresh
    } finally enriched.unpersist()
  }
}

object WarehouseSink {

  private def fs(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A dim table: its directory, its key column, the [[factRows]] column
    * its keys come from (null where a row brings none), and its rows. */
  private final class Dim(val name: String, val key: String, val batchKey: Column,
      val rows: DataFrame => DataFrame)

  private val dims = Seq(
    new Dim("customer_dim", "customer_id", col("customer_id"), customers),
    new Dim("product_dim", "product_id",
      when(col("price").isNotNull, col("product_id")), products),
    new Dim("time_dim", "date_id", col("date_id"), times))

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

  /** The fact columns of every enriched row, plus `price`. The batch's dim
    * keys are observed on these narrow rows, where they are plain columns,
    * before [[facts]] drops the rows without a price. P5: purchase_amount =
    * round(quantity·price, 2) (`hybrid_join.py:451-453`). */
  private def factRows(e: DataFrame): DataFrame =
    e.select(
      col("orderID").as("order_id"),
      col("Customer_ID").as("customer_id"),
      col("Product_ID").as("product_id"),
      graft.star.Star.dateId(parseDate(col("date"))).as("date_id"),
      col("quantity"),
      round(col("quantity") * col("price"), 2).as("purchase_amount"),
      col("price"))

  /** S9: the fact rows of [[factRows]]' rows: rows without a product match
    * cannot form a fact row (observable-inner, SURVEY §2.3 J2). batch_id is
    * the partition directory's name, not a column. */
  private def facts(rows: DataFrame): DataFrame =
    rows.where(col("price").isNotNull).drop("price")

  /** Create the tables of the warehouse at `whDir` that do not exist yet
    * (see [[createEmpty]]) and return the sink that loads the micro-batches
    * of frames with `enriched`'s schema into it. Open one sink per query. */
  def open(enriched: DataFrame, whDir: String): WarehouseSink = {
    val spark = enriched.sparkSession
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], enriched.schema)
    createEmpty(empty, whDir)
    new WarehouseSink(whDir, dims.map(d => StructType(Seq(d.rows(empty).schema(d.key)))))
  }

  /** Give each of the four tables that does not exist yet a zero-row
    * parquet file, `_common_metadata`, carrying its schema. A reader
    * before the first commit then sees the empty snapshot (prefix 0)
    * instead of a missing path. Spark reads no rows from a file whose name
    * starts with `_`, a later `batch_id=<n>` directory still partitions
    * salefact, and a `*.parquet` glob never matches it. The schemas are
    * the load's own projections of `empty`, a zero-row frame of the
    * enriched schema; only the footer is written, so no Spark job runs.
    * Each table appears at once, by one rename of a staged directory. */
  private def createEmpty(empty: DataFrame, whDir: String): Unit = {
    val spark = empty.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val schemas = dims.map(d => d.name -> d.rows(empty).schema) :+
      ("salefact" -> facts(factRows(empty)).schema)
    schemas.foreach { case (name, schema) =>
      val target = new Path(s"$whDir/$name")
      val wh = fs(spark, target)
      if (!wh.exists(target)) {
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

  /** Make the staged fact partition visible: move `staged` to `target`
    * with one rename, then drop the staging directory of the batch. */
  private def publish(wh: FileSystem, staged: Path, target: Path): Unit = {
    wh.mkdirs(target.getParent)
    if (!wh.rename(staged, target))
      throw new java.io.IOException(s"could not rename $staged to $target")
    wh.delete(staged.getParent, true)
  }
}
