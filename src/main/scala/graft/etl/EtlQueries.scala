package graft.etl


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.QueryDef
import graft.star.StarSql

/** End-to-end streaming-ETL correctness entries: run the full pipeline
  * (fixtures → readStream CSV → enrichment joins → foreachBatch warehouse
  * load) once per scale factor, then dump the resulting warehouse tables.
  * The DuckDB oracle reconstructs each table independently from the raw
  * parquet — so a hash match certifies the whole chain: CSV round-trip, P3
  * bracket parse, P4 date parse, J1/J2 join semantics, S7 first-write-wins,
  * S8 time derivation, S9/ST8 append — across multiple micro-batches.
  */
object EtlQueries {

  /** Rows ingested and wall-clock of the last pipeline run (read by the
    * bench to report ingest throughput as a separate load-phase metric). */
  @volatile var lastLoadSeconds: Double = -1.0
  @volatile var lastLoadRows: Long = -1L

  /** Run the pipeline once per (session, sf); the warehouse lands under
    * target/ and is rebuilt from scratch on re-runs (fresh checkpoint ⇒
    * batch ids restart at 0, and the fixtures are rewritten first). */
  def warehouseDir(spark: SparkSession, sfDir: String): String =
    graft.StateRoot.once(spark, "etl", sfDir) { root =>
      val fx = s"$root/fixtures"
      EtlFixtures.write(spark, sfDir, fx, nFiles = 8)
      val t0 = System.nanoTime()
      Pipeline.run(spark,
        txnCsvDir = s"$fx/transactions",
        customerCsv = s"$fx/customer_master",
        productCsv = s"$fx/product_master",
        whDir = s"$root/wh",
        maxFilesPerTrigger = 3)
      lastLoadSeconds = (System.nanoTime() - t0) / 1e9
      lastLoadRows = spark.read.parquet(s"$root/wh/salefact").count()
    } + "/wh"

  /** Bench hook: run the ingest again and keep the BEST (min) load time.
    * The one-shot load is timed during bench bring-up with no min-of-N
    * protection, so a single host-contention burst poisons the throughput
    * metric for the whole round (BENCH r6 warm-up measured 24.5k rows/s
    * under a concurrent test run vs 60.7k quiet). Correctness is unaffected:
    * the pipeline is idempotent per (session, sf) and rewrites the same
    * warehouse. */
  def rerunLoad(spark: SparkSession, sfDir: String): Unit = synchronized {
    val prevSec = lastLoadSeconds
    val prevRows = lastLoadRows
    graft.StateRoot.forget(spark, "etl", sfDir)
    warehouseDir(spark, sfDir)
    if (prevSec > 0 && prevSec < lastLoadSeconds) {
      lastLoadSeconds = prevSec
      lastLoadRows = prevRows
    }
  }

  private def table(s: SparkSession, sfDir: String, name: String): DataFrame =
    s.read.parquet(s"${warehouseDir(s, sfDir)}/$name")

  val all: Seq[QueryDef] = Seq(

    // Customers that appear in ≥1 stream transaction (J1 inner ⇒ dim rows
    // exist exactly for enriched keys), attributes round-tripped through
    // the bracket encoding (P3).
    QueryDef("etl_dim_customer",
      (s, dir) => table(s, dir, "customer_dim").orderBy(col("customer_id")),
      Some(StarSql.withStar("""
        SELECT c.* FROM customer_dim c
        WHERE c.customer_id IN (
          SELECT DISTINCT o_custkey FROM orders
          JOIN lineitem ON l_orderkey = o_orderkey)
        ORDER BY c.customer_id"""))),

    QueryDef("etl_dim_product",
      (s, dir) => table(s, dir, "product_dim")
        .withColumn("price", col("price").cast(DoubleType))
        .orderBy(col("product_id")),
      Some(StarSql.withStar("""
        SELECT product_id, product_category, CAST(price AS DOUBLE) AS price,
               store_id, store_name, supplier_id, supplier_name
        FROM product_dim
        WHERE product_id IN (SELECT DISTINCT printf('P%08d', l_partkey) FROM lineitem)
        ORDER BY product_id"""))),

    // One row per distinct stream date, attributes derived in-batch (S8),
    // date round-tripped through M/d/yyyy text (P4).
    QueryDef("etl_dim_time",
      (s, dir) => table(s, dir, "time_dim").orderBy(col("date_id")),
      Some(StarSql.withStar("SELECT * FROM time_dim ORDER BY date_id"))),

    // The streamed fact: purchase_amount uses the REFERENCE formula
    // round(quantity·price, 2) with the master price (`hybrid_join.py:
    // 451-453`) — deliberately different from the batch star's
    // extendedprice-based measure. batch_id partitioning (ST8) is dropped
    // from the dump; ordering is total (all columns).
    QueryDef("etl_fact_sales",
      (s, dir) => table(s, dir, "salefact")
        .select(col("order_id"), col("customer_id"), col("product_id"),
          col("date_id"), col("quantity"),
          col("purchase_amount").cast(DoubleType).as("purchase_amount"))
        .orderBy(col("order_id"), col("customer_id"), col("product_id"),
          col("date_id"), col("quantity"), col("purchase_amount")),
      Some(StarSql.withStar("""
        SELECT l_orderkey AS order_id, o_custkey AS customer_id,
               printf('P%08d', l_partkey) AS product_id,
               CAST(year(CAST(l_shipdate AS DATE))*10000
                  + month(CAST(l_shipdate AS DATE))*100
                  + day(CAST(l_shipdate AS DATE)) AS BIGINT) AS date_id,
               CAST(l_quantity AS INT) AS quantity,
               CAST(round(CAST(l_quantity AS INT) * p.price, 2) AS DOUBLE)
                 AS purchase_amount
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN product_dim p ON p.product_id = printf('P%08d', l_partkey)
        ORDER BY order_id, customer_id, product_id, date_id, quantity,
                 purchase_amount"""))),

    // SCD TYPE 1 MERGE (r16): the keyed update+insert upsert verb
    // between S7's SCD0 first-write-wins and the scd2_user_state
    // reconstruction — a per-user latest-profile dim maintained by a
    // copy-on-write MERGE in foreachBatch over a 3-micro-batch drain of
    // the hash-split events log. The (ts, event_id) recency guard makes
    // the fold batching-invariant and replay-idempotent
    // (Scd1MergeSpec), so the oracle is the plain global per-user
    // argmax over the raw events.
    QueryDef("etl_dim_scd1_merge",
      (s, dir) => graft.streaming.Scd1MergeStream.userDimMerged(s, dir),
      Some("""
        SELECT user_id, ts AS last_ts, event_type AS last_event_type,
               value AS last_value, event_id AS last_event_id
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events)
        WHERE rn = 1 ORDER BY user_id"""))
  )
}
