package graft.warehouse


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.star.Star

/** The materialized warehouse: the four star tables built ONCE per scale
  * factor and persisted as catalog tables (reference `starSchema.sql:1-46` —
  * CREATE DATABASE + 4 CREATE TABLEs; D1/D2 in SURVEY §2.11), then read by
  * every query.
  *
  * Round-1 rebuilt the star from raw parquet inside every query — 22×
  * redundant scans and lineitem⋈orders shuffles (VERDICT "What's wrong" #2).
  * This is also the 100 TB design decision, not just a bench fix: a warehouse
  * is *loaded once and queried many times*; recomputing the biggest join in
  * the system per dashboard query is the scale-killer.
  *
  * Physical layout (scale rationale):
  *  - `salefact` is written BUCKETED by `order_id` (32 buckets, sorted within
  *    buckets). Q16's basket self-join and any order-grained aggregation then
  *    co-locate without a shuffle (Spark reads the bucketing metadata and
  *    plans a shuffle-free sort-merge join, one file per bucket). At cluster
  *    scale the bucket count scales with data volume; the principle —
  *    pre-partition the fact on its dominant join key at load time — is
  *    exactly what a 1000-executor layout needs.
  *  - Dimensions are small catalog tables; every fact⋈dim join broadcasts
  *    the dim side (queries add an explicit `broadcast()` hint so plans are
  *    stable regardless of autoBroadcastJoinThreshold).
  *  - Tables are EXTERNAL (explicit `path`) under
  *    `StateRoot.path("warehouse", sfDir)` (or `$SPARK_GRAFT_WAREHOUSE/<tag>`),
  *    so the data location does not depend on the caller session's
  *    `spark.sql.warehouse.dir`.
  */
object Warehouse {

  val database = "graft"

  /** Buckets for the fact table. Locally matches the 32-thread layout; on a
    * real cluster this would be sized ~1 bucket per 128 MB of fact data. */
  val factBuckets = 32

  final case class StarTables(
      fact: DataFrame,
      product: DataFrame,
      customer: DataFrame,
      time: DataFrame)

  /** Memoize per (session, sfDir): a DataFrame is bound to its session, so a
    * fresh session (new JVM or restarted driver) re-resolves the tables.
    * Weakly keyed by the session — see [[graft.SessionMemo]]. */
  private val cache = new graft.SessionMemo[StarTables]

  // tables() and rebuild() share Warehouse.this as their lock: a reader
  // must not fetch a cache entry while rebuild() is between unpersisting
  // the old tables and publishing the new ones (it would see DataFrames
  // over files mid-overwrite).
  def tables(spark: SparkSession, dir: String): StarTables = synchronized {
    cache.getOrElseUpdate(spark, dir)(setup(spark, dir))
  }

  /** Force a full re-materialization (used by the bench to time the
    * warehouse load with a warm JVM, per BASELINE.md's warm-session
    * protocol — the cold first build absorbs codegen/classload costs that
    * are session bring-up, not warehouse work). */
  def rebuild(spark: SparkSession, dir: String): StarTables = synchronized {
    cache.get(spark, dir).foreach { old =>
      old.product.unpersist(); old.customer.unpersist(); old.time.unpersist()
    }
    // derived caches reference the about-to-be-overwritten fact files: drop
    // them with the tables they were built from
    slimCache.get(spark, dir).foreach(_.unpersist())
    slimCache.remove(spark, dir)
    val t = setup(spark, dir)
    cache.put(spark, dir, t)
    t
  }

  /** Slim (store_id, customer_id, purchase_amount) rollup of fact⋈product,
    * persisted once per (session, dir) and dropped on [[rebuild]].
    *
    * sketch_approx_agg's two aggregation legs group on DIFFERENT keys
    * ((store, customer) dedup vs store), so Catalyst's exchange reuse
    * cannot unify them and each leg re-scanned fact⋈product (r6 VERDICT
    * "What's wrong" #3 — two salefact scans in the executed plan). The
    * persisted projection feeds both legs from ONE scan.
    *
    * The cache is persisted PRE-PARTITIONED by store_id:
    * HashPartitioning(store_id) satisfies the ClusteredDistribution of
    * both the (store, customer) distinct AND every groupBy(store_id), so
    * no consumer plans a downstream exchange (measured at sf0.1 warm:
    * exact leg 0.55s→0.08s, sketch leg 0.70s→0.50s). The trade is
    * map-side parallelism capped at the store cardinality — correct here
    * because every consumer aggregates BY store, so the final stage
    * collapses to #stores tasks regardless. Scale note: this is
    * fact-cardinality but column-pruned to 3 of 10 columns and
    * disk-spillable (MEMORY_AND_DISK); at 100 TB the same call-site
    * becomes a rollup table bucketed by store_id (and a hot store would
    * want a salted pre-aggregate) — the query shape is unchanged. */
  private val slimCache = new graft.SessionMemo[DataFrame]

  def factStoreSlim(spark: SparkSession, dir: String): DataFrame = synchronized {
    slimCache.getOrElseUpdate(spark, dir) {
      val t = tables(spark, dir)
      t.fact.join(broadcast(t.product), "product_id")
        .select(col("store_id"), col("customer_id"), col("purchase_amount"))
        .repartition(col("store_id"))
        .persist()
    }
  }

  /** Build + persist the star once (CREATE DATABASE / CREATE TABLE / load),
    * or re-attach to tables already materialized by this JVM for this dir. */
  private def timed[A](label: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    System.err.println(f"[warehouse] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }

  private def setup(spark: SparkSession, dir: String): StarTables = {
    val t = graft.StateRoot.tag(dir)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $database")

    val factName = s"$database.salefact_$t"
    val prodName = s"$database.product_dim_$t"
    val custName = s"$database.customer_dim_$t"
    val timeName = s"$database.time_dim_$t"

    val root = sys.env.get("SPARK_GRAFT_WAREHOUSE")
      .fold(graft.StateRoot.path("warehouse", dir))(w => s"$w/$t")
    def path(table: String) = s"$root/$table"

    // The four table loads are INDEPENDENT jobs (each reads raw parquet,
    // none reads another's output) — overlap them so the three small dim
    // writes back-fill the executors the fact write's tail leaves idle
    // (guide §2.6 "overlap independent jobs"; r21, OPTIMIZATION_r21.md §4:
    // warm min-of-4 at sf0.1/32c, sequential 3.30 s vs 2.51 s
    // overlapped on the same host window). Overlap.all carries the caller's
    // local properties into each load and returns only once all four are
    // done, so a failed load never leaves a sibling writing behind it.
    def loadFact(): Unit =
      // Fact: the one big-big join (lineitem⋈orders) runs exactly once,
      // then lands bucketed+sorted by order_id — one file per bucket (the
      // repartition below aligns write tasks with buckets: both use
      // pmod(murmur3(order_id), n)).
      timed("salefact") {
        Star.saleFact(spark, dir)
          .repartition(factBuckets, col("order_id"))
          .write.mode("overwrite")
          .option("path", path("salefact"))
          .bucketBy(factBuckets, "order_id")
          .sortBy("order_id", "product_id")
          .format("parquet")
          .saveAsTable(factName)
      }
    // Dims: orders-of-magnitude smaller than the fact; single-file parquet.
    val dimLoads: Seq[() => Unit] = Seq(
      () => timed("product_dim") {
        Star.productDim(spark, dir).coalesce(1)
          .write.mode("overwrite").option("path", path("product_dim"))
          .format("parquet").saveAsTable(prodName)
      },
      () => timed("customer_dim") {
        Star.customerDim(spark, dir).coalesce(1)
          .write.mode("overwrite").option("path", path("customer_dim"))
          .format("parquet").saveAsTable(custName)
      },
      () => timed("time_dim") {
        Star.timeDim(spark, dir).coalesce(1)
          .write.mode("overwrite").option("path", path("time_dim"))
          .format("parquet").saveAsTable(timeName)
      })
    graft.Overlap.all(spark)((loadFact _) +: dimLoads: _*)

    // Dimensions are pinned in the columnar cache: they are re-broadcast by
    // every query, and dims stay cacheable at ANY warehouse scale (they grow
    // with entities, not with facts). The fact table is deliberately NOT
    // cached — scanning the bucketed columnar store is the 100 TB path.
    val product = spark.table(prodName).cache()
    val customer = spark.table(custName).cache()
    val time = spark.table(timeName).cache()
    product.count(); customer.count(); time.count()

    StarTables(
      fact = spark.table(factName),
      product = product,
      customer = customer,
      time = time)
  }
}
