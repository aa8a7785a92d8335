package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Join-semantics and sink-semantics unit tests (SURVEY §5.2, §5.4):
  * J1 inner / J2 left-outer / P2 null filter; S7 first-write-wins;
  * S9/ST8 replay idempotence; a failed write publishes no fact rows and
  * its replay converges to a clean load. */
class EnrichSinkSpec extends SparkSpec {
  import spark.implicits._

  private def customers(rows: (Int, String)*): DataFrame =
    rows.toDF("customer_id", "gender")
      .withColumn("age", lit(26))
      .withColumn("occupation", lit("1"))
      .withColumn("city_category", lit("A"))
      .withColumn("stay_in_current_city_years", lit("1"))
      .withColumn("marital_status", lit("0"))

  private def products(rows: (String, Double)*): DataFrame =
    rows.toDF("product_id", "p")
      .withColumn("product_category", lit("Cat"))
      .withColumn("price", col("p").cast("decimal(10,2)"))
      .withColumn("store_id", lit(1))
      .withColumn("store_name", lit("S"))
      .withColumn("supplier_id", lit(1))
      .withColumn("supplier_name", lit("Sup"))
      .drop("p")

  private def txn(order: Int, cust: Integer, prod: String): DataFrame =
    Seq((order, "1/2/2020", cust, prod, 2))
      .toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity")

  test("J1 is inner: unmatched customer key is evicted") {
    val out = Enrich.enrich(txn(1, 999, "P1"), customers(1 -> "F"), products("P1" -> 5.0))
    assert(out.count() == 0)
  }

  test("P2: null customer key is dropped before the join") {
    val out = Enrich.enrich(txn(1, null, "P1"), customers(1 -> "F"), products("P1" -> 5.0))
    assert(out.count() == 0)
  }

  test("J2 is left-outer: unmatched product keeps the partial tuple") {
    val out = Enrich.enrich(txn(1, 1, "PX"), customers(1 -> "F"), products("P1" -> 5.0))
    assert(out.count() == 1)
    assert(out.select("price").collect().head.isNullAt(0))
  }

  test("sink drops product-less rows from the fact (observable-inner)") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val enriched = Enrich.enrich(
      txn(1, 1, "PX").union(txn(2, 1, "P1")),
      customers(1 -> "F"), products("P1" -> 5.0))
    WarehouseSink.open(enriched, dir).load(enriched, 0L)
    val fact = spark.read.parquet(s"$dir/salefact")
    assert(fact.count() == 1)
    assert(fact.select("order_id").collect().head.getInt(0) == 2)
    // purchase_amount = round(2 * 5.00, 2)
    assert(fact.select(col("purchase_amount").cast("double")).collect().head.getDouble(0) == 10.0)
  }

  test("S7 first-write-wins: a later batch never updates an existing dim row") {
    val dir = Files.createTempDirectory("graft_scd0").toString
    val batch0 = Enrich.enrich(txn(1, 1, "P1"), customers(1 -> "F"), products("P1" -> 5.0))
    val sink = WarehouseSink.open(batch0, dir)
    sink.load(batch0, 0L)
    sink.load(
      Enrich.enrich(txn(2, 1, "P1"), customers(1 -> "M"), products("P1" -> 9.0)),
      1L)
    val dim = spark.read.parquet(s"$dir/customer_dim")
    assert(dim.count() == 1)
    assert(dim.select("gender").collect().head.getString(0) == "F")
    val prod = spark.read.parquet(s"$dir/product_dim")
    assert(prod.select(col("price").cast("double")).collect().head.getDouble(0) == 5.0)
  }

  test("ST8: replaying a batch id leaves every table unchanged") {
    val dir = Files.createTempDirectory("graft_replay").toString
    val enriched = Enrich.enrich(
      txn(1, 1, "P1").union(txn(2, 2, "P1")),
      customers(1 -> "F", 2 -> "M"), products("P1" -> 5.0))
    val sink = WarehouseSink.open(enriched, dir)
    sink.load(enriched, 7L)
    val before = spark.read.parquet(s"$dir/salefact").orderBy("order_id").collect()
    sink.load(enriched, 7L) // at-least-once replay
    val after = spark.read.parquet(s"$dir/salefact").orderBy("order_id").collect()
    assert(before.sameElements(after))
    assert(spark.read.parquet(s"$dir/customer_dim").count() == 2)
    assert(spark.read.parquet(s"$dir/time_dim").count() == 1)
  }

  test("S8: time_dim accumulates distinct dates across batches, no dupes") {
    val dir = Files.createTempDirectory("graft_time").toString
    val c = customers(1 -> "F"); val p = products("P1" -> 5.0)
    val batch0 = Enrich.enrich(
      Seq((1, "1/2/2020", 1, "P1", 1), (2, "1/3/2020", 1, "P1", 1))
        .toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity"), c, p)
    val sink = WarehouseSink.open(batch0, dir)
    sink.load(batch0, 0L)
    sink.load(Enrich.enrich(
      Seq((3, "1/3/2020", 1, "P1", 1), (4, "2/1/2020", 1, "P1", 1))
        .toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity"), c, p), 1L)
    val t = spark.read.parquet(s"$dir/time_dim")
    assert(t.count() == 3)
    assert(t.select("date_id").distinct().count() == 3)
  }

  test("a failed dim write publishes no fact rows; its replay equals a clean load") {
    val c = customers(1 -> "F", 2 -> "M"); val p = products("P1" -> 5.0, "P2" -> 7.0)
    val batch0 = Enrich.enrich(txn(1, 1, "P1"), c, p)
    val batch1 = Enrich.enrich(
      Seq((2, "3/4/2021", 2, "P2", 3), (3, "3/5/2021", 1, "P1", 1))
        .toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity"), c, p)
    val clean = Files.createTempDirectory("graft_sink_clean").toString
    val cleanSink = WarehouseSink.open(batch0, clean)
    cleanSink.load(batch0, 0L)
    cleanSink.load(batch1, 1L)

    val dir = Files.createTempDirectory("graft_sink_fail").toString
    val sink = WarehouseSink.open(batch0, dir)
    sink.load(batch0, 0L)
    // a plain file where the time dim's directory belongs fails its write
    val timeDim = new java.io.File(s"$dir/time_dim")
    val aside = new java.io.File(s"$dir/time_dim.aside")
    assert(timeDim.renameTo(aside))
    Files.write(timeDim.toPath, "not a table".getBytes)
    val mode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    intercept[Exception](sink.load(batch1, 1L))
    // every sibling write had committed before the failure reached us
    assert(new java.io.File(s"$dir/_staging/1/salefact/_SUCCESS").exists())
    Seq("customer_dim", "product_dim").foreach { t =>
      assert(!new java.io.File(s"$dir/$t/_temporary").exists(), s"$t still writing")
    }
    assert(spark.read.parquet(s"$dir/salefact").where(col("batch_id") === 1).count() == 0)
    assert(spark.read.parquet(s"$dir/salefact").count() == 1)

    // remove the obstacle and replay the batch through the same sink,
    // which reads its key sets again after the failure
    assert(timeDim.delete() && aside.renameTo(timeDim))
    sink.load(batch1, 1L)
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode") == mode)
    Seq("customer_dim", "product_dim", "time_dim", "salefact").foreach { t =>
      def rows(root: String) = {
        val df = spark.read.parquet(s"$root/$t")
        df.orderBy(df.columns.map(col): _*).collect().toSeq
      }
      assert(rows(dir) == rows(clean), s"$t differs from a clean load")
    }
    assert(!new java.io.File(s"$dir/_staging/1").exists())
  }
}
