package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Streaming-level tests (SURVEY §5.5): batch-boundary invariance of the
  * full pipeline, and MemoryStream-driven enrichment equivalence. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def sortedTables(wh: String): Map[String, Array[Row]] =
    Seq("customer_dim", "product_dim", "time_dim").map { t =>
      val df = spark.read.parquet(s"$wh/$t")
      t -> df.orderBy(df.columns.map(col): _*).collect()
    }.toMap +
      ("salefact" -> {
        // batch_id is EXPECTED to differ across splits — exclude it
        val f = spark.read.parquet(s"$wh/salefact").drop("batch_id")
        f.orderBy(f.columns.map(col): _*).collect()
      })

  test("batch-boundary invariance: 1 file vs 4 files yield identical tables") {
    val base = Files.createTempDirectory("graft_inv").toString
    val txns = (0 until 200).map { i =>
      (i, s"${1 + i % 12}/${1 + i % 28}/2020", 1 + i % 20, f"P${1 + i % 30}%08d", 1 + i % 5)
    }.toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity")
    val customers = (1 to 20).map(i => (i, if (i % 2 == 0) "F" else "M", 26, "1", "A", "1", "0"))
      .toDF("customer_id", "gender", "age", "occupation", "city_category",
        "stay_in_current_city_years", "marital_status")
    val products = (1 to 30).map(i => (f"P$i%08d", "Cat", BigDecimal(i).setScale(2), i % 3, s"S$i", i % 5, s"Sup$i"))
      .toDF("product_id", "product_category", "price", "store_id",
        "store_name", "supplier_id", "supplier_name")

    def runSplit(n: Int): Map[String, Array[Row]] = {
      val dir = s"$base/split$n"
      txns.repartition(n).write.option("header", "true").csv(s"$dir/txns")
      customers.coalesce(1).write.option("header", "true").csv(s"$dir/cust")
      products.coalesce(1).write.option("header", "true").csv(s"$dir/prod")
      val stream = spark.readStream.schema(Schemas.transaction)
        .option("header", "true").option("maxFilesPerTrigger", 1)
        .csv(s"$dir/txns")
      val cDf = spark.read.option("header", "true").csv(s"$dir/cust")
        .select(col("customer_id").cast("int"), col("gender"), col("age").cast("int"),
          col("occupation"), col("city_category"),
          col("stay_in_current_city_years"), col("marital_status"))
      val pDf = spark.read.option("header", "true").csv(s"$dir/prod")
        .select(col("product_id"), col("product_category"),
          col("price").cast("decimal(10,2)"), col("store_id").cast("int"),
          col("store_name"), col("supplier_id").cast("int"), col("supplier_name"))
      val enriched = Enrich.enrich(stream, cDf, pDf)
      val sink = WarehouseSink.open(enriched, s"$dir/wh")
      val q = enriched
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) => sink.load(b, id) }
        .start()
      q.awaitTermination()
      sortedTables(s"$dir/wh")
    }

    val one = runSplit(1)
    val four = runSplit(4)
    one.keys.foreach { t =>
      assert(one(t).sameElements(four(t)), s"table $t differs between splits")
    }
    assert(one("salefact").nonEmpty)
  }

  test("a stream whose batch 0 fails resumes from its checkpoint and equals a clean run") {
    val base = Files.createTempDirectory("graft_restart").toString
    val fx = s"$base/fixtures"
    EtlFixtures.write(spark, sf001, fx, nFiles = 4)
    def run(wh: String): Unit = Pipeline.run(spark, s"$fx/transactions",
      s"$fx/customer_master", s"$fx/product_master", wh, maxFilesPerTrigger = 1)
    def tables(wh: String): Map[String, Seq[Row]] =
      Seq("customer_dim", "product_dim", "time_dim", "salefact").map { t =>
        val df = spark.read.parquet(s"$wh/$t") // salefact keeps batch_id
        t -> df.orderBy(df.columns.map(col): _*).collect().toSeq
      }.toMap

    val clean = s"$base/clean"
    run(clean)

    val wh = s"$base/wh"
    // a plain file where the time dim's directory belongs fails batch 0
    val obstacle = new java.io.File(s"$wh/time_dim")
    Files.createDirectories(obstacle.toPath.getParent)
    Files.write(obstacle.toPath, "not a table".getBytes)
    intercept[Exception](run(wh))
    assert(!new java.io.File(s"$wh/salefact/batch_id=0").exists())

    assert(obstacle.delete())
    run(wh) // same whDir, so the query resumes from $wh/_checkpoint
    val (got, want) = (tables(wh), tables(clean))
    assert(want("salefact").map(_.getAs[Int]("batch_id")).distinct.sorted == Seq(0, 1, 2, 3))
    want.keys.foreach(t => assert(got(t) == want(t), s"$t differs from a clean run"))
    assert(Option(new java.io.File(s"$wh/_staging").list()).forall(_.isEmpty))
  }

  test("before the first commit the four tables read as empty, with a full run's schemas") {
    val base = Files.createTempDirectory("graft_empty").toString
    val fx = s"$base/fixtures"
    EtlFixtures.write(spark, sf001, fx, nFiles = 1)
    def start(txns: String, wh: String) = Pipeline.start(spark, txns,
      s"$fx/customer_master", s"$fx/product_master", wh, maxFilesPerTrigger = 1)
    start(s"$fx/transactions", s"$base/full").awaitTermination()
    val incoming = Files.createDirectories(java.nio.file.Paths.get(base, "incoming"))
    val q = start(incoming.toString, s"$base/wh")
    try {
      def read(wh: String, t: String) = spark.read.parquet(s"$wh/$t")
      Seq("customer_dim", "product_dim", "time_dim", "salefact").foreach { t =>
        val (got, full) = (read(s"$base/wh", t), read(s"$base/full", t))
        assert(got.count() == 0, s"$t is not empty")
        assert(got.schema == full.drop("batch_id").schema, s"$t schema")
      }
      // the reader's star aggregate: sales by gender and quarter
      val star = read(s"$base/wh", "salefact")
        .join(read(s"$base/wh", "customer_dim"), "customer_id")
        .join(read(s"$base/wh", "product_dim"), "product_id")
        .join(read(s"$base/wh", "time_dim"), "date_id")
        .groupBy("gender", "quarter")
        .agg(count(lit(1)).as("n"), sum("quantity").as("qty"))
      assert(star.collect().isEmpty)
    } finally {
      q.stop()
    }
  }

  test("MemoryStream enrichment == batch enrichment on the same tuples") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, String, Int, String, Int)]
    val dir = Files.createTempDirectory("graft_mem").toString

    val customers = Seq((1, "F", 26, "1", "A", "1", "0"), (2, "M", 55, "2", "B", "2", "1"))
      .toDF("customer_id", "gender", "age", "occupation", "city_category",
        "stay_in_current_city_years", "marital_status")
    val products = Seq(("P1", "Cat", BigDecimal(5).setScale(2), 1, "S", 1, "Sup"))
      .toDF("product_id", "product_category", "price", "store_id",
        "store_name", "supplier_id", "supplier_name")

    val stream = mem.toDF()
      .toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity")
    val enriched = Enrich.enrich(stream, customers, products)
    val sink = WarehouseSink.open(enriched, s"$dir/wh")
    val q = enriched
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (b: DataFrame, id: Long) => sink.load(b, id) }
      .start()
    mem.addData((1, "1/2/2020", 1, "P1", 2), (2, "1/3/2020", 3, "P1", 1))
    q.processAllAvailable()
    mem.addData((3, "2/4/2020", 2, "P1", 4))
    q.processAllAvailable()
    q.stop()

    val factStream = spark.read.parquet(s"$dir/wh/salefact")
      .drop("batch_id").orderBy("order_id")

    val batchTxns = Seq(
      (1, "1/2/2020", 1, "P1", 2), (2, "1/3/2020", 3, "P1", 1),
      (3, "2/4/2020", 2, "P1", 4))
      .toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity")
    val dirB = Files.createTempDirectory("graft_mem_b").toString
    val batch = Enrich.enrich(batchTxns, customers, products)
    WarehouseSink.open(batch, dirB).load(batch, 0L)
    val factBatch = spark.read.parquet(s"$dirB/salefact")
      .drop("batch_id").orderBy("order_id")

    assert(factStream.collect().sameElements(factBatch.collect()))
    assert(factStream.count() == 2) // customer 3 evicted by J1
  }
}
