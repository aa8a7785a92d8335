package graft.etl

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The sink's dim key sets, its replay rule and its failure paths:
  *  - a replay of a published batch writes nothing;
  *  - a failure at the fact write or at one dim append, in a later batch
  *    or in a new warehouse's first, publishes no fact row, and a replay
  *    through a sink opened in a new session, whose key sets come from
  *    disk, equals a clean load;
  *  - a batch whose keys are all known runs no dim job and writes no dim
  *    file. */
class WarehouseSinkSpec extends SparkSpec {
  import spark.implicits._

  private val tableNames = Seq("customer_dim", "product_dim", "time_dim", "salefact")

  private val customers = (1 to 3).map(i => (i, "F", 26, "1", "A", "1", "0"))
    .toDF("customer_id", "gender", "age", "occupation", "city_category",
      "stay_in_current_city_years", "marital_status")
  private val products = (1 to 3).map(i => (s"P$i", "Cat", BigDecimal(i).setScale(2), i, "S", i, "Sup"))
    .toDF("product_id", "product_category", "price", "store_id",
      "store_name", "supplier_id", "supplier_name")

  private def enrich(rows: (Int, String, Int, String, Int)*): DataFrame =
    Enrich.enrich(rows.toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity"),
      customers, products)

  private val batch0 = enrich((1, "1/2/2020", 1, "P1", 2), (2, "1/3/2020", 2, "P1", 1))
  // new customer 3, product P2 and dates
  private val batch1 = enrich((3, "3/4/2021", 3, "P2", 3), (4, "3/5/2021", 1, "P1", 1))

  /** Every row of the four tables, sorted; salefact keeps `batch_id`. */
  private def tables(dir: String): Map[String, Seq[Row]] =
    tableNames.map { t =>
      val df = spark.read.parquet(s"$dir/$t")
      t -> df.orderBy(df.columns.map(col): _*).collect().toSeq
    }.toMap

  private def files(dir: String): Set[String] =
    Option(new File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  private lazy val clean: Map[String, Seq[Row]] = {
    val dir = Files.createTempDirectory("graft_sink_clean").toString
    val sink = WarehouseSink.open(batch0, dir)
    sink.load(batch0, 0L)
    sink.load(batch1, 1L)
    tables(dir)
  }

  /** `df`'s rows as a frame of the session `s`. */
  private def in(s: SparkSession, df: DataFrame): DataFrame =
    s.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** Load batch 0, fail batch 1 through the same sink with the obstacle
    * `block` sets up and `check` inspects, then replay batch 1 through a
    * sink opened in a new session once `unblock` has removed the obstacle. */
  private def failThenReplay(name: String)(block: String => Unit)(check: String => Unit)(
      unblock: String => Unit): Unit = {
    val dir = Files.createTempDirectory(name).toString
    val sink = WarehouseSink.open(batch0, dir)
    sink.load(batch0, 0L)
    block(dir)
    intercept[Exception](sink.load(batch1, 1L))
    assert(spark.read.parquet(s"$dir/salefact").where(col("batch_id") === 1).count() == 0)
    assert(!new File(s"$dir/salefact/batch_id=1").exists())
    check(dir)
    unblock(dir)
    val fresh = spark.newSession()
    val replay = in(fresh, batch1)
    WarehouseSink.open(replay, dir).load(replay, 1L)
    val got = tables(dir)
    tableNames.foreach(t => assert(got(t) == clean(t), s"$t differs from a clean load"))
    assert(!new File(s"$dir/_staging/1").exists())
  }

  test("a failed staged fact write publishes nothing; a replay in a new session equals a clean load") {
    failThenReplay("graft_sink_fact") { dir =>
      // a plain file where the batch's staging directory belongs
      Files.createDirectories(new File(s"$dir/_staging").toPath)
      Files.write(new File(s"$dir/_staging/1").toPath, "not a directory".getBytes)
    } { dir =>
      // the fact write is the first; no dim saw the batch
      assert(spark.read.parquet(s"$dir/customer_dim").count() == 2)
      assert(spark.read.parquet(s"$dir/time_dim").count() == 2)
    } { dir =>
      assert(new File(s"$dir/_staging/1").delete())
    }
  }

  test("a failed time-dim append publishes nothing; a replay in a new session equals a clean load") {
    failThenReplay("graft_sink_time") { dir =>
      val timeDim = new File(s"$dir/time_dim")
      assert(timeDim.renameTo(new File(s"$dir/time_dim.aside")))
      Files.write(timeDim.toPath, "not a table".getBytes)
    } { dir =>
      // the customer and product appends committed beside the failed one
      assert(spark.read.parquet(s"$dir/customer_dim").where(col("customer_id") === 3).count() == 1)
      assert(spark.read.parquet(s"$dir/product_dim").where(col("product_id") === "P2").count() == 1)
      assert(new File(s"$dir/_staging/1/salefact/_SUCCESS").exists())
    } { dir =>
      assert(new File(s"$dir/time_dim").delete())
      assert(new File(s"$dir/time_dim.aside").renameTo(new File(s"$dir/time_dim")))
    }
  }

  test("a failed time-dim append in a new warehouse's first batch publishes nothing; " +
      "a replay in a new session equals a clean load") {
    val dir = Files.createTempDirectory("graft_sink_first").toString
    val sink = WarehouseSink.open(batch0, dir)
    // a plain file where the append's temporary directory belongs; reading
    // the dim's keys lists no file whose name starts with `_`
    val obstacle = new File(s"$dir/time_dim/_temporary")
    Files.write(obstacle.toPath, "not a directory".getBytes)
    intercept[Exception](sink.load(batch0, 0L))
    assert(spark.read.parquet(s"$dir/salefact").count() == 0)
    assert(!new File(s"$dir/salefact/batch_id=0").exists())
    // the empty dims' appends ran beside the fact write, and the others committed
    assert(new File(s"$dir/_staging/0/salefact/_SUCCESS").exists())
    assert(spark.read.parquet(s"$dir/customer_dim").count() == 2)
    assert(spark.read.parquet(s"$dir/time_dim").count() == 0)
    obstacle.delete()
    val fresh = spark.newSession()
    val replay = WarehouseSink.open(in(fresh, batch0), dir)
    replay.load(in(fresh, batch0), 0L)
    replay.load(in(fresh, batch1), 1L)
    val got = tables(dir)
    tableNames.foreach(t => assert(got(t) == clean(t), s"$t differs from a clean load"))
  }

  test("replaying a published batch keeps its files and every table unchanged") {
    val dir = Files.createTempDirectory("graft_sink_replay").toString
    WarehouseSink.open(batch0, dir).load(batch0, 0L)
    val part = s"$dir/salefact/batch_id=0"
    val before = (tables(dir), files(part), tableNames.map(t => files(s"$dir/$t")))
    // what a crash after the publishing rename leaves behind
    Files.createDirectories(new File(s"$dir/_staging/0").toPath)
    WarehouseSink.open(batch0, dir).load(batch0, 0L)
    assert((tables(dir), files(part), tableNames.map(t => files(s"$dir/$t"))) == before)
    assert(!new File(s"$dir/_staging/0").exists())
  }

  test("a batch whose keys are all known runs 3 jobs and writes no dim file; " +
      "new keys in one dim add that dim's append only") {
    val base = Files.createTempDirectory("graft_sink_cost").toString
    // the benchmark's session runs with AQE off, so an append is one job
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // masters read from files, as the pipeline's are: each batch
    // broadcasts them again, one job each
    customers.write.parquet(s"$base/customers")
    products.write.parquet(s"$base/products")
    val (c, p) = (s.read.parquet(s"$base/customers"), s.read.parquet(s"$base/products"))
    def batch(rows: (Int, String, Int, String, Int)*): DataFrame =
      Enrich.enrich(in(s, rows.toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity")),
        c, p)
    val dir = s"$base/wh"
    val first = batch((1, "1/2/2020", 1, "P1", 2), (2, "1/3/2020", 2, "P2", 1))
    val sink = WarehouseSink.open(first, dir)
    sink.load(first, 0L)

    /** Load `b` as batch `id`: its jobs and the dims that gained a file. */
    def cost(b: DataFrame, id: Long): (Int, Set[String]) = {
      val dims = tableNames.init
      val before = dims.map(t => files(s"$dir/$t"))
      val jobs = graft.Prof.measure(s) { sink.load(b, id); s.emptyDataFrame }.construct.jobs
      (jobs, dims.zip(before).collect { case (t, f) if files(s"$dir/$t") != f => t }.toSet)
    }

    assert(cost(batch((3, "1/3/2020", 2, "P1", 5), (4, "1/2/2020", 1, "P2", 1)), 1L) ==
      (3 -> Set.empty[String]))
    // a new customer whose only row has no product match: a customer row,
    // but no product row and no fact row
    assert(cost(batch((5, "1/2/2020", 3, "P9", 1), (6, "1/2/2020", 1, "P1", 1)), 2L) ==
      (4 -> Set("customer_dim")))
    assert(cost(batch((7, "1/3/2020", 3, "P3", 1)), 3L) == (4 -> Set("product_dim")))
    assert(cost(batch((8, "7/4/2022", 2, "P2", 1)), 4L) == (4 -> Set("time_dim")))
    assert(s.read.parquet(s"$dir/customer_dim").count() == 3)
    assert(s.read.parquet(s"$dir/product_dim").count() == 3)
    assert(s.read.parquet(s"$dir/time_dim").count() == 3)
    assert(s.read.parquet(s"$dir/salefact").count() == 7)
  }
}
