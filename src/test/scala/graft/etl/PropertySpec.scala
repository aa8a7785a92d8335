package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.SparkSpec

/** Property-based invariants (SURVEY §5.4) over randomized micro-batches —
  * native ScalaCheck (sbt runs Properties directly). Spark jobs per trial
  * are expensive, so trial counts are small but the generators are real. */
object EtlProperties extends Properties("etl") {
  import SparkSpecHolder.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(4)

  private val bracketGen = Gen.oneOf(
    "0-17", "18-25", "26-35", "36-45", "46-50", "51-55", "55+")

  property("bracket parse returns the literal lower bound") =
    forAll(bracketGen) { br =>
      val lo = Seq(br).toDF("Age")
        .select(Transforms.ageLowerBound(col("Age"))).collect().head.getInt(0)
      lo == br.takeWhile(_.isDigit).toInt
    }

  private val customers = (1 to 10).map(i => (i, "F", 26, "1", "A", "1", "0"))
    .toDF("customer_id", "gender", "age", "occupation", "city_category",
      "stay_in_current_city_years", "marital_status")
  private val prices = (1 to 8).map(i =>
    i -> BigDecimal(i * 3.37).setScale(2, BigDecimal.RoundingMode.HALF_UP)).toMap
  private val products = (1 to 8).map(i => (s"P$i", "Cat", prices(i), 1, "S", 1, "Sup"))
    .toDF("product_id", "product_category", "price", "store_id",
      "store_name", "supplier_id", "supplier_name")

  private val txnGen = Gen.nonEmptyListOf(for {
    order <- Gen.choose(1, 50)
    cust <- Gen.choose(1, 10)
    prod <- Gen.choose(1, 8)
    qty <- Gen.choose(1, 9)
  } yield (order, s"${1 + order % 12}/${1 + order % 28}/2020", cust, s"P$prod", qty))
    .map(_.take(40))

  property("Σ fact purchase_amount == Σ round(q·p, 2)") =
    forAll(txnGen) { txns =>
      val dir = Files.createTempDirectory("graft_prop").toString
      val df = txns.toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity")
      val enriched = Enrich.enrich(df, customers, products)
      WarehouseSink.open(enriched, dir).load(enriched, 0L)
      val factSum = spark.read.parquet(s"$dir/salefact")
        .agg(sum(col("purchase_amount"))).collect().head.getDecimal(0)
      val expected = txns.map { case (_, _, _, prod, qty) =>
        (BigDecimal(qty) * prices(prod.drop(1).toInt))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      BigDecimal(factSum).setScale(2) == expected
    }

  property("dim upsert idempotence: reloading the same tuples adds no rows") =
    forAll(txnGen) { txns =>
      val dir = Files.createTempDirectory("graft_idem").toString
      val enriched = Enrich.enrich(
        txns.toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity"),
        customers, products)
      WarehouseSink.open(enriched, dir).load(enriched, 0L)
      val n1 = spark.read.parquet(s"$dir/customer_dim").count()
      // same data, NEW batch id, through a new sink that reads the keys back
      WarehouseSink.open(enriched, dir).load(enriched, 1L)
      val n2 = spark.read.parquet(s"$dir/customer_dim").count()
      n1 == n2
    }

  property("enrichment output ⊆ stream ⋉ customer master (J1 soundness)") =
    forAll(txnGen) { txns =>
      val df = txns.toDF("orderID", "date", "Customer_ID", "Product_ID", "quantity")
      val out = Enrich.enrich(df, customers, products)
      out.join(customers.withColumnRenamed("customer_id", "Customer_ID"),
        Seq("Customer_ID"), "left_anti").count() == 0 &&
        out.count() <= df.count()
    }
}

/** Session holder shared with the FunSuite-based specs. */
object SparkSpecHolder {
  val spark = graft.SparkSpec.session
}
