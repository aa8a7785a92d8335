package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Star-schema construction over the driver testdata (TPC-H-ish parquet).
  *
  * Re-expresses the reference warehouse's data model (reference:
  * `starSchema.sql:5-46` — customer_dim / product_dim / time_dim / saleFact)
  * on top of `/root/testdata/sf*` tables. The mapping is deterministic and
  * expressible in both Spark and ANSI SQL so that every query has a DuckDB
  * oracle (see [[StarSql]], which must be kept semantically in lockstep).
  *
  * Scale notes (100 TB design):
  *  - `salefact` = lineitem ⋈ orders on the order key: both sides large at
  *    scale → a shuffle (sort-merge) join on `l_orderkey`/`o_orderkey`. On a
  *    real cluster both tables would be bucketed by order key at write time,
  *    making this join shuffle-free; locally AQE picks the strategy.
  *  - All three dimensions are orders of magnitude smaller than the fact and
  *    are broadcast on every fact⋈dim join (Catalyst does this automatically
  *    under the broadcast threshold; the query layer additionally hints
  *    `broadcast()` so plans stay stable at any autoBroadcast setting).
  *  - Money is carried as exact DECIMAL(14,4) — the product of two 2-dp
  *    decimals — so sums are order-independent (no floating-point drift
  *    across shuffle/partition orders) and final results are cast to double
  *    only at the query edge. Reference rounds to cents per row
  *    (`hybrid_join.py:451-453`); we defer the rounding to presentation to
  *    keep parallel aggregation exact (documented deviation).
  */
object Star {

  /** Age-bracket lower bounds, mirrors reference customer CSV brackets
    * ('0-17'..'55+' → lower bound int, `hybrid_join.py:402`). */
  private val Ages = Seq(0, 18, 26, 36, 46, 51, 55)

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** customer_dim(customer_id, gender, age, occupation, city_category,
    * stay_in_current_city_years, marital_status) — reference
    * `starSchema.sql:5-13`; attribute domains follow the reference master
    * CSV profile, derived deterministically from TPC-H keys. */
  def customerDim(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    c.select(
      col("c_custkey").as("customer_id"),
      when(pmod(col("c_custkey"), lit(2)) === 0, "F").otherwise("M").as("gender"),
      element_at(
        array(Ages.map(lit): _*),
        (pmod(col("c_custkey"), lit(7)) + 1).cast(IntegerType)
      ).as("age"),
      pmod(col("c_custkey"), lit(21)).cast(StringType).as("occupation"),
      element_at(
        array(lit("A"), lit("B"), lit("C")),
        (pmod(col("c_nationkey"), lit(3)) + 1).cast(IntegerType)
      ).as("city_category"),
      pmod(col("c_custkey"), lit(5)).cast(StringType)
        .as("stay_in_current_city_years"),
      pmod(col("c_custkey"), lit(2)).cast(StringType).as("marital_status")
    )
  }

  /** product_dim(product_id, product_category, price, store_id, store_name,
    * supplier_id, supplier_name) — reference `starSchema.sql:15-23`.
    * product_id is the reference-style 'P' + 8-digit key
    * (`P00069042`-shaped). Store/supplier assignment is a deterministic
    * modulo of the part key; the supplier leg is a broadcast equi-join
    * against the supplier table (dimension build is dwarfed by the fact —
    * any strategy works; broadcast keeps it shuffle-free). */
  def productDim(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "part")
    val s = table(spark, dir, "supplier")
    val nSupp = s.agg(count(lit(1)).as("n_supp"))
    p.crossJoin(broadcast(nSupp))
      .withColumn("supplier_id",
        pmod(col("p_partkey"), col("n_supp")).cast(IntegerType))
      .join(broadcast(s.select(col("s_suppkey"), col("s_name").as("supplier_name"))),
        col("supplier_id") === col("s_suppkey"))
      .select(
        productIdOf(col("p_partkey")).as("product_id"),
        col("p_brand").as("product_category"),
        col("p_retailprice").cast(DecimalType(10, 2)).as("price"),
        (pmod(col("p_partkey"), lit(8)) + 1).cast(IntegerType).as("store_id"),
        concat(lit("Store_"),
          (pmod(col("p_partkey"), lit(8)) + 1).cast(IntegerType)).as("store_name"),
        col("supplier_id"),
        col("supplier_name")
      )
  }

  /** Reference-style product id: 'P' + the key left-padded to AT LEAST 8
    * digits — value-identical to `format_string("P%08d", key)` for the
    * non-negative keys the TPC-H data carries, but ~3× cheaper per row
    * (r21, OPTIMIZATION_r21.md §4: the format_string projection
    * alone added 0.22 s to the 600 k-row fact pass at sf0.1 vs 0.08 s
    * for this form — java.util.Formatter allocates and re-parses the
    * format per call). The length guard preserves %08d's never-truncate
    * semantics (lpad alone TRUNCATES past 8 chars), so 9+-digit keys at
    * larger scale factors still render identically. */
  def productIdOf(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s = key.cast(StringType)
    concat(lit("P"), when(length(s) >= 8, s).otherwise(lpad(s, 8, "0")))
  }

  /** Deterministic surrogate date key: yyyyMMdd as a long. Replaces the
    * reference's order-dependent auto_increment lookup-or-insert
    * (`hybrid_join.py:381-389`) with a pure expression — queries only ever
    * use date_id as a join key, so raw values are free to differ. */
  def dateId(d: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (year(d) * 10000 + month(d) * 100 + dayofmonth(d)).cast(LongType)

  /** Season derivation, reference `hybrid_join.py:436-444`:
    * Dec/Jan/Feb→Winter, Mar-May→Spring, Jun-Aug→Summer, else Autumn. */
  def seasonOf(d: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(month(d).isin(12, 1, 2), "Winter")
      .when(month(d).isin(3, 4, 5), "Spring")
      .when(month(d).isin(6, 7, 8), "Summer")
      .otherwise("Autumn")

  /** time_dim(date_id, full_date, day_of_week, month, quarter, season, year)
    * — reference `starSchema.sql:25-33`, attributes per
    * `hybrid_join.py:429-444`. One row per distinct fact date (shipdate). */
  def timeDim(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val d = col("full_date")
    li.select(col("l_shipdate").cast(DateType).as("full_date"))
      .distinct()
      .select(
        dateId(d).as("date_id"),
        d,
        date_format(d, "EEEE").as("day_of_week"),
        date_format(d, "MMMM").as("month"),
        quarter(d).as("quarter"),
        seasonOf(d).as("season"),
        year(d).as("year")
      )
  }

  /** salefact(sales_id, order_id, customer_id, product_id, date_id,
    * quantity, purchase_amount) — reference `starSchema.sql:35-46`.
    *
    * purchase_amount = extendedprice × (1 − discount) carried as exact
    * DECIMAL(14,4) (see class doc). sales_id is the deterministic surrogate
    * l_orderkey·10 + l_linenumber (line numbers are 1..7) replacing the
    * reference's load-order auto_increment (never queried,
    * `starSchema.sql:36`).
    *
    * Scale: the only big-big join in the model; on a cluster, bucket both
    * lineitem and orders by order key to make it shuffle-free. */
  def saleFact(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val o = table(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(
        (col("l_orderkey") * 10 + col("l_linenumber")).cast(LongType).as("sales_id"),
        col("l_orderkey").as("order_id"),
        col("o_custkey").as("customer_id"),
        productIdOf(col("l_partkey")).as("product_id"),
        dateId(col("l_shipdate").cast(DateType)).as("date_id"),
        col("l_quantity").cast(LongType).as("quantity"),
        (col("l_extendedprice").cast(DecimalType(12, 2)) *
          (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
          .cast(DecimalType(14, 4)).as("purchase_amount")
      )
  }
}
