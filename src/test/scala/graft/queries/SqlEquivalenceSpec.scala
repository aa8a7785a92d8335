package graft.queries

import graft.SparkSpec

/** The SQL-string entries must return byte-identical results to their
  * DataFrame twins (same rows, same order). */
class SqlEquivalenceSpec extends SparkSpec {

  private val twins = Seq(
    "sql_q01_top5_products_daytype" -> "q01_top5_products_daytype",
    "sql_q06_city_marital_6m" -> "q06_city_marital_6m",
    "sql_q09_mom_growth" -> "q09_mom_growth",
    "sql_q16_basket_pairs" -> "q16_basket_pairs",
    "sql_q17_rollup" -> "q17_rollup",
    "sql_q18_h1_h2" -> "q18_h1_h2")

  twins.foreach { case (sqlName, dfName) =>
    test(s"$sqlName == $dfName") {
      val a = graft.SparkEntry.queries(sqlName)(spark, sf001).collect()
      val b = graft.SparkEntry.queries(dfName)(spark, sf001).collect()
      assert(a.sameElements(b))
      assert(a.nonEmpty)
    }
  }
}
