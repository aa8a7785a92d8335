package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.star.StarSql
import graft.warehouse.Warehouse

/** Operators the reference's SQL never used but a complete engine must
  * serve (SURVEY §2.4/§2.6/§2.7 "not present" rows): set operations,
  * CUBE grouping sets, distinct aggregates, and per-group top-k via
  * window ranking (the reference's prose intent for its "top 5 per
  * group" queries, which its SQL implemented as a global LIMIT — both
  * forms are now served). */
object ExtraQueries {

  private def star(s: org.apache.spark.sql.SparkSession, dir: String) =
    Warehouse.tables(s, dir)

  val all: Seq[QueryDef] = Seq(

    // UNION / INTERSECT / EXCEPT over customer populations: buyers of two
    // product categories. The oracle keeps the literal set-operator SQL; the
    // Spark plan computes the identical relation in its scale-right form —
    // ONE shuffle (groupBy customer) with map-side-combined membership
    // flags, instead of 2 distincts + intersect + 2 excepts (6 shuffles of
    // the same keys; VERDICT r4 "What's wrong" #3). `.intersect`/`.except`
    // operator semantics stay covered by SetOpsSpec.
    QueryDef("setops_buyers",
      (s, dir) => {
        val t = star(s, dir)
        val a = "Brand#11"; val b = "Brand#12"
        t.fact.join(broadcast(t.product), "product_id")
          .where(col("product_category").isin(a, b))
          .groupBy(col("customer_id"))
          .agg(max(col("product_category") === a).as("in_a"),
            max(col("product_category") === b).as("in_b"))
          .select(col("customer_id"),
            when(col("in_a") && col("in_b"), "both")
              .when(col("in_a"), "only_a")
              .otherwise("only_b").as("relation"))
          .orderBy(col("relation"), col("customer_id"))
      },
      Some(StarSql.withStar("""
        , buyers AS (
          SELECT f.customer_id, p.product_category
          FROM salefact f JOIN product_dim p ON f.product_id = p.product_id),
        a AS (SELECT DISTINCT customer_id FROM buyers WHERE product_category = 'Brand#11'),
        b AS (SELECT DISTINCT customer_id FROM buyers WHERE product_category = 'Brand#12')
        SELECT customer_id, 'both' AS relation FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        UNION ALL
        SELECT customer_id, 'only_a' FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        UNION ALL
        SELECT customer_id, 'only_b' FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
        ORDER BY relation, customer_id"""))),

    // CUBE over (store, season) + exact distinct-customer counts: grouping
    // sets beyond the reference's ROLLUP, plus a distinct aggregate.
    // Plan note (measured, r5): the single cube + countDistinct Expands
    // each fact row 4 grouping-sets x 2 (distinct rewrite) = 8x through
    // one aggregation. The split alternative — revenue margins rolled up
    // from a (store, season) pre-agg, distinct counts cubed over deduped
    // triples, null-safe-joined — trades that for 3 extra stages and
    // measured SLOWER at sf0.1 (1.76s vs 1.36s min-of-5): stage overhead
    // beats row multiplication at local scale. At 100 TB the split form
    // wins (the Expand multiplies the full fact scan); it's a mechanical
    // rewrite documented here, not a different operator.
    QueryDef("agg_cube_distinct",
      (s, dir) => {
        val t = star(s, dir)
        t.fact.join(broadcast(t.product), "product_id")
          .join(broadcast(t.time), "date_id")
          .cube(col("store_id"), col("season"))
          .agg(
            countDistinct(col("customer_id")).as("n_customers"),
            sum(col("purchase_amount")).cast(StringType).cast(DoubleType)
              .as("total_revenue"))
          .orderBy(asc_nulls_first("store_id"), asc_nulls_first("season"))
      },
      Some(StarSql.withStar("""
        SELECT p.store_id, t.season,
               count(DISTINCT f.customer_id) AS n_customers,
               CAST(CAST(SUM(f.purchase_amount) AS VARCHAR) AS DOUBLE) AS total_revenue
        FROM salefact f
        JOIN product_dim p ON f.product_id = p.product_id
        JOIN time_dim t ON f.date_id = t.date_id
        GROUP BY CUBE(p.store_id, t.season)
        ORDER BY p.store_id NULLS FIRST, t.season NULLS FIRST"""))),

    // Sketch aggregates (SURVEY §2.4's last open line): HyperLogLog++
    // distinct counting and t-digest-style approximate percentiles. Sketch
    // estimates are engine-specific (Spark HLL++ vs DuckDB's HLL differ by
    // design), so the cross-engine contract is ERROR-BOUNDED: the entry
    // emits the exact value plus booleans asserting the sketch landed
    // within its published error envelope (±15% = 3σ at rsd 0.05 for
    // HLL++; approx-p50 inside the exact [p25, p75]); the oracle computes
    // the exact values and pins the booleans TRUE. Both sketches are
    // deterministic given the data, so the compare is stable. At 100 TB
    // these are the mergeable one-pass aggregates that replace exact
    // distinct/percentile shuffles; SketchSpec pins the error behavior.
    QueryDef("sketch_approx_agg",
      (s, dir) => {
        // ONE fact scan: both legs read the persisted slim projection
        // (r6 VERDICT #3 — the legs group on different keys, so exchange
        // reuse can't unify them and each used to rescan fact⋈product).
        val byStore = Warehouse.factStoreSlim(s, dir)
        // exact distinct via dedup-then-count instead of countDistinct in
        // the shared agg: a distinct aggregate alongside plain aggregates
        // plans an Expand that doubles every fact row through the
        // aggregation; deduped (store, customer) pairs shuffle map-side-
        // combined and the 8-row results broadcast-join back. Re-measured
        // r7: the fused Expand form
        // over the store-partitioned cache runs 7.6s vs ~1.1s for this
        // split form — doubled rows land on #stores clustered tasks with
        // no partial aggregation, so the split stays.
        val exact = byStore.select(col("store_id"), col("customer_id"))
          .distinct()
          .groupBy(col("store_id")).agg(count(lit(1)).as("n_exact"))
        val sketches = byStore
          .groupBy(col("store_id"))
          .agg(
            approx_count_distinct(col("customer_id"), 0.05).as("n_approx"),
            // accuracy sized to the contract: the check is p50 inside the
            // exact IQR (±25 rank points); 2000 gives 0.05% rank error —
            // 500× inside the envelope with 5× smaller per-group summaries
            // to merge than the 10000 default (a memory/merge-size win at
            // scale; local latency is unchanged — measured, fixed job
            // costs dominate this entry at sf0.1)
            percentile_approx(col("purchase_amount").cast(DoubleType),
              lit(0.5), lit(2000)).as("p50_approx"),
            // one sort-agg for both exact quartiles, not one per quantile
            expr("percentile(CAST(purchase_amount AS DOUBLE), array(0.25, 0.75))")
              .as("iqr"))
        // Leg fusion + presentation (r8, measured at sf0.1 min-of-5
        // warm): both legs end clustered+aggregated on
        // store_id, so the MERGE hint joins them with a zero-exchange SMJ
        // (a broadcast join costs a separate broadcast-build job; the old
        // form measured 1.0-1.3s). The presentation sort is
        // repartition(1)+sortWithinPartitions over the #stores final
        // rows: orderBy plans a rangepartitioning exchange whose SAMPLING
        // job alone cost ~0.5s/run, and coalesce(1) is a trap — with
        // zero exchanges in the legs it propagates to the scan and
        // serializes the whole pipeline (measured 1.6s). This form:
        // 0.6-0.7s. At scale the final rows are dimension-bounded
        // (#stores), so the single-partition sort is constant work.
        sketches.join(exact.hint("merge"), "store_id")
          .select(col("store_id"), col("n_exact"),
            (abs(col("n_approx") - col("n_exact")) <=
              round(col("n_exact") * 0.15)).as("acd_within_3sigma"),
            (col("p50_approx") >= col("iqr").getItem(0) &&
              col("p50_approx") <= col("iqr").getItem(1)).as("p50_in_iqr"))
          .repartition(1)
          .sortWithinPartitions(col("store_id"))
      },
      Some(StarSql.withStar("""
        SELECT p.store_id, count(DISTINCT f.customer_id) AS n_exact,
               TRUE AS acd_within_3sigma, TRUE AS p50_in_iqr
        FROM salefact f JOIN product_dim p ON f.product_id = p.product_id
        GROUP BY p.store_id ORDER BY p.store_id"""))),

    // Per-group top-k (window form of the reference's "top 5 per group"
    // intent): top 3 products per category by revenue, rank over rounded-
    // free exact decimal sums with product tiebreak.
    QueryDef("q_top3_per_category",
      (s, dir) => {
        val t = star(s, dir)
        val rev = t.fact.join(broadcast(t.product), "product_id")
          .groupBy(col("product_category"), col("product_id"))
          .agg(sum(col("purchase_amount")).cast(StringType).cast(DoubleType)
            .as("revenue"))
        val w = Window.partitionBy(col("product_category"))
          .orderBy(col("revenue").desc, col("product_id"))
        rev.withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 3)
          .select(col("product_category"), col("product_id"), col("revenue"),
            col("rnk").cast(LongType).as("rnk"))
          .orderBy(col("product_category"), col("rnk"))
      },
      Some(StarSql.withStar("""
        , rev AS (
          SELECT p.product_category, p.product_id,
                 CAST(CAST(SUM(f.purchase_amount) AS VARCHAR) AS DOUBLE) AS revenue
          FROM salefact f JOIN product_dim p ON f.product_id = p.product_id
          GROUP BY p.product_category, p.product_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY product_category
                        ORDER BY revenue DESC, product_id) AS rnk FROM rev)
        SELECT product_category, product_id, revenue, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= 3
        ORDER BY product_category, rnk""")))
  )
}
