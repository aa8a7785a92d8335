package org.apache.spark.sql.graft.dsv2

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins ROW LINEAGE (r18, the Iceberg-v3 stable row identity): virtual
  * id assignment at commit, stability across MoR delete / CoW delete /
  * merge update / compaction, append range extension, update identity,
  * time-travel lineage, and the loud no-lineage path. */
class GdfLineageSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() = s"/tmp/graft-lin-spec-${System.nanoTime()}"

  private def plant(p: String, n: Long = 40L): Unit =
    (0L until n).map(i => (i, 10L * i)).toDF("doc_id", "val")
      .withColumn("bucket", pmod(col("doc_id"), lit(4L)).cast("int"))
      .write.format("graftdocs").option("buckets", "4")
      .mode("overwrite").save(p)

  private def lineage(p: String, version: Option[Int] = None)
      : Map[Long, Long] = {
    val r = spark.read.format("graftdocs").option("rowlineage", "true")
    version.foreach(v => r.option("version", v.toString))
    r.load(p).select("doc_id", "_row_id").collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
  }

  test("ids assign once and survive MoR delete, CoW merge, compaction") {
    val p = freshDir()
    plant(p) // v1
    val v1 = lineage(p)
    assert(v1.values.toSeq.sorted == (0L until 40L).toList,
      "v1 must assign a dense 0..n-1 id space")
    // MoR delete: survivors keep ids (positions are physical)
    GdfMaintenance.deleteWhereMor(spark, p,
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("doc_id", Array[Any](3L, 17L))))
    val afterMor = lineage(p)
    assert(afterMor == v1 -- Seq(3L, 17L), "MoR delete must not move ids")
    // merge UPDATE: the updated row keeps its identity
    GdfMaintenance.mergeInto(spark, p,
      Seq((5L, 999L)).toDF("doc_id", "val"))
    val afterMerge = lineage(p)
    assert(afterMerge == afterMor, "an update must keep the row's id")
    assert(spark.read.format("graftdocs").load(p)
      .where(col("doc_id") === 5L).select("val").head().getLong(0) == 999L)
    // compaction: ids travel through the bucket rewrite
    GdfMaintenance.compact(spark, p)
    assert(lineage(p) == afterMerge, "compaction must preserve ids")
    // CoW delete after the physical materialization
    GdfMaintenance.deleteWhere(spark, p,
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("doc_id", 9L)))
    assert(lineage(p) == afterMerge - 9L, "CoW delete must not move ids")
  }

  test("ranges assign in NUMERIC bucket order at >=10 buckets (r19 fix)") {
    val p = freshDir()
    // 16 buckets: lexicographic file-name order would put part-10-…
    // before part-2-… and silently diverge from the documented
    // bucket-then-doc_id rule the oracles re-derive
    (0L until 64L).map(i => (i, i)).toDF("doc_id", "val")
      .withColumn("bucket", pmod(col("doc_id"), lit(16L)).cast("int"))
      .write.format("graftdocs").option("buckets", "16")
      .mode("overwrite").save(p)
    val got = lineage(p)
    val want = (0L until 64L).sortBy(d => (d % 16, d)).zipWithIndex
      .map { case (d, r) => d -> r.toLong }.toMap
    assert(got == want,
      "row ids must follow numeric (bucket, doc_id) order, not file-name order")
  }

  test("appends draw fresh non-overlapping ranges; time travel serves old ids") {
    val p = freshDir()
    plant(p, 20L) // v1: ids 0..19
    Seq((100L, 1L), (101L, 2L)).toDF("doc_id", "val")
      .withColumn("bucket", pmod(col("doc_id"), lit(4L)).cast("int"))
      .write.format("graftdocs").option("buckets", "4")
      .mode("append").save(p) // v2
    val ids = lineage(p)
    assert(ids.size == 22 && ids.values.toSeq.distinct.size == 22,
      "appended rows must get fresh unique ids")
    assert(Seq(100L, 101L).forall(d => ids(d) >= 20L),
      s"fresh ids start past the v1 range: $ids")
    val v1 = lineage(p, Some(1))
    assert(v1 == ids.filter(_._1 < 20L), "time travel serves the v1 ids")
  }

  test("_row_id is a SQL metadata column: selectable, hidden from *") {
    val root = s"/tmp/graft-lin-cat-${System.nanoTime()}"
    val cat = s"graftlincat${System.nanoTime() % 100000}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    plant(s"$root/t", 12L)
    val ids = spark.sql(s"SELECT doc_id, _row_id FROM $cat.t ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ids.map(_._2).sorted.toSeq == (0L until 12L).toList)
    // the metadata column never leaks into SELECT *
    assert(!spark.sql(s"SELECT * FROM $cat.t").columns.contains("_row_id"))
  }

  test("a pre-lineage file fails the lineage read loudly") {
    val p = freshDir()
    plant(p)
    // simulate a legacy manifest: reset every fr to the no-lineage -1
    val vf = new java.io.File(p,
      s"manifest-v${new GdfManifest.Listing(p).versions.last}.json")
    val json = new String(java.nio.file.Files.readAllBytes(vf.toPath))
    java.nio.file.Files.write(vf.toPath,
      json.replaceAll("\"fr\":-?\\d+", "\"fr\":-1").getBytes)
    val e = intercept[Exception] {
      lineage(p)
    }
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs(e).contains("no row lineage"), msgs(e))
  }
}
