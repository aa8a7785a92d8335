package org.apache.spark.sql.graft.dsv2

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, In}

import graft.SparkSpec

/** Pins the METADATA TABLES (r18): `<table>$files` / `<table>$snapshots`
  * through the graft catalog. Contract under test:
  *
  *  - `$files` mirrors the manifest exactly (bucket, physical vs live
  *    rows, zone map, dv flag); `$snapshots` mirrors the retained
  *    history;
  *  - metadata queries are DRIVER-LOCAL: they open zero data files
  *    (every `.gdf` truncated, the SELECTs still answer);
  *  - the `$` namespace is virtual — unknown kinds fail loudly, CTAS
  *    into a `$` name is rejected, SHOW TABLES lists only real tables.
  */
class GdfMetaSpec extends SparkSpec {
  import spark.implicits._

  private val root = s"/tmp/graft-meta-spec-${System.nanoTime()}"
  private val cat = "graftmetaspec"

  private lazy val table: String = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (0L until 40L).map(i => (i, 10L * i)).toDF("doc_id", "val")
      .withColumn("bucket", pmod(col("doc_id"), lit(4L)).cast("int"))
      .write.format("graftdocs").option("buckets", "4")
      .mode("overwrite").save(s"$root/t") // v1
    GdfMaintenance.deleteWhereMor(spark, s"$root/t",
      Array[Filter](In("doc_id", Array[Any](2L, 6L)))) // v2: dv on bucket 2
    "t"
  }

  test("$files mirrors the manifest: rows, live rows, zone map, dv flag") {
    val got = spark.sql(
      s"""SELECT bucket, n_rows, live_rows, min_doc_id, max_doc_id, has_dv
          FROM $cat.`$table$$files` ORDER BY bucket""")
      .as[(Int, Long, Long, Long, Long, Boolean)].collect().toSeq
    val want = (0 until 4).map { b =>
      val dead = if (b == 2) 2L else 0L
      (b, 10L, 10L - dead, b.toLong, 36L + b, b == 2)
    }
    assert(got == want, s"files mismatch:\n${got.mkString("\n")}")
  }

  test("$snapshots mirrors the retained history with live counts and ops") {
    table
    val got = spark.sql(
      s"""SELECT version, operation, n_files, n_rows, layout, buckets
          FROM $cat.`$table$$snapshots` ORDER BY version""")
      .as[(Int, String, Long, Long, String, Int)].collect().toSeq
    assert(got == Seq((1, "overwrite", 4L, 40L, "hash", 4),
      (2, "delete", 4L, 38L, "hash", 4)))
  }

  test("metadata queries open zero data files") {
    table
    GdfManifest.read(s"$root/t").files.foreach(f =>
      new java.io.FileOutputStream(new File(s"$root/t", f.name)).close())
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$table$$files`")
      .head().getLong(0) == 4L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$table$$snapshots`")
      .head().getLong(0) == 2L)
  }

  test("$refs lists tags AND branches with head + fork base (r19)") {
    table
    GdfMaintenance.createTag(s"$root/t", "audit", 1)
    // one branch commit: forks off the current main head
    val mainHead = new GdfManifest.Listing(s"$root/t").main.map(_._1).last
    import spark.implicits._
    Seq((400L, 4L)).toDF("doc_id", "val")
      .withColumn("bucket", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(4L)).cast("int"))
      .write.format("graftdocs").option("buckets", "4")
      .option("branch", "wip").mode("append").save(s"$root/t")
    val bHead = new GdfManifest.Listing(s"$root/t").branchHead("wip").get._1
    val got = spark.sql(
      s"SELECT name, kind, version, fork_base FROM $cat.`$table$$refs` " +
        "ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3))).toSeq
    assert(got == Seq(("audit", "tag", 1, -1),
      ("wip", "branch", bHead, mainHead)))
  }

  test("$constraints lists the CHECK constraints") {
    table
    GdfMaintenance.addConstraint(spark, s"$root/t", "ids_ok", "doc_id >= 0")
    val got = spark.sql(
      s"SELECT name, predicate FROM $cat.`$table$$constraints` ORDER BY name")
      .as[(String, String)].collect().toSeq
    assert(got == Seq(("ids_ok", "doc_id >= 0")))
    GdfMaintenance.dropConstraint(s"$root/t", "ids_ok")
    assert(spark.sql(s"SELECT * FROM $cat.`$table$$constraints`").count() == 0)
  }

  test("the $ namespace is virtual") {
    table
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.`$table$$bogus`").collect())
    assert(e.getMessage.contains("bogus"),
      s"unknown metadata kind must fail loudly, got: ${e.getMessage}")
    val e2 = intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.`x$$files` AS SELECT 1 AS a").collect())
    assert(e2.getMessage.contains("reserved"),
      s"CTAS into a $$ name must be rejected, got: ${e2.getMessage}")
    val listed = spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).toSet
    assert(listed == Set(table), s"only real tables are listed, got $listed")
  }
}
