package org.apache.spark.sql.graft.dsv2

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, In}

import graft.SparkSpec

/** Pins the EQUALITY DELETE (r18, the Iceberg-v2 equality-delete form):
  * a key-list delete that commits one slim `.eqd` file per touched
  * bucket with ZERO data-file reads. Contract under test:
  *
  *  - the commit touches no data file (proved by truncating them FIRST —
  *    the position form could not even compute its vector);
  *  - readers skip the keys in both paths, including when doc_id is
  *    pruned away from the projection;
  *  - keys matching nothing are legal (the CDC tombstone contract);
  *  - aggregate pushdown and the reported row count refuse;
  *  - every rewrite reconciles the keys; compaction drops the files;
  *  - time travel serves the pre-delete snapshot.
  */
class GdfEqDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() = s"/tmp/graft-eq-spec-${System.nanoTime()}"

  private def plant(p: String): Unit =
    (0L until 40L).map(i => (i, 10L * i, s"t$i")).toDF("doc_id", "val", "tag")
      .withColumn("bucket", pmod(col("doc_id"), lit(4L)).cast("int"))
      .write.format("graftdocs").option("buckets", "4")
      .mode("overwrite").save(p)

  private def md5(f: File): String =
    MessageDigest.getInstance("MD5")
      .digest(java.nio.file.Files.readAllBytes(f.toPath))
      .map("%02x".format(_)).mkString

  private def readT(p: String) = spark.read.format("graftdocs").load(p)

  test("the commit reads and writes no data file") {
    val p = freshDir()
    plant(p)
    val before = GdfManifest.read(p).files.map(f =>
      f.name -> md5(new File(p, f.name))).toMap
    // destroy every data file: only a zero-read delete can commit now
    GdfManifest.read(p).files.foreach(f =>
      new java.io.FileOutputStream(new File(p, f.name)).close())
    GdfMaintenance.deleteByKeys(p, Seq(5L, 9L, 13L))
    val m = GdfManifest.read(p)
    assert(m.eqDeletes.map(_.bucket).sorted == Seq(1, 1, 1).distinct,
      s"keys 5,9,13 all live in bucket 1: ${m.eqDeletes}")
    assert(m.files.map(_.name).toSet == before.keySet,
      "data files must carry over verbatim in the manifest")
  }

  test("an append after the delete neither resurrects nor loses rows (seq rule)") {
    val p = freshDir()
    plant(p) // v1: rows 0..39, val = 10·id
    GdfMaintenance.deleteByKeys(p, Seq(5L, 9L)) // v2: eq delete
    // v3: append — including a RE-INSERT of key 5 with a new value
    Seq((5L, 777L, "new5"), (100L, 1L, "t100"))
      .toDF("doc_id", "val", "tag")
      .withColumn("bucket", pmod(col("doc_id"), lit(4L)).cast("int"))
      .write.format("graftdocs").option("buckets", "4").mode("append").save(p)
    val rows = readT(p).select("doc_id", "val").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(!rows.contains(9L), "the deleted key must STAY deleted after append")
    assert(rows.get(5L).contains(777L),
      s"the re-inserted key must serve the NEW row only: ${rows.get(5L)}")
    assert(rows.get(100L).contains(1L))
    assert(rows.size == 40 - 2 + 2, s"row count off: ${rows.size}")
    // and the rewrite paths agree: compaction reconciles to the same view
    GdfMaintenance.compact(spark, p)
    val after = readT(p).select("doc_id", "val").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after == rows, "compaction must preserve the sequenced view")
  }

  test("read view equals the other delete forms; pruned projection filters") {
    val p = freshDir()
    plant(p)
    GdfMaintenance.deleteByKeys(p, Seq(6L, 14L, 999L)) // 999: no match, legal
    assert(readT(p).count() == 38L)
    assert(readT(p).select(col("doc_id")).as[Long].collect().toSet ==
      (0L until 40L).toSet -- Set(6L, 14L))
    // doc_id pruned away: the key column must decode for the filter
    val tags = readT(p).select(col("tag")).as[String].collect().toSet
    assert(tags == (0L until 40L).filterNot(Set(6L, 14L))
      .map(i => s"t$i").toSet,
      "a doc_id-free projection must still apply the key skip")
    // time travel: v1 still serves everything
    assert(spark.read.format("graftdocs").option("version", "1").load(p)
      .count() == 40L)
  }

  test("aggregate pushdown and reported row count refuse under eq deletes") {
    val p = freshDir()
    plant(p)
    GdfMaintenance.deleteByKeys(p, Seq(3L))
    val t = readT(p)
    val agg = t.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val hasAgg = agg.queryExecution.optimizedPlan.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isDefined
    assert(hasAgg, "metadata-only aggregate must refuse (it would overcount)")
    assert(agg.agg(sum(col("n"))).head().getLong(0) == 39L)
    val stats = t.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.stats
    }.get
    assert(stats.rowCount.isEmpty,
      "the reported row count must be absent rather than wrong")
  }

  test("rewrites reconcile the keys; compaction drops the eq files") {
    val p = freshDir()
    plant(p)
    GdfMaintenance.deleteByKeys(p, Seq(2L, 6L))
    // a CoW delete of OTHER keys in the same bucket folds the eq keys in
    GdfMaintenance.deleteWhere(spark, p,
      Array[Filter](In("doc_id", Array[Any](10L))))
    assert(readT(p).select("doc_id").as[Long].collect().toSet ==
      (0L until 40L).toSet -- Set(2L, 6L, 10L))
    // compaction reconciles the remaining eq scope and drops the entries
    GdfMaintenance.compact(spark, p)
    val m = GdfManifest.read(p)
    assert(m.eqDeletes.isEmpty, "compaction must drop the eq-delete files")
    assert(readT(p).count() == 37L)
    assert(!new File(p).listFiles().exists(_.getName.endsWith(".eqd")) ||
      new GdfManifest.Listing(p).versions.size > 1, // older snapshots may still pin them
      "no dangling eq files beyond retained snapshots")
  }

  test("equality deletes surface in the change feed as deletes") {
    val p = freshDir()
    plant(p) // v1
    GdfMaintenance.deleteByKeys(p, Seq(7L, 11L)) // v2: eq only
    val got = GdfMaintenance.changes(spark, p, 1, 2)
      .select(col("doc_id"), col("_change_type"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((7L, "delete"), (11L, "delete")),
      s"the feed must see eq-deleted rows, got $got")
  }
}
