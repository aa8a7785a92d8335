package org.apache.spark.sql.graft.dsv2

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins WRITE-AUDIT-PUBLISH (r18): stage-only appends invisible to the
  * main read path, audit reads by explicit version, cherry-pick publish
  * onto a moved head, the changelog/CDC staged-skip, expiry of
  * unpublished stages, and the loud failure modes. */
class GdfWapSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() = s"/tmp/graft-wap-spec-${System.nanoTime()}"

  private def write(p: String, rows: Seq[(Long, Long)], mode: String,
      staged: Boolean = false): Unit = {
    val w = rows.toDF("doc_id", "val")
      .withColumn("bucket", pmod(col("doc_id"), lit(4L)).cast("int"))
      .write.format("graftdocs").option("buckets", "4")
    (if (staged) w.option("staged", "true") else w).mode(mode).save(p)
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("staged append is invisible until publish; audit sees it by version") {
    val p = freshDir()
    write(p, (0L until 20L).map(i => (i, i)), "overwrite") // v1
    write(p, Seq((100L, 1L), (101L, 2L)), "append", staged = true) // v2 staged
    val stagedV = new GdfManifest.Listing(p).versions.last
    assert(GdfManifest.readVersion(p, stagedV).staged)
    // main read path: unchanged
    assert(ids(spark.read.format("graftdocs").load(p)) == (0L until 20L).toSet)
    // the audit read addresses the stage explicitly
    assert(ids(spark.read.format("graftdocs")
      .option("version", stagedV.toString).load(p))
      == (0L until 20L).toSet ++ Set(100L, 101L))
    // publish cherry-picks the adds onto main
    val published = GdfMaintenance.publish(p, stagedV)
    assert(published > stagedV)
    assert(ids(spark.read.format("graftdocs").load(p))
      == (0L until 20L).toSet ++ Set(100L, 101L))
  }

  test("publish cherry-picks onto a head that moved since staging") {
    val p = freshDir()
    write(p, (0L until 10L).map(i => (i, i)), "overwrite") // v1
    write(p, Seq((100L, 1L)), "append", staged = true) // v2 staged
    val stagedV = new GdfManifest.Listing(p).versions.last
    write(p, Seq((200L, 2L)), "append") // v3: head moves past the stage
    assert(ids(spark.read.format("graftdocs").load(p))
      == (0L until 10L).toSet + 200L)
    GdfMaintenance.publish(p, stagedV)
    assert(ids(spark.read.format("graftdocs").load(p))
      == (0L until 10L).toSet ++ Set(100L, 200L),
      "publish must keep the intervening commit AND the staged rows")
  }

  test("the changelog and CDC never step through a staged snapshot") {
    val p = freshDir()
    write(p, (0L until 10L).map(i => (i, i)), "overwrite") // v1
    write(p, Seq((100L, 1L)), "append", staged = true) // v2 staged
    val stagedV = new GdfManifest.Listing(p).versions.last
    write(p, Seq((200L, 2L)), "append") // v3
    // with the stage BETWEEN two retained mains, the log steps 1 → 3
    assert(new GdfManifest.Listing(p).main.map(_._1) == Seq(1, 3))
    def log() = GdfMaintenance.changesLog(spark, p)
      .select("doc_id", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(log() == Set((200L, "insert", 3)),
      s"the staged snapshot must not be a feed step: ${log()}")
    GdfMaintenance.publish(p, stagedV) // v4 (v1 expires: keep-last-3)
    assert(new GdfManifest.Listing(p).main.map(_._1) == Seq(3, 4))
    assert(log() == Set((100L, "insert", 4)),
      s"staged rows must surface at PUBLISH, got ${log()}")
  }

  test("an unpublished stage expires with retention; publish then fails loudly") {
    val p = freshDir()
    write(p, (0L until 10L).map(i => (i, i)), "overwrite") // v1
    write(p, Seq((100L, 1L)), "append", staged = true) // v2 staged
    val stagedV = new GdfManifest.Listing(p).versions.last
    (1 to 3).foreach(k => write(p, Seq((200L + k, 0L)), "append")) // v3..v5
    assert(!new GdfManifest.Listing(p).versions.contains(stagedV),
      "the unpublished stage must expire by ordinary retention")
    val e = intercept[IllegalArgumentException] {
      GdfMaintenance.publish(p, stagedV)
    }
    assert(e.getMessage.contains("no snapshot"))
  }

  test("loud failures: double publish, non-staged publish, staged overwrite") {
    val p = freshDir()
    write(p, (0L until 10L).map(i => (i, i)), "overwrite") // v1
    write(p, Seq((100L, 1L)), "append", staged = true) // v2
    val stagedV = new GdfManifest.Listing(p).versions.last
    GdfMaintenance.publish(p, stagedV)
    val e1 = intercept[IllegalArgumentException] {
      GdfMaintenance.publish(p, stagedV)
    }
    assert(e1.getMessage.contains("already published"))
    val e2 = intercept[IllegalArgumentException] {
      GdfMaintenance.publish(p, 1)
    }
    assert(e2.getMessage.contains("not a staged snapshot"))
    val e3 = intercept[Exception] {
      write(p, Seq((1L, 1L)), "overwrite", staged = true)
    }
    assert(e3.getMessage.contains("must be an APPEND"))
  }

  test("double publish stays loud even after a compaction renames the files") {
    val p = freshDir()
    write(p, (0L until 20L).map(i => (i, i)), "overwrite") // v1
    write(p, Seq((100L, 1L), (101L, 2L)), "append", staged = true) // v2
    val stagedV = new GdfManifest.Listing(p).versions.last
    GdfMaintenance.publish(p, stagedV)
    // compaction rewrites the fragmented buckets — the published staged
    // files' NAMES disappear from the manifest (r19: the durable
    // `published` ledger, not the live-name inference, must catch the
    // replay; name-inference alone would silently re-insert the rows)
    GdfMaintenance.compact(spark, p)
    assert(!GdfManifest.read(p).files.map(_.name)
      .exists(GdfManifest.readVersion(p, stagedV).stagedAdds.contains),
      "fixture: compaction must have renamed the published files")
    val e = intercept[IllegalArgumentException] {
      GdfMaintenance.publish(p, stagedV)
    }
    assert(e.getMessage.contains("already published"))
    assert(ids(spark.read.format("graftdocs").load(p))
      == (0L until 20L).toSet ++ Set(100L, 101L), "no duplicated rows")
  }

  test("stacked stages never expire the main head; main read stays served") {
    val p = freshDir()
    write(p, (0L until 10L).map(i => (i, i)), "overwrite") // v1 (main head)
    (1 to 4).foreach(k =>
      write(p, Seq((100L + k, 0L)), "append", staged = true)) // v2..v5 staged
    assert(new GdfManifest.Listing(p).versions.contains(1),
      "the main head must be pinned past keep-last-N")
    assert(ids(spark.read.format("graftdocs").load(p)) == (0L until 10L).toSet)
  }
}
