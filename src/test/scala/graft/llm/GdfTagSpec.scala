package org.apache.spark.sql.graft.dsv2

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins NAMED TAGS and TIMESTAMP time travel (r18): monotonic commit
  * timestamps, tag refs carried through every commit path, tagged
  * snapshots pinned PAST retention expiry, and the loud failure modes. */
class GdfTagSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() = s"/tmp/graft-tag-spec-${System.nanoTime()}"

  private def overwrite(p: String, n: Long): Unit =
    (0L until n).map(i => (i, 10L * i)).toDF("doc_id", "val")
      .withColumn("bucket", pmod(col("doc_id"), lit(4L)).cast("int"))
      .write.format("graftdocs").option("buckets", "4")
      .mode("overwrite").save(p)

  test("a tagged snapshot survives retention expiry; untagged ones don't") {
    val p = freshDir()
    overwrite(p, 40L) // v1
    GdfMaintenance.createTag(p, "raw", 1) // v2 (metadata commit)
    (0 until 4).foreach(i => overwrite(p, 10L + i)) // v3..v6
    // retention keeps the last 3 (v4..v6) PLUS the pinned v1
    val vs = new GdfManifest.Listing(p).versions
    assert(vs.contains(1) && !vs.contains(2) && !vs.contains(3),
      s"v1 pinned, v2/v3 expired — got $vs")
    // the tag still serves the ORIGINAL 40 rows, bytes intact
    assert(spark.read.format("graftdocs")
      .option("version", GdfMaintenance.resolveVersion(p, "raw").toString)
      .load(p).count() == 40L)
    // dropping the tag makes v1 expirable at the NEXT commit
    GdfMaintenance.dropTag(p, "raw")
    overwrite(p, 5L)
    assert(!new GdfManifest.Listing(p).versions.contains(1), "unpinned v1 must expire")
  }

  test("a tag name holding a quote keeps its snapshot through retention") {
    val p = freshDir()
    overwrite(p, 40L) // v1
    GdfMaintenance.createTag(p, "rel\"1", 1) // v2
    (0 until 4).foreach(i => overwrite(p, 10L + i)) // v3..v6
    assert(new GdfManifest.Listing(p).versions.contains(1),
      "the quoted tag must pin v1 past retention")
    assert(GdfMaintenance.resolveVersion(p, "rel\"1") == 1)
    assert(spark.read.format("graftdocs").option("version", "rel\"1")
      .load(p).count() == 40L)
  }

  test("tags ride through overwrite/append/CoW; resolution is loud") {
    val p = freshDir()
    overwrite(p, 8L) // v1
    GdfMaintenance.createTag(p, "keep", 1)
    overwrite(p, 6L) // overwrite carries refs
    assert(GdfManifest.read(p).refs == Seq("keep" -> 1))
    intercept[IllegalArgumentException](
      GdfMaintenance.createTag(p, "keep", 1)) // duplicate
    intercept[IllegalArgumentException](
      GdfMaintenance.createTag(p, "42", 1)) // numeric tags reserved
    intercept[IllegalArgumentException](
      GdfMaintenance.resolveVersion(p, "nope")) // unknown tag
  }

  test("commit timestamps are strictly monotonic; TIMESTAMP AS OF resolves") {
    val p = freshDir()
    overwrite(p, 4L); overwrite(p, 5L); overwrite(p, 6L) // v1..v3
    val ts = new GdfManifest.Listing(p).versions
      .map(v => v -> GdfManifest.readVersion(p, v).ts)
    assert(ts.map(_._2) == ts.map(_._2).sorted.distinct,
      s"timestamps must be strictly increasing: $ts")
    // the instant of v2 resolves to v2; just before v1 fails loudly
    val (v2, t2) = ts(1)
    assert(GdfMaintenance.resolveTimestamp(p, t2 * 1000L) == v2)
    assert(GdfMaintenance.resolveTimestamp(p, t2 * 1000L + 999L) == v2)
    assert(GdfMaintenance.resolveTimestamp(p, ts.last._2 * 1000L) ==
      ts.last._1)
    intercept[IllegalArgumentException](
      GdfMaintenance.resolveTimestamp(p, (ts.head._2 - 1) * 1000L))
  }

  test("SQL: CALL create_tag + VERSION AS OF '<tag>' + TIMESTAMP AS OF") {
    val root = freshDir()
    val cat = s"grafttag${System.nanoTime() % 100000}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    overwrite(s"$root/t", 12L) // v1
    spark.sql(s"CALL $cat.create_tag('t', 'v1-release', 1)") // v2
    overwrite(s"$root/t", 7L) // v3
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 'v1-release'")
      .head().getLong(0) == 12L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 7L)
    // TIMESTAMP AS OF through SQL: the v1 commit instant serves v1
    val t1 = GdfManifest.readVersion(s"$root/t", 1).ts
    val iso = java.time.Instant.ofEpochMilli(t1).toString.replace("T", " ")
      .stripSuffix("Z")
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.t TIMESTAMP AS OF '$iso'")
      .head().getLong(0) == 12L)
    spark.sql(s"CALL $cat.drop_tag('t', 'v1-release')")
    val e = intercept[Exception](spark.sql(
      s"SELECT count(*) FROM $cat.t VERSION AS OF 'v1-release'").collect())
    assert(e.getMessage.contains("v1-release"))
  }
}
