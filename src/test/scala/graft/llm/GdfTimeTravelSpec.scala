package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the connector's SNAPSHOT machinery (r16): every overwrite
  * commits a versioned manifest over version-suffixed data files, a
  * read pins `version=N`, snapshots past the retention window are
  * EXPIRED (manifests and their orphaned data files), and an expired or
  * unknown version fails loudly — the Iceberg time-travel +
  * expire-snapshots contract in miniature. */
class GdfTimeTravelSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() = s"/tmp/graft-tt-spec-${System.nanoTime()}"

  private def write(p: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("doc_id", "v")
      .withColumn("bucket", pmod(col("doc_id"), lit(4L)).cast("int"))
      .write.format("graftdocs").option("buckets", "4")
      .mode("overwrite").save(p)

  private def readV(p: String, v: Int) =
    spark.read.format("graftdocs").option("version", v.toString).load(p)

  test("a pinned version serves pre-overwrite bytes (snapshot isolation)") {
    val p = freshDir()
    val v1 = (0L until 20L).map(i => (i, s"a$i"))
    write(p, v1)
    val v2 = v1.filter(_._1 % 2 == 0).map { case (i, _) => (i, s"b$i") }
    write(p, v2)
    // current == v2, including the UPDATED payloads
    val cur = spark.read.format("graftdocs").load(p)
      .select(col("doc_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cur.size == 10 && cur(4L) == "b4")
    // the pinned v1 still serves the ORIGINAL 20 rows and payloads
    val old = readV(p, 1).select(col("doc_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(old.size == 20 && old(4L) == "a4" && old(5L) == "a5")
  }

  test("retention expires old snapshots and their orphaned files") {
    val p = freshDir()
    for (n <- 1 to 5) // 5 commits, retention = 3 -> v1, v2 expired
      write(p, (0L until 8L).map(i => (i, s"r$n-$i")))
    val dir = new java.io.File(p)
    val manifests = dir.listFiles().map(_.getName)
      .filter(_.startsWith("manifest-v")).sorted.toSeq
    assert(manifests == Seq("manifest-v3.json", "manifest-v4.json",
      "manifest-v5.json"))
    // v1/v2 data files are gone; exactly v3..v5's remain
    val gdfs = dir.listFiles().map(_.getName).filter(_.endsWith(".gdf"))
    val retained = manifests.flatMap(m => "\"name\":\"([^\"]+\\.gdf)\"".r
      .findAllMatchIn(new String(java.nio.file.Files.readAllBytes(
        new java.io.File(dir, m).toPath))).map(_.group(1))).toSet
    assert(gdfs.toSet == retained, s"orphans survive: ${gdfs.mkString(",")}")
    // retained snapshots all read, each its own payload generation
    for (v <- 3 to 5)
      assert(readV(p, v).select(col("v")).collect()
        .forall(_.getString(0).startsWith(s"r$v-")))
    // expired and unknown versions fail loudly
    for (v <- Seq(1, 99))
      assert(intercept[Exception](readV(p, v).count())
        .getMessage.contains("snapshot"), s"v$v should fail at the manifest")
  }

  test("the graded diff matches the drop rule end to end") {
    val out = DocsDsv2.timeTravelDiff(spark, sf001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val want = if (r.getLong(0) % DocsDsv2.TtDropMod == DocsDsv2.TtDropRes)
        "removed" else "retained"
      assert(r.getString(1) == want, s"doc ${r.getLong(0)}")
    }
  }
}
