package org.apache.spark.sql.graft.dsv2

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins CHECK CONSTRAINTS (r18, the Delta ALTER TABLE ADD CONSTRAINT
  * shape): existing-data validation at add, per-row write-path
  * enforcement (batch + merge source), SQL three-valued semantics
  * (UNKNOWN passes), literal type coercion through the real analyzer,
  * survival across overwrite, drop, and the loud failure modes. */
class GdfConstraintSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() = s"/tmp/graft-con-spec-${System.nanoTime()}"

  private def write(p: String, rows: Seq[(Long, java.lang.Long)],
      mode: String): Unit =
    rows.toDF("doc_id", "val")
      .withColumn("bucket", pmod(col("doc_id"), lit(4L)).cast("int"))
      .write.format("graftdocs").option("buckets", "4").mode(mode).save(p)

  private def vOf(p: String): Int = new GdfManifest.Listing(p).versions.last

  test("a violating append is refused; the table state is untouched") {
    val p = freshDir()
    write(p, (0L until 20L).map(i => (i, java.lang.Long.valueOf(10 * i))),
      "overwrite") // v1
    GdfMaintenance.addConstraint(spark, p, "val_nonneg", "val >= 0") // v2
    val before = vOf(p)
    val e = intercept[Exception] {
      write(p, Seq((100L, java.lang.Long.valueOf(-5L))), "append")
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | "))
    assert(rootMsg(e).contains("val_nonneg"), s"got: ${rootMsg(e)}")
    assert(vOf(p) == before, "a refused write must not commit a snapshot")
    assert(spark.read.format("graftdocs").load(p).count() == 20L)
    // a clean append still works, and integer-literal coercion held
    write(p, Seq((100L, java.lang.Long.valueOf(5L))), "append")
    assert(spark.read.format("graftdocs").load(p).count() == 21L)
  }

  test("constraints whose SQL holds a quote or a bracket survive a re-read") {
    val p = freshDir()
    Seq((0L, "de"), (1L, "fr")).toDF("doc_id", "lang")
      .withColumn("bucket", pmod(col("doc_id"), lit(4L)).cast("int"))
      .write.format("graftdocs").option("buckets", "4")
      .mode("overwrite").save(p)
    GdfMaintenance.addConstraint(spark, p, "not_en", "lang <> \"en\"")
    GdfMaintenance.addConstraint(spark, p, "not_x", "lang <> 'x]'")
    assert(GdfManifest.read(p).constraints ==
      Seq("not_en" -> "lang <> \"en\"", "not_x" -> "lang <> 'x]'"))
    for ((lang, name) <- Seq("en" -> "not_en", "x]" -> "not_x")) {
      val e = intercept[Exception] {
        Seq((9L, lang)).toDF("doc_id", "lang")
          .withColumn("bucket", pmod(col("doc_id"), lit(4L)).cast("int"))
          .write.format("graftdocs").option("buckets", "4")
          .mode("append").save(p)
      }
      val msg = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msg.contains(name), s"$lang must violate $name, got: $msg")
    }
    assert(spark.read.format("graftdocs").load(p).count() == 2L)
  }

  test("adding a constraint existing rows violate fails loudly, commits nothing") {
    val p = freshDir()
    write(p, Seq((0L, java.lang.Long.valueOf(-1L)),
      (1L, java.lang.Long.valueOf(3L))), "overwrite")
    val before = vOf(p)
    val e = intercept[IllegalArgumentException] {
      GdfMaintenance.addConstraint(spark, p, "val_nonneg", "val >= 0")
    }
    assert(e.getMessage.contains("existing rows violate"))
    assert(vOf(p) == before)
    assert(GdfManifest.read(p).constraints.isEmpty)
  }

  test("null rows pass; constraints survive overwrite; drop re-admits") {
    val p = freshDir()
    write(p, Seq((0L, java.lang.Long.valueOf(10L))), "overwrite")
    GdfMaintenance.addConstraint(spark, p, "val_pos", "val > 0")
    // NULL val: UNKNOWN -> passes (three-valued CHECK)
    write(p, Seq((4L, null: java.lang.Long)), "append")
    assert(spark.read.format("graftdocs").load(p)
      .where(col("doc_id") === 4L).select("val").collect().head.isNullAt(0))
    // overwrite replaces the data, keeps the constraint (table property)
    write(p, Seq((1L, java.lang.Long.valueOf(7L))), "overwrite")
    assert(GdfManifest.read(p).constraints.map(_._1) == Seq("val_pos"))
    intercept[Exception] {
      write(p, Seq((2L, java.lang.Long.valueOf(-1L))), "append")
    }
    GdfMaintenance.dropConstraint(p, "val_pos")
    write(p, Seq((2L, java.lang.Long.valueOf(-1L))), "append")
    assert(spark.read.format("graftdocs").load(p).count() == 2L)
  }

  test("the merge source is gated too") {
    val p = freshDir()
    write(p, (0L until 8L).map(i => (i, java.lang.Long.valueOf(i))),
      "overwrite")
    GdfMaintenance.addConstraint(spark, p, "val_nonneg", "val >= 0")
    val e = intercept[GdfConstraintViolation] {
      GdfMaintenance.mergeInto(spark, p,
        Seq((3L, -9L)).toDF("doc_id", "val"))
    }
    assert(e.getMessage.contains("merge-source row"))
    // the matched row kept its old value — nothing rewrote
    assert(spark.read.format("graftdocs").load(p)
      .where(col("doc_id") === 3L).select("val").collect()
      .head.getLong(0) == 3L)
    GdfMaintenance.mergeInto(spark, p, Seq((3L, 42L)).toDF("doc_id", "val"))
    assert(spark.read.format("graftdocs").load(p)
      .where(col("doc_id") === 3L).select("val").collect()
      .head.getLong(0) == 42L)
  }

  test("loud failures: duplicate name, unknown drop, unresolvable column") {
    val p = freshDir()
    write(p, Seq((0L, java.lang.Long.valueOf(1L))), "overwrite")
    GdfMaintenance.addConstraint(spark, p, "c1", "val > 0")
    val e1 = intercept[IllegalArgumentException] {
      GdfMaintenance.addConstraint(spark, p, "c1", "val > 0")
    }
    assert(e1.getMessage.contains("already exists"))
    val e2 = intercept[IllegalArgumentException] {
      GdfMaintenance.dropConstraint(p, "nope")
    }
    assert(e2.getMessage.contains("no constraint"))
    intercept[Exception] {
      GdfMaintenance.addConstraint(spark, p, "c2", "no_such_col > 0")
    }
  }
}
