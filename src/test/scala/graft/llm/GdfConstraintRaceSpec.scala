package org.apache.spark.sql.graft.dsv2

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r19 close of the addConstraint OCC race (ADVICE r18,
  * medium): validation and commit are two steps, and both interleaving
  * directions must stay sound —
  *
  *  1. rows APPENDED between the pre-check and the constraint commit
  *     are RE-VALIDATED inside the commit loop (a `files`-subset read
  *     of exactly the fresh files): a violating racer fails the add,
  *     a legal racer lets it proceed;
  *  2. a write that BOUND its constraint set before the constraint
  *     landed but COMMITS after it is rejected at its own commit
  *     ([[GdfConstraints.requireCurrent]]) — the batch, streaming-epoch,
  *     and SQL row-level commit closures all call it, so no unchecked
  *     row can land through a stale plan.
  *
  * The racing append is injected through addConstraint's test seam, not
  * a sleep — the interleaving is deterministic. */
class GdfConstraintRaceSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() = s"/tmp/graft-conrace-spec-${System.nanoTime()}"

  private def write(p: String, rows: Seq[(Long, Long)], mode: String): Unit =
    rows.toDF("doc_id", "val")
      .withColumn("bucket", pmod(col("doc_id"), lit(4L)).cast("int"))
      .write.format("graftdocs").option("buckets", "4").mode(mode).save(p)

  test("a violating append racing the add fails the add; nothing commits") {
    val p = freshDir()
    write(p, (0L until 12L).map(i => (i, i)), "overwrite") // all val >= 0
    val e = intercept[IllegalArgumentException] {
      GdfMaintenance.addConstraint(spark, p, "val_nonneg", "val >= 0",
        afterPrecheck = () => write(p, Seq((100L, -5L)), "append"))
    }
    assert(e.getMessage.contains("while the add was validating"),
      s"expected the fresh-file re-validation to catch the racer, got $e")
    assert(GdfManifest.read(p).constraints.isEmpty,
      "the failed add must not commit the constraint")
    // the racer's legal-at-its-time rows stay (it committed first)
    assert(spark.read.format("graftdocs").load(p).count() == 13L)
  }

  test("a legal append racing the add is validated and the add proceeds") {
    val p = freshDir()
    write(p, (0L until 12L).map(i => (i, i)), "overwrite")
    GdfMaintenance.addConstraint(spark, p, "val_nonneg", "val >= 0",
      afterPrecheck = () => write(p, Seq((100L, 7L)), "append"))
    assert(GdfManifest.read(p).constraints == Seq("val_nonneg" -> "val >= 0"))
    assert(spark.read.format("graftdocs").load(p).count() == 13L)
  }

  test("a write that bound a stale constraint set is rejected at commit") {
    val p = freshDir()
    write(p, (0L until 12L).map(i => (i, i)), "overwrite")
    // the write PLANS (binds constraints — none exist yet) ...
    val m = GdfManifest.read(p)
    val stale = new GdfBatchWrite(p, m.schema, m.buckets, m.layout,
      truncate = false, version = GdfManifest.nextVersion(p), staged = false,
      constraints = Seq.empty, branch = "") // what planning bound: nothing
    // ... then the constraint lands BEFORE the write's commit
    GdfMaintenance.addConstraint(spark, p, "val_nonneg", "val >= 0")
    val f = GdfFormat.writeFile(p, "part-0-stale.gdf", m.schema, 0,
      Seq(Array[Any](100L, -5L, 0)))
    val e = intercept[GdfConstraintViolation] {
      stale.commit(Array(GdfCommit(Seq(f))))
    }
    assert(e.getMessage.contains("were added after this write bound"))
    assert(!GdfManifest.read(p).files.map(_.name).contains("part-0-stale.gdf"),
      "the stale write's rows must not land")
  }

  test("requireCurrent passes when the bound set covers the manifest's") {
    val p = freshDir()
    write(p, (0L until 4L).map(i => (i, i)), "overwrite")
    GdfMaintenance.addConstraint(spark, p, "val_nonneg", "val >= 0")
    val bound = GdfConstraints.bind(GdfManifest.read(p).schema,
      GdfManifest.read(p).constraints)
    // bound == manifest set: no throw
    GdfConstraints.requireCurrent(p, Some(GdfManifest.read(p)), bound)
    // a write may bind a SUPERSET (a constraint dropped mid-flight is
    // merely stricter enforcement, never an unchecked row)
    GdfMaintenance.dropConstraint(p, "val_nonneg")
    GdfConstraints.requireCurrent(p, Some(GdfManifest.read(p)), bound)
  }
}
