package org.apache.spark.sql.graft.dsv2

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL STORED PROCEDURES for the graft catalog (r18) — Spark 4's
  * `ProcedureCatalog` surface, the Iceberg `CALL catalog.system.proc`
  * shape: the maintenance verbs an operator runs on a schedule become
  * plain SQL, returning their summary as a result set:
  *
  *   spark.sql("CALL graft.compact('docs')")         // X121 OPTIMIZE
  *   spark.sql("CALL graft.remove_orphans('docs')")  // X131 orphan GC
  *
  * Each bound procedure runs the existing connector verb (never a
  * side-door reimplementation) and serves its summary through a
  * driver-local [[LocalScan]] — the same metadata-result shape as the
  * `$files`/`$snapshots` tables. */
private[dsv2] object GdfProcedures {

  val Names: Seq[String] =
    Seq("compact", "compact_binpack", "remove_orphans", "create_tag",
      "drop_tag", "rebucket", "publish", "add_column", "add_constraint",
      "drop_constraint", "ndv", "rollback", "fast_forward", "drop_branch",
      "set_retention", "expire_snapshots", "drop_column")

  def load(root: String, name: String): UnboundProcedure = name match {
    case "compact" => new CompactProc(root)
    case "set_retention" => new SetRetentionProc(root)
    case "expire_snapshots" => new ExpireSnapshotsProc(root)
    case "drop_column" => new DropColumnProc(root)
    case "compact_binpack" => new CompactBinpackProc(root)
    case "rollback" => new RollbackProc(root)
    case "fast_forward" => new FastForwardProc(root)
    case "drop_branch" => new DropBranchProc(root)
    case "remove_orphans" => new RemoveOrphansProc(root)
    case "create_tag" => new CreateTagProc(root)
    case "drop_tag" => new DropTagProc(root)
    case "rebucket" => new RebucketProc(root)
    case "publish" => new PublishProc(root)
    case "add_column" => new AddColumnProc(root)
    case "add_constraint" => new AddConstraintProc(root)
    case "drop_constraint" => new DropConstraintProc(root)
    case "ndv" => new NdvProc(root)
    case other => throw new UnsupportedOperationException(
      s"unknown graft procedure $other (have: ${Names.mkString(", ")})")
  }

  private def tableDir(root: String, input: InternalRow): String = {
    val t = input.getUTF8String(0).toString
    val dir = new File(root, t)
    require(new File(dir, "manifest.json").exists(),
      s"no graftdocs table '$t' under $root")
    dir.getAbsolutePath
  }

  private def resultScan(resultSchema: StructType,
      resultRows: Array[InternalRow]): java.util.Iterator[Scan] =
    java.util.Collections.singletonList[Scan](new Scan with LocalScan {
      override def readSchema(): StructType = resultSchema
      override def rows(): Array[InternalRow] = resultRows
    }).iterator()

  /** `CALL <cat>.compact('<table>')` → the X121 OPTIMIZE verb; returns
    * one (files_before, files_after) summary row. */
  private class CompactProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "compact"
    override def description(): String =
      "rewrite fragmented buckets into single sorted files; " +
        "reconcile delete vectors (the OPTIMIZE verb)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val before = GdfManifest.read(p).files.size.toLong
      GdfMaintenance.compact(SparkSession.active, p)
      val after = GdfManifest.read(p).files.size.toLong
      resultScan(
        StructType(Seq(StructField("files_before", LongType),
          StructField("files_after", LongType))),
        Array(InternalRow(before, after)))
    }
  }

  /** `CALL <cat>.expire_snapshots('<table>', <older_than_ms>)` →
    * time-based snapshot expiry (r20, the Iceberg
    * `expire_snapshots(older_than => ts)` verb); pins — tags, the main
    * head, branch heads/bases — always survive, and the newest
    * snapshot is always kept; returns the expired versions. */
  private class ExpireSnapshotsProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "expire_snapshots"
    override def description(): String =
      "expire snapshots committed before a timestamp (pins survive)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("older_than_ms", LongType).build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val expired = GdfMaintenance.expireSnapshots(p, input.getLong(1))
      resultScan(
        StructType(Seq(StructField("expired_version", LongType))),
        expired.map(v => InternalRow(v.toLong)).toArray)
    }
  }

  /** `CALL <cat>.drop_column('<table>', '<column>')` → metadata-only
    * column drop (r20); the SQL-DDL twin is
    * `ALTER TABLE <cat>.<table> DROP COLUMN <column>`. */
  private class DropColumnProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "drop_column"
    override def description(): String =
      "drop a column from the table schema (metadata-only)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("column", StringType).build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val c = input.getUTF8String(1).toString
      GdfMaintenance.dropColumn(p, c)
      resultScan(
        StructType(Seq(StructField("dropped", StringType))),
        Array(InternalRow(UTF8String.fromString(c))))
    }
  }

  /** `CALL <cat>.compact_binpack('<table>', <target_bytes>)` → the
    * size-targeted OPTIMIZE (r19): small files merge to ~target sorted
    * runs, oversized ones split, deletes reconcile; returns one
    * (files_before, files_after) summary row. */
  private class CompactBinpackProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "compact_binpack"
    override def description(): String =
      "merge small files into ~target-byte sorted runs, split oversized " +
        "ones, reconcile deletes (the binpack OPTIMIZE verb)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("target_bytes", LongType).build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val before = GdfManifest.read(p).files.size.toLong
      GdfMaintenance.compactBinpack(SparkSession.active, p, input.getLong(1))
      val after = GdfManifest.read(p).files.size.toLong
      resultScan(
        StructType(Seq(StructField("files_before", LongType),
          StructField("files_after", LongType))),
        Array(InternalRow(before, after)))
    }
  }

  /** `CALL <cat>.set_retention('<table>', <n>)` → durable snapshot
    * retention policy (r19, the Iceberg expire_snapshots retain_last
    * knob); 0 restores the default; applies at the next commit. */
  private class SetRetentionProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "set_retention"
    override def description(): String =
      "set how many snapshots expiry keeps (0 = default)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("retain",
          org.apache.spark.sql.types.IntegerType).build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val n = input.getInt(1)
      GdfMaintenance.setRetention(p, n)
      resultScan(
        StructType(Seq(StructField("retain",
          org.apache.spark.sql.types.IntegerType))),
        Array(InternalRow(n)))
    }
  }

  /** `CALL <cat>.rollback('<table>', <version>)` → restore a retained
    * snapshot's data state as a NEW commit (r19, the Iceberg
    * rollback_to_snapshot verb); returns one (from_version, to_version,
    * new_version) row. */
  private class RollbackProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "rollback"
    override def description(): String =
      "commit a new snapshot restoring a retained version's data state"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("version",
          org.apache.spark.sql.types.IntegerType).build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val from = GdfMaintenance.currentVersion(p).toLong
      val to = input.getInt(1)
      val nv = GdfMaintenance.rollback(p, to).toLong
      resultScan(
        StructType(Seq(StructField("from_version", LongType),
          StructField("to_version", LongType),
          StructField("new_version", LongType))),
        Array(InternalRow(from, to.toLong, nv)))
    }
  }

  /** `CALL <cat>.fast_forward('<table>', '<branch>')` → land a branch's
    * audited commits on main (r19, the Iceberg fast_forward verb);
    * loud failure when main diverged since the fork. */
  private class FastForwardProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "fast_forward"
    override def description(): String =
      "fast-forward main to a branch head (divergence fails loudly)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("branch", StringType).build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val nv = GdfMaintenance.fastForward(p,
        input.getUTF8String(1).toString).toLong
      resultScan(
        StructType(Seq(StructField("new_version", LongType))),
        Array(InternalRow(nv)))
    }
  }

  /** `CALL <cat>.drop_branch('<table>', '<branch>')` → retire a branch;
    * returns the retired snapshot versions. */
  private class DropBranchProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "drop_branch"
    override def description(): String =
      "retire a branch's snapshots (their unique files become orphans)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("branch", StringType).build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val b = input.getUTF8String(1).toString
      val vs = GdfMaintenance.dropBranch(p, b)
      resultScan(
        StructType(Seq(StructField("retired_version", LongType))),
        vs.map(v => InternalRow(v.toLong)).toArray)
    }
  }

  /** `CALL <cat>.rebucket('<table>', <buckets>)` → hash-layout partition
    * evolution (X143); returns one (buckets_before, buckets_after) row. */
  private class RebucketProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "rebucket"
    override def description(): String =
      "rewrite the table at a new hash bucket count (partition evolution)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("buckets",
          org.apache.spark.sql.types.IntegerType).build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val before = GdfManifest.read(p).buckets
      val n = input.getInt(1)
      GdfMaintenance.rebucket(SparkSession.active, p, n)
      resultScan(
        StructType(Seq(
          StructField("buckets_before", org.apache.spark.sql.types.IntegerType),
          StructField("buckets_after", org.apache.spark.sql.types.IntegerType))),
        Array(InternalRow(before, n)))
    }
  }

  /** `CALL <cat>.create_tag('<table>', '<tag>', <version>)` → pin a
    * retained snapshot under a name (X140); `VERSION AS OF '<tag>'`
    * resolves through it and the snapshot survives retention expiry. */
  private class CreateTagProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "create_tag"
    override def description(): String =
      "pin a retained snapshot under a named tag (survives expiry)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("tag", StringType).build(),
        ProcedureParameter.in("version", org.apache.spark.sql.types.IntegerType)
          .build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val tag = input.getUTF8String(1).toString
      val v = input.getInt(2)
      GdfMaintenance.createTag(p, tag, v)
      resultScan(
        StructType(Seq(StructField("tag", StringType),
          StructField("pinned_version", org.apache.spark.sql.types.IntegerType))),
        Array(InternalRow(UTF8String.fromString(tag), v)))
    }
  }

  /** `CALL <cat>.drop_tag('<table>', '<tag>')` → unpin; the snapshot
    * becomes expirable at the next commit. */
  private class DropTagProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "drop_tag"
    override def description(): String = "drop a named tag"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("tag", StringType).build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val tag = input.getUTF8String(1).toString
      GdfMaintenance.dropTag(p, tag)
      resultScan(
        StructType(Seq(StructField("dropped", StringType))),
        Array(InternalRow(UTF8String.fromString(tag))))
    }
  }

  /** `CALL <cat>.publish('<table>', <staged_version>)` → the
    * write-audit-publish verb: cherry-pick a staged append onto the
    * current main head (the Iceberg cherrypick_snapshot CALL). */
  private class PublishProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "publish"
    override def description(): String =
      "cherry-pick a staged (write-audit-publish) append onto main"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("staged_version",
          org.apache.spark.sql.types.IntegerType).build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val published = GdfMaintenance.publish(p, input.getInt(1))
      resultScan(
        StructType(Seq(StructField("published_version",
          org.apache.spark.sql.types.IntegerType))),
        Array(InternalRow(published)))
    }
  }

  /** `CALL <cat>.add_column('<table>', '<name>', '<type>'[, '<default>'])`
    * → the metadata-only ADD COLUMN ... DEFAULT verb (Iceberg-v3
    * initial-default). Type is one of long/int/string. */
  private class AddColumnProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "add_column"
    override def description(): String =
      "add a column with an optional default — metadata-only, no rewrite"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("column", StringType).build(),
        ProcedureParameter.in("type", StringType).build(),
        ProcedureParameter.in("default", StringType)
          .defaultValue("NULL").build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val column = input.getUTF8String(1).toString
      val dt = input.getUTF8String(2).toString match {
        case "long" => LongType
        case "int" => org.apache.spark.sql.types.IntegerType
        case "string" => StringType
        case other => throw new IllegalArgumentException(
          s"add_column type must be long/int/string, got '$other'")
      }
      val default =
        if (input.isNullAt(3)) None
        else Some(input.getUTF8String(3).toString)
      GdfMaintenance.addColumn(p, column, dt, default)
      resultScan(
        StructType(Seq(StructField("column", StringType),
          StructField("default", StringType))),
        Array(InternalRow(UTF8String.fromString(column),
          default.map(UTF8String.fromString).orNull)))
    }
  }

  /** `CALL <cat>.add_constraint('<table>', '<name>', '<predicate>')` →
    * the Delta ADD CONSTRAINT verb: validates existing rows, then
    * enforces the CHECK on every future write-path row. */
  private class AddConstraintProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "add_constraint"
    override def description(): String =
      "add a CHECK constraint (validates existing rows first)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build(),
        ProcedureParameter.in("predicate", StringType).build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val n = input.getUTF8String(1).toString
      val sql = input.getUTF8String(2).toString
      GdfMaintenance.addConstraint(SparkSession.active, p, n, sql)
      resultScan(
        StructType(Seq(StructField("constraint", StringType),
          StructField("predicate", StringType))),
        Array(InternalRow(UTF8String.fromString(n),
          UTF8String.fromString(sql))))
    }
  }

  /** `CALL <cat>.drop_constraint('<table>', '<name>')`. */
  private class DropConstraintProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "drop_constraint"
    override def description(): String = "drop a named CHECK constraint"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val n = input.getUTF8String(1).toString
      GdfMaintenance.dropConstraint(p, n)
      resultScan(
        StructType(Seq(StructField("dropped", StringType))),
        Array(InternalRow(UTF8String.fromString(n))))
    }
  }

  /** `CALL <cat>.ndv('<table>', '<column>')` → the metadata-only
    * distinct-count estimate folded from the per-file KMV sketches
    * (the Iceberg-Puffin statistics CALL). */
  private class NdvProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "ndv"
    override def description(): String =
      "estimate a column's distinct count from manifest sketches only"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("column", StringType).build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val column = input.getUTF8String(1).toString
      val (kth, est) = GdfMaintenance.ndvEstimate(p, column)
      resultScan(
        StructType(Seq(StructField("column_name", StringType),
          StructField("kth_hash", LongType),
          StructField("ndv_estimate", LongType))),
        Array(InternalRow(UTF8String.fromString(column), kth, est)))
    }
  }

  /** `CALL <cat>.remove_orphans('<table>', <older_than_ms>)` → the X131
    * GC verb; returns the removed file names. */
  private class RemoveOrphansProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "remove_orphans"
    override def description(): String =
      "delete aged data/delete files no retained snapshot references"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("older_than_ms", LongType)
          .defaultValue("86400000").build())
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val p = tableDir(root, input)
      val removed = GdfMaintenance.removeOrphans(p, input.getLong(1))
      resultScan(
        StructType(Seq(StructField("removed_file", StringType))),
        removed.map(n => InternalRow(UTF8String.fromString(n))).toArray)
    }
  }
}
