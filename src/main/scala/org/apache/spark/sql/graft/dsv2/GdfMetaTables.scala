package org.apache.spark.sql.graft.dsv2

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** METADATA TABLES for the graft catalog (r18) — the Iceberg
  * `table$files` / `table$snapshots` introspection surface: the
  * manifest's bookkeeping exposed as ordinary SQL relations, so an
  * operator can plan compaction, audit snapshot history, or monitor
  * delete-vector debt with a SELECT instead of a connector API call:
  *
  *   spark.sql("SELECT bucket, n_rows, live_rows FROM graft.`docs$files`")
  *   spark.sql("SELECT version, n_rows FROM graft.`docs$snapshots`")
  *
  * Served as a [[LocalScan]]: the rows ARE driver-side manifest state
  * (kilobytes — exactly how every table format serves its metadata
  * relations), so no executor work, no files opened. Virtual: not
  * listed, not writable, resolved by the `$` suffix at load. */
private[dsv2] object GdfMetaTable {

  val Kinds: Set[String] = Set("files", "snapshots", "refs", "constraints")

  def schemaOf(kind: String): StructType = kind match {
    case "files" => StructType(Seq(
      StructField("file_name", StringType),
      StructField("bucket", IntegerType),
      StructField("n_rows", LongType), // physical rows (zone-map currency)
      StructField("live_rows", LongType), // minus the delete vector
      StructField("min_doc_id", LongType),
      StructField("max_doc_id", LongType),
      StructField("has_dv", BooleanType)))
    case "snapshots" => StructType(Seq(
      StructField("version", IntegerType),
      StructField("operation", StringType), // the Iceberg summary field
      StructField("n_files", LongType),
      StructField("n_rows", LongType), // live rows of the snapshot
      StructField("layout", StringType),
      StructField("buckets", IntegerType)))
    case "refs" => StructType(Seq( // named tags (r18) + branches (r19)
      StructField("name", StringType),
      StructField("kind", StringType), // 'tag' | 'branch'
      StructField("version", IntegerType), // tag pin / branch HEAD
      StructField("fork_base", IntegerType))) // branches only, else null
    case "constraints" => StructType(Seq( // CHECK constraints (r18)
      StructField("name", StringType),
      StructField("predicate", StringType)))
    case other => throw new IllegalArgumentException(
      s"unknown graft metadata table $$$other (have: ${Kinds.mkString(", ")})")
  }

  def rowsOf(path: String, kind: String): Array[InternalRow] = {
    val l = new GdfManifest.Listing(path)
    kind match {
      case "files" =>
        l.current.files.sortBy(f => (f.bucket, f.name)).map { f =>
          InternalRow(UTF8String.fromString(f.name), f.bucket, f.rows,
            f.liveRows, f.minDocId, f.maxDocId, f.dv.isDefined)
        }.toArray
      case "snapshots" =>
        l.snapshots.map { case (v, m) =>
          InternalRow(v, UTF8String.fromString(m.op),
            m.files.size.toLong, m.files.map(_.liveRows).sum,
            UTF8String.fromString(m.layout), m.buckets)
        }.toArray
      case "refs" =>
        val tags = l.current.refs.map { case (t, v) =>
          (t, "tag", v, null.asInstanceOf[Any])
        }
        // branch refs live in the branch manifests themselves —
        // enumerate names, then each head + its fork base
        val branches = l.branches.flatMap { b =>
          l.branchHead(b).map { case (hv, hm) =>
            (b, "branch", hv,
              hm.branches.collectFirst { case (n, base) if n == b => base }
                .map(x => x: Any).orNull)
          }
        }
        (tags ++ branches).sortBy(r => (r._1, r._2)).map { case (n, k, v, fb) =>
          InternalRow(UTF8String.fromString(n), UTF8String.fromString(k), v, fb)
        }.toArray
      case "constraints" =>
        l.current.constraints.sortBy(_._1).map { case (n, p) =>
          InternalRow(UTF8String.fromString(n), UTF8String.fromString(p))
        }.toArray
      case other => throw new IllegalArgumentException(s"unknown $$$other")
    }
  }
}

private[dsv2] class GdfMetaTable(path: String, kind: String)
    extends Table with SupportsRead {

  override def name(): String = s"graftdocs($path)$$$kind"
  override def schema(): StructType = GdfMetaTable.schemaOf(kind)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with LocalScan {
      override def readSchema(): StructType = GdfMetaTable.schemaOf(kind)
      // materialized at scan build — a metadata query sees one
      // consistent manifest state, not a per-partition re-read
      private val data = GdfMetaTable.rowsOf(path, kind)
      override def rows(): Array[InternalRow] = data
      override def description(): String = name()
    }
}
