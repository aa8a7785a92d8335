package org.apache.spark.sql.graft.dsv2

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** STREAMING CDC SOURCE over a graftdocs table (r18) — `readStream
  * .format("graftdocs-cdc")`: the change-data-feed consumed as a
  * stream, the Delta `readChangeFeed` / Iceberg streaming-changelog
  * shape. An offset is a SNAPSHOT VERSION; each micro-batch serves the
  * per-commit windows `(start, end]` through
  * [[GdfMaintenance.changes]] — manifest-diffed O(changed files) reads,
  * never a snapshot scan — tagged with `_commit_version` exactly like
  * the batch changelog (`dsv2_changes_streamed` shares
  * `dsv2_changes_log`'s oracle VERBATIM: stream-batch equivalence by
  * hash match, the repo's streaming discipline).
  *
  *   spark.readStream.format("graftdocs-cdc")
  *     .option("startingversion", "1")   // replay history; default =
  *     .load(path)                        // only commits after start
  *
  * Snapshot versions are immutable while retained, so checkpoint replay
  * re-derives byte-identical batches; consuming must keep pace with
  * retention (an expired window fails loudly at the manifest — the
  * Delta CDF contract). Implemented on the V1 streaming `Source` API
  * deliberately: `getBatch` returns a full DataFrame, which is what
  * lets each batch be the feed's JOIN plan rather than a file scan —
  * the one extension surface where V1 is strictly more expressive than
  * a DSv2 `MicroBatchStream`'s partition readers. */
class GraftDocsCdc extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graftdocs-cdc"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graftdocs-cdc requires a path"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), GraftDocsCdc.cdcSchema(pathOf(parameters)))

  /** The resolved start version PERSISTS under the stream's metadata
    * path at first creation (the FileStreamSource discipline): a
    * restarted query keeps its original "stream start" instead of
    * silently re-resolving "current" and skipping the commits that
    * landed between runs. */
  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val path = pathOf(parameters)
    // metadataPath arrives as a URI string (e.g. file:/..., hdfs://...);
    // resolve it through the Hadoop FileSystem so the marker lands inside
    // the checkpoint on ANY scheme — a raw java.io.File would treat the
    // scheme as a relative directory under the JVM's cwd.
    val metaDir = new org.apache.hadoop.fs.Path(metadataPath)
    val fs = metaDir.getFileSystem(
      sqlContext.sparkSession.sessionState.newHadoopConf())
    val startFile = new org.apache.hadoop.fs.Path(metaDir, "graft-cdc-start")
    val start =
      if (fs.exists(startFile)) {
        val in = fs.open(startFile)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
        finally in.close()
      } else {
        // a numeric string is a version; anything else resolves through
        // the named refs (r18 — start the feed "from the release tag")
        val v = parameters.get("startingversion")
          .map(s => GdfMaintenance.resolveVersion(path, s))
          .getOrElse(new GdfManifest.Listing(path).main.last._1)
        fs.mkdirs(metaDir)
        val out = fs.create(startFile, false)
        try out.write(
          v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        v
      }
    new GdfChangesStreamSource(sqlContext.sparkSession, path, start)
  }
}

private[dsv2] object GraftDocsCdc {
  /** Feed schema: the CURRENT table columns (minus the layout bucket)
    * plus the change metadata. */
  def cdcSchema(path: String): StructType = {
    val base = GdfManifest.read(path).schema.fields
      .filterNot(_.name == "bucket")
    StructType(base :+ StructField("_change_type", StringType) :+
      StructField("_commit_version", IntegerType))
  }
}

private[dsv2] class GdfChangesStreamSource(spark: SparkSession,
    path: String, startVersion: Int) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  override val schema: StructType = GraftDocsCdc.cdcSchema(path)

  private def versionOf(o: V1Offset): Int = o match {
    case LongOffset(v) => v.toInt
    case so: SerializedOffset => so.json.trim.toInt
    case other => throw new IllegalStateException(s"bad CDC offset $other")
  }

  /** Drain target frozen by Trigger.AvailableNow (late commits belong to
    * the next run); live tail otherwise. */
  @volatile private var availableNowTarget: Option[Int] = None
  /** Highest version already served/committed — the self-pacing floor. */
  @volatile private var emitted: Int = startVersion

  /** The PUBLISHED chain only: staged (write-audit-publish)
    * snapshots never become offsets — their changes stream at publish. */
  private def mains(): Seq[Int] = new GdfManifest.Listing(path).main.map(_._1)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(mains().last)

  /** ONE COMMIT WINDOW PER MICRO-BATCH: the next unserved MAIN version,
    * bounded by the (possibly frozen) latest — commit granularity is
    * the changelog's natural batch unit. */
  private def nextOffset(after: Int): Option[Int] = {
    val latest = availableNowTarget.getOrElse(mains().last)
    val floor = math.max(after, emitted)
    mains().find(v => v > floor && v <= latest)
  }

  override def getOffset: Option[V1Offset] =
    nextOffset(emitted).map(v => LongOffset(v.toLong))

  // the SupportsAdmissionControl face (required by AvailableNow): the
  // engine drives pacing through latestOffset(start, limit)
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val after = start match {
      case null => startVersion
      case l: LongOffset => l.offset.toInt
      case so: SerializedOffset => so.json.trim.toInt
      case other => versionOf(other.asInstanceOf[V1Offset])
    }
    nextOffset(after).map(v => LongOffset(v.toLong)).orNull
  }

  /** The per-commit windows in `(start, end]`, each the manifest-diffed
    * feed tagged with its commit version, aligned to the source schema
    * (a window predating schema evolution null-fills). Served with
    * isStreaming=true via the internal-row bridge — the batch the
    * engine consumes IS the feed's join plan. */
  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val from = start.map(versionOf).getOrElse(startVersion)
    val to = versionOf(end)
    emitted = math.max(emitted, to)
    val outCols = schema.fieldNames.toSeq
    // each window diffs a MAIN version against its MAIN predecessor —
    // staged snapshots in between are not steps in the feed
    val wins = mains().filter(v => v > from && v <= to)
    val windows = wins.zip(from +: wins.dropRight(1)).map { case (v, prev) =>
      val w = GdfMaintenance.changes(spark, path, prev, v)
        .withColumn("_commit_version", lit(v))
      outCols.foldLeft(w) { (df, c) =>
        if (df.columns.contains(c)) df
        else df.withColumn(c,
          if (c == "_change_type" || c == "_commit_version")
            lit(null).cast(schema(c).dataType)
          else GdfManifest.defaultColumn(schema(c)))
      }.select(outCols.map(col): _*)
    }
    val batch =
      if (windows.isEmpty) spark.emptyDataFrame
        .select(outCols.map(c => lit(null).cast(schema(c).dataType).as(c)): _*)
        .limit(0)
      else windows.reduce(_.unionByName(_))
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(
        batch.queryExecution.toRdd, schema, isStreaming = true)
  }

  override def commit(end: V1Offset): Unit =
    emitted = math.max(emitted, versionOf(end))
  override def stop(): Unit = ()
}
