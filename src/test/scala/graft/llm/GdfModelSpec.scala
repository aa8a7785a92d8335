package org.apache.spark.sql.graft.dsv2

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.sources.In
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.SparkSpec

/** Model-based check of concurrent `graftdocs` commits: threads race
  * append, row delete (copy-on-write), compact, add-column and tag
  * against one table, each thread in an order a fixed seed shuffles. Every committed op is placed
  * at the version it landed in, and replaying the ops serially in
  * version order must give every retained snapshot exactly: its rows,
  * its columns and its tags. A lost, doubled or resurrected change
  * breaks the replay at the first snapshot it touches. */
class GdfModelSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("bucket", IntegerType)))
  private val Buckets = 4

  private sealed trait Op
  private case class Append(ids: Seq[Long], version: Int) extends Op
  private case class Delete(ids: Seq[Long]) extends Op
  private case class AddColumn(name: String) extends Op
  private case class Tag(name: String, at: Int) extends Op
  private case object Compact extends Op

  test("racing append/delete/compact/add-column/tag equal their serial replay") {
    val p = s"/tmp/graft-model-spec-${System.nanoTime()}"
    new java.io.File(p).mkdirs()
    GdfManifest.commitRetry(p, "write")(_ =>
      Some(GdfManifest.Manifest(schema, Buckets, Seq.empty))) // v1
    GdfMaintenance.setRetention(p, 1000) // v2: every snapshot stays

    def append(t: Int, i: Int): Append = {
      val ids = (0 until 8).map(k => t * 1000L + i * 10L + k)
      val stats = ids.groupBy(id => (id % Buckets).toInt).toSeq.sortBy(_._1)
        .map { case (b, bs) => GdfFormat.writeFile(p, s"part-$b-t$t-$i.gdf",
          schema, b, bs.sorted.map(id => Array[Any](id, b))) }
      Append(ids, GdfManifest.commitRetry(p, "append")(l =>
        Some(GdfAppend.appended(l.head.map(_._2), schema, Buckets, "hash",
          stats, None))))
    }

    val log = new ConcurrentLinkedQueue[Op]()
    val errs = new ConcurrentLinkedQueue[Throwable]()
    val conflicts = new AtomicInteger()
    val threads = 4
    val ts = (0 until threads).map(t => new Thread(() =>
      try {
        // every thread runs each kind once, after an opening append, in
        // an order the seed fixes
        val kinds = "append" +: new scala.util.Random(11L + t)
          .shuffle(Seq("append", "delete", "compact", "column", "tag"))
        var mine = Seq.empty[Long] // this thread's live rows
        for ((kind, i) <- kinds.zipWithIndex) {
          // a racing rewrite of the same file fails loudly and commits
          // nothing: the op is simply not part of the history
          try kind match {
            case "append" => val a = append(t, i); log.add(a); mine ++= a.ids
            case "delete" =>
              val ids = mine.take(4)
              GdfMaintenance.deleteWhere(spark, p,
                Array(In("doc_id", ids.map(x => x: Any).toArray)))
              log.add(Delete(ids)); mine = mine.drop(4)
            case "compact" => GdfMaintenance.compact(spark, p); log.add(Compact)
            case "column" =>
              val n = s"c_${t}_$i"
              GdfMaintenance.addColumn(p, n, LongType, None)
              log.add(AddColumn(n))
            case "tag" =>
              val (n, at) = (s"tag_${t}_$i", GdfMaintenance.currentVersion(p))
              GdfMaintenance.createTag(p, n, at); log.add(Tag(n, at))
          } catch {
            case e: IllegalArgumentException
                if e.getMessage.contains("write-write conflict") =>
              conflicts.incrementAndGet()
          }
        }
      } catch { case e: Throwable => errs.add(e) }))
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    assert(ts.forall(!_.isAlive), "racing ops did not finish in time")
    assert(errs.isEmpty, s"a racing op failed: ${errs.peek()}")
    val ops = log.asScala.toSeq
    assert(ops.size + conflicts.get == threads * 6)

    val l = new GdfManifest.Listing(p)
    assert(l.versions == (1 to l.versions.last), s"a snapshot expired: ${l.versions}")
    val rows: Map[Int, Set[Long]] = l.versions.map(v => v ->
      spark.read.format("graftdocs").option("version", v.toString).load(p)
        .select("doc_id").collect().map(_.getLong(0)).toSet).toMap
    def first(what: String)(has: (Int, GdfManifest.Manifest) => Boolean): Int =
      l.snapshots.collectFirst { case (v, m) if has(v, m) => v }
        .getOrElse(fail(s"no snapshot holds $what"))
    val placed: Seq[(Int, Op)] = ops.collect {
      case a: Append => a.version -> a
      case d: Delete => first(s"delete ${d.ids}")((v, _) => v > 1 &&
        d.ids.forall(rows(v - 1)) && !d.ids.exists(rows(v))) -> d
      case c: AddColumn =>
        first(c.name)((_, m) => m.schema.fieldNames.contains(c.name)) -> c
      case g: Tag => first(g.name)((_, m) => m.refs.exists(_._1 == g.name)) -> g
    }
    assert(placed.map(_._1).distinct.size == placed.size,
      s"two ops claim one version: ${placed.sortBy(_._1)}")

    var (live, cols, tags) =
      (Set.empty[Long], schema.fieldNames.toSet, Map.empty[String, Int])
    for (v <- l.versions) {
      placed.filter(_._1 == v).foreach {
        case (_, Append(ids, _)) => live ++= ids
        case (_, Delete(ids)) => live --= ids
        case (_, AddColumn(n)) => cols += n
        case (_, Tag(n, at)) => tags += n -> at
        case _ =>
      }
      val m = l.snapshot(v)
      assert(rows(v) == live, s"v$v rows differ from the serial replay")
      assert(m.schema.fieldNames.toSet == cols, s"v$v columns differ")
      assert(m.refs.toMap == tags, s"v$v tags differ")
    }
  }
}
