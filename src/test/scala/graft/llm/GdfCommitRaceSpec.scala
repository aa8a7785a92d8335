package org.apache.spark.sql.graft.dsv2

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, TimeUnit}

import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Many committers racing one table through [[GdfManifest.commitRetry]]:
  * no commit may be lost and none may land twice. Each committer decides
  * from one [[GdfManifest.Listing]], so the state it extends and the
  * version it claims come from the same view; a committer that computed
  * its delta on one listing and claimed the next version of a later one
  * drops every rival commit that lands in between, without an error.
  * Needs no Spark session. */
class GdfCommitRaceSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("bucket", IntegerType)))

  test("six racing committers, 40 rounds: every append lands exactly once") {
    val threads = 6
    for (round <- 1 to 40) {
      val p = s"/tmp/graft-commit-race-${System.nanoTime()}"
      new File(p).mkdirs()
      val base = GdfFormat.writeFile(p, "part-0-base.gdf", schema, 0,
        Seq(Array[Any](0L, 0)))
      GdfManifest.commitRetry(p, "write")(_ =>
        Some(GdfManifest.Manifest(schema, 2, Seq(base))))
      val files = (1 to threads).map(t => GdfFormat.writeFile(p,
        s"part-${t % 2}-t$t.gdf", schema, t % 2, Seq(Array[Any](t.toLong, t % 2))))
      // every committer lists before any claims: the barrier trips inside
      // each first update, so each round races for real
      val barrier = new CyclicBarrier(threads)
      val errs = new ConcurrentLinkedQueue[Throwable]()
      val ts = files.map(f => new Thread(() =>
        try {
          var first = true
          GdfManifest.commitRetry(p, "append") { l =>
            if (first) { first = false; barrier.await(20, TimeUnit.SECONDS) }
            Some(l.current.copy(files = l.current.files :+ f))
          }
        } catch { case t: Throwable => errs.add(t) }))
      ts.foreach(_.start()); ts.foreach(_.join(60000))
      assert(ts.forall(!_.isAlive), s"round $round did not finish")
      assert(errs.isEmpty, s"round $round: ${errs.peek()}")
      val names = GdfManifest.read(p).files.map(_.name)
      assert(names.sorted == (base +: files).map(_.name).sorted,
        s"round $round: head holds ${names.sorted.mkString(",")}")
      new File(p).listFiles().foreach(_.delete()); new File(p).delete()
    }
  }
}
