package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll

/** Pins [[StateRoot]]: the directory layout that `IndexStore`'s kept
  * artifacts and the benchmark rely on, the once-per-session build with
  * its wipe, and the checkpointed `AvailableNow` drain. */
class StateRootSpec extends SparkSpec with BeforeAndAfterAll {

  /** Names unique to this run, so no test sees another run's directories. */
  private val run = s"spec-${System.nanoTime()}"
  private val sf = "/spec/sf"

  override def afterAll(): Unit = {
    new File(StateRoot.path("x", sf)).getParentFile.getParentFile.listFiles()
      .filter(_.getName.startsWith(s"graft-$run"))
      .foreach(FileUtils.deleteQuietly)
    super.afterAll()
  }

  private def files(dir: String): Set[String] =
    Option(new File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  private def touch(dir: String, name: String): Unit = {
    new File(dir).mkdirs()
    new File(dir, name).createNewFile()
  }

  test("path is <root>/graft-<name>/<tag>, byte-identical to the paths kept artifacts use") {
    assert(StateRoot.path("indexes", "/root/testdata/sf0.01") ==
      "/root/repo/target/graft-indexes/_root_testdata_sf0_01_f03e707")
    assert(StateRoot.path("warehouse", "/root/testdata/sf0.1") ==
      "/root/repo/target/graft-warehouse/_root_testdata_sf0_1_7418e66b")
  }

  test("two names on the same sf dir build disjoint directories") {
    val a = StateRoot.once(spark, s"$run-a", sf)(touch(_, "a.txt"))
    val b = StateRoot.once(spark, s"$run-b", sf)(touch(_, "b.txt"))
    assert(!a.startsWith(b) && !b.startsWith(a))
    assert(files(a) == Set("a.txt") && files(b) == Set("b.txt"))
  }

  test("a second call in the same session does not rebuild") {
    var builds = 0
    def once() = StateRoot.once(spark, s"$run-memo", sf) { d =>
      builds += 1
      touch(d, s"build$builds")
    }
    val d = once()
    assert(once() == d)
    assert(builds == 1 && files(d) == Set("build1"))
  }

  test("a new session rebuilds, wiping what the directory held") {
    var builds = 0
    def once(s: org.apache.spark.sql.SparkSession) =
      StateRoot.once(s, s"$run-session", sf) { d =>
        builds += 1
        touch(d, "result")
      }
    val d = once(spark)
    touch(d, "stale")
    assert(once(spark.newSession()) == d)
    assert(builds == 2 && files(d) == Set("result"))
  }

  test("a build that throws is not recorded, and the next call retries it") {
    var builds = 0
    def once() = StateRoot.once(spark, s"$run-fail", sf) { d =>
      builds += 1
      touch(d, s"build$builds")
      if (builds == 1) throw new IllegalStateException("first build fails")
    }
    intercept[IllegalStateException](once())
    val d = once()
    assert(builds == 2 && files(d) == Set("build2"))
    once()
    assert(builds == 2)
  }

  test("a build may build another directory first") {
    val outer = StateRoot.once(spark, s"$run-outer", sf) { d =>
      val inner = StateRoot.once(spark, s"$run-inner", sf)(touch(_, "inner"))
      assert(files(inner) == Set("inner"))
      touch(d, "outer")
    }
    assert(files(outer) == Set("outer"))
    assert(files(StateRoot.path(s"$run-inner", sf)) == Set("inner"))
  }

  test("drain runs to the end of its source, checkpointed under out") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-drain-spec").toString
    val mem = MemoryStream[Int]
    val ids = new ConcurrentLinkedQueue[Long]()
    def drain() = StateRoot.drain(mem.toDF(), "append", out) { (b, id) =>
      ids.add(id)
      b.write.mode("append").parquet(s"$out/result")
    }
    mem.addData(1, 2)
    drain()
    mem.addData(3)
    drain()
    // the second drain resumes from the first one's checkpoint: batch 1
    // holds only the new row, nothing is read twice
    assert(ids.asScala.toSeq == Seq(0L, 1L))
    assert(spark.read.parquet(s"$out/result").as[Int].collect().sorted
      .toSeq == Seq(1, 2, 3))
    assert(files(s"$out/_checkpoint/offsets").contains("1"))
    FileUtils.deleteQuietly(new File(out))
  }
}
