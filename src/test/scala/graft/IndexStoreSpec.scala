package graft

import org.apache.spark.sql.functions._

/** Pins the cross-session index store ([[IndexStore]], r14): a miss
  * builds and commits, a hit reads WITHOUT re-running the build thunk, a
  * changed fingerprint invalidates (different directory, fresh build),
  * and the bench's bypassRead forces the build path while still
  * committing the artifact for later readers. */
class IndexStoreSpec extends SparkSpec {

  /** Run `body` on a fresh sf dir, then delete the artifacts it keyed
    * under [[StateRoot]]'s index root. */
  private def withFreshDir(body: String => Unit): Unit = {
    val dir = "/tmp/idxstore-spec-" + java.util.UUID.randomUUID().toString.take(8)
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(StateRoot.path("indexes", dir)))
  }

  test("miss builds and commits; hit reads without rebuilding") { withFreshDir { dir =>
    var builds = 0
    def call() = IndexStore.readOrBuild(spark, dir, "t", "v1;a=1") {
      builds += 1
      spark.range(5).toDF("x")
    }
    val first = call().orderBy(col("x")).collect().map(_.getLong(0))
    assert(builds == 1 && first.sameElements(Array(0L, 1L, 2L, 3L, 4L)))
    val second = call().orderBy(col("x")).collect().map(_.getLong(0))
    assert(builds == 1, "a committed artifact must be read, not rebuilt")
    assert(second.sameElements(first), "store read changed the data")
  }}

  test("a changed fingerprint invalidates the artifact") { withFreshDir { dir =>
    var builds = 0
    def call(fp: String) = IndexStore.readOrBuild(spark, dir, "t", fp) {
      builds += 1
      spark.range(3).toDF("x")
    }
    call("v1;k=16").collect()
    call("v1;k=16").collect()
    assert(builds == 1)
    call("v1;k=64").collect() // constant changed -> new key -> rebuild
    assert(builds == 2, "fingerprint change must rebuild")
    call("v2;k=16").collect() // version bump -> rebuild too
    assert(builds == 3, "version bump must rebuild")
  }}

  test("bypassRead forces the build but still commits for later readers") { withFreshDir { dir =>
    var builds = 0
    def call() = IndexStore.readOrBuild(spark, dir, "t", "v1") {
      builds += 1
      spark.range(2).toDF("x")
    }
    IndexStore.bypassRead = true
    try {
      call().collect(); call().collect()
      assert(builds == 2, "bypassRead must never serve the store")
    } finally IndexStore.bypassRead = false
    call().collect()
    assert(builds == 2, "the bypassed builds must still have committed")
  }}
}
