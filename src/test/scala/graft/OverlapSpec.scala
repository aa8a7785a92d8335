package graft

import java.util.concurrent.atomic.AtomicInteger

/** The shared runner for overlapped writes: it waits for every body before
  * it reports a failure, and the bodies see the caller's local properties. */
class OverlapSpec extends SparkSpec {

  test("a failed body is rethrown only after every sibling has finished") {
    val finished = new AtomicInteger(0)
    def slow(): Unit = { Thread.sleep(400); finished.incrementAndGet() }
    val boom = new IllegalStateException("load failed")
    val second = new IllegalArgumentException("second failure")
    val thrown = intercept[IllegalStateException] {
      Overlap.all(spark)(
        () => throw boom,
        () => slow(),
        () => { slow(); throw second },
        () => slow())
    }
    assert(thrown eq boom)
    assert(finished.get() == 3, "a sibling was still running when the failure surfaced")
    assert(thrown.getSuppressed.toSeq == Seq(second))
  }

  test("bodies run with the caller's local properties") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    sc.setLocalProperty("graft.overlap.spec", "caller")
    try {
      Overlap.all(spark)(Seq.fill(4)(() => {
        seen.add(sc.getLocalProperty("graft.overlap.spec")); ()
      }): _*)
    } finally sc.setLocalProperty("graft.overlap.spec", null)
    assert(seen.size == 4 && seen.toArray.forall(_ == "caller"))
  }
}
