package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Pins [[Prof.measure]]'s counts against plans small enough to count by
  * hand. Neither plan shuffles, so adaptive execution cannot change them. */
class ProfSpec extends SparkSpec {

  /** A 3-partition range: no shuffle, so one job of one 3-task stage. */
  private def narrow = spark.range(0, 1000, 1, 3).selectExpr("id * 2 AS x")

  /** Collects a 2-partition range (one job, one 2-task stage) while it is
    * built, then returns a 5-partition range. */
  private def eager = {
    val n = spark.range(0, 40, 1, 2).collect().length
    spark.range(0, n, 1, 5).toDF()
  }

  test("a plan without a shuffle executes as one job of one stage, one task per partition") {
    val r = Prof.measure(spark)(narrow)
    assert((r.construct.jobs, r.construct.stages, r.construct.tasks) == ((0, 0, 0)))
    assert((r.execute.jobs, r.execute.stages, r.execute.tasks) == ((1, 1, 3)))
    assert(r.execute.ms > 0 && r.execute.cpuMs >= 0)
  }

  test("an eager action while building counts as construction; no run's counts carry into the next") {
    // holds the listener bus at every job start, so events of a finished
    // job are still queued when the caller moves on
    val slow = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Thread.sleep(100)
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      spark.range(0, 100, 1, 4).collect() // outside any measured run
      val first = Prof.measure(spark)(eager)
      val second = Prof.measure(spark)(narrow)
      assert((first.construct.jobs, first.construct.stages, first.construct.tasks) == ((1, 1, 2)))
      assert((first.execute.jobs, first.execute.stages, first.execute.tasks) == ((1, 1, 5)))
      assert((second.construct.jobs, second.construct.stages) == ((0, 0)))
      assert((second.execute.jobs, second.execute.stages, second.execute.tasks) == ((1, 1, 3)))
    } finally spark.sparkContext.removeSparkListener(slow)
  }
}
