package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ListenerBusUtil

/** Profiling main: splits each named entry's warm run into construction
  * (building the DataFrame, with the Spark jobs that launches) and
  * execution (a `noop` write), on the benchmark's own session.
  *
  * {{{
  * sbt "runMain graft.Prof <entry>..."
  * }}}
  *
  * `SPARK_GRAFT_SF_DIR` and `SPARK_GRAFT_CPUS` choose the data and the
  * session width, as for [[Bench]]. Each entry gets one warm run, then 3
  * measured runs of one line each. */
object Prof {

  /** One part of a run: wall time, the jobs it started, and the stages,
    * tasks and executor CPU time of the stages that ran. */
  final case class Part(ms: Double, jobs: Int, stages: Int, tasks: Int,
      cpuMs: Double) {
    override def toString: String =
      f"$ms%.1fms jobs=$jobs stages=$stages tasks=$tasks cpu=$cpuMs%.1fms"
  }

  final case class Run(construct: Part, execute: Part)

  /** Counts jobs and completed stages; [[take]] reads and resets. The bus
    * thread writes, the caller reads after draining the bus. */
  private final class Counter extends SparkListener {
    private var jobs, stages, tasks = 0
    private var cpuNs = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        tasks += e.stageInfo.numTasks
        Option(e.stageInfo.taskMetrics).foreach(m => cpuNs += m.executorCpuTime)
      }

    def take(ms: Double): Part = synchronized {
      val p = Part(ms, jobs, stages, tasks, cpuNs / 1e6)
      jobs = 0; stages = 0; tasks = 0; cpuNs = 0L
      p
    }
  }

  /** Times `build` and then a `noop` write of what it returns, with the
    * Spark work of each part. Events of earlier work are drained before
    * counting starts, so they never reach this run. */
  def measure(spark: SparkSession)(build: => DataFrame): Run = {
    val sc = spark.sparkContext
    ListenerBusUtil.drain(sc)
    val counter = new Counter
    sc.addSparkListener(counter)
    try {
      val t0 = System.nanoTime()
      val df = build
      val constructMs = (System.nanoTime() - t0) / 1e6
      ListenerBusUtil.drain(sc)
      val construct = counter.take(constructMs)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val executeMs = (System.nanoTime() - t1) / 1e6
      ListenerBusUtil.drain(sc)
      Run(construct, counter.take(executeMs))
    } finally sc.removeSparkListener(counter)
  }

  def main(args: Array[String]): Unit = {
    val entries = SparkEntry.queries
    val unknown = args.filterNot(entries.contains)
    if (args.isEmpty || unknown.nonEmpty) {
      System.err.println("usage: graft.Prof <entry>..." +
        (if (unknown.isEmpty) "" else s"; unknown: ${unknown.mkString(", ")}"))
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    try args.foreach { name =>
      def build = entries(name)(spark, sfDir)
      measure(spark)(build)
      (1 to 3).foreach { i =>
        val r = measure(spark)(build)
        println(s"[prof] $name run$i construct=${r.construct} " +
          s"execute=${r.execute}")
      }
    } finally spark.stop()
  }
}
