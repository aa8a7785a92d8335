package graft

/** Dev tool: print the formatted physical plan for named queries on the
  * benchmark's session (`sbt "runMain graft.Explain q16_basket_pairs ..."`).
  * `SPARK_GRAFT_BROADCAST=-1` turns broadcast joins off, as a plan audit at
  * scale would see them. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    sys.env.get("SPARK_GRAFT_BROADCAST")
      .foreach(spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
