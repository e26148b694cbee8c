package graft.tools

/** Dumps the finalized (post-AQE) physical plan of one registry query —
  * the local iteration loop behind PLANS.md: run, read, fix the plan,
  * re-run. Run: runMain graft.tools.Explain <query> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Explain <query> [sfDir]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    sys.props("graft.querymemo.disable") = "true"
    val spark = graft.Sessions.local(8, 8)
    spark.sparkContext.setLogLevel("ERROR")
    val q = graft.SparkEntry.all.find(_.name == name)
      .getOrElse(sys.error(s"unknown query: $name"))
    val df = q.fn(spark, sfDir)
    df.collect() // finalize AQE
    println(df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head)
    spark.stop()
  }
}
