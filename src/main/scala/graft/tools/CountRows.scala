package graft.tools

/** Output-cardinality probe behind the growth diagnoses (the gen-sf1
  * full-registry sweep): for each named registry query, prints its result
  * row count at the given scale dir. A query whose RESULT is quadratic in
  * corpus density (pair joins over a fixed key space) shows it here —
  * separating "the plan degraded" from "the answer itself grew".
  *
  * Run: runMain graft.tools.CountRows <sfDir> <query...>
  */
object CountRows {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(sys.error("usage: CountRows <sfDir> <query...>"))
    val spark = graft.Sessions.local(32, 32)
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args.drop(1); q <- graft.SparkEntry.all.find(_.name == name)) {
      val t0 = System.nanoTime()
      val n = q.fn(spark, sfDir).count()
      println(f"$name%-40s rows=$n%-12d ${(System.nanoTime() - t0) / 1e9}%.1fs")
      graft.SessionHygiene.release(spark, graft.queries.QueryMemo.frames)
    }
    spark.stop()
  }
}
