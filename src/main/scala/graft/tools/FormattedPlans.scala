package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dumps `.explain("formatted")` output for registry queries to files —
  * the optimization-round evidence artifact (plans/r15/<query>_{before,
  * after}.txt). Each file carries the FINALIZED plan (the query is executed
  * through a noop sink first so AQE settles on real runtime statistics),
  * in formatted mode: numbered operator list + per-operator details
  * (PushedFilters, ReadSchema, join strategy/build side, exchange
  * partitioning).
  *
  * Run: runMain graft.tools.FormattedPlans <outDir> <suffix> [sfDir] <names...>
  * e.g. runMain graft.tools.FormattedPlans plans/r15 before /root/testdata/sf0.01 dd21_containment_estimate
  */
object FormattedPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: FormattedPlans <outDir> <suffix> [sfDir] <names...>")
    val outDir = args(0)
    val suffix = args(1)
    val (sfDir, names) =
      if (args(2).startsWith("/")) (args(2), args.drop(3).toSeq)
      else ("/root/testdata/sf0.01", args.drop(2).toSeq)
    // audit the REAL chain, not a memo checkpoint scan
    sys.props("graft.querymemo.disable") = "true"
    val spark = graft.Sessions.local(8, 8)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      val q = graft.SparkEntry.all.find(_.name == name)
        .getOrElse(sys.error(s"unknown query: $name"))
      val df = q.fn(spark, sfDir)
      // finalize AQE with the same action the bench times
      df.write.format("noop").mode("overwrite").save()
      val txt = df.queryExecution.explainString(FormattedMode)
      val path = Paths.get(outDir, s"${name}_$suffix.txt")
      Files.write(path, (s"-- $name ($sfDir, finalized AQE plan)\n" + txt)
        .getBytes(StandardCharsets.UTF_8))
      println(s"[plans] wrote $path")
    }
    spark.stop()
  }
}
