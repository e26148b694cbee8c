package graft.tools

import org.apache.spark.sql.DataFrame

/** Plan audit over the whole registry: executes each query at the given
  * scale factor (so AQE finalizes) and reports the shapes that decide
  * whether a plan survives a 100x scale-up — exchange count, join
  * strategies, whole-stage-codegen spans, scan pushdown. With `--md` it
  * emits the PLANS.md artifact. ScaleSpec compares `shape` of headline
  * queries against a committed snapshot to catch plan regressions.
  *
  * Run: runMain graft.tools.PlanAudit [sfDir] [--md]
  */
object PlanAudit {

  /** The scale-deciding shape of a finalized physical plan. WSCG span count
    * is reported but not part of the regression snapshot (it shifts with
    * codegen details across Spark patch versions; the join/shuffle shape is
    * what decides scale survival). */
  final case class PlanShape(exchanges: Int, bhj: Int, smj: Int, bnlj: Int,
                             wscg: Int, pushdown: Boolean, ckptScans: Int = 0) {
    def snapshot: String = s"$exchanges/$bhj/$smj/$bnlj/${if (pushdown) "p" else "-"}"
  }

  /** Executes the frame (finalizing AQE) and parses the final plan. */
  def shape(df: DataFrame): PlanShape = {
    df.collect() // finalize adaptive plan (dev/audit path, not the engine)
    // AQE's toString prints Current + Initial plans; audit the final one
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val lines = plan.linesIterator.toSeq
    def count(p: String) = lines.count(_.contains(p))
    PlanShape(
      exchanges = count("Exchange") - count("BroadcastExchange"),
      bhj = count("BroadcastHashJoin"),
      smj = count("SortMergeJoin"),
      bnlj = count("BroadcastNestedLoopJoin"),
      wscg = lines.count(_.matches(""".*\*\(\d+\).*""")),
      pushdown = lines.exists(l =>
        l.contains("PushedFilters: [") && !l.contains("PushedFilters: []")),
      // eager localCheckpoints truncate lineage, so the audited plan is
      // only the POST-checkpoint tail — report how many checkpoint scans
      // feed it, so a row with ckpt > 0 reads as a partial audit (the
      // truncated stages executed eagerly at build time, outside this
      // plan; their shapes are documented at the operator)
      ckptScans = count("Scan ExistingRDD"))
  }

  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--"))
    val sfDir = positional.headOption.getOrElse("/root/testdata/sf0.001")
    // optional trailing names restrict the audit (local iteration)
    val only = positional.drop(1).toSet
    val md = args.contains("--md")
    // audit the REAL chains: a memo hit would replace a query's upstream
    // plan with a checkpoint scan (same prop ScaleSpec's gate sets)
    sys.props("graft.querymemo.disable") = "true"
    val spark = graft.Sessions.local(8, 8)
    spark.sparkContext.setLogLevel("ERROR")

    if (md) {
      println("# PLANS - physical-plan audit (finalized AQE plans, " + sfDir + ")")
      println()
      println("Exchanges = shuffles (broadcast exchanges excluded); BHJ/SMJ = join strategies;")
      println("WSCG = whole-stage-codegen spans; pushdown = parquet PushedFilters non-empty;")
      println("ckpt = checkpoint scans feeding the plan (ckpt > 0: the audit covers only the")
      println("post-checkpoint tail — the truncated stages ran eagerly at build time and their")
      println("shapes are documented at the operator).")
      println()
      println("| query | exchanges | BHJ | SMJ | BNLJ | WSCG | pushdown | ckpt |")
      println("|---|---|---|---|---|---|---|---|")
    }
    val truncated = scala.collection.mutable.ArrayBuffer.empty[String]
    for (q <- graft.SparkEntry.all if only.isEmpty || only.contains(q.name)) {
      try {
        val s = shape(q.fn(spark, sfDir))
        if (s.ckptScans > 0) truncated += q.name
        if (md)
          println(s"| ${q.name} | ${s.exchanges} | ${s.bhj} | ${s.smj} | ${s.bnlj} | " +
            s"${s.wscg} | ${if (s.pushdown) "yes" else "-"} | " +
            s"${if (s.ckptScans > 0) s.ckptScans.toString else "-"} |")
        else
          println(f"${q.name}%-28s shuffles=${s.exchanges} bhj=${s.bhj} " +
            f"smj=${s.smj} wscg=${s.wscg} pushdown=${s.pushdown}")
      } catch {
        case e: Throwable => println(s"| ${q.name} | audit failed: ${e.getMessage.take(60)} |")
      }
    }
    // Shadow pass (the r13 "ckpt > 0 rows are partial audits" gap): every
    // query whose production plan is fed by checkpoint scans is rebuilt
    // with Ckpt disabled, so the audited plan covers the FULL lineage the
    // eager checkpoints otherwise run outside it. Shapes differ from the
    // production rows BY DESIGN: un-truncated lineage means shared stages
    // re-plan per consumer (more exchanges/WSCG, and scans become real
    // parquet scans with pushdown) — the row answers "is there an SMJ or
    // unhinted BNLJ hiding in a truncated stage", not "what does
    // production execute". Skip with --noshadow (plain timing runs).
    if (md && truncated.nonEmpty && !args.contains("--noshadow")) {
      println()
      println("## Shadow audit: full lineage, checkpoints disabled")
      println()
      println("Same queries as the ckpt > 0 rows above, rebuilt with -Dgraft.ckpt.disable=true")
      println("(Ckpt.ckpt() = identity). These rows audit the stages the production plan")
      println("truncates; exchange/WSCG counts are higher than production by design (shared")
      println("stages re-plan per consumer without materialization).")
      println()
      println("| query | exchanges | BHJ | SMJ | BNLJ | WSCG | pushdown | ckpt |")
      println("|---|---|---|---|---|---|---|---|")
      sys.props("graft.ckpt.disable") = "true"
      // A timed-out worker must not keep running against the shared
      // session: its jobs would race later shadow rows and spark.stop(),
      // and its remaining ckpt() calls would flip back to real
      // checkpoints the instant the property is cleared. On timeout,
      // cancel the worker's job group (interruptOnCancel kills the task
      // threads), interrupt the worker, and confirm it exited before the
      // next row; if it stays wedged, abandon the REST of the shadow
      // pass with the property still set rather than clear it under a
      // live worker.
      var wedged = false
      try {
        for (name <- truncated; q <- graft.SparkEntry.all.find(_.name == name) if !wedged) {
          // per-query watchdog: a query whose un-truncated lineage is
          // still loop-shaped (a loopCkpt we missed) would hang Catalyst
          // analysis forever — bound it and say so rather than wedge the
          // whole audit (the r14 first-run lesson)
          val group = s"shadow-audit-${q.name}"
          val result = new java.util.concurrent.atomic.AtomicReference[String](null)
          val worker = new Thread(() => {
            spark.sparkContext.setJobGroup(group,
              s"shadow plan audit: ${q.name}", interruptOnCancel = true)
            try {
              val s = shape(q.fn(spark, sfDir))
              result.set(s"| ${q.name} | ${s.exchanges} | ${s.bhj} | ${s.smj} | ${s.bnlj} | " +
                s"${s.wscg} | ${if (s.pushdown) "yes" else "-"} | " +
                s"${if (s.ckptScans > 0) s.ckptScans.toString else "-"} |")
            } catch {
              case e: Throwable =>
                result.set(s"| ${q.name} | shadow audit failed: ${e.getMessage.take(60)} |")
            } finally spark.sparkContext.clearJobGroup()
          })
          worker.setDaemon(true)
          worker.start()
          worker.join(300000L)
          if (worker.isAlive) {
            spark.sparkContext.cancelJobGroup(group)
            worker.interrupt()
            worker.join(30000L) // grace: cancelled tasks unwind
            wedged = worker.isAlive
          }
          println(Option(result.get).getOrElse(
            s"| ${q.name} | shadow audit timed out (300s) — jobs cancelled" +
              (if (wedged) "; worker wedged, abandoning shadow pass" else "") +
              "; un-truncated lineage is loop-shaped; per-round shapes " +
              "audited at the operator |"))
        }
      } finally if (!wedged) sys.props.remove("graft.ckpt.disable")
      // wedged: leave the property set — the stuck worker still reads it
      // per ckpt() call; spark.stop() below tears the session down.
    }
    spark.stop()
  }
}
