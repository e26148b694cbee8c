package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths => JPaths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** The benchmark JVM. Runs one batch workload on prepared inputs and
  * writes `result.json` (metrics, samples, box context, what the checks
  * need) and, for a traced run, `spans.json` into the output directory.
  *
  * Usage: Main --workload W --in DIR --out DIR --seconds S --trace 0|1
  *        --cores N [--csv-target CITY --ppr-node N]
  */
object Main {
  val Layers: Seq[String] =
    Seq("etl", "jumps", "density", "paths", "envelope", "io", "text", "dedup", "graph")
  private val SetupRounds = 3
  // untraced warm passes a timed run measures at least, however long they take
  private val MinWarmPasses = 3
  private val MB = 1024.0 * 1024.0
  // the sentinel's time on an idle 4-vCPU box: the drift-corrected times
  // are expressed at this box speed
  private val SentinelRefS = 0.30

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val out = args("out")
    val tracer = new Tracer
    val settings = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2000000",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    def session(): SparkSession = {
      val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      settings.foreach { case (k, v) => b.config(k, v) }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // ---- set-up, several times: session, inputs, warm-up, prepared state
    val batch: Batch = workload match {
      case "workforce" =>
        new Workforce(args("csv-target"), args("ppr-node").toLong)
      case "corpus" => new Corpus
      case other => sys.error(s"unknown workload $other")
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var probe: Probe = null
    var ctx: Ctx = null
    for (round <- 0 until SetupRounds) {
      val t0 = if (round == 0) jvmStartMs else System.currentTimeMillis()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session()
      probe = Probe.install(spark)
      ctx = new Ctx(spark, args("in"), out, tracer, probe)
      // one tiny action: session init, parquet footer reading and the noop
      // sink's class loading
      val warmupTable = if (workload == "corpus") "documents" else "global_regions"
      spark.read.parquet(s"${args("in")}/$warmupTable.parquet")
        .write.format("noop").mode("overwrite").save()
      batch.prepare(ctx)
      setupS += (System.currentTimeMillis() - t0) / 1000.0
    }

    // untimed: the sentinel's codegen and most of its JIT are paid here
    (0 until 2).foreach(_ => sentinel(spark, cores))
    val sentinels = mutable.ArrayBuffer(sentinel(spark, cores))
    var nextOp = 0L
    val codegen0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val opStartMs = mutable.Map.empty[Long, Long]
    def timed[T](kind: String, trace: Boolean)(body: => T): (Long, T, Span) = {
      val op = nextOp
      nextOp += 1
      opStartMs(op) = System.currentTimeMillis()
      val (r, span) = tracer.op(spark, op, kind, trace)(body)
      ctx.endOp()
      (op, r, span)
    }

    // ---- first pass in the fresh JVM, then the measured window
    val res = new Json
    var attempted = 0
    val (_, _, first) = timed("pass", trace = false)(batch.pass(ctx))
    attempted += 1
    val codegen1 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    res.num("first_op_codegen_ms", (codegen1._1 - codegen0._1) / 1e6)
    res.num("first_op_codegen_classes", (codegen1._2 - codegen0._2).toDouble)
    // JIT compile time (all compiler threads) after each pass: it keeps
    // growing for many passes, which is why passes keep getting faster
    val jitMs = mutable.ArrayBuffer.empty[Double]
    def between(): Unit = {
      // outside the timing: free checkpoint blocks and collect garbage, so
      // one pass's debris never bills the next
      graft.SessionHygiene.release(spark, Nil)
      System.gc()
      jitMs += ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
    }
    between()

    // untraced passes, each with the sentinels measured just before and
    // just after it
    val warm = mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val tracedOps = mutable.ArrayBuffer.empty[(Long, Double)]
    val steal0 = cpuStealJiffies()
    val loopT0 = System.nanoTime()
    val deadline = loopT0 + (seconds * 1e9).toLong
    val minWarm = if (traced) 1 else MinWarmPasses
    var i = 0
    while (System.nanoTime() < deadline || warm.size < minWarm ||
           (traced && tracedOps.isEmpty)) {
      val trace = traced && i % 2 == 1
      val (op, _, span) = timed("pass", trace)(batch.pass(ctx))
      attempted += 1
      between()
      if (trace) tracedOps += op -> span.durNs / 1e9
      else {
        val before = sentinels.last
        sentinels += sentinel(spark, cores)
        warm += ((op, span.durNs / 1e9, (before + sentinels.last) / 2))
      }
      i += 1
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    val steal1 = cpuStealJiffies()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    // ---- end-to-end metrics (from untraced passes only)
    val e2e = new Json
    val warmS = warm.map(_._2).toSeq
    // Timings are corrected for box drift: each pass is scaled by the
    // reference over the mean of the sentinels timed just before and just
    // after it, set-up by the reference over the median sentinel after passes
    val cpuMs = warm.map(w => probe.cpuNs(w._1) / 1e6).toSeq
    def norm(xs: Seq[Double]): Double =
      median(xs.zip(warm.map(_._3)).map { case (x, s) => x * SentinelRefS / s })
    e2e.num("setup_s", median(setupS.toSeq) * SentinelRefS / median(sentinels.tail.toSeq))
    e2e.num("op_norm_p50_ms", norm(warmS) * 1000)
    e2e.num("cpu_norm_ms_per_op", norm(cpuMs))
    e2e.num("peak_rss_mb", peakRssMb())
    // as measured, not gated
    e2e.num("setup_raw_s", median(setupS.toSeq))
    e2e.num("first_op_s", first.durNs / 1e9)
    e2e.num("op_p50_ms", median(warmS) * 1000)
    e2e.num("ops_per_s", warmS.size / warmS.sum)
    e2e.num("cpu_ms_per_op", median(cpuMs))
    res.obj("e2e", e2e)

    // ---- samples and box context
    res.num("samples_ops", warmS.size.toDouble)
    res.arr("setup_rounds_s", setupS.toSeq)
    res.num("setup_cold_s", setupS.head)
    res.arr("op_s", warmS)
    res.arr("op_cpu_s", cpuMs.map(_ / 1000))
    res.arr("op_sentinel_s", warm.map(_._3).toSeq)
    res.num("loop_s", loopS)
    res.arr("sentinel_s", sentinels.toSeq)
    res.arr("jit_ms", jitMs.toSeq)
    res.num("steal_frac", (steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2))
    res.num("cores", cores.toDouble)
    res.num("heap_max_mb", Runtime.getRuntime.maxMemory / MB)
    res.str("spark_version", spark.version)
    res.str("java_version", System.getProperty("java.version"))
    val conf = new Json
    settings.foreach { case (k, v) => conf.str(k, v) }
    res.obj("session_settings", conf)
    if (workload == "workforce") {
      val o = new Json
      MovementGraph.oracles(args("ppr-node").toLong).foreach { case (k, v) => o.str(k, v) }
      res.obj("oracles", o)
    }
    if (workload == "corpus")
      res.str("oracle", graft.SparkEntry.oracleSql("e2e_llm_pipeline"))

    // ---- per-layer metrics (traced run only)
    if (traced) {
      // the traced pass of median duration
      val (op, tracedS) = tracedOps.sortBy(_._2).apply((tracedOps.size - 1) / 2)
      res.obj("layers", layerMetrics(op, ctx, probe, tracer, opStartMs, tracedS,
        median(warmS), res))
      writeSpans(JPaths.get(out, "spans.json"), tracer.all)
    }

    res.num("attempted", attempted.toDouble)
    Files.write(JPaths.get(out, "result.json"), res.render.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def layerMetrics(op: Long, c: Ctx, probe: Probe, tracer: Tracer,
                           opStartMs: collection.Map[Long, Long], tracedS: Double,
                           warmMedianS: Double, res: Json): Json = {
    val m = new Json
    val cs = probe.layers(op)
    val self = tracer.selfNs(op)
    val zero = new Counters
    def cnt(name: String): Double = c.counter(op, name).toDouble
    Layers.foreach { l =>
      val k = cs.getOrElse(l, zero)
      m.num(s"$l.busy_s", self.getOrElse(l, 0L) / 1e9)
      m.num(s"$l.cpu_s", k.cpuNs / 1e9)
      m.num(s"$l.jobs", k.jobs.toDouble)
      m.num(s"$l.tasks", k.tasks.toDouble)
      m.num(s"$l.shuffle_mb", k.shuffleBytes / MB)
      m.num(s"$l.shuffle_records", k.shuffleRecords.toDouble)
      m.num(s"$l.spill_mb", k.spillBytes / MB)
      m.num(s"$l.rows_out", cnt(s"$l.rows_out"))
    }
    val cand = cnt("dedup.candidates")
    m.num("dedup.candidates", cand)
    m.num("dedup.edges", cnt("dedup.edges"))
    m.num("dedup.useful_ratio", if (cand > 0) cnt("dedup.edges") / cand else 0.0)
    m.num("dedup.cc_rounds", cnt("dedup.cc_rounds"))
    val textIn = cnt("text.in")
    // the gate's own output is the first `text` call's rows
    m.num("text.pass_ratio", if (textIn > 0) cnt("text.gate_out") / textIn else 0.0)
    val rounds = cnt("graph.rounds")
    m.num("graph.rounds", rounds)
    m.num("graph.jobs_per_round",
      if (rounds > 0) cs.getOrElse("graph", zero).jobs / rounds else 0.0)
    m.num("io.written_mb", cnt("io.written_bytes") / MB)
    val all = new Counters
    cs.values.foreach(all.add)
    m.num("ckpt.jobs", all.ckptJobs.toDouble)
    m.num("ckpt.busy_s", all.ckptMs / 1000.0)
    m.num("ckpt.mb", all.ckptBytes / MB)
    val (queries, planMs) = probe.planning(op)
    m.num("plan.ms_per_query", if (queries > 0) planMs.toDouble / queries else 0.0)
    m.num("plan.codegen_ms", res.get("first_op_codegen_ms"))
    m.num("plan.codegen_classes", res.get("first_op_codegen_classes"))
    m.num("sched.jobs_per_req", all.jobs.toDouble)
    m.num("sched.stages_per_req", all.stages.toDouble)
    m.num("sched.queue_ms",
      probe.firstJobStartMs(op).map(_ - opStartMs(op)).getOrElse(0L).toDouble)
    m.num("sched.delay_s", all.schedDelayMs / 1000.0)
    m.num("sched.fetch_wait_s", all.fetchWaitMs / 1000.0)
    m.num("sched.gc_s", all.gcMs / 1000.0)
    m.num("trace.pass_s", tracedS)
    m.num("trace.unattributed_s", tracer.unattributedNs(op) / 1e9)
    // jobs and executor CPU of the pass that ran outside every layer call
    val outside = cs.getOrElse(Probe.Unattributed, zero)
    m.num("trace.unattributed_jobs", outside.jobs.toDouble)
    m.num("trace.unattributed_cpu_s", outside.cpuNs / 1e9)
    m.num("trace.overhead_s", tracedS - warmMedianS)
    m
  }

  /** The fixed CPU workload of the registry bench's box-drift sentinel,
    * run once. It never touches the library or the inputs. */
  private def sentinel(spark: SparkSession, cores: Int): Double = {
    import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
    val t0 = System.nanoTime()
    spark.range(0, 50000000L, 1, cores)
      .select(sum(pmod(xxhash64(col("id") * 31 + 7), lit(1L << 30))).as("s"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** (steal, total) jiffies of all CPUs so far: the share of time the
    * hypervisor gave this machine's CPUs to someone else. */
  private def cpuStealJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def writeSpans(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val sb = new StringBuilder("[")
    spans.sortBy(_.id).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb ++= ",\n"
      sb ++= s"""{"id":${s.id},"name":${Json.quote(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}"""
    }
    sb ++= "]\n"
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** A minimal ordered JSON object writer. */
final class Json {
  private val fields = mutable.LinkedHashMap.empty[String, String]
  private val nums = mutable.Map.empty[String, Double]

  def num(k: String, v: Double): Unit = {
    nums(k) = v
    fields(k) = if (v.isNaN || v.isInfinite) "null" else v.toString
  }
  def get(k: String): Double = nums.getOrElse(k, Double.NaN)
  def str(k: String, v: String): Unit = fields(k) = Json.quote(v)
  def arr(k: String, vs: Seq[Double]): Unit = fields(k) = vs.mkString("[", ",", "]")
  def obj(k: String, o: Json): Unit = fields(k) = o.render
  def render: String =
    fields.map { case (k, v) => s"${Json.quote(k)}:$v" }.mkString("{", ",", "}")
}

object Json {
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case ch if ch < ' ' => sb ++= f"\\u${ch.toInt}%04x"
      case ch => sb += ch
    }
    sb += '"'
    sb.toString
  }
}
