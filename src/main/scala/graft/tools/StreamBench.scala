package graft.tools

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{IngestGate, StreamDedup}
import graft.llm.{Dedup, TextAnalysis}

/** st12 as an ACTUAL stream (VERDICT r13 item 3): drives the composed
  * online ingest gate (gopher quality → exact-dup gate → near-dup gate)
  * with a file source over a documents corpus in id-ordered micro-batches
  * and records what the registry's batch twin cannot show — per-batch
  * trigger wall time and the state store's rows/bytes per operator per
  * batch (the StreamingQueryProgress numbers), for both retention modes:
  *
  *  - "unbounded": the default always-on gate (no watermark horizon, no
  *    TTL) — state grows monotonically with distinct corpus;
  *  - "bounded": `dedupHorizon` on the exact gate
  *    (dropDuplicatesWithinWatermark) + `stateTtlMs` on the near-dup
  *    bucket state — the artifact must show state PLATEAU/EVICTION where
  *    the unbounded run only grows.
  *
  * The unbounded run's flag set is also checked against the batch twin
  * on the same corpus (id-ordered feeding ⇒ stream ≡ batch, the
  * IngestGateSpec contract — re-verified here at bench scale, not just
  * on the spec's micro corpus).
  *
  * Run: runMain graft.tools.StreamBench [sfDir] [outJson] [batches]
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/gensf01")
    val outJson = args.lift(1).getOrElse("BENCH_st12_stream.json")
    val nBatches = args.lift(2).map(_.toInt).getOrElse(20)
    // 8 shuffle partitions = 8 state-store partitions per stateful op:
    // at this corpus size 32 would just multiply per-batch state-commit
    // overhead (2 ops x partitions versions per micro-batch)
    val spark = graft.Sessions.local(32, 8)
    spark.conf.set("spark.sql.streaming.metricsEnabled", "true")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ---- stage the corpus as one parquet file per micro-batch, in id
    // order (the ordering contract under which stream ≡ batch), with a
    // synthetic event time (1 doc = 1 second) for the watermark mode ----
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        timestamp_seconds(col("doc_id")).as("ts"))
      .localCheckpoint()
    val ids = docs.agg(min("doc_id"), max("doc_id")).first()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    def stageBatches(nb: Int): String = {
      val span = (hi - lo + 1 + nb - 1) / nb
      val dir = Files.createTempDirectory(s"st12-stream-in-$nb").toString
      val known = scala.collection.mutable.Set.empty[String]
      val mtimeBase = System.currentTimeMillis() - 3600000L
      for (b <- 0 until nb) {
        docs.filter(col("doc_id") >= lo + b * span && col("doc_id") < lo + (b + 1) * span)
          .orderBy("doc_id").coalesce(1)
          .write.mode("append").parquet(dir)
        // the file source orders new files by mtime: stamp each batch's
        // part file explicitly so discovery order IS id order
        for (f <- new File(dir).listFiles
             if f.getName.startsWith("part-") && known.add(f.getName))
          f.setLastModified(mtimeBase + b * 60000L)
      }
      dir
    }
    val staging = stageBatches(nBatches)
    val schema = spark.read.parquet(staging).schema

    final case class BatchRow(batch: Long, rows: Long, trigMs: Long,
                              state: Seq[(String, Long, Long, Long)])
    val totalDocs = docs.count()
    // With ProcessingTimeTimeout the engine keeps constructing NO-DATA
    // batches to fire timeouts (the StreamContainmentSpec harness note),
    // so (a) processAllAvailable never marks quiescence — progress is
    // polled and the query stopped explicitly once every staged row has
    // been read (+ a drain window so the TTL mode's evictions land), and
    // (b) recentProgress's 100-entry ring would evict the data batches —
    // progress rows are accumulated incrementally by batchId instead.
    def run(label: String, horizon: Option[String], ttlMs: Option[Long],
            paceMs: Long, drainMs: Long,
            inDir: String = staging): (Seq[BatchRow], DataFrame) = {
      val ckpt = Files.createTempDirectory(s"st12-ckpt-$label").toString
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val flags = IngestGate.gateStream(spark, src,
        eventTime = horizon.map(_ => "ts"), dedupHorizon = horizon,
        stateTtlMs = ttlMs)
      val q = flags.writeStream.format("memory").queryName(s"flags_$label")
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(Trigger.ProcessingTime(s"$paceMs milliseconds"))
        .start()
      val seen = scala.collection.mutable.LinkedHashMap.empty[Long, BatchRow]
      var fed = 0L
      var drainUntil = -1L
      val deadline = System.currentTimeMillis() + 600000L
      while (drainUntil < 0 || System.currentTimeMillis() < drainUntil) {
        for (p <- q.recentProgress if !seen.contains(p.batchId)) {
          seen(p.batchId) = BatchRow(p.batchId, p.numInputRows,
            p.durationMs.getOrDefault("triggerExecution", -1L),
            p.stateOperators.toSeq.map(s =>
              (s.operatorName, s.numRowsTotal, s.memoryUsedBytes,
                s.numRowsRemoved)))
          fed += p.numInputRows
        }
        if (fed >= totalDocs && drainUntil < 0)
          drainUntil = System.currentTimeMillis() + drainMs
        if (System.currentTimeMillis() > deadline)
          sys.error(s"$label: stalled at $fed/$totalDocs rows")
        Thread.sleep(200L)
      }
      for (p <- q.recentProgress if !seen.contains(p.batchId))
        seen(p.batchId) = BatchRow(p.batchId, p.numInputRows,
          p.durationMs.getOrDefault("triggerExecution", -1L),
          p.stateOperators.toSeq.map(s =>
            (s.operatorName, s.numRowsTotal, s.memoryUsedBytes,
              s.numRowsRemoved)))
      q.stop()
      (seen.values.toSeq, spark.table(s"flags_$label"))
    }

    // pacing: a fixed trigger interval puts real wall time between
    // batches so the TTL mode's processing-time eviction is exercised
    // (back-to-back triggers would finish inside the TTL window); the
    // bounded run drains 10 s past the last data batch so timeouts fire
    // and the final state rows show the eviction
    val (unb, unbFlags) = run("unbounded", None, None,
      paceMs = 300, drainMs = 2000L)
    val (bnd, bndFlags) = run("bounded", Some("300 seconds"),
      Some(3000L), paceMs = 300, drainMs = 10000L)

    // ---- LONG-HAUL bounded mode (VERDICT r14 item 5): the same TTL'd
    // gate over 200+ micro-batches — ttl 3 s at 300 ms pace ≈ 10 batches
    // per TTL window, so the run spans ~20 windows. The claim under test:
    // occupant state OSCILLATES around its plateau (evictions per batch
    // balance admissions) rather than creeping — a creep would mean the
    // TTL leaks state and an always-on gate eventually OOMs. ----
    val longBatches = args.lift(3).map(_.toInt).getOrElse(200)
    val longStaging = stageBatches(longBatches)
    val (lng, lngFlags) = run("longhaul", Some("300 seconds"),
      Some(3000L), paceMs = 300, drainMs = 10000L, inDir = longStaging)

    // ---- stream ≡ batch on this corpus (unbounded mode) ----
    val quality = TextAnalysis.gopherRules(docs, "text")
      .filter(col("gopher_pass")).select(col("doc_id"), col("text"))
    val exact = Dedup.exactSurvivors(quality, "doc_id", "text").localCheckpoint()
    val batchFlags = StreamDedup.flaggedBatch(exact, "doc_id", "text")
    val streamSet = unbFlags.select(col("doc")).distinct()
      .as[Long].collect().toSet
    val batchSet = batchFlags.select(col("doc")).distinct()
      .as[Long].collect().toSet
    val exactN = exact.count()
    val admittedBatchN = IngestGate.admittedBatch(docs, "doc_id", "text").count()

    def stateJson(s: Seq[(String, Long, Long, Long)]): String =
      s.map { case (op, r, b, rm) =>
        s"""{"op":"$op","rows":$r,"bytes":$b,"removed":$rm}""" }
        .mkString("[", ",", "]")
    def runJson(rows: Seq[BatchRow], flags: DataFrame): String = {
      val perBatch = rows.map(r =>
        s"""{"batch":${r.batch},"rows":${r.rows},"trigger_ms":${r.trigMs},""" +
        s""""state":${stateJson(r.state)}}""").mkString("[", ",", "]")
      val peak = rows.flatMap(_.state.map(_._2)).maxOption.getOrElse(0L)
      val finalRows = rows.lastOption.map(_.state.map(_._2).sum).getOrElse(0L)
      s"""{"batches":$perBatch,"flag_events":${flags.count()},""" +
      s""""flagged_docs":${flags.select("doc").distinct().count()},""" +
      s""""peak_state_rows_one_op":$peak,"final_state_rows_total":$finalRows,""" +
      s""""total_evictions":${rows.flatMap(_.state.map(_._4)).sum}}"""
    }
    /** Oscillation-vs-creep summary: total state rows per batch, split
      * into quarters AFTER the warmup quarter — a healthy TTL plateau
      * shows roughly flat quarter means; creep shows a monotone climb. */
    def plateauJson(rows: Seq[BatchRow]): String = {
      val totals = rows.map(_.state.map(_._2).sum)
      val warm = totals.drop(totals.size / 4)
      val q = warm.size / 4 max 1
      val quarters = warm.grouped(q).take(4)
        .map(g => g.sum / g.size.max(1)).toSeq
      val evictingBatches = rows.count(_.state.map(_._4).sum > 0)
      s"""{"post_warmup_quarter_mean_state_rows":${quarters.mkString("[", ",", "]")},""" +
      s""""max_state_rows_total":${totals.maxOption.getOrElse(0L)},""" +
      s""""batches_with_evictions":$evictingBatches,"n_batches":${rows.size}}"""
    }

    val json =
      s"""{"what":"st12 composed ingest gate driven as a real stream: file source, 1 file per trigger, id-ordered micro-batches over $sfDir ($nBatches batches)",
         |"corpus":{"docs":${docs.count()},"quality_pass":${quality.count()},"exact_survivors":$exactN,"admitted_batch_twin":$admittedBatchN},
         |"unbounded":${runJson(unb, unbFlags)},
         |"bounded_horizon300s_ttl3s":${runJson(bnd, bndFlags)},
         |"bounded_longhaul_${longBatches}batches_ttl3s":${runJson(lng, lngFlags)},
         |"longhaul_plateau":${plateauJson(lng)},
         |"stream_equals_batch":{"stream_flagged_docs":${streamSet.size},"batch_flagged_docs":${batchSet.size},"sets_equal":${streamSet == batchSet}}}""".stripMargin
    Files.write(Paths.get(outJson), json.getBytes(StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
