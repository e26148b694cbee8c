package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are fully materialized through a noop sink
  * (not count()) so scans/projections can't be short-circuited by parquet
  * metadata — the number measures the real plan.
  *
  * The suite runs as SPARK_GRAFT_REPEATS whole-registry PASSES (default
  * 3); each query reports the MINIMUM across passes, with the relative
  * spread (max−min)/min committed alongside in bench_full.json (−1 =
  * single sample: sub-floor fast query or crash — never a fake-perfect
  * 0). Rationale: on a shared box identical code measured 2× apart
  * run-to-run (g2 9.9↔21.8 s, w6d 9.5↔20.8 s across two committed full
  * runs) — noisy-neighbor interference, GC debt, and first-run Janino
  * codegen all land on single-shot numbers at random, which makes a
  * 2×-of-baseline gate unmeasurable. The min over a few runs is the
  * standard estimator of the code's actual cost under load (what LOWER
  * bound the plan can hit); the spread column says how trustworthy each
  * number is.
  *
  * Memo honesty (the round-8 "flattered min-sum" finding): session memos
  * (graph edges, components, the covariance checkpoint) are EVICTED at
  * every pass boundary, so each pass rebuilds every shared stage exactly
  * once, charged to the first query that needs it — per-query minima can
  * no longer ride a warm memo built in an earlier repeat. Within a pass
  * the memo sharing is the production semantics (one build, many
  * riders). bench_full.json additionally records `cold` = each query's
  * PASS-1 duration, so consumers can separate steady-state minima from
  * first-touch cost.
  *
  * The printed line carries only the HEADLINE query subset: the harness that
  * consumes stdout keeps a bounded tail, and a per-query map over the full
  * 214-query registry does not fit in it. The complete map (minima AND
  * spreads) is written to bench_full.json next to the build instead.
  */
object Bench {

  /** One representative per operator family plus every historically hot
    * query; kept stable across rounds so numbers are comparable. */
  private val headline: Seq[String] = Seq(
    "e2e_normalize", "e2e_jumps_endpoint", "e2e_jumps_grouped_csv",
    "dd1_exact_dedup", "dd3_minhash_neardup", "dd4_simhash_neardup",
    "dd5_ngram_jaccard", "sim1_cosine_scores", "sim3_lsh_ann",
    "sim4_cosine_neardup", "sim5_ivf_ann", "cur1_curation",
    "cur3_token_packing", "ts1_lang_id", "ts2_quality_score",
    "w1_jump_segments", "w4_dummy_synthesis", "w6_paths_full",
    "w6c_role_index", "wf1_ranking", "wf2_percentiles",
    "a7_merge_totals", "a8_density_build", "j8_dedup_probe",
    "p1_quality_filter", "o1_global_sort", "ao1_asof_join",
    "rj1_range_join", "st3_session_windows", "mm2_frame_sample",
    "dd6_neardup_components", "dd7_decontaminate", "ts7_repetition",
    "sim6_pq_ann", "st4_streaming_neardup", "st5_stream_enrich",
    "dd8_span_coverage", "cur6_source_cap", "cur9_curation_deterministic",
    "g2_pagerank", "emb1_covariance", "ev2_funnel", "ts14_heavy_hitters",
    "g7_personalized_pagerank", "g8_triangles", "g9_kcore",
    "dd13_line_dedup", "dd14_span_removal", "j10_bloom_prune",
    "emb4_correlation",
    // r12 additions: the containment production path and the estimate
    // tier — both full-corpus and historically the suite's heavier tail —
    // plus the IVFADC family and the streaming containment gate
    "dd19b_containment_hashed", "dd21_containment_estimate",
    "sim8_ivfadc_ann", "sim8b_ivfadc_portable", "sim9_incremental_ann",
    "st11_stream_containment")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt, cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // one tiny action before timing: session init, parquet footer reader,
    // and noop-sink classloading otherwise land entirely on the first
    // query's number (~5s of non-query cost at sf0.1)
    spark.read.parquet(s"$sfDir/region.parquet")
      .write.format("noop").mode("overwrite").save()
    // Box-drift sentinel: a FIXED synthetic CPU+shuffle workload that
    // never touches the library or the testdata, so its time can move
    // with the MACHINE (noisy neighbors, turbo state, GC debt) or the
    // Spark version — never with the code under grade. Measured (min of
    // 3) before and after the suite; round-over-round consumers divide
    // per-query ratios by the sentinel ratio (tools/bench_compare.py) so
    // the 1.3× regression gate measures code, not evening load — the
    // w6d_kml class of noise trips that burned adjudication three rounds
    // running.
    def sentinelOnce(): Double = {
      import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
      val t0 = System.nanoTime()
      // hashes folded to 30 bits before the sum so 50M terms can't
      // overflow a long under ANSI semantics
      spark.range(0, 50000000L, 1, cpus.toInt)
        .select(sum(pmod(xxhash64(col("id") * 31 + 7), lit(1L << 30))).as("s"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val sentinelStart = (1 to 3).map(_ => sentinelOnce()).min
    // optional args = query-name filter for targeted local measurement
    val selected =
      if (args.isEmpty) SparkEntry.all
      else SparkEntry.all.filter(q => args.contains(q.name))
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt.max(1)
    // queries whose FIRST run is already under this bound skip their
    // repeats: their absolute noise is immaterial to any gate, and the
    // skipped ~90 sub-0.4s queries save the suite ~1-2 min of wall
    val repeatFloorSec =
      sys.env.getOrElse("SPARK_GRAFT_MIN_REPEAT_SEC", "0.4").toDouble
    val wall0 = System.nanoTime()
    val n = selected.size
    val times = Array.fill(n)(List.empty[Double])
    val okArr = Array.fill(n)(true)
    // sub-floor-fast and crashed queries run in pass 1 only: their
    // absolute noise is immaterial to any gate, and skipping the ~90
    // sub-0.4s queries saves the suite ~1-2 min of wall per pass
    val settled = Array.fill(n)(false)
    var pass = 0
    while (pass < repeats) {
      // pass boundary: evict every memoized shared stage so THIS pass
      // rebuilds each one exactly once (charged to its first rider) —
      // minima can't ride a memo built during an earlier pass
      graft.queries.QueryMemo.clear()
      var i = 0
      while (i < n) {
        if (!settled(i)) {
          val q = selected(i)
          val t0 = System.nanoTime()
          try q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
            okArr(i) = false
            settled(i) = true
          }
          val dt = (System.nanoTime() - t0) / 1e9
          // only SUCCESSFUL runs feed the minimum: a crash aborts fast,
          // and folding its duration in would report a crashed query 30x
          // faster than its one real run — the exact hazard the `failed`
          // list exists to prevent. A query with zero successes reports
          // the failed attempt's raw duration (still a positive number,
          // and it's in `failed`).
          if (okArr(i) || times(i).isEmpty) times(i) :+= dt
          if (pass == 0 && dt < repeatFloorSec) settled(i) = true
          // release the finished run's checkpoint blocks (outside its
          // timing; accumulated dead blocks measured the suite tail 5-7x
          // slower). Memoized frames are protected — later riders in
          // THIS pass read them warm.
          SessionHygiene.release(spark, graft.queries.QueryMemo.frames)
          // pay collection debt between QUERIES so query A's garbage
          // never bills query B's timing
          System.gc()
        }
        i += 1
      }
      pass += 1
    }
    val results = selected.zipWithIndex.map { case (q, i) =>
      val ts = times(i)
      val best = ts.min
      // spread is "how trustworthy is this minimum": single-sample rows
      // (sub-floor skip / crash) report the SENTINEL -1, not a
      // fake-perfect 0.0 — nothing was measured twice
      val spread =
        if (ts.size < 2) -1.0
        else if (best > 0) (ts.max - best) / best else 0.0
      (q.name, best, spread, okArr(i), ts.head)
    }
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val sentinelEnd = (1 to 3).map(_ => sentinelOnce()).min
    // a crashed query must not look like a fast success: its name is listed
    // under "failed"; per-query values stay raw positive durations so
    // consumers summing or ranking the map never see magic values.
    def fmt(v: Double): String = f"$v%.3f"
    def toJson(vs: Seq[(String, Double)]): String =
      vs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, _, false, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, _, true, _) => v }.sum
    val mins = results.map { case (k, v, _, _, _) => k -> v }
    val spreads = results.map { case (k, _, s, _, _) => k -> s }
    val colds = results.map { case (k, _, _, _, c) => k -> c }
    val meta =
      s""""unit":"sec","n_queries":${results.size},"repeats":$repeats,"wall_sec":${fmt(wallSec)},"sentinel_sec":${fmt(sentinelStart)},"sentinel_end_sec":${fmt(sentinelEnd)},"failed":$failed,"sf":"$sfDir""""
    val full =
      s"""{"metric":"total","value":${fmt(total)},$meta,"queries":${toJson(mins)},"spread":${toJson(spreads)},"cold":${toJson(colds)}}"""
    // targeted (name-filtered) runs go to a scratch file: a 2-query A/B
    // must never clobber the committed full-registry artifact
    val outFile = if (args.isEmpty) "bench_full.json" else "bench_partial.json"
    Files.write(Paths.get(outFile),
      (full + "\n").getBytes(StandardCharsets.UTF_8))
    // compact line: headline subset only, so it survives the tail capture
    val head = mins.filter { case (k, _) => headline.contains(k) || args.nonEmpty }
    spark.stop()
    println(s"""{"metric":"total","value":${fmt(total)},$meta,"queries":${toJson(head)}}""")
  }
}
