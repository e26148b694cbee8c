package graft.llm

import graft.Ckpt._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) approximate nearest neighbor — the memory
  * side of the 100 TB ANN story (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011). IVF (Ivf.scala) bounds how much
  * of the corpus a query SCANS; PQ bounds how many BYTES each scanned
  * vector costs: the 64-float embedding (256 B) compresses to `m` small
  * codes (m bytes at k<=256), and query-time scoring is `m` subspace
  * distance terms instead of `dim` multiplies (ADC — asymmetric distance
  * computation). Exact rerank of the top `rerank` candidates restores
  * true cosines — the standard two-stage PQ search.
  */
object Pq {

  /** Run the m independent per-subspace fits concurrently — an index
    * build is dozens of tiny scheduler-latency-bound jobs per fit, so
    * the sequential chain costs m× the wall of one. Each fit is a pure
    * function of its slice: interleaving never changes the codebooks.
    *
    * Each fit runs on its OWN short-lived thread (m is 4-8, a fit blocks
    * for seconds on Spark jobs): a fit parked on the shared fork-join
    * pool would starve every other global-EC user for its whole
    * duration, and Spark's thread-local job properties (job group /
    * scheduler pool, what setJobGroup-based cancellation keys on) are
    * inherited at THREAD CREATION, so fits must not ride pre-existing
    * pool threads — a dedicated thread created here inherits the
    * caller's InheritableThreadLocal properties and a job-group cancel
    * covers the concurrent fits too. */
  private[llm] def fitConcurrently[T](m: Int)(fit: Int => T): IndexedSeq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContextExecutorService =
      ExecutionContext.fromExecutorService(
        java.util.concurrent.Executors.newFixedThreadPool(m))
    try Await.result(
      Future.sequence((0 until m).map(s => Future(fit(s)))), Duration.Inf)
    finally ec.shutdown()
  }

  /** Portable PQ search (sim6, sim6b): per-subspace md5-seeded fixed-round
    * Lloyd's codebooks ([[Ivf.portableQuantizer]] over each slice),
    * squared-L2 ADC shortlist, exact cosine rerank. The codes ride WIDE
    * (c0..c{m-1} columns), so the ADC distance is an explicit
    * left-to-right `+` chain of per-subspace d² terms — no aggregation
    * whose fold order could differ between engines — and every stage
    * replays in DuckDB ([[portableOracleSql]]). */
  def portableTopK(corpus: DataFrame, id: String, vec: String,
                   m: Int, k: Int, rounds: Int, dim: Int,
                   nQueries: Int, rerank: Int, kTop: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val base = corpus.select(col(id).cast("long").as("pid"),
      transform(col(vec), _.cast("double")).as("pv")).ckpt()
    // column order below stays 0..m-1 for a stable plan regardless of
    // which concurrent fit finishes first
    val fits = fitConcurrently(m) { s0 =>
      val sliced = base.select(col("pid"),
        slice(col("pv"), s0 * subDim + 1, subDim).as("sv"))
      Ivf.portableCentroids(sliced, "pid", "sv", k, rounds)
    }
    // codes as m literal-centroid argmin PROJECTIONS over one base scan
    // (Ivf.pqCodeFrozen) — the former per-subspace assignment join chain
    // was the registry's only SortMergeJoins (m-1 corpus x corpus joins
    // on pid, exposed by the r14 shadow audit); codes are bit-identical
    val cents = new Array[DataFrame](m)
    val centSeqs = (0 until m).map(s0 => Ivf.collectCentroids(fits(s0)))
    (0 until m).foreach { s0 =>
      cents(s0) = fits(s0).select(col("cell").as(s"cell$s0"), col("cv").as(s"cv$s0"))
    }
    // checkpointed: the argmin projection must evaluate ONCE PER ROW —
    // left lazy, the optimizer can float it above the query crossJoin
    // and recompute the m x k SqDist argmin per (row x query) match
    val codes = base.select(col("pid") +: (0 until m).map(s0 =>
      Ivf.pqCodeFrozen(slice(col("pv"), s0 * subDim + 1, subDim),
        centSeqs(s0)).as(s"c$s0")): _*)
      .ckpt()
    val q = base.filter(col("pid") < nQueries)
      .select(col("pid").as("qid"), col("pv").as("qv"))
    def d2(a: Column, b: Column): Column =
      graft.functions.SqDist(a, b)
    var withCb = codes.crossJoin(broadcast(q))
    (0 until m).foreach { s0 =>
      withCb = withCb.join(broadcast(cents(s0)), col(s"c$s0") === col(s"cell$s0"))
    }
    val adc = (0 until m).map(s0 =>
      d2(slice(col("qv"), s0 * subDim + 1, subDim), col(s"cv$s0"))).reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
    val short = withCb.withColumn("adc", adc)
      .withColumn("rn", row_number().over(
        w.partitionBy("qid").orderBy(col("adc"), col("pid"))))
      .filter(col("rn") <= rerank)
      .select(col("qid"), col("pid"))
    short.join(base, "pid")
      .join(broadcast(q), "qid")
      .withColumn("sc", Similarity.cosine(col("pv"), col("qv")))
      .withColumn("rank", row_number().over(
        w.partitionBy("qid").orderBy(desc("sc"), asc("pid"))))
      .filter(col("rank") <= kTop)
      .select(col("qid").as("query_id"), col("pid").as("id"), col("rank"),
        (floor(col("sc") * 10000 + 0.5) / 10000.0).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** DuckDB twin of [[portableTopK]]: m unrolled per-subspace Lloyd's
    * chains ([[Ivf.lloydCtesSql]]), the wide codes join, the explicit
    * left-associative ADC chain, shortlist and cosine rerank — the whole
    * PQ search replayed as one CTE pipeline. */
  def portableOracleSql(table: String, id: String, vec: String,
                        m: Int, k: Int, rounds: Int, dim: Int,
                        nQueries: Int, rerank: Int, kTop: Int): String = {
    val subDim = dim / m
    val subCtes = (0 until m).map { s0 =>
      val lo = s0 * subDim + 1; val hi = (s0 + 1) * subDim
      s"""base$s0 AS MATERIALIZED (SELECT pid, pv[$lo:$hi] AS pv FROM base),
         |${Ivf.lloydCtesSql(s"base$s0", s"s$s0", k, rounds, subDim)},
         |fin$s0 AS MATERIALIZED (
         |  SELECT pid, cell FROM (
         |    SELECT b.pid, c.cell,
         |           row_number() OVER (PARTITION BY b.pid
         |             ORDER BY ${Ivf.d2Sql(subDim)("b.pv", "c.cv")}, c.cell) AS rn
         |    FROM base$s0 b CROSS JOIN s${s0}c$rounds c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val codeCols = (0 until m).map(s0 => s"f$s0.cell AS c$s0").mkString(", ")
    val codeJoins = (1 until m).map(s0 => s"JOIN fin$s0 f$s0 USING (pid)").mkString(" ")
    val qSubs = (0 until m).map { s0 =>
      s"pv[${s0 * subDim + 1}:${(s0 + 1) * subDim}] AS qs$s0"
    }.mkString(", ")
    val cbJoins = (0 until m)
      .map(s0 => s"JOIN s${s0}c$rounds cb$s0 ON c.c$s0 = cb$s0.cell").mkString("\n  ")
    val adcChain = (0 until m)
      .map(s0 => Ivf.d2Sql(subDim)(s"q.qs$s0", s"cb$s0.cv")).mkString("\n     + ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT $id::BIGINT AS pid, $vec::DOUBLE[] AS pv FROM $table),
       |$subCtes,
       |codes AS MATERIALIZED (
       |  SELECT pid, $codeCols FROM fin0 f0 $codeJoins),
       |q AS MATERIALIZED (
       |  SELECT pid AS qid, pv AS qv, $qSubs FROM base WHERE pid < $nQueries),
       |scored AS MATERIALIZED (
       |  SELECT q.qid, c.pid,
       |    (${adcChain.linesIterator.mkString(" ")}) AS adc
       |  FROM codes c CROSS JOIN q
       |  $cbJoins),
       |short AS MATERIALIZED (
       |  SELECT qid, pid FROM (
       |    SELECT qid, pid,
       |           row_number() OVER (PARTITION BY qid ORDER BY adc, pid) AS rn
       |    FROM scored) WHERE rn <= $rerank),
       |rer AS (
       |  SELECT s.qid AS query_id, s.pid AS id, ${Ivf.cosSql(dim)("b.pv", "q.qv")} AS sc
       |  FROM short s JOIN base b ON s.pid = b.pid JOIN q ON s.qid = q.qid)
       |SELECT query_id, id,
       |       row_number() OVER (PARTITION BY query_id ORDER BY sc DESC, id) AS rank,
       |       floor(sc * 10000 + 0.5) / 10000.0 AS sim
       |FROM rer QUALIFY rank <= $kTop
       |ORDER BY query_id, rank""".stripMargin
  }
}
