package graft.llm

import graft.Ckpt._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the classic scale
  * path next to sign-LSH: a k-means coarse quantizer partitions the corpus
  * into `k` cells; a query probes only its `nProbes` nearest cells and
  * reranks exactly inside them. Corpus cost per query ≈ nProbes/k of a
  * full scan — the knob a 100 TB deployment turns.
  *
  * The quantizer is deterministic and cross-engine-replayable
  * ([[portableQuantizer]]), so every stage of a search — seeding, each
  * Lloyd's round, the probe and the rerank — replays in DuckDB
  * ([[portableOracleSql]]).
  */
object Ivf {

  /** Deterministic, cross-engine-replayable IVF coarse quantizer (the
    * sim4b/cur9 determinism pattern lifted to k-means): initial centroids are the `k` vectors with the
    * smallest md5(id) (engine-shared pseudo-random pick), then `rounds`
    * FIXED Lloyd's iterations. Each update rounds centroid coordinates
    * through the engine-identical floor(x·10⁶+0.5)/10⁶ fold, so
    * distributed summation order cannot leak into the next round's
    * assignments — distances computed FROM rounded centroids are then
    * bit-identical on both engines and the argmin (ties → smaller cell)
    * replays exactly in DuckDB's unrolled round CTEs
    * ([[portableOracleSql]]). An empty cell keeps its previous centroid.
    *
    * Scale shape: per round one literal-centroid argmin projection over
    * the corpus scan (n×k SqDist evaluations inside one expression — no
    * crossJoin rows, no per-id shuffle) + one (cell, dim)-sized mean
    * aggregate — linear in the corpus, the same cost class as a
    * distributed Lloyd's pass; lineage truncated per round.
    *
    * Returns (centroids (cell, cv), assignments (pid, pv, cell)). */
  def portableQuantizer(corpus: DataFrame, id: String, vec: String,
                        k: Int, rounds: Int): (DataFrame, DataFrame) = {
    val (cdf, assignF) = quantizerCore(corpus, id, vec, k, rounds)
    // checkpointed: callers reference the assignment table at least twice
    // (query slice + candidate cells)
    (cdf, assignF().ckpt())
  }

  private def quantizerCore(corpus: DataFrame, id: String, vec: String,
                            k: Int, rounds: Int)
      : (DataFrame, () => DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(id).cast("long").as("pid"),
        transform(col(vec), _.cast("double")).as("pv"))
      .ckpt()
    // Centroids are MODEL state (k×dim doubles — the Bpe-merge pattern):
    // collected per round and re-injected as a broadcast literal frame.
    // Each Lloyd round is then ONE distributed job (assign + per-dim
    // sorted-fold means) with no inter-round lineage — the previous
    // DataFrame-resident loop needed a localCheckpoint per round because
    // each round references its centroids twice (assign + empty-cell
    // carry), which would otherwise re-evaluate exponentially.
    var cent: IndexedSeq[(Int, Seq[Double])] = base
      .withColumn("h", md5(col("pid").cast("string")))
      .orderBy("h", "pid").limit(k)
      .select("pv").collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0)) }.toIndexedSeq
    def centDf(c: IndexedSeq[(Int, Seq[Double])]): DataFrame = c.toDF("cell", "cv")
    // Assignment is a literal-centroid argmin PROJECTION over one scan
    // (r16): the centroids are driver-resident model state every round,
    // so [[pqCodeFrozen]] — already pinned bit-identical to the
    // crossJoin + min(struct(d2, cell)) form it replaced in the PQ code
    // path (same SqDist on the same doubles, same smaller-cell
    // tie-break) — assigns cells with ZERO joins and ZERO shuffles,
    // where the old crossJoin(broadcast) + groupBy(pid) materialized
    // n×k rows and re-shuffled the corpus every round AND once more for
    // the final index build.
    def assign(c: IndexedSeq[(Int, Seq[Double])]): DataFrame =
      base.select(col("pid"), col("pv"), pqCodeFrozen(col("pv"), c).as("cell"))
    // order-canonical mean: fold the cell's values SORTED, so the double
    // sum is bit-identical across partitionings AND engines (DuckDB twin:
    // list_sum(list_sort(list(x))), the same L2R fold) — without this the
    // 6dp floor below could flip on a sum landing within ulps of a
    // boundary under a different partition order
    val sortedSum = graft.functions.FoldSum(array_sort(collect_list(col("x"))))
    for (_ <- 1 to rounds) {
      val means = assign(cent)
        .select(col("cell"), posexplode(col("pv")).as(Seq("i", "x")))
        .groupBy("cell", "i")
        .agg((floor(sortedSum / count(lit(1)) * 1000000 + 0.5) / 1000000.0).as("mean"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1)
      cent = cent.map { case (cell, cv) =>
        // empty-cell carry ≡ the SQL twin's coalesce(nv, cv)
        means.get(cell).fold((cell, cv))(ms => (cell, ms.sortBy(_._2).map(_._3).toSeq))
      }
    }
    val cdf = centDf(cent)
    val frozen = cent
    (cdf, () => assign(frozen))
  }

  /** [[portableQuantizer]]'s centroids WITHOUT the eager final
    * assignment job — for callers (the PQ subspace fits) that encode
    * rows themselves via [[pqCodeFrozen]] and would otherwise pay one
    * corpus-sized assignment materialization per subspace only to
    * discard it. Same training rounds, same centroids, bit for bit. */
  def portableCentroids(corpus: DataFrame, id: String, vec: String,
                        k: Int, rounds: Int): DataFrame =
    quantizerCore(corpus, id, vec, k, rounds)._1

  /** A centroid table collected to the driver — MODEL state (k x subDim
    * doubles, the Bpe-merge pattern), reinjectable as literals. */
  def collectCentroids(cdf: DataFrame): IndexedSeq[(Int, Seq[Double])] =
    cdf.select(col("cell").cast("int"), col("cv"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toIndexedSeq
      .sortBy(_._1)

  /** Frozen-codebook code assignment as ONE Column: argmin cell of the
    * row's vector slice against the (model-sized, driver-resident)
    * centroid list, ties to the smaller cell — the same
    * min(struct(d2, cell)) the crossJoin+groupBy assign computes, as a
    * literal-centroid expression. Replaces the per-subspace
    * corpus-sized `codes.join(assigned, "pid")` chain (the registry's
    * ONLY SortMergeJoins, exposed by the r14 shadow audit): m subspace
    * codes become m projections over one scan — zero joins, zero
    * shuffles — instead of m-1 corpus x corpus equi-joins. Codes are
    * bit-identical (same SqDist on the same doubles, same tie-break),
    * so every PQ oracle hash is unchanged. */
  def pqCodeFrozen(sv: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    val sorted = cents.sortBy(_._1)
    require(sorted.zipWithIndex.forall { case ((c, _), i) => c == i },
      "pqCodeFrozen expects contiguous cells 0..k-1")
    if (sorted.size.toLong * sorted.head._2.size <= pqInlineLiteralBudget)
      pqCodeInline(sv, sorted)
    else pqCodeFolded(sv, sorted)
  }

  /** Inline budget for [[pqCodeFrozen]]'s unrolled form. The unrolled
    * projection embeds k SqDist structs, each with a subDim-double
    * literal array, and callers stack m of these columns in ONE select —
    * past a few thousand literal doubles per column the generated method
    * for the projection approaches the JVM's 64KB bytecode limit and
    * Spark quietly drops the stage out of whole-stage codegen, losing
    * exactly the perf the join-free rewrite bought. The registry's
    * codebooks (k=16 × subDim=16 = 256) sit far inside the budget; a
    * FAISS-typical k=256 × subDim=16 = 4096 lands on the boundary and
    * larger codebooks take the folded path. */
  private[llm] val pqInlineLiteralBudget = 4096L

  /** k unrolled literal-centroid SqDist structs — maximally
    * codegen-friendly for small codebooks. */
  private[llm] def pqCodeInline(sv: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    val scored = cents.map { case (cell, cv) =>
      struct(graft.functions.SqDist(sv, array(cv.map(lit): _*)).as("d2"),
        lit(cell).as("cell"))
    }
    array_min(array(scored: _*)).getField("cell")
  }

  /** Large-codebook form: the whole codebook as ONE array<array<double>>
    * Literal (a data value, not k×subDim expression nodes) folded with
    * `aggregate` — an O(k) loop in constant generated-code size instead
    * of k unrolled branches. Same SqDist arithmetic on the same doubles;
    * strict `<` on ascending cells keeps ties at the smaller cell, so
    * codes are bit-identical to the inline form (pinned in LlmSpec). */
  private[llm] def pqCodeFolded(sv: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    val carr = typedLit(cents.map(_._2))
    val zero = struct(lit(Double.MaxValue).as("d2"), lit(Int.MaxValue).as("cell"))
    aggregate(
      sequence(lit(0), lit(cents.size - 1)),
      zero,
      (acc, i) => {
        val cand = struct(
          graft.functions.SqDist(sv, element_at(carr, (i + 1).cast("int"))).as("d2"),
          i.cast("int").as("cell"))
        when(cand < acc, cand).otherwise(acc)
      }
    ).getField("cell")
  }

  /** SQL fragments shared by the portable-quantizer oracles (sim5b's IVF,
    * sim6b's per-subspace PQ codebooks): left-to-right list folds ≡
    * Spark's aggregate fold. */
  private[llm] def d2Sql(dim: Int)(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${dim + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
  private[llm] def dotSql(dim: Int)(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i]))"
  private[llm] def cosSql(dim: Int)(a: String, b: String): String =
    s"(${dotSql(dim)(a, b)} / (sqrt(${dotSql(dim)(a, a)}) * sqrt(${dotSql(dim)(b, b)})))"

  /** The unrolled Lloyd's CTE chain over a base CTE `$base`(pid, pv):
    * seeds `${p}c0` (k smallest md5(pid)), then per round an assign CTE
    * `${p}aN` and a centroid CTE `${p}cN` with the engine-identical 6dp
    * floor-rounded means and empty-cell carry — the exact arithmetic of
    * [[portableQuantizer]]. Returns the chain; the final centroids live
    * in `${p}c$rounds`. */
  private[llm] def lloydCtesSql(base: String, p: String, k: Int, rounds: Int,
                                dim: Int): String = {
    val d2 = d2Sql(dim) _
    val seed =
      s"""${p}c0 AS MATERIALIZED (
         |  SELECT cell, cv FROM (
         |    SELECT (row_number() OVER (ORDER BY md5(pid::VARCHAR), pid) - 1)::INT AS cell,
         |           pv AS cv
         |    FROM $base) WHERE cell < $k)""".stripMargin
    val roundCtes = (1 to rounds).map { rd =>
      val prev = s"${p}c${rd - 1}"
      s"""${p}a$rd AS MATERIALIZED (
         |  SELECT pid, pv, cell FROM (
         |    SELECT b.pid, b.pv, c.cell,
         |           row_number() OVER (PARTITION BY b.pid
         |             ORDER BY ${d2("b.pv", "c.cv")}, c.cell) AS rn
         |    FROM $base b CROSS JOIN $prev c) WHERE rn = 1),
         |${p}c$rd AS MATERIALIZED (
         |  SELECT p.cell, coalesce(m.nv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN (
         |    SELECT cell, list(mean ORDER BY i) AS nv FROM (
         |      SELECT cell, dims.i,
         |             floor(list_sum(list_sort(list(pv[dims.i]))) / count(*) * 1000000 + 0.5) / 1000000.0 AS mean
         |      FROM ${p}a$rd CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) dims
         |      GROUP BY cell, dims.i)
         |    GROUP BY cell) m ON p.cell = m.cell)""".stripMargin
    }.mkString(",\n")
    seed + ",\n" + roundCtes
  }

  /** DuckDB twin of [[portableQuantizer]] + the probe/rerank tail: seeds,
    * every Lloyd's round (assign CTE + centroid CTE), the nProbes cell
    * probe and the in-cell cosine rerank unrolled as MATERIALIZED CTEs —
    * the pagerank/BPE oracle pattern. All dot/distance folds are
    * left-to-right list_sum chains ≡ Spark's aggregate fold, so sims are
    * bit-identical and (sim DESC, id) ranking cannot flip. */
  def portableOracleSql(table: String, id: String, vec: String,
                        k: Int, rounds: Int, dim: Int,
                        querySql: String, nProbes: Int, kTop: Int): String = {
    val d2 = d2Sql(dim) _
    def cos(a: String, b: String) = cosSql(dim)(a, b)
    s"""WITH base AS MATERIALIZED (
       |  SELECT $id::BIGINT AS pid, $vec::DOUBLE[] AS pv FROM $table),
       |${lloydCtesSql("base", "", k, rounds, dim)},
       |fin AS MATERIALIZED (
       |  SELECT pid, pv, cell FROM (
       |    SELECT b.pid, b.pv, c.cell,
       |           row_number() OVER (PARTITION BY b.pid
       |             ORDER BY ${d2("b.pv", "c.cv")}, c.cell) AS rn
       |    FROM base b CROSS JOIN c$rounds c) WHERE rn = 1),
       |probe AS MATERIALIZED (
       |  SELECT qid, qv, cell FROM (
       |    SELECT q.pid AS qid, q.pv AS qv, c.cell,
       |           row_number() OVER (PARTITION BY q.pid
       |             ORDER BY ${cos("q.pv", "c.cv")} DESC, c.cell) AS rn
       |    FROM (SELECT * FROM fin WHERE $querySql) q CROSS JOIN c$rounds c)
       |  WHERE rn <= $nProbes),
       |scored AS (
       |  SELECT p.qid AS query_id, a.pid AS id, ${cos("a.pv", "p.qv")} AS s
       |  FROM fin a JOIN probe p ON a.cell = p.cell)
       |SELECT query_id, id,
       |       row_number() OVER (PARTITION BY query_id ORDER BY s DESC, id) AS rank,
       |       floor(s * 10000 + 0.5) / 10000.0 AS sim
       |FROM scored QUALIFY rank <= $kTop
       |ORDER BY query_id, rank""".stripMargin
  }
}
