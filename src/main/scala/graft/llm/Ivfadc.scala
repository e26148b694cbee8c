package graft.llm

import graft.Ckpt._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVFADC approximate nearest neighbor — IVF coarse quantization composed
  * with product quantization of the RESIDUALS (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011 §IV — the exact
  * layout FAISS ships as IndexIVFPQ and the standard billion-scale ANN
  * index). IVF alone (Ivf.scala) bounds how much of the corpus a query
  * scans but pays full vectors inside each cell; PQ alone (Pq.scala)
  * compresses every vector but still scans the whole corpus. IVFADC does
  * both: a query probes `nProbes` cells and ADC-scores only those cells'
  * m-byte codes. Quantizing residuals rather than raw vectors is the
  * paper's key accuracy move — after subtracting the coarse centroid the
  * energy left for PQ to encode is far smaller, so the same code budget
  * quantizes finer.
  *
  * Spark-first composition: the coarse quantizer and the m per-subspace
  * codebooks are k-means fits; residuals are one `zip_with` projection;
  * the codes table is the persisted index (coarse cell + m small codes per
  * id — the inverted file IS `repartition(cell)`); probing is an equi-join
  * on cell id with everything query-sided broadcast (per-query residual
  * LUTs are m·k doubles). Per-query cost ≈ (nProbes/nLists)·corpus rows ×
  * m lookups — the two knobs a 100 TB deployment turns independently.
  *
  * Three forms: [[topK]] is the production path (both quantizer tiers
  * trained by a driver-local seeded Lloyd's over one bounded id-sorted
  * hash sample — the FAISS train posture; deterministic for a fixed
  * corpus but model-shaped, so rows-only with recall +
  * partition-independence pins in LlmSpec); [[portableTopK]] fixes both
  * tiers to the md5-seeded fixed-round Lloyd's of
  * [[Ivf.portableQuantizer]] so every stage — coarse rounds, residuals,
  * subspace rounds, probe, ADC, rerank — replays bit-for-bit in DuckDB
  * ([[portableOracleSql]]) and the whole IVFADC search is hash-checked
  * end-to-end; [[portableTopKIncremental]] is the ingest split (frozen
  * codebooks encode a new batch — FAISS add-after-train — with its own
  * oracle).
  */
object Ivfadc {

  private def d2(a: Column, b: Column): Column = graft.functions.SqDist(a, b)

  /** Portable IVFADC: coarse portable quantizer (kCoarse cells,
    * coarseRounds Lloyd's), residual PQ (m subspaces × k codes, pqRounds
    * each, concurrent seeded fits — bit-identical regardless of
    * interleaving), cosine probe of nProbes cells (the search metric),
    * squared-L2 residual-ADC shortlist of `rerank`, exact cosine rerank
    * to kTop. Residuals are plain IEEE subtractions of
    * (raw parquet doubles − 6dp-rounded centroids), so they are
    * bit-identical across engines and the downstream Lloyd's chains stay
    * engine-exact; the ADC distance is an explicit left-associative chain
    * of per-subspace SqDist terms (no fold whose order could differ). */
  def portableTopK(corpus: DataFrame, id: String, vec: String,
                   kCoarse: Int, coarseRounds: Int,
                   m: Int, k: Int, pqRounds: Int, dim: Int,
                   nQueries: Int, nProbes: Int, rerank: Int, kTop: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val (coarse, assigned) =
      Ivf.portableQuantizer(corpus, id, vec, kCoarse, coarseRounds)
    // residuals: checkpointed — referenced by the m subspace fits, the
    // codes join, and the rerank
    val res = assigned.join(broadcast(coarse), "cell")
      .select(col("pid"), col("pv"), col("cell"),
        zip_with(col("pv"), col("cv"), (x, c) => x - c).as("rv"))
      .ckpt()
    val fits = Pq.fitConcurrently(m) { s0 =>
      val sliced = res.select(col("pid"),
        slice(col("rv"), s0 * subDim + 1, subDim).as("sv"))
      Ivf.portableCentroids(sliced, "pid", "sv", k, pqRounds)
    }
    // codes as m literal-centroid argmin projections over the one res
    // scan (Ivf.pqCodeFrozen — see Pq.portableTopK: the former join
    // chain was the registry's only SortMergeJoins); column order stays
    // 0..m-1 regardless of which concurrent fit finishes first
    val cents = new Array[DataFrame](m)
    val centSeqs = (0 until m).map(s0 => Ivf.collectCentroids(fits(s0)))
    (0 until m).foreach { s0 =>
      cents(s0) = fits(s0).select(col("cell").as(s"cell$s0"), col("cv").as(s"cv$s0"))
    }
    // checkpointed: the argmin projection must evaluate ONCE PER ROW --
    // left lazy, the optimizer can float it above the probe join and
    // recompute the m x k SqDist argmin per (row x probe) match
    val codes = res.select(col("pid") +: col("cell") +: (0 until m).map(s0 =>
      Ivf.pqCodeFrozen(slice(col("rv"), s0 * subDim + 1, subDim),
        centSeqs(s0)).as(s"c$s0")): _*)
      .ckpt()
    val q = assigned.filter(col("pid") < nQueries)
      .select(col("pid").as("qid"), col("pv").as("qv"))
    // probe: nProbes best coarse cells by COSINE to the centroid (the
    // search metric — probing by L2 on unnormalized vectors picks cells
    // the cosine top-k doesn't live in; ties → smaller cell), query
    // residual taken per probed cell. The in-cell shortlist is then the
    // L2 residual ADC (sim6b's squared-L2 shortlist, cosine rerank).
    val probed = q.crossJoin(broadcast(coarse))
      .withColumn("cs", Similarity.cosine(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(desc("cs"), asc("cell"))))
      .filter(col("rn") <= nProbes)
      .select(col("qid"), col("cell"),
        zip_with(col("qv"), col("cv"), (x, c) => x - c).as("qr"))
    // ADC within probed cells only: equi-join on the coarse cell — the
    // inverted-file scan — then m broadcast codebook lookups
    var scored = codes.join(broadcast(probed), "cell")
    (0 until m).foreach { s0 =>
      scored = scored.join(broadcast(cents(s0)), col(s"c$s0") === col(s"cell$s0"))
    }
    val adc = (0 until m).map(s0 =>
      d2(slice(col("qr"), s0 * subDim + 1, subDim), col(s"cv$s0"))).reduce(_ + _)
    val short = scored.withColumn("adc", adc)
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc"), col("pid"))))
      .filter(col("rn") <= rerank)
      .select(col("qid"), col("pid"))
    short.join(res.select("pid", "pv"), "pid")
      .join(broadcast(q), "qid")
      .withColumn("sc", Similarity.cosine(col("pv"), col("qv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("sc"), asc("pid"))))
      .filter(col("rank") <= kTop)
      .select(col("qid").as("query_id"), col("pid").as("id"), col("rank"),
        (floor(col("sc") * 10000 + 0.5) / 10000.0).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** Frozen-quantizer assignment: nearest `cent` cell for EVERY row of
    * `df` (ties → smaller cell) — [[Ivf.portableQuantizer]]'s own assign
    * shape, applied to rows the quantizer was NOT trained on. This is
    * the add-after-train half of the FAISS contract (IndexIVFPQ.add
    * encodes new vectors against frozen codebooks; train is never
    * re-run on ingest). */
  private def assignFrozen(df: DataFrame, cent: DataFrame, vecCol: String): DataFrame =
    df.crossJoin(broadcast(cent))
      .withColumn("__d2", d2(col(vecCol), col("cv")))
      .groupBy("pid")
      .agg(min(struct(col("__d2"), col("cell"))).as("m"), first(col(vecCol)).as(vecCol))
      .select(col("pid"), col(vecCol), col("m.cell").as("cell"))

  /** Portable IVFADC in the INGEST split (dd20/dd22's posture lifted to
    * ANN): both quantizer tiers train ONLY on the held corpus
    * (`!isNew`), the NEW batch is encoded against the frozen codebooks —
    * cell assignment, residual, and m codes exactly as FAISS `add()`
    * does after `train()` — and queries drawn from the new batch search
    * the UNION index. Every stage (train-slice Lloyd's chains, frozen
    * assign of all rows, residuals, frozen subspace assigns, probe, ADC,
    * rerank) replays in DuckDB ([[portableIncrementalOracleSql]]), so
    * the add-after-train contract itself is hash-checked: retraining on
    * ingest would shift centroids and fail the oracle.
    *
    * Both `isNew` and `queryFilter` are evaluated against the CALLER's
    * original columns (they are resolved in the first select, before any
    * internal rename), so pass predicates over the `id`/`vec` names you
    * passed in — never over the internal `pid`. */
  def portableTopKIncremental(corpus: DataFrame, id: String, vec: String,
                              isNew: Column,
                              kCoarse: Int, coarseRounds: Int,
                              m: Int, k: Int, pqRounds: Int, dim: Int,
                              queryFilter: Column, nProbes: Int,
                              rerank: Int, kTop: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val base = corpus.select(col(id).cast("long").as("pid"),
        transform(col(vec), _.cast("double")).as("pv"),
        isNew.as("is_new"), queryFilter.as("is_query"))
      .ckpt()
    val trainBase = base.filter(!col("is_new"))
    val (coarse, _) =
      Ivf.portableQuantizer(trainBase, "pid", "pv", kCoarse, coarseRounds)
    // frozen-coarse assignment of EVERYTHING (corpus rows re-derive their
    // training assignment bit-identically; new rows get theirs for the
    // first time), then residuals
    val res = assignFrozen(base.select("pid", "pv"), coarse, "pv")
      .join(broadcast(coarse), "cell")
      .select(col("pid"), col("pv"), col("cell"),
        zip_with(col("pv"), col("cv"), (x, c) => x - c).as("rv"))
      .ckpt()
    val trainIds = trainBase.select("pid")
    val fits = Pq.fitConcurrently(m) { s0 =>
      val slicedTrain = res.join(trainIds, "pid")
        .select(col("pid"), slice(col("rv"), s0 * subDim + 1, subDim).as("sv"))
      Ivf.portableCentroids(slicedTrain, "pid", "sv", k, pqRounds)
    }
    // frozen-codebook codes as literal-centroid argmin projections over
    // the one res scan (Ivf.pqCodeFrozen ≡ assignFrozen's
    // min(struct(d2, cell)), bit for bit) — replaces the per-subspace
    // assignFrozen + corpus-sized pid join chain
    val cents = new Array[DataFrame](m)
    val centSeqs = (0 until m).map(s0 => Ivf.collectCentroids(fits(s0)))
    (0 until m).foreach { s0 =>
      cents(s0) = fits(s0).select(col("cell").as(s"cell$s0"), col("cv").as(s"cv$s0"))
    }
    // checkpointed: the argmin projection must evaluate ONCE PER ROW --
    // left lazy, the optimizer can float it above the probe join and
    // recompute the m x k SqDist argmin per (row x probe) match
    val codes = res.select(col("pid") +: col("cell") +: (0 until m).map(s0 =>
      Ivf.pqCodeFrozen(slice(col("rv"), s0 * subDim + 1, subDim),
        centSeqs(s0)).as(s"c$s0")): _*)
      .ckpt()
    val q = base.filter(col("is_new") && col("is_query"))
      .select(col("pid").as("qid"), col("pv").as("qv"))
    val probed = q.crossJoin(broadcast(coarse))
      .withColumn("cs", Similarity.cosine(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(desc("cs"), asc("cell"))))
      .filter(col("rn") <= nProbes)
      .select(col("qid"), col("cell"),
        zip_with(col("qv"), col("cv"), (x, c) => x - c).as("qr"))
    var scored = codes.join(broadcast(probed), "cell")
    (0 until m).foreach { s0 =>
      scored = scored.join(broadcast(cents(s0)), col(s"c$s0") === col(s"cell$s0"))
    }
    val adc = (0 until m).map(s0 =>
      d2(slice(col("qr"), s0 * subDim + 1, subDim), col(s"cv$s0"))).reduce(_ + _)
    val short = scored.withColumn("adc", adc)
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc"), col("pid"))))
      .filter(col("rn") <= rerank)
      .select(col("qid"), col("pid"))
    short.join(res.select("pid", "pv"), "pid")
      .join(broadcast(q), "qid")
      .withColumn("sc", Similarity.cosine(col("pv"), col("qv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("sc"), asc("pid"))))
      .filter(col("rank") <= kTop)
      .select(col("qid").as("query_id"), col("pid").as("id"), col("rank"),
        (floor(col("sc") * 10000 + 0.5) / 10000.0).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** DuckDB twin of [[portableTopKIncremental]]: Lloyd's chains over the
    * TRAIN slice only, frozen argmin assignment of all rows, residuals,
    * frozen subspace assigns, probe over new-batch queries, ADC chain,
    * cosine rerank. `newSql` / `querySql` are predicates over `pid`. */
  def portableIncrementalOracleSql(table: String, id: String, vec: String,
                                   newSql: String,
                                   kCoarse: Int, coarseRounds: Int,
                                   m: Int, k: Int, pqRounds: Int, dim: Int,
                                   querySql: String, nProbes: Int,
                                   rerank: Int, kTop: Int): String = {
    val subDim = dim / m
    val gd2 = Ivf.d2Sql(dim) _
    val resExpr = (a: String, b: String) =>
      s"[$a[i] - $b[i] FOR i IN generate_series(1, $dim)]"
    val subCtes = (0 until m).map { s0 =>
      val lo = s0 * subDim + 1; val hi = (s0 + 1) * subDim
      s"""resall$s0 AS MATERIALIZED (SELECT pid, rv[$lo:$hi] AS pv FROM res),
         |res$s0 AS MATERIALIZED (
         |  SELECT pid, pv FROM resall$s0 WHERE NOT ($newSql)),
         |${Ivf.lloydCtesSql(s"res$s0", s"s$s0", k, pqRounds, subDim)},
         |fin$s0 AS MATERIALIZED (
         |  SELECT pid, cell FROM (
         |    SELECT b.pid, c.cell,
         |           row_number() OVER (PARTITION BY b.pid
         |             ORDER BY ${Ivf.d2Sql(subDim)("b.pv", "c.cv")}, c.cell) AS rn
         |    FROM resall$s0 b CROSS JOIN s${s0}c$pqRounds c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val codeCols = (0 until m).map(s0 => s"f$s0.cell AS c$s0").mkString(", ")
    val codeJoins = (0 until m).map(s0 => s"JOIN fin$s0 f$s0 USING (pid)").mkString(" ")
    val qSubs = (0 until m).map { s0 =>
      s"qr[${s0 * subDim + 1}:${(s0 + 1) * subDim}] AS qs$s0"
    }.mkString(", ")
    val cbJoins = (0 until m)
      .map(s0 => s"JOIN s${s0}c$pqRounds cb$s0 ON c.c$s0 = cb$s0.cell").mkString("\n  ")
    val adcChain = (0 until m)
      .map(s0 => Ivf.d2Sql(subDim)(s"p.qs$s0", s"cb$s0.cv")).mkString(" + ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT $id::BIGINT AS pid, $vec::DOUBLE[] AS pv FROM $table),
       |train AS MATERIALIZED (SELECT * FROM base WHERE NOT ($newSql)),
       |${Ivf.lloydCtesSql("train", "g", kCoarse, coarseRounds, dim)},
       |fin AS MATERIALIZED (
       |  SELECT pid, pv, cell FROM (
       |    SELECT b.pid, b.pv, c.cell,
       |           row_number() OVER (PARTITION BY b.pid
       |             ORDER BY ${gd2("b.pv", "c.cv")}, c.cell) AS rn
       |    FROM base b CROSS JOIN gc$coarseRounds c) WHERE rn = 1),
       |res AS MATERIALIZED (
       |  SELECT f.pid, f.pv, f.cell, ${resExpr("f.pv", "c.cv")} AS rv
       |  FROM fin f JOIN gc$coarseRounds c USING (cell)),
       |$subCtes,
       |codes AS MATERIALIZED (
       |  SELECT r.pid, r.cell, $codeCols FROM res r $codeJoins),
       |q AS MATERIALIZED (
       |  SELECT pid AS qid, pv AS qv FROM base WHERE ($newSql) AND ($querySql)),
       |probe AS MATERIALIZED (
       |  SELECT qid, cell, $qSubs FROM (
       |    SELECT q.qid, c.cell, ${resExpr("q.qv", "c.cv")} AS qr,
       |           row_number() OVER (PARTITION BY q.qid
       |             ORDER BY ${Ivf.cosSql(dim)("q.qv", "c.cv")} DESC, c.cell) AS rn
       |    FROM q CROSS JOIN gc$coarseRounds c) WHERE rn <= $nProbes),
       |scored AS MATERIALIZED (
       |  SELECT p.qid, c.pid, ($adcChain) AS adc
       |  FROM codes c JOIN probe p ON c.cell = p.cell
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

  /** DuckDB twin of [[portableTopK]]: the coarse Lloyd's chain
    * ([[Ivf.lloydCtesSql]], prefix `g`), the residual projection, m
    * unrolled per-subspace chains over residual slices, the L2 probe, the
    * explicit left-associative ADC chain, shortlist and cosine rerank —
    * the whole IVFADC search replayed as one CTE pipeline. */
  def portableOracleSql(table: String, id: String, vec: String,
                        kCoarse: Int, coarseRounds: Int,
                        m: Int, k: Int, pqRounds: Int, dim: Int,
                        nQueries: Int, nProbes: Int, rerank: Int, kTop: Int): String = {
    val subDim = dim / m
    val gd2 = Ivf.d2Sql(dim) _
    val resExpr = (a: String, b: String) =>
      s"[$a[i] - $b[i] FOR i IN generate_series(1, $dim)]"
    val subCtes = (0 until m).map { s0 =>
      val lo = s0 * subDim + 1; val hi = (s0 + 1) * subDim
      s"""res$s0 AS MATERIALIZED (SELECT pid, rv[$lo:$hi] AS pv FROM res),
         |${Ivf.lloydCtesSql(s"res$s0", s"s$s0", k, pqRounds, subDim)},
         |fin$s0 AS MATERIALIZED (
         |  SELECT pid, cell FROM (
         |    SELECT b.pid, c.cell,
         |           row_number() OVER (PARTITION BY b.pid
         |             ORDER BY ${Ivf.d2Sql(subDim)("b.pv", "c.cv")}, c.cell) AS rn
         |    FROM res$s0 b CROSS JOIN s${s0}c$pqRounds c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val codeCols = (0 until m).map(s0 => s"f$s0.cell AS c$s0").mkString(", ")
    val codeJoins = (0 until m).map(s0 => s"JOIN fin$s0 f$s0 USING (pid)").mkString(" ")
    val qSubs = (0 until m).map { s0 =>
      s"qr[${s0 * subDim + 1}:${(s0 + 1) * subDim}] AS qs$s0"
    }.mkString(", ")
    val cbJoins = (0 until m)
      .map(s0 => s"JOIN s${s0}c$pqRounds cb$s0 ON c.c$s0 = cb$s0.cell").mkString("\n  ")
    val adcChain = (0 until m)
      .map(s0 => Ivf.d2Sql(subDim)(s"p.qs$s0", s"cb$s0.cv")).mkString(" + ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT $id::BIGINT AS pid, $vec::DOUBLE[] AS pv FROM $table),
       |${Ivf.lloydCtesSql("base", "g", kCoarse, coarseRounds, dim)},
       |fin AS MATERIALIZED (
       |  SELECT pid, pv, cell FROM (
       |    SELECT b.pid, b.pv, c.cell,
       |           row_number() OVER (PARTITION BY b.pid
       |             ORDER BY ${gd2("b.pv", "c.cv")}, c.cell) AS rn
       |    FROM base b CROSS JOIN gc$coarseRounds c) WHERE rn = 1),
       |res AS MATERIALIZED (
       |  SELECT f.pid, f.pv, f.cell, ${resExpr("f.pv", "c.cv")} AS rv
       |  FROM fin f JOIN gc$coarseRounds c USING (cell)),
       |$subCtes,
       |codes AS MATERIALIZED (
       |  SELECT r.pid, r.cell, $codeCols FROM res r $codeJoins),
       |q AS MATERIALIZED (
       |  SELECT pid AS qid, pv AS qv FROM base WHERE pid < $nQueries),
       |probe AS MATERIALIZED (
       |  SELECT qid, cell, $qSubs FROM (
       |    SELECT q.qid, c.cell, ${resExpr("q.qv", "c.cv")} AS qr,
       |           row_number() OVER (PARTITION BY q.qid
       |             ORDER BY ${Ivf.cosSql(dim)("q.qv", "c.cv")} DESC, c.cell) AS rn
       |    FROM q CROSS JOIN gc$coarseRounds c) WHERE rn <= $nProbes),
       |scored AS MATERIALIZED (
       |  SELECT p.qid, c.pid, ($adcChain) AS adc
       |  FROM codes c JOIN probe p ON c.cell = p.cell
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

  /** Driver-local seeded Lloyd's over a bounded in-memory sample — the
    * training half of the FAISS posture (IndexIVFPQ.train runs on a
    * sample in one process; only assignment/encoding/search touch the
    * full corpus). Deterministic for a fixed (sample, k, iters, seed):
    * seeded index init, first-min argmin ties, empty cluster keeps its
    * previous centroid. A few hundred points per centroid is all k-means
    * needs — at 100 TB you could not Lloyd the corpus anyway, and at
    * bench scale this replaces ~1 s of per-fit MLlib scheduler latency
    * (9 fits for IVFADC) with microseconds of arithmetic. */
  private[llm] def localLloyd(points: Array[Array[Double]], k: Int,
                              iters: Int, seed: Long): Array[Array[Double]] = {
    require(points.length >= k, s"sample ${points.length} smaller than k $k")
    val dim = points.head.length
    val rnd = new scala.util.Random(seed)
    // seeded distinct-index init (Fisher-Yates prefix)
    val idx = Array.tabulate(points.length)(identity)
    var i = 0
    while (i < k) {
      val j = i + rnd.nextInt(points.length - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
      i += 1
    }
    var cents = Array.tabulate(k)(c => points(idx(c)).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var p = 0
      while (p < points.length) {
        val pt = points(p)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          val cv = cents(c)
          while (j < dim) { val x = pt(j) - cv(j); d += x * x; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best); var j = 0
        while (j < dim) { s(j) += pt(j); j += 1 }
        counts(best) += 1
        p += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else { val s = sums(c); val n = counts(c); Array.tabulate(dim)(j => s(j) / n) }
      }
      it += 1
    }
    cents
  }

  /** Literal k×dim centroid matrix and the codegen'd nearest-centroid
    * assignment over it: k SqDist kernels + first-min array_position —
    * one projection, no join, no shuffle, no UDF. Right for quantizer
    * tiers that fit in an expression (k·dim up to a few hundred K —
    * both tiers here); a 64k-cell coarse tier would instead broadcast
    * the centroid matrix as data (a broadcast centroid frame) or a
    * broadcast-var native expression, trading one projection for a
    * broadcast join — same shuffle count, different k ceiling. */
  private def centArrLit(cs: Array[Array[Double]]): Column =
    array(cs.map(c => array(c.map(lit): _*)): _*)
  private def argminCell(v: Column, cs: Array[Array[Double]]): Column = {
    val ds = transform(centArrLit(cs), c => d2(v, c))
    (array_position(ds, array_min(ds)) - 1).cast("int")
  }

  /** Production IVFADC: both quantizer tiers trained by [[localLloyd]] on
    * one bounded driver-side sample (hash-filtered when `trainHashMod` >
    * 1, capped at `trainCap` rows — model-fitting state, the FAISS train
    * posture); everything corpus-sized stays distributed and
    * codegen-friendly: cell assignment + residual + m residual codes are
    * ONE projection pass over the corpus (broadcast centroid literals,
    * SqDist argmin — no MLlib transform UDFs, no assignment join, no
    * shuffle), per-(query, probed-cell) residual LUTs broadcast against
    * the compact codes table, exact cosine rerank of the ADC shortlist.
    * The codes scan touches (id, cell, codes) only — never the original
    * vectors — and each query pays ≈ nProbes/nLists of the corpus. */
  def topK(corpus: DataFrame, id: String, vec: String,
           queries: DataFrame, qid: String, qvec: String,
           nLists: Int, m: Int, k: Int, dim: Int,
           kTop: Int, rerank: Int, nProbes: Int, seed: Long = 42L,
           trainHashMod: Int = 1, trainCap: Int = 65536): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val base = corpus.select(col(id).cast("long").as("id"),
      transform(col(vec), _.cast("double")).as("pv"))
    // ---- train (driver-local, bounded sample) ----
    // The sample is fully determined by the id hash: if the hash-filtered
    // sample would exceed trainCap, the mod AUTO-ESCALATES (first jump to
    // ceil(cnt/trainCap)·mod, then doubling) until it fits, with a
    // warning — never a silent partition-order limit(). The trained index
    // is therefore independent of input partitioning at EVERY corpus
    // size (pinned in LlmSpec both under and over the cap); crossing the
    // cap changes WHICH deterministic sample trains, which is the FAISS
    // posture (train on a bounded sample) made loud.
    def filtered(mod: Int): DataFrame =
      if (mod <= 1) base
      else base.filter(pmod(xxhash64(col("id")), lit(mod)) === 0)
    var mod = math.max(trainHashMod, 1)
    var cnt = filtered(mod).count()
    if (cnt > trainCap) {
      val first = mod.toLong * ((cnt + trainCap - 1) / trainCap)
      mod = math.min(first, Int.MaxValue.toLong).toInt
      cnt = filtered(mod).count()
      while (cnt > trainCap && mod < Int.MaxValue / 2) {
        mod *= 2; cnt = filtered(mod).count()
      }
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Ivfadc.topK: hash-filtered train sample exceeded trainCap=$trainCap " +
          s"at trainHashMod=$trainHashMod; auto-escalated to mod=$mod " +
          s"($cnt rows) to keep the sample partition-independent. " +
          s"Pass trainHashMod >= $mod to silence this.")
    }
    // id-sorted on the driver: the local Lloyd's folds its sums in sample
    // order, so a canonical order makes the whole index — and therefore
    // the search output — independent of input partitioning.
    val sample = filtered(mod)
      .select("id", "pv").collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    val coarseCents = localLloyd(sample, nLists, iters = 10, seed)
    // sample residuals computed locally (no second corpus pass)
    def nearest(pt: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < nLists) {
        var d = 0.0; var j = 0
        val cv = coarseCents(c)
        while (j < dim) { val x = pt(j) - cv(j); d += x * x; j += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    val sampleRes = sample.map { pt =>
      val cv = coarseCents(nearest(pt))
      Array.tabulate(dim)(j => pt(j) - cv(j))
    }
    val pqCents: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      localLloyd(sampleRes.map(r => java.util.Arrays.copyOfRange(r, s * subDim, (s + 1) * subDim)),
        k, iters = 10, seed + 1 + s)
    }
    // ---- index (one distributed projection: cell + residual + m codes) ----
    val coarseArr = centArrLit(coarseCents)
    val codes = base
      .withColumn("cell", argminCell(col("pv"), coarseCents))
      .withColumn("rv", zip_with(col("pv"), element_at(coarseArr, col("cell") + 1),
        (x, c) => x - c))
      .select(col("id"), col("cell"),
        array((0 until m).map(s =>
          argminCell(slice(col("rv"), s * subDim + 1, subDim), pqCents(s))): _*).as("codes"))
    val centDf = coarseCents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cell", "__cc")
    val codebook = (for {
      s <- 0 until m
      (cent, code) <- pqCents(s).zipWithIndex
    } yield (s, code, cent.toSeq)).toDF("s", "code", "cent")
    // probe nProbes cells per query (cosine — the search metric; ties →
    // smaller cell); the query residual is per probed cell
    val probed = queries
      .select(col(qid).cast("long").as("query_id"), col(qvec).as("__qv"))
      .crossJoin(broadcast(centDf))
      .withColumn("cs", Similarity.cosine(col("__qv").cast("array<double>"), col("__cc")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("cs"), asc("cell"))))
      .filter(col("rn") <= nProbes)
      .select(col("query_id"), col("cell"),
        zip_with(col("__qv").cast("array<double>"), col("__cc"), (x, c) => x - c).as("qr"))
    // per-(query, cell) LUT: m·k partial squared distances — tiny,
    // broadcast; the big side touches only the codes
    val luts = probed.crossJoin(broadcast(codebook))
      .withColumn("pd", d2(
        slice(col("qr"), col("s") * subDim + 1, lit(subDim)), col("cent")))
      .groupBy("query_id", "cell")
      .agg(map_from_entries(collect_list(struct(
        (col("s") * k + col("code")).cast("int").as("key"),
        col("pd").as("value")))).as("lut"))
    val adc = codes.join(broadcast(luts), "cell")
      .withColumn("adc",
        aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
            (code, s) => element_at(col("lut"), (s * k + code).cast("int"))),
          lit(0.0), (acc, v) => acc + v))
    val short = adc
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("adc"), col("id"))))
      .filter(col("rn") <= rerank)
      .select(col("query_id"), col("id"))
    short
      .join(corpus.select(col(id).cast("long").as("id"), col(vec).as("__cv")), "id")
      .join(broadcast(queries.select(col(qid).cast("long").as("query_id"),
        col(qvec).as("__qv"))), "query_id")
      .select(col("query_id"), col("id"),
        Similarity.cosine(col("__cv"), col("__qv")).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("sim"), asc("id"))))
      .filter(col("rank") <= kTop)
      .orderBy("query_id", "rank")
  }
}
