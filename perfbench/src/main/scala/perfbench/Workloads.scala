package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Ckpt._
import graft.analytics.{Density, DwwPipeline, Envelope, Paths}
import graft.etl.Normalize
import graft.graph.Graph
import graft.io.Sinks
import graft.llm.{Dedup, TextAnalysis}

/** The dressed raw credits and the reference-sized dims. */
final class CreditInputs(c: Ctx) {
  val raw: DataFrame = c.table("raw_credits")
  val companyMap: DataFrame = c.table("company_map")
  val roleMap: DataFrame = c.table("role_map")
  val locations: DataFrame = c.table("locations")
  val regions: DataFrame = c.table("regions")
  val globalRegions: DataFrame = c.table("global_regions")

  def normalize(raw: DataFrame): DataFrame =
    Normalize.credits(raw, companyMap, roleMap, locations, regions)

  /** (location, geoLoc, globalRegion): the envelope's region echo. */
  def regionEcho: DataFrame = locations.join(regions, "location")
    .select(col("location"), col("geoLoc"), col("globalRegion"))
}

object Workforce {
  // the served CSV: moves into the seeded target city
  val CsvKey = "location"
  val CsvDir = "in"
  val densityKeys: Density.Keys =
    Density.Keys("personId", Seq("releaseStr", "movieId"), "matchedCompanyName", "trueRole", "year")
  val pathKeys: Paths.Keys = Paths.Keys("personId", Seq("releaseStr", "movieId"),
    "matchedCompanyName", "lat", "lon", "movieReleaseYear")

  def densityInput(credits: DataFrame): DataFrame =
    DwwPipeline.servingCredits(credits).withColumn("year", year(col("releaseDate")))

  /** Jump rels with parsed coordinates: the input of the path layer. */
  def pathInput(credits: DataFrame): DataFrame =
    DwwPipeline.jumpRels(credits)
      .withColumn("lat", graft.functions.Scalars.parseGeo(col("geoLoc")).getField("lat"))
      .withColumn("lon", graft.functions.Scalars.parseGeo(col("geoLoc")).getField("lon"))
}

/** Raw credits to the served jumps JSON and CSV, the density cube and the
  * movement paths, then the movement-graph analytics over the studio
  * transitions of the same tables; everything is written through the sinks. */
final class Workforce(csvTarget: String, pprNode: Long) extends Batch {
  import Workforce._
  private var in: CreditInputs = _
  private var lineitem, orders, nodes: DataFrame = _

  def prepare(c: Ctx): Unit = {
    in = new CreditInputs(c)
    lineitem = c.table("lineitem")
    orders = c.table("orders")
    nodes = c.table("supplier").select(col("s_suppkey").as("node"))
  }

  def pass(c: Ctx): Unit = {
    val o = s"${c.out}/workforce"
    val credits = c.out("etl")(in.normalize(in.raw).ckpt())
    val jumps = c.out("jumps")(DwwPipeline.jumpsWithDummies(credits))
    val docs = c.out("jumps")(DwwPipeline.jumpsDocs(credits))
    val csv = c.out("jumps")(DwwPipeline.jumpsCsv(credits, CsvKey, csvTarget, CsvDir))
    val rels = c.out("jumps")(pathInput(credits))
    val env = c.out("envelope")(Envelope.canonicalJson(Envelope.unfiltered(docs,
      DwwPipeline.servingCredits(credits)
        .select(col("matchedCompanyName").as("company"), col("geoLoc")),
      in.regionEcho, in.globalRegions)))
    val cube = c.out("density")(Density.build(densityInput(credits), densityKeys))
    val totals = c.out("density")(Density.totals(cube))
    val points = c.out("paths")(Paths.expand(rels, pathKeys))
    val kml = c.out("paths")(Paths.kmlTracks(rels, pathKeys))
    c.run("io") {
      Sinks.writeJson(env, s"$o/envelope")
      Sinks.writeCsv(csv, s"$o/jumps_csv", Sinks.jumpsCols)
      Sinks.writePartitioned(jumps.select("personId", "company", "time_ms", "dummy"),
        s"$o/jumps", Nil)
      Sinks.writePartitioned(totals, s"$o/density", Nil)
      Sinks.writePartitioned(points, s"$o/paths", Nil)
      Sinks.writeJsonl(kml, s"$o/kml")
    }
    MovementGraph.run(c, lineitem, orders, nodes, pprNode, s"$o/graph")
    c.wrote(o)
  }
}

/** Graph analytics over the studio transition graph: PageRank personalized
  * to one studio, HITS, label propagation and the k-core of the top-5
  * backbone. */
object MovementGraph {
  val PrIters = 2
  val HitsIters = 2
  val LpIters = 2
  val KcoreK = 3

  def run(c: Ctx, lineitem: DataFrame, orders: DataFrame, nodes: DataFrame,
          pprNode: Long, o: String): Unit = {
    val edges = c.out("graph")(Graph.supplierTransitions(lineitem, orders).ckpt())
    val pr = c.out("graph")(Graph.pagerank(nodes, edges, iters = PrIters,
        teleportTo = Some(pprNode), copartition = false)
      .select(col("node"), round(col("r"), 6).as("ppr")))
    val hits = c.out("graph")(Graph.hits(nodes, edges, iters = HitsIters)
      .select(col("node"), round(col("hub"), 6).as("hub"), round(col("auth"), 6).as("auth")))
    val backbone = c.out("graph")(Graph.backbone(edges, k = 5).ckpt())
    val lp = c.out("graph")(Graph.labelPropagation(nodes, backbone, iters = LpIters)
      .select(col("node"), col("label").as("community")))
    // k-core stops early once peeling converges: its round count is read
    // from its checkpoint jobs (one for the edge set, two per round)
    val (core, kcoreCkpts) = c.ckptJobsDuring(c.out("graph")(Graph.kcore(nodes, backbone,
      k = KcoreK)))
    c.count("graph.rounds", PrIters + HitsIters + LpIters + (kcoreCkpts - 1) / 2)
    c.run("io") {
      Sinks.writePartitioned(pr, s"$o/ppr", Nil)
      Sinks.writePartitioned(hits, s"$o/hits", Nil)
      Sinks.writePartitioned(lp, s"$o/lp", Nil)
      Sinks.writePartitioned(core, s"$o/kcore", Nil)
    }
  }

  /** The top-5 backbone of the transition graph, as oracle input SQL. */
  val backboneSql: String =
    """SELECT src, dst, w FROM (
      |  SELECT e.*, row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rk
      |  FROM (SELECT prev AS src, supp AS dst, count(*)::DOUBLE AS w
      |        FROM (SELECT o.o_custkey AS cust, l.l_suppkey AS supp,
      |                     lag(l.l_suppkey) OVER (PARTITION BY o.o_custkey
      |                       ORDER BY o.o_orderdate, l.l_orderkey, l.l_linenumber,
      |                                l.l_suppkey) AS prev
      |              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |        WHERE prev IS NOT NULL AND prev <> supp GROUP BY 1, 2) e)
      |WHERE rk <= 5""".stripMargin

  def oracles(pprNode: Long): Map[String, String] = Map(
    "ppr" -> Graph.pagerankOracleSql(iters = PrIters, damping = 0.85,
      teleportTo = Some(pprNode)).replace("AS pagerank", "AS ppr"),
    "hits" -> Graph.hitsOracleSql(iters = HitsIters),
    "lp" -> Graph.labelPropagationOracleSql(backboneSql,
      "SELECT s_suppkey AS node FROM supplier", iters = LpIters),
    "kcore" -> Graph.kcoreOracleSql(k = KcoreK))
}

/** Raw documents to packed, split training shards: the composition of the
  * curation pipeline (quality gate, exact dedup, MinHash-LSH near-dup,
  * decontamination, token packing, split, shard write). */
final class Corpus extends Batch {
  private var docs: DataFrame = _

  def prepare(c: Ctx): Unit = docs = c.table("documents")

  def pass(c: Ctx): Unit = {
    val train = docs.filter(col("doc_id") % 17 =!= 0).select("doc_id", "source", "text")
    val bench = docs.filter(col("doc_id") % 17 === 0)
    val quality = c.out("text")(TextAnalysis.gopherRules(train, "text")
      .filter(col("gopher_pass")).select("doc_id", "source", "text"))
    val exact = c.out("dedup")(Dedup.exactSurvivors(quality, "doc_id", "text").ckpt())
    val sig = c.out("dedup")(graft.BenchAccess.estimateSigTable(exact, "doc_id", "text", 3))
    val cands = c.out("dedup") {
      val banded = sig.select(col("doc"), explode(array((0 until 8).map(b =>
          struct(lit(b).as("band"), slice(col("sig"), b * 4 + 1, 4).as("key"))): _*)).as("bb"))
        .select(col("doc"), col("bb.band").as("band"), col("bb.key").as("key"))
      banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc") < col("b.doc"))
        .select(col("a.doc").as("id1"), col("b.doc").as("id2"))
        .distinct()
    }
    val pruned = c.out("dedup")(cands
      .join(sig.select(col("doc").as("id1"), col("sig").as("s1")), "id1")
      .join(sig.select(col("doc").as("id2"), col("sig").as("s2")), "id2")
      .filter(graft.functions.AgreeCount(col("s1"), col("s2")) >= 20)
      .select("id1", "id2"))
    val edges = c.out("dedup")(Dedup.ngramJaccard(exact, "doc_id", "text", 3, pruned,
        hashGrams = false)
      .filter(col("jaccard") >= 0.8).select("id1", "id2"))
    // one checkpoint for the oriented edge set, then one per round
    val (comp, ccCkpts) = c.ckptJobsDuring(c.out("dedup")(
      Dedup.connectedComponents(edges).withColumnRenamed("id", "doc_id")))
    c.count("dedup.cc_rounds", ccCkpts - 1)
    val nearSurv = exact.join(comp, Seq("doc_id"), "left")
      .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
      .select("doc_id", "source", "text")
    val clean = c.out("dedup")(nearSurv.join(
        Dedup.contaminatedIds(nearSurv, "doc_id", "text", bench, "text", n = 8,
          hashGrams = false),
        Seq("doc_id"), "left_anti")
      .ckpt())
    val packed = c.out("text")(TextAnalysis.packByTokenBudget(clean, "doc_id", "text",
      budget = 256, keep = Seq("source")))
    val split = c.out("text")(TextAnalysis.stratifiedSplit(packed, "doc_id",
        valFrac = 0.1, testFrac = 0.1)
      .select("doc_id", "source", "split", "n_tokens", "cum_tokens", "pack_id"))
    c.run("io")(Sinks.writeTrainingShards(split, "doc_id", s"${c.out}/corpus/shards"))
    c.wrote(s"${c.out}/corpus")
    // counted inside their layers, so no job of the pass runs outside one
    if (c.tracer.enabled) {
      c.run("text") {
        c.count("text.in", train.count())
        c.count("text.gate_out", quality.count())
      }
      c.run("dedup") {
        c.count("dedup.candidates", cands.count())
        c.count("dedup.edges", edges.count())
      }
    }
  }
}
