package graft.llm

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class PcaSpec extends SparkSpecBase {
  import spark.implicits._

  test("jacobiEigen: known 2x2 symmetric matrix") {
    val (values, vectors) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(values(0) - 3.0) < 1e-12 && math.abs(values(1) - 1.0) < 1e-12)
    val s = 1 / math.sqrt(2)
    assert(vectors(0).zip(Array(s, s)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(vectors(1).zip(Array(s, -s)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("jacobiEigen: reconstructs the matrix (A = VᵀΛV on a random symmetric)") {
    val rnd = new scala.util.Random(7)
    val d = 6
    val m = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val v = rnd.nextDouble() - 0.5
      m(i)(j) = v; m(j)(i) = v
    }
    val (values, vectors) = Pca.jacobiEigen(m)
    for (i <- 0 until d; j <- 0 until d) {
      val rec = (0 until d).map(k => vectors(k)(i) * values(k) * vectors(k)(j)).sum
      assert(math.abs(rec - m(i)(j)) < 1e-9, s"($i,$j)")
    }
    // descending eigenvalues
    assert(values.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
  }

  // correlated 3-d synthetic data: x2 ≈ 2·x1, x3 independent noise
  private lazy val emb = {
    val rnd = new scala.util.Random(11)
    (0 until 400).map { i =>
      val a = rnd.nextGaussian()
      (i.toLong, Seq((a + 0.05 * rnd.nextGaussian()).toFloat,
        (2 * a + 0.05 * rnd.nextGaussian()).toFloat,
        (0.3 * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("fit: orthonormal components, eigenvalues match projected variance") {
    val model = Pca.fit(emb, "embedding")
    val d = model.means.length
    // orthonormality
    for (i <- 0 until d; j <- 0 until d) {
      val dot = model.components(i).zip(model.components(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9, s"($i,$j)")
    }
    // variance along each component ≈ its eigenvalue
    val pc = Pca.project(emb, "vec_id", "embedding", model, k = d)
      .select(col("pc")).as[Seq[Double]].collect()
    for (c <- 0 until d) {
      val xs = pc.map(_(c))
      val mean = xs.sum / xs.size
      val variance = xs.map(x => (x - mean) * (x - mean)).sum / xs.size
      assert(math.abs(variance - model.eigenvalues(c)) < 1e-4,
        s"pc$c var $variance vs λ ${model.eigenvalues(c)}")
    }
    // the planted structure: one dominant direction ≈ (1,2,0)/√5
    assert(model.eigenvalues(0) > 4 * model.eigenvalues(1))
    val lead = model.components(0)
    val target = Array(1.0, 2.0, 0.0).map(_ / math.sqrt(5))
    val align = math.abs(lead.zip(target).map { case (a, b) => a * b }.sum)
    assert(align > 0.999, s"alignment $align")
  }

  test("project: top-k centered reconstruction captures the lead variance") {
    val model = Pca.fit(emb, "embedding")
    val total = model.eigenvalues.sum
    val explained1 = model.eigenvalues(0) / total
    assert(explained1 > 0.9) // 1 component explains the planted line
  }

  test("PCA-space SemDeDup catches planted exact duplicates") {
    // exact duplicates project to identical points (projection is a pure
    // function of the vector), so they survive any linear reduction
    val rnd = new scala.util.Random(23)
    val base = (0 until 50).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }
    val dups = (0 until 5).map(i => (100L + i, base(i)._2)) // copies of 0..4
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val model = Pca.fit(emb, "embedding")
    val proj = Pca.project(emb, "vec_id", "embedding", model, k = 8)
    val survivors = Dedup.semanticDedupPortable(proj, "vec_id", "pc",
        threshold = 0.95, nCells = 4, rounds = 4)
      .select("vec_id").as[Long].collect().toSet
    val dropped = (base ++ dups).map(_._1).toSet -- survivors
    // every planted copy (the larger id of its pair) is dropped
    assert((100L until 105L).forall(dropped.contains), s"dropped: $dropped")
    // and no random-vector false positives at cos >= 0.95 in 8-d
    assert(dropped.size == 5, s"dropped: $dropped")
  }

  test("fit is deterministic across repartitionings") {
    val m1 = Pca.fit(emb.repartition(7), "embedding")
    val m2 = Pca.fit(emb.repartition(2), "embedding")
    assert(m1.eigenvalues.zip(m2.eigenvalues).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    val f1 = m1.components.toSeq.flatMap(_.toSeq)
    val f2 = m2.components.toSeq.flatMap(_.toSeq)
    assert(f1.zip(f2).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }
}
