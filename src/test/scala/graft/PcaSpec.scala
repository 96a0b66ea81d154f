package graft

import graft.sim.Pca

/** `Pca` against plain-Scala linear algebra: the symmetric
  * eigendecomposition reconstructs its input, orthogonal iteration
  * finds its dominant subspace, and the projection applies the
  * driver-side constants exactly. */
class PcaSpec extends SparkSpecBase {
  import spark.implicits._

  private def randSym(d: Int, seed: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val a = Array.fill(d, d)(0.0)
    for (i <- 0 until d; j <- i until d) {
      val v = rnd.nextDouble() - 0.5
      a(i)(j) = v; a(j)(i) = v
    }
    a
  }

  test("eigSym reconstructs A = V diag(w) V^T and sorts eigenvalues") {
    val d = 8
    val a = randSym(d, 11)
    val (w, v) = Pca.eigSym(a)
    assert(w.sliding(2).forall(p => p.length < 2 || p(0) >= p(1) - 1e-12))
    // orthonormal rows
    for (p <- 0 until d; q <- 0 until d) {
      val dot = (0 until d).map(i => v(p)(i) * v(q)(i)).sum
      assert(math.abs(dot - (if (p == q) 1.0 else 0.0)) < 1e-9,
        s"v($p)·v($q) = $dot")
    }
    // reconstruction
    for (i <- 0 until d; j <- 0 until d) {
      val r = (0 until d).map(k => v(k)(i) * w(k) * v(k)(j)).sum
      assert(math.abs(r - a(i)(j)) < 1e-9, s"A($i)($j): $r vs ${a(i)(j)}")
    }
  }

  test("orthogonalIteration converges to eigSym's dominant subspace") {
    // planted spectrum with a decisive gap after the top 2
    val d = 10
    val (_, base) = Pca.eigSym(randSym(d, 23)) // an orthonormal basis
    val w = Array(9.0, 7.5, 0.4, 0.3, 0.25, 0.2, 0.15, 0.1, 0.05, 0.01)
    val a = Array.tabulate(d, d)((i, j) =>
      (0 until d).map(k => base(k)(i) * w(k) * base(k)(j)).sum)
    val q = Pca.orthogonalIteration(a, k = 2, iters = 3)
    // columns orthonormal (up to the documented 6dp rounding)
    for (p <- 0 until 2; r <- 0 until 2) {
      val dot = (0 until d).map(i => q(p)(i) * q(r)(i)).sum
      assert(math.abs(dot - (if (p == r) 1.0 else 0.0)) < 1e-4)
    }
    // energy captured by the iterated basis ≈ top-2 eigen energy
    val energy = (0 until 2).map { c =>
      (0 until d).map(i => (0 until d).map(j =>
        q(c)(i) * a(i)(j) * q(c)(j)).sum).sum
    }.sum
    assert(energy > 0.999 * (w(0) + w(1)), s"captured $energy of ${w(0) + w(1)}")
  }

  test("project centers and projects with driver-side constants") {
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(3.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val mu = Array(2.0, 0.0)
    val basis = Array(Array(1.0, 0.0)) // identity direction
    val got = Pca.project(emb, "vec_id", "embedding", mu, basis, 4)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((1L, -1.0), (2L, 1.0)))
  }
}
