package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PCA over an embedding corpus, finishing the [[Gram]] story: the
  * corpus-sized work is exactly TWO passes (the Gram/mean sufficient
  * statistic in, the projection out); everything between — covariance,
  * subspace extraction — happens on d×d numbers on the driver,
  * k-bounded and corpus-size-independent. This is the distributed-PCA
  * standard (RowMatrix.computePrincipalComponents does the same: Gram
  * on the cluster, eigendecomposition on the driver).
  *
  * Two subspace extractors:
  *  - [[eigSym]]: a full cyclic-Jacobi symmetric eigendecomposition —
  *    the exact tool (whitening = divide projections by √eigenvalue);
  *    driver-side d×d, used by specs and library callers.
  *  - [[orthogonalIteration]]: fixed-T subspace/power iteration from a
  *    deterministic md5-seeded ±1 block (the Halko et al. randomized
  *    range-finder shape), with EVERY multi-term reduction rounded to
  *    a fixed scale. That rounding is the cross-engine contract: a SQL
  *    engine replaying the same steps sums groups in an unspecified
  *    order, and rounding each reduction absorbs the reassociation
  *    ulps — so the basis (and hence the projection gate) is
  *    bit-reproducible on any engine with md5/sqrt/round, which a raw
  *    Jacobi sweep (data-dependent pivots, no roundable step
  *    boundaries) is not. The spec anchors the iterated basis to
  *    [[eigSym]]'s true top-k subspace.
  */
object Pca {

  /** Driver-side replica of [[graft.sketch.Sketches.hash60]] /
    * DuckDB's ('0x' || substr(md5(s), 1, 15))::BIGINT. */
  private[graft] def hash60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Deterministic ±1 seed block entry (row i, column c). */
  private[graft] def seedSign(i: Int, c: Int): Double =
    if (hash60(s"pca:$i:$c") % 2 == 0) 1.0 else -1.0

  /** Spark's round(col, scale) semantics on a double (HALF_UP on the
    * shortest-decimal value), with −0.0 normalized like
    * [[graft.functions.ScoreFns.scoreRound]]. */
  private[graft] def r(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0

  /** (n, mean, covariance) of the embedding corpus, every multi-row
    * reduction rounded to 6 decimals so a replaying engine lands on
    * identical doubles: G entries and per-dim means round first, then
    * C(i,j) = round(g/n − μᵢμⱼ, 6) is pure scalar IEEE arithmetic on
    * identical inputs. Cost: the [[Gram.upperTriangle]] pass plus one
    * (dim, sum) aggregation — both single corpus scans with bounded
    * outputs; the collects are d(d+1)/2 and d rows. */
  def roundedCovariance(emb: DataFrame, vecCol: String, dim: Int)
      : (Long, Array[Double], Array[Array[Double]]) = {
    val n = emb.where(col(vecCol).isNotNull).count()
    require(n > 0, "roundedCovariance: empty corpus")
    val sums = emb.where(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("i", "v")))
      .groupBy("i").agg(sum(col("v").cast("double")).as("s"))
      .collect().map(row => row.getInt(0) -> row.getDouble(1)).toMap
    val mu = Array.tabulate(dim)(i => r(sums(i) / n, 6))
    val c = Array.fill(dim, dim)(0.0)
    Gram.upperTriangle(emb, vecCol, dim).collect().foreach { row =>
      val i = row.getLong(0).toInt
      val j = row.getLong(1).toInt
      val g = r(row.getDouble(2), 6)
      val v = r(g / n - mu(i) * mu(j), 6)
      c(i)(j) = v
      c(j)(i) = v
    }
    (n, mu, c)
  }

  /** Fixed-`iters` orthogonal iteration for the top-k subspace of
    * symmetric `c`, k ≤ 2 engines-replayable form (classical and
    * modified Gram-Schmidt coincide at one projection per column).
    * Rounding contract (mirrored by the SQL oracle): matrix-product
    * and Gram-Schmidt-corrected vector entries at 6 decimals,
    * reduction scalars (squared norms, projection coefficients) at 8.
    * Returns k orthonormal columns, each d doubles. */
  def orthogonalIteration(c: Array[Array[Double]], k: Int,
                          iters: Int): Array[Array[Double]] = {
    val d = c.length
    require(k >= 1 && k <= 2, s"replayable form supports k in 1..2, got $k")
    var b = Array.tabulate(k)(cc => Array.tabulate(d)(i => seedSign(i, cc)))
    for (_ <- 1 to iters) {
      val y = Array.tabulate(k)(cc => Array.tabulate(d)(i =>
        r((0 until d).map(j => c(i)(j) * b(cc)(j)).sum, 6)))
      val q = Array.ofDim[Array[Double]](k)
      for (cc <- 0 until k) {
        var v = y(cc)
        for (p <- 0 until cc) {
          val proj = r((0 until d).map(i => v(i) * q(p)(i)).sum, 8)
          v = Array.tabulate(d)(i => r(v(i) - proj * q(p)(i), 6))
        }
        val ss = r((0 until d).map(i => v(i) * v(i)).sum, 8)
        require(ss > 0, s"degenerate iterate for column $cc")
        val nrm = math.sqrt(ss)
        q(cc) = Array.tabulate(d)(i => r(v(i) / nrm, 6))
      }
      b = q
    }
    b
  }

  /** Full symmetric eigendecomposition by cyclic Jacobi (the exact
    * driver-side tool): returns (eigenvalues descending, matching
    * orthonormal eigenvectors as rows). d×d only — never point this
    * at data-sized matrices. */
  def eigSym(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (off > 1e-14 && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-18) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
                case 0.0 => 1.0 // theta == 0 → 45° rotation
                case x => x
              }
            val cth = 1.0 / math.sqrt(t * t + 1.0)
            val sth = t * cth
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = cth * aip - sth * aiq
              a(i)(q) = sth * aip + cth * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = cth * api - sth * aqi
              a(q)(i) = sth * api + cth * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = cth * vip - sth * viq
              v(i)(q) = sth * vip + cth * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    (order.map(i => a(i)(i)).toArray,
      order.map(j => Array.tabulate(d)(i => v(i)(j))).toArray)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    for (i <- a.indices; j <- a.indices if i != j) s += a(i)(j) * a(i)(j)
    s
  }

  /** Centered projection of the corpus onto `basis` (k columns of d
    * doubles): pⱼ = round(dot(v, qⱼ) − dot(μ, qⱼ), roundTo). The
    * center never touches the corpus — dot(μ, qⱼ) is one rounded
    * driver-side scalar per column — and each row pays k codegen'd
    * [[graft.plans.DotProduct]] loops: a single narrow pass, no
    * shuffle. Output: (idCol, p0..p{k−1}). */
  def project(emb: DataFrame, idCol: String, vecCol: String,
              mean: Array[Double], basis: Array[Array[Double]],
              roundTo: Int = 4): DataFrame = {
    val d = mean.length
    val cols = basis.toSeq.zipWithIndex.map { case (q, cc) =>
      val bc = r((0 until d).map(i => mean(i) * q(i)).sum, 6)
      graft.functions.ScoreFns.scoreRound(
        graft.plans.DotProduct(col(vecCol), typedLit(q.toSeq)) - lit(bc),
        roundTo).as(s"p$cc")
    }
    emb.select(col(idCol) +: cols: _*)
  }
}
