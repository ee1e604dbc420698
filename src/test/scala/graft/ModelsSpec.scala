package graft

import breeze.linalg.{DenseMatrix, DenseVector}
import org.scalatest.funsuite.AnyFunSuite
import graft.models.{FitResult, Models}

class ModelsSpec extends AnyFunSuite {
  def near(a: Double, b: Double, tol: Double): Boolean = math.abs(a - b) <= tol

  // Breeze-matrix entry points over the packed fitters: the design comes
  // without its intercept column, which the reference appends last.

  private def withIntercept(x: DenseMatrix[Double]): DenseMatrix[Double] =
    DenseMatrix.horzcat(x, DenseMatrix.ones[Double](x.rows, 1))

  /** The design column-major with the intercept appended. */
  private def packed(x: DenseMatrix[Double]): (Array[Double], Int, Int) =
    (withIntercept(x).toArray, x.rows, x.cols + 1)

  /** OLS from raw sufficient statistics (intercept column included):
    * the reference the centered engine path is checked against. */
  private def linearFromGram(xtx: DenseMatrix[Double], xty: DenseVector[Double], yty: Double,
      n: Long): FitResult = {
    val dfRes = n - xtx.cols
    if (dfRes <= 0) return FitResult(Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, converged = false)
    val xtxInv = breeze.linalg.inv(xtx)
    val beta = xtxInv * xty
    val rss = math.max(0.0, yty - (beta dot xty))
    Models.tInference(beta(0), rss, dfRes, xtxInv(0, 0))
  }

  private def linear(x: DenseMatrix[Double], y: DenseVector[Double]): FitResult = {
    val xi = withIntercept(x)
    linearFromGram(xi.t * xi, xi.t * y, y dot y, y.length.toLong)
  }

  private def logistic(x: DenseMatrix[Double], y: DenseVector[Double]): FitResult = {
    val (xd, n, k) = packed(x)
    Models.logisticRaw(xd, n, k, y.toArray, maxIter = 35, tol = 1e-8)
  }

  private def firth(x: DenseMatrix[Double], y: DenseVector[Double]): FitResult = {
    val (xd, n, k) = packed(x)
    Models.firthRaw(xd, n, k, y.toArray)
  }

  test("OLS matches hand-computed normal equations on small data") {
    // y = 2*x + 1 + noise-free => beta exactly 2, se 0-ish (rank issues), so
    // use noisy data with known closed form instead.
    val x = DenseMatrix(1.0, 2.0, 3.0, 4.0, 5.0)
    val y = DenseVector(2.1, 3.9, 6.2, 8.1, 9.7)
    val r = linear(x, y)
    // closed form simple regression
    val n = 5.0
    val sx = breeze.linalg.sum(x(::, 0)); val sy = breeze.linalg.sum(y)
    val sxx = x(::, 0) dot x(::, 0); val sxy = x(::, 0) dot y
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(near(r.beta, slope, 1e-10), s"beta ${r.beta} vs $slope")
    // residual se of slope
    val intercept = (sy - slope * sx) / n
    val resid = y - (x(::, 0) * slope + DenseVector.fill(5)(intercept))
    val sigma2 = (resid dot resid) / (n - 2)
    val seSlope = math.sqrt(sigma2 / (sxx - sx * sx / n))
    assert(near(r.se, seSlope, 1e-10))
    assert(r.converged)
    assert(r.pval > 0 && r.pval < 1e-3) // strongly significant
  }

  test("OLS with covariate recovers generating coefficients") {
    val rng = new scala.util.Random(7)
    val n = 2000
    val x1 = Array.fill(n)(rng.nextGaussian())
    val x2 = Array.fill(n)(rng.nextGaussian())
    val y = Array.tabulate(n)(i => 1.5 * x1(i) - 0.7 * x2(i) + 3.0 + 0.1 * rng.nextGaussian())
    val xm = DenseMatrix.horzcat(
      new DenseMatrix(n, 1, x1), new DenseMatrix(n, 1, x2))
    val r = linear(xm, DenseVector(y))
    assert(near(r.beta, 1.5, 0.02))
    assert(r.pval < 1e-10)
  }

  test("logistic recovers known log-odds on grouped binary data") {
    // binary predictor: group 0 -> 20/100 cases, group 1 -> 60/100 cases
    // beta = log( (60/40) / (20/80) ) = log(6)
    val n = 200
    val x = DenseMatrix.tabulate(n, 1)((i, _) => if (i < 100) 0.0 else 1.0)
    val y = DenseVector.tabulate(n) { i =>
      if (i < 100) { if (i < 20) 1.0 else 0.0 }
      else { if (i < 160) 1.0 else 0.0 }
    }
    val r = logistic(x, y)
    assert(r.converged)
    assert(near(r.beta, math.log(6.0), 1e-6), s"beta ${r.beta}")
    // Wald se for 2x2: sqrt(1/a + 1/b + 1/c + 1/d)
    val se = math.sqrt(1.0 / 60 + 1.0 / 40 + 1.0 / 20 + 1.0 / 80)
    assert(near(r.se, se, 1e-6))
    assert(near(r.or, 6.0, 1e-5))
  }

  test("firth on 2x2 matches Haldane-corrected log odds ratio") {
    // For a single binary predictor, Firth's bias-reduced estimate on a
    // 2x2 table equals adding 0.5 to each cell (public result:
    // Firth 1993 reduces to the Haldane-Anscombe correction for 2x2).
    // cells: exposed a=15 cases / b=35 controls; unexposed c=5 / d=45
    val x = DenseMatrix.tabulate(100, 1)((i, _) => if (i < 50) 1.0 else 0.0)
    val y = DenseVector.tabulate(100) { i =>
      if (i < 50) { if (i < 15) 1.0 else 0.0 }
      else { if (i < 55) 1.0 else 0.0 }
    }
    val r = firth(x, y)
    val expected = math.log((15.5 * 45.5) / (35.5 * 5.5))
    assert(r.converged)
    assert(near(r.beta, expected, 1e-4), s"beta ${r.beta} vs $expected")
    // Haldane se is only the first-order approximation to the Firth
    // Fisher-information se (real counts, corrected probabilities) —
    // they agree to ~1%.
    val seH = math.sqrt(1 / 15.5 + 1 / 35.5 + 1 / 5.5 + 1 / 45.5)
    assert(near(r.se, seH, 0.015), s"se ${r.se} vs $seH")
    assert(r.pval > 0 && r.pval < 0.05)
  }

  test("firth handles complete separation (where MLE diverges)") {
    // x perfectly separates y: plain logistic diverges; Firth stays finite
    val x = DenseMatrix.tabulate(40, 1)((i, _) => if (i < 20) -1.0 else 1.0)
    val y = DenseVector.tabulate(40)(i => if (i < 20) 0.0 else 1.0)
    val r = firth(x, y)
    assert(!r.beta.isNaN && !r.beta.isInfinite)
    assert(r.beta > 0 && r.beta < 10) // finite, bias-reduced
    assert(r.pval < 1e-6)
  }

  test("linearFromGram equals realized-design linear") {
    val rng = new scala.util.Random(11)
    val n = 500
    val x1 = Array.fill(n)(rng.nextGaussian())
    val x2 = Array.fill(n)(rng.nextDouble())
    val y = Array.tabulate(n)(i => 0.5 * x1(i) + 2.0 * x2(i) + rng.nextGaussian())
    val xm = DenseMatrix.horzcat(new DenseMatrix(n, 1, x1), new DenseMatrix(n, 1, x2))
    val direct = linear(xm, DenseVector(y))
    val xi = withIntercept(xm)
    val viaGram = linearFromGram(xi.t * xi, xi.t * DenseVector(y), DenseVector(y) dot DenseVector(y), n)
    assert(near(direct.beta, viaGram.beta, 1e-10))
    assert(near(direct.se, viaGram.se, 1e-10))
    assert(near(direct.pval, viaGram.pval, 1e-10))
  }

  test("linearFromCentered on large-magnitude data equals the raw fit on shifted data") {
    // slopes/se are exactly shift-invariant, so the accurate reference
    // is the RAW intercept-last fit on mean-shifted (small-magnitude)
    // data. The centered co-moment solve over the ORIGINAL 1e4/1e5-
    // magnitude features must agree tightly — the raw Gram on the
    // unshifted data does NOT (that cancellation was the round-2 a01
    // flake, and asserting against it here fails at 1e-6 on se).
    val rng = new scala.util.Random(17)
    val n = 800
    val x1 = Array.fill(n)(1e4 + 50.0 * rng.nextGaussian())
    val x2 = Array.fill(n)(rng.nextDouble())
    val y = Array.tabulate(n)(i => 1e5 + 0.8 * x1(i) + 30.0 * x2(i) + 40.0 * rng.nextGaussian())
    val m1 = x1.sum / n; val m2 = x2.sum / n; val my = y.sum / n
    val xmS = DenseMatrix.horzcat(
      new DenseMatrix(n, 1, x1.map(_ - m1)), new DenseMatrix(n, 1, x2.map(_ - m2)))
    val reference = linear(xmS, DenseVector(y.map(_ - my)))
    def cm(a: Array[Double], ma: Double, b: Array[Double], mb: Double): Double =
      (0 until n).map(i => (a(i) - ma) * (b(i) - mb)).sum
    val cxx = DenseMatrix(
      (cm(x1, m1, x1, m1), cm(x1, m1, x2, m2)),
      (cm(x1, m1, x2, m2), cm(x2, m2, x2, m2)))
    val cxy = DenseVector(cm(x1, m1, y, my), cm(x2, m2, y, my))
    val viaCentered = Models.linearFromCentered(cxx, cxy, cm(y, my, y, my), n)
    assert(near(reference.beta, viaCentered.beta, 1e-9 * math.abs(reference.beta)))
    assert(near(reference.se, viaCentered.se, 1e-8 * reference.se))
    assert(near(reference.pval, viaCentered.pval, 1e-8))
  }
  test("firth at k >= 6 (r22 register-blocked kernel path) matches an idiomatic breeze reference") {
    // The 4-way-blocked xtwx / quadratic-form loops only engage at
    // k >= 5 columns; the k=2 Haldane pin above never reaches them.
    // Reference: the SAME penalized IRLS (logistf rules: maxstep 5,
    // gtol/xtol 1e-5, hat diagonal from the full-design information)
    // written directly in breeze — independent of the flat-array
    // kernel's loop structure entirely.
    val rng = new scala.util.Random(23)
    val n = 400
    val covs = 4 // k = covs + 2 = 6: one 4-block plus a 2-wide remainder
    val x = DenseMatrix.tabulate(n, covs + 1)((i, j) =>
      if (j == 0) rng.nextGaussian() else rng.nextDouble())
    val yv = DenseVector.tabulate(n) { i =>
      val eta = 0.9 * x(i, 0) - 1.2
      if (rng.nextDouble() < 1.0 / (1.0 + math.exp(-eta))) 1.0 else 0.0
    }
    def fitRef(fixZero: Int, init: DenseVector[Double]): (DenseVector[Double], Double) = {
      val xi = withIntercept(x)
      val k = xi.cols
      val free = (0 until k).filter(_ != fixZero).toIndexedSeq
      var beta = init.copy
      var it = 0
      var converged = false
      while (it < 25 && !converged) {
        val eta = xi * beta
        val p = breeze.numerics.sigmoid(eta)
        val w = (p *:* (1.0 - p)).map(v => math.max(v, 1e-12))
        val xw = xi(::, breeze.linalg.*) *:* w
        val info = xi.t * xw
        val infoInv = breeze.linalg.inv(info)
        val h = DenseVector.tabulate(n) { i =>
          val row = xi(i, ::).t
          w(i) * (row dot (infoInv * row))
        }
        val resid = yv - p + (h *:* (DenseVector.fill(n)(0.5) - p))
        val score = xi.t * resid
        val scoreF = DenseVector(free.map(score(_)).toArray)
        val infoF = DenseMatrix.tabulate(free.size, free.size)((a, b) =>
          info(free(a), free(b)))
        val deltaF = infoF \ scoreF
        val mx = breeze.linalg.max(breeze.numerics.abs(deltaF))
        val scale = if (mx > 5.0) 5.0 / mx else 1.0
        free.zipWithIndex.foreach { case (f, j) => beta(f) += scale * deltaF(j) }
        if (mx * scale < 1e-5 && breeze.linalg.max(breeze.numerics.abs(scoreF)) < 1e-5)
          converged = true
        it += 1
      }
      val eta = xi * beta
      val p = breeze.numerics.sigmoid(eta)
      val pc = p.map(v => math.min(math.max(v, 1e-15), 1 - 1e-15))
      val ll = breeze.linalg.sum(
        (yv *:* breeze.numerics.log(pc)) +
          ((DenseVector.fill(n)(1.0) - yv) *:* breeze.numerics.log(pc.map(v => 1.0 - v))))
      val w = (p *:* (1.0 - p)).map(v => math.max(v, 1e-12))
      val xw = xi(::, breeze.linalg.*) *:* w
      val info = xi.t * xw
      val l = breeze.linalg.cholesky(info)
      val pll = ll + (0 until info.rows).map(i => math.log(l(i, i))).sum
      (beta, pll)
    }
    val k = covs + 2
    val (bFull, pllFull) = fitRef(-1, DenseVector.zeros[Double](k))
    val warm = bFull.copy; warm(0) = 0.0
    val (_, pllNull) = fitRef(0, warm)
    val statRef = 2.0 * (pllFull - pllNull)
    val pRef = graft.functions.Numerics.chi2Sf(math.max(statRef, 0.0), 1.0)
    val r = firth(x, yv)
    assert(near(r.beta, bFull(0), 1e-6), s"beta ${r.beta} vs ${bFull(0)}")
    assert(near(r.pval, pRef, 1e-6), s"pval ${r.pval} vs $pRef")
    assert(r.converged)
  }

  test("the column-order eta pass is bit-identical to the row-order dot product, k 2 to 22") {
    val rng = new scala.util.Random(41)
    // logistic floors w at 1e-10, firth at 1e-12
    for (k <- 2 to 22; wfloor <- Seq(1e-10, 1e-12)) {
      val n = 37 + rng.nextInt(200)
      // an intercept column, a binary column and wide-ranging Gaussians
      val xd = Array.tabulate(k * n) { c =>
        c / n match {
          case 0 => 1.0
          case 1 => if (rng.nextBoolean()) 1.0 else 0.0
          case _ => rng.nextGaussian() * math.pow(10, rng.nextInt(7) - 3)
        }
      }
      val beta = Array.fill(k)(rng.nextGaussian() * 3)
      val p = Array.fill(n)(Double.NaN)
      val w = Array.fill(n)(Double.NaN)
      Models.etaPW(xd, n, k, beta, p, w, wfloor)
      for (i <- 0 until n) {
        var acc = 0.0
        for (j <- 0 until k) acc += xd(j * n + i) * beta(j)
        val pi = 1.0 / (1.0 + math.exp(-acc))
        val wi = math.max(pi * (1.0 - pi), wfloor)
        assert(java.lang.Double.doubleToRawLongBits(p(i)) == java.lang.Double.doubleToRawLongBits(pi),
          s"k=$k row $i: p ${p(i)} vs $pi")
        assert(java.lang.Double.doubleToRawLongBits(w(i)) == java.lang.Double.doubleToRawLongBits(wi),
          s"k=$k row $i: w ${w(i)} vs $wi")
      }
    }
  }
}
