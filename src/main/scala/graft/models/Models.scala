package graft.models

import breeze.linalg.{DenseMatrix, DenseVector, cholesky, inv}
import graft.functions.Numerics

/**
 * Regression fitters backing the association engine.
 *
 * Semantics mirror the reference engine's three models
 * (/root/reference/src/polars_mas/models.py):
 *  - linear: OLS, t-based inference, intercept appended LAST so the
 *    reported coefficient 0 is the predictor (models.py:72-83)
 *  - logistic: Newton MLE, Wald z inference (models.py:56-69)
 *  - firth: Jeffreys-penalized logistic with logistf defaults
 *    (maxit=25, maxstep=5, no half-steps, gtol/xtol=1e-5) and an LRT
 *    p-value for the predictor (models.py:9-53)
 *
 * The binary fitters take a packed column-major design whose FIRST
 * column is the predictor and whose LAST is the intercept. They are
 * plain-JVM and run inside executor tasks — one fit per
 * (predictor, dependent) group. Logistic and Firth share the per-fit
 * steps around the row passes: the Newton solve and step cap, the
 * Firth final solve, the Wald and LRT results. The
 * iterative kernels are hand-rolled
 * over flat primitive arrays with buffers allocated once per fit:
 * breeze's idiomatic `xi.t * (xi(::,*) *:* w)` / `xi * infoInv`
 * materialize two n×k temporaries per IRLS iteration, and at the MAS
 * benchmark shape (1,800 pairs × ~20 iterations × 2 fits) that is tens
 * of GB of allocation churn — enough GC pressure to collapse 32-thread
 * throughput on a contended host. The raw kernels allocate only O(k²)
 * per iteration.
 */
final case class FitResult(
    pval: Double,
    beta: Double,
    se: Double,
    or: Double,
    ciLow: Double,
    ciHigh: Double,
    converged: Boolean)

object Models {
  private val Z975 = 1.959963984540054 // qnorm(0.975)
  private val FirthMaxStep = 5.0         // logistf maxstep

  // ------------------------------------------------------------- linear

  /**
   * OLS from CENTERED sufficient statistics — the 100 TB association
   * path. cxx/cxy/cyy are co-moments Σ(f_i−μ_i)(f_j−μ_j) over the
   * predictor+covariate block (NO intercept column: centering absorbs
   * it, so slopes and their standard errors are identical to the
   * intercept-last raw fit while the solve stays well-conditioned).
   * Raw Σ f_i f_j sums of large-magnitude features lose ~10 digits to
   * cancellation in rss = Syy − β·Sxy, which is what made round-2's
   * a01 4-dp rounding flip with aggregation order; co-moments keep
   * absolute error relative to the centered scale, so results are
   * stable at any partition count.
   */
  def linearFromCentered(
      cxx: DenseMatrix[Double],
      cxy: DenseVector[Double],
      cyy: Double,
      n: Long): FitResult = {
    val q = cxx.cols
    val dfRes = n - q - 1 // − 1: the (implicit, centered-out) intercept
    if (dfRes <= 0) return FitResult(Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, converged = false)
    val cxxInv = inv(cxx)
    val beta = cxxInv * cxy
    val rss = math.max(0.0, cyy - (beta dot cxy))
    tInference(beta(0), rss, dfRes, cxxInv(0, 0))
  }

  private[graft] def tInference(b0: Double, rss: Double, dfRes: Long, v00: Double): FitResult = {
    val sigma2 = rss / dfRes
    val se0 = math.sqrt(sigma2 * v00)
    val t = b0 / se0
    val pval = Numerics.tSf2(t, dfRes.toDouble)
    val tq = Numerics.tQuantile(0.975, dfRes.toDouble)
    FitResult(pval, b0, se0, Double.NaN, b0 - tq * se0, b0 + tq * se0, converged = true)
  }

  // -------------------------------------------------------- raw kernels

  /** eta → p → w: p_i = sigmoid(x_i·beta), w_i = p(1−p) floored at
    * wfloor. η accumulates in `p` column by column (p_i += x_ij·β_j, j
    * ascending), a unit-stride loop the JIT vectorizes; each row still
    * sums 0.0 + x_i0·β_0 + x_i1·β_1 + … in that order, so p and w are
    * bit-identical to the row-by-row dot product. No allocation. */
  private[graft] def etaPW(
      xd: Array[Double], n: Int, k: Int, beta: Array[Double],
      p: Array[Double], w: Array[Double], wfloor: Double): Unit = {
    java.util.Arrays.fill(p, 0, n, 0.0)
    var j = 0
    while (j < k) {
      val o = j * n
      val bj = beta(j)
      var i = 0
      while (i < n) { p(i) += xd(o + i) * bj; i += 1 }
      j += 1
    }
    var i = 0
    while (i < n) {
      val pi = 1.0 / (1.0 + math.exp(-p(i)))
      p(i) = pi
      w(i) = math.max(pi * (1.0 - pi), wfloor)
      i += 1
    }
  }

  /** out(k×k, row-major flat) = X^T W X, no n×k temporary. r22: the
    * weighted column w·x_a is hoisted into the caller-provided `wx`
    * scratch once per a, and the b-loop is 4-way register-blocked —
    * one wx load feeds four FMAs against four b-columns. The r21
    * inner loop ran 3 loads per FMA and an in-JVM interleaved A/B
    * showed it LOAD-bound (halving the multiplies alone bought only
    * 1.09x); blocking cuts loads to ~5 per 4 FMAs and measured 1.56x
    * on the whole fit at the k=22 MAS shape (1.08x at k=7), with
    * old-vs-blocked |dBeta| ≤ 1e-16 over the fitted grid. The hoist
    * itself is bit-identical (`w(i)*xd(oa+i)*xd(ob+i)` already
    * evaluated left-to-right as `(w·x_a)·x_b`); the blocked b-order
    * only changes which (a,b) cell a product lands in, never the
    * per-cell summation order. */
  private def xtwx(
      xd: Array[Double], n: Int, k: Int, w: Array[Double], wx: Array[Double],
      out: Array[Double]): Unit = {
    var a = 0
    while (a < k) {
      val oa = a * n
      var i = 0
      while (i < n) { wx(i) = w(i) * xd(oa + i); i += 1 }
      var b = a
      while (b + 4 <= k) {
        val o0 = b * n; val o1 = o0 + n; val o2 = o1 + n; val o3 = o2 + n
        var acc0 = 0.0; var acc1 = 0.0; var acc2 = 0.0; var acc3 = 0.0
        var i2 = 0
        while (i2 < n) {
          val wxi = wx(i2)
          acc0 += wxi * xd(o0 + i2)
          acc1 += wxi * xd(o1 + i2)
          acc2 += wxi * xd(o2 + i2)
          acc3 += wxi * xd(o3 + i2)
          i2 += 1
        }
        out(a * k + b) = acc0; out(b * k + a) = acc0
        out(a * k + b + 1) = acc1; out((b + 1) * k + a) = acc1
        out(a * k + b + 2) = acc2; out((b + 2) * k + a) = acc2
        out(a * k + b + 3) = acc3; out((b + 3) * k + a) = acc3
        b += 4
      }
      while (b < k) {
        val ob = b * n
        var acc = 0.0
        var i2 = 0
        while (i2 < n) { acc += wx(i2) * xd(ob + i2); i2 += 1 }
        out(a * k + b) = acc
        out(b * k + a) = acc
        b += 1
      }
      a += 1
    }
  }

  // ----------------------------------------------------------- logistic

  /** Logistic MLE over a packed col-major design (intercept included
    * as the last column). One O(k²) allocation per Newton step. */
  def logisticRaw(
      xd: Array[Double], n: Int, k: Int, y: Array[Double],
      maxIter: Int, tol: Double): FitResult = {
    val beta = new Array[Double](k)
    val p = new Array[Double](n)
    val w = new Array[Double](n)
    val wx = new Array[Double](n)
    val info = new Array[Double](k * k)
    val grad = new Array[Double](k)
    val all = Array.range(0, k)
    var converged = false
    var it = 0
    while (it < maxIter && !converged) {
      etaPW(xd, n, k, beta, p, w, 1e-10)
      xtwx(xd, n, k, w, wx, info)
      var a = 0
      while (a < k) {
        val oa = a * n
        var acc = 0.0
        var i = 0
        while (i < n) { acc += xd(oa + i) * (y(i) - p(i)); i += 1 }
        grad(a) = acc
        a += 1
      }
      val (step, _) = newtonStep(beta, info, grad, all, Double.PositiveInfinity)
      if (step < tol) converged = true
      it += 1
    }
    // Wald inference from the information at the last pre-step beta
    // (delta < tol at convergence, so identical to machine precision)
    wald(beta(0), new DenseMatrix(k, k, info.clone()), converged)
  }

  // -------------------------------------------------------------- firth

  /** Firth fit over a packed col-major design (intercept last). The
    * per-observation buffers are allocated once and shared by the full
    * and the LRT-constrained fit. */
  def firthRaw(
      xd: Array[Double], n: Int, k: Int, y: Array[Double],
      maxIter: Int = 25, gtol: Double = 1e-5, xtol: Double = 1e-5): FitResult = {
    val ws = new FirthWorkspace(n, k)
    val full = firthFit(xd, n, k, y, fixZero = -1, maxIter, gtol, xtol, null, ws)
    // LRT: refit with the predictor coefficient constrained to zero;
    // the Jeffreys penalty stays on the full design (logistf behavior).
    // Warm-started from the full fit (as firthmodels does) — same
    // optimum, fewer IRLS iterations. Under (quasi-)separation the full
    // fit leaves the other coefficients far from the null optimum and
    // the capped steps can stall there; such a fit reruns cold, from
    // β=0 with 2×maxIter, clear of the full fit's coefficients.
    val warm = full.beta.clone()
    warm(0) = 0.0
    val warmed = firthFit(xd, n, k, y, fixZero = 0, maxIter, gtol, xtol, warm, ws)
    val constrained =
      if (warmed.converged) warmed
      else firthFit(xd, n, k, y, fixZero = 0, 2 * maxIter, gtol, xtol, null, ws)
    lrt(full.beta(0), full.se0, full.pll, constrained.pll,
      full.converged && constrained.converged)
  }

  private final class FirthWorkspace(n: Int, k: Int) {
    val p = new Array[Double](n)
    val w = new Array[Double](n)
    val resid = new Array[Double](n)
    val wx = new Array[Double](n) // xtwx per-column hoist scratch
    val tacc = new Array[Double](n) // quad-form per-column accumulator
    val info = new Array[Double](k * k)
    val score = new Array[Double](k)
  }

  private final case class FirthFit(
      beta: Array[Double], se0: Double, pll: Double, converged: Boolean)

  /**
   * Penalized IRLS. fixZero >= 0 holds that coefficient at zero while
   * maximizing over the rest (used for the LRT null model).
   * Defaults follow logistf/firthmodels: maxit=25, maxstep=5,
   * gconv=xconv=1e-5, no step-halving. Hat diagonal h_i =
   * w_i·x_i^T info⁻¹ x_i is computed row-wise against the k×k inverse
   * — no n×k temporary, nothing allocated per iteration beyond the
   * small solve.
   */
  private def firthFit(
      xd: Array[Double], n: Int, k: Int, y: Array[Double],
      fixZero: Int, maxIter: Int, gtol: Double, xtol: Double,
      init: Array[Double], ws: FirthWorkspace): FirthFit = {
    val free = (0 until k).filter(_ != fixZero).toArray
    val beta = if (init != null) init.clone() else new Array[Double](k)
    val p = ws.p; val w = ws.w; val resid = ws.resid
    val wx = ws.wx; val tacc = ws.tacc
    val info = ws.info; val score = ws.score
    var converged = false
    var it = 0
    while (it < maxIter && !converged) {
      etaPW(xd, n, k, beta, p, w, 1e-12)
      xtwx(xd, n, k, w, wx, info)
      val invd = inv(new DenseMatrix(k, k, info.clone())).data // symmetric: layout-agnostic
      // quadratic form q_i = x_i^T info⁻¹ x_i, factored per LEADING
      // column with a 4-way-blocked inner accumulation (r22): for
      // each a, tacc_i = Σ_{b≥a} c_ab·x_b(i) with c_aa = inv_aa and
      // c_ab = 2·inv_ab (symmetry), four b-columns per tacc
      // load/store, then resid_i += x_a(i)·tacc_i. Same q_i up to FP
      // summation order — the declared Firth fits converge to
      // tol ≤ 1e-11 of the same fixed point, far below the 4-dp
      // output rounding (oracle-verified; an in-JVM interleaved A/B
      // measured old-vs-blocked |dBeta| ≤ 1e-16) — and the pass goes
      // from 3 memory ops per FMA to ~6 per 4 (the same load-bound
      // analysis as xtwx).
      java.util.Arrays.fill(resid, 0, n, 0.0)
      var qa = 0
      while (qa < k) {
        val oa = qa * n
        java.util.Arrays.fill(tacc, 0, n, 0.0)
        var qb = qa
        while (qb + 4 <= k) {
          val s0 = if (qa == qb) invd(qa * k + qb) else 2.0 * invd(qa * k + qb)
          val s1 = 2.0 * invd(qa * k + qb + 1)
          val s2 = 2.0 * invd(qa * k + qb + 2)
          val s3 = 2.0 * invd(qa * k + qb + 3)
          val o0 = qb * n; val o1 = o0 + n; val o2 = o1 + n; val o3 = o2 + n
          var i2 = 0
          while (i2 < n) {
            tacc(i2) += s0 * xd(o0 + i2) + s1 * xd(o1 + i2) +
              s2 * xd(o2 + i2) + s3 * xd(o3 + i2)
            i2 += 1
          }
          qb += 4
        }
        while (qb < k) {
          val ob = qb * n
          val s = if (qa == qb) invd(qa * k + qb) else 2.0 * invd(qa * k + qb)
          var i2 = 0
          while (i2 < n) { tacc(i2) += s * xd(ob + i2); i2 += 1 }
          qb += 1
        }
        var i3 = 0
        while (i3 < n) { resid(i3) += xd(oa + i3) * tacc(i3); i3 += 1 }
        qa += 1
      }
      var i = 0
      while (i < n) {
        val hi = w(i) * resid(i)
        resid(i) = y(i) - p(i) + hi * (0.5 - p(i))
        i += 1
      }
      var a = 0
      while (a < k) {
        val oa = a * n
        var acc = 0.0
        var i2 = 0
        while (i2 < n) { acc += xd(oa + i2) * resid(i2); i2 += 1 }
        score(a) = acc
        a += 1
      }
      val (step, gmax) = newtonStep(beta, info, score, free, FirthMaxStep)
      if (step < xtol && gmax < gtol) converged = true
      it += 1
    }
    // final penalized log-likelihood and SEs at the solution
    etaPW(xd, n, k, beta, p, w, 1e-12)
    xtwx(xd, n, k, w, wx, info)
    var ll = 0.0
    var i = 0
    while (i < n) {
      val pi = math.min(math.max(p(i), 1e-15), 1 - 1e-15)
      ll += y(i) * math.log(pi) + (1.0 - y(i)) * math.log(1.0 - pi)
      i += 1
    }
    val (se0, halfLogDet) = firthFinal(new DenseMatrix(k, k, info.clone()))
    FirthFit(beta, se0, ll + halfLogDet, converged)
  }

  // ---------------------------------------------- steps shared by the fitters

  /** One Newton step over the `free` coordinates: solves
    * info_FF·Δ = score_F, caps max |Δ| at `maxStep` (logistf maxstep;
    * the scale is exactly 1.0 when no cap applies) and adds the scaled
    * step to `beta` in place. `info` is the full k×k information
    * matrix (k = beta's length). Returns the capped max |Δβ| and max |score| over `free`.
    * Throws on a singular info_FF, before touching `beta`. */
  private def newtonStep(
      beta: Array[Double], info: Array[Double], score: Array[Double],
      free: Array[Int], maxStep: Double): (Double, Double) = {
    val nf = free.length
    val k = beta.length
    val deltaF = DenseMatrix.tabulate(nf, nf)((a, b) => info(free(a) * k + free(b))) \
      DenseVector.tabulate(nf)(a => score(free(a)))
    var mx = 0.0
    var gmax = 0.0
    var j = 0
    while (j < nf) {
      mx = math.max(mx, math.abs(deltaF(j)))
      gmax = math.max(gmax, math.abs(score(free(j))))
      j += 1
    }
    val scale = if (mx > maxStep) maxStep / mx else 1.0
    j = 0
    while (j < nf) { beta(free(j)) += scale * deltaF(j); j += 1 }
    (mx * scale, gmax)
  }

  /** Firth's final solve from the information matrix X'WX at the
    * solution: the predictor's se √(info⁻¹)₀₀ and the Jeffreys term
    * ½·log det info, from one Cholesky. Throws on a non-positive-
    * definite or singular info. */
  private def firthFinal(info: DenseMatrix[Double]): (Double, Double) = {
    val l = cholesky(info)
    val logDet = 2.0 * (0 until info.rows).map(i => math.log(l(i, i))).sum
    (math.sqrt(inv(info).apply(0, 0)), 0.5 * logDet)
  }

  /** Logistic's result: the predictor's Wald se √(info⁻¹)₀₀ and
    * two-sided normal p-value. */
  private def wald(b0: Double, info: DenseMatrix[Double], converged: Boolean): FitResult = {
    val se0 = math.sqrt(inv(info).apply(0, 0))
    result(Numerics.normSf2(b0 / se0), b0, se0, converged)
  }

  /** Firth's result: the χ²₁ likelihood-ratio p-value from the full and
    * the predictor-at-zero penalized log-likelihoods, with the full
    * fit's Wald se. */
  private def lrt(b0: Double, se0: Double, pllFull: Double, pllNull: Double,
      converged: Boolean): FitResult = {
    val stat = 2.0 * (pllFull - pllNull)
    result(Numerics.chi2Sf(math.max(stat, 0.0), 1.0), b0, se0, converged)
  }

  private def result(pval: Double, b0: Double, se0: Double, converged: Boolean): FitResult =
    FitResult(pval, b0, se0, math.exp(b0), b0 - Z975 * se0, b0 + Z975 * se0, converged)
}
