package graft.tools

import breeze.linalg.{DenseMatrix, inv}
import graft.models.Models

/**
 * Round-22 kernel A/B (plain JVM, no Spark): the r21 verdict's item 3
 * — mas_firth20's per-pair cost is the in-task Firth IRLS kernel, and
 * cross-leg bench comparisons on this host swing 2x with zero code
 * change, so the old and new kernels are timed INTERLEAVED in one JVM
 * over the same synthetic pair grid (32 worker threads x pairs, the
 * bench's concurrency shape). Variant OLD is a verbatim copy of the
 * r21 kernel (2-multiply xtwx inner loop, pair-wise quadratic form);
 * variant NEW calls Models.firthRaw (hoisted w-column, per-leading-
 * column quadratic form). The variants differ only in their row
 * passes: every one takes its Newton step, final solve and LRT from
 * `Models`. Prints per-round medians and the max
 * coefficient/p-value deltas between variants (expected ~1e-9: same
 * fixed point, different FP summation order).
 */
object ProfFirthKernel {

  // ----- verbatim r21 kernel copy (the OLD variant) -----
  private def etaPW(xd: Array[Double], n: Int, k: Int, beta: Array[Double],
      p: Array[Double], w: Array[Double], wfloor: Double): Unit = {
    var i = 0
    while (i < n) {
      var acc = 0.0
      var j = 0
      while (j < k) { acc += xd(j * n + i) * beta(j); j += 1 }
      val pi = 1.0 / (1.0 + math.exp(-acc))
      p(i) = pi
      w(i) = math.max(pi * (1.0 - pi), wfloor)
      i += 1
    }
  }
  private def xtwxOld(xd: Array[Double], n: Int, k: Int, w: Array[Double],
      out: Array[Double]): Unit = {
    var a = 0
    while (a < k) {
      val oa = a * n
      var b = a
      while (b < k) {
        val ob = b * n
        var acc = 0.0
        var i = 0
        while (i < n) { acc += w(i) * xd(oa + i) * xd(ob + i); i += 1 }
        out(a * k + b) = acc
        out(b * k + a) = acc
        b += 1
      }
      a += 1
    }
  }
  private final class Ws(n: Int, k: Int) {
    val p = new Array[Double](n)
    val w = new Array[Double](n)
    val resid = new Array[Double](n)
    val info = new Array[Double](k * k)
    val score = new Array[Double](k)
  }
  private final case class Fit(beta: Array[Double], se0: Double, pll: Double,
      converged: Boolean)
  private def firthFitOld(xd: Array[Double], n: Int, k: Int, y: Array[Double],
      fixZero: Int, maxIter: Int, maxStep: Double, gtol: Double, xtol: Double,
      init: Array[Double], ws: Ws): Fit = {
    val free = (0 until k).filter(_ != fixZero).toArray
    val beta = if (init != null) init.clone() else new Array[Double](k)
    val p = ws.p; val w = ws.w; val resid = ws.resid
    val info = ws.info; val score = ws.score
    var converged = false
    var it = 0
    while (it < maxIter && !converged) {
      etaPW(xd, n, k, beta, p, w, 1e-12)
      xtwxOld(xd, n, k, w, info)
      val invd = inv(new DenseMatrix(k, k, info.clone())).data
      java.util.Arrays.fill(resid, 0, n, 0.0)
      var qa = 0
      while (qa < k) {
        val oa = qa * n
        var qb = qa
        while (qb < k) {
          val ob = qb * n
          val s = if (qa == qb) invd(qa * k + qb) else 2.0 * invd(qa * k + qb)
          var i2 = 0
          while (i2 < n) { resid(i2) += s * xd(oa + i2) * xd(ob + i2); i2 += 1 }
          qb += 1
        }
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
      val (step, gmax) = Models.newtonStep(beta, (a2, b2) => info(a2 * k + b2), score, free, maxStep)
      if (step < xtol && gmax < gtol) converged = true
      it += 1
    }
    etaPW(xd, n, k, beta, p, w, 1e-12)
    xtwxOld(xd, n, k, w, info)
    var ll = 0.0
    var i = 0
    while (i < n) {
      val pi = math.min(math.max(p(i), 1e-15), 1 - 1e-15)
      ll += y(i) * math.log(pi) + (1.0 - y(i)) * math.log(1.0 - pi)
      i += 1
    }
    val (se0, halfLogDet) = Models.firthFinal(new DenseMatrix(k, k, info.clone()))
    Fit(beta, se0, ll + halfLogDet, converged)
  }
  private def firthRawOld(xd: Array[Double], n: Int, k: Int,
      y: Array[Double]): (Double, Double) = {
    val ws = new Ws(n, k)
    val full = firthFitOld(xd, n, k, y, -1, 25, 5.0, 1e-5, 1e-5, null, ws)
    val warm = full.beta.clone()
    warm(0) = 0.0
    val c = firthFitOld(xd, n, k, y, 0, 25, 5.0, 1e-5, 1e-5, warm, ws)
    (full.beta(0), Models.lrt(full.beta(0), full.se0, full.pll, c.pll, full.converged && c.converged).pval)
  }

  // ----- register-blocked prototype (the BLK variant): the A/B of
  // OLD vs the shipped r22 kernel measured only 1.09x — the inner
  // loops are LOAD-bound (3 loads per FMA), not multiply-bound, so
  // the candidate is 4-way b-blocking: one wx load feeds 4 FMAs
  // against 4 b-columns (5 loads / 4 FMAs), and the quad-form tacc
  // update loads/stores tacc once per 4 columns. -----
  private def xtwxBlk(xd: Array[Double], n: Int, k: Int, w: Array[Double],
      wx: Array[Double], out: Array[Double]): Unit = {
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
        out(a * k + b) = acc; out(b * k + a) = acc
        b += 1
      }
      a += 1
    }
  }
  private final class WsB(n: Int, k: Int) {
    val p = new Array[Double](n)
    val w = new Array[Double](n)
    val resid = new Array[Double](n)
    val wx = new Array[Double](n)
    val tacc = new Array[Double](n)
    val info = new Array[Double](k * k)
    val score = new Array[Double](k)
  }
  private def firthFitBlk(xd: Array[Double], n: Int, k: Int, y: Array[Double],
      fixZero: Int, maxIter: Int, maxStep: Double, gtol: Double, xtol: Double,
      init: Array[Double], ws: WsB): Fit = {
    val free = (0 until k).filter(_ != fixZero).toArray
    val beta = if (init != null) init.clone() else new Array[Double](k)
    val p = ws.p; val w = ws.w; val resid = ws.resid
    val wx = ws.wx; val tacc = ws.tacc
    val info = ws.info; val score = ws.score
    var converged = false
    var it = 0
    while (it < maxIter && !converged) {
      etaPW(xd, n, k, beta, p, w, 1e-12)
      xtwxBlk(xd, n, k, w, wx, info)
      val invd = inv(new DenseMatrix(k, k, info.clone())).data
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
          val s = if (qa == qb) invd(qa * k + qb) else 2.0 * invd(qa * k + qb)
          val ob = qb * n
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
      val (step, gmax) = Models.newtonStep(beta, (a2, b2) => info(a2 * k + b2), score, free, maxStep)
      if (step < xtol && gmax < gtol) converged = true
      it += 1
    }
    etaPW(xd, n, k, beta, p, w, 1e-12)
    xtwxBlk(xd, n, k, w, wx, info)
    var ll = 0.0
    var i = 0
    while (i < n) {
      val pi = math.min(math.max(p(i), 1e-15), 1 - 1e-15)
      ll += y(i) * math.log(pi) + (1.0 - y(i)) * math.log(1.0 - pi)
      i += 1
    }
    val (se0, halfLogDet) = Models.firthFinal(new DenseMatrix(k, k, info.clone()))
    Fit(beta, se0, ll + halfLogDet, converged)
  }
  private def firthRawBlk(xd: Array[Double], n: Int, k: Int,
      y: Array[Double]): (Double, Double) = {
    val ws = new WsB(n, k)
    val full = firthFitBlk(xd, n, k, y, -1, 25, 5.0, 1e-5, 1e-5, null, ws)
    val warm = full.beta.clone()
    warm(0) = 0.0
    val c = firthFitBlk(xd, n, k, y, 0, 25, 5.0, 1e-5, 1e-5, warm, ws)
    (full.beta(0), Models.lrt(full.beta(0), full.se0, full.pll, c.pll, full.converged && c.converged).pval)
  }

  // ----- synthetic pair grid (hash-derived, the bench's shape) -----
  private def hashU(a: Long, b: Long): Double = {
    var h = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    (h >>> 11).toDouble / (1L << 53).toDouble
  }
  private def makePair(di: Int, n: Int, covs: Int): (Array[Double], Array[Double]) = {
    val k = covs + 2
    val xd = new Array[Double](n * k)
    val y = new Array[Double](n)
    var i = 0
    while (i < n) {
      val x = hashU(i, 1) * 4.0 - 2.0
      xd(i) = x
      var c = 0
      while (c < covs) { xd((c + 1) * n + i) = hashU(i, c + 100); c += 1 }
      xd((k - 1) * n + i) = 1.0
      val eta = x * 0.8 - 2.0 + (di % 7) * 0.1
      y(i) = if (hashU(i, di + 7) < 1.0 / (1.0 + math.exp(-eta))) 1.0 else 0.0
      i += 1
    }
    (xd, y)
  }

  def main(args: Array[String]): Unit = {
    val n = 5000
    val covs = if (args.nonEmpty) args(0).toInt else 20
    val pairs = 1800
    val threads = 32
    val rounds = 6
    val k = covs + 2
    println(s"n=$n covs=$covs pairs=$pairs threads=$threads rounds=$rounds")
    val grid = (0 until pairs).map(di => makePair(di, n, covs)).toArray
    def runAll(variant: String): Double = {
      val t0 = System.nanoTime()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val futs = grid.map { case (xd, y) =>
        pool.submit(new java.util.concurrent.Callable[(Double, Double)] {
          def call(): (Double, Double) =
            if (variant == "old") firthRawOld(xd, n, k, y)
            else if (variant == "blk") firthRawBlk(xd, n, k, y)
            else {
              val r = Models.firthRaw(xd, n, k, y)
              (r.beta, r.pval)
            }
        })
      }
      val res = futs.map(_.get())
      pool.shutdown()
      // fold results so the JIT cannot dead-code the fits
      val chk = res.map(r => r._1 + r._2).sum
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"  $variant%-4s ${dt}%7.3f s (chk=$chk%.6f)")
      dt
    }
    // equivalence: max deltas over the grid (single-threaded, once)
    var dBeta = 0.0; var dP = 0.0
    grid.take(200).foreach { case (xd, y) =>
      val (b1, p1) = firthRawOld(xd, n, k, y)
      val r2 = Models.firthRaw(xd, n, k, y)
      dBeta = math.max(dBeta, math.abs(b1 - r2.beta))
      dP = math.max(dP, math.abs(p1 - r2.pval))
    }
    println(f"max |dBeta|=$dBeta%.3e max |dPval|=$dP%.3e over 200 pairs")
    var dBk = 0.0
    grid.take(50).foreach { case (xd, y) =>
      val (b1, _) = firthRawOld(xd, n, k, y)
      val (b2, _) = firthRawBlk(xd, n, k, y)
      dBk = math.max(dBk, math.abs(b1 - b2))
    }
    println(f"max |dBeta old-blk|=$dBk%.3e over 50 pairs")
    val olds = collection.mutable.ArrayBuffer[Double]()
    val news = collection.mutable.ArrayBuffer[Double]()
    val blks = collection.mutable.ArrayBuffer[Double]()
    (1 to rounds).foreach { r =>
      println(s"round $r")
      olds += runAll("old")
      news += runAll("new")
      blks += runAll("blk")
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    // drop round 1 (JIT warm-up for both variants)
    val o = med(olds.drop(1).toSeq); val nw = med(news.drop(1).toSeq)
    val bk = med(blks.drop(1).toSeq)
    println(f"median old=${o}%.3f s new=${nw}%.3f s blk=${bk}%.3f s " +
      f"speedup new=${o / nw}%.3f blk=${o / bk}%.3f")
  }
}
