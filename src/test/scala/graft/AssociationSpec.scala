package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, round, when}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Association
import graft.functions.Numerics

/** End-to-end tests of the association engine on tiny in-memory
  * cohorts with analytically-known answers — covers what the DuckDB
  * oracles can't (p-values, CIs, equation strings, grid completion,
  * per-pair constant-covariate drop). */
class AssociationSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("2").appName("assoc-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def near(a: Double, b: Double, tol: Double) = math.abs(a - b) <= tol

  test("cohort session cache equals the fresh derivation (persisted-artifact rule)") {
    import graft.operators.Mas
    val dir = "/root/testdata/sf0.001"
    val cached = Mas.cohort(spark, dir)
    val fresh = Mas.cohortFresh(spark, dir)
    val a = cached.orderBy("id").collect().map(_.toString)
    val b = fresh.orderBy("id").collect().map(_.toString)
    assert(a.nonEmpty && a.sameElements(b))
    // repeat calls reuse the SAME materialized frame (no re-derivation)
    assert(Mas.cohort(spark, dir) eq cached)
  }

  test("prs scores samples with published weights in fixed term order") {
    val sess = spark
    import sess.implicits._
    val rows = (0 until 50).map { i =>
      (i.toLong, i * 1.25, (i % 3).toDouble)
    }
    val df = rows.toDF("id", "p1", "p2")
    val w = Seq("p1" -> 2.5, "p2" -> -0.75)
    val out = operators.Mas.prs(df, w).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, p1, p2) =>
      val expect = 2.5 * p1 + -0.75 * p2 // binary-exact operands
      assert(near(out(id), expect, 1e-12), s"id=$id got ${out(id)} want $expect")
    }
  }

  test("linear path matches closed-form simple regression incl. pval") {
    val sess = spark
    import sess.implicits._
    val n = 40
    val rows = (0 until n).map { i =>
      val x = i.toDouble
      (i, x, 2.0 * x + 1.0 + math.sin(i * 2.7) * 3.0)
    }
    val df = rows.toDF("id", "p1", "dep1")
    val cfg = Association.Config(Seq("p1"), Seq("dep1"), model = "linear", minCaseCount = 5)
    val r = Association.assoc(df, cfg).collect()(0)
    // closed form
    val xs = rows.map(_._2); val ys = rows.map(_._3)
    val sx = xs.sum; val sy = ys.sum
    val sxx = xs.map(v => v * v).sum; val sxy = xs.zip(ys).map(p => p._1 * p._2).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val icpt = (sy - slope * sx) / n
    val rss = xs.zip(ys).map { case (x, y) => val e = y - slope * x - icpt; e * e }.sum
    val se = math.sqrt(rss / (n - 2) / (sxx - sx * sx / n))
    val t = slope / se
    val pval = Numerics.tSf2(t, n - 2.0)
    assert(near(r.getAs[Double]("beta"), slope, 1e-9))
    assert(near(r.getAs[Double]("se"), se, 1e-9))
    assert(near(r.getAs[Double]("pval"), pval, 1e-9))
    assert(r.getAs[Long]("n_observations") == n)
    assert(r.getAs[Boolean]("converged"))
    assert(r.getAs[String]("failed_reason") == "nan")
    // reference equation quirk: trailing "+ " with no covariates
    assert(r.getAs[String]("equation") == "dep1 ~ p1 + ")
  }

  test("interaction term recovered exactly when y is linear in x, z, xz") {
    val sess = spark
    import sess.implicits._
    // y = 1 + 2x + 3z + 4xz with noise orthogonalized away by n >> k
    val rows = for (i <- 0 until 60) yield {
      val x = (i % 7).toDouble; val z = (i % 5).toDouble
      val eps = math.sin(i * 1.37) * 0.5
      (i, x, z, x * z, 1.0 + 2.0 * x + 3.0 * z + 4.0 * x * z + eps)
    }
    val df = rows.toDF("id", "x", "z", "xz", "y")
    val cfg = Association.Config(Seq("xz"), Seq("y"), Seq("x", "z"),
      model = "linear", minCaseCount = 5)
    val r = Association.assoc(df, cfg).collect()(0)
    // with bounded noise and a full-rank grid the interaction beta
    // sits near 4; exact-fit variant pins it to machine precision
    assert(math.abs(r.getAs[Double]("beta") - 4.0) < 0.05)
    val exact = rows.map { case (i, x, z, xz, _) =>
      (i, x, z, xz, 1.0 + 2.0 * x + 3.0 * z + 4.0 * xz) }
      .toDF("id", "x", "z", "xz", "y")
    val rx = Association.assoc(exact, cfg).collect()(0)
    assert(near(rx.getAs[Double]("beta"), 4.0, 1e-8))
    assert(math.abs(rx.getAs[Double]("se")) < 1e-6) // zero residual
  }

  test("linear stats are partition-count invariant on large-magnitude data") {
    // the round-2 a01 flake class: ~1e4/1e5-magnitude features whose
    // raw Gram sums drift with aggregation order. The centered
    // co-moment path must produce (near-)identical full-precision
    // stats at any partitioning.
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(29)
    val df = (0 until 2000).map { i =>
      val x = 1e4 + 60.0 * rng.nextGaussian()
      (i, x, 1e5 + 0.7 * x + 45.0 * rng.nextGaussian())
    }.toDF("id", "p1", "dep1")
    val cfg = Association.Config(Seq("p1"), Seq("dep1"), model = "linear", minCaseCount = 5)
    val res = Seq(1, 7, 32).map { parts =>
      val r = Association.assoc(df.repartition(parts), cfg).collect()(0)
      (r.getAs[Double]("beta"), r.getAs[Double]("se"))
    }
    for (Seq((b1, s1), (b2, s2)) <- res.sliding(2)) {
      assert(near(b1, b2, 1e-9 * math.abs(b1)), s"beta $b1 vs $b2")
      assert(near(s1, s2, 1e-9 * s1), s"se $s1 vs $s2")
    }
  }

  test("constant covariate is dropped per-pair (linear, from the Gram)") {
    val sess = spark
    import sess.implicits._
    val df = (0 until 30).map { i =>
      (i, i.toDouble, 7.0, i % 3 + 0.0, 3.0 * i + (i % 5))
    }.toDF("id", "p1", "zconst", "zvar", "dep1")
    val cfg = Association.Config(Seq("p1"), Seq("dep1"), Seq("zconst", "zvar"),
      model = "linear", minCaseCount = 5)
    val r = Association.assoc(df, cfg).collect()(0)
    assert(r.getAs[String]("equation") == "dep1 ~ p1 + zvar")
    assert(r.getAs[Boolean]("converged"))
    assert(!r.getAs[Double]("beta").isNaN)
  }

  test("binary path: logistic matches 2x2 closed form incl. Wald pval") {
    val sess = spark
    import sess.implicits._
    // exposed: 30 cases / 20 controls; unexposed: 10 / 40
    val df = (0 until 100).map { i =>
      val x = if (i < 50) 1.0 else 0.0
      val y = if (i < 50) { if (i < 30) 1.0 else 0.0 } else { if (i < 60) 1.0 else 0.0 }
      (i, x, y)
    }.toDF("id", "p1", "dep1")
    val cfg = Association.Config(Seq("p1"), Seq("dep1"), model = "logistic",
      minCaseCount = 5, maxIter = 100, tol = 1e-12)
    val r = Association.assoc(df, cfg).collect()(0)
    val beta = math.log((30.0 * 40.0) / (20.0 * 10.0))
    val se = math.sqrt(1.0 / 30 + 1.0 / 20 + 1.0 / 10 + 1.0 / 40)
    assert(near(r.getAs[Double]("beta"), beta, 1e-8))
    assert(near(r.getAs[Double]("se"), se, 1e-8))
    assert(near(r.getAs[Double]("pval"), Numerics.normSf2(beta / se), 1e-8))
    assert(near(r.getAs[Double]("OR"), math.exp(beta), 1e-6))
    assert(r.getAs[Long]("cases") == 40L)
    assert(r.getAs[Long]("controls") == 60L)
    assert(r.getAs[Long]("total_n") == 100L)
  }

  test("firth beta converges to Haldane closed form at tight tolerance") {
    val sess = spark
    import sess.implicits._
    val df = (0 until 100).map { i =>
      val x = if (i < 50) 1.0 else 0.0
      val y = if (i < 50) { if (i < 15) 1.0 else 0.0 } else { if (i < 55) 1.0 else 0.0 }
      (i, x, y)
    }.toDF("id", "p1", "dep1")
    val cfg = Association.Config(Seq("p1"), Seq("dep1"), model = "firth",
      minCaseCount = 5, maxIter = 200, tol = 1e-11)
    val r = Association.assoc(df, cfg).collect()(0)
    val expected = math.log((15.5 * 45.5) / (35.5 * 5.5))
    assert(near(r.getAs[Double]("beta"), expected, 1e-7),
      s"beta ${r.getAs[Double]("beta")} vs $expected")
    assert(r.getAs[Double]("pval") > 0 && r.getAs[Double]("pval") < 0.05)
  }

  test("validation branches produce reference failure rows; grid restores null pairs") {
    val sess = spark
    import sess.implicits._
    val df = (0 until 60).map { i =>
      val x = if (i % 2 == 0) 1.0 else 0.0
      (i, x,
        if (i < 3) 1.0 else 0.0,             // d_fewcases: 3 cases
        if (i < 57) 1.0 else 0.0,            // d_fewcontrols: 3 controls
        1.0,                                  // d_all: all cases
        null.asInstanceOf[java.lang.Double]) // d_null
    }.toDF("id", "p1", "d_fewcases", "d_fewcontrols", "d_all", "d_null")
    val cfg = Association.Config(Seq("p1"),
      Seq("d_fewcases", "d_fewcontrols", "d_all", "d_null"), minCaseCount = 5)
    val out = Association.assoc(df, cfg).collect()
      .map(r => r.getAs[String]("dependent") -> r).toMap
    assert(out("d_fewcases").getAs[String]("failed_reason") == "Insufficient case count (3 cases).")
    assert(out("d_fewcontrols").getAs[String]("failed_reason") == "Insufficient control count (3 controls).")
    // all-cases with minCase>0 hits the controls branch first (reference order)
    assert(out("d_all").getAs[String]("failed_reason") == "Insufficient control count (0 controls).")
    assert(out("d_null").getAs[String]("failed_reason") == "No data after dropping nulls.")
    assert(out("d_null").getAs[Long]("cases") == -9L)
    assert(out("d_fewcases").getAs[Long]("total_n") == -9L)
    assert(out.size == 4)
  }

  test("binary path drops per-pair constant covariates") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(3)
    val df = (0 until 200).map { i =>
      val x = rng.nextGaussian()
      val z = rng.nextGaussian()
      val p = 1.0 / (1.0 + math.exp(-(0.8 * x - 0.3 * z)))
      (i, x, 5.0, z, if (rng.nextDouble() < p) 1.0 else 0.0)
    }.toDF("id", "p1", "zconst", "zvar", "dep1")
    val cfg = Association.Config(Seq("p1"), Seq("dep1"), Seq("zconst", "zvar"),
      model = "logistic", minCaseCount = 5)
    val r = Association.assoc(df, cfg).collect()(0)
    assert(r.getAs[String]("equation") == "dep1 ~ p1 + zvar")
    assert(r.getAs[Boolean]("converged"))
    assert(r.getAs[Double]("beta") > 0)
  }

  test("multiple predictors x multiple dependents produce the full grid") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(9)
    val df = (0 until 100).map { i =>
      (i, rng.nextGaussian(), rng.nextGaussian(), rng.nextDouble(), rng.nextDouble())
    }.toDF("id", "p1", "p2", "dep1", "dep2")
    val cfg = Association.Config(Seq("p1", "p2"), Seq("dep1", "dep2"),
      model = "linear", minCaseCount = 5)
    val out = Association.assoc(df, cfg).collect()
    assert(out.length == 4)
    assert(out.map(r => (r.getAs[String]("predictor"), r.getAs[String]("dependent"))).toSet ==
      Set(("p1", "dep1"), ("p1", "dep2"), ("p2", "dep1"), ("p2", "dep2")))
  }

  test("cmh: single stratum equals the plain 2x2 OR with Woolf se; duplicate strata halve var") {
    val sess = spark
    import sess.implicits._
    // cells a=10 b=20 c=30 d=40 -> OR = ad/bc = 400/600
    def cells(s: String) =
      Seq.fill(10)((1.0, 1.0, s)) ++ Seq.fill(20)((1.0, 0.0, s)) ++
        Seq.fill(30)((0.0, 1.0, s)) ++ Seq.fill(40)((0.0, 0.0, s))
    val one = cells("s1").toDF("x", "y", "s")
    val r1 = operators.Association.cmh(one, "x", "y", "s").head()
    val woolfVar = 1.0 / 10 + 1.0 / 20 + 1.0 / 30 + 1.0 / 40
    assert(r1.getLong(0) == 1)
    assert(math.abs(r1.getDouble(1) - 400.0 / 600.0) < 1e-12)
    assert(math.abs(r1.getDouble(2) - math.sqrt(woolfVar)) < 1e-12)
    // two identical strata: same pooled OR, variance halves
    val two = (cells("s1") ++ cells("s2")).toDF("x", "y", "s")
    val r2 = operators.Association.cmh(two, "x", "y", "s").head()
    assert(r2.getLong(0) == 2)
    assert(math.abs(r2.getDouble(1) - 400.0 / 600.0) < 1e-12)
    assert(math.abs(r2.getDouble(2) - math.sqrt(woolfVar / 2)) < 1e-12)
  }

  test("poisson: binary design equals the closed-form rate ratio; score is zero at the MLE") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(23)
    // Poisson-ish counts with rate exp(1 + 0.7x)
    val rows = (0 until 400).map { i =>
      val x = if (i % 3 == 0) 1.0 else 0.0
      val lam = math.exp(1.0 + 0.7 * x)
      // deterministic pseudo-Poisson: inverse-CDF on a uniform
      var u = (rng.nextDouble() * 0.999) + 0.0005
      var k = 0; var p = math.exp(-lam); var cdf = p
      while (cdf < u && k < 60) { k += 1; p *= lam / k; cdf += p }
      ("g", x, k.toDouble)
    }
    val df = rows.toDF("grp", "x", "y")
    val out = operators.Association.poisson(df, "x", "y", "grp").head()
    val beta = out.getAs[Double]("beta")
    val se = out.getAs[Double]("se")
    assert(out.getAs[Boolean]("converged"))
    // closed form on the saturated binary design
    val (g1, g0) = rows.partition(_._2 == 1.0)
    val m1 = g1.map(_._3).sum / g1.size; val m0 = g0.map(_._3).sum / g0.size
    assert(math.abs(beta - math.log(m1 / m0)) < 1e-8)
    assert(math.abs(se - math.sqrt(1.0 / g1.map(_._3).sum + 1.0 / g0.map(_._3).sum)) < 1e-8)
    // continuous x: the score equations must hold at the fitted point
    val rows2 = (0 until 300).map { i =>
      val x = rng.nextGaussian()
      ("g", x, math.max(0.0, math.round(math.exp(0.5 + 0.4 * x) + rng.nextGaussian()).toDouble))
    }
    val (b2, _, conv2) = {
      val arr = rows2.toArray
      operators.Association.countFit(arr.map(_._2), arr.map(_._3), Array.fill(arr.length)(1.0),
        Double.PositiveInfinity)
    }
    assert(conv2)
    // alpha from refitting driver-side: recompute mu and check scores
    // via the public API result instead
    val out2 = operators.Association.poisson(rows2.toDF("grp", "x", "y"), "x", "y", "grp").head()
    assert(math.abs(out2.getAs[Double]("beta") - b2) < 1e-10)
  }

  test("negbin: binary MLE equals Poisson's rate ratio, se widens by the NB information") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(29)
    val rows = (0 until 400).map { i =>
      val x = if (i % 3 == 0) 1.0 else 0.0
      val lam = math.exp(1.0 + 0.7 * x)
      var u = (rng.nextDouble() * 0.999) + 0.0005
      var k = 0; var p = math.exp(-lam); var cdf = p
      while (cdf < u && k < 60) { k += 1; p *= lam / k; cdf += p }
      ("g", x, k.toDouble)
    }
    val df = rows.toDF("grp", "x", "y")
    val theta = 2.0
    val out = operators.Association.negbin(df, "x", "y", "grp", theta).head()
    assert(out.getAs[Boolean]("converged"))
    val beta = out.getAs[Double]("beta")
    val se = out.getAs[Double]("se")
    // saturated binary design: same point estimate as Poisson...
    val (g1, g0) = rows.partition(_._2 == 1.0)
    val m1 = g1.map(_._3).sum / g1.size; val m0 = g0.map(_._3).sum / g0.size
    assert(math.abs(beta - math.log(m1 / m0)) < 1e-8)
    // ...with the closed-form NB2 information se
    val i1 = g1.size * m1 / (1.0 + m1 / theta)
    val i0 = g0.size * m0 / (1.0 + m0 / theta)
    assert(math.abs(se - math.sqrt(1.0 / i0 + 1.0 / i1)) < 1e-8)
    // overdispersion must WIDEN the interval vs the Poisson fit
    val sePois = operators.Association.poisson(df, "x", "y", "grp")
      .head().getAs[Double]("se")
    assert(se > sePois)
    // theta -> infinity recovers Poisson (weight 1/(1+mu/theta) -> 1)
    val outInf = operators.Association.negbin(df, "x", "y", "grp", 1e12).head()
    assert(math.abs(outInf.getAs[Double]("se") - sePois) < 1e-6)
  }

  test("logrank: hand-computed O-E/variance terms, censoring in risk sets only") {
    val sess = spark
    import sess.implicits._
    // x=1: events at t=1,2, censored at 3; x=0: events at t=1,4, censored at 5
    // t=1: d=2 d1=1 n=6 n1=3 -> ome=0,   v=2*.5*.5*4/5=0.4
    // t=2: d=1 d1=1 n=4 n1=2 -> ome=0.5, v=1*.5*.5*3/3=0.25
    // t=4: d=1 d1=0 n=2 n1=0 -> ome=0,   v=0
    val df = Seq(
      ("g", 1.0, 1.0, 1.0), ("g", 2.0, 1.0, 1.0), ("g", 3.0, 0.0, 1.0),
      ("g", 1.0, 1.0, 0.0), ("g", 4.0, 1.0, 0.0), ("g", 5.0, 0.0, 0.0)
    ).toDF("grp", "time", "event", "x")
    val out = operators.Association.logrank(df, "time", "event", "x", "grp").head()
    assert(out.getAs[Long]("events") == 4L)
    assert(math.abs(out.getAs[Double]("u_score") - 0.5) < 1e-12)
    assert(math.abs(out.getAs[Double]("v_info") - 0.65) < 1e-12)
    assert(math.abs(out.getAs[Double]("chi2") - 0.25 / 0.65) < 1e-12)
    assert(math.abs(out.getAs[Double]("beta_1step") - 0.5 / 0.65) < 1e-12)
    assert(math.abs(out.getAs[Double]("se") - 1.0 / math.sqrt(0.65)) < 1e-12)
    // identical survival in both groups -> U = 0 (no signal)
    val sym = Seq(
      ("g", 1.0, 1.0, 1.0), ("g", 2.0, 1.0, 1.0),
      ("g", 1.0, 1.0, 0.0), ("g", 2.0, 1.0, 0.0)
    ).toDF("grp", "time", "event", "x")
    val s = operators.Association.logrank(sym, "time", "event", "x", "grp").head()
    assert(math.abs(s.getAs[Double]("u_score")) < 1e-12)
    // strata are independent: a second stratum doesn't change the first
    val two = df.union(Seq(("h", 1.0, 1.0, 1.0), ("h", 2.0, 1.0, 0.0))
      .toDF("grp", "time", "event", "x"))
    val g = operators.Association.logrank(two, "time", "event", "x", "grp")
      .filter(org.apache.spark.sql.functions.col("grp") === "g").head()
    assert(math.abs(g.getAs[Double]("u_score") - 0.5) < 1e-12)
  }

  test("wls: unit weights reproduce OLS; weighted beta matches the normal equations") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(17)
    val rows = (0 until 200).map { i =>
      val x = rng.nextGaussian() * 2
      val y = 1.5 * x + 3 + rng.nextGaussian()
      val w = 0.5 + rng.nextDouble()
      ("g", x, y, w)
    }
    val df = rows.toDF("grp", "x", "y", "w")
    // unit weights == plain OLS closed form
    val ols = operators.Association.wls(df.withColumn("w", lit(1.0)),
      "x", "y", "w", Seq("grp")).head()
    val xs = rows.map(_._2); val ys = rows.map(_._3); val n = xs.size
    val xb = xs.sum / n; val yb = ys.sum / n
    val sxx = xs.map(x => (x - xb) * (x - xb)).sum
    val sxy = xs.zip(ys).map { case (x, y) => (x - xb) * (y - yb) }.sum
    val syy = ys.map(y => (y - yb) * (y - yb)).sum
    val beta = sxy / sxx
    val se = math.sqrt((syy - beta * sxy) / (n - 2) / sxx)
    assert(math.abs(ols.getAs[Double]("beta") - beta) < 1e-9)
    assert(math.abs(ols.getAs[Double]("se") - se) < 1e-9)
    // true weights: driver-side weighted normal equations
    val wls = operators.Association.wls(df, "x", "y", "w", Seq("grp")).head()
    val ws = rows.map(_._4); val sw = ws.sum
    val xbw = xs.zip(ws).map { case (x, w) => w * x }.sum / sw
    val ybw = ys.zip(ws).map { case (y, w) => w * y }.sum / sw
    val sxxw = xs.zip(ws).map { case (x, w) => w * (x - xbw) * (x - xbw) }.sum
    val sxyw = rows.map { case (_, x, y, w) => w * (x - xbw) * (y - ybw) }.sum
    val syyw = ys.zip(ws).map { case (y, w) => w * (y - ybw) * (y - ybw) }.sum
    val betaw = sxyw / sxxw
    val sew = math.sqrt((syyw - betaw * sxyw) / (n - 2) / sxxw)
    assert(math.abs(wls.getAs[Double]("beta") - betaw) < 1e-9)
    assert(math.abs(wls.getAs[Double]("se") - sew) < 1e-9)
    assert(wls.getAs[Long]("n") == n)
    // w <= 0 rows are excluded, not poison
    val withBad = (df.collect().map(r => (r.getString(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3))) :+ (("g", 99.0, -99.0, 0.0))).toSeq
      .toDF("grp", "x", "y", "w")
    val clean = operators.Association.wls(withBad, "x", "y", "w", Seq("grp")).head()
    assert(math.abs(clean.getAs[Double]("beta") - betaw) < 1e-9)
  }

  test("ordinalPooled: identical distributions give beta 0 exactly; shift gives beta > 0") {
    val sess = spark
    import sess.implicits._
    // x=1 and x=0 with IDENTICAL severity distributions: every
    // cumulative table has c11=c01 and c10=c00, so each Haldane OR is
    // exactly 1 and the pooled beta is exactly 0
    def rows(xv: Double, lo: Int, mid: Int, hi: Int) =
      Seq.fill(lo)((xv, 0.0)) ++ Seq.fill(mid)((xv, 1.0)) ++ Seq.fill(hi)((xv, 2.0))
    val same = (rows(1.0, 10, 5, 5) ++ rows(0.0, 10, 5, 5)).toDF("xb", "sev")
    val s = operators.Mas.ordinalPooled(same, Seq("xb")).head()
    assert(s.getAs[Double]("beta") == 0.0 && s.getAs[Double]("or_pooled") == 1.0)
    assert(s.getAs[Long]("total_n") == 40L)
    // exposed group shifted toward high severity -> positive pooled
    // log-OR; the x=0 zero cell at sev=2 stays finite (Haldane)
    val shifted = (rows(1.0, 2, 8, 10) ++ rows(0.0, 12, 8, 0)).toDF("xb", "sev")
    val t = operators.Mas.ordinalPooled(shifted, Seq("xb")).head()
    assert(t.getAs[Double]("beta") > 0.5)
    assert(t.getAs[Double]("se") > 0.0 && !t.getAs[Double]("se").isNaN)
    // partition invariance of the single-pass cell aggregate
    val r1 = operators.Mas.ordinalPooled(shifted.repartition(1), Seq("xb")).head()
    val r8 = operators.Mas.ordinalPooled(shifted.repartition(8), Seq("xb")).head()
    assert(r1.getAs[Double]("beta") == r8.getAs[Double]("beta"))
  }

  test("ordinalPooled general J: J=4 pools three thresholds to the hand-computed estimate") {
    val sess = spark
    import sess.implicits._
    // 4-level severity, exposed shifted upward; J=4 must pool the
    // Haldane log-OR of ALL THREE cumulative dichotomies
    def rows(xv: Double, c: Seq[Int]) =
      c.zipWithIndex.flatMap { case (n, sev) => Seq.fill(n)((xv, sev.toDouble)) }
    val data = rows(1.0, Seq(4, 8, 10, 8)) ++ rows(0.0, Seq(12, 10, 6, 2))
    val df = data.toDF("xb", "sev")
    val out = operators.Mas.ordinalPooled(df, Seq("xb"), levels = 4).head()
    // independent hand computation (plain Scala, no Spark)
    val bv = (1 to 3).map { t =>
      val c11 = data.count(r => r._1 == 1.0 && r._2 >= t) + 0.5
      val c10 = data.count(r => r._1 == 1.0 && r._2 < t) + 0.5
      val c01 = data.count(r => r._1 == 0.0 && r._2 >= t) + 0.5
      val c00 = data.count(r => r._1 == 0.0 && r._2 < t) + 0.5
      (math.log(c11 * c00 / (c10 * c01)),
        1 / c11 + 1 / c10 + 1 / c01 + 1 / c00)
    }
    val beta = bv.map { case (b, v) => b / v }.sum / bv.map { case (_, v) => 1.0 / v }.sum
    val se = math.sqrt(1.0 / bv.map { case (_, v) => 1.0 / v }.sum)
    assert(math.abs(out.getAs[Double]("beta") - beta) < 1e-4)
    assert(math.abs(out.getAs[Double]("se") - se) < 1e-4)
    // identical distributions are exactly null at J=4 too
    val same = (rows(1.0, Seq(5, 5, 5, 5)) ++ rows(0.0, Seq(5, 5, 5, 5)))
      .toDF("xb", "sev")
    val s4 = operators.Mas.ordinalPooled(same, Seq("xb"), levels = 4).head()
    assert(s4.getAs[Double]("beta") == 0.0)
    // J=3 through the generalized loop is bit-identical to the
    // original two-threshold form (left-assoc reduce, same operands)
    val mixed = (rows(1.0, Seq(2, 8, 10)) ++ rows(0.0, Seq(12, 8, 1))).toDF("xb", "sev")
    val j3 = operators.Mas.ordinalPooled(mixed, Seq("xb"), levels = 3).head()
    val j3d = operators.Mas.ordinalPooled(mixed, Seq("xb")).head()
    assert(j3.getAs[Double]("beta") == j3d.getAs[Double]("beta"))
  }

  test("coxPh: one step equals log-rank on untied data; MLE zeroes the independent Breslow score") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(42)
    // continuous times -> untied w.p. 1; exposed hazard doubled
    val rows = (0 until 120).map { i =>
      val x = if (i % 2 == 0) 1.0 else 0.0
      val t = -math.log(1 - rng.nextDouble()) / (if (x == 1.0) 2.0 else 1.0)
      val ev = if (rng.nextDouble() < 0.8) 1.0 else 0.0
      ("g", t + 0.01, ev, x)
    }
    val df = rows.toDF("grp", "time", "event", "x")
    // (1) iters=1 from beta=0 == a19's one-step estimate when no event
    // time is tied (Breslow information == log-rank V exactly there;
    // 1e-5 tolerance is the 1e-6 grid rounding)
    val one = operators.Association.coxPh(df, "time", "event", "x", "grp", iters = 1).head()
    val lr = operators.Association.logrank(df, "time", "event", "x", "grp").head()
    assert(math.abs(one.getAs[Double]("beta") - lr.getAs[Double]("beta_1step")) < 1e-5)
    assert(one.getAs[Long]("events") == lr.getAs[Long]("events"))
    // (2) the fitted beta zeroes the Breslow partial-likelihood score,
    // computed INDEPENDENTLY subject-level (O(n^2) risk sets, no
    // per-time table), and agrees with the bisected root of that score
    val fit = operators.Association.coxPh(df, "time", "event", "x", "grp", iters = 8).head()
    val beta = fit.getAs[Double]("beta")
    def score(b: Double): Double =
      rows.filter(_._3 == 1.0).map { case (_, t, _, xi) =>
        val risk = rows.filter(_._2 >= t)
        val s0 = risk.map(r => math.exp(b * r._4)).sum
        val s1 = risk.map(r => r._4 * math.exp(b * r._4)).sum
        xi - s1 / s0
      }.sum
    assert(math.abs(score(beta)) < 1e-3)
    var lo = -3.0; var hi = 3.0
    for (_ <- 0 until 60) {
      val mid = (lo + hi) / 2
      if (score(mid) > 0) lo = mid else hi = mid
    }
    assert(math.abs(beta - (lo + hi) / 2) < 1e-4)
    // se is the inverse root information at the fit; hr/chi2 finite
    assert(fit.getAs[Double]("se") > 0)
    assert(fit.getAs[Double]("chi2") >= 0)
    // (3) TIED data: the same subject-level Breslow score (shared risk
    // set per tied event) must still be zeroed by the fit
    val tied = Seq(
      ("g", 1.0, 1.0, 1.0), ("g", 1.0, 1.0, 0.0), ("g", 2.0, 1.0, 1.0),
      ("g", 2.0, 0.0, 0.0), ("g", 3.0, 1.0, 0.0), ("g", 3.0, 0.0, 1.0),
      ("g", 4.0, 1.0, 1.0), ("g", 5.0, 0.0, 0.0))
    val ft = operators.Association.coxPh(tied.toDF("grp", "time", "event", "x"),
      "time", "event", "x", "grp", iters = 12).head()
    def scoreT(b: Double): Double =
      tied.filter(_._3 == 1.0).map { case (_, t, _, xi) =>
        val risk = tied.filter(_._2 >= t)
        val s0 = risk.map(r => math.exp(b * r._4)).sum
        val s1 = risk.map(r => r._4 * math.exp(b * r._4)).sum
        xi - s1 / s0
      }.sum
    assert(math.abs(scoreT(ft.getAs[Double]("beta"))) < 1e-3)
    // (4) zero-event stratum emits nothing (no likelihood to fit)
    val cen = Seq(("z", 1.0, 0.0, 1.0), ("z", 2.0, 0.0, 0.0))
      .toDF("grp", "time", "event", "x")
    assert(operators.Association.coxPh(cen, "time", "event", "x", "grp").count() == 0L)
    // (5) single-class exposure: zero information -> null beta/se,
    // events still reported
    val deg = Seq(("d", 1.0, 1.0, 1.0), ("d", 2.0, 1.0, 1.0))
      .toDF("grp", "time", "event", "x")
    val dRow = operators.Association.coxPh(deg, "time", "event", "x", "grp").head()
    assert(dRow.getAs[Long]("events") == 2L && dRow.isNullAt(dRow.fieldIndex("beta")))
    // (6) partition invariance: integer-exact per-time cells + sorted
    // in-task sums -> bit-identical at any partition count
    val p1 = operators.Association.coxPh(df.repartition(1), "time", "event", "x", "grp",
      iters = 8).head().getAs[Double]("beta")
    val p8 = operators.Association.coxPh(df.repartition(8), "time", "event", "x", "grp",
      iters = 8).head().getAs[Double]("beta")
    assert(p1 == p8 && p1 == beta)
  }

  test("clogit1M: sz=2 equals McNemar, score zeroed on mixed sets, concordant-only nulls") {
    val sess = spark
    import sess.implicits._
    // (1) 1:1 sets reduce to McNemar: n10 = 7 (case exposed, control
    // not -> sz 2, n1 1, xc 1), n01 = 3 (n1 1, xc 0) plus concordant
    // noise -> beta = ln(7/3)
    val pairs = (Seq.fill(7)(("g", 2L, 1.0, 1.0)) ++ Seq.fill(3)(("g", 2L, 1.0, 0.0)) ++
      Seq.fill(5)(("g", 2L, 0.0, 0.0)) ++ Seq.fill(4)(("g", 2L, 2.0, 1.0)))
      .toDF("grp", "size", "n1", "x_case")
    val r = operators.Association.clogit1M(pairs, "size", "n1", "x_case", "grp",
      iters = 20).head()
    assert(r.getAs[Long]("n_sets") == 19L && r.getAs[Long]("n_informative") == 10L)
    assert(math.abs(r.getAs[Double]("beta") - math.log(7.0 / 3.0)) < 1e-5)
    // (2) mixed 1:2 / 1:3 sets: the fitted beta zeroes the analytic
    // conditional score computed independently set-by-set
    val sets = Seq(
      ("h", 3L, 1.0, 1.0), ("h", 3L, 1.0, 1.0), ("h", 3L, 2.0, 1.0),
      ("h", 3L, 1.0, 0.0), ("h", 3L, 2.0, 0.0), ("h", 4L, 2.0, 1.0),
      ("h", 4L, 1.0, 0.0), ("h", 4L, 3.0, 1.0), ("h", 2L, 1.0, 1.0))
    val r2 = operators.Association.clogit1M(sets.toDF("grp", "size", "n1", "x_case"),
      "size", "n1", "x_case", "grp", iters = 20).head()
    def score(b: Double): Double = sets.map { case (_, sz, n1, xc) =>
      xc - n1 * math.exp(b) / (n1 * math.exp(b) + (sz - n1))
    }.sum
    assert(math.abs(score(r2.getAs[Double]("beta"))) < 1e-4)
    assert(r2.getAs[Double]("p_wald") > 0 && r2.getAs[Double]("p_wald") <= 1)
    // (3) all-concordant stratum: zero information, null fit, counts kept
    val conc = Seq(("z", 3L, 0.0, 0.0), ("z", 3L, 3.0, 1.0))
      .toDF("grp", "size", "n1", "x_case")
    val r3 = operators.Association.clogit1M(conc, "size", "n1", "x_case", "grp").head()
    assert(r3.getAs[Long]("n_sets") == 2L && r3.getAs[Long]("n_informative") == 0L)
    assert(r3.isNullAt(r3.fieldIndex("beta")))
  }

  test("coxPh, coxPhEfron and clogit1M rows are bit-identical at 1 and 7 input and shuffle partitions") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(31)
    // three strata with day-grained (tied) times; stratum c is all
    // exposed, so its information is dead and its fit null
    val surv = (0 until 240).map { i =>
      val g = Seq("a", "b", "c")(i % 3)
      val x = if (g == "c") 1.0 else (i / 3 % 2).toDouble
      val t = math.ceil(-math.log(1 - rng.nextDouble()) / (if (x == 1.0) 1.6 else 1.0) * 10)
      (g, t, if (rng.nextDouble() < 0.75) 1.0 else 0.0, x)
    }.toDF("grp", "time", "event", "x")
    val sets = (0 until 200).map { i =>
      val sz = 2 + i % 4
      val n1 = rng.nextInt(sz + 1)
      val xc = if (n1 == sz) 1.0 else if (n1 == 0 || rng.nextDouble() < 0.4) 0.0 else 1.0
      (Seq("a", "b")(i % 2), sz.toLong, n1.toDouble, xc)
    }.toDF("grp", "size", "n1", "x_case")
    val fits = Seq[(String, DataFrame => DataFrame, DataFrame)](
      ("coxPh", Association.coxPh(_, "time", "event", "x", "grp", iters = 8), surv),
      ("coxPhEfron", Association.coxPhEfron(_, "time", "event", "x", "grp", iters = 8), surv),
      ("clogit1M", Association.clogit1M(_, "size", "n1", "x_case", "grp", iters = 8), sets))
    def bits(r: org.apache.spark.sql.Row): Seq[Any] = r.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try for ((name, fit, df) <- fits) {
      def rows(input: Int, shuffle: Int): Seq[Seq[Any]] = {
        spark.conf.set(key, shuffle.toString)
        fit(df.repartition(input)).collect().toSeq.map(bits).sortBy(_.head.toString)
      }
      val base = rows(1, 1)
      assert(base.size == (if (name == "clogit1M") 2 else 3), name)
      assert(base.count(_.contains(null)) == (if (name == "clogit1M") 0 else 1), s"$name: $base")
      for (input <- Seq(1, 7); shuffle <- Seq(1, 7))
        assert(rows(input, shuffle) == base, s"$name at $input input and $shuffle shuffle partitions")
    } finally spark.conf.set(key, saved)
  }

  test("logrankK3: matches brute-force subject-level U/V; empty arm nulls out") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(55)
    val rows = (0 until 150).map { i =>
      val g = i % 3
      val t = math.ceil(-math.log(1 - rng.nextDouble()) / (1.0 + 0.4 * g) * 8) + 1.0
      val ev = if (rng.nextDouble() < 0.8) 1.0 else 0.0
      ("g", t, ev, g)
    }
    val out = operators.Association.logrankK3(
      rows.toDF("grp", "time", "event", "g"), "time", "event", "g", "grp").head()
    // independent subject-level replay (O(n^2) risk sets, no windows)
    val times = rows.filter(_._3 == 1.0).map(_._2).distinct
    var u1 = 0.0; var u2 = 0.0; var v11 = 0.0; var v22 = 0.0; var v12 = 0.0
    times.foreach { t =>
      val risk = rows.filter(_._2 >= t)
      val dead = rows.filter(r => r._2 == t && r._3 == 1.0)
      val n = risk.size.toDouble; val d = dead.size.toDouble
      val n1 = risk.count(_._4 == 1).toDouble; val n2 = risk.count(_._4 == 2).toDouble
      val d1 = dead.count(_._4 == 1).toDouble; val d2 = dead.count(_._4 == 2).toDouble
      u1 += d1 - d * n1 / n; u2 += d2 - d * n2 / n
      if (n > 1) {
        val f = d * (n - d) / (n - 1)
        v11 += f * (n1 / n) * (1 - n1 / n)
        v22 += f * (n2 / n) * (1 - n2 / n)
        v12 -= f * (n1 / n) * (n2 / n)
      }
    }
    val det = v11 * v22 - v12 * v12
    val chi = (u1 * u1 * v22 - 2 * u1 * u2 * v12 + u2 * u2 * v11) / det
    assert(math.abs(out.getAs[Double]("u1") - u1) < 1e-9)
    assert(math.abs(out.getAs[Double]("u2") - u2) < 1e-9)
    assert(math.abs(out.getAs[Double]("chi2") - chi) < 1e-8)
    assert(out.getAs[Double]("p") > 0 && out.getAs[Double]("p") <= 1)
    // arm 2 empty throughout -> singular V -> null chi2/p
    val two = rows.map(r => (r._1, r._2, r._3, r._4 % 2))
    val o2 = operators.Association.logrankK3(
      two.toDF("grp", "time", "event", "g"), "time", "event", "g", "grp").head()
    assert(o2.isNullAt(o2.fieldIndex("chi2")))
    // a 4+-level factor must ERROR, not silently truncate the risk set
    val four = rows.zipWithIndex.map { case (r, i) =>
      (r._1, r._2, r._3, if (i == 0) 5 else r._4)
    }
    val ex = intercept[IllegalArgumentException] {
      operators.Association.logrankK3(
        four.toDF("grp", "time", "event", "g"), "time", "event", "g", "grp").head()
    }
    assert(ex.getMessage.contains("outside {0,1,2}"))
  }

  test("coxPhEfron: equals Breslow on untied data, zeroes the independent Efron score on ties") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(77)
    val rows = (0 until 120).map { i =>
      val x = if (i % 2 == 0) 1.0 else 0.0
      val t = -math.log(1 - rng.nextDouble()) / (if (x == 1.0) 2.0 else 1.0)
      val ev = if (rng.nextDouble() < 0.8) 1.0 else 0.0
      ("g", t + 0.01, ev, x)
    }
    val df = rows.toDF("grp", "time", "event", "x")
    // (1) untied data: every d = 1, Efron's per-tie sum collapses to
    // the Breslow term — trajectories agree to the 1e-6 beta grid
    val ef = operators.Association.coxPhEfron(df, "time", "event", "x", "grp", iters = 8).head()
    val br = operators.Association.coxPh(df, "time", "event", "x", "grp", iters = 8).head()
    assert(math.abs(ef.getAs[Double]("beta") - br.getAs[Double]("beta")) < 2e-6)
    assert(math.abs(ef.getAs[Double]("se") - br.getAs[Double]("se")) < 1e-6)
    // (2) heavily TIED data: the fit zeroes the subject-level Efron
    // score computed independently (O(n^2) risk sets, no per-time
    // table), and agrees with that score's bisected root
    val tied = Seq(
      ("g", 1.0, 1.0, 1.0), ("g", 1.0, 1.0, 1.0), ("g", 1.0, 1.0, 0.0),
      ("g", 1.0, 0.0, 0.0), ("g", 2.0, 1.0, 1.0), ("g", 2.0, 1.0, 0.0),
      ("g", 2.0, 0.0, 1.0), ("g", 3.0, 1.0, 0.0), ("g", 3.0, 1.0, 1.0),
      ("g", 4.0, 1.0, 1.0), ("g", 5.0, 0.0, 0.0), ("g", 5.0, 1.0, 0.0))
    def efronScore(b: Double): Double = {
      val times = tied.filter(_._3 == 1.0).map(_._2).distinct
      times.map { t =>
        val risk = tied.filter(_._2 >= t)
        val dead = tied.filter(r => r._2 == t && r._3 == 1.0)
        val d = dead.size
        val s0 = risk.map(r => math.exp(b * r._4)).sum
        val s1 = risk.map(r => r._4 * math.exp(b * r._4)).sum
        val s0e = dead.map(r => math.exp(b * r._4)).sum
        val s1e = dead.map(r => r._4 * math.exp(b * r._4)).sum
        dead.map(_._4).sum -
          (0 until d).map(l => (s1 - l.toDouble / d * s1e) / (s0 - l.toDouble / d * s0e)).sum
      }.sum
    }
    val ft = operators.Association.coxPhEfron(tied.toDF("grp", "time", "event", "x"),
      "time", "event", "x", "grp", iters = 12).head()
    val bT = ft.getAs[Double]("beta")
    assert(math.abs(efronScore(bT)) < 1e-3)
    var lo = -3.0; var hi = 3.0
    for (_ <- 0 until 60) {
      val mid = (lo + hi) / 2
      if (efronScore(mid) > 0) lo = mid else hi = mid
    }
    assert(math.abs(bT - (lo + hi) / 2) < 1e-4)
    // (3) ties make the conventions measurably DIFFERENT — the reason
    // the variant exists
    val fBr = operators.Association.coxPh(tied.toDF("grp", "time", "event", "x"),
      "time", "event", "x", "grp", iters = 12).head()
    assert(math.abs(bT - fBr.getAs[Double]("beta")) > 1e-3)
    // (4) partition invariance
    val p1 = operators.Association.coxPhEfron(df.repartition(1), "time", "event", "x",
      "grp", iters = 8).head().getAs[Double]("beta")
    val p8 = operators.Association.coxPhEfron(df.repartition(8), "time", "event", "x",
      "grp", iters = 8).head().getAs[Double]("beta")
    assert(p1 == p8)
  }

  test("coxPhCovBinned: quantile-binned continuous z reproduces coxPhCov on explicit levels") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(91)
    val rows = (0 until 160).map { i =>
      val x = if (i % 2 == 0) 1.0 else 0.0
      val zc = rng.nextDouble() * 100.0
      val t = math.ceil((-math.log(1 - rng.nextDouble()) /
        math.exp(0.5 * x + 0.004 * zc)) * 5) + 1.0
      val ev = if (rng.nextDouble() < 0.75) 1.0 else 0.0
      ("g", t, ev, x, zc)
    }
    val df = rows.toDF("grp", "time", "event", "x", "zc")
    val binned = operators.Association.coxPhCovBinned(df, "time", "event", "x",
      "zc", "grp", bins = 4, iters = 6).head()
    // independent replay: the p15 cut machinery + explicit levels into
    // the integer-leveled fitter must reproduce the SAME row
    val cuts = operators.Preprocess.quantilesExact(df, "zc", Seq(0.25, 0.5, 0.75))
      .orderBy("q").collect().map(_.getDouble(1))
    val lvl = cuts.foldLeft(lit(0)) { (a, c) =>
      a + when(col("zc") >= lit(c), 1).otherwise(0)
    }
    val manual = operators.Association.coxPhCov(df.withColumn("zl", lvl),
      "time", "event", "x", "zl", "grp", zMax = 3, iters = 6).head()
    for (c <- Seq("beta_x", "se_x", "beta_z", "se_z", "chi2"))
      assert(binned.getAs[Double](c) == manual.getAs[Double](c), c)
    assert(binned.getAs[Long]("events") == manual.getAs[Long]("events"))
    // adjustment actually engages: the unadjusted a23 beta differs
    val un = operators.Association.coxPh(df, "time", "event", "x", "grp",
      iters = 6).head()
    assert(math.abs(binned.getAs[Double]("beta_x") - un.getAs[Double]("beta")) > 1e-6)
  }

  test("trendTest: hand-computed 2x3 table, flat table scores 0, degenerate margins null") {
    val sess = spark
    import sess.implicits._
    // dose rows: controls (30,20,10), cases (10,20,30)
    // N=120 R=60, T = (20+2*30) - (40+2*40)*0.5 = 20
    // Var = .25*(200 - 120) = 20 -> z = 20/sqrt(20) = 4.4721, chi2 = 20
    def rows(cc: Seq[Int], cs: Seq[Int]) =
      cc.zipWithIndex.flatMap { case (k, g) => Seq.fill(k)((g, 0.0)) } ++
        cs.zipWithIndex.flatMap { case (k, g) => Seq.fill(k)((g, 1.0)) }
    val df = rows(Seq(30, 20, 10), Seq(10, 20, 30)).map { case (g, y) => (g, y) }
      .toDF("gdose", "d1")
    val r = operators.Mas.trendTest(df, "gdose", Seq("d1")).head()
    assert(r.getAs[Long]("total_n") == 120L && r.getAs[Long]("cases") == 60L)
    assert(near(r.getAs[Double]("t_stat"), 20.0, 1e-12))
    assert(near(r.getAs[Double]("chi2"), 20.0, 1e-9))
    assert(near(r.getAs[Double]("z"), 20.0 / math.sqrt(20.0), 5e-5))
    val pw = graft.functions.Numerics.erfc((20.0 / math.sqrt(20.0)) / math.sqrt(2.0))
    assert(near(r.getAs[Double]("p_trend"), pw, 1e-6))
    // no trend: identical case fraction at every dose -> T = 0, p = 1
    val flat = rows(Seq(20, 20, 20), Seq(10, 10, 10)).map { case (g, y) => (g, y) }
      .toDF("gdose", "d1")
    val rf = operators.Mas.trendTest(flat, "gdose", Seq("d1")).head()
    assert(rf.getAs[Double]("t_stat") == 0.0 && near(rf.getAs[Double]("p_trend"), 1.0, 1e-6))
    // degenerate: all cases -> Var = 0 -> null z/chi2/p, counts kept
    val deg = rows(Seq(0, 0, 0), Seq(5, 5, 5)).map { case (g, y) => (g, y) }
      .toDF("gdose", "d1")
    val rd = operators.Mas.trendTest(deg, "gdose", Seq("d1")).head()
    assert(rd.getAs[Long]("cases") == 15L && rd.isNullAt(rd.fieldIndex("z")))
  }

  test("hwe: exact-HWE counts score 0, chi2 matches first-principles arithmetic, monomorphic nulls") {
    val sess = spark
    import sess.implicits._
    def geno(n0: Int, n1: Int, n2: Int, v: String) =
      Seq.fill(n0)(0) ++ Seq.fill(n1)(1) ++ Seq.fill(n2)(2) map (g => (v, g))
    // perfect HWE: p = 0.5, counts (25, 50, 25) = N(q2, 2pq, p2) exactly
    val df = geno(25, 50, 25, "v").toDF("v_ignored", "v1")
    val r = operators.Mas.hwe(df, Seq("v1")).head()
    assert(r.getAs[Double]("allele_freq") == 0.5)
    assert(r.getAs[Double]("chi2") == 0.0)
    assert(near(r.getAs[Double]("p_hwe"), 1.0, 1e-6))
    // violated HWE: counts (40, 20, 40), N=100, p=0.5 ->
    // exp (25, 50, 25); chi2 = 9 + 18 + 9 = 36; p ~ 2(1-Phi(6))
    val df2 = geno(40, 20, 40, "v").toDF("v_ignored", "v1")
    val r2 = operators.Mas.hwe(df2, Seq("v1")).head()
    assert(near(r2.getAs[Double]("chi2"), 36.0, 1e-9))
    val pw = graft.functions.Numerics.erfc(6.0 / math.sqrt(2.0))
    assert(near(r2.getAs[Double]("p_hwe"), pw, 1e-6))
    // monomorphic: all genotype 0 -> p = 0, no test
    val df3 = geno(10, 0, 0, "v").toDF("v_ignored", "v1")
    val r3 = operators.Mas.hwe(df3, Seq("v1")).head()
    assert(r3.getAs[Double]("allele_freq") == 0.0 &&
      r3.isNullAt(r3.fieldIndex("chi2")))
  }

  test("ksDrift: hand-computed binned D, identical samples score D=0 p=1, shift detected") {
    val sess = spark
    import sess.implicits._
    // group 1: values in bins {0,0,1,2}; group 0: bins {0,2,2,2}
    // F1 = .5, .75, 1 ; F0 = .25, .25, 1 -> D = max(.25,.5,0) = .5
    val rows = Seq((0.5, 1.0), (0.9, 1.0), (1.5, 1.0), (2.5, 1.0),
      (0.1, 0.0), (2.2, 0.0), (2.4, 0.0), (2.9, 0.0))
      .map { case (v, g) => ("s", v, g) }
    val r = operators.Association.ksDrift(rows.toDF("grp", "v", "g"),
      "v", "g", "grp", binWidth = 1.0).head()
    assert(r.getAs[Long]("n1") == 4L && r.getAs[Long]("n0") == 4L)
    assert(near(r.getAs[Double]("d_stat"), 0.5, 1e-12))
    // lambda = (sqrt(2)+0.12+0.11/sqrt(2))*0.5 = 0.8152 -> series p
    val lam = (math.sqrt(2.0) + 0.12 + 0.11 / math.sqrt(2.0)) * 0.5
    val pRef = (1 to 8).map(k =>
      2.0 * (if (k % 2 == 1) 1 else -1) * math.exp(-2.0 * k * k * lam * lam)).sum
    assert(near(r.getAs[Double]("p_ks"), pRef, 1e-9))
    // identical distributions: D = 0, small-lambda latch -> p = 1
    val same = (1 to 40).flatMap(i => Seq(("s", i * 0.1, 1.0), ("s", i * 0.1, 0.0)))
    val r2 = operators.Association.ksDrift(same.toDF("grp", "v", "g"),
      "v", "g", "grp", binWidth = 1.0).head()
    assert(r2.getAs[Double]("d_stat") == 0.0 && r2.getAs[Double]("p_ks") == 1.0)
    // strong shift at n=200/side: tiny p
    val shift = (1 to 200).map(i => ("s", i * 0.01, 1.0)) ++
      (1 to 200).map(i => ("s", 10.0 + i * 0.01, 0.0))
    val r3 = operators.Association.ksDrift(shift.toDF("grp", "v", "g"),
      "v", "g", "grp", binWidth = 1.0).head()
    assert(r3.getAs[Double]("d_stat") == 1.0 && r3.getAs[Double]("p_ks") < 1e-6)
    // one-sided stratum: null stats, counts kept
    val oneSide = Seq(("z", 1.0, 1.0), ("z", 2.0, 1.0)).toDF("grp", "v", "g")
    val r4r = operators.Association.ksDrift(oneSide, "v", "g", "grp", 1.0).head()
    assert(r4r.getAs[Long]("n0") == 0L && r4r.isNullAt(r4r.fieldIndex("d_stat")))
  }

  test("breslowDay: zero on homogeneous ORs, independence path, fires on heterogeneity") {
    val sess = spark
    import sess.implicits._
    def stratum(g: String, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((g, 1.0, 1.0)) ++ Seq.fill(b)((g, 1.0, 0.0)) ++
        Seq.fill(c)((g, 0.0, 1.0)) ++ Seq.fill(d)((g, 0.0, 0.0))
    // three strata, identical OR = 4 at different sizes:
    // psi = 4 exactly, expected cell solves to the observed -> chi2 = 0
    val hom = (stratum("s1", 20, 10, 10, 20) ++ stratum("s2", 40, 20, 20, 40) ++
      stratum("s3", 10, 5, 5, 10)).toDF("s", "x", "y")
    val r = operators.Association.breslowDay(hom, "x", "y", "s").head()
    assert(r.getAs[Long]("n_strata") == 3L && r.getAs[Long]("df") == 2L)
    assert(near(r.getAs[Double]("or_mh"), 4.0, 1e-6))
    assert(near(r.getAs[Double]("chi2_bd"), 0.0, 1e-5))
    // every (a - E) = 0 under exact homogeneity, so Tarone's
    // correction subtracts 0 and the corrected form is 0 too
    assert(near(r.getAs[Double]("chi2_tarone"), 0.0, 1e-5))
    assert(near(r.getAs[Double]("p_bd"), 1.0, 1e-5))
    // independence in every stratum: psi = 1 -> degenerate-quadratic
    // path, E = r1*m1/n = observed -> chi2 = 0
    val ind = (stratum("s1", 10, 10, 10, 10) ++ stratum("s2", 20, 20, 20, 20) ++
      stratum("s3", 5, 5, 5, 5)).toDF("s", "x", "y")
    val ri = operators.Association.breslowDay(ind, "x", "y", "s").head()
    assert(near(ri.getAs[Double]("or_mh"), 1.0, 1e-6))
    assert(near(ri.getAs[Double]("chi2_bd"), 0.0, 1e-5))
    // strongly heterogeneous ORs (4, 1/4, 1): the test fires
    val het = (stratum("s1", 40, 10, 10, 40) ++ stratum("s2", 10, 40, 40, 10) ++
      stratum("s3", 25, 25, 25, 25)).toDF("s", "x", "y")
    val rh = operators.Association.breslowDay(het, "x", "y", "s").head()
    assert(rh.getAs[Double]("chi2_bd") > 10.0)
    // Tarone subtracts a non-negative quantity and stays non-negative
    assert(rh.getAs[Double]("chi2_tarone") <= rh.getAs[Double]("chi2_bd") + 1e-9)
    assert(rh.getAs[Double]("chi2_tarone") >= -1e-9)
    assert(rh.getAs[Double]("p_bd") < 0.01)
    // expected cells stay consistent: chi2 matches a direct quadratic
    // replay at the reported psi
    val psi = rh.getAs[Double]("or_mh")
    val cellsH = Seq((40.0, 10.0, 10.0, 40.0), (10.0, 40.0, 40.0, 10.0),
      (25.0, 25.0, 25.0, 25.0))
    val chiRef = cellsH.map { case (a, b, c, d) =>
      val n = a + b + c + d; val r1 = a + b; val m1 = a + c
      // opposite ORs cancel to pooled psi = 1 exactly (Simpson-style
      // masking — exactly what BD exists to catch): independence path
      val e = if (psi == 1.0) r1 * m1 / n else {
        val qa = 1.0 - psi; val qb = (n - r1 - m1) + psi * (r1 + m1)
        val qc = -psi * r1 * m1
        val disc = math.sqrt(qb * qb - 4 * qa * qc)
        Seq((-qb + disc) / (2 * qa), (-qb - disc) / (2 * qa))
          .find(e => e >= 0 && r1 - e >= 0 && m1 - e >= 0 &&
            n - r1 - m1 + e >= 0).get
      }
      val v = 1.0 / (1.0 / e + 1.0 / (r1 - e) + 1.0 / (m1 - e)
        + 1.0 / (n - r1 - m1 + e))
      (a - e) * (a - e) / v
    }.sum
    assert(near(rh.getAs[Double]("chi2_bd"), chiRef, 1e-3))
  }

  test("matchedPairs: McNemar closed form, Haldane on empty cells, concordant pairs uninformative") {
    val sess = spark
    import sess.implicits._
    // stratum g: 20 pairs — n11=5, n00=4, n10=8, n01=3
    val g = Seq.fill(5)((1.0, 1.0)) ++ Seq.fill(4)((0.0, 0.0)) ++
      Seq.fill(8)((1.0, 0.0)) ++ Seq.fill(3)((0.0, 1.0))
    val df = g.map { case (a, b) => ("g", a, b) }.toDF("grp", "x_case", "x_ctrl")
    val r = operators.Association.matchedPairs(df, "x_case", "x_ctrl", "grp").head()
    assert(r.getAs[Long]("n_pairs") == 20L)
    assert(r.getAs[Long]("n10") == 8L && r.getAs[Long]("n01") == 3L)
    assert(near(r.getAs[Double]("beta"), math.log(8.0 / 3.0), 1e-12))
    assert(near(r.getAs[Double]("se"), math.sqrt(1.0 / 8 + 1.0 / 3), 1e-12))
    assert(near(r.getAs[Double]("mcnemar_chi2"), 25.0 / 11.0, 1e-12))
    // Wald p against the independent erfc tail
    val z = math.log(8.0 / 3.0) / math.sqrt(1.0 / 8 + 1.0 / 3)
    val pw = graft.functions.Numerics.erfc(math.abs(z) / math.sqrt(2.0))
    assert(near(r.getAs[Double]("p_wald"), pw, 1e-6))
    // concordant-only extra pairs change NOTHING except n_pairs
    val df2 = (g ++ Seq.fill(10)((1.0, 1.0))).map { case (a, b) => ("g", a, b) }
      .toDF("grp", "x_case", "x_ctrl")
    val r2 = operators.Association.matchedPairs(df2, "x_case", "x_ctrl", "grp").head()
    assert(r2.getAs[Long]("n_pairs") == 30L &&
      r2.getAs[Double]("beta") == r.getAs[Double]("beta"))
    // empty n01 cell: Haldane 1/2 keeps the estimate defined
    val df3 = (Seq.fill(4)((1.0, 0.0)) ++ Seq.fill(2)((1.0, 1.0)))
      .map { case (a, b) => ("h", a, b) }.toDF("grp", "x_case", "x_ctrl")
    val r3 = operators.Association.matchedPairs(df3, "x_case", "x_ctrl", "grp").head()
    assert(near(r3.getAs[Double]("beta"), math.log(4.5 / 0.5), 1e-12))
    assert(near(r3.getAs[Double]("mcnemar_chi2"), 4.0, 1e-12)) // raw counts
  }

  test("kaplanMeier: Freireich 6-MP textbook curve + Greenwood se; zero-hit terminal row; partition-invariant") {
    val sess = spark
    import sess.implicits._
    // The 6-MP arm of Freireich et al. 1963 (the canonical KM example):
    // 21 patients, remission lengths in weeks, * = censored.
    val times = Seq(
      6.0 -> 1.0, 6.0 -> 1.0, 6.0 -> 1.0, 6.0 -> 0.0, 7.0 -> 1.0,
      9.0 -> 0.0, 10.0 -> 1.0, 10.0 -> 0.0, 11.0 -> 0.0, 13.0 -> 1.0,
      16.0 -> 1.0, 17.0 -> 0.0, 19.0 -> 0.0, 20.0 -> 0.0, 22.0 -> 1.0,
      23.0 -> 1.0, 25.0 -> 0.0, 32.0 -> 0.0, 32.0 -> 0.0, 34.0 -> 0.0,
      35.0 -> 0.0)
    val df = times.map { case (t, e) => ("mp6", t, e) }.toDF("grp", "time", "event")
    val out = operators.Association.kaplanMeier(df, "time", "event", "grp")
      .orderBy("t").collect()
    // textbook survival values and Greenwood standard errors (4 dp)
    val expect = Seq( // (t, n_risk, d, S, se)
      (6.0, 21L, 3L, 0.8571, 0.0764), (7.0, 17L, 1L, 0.8067, 0.0869),
      (10.0, 15L, 1L, 0.7529, 0.0963), (13.0, 12L, 1L, 0.6902, 0.1068),
      (16.0, 11L, 1L, 0.6275, 0.1141), (22.0, 7L, 1L, 0.5378, 0.1282),
      (23.0, 6L, 1L, 0.4482, 0.1346))
    assert(out.length == expect.length)
    out.zip(expect).foreach { case (r, (t, n, d, s, se)) =>
      assert(r.getAs[Double]("t") == t)
      assert(r.getAs[Long]("n_risk") == n && r.getAs[Long]("d_events") == d)
      assert(near(r.getAs[Double]("surv"), s, 5e-5), s"S($t)=${r.getAs[Double]("surv")}")
      assert(near(r.getAs[Double]("se"), se, 5e-5), s"se($t)=${r.getAs[Double]("se")}")
    }
    // curve monotone non-increasing
    out.map(_.getAs[Double]("surv")).sliding(2).foreach {
      case Array(a, b) => assert(b <= a); case _ => ()
    }
    // terminal d = n row: surv exact 0, Greenwood se null (denominator
    // vanishes) — not ln(0) leakage
    val zdf = Seq(("z", 1.0, 1.0), ("z", 2.0, 1.0), ("z", 2.0, 1.0))
      .toDF("grp", "time", "event")
    val z = operators.Association.kaplanMeier(zdf, "time", "event", "grp")
      .orderBy("t").collect()
    assert(near(z(0).getAs[Double]("surv"), 2.0 / 3.0, 1e-12))
    assert(z(1).getAs[Double]("surv") == 0.0 && z(1).isNullAt(z(1).fieldIndex("se")))
    // partition invariance: integer-exact per-time cells, ordered
    // window sums -> bit-identical at any partition count
    val p1 = operators.Association.kaplanMeier(df.repartition(1), "time", "event", "grp")
      .orderBy("t").collect().map(_.getAs[Double]("surv"))
    val p7 = operators.Association.kaplanMeier(df.repartition(7), "time", "event", "grp")
      .orderBy("t").collect().map(_.getAs[Double]("surv"))
    assert(p1.sameElements(p7))
  }

  test("kaplanMeier/trendTest/hwe: random-data crosscheck vs brute-force subject-level references") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(1234)
    // --- KM vs a direct O(n^2) product over subjects ---
    val surv = (0 until 200).map { i =>
      ("g" + (i % 2), (rng.nextInt(40) + 1).toDouble,
        if (rng.nextDouble() < 0.7) 1.0 else 0.0)
    }
    val kmOut = operators.Association.kaplanMeier(
        surv.toDF("grp", "time", "event"), "time", "event", "grp")
      .collect()
      .map(r => (r.getString(0), r.getAs[Double]("t")) ->
        (r.getAs[Long]("n_risk"), r.getAs[Long]("d_events"),
          r.getAs[Double]("surv"))).toMap
    for (g <- Seq("g0", "g1")) {
      val sub = surv.filter(_._1 == g)
      val eventTimes = sub.filter(_._3 == 1.0).map(_._2).distinct.sorted
      var s = 1.0
      eventTimes.foreach { t =>
        val n = sub.count(_._2 >= t)
        val d = sub.count(x => x._2 == t && x._3 == 1.0)
        s *= 1.0 - d.toDouble / n
        val (nr, de, sv) = kmOut((g, t))
        assert(nr == n && de == d, s"cells at ($g,$t)")
        assert(near(sv, s, 1e-9), s"S($g,$t)=$sv want $s")
      }
    }
    // --- CA trend vs brute-force cell arithmetic ---
    val tr = (0 until 300).map { i =>
      (rng.nextInt(3), if (rng.nextDouble() < 0.3 + 0.1 * (i % 3)) 1.0 else 0.0)
    }
    val trOut = operators.Mas.trendTest(
      tr.toDF("gdose", "d1"), "gdose", Seq("d1")).head()
    val nT = tr.size.toDouble; val rT = tr.map(_._2).sum
    val ni = (0 to 2).map(g => tr.count(_._1 == g).toDouble)
    val ri = (0 to 2).map(g => tr.filter(_._1 == g).map(_._2).sum)
    val tS = ri(1) + 2 * ri(2) - (ni(1) + 2 * ni(2)) * rT / nT
    val vS = (rT / nT) * (1 - rT / nT) *
      (ni(1) + 4 * ni(2) - math.pow(ni(1) + 2 * ni(2), 2) / nT)
    assert(near(trOut.getAs[Double]("t_stat"), tS, 1e-4))
    assert(near(trOut.getAs[Double]("chi2"), tS * tS / vS, 1e-3))
    // --- HWE vs brute-force expected-count chi2 ---
    val hw = (0 until 250).map(_ => ("v1", rng.nextInt(3)))
    val hwOut = operators.Mas.hwe(hw.toDF("vn", "v1"), Seq("v1")).head()
    val hn = hw.size.toDouble
    val h = (0 to 2).map(g => hw.count(_._2 == g).toDouble)
    val pA = (2 * h(2) + h(1)) / (2 * hn)
    val es = Seq(hn * (1 - pA) * (1 - pA), 2 * hn * pA * (1 - pA), hn * pA * pA)
    val chi = (0 to 2).map(g => (h(g) - es(g)) * (h(g) - es(g)) / es(g)).sum
    assert(near(hwOut.getAs[Double]("chi2"), chi, 1e-3))
    assert(near(hwOut.getAs[Double]("allele_freq"), pA, 1e-6))
  }

  test("coxPhCov: MLE zeroes the independent 2-param Breslow score; singular designs null; partition-invariant") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(7)
    // hazard ∝ exp(0.7·x + 0.25·z), z ∈ {0,1,2}; continuous times → untied
    val rows = (0 until 150).map { i =>
      val x = if (i % 2 == 0) 1.0 else 0.0
      val z = (i % 3).toDouble
      val t = -math.log(1 - rng.nextDouble()) / math.exp(0.7 * x + 0.25 * z)
      val ev = if (rng.nextDouble() < 0.85) 1.0 else 0.0
      ("g", t + 0.01, ev, x, z)
    }
    val df = rows.toDF("grp", "time", "event", "x", "z")
    val fit = operators.Association.coxPhCov(df, "time", "event", "x", "z", "grp",
      zMax = 2, iters = 10).head()
    val bx = fit.getAs[Double]("beta_x"); val bz = fit.getAs[Double]("beta_z")
    // the 2-param Breslow score, computed INDEPENDENTLY subject-level
    // (O(n²) risk sets, no per-time table, no level stratification)
    def score(b1: Double, b2: Double): (Double, Double) = {
      val terms = rows.filter(_._3 == 1.0).map { case (_, t, _, xi, zi) =>
        val risk = rows.filter(_._2 >= t)
        val w = risk.map(r => math.exp(b1 * r._4 + b2 * r._5))
        val s0 = w.sum
        val s1x = risk.zip(w).map { case (r, wi) => r._4 * wi }.sum
        val s1z = risk.zip(w).map { case (r, wi) => r._5 * wi }.sum
        (xi - s1x / s0, zi - s1z / s0)
      }
      (terms.map(_._1).sum, terms.map(_._2).sum)
    }
    val (ux, uz) = score(bx, bz)
    assert(math.abs(ux) < 1e-3 && math.abs(uz) < 1e-3)
    // the fit recovers the simulated effects within sampling error
    assert(math.abs(bx - 0.7) < 0.5 && math.abs(bz - 0.25) < 0.5)
    assert(fit.getAs[Double]("se_x") > 0 && fit.getAs[Double]("se_z") > 0)
    // TIED data: shared-risk-set Breslow score still zeroed
    val tied = rows.map { case (g, t, ev, x, z) => (g, math.ceil(t * 2) / 2, ev, x, z) }
    val ft = operators.Association.coxPhCov(tied.toDF("grp", "time", "event", "x", "z"),
      "time", "event", "x", "z", "grp", zMax = 2, iters = 12).head()
    def scoreT(b1: Double, b2: Double): (Double, Double) = {
      val terms = tied.filter(_._3 == 1.0).map { case (_, t, _, xi, zi) =>
        val risk = tied.filter(_._2 >= t)
        val w = risk.map(r => math.exp(b1 * r._4 + b2 * r._5))
        val s0 = w.sum
        val s1x = risk.zip(w).map { case (r, wi) => r._4 * wi }.sum
        val s1z = risk.zip(w).map { case (r, wi) => r._5 * wi }.sum
        (xi - s1x / s0, zi - s1z / s0)
      }
      (terms.map(_._1).sum, terms.map(_._2).sum)
    }
    val (utx, utz) = scoreT(ft.getAs[Double]("beta_x"), ft.getAs[Double]("beta_z"))
    assert(math.abs(utx) < 1e-3 && math.abs(utz) < 1e-3)
    // COLLINEAR design (z == x): singular information → null betas, events kept
    val colin = rows.map { case (g, t, ev, x, _) => (g, t, ev, x, x) }
      .toDF("grp", "time", "event", "x", "z")
    val cr = operators.Association.coxPhCov(colin, "time", "event", "x", "z", "grp",
      zMax = 2, iters = 6).head()
    assert(cr.getAs[Long]("events") > 0 && cr.isNullAt(cr.fieldIndex("beta_x")))
    // CONSTANT covariate (z ≡ 1): zero z-information → null betas
    val const = rows.map { case (g, t, ev, x, _) => (g, t, ev, x, 1.0) }
      .toDF("grp", "time", "event", "x", "z")
    val kr = operators.Association.coxPhCov(const, "time", "event", "x", "z", "grp",
      zMax = 2, iters = 6).head()
    assert(kr.isNullAt(kr.fieldIndex("beta_x")))
    // zero-event stratum emits nothing
    val cen = Seq(("z", 1.0, 0.0, 1.0, 0.0), ("z", 2.0, 0.0, 0.0, 1.0))
      .toDF("grp", "time", "event", "x", "z")
    assert(operators.Association.coxPhCov(cen, "time", "event", "x", "z", "grp",
      zMax = 2).count() == 0L)
    // partition invariance: integer-exact cells + sorted in-task pass
    val p1c = operators.Association.coxPhCov(df.repartition(1), "time", "event", "x", "z",
      "grp", zMax = 2, iters = 10).head()
    val p8c = operators.Association.coxPhCov(df.repartition(8), "time", "event", "x", "z",
      "grp", zMax = 2, iters = 10).head()
    assert(p1c.getAs[Double]("beta_x") == p8c.getAs[Double]("beta_x") &&
      p1c.getAs[Double]("beta_x") == bx &&
      p1c.getAs[Double]("beta_z") == p8c.getAs[Double]("beta_z"))
  }

  test("coxPhCov2: MLE zeroes the independent 3-param Breslow score; constant z2 exactly singular; partition-invariant") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(23)
    // hazard ∝ exp(0.6·x + 0.3·z1 − 0.2·z2), z1 ∈ {0..3}, z2 ∈ {0..2}
    val rows = (0 until 220).map { i =>
      val x = if (i % 2 == 0) 1.0 else 0.0
      val z1 = (i % 4).toDouble
      val z2 = ((i / 2) % 3).toDouble
      val t = -math.log(1 - rng.nextDouble()) /
        math.exp(0.6 * x + 0.3 * z1 - 0.2 * z2)
      val ev = if (rng.nextDouble() < 0.85) 1.0 else 0.0
      ("g", t + 0.01, ev, x, z1, z2)
    }
    val df = rows.toDF("grp", "time", "event", "x", "z1", "z2")
    val fit = operators.Association.coxPhCov2(df, "time", "event", "x", "z1",
      "z2", "grp", z1Max = 3, z2Max = 2, iters = 12).head()
    val bx = fit.getAs[Double]("beta_x")
    val b1 = fit.getAs[Double]("beta_z1")
    val b2 = fit.getAs[Double]("beta_z2")
    // the 3-param Breslow score, computed INDEPENDENTLY subject-level
    // (O(n²) risk sets, no per-time table, no cell stratification)
    def score(cx: Double, c1: Double, c2: Double): (Double, Double, Double) = {
      val terms = rows.filter(_._3 == 1.0).map { case (_, t, _, xi, z1i, z2i) =>
        val risk = rows.filter(_._2 >= t)
        val w = risk.map(r => math.exp(cx * r._4 + c1 * r._5 + c2 * r._6))
        val s0 = w.sum
        val sx = risk.zip(w).map { case (r, wi) => r._4 * wi }.sum
        val s1 = risk.zip(w).map { case (r, wi) => r._5 * wi }.sum
        val s2 = risk.zip(w).map { case (r, wi) => r._6 * wi }.sum
        (xi - sx / s0, z1i - s1 / s0, z2i - s2 / s0)
      }
      (terms.map(_._1).sum, terms.map(_._2).sum, terms.map(_._3).sum)
    }
    val (ux, u1, u2) = score(bx, b1, b2)
    assert(math.abs(ux) < 1e-3 && math.abs(u1) < 1e-3 && math.abs(u2) < 1e-3)
    // recovers the simulated effects (including the NEGATIVE z2)
    assert(math.abs(bx - 0.6) < 0.5 && math.abs(b1 - 0.3) < 0.4 &&
      math.abs(b2 + 0.2) < 0.4)
    assert(fit.getAs[Double]("se_x") > 0 && fit.getAs[Double]("se_z1") > 0 &&
      fit.getAs[Double]("se_z2") > 0)
    assert(fit.getAs[Double]("chi2") > 0)
    // CONSTANT z2 ≡ 1: i22/ix2/i12 are EXACT zeros (s222/s0 = 1 =
    // (s12/s0)², same operands), det = 0 exactly → null fit
    val const = rows.map { case (g, t, ev, x, z1, _) => (g, t, ev, x, z1, 1.0) }
      .toDF("grp", "time", "event", "x", "z1", "z2")
    val kr = operators.Association.coxPhCov2(const, "time", "event", "x", "z1",
      "z2", "grp", z1Max = 3, z2Max = 2, iters = 6).head()
    assert(kr.getAs[Long]("events") > 0 && kr.isNullAt(kr.fieldIndex("beta_x")))
    // COLLINEAR z2 == x: singular → null
    val colin = rows.map { case (g, t, ev, x, z1, _) => (g, t, ev, x, z1, x) }
      .toDF("grp", "time", "event", "x", "z1", "z2")
    val cr = operators.Association.coxPhCov2(colin, "time", "event", "x", "z1",
      "z2", "grp", z1Max = 3, z2Max = 2, iters = 6).head()
    assert(cr.isNullAt(cr.fieldIndex("beta_x")))
    // zero-event stratum emits nothing
    val cen = Seq(("z", 1.0, 0.0, 1.0, 0.0, 1.0), ("z", 2.0, 0.0, 0.0, 1.0, 0.0))
      .toDF("grp", "time", "event", "x", "z1", "z2")
    assert(operators.Association.coxPhCov2(cen, "time", "event", "x", "z1",
      "z2", "grp", z1Max = 3, z2Max = 2).count() == 0L)
    // partition invariance: integer-exact cells + sorted in-task pass
    val p1c = operators.Association.coxPhCov2(df.repartition(1), "time", "event",
      "x", "z1", "z2", "grp", z1Max = 3, z2Max = 2, iters = 12).head()
    val p8c = operators.Association.coxPhCov2(df.repartition(8), "time", "event",
      "x", "z1", "z2", "grp", z1Max = 3, z2Max = 2, iters = 12).head()
    assert(p1c.getAs[Double]("beta_x") == p8c.getAs[Double]("beta_x") &&
      p1c.getAs[Double]("beta_x") == bx &&
      p1c.getAs[Double]("beta_z1") == p8c.getAs[Double]("beta_z1") &&
      p1c.getAs[Double]("beta_z2") == p8c.getAs[Double]("beta_z2"))
  }

  test("coxPhCov and coxPhCov2 fit a NaN time as the largest time, equal to +Inf") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(41)
    val rows = (0 until 90).map { i =>
      val t = -math.log(1 - rng.nextDouble()) / math.exp(0.5 * (i % 2))
      ("g", t + 0.01, if (rng.nextDouble() < 0.8) 1.0 else 0.0,
        (i % 2).toDouble, (i % 3).toDouble, (i / 2 % 2).toDouble)
    }
    // one event and one censored row get the odd time: Spark and
    // DuckDB both order NaN above every double
    def frame(odd: Double) = rows.zipWithIndex.map { case ((g, t, ev, x, z1, z2), i) =>
      if (i == 4) (g, odd, 1.0, x, z1, z2)
      else if (i == 7) (g, odd, 0.0, x, z1, z2)
      else (g, t, ev, x, z1, z2)
    }.toDF("grp", "time", "event", "x", "z1", "z2")
    def bits(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    })
    val fits = Seq[(String, DataFrame => DataFrame)](
      "coxPhCov" -> (Association.coxPhCov(_, "time", "event", "x", "z1", "grp",
        zMax = 2, iters = 8)),
      "coxPhCov2" -> (Association.coxPhCov2(_, "time", "event", "x", "z1", "z2", "grp",
        z1Max = 2, z2Max = 1, iters = 8)))
    for ((name, fit) <- fits) {
      val nan = bits(fit(frame(Double.NaN)))
      assert(nan.size == 1 && !nan.head.contains(null), s"$name: $nan")
      assert(nan == bits(fit(frame(Double.PositiveInfinity))), name)
    }
  }

  test("countFit: unit exposure, exposure scaling, closed form, zero score") {
    val rng = new scala.util.Random(91)
    val n = 400
    val x = Array.tabulate(n)(i => if (i % 2 == 0) 1.0 else 0.0)
    val e = Array.tabulate(n)(_ => 0.5 + rng.nextDouble() * 4.0)
    val y = Array.tabulate(n) { i =>
      // Poisson draws at rate E·exp(-0.3 + 0.6x)
      val mu = e(i) * math.exp(-0.3 + 0.6 * x(i))
      var k = 0; var p = math.exp(-mu); var c = p; val u = rng.nextDouble()
      while (u > c && k < 500) { k += 1; p *= mu / k; c += p }
      k.toDouble
    }
    def fit(x: Array[Double], e: Array[Double]) =
      operators.Association.countFit(x, y, e, Double.PositiveInfinity)
    // e ≡ 1: the plain Poisson rate ratio of the class means, and the
    // offset entry over a unit exposure column is bit-identical to the
    // plain Poisson entry
    val ones = Array.fill(n)(1.0)
    val (b1, s1, c1) = fit(x, ones)
    def cls(v: Double) = x.indices.filter(x(_) == v)
    val sy1 = cls(1.0).map(y).sum; val sy0 = cls(0.0).map(y).sum
    assert(c1 && math.abs(b1 - math.log((sy1 / cls(1.0).size) / (sy0 / cls(0.0).size))) < 1e-8)
    assert(math.abs(s1 - math.sqrt(1.0 / sy1 + 1.0 / sy0)) < 1e-8)
    val sess = spark
    import sess.implicits._
    val frame = x.indices.map(i => ("g", x(i), y(i), 1.0)).toDF("grp", "x", "y", "e")
    assert(operators.Association.poissonOffset(frame, "x", "y", "e", "grp").collect().toSeq ==
      operators.Association.poisson(frame, "x", "y", "grp").collect().toSeq)
    // closed form on the saturated binary design
    val (bf, sf, cf) = fit(x, e)
    assert(cf)
    val se1 = cls(1.0).map(e).sum; val se0 = cls(0.0).map(e).sum
    assert(math.abs(bf - math.log((sy1 / se1) / (sy0 / se0))) < 1e-8)
    assert(math.abs(sf - math.sqrt(1.0 / sy1 + 1.0 / sy0)) < 1e-8)
    assert(math.abs(bf - 0.6) < 0.3) // recovers the simulated IRR
    // exposure scaling: E → 10E shifts the intercept, not beta/se
    val (bs, ss, _) = fit(x, e.map(_ * 10))
    assert(math.abs(bs - bf) < 1e-8 && math.abs(ss - sf) < 1e-8)
    // continuous x: the independent score Σx(y−E·exp(a+bx)) zeroes at
    // the fit (recover a from the 0-score of the intercept equation)
    val xc = Array.tabulate(n)(i => (i % 5).toDouble / 2.0)
    val (bc, _, cc) = fit(xc, e)
    assert(cc)
    // solve intercept at fixed bc by 1-d Newton for the score check
    var a = 0.0
    for (_ <- 1 to 60) {
      val mu = xc.indices.map(i => e(i) * math.exp(a + bc * xc(i)))
      a += (y.sum - mu.sum) / mu.sum
    }
    val sc = xc.indices.map(i => xc(i) * (y(i) - e(i) * math.exp(a + bc * xc(i)))).sum
    assert(math.abs(sc) < 1e-4, s"score at MLE = $sc")
  }

  test("a37 screen→Firth route: routed refits hash-match the unrouted full-grid Firth fits on exactly the survivor set") {
    val dir = "/root/testdata/sf0.001"
    val routed = operators.Mas.a37ScreenFirth(spark, dir).collect()
    // the survivor set the screen defines, computed independently
    val surv = operators.Mas.a21ScoreScreen(spark, dir).collect()
      .filter(_.getAs[Double]("score_chi2") >= 1.0)
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(routed.map(r => (r.getString(0), r.getString(1))).toSet == surv,
      "routed pair set must equal the screen's survivor set")
    assert(routed.nonEmpty, "threshold should admit at least one pair at sf0.001")
    // the UNROUTED full-grid Firth fit — the routed refit must agree
    // value-for-value (the handoff changes which pairs get fit, never
    // what a fit produces)
    val cfg = operators.Association.Config(Seq("xbin", "xpar"),
      Seq("d_urgent", "d_open", "d_big", "d_many"), model = "firth",
      minCaseCount = 5, maxIter = 200, tol = 1e-11)
    val full = operators.Association.assoc(operators.Mas.cohort(spark, dir), cfg)
      .select(col("predictor"), col("dependent"),
        (round(col("beta"), 4) + lit(0.0)).as("beta"),
        (round(col("OR"), 4) + lit(0.0)).as("OR"),
        col("cases"), col("controls"), col("total_n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    routed.foreach { r =>
      val f = full((r.getString(0), r.getString(1)))
      assert(r.getAs[Double]("beta") == f.getAs[Double]("beta") &&
        r.getAs[Double]("OR") == f.getAs[Double]("OR") &&
        r.getAs[Long]("cases") == f.getAs[Long]("cases") &&
        r.getAs[Long]("controls") == f.getAs[Long]("controls") &&
        r.getAs[Long]("total_n") == f.getAs[Long]("total_n"),
        s"routed refit diverges from the full fit at ${(r.getString(0), r.getString(1))}")
    }
  }

  test("a45 scoreScreenLinear: hand matrix-algebra χ² on a tiny cohort") {
    val sess = spark
    import sess.implicits._
    val s = Array(0.0, 1.0, 2.0, 0.0, 1.0, 2.0)
    val y = Array(1.0, 3.0, 2.0, 5.0, 4.0, 6.0)
    val x = Array(1.0, 0.0, 1.0, 0.0, 1.0, 0.0)
    val rows = (0 until 6).map(i => (i.toLong, s(i), x(i), y(i)))
      .toDF("id", "s", "xv1", "y1")
    val out = operators.Mas.scoreScreenLinear(rows, "s", Seq("xv1"), Seq("y1"))
      .collect()
    assert(out.length == 1 && out(0).getAs[Long]("total_n") == 6L)
    // independent reference: explicit 2×2 matrix algebra, not the
    // operator's sufficient-sum shortcut
    val n = 6.0
    val (sSum, s2Sum, ySum, sySum) = (s.sum, s.map(t => t * t).sum, y.sum,
      s.zip(y).map { case (a, b) => a * b }.sum)
    val det = n * s2Sum - sSum * sSum
    val g1 = (n * sySum - sSum * ySum) / det
    val g0 = (ySum - g1 * sSum) / n
    val r = (0 until 6).map(i => y(i) - g0 - g1 * s(i))
    val u = (0 until 6).map(i => x(i) * r(i)).sum
    val sig2 = r.map(t => t * t).sum / n
    // quad = x'Z (Z'Z)^{-1} Z'x with Z = [1, s], via the explicit inverse
    val (xz0, xz1) = (x.sum, x.zip(s).map { case (a, b) => a * b }.sum)
    val quad = (s2Sum * xz0 * xz0 - 2.0 * sSum * xz0 * xz1 + n * xz1 * xz1) / det
    val v = sig2 * (x.map(t => t * t).sum - quad)
    val expect = math.floor(u * u / v * 1e4 + 0.5) / 1e4
    assert(out(0).getAs[Double]("score_chi2") == expect,
      s"got ${out(0).getAs[Double]("score_chi2")}, want $expect")
  }

  test("a45 screen→linear route: routed Gram refits equal the unrouted full-grid fits on exactly the survivor set") {
    val dir = "/root/testdata/sf0.001"
    val preds = Seq("x", "xbin", "xpar")
    val deps = Seq("y_avg", "y_max", "y_cnt")
    val screen = operators.Mas.a45ScoreScreenLinear(spark, dir).collect()
    // threshold at the median χ² so the survivor set is nonempty AND a
    // strict subset at any fixture scale
    val chis = screen.map(_.getAs[Double]("score_chi2")).sorted
    val thr = chis(chis.length / 2)
    val surv = screen.filter(_.getAs[Double]("score_chi2") >= thr)
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(surv.nonEmpty && surv.size < screen.length, "non-trivial survivor set")
    val cfg = operators.Association.Config(preds, deps, Seq("z2"),
      model = "linear", minCaseCount = 10)
    val coh = operators.Mas.cohort(spark, dir)
    val survDf = {
      val sess = spark
      import sess.implicits._
      surv.toSeq.toDF("predictor", "dependent")
    }
    // the a37 route shape: semi-join the melted frame BEFORE the
    // fitter, so screened-out pairs never reach the Gram solve
    // (the fitter grid-completes missing pairs with skip shells — the
    // a37 shape cuts back to survivors with an inner join after it)
    val routed = operators.Association.linear(
      operators.Association.melt(coh, cfg)
        .join(org.apache.spark.sql.functions.broadcast(survDf),
          Seq("predictor", "dependent"), "left_semi"), cfg)
      .join(org.apache.spark.sql.functions.broadcast(survDf),
        Seq("predictor", "dependent"))
      .select(col("predictor"), col("dependent"),
        (round(col("beta"), 4) + lit(0.0)).as("beta"),
        (round(col("se"), 4) + lit(0.0)).as("se"), col("n_observations"))
      .collect()
    assert(routed.map(r => (r.getString(0), r.getString(1))).toSet == surv,
      "routed pair set must equal the survivor set")
    val full = operators.Association.assoc(coh, cfg)
      .select(col("predictor"), col("dependent"),
        (round(col("beta"), 4) + lit(0.0)).as("beta"),
        (round(col("se"), 4) + lit(0.0)).as("se"), col("n_observations"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    routed.foreach { r =>
      val f = full((r.getString(0), r.getString(1)))
      assert(r.getAs[Double]("beta") == f.getAs[Double]("beta") &&
        r.getAs[Double]("se") == f.getAs[Double]("se") &&
        r.getAs[Long]("n_observations") == f.getAs[Long]("n_observations"),
        s"routed refit diverges at ${(r.getString(0), r.getString(1))}")
    }
  }

  test("a46 mannWhitney: hand ranks with ties, perfect separation, partition invariance") {
    val sess = spark
    import sess.implicits._
    // g1 = {1, 2, 2}, g0 = {2, 3}: ranks 1; (2+3+4)/3 = 3 for the tied
    // 2s; 5. R1 = 1+3+3 = 7, U1 = 7 - 6 = 1, mu = 3,
    // Var = 6/12 * (6 - 24/20) = 2.4, z = -2/sqrt(2.4) = -1.2910
    val rows = Seq((1.0, 1L), (2.0, 1L), (2.0, 1L), (2.0, 0L), (3.0, 0L))
      .map { case (v, g) => (g, v) }.toDF("grp", "y1")
    val out = operators.Mas.mannWhitney(rows, "grp", Seq("y1")).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("n1") == 3L && r.getAs[Long]("n2") == 2L)
    assert(r.getAs[Double]("u1") == 1.0)
    assert(r.getAs[Double]("z") == -1.291)
    val p = r.getAs[Double]("p_mw")
    assert(p > 0.19 && p < 0.21, s"p=$p")
    // perfect separation: U1 = n1*n2 (the maximum), z > 0
    val sep = Seq((1L, 10.0), (1L, 20.0), (0L, 1.0), (0L, 2.0))
      .toDF("grp", "y1")
    val s = operators.Mas.mannWhitney(sep, "grp", Seq("y1")).collect()(0)
    assert(s.getAs[Double]("u1") == 4.0)
    assert(s.getAs[Double]("z") == 1.5492)
    // exact integer rank sums: identical at any partition count
    val a = operators.Mas.mannWhitney(rows.repartition(1), "grp", Seq("y1"))
      .collect().map(_.toString).toSeq
    val b = operators.Mas.mannWhitney(rows.repartition(8), "grp", Seq("y1"))
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("a47 wilcoxonSignedRank: hand case with tied |d|, zeros dropped") {
    val sess = spark
    import sess.implicits._
    // d = a - b = {5, -1, 3, 3, -2, 0}: the zero drops; |d| ranks
    // 1->1, 2->2, {3,3}->3.5, 5->5; W+ = 5 + 3.5 + 3.5 = 12; n = 5;
    // mu = 7.5; Var = 5*6*11/24 - 6/48 = 13.625; z = 4.5/3.69120 = 1.2191
    val rows = Seq((10.0, 5.0), (4.0, 5.0), (9.0, 6.0), (8.0, 5.0),
      (3.0, 5.0), (7.0, 7.0)).toDF("a", "b")
    val out = operators.Mas.wilcoxonSignedRank(rows, "a", "b").collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("n_pairs") == 5L)
    assert(r.getAs[Double]("w_plus") == 12.0)
    assert(r.getAs[Double]("z") == 1.2191)
    val p = r.getAs[Double]("p_wsr")
    assert(p > 0.21 && p < 0.24, s"p=$p")
  }

  test("a48 kruskalWallis: hand ranks with ties, degenerates, partition invariance") {
    val sess = spark
    import sess.implicits._
    // g0 = {1, 2}, g1 = {2, 3}, g2 = {3, 3}: ranks 1; tied 2s -> 2.5;
    // tied 3s -> 5. R0 = 3.5, R1 = 7.5, R2 = 10 (sum 21 = N(N+1)/2).
    // H = 12/42 * (3.5^2/2 + 7.5^2/2 + 10^2/2) - 21 = 3.0714286;
    // ties Sum(t^3-t) = 6 + 24 = 30, corr = 1 - 30/210 = 6/7;
    // H_c = 3.0714286 * 7/6 = 3.5833333; p = exp(-H_c/2) = 0.166632
    val rows = Seq((0L, 1.0), (0L, 2.0), (1L, 2.0), (1L, 3.0),
      (2L, 3.0), (2L, 3.0)).toDF("grp", "y1")
    val out = operators.Mas.kruskalWallis(rows, "grp", Seq("y1")).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("n_total") == 6L)
    assert(r.getAs[Long]("n0") == 2L && r.getAs[Long]("n1") == 2L &&
      r.getAs[Long]("n2") == 2L)
    assert(r.getAs[Double]("h") == 3.5833)
    val p = r.getAs[Double]("p_kw")
    assert(math.abs(p - math.exp(-0.5 * 3.5833333333333335)) < 1e-5, s"p=$p")
    // all-tied dependent: corr = 0 -> null H/p (the a29 monomorphic rule)
    val flat = Seq((0L, 7.0), (1L, 7.0), (2L, 7.0), (0L, 7.0))
      .toDF("grp", "y1")
    val fr = operators.Mas.kruskalWallis(flat, "grp", Seq("y1")).collect()(0)
    assert(fr.isNullAt(fr.fieldIndex("h")) && fr.isNullAt(fr.fieldIndex("p_kw")))
    // empty arm -> null
    val two = Seq((0L, 1.0), (0L, 2.0), (1L, 3.0), (1L, 4.0))
      .toDF("grp", "y1")
    val tr = operators.Mas.kruskalWallis(two, "grp", Seq("y1")).collect()(0)
    assert(tr.isNullAt(tr.fieldIndex("h")))
    // exact integer rank sums: identical at any partition count
    val a = operators.Mas.kruskalWallis(rows.repartition(1), "grp", Seq("y1"))
      .collect().map(_.toString).toSeq
    val b = operators.Mas.kruskalWallis(rows.repartition(8), "grp", Seq("y1"))
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("a48 kruskalWallis at K=2 collapses to a46 mannWhitney's z^2") {
    val sess = spark
    import sess.implicits._
    // tie-corrected identity: H (1 df, K=2) == z^2 from the rank-sum
    // test on the same two groups — both outputs are 4-dp rounded, so
    // compare within the rounding radius
    val rows = Seq((0L, 1.0), (0L, 2.0), (0L, 2.0), (0L, 5.0),
      (1L, 2.0), (1L, 3.0), (1L, 4.0), (1L, 4.0), (1L, 6.0))
      .toDF("grp", "y1")
    val kw = operators.Mas.kruskalWallis(rows, "grp", Seq("y1"), k = 2)
      .collect()(0)
    val mw = operators.Mas.mannWhitney(rows, "grp", Seq("y1")).collect()(0)
    val h = kw.getAs[Double]("h")
    val z = mw.getAs[Double]("z")
    assert(math.abs(h - z * z) < 2e-3, s"h=$h z^2=${z * z}")
    // the K=2 p is the two-sided normal tail of sqrt(H) == |z|'s tail
    assert(math.abs(kw.getAs[Double]("p_kw") - mw.getAs[Double]("p_mw")) < 1e-4)
    // near-identical groups: H is 0 in exact arithmetic but assembled
    // in floating point, so it can round to a tiny NEGATIVE — the
    // sqrt is clamped (r20 advice), so p must be a real number (1.0),
    // never an unmasked NaN beside a non-null h
    val same = Seq((0L, 1.0), (0L, 2.0), (0L, 3.0),
      (1L, 1.0), (1L, 2.0), (1L, 3.0)).toDF("grp", "y1")
    val sr = operators.Mas.kruskalWallis(same, "grp", Seq("y1"), k = 2)
      .collect()(0)
    val sp = sr.getAs[Double]("p_kw")
    assert(!sp.isNaN && math.abs(sp - 1.0) < 1e-4, s"p=$sp")
    assert(math.abs(sr.getAs[Double]("h")) < 1e-4)
  }

  test("a49 spearman: hand rho, tie collapse to 1, constant column, invariance") {
    val sess = spark
    import sess.implicits._
    // classic no-ties case: a = rank(a), b perm (2,1,4,3,5);
    // Sum d^2 = 4 -> rho = 1 - 6*4/(5*24) = 0.8
    val rows = Seq((1L, 1.0, 2.0), (2L, 2.0, 1.0), (3L, 3.0, 4.0),
      (4L, 4.0, 3.0), (5L, 5.0, 5.0)).toDF("id", "a", "b")
    val out = operators.Mas.spearman(rows, Seq("a", "b")).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[String]("col_a") == "a" && r.getAs[String]("col_b") == "b")
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[Double]("rho_s") == 0.8)
    // monotone-with-ties: identical tie structure in both columns -> rho 1
    val tied = Seq((1L, 1.0, 10.0), (2L, 2.0, 20.0), (3L, 2.0, 20.0),
      (4L, 4.0, 40.0)).toDF("id", "a", "b")
    val tr = operators.Mas.spearman(tied, Seq("a", "b")).collect()(0)
    assert(tr.getAs[Double]("rho_s") == 1.0)
    // constant column: zero rank variance -> null rho/p
    val const = Seq((1L, 1.0, 7.0), (2L, 2.0, 7.0), (3L, 3.0, 7.0))
      .toDF("id", "a", "b")
    val cr = operators.Mas.spearman(const, Seq("a", "b")).collect()(0)
    assert(cr.isNullAt(cr.fieldIndex("rho_s")) && cr.isNullAt(cr.fieldIndex("p_s")))
    // listwise deletion: a null in EITHER column drops the row everywhere
    val withNull = Seq((1L, Some(1.0), Some(2.0)), (2L, Some(2.0), None),
      (3L, Some(3.0), Some(4.0)), (4L, Some(4.0), Some(3.0)),
      (5L, Some(5.0), Some(5.0))).toDF("id", "a", "b")
    val nr = operators.Mas.spearman(withNull, Seq("a", "b")).collect()(0)
    assert(nr.getAs[Long]("n") == 4L)
    // three columns -> three pairs, sorted; invariance across partitionings
    val three = Seq((1L, 1.0, 2.0, 3.0), (2L, 2.0, 1.0, 1.0),
      (3L, 3.0, 4.0, 2.0), (4L, 4.0, 3.0, 5.0), (5L, 5.0, 5.0, 4.0))
      .toDF("id", "a", "b", "c")
    val p1 = operators.Mas.spearman(three.repartition(1), Seq("a", "b", "c"))
      .collect().map(_.toString).toSeq
    val p8 = operators.Mas.spearman(three.repartition(8), Seq("a", "b", "c"))
      .collect().map(_.toString).toSeq
    assert(p1 == p8 && p1.length == 3)
  }

  test("a49 spearman unique-id contract holds on the fixture cohort") {
    // spearman re-assembles rank vectors via groupBy(id): duplicate
    // ids would silently merge rows (r20 advice). The scaladoc pins
    // the contract on callers; this pins the fixture side of it.
    import org.apache.spark.sql.functions.{count, countDistinct}
    val coh = operators.Mas.cohort(spark, "/root/testdata/sf0.001")
    val r = coh.agg(count(lit(1)).as("n"),
      countDistinct(col("id")).as("nd")).collect()(0)
    assert(r.getAs[Long]("n") == r.getAs[Long]("nd"),
      s"cohort id not unique: ${r.getAs[Long]("n")} rows, " +
        s"${r.getAs[Long]("nd")} distinct ids")
  }

  test("a50 friedman: classic no-ties case, tie handling, all-tied null, invariance") {
    val sess = spark
    import sess.implicits._
    // classic 3x3: rows rank to (1,2,3),(2,1,3),(1,3,2) -> R = (4,6,8);
    // T = 12/(3*3*4) * (16+36+64) - 3*3*4 = 38.6667 - 36 = 2.6667
    // (no ties, so the Conover form reduces to the classic one)
    val rows = Seq((1.0, 2.0, 3.0), (2.0, 1.0, 3.0), (1.0, 3.0, 2.0))
      .toDF("a", "b", "c")
    val r = operators.Mas.friedman(rows, Seq("a", "b", "c")).collect()(0)
    assert(r.getAs[Long]("n_blocks") == 3L)
    assert(r.getAs[Double]("rank_sum_a") == 4.0)
    assert(r.getAs[Double]("rank_sum_b") == 6.0)
    assert(r.getAs[Double]("rank_sum_c") == 8.0)
    assert(r.getAs[Double]("friedman_chi2") == 2.6667)
    val p = r.getAs[Double]("p_friedman")
    assert(math.abs(p - math.exp(-0.5 * 8.0 / 3.0)) < 1e-5, s"p=$p")
    // ties within a block: (5,5,7) ranks to (1.5, 1.5, 3) — rank sums
    // carry the half-rank exactly on the x2 grid
    val tied = Seq((5.0, 5.0, 7.0), (1.0, 2.0, 3.0)).toDF("a", "b", "c")
    val t = operators.Mas.friedman(tied, Seq("a", "b", "c")).collect()(0)
    assert(t.getAs[Double]("rank_sum_a") == 2.5)
    assert(t.getAs[Double]("rank_sum_b") == 3.5)
    assert(t.getAs[Double]("rank_sum_c") == 6.0)
    // every block fully tied: A = C -> null chi2/p
    val flat = Seq((7.0, 7.0, 7.0), (9.0, 9.0, 9.0)).toDF("a", "b", "c")
    val f = operators.Mas.friedman(flat, Seq("a", "b", "c")).collect()(0)
    assert(f.isNullAt(f.fieldIndex("friedman_chi2")))
    // listwise: a null anywhere drops the block
    val withNull = Seq((Some(1.0), Some(2.0), Some(3.0)),
      (None, Some(1.0), Some(3.0))).toDF("a", "b", "c")
    val n = operators.Mas.friedman(withNull, Seq("a", "b", "c")).collect()(0)
    assert(n.getAs[Long]("n_blocks") == 1L)
    // projection-only ranking: identical at any partition count
    val p1 = operators.Mas.friedman(rows.repartition(1), Seq("a", "b", "c"))
      .collect().map(_.toString).toSeq
    val p8 = operators.Mas.friedman(rows.repartition(8), Seq("a", "b", "c"))
      .collect().map(_.toString).toSeq
    assert(p1 == p8)
  }

  test("a51 cochranQ: hand case, K=2 McNemar reduction, concordant-only null") {
    val sess = spark
    import sess.implicits._
    // hand case: rows (1,1,0),(1,0,0),(1,1,1),(0,1,0) -> C = (3,3,1),
    // N = 7, sum R_i^2 = 4+1+9+1 = 15;
    // Q = 2*(3*(9+9+1) - 49)/(3*7 - 15) = 16/6 = 2.6667
    val rows = Seq((1.0, 1.0, 0.0), (1.0, 0.0, 0.0), (1.0, 1.0, 1.0),
      (0.0, 1.0, 0.0)).toDF("a", "b", "c")
    val r = operators.Mas.cochranQ(rows, Seq("a", "b", "c")).collect()(0)
    assert(r.getAs[Long]("n_subjects") == 4L)
    assert(r.getAs[Long]("cases_a") == 3L && r.getAs[Long]("cases_b") == 3L &&
      r.getAs[Long]("cases_c") == 1L)
    assert(r.getAs[Double]("cochran_q") == 2.6667)
    val p = r.getAs[Double]("p_q")
    assert(math.abs(p - math.exp(-0.5 * 8.0 / 3.0)) < 1e-5, s"p=$p")
    // K=2 reduction: Q == McNemar's (b-c)^2/(b+c) on the discordant
    // counts — 5 discordant pairs (4 one way, 1 the other): 9/5 = 1.8
    val paired = Seq((1.0, 0.0), (1.0, 0.0), (1.0, 0.0), (1.0, 0.0),
      (0.0, 1.0), (1.0, 1.0), (0.0, 0.0)).toDF("a", "b")
    val m = operators.Mas.cochranQ(paired, Seq("a", "b")).collect()(0)
    assert(m.getAs[Double]("cochran_q") == 1.8)
    // all subjects concordant: denominator 0 -> null
    val conc = Seq((1.0, 1.0, 1.0), (0.0, 0.0, 0.0)).toDF("a", "b", "c")
    val cc = operators.Mas.cochranQ(conc, Seq("a", "b", "c")).collect()(0)
    assert(cc.isNullAt(cc.fieldIndex("cochran_q")))
    // non-binary rows are excluded by the domain filter
    val dirty = Seq((1.0, 0.0, 2.0), (1.0, 0.0, 0.0), (0.0, 1.0, 1.0),
      (1.0, 1.0, 0.0)).toDF("a", "b", "c")
    val d = operators.Mas.cochranQ(dirty, Seq("a", "b", "c")).collect()(0)
    assert(d.getAs[Long]("n_subjects") == 3L)
  }

  test("fisherTwoSided matches exact BigInt hypergeometric enumeration") {
    def choose(n: Int, k: Int): BigInt =
      if (k < 0 || k > n) BigInt(0)
      else (BigInt(1) to BigInt(k)).foldLeft(BigInt(1))((a, i) =>
        a * (n - (i.toInt - 1)) / i)
    // independent oracle in EXACT rational arithmetic: sum the
    // integer numerators choose(r1,k)*choose(n-r1,c1-k) whose mass is
    // <= the observed one, over the common denominator choose(n,c1)
    def exact(a: Int, b: Int, c: Int, d: Int): Double = {
      val r1 = a + b; val c1 = a + c; val n = a + b + c + d
      val ks = math.max(0, c1 - (n - r1)) to math.min(r1, c1)
      val mass = ks.map(k => k -> choose(r1, k) * choose(n - r1, c1 - k)).toMap
      val obs = mass(a)
      val s = ks.map(mass).filter(_ <= obs).sum
      (BigDecimal(s) / BigDecimal(choose(n, c1))).toDouble
    }
    for ((a, b, c, d) <- Seq((3, 1, 1, 3), (1, 9, 11, 3), (10, 2, 3, 15),
        (0, 12, 7, 5), (8, 8, 8, 8), (2, 0, 0, 2))) {
      val got = operators.Association.fisherTwoSided(a, b, c, d)
      val want = exact(a, b, c, d)
      assert(math.abs(got - want) < 1e-9, s"($a,$b,$c,$d): $got vs $want")
    }
    // tea-tasting literature value
    assert(math.abs(operators.Association.fisherTwoSided(3, 1, 1, 3) - 0.4857142857142857) < 1e-12)
    // degenerate margins (everyone a case) -> single support point, p = 1
    assert(operators.Association.fisherTwoSided(5, 0, 3, 0) == 1.0)
    // beyond the small-sample contract the kernel degrades to NaN
    // (the a39 frame publishes NULL p + skipped) instead of throwing
    assert(operators.Association.fisherTwoSided(10000001L, 0, 0, 0).isNaN)
  }

  test("aalenJohansen: hand CIFs, mass identity, risk-set exhaustion") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      ("a", 1.0, 1), ("a", 2.0, 2), ("a", 3.0, 0), ("a", 4.0, 1), ("a", 4.0, 0),
      // b: both causes take the whole risk set at t=1
      ("b", 1.0, 1), ("b", 1.0, 2)
    ).toDF("grp", "time", "cause")
    val out = operators.Association.aalenJohansen(df, "time", "cause", "grp")
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getDouble(5), r.getDouble(6), r.getDouble(7))).toMap
    // hand values: S(1)=0.8, S(2)=0.6, S(4)=0.3;
    // CIF1 = 0.2, 0.2, 0.2+0.6/2=0.5; CIF2 = 0, 0.2, 0.2
    def ≈(x: Double, y: Double) = math.abs(x - y) < 1e-12
    val (n1, s1, c11, c21) = out(("a", 1.0))
    assert(n1 == 5L && ≈(s1, 0.8) && ≈(c11, 0.2) && ≈(c21, 0.0))
    val (n2, s2, c12, c22) = out(("a", 2.0))
    assert(n2 == 4L && ≈(s2, 0.6) && ≈(c12, 0.2) && ≈(c22, 0.2))
    val (n4, s4, c14, c24) = out(("a", 4.0))
    assert(n4 == 2L && ≈(s4, 0.3) && ≈(c14, 0.5) && ≈(c24, 0.2))
    // the AJ mass identity holds at every event time
    out.values.foreach { case (_, s, c1, c2) => assert(≈(s + c1 + c2, 1.0)) }
    // exhaustion: surv exact 0, each cause gets its share
    assert(out(("b", 1.0)) == ((2L, 0.0, 0.5, 0.5)))
    // naive 1-KM-with-cause-2-censored OVERSTATES cause-1 incidence
    val km = operators.Association.kaplanMeier(
        df.filter(col("grp") === "a")
          .withColumn("event", when(col("cause") === 1, 1.0).otherwise(0.0)),
        "time", "event", "grp")
      .collect().map(r => r.getDouble(1) -> r.getDouble(4)).toMap
    assert(1.0 - km(4.0) > c14)
  }

  test("a42 HL calibration matches an independent type-7 decile recompute") {
    val dir = "/root/testdata/sf0.001"
    val out = operators.Mas.a42HlCalibration(spark, dir).collect()
    assert(out.length == 10)
    val raw = operators.Mas.cohort(spark, dir)
      .select("x", "d_urgent").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    // independent type-7 quantiles + sigmoid + HL replay
    val xs = raw.map(_._1).sorted
    def q7(p: Double): Double = {
      val h = (xs.length - 1) * p
      val lo = h.toInt
      if (lo + 1 >= xs.length) xs.last
      else xs(lo) + (h - lo) * (xs(lo + 1) - xs(lo))
    }
    val cuts = (1 to 9).map(i => q7(i / 10.0))
    val byBin = raw.groupBy { case (x, _) => cuts.count(x >= _) }
    var chi2 = 0.0
    val terms = byBin.map { case (b, rows) =>
      val n = rows.length
      val obs = rows.map(_._2).sum
      val e = rows.map { case (x, _) => 1.0 / (1.0 + math.exp(-x / 3000.0)) }.sum
      val pb = e / n
      b -> (n.toLong, obs.toLong, e, (obs - e) * (obs - e) / (n * pb * (1 - pb)))
    }
    chi2 = terms.values.map(_._4).sum
    out.foreach { r =>
      val (n, obs, e, hl) = terms(r.getInt(0))
      assert(r.getLong(1) == n && r.getLong(2) == obs)
      // engine values are r4-rounded; allow the 4-dp half-quantum
      assert(math.abs(r.getDouble(3) - e) < 6e-5)
      assert(math.abs(r.getDouble(4) - hl) < 6e-5)
      assert(math.abs(r.getDouble(5) - chi2) < 6e-5)
    }
  }

  test("a43 Brier decomposition: identity bs_binned = rel - res + unc, recompute match") {
    val dir = "/root/testdata/sf0.001"
    val r = operators.Mas.a43Brier(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    val (bs, rel, res, unc, bsb) =
      (row.getDouble(1), row.getDouble(2), row.getDouble(3),
        row.getDouble(4), row.getDouble(5))
    // Murphy identity holds exactly for the binned forecast (each
    // component is r4-rounded separately: allow 4 half-quanta)
    assert(math.abs(bsb - (rel - res + unc)) < 2.5e-4)
    // raw BS >= 0 and decomposition components in range
    assert(bs >= 0 && rel >= 0 && res >= 0 && unc >= 0 && unc <= 0.25 + 1e-9)
    // independent replay of BS from raw rows
    val raw = operators.Mas.cohort(spark, dir)
      .select("x", "d_urgent").collect()
      .map(rr => (rr.getDouble(0), rr.getDouble(1)))
    val bsRef = raw.map { case (x, y) =>
      val p = 1.0 / (1.0 + math.exp(-x / 3000.0)); (p - y) * (p - y)
    }.sum / raw.length
    assert(math.abs(bs - bsRef) < 6e-5)
    assert(row.getLong(0) == raw.length)
  }

  test("aucFrame: perfect separation, all-tied 0.5, hand tie case, partition invariance") {
    val sess = spark
    import sess.implicits._
    def melted(rows: Seq[(Double, Double)]): org.apache.spark.sql.DataFrame =
      rows.map { case (x, y) => ("d", x, y) }.toDF("dependent", "x", "y")
    def auc(rows: Seq[(Double, Double)]): Double =
      operators.Mas.aucFrame(melted(rows)).collect().head.getAs[Double]("auc")
    // cases {3,4} above ctrls {1,2} -> 1.0
    assert(auc(Seq(1.0 -> 0.0, 2.0 -> 0.0, 3.0 -> 1.0, 4.0 -> 1.0)) == 1.0)
    // everything tied -> 0.5
    assert(auc(Seq(5.0 -> 0.0, 5.0 -> 0.0, 5.0 -> 1.0, 5.0 -> 1.0)) == 0.5)
    // cases {2,3}, ctrls {1,3}: wins 1 + 1, tie 0.5 -> 2.5/4 = 0.625
    assert(auc(Seq(1.0 -> 0.0, 3.0 -> 0.0, 2.0 -> 1.0, 3.0 -> 1.0)) == 0.625)
    // inverted scores -> 0.0
    assert(auc(Seq(3.0 -> 0.0, 4.0 -> 0.0, 1.0 -> 1.0, 2.0 -> 1.0)) == 0.0)
    // partition invariance on a larger random-ish frame
    val rows = (1 to 200).map(i => (((i * 37) % 50).toDouble, (i % 3 == 0).compareTo(false).toDouble))
    val df = rows.map { case (x, y) => ("d", x, y) }.toDF("dependent", "x", "y")
    val a1 = operators.Mas.aucFrame(df.repartition(1)).collect().head.getAs[Double]("auc")
    val a8 = operators.Mas.aucFrame(df.repartition(8)).collect().head.getAs[Double]("auc")
    assert(a1 == a8)
  }

  test("mcnemarExact matches exact BigInt binomial tails and hand values") {
    def choose(n: Int, k: Int): BigInt =
      (BigInt(1) to BigInt(k)).foldLeft(BigInt(1))((a, i) => a * (n - (i.toInt - 1)) / i)
    def exact(b: Int, c: Int): Double = {
      val n = b + c
      val tail = (0 to math.min(b, c)).map(choose(n, _)).sum
      val p = BigDecimal(2 * tail) / BigDecimal(BigInt(2).pow(n))
      math.min(1.0, p.toDouble)
    }
    for ((b, c) <- Seq((5, 1), (0, 5), (12, 4), (7, 7), (1, 0), (20, 9))) {
      val got = operators.Association.mcnemarExact(b, c)
      assert(math.abs(got - exact(b, c)) < 1e-9, s"($b,$c): $got vs ${exact(b, c)}")
    }
    // hand values: (5,1) -> 2*(1+6)/64 = 0.21875; (0,5) -> 2/32
    assert(math.abs(operators.Association.mcnemarExact(5, 1) - 0.21875) < 1e-12)
    assert(math.abs(operators.Association.mcnemarExact(0, 5) - 0.0625) < 1e-12)
    // symmetric table and the no-discordant-pairs degenerate clamp at 1
    assert(operators.Association.mcnemarExact(3, 3) == 1.0)
    assert(operators.Association.mcnemarExact(0, 0) == 1.0)
    // beyond the small-sample contract: NaN, not a throw
    assert(operators.Association.mcnemarExact(10000001L, 0).isNaN)
  }
}
