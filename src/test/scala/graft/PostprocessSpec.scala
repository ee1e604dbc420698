package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Postprocess

class PostprocessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("2").appName("post-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("stoufferMeta: hand-computed weighted Z, direction cancellation, failed fits dropped") {
    val sess = spark
    import sess.implicits._
    // cohorts 0 and 1: n = 100, 150 -> w = 10, sqrt(150)
    val df = Seq(
      // test 1: z = 2.0 and 1.0, same direction
      (1L, 0L, Some(1.0), Some(0.5)), (1L, 1L, Some(0.25), Some(0.25)),
      // test 2: equal-weight cohorts, opposite z -> exact cancellation
      (2L, 0L, Some(1.0), Some(0.5)), (2L, 0L, Some(-1.0), Some(0.5)),
      // test 3: one failed fit (null se) + one live cohort
      (3L, 1L, Some(0.5), None), (3L, 0L, Some(1.5), Some(0.5)))
      .toDF("test_id", "cohort", "beta", "se")
    val out = Postprocess.stoufferMeta(df, Seq("test_id")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val w0 = 10.0; val w1 = math.sqrt(150.0)
    val z1 = (w0 * 2.0 + w1 * 1.0) / math.sqrt(w0 * w0 + w1 * w1)
    assert(out(1L)._1 == 2L)
    assert(math.abs(out(1L)._2 - math.rint(z1 * 1e4) / 1e4) < 1e-9)
    // same-weight opposite evidence cancels to Z = 0, p = 1 (tail at 0
    // is 2*phi(0)*poly(1) on the A&S approximation -> ~0.9999-1.0)
    assert(out(2L)._2 == 0.0 && out(2L)._3 > 0.99)
    // the failed fit contributes nothing: k = 1, z = beta/se / 1
    assert(out(3L)._1 == 1L && math.abs(out(3L)._2 - 3.0) < 1e-9)
    // p decreases as |Z| grows
    assert(out(3L)._3 < out(1L)._3 && out(1L)._3 < out(2L)._3)
  }

  test("BH adjusted p-values match the hand-computed step-up values") {
    val sess = spark
    import sess.implicits._
    // classic example: m=5, sorted p = .01 .02 .03 .04 .05
    // adj_i = min tail of (m*p_j/j): .05 .05 .05 .05 .05
    val df = Seq(1 -> 0.01, 2 -> 0.02, 3 -> 0.03, 4 -> 0.04, 5 -> 0.05).toDF("k", "pval")
    val out = Postprocess.bhFdr(df).collect()
      .map(r => r.getAs[Int]("k") -> r.getAs[Double]("p_adj")).toMap
    (1 to 5).foreach(k => assert(math.abs(out(k) - 0.05) < 1e-12, s"k=$k ${out(k)}"))
    // non-monotone raw ratios: p = .01 .05 .051 -> ratios .03 .075 .051
    // step-up: adj3=.051, adj2=min(.075,.051)=.051, adj1=.03
    val df2 = Seq(1 -> 0.01, 2 -> 0.05, 3 -> 0.051).toDF("k", "pval")
    val out2 = Postprocess.bhFdr(df2).collect()
      .map(r => r.getAs[Int]("k") -> r.getAs[Double]("p_adj")).toMap
    assert(math.abs(out2(1) - 0.03) < 1e-12)
    assert(math.abs(out2(2) - 0.051) < 1e-12)
    assert(math.abs(out2(3) - 0.051) < 1e-12)
  }

  test("qqCoordinates pairs ascending ranks with (rank-0.5)/m expected p") {
    val sess = spark
    import sess.implicits._
    val df = Seq(1 -> 0.3, 2 -> 0.1, 3 -> 0.2, 4 -> 0.2).toDF("k", "pval")
    val out = Postprocess.qqCoordinates(df, "pval", Seq("k")).collect()
      .map(r => r.getAs[Int]("k") -> r.getAs[Double]("expected_p")).toMap
    // ascending (pval, k): k=2 (.1), k=3 (.2), k=4 (.2), k=1 (.3)
    assert(out(2) == 0.5 / 4 && out(3) == 1.5 / 4)
    assert(out(4) == 2.5 / 4 && out(1) == 3.5 / 4)
    // zero / null pvals are excluded (log10 domain)
    val out2 = Postprocess.qqCoordinates(
      Seq(Some(0.0), None, Some(0.5)).toDF("pval")).collect()
    assert(out2.length == 1 && out2(0).getDouble(1) == 0.5)
  }

  test("bonferroni counts only non-null pvals for the threshold") {
    val sess = spark
    import sess.implicits._
    val df = Seq(Some(0.004), Some(0.02), None, Some(0.9), Some(0.011))
      .zipWithIndex.map(_.swap).toDF("k", "pval")
    // 4 non-null tests -> threshold .0125
    val out = Postprocess.bonferroni(df).collect()
      .map(r => r.getAs[Int]("k") -> Option(r.getAs[java.lang.Boolean]("bonferroni_significant"))).toMap
    assert(out(0).contains(true: java.lang.Boolean))
    assert(out(1).contains(false: java.lang.Boolean))
    assert(out(2).isEmpty) // null pval -> null flag
    assert(out(4).contains(true: java.lang.Boolean))
  }

  test("onDriver equals bonferroni, annotate and orderBy: NaN/null pvals, ties, odd def keys") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    // pval: null, NaN, ties, and -0.0 equal to 0.0: the three rows at
    // zero sort by name in UTF-8 byte order, y < U+FF5A < U+1F600 (in
    // UTF-16 the surrogate pair sorts before U+FF5A; if -0.0 sorted
    // before 0.0, U+1F600 would come first). Dependent keys with a
    // duplicate def, with no def and null
    val pvals = Seq[java.lang.Double](null, 0.0, -0.0, 0.0, 0.01, 0.01, 0.5, null,
      Double.NaN, 1e-9, 0.01, 0.2)
    val preds = Seq("x", "\uff5a", "\ud83d\ude00", "y", null, "\u00e9", "x", "y", "x", "y", "y", "x")
    val deps = Seq("008", "250.2", "008", "250.2", "401.1", null, "999", "008", "401.1",
      "250.2", "008", "401.1")
    val results = spark.createDataFrame(java.util.Arrays.asList(pvals.indices.map(i =>
      Row(preds(i), deps(i), pvals(i), i.toDouble, if (i % 3 == 0) null else s"r$i")): _*),
      StructType(Seq(StructField("predictor", StringType), StructField("dependent", StringType),
        StructField("pval", DoubleType), StructField("beta", DoubleType),
        StructField("failed_reason", StringType))))
    // "008" twice (fans out), "401.1" absent, a null key and a key that
    // only the flipwas join meets
    val defs = spark.createDataFrame(java.util.Arrays.asList(
      Row("008", "Intestinal infection", "Both", "infectious", "1"),
      Row("008", "Intestinal infection (dup)", "Both", "infectious", "1"),
      Row("250.2", "Type 2 diabetes", "Both", "endocrine", "3"),
      Row(null, "no key", "Both", "none", "0"),
      Row("x", "a predictor", "Male", "flip", "9")),
      StructType(Seq("phecode", "phenotype", "sex", "category", "category_number")
        .map(StructField(_, StringType))))
    def canon(r: Row): String = r.toSeq.map(String.valueOf).mkString("|")
    for ((name, annotation) <- Seq("plain" -> None, "phewas" -> Some("dependent"),
        "flipwas" -> Some("predictor"))) {
      val spark0 = annotation.foldLeft(Postprocess.bonferroni(results))((df, on) =>
        Postprocess.annotate(df, defs, on, "phecode"))
        .orderBy(col("pval"), col("predictor"), col("dependent"))
      val local = Postprocess.onDriver(results, annotation.map(_ => defs),
        annotation.getOrElse("dependent"))
      assert(local.schema.map(f => (f.name, f.dataType)) == spark0.schema.map(f => (f.name, f.dataType)),
        name)
      val (a, b) = (local.collect(), spark0.collect())
      def key(r: Row) = Seq("pval", "predictor", "dependent").map(c => String.valueOf(r.getAs[Any](c)))
      assert(a.map(key).toSeq == b.map(key).toSeq, name)
      assert(a.filter(r => !r.isNullAt(2) && r.getDouble(2) == 0.0).map(_.getString(0)).distinct
        .toSeq == Seq("y", "\uff5a", "\ud83d\ude00"), name)
      assert(a.map(canon).sorted.toSeq == b.map(canon).sorted.toSeq, name)
      if (name == "phewas") assert(a.length > results.count(), "a duplicate key fans out")
    }
  }

  test("sortAndWrite emits all four formats") {
    val sess = spark
    import sess.implicits._
    val df = Seq(1 -> 0.5, 2 -> 0.1, 3 -> 0.9).toDF("k", "pval")
    val base = Files.createTempDirectory("graft_s04_spec").toString
    for (fmt <- Seq("parquet", "csv", "tsv", "txt")) {
      val sorted = Postprocess.sortAndWrite(df, s"$base/$fmt", fmt, "pval", Seq("k"))
      assert(sorted.collect().map(_.getAs[Int]("k")).toSeq == Seq(2, 1, 3))
    }
    val back = spark.read.parquet(s"$base/parquet")
    assert(back.count() == 3)
    val tsvLine = scala.io.Source.fromFile(
      new java.io.File(s"$base/tsv").listFiles().filter(_.getName.endsWith(".csv")).head)
      .getLines().drop(1).next()
    assert(tsvLine.contains("\t"))
    intercept[IllegalArgumentException](Postprocess.sortAndWrite(df, s"$base/x", "xlsx"))
  }

  test("lambdaGC is ~1 on uniform p-values and >1 on inflated ones") {
    val sess = spark
    import sess.implicits._
    val n = 2001
    // symmetric uniform grid: median p = 0.5 -> median chi2 = qchisq(.5,1)
    val uniform = (1 to n).map(i => i.toDouble / (n + 1)).toDF("pval")
    val lam = Postprocess.lambdaGC(uniform).head().getDouble(1)
    assert(math.abs(lam - 1.0) < 0.005, s"lambda=$lam")
    // squaring each p (stochastically smaller = inflated tests) -> lambda > 1
    val inflated = (1 to n).map { i =>
      val p = i.toDouble / (n + 1); p * p
    }.toDF("pval")
    val lamInf = Postprocess.lambdaGC(inflated).head().getDouble(1)
    assert(lamInf > 1.5, s"inflated lambda=$lamInf")
  }

  test("gcCorrect: lambda from median chi2, p_adj matches independent erfc tail, uniform is identity") {
    val sess = spark
    import sess.implicits._
    import graft.functions.Numerics
    def tail(x: Double) = Numerics.erfc(x / math.sqrt(2.0)) // 2(1-Phi(x))
    // inflated set: median chi2 = qnorm(0.9)^2 = 1.642374 -> lambda 3.610558
    val df = Seq(1L -> 0.1, 2L -> 0.2, 3L -> 0.3).toDF("o_orderkey", "pval")
    val out = Postprocess.gcCorrect(df).orderBy("o_orderkey").collect()
    val lam = out(0).getAs[Double]("lambda_used")
    val zz = Numerics.qnorm(0.9); val expLam = zz * zz / 0.45493642311957283
    assert(math.abs(lam - expLam) < 2e-6, s"lambda $lam vs $expLam")
    out.foreach { r =>
      val p = r.getAs[Double]("pval")
      val z = Numerics.qnorm(1.0 - p / 2.0)
      val expAdj = tail(math.sqrt(z * z / lam))
      // Zelen-Severo |eps| < 7.5e-8, plus the 6-dp output rounding
      assert(math.abs(r.getAs[Double]("p_adj") - expAdj) < 1e-6,
        s"p=$p p_adj=${r.getAs[Double]("p_adj")} want $expAdj")
      // chi2_adj = chi2 / lambda on the rounded grid
      assert(math.abs(r.getAs[Double]("chi2_adj") - z * z / lam) < 1e-4)
      // correction only weakens significance when lambda > 1
      assert(r.getAs[Double]("p_adj") >= p - 1e-6)
    }
    // deflated set (median chi2 below qchisq(.5,1)): lambda clamps to 1
    // and the corrected p returns the original (within tail approx)
    val df2 = Seq(1L -> 0.5, 2L -> 0.6, 3L -> 0.7).toDF("o_orderkey", "pval")
    val out2 = Postprocess.gcCorrect(df2).orderBy("o_orderkey").collect()
    assert(out2.forall(_.getAs[Double]("lambda_used") == 1.0))
    out2.foreach { r =>
      assert(math.abs(r.getAs[Double]("p_adj") - r.getAs[Double]("pval")) < 1e-5)
    }
    // p_adj monotone in p
    val ps = out.map(_.getAs[Double]("p_adj"))
    assert(ps.sameElements(ps.sorted))
  }

  test("bhFdrByGroup: each group is its own BH universe, equal to per-group bhFdr") {
    val sess = spark
    import sess.implicits._
    // group 1: the classic all-.05 example; group 2: the non-monotone
    // case — per-group answers must match running bhFdr on each group
    // alone (m is the GROUP size, not the study size)
    val df = Seq((1, 1, 0.01), (2, 1, 0.02), (3, 1, 0.03), (4, 1, 0.04),
      (5, 1, 0.05), (6, 2, 0.01), (7, 2, 0.05), (8, 2, 0.051))
      .toDF("k", "grp", "pval")
    val out = Postprocess.bhFdrByGroup(df, "pval", "grp", "k").collect()
      .map(r => r.getAs[Int]("k") -> r.getAs[Double]("p_adj_g")).toMap
    (1 to 5).foreach(k => assert(math.abs(out(k) - 0.05) < 1e-12, s"k=$k"))
    assert(math.abs(out(6) - 0.03) < 1e-12)
    assert(math.abs(out(7) - 0.051) < 1e-12)
    assert(math.abs(out(8) - 0.051) < 1e-12)
    // null p-values are excluded from the group count
    val withNull = df.union(Seq((9, 1, Double.NaN)).toDF("k", "grp", "pval")
      .withColumn("pval", org.apache.spark.sql.functions.lit(null)
        .cast("double")))
    val out2 = Postprocess.bhFdrByGroup(withNull, "pval", "grp", "k")
      .collect().map(r => r.getAs[Int]("k") -> r.getAs[Double]("p_adj_g")).toMap
    assert(out2.size == 8 && (1 to 5).forall(k => math.abs(out2(k) - 0.05) < 1e-12))
  }

  test("s17 top hits are exactly the 3 smallest-p rows of each s16 group") {
    val dir = "/root/testdata/sf0.001"
    val full = Postprocess.s16GroupFdr(spark, dir).collect()
    val top = Postprocess.s17TopHits(spark, dir).collect()
    val expected = full
      .filter(!_.isNullAt(2))
      .groupBy(_.getInt(1)).toSeq
      .flatMap { case (g, rows) =>
        rows.sortBy(r => (r.getDouble(2), r.getLong(0))).take(3).zipWithIndex
          .map { case (r, i) => (g, i + 1, r.getLong(0), r.getDouble(2), r.getDouble(3)) }
          .toSeq
      }.toSet
    val got = top.map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(got == expected && got.size == 21)
  }

  test("weightedBh: equal weights reduce to plain BH; up-weighting lowers the adjusted p") {
    val sess = spark
    import sess.implicits._
    val ps = Seq(0.001, 0.008, 0.039, 0.041, 0.2, 0.5, 0.9)
    val df = ps.zipWithIndex.map { case (p, i) => (i.toLong, p, 1.0) }
      .toDF("id", "pval", "w")
    val wbh = operators.Postprocess.weightedBh(df, "pval", "w").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("p_adj_w")).toMap
    val bh = operators.Postprocess.bhFdr(df, "pval").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("p_adj")).toMap
    ps.indices.foreach(i =>
      assert(math.abs(wbh(i.toLong) - bh(i.toLong)) < 1e-12, s"id $i"))
    // up-weight hypothesis 3 (p = 0.041): its weighted p drops, its
    // adjusted value can only improve; down-weighted ones can only
    // worsen (monotone direction of the GRW construction)
    val df2 = ps.zipWithIndex.map { case (p, i) =>
      (i.toLong, p, if (i == 3) 4.0 else 0.5) }.toDF("id", "pval", "w")
    val w2 = operators.Postprocess.weightedBh(df2, "pval", "w").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("p_adj_w")).toMap
    assert(w2(3L) <= bh(3L) + 1e-12)
    assert(w2(6L) >= bh(6L) - 1e-12)
    // weights normalize to mean 1: sum of w_norm == m
    val wn = operators.Postprocess.weightedBh(df2, "pval", "w").collect()
      .map(_.getAs[Double]("w_norm")).sum
    assert(math.abs(wn - ps.length) < 1e-9)
  }

  test("qvalues = pi0 x BH suffix-min, scaled BEFORE the clamp") {
    val sess = spark
    import sess.implicits._
    // m=4, lambda=0.5: one p > 0.5 -> pi0 = 1/(4*0.5) = 0.5
    // BH raw m*p/rank: .004 .004 .004 .7 -> q = .002 .002 .002 .35
    val df = Seq(0.001, 0.002, 0.003, 0.7).toDF("pval")
    val out = Postprocess.qvalues(df, "pval")
      .collect().map(r => r.getDouble(0) -> r.getDouble(r.fieldIndex("q_value"))).toMap
    assert(out.values.forall(_ > 0))
    assert(math.abs(out(0.001) - 0.002) < 1e-12)
    assert(math.abs(out(0.002) - 0.002) < 1e-12)
    assert(math.abs(out(0.003) - 0.002) < 1e-12)
    assert(math.abs(out(0.7) - 0.35) < 1e-12)
    // all-null-ish corpus (every p large): pi0 clamps at 1, q == BH p_adj
    val nullish = Seq(0.6, 0.7, 0.8, 0.9).toDF("pval")
    val q = Postprocess.qvalues(nullish, "pval").collect()
      .map(r => r.getDouble(0) -> r.getDouble(r.fieldIndex("q_value"))).toMap
    val padj = Postprocess.bhFdr(nullish, "pval").collect()
      .map(r => r.getDouble(0) -> r.getDouble(r.fieldIndex("p_adj"))).toMap
    assert(q.forall { case (p, v) => math.abs(v - padj(p)) < 1e-12 })
  }

  test("metaAnalysis matches closed forms: pooling, Q, I2, failed-fit exclusion") {
    val sess = spark
    import sess.implicits._
    val results = Seq(
      // test A: two cohorts, equal weight (se=1) -> beta = mean, se = 1/sqrt(2)
      ("A", "c1", 0.4, Some(1.0)),
      ("A", "c2", 0.8, Some(1.0)),
      // test B: precise and noisy cohorts DISAGREE -> pool leans
      // precise, heterogeneity is real (Q >> k-1)
      ("B", "c1", 0.2, Some(0.1)),
      ("B", "c2", 2.0, Some(0.5)),
      // test C: single cohort (after its null-se twin is excluded)
      ("C", "c1", -0.5, Some(0.25)),
      ("C", "c2", 9.9, None)
    ).toDF("test_id", "cohort", "beta", "se")
    val out = Postprocess.metaAnalysis(results, Seq("test_id")).collect()
      .map(r => r.getString(0) -> r).toMap
    def f(t: String, c: String) = out(t).getAs[Double](c)
    assert(out("A").getAs[Long]("k_cohorts") == 2)
    assert(math.abs(f("A", "beta_fe") - 0.6) < 1e-9)
    assert(math.abs(f("A", "se_fe") - 1.0 / math.sqrt(2)) < 5e-5)
    // A: Q = w1(b1-b)^2 + w2(b2-b)^2 = 0.04 + 0.04 = 0.08; I2 = 0 (Q < k-1)
    assert(math.abs(f("A", "q_stat") - 0.08) < 5e-5)
    assert(f("A", "i2") == 0.0)
    // B closed form: w = (100, 4) -> beta = (100*0.2 + 4*2.0)/104
    val bB = (100.0 * 0.2 + 4.0 * 2.0) / 104.0
    assert(math.abs(f("B", "beta_fe") - bB) < 5e-5)
    assert(math.abs(f("B", "se_fe") - 1.0 / math.sqrt(104.0)) < 5e-5)
    val qB = 100.0 * math.pow(0.2 - bB, 2) + 4.0 * math.pow(2.0 - bB, 2)
    assert(math.abs(f("B", "q_stat") - qB) < 5e-4)
    assert(math.abs(f("B", "i2") - (qB - 1) / qB) < 5e-4) // heterogeneous
    // C: failed fit excluded -> k=1, Q=0, I2=0, pooled == the lone cohort
    assert(out("C").getAs[Long]("k_cohorts") == 1)
    assert(math.abs(f("C", "beta_fe") - -0.5) < 1e-9)
    assert(f("C", "q_stat") == 0.0 && f("C", "i2") == 0.0)
    assert(math.abs(f("C", "z") - -0.5 / 0.25) < 5e-4)
  }

  test("byFdr: equals BH times the harmonic number before the clamp, more conservative") {
    val sess = spark
    import sess.implicits._
    val df = (1 to 20).map(i => (i.toLong, i / 100.0)).toDF("id", "pval")
    val by = Postprocess.byFdr(df, "pval").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val bh = Postprocess.bhFdr(df, "pval").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val h = (1 to 20).map(1.0 / _).sum
    (1 to 20).foreach { i =>
      // BY = min(1, H_m * unclamped BH suffix-min); where BH is
      // unclamped (all of this table), BY = min(1, H * BH)
      assert(math.abs(by(i.toLong) - math.min(1.0, h * bh(i.toLong))) < 1e-12)
      assert(by(i.toLong) >= bh(i.toLong)) // strictly more conservative
    }
    // hand value: ranks=ids here, m=20 -> suffix-min at i=20 is 0.2*20/20=0.2
    assert(math.abs(by(20L) - math.min(1.0, h * 0.2)) < 1e-12)
  }

  test("randomEffectsMeta: DL closed forms — homogeneous tau2=0, hand tau2, k=1, widening") {
    val sess = spark
    import sess.implicits._
    val results = Seq(
      // H: homogeneous (identical betas) -> Q=0, tau2=0, equals FE
      ("H", "c1", 1.0, Some(1.0)), ("H", "c2", 1.0, Some(1.0)),
      // D: betas 0/2, se=1 -> Q=2, tau2=(2-1)/(2-2/2)=1,
      //    w*=1/2 each -> beta_re=1, se_re=1 (FE would be 0.7071)
      ("D", "c1", 0.0, Some(1.0)), ("D", "c2", 2.0, Some(1.0)),
      // S: single valid cohort -> tau2=0, beta_re=beta, se_re=se
      ("S", "c1", -0.5, Some(0.25)), ("S", "c2", 9.9, None)
    ).toDF("test_id", "cohort", "beta", "se")
    val out = Postprocess.randomEffectsMeta(results, Seq("test_id")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(out("H") == ((2L, 0.0, 1.0, math.floor(math.sqrt(0.5) * 1e4 + 0.5) / 1e4)))
    assert(out("D")._2 == 1.0 && out("D")._3 == 1.0 && out("D")._4 == 1.0)
    assert(out("S") == ((1L, 0.0, -0.5, 0.25)))
    // heterogeneity WIDENS the interval vs fixed-effect
    val fe = Postprocess.metaAnalysis(results, Seq("test_id")).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("se_fe")).toMap
    assert(out("D")._4 > fe("D"))
  }

  test("manhattan assigns contiguous x by (category, tie-break) and -log10 heights") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      // (id, category, pval) — category 1 before 2; within a
      // category, the id tie-break orders
      (3, 2, 0.001), (1, 1, 0.1), (2, 1, 0.01),
      (4, 2, 1.0e-8), (5, 1, 0.0), (6, 2, Double.NaN))
      .toDF("id", "cat", "pval")
      .withColumn("pval", org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.isnan($"pval"), null).otherwise($"pval"))
    val out = Postprocess.manhattan(df, "pval", "cat", Seq("id")).collect()
      .map(r => r.getAs[Int]("id") -> r).toMap
    // p = 0 and null rows are excluded (log10 domain)
    assert(out.keySet == Set(1, 2, 3, 4))
    assert(out(1).getAs[Long]("x") == 1 && out(2).getAs[Long]("x") == 2)
    assert(out(3).getAs[Long]("x") == 3 && out(4).getAs[Long]("x") == 4)
    assert(math.abs(out(2).getAs[Double]("nlp") - 2.0) < 1e-12)
    assert(math.abs(out(4).getAs[Double]("nlp") - 8.0) < 1e-12)
  }

  test("icdToPhecode maps via the catalog, counts distinct dates, fans out multi-maps") {
    val sess = spark
    import sess.implicits._
    val diag = Seq(
      // person 1: D1 on two distinct days (case), plus an unmapped code
      (1L, "D1", "2020-01-01"), (1L, "D1", "2020-01-02"), (1L, "ZZZ", "2020-01-03"),
      // person 2: D1 twice on the SAME day (count 1 -> control)
      (2L, "D1", "2020-02-01"), (2L, "D1", "2020-02-01"),
      // person 3: D9 maps to TWO phecodes -> both rows appear
      (3L, "D9", "2020-03-01"))
      .toDF("person_id", "icd", "date")
    val icdMap = Seq(("D1", "100"), ("D9", "200.1"), ("D9", "999"))
      .toDF("icd", "phecode")
    val out = graft.operators.Mas.icdToPhecode(diag, icdMap).collect()
      .map(r => (r.getAs[Long]("person_id"), r.getAs[String]("phecode")) ->
        (r.getAs[Long]("n_dates"), r.getAs[Boolean]("is_case"))).toMap
    assert(out.size == 4) // ZZZ dropped; D9 fans out to two phecodes
    assert(out((1L, "100")) == ((2L, true)))
    assert(out((2L, "100")) == ((1L, false)))
    assert(out((3L, "200.1")) == ((1L, false)))
    assert(out((3L, "999")) == ((1L, false)))
  }

  test("s11 runs on the bundled real-code catalog: 401.1->401.1, unmapped drop, flag override") {
    // the bundled catalog is REAL codes (Phecode Map layout): the
    // canonical hypertension row must be present verbatim
    val map = spark.read.option("header", "true")
      .csv(graft.operators.Mas.IcdMapSubsetPath)
    val rows = map.collect().map(r =>
      (r.getAs[String]("icd"), r.getAs[String]("flag"), r.getAs[String]("phecode")))
    assert(rows.contains(("401.1", "9", "401.1")))   // ICD-9 essential HTN
    assert(rows.contains(("I10", "10", "401.1")))    // its ICD-10 twin
    assert(rows.contains(("E11.9", "10", "250.2")))  // type 2 diabetes
    val mapped = rows.map(_._3).toSet
    val out = graft.operators.Mas.s11IcdPhecode(spark, "/root/testdata/sf0.001")
    val got = out.collect()
    assert(got.nonEmpty)
    val phecodes = got.map(_.getAs[String]("phecode")).toSet
    // every emitted phecode comes from the catalog; indices past the
    // catalog (UNMAPPED_*) were dropped by the inner join
    assert(phecodes.subsetOf(mapped))
    // the event_id % 100 index sweep covers the whole catalog, so the
    // hypertension phecode is assigned to someone
    assert(phecodes.contains("401.1"))
    // flag override: the synthetic layout-test file still runs through
    // the same path and yields ITS phecodes, none of the real ones
    spark.conf.set("spark.graft.icdMapPath", graft.operators.Mas.IcdMapPath)
    try {
      val syn = graft.operators.Mas.s11IcdPhecode(spark, "/root/testdata/sf0.001")
        .collect().map(_.getAs[String]("phecode")).toSet
      assert(syn.nonEmpty && syn.intersect(Set("401.1", "250.2")).isEmpty)
    } finally spark.conf.unset("spark.graft.icdMapPath")
  }
}
