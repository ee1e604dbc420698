package graft.operators

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType, StringType, StructField,
  StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** The wide-frame paths of `Association.assoc`: column blocks against
  * the long-format entry, block and partition invariance, the block
  * count rule, collinear covariates on the wide and the long route,
  * linear partition invariance, all-null columns on every chunk path,
  * and the column-batch packer against the row loop. */
class BlockFitSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("2").appName("block-fit-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val parityDeps =
    Seq("d_common", "d_sparse", "d_allcase", "d_null", "d_sex", "d_nan", "d_str")

  /** Every degenerate shape the per-pair fitter distinguishes: a sparse
    * code, an all-cases code, an all-null dependent, a sex-specific
    * code (sex is constant within its pair), nulls in a predictor and
    * a covariate, a NaN dependent value and a string-typed numeric
    * dependent. */
  private def parityCohort: DataFrame = {
    val rng = new scala.util.Random(17)
    val rows = (0 until 300).map { i =>
      val x = rng.nextGaussian()
      val x2 = rng.nextGaussian()
      val z1 = rng.nextGaussian()
      val sex = i % 2
      val p = 1.0 / (1.0 + math.exp(-(1.1 * x - 0.4)))
      def bin(q: Double): Double = if (rng.nextDouble() < q) 1.0 else 0.0
      val common = bin(p)
      val strDep = bin(0.4)
      Row(i,
        if (i % 17 == 5) null else x,
        x2,
        if (i % 23 == 7) null else z1,
        sex.toDouble,
        common,
        if (i % 100 == 3) 1.0 else 0.0,
        1.0,
        null,
        if (sex == 0) null else bin(0.3),
        if (i == 11) Double.NaN else bin(0.5),
        if (i % 29 == 2) null else if (strDep == 1.0) "1.0" else "0")
    }
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("x", DoubleType),
      StructField("x2", DoubleType), StructField("z1", DoubleType),
      StructField("sex", DoubleType)) ++
      parityDeps.map(d => StructField(d, if (d == "d_str") StringType else DoubleType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def byPair(df: DataFrame): Map[(String, String), Row] =
    df.collect().map(r => (r.getAs[String]("predictor"), r.getAs[String]("dependent")) -> r).toMap

  /** One string per row, sorted: doubles as their bits, or rounded to
    * `dp` places when finite. */
  private def canon(df: DataFrame, dp: Option[Int] = None): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => dp.filter(_ => !d.isNaN && !d.isInfinite) match {
        case Some(n) => BigDecimal(d).setScale(n, BigDecimal.RoundingMode.HALF_UP).toString
        case None => java.lang.Double.doubleToLongBits(d).toString
      }
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq

  test("wide column blocks equal binary(melt(wide)) on every degenerate pair shape") {
    val df = parityCohort
    for (model <- Seq("firth", "logistic"); minCase <- Seq(0, 5)) {
      val cfg = Association.Config(Seq("x", "x2"), parityDeps, Seq("z1", "sex"),
        model = model, minCaseCount = minCase)
      val wide = byPair(Association.assoc(df, cfg))
      val long = byPair(Association.binary(Association.melt(df, cfg), cfg))
      assert(wide.keySet == long.keySet && wide.size == 2 * parityDeps.size)
      for ((pair, w) <- wide) {
        val l = long(pair)
        val tag = s"$model min=$minCase $pair"
        for (c <- Seq("cases", "controls", "total_n"))
          assert(w.getAs[Long](c) == l.getAs[Long](c), s"$tag $c")
        for (c <- Seq("converged", "failed_reason", "equation"))
          assert(w.getAs[Any](c) == l.getAs[Any](c), s"$tag $c")
        for (c <- Seq("pval", "beta", "se", "OR", "ci_low", "ci_high")) {
          val (a, b) = (w.getAs[Double](c), l.getAs[Double](c))
          assert((a.isNaN && b.isNaN) || a == b || math.abs(a - b) <= 1e-9, s"$tag $c: $a vs $b")
        }
      }
      // the shapes really are distinct: each gate and the reduced design show up
      val reasons = wide.values.map(_.getAs[String]("failed_reason")).toSet
      assert(reasons.contains("No data after dropping nulls."), s"$model $minCase")
      if (minCase == 0) assert(reasons.contains("All observations are cases."))
      else {
        assert(reasons.exists(_.startsWith("Insufficient case count")))
        assert(reasons.exists(_.startsWith("Insufficient control count")))
      }
      val sexEq = wide(("x", "d_sex")).getAs[String]("equation")
      assert(sexEq == "d_sex ~ x + z1", sexEq)
      assert(wide(("x", "d_common")).getAs[Long]("total_n") < 300)
    }
  }

  test("block count and input partitioning do not change the rows") {
    val rng = new scala.util.Random(3)
    val nDeps = 13
    val deps = (0 until nDeps).map(j => s"d$j")
    val rows = (0 until 240).map { i =>
      val x = rng.nextGaussian()
      val z = rng.nextGaussian()
      Row((Seq[Any](i, if (i % 19 == 4) null else x, z) ++ deps.indices.map { j =>
        if ((i + j) % 31 == 0) null
        else if (rng.nextDouble() < 1.0 / (1.0 + math.exp(-(0.3 * j * x - 0.8)))) 1.0 else 0.0
      }): _*)
    }
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("x", DoubleType),
      StructField("z", DoubleType)) ++ deps.map(StructField(_, DoubleType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(3)
      .localCheckpoint()
    val cfg = Association.Config(Seq("x"), deps, Seq("z"), minCaseCount = 5)
    val one = canon(Association.binaryBlocks(df, cfg, Some(1)))
    assert(one.size == nDeps)
    assert(canon(Association.binaryBlocks(df, cfg, Some(7))) == one)
    assert(canon(Association.binaryBlocks(df, cfg, Some(nDeps))) == one)
    // partitioning reorders rows, so sums differ in the last bits only
    val p1 = canon(Association.binaryBlocks(df.repartition(1), cfg, Some(4)), Some(4))
    assert(canon(Association.binaryBlocks(df.repartition(5), cfg, Some(4)), Some(4)) == p1)
    assert(canon(Association.binaryBlocks(df, cfg, Some(4)), Some(4)) == p1)
    // flipwas shape: the predictors are the blocked axis
    val flip = Association.Config(Seq("x", "z", "d5"), Seq("d1", "d2"),
      model = "logistic", minCaseCount = 5)
    val f1 = canon(Association.binaryBlocks(df, flip, Some(1)))
    assert(f1.size == 6)
    for (b <- Seq(2, 3)) assert(canon(Association.binaryBlocks(df, flip, Some(b))) == f1)
  }

  test("assoc deals a block per input partition when they outnumber the cores") {
    // 12 input partitions, 13 dependents, 2 cores: B = min(13, max(2, 12))
    val rng = new scala.util.Random(37)
    val deps = (0 until 13).map(j => s"d$j")
    val rows = (0 until 360).map { _ =>
      val x = rng.nextGaussian()
      Row((Seq[Any](x, rng.nextGaussian()) ++ deps.indices.map { j =>
        if (rng.nextDouble() < 1.0 / (1.0 + math.exp(-(0.2 * j * x - 0.6)))) 1.0 else 0.0
      }): _*)
    }
    val schema = StructType((Seq("x", "z") ++ deps).map(StructField(_, DoubleType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(12)
      .localCheckpoint()
    assert(df.rdd.getNumPartitions == 12 && spark.sparkContext.defaultParallelism == 2)
    val cfg = Association.Config(Seq("x"), deps, Seq("z"), minCaseCount = 5)
    val sc = spark.sparkContext
    val blockStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val blockTasks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "ShuffledRDD")) blockStages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (blockStages.contains(e.stageId) && e.taskInfo.successful) blockTasks.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val rule = try {
      val out = Association.assoc(df, cfg)
      org.apache.spark.ListenerBusDrain(sc)
      out
    } finally sc.removeSparkListener(listener)
    assert(blockStages.size == 1 && blockTasks.get == 12, s"${blockTasks.get} block tasks")
    assert(canon(rule) == canon(Association.binaryBlocks(df, cfg, Some(4))))
  }

  test("the block fit runs exactly one shuffle") {
    val df = parityCohort
    val cfg = Association.Config(Seq("x"), parityDeps, Seq("z1"), minCaseCount = 5)
    def shuffles(rdd: RDD[_]): Int = rdd.dependencies.map {
      case s: ShuffleDependency[_, _, _] => 1 + shuffles(s.rdd)
      case d => shuffles(d.rdd)
    }.sum
    assert(shuffles(Association.blockFits(df, cfg, Some(3))) == 1)
  }

  test("collinear covariates: both routes fail the pair with its counts and equation") {
    // z2 = 2·z1 exactly, so X'WX is exactly singular on the wide and the
    // long route; neither covariate is constant, so neither drops one
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(23)
    val wide = (0 until 500).map { i =>
      val x = rng.nextGaussian()
      val z1 = rng.nextGaussian()
      val a = if (rng.nextDouble() < 1.0 / (1.0 + math.exp(-(0.7 * x - 0.3)))) 1.0 else 0.0
      (x, z1, 2.0 * z1, a, if (i % 3 == 0) 1.0 else 0.0)
    }.toDF("x", "z1", "z2", "dep_a", "dep_b")
    for (model <- Seq("firth", "logistic")) {
      val cfg = Association.Config(Seq("x"), Seq("dep_a", "dep_b"), Seq("z1", "z2"),
        model = model, minCaseCount = 5)
      def byDep(df: DataFrame): Map[String, Row] =
        df.collect().map(r => r.getAs[String]("dependent") -> r).toMap
      val inTask = byDep(Association.assoc(wide, cfg))
      for ((route, rows) <- Seq(
          "long in-task" -> byDep(Association.binary(Association.melt(wide, cfg), cfg)));
          d <- Seq("dep_a", "dep_b")) {
        val (want, got) = (inTask(d), rows(d))
        val tag = s"$model $route $d"
        assert(want.getAs[String]("failed_reason") == "Singular information matrix.", tag)
        assert(want.getAs[String]("equation") == s"$d ~ x + z1 + z2", tag)
        assert(want.getAs[Long]("total_n") == 500L, tag)
        for (c <- Seq("failed_reason", "equation", "cases", "controls", "total_n", "converged"))
          assert(got.getAs[Any](c) == want.getAs[Any](c), s"$tag $c")
      }
    }
  }

  test("linear output is 4-dp identical at input partitions 1, 7 and 32") {
    val rng = new scala.util.Random(11)
    val deps = (0 until 6).map(j => s"y$j")
    val rows = (0 until 500).map { i =>
      val x = 1e5 + 50.0 * rng.nextGaussian()
      val (w, z) = (rng.nextGaussian(), rng.nextGaussian())
      Row((Seq[Any](if (i % 41 == 3) null else x, w, z, if (i % 2 == 0) 1.0 else 0.0) ++
        deps.indices.map { j =>
          if ((i + j) % 37 == 0) null
          else 3.0 * j * (x - 1e5) - w + 2.0 * z + rng.nextGaussian()
        }): _*)
    }
    val schema = StructType(Seq("x", "w", "z", "c").map(StructField(_, DoubleType)) ++
      deps.map(StructField(_, DoubleType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val cfg = Association.Config(Seq("x", "w"), deps, Seq("z", "c"), model = "linear",
      minCaseCount = 10)
    val runs = Seq(1, 7, 32).map(p => canon(Association.assoc(df.repartition(p), cfg), Some(4)))
    assert(runs.head.size == 2 * deps.size)
    assert(runs.forall(_ == runs.head), runs.map(_.take(2)))
  }

  test("the linear fold from shared sums gives the Welford fold's rows, n 25 to 100,000") {
    // nulls in x, y and a covariate; a predictor offset by 1e5; a
    // sex-specific y (sex is constant within its pairs; it keeps more
    // rows than it drops, so its sums are corrected, not refolded); a
    // y on one row in seven (folded from its own rows) and, in the
    // second covariate set, a covariate constant at 0.1. linear(melt)
    // folds each pair's rows one by one with GramState.add
    def cohort(n: Int): DataFrame = {
      val rng = new scala.util.Random(n)
      val rows = (0 until n).map { i =>
        val x = 1e5 + 50.0 * rng.nextGaussian()
        val (x2, z) = (rng.nextGaussian(), rng.nextGaussian())
        val sex = if (rng.nextDouble() < 0.6) 1.0 else 0.0
        val y = 0.02 * (x - 1e5) - x2 + 0.5 * z + 0.3 * sex + rng.nextGaussian()
        Row(if (i % 41 == 3) null else x, x2, if (i % 23 == 7) null else z, sex, 0.1,
          if (i % 37 == 0) null else y,
          if (sex == 0.0) null else 0.8 * x2 - 0.2 * z + rng.nextGaussian(),
          if (i % 13 == 5) null else z + 0.1 * rng.nextGaussian(),
          if (i % 7 == 0) x2 - z + rng.nextGaussian() else null)
      }
      val schema = StructType(Seq("x", "x2", "z", "sex", "c01", "y", "y_sex", "y2", "y_few")
        .map(StructField(_, DoubleType)))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }
    def rows(df: DataFrame): Map[(String, String), Seq[String]] =
      byPair(df).map { case (pair, r) =>
        pair -> (Seq("n_observations", "converged", "failed_reason", "equation")
          .map(c => String.valueOf(r.getAs[Any](c))) ++
          Seq("pval", "beta", "se").map { c =>
            val d = r.getAs[Double](c)
            if (d.isNaN) "NaN" else BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
          })
      }
    for (n <- Seq(25, 200, 5000, 100000); covs <- Seq(Seq("z", "sex"), Seq("z", "sex", "c01"))) {
      val df = cohort(n)
      val cfg = Association.Config(Seq("x", "x2"), Seq("y", "y_sex", "y2", "y_few"), covs,
        model = "linear", minCaseCount = 10)
      for (parts <- Seq(1, 7, 32)) {
        val wide = df.repartition(parts)
        val got = rows(Association.assoc(wide, cfg))
        val welford = rows(Association.linear(Association.melt(wide, cfg), cfg))
        assert(got.size == 8 && got == welford, s"n $n, covariates $covs, $parts partitions")
        if (n >= 200) assert(got(("x2", "y_sex"))(3) == "y_sex ~ x2 + z",
          s"n $n, $parts partitions: sex is constant within the pair")
      }
    }
  }

  test("an all-null dependent or predictor gives no-data rows on every chunk path") {
    val rng = new scala.util.Random(19)
    val rows = (0 until 400).map { _ =>
      val x = rng.nextGaussian()
      val z = rng.nextGaussian()
      Row(x, null, z, if (rng.nextDouble() < 1.0 / (1.0 + math.exp(-x))) 1.0 else 0.0, null)
    }
    val schema = StructType(Seq("x", "x_null", "z", "d_ok", "d_null")
      .map(StructField(_, DoubleType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val preds = Seq("x", "x_null")
    val deps = Seq("d_ok", "d_null")
    def check(route: String, out: DataFrame, count: String): Unit = {
      val got = byPair(out)
      assert(got.keySet == (for (p <- preds; d <- deps) yield (p, d)).toSet, route)
      for ((pair @ (p, d), r) <- got) {
        val reason = r.getAs[String]("failed_reason")
        if (p == "x" && d == "d_ok") assert(reason == "nan", s"$route $pair: $reason")
        else {
          assert(reason == "No data after dropping nulls.", s"$route $pair: $reason")
          assert(r.getAs[Long](count) == -9L, s"$route $pair $count")
          assert(r.getAs[String]("equation") == "nan", s"$route $pair")
        }
      }
    }
    check("linear", Association.assoc(df, Association.Config(preds, deps, Seq("z"),
      model = "linear", minCaseCount = 5)), "n_observations")
    for (model <- Seq("firth", "logistic")) {
      val cfg = Association.Config(preds, deps, Seq("z"), model = model, minCaseCount = 5)
      check(s"$model blocks", Association.assoc(df, cfg), "total_n")
    }
  }

  // ----------------------------------------------- the two packers

  private val batchDeps = (0 until 96).map(j => f"d$j%02d") ++ Seq("d_nan", "d_late")

  /** A parquet cohort of 5,000 rows in `files` files (so one file holds
    * two of the reader's 4,096-row batches): double, int, long and float
    * predictors, a 3-level string categorical, a covariate with nulls,
    * 96 binary dependents (dictionary-encoded unless `dictionary` is
    * off), one with NaN values, and `d_late`, non-null in the first
    * batch and mostly null in the second, whose null slots the reused
    * vector still holds first-batch values in. */
  private def batchCohort(files: Int, dictionary: Boolean): DataFrame = {
    val rng = new scala.util.Random(29)
    val rows = (0 until 5000).map { i =>
      val x = rng.nextGaussian()
      Row((Seq[Any](i, x, rng.nextInt(90), rng.nextLong() % 1000L, rng.nextFloat() * 3,
        Seq("A", "B", "C")(rng.nextInt(3)), rng.nextInt(70),
        if (i % 13 == 0) null else rng.nextGaussian()) ++ (0 until 96).map { j =>
          if ((i + j) % 41 == 0) null
          else if (rng.nextDouble() < 1.0 / (1.0 + math.exp(-(0.5 * x - 1.0 + j / 96.0)))) 1.0 else 0.0
        } ++ Seq(
          if (i % 97 == 5) Double.NaN else if (rng.nextDouble() < 0.4) 1.0 else 0.0,
          if (i >= 4096 && i % 3 != 0) null else if (rng.nextDouble() < 0.5) 1.0 else 0.0)): _*)
    }
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("x", DoubleType),
      StructField("x_int", IntegerType), StructField("x_long", LongType),
      StructField("x_float", FloatType), StructField("site", StringType),
      StructField("age", IntegerType), StructField("zh", DoubleType)) ++
      batchDeps.map(StructField(_, DoubleType)))
    val dir = java.nio.file.Files.createTempDirectory("graft_batches").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(files)
      .write.option("parquet.enable.dictionary", dictionary.toString).parquet(s"$dir/cohort.parquet")
    spark.read.parquet(s"$dir/cohort.parquet")
  }

  /** Whether [[Association.columnChunks]] copies `df` from column batches. */
  private def packsBatches(df: DataFrame, cfg: Association.Config): Boolean =
    org.apache.spark.sql.graftshim.ParquetBatches.unapply(df.select(
      (cfg.predictors ++ cfg.covariates ++ cfg.dependents).map(n =>
        org.apache.spark.sql.functions.col(s"`$n`").cast("double")): _*)
      .queryExecution.executedPlan).isDefined

  /** Both packers' chunks, value bits and null bitmaps, and each model's
    * rows, bit for bit. */
  private def assertPackersAgree(df: DataFrame, cfg: Association.Config, tag: String): Unit = {
    def chunks = Association.columnChunks(df, cfg).collect().sortBy(_.part).toSeq.map(c =>
      (c.part, c.n, c.values.toSeq.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits)),
        c.nulls.toSeq))
    val batch = chunks
    assert(batch.nonEmpty, tag)
    assert(batch == Association.rowLoop.withValue(true)(chunks), s"$tag: chunks differ")
    for (model <- Seq("firth", "logistic", "linear")) {
      val m = cfg.copy(model = model)
      assert(canon(Association.assoc(df, m)) ==
        Association.rowLoop.withValue(true)(canon(Association.assoc(df, m))), s"$tag $model")
    }
  }

  test("the column-batch packer gives the row loop's chunks and rows, bit for bit") {
    for ((files, dictionary) <- Seq((1, true), (1, false), (7, true), (32, true))) {
      val raw = batchCohort(files, dictionary)
      // a 3-level string categorical (one-hot cases), then a mean fill
      // (coalesces), each over int/long/float casts; the full width is
      // past the codegen field limit, six dependents are not
      for ((covariates, categoricals, strategy) <- Seq(("age,site,x_long,x_float", "site", "fail"),
          ("age,zh,x_long,x_float", "", "mean")); wide <- Seq(true, false)) {
        val deps = if (wide) batchDeps else batchDeps.takeRight(6)
        val tag = s"$files files, dictionary $dictionary, $strategy, ${deps.size} dependents"
        val (df, cfg) = graft.Pipeline.preprocess(raw, graft.GraftConfig(input = "",
          predictors = if (wide) "x" else "x,x_int", dependents = deps.mkString(","),
          covariates = covariates, categoricalCovariates = categoricals,
          missingCovariateValues = strategy, minCaseCount = 5))
        assert(packsBatches(df, cfg), tag)
        if (categoricals.nonEmpty) assert(cfg.covariates.contains("site_C"), tag)
        assertPackersAgree(df, cfg, tag)
      }
    }
  }

  test("a sex-filtered or tab-delimited cohort keeps the row loop and its rows") {
    val raw = batchCohort(2, dictionary = true)
    val deps = batchDeps.takeRight(6)
    val (filtered, cfg) = graft.Pipeline.preprocess(raw, graft.GraftConfig(input = "",
      predictors = "x", dependents = deps.mkString(","), covariates = "zh,x_int",
      missingCovariateValues = "drop", sexCol = "x_int", maleOnly = true, minCaseCount = 5))
    assert(!packsBatches(filtered, cfg))
    assertPackersAgree(filtered, cfg, "sex filter")
    val dir = java.nio.file.Files.createTempDirectory("graft_batches_tsv").toString
    raw.select((Seq("x", "zh", "age") ++ deps).map(org.apache.spark.sql.functions.col): _*)
      .coalesce(1).write.option("header", "true").option("delimiter", "\t").csv(s"$dir/out")
    val part = new java.io.File(s"$dir/out").listFiles().find(_.getName.endsWith(".csv")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/cohort.tsv"))
    val tsv = graft.sources.Sources.read(spark, s"$dir/cohort.tsv")
    val tcfg = Association.Config(Seq("x"), deps, Seq("zh", "age"), minCaseCount = 5)
    assert(!packsBatches(tsv, tcfg))
    assertPackersAgree(tsv, tcfg, "tsv")
  }
}
