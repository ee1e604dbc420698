package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Preprocess
import graft.functions.Numerics

class PreprocessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("2").appName("prep-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("selectColumns handles names, i:N, i:start-end, i:start- and errors") {
    val sess = spark
    import sess.implicits._
    val df = Seq((1, 2, 3, 4, 5)).toDF("a", "b", "c", "d", "e")
    assert(Preprocess.selectColumns(df, "a,i:2,e").columns.toSeq == Seq("a", "c", "e"))
    assert(Preprocess.selectColumns(df, "i:1-3").columns.toSeq == Seq("b", "c"))
    assert(Preprocess.selectColumns(df, "i:2-").columns.toSeq == Seq("c", "d", "e"))
    intercept[IllegalArgumentException](Preprocess.selectColumns(df, "nope"))
    intercept[IllegalArgumentException](Preprocess.selectColumns(df, "i:9"))
    intercept[IllegalArgumentException](Preprocess.selectColumns(df, "i:1-9"))
    for (bad <- Seq("i:4-2", "i:2-2", "i:-3", "i:a-b", "i:1-2-3", "i:"))
      assert(intercept[IllegalArgumentException](Preprocess.selectColumns(df, bad))
        .getMessage.contains(s"'$bad'"), bad)
  }

  test("p22 date features agree with java.time for every row at sf0.001") {
    val out = Preprocess.p22DateFeatures(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val d = java.time.LocalDate.parse(r.getString(1))
      assert(r.getInt(2) == d.getYear)
      assert(r.getInt(3) == (d.getMonthValue - 1) / 3 + 1)
      assert(r.getInt(4) == d.getMonthValue)
      assert(r.getInt(5) == d.getDayOfMonth)
      assert(r.getInt(6) == d.getDayOfWeek.getValue - 1) // ISO, 0 = Monday
      assert(r.getBoolean(7) == (d.getDayOfWeek.getValue >= 6))
      assert(r.getInt(8) == d.toEpochDay)
    }
  }

  test("woeEncode: hand-computed two-level table with Haldane smoothing") {
    val sess = spark
    import sess.implicits._
    // level A: 3 pos / 1 neg; level B: 1 pos / 3 neg; G = B = 4
    val df = (Seq.fill(3)(("A", 1.0)) ++ Seq(("A", 0.0)) ++
      Seq(("B", 1.0)) ++ Seq.fill(3)(("B", 0.0))).toDF("cat", "y")
    val out = operators.Preprocess.woeEncode(df, "cat", "y").collect()
      .map(r => r.getString(0) -> r).toMap
    val wA = math.log((3.5 / 4.0) / (1.5 / 4.0))
    assert(out("A").getAs[Long]("n_pos") == 3L && out("A").getAs[Long]("n_neg") == 1L)
    assert(math.abs(out("A").getAs[Double]("woe") - wA) < 1e-12)
    assert(math.abs(out("A").getAs[Double]("iv") -
      ((3.5 / 4.0) - (1.5 / 4.0)) * wA) < 1e-12)
    // symmetric table: woe_B = -woe_A; iv contributions equal
    assert(math.abs(out("A").getAs[Double]("woe") + out("B").getAs[Double]("woe")) < 1e-12)
    assert(math.abs(out("A").getAs[Double]("iv") - out("B").getAs[Double]("iv")) < 1e-12)
  }

  test("targetEncodeOof: hand-computed two-fold table, own fold excluded, prior leaves fold out") {
    val sess = spark
    import sess.implicits._
    // level A: fold0 = {1,1}, fold1 = {0};  level B: fold0 = {0}, fold1 = {1,0}
    val df = Seq(
      ("A", 1.0, 0), ("A", 1.0, 0), ("A", 0.0, 1),
      ("B", 0.0, 0), ("B", 1.0, 1), ("B", 0.0, 1)).toDF("cat", "y", "fold")
    val out = operators.Preprocess.targetEncodeOof(df, "cat", "y", "fold", smoothing = 2.0)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    // enc(A, fold0): oof sum = 0 (A-fold1), oof cnt = 1;
    // prior_0 = mean of fold1 rows = (0 + 1 + 0) / 3 = 1/3
    // enc = (0 + 2*(1/3)) / (1 + 2) = 2/9
    val a0 = out(("A", 0))
    assert(a0.getAs[Long]("n_fold") == 2L && a0.getAs[Long]("n_oof") == 1L)
    assert(math.abs(a0.getAs[Double]("enc") - 2.0 / 9.0) < 1e-12)
    // enc(A, fold1): oof sum = 2, cnt = 2; prior_1 = fold0 mean
    // (rows A(1), A(1), B(0)) = 2/3; enc = (2 + 2*(2/3)) / (2 + 2)
    val a1 = out(("A", 1))
    assert(math.abs(a1.getAs[Double]("enc") - (2.0 + 2.0 * (2.0 / 3.0)) / 4.0) < 1e-12)
    // enc(B, fold0): oof = B-fold1 {1,0} sum 1 cnt 2; prior_0 = 1/3
    val b0 = out(("B", 0))
    assert(math.abs(b0.getAs[Double]("enc") - (1.0 + 2.0 / 3.0) / 4.0) < 1e-12)
  }

  test("rint produces Blom-offset normal quantiles with exact ranks") {
    val sess = spark
    import sess.implicits._
    val n = 101
    // values are a shuffled permutation; rank of value v is v+1
    val rows = (0 until n).map(i => ((i * 37) % n).toLong -> ((i * 37) % n).toDouble)
    val df = rows.toDF("id", "v")
    val out = Preprocess.rint(df, "v", "id").collect()
      .map(r => r.getAs[Long]("rank") -> r.getAs[Double]("rint")).toMap
    assert(out.size == n)
    // median rank 51 -> qnorm(~0.5) = 0
    assert(math.abs(out(51L) - Numerics.qnorm((51 - 0.375) / (n + 0.25))) < 1e-12)
    assert(math.abs(out(51L)) < 0.01)
    // symmetric tails
    assert(math.abs(out(1L) + out(n.toLong)) < 1e-9)
    assert(out(1L) < -2.0 && out(n.toLong) > 2.0)
  }

  test("backward fill mirrors forward fill reversed") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, 1L, Some(10.0)), (1L, 2L, None), (1L, 3L, None), (1L, 4L, Some(40.0)),
      (2L, 1L, None), (2L, 2L, Some(5.0))
    ).toDF("g", "t", "v")
    val fwd = Preprocess.fillDirectional(df, Seq("v"), forward = true, Seq("g"), Seq("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> Option(r.get(2))).toMap
    assert(fwd((1L, 3L)).contains(10.0))
    assert(fwd((2L, 1L)).isEmpty) // nothing before -> stays null
    val bwd = Preprocess.fillDirectional(df, Seq("v"), forward = false, Seq("g"), Seq("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> Option(r.get(2))).toMap
    assert(bwd((1L, 2L)).contains(40.0))
    assert(bwd((2L, 1L)).contains(5.0))
  }

  test("scaleMinMax maps extremes to 0/1 and preserves order") {
    val sess = spark
    import sess.implicits._
    val df = Seq((1L, -4.0), (2L, 0.0), (3L, 6.0), (4L, 1.0)).toDF("id", "v")
    val got = Preprocess.scaleMinMax(df, Seq("v")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.0 && got(3L) == 1.0)
    assert(math.abs(got(2L) - 0.4) < 1e-12 && math.abs(got(4L) - 0.5) < 1e-12)
  }

  test("dropConstant removes only zero-variance columns") {
    val sess = spark
    import sess.implicits._
    val df = Seq((1, 7, "x"), (2, 7, "y"), (3, 7, "x")).toDF("a", "b", "c")
    val out = Preprocess.dropConstant(df, Seq("a", "b", "c"))
    assert(out.columns.toSeq == Seq("a", "c"))
    // the min/max predicate drops exactly what constantReport's distinct
    // count marks dropped, on every edge of Spark's double ordering
    val nan = Double.NaN
    val edges = Seq[(Option[Double], Option[Double], Option[Double], Option[Double],
        Option[String], Option[String], Option[Double])](
      (Some(nan), Some(nan), Some(0.0), None, Some("x"), Some("x"), Some(1.0)),
      (Some(nan), Some(1.0), Some(-0.0), None, Some("y"), None, Some(1.0)),
      (None, Some(nan), Some(0.0), None, Some("x"), Some("x"), None))
      .toDF("nan_only", "nan_value", "zeros", "all_null", "s2", "s1", "one_value")
    val cols = edges.columns.toSeq
    val report = Preprocess.constantReport(edges, cols).collect()
      .map(r => r.getAs[String]("col_name") -> r.getAs[Boolean]("dropped")).toMap
    assert(report == Map("nan_only" -> true, "nan_value" -> false, "zeros" -> true,
      "all_null" -> true, "s2" -> false, "s1" -> true, "one_value" -> true))
    assert(Preprocess.dropConstant(edges, cols).columns.toSeq == cols.filterNot(report))
  }

  test("Pipeline keeps and fills each covariate as the reference fill and constantReport say") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{avg, coalesce, col, lit, max, min}
    import org.apache.spark.sql.types._
    val nan = Double.NaN
    val columns = Seq[(String, DataType, Seq[Any])](
      ("nan_only", DoubleType, Seq(nan, null, nan, nan, null, nan, nan, nan)),
      ("nan_value", DoubleType, Seq(nan, 2.5, null, 2.5, nan, null, 2.5, 2.5)),
      ("zeros", DoubleType, Seq(0.0, -0.0, null, 0.0, -0.0, null, 0.0, 0.0)),
      ("all_null", DoubleType, Seq.fill(8)(null)),
      // three copies of 0.1 average to 0.10000000000000002
      ("one_value", DoubleType, Seq(null, 0.1, 0.1, null, 0.1, null, null, null)),
      ("two_values", DoubleType, Seq(1.0, null, 2.0, 1.0, null, 2.0, 1.0, 2.0)),
      ("str", StringType, Seq("a", null, "b", "a", "b", null, "a", "b")))
    val schema = StructType(Seq(StructField("id", LongType), StructField("x", DoubleType),
      StructField("d1", DoubleType)) ++ columns.map(c => StructField(c._1, c._2)))
    val rows = (0 until 8).map(i =>
      Row.fromSeq(Seq[Any](i.toLong, i * 0.5, (i % 2).toDouble) ++ columns.map(_._3(i))))
    val raw = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val stats = Map[String, org.apache.spark.sql.Column => org.apache.spark.sql.Column](
      "mean" -> (c => avg(c)), "min" -> (c => min(c)), "max" -> (c => max(c)))

    /** The strategy's fill of `c` done independently of the pipeline,
      * or the error the pipeline must raise instead. */
    def reference(df: org.apache.spark.sql.DataFrame, c: String, s: String) = {
      val string = df.schema(c).dataType == StringType
      val nulls = df.filter(col(c).isNull).count()
      s match {
        case "fail" if nulls > 0 => Left("covariate column '" + c + "'")
        case "fail" => Right(df)
        case "drop" => Right(df.na.drop(Seq(c)))
        case "zero" | "one" if string => Right(df)
        case "zero" => Right(df.withColumn(c, coalesce(col(c), lit(0.0))))
        case "one" => Right(df.withColumn(c, coalesce(col(c), lit(1.0))))
        case st if stats.contains(st) && string => Left(s"string column '$c' with its $st")
        case st if stats.contains(st) =>
          val v = df.agg(stats(st)(col(c))).head().get(0)
          Right(df.withColumn(c, coalesce(col(c), lit(v))))
        case dir => Right(Preprocess.fillDirectional(df, Seq(c), dir == "forward", Nil, Seq("id")))
      }
    }
    def values(df: org.apache.spark.sql.DataFrame, c: String): Seq[String] =
      df.orderBy("id").select(col("id"), col(c)).collect().toSeq.map(_.toSeq.mkString(":"))
    for (s <- Seq("fail", "drop", "zero", "one", "mean", "min", "max", "forward", "backward");
        (c, _, _) <- columns;
        df <- if (s == "fail") Seq(raw, raw.na.drop(Seq(c))) else Seq(raw)) {
      val tag = s"$s $c ${df.count()} rows"
      val cfg = GraftConfig(input = "", predictors = "x", dependents = "d1", covariates = c,
        missingCovariateValues = s, orderCol = "id")
      val expected = reference(df, c, s).map { filled =>
        val kept = Preprocess.constantReport(filled, Seq(c)).head().getAs[Long]("n_unique") > 1
        (filled, kept)
      }
      expected match {
        case Right((_, true)) if df.schema(c).dataType == StringType =>
          val msg = intercept[IllegalArgumentException](Pipeline.preprocess(df, cfg)).getMessage
          assert(msg.contains(s"'$c' holds strings"), s"$tag: $msg")
        case Right((filled, kept)) =>
          val (out, assocCfg) = Pipeline.preprocess(df, cfg)
          assert(assocCfg.covariates.contains(c) == kept, tag)
          if (kept) assert(values(out, c) == values(filled, c), tag)
          else assert(values(out, "id") == values(filled, "id"), tag)
        case Left(error) =>
          val msg = intercept[IllegalArgumentException](Pipeline.preprocess(df, cfg)).getMessage
          assert(msg.contains(error), s"$tag: $msg")
      }
    }
  }

  test("the profile's levels are the distinct collect of the filled column under every fill") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{avg, coalesce, col, lit, max, min}
    import org.apache.spark.sql.types._
    val nan = Double.NaN
    val columns = Seq[(String, DataType, Seq[Any])](
      ("s3", StringType, Seq("b", "a", "c", "a", "b", "c", "a", "b", "c")),
      ("s3n", StringType, Seq("b", null, "c", "a", "b", null, "a", "b", "c")),
      ("i4", IntegerType, Seq(1, 2, 3, 5, 1, 2, 3, 5, 5)),
      ("i4n", IntegerType, Seq(1, null, 3, 5, 1, 2, null, 5, 5)),
      // -0.0 and 0.0 are one level, NaN is one
      ("dz", DoubleType, Seq(-0.0, 0.0, 1.5, nan, null, 1.5, -0.0, nan, 2.0)))
    val schema = StructType(Seq(StructField("id", LongType), StructField("x", DoubleType),
      StructField("d1", DoubleType)) ++ columns.map(c => StructField(c._1, c._2)))
    val rows = (0 until 9).map(i =>
      Row.fromSeq(Seq[Any](i.toLong, i * 0.5, (i % 2).toDouble) ++ columns.map(_._3(i))))
    val raw = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val stats = Map[String, org.apache.spark.sql.Column => org.apache.spark.sql.Column](
      "mean" -> (c => avg(c)), "min" -> (c => min(c)), "max" -> (c => max(c)))
    /** The frame the encoding reads levels from (the strategy's fill
      * done independently of the profile), or the error the profile
      * raises instead; then the levels as a distinct collect reads them. */
    def filled(c: String, s: String): Either[String, org.apache.spark.sql.DataFrame] = {
      val t = raw.schema(c).dataType
      s match {
        case "fail" => Right(raw)
        case "drop" => Right(raw.na.drop(Seq(c)))
        case "zero" | "one" if t == StringType => Right(raw)
        case "zero" | "one" => Right(raw.withColumn(c,
          coalesce(col(c), lit(if (s == "zero") 0.0 else 1.0).cast(t))))
        case st if t == StringType => Left(s"string column '$c' with its $st")
        case st =>
          val r = raw.agg(stats(st)(col(c))).head()
          Right(raw.withColumn(c, coalesce(col(c), lit(r.get(0)).cast(r.schema(0).dataType))))
      }
    }
    def distinctCollect(df: org.apache.spark.sql.DataFrame, c: String): Seq[String] =
      df.select(col(c)).filter(col(c).isNotNull).distinct().collect().map(_.get(0).toString)
        .sorted.toSeq
    for (s <- Seq("fail", "drop", "zero", "one", "mean", "min", "max"); (c, _, _) <- columns) {
      val tag = s"$s $c"
      // the pipeline fills drop/zero/one before profiling, mean/min/max in it
      val pre = s match {
        case "drop" | "zero" | "one" => Preprocess.fillNulls(raw, Seq(c), s)
        case _ => raw
      }
      filled(c, s) match {
        case Right(df) =>
          val levels = Preprocess.profile(pre, Seq(c), s, Seq(c)).levels(c)
          assert(levels == distinctCollect(df, c), tag)
        case Left(error) =>
          val msg = intercept[IllegalArgumentException](
            Preprocess.profile(pre, Seq(c), s, Seq(c))).getMessage
          assert(msg.contains(error), s"$tag: $msg")
      }
    }
    // the mean fill of an int column is a double: its levels print as one
    assert(Preprocess.profile(raw, Seq("i4n"), "mean", Seq("i4n")).levels("i4n") ==
      Seq("1.0", "2.0", "3.0", "3.142857142857143", "5.0"))
  }

  test("oneHot leaves <=2-level columns untouched") {
    val sess = spark
    import sess.implicits._
    val df = Seq((1, "M"), (2, "F"), (3, "M")).toDF("id", "sex")
    val out = Preprocess.oneHot(df, Seq("sex"))
    assert(out.columns.toSeq == Seq("id", "sex"))
  }
  test("oneHot fails fast on a high-cardinality column instead of collecting it") {
    val sess = spark
    import sess.implicits._
    val df = sess.range(Preprocess.MaxOneHotLevels + 1L)
      .selectExpr("id", "cast(id as string) as subject_id")
    val e = intercept[IllegalArgumentException] {
      Preprocess.oneHot(df, Seq("subject_id"))
    }
    assert(e.getMessage.contains("distinct levels"))
    assert(e.getMessage.contains("subject_id"))
  }
  test("quantilesExact is partition-invariant and interpolates like a local sort") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(5)
    val vals = Array.fill(501)(rng.nextDouble() * 200 - 100)
    val df = vals.toSeq.toDF("v")
    val qs = Seq(0.1, 0.5, 0.9)
    def run(parts: Int) =
      Preprocess.quantilesExact(df.repartition(parts), "v", qs)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val a = run(1); val b = run(7)
    assert(a == b)
    // local oracle: sorted array + linear interpolation at (n-1)q
    val sorted = vals.sorted
    qs.foreach { q =>
      val p = (vals.length - 1) * q
      val lo = sorted(math.floor(p).toInt); val hi = sorted(math.ceil(p).toInt)
      val expect = lo + (p - math.floor(p)) * (hi - lo)
      assert(math.abs(a(q) - expect) < 1e-12, s"q=$q")
    }
  }

  test("scaleRobust centers on the median, scales by IQR, nulls degenerate cols") {
    val sess = spark
    import sess.implicits._
    // 0..100: median 50, IQR 75-25=50
    val df = (0 to 100).map(i => (i.toLong, i.toDouble, 7.0)).toDF("id", "v", "const")
    val out = Preprocess.scaleRobust(df, Seq("v", "const"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out(50L)._1 == Some(0.0))
    assert(out(100L)._1 == Some(1.0))
    assert(out(0L)._1 == Some(-1.0))
    assert(out(10L)._2.isEmpty) // IQR = 0 -> null, not a division error
  }

  test("clipQuantiles clamps to the exact cuts and passes nulls through") {
    val sess = spark
    import sess.implicits._
    // 0..100: 5% cut = 5.0, 95% cut = 95.0 exactly (no interpolation)
    val df = ((0 to 100).map(i => (i.toLong, Some(i.toDouble))) :+ (999L, None))
      .toDF("id", "v")
    val out = Preprocess.clipQuantiles(df, "v", 0.05, 0.95)
      .collect().map(r => r.getLong(0) -> Option(r.get(r.fieldIndex("v_clipped")))).toMap
    assert(out(0L) == Some(5.0) && out(3L) == Some(5.0))   // below lo -> lo
    assert(out(50L) == Some(50.0))                          // inside -> unchanged
    assert(out(98L) == Some(95.0) && out(100L) == Some(95.0)) // above hi -> hi
    assert(out(999L).isEmpty)                               // null stays null
    intercept[IllegalArgumentException] {
      Preprocess.clipQuantiles(df, "v", 0.9, 0.1)
    }
  }

  test("quantileBin assigns balanced equal-frequency bins; nulls stay null") {
    val sess = spark
    import sess.implicits._
    // 1..8, k=4: cuts at 2.75 / 4.5 / 6.25 -> bins {1,2}=0 {3,4}=1 {5,6}=2 {7,8}=3
    val df = ((1 to 8).map(i => (i.toLong, Some(i.toDouble))) :+ (99L, None))
      .toDF("id", "v")
    val out = Preprocess.quantileBin(df, "v", 4).collect()
      .map(r => r.getLong(0) -> Option(r.get(r.fieldIndex("v_bin")))).toMap
    assert(out(1L) == Some(0) && out(2L) == Some(0))
    assert(out(3L) == Some(1) && out(4L) == Some(1))
    assert(out(5L) == Some(2) && out(6L) == Some(2))
    assert(out(7L) == Some(3) && out(8L) == Some(3))
    assert(out(99L).isEmpty)
    intercept[IllegalArgumentException](Preprocess.quantileBin(df, "v", 1))
  }

  test("yeoJohnson: limit forms, sign branches, and λ=1 identity shift") {
    val sess = spark
    import sess.implicits._
    val df = Seq((1L, 3.0), (2L, -3.0), (3L, 0.0)).toDF("id", "y")
    def run(l: Double): Map[Long, Double] =
      Preprocess.yeoJohnson(df, Seq("y"), l).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // λ=0: ln(y+1) for y>=0; -(pow(1-y,2)-1)/2 for y<0
    val l0 = run(0.0)
    assert(math.abs(l0(1L) - math.log(4.0)) < 1e-12)
    assert(math.abs(l0(2L) - -(math.pow(4.0, 2) - 1) / 2) < 1e-12)
    // λ=2: (pow(y+1,2)-1)/2 for y>=0; -ln(1-y) for y<0
    val l2 = run(2.0)
    assert(math.abs(l2(1L) - (math.pow(4.0, 2) - 1) / 2) < 1e-12)
    assert(math.abs(l2(2L) - -math.log(4.0)) < 1e-12)
    // λ=1 is the identity on both branches; ψ(0,λ)=0 for every λ
    val l1 = run(1.0)
    assert(math.abs(l1(1L) - 3.0) < 1e-12 && math.abs(l1(2L) - -3.0) < 1e-12)
    Seq(l0, l1, l2).foreach(m => assert(m(3L) == 0.0))
  }

  test("rcsBasis: hand truncated-cube values at knots {0,1,2,3}, exact tail linearity") {
    val sess = spark
    import sess.implicits._
    // 7 sorted values [0,1,2,3,5,6,7]; probs i/6 for i=0..3 put the
    // type-7 knots EXACTLY at 0,1,2,3 (integer positions, no interp)
    val df = Seq(0.0, 1.0, 2.0, 3.0, 5.0, 6.0, 7.0).toDF("x")
    val out = Preprocess.rcsBasis(df, "x",
        probs = Seq(0.0, 1.0 / 6, 2.0 / 6, 3.0 / 6))
      .collect().map(r => r.getDouble(0) ->
        (r.getAs[Double]("rcs2"), r.getAs[Double]("rcs3"))).toMap
    // knots (0,1,2,3): nrm=9, ratios a1=3,b1=2 (j=0), a2=2,b2=1 (j=1)
    // rcs2(x) = ((x)+³ − 3(x−2)+³ + 2(x−3)+³)/9 ; rcs3 shifts by 1
    def p3(d: Double) = if (d > 0) d * d * d else 0.0
    def rcs2(x: Double) = (p3(x) - 3 * p3(x - 2) + 2 * p3(x - 3)) / 9
    def rcs3(x: Double) = (p3(x - 1) - 2 * p3(x - 2) + 1 * p3(x - 3)) / 9
    Seq(0.0, 1.0, 2.0, 3.0, 5.0, 6.0, 7.0).foreach { x =>
      assert(math.abs(out(x)._1 - rcs2(x)) < 1e-9, s"rcs2($x)")
      assert(math.abs(out(x)._2 - rcs3(x)) < 1e-9, s"rcs3($x)")
    }
    // spot the closed forms: rcs2(3)=24/9, rcs3(3)=6/9
    assert(math.abs(out(3.0)._1 - 24.0 / 9) < 1e-9)
    assert(math.abs(out(3.0)._2 - 6.0 / 9) < 1e-9)
    // NATURAL spline: beyond the last knot the basis is LINEAR —
    // the x³/x² terms cancel by construction; rcs2 = 2x − 10/3 there,
    // so the second difference over {5,6,7} vanishes
    val d2 = out(7.0)._1 - 2 * out(6.0)._1 + out(5.0)._1
    assert(math.abs(d2) < 1e-9)
    assert(math.abs(out(5.0)._1 - (2 * 5.0 - 10.0 / 3)) < 1e-9)
    // degenerate knots refuse
    intercept[IllegalArgumentException] {
      Preprocess.rcsBasis(Seq(1.0, 1.0, 1.0, 1.0).toDF("x"), "x",
        probs = Seq(0.0, 0.25, 0.5, 0.75))
    }
  }

  test("vif flags collinear covariates, two-column case matches 1/(1-r^2)") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(31)
    val rows = (0 until 2000).map { _ =>
      val x1 = rng.nextGaussian()
      val x2 = rng.nextGaussian()
      // x3 nearly collinear with x1 + x2
      (x1, x2, x1 + x2 + 0.05 * rng.nextGaussian())
    }
    val df = rows.toDF("x1", "x2", "x3")
    val v = Preprocess.vif(df, Seq("x1", "x2", "x3")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // independents stay moderate, the near-collinear column blows up
    assert(v("x3") > 10.0, s"collinear VIF ${v("x3")}")
    assert(v("x1") > 1.0 && v("x2") > 1.0)
    // two-column closed form: both VIFs are 1/(1-r^2)
    val two = Preprocess.vif(df, Seq("x1", "x3")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val r = df.agg(org.apache.spark.sql.functions.corr($"x1", $"x3")).head().getDouble(0)
    val expect = 1.0 / (1.0 - r * r)
    assert(math.abs(two("x1") - expect) < 5e-4 && math.abs(two("x3") - expect) < 5e-4)
    // independent pair: VIF ~= 1
    val ind = Preprocess.vif(df, Seq("x1", "x2")).collect().map(_.getDouble(1))
    assert(ind.forall(x => x >= 1.0 && x < 1.05))
  }

  test("quantileNormalize: hand micro-example, distribution identity, tie determinism") {
    val sess = spark
    import sess.implicits._
    // hand example (2 cols x 3 rows, no ties):
    //   a: 5, 2, 3  -> ranks 3, 1, 2
    //   b: 4, 1, 6  -> ranks 2, 1, 3
    // rank means: r1 = (2+1)/2 = 1.5, r2 = (3+4)/2 = 3.5, r3 = (5+6)/2 = 5.5
    val df = Seq((1L, 5.0, 4.0), (2L, 2.0, 1.0), (3L, 3.0, 6.0)).toDF("id", "a", "b")
    val out = Preprocess.quantileNormalize(df, Seq("a", "b"), "id").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L) == ((5.5, 3.5)) && out(2L) == ((1.5, 1.5)) && out(3L) == ((3.5, 5.5)))
    // defining property on real-ish data: every column's sorted
    // normalized values are IDENTICAL
    val rng = new scala.util.Random(11)
    val big = (1L to 500L).map(i =>
      (i, rng.nextGaussian(), 10 + 3 * rng.nextGaussian(), rng.nextInt(7).toDouble))
      .toDF("id", "x", "y", "z")
    val qn = Preprocess.quantileNormalize(big, Seq("x", "y", "z"), "id").collect()
    def sortedCol(i: Int) = qn.map(_.getDouble(i)).sorted.toSeq
    assert(sortedCol(1) == sortedCol(2) && sortedCol(2) == sortedCol(3))
    // tie determinism (z has heavy ties): repartitioning changes nothing
    val qn8 = Preprocess.quantileNormalize(big.repartition(8), Seq("x", "y", "z"), "id")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val qn1 = qn.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(qn1 == qn8)
  }

  test("pcaTop: analytic 2-var eigenpair, dominant-direction recovery, invariance") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(47)
    val rows = (0 until 4000).map { _ =>
      val z = rng.nextGaussian()
      (z + 0.3 * rng.nextGaussian(), z + 0.3 * rng.nextGaussian(),
        rng.nextGaussian())
    }
    val df = rows.toDF("a", "b", "c")
    // 2-var: corr matrix [[1,r],[r,1]] has top eigenpair
    // lambda = 1 + |r|, v = (1,1)/sqrt(2) (r > 0 here)
    val two = Preprocess.pcaTop(df, Seq("a", "b")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val r = df.agg(org.apache.spark.sql.functions.corr($"a", $"b")).head().getDouble(0)
    assert(math.abs(two("a")._2 - (1.0 + r)) < 5e-4, s"eigenvalue ${two("a")._2} vs ${1 + r}")
    val s2 = 1.0 / math.sqrt(2.0)
    assert(math.abs(two("a")._1 - s2) < 5e-4 && math.abs(two("b")._1 - s2) < 5e-4)
    // 3-var: the correlated pair dominates the top PC, the
    // independent column loads near zero; sign pinned to loading(a)>=0
    val three = Preprocess.pcaTop(df, Seq("a", "b", "c")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(three("a") > 0.6 && three("b") > 0.6 && math.abs(three("c")) < 0.15, three.toString)
    // explained fraction = eigenvalue / k, and partition invariance
    val full = Preprocess.pcaTop(df, Seq("a", "b", "c")).collect()
    assert(full.forall(r => math.abs(r.getDouble(3) - r.getDouble(2) / 3) < 1e-3))
    // corr is Welford-merged (partition-order-dependent in the last
    // ulps) but quantized to 1e-6 BEFORE iterating — outputs agree to
    // the half-quantum tolerance across partitionings
    val r1 = Preprocess.pcaTop(df.repartition(1), Seq("a", "b", "c")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val r8 = Preprocess.pcaTop(df.repartition(8), Seq("a", "b", "c")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(r1.keySet == r8.keySet &&
      r1.forall { case (k2, x) => math.abs(x - r8(k2)) < 2e-4 })
  }

  test("vifGauss: fixed-order elimination equals the breeze/LAPACK inverse at k=5; collinear pivot errors") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(41)
    val rows = (0 until 3000).map { _ =>
      val x1 = rng.nextGaussian()
      val x2 = rng.nextGaussian()
      val x3 = rng.nextGaussian()
      // x4/x5 correlated mixtures so the 5x5 inverse is non-diagonal
      (x1, x2, x3, 0.8 * x1 + 0.3 * x2 + 0.4 * rng.nextGaussian(),
        0.6 * x2 - 0.5 * x3 + 0.5 * rng.nextGaussian())
    }
    val df = rows.toDF("x1", "x2", "x3", "x4", "x5")
    val cols = Seq("x1", "x2", "x3", "x4", "x5")
    // same quantized inputs -> the 4-dp outputs must agree exactly
    // (elimination vs LAPACK differ only in ulps)
    val g = Preprocess.vifGauss(df, cols).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = Preprocess.vif(df, cols).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    cols.foreach { c => assert(g(c) == b(c), s"$c: gauss ${g(c)} vs breeze ${b(c)}") }
    assert(g("x4") > 1.2 && g("x5") > 1.2) // the mixtures inflate
    // DUPLICATE column: corr quantizes to exactly 1.0, the two matrix
    // rows are bitwise identical, elimination zeroes the third pivot
    // to ulps -> error, not garbage
    val colin = rows.map(r => (r._1, r._2, r._2))
      .toDF("x1", "x2", "x3")
    val ex = intercept[Exception] {
      Preprocess.vifGauss(colin, Seq("x1", "x2", "x3")).collect()
    }
    assert(ex.getMessage.contains("collinear") || ex.getCause != null)
  }

  test("vif and vifGauss on a constant column name the pair, in ANSI and in legacy mode") {
    val sess = spark
    import sess.implicits._
    val df = (0 until 50).map(i => (i.toDouble, (i * 7 % 11).toDouble, 3.0)).toDF("a", "b", "k")
    // ANSI mode divides by the zero variance; legacy mode gives a null corr
    val ansi = "spark.sql.ansi.enabled"
    val saved = spark.conf.get(ansi)
    try for (mode <- Seq("true", "false"); (name, run) <- Seq[(String, Seq[String] => Any)](
        "vif" -> (c => Preprocess.vif(df, c)), "vifGauss" -> (c => Preprocess.vifGauss(df, c)))) {
      spark.conf.set(ansi, mode)
      val ex = intercept[IllegalArgumentException](run(Seq("a", "b", "k")))
      assert(ex.getMessage.contains(s"$name: corr(a, k) is undefined"), s"ansi $mode: ${ex.getMessage}")
      assert(ex.getMessage.contains("constant column"), ex.getMessage)
    } finally spark.conf.set(ansi, saved)
  }
}
