package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("2").appName("pipeline-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def cohortDf = {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(5)
    (0 until 400).map { i =>
      val x = rng.nextGaussian()
      val z = rng.nextGaussian()
      val sex = i % 2
      val seg = Seq("A", "B", "C")(i % 3)
      val p = 1.0 / (1.0 + math.exp(-(1.2 * x - 1.0)))
      val d1 = if (rng.nextDouble() < p) 1.0 else 0.0
      val d2 = if (rng.nextDouble() < 0.3) 1.0 else 0.0
      (i, x, z, sex, seg, d1, d2, 7.0)
    }.toDF("id", "x", "z", "sex", "seg", "d1", "d2", "zconst")
  }

  test("end-to-end firth pipeline: select, one-hot, assoc, bonferroni, sort") {
    val out = Pipeline.run(cohortDf, GraftConfig(
      input = "", predictors = "x", dependents = "d1,d2",
      covariates = "z,zconst,seg", categoricalCovariates = "seg",
      model = "firth", minCaseCount = 10))
    val rows = out.collect()
    assert(rows.length == 2)
    val cols = out.columns.toSet
    assert(cols.contains("bonferroni_significant"))
    // one-hot: zconst dropped globally, seg expanded (first level dropped)
    val eq = rows.map(_.getAs[String]("equation")).mkString(" ")
    assert(!eq.contains("zconst"))
    assert(eq.contains("seg_B") && eq.contains("seg_C"))
    // sorted by pval: the strong d1 association first
    assert(rows.head.getAs[String]("dependent") == "d1")
    assert(rows.head.getAs[Double]("pval") < 1e-6)
    assert(rows.head.getAs[Double]("beta") > 0.5)
  }

  test("--phewas with no --phecode-defs annotates from the bundled public catalog") {
    val sess = spark
    import sess.implicits._
    // dependents named as real PheCodes from the v1.2 catalog
    val rng = new scala.util.Random(11)
    val df = (0 until 300).map { i =>
      val x = rng.nextGaussian()
      val p = 1.0 / (1.0 + math.exp(-(1.5 * x - 0.5)))
      val d = if (rng.nextDouble() < p) 1.0 else 0.0
      val d2 = if (rng.nextDouble() < 0.4) 1.0 else 0.0
      (i, x, d, d2)
    }.toDF("id", "x", "008", "244")
    val out = Pipeline.run(df, GraftConfig(
      input = "", predictors = "x", dependents = "008,244",
      model = "logistic", minCaseCount = 5, phewas = true))
    val rows = out.collect()
    assert(rows.length == 2)
    val byDep = rows.map(r => r.getAs[String]("dependent") -> r).toMap
    // catalog line 2: 008 = "Intestinal infection", infectious diseases
    assert(byDep("008").getAs[String]("phenotype") == "Intestinal infection")
    assert(byDep("008").getAs[String]("category") == "infectious diseases")
    assert(byDep("244").getAs[String]("phenotype") == "Hypothyroidism")
  }

  test("library default minCaseCount == CLI/pipeline default == reference default (20)") {
    // reference cli.py:114-117: --min-case-count default 20; a library
    // caller of Association.assoc must get the same viability gate as
    // the CLI path
    assert(operators.Association.Config(Nil, Nil).minCaseCount == 20)
    assert(GraftConfig(input = "", predictors = "", dependents = "").minCaseCount == 20)
  }

  test("sex filter + i: column specs + fail-on-missing-covariates") {
    val base = cohortDf
    // i:1 is x, by position; the sex column must be among the included
    // columns (reference preprocessing.py:47-49) — here as a covariate,
    // where the female-only filter makes it constant and drops it
    val out = Pipeline.run(base, GraftConfig(
      input = "", predictors = "i:1", dependents = "d1",
      covariates = "z,sex", model = "logistic", minCaseCount = 5,
      sexCol = "sex", femaleCode = 1.0, femaleOnly = true))
    val r = out.collect()(0)
    assert(r.getAs[String]("predictor") == "x")
    assert(r.getAs[Long]("total_n") == 200L) // half the rows
    // fail strategy surfaces missing covariates
    val sess = spark
    import sess.implicits._
    val holey = base.withColumn("z",
      org.apache.spark.sql.functions.when(org.apache.spark.sql.functions.col("id") % 5 === 0,
        null.asInstanceOf[java.lang.Double]).otherwise(org.apache.spark.sql.functions.col("z")))
    val ex = intercept[IllegalArgumentException] {
      Pipeline.run(holey, GraftConfig(input = "", predictors = "x",
        dependents = "d1", covariates = "z", missingCovariateValues = "fail"))
    }
    assert(ex.getMessage.contains("Missing values found in covariate column 'z'"))
    // mean-fill strategy proceeds
    val filled = Pipeline.run(holey, GraftConfig(input = "", predictors = "x",
      dependents = "d1", covariates = "z", missingCovariateValues = "mean",
      model = "logistic"))
    assert(filled.collect().length == 1)
  }

  test("tsv input + null markers flow through the pipeline end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    val f = new java.io.File(s"$dir/cohort.tsv")
    val w = new java.io.PrintWriter(f)
    w.println("id\tx\tz\td1")
    val rng = new scala.util.Random(7)
    (0 until 300).foreach { i =>
      val x = rng.nextGaussian()
      val z = if (i % 17 == 0) "NA" else f"${rng.nextGaussian()}%.6f"
      val d1 = if (rng.nextDouble() < 1.0 / (1.0 + math.exp(-(1.5 * x - 0.8)))) 1 else 0
      w.println(s"$i\t$x\t$z\t$d1")
    }
    w.close()
    val out = Pipeline.run(spark, GraftConfig(
      input = f.toString, predictors = "x", dependents = "d1", covariates = "z",
      nullValues = Seq("NA"), model = "logistic", missingCovariateValues = "mean",
      minCaseCount = 5))
    val r = out.collect()(0)
    assert(r.getAs[String]("predictor") == "x")
    assert(r.getAs[Long]("total_n") == 300L) // NA covariates mean-filled, not dropped
    assert(r.getAs[Double]("beta") > 0.5)
  }

  /** The message of the IllegalArgumentException `body` throws, after
    * checking that no Spark job started before it was thrown. */
  private def configError(body: => Any): String = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val e = intercept[IllegalArgumentException](body)
      org.apache.spark.ListenerBusDrain(sc)
      assert(jobs.get == 0, e.getMessage)
      e.getMessage
    } finally sc.removeSparkListener(listener)
  }

  test("a mean/min/max fill over a string covariate fails on the config, before any job") {
    val sess = spark
    import sess.implicits._
    val raw = (0 until 40).map { i =>
      (i.toDouble, if (i % 2 == 0) 1.0 else 0.0, if (i % 5 == 0) null else Seq("a", "b", "c")(i % 3))
    }.toDF("x", "d1", "seg")
    for (fill <- Seq("mean", "min", "max")) {
      val msg = configError(Pipeline.run(raw, GraftConfig(
        input = "", predictors = "x", dependents = "d1", covariates = "seg", categoricalCovariates = "seg",
        model = "logistic", missingCovariateValues = fill, minCaseCount = 5)))
      assert(msg.contains("'seg'") && msg.contains(fill), msg)
    }
  }

  test("--distributed is an unknown flag") {
    val flag = intercept[IllegalArgumentException](
      Main.parseArgs(Array("-i", "a", "-p", "p", "-d", "d", "--distributed")))
    assert(flag.getMessage.contains("Unknown flag --distributed"), flag.getMessage)
  }

  // degenerate column specs: each names the spec, before any job
  for ((predictors, dependents, named) <- Seq(
      ("x", "i:5-3", "'i:5-3'"), ("x", "i:-3", "'i:-3'"), ("i:a-b", "d1", "'i:a-b'"),
      ("", "d1", "predictor spec ''"), ("x", " ", "dependent spec ' '")))
    test(s"column specs '$predictors' / '$dependents' fail on the config, before any job") {
      val msg = configError(Pipeline.run(cohortDf, GraftConfig(input = "",
        predictors = predictors, dependents = dependents, minCaseCount = 10)))
      assert(msg.contains(named), msg)
    }

  test("forward/backward covariate fill uses the explicit order column") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, 1.0, Option(10.0), 1.0), (2L, -0.5, Option.empty[Double], 0.0),
      (3L, 0.3, Option(20.0), 1.0), (4L, 0.9, Option.empty[Double], 0.0),
      (5L, -1.2, Option.empty[Double], 1.0)
    ).toDF("id", "x", "z", "d1")
    def zOf(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getAs[Long]("id") -> Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    val fwd = zOf(operators.Preprocess.fillOrdered(df, Seq("z"), forward = true, "id"))
    assert(fwd(1).contains(10.0) && fwd(2).contains(10.0) && fwd(4).contains(20.0)
      && fwd(5).contains(20.0))
    val back = zOf(operators.Preprocess.fillOrdered(df, Seq("z"), forward = false, "id"))
    assert(back(2).contains(20.0) && back(4).isEmpty && back(5).isEmpty)
    // pipeline-level wiring (missing-covariate-values forward + order-col)
    val out = Pipeline.run(df, GraftConfig(input = "", predictors = "x",
      dependents = "d1", covariates = "z", missingCovariateValues = "forward",
      orderCol = "id", model = "logistic", minCaseCount = 1))
    assert(out.collect().length == 1)
    // forward fill without an order column fails fast
    intercept[IllegalArgumentException](Pipeline.run(df, GraftConfig(input = "",
      predictors = "x", dependents = "d1", covariates = "z",
      missingCovariateValues = "forward", model = "logistic")))
  }

  test("fillOrdered equals the single-window reference fill on random data") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(23)
    val df = (0 until 500).map { i =>
      (i.toLong,
        if (rng.nextDouble() < 0.3) Option.empty[Double] else Option(rng.nextGaussian()),
        if (rng.nextDouble() < 0.3) Option.empty[Double] else Option(rng.nextGaussian()))
    }.toDF("id", "u", "v").repartition(7) // force boundary carries
    for (forward <- Seq(true, false)) {
      // oracle: the windowed fill with no partition keys (single task —
      // fine in a test, the thing fillOrdered exists to avoid at scale)
      val expected = operators.Preprocess.fillDirectional(df, Seq("u", "v"),
        forward, partitionBy = Nil, orderBy = Seq("id")).collect()
        .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
      val got = operators.Preprocess.fillOrdered(df, Seq("u", "v"), forward, "id")
        .collect()
        .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
      assert(got == expected, s"forward=$forward")
    }
  }

  test("pipeline --rint equals association over manually transformed dependents") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(11)
    val df = (0 until 200).map { i =>
      val x = rng.nextGaussian()
      (i.toLong, x, 2.0 * x + rng.nextGaussian() * 3.0)
    }.toDF("id", "x", "yq")
    val viaPipeline = Pipeline.run(df, GraftConfig(input = "", predictors = "x",
      dependents = "yq", model = "linear", quantitative = true, rint = true,
      orderCol = "id", minCaseCount = 10)).collect()(0)
    val rinted = df.drop("yq").join(
      operators.Preprocess.rint(df, "yq", "id")
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("rint").as("yq")), "id")
    val direct = operators.Association.assoc(rinted,
      operators.Association.Config(Seq("x"), Seq("yq"), model = "linear",
        minCaseCount = 10)).collect()(0)
    assert(math.abs(viaPipeline.getAs[Double]("beta") - direct.getAs[Double]("beta")) < 1e-9)
    assert(math.abs(viaPipeline.getAs[Double]("se") - direct.getAs[Double]("se")) < 1e-9)
  }

  test("config validation parity: unique sets, categorical subset, model pairing, all-missing") {
    val df = cohortDf
    def cfg0 = GraftConfig(input = "", predictors = "x", dependents = "d1")
    def msgOf(body: => Any): String =
      intercept[IllegalArgumentException](body).getMessage
    assert(msgOf(Pipeline.run(df, cfg0.copy(dependents = "x,d1")))
      .contains("Predictor and dependent columns must be unique"))
    assert(msgOf(Pipeline.run(df, cfg0.copy(covariates = "x,z")))
      .contains("Predictor and covariate columns must be unique"))
    assert(msgOf(Pipeline.run(df, cfg0.copy(covariates = "d1")))
      .contains("Dependent and covariate columns must be unique"))
    assert(msgOf(Pipeline.run(df, cfg0.copy(covariates = "z", categoricalCovariates = "seg")))
      .contains("Categorical covariate columns must be a subset of covariate columns"))
    assert(msgOf(Pipeline.run(df, cfg0.copy(model = "linear")))
      .contains("--quantitative"))
    assert(msgOf(Pipeline.run(df, cfg0.copy(quantitative = true)))
      .contains("--quantitative"))
    val allNull = df.withColumn("zn",
      org.apache.spark.sql.functions.lit(null).cast("double"))
    assert(msgOf(Pipeline.run(allNull, cfg0.copy(covariates = "zn")))
      .contains("All values are missing in covariate column 'zn'"))
  }

  test("duplicate --order-col values fail fast (RINT join would fan out)") {
    val sess = spark
    import sess.implicits._
    val df = Seq((1L, 0.1, 1.0), (1L, 0.2, 2.0), (2L, 0.3, 3.0))
      .toDF("id", "x", "yq")
    val msg = intercept[IllegalArgumentException](
      Pipeline.run(df, GraftConfig(input = "", predictors = "x",
        dependents = "yq", model = "linear", quantitative = true, rint = true,
        orderCol = "id", minCaseCount = 1))).getMessage
    assert(msg.contains("must be unique and non-null"))
  }

  test("dotted column names (PheCodes) give the rows of the same cohort with the dots renamed") {
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(23)
    val rows = (0 until 300).map { i =>
      val x = rng.nextGaussian()
      val pc = if (i % 13 == 0) None else Some(rng.nextGaussian())
      val d1 = if (rng.nextDouble() < 1.0 / (1.0 + math.exp(-(1.2 * x - 0.7)))) 1.0 else 0.0
      val d2 = if (rng.nextDouble() < 0.35) 1.0 else 0.0
      (x, pc, Seq("A", "B", "C")(i % 3), d1, d2)
    }
    val dotted = Seq("x", "pc.1", "grp.c", "008.5", "250.2")
    val renamed = dotted.map(_.replace('.', '_'))
    val back = renamed.zip(dotted).filter { case (r, d) => r != d }
    // firth: categorical covariate one-hot encoded, incomplete rows
    // dropped; logistic: numeric covariate mean-filled
    def run(names: Seq[String], model: String): Seq[Seq[Any]] = {
      val df = rows.toDF(names: _*)
      val dir = java.nio.file.Files.createTempDirectory("graft_dotted").toString
      val firth = model == "firth"
      Pipeline.run(df, GraftConfig(input = "", predictors = names(0),
        dependents = s"${names(3)},${names(4)}",
        covariates = if (firth) s"${names(1)},${names(2)}" else names(1),
        categoricalCovariates = if (firth) names(2) else "",
        missingCovariateValues = if (firth) "drop" else "mean",
        model = model, minCaseCount = 10, output = s"$dir/out", outputType = "parquet"))
        .collect().toSeq.map(_.toSeq)
    }
    def unrename(v: Any): Any = v match {
      case s: String => back.foldLeft(s) { case (acc, (r, d)) => acc.replace(r, d) }
      case other => other
    }
    for (model <- Seq("firth", "logistic")) {
      val got = run(dotted, model)
      val want = run(renamed, model).map(_.map(unrename))
      assert(got.size == 2 && got.map(_(1)).toSet == Set("008.5", "250.2"), model)
      assert(got.map(_.map(String.valueOf)) == want.map(_.map(String.valueOf)), model)
      val equation = got.head(got.head.size - 2).toString
      assert(equation.contains("pc.1"), model)
      if (model == "firth") assert(equation.contains("grp.c_B"), equation)
    }
  }

  /** What one `Pipeline.run` did, as listeners saw it: each job's
    * (description, group), each executed plan, each submitted stage's
    * (description, id, whether it reads the binary models' block
    * shuffle), each finished task's (stage id, partition) and the ids
    * of the stages that wrote shuffle records. The block shuffle is the
    * only `ShuffledRDD` of a run: Spark SQL's exchanges read through
    * `ShuffledRowRDD`. */
  private final case class Observed(jobs: Seq[(String, String)],
      plans: Seq[org.apache.spark.sql.execution.SparkPlan],
      stages: Seq[(String, Int, Boolean)], tasks: Seq[(Int, Int)], shuffleWrites: Seq[Int]) {

    /** The job description of each stage that wrote shuffle output. */
    def shuffles: Seq[String] = {
      val desc = stages.map(s => s._2 -> s._1).toMap
      shuffleWrites.distinct.map(desc)
    }
  }

  private def observe(cfg: GraftConfig): Observed = observing { Pipeline.run(spark, cfg); () }

  /** What `body` did, as [[observe]] reports a run. */
  private def observing(body: => Unit): Observed = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    def list[T] = java.util.Collections.synchronizedList(new java.util.ArrayList[T]())
    val jobs = list[(String, String)]
    val plans = list[org.apache.spark.sql.execution.SparkPlan]
    val stages = list[(String, Int, Boolean)]
    val tasks = list[(Int, Int)]
    val shuffleWrites = list[Int]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.job.description"),
          e.properties.getProperty("spark.jobGroup.id")))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add((e.properties.getProperty("spark.job.description"), e.stageInfo.stageId,
          e.stageInfo.rddInfos.exists(_.name == "ShuffledRDD")))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        if (e.taskInfo.successful) tasks.add((e.stageId, e.taskInfo.partitionId))
        if (e.taskMetrics != null && e.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffleWrites.add(e.stageId)
      }
    }
    val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = plans.add(qe.executedPlan)
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    import scala.jdk.CollectionConverters._
    Observed(jobs.asScala.toSeq, plans.asScala.toSeq, stages.asScala.toSeq, tasks.asScala.toSeq,
      shuffleWrites.asScala.toSeq)
  }

  test("every job of Pipeline.run carries a graft stage label; the caller's group survives") {
    val dir = java.nio.file.Files.createTempDirectory("graft_labels").toString
    cohortDf.write.parquet(s"$dir/cohort.parquet")
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller description", interruptOnCancel = false)
    try {
      val run = observe(GraftConfig(input = s"$dir/cohort.parquet", predictors = "x",
        dependents = "d1,d2", covariates = "z,zconst,seg", categoricalCovariates = "seg",
        model = "firth", minCaseCount = 10, output = s"$dir/out"))
      val jobs = run.jobs
      assert(jobs.nonEmpty)
      assert(jobs.forall(_._1.startsWith("graft/")), jobs)
      assert(jobs.forall(_._2 == "caller-group"), jobs)
      val labels = jobs.map(_._1).toSet
      assert(Set("graft/preprocess", "graft/fit", "graft/write").subsetOf(labels), labels)
      // the fit's tasks run under graft/fit, never again under the write
      val block = run.stages.filter(_._3)
      assert(block.nonEmpty && block.forall(_._1 == "graft/fit"), run.stages)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
      assert(sc.getLocalProperty("spark.job.description") == "caller description")
    } finally sc.clearJobGroup()
  }

  test("one Pipeline.run fits each binary pair once, for firth and for logistic") {
    // each task of the block stage fits every pair of its block: the
    // dependents dealt round-robin over min(cores, D) blocks
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(9)
    val deps = (1 to 5).map(j => s"d$j")
    val dir = java.nio.file.Files.createTempDirectory("graft_fits").toString
    (0 until 300).map { _ =>
      val x = rng.nextGaussian()
      def bin(q: Double): Double = if (rng.nextDouble() < q) 1.0 else 0.0
      (x, rng.nextGaussian(), bin(1.0 / (1.0 + math.exp(-x))), bin(0.2), bin(0.3), bin(0.4), bin(0.5))
    }.toDF("x" +: "z" +: deps: _*).write.parquet(s"$dir/cohort.parquet")
    val blocks = math.min(spark.sparkContext.defaultParallelism, deps.size)
    for (model <- Seq("firth", "logistic")) {
      val run = observe(GraftConfig(input = s"$dir/cohort.parquet", predictors = "x",
        dependents = deps.mkString(","), covariates = "z", model = model, minCaseCount = 10,
        output = s"$dir/out_$model"))
      val blockStages = run.stages.filter(_._3).map(_._2).toSet
      assert(blockStages.nonEmpty, model)
      val fits = run.tasks.collect { case (st, b) if blockStages(st) => (b until deps.size by blocks).size }
      assert(fits.sum == deps.size, s"$model: ${fits.size} block tasks ran")
    }
  }

  test("a CLI run carries graft labels on every job, its read included") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli").toString
    val w = new java.io.PrintWriter(s"$dir/cohort.csv")
    w.println("id,x,z,d1")
    val rng = new scala.util.Random(13)
    (0 until 200).foreach { i =>
      val x = rng.nextGaussian()
      val z = if (i % 9 == 0) "NA" else f"${rng.nextGaussian()}%.6f"
      val d1 = if (rng.nextDouble() < 1.0 / (1.0 + math.exp(-(1.2 * x - 0.5)))) 1 else 0
      w.println(s"$i,$x,$z,$d1")
    }
    w.close()
    val cfg = Main.parseArgs(Array("-i", s"$dir/cohort.csv", "-p", "x", "-d", "d1", "-c", "z",
      "-nv", "NA", "-mcv", "mean", "-m", "logistic", "-mc", "5", "-o", s"$dir/out"))
    val jobs = observing(Main.run(spark, cfg)).jobs.map(_._1)
    assert(jobs.nonEmpty && jobs.forall(d => d != null && d.startsWith("graft/")), jobs)
    assert(jobs.contains("graft/read"), jobs)
  }

  test("without output, Pipeline.run and a CLI run leave no job without a graft label") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nooutput").toString
    cohortDf.write.parquet(s"$dir/cohort.parquet")
    val cfg = GraftConfig(input = s"$dir/cohort.parquet", predictors = "x", dependents = "d1,d2",
      covariates = "z,seg", categoricalCovariates = "seg", model = "firth", minCaseCount = 10)
    var rows = Array.empty[org.apache.spark.sql.Row]
    val run = observing { rows = Pipeline.run(spark, cfg).collect() }.jobs.map(_._1)
    assert(rows.length == 2 && rows.head.getAs[Double]("pval") <= rows(1).getAs[Double]("pval"))
    assert(run.nonEmpty && run.forall(d => d != null && d.startsWith("graft/")), run)
    // postprocessing without defs runs on the driver's rows: no job
    assert(run.contains("graft/fit") && !run.contains("graft/postprocess"), run)
    val cli = observing(Main.run(spark, cfg)).jobs.map(_._1)
    assert(cli.nonEmpty && cli.forall(d => d != null && d.startsWith("graft/")), cli)
  }

  test("a --phecode-defs run reads its defs in one postprocess job, as a bundled-catalog run does") {
    val sess = spark
    import sess.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_defs").toString
    val w = new java.io.PrintWriter(s"$dir/defs.csv")
    w.println("phecode,phenotype,sex,category,category_number")
    w.println("008,\"Intestinal infection, user copy\",Both,infectious diseases,1")
    w.println("244,Hypothyroidism,Female,endocrine/metabolic,3")
    w.close()
    val rng = new scala.util.Random(17)
    val df = (0 until 300).map { _ =>
      val x = rng.nextGaussian()
      (x, if (rng.nextDouble() < 1.0 / (1.0 + math.exp(-(1.5 * x - 0.5)))) 1.0 else 0.0,
        if (rng.nextDouble() < 0.4) 1.0 else 0.0)
    }.toDF("x", "008", "244")
    def run(defs: String): (Map[String, String], Seq[String]) = {
      var rows = Array.empty[org.apache.spark.sql.Row]
      val jobs = observing {
        rows = Pipeline.run(df, GraftConfig(input = "", predictors = "x", dependents = "008,244",
          model = "logistic", minCaseCount = 5, phewas = true, phecodeDefs = defs)).collect()
      }.jobs.map(_._1)
      (rows.map(r => r.getAs[String]("dependent") -> r.getAs[String]("phenotype")).toMap, jobs)
    }
    // a URI, as Spark's own readers take it
    val (user, userJobs) = run(new java.io.File(s"$dir/defs.csv").toURI.toString)
    val (bundled, bundledJobs) = run("")
    assert(user == Map("008" -> "Intestinal infection, user copy", "244" -> "Hypothyroidism"), user)
    assert(bundled("008") == "Intestinal infection", bundled)
    assert(userJobs.count(_ == "graft/postprocess") == 1, userJobs)
    assert(bundledJobs.count(_ == "graft/postprocess") == 1, bundledJobs)
  }

  test("a 20,001-row cohort fits in column blocks: a sex-specific code drops sex") {
    // every cohort size takes the same per-pair rule and one fit job
    val sess = spark
    import sess.implicits._
    val rng = new scala.util.Random(31)
    val df = (0 until 20001).map { i =>
      val x = rng.nextGaussian()
      val sex = (i % 2).toDouble
      val p = 1.0 / (1.0 + math.exp(-(0.8 * x - 1.0)))
      def bin(): Double = if (rng.nextDouble() < p) 1.0 else 0.0
      (x, rng.nextGaussian(), sex, bin(), if (sex == 0.0) None else Some(bin()))
    }.toDF("x", "z", "sex", "d1", "d_sex")
    var rows = Array.empty[org.apache.spark.sql.Row]
    val run = observing {
      rows = Pipeline.run(df, GraftConfig(input = "", predictors = "x", dependents = "d1,d_sex",
        covariates = "z,sex", model = "firth", minCaseCount = 10)).collect()
    }
    assert(run.jobs.count(_._1 == "graft/fit") == 1, run.jobs)
    val byDep = rows.map(r => r.getAs[String]("dependent") -> r).toMap
    for ((d, equation, n) <- Seq(("d1", "d1 ~ x + z + sex", 20001L), ("d_sex", "d_sex ~ x + z", 10000L))) {
      val r = byDep(d)
      assert(r.getAs[String]("equation") == equation, d)
      assert(r.getAs[Boolean]("converged") && r.getAs[String]("failed_reason") == "nan", d)
      assert(r.getAs[Long]("total_n") == n, d)
    }
  }

  test("no model explodes: no Generate in any plan Pipeline.run executes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nogen").toString
    cohortDf.write.parquet(s"$dir/cohort.parquet")
    val binary = GraftConfig(input = s"$dir/cohort.parquet", predictors = "x",
      dependents = "d1,d2", covariates = "z,zconst,seg", categoricalCovariates = "seg",
      model = "firth", minCaseCount = 10)
    val linear = binary.copy(dependents = "z", covariates = "sex", categoricalCovariates = "",
      model = "linear", quantitative = true)
    for ((name, cfg) <- Seq("firth" -> binary, "logistic" -> binary.copy(model = "logistic"),
        "linear" -> linear)) {
      val plans = observe(cfg.copy(output = s"$dir/out_$name")).plans
      assert(plans.nonEmpty, name)
      val generate = plans.filter(_.toString.contains("Generate "))
      assert(generate.isEmpty, s"$name: ${generate.mkString("\n")}")
    }
    // the detector sees an explode where one runs: the melt itself
    val melt = operators.Association.melt(spark.read.parquet(s"$dir/cohort.parquet"),
      operators.Association.Config(Seq("x"), Seq("d1", "d2"), Seq("z")))
    assert(observing(melt.write.format("noop").mode("overwrite").save()).plans
      .exists(_.toString.contains("Generate ")))
  }

  test("the linear fit runs under graft/fit; no fit stage runs under graft/write") {
    val dir = java.nio.file.Files.createTempDirectory("graft_linfit").toString
    cohortDf.write.parquet(s"$dir/cohort.parquet")
    val run = observe(GraftConfig(input = s"$dir/cohort.parquet", predictors = "x,sex",
      dependents = "z,d1", covariates = "seg", categoricalCovariates = "seg",
      model = "linear", quantitative = true, minCaseCount = 10, output = s"$dir/out"))
    assert(run.jobs.map(_._1).contains("graft/fit"), run.jobs)
    // the co-moment merge is the run's only ShuffledRDD
    val merge = run.stages.filter(_._3)
    assert(merge.nonEmpty && merge.forall(_._1 == "graft/fit"), run.stages)
  }

  test("preprocessing profiles the cohort once: no route job, half the jobs, no fill recomputed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_profile").toString
    cohortDf.withColumn("zh", org.apache.spark.sql.functions.expr("if(id % 7 = 0, null, z)"))
      .write.parquet(s"$dir/cohort.parquet")
    def jobs(run: Observed, label: String) = run.jobs.count(_._1 == label)
    // one aggregate for the fail check, the constant drop and the
    // 3-level categorical's levels: two jobs under adaptive execution
    val firth = observe(GraftConfig(input = s"$dir/cohort.parquet", predictors = "x",
      dependents = "d1,d2", covariates = "z,zconst,seg", categoricalCovariates = "seg",
      model = "firth", minCaseCount = 10, output = s"$dir/out_firth"))
    assert(jobs(firth, "graft/route") == 0, firth.jobs)
    assert(jobs(firth, "graft/preprocess") == 2, firth.jobs)
    // the mean fill is a literal: the fit's plan reads no aggregate
    val linear = observe(GraftConfig(input = s"$dir/cohort.parquet", predictors = "x",
      dependents = "z", covariates = "zh,zconst", missingCovariateValues = "mean",
      model = "linear", quantitative = true, minCaseCount = 10, output = s"$dir/out_linear"))
    assert(jobs(linear, "graft/fit") == 1, linear.jobs)
  }

  test("postprocessing runs on the driver: six jobs, one write job, no shuffle after the fit") {
    // the shape of a quantitative study: tab-delimited input with a
    // null marker, a mean fill, a constant covariate, 3 x 4 pairs
    val dir = java.nio.file.Files.createTempDirectory("graft_post").toString
    val w = new java.io.PrintWriter(s"$dir/cohort.tsv")
    val rng = new scala.util.Random(23)
    w.println((Seq("id", "x1", "x2", "x3", "z", "batch") ++ (1 to 4).map(j => s"y$j")).mkString("\t"))
    (0 until 300).foreach { i =>
      val xs = Seq.fill(3)(rng.nextGaussian())
      val z = if (i % 11 == 0) "NA" else f"${rng.nextGaussian()}%.6f"
      val ys = (1 to 4).map(j => if ((i + j) % 17 == 0) "NA" else f"${xs(j % 3) + rng.nextGaussian()}%.6f")
      w.println((Seq(i.toString) ++ xs.map(v => f"$v%.6f") ++ Seq(z, "1") ++ ys).mkString("\t"))
    }
    w.close()
    val cfg = GraftConfig(input = s"$dir/cohort.tsv", predictors = "i:1-4", dependents = "i:6-",
      covariates = "z,batch", nullValues = Seq("NA"), model = "linear", quantitative = true,
      missingCovariateValues = "mean", minCaseCount = 10, outputType = "parquet",
      output = s"$dir/out")
    var rows = Array.empty[org.apache.spark.sql.Row]
    val run = observing { rows = Pipeline.run(spark, cfg).collect() }
    val jobs = run.jobs.map(_._1)
    assert(jobs.count(_ == "graft/write") == 1, jobs)
    // read: header and type inference; preprocess: the profile's
    // aggregate, two jobs under adaptive execution; the fit; the write
    assert(jobs.size == 6, jobs)
    // past the profile's exchange, the co-moment merge is the only shuffle
    assert(run.shuffles.toSet == Set("graft/preprocess", "graft/fit"), (run.shuffles, jobs))
    // the written part file holds the returned rows in their order
    val parts = new java.io.File(s"$dir/out_polars_mas_results.parquet").listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.length == 1, parts.toSeq)
    val written = spark.read.parquet(parts.head.getPath).collect()
    assert(written.toSeq == rows.toSeq && rows.length == 12)
    val p = rows.map(_.getAs[Double]("pval"))
    assert(p.zip(p.tail).forall { case (a, b) => a <= b || b.isNaN }, p.toSeq)
  }

  test("a constant categorical is dropped before one-hot; a 2-level one stays a covariate") {
    val site = cohortDf.withColumn("site", org.apache.spark.sql.functions.lit("S1"))
    def equation(df: org.apache.spark.sql.DataFrame, covariates: String, categoricals: String) =
      Pipeline.run(df, GraftConfig(input = "", predictors = "x", dependents = "d1",
        covariates = covariates, categoricalCovariates = categoricals, model = "logistic",
        minCaseCount = 10)).collect().head.getAs[String]("equation")
    assert(equation(site, "site,z", "site") == "d1 ~ x + z")
    assert(equation(cohortDf, "z,sex", "sex") == "d1 ~ x + z + sex")
    assert(equation(cohortDf, "z,seg", "seg") == "d1 ~ x + z + seg_B + seg_C")
  }

  test("a string covariate left after one-hot is a config error before any fit job") {
    val grp = cohortDf.withColumn("grp", org.apache.spark.sql.functions.expr("if(id % 2 = 0, 'M', 'F')"))
    for ((covariates, categoricals) <- Seq(("z,grp", "grp"), ("grp,z", ""))) {
      var msg = ""
      val run = observing {
        msg = intercept[IllegalArgumentException](Pipeline.run(grp, GraftConfig(input = "",
          predictors = "x", dependents = "d1", covariates = covariates,
          categoricalCovariates = categoricals, model = "logistic", minCaseCount = 10))).getMessage
      }
      assert(msg.contains("'grp'") && msg.contains("strings"), msg)
      assert(!run.jobs.exists(_._1 == "graft/fit"), run.jobs)
    }
  }

  test("a categorical with 1,001 levels fails on its level count before any fit job") {
    def subjects(offset: Int) = cohortDf.withColumn("subject",
      org.apache.spark.sql.functions.expr(s"cast((id + $offset) % 1001 as string)"))
    val ids = subjects(0).union(subjects(400)).union(subjects(800))
    assert(ids.select("subject").distinct().count() == 1001)
    var msg = ""
    val run = observing {
      msg = intercept[IllegalArgumentException](Pipeline.run(ids, GraftConfig(input = "",
        predictors = "x", dependents = "d1", covariates = "z,subject",
        categoricalCovariates = "subject", model = "logistic", minCaseCount = 10))).getMessage
    }
    assert(msg.contains("categorical covariate 'subject' has more than 1000 distinct levels"), msg)
    assert(run.jobs.nonEmpty && !run.jobs.exists(_._1 == "graft/fit"), run.jobs)
  }

  test("--phecode-defs naming a directory, a glob or a missing file fails before any job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_defs_path").toString
    new java.io.File(s"$dir/defs").mkdir()
    val w = new java.io.PrintWriter(s"$dir/defs/a.csv")
    w.println("phecode,phenotype,sex,category,category_number")
    w.close()
    for (path <- Seq(s"$dir/defs", s"$dir/defs/*.csv", s"$dir/missing.csv")) {
      var msg = ""
      val run = observing {
        msg = intercept[IllegalArgumentException](Pipeline.run(cohortDf, GraftConfig(input = "",
          predictors = "x", dependents = "d1,d2", model = "logistic", minCaseCount = 10,
          phewas = true, phecodeDefs = path))).getMessage
      }
      assert(msg.contains(s"'$path'") && msg.contains("one CSV file"), msg)
      assert(run.jobs.isEmpty, s"$path: ${run.jobs}")
    }
  }
}
