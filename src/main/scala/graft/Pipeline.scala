package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
import graft.operators.{Association, Postprocess, Preprocess}
import graft.operators.Preprocess.column
import graft.sources.Sources

/**
 * End-to-end MAS pipeline — the library's `GraftConfig`-style entry
 * point mirroring the reference orchestration
 * (/root/reference/src/polars_mas/pipeline.py:17-42 and config.py):
 * read (parquet/csv/tsv/txt + null markers) → column selection (names
 * + `i:` specs) → validation → sex filter → missing-covariate
 * handling → drop constant covariates → one-hot → dependent
 * transforms (log / RINT, README-roadmap items) → associate →
 * Bonferroni → optional PheCode annotate → sort → write.
 *
 * Where the reference materializes a preprocessed IPC file and fans
 * per-pair processes over it, here preprocessing is projections and
 * filters Catalyst pushes into the scan, and the association engine's
 * fit (the binary models' block shuffle, the linear co-moment
 * merge) is the only shuffle until the (pair-count-sized)
 * postprocessing. The two exceptions need a total row order made
 * explicit (`orderCol`): forward/backward fill and RINT rank ties — a
 * distributed engine has no "file row order" (preprocessing.py:31-33
 * relies on it).
 *
 * Every job a run triggers carries its stage as the job description:
 * `graft/read`, `graft/preprocess`, `graft/fit`, `graft/postprocess` or
 * `graft/write`. Preprocessing asks the cohort its covariate
 * statistics in one aggregate (`Preprocess.profile`). Every model fits
 * every pair once, in `graft/fit` jobs, into a local relation of pair
 * rows that postprocessing and the write read; so a run without
 * `output` has fitted and postprocessed by the time it returns: its
 * result is a local relation of sorted rows. The binary models fit in
 * column blocks at every cohort size.
 */
final case class GraftConfig(
    input: String,                        // parquet/csv/tsv/txt path
    predictors: String,                   // comma list, i: specs allowed
    dependents: String,
    covariates: String = "",
    categoricalCovariates: String = "",
    nullValues: Seq[String] = Nil,        // delimited-input null markers (config.py:110-121)
    model: String = "firth",              // firth | logistic | linear
    missingCovariateValues: String = "fail", // fail|drop|forward|backward|min|max|mean|zero|one
    minCaseCount: Int = 20,               // reference default (cli.py:117)
    quantitative: Boolean = false,        // dependents are continuous (cli.py:88-92)
    rint: Boolean = false,                // RINT dependents (roadmap)
    logt: Boolean = false,                // log-transform dependents (roadmap)
    phewas: Boolean = false,              // annotate dependents with PheCode defs
    flipwas: Boolean = false,             // annotate predictors with PheCode defs
    phecodeDefs: String = "",             // path to a phecode_definitions CSV (public catalog layout)
    sexCol: String = "sex",               // reference default (cli.py:139-144)
    femaleCode: Double = 1.0,
    maleOnly: Boolean = false,
    femaleOnly: Boolean = false,
    orderCol: String = "",                // explicit row order: forward/backward fill, RINT ties
    output: String = "",                  // output PREFIX; empty = don't write
    outputType: String = "csv",           // reference default (cli.py:61-68)
    dryRun: Boolean = false,
    distributed: Boolean = false,         // removed option: `true` is a config error.
                                          // The field stays while perfbench's
                                          // Study.scala reads it (ROADMAP item 4
                                          // deletes it)
    annotateDefs: Option[DataFrame] = None, // direct defs override (tests/composition)
    annotateOn: String = "dependent",
    annotateKey: String = "phecode")

object Pipeline {

  /** Resolve a comma/`i:` column spec against the frame (empty → none). */
  private def resolve(df: DataFrame, spec: String): Seq[String] =
    if (spec.trim.isEmpty) Nil
    else Preprocess.selectColumns(df, spec).columns.toSeq

  /** Config-level validation — the reference's fail-fast contract
    * (config.py:180-196 unique sets, cli.py mutually-exclusive
    * groups), plus the engine pairings a lazy plan can check early. */
  private def validate(cfg: GraftConfig, predictors: Seq[String], dependents: Seq[String],
      covariates: Seq[String], categoricals: Seq[String]): Unit = {
    require(Seq("firth", "logistic", "linear").contains(cfg.model),
      s"Unknown model: ${cfg.model}")
    require(!cfg.distributed, "distributed = true asked for the gram IRLS, which was removed.")
    require(predictors.nonEmpty, s"The predictor spec '${cfg.predictors}' selects no columns.")
    require(dependents.nonEmpty, s"The dependent spec '${cfg.dependents}' selects no columns.")
    require(!(cfg.rint && cfg.logt), "--rint and --logt are mutually exclusive.")
    require(!(cfg.phewas && cfg.flipwas), "--phewas and --flipwas are mutually exclusive.")
    require(!(cfg.maleOnly && cfg.femaleOnly), "--male-only and --female-only are mutually exclusive.")
    // quantitative selects the continuous validation branch
    // (analysis.py:125-165) and only the linear model fits a
    // continuous dependent — fail fast instead of fitting garbage
    require(cfg.quantitative == (cfg.model == "linear"),
      "--quantitative and model=linear go together: binary models need binary dependents.")
    require(!(cfg.rint || cfg.logt) || cfg.quantitative,
      "--rint/--logt transform continuous dependents; use with --quantitative.")
    require(!cfg.rint || cfg.orderCol.nonEmpty,
      "--rint needs --order-col to break rank ties deterministically.")
    val needsOrder = Seq("forward", "backward").contains(cfg.missingCovariateValues)
    require(!needsOrder || cfg.orderCol.nonEmpty,
      "forward/backward covariate fill needs --order-col: a distributed engine has no file row order.")
    // unique column sets (config.py:180-196, same messages)
    val p = predictors.toSet; val d = dependents.toSet; val c = covariates.toSet
    require((p & d).isEmpty, "Predictor and dependent columns must be unique")
    require((p & c).isEmpty, "Predictor and covariate columns must be unique")
    require((d & c).isEmpty, "Dependent and covariate columns must be unique")
    val cc = categoricals.toSet
    require(cc.isEmpty || (cc & c).nonEmpty && (cc -- c).isEmpty,
      "Categorical covariate columns must be a subset of covariate columns")
  }

  /** Reference-style configuration summary (config.py:231-255) — what
    * `--dry-run` prints instead of executing. */
  def summary(raw: DataFrame, cfg: GraftConfig): String = {
    def fmt(columns: Seq[String], maxDisplay: Int = 5): String = {
      val n = columns.length
      if (n == 0) "(none)"
      else if (n <= maxDisplay) s"$n column${if (n != 1) "s" else ""}: ${columns.mkString(", ")}"
      else s"$n columns: ${columns.head}, ${columns(1)}, ... ${columns(n - 2)}, ${columns.last}"
    }
    val predictors = resolve(raw, cfg.predictors)
    val dependents = resolve(raw, cfg.dependents)
    val covariates = resolve(raw, cfg.covariates)
    s"""Configuration summary:
       |  Input file: ${cfg.input}
       |  Output prefix: ${cfg.output}
       |  Model: ${cfg.model}
       |  Predictors:  ${fmt(predictors)}
       |  Dependents:  ${fmt(dependents)}
       |  Covariates:  ${fmt(covariates)}""".stripMargin
  }

  /** Run `body` with the job description `graft/<name>`, so every job
    * it triggers carries the pipeline stage; the caller's description
    * comes back afterwards. Job groups are left alone: callers may
    * attribute work by group id. */
  private def stage[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft/$name")
    try body finally sc.setJobDescription(outer)
  }

  def run(spark: SparkSession, cfg: GraftConfig): DataFrame = run(read(spark, cfg), cfg)

  /** The configured input, read under `graft/read`. */
  private[graft] def read(spark: SparkSession, cfg: GraftConfig): DataFrame =
    stage(spark, "read")(Sources.read(spark, cfg.input, cfg.nullValues))

  /** Run on an already-loaded frame (testing / composition). */
  def run(raw: DataFrame, cfg: GraftConfig): DataFrame = {
    val spark = raw.sparkSession
    val (df, assocCfg) = stage(spark, "preprocess")(preprocess(raw, cfg))
    val results = stage(spark, "fit")(Association.assoc(df, assocCfg))
    stage(spark, "postprocess")(postprocess(raw, results, cfg))
  }

  /** Column selection through the dependent transforms: the frame and
    * the association config the fit runs on. */
  private[graft] def preprocess(raw: DataFrame, cfg: GraftConfig): (DataFrame, Association.Config) = {
    val predictors = resolve(raw, cfg.predictors)
    val dependents = resolve(raw, cfg.dependents)
    var covariates = resolve(raw, cfg.covariates)
    val categoricals = resolve(raw, cfg.categoricalCovariates)
    validate(cfg, predictors, dependents, covariates, categoricals)

    // project to the used columns only — pushdown-friendly. The sex
    // column is NOT auto-included: the reference requires it among the
    // included columns when filtering (preprocessing.py:47-49).
    val used = (predictors ++ dependents ++ covariates ++
      (if (cfg.orderCol.nonEmpty) Seq(cfg.orderCol) else Nil)).distinct
    var df = raw.select(used.map(column): _*)

    // sex-specific filter (preprocessing.py:43-62)
    if (cfg.maleOnly || cfg.femaleOnly) {
      require(used.contains(cfg.sexCol),
        s"Sex column '${cfg.sexCol}' not found in included columns.")
      df = Preprocess.sexFilter(df, cfg.sexCol, cfg.femaleCode, cfg.femaleOnly)
    }

    // orderCol is a join/rank key for RINT and directional fill:
    // duplicate values would fan out the RINT join (silently inflating
    // n_observations) and make rank tie-breaks nondeterministic —
    // fail fast instead. One small aggregate, only when orderCol is
    // actually used.
    val strategy = cfg.missingCovariateValues
    if (cfg.rint || Seq("forward", "backward").contains(strategy)) {
      val r = df.agg(count(lit(1)).as("n"), countDistinct(column(cfg.orderCol)).as("nd")).head()
      require(r.getAs[Long]("n") == r.getAs[Long]("nd"),
        s"--order-col '${cfg.orderCol}' must be unique and non-null: " +
          s"${r.getAs[Long]("n")} rows but ${r.getAs[Long]("nd")} distinct non-null values.")
    }

    // missing covariates (preprocessing.py:7-40); a mean/min/max fill
    // and the fail check read the profile below
    if (covariates.nonEmpty) df = strategy match {
      case "fail" | "mean" | "min" | "max" => df
      case dir @ ("forward" | "backward") =>
        Preprocess.fillOrdered(df, covariates, dir == "forward", cfg.orderCol)
      case s => Preprocess.fillNulls(df, covariates, s)
    }

    // one aggregate answers the fail check, the fill values and the
    // constant-covariate drop (preprocessing.py:65-79). A mean/min/max
    // fill is profiled before it runs: its value comes from the same row
    if (covariates.nonEmpty) {
      val p = Preprocess.profile(df, covariates, strategy)
      // all-missing first, like preprocessing.py:12-16
      if (strategy == "fail") for ((c, n) <- p.nulls) {
        require(n < p.rows || p.rows == 0, s"All values are missing in covariate column '$c'.")
        require(n == 0, s"Missing values found in covariate column '$c': $n missing values.")
      }
      df = Preprocess.fill(df, p.fills).drop(p.constant: _*)
      covariates = covariates.filterNot(p.constant.contains)
    }

    // one-hot the categoricals that survived the drop, first level
    // dropped (preprocessing.py:82-108); one with two levels or fewer
    // stays a covariate as it is. The dummies are the only columns
    // outside `used`.
    df = Preprocess.oneHot(df, categoricals.filter(covariates.contains))
    covariates = covariates.filter(df.columns.contains) ++ df.columns.filterNot(used.contains)
    // the fitters read covariates as numbers: a string left after the
    // encoding is a config error here, not a cast failure in the fit
    Preprocess.requireNumeric(df, covariates)(c => s"Covariate column '$c' holds strings; one-hot " +
      "encodes only categoricals with more than two levels, so encode it as numbers.")

    // dependent transforms (README-roadmap: log / RINT), pre-melt
    if (cfg.logt) df = Preprocess.logTransform(df, dependents)
    if (cfg.rint) {
      // one ranking job per dependent (quantitative MAS workloads have
      // few dependents); ties break on orderCol, nulls stay null
      df = dependents.foldLeft(df) { (d, dep) =>
        val r = Preprocess.rint(d, dep, cfg.orderCol)
          .select(column(cfg.orderCol), col("rint").as(s"__rint_$dep"))
        d.join(r, Seq(cfg.orderCol), "left")
          .withColumn(dep, column(s"__rint_$dep"))
          .drop(s"__rint_$dep")
      }
    }

    (df, Association.Config(predictors, dependents, covariates,
      model = cfg.model, minCaseCount = cfg.minCaseCount))
  }

  /** Bonferroni, PheCode/custom annotate, sort, write. Without
    * `output` the sorted rows are collected here, so their jobs carry
    * `graft/postprocess` and the caller gets a local relation. */
  private def postprocess(raw: DataFrame, results: DataFrame, cfg: GraftConfig): DataFrame = {
    val defs: Option[DataFrame] = cfg.annotateDefs.orElse {
      if (cfg.phewas || cfg.flipwas) {
        // no --phecode-defs needed: the public catalog ships bundled,
        // mirroring the reference (constants.py:6-16); a user-pointed
        // CSV overrides it
        Some(if (cfg.phecodeDefs.nonEmpty)
          Sources.phecodeDefs(raw.sparkSession, cfg.phecodeDefs)
        else Sources.bundledPhecodeDefs(raw.sparkSession))
      } else None
    }
    val out = defs.foldLeft(Postprocess.bonferroni(results)) { (df, d) =>
      Postprocess.annotate(df, d, if (cfg.flipwas) "predictor" else cfg.annotateOn, cfg.annotateKey)
    }
    if (cfg.output.nonEmpty) {
      // reference output naming: {prefix}_polars_mas_results.{ext}
      // (postprocessing.py:32-40); Spark writes it as a directory
      val path = s"${cfg.output}_polars_mas_results.${cfg.outputType}"
      stage(raw.sparkSession, "write")(Postprocess.sortAndWrite(out, path, cfg.outputType,
        "pval", tieBreak = Seq("predictor", "dependent")))
    } else {
      val sorted = out.orderBy(col("pval"), col("predictor"), col("dependent"))
      raw.sparkSession.createDataFrame(java.util.Arrays.asList(sorted.collect(): _*), sorted.schema)
    }
  }
}
