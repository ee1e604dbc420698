package graft

import org.apache.spark.sql.SparkSession

/**
 * CLI entry point mirroring the reference's command surface
 * (/root/reference/src/polars_mas/cli.py): same long/short flag names,
 * same defaults (firth, min-case-count 20, output-type csv, sex-col
 * "sex", female-code 1), same boolean store_true flags and mutually-
 * exclusive groups, `i:` column specs supported everywhere.
 *
 * Example:
 *   spark-submit --class graft.Main graft.jar \
 *     -i cohort.tsv -nv NA,-9 -p exposure -d i:10-1800 -c age,sex \
 *     --model firth --min-case-count 50 --phewas \
 *     --phecode-defs phecode_definitions1.2.csv -o /out/assoc
 *
 * Divergences (documented, fail-fast): --num-workers/--threads are
 * accepted but ignored (Spark owns parallelism); --phewas/--flipwas
 * fall back to the BUNDLED PheCode catalog (classpath resource,
 * Pipeline.scala) when --phecode-defs is not given — pass the flag
 * only to override it with a newer catalog CSV; forward/backward fill
 * and --rint need --order-col (no file row order in a distributed
 * engine).
 */
object Main {

  /** argparse-style store_true flags (cli.py). */
  private val boolFlags = Set(
    "dry-run", "quantitative", "rint", "logt", "phewas", "flipwas",
    "male-only", "female-only", "verbose", "quiet")

  /** Short aliases, exactly the reference's (cli.py). */
  private val shortAliases = Map(
    "i" -> "input", "o" -> "output", "p" -> "predictors", "d" -> "dependents",
    "c" -> "covariates", "cc" -> "categorical-covariates", "nv" -> "null-values",
    "ot" -> "output-type", "n" -> "num-workers", "t" -> "threads",
    "qt" -> "quantitative", "m" -> "model", "mc" -> "min-case-count",
    "mcv" -> "missing-covariate-values", "v" -> "verbose", "q" -> "quiet")

  /** Valued long flags — the full known-flag set (with boolFlags), so
    * typos fail fast like the reference's argparse instead of being
    * silently ignored. */
  private val valuedFlags = Set(
    "input", "output", "predictors", "dependents", "covariates",
    "categorical-covariates", "null-values", "output-type", "num-workers",
    "threads", "model", "min-case-count", "missing-covariate-values",
    "phecode-defs", "sex-col", "female-code", "order-col")

  private[graft] def parseArgs(args: Array[String]): GraftConfig = {
    val m = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("-"), s"Expected --flag, got '$a'")
      val key0 = if (a.startsWith("--")) a.drop(2) else a.drop(1)
      val key = if (a.startsWith("--")) key0 else shortAliases.getOrElse(key0,
        throw new IllegalArgumentException(s"Unknown flag -$key0"))
      require(boolFlags.contains(key) || valuedFlags.contains(key),
        s"Unknown flag --$key")
      if (boolFlags.contains(key)) { m(key) = "true"; i += 1 }
      else {
        require(i + 1 < args.length, s"Missing value for --$key")
        m(key) = args(i + 1); i += 2
      }
    }
    def req(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"Missing required --$k"))
    val outputType = m.getOrElse("output-type", "csv")
    require(Seq("parquet", "csv", "tsv", "txt").contains(outputType),
      s"--output-type must be one of parquet|csv|tsv|txt, got '$outputType'")
    GraftConfig(
      input = req("input"),
      predictors = req("predictors"),
      dependents = req("dependents"),
      covariates = m.getOrElse("covariates", ""),
      categoricalCovariates = m.getOrElse("categorical-covariates", ""),
      nullValues = m.get("null-values").map(_.split(",").toSeq).getOrElse(Nil),
      model = m.getOrElse("model", "firth"),
      missingCovariateValues = m.getOrElse("missing-covariate-values", "fail"),
      minCaseCount = m.getOrElse("min-case-count", "20").toInt,
      quantitative = m.getOrElse("quantitative", "false").toBoolean,
      rint = m.getOrElse("rint", "false").toBoolean,
      logt = m.getOrElse("logt", "false").toBoolean,
      phewas = m.getOrElse("phewas", "false").toBoolean,
      flipwas = m.getOrElse("flipwas", "false").toBoolean,
      phecodeDefs = m.getOrElse("phecode-defs", ""),
      sexCol = m.getOrElse("sex-col", "sex"),
      femaleCode = m.getOrElse("female-code", "1").toDouble,
      maleOnly = m.getOrElse("male-only", "false").toBoolean,
      femaleOnly = m.getOrElse("female-only", "false").toBoolean,
      orderCol = m.getOrElse("order-col", ""),
      output = m.getOrElse("output", ""),
      outputType = outputType,
      dryRun = m.getOrElse("dry-run", "false").toBoolean)
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    // spark-submit injects spark.master; fall back to local outside it
    val spark =
      if (sys.props.contains("spark.master")) SparkSession.builder().appName("graft").getOrCreate()
      else GraftSession.get()
    run(spark, cfg)
    spark.stop()
  }

  /** One CLI invocation on `spark`: the pipeline, its results shown
    * when there is no output prefix, or on `--dry-run` the
    * configuration summary of the input (read under `graft/read`). */
  private[graft] def run(spark: SparkSession, cfg: GraftConfig): Unit =
    if (cfg.dryRun) {
      // summary-and-exit, like the reference's --dry-run (cli.py:11-15)
      println(Pipeline.summary(Pipeline.read(spark, cfg), cfg))
    } else {
      val results = Pipeline.run(spark, cfg)
      if (cfg.output.isEmpty) results.show(50, truncate = false)
    }
}
