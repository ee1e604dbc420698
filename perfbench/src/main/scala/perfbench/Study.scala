package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import graft.{GraftConfig, Pipeline}
import graft.operators.{Association, Postprocess, Preprocess}
import graft.sources.Sources

/** One timed interval of a traced study. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Listeners of one SparkSession, registered once per session. */
final class Probes(val spark: SparkSession) {
  val tasks = new TaskMetricsListener
  val generate = new GenerateRowsListener
  spark.sparkContext.addSparkListener(tasks)
  spark.listenerManager.register(generate)

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def reset(): Unit = { drain(); tasks.reset(); generate.reset() }
}

object Study {

  /** Untraced: the whole study through the public entry point. Returns
    * its wall seconds; task metrics land under job group "study". */
  def untraced(p: Probes, cfg: GraftConfig): Double = {
    p.reset()
    p.spark.sparkContext.setJobGroup("study", "study", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try Pipeline.run(p.spark, cfg)
    finally p.spark.sparkContext.clearJobGroup()
    val s = (System.nanoTime() - t0) / 1e9
    p.drain()
    s
  }
}

/**
 * A traced study: the same public functions `Pipeline.run` calls, in the
 * same order, on the same inputs, with a job group and a span around each
 * layer. Each layer's output is materialized (noop write) before the next
 * call; nothing is persisted, so every layer does the work it does
 * untraced, and the materializations are the tracing overhead. The fit's
 * output (one row per pair) is collected, so postprocessing measures only
 * its own work.
 */
final class TracedStudy(p: Probes, cfg: GraftConfig) {
  require(!cfg.maleOnly && !cfg.femaleOnly && !cfg.rint && !cfg.logt && !cfg.flipwas &&
    !cfg.distributed && cfg.orderCol.isEmpty && cfg.annotateDefs.isEmpty,
    "the traced study follows Pipeline.run only for configurations without sex filter, " +
      "order column, dependent transforms, flipwas, forced distributed fits or direct defs")
  private val spark = p.spark
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val callSeconds = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var meltRowsOut = 0L
  var meltGenerateRows = 0L
  var programGenerateRows = 0L

  private def span[T](name: String, parent: String = "study")(body: => T): T = {
    val outer = Option(sc.getLocalProperty(PerfbenchBus.JobGroupKey))
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, parent, t0, System.nanoTime())
      outer match {
        case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def timedCall[T](layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally callSeconds(layer) += (System.nanoTime() - t0) / 1e9
  }

  /** The benchmark's own materialization: not counted as program work. */
  private def materialize(df: DataFrame): Unit = {
    p.drain()
    p.generate.muted = true
    try df.write.format("noop").mode("overwrite").save()
    finally { p.drain(); p.generate.muted = false }
  }

  private def resolve(df: DataFrame, spec: String): Seq[String] =
    if (spec.trim.isEmpty) Nil else Preprocess.selectColumns(df, spec).columns.toSeq

  def run(): Unit = {
    p.reset()
    val t0 = System.nanoTime()
    val raw = span("sources") {
      val r = timedCall("sources")(Sources.read(spark, cfg.input, cfg.nullValues))
      materialize(r)
      r
    }
    val (df, acfg) = span("preprocess") {
      val (predictors, dependents, covs0, categoricals) = timedCall("preprocess") {
        (resolve(raw, cfg.predictors), resolve(raw, cfg.dependents),
          resolve(raw, cfg.covariates), resolve(raw, cfg.categoricalCovariates))
      }
      var covariates = covs0
      var df = raw.select((predictors ++ dependents ++ covariates).distinct.map(col): _*)
      timedCall("preprocess") {
        if (covariates.nonEmpty) cfg.missingCovariateValues match {
          case "fail" =>
            // the pipeline's inline null check, one eager aggregate
            val aggs = count(lit(1)).as("__rows") +:
              covariates.map(c => sum(col(c).isNull.cast("long")).as(c))
            val nulls = df.agg(aggs.head, aggs.tail: _*).head()
            covariates.foreach(c => require(nulls.getAs[Long](c) == 0, s"nulls in covariate $c"))
          case "drop" => df = df.na.drop(covariates)
          case s => df = Preprocess.fillNulls(df, covariates, s)
        }
        if (covariates.nonEmpty) {
          df = Preprocess.dropConstant(df, covariates)
          covariates = covariates.filter(df.columns.contains)
        }
        if (categoricals.nonEmpty) {
          val before = df.columns.toSet
          df = Preprocess.oneHot(df, categoricals)
          covariates = covariates.filterNot(categoricals.contains) ++ df.columns.filterNot(before.contains)
        }
      }
      materialize(df)
      (df, Association.Config(predictors, dependents, covariates, model = cfg.model,
        minCaseCount = cfg.minCaseCount))
    }
    val melted = span("melt") {
      val m = Association.melt(df, acfg)
      materialize(m)
      meltGenerateRows = p.generate.lastMutedGenerateRows
      meltRowsOut = p.generate.lastMutedFilterRows
      m
    }
    val results = span("fit") {
      val r = timedCall("fit") {
        if (acfg.model == "linear") Association.linear(melted, acfg) else Association.binary(melted, acfg)
      }
      val rows = r.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), r.schema)
    }
    span("postprocess") {
      var out = Postprocess.bonferroni(results)
      if (cfg.phewas) {
        val defs = span("sources", parent = "postprocess") {
          timedCall("sources")(Sources.phecodeDefs(spark, cfg.phecodeDefs))
        }
        out = Postprocess.annotate(out, defs, cfg.annotateOn, cfg.annotateKey)
      }
      Postprocess.sortAndWrite(out, s"${cfg.output}_polars_mas_results.${cfg.outputType}",
        cfg.outputType, "pval", tieBreak = Seq("predictor", "dependent"))
    }
    spans += Span("study", "", t0, System.nanoTime())
    p.drain()
    programGenerateRows = p.generate.rows
  }

  /** Time in a layer's spans minus the time of spans nested in them. */
  def selfSeconds(name: String): Double =
    spans.filter(_.name == name).map(_.seconds).sum - spans.filter(_.parent == name).map(_.seconds).sum
  def total: Double = spans.find(_.name == "study").map(_.seconds).getOrElse(0.0)
}
