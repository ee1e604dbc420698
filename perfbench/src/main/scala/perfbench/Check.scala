package perfbench

import java.math.{MathContext, RoundingMode}
import java.security.MessageDigest
import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name, monotonically_increasing_id}
import graft.models.Models

/** What the benchmark expects for one sampled pair. */
final case class Expected(
    predictor: String, dependent: String, failedReason: Option[String],
    beta: Double, se: Double, pval: Double, n: Long, cases: Long)

/** Per-study facts the metrics need, once the output has passed. */
final case class Checked(digest: String, failedFrac: Double)

/**
 * Checks one study's written output against the reference contract and
 * against the benchmark's own refit of a fixed sample of pairs. The
 * refit reads the generator's raw values (`matrix.bin`), applies the
 * same preprocessing by hand (mean fill, constant drop, one-hot with the
 * first sorted level dropped, per-pair null drop) and fits with the
 * library's kernels: `Models.firthRaw` for binary pairs and
 * `Models.linearFromCentered` on two-pass centered co-moments for linear
 * ones.
 */
final class Check(spec: Spec) {
  private val c = spec.cohort
  private val binary = spec.model != "linear"
  private val minCase = 20

  private val binaryColumns = Seq("predictor", "dependent", "pval", "beta", "se", "OR", "ci_low",
    "ci_high", "cases", "controls", "total_n", "converged", "failed_reason", "equation",
    "bonferroni_significant", "phenotype", "sex", "category", "category_number")
  private val linearColumns = Seq("predictor", "dependent", "pval", "beta", "se", "ci_low", "ci_high",
    "n_observations", "converged", "failed_reason", "equation", "bonferroni_significant")
  private val expectedColumns =
    if (binary) binaryColumns
    else if (spec.phewas) linearColumns ++ Seq("phenotype", "sex", "category", "category_number")
    else linearColumns
  private val doubleCols = Set("pval", "beta", "se", "OR", "ci_low", "ci_high")

  /** Covariates as the pipeline sees them after preprocessing. */
  private lazy val design: Seq[(String, Array[Double])] = {
    val m = c.matrix
    val covs = spec.covariates.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val cats = spec.categorical.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val filled = covs.map { name =>
      val v = m(name)
      if (spec.missing == "mean" && v.exists(_.isNaN)) {
        val ok = v.filterNot(_.isNaN)
        val mean = ok.sum / ok.length
        name -> v.map(x => if (x.isNaN) mean else x)
      } else name -> v
    }
    val kept = filled.filter { case (_, v) => v.filterNot(_.isNaN).distinct.length > 1 }
    val plain = kept.filterNot { case (name, _) => cats.contains(name) }
    val dummies = kept.filter { case (name, _) => cats.contains(name) }.flatMap { case (name, v) =>
      c.catLevels.indices.drop(1).map(l => s"${name}_${c.catLevels(l)}" -> v.map(x => if (x == l) 1.0 else 0.0))
    }
    plain ++ dummies
  }

  /** The sampled pairs: a few predictors, and dependents that include a
    * sparse code (index 3), a sex-specific code (7) and common ones. */
  val sample: Seq[(String, String)] = {
    val p = c.predictors
    val d = c.dependents
    val ps = if (p.size <= 3) p else Seq(p.head, p(p.size / 2), p.last)
    val ds = Seq(0, 3, 7, d.size / 4, d.size / 2, 3 * d.size / 4 + 7, d.size - 2, d.size - 1)
      .filter(i => i >= 0 && i < d.size).distinct.map(d)
    ps.flatMap(pp => ds.map(dd => (pp, dd)))
  }

  lazy val expected: Seq[Expected] = sample.map { case (p, d) => refit(p, d) }

  private def refit(pred: String, dep: String): Expected = {
    val x = c.matrix(pred)
    val y = c.matrix(dep)
    val rows = (0 until c.n).filter(i => !x(i).isNaN && !y(i).isNaN && design.forall(!_._2(i).isNaN))
    val n = rows.size
    def fail(reason: String, cases: Long = -9L) =
      Expected(pred, dep, Some(reason), Double.NaN, Double.NaN, Double.NaN, if (binary) n else -9L, cases)
    if (binary) {
      val cases = rows.count(i => y(i) == 1.0).toLong
      if (cases < minCase) return fail(s"Insufficient case count ($cases cases).", cases)
      if (n - cases < minCase) return fail(s"Insufficient control count (${n - cases} controls).", cases)
      if (cases == n) return fail("All observations are cases.", cases)
      val covs = design.filter { case (_, v) => rows.exists(i => v(i) != v(rows.head)) }
      val kk = covs.size + 2
      val xd = new Array[Double](n * kk)
      val yy = new Array[Double](n)
      rows.zipWithIndex.foreach { case (i, r) =>
        xd(r) = x(i)
        covs.zipWithIndex.foreach { case ((_, v), j) => xd((j + 1) * n + r) = v(i) }
        xd((kk - 1) * n + r) = 1.0
        yy(r) = y(i)
      }
      try {
        val f = Models.firthRaw(xd, n, kk, yy, maxIter = 25, gtol = 1e-5, xtol = 1e-5)
        Expected(pred, dep, None, f.beta, f.se, f.pval, n, cases)
      } catch { case _: Throwable => fail("", cases) }
    } else {
      if (n < minCase) return Expected(pred, dep, Some(s"Not enough observations ($n)."),
        Double.NaN, Double.NaN, Double.NaN, -9L, -9L)
      val vars = (x +: design.map(_._2)) :+ y
      val means = vars.map(v => rows.map(v).sum / n)
      def cm(a: Int, b: Int) = rows.map(i => (vars(a)(i) - means(a)) * (vars(b)(i) - means(b))).sum
      val yi = vars.size - 1
      val keep = 0 +: (1 until yi).filter(j => math.sqrt(cm(j, j) / n) > 1e-9 * (1.0 + math.abs(means(j))))
      val cxx = DenseMatrix.tabulate(keep.size, keep.size)((a, b) => cm(keep(a), keep(b)))
      val cxy = DenseVector.tabulate(keep.size)(a => cm(keep(a), yi))
      val f = Models.linearFromCentered(cxx, cxy, cm(yi, yi), n)
      Expected(pred, dep, None, f.beta, f.se, f.pval, n, -9L)
    }
  }

  /** Read the written output back in its written order (part files in
    * name order, rows in file order). */
  def readOutput(spark: SparkSession, path: String): (Seq[String], Array[Row]) = {
    val reader = spark.read
    val df =
      if (spec.outputType == "parquet") reader.parquet(path)
      else reader.option("header", "true").option("inferSchema", "false").csv(path)
    val cols = df.columns.toSeq
    val rows = df.withColumn("__file", input_file_name()).withColumn("__id", monotonically_increasing_id())
      .orderBy(col("__file"), col("__id")).drop("__file", "__id").collect()
    (cols, rows)
  }

  private def asDouble(v: Any): Double = v match {
    case null => Double.NaN
    case d: Double => d
    case s: String => if (s.isEmpty) Double.NaN else s.toDouble
    case n: java.lang.Number => n.doubleValue
  }

  private val mc = new MathContext(10, RoundingMode.HALF_UP)

  /** A double rounded to 4 decimals (and to 10 significant digits, so
    * that values far from 1 don't carry float noise into the digest). */
  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) v.toString
    else new java.math.BigDecimal(v).round(mc).setScale(4, RoundingMode.HALF_UP)
      .stripTrailingZeros().toPlainString

  private def cell(name: String, v: Any): String =
    if (doubleCols(name)) fmt(asDouble(v)) else if (v == null) "" else v.toString

  /** Check one study's output; returns the problems found (empty = pass). */
  def check(spark: SparkSession, path: String): Either[Seq[String], Checked] = {
    val (cols, rows) = readOutput(spark, path)
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    if (cols != expectedColumns) problems += s"columns $cols != $expectedColumns"
    if (rows.length != spec.gridSize) problems += s"${rows.length} rows, expected ${spec.gridSize}"
    if (problems.nonEmpty) return Left(problems.toSeq)
    val ix = cols.zipWithIndex.toMap
    def get(r: Row, name: String): Any = r.get(ix(name))
    val pv = rows.map(r => { val p = asDouble(get(r, "pval")); if (p.isNaN) Double.PositiveInfinity else p })
    val unsorted = pv.indices.drop(1).count(i => pv(i) < pv(i - 1))
    if (unsorted > 0) problems += s"output not sorted by pval ($unsorted inversions)"
    val byPair = rows.map(r => (get(r, "predictor").toString, get(r, "dependent").toString) -> r).toMap
    if (byPair.size != rows.length) problems += "duplicate (predictor, dependent) rows"
    for (e <- expected) byPair.get((e.predictor, e.dependent)) match {
      case None => problems += s"missing pair ${e.predictor}/${e.dependent}"
      case Some(r) =>
        val reason = cell("failed_reason", get(r, "failed_reason"))
        val conv = cell("converged", get(r, "converged"))
        val nCol = if (binary) "total_n" else "n_observations"
        val outN = asDouble(get(r, nCol)).toLong
        e.failedReason match {
          case Some("") =>
            if (reason == "nan" && conv == "true") problems += s"${e.dependent}: refit failed, output did not"
          case Some(msg) =>
            if (reason != msg) problems += s"${e.dependent}: failed_reason '$reason' != '$msg'"
          case None =>
            if (reason != "nan") problems += s"${e.predictor}/${e.dependent}: unexpected failure '$reason'"
            if (outN != e.n) problems += s"${e.predictor}/${e.dependent}: n $outN != ${e.n}"
            if (binary && asDouble(get(r, "cases")).toLong != e.cases)
              problems += s"${e.dependent}: cases ${get(r, "cases")} != ${e.cases}"
            for ((name, want) <- Seq("beta" -> e.beta, "se" -> e.se, "pval" -> e.pval)) {
              val got = asDouble(get(r, name))
              val tol = if (name == "pval") 1e-6 else 1e-6 * math.max(1.0, math.abs(want))
              if (!(math.abs(got - want) <= tol))
                problems += s"${e.predictor}/${e.dependent}: $name $got != refit $want"
            }
        }
    }
    if (problems.nonEmpty) return Left(problems.toSeq)
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(cols.map(name => cell(name, get(r, name))).mkString("\t").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    val failed = rows.count(r => cell("converged", get(r, "converged")) != "true" ||
      cell("failed_reason", get(r, "failed_reason")) != "nan")
    Right(Checked(md.digest().map("%02x".format(_)).mkString, failed.toDouble / rows.length))
  }
}
