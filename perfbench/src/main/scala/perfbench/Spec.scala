package perfbench

import java.io.{File, FileInputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.GraftConfig

/** One run's instructions, written by run.py as JSON. */
final case class Spec(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cohortDir: String,
    modelsCohortDir: String,   // the phewas cohort, for the models layer (trace runs)
    outDir: String,
    stateDir: String,          // digests of earlier runs, keyed by source digest
    resultPath: String,
    sourceDigest: String,
    warmupStudies: Int,
    minStudies: Int,
    predictors: String,
    covariates: String,
    categorical: String,
    model: String,
    missing: String,
    nullValues: Seq[String],
    phewas: Boolean,
    outputType: String) {

  val cohort: Cohort = Cohort.load(cohortDir)

  /** The study's configuration, exactly as a user would pass it. */
  def config(output: String): GraftConfig = GraftConfig(
    input = new File(cohortDir, cohort.input).getPath,
    predictors = predictors,
    dependents = s"i:${cohort.depStart}-${cohort.depStart + cohort.dependents.size}",
    covariates = covariates,
    categoricalCovariates = categorical,
    nullValues = nullValues,
    model = model,
    missingCovariateValues = missing,
    quantitative = model == "linear",
    phewas = phewas,
    phecodeDefs = if (phewas) new File(cohortDir, "phecode_defs.csv").getPath else "",
    output = output,
    outputType = outputType)

  def gridSize: Long = cohort.predictors.size.toLong * cohort.dependents.size
}

object Spec {
  implicit val formats: Formats = DefaultFormats

  def load(path: String): Spec = {
    val j = JsonMethods.parse(new FileInputStream(path))
    Spec(
      workload = (j \ "workload").extract[String],
      seed = (j \ "seed").extract[Long],
      seconds = (j \ "seconds").extract[Double],
      trace = (j \ "trace").extract[Boolean],
      cohortDir = (j \ "cohort_dir").extract[String],
      modelsCohortDir = (j \ "models_cohort_dir").extract[String],
      outDir = (j \ "out_dir").extract[String],
      stateDir = (j \ "state_dir").extract[String],
      resultPath = (j \ "result_path").extract[String],
      sourceDigest = (j \ "source_digest").extract[String],
      warmupStudies = (j \ "warmup_studies").extract[Int],
      minStudies = (j \ "min_studies").extract[Int],
      predictors = (j \ "predictors").extract[String],
      covariates = (j \ "covariates").extract[String],
      categorical = (j \ "categorical").extract[String],
      model = (j \ "model").extract[String],
      missing = (j \ "missing").extract[String],
      nullValues = (j \ "null_values").extract[Seq[String]],
      phewas = (j \ "phewas").extract[Boolean],
      outputType = (j \ "output_type").extract[String])
  }
}

/** A generated cohort as written by gen.py: the column list and the
  * raw values (`matrix.bin`, column-major float64, NaN = null). */
final class Cohort(val dir: String, val n: Int, val columns: Seq[String], val input: String,
    val predictors: Seq[String], val dependents: Seq[String], val catLevels: Seq[String]) {
  val depStart: Int = columns.indexOf(dependents.head)

  /** Short digest of the cohort's MANIFEST: names this exact input. */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(java.nio.file.Files.readAllBytes(new File(dir, "MANIFEST").toPath))
      .take(8).map("%02x".format(_)).mkString
  }

  lazy val matrix: Map[String, Array[Double]] = {
    val ch = FileChannel.open(new File(dir, "matrix.bin").toPath, StandardOpenOption.READ)
    try {
      val buf = ByteBuffer.allocate(ch.size.toInt).order(ByteOrder.LITTLE_ENDIAN)
      while (buf.hasRemaining && ch.read(buf) >= 0) {}
      buf.flip()
      val all = buf.asDoubleBuffer()
      columns.map { c => val a = new Array[Double](n); all.get(a); c -> a }.toMap
    } finally ch.close()
  }
}

object Cohort {
  implicit val formats: Formats = DefaultFormats

  def load(dir: String): Cohort = {
    val j = JsonMethods.parse(new FileInputStream(new File(dir, "cohort.json")))
    new Cohort(dir, (j \ "n").extract[Int], (j \ "columns").extract[Seq[String]],
      (j \ "input").extract[String], (j \ "predictor_names").extract[Seq[String]],
      (j \ "dependent_names").extract[Seq[String]], (j \ "cat_levels").extract[Seq[String]])
  }
}
