package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.json4s.JsonDSL._
import org.json4s.{JObject, JValue}
import org.json4s.jackson.JsonMethods
import graft.GraftSession
import graft.models.Models

/**
 * Runs one benchmark run as described by a spec file (see run.py):
 * set-up (a session and discarded warm-up studies), then studies in a
 * closed loop (the next study starts after the previous one's output is
 * written and checked) until the measuring time is used up, then writes
 * the metrics as JSON.
 *
 * Usage: Main <spec.json>
 */
object Main {
  private val cores = Runtime.getRuntime.availableProcessors()
  private def load1m: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def newSession(spec: Spec): SparkSession = {
    val local = new File(spec.outDir, "spark-local")
    local.mkdirs()
    val spark = GraftSession.builder(cores.toString)
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(spec.outDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val spec = Spec.load(args(0))
    val out = new File(spec.outDir, s"${spec.workload}-study").getAbsolutePath
    val cfg = spec.config(out)
    val outputPath = s"${out}_polars_mas_results.${spec.outputType}"
    val studies = mutable.ArrayBuffer.empty[JValue]
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    var digest: Option[String] = None
    var failedFrac = Double.NaN

    // set-up: one session, then discarded warm-up studies (JIT and codegen
    // need more than one pass); timed as one figure, without the output
    // checks of the warm-up studies
    val setupStart = System.nanoTime()
    val spark = newSession(spec)
    val probes = new Probes(spark)
    val sessionSeconds = (System.nanoTime() - setupStart) / 1e9
    val check = new Check(spec)

    /** Check the written output; returns false (and records why) on a failure. */
    def verify(kind: String): Boolean = check.check(spark, outputPath) match {
      case Left(ps) =>
        problems ++= ps.take(5).map(p => s"$kind: $p"); false
      case Right(c) =>
        failedFrac = c.failedFrac
        if (digest.exists(_ != c.digest)) {
          problems += s"$kind: output digest ${c.digest} differs from ${digest.get}"; false
        } else { digest = Some(c.digest); true }
    }

    val warmupSeconds = (1 to spec.warmupStudies).map { round =>
      val t0 = System.nanoTime()
      attempted += 1
      try {
        Study.untraced(probes, cfg)
        val s = (System.nanoTime() - t0) / 1e9
        if (!verify(s"warm-up study $round")) failed += 1
        s
      } catch {
        case e: Throwable =>
          failed += 1
          problems += s"warm-up study $round threw ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
          (System.nanoTime() - t0) / 1e9
      }
    }
    val setupSeconds = sessionSeconds + warmupSeconds.sum

    val untracedSeconds = mutable.ArrayBuffer.empty[Double]
    val untracedCpu = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[(TracedStudy, Map[String, Double])]

    def runOne(kind: String)(body: => JObject): Unit = {
      attempted += 1
      val before = load1m
      try {
        val info = body
        val ok = verify(kind)
        if (!ok) failed += 1
        studies += info ~ ("load1m_before" -> before) ~ ("load1m_after" -> load1m) ~ ("ok" -> ok)
      } catch {
        case e: Throwable =>
          failed += 1
          problems += s"$kind threw ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
          studies += ("kind" -> kind) ~ ("ok" -> false)
      }
    }

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (elapsed < spec.seconds || i < spec.minStudies) {
      runOne("study") {
        val s = Study.untraced(probes, cfg)
        val cpu = probes.tasks.stats("study").cpuNs / 1e9
        untracedSeconds += s; untracedCpu += cpu
        ("kind" -> "study") ~ ("study_s" -> s) ~ ("task_cpu_s" -> cpu)
      }
      if (spec.trace) runOne("traced") {
        val t = new TracedStudy(probes, cfg)
        t.run()
        val m = layerMetrics(t, probes)
        traced += ((t, m))
        ("kind" -> "traced") ~ ("total_s" -> t.total) ~
          ("spans" -> t.spans.map(s => ("name" -> s.name) ~ ("parent" -> s.parent) ~
            ("start_ns" -> s.startNs) ~ ("end_ns" -> s.endNs)).toList)
      }
      i += 1
    }

    // the same seed and program must give the same output on every run
    digest.foreach { d =>
      val f = new File(spec.stateDir,
        s"digest-${spec.workload}-seed${spec.seed}-${spec.sourceDigest.take(16)}-${spec.cohort.digest}")
      if (f.isFile) {
        val prev = new String(Files.readAllBytes(f.toPath), "UTF-8").trim
        if (prev != d) problems += s"output digest $d differs from an earlier run's $prev"
      } else {
        f.getParentFile.mkdirs()
        Files.writeString(f.toPath, d + "\n")
      }
    }

    val grid = spec.gridSize.toDouble
    // end-to-end metrics come from the untraced studies of every run;
    // a traced run adds the per-layer ones
    val studyS = median(untracedSeconds.toSeq)
    val endToEnd = Seq(("setup_s", setupSeconds, "s"),
      ("study_s", studyS, "s"),
      ("pairs_per_s", grid / studyS, "pairs/s"),
      ("task_cpu_s", median(untracedCpu.toSeq), "s"),
      ("pairs_failed_frac", failedFrac, "ratio"))
    val perLayer =
      if (!spec.trace) Nil
      else {
        val names = traced.headOption.map(_._2.keys.toSeq.sorted).getOrElse(Nil)
        val layer = names.map(n => (n, median(traced.map(_._2(n)).toSeq), unitOf(n)))
        val overhead = median(traced.map(_._1.total).toSeq) - studyS
        layer ++ modelsLayer(spec) :+ (("trace.overhead_s", overhead, "s"))
      }
    val metrics = endToEnd ++ perLayer

    val correct = failed == 0 && problems.isEmpty
    val result = ("correct" -> correct) ~ ("attempted" -> attempted) ~ ("failed" -> failed) ~
      ("metrics" -> metrics.map { case (n, v, u) => n -> (("value" -> v) ~ ("unit" -> u)) }.toMap) ~
      ("problems" -> problems.toList) ~
      ("stamps" -> (("nproc" -> cores) ~ ("cores_used" -> cores) ~
        ("jvm" -> System.getProperty("java.version")) ~ ("spark" -> spark.version) ~
        ("source_digest" -> spec.sourceDigest) ~ ("session_s" -> sessionSeconds) ~
        ("warmup_studies_s" -> warmupSeconds.toList) ~
        ("workload" -> spec.workload) ~ ("seed" -> spec.seed) ~ ("digest" -> digest) ~
        ("load1m_before_after" -> studies.toList.map(s =>
          List(s \ "load1m_before", s \ "load1m_after"))))) ~
      ("studies" -> studies.toList)
    stopSession(spark)
    Files.writeString(new File(spec.resultPath).toPath, JsonMethods.compact(JsonMethods.render(result)))
  }

  private def unitOf(name: String): String = name.split('.').last match {
    case s if s.endsWith("_s") => "s"
    case s if s.endsWith("_bytes") || s == "bytes_written" => "bytes"
    case s if s.endsWith("_mb") => "MB"
    case "task_skew" | "passes" => "ratio"
    case _ => "count"
  }

  /** Per-layer metrics of one traced study. */
  private def layerMetrics(t: TracedStudy, p: Probes): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    for (layer <- Seq("sources", "preprocess")) {
      val g = p.tasks.stats(layer)
      m(s"$layer.call_s") = t.callSeconds(layer)
      m(s"$layer.task_cpu_s") = g.cpuNs / 1e9
      m(s"$layer.input_bytes") = g.inputBytes.toDouble
      m(s"$layer.jobs") = g.jobs.toDouble
    }
    val melt = p.tasks.stats("melt")
    m("melt.wall_s") = t.selfSeconds("melt")
    m("melt.task_cpu_s") = melt.cpuNs / 1e9
    m("melt.rows_out") = t.meltRowsOut.toDouble
    m("melt.passes") = t.programGenerateRows.toDouble / math.max(1L, t.meltGenerateRows)
    val fit = p.tasks.stats("fit")
    m("fit.call_s") = t.callSeconds("fit")
    m("fit.wall_s") = t.selfSeconds("fit")
    m("fit.task_cpu_s") = fit.cpuNs / 1e9
    m("fit.jobs") = fit.jobs.toDouble
    m("fit.tasks") = fit.tasks.toDouble
    m("fit.input_bytes") = fit.inputBytes.toDouble
    m("fit.shuffle_write_bytes") = fit.shuffleWriteBytes.toDouble
    m("fit.shuffle_fetch_wait_s") = fit.fetchWaitMs / 1e3
    m("fit.gc_s") = fit.gcMs / 1e3
    m("fit.spill_bytes") = fit.spillBytes.toDouble
    m("fit.peak_exec_mb") = fit.peakExecBytes / 1e6
    m("fit.task_skew") = fit.skew
    val post = p.tasks.stats("postprocess")
    m("postprocess.wall_s") = t.selfSeconds("postprocess")
    m("postprocess.jobs") = post.jobs.toDouble
    m("postprocess.bytes_written") = post.outputBytes.toDouble
    m.toMap
  }

  /**
   * The models layer on its own: `Models.firthRaw` called directly on one
   * thread, on pair arrays built from the phewas cohort (the in-task
   * path's k=5 and k=20 designs after one-hot), median ms per pair.
   * gram_flops_k20 is computed, not measured: n·k² per IRLS pass.
   */
  private def modelsLayer(spec: Spec): Seq[(String, Double, String)] = {
    val c = Cohort.load(spec.modelsCohortDir)
    val m = c.matrix
    val cat = m("cat3")
    val dummies = Seq(cat.map(v => if (v == 1.0) 1.0 else 0.0), cat.map(v => if (v == 2.0) 1.0 else 0.0))
    val pcs = c.columns.filter(_.startsWith("pc"))
    def covs(k20: Boolean) = (Seq("sex", "age", "bmi") ++ (if (k20) pcs else pcs.take(1))).map(m) ++ dummies
    val x = m(c.predictors.head)
    // common, not sex-specific codes: the top half of the prevalence grid
    val deps = c.dependents.indices.filter(d => d >= c.dependents.size / 2 && d % 20 != 7).take(24).map(c.dependents)
    def pairs(k20: Boolean) = deps.map { d =>
      val y = m(d)
      val cv = covs(k20)
      val rows = (0 until c.n).filter(i => !x(i).isNaN && !y(i).isNaN)
      val n = rows.size
      val kk = cv.size + 2
      val xd = new Array[Double](n * kk)
      rows.zipWithIndex.foreach { case (i, r) =>
        xd(r) = x(i)
        cv.zipWithIndex.foreach { case (v, j) => xd((j + 1) * n + r) = v(i) }
        xd((kk - 1) * n + r) = 1.0
      }
      (xd, n, kk, rows.map(y).toArray)
    }
    def msPerPair(k20: Boolean): Double = {
      val ps = pairs(k20)
      // two untimed passes first: on the linear workload nothing else has
      // run this kernel, so it is not yet compiled
      for (_ <- 1 to 2; (xd, n, kk, y) <- ps) Models.firthRaw(xd, n, kk, y)
      median(ps.map { case (xd, n, kk, y) =>
        val t0 = System.nanoTime()
        Models.firthRaw(xd, n, kk, y)
        (System.nanoTime() - t0) / 1e6
      })
    }
    val k20 = pairs(k20 = true)
    val flops = k20.map { case (_, n, kk, _) => n.toDouble * kk * kk }.sum / k20.size
    Seq(("models.firth_ms_k5", msPerPair(k20 = false), "ms"),
      ("models.firth_ms_k20", msPerPair(k20 = true), "ms"),
      ("models.gram_flops_k20", flops, "flops"))
  }
}
