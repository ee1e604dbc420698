package graft

import java.util.Locale
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Association, Mas}

/** Benchmark main: times every registered query at the configured
  * scale factor and prints two JSON lines, a detail line and a compact
  * headline line (always the last stdout line). Materializes through
  * the noop sink (count() would let Catalyst drop sorts/projections);
  * runs one untimed warm-up query first so JVM/codegen startup isn't
  * billed to whichever query runs first; fixed alphabetical order.
  *
  * It reads two environment variables: `SPARK_GRAFT_SF_DIR` (default
  * sf0.1) and `SPARK_GRAFT_BENCH_ONLY`. `mas` skips the per-query sweep
  * and times only the MAS headline shapes; any other value is a
  * comma-separated list of query names or short ids to sweep, with
  * the headline, probe and scale segments skipped.
  *
  * Every published number is measured by the run that publishes it. A
  * query that throws is listed under `failed`, never timed. End-to-end
  * study numbers (cohort file → written results) come from
  * `perfbench/`; this main times operators and the fit alone. */
object Bench {
  /** Reps per MAS headline shape; the headline is their min. */
  private val MasReps = 3
  /** Longest wait, in seconds, for the host load to fall below 8. */
  private val LoadGateWaitSecs = 600
  /** The last stdout line is read through a 2000-char tail buffer. */
  private[graft] val TailBound = 1900

  private def f1(x: Double): String = "%.1f".formatLocal(Locale.ROOT, x)
  private def f3(x: Double): String = "%.3f".formatLocal(Locale.ROOT, x)
  /** 2 dp with trailing zeros trimmed ("1.5", "12.17", "3"). */
  private[graft] def fq(x: Double): String = {
    val t = "%.2f".formatLocal(Locale.ROOT, x).reverse.dropWhile(_ == '0').reverse
    if (t.endsWith(".")) t.dropRight(1) else t
  }
  private def jsonObj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
  private def jsonStrs(xs: Seq[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** Per-query JSON keys compress to the canonical short id (a01,
    * q12, d05b …); mas_* headlines stay full. */
  def shortId(name: String): String =
    if (name.startsWith("mas_")) name else name.takeWhile(_ != '_')

  /** The queries a `SPARK_GRAFT_BENCH_ONLY` name list selects. Each
    * comma-separated token is a full query name or a short id; a token
    * that matches nothing is an error, not an empty sweep. */
  private[graft] def selectQueries(spec: String, names: Iterable[String]): Set[String] = {
    val tokens = spec.split(",").map(_.trim).filter(_.nonEmpty)
    require(tokens.nonEmpty, "SPARK_GRAFT_BENCH_ONLY names no query")
    tokens.flatMap { t =>
      val hits = names.filter(n => n == t || shortId(n) == t)
      require(hits.nonEmpty, s"SPARK_GRAFT_BENCH_ONLY: no query matches '$t'")
      hits
    }.toSet
  }

  /** Seconds `body` took, or None when it threw: a failure must never
    * read as a fast time. */
  private[graft] def attempt(body: => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    val ok = try { body; true } catch { case _: Throwable => false }
    if (ok) Some((System.nanoTime() - t0) / 1e9) else None
  }

  /** The per-query sweep, min-of-2: a single shot on a shared host has
    * measured 17× swings on unchanged plans. A > 40 % spread between the
    * two reps adds a third. Each timed query carries the load average
    * sampled after its reps. A query with any throwing rep is returned
    * in the second list instead. */
  private[graft] def sweep(names: Seq[String], rep: String => Option[Double],
      load: () => Double): (Seq[(String, Double, Double)], Seq[String]) = {
    val timed = names.map { n =>
      n -> rep(n).flatMap(r1 => rep(n).flatMap { r2 =>
        val mn = math.min(r1, r2)
        if (mn > 0.15 && math.abs(r1 - r2) / mn > 0.4) rep(n).map(math.min(mn, _))
        else Some(mn)
      }).map(t => (t, load()))
    }
    (timed.collect { case (n, Some((t, l))) => (n, t, l) }, timed.collect { case (n, None) => n })
  }

  /** One scale_slope entry: `[t1, t10, loads…]`, one load stamp per
    * one-shot point. */
  private[graft] def slopeEntry(key: String, t1: Double, t10: Double, loads: Double*): String =
    s""""$key":[${(Seq(t1, t10).map("%.2f".formatLocal(Locale.ROOT, _)) ++ loads.map(f1))
      .mkString(",")}]"""

  /** The deterministic synthetic MAS cohort as a wide frame: n samples
    * (rows) of a predictor x, d dependents dep_0… and k covariates z1…,
    * x uniform in [-2, 2), dep_j ~ Bernoulli(sigmoid(0.8x − 2 + dep
    * offset)), every value hash-derived. */
  private[graft] def masWide(spark: SparkSession, n: Int, d: Int, k: Int): DataFrame = {
    def unit(keys: Column*): Column =
      pmod(xxhash64(keys: _*), lit(1000003)) / 1000003.0
    val deps = (0 until d).map { di =>
      (unit(col("id"), lit(di.toLong), lit(7)) < lit(1.0) / (lit(1.0) +
        exp(-(col("x") * 0.8 - 2.0 + (di % 7).toDouble * 0.1)))).cast("double").as(s"dep_$di")
    }
    val covs = (1 to k).map(c => unit(col("id"), lit(c + 100)).as(s"z$c"))
    spark.range(n.toLong).select(col("id"), (unit(col("id"), lit(1)) * 4.0 - 2.0).as("x"))
      .select((col("x") +: deps) ++ covs: _*)
  }

  private[graft] def masCfg(d: Int, k: Int): Association.Config =
    Association.Config(Seq("x"), (0 until d).map(i => s"dep_$i"),
      (1 to k).map(c => s"z$c"), model = "firth", minCaseCount = 10)

  /** Where the 10× corpus derived from `sfDir` lives: one directory per
    * absolute source directory, so a run at one scale factor never
    * reuses another's corpus. */
  private[graft] def scale10xPath(sfDir: String): String = {
    val abs = new java.io.File(sfDir).getAbsoluteFile.toPath.normalize.toString
    "/tmp/graft_scale10x_v4/" + abs.replaceAll("[^A-Za-z0-9._-]", "_") + "-" +
      Integer.toHexString(abs.hashCode)
  }

  /** Per-replica offsets of the a46/a49 10× cohort: replica r adds
    * r × offset to each column. */
  private[graft] val RankReplicaOffsets =
    Seq("id" -> 1e7, "x" -> 1e5, "y_avg" -> 1e7, "y_max" -> 1e7, "y_cnt" -> 1e3)

  /** Columns whose value span (max − min) reaches its replica offset.
    * Replicas are value-disjoint exactly when every span is below its
    * offset; one aggregate over `coh` decides it. */
  private[graft] def rankReplicaCollisions(coh: DataFrame): Seq[String] = {
    val spans = RankReplicaOffsets.map { case (c, _) => (max(col(c)) - min(col(c))).cast("double") }
    val row = coh.agg(spans.head, spans.tail: _*).head()
    RankReplicaOffsets.zipWithIndex.collect {
      case ((c, off), i) if !row.isNullAt(i) && row.getDouble(i) >= off => c
    }
  }

  /** The 10× a46/a49 cohort: ten replicas, each offset by a replica
    * constant, so within-replica rank structure is preserved exactly
    * while the value sets (the tie tables, the range-partitioned
    * prefix scan and the rank join) grow 10×. A plain row replica
    * would keep the tie tables constant and only scale the counts. */
  private def rankReplica(coh: DataFrame): DataFrame =
    coh.select(col("xbin") +: RankReplicaOffsets.map(c => col(c._1)) :+
        explode(array((0 until 10).map(lit): _*)).as("r"): _*)
      .select(col("xbin") +: RankReplicaOffsets.map { case (c, off) =>
        (col(c) + col("r") * lit(off)).cast(coh.schema(c).dataType).as(c)
      }: _*)

  /** Builds the 10× corpus once per `sfDir` (marker file `_GRAFT_DONE`);
    * None when any part of it fails. */
  private def scale10xDir(spark: SparkSession, sfDir: String): Option[String] =
    try {
      val out = scale10xPath(sfDir)
      val marker = new java.io.File(out + "/_GRAFT_DONE")
      if (!marker.exists()) {
        val reps = explode(array((0 until 10).map(lit): _*)).as("r")
        // replica r > 0 applies a per-replica VOCABULARY SUBSTITUTION
        // (every word gets an r-derived suffix): a bijection on words,
        // so word sequences, n-gram structure and every within-replica
        // Jaccard similarity are preserved EXACTLY — the corpus's real
        // near-dup pair density scales 10× — while replica
        // vocabularies are disjoint, so no artificial cross-replica
        // near-dups appear
        spark.read.parquet(sfDir + "/documents.parquet")
          .select(col("doc_id"), col("text"), col("lang"), col("source"), reps)
          .select((col("doc_id") + col("r").cast("long") * 1000000L).as("doc_id"),
            when(col("r") === 0, col("text")).otherwise(
              array_join(transform(split(col("text"), " "),
                w => concat(w, lit("zq"), col("r").cast("string"))), " ")).as("text"),
            col("lang"), col("source"))
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            length(col("text")).as("n_chars"))
          .write.mode("overwrite").parquet(out + "/documents.parquet")
        // embeddings: per-replica random sign flips, an orthogonal
        // transform — within-replica cosine geometry is exactly the
        // original's, cross-replica similarity is scrambled
        spark.read.parquet(sfDir + "/embeddings.parquet")
          .select(col("vec_id"), col("embedding"), col("label"), reps)
          .select((col("vec_id") + col("r").cast("long") * 1000000L).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              when(pmod(xxhash64(col("r"), i), lit(2)) === 0, x).otherwise(-x))
              .as("embedding"),
            col("label"))
          .write.mode("overwrite").parquet(out + "/embeddings.parquet")
        // graph family: the co-order and trade edge lists at 1×, and a
        // 10× DISJOINT-UNION replica (per-replica vertex-id offset),
        // which preserves the degree distribution and every
        // within-replica wedge and triangle, so edges, wedge volume
        // and triangles all scale 10×. Both points read precomputed
        // parquet, so the join that BUILDS the graph is billed to
        // neither.
        graft.operators.Graph.coOrderEdges(spark, sfDir)
          .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
          .write.mode("overwrite").parquet(out + "/coorder_edges_1x.parquet")
        spark.read.parquet(out + "/coorder_edges_1x.parquet")
          .select(col("u"), col("v"), reps)
          .select((col("u") + col("r").cast("long") * 100000000L).as("u"),
            (col("v") + col("r").cast("long") * 100000000L).as("v"))
          .write.mode("overwrite").parquet(out + "/coorder_edges_10x.parquet")
        val trade = graft.operators.Graph.tradeEdges(spark, sfDir)
        trade.select(col("c").as("src"), col("s").as("dst"))
          .union(trade.select(col("s").as("src"), col("c").as("dst")))
          .write.mode("overwrite").parquet(out + "/trade_edges_1x.parquet")
        spark.read.parquet(out + "/trade_edges_1x.parquet")
          .select(col("src"), col("dst"), reps)
          .select(concat(col("src"), lit("#"), col("r").cast("string")).as("src"),
            concat(col("dst"), lit("#"), col("r").cast("string")).as("dst"))
          .write.mode("overwrite").parquet(out + "/trade_edges_10x.parquet")
        marker.createNewFile()
      }
      Some(out)
    } catch { case _: Throwable => None }

  /** Everything the compact last line carries. */
  private[graft] final case class Headline(
      total: Double, heads: Seq[(String, Double)], slope: Seq[String],
      failed: Seq[String], reps: Seq[(String, Seq[Double])], cpus: Int,
      registrySize: Int, loadGate: String, loadSweep: (Double, Double),
      loadAvg: Double, sf: String) {
    def json: String =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
        s""""queries":${jsonObj(heads.map { case (k, v) => k -> fq(v) })},""" +
        (if (slope.isEmpty) "" else slope.mkString(""""scale_slope":{""", ",", "},")) +
        s""""failed":${jsonStrs(failed)},"cpus":$cpus,"registry_size":$registrySize,""" +
        s""""load_sweep":[${f3(loadSweep._1)},${f3(loadSweep._2)}],""" +
        s""""load_avg":${f3(loadAvg)},$loadGate,""" +
        reps.map { case (k, ts) => s""""${k}_reps":${ts.map(fq).mkString("[", ",", "]")},""" }
          .mkString + s""""sf":"$sf"}"""
    /** The full line when it fits the tail bound, else a fixed-size
      * stub naming the file that holds the full line. */
    def lastLine: String = {
      val full = json
      if (full.length <= TailBound) full
      else s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
        s""""full":"BENCH_FINAL.json","sf":"$sf"}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val benchOnly = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val masOnly = benchOnly.contains("mas")
    val queryNames = SparkEntry.queries.keys.toSeq.sorted
    // both checks are static: fail before the session starts, not after
    // the sweep has spent minutes (two names sharing a prefix would
    // merge two timings under one JSON key)
    require(queryNames.map(shortId).distinct.size == queryNames.size,
      "bench short ids collide; disambiguate the query names")
    val onlyNames = benchOnly.filterNot(_ == "mas").map(selectQueries(_, queryNames))
    val spark = GraftSession.get()
    def loadAvg(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Load gate: wait for the host load to fall below 8 and record how
    // the gate resolved; the run proceeds either way but carries the
    // stamp that says whether to believe it.
    val gateStart = loadAvg()
    var gateWaited = 0
    while (loadAvg() > 8.0 && gateWaited < LoadGateWaitSecs) {
      Thread.sleep(30000); gateWaited += 30
    }
    val gateJson = s""""load_gate":[${f1(gateStart)},$gateWaited,${f1(loadAvg())}]"""
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def run(name: String, dir: String = sfDir): Unit = noop(SparkEntry.queries(name)(spark, dir))
    // operators may persist intermediates (signature tables); drop them
    // so later queries aren't billed for foreign cache memory
    def timed(body: => Unit): Option[Double] = {
      val t = attempt(body)
      spark.catalog.clearCache()
      t
    }
    try run("q02_filter_project") catch { case _: Throwable => () } // warm-up, untimed
    // Fixed-cost probe: the heavy dedup plans at the smallest SF, where
    // data cost is negligible, isolate planning + Janino compile cost
    // from the sweep's data cost. getAbsoluteFile: a bare relative
    // sfDir has a null parent.
    val probeDir = new java.io.File(sfDir).getAbsoluteFile.getParent + "/sf0.001"
    val probes =
      if (masOnly || onlyNames.isDefined || !new java.io.File(probeDir).isDirectory) Seq.empty
      else Seq("d03_dedup_minhash", "d04_dedup_simhash", "d06_dedup_components")
        .flatMap(n => timed(run(n, probeDir)).map(shortId(n) -> _))
    val loadPreSweep = loadAvg()
    val (swept, failed) = sweep(
      if (masOnly) Nil else queryNames.filter(n => onlyNames.forall(_.contains(n))),
      n => timed(run(n)), () => loadAvg())
    val results = swept.map { case (n, t, _) => n -> t }
    val loadPostSweep = loadAvg()
    // MAS headlines: the reference's two published benchmark tables at
    // the 5,000 × ~1,800 shape — 5 covariates (22.2 s) and 20 (55.7 s)
    // — through the column-block Firth fit, plus the same cohort
    // through the linear co-moments. Each shape runs
    // MasReps times, every rep stamped with the load after it; the
    // headline is the min, the least-contended estimate.
    def reps(body: => Unit): Seq[(Double, Double)] = (1 to MasReps).map { _ =>
      val t0 = System.nanoTime()
      body
      ((System.nanoTime() - t0) / 1e9, loadAvg())
    }
    val masRuns: Seq[(String, String, Seq[(Double, Double)])] =
      if (onlyNames.isDefined) Nil
      else {
        val (n, d) = (5000, 1800)
        val wide5 = masWide(spark, n, d, 5)
        Seq(
          ("mas_firth", "mas_firth_5000x1800x5cov",
            reps(noop(Association.assoc(wide5, masCfg(d, 5))))),
          ("mas_firth20", "mas_firth_5000x1800x20cov",
            reps(noop(Association.assoc(masWide(spark, n, d, 20), masCfg(d, 20))))),
          ("mas_linear", "mas_linear_5000x1800x5cov",
            reps(noop(Association.assoc(wide5, masCfg(d, 5).copy(model = "linear"))))))
      }
    val masMin = masRuns.map { case (k, _, r) => k -> r.map(_._1).min }.toMap
    val masHeads = masRuns.map { case (k, h, _) => h -> masMin(k) }
    // scale_slope: every headline family timed at two points an order
    // of magnitude apart, one post-point-stamped shot per 10× point. A
    // family whose 1× sweep entry or 10× shot failed omits its entry:
    // time-to-exception is not a scale measurement.
    def oneShot(body: => Unit): Option[(Double, Double)] = timed(body).map(_ -> loadAvg())
    val sweepMin = results.toMap
    def corpusEntry(name: String, body10x: => Unit): Option[String] =
      sweepMin.get(name).flatMap(t1 => oneShot(body10x).map { case (t, ld) =>
        slopeEntry(shortId(name), t1, t, ld)
      })
    def bothShots(key: String, body1x: => Unit, body10x: => Unit): Option[String] =
      for { (a, l1) <- oneShot(body1x); (b, l2) <- oneShot(body10x) }
        yield slopeEntry(key, a, b, l1, l2)
    val bigDir = if (masOnly || onlyNames.isDefined) None else scale10xDir(spark, sfDir)
    val rankCollided = bigDir.toSeq.flatMap(_ => rankReplicaCollisions(Mas.cohort(spark, sfDir)))
    val slope: Seq[String] = bigDir.toSeq.flatMap { big =>
      val docsBase = spark.read.parquet(sfDir + "/documents.parquet").count()
      // the 10× point runs each operator as you'd configure it at that
      // scale: d10's cluster count scales with the corpus so cluster
      // SIZE (and the quadratic within-cluster pass) stays constant,
      // and its codebook trains on a 10% sample; d05b gains 3 bucket
      // bits per decade for the same reason. The other corpus, gate
      // and continuation families read documents.parquet, so the 10×
      // corpus applies directly.
      val bodies10x: Map[String, () => Unit] = Map(
        "d05b_dedup_embedding_lsh" -> (() => noop(graft.operators.Dedup.embeddingLshDupPairs(
          graft.operators.Dedup.embCorpus(spark, big), 0.85, bitsPerBand = 9))),
        "d10_semdedup" -> (() => noop(graft.operators.Similarity.semDedup(
          graft.operators.Dedup.embCorpus(spark, big).select("vec_id", "e"),
          lists = 160, iters = 2, tau = 0.85, trainFrac = 0.1))))
      val corpusPairs = Seq("d03_dedup_minhash", "d05b_dedup_embedding_lsh", "d10_semdedup",
          "t20_repetition_gate", "d21_exact_substrings", "d16_fuzzy_contamination",
          "e16_stream_static_gate", "d22_source_overlap", "c16_interleave", "m22_srt_cues")
        .flatMap(n => corpusEntry(n, bodies10x.get(n).fold(run(n, big))(_())))
      // a46/a49 over the value-disjoint replica; a cohort whose spans
      // reach the offsets would collide, so both entries are omitted
      // and the detail line names the column instead
      val rankPairs = if (rankCollided.nonEmpty) Nil else {
        val coh10 = rankReplica(Mas.cohort(spark, sfDir))
        Seq(
          corpusEntry("a46_mann_whitney",
            noop(Mas.mannWhitney(coh10, "xbin", Seq("y_avg", "y_max", "y_cnt")))),
          corpusEntry("a49_spearman",
            noop(Mas.spearman(coh10, Seq("x", "y_avg", "y_cnt", "y_max"))))).flatten
      }
      // graph family: g02's wedge volume and g01's per-iteration shuffle
      // both scale 10× under disjoint union, so ~linear is the pass bar
      def graphBody(edges: String)(f: DataFrame => DataFrame): Unit =
        noop(f(spark.read.parquet(s"$big/$edges")))
      def g02Body(edges: String): Unit = graphBody(edges) { e =>
        graft.operators.Graph.triangles(e)
          .orderBy(col("n_triangles").desc, col("node")).limit(20)
      }
      def g01Body(edges: String): Unit = graphBody(edges) { e =>
        graft.operators.Graph.pagerank(e, iters = 5)
          .orderBy(col("rank_micro").desc, col("node")).limit(20)
      }
      val graphPairs = Seq(
        bothShots("g02", g02Body("coorder_edges_1x.parquet"), g02Body("coorder_edges_10x.parquet")),
        bothShots("g01", g01Body("trade_edges_1x.parquet"), g01Body("trade_edges_10x.parquet")))
        .flatten
      // t13 runs both points under corpus-scale BPE knobs (200 merges /
      // 20k train words), so the driver-bounded training table is
      // exercised, not the toy default
      spark.conf.set("spark.graft.bpe.merges", "200")
      spark.conf.set("spark.graft.bpe.trainWords", "20000")
      val t13 = bothShots("t13", run("t13_bpe_tokens"), run("t13_bpe_tokens", big))
      spark.conf.unset("spark.graft.bpe.merges")
      spark.conf.unset("spark.graft.bpe.trainWords")
      // MAS family: the 5k-sample headline min vs one run at 50 000 ×
      // 1800 × 5 covariates
      val bigMas = masWide(spark, 50000, 1800, 5)
      val masPairs = Seq[(String, () => Unit)](
        "mas_firth" -> (() =>
          noop(Association.assoc(bigMas, masCfg(1800, 5)))),
        "mas_linear" -> (() =>
          noop(Association.assoc(bigMas, masCfg(1800, 5).copy(model = "linear")))))
        .flatMap { case (k, body) =>
          oneShot(body()).map { case (t, ld) => slopeEntry(k, masMin(k), t, ld) }
        }
      (s""""docs":[$docsBase,${docsBase * 10}]""" +: corpusPairs) ++ rankPairs ++
        graphPairs ++ t13 ++ masPairs
    }
    val all = results ++ masHeads
    val failedIds = failed.map(shortId)
    val headline = Headline(all.map(_._2).sum, masHeads, slope, failedIds,
      masRuns.map { case (k, _, r) => k -> r.map(_._1) },
      spark.sparkContext.defaultParallelism, SparkEntry.queries.size, gateJson,
      (loadPreSweep, loadPostSweep), loadAvg(), sfDir)
    // The full detail (per-query sweep, per-query loads, per-rep MAS
    // loads, codegen probe) goes to an earlier line and a file; the
    // last line is the compact headline.
    val detailJson =
      s"""{"metric":"detail","unit":"sec",""" +
        s""""queries":${jsonObj(all.map { case (k, v) => shortId(k) -> fq(v) })},""" +
        s""""queries_load":${jsonObj(swept.map { case (k, _, l) => shortId(k) -> f1(l) })},""" +
        s""""mas_reps_loads":${jsonObj(masRuns.map { case (k, _, r) =>
          k -> r.map(x => f1(x._2)).mkString("[", ",", "]") })},$gateJson,""" +
        s""""codegen_probe":${jsonObj(probes.map { case (k, v) => k -> fq(v) })},""" +
        s""""failed":${jsonStrs(failedIds)},""" +
        (if (rankCollided.isEmpty) ""
         else s""""rank_replica_collides":${jsonStrs(rankCollided)},""") +
        s""""sf":"$sfDir"}"""
    def writeFile(name: String, line: String): Unit =
      try {
        val w = new java.io.PrintWriter(name, "UTF-8")
        try w.println(line) finally w.close()
      } catch { case _: Throwable => () }
    writeFile("BENCH_DETAIL.json", detailJson)
    writeFile("BENCH_FINAL.json", headline.json)
    // ERROR level from here on: Spark's stop/shutdown-hook INFO lines
    // must not print after the JSON — the last line is parsed.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(detailJson)
    println(headline.lastLine)
  }
}
