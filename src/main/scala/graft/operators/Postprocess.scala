package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DoubleType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.Tables

/**
 * Postprocessing operators mirroring the reference's postprocessing
 * stage (/root/reference/src/polars_mas/postprocessing.py): Bonferroni
 * flag, definitions annotate join, sort + multi-format write — plus
 * the README-roadmap BH-FDR correction.
 *
 * Scale note: these run over the RESULTS table (one row per
 * (predictor, dependent) pair) — smaller than the input data, but a
 * 10M-pair flipwas is still 10M rows, so nothing here may funnel
 * through a single task: BH runs on a distributed range-sort with
 * per-partition suffix scans (no global window). The one exception is
 * [[onDriver]], the pipeline's Bonferroni/annotate/sort: it reads a
 * grid the fit has already collected to the driver, so it adds no
 * bound that the fit does not have.
 */
object Postprocess {

  /** Bonferroni flag (postprocessing.py:14-20): threshold =
    * alpha / #non-null pvals; one aggregate row broadcast back. */
  def bonferroni(df: DataFrame, pvalCol: String = "pval", alpha: Double = 0.05): DataFrame = {
    val nTests = df.agg(count(col(pvalCol)).as("__n_tests"))
    df.crossJoin(broadcast(nTests))
      .withColumn("bonferroni_significant", col(pvalCol) < (lit(alpha) / col("__n_tests")))
      .drop("__n_tests")
  }

  /**
   * Benjamini-Hochberg adjusted p-values (roadmap item):
   * p_adj(i) = min_{j ≥ i} min(1, m·p(j)/j) over ascending ranks.
   *
   * Scale shape: a global window would collapse the whole results
   * table into one task (the round-2 WindowExec warning). Instead:
   * ranks come from a distributed range-sort + `zipWithIndex`
   * (per-partition offsets, one light count job — the p08 RINT
   * pattern), and the tail-side running min becomes a two-pass
   * suffix-min: per-partition minima (tiny collect, one value per
   * partition) are suffix-combined on the driver and broadcast back,
   * then each partition scans backwards locally. Every pass is
   * parallel over range partitions; driver traffic is O(#partitions).
   *
   * Ties need no explicit break: every member of a tied p-value run
   * shares the suffix beyond the run plus the run's own minimum
   * m·p/rank, which is attained at the run's LAST rank — so all tied
   * rows get identical p_adj whatever their relative order.
   */
  def bhFdr(df: DataFrame, pvalCol: String = "pval", alpha: Double = 0.05): DataFrame =
    bhAdjust(df, pvalCol, scale = 1.0, outCol = "p_adj")
      .withColumn("bh_significant", col("p_adj") < alpha)

  /**
   * s19: Benjamini–Yekutieli — FDR control that stays valid under
   * ARBITRARY dependence between tests (BH assumes independence or
   * positive regression dependence; correlated SNPs in LD violate
   * both): the BH threshold divides by the harmonic number H_m, i.e.
   * p_adj_BY = min(1, H_m · suffixmin(m·p/rank)). Reuses the
   * distributed two-pass suffix-min verbatim ([[bhAdjust]] with
   * scale = H_m, applied BEFORE the clamp); H_m is one ascending
   * left-assoc driver-side fold whose operand order the oracle's
   * in-order list_sum replays exactly (the a39 lnfact discipline),
   * so both engines scale by the identical double.
   */
  def byFdr(df: DataFrame, pvalCol: String = "pval",
      alpha: Double = 0.05): DataFrame = {
    val m = df.filter(col(pvalCol).isNotNull).count()
    var h = 0.0
    var i = 1L
    while (i <= m) { h += 1.0 / i; i += 1 }
    bhAdjust(df, pvalCol, scale = h, outCol = "p_adj_by",
        knownM = Some(m.toDouble))
      .withColumn("by_significant", col("p_adj_by") < alpha)
  }

  /** s19: BY-FDR over the pseudo p-value table. */
  def s19ByFdr(spark: SparkSession, dir: String): DataFrame =
    byFdr(pseudoPvals(spark, dir), "pval")
      .select(col("o_orderkey"), round(col("pval"), 6).as("pval"),
        round(col("p_adj_by"), 6).as("p_adj_by"), col("by_significant"))
      .orderBy("o_orderkey")

  /**
   * GROUP-WISE Benjamini–Hochberg — FDR controlled WITHIN each group
   * (the per-phenotype correction a PheWAS report publishes next to
   * the study-wide one: each phenotype's SNP family is its own
   * multiple-testing universe). Where the study-wide [[bhFdr]] needs
   * the two-pass suffix-min machinery because a global window would
   * single-task the results table, the group-wise variant is the
   * OPPOSITE regime: every window below partitions by the group key,
   * so Spark executes one independent sorted scan per group in
   * parallel — no cross-group traffic, no driver state, and skew is
   * bounded by the largest single phenotype's pair count. Operand
   * order (p·m_g/rank, suffix-min, clamp) mirrors bhAdjust and the
   * s02 oracle term-for-term.
   */
  def bhFdrByGroup(df: DataFrame, pvalCol: String, groupCol: String,
      idCol: String, alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nn = df.filter(col(pvalCol).isNotNull)
    val wg = Window.partitionBy(groupCol)
    val wAsc = Window.partitionBy(groupCol)
      .orderBy(col(pvalCol).asc, col(idCol).asc)
    val wDesc = Window.partitionBy(groupCol)
      .orderBy(col(pvalCol).desc, col(idCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nn.withColumn("__rnk", row_number().over(wAsc))
      .withColumn("__mg", count(lit(1)).over(wg))
      .withColumn("p_adj_g", least(lit(1.0),
        min(col(pvalCol) * col("__mg") / col("__rnk")).over(wDesc)))
      .withColumn("bh_significant_g", col("p_adj_g") < alpha)
      .drop("__rnk", "__mg")
  }

  /** The distributed BH suffix-min with a scale factor applied BEFORE
    * the clamp at 1 — scale 1.0 is plain BH `p_adj`; scale π̂₀ yields
    * Storey q-values (clamping first would floor q at π₀ wherever the
    * raw m·p/rank exceeds 1, underestimating the tail). */
  private def bhAdjust(df: DataFrame, pvalCol: String, scale: Double,
      outCol: String, knownM: Option[Double] = None): DataFrame = {
    val spark = df.sparkSession
    val nonNull = df.filter(col(pvalCol).isNotNull)
    val schema = nonNull.schema
    val m = knownM.getOrElse(nonNull.count().toDouble)
    val ranked = nonNull.orderBy(col(pvalCol)).rdd.zipWithIndex()
    ranked.localCheckpoint() // two passes below; don't recompute the sort
    val pOrd = schema.fieldIndex(pvalCol)
    def vOf(r: Row, rank0: Long): Double =
      r.getAs[Number](pOrd).doubleValue() * m / (rank0 + 1).toDouble
    val perPartMin = ranked.mapPartitionsWithIndex { (pi, it) =>
      var mn = Double.PositiveInfinity
      it.foreach { case (r, rank0) => mn = math.min(mn, vOf(r, rank0)) }
      Iterator((pi, mn))
    }.collect().toMap
    val nParts = ranked.getNumPartitions
    // suffixAfter(i) = min of v over all partitions AFTER i
    val suffixAfter = new Array[Double](nParts)
    var acc = Double.PositiveInfinity
    var pi = nParts - 1
    while (pi >= 0) {
      suffixAfter(pi) = acc
      acc = math.min(acc, perPartMin.getOrElse(pi, Double.PositiveInfinity))
      pi -= 1
    }
    val bcSuffix = spark.sparkContext.broadcast(suffixAfter)
    val out = ranked.mapPartitionsWithIndex { (pi2, it) =>
      val rows = it.toArray
      val padj = new Array[Double](rows.length)
      var run = bcSuffix.value(pi2)
      var i = rows.length - 1
      while (i >= 0) {
        run = math.min(run, vOf(rows(i)._1, rows(i)._2))
        padj(i) = math.min(1.0, scale * run)
        i -= 1
      }
      rows.iterator.zipWithIndex.map { case ((r, _), j) =>
        Row.fromSeq(r.toSeq :+ padj(j))
      }
    }
    spark.createDataFrame(out, schema.add(outCol, DoubleType))
  }

  /**
   * WEIGHTED Benjamini–Hochberg (Genovese–Roeder–Wasserman 2006) —
   * prior-informed FDR control, the GWAS standard for folding
   * functional annotations / prior evidence into multiple testing:
   * weights normalize to MEAN 1 over the tested set
   * (w̃ = w·m/Σw — the normalization that preserves FDR ≤ α), each
   * p-value re-scales to p/w̃, and plain BH runs on the weighted
   * p-values — up-weighted hypotheses need less evidence, the
   * procedure stays valid because Σ(1/w̃·w̃) = m. Reuses the
   * distributed two-pass suffix-min scan (never a global window);
   * the weight normalization is one aggregate + a 1-row broadcast.
   * Rows with null/non-positive weights are excluded like null
   * p-values (no valid prior, no test).
   */
  def weightedBh(df: DataFrame, pvalCol: String, weightCol: String,
      alpha: Double = 0.05): DataFrame = {
    val nonNull = df.filter(col(pvalCol).isNotNull &&
      col(weightCol).isNotNull && col(weightCol) > 0)
    val tot = nonNull.agg(sum(col(weightCol)).as("sw"),
      count(lit(1)).cast("double").as("mq"))
    val withPw = nonNull.crossJoin(broadcast(tot))
      .withColumn("w_norm", col(weightCol) * col("mq") / col("sw"))
      .withColumn("__pw", col(pvalCol) / col("w_norm"))
      .drop("sw", "mq")
    bhAdjust(withPw, "__pw", scale = 1.0, outCol = "p_adj_w")
      .withColumn("bhw_significant", col("p_adj_w") < alpha)
      .drop("__pw")
  }

  /** s15: weighted BH over the pseudo p-value table with a
    * deterministic 4-level prior weight w ∈ {0.5, 1.0, 1.5, 2.0}. */
  def s15WeightedBh(spark: SparkSession, dir: String): DataFrame =
    weightedBh(pseudoPvals(spark, dir)
        .withColumn("w", lit(0.5) + (col("o_orderkey") % 4).cast("double") * 0.5),
      "pval", "w")
      .select(col("o_orderkey"), round(col("pval"), 6).as("pval"),
        round(col("w_norm"), 6).as("w_norm"),
        round(col("p_adj_w"), 6).as("p_adj_w"),
        col("bhw_significant"))
      .orderBy("o_orderkey")

  /**
   * Storey q-values — BH's suffix-min rescaled by the estimated null
   * proportion π̂₀ = #{p > λ} / (m·(1−λ)), the standard tightening
   * when many tests are truly non-null (π₀ ≪ 1 in a strong PheWAS):
   * q(pᵢ) = min(1, π̂₀ · min_{pⱼ≥pᵢ} m·pⱼ/rankⱼ). π̂₀ comes from ONE
   * count aggregate (a driver scalar, like m); the suffix-min is the
   * same distributed two-pass scan as s02 — no global window.
   */
  def qvalues(df: DataFrame, pvalCol: String = "pval",
      lambda: Double = 0.5): DataFrame = {
    require(lambda > 0 && lambda < 1, s"qvalues: lambda must be in (0,1), got $lambda")
    // m and the tail count come from ONE aggregate scan, and m feeds
    // bhAdjust so the (possibly expensive) input lineage isn't
    // recounted there — two passes total (this agg + the rank sort)
    val counts = df.filter(col(pvalCol).isNotNull)
      .agg(count(lit(1)).as("m"),
        count(when(col(pvalCol) > lambda, 1)).as("tail")).head()
    val m = counts.getLong(0).toDouble
    val tail = counts.getLong(1).toDouble
    // empty input degrades to an empty frame (like s01/s02), with the
    // no-evidence pi0 = 1
    val pi0 =
      if (m == 0) 1.0
      else math.min(1.0, math.max(tail / (m * (1.0 - lambda)), 1.0 / m))
    bhAdjust(df, pvalCol, scale = pi0, outCol = "q_value", knownM = Some(m))
      .withColumn("pi0", lit(pi0))
  }

  /** Definitions annotate (postprocessing.py:23-29): broadcast left
    * join of results against a small definitions dim — on `dependent`
    * for a PheWAS, on `predictor` for a FlipWAS. */
  def annotate(results: DataFrame, defs: DataFrame, on: String, defsKey: String): DataFrame =
    results.join(broadcast(defs), results(on) === defs(defsKey), "left")
      .drop(defsKey)

  /** Sort by p-value and write (postprocessing.py:32-40): parquet or
    * delimited text. The returned frame is the sorted result. */
  def sortAndWrite(df: DataFrame, path: String, format: String,
      pvalCol: String = "pval", tieBreak: Seq[String] = Nil): DataFrame = {
    val sorted = df.orderBy((col(pvalCol) +: tieBreak.map(col)): _*)
    write(sorted, path, format)
    sorted
  }

  /** Write `df` as parquet or as delimited text with a header. */
  def write(df: DataFrame, path: String, format: String): Unit = format match {
    case "parquet" => df.write.mode("overwrite").parquet(path)
    case "csv" => df.write.mode("overwrite").option("header", "true").csv(path)
    case "tsv" | "txt" => df.write.mode("overwrite")
      .option("header", "true").option("delimiter", "\t").csv(path)
    case other => throw new IllegalArgumentException(s"Unsupported output format: $other")
  }

  /**
   * [[bonferroni]] at α = 0.05, then [[annotate]] on the defs'
   * `phecode` column when `defs` is given, then the sort by (pval,
   * predictor, dependent), over the rows of a results
   * relation the driver already holds (the pair grid `Association.assoc`
   * returns): no job runs but the read and collect of `defs`. The
   * result is a local relation of the sorted rows.
   *
   * It keeps the Spark plan's semantics: n_tests counts the non-null
   * pvals (a NaN counts) and a null pval gets a null flag; the join is a
   * left join in which a duplicate key fans out, a null key never
   * matches and an unmatched row gets nulls, with the key column(s)
   * dropped by name; the order is Spark's: pval ascending with nulls
   * first, NaN last and -0.0 equal to 0.0, then predictor and dependent
   * in UTF-8 byte order, nulls first. A defs key of another type than
   * the `on` column is compared as that column's type.
   */
  def onDriver(results: DataFrame, defs: Option[DataFrame], on: String): DataFrame = {
    val in = results.schema
    val pv = in.fieldIndex("pval")
    val rows = results.collect()
    val threshold = 0.05 / rows.count(!_.isNullAt(pv))
    val flagged = rows.map(r =>
      Row.fromSeq(r.toSeq :+ (if (r.isNullAt(pv)) null else r.getDouble(pv) < threshold)))
    val withFlag = in.add("bonferroni_significant", BooleanType, nullable = true)
    val (schema, out) = defs.fold((withFlag, flagged))(annotateRows(withFlag, flagged, _, on, "phecode"))
    val Seq(p, pr, de) = Seq("pval", "predictor", "dependent").map(schema.fieldIndex)
    def utf8(r: Row, i: Int) = UTF8String.fromString(r.getString(i))
    val byOrder = new Ordering[(Row, UTF8String, UTF8String)] {
      def compare(a: (Row, UTF8String, UTF8String), b: (Row, UTF8String, UTF8String)): Int = {
        val c =
          if (a._1.isNullAt(p)) { if (b._1.isNullAt(p)) 0 else -1 }
          else if (b._1.isNullAt(p)) 1
          else {
            val (x, y) = (a._1.getDouble(p), b._1.getDouble(p))
            if (x == y) 0 else java.lang.Double.compare(x, y)
          }
        if (c != 0) c else {
          val cp = bytes(a._2, b._2)
          if (cp != 0) cp else bytes(a._3, b._3)
        }
      }
      private def bytes(x: UTF8String, y: UTF8String): Int =
        if (x == null) { if (y == null) 0 else -1 } else if (y == null) 1 else x.binaryCompare(y)
    }
    val sorted = out.map(r => (r, utf8(r, pr), utf8(r, de))).sorted(byOrder).map(_._1)
    results.sparkSession.createDataFrame(java.util.Arrays.asList(sorted: _*), schema)
  }

  /** [[annotate]]'s left join over local rows: the schema and the rows. */
  private def annotateRows(schema: StructType, rows: Array[Row], defs: DataFrame, on: String,
      defsKey: String): (StructType, Array[Row]) = {
    val onType = schema(on).dataType
    val d = if (defs.schema(defsKey).dataType == onType) defs
      else defs.withColumn(defsKey, Preprocess.column(defsKey).cast(onType))
    val ki = d.schema.fieldIndex(defsKey)
    val byKey = d.collect().filterNot(_.isNullAt(ki)).groupBy(_.get(ki))
    val resolver = SQLConf.get.resolver
    val left = schema.fields.indices.filterNot(i => resolver(schema(i).name, defsKey))
    val right = d.schema.fields.indices.filterNot(i => resolver(d.schema(i).name, defsKey))
    val oi = schema.fieldIndex(on)
    val none = Row.fromSeq(Seq.fill(d.schema.length)(null))
    val out = rows.flatMap { r =>
      val matches = if (r.isNullAt(oi)) None else byKey.get(r.get(oi))
      matches.getOrElse(Array(none)).map(m => Row.fromSeq(left.map(r.get) ++ right.map(m.get)))
    }
    (StructType(left.map(schema(_)) ++ right.map(i => d.schema(i).copy(nullable = true))), out)
  }

  // ============================================================ queries

  /** Deterministic pseudo p-values from integer hashing — identical
    * arithmetic in Spark and DuckDB, nulls injected every 97th key to
    * exercise the non-null test count. */
  private def pseudoPvals(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      when(col("o_orderkey") % 97 === 0, lit(null))
        .otherwise(((col("o_orderkey") * 2654435761L) % 1000000L) / 1000000.0)
        .as("pval"))

  private val pseudoPvalsSql =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 97 = 0 THEN NULL
      |    ELSE ((o_orderkey * 2654435761) % 1000000) / 1000000.0 END AS pval
      |FROM orders""".stripMargin

  /**
   * Genomic-control inflation factor λ_GC = median(χ²) / qchisq(½, 1)
   * — the PheWAS/GWAS sanity statistic (λ ≫ 1 flags confounded or
   * miscalibrated tests). Each p-value maps to its 1-df chi-square
   * via the codegen'd Acklam qnorm Expression (χ² = qnorm(1 − p/2)²,
   * mirrored digit-for-digit by the SQL oracle), and the median is
   * the EXACT distributed quantile (p11 machinery) — at a 10M-pair
   * flipwas scale this is a projection plus one range-sort, with no
   * single-partition window and no approx error in the headline
   * diagnostic.
   */
  def lambdaGC(df: DataFrame, pvalCol: String = "pval"): DataFrame = {
    // z·z, not pow(z, 2): Math.pow and DuckDB's power may differ in
    // the last ulp; the plain product is bit-identical in both
    val z = graft.functions.GraftFunctions.qnorm(lit(1.0) - col(pvalCol) / 2.0)
    val chi2 = df.filter(col(pvalCol).isNotNull).select((z * z).as("chi2"))
    // median of the chi-square(1) distribution: qchisq(0.5, 1)
    val chiMedian = 0.45493642311957283
    Preprocess.quantilesExact(chi2, "chi2", Seq(0.5))
      .select(Norm.r4(col("value")).as("median_chi2"),
        Norm.r4(col("value") / chiMedian).as("lambda_gc"))
  }

  /** s06: λ_GC over the pseudo p-value results table. */
  def s06LambdaGc(spark: SparkSession, dir: String): DataFrame =
    lambdaGC(pseudoPvals(spark, dir))

  /**
   * Genomic-control CORRECTION — s06's λ applied back to every test
   * (the standard GWAS/PheWAS deflation step when λ_GC > 1 flags
   * test-statistic inflation): χ²_adj = χ²/λ with λ = max(1,
   * median(χ²)/qchisq(½,1)) (deflation is never "corrected" up), and
   * the adjusted p = 2·(1 − Φ(√χ²_adj)) via the Zelen–Severo normal
   * tail (A&S 26.2.17, |ε| < 7.5e-8 ≪ the 6-dp output grid) — the
   * same Horner operand order in engine and oracle, because DuckDB
   * has no erfc to mirror the exact tail against. λ is quantized to
   * the 1e-6 grid BEFORE the division so both engines divide by the
   * identical double.
   *
   * Scale shapes: χ² is a pure codegen'd projection (the s06 qnorm
   * Expression); λ is the EXACT distributed median (p11 machinery —
   * one range-sort, no single-partition window) broadcast back as a
   * 1-row literal; the correction itself is again a projection. Two
   * passes over a 10M-pair flipwas results table, nothing driver-side.
   */
  def gcCorrect(df: DataFrame, pvalCol: String = "pval",
      idCol: String = "o_orderkey"): DataFrame = {
    val np = df.filter(col(pvalCol).isNotNull && !isnan(col(pvalCol)) &&
      col(pvalCol) > 0)
    val z = graft.functions.GraftFunctions.qnorm(lit(1.0) - col(pvalCol) / 2.0)
    val c = np.select(col(idCol), col(pvalCol), (z * z).as("chi2"))
    val chiMedian = 0.45493642311957283 // qchisq(0.5, 1)
    val lam = Preprocess.quantilesExact(c.select("chi2"), "chi2", Seq(0.5))
      .select(greatest(lit(1.0),
        floor((col("value") / chiMedian) * 1000000 + 0.5) / 1000000.0).as("lam"))
    val a = c.crossJoin(broadcast(lam))
      .withColumn("chi2_adj", col("chi2") / col("lam"))
      .withColumn("x", sqrt(col("chi2_adj")))
    a.select(col(idCol), round(col(pvalCol), 6).as("pval"),
      Norm.r4(col("chi2")).as("chi2"),
      Norm.r4(col("chi2_adj")).as("chi2_adj"),
      round(col("lam"), 6).as("lambda_used"),
      round(Norm.zsTail(col("x")), 6).as("p_adj"))
  }

  /** s13: GC-corrected p-values over the pseudo p-value results. */
  def s13GcCorrect(spark: SparkSession, dir: String): DataFrame =
    gcCorrect(pseudoPvals(spark, dir)).orderBy("o_orderkey")

  /**
   * QQ-plot coordinates — λ_GC's companion diagnostic (per-result,
   * not one scalar): observed −log10(p) paired with the expected
   * −log10((rank − ½)/m) under the uniform null. Ranks come from the
   * distributed range-sort + `zipWithIndex` (the p08/s02 machinery) —
   * no single-partition window, so a 10M-pair flipwas QQs in
   * parallel. `tieBreak` columns make tied p-values rank
   * deterministically (expected_p differs WITHIN a tie run, unlike
   * BH's running min which absorbs it).
   */
  def qqCoordinates(df: DataFrame, pvalCol: String = "pval",
      tieBreak: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    // !isnan: NaN compares greater-than-all in Spark's ordering, so a
    // NaN p-value would pass `> 0` and surface as a NaN coordinate row
    val nonNull = df.filter(col(pvalCol).isNotNull && !isnan(col(pvalCol)) &&
      col(pvalCol) > 0)
    val schema = nonNull.schema
    // pin the sorted data before counting: count() and the rank scan
    // are two jobs, and on a nondeterministic input a recomputed plan
    // could yield an m that disagrees with the ranks — localCheckpoint
    // makes both passes read the same materialized blocks (the
    // quantilesExact pattern; blocks free with the RDD's GC, they
    // cannot be unpersisted eagerly because the returned frame reads
    // them lazily)
    val sorted = nonNull
      .orderBy((col(pvalCol) +: tieBreak.map(col)): _*).rdd
    sorted.localCheckpoint()
    val m = sorted.count().toDouble
    val out = sorted.zipWithIndex().map { case (r, rank0) =>
      Row.fromSeq(r.toSeq :+ ((rank0 + 1) - 0.5) / m)
    }
    spark.createDataFrame(out, schema.add("expected_p", DoubleType))
  }

  /**
   * Manhattan-plot coordinates — the category-axis companion to s07
   * (reference README roadmap "Manhattan and QQ plot generation";
   * rendering is out of scope for an engine, coordinates are its
   * job): each result gets a contiguous global x position ordered by
   * (category, tie-breaks) and its −log10 p height, so categories
   * form contiguous colored blocks on the x axis. Ranks come from
   * the s07 distributed range-sort + `zipWithIndex` — no
   * single-partition window, a 10M-pair flipwas plots in parallel.
   */
  def manhattan(results: DataFrame, pvalCol: String, catCol: String,
      tieBreak: Seq[String]): DataFrame = {
    val spark = results.sparkSession
    // !isnan: same guard as qqCoordinates — a NaN p would pass `> 0`
    // under NaN-greater-than-all ordering and emit a NaN nlp row
    val nonNull = results.filter(col(pvalCol).isNotNull && !isnan(col(pvalCol)) &&
      col(pvalCol) > 0)
    val schema = nonNull.schema
    // localCheckpoint: same two-job determinism rationale as
    // qqCoordinates (the rank scan must read the sorted blocks)
    val sorted = nonNull
      .orderBy((col(catCol) +: tieBreak.map(col)): _*).rdd
    sorted.localCheckpoint()
    val out = sorted.zipWithIndex().map { case (r, rank0) =>
      Row.fromSeq(r.toSeq :+ (rank0 + 1))
    }
    spark.createDataFrame(out,
        schema.add("x", org.apache.spark.sql.types.LongType))
      .withColumn("nlp", -log10(col(pvalCol)))
  }

  /** s12: Manhattan coordinates over the pseudo p-values annotated
    * with the s03 synthetic category dim (phecode = PH(o_orderkey %
    * 25), category = that nation's region). */
  def s12Manhattan(spark: SparkSession, dir: String): DataFrame = {
    val res = pseudoPvals(spark, dir)
      .withColumn("dependent", concat(lit("PH"), col("o_orderkey") % 25))
    val defs = Tables.nation(spark, dir).select(
      concat(lit("PH"), col("n_nationkey")).as("phecode"),
      col("n_regionkey").as("category_number"))
    manhattan(annotate(res, defs, "dependent", "phecode"),
        "pval", "category_number", Seq("dependent", "o_orderkey"))
      .select(col("o_orderkey"), col("dependent"), col("category_number"),
        col("x"), round(col("pval"), 6).as("pval"), Norm.r4(col("nlp")).as("nlp"))
      .orderBy("x")
  }

  /** s07: QQ coordinates over the pseudo p-values (o_orderkey breaks
    * ties exactly like the oracle's row_number). */
  def s07QqExpected(spark: SparkSession, dir: String): DataFrame =
    qqCoordinates(pseudoPvals(spark, dir), "pval", Seq("o_orderkey"))
      .select(col("o_orderkey"), round(col("pval"), 6).as("pval"),
        Norm.r4(-log10(col("pval"))).as("obs_nlp"),
        Norm.r4(-log10(col("expected_p"))).as("exp_nlp"))
      .orderBy("o_orderkey")

  /**
   * Distance-window CLUMPING — the post-GWAS step after s01/s02: of
   * the suprathreshold hits, an INDEX hit is one with no stronger hit
   * (smaller p, position tie-break) within ±`window` positions; its
   * neighbors are shadows of the same signal. This is the
   * distributed-friendly LOCAL-MINIMUM variant of PLINK's greedy
   * clumping (greedy is inherently sequential — each pick mutates the
   * candidate set; the local-minimum rule is order-free, so it
   * parallelizes, and every greedy index is also a local minimum
   * within the window).
   *
   * Shape: threshold first (hits ≪ results), then the e04 bucket
   * trick — each hit replicates to its 3 neighbor buckets of width
   * `window` and joins hits on the bucket, so comparisons shuffle ∝
   * hits × local density, never the n² pair matrix; domination is a
   * map-side-combinable bool_or. At 10M-pair flipwas scale the hit
   * table after α = 0.01 is 100k rows — this runs in one small join.
   */
  def clump(df: DataFrame, pvalCol: String, posCol: String,
      window: Long, alpha: Double): DataFrame = {
    val hits = df.filter(col(pvalCol).isNotNull && col(pvalCol) < alpha)
      .select(col(posCol).as("pos"), col(pvalCol).as("p"))
    val withB = hits.withColumn("bkt", floor(col("pos") / window))
    val probe = withB.select(col("pos"), col("p"),
      explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("nbkt"))
    val other = withB.select(col("bkt").as("nbkt"), col("pos").as("pos2"),
      col("p").as("p2"))
    val dominated = probe.join(other, "nbkt")
      .filter(abs(col("pos2") - col("pos")) <= window &&
        (col("p2") < col("p") ||
          (col("p2") === col("p") && col("pos2") < col("pos"))))
      .groupBy("pos").agg(first("p").as("_p"))
      .select(col("pos"), lit(true).as("dom"))
    hits.join(dominated, Seq("pos"), "left")
      .select(col("pos"), col("p"), coalesce(col("dom"), lit(false)).as("dom"))
  }

  /** s10: clump the pseudo p-value table on the o_orderkey axis
    * (α = 0.01, window 2000). */
  def s10Clump(spark: SparkSession, dir: String): DataFrame =
    clump(pseudoPvals(spark, dir), "pval", "o_orderkey", 2000L, 0.01)
      .select(col("pos").as("o_orderkey"), round(col("p"), 6).as("pval"),
        (!col("dom")).as("is_index"))
      .orderBy("o_orderkey")

  /** s01: Bonferroni significance flag over pseudo p-values. */
  def s01Bonferroni(spark: SparkSession, dir: String): DataFrame =
    bonferroni(pseudoPvals(spark, dir))
      .select(col("o_orderkey"), round(col("pval"), 6).as("pval"),
        col("bonferroni_significant"))
      .orderBy("o_orderkey")

  /** s02: BH-FDR adjusted p-values (alpha 0.05). Tied p-values all
    * receive the same adjusted value (the running min absorbs the
    * within-tie rank differences), so the arbitrary tie-break inside
    * bhFdr cannot leak into the output. */
  def s02BhFdr(spark: SparkSession, dir: String): DataFrame =
    bhFdr(pseudoPvals(spark, dir), "pval")
      .select(col("o_orderkey"), round(col("pval"), 6).as("pval"),
        round(col("p_adj"), 6).as("p_adj"), col("bh_significant"))
      .orderBy("o_orderkey")

  /** s16: group-wise BH over the pseudo p-value table, 7 pseudo
    * phenotype groups keyed by o_orderkey % 7. */
  def s16GroupFdr(spark: SparkSession, dir: String): DataFrame =
    bhFdrByGroup(pseudoPvals(spark, dir)
        .withColumn("grp", (col("o_orderkey") % 7).cast("int")),
      "pval", "grp", "o_orderkey")
      .select(col("o_orderkey"), col("grp"), round(col("pval"), 6).as("pval"),
        round(col("p_adj_g"), 6).as("p_adj_g"), col("bh_significant_g"))
      .orderBy("o_orderkey")

  /** s17: the TOP-HITS REPORT — the table a PheWAS write-up actually
    * prints: each group's 3 strongest associations with their
    * group-wise adjusted values (composes s16; the extra window
    * shares s16's grp partitioning, so the report costs one more
    * in-partition rank pass). */
  def s17TopHits(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val adj = bhFdrByGroup(pseudoPvals(spark, dir)
        .withColumn("grp", (col("o_orderkey") % 7).cast("int")),
      "pval", "grp", "o_orderkey")
    val w = Window.partitionBy("grp").orderBy(col("pval").asc, col("o_orderkey").asc)
    adj.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("grp"), col("rank"), col("o_orderkey"),
        round(col("pval"), 6).as("pval"), round(col("p_adj_g"), 6).as("p_adj_g"))
      .orderBy("grp", "rank")
  }

  /** s08: Storey q-values over the pseudo p-value table (λ = 0.5). */
  def s08Qvalues(spark: SparkSession, dir: String): DataFrame =
    qvalues(pseudoPvals(spark, dir), "pval")
      .select(col("o_orderkey"), round(col("pval"), 6).as("pval"),
        round(col("q_value"), 6).as("q_value"), round(col("pi0"), 6).as("pi0"))
      .orderBy("o_orderkey")

  /**
   * Fixed-effect inverse-variance meta-analysis — the standard
   * multi-cohort MAS consolidation step (pool each test's per-cohort
   * (beta, se) into one estimate) plus Cochran's Q and I²
   * heterogeneity. Weights w = 1/se²:
   *   β_FE = Σwβ/Σw,  se_FE = √(1/Σw),  z = β_FE/se_FE,
   *   Q = Σwβ² − (Σwβ)²/Σw,  I² = max(0, (Q−(k−1))/Q).
   * ONE map-side-combined aggregate over the stacked results tables —
   * pooling a thousand cohorts' worth of 10M-pair outputs shuffles
   * four doubles per (test, map partition), never result rows. Rows
   * with null/non-positive se are excluded (failed fits carry NaN/
   * null stats and must not poison the pool).
   */
  def metaAnalysis(results: DataFrame, keyCols: Seq[String],
      betaCol: String = "beta", seCol: String = "se"): DataFrame = {
    require(keyCols.nonEmpty, "metaAnalysis: need at least one key column")
    val w = lit(1.0) / (col(seCol) * col(seCol))
    val q = col("swb2") - col("swb") * col("swb") / col("sw")
    results
      // NaN se would PASS `> 0` (Spark sorts NaN above every number),
      // then poison sw/swb/swb2 — exclude it explicitly like NaN beta
      .filter(col(seCol).isNotNull && !isnan(col(seCol)) && col(seCol) > 0 &&
        col(betaCol).isNotNull && !isnan(col(betaCol)))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("k_cohorts"),
        sum(w).as("sw"),
        sum(w * col(betaCol)).as("swb"),
        sum(w * col(betaCol) * col(betaCol)).as("swb2"))
      .select(keyCols.map(col) ++ Seq(
        col("k_cohorts"),
        Norm.r4(col("swb") / col("sw")).as("beta_fe"),
        Norm.r4(sqrt(lit(1.0) / col("sw"))).as("se_fe"),
        Norm.r4((col("swb") / col("sw")) / sqrt(lit(1.0) / col("sw"))).as("z"),
        Norm.r4(greatest(q, lit(0.0))).as("q_stat"),
        Norm.r4(when(col("k_cohorts") > 1 && q > 0,
          greatest((q - (col("k_cohorts") - 1)) / q, lit(0.0)))
          .otherwise(0.0)).as("i2")): _*)
  }

  /**
   * s18: DerSimonian–Laird RANDOM-EFFECTS meta-analysis — the
   * estimate a meta-analyst actually reports when s09's Q/I² say the
   * cohorts are heterogeneous (fixed-effect CIs are then
   * overconfident): τ²_DL = max(0, (Q − (k−1)) / (Σw − Σw²/Σw)),
   * then every cohort re-weights by w-star = 1/(se² + τ²) and the
   * pooled beta_re/se_re come from the w-star sums (se_re widens
   * with heterogeneity — the honest interval). Two aggregation
   * passes on the SAME test key (τ² is a per-test statistic, so the
   * re-weight needs a join back — both shuffles reuse one key
   * partitioning); τ² grid-rounds to 1e-6 BEFORE entering w-star
   * (the a30 ψ discipline) so both engines re-weight with the
   * identical number.
   */
  def randomEffectsMeta(results: DataFrame, keyCols: Seq[String],
      betaCol: String = "beta", seCol: String = "se"): DataFrame = {
    require(keyCols.nonEmpty, "randomEffectsMeta: need at least one key column")
    val v = col(seCol) * col(seCol)
    val w = lit(1.0) / v
    val f = results.filter(col(seCol).isNotNull && !isnan(col(seCol)) &&
      col(seCol) > 0 && col(betaCol).isNotNull && !isnan(col(betaCol)))
    val q = greatest(col("swb2") - col("swb") * col("swb") / col("sw"), lit(0.0))
    val firstPass = f.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("k"),
        sum(w).as("sw"), sum(w * col(betaCol)).as("swb"),
        sum(w * col(betaCol) * col(betaCol)).as("swb2"),
        sum(w * w).as("sw2"))
      .withColumn("tau2q",
        floor(when(col("k") > 1,
          greatest((q - (col("k") - 1)) /
            (col("sw") - col("sw2") / col("sw")), lit(0.0)))
          .otherwise(lit(0.0)) * 1000000 + 0.5) / 1000000.0)
    val joined = f.join(
      firstPass.select((keyCols.map(col) :+ col("tau2q")): _*), keyCols)
    val wr = lit(1.0) / (v + col("tau2q"))
    joined.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("k_cohorts"),
        max(col("tau2q")).as("t2"),
        sum(wr).as("swr"), sum(wr * col(betaCol)).as("swrb"))
      .select(keyCols.map(col) ++ Seq(
        col("k_cohorts"),
        // tau2q already lives on the exact 1e-6 grid (bit-identical
        // cross-engine); re-rounding to 4 dp would hit x.xxxx5
        // half-way points where the engines' round() split
        (col("t2") + lit(0.0)).as("tau2"),
        Norm.r4(col("swrb") / col("swr")).as("beta_re"),
        Norm.r4(sqrt(lit(1.0) / col("swr"))).as("se_re"),
        Norm.r4((col("swrb") / col("swr")) / sqrt(lit(1.0) / col("swr")))
          .as("z_re")): _*)
  }

  /** s18: DL random-effects pooling of the pseudo cohort results. */
  def s18RandomEffects(spark: SparkSession, dir: String): DataFrame =
    randomEffectsMeta(pseudoCohortResults(spark, dir), Seq("test_id"))
      .orderBy("test_id")

  /** Pseudo per-cohort association results synthesized from orders
    * (hash-derived betas/ses, 5 cohorts × 3000 tests) — shared with
    * the s09 oracle SQL verbatim. */
  private def pseudoCohortResults(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      (col("o_orderkey") % 3000).as("test_id"),
      (col("o_orderkey") % 5).as("cohort"),
      (((col("o_orderkey") * 2654435761L) % 2000001L) / 1000000.0 - 1.0).as("beta"),
      when(col("o_orderkey") % 89 === 0, lit(null)) // failed fits: se null
        .otherwise(lit(0.05) + ((col("o_orderkey") * 1597334677L) % 1000000L) / 2000000.0)
        .as("se"))

  private val pseudoCohortResultsSql =
    """SELECT o_orderkey % 3000 AS test_id, o_orderkey % 5 AS cohort,
      |  ((o_orderkey * 2654435761) % 2000001) / 1000000.0 - 1.0 AS beta,
      |  CASE WHEN o_orderkey % 89 = 0 THEN NULL
      |    ELSE 0.05 + ((o_orderkey * 1597334677) % 1000000) / 2000000.0 END AS se
      |FROM orders""".stripMargin

  /** s09: fixed-effect pooling of the pseudo cohort results. */
  def s09MetaAnalysis(spark: SparkSession, dir: String): DataFrame =
    metaAnalysis(pseudoCohortResults(spark, dir), Seq("test_id"))
      .orderBy("test_id")

  /**
   * s20: STOUFFER WEIGHTED-Z combination — the p-value-scale
   * consolidation a consortium uses when per-cohort effect SIZES
   * aren't comparable (different phenotype codings or units across
   * biobanks), so inverse-variance pooling (s09/s18) is off the
   * table but direction and evidence still combine: per cohort
   * z_k = β_k/se_k (the SIGN carries direction — a flipped cohort
   * cancels, it doesn't reinforce), weights w_k = √n_k (the classic
   * sample-size-weighted variant; the fixture's pseudo cohort sizes
   * n_k = 100 + 50·cohort are closed-form on both sides),
   * Z = Σw_k z_k / √(Σw_k²), and the two-sided p = 2(1 − Φ(|Z|))
   * via the same Zelen–Severo Horner tail s13 mirrors operand for
   * operand. One map-side-combined aggregate per test key — three
   * doubles of state per group at any results-table scale.
   */
  def stoufferMeta(results: DataFrame, keyCols: Seq[String],
      betaCol: String = "beta", seCol: String = "se",
      cohortCol: String = "cohort"): DataFrame = {
    require(keyCols.nonEmpty, "stoufferMeta: need at least one key column")
    val w = sqrt(lit(100.0) + lit(50.0) * col(cohortCol))
    val z = col(betaCol) / col(seCol)
    val agg = results
      .filter(col(seCol).isNotNull && !isnan(col(seCol)) && col(seCol) > 0 &&
        col(betaCol).isNotNull && !isnan(col(betaCol)))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("k_cohorts"),
        sum(w * z).as("wz"),
        sum(w * w).as("w2"))
    val zc = col("wz") / sqrt(col("w2"))
    val x = abs(zc)
    agg.select(keyCols.map(col) ++ Seq(
      col("k_cohorts"),
      Norm.r4(zc).as("z_comb"),
      (round(Norm.zsTail(x), 6) + lit(0.0)).as("p_stouffer")): _*)
  }

  /** s20: Stouffer weighted-Z over the pseudo cohort results. */
  def s20Stouffer(spark: SparkSession, dir: String): DataFrame =
    stoufferMeta(pseudoCohortResults(spark, dir), Seq("test_id"))
      .orderBy("test_id")

  /** s03: definitions annotate — synthesized public dim from nation
    * (code/phenotype/category), broadcast left join on dependent. */
  def s03Annotate(spark: SparkSession, dir: String): DataFrame = {
    val results = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_results"))
      .select(concat(lit("PH"), col("c_nationkey")).as("dependent"), col("n_results"))
    val defs = Tables.nation(spark, dir).select(
      concat(lit("PH"), col("n_nationkey")).as("phecode"),
      col("n_name").as("phenotype"),
      col("n_regionkey").as("category_number"))
    annotate(results, defs, "dependent", "phecode")
      .orderBy("dependent")
  }

  /** s04: sort by pval + multi-format write (parquet here; all four
    * formats exercised in the spec). */
  def s04SortOutput(spark: SparkSession, dir: String): DataFrame = {
    val tmp = System.getProperty("java.io.tmpdir") + "/graft_s04_out"
    sortAndWrite(pseudoPvals(spark, dir).filter(col("pval").isNotNull),
      tmp, "parquet", "pval", tieBreak = Seq("o_orderkey"))
      .select(col("o_orderkey"), round(col("pval"), 6).as("pval"))
  }

  // --------------------------------------------------------- oracle SQL

  val oracleSql: Map[String, String] = Map(
    // s18: the s09 chain + DL tau² (grid-rounded before re-weighting,
    // same w-product operand order as the engine) + the w* second pass
    "s18_random_effects" ->
      s"""WITH r AS ($pseudoCohortResultsSql),
         |f AS (
         |  SELECT test_id, beta, se FROM r
         |  WHERE se IS NOT NULL AND se > 0 AND beta IS NOT NULL
         |), a AS (
         |  SELECT test_id, count(*) AS k,
         |    sum(1.0 / (se * se)) AS sw,
         |    sum((1.0 / (se * se)) * beta) AS swb,
         |    sum((1.0 / (se * se)) * beta * beta) AS swb2,
         |    sum((1.0 / (se * se)) * (1.0 / (se * se))) AS sw2
         |  FROM f GROUP BY test_id
         |), t AS (
         |  SELECT test_id,
         |    floor((CASE WHEN k > 1 THEN greatest(
         |      (greatest(swb2 - swb * swb / sw, 0.0) - (k - 1))
         |        / (sw - sw2 / sw), 0.0) ELSE 0.0 END) * 1000000 + 0.5)
         |      / 1000000.0 AS tau2q
         |  FROM a
         |), j AS (
         |  SELECT f.test_id, f.beta, f.se, t.tau2q
         |  FROM f JOIN t USING (test_id)
         |), b AS (
         |  SELECT test_id, CAST(count(*) AS BIGINT) AS k_cohorts,
         |    max(tau2q) AS t2,
         |    sum(1.0 / (se * se + tau2q)) AS swr,
         |    sum((1.0 / (se * se + tau2q)) * beta) AS swrb
         |  FROM j GROUP BY test_id
         |)
         |SELECT test_id, k_cohorts,
         |  t2 + 0 AS tau2,
         |  round(swrb / swr, 4) + 0 AS beta_re,
         |  round(sqrt(1.0 / swr), 4) + 0 AS se_re,
         |  round((swrb / swr) / sqrt(1.0 / swr), 4) + 0 AS z_re
         |FROM b ORDER BY test_id""".stripMargin,
    "s09_meta_analysis" ->
      s"""WITH r AS ($pseudoCohortResultsSql),
         |g AS (
         |  SELECT test_id, count(*) AS k_cohorts,
         |    sum(1.0 / (se * se)) AS sw,
         |    sum(beta / (se * se)) AS swb,
         |    sum(beta * beta / (se * se)) AS swb2
         |  FROM r WHERE se IS NOT NULL AND se > 0 AND beta IS NOT NULL
         |  GROUP BY test_id
         |)
         |SELECT test_id, k_cohorts,
         |  round(swb / sw, 4) + 0 AS beta_fe,
         |  round(sqrt(1.0 / sw), 4) + 0 AS se_fe,
         |  round((swb / sw) / sqrt(1.0 / sw), 4) + 0 AS z,
         |  round(greatest(swb2 - swb * swb / sw, 0.0), 4) + 0 AS q_stat,
         |  round(CASE WHEN k_cohorts > 1 AND swb2 - swb * swb / sw > 0
         |    THEN greatest(((swb2 - swb * swb / sw) - (k_cohorts - 1))
         |      / (swb2 - swb * swb / sw), 0.0)
         |    ELSE 0.0 END, 4) + 0 AS i2
         |FROM g ORDER BY test_id""".stripMargin,
    "s06_lambda_gc" ->
      s"""WITH p AS ($pseudoPvalsSql),
         |z AS (
         |  SELECT ${Preprocess.qnormSql("1 - pval / 2")} AS z
         |  FROM p WHERE pval IS NOT NULL
         |), c AS (SELECT z * z AS chi2 FROM z)
         |SELECT round(quantile_cont(chi2, 0.5), 4) + 0 AS median_chi2,
         |  round(quantile_cont(chi2, 0.5) / 0.45493642311957283, 4) + 0 AS lambda_gc
         |FROM c""".stripMargin,
    // s13: same qnorm projection, same grid-rounded lambda from the
    // exact median, same Zelen-Severo Horner tail term-for-term
    "s13_gc_correct" ->
      s"""WITH p AS ($pseudoPvalsSql),
         |np AS (SELECT o_orderkey, pval FROM p
         |       WHERE pval IS NOT NULL AND pval > 0),
         |c AS (
         |  SELECT o_orderkey, pval,
         |    ${Preprocess.qnormSql("1 - pval / 2")} * ${Preprocess.qnormSql("1 - pval / 2")} AS chi2
         |  FROM np
         |), l AS (
         |  SELECT greatest(1.0, floor((quantile_cont(chi2, 0.5)
         |    / 0.45493642311957283) * 1000000 + 0.5) / 1000000.0) AS lam
         |  FROM c
         |), a AS (
         |  SELECT o_orderkey, pval, chi2, chi2 / lam AS chi2_adj, lam,
         |    sqrt(chi2 / lam) AS x
         |  FROM c, l
         |), g AS (
         |  SELECT *, 1.0 / (1.0 + 0.2316419 * x) AS t FROM a
         |)
         |SELECT o_orderkey, round(pval, 6) AS pval,
         |  round(chi2, 4) + 0 AS chi2,
         |  round(chi2_adj, 4) + 0 AS chi2_adj,
         |  round(lam, 6) AS lambda_used,
         |  round(2.0 * exp(-0.5 * x * x) * 0.3989422804014327
         |    * (t * (0.319381530 + t * (-0.356563782 + t * (1.781477937
         |      + t * (-1.821255978 + t * 1.330274429))))), 6) AS p_adj
         |FROM g ORDER BY o_orderkey""".stripMargin,
    // s19: weights mirrored as sqrt(..)·sqrt(..) — NOT simplified to n —
    // so the w² sum is the identical double sequence in both engines
    "s20_stouffer" ->
      s"""WITH r AS ($pseudoCohortResultsSql),
         |f AS (SELECT * FROM r
         |      WHERE se IS NOT NULL AND se > 0 AND beta IS NOT NULL),
         |a AS (
         |  SELECT test_id, CAST(count(*) AS BIGINT) AS k_cohorts,
         |    sum(sqrt(100.0 + 50.0 * cohort) * (beta / se)) AS wz,
         |    sum(sqrt(100.0 + 50.0 * cohort) * sqrt(100.0 + 50.0 * cohort)) AS w2
         |  FROM f GROUP BY 1
         |), g AS (
         |  SELECT *, wz / sqrt(w2) AS zc, abs(wz / sqrt(w2)) AS x FROM a
         |), h AS (
         |  SELECT *, 1.0 / (1.0 + 0.2316419 * x) AS t FROM g
         |)
         |SELECT test_id, k_cohorts, round(zc, 4) + 0 AS z_comb,
         |  round(2.0 * exp(-0.5 * x * x) * 0.3989422804014327
         |    * (t * (0.319381530 + t * (-0.356563782 + t * (1.781477937
         |      + t * (-1.821255978 + t * 1.330274429))))), 6) + 0 AS p_stouffer
         |FROM h ORDER BY test_id""".stripMargin,
    "s07_qq_expected" ->
      s"""WITH p AS ($pseudoPvalsSql),
         |np AS (SELECT o_orderkey, pval FROM p
         |       WHERE pval IS NOT NULL AND pval > 0),
         |m AS (SELECT count(*) AS m FROM np),
         |r AS (SELECT o_orderkey, pval,
         |        row_number() OVER (ORDER BY pval, o_orderkey) AS rnk
         |      FROM np)
         |SELECT o_orderkey, round(pval, 6) AS pval,
         |  round(-log10(pval), 4) + 0 AS obs_nlp,
         |  round(-log10((rnk - 0.5) / m.m), 4) + 0 AS exp_nlp
         |FROM r, m ORDER BY o_orderkey""".stripMargin,
    // s12: row_number over the same (category, dependent, id) order;
    // 'PH' || int renders identically in both engines, binary string
    // collation matches Spark's UTF8 ordering
    "s12_manhattan" ->
      s"""WITH p AS ($pseudoPvalsSql),
         |res AS (
         |  SELECT o_orderkey, pval, 'PH' || (o_orderkey % 25) AS dependent
         |  FROM p WHERE pval IS NOT NULL AND pval > 0
         |), defs AS (
         |  SELECT 'PH' || n_nationkey AS phecode,
         |    n_regionkey AS category_number
         |  FROM nation
         |), a AS (
         |  SELECT r.o_orderkey, r.dependent, d.category_number, r.pval
         |  FROM res r LEFT JOIN defs d ON r.dependent = d.phecode
         |)
         |SELECT o_orderkey, dependent, category_number,
         |  CAST(row_number() OVER (
         |    ORDER BY category_number, dependent, o_orderkey) AS BIGINT) AS x,
         |  round(pval, 6) AS pval,
         |  round(-log10(pval), 4) + 0 AS nlp
         |FROM a ORDER BY x""".stripMargin,
    // s10: quadratic EXISTS mirror of the bucketed domination join —
    // exact at oracle scale since hits ≪ results after the threshold
    "s10_clump" ->
      s"""WITH p AS ($pseudoPvalsSql),
         |hits AS (SELECT o_orderkey, pval FROM p
         |         WHERE pval IS NOT NULL AND pval < 0.01)
         |SELECT a.o_orderkey, round(a.pval, 6) AS pval,
         |  NOT EXISTS (SELECT 1 FROM hits b
         |    WHERE abs(b.o_orderkey - a.o_orderkey) <= 2000
         |      AND (b.pval < a.pval OR
         |        (b.pval = a.pval AND b.o_orderkey < a.o_orderkey))) AS is_index
         |FROM hits a ORDER BY a.o_orderkey""".stripMargin,
    "s01_bonferroni" ->
      s"""WITH p AS ($pseudoPvalsSql),
         |n AS (SELECT count(pval) AS n_tests FROM p)
         |SELECT o_orderkey, round(pval, 6) AS pval,
         |  pval < (0.05 / n_tests) AS bonferroni_significant
         |FROM p, n ORDER BY o_orderkey""".stripMargin,
    // s19: the s02 chain scaled by H_m before the clamp; H_m is an
    // in-order 1/i fold mirroring the driver's ascending accumulation
    "s19_by_fdr" ->
      s"""WITH p AS ($pseudoPvalsSql),
         |np AS (SELECT o_orderkey, pval FROM p WHERE pval IS NOT NULL),
         |m AS (SELECT count(*) AS m FROM np),
         |h AS (SELECT list_sum(list_transform(
         |        generate_series(1, (SELECT m FROM m)), i -> 1.0 / i)) AS h),
         |r AS (SELECT o_orderkey, pval,
         |        row_number() OVER (ORDER BY pval, o_orderkey) AS rnk
         |      FROM np),
         |adj AS (SELECT o_orderkey, pval,
         |        least(1.0, (SELECT h FROM h) * min(pval * m.m / rnk) OVER (
         |          ORDER BY pval DESC, o_orderkey DESC
         |          ROWS UNBOUNDED PRECEDING)) AS p_adj_by
         |      FROM r, m)
         |SELECT o_orderkey, round(pval, 6) AS pval,
         |  round(p_adj_by, 6) AS p_adj_by,
         |  p_adj_by < 0.05 AS by_significant
         |FROM adj ORDER BY o_orderkey""".stripMargin,
    "s02_bh_fdr" ->
      s"""WITH p AS ($pseudoPvalsSql),
         |np AS (SELECT o_orderkey, pval FROM p WHERE pval IS NOT NULL),
         |m AS (SELECT count(*) AS m FROM np),
         |r AS (SELECT o_orderkey, pval,
         |        row_number() OVER (ORDER BY pval, o_orderkey) AS rnk
         |      FROM np),
         |adj AS (SELECT o_orderkey, pval,
         |        least(1.0, min(pval * m.m / rnk) OVER (
         |          ORDER BY pval DESC, o_orderkey DESC
         |          ROWS UNBOUNDED PRECEDING)) AS p_adj
         |      FROM r, m)
         |SELECT o_orderkey, round(pval, 6) AS pval, round(p_adj, 6) AS p_adj,
         |  p_adj < 0.05 AS bh_significant
         |FROM adj ORDER BY o_orderkey""".stripMargin,
    "s16_group_fdr" ->
      s"""WITH p AS ($pseudoPvalsSql),
         |np AS (SELECT o_orderkey, CAST(o_orderkey % 7 AS INT) AS grp, pval
         |       FROM p WHERE pval IS NOT NULL),
         |r AS (SELECT o_orderkey, grp, pval,
         |        row_number() OVER (PARTITION BY grp ORDER BY pval, o_orderkey) AS rnk,
         |        count(*) OVER (PARTITION BY grp) AS mg
         |      FROM np),
         |adj AS (SELECT o_orderkey, grp, pval,
         |        least(1.0, min(pval * mg / rnk) OVER (
         |          PARTITION BY grp ORDER BY pval DESC, o_orderkey DESC
         |          ROWS UNBOUNDED PRECEDING)) AS p_adj_g
         |      FROM r)
         |SELECT o_orderkey, grp, round(pval, 6) AS pval,
         |  round(p_adj_g, 6) AS p_adj_g, p_adj_g < 0.05 AS bh_significant_g
         |FROM adj ORDER BY o_orderkey""".stripMargin,
    "s17_top_hits" ->
      s"""WITH p AS ($pseudoPvalsSql),
         |np AS (SELECT o_orderkey, CAST(o_orderkey % 7 AS INT) AS grp, pval
         |       FROM p WHERE pval IS NOT NULL),
         |r AS (SELECT o_orderkey, grp, pval,
         |        row_number() OVER (PARTITION BY grp ORDER BY pval, o_orderkey) AS rnk,
         |        count(*) OVER (PARTITION BY grp) AS mg
         |      FROM np),
         |adj AS (SELECT o_orderkey, grp, pval,
         |        least(1.0, min(pval * mg / rnk) OVER (
         |          PARTITION BY grp ORDER BY pval DESC, o_orderkey DESC
         |          ROWS UNBOUNDED PRECEDING)) AS p_adj_g
         |      FROM r),
         |top AS (SELECT *, row_number() OVER (
         |          PARTITION BY grp ORDER BY pval, o_orderkey) AS rank
         |        FROM adj)
         |SELECT grp, CAST(rank AS INT) AS rank, o_orderkey,
         |  round(pval, 6) AS pval, round(p_adj_g, 6) AS p_adj_g
         |FROM top WHERE rank <= 3 ORDER BY grp, rank""".stripMargin,
    // s15: weights normalize to mean 1, pw = p / w_norm, then the s02
    // suffix-min on pw — operand order (w*m/sw, p/w_norm, pw*m/rnk)
    // mirrors weightedBh + bhAdjust term-for-term
    "s15_weighted_bh" ->
      s"""WITH p AS ($pseudoPvalsSql),
         |wp AS (SELECT o_orderkey, pval,
         |         0.5 + CAST(o_orderkey % 4 AS DOUBLE) * 0.5 AS w
         |       FROM p WHERE pval IS NOT NULL),
         |m AS (SELECT count(*) AS m, sum(w) AS sw FROM wp),
         |nw AS (SELECT o_orderkey, pval, w * m.m / m.sw AS w_norm
         |       FROM wp, m),
         |pw AS (SELECT o_orderkey, pval, w_norm, pval / w_norm AS pwv FROM nw),
         |r AS (SELECT o_orderkey, pval, w_norm, pwv,
         |        row_number() OVER (ORDER BY pwv, o_orderkey) AS rnk
         |      FROM pw),
         |adj AS (SELECT o_orderkey, pval, w_norm,
         |        least(1.0, min(pwv * m.m / rnk) OVER (
         |          ORDER BY pwv DESC, o_orderkey DESC
         |          ROWS UNBOUNDED PRECEDING)) AS p_adj_w
         |      FROM r, m)
         |SELECT o_orderkey, round(pval, 6) AS pval,
         |  round(w_norm, 6) + 0 AS w_norm,
         |  round(p_adj_w, 6) AS p_adj_w,
         |  p_adj_w < 0.05 AS bhw_significant
         |FROM adj ORDER BY o_orderkey""".stripMargin,
    // same suffix-min as s02 with the π₀ scale applied before the
    // clamp, mirroring bhAdjust's operation order exactly
    "s08_qvalues" ->
      s"""WITH p AS ($pseudoPvalsSql),
         |np AS (SELECT o_orderkey, pval FROM p WHERE pval IS NOT NULL),
         |m AS (SELECT count(*) AS m FROM np),
         |pi AS (SELECT least(1.0, greatest(
         |         (SELECT count(*) FROM np WHERE pval > 0.5) / (m.m * 0.5),
         |         1.0 / m.m)) AS pi0 FROM m),
         |r AS (SELECT o_orderkey, pval,
         |        row_number() OVER (ORDER BY pval, o_orderkey) AS rnk
         |      FROM np),
         |adj AS (SELECT o_orderkey, pval,
         |        least(1.0, pi.pi0 * min(pval * m.m / rnk) OVER (
         |          ORDER BY pval DESC, o_orderkey DESC
         |          ROWS UNBOUNDED PRECEDING)) AS q_value
         |      FROM r, m, pi)
         |SELECT a.o_orderkey, round(a.pval, 6) AS pval,
         |  round(a.q_value, 6) AS q_value, round(pi.pi0, 6) AS pi0
         |FROM adj a, pi ORDER BY a.o_orderkey""".stripMargin,
    "s03_annotate" ->
      """WITH results AS (
        |  SELECT 'PH' || c_nationkey AS dependent, count(*) AS n_results
        |  FROM customer GROUP BY c_nationkey
        |)
        |SELECT r.dependent, r.n_results, n.n_name AS phenotype,
        |  n.n_regionkey AS category_number
        |FROM results r LEFT JOIN nation n ON r.dependent = 'PH' || n.n_nationkey
        |ORDER BY dependent""".stripMargin,
    "s04_sort_output" ->
      """SELECT o_orderkey,
        |  round(((o_orderkey * 2654435761) % 1000000) / 1000000.0, 6) AS pval
        |FROM orders WHERE o_orderkey % 97 <> 0
        |ORDER BY 2, 1""".stripMargin,
  )
}
