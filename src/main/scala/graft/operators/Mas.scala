package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Norm.r4

/**
 * MAS query instances over the driver testdata: a deterministic
 * PheWAS-shaped cohort derived from customer ⋈ orders (one sample per
 * customer; continuous and binary "phenotypes" from order aggregates),
 * exercising the association engine end-to-end against DuckDB oracles.
 *
 * The cohort construction is mirrored verbatim by `cohortSql` (CTE
 * used by every a0x oracle): aggregates are rounded to 4 decimals at
 * the source so engine-order FP drift can't leak into fits, and
 * nulls are injected deterministically (id % 7 on y_avg; d_null all
 * null) to exercise the reference's per-pair null-drop and "No data
 * after dropping nulls." path.
 */
object Mas {

  /** One row per customer: x continuous predictor, xbin binary
    * predictor, z1 covariate, y_* quantitative dependents, d_* binary
    * dependents with case rates chosen to hit each viability branch.
    *
    * SESSION-CACHED per (application, dir) behind a localCheckpoint:
    * the cohort is the ANALYSIS frame (one bounded row per subject —
    * 15k rows at sf0.1, never corpus-scale), and every a-op re-paying
    * its customer⋈orders derivation was the sweep's largest shared
    * fixed cost (~0.5-0.9 s/op). The reference reads its input frame
    * ONCE per run (polars scan of one file); materializing the
    * derived cohort once per session is the same shape. Cached ≡
    * fresh is spec-pinned (the d17/band-index persisted-artifact
    * rule). */
  def cohort(spark: SparkSession, dir: String): DataFrame = {
    val key = spark.sparkContext.applicationId + ":" + dir
    val cached = cohortCache.get(key)
    if (cached != null) cached
    else {
      val built = cohortFresh(spark, dir).localCheckpoint(true)
      val prev = cohortCache.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }

  private val cohortCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** The uncached cohort derivation — the cache-equality spec's
    * fresh side. */
  private[graft] def cohortFresh(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"))
      .groupBy(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
      .agg(
        round(avg("o_totalprice"), 4).as("y_avg0"),
        round(max("o_totalprice"), 4).as("y_max"),
        count(lit(1)).cast("double").as("y_cnt"),
        max(when(col("o_orderpriority") === "1-URGENT", 1.0).otherwise(0.0)).as("d_urgent"),
        max(when(col("o_orderstatus") === "O", 1.0).otherwise(0.0)).as("d_open"),
        when(sum("o_totalprice") > 1500000, 1.0).otherwise(0.0).as("d_big"),
        when(count(lit(1)) >= 16, 1.0).otherwise(0.0).as("d_many"),
        when(sum("o_totalprice") > 4800000, 1.0).otherwise(0.0).as("d_rare"))
      .select(
        col("c_custkey").as("id"),
        col("c_acctbal").as("x"),
        when(col("c_acctbal") > 0, 1.0).otherwise(0.0).as("xbin"),
        when(col("c_custkey") % 2 === 0, 1.0).otherwise(0.0).as("xpar"),
        col("c_nationkey").cast("double").as("z1"),
        (col("c_custkey") % 5).cast("double").as("z2"),
        concat(lit("g"), col("c_custkey") % 3).as("zc"),
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("y_avg0")).as("y_avg"),
        col("y_max"), col("y_cnt"),
        col("d_urgent"), col("d_open"), col("d_big"), col("d_many"), col("d_rare"),
        lit(1.0).as("d_all"),
        lit(null).cast("double").as("d_null"))
  }

  /** DuckDB mirror of `cohort` — prepended to every a0x oracle. */
  val cohortSql: String =
    """WITH coh0 AS (
      |  SELECT c.c_custkey AS id, c.c_acctbal AS x, c.c_nationkey AS nk,
      |    round(avg(o.o_totalprice), 4) AS y_avg0,
      |    round(max(o.o_totalprice), 4) AS y_max,
      |    CAST(count(*) AS DOUBLE) AS y_cnt,
      |    max(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END) AS d_urgent,
      |    max(CASE WHEN o.o_orderstatus = 'O' THEN 1.0 ELSE 0.0 END) AS d_open,
      |    CASE WHEN sum(o.o_totalprice) > 1500000 THEN 1.0 ELSE 0.0 END AS d_big,
      |    CASE WHEN count(*) >= 16 THEN 1.0 ELSE 0.0 END AS d_many,
      |    CASE WHEN sum(o.o_totalprice) > 4800000 THEN 1.0 ELSE 0.0 END AS d_rare
      |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      |  GROUP BY 1, 2, 3
      |), cohort AS (
      |  SELECT id, x, CASE WHEN x > 0 THEN 1.0 ELSE 0.0 END AS xbin,
      |    CASE WHEN id % 2 = 0 THEN 1.0 ELSE 0.0 END AS xpar,
      |    CAST(nk AS DOUBLE) AS z1,
      |    CAST(id % 5 AS DOUBLE) AS z2,
      |    'g' || CAST(id % 3 AS VARCHAR) AS zc,
      |    CASE WHEN id % 7 = 0 THEN NULL ELSE y_avg0 END AS y_avg,
      |    y_max, y_cnt, d_urgent, d_open, d_big, d_many, d_rare,
      |    1.0 AS d_all, CAST(NULL AS DOUBLE) AS d_null
      |  FROM coh0
      |)""".stripMargin

  // ------------------------------------------------------------ queries

  /** a01: linear association, no covariates, three quantitative
    * dependents. Oracle: DuckDB regr_* sufficient-stat formulas. */
  def a01AssocLinear(spark: SparkSession, dir: String): DataFrame = {
    val cfg = Association.Config(Seq("x"), Seq("y_avg", "y_max", "y_cnt"),
      model = "linear", minCaseCount = 10)
    Association.assoc(cohort(spark, dir), cfg)
      .select(col("predictor"), col("dependent"),
        r4(col("beta")).as("beta"), r4(col("se")).as("se"),
        col("n_observations"))
      .orderBy("dependent")
  }

  /** a02: linear association with the z1 covariate. Oracle: FWL —
    * residual-on-residual simple regression (df-corrected se). */
  def a02AssocLinearCov(spark: SparkSession, dir: String): DataFrame = {
    val cfg = Association.Config(Seq("x"), Seq("y_avg", "y_max"), Seq("z1"),
      model = "linear", minCaseCount = 10)
    Association.assoc(cohort(spark, dir), cfg)
      .select(col("predictor"), col("dependent"),
        r4(col("beta")).as("beta"), r4(col("se")).as("se"),
        col("n_observations"))
      .orderBy("dependent")
  }

  /** a11: linear association with TWO covariates — puts the k×k
    * matrix solve of the Gram path under the hash gate (a02 covers
    * k=1). Oracle: two-stage Frisch-Waugh-Lovell — residualize y and
    * x on (z1, z2) via the closed-form 2-regressor OLS (covariance
    * normal equations solved by Cramer's rule in SQL), then the
    * simple regression of the residuals, se df-corrected to n−4. */
  def a11AssocLinearCov2(spark: SparkSession, dir: String): DataFrame = {
    val cfg = Association.Config(Seq("x"), Seq("y_avg", "y_max"), Seq("z1", "z2"),
      model = "linear", minCaseCount = 10)
    Association.assoc(cohort(spark, dir), cfg)
      .select(col("predictor"), col("dependent"),
        r4(col("beta")).as("beta"), r4(col("se")).as("se"),
        col("n_observations"))
      .orderBy("dependent")
  }

  /** a13: interaction-term association — y ~ x + z1 + x·z1, reported
    * stats for the INTERACTION coefficient (effect modification, the
    * PheWAS follow-up question "does the x effect depend on z1?").
    * Same one-pass Gram path: the interaction product enters as the
    * "predictor" column and the main effects ride as covariates —
    * an identical design matrix, so the reported slope IS the
    * interaction beta. Oracle: FWL with the target residualized on
    * (x, z1). */
  def a13AssocInteraction(spark: SparkSession, dir: String): DataFrame = {
    val df = cohort(spark, dir).withColumn("xz", col("x") * col("z1"))
    val cfg = Association.Config(Seq("xz"), Seq("y_avg", "y_max"), Seq("x", "z1"),
      model = "linear", minCaseCount = 10)
    Association.assoc(df, cfg)
      .select(col("predictor"), col("dependent"),
        r4(col("beta")).as("beta"), r4(col("se")).as("se"),
        col("n_observations"))
      .orderBy("dependent")
  }

  /** a14: weighted least squares per group — inverse-variance-style
    * weights (1/(1+discount)) over the lineitem quantity→price
    * relation, one fit per returnflag. Oracle mirrors the two-pass
    * centered weighted-moment computation verbatim. */
  def a14AssocWls(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("grp"),
      col("l_quantity").cast("double").as("x"),
      col("l_extendedprice").cast("double").as("y"),
      (lit(1.0) / (lit(1.0) + col("l_discount"))).as("w"))
    Association.wls(df, "x", "y", "w", Seq("grp"))
      .select(col("grp"), col("n"), r4(col("beta")).as("beta"), r4(col("se")).as("se"))
      .orderBy("grp")
  }

  /** a15: Poisson count-model association — quantity ~ exp(α + β·x)
    * per returnflag, x = deep-discount indicator. The binary design
    * is saturated, so the IRLS MLE equals the closed-form rate ratio
    * the oracle computes (β = ln(ȳ₁/ȳ₀), se = √(1/Σy₁ + 1/Σy₀)). */
  def a15AssocPoisson(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("grp"),
      when(col("l_discount") > 0.05, 1.0).otherwise(0.0).as("x"),
      col("l_quantity").cast("double").as("y"))
    Association.poisson(df, "x", "y", "grp")
      .select(col("grp"), col("n"), r4(col("beta")).as("beta"),
        r4(col("se")).as("se"), col("converged"))
      .orderBy("grp")
  }

  /** a38: Poisson RATE association with an EXPOSURE OFFSET
    * ([[Association.poissonOffset]]) — quantity as the event count,
    * order revenue (thousands) as the exposure, so β is the log
    * incidence RATE ratio of discounted vs undiscounted lines (the
    * person-time rate-regression shape a15's plain count model can't
    * express; closed-form two-rate oracle on the saturated binary
    * design). */
  def a38PoissonOffset(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("grp"),
      when(col("l_discount") > 0.05, 1.0).otherwise(0.0).as("x"),
      col("l_quantity").cast("double").as("y"),
      (col("l_extendedprice") / 1000.0).as("e"))
    Association.poissonOffset(df, "x", "y", "e", "grp")
      .select(col("grp"), col("n"), r4(col("beta")).as("beta"),
        r4(col("se")).as("se"), r4(exp(col("beta"))).as("irr"),
        col("converged"))
      .orderBy("grp")
  }

  /**
   * a39: FISHER EXACT TEST on each (xbin, dependent) 2×2 — the
   * small-sample companion to the Firth fit (analysis.py's viability
   * thresholds exist exactly because asymptotic tests break on sparse
   * cells; Fisher conditions on the margins instead). Two-sided by
   * the standard "sum all table probabilities ≤ p_obs·(1+1e-7)" rule
   * (the R convention). The hypergeometric masses come from ONE
   * ascending ln-factorial accumulation per counts row (lnf(m) is a
   * prefix of the same left-assoc fold the oracle's in-order
   * list_sum replays, so every intermediate double is identical),
   * and the support sum runs ascending k in-order. The whole test is
   * a pure function of the four cell counts, so it rides the a05
   * aggregate: one shuffle bounded by |pairs|, then a per-row kernel
   * O(n + support) time, O(1) memory (anchor + step-recurrence — no
   * per-row factorial table). Fisher is a SMALL-SAMPLE test by construction —
   * beyond n = 10M the kernel yields NaN and the
   * frame publishes NULL p with `skipped` = true (a03/a28's
   * asymptotics apply there, where Fisher and chi-square agree
   * anyway) instead of failing the whole query on one oversized
   * cohort.
   * Haldane-corrected OR published alongside (a27's convention).
   */
  def a39FisherExact(spark: SparkSession, dir: String): DataFrame = {
    val cfg = Association.Config(Seq("xbin"),
      Seq("d_urgent", "d_open", "d_big", "d_many", "d_rare", "d_all"))
    val fisher = udf(Association.fisherTwoSided _)
    Association.melt(cohort(spark, dir), cfg)
      .groupBy("predictor", "dependent")
      .agg(
        sum(when(col("x") === 1.0 && col("y") === 1.0, 1L).otherwise(0L)).as("n11"),
        sum(when(col("x") === 1.0 && col("y") === 0.0, 1L).otherwise(0L)).as("n10"),
        sum(when(col("x") === 0.0 && col("y") === 1.0, 1L).otherwise(0L)).as("n01"),
        sum(when(col("x") === 0.0 && col("y") === 0.0, 1L).otherwise(0L)).as("n00"))
      .withColumn("skipped",
        col("n11") + col("n10") + col("n01") + col("n00") > lit(10000000L))
      .withColumn("p_fisher",
        when(!col("skipped"), fisher(col("n11"), col("n10"), col("n01"), col("n00"))))
      .select(col("predictor"), col("dependent"),
        col("n11"), col("n10"), col("n01"), col("n00"),
        when(!col("skipped"),
          r4(lit(-1.0) * log(col("p_fisher")) / math.log(10.0))).as("neg_log10_p"),
        when(!col("skipped"),
          round(col("p_fisher"), 6) + lit(0.0)).as("p_fisher"),
        r4((col("n11") + 0.5) * (col("n00") + 0.5) /
          ((col("n10") + 0.5) * (col("n01") + 0.5))).as("or_haldane"),
        col("skipped"))
      .orderBy("dependent")
  }

  /**
   * a41: ROC AUC of a continuous score against each binary dependent
   * — the discrimination metric a PheWAS/risk-model report publishes
   * next to the association p-value. Computed as the Mann–Whitney
   * rank statistic in its tie-correct integer form: aggregate to
   * (dependent, score) → (n_case, n_ctrl) cells, one
   * dependent-PARTITIONED ascending window accumulates controls seen
   * below each score, and AUC = Σ_s n1_s·(ctrl_below_s + ½·n0_s) /
   * (N1·N0). Every term before the final division is an exact
   * integer (doubled to stay integral under the ½-tie credit), so
   * the cross-engine value is identical to the last bit; the doubled
   * pair credit Σu2 ≲ 2·N1·N0 wraps a long past N ≈ 4·10⁹, so it
   * rides the 128-bit grid (decimal(38,0)/HUGEINT — the r19/r20
   * width-audit rule, same class as a46's R1×2). The window
   * partitions by dependent — |dependents|-way parallel, skew
   * bounded by distinct scores per dependent (already aggregated:
   * rows ≪ cohort).
   */
  private[graft] def aucFrame(melted: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = melted
      .groupBy("dependent", "x")
      .agg(sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("y") === 0.0, 1L).otherwise(0L)).as("n0"))
    val wCum = Window.partitionBy("dependent").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // 2·(pairs won) = n1·(2·ctrl_strictly_below + n0_tied) — integers
    val scored = cells
      .withColumn("ctrl_upto", sum(col("n0")).over(wCum))
      .withColumn("u2", col("n1").cast("decimal(38,0)") *
        (lit(2L) * (col("ctrl_upto") - col("n0")) + col("n0")))
    scored.groupBy("dependent")
      .agg(sum("u2").as("u2"), sum("n1").as("n_case"), sum("n0").as("n_ctrl"))
      .filter(col("n_case") > 0 && col("n_ctrl") > 0)
      .select(col("dependent"), col("n_case"), col("n_ctrl"),
        (round(col("u2") / (lit(2.0) * col("n_case") * col("n_ctrl")), 4) + lit(0.0))
          .as("auc"))
  }

  def a41Auc(spark: SparkSession, dir: String): DataFrame = {
    val cfg = Association.Config(Seq("x"),
      Seq("d_urgent", "d_open", "d_big", "d_many", "d_rare"))
    aucFrame(Association.melt(cohort(spark, dir), cfg)).orderBy("dependent")
  }

  /**
   * a42: CALIBRATION REPORT of a SHIPPED risk model — the
   * Hosmer–Lemeshow decile table: a fixed published model (here
   * p̂ = σ(x/3000); production evaluates the model it deployed, it
   * does not refit) scores the cohort, scores bucket into exact
   * deciles (p15's type-7 quantile machinery — p̂ is monotone in x,
   * so binning on x IS binning on p̂), and each decile reports
   * observed events, expected events (Σp̂), and its χ² contribution
   * (O−E)²/(n·p̄·(1−p̄)), with the 10-bin total carried on every row.
   * One scan + one 10-row aggregate; the decile cuts are 9 collected
   * doubles. The σ and the per-row arithmetic are identical IEEE
   * expressions in both engines; per-bin Σp̂ is a same-magnitude
   * double sum whose ordering ULPs the 4-dp round absorbs (the q01
   * convention).
   */
  def a42HlCalibration(spark: SparkSession, dir: String): DataFrame = {
    val base = cohort(spark, dir)
      .select(col("id"), col("x"), col("d_urgent").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .withColumn("p_hat",
        lit(1.0) / (lit(1.0) + exp(lit(-1.0) * col("x") / lit(3000.0))))
    val cells = Preprocess.quantileBin(base, "x", 10)
      .withColumnRenamed("x_bin", "decile")
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        sum("y").cast("long").as("obs"),
        sum("p_hat").as("e_sum"))
      .withColumn("p_bar", col("e_sum") / col("n"))
      .withColumn("hl_term",
        (col("obs") - col("e_sum")) * (col("obs") - col("e_sum")) /
          (col("n") * col("p_bar") * (lit(1.0) - col("p_bar"))))
    // cells is 10 rows but its SUBTREE is the full cohort scan +
    // aggregate: checkpoint so the chi2 total reuses it instead of
    // re-scanning (the s06/s13 two-pass rationale)
    val cellsCk = cells.localCheckpoint()
    val tot = cellsCk.agg(sum("hl_term").as("chi2"))
    cellsCk.crossJoin(broadcast(tot))
      .select(col("decile"), col("n"), col("obs"),
        r4(col("e_sum")).as("e_sum"), r4(col("hl_term")).as("hl_term"),
        r4(col("chi2")).as("hl_chi2"))
      .orderBy("decile")
  }

  /**
   * a43: BRIER SCORE + Murphy decomposition of the same shipped
   * model a42 calibrates — the third panel of the model report
   * (a41 discrimination, a42 calibration table, a43 proper-score
   * decomposition). Over the exact type-7 deciles:
   *   BS          = Σ(p̂−y)²/N                 (raw proper score)
   *   reliability = Σ (e_k−o_k)²/n_k / N       (calibration error)
   *   resolution  = (Σ o_k²/n_k − O²/N) / N    (sharpness; expanded
   *                 form needs no second pass for ȳ)
   *   uncertainty = (O/N)(1−O/N)
   *   bs_binned   = Σ(e_k²/n_k − 2e_k o_k/n_k + o_k)/N — the Brier
   *                 score OF THE BINNED forecast, which satisfies
   *                 bs_binned = reliability − resolution + uncertainty
   *                 exactly (the spec pins the identity).
   * Every term is a function of the per-decile sums (n, o, e, Σp̂²,
   * Σ(p̂−y)²), so the whole report is the a42 cell aggregate plus one
   * 10-row reduction — a 100 TB evaluation is one scan.
   */
  def a43Brier(spark: SparkSession, dir: String): DataFrame = {
    val base = cohort(spark, dir)
      .select(col("id"), col("x"), col("d_urgent").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .withColumn("p_hat",
        lit(1.0) / (lit(1.0) + exp(lit(-1.0) * col("x") / lit(3000.0))))
    val cells = Preprocess.quantileBin(base, "x", 10)
      .withColumnRenamed("x_bin", "decile")
      .groupBy("decile")
      .agg(count(lit(1)).cast("double").as("n"),
        sum("y").as("o"),
        sum("p_hat").as("e"),
        sum((col("p_hat") - col("y")) * (col("p_hat") - col("y"))).as("sq"))
    cells
      .agg(sum("n").as("nn"), sum("o").as("oo"),
        sum("sq").as("ssq"),
        sum(col("e") * col("e") / col("n")
          - lit(2.0) * col("e") * col("o") / col("n") + col("o")).as("bb"),
        sum((col("e") - col("o")) * (col("e") - col("o")) / col("n")).as("rel_n"),
        sum(col("o") * col("o") / col("n")).as("res_a"))
      .select(col("nn").cast("long").as("n"),
        r4(col("ssq") / col("nn")).as("bs"),
        r4(col("rel_n") / col("nn")).as("reliability"),
        r4((col("res_a") - col("oo") * col("oo") / col("nn")) / col("nn"))
          .as("resolution"),
        r4((col("oo") / col("nn")) * (lit(1.0) - col("oo") / col("nn")))
          .as("uncertainty"),
        r4(col("bb") / col("nn")).as("bs_binned"))
  }

  /** a18: negative-binomial count-model association (NB2, fixed
    * dispersion θ=2) — same design as a15 but with the overdispersion
    * real count data has: the MLE beta equals Poisson's closed-form
    * rate ratio on the saturated binary design (the per-group score
    * weight is constant) while the se correctly WIDENS to
    * √(1/I₀+1/I₁), I_g = n_g·ȳ_g/(1+ȳ_g/θ). */
  def a18AssocNegbin(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("grp"),
      when(col("l_discount") > 0.05, 1.0).otherwise(0.0).as("x"),
      col("l_quantity").cast("double").as("y"))
    Association.negbin(df, "x", "y", "grp", theta = 2.0)
      .select(col("grp"), col("n"), r4(col("beta")).as("beta"),
        r4(col("se")).as("se"), col("converged"))
      .orderBy("grp")
  }

  /** a19: log-rank survival association per market segment — urgent
    * orders as the exposure, order finalization as the event,
    * follow-up from order date to the 2001-08-02 administrative
    * censor date (open/pending orders censor). U and V are the Cox
    * score and information at β=0, so beta_1step = U/V is the
    * one-step Cox estimate with se = 1/√V. */
  def a19Logrank(spark: SparkSession, dir: String): DataFrame = {
    Association.logrank(survivalSubjects(spark, dir), "time", "event", "x", "grp")
      .select(col("grp"), col("events"),
        r4(col("u_score")).as("u_score"), r4(col("v_info")).as("v_info"),
        r4(col("chi2")).as("chi2"), r4(col("beta_1step")).as("beta_1step"),
        r4(col("se")).as("se"))
      .orderBy("grp")
  }

  /** The a19/a23/a25 cohort: urgent orders as the binary exposure,
    * order finalization as the event, follow-up from order date to the
    * 2001-08-02 administrative censor date, per market segment. The
    * order-size band z = min(⌊totalprice/75k⌋, 6) ∈ {0..6} (a25 only —
    * the size covariate the urgency hazard ratio is adjusted for;
    * a19/a23 ignore the column. NOT a date function: with a fixed
    * administrative censor date any f(orderdate) is determined by the
    * follow-up time itself and the Cox fit degenerates). */
  private def survivalSubjects(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(broadcast(c.select(col("c_custkey"), col("c_mktsegment"))),
        o("o_custkey") === col("c_custkey"))
      .select(
        col("c_mktsegment").as("grp"),
        (datediff(lit("2001-08-02").cast("date"), col("o_orderdate")) + 1)
          .cast("double").as("time"),
        when(col("o_orderstatus") === "F", 1.0).otherwise(0.0).as("event"),
        when(col("o_orderpriority") === "1-URGENT", 1.0).otherwise(0.0).as("x"),
        least(floor(col("o_totalprice") / 75000), lit(6)).cast("int").as("z"),
        floor((month(col("o_orderdate")) - 1) / 4).cast("int").as("z2"),
        col("o_totalprice").cast("double").as("zc"),
        when(col("o_orderpriority") === "1-URGENT", 2)
          .when(col("o_orderpriority") === "2-HIGH", 1)
          .otherwise(0).as("g3"))
  }

  /** a35: 1:M matched-set conditional logistic
    * ([[Association.clogit1M]]) — a27's design generalized to the
    * FULL matched set: per customer, the highest-price order is the
    * case and ALL other orders the controls (not just the
    * lowest-price one), exposure = urgency, stratified by market
    * segment; the fit runs over the bounded (segment, size, n1, xc)
    * count table, 8 grid-rounded Newton steps, oracle unrolled. */
  def a35Clogit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val j = o.join(broadcast(c.select(col("c_custkey"), col("c_mktsegment"))),
        o("o_custkey") === col("c_custkey"))
      .select(col("c_custkey").as("cust"), col("c_mktsegment").as("grp"),
        col("o_orderkey").as("okey"), col("o_totalprice").as("price"),
        when(col("o_orderpriority") === "1-URGENT", 1.0).otherwise(0.0).as("x"))
    val wd = Window.partitionBy("cust").orderBy(col("price").desc, col("okey"))
    val sets = j.withColumn("rd", row_number().over(wd))
      .groupBy("cust")
      .agg(first(col("grp")).as("grp"), count(lit(1)).as("size"),
        sum(col("x")).as("n1"), max(when(col("rd") === 1, col("x"))).as("x_case"))
      .filter(col("size") >= 2)
    Association.clogit1M(sets, "size", "n1", "x_case", "grp", iters = 8)
      .select(col("grp"), col("n_sets"), col("n_informative"),
        r4(col("beta")).as("beta"), r4(col("se")).as("se"),
        r4(col("or")).as("or"), round(col("p_wald"), 6).as("p_wald"))
      .orderBy("grp")
  }

  /** a34: K-sample (K = 3) log-rank across priority arms
    * ([[Association.logrankK3]]) per market segment — the dose-group
    * generalization of a19's 2-group test, χ² on 2 df via the closed
    * 2×2 inverse of the hypergeometric covariance. */
  def a34Logrank3(spark: SparkSession, dir: String): DataFrame =
    Association.logrankK3(survivalSubjects(spark, dir), "time", "event", "g3", "grp")
      .select(col("grp"), col("events"),
        r4(col("u1")).as("u1"), r4(col("u2")).as("u2"),
        r4(col("chi2")).as("chi2"), round(col("p"), 6).as("p"))
      .orderBy("grp")

  /** a23: the FULL Cox proportional-hazards fit (Breslow partial
    * likelihood, 6 Newton steps on the 1e-6 grid) on the a19 cohort —
    * the iterated hazard-ratio estimate where a19 reports the
    * one-step score form. Same single shuffle; the oracle unrolls the
    * identical Newton trajectory as DuckDB CTEs (the a21 rule). */
  def a23CoxPh(spark: SparkSession, dir: String): DataFrame =
    Association.coxPh(survivalSubjects(spark, dir), "time", "event", "x", "grp",
        iters = 6)
      .select(col("grp"), col("events"), r4(col("beta")).as("beta"),
        r4(col("se")).as("se"), r4(col("chi2")).as("chi2"),
        r4(exp(col("beta"))).as("hr"))
      .orderBy("grp")

  /** a25: the covariate-ADJUSTED Cox fit ([[Association.coxPhCov]]) on
    * the a19 cohort — urgency hazard ratio adjusted for order-size
    * band (z ∈ {0..6}), 6 Newton steps of the 2-parameter Breslow
    * partial likelihood on the 1e-6 grid. Same single shuffle as a19/a23; the
    * oracle unrolls the identical 2×2 Newton trajectory as DuckDB
    * CTEs over (x, z)-stratified risk-count windows. */
  def a25CoxPhCov(spark: SparkSession, dir: String): DataFrame =
    Association.coxPhCov(survivalSubjects(spark, dir), "time", "event", "x", "z",
        "grp", zMax = 6, iters = 6)
      .select(col("grp"), col("events"),
        r4(col("beta_x")).as("beta_x"), r4(col("se_x")).as("se_x"),
        r4(exp(col("beta_x"))).as("hr_x"),
        r4(col("beta_z")).as("beta_z"), r4(col("se_z")).as("se_z"),
        r4(col("chi2")).as("chi2"))
      .orderBy("grp")

  /** a32: the a23 Cox fit under EFRON tie handling
    * ([[Association.coxPhEfron]]) — R `coxph`'s default convention,
    * which differs from a23's Breslow exactly in the day-grained tied
    * event times this cohort generates. Same single shuffle; the
    * oracle unrolls the identical Newton trajectory with the per-tie
    * inner sum as an in-order DuckDB `list_sum`. */
  def a32CoxPhEfron(spark: SparkSession, dir: String): DataFrame =
    Association.coxPhEfron(survivalSubjects(spark, dir), "time", "event", "x",
        "grp", iters = 6)
      .select(col("grp"), col("events"), r4(col("beta")).as("beta"),
        r4(col("se")).as("se"), r4(col("chi2")).as("chi2"),
        r4(exp(col("beta"))).as("hr"))
      .orderBy("grp")

  /** a33: the covariate-adjusted Cox fit over the CONTINUOUS order
    * price ([[Association.coxPhCovBinned]], 7 quantile bins via the
    * p15 exact-quantile machinery) — lifts a25's integer-leveled
    * boundary to a continuous confounder while the per-time table
    * stays bounded; oracle mirrors the quantile cuts
    * (`quantile_cont`) and the identical 2×2 Newton trajectory. */
  def a33CoxPhCovq(spark: SparkSession, dir: String): DataFrame =
    Association.coxPhCovBinned(survivalSubjects(spark, dir), "time", "event",
        "x", "zc", "grp", bins = 7, iters = 6)
      .select(col("grp"), col("events"),
        r4(col("beta_x")).as("beta_x"), r4(col("se_x")).as("se_x"),
        r4(exp(col("beta_x"))).as("hr_x"),
        r4(col("beta_z")).as("beta_z"), r4(col("se_z")).as("se_z"),
        r4(col("chi2")).as("chi2"))
      .orderBy("grp")

  /** a36: the Cox fit adjusted for TWO integer-leveled covariates
    * ([[Association.coxPhCov2]]) — a25's single-adjuster boundary
    * lifted to the multi-adjuster shape the reference's ~5-covariate
    * Firth default implies (r14 verdict item 8): urgency hazard ratio
    * adjusted for price band (z1 ∈ {0..6}) AND order tertile-of-year
    * (z2 ∈ {0..2}), 6 Newton steps of the 3-parameter Breslow partial
    * likelihood solved by the closed 3×3 adjugate on the 1e-6 grid.
    * Same single shuffle as a19/a23/a25; the oracle unrolls the
    * identical trajectory as cofactor CTE pairs. */
  def a36CoxPhCov2(spark: SparkSession, dir: String): DataFrame =
    Association.coxPhCov2(survivalSubjects(spark, dir), "time", "event",
        "x", "z", "z2", "grp", z1Max = 6, z2Max = 2, iters = 6)
      .select(col("grp"), col("events"),
        r4(col("beta_x")).as("beta_x"), r4(col("se_x")).as("se_x"),
        r4(exp(col("beta_x"))).as("hr_x"),
        r4(col("beta_z1")).as("beta_z1"), r4(col("se_z1")).as("se_z1"),
        r4(col("beta_z2")).as("beta_z2"), r4(col("se_z2")).as("se_z2"),
        r4(col("chi2")).as("chi2"))
      .orderBy("grp")

  /** a26: Kaplan–Meier product-limit survival curves
    * ([[Association.kaplanMeier]]) on the a19 cohort — per-segment
    * order-finalization curves with Greenwood standard errors, one
    * row per (segment, distinct event time). The descriptive
    * companion to a19/a23/a25's hazard-ratio tests. */
  /** a44: Aalen–Johansen competing-risks incidence over the survival
    * cohort — completed orders split into cause 1 (urgent) vs cause 2
    * (non-urgent), open orders censor; per segment, the cause-specific
    * cumulative incidence curves the naive "1 − KM of cause 1" would
    * overstate ([[Association.aalenJohansen]]). */
  def a44AalenJohansen(spark: SparkSession, dir: String): DataFrame =
    Association.aalenJohansen(
        survivalSubjects(spark, dir).withColumn("cause",
          when(col("event") === 1.0,
            when(col("x") === 1.0, 1).otherwise(2)).otherwise(0)),
        "time", "cause", "grp")
      .select(col("grp"), col("t"), col("n_risk"),
        col("d_cause1"), col("d_cause2"),
        r4(col("surv_all")).as("surv_all"),
        r4(col("cif1")).as("cif1"), r4(col("cif2")).as("cif2"))
      .orderBy("grp", "t")

  def a26KaplanMeier(spark: SparkSession, dir: String): DataFrame =
    Association.kaplanMeier(survivalSubjects(spark, dir), "time", "event", "grp")
      .select(col("grp"), col("t"), col("n_risk"), col("d_events"),
        r4(col("surv")).as("surv"), r4(col("se")).as("se"))
      .orderBy("grp", "t")

  /** a27: 1:1 matched-pair conditional logistic
    * ([[Association.matchedPairs]]) — within each customer (the
    * natural 1:1 match), the HIGHEST-price order is the case and the
    * LOWEST-price order the matched control (deterministic OPPOSITE
    * tie-breaks — case okey ASC, control okey DESC — so an all-tied
    * customer still yields two DISTINCT orders, never a degenerate
    * self-pair), exposure = urgency, stratified by market segment.
    * Customers with a single order carry no pair and drop. The pair
    * construction is one customer-partitioned window (case and
    * control ranks in the same pass) + a per-customer aggregate that
    * REUSES the window's partitioning — one shuffle end to end before
    * the tiny per-segment cell aggregate. */
  /** Shared 1:1 pair construction for a27/a40: within each customer,
    * highest-price order = case, lowest = control (opposite
    * tie-breaks — r13 advice — so all-tied customers still yield two
    * DISTINCT orders), exposure = urgency, stratum = market segment;
    * single-order customers drop. */
  private def matchedPairsFrame(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val j = o.join(broadcast(c.select(col("c_custkey"), col("c_mktsegment"))),
        o("o_custkey") === col("c_custkey"))
      .select(col("c_custkey").as("cust"), col("c_mktsegment").as("grp"),
        col("o_orderkey").as("okey"), col("o_totalprice").as("price"),
        when(col("o_orderpriority") === "1-URGENT", 1.0).otherwise(0.0).as("x"))
    // control tie-break is okey DESC (r13 advice): a customer whose
    // orders all share one price would otherwise select the SAME
    // order as both case and control — a degenerate always-concordant
    // self-pair. With opposite tie-breaks the two picks can only
    // coincide on a single-order customer, which n_orders >= 2 drops.
    val wd = Window.partitionBy("cust").orderBy(col("price").desc, col("okey"))
    val wa = Window.partitionBy("cust").orderBy(col("price").asc, col("okey").desc)
    j.withColumn("rd", row_number().over(wd))
      .withColumn("ra", row_number().over(wa))
      .groupBy("cust")
      .agg(first(col("grp")).as("grp"),
        max(when(col("rd") === 1, col("x"))).as("x_case"),
        max(when(col("ra") === 1, col("x"))).as("x_ctrl"),
        count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)
  }

  def a27MatchedPairs(spark: SparkSession, dir: String): DataFrame =
    Association.matchedPairs(matchedPairsFrame(spark, dir), "x_case", "x_ctrl", "grp")
      .select(col("grp"), col("n_pairs"), col("n10"), col("n01"),
        r4(col("beta")).as("beta"), r4(col("se")).as("se"),
        r4(col("or")).as("or"), r4(col("mcnemar_chi2")).as("mcnemar_chi2"),
        round(col("p_wald"), 6).as("p_wald"))
      .orderBy("grp")

  /**
   * a40: EXACT McNemar test on the matched pairs — a27's asymptotic
   * χ² breaks down exactly where matched designs live (few discordant
   * pairs); the exact test conditions on n = n10+n01 discordant pairs
   * and sums the Binomial(n, ½) tail: p = min(1, 2·P(X ≤ min(n10,
   * n01))). Same evidence discipline as a39: ln-binomials from ONE
   * ascending ln-factorial fold (oracle replays the identical
   * prefixes in-order), tail summed ascending k in-order, per-row
   * kernel O(n) riding the a27 cell aggregate (|strata| rows).
   */
  def a40McnemarExact(spark: SparkSession, dir: String): DataFrame = {
    val cells = Association.matchedPairs(matchedPairsFrame(spark, dir),
      "x_case", "x_ctrl", "grp")
    val pExact = udf(Association.mcnemarExact _)
    cells
      .withColumn("skipped", col("n10") + col("n01") > lit(10000000L))
      .select(col("grp"), col("n_pairs"), col("n10"), col("n01"),
        when(!col("skipped"),
          round(pExact(col("n10"), col("n01")), 6) + lit(0.0)).as("p_exact"),
        col("skipped"))
      .orderBy("grp")
  }

  /**
   * Cochran–Armitage TREND test — the GWAS per-variant standard for a
   * binary outcome against an additively-coded genotype dosage
   * g ∈ {0,1,2} (where a03 would either dichotomize the dosage or pay
   * a logistic fit, the CA score test is the locally-most-powerful
   * test of the additive alternative in CLOSED FORM): with n_i / r_i
   * the per-dose totals / cases, R = Σr, N = Σn and weights w = i,
   *   T = Σ i·r_i − (Σ i·n_i)·R/N
   *   Var(T) = (R/N)(1 − R/N)·(Σ i²·n_i − (Σ i·n_i)²/N)
   *   z = T/√Var, χ² = z², two-sided p via the Zelen–Severo tail.
   * ONE map-side-combined aggregation after the dependent melt yields
   * the 8 sufficient counts for EVERY dependent; everything after is
   * a one-row projection — a million-variant trend screen costs one
   * grouped sum per variant, the a21 altitude. Degenerate margins
   * (Var ≤ 0: single dose level or all/no cases) yield null z/p.
   */
  def trendTest(df: DataFrame, doseCol: String, depCols: Seq[String]): DataFrame = {
    val melted = df.select(col(doseCol).cast("int").as("g"),
        explode(array(depCols.map(d =>
          struct(lit(d).as("dep"), col(d).cast("double").as("y"))): _*)).as("e"))
      .select(col("g"), col("e.dep").as("dependent"), col("e.y").as("y"))
      .filter(col("y").isin(0.0, 1.0) && col("g").isin(0, 1, 2))
    val aggs = Seq(
      count(lit(1)).cast("double").as("n"),
      sum(col("y")).as("r")) ++
      (0 to 2).flatMap(i => Seq(
        sum(when(col("g") === i, 1.0).otherwise(0.0)).as(s"n$i"),
        sum(when(col("g") === i, col("y")).otherwise(0.0)).as(s"r$i")))
    val cells = melted.groupBy("dependent").agg(aggs.head, aggs.tail: _*)
    val sw = col("n1") + lit(2.0) * col("n2")   // sum w_i n_i
    val sw2 = col("n1") + lit(4.0) * col("n2")  // sum w_i^2 n_i
    val tstat = col("r1") + lit(2.0) * col("r2") - sw * col("r") / col("n")
    val vt = (col("r") / col("n")) * (lit(1.0) - col("r") / col("n")) *
      (sw2 - sw * sw / col("n"))
    val z = tstat / sqrt(vt)
    val x = abs(z)
    cells.select(col("dependent"),
      col("n").cast("long").as("total_n"), col("r").cast("long").as("cases"),
      col("n0").cast("long").as("n0"), col("n1").cast("long").as("n1"),
      col("n2").cast("long").as("n2"),
      r4(col("r0")).as("r0"), r4(col("r1")).as("r1"), r4(col("r2")).as("r2"),
      when(vt > 0, r4(tstat)).as("t_stat"),
      when(vt > 0, r4(z)).as("z"),
      when(vt > 0, r4(z * z)).as("chi2"),
      when(vt > 0, round(Norm.zsTail(x), 6)).as("p_trend"))
  }

  /** a28: CA trend of urgency/openness/size outcomes on the
    * deterministic 3-level dosage g = id mod 3. */
  def a28TrendTest(spark: SparkSession, dir: String): DataFrame =
    trendTest(cohort(spark, dir).withColumn("gdose", col("id") % 3),
        "gdose", Seq("d_urgent", "d_open", "d_big", "d_many"))
      .orderBy("dependent")

  /** The shared Zelen–Severo two-sided normal tail 2(1−Φ(|z|)),
    * rounded to 6 dp — operand order identical to a28/s13/s20 and
    * every oracle mirror. */
  private def twoSidedP(z: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val x = abs(z)
    round(Norm.zsTail(x), 6) + lit(0.0)
  }

  /** The rank tests' tie table with `c`, the number of rows of the
    * same `key` below each value: `ties` holds one (key, v) row with
    * its count `t`. The cumulative counts come from the RANGE-
    * PARTITIONED two-pass prefix scan (the c02/c16 machinery), NOT a
    * per-key window: a continuous trait's tie table is ~|rows| long,
    * and a window partitioned only by key would drag it through one
    * partition per key. The global scan runs in (key, v) struct
    * order; per-key c is the global cum minus the key's base (its
    * first value's cum) — the c16 per-source-base trick, |keys| rows
    * broadcast. */
  private def tiesBefore(ties: DataFrame, key: String): DataFrame = {
    val ordered = ties.withColumn("__ord", struct(col(key), col("v")))
    val scanned = Corpus.prefixScan(ordered, "__ord", "t", Seq("__cum")) {
      (start, _) => Seq(start)
    }
    val bases = scanned.groupBy(key).agg(min("__cum").as("__base"))
    scanned.join(broadcast(bases), key)
      .withColumn("c", col("__cum") - col("__base"))
  }

  /**
   * a46: MANN–WHITNEY U (Wilcoxon rank-sum) — the nonparametric
   * two-group comparison a01's linear model is NOT (no normality
   * assumption; the QC question "does this quantitative trait differ
   * between carriers and non-carriers when the distribution is
   * skewed"). Average ranks come from PER-VALUE COUNTS, never a
   * global row sort: one (dep, value) aggregate (t = ties, t₁ = ties
   * in group 1), a cumulative-count window over the |distinct
   * values|-bounded tie table, then per-dep sums — the q17/a26
   * altitude, so a billion-row cohort ranks in one shuffle plus a
   * bounded window. All rank arithmetic is INTEGER on the ×2 grid
   * (2·avgrank = 2·cumBefore + t + 1, exact at any partition count):
   * R1×2 = Σ t₁(2c+t+1), U1×2 = R1×2 − n₁(n₁+1), E[U1]×2 = n₁n₂,
   * tie-corrected Var = n₁n₂((n+1) − Σ(t³−t)/(n(n−1)))/12,
   * z = (U1×2 − n₁n₂)/(2σ), two-sided p via the shared tail.
   * BOTH grid accumulators run on the 128-bit grid (decimal(38,0)
   * here, HUGEINT in the oracle): the tie term Σ(t³−t) cubes (t³
   * alone overflows a long once a single tie group passes ~2.1M
   * rows — a discrete trait hits that far before n does), and
   * R1×2 ≲ 2n² would wrap a plain long past n ≈ 2·10⁹ per dep, so
   * it is widened the same way rather than doc-bounded (r19 advice).
   */
  private[graft] def mannWhitney(df: DataFrame, groupCol: String,
      deps: Seq[String]): DataFrame = {
    // map() melt coerces every dependent to double: exact for integer
    // counts (y_cnt) below 2^53; a wider integer dependent would lose
    // ULPs silently on BOTH engines (the oracle's CASE coerces the
    // same way), so the bound is pinned here rather than guarded.
    val melted = df.select(Seq(col(groupCol).cast("long").as("g")) ++
        Seq(explode(map(deps.flatMap(d => Seq(lit(d), col(d))): _*))
          .as(Seq("dep", "v"))): _*)
      .filter(col("v").isNotNull && col("g").isin(0L, 1L))
    val ties = melted.groupBy("dep", "v").agg(
      count(lit(1)).as("t"),
      sum(when(col("g") === 1L, 1L).otherwise(0L)).as("t1"))
    val agg = tiesBefore(ties, "dep").groupBy("dep").agg(
      sum("t").as("n"), sum("t1").as("n1"),
      sum(col("t1").cast("decimal(38,0)") *
        (lit(2L) * col("c") + col("t") + lit(1L))).as("r1x2"),
      sum(col("t").cast("decimal(38,0)") * col("t") * col("t") - col("t"))
        .cast("decimal(38,0)").as("tie3"))
    val n = col("n").cast("double")
    val n1 = col("n1").cast("double")
    val n2 = n - n1
    val u1x2 = (col("r1x2") - col("n1") * (col("n1") + lit(1L))).cast("double")
    val varU = n1 * n2 * ((n + lit(1.0)) -
      col("tie3").cast("double") / (n * (n - lit(1.0)))) / lit(12.0)
    val z = (u1x2 - n1 * n2) / (lit(2.0) * sqrt(varU))
    agg.select(col("dep").as("dependent"),
      col("n1"), (col("n") - col("n1")).as("n2"),
      (u1x2 / lit(2.0)).as("u1"),
      when(varU > 0, r4(z)).as("z"),
      when(varU > 0, twoSidedP(z)).as("p_mw"))
  }

  /** a46: rank-sum of the quantitative dependents between the xbin
    * carrier groups. */
  def a46MannWhitney(spark: SparkSession, dir: String): DataFrame =
    mannWhitney(cohort(spark, dir), "xbin", Seq("y_avg", "y_max", "y_cnt"))
      .orderBy("dependent")

  /**
   * a47: WILCOXON SIGNED-RANK — the nonparametric PAIRED test (a27's
   * McNemar for a quantitative difference): per subject the paired
   * difference d, zeros dropped (the standard Wilcoxon convention),
   * |d| ranked with average ranks from the same per-value-count
   * machinery as a46 (no global sort; integer ×2 rank grid),
   * W+×2 = Σ t₊(2c+t+1) over |d| ties, E[W+]×2 = n(n+1)/2,
   * tie-corrected Var = n(n+1)(2n+1)/24 − Σ(t³−t)/48,
   * z = (W+×2 − n(n+1)/2)/(2σ), two-sided p via the shared tail.
   * The fixture pairs each subject's y_max with its y_avg (the
   * m-family rule: synthesized pairing, real plumbing — the operator
   * takes any (id, a, b) frame).
   */
  private[graft] def wilcoxonSignedRank(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val d = df.select((col(aCol) - col(bCol)).as("d"))
      .filter(col("d").isNotNull && col("d") =!= 0.0)
    val ties = d.select(abs(col("d")).as("ad"),
        when(col("d") > 0, 1L).otherwise(0L).as("pos"))
      .groupBy("ad").agg(count(lit(1)).as("t"), sum("pos").as("tp"))
    // same range-partitioned two-pass prefix scan as a46 — a
    // continuous difference's tie table is ~|pairs| long, so an
    // unpartitioned window here would be the single-partition scan
    // this codebase bans
    val ranked = Corpus.prefixScan(ties, "ad", "t", Seq("c")) {
      (start, _) => Seq(start)
    }
    val agg = ranked.agg(
      sum("t").as("n"),
      // wx2 ≲ 2n² wraps a long past n ≈ 2·10⁹ pairs — same 128-bit
      // widening as a46's r1x2 (HUGEINT in the oracle)
      sum(col("tp").cast("decimal(38,0)") *
        (lit(2L) * col("c") + col("t") + lit(1L))).as("wx2"),
      sum(col("t").cast("decimal(38,0)") * col("t") * col("t") - col("t"))
        .cast("decimal(38,0)").as("tie3"))
    val n = col("n").cast("double")
    val mux2 = n * (n + lit(1.0)) / lit(2.0)
    val varW = n * (n + lit(1.0)) * (lit(2.0) * n + lit(1.0)) / lit(24.0) -
      col("tie3").cast("double") / lit(48.0)
    val z = (col("wx2").cast("double") - mux2) / (lit(2.0) * sqrt(varW))
    agg.select(col("n").as("n_pairs"),
      (col("wx2").cast("double") / lit(2.0)).as("w_plus"),
      when(varW > 0, r4(z)).as("z"),
      when(varW > 0, twoSidedP(z)).as("p_wsr"))
  }

  /** a47: signed-rank of the per-subject (y_max − y_avg) differences. */
  def a47WilcoxonSignedRank(spark: SparkSession, dir: String): DataFrame =
    wilcoxonSignedRank(cohort(spark, dir), "y_max", "y_avg")

  /**
   * a48: KRUSKAL–WALLIS — the K-group generalization of a46, the
   * nonparametric dose/arm comparison the quantitative family lacks
   * (a28 assumes a LINEAR dose trend; a34 answers the K-group
   * question for survival only). Average ranks come from the
   * identical per-value tie-count + range-partitioned prefix-scan
   * machinery as a46 — never a global sort — with per-GROUP rank
   * sums on the integer ×2 grid: R_g×2 = Σ t_g(2c+t+1), then
   *   H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1),
   *   tie-corrected H_c = H / (1 − Σ(t³−t)/(N³−N)),
   *   p on K−1 df — χ²₂ tail = exp(−H/2) closed-form for the K = 3
   *   fixture; K = 2 collapses to a46 exactly (H_c ≡ z², the
   *   Zelen–Severo tail on √H — spec-pinned reduction).
   * Grid accumulators ride the 128-bit grid (decimal(38,0) here,
   * HUGEINT in the oracle): R_g×2 ≲ 2N² wraps a long past N ≈ 2·10⁹
   * and the tie cube Σ(t³−t) far earlier (the a46 r19 lesson).
   * Degenerate: an empty arm or an all-tied dependent (corr ≤ 0) has
   * no K−1-df test → null H/p, the a29 monomorphic rule. One
   * melt-aggregate + the bounded tie-table scan per dependent — a
   * billion-row cohort ranks in one shuffle at any K.
   */
  private[graft] def kruskalWallis(df: DataFrame, groupCol: String,
      deps: Seq[String], k: Int = 3): DataFrame = {
    require(k == 2 || k == 3, s"kruskalWallis: k in {2,3}, got $k")
    val gs = 0 until k
    // map() melt: dependents coerce to double — exact below 2^53
    // (the a46 bound; pinned there)
    val melted = df.select(Seq(col(groupCol).cast("long").as("g")) ++
        Seq(explode(map(deps.flatMap(d => Seq(lit(d), col(d))): _*))
          .as(Seq("dep", "v"))): _*)
      .filter(col("v").isNotNull && col("g").isin(gs.map(_.toLong): _*))
    val tieAggs = Seq(count(lit(1)).as("t")) ++
      gs.map(i => sum(when(col("g") === i.toLong, 1L).otherwise(0L)).as(s"t$i"))
    val ties = melted.groupBy("dep", "v").agg(tieAggs.head, tieAggs.tail: _*)
    val rank2 = lit(2L) * col("c") + col("t") + lit(1L)
    val aggExprs = Seq(sum("t").as("n")) ++
      gs.map(i => sum(col(s"t$i")).as(s"n$i")) ++
      gs.map(i =>
        sum(col(s"t$i").cast("decimal(38,0)") * rank2).as(s"r${i}x2")) ++
      Seq(sum(col("t").cast("decimal(38,0)") * col("t") * col("t") - col("t"))
        .cast("decimal(38,0)").as("tie3"))
    val agg = tiesBefore(ties, "dep").groupBy("dep").agg(aggExprs.head, aggExprs.tail: _*)
    val n = col("n").cast("double")
    val sumTerm = gs.map { i =>
      val rg = col(s"r${i}x2").cast("double") / lit(2.0)
      rg * rg / col(s"n$i").cast("double")
    }.reduce(_ + _)
    val corr = lit(1.0) - col("tie3").cast("double") / (n * n * n - n)
    val h = (lit(12.0) / (n * (n + lit(1.0))) * sumTerm -
      lit(3.0) * (n + lit(1.0))) / corr
    val ok = gs.map(i => col(s"n$i") > 0L).reduce(_ && _) && corr > 0
    val p =
      if (k == 3) round(exp(lit(-0.5) * h), 6) + lit(0.0)
      // h is assembled in floating point (unlike cochranQ's exact
      // integer numerator), so near-identical groups can round a
      // true-zero H_c to a tiny negative — clamp before sqrt or the
      // NaN p would sit unmasked next to a non-null h (r20 advice)
      else twoSidedP(sqrt(greatest(h, lit(0.0))))
    agg.select(Seq(col("dep").as("dependent"),
        col("n").as("n_total")) ++
      gs.map(i => col(s"n$i")) ++
      Seq(when(ok, r4(h)).as("h"), when(ok, p).as("p_kw")): _*)
  }

  /** a48: Kruskal–Wallis of the quantitative dependents across the
    * deterministic 3-arm dosage gdose = id mod 3 (a28's fixture). */
  def a48KruskalWallis(spark: SparkSession, dir: String): DataFrame =
    kruskalWallis(cohort(spark, dir).withColumn("gdose", col("id") % 3),
        "gdose", Seq("y_avg", "y_max", "y_cnt"))
      .orderBy("dependent")

  /**
   * a49: SPEARMAN RANK CORRELATION matrix — the robust screen p17's
   * Pearson matrix is not (monotone association, immune to the
   * skew/outliers that motivate a46's rank-sum over a01's t-test).
   * LISTWISE-complete rows rank once per column via the a46 tie-count
   * machinery (per-value counts → prefix scan → average rank on the
   * integer ×2 grid; Pearson is affine-invariant so rank2 needs no
   * halving), ranks join back on (column, value) — the tie table is
   * ~|rows| long, so this is a shuffle join, never a broadcast — one
   * groupBy(id) re-assembles the K-value rank vector per row, and ONE
   * map-side-combined aggregate yields every pairwise sufficient sum:
   *   ρ = (nΣr_ar_b − Σr_aΣr_b) / √((nΣr_a²−(Σr_a)²)(nΣr_b²−(Σr_b)²))
   * with ALL second-order sums exact on the 128-bit grid
   * (decimal(38,0)/HUGEINT: Σr_ar_b ≲ 4n³ wraps a long at n ≈ 1.6M;
   * the covariance products reach 4n⁴, exact to n ≈ 2·10⁹) — both
   * engines cast the identical integer to double, so ρ is
   * bit-reproducible. Large-sample p via z = ρ√(n−1), the shared
   * Zelen–Severo tail. Constant column (variance 0) → null ρ/p.
   * Scale: 3 shuffles total — tie count, rank join-back + id
   * regroup, global agg — each linear, K² driver-side columns only.
   *
   * CONTRACT: `id` must be unique per row (r20 advice). The rank
   * vector re-assembles via groupBy(id) + max(when(...)), so a frame
   * with duplicate ids would silently MERGE those rows into one rank
   * vector (a wrong rho with no error). The fixture cohort's id is
   * its primary key; callers passing other frames must guarantee the
   * same or pre-deduplicate. The "spearman unique-id contract" test
   * in AssociationSpec pins the fixture side of the contract.
   */
  private[graft] def spearman(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "spearman: need at least two columns")
    val base = df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
      .select(col("id") +: cols.map(c => col(c).cast("double").as(c)): _*)
    val melted = base.select(col("id"),
      explode(map(cols.flatMap(c => Seq(lit(c), col(c))): _*))
        .as(Seq("cname", "v")))
    val ties = melted.groupBy("cname", "v").agg(count(lit(1)).as("t"))
    val rankTable = tiesBefore(ties, "cname")
      .select(col("cname"), col("v"),
        (lit(2L) * col("c") + col("t") + lit(1L)).as("rank2"))
    val rowAggs = cols.map(c =>
      max(when(col("cname") === c, col("rank2"))).as(s"r_$c"))
    val rankedRows = melted.join(rankTable, Seq("cname", "v"))
      .groupBy("id").agg(rowAggs.head, rowAggs.tail: _*)
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
      yield (cols(i), cols(j))
    val sumExprs = Seq(count(lit(1)).as("n")) ++
      cols.flatMap(c => Seq(
        sum(col(s"r_$c").cast("decimal(38,0)")).as(s"s_$c"),
        sum(col(s"r_$c").cast("decimal(38,0)") * col(s"r_$c")).as(s"ss_$c"))) ++
      pairs.map { case (a, b) =>
        sum(col(s"r_$a").cast("decimal(38,0)") * col(s"r_$b"))
          .as(s"sp_${a}__$b") }
    val g = rankedRows.agg(sumExprs.head, sumExprs.tail: _*)
    val nD = col("n").cast("double")
    val pairStructs = pairs.map { case (a, b) =>
      // exact 128-bit integer covariance/variance, THEN one cast
      val cov = (col("n") * col(s"sp_${a}__$b") -
        col(s"s_$a") * col(s"s_$b")).cast("double")
      val va = (col("n") * col(s"ss_$a") -
        col(s"s_$a") * col(s"s_$a")).cast("double")
      val vb = (col("n") * col(s"ss_$b") -
        col(s"s_$b") * col(s"s_$b")).cast("double")
      val rho = cov / sqrt(va * vb)
      val ok = va > 0 && vb > 0
      struct(lit(a).as("col_a"), lit(b).as("col_b"), col("n").as("n"),
        when(ok, r4(rho)).as("rho_s"),
        when(ok, twoSidedP(rho * sqrt(nD - lit(1.0)))).as("p_s"))
    }
    g.select(explode(array(pairStructs: _*)).as("e")).select(col("e.*"))
      .orderBy("col_a", "col_b")
  }

  /** a49: Spearman matrix over the predictor and the quantitative
    * dependents (listwise-complete: y_avg's id%7 nulls drop the row). */
  def a49Spearman(spark: SparkSession, dir: String): DataFrame =
    spearman(cohort(spark, dir), Seq("x", "y_avg", "y_cnt", "y_max"))

  /**
   * a50: FRIEDMAN test — the PAIRED K-group member that completes the
   * nonparametric family (a46 two-group, a47 paired two-condition,
   * a48 independent K-group): K repeated measures per subject, ranks
   * WITHIN each subject's row. Because each block has exactly K
   * values, ranking is a PURE PROJECTION — rank2_j = 2·#{l≠j:
   * v_l<v_j} + #{l≠j: v_l=v_j} + 2 (the a46 ×2 grid per row with the
   * self-tie folded into the constant; no shuffle, no tie table) —
   * followed by ONE map-side-combined aggregate of
   * (n, R_j×2 = Σ rank2_j, A×4 = Σ_j rank2_j²). Tie-corrected
   * (Conover) statistic:
   *   T = (K−1)·Σ_j(R_j − n(K+1)/2)² / (A − C),  C = nK(K+1)²/4,
   * which reduces to the classic 12/(nK(K+1))ΣR_j² − 3n(K+1) when
   * untied (spec-pinned); p on K−1 df (exp(−T/2) at the K=3
   * fixture). Blocks with any null drop (listwise — a partial block
   * has no within-row ranking). All-tied blocks throughout → A = C →
   * null (the a29 monomorphic rule). Accumulator widths: R_j×2 ≤ 2Kn
   * and A×4 ≤ 4K²n are LINEAR in n — exact longs to n ≈ 2.5·10¹⁷ at
   * K=3, no 128-bit needed (documented per the r20 width audit).
   * 100 TB cost: one projection + one K-column aggregate — the
   * cheapest shape in the family.
   */
  private[graft] def friedman(df: DataFrame, cols: Seq[String]): DataFrame = {
    val k = cols.size
    // closed-form χ² tails exist here for df 1 (normal) and df 2
    // (exp) only — the a48 rule
    require(k == 2 || k == 3, s"friedman: K in {2,3}, got $k")
    val base = df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
    def rank2(j: Int): org.apache.spark.sql.Column = {
      val less = cols.indices.filter(_ != j).map(l =>
        when(col(cols(l)) < col(cols(j)), 1L).otherwise(0L))
        .reduceOption(_ + _).getOrElse(lit(0L))
      val tied = cols.indices.filter(_ != j).map(l =>
        when(col(cols(l)) === col(cols(j)), 1L).otherwise(0L))
        .reduceOption(_ + _).getOrElse(lit(0L))
      // ×2 avg rank = 2c + t + 1 with t INCLUDING self (the a46
      // grid); `tied` here EXCLUDES self, hence the +2
      lit(2L) * less + tied + lit(2L)
    }
    val ranked = base.select(cols.indices.map(j =>
      rank2(j).as(s"r2_$j")): _*)
    val aggs = Seq(count(lit(1)).as("n")) ++
      cols.indices.map(j => sum(col(s"r2_$j")).as(s"rx2_$j")) ++
      Seq(sum(cols.indices.map(j => col(s"r2_$j") * col(s"r2_$j"))
        .reduce(_ + _)).as("ax4"))
    val g = ranked.agg(aggs.head, aggs.tail: _*)
    val n = col("n").cast("double")
    val kd = k.toDouble
    // Σ_j (R_j − n(K+1)/2)² on the ×4 grid: (R_j×2 − n(K+1))² / 4
    val numX4 = cols.indices.map { j =>
      val d = col(s"rx2_$j").cast("double") - n * lit(kd + 1.0)
      d * d
    }.reduce(_ + _)
    // (A − C)×4 = A×4 − nK(K+1)²
    val denX4 = col("ax4").cast("double") -
      n * lit(kd) * lit((kd + 1.0) * (kd + 1.0))
    val t = lit(kd - 1.0) * numX4 / denX4
    val p =
      if (k == 3) round(exp(lit(-0.5) * t), 6) + lit(0.0)
      else twoSidedP(sqrt(t))
    g.select(Seq(col("n").as("n_blocks")) ++
      cols.indices.map(j =>
        (col(s"rx2_$j").cast("double") / lit(2.0)).as(s"rank_sum_${cols(j)}")) ++
      Seq(when(denX4 > 0, r4(t)).as("friedman_chi2"),
        when(denX4 > 0, p).as("p_friedman")): _*)
  }

  /** a50: Friedman over each subject's three repeated summary
    * measures (the a47 m-family rule: synthesized repeated measures,
    * real plumbing — the operator takes any K-column frame). */
  def a50Friedman(spark: SparkSession, dir: String): DataFrame =
    friedman(cohort(spark, dir), Seq("y_avg", "y_max", "y_cnt"))

  /**
   * a51: COCHRAN'S Q — a40 McNemar's K-treatment generalization (the
   * paired test for K BINARY outcomes per subject: "do these K
   * diagnosis flags have the same marginal rate in the same
   * people?"): Q = (K−1)·(K·ΣC_j² − N²) / (K·N − ΣR_i²) with C_j the
   * per-treatment totals, R_i the per-subject row totals, N the grand
   * total — K=2 collapses to McNemar's (b−c)²/(b+c) exactly
   * (spec-pinned). ONE projection computes R_i² per row; ONE
   * map-side-combined aggregate yields every sufficient sum, all of
   * them LINEAR in n (C_j ≤ n, ΣR_i² ≤ K²n — exact longs); the
   * quadratic terms C_j² and N² appear only in the one-row post-agg
   * projection, where they ride the 128-bit decimal/HUGEINT grid
   * because (Kn)² crosses 2⁵³ at n ≈ 3·10⁷ (the r20 width-audit
   * rule). Subjects whose flags are all-0 or all-1 cancel from Q
   * algebraically (the standard identity) — no filter needed.
   * Degenerate denominator (every subject concordant) → null.
   * p on K−1 df (exp(−Q/2) at K=3).
   */
  private[graft] def cochranQ(df: DataFrame, cols: Seq[String]): DataFrame = {
    val k = cols.size
    // closed-form χ² tails exist here for df 1 and 2 only (a48 rule)
    require(k == 2 || k == 3, s"cochranQ: K in {2,3}, got $k")
    val base = df.filter(cols.map(c =>
      col(c).isNotNull && col(c).isin(0.0, 1.0)).reduce(_ && _))
    val rowTot = cols.map(c => col(c).cast("long")).reduce(_ + _)
    val proj = base.select(
      (cols.map(c => col(c).cast("long").as(s"x_$c")) :+
        (rowTot * rowTot).as("r2")): _*)
    val aggs = Seq(count(lit(1)).as("n")) ++
      cols.map(c => sum(col(s"x_$c")).as(s"c_$c")) ++
      Seq(sum(col("r2")).as("sr2"))
    val g = proj.agg(aggs.head, aggs.tail: _*)
    // post-agg arithmetic on the 128-bit grid: ΣC_j² and N² reach
    // (Kn)² — decimal(38,0)/HUGEINT keeps them exact past the 2^53
    // double cliff (the r20 width-audit rule)
    val cjs = cols.map(c => col(s"c_$c").cast("decimal(38,0)"))
    val nTot = cjs.reduce(_ + _)
    val sumC2 = cjs.map(c => c * c).reduce(_ + _)
    val num = (lit(k.toLong) * sumC2 - nTot * nTot).cast("double")
    val den = (lit(k.toLong) * nTot - col("sr2").cast("decimal(38,0)"))
      .cast("double")
    val q = lit((k - 1).toDouble) * num / den
    val p =
      if (k == 3) round(exp(lit(-0.5) * q), 6) + lit(0.0)
      else twoSidedP(sqrt(q))
    g.select(Seq(col("n").as("n_subjects")) ++
      cols.map(c => col(s"c_$c").as(s"cases_$c")) ++
      Seq(when(den > 0, r4(q)).as("cochran_q"),
        when(den > 0, p).as("p_q")): _*)
  }

  /** a51: Cochran's Q across the three urgency/openness/size
    * diagnosis flags per subject. */
  def a51CochranQ(spark: SparkSession, dir: String): DataFrame =
    cochranQ(cohort(spark, dir), Seq("d_urgent", "d_open", "d_big"))

  /**
   * Hardy–Weinberg equilibrium χ² — the per-variant GENOTYPING-QC
   * gate every GWAS runs before association (HWE failure flags
   * genotyping error / population structure; a28's trend test assumes
   * the dosage passed it): from genotype counts (n₀, n₁, n₂) the
   * allele frequency p̂ = (2n₂+n₁)/2N, expected counts N·(1-p̂)²,
   * 2N·p̂(1-p̂), N·p̂² and the 1-df χ² = Σ(obs−exp)²/exp, p via the
   * Zelen–Severo tail on √χ² (χ²₁ tail = 2(1−Φ(√x))). The variant
   * melt + ONE map-side-combined aggregation yields 3 counts per
   * variant; everything after is a one-row projection — a
   * million-variant QC pass is one grouped sum (the a21/a28 altitude).
   * Monomorphic variants (p̂ ∈ {0,1}) have no 1-df test → null χ²/p.
   */
  def hwe(df: DataFrame, variantCols: Seq[String]): DataFrame = {
    val melted = df.select(
        explode(array(variantCols.map(v =>
          struct(lit(v).as("variant"), col(v).cast("int").as("g"))): _*)).as("e"))
      .select(col("e.variant").as("variant"), col("e.g").as("g"))
      .filter(col("g").isin(0, 1, 2))
    val aggs = Seq(count(lit(1)).cast("double").as("n")) ++
      (0 to 2).map(i =>
        sum(when(col("g") === i, 1.0).otherwise(0.0)).as(s"n$i"))
    val cells = melted.groupBy("variant").agg(aggs.head, aggs.tail: _*)
    val p = (lit(2.0) * col("n2") + col("n1")) / (lit(2.0) * col("n"))
    val q = lit(1.0) - p
    val e0 = col("n") * q * q
    val e1 = lit(2.0) * col("n") * p * q
    val e2 = col("n") * p * p
    val chi2 = (col("n0") - e0) * (col("n0") - e0) / e0 +
      (col("n1") - e1) * (col("n1") - e1) / e1 +
      (col("n2") - e2) * (col("n2") - e2) / e2
    val x = sqrt(chi2)
    val ok = p > 0 && p < 1
    cells.select(col("variant"),
      col("n").cast("long").as("total_n"),
      col("n0").cast("long").as("n0"), col("n1").cast("long").as("n1"),
      col("n2").cast("long").as("n2"),
      round(p, 6).as("allele_freq"),
      when(ok, r4(chi2)).as("chi2"),
      when(ok, round(Norm.zsTail(x), 6)).as("p_hwe"))
  }

  /** a29: HWE QC over three deterministic pseudo-variants of the
    * cohort (integer residue dosages — exact in both engines). */
  def a29Hwe(spark: SparkSession, dir: String): DataFrame =
    hwe(cohort(spark, dir)
        .withColumn("v1", col("id") % 3)
        .withColumn("v2", (col("id") * 7 + 1) % 3)
        .withColumn("v3", pmod(col("id") * col("id") + col("id"), lit(3))),
      Seq("v1", "v2", "v3"))
      .orderBy("variant")

  /**
   * a20: ORDINAL (3-level) association by pooled cumulative logits —
   * the proportional-odds estimate a severity-graded phenotype needs
   * where a03's binary dichotomy throws information away: dichotomize
   * the ordered outcome at each of its J-1 thresholds, take the
   * closed-form Haldane-corrected log-odds-ratio per threshold (the
   * a04 rule, so empty extreme cells stay defined), and pool by
   * inverse variance (the s09 meta-analysis rule applied across
   * thresholds — the standard closed-form approximation to the
   * proportional-odds MLE, and EXACTLY equal to it under
   * proportionality as n→∞). ONE map-side-combined aggregation
   * computes all 2·(J-1)·4 cells + n per predictor; everything after
   * is a one-row projection, so the 100 TB cost is one scan.
   */
  def a20AssocOrdinal(spark: SparkSession, dir: String): DataFrame =
    ordinalPooled(
      cohort(spark, dir).withColumn("sev",
        when(col("y_cnt") >= 18, 2.0).when(col("y_cnt") >= 14, 1.0).otherwise(0.0)),
      Seq("xbin", "xpar"))

  /** Pooled-cumulative-logit core over a frame with a J-level `sev`
    * column (0..levels-1) and binary predictors — one threshold
    * dichotomy per cut t ∈ [1, levels), Haldane log-OR + Woolf
    * variance each, inverse-variance pooled across all J−1 cuts (the
    * left-assoc reduce keeps the J=3 operand order bit-identical to
    * the original two-threshold form). Still ONE map-side-combined
    * aggregation — 2·(J−1)·4 cells + n per predictor — so general J
    * changes the projection width, not the scan count. */
  def ordinalPooled(base: DataFrame, preds: Seq[String],
      dependent: String = "sev_cnt", levels: Int = 3): DataFrame = {
    require(levels >= 2 && levels <= 9,
      s"ordinalPooled: levels in [2,9], got $levels")
    val thrs = 1 until levels
    def branch(p: String): DataFrame = {
      def cell(thr: Int, xv: Int, yv: Int) = {
        val yc = if (yv == 1) col("sev") >= thr else col("sev") < thr
        sum(when(col(p) === xv.toDouble && yc, 1.0).otherwise(0.0))
          .as(s"c$xv${yv}_$thr")
      }
      val cells = thrs.flatMap(t =>
        Seq(cell(t, 1, 1), cell(t, 1, 0), cell(t, 0, 1), cell(t, 0, 0)))
      val agg = base.filter(col(p).isNotNull)
        .agg(cells.head, (cells.tail :+ count(lit(1)).as("n")): _*)
      def b(t: Int) = log((col(s"c11_$t") + 0.5) * (col(s"c00_$t") + 0.5)
        / ((col(s"c10_$t") + 0.5) * (col(s"c01_$t") + 0.5)))
      def v(t: Int) = lit(1.0) / (col(s"c11_$t") + 0.5) +
        lit(1.0) / (col(s"c10_$t") + 0.5) +
        lit(1.0) / (col(s"c01_$t") + 0.5) +
        lit(1.0) / (col(s"c00_$t") + 0.5)
      val wsum = thrs.map(t => b(t) / v(t)).reduce(_ + _)
      val wtot = thrs.map(t => lit(1.0) / v(t)).reduce(_ + _)
      val beta = wsum / wtot
      val se = sqrt(lit(1.0) / wtot)
      agg.select(lit(p).as("predictor"), lit(dependent).as("dependent"),
        r4(beta).as("beta"), r4(se).as("se"),
        r4(exp(beta)).as("or_pooled"), col("n").cast("long").as("total_n"))
    }
    preds.map(branch).reduce(_ union _).orderBy("predictor")
  }

  /** a24: the J-LEVEL generalization of a20 — a 4-level severity grade
    * (three threshold dichotomies pooled) over the same cohort. The
    * r12 verdict's "general J is a loop bound, not a new design" made
    * registerable: same scan shape, one more cut. */
  def a24AssocOrdinal4(spark: SparkSession, dir: String): DataFrame =
    ordinalPooled(
      cohort(spark, dir).withColumn("sev",
        when(col("y_cnt") >= 21, 3.0).when(col("y_cnt") >= 18, 2.0)
          .when(col("y_cnt") >= 14, 1.0).otherwise(0.0)),
      Seq("xbin", "xpar"), levels = 4)

  /** a16: CMH pooled odds ratio — deep-discount exposure vs
    * high-quantity outcome, stratified by returnflag (the
    * confounder). One row out; oracle replays the MH weights and
    * RBG variance verbatim. */
  def a16Cmh(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.lineitem(spark, dir).select(
      when(col("l_discount") > 0.05, 1.0).otherwise(0.0).as("x"),
      when(col("l_quantity") > 25, 1.0).otherwise(0.0).as("y"),
      col("l_returnflag").as("s"))
    Association.cmh(df, "x", "y", "s")
      .select(col("n_strata"), r4(col("or_mh")).as("or_mh"),
        r4(col("se_ln_or")).as("se_ln_or"))
  }

  /** a30: Breslow–Day OR-homogeneity test ([[Association.breslowDay]])
    * on a16's exact lineitem strata — validates that a16's pooled
    * discount→quantity OR is meaningful across return-flag strata
    * (3 strata → df = 2, the even-df closed-form tail). */
  def a30BreslowDay(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.lineitem(spark, dir).select(
      when(col("l_discount") > 0.05, 1.0).otherwise(0.0).as("x"),
      when(col("l_quantity") > 25, 1.0).otherwise(0.0).as("y"),
      col("l_returnflag").as("s"))
    Association.breslowDay(df, "x", "y", "s")
      .select(col("n_strata"), r4(col("or_mh")).as("or_mh"),
        r4(col("chi2_bd")).as("chi2_bd"),
        r4(col("chi2_tarone")).as("chi2_tarone"), col("df"),
        round(col("p_bd"), 6).as("p_bd"))
  }

  /** a31: KS drift of the order-price distribution between urgent and
    * non-urgent orders per market segment ([[Association.ksDrift]],
    * 10k-price bins) — the distribution-level companion to the
    * mean-level tests, and the template for corpus-version feature
    * drift monitoring. */
  def a31KsDrift(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val df = o.join(broadcast(c.select(col("c_custkey"), col("c_mktsegment"))),
        o("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("grp"),
        when(col("o_orderpriority") === "1-URGENT", 1.0).otherwise(0.0).as("g"),
        col("o_totalprice").as("v"))
    Association.ksDrift(df, "v", "g", "grp", binWidth = 10000.0)
      .select(col("grp"), col("n1"), col("n0"),
        r4(col("d_stat")).as("d_stat"), round(col("p_ks"), 6).as("p_ks"))
      .orderBy("grp")
  }

  /** a03: logistic association of a binary predictor — the 2×2
    * saturated model, whose MLE is the sample log-odds-ratio, so the
    * oracle is closed-form SQL over the contingency cells. Tight
    * tolerance so the fit agrees with the closed form past the 4-dp
    * rounding. */
  def a03AssocLogistic(spark: SparkSession, dir: String): DataFrame = {
    val cfg = Association.Config(Seq("xbin"), Seq("d_urgent", "d_open", "d_big", "d_many"),
      model = "logistic", minCaseCount = 5, maxIter = 100, tol = 1e-12)
    Association.assoc(cohort(spark, dir), cfg)
      .select(col("predictor"), col("dependent"),
        r4(col("beta")).as("beta"), r4(col("se")).as("se"),
        r4(col("OR")).as("OR"),
        col("cases"), col("controls"), col("total_n"))
      .orderBy("dependent")
  }

  /** a04: Firth association on the same 2×2 tables — the penalized
    * estimate equals the Haldane-corrected (+0.5 per cell) log-OR
    * (Firth 1993), giving a closed-form beta/OR oracle. se/pval are
    * spec-verified (the Firth Wald se is not the Haldane formula). */
  def a04AssocFirth(spark: SparkSession, dir: String): DataFrame = {
    val cfg = Association.Config(Seq("xbin"), Seq("d_urgent", "d_open", "d_big", "d_many"),
      model = "firth", minCaseCount = 5, maxIter = 200, tol = 1e-11)
    Association.assoc(cohort(spark, dir), cfg)
      .select(col("predictor"), col("dependent"),
        r4(col("beta")).as("beta"), r4(col("OR")).as("OR"),
        col("cases"), col("controls"), col("total_n"))
      .orderBy("dependent")
  }

  /** a07: FlipWAS shape — MULTIPLE predictors × multiple dependents
    * through the same engine (the reference's --flipwas mode iterates
    * predictors for one dependent; the melt handles the full cross).
    * 2×2 closed-form oracle per (predictor, dependent) cell. */
  def a07Flipwas(spark: SparkSession, dir: String): DataFrame = {
    val cfg = Association.Config(Seq("xbin", "xpar"), Seq("d_urgent", "d_big"),
      model = "logistic", minCaseCount = 5, maxIter = 100, tol = 1e-12)
    Association.assoc(cohort(spark, dir), cfg)
      .select(col("predictor"), col("dependent"),
        r4(col("beta")).as("beta"), r4(col("se")).as("se"),
        col("cases"), col("controls"), col("total_n"))
      .orderBy("predictor", "dependent")
  }

  /** a08: END-TO-END pipeline query — quantitative linear MAS with
    * `--logt` (README-roadmap log transform of dependents) through
    * `Pipeline.run`: select → transform → associate → Bonferroni →
    * sort. Oracle: DuckDB regr_* over ln(dep). */
  def a08PipelineLogt(spark: SparkSession, dir: String): DataFrame =
    graft.Pipeline.run(cohort(spark, dir), graft.GraftConfig(
      input = "", predictors = "x", dependents = "y_avg,y_max",
      model = "linear", quantitative = true, logt = true, minCaseCount = 20))
      .select(col("predictor"), col("dependent"),
        r4(col("beta")).as("beta"), r4(col("se")).as("se"),
        col("n_observations"))
      .orderBy("dependent")

  /** a09: pipeline query with `--rint` (rank-based inverse-normal
    * transform of dependents, ties broken on --order-col). DuckDB
    * oracle: the SQL-side Acklam qnorm (Preprocess.qnormSql) applied
    * to the Blom rank, then regr_* fits — the per-value ~1e-9
    * approximation residual washes out in the aggregates. The
    * transform is also verified in PipelineSpec against a
    * manually-RINTed frame. */
  def a09PipelineRint(spark: SparkSession, dir: String): DataFrame =
    graft.Pipeline.run(cohort(spark, dir), graft.GraftConfig(
      input = "", predictors = "x", dependents = "y_max",
      model = "linear", quantitative = true, rint = true, orderCol = "id",
      minCaseCount = 20))
      .select(col("predictor"), col("dependent"),
        r4(col("beta")).as("beta"), r4(col("se")).as("se"),
        col("n_observations"))
      .orderBy("dependent")

  /** a12: pipeline query with a CATEGORICAL covariate — the
    * `--categorical-covariates` path end-to-end: the 3-level zc
    * one-hot-encodes (first level dropped) inside `Pipeline.run`, so
    * the association fits x plus two dummy covariates. Oracle: the
    * a11 FWL² machinery over two SQL dummies of the same factor
    * (residualization on the factor subspace is parameterization-
    * invariant, so the oracle needn't know which level oneHot drops). */
  def a12PipelineCategorical(spark: SparkSession, dir: String): DataFrame =
    graft.Pipeline.run(cohort(spark, dir), graft.GraftConfig(
      input = "", predictors = "x", dependents = "y_avg,y_max",
      covariates = "zc", categoricalCovariates = "zc",
      model = "linear", quantitative = true, minCaseCount = 20))
      .select(col("predictor"), col("dependent"),
        r4(col("beta")).as("beta"), r4(col("se")).as("se"),
        col("n_observations"))
      .orderBy("dependent")

  /** s05: END-TO-END PheWAS annotation — `--phewas` +
    * `--phecode-defs` through the pipeline: the defs CSV (public
    * phecode_definitions catalog layout, a synthetic copy committed
    * under data/) broadcast-left-joins onto `dependent`
    * (postprocessing.py:23-29, constants.py:6-16). */
  def s05PhecodeAnnotate(spark: SparkSession, dir: String): DataFrame =
    graft.Pipeline.run(cohort(spark, dir), graft.GraftConfig(
      input = "", predictors = "xbin",
      dependents = "d_urgent,d_open,d_big,d_many",
      model = "firth", minCaseCount = 5,
      phewas = true, phecodeDefs = PhecodeDefsPath))
      .select(col("predictor"), col("dependent"), col("phenotype"),
        col("category"), col("category_number"),
        col("cases"), col("controls"), col("total_n"))
      .orderBy("dependent")

  private[graft] val PhecodeDefsPath = "/root/repo/data/phecode_definitions_test.csv"

  /**
   * ICD→PheCode mapping — the PheWAS on-ramp the reference's README
   * roadmap plans (/root/reference/README.md:165-175 "ICD code to
   * PheCode mapping support"): raw diagnosis rows (person, ICD code,
   * date) join a published ICD→phecode map (the Phecode Map 1.2
   * layout: icd, flag, phecode; a synthetic copy committed under
   * data/), then per-(person, phecode) DISTINCT-DATE counts feed the
   * standard min-code-count case rule that defines PheWAS phenotypes.
   *
   * Scale shape: the map is a published catalog (~100k rows at most)
   * — broadcast, so a 100 TB diagnosis table never shuffles for the
   * join; one ICD mapping to several phecodes fans out naturally.
   * The only shuffle is the (person, phecode) count aggregate, which
   * is map-side combinable. Unmapped ICDs drop (inner join), exactly
   * like the published mapping tools.
   */
  def icdToPhecode(diagnoses: DataFrame, icdMap: DataFrame,
      personCol: String = "person_id", icdCol: String = "icd",
      dateCol: String = "date", minCount: Int = 2): DataFrame = {
    val m = icdMap.select(col("icd").as("__map_icd"), col("phecode"))
    diagnoses.join(broadcast(m), diagnoses(icdCol) === m("__map_icd"))
      .groupBy(col(personCol), col("phecode"))
      .agg(countDistinct(col(dateCol)).as("n_dates"))
      .withColumn("is_case", col("n_dates") >= minCount)
  }

  private[graft] val IcdMapPath = "/root/repo/data/icd_phecode_map_test.csv"

  /** The bundled REAL-code catalog: a hand-curated subset of the
    * public PheWAS-catalog Phecode Map (ICD-9 rows flag 9, ICD-10
    * rows flag 10 — canonical mappings like ICD-9 401.1 → phecode
    * 401.1 essential hypertension, E11.9 → 250.2 type 2 diabetes),
    * bundled the same way the reference redistributes
    * phecode_definitions1.2.csv (constants.py:6-16). This offline
    * environment cannot fetch the full published CSV (~100k rows);
    * the complete catalog drops in via `spark.graft.icdMapPath`
    * unchanged — same layout, same code path. */
  private[graft] val IcdMapSubsetPath = "/root/repo/data/icd_phecode_map_subset.csv"

  /** s11: ICD→PheCode mapping end-to-end ON THE REAL-CODE CATALOG —
    * synthetic diagnoses draw real ICD-9/ICD-10 codes from the
    * bundled map by index (event_id % 100 picks the n-th distinct
    * code; indices past the catalog become UNMAPPED_* codes that
    * exercise the inner-join drop), then per-(person, phecode)
    * distinct-date counts feed the min-code-count case rule.
    * `spark.graft.icdMapPath` swaps in the full published catalog
    * (or the synthetic layout-test file). The index assignment is a
    * row_number over the catalog — catalog-sized, one tiny window,
    * broadcast everywhere else. */
  def s11IcdPhecode(spark: SparkSession, dir: String): DataFrame = {
    val mapPath = spark.conf.getOption("spark.graft.icdMapPath")
      .getOrElse(IcdMapSubsetPath)
    val icdMap = spark.read.option("header", "true").csv(mapPath)
    val codes = icdMap.select(col("icd")).distinct()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("icd")) - 1)
    val diag = Tables.events(spark, dir).select(
      col("user_id").as("person_id"),
      (col("event_id") % 100).cast("int").as("ci"),
      to_date(col("ts")).as("date"))
    val coded = diag.join(broadcast(codes), diag("ci") === codes("rn"), "left")
      .select(col("person_id"),
        coalesce(col("icd"), concat(lit("UNMAPPED_"), col("ci"))).as("icd"),
        col("date"))
    icdToPhecode(coded, icdMap).orderBy("person_id", "phecode")
  }

  /**
   * GWAS-style SCORE-TEST screen — the association engine's true
   * 100 TB path (REGENIE/SAIGE-style step-1/step-2 split): fit the
   * covariate-only logistic NULL model once per dependent (never per
   * predictor), then score EVERY predictor from ONE aggregation pass
   * — per-variant cost is one grouped sum, not 6–8 Newton scans, so
   * screening a million variants costs what fitting eight does.
   * Survivors go to the exact a04/a17 Firth fits.
   *
   * Determinism contract (the fixed-point-oracle rule applied to
   * IRLS): a FIXED 4 Newton iterations (not a convergence test), β
   * quantized to the 1e-6 grid after every step, and p̂ itself
   * quantized to micro units — so every score-pass reduction
   * (U, x'Wx, x'WZ, Z'WZ) is an EXACT integer sum over
   * (pμ, wμ = pμ(1e6−pμ), integer-valued x/s/y), order-independent
   * at any partition count and replayed verbatim by unrolled DuckDB
   * CTEs. The only cross-engine FP surface is exp() inside the
   * sigmoid (identical inputs; a mismatch would need the true value
   * within ~1e-10 of a rounding boundary) and the final closed-form
   * χ² expression, mirrored operand-for-operand.
   *
   * V = x'Wx − (x'WZ)(Z'WZ)⁻¹(Z'Wx) with Z = [1, s]: the 2×2
   * inverse is closed-form, so the executor/projection needs no
   * linear algebra. χ² = U²/V (1 df).
   *
   * `df` needs integer-valued double columns: `preds`/`deps` 0/1,
   * `sCol` small-integer covariate. Long-overflow bound: Σwμs² ≤
   * 2.5e11·s²·n — fine to n ≈ 10⁶ per partition-sum at s ≤ 4;
   * beyond that, scale wμ down one decade.
   */
  private[graft] def scoreScreen(df: DataFrame, sCol: String,
      preds: Seq[String], deps: Seq[String], iters: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val melted = df.select(Seq(col(sCol).as("s")) ++ preds.map(col) ++
        Seq(explode(map(deps.flatMap(d => Seq(lit(d), col(d))): _*))
          .as(Seq("dep", "y"))): _*)
      .localCheckpoint(true) // reused 4+1 times: cut the scan lineage
    def withP(b: DataFrame): DataFrame =
      melted.join(broadcast(b), Seq("dep"))
        .withColumn("pmu",
          round(lit(1000000.0) / (lit(1.0) + exp(-(col("b0") + col("b1") * col("s")))))
            .cast("long"))
        .withColumn("wmu", col("pmu") * (lit(1000000L) - col("pmu")))
        .withColumn("sL", col("s").cast("long"))
        .withColumn("ymu", col("y").cast("long") * lit(1000000L))
    // null fit: 4 fixed IRLS steps, ALL dependents in one grouped
    // scan per step; β is 2·|deps| doubles of bounded model state
    var betas: Map[String, (Double, Double)] = deps.map(_ -> ((0.0, 0.0))).toMap
    for (_ <- 1 to iters) {
      val sums = withP(betas.toSeq.map { case (d, (b0, b1)) => (d, b0, b1) }
          .toDF("dep", "b0", "b1"))
        .groupBy("dep").agg(
          sum("wmu").as("sw"),
          sum(col("wmu") * col("sL")).as("sws"),
          sum(col("wmu") * col("sL") * col("sL")).as("swss"),
          sum(col("ymu") - col("pmu")).as("u0"),
          sum(col("sL") * (col("ymu") - col("pmu"))).as("u1"))
        .collect()
      betas = sums.map { r =>
        val dep = r.getString(0)
        val a = r.getLong(1) / 1.0e12; val b = r.getLong(2) / 1.0e12
        val c = r.getLong(3) / 1.0e12
        val u0 = r.getLong(4) / 1.0e6; val u1 = r.getLong(5) / 1.0e6
        val det = a * c - b * b
        val (b0, b1) = betas(dep)
        dep -> ((Preprocess.q6(b0 + (c * u0 - b * u1) / det),
          Preprocess.q6(b1 + (a * u1 - b * u0) / det)))
      }.toMap
    }
    // score pass: ONE aggregation for every (predictor, dependent)
    // pair — all sums exact integers on the micro grid
    val scored = withP(betas.toSeq.map { case (d, (b0, b1)) => (d, b0, b1) }
        .toDF("dep", "b0", "b1"))
      .select(col("dep"), col("s"), col("sL"), col("y"), col("pmu"),
        col("wmu"), col("ymu"),
        explode(map(preds.flatMap(p => Seq(lit(p), col(p))): _*))
          .as(Seq("pred", "xv")))
      .withColumn("xL", col("xv").cast("long"))
      .groupBy("pred", "dep").agg(
        count(lit(1)).as("total_n"),
        sum(col("y").cast("long")).as("cases"),
        sum(col("xL") * (col("ymu") - col("pmu"))).as("umu"),
        sum(col("xL") * col("wmu")).as("sxw"),
        sum(col("xL") * col("wmu") * col("sL")).as("sxws"),
        sum("wmu").as("sw"),
        sum(col("wmu") * col("sL")).as("sws"),
        sum(col("wmu") * col("sL") * col("sL")).as("swss"))
    val a = col("sw") / lit(1.0e12); val b = col("sws") / lit(1.0e12)
    val c = col("swss") / lit(1.0e12)
    val v0 = col("sxw") / lit(1.0e12); val v1 = col("sxws") / lit(1.0e12)
    val det = a * c - b * b
    val vv = col("sxw") / lit(1.0e12) -
      (c * v0 * v0 - lit(2.0) * b * v0 * v1 + a * v1 * v1) / det
    val u = col("umu") / lit(1.0e6)
    scored.select(col("pred").as("predictor"), col("dep").as("dependent"),
      col("cases"), (col("total_n") - col("cases")).as("controls"),
      col("total_n"),
      // same degenerate-variance rule as a45/a46/a47: V ≤ 0 means no
      // score test, so null rather than engine-dependent NaN/Inf
      when(vv > 0, round(u * u / vv, 4) + lit(0)).as("score_chi2"))
  }

  /** a21: score-screen xbin/xpar against the binary dependents under
    * a z2-adjusted logistic null — the screening stage whose
    * survivors route to a04/a17. */
  def a21ScoreScreen(spark: SparkSession, dir: String): DataFrame =
    scoreScreen(cohort(spark, dir), "z2", Seq("xbin", "xpar"),
      Seq("d_urgent", "d_open", "d_big", "d_many"))
      .orderBy("predictor", "dependent")

  /** a37 survivor threshold on the 4-dp score χ² — both engines
    * compare the identically-rounded value, so the survivor sets
    * agree exactly. */
  private val ScreenChi2Threshold = 1.0

  /** a37 refit admission threshold, shared by the engine config AND
    * the generated oracle WHERE clause (r16 advice: the oracle
    * hardcoded 5 while the engine filtered on cfg.minCaseCount — they
    * agreed only by coincidence of the passed value). */
  private val A37MinCaseCount = 5

  /** a37: the two-stage REGENIE-shaped ROUTE the a21 design argues
    * for, as one registered pipeline — screen every (predictor,
    * dependent) pair with the O(pairs)-cheap score test (a21), then
    * route ONLY the survivors into the full Firth refit (a04's
    * fitter): the melted frame is semi-joined against the bounded
    * survivor grid BEFORE the fitter, so screened-out pairs never
    * reach IRLS (at PheWAS scale: a million-pair screen is one
    * grouped sum; the expensive penalized fits run on the handful
    * that pass). Output = the a04-shaped Firth refits of the
    * survivors, with the screen χ² carried alongside
    * (reference pipeline.py:17-42's screen→fit staging). */
  def a37ScreenFirth(spark: SparkSession, dir: String): DataFrame = {
    val coh = cohort(spark, dir)
    val preds = Seq("xbin", "xpar")
    val deps = Seq("d_urgent", "d_open", "d_big", "d_many")
    val survivors = scoreScreen(coh, "z2", preds, deps)
      .filter(col("score_chi2") >= ScreenChi2Threshold)
      .select(col("predictor"), col("dependent"), col("score_chi2"))
    val cfg = Association.Config(preds, deps, model = "firth",
      minCaseCount = A37MinCaseCount, maxIter = 200, tol = 1e-11)
    // the route: survivors is bounded by the pair grid (model state);
    // the semi-join broadcasts it, so only surviving groups shuffle
    // into the fitter
    val routed = Association.melt(coh, cfg)
      .join(broadcast(survivors.select("predictor", "dependent")),
        Seq("predictor", "dependent"), "left_semi")
    Association.binary(routed, cfg)
      .join(broadcast(survivors), Seq("predictor", "dependent"))
      // admission rule shared verbatim with the oracle: survivors whose
      // refit is non-viable (cases/controls < minCaseCount, or all-case
      // — the analysis.py:168-193 checks that make binary() fail the
      // pair) are DROPPED on both sides, so a sparse survivor can never
      // appear in one output and not the other
      .filter(col("cases") >= cfg.minCaseCount &&
        col("controls") >= cfg.minCaseCount && col("cases") =!= col("total_n"))
      .select(col("predictor"), col("dependent"),
        r4(col("beta")).as("beta"), r4(col("OR")).as("OR"),
        col("cases"), col("controls"), col("total_n"), col("score_chi2"))
      .orderBy("predictor", "dependent")
  }

  /**
   * a45: OLS SCORE-TEST screen — a21's screening stage for the
   * QUANTITATIVE family (the reference's linear path,
   * analysis.py's `linear` model): where a21 needs 4 IRLS steps to
   * pin the logistic null, the Gaussian null y ~ [1, s] is CLOSED
   * FORM, so the entire million-variant screen is ONE grouped
   * aggregation — per (predictor, dependent) pair, ten sufficient
   * sums (n, Σs, Σs², Σy, Σsy, Σy², Σx, Σxs, Σxy, Σx²) and a
   * projection: null OLS γ by Cramer's rule, score U = Σx·r =
   * Σxy − γ₀Σx − γ₁Σxs, V = σ̂²·(Σx² − x'Z(Z'Z)⁻¹Z'x) with
   * σ̂² = RSS/n (the MLE variance the score test uses), χ² = U²/V
   * (1 df). No driver loop, no model state at all — map-side-
   * combined partial sums make it one shuffle of 10 doubles per
   * pair at any cohort size, the cheapest possible per-variant
   * cost in the family. Survivors route to the exact a01/a02 Gram
   * fits (route spec-pinned, the a37 shape). Oracle mirrors every
   * expression operand-for-operand on the same sums.
   */
  private[graft] def scoreScreenLinear(df: DataFrame, sCol: String,
      preds: Seq[String], deps: Seq[String]): DataFrame = {
    val melted = df.select(Seq(col(sCol).as("s")) ++ preds.map(col) ++
        Seq(explode(map(deps.flatMap(d => Seq(lit(d), col(d))): _*))
          .as(Seq("dep", "y"))): _*)
      .filter(col("y").isNotNull)
      .select(col("dep"), col("s"), col("y"),
        explode(map(preds.flatMap(p => Seq(lit(p), col(p))): _*))
          .as(Seq("pred", "xv")))
    val g = melted.groupBy("pred", "dep").agg(
      count(lit(1)).as("n"),
      sum("s").as("ss"), sum(col("s") * col("s")).as("ss2"),
      sum("y").as("sy"), sum(col("s") * col("y")).as("ssy"),
      sum(col("y") * col("y")).as("syy"),
      sum("xv").as("sx"), sum(col("xv") * col("s")).as("sxs"),
      sum(col("xv") * col("y")).as("sxy"), sum(col("xv") * col("xv")).as("sxx"))
    val nD = col("n").cast("double")
    val det = nD * col("ss2") - col("ss") * col("ss")
    val g1 = (nD * col("ssy") - col("ss") * col("sy")) / det
    val g0 = (col("sy") - g1 * col("ss")) / nD
    val u = col("sxy") - g0 * col("sx") - g1 * col("sxs")
    val v = ((col("syy") - g0 * col("sy") - g1 * col("ssy")) / nD) *
      (col("sxx") - (col("ss2") * col("sx") * col("sx") -
        lit(2.0) * col("ss") * col("sx") * col("sxs") +
        nD * col("sxs") * col("sxs")) / det)
    g.select(col("pred").as("predictor"), col("dep").as("dependent"),
      col("n").as("total_n"),
      // degenerate null (constant s → det 0) or x ∈ span{1, s} → V ≤ 0:
      // no score test exists, so null — NOT the NaN/Inf Spark's x/0
      // yields, whose DuckDB mirror differs by version (r19 advice;
      // the a46/a47 `when(var > 0)` convention)
      when(v > 0, round(u * u / v, 4) + lit(0.0)).as("score_chi2"))
  }

  /** a45: OLS score-screen x/xbin/xpar against the quantitative
    * dependents under a z2-adjusted Gaussian null — the linear
    * counterpart of a21; survivors route to a01/a02's Gram fits. */
  def a45ScoreScreenLinear(spark: SparkSession, dir: String): DataFrame =
    scoreScreenLinear(cohort(spark, dir), "z2", Seq("x", "xbin", "xpar"),
      Seq("y_avg", "y_max", "y_cnt"))
      .orderBy("predictor", "dependent")

  /**
   * a22: POLYGENIC SCORE — the standard downstream of an association
   * scan, and faithfully so: real PRS applies PUBLISHED weights from
   * an external study (fitting is a01–a17's job), so the operator
   * takes a fixed (predictor → beta) map and scores every sample in
   * ONE projection with a FIXED left-to-right term order. Literal
   * decimal weights parse to the same binary double in both engines
   * and neither reassociates float adds, so the score is
   * bit-reproducible — no data-order aggregation touches it. (An
   * earlier fitted-weights variant died on an exact 4-decimal
   * rounding boundary: beta 623.97035 rounded opposite ways in the
   * two engines — published-weight scoring has no such cliff.) At
   * 100 TB the weights stay k literals and scoring is a pure map —
   * zero shuffles.
   */
  def prs(coh: DataFrame, weights: Seq[(String, Double)]): DataFrame = {
    val score = weights.map { case (p, b) => lit(b) * col(p) }
      .reduceLeft(_ + _)
    coh.select(col("id"), r4(score).as("prs"))
  }

  /** The a22 "published study" weight vector (mirrored literally in
    * the oracle SQL). */
  val prsWeights: Seq[(String, Double)] = Seq(
    "x" -> 0.05, "xbin" -> -150.25, "xpar" -> 80.5,
    "z1" -> 12.75, "z2" -> -9.125)

  /** a22: score every sample with the published weights over the five
    * cohort predictors. */
  def a22Prs(spark: SparkSession, dir: String): DataFrame =
    prs(cohort(spark, dir), prsWeights).orderBy("id")

  /** a05: per-pair case/control counts + viability flag
    * (analysis.py:168-193) as a pure aggregate — no fit. */
  def a05CaseCounts(spark: SparkSession, dir: String): DataFrame = {
    val minCase = 50
    val cfg = Association.Config(Seq("xbin"),
      Seq("d_urgent", "d_open", "d_big", "d_many", "d_rare", "d_all"))
    Association.melt(cohort(spark, dir), cfg)
      .groupBy("predictor", "dependent")
      .agg(sum("y").cast("long").as("cases"), count(lit(1)).as("total_n"))
      .select(col("predictor"), col("dependent"), col("cases"),
        (col("total_n") - col("cases")).as("controls"), col("total_n"),
        (col("cases") >= minCase && (col("total_n") - col("cases")) >= minCase &&
          col("cases") =!= col("total_n")).as("viable"))
      .orderBy("dependent")
  }

  /** a06: validation-skip rows — reference defaults (firth, logistf
    * tolerances) with min_case_count=100 so each non-viable branch of
    * analysis.py:168-193 fires; viable pairs carry "nan". */
  def a06ValidationSkip(spark: SparkSession, dir: String): DataFrame = {
    val cfg = Association.Config(Seq("xbin"),
      Seq("d_big", "d_open", "d_rare", "d_all", "d_null"), minCaseCount = 100)
    Association.assoc(cohort(spark, dir), cfg)
      .select(col("predictor"), col("dependent"), col("failed_reason"))
      .orderBy("dependent")
  }

  // --------------------------------------------------------- oracle SQL

  /** One closed-form 2×2 branch per dependent (shared by a03/a04). */
  private def cells(dep: String): String =
    s"""(SELECT
       |  CAST(sum(CASE WHEN xbin = 1 AND $dep = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n11,
       |  CAST(sum(CASE WHEN xbin = 1 AND $dep = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n10,
       |  CAST(sum(CASE WHEN xbin = 0 AND $dep = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n01,
       |  CAST(sum(CASE WHEN xbin = 0 AND $dep = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n00
       |FROM cohort WHERE $dep IS NOT NULL)""".stripMargin

  private def cellsFor(pred: String, dep: String): String =
    s"""(SELECT
       |  CAST(sum(CASE WHEN $pred = 1 AND $dep = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n11,
       |  CAST(sum(CASE WHEN $pred = 1 AND $dep = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n10,
       |  CAST(sum(CASE WHEN $pred = 0 AND $dep = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n01,
       |  CAST(sum(CASE WHEN $pred = 0 AND $dep = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n00
       |FROM cohort WHERE $dep IS NOT NULL)""".stripMargin

  private def flipBranch(pred: String, dep: String): String =
    s"""SELECT '$pred' AS predictor, '$dep' AS dependent,
       |  round(ln((n11 * n00) / (n10 * n01)), 4) + 0 AS beta,
       |  round(sqrt(1.0/n11 + 1.0/n10 + 1.0/n01 + 1.0/n00), 4) + 0 AS se,
       |  CAST(n11 + n01 AS BIGINT) AS cases,
       |  CAST(n10 + n00 AS BIGINT) AS controls,
       |  CAST(n11 + n10 + n01 + n00 AS BIGINT) AS total_n
       |FROM ${cellsFor(pred, dep)}""".stripMargin

  private def linBranch(dep: String): String =
    s"""SELECT 'x' AS predictor, '$dep' AS dependent,
       |  round(regr_slope($dep, x), 4) + 0 AS beta,
       |  round(sqrt(regr_syy($dep, x) * (1 - regr_r2($dep, x))
       |    / (regr_count($dep, x) - 2) / regr_sxx($dep, x)), 4) + 0 AS se,
       |  CAST(regr_count($dep, x) AS BIGINT) AS n_observations
       |FROM cohort""".stripMargin

  private def logtBranch(dep: String): String =
    s"""SELECT 'x' AS predictor, '$dep' AS dependent,
       |  round(regr_slope(ln($dep), x), 4) + 0 AS beta,
       |  round(sqrt(regr_syy(ln($dep), x) * (1 - regr_r2(ln($dep), x))
       |    / (regr_count(ln($dep), x) - 2) / regr_sxx(ln($dep), x)), 4) + 0 AS se,
       |  CAST(regr_count(ln($dep), x) AS BIGINT) AS n_observations
       |FROM cohort""".stripMargin

  private def annotCountsBranch(dep: String): String =
    s"""SELECT 'xbin' AS predictor, '$dep' AS dependent,
       |  CAST(sum($dep) AS BIGINT) AS cases,
       |  CAST(count(*) - sum($dep) AS BIGINT) AS controls,
       |  CAST(count(*) AS BIGINT) AS total_n
       |FROM cohort WHERE $dep IS NOT NULL AND xbin IS NOT NULL""".stripMargin

  private def fwlBranch(dep: String): String =
    s"""SELECT 'x' AS predictor, '$dep' AS dependent,
       |  round(regr_slope(yr, xr), 4) + 0 AS beta,
       |  round(sqrt(regr_syy(yr, xr) * (1 - regr_r2(yr, xr))
       |    / (regr_count(yr, xr) - 3) / regr_sxx(yr, xr)), 4) + 0 AS se,
       |  CAST(regr_count(yr, xr) AS BIGINT) AS n_observations
       |FROM (
       |  SELECT $dep - (p.ay + p.by * z1) AS yr, x - (p.ax + p.bx * z1) AS xr
       |  FROM cohort, (
       |    SELECT regr_slope($dep, z1) AS by, regr_intercept($dep, z1) AS ay,
       |           regr_slope(x, z1) AS bx, regr_intercept(x, z1) AS ax
       |    FROM cohort WHERE $dep IS NOT NULL AND x IS NOT NULL) p
       |  WHERE $dep IS NOT NULL AND x IS NOT NULL)""".stripMargin

  private def fwl2Branch(dep: String): String = fwl2BranchOn(dep, "z1", "z2")

  /** FWL² with arbitrary covariate SQL expressions. Used by a11
    * (z1, z2) and a12 (two one-hot dummies of the 3-level zc —
    * residualizing on the factor's subspace is invariant to WHICH two
    * dummies parameterize it, so the oracle needn't mirror oneHot's
    * drop-first choice). */
  private def fwl2BranchOn(dep: String, z1: String, z2: String): String =
    fwl2TargetOn("x", "x", dep, z1, z2)

  /** FWL² with the reported regressor itself an arbitrary SQL
    * expression (`target`, labeled `label`). Used by a13, where the
    * target is the interaction x·z1 and the remaining regressors are
    * its main effects. */
  private def fwl2TargetOn(label: String, target: String, dep: String,
      z1: String, z2: String): String =
    s"""SELECT '$label' AS predictor, '$dep' AS dependent,
       |  round(regr_slope(yr, xr), 4) + 0 AS beta,
       |  round(sqrt(regr_syy(yr, xr) * (1 - regr_r2(yr, xr))
       |    / (regr_count(yr, xr) - 4) / regr_sxx(yr, xr)), 4) + 0 AS se,
       |  CAST(regr_count(yr, xr) AS BIGINT) AS n_observations
       |FROM (
       |  SELECT $dep - (p.my + p.by1 * (($z1) - p.m1) + p.by2 * (($z2) - p.m2)) AS yr,
       |         ($target) - (p.mx + p.bx1 * (($z1) - p.m1) + p.bx2 * (($z2) - p.m2)) AS xr
       |  FROM cohort, (
       |    SELECT avg($dep) AS my, avg(($target)) AS mx, avg($z1) AS m1, avg($z2) AS m2,
       |      (covar_pop($dep, $z1) * covar_pop($z2, $z2) - covar_pop($dep, $z2) * covar_pop($z1, $z2))
       |        / (covar_pop($z1, $z1) * covar_pop($z2, $z2) - covar_pop($z1, $z2) * covar_pop($z1, $z2)) AS by1,
       |      (covar_pop($dep, $z2) * covar_pop($z1, $z1) - covar_pop($dep, $z1) * covar_pop($z1, $z2))
       |        / (covar_pop($z1, $z1) * covar_pop($z2, $z2) - covar_pop($z1, $z2) * covar_pop($z1, $z2)) AS by2,
       |      (covar_pop(($target), $z1) * covar_pop($z2, $z2) - covar_pop(($target), $z2) * covar_pop($z1, $z2))
       |        / (covar_pop($z1, $z1) * covar_pop($z2, $z2) - covar_pop($z1, $z2) * covar_pop($z1, $z2)) AS bx1,
       |      (covar_pop(($target), $z2) * covar_pop($z1, $z1) - covar_pop(($target), $z1) * covar_pop($z1, $z2))
       |        / (covar_pop($z1, $z1) * covar_pop($z2, $z2) - covar_pop($z1, $z2) * covar_pop($z1, $z2)) AS bx2
       |    FROM cohort WHERE $dep IS NOT NULL AND ($target) IS NOT NULL) p
       |  WHERE $dep IS NOT NULL AND ($target) IS NOT NULL)""".stripMargin

  private def logisticBranch(dep: String): String =
    s"""SELECT 'xbin' AS predictor, '$dep' AS dependent,
       |  round(ln((n11 * n00) / (n10 * n01)), 4) + 0 AS beta,
       |  round(sqrt(1.0/n11 + 1.0/n10 + 1.0/n01 + 1.0/n00), 4) + 0 AS se,
       |  round((n11 * n00) / (n10 * n01), 4) + 0 AS "OR",
       |  CAST(n11 + n01 AS BIGINT) AS cases,
       |  CAST(n10 + n00 AS BIGINT) AS controls,
       |  CAST(n11 + n10 + n01 + n00 AS BIGINT) AS total_n
       |FROM ${cells(dep)}""".stripMargin

  private def firthBranch(dep: String): String =
    s"""SELECT 'xbin' AS predictor, '$dep' AS dependent,
       |  round(ln(((n11+0.5) * (n00+0.5)) / ((n10+0.5) * (n01+0.5))), 4) + 0 AS beta,
       |  round(((n11+0.5) * (n00+0.5)) / ((n10+0.5) * (n01+0.5)), 4) + 0 AS "OR",
       |  CAST(n11 + n01 AS BIGINT) AS cases,
       |  CAST(n10 + n00 AS BIGINT) AS controls,
       |  CAST(n11 + n10 + n01 + n00 AS BIGINT) AS total_n
       |FROM ${cells(dep)}""".stripMargin

  /** a20 branch: per-threshold Haldane log-OR + Woolf variance over
    * the severity-augmented cohort, inverse-variance pooled — same
    * operation order as the Spark projection, round4 both sides. */
  private def ordBranch(p: String): String =
    s"""SELECT '$p' AS predictor, 'sev_cnt' AS dependent,
       |  round((b1/v1 + b2/v2) / (1.0/v1 + 1.0/v2), 4) + 0 AS beta,
       |  round(sqrt(1.0 / (1.0/v1 + 1.0/v2)), 4) + 0 AS se,
       |  round(exp((b1/v1 + b2/v2) / (1.0/v1 + 1.0/v2)), 4) + 0 AS or_pooled,
       |  CAST(n AS BIGINT) AS total_n
       |FROM (
       |  SELECT
       |    ln((c11_1+0.5)*(c00_1+0.5)/((c10_1+0.5)*(c01_1+0.5))) AS b1,
       |    1.0/(c11_1+0.5) + 1.0/(c10_1+0.5) + 1.0/(c01_1+0.5) + 1.0/(c00_1+0.5) AS v1,
       |    ln((c11_2+0.5)*(c00_2+0.5)/((c10_2+0.5)*(c01_2+0.5))) AS b2,
       |    1.0/(c11_2+0.5) + 1.0/(c10_2+0.5) + 1.0/(c01_2+0.5) + 1.0/(c00_2+0.5) AS v2,
       |    n
       |  FROM (
       |    SELECT
       |      sum(CASE WHEN $p = 1.0 AND sev >= 1 THEN 1.0 ELSE 0.0 END) AS c11_1,
       |      sum(CASE WHEN $p = 1.0 AND sev < 1 THEN 1.0 ELSE 0.0 END) AS c10_1,
       |      sum(CASE WHEN $p = 0.0 AND sev >= 1 THEN 1.0 ELSE 0.0 END) AS c01_1,
       |      sum(CASE WHEN $p = 0.0 AND sev < 1 THEN 1.0 ELSE 0.0 END) AS c00_1,
       |      sum(CASE WHEN $p = 1.0 AND sev >= 2 THEN 1.0 ELSE 0.0 END) AS c11_2,
       |      sum(CASE WHEN $p = 1.0 AND sev < 2 THEN 1.0 ELSE 0.0 END) AS c10_2,
       |      sum(CASE WHEN $p = 0.0 AND sev >= 2 THEN 1.0 ELSE 0.0 END) AS c01_2,
       |      sum(CASE WHEN $p = 0.0 AND sev < 2 THEN 1.0 ELSE 0.0 END) AS c00_2,
       |      count(*) AS n
       |    FROM sevcoh WHERE $p IS NOT NULL
       |  )
       |)""".stripMargin

  /** a24 branch: ordBranch generalized to J levels — per-threshold
    * Haldane log-OR + Woolf variance for every cut t ∈ [1, J), pooled
    * by inverse variance with the same left-assoc sum order as the
    * Spark reduce. */
  private def ordBranchJ(p: String, levels: Int): String = {
    val thrs = 1 until levels
    val cellSql = thrs.flatMap { t =>
      Seq(
        s"sum(CASE WHEN $p = 1.0 AND sev >= $t THEN 1.0 ELSE 0.0 END) AS c11_$t",
        s"sum(CASE WHEN $p = 1.0 AND sev < $t THEN 1.0 ELSE 0.0 END) AS c10_$t",
        s"sum(CASE WHEN $p = 0.0 AND sev >= $t THEN 1.0 ELSE 0.0 END) AS c01_$t",
        s"sum(CASE WHEN $p = 0.0 AND sev < $t THEN 1.0 ELSE 0.0 END) AS c00_$t")
    }.mkString(",\n      ")
    val bvSql = thrs.map { t =>
      s"""ln((c11_$t+0.5)*(c00_$t+0.5)/((c10_$t+0.5)*(c01_$t+0.5))) AS b$t,
         |    1.0/(c11_$t+0.5) + 1.0/(c10_$t+0.5) + 1.0/(c01_$t+0.5) + 1.0/(c00_$t+0.5) AS v$t""".stripMargin
    }.mkString(",\n    ")
    val wsum = thrs.map(t => s"b$t/v$t").mkString(" + ")
    val wtot = thrs.map(t => s"1.0/v$t").mkString(" + ")
    s"""SELECT '$p' AS predictor, 'sev_cnt' AS dependent,
       |  round(($wsum) / ($wtot), 4) + 0 AS beta,
       |  round(sqrt(1.0 / ($wtot)), 4) + 0 AS se,
       |  round(exp(($wsum) / ($wtot)), 4) + 0 AS or_pooled,
       |  CAST(n AS BIGINT) AS total_n
       |FROM (
       |  SELECT $bvSql, n
       |  FROM (
       |    SELECT
       |      $cellSql,
       |      count(*) AS n
       |    FROM sevcoh WHERE $p IS NOT NULL
       |  )
       |)""".stripMargin
  }

  /** a23 oracle: the a19 per-time/risk-set CTEs, then the 6-step
    * Newton trajectory UNROLLED as CTE pairs (score/information sums
    * st_k → grid-rounded beta it_k — the a21 IRLS-replay rule applied
    * to the Breslow partial likelihood). Null information latches
    * beta NULL through the chain, matching the fitter's dead-group
    * path; strata with zero events never enter evt, matching
    * flatMapGroups' empty emission. */
  private def coxPhSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      val prev = if (k == 1) "it0" else s"it${k - 1}"
      s"""st$k AS (
         |  SELECT e.grp, i.beta,
         |    sum(d1 - d * n1 * exp(i.beta) / ((n - n1) + n1 * exp(i.beta))) AS u,
         |    sum(d * (n1 * exp(i.beta) * (n - n1))
         |      / ((((n - n1) + n1 * exp(i.beta))) * (((n - n1) + n1 * exp(i.beta))))) AS i2
         |  FROM evt e JOIN $prev i ON e.grp = i.grp GROUP BY 1, 2
         |), it$k AS (
         |  SELECT grp, CASE WHEN i2 > 0
         |    THEN floor((beta + u / i2) * 1000000 + 0.5) / 1000000.0 END AS beta
         |  FROM st$k
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH s AS (
       |  SELECT c.c_mktsegment AS grp,
       |    CAST(date_diff('day', o.o_orderdate, DATE '2001-08-02') + 1 AS DOUBLE) AS t,
       |    CASE WHEN o.o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS ev,
       |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS x
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  WHERE o.o_orderdate IS NOT NULL
       |), pt AS (
       |  SELECT grp, t, sum(ev) AS d, sum(ev * x) AS d1,
       |    CAST(count(*) AS DOUBLE) AS c, sum(x) AS c1
       |  FROM s GROUP BY 1, 2
       |), rs AS (
       |  SELECT *,
       |    sum(c) OVER (PARTITION BY grp ORDER BY t DESC
       |      ROWS UNBOUNDED PRECEDING) AS n,
       |    sum(c1) OVER (PARTITION BY grp ORDER BY t DESC
       |      ROWS UNBOUNDED PRECEDING) AS n1
       |  FROM pt
       |), evt AS (
       |  SELECT grp, d, d1, n, n1 FROM rs WHERE d > 0
       |), evn AS (
       |  SELECT grp, CAST(sum(d) AS BIGINT) AS events FROM evt GROUP BY grp
       |), it0 AS (
       |  SELECT DISTINCT grp, 0.0 AS beta FROM evt
       |), $steps, fin AS (
       |  SELECT e.grp, i.beta,
       |    sum(d * (n1 * exp(i.beta) * (n - n1))
       |      / ((((n - n1) + n1 * exp(i.beta))) * (((n - n1) + n1 * exp(i.beta))))) AS i2
       |  FROM evt e JOIN it$iters i ON e.grp = i.grp GROUP BY 1, 2
       |)
       |SELECT f.grp, v.events,
       |  CASE WHEN f.i2 > 0 THEN round(f.beta, 4) + 0 END AS beta,
       |  CASE WHEN f.i2 > 0 THEN round(1.0 / sqrt(f.i2), 4) + 0 END AS se,
       |  CASE WHEN f.i2 > 0 THEN round(f.beta * f.beta * f.i2, 4) + 0 END AS chi2,
       |  CASE WHEN f.i2 > 0 THEN round(exp(f.beta), 4) + 0 END AS hr
       |FROM fin f JOIN evn v ON f.grp = v.grp ORDER BY f.grp""".stripMargin
  }

  /** a35 oracle: the a27 window/set construction widened to full
    * sets, the (grp, sz, n1, xc) count table, 8 unrolled Newton CTE
    * pairs over the closed per-cell score/information, the a27
    * Horner tail — every operand order mirrors clogit1M's kernel. */
  private def clogitSql(iters: Int): String = {
    val den = "(n1 * exp(i.beta) + (sz - n1))"
    val u = s"sum(c * (xc - n1 * exp(i.beta) / $den))"
    val i2 = s"sum(c * (n1 * exp(i.beta) * (sz - n1)) / ($den * $den))"
    val steps = (1 to iters).map { k =>
      val prev = if (k == 1) "it0" else s"it${k - 1}"
      s"""st$k AS (
         |  SELECT e.grp, i.beta, $u AS u, $i2 AS i2
         |  FROM cells e JOIN $prev i ON e.grp = i.grp GROUP BY 1, 2
         |), it$k AS (
         |  SELECT grp, CASE WHEN i2 > 0
         |    THEN floor((beta + u / i2) * 1000000 + 0.5) / 1000000.0 END AS beta
         |  FROM st$k
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH j AS (
       |  SELECT c.c_custkey AS cust, c.c_mktsegment AS grp,
       |    o.o_orderkey AS okey, o.o_totalprice AS price,
       |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS x
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY cust ORDER BY price DESC, okey) AS rd
       |  FROM j
       |), s AS (
       |  SELECT cust, max(grp) AS grp, CAST(count(*) AS INT) AS sz,
       |    CAST(sum(x) AS INT) AS n1,
       |    CAST(max(CASE WHEN rd = 1 THEN x END) AS INT) AS xc
       |  FROM r GROUP BY cust HAVING count(*) >= 2
       |), cells AS (
       |  SELECT grp, sz, n1, xc, CAST(count(*) AS DOUBLE) AS c
       |  FROM s GROUP BY 1, 2, 3, 4
       |), ns AS (
       |  SELECT grp, CAST(sum(c) AS BIGINT) AS n_sets,
       |    CAST(sum(CASE WHEN n1 > 0 AND n1 < sz THEN c ELSE 0 END) AS BIGINT)
       |      AS n_informative
       |  FROM cells GROUP BY grp
       |), it0 AS (SELECT DISTINCT grp, 0.0 AS beta FROM cells),
       |$steps, fin AS (
       |  SELECT e.grp, i.beta, $i2 AS i2
       |  FROM cells e JOIN it$iters i ON e.grp = i.grp GROUP BY 1, 2
       |), fx AS (
       |  SELECT grp, beta, i2, abs(beta) * sqrt(i2) AS xv FROM fin WHERE i2 > 0
       |), ft AS (
       |  SELECT *, 1.0 / (1.0 + 0.2316419 * xv) AS t FROM fx
       |)
       |SELECT v.grp, v.n_sets, v.n_informative,
       |  round(f.beta, 4) + 0 AS beta,
       |  round(1.0 / sqrt(f.i2), 4) + 0 AS se,
       |  round(exp(f.beta), 4) + 0 AS "or",
       |  round(2.0 * exp(-0.5 * f.xv * f.xv) * 0.3989422804014327
       |    * (f.t * (0.319381530 + f.t * (-0.356563782 + f.t * (1.781477937
       |      + f.t * (-1.821255978 + f.t * 1.330274429))))), 6) AS p_wald
       |FROM ns v LEFT JOIN ft f ON v.grp = f.grp ORDER BY v.grp""".stripMargin
  }

  /** a32 oracle: the a23 CTE chain under EFRON ties — the per-tie
    * inner sum Σ_{l<d} runs as an IN-ORDER `list_sum` over
    * `generate_series(0, d−1)` (ascending l, matching the kernel's l
    * loop left-to-right), so the unrolled Newton trajectory is
    * operand-order identical to the engine's. */
  private def coxPhEfronSql(iters: Int): String = {
    val s0 = "((n - n1) + n1 * exp(i.beta))"
    val s1 = "(n1 * exp(i.beta))"
    val s0e = "((d - d1) + d1 * exp(i.beta))"
    val s1e = "(d1 * exp(i.beta))"
    val r = s"($s1 - (l / d) * $s1e) / ($s0 - (l / d) * $s0e)"
    val ls = "list_sum(list_transform(generate_series(0, CAST(d AS BIGINT) - 1), l -> "
    val uExpr = s"sum(d1 - $ls$r)))"
    val iExpr = s"sum($ls($r) * (1.0 - $r))))"
    val steps = (1 to iters).map { k =>
      val prev = if (k == 1) "it0" else s"it${k - 1}"
      s"""st$k AS (
         |  SELECT e.grp, i.beta,
         |    $uExpr AS u,
         |    $iExpr AS i2
         |  FROM evt e JOIN $prev i ON e.grp = i.grp GROUP BY 1, 2
         |), it$k AS (
         |  SELECT grp, CASE WHEN i2 > 0
         |    THEN floor((beta + u / i2) * 1000000 + 0.5) / 1000000.0 END AS beta
         |  FROM st$k
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH s AS (
       |  SELECT c.c_mktsegment AS grp,
       |    CAST(date_diff('day', o.o_orderdate, DATE '2001-08-02') + 1 AS DOUBLE) AS t,
       |    CASE WHEN o.o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS ev,
       |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS x
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  WHERE o.o_orderdate IS NOT NULL
       |), pt AS (
       |  SELECT grp, t, sum(ev) AS d, sum(ev * x) AS d1,
       |    CAST(count(*) AS DOUBLE) AS c, sum(x) AS c1
       |  FROM s GROUP BY 1, 2
       |), rs AS (
       |  SELECT *,
       |    sum(c) OVER (PARTITION BY grp ORDER BY t DESC
       |      ROWS UNBOUNDED PRECEDING) AS n,
       |    sum(c1) OVER (PARTITION BY grp ORDER BY t DESC
       |      ROWS UNBOUNDED PRECEDING) AS n1
       |  FROM pt
       |), evt AS (
       |  SELECT grp, d, d1, n, n1 FROM rs WHERE d > 0
       |), evn AS (
       |  SELECT grp, CAST(sum(d) AS BIGINT) AS events FROM evt GROUP BY grp
       |), it0 AS (
       |  SELECT DISTINCT grp, 0.0 AS beta FROM evt
       |), $steps, fin AS (
       |  SELECT e.grp, i.beta,
       |    $iExpr AS i2
       |  FROM evt e JOIN it$iters i ON e.grp = i.grp GROUP BY 1, 2
       |)
       |SELECT f.grp, v.events,
       |  CASE WHEN f.i2 > 0 THEN round(f.beta, 4) + 0 END AS beta,
       |  CASE WHEN f.i2 > 0 THEN round(1.0 / sqrt(f.i2), 4) + 0 END AS se,
       |  CASE WHEN f.i2 > 0 THEN round(f.beta * f.beta * f.i2, 4) + 0 END AS chi2,
       |  CASE WHEN f.i2 > 0 THEN round(exp(f.beta), 4) + 0 END AS hr
       |FROM fin f JOIN evn v ON f.grp = v.grp ORDER BY f.grp""".stripMargin
  }

  /** a26 oracle: the a19/a23 per-time/risk-set CTEs, then the KM
    * curve as ONE ascending cumulative window in the log domain —
    * identical operand order (ascending t, left-assoc) to the
    * engine's window sums. The d = n terminal row (whole risk set
    * fails) short-circuits to surv 0 / se NULL on both sides instead
    * of reaching ln(0). */
  private val kaplanMeierSql: String =
    """WITH s AS (
      |  SELECT c.c_mktsegment AS grp,
      |    CAST(date_diff('day', o.o_orderdate, DATE '2001-08-02') + 1 AS DOUBLE) AS t,
      |    CASE WHEN o.o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS ev
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE o.o_orderdate IS NOT NULL
      |), pt AS (
      |  SELECT grp, t, sum(ev) AS d, CAST(count(*) AS DOUBLE) AS c
      |  FROM s GROUP BY 1, 2
      |), rs AS (
      |  SELECT *,
      |    sum(c) OVER (PARTITION BY grp ORDER BY t DESC
      |      ROWS UNBOUNDED PRECEDING) AS n
      |  FROM pt
      |), evt AS (
      |  SELECT grp, t, d, n,
      |    CASE WHEN d < n THEN ln(1.0 - d / n) ELSE 0.0 END AS lterm,
      |    CASE WHEN d < n THEN d / (n * (n - d)) ELSE 0.0 END AS gterm,
      |    CASE WHEN d >= n THEN 1 ELSE 0 END AS z
      |  FROM rs WHERE d > 0
      |), cum AS (
      |  SELECT grp, t, n, d,
      |    sum(lterm) OVER (PARTITION BY grp ORDER BY t ASC
      |      ROWS UNBOUNDED PRECEDING) AS lsum,
      |    sum(gterm) OVER (PARTITION BY grp ORDER BY t ASC
      |      ROWS UNBOUNDED PRECEDING) AS gsum,
      |    max(z) OVER (PARTITION BY grp ORDER BY t ASC
      |      ROWS UNBOUNDED PRECEDING) AS zeroed
      |  FROM evt
      |)
      |SELECT grp, t, CAST(n AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d_events,
      |  CASE WHEN zeroed = 1 THEN 0.0 ELSE round(exp(lsum), 4) + 0 END AS surv,
      |  CASE WHEN zeroed = 1 THEN NULL
      |    ELSE round(exp(lsum) * sqrt(gsum), 4) + 0 END AS se
      |FROM cum ORDER BY grp, t""".stripMargin

  /** Unrolled a25 replay: (x, z)-stratified per-time risk counts via
    * 2·(zMax+1) DESC-window cumulative sums, then `iters` 2×2 Newton
    * CTE pairs whose S-sum operand order mirrors the Scala kernel's z
    * loop term-for-term (left-assoc), both betas floor-gridded to 1e-6
    * per step. Singular information (det ≤ 0, ixx ≤ 0) latches betas
    * NULL through the chain, matching the fitter's dead path. */
  /** The default a25 cohort CTE: integer-banded z. `coxPhCovSql`
    * takes the cohort as a parameter so a33 can swap in the
    * quantile-binned continuous-z cohort over the same Newton chain. */
  private val covCohortBanded: String =
    """s AS (
      |  SELECT c.c_mktsegment AS grp,
      |    CAST(date_diff('day', o.o_orderdate, DATE '2001-08-02') + 1 AS DOUBLE) AS t,
      |    CASE WHEN o.o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS ev,
      |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS x,
      |    CAST(least(floor(o.o_totalprice / 75000), 6) AS INTEGER) AS z
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE o.o_orderdate IS NOT NULL
      |)""".stripMargin

  /** a33 cohort CTE: z = 7-quantile level of the CONTINUOUS order
    * price — `quantile_cont` mirrors quantilesExact's type-7
    * interpolation (the p15-proven equivalence), cuts applied as the
    * same ascending Σ 1{zc ≥ cut} the engine folds. */
  private val covCohortQuantile: String = {
    val qs = (1 to 6).map(k => s"quantile_cont(zc, $k.0/7) AS q$k").mkString(",\n    ")
    val lvl = (1 to 6).map(k => s"(CASE WHEN zc >= q$k THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""zsrc AS (
       |  SELECT c.c_mktsegment AS grp,
       |    CAST(date_diff('day', o.o_orderdate, DATE '2001-08-02') + 1 AS DOUBLE) AS t,
       |    CASE WHEN o.o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS ev,
       |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS x,
       |    CAST(o.o_totalprice AS DOUBLE) AS zc
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  WHERE o.o_orderdate IS NOT NULL
       |), cuts AS (
       |  SELECT $qs
       |  FROM zsrc
       |), s AS (
       |  SELECT grp, t, ev, x, $lvl AS z
       |  FROM zsrc, cuts
       |)""".stripMargin
  }

  private def coxPhCovSql(iters: Int, zMax: Int,
      cohortCte: String = covCohortBanded): String = {
    val zs = 0 to zMax
    val cells = zs.flatMap(z => Seq(0, 1).map(x =>
      s"sum(CASE WHEN x = $x AND z = $z THEN 1.0 ELSE 0.0 END) AS c$x$z"))
      .mkString(",\n    ")
    val wins = zs.flatMap(z => Seq(0, 1).map(x =>
      s"sum(c$x$z) OVER (PARTITION BY grp ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n$x$z"))
      .mkString(",\n    ")
    val ncols = zs.flatMap(z => Seq(0, 1).map(x => s"n$x$z")).mkString(", ")
    // per-event S sums at the iterate i's (bx, bz) — operand order is
    // the kernel's z loop: both = (n0z + n1z·e^bx)·e^(bz·z), x1 = n1z·e^bx·e^(bz·z)
    val s0 = zs.map(z => s"(n0$z + n1$z * exp(i.bx)) * exp(i.bz * $z)").mkString(" + ")
    val s1x = zs.map(z => s"n1$z * exp(i.bx) * exp(i.bz * $z)").mkString(" + ")
    val s1z = zs.map(z =>
      s"$z * ((n0$z + n1$z * exp(i.bx)) * exp(i.bz * $z))").mkString(" + ")
    val s2xz = zs.map(z =>
      s"$z * (n1$z * exp(i.bx) * exp(i.bz * $z))").mkString(" + ")
    val s2zz = zs.map(z =>
      s"${z * z} * ((n0$z + n1$z * exp(i.bx)) * exp(i.bz * $z))").mkString(" + ")
    def sums = // the five score/information aggregates (S2xx == S1x)
      s"""    sum(e.dx - e.d * ($s1x) / ($s0)) AS ux,
         |    sum(e.dz - e.d * ($s1z) / ($s0)) AS uz,
         |    sum(e.d * (($s1x) / ($s0) - (($s1x) / ($s0)) * (($s1x) / ($s0)))) AS ixx,
         |    sum(e.d * (($s2xz) / ($s0) - (($s1x) / ($s0)) * (($s1z) / ($s0)))) AS ixz,
         |    sum(e.d * (($s2zz) / ($s0) - (($s1z) / ($s0)) * (($s1z) / ($s0)))) AS izz""".stripMargin
    val steps = (1 to iters).map { k =>
      val prev = if (k == 1) "it0" else s"it${k - 1}"
      s"""st$k AS (
         |  SELECT e.grp, i.bx, i.bz,
         |$sums
         |  FROM evt e JOIN $prev i ON e.grp = i.grp GROUP BY 1, 2, 3
         |), it$k AS (
         |  SELECT grp,
         |    CASE WHEN ixx * izz - ixz * ixz > 0 AND ixx > 0 THEN
         |      floor((bx + (izz * ux - ixz * uz) / (ixx * izz - ixz * ixz)) * 1000000 + 0.5) / 1000000.0 END AS bx,
         |    CASE WHEN ixx * izz - ixz * ixz > 0 AND ixx > 0 THEN
         |      floor((bz + (ixx * uz - ixz * ux) / (ixx * izz - ixz * ixz)) * 1000000 + 0.5) / 1000000.0 END AS bz
         |  FROM st$k
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $cohortCte, pt AS (
       |  SELECT grp, t, sum(ev) AS d, sum(ev * x) AS dx, sum(ev * z) AS dz,
       |    $cells
       |  FROM s GROUP BY 1, 2
       |), rs AS (
       |  SELECT grp, t, d, dx, dz,
       |    $wins
       |  FROM pt
       |), evt AS (
       |  SELECT grp, d, dx, dz, $ncols FROM rs WHERE d > 0
       |), evn AS (
       |  SELECT grp, CAST(sum(d) AS BIGINT) AS events FROM evt GROUP BY grp
       |), it0 AS (
       |  SELECT DISTINCT grp, 0.0 AS bx, 0.0 AS bz FROM evt
       |), $steps, fin AS (
       |  SELECT e.grp, i.bx, i.bz,
       |$sums
       |  FROM evt e JOIN it$iters i ON e.grp = i.grp GROUP BY 1, 2, 3
       |), fd AS (
       |  SELECT grp, bx, bz, ixx, izz, ixx * izz - ixz * ixz AS det FROM fin
       |)
       |SELECT f.grp, v.events,
       |  CASE WHEN f.det > 0 AND f.ixx > 0 AND f.izz > 0 THEN round(f.bx, 4) + 0 END AS beta_x,
       |  CASE WHEN f.det > 0 AND f.ixx > 0 AND f.izz > 0 THEN round(sqrt(f.izz / f.det), 4) + 0 END AS se_x,
       |  CASE WHEN f.det > 0 AND f.ixx > 0 AND f.izz > 0 THEN round(exp(f.bx), 4) + 0 END AS hr_x,
       |  CASE WHEN f.det > 0 AND f.ixx > 0 AND f.izz > 0 THEN round(f.bz, 4) + 0 END AS beta_z,
       |  CASE WHEN f.det > 0 AND f.ixx > 0 AND f.izz > 0 THEN round(sqrt(f.ixx / f.det), 4) + 0 END AS se_z,
       |  CASE WHEN f.det > 0 AND f.ixx > 0 AND f.izz > 0 THEN round(f.bx * f.bx * f.det / f.izz, 4) + 0 END AS chi2
       |FROM fd f JOIN evn v ON f.grp = v.grp ORDER BY f.grp""".stripMargin
  }

  /** a36 cohort CTE: covCohortBanded plus the second adjuster
    * z2 = tertile-of-year band ⌊(month−1)/4⌋ ∈ {0,1,2}. */
  private val covCohortBanded2: String =
    """s AS (
      |  SELECT c.c_mktsegment AS grp,
      |    CAST(date_diff('day', o.o_orderdate, DATE '2001-08-02') + 1 AS DOUBLE) AS t,
      |    CASE WHEN o.o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS ev,
      |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS x,
      |    CAST(least(floor(o.o_totalprice / 75000), 6) AS INTEGER) AS z1,
      |    CAST(floor((month(o.o_orderdate) - 1) / 4) AS INTEGER) AS z2
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE o.o_orderdate IS NOT NULL
      |)""".stripMargin

  /** a36 oracle: coxPhCovSql's unrolled-Newton replay widened to the
    * (x, z1, z2) cell grid and the closed symmetric-3×3 adjugate —
    * per-iterate cofactor CTEs (a00..a22, first-row-Laplace det)
    * mirror [[Association.coxPhCov2]]'s `cof` operand-for-operand;
    * the S-sum strings enumerate cells in the kernel's z1-outer/
    * z2-inner loop order. */
  private def coxPhCov2Sql(iters: Int, z1Max: Int, z2Max: Int): String = {
    val zs = for (a <- 0 to z1Max; b <- 0 to z2Max) yield (a, b)
    val cells = zs.flatMap { case (a, b) => Seq(0, 1).map(x =>
      s"sum(CASE WHEN x = $x AND z1 = $a AND z2 = $b THEN 1.0 ELSE 0.0 END) AS c${x}_${a}_$b")
    }.mkString(",\n    ")
    val wins = zs.flatMap { case (a, b) => Seq(0, 1).map(x =>
      s"sum(c${x}_${a}_$b) OVER (PARTITION BY grp ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n${x}_${a}_$b")
    }.mkString(",\n    ")
    val ncols = zs.flatMap { case (a, b) =>
      Seq(0, 1).map(x => s"n${x}_${a}_$b") }.mkString(", ")
    def ez(a: Int, b: Int) = s"exp(i.b1 * $a + i.b2 * $b)"
    def both(a: Int, b: Int) =
      s"(n0_${a}_$b + n1_${a}_$b * exp(i.bx)) * ${ez(a, b)}"
    def x1(a: Int, b: Int) = s"n1_${a}_$b * exp(i.bx) * ${ez(a, b)}"
    val s0 = zs.map { case (a, b) => both(a, b) }.mkString(" + ")
    val s1x = zs.map { case (a, b) => x1(a, b) }.mkString(" + ")
    val s11 = zs.map { case (a, b) => s"$a * (${both(a, b)})" }.mkString(" + ")
    val s12 = zs.map { case (a, b) => s"$b * (${both(a, b)})" }.mkString(" + ")
    val sx1 = zs.map { case (a, b) => s"$a * (${x1(a, b)})" }.mkString(" + ")
    val sx2 = zs.map { case (a, b) => s"$b * (${x1(a, b)})" }.mkString(" + ")
    val s211 = zs.map { case (a, b) => s"${a * a} * (${both(a, b)})" }.mkString(" + ")
    val s212 = zs.map { case (a, b) => s"${a * b} * (${both(a, b)})" }.mkString(" + ")
    val s222 = zs.map { case (a, b) => s"${b * b} * (${both(a, b)})" }.mkString(" + ")
    def sums = // the nine score/information aggregates (S2xx == S1x)
      s"""    sum(e.dx - e.d * ($s1x) / ($s0)) AS ux,
         |    sum(e.d1 - e.d * ($s11) / ($s0)) AS u1,
         |    sum(e.d2 - e.d * ($s12) / ($s0)) AS u2,
         |    sum(e.d * (($s1x) / ($s0) - (($s1x) / ($s0)) * (($s1x) / ($s0)))) AS ixx,
         |    sum(e.d * (($sx1) / ($s0) - (($s1x) / ($s0)) * (($s11) / ($s0)))) AS ix1,
         |    sum(e.d * (($sx2) / ($s0) - (($s1x) / ($s0)) * (($s12) / ($s0)))) AS ix2,
         |    sum(e.d * (($s211) / ($s0) - (($s11) / ($s0)) * (($s11) / ($s0)))) AS i11,
         |    sum(e.d * (($s212) / ($s0) - (($s11) / ($s0)) * (($s12) / ($s0)))) AS i12,
         |    sum(e.d * (($s222) / ($s0) - (($s12) / ($s0)) * (($s12) / ($s0)))) AS i22""".stripMargin
    val cofCols =
      """i11 * i22 - i12 * i12 AS a00, ix2 * i12 - ix1 * i22 AS a01,
        |    ix1 * i12 - i11 * ix2 AS a02, ixx * i22 - ix2 * ix2 AS a11,
        |    ix1 * ix2 - ixx * i12 AS a12, ixx * i11 - ix1 * ix1 AS a22,
        |    ixx * (i11 * i22 - i12 * i12) + ix1 * (ix2 * i12 - ix1 * i22)
        |      + ix2 * (ix1 * i12 - i11 * ix2) AS det""".stripMargin
    val steps = (1 to iters).map { k =>
      val prev = if (k == 1) "it0" else s"it${k - 1}"
      s"""st$k AS (
         |  SELECT e.grp, i.bx, i.b1, i.b2,
         |$sums
         |  FROM evt e JOIN $prev i ON e.grp = i.grp GROUP BY 1, 2, 3, 4
         |), co$k AS (
         |  SELECT grp, bx, b1, b2, ux, u1, u2, ixx,
         |    $cofCols
         |  FROM st$k
         |), it$k AS (
         |  SELECT grp,
         |    CASE WHEN det > 0 AND ixx > 0 AND a22 > 0 THEN
         |      floor((bx + (a00 * ux + a01 * u1 + a02 * u2) / det) * 1000000 + 0.5) / 1000000.0 END AS bx,
         |    CASE WHEN det > 0 AND ixx > 0 AND a22 > 0 THEN
         |      floor((b1 + (a01 * ux + a11 * u1 + a12 * u2) / det) * 1000000 + 0.5) / 1000000.0 END AS b1,
         |    CASE WHEN det > 0 AND ixx > 0 AND a22 > 0 THEN
         |      floor((b2 + (a02 * ux + a12 * u1 + a22 * u2) / det) * 1000000 + 0.5) / 1000000.0 END AS b2
         |  FROM co$k
         |)""".stripMargin
    }.mkString(", ")
    val ok = "f.det > 0 AND f.ixx > 0 AND f.a00 > 0 AND f.a11 > 0 AND f.a22 > 0"
    s"""WITH $covCohortBanded2, pt AS (
       |  SELECT grp, t, sum(ev) AS d, sum(ev * x) AS dx,
       |    sum(ev * z1) AS d1, sum(ev * z2) AS d2,
       |    $cells
       |  FROM s GROUP BY 1, 2
       |), rs AS (
       |  SELECT grp, t, d, dx, d1, d2,
       |    $wins
       |  FROM pt
       |), evt AS (
       |  SELECT grp, d, dx, d1, d2, $ncols FROM rs WHERE d > 0
       |), evn AS (
       |  SELECT grp, CAST(sum(d) AS BIGINT) AS events FROM evt GROUP BY grp
       |), it0 AS (
       |  SELECT DISTINCT grp, 0.0 AS bx, 0.0 AS b1, 0.0 AS b2 FROM evt
       |), $steps, fin AS (
       |  SELECT e.grp, i.bx, i.b1, i.b2,
       |$sums
       |  FROM evt e JOIN it$iters i ON e.grp = i.grp GROUP BY 1, 2, 3, 4
       |), fco AS (
       |  SELECT grp, bx, b1, b2, ux, u1, u2, ixx,
       |    $cofCols
       |  FROM fin
       |)
       |SELECT f.grp, v.events,
       |  CASE WHEN $ok THEN round(f.bx, 4) + 0 END AS beta_x,
       |  CASE WHEN $ok THEN round(sqrt(f.a00 / f.det), 4) + 0 END AS se_x,
       |  CASE WHEN $ok THEN round(exp(f.bx), 4) + 0 END AS hr_x,
       |  CASE WHEN $ok THEN round(f.b1, 4) + 0 END AS beta_z1,
       |  CASE WHEN $ok THEN round(sqrt(f.a11 / f.det), 4) + 0 END AS se_z1,
       |  CASE WHEN $ok THEN round(f.b2, 4) + 0 END AS beta_z2,
       |  CASE WHEN $ok THEN round(sqrt(f.a22 / f.det), 4) + 0 END AS se_z2,
       |  CASE WHEN $ok THEN round(f.bx * f.bx * f.det / f.a00, 4) + 0 END AS chi2
       |FROM fco f JOIN evn v ON f.grp = v.grp ORDER BY f.grp""".stripMargin
  }

  private def countsBranch(dep: String, minCase: Int): String =
    s"""SELECT 'xbin' AS predictor, '$dep' AS dependent,
       |  CAST(sum($dep) AS BIGINT) AS cases,
       |  CAST(count(*) - sum($dep) AS BIGINT) AS controls,
       |  CAST(count(*) AS BIGINT) AS total_n,
       |  (sum($dep) >= $minCase AND count(*) - sum($dep) >= $minCase
       |    AND sum($dep) <> count(*)) AS viable
       |FROM cohort WHERE $dep IS NOT NULL AND xbin IS NOT NULL""".stripMargin

  /** a39 oracle branch. lnfact is the in-order list_sum of ln(i) —
    * every prefix of that fold is double-identical to the engine
    * kernel's single ascending accumulation (which now captures only
    * the anchor prefixes) — the per-k mass is anchor + a prefix
    * list_sum of the step-recurrence terms (double-identical to the
    * engine's left-assoc running stepSum), and the support sum
    * replays ascending k in-order (the Efron-ties precedent); the
    * two-sided rule uses the same p_obs·(1+1e-7) slack. n > 1e7
    * publishes NULL p + skipped = true, mirroring the engine frame. */
  private def fisherBranch(dep: String): String = {
    def lnf(e: String) =
      "coalesce(list_sum(list_transform(generate_series(1, " +
        s"CAST($e AS BIGINT)), i -> ln(CAST(i AS DOUBLE)))), 0.0)"
    def lnP(k: String) =
      s"${lnf("r1")} + ${lnf("n - r1")} + ${lnf("c1")} + ${lnf("n - c1")}" +
        s" - ${lnf("n")} - ${lnf(k)} - ${lnf(s"r1 - ($k)")}" +
        s" - ${lnf(s"c1 - ($k)")} - ${lnf(s"n - r1 - c1 + ($k)")}"
    val step = "ln(CAST(r1 - j AS DOUBLE)) + ln(CAST(c1 - j AS DOUBLE))" +
      " - ln(CAST(j + 1 AS DOUBLE)) - ln(CAST(n - r1 - c1 + j + 1 AS DOUBLE))"
    def pk(k: String) =
      "exp(anchor + coalesce(list_sum(list_transform(" +
        s"generate_series(kmin, ($k) - 1), j -> $step)), 0.0))"
    s"""SELECT 'xbin' AS predictor, '$dep' AS dependent, n11, n10, n01, n00,
       |  CASE WHEN skipped THEN NULL
       |    ELSE round((-1.0 * ln(p)) / ln(10.0), 4) + 0 END AS neg_log10_p,
       |  CASE WHEN skipped THEN NULL ELSE round(p, 6) + 0 END AS p_fisher,
       |  round((n11 + 0.5) * (n00 + 0.5)
       |    / ((n10 + 0.5) * (n01 + 0.5)), 4) + 0 AS or_haldane,
       |  skipped
       |FROM (
       |  SELECT *, least(1.0, list_sum(list_transform(
       |      generate_series(kmin, least(r1, c1)),
       |      k -> CASE WHEN ${pk("k")} <= thr
       |        THEN ${pk("k")} ELSE 0.0 END))) AS p
       |  FROM (
       |    SELECT *, exp(${lnP("n11")}) * (1.0 + 0.0000001) AS thr,
       |      ${lnP("kmin")} AS anchor
       |    FROM (
       |      SELECT *, greatest(0, c1 - (n - r1)) AS kmin,
       |        (n > 10000000) AS skipped
       |      FROM (
       |        SELECT *, n11 + n10 AS r1, n11 + n01 AS c1,
       |          n11 + n10 + n01 + n00 AS n
       |        FROM (
       |          SELECT
       |            CAST(sum(CASE WHEN xbin = 1 AND $dep = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
       |            CAST(sum(CASE WHEN xbin = 1 AND $dep = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
       |            CAST(sum(CASE WHEN xbin = 0 AND $dep = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
       |            CAST(sum(CASE WHEN xbin = 0 AND $dep = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
       |          FROM cohort WHERE $dep IS NOT NULL AND xbin IS NOT NULL)))))""".stripMargin
  }

  /** a41 oracle branch: the same integer Mann–Whitney accumulation —
    * doubled pair credit keeps the ½-tie term integral; only the
    * final division is FP. */
  private def aucBranch(dep: String): String =
    s"""SELECT '$dep' AS dependent, n_case, n_ctrl,
       |  round(u2 / (2.0 * n_case * n_ctrl), 4) + 0 AS auc
       |FROM (
       |  SELECT CAST(sum(u2) AS HUGEINT) AS u2,
       |    CAST(sum(n1) AS BIGINT) AS n_case,
       |    CAST(sum(n0) AS BIGINT) AS n_ctrl
       |  FROM (
       |    SELECT n1, n0,
       |      CAST(n1 AS HUGEINT) * (2 * (sum(n0) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - n0)
       |        + n0) AS u2
       |    FROM (
       |      SELECT x,
       |        CAST(sum(CASE WHEN $dep = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |        CAST(sum(CASE WHEN $dep = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
       |      FROM cohort WHERE x IS NOT NULL AND $dep IS NOT NULL
       |      GROUP BY x)))
       |WHERE n_case > 0 AND n_ctrl > 0""".stripMargin

  private def skipBranch(dep: String): String =
    s"""SELECT '$dep' AS dep, count(*) AS n,
       |  CAST(coalesce(sum($dep), 0) AS BIGINT) AS cases
       |FROM cohort WHERE $dep IS NOT NULL AND xbin IS NOT NULL""".stripMargin

  /** Unrolled score-screen replay: melt → fixed IRLS CTE chain
    * (pμ/wμ on the micro grid, β re-rounded to 1e-6 per step — the
    * Spark driver does the identical arithmetic) → one score
    * aggregation; every sum BIGINT-exact, the closed-form χ²
    * mirrored operand-for-operand. */
  /** The a21 screen's CTE chain THROUGH the `agg` sufficient-stat
    * table, shared by the a21 output select and a37's survivor
    * routing. */
  private def scoreScreenChain(iters: Int): String = {
    val deps = Seq("d_urgent", "d_open", "d_big", "d_many")
    val melt = deps.map(d =>
        s"SELECT id, z2 AS s, xbin, xpar, '$d' AS dep, $d AS y FROM cohort")
      .mkString("\n  UNION ALL\n  ")
    val head = cohortSql +
      s""", melt AS (
         |  $melt
         |), b0 AS (
         |  SELECT DISTINCT dep, 0.0 AS b0, 0.0 AS b1 FROM melt
         |)""".stripMargin
    val e12 = "1000000000000.0"
    val its = (1 to iters).map { i =>
      s""", p$i AS (
         |  SELECT m.*, CAST(round(1000000.0 / (1 + exp(-(b.b0 + b.b1 * m.s)))) AS BIGINT) AS pmu
         |  FROM melt m JOIN b${i - 1} b USING (dep)
         |), s$i AS (
         |  SELECT dep,
         |    CAST(sum(pmu * (1000000 - pmu)) AS BIGINT) AS sw,
         |    CAST(sum(pmu * (1000000 - pmu) * CAST(s AS BIGINT)) AS BIGINT) AS sws,
         |    CAST(sum(pmu * (1000000 - pmu) * CAST(s AS BIGINT) * CAST(s AS BIGINT)) AS BIGINT) AS swss,
         |    CAST(sum(CAST(y AS BIGINT) * 1000000 - pmu) AS BIGINT) AS u0,
         |    CAST(sum(CAST(s AS BIGINT) * (CAST(y AS BIGINT) * 1000000 - pmu)) AS BIGINT) AS u1
         |  FROM p$i GROUP BY dep
         |), b$i AS (
         |  SELECT s$i.dep,
         |    round(b.b0 + ((s$i.swss/$e12)*(s$i.u0/1000000.0) - (s$i.sws/$e12)*(s$i.u1/1000000.0))
         |      / ((s$i.sw/$e12)*(s$i.swss/$e12) - (s$i.sws/$e12)*(s$i.sws/$e12)), 6) AS b0,
         |    round(b.b1 + ((s$i.sw/$e12)*(s$i.u1/1000000.0) - (s$i.sws/$e12)*(s$i.u0/1000000.0))
         |      / ((s$i.sw/$e12)*(s$i.swss/$e12) - (s$i.sws/$e12)*(s$i.sws/$e12)), 6) AS b1
         |  FROM s$i JOIN b${i - 1} b USING (dep)
         |)""".stripMargin
    }.mkString
    head + its +
      s"""
         |, pf AS (
         |  SELECT m.*, CAST(round(1000000.0 / (1 + exp(-(b.b0 + b.b1 * m.s)))) AS BIGINT) AS pmu
         |  FROM melt m JOIN b$iters b USING (dep)
         |), mp AS (
         |  SELECT 'xbin' AS pred, xbin AS xv, dep, s, y, pmu FROM pf
         |  UNION ALL
         |  SELECT 'xpar' AS pred, xpar AS xv, dep, s, y, pmu FROM pf
         |), agg AS (
         |  SELECT pred, dep,
         |    CAST(count(*) AS BIGINT) AS total_n,
         |    CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS cases,
         |    CAST(sum(CAST(xv AS BIGINT) * (CAST(y AS BIGINT) * 1000000 - pmu)) AS BIGINT) AS umu,
         |    CAST(sum(CAST(xv AS BIGINT) * pmu * (1000000 - pmu)) AS BIGINT) AS sxw,
         |    CAST(sum(CAST(xv AS BIGINT) * pmu * (1000000 - pmu) * CAST(s AS BIGINT)) AS BIGINT) AS sxws,
         |    CAST(sum(pmu * (1000000 - pmu)) AS BIGINT) AS sw,
         |    CAST(sum(pmu * (1000000 - pmu) * CAST(s AS BIGINT)) AS BIGINT) AS sws,
         |    CAST(sum(pmu * (1000000 - pmu) * CAST(s AS BIGINT) * CAST(s AS BIGINT)) AS BIGINT) AS swss
         |  FROM mp GROUP BY pred, dep
         |)""".stripMargin
  }

  /** The a21 per-pair score-χ² projection over `agg` (no ORDER BY so
    * callers can wrap it as a CTE). */
  private def scoreScreenSelect: String = {
    val e12 = "1000000000000.0"
    // inner subquery names U and V once so the degenerate-variance
    // CASE (V <= 0 → NULL, the a45/a46 rule) mirrors the engine's
    // when(vv > 0) without repeating the 9-sum expression
    s"""SELECT predictor, dependent, cases, controls, total_n,
       |  CASE WHEN vexpr > 0 THEN round(uexpr*uexpr / vexpr, 4) + 0 END AS score_chi2
       |FROM (
       |  SELECT pred AS predictor, dep AS dependent, cases,
       |    total_n - cases AS controls, total_n,
       |    umu/1000000.0 AS uexpr,
       |    sxw/$e12 -
       |      ((swss/$e12)*(sxw/$e12)*(sxw/$e12)
       |       - 2.0*(sws/$e12)*(sxw/$e12)*(sxws/$e12)
       |       + (sw/$e12)*(sxws/$e12)*(sxws/$e12))
       |      / ((sw/$e12)*(swss/$e12) - (sws/$e12)*(sws/$e12)) AS vexpr
       |  FROM agg)""".stripMargin
  }

  private def scoreScreenSql(iters: Int): String =
    scoreScreenChain(iters) + "\n" + scoreScreenSelect +
      " ORDER BY predictor, dependent"

  /** a37 oracle: the a21 screen chain as a CTE, thresholded to the
    * survivor set, joined against per-pair Haldane closed-form Firth
    * refits (the a04 equivalence: penalized MLE of a saturated 2×2 =
    * +0.5-corrected log-OR) — the oracle REFITS every pair and lets
    * the join drop the screened-out ones, which is value-identical to
    * the engine fitting survivors only. The WHERE also replays the
    * engine's refit admission rule (cases/controls >= minCaseCount=5,
    * not all-case) so a sparse survivor is dropped by BOTH sides. */
  private def screenFirthSql(iters: Int, thr: Double): String = {
    val preds = Seq("xbin", "xpar")
    val deps = Seq("d_urgent", "d_open", "d_big", "d_many")
    val refits = (for { p <- preds; d <- deps } yield
      s"""SELECT '$p' AS predictor, '$d' AS dependent,
         |  round(ln(((n11+0.5) * (n00+0.5)) / ((n10+0.5) * (n01+0.5))), 4) + 0 AS beta,
         |  round(((n11+0.5) * (n00+0.5)) / ((n10+0.5) * (n01+0.5)), 4) + 0 AS "OR",
         |  CAST(n11 + n01 AS BIGINT) AS cases,
         |  CAST(n10 + n00 AS BIGINT) AS controls,
         |  CAST(n11 + n10 + n01 + n00 AS BIGINT) AS total_n
         |FROM ${cellsFor(p, d)}""".stripMargin).mkString("\n  UNION ALL\n  ")
    scoreScreenChain(iters) +
      s"""
         |, screen AS (
         |  $scoreScreenSelect
         |), refit AS (
         |  $refits
         |)
         |SELECT r.predictor, r.dependent, r.beta, r."OR",
         |  r.cases, r.controls, r.total_n, s.score_chi2
         |FROM refit r JOIN screen s
         |  ON r.predictor = s.predictor AND r.dependent = s.dependent
         |WHERE s.score_chi2 >= $thr
         |  AND r.cases >= $A37MinCaseCount AND r.controls >= $A37MinCaseCount
         |  AND r.cases <> r.total_n
         |ORDER BY r.predictor, r.dependent""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "a21_score_screen" -> scoreScreenSql(4),
    // a46: the same per-value tie table, window cumsum (DuckDB side
    // only — the engine uses the range-partitioned prefix scan), and
    // integer x2-rank sums; z/p mirrored operand-for-operand
    "a46_mann_whitney" ->
      (cohortSql + """
        |, m AS (
        |  SELECT CAST(xbin AS BIGINT) AS g, d.dep,
        |    CASE d.dep WHEN 'y_avg' THEN y_avg WHEN 'y_max' THEN y_max ELSE y_cnt END AS v
        |  FROM cohort CROSS JOIN (VALUES ('y_avg'), ('y_max'), ('y_cnt')) d(dep)
        |), mf AS (SELECT * FROM m WHERE v IS NOT NULL AND g IN (0, 1)
        |), ties AS (
        |  SELECT dep, v, CAST(count(*) AS BIGINT) AS t,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1
        |  FROM mf GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, CAST(coalesce(sum(t) OVER (PARTITION BY dep ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c
        |  FROM ties
        |), agg AS (
        |  SELECT dep, CAST(sum(t) AS BIGINT) AS n, CAST(sum(t1) AS BIGINT) AS n1,
        |    CAST(sum(CAST(t1 AS HUGEINT) * (2 * c + t + 1)) AS HUGEINT) AS r1x2,
        |    CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tie3
        |  FROM ranked GROUP BY 1
        |), fz AS (
        |  SELECT dep, n1, n - n1 AS n2,
        |    CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) AS u1x2,
        |    CAST(n1 AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(n1 AS DOUBLE)) AS mu2,
        |    CAST(n1 AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(n1 AS DOUBLE)) *
        |      ((CAST(n AS DOUBLE) + 1.0) - CAST(tie3 AS DOUBLE) /
        |        (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 12.0 AS varu
        |  FROM agg
        |), ft AS (
        |  SELECT dep, n1, n2, u1x2 / 2.0 AS u1,
        |    (u1x2 - mu2) / (2.0 * sqrt(varu)) AS z, varu FROM fz
        |), fp AS (SELECT *, 1.0 / (1.0 + 0.2316419 * abs(z)) AS tt FROM ft)
        |SELECT dep AS dependent, n1, n2, u1,
        |  CASE WHEN varu > 0 THEN round(z, 4) + 0 END AS z,
        |  CASE WHEN varu > 0 THEN round(2.0 * exp(-0.5 * abs(z) * abs(z)) * 0.3989422804014327 *
        |    (tt * (0.319381530 + tt * (-0.356563782 + tt * (1.781477937
        |      + tt * (-1.821255978 + tt * 1.330274429))))), 6) + 0 END AS p_mw
        |FROM fp ORDER BY dependent""".stripMargin),
    // a47: |d| tie table over the paired differences, same x2 grid
    "a47_wilcoxon_signed" ->
      (cohortSql + """
        |, d0 AS (
        |  SELECT y_max - y_avg AS d FROM cohort
        |  WHERE y_avg IS NOT NULL AND y_max - y_avg <> 0
        |), ties AS (
        |  SELECT abs(d) AS ad, CAST(count(*) AS BIGINT) AS t,
        |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp
        |  FROM d0 GROUP BY 1
        |), ranked AS (
        |  SELECT *, CAST(coalesce(sum(t) OVER (ORDER BY ad
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c
        |  FROM ties
        |), agg AS (
        |  SELECT CAST(sum(t) AS BIGINT) AS n,
        |    CAST(sum(CAST(tp AS HUGEINT) * (2 * c + t + 1)) AS HUGEINT) AS wx2,
        |    CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tie3
        |  FROM ranked
        |), f2 AS (
        |  SELECT n, CAST(wx2 AS DOUBLE) AS wx2d, CAST(wx2 AS DOUBLE) / 2.0 AS w_plus,
        |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 2.0 AS mux2,
        |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
        |      - CAST(tie3 AS DOUBLE) / 48.0 AS varw
        |  FROM agg
        |), ft AS (SELECT n, w_plus, (wx2d - mux2) / (2.0 * sqrt(varw)) AS z, varw FROM f2
        |), fp AS (SELECT *, 1.0 / (1.0 + 0.2316419 * abs(z)) AS tt FROM ft)
        |SELECT n AS n_pairs, w_plus,
        |  CASE WHEN varw > 0 THEN round(z, 4) + 0 END AS z,
        |  CASE WHEN varw > 0 THEN round(2.0 * exp(-0.5 * abs(z) * abs(z)) * 0.3989422804014327 *
        |    (tt * (0.319381530 + tt * (-0.356563782 + tt * (1.781477937
        |      + tt * (-1.821255978 + tt * 1.330274429))))), 6) + 0 END AS p_wsr
        |FROM fp""".stripMargin),
    // a48: the a46 tie chain with three per-group tie counts; H and
    // the exp(-H/2) 2-df tail mirrored operand-for-operand on the
    // same 128-bit grid
    "a48_kruskal_wallis" ->
      (cohortSql + """
        |, m AS (
        |  SELECT CAST(id % 3 AS BIGINT) AS g, d.dep,
        |    CASE d.dep WHEN 'y_avg' THEN y_avg WHEN 'y_max' THEN y_max ELSE y_cnt END AS v
        |  FROM cohort CROSS JOIN (VALUES ('y_avg'), ('y_max'), ('y_cnt')) d(dep)
        |), mf AS (SELECT * FROM m WHERE v IS NOT NULL AND g IN (0, 1, 2)
        |), ties AS (
        |  SELECT dep, v, CAST(count(*) AS BIGINT) AS t,
        |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t0,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
        |    CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS t2
        |  FROM mf GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, CAST(coalesce(sum(t) OVER (PARTITION BY dep ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c
        |  FROM ties
        |), agg AS (
        |  SELECT dep, CAST(sum(t) AS BIGINT) AS n,
        |    CAST(sum(t0) AS BIGINT) AS n0, CAST(sum(t1) AS BIGINT) AS n1,
        |    CAST(sum(t2) AS BIGINT) AS n2,
        |    CAST(sum(CAST(t0 AS HUGEINT) * (2 * c + t + 1)) AS HUGEINT) AS r0x2,
        |    CAST(sum(CAST(t1 AS HUGEINT) * (2 * c + t + 1)) AS HUGEINT) AS r1x2,
        |    CAST(sum(CAST(t2 AS HUGEINT) * (2 * c + t + 1)) AS HUGEINT) AS r2x2,
        |    CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tie3
        |  FROM ranked GROUP BY 1
        |), fh AS (
        |  SELECT dep, n, n0, n1, n2,
        |    (12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) *
        |      ((CAST(r0x2 AS DOUBLE) / 2.0) * (CAST(r0x2 AS DOUBLE) / 2.0) / CAST(n0 AS DOUBLE)
        |       + (CAST(r1x2 AS DOUBLE) / 2.0) * (CAST(r1x2 AS DOUBLE) / 2.0) / CAST(n1 AS DOUBLE)
        |       + (CAST(r2x2 AS DOUBLE) / 2.0) * (CAST(r2x2 AS DOUBLE) / 2.0) / CAST(n2 AS DOUBLE))
        |     - 3.0 * (CAST(n AS DOUBLE) + 1.0)) /
        |      (1.0 - CAST(tie3 AS DOUBLE) /
        |        (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))) AS h,
        |    1.0 - CAST(tie3 AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) AS corr
        |  FROM agg
        |)
        |SELECT dep AS dependent, n AS n_total, n0, n1, n2,
        |  CASE WHEN n0 > 0 AND n1 > 0 AND n2 > 0 AND corr > 0
        |    THEN round(h, 4) + 0 END AS h,
        |  CASE WHEN n0 > 0 AND n1 > 0 AND n2 > 0 AND corr > 0
        |    THEN round(exp(-0.5 * h), 6) + 0 END AS p_kw
        |FROM fh ORDER BY dependent""".stripMargin),
    // a49: rank once per column (same tie chain), join back, pivot to
    // the per-row rank vector, ONE sufficient-sum aggregate; the
    // covariance/variance products stay HUGEINT until the final cast
    "a49_spearman" ->
      (cohortSql + """
        |, base AS (
        |  SELECT id, CAST(x AS DOUBLE) AS x, CAST(y_avg AS DOUBLE) AS y_avg,
        |    CAST(y_cnt AS DOUBLE) AS y_cnt, CAST(y_max AS DOUBLE) AS y_max
        |  FROM cohort
        |  WHERE x IS NOT NULL AND y_avg IS NOT NULL
        |    AND y_cnt IS NOT NULL AND y_max IS NOT NULL
        |), m AS (
        |  SELECT id, c.cname,
        |    CASE c.cname WHEN 'x' THEN x WHEN 'y_avg' THEN y_avg
        |      WHEN 'y_cnt' THEN y_cnt ELSE y_max END AS v
        |  FROM base CROSS JOIN (VALUES ('x'), ('y_avg'), ('y_cnt'), ('y_max')) c(cname)
        |), ties AS (
        |  SELECT cname, v, CAST(count(*) AS BIGINT) AS t FROM m GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, CAST(coalesce(sum(t) OVER (PARTITION BY cname ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c
        |  FROM ties
        |), rt AS (SELECT cname, v, 2 * c + t + 1 AS rank2 FROM ranked
        |), rr AS (
        |  SELECT m.id,
        |    max(CASE WHEN m.cname = 'x' THEN rt.rank2 END) AS r_x,
        |    max(CASE WHEN m.cname = 'y_avg' THEN rt.rank2 END) AS r_y_avg,
        |    max(CASE WHEN m.cname = 'y_cnt' THEN rt.rank2 END) AS r_y_cnt,
        |    max(CASE WHEN m.cname = 'y_max' THEN rt.rank2 END) AS r_y_max
        |  FROM m JOIN rt ON m.cname = rt.cname AND m.v = rt.v
        |  GROUP BY 1
        |), g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(r_x AS HUGEINT)) AS s_x,
        |    sum(CAST(r_x AS HUGEINT) * r_x) AS ss_x,
        |    sum(CAST(r_y_avg AS HUGEINT)) AS s_y_avg,
        |    sum(CAST(r_y_avg AS HUGEINT) * r_y_avg) AS ss_y_avg,
        |    sum(CAST(r_y_cnt AS HUGEINT)) AS s_y_cnt,
        |    sum(CAST(r_y_cnt AS HUGEINT) * r_y_cnt) AS ss_y_cnt,
        |    sum(CAST(r_y_max AS HUGEINT)) AS s_y_max,
        |    sum(CAST(r_y_max AS HUGEINT) * r_y_max) AS ss_y_max,
        |    sum(CAST(r_x AS HUGEINT) * r_y_avg) AS sp_x__y_avg,
        |    sum(CAST(r_x AS HUGEINT) * r_y_cnt) AS sp_x__y_cnt,
        |    sum(CAST(r_x AS HUGEINT) * r_y_max) AS sp_x__y_max,
        |    sum(CAST(r_y_avg AS HUGEINT) * r_y_cnt) AS sp_y_avg__y_cnt,
        |    sum(CAST(r_y_avg AS HUGEINT) * r_y_max) AS sp_y_avg__y_max,
        |    sum(CAST(r_y_cnt AS HUGEINT) * r_y_max) AS sp_y_cnt__y_max
        |  FROM rr
        |), pr AS (
        |  SELECT 'x' AS col_a, 'y_avg' AS col_b, n,
        |    CAST(n * sp_x__y_avg - s_x * s_y_avg AS DOUBLE) AS cov,
        |    CAST(n * ss_x - s_x * s_x AS DOUBLE) AS va,
        |    CAST(n * ss_y_avg - s_y_avg * s_y_avg AS DOUBLE) AS vb FROM g
        |  UNION ALL SELECT 'x', 'y_cnt', n,
        |    CAST(n * sp_x__y_cnt - s_x * s_y_cnt AS DOUBLE),
        |    CAST(n * ss_x - s_x * s_x AS DOUBLE),
        |    CAST(n * ss_y_cnt - s_y_cnt * s_y_cnt AS DOUBLE) FROM g
        |  UNION ALL SELECT 'x', 'y_max', n,
        |    CAST(n * sp_x__y_max - s_x * s_y_max AS DOUBLE),
        |    CAST(n * ss_x - s_x * s_x AS DOUBLE),
        |    CAST(n * ss_y_max - s_y_max * s_y_max AS DOUBLE) FROM g
        |  UNION ALL SELECT 'y_avg', 'y_cnt', n,
        |    CAST(n * sp_y_avg__y_cnt - s_y_avg * s_y_cnt AS DOUBLE),
        |    CAST(n * ss_y_avg - s_y_avg * s_y_avg AS DOUBLE),
        |    CAST(n * ss_y_cnt - s_y_cnt * s_y_cnt AS DOUBLE) FROM g
        |  UNION ALL SELECT 'y_avg', 'y_max', n,
        |    CAST(n * sp_y_avg__y_max - s_y_avg * s_y_max AS DOUBLE),
        |    CAST(n * ss_y_avg - s_y_avg * s_y_avg AS DOUBLE),
        |    CAST(n * ss_y_max - s_y_max * s_y_max AS DOUBLE) FROM g
        |  UNION ALL SELECT 'y_cnt', 'y_max', n,
        |    CAST(n * sp_y_cnt__y_max - s_y_cnt * s_y_max AS DOUBLE),
        |    CAST(n * ss_y_cnt - s_y_cnt * s_y_cnt AS DOUBLE),
        |    CAST(n * ss_y_max - s_y_max * s_y_max AS DOUBLE) FROM g
        |), fz AS (
        |  SELECT col_a, col_b, n,
        |    CASE WHEN va > 0 AND vb > 0 THEN cov / sqrt(va * vb) END AS rho
        |  FROM pr
        |), fzz AS (
        |  SELECT col_a, col_b, n, rho,
        |    rho * sqrt(CAST(n AS DOUBLE) - 1.0) AS z FROM fz
        |), fp AS (SELECT *, 1.0 / (1.0 + 0.2316419 * abs(z)) AS tt FROM fzz)
        |SELECT col_a, col_b, n,
        |  CASE WHEN rho IS NOT NULL THEN round(rho, 4) + 0 END AS rho_s,
        |  CASE WHEN rho IS NOT NULL THEN
        |    round(2.0 * exp(-0.5 * abs(z) * abs(z)) * 0.3989422804014327 *
        |      (tt * (0.319381530 + tt * (-0.356563782 + tt * (1.781477937
        |        + tt * (-1.821255978 + tt * 1.330274429))))), 6) + 0 END AS p_s
        |FROM fp ORDER BY col_a, col_b""".stripMargin),
    // a50: per-row ×2-grid ranks as a pure projection (no tie table —
    // each block has exactly K values), one aggregate, Conover
    // tie-corrected T mirrored operand-for-operand, exp 2-df tail
    "a50_friedman" ->
      (cohortSql + """
        |, base AS (
        |  SELECT y_avg AS v0, y_max AS v1, y_cnt AS v2 FROM cohort
        |  WHERE y_avg IS NOT NULL AND y_max IS NOT NULL AND y_cnt IS NOT NULL
        |), ranked AS (
        |  SELECT
        |    2 * (CASE WHEN v1 < v0 THEN 1 ELSE 0 END + CASE WHEN v2 < v0 THEN 1 ELSE 0 END)
        |      + (CASE WHEN v1 = v0 THEN 1 ELSE 0 END + CASE WHEN v2 = v0 THEN 1 ELSE 0 END) + 2 AS r2_0,
        |    2 * (CASE WHEN v0 < v1 THEN 1 ELSE 0 END + CASE WHEN v2 < v1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN v0 = v1 THEN 1 ELSE 0 END + CASE WHEN v2 = v1 THEN 1 ELSE 0 END) + 2 AS r2_1,
        |    2 * (CASE WHEN v0 < v2 THEN 1 ELSE 0 END + CASE WHEN v1 < v2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN v0 = v2 THEN 1 ELSE 0 END + CASE WHEN v1 = v2 THEN 1 ELSE 0 END) + 2 AS r2_2
        |  FROM base
        |), g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r2_0) AS BIGINT) AS rx2_0,
        |    CAST(sum(r2_1) AS BIGINT) AS rx2_1,
        |    CAST(sum(r2_2) AS BIGINT) AS rx2_2,
        |    CAST(sum(r2_0 * r2_0 + r2_1 * r2_1 + r2_2 * r2_2) AS BIGINT) AS ax4
        |  FROM ranked
        |), f AS (
        |  SELECT n, rx2_0, rx2_1, rx2_2,
        |    (CAST(rx2_0 AS DOUBLE) - CAST(n AS DOUBLE) * 4.0) *
        |      (CAST(rx2_0 AS DOUBLE) - CAST(n AS DOUBLE) * 4.0)
        |    + (CAST(rx2_1 AS DOUBLE) - CAST(n AS DOUBLE) * 4.0) *
        |      (CAST(rx2_1 AS DOUBLE) - CAST(n AS DOUBLE) * 4.0)
        |    + (CAST(rx2_2 AS DOUBLE) - CAST(n AS DOUBLE) * 4.0) *
        |      (CAST(rx2_2 AS DOUBLE) - CAST(n AS DOUBLE) * 4.0) AS numx4,
        |    CAST(ax4 AS DOUBLE) - CAST(n AS DOUBLE) * 3.0 * 16.0 AS denx4
        |  FROM g
        |)
        |SELECT n AS n_blocks,
        |  CAST(rx2_0 AS DOUBLE) / 2.0 AS rank_sum_y_avg,
        |  CAST(rx2_1 AS DOUBLE) / 2.0 AS rank_sum_y_max,
        |  CAST(rx2_2 AS DOUBLE) / 2.0 AS rank_sum_y_cnt,
        |  CASE WHEN denx4 > 0 THEN round(2.0 * numx4 / denx4, 4) + 0 END AS friedman_chi2,
        |  CASE WHEN denx4 > 0 THEN
        |    round(exp(-0.5 * (2.0 * numx4 / denx4)), 6) + 0 END AS p_friedman
        |FROM f""".stripMargin),
    // a51: linear sufficient sums, quadratic terms only in the 1-row
    // post-agg projection on the 128-bit grid, exp 2-df tail
    "a51_cochran_q" ->
      (cohortSql + """
        |, base AS (
        |  SELECT CAST(d_urgent AS BIGINT) AS x0, CAST(d_open AS BIGINT) AS x1,
        |    CAST(d_big AS BIGINT) AS x2
        |  FROM cohort
        |  WHERE d_urgent IS NOT NULL AND d_urgent IN (0, 1)
        |    AND d_open IS NOT NULL AND d_open IN (0, 1)
        |    AND d_big IS NOT NULL AND d_big IN (0, 1)
        |), proj AS (
        |  SELECT x0, x1, x2, (x0 + x1 + x2) * (x0 + x1 + x2) AS r2 FROM base
        |), g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x0) AS BIGINT) AS c0, CAST(sum(x1) AS BIGINT) AS c1,
        |    CAST(sum(x2) AS BIGINT) AS c2, CAST(sum(r2) AS BIGINT) AS sr2
        |  FROM proj
        |), f AS (
        |  SELECT n, c0, c1, c2,
        |    CAST(3 * (CAST(c0 AS HUGEINT) * c0 + CAST(c1 AS HUGEINT) * c1
        |        + CAST(c2 AS HUGEINT) * c2)
        |      - (CAST(c0 AS HUGEINT) + c1 + c2) * (CAST(c0 AS HUGEINT) + c1 + c2)
        |      AS DOUBLE) AS num,
        |    CAST(3 * (CAST(c0 AS HUGEINT) + c1 + c2) - sr2 AS DOUBLE) AS den
        |  FROM g
        |)
        |SELECT n AS n_subjects, c0 AS cases_d_urgent, c1 AS cases_d_open,
        |  c2 AS cases_d_big,
        |  CASE WHEN den > 0 THEN round(2.0 * num / den, 4) + 0 END AS cochran_q,
        |  CASE WHEN den > 0 THEN
        |    round(exp(-0.5 * (2.0 * num / den)), 6) + 0 END AS p_q
        |FROM f""".stripMargin),
    // a45: the same ten sufficient sums and the same closed-form
    // expressions operand-for-operand — γ by Cramer, U = Σxy − γ₀Σx −
    // γ₁Σxs, V = (RSS/n)·(Σx² − quad/det), χ² = U²/V rounded at 4 dp
    "a45_score_screen_linear" ->
      (cohortSql + """
        |, m AS (
        |  SELECT p.pred, d.dep, z2 AS s,
        |    CASE p.pred WHEN 'x' THEN x WHEN 'xbin' THEN xbin ELSE xpar END AS xv,
        |    CASE d.dep WHEN 'y_avg' THEN y_avg WHEN 'y_max' THEN y_max ELSE y_cnt END AS y
        |  FROM cohort
        |  CROSS JOIN (VALUES ('x'), ('xbin'), ('xpar')) p(pred)
        |  CROSS JOIN (VALUES ('y_avg'), ('y_max'), ('y_cnt')) d(dep)
        |), g AS (
        |  SELECT pred, dep, count(*) AS n,
        |    sum(s) AS ss, sum(s*s) AS ss2, sum(y) AS sy, sum(s*y) AS ssy,
        |    sum(y*y) AS syy, sum(xv) AS sx, sum(xv*s) AS sxs,
        |    sum(xv*y) AS sxy, sum(xv*xv) AS sxx
        |  FROM m WHERE y IS NOT NULL GROUP BY 1, 2
        |), f AS (
        |  SELECT *, n * ss2 - ss * ss AS det,
        |    (n * ssy - ss * sy) / (n * ss2 - ss * ss) AS g1
        |  FROM g
        |), f2 AS (
        |  SELECT *, (sy - g1 * ss) / n AS g0 FROM f
        |), f3 AS (
        |  SELECT pred, dep, n,
        |    sxy - g0 * sx - g1 * sxs AS u,
        |    ((syy - g0 * sy - g1 * ssy) / n) *
        |      (sxx - (ss2 * sx * sx - 2.0 * ss * sx * sxs + n * sxs * sxs) / det) AS v
        |  FROM f2
        |)
        |SELECT pred AS predictor, dep AS dependent, CAST(n AS BIGINT) AS total_n,
        |  CASE WHEN v > 0 THEN round(u * u / v, 4) + 0.0 END AS score_chi2
        |FROM f3 ORDER BY predictor, dependent""".stripMargin),
    "a37_screen_firth" -> screenFirthSql(4, 1.0),
    // s11: same bundled real-code map CSV read by both engines; the
    // row_number code-index runs over plain-ASCII icd strings so the
    // ORDER BY icd collation is identical; CAST-to-DATE of a UTC-naive
    // timestamp matches Spark's to_date under the pinned UTC zone
    "s11_icd_phecode" ->
      s"""WITH map AS (
         |  SELECT icd, phecode
         |  FROM read_csv('$IcdMapSubsetPath', all_varchar=true)
         |), codes AS (
         |  SELECT icd, row_number() OVER (ORDER BY icd) - 1 AS rn
         |  FROM (SELECT DISTINCT icd FROM map)
         |), diag AS (
         |  SELECT user_id AS person_id,
         |    CAST(event_id % 100 AS INT) AS ci,
         |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
         |  FROM events
         |), coded AS (
         |  SELECT dg.person_id,
         |    coalesce(c.icd, 'UNMAPPED_' || CAST(dg.ci AS VARCHAR)) AS icd,
         |    dg.d
         |  FROM diag dg LEFT JOIN codes c ON dg.ci = c.rn
         |)
         |SELECT cd.person_id, m.phecode,
         |  CAST(count(DISTINCT cd.d) AS BIGINT) AS n_dates,
         |  count(DISTINCT cd.d) >= 2 AS is_case
         |FROM coded cd JOIN map m ON cd.icd = m.icd
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // a22: the published weight vector as literal decimals (parse to
    // the same binary doubles) in the same fixed term order
    "a22_prs" ->
      (cohortSql +
        """
          |SELECT id,
          |  round(0.05*x + -150.25*xbin + 80.5*xpar + 12.75*z1 + -9.125*z2, 4) + 0 AS prs
          |FROM cohort ORDER BY id""".stripMargin),
    "a01_assoc_linear" ->
      (cohortSql + "\n" +
        Seq("y_avg", "y_max", "y_cnt").map(linBranch).mkString("", "\nUNION ALL\n", "\nORDER BY dependent")),
    "a02_assoc_linear_cov" ->
      (cohortSql + "\n" +
        Seq("y_avg", "y_max").map(fwlBranch).mkString("", "\nUNION ALL\n", "\nORDER BY dependent")),
    "a11_assoc_linear_cov2" ->
      (cohortSql + "\n" +
        Seq("y_avg", "y_max").map(fwl2Branch).mkString("", "\nUNION ALL\n", "\nORDER BY dependent")),
    "a13_assoc_interaction" ->
      (cohortSql + "\n" +
        Seq("y_avg", "y_max")
          .map(fwl2TargetOn("xz", "x * z1", _, "x", "z1"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY dependent")),
    "a16_cmh" ->
      """WITH v AS (
        |  SELECT CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END AS x,
        |    CASE WHEN l_quantity > 25 THEN 1.0 ELSE 0.0 END AS y,
        |    l_returnflag AS s
        |  FROM lineitem
        |), v01 AS (
        |  SELECT * FROM v WHERE x IN (0.0, 1.0) AND y IN (0.0, 1.0)
        |), cells AS (
        |  SELECT s,
        |    sum(CASE WHEN x = 1.0 AND y = 1.0 THEN 1.0 ELSE 0.0 END) AS a,
        |    sum(CASE WHEN x = 1.0 AND y = 0.0 THEN 1.0 ELSE 0.0 END) AS b,
        |    sum(CASE WHEN x = 0.0 AND y = 1.0 THEN 1.0 ELSE 0.0 END) AS c,
        |    sum(CASE WHEN x = 0.0 AND y = 0.0 THEN 1.0 ELSE 0.0 END) AS d
        |  FROM v01 GROUP BY s
        |), t AS (
        |  SELECT a, b, c, d, a + b + c + d AS n FROM cells WHERE a + b + c + d > 0
        |), w AS (
        |  SELECT a * d / n AS R, b * c / n AS S,
        |    ((a + d) / n) * (a * d / n) AS PR,
        |    ((a + d) / n) * (b * c / n) + ((b + c) / n) * (a * d / n) AS PSQR,
        |    ((b + c) / n) * (b * c / n) AS QS
        |  FROM t
        |), g AS (
        |  SELECT count(*) AS n_strata, sum(R) AS sR, sum(S) AS sS,
        |    sum(PR) AS sPR, sum(PSQR) AS sPSQR, sum(QS) AS sQS
        |  FROM w
        |)
        |SELECT n_strata,
        |  CASE WHEN sS > 0 THEN round(sR / sS, 4) + 0 END AS or_mh,
        |  CASE WHEN sR > 0 AND sS > 0 THEN
        |    round(sqrt(sPR / (2.0 * sR * sR) + sPSQR / (2.0 * sR * sS)
        |      + sQS / (2.0 * sS * sS)), 4) + 0 END AS se_ln_or
        |FROM g""".stripMargin,
    // saturated binary Poisson: MLE = closed-form rate ratio
    // a38: closed-form two-rate replay of the saturated-binary offset
    // Poisson (score zeroes at the exposure-weighted class rates)
    "a38_poisson_offset" ->
      """WITH v AS (
        |  SELECT l_returnflag AS grp,
        |    CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END AS x,
        |    CAST(l_quantity AS DOUBLE) AS y,
        |    l_extendedprice / 1000.0 AS e
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_quantity >= 0
        |    AND l_extendedprice / 1000.0 > 0
        |), g AS (
        |  SELECT grp, count(*) AS n,
        |    sum(CASE WHEN x = 1.0 THEN y END) AS sy1,
        |    sum(CASE WHEN x = 1.0 THEN e END) AS se1,
        |    sum(CASE WHEN x = 0.0 THEN y END) AS sy0,
        |    sum(CASE WHEN x = 0.0 THEN e END) AS se0
        |  FROM v GROUP BY grp
        |)
        |SELECT grp, n,
        |  round(ln((sy1 / se1) / (sy0 / se0)), 4) + 0 AS beta,
        |  round(sqrt(1.0 / sy1 + 1.0 / sy0), 4) + 0 AS se,
        |  round(exp(ln((sy1 / se1) / (sy0 / se0))), 4) + 0 AS irr,
        |  TRUE AS converged
        |FROM g ORDER BY grp""".stripMargin,
    "a15_assoc_poisson" ->
      """WITH v AS (
        |  SELECT l_returnflag AS grp,
        |    CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END AS x,
        |    CAST(l_quantity AS DOUBLE) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_quantity >= 0
        |), g AS (
        |  SELECT grp, count(*) AS n,
        |    sum(CASE WHEN x = 1.0 THEN y END) AS s1,
        |    count(CASE WHEN x = 1.0 THEN 1 END) AS n1,
        |    sum(CASE WHEN x = 0.0 THEN y END) AS s0,
        |    count(CASE WHEN x = 0.0 THEN 1 END) AS n0
        |  FROM v GROUP BY grp
        |)
        |SELECT grp, n, round(ln((s1 / n1) / (s0 / n0)), 4) + 0 AS beta,
        |  round(sqrt(1.0 / s1 + 1.0 / s0), 4) + 0 AS se,
        |  TRUE AS converged
        |FROM g ORDER BY grp""".stripMargin,
    // hypergeometric log-rank terms over reverse-cumulative risk sets;
    // U,V are the Cox score/information at beta=0 (Breslow ties)
    "a19_logrank" ->
      """WITH s AS (
        |  SELECT c.c_mktsegment AS grp,
        |    CAST(date_diff('day', o.o_orderdate, DATE '2001-08-02') + 1 AS DOUBLE) AS t,
        |    CASE WHEN o.o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS ev,
        |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS x
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE o.o_orderdate IS NOT NULL
        |), pt AS (
        |  SELECT grp, t, sum(ev) AS d, sum(ev * x) AS d1,
        |    CAST(count(*) AS DOUBLE) AS c, sum(x) AS c1
        |  FROM s GROUP BY 1, 2
        |), rs AS (
        |  SELECT *,
        |    sum(c) OVER (PARTITION BY grp ORDER BY t DESC
        |      ROWS UNBOUNDED PRECEDING) AS n,
        |    sum(c1) OVER (PARTITION BY grp ORDER BY t DESC
        |      ROWS UNBOUNDED PRECEDING) AS n1
        |  FROM pt
        |), terms AS (
        |  SELECT grp, d, d1 - d * n1 / n AS ome,
        |    CASE WHEN n > 1
        |      THEN d * (n1 / n) * (1.0 - n1 / n) * (n - d) / (n - 1)
        |      ELSE 0.0 END AS v
        |  FROM rs WHERE d > 0
        |), g AS (
        |  SELECT grp, CAST(sum(d) AS BIGINT) AS events,
        |    sum(ome) AS u, sum(v) AS vv
        |  FROM terms GROUP BY grp
        |)
        |SELECT grp, events, round(u, 4) + 0 AS u_score, round(vv, 4) + 0 AS v_info,
        |  CASE WHEN vv > 0 THEN round(u * u / vv, 4) + 0 END AS chi2,
        |  CASE WHEN vv > 0 THEN round(u / vv, 4) + 0 END AS beta_1step,
        |  CASE WHEN vv > 0 THEN round(1.0 / sqrt(vv), 4) + 0 END AS se
        |FROM g ORDER BY grp""".stripMargin,
    // saturated binary NB2: same rate-ratio MLE as Poisson, se from
    // the fixed-theta Fisher information I_g = n_g*m_g/(1+m_g/theta)
    "a18_assoc_negbin" ->
      """WITH v AS (
        |  SELECT l_returnflag AS grp,
        |    CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END AS x,
        |    CAST(l_quantity AS DOUBLE) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_quantity >= 0
        |), g AS (
        |  SELECT grp, count(*) AS n,
        |    sum(CASE WHEN x = 1.0 THEN y END) / count(CASE WHEN x = 1.0 THEN 1 END) AS m1,
        |    count(CASE WHEN x = 1.0 THEN 1 END) AS n1,
        |    sum(CASE WHEN x = 0.0 THEN y END) / count(CASE WHEN x = 0.0 THEN 1 END) AS m0,
        |    count(CASE WHEN x = 0.0 THEN 1 END) AS n0
        |  FROM v GROUP BY grp
        |), i AS (
        |  SELECT grp, n, ln(m1 / m0) AS beta,
        |    n0 * m0 / (1.0 + m0 / 2.0) AS i0,
        |    n1 * m1 / (1.0 + m1 / 2.0) AS i1
        |  FROM g
        |)
        |SELECT grp, n, round(beta, 4) + 0 AS beta,
        |  round(sqrt(1.0 / i0 + 1.0 / i1), 4) + 0 AS se,
        |  TRUE AS converged
        |FROM i ORDER BY grp""".stripMargin,
    "a14_assoc_wls" ->
      """WITH v AS (
        |  SELECT l_returnflag AS grp, CAST(l_quantity AS DOUBLE) AS x,
        |    CAST(l_extendedprice AS DOUBLE) AS y,
        |    1.0 / (1.0 + l_discount) AS w
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND 1.0 / (1.0 + l_discount) > 0
        |), mb AS (
        |  SELECT grp, sum(w * x) / sum(w) AS xb, sum(w * y) / sum(w) AS yb
        |  FROM v GROUP BY grp
        |), s AS (
        |  SELECT v.grp, count(*) AS n,
        |    sum(w * (x - xb) * (y - yb)) AS sxy,
        |    sum(w * (x - xb) * (x - xb)) AS sxx,
        |    sum(w * (y - yb) * (y - yb)) AS syy
        |  FROM v JOIN mb ON v.grp = mb.grp GROUP BY v.grp
        |)
        |SELECT grp, n,
        |  CASE WHEN sxx > 0 THEN round(sxy / sxx, 4) + 0 END AS beta,
        |  CASE WHEN sxx > 0 AND n > 2 THEN
        |    round(sqrt(greatest((syy - (sxy / sxx) * sxy) / (n - 2), 0.0) / sxx), 4) + 0
        |  END AS se
        |FROM s ORDER BY grp""".stripMargin,
    "a12_pipeline_categorical" ->
      (cohortSql + "\n" +
        Seq("y_avg", "y_max")
          .map(fwl2BranchOn(_,
            "CASE WHEN id % 3 = 1 THEN 1.0 ELSE 0.0 END",
            "CASE WHEN id % 3 = 2 THEN 1.0 ELSE 0.0 END"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY dependent")),
    "a03_assoc_logistic" ->
      (cohortSql + "\n" +
        Seq("d_urgent", "d_open", "d_big", "d_many").map(logisticBranch)
          .mkString("", "\nUNION ALL\n", "\nORDER BY dependent")),
    "a20_assoc_ordinal" ->
      (cohortSql +
        """, sevcoh AS (
          |  SELECT *, CASE WHEN y_cnt >= 18 THEN 2.0
          |    WHEN y_cnt >= 14 THEN 1.0 ELSE 0.0 END AS sev
          |  FROM cohort
          |)
          |""".stripMargin +
        Seq("xbin", "xpar").map(ordBranch)
          .mkString("", "\nUNION ALL\n", "\nORDER BY predictor")),
    "a24_assoc_ordinal4" ->
      (cohortSql +
        """, sevcoh AS (
          |  SELECT *, CASE WHEN y_cnt >= 21 THEN 3.0
          |    WHEN y_cnt >= 18 THEN 2.0
          |    WHEN y_cnt >= 14 THEN 1.0 ELSE 0.0 END AS sev
          |  FROM cohort
          |)
          |""".stripMargin +
        Seq("xbin", "xpar").map(ordBranchJ(_, 4))
          .mkString("", "\nUNION ALL\n", "\nORDER BY predictor")),
    "a23_cox_ph" -> coxPhSql(6),
    "a25_cox_ph_cov" -> coxPhCovSql(6, 6),
    "a36_cox_ph_cov2" -> coxPhCov2Sql(6, 6, 2),
    "a32_cox_ph_efron" -> coxPhEfronSql(6),
    "a35_clogit" -> clogitSql(8),
    // a34: the a19 per-time/risk-set CTEs over the 3-level arm, U/V
    // sums term-for-term, closed 2x2 inverse, exact 2-df tail
    "a34_logrank3" ->
      """WITH s AS (
        |  SELECT c.c_mktsegment AS grp,
        |    CAST(date_diff('day', o.o_orderdate, DATE '2001-08-02') + 1 AS DOUBLE) AS t,
        |    CASE WHEN o.o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS ev,
        |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 2
        |      WHEN o.o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END AS g
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE o.o_orderdate IS NOT NULL
        |), pt AS (
        |  SELECT grp, t, sum(ev) AS d,
        |    sum(ev * CASE WHEN g = 1 THEN 1.0 ELSE 0.0 END) AS d1,
        |    sum(ev * CASE WHEN g = 2 THEN 1.0 ELSE 0.0 END) AS d2,
        |    CAST(count(*) AS DOUBLE) AS c,
        |    sum(CASE WHEN g = 1 THEN 1.0 ELSE 0.0 END) AS c1,
        |    sum(CASE WHEN g = 2 THEN 1.0 ELSE 0.0 END) AS c2
        |  FROM s GROUP BY 1, 2
        |), rs AS (
        |  SELECT grp, t, d, d1, d2,
        |    sum(c) OVER win AS n,
        |    sum(c1) OVER win AS n1,
        |    sum(c2) OVER win AS n2
        |  FROM pt
        |  WINDOW win AS (PARTITION BY grp ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
        |), tm AS (
        |  SELECT grp, d,
        |    d1 - d * n1 / n AS u1t,
        |    d2 - d * n2 / n AS u2t,
        |    (CASE WHEN n > 1 THEN d * (n - d) / (n - 1) ELSE 0.0 END)
        |      * ((n1 / n) * (1.0 - n1 / n)) AS v11t,
        |    (CASE WHEN n > 1 THEN d * (n - d) / (n - 1) ELSE 0.0 END)
        |      * ((n2 / n) * (1.0 - n2 / n)) AS v22t,
        |    0.0 - (CASE WHEN n > 1 THEN d * (n - d) / (n - 1) ELSE 0.0 END)
        |      * ((n1 / n) * (n2 / n)) AS v12t
        |  FROM rs WHERE d > 0
        |), ag AS (
        |  SELECT grp, CAST(sum(d) AS BIGINT) AS events,
        |    sum(u1t) AS u1, sum(u2t) AS u2,
        |    sum(v11t) AS v11, sum(v22t) AS v22, sum(v12t) AS v12
        |  FROM tm GROUP BY grp
        |), fin AS (
        |  SELECT *, v11 * v22 - v12 * v12 AS det,
        |    u1 * u1 * v22 - 2.0 * u1 * u2 * v12 + u2 * u2 * v11 AS num
        |  FROM ag
        |)
        |SELECT grp, events, round(u1, 4) + 0 AS u1, round(u2, 4) + 0 AS u2,
        |  CASE WHEN det > 0 THEN round(num / det, 4) + 0 END AS chi2,
        |  CASE WHEN det > 0 THEN round(exp(-0.5 * (num / det)), 6) END AS p
        |FROM fin ORDER BY grp""".stripMargin,
    "a33_cox_ph_covq" -> coxPhCovSql(6, 6, covCohortQuantile),
    "a26_kaplan_meier" -> kaplanMeierSql,
    // a44: the KM chain with cause arms; S(t−) via the same windows
    // ending one row earlier, CIF = ascending sum of sprev·d_j/n
    "a44_aalen_johansen" ->
      """WITH s AS (
        |  SELECT c.c_mktsegment AS grp,
        |    CAST(date_diff('day', o.o_orderdate, DATE '2001-08-02') + 1 AS DOUBLE) AS t,
        |    CASE WHEN o.o_orderstatus = 'F' THEN
        |      CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END
        |      ELSE 0 END AS cause
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE o.o_orderdate IS NOT NULL
        |), pt AS (
        |  SELECT grp, t,
        |    sum(CASE WHEN cause = 1 THEN 1.0 ELSE 0.0 END) AS d1,
        |    sum(CASE WHEN cause = 2 THEN 1.0 ELSE 0.0 END) AS d2,
        |    CAST(count(*) AS DOUBLE) AS c
        |  FROM s GROUP BY 1, 2
        |), rs AS (
        |  SELECT *,
        |    sum(c) OVER (PARTITION BY grp ORDER BY t DESC
        |      ROWS UNBOUNDED PRECEDING) AS n,
        |    d1 + d2 AS dall
        |  FROM pt
        |), evt AS (
        |  SELECT grp, t, d1, d2, n, dall,
        |    CASE WHEN dall < n THEN ln(1.0 - dall / n) ELSE 0.0 END AS lterm,
        |    CASE WHEN dall >= n THEN 1 ELSE 0 END AS z
        |  FROM rs WHERE dall > 0
        |), cum AS (
        |  SELECT grp, t, d1, d2, n,
        |    CASE WHEN coalesce(max(z) OVER (PARTITION BY grp ORDER BY t ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 1
        |      THEN 0.0
        |      ELSE exp(coalesce(sum(lterm) OVER (PARTITION BY grp ORDER BY t ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)) END
        |      AS sprev,
        |    sum(lterm) OVER (PARTITION BY grp ORDER BY t ASC
        |      ROWS UNBOUNDED PRECEDING) AS lsum,
        |    max(z) OVER (PARTITION BY grp ORDER BY t ASC
        |      ROWS UNBOUNDED PRECEDING) AS zeroed
        |  FROM evt
        |), cif AS (
        |  SELECT grp, t, d1, d2, n, lsum, zeroed,
        |    sum(sprev * d1 / n) OVER (PARTITION BY grp ORDER BY t ASC
        |      ROWS UNBOUNDED PRECEDING) AS cif1,
        |    sum(sprev * d2 / n) OVER (PARTITION BY grp ORDER BY t ASC
        |      ROWS UNBOUNDED PRECEDING) AS cif2
        |  FROM cum
        |)
        |SELECT grp, t, CAST(n AS BIGINT) AS n_risk,
        |  CAST(d1 AS BIGINT) AS d_cause1, CAST(d2 AS BIGINT) AS d_cause2,
        |  CASE WHEN zeroed = 1 THEN 0.0 ELSE round(exp(lsum), 4) + 0 END AS surv_all,
        |  round(cif1, 4) + 0 AS cif1, round(cif2, 4) + 0 AS cif2
        |FROM cif ORDER BY grp, t""".stripMargin,
    // a31: same binning/window/series arithmetic — the 8 Kolmogorov
    // terms generated with identical signed literals and left-assoc
    // chaining, same small-lambda latch
    "a31_ks_drift" -> {
      val neSql = "n1 * n0 / (n1 + n0)"
      val series = (1 to 8).map { k =>
        val coef = if (k % 2 == 1) "2.0" else "-2.0"
        s"$coef * exp(${-2.0 * k * k} * lam * lam)"
      }.mkString(" + ")
      s"""WITH j AS (
         |  SELECT c.c_mktsegment AS grp,
         |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS g,
         |    o.o_totalprice AS v
         |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         |), b AS (
         |  SELECT grp, CAST(floor(v / 10000.0) AS BIGINT) AS bin,
         |    sum(g) AS c1, sum(1.0 - g) AS c0
         |  FROM j WHERE v IS NOT NULL GROUP BY 1, 2
         |), t AS (
         |  SELECT grp, sum(c1) AS n1, sum(c0) AS n0 FROM b GROUP BY 1
         |), f AS (
         |  SELECT b.grp, t.n1, t.n0,
         |    sum(c1) OVER (PARTITION BY b.grp ORDER BY bin ASC
         |      ROWS UNBOUNDED PRECEDING) / t.n1 AS f1,
         |    sum(c0) OVER (PARTITION BY b.grp ORDER BY bin ASC
         |      ROWS UNBOUNDED PRECEDING) / t.n0 AS f0
         |  FROM b JOIN t ON b.grp = t.grp
         |), d AS (
         |  SELECT grp, max(n1) AS n1, max(n0) AS n0,
         |    max(abs(f1 - f0)) AS d_stat
         |  FROM f GROUP BY 1
         |), l AS (
         |  SELECT *, (sqrt($neSql) + 0.12 + 0.11 / sqrt($neSql)) * d_stat AS lam
         |  FROM d
         |)
         |SELECT grp, CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
         |  CASE WHEN n1 > 0 AND n0 > 0 THEN round(d_stat, 4) + 0 END AS d_stat,
         |  CASE WHEN n1 > 0 AND n0 > 0 THEN
         |    round(CASE WHEN lam < 0.32 THEN 1.0
         |      ELSE least(1.0, greatest(0.0, $series)) END, 6) END AS p_ks
         |FROM l ORDER BY grp""".stripMargin
    },
    // a30: same exact cells as a16, grid-rounded MH psi, identical
    // quadratic-root selection CASE, per-stratum grid-rounded terms
    // (order-independent sum), even-df closed-form tail
    "a30_breslow_day" ->
      """WITH s AS (
        |  SELECT CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END AS x,
        |    CASE WHEN l_quantity > 25 THEN 1.0 ELSE 0.0 END AS y,
        |    l_returnflag AS s FROM lineitem
        |), cells AS (
        |  SELECT s,
        |    sum(CASE WHEN x = 1.0 AND y = 1.0 THEN 1.0 ELSE 0.0 END) AS a,
        |    sum(CASE WHEN x = 1.0 AND y = 0.0 THEN 1.0 ELSE 0.0 END) AS b,
        |    sum(CASE WHEN x = 0.0 AND y = 1.0 THEN 1.0 ELSE 0.0 END) AS c,
        |    sum(CASE WHEN x = 0.0 AND y = 0.0 THEN 1.0 ELSE 0.0 END) AS d
        |  FROM s GROUP BY 1
        |), cm AS (
        |  SELECT *, a + b + c + d AS n, a + b AS r1, a + c AS m1 FROM cells
        |), cf AS (
        |  SELECT * FROM cm WHERE r1 > 0 AND n - r1 > 0 AND m1 > 0 AND n - m1 > 0
        |), ps AS (
        |  SELECT CASE WHEN sum(a * d / n) > 0 AND sum(b * c / n) > 0 THEN
        |    floor((sum(a * d / n) / sum(b * c / n)) * 1000000 + 0.5) / 1000000.0
        |  END AS psi FROM cf
        |), qd AS (
        |  SELECT cf.*, ps.psi,
        |    1.0 - psi AS qa,
        |    (n - r1 - m1) + psi * (r1 + m1) AS qb,
        |    -psi * r1 * m1 AS qc
        |  FROM cf, ps WHERE ps.psi IS NOT NULL
        |), rt AS (
        |  SELECT *,
        |    (-qb + sqrt(qb * qb - 4.0 * qa * qc)) / (2.0 * qa) AS ee1,
        |    (-qb - sqrt(qb * qb - 4.0 * qa * qc)) / (2.0 * qa) AS ee2
        |  FROM qd
        |), ev AS (
        |  SELECT *, CASE WHEN psi = 1.0 THEN r1 * m1 / n
        |    WHEN ee1 >= 0 AND r1 - ee1 >= 0 AND m1 - ee1 >= 0
        |      AND n - r1 - m1 + ee1 >= 0 THEN ee1
        |    ELSE ee2 END AS E
        |  FROM rt
        |), tv AS (
        |  SELECT *, 1.0 / (1.0 / E + 1.0 / (r1 - E) + 1.0 / (m1 - E)
        |    + 1.0 / (n - r1 - m1 + E)) AS V
        |  FROM ev
        |), tm AS (
        |  SELECT *, floor(((a - E) * (a - E) / V) * 1000000 + 0.5) / 1000000.0 AS term
        |  FROM tv
        |), agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_strata, max(psi) AS or_mh,
        |    sum(term) AS chi2, sum(a - E) AS sae, sum(V) AS sv,
        |    CAST(count(*) - 1 AS BIGINT) AS df
        |  FROM tm
        |), agt AS (
        |  SELECT *, chi2 - (CASE WHEN sv > 0 THEN
        |    floor((sae * sae / sv) * 1000000 + 0.5) / 1000000.0
        |    ELSE 0.0 END) AS chi2_t
        |  FROM agg
        |)
        |SELECT n_strata, round(or_mh, 4) + 0 AS or_mh,
        |  round(chi2, 4) + 0 AS chi2_bd,
        |  round(chi2_t, 4) + 0 AS chi2_tarone, df,
        |  CASE WHEN df = 2 THEN round(exp(-chi2 / 2.0), 6)
        |    WHEN df = 4 THEN round(exp(-chi2 / 2.0) * (1.0 + chi2 / 2.0), 6)
        |    WHEN df = 6 THEN round(exp(-chi2 / 2.0)
        |      * (1.0 + chi2 / 2.0 + (chi2 / 2.0) * (chi2 / 2.0) / 2.0), 6)
        |    WHEN df = 8 THEN round(exp(-chi2 / 2.0)
        |      * (1.0 + chi2 / 2.0 + (chi2 / 2.0) * (chi2 / 2.0) / 2.0
        |        + (chi2 / 2.0) * (chi2 / 2.0) * (chi2 / 2.0) / 6.0), 6)
        |  END AS p_bd
        |FROM agt""".stripMargin,
    // a29: variant melt as UNION ALL, genotype cells, HWE expected
    // counts and chi2 mirrored left-assoc term-for-term, Horner tail
    "a29_hwe" ->
      (cohortSql +
        """, mv AS (
          |  SELECT 'v1' AS variant, CAST(id % 3 AS INT) AS g FROM cohort
          |  UNION ALL
          |  SELECT 'v2', CAST((id * 7 + 1) % 3 AS INT) FROM cohort
          |  UNION ALL
          |  SELECT 'v3', CAST((id * id + id) % 3 AS INT) FROM cohort
          |), cells AS (
          |  SELECT variant, count(*) * 1.0 AS n,
          |    sum(CASE WHEN g = 0 THEN 1.0 ELSE 0.0 END) AS n0,
          |    sum(CASE WHEN g = 1 THEN 1.0 ELSE 0.0 END) AS n1,
          |    sum(CASE WHEN g = 2 THEN 1.0 ELSE 0.0 END) AS n2
          |  FROM mv WHERE g IN (0, 1, 2) GROUP BY 1
          |), c0 AS (
          |  SELECT *, (2.0 * n2 + n1) / (2.0 * n) AS p FROM cells
          |), c1 AS (
          |  SELECT *, n * (1.0 - p) * (1.0 - p) AS e0,
          |    2.0 * n * p * (1.0 - p) AS e1,
          |    n * p * p AS e2
          |  FROM c0
          |), c2 AS (
          |  SELECT *, (n0 - e0) * (n0 - e0) / e0 + (n1 - e1) * (n1 - e1) / e1
          |    + (n2 - e2) * (n2 - e2) / e2 AS chi2
          |  FROM c1
          |), c3 AS (SELECT *, sqrt(chi2) AS x FROM c2
          |), c4 AS (SELECT *, 1.0 / (1.0 + 0.2316419 * x) AS tt FROM c3)
          |SELECT variant, CAST(n AS BIGINT) AS total_n,
          |  CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
          |  CAST(n2 AS BIGINT) AS n2,
          |  round(p, 6) AS allele_freq,
          |  CASE WHEN p > 0 AND p < 1 THEN round(chi2, 4) + 0 END AS chi2,
          |  CASE WHEN p > 0 AND p < 1 THEN
          |    round(2.0 * exp(-0.5 * x * x) * 0.3989422804014327
          |      * (tt * (0.319381530 + tt * (-0.356563782 + tt * (1.781477937
          |        + tt * (-1.821255978 + tt * 1.330274429))))), 6) END AS p_hwe
          |FROM c4 ORDER BY variant""".stripMargin),
    // a28: per-dependent CA cells as UNION ALL branches over the
    // cohort CTE, trend/variance/tail arithmetic mirrored
    // term-for-term (left-assoc products, Horner tail)
    "a28_trend_test" ->
      (cohortSql + ", br AS (\n" +
        Seq("d_urgent", "d_open", "d_big", "d_many").map { d =>
          s"""  SELECT '$d' AS dependent, count(*) * 1.0 AS n, sum($d) AS r,
             |    sum(CASE WHEN id % 3 = 0 THEN 1.0 ELSE 0.0 END) AS n0,
             |    sum(CASE WHEN id % 3 = 1 THEN 1.0 ELSE 0.0 END) AS n1,
             |    sum(CASE WHEN id % 3 = 2 THEN 1.0 ELSE 0.0 END) AS n2,
             |    sum(CASE WHEN id % 3 = 0 THEN $d ELSE 0.0 END) AS r0,
             |    sum(CASE WHEN id % 3 = 1 THEN $d ELSE 0.0 END) AS r1,
             |    sum(CASE WHEN id % 3 = 2 THEN $d ELSE 0.0 END) AS r2
             |  FROM cohort WHERE $d IN (0.0, 1.0)""".stripMargin
        }.mkString("\nUNION ALL\n") +
        """
          |), calc AS (
          |  SELECT *,
          |    r1 + 2.0 * r2 - (n1 + 2.0 * n2) * r / n AS ts,
          |    (r / n) * (1.0 - r / n)
          |      * ((n1 + 4.0 * n2) - (n1 + 2.0 * n2) * (n1 + 2.0 * n2) / n) AS vt
          |  FROM br
          |), zc AS (
          |  SELECT *, ts / sqrt(vt) AS zv, abs(ts / sqrt(vt)) AS x FROM calc
          |), g2 AS (
          |  SELECT *, 1.0 / (1.0 + 0.2316419 * x) AS tt FROM zc
          |)
          |SELECT dependent, CAST(n AS BIGINT) AS total_n,
          |  CAST(r AS BIGINT) AS cases,
          |  CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
          |  CAST(n2 AS BIGINT) AS n2,
          |  round(r0, 4) + 0 AS r0, round(r1, 4) + 0 AS r1,
          |  round(r2, 4) + 0 AS r2,
          |  CASE WHEN vt > 0 THEN round(ts, 4) + 0 END AS t_stat,
          |  CASE WHEN vt > 0 THEN round(zv, 4) + 0 END AS z,
          |  CASE WHEN vt > 0 THEN round(zv * zv, 4) + 0 END AS chi2,
          |  CASE WHEN vt > 0 THEN
          |    round(2.0 * exp(-0.5 * x * x) * 0.3989422804014327
          |      * (tt * (0.319381530 + tt * (-0.356563782 + tt * (1.781477937
          |        + tt * (-1.821255978 + tt * 1.330274429))))), 6) END AS p_trend
          |FROM g2 ORDER BY dependent""".stripMargin),
    // a27: same window-ranked pair construction, same Haldane cells,
    // same Zelen-Severo Horner tail term-for-term
    // a40: a27's cell chain + the exact Binomial(n, 1/2) tail — lnf
    // folds and the ascending tail sum mirror mcnemarExact
    // operand-for-operand (the a39 discipline)
    "a40_mcnemar_exact" -> {
      // anchor ln(1/2)·n + per-k prefix list_sum of the binomial step
      // recurrence — double-identical to mcnemarExact's running
      // stepSum; n > 1e7 publishes NULL p + skipped = true
      val step = "ln(CAST((n10 + n01) - j AS DOUBLE)) - ln(CAST(j + 1 AS DOUBLE))"
      s"""WITH j AS (
        |  SELECT c.c_custkey AS cust, c.c_mktsegment AS grp,
        |    o.o_orderkey AS okey, o.o_totalprice AS price,
        |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS x
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |), r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY cust ORDER BY price DESC, okey) AS rd,
        |    row_number() OVER (PARTITION BY cust ORDER BY price ASC, okey DESC) AS ra
        |  FROM j
        |), p AS (
        |  SELECT cust, max(grp) AS grp,
        |    max(CASE WHEN rd = 1 THEN x END) AS x_case,
        |    max(CASE WHEN ra = 1 THEN x END) AS x_ctrl,
        |    count(*) AS n_orders
        |  FROM r GROUP BY cust
        |), cells AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN x_case = 1.0 AND x_ctrl = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN x_case = 0.0 AND x_ctrl = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n01
        |  FROM p WHERE n_orders >= 2 GROUP BY grp
        |)
        |SELECT grp, n_pairs, n10, n01,
        |  CASE WHEN n10 + n01 > 10000000 THEN NULL
        |    ELSE round(least(1.0, 2.0 * list_sum(list_transform(
        |      generate_series(0, least(n10, n01)),
        |      k -> exp(ln(0.5) * (n10 + n01)
        |        + coalesce(list_sum(list_transform(
        |            generate_series(0, (k) - 1), j -> $step)), 0.0))))), 6) + 0
        |    END AS p_exact,
        |  (n10 + n01 > 10000000) AS skipped
        |FROM cells ORDER BY grp""".stripMargin
    },
    "a27_matched_pairs" ->
      """WITH j AS (
        |  SELECT c.c_custkey AS cust, c.c_mktsegment AS grp,
        |    o.o_orderkey AS okey, o.o_totalprice AS price,
        |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS x
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |), r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY cust ORDER BY price DESC, okey) AS rd,
        |    row_number() OVER (PARTITION BY cust ORDER BY price ASC, okey DESC) AS ra
        |  FROM j
        |), p AS (
        |  SELECT cust, max(grp) AS grp,
        |    max(CASE WHEN rd = 1 THEN x END) AS x_case,
        |    max(CASE WHEN ra = 1 THEN x END) AS x_ctrl,
        |    count(*) AS n_orders
        |  FROM r GROUP BY cust
        |), cells AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN x_case = 1.0 AND x_ctrl = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN x_case = 0.0 AND x_ctrl = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n01
        |  FROM p WHERE n_orders >= 2 GROUP BY grp
        |), hb AS (
        |  SELECT *,
        |    n10 + (CASE WHEN n10 = 0 OR n01 = 0 THEN 0.5 ELSE 0.0 END) AS a,
        |    n01 + (CASE WHEN n10 = 0 OR n01 = 0 THEN 0.5 ELSE 0.0 END) AS b
        |  FROM cells
        |), g AS (
        |  SELECT *, abs(ln(a / b) / sqrt(1.0 / a + 1.0 / b)) AS xv FROM hb
        |), g2 AS (
        |  SELECT *, 1.0 / (1.0 + 0.2316419 * xv) AS t FROM g
        |)
        |SELECT grp, n_pairs, n10, n01,
        |  round(ln(a / b), 4) + 0 AS beta,
        |  round(sqrt(1.0 / a + 1.0 / b), 4) + 0 AS se,
        |  round(a / b, 4) + 0 AS "or",
        |  CASE WHEN n10 + n01 > 0 THEN
        |    round((n10 - n01) * (n10 - n01) / CAST(n10 + n01 AS DOUBLE), 4) + 0 END
        |    AS mcnemar_chi2,
        |  round(2.0 * exp(-0.5 * xv * xv) * 0.3989422804014327
        |    * (t * (0.319381530 + t * (-0.356563782 + t * (1.781477937
        |      + t * (-1.821255978 + t * 1.330274429))))), 6) AS p_wald
        |FROM g2 ORDER BY grp""".stripMargin,
    "a04_assoc_firth" ->
      (cohortSql + "\n" +
        Seq("d_urgent", "d_open", "d_big", "d_many").map(firthBranch)
          .mkString("", "\nUNION ALL\n", "\nORDER BY dependent")),
    "a07_flipwas" ->
      (cohortSql + "\n" +
        (for { p <- Seq("xbin", "xpar"); d <- Seq("d_urgent", "d_big") } yield flipBranch(p, d))
          .mkString("", "\nUNION ALL\n", "\nORDER BY predictor, dependent")),
    "a05_case_counts" ->
      (cohortSql + "\n" +
        Seq("d_urgent", "d_open", "d_big", "d_many", "d_rare", "d_all").map(countsBranch(_, 50))
          .mkString("", "\nUNION ALL\n", "\nORDER BY dependent")),
    // a42: 9 quantile_cont cuts (type-7 ≡ quantilesExact), the same
    // σ/decile/HL arithmetic operand-for-operand; Σp̂'s ordering ULPs
    // die in the 4-dp round
    "a42_hl_calibration" -> {
      val cutDefs = (1 to 9).map(i =>
        s"quantile_cont(x, ${i / 10.0}) AS c$i").mkString(",\n         ")
      val binExpr = (1 to 9).map(i =>
        s"(CASE WHEN x >= c$i THEN 1 ELSE 0 END)").mkString(" + ")
      cohortSql + s""",
         |b AS (
         |  SELECT id, x, d_urgent AS y,
         |    1.0 / (1.0 + exp((-1.0 * x) / 3000.0)) AS p_hat
         |  FROM cohort WHERE x IS NOT NULL AND d_urgent IS NOT NULL
         |), cuts AS (
         |  SELECT $cutDefs
         |  FROM b
         |), cells AS (
         |  SELECT $binExpr AS decile,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS obs,
         |    sum(p_hat) AS e_sum
         |  FROM b, cuts GROUP BY 1
         |), h AS (
         |  SELECT *,
         |    (obs - e_sum) * (obs - e_sum)
         |      / (n * (e_sum / n) * (1.0 - e_sum / n)) AS hl_term
         |  FROM cells
         |), tot AS (SELECT sum(hl_term) AS chi2 FROM h)
         |SELECT decile, n, obs, round(e_sum, 4) + 0 AS e_sum,
         |  round(hl_term, 4) + 0 AS hl_term, round(chi2, 4) + 0 AS hl_chi2
         |FROM h, tot ORDER BY decile""".stripMargin
    },
    // a43: the a42 cell chain plus one 10-row reduction; every
    // component is a function of per-decile sums so no second pass
    "a43_brier" -> {
      val cutDefs = (1 to 9).map(i =>
        s"quantile_cont(x, ${i / 10.0}) AS c$i").mkString(",\n         ")
      val binExpr = (1 to 9).map(i =>
        s"(CASE WHEN x >= c$i THEN 1 ELSE 0 END)").mkString(" + ")
      cohortSql + s""",
         |b AS (
         |  SELECT id, x, d_urgent AS y,
         |    1.0 / (1.0 + exp((-1.0 * x) / 3000.0)) AS p_hat
         |  FROM cohort WHERE x IS NOT NULL AND d_urgent IS NOT NULL
         |), cuts AS (
         |  SELECT $cutDefs
         |  FROM b
         |), cells AS (
         |  SELECT $binExpr AS decile,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    sum(y) AS o, sum(p_hat) AS e,
         |    sum((p_hat - y) * (p_hat - y)) AS sq
         |  FROM b, cuts GROUP BY 1
         |), s AS (
         |  SELECT sum(n) AS nn, sum(o) AS oo, sum(sq) AS ssq,
         |    sum(e * e / n - 2.0 * e * o / n + o) AS bb,
         |    sum((e - o) * (e - o) / n) AS rel_n,
         |    sum(o * o / n) AS res_a
         |  FROM cells
         |)
         |SELECT CAST(nn AS BIGINT) AS n,
         |  round(ssq / nn, 4) + 0 AS bs,
         |  round(rel_n / nn, 4) + 0 AS reliability,
         |  round((res_a - oo * oo / nn) / nn, 4) + 0 AS resolution,
         |  round((oo / nn) * (1.0 - oo / nn), 4) + 0 AS uncertainty,
         |  round(bb / nn, 4) + 0 AS bs_binned
         |FROM s""".stripMargin
    },
    "a41_auc" ->
      (cohortSql + "\n" +
        Seq("d_urgent", "d_open", "d_big", "d_many", "d_rare").map(aucBranch)
          .mkString("", "\nUNION ALL\n", "\nORDER BY dependent")),
    "a39_fisher_exact" ->
      (cohortSql + "\n" +
        Seq("d_urgent", "d_open", "d_big", "d_many", "d_rare", "d_all").map(fisherBranch)
          .mkString("", "\nUNION ALL\n", "\nORDER BY dependent")),
    "a10_assoc_logistic_gram" ->
      (cohortSql + "\n" +
        Seq("d_urgent", "d_open", "d_big", "d_many").map(logisticBranch)
          .mkString("", "\nUNION ALL\n", "\nORDER BY dependent")),
    // Firth at a17's tolerance converges to the same penalized MLE as
    // a04 → same Haldane closed-form beta/OR oracle
    "a17_assoc_firth_gram" ->
      (cohortSql + "\n" +
        Seq("d_urgent", "d_open", "d_big", "d_many").map(firthBranch)
          .mkString("", "\nUNION ALL\n", "\nORDER BY dependent")),
    "a08_pipeline_logt" ->
      (cohortSql + "\n" +
        Seq("y_avg", "y_max").map(logtBranch).mkString("", "\nUNION ALL\n", "\nORDER BY dependent")),
    // RINT oracle: the SQL-side Acklam qnorm (Preprocess.qnormSql)
    // transforms y_max by Blom rank, then regr_* fits — per-value
    // ~1e-9 approximation residual washes out in the aggregates
    "a09_pipeline_rint" ->
      (cohortSql + s""", src AS (
         |  SELECT id, x, y_max FROM cohort WHERE y_max IS NOT NULL
         |), nn AS (SELECT count(*) AS n FROM src),
         |rk AS (
         |  SELECT id, x, row_number() OVER (ORDER BY y_max, id) AS rnk FROM src
         |), tr AS (
         |  SELECT x, ${Preprocess.qnormSql("(rnk - 0.375) / (nn.n + 0.25)")} AS yr
         |  FROM rk, nn
         |)
         |SELECT 'x' AS predictor, 'y_max' AS dependent,
         |  round(regr_slope(yr, x), 4) + 0 AS beta,
         |  round(sqrt(regr_syy(yr, x) * (1 - regr_r2(yr, x))
         |    / (regr_count(yr, x) - 2) / regr_sxx(yr, x)), 4) + 0 AS se,
         |  CAST(regr_count(yr, x) AS BIGINT) AS n_observations
         |FROM tr""".stripMargin),
    "s05_phecode_annotate" ->
      (cohortSql + s""", defs AS (
         |  SELECT phecode, phenotype, category, category_number
         |  FROM read_csv('$PhecodeDefsPath', all_varchar=true)
         |), cnt AS (
         |""".stripMargin +
        Seq("d_urgent", "d_open", "d_big", "d_many").map(annotCountsBranch)
          .mkString("", "\nUNION ALL\n", "\n)\n") +
        """SELECT c.predictor, c.dependent, d.phenotype, d.category,
          |  d.category_number, c.cases, c.controls, c.total_n
          |FROM cnt c LEFT JOIN defs d ON c.dependent = d.phecode
          |ORDER BY c.dependent""".stripMargin),
    "a06_validation_skip" ->
      (cohortSql + ", cnt AS (\n" +
        Seq("d_big", "d_open", "d_rare", "d_all", "d_null").map(skipBranch)
          .mkString("", "\nUNION ALL\n", ")\n") +
        """SELECT 'xbin' AS predictor, dep AS dependent,
          |  CASE WHEN n = 0 THEN 'No data after dropping nulls.'
          |    WHEN cases < 100 THEN 'Insufficient case count (' || CAST(cases AS VARCHAR) || ' cases).'
          |    WHEN n - cases < 100 THEN 'Insufficient control count (' || CAST(n - cases AS VARCHAR) || ' controls).'
          |    WHEN cases = n THEN 'All observations are cases.'
          |    ELSE 'nan' END AS failed_reason
          |FROM cnt ORDER BY dependent""".stripMargin),
  )
}
