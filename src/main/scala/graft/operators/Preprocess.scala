package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType, StringType, StructField, StructType}
import graft.Tables
import graft.functions.{GraftFunctions, Numerics}

/**
 * Preprocessing operators mirroring the reference's preprocessing
 * stage (/root/reference/src/polars_mas/preprocessing.py) plus the
 * README-roadmap transforms (RINT, scaling, log transform). All are
 * declarative Catalyst plans except RINT's distributed rank.
 */
object Preprocess {

  /** A column by its literal name. User-given names (PheCodes such as
    * `008.5`) may contain dots, which `col` reads as a struct path;
    * every MAS-path reference to a user-named column goes through
    * here. */
  def column(name: String): Column = col(quoted(name))

  /** `name` back-quoted for APIs that parse a column string. */
  def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  // ------------------------------------------------- p01 column selection

  /** Reference column-spec parser (config.py:133-178): comma-separated
    * names and positional specs `i:N`, `i:start-end` (end exclusive),
    * `i:start-` (to the last column). Resolution happens on the
    * schema — the projection itself stays a pushdown-friendly select.
    * A malformed or negative index and a range that selects no column
    * (start ≥ end) are config errors naming the spec. */
  def selectColumns(df: DataFrame, spec: String): DataFrame =
    df.select(resolveColumns(df.columns.toIndexedSeq, spec).map(column): _*)

  /** The names `spec` selects from `names`, in spec order: the resolver
    * [[selectColumns]] projects with, read from a schema's names
    * alone. */
  def resolveColumns(names: IndexedSeq[String], spec: String): Seq[String] =
    spec.split(",").toSeq.flatMap { raw =>
      val colSpec = raw.trim
      if (colSpec.startsWith("i:")) {
        def invalid = new IllegalArgumentException(s"Invalid column spec '$colSpec'. " +
          "Please use i:<index>, i:<start>-<end>, or i:<start>-.")
        def index(s: String): Int =
          s.toIntOption.filter(_ => s.forall(_.isDigit)).getOrElse(throw invalid)
        colSpec.drop(2).split("-", -1) match {
          case Array(one) =>
            val i = index(one)
            require(i < names.length, s"Index $i is out of range for input with ${names.length} columns")
            Seq(names(i))
          case Array(s, e) =>
            val start = index(s)
            val end = if (e.isEmpty) names.length else index(e)
            require(start < names.length, s"Start index $start is out of range")
            require(end <= names.length, s"End index $end out of range for ${names.length} columns")
            require(start < end,
              s"Column spec '$colSpec' selects no columns: start $start is not below end $end")
            names.slice(start, end)
          case _ => throw invalid
        }
      } else {
        require(names.contains(colSpec), s"Column $colSpec does not exist in the input file.")
        Seq(colSpec)
      }
    }

  // ----------------------------------------------------- p02 sex filter

  /** Sex-specific row filter (preprocessing.py:43-62): male = sex col
    * != femaleCode, female = sex col == femaleCode. A pushed filter. */
  def sexFilter(df: DataFrame, sexCol: String, femaleCode: Double, femaleOnly: Boolean): DataFrame =
    if (femaleOnly) df.filter(column(sexCol) === femaleCode)
    else df.filter(column(sexCol) =!= femaleCode)

  // ------------------------------------------------------- p03/p04 fills

  /** What [[profile]] reads of a frame in one aggregate: its row count;
    * each column's null count, in column order; the columns with at
    * most one distinct non-null value (after the fill, when the
    * strategy fills with a statistic); each column's fill value as a
    * typed literal; and each categorical's sorted levels. */
  final case class Profile(rows: Long, nulls: Seq[(String, Long)], constant: Seq[String],
      fills: Map[String, Column], levels: Map[String, Seq[String]])

  /** The statistic of each fill strategy that needs one. */
  private val fillStats = Map[String, Column => Column](("mean", avg), ("min", min), ("max", max))

  /** Throws `error(c)` for the first of `cols` that holds strings. */
  def requireNumeric(df: DataFrame, cols: Seq[String])(error: String => String): Unit =
    cols.find(c => df.schema(c).dataType == StringType).foreach(c =>
      throw new IllegalArgumentException(error(c)))

  /**
   * One aggregate over `cols` (none: the row count alone) that answers
   * every question preprocessing asks of them under the missing-value
   * `strategy`. A column is constant when its max is null or its min
   * equals its max — the columns [[constantReport]] marks dropped,
   * since Spark orders NaN above every value and equates NaN with NaN
   * and 0.0 with -0.0, as its distinct count does. For a mean, min or
   * max fill the aggregate also computes each column's fill value, and
   * the constant flag describes the filled column: filling a constant
   * column keeps it constant only when the fill equals its value, which
   * a mean of several copies of 0.1 does not. Such a fill over a string
   * column is refused before the aggregate runs: it would fail mid-job
   * on the first value that does not parse as a number.
   *
   * The same aggregate reads the levels of each of `categoricals` (a
   * subset of `cols` under a mean, min or max fill): its distinct
   * non-null values as strings, sorted, as the one-hot encoding reads
   * them from the filled column, so a column with nulls gains its fill
   * value, in the filled column's type. At most [[MaxOneHotLevels]] + 1
   * values are kept per partition and in the merge; [[oneHot]]'s
   * encoder refuses a column that has more than [[MaxOneHotLevels]].
   */
  def profile(df: DataFrame, cols: Seq[String], strategy: String = "fail",
      categoricals: Seq[String] = Nil): Profile = {
    val stat = fillStats.get(strategy)
    if (stat.isDefined) requireNumeric(df, cols)(c => s"Cannot fill nulls in string column '$c' " +
      s"with its $strategy; use drop, fail or a numeric encoding.")
    val rows = count(lit(1))
    // per column: null count, constant flag, fill value (min without a fill)
    val perCol = cols.map { c =>
      val v = column(c)
      val f = stat.fold(min(v))(_(v))
      val same = max(v).isNull || min(v) === max(v)
      struct(rows - count(v), same && (count(v) === rows || f <=> min(v)), f)
    }
    // per categorical: its distinct values in the filled type, and the
    // fill value in that type when it fills nulls
    val perCat = categoricals.map { c =>
      val v = column(c)
      stat.fold(struct(GraftFunctions.boundedDistinct(v, MaxOneHotLevels), lit(null))) { s =>
        val filled = coalesce(v, lit(null).cast(df.agg(s(v)).schema.head.dataType))
        struct(GraftFunctions.boundedDistinct(filled, MaxOneHotLevels),
          when(count(v) < rows, coalesce(lit(null).cast(df.schema(c).dataType), s(v))))
      }
    }
    val row = df.agg(rows, perCol ++ perCat: _*).head()
    val per = cols.indices.map(i => cols(i) -> row.getStruct(i + 1))
    val levels = categoricals.indices.map { i =>
      val r = row.getStruct(1 + cols.size + i)
      // distinct values print distinctly, but for -0.0 against 0.0
      val fill = Option(r.get(1)).map {
        case d: Double => if (d == 0.0) 0.0 else d
        case f: Float => if (f == 0.0f) 0.0f else f
        case other => other
      }
      categoricals(i) -> (r.getSeq[Any](0) ++ fill).map(_.toString).distinct.sorted
    }.toMap
    Profile(row.getLong(0), per.map { case (c, r) => c -> r.getLong(0) },
      per.collect { case (c, r) if r.getBoolean(1) => c },
      if (stat.isEmpty) Map.empty
      else per.map { case (c, r) => c -> lit(r.get(2)).cast(r.schema(2).dataType) }.toMap,
      levels)
  }

  /** `df` with each column of `fills` coalesced with its fill literal:
    * one projection, in place. A NaN is a value, not a null. */
  def fill(df: DataFrame, fills: Map[String, Column]): DataFrame =
    df.select(df.columns.toIndexedSeq.map(c =>
      fills.get(c).fold(column(c))(f => coalesce(column(c), f).as(c))): _*)

  /** Missing-covariate fill (preprocessing.py:7-40): strategy ∈
    * drop|mean|min|max|zero|one. A mean/min/max fill reads its
    * statistics from one [[profile]]; zero and one fill each numeric
    * column with the constant cast to its type, and string columns keep
    * their nulls. Either way the fill is a literal, so later jobs have
    * nothing to recompute, and NaN stays in place. */
  def fillNulls(df: DataFrame, cols: Seq[String], strategy: String): DataFrame = strategy match {
    case v @ ("zero" | "one") =>
      fill(df, cols.map(c => c -> df.schema(c).dataType).collect { case (c, t: NumericType) =>
        c -> lit(if (v == "zero") 0.0 else 1.0).cast(t) }.toMap)
    case "drop" => df.na.drop(cols.map(quoted))
    case s if fillStats.contains(s) => fill(df, profile(df, cols, s).fills)
    case other => throw new IllegalArgumentException(s"Unknown fill strategy: $other")
  }

  /** Forward/backward fill. The reference fills in frame row order
    * (preprocessing.py:30-31); a distributed engine needs the order
    * made explicit, so the operator takes partition + ordering keys —
    * one shuffle, `last/first(ignoreNulls)` over a running window. */
  def fillDirectional(
      df: DataFrame, cols: Seq[String], forward: Boolean,
      partitionBy: Seq[String], orderBy: Seq[String]): DataFrame = {
    val base = Window.partitionBy(partitionBy.map(col): _*)
    val w =
      if (forward) base.orderBy(orderBy.map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      else base.orderBy(orderBy.map(c => col(c).desc): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df)((d, c) => d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /**
   * GLOBAL-order forward/backward fill — the pipeline's
   * `--missing-covariate-values forward|backward` (preprocessing.py:
   * 31-33 fills in file row order; here the order is an explicit
   * column). A single unpartitioned window would funnel the whole
   * INPUT through one task, so this runs the distributed two-pass
   * shape instead: range-sort by the order column, per-partition scan
   * for the last (first) non-null of each column (one tiny collect),
   * prefix-carry across partitions on the driver, then a parallel
   * per-partition fill with the carried boundary values. Backward fill
   * is the same scan over the descending sort.
   */
  def fillOrdered(df: DataFrame, cols: Seq[String], forward: Boolean,
      orderCol: String): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema
    val idxs = cols.map(schema.fieldIndex).toArray
    val sorted = (if (forward) df.orderBy(column(orderCol).asc)
      else df.orderBy(column(orderCol).desc)).rdd
    sorted.localCheckpoint() // two passes below; don't re-sort
    // pass 1: last non-null per (partition, column)
    val partLast = sorted.mapPartitionsWithIndex { (pi, it) =>
      val last = new Array[Any](idxs.length)
      it.foreach { r =>
        var c = 0
        while (c < idxs.length) {
          val v = r.get(idxs(c))
          if (v != null) last(c) = v
          c += 1
        }
      }
      Iterator((pi, last.toSeq))
    }.collect().toMap
    val nParts = sorted.getNumPartitions
    // carry(pi) = last non-null from all partitions BEFORE pi
    val carry = Array.fill[Any](nParts, idxs.length)(null)
    var pi = 1
    while (pi < nParts) {
      var c = 0
      while (c < idxs.length) {
        val prev = partLast.get(pi - 1).map(_(c)).orNull
        carry(pi)(c) = if (prev != null) prev else carry(pi - 1)(c)
        c += 1
      }
      pi += 1
    }
    val bcCarry = spark.sparkContext.broadcast(carry.map(_.toSeq).toSeq)
    val out = sorted.mapPartitionsWithIndex { (pi2, it) =>
      val run = bcCarry.value(pi2).toArray
      it.map { r =>
        val vals = r.toSeq.toArray
        var c = 0
        while (c < idxs.length) {
          val v = vals(idxs(c))
          if (v != null) run(c) = v else vals(idxs(c)) = run(c)
          c += 1
        }
        Row.fromSeq(vals.toIndexedSeq)
      }
    }
    spark.createDataFrame(out, schema)
  }

  // ------------------------------------------------- p05 constant columns

  /** Zero-variance report (preprocessing.py:65-79): ONE aggregate pass
    * over all candidate columns (map-side partial countDistinct), no
    * per-column jobs. */
  def constantReport(df: DataFrame, cols: Seq[String]): DataFrame = {
    val agg = df.agg(countDistinct(col(cols.head)).as(cols.head),
      cols.tail.map(c => countDistinct(col(c)).as(c)): _*)
    // unpivot the single aggregate row: (col_name, n_unique, dropped)
    val stacked = agg.select(explode(array(cols.map(c =>
      struct(lit(c).as("col_name"), col(c).as("n_unique"))): _*)).as("s"))
    stacked.select(col("s.col_name").as("col_name"), col("s.n_unique").as("n_unique"),
      (col("s.n_unique") <= 1).as("dropped")).orderBy("col_name")
  }

  /** Drop the columns `constantReport` marks dropped, from the min/max
    * flags of one [[profile]] instead of its distinct counts. */
  def dropConstant(df: DataFrame, cols: Seq[String]): DataFrame =
    df.drop(profile(df, cols).constant: _*)

  // ------------------------------------------------------- p06 one-hot

  /** Widest categorical a covariate may be before one-hot refuses:
    * past this the collect stops being "bounded model state" and the
    * dummy projection stops being a sane design matrix. */
  val MaxOneHotLevels = 1000

  /** Dummy-encode categoricals with >2 levels, dropping the first
    * level (preprocessing.py:82-108). The levels come from one
    * [[profile]] aggregate over all of `cols`, bounded per partition and
    * in the merge, so the driver never receives more than cap+1 values
    * of a column even for a high-cardinality one (an ID passed as a
    * categorical by mistake), which fails fast. NULL is not a level: the
    * missing-value step resolves missing covariates BEFORE encoding. */
  def oneHot(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty) df else encode(df, cols, profile(df, Nil, categoricals = cols).levels)

  /** The one-hot encoder [[oneHot]] and the pipeline share: each of
    * `cols` with more than two of its sorted `levels` becomes a dummy
    * per level but the first, a pivot-free CASE WHEN projection Catalyst
    * folds into the scan; a column with two levels or fewer stays as it
    * is. A column with more than [[MaxOneHotLevels]] levels is refused. */
  def encode(df: DataFrame, cols: Seq[String], levels: Map[String, Seq[String]]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      val lv = levels(c)
      require(lv.length <= MaxOneHotLevels,
        s"categorical covariate '$c' has more than $MaxOneHotLevels " +
          "distinct levels — one-hot encoding it would add that many " +
          "columns to the design matrix; this is almost certainly an " +
          "ID column passed as categorical")
      if (lv.length <= 2) d
      else {
        val dummies = lv.drop(1).map(v =>
          when(column(c) === v, 1).otherwise(0).as(s"${c}_$v"))
        d.select((d.columns.filterNot(_ == c).map(column).toSeq ++ dummies): _*)
      }
    }

  // ----------------------------------------- p07/p08/p09 transforms

  /** Covariate standardization (z-score): one aggregate row broadcast
    * back, then a projection. A constant column (sd = 0) scales to
    * null — guarded explicitly, because under Spark's default ANSI
    * mode x/0.0 is a runtime error, not NaN. Run dropConstant
    * first. */
  def scaleStandard(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stats = df.agg(
      avg(col(cols.head)).as(s"__m_${cols.head}"),
      (cols.tail.map(c => avg(col(c)).as(s"__m_$c")) ++
        cols.map(c => stddev_samp(col(c)).as(s"__s_$c"))): _*)
    val joined = df.crossJoin(broadcast(stats))
    cols.foldLeft(joined)((d, c) =>
      d.withColumn(c, when(col(s"__s_$c") =!= 0.0,
        (col(c) - col(s"__m_$c")) / col(s"__s_$c"))))
      .drop(cols.flatMap(c => Seq(s"__m_$c", s"__s_$c")): _*)
  }

  /** Min-max scaling to [0, 1] (roadmap item alongside z-score): one
    * aggregate row broadcast back, then a projection. A constant
    * column (hi = lo) scales to null — guarded explicitly, matching
    * the z-score zero-variance behavior (ANSI mode would otherwise
    * raise DIVIDE_BY_ZERO). Run dropConstant first. */
  def scaleMinMax(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stats = df.agg(
      min(col(cols.head)).as(s"__lo_${cols.head}"),
      (cols.tail.map(c => min(col(c)).as(s"__lo_$c")) ++
        cols.map(c => max(col(c)).as(s"__hi_$c"))): _*)
    val joined = df.crossJoin(broadcast(stats))
    cols.foldLeft(joined)((d, c) =>
      d.withColumn(c, when(col(s"__hi_$c") =!= col(s"__lo_$c"),
        (col(c) - col(s"__lo_$c")) / (col(s"__hi_$c") - col(s"__lo_$c")))))
      .drop(cols.flatMap(c => Seq(s"__lo_$c", s"__hi_$c")): _*)
  }

  /**
   * Rank-based inverse-normal transform (Blom offset):
   * rint(v) = qnorm((rank − 0.375) / (n + 0.25)).
   *
   * Scale note: a global `row_number` window would collapse to one
   * partition, so ranks come from a distributed sort +
   * `zipWithIndex` (per-partition offsets, one light count job) —
   * ranks stay exact, ties broken deterministically by the id column.
   */
  def rint(df: DataFrame, valueCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val src = df.select(column(idCol).cast("long"), column(valueCol).cast("double"))
      .where(column(valueCol).isNotNull)
    val n = src.count()
    val ranked = src.orderBy(column(valueCol), column(idCol)).rdd.zipWithIndex()
      .map { case (r, i) => Row(r.getLong(0), r.getDouble(1), i + 1L) }
    val schema = StructType(Seq(
      StructField(idCol, LongType), StructField(valueCol, DoubleType),
      StructField("rank", LongType)))
    spark.createDataFrame(ranked, schema)
      .withColumn("rint",
        graft.functions.GraftFunctions.qnorm((col("rank") - 0.375) / (n + 0.25)))
  }

  /**
   * QUANTILE NORMALIZATION across k columns — the limma/microarray
   * batch-effect remover: after the transform every column carries
   * the IDENTICAL empirical distribution (the across-column mean
   * order-statistic profile), the strongest distribution-matching
   * preprocessing short of per-batch modeling. Deterministic tie
   * rule: ranks break by row id (cross-engine exact — the same rule
   * the RINT path uses).
   *
   * Scale shape: one distributed sort + zipWithIndex rank PER COLUMN
   * (never a single-partition window), one rank-keyed mean over the
   * k-column union, and a rank join back — every exchange is keyed by
   * rank or id; nothing is collected. Rows with a null in a column
   * are excluded from that column's ranking only (per-column ranks
   * then average over the columns present at the rank).
   */
  def quantileNormalize(df: DataFrame, cols: Seq[String], idCol: String): DataFrame = {
    require(cols.size >= 2, s"quantileNormalize: need >= 2 columns, got $cols")
    val spark = df.sparkSession
    val rankedSchema = StructType(Seq(
      StructField("__qn_id", LongType), StructField("__qn_col", StringType),
      StructField("__qn_v", DoubleType), StructField("__qn_rank", LongType)))
    val ranked = cols.map { c =>
      // explicit aliases: the id column may itself be one of the
      // normalized columns (two same-named attrs would be ambiguous)
      val src = df.select(col(idCol).cast("long").as("__qn_id0"),
          col(c).cast("double").as("__qn_v0"))
        .where(col("__qn_v0").isNotNull)
      val rdd = src.orderBy(col("__qn_v0"), col("__qn_id0")).rdd.zipWithIndex()
        .map { case (r, i) => Row(r.getLong(0), c, r.getDouble(1), i + 1L) }
      spark.createDataFrame(rdd, rankedSchema)
    }.reduce(_ unionAll _)
    val target = ranked.groupBy("__qn_rank")
      .agg(avg(col("__qn_v")).as("__qn_t"))
    ranked.join(target, "__qn_rank")
      .groupBy(col("__qn_id").as(idCol))
      .agg(cols.map(c =>
          Norm.r4(max(when(col("__qn_col") === c, col("__qn_t")))).as(s"${c}_qn")).head,
        cols.map(c =>
          Norm.r4(max(when(col("__qn_col") === c, col("__qn_t")))).as(s"${c}_qn")).tail: _*)
  }

  /** p25: quantile-normalize the three customer numerics — after it,
    * all three columns share one empirical distribution. */
  def p25QuantileNormalize(spark: SparkSession, dir: String): DataFrame =
    quantileNormalize(Tables.customer(spark, dir),
      Seq("c_custkey", "c_nationkey", "c_acctbal"), "c_custkey")
      .orderBy("c_custkey")

  /** Log transform of dependents (roadmap): natural log projection. */
  def logTransform(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, log(column(c))))

  /**
   * Yeo–Johnson power transform at a FIXED λ — the variance-
   * stabilizing transform for dependents that take BOTH signs (the
   * log/Box-Cox family needs positives; RINT destroys spacing).
   * λ is a modeling choice here, not fitted — fitting it by profile
   * likelihood is a handful of candidate-λ scans over this same
   * projection if ever needed. Pure projection: both sign branches
   * are codegen'd `when` arms, no shuffle, pushdown-transparent.
   *
   * ψ(y,λ) = ((y+1)^λ − 1)/λ          y ≥ 0, λ ≠ 0
   *          ln(y+1)                  y ≥ 0, λ = 0
   *          −((1−y)^(2−λ) − 1)/(2−λ) y < 0, λ ≠ 2
   *          −ln(1−y)                 y < 0, λ = 2
   */
  def yeoJohnson(df: DataFrame, cols: Seq[String], lambda: Double): DataFrame = {
    def yj(y: Column): Column = {
      val pos = if (lambda == 0.0) log(y + 1) else (pow(y + 1, lambda) - 1) / lambda
      val neg = if (lambda == 2.0) -log(-y + 1)
        else -(pow(-y + 1, 2 - lambda) - 1) / (2 - lambda)
      when(y >= 0, pos).otherwise(neg)
    }
    cols.foldLeft(df)((d, c) => d.withColumn(c, yj(col(c))))
  }

  /**
   * EXACT quantiles with linear interpolation (quantile_cont
   * semantics: position p = (n−1)·q, value = v⌊p⌋ + frac·(v⌈p⌉−v⌊p⌋))
   * — computed scale-safe: the distributed sort + `zipWithIndex` rank
   * (the rint machinery) makes ranks exact with no single-partition
   * window, then only the ≤ 2·|qs| rows AT the needed ranks are
   * fetched. approx_percentile trades accuracy for one pass; this
   * trades one sort for exactness — the right default when the
   * quantiles feed decisions (shuffle sizing, outlier cutoffs).
   */
  def quantilesExact(df: DataFrame, valueCol: String, qs: Seq[Double]): DataFrame = {
    val spark = df.sparkSession
    val src = df.select(col(valueCol).cast("double")).where(col(valueCol).isNotNull)
    // pin the sorted data before counting: count() and the rank scan
    // are two jobs, and on a nondeterministic input (sample, changing
    // files) a recomputed plan could yield an n that disagrees with
    // the ranks — localCheckpoint makes both passes read the same
    // materialized blocks (the shardPack pattern)
    val sorted = src.orderBy(col(valueCol)).rdd
    sorted.localCheckpoint()
    val n = sorted.count()
    require(n > 0, s"quantilesExact: no non-null values in '$valueCol'")
    val positions = qs.map(q => (n - 1) * q)
    val needed = positions.flatMap(p => Seq(math.floor(p).toLong, math.ceil(p).toLong)).toSet
    val ranked = sorted.zipWithIndex()
      .filter { case (_, i) => needed.contains(i) }
      .map { case (r, i) => (i, r.getDouble(0)) }
      .collect().toMap
    // the checkpointed blocks served both passes; release them now or
    // per-column callers (scaleRobust's foldLeft) leak a materialized
    // sorted copy of the data into executor storage per column
    sorted.unpersist(blocking = false)
    import spark.implicits._
    qs.zip(positions).map { case (q, p) =>
      val lo = ranked(math.floor(p).toLong)
      val hi = ranked(math.ceil(p).toLong)
      (q, lo + (p - math.floor(p)) * (hi - lo))
    }.toDF("q", "value")
  }

  /**
   * Missingness profile: one row per column with null count/fraction
   * — the data-profiling pass behind the reference's "All values are
   * missing in covariate column" guard, generalized. ONE aggregate
   * scan for all columns (map-side partial combine), then the tiny
   * stats row explodes long-form; at 100 TB this is a single pass
   * producing |cols| rows.
   */
  def missingness(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "missingness: no columns given")
    val aggs = count(lit(1)).as("n") +:
      cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__m_$c"))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("column"), col("n"),
          col(s"__m_$c").as("n_null"))): _*)).as("s"))
      .select(col("s.column").as("column"), col("s.n").as("n"),
        col("s.n_null").as("n_null"))
      .withColumn("frac_null", round(col("n_null") / col("n"), 4))
  }

  /** p14: missingness profile of deterministically-nulled columns. */
  def p14Missingness(spark: SparkSession, dir: String): DataFrame = {
    val holey = Tables.customer(spark, dir).select(
      col("c_custkey"),
      when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("c_acctbal"))
        .cast("double").as("acctbal"),
      when(col("c_custkey") % 3 === 0, lit(null)).otherwise(col("c_nationkey"))
        .cast("double").as("nation"),
      col("c_mktsegment"))
    missingness(holey, Seq("acctbal", "nation", "c_mktsegment"))
      .orderBy("column")
  }

  /**
   * Robust scaling: (x − median) / IQR — the outlier-insensitive
   * alternative to z-scoring (p07) when covariates are heavy-tailed.
   * Cuts come from the exact distributed quantiles (one range-sort
   * per column, rank-fetch only); a degenerate column (IQR = 0)
   * scales to null rather than raising ANSI division-by-zero, like
   * p07's constant-column guard.
   */
  def scaleRobust(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      val qs = quantilesExact(d, c, Seq(0.25, 0.5, 0.75))
        .orderBy("q").collect().map(_.getDouble(1))
      val (q1, med, q3) = (qs(0), qs(1), qs(2))
      val iqr = q3 - q1
      d.withColumn(c,
        if (iqr == 0.0) lit(null).cast("double")
        else (col(c).cast("double") - med) / iqr)
    }

  /**
   * Winsorize/clip to the [loQ, hiQ] exact quantiles: the standard
   * outlier guard before scaling/association. Reuses `quantilesExact`
   * (distributed sort + rank fetch — no approx error, no one-task
   * window); the two cut values are model state (collected like p03's
   * fill means), applied as a pure clamp projection. Nulls pass
   * through unchanged (Spark's greatest/least SKIP nulls, which would
   * silently clamp a null to the low cut — hence the explicit guard).
   */
  def clipQuantiles(df: DataFrame, valueCol: String,
      loQ: Double, hiQ: Double): DataFrame = {
    require(loQ < hiQ && loQ >= 0 && hiQ <= 1,
      s"clipQuantiles: need 0 <= loQ < hiQ <= 1, got [$loQ, $hiQ]")
    val cuts = quantilesExact(df, valueCol, Seq(loQ, hiQ))
      .orderBy("q").collect().map(_.getDouble(1))
    val (lo, hi) = (cuts(0), cuts(1))
    val v = col(valueCol).cast("double")
    df.withColumn(s"${valueCol}_clipped",
      when(v.isNotNull, least(greatest(v, lit(lo)), lit(hi))))
  }

  /**
   * Quantile binning (equal-frequency discretization): cut points at
   * q = 1/k … (k−1)/k from the EXACT distributed quantile (p11
   * machinery — range-sort + rank fetch, k−1 doubles of model state
   * on the driver), then bin assignment is a pure projection
   * bin = Σ 1[v ≥ cutᵢ]. The indicator-sum form survives duplicate
   * cut values (heavily tied data just skips bins) and mirrors
   * verbatim in SQL. The standard covariate-coarsening /
   * feature-discretization step; one sort + one scan at any scale.
   */
  /**
   * Weight-of-Evidence encoding of a categorical column against a
   * binary target — the standard supervised categorical encoder for
   * scorecard/risk models (and the leakage-aware alternative to
   * one-hot at high cardinality): per level i,
   *   WoE_i = ln( ((g_i + s)/G) / ((b_i + s)/B) )
   * with g/b the target-1/target-0 counts, G/B their totals, and
   * s = 0.5 the Haldane-style empty-cell smoothing (the a04/a27
   * convention — an empty cell shifts, never infinities). The level's
   * Information-Value contribution iv_i = ((g_i+s)/G − (b_i+s)/B)·WoE_i
   * rides along (Σ iv is the feature-screening statistic). ONE
   * map-side-combined aggregate (|levels| rows at any data size) + a
   * 1-row totals broadcast — a 100 TB encode costs a single scan, and
   * the tiny (level → woe) table then broadcast-joins back onto the
   * data as the actual encoder.
   */
  def woeEncode(df: DataFrame, catCol: String, targetCol: String,
      smooth: Double = 0.5): DataFrame = {
    val t = col(targetCol)
    val cells = df.filter(t.isin(0.0, 1.0))
      .groupBy(col(catCol).as("level"))
      .agg(sum(t).as("g"), sum(lit(1.0) - t).as("b"))
      // |levels| rows over a full-table aggregate subtree: materialize
      // so the grand total reuses the cells instead of re-scanning
      .localCheckpoint(true)
    val tot = cells.agg(sum("g").as("gt"), sum("b").as("bt"))
    val pg = (col("g") + lit(smooth)) / col("gt")
    val pb = (col("b") + lit(smooth)) / col("bt")
    cells.crossJoin(broadcast(tot))
      .filter(col("gt") > 0 && col("bt") > 0)
      .select(col("level"),
        col("g").cast("long").as("n_pos"), col("b").cast("long").as("n_neg"),
        log(pg / pb).as("woe"),
        ((pg - pb) * log(pg / pb)).as("iv"))
  }

  /**
   * K-fold OUT-OF-FOLD target encoding — the leakage-controlled mean
   * encoder (a plain level mean of the target leaks each row's own
   * label into its feature; the OOF construction encodes every row
   * from the OTHER folds only, the standard CV-encoding used by
   * gradient-boosting pipelines): for level l seen from fold f,
   *   enc(l, f) = (sum_l − sum_{l,f} + m·prior_f) /
   *               (cnt_l − cnt_{l,f} + m)
   * with m the smoothing pseudo-count and prior_f the leave-fold-out
   * GLOBAL target mean (the prior itself must not leak the fold
   * either). Output is the (level, fold) encoding TABLE — bounded at
   * |levels|·k rows at any data size — which then broadcast-joins
   * back onto the data as the encoder. ONE map-side-combined
   * (level, fold) aggregate + a k-row global table; a 100 TB encode
   * is a single scan.
   */
  def targetEncodeOof(df: DataFrame, catCol: String, targetCol: String,
      foldCol: String, smoothing: Double = 20.0): DataFrame = {
    val t = col(targetCol)
    val cells = df.filter(t.isNotNull)
      .groupBy(col(catCol).as("level"), col(foldCol).as("fold"))
      .agg(sum(t).as("s"), count(lit(1)).cast("double").as("c"))
    // per-level and global totals are tiny — window over the bounded
    // cells table, then the leave-fold-out arithmetic is a projection
    val wl = Window.partitionBy("level")
    val wg = Window.partitionBy()
    val wgf = Window.partitionBy("fold")
    val enc = cells
      .withColumn("sl", sum("s").over(wl))
      .withColumn("cl", sum("c").over(wl))
      .withColumn("sg", sum("s").over(wg))
      .withColumn("cg", sum("c").over(wg))
      .withColumn("sf", sum("s").over(wgf))
      .withColumn("cf", sum("c").over(wgf))
      .withColumn("prior",
        // ANSI guard: a single-fold input has no leave-fold-out prior
        when(col("cg") > col("cf"),
          (col("sg") - col("sf")) / (col("cg") - col("cf"))))
    enc.select(col("level"), col("fold"),
      col("c").cast("long").as("n_fold"),
      (col("cl") - col("c")).cast("long").as("n_oof"),
      ((col("sl") - col("s") + lit(smoothing) * col("prior")) /
        (col("cl") - col("c") + lit(smoothing))).as("enc"))
  }

  def quantileBin(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 2, s"quantileBin: need k >= 2 bins, got $k")
    val qs = (1 until k).map(_.toDouble / k)
    val cuts = quantilesExact(df, valueCol, qs)
      .orderBy("q").collect().map(_.getDouble(1))
    val v = col(valueCol).cast("double")
    val bin = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(v >= lit(c), 1).otherwise(0)
    }
    df.withColumn(s"${valueCol}_bin", when(v.isNotNull, bin))
  }

  // ============================================================ queries

  /** p01: name + positional selection over lineitem. */
  def p01SelectIndex(spark: SparkSession, dir: String): DataFrame =
    selectColumns(Tables.lineitem(spark, dir), "l_orderkey,i:4-7,l_shipdate,i:3")
      .filter(col("l_orderkey") < 500)
      .orderBy("l_orderkey", "l_linenumber")

  /** p02: female-only filter with sex = custkey parity. */
  def p02SexFilter(spark: SparkSession, dir: String): DataFrame = {
    val withSex = Tables.customer(spark, dir)
      .withColumn("sex", (col("c_custkey") % 2).cast("double"))
    sexFilter(withSex, "sex", femaleCode = 1.0, femaleOnly = true)
      .select("c_custkey", "sex", "c_acctbal")
      .orderBy("c_custkey")
  }

  /** p03: mean-fill of a deterministically nulled covariate. */
  def p03FillMean(spark: SparkSession, dir: String): DataFrame = {
    val holey = Tables.customer(spark, dir)
      .select(col("c_custkey"),
        when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("c_acctbal"))
          .cast("double").as("acctbal"))
    fillNulls(holey, Seq("acctbal"), "mean")
      .select(col("c_custkey"), Norm.r4(col("acctbal")).as("acctbal"))
      .orderBy("c_custkey")
  }

  /** p04: forward fill of nulled event values per user in time order. */
  def p04FillForward(spark: SparkSession, dir: String): DataFrame = {
    val holey = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_id") % 11 === 0, lit(null)).otherwise(col("value"))
          .cast("double").as("value"))
    fillDirectional(holey, Seq("value"), forward = true,
      partitionBy = Seq("user_id"), orderBy = Seq("ts", "event_id"))
      .select(col("event_id"), col("user_id"), round(col("value"), 4).as("value"))
      .orderBy("event_id")
  }

  /** p05: constant-column report over part + two injected constants. */
  def p05DropConstant(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.part(spark, dir)
      .withColumn("const_num", lit(7.5))
      .withColumn("const_str", lit("A"))
    constantReport(df, Seq("p_brand", "p_size", "const_num", "const_str"))
  }

  /** p06: one-hot of the 5-level c_mktsegment, first level dropped. */
  def p06OneHot(spark: SparkSession, dir: String): DataFrame =
    oneHot(Tables.customer(spark, dir).select("c_custkey", "c_mktsegment"),
      Seq("c_mktsegment"))
      .orderBy("c_custkey")

  /** p07: z-score standardization of c_acctbal. */
  def p07ScaleStandard(spark: SparkSession, dir: String): DataFrame =
    scaleStandard(Tables.customer(spark, dir).select(
      col("c_custkey"), col("c_acctbal").cast("double").as("acctbal")),
      Seq("acctbal"))
      .select(col("c_custkey"), Norm.r4(col("acctbal")).as("acctbal"))
      .orderBy("c_custkey")

  /** p10: min-max scaling of c_acctbal to [0, 1]. */
  def p10ScaleMinmax(spark: SparkSession, dir: String): DataFrame =
    scaleMinMax(Tables.customer(spark, dir).select(
      col("c_custkey"), col("c_acctbal").cast("double").as("acctbal")),
      Seq("acctbal"))
      .select(col("c_custkey"), round(col("acctbal"), 6).as("acctbal"))
      .orderBy("c_custkey")

  /** p08: RINT of c_acctbal (DuckDB oracle via SQL Acklam qnorm). */
  def p08Rint(spark: SparkSession, dir: String): DataFrame =
    rint(Tables.customer(spark, dir), "c_acctbal", "c_custkey")
      .select(col("c_custkey"), col("rank"), Norm.r4(col("rint")).as("rint"))
      .orderBy("c_custkey")

  /** p11: exact interpolated quantiles of c_acctbal (distributed
    * rank, no single-partition window; quantile_cont semantics). */
  def p11Quantiles(spark: SparkSession, dir: String): DataFrame =
    quantilesExact(Tables.customer(spark, dir).select(
      col("c_acctbal").cast("double").as("acctbal")), "acctbal",
      Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99))
      .select(col("q"), Norm.r4(col("value")).as("value"))
      .orderBy("q")

  /** p13: robust-scale c_acctbal by median/IQR. */
  def p13ScaleRobust(spark: SparkSession, dir: String): DataFrame =
    scaleRobust(Tables.customer(spark, dir).select(
      col("c_custkey"), col("c_acctbal").cast("double").as("acctbal")),
      Seq("acctbal"))
      .select(col("c_custkey"), Norm.r4(col("acctbal")).as("acctbal"))
      .orderBy("c_custkey")

  /** p15: quartile binning of c_acctbal (k = 4 equal-frequency bins). */
  def p15QuantileBin(spark: SparkSession, dir: String): DataFrame =
    quantileBin(Tables.customer(spark, dir).select(
      col("c_custkey"), col("c_acctbal").cast("double").as("acctbal")),
      "acctbal", 4)
      .select(col("c_custkey"), col("acctbal"), col("acctbal_bin"))
      .orderBy("c_custkey")

  /**
   * p22: CALENDAR FEATURE EXTRACTION — the date-column feature
   * engineering every tabular pipeline front-loads (seasonality,
   * weekday effects, monotone time index): year/quarter/month/
   * day-of-month, ISO weekday (0 = Monday — `weekday` in Spark,
   * isodow−1 in DuckDB; the engines' default `dayofweek` anchors
   * DISAGREE, so the ISO form is the only mirror-safe one), weekend
   * flag, and days-since-epoch. Pure per-row projection — pushes to
   * the scan, no shuffle but the output sort.
   */
  def p22DateFeatures(spark: SparkSession, dir: String): DataFrame = {
    val d = to_date(col("o_orderdate"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        date_format(d, "yyyy-MM-dd").as("order_date"),
        year(d).as("yr"), quarter(d).as("qtr"), month(d).as("mth"),
        dayofmonth(d).as("dom"),
        expr("weekday(to_date(o_orderdate))").as("dow"),
        (expr("weekday(to_date(o_orderdate))") >= 5).as("is_weekend"),
        datediff(d, lit("1970-01-01").cast("date")).as("epoch_day"))
      .orderBy("o_orderkey")
  }

  /**
   * Restricted cubic spline (natural spline) basis — Harrell's rcs:
   * the standard way to let a continuous covariate enter a model
   * (a02/a25's adjusters, a42's risk score) NON-linearly without
   * polynomial blow-up. K=4 knots at data quantiles; for j = 1..K−2
   *   b_j(x) = [ (x−t_j)₊³ − (x−t_{K−1})₊³·(t_K−t_j)/(t_K−t_{K−1})
   *              + (x−t_K)₊³·(t_{K−1}−t_j)/(t_K−t_{K−1}) ] / (t_K−t_1)²
   * which is linear beyond the boundary knots by construction (the
   * spec pins a zero second difference in the tails). Knots are 4
   * collected doubles (type-7, ≡ DuckDB quantile_cont — the p15
   * proof); everything else is a per-row projection that pushes to
   * the scan, so a 100 TB basis expansion costs one quantile pass +
   * one streaming map. The coefficient ratios are driver-side
   * doubles; the oracle derives the SAME doubles from its own
   * quantile_cont knots, and every downstream op is the identical
   * IEEE expression.
   */
  def rcsBasis(df: DataFrame, valueCol: String,
      probs: Seq[Double] = Seq(0.05, 0.35, 0.65, 0.95)): DataFrame = {
    require(probs.size == 4 && probs == probs.sorted,
      s"rcsBasis: need 4 ascending knot probs, got $probs")
    val ks = quantilesExact(df, valueCol, probs)
      .orderBy("q").collect().map(_.getDouble(1))
    val Array(t1, t2, t3, t4) = ks
    require(t4 > t3 && t3 > t1,
      s"rcsBasis: degenerate knots ${ks.toSeq} — need spread data")
    val x = col(valueCol)
    def cubePlus(t: Double): Column = {
      val d = greatest(x - lit(t), lit(0.0)); d * d * d
    }
    val nrm = (t4 - t1) * (t4 - t1)
    def basis(tj: Double): Column =
      (cubePlus(tj) - cubePlus(t3) * lit((t4 - tj) / (t4 - t3))
        + cubePlus(t4) * lit((t3 - tj) / (t4 - t3))) / lit(nrm)
    df.withColumn("rcs2", basis(t1)).withColumn("rcs3", basis(t2))
  }

  /** p23: K=4 natural-spline basis over customer balance. */
  def p23SplineBasis(spark: SparkSession, dir: String): DataFrame =
    rcsBasis(Tables.customer(spark, dir).select(
        col("c_custkey"), col("c_acctbal").cast("double").as("x")), "x")
      .select(col("c_custkey"), Norm.r4(col("x")).as("x"),
        Norm.r4(col("rcs2")).as("rcs2"), Norm.r4(col("rcs3")).as("rcs3"))
      .orderBy("c_custkey")

  /** p19: WoE encoding of market segment against a positive-balance
    * target — one aggregate scan, per-level woe + IV contribution. */
  def p19Woe(spark: SparkSession, dir: String): DataFrame =
    woeEncode(Tables.customer(spark, dir).select(
        col("c_mktsegment").as("seg"),
        when(col("c_acctbal") > 0, 1.0).otherwise(0.0).as("y")),
      "seg", "y")
      .select(col("level"), col("n_pos"), col("n_neg"),
        Norm.r4(col("woe")).as("woe"), round(col("iv"), 6).as("iv"))
      .orderBy("level")

  /** p20: 5-fold OOF target encoding of market segment against the
    * positive-balance target, folds = c_custkey mod 5. */
  def p20TargetEncode(spark: SparkSession, dir: String): DataFrame =
    targetEncodeOof(Tables.customer(spark, dir).select(
        col("c_mktsegment").as("seg"),
        when(col("c_acctbal") > 0, 1.0).otherwise(0.0).as("y"),
        (col("c_custkey") % 5).cast("int").as("fold")),
      "seg", "y", "fold")
      .select(col("level"), col("fold"), col("n_fold"), col("n_oof"),
        round(col("enc"), 6).as("enc"))
      .orderBy("level", "fold")

  /** p12: winsorize c_acctbal at the exact [5%, 95%] quantiles. */
  def p12Clip(spark: SparkSession, dir: String): DataFrame =
    clipQuantiles(Tables.customer(spark, dir).select(
      col("c_custkey"), col("c_acctbal").cast("double").as("acctbal")),
      "acctbal", 0.05, 0.95)
      .select(col("c_custkey"), Norm.r4(col("acctbal_clipped")).as("acctbal_clipped"))
      .orderBy("c_custkey")

  /**
   * Pairwise covariate correlation in long form — the collinearity
   * pre-check before any multi-covariate fit (a near-±1 pair makes
   * the Gram solve ill-conditioned and the per-pair constant-drop
   * can't catch it). ONE aggregation pass computes every pairwise
   * Pearson r via the built-in co-moment aggregate (k²/2 columns
   * from one scan, map-side combined), then unpivots — no per-pair
   * scans, no shuffle beyond the single aggregate.
   */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"corrMatrix: need >= 2 columns, got $cols")
    // alias by PAIR INDEX, not by name — names containing "__" or
    // dots would collide or break col() resolution
    val pairs = for { i <- cols.indices; j <- i + 1 until cols.size }
      yield (i, j)
    val aggs = pairs.map { case (i, j) =>
      corr(col(cols(i)).cast("double"), col(cols(j)).cast("double")).as(s"__c_${i}_$j") }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs.map { case (i, j) =>
        struct(lit(cols(i)).as("col1"), lit(cols(j)).as("col2"),
          col(s"__c_${i}_$j").as("r")) }: _*)).as("s"))
      .select(col("s.col1"), col("s.col2"), Norm.r4(col("s.r")).as("r"))
  }

  /** Half-away-from-zero to the 1e-6 grid, as Spark's and DuckDB's
    * `round(x, 6)` — the fixed-point-oracle rule, so driver-side steps
    * land on the doubles the oracle's `round` gives. */
  private[operators] def q6(x: Double): Double =
    (if (x >= 0) math.floor(x * 1e6 + 0.5) else math.ceil(x * 1e6 - 0.5)) / 1e6

  /** The k×k correlation matrix of `cols` from one `corr` aggregate:
    * unit diagonal, every other entry on the [[q6]] grid. A correlation
    * that is undefined (a constant column or < 2 complete rows) or NaN
    * would poison every entry downstream, so it fails naming the pair. */
  private def corrQ6(df: DataFrame, cols: Seq[String], who: String): Array[Array[Double]] = {
    val pairs = for { i <- cols.indices; j <- i + 1 until cols.size } yield (i, j)
    def x(i: Int) = col(cols(i)).cast("double")
    def agg(cs: Seq[Column]) = df.agg(cs.head, cs.tail: _*).head()
    def fail(p: Int, what: String) = new IllegalArgumentException(
      s"$who: corr(${cols(pairs(p)._1)}, ${cols(pairs(p)._2)}) is $what — drop or fix the column first")
    val undefined = "undefined (a constant column or < 2 complete rows)"
    val row = try agg(pairs.map { case (i, j) => corr(x(i), x(j)) }) catch {
      // under ANSI mode corr divides by a constant column's zero
      // variance instead of giving null: find the pair by its variances
      case e: ArithmeticException =>
        val v = agg(pairs.flatMap { case (i, j) =>
          val both = x(i).isNotNull && x(j).isNotNull
          Seq(var_pop(when(both, x(i))), var_pop(when(both, x(j))))
        })
        throw pairs.indices.find(p => Seq(2 * p, 2 * p + 1).exists(k => v.isNullAt(k) || v.getDouble(k) == 0))
          .map(fail(_, undefined)).getOrElse(e)
    }
    val r = Array.tabulate(cols.size, cols.size)((i, j) => if (i == j) 1.0 else 0.0)
    pairs.zipWithIndex.foreach { case ((i, j), p) =>
      if (row.isNullAt(p)) throw fail(p, undefined)
      if (row.getDouble(p).isNaN) throw fail(p, "NaN")
      val c = q6(row.getDouble(p)); r(i)(j) = c; r(j)(i) = c
    }
    r
  }

  /**
   * Variance inflation factors — the multicollinearity screen run
   * before association (a near-collinear covariate silently inflates
   * every fit's se): VIF_i = diag(R⁻¹)_i with R the covariate
   * correlation matrix. ONE pairwise-corr aggregation pass reduces
   * the frame to k(k−1)/2 doubles (model state, never rows), the k×k
   * inverse runs driver-side, k rows come out — the p17 altitude
   * with a tiny solve on top. Correlations are quantized to the 1e-6
   * grid (half-away-from-zero — the fixed-point-oracle rule) before
   * inverting, so engine and oracle invert IDENTICAL inputs and the
   * 4-dp hash can't drift on an engine ulp.
   */
  def vif(df: DataFrame, cols: Seq[String], maxCols: Int = 100): DataFrame = {
    require(cols.size >= 2, s"vif: need >= 2 columns, got $cols")
    // the k×k inverse runs DRIVER-side: fine at covariate count but
    // not unbounded — past ~100 columns use corrMatrix (p17) to screen
    // near-collinear pairs distributively before inverting
    require(cols.size <= maxCols,
      s"vif: ${cols.size} columns exceeds maxCols=$maxCols (driver-side k×k inverse); " +
        "screen with corrMatrix first or raise maxCols explicitly")
    val spark = df.sparkSession
    import spark.implicits._
    val r = corrQ6(df, cols, "vif")
    val inv = breeze.linalg.inv(breeze.linalg.DenseMatrix.tabulate(r.length, r.length)(r(_)(_)))
    cols.zipWithIndex.map { case (c, i) => (c, inv(i, i)) }
      .toDF("covariate", "vif")
      .select(col("covariate"), Norm.r4(col("vif")).as("vif"))
  }

  /**
   * Fixed-order Gauss–Jordan inverse of the quantized correlation
   * matrix — the k-general VIF path whose ARITHMETIC the oracle can
   * mirror operand-for-operand (r14 verdict item 7: p18's breeze/
   * LAPACK inverse is only oracled at k=3 via the Cramer cofactor
   * mirror; this replaces the library inverse with an elimination
   * whose every divide/multiply/subtract the generated SQL replays in
   * the same order, so the quantize-before-invert rule is confirmed
   * at ANY k, not just where a closed cofactor form exists).
   * No pivoting: R has a unit diagonal and the quantize step bounds
   * |r| ≤ 1, so leading pivots stay away from zero for any
   * non-collinear design; a vanishing pivot (collinearity) errors
   * rather than silently emitting garbage.
   */
  private[operators] def gaussJordanInv(r0: Array[Array[Double]]): Array[Array[Double]] = {
    val k = r0.length
    val m = Array.tabulate(k, 2 * k) { (i, j) =>
      if (j < k) r0(i)(j) else if (j - k == i) 1.0 else 0.0
    }
    var p = 0
    while (p < k) {
      val piv = m(p)(p)
      require(math.abs(piv) > 1e-9,
        s"gaussJordanInv: pivot $p vanished (|$piv| <= 1e-9) — collinear design")
      var j = 0
      while (j < 2 * k) { m(p)(j) = m(p)(j) / piv; j += 1 }
      var i = 0
      while (i < k) {
        if (i != p) {
          val f = m(i)(p)
          var j2 = 0
          while (j2 < 2 * k) { m(i)(j2) = m(i)(j2) - f * m(p)(j2); j2 += 1 }
        }
        i += 1
      }
      p += 1
    }
    m.map(_.drop(k))
  }

  /** [[vif]] with the breeze inverse swapped for [[gaussJordanInv]] —
    * identical 1e-6-quantized correlation inputs, an elimination the
    * oracle replays exactly; spec-pinned equal to the LAPACK path. */
  def vifGauss(df: DataFrame, cols: Seq[String], maxCols: Int = 100): DataFrame = {
    require(cols.size >= 2, s"vifGauss: need >= 2 columns, got $cols")
    require(cols.size <= maxCols,
      s"vifGauss: ${cols.size} columns exceeds maxCols=$maxCols (driver-side k×k inverse)")
    val spark = df.sparkSession
    import spark.implicits._
    val inv = gaussJordanInv(corrQ6(df, cols, "vifGauss"))
    cols.zipWithIndex.map { case (c, i) => (c, inv(i)(i)) }
      .toDF("covariate", "vif")
      .select(col("covariate"), Norm.r4(col("vif")).as("vif"))
  }

  /** p21: k = 5 VIFs over the customer numerics plus two DERIVED,
    * deliberately-correlated covariates (nk7 tracks nationkey, bal11
    * tracks acctbal — so the inverse is materially non-diagonal and
    * the elimination is exercised off the k=3 cofactor boundary). */
  def p21Vif5(spark: SparkSession, dir: String): DataFrame =
    vifGauss(Tables.customer(spark, dir).select(
        col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        (col("c_nationkey") + col("c_custkey") % 7).as("nk7"),
        (col("c_acctbal") + lit(200) * (col("c_custkey") % 11)).as("bal11")),
      Seq("c_custkey", "c_nationkey", "c_acctbal", "nk7", "bal11"))
      .orderBy("covariate")

  /**
   * Top principal component of a covariate block — the population-
   * structure step a PheWAS pipeline runs BEFORE association (top
   * PCs join the model as covariates; reference pipelines take them
   * as given input columns, this computes them). Correlation-matrix
   * PCA (scale-free across heterogeneous covariates) by POWER
   * ITERATION on the 1e-6-quantized correlation matrix:
   *
   *  - the only data-touching step is the one corr aggregation scan
   *    (map-side combined, O(k²) accumulators — the p17/p21 shape;
   *    at 100 TB the scan is the whole cost);
   *  - the k×k iteration runs driver-side on the QUANTIZED matrix,
   *    every operand in a fixed fold order, each iterate re-quantized
   *    to the 1e-6 grid — so the DuckDB oracle replays all `iters`
   *    iterations as unrolled CTEs and lands on identical doubles
   *    (the n03/s18 fixed-point-grid convention). A fixed iteration
   *    count (no convergence test) keeps the mirror exact whether or
   *    not the eigen-gap has converged the direction.
   *
   * Sign convention: loading of the first column non-negative.
   * Output: per-covariate loading, the eigenvalue of the correlation
   * matrix, and explained variance fraction (eigenvalue / k).
   */
  def pcaTop(df: DataFrame, cols: Seq[String], iters: Int = 30): DataFrame = {
    require(cols.size >= 2, s"pcaTop: need >= 2 columns, got $cols")
    require(iters >= 1 && iters <= 100, s"pcaTop: iters in [1,100], got $iters")
    val spark = df.sparkSession
    import spark.implicits._
    val k = cols.size
    val r = corrQ6(df, cols, "pcaTop")
    def mul(v: Array[Double]): Array[Double] = Array.tabulate(k) { i =>
      var s = 0.0; var j = 0
      while (j < k) { s += r(i)(j) * v(j); j += 1 }
      s
    }
    var v = Array.fill(k)(q6(1.0 / math.sqrt(k.toDouble)))
    for (_ <- 1 to iters) {
      val w = mul(v)
      var n2 = 0.0; var i = 0
      while (i < k) { n2 += w(i) * w(i); i += 1 }
      val nrm = math.sqrt(n2)
      v = w.map(x => q6(x / nrm))
    }
    val u = mul(v)
    var lam = 0.0; var i = 0
    while (i < k) { lam += v(i) * u(i); i += 1 }
    val lamQ = q6(lam)
    val sgn = if (v(0) < 0) -1.0 else 1.0
    cols.zipWithIndex.map { case (c, ix) => (c, sgn * v(ix), lamQ, lamQ / k) }
      .toDF("covariate", "loading", "eigenvalue", "explained_frac")
      .select(col("covariate"), Norm.r4(col("loading")).as("loading"),
        Norm.r4(col("eigenvalue")).as("eigenvalue"),
        Norm.r4(col("explained_frac")).as("explained_frac"))
  }

  /** p24: top correlation-PC of the p21 covariate block (three
    * customer numerics + two derived collinear columns — a real
    * dominant direction for the loadings to find). */
  def p24PcaTop(spark: SparkSession, dir: String): DataFrame =
    pcaTop(Tables.customer(spark, dir).select(
        col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        (col("c_nationkey") + col("c_custkey") % 7).as("nk7"),
        (col("c_acctbal") + lit(200) * (col("c_custkey") % 11)).as("bal11")),
      Seq("c_custkey", "c_nationkey", "c_acctbal", "nk7", "bal11"))
      .orderBy("covariate")

  /** p18: VIFs of the customer numeric columns. */
  def p18Vif(spark: SparkSession, dir: String): DataFrame =
    vif(Tables.customer(spark, dir),
      Seq("c_custkey", "c_nationkey", "c_acctbal"))
      .orderBy("covariate")

  /** p17: correlation of the customer numeric columns. */
  def p17CorrMatrix(spark: SparkSession, dir: String): DataFrame =
    corrMatrix(Tables.customer(spark, dir),
      Seq("c_custkey", "c_nationkey", "c_acctbal"))
      .orderBy("col1", "col2")

  /** p16: Yeo–Johnson at λ=0.5 over account balances — a column with
    * real negatives, so both sign branches execute. */
  def p16YeoJohnson(spark: SparkSession, dir: String): DataFrame =
    yeoJohnson(Tables.customer(spark, dir).select(
      col("c_custkey"), col("c_acctbal").cast("double").as("acctbal_yj")),
      Seq("acctbal_yj"), lambda = 0.5)
      .select(col("c_custkey"), Norm.r4(col("acctbal_yj")).as("acctbal_yj"))
      .orderBy("c_custkey")

  /** p09: natural-log transform of p_retailprice. */
  def p09LogTransform(spark: SparkSession, dir: String): DataFrame =
    logTransform(Tables.part(spark, dir).select(
      col("p_partkey"), col("p_retailprice").cast("double").as("price")),
      Seq("price"))
      .select(col("p_partkey"), round(col("price"), 4).as("price"))
      .orderBy("p_partkey")

  // --------------------------------------------------------- oracle SQL

  /** p24 oracle generator: [[pcaTop]]'s power iteration unrolled as
    * one CTE per iteration over the SAME 1e-6-quantized correlation
    * matrix — each CTE computes w = R·v in the kernel's ascending-j
    * fold order, the norm as the same left-assoc square sum, and
    * re-quantizes v = round(w/norm, 6); a fixed iteration count makes
    * the mirror exact whether or not the direction has converged. */
  private def pcaTopSql(names: Seq[String], exprs: Seq[String], iters: Int): String = {
    val k = names.size
    val pairs = for { i <- 0 until k; j <- i + 1 until k } yield (i, j)
    val corrs = pairs.map { case (i, j) =>
      s"round(corr(CAST(${exprs(i)} AS DOUBLE), CAST(${exprs(j)} AS DOUBLE)), 6) AS r${i}_$j"
    }.mkString(",\n    ")
    def rcell(i: Int, j: Int): String =
      if (i == j) "1.0" else if (i < j) s"r${i}_$j" else s"r${j}_$i"
    val v0lit = {
      val x = 1.0 / math.sqrt(k.toDouble)
      java.math.BigDecimal.valueOf(math.floor(x * 1e6 + 0.5) / 1e6).toPlainString
    }
    val rlist = pairs.map { case (i, j) => s"r${i}_$j" }.mkString(", ")
    val v0 = (0 until k).map(i => s"$v0lit AS v$i").mkString(", ")
    def rv(i: Int): String =
      (0 until k).map(j => s"${rcell(i, j)} * v$j").mkString(" + ")
    val steps = (1 to iters).map { it =>
      val ws = (0 until k).map(i => s"(${rv(i)}) AS w$i").mkString(",\n    ")
      val nrm = s"sqrt(${(0 until k).map(i => s"w$i * w$i").mkString(" + ")})"
      val vs = (0 until k).map(i => s"round(w$i / $nrm, 6) AS v$i").mkString(",\n    ")
      s"""p$it AS (
         |  SELECT $rlist, $vs FROM (
         |    SELECT $rlist,
         |    $ws FROM p${it - 1}
         |  )
         |)""".stripMargin
    }.mkString(", ")
    val lam = s"round(${(0 until k).map(i => s"v$i * (${rv(i)})").mkString(" + ")}, 6)"
    val out = names.zipWithIndex.map { case (n, i) =>
      s"SELECT '$n' AS covariate, sgn * v$i AS loading, lam, lam / $k AS ef FROM fin"
    }.mkString("\n  UNION ALL ")
    s"""WITH c AS (
       |  SELECT
       |    $corrs
       |  FROM customer
       |), p0 AS (
       |  SELECT $rlist, $v0 FROM c
       |), $steps, fin AS (
       |  SELECT ${(0 until k).map(i => s"v$i").mkString(", ")}, $lam AS lam,
       |    CASE WHEN v0 < 0 THEN -1.0 ELSE 1.0 END AS sgn
       |  FROM p$iters
       |)
       |SELECT covariate, round(loading, 4) + 0 AS loading,
       |  round(lam, 4) + 0 AS eigenvalue, round(ef, 4) + 0 AS explained_frac
       |FROM (
       |  $out
       |) ORDER BY covariate""".stripMargin
  }

  /** p21 oracle generator: [[gaussJordanInv]] unrolled as one CTE per
    * pivot over the augmented [R | I] cells (m{i}_{j} columns), every
    * operand in the kernel's order — row p normalizes as
    * m_p_j / m_p_p, row i≠p eliminates as m_i_j − m_i_p·(m_p_j/m_p_p)
    * — then diag(R⁻¹) reads off columns m{i}_{k+i}. */
  private def vifGaussSql(names: Seq[String], exprs: Seq[String]): String = {
    val k = names.size
    val pairs = for { i <- 0 until k; j <- i + 1 until k } yield (i, j)
    val corrs = pairs.map { case (i, j) =>
      s"round(corr(CAST(${exprs(i)} AS DOUBLE), CAST(${exprs(j)} AS DOUBLE)), 6) AS r${i}_$j"
    }.mkString(",\n    ")
    def cell0(i: Int, j: Int): String =
      if (j < k) { if (i == j) "1.0" else if (i < j) s"r${i}_$j" else s"r${j}_$i" }
      else if (j - k == i) "1.0" else "0.0"
    val m0 = (for { i <- 0 until k; j <- 0 until 2 * k }
      yield s"${cell0(i, j)} AS m${i}_$j").mkString(",\n    ")
    val pivots = (0 until k).map { p =>
      val cells = (for { i <- 0 until k; j <- 0 until 2 * k } yield {
        val e =
          if (i == p) s"m${p}_$j / m${p}_$p"
          else s"m${i}_$j - m${i}_$p * (m${p}_$j / m${p}_$p)"
        s"$e AS m${i}_$j"
      }).mkString(",\n    ")
      s"""g${p + 1} AS (
         |  SELECT
         |    $cells
         |  FROM g$p
         |)""".stripMargin
    }.mkString(", ")
    val out = names.zipWithIndex.map { case (n, i) =>
      s"SELECT '$n' AS covariate, m${i}_${k + i} AS vif FROM g$k"
    }.mkString("\n  UNION ALL ")
    s"""WITH c AS (
       |  SELECT
       |    $corrs
       |  FROM customer
       |), g0 AS (
       |  SELECT
       |    $m0
       |  FROM c
       |), $pivots
       |SELECT covariate, round(vif, 4) + 0 AS vif FROM (
       |  $out
       |) ORDER BY covariate""".stripMargin
  }

  /**
   * Acklam's rational approximation of the standard normal quantile as
   * plain SQL (same branch structure and constants as Numerics.qnorm,
   * MINUS the final Halley refinement — DuckDB has no erf to express
   * it). Residual ≤ 1.15e-9 absolute vs the refined value; with 4-dp
   * rounding that matches the Scala side unless a value sits within
   * ~1e-9 of a rounding boundary — verified empirically hash-identical
   * on the (fixed, deterministic) test data, which is what the gate
   * replays.
   */
  private[operators] def qnormSql(p: String): String = {
    val central =
      s"""((((((-3.969683028665376e+01 * R + 2.209460984245205e+02) * R
         |  + -2.759285104469687e+02) * R + 1.383577518672690e+02) * R
         |  + -3.066479806614716e+01) * R + 2.506628277459239e+00) * Q
         | / ((((( -5.447609879822406e+01 * R + 1.615858368580409e+02) * R
         |  + -1.556989798598866e+02) * R + 6.680131188771972e+01) * R
         |  + -1.328068155288572e+01) * R + 1.0))"""
        .stripMargin.replace("\n", " ")
        .replace("Q", s"(($p) - 0.5)").replace("R", s"((($p) - 0.5) * (($p) - 0.5))")
    def tail(q: String) =
      s"""((((((-7.784894002430293e-03 * Q + -3.223964580411365e-01) * Q
         |  + -2.400758277161838e+00) * Q + -2.549732539343734e+00) * Q
         |  + 4.374664141464968e+00) * Q + 2.938163982698783e+00)
         | / ((((7.784695709041462e-03 * Q + 3.224671290700398e-01) * Q
         |  + 2.445134137142996e+00) * Q + 3.754408661907416e+00) * Q + 1.0))"""
        .stripMargin.replace("\n", " ").replace("Q", q)
    val qLow = s"sqrt(-2.0 * ln($p))"
    val qHigh = s"sqrt(-2.0 * ln(1.0 - ($p)))"
    s"""(CASE WHEN ($p) < 0.02425 THEN ${tail(qLow)}
       | WHEN ($p) <= 0.97575 THEN $central
       | ELSE -${tail(qHigh)} END)""".stripMargin.replace("\n", " ")
  }

  val oracleSql: Map[String, String] = Map(
    "p08_rint" ->
      s"""WITH src AS (
         |  SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS v FROM customer
         |  WHERE c_acctbal IS NOT NULL
         |), nn AS (SELECT count(*) AS n FROM src),
         |r AS (
         |  SELECT c_custkey, row_number() OVER (ORDER BY v, c_custkey) AS rank
         |  FROM src
         |)
         |SELECT c_custkey, rank,
         |  round(${qnormSql("(rank - 0.375) / (nn.n + 0.25)")}, 4) + 0 AS rint
         |FROM r, nn ORDER BY c_custkey""".stripMargin,
    "p11_quantiles" ->
      """WITH src AS (SELECT c_acctbal FROM customer WHERE c_acctbal IS NOT NULL)
        |SELECT CAST(0.01 AS DOUBLE) AS q, round(quantile_cont(c_acctbal, 0.01), 4) + 0 AS value FROM src
        |UNION ALL
        |SELECT CAST(0.1 AS DOUBLE) AS q, round(quantile_cont(c_acctbal, 0.1), 4) + 0 AS value FROM src
        |UNION ALL
        |SELECT CAST(0.25 AS DOUBLE) AS q, round(quantile_cont(c_acctbal, 0.25), 4) + 0 AS value FROM src
        |UNION ALL
        |SELECT CAST(0.5 AS DOUBLE) AS q, round(quantile_cont(c_acctbal, 0.5), 4) + 0 AS value FROM src
        |UNION ALL
        |SELECT CAST(0.75 AS DOUBLE) AS q, round(quantile_cont(c_acctbal, 0.75), 4) + 0 AS value FROM src
        |UNION ALL
        |SELECT CAST(0.9 AS DOUBLE) AS q, round(quantile_cont(c_acctbal, 0.9), 4) + 0 AS value FROM src
        |UNION ALL
        |SELECT CAST(0.99 AS DOUBLE) AS q, round(quantile_cont(c_acctbal, 0.99), 4) + 0 AS value FROM src
        |ORDER BY q""".stripMargin,
    "p14_missingness" ->
      """WITH holey AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE CAST(c_acctbal AS DOUBLE) END AS acctbal,
        |    CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE CAST(c_nationkey AS DOUBLE) END AS nation,
        |    c_mktsegment
        |  FROM customer
        |), s AS (
        |  SELECT 'acctbal' AS "column", count(*) AS n,
        |    sum(CASE WHEN acctbal IS NULL THEN 1 ELSE 0 END) AS n_null FROM holey
        |  UNION ALL
        |  SELECT 'nation', count(*), sum(CASE WHEN nation IS NULL THEN 1 ELSE 0 END) FROM holey
        |  UNION ALL
        |  SELECT 'c_mktsegment', count(*), sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) FROM holey
        |)
        |SELECT "column", n, CAST(n_null AS BIGINT) AS n_null,
        |  round(n_null * 1.0 / n, 4) AS frac_null
        |FROM s ORDER BY "column"""".stripMargin,
    "p13_scale_robust" ->
      """WITH cuts AS (
        |  SELECT quantile_cont(CAST(c_acctbal AS DOUBLE), 0.25) AS q1,
        |         quantile_cont(CAST(c_acctbal AS DOUBLE), 0.5) AS med,
        |         quantile_cont(CAST(c_acctbal AS DOUBLE), 0.75) AS q3
        |  FROM customer WHERE c_acctbal IS NOT NULL
        |)
        |SELECT c_custkey,
        |  round((CAST(c_acctbal AS DOUBLE) - med) / (q3 - q1), 4) + 0 AS acctbal
        |FROM customer, cuts ORDER BY c_custkey""".stripMargin,
    // p22: ISO weekday (isodow-1) is the only anchor both engines
    // agree on; INT casts match Spark's year/quarter/... Int outputs
    "p22_date_features" ->
      """SELECT o_orderkey,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
        |  CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr,
        |  CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS qtr,
        |  CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS mth,
        |  CAST(day(CAST(o_orderdate AS DATE)) AS INT) AS dom,
        |  CAST(isodow(CAST(o_orderdate AS DATE)) - 1 AS INT) AS dow,
        |  (isodow(CAST(o_orderdate AS DATE)) - 1) >= 5 AS is_weekend,
        |  CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT)
        |    AS epoch_day
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // p23: quantile_cont knots (type-7 ≡ quantilesExact), then the
    // identical truncated-cube arithmetic; the coefficient ratios are
    // the same double divisions of the same knot values
    "p23_spline_basis" ->
      """WITH c AS (
        |  SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS x FROM customer
        |), k AS (
        |  SELECT quantile_cont(x, 0.05) AS t1, quantile_cont(x, 0.35) AS t2,
        |         quantile_cont(x, 0.65) AS t3, quantile_cont(x, 0.95) AS t4
        |  FROM c WHERE x IS NOT NULL
        |), b AS (
        |  SELECT c_custkey, x,
        |    greatest(x - t1, 0.0) AS d1, greatest(x - t2, 0.0) AS d2,
        |    greatest(x - t3, 0.0) AS d3, greatest(x - t4, 0.0) AS d4,
        |    (t4 - t1) * (t4 - t1) AS nrm,
        |    (t4 - t1) / (t4 - t3) AS a1, (t3 - t1) / (t4 - t3) AS b1,
        |    (t4 - t2) / (t4 - t3) AS a2, (t3 - t2) / (t4 - t3) AS b2
        |  FROM c, k
        |)
        |SELECT c_custkey, round(x, 4) + 0 AS x,
        |  round((d1*d1*d1 - d3*d3*d3 * a1 + d4*d4*d4 * b1) / nrm, 4) + 0 AS rcs2,
        |  round((d2*d2*d2 - d3*d3*d3 * a2 + d4*d4*d4 * b2) / nrm, 4) + 0 AS rcs3
        |FROM b ORDER BY c_custkey""".stripMargin,
    "p15_quantile_bin" ->
      """WITH cuts AS (
        |  SELECT quantile_cont(CAST(c_acctbal AS DOUBLE), 0.25) AS c1,
        |         quantile_cont(CAST(c_acctbal AS DOUBLE), 0.50) AS c2,
        |         quantile_cont(CAST(c_acctbal AS DOUBLE), 0.75) AS c3
        |  FROM customer WHERE c_acctbal IS NOT NULL
        |)
        |SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS acctbal,
        |  CASE WHEN c_acctbal IS NULL THEN NULL ELSE
        |    (CASE WHEN c_acctbal >= c1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN c_acctbal >= c2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN c_acctbal >= c3 THEN 1 ELSE 0 END) END AS acctbal_bin
        |FROM customer, cuts ORDER BY c_custkey""".stripMargin,
    "p20_target_encode" ->
      """WITH cells AS (
        |  SELECT c_mktsegment AS level, CAST(c_custkey % 5 AS INT) AS fold,
        |    sum(CASE WHEN c_acctbal > 0 THEN 1.0 ELSE 0.0 END) AS s,
        |    CAST(count(*) AS DOUBLE) AS c
        |  FROM customer GROUP BY 1, 2
        |), win AS (
        |  SELECT level, fold, s, c,
        |    sum(s) OVER (PARTITION BY level) AS sl,
        |    sum(c) OVER (PARTITION BY level) AS cl,
        |    sum(s) OVER () AS sg,
        |    sum(c) OVER () AS cg,
        |    sum(s) OVER (PARTITION BY fold) AS sf,
        |    sum(c) OVER (PARTITION BY fold) AS cf
        |  FROM cells
        |)
        |SELECT level, fold,
        |  CAST(c AS BIGINT) AS n_fold,
        |  CAST(cl - c AS BIGINT) AS n_oof,
        |  round((sl - s + 20.0 * (CASE WHEN cg > cf
        |      THEN (sg - sf) / (cg - cf) END))
        |    / (cl - c + 20.0), 6) + 0 AS enc
        |FROM win ORDER BY level, fold""".stripMargin,
    "p19_woe" ->
      """WITH cells AS (
        |  SELECT c_mktsegment AS level,
        |    sum(CASE WHEN c_acctbal > 0 THEN 1.0 ELSE 0.0 END) AS g,
        |    sum(CASE WHEN c_acctbal > 0 THEN 0.0 ELSE 1.0 END) AS b
        |  FROM customer GROUP BY 1
        |), tot AS (
        |  SELECT sum(g) AS gt, sum(b) AS bt FROM cells
        |)
        |SELECT level, CAST(g AS BIGINT) AS n_pos, CAST(b AS BIGINT) AS n_neg,
        |  round(ln(((g + 0.5) / gt) / ((b + 0.5) / bt)), 4) + 0 AS woe,
        |  round((((g + 0.5) / gt) - ((b + 0.5) / bt))
        |    * ln(((g + 0.5) / gt) / ((b + 0.5) / bt)), 6) + 0 AS iv
        |FROM cells, tot ORDER BY level""".stripMargin,
    "p12_clip" ->
      """WITH cuts AS (
        |  SELECT quantile_cont(CAST(c_acctbal AS DOUBLE), 0.05) AS lo,
        |         quantile_cont(CAST(c_acctbal AS DOUBLE), 0.95) AS hi
        |  FROM customer WHERE c_acctbal IS NOT NULL
        |)
        |SELECT c_custkey,
        |  round(CASE WHEN c_acctbal < lo THEN lo
        |    WHEN c_acctbal > hi THEN hi
        |    ELSE CAST(c_acctbal AS DOUBLE) END, 4) + 0 AS acctbal_clipped
        |FROM customer, cuts ORDER BY c_custkey""".stripMargin,
    "p01_select_index" ->
      """SELECT l_orderkey, l_quantity, l_extendedprice, l_discount, l_shipdate, l_linenumber
        |FROM lineitem WHERE l_orderkey < 500 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "p02_sex_filter" ->
      """SELECT c_custkey, CAST(c_custkey % 2 AS DOUBLE) AS sex, c_acctbal
        |FROM customer WHERE c_custkey % 2 = 1 ORDER BY c_custkey""".stripMargin,
    "p03_fill_mean" ->
      """WITH h AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal END AS acctbal
        |  FROM customer
        |), m AS (SELECT avg(acctbal) AS fill FROM h)
        |SELECT c_custkey, round(coalesce(acctbal, fill), 4) AS acctbal
        |FROM h, m ORDER BY c_custkey""".stripMargin,
    "p04_fill_forward" ->
      """WITH h AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS value
        |  FROM events
        |)
        |SELECT event_id, user_id,
        |  round(last_value(value IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING), 4) AS value
        |FROM h ORDER BY event_id""".stripMargin,
    "p05_drop_constant" ->
      """SELECT 'const_num' AS col_name, count(DISTINCT 7.5) AS n_unique, count(DISTINCT 7.5) <= 1 AS dropped FROM part
        |UNION ALL
        |SELECT 'const_str', count(DISTINCT 'A'), count(DISTINCT 'A') <= 1 FROM part
        |UNION ALL
        |SELECT 'p_brand', count(DISTINCT p_brand), count(DISTINCT p_brand) <= 1 FROM part
        |UNION ALL
        |SELECT 'p_size', count(DISTINCT p_size), count(DISTINCT p_size) <= 1 FROM part
        |ORDER BY col_name""".stripMargin,
    "p06_onehot" ->
      """SELECT c_custkey,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS "c_mktsegment_BUILDING",
        |  CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END AS "c_mktsegment_FURNITURE",
        |  CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END AS "c_mktsegment_HOUSEHOLD",
        |  CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS "c_mktsegment_MACHINERY"
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "p07_scale_standard" ->
      """WITH m AS (SELECT avg(c_acctbal) AS mu, stddev_samp(c_acctbal) AS sd FROM customer)
        |SELECT c_custkey, round((c_acctbal - mu) / sd, 4) + 0 AS acctbal
        |FROM customer, m ORDER BY c_custkey""".stripMargin,
    "p09_log_transform" ->
      """SELECT p_partkey, round(ln(p_retailprice), 4) AS price
        |FROM part ORDER BY p_partkey""".stripMargin,
    // identical branch structure + operation order as yeoJohnson at
    // λ=0.5 (2−λ folds to the 1.5 literal on both sides)
    "p17_corr_matrix" ->
      """SELECT 'c_custkey' AS col1, 'c_nationkey' AS col2,
        |  round(corr(CAST(c_custkey AS DOUBLE), CAST(c_nationkey AS DOUBLE)), 4) + 0 AS r
        |FROM customer
        |UNION ALL
        |SELECT 'c_custkey', 'c_acctbal',
        |  round(corr(CAST(c_custkey AS DOUBLE), CAST(c_acctbal AS DOUBLE)), 4) + 0
        |FROM customer
        |UNION ALL
        |SELECT 'c_nationkey', 'c_acctbal',
        |  round(corr(CAST(c_nationkey AS DOUBLE), CAST(c_acctbal AS DOUBLE)), 4) + 0
        |FROM customer
        |ORDER BY col1, col2""".stripMargin,
    // p25: per-column row_number ranks with the identical (value, id)
    // tie rule, rank-keyed mean of order statistics, join back — the
    // across-column avg ordering ULPs are absorbed by the 4-dp round
    "p25_quantile_normalize" ->
      """WITH r1 AS (
        |  SELECT c_custkey AS id, 'c_custkey' AS cn, CAST(c_custkey AS DOUBLE) AS v,
        |    row_number() OVER (ORDER BY CAST(c_custkey AS DOUBLE), c_custkey) AS rk
        |  FROM customer WHERE c_custkey IS NOT NULL
        |), r2 AS (
        |  SELECT c_custkey AS id, 'c_nationkey' AS cn, CAST(c_nationkey AS DOUBLE) AS v,
        |    row_number() OVER (ORDER BY CAST(c_nationkey AS DOUBLE), c_custkey) AS rk
        |  FROM customer WHERE c_nationkey IS NOT NULL
        |), r3 AS (
        |  SELECT c_custkey AS id, 'c_acctbal' AS cn, CAST(c_acctbal AS DOUBLE) AS v,
        |    row_number() OVER (ORDER BY CAST(c_acctbal AS DOUBLE), c_custkey) AS rk
        |  FROM customer WHERE c_acctbal IS NOT NULL
        |), u AS (
        |  SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
        |), t AS (
        |  SELECT rk, avg(v) AS tv FROM u GROUP BY rk
        |)
        |SELECT id AS c_custkey,
        |  round(max(CASE WHEN cn = 'c_custkey' THEN tv END), 4) + 0 AS c_custkey_qn,
        |  round(max(CASE WHEN cn = 'c_nationkey' THEN tv END), 4) + 0 AS c_nationkey_qn,
        |  round(max(CASE WHEN cn = 'c_acctbal' THEN tv END), 4) + 0 AS c_acctbal_qn
        |FROM u JOIN t USING (rk) GROUP BY id ORDER BY c_custkey""".stripMargin,
    // p24: the generated fixed-count power iteration over the SAME
    // 1e-6-quantized correlations, each iterate re-quantized — the
    // mirror is exact independent of eigen-gap convergence
    "p24_pca_top" -> pcaTopSql(
      Seq("c_custkey", "c_nationkey", "c_acctbal", "nk7", "bal11"),
      Seq("c_custkey", "c_nationkey", "c_acctbal",
        "c_nationkey + c_custkey % 7",
        "c_acctbal + 200 * (c_custkey % 11)"),
      iters = 30),
    // p21: the generated fixed-order Gauss–Jordan elimination over the
    // SAME 1e-6-quantized correlations — every divide/multiply/
    // subtract in the kernel's pivot order, so the mirror is exact at
    // any k (not a closed cofactor form like p18's k=3)
    "p21_vif5" -> vifGaussSql(
      Seq("c_custkey", "c_nationkey", "c_acctbal", "nk7", "bal11"),
      Seq("c_custkey", "c_nationkey", "c_acctbal",
        "c_nationkey + c_custkey % 7",
        "c_acctbal + 200 * (c_custkey % 11)")),
    // Cramer 3x3 cofactor form of diag(R^-1) over the SAME 1e-6-
    // quantized correlations the engine inverts — identical inputs,
    // so the 4-dp hash is stable against engine ulps
    "p18_vif" ->
      """WITH c AS (
        |  SELECT
        |    round(corr(CAST(c_custkey AS DOUBLE), CAST(c_nationkey AS DOUBLE)), 6) AS r12,
        |    round(corr(CAST(c_custkey AS DOUBLE), CAST(c_acctbal AS DOUBLE)), 6) AS r13,
        |    round(corr(CAST(c_nationkey AS DOUBLE), CAST(c_acctbal AS DOUBLE)), 6) AS r23
        |  FROM customer
        |), d AS (
        |  SELECT r12, r13, r23,
        |    1 + 2*r12*r13*r23 - r12*r12 - r13*r13 - r23*r23 AS det
        |  FROM c
        |)
        |SELECT covariate, round(vif, 4) + 0 AS vif FROM (
        |  SELECT 'c_custkey' AS covariate, (1 - r23*r23) / det AS vif FROM d
        |  UNION ALL SELECT 'c_nationkey', (1 - r13*r13) / det FROM d
        |  UNION ALL SELECT 'c_acctbal', (1 - r12*r12) / det FROM d
        |) ORDER BY covariate""".stripMargin,
    "p16_yeo_johnson" ->
      """SELECT c_custkey,
        |  round(CASE WHEN c_acctbal >= 0
        |    THEN (pow(c_acctbal + 1, 0.5) - 1) / 0.5
        |    ELSE -(pow(-c_acctbal + 1, 1.5) - 1) / 1.5 END, 4) + 0 AS acctbal_yj
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "p10_scale_minmax" ->
      """WITH m AS (SELECT min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM customer)
        |SELECT c_custkey, round((c_acctbal - lo) / (hi - lo), 6) AS acctbal
        |FROM customer, m ORDER BY c_custkey""".stripMargin,
  )
}
