package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/**
 * Similarity search over an embedding column (`Array[Float]` cast to
 * double): brute-force cosine top-k (n01) as the exact baseline, and
 * random-hyperplane LSH-bucketed ANN (n02) as the scale path.
 *
 * Scale shapes:
 *  - n01 is O(|queries| · n): fine for a bounded query set against a
 *    large corpus (queries broadcast, corpus streams through), wrong
 *    for all-pairs — that's what n02 is for.
 *  - n02 buckets both sides on (band, signature) from deterministic
 *    ±1 hyperplanes; only same-bucket candidates shuffle and get an
 *    exact cosine, then a per-query top-k window. Probes ≪ n².
 *    Band/bit counts are corpus-density-dependent (8 bands × 3 bits
 *    here, tuned for ~0.3–0.5 cosine neighbors in 64 dims).
 */
object Similarity {

  /** Session-lifetime shared ANN artifacts (r21, the persisted-
    * artifact rule that already covers the dedup band index, the MAS
    * cohort and the graph orientation index): the registry's IVF
    * family re-derives the SAME two deterministic artifacts per op —
    * the quantized/normalized corpus (one checkpoint each) and the
    * fixed-point Lloyd codebook (n03 ≡ n13 at (16,4), n11 ≡ n14 at
    * (8,4); iters+1 jobs each). In production the codebook is a
    * persisted model artifact the index build, search and QC report
    * all read; here it is computed once per (session, dir[, k,
    * iters]) and billed to the first op that builds it. Both
    * artifacts are deterministic (integer grid, fixed seeds), so the
    * cache equals the fresh derivation; entries evict once their
    * owning session stops (the Dedup.cachedFrame sweep). */
  private val embQCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private val centsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, Array[Array[Long]])]()
  private[graft] def embeddingsQ(spark: SparkSession, dir: String): DataFrame = {
    embQCache.entrySet().removeIf(
      e => e.getValue.sparkSession.sparkContext.isStopped)
    embQCache.computeIfAbsent(Dedup.sessionDirKey(spark, dir),
      _ => quantized(embeddings(spark, dir)).localCheckpoint(true))
  }
  private[graft] def cachedCentsQ(spark: SparkSession, dir: String,
      k: Int, iters: Int): Array[Array[Long]] = {
    centsCache.entrySet().removeIf(
      e => e.getValue._1.sparkSession.sparkContext.isStopped)
    centsCache.computeIfAbsent(
      Dedup.sessionDirKey(spark, dir) + s"|$k|$iters",
      { _ =>
        val q = embeddingsQ(spark, dir)
        (q, ivfCentroidsQ(q.select("vec_id", "q"), k, iters))
      })._2
  }

  /** Natural embeddings with double vectors (no injected twins). */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))

  /** ADMISSION GUARD for the broadcast-query exact shapes (n01/n05):
    * the baseline is |queries|·n work with the query set broadcast to
    * every executor, so it is bounded-query-set-only by contract —
    * this enforces it (the a39/d05 convention). Query sets above
    * `spark.graft.ann.queryRowsMax` (default 100k ≈ 50 MB of 64-dim
    * doubles broadcast, and 100k corpus-scans of work) are rejected
    * up front with a pointer to the bucketed twin (n02/n03). One
    * pre-flight count on the already-filtered query side — the
    * predicate pushes to the scan, so it reads the pruned subset. */
  private def guardQuerySet(q: DataFrame, op: String): DataFrame = {
    val qMax = q.sparkSession.conf
      .get("spark.graft.ann.queryRowsMax", "100000").toLong
    if (qMax > 0) {
      val n = q.count()
      if (n > qMax)
        throw new IllegalArgumentException(
          s"$op: query set has $n rows > spark.graft.ann.queryRowsMax=$qMax; " +
            "the exact broadcast baseline is bounded-query-set-only — use the " +
            "LSH/IVF bucketed search (n02/n03) for corpus-scale query sets, " +
            "or raise the bound deliberately")
    }
    q
  }

  /** Brute-force cosine top-k for a query subset. Norms project once
    * per row; the corpus streams through the broadcast join. */
  def knnBrute(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val withN = Dedup.withNorm(emb)
    val q = guardQuerySet(withN.filter(queryPred), "knnBrute")
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    val n = withN.select(col("vec_id").as("neighbor_id"), col("e").as("ne"), col("nrm").as("nn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(q).join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Dedup.dot(col("qe"), col("ne")) / (col("qn") * col("nn")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), round(col("cos"), 4).as("cos"))
  }

  def n01KnnBrute(spark: SparkSession, dir: String): DataFrame =
    knnBrute(embeddings(spark, dir), col("vec_id") < 25, k = 5)
      .orderBy("query_id", "rnk")

  /**
   * k-NN majority-vote classification — the auto-labeling /
   * semi-supervised tagging step a labeled seed set bootstraps a
   * corpus with: each query's top-k cosine neighbors vote with
   * their label; most votes wins, ties break to the
   * lexicographically smallest label (deterministic in both
   * engines). Rides n01's broadcast top-k shape, then one
   * (query, label) vote aggregate and a query-partitioned argmax
   * window — per-query state is its own k votes, nothing corpus-
   * sized shuffles beyond the neighbor search itself (swap in
   * n02/n03's bucketed search for the 100 TB path; the vote plan is
   * unchanged).
   */
  def knnClassify(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val nbrs = knnBrute(emb, queryPred, k)
    val labels = emb.select(col("vec_id").as("neighbor_id"), col("label"))
    val votes = nbrs.join(labels, "neighbor_id")
      .groupBy("query_id", "label").agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("n_votes").desc, col("label").asc)
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("n_votes"))
  }

  def n07KnnClassify(spark: SparkSession, dir: String): DataFrame =
    knnClassify(embeddings(spark, dir), col("vec_id") < 25, k = 5)
      .orderBy("query_id")

  /**
   * Radius (threshold) search: every corpus vector within cosine ≥
   * `tau` of each query — retrieval's "give me everything similar
   * enough" counterpart to n01's fixed top-k. Same broadcast shape
   * (bounded query set broadcasts, corpus streams) but with a
   * threshold FILTER instead of a top-k window, so the plan has no
   * window and no shuffle beyond the presentation sort — at 100 TB
   * it is one streaming pass over the corpus per query batch.
   */
  def radiusSearch(emb: DataFrame, queryPred: Column, tau: Double): DataFrame = {
    val withN = Dedup.withNorm(emb)
    val q = guardQuerySet(withN.filter(queryPred), "radiusSearch")
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    val n = withN.select(col("vec_id").as("neighbor_id"), col("e").as("ne"), col("nrm").as("nn"))
    broadcast(q).join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Norm.r4(Dedup.dot(col("qe"), col("ne")) / (col("qn") * col("nn"))))
      // threshold the ROUNDED value: membership is decided on the same
      // 4-dp number the row reports, so an engine-to-engine ulp
      // difference in the raw cosine can't flip a pair in or out at
      // the tau boundary (it would need to straddle a 5e-5 rounding
      // edge AND tau simultaneously)
      .filter(col("cos") >= tau)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
  }

  def n05RadiusSearch(spark: SparkSession, dir: String): DataFrame =
    radiusSearch(embeddings(spark, dir), col("vec_id") < 25, tau = 0.3)
      .orderBy("query_id", "neighbor_id")

  /**
   * SCALAR-QUANTIZED (SQ8) nearest-neighbor search — the memory-side
   * compression standard (the FAISS SQ8 shape): each dimension maps
   * to a byte via the corpus-global per-dimension [min, max] range,
   *   q_i = ⌊(x_i − mn_i)/(mx_i − mn_i)·255 + 0.5⌋ ∈ [0, 255]
   * (no clamp needed — mn/mx ARE the global extrema), and search
   * ranks by the INTEGER dot product of quantized vectors — 4× less
   * vector memory than float32 and a ranking with NO FP surface at
   * all: every score is an exact i64, so the top-k is
   * bit-deterministic in any engine (min/max are exact picks, the
   * quantization arithmetic is the same IEEE ops on the same
   * operands both sides). Per-dim extrema are ONE posexplode
   * aggregate with a dims-bounded output, collected as bounded model
   * state (the n03/n06 codebook rule); quantization is a pure
   * per-row map; search is n01's broadcast-query shape over the int
   * arrays — at 100 TB swap in the n02/n03 bucketed candidate
   * generation and keep this integer scorer.
   */
  def sq8Knn(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val mm = emb.select(posexplode(col("e")).as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("i").collect()
    val mns = mm.map(_.getDouble(1))
    val mxs = mm.map(_.getDouble(2))
    val qUdf = udf((e: Seq[Double]) => {
      val out = new Array[Long](e.length)
      var i = 0
      while (i < e.length) {
        val mn = mns(i); val mx = mxs(i)
        out(i) =
          if (mx > mn) math.floor((e(i) - mn) / (mx - mn) * 255 + 0.5).toLong
          else 0L
        i += 1
      }
      out
    })
    val qz = emb.withColumn("qe", qUdf(col("e")))
    val q = qz.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("qe").as("qq"))
    val n = qz.select(col("vec_id").as("neighbor_id"), col("qe").as("qn"))
    val w = Window.partitionBy("query_id").orderBy(col("dotq").desc, col("neighbor_id"))
    broadcast(q).join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("dotq",
        aggregate(zip_with(col("qq"), col("qn"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("dotq"))
  }

  /** n10: SQ8 integer top-k for the n01 query subset. */
  def n10Sq8Knn(spark: SparkSession, dir: String): DataFrame =
    sq8Knn(embeddings(spark, dir), col("vec_id") < 25, k = 5)
      .orderBy("query_id", "rnk")

  /**
   * Maximum-inner-product search (MIPS) top-k — the retrieval
   * primitive for DOT-PRODUCT scorers (two-tower recommenders,
   * unnormalized retrieval embeddings) where n01's cosine is the
   * wrong metric because vector MAGNITUDE carries signal. Exact
   * brute-force baseline with the same broadcast shape as n01
   * (bounded query set broadcasts, corpus streams through); scoring
   * quantizes each coordinate to the 1e-6 grid ONCE per row and
   * ranks on the exact INTEGER inner product (the n10 discipline:
   * every score an exact i64, so the ordering is bit-stable across
   * engines and partitionings — |x| ≤ ~30 ⇒ per-term ≤ 9e14,
   * 64-dim sum ≤ 6e16 < 2^63). The 100 TB path is the classic
   * norm-augmentation reduction (append sqrt(M²−‖x‖²) to corpus
   * vectors, 0 to queries): MIPS order becomes cosine order in d+1
   * dims, so n02's hyperplane-LSH bucketing applies unchanged — the
   * spec pins the reduction's order-equivalence on a hand set.
   */
  def mipsTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val q6 = transform(col("e"), x => round(x * lit(1000000.0)).cast("long"))
    val base = emb.withColumn("q", q6)
    val q = base.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val n = base.select(col("vec_id").as("neighbor_id"), col("q").as("nq"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("ip_micro").desc, col("neighbor_id"))
    broadcast(q).join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("ip_micro",
        aggregate(zip_with(col("qq"), col("nq"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("ip_micro"),
        round(col("ip_micro") / lit(1.0e12), 4).as("ip"))
  }

  /** n12: exact MIPS top-5 for every 37th vector. */
  def n12Mips(spark: SparkSession, dir: String): DataFrame =
    mipsTopK(embeddings(spark, dir), col("vec_id") % 37 === 0, k = 5)
      .orderBy("query_id", "rnk")

  // ------------------------------------------------------------ n02 LSH

  /** Deterministic ±1 hyperplane entries (splitmix bit stream). */
  private[graft] def hyperplanes(planes: Int, dims: Int, seed: Long): Array[Array[Double]] = {
    val params = Dedup.permParams(planes * dims, seed)
    Array.tabulate(planes, dims)((p, d) => if ((params(p * dims + d)._2 & 1L) == 1L) 1.0 else -1.0)
  }

  /**
   * SQL-expressible ±1 hyperplane entries (the d04 trick that earned
   * SimHash its full oracle): the sign is bit 7 of a SQUARED
   * multiplicative hash of the flat (plane, dim) index — plain
   * 64-bit-safe integer arithmetic a DuckDB oracle reproduces
   * verbatim, unlike the splitmix stream above. The squaring matters:
   * the pre-square values walk an arithmetic progression mod the
   * prime, whose low bits alternate near-deterministically; squaring
   * mod the prime scrambles them into a balanced, uncorrelated ±1
   * family. All intermediates < 2⁶² (ANSI-overflow-safe).
   */
  private[graft] def polyHyperplanes(planes: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(planes, dims) { (p, d) =>
      val i = p.toLong * dims + d + 1
      val h = (i * 2654435761L) % 1000000007L
      if ((((h * h) % 1000000007L >> 7) & 1L) == 1L) 1.0 else -1.0
    }

  /** Sign signature of a vector under the hyperplanes, packed to Int. */
  private[graft] def signBits(e: Seq[Double], hp: Array[Array[Double]]): Int = {
    var sig = 0
    var p = 0
    while (p < hp.length) {
      var dot = 0.0
      var d = 0
      val plane = hp(p)
      val lim = math.min(plane.length, e.length)
      while (d < lim) { dot += plane(d) * e(d); d += 1 }
      if (dot > 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  /**
   * ANN top-k: LSH candidate generation (same (band, signature) bucket
   * in any band) + exact cosine re-rank. Recall vs n01 is spec-checked;
   * the planes are `polyHyperplanes`, so the whole query — signatures,
   * band buckets, candidates, re-rank — also replays under the DuckDB
   * hash gate.
   */
  def annLsh(emb: DataFrame, queryPred: Column, k: Int,
      bands: Int = 8, bitsPerBand: Int = 3, dims: Int = 64): DataFrame = {
    val hp = polyHyperplanes(bands * bitsPerBand, dims)
    val sigUdf = udf((e: Seq[Double]) => signBits(e, hp))
    val mask = (1 << bitsPerBand) - 1
    // signature table referenced by both join sides — materialize once;
    // localCheckpoint (not cache) so blocks free with the plan's GC
    val banded = Dedup.withNorm(emb.withColumn("sig", sigUdf(col("e"))))
      .select(col("vec_id"), col("e"), col("nrm"), col("sig"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * bitsPerBand).bitwiseAND(lit(mask)).as("bv"))): _*)).as("bk"))
      .select(col("vec_id"), col("e"), col("nrm"), col("bk.band"), col("bk.bv"))
      .localCheckpoint(true)
    val q = banded.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"),
        col("band"), col("bv"))
    val cand = q.join(banded.select(col("vec_id").as("neighbor_id"), col("e").as("ne"),
        col("nrm").as("nn"), col("band"), col("bv")), Seq("band", "bv"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "qe", "ne", "qn", "nn")
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    cand.withColumn("cos", Dedup.dot(col("qe"), col("ne")) / (col("qn") * col("nn")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), round(col("cos"), 4).as("cos"))
  }

  def n02AnnLsh(spark: SparkSession, dir: String): DataFrame =
    annLsh(embeddings(spark, dir), col("vec_id") < 25, k = 5)
      .orderBy("query_id", "rnk")

  /**
   * Recall@k of an approximate neighbor table against the exact one —
   * the EVAL every ANN deployment runs before trusting an index (the
   * §4 recall-vs-cost trade as a measurement, not an assertion).
   * Inputs are any two (query_id, neighbor_id) result tables; one
   * inner join on the pair + two per-query counts, all
   * map-side-combined — evaluating a billion-query index shuffles
   * counts, not candidate lists. In practice the exact side runs on a
   * held-out QUERY SAMPLE (n01's cost is the reason ANN exists); the
   * eval itself is oblivious to how either table was produced.
   */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select("query_id", "neighbor_id")
    val hits = e.join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    e.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        Norm.r4(coalesce(col("n_hit"), lit(0L)) / col("n_exact")).as("recall"))
  }

  /** n08: recall@5 of the hyperplane-LSH index (n02) against the
    * exact top-5 (n01) on the standard query set — both sides are
    * deterministic (fixed hyperplanes, raw-cosine tie-breaks), so the
    * measured recall is oracle-replayable. */
  def n08AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(spark, dir)
    recallAtK(
      knnBrute(emb, col("vec_id") < 25, k = 5),
      annLsh(emb, col("vec_id") < 25, k = 5))
      .orderBy("query_id")
  }

  // ------------------------------------------------------------ n09 PCA

  /**
   * Dominant principal component by POWER ITERATION on the centered
   * Gram matrix — the whitening/dim-reduction primitive an embedding
   * pipeline runs before clustering or semantic dedup. Distributed
   * work is exactly two corpus scans, both map-side-combinable:
   * per-dim sums (d longs) and centered pair-products (d(d+1)/2
   * integer sums via one in-row HOF pair explode — no self-join, no
   * shuffle wider than d² groups). The d×d matrix is bounded MODEL
   * state on the driver (the codebook rule), where `iters` fixed
   * max-norm power steps run in exact BigInt arithmetic on the 1e-6
   * grid: every division is truncation-toward-zero applied to
   * NON-NEGATIVE operands (sign split off first), so the DuckDB
   * replay — HUGEINT matvec CTEs unrolled per iteration — lands on
   * identical micro-unit loadings.
   *
   * Long-exactness bound: |centered| ≤ 2e6 on the grid → per-row
   * products ≤ 4e12, so Long partial sums hold to ~2e6 rows
   * (enforced). At 100 TB the same plan upgrades the pair-product
   * sums to DECIMAL(38,0) — still exact, still order-independent —
   * with nothing else changing.
   */
  def pcaPower(emb: DataFrame, iters: Int,
      preQ: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1 && iters <= 20, s"pcaPower: iters in [1,20], got $iters")
    val q = preQ.map(_.select(col("vec_id"), col("q"))).getOrElse(
      quantized(emb).select(col("vec_id"), col("q")).localCheckpoint(true))
    val d = q.select(size(col("q"))).head().getInt(0)
    val n = q.count()
    require(n > 0 && n <= 2000000L,
      s"pcaPower: Long-exact Gram bound is n <= 2e6 (got $n); use the DECIMAL(38) variant beyond")
    // both stat scans are shuffle-free mapPartitions folds over flat
    // long buffers (the gram IRLS scan's lesson): the previous per-row
    // d(d+1)/2 struct explode generated ~114M rows at sf0.1 just to
    // hash-aggregate integers that sum order-independently anyway.
    // Arithmetic is IDENTICAL (exact long sums; the n ≤ 2e6 guard is
    // the same Long-overflow bound the exploded sum carried); fold
    // zero = all-zero buffer, so empty partitions are no-ops.
    def foldLongs(df: DataFrame, width: Int)(
        acc: (Array[Long], org.apache.spark.sql.catalyst.InternalRow) => Unit): Array[Long] =
      df.queryExecution.toRdd.mapPartitions { it =>
        val buf = new Array[Long](width)
        while (it.hasNext) acc(buf, it.next())
        Iterator.single(buf)
      }.fold(new Array[Long](width)) { (x, y) =>
        var i = 0
        while (i < x.length) { x(i) += y(i); i += 1 }
        x
      }
    val dL = d
    val sums = foldLongs(q.select(col("q")), d) { (buf, r) =>
      val a = r.getArray(0)
      var i = 0
      while (i < dL) { buf(i) += a.getLong(i); i += 1 }
    }
    // JVM Long '/' truncates toward zero; the oracle mirrors with a
    // sign-split '//' on non-negative operands
    val mu = Array.tabulate(d)(i => sums(i) / n)
    val muCol = array(mu.toIndexedSeq.map(lit(_)): _*)
    val cx = q.withColumn("cx", zip_with(col("q"), muCol, (x, m) => x - m))
    val nPairs = d * (d + 1) / 2
    val covArr = foldLongs(cx.select(col("cx")), nPairs) { (buf, r) =>
      val a = r.getArray(0)
      var idx = 0
      var i = 0
      while (i < dL) {
        val xi = a.getLong(i)
        var j = i
        while (j < dL) { buf(idx) += xi * a.getLong(j); idx += 1; j += 1 }
        i += 1
      }
    }
    def triIdx(i: Int, j: Int): Int = i * d - i * (i - 1) / 2 + (j - i)
    def C(i: Int, j: Int): BigInt =
      BigInt(if (i <= j) covArr(triIdx(i, j)) else covArr(triIdx(j, i)))
    var v = Array.fill(d)(BigInt(1000000))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => C(i, j) * v(j)).sum)
      val m = w.map(_.abs).max
      require(m > 0, "pcaPower: zero covariance matrix")
      v = w.map(x => x.sign * (x.abs * 1000000 / m))
    }
    val spark = emb.sparkSession
    import spark.implicits._
    v.toIndexedSeq.zipWithIndex.map { case (x, i) => (i, x.toLong) }
      .toDF("dim", "loading_micro")
      .select(col("dim"), col("loading_micro"),
        round(col("loading_micro") / lit(1000000.0), 4).as("loading"))
  }

  /** n09: top principal direction of the natural embeddings, 8 power
    * steps, per-dim micro-grid loadings. */
  def n09PcaPower(spark: SparkSession, dir: String): DataFrame =
    pcaPower(embeddings(spark, dir), iters = 8,
      preQ = Some(embeddingsQ(spark, dir))).orderBy("dim")

  // ------------------------------------------------------------ n03 IVF

  /** Fixed-point grid for the IVF codebook: unit vectors and centroids
    * quantize to 1e-6 (±1e6 as longs). Integer partial sums make Lloyd
    * training EXACT and summation-order-independent — re-runs on any
    * partitioning (or any engine) re-derive the same codebook bit for
    * bit, where double partials merged in shuffle-fetch order could
    * drift an ulp and swap a near-boundary vector between lists. */
  private[graft] val IvfScale = 1e6

  /** Half-away-from-zero rounding to the 1e-6 grid — the semantics of
    * both Spark SQL `round()` (BigDecimal HALF_UP) and DuckDB
    * `round()`, so driver-side centroid math lands on the same longs. */
  private def q6(x: Double): Long =
    (if (x >= 0) math.floor(x * IvfScale + 0.5) else math.ceil(x * IvfScale - 0.5)).toLong

  /** Unit vectors on the 1e-6 grid (`q` = round(e/‖e‖ · 1e6) as longs)
    * alongside the original embedding + norm for exact re-ranking. */
  private[graft] def quantized(emb: DataFrame): DataFrame =
    Dedup.withNorm(emb)
      .withColumn("q", transform(col("e"), x => round(x / col("nrm") * lit(IvfScale)).cast("long")))

  /**
   * Spherical k-means coarse quantizer (the IVF codebook): Lloyd
   * iterations where ONLY the k×dims centroid table ever leaves the
   * executors — assignment is a broadcast argmax-dot projection over
   * the corpus, the per-list sums reduce map-side via a posexplode +
   * (list, dim) aggregation, and the collected model (k·dims longs,
   * same altitude as IRLS's beta) is re-broadcast for the next round.
   * Fully deterministic: seeds are the k lowest-id vectors, fixed
   * iteration count, no RNG, and — because assignment dots and
   * per-list sums are INTEGER arithmetic on the 1e-6 grid — the
   * result is independent of partition count and shuffle order. The
   * only FP steps (mean, renormalize) run driver-side on exact
   * integer inputs and re-quantize, so the whole training loop
   * replays verbatim in the DuckDB oracle (the n02 trick, extended
   * from one hash family to an iterative fit).
   */
  private[graft] def ivfCentroidsQ(unitQ: DataFrame, k: Int, iters: Int): Array[Array[Long]] = {
    var cents: Array[Array[Long]] = unitQ.orderBy("vec_id").limit(k)
      .collect().map(_.getSeq[Long](1).toArray)
    for (_ <- 1 to iters) {
      val sums = unitQ
        .withColumn("cid", nearestListUdf(cents)(col("q")))
        .select(col("cid"), posexplode(col("q")).as(Seq("dim", "qv")))
        .groupBy("cid", "dim").agg(sum("qv").as("s"), count(lit(1)).as("n"))
        .collect()
      // raw means on the grid; a list with no members keeps its old
      // centroid (and still renormalizes, like every other list)
      val m = cents.map(_.map(_.toDouble / IvfScale))
      sums.foreach { r =>
        m(r.getInt(0))(r.getInt(1)) = r.getLong(2).toDouble / (r.getLong(3).toDouble * IvfScale)
      }
      cents = m.map { c =>
        val n = math.sqrt(c.map(x => x * x).sum)
        (if (n > 0) c.map(_ / n) else c).map(q6)
      }
    }
    cents
  }

  /** argmax_c Σ q·cq — exact long arithmetic (|q|,|cq| ≤ 1e6 → each
    * term ≤ 1e12, 64-dim sum ≤ 6.4e13 ≪ 2⁶³); ties → lowest list id. */
  private def nearestListUdf(cents: Array[Array[Long]]) =
    udf((q: Seq[Long]) => {
      var best = 0; var bestDot = Long.MinValue
      var c = 0
      while (c < cents.length) {
        var dot = 0L; var d = 0
        val cent = cents(c)
        val lim = math.min(cent.length, q.length)
        while (d < lim) { dot += cent(d) * q(d); d += 1 }
        if (dot > bestDot) { bestDot = dot; best = c }
        c += 1
      }
      best
    })

  private def nearestListsUdf(cents: Array[Array[Long]], nprobe: Int) =
    udf((q: Seq[Long]) =>
      cents.indices.map { c =>
        var dot = 0L; var d = 0
        val cent = cents(c)
        val lim = math.min(cent.length, q.length)
        while (d < lim) { dot += cent(d) * q(d); d += 1 }
        (-dot, c)
      }.sorted.take(nprobe).map(_._2))

  /**
   * IVF ANN top-k: the corpus is partitioned into k inverted lists by
   * nearest centroid; each query probes its `nprobe` closest lists and
   * exact-cosine re-ranks only those candidates. Candidates/query ≈
   * n·nprobe/k instead of n, and the probe is an equi-join on the list
   * id — the standard IVF-flat trade (recall vs probes) with Spark
   * doing what it is good at: one broadcast (centroids inside the
   * UDFs), one equi-join, one per-query top-k window.
   */
  def annIvf(emb: DataFrame, queryPred: Column, k: Int,
      lists: Int = 16, nprobe: Int = 4, iters: Int = 4,
      preQ: Option[DataFrame] = None,
      preCents: Option[Array[Array[Long]]] = None): DataFrame = {
    // one scan + one checkpointed quantized table feeds codebook
    // training, corpus assignment, AND query probing; preQ/preCents
    // let callers pass the session-shared artifacts (identical by
    // determinism)
    val withN = preQ.getOrElse(quantized(emb).localCheckpoint(true))
    val cents = preCents.getOrElse(
      ivfCentroidsQ(withN.select("vec_id", "q"), lists, iters))
    val corpus = withN
      .withColumn("cid", nearestListUdf(cents)(col("q")))
      .select(col("vec_id").as("neighbor_id"), col("e").as("ne"), col("nrm").as("nn"), col("cid"))
    val queries = withN.filter(queryPred)
      .withColumn("cid", explode(nearestListsUdf(cents, nprobe)(col("q"))))
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"), col("cid"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    queries.join(corpus, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Dedup.dot(col("qe"), col("ne")) / (col("qn") * col("nn")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), round(col("cos"), 4).as("cos"))
  }

  /**
   * n13: TWO-STAGE retrieval — the canonical production search
   * architecture (coarse candidate generation, then exact re-rank of
   * the shortlist): n03's IVF probing supplies the candidates, and
   * the final order comes from the EXACT integer dot of the 1e-6
   * unit-grid vectors (the n10/n12 discipline — zero FP in the
   * ranking, bit-stable across engines and partitionings; on unit
   * vectors the integer dot IS the quantized cosine, published as
   * dotq/1e12). Versus n03, the float cosine leaves the scoring
   * path entirely; versus n06's ADC, the re-rank reads true vectors
   * instead of codeword approximations — candidates identical,
   * ordering exact.
   */
  def annIvfRerank(emb: DataFrame, queryPred: Column, k: Int,
      lists: Int = 16, nprobe: Int = 4, iters: Int = 4,
      preQ: Option[DataFrame] = None,
      preCents: Option[Array[Array[Long]]] = None): DataFrame = {
    val withN = preQ.getOrElse(quantized(emb).localCheckpoint(true))
    val cents = preCents.getOrElse(
      ivfCentroidsQ(withN.select("vec_id", "q"), lists, iters))
    val corpus = withN.withColumn("cid", nearestListUdf(cents)(col("q")))
      .select(col("vec_id").as("neighbor_id"), col("q").as("nq"), col("cid"))
    val queries = withN.filter(queryPred)
      .withColumn("cid", explode(nearestListsUdf(cents, nprobe)(col("q"))))
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("cid"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dotq").desc, col("neighbor_id"))
    queries.join(corpus, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dotq",
        aggregate(zip_with(col("qq"), col("nq"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("dotq"),
        (round(col("dotq") / 1000000000000.0, 4) + lit(0.0)).as("cos"))
  }

  /** n13: IVF-probe + exact integer re-rank for the n03 query set. */
  def n13IvfRerank(spark: SparkSession, dir: String): DataFrame =
    annIvfRerank(embeddings(spark, dir), col("vec_id") < 25, k = 5,
      preQ = Some(embeddingsQ(spark, dir)),
      preCents = Some(cachedCentsQ(spark, dir, 16, 4)))
      .orderBy("query_id", "rnk")

  /**
   * n11: the spherical-Lloyd CLUSTERING itself as the published
   * artifact — where n03/n06/d10 consume the codebook internally
   * (for probing or dup-pruning), a corpus-organization pipeline
   * wants the (vector → cluster) map as output: cluster id, cluster
   * size, and each vector's cosine to its own centroid (the
   * assignment-quality signal a clustering report publishes).
   * Training is the deterministic fixed-point codebook
   * ([[ivfCentroidsQ]] — only the k×dims model leaves the
   * executors); assignment is one broadcast argmax-dot projection;
   * the size join broadcasts k rows. The cosine is the exact integer
   * dot on the 1e-6 grid over unit vectors, so cos = dot/1e12 with
   * no cross-engine FP in the ranking.
   */
  def kmeansClusters(emb: DataFrame, k: Int, iters: Int,
      preQ: Option[DataFrame] = None,
      preCents: Option[Array[Array[Long]]] = None): DataFrame = {
    val withN = preQ.getOrElse(quantized(emb).localCheckpoint(true))
    val cents = preCents.getOrElse(
      ivfCentroidsQ(withN.select("vec_id", "q"), k, iters))
    val dotUdf = udf((q: Seq[Long], cid: Int) => {
      val cent = cents(cid)
      var s = 0L; var d = 0
      val lim = math.min(cent.length, q.length)
      while (d < lim) { s += cent(d) * q(d); d += 1 }
      s
    })
    val assigned = withN
      .withColumn("cid", nearestListUdf(cents)(col("q")))
      .withColumn("dotm", dotUdf(col("q"), col("cid")))
    val sizes = assigned.groupBy("cid").agg(count(lit(1)).as("n_members"))
    assigned.join(broadcast(sizes), "cid")
      .select(col("vec_id"), col("cid"), col("n_members"),
        (round(col("dotm") / 1000000000000.0, 4) + lit(0.0)).as("cos_to_centroid"))
  }

  /** n11: 8-cluster, 4-iteration spherical k-means over the natural
    * embeddings — the full clustering artifact, hash-oracled via the
    * shared unrolled-Lloyd CTEs. */
  def n11Kmeans(spark: SparkSession, dir: String): DataFrame =
    kmeansClusters(embeddings(spark, dir), k = 8, iters = 4,
      preQ = Some(embeddingsQ(spark, dir)),
      preCents = Some(cachedCentsQ(spark, dir, 8, 4))).orderBy("vec_id")

  /**
   * n14: SIMPLIFIED SILHOUETTE per cluster — the k-selection /
   * cluster-QC score (how separated is each cluster, the number a
   * team reads before trusting n11's clusters for SemDeDup or
   * stratification): per vector, cosine distance to its OWN centroid
   * (d_a = 1 − cos, the rank-1 assignment dot) vs to the nearest
   * OTHER centroid (d_b, the rank-2 dot), s = (d_b − d_a) /
   * max(d_a, d_b) — the centroid-based simplification that replaces
   * classic silhouette's O(n²) pairwise term with O(n·k), the only
   * version that exists at corpus scale. Dots are the codebook's
   * exact integer arithmetic; s quantizes to the 1e-6 grid per row
   * BEFORE the cluster mean, so the mean is an order-independent
   * integer sum (the c08 discipline) and the whole table is
   * partition-exact. One broadcast-argmax projection over the corpus
   * + one map-side-combined k-row aggregate.
   */
  def silhouette(emb: DataFrame, k: Int, iters: Int,
      preQ: Option[DataFrame] = None,
      preCents: Option[Array[Array[Long]]] = None): DataFrame = {
    require(k >= 2, s"silhouette: need at least 2 clusters, got $k")
    val withN = preQ.getOrElse(quantized(emb).localCheckpoint(true))
    val cents = preCents.getOrElse(
      ivfCentroidsQ(withN.select("vec_id", "q"), k, iters))
    // (best cid, best dot, second-best dot) in one pass; ties mirror
    // the oracle's (dot DESC, cid ASC) rank — first equal dot wins
    // best, the later equal dot becomes rank 2
    val two = udf((q: Seq[Long]) => {
      var bi = 0; var bd = Long.MinValue; var sd = Long.MinValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var s = 0L; var d = 0
        val lim = math.min(cent.length, q.length)
        while (d < lim) { s += cent(d) * q(d); d += 1 }
        if (s > bd) { sd = bd; bd = s; bi = c }
        else if (s > sd) sd = s
        c += 1
      }
      (bi, bd, sd)
    })
    val da = lit(1.0) - col("bd") / lit(1000000000000.0)
    val db = lit(1.0) - col("sd") / lit(1000000000000.0)
    val s = when(greatest(da, db) > 0, (db - da) / greatest(da, db))
      .otherwise(lit(0.0))
    withN.withColumn("t", two(col("q")))
      .select(col("vec_id"), col("t._1").as("cid"),
        col("t._2").as("bd"), col("t._3").as("sd"))
      .withColumn("sq", round(s * 1000000, 0).cast("long"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"), sum("sq").as("ssq"),
        min("sq").as("mnq"), max("sq").as("mxq"))
      .select(col("cid"), col("n_members"),
        (round(col("ssq") / 1000000.0 / col("n_members"), 4) + lit(0.0)).as("mean_sil"),
        (round(col("mnq") / 1000000.0, 4) + lit(0.0)).as("min_sil"),
        (round(col("mxq") / 1000000.0, 4) + lit(0.0)).as("max_sil"))
      .orderBy("cid")
  }

  /** n14: silhouette table for n11's 8-cluster codebook. */
  def n14Silhouette(spark: SparkSession, dir: String): DataFrame =
    silhouette(embeddings(spark, dir), k = 8, iters = 4,
      preQ = Some(embeddingsQ(spark, dir)),
      preCents = Some(cachedCentsQ(spark, dir, 8, 4)))

  /** n03: IVF-flat ANN — the brief's "IVF variant as the scale path"
    * alongside n02's LSH. The fixed-point codebook (ivfCentroidsQ)
    * makes the whole path — training, list assignment, probing,
    * re-rank — deterministic and DuckDB-replayable, so n03 carries a
    * full hash oracle (plus the recall spec vs n01). */
  def n03AnnIvf(spark: SparkSession, dir: String): DataFrame =
    annIvf(embeddings(spark, dir), col("vec_id") < 25, k = 5,
      preQ = Some(embeddingsQ(spark, dir)),
      preCents = Some(cachedCentsQ(spark, dir, 16, 4)))
      .orderBy("query_id", "rnk")

  // --------------------------------------------------------- n06 IVF-PQ

  /**
   * Product-quantization codebooks: `m` subspaces × `k` codewords on
   * the same 1e-6 grid as the IVF codebook. Plain (non-spherical)
   * k-means per subspace — integer L2 argmin assignment, EXACT
   * integer per-cluster sums, driver-side mean + re-quantize — and
   * all `m` subspaces co-train in ONE aggregation pass per Lloyd
   * iteration (keyed by (subspace, codeword, dim)), so training cost
   * does not scale with m. Like ivfCentroidsQ the result is
   * bit-reproducible at any partition count and replays verbatim in
   * the DuckDB oracle.
   *
   * Seeds: codeword c of every subspace = the c-th lowest-id vector's
   * subvector (the ivfCentroidsQ seeding rule applied per subspace).
   */
  private[graft] def pqCodebooks(unitQ: DataFrame, m: Int, dsub: Int, k: Int,
      iters: Int): Array[Array[Array[Long]]] = {
    var books: Array[Array[Array[Long]]] = {
      val seeds = unitQ.orderBy("vec_id").limit(k)
        .collect().map(_.getSeq[Long](1).toArray)
      Array.tabulate(m, k)((s, c) => seeds(c).slice(s * dsub, (s + 1) * dsub))
    }
    for (_ <- 1 to iters) {
      val sums = unitQ
        .withColumn("code", pqAssignUdf(books, dsub)(col("q")))
        .select(col("code"), posexplode(col("q")).as(Seq("fd", "qv")))
        .withColumn("s", (col("fd") / dsub).cast("int"))
        .select(col("s"), element_at(col("code"), col("s") + 1).as("cid"),
          (col("fd") - col("s") * dsub).cast("int").as("dim"), col("qv"))
        .groupBy("s", "cid", "dim").agg(sum("qv").as("sv"), count(lit(1)).as("n"))
        .collect()
      // empty codewords keep their previous value (clone default);
      // means stay in grid units, re-quantized half-away-from-zero
      val next = books.map(_.map(_.clone()))
      sums.foreach { r =>
        val mean = r.getLong(3).toDouble / r.getLong(4)
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          (if (mean >= 0) math.floor(mean + 0.5) else math.ceil(mean - 0.5)).toLong
      }
      books = next
    }
    books
  }

  /** Per-subspace argmin_c Σ(q−c)² — exact long arithmetic (diffs ≤
    * 2e6 → squares ≤ 4e12, dsub-sums ≪ 2⁶³); ties → lowest code. */
  private def pqAssignUdf(books: Array[Array[Array[Long]]], dsub: Int) =
    udf((q: Seq[Long]) =>
      books.indices.map { s =>
        var best = 0; var bestD = Long.MaxValue
        var c = 0
        while (c < books(s).length) {
          var dist = 0L; var d = 0
          val cw = books(s)(c)
          while (d < dsub) {
            val diff = q(s * dsub + d) - cw(d); dist += diff * diff; d += 1
          }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        best
      })

  /** ADC (asymmetric distance computation) score: the query's exact
    * quantized vector dotted with the neighbor's PQ RECONSTRUCTION,
    * Σ_s q_s · codeword(s, code_s) — pure integer, so candidate
    * ranking is deterministic across engines and partitionings. */
  private def adcScoreUdf(books: Array[Array[Array[Long]]], dsub: Int) =
    udf((q: Seq[Long], code: Seq[Int]) => {
      var score = 0L
      var s = 0
      while (s < books.length) {
        val cw = books(s)(code(s))
        var d = 0
        while (d < dsub) { score += q(s * dsub + d) * cw(d); d += 1 }
        s += 1
      }
      score
    })

  /**
   * IVF-PQ ANN — the memory-scale path past IVF-flat: corpus vectors
   * live in the index as `m` one-byte codes (64-dim float32 → 8
   * bytes, 32×), candidate scoring is integer table lookups against
   * the PQ codebooks (no raw vectors touched), and only the ADC
   * shortlist fetches embeddings for the exact re-rank. At 100 TB of
   * embeddings this is the difference between an index that fits in
   * cluster memory and one that doesn't — the standard
   * billion-vector design (IVF coarse pruning + PQ compression +
   * exact re-rank), here with every training/assignment/scoring
   * reduction in exact integer arithmetic so the whole path — both
   * codebooks included — replays under the DuckDB hash gate.
   */
  def annIvfPq(emb: DataFrame, queryPred: Column, k: Int,
      lists: Int = 16, nprobe: Int = 4, coarseIters: Int = 2,
      m: Int = 8, codewords: Int = 16, pqIters: Int = 2,
      shortlist: Int = 20, dims: Int = 64,
      preQ: Option[DataFrame] = None,
      preCoarse: Option[Array[Array[Long]]] = None): DataFrame = {
    val dsub = dims / m
    val withN = preQ.getOrElse(quantized(emb).localCheckpoint(true))
    val unitQ = withN.select("vec_id", "q")
    val coarse = preCoarse.getOrElse(ivfCentroidsQ(unitQ, lists, coarseIters))
    val books = pqCodebooks(unitQ, m, dsub, codewords, pqIters)
    val corpus = withN
      .withColumn("cid", nearestListUdf(coarse)(col("q")))
      .withColumn("code", pqAssignUdf(books, dsub)(col("q")))
      .select(col("vec_id").as("neighbor_id"), col("e").as("ne"), col("nrm").as("nn"),
        col("cid"), col("code"))
    val queries = withN.filter(queryPred)
      .withColumn("cid", explode(nearestListsUdf(coarse, nprobe)(col("q"))))
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"),
        col("q").as("qq"), col("cid"))
    val wAdc = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    val wCos = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    queries.join(corpus, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", adcScoreUdf(books, dsub)(col("qq"), col("code")))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= shortlist)
      .withColumn("cos", Dedup.dot(col("qe"), col("ne")) / (col("qn") * col("nn")))
      .withColumn("rnk", row_number().over(wCos))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), round(col("cos"), 4).as("cos"))
  }

  /** n06: IVF-PQ over the embeddings corpus, same query set as
    * n01/n02/n03 so recall is directly comparable. */
  def n06AnnIvfPq(spark: SparkSession, dir: String): DataFrame =
    annIvfPq(embeddings(spark, dir), col("vec_id") < 25, k = 5,
      preQ = Some(embeddingsQ(spark, dir)),
      preCoarse = Some(cachedCentsQ(spark, dir, 16, 2)))
      .orderBy("query_id", "rnk")

  // -------------------------------------------------------- d10 SemDeDup

  /**
   * SemDeDup-style semantic deduplication: cluster the corpus with
   * the fixed-point k-means codebook (the n03 trainer), then prune
   * WITHIN clusters — a document is a duplicate iff a lower-id
   * document in the SAME cluster has cosine ≥ tau. The all-pairs
   * work is confined to clusters (expected n²/k vs n² global) and
   * the cluster partitioning is the shuffle key, which is exactly
   * the SemDeDup trade: cross-cluster near-dups are unreachable by
   * construction — the accepted recall loss that makes semantic
   * dedup tractable at 100 TB. Membership thresholds on the
   * r4-rounded cosine (the n05 rule), and the deterministic
   * codebook means the cluster assignment — and therefore the dup
   * set — is reproducible run to run, engine to engine.
   */
  def semDedup(emb: DataFrame, lists: Int, iters: Int, tau: Double,
      trainFrac: Double = 1.0): DataFrame = {
    val withN = quantized(emb).localCheckpoint(true)
    // trainFrac < 1 trains the codebook on a deterministic hash-sample
    // of the corpus — the standard at-scale k-means config: centroid
    // training costs n·k·dims per iteration, so growing BOTH the
    // corpus and the cluster count (the constant-cluster-size rule)
    // makes full-corpus training quadratic in scale; sampled training
    // restores linearity and every vector is still ASSIGNED. The
    // oracle-gated d10 keeps trainFrac = 1 (full replay).
    val trainSet =
      if (trainFrac >= 1.0) withN
      else withN.filter(
        pmod(xxhash64(col("vec_id")), lit(1000000L)) < (trainFrac * 1000000L).toLong)
    val cents = ivfCentroidsQ(trainSet.select("vec_id", "q"), lists, iters)
    // assignment materializes once: `clustered` is referenced by both
    // pair-join sides AND the output frame — without the checkpoint
    // the k×dims argmax UDF would re-run over the corpus three times
    val clustered = withN.withColumn("cid", nearestListUdf(cents)(col("q")))
      .localCheckpoint(true)
    val a = clustered.select(col("cid"), col("vec_id").as("id1"),
      col("e").as("e1"), col("nrm").as("n1"))
    val b = clustered.select(col("cid"), col("vec_id").as("id2"),
      col("e").as("e2"), col("nrm").as("n2"))
    val dups = a.join(b, Seq("cid"))
      .filter(col("id1") < col("id2"))
      .filter(Norm.r4(Dedup.dot(col("e1"), col("e2")) / (col("n1") * col("n2"))) >= tau)
      .select(col("id2").as("vec_id")).distinct()
    clustered.select(col("vec_id"), col("cid"))
      .join(dups.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** d10: semantic dedup over the twin-injected corpus (the d05
    * tables) — every scaled twin shares its original's unit vector,
    * so it must land in the same cluster and be marked. */
  def d10SemDedup(spark: SparkSession, dir: String): DataFrame =
    semDedup(Dedup.embCorpus(spark, dir).select("vec_id", "e"),
      lists = 16, iters = 2, tau = 0.85)
      .orderBy("vec_id")

  /**
   * Per-label embedding centroids as (label, dim, value) rows — the
   * class-prototype / cluster-statistics primitive (nearest-centroid
   * classification, drift monitoring, IVF seeding). posexplode +
   * (label, dim) hash aggregate: the per-dimension means reduce
   * map-side, so the ONE shuffle carries |labels|·dims partial sums,
   * not vectors. Long form (not reassembled arrays) keeps the output
   * joinable and the aggregation codegen-friendly.
   */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("e")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(round(avg("v"), 4).as("centroid"), count(lit(1)).as("n_vectors"))

  /** n04: 64-dim centroid of every label over the embeddings table. */
  def n04LabelCentroids(spark: SparkSession, dir: String): DataFrame =
    labelCentroids(embeddings(spark, dir))
      .orderBy("label", "dim")

  // --------------------------------------------------------- oracle SQL

  /**
   * Full DuckDB replay of the IVF path: quantize → seed → `iters`
   * unrolled Lloyd iterations (integer argmax assignment, exact
   * integer per-list sums, driver-identical mean/renormalize/
   * re-quantize) → corpus assignment → nprobe probing → exact cosine
   * re-rank. Every cross-engine-sensitive reduction is integer
   * arithmetic on the 1e-6 grid, so the unroll is exact, not
   * approximately-replayed.
   */
  private val GridS = "1000000.0"

  private def ivfIntDot(dims: Int, a: String, b: String) =
    s"list_sum(list_transform(range(1, ${dims + 1}), i -> $a.q[i] * $b.cq[i]))"

  /** Coarse-assignment subselect: every vector ranked against the
    * `cents` table by exact integer dot, lowest cid on ties. */
  private def ivfAssignFrom(dims: Int, cents: String, extra: String) =
    s"""    SELECT x.vec_id, x.e, x.q, c.cid,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY ${ivfIntDot(dims, "x", "c")} DESC, c.cid) AS rn
       |    FROM uq x CROSS JOIN $cents c$extra""".stripMargin

  /** Default corpus CTE: the natural embeddings, zero-norm filtered. */
  private val defaultEmbSql =
    """WITH emb AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |  WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0
      |)""".stripMargin

  /** emb + quantized-unit-vector + coarse-seed CTEs. */
  private def ivfHead(dims: Int, lists: Int, embSql: String = defaultEmbSql): String =
    embSql +
    s""", uq AS (
       |  SELECT vec_id, e, list_transform(e, x ->
       |    CAST(round(x / sqrt(list_sum(list_transform(e, y -> y * y))) * $GridS) AS BIGINT)) AS q
       |  FROM emb
       |), c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, q AS cq
       |  FROM uq ORDER BY vec_id LIMIT $lists
       |)""".stripMargin

  /** `iters` unrolled spherical-Lloyd iterations c0 → c`iters`. */
  private def ivfLoop(dims: Int, iters: Int): String =
    (1 to iters).map { i =>
      s""", a$i AS (
         |  SELECT vec_id, q, cid FROM (
         |${ivfAssignFrom(dims, s"c${i - 1}", "")}) WHERE rn = 1
         |), s$i AS (
         |  SELECT cid, dim, sum(qv) AS s, count(*) AS n FROM (
         |    SELECT cid, unnest(q) AS qv, generate_subscripts(q, 1) - 1 AS dim FROM a$i)
         |  GROUP BY 1, 2
         |), m$i AS (
         |  SELECT cid, list(CAST(s AS DOUBLE) / (n * $GridS) ORDER BY dim) AS mv
         |  FROM s$i GROUP BY cid
         |), r$i AS (
         |  SELECT c.cid, coalesce(m.mv, list_transform(c.cq, v -> CAST(v AS DOUBLE) / $GridS)) AS m0
         |  FROM c${i - 1} c LEFT JOIN m$i m ON c.cid = m.cid
         |), c$i AS (
         |  SELECT cid, list_transform(
         |    CASE WHEN sqrt(list_sum(list_transform(m0, x -> x * x))) > 0
         |      THEN list_transform(m0, x -> x / sqrt(list_sum(list_transform(m0, y -> y * y))))
         |      ELSE m0 END,
         |    x -> CAST(round(x * $GridS) AS BIGINT)) AS cq
         |  FROM r$i
         |)""".stripMargin
    }.mkString

  /** Final coarse corpus-assignment + query-probe CTEs. */
  private def ivfProbes(dims: Int, iters: Int, nprobe: Int, queryMax: Int): String =
    s""", corpus AS (
       |  SELECT vec_id, e, cid FROM (
       |${ivfAssignFrom(dims, s"c$iters", "")}) WHERE rn = 1
       |), probes AS (
       |  SELECT vec_id, e, cid FROM (
       |${ivfAssignFrom(dims, s"c$iters", s" WHERE x.vec_id < $queryMax")}) WHERE rn <= $nprobe
       |)""".stripMargin

  private def ivfOracleSql(lists: Int, nprobe: Int, iters: Int,
      dims: Int, queryMax: Int): String =
    ivfHead(dims, lists) + ivfLoop(dims, iters) +
      ivfProbes(dims, iters, nprobe, queryMax) +
      s""", scored AS (
         |  SELECT p.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    list_cosine_similarity(p.e, n.e) AS cos
         |  FROM probes p JOIN corpus n ON p.cid = n.cid AND p.vec_id <> n.vec_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, rnk, round(cos, 4) + 0 AS cos
         |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /**
   * n06 replay: coarse training (shared CTEs above) + per-subspace PQ
   * k-means (integer L2 argmin, exact integer sums, round(mean) —
   * all m subspaces trained in the same CTEs keyed by `s`) + corpus
   * encoding + integer ADC scoring + shortlist + exact re-rank.
   */
  private def pqOracleSql(lists: Int, nprobe: Int, coarseIters: Int,
      m: Int, codewords: Int, pqIters: Int, shortlist: Int, k: Int,
      dims: Int, queryMax: Int): String = {
    val dsub = dims / m
    def sub(alias: String) = s"$alias.q[(s.s*$dsub+1):(s.s*$dsub+$dsub)]"
    def l2(a: String, c: String) =
      s"list_sum(list_transform(range(1, ${dsub + 1}), i -> ($a.sq[i] - $c.cq[i]) * ($a.sq[i] - $c.cq[i])))"
    def pqAssign(books: String) =
      s"""    SELECT x.vec_id, x.s, x.sq, c.cid,
         |      row_number() OVER (PARTITION BY x.vec_id, x.s
         |        ORDER BY ${l2("x", "c")} ASC, c.cid) AS rn
         |    FROM sub x JOIN $books c ON x.s = c.s""".stripMargin
    val pqHead =
      s""", ss AS (SELECT unnest(range(0, $m)) AS s
       |), sub AS (
       |  SELECT x.vec_id, s.s AS s, ${sub("x")} AS sq
       |  FROM uq x CROSS JOIN ss s
       |), pq0 AS (
       |  SELECT s.s AS s, c.cid, ${sub("c")} AS cq
       |  FROM (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, q
       |        FROM uq ORDER BY vec_id LIMIT $codewords) c
       |  CROSS JOIN ss s
       |)""".stripMargin
    val pqLoop = (1 to pqIters).map { i =>
      s""", pa$i AS (
         |  SELECT vec_id, s, sq, cid FROM (
         |${pqAssign(s"pq${i - 1}")}) WHERE rn = 1
         |), ps$i AS (
         |  SELECT s, cid, dim, sum(qv) AS sv, count(*) AS n FROM (
         |    SELECT s, cid, unnest(sq) AS qv, generate_subscripts(sq, 1) - 1 AS dim FROM pa$i)
         |  GROUP BY 1, 2, 3
         |), pm$i AS (
         |  SELECT s, cid, list(CAST(round(CAST(sv AS DOUBLE) / n) AS BIGINT) ORDER BY dim) AS mv
         |  FROM ps$i GROUP BY s, cid
         |), pq$i AS (
         |  SELECT c.s, c.cid, coalesce(m.mv, c.cq) AS cq
         |  FROM pq${i - 1} c LEFT JOIN pm$i m ON c.s = m.s AND c.cid = m.cid
         |)""".stripMargin
    }.mkString
    val tail =
      s""", codes AS (
         |  SELECT vec_id, s, cid AS code FROM (
         |${pqAssign(s"pq$pqIters")}) WHERE rn = 1
         |), adc AS (
         |  SELECT p.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    sum(list_sum(list_transform(range(1, ${dsub + 1}),
         |      i -> qs.sq[i] * pc.cq[i]))) AS score
         |  FROM probes p
         |  JOIN corpus n ON p.cid = n.cid AND p.vec_id <> n.vec_id
         |  JOIN sub qs ON qs.vec_id = p.vec_id
         |  JOIN codes cd ON cd.vec_id = n.vec_id AND cd.s = qs.s
         |  JOIN pq$pqIters pc ON pc.s = cd.s AND pc.cid = cd.code
         |  GROUP BY 1, 2
         |), short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS rn
         |    FROM adc) WHERE rn <= $shortlist
         |), scored AS (
         |  SELECT t.query_id, t.neighbor_id, list_cosine_similarity(a.e, b.e) AS cos
         |  FROM short t
         |  JOIN emb a ON a.vec_id = t.query_id
         |  JOIN emb b ON b.vec_id = t.neighbor_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, rnk, round(cos, 4) + 0 AS cos
         |FROM ranked WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin
    ivfHead(dims, lists) + ivfLoop(dims, coarseIters) +
      ivfProbes(dims, coarseIters, nprobe, queryMax) + pqHead + pqLoop + tail
  }

  /** Full n09 replay: quantize (ivfHead's q expression), per-dim mean
    * via sign-split integer division, centered pair-product HUGEINT
    * Gram, then `iters` unrolled max-norm matvec steps — every
    * division truncation-toward-zero on non-negative operands, same
    * as the driver's BigInt loop. */
  private def pcaPowerSql(dims: Int, iters: Int): String = {
    val head = defaultEmbSql +
      s""", uq AS (
         |  SELECT vec_id, list_transform(e, x ->
         |    CAST(round(x / sqrt(list_sum(list_transform(e, y -> y * y))) * $GridS) AS BIGINT)) AS q
         |  FROM emb
         |), cnt AS (SELECT count(*) AS n FROM uq),
         |tr AS MATERIALIZED (
         |  SELECT vec_id, generate_subscripts(q, 1) - 1 AS i, unnest(q) AS x FROM uq
         |), mu AS (
         |  SELECT i, CASE WHEN s < 0 THEN -((-s) // (SELECT n FROM cnt))
         |    ELSE s // (SELECT n FROM cnt) END AS mu
         |  FROM (SELECT i, sum(x) AS s FROM tr GROUP BY i)
         |), ctr AS (
         |  SELECT t.vec_id, t.i, t.x - m.mu AS cx FROM tr t JOIN mu m ON t.i = m.i
         |), cov AS (
         |  SELECT a.i AS i, b.i AS j, CAST(sum(a.cx * b.cx) AS HUGEINT) AS c
         |  FROM ctr a JOIN ctr b ON a.vec_id = b.vec_id AND a.i <= b.i
         |  GROUP BY a.i, b.i
         |), covf AS MATERIALIZED (
         |  SELECT i, j, c FROM cov
         |  UNION ALL SELECT j AS i, i AS j, c FROM cov WHERE i <> j
         |), v0 AS (
         |  SELECT unnest(range(0, $dims)) AS dim, CAST(1000000 AS HUGEINT) AS v
         |)""".stripMargin
    val steps = (1 to iters).map { k =>
      val prev = s"v${k - 1}"
      s""", w$k AS MATERIALIZED (
         |  SELECT cf.i AS dim, sum(cf.c * p.v) AS w
         |  FROM covf cf JOIN $prev p ON cf.j = p.dim GROUP BY cf.i
         |), m$k AS (SELECT max(abs(w)) AS m FROM w$k),
         |v$k AS MATERIALIZED (
         |  SELECT dim, CASE WHEN w < 0
         |    THEN -((-w) * 1000000 // (SELECT m FROM m$k))
         |    ELSE w * 1000000 // (SELECT m FROM m$k) END AS v
         |  FROM w$k
         |)""".stripMargin
    }.mkString
    head + steps +
      s"""
         |SELECT dim, CAST(v AS BIGINT) AS loading_micro,
         |  round(CAST(v AS BIGINT) / 1000000.0, 4) + 0 AS loading
         |FROM v$iters ORDER BY dim""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "n09_pca_power" -> pcaPowerSql(dims = 64, iters = 8),
    // n11: shared unrolled-Lloyd CTEs at (8, 4), final assignment +
    // integer dot to own centroid + k-row size join
    // n14: the rank-1/rank-2 assignment dots from the same unrolled
    // Lloyd CTEs; s quantizes to 1e-6 per row before the cluster mean
    "n14_silhouette" -> (ivfHead(64, 8) + ivfLoop(64, 4) +
      s""", asg AS (
         |  SELECT x.vec_id, c.cid,
         |    ${ivfIntDot(64, "x", "c")} AS dotm,
         |    row_number() OVER (PARTITION BY x.vec_id
         |      ORDER BY ${ivfIntDot(64, "x", "c")} DESC, c.cid) AS rn
         |  FROM uq x CROSS JOIN c4 c
         |), sv AS (
         |  SELECT a.vec_id, a.cid,
         |    1.0 - a.dotm / 1000000000000.0 AS da,
         |    1.0 - b.dotm / 1000000000000.0 AS db
         |  FROM asg a JOIN asg b ON a.vec_id = b.vec_id
         |  WHERE a.rn = 1 AND b.rn = 2
         |), g AS (
         |  SELECT vec_id, cid,
         |    CAST(round(CASE WHEN greatest(da, db) > 0
         |      THEN (db - da) / greatest(da, db) ELSE 0.0 END * 1000000)
         |      AS BIGINT) AS sq
         |  FROM sv
         |)
         |SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
         |  round(sum(sq) / 1000000.0 / count(*), 4) + 0 AS mean_sil,
         |  round(min(sq) / 1000000.0, 4) + 0 AS min_sil,
         |  round(max(sq) / 1000000.0, 4) + 0 AS max_sil
         |FROM g GROUP BY cid ORDER BY cid""".stripMargin),
    "n11_kmeans" -> (ivfHead(64, 8) + ivfLoop(64, 4) +
      s""", fin AS (
         |  SELECT vec_id, q, cid FROM (
         |${ivfAssignFrom(64, "c4", "")}) WHERE rn = 1
         |), dots AS (
         |  SELECT f.vec_id, f.cid,
         |    list_sum(list_transform(range(1, 65), i -> f.q[i] * c.cq[i])) AS dotm
         |  FROM fin f JOIN c4 c ON f.cid = c.cid
         |), sz AS (
         |  SELECT cid, CAST(count(*) AS BIGINT) AS n_members FROM fin GROUP BY cid
         |)
         |SELECT d.vec_id, d.cid, s.n_members,
         |  round(dotm / 1000000000000.0, 4) + 0 AS cos_to_centroid
         |FROM dots d JOIN sz s ON d.cid = s.cid
         |ORDER BY d.vec_id""".stripMargin),
    "n03_ann_ivf" -> ivfOracleSql(lists = 16, nprobe = 4, iters = 4,
      dims = 64, queryMax = 25),
    // n13: the n03 candidate chain, re-ranked by the exact integer
    // dot of the unit-grid vectors (uq joined back on both sides)
    "n13_ivf_rerank" -> (ivfHead(64, 16) + ivfLoop(64, 4) +
      ivfProbes(64, 4, 4, 25) +
      s""", scored AS (
         |  SELECT p.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    CAST(list_sum(list_transform(range(1, 65),
         |      i -> a.q[i] * b.q[i])) AS BIGINT) AS dotq
         |  FROM probes p JOIN corpus n ON p.cid = n.cid AND p.vec_id <> n.vec_id
         |  JOIN uq a ON a.vec_id = p.vec_id
         |  JOIN uq b ON b.vec_id = n.vec_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY dotq DESC, neighbor_id) AS rnk
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, rnk, dotq,
         |  round(dotq / 1000000000000.0, 4) + 0 AS cos
         |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    "n06_ann_ivfpq" -> pqOracleSql(lists = 16, nprobe = 4, coarseIters = 2,
      m = 8, codewords = 16, pqIters = 2, shortlist = 20, k = 5,
      dims = 64, queryMax = 25),
    // same corpus construction as d05 (twin-injected), then the n03
    // Lloyd unroll at (16, 2) and a within-cluster all-pairs prune
    "d10_semdedup" -> (ivfHead(dims = 64, lists = 16, embSql =
      """WITH emb0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.2)
        |  FROM embeddings WHERE vec_id % 10 = 0
        |), emb AS (
        |  SELECT vec_id, e FROM emb0
        |  WHERE list_sum(list_transform(e, x -> x * x)) > 0
        |)""".stripMargin) +
      ivfLoop(dims = 64, iters = 2) +
      s""", clustered AS (
         |  SELECT vec_id, e, cid FROM (
         |${ivfAssignFrom(64, "c2", "")}) WHERE rn = 1
         |), dups AS (
         |  SELECT DISTINCT b.vec_id FROM clustered a JOIN clustered b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.e, b.e), 4) >= 0.85
         |)
         |SELECT c.vec_id, c.cid, (d.vec_id IS NOT NULL) AS is_dup
         |FROM clustered c LEFT JOIN dups d ON c.vec_id = d.vec_id
         |ORDER BY c.vec_id""".stripMargin),
    "n04_label_centroids" ->
      """WITH e AS (
        |  SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |), x AS (
        |  SELECT label, unnest(e) AS v, generate_subscripts(e, 1) - 1 AS dim FROM e
        |)
        |SELECT label, CAST(dim AS INT) AS dim,
        |  round(avg(v), 4) + 0 AS centroid,
        |  count(*) AS n_vectors
        |FROM x GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,
    "n05_radius_search" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0
        |),
        |q AS (SELECT vec_id AS query_id, e AS qe FROM emb WHERE vec_id < 25)
        |-- threshold the ROUNDED cosine, mirroring radiusSearch: the
        |-- membership decision is made on the identical 4-dp value
        |SELECT q.query_id, n.vec_id AS neighbor_id,
        |  round(list_cosine_similarity(q.qe, n.e), 4) + 0 AS cos
        |FROM q JOIN emb n ON q.query_id <> n.vec_id
        |WHERE round(list_cosine_similarity(q.qe, n.e), 4) >= 0.3
        |ORDER BY query_id, neighbor_id""".stripMargin,
    // n10: per-dim global extrema → byte quantization → INTEGER dot
    // ranking: every score an exact i64 (min/max are exact picks, the
    // quantization arithmetic the same IEEE ops on the same operands)
    "n10_sq8_knn" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |), mm AS (
        |  SELECT i, min(e[i]) AS mn, max(e[i]) AS mx
        |  FROM emb, unnest(generate_series(1, len(e))) AS t(i)
        |  GROUP BY 1
        |), qrow AS (
        |  SELECT vec_id, i,
        |    CASE WHEN mx > mn
        |      THEN CAST(floor((e[i] - mn) / (mx - mn) * 255 + 0.5) AS BIGINT)
        |      ELSE 0 END AS qv
        |  FROM emb, unnest(generate_series(1, len(e))) AS t(i)
        |  JOIN mm USING (i)
        |), dots AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    CAST(sum(a.qv * b.qv) AS BIGINT) AS dotq
        |  FROM qrow a JOIN qrow b ON a.i = b.i
        |  WHERE a.vec_id < 25 AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY dotq DESC, neighbor_id) AS rnk
        |  FROM dots
        |)
        |SELECT query_id, neighbor_id, rnk, dotq
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // n12: same 1e-6 quantization per coordinate, exact integer dot
    // via the n10 unnest-join shape — ranking is an i64 comparison
    // in both engines, no FP in the ordering at all
    "n12_mips" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |), qrow AS (
        |  SELECT vec_id, i,
        |    CAST(round(e[i] * 1000000.0) AS BIGINT) AS qv
        |  FROM emb, unnest(generate_series(1, len(e))) AS t(i)
        |), dots AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    CAST(sum(a.qv * b.qv) AS BIGINT) AS ip_micro
        |  FROM qrow a JOIN qrow b ON a.i = b.i
        |  WHERE a.vec_id % 37 = 0 AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY ip_micro DESC, neighbor_id) AS rnk
        |  FROM dots
        |)
        |SELECT query_id, neighbor_id, rnk, ip_micro,
        |  round(ip_micro / 1000000000000.0, 4) + 0 AS ip
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "n01_knn_brute" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  -- mirror knnBrute's zero-norm filter (no cosine direction)
        |  WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0
        |),
        |q AS (SELECT vec_id AS query_id, e AS qe FROM emb WHERE vec_id < 25),
        |s AS (
        |  SELECT q.query_id, n.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qe, n.e) AS cos
        |  FROM q JOIN emb n ON q.query_id <> n.vec_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, rnk, round(cos, 4) + 0 AS cos
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // n01's CTE chain + a label join, vote aggregate and argmax
    // window with the same (votes desc, label asc) tie-break
    "n07_knn_classify" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0
        |),
        |q AS (SELECT vec_id AS query_id, e AS qe FROM emb WHERE vec_id < 25),
        |s AS (
        |  SELECT q.query_id, n.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qe, n.e) AS cos
        |  FROM q JOIN emb n ON q.query_id <> n.vec_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        |  FROM s
        |), v AS (
        |  SELECT r.query_id, l.label, count(*) AS n_votes
        |  FROM r JOIN embeddings l ON r.neighbor_id = l.vec_id
        |  WHERE r.rnk <= 5 GROUP BY 1, 2
        |), top AS (
        |  SELECT query_id, label,
        |    CAST(n_votes AS BIGINT) AS n_votes,
        |    row_number() OVER (PARTITION BY query_id ORDER BY n_votes DESC, label) AS rn
        |  FROM v
        |)
        |SELECT query_id, label AS pred_label, n_votes
        |FROM top WHERE rn = 1 ORDER BY query_id""".stripMargin,
    // full LSH replay: the same polyHyperplanes sign matrix (squared
    // multiplicative hash of the flat plane*64+dim index), the same
    // 8-band × 3-bit buckets, the same candidate join + exact cosine
    // re-rank — so the ANN path itself sits under the hash gate
    // n08: n01's exact chain + n02's full LSH replay, inner-joined on
    // (query, neighbor) — recall is deterministic because both sides
    // tie-break on raw cosine then neighbor_id in both engines
    "n08_ann_recall" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0
        |), q AS (SELECT vec_id AS query_id, e AS qe FROM emb WHERE vec_id < 25),
        |s AS (
        |  SELECT q.query_id, n.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qe, n.e) AS cos
        |  FROM q JOIN emb n ON q.query_id <> n.vec_id
        |), re AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        |  FROM s
        |), exact AS (
        |  SELECT query_id, neighbor_id FROM re WHERE rnk <= 5
        |), planes AS (
        |  SELECT p.p AS p, list_transform(range(0, 64), d ->
        |    CASE WHEN ((((((p.p * 64 + d + 1) * 2654435761) % 1000000007)
        |                * (((p.p * 64 + d + 1) * 2654435761) % 1000000007))
        |                % 1000000007 >> 7) & 1) = 1
        |      THEN 1.0 ELSE -1.0 END) AS pv
        |  FROM (SELECT unnest(range(0, 24)) AS p) p
        |), sig AS (
        |  SELECT e.vec_id,
        |    CAST(sum(CASE WHEN list_dot_product(e.e, pl.pv) > 0
        |      THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS BIGINT) AS sig
        |  FROM emb e, planes pl GROUP BY 1
        |), banded AS (
        |  SELECT s2.vec_id, b.b AS band, (s2.sig >> (b.b * 3)) & 7 AS bv
        |  FROM sig s2, (SELECT unnest(range(0, 8)) AS b) b
        |), cand AS (
        |  SELECT DISTINCT qb.vec_id AS query_id, n.vec_id AS neighbor_id
        |  FROM banded qb JOIN banded n ON qb.band = n.band AND qb.bv = n.bv
        |  WHERE qb.vec_id < 25 AND qb.vec_id <> n.vec_id
        |), scored AS (
        |  SELECT c.query_id, c.neighbor_id, list_cosine_similarity(a.e, b.e) AS cos
        |  FROM cand c
        |  JOIN emb a ON a.vec_id = c.query_id
        |  JOIN emb b ON b.vec_id = c.neighbor_id
        |), ra AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        |  FROM scored
        |), approx AS (
        |  SELECT query_id, neighbor_id FROM ra WHERE rnk <= 5
        |), hit AS (
        |  SELECT e2.query_id, count(*) AS n_hit
        |  FROM exact e2 JOIN approx a2 USING (query_id, neighbor_id) GROUP BY 1
        |), ex AS (
        |  SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1
        |)
        |SELECT query_id, CAST(n_exact AS BIGINT) AS n_exact,
        |  CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
        |  round(coalesce(n_hit, 0) * 1.0 / n_exact, 4) + 0 AS recall
        |FROM ex LEFT JOIN hit USING (query_id) ORDER BY query_id""".stripMargin,
    "n02_ann_lsh" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0
        |), planes AS (
        |  SELECT p.p AS p, list_transform(range(0, 64), d ->
        |    CASE WHEN ((((((p.p * 64 + d + 1) * 2654435761) % 1000000007)
        |                * (((p.p * 64 + d + 1) * 2654435761) % 1000000007))
        |                % 1000000007 >> 7) & 1) = 1
        |      THEN 1.0 ELSE -1.0 END) AS pv
        |  FROM (SELECT unnest(range(0, 24)) AS p) p
        |), sig AS (
        |  SELECT e.vec_id,
        |    CAST(sum(CASE WHEN list_dot_product(e.e, pl.pv) > 0
        |      THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS BIGINT) AS sig
        |  FROM emb e, planes pl GROUP BY 1
        |), banded AS (
        |  SELECT s.vec_id, b.b AS band, (s.sig >> (b.b * 3)) & 7 AS bv
        |  FROM sig s, (SELECT unnest(range(0, 8)) AS b) b
        |), cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
        |  FROM banded q JOIN banded n ON q.band = n.band AND q.bv = n.bv
        |  WHERE q.vec_id < 25 AND q.vec_id <> n.vec_id
        |), scored AS (
        |  SELECT c.query_id, c.neighbor_id, list_cosine_similarity(a.e, b.e) AS cos
        |  FROM cand c
        |  JOIN emb a ON a.vec_id = c.query_id
        |  JOIN emb b ON b.vec_id = c.neighbor_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rnk, round(cos, 4) + 0 AS cos
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
  )
}
