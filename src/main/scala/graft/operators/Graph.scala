package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/**
 * Graph analytics over relationship tables — the Pregel-shaped
 * message-passing family d06's connected components started,
 * expressed as joins + map-side-combined aggregates (the Spark-first
 * form of "vertex program + message sum"): no graph library, no
 * driver-side adjacency, state = one row per vertex.
 */
object Graph {

  /** Micro-unit scale: ranks live on a 1e-6 fixed-point grid as
    * LONGS, so every cross-engine / cross-partition reduction is an
    * INTEGER sum — order-independent, bit-reproducible at any
    * partition count, and replayable verbatim by the generated
    * DuckDB CTEs (the n03 codebook rule applied to graph state). */
  val Scale = 1000000L

  /**
   * PageRank with damping d = 0.85, fixed `iters` power iterations
   * from the uniform vector — fixed iteration count, not a
   * convergence test, so the oracle can unroll the loop exactly.
   *
   * Per iteration (all declarative):
   *   contrib(v) = Σ_{u→v} r(u) div outdeg(u)   — integer floor
   *   division loses < outdeg(u) micro-units per vertex
   *   (deterministically, identically in both engines);
   *   dangling mass = Σ r(u) over outdeg-0 vertices (one 1-row
   *   aggregate, broadcast-cross-joined);
   *   r'(v) = teleport + round(d · (contrib(v) + dangling/N)).
   * outdeg rides INSIDE the rank state (joined once at setup), so an
   * iteration is exactly one shuffle join with the edge list on src
   * plus one shuffle aggregate on dst — no per-vertex table is ever
   * broadcast (|V| is cluster-scale; only the 1-row dangling
   * aggregate broadcasts). Each round cuts lineage with
   * localCheckpoint (the d06 rule — cache() alone grows the plan
   * exponentially).
   *
   * `edges` must be (src, dst) pairs; vertices = edge endpoints.
   */
  /** Spark's Round-on-double, replicated for the driver-resident
    * rank loops: BigDecimal.valueOf (= Double.toString) + HALF_UP —
    * the exact expression semantics, so the regimes are bit-equal. */
  private def sparkRound0(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** Driver-resident regime gate for the iterative rank loops: below
    * this edge count the whole power iteration runs on the driver
    * over collected CSR arrays (ONE collect job; zero per-iteration
    * jobs). The integer rank state makes the twin EXACT, not approximate:
    * contributions are integer floor-divs summed in any order, and
    * the single double op per vertex replicates Spark's Round
    * ([[sparkRound0]]). Above the gate the declarative loop runs
    * unchanged (one edge join + one dst aggregate per round) — the
    * cluster-scale path; the 10× bench graphs (12M edges) stay on
    * it. Regime equality is spec-pinned bit-for-bit. */
  private def driverEdgeMax(spark: SparkSession): Long =
    spark.conf.get("spark.graft.graph.driverEdges", "4000000").toLong

  /** Conservative driver-heap cost of one collected edge Row: two
    * boxed endpoints + Row shell + index HashMap entry. */
  private val DriverRegimeBytesPerEdge = 200L

  /** Full admission test for the driver-resident regime: the
    * row-count knob AND a heap guard — collected edges must fit in a
    * quarter of the driver's max heap at ~200 B/edge, so the 4M-edge
    * default needs ≈ 3.2 GiB of driver heap; on a default-1g-driver
    * cluster the guard caps admission near 1.3M edges and everything
    * larger takes the declarative loop (the at-scale path) instead
    * of OOMing the driver. Raising `spark.graft.graph.driverEdges`
    * therefore also requires `spark.driver.memory` ≥ edges·800 B. */
  private def driverRegimeOk(spark: SparkSession, edgeCount: Long): Boolean =
    edgeCount <= driverEdgeMax(spark) &&
      edgeCount * DriverRegimeBytesPerEdge <= Runtime.getRuntime.maxMemory / 4

  /** Broadcast-state regime gate for the iterative loops' DISTRIBUTED
    * path: when the per-iteration small state (rank vector / label
    * vector / survivor set / BFS reached set — one row per VERTEX)
    * fits a broadcast, the loop joins it to the once-materialized
    * edge table as the BUILD side, so the edge list — the 100 TB
    * side — never crosses an exchange after setup; the only
    * per-iteration shuffle is the |V|-bounded state aggregate
    * (map-side combined). Above the gate the plain shuffle loop runs
    * unchanged — when |V| itself is cluster-scale a broadcast would
    * OOM every executor, and rank/edge co-partitioning is the only
    * correct plan. `broadcast()` is a planner HINT over the same
    * expressions, so the two regimes are structurally bit-equal
    * (spec-pinned anyway). Heap guard mirrors [[driverRegimeOk]]:
    * the driver assembles the broadcast relation at ~100 B/row and
    * must hold it in an eighth of its heap — a default-1g driver
    * caps near 1.3M vertices, the 4M default needs ≥ 3.2 GiB. */
  private def broadcastVertexMax(spark: SparkSession): Long =
    spark.conf.get("spark.graft.graph.broadcastVertices", "4000000").toLong

  private val BroadcastRegimeBytesPerVertex = 100L

  private def broadcastRegimeOk(spark: SparkSession, vertexCount: Long): Boolean =
    vertexCount <= broadcastVertexMax(spark) &&
      vertexCount * BroadcastRegimeBytesPerVertex <= Runtime.getRuntime.maxMemory / 8

  /** `broadcast()` as a regime-gated hint. */
  private def mb(df: DataFrame, on: Boolean): DataFrame =
    if (on) broadcast(df) else df

  /** Collect for the driver regimes that degrades instead of dying:
    * a `spark.driver.maxResultSize` overflow (the one collect
    * failure Spark raises catchably) returns None and the caller
    * falls through to the declarative loop. */
  private def collectDriver(df: DataFrame): Option[Array[org.apache.spark.sql.Row]] =
    try Some(df.collect())
    catch {
      case e: org.apache.spark.SparkException
          if e.getMessage != null && e.getMessage.contains("maxResultSize") =>
        None
    }

  /** Shared driver-resident integer power iteration: `seedsOpt`
    * None = uniform PageRank, Some = personalized (teleport and
    * dangling mass return to the seed set). Arithmetic is the
    * DataFrame loop's, operand for operand. */
  private def rankDriver(spark: SparkSession,
      erows: Array[org.apache.spark.sql.Row],
      nodeType: org.apache.spark.sql.types.DataType, iters: Int,
      seedsOpt: Option[DataFrame]): DataFrame = {
    val idx = new java.util.HashMap[Any, Integer]()
    def nodeIdx(v: Any): Int = {
      var i = idx.get(v)
      if (i == null) { i = idx.size(); idx.put(v, i) }
      i.intValue()
    }
    val srcIdx = new Array[Int](erows.length)
    val dstIdx = new Array[Int](erows.length)
    var ei = 0
    while (ei < erows.length) {
      srcIdx(ei) = nodeIdx(erows(ei).get(0))
      dstIdx(ei) = nodeIdx(erows(ei).get(1))
      ei += 1
    }
    val n = idx.size()
    val nodesArr = new Array[Any](n)
    idx.forEach((k, v) => nodesArr(v.intValue()) = k)
    val outdeg = new Array[Long](n)
    ei = 0
    while (ei < erows.length) { outdeg(srcIdx(ei)) += 1L; ei += 1 }
    val isSeed = new Array[Boolean](n)
    val sCount: Long = seedsOpt match {
      case None => 0L
      case Some(sd) =>
        sd.select(col("node")).distinct().collect().foreach { r =>
          val i = idx.get(r.get(0))
          if (i != null) isSeed(i.intValue()) = true
        }
        isSeed.count(identity).toLong
    }
    if (seedsOpt.isDefined)
      require(sCount >= 1, "ppr: seed set is empty (or disjoint from the graph)")
    val r = new Array[Long](n)
    val teleport =
      if (seedsOpt.isDefined) math.round(0.15 * Scale.toDouble / sCount)
      else math.round(0.15 * Scale.toDouble / n)
    var v0 = 0
    while (v0 < n) {
      r(v0) =
        if (seedsOpt.isDefined) { if (isSeed(v0)) Scale / sCount else 0L }
        else Scale / n
      v0 += 1
    }
    val cval = new Array[Long](n)
    val contrib = new Array[Long](n)
    for (_ <- 1 to iters) {
      var i = 0
      var dm = 0L
      while (i < n) {
        if (outdeg(i) > 0) cval(i) = r(i) / outdeg(i) else dm += r(i)
        contrib(i) = 0L
        i += 1
      }
      ei = 0
      while (ei < erows.length) {
        contrib(dstIdx(ei)) += cval(srcIdx(ei))
        ei += 1
      }
      i = 0
      while (i < n) {
        r(i) =
          if (seedsOpt.isDefined)
            (if (isSeed(i)) teleport else 0L) +
              sparkRound0(0.85 * (contrib(i) +
                (if (isSeed(i)) dm / sCount else 0L)).toDouble)
          else teleport + sparkRound0(0.85 * (contrib(i) + dm / n).toDouble)
        i += 1
      }
    }
    // final projection (incl. the 4-dp round) runs as the SAME Spark
    // expressions over the LocalRelation — no second rounding twin
    val rows: Array[org.apache.spark.sql.Row] =
      Array.tabulate(n)(i => org.apache.spark.sql.Row(nodesArr(i), r(i)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", nodeType),
        org.apache.spark.sql.types.StructField("r",
          org.apache.spark.sql.types.LongType))))
      .select(col("node"), col("r").as("rank_micro"),
        round(col("r") / Scale.toDouble, 4).as("rank"))
  }

  def pagerank(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"pagerank: iters in [1,50], got $iters")
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    if (driverRegimeOk(edges.sparkSession, e.count())) {
      val rowsOpt = collectDriver(e)
      if (rowsOpt.isDefined)
        return rankDriver(edges.sparkSession, rowsOpt.get,
          e.schema.fields(0).dataType, iters, None)
    }
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val n = nodes.count()
    // broadcast-state regime: the rank vector rides to the edges
    val bc = broadcastRegimeOk(edges.sparkSession, n)
    val teleport = math.round(0.15 * Scale.toDouble / n)
    val r0 = Scale / n // uniform start, floor to the grid
    // state = (node, outdeg, r): one shuffle join here, then outdeg
    // travels with the rank vector for the whole run
    var rank = nodes.join(outdeg, Seq("node"), "left")
      .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        lit(r0).as("r"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contrib = mb(rank.filter(col("outdeg") > 0)
          .select(col("node"), expr("r div outdeg").as("c")), bc)
        .join(e, col("node") === e("src"))
        .groupBy(col("dst").as("node")).agg(sum("c").as("contrib"))
      val dangling = rank.filter(col("outdeg") === 0)
        .agg(coalesce(sum("r"), lit(0L)).as("dm"))
      rank = rank.select(col("node"), col("outdeg"))
        .join(mb(contrib, bc), Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("outdeg"),
          (lit(teleport) + round(lit(0.85) *
            (coalesce(col("contrib"), lit(0L)) + expr(s"dm div ${n}L")))
            .cast("long")).as("r"))
        .localCheckpoint(true)
    }
    rank.select(col("node"), col("r").as("rank_micro"),
      round(col("r") / Scale.toDouble, 4).as("rank"))
  }

  /**
   * Personalized PageRank — the seed-biased variant behind
   * graph-based corpus expansion ("find documents/entities close to
   * THIS set"): teleport mass and dangling mass return to a SEED SET
   * instead of the uniform vector, so rank concentrates in the
   * seeds' neighborhood. Same integer-grid power iteration as
   * [[pagerank]] (floor-div contribs, one edge join + one dst
   * aggregate per round, only the 1-row dangling aggregate
   * broadcasts, lineage cut per round); the only new state is a
   * boolean `is_seed` riding the rank vector — joined once at setup,
   * never re-joined. r0 = Scale div |S| on seeds, 0 elsewhere;
   * r'(v) = [v∈S]·ts + round(0.85·(contrib(v) + [v∈S]·(dm div |S|)))
   * with ts = round(0.15·Scale/|S|).
   */
  def personalizedPagerank(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"ppr: iters in [1,50], got $iters")
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    if (driverRegimeOk(edges.sparkSession, e.count())) {
      val rowsOpt = collectDriver(e)
      if (rowsOpt.isDefined)
        return rankDriver(edges.sparkSession, rowsOpt.get,
          e.schema.fields(0).dataType, iters, Some(seeds))
    }
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val seed1 = seeds.select(col("node")).distinct()
      .withColumn("is_seed", lit(true))
    var rank = nodes.join(outdeg, Seq("node"), "left")
      .join(seed1, Seq("node"), "left")
      .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        coalesce(col("is_seed"), lit(false)).as("is_seed"))
      .localCheckpoint(true)
    // broadcast-state regime gate on |V| (rank is checkpointed: the
    // count is a metadata-cheap job, not a recompute)
    val bc = broadcastRegimeOk(edges.sparkSession, rank.count())
    val s = rank.filter(col("is_seed")).count()
    require(s >= 1, "ppr: seed set is empty (or disjoint from the graph)")
    val ts = math.round(0.15 * Scale.toDouble / s)
    var r = rank.withColumn("r",
        when(col("is_seed"), lit(Scale / s)).otherwise(lit(0L)))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contrib = mb(r.filter(col("outdeg") > 0)
          .select(col("node"), expr("r div outdeg").as("c")), bc)
        .join(e, col("node") === e("src"))
        .groupBy(col("dst").as("node")).agg(sum("c").as("contrib"))
      val dangling = r.filter(col("outdeg") === 0)
        .agg(coalesce(sum("r"), lit(0L)).as("dm"))
      r = r.select(col("node"), col("outdeg"), col("is_seed"))
        .join(mb(contrib, bc), Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("outdeg"), col("is_seed"),
          (when(col("is_seed"), lit(ts)).otherwise(lit(0L)) +
            round(lit(0.85) * (coalesce(col("contrib"), lit(0L)) +
              when(col("is_seed"), expr(s"dm div ${s}L")).otherwise(lit(0L))))
              .cast("long")).as("r"))
        .localCheckpoint(true)
    }
    r.select(col("node"), col("r").as("rank_micro"),
      round(col("r") / Scale.toDouble, 4).as("rank"))
  }

  /** g10: PPR over the bipartite trade graph, seeded at every 19th
    * customer — "entities in the trading neighborhood of this
    * customer cohort"; 5 iterations, top-20. */
  def g10Ppr(spark: SparkSession, dir: String): DataFrame = {
    val pairs = tradeEdges(spark, dir)
    val bi = pairs.select(col("c").as("src"), col("s").as("dst"))
      .union(pairs.select(col("s").as("src"), col("c").as("dst")))
    val seeds = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 19 === 0)
      .select(concat(lit("c"), col("c_custkey")).as("node"))
    personalizedPagerank(bi, seeds, iters = 5)
      .orderBy(col("rank_micro").desc, col("node"))
      .limit(20)
  }

  /** g01: PageRank over the customer–supplier trade graph (distinct
    * (cust, supp) pairs from lineitem ⋈ orders, one directed edge
    * EACH WAY so rank flows through the bipartite structure), 5
    * iterations, top-20 vertices. */
  def g01Pagerank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = tradeEdges(spark, dir)
    val bi = pairs.select(col("c").as("src"), col("s").as("dst"))
      .union(pairs.select(col("s").as("src"), col("c").as("dst")))
    pagerank(bi, iters = 5)
      .orderBy(col("rank_micro").desc, col("node"))
      .limit(20)
  }

  /** Session-lifetime caches for the family's shared edge/derived
    * tables ([[Tables.sessionCached]]): in production these ARE the
    * persisted artifacts of a graph pipeline — the edge projection
    * and the adjacency index are built once and queried by every
    * downstream job, not re-projected per query. Each graph operator
    * here was re-running the lineitem self-join + distinct +
    * checkpoint; one build per (session, dir) amortizes it across
    * the family exactly the way a warehouse materializes the view. */
  private val tradeCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private val coOrderCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private val coOrderAdjCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private val coOrderTriCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private[graft] def tradeEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.sessionCached(tradeCache, spark, dir + "|trade") {
      Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("c"),
          concat(lit("s"), col("l_suppkey")).as("s"))
        .distinct()
        .localCheckpoint(true)
    }

  // ------------------------------------------------- co-order graph

  /** Undirected co-order part graph: two parts are adjacent when some
    * order contains both. The projection self-join is keyed on
    * l_orderkey, so its fan-out is bounded by ORDER SIZE (≤7 lines in
    * TPC-H shapes) — a projection that stays safe at 100 TB, unlike
    * projecting through a hub key (a popular part never multiplies
    * anything; only its own order memberships do). */
  private[graft] def coOrderEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.sessionCached(coOrderCache, spark, dir + "|coorder") {
      // ONE groupBy + in-array pair explode instead of the old
      // distinct + sort-merge self-join + distinct (r19 item 1: the
      // join form paid two extra lineitem-scale shuffles; measured
      // 2.1 -> 1.55 s at sf0.1, same 1.196M edges). collect_set
      // dedups parts within the order, so the pair fan-out stays
      // bounded by ORDER SIZE (<= 7 in TPC-H shapes) — the same
      // hub-safety argument as before, one shuffle cheaper.
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      li.groupBy("ok").agg(sort_array(collect_set(col("p"))).as("ps"))
        .select(explode(flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))), y =>
            struct(x.as("u"), y.as("v")))))).as("e"))
        .select(col("e.u"), col("e.v")).distinct()
        .localCheckpoint(true)
    }

  /** Per-vertex sorted neighbor arrays of the co-order graph — the
    * adjacency INDEX the wedge operators (g04/g11) probe; one
    * groupBy-x shuffle builds it and the checkpoint pins its hash
    * partitioning so wedge joins against it carry no exchange. */
  private[graft] def coOrderAdjArrays(spark: SparkSession, dir: String): DataFrame =
    Tables.sessionCached(coOrderAdjCache, spark, dir + "|coadj") {
      adjArrays(coOrderEdges(spark, dir)).localCheckpoint(true)
    }

  private val coOrderWedgeCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  /** The g04/g11 link-prediction working set: wedge sources below this
    * vertex id. ONE constant, and the artifact's cache key derives
    * from it (r21 advice: a hardcoded "wedge500" key would silently
    * serve stale-shaped scores if one op's working set ever moved). */
  private[graft] val WedgeTargetMaxId = 500
  /** Shared wedge-score artifact of the link-prediction working set
    * (r21): g04 (jaccard) and g11 (Adamic–Adar) aggregate the SAME
    * wedge rows over the same adjacency and target set and anti-join
    * the same existing-edge table — only the final scoring column
    * differs. One (a, b, common, aa) non-edge pair table now serves
    * both (the g02/g08 producer/consumer pattern); it is |targets|-
    * bounded, deterministic (integer count; the double aa sum's
    * ordering ULPs are absorbed by g11's 4-dp round exactly as
    * before), and billed to whichever op builds it first. */
  private[graft] def coOrderWedgeScores(spark: SparkSession, dir: String): DataFrame =
    Tables.sessionCached(coOrderWedgeCache, spark, dir + "|wedge" + WedgeTargetMaxId) {
      val und = coOrderEdges(spark, dir)
      val scored = wedgeRows(coOrderAdjArrays(spark, dir), col("a") < WedgeTargetMaxId)
        .groupBy("a", "b").agg(count(lit(1)).as("common"),
          sum(lit(1.0) / log(col("dx"))).as("aa"))
      val und2 = und.select(col("u").as("a"), col("v").as("b"))
        .union(und.select(col("v").as("a"), col("u").as("b")))
      scored.join(und2, Seq("a", "b"), "left_anti").localCheckpoint(true)
    }

  /** Exact (or hub-capped) triangle participation counts of the
    * co-order graph — a producer/consumer artifact: g02 (the top-k
    * report) is the PRODUCER and always rebuilds it (its measurement
    * IS the count), publishing the table for g08 (clustering
    * coefficient), which consumes it as an input the way it consumes
    * the edge list; g08 standalone builds it on demand. The count
    * table is |V|-bounded, so the checkpoint is small however dense
    * the graph. */
  private def coOrderTriangles(spark: SparkSession, dir: String,
      hubCap: Int): DataFrame =
    Tables.sessionCached(coOrderTriCache, spark, dir + "|tri" + hubCap) {
      buildCoOrderTriangles(spark, dir, hubCap)
    }
  /** Session-cached degree-oriented out-adjacency of the co-order
    * graph, keyed by hubCap — the orientation INDEX [[triangles]]
    * probes, materialized once per session like [[coOrderAdjArrays]]
    * (a static graph's index is a derived view, not per-query work;
    * r19 item 1 — g02 paid this build on every call). Cached ≡ fresh
    * is spec-pinned. */
  private[graft] def coOrderOrientedAdj(spark: SparkSession, dir: String,
      hubCap: Int): DataFrame =
    Tables.sessionCached(coOrderOrientCache, spark, dir + "|orient" + hubCap) {
      orientedAdjArrays(coOrderEdges(spark, dir), hubCap).localCheckpoint(true)
    }

  private val coOrderOrientCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def buildCoOrderTriangles(spark: SparkSession, dir: String,
      hubCap: Int): DataFrame =
    trianglesFromAdj(coOrderOrientedAdj(spark, dir, hubCap)).localCheckpoint(true)

  /**
   * Triangle counting by DEGREE ORIENTATION, edge-centric: each
   * undirected edge is oriented from its (degree, id)-smaller
   * endpoint to the larger, so a vertex's oriented OUT-list is
   * O(√E) regardless of how hot the vertex is (a raw adjacency
   * self-join is Σdeg², degree-oriented is Σoutdeg² ≤ E^1.5). Out-
   * lists are packed into per-vertex sorted arrays; each oriented
   * edge (x→y) then counts its triangles as |N+(x) ∩ N+(y)| via a
   * codegen'd `array_intersect` — each triangle (x→y, x→z, y→z)
   * appears exactly once, at its base edge x→y. Versus the wedge
   * self-join formulation (r16 and earlier), the Σoutdeg² wedge
   * volume never materializes as shuffled join rows: the only
   * shuffle joins move one adjacency ARRAY per edge end, and the
   * intersection work happens inside whole-stage codegen (measured
   * 147.8 → ~30 s on the 10× co-order point). Per-node attribution
   * explodes only |triangles| rows, not wedge volume. Nothing is
   * collected.
   *
   * `hubCap` (r13 verdict item 3 — the one superlinear stage in the
   * suite gets a production mitigation knob): when > 0, each
   * vertex's oriented out-array is `slice`d to its `hubCap` smallest
   * destinations (no window, no extra shuffle), bounding the
   * intersection fan-out at V·cap² instead of Σoutdeg². The capped
   * count is a LOWER bound on the exact count — exactly the
   * approximate-clustering trade production systems take on
   * hub-heavy graphs — and equals it whenever cap ≥ max outdeg
   * (GraphSpec pins both directions; the measured exact-vs-capped
   * delta on the co-order graph is reported in EXPLAIN.md). Default
   * 0 = exact.
   */
  def triangles(und: DataFrame, hubCap: Int = 0): DataFrame =
    trianglesFromAdj(orientedAdjArrays(und, hubCap).localCheckpoint(true))

  /** Degree-oriented out-adjacency of an undirected edge list: each
    * edge points from its (degree, id)-smaller endpoint to the
    * larger, packed into per-vertex sorted arrays (O(√E) long
    * regardless of vertex heat). The REUSABLE half of [[triangles]]
    * — a static graph's orientation index, cacheable the way
    * [[coOrderAdjArrays]] is (r19 item 1: g02 was rebuilding it per
    * call). `hubCap > 0` keeps the cap SMALLEST destinations (same
    * contract as the r13 window formulation, now a free slice on the
    * sorted array). */
  private[graft] def orientedAdjArrays(und: DataFrame, hubCap: Int = 0): DataFrame = {
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"))
    val adjAll = oriented.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    if (hubCap <= 0) adjAll
    else adjAll.select(col("src"), slice(col("nbrs"), 1, hubCap).as("nbrs"))
  }

  /** The COUNTING half of [[triangles]]: per-node triangle
    * participation from a materialized oriented adjacency. */
  private[graft] def trianglesFromAdj(adj: DataFrame): DataFrame = {
    // re-derive the (capped) edge list from the arrays, carrying the
    // src out-list along — the ONLY join left is the dst-side array
    // lookup
    val edges = adj.select(col("src"), col("nbrs").as("nu"),
      explode(col("nbrs")).as("dst"))
    val tris = edges
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")), Seq("dst"))
      .select(col("src"), col("dst"),
        array_intersect(col("nu"), col("nv")).as("ws"))
      .filter(size(col("ws")) > 0)
    // (x, y) each credit size(ws); every middle vertex z credits 1 —
    // one explode of |triangles| contribution rows, map-side combined
    tris.select(explode(concat(
        array(struct(col("src").as("node"), size(col("ws")).cast("long").as("n")),
          struct(col("dst").as("node"), size(col("ws")).cast("long").as("n"))),
        transform(col("ws"), w => struct(w.as("node"), lit(1L).as("n"))))).as("c"))
      .select(col("c.node").as("node"), col("c.n").as("n"))
      .groupBy("node").agg(sum(col("n")).as("n_triangles"))
  }

  /** g02: per-part triangle participation in the co-order graph,
    * top-20 most clustered parts. `spark.graft.triangles.hubCap`
    * (default 0 = exact) engages the capped-out-list variant — the
    * registered oracle runs exact, the knob is the at-scale escape
    * hatch. */
  def g02Triangles(spark: SparkSession, dir: String): DataFrame = {
    val cap = spark.conf.get("spark.graft.triangles.hubCap", "0").toInt
    // the COUNT is always a fresh build (g02's work IS the count);
    // the orientation index underneath is the session-cached derived
    // view (coOrderOrientedAdj). Republish so g08 consumes this build
    // instead of paying its own
    val tri = buildCoOrderTriangles(spark, dir, cap)
    Tables.sessionPut(coOrderTriCache, spark, dir + "|tri" + cap, tri)
    tri.orderBy(col("n_triangles").desc, col("node"))
      .limit(20)
  }

  /**
   * Synchronous label propagation, fixed `iters` rounds: every vertex
   * starts labeled by its own id; each round it adopts the MODE of
   * its neighbors' labels, ties broken by minimum label — both rules
   * deterministic, so the fixed loop unrolls verbatim as DuckDB CTEs.
   * The per-round argmax is a map-side-combinable `max(struct(cnt,
   * -lbl))` aggregate, NOT a window, so a hub vertex's neighbor-label
   * counts partial-aggregate before the shuffle. State is one (node,
   * label) row per vertex; one shuffle join + one shuffle aggregate
   * per round, lineage cut per round.
   */
  def labelProp(und: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 20, s"labelProp: iters in [1,20], got $iters")
    // driver-resident twin (same regime/gate as [[rankDriver]]): the
    // whole state is one label per vertex and the per-round mode is
    // integer counting — max(cnt), ties to MIN label, exactly the
    // max(struct(cnt, −lbl)) aggregate below; zero per-round jobs.
    // Long-labeled graphs only (the declarative tie-break negates the
    // label, so the operator is numeric-labeled by contract anyway).
    if (und.schema.fields.forall(_.dataType ==
        org.apache.spark.sql.types.LongType)) {
      val spark = und.sparkSession
      val e = und.select(col("u"), col("v")).localCheckpoint(true)
      val erowsOpt =
        if (driverRegimeOk(spark, 2 * e.count())) collectDriver(e) else None
      if (erowsOpt.isDefined) {
        val erows = erowsOpt.get
        val idx = new java.util.HashMap[Long, Integer]()
        def nodeIdx(v: Long): Int = {
          var i = idx.get(v)
          if (i == null) { i = idx.size(); idx.put(v, i) }
          i.intValue()
        }
        val us = new Array[Int](erows.length)
        val vs = new Array[Int](erows.length)
        var ei = 0
        while (ei < erows.length) {
          us(ei) = nodeIdx(erows(ei).getLong(0))
          vs(ei) = nodeIdx(erows(ei).getLong(1))
          ei += 1
        }
        val n = idx.size()
        val value = new Array[Long](n)
        idx.forEach((k, v) => value(v.intValue()) = k)
        // CSR over BOTH directions (no dedup — multi-edges count
        // twice in the neighbor-label mode, as in the union below)
        val deg = new Array[Int](n)
        ei = 0
        while (ei < erows.length) { deg(us(ei)) += 1; deg(vs(ei)) += 1; ei += 1 }
        val off = new Array[Int](n + 1)
        var i = 0
        while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
        val nbr = new Array[Int](off(n))
        val fill = java.util.Arrays.copyOf(off, n)
        ei = 0
        while (ei < erows.length) {
          nbr(fill(us(ei))) = vs(ei); fill(us(ei)) += 1
          nbr(fill(vs(ei))) = us(ei); fill(vs(ei)) += 1
          ei += 1
        }
        var lab: Array[Long] = value.clone()
        for (_ <- 1 to iters) {
          val next = new Array[Long](n)
          val cnt = new java.util.HashMap[java.lang.Long, java.lang.Long]()
          i = 0
          while (i < n) {
            cnt.clear()
            var j = off(i)
            while (j < off(i + 1)) {
              cnt.merge(lab(nbr(j)), 1L, (a, b) => a + b)
              j += 1
            }
            var bestLbl = Long.MaxValue
            var bestCnt = -1L
            val it = cnt.entrySet().iterator()
            while (it.hasNext) {
              val en = it.next()
              val l = en.getKey.longValue(); val c = en.getValue.longValue()
              if (c > bestCnt || (c == bestCnt && l < bestLbl)) {
                bestCnt = c; bestLbl = l
              }
            }
            next(i) = bestLbl
            i += 1
          }
          lab = next
        }
        val comm = new java.util.HashMap[java.lang.Long, java.lang.Long]()
        i = 0
        while (i < n) { comm.merge(lab(i), 1L, (a, b) => a + b); i += 1 }
        val out = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
        comm.forEach((l, c) => out += org.apache.spark.sql.Row(l.longValue(), c.longValue()))
        return spark.createDataFrame(java.util.Arrays.asList(out.toArray: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("community",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_members",
              org.apache.spark.sql.types.LongType))))
      }
    }
    val adj = und.select(col("u").as("a"), col("v").as("b"))
      .union(und.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint(true)
    var lab = adj.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint(true)
    // broadcast-state regime: the |V|-row label vector is the build
    // side, so the 2E adjacency stubs never shuffle per round
    val bc = broadcastRegimeOk(und.sparkSession, lab.count())
    for (_ <- 1 to iters) {
      val lb = mb(lab, bc)
      val counts = adj.join(lb, adj("b") === lb("node"))
        .select(adj("a").as("node"), col("lbl"))
        .groupBy("node", "lbl").agg(count(lit(1)).as("cnt"))
      lab = counts
        .groupBy("node")
        .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("node"), (-col("m.neg")).as("lbl"))
        .localCheckpoint(true)
    }
    lab.groupBy("lbl").agg(count(lit(1)).as("n_members"))
      .select(col("lbl").as("community"), col("n_members"))
  }

  /** g03: label-propagation communities of the co-order part graph,
    * 3 synchronous rounds, top-20 communities by size. */
  def g03LabelProp(spark: SparkSession, dir: String): DataFrame =
    labelProp(coOrderEdges(spark, dir), iters = 3)
      .orderBy(col("n_members").desc, col("community"))
      .limit(20)

  /**
   * Common-neighbor / Jaccard link prediction FOR A TARGET SET:
   * score each target vertex's non-adjacent companions by
   * |N(a)∩N(b)| / |N(a)∪N(b)| — the production shape (a recommender
   * scores links for this batch's working set, never all-pairs;
   * that is also what bounds the cost on a DENSE graph, where the
   * co-order degrees are uniform and a hub-center cap has nothing
   * to cut). Wedges centered at x (full adjacency, both directions
   * — unlike [[triangles]], which needs only one orientation class)
   * with the target-side leg filtered FIRST, so the join is
   * Σ(deg_targets∩N(x) · deg(x)) — |targets|/|V| of the full Σdeg².
   * |union| needs only the degree table; existing edges anti-join
   * away (a predicted link should be NEW). Shuffles on the center
   * vertex: a hot center is one AQE-splittable partition.
   */
  def linkPredict(und: DataFrame, targetPred: Column): DataFrame =
    linkPredictArr(und, adjArrays(und).localCheckpoint(true), targetPred)

  /** Per-vertex sorted neighbor arrays (both directions) — degree is
    * `size(ns)` for free, and stub multiplicity is preserved (a
    * multi-edge contributes one array element per copy, exactly the
    * row it contributed to the former stub-count degree aggregate). */
  private[graft] def adjArrays(und: DataFrame): DataFrame =
    und.select(col("u").as("x"), col("v").as("n"))
      .union(und.select(col("v").as("x"), col("u").as("n")))
      .groupBy("x").agg(sort_array(collect_list(col("n"))).as("ns"))

  /** Wedge rows (a = target neighbor, b = any co-neighbor, dx =
    * center degree) generated WITHOUT a raw-stub join: target legs
    * explode+filter out of the adjacency arrays and join back on the
    * center to re-attach its list; the wedge fan-out then happens
    * inside whole-stage codegen and the only corpus-scale shuffle
    * downstream is the map-side-combined (a, b) aggregate. (The join
    * back still plans an exchange pair over the V array rows — AQE's
    * coalesced checkpoint partitioning is not re-derivable by
    * Catalyst — but V array rows ≪ the former 2E raw stubs on the
    * probe side, and the target side is |target stubs| only.) */
  private def wedgeRows(adjArr: DataFrame, targetPred: Column): DataFrame = {
    val tgts = adjArr.select(col("x"), explode(col("ns")).as("a"))
      .filter(targetPred)
    tgts.join(adjArr, Seq("x"))
      .select(col("a"), size(col("ns")).as("dx"), explode(col("ns")).as("b"))
      .filter(col("a") =!= col("b"))
  }

  private[graft] def linkPredictArr(und: DataFrame, adjArr: DataFrame,
      targetPred: Column): DataFrame = {
    // (a, b): a a target, b any other vertex, counted once per
    // common neighbor x
    val common = wedgeRows(adjArr, targetPred)
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    // anti-join existing edges in both stored orientations (und is
    // canonical u<v; pairs here are target-directed)
    val und2 = und.select(col("u").as("a"), col("v").as("b"))
      .union(und.select(col("v").as("a"), col("u").as("b")))
    val deg = adjArr.select(col("x"), size(col("ns")).cast("long").as("deg"))
    common.join(und2, Seq("a", "b"), "left_anti")
      .join(deg.select(col("x").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("x").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("common"),
        round(col("common") / (col("da") + col("db") - col("common")), 4)
          .as("jaccard"))
  }

  /** g04: top-20 predicted new co-order links for the low-id part
    * working set (the batch a recommender scores). */
  def g04LinkPredict(spark: SparkSession, dir: String): DataFrame = {
    // scores from the shared wedge artifact (coOrderWedgeScores) —
    // the same expressions linkPredictArr builds inline
    val deg = coOrderAdjArrays(spark, dir)
      .select(col("x"), size(col("ns")).cast("long").as("deg"))
    coOrderWedgeScores(spark, dir)
      .join(deg.select(col("x").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("x").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("common"),
        round(col("common") / (col("da") + col("db") - col("common")), 4)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(20)
  }

  /**
   * Adamic–Adar link prediction — g04's common-neighbor count with
   * the weighting that made it the classic: a RARE shared neighbor
   * is strong evidence, a hub everyone shares is weak, so
   * score(a,b) = Σ_{x ∈ N(a)∩N(b)} 1/ln(deg x). A common neighbor
   * has ≥ 2 distinct neighbors by construction, so ln(deg) > 0
   * always. Same wedge plan as g04 with the middle vertex's degree
   * riding the adjacency row (one extra vertex-keyed join before the
   * wedge); the per-pair sum is a double reduction whose ordering
   * ULPs the 4-dp round absorbs (the s09 convention).
   */
  def adamicAdar(und: DataFrame, targetPred: Column): DataFrame =
    adamicAdarArr(und, adjArrays(und).localCheckpoint(true), targetPred)

  private[graft] def adamicAdarArr(und: DataFrame, adjArr: DataFrame,
      targetPred: Column): DataFrame = {
    // the center's degree rides the wedge row as size(ns) — no
    // degree join at all; the per-pair double sum's ordering ULPs
    // are absorbed by the 4-dp round (the s09 convention), exactly
    // as in the former stub-join formulation
    val scored = wedgeRows(adjArr, targetPred)
      .groupBy("a", "b").agg(count(lit(1)).as("common"),
        sum(lit(1.0) / log(col("dx"))).as("aa"))
    val und2 = und.select(col("u").as("a"), col("v").as("b"))
      .union(und.select(col("v").as("a"), col("u").as("b")))
    scored.join(und2, Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("common"),
        round(col("aa"), 4).as("adamic_adar"))
  }

  /** g11: top-20 Adamic–Adar predictions for the g04 working set. */
  def g11AdamicAdar(spark: SparkSession, dir: String): DataFrame =
    // scores from the shared wedge artifact (coOrderWedgeScores) —
    // the same expressions adamicAdarArr builds inline
    coOrderWedgeScores(spark, dir)
      .select(col("a"), col("b"), col("common"),
        round(col("aa"), 4).as("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("a"), col("b"))
      .limit(20)

  /**
   * Degree assortativity (Newman's r): Pearson correlation of
   * endpoint degrees over all DIRECTED edge stubs — positive when
   * hubs attach to hubs, negative for hub-and-spoke. Every moment
   * (Σd_u, Σd_u², Σd_u·d_v over stubs) is an exact INTEGER sum —
   * degree products of longs — so the reduction is
   * partition-order-proof and the one FP step (the final Pearson
   * ratio) runs on identical integers in both engines. Plan: degree
   * aggregate + two shuffle joins to tag endpoints + ONE map-side-
   * combined moment aggregate; nothing collects but a 1-row summary.
   */
  def assortativity(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      // read 3× (two endpoint tags + the node summary): materialize
      // the |V|-row aggregate or each use re-shuffles 2·E stubs
      .localCheckpoint(true)
    val stubs = und.select(col("u").as("a"), col("v").as("b"))
      .union(und.select(col("v").as("a"), col("u").as("b"))) // both stubs
    val tagged = stubs
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val m = tagged.agg(
      count(lit(1)).as("n_stubs"),
      sum("da").as("sx"), sum(col("da") * col("da")).as("sxx"),
      sum(col("da") * col("db")).as("sxy"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      max("deg").as("max_deg"), sum("deg").as("sum_deg"))
    // symmetric stubs: x and y moments coincide, so Pearson reduces to
    // (m·Sxy − Sx²) / (m·Sxx − Sx²). The moments are exact integer
    // sums; the final products go through DOUBLE (identically ordered
    // in both engines — m·Sxy can pass 2^63 on a dense graph, and
    // BIGINT overflow would throw in DuckDB where Long silently wraps)
    m.crossJoin(broadcast(nodes)).select(
      col("n_nodes"),
      (col("n_stubs") / 2).cast("long").as("n_edges"),
      col("max_deg"),
      round(col("sum_deg") / col("n_nodes"), 4).as("avg_deg"), {
        // a REGULAR graph has zero degree variance: Pearson is
        // undefined -> NaN explicitly (ANSI `/` throws on 0 divisor)
        val num = col("n_stubs").cast("double") * col("sxy") -
          col("sx").cast("double") * col("sx")
        val den = col("n_stubs").cast("double") * col("sxx") -
          col("sx").cast("double") * col("sx")
        round(when(den =!= 0.0, num / den).otherwise(lit(Double.NaN)), 4)
          .as("assortativity")
      })
  }

  /** g05: degree-mixing summary of the co-order part graph. */
  def g05Assortativity(spark: SparkSession, dir: String): DataFrame =
    assortativity(coOrderEdges(spark, dir))

  /**
   * k-core peeling, a FIXED number of synchronous rounds: each round
   * drops every vertex whose degree in the surviving subgraph is
   * < k, then every edge touching a dropped vertex. A fixed round
   * count (not a convergence test) keeps the loop oracle-unrollable
   * — extra rounds after the core stabilizes are deterministic
   * no-ops, and "the subgraph after R peels" is well-defined whether
   * or not it has converged. Per round: one map-side-combined degree
   * aggregate over edge stubs + two semi-joins (edges shuffle on
   * each endpoint) — state is the surviving edge list, lineage cut
   * per round (the d06 rule). The degree aggregate partial-combines,
   * so a hub vertex never concentrates a round's work in one task.
   */
  def kcore(und: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"kcore: k >= 1, got $k")
    require(rounds >= 1 && rounds <= 20, s"kcore: rounds in [1,20], got $rounds")
    var e = und.select(col("u"), col("v")).localCheckpoint(true)
    // driver-resident peel below the [[driverEdgeMax]] gate — pure
    // integer degree counting, so the twin is exact; zero per-round
    // jobs (the declarative loop paid a degree aggregate + two
    // semi-joins + checkpoint per round)
    val kErowsOpt =
      if (driverRegimeOk(und.sparkSession, e.count())) collectDriver(e)
      else None
    if (kErowsOpt.isDefined) {
      val spark = und.sparkSession
      val erows = kErowsOpt.get
      val idx = new java.util.HashMap[Any, Integer]()
      def nodeIdx(v: Any): Int = {
        var i = idx.get(v)
        if (i == null) { i = idx.size(); idx.put(v, i) }
        i.intValue()
      }
      val us = new Array[Int](erows.length)
      val vs = new Array[Int](erows.length)
      var ei = 0
      while (ei < erows.length) {
        us(ei) = nodeIdx(erows(ei).get(0)); vs(ei) = nodeIdx(erows(ei).get(1))
        ei += 1
      }
      val n = idx.size()
      val nodesArr = new Array[Any](n)
      idx.forEach((kk, v) => nodesArr(v.intValue()) = kk)
      val alive = Array.fill(erows.length)(true)
      val deg = new Array[Long](n)
      for (_ <- 1 to rounds) {
        java.util.Arrays.fill(deg, 0L)
        ei = 0
        while (ei < erows.length) {
          if (alive(ei)) { deg(us(ei)) += 1; deg(vs(ei)) += 1 }
          ei += 1
        }
        ei = 0
        while (ei < erows.length) {
          if (alive(ei) && (deg(us(ei)) < k || deg(vs(ei)) < k)) alive(ei) = false
          ei += 1
        }
      }
      java.util.Arrays.fill(deg, 0L)
      ei = 0
      while (ei < erows.length) {
        if (alive(ei)) { deg(us(ei)) += 1; deg(vs(ei)) += 1 }
        ei += 1
      }
      val out = (0 until n).filter(deg(_) > 0)
        .map(i => org.apache.spark.sql.Row(nodesArr(i), deg(i))).toArray
      return spark.createDataFrame(java.util.Arrays.asList(out: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", e.schema.fields(0).dataType),
          org.apache.spark.sql.types.StructField("core_deg",
            org.apache.spark.sql.types.LongType))))
    }
    for (_ <- 1 to rounds) {
      // the survivor set is |V|-bounded: checkpoint it so the degree
      // aggregate runs ONCE per round (not once per semi-join), and
      // so its count (the broadcast-regime gate) is metadata-cheap
      val keep = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select("node")
        .localCheckpoint(true)
      // broadcast-state regime: survivors build-side, edges stay put
      val bc = broadcastRegimeOk(und.sparkSession, keep.count())
      e = e.join(mb(keep.select(col("node").as("u")), bc), Seq("u"), "left_semi")
        .join(mb(keep.select(col("node").as("v")), bc), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint(true)
    }
    e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
  }

  /** g06: the co-order part graph's dense core — 4 peel rounds at
    * k = 90 (just under the bulk degree: the cascade strips ~3/4 of
    * the vertices and a genuinely dense core survives; co-order
    * degree is scale-invariant, so the cut behaves the same at any
    * SF), top-20 surviving parts by within-core degree. */
  def g06Kcore(spark: SparkSession, dir: String): DataFrame =
    kcore(coOrderEdges(spark, dir), k = 90, rounds = 4)
      .orderBy(col("core_deg").desc, col("node"))
      .limit(20)

  /**
   * Multi-source BFS hop distance, K synchronous rounds — the
   * neighborhood-expansion primitive (seed-set reachability /
   * "within-k-hops" cohort construction; the graph query a
   * contamination or influence analysis runs from a seed list).
   * State is the REACHED set (node, hops); each round expands only
   * the current FRONTIER (hops = round−1) through the edge list and
   * folds new labels in with an integer min — settled nodes are
   * never re-sent, so round cost is ∝ edges incident to the
   * frontier, the textbook distributed-BFS shuffle shape. All
   * arithmetic is integer-exact (no FP anywhere), rounds are fixed
   * for oracle replay, and lineage is cut per round (the d06 rule).
   * Nodes unreached within `rounds` hops are absent (a 100 TB graph's
   * full closure is unbounded; the k-hop horizon IS the contract).
   */
  def bfsHops(und: DataFrame, seedPred: Column, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"bfsHops: rounds in [1,16], got $rounds")
    val bi = und.select(col("u"), col("v"))
      .union(und.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(true)
    val nodes = bi.select(col("u").as("node")).distinct()
    // driver-resident BFS below the [[driverEdgeMax]] gate: the seed
    // predicate still evaluates as a Spark filter (one small job over
    // the distinct node list), then the level expansion — integer
    // min-fold ≡ textbook BFS — runs over collected CSR arrays with
    // zero per-round jobs (the declarative loop paid a frontier join
    // + min aggregate + checkpoint per round).
    val bErowsOpt =
      if (driverRegimeOk(und.sparkSession, bi.count())) collectDriver(bi)
      else None
    if (bErowsOpt.isDefined) {
      val spark = und.sparkSession
      val erows = bErowsOpt.get
      val idx = new java.util.HashMap[Any, Integer]()
      def nodeIdx(v: Any): Int = {
        var i = idx.get(v)
        if (i == null) { i = idx.size(); idx.put(v, i) }
        i.intValue()
      }
      val us = new Array[Int](erows.length)
      val vs = new Array[Int](erows.length)
      var ei = 0
      while (ei < erows.length) {
        us(ei) = nodeIdx(erows(ei).get(0)); vs(ei) = nodeIdx(erows(ei).get(1))
        ei += 1
      }
      val n = idx.size()
      val nodesArr = new Array[Any](n)
      idx.forEach((kk, v) => nodesArr(v.intValue()) = kk)
      // CSR over the directed bi rows (u -> v)
      val deg = new Array[Int](n)
      ei = 0
      while (ei < erows.length) { deg(us(ei)) += 1; ei += 1 }
      val off = new Array[Int](n + 1)
      var i = 0
      while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
      val nbr = new Array[Int](off(n))
      val fill = java.util.Arrays.copyOf(off, n)
      ei = 0
      while (ei < erows.length) {
        nbr(fill(us(ei))) = vs(ei); fill(us(ei)) += 1; ei += 1
      }
      val hops = Array.fill(n)(-1L)
      nodes.filter(seedPred).collect().foreach { r =>
        val ix = idx.get(r.get(0))
        if (ix != null) hops(ix.intValue()) = 0L
      }
      var frontier = (0 until n).filter(hops(_) == 0L).toArray
      for (k <- 1 to rounds) {
        val next = scala.collection.mutable.ArrayBuffer[Int]()
        var fi = 0
        while (fi < frontier.length) {
          val u = frontier(fi)
          var j = off(u)
          while (j < off(u + 1)) {
            val v = nbr(j)
            if (hops(v) < 0) { hops(v) = k.toLong; next += v }
            j += 1
          }
          fi += 1
        }
        frontier = next.toArray
      }
      val out = (0 until n).filter(hops(_) >= 0)
        .map(i2 => org.apache.spark.sql.Row(nodesArr(i2), hops(i2))).toArray
      return spark.createDataFrame(java.util.Arrays.asList(out: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            bi.schema.fields(0).dataType),
          org.apache.spark.sql.types.StructField("hops",
            org.apache.spark.sql.types.LongType))))
    }
    var reached = nodes.filter(seedPred)
      .select(col("node"), lit(0L).as("hops"))
      .localCheckpoint(true)
    for (k <- 1 to rounds) {
      // broadcast-state regime: the frontier (≤ reached ≤ |V| rows,
      // checkpointed — the count is metadata-cheap) is the build
      // side, so the edge stubs never shuffle per round
      val frontier = reached.filter(col("hops") === (k - 1))
      val bc = broadcastRegimeOk(und.sparkSession, reached.count())
      val expand = mb(frontier, bc)
        .join(bi, col("node") === bi("u"))
        .select(col("v").as("node"), lit(k.toLong).as("hops"))
      reached = reached.union(expand)
        .groupBy("node").agg(min("hops").as("hops"))
        .localCheckpoint(true)
    }
    reached
  }

  /** g07: 4-round multi-source BFS over the co-order part graph from
    * the deterministic seed set part % 97 == 0 — every part within 4
    * co-order hops of a seed, with its hop distance. */
  def g07BfsHops(spark: SparkSession, dir: String): DataFrame =
    bfsHops(coOrderEdges(spark, dir), col("node") % 97 === 0, rounds = 4)
      .orderBy("node")

  /**
   * Per-vertex LOCAL CLUSTERING COEFFICIENT — cc(v) = 2·T(v) /
   * (deg(v)·(deg(v)−1)), the fraction of a vertex's wedges that
   * close. Composes the degree-oriented triangle count ([[triangles]]
   * — wedge volume ≤ E^1.5 however hot the hubs are) with one degree
   * aggregate; vertices with deg < 2 have no wedges and are excluded
   * by contract. Everything shuffles on vertex keys; the left join
   * fills triangle-free vertices with 0 so the coefficient is total
   * over the eligible vertex set.
   */
  def clusteringCoeff(und: DataFrame,
      tri: Option[DataFrame] = None): DataFrame = {
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(tri.getOrElse(triangles(und)), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("cc", Norm.r4(lit(2.0) * col("n_triangles") /
        (col("deg") * (col("deg") - 1))))
  }

  /** g08: local clustering coefficient of every co-order part with
    * at least one wedge; the exact triangle table is the SAME
    * materialization g02 ranks ([[coOrderTriangles]]). */
  def g08ClusteringCoeff(spark: SparkSession, dir: String): DataFrame =
    clusteringCoeff(coOrderEdges(spark, dir),
      Some(coOrderTriangles(spark, dir, hubCap = 0))).orderBy("node")

  /**
   * Log2-binned DEGREE DISTRIBUTION — the first-read summary of any
   * graph (and the heavy-tail diagnostic that decides whether hub
   * mitigation like g02's hubCap is needed at all): one degree
   * aggregate, one |bins|-bounded histogram aggregate, both
   * map-side combined. The bin index floor(ln d/ln 2 + 1e-9) is
   * computed by the IDENTICAL IEEE expression in both engines — the
   * 1e-9 nudge absorbs the few-ulp downward error of ln-ratio log2
   * at exact powers of two, so the integer bin is both correct and
   * engine-identical.
   */
  def degreeHist(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.groupBy(floor(log(col("deg").cast("double")) / log(lit(2.0)) + lit(1e-9))
        .cast("int").as("bin"))
      .agg(count(lit(1)).as("n_nodes"),
        min("deg").as("min_deg"), max("deg").as("max_deg"))
      .orderBy("bin")
  }

  /** g09: degree distribution of the co-order part graph. */
  def g09DegreeHist(spark: SparkSession, dir: String): DataFrame =
    degreeHist(coOrderEdges(spark, dir))

  // --------------------------------------------------------- oracle SQL

  /** Unrolled power iterations as generated CTEs — same integer
    * grid, same div/round steps, so the replay is exact. N is not
    * known until runtime in Spark, but IS a pure function of the
    * data, so the oracle computes it in SQL (cnt CTE) and the
    * teleport/start constants are expressed in terms of it. */
  private def pagerankSql(iters: Int): String = {
    val head =
      s"""WITH pairs AS (
         |  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
         |    's' || CAST(l.l_suppkey AS VARCHAR) AS s
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |), edges AS (
         |  SELECT c AS src, s AS dst FROM pairs
         |  UNION ALL SELECT s AS src, c AS dst FROM pairs
         |), nodes AS (
         |  SELECT DISTINCT src AS node FROM edges
         |  UNION SELECT DISTINCT dst AS node FROM edges
         |), cnt AS (SELECT count(*) AS n FROM nodes),
         |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |r0 AS (
         |  SELECT node, CAST(${Scale} // (SELECT n FROM cnt) AS BIGINT) AS r
         |  FROM nodes
         |)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s""", c$i AS (
         |  SELECT e.dst AS node, sum(r.r // o.outdeg) AS contrib
         |  FROM edges e
         |  JOIN $prev r ON e.src = r.node
         |  JOIN outdeg o ON e.src = o.src
         |  GROUP BY e.dst
         |), d$i AS (
         |  SELECT coalesce(sum(r.r), 0) AS dm FROM $prev r
         |  LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL
         |), r$i AS (
         |  SELECT n.node,
         |    CAST(round((0.15 * ${Scale} / (SELECT n FROM cnt)) + 0.0)
         |      AS BIGINT)
         |    + CAST(round(0.85 * (coalesce(c.contrib, 0)
         |        + (SELECT dm FROM d$i) // (SELECT n FROM cnt))) AS BIGINT)
         |      AS r
         |  FROM nodes n LEFT JOIN c$i c ON n.node = c.node
         |)""".stripMargin
    }.mkString
    head + iterCtes +
      s"""
         |SELECT node, r AS rank_micro,
         |  round(r / ${Scale}.0, 4) + 0 AS rank
         |FROM r$iters ORDER BY rank_micro DESC, node LIMIT 20""".stripMargin
  }

  /** Unrolled PPR iterations — [[pagerankSql]] with a seeds CTE:
    * teleport/start/dangling mass land on seeds only, every grid
    * step (floor div, round) mirrored operand-for-operand. */
  private def pprSql(iters: Int): String = {
    val head =
      s"""WITH pairs AS (
         |  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
         |    's' || CAST(l.l_suppkey AS VARCHAR) AS s
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |), edges AS (
         |  SELECT c AS src, s AS dst FROM pairs
         |  UNION ALL SELECT s AS src, c AS dst FROM pairs
         |), nodes AS (
         |  SELECT DISTINCT src AS node FROM edges
         |  UNION SELECT DISTINCT dst AS node FROM edges
         |), seeds AS (
         |  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node
         |  FROM customer WHERE c_custkey % 19 = 0
         |  INTERSECT SELECT node FROM nodes
         |), scnt AS (SELECT count(*) AS s FROM seeds),
         |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |r0 AS (
         |  SELECT n.node,
         |    CASE WHEN sd.node IS NOT NULL
         |      THEN CAST(${Scale} // (SELECT s FROM scnt) AS BIGINT)
         |      ELSE 0 END AS r
         |  FROM nodes n LEFT JOIN seeds sd ON n.node = sd.node
         |)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s""", c$i AS (
         |  SELECT e.dst AS node, sum(r.r // o.outdeg) AS contrib
         |  FROM edges e
         |  JOIN $prev r ON e.src = r.node
         |  JOIN outdeg o ON e.src = o.src
         |  GROUP BY e.dst
         |), d$i AS (
         |  SELECT coalesce(sum(r.r), 0) AS dm FROM $prev r
         |  LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL
         |), r$i AS (
         |  SELECT n.node,
         |    CASE WHEN sd.node IS NOT NULL
         |      THEN CAST(round((0.15 * ${Scale} / (SELECT s FROM scnt)) + 0.0)
         |        AS BIGINT) ELSE 0 END
         |    + CAST(round(0.85 * (coalesce(c.contrib, 0)
         |        + CASE WHEN sd.node IS NOT NULL
         |            THEN (SELECT dm FROM d$i) // (SELECT s FROM scnt)
         |            ELSE 0 END)) AS BIGINT)
         |      AS r
         |  FROM nodes n LEFT JOIN c$i c ON n.node = c.node
         |  LEFT JOIN seeds sd ON n.node = sd.node
         |)""".stripMargin
    }.mkString
    head + iterCtes +
      s"""
         |SELECT node, r AS rank_micro,
         |  round(r / ${Scale}.0, 4) + 0 AS rank
         |FROM r$iters ORDER BY rank_micro DESC, node LIMIT 20""".stripMargin
  }

  /** Shared co-order-graph CTEs (edges + degrees). */
  private val coOrderCtes: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
      |), und AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
      |), deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
      |  ) GROUP BY node
      |)""".stripMargin

  /** Unrolled synchronous LPA rounds: mode-of-neighbor-labels with
    * min-label tie-break — row_number(cnt DESC, lbl ASC) is the same
    * total order as Spark's max(struct(cnt, -lbl)). */
  private def labelPropSql(iters: Int): String = {
    val head = coOrderCtes +
      """, adj AS (
        |  SELECT u AS a, v AS b FROM und
        |  UNION ALL SELECT v AS a, u AS b FROM und
        |), l0 AS (
        |  SELECT DISTINCT a AS node, a AS lbl FROM adj
        |)""".stripMargin
    val rounds = (1 to iters).map { i =>
      val prev = s"l${i - 1}"
      s""", c$i AS (
         |  SELECT adj.a AS node, p.lbl AS lbl, count(*) AS cnt
         |  FROM adj JOIN $prev p ON adj.b = p.node
         |  GROUP BY adj.a, p.lbl
         |), l$i AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |      row_number() OVER (PARTITION BY node
         |        ORDER BY cnt DESC, lbl ASC) AS rn
         |    FROM c$i
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString
    head + rounds +
      s"""
         |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
         |FROM l$iters GROUP BY lbl
         |ORDER BY n_members DESC, community LIMIT 20""".stripMargin
  }

  /** Unrolled peel rounds: degree filter + two endpoint semi-joins
    * per round, identical to the Spark loop. */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val head = coOrderCtes + "\n, e0 AS (SELECT u, v FROM und)"
    val peels = (1 to rounds).map { i =>
      val prev = s"e${i - 1}"
      s""", d$i AS (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT u AS node FROM $prev UNION ALL SELECT v AS node FROM $prev
         |  ) GROUP BY node
         |), k$i AS (SELECT node FROM d$i WHERE deg >= $k),
         |e$i AS (
         |  SELECT u, v FROM $prev
         |  WHERE u IN (SELECT node FROM k$i)
         |    AND v IN (SELECT node FROM k$i)
         |)""".stripMargin
    }.mkString
    head + peels +
      s"""
         |SELECT node, CAST(count(*) AS BIGINT) AS core_deg FROM (
         |  SELECT u AS node FROM e$rounds UNION ALL SELECT v AS node FROM e$rounds
         |) GROUP BY node
         |ORDER BY core_deg DESC, node LIMIT 20""".stripMargin
  }

  /** g07 oracle: the frontier expansion unrolled — one CTE per round,
    * UNION ALL of the carried reached set with the frontier's
    * neighbor labels, integer min per node; every operand integer. */
  private def bfsSql(rounds: Int): String = {
    val steps = (1 to rounds).map { k =>
      s""", r$k AS (
         |  SELECT node, CAST(min(hops) AS BIGINT) AS hops FROM (
         |    SELECT node, hops FROM r${k - 1}
         |    UNION ALL
         |    SELECT e.v AS node, f.hops + 1 AS hops
         |    FROM r${k - 1} f JOIN bi e ON f.node = e.u
         |    WHERE f.hops = ${k - 1}
         |  ) GROUP BY node
         |)""".stripMargin
    }.mkString
    coOrderCtes +
      s""", bi AS (
         |  SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und
         |), r0 AS (
         |  SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS hops FROM bi
         |  WHERE u % 97 = 0
         |)$steps
         |SELECT node, hops FROM r$rounds ORDER BY node""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "g07_bfs" -> bfsSql(4),
    "g01_pagerank" -> pagerankSql(5),
    "g10_ppr" -> pprSql(5),
    "g06_kcore" -> kcoreSql(90, 4),
    // degree-oriented triangle enumeration: identical orientation rule
    // and closing-edge join, per-vertex counts via unnest
    "g02_triangles" -> (coOrderCtes +
      """, g AS (
        |  SELECT
        |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND und.u < und.v)
        |      THEN und.u ELSE und.v END AS src,
        |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND und.u < und.v)
        |      THEN und.v ELSE und.u END AS dst
        |  FROM und
        |  JOIN deg d1 ON und.u = d1.node
        |  JOIN deg d2 ON und.v = d2.node
        |), tri AS (
        |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        |  FROM g e1
        |  JOIN g e2 ON e1.src = e2.src AND e1.dst <> e2.dst
        |  JOIN g e3 ON e3.src = e1.dst AND e3.dst = e2.dst
        |), pv AS (
        |  SELECT unnest([x, y, z]) AS node FROM tri
        |)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM pv GROUP BY node
        |ORDER BY n_triangles DESC, node LIMIT 20""".stripMargin),
    // g09: identical IEEE ln-ratio bin expression (1e-9 nudge) over
    // the shared deg CTE
    "g09_degree_hist" -> (coOrderCtes +
      """
        |SELECT CAST(floor(ln(CAST(deg AS DOUBLE)) / ln(2.0) + 0.000000001) AS INT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(min(deg) AS BIGINT) AS min_deg,
        |  CAST(max(deg) AS BIGINT) AS max_deg
        |FROM deg GROUP BY 1 ORDER BY bin""".stripMargin),
    // g08: the g02 triangle CTEs un-limited, joined back to degrees
    "g08_clustering_coeff" -> (coOrderCtes +
      """, g AS (
        |  SELECT
        |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND und.u < und.v)
        |      THEN und.u ELSE und.v END AS src,
        |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND und.u < und.v)
        |      THEN und.v ELSE und.u END AS dst
        |  FROM und
        |  JOIN deg d1 ON und.u = d1.node
        |  JOIN deg d2 ON und.v = d2.node
        |), tri AS (
        |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        |  FROM g e1
        |  JOIN g e2 ON e1.src = e2.src AND e1.dst <> e2.dst
        |  JOIN g e3 ON e3.src = e1.dst AND e3.dst = e2.dst
        |), pv AS (
        |  SELECT unnest([x, y, z]) AS node FROM tri
        |), tcnt AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM pv GROUP BY node
        |)
        |SELECT d.node, d.deg,
        |  coalesce(t.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
        |  round(2.0 * coalesce(t.n_triangles, CAST(0 AS BIGINT))
        |    / (d.deg * (d.deg - 1)), 4) + 0 AS cc
        |FROM deg d LEFT JOIN tcnt t ON d.node = t.node
        |WHERE d.deg >= 2
        |ORDER BY d.node""".stripMargin),
    "g03_label_prop" -> labelPropSql(3),
    // both stubs per edge; integer moments; same reduced Pearson
    "g05_assortativity" -> (coOrderCtes +
      """, stubs AS (
        |  SELECT u AS a, v AS b FROM und
        |  UNION ALL SELECT v AS a, u AS b FROM und
        |), tagged AS (
        |  SELECT d1.deg AS da, d2.deg AS db
        |  FROM stubs s
        |  JOIN deg d1 ON s.a = d1.node
        |  JOIN deg d2 ON s.b = d2.node
        |), m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_stubs,
        |    CAST(sum(da) AS BIGINT) AS sx,
        |    CAST(sum(da * da) AS BIGINT) AS sxx,
        |    CAST(sum(da * db) AS BIGINT) AS sxy
        |  FROM tagged
        |), nn AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(max(deg) AS BIGINT) AS max_deg,
        |    CAST(sum(deg) AS BIGINT) AS sum_deg
        |  FROM deg
        |)
        |SELECT nn.n_nodes, CAST(m.n_stubs / 2 AS BIGINT) AS n_edges,
        |  nn.max_deg,
        |  round(nn.sum_deg * 1.0 / nn.n_nodes, 4) + 0 AS avg_deg,
        |  round((m.n_stubs * 1.0 * m.sxy - m.sx * 1.0 * m.sx) /
        |    (m.n_stubs * 1.0 * m.sxx - m.sx * 1.0 * m.sx), 4) + 0
        |    AS assortativity
        |FROM m, nn""".stripMargin),
    // target-filtered wedge counts, target-directed pairs, existing
    // edges anti-joined in both orientations
    // g11: the g04 wedge with deg(x) riding the left adjacency side;
    // the per-pair 1/ln(deg) sum's ordering ULPs die in the r4
    "g11_adamic_adar" -> (coOrderCtes +
      """, adj AS (
        |  SELECT u AS x, v AS n FROM und
        |  UNION ALL SELECT v AS x, u AS n FROM und
        |), cn AS (
        |  SELECT w1.n AS a, w2.n AS b, CAST(count(*) AS BIGINT) AS common,
        |    sum(1.0 / ln(d.deg)) AS aa
        |  FROM adj w1 JOIN deg d ON w1.x = d.node
        |  JOIN adj w2 ON w1.x = w2.x AND w1.n <> w2.n
        |  WHERE w1.n < 500
        |  GROUP BY w1.n, w2.n
        |), cand AS (
        |  SELECT cn.a, cn.b, cn.common, cn.aa FROM cn
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM und
        |    WHERE (und.u = cn.a AND und.v = cn.b)
        |       OR (und.u = cn.b AND und.v = cn.a))
        |)
        |SELECT a, b, common, round(aa, 4) + 0 AS adamic_adar
        |FROM cand
        |ORDER BY adamic_adar DESC, a, b LIMIT 20""".stripMargin),
    "g04_link_predict" -> (coOrderCtes +
      """, adj AS (
        |  SELECT u AS x, v AS n FROM und
        |  UNION ALL SELECT v AS x, u AS n FROM und
        |), cn AS (
        |  SELECT w1.n AS a, w2.n AS b, CAST(count(*) AS BIGINT) AS common
        |  FROM adj w1 JOIN adj w2 ON w1.x = w2.x AND w1.n <> w2.n
        |  WHERE w1.n < 500
        |  GROUP BY w1.n, w2.n
        |), cand AS (
        |  SELECT cn.a, cn.b, cn.common FROM cn
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM und
        |    WHERE (und.u = cn.a AND und.v = cn.b)
        |       OR (und.u = cn.b AND und.v = cn.a))
        |)
        |SELECT c.a, c.b, c.common,
        |  round(c.common * 1.0 / (d1.deg + d2.deg - c.common), 4) + 0 AS jaccard
        |FROM cand c
        |JOIN deg d1 ON c.a = d1.node
        |JOIN deg d2 ON c.b = d2.node
        |ORDER BY jaccard DESC, a, b LIMIT 20""".stripMargin))
}
