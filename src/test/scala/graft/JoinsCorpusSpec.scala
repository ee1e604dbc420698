package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Corpus, Joins, Relational}

class JoinsCorpusSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("3").appName("joins-corpus-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("asofJoin picks the latest right row at-or-before, null when none") {
    val sess = spark
    import sess.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "l1"),
      (1L, ts("2024-01-01 12:00:00"), "l2"),
      (2L, ts("2024-01-01 09:00:00"), "l3") // before any right row
    ).toDF("k", "t", "name")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 100L),
      (1L, ts("2024-01-01 12:00:00"), 200L), // exactly simultaneous with l2
      (2L, ts("2024-01-01 11:00:00"), 300L)
    ).toDF("k", "t", "rid")
    val out = Joins.asofJoin(left, right, "k", "t", Seq("rid"))
      .select(col("name"), col("asof.rid").as("rid")).collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("l1") == Some(100L)) // latest before 10:00 is 09:30
    assert(out("l2") == Some(200L)) // ties match (>= convention)
    assert(out("l3") == None)       // nothing at-or-before 09:00
  }

  test("resampleInterp: straight line across gaps, last-of-day wins, endpoints observed") {
    val sess = spark
    import sess.implicits._
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), 10.0),
      // two obs on day 3: the later ts is the day's value (70)
      (1L, 2L, ts("2024-01-03 09:00:00"), 999.0),
      (1L, 3L, ts("2024-01-03 15:00:00"), 70.0),
      // u2: 4-day gap interpolates in thirds... (days 1 -> 4: 0 -> 30)
      (2L, 4L, ts("2024-01-01 00:00:00"), 0.0),
      (2L, 5L, ts("2024-01-04 00:00:00"), 30.0)
    ).toDF("user_id", "event_id", "ts", "value")
    val out = Joins.resampleInterp(ev).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(out((1L, "2024-01-01")) == ((10.0, true)))
    // midpoint of 10 -> 70 over 2 days
    assert(out((1L, "2024-01-02")) == ((40.0, false)))
    assert(out((1L, "2024-01-03")) == ((70.0, true)))
    assert(out((2L, "2024-01-02")) == ((10.0, false)))
    assert(out((2L, "2024-01-03")) == ((20.0, false)))
    assert(out((2L, "2024-01-04")) == ((30.0, true)))
    assert(out.size == 7)
  }

  test("asofJoinTolerance: stale matches null, never substituted by an older row") {
    val sess = spark
    import sess.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:30:00"), "p1"), // 30 min after latest click
      (1L, ts("2024-01-01 08:00:00"), "p2")  // before any click
    ).toDF("k", "t", "name")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 100L), // older candidate
      (1L, ts("2024-01-01 10:00:00"), 200L)  // latest preceding p1
    ).toDF("k", "t", "rid")
    def run(tolUs: Long) =
      Joins.asofJoinTolerance(left, right, "k", "t", Seq("rid"), tolUs)
        .select(col("name"), col("asof.rid").as("rid")).collect()
        .map(r => r.getString(0) -> Option(r.get(1))).toMap
    // gap is exactly 30 min: <= matches on the boundary
    assert(run(1800000000L) == Map("p1" -> Some(200L), "p2" -> None))
    // one microsecond less: the latest candidate is stale -> NULL —
    // the 09:00 click (in no tolerance either) must NOT substitute
    assert(run(1799999999L) == Map("p1" -> None, "p2" -> None))
    // generous tolerance still picks the LATEST, not the oldest
    assert(run(86400000000L) == Map("p1" -> Some(200L), "p2" -> None))
  }

  test("asofJoinForward/Nearest: earliest-after, tie rules, nearest picks the closer side") {
    val sess = spark
    import sess.implicits._
    def t(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val left = Seq(
      (1L, t(10), "a"), (1L, t(40), "b"), (1L, t(50), "c"), (1L, t(100), "d"))
      .toDF("k", "t", "name")
    val right = Seq(
      (1L, t(20), 1L), (1L, t(20), 2L), (1L, t(60), 3L))
      .toDF("k", "t", "rid")
    // forward: earliest at-or-after; equal-time right rows tie to the
    // ascending payload (min rid)
    val fw = Joins.asofJoinForward(left, right, "k", "t", Seq("rid")).collect()
      .map(r => r.getString(2) -> Option(r.getStruct(3)).map(_.getLong(0))).toMap
    assert(fw("a") == Some(1L)) // t10 -> t20, tie -> rid 1
    assert(fw("b") == Some(3L)) // t40 -> t60
    assert(fw("c") == Some(3L))
    assert(fw("d") == None)     // nothing after t100
    // nearest: c(t50): back t20 gap 30 vs fwd t60 gap 10 -> forward;
    // b(t40): back gap 20 == fwd gap 20 -> backward (tie rule);
    // a(t10): back t20? no - t20 > t10, backward empty -> forward;
    // d(t100): forward empty -> backward t60
    val nr = Joins.asofJoinNearest(left, right, "k", "t", Seq("rid")).collect()
      .map(r => r.getString(2) ->
        ((Option(r.getStruct(3)).map(_.getLong(0)), r.getString(4)))).toMap
    assert(nr("c") == ((Some(3L), "f")))
    assert(nr("b") == ((Some(2L), "b"))) // backward at t20 picks MAX rid
    assert(nr("a") == ((Some(1L), "f")))
    assert(nr("d") == ((Some(3L), "b")))
  }

  test("attribution: last click within window wins; stale/absent/later clicks don't") {
    val sess = spark
    import sess.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(offsetSec: Long) = new java.sql.Timestamp(t0.getTime + offsetSec * 1000)
    val ev = Seq(
      (1L, 1L, ts(0), "click", 0.0),
      (2L, 1L, ts(600), "purchase", 5.0),    // 10 min after click -> attributed
      (3L, 2L, ts(0), "click", 0.0),
      (4L, 2L, ts(7200), "purchase", 5.0),   // 2 h after click -> too stale
      (5L, 3L, ts(0), "view", 0.0),
      (6L, 3L, ts(100), "purchase", 5.0),    // no click at all
      (7L, 4L, ts(500), "purchase", 5.0),
      (8L, 4L, ts(600), "click", 0.0)        // click AFTER purchase -> invisible
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = operators.Relational.attribution(ev, 3600L)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(r.fieldIndex("attributed")),
          Option(r.get(r.fieldIndex("lag_sec"))))).toMap
    assert(out(2L) == ((true, Some(600.0))))
    assert(out(4L)._1 == false && out(4L)._2.isEmpty)
    assert(out(6L)._1 == false)
    assert(out(7L)._1 == false)
    assert(out.size == 4) // only purchases surface
  }

  test("corrMatrix: exact +/-1 on linear columns, one row per unordered pair") {
    val sess = spark
    import sess.implicits._
    val df = (1 to 50).map(i => (i.toDouble, 2.0 * i + 1, -3.0 * i + 7))
      .toDF("a", "b", "c")
    val out = operators.Preprocess.corrMatrix(df, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out.size == 3)
    assert(out(("a", "b")) == 1.0)
    assert(out(("a", "c")) == -1.0)
    assert(out(("b", "c")) == -1.0)
  }

  test("rangeJoinPairs equals the naive inequality self-join") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val naive = {
      val a = ev.select(col("user_id"), col("event_id").as("ida"),
        unix_micros(col("ts")).as("ta"))
      val b = ev.select(col("user_id"), col("event_id").as("idb"),
        unix_micros(col("ts")).as("tb"))
      a.join(b, Seq("user_id"))
        .filter(col("ida") < col("idb") &&
          abs(col("tb") - col("ta")) <= 600L * 1000000L)
        .select(col("ida"), col("idb")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val bucketed = Joins.rangeJoinPairs(ev, "user_id", "ts", "event_id", 600L)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty)
    assert(bucketed == naive,
      s"missing=${naive -- bucketed} extra=${bucketed -- naive}")
  }

  test("sampleStratified is a deterministic per-stratum rate filter") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val s1 = Corpus.sampleStratified(docs, "doc_id", "lang",
      Map("en" -> 0.5), 0.2).select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Corpus.sampleStratified(docs, "doc_id", "lang",
      Map("en" -> 0.5), 0.2).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2 && s1.nonEmpty)
    // rate is approximately honored per stratum (hash uniformity)
    val en = docs.filter(col("lang") === "en").count().toDouble
    val enKept = Corpus.sampleStratified(docs, "doc_id", "lang", Map("en" -> 0.5), 0.2)
      .filter(col("lang") === "en").count().toDouble
    assert(enKept / en > 0.3 && enKept / en < 0.7)
  }

  test("splitAssign is stable under corpus growth; proportions near 80/10/10") {
    val sess = spark
    import sess.implicits._
    val small = (0L until 500L).toDF("doc_id")
    val big = (0L until 2000L).toDF("doc_id")
    def splits(df: org.apache.spark.sql.DataFrame) =
      Corpus.splitAssign(df, "doc_id").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val s = splits(small); val b = splits(big)
    // growing the corpus never reassigns an existing document
    assert(s.forall { case (id, sp) => b(id) == sp })
    val frac = b.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    assert(math.abs(frac("train") - 0.8) < 0.05)
    assert(math.abs(frac("val") - 0.1) < 0.04)
    assert(math.abs(frac("test") - 0.1) < 0.04)
  }

  test("mixtureSample caps under-target strata at keep-all and is deterministic") {
    val sess = spark
    import sess.implicits._
    // 400 'a' rows vs 20 'b' rows; budget 100 at 50/50 target:
    // a-rate = 50/400 = 0.125, b-rate = min(1, 50/20) = 1 (keep all)
    val df = ((0L until 400L).map(i => (i, "a")) ++
      (1000L until 1020L).map(i => (i, "b"))).toDF("doc_id", "lang")
    val out = Corpus.mixtureSample(df, "doc_id", "lang",
      Map("a" -> 0.5, "b" -> 0.5), budget = 100L)
    val byLang = out.collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.length).toMap
    assert(byLang("b") == 20) // rate capped at 1 -> every b row kept
    assert(byLang("a") > 20 && byLang("a") < 90) // ~50 of 400 at rate .125
    val again = Corpus.mixtureSample(df, "doc_id", "lang",
      Map("a" -> 0.5, "b" -> 0.5), budget = 100L).collect().length
    assert(again == out.collect().length) // hash filter, not an RNG
  }

  test("weightedSample matches the driver-replayed ES keys, is deterministic, skips w<=0") {
    val sess = spark
    import sess.implicits._
    val df = (0L until 500L).map(i => (i, if (i % 7 == 0) 0L else (i % 50) + 1L))
      .toDF("doc_id", "w")
    val out = Corpus.weightedSample(df, "doc_id", "w", k = 40)
      .collect().map(_.getLong(0)).toSet
    // replay: key = ln((hashBucket+0.5)/m)/w, top-40 by (key desc, id)
    val p = 1000000007L; val m = 1000003L
    def bucket(id: Long): Long = ((id ^ (id >> 31)) % p * 2654435761L) % p % m
    val expect = (0L until 500L).map(i => (i, if (i % 7 == 0) 0L else (i % 50) + 1L))
      .filter(_._2 > 0)
      .map { case (id, w) => (math.log((bucket(id) + 0.5) / m.toDouble) / w, id) }
      .sortBy { case (key, id) => (-key, id) }
      .take(40).map(_._2).toSet
    assert(out == expect)
    assert(!out.exists(_ % 7 == 0)) // zero-weight rows can never win
    val again = Corpus.weightedSample(df, "doc_id", "w", k = 40)
      .collect().map(_.getLong(0)).toSet
    assert(again == out)
    // weights bias selection: mean weight of winners >> corpus mean (~25)
    val winW = (0L until 500L).filter(out.contains).map(i => (i % 50) + 1L)
    assert(winW.sum.toDouble / winW.size > 30.0)
  }

  test("topkNgrams handles docs shorter than n and breaks ties on the ngram") {
    val sess = spark
    import sess.implicits._
    val docs = Seq("one", "", "b a", "b a", "a b").toDF("text")
    val out = operators.TextOps.topkNgrams(docs, 2, 10).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // 1-word and empty docs contribute nothing (sequence guard)
    assert(out.toSeq == Seq("b a" -> 2L, "a b" -> 1L))
  }

  test("hllDistinct: estimates within HLL error bounds, partition-invariant") {
    val sess = spark
    import sess.implicits._
    // groups with known cardinalities spanning both correction regimes:
    // small (correction branch, n << m) and large (raw branch, n >> 2.5m)
    val rows = (1 to 100).map(u => ("small", u.toLong)) ++
      (1 to 5000).flatMap(u => Seq(("large", u.toLong), ("large", u.toLong))) // dups don't count
    val df = rows.toDF("grp", "user_id")
    def run(parts: Int) = operators.Relational
      .hllDistinct(df.repartition(parts), "grp", "user_id").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val est = run(8)
    // m=256 -> typical relative error 1.04/sqrt(256) = 6.5%; allow 3 sigma
    assert(math.abs(est("small") - 100) / 100.0 < 0.2, s"small: ${est("small")}")
    assert(math.abs(est("large") - 5000) / 5000.0 < 0.2, s"large: ${est("large")}")
    // deterministic hashes + order-independent register sums:
    // bit-identical at any partition count
    assert(run(1) == est && run(32) == est)
  }

  test("topkCms: estimates dominate true counts, clear heavy hitters surface") {
    val sess = spark
    import sess.implicits._
    // 60 copies of one bigram-rich doc + distinct tail docs
    val docs = ((0 until 60).map(i => (i.toLong, "the cat sat here")) ++
      (60 until 90).map(i => (i.toLong, s"unique$i words$i and$i more$i"))).toDF("doc_id", "text")
    val est = operators.TextOps.topkCms(docs, k = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = operators.TextOps.topkNgrams(docs, n = 2, k = 1000).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // CMS overestimate guarantee on every returned gram
    est.foreach { case (g, e) =>
      assert(e >= exact(g), s"'$g': est $e < true ${exact(g)}")
    }
    // the unambiguous heavy hitters dominate the sketch's top ranks
    assert(est.keySet.intersect(Set("the cat", "cat sat", "sat here")).size == 3)
    assert(est("the cat") >= 60 && est("cat sat") >= 60)
  }

  test("bm25 matches the closed form on a two-document corpus") {
    val sess = spark
    import sess.implicits._
    val docs = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val out = operators.TextOps.bm25(docs, Seq("a"))
      .collect().map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("bm25"))).toMap
    // N=2, df=1 -> idf=ln(2); doc1: tf=2, dl=3, avgdl=2.5
    val expected1 = math.log(2.0) * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 / 2.5))
    assert(math.abs(out(1L) - math.rint(expected1 * 1e4) / 1e4) < 1e-12)
    assert(out(2L) == 0.0) // term absent -> zero contribution
    // terms must be normalized word tokens
    intercept[IllegalArgumentException] {
      operators.TextOps.bm25(docs, Seq("Not A Token"))
    }
  }

  test("repetition computes top-2gram and dup-3gram fractions on crafted docs") {
    val sess = spark
    import sess.implicits._
    val docs = Seq(
      (1L, "a a a a"), // g2 = 3x "a a" -> top frac 1.0; g3 = 2x "a a a" -> dup 0.5
      (2L, "a b c d"), // all grams distinct -> top frac 1/3, dup 0
      (3L, "x y")      // no 3-grams -> dup_3gram_frac null
    ).toDF("doc_id", "text")
    val out = operators.TextOps.repetition(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 4 && out(1L).getInt(2) == 3)
    assert(out(1L).getDouble(5) == 1.0 && out(1L).getDouble(3) == 0.5)
    assert(out(2L).getDouble(5) == 0.3333 && out(2L).getDouble(3) == 0.0)
    assert(out(3L).isNullAt(3) && out(3L).getLong(4) == 1L)
  }

  test("charEntropy matches the closed form; uniform max, constant zero") {
    val sess = spark
    import sess.implicits._
    val docs = Seq((1L, "aabb"), (2L, "aaaa"), (3L, ""), (4L, "abcd")).toDF("doc_id", "text")
    val out = operators.TextOps.charEntropy(docs).collect()
      .map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(out(1L) == Some(math.rint(math.log(2) * 1e4) / 1e4)) // two symbols 50/50 -> ln 2
    assert(out(2L) == Some(0.0))  // single symbol -> zero entropy
    assert(out(3L).isEmpty)       // empty doc -> null
    assert(out(4L) == Some(math.rint(math.log(4) * 1e4) / 1e4)) // uniform over 4 -> ln 4
  }

  test("canonicalUrl collapses scheme/www/query/fragment/slash variants") {
    val sess = spark
    import sess.implicits._
    val urls = Seq(
      (1L, "HTTPS://WWW.Ex.COM/A/Path/?q=1&r=2#frag"),
      (2L, "http://ex.com/a/path"),
      (3L, "https://ex.com/a/path///"),
      (4L, "http://www.ex.com/a/path#x"),
      (5L, "http://ex.com/other")
    ).toDF("doc_id", "url")
    val out = operators.Dedup.urlDedup(urls, "url").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("ex.com/a/path") == (1L, 4L)) // all four variants collapse
    assert(out("ex.com/other") == (5L, 1L))
    assert(out.size == 2)
  }

  test("dupShingleProfile: shared fraction counts corpus-wide 3-gram df>=2") {
    val sess = spark
    import sess.implicits._
    val docs = Seq(
      (1L, "a b c d"), // shingles {a b c, b c d}; "a b c" shared with doc 2
      (2L, "a b c x"), // shingles {a b c, b c x}
      (3L, "p q r s")  // disjoint
    ).toDF("doc_id", "text")
    val out = operators.Dedup.dupShingleProfile(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toList.sorted
    assert(out == List((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 2L, 0L, 0.0)))
  }

  test("saltedJoin equals the plain join on skewed keys, any salt count") {
    val sess = spark
    import sess.implicits._
    // 90% of rows on one hot key — the straggler shape salting targets
    val big = (0L until 1000L)
      .map(i => (if (i % 10 == 0) i % 50 else 7L, i, i * 0.5))
      .toDF("k", "row_id", "v")
    val dim = (0L until 50L).map(i => (i, s"d$i")).toDF("k", "name")
    val plain = big.join(dim, "k").select("row_id", "name")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    for (salts <- Seq(1, 4, 16)) {
      val got = operators.Relational.saltedJoin(big, dim, "k", salts, xxhash64(col("row_id")))
        .select("row_id", "name")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
      assert(got == plain, s"salts=$salts")
    }
  }

  test("shardPack matches the single-partition window oracle at any parallelism") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "n_chars")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("doc_id").rowsBetween(Long.MinValue, -1)
    val oracle = docs
      .withColumn("shard", (coalesce(sum("n_chars").over(w), lit(0L)) / 10000).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    for (parts <- Seq(1, 7)) {
      val got = Corpus.shardPack(docs.repartition(parts), "doc_id", "n_chars", 10000L)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == oracle, s"parts=$parts")
    }
    // budget is respected: every shard except possibly ones opened by
    // an oversized doc stays under target + max doc size
    val maxDoc = docs.agg(max("n_chars")).head().getLong(0)
    val sizes = Corpus.shardPack(docs, "doc_id", "n_chars", 10000L)
      .groupBy("shard").agg(sum("n_chars").as("sz")).collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 10000L + maxDoc))
    // fractional size columns fail fast instead of silently truncating
    intercept[IllegalArgumentException] {
      Corpus.shardPack(docs.withColumn("n_chars", col("n_chars") * 1.5),
        "doc_id", "n_chars", 10000L)
    }
  }

  test("packSequences: docs split across sequence boundaries, empty docs null, any parallelism") {
    val sess = spark
    import sess.implicits._
    // stream: 3 +4 +0 +10 +3 tokens, seqLen 5
    // starts:  0  3  7  7   17 -> seqs [0,0] [0,1] null [1,3] [3,3]
    val docs = Seq((1L, 3L), (2L, 4L), (3L, 0L), (4L, 10L), (5L, 3L))
      .toDF("doc_id", "n_tokens")
    def run(parts: Int) =
      Corpus.packSequences(docs.repartition(parts), "doc_id", "n_tokens", 5L)
        .collect().map(r => r.getLong(0) ->
          (Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toMap
    val expect = Map(
      1L -> ((Some(0L), Some(0L), Some(1L))),
      2L -> ((Some(0L), Some(1L), Some(2L))),
      3L -> ((None, None, None)),
      4L -> ((Some(1L), Some(3L), Some(3L))),
      5L -> ((Some(3L), Some(3L), Some(1L))))
    assert(run(1) == expect)
    assert(run(7) == expect) // partition-count invariant
    // conservation: every sequence index in [0, ceil(total/len)) is
    // covered by some doc's [seq_start, seq_end] span
    val covered = run(3).values.collect {
      case (Some(s: Long), Some(e: Long), _) => s to e
    }.flatten.toSet
    assert(covered == (0L to 3L).toSet)
  }

  test("tokenBudget: per-source cutoff is exact, straddler kept, partition-invariant") {
    val sess = spark
    import sess.implicits._
    // source A: enough docs to exhaust a 10-token budget; B fits whole
    val docs = (1L to 8L).map(i => (i, "A", 4L)) ++ Seq((20L, "B", 3L), (21L, "B", 2L))
    val df = docs.toDF("doc_id", "source", "n_tokens")
    def run(parts: Int) =
      Corpus.tokenBudget(df.repartition(parts), "doc_id", "source", "n_tokens", 10L)
        .collect().map(r => (r.getLong(r.fieldIndex("doc_id")),
          r.getLong(r.fieldIndex("tok_before")))).toMap
    val out = run(1)
    // selection is priority-ordered: exactly 3 A-docs start inside the
    // 10-token budget (0, 4, 8 — the 8-start doc STRADDLES and is kept),
    // and all of B (5 tokens total) fits
    val aSel = out.keys.filter(_ <= 8L)
    assert(aSel.size == 3)
    assert(out.keys.count(_ >= 20L) == 2)
    // starts within a source are the exclusive prefix sums 0,4,8
    assert(aSel.map(out).toSeq.sorted == Seq(0L, 4L, 8L))
    assert(run(5) == out) // partition-count invariant
  }

  test("profileStats: hand moments on the integer lattice, nulls counted, partition-invariant") {
    val sess = spark
    import sess.implicits._
    // a: 1.25, 2.25, 3.25, null -> n=4 nonnull=3 mean=2.25
    //   std = sqrt(((q=125,225,325): s2*n - s1^2) / (n(n-1))) / 100 = 1.0
    // b: constant column -> std 0
    val df = Seq(
      (Some(1.25), 7.0), (Some(2.25), 7.0), (Some(3.25), 7.0), (None, 7.0))
      .toDF("a", "b")
    def run(d: org.apache.spark.sql.DataFrame) =
      Relational.profileStats(d, Seq("a", "b")).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    val out = run(df)
    assert(out("a") == ((4L, 1L, 2.25, 1.0, 1.25, 3.25)))
    assert(out("b") == ((4L, 0L, 7.0, 0.0, 7.0, 7.0)))
    assert(run(df.repartition(5)) == out, "lattice moments are partition-exact")
  }

  test("latenessProfile: scala-replayed watermark fold, zero-jitter degenerate, partition-invariant") {
    val sess = spark
    import sess.implicits._
    val n = 120
    val ev = (0 until n).map(i =>
      (i.toLong, 1L, if (i % 2 == 0) "a" else "b", 1000L + i * 100L))
    val df = ev.toDF("event_id", "user_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    // replay the fold: same hashBucket jitter, arrival sort, running
    // strictly-preceding max, minute bins
    def bucket(id: Long, m: Long): Long = ((id ^ (id >>> 31)) % 1000000007L
      * 2654435761L) % 1000000007L % m
    val arr = ev.map { case (id, _, et, sec) =>
      (sec * 1000000L + (bucket(id, 601) - 300) * 1000000L, id, et, sec * 1000000L)
    }.sorted
    var wm = Long.MinValue
    val lates = arr.map { case (_, _, et, tsu) =>
      val l = if (wm == Long.MinValue) 0L else math.max(0L, wm - tsu) / 1000000L
      wm = math.max(wm, tsu)
      (et, l)
    }
    val expect = lates.groupBy { case (et, l) => (et, (l / 60).toInt) }
      .map { case ((et, bin), xs) => (et, bin, xs.size.toLong, xs.map(_._2).max) }
      .toSeq.sorted
    def run(d: org.apache.spark.sql.DataFrame) =
      Relational.latenessProfile(d).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(run(df) == expect)
    assert(run(df.repartition(7)) == expect, "partition-count invariant")
    assert(expect.exists(_._2 > 0), "the jitter produced genuinely late rows")
    // zero jitter -> arrival == event order -> nobody is late
    val flat = Relational.latenessProfile(df, jitterSec = 0).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(flat.sorted == Seq(("a", 0, 60L, 0L), ("b", 0, 60L, 0L)))
  }

  test("watermarkChoice: integer-rank quantiles replay the lateness stream; zero-jitter degenerate") {
    val sess = spark
    import sess.implicits._
    val n = 120
    val ev = (0 until n).map(i =>
      (i.toLong, 1L, if (i % 2 == 0) "a" else "b", 1000L + i * 100L))
    val df = ev.toDF("event_id", "user_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    // replay: same jitter + watermark fold as the latenessProfile spec
    def bucket(id: Long, m: Long): Long = ((id ^ (id >>> 31)) % 1000000007L
      * 2654435761L) % 1000000007L % m
    val arr = ev.map { case (id, _, et, sec) =>
      (sec * 1000000L + (bucket(id, 601) - 300) * 1000000L, id, et, sec * 1000000L)
    }.sorted
    var wm = Long.MinValue
    val lates = arr.map { case (_, _, et, tsu) =>
      val l = if (wm == Long.MinValue) 0L else math.max(0L, wm - tsu) / 1000000L
      wm = math.max(wm, tsu)
      (et, l)
    }
    def q(ls: Seq[Long], num: Long, den: Long): Long = {
      val sorted = ls.sorted
      sorted.zipWithIndex.collectFirst {
        case (v, i) if (i + 1).toLong * den >= num * ls.size => v
      }.get
    }
    val expect = lates.groupBy(_._1).map { case (et, xs) =>
      val ls = xs.map(_._2)
      (et, ls.size.toLong,
        math.floor(ls.count(_ > 0).toDouble / ls.size * 1e4 + 0.5) / 1e4,
        q(ls, 1, 2), q(ls, 99, 100), q(ls, 999, 1000), ls.max)
    }.toSeq.sortBy(_._1)
    val got = Relational.watermarkChoice(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expect)
    assert(expect.exists(_._7 > 0), "disorder produced genuinely late rows")
    // zero jitter -> in-order stream: every quantile and share is 0
    val flat = Relational.watermarkChoice(df, jitterSec = 0).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getLong(5), r.getLong(6))).toSeq
    assert(flat.sorted == Seq(("a", 0.0, 0L, 0L), ("b", 0.0, 0L, 0L)))
  }

  test("cdcApply: state machine on a hand log — re-insert, dead updates, anomalies, tiebreak, invariance") {
    val sess = spark
    import sess.implicits._
    // (user, sec, event_id, type, value)
    val log = Seq(
      // u1: ins, upd, del, anom(view on dead), re-ins, upd
      (1L, 10L, 100L, "signup", Some(1.0)), (1L, 20L, 101L, "click", Some(2.0)),
      (1L, 30L, 102L, "error", None), (1L, 40L, 103L, "view", Some(9.0)),
      (1L, 50L, 104L, "signup", Some(3.0)), (1L, 60L, 105L, "purchase", Some(4.0)),
      // u2: two anomalies before the insert, then deleted -> dead
      (2L, 10L, 200L, "click", Some(5.0)), (2L, 20L, 201L, "error", None),
      (2L, 30L, 202L, "signup", Some(5.0)), (2L, 40L, 203L, "error", None),
      // u3: double insert is a replace; EQUAL ts -> event_id breaks the tie
      (3L, 10L, 301L, "signup", Some(1.5)), (3L, 10L, 300L, "signup", Some(2.5)))
    val df = log.toDF("user_id", "sec", "event_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    def runOn(d: org.apache.spark.sql.DataFrame, parts: Int) =
      Relational.cdcApply(d.repartition(parts)).orderBy("user_id").collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7), r.getLong(8)))).toMap
    def run(parts: Int) = runOn(df, parts)
    val out = run(1)
    assert(out(1L) == ((true, Some(4.0), 2L, 2L, 1L, 1L, 0L, 60000000L)))
    assert(out(2L) == ((false, None, 1L, 0L, 1L, 2L, 0L, 40000000L)))
    // u3: event 300 (v=2.5) sorts FIRST at the tied ts, 301 replaces it
    assert(out(3L) == ((true, Some(1.5), 2L, 0L, 0L, 0L, 0L, 10000000L)))
    assert(run(7) == out, "partition-count invariant")
    // unknown op types QUARANTINE (counted, state untouched), never
    // kill the job from inside a task — the a38 boundary convention.
    // The poison pill still advances last_ts_us (it was observed).
    val bad = Seq(
      (9L, 10L, 900L, "signup", Some(1.0)), (9L, 20L, 901L, "mystery", Some(7.0)),
      (9L, 30L, 902L, "click", Some(2.0)))
      .toDF("user_id", "sec", "event_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val q = runOn(bad, 3)
    assert(q(9L) == ((true, Some(2.0), 1L, 1L, 0L, 0L, 1L, 30000000L)))
    // an applied update carrying NULL replays LITERALLY: final value is
    // null even though an earlier non-null value exists (the r18 advice
    // cross-engine divergence — both engines now track the literal op)
    val nullUpd = Seq(
      (8L, 10L, 800L, "signup", Some(5.0)),
      (8L, 20L, 801L, "view", Option.empty[Double]))
      .toDF("user_id", "sec", "event_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val nv = runOn(nullUpd, 2)
    assert(nv(8L) == ((true, None, 1L, 1L, 0L, 0L, 0L, 20000000L)))
  }

  test("interleave: order key survives >1e12 and negative doc_ids (lpad truncation regression)") {
    val sess = spark
    import sess.implicits._
    // ids straddle 1e12 (the old 12-wide pad TRUNCATED these — Spark
    // lpad keeps the left 12 chars, so 1e12 sorted before 999999999999)
    // and include negatives (raw string order misorders '-')
    val ids = Seq(-5000000000000L, -3L, 7L, 999999999999L,
      1000000000000L, 5000000000001L)
    val docs = ids.map(i => (i, "S", "w w")).toDF("doc_id", "source", "text")
    // single source, equal token counts: vt is strictly increasing in
    // the per-source cumsum, so the feed order IS ascending numeric id
    val out = Corpus.interleave(docs).collect().map(_.getLong(1)).toSeq
    assert(out == ids.sorted)
  }

  test("interleave: virtual-time order on a hand case, replayed oracle, partition-invariant") {
    val sess = spark
    import sess.implicits._
    // A: 2 docs x 4 tokens (8 total, w = round(sqrt(8)e6) = 2828427)
    // B: 4 docs x 1 token (4 total, w = 2000000)
    // vt: B=500,1000,1500,2000; A=1414,2828 -> B B A B B A
    val docs = Seq(
      (1L, "A", "w w w w"), (2L, "A", "w w w w"),
      (10L, "B", "w"), (11L, "B", "w"), (12L, "B", "w"), (13L, "B", "w"))
      .toDF("doc_id", "source", "text")
    val out = Corpus.interleave(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(4)))
    assert(out.map(_._2).toSeq == Seq(10L, 11L, 1L, 12L, 13L, 2L))
    assert(out.map(_._1).toSeq == (1 to 6), "positions are dense ranks")
    assert(out.map(_._3).toSeq == Seq(500L, 1000L, 1414L, 1500L, 2000L, 2828L))
    // bigger random-ish corpus: replay the WFQ rule in plain Scala
    val big = (1L to 60L).map { i =>
      val src = if (i % 3 == 0) "big" else "small"
      (i, src, Seq.fill(1 + (i % 5).toInt)("tok").mkString(" "))
    }
    val bigDf = big.toDF("doc_id", "source", "text")
    val toks = big.map { case (id, s, t) => (id, s, t.split(" ").length.toLong) }
    val wm = toks.groupBy(_._2).map { case (s, xs) =>
      s -> math.round(math.sqrt(xs.map(_._3).sum.toDouble) * 1e6)
    }
    val cums = scala.collection.mutable.Map.empty[String, Long]
    val expect = toks.sortBy(_._1).map { case (id, s, n) =>
      val c = cums.getOrElse(s, 0L) + n
      cums(s) = c
      (c * 1000000000L / wm(s), s, id)
    }.sorted.take(200).zipWithIndex
      .map { case ((vt, s, id), k) => (k + 1, id, s, vt) }
    def run(parts: Int) = Corpus.interleave(bigDf.repartition(parts)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(4))).toSeq
    assert(run(1) == expect)
    assert(run(7) == expect) // partition-count invariant
  }

  test("repeatEpochs: closed-form epoch counts, cap binds, remainder fill, partition-invariant") {
    val sess = spark
    import sess.implicits._
    // A: 4 docs x 10 tokens (tok 40); B: 1 doc x 10 tokens (tok 10).
    // w_micro: A 6324555, B 3162278 (sqrt grid); wtot 9486833.
    // budget 150: t_A = (150*6324555) div wtot = 99 -> efull 2, rem 19;
    //             t_B = 50 -> 50 div 10 = 5 CAPPED at 4, rem 0.
    val ten = (1 to 10).map(i => s"tok$i").mkString(" ")
    // source C is all-empty: zero tokens must mean zero epochs, not
    // the div-null/least-null-skip maxEpochs trap
    val docs = ((1L to 4L).map(i => (i, ten, "A")) :+ (9L, ten, "B") :+ (11L, "", "C"))
      .toDF("doc_id", "text", "source")
    def run(parts: Int) =
      Corpus.repeatEpochs(docs.repartition(parts), budgetTokens = 150L, maxEpochs = 4)
        .collect().map(r => (r.getLong(0), r.getAs[Int]("epoch"))).sorted.toSeq
    val out = run(1)
    val perDoc = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // B: capped at 4 full epochs, no fractional (rem latched to 0)
    assert(perDoc(9L) == Seq(0, 1, 2, 3))
    // A: every doc gets the 2 full epochs; the 19-token remainder
    // admits exactly TWO docs (starts 0 and 10 < 19; 20 does not) into
    // the fractional third epoch — c07's straddler-kept convention
    val aCounts = (1L to 4L).map(i => perDoc(i).size)
    assert(aCounts.count(_ == 3) == 2 && aCounts.count(_ == 2) == 2)
    assert((1L to 4L).forall(i => perDoc(i).take(2) == Seq(0, 1)))
    // emitted A tokens = 100 (99-token target, one-doc overshoot)
    assert(out.count(_._1 <= 4L) * 10 == 100)
    assert(!perDoc.contains(11L)) // empty source emits nothing
    assert(run(5) == out) // partition-count invariant
  }

  test("datasetCard: hand-built card — counts, exact median, modal lang tie-break, short fraction") {
    val sess = spark
    import sess.implicits._
    def doc(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // source A: 4 docs of 10/20/30/60 tokens, langs en,en,de,fr
    //   median = (20+30)/2 = 25; short (<50) = 3/4; modal lang en
    // source B: 2 docs of 5/100 tokens, langs zh,de (tie) -> top 'zh'
    val docs = Seq(
      (1L, doc(10), "en", "A"), (2L, doc(20), "en", "A"),
      (3L, doc(30), "de", "A"), (4L, doc(60), "fr", "A"),
      (5L, doc(5), "zh", "B"), (6L, doc(100), "de", "B"))
      .toDF("doc_id", "text", "lang", "source")
    val out = Corpus.datasetCard(docs).orderBy("source").collect()
    val a = out(0)
    assert(a.getAs[Long]("n_docs") == 4L && a.getAs[Long]("n_tokens") == 120L)
    assert(a.getAs[Double]("mean_doc_tokens") == 30.0)
    assert(a.getAs[Double]("median_doc_tokens") == 25.0)
    assert(a.getAs[Long]("n_langs") == 3L && a.getAs[String]("top_lang") == "en")
    assert(a.getAs[Double]("short_doc_frac") == 0.75)
    val b = out(1)
    assert(b.getAs[Double]("median_doc_tokens") == 52.5)
    assert(b.getAs[String]("top_lang") == "zh") // tie broken to largest code
    assert(b.getAs[Double]("short_doc_frac") == 0.5)
  }

  test("pagerank: hand-checked iteration with a dangling node, symmetry, invariance") {
    val sess = spark
    import sess.implicits._
    // a->b, b->a, a->c ; c dangles. N=3, r0=333333, teleport=50000.
    // contrib: a gives 166666 to b and c; b gives 333333 to a; dm=333333
    // r'(a)=50000+round(.85*(333333+111111))=427777
    // r'(b)=r'(c)=50000+round(.85*(166666+111111))=286110
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c")).toDF("src", "dst")
    val out = operators.Graph.pagerank(e, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 427777L, "b" -> 286110L, "c" -> 286110L))
    // symmetric 2-cycle: both vertices stay at exactly half the mass
    val sym = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val s = operators.Graph.pagerank(sym, iters = 4)
      .collect().map(r => r.getLong(1))
    assert(s.toSeq == Seq(500000L, 500000L))
    // partition-count invariance (integer-grid reductions)
    val big = (1L to 60L).map(i => (s"n$i", s"n${i % 20 + 1}")).toDF("src", "dst")
    val r1 = operators.Graph.pagerank(big.repartition(1), 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val r8 = operators.Graph.pagerank(big.repartition(8), 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 == r8)
  }

  test("rank-loop driver regime is bit-equal to the declarative loop") {
    val sess = spark
    import sess.implicits._
    // pagerank/ppr/labelProp/kcore/bfs run driver-resident below the
    // edge gate. Integer state makes the twin EXACT (order-independent
    // sums; Spark's Round replicated via BigDecimal HALF_UP). The
    // distributed path is itself dual-regime: state broadcasts to the
    // edges below the vertex gate, plain shuffle loop above. Pin all
    // THREE regimes bit-equal, forced through Graph.regimes.
    val e = (1L to 200L).map(i => (i, i * 7 % 97 + 1)).toDF("src", "dst")
    val und = (1L to 200L).map(i => (i, i * 11 % 83 + 1)).toDF("u", "v")
    val seeds = Seq(3L, 9L, 27L).toDF("node")
    // string ids pin the shared driver index for non-Long nodes
    val es = (1 to 200).map(i => (s"n$i", s"n${i * 7 % 97 + 1}")).toDF("src", "dst")
    val unds = (1 to 200).map(i => (s"n$i", s"n${i * 11 % 83 + 1}")).toDF("u", "v")
    val seedsS = Seq("n3", "n9", "n27").toDF("node")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => r.get(0) -> r.getLong(1)).toMap
    def all() = Seq(
      "pagerank" -> m(operators.Graph.pagerank(e, 4)),
      "ppr" -> m(operators.Graph.personalizedPagerank(e, seeds, 4)),
      "labelProp" -> m(operators.Graph.labelProp(und, 3)),
      "kcore" -> m(operators.Graph.kcore(und, 2, 3)),
      "bfs" -> m(operators.Graph.bfsHops(und, col("node") % 13 === 0, 3)),
      "pagerank (string ids)" -> m(operators.Graph.pagerank(es, 4)),
      "ppr (string ids)" -> m(operators.Graph.personalizedPagerank(es, seedsS, 4)),
      "kcore (string ids)" -> m(operators.Graph.kcore(unds, 2, 3)),
      "bfs (string ids)" -> m(operators.Graph.bfsHops(unds,
        substring(col("node"), 2, 3).cast("long") % 13 === 0, 3)))
    val drv = all()
    val bcast = operators.Graph.regimes.withValue(1)(all())
    val shuf = operators.Graph.regimes.withValue(0)(all())
    for (((name, d), i) <- drv.zipWithIndex) {
      assert(d.nonEmpty, s"$name: empty result")
      assert(d == bcast(i)._2, s"$name: driver vs broadcast regimes differ")
      assert(bcast(i)._2 == shuf(i)._2, s"$name: broadcast vs shuffle regimes differ")
    }
  }

  test("pagerank and ppr on an empty edge list return an empty frame in every regime") {
    val sess = spark
    import sess.implicits._
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    val seeds = Seq(3L).toDF("node")
    for (regime <- 0 to 2) operators.Graph.regimes.withValue(regime) {
      for ((name, out) <- Seq("pagerank" -> operators.Graph.pagerank(e, 3),
          "ppr" -> operators.Graph.personalizedPagerank(e, seeds, 3))) {
        assert(out.columns.toSeq == Seq("node", "rank_micro", "rank"), s"$name regime $regime")
        assert(out.collect().isEmpty, s"$name regime $regime")
      }
    }
  }

  test("ppr: hand-checked seed-biased iterations, mass conservation, invariance") {
    val sess = spark
    import sess.implicits._
    // a->b, b->a, a->c ; c dangles; seed = {a}. S=1, ts=150000,
    // r0: a=1000000, b=c=0.
    // it1: a sends 500000 to b and c; dm=0 → a=150000, b=c=425000
    // it2: b returns 425000 to a; c's 425000 dangles back to the
    // seed → a=150000+round(.85*850000)=872500, b=c=round(.85*75000)=63750
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c")).toDF("src", "dst")
    val seedA = Seq("a").toDF("node")
    val r1 = operators.Graph.personalizedPagerank(e, seedA, 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 == Map("a" -> 150000L, "b" -> 425000L, "c" -> 425000L))
    val r2 = operators.Graph.personalizedPagerank(e, seedA, 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r2 == Map("a" -> 872500L, "b" -> 63750L, "c" -> 63750L))
    // dangling-free 2-cycle conserves the full grid mass every round
    val sym = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val s2 = operators.Graph.personalizedPagerank(sym, seedA, 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s2 == Map("a" -> 872500L, "b" -> 127500L))
    assert(s2.values.sum == 1000000L)
    // seeds outside the graph are dropped; fully-disjoint seeds fail
    val rx = operators.Graph.personalizedPagerank(
      sym, Seq("a", "zz").toDF("node"), 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rx == Map("a" -> 150000L, "b" -> 850000L))
    intercept[IllegalArgumentException] {
      operators.Graph.personalizedPagerank(sym, Seq("zz").toDF("node"), 1)
    }
    // partition-count invariance (integer-grid reductions)
    val big = (1L to 60L).map(i => (s"n$i", s"n${i % 20 + 1}")).toDF("src", "dst")
    val seeds = Seq("n3", "n7", "n11").toDF("node")
    val p1 = operators.Graph.personalizedPagerank(big.repartition(1), seeds, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val p8 = operators.Graph.personalizedPagerank(big.repartition(8), seeds, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(p1 == p8)
  }

  test("adamicAdar: hand square, hub neighbors weigh less than rare ones") {
    val sess = spark
    import sess.implicits._
    // component A: square 1-2-3-4-1; component B: hub 12 with spokes
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L),
      (11L, 12L), (12L, 13L), (12L, 14L), (12L, 15L)).toDF("u", "v")
    val out = operators.Graph.adamicAdar(und, col("a") < 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val ln2 = math.log(2.0); val ln4 = math.log(4.0)
    def r4d(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    // square diagonal: two common neighbors, each deg 2
    assert(out((1L, 3L)) == ((2L, r4d(2.0 / ln2))))
    assert(out((2L, 4L)) == ((2L, r4d(2.0 / ln2))))
    // hub-mediated pair: one common neighbor of degree 4 — weaker
    // than a single rare (deg-2) neighbor would be
    assert(out((11L, 13L)) == ((1L, r4d(1.0 / ln4))))
    assert(out((11L, 13L))._2 < r4d(1.0 / ln2))
    // existing edges never predicted
    assert(!out.contains((1L, 2L)) && !out.contains((11L, 12L)))
  }

  test("triangles: K4 per-vertex counts, triangle-free square, invariance") {
    val sess = spark
    import sess.implicits._
    // K4: 4 triangles, every vertex sits in C(3,2)=3 of them
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("u", "v")
    val out = operators.Graph.triangles(k4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // 4-cycle without diagonals: no triangles at all
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v")
    assert(operators.Graph.triangles(square).count() == 0)
    // wheel W8 (hub 0 + 8-cycle): 8 triangles, hub in all of them,
    // each rim vertex in 2; partition-count invariant
    val wheel = ((1L to 8L).map(i => (0L, i)) ++
      (1L to 7L).map(i => (i, i + 1)) :+ (1L, 8L)).toDF("u", "v")
    val r1 = operators.Graph.triangles(wheel.repartition(1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r8 = operators.Graph.triangles(wheel.repartition(8))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(0L) == 8L && (1L to 8L).forall(i => r1(i) == 2L))
    assert(r1 == r8)
  }

  test("g02 cached orientation index equals a fresh build (persisted-artifact rule)") {
    val dir = "/root/testdata/sf0.001"
    val cached = operators.Graph.coOrderOrientedAdj(spark, dir)
    val fresh = operators.Graph.orientedAdjArrays(
      operators.Graph.coOrderEdges(spark, dir), 0)
    val a = cached.orderBy("src").collect().map(_.toString)
    val b = fresh.orderBy("src").collect().map(_.toString)
    assert(a.toSeq == b.toSeq)
    // and the count over the cached index equals the public operator
    val viaCache = operators.Graph.trianglesFromAdj(cached)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = operators.Graph.triangles(
        operators.Graph.coOrderEdges(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaCache == direct)
  }

  test("q18 merged partials equal the direct full-table aggregate") {
    // the algebraic-merge invariant the operator exists for: merging
    // the two snapshot partials must reproduce the single-pass rollup
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val merged = operators.Relational.q18PartialMerge(spark, dir)
      .collect().map(_.toSeq)
    val direct = Tables.lineitem(spark, dir)
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 4).as("s_qty"),
        min("l_quantity").as("mn_qty"), max("l_quantity").as("mx_qty"),
        round(sum("l_quantity") / count(lit(1)), 4).as("avg_qty"),
        round(sum("l_extendedprice"), 4).as("s_price"))
      .orderBy("l_suppkey").collect().map(_.toSeq)
    assert(merged.length == direct.length && merged.length > 0)
    merged.zip(direct).foreach { case (m, d) =>
      assert(m.take(5) == d.take(5), s"$m vs $d")
      // FP sums may differ in the last ulp across grouping orders;
      // the 4-dp round makes them equal except exactly at a tie —
      // compare to 1e-3 here (the oracle gate compares the rounded
      // engine value against DuckDB instead)
      assert(math.abs(m(5).toString.toDouble - d(5).toString.toDouble) < 1e-3)
      assert(math.abs(m(6).toString.toDouble - d(6).toString.toDouble) < 1e-3)
    }
  }

  test("c13 manifest digests match an independent per-shard recompute") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val man = operators.Corpus.c13ShardManifest(spark, dir).collect()
    assert(man.nonEmpty)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    // independent replay of the packing rule + composable digest
    var run = 0L
    val byShard = docs.map { case (id, n, text) =>
      val shard = run / 10000L; run += n; (shard, id, n, text)
    }.groupBy(_._1)
    man.foreach { r =>
      val s = byShard(r.getLong(0))
      assert(r.getLong(1) == s.length.toLong)
      assert(r.getLong(2) == s.map(_._3).sum)
      assert(r.getLong(3) == s.map(_._2).min && r.getLong(4) == s.map(_._2).max)
      assert(r.getString(5) == md5hex(s.sortBy(_._2).map(x => md5hex(x._4)).mkString))
    }
    assert(man.length == byShard.size)
  }

  test("resampleFfill: gap days carry last value, last obs of a day wins, grid spans per user") {
    val sess = spark
    import sess.implicits._
    val ev = Seq(
      (1L, 10L, ts("2024-03-01 09:00:00"), 10.0),
      (2L, 10L, ts("2024-03-01 17:00:00"), 11.0), // same day, later -> wins
      (3L, 10L, ts("2024-03-03 08:00:00"), 30.0), // day 2 is a gap
      (4L, 20L, ts("2024-03-02 12:00:00"), 7.0)   // single-day user
    ).toDF("event_id", "user_id", "ts", "value")
    val out = operators.Joins.resampleFfill(ev).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(out == Map(
      (10L, "2024-03-01") -> ((11.0, true)),
      (10L, "2024-03-02") -> ((11.0, false)),
      (10L, "2024-03-03") -> ((30.0, true)),
      (20L, "2024-03-02") -> ((7.0, true))))
  }

  test("q19 snapshot diff classifies added/deleted/changed per the key arithmetic") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = operators.Relational.q19SnapshotDiff(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val keys = Tables.orders(spark, dir).select("o_orderkey")
      .collect().map(_.getLong(0))
    keys.foreach { k =>
      val expect =
        if (k % 11 == 0 && k % 13 != 0) Some("added")
        else if (k % 13 == 0 && k % 11 != 0) Some("deleted")
        else if (k % 11 != 0 && k % 13 != 0 && k % 7 == 0) Some("changed")
        else None // unchanged or absent from both versions
      assert(out.get(k) == expect, s"key $k: ${out.get(k)} vs $expect")
    }
    assert(out.values.toSet == Set("added", "deleted", "changed"))
  }

  test("degreeHist: log2 bins exact at power-of-two boundaries") {
    val sess = spark
    import sess.implicits._
    // star K1,8: hub deg 8 (bin 3 — the boundary the 1e-9 nudge must
    // land UP), leaves deg 1 (bin 0)
    val star = (1L to 8L).map(i => (0L, i)).toDF("u", "v")
    val out = operators.Graph.degreeHist(star).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(0 -> ((8L, 1L, 1L)), 3 -> ((1L, 8L, 8L))))
    // path of 5: ends deg 1 (bin 0), middles deg 2 (bin 1)
    val path = (1L to 4L).map(i => (i, i + 1)).toDF("u", "v")
    val p = operators.Graph.degreeHist(path).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(p == Map(0 -> 2L, 1 -> 3L))
  }

  test("clusteringCoeff: triangle+pendant closed forms, deg<2 excluded, partition invariant") {
    val sess = spark
    import sess.implicits._
    // triangle A-B-C with pendant D on A: cc(A) = 2*1/(3*2) = 1/3,
    // cc(B) = cc(C) = 2*1/(2*1) = 1, D has deg 1 -> excluded
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("u", "v")
    val out = operators.Graph.clusteringCoeff(g).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((3L, 1L, 0.3333)))
    assert(out(2L) == ((2L, 1L, 1.0)))
    assert(out(3L) == ((2L, 1L, 1.0)))
    // square: wedges but no closures -> all cc = 0; invariant across
    // partitionings
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v")
    val r1 = operators.Graph.clusteringCoeff(square.repartition(1))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    val r8 = operators.Graph.clusteringCoeff(square.repartition(8))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    assert(r1 == (1L to 4L).map(i => (i, 0L, 0.0)).toSet)
    assert(r1 == r8)
  }

  test("triangles hubCap: lower bound, exact when cap >= max outdeg") {
    val sess = spark
    import sess.implicits._
    // K6: every vertex has degree 5; oriented outdeg ranges 0..5.
    // cap >= 5 must reproduce the exact count; a small cap must give
    // a per-node LOWER bound with strictly fewer total triangles.
    val k6 = (for { i <- 1L to 6L; j <- (i + 1) to 6L } yield (i, j)).toDF("u", "v")
    val exact = operators.Graph.triangles(k6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == (1L to 6L).map(_ -> 10L).toMap) // C(5,2)=10 each
    val capped5 = operators.Graph.triangles(k6, hubCap = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped5 == exact)
    val capped1 = operators.Graph.triangles(k6, hubCap = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped1.values.sum < exact.values.sum)
    assert(capped1.forall { case (n, c) => c <= exact(n) })
    // wheel W8 capped at 1 out-edge per vertex: strictly fewer than
    // the 8 exact triangles
    val wheel = ((1L to 8L).map(i => (0L, i)) ++
      (1L to 7L).map(i => (i, i + 1)) :+ (1L, 8L)).toDF("u", "v")
    val cw = operators.Graph.triangles(wheel, hubCap = 1)
      .agg(sum(col("n_triangles"))).head()
    assert(cw.isNullAt(0) || cw.getLong(0) < 24L)
  }

  test("triangles hubCap on the real co-order graph: capped is a close lower bound") {
    // the production-trade measurement the EXPLAIN.md entry reports:
    // exact vs capped total triangle participation on sf0.01's
    // co-order graph (the g02 input)
    val e = operators.Graph.coOrderEdges(spark, "/root/testdata/sf0.01")
    val exTop = operators.Graph.triangles(e)
      .orderBy(col("n_triangles").desc, col("node")).limit(20)
      .collect().map(_.getLong(0))
    val ex = operators.Graph.triangles(e)
      .agg(sum(col("n_triangles"))).head().getLong(0)
    val cp16 = operators.Graph.triangles(e, hubCap = 16)
      .agg(sum(col("n_triangles"))).head().getLong(0)
    val cp64 = operators.Graph.triangles(e, hubCap = 64)
      .agg(sum(col("n_triangles"))).head().getLong(0)
    assert(cp16 > 0 && cp16 <= cp64 && cp64 <= ex)
    // the r16 agreement measurement:
    // cap=64 keeps 17 of the exact top-20 at this scale (degrading
    // with density: 14/20 at 10x edges, 5/20 at 100x) — pin the
    // documented level with margin so a ranking consumer knows what
    // the escape hatch costs here
    val capTop = operators.Graph.triangles(e, hubCap = 64)
      .orderBy(col("n_triangles").desc, col("node")).limit(20)
      .collect().map(_.getLong(0))
    val overlap = capTop.toSet.intersect(exTop.toSet).size
    assert(overlap >= 14, s"cap=64 top-20 overlap $overlap < documented 14")
    info(s"co-order sf0.01: exact=$ex capped@64=$cp64 " +
      s"(${"%.1f".format(100.0 * cp64 / ex)}%) capped@16=$cp16 " +
      s"(${"%.1f".format(100.0 * cp16 / ex)}%) top20overlap@64=$overlap/20")
  }

  test("labelProp: disjoint triangles converge to min-id communities, invariance") {
    val sess = spark
    import sess.implicits._
    // hand-traced: round 1 sends node 1 to label 2 (tie of {2,3} → min),
    // nodes 2,3 to label 1; round 2 pulls node 1 back to 1; stable by
    // round 3 — each triangle becomes one community under its min id
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("u", "v")
    val out = operators.Graph.labelProp(und, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 10L -> 3L))
    val r1 = operators.Graph.labelProp(und.repartition(1), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r8 = operators.Graph.labelProp(und.repartition(8), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == r8)
  }

  test("linkPredict: path closes, square diagonals score 1.0, clique predicts nothing") {
    val sess = spark
    import sess.implicits._
    val all = lit(true)
    // path 1-2-3: candidates are (1,3) and (3,1) via center 2, jaccard 1.0
    val path = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val p = operators.Graph.linkPredict(path, all).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(p == Map((1L, 3L) -> ((1L, 1.0)), (3L, 1L) -> ((1L, 1.0))))
    // target-set filter keeps only the target-side rows
    val pt = operators.Graph.linkPredict(path, col("a") < 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(pt == Map((1L, 3L) -> ((1L, 1.0))))
    // 4-cycle: both diagonals share 2 of 2 neighbors; edges never appear
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v")
    val s = operators.Graph.linkPredict(square, all).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(s == Map((1L, 3L) -> ((2L, 1.0)), (3L, 1L) -> ((2L, 1.0)),
      (2L, 4L) -> ((2L, 1.0)), (4L, 2L) -> ((2L, 1.0))))
    // complete graph: every pair already adjacent -> nothing to predict
    val k3 = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("u", "v")
    assert(operators.Graph.linkPredict(k3, all).count() == 0)
    val r1 = operators.Graph.linkPredict(square.repartition(1), all).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val r8 = operators.Graph.linkPredict(square.repartition(8), all).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(r1 == r8)
  }

  test("assortativity: star is exactly -1, regular graph degenerates to NaN") {
    val sess = spark
    import sess.implicits._
    // K1,4 star: hubs only attach to leaves -> perfectly disassortative
    val star = (1L to 4L).map(i => (0L, i)).toDF("u", "v")
    val s = operators.Graph.assortativity(star).head()
    assert(s.getAs[Long]("n_nodes") == 5L && s.getAs[Long]("n_edges") == 4L)
    assert(s.getAs[Long]("max_deg") == 4L && s.getAs[Double]("avg_deg") == 1.6)
    assert(s.getAs[Double]("assortativity") == -1.0)
    // 5-cycle: every degree equal -> zero variance, Pearson undefined
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 5L)).toDF("u", "v")
    assert(operators.Graph.assortativity(cyc).head()
      .getAs[Double]("assortativity").isNaN)
    // integer moments: identical at any partition count
    val mixed = (star.collect().map(r => (r.getLong(0), r.getLong(1))) ++
      Seq((1L, 2L), (2L, 3L))).toSeq.toDF("u", "v")
    val r1 = operators.Graph.assortativity(mixed.repartition(1)).head()
    val r8 = operators.Graph.assortativity(mixed.repartition(8)).head()
    assert(r1.getAs[Double]("assortativity") == r8.getAs[Double]("assortativity"))
  }

  test("kcore: pendant chain peels off a K4 in two rounds, path dissolves, invariance") {
    val sess = spark
    import sess.implicits._
    // K4 on 1-4 plus pendant chain 1-5-6: round 1 drops 6 (deg 1),
    // round 2 drops the now-degree-1 vertex 5, round 3 is a no-op —
    // the 2-core is exactly the clique, every survivor at degree 3
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (5L, 6L)).toDF("u", "v")
    val out = operators.Graph.kcore(g, k = 2, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a path has no 2-core: the ends peel, then the middle is bare
    val path = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    assert(operators.Graph.kcore(path, k = 2, rounds = 2).count() == 0)
    val r1 = operators.Graph.kcore(g.repartition(1), 2, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r8 = operators.Graph.kcore(g.repartition(8), 2, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == r8)
  }

  test("scoreScreen: perfect association scores chi2 = n, independence scores 0") {
    val sess = spark
    import sess.implicits._
    // balanced y ⟂ s: every IRLS step leaves beta at (0,0) exactly, so
    // p=0.5 and the score test reduces to the closed Pearson form —
    // x1 = y gives chi2 = n = 8; x2 ⟂ y gives U = 0 hence chi2 = 0
    val rows = Seq(
      // (id, s, x1=y, x2 indep, y) — y and x2 balanced within each s
      (1L, 0.0, 1.0, 1.0, 1.0), (2L, 0.0, 0.0, 1.0, 0.0),
      (3L, 1.0, 1.0, 0.0, 1.0), (4L, 1.0, 0.0, 0.0, 0.0),
      (5L, 0.0, 1.0, 0.0, 1.0), (6L, 0.0, 0.0, 0.0, 0.0),
      (7L, 1.0, 1.0, 1.0, 1.0), (8L, 1.0, 0.0, 1.0, 0.0))
      .toDF("id", "s", "x1", "x2", "y1")
    val out = operators.Mas.scoreScreen(rows, "s", Seq("x1", "x2"), Seq("y1"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("x1").getAs[Double]("score_chi2") == 8.0)
    assert(out("x1").getAs[Long]("cases") == 4L &&
      out("x1").getAs[Long]("total_n") == 8L)
    assert(out("x2").getAs[Double]("score_chi2") == 0.0)
    // exact integer reductions: identical at any partition count
    val r1 = operators.Mas.scoreScreen(rows.repartition(1), "s", Seq("x1"), Seq("y1"))
      .collect().map(_.toString).toSeq
    val r8 = operators.Mas.scoreScreen(rows.repartition(8), "s", Seq("x1"), Seq("y1"))
      .collect().map(_.toString).toSeq
    assert(r1 == r8)
  }

  test("histQuantiles: hand-computed interpolation, constant group short-circuits") {
    val sess = spark
    import sess.implicits._
    // group a: 0..9 into 5 bins over [0,9], width 1.8 -> two per bin;
    // p50: r=5 lands in bin 2 (cum 6, prev 4) -> 1.8*(2 + 1/2) = 4.5;
    // p90: r=9 lands in bin 4 (cum 10, prev 8) -> 1.8*(4 + 1/2) = 8.1
    val df = ((0 to 9).map(i => ("a", i.toDouble)) ++
      Seq.fill(4)(("c", 7.0))).toDF("g", "x")
    val out = operators.Relational.histQuantiles(df, "g", "x", 5, Seq(0.5, 0.9))
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      ("a", 0.5) -> ((10L, 4.5)), ("a", 0.9) -> ((10L, 8.1)),
      ("c", 0.5) -> ((4L, 7.0)), ("c", 0.9) -> ((4L, 7.0))))
    val r1 = operators.Relational.histQuantiles(df.repartition(1), "g", "x", 5, Seq(0.5, 0.9))
      .collect().map(_.toString).sorted.toSeq
    val r8 = operators.Relational.histQuantiles(df.repartition(8), "g", "x", 5, Seq(0.5, 0.9))
      .collect().map(_.toString).sorted.toSeq
    assert(r1 == r8)
  }

  test("burstDetect: hand-computed z flags only the spike, steady stream excluded") {
    val sess = spark
    import sess.implicits._
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // type a: counts [1,1,1,1,1,10] over 6 hourly windows ->
    // mean 2.5, var 105/6 - 6.25 = 11.25, z(10) = 7.5/sqrt(11.25) = sqrt(5)
    val a = (0 to 4).map(h => (t(h, 30), "a")) ++ (0 until 10).map(m => (t(5, m), "a"))
    // type b: constant 3 per window -> zero variance, never flagged
    val b = for (h <- 0 to 2; m <- Seq(5, 15, 25)) yield (t(h, m), "b")
    val ev = (a ++ b).toDF("ts", "event_type")
    val out = operators.Relational.burstDetect(ev, "1 hour", 2.0).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("event_type") == "a")
    assert(r.getAs[java.sql.Timestamp]("window_start") == t(5, 0))
    assert(r.getAs[Long]("n") == 10L)
    assert(r.getAs[Double]("mean_n") == 2.5)
    assert(r.getAs[Double]("z") == 2.2361) // round(sqrt(5), 4)
    // integer moments: identical flag set at any partition count
    val r1 = operators.Relational.burstDetect(ev.repartition(1), "1 hour", 2.0)
      .collect().map(_.toString).sorted.toSeq
    val r8 = operators.Relational.burstDetect(ev.repartition(8), "1 hour", 2.0)
      .collect().map(_.toString).sorted.toSeq
    assert(r1 == r8)
  }

  test("zipfSlope: exact power law fits slope -1 with r2 = 1; constant counts null out") {
    val sess = spark
    import sess.implicits._
    // corpus where word k appears exactly round(720/k) times for
    // k = 1..6 (720, 360, 240, 180, 144, 120): ln(cnt) is EXACTLY
    // ln(720) - ln(rank), so the OLS slope is -1 and r2 = 1
    val text = (1 to 6).flatMap(k => Seq.fill(720 / k)(s"w$k")).mkString(" ")
    val docs = Seq(("s1", text)).toDF("source", "text")
    val r = operators.TextOps.zipfSlope(docs).head()
    assert(r.getAs[Long]("n_words") == 6L)
    assert(math.abs(r.getAs[Double]("zipf_slope") - (-1.0)) < 1e-9)
    assert(math.abs(r.getAs[Double]("r2") - 1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("intercept") - math.log(720.0)) < 1e-3)
    // all-equal counts: varY = 0 -> r2 null, slope 0
    val flat = Seq(("s2", "a b c a b c")).toDF("source", "text")
    val f = operators.TextOps.zipfSlope(flat).head()
    assert(math.abs(f.getAs[Double]("zipf_slope")) < 1e-12)
    assert(f.isNullAt(f.fieldIndex("r2")))
  }

  test("readability: hand-computed Flesch score, punctuation-free floor") {
    val sess = spark
    import sess.implicits._
    val docs = Seq(
      (1L, "The cat sat. The dog ran!"), // 6 words, 2 sentences, 6 syllable groups
      (2L, "no terminal punctuation here")).toDF("doc_id", "text")
    val out = operators.TextOps.readability(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val a = out(1L)
    assert(a.getAs[Long]("n_words") == 6L && a.getAs[Long]("n_sentences") == 2L
      && a.getAs[Long]("n_syllables") == 6L)
    // 206.835 - 1.015*3 - 84.6*1 = 119.19
    assert(a.getAs[Double]("flesch") == 119.19 && a.getAs[String]("band") == "easy")
    // sentence floor 1; "no terminal punctuation here": 4 words,
    // vowel groups: o,e,i,a,u,u,a,io,e,e -> counted by the regex
    val b = out(2L)
    assert(b.getAs[Long]("n_sentences") == 1L && b.getAs[Long]("n_words") == 4L)
  }

  test("mixtureWeights: sqrt-temperature weights with exact grid arithmetic") {
    val sess = spark
    import sess.implicits._
    // 4 vs 16 tokens -> sqrt weights 2:4 -> 1/3 and 2/3
    val docs = Seq(
      ("web", "a b c d"),
      ("books", "w x y z w x y z w x y z w x y z")).toDF("source", "text")
    val out = operators.Corpus.mixtureWeights(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("web") == ((1L, 4L, 0.333333)))
    assert(out("books") == ((1L, 16L, 0.666667)))
    // weights sum to ~1 and a bigger corpus is partition-invariant
    val many = (1 to 200).map(i => (s"s${i % 5}", ("tok " * (i % 37 + 1)).trim))
      .toDF("source", "text")
    val r1 = operators.Corpus.mixtureWeights(many.repartition(1)).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    val r8 = operators.Corpus.mixtureWeights(many.repartition(8)).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(r1 == r8 && math.abs(r1.values.sum - 1.0) < 1e-4)
  }

  test("transitionMatrix: counts and row-normalized probabilities from ordered sequences") {
    val sess = spark
    import sess.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(s: Long) = new java.sql.Timestamp(t0.getTime + s * 1000)
    // user 1: a->b->a->b ; user 2: a->b  => a->b: 3, b->a: 1
    val ev = Seq(
      (1L, 1L, at(0), "a"), (2L, 1L, at(1), "b"),
      (3L, 1L, at(2), "a"), (4L, 1L, at(3), "b"),
      (5L, 2L, at(0), "a"), (6L, 2L, at(1), "b")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = operators.Relational.transitionMatrix(ev, "user_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out(("a", "b")) == ((3L, 1.0)))   // a only ever goes to b
    assert(out(("b", "a")) == ((1L, 1.0)))   // b's one transition
    assert(out.size == 2)                     // last events emit nothing
  }

  test("bfsHops: path distances, multi-seed min, horizon cutoff, disconnected absent") {
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.functions.col
    // path 1-2-3-4-5-6, disconnected edge 10-11
    val und = Seq((1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11))
      .toDF("u", "v")
    val one = operators.Graph.bfsHops(und, col("node") === 1, rounds = 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // 3-round horizon: nodes 5, 6 and the 10-11 component are absent
    assert(one == Map(1 -> 0L, 2 -> 1L, 3 -> 2L, 4 -> 3L))
    // multi-seed: min over seeds 1 and 5; everything reached in 2 rounds
    val two = operators.Graph.bfsHops(und, col("node") === 1 || col("node") === 5,
        rounds = 2)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(two == Map(1 -> 0L, 2 -> 1L, 3 -> 2L, 4 -> 1L, 5 -> 0L, 6 -> 1L))
    // partition invariance: integer min state, any parallelism
    val p1 = operators.Graph.bfsHops(und.repartition(1), col("node") % 2 === 0, 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val p8 = operators.Graph.bfsHops(und.repartition(8), col("node") % 2 === 0, 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(p1 == p8)
  }
}
