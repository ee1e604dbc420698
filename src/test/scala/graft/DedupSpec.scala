package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("2").appName("dedup-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("sourceOverlap: hand matrix — cross pairs, diagonal combinations, normalization folds") {
    val sess = spark
    import sess.implicits._
    val docs = Seq(
      (1L, "x y", "A"), (2L, "X  Y", "B"),   // cross dup (normalized-equal)
      (3L, "z", "A"), (4L, "z", "A"), (5L, "z", "B"), // 2xA + 1xB class
      (6L, "unique", "B"))                    // no class
      .toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // (A,A): the z-class contributes C(2,2)=1 pair
    assert(out(("A", "A")) == ((1L, 1L)))
    // (A,B): xy-class (1 pair) + z-class (2x1 = 2 pairs)
    assert(out(("A", "B")) == ((2L, 3L)))
    assert(out.size == 2, "no (B,B) cell and no singleton classes")
    // registered corpus: every source shares classes with the mirror
    val reg = Dedup.d22SourceOverlap(spark, dir).collect()
    assert(reg.forall(r => r.getString(0) <= r.getString(1)))
    assert(reg.exists(r => r.getString(0) == "crawl-mirror" && r.getString(1) != "crawl-mirror"))
  }

  test("minhash signature is deterministic and identical for identical sets") {
    val params = Dedup.permParams(128, 42L)
    val params2 = Dedup.permParams(128, 42L)
    assert(params.toSeq == params2.toSeq)
    val sh = Seq("a b c", "b c d", "c d e")
    assert(Dedup.minhashSig(sh, params).toSeq == Dedup.minhashSig(sh.reverse, params).toSeq)
    // signature similarity approximates jaccard: disjoint sets differ
    val other = Seq("x y z", "y z w")
    val s1 = Dedup.minhashSig(sh, params)
    val s2 = Dedup.minhashSig(other, params)
    assert(s1.zip(s2).count { case (a, b) => a == b } < 16) // j=0 -> ~0 matches
  }

  test("minhash+LSH recalls every exact near-dup pair in the corpus (j>=0.5)") {
    val exact = Dedup.ngramJaccardPairs(Dedup.corpus(spark, dir), 0.5, None)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(Dedup.corpus(spark, dir), 0.5)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(exact == lsh, s"missing=${exact -- lsh} extra=${lsh -- exact}")
  }

  test("df-capped shingle join verifies exactly; generous cap equals exact") {
    val exact = Dedup.ngramJaccardPairs(Dedup.corpus(spark, dir), 0.5, Some("source"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = Dedup.ngramJaccardPairs(Dedup.corpus(spark, dir), 0.5, Some("source"),
      maxDf = Some(10000))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty)
    assert(capped == exact) // cap above every df -> identical incl. jaccard values
    // a tiny cap can only LOSE pairs (precision stays exact via re-verify)
    val tiny = Dedup.ngramJaccardPairs(Dedup.corpus(spark, dir), 0.5, Some("source"),
      maxDf = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(tiny.subsetOf(exact))
  }

  test("simhash: identical docs collide at hamming 0; mutated pairs found") {
    assert(Dedup.simhash60(Seq("a b c", "b c d")) == Dedup.simhash60(Seq("b c d", "a b c")))
    val out = Dedup.d04DedupSimhash(spark, dir).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every mutated twin (id, id+100000) must appear with hamming 0
    val mutatedTwins = pairs.filter { case (a, b, _) => b == a + 100000 }
    assert(mutatedTwins.nonEmpty)
    assert(mutatedTwins.forall(_._3 == 0))
    assert(pairs.forall(_._3 <= 3))
  }

  test("embedding dedup finds all scaled twins at cosine ~1") {
    val out = Dedup.d05DedupEmbedding(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val twins = out.filter { case (a, b, _) => b == a + 100000 }
    val nTwins = graft.Tables.embeddings(spark, dir)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 10 === 0).count()
    assert(twins.length == nTwins)
    assert(twins.forall(_._3 == 1.0))
  }

  test("bucketed embedding dedup equals the exact all-pairs set at tau=0.85") {
    val exact = Dedup.embeddingDupPairs(Dedup.embCorpus(spark, dir), 0.85)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingLshDupPairs(Dedup.embCorpus(spark, dir), 0.85)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(exact == lsh, s"missing=${exact -- lsh} extra=${lsh -- exact}")
  }

  test("embeddingDupPairs admission guard rejects oversized label blocks") {
    val sess = spark
    import sess.implicits._
    val emb = (1L to 40L).map(i => (i, "big", Seq(1.0, i.toDouble)))
      .toDF("vec_id", "label", "e")
    spark.conf.set("spark.graft.dedup.blockRowsMax", "10")
    try {
      val ex = intercept[IllegalArgumentException](
        Dedup.embeddingDupPairs(emb, 0.5))
      assert(ex.getMessage.contains("embeddingLshDupPairs"))
      // a bound above the block admits, and 0 disables the guard
      spark.conf.set("spark.graft.dedup.blockRowsMax", "40")
      assert(Dedup.embeddingDupPairs(emb, 0.99).count() > 0)
      spark.conf.set("spark.graft.dedup.blockRowsMax", "0")
      assert(Dedup.embeddingDupPairs(emb, 0.99).count() > 0)
    } finally spark.conf.unset("spark.graft.dedup.blockRowsMax")
  }

  test("connected components match driver-side union-find") {
    val sess = spark
    import sess.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 20L))
      .toDF("id1", "id2")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // chain of length 6 needs multiple propagation rounds
    val chain = (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id1", "id2")
    val got2 = Dedup.connectedComponents(chain).collect().map(_.getLong(1)).distinct
    assert(got2.toSeq == Seq(1L))
  }

  test("incrementalKeep: new snapshot vs old index, min-id tie, novel docs keep") {
    val sess = spark
    import sess.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten"
    // two identical old docs (1, 2): the best-match tie must go to the
    // SMALLEST old id; doc 3 is unrelated
    val old = Seq((1L, t1), (2L, t1), (3L, t2)).toDF("doc_id", "text")
    val nw = Seq((100001L, t1),
      (100002L, "totally different words entirely novel content here today"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalKeep(old, nw, 0.5).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size == 2)
    val dup = out(100001L)
    assert(!dup.getBoolean(3) && dup.getLong(1) == 1L && dup.getDouble(2) == 1.0)
    val nov = out(100002L)
    assert(nov.getBoolean(3) && nov.isNullAt(1) && nov.isNullAt(2))
  }

  test("d17 keep/drop: cluster min id kept, singletons keep themselves, partition invariant") {
    // end-to-end pipeline semantics on the real sf corpus: every doc
    // appears exactly once; each cluster keeps exactly its min id;
    // singleton clusters (n_cluster = 1) are all keepers; cluster
    // labels equal the component ids d06 reports for clustered docs
    val out = Dedup.d17DedupKeep(spark, dir).collect()
    val corpusN = Dedup.corpus(spark, dir).count()
    assert(out.length.toLong == corpusN)
    val byCluster = out.groupBy(_.getLong(1))
    byCluster.foreach { case (cl, rows) =>
      val keepers = rows.filter(_.getBoolean(3)).map(_.getLong(0))
      assert(keepers.toSeq == Seq(cl), s"cluster $cl keepers=${keepers.toSeq}")
      assert(rows.head.getLong(2) == rows.length.toLong, s"cluster $cl size")
      assert(rows.map(_.getLong(0)).min == cl, s"cluster $cl label not min")
    }
    assert(byCluster.exists(_._2.length > 1), "expected at least one dup cluster")
    val comp = Dedup.d06DedupComponents(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.filter(r => comp.contains(r.getLong(0))).foreach { r =>
      assert(r.getLong(1) == comp(r.getLong(0)))
    }
  }

  test("d17 keep artifact cache is row-identical to the fresh pipeline") {
    // the session cache (localCheckpointed keep frame shared by d17
    // and c11) must be indistinguishable from re-running banding +
    // components — the parquet-persisted-artifact contract
    val cached = Dedup.d17DedupKeep(spark, dir).collect().map(_.toSeq).sortBy(_.head.toString)
    val fresh = Dedup.d17DedupKeepFresh(spark, dir).orderBy("doc_id")
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(cached.toSeq == fresh.toSeq)
  }

  test("containment is directional: a quoted paragraph hits A->B but not B->A") {
    val sess = spark
    import sess.implicits._
    val para = "alpha beta gamma delta epsilon zeta eta theta"
    val long = s"intro words here $para and then a very long tail " +
      "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq(
      (1L, "s", para),             // fully quoted inside doc 2
      (2L, "s", long),
      (3L, "s", "completely different content with other words entirely"),
      (4L, "t", para)              // same text, different block -> never paired
    ).toDF("doc_id", "source", "text")
    val out = Dedup.containmentPairs(docs, 0.8, Some("source"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.contains((1L, 2L)) && out((1L, 2L)) == 1.0) // all of 1's shingles in 2
    assert(!out.contains((2L, 1L))) // 2 is NOT contained in 1
    assert(!out.keys.exists { case (a, b) => a == 3L || b == 3L })
    assert(!out.keys.exists { case (a, b) => a == 4L || b == 4L }) // block-scoped
  }

  test("bloomContamination: exact copy fully hits, disjoint text can only FP, never FN") {
    val sess = spark
    import sess.implicits._
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bench = Seq((1L, benchText)).toDF("doc_id", "text")
    val corpus = Seq(
      (100L, benchText), // exact copy: every shingle is IN the filter (no FN)
      (101L, "totally different words about unrelated topics entirely here now then")
    ).toDF("doc_id", "text")
    val out = Dedup.bloomContamination(corpus, bench, 4096, 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    // Bloom filters have no false negatives: the copy hits 100%
    val (n100, h100, f100) = out(100L)
    assert(n100 == 8 && h100 == 8 && f100)
    // the disjoint doc's hits are FPs only — with ≤24 set bits of
    // 4096 the 3-AND FP rate (~2e-7) cannot reach the 50% flag bar
    val (n101, h101, f101) = out(101L)
    assert(n101 == 8 && h101 <= n101 && !f101)
  }

  test("containmentContamination normalizes by the BENCHMARK shingle count") {
    val sess = spark
    import sess.implicits._
    // bench item: 10 words -> 8 distinct shingles
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bench = Seq((1L, benchText)).toDF("doc_id", "text")
    val corpus = Seq(
      // the item embedded inside a longer doc: ALL 8 bench shingles
      // present -> containment 1.0 regardless of the doc's extra text
      (100L, s"intro words before $benchText and trailing words after"),
      // half the item (first 5 words -> shingles 1-3 of 8): 3/8
      (101L, "alpha beta gamma delta epsilon unrelated filler text here"),
      // disjoint doc: no shared shingles -> no output row
      (102L, "totally different words about unrelated topics entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentContamination(corpus, bench, tau = 0.3)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out(100L) == ((8L, 1.0)))
    assert(out(101L) == ((3L, 0.375)))
    assert(!out.contains(102L))
    // tau above 3/8 drops the partial copy but keeps the full embed
    val strict = Dedup.containmentContamination(corpus, bench, tau = 0.5)
      .collect().map(_.getLong(1)).toSet
    assert(strict == Set(100L))
  }

  test("exact dedup classes cover exactly the mutated docs") {
    val out = Dedup.d01DedupExact(spark, dir).collect()
    assert(out.forall(_.getLong(1) == 2L))
    assert(out.forall(_.getLong(0) % 10 == 0))
  }

  test("paraDedup keeps first occurrence per paragraph, drops later copies in place") {
    val sess = spark
    import sess.implicits._
    def words(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    val shared = words("s")
    val docs = Seq(
      (1L, s"$shared ${words("a")}"),              // paras: shared, a
      (2L, s"${words("b")} $shared"),              // paras: b, shared(dup)
      (3L, shared.toUpperCase.replace(" ", "  ")), // normalizes to shared -> all dup
      (4L, words("c"))                             // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.paraDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), Option(r.getString(3)))).toMap
    assert(out(1L)._1 == 2 && out(1L)._2 == 2)      // first occurrence keeps both
    assert(out(2L)._1 == 2 && out(2L)._2 == 1)      // shared para dropped
    assert(out(3L) == ((1L, 0L, None)))             // whole doc was boilerplate
    assert(out(4L)._1 == 1 && out(4L)._2 == 1)
    // doc 2's surviving fingerprint is exactly its unique paragraph
    val md5b = java.security.MessageDigest.getInstance("MD5")
      .digest(words("b").getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(2L)._3.contains(md5b))
    // on the corpus: mutated twins (+100000) normalize to pure dups
    val corpus = Dedup.d12ParaDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    corpus.filter(_._1 >= 100000L).foreach { case (id, kept) =>
      assert(kept == 0L, s"mutated doc $id kept $kept paragraphs")
    }
  }

  test("lineDedup drops lines at df >= minDocs everywhere, keeps below-threshold copies") {
    val sess = spark
    import sess.implicits._
    def words(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    val boiler = words("nav")
    val quoted = words("q")
    val docs = Seq(
      (1L, s"$boiler ${words("a")}"),   // nav + unique a
      (2L, s"$boiler ${words("b")}"),   // nav + unique b
      (3L, s"$boiler $quoted"),         // nav + quoted (df=2, kept)
      (4L, s"$boiler $quoted"),         // nav + quoted copy (kept too)
      (5L, boiler)                      // pure boilerplate -> nothing left
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, minDocs = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), Option(r.getString(3)))).toMap
    assert(out(1L) == ((2L, 1L, out(1L)._3)) && out(1L)._3.isDefined)
    assert(out(2L)._2 == 1L)
    // boilerplate dropped from EVERY doc, including df-threshold edge:
    // nav appears in 5 distinct docs = minDocs -> dropped
    assert(out(5L) == ((1L, 0L, None)))
    // the quoted pair sits at df=2 < 5: BOTH copies survive (the
    // policy difference vs d12, which would drop doc 4's copy)
    assert(out(3L)._2 == 1L && out(4L)._2 == 1L)
    val md5q = java.security.MessageDigest.getInstance("MD5")
      .digest(quoted.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(3L)._3.contains(md5q) && out(4L)._3.contains(md5q))
    // on the corpus: every synthesized per-source footer is dropped
    // (df ~ docs-per-source >= 5) so n_kept < n_lines for every doc
    val corpus = Dedup.d15LineDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(corpus.nonEmpty)
    corpus.foreach { case (id, n, kept) =>
      assert(kept < n, s"doc $id kept all $n lines (footer not dropped)")
    }
  }

  test("dupSpans coalesces overlapping dup windows into maximal spans") {
    val sess = spark
    import sess.implicits._
    // w1..w10 is a 10-word run shared by docs 1 and 2 -> three
    // overlapping 8-word dup windows per doc MUST merge to ONE span
    // covering 10 tokens. Doc 3 shares nothing (distinct vocabulary),
    // doc 4 is shorter than the window. Doc 5 repeats doc 1's run AND
    // doc 3's closer words, separated by unique filler -> 2 spans.
    val run = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$run alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"pre1 pre2 $run post1 post2"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12"),
      (4L, "too short for a window"),
      (5L, s"$run f1 f2 f3 f4 f5 f6 f7 f8 c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12")
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs, w = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // doc 1: 11 windows total (18 words), 3 dup windows, 1 span, 10 tokens
    assert(out(1L) == ((11L, 3L, 1L, 10L)))
    // doc 2: run at offset 2 -> same 3 dup windows, one 10-token span
    assert(out(2L) == ((7L, 3L, 1L, 10L)))
    // doc 3: its 12-word stream reappears inside doc 5 -> all 5
    // windows dup, one 12-token span
    assert(out(3L) == ((5L, 5L, 1L, 12L)))
    // doc 4: shorter than w -> all zeros
    assert(out(4L) == ((0L, 0L, 0L, 0L)))
    // doc 5: two separated dup regions -> exactly 2 spans, 10+12 tokens
    assert(out(5L)._3 == 2L && out(5L)._4 == 22L)
  }

  test("exactSubstringSpans: char-exact coverage, within-doc repeats, normalization") {
    val sess = spark
    import sess.implicits._
    // k=5. Docs 1/2 share exactly "abcdefg" (7 chars): doc 1's dup
    // 5-gram starts {0,1,2} coalesce to ONE 7-char span; doc 2's
    // {2,3,4} likewise. Doc 3 has no duplicated 5-gram. Doc 4 repeats
    // an 8-char block WITHIN itself -> two 8-char spans (within-doc
    // occurrences count, as in Lee et al.). Docs 5/6 are the same
    // text modulo case/extra whitespace -> full-coverage spans after
    // normalization.
    val docs = Seq(
      (1L, "abcdefghij"),
      (2L, "xxabcdefgyy"),
      (3L, "zzzzz"),
      (4L, "mnopqrst mnopqrst"),
      (5L, "KLMNOPQRSTUV"),
      (6L, "  klmno pqrstuv  ")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstringSpans(docs, k = 5).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((1L, 7L, 7L, 0.7)))
    assert(out(2L) == ((1L, 7L, 7L, 0.6364)))
    assert(out(3L) == ((0L, 0L, 0L, 0.0)))
    assert(out(4L) == ((2L, 16L, 8L, 0.9412)))
    // doc 5 normalizes to "klmnopqrstuv", doc 6 to "klmno pqrstuv"
    // (the internal space survives). Doc 5's dup 5-gram starts:
    // 0 ("klmno" via doc 6), 2..5 ("mnopq".."pqrst" via doc 4!),
    // 6..7 ("qrstu","rstuv" via doc 6) — ADJACENT k-grams duplicated
    // against DIFFERENT partners coalesce into one full-coverage
    // span, the documented union semantics. Doc 6: starts {0} and
    // {6,7,8} -> spans of 5 and 7 chars.
    assert(out(5L) == ((1L, 12L, 12L, 1.0)))
    assert(out(6L) == ((2L, 12L, 7L, 0.9231)))
  }

  test("rollGramKeys: rolling 128-bit keys agree with direct polynomial eval; key equality == substring equality") {
    // small alphabet forces plenty of REAL substring repeats, so the
    // equality direction is exercised both ways
    val rnd = new scala.util.Random(42)
    val strs = Seq.tabulate(8)(i =>
      (0 until (20 + rnd.nextInt(60))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString) :+
      "ab" :+ "a" :+ "" :+ "naïve café résumé naïve café" :+
      "emoji 😀 pair 😀 pair" // surrogate pairs count as ONE char
    for (s <- strs; k <- Seq(2, 3, 5)) {
      val keys = Dedup.rollGramKeys(s, k)
      val cps = s.codePoints().toArray
      val n = cps.length
      assert(keys.length == math.max(0, n - k + 1), s"len for '$s' k=$k")
      val grams = (0 to n - k).map(p => new String(cps, p, k))
      // positions are the 0-based code-point index
      assert(keys.map(_.pos).toSeq == (0 to n - k))
      // key equality must match gram equality EXACTLY on these inputs
      for (i <- grams.indices; j <- grams.indices) {
        val same = grams(i) == grams(j)
        val keq = keys(i).h1 == keys(j).h1 && keys(i).h2 == keys(j).h2
        assert(keq == same, s"'${grams(i)}' vs '${grams(j)}' k=$k")
      }
      // rolling value == direct Horner evaluation mod 2^61-1 (BigInt)
      val p = BigInt((1L << 61) - 1)
      for (i <- grams.indices) {
        val g = cps.slice(i, i + k)
        def direct(b: Long) = g.foldLeft(BigInt(0))((h, c) => (h * b + c) mod p)
        assert(BigInt(keys(i).h1) == direct(1000003L), s"h1 direct i=$i")
        assert(BigInt(keys(i).h2) == direct(16777619L), s"h2 direct i=$i")
      }
    }
  }

  test("rollWindowKeys: token-window prefix hashes equal the window string's Horner value; equality == joined-window equality") {
    val rnd = new scala.util.Random(7)
    // small token vocabulary forces real window repeats within and
    // across docs; single-space separation is the normText invariant
    val docs = Seq.tabulate(6)(_ =>
      (0 until (5 + rnd.nextInt(20))).map(_ => s"w${rnd.nextInt(3)}").mkString(" ")) :+
      "a b" :+ "a" :+ "" :+ "naïve café naïve café naïve café 😀"
    val p = BigInt((1L << 61) - 1)
    for (doc <- docs; w <- Seq(1, 2, 3)) {
      val keys = Dedup.rollWindowKeys(doc, w)
      val ws = if (doc.isEmpty) Array.empty[String] else doc.split(" ", -1)
      val wins = (0 to ws.length - w).map(j => ws.slice(j, j + w).mkString(" "))
      assert(keys.length == math.max(0, ws.length - w + 1), s"'$doc' w=$w")
      assert(keys.map(_.pos).toSeq == wins.indices)
      // span hash == direct Horner of the joined window (the exact
      // rollGramKeys convention, position-independent)
      for (j <- wins.indices) {
        def direct(b: Long) = wins(j).codePoints().toArray
          .foldLeft(BigInt(0))((h, c) => (h * b + c) mod p)
        assert(BigInt(keys(j).h1) == direct(1000003L), s"'$doc' w=$w j=$j")
        assert(BigInt(keys(j).h2) == direct(16777619L), s"'$doc' w=$w j=$j")
      }
      // key equality == window-string equality on these inputs
      for (i <- wins.indices; j <- wins.indices) {
        val keq = keys(i).h1 == keys(j).h1 && keys(i).h2 == keys(j).h2
        assert(keq == (wins(i) == wins(j)), s"'${wins(i)}' vs '${wins(j)}'")
      }
    }
  }

  test("d18 band-index persistence round-trip: ingest against the parquet-reloaded index matches the rebuild-from-corpus path row-for-row") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val c = Dedup.corpus(spark, dir)
    val old = c.filter(col("doc_id") < 100000)
    val nw = c.filter(col("doc_id") >= 100000)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2),
        r.getBoolean(3))
    val inMem = Dedup.incrementalKeep(old, nw, 0.5).collect().map(key).sortBy(_._1)
    // the between-snapshots contract: the PREVIOUS job persists the
    // band index; THIS job loads it and never re-scans the old corpus
    val path = java.nio.file.Files.createTempDirectory("graft_bandidx").toString
    Dedup.minhashBandIndex(old).write.mode("overwrite").parquet(path)
    val loaded = spark.read.parquet(path)
    val viaIdx = Dedup.incrementalKeepWithIndex(loaded, nw, 0.5)
      .collect().map(key).sortBy(_._1)
    // the sf0.001 new side is exactly the mutated replicas, so every
    // doc finds its old original: all drops, none kept
    assert(inMem.nonEmpty && inMem.exists(!_._4),
      "fixture should produce dropped docs")
    assert(viaIdx.sameElements(inMem),
      "persisted-index ingest must match the in-memory old side exactly")
  }

  test("c14 leakage-safe split: clusters are split-atomic, sides match the modular rule") {
    val dir = "/root/testdata/sf0.001"
    val out = operators.Dedup.c14LeakageSplit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    // every near-dup cluster lands ENTIRELY on one side — the whole
    // point: a per-doc split would leak near-dups across the boundary
    out.groupBy(_._2).foreach { case (cl, rows) =>
      assert(rows.map(_._3).distinct.length == 1, s"cluster $cl straddles")
    }
    // the side is the deterministic modular rule on the cluster id
    out.foreach { case (_, cl, sp) =>
      val expect = if ((cl * 2654435761L) % 1000000007L % 10 < 8) "train" else "test"
      assert(sp == expect)
    }
    // both sides populated and roughly 80/20 over clusters
    val byCluster = out.groupBy(_._2).map { case (cl, rows) => cl -> rows.head._3 }
    val nTrain = byCluster.values.count(_ == "train")
    assert(nTrain > 0 && nTrain < byCluster.size)
    // doc→cluster mapping is exactly d17's (same shared artifact)
    val d17 = operators.Dedup.d17DedupKeep(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, cl, _) => assert(d17(id) == cl) }
  }

  test("d19 jaccard histogram bins the exact pair set on the integer grid") {
    val dir = "/root/testdata/sf0.001"
    val pairs = operators.Dedup.ngramJaccardPairs(
        operators.Dedup.corpus(spark, dir), 0.1, Some("source"))
      .collect().map(_.getDouble(2))
    val out = operators.Dedup.d19JaccardHist(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // every pair accounted for, in the bin its rounded value dictates
    val exp = pairs.map(j => math.floor(j * 10000 + 0.5).toLong / 500)
      .groupBy(identity).map { case (b, v) => b -> v.length.toLong }
    assert(out.map { case (b, (_, n)) => b -> n } == exp)
    assert(out.values.map(_._2).sum == pairs.length && pairs.nonEmpty)
    out.foreach { case (b, (lo, _)) => assert(math.abs(lo - b * 0.05) < 1e-9) }
    // τ floor: nothing below bin 2 (0.10), nothing above bin 20 (1.0)
    assert(exp.keys.forall(b => b >= 2 && b <= 20))
  }

  test("d20 LSH calibration: S-curve closed form per pair, exact-dup bin catches ~1") {
    val dir = "/root/testdata/sf0.001"
    // closed form replayed with the SAME multiplication-only ops
    def pOf(m: Long): Double = {
      val j = m.toDouble / 10000.0
      val j2 = j * j; val j4 = j2 * j2
      val t1 = 1.0 - j4; val t2 = t1 * t1; val t4 = t2 * t2
      val t8 = t4 * t4; val t16 = t8 * t8
      1.0 - t16 * t16
    }
    // spot values of the (32,4) S-curve: p(1.0)=1, p(0.5)=0.8731...
    assert(pOf(10000) == 1.0)
    assert(math.abs(pOf(5000) - (1.0 - math.pow(1.0 - math.pow(0.5, 4), 32))) < 1e-12)
    val pairs = operators.Dedup.ngramJaccardPairs(
        operators.Dedup.corpus(spark, dir), 0.1, Some("source"))
      .collect().map(r => math.floor(r.getDouble(2) * 10000 + 0.5).toLong)
    val out = operators.Dedup.d20LshCalibration(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // per-bin expected catches equal the hand fold at 4 dp
    val exp = pairs.groupBy(_ / 500).map { case (b, ms) =>
      b -> (ms.length.toLong, ms.map(pOf).sum) }
    assert(out.keySet == exp.keySet && pairs.nonEmpty)
    exp.foreach { case (b, (n, sp)) =>
      val (on, osp, ofr) = out(b)
      assert(on == n, s"bin $b count")
      assert(math.abs(osp - sp) < 6e-5, s"bin $b expected_caught")
      assert(math.abs(ofr - sp / n) < 6e-5, s"bin $b catch_frac")
    }
    // the recall story: exact dups (bin 20) are caught with certainty
    assert(out(20)._3 == 1.0)
  }

  test("c15 pipeline report equals the hand-composed d17 x t19 x token funnel") {
    val dir = "/root/testdata/sf0.001"
    val out = operators.Dedup.c15PipelineReport(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val keep = operators.Dedup.d17DedupKeep(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val c = operators.Dedup.corpus(spark, dir)
    val qkeep = operators.TextOps.gopherGate(c).collect()
      .map(r => r.getLong(0) -> r.getBoolean(9)).toMap
    val rows = c.select("doc_id", "source", "text").collect().map { r =>
      val toks = r.getString(2).toLowerCase.replaceAll("\\s+", " ")
        .split(" ").count(_.nonEmpty).toLong
      (r.getLong(0), r.getString(1), toks)
    }
    val exp = rows.groupBy(_._2).map { case (src, rs) =>
      src -> (rs.length.toLong,
        rs.count(r => keep(r._1)).toLong,
        rs.count(r => keep(r._1) && qkeep(r._1)).toLong,
        rs.filter(r => keep(r._1) && qkeep(r._1)).map(_._3).sum)
    }
    assert(out == exp)
    // the funnel is monotone and non-trivial on this corpus
    out.values.foreach { case (nd, ndd, nq, _) =>
      assert(nd >= ndd && ndd >= nq)
    }
    assert(out.values.map(_._1).sum > out.values.map(_._2).sum)
  }

  test("c11 dedup-aware mixture equals c08 over the hand-filtered keep set") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val keep = Dedup.d17DedupKeep(spark, dir).filter(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val c = Dedup.corpus(spark, dir)
    assert(keep.nonEmpty && keep.size < c.count(),
      "the keep set must be a strict subset (fixture has dup clusters)")
    val manual = operators.Corpus
      .mixtureWeights(c.filter(col("doc_id").isInCollection(keep)))
      .orderBy("source").collect().map(_.toSeq)
    val out = Dedup.c11DedupMixture(spark, dir).collect().map(_.toSeq)
    assert(out.sameElements(manual),
      "composed pipeline must equal mixture weights over the hand-filtered corpus")
  }
}
