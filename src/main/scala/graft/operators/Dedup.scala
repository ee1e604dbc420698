package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/**
 * Deduplication operators for large-scale text/embedding corpora:
 * exact (d01), n-gram Jaccard (d02), MinHash+LSH (d03), SimHash (d04)
 * and embedding-cosine (d05).
 *
 * Scale shapes (the whole point of these designs):
 *  - d01 is a single hash groupBy — one shuffle of (hash, id).
 *  - d02 explodes distinct shingles and self-joins on the shingle:
 *    shuffle ∝ posting-list sizes, never the n² pair matrix. At real
 *    scale pass `maxDf` to cap hot posting lists (candidates from
 *    rare shingles only, exact-Jaccard re-verified — see
 *    ngramJaccardPairs).
 *  - d03 joins on (band, band-signature) buckets: candidate pairs are
 *    the only thing that shuffles, then exact Jaccard verifies them.
 *  - d04 uses the pigeonhole banking of the 60-bit SimHash: a pair at
 *    hamming ≤ 3 must agree exactly on ≥ 1 of 4 15-bit banks, so the
 *    bucket join on (bank, value) is exhaustive for the radius — no
 *    all-pairs comparison.
 *  - d05 blocks on the label column so only within-label pairs join.
 *
 * The test corpus doubles `documents` with deterministically mutated
 * copies (upper-case + doubled whitespace, id + 100000) so exact-dup
 * groups exist by construction; the driver testdata also ships natural
 * near-duplicate pairs (max natural 3-shingle Jaccard ≈ 0.97, next
 * non-dup pair ≈ 0.067 — a wide threshold gap at τ = 0.5).
 */
object Dedup {

  /** documents ∪ mutated copies — dup classes by construction. */
  def corpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id", "text", "source")
    val mutated = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        upper(regexp_replace(col("text"), " ", "  ")).as("text"), col("source"))
    d.unionAll(mutated)
  }

  val corpusSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, upper(replace(text, ' ', '  ')), source
      |  FROM documents WHERE doc_id % 10 = 0
      |)""".stripMargin

  /** Whitespace-collapse + lowercase normalization (both engines). */
  def normText(c: Column): Column = lower(regexp_replace(c, "\\s+", " "))

  /**
   * Project distinct word 3-shingles of `textCol` as column `out`.
   *
   * Two-step projection on purpose: the words array is materialized
   * as an attribute BEFORE the shingling `transform` runs over it. A
   * single nested expression (`transform(..., element_at(split(...)))`)
   * re-evaluates the split/normalize child once per lambda element —
   * measured ~20× slower at sf0.1. CollapseProject keeps the split
   * un-inlined because the alias is referenced multiple times.
   */
  def withShingles(df: DataFrame, textCol: String, out: String): DataFrame = {
    val w = col("__graft_words")
    df.withColumn("__graft_words", split(normText(col(textCol)), " "))
      .withColumn(out, array_distinct(
        when(size(w) < 3, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), size(w) - 3), i =>
            concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2),
              element_at(w, i + 3))))))
      .drop("__graft_words")
  }

  /**
   * Materialized nonempty (doc_id, sh) shingle table — the shared
   * first stage of every signature pipeline (MinHash, SimHash, band
   * index). Two load-bearing choices:
   *
   *  - localCheckpoint(eager), because the table is referenced by
   *    multiple plan branches (bucket-join sides + verify sides) and
   *    blocks release via the ContextCleaner when the plan is GC'd
   *    (cache() leaked here until the round-2 advice);
   *  - the checkpoint sits BEFORE the nonempty filter. A filter
   *    placed directly over the shingle projection is substituted
   *    below it by PushDownPredicates, inlining the words alias into
   *    the shingling transform lambda — the split/normalize child
   *    then re-runs once per lambda element, the same pathology the
   *    session-level InferFiltersFromGenerate exclusion guards
   *    against (measured ~200x on a 55k-doc corpus: the stage ran
   *    151 s with the filter over the projection, 0.8 s behind the
   *    checkpoint barrier). Empty-shingle rows cost only their
   *    checkpointed bytes; the filter over the LogicalRDD is a
   *    trivial scan of the materialized column.
   */
  private[graft] def shingleTable(docs: DataFrame): DataFrame =
    withShingles(docs, "text", "sh")
      .select(col("doc_id"), col("sh"))
      .localCheckpoint(true)
      .filter(size(col("sh")) > 0)

  /** Session-cached (doc_id, source, sh) shingle projection of the
    * canonical corpus — the INPUT artifact every shingle-keyed d-op
    * derives from (in a production dedup pipeline the shingle/posting
    * table is persisted once per snapshot and every report reads it;
    * each operator here was re-running the split+shingle projection
    * over the corpus). Checkpointed BEFORE any filter, per the
    * [[shingleTable]] pathology note. */
  private val shingleBaseCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private[graft] def corpusShingleBase(spark: SparkSession, dir: String): DataFrame =
    Tables.sessionCached(shingleBaseCache, spark, dir + "|shbase") {
      withShingles(corpus(spark, dir), "text", "sh")
        .select(col("doc_id"), col("source"), col("sh"))
        .localCheckpoint(true)
    }
  /** The [[shingleTable]] view of the cached corpus base. */
  private[graft] def corpusShingleTable(spark: SparkSession, dir: String): DataFrame =
    corpusShingleBase(spark, dir).select(col("doc_id"), col("sh"))
      .filter(size(col("sh")) > 0)

  /**
   * Benchmark-contamination detection — the DECONTAMINATION op a
   * training corpus needs before eval numbers mean anything: corpus
   * documents sharing ≥ `minShared` word 3-grams with any benchmark
   * document. The benchmark side is small (eval sets are thousands of
   * docs, the corpus is the 100 TB side), so its exploded shingle
   * postings BROADCAST and the corpus streams through a broadcast
   * hash join — no shuffle of corpus postings at all; the only
   * exchange is the (bench_id, corpus_id) count aggregate, bounded by
   * matching pairs. Same shingle normalization as d02, so thresholds
   * are comparable across the two.
   */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
      minShared: Int): DataFrame = {
    val b = withShingles(benchmark, "text", "sh")
      .select(col("doc_id").as("bench_id"), explode(col("sh")).as("s"))
    val c = withShingles(corpus, "text", "sh")
      .select(col("doc_id").as("corpus_id"), explode(col("sh")).as("s"))
    c.join(broadcast(b), "s")
      .groupBy("bench_id", "corpus_id")
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /** d07: corpus docs (id ≥ 25) sharing ≥ 3 word-3-grams with the
    * "benchmark" slice (id < 25) — catches the corpus's mutated copy
    * of a benchmark doc (81 shared shingles at sf0.01) over a noise
    * floor of 1–4. */
  def d07Contamination(spark: SparkSession, dir: String): DataFrame =
    contamination(
      graft.Tables.documents(spark, dir).filter(col("doc_id") >= 25),
      graft.Tables.documents(spark, dir).filter(col("doc_id") < 25),
      minShared = 3)
      .orderBy("bench_id", "corpus_id")

  /**
   * FUZZY benchmark decontamination — d07's NORMALIZED twin: flag
   * (benchmark item, corpus doc) pairs whose shared distinct
   * 3-shingle count covers ≥ `tau` of the BENCHMARK item's shingle
   * set (containment |B∩C|/|B|). d07's absolute minShared threshold
   * depends on item length; the containment fraction transfers
   * across benchmarks (the published decontamination rule — Dolma /
   * GPT-3-style n-gram overlap fractions) and ranks partially
   * embedded or lightly paraphrased items that sit above any fixed
   * absolute cutoff's noise floor. Same broadcast shape as d07: the
   * benchmark postings AND its per-item sizes broadcast (eval sets
   * are thousands of items; the corpus is the 100 TB side), corpus
   * shingles stream through the hash join, and the only exchange is
   * the matched-pair count aggregate. The UNROUNDED fraction feeds
   * the threshold (the e14 rule).
   */
  def containmentContamination(corpus: DataFrame, benchmark: DataFrame,
      tau: Double): DataFrame = {
    val bsh = shingleTable(benchmark)
      .select(col("doc_id").as("bench_id"), col("sh"))
    val bPost = bsh.select(col("bench_id"), explode(col("sh")).as("s"))
    val bSize = bsh.select(col("bench_id"), size(col("sh")).as("nb"))
    val c = withShingles(corpus, "text", "sh")
      .select(col("doc_id").as("corpus_id"), explode(col("sh")).as("s"))
    c.join(broadcast(bPost), "s")
      .groupBy("bench_id", "corpus_id")
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(bSize), "bench_id")
      .filter(col("shared").cast("double") / col("nb") >= tau)
      .select(col("bench_id"), col("corpus_id"), col("shared"),
        round(col("shared").cast("double") / col("nb"), 4).as("containment"))
  }

  /** d16: the d07 benchmark/corpus split under the containment rule
    * at τ = 0.1 — catches the near-full copy (containment 0.99 at
    * sf0.01) plus the borderline 0.11-0.22 band, over a ≤0.08 noise
    * floor. */
  def d16FuzzyContamination(spark: SparkSession, dir: String): DataFrame =
    containmentContamination(
      graft.Tables.documents(spark, dir).filter(col("doc_id") >= 25),
      graft.Tables.documents(spark, dir).filter(col("doc_id") < 25),
      tau = 0.1)
      .orderBy("bench_id", "corpus_id")

  /**
   * Bloom-filter decontamination — d07's exact posting join replaced
   * by the SKETCH a production tagger ships to its workers: the
   * benchmark's shingle set compresses into an m-bit Bloom filter
   * (k=3 positions per shingle from disjoint md5 hex windows), and
   * corpus shingles test membership against it. The filter is ≤ m
   * rows / m bits of state REGARDLESS of benchmark size — at 100 TB
   * the corpus side streams through three broadcast hash joins
   * against the tiny position table and shuffles only the per-doc
   * count aggregate, never a posting list. Completes the
   * deterministic-sketch family (HLL q15, CMS t16).
   *
   * False positives are the sketch's documented trade (≈ density³
   * per shingle with k=3); m is deliberately small in the registered
   * instance so the FP path is EXERCISED, not just argued. Every
   * hash step is md5-hex arithmetic both engines compute
   * identically, so the full filter build + probe replays in the
   * oracle.
   */
  def bloomContamination(corpus: DataFrame, benchmark: DataFrame,
      mBits: Int, flagFrac: Double): DataFrame = {
    require(mBits == 4096, "bloomContamination: positions are 12-bit md5 windows (m=4096)")
    def positions(shingled: DataFrame): Seq[org.apache.spark.sql.Column] =
      (0 until 3).map(j => conv(substring(md5(col("s")), 1 + 3 * j, 3), 16, 10)
        .cast("long").as(s"p$j"))
    val bench = withShingles(benchmark, "text", "sh")
      .select(explode(col("sh")).as("s"))
    val filterPos = (0 until 3).map(j =>
        bench.select(positions(bench)(j).as("fp")))
      .reduce(_ union _).distinct()
    val corp = withShingles(corpus, "text", "sh")
      .select(col("doc_id"), explode(col("sh")).as("s"))
    val probed = positions(corp).zipWithIndex.foldLeft(
        corp.select(col("doc_id") +: positions(corp): _*)) {
      case (df, (_, j)) =>
        df.join(broadcast(filterPos.select(col("fp").as(s"fp$j"),
          lit(1).as(s"hit$j"))), df(s"p$j") === col(s"fp$j"), "left")
    }
    probed
      .withColumn("in_filter",
        col("hit0").isNotNull && col("hit1").isNotNull && col("hit2").isNotNull)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("in_filter"), 1L).otherwise(0L)).as("n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        round(col("n_hits") / col("n_shingles"), 4).as("hit_frac"),
        (col("n_hits") / col("n_shingles") >= flagFrac).as("flagged"))
  }

  /** d14: the d07 benchmark/corpus split probed through a 4096-bit
    * k=3 Bloom filter — ~2/3 bit density at this benchmark size, so
    * per-shingle FPs genuinely occur (~30%) while the 50% flag
    * threshold still separates true contamination from the FP floor. */
  def d14BloomContamination(spark: SparkSession, dir: String): DataFrame =
    bloomContamination(
      graft.Tables.documents(spark, dir).filter(col("doc_id") >= 25),
      graft.Tables.documents(spark, dir).filter(col("doc_id") < 25),
      mBits = 4096, flagFrac = 0.5)
      .orderBy("doc_id")

  // --------------------------------------------------- d08 URL dedup

  /**
   * URL canonicalization: collapse the crawl-side variants of one
   * page — scheme case, host case, `www.` prefix, query string,
   * fragment, trailing slashes — to a canonical key. Regexes use only
   * anchors + char classes so Java regex and RE2 (DuckDB) agree, and
   * every pattern matches at most once so no global flag is needed.
   */
  def canonicalUrl(url: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(url), "^https?://", ""),
          "^www\\.", ""),
        "[?#].*$", ""),
      "/+$", "")

  /**
   * URL-level exact dedup — the crawl dedup that runs BEFORE any text
   * comparison: canonicalize, then ONE hash groupBy of (key, id)
   * keeps the lowest doc id per canonical URL (d01's shape; no text
   * bytes move at all). At 100 TB this is a projection plus a single
   * map-side-combined aggregate.
   */
  def urlDedup(docs: DataFrame, urlCol: String): DataFrame =
    docs.withColumn("curl", canonicalUrl(col(urlCol)))
      .groupBy("curl")
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_variants"))

  /** d08: the corpus has no URL column, so the registered query
    * synthesizes deterministic messy URLs from (source, doc_id) —
    * mirrored exactly by the oracle — and the canonicalizer is the
    * operator under test. */
  def d08UrlDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(spark, dir).select(
      col("doc_id"),
      concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("http://")),
        when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
        col("source"), lit(".Example.com/p/"),
        (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit("?utm_source=rss&id="), col("doc_id").cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("#section-2")).otherwise(lit("")))
        .as("url"))
    urlDedup(d, "url").orderBy("curl")
  }

  // -------------------------------------- d09 duplicated-shingle profile

  /**
   * Per-document duplicated-shingle fraction — the CCNet-style dup
   * profile that grades HOW duplicated each doc is (vs d02/d03's
   * binary pair decisions): for each doc, the fraction of its
   * distinct word 3-grams that also occur in at least one other doc.
   * Shapes: postings explode once; document frequency is a map-side-
   * combined count over shingles; the df join back to postings
   * shuffles ∝ postings (the d02 bound) and the final per-doc
   * aggregate combines map-side. Nothing is quadratic — a hot shingle
   * costs its posting-list length, never a pair matrix.
   */
  def dupShingleProfile(docs: DataFrame): DataFrame =
    dupShingleFromSh(withShingles(docs, "text", "sh")
      .select(col("doc_id"), col("sh")))

  /** [[dupShingleProfile]] over a prebuilt (doc_id, sh) frame. */
  private[graft] def dupShingleFromSh(shTable: DataFrame): DataFrame = {
    val posts = shTable
      .select(col("doc_id"), explode(col("sh")).as("s"))
    // postings are distinct per doc, so count(*) per shingle = its
    // document frequency
    val dfreq = posts.groupBy("s").agg(count(lit(1)).as("df"))
    posts.join(dfreq, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        Norm.r4(col("n_shared").cast("double") / col("n_shingles")))
  }

  /**
   * Exact-substring duplicate-SPAN detection — the "dedup training
   * data at substring granularity" operator (the published
   * exact-substring method: any w-token run occurring more than once
   * corpus-wide is duplicated text): w-word rolling windows with
   * positions → two-level 61+61-bit key per window from one O(len)
   * prefix-hash pass per doc ([[rollWindowKeys]], the d21 kernel
   * convention) → occurrence counts (ONE map-side-combined aggregate
   * over distinct windows) → a semi-join against the already-filtered
   * duplicated-key set marks (doc, pos) as duplicated → the
   * overlapping windows COALESCE into maximal spans per doc (the
   * interval-union: a running max-end window PARTITIONED BY DOC, so
   * state is bounded by document length, never corpus size — this is
   * not the d12 hot-key shape) → per-doc span count, duplicated-token
   * coverage, and coverage fraction.
   *
   * Scale shape: the only corpus-sized shuffles are the window-hash
   * aggregate and the semi-join probe — both partition on the hash
   * pair, so Catalyst reuses one exchange; the span-merge window is
   * per-doc bounded. Windows of boilerplate text ARE hot hashes, but
   * they meet a one-row build side (the aggregate collapsed it), not
   * a quadratic pairing.
   */
  def dupSpans(docs: DataFrame, w: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      split(normText(trim(col("text"))), " ").as("ws"))
    // normText collapses whitespace to single spaces, so the joined
    // w-token window `array_join(slice(ws, i, w), ' ')` IS the
    // contiguous char span of s from token i's start to token
    // (i+w-1)'s end — [[rollWindowKeys]] emits every window's
    // two-level 61+61-bit key from ONE O(len) prefix-hash pass per
    // doc (no window string, no per-window digest; the d21 rolling-
    // kernel convention, same collision bound, and the oracle keys
    // on the raw joined window string so a collision surfaces as a
    // value mismatch).
    val winUdf = udf((s: String) => rollWindowKeys(s, w))
    val wins = docs
      .select(col("doc_id"), normText(trim(col("text"))).as("s"))
      .select(col("doc_id"), explode(winUdf(col("s"))).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"),
        col("g.h1").as("h1"), col("g.h2").as("h2"))
    val dupKeys = wins.groupBy("h1", "h2").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("h1", "h2")
    val dups = wins.join(dupKeys, Seq("h1", "h2"), "left_semi")
      .select("doc_id", "pos")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spans = dups
      .withColumn("prev_end", max(col("pos") + w)
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L).otherwise(0L))
      .withColumn("span_id", sum("new_span")
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    val perDoc = spans.groupBy("doc_id", "span_id")
      .agg((max(col("pos")) + w - min(col("pos"))).as("span_tokens"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum("span_tokens").as("dup_tokens"))
    val winStats = wins.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    val dupWinStats = dups.groupBy("doc_id").agg(count(lit(1)).as("n_dup_windows"))
    toks.select(col("doc_id"), size(col("ws")).as("n_tokens"))
      .join(winStats, Seq("doc_id"), "left")
      .join(dupWinStats, Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        Norm.r4(coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens")).as("dup_frac"))
  }

  /** d13: duplicate 8-token spans over the mutated-copy corpus —
    * each mutated copy normalizes back to its original's token
    * stream, so whole-doc spans exist by construction alongside the
    * natural boilerplate floor. */
  def d13DupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpans(corpus(spark, dir)).orderBy("doc_id")

  /** d09: dup-shingle profile over the mutated-copy corpus (dup
    * classes exist by construction, so shared fractions near 1.0
    * appear alongside the natural near-dup noise floor). */
  def d09DupShingles(spark: SparkSession, dir: String): DataFrame =
    dupShingleFromSh(corpusShingleBase(spark, dir).select(col("doc_id"), col("sh")))
      .orderBy("doc_id")

  // --------------------------------------- d21 exact substring spans

  /**
   * d21: EXACT duplicated-substring coverage at CHARACTER level —
   * the ExactSubstr dedup of Lee et al., "Deduplicating Training
   * Data Makes Language Models Better" (their suffix-array pass),
   * re-expressed as a bounded Spark shape. A char position is
   * covered iff it lies inside SOME substring of length ≥ k that
   * occurs more than once in the normalized corpus. That coverage
   * set equals the union of the corpus-duplicated k-grams' extents:
   * every duplicated substring of length ≥ k is a union of its
   * (duplicated) k-gram windows, and every duplicated k-gram IS a
   * duplicated substring of length exactly k — so coalescing maximal
   * runs of duplicated k-gram starts (each extended k-1 right)
   * yields the exact Lee-et-al removal set with no suffix array.
   * (A maximal RUN itself need not occur verbatim elsewhere —
   * adjacent k-grams can duplicate against different partners — but
   * the covered-character set, which is what span removal consumes,
   * is exact.) d13's fixed-width token windows approximate this;
   * d21 is the char-exact version.
   *
   * Scale shape: one (doc_id, pos, h1, h2) row per character — the
   * same O(total chars) a distributed suffix array would pay — but
   * no k-char gram string is EVER materialized: a per-doc O(len)
   * ROLLING double polynomial hash ([[rollGramKeys]]) emits the
   * two-level 61+61-bit key stream at O(1) per char (the previous
   * shape hashed a materialized substring per char — substring copy
   * plus two k-byte digests). The count aggregates on (h1, h2) with
   * map-side combine (hot boilerplate grams collapse before the
   * shuffle, and a 10⁹-copy gram meets a one-row count side, never
   * a pairing), and the duplicated-position pass is a semi-join
   * against the already-filtered duplicated-key set; at k = 40 the
   * per-char shuffle payload is 16 B vs the ~40 B+ gram string.
   * Exactness: gram equality ⇒ key equality (the hash is a
   * deterministic function of the code-point sequence); a false
   * duplicate needs two distinct k-grams agreeing on BOTH 61-bit
   * hashes, probability ≤ C²/2¹²² over C total chars (≈ 4·10⁻⁹ at
   * C = 10¹⁴, i.e. 100 TB, random model — fixed-base polynomial
   * hashes are not adversarially robust, and the sf0.01 oracle
   * computes on raw strings so a collision surfaces as a value
   * mismatch) — the "two-level exact" regime. The span merge is a
   * per-doc-bounded running-max window, and the normalized text is
   * materialized behind a localCheckpoint barrier BEFORE the kernel
   * references it (the r16 shingle-inlining pathology guard).
   */
  /** 128-bit k-gram key stream of one document: (0-based char pos,
    * two independent polynomial rolling hashes mod 2⁶¹−1). */
  case class GramKey(pos: Int, h1: Long, h2: Long)

  private val RollMod = (1L << 61) - 1
  private val RollB1 = 1000003L
  private val RollB2 = 16777619L
  /** (a·b) mod 2⁶¹−1 via the 128-bit product: 2⁶⁴ ≡ 8 (mod p), so
    * hi·2⁶⁴ + lo ≡ 8·hi + (lo & p) + (lo >>> 61); for a, b < 2⁶¹ the
    * intermediate stays under 2⁶², one more fold normalizes. */
  @inline private def mulmod61(a: Long, b: Long): Long = {
    val hi = java.lang.Math.multiplyHigh(a, b)
    val lo = a * b
    var r = (lo & RollMod) + (lo >>> 61) + (hi << 3)
    r = (r & RollMod) + (r >>> 61)
    if (r >= RollMod) r - RollMod else r
  }
  /** ONE O(len) pass per document — no per-window substring is ever
    * materialized: code points decode once into a flat array, then
    * each step retires the leftmost coefficient (precomputed B^(k−1))
    * and admits the next, per hash. Coefficients are code points
    * (< 2²¹), so gram equality ⇒ key equality exactly; the collision
    * direction is the usual two-level bound (distinct grams agreeing
    * on BOTH 61-bit hashes). */
  private[graft] def rollGramKeys(s: String, k: Int): Array[GramKey] = {
    val sl = s.length
    val cps = new Array[Int](sl)
    var n = 0
    var off = 0
    while (off < sl) {
      val cp = s.codePointAt(off)
      cps(n) = cp
      n += 1
      off += Character.charCount(cp)
    }
    if (n < k) return Array.empty
    var pow1 = 1L; var pow2 = 1L
    var i = 1
    while (i < k) { pow1 = mulmod61(pow1, RollB1); pow2 = mulmod61(pow2, RollB2); i += 1 }
    val out = new Array[GramKey](n - k + 1)
    var h1 = 0L; var h2 = 0L
    var j = 0
    while (j < k) {
      h1 = mulmod61(h1, RollB1) + cps(j); if (h1 >= RollMod) h1 -= RollMod
      h2 = mulmod61(h2, RollB2) + cps(j); if (h2 >= RollMod) h2 -= RollMod
      j += 1
    }
    out(0) = GramKey(0, h1, h2)
    var p = 1
    while (p <= n - k) {
      val cOut = cps(p - 1).toLong
      val cIn = cps(p + k - 1).toLong
      var t1 = h1 - mulmod61(cOut, pow1); if (t1 < 0) t1 += RollMod
      h1 = mulmod61(t1, RollB1) + cIn; if (h1 >= RollMod) h1 -= RollMod
      var t2 = h2 - mulmod61(cOut, pow2); if (t2 < 0) t2 += RollMod
      h2 = mulmod61(t2, RollB2) + cIn; if (h2 >= RollMod) h2 -= RollMod
      out(p) = GramKey(p, h1, h2)
      p += 1
    }
    out
  }

  /** d13's window keys from ONE O(len) prefix-hash pass: over text
    * whose tokens are single-space-separated (the normText
    * invariant), the joined w-token window starting at token j is
    * the char span [start(j), end(j+w−1)) of s, and its Horner value
    * base B mod 2⁶¹−1 is the prefix difference
    * P(b) − P(a)·B^(b−a) — position-independent, so equal window
    * strings hash equal ACROSS documents exactly as in
    * [[rollGramKeys]] (same bases, same two-level collision bound).
    * Returns one GramKey per window, pos = 0-based token index.
    * Empty input or fewer than w tokens → empty (the caller's
    * size-filter semantics). */
  private[graft] def rollWindowKeys(s: String, w: Int): Array[GramKey] = {
    val sl = s.length
    if (sl == 0) return Array.empty
    val cps = new Array[Int](sl)
    var n = 0
    var off = 0
    while (off < sl) {
      val cp = s.codePointAt(off)
      cps(n) = cp
      n += 1
      off += Character.charCount(cp)
    }
    var tokCount = 1
    var i = 0
    while (i < n) { if (cps(i) == ' ') tokCount += 1; i += 1 }
    if (tokCount < w) return Array.empty
    val starts = new Array[Int](tokCount)
    val ends = new Array[Int](tokCount)
    var t = 0
    i = 0
    while (i < n) {
      if (cps(i) == ' ') { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = n
    val p1 = new Array[Long](n + 1); val p2 = new Array[Long](n + 1)
    val pw1 = new Array[Long](n + 1); val pw2 = new Array[Long](n + 1)
    pw1(0) = 1L; pw2(0) = 1L
    i = 0
    while (i < n) {
      var a = mulmod61(p1(i), RollB1) + cps(i); if (a >= RollMod) a -= RollMod
      p1(i + 1) = a
      var b = mulmod61(p2(i), RollB2) + cps(i); if (b >= RollMod) b -= RollMod
      p2(i + 1) = b
      pw1(i + 1) = mulmod61(pw1(i), RollB1)
      pw2(i + 1) = mulmod61(pw2(i), RollB2)
      i += 1
    }
    @inline def span(pp: Array[Long], ww: Array[Long], a: Int, b: Int): Long = {
      var r = pp(b) - mulmod61(pp(a), ww(b - a))
      if (r < 0) r += RollMod
      r
    }
    val out = new Array[GramKey](tokCount - w + 1)
    var j = 0
    while (j <= tokCount - w) {
      val a = starts(j); val b = ends(j + w - 1)
      out(j) = GramKey(j, span(p1, pw1, a, b), span(p2, pw2, a, b))
      j += 1
    }
    out
  }

  def exactSubstringSpans(docs: DataFrame, k: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2 && k <= 1000, s"exactSubstringSpans: k in [2,1000], got $k")
    val t = docs.select(col("doc_id"), normText(trim(col("text"))).as("s"))
      .localCheckpoint(true)
    // no gram string ever exists: the [[rollGramKeys]] kernel emits
    // the (pos, h1, h2) stream in one O(len) pass per doc (the r18
    // projection that HASHED each materialized 40-char substring
    // still paid the substring copy + two 40-byte digests PER CHAR —
    // the rolling update is O(1) per char). Downstream is unchanged:
    // keys are two independent 61-bit hashes; a false duplicate
    // needs distinct grams agreeing on both (≤ C²/2¹²² over C total
    // chars — same two-level-exact regime; these are FIXED-base
    // polynomial hashes, so the bound is a random-model, not an
    // adversarial, statement — and the sf0.01 oracle computes on the
    // raw strings, so any collision surfaces as a value mismatch).
    val gramsUdf = udf((s: String) => rollGramKeys(s, k))
    val grams = t.filter(length(col("s")) >= k)
      .select(col("doc_id"), explode(gramsUdf(col("s"))).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"),
        col("g.h1").as("h1"), col("g.h2").as("h2"))
    val dupKeys = grams.groupBy("h1", "h2").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("h1", "h2")
    val dups = grams.join(dupKeys, Seq("h1", "h2"), "left_semi")
      .select("doc_id", "pos")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spans = dups
      .withColumn("prev_end", max(col("pos") + k)
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L).otherwise(0L))
      .withColumn("span_id", sum("new_span")
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    val perDoc = spans.groupBy("doc_id", "span_id")
      .agg((max(col("pos")) + k - min(col("pos"))).cast("long").as("span_chars"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum("span_chars").as("dup_chars"),
        max("span_chars").as("max_span_chars"))
    t.select(col("doc_id"), length(col("s")).as("n_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        coalesce(col("max_span_chars"), lit(0L)).as("max_span_chars"),
        when(col("n_chars") > 0, Norm.r4(
            coalesce(col("dup_chars"), lit(0L)) / col("n_chars")))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** d21: char-exact duplicated-substring coverage (k = 40) over the
    * mutated-copy corpus — mutated copies normalize back to their
    * original's text, so whole-doc maximal spans exist by
    * construction alongside the natural boilerplate floor. */
  def d21ExactSubstrings(spark: SparkSession, dir: String): DataFrame =
    exactSubstringSpans(corpus(spark, dir)).orderBy("doc_id")

  // -------------------------------------------------------- d01 exact

  /** Exact dedup: group by normalized-text hash, keep the min id.
    * Emits one row per duplicate class (reference for what to drop). */
  def exactDupClasses(docs: DataFrame): DataFrame =
    docs.select(md5(normText(col("text"))).as("h"), col("doc_id"))
      .groupBy("h")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select("keep_id", "n_copies")

  def d01DedupExact(spark: SparkSession, dir: String): DataFrame =
    exactDupClasses(corpus(spark, dir)).orderBy("keep_id")

  // ------------------------------------------- d22 source overlap

  /** d22's corpus: the d01 same-source mutated twins PLUS a
    * 'crawl-mirror' source re-hosting every 7th doc (upper-cased,
    * doubled spaces — normalized-equal) — the real-world phenomenon a
    * cross-source audit exists to expose: a web crawl silently
    * containing the curated corpora you are also training on. */
  def overlapCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id", "text", "source")
    val twin = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        upper(regexp_replace(col("text"), " ", "  ")).as("text"), col("source"))
    val mirror = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000).as("doc_id"),
        upper(regexp_replace(col("text"), " ", "  ")).as("text"),
        lit("crawl-mirror").as("source"))
    d.unionAll(twin).unionAll(mirror)
  }

  /**
   * CROSS-SOURCE DUPLICATION MATRIX — the corpus diagnostic that
   * answers "which of my sources duplicate which": for every
   * unordered source pair (a ≤ b), the number of exact-dup classes
   * (d01's normalized-md5 classes) with documents on both sides and
   * the number of cross pairs they induce (cₐ·c_b off the diagonal,
   * C(cₐ,2) on it). This is how a data team finds that its crawl
   * re-hosts its curated sets BEFORE mixture weights double-count
   * them (c08 weighs sources by tokens; 1M duplicated tokens inflate
   * a source's weight AND leak across c14's source-level splits).
   *
   * Shape: one corpus-wide hash aggregate to (class, source, count)
   * — the same single shuffle as d01 — then every later step runs on
   * the DUP TAIL only (classes with ≥ 2 docs, left-semi pruned
   * before the self-join): the matrix join's input is the overlap
   * classes, not the corpus, and its output is bounded by
   * |sources|² rows regardless of corpus size.
   */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val perSrc = docs
      .select(md5(normText(col("text"))).as("h"), col("source"))
      .groupBy("h", "source").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // reused by the tot filter AND both join sides
    val dup = perSrc.groupBy("h").agg(sum("cnt").as("tot"))
      .filter(col("tot") >= 2).select("h")
    // the pruned tail feeds BOTH self-join sides: materialize once,
    // or the dup aggregate + semi-join re-run per side (plan-audited)
    val cs = perSrc.join(dup, Seq("h"), "left_semi").localCheckpoint(true)
    val a = cs.select(col("h"), col("source").as("src_a"), col("cnt").as("ca"))
    val b = cs.select(col("h"), col("source").as("src_b"), col("cnt").as("cb"))
    a.join(b, "h")
      .filter(col("src_a") < col("src_b") ||
        (col("src_a") === col("src_b") && col("ca") >= 2))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("src_a") < col("src_b"), col("ca") * col("cb"))
          .otherwise(expr("ca * (ca - 1) div 2"))).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  /** d22: the exact-dup source-overlap matrix over the mirrored corpus. */
  def d22SourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlap(overlapCorpus(spark, dir))

  // ------------------------------------------- d12 paragraph dedup

  /**
   * C4-style cross-document duplicate-PARAGRAPH removal — the
   * sub-document dedup the whole-doc operators (d01–d11) don't do:
   * each normalized paragraph keeps only its FIRST occurrence in
   * (doc_id, position) order corpus-wide; later copies (boilerplate
   * banners, quoted spans, mirrored chunks) drop while the rest of
   * their document survives. On this corpus the injected mutated
   * twins (upper-case, doubled spaces) normalize to exact paragraph
   * dups of their originals, so they come out with n_kept = 0.
   *
   * Shape: posexplode paragraphs → first-occurrence via a MAP-SIDE-
   * COMBINABLE min(struct(doc_id, idx)) aggregate joined back on the
   * paragraph (NOT a row_number window: a boilerplate paragraph
   * duplicated 10⁹ times would sort inside one window task, and AQE
   * can split a skewed JOIN partition but never a skewed window) →
   * per-doc aggregate rebuilds the kept text in position order and
   * fingerprints it. The synthetic corpus has no newlines, so the
   * t14 deterministic re-lining stands in for real paragraph breaks;
   * real data splits on its own \n\n.
   */
  def paraDedup(docs: DataFrame, paraWords: Int = 12): DataFrame = {
    val paras = docs
      .select(col("doc_id"), posexplode(transform(
        split(TextOps.relined(paraWords), "\n"),
        l => normText(trim(l)))).as(Seq("idx", "p")))
      .filter(length(col("p")) > 0)
    val first0 = paras.groupBy("p")
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
    // Hot-paragraph protection by regime (SkewSpec proves both):
    // map-side-combined min means `first` itself never skews, and in
    // the COMMON case it fits the broadcast threshold, so the paras
    // side never shuffles on p at all — a 10⁹-copy paragraph can't
    // straggle. When `first` outgrows broadcast the join turns
    // sort-merge, and AQE can only skew-split it if both sides are
    // plain shuffle stages — the min-aggregate sitting directly under
    // the join blocks the pattern (measured skew=false). This knob
    // materializes `first` so its side becomes a fresh shuffle stage
    // and the hot paras partition splits (measured skew=true): turn
    // it on at corpus scale, where one extra pass over the
    // distinct-paragraph table is noise next to a straggling sort.
    val first = if (docs.sparkSession.conf
        .get("spark.graft.paraDedup.checkpointFirst", "false").toBoolean)
      first0.localCheckpoint(true)
    else first0
    val ranked = paras.join(first, "p")
      .withColumn("keep",
        col("doc_id") === col("f.doc_id") && col("idx") === col("f.idx"))
    val perDoc = ranked.groupBy("doc_id").agg(
      count(lit(1)).as("n_paras"),
      count(when(col("keep"), 1)).as("n_kept"),
      array_join(transform(array_sort(collect_list(
        when(col("keep"), struct(col("idx"), col("p"))))),
        s => s.getField("p")), "\n").as("kept_text"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        when(col("n_kept") > 0, md5(encode(col("kept_text"), "UTF-8"))).as("kept_md5"))
  }

  def d12ParaDedup(spark: SparkSession, dir: String): DataFrame =
    paraDedup(corpus(spark, dir)).orderBy("doc_id")

  // ------------------------------------------ d15 boilerplate lines

  /**
   * CCNet/RefinedWeb-style cross-document BOILERPLATE-line removal —
   * the policy d12's first-occurrence rule can't express: a line
   * whose normalized form occurs in ≥ `minDocs` DISTINCT documents
   * is boilerplate (nav bars, cookie banners, per-domain footers) and
   * drops from EVERY document, including the first; genuinely-shared
   * content below the threshold (e.g. a quoted pair) keeps all its
   * copies. t14 measures within-doc line repetition; this is the
   * corpus-wide counterpart that actually rewrites the docs.
   *
   * Shape: posexplode lines → distinct (line, doc) pairs collapse
   * map-side → document frequency per line is ONE hash aggregate
   * (bounded by distinct lines, and a 10⁹-copy footer is ONE row of
   * it) → df joins back to the line stream → per-doc rebuild +
   * fingerprint, identical to d12's. The df side is an aggregate
   * directly under the join, so the common case broadcasts.
   */
  def lineDedup(docs: DataFrame, lineWords: Int = 12,
      minDocs: Int = 5): DataFrame = {
    val lines = docs
      .select(col("doc_id"), posexplode(transform(
        split(TextOps.relined(lineWords), "\n"),
        l => normText(trim(l)))).as(Seq("idx", "l")))
      .filter(length(col("l")) > 0)
    val dfreq = lines.select("l", "doc_id").distinct()
      .groupBy("l").agg(count(lit(1)).as("df"))
    val tagged = lines.join(dfreq, "l")
      .withColumn("keep", col("df") < minDocs)
    val perDoc = tagged.groupBy("doc_id").agg(
      count(lit(1)).as("n_lines"),
      count(when(col("keep"), 1)).as("n_kept"),
      array_join(transform(array_sort(collect_list(
        when(col("keep"), struct(col("idx"), col("l"))))),
        s => s.getField("l")), "\n").as("kept_text"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        when(col("n_kept") > 0, md5(encode(col("kept_text"), "UTF-8"))).as("kept_md5"))
  }

  /** d15: the corpus has no real boilerplate, so the registered query
    * prepends a per-SOURCE 12-word footer line (mirrored exactly by
    * the oracle — the d08 synthesis pattern): each footer occurs in
    * all ~25+ docs of its source and is dropped everywhere, while the
    * mutated-twin content lines sit at df = 2 < 5 and survive. The
    * footer is exactly `lineWords` words so the re-lining boundary
    * stays clean between footer and document body. */
  def d15LineDedup(spark: SparkSession, dir: String): DataFrame = {
    val withBoiler = corpus(spark, dir).select(col("doc_id"),
      concat(lit("subscribe to the "), col("source"),
        lit(" newsletter for free daily updates and breaking stories\n"),
        col("text")).as("text"))
    lineDedup(withBoiler).orderBy("doc_id")
  }

  // -------------------------------------------- d02 shingle Jaccard

  /**
   * Near-dup pairs by exact Jaccard over distinct 3-shingles, blocked
   * on `blockCol`: explode → self-join on (block, shingle) → count
   * common → ratio.
   *
   * `maxDf`: at corpus scale one stopword-ish shingle shared by f
   * documents makes an O(f²) posting list — the one quadratic hazard
   * in this operator. With a document-frequency cap, candidate
   * generation drops shingles with df > maxDf and every surviving
   * candidate is re-verified with the EXACT Jaccard over the full
   * shingle sets (the d03 verify-join shape), so precision stays
   * exact; recall misses only pairs whose entire overlap is hot
   * shingles — the standard cost/recall knob. Default None = exact.
   */
  def ngramJaccardPairs(docs: DataFrame, tau: Double, blockCol: Option[String],
      maxDf: Option[Int] = None): DataFrame =
    ngramJaccardFromBase(withShingles(docs, "text", "sh")
      .select(col("doc_id"),
        (blockCol match {
          case Some(b) => col(b)
          case None => lit("_")
        }).as("blk"),
        col("sh")), tau, maxDf)

  /** [[ngramJaccardPairs]] over a prebuilt (doc_id, blk, sh) frame —
    * the corpus wrappers pass the session-cached
    * [[corpusShingleBase]] so the shingle projection runs once per
    * (session, dir), not once per report. */
  private[graft] def ngramJaccardFromBase(base: DataFrame, tau: Double,
      maxDf: Option[Int] = None): DataFrame = {
    val ex = base.select(col("doc_id"), col("blk"), size(col("sh")).as("ns"),
      explode(col("sh")).as("s"))
    maxDf match {
      case None =>
        val a = ex.select(col("blk"), col("s"), col("doc_id").as("id1"), col("ns").as("na"))
        val b = ex.select(col("blk"), col("s"), col("doc_id").as("id2"), col("ns").as("nb"))
        a.join(b, Seq("blk", "s")).filter(col("id1") < col("id2"))
          .groupBy("id1", "id2")
          .agg(count(lit(1)).as("common"), first("na").as("na"), first("nb").as("nb"))
          .withColumn("jaccard",
            col("common").cast("double") / (col("na") + col("nb") - col("common")))
          .filter(col("jaccard") >= tau)
          .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
      case Some(cap) =>
        // shingle-set table feeds candidate generation AND both verify
        // sides — materialize once (same lifecycle as d03's signatures)
        val sets = base.localCheckpoint(true)
        val exs = sets.select(col("doc_id"), col("blk"), explode(col("sh")).as("s"))
        val rare = exs.groupBy("blk", "s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap)
          .select("blk", "s")
        val capped = exs.join(rare, Seq("blk", "s"))
        val cand = capped.select(col("blk"), col("s"), col("doc_id").as("id1"))
          .join(capped.select(col("blk"), col("s"), col("doc_id").as("id2")), Seq("blk", "s"))
          .filter(col("id1") < col("id2"))
          .select("id1", "id2")
          .distinct()
        val s1 = sets.select(col("doc_id").as("id1"), col("sh").as("sh1"))
        val s2 = sets.select(col("doc_id").as("id2"), col("sh").as("sh2"))
        cand.join(s1, "id1").join(s2, "id2")
          .withColumn("common", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
          .withColumn("jaccard",
            col("common") / (size(col("sh1")) + size(col("sh2")) - col("common")))
          .filter(col("jaccard") >= tau)
          .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
    }
  }

  /** The cached corpus shingle base with `source` as the block key —
    * the frame d02/d19/d20/d11 all derive from. */
  private def corpusBlkBase(spark: SparkSession, dir: String): DataFrame =
    corpusShingleBase(spark, dir)
      .select(col("doc_id"), col("source").as("blk"), col("sh"))

  def d02DedupNgram(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardFromBase(corpusBlkBase(spark, dir), 0.5)
      .orderBy("id1", "id2")

  /**
   * d19: PAIRWISE-SIMILARITY HISTOGRAM — the threshold-calibration
   * report a dedup rollout reads BEFORE picking τ (is there a clean
   * bimodal gap between near-dups and background similarity, and
   * where?): d02's blocked shingle-join pair generation at a low
   * floor (τ = 0.1), then the 4-dp Jaccard quantizes to an exact
   * integer (round(j·10⁴)) and bins by integer division — bin
   * membership is an i64 comparison, so the histogram is
   * engine/partitioning-exact even at bin boundaries. Pair volume is
   * the d02 shape (shared-shingle bounded, source-blocked; the maxDf
   * cap is the at-scale knob); the histogram itself is a
   * ≤20-row aggregate.
   */
  def d19JaccardHist(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardFromBase(corpusBlkBase(spark, dir), 0.1)
      .withColumn("m", round(col("jaccard") * 10000.0).cast("long"))
      .withColumn("bin", expr("m div 500"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
      .withColumn("jac_lo", graft.operators.Norm.r4(col("bin") * 0.05))
      .select(col("bin"), col("jac_lo"), col("n_pairs"))
      .orderBy("bin")

  /**
   * Banding catch probability under d03's production LSH parameters
   * (32 bands × 4 rows): p(j) = 1 − (1 − j⁴)³², evaluated from the
   * 4-dp grid integer `m` by MULTIPLICATION-ONLY repeated squaring
   * (j² = j·j, j⁴ = j²·j²; (1−j⁴) squared five times) — no `pow`, so
   * Spark and DuckDB land on identical doubles operand-for-operand.
   */
  private[graft] def bandingCatchProb32x4(m: Column): Column = {
    val j = m.cast("double") / lit(10000.0)
    val j2 = j * j
    val j4 = j2 * j2
    val t1 = lit(1.0) - j4
    val t2 = t1 * t1
    val t4 = t2 * t2
    val t8 = t4 * t4
    val t16 = t8 * t8
    val t32 = t16 * t16
    lit(1.0) - t32
  }

  /**
   * d20: LSH BANDING CALIBRATION — the (bands, rows) knob-picking
   * report a dedup rollout reads NEXT TO d19's histogram: over the
   * same pair population (d02's blocked chain at the 0.1 floor), each
   * pair's probability of colliding in ≥1 of d03's 32×4 bands is the
   * classic S-curve p(j) = 1 − (1 − j⁴)³²; per d19 bin the report
   * gives pair count, expected caught pairs, and expected catch
   * fraction — quantifying BOTH the recall claim above τ (bin ≥ 10
   * catch ≈ 1) and the sub-τ candidate tail the exact-verify stage
   * must pay for. Same pair-bounded shuffle as d19; the report is a
   * ≤ 20-row aggregate. The per-bin expected sums are double
   * reductions whose ordering ULPs the 4-dp round absorbs (the s09
   * convention).
   */
  def d20LshCalibration(spark: SparkSession, dir: String): DataFrame =
    lshCalibrationFromPairs(ngramJaccardFromBase(corpusBlkBase(spark, dir), 0.1))

  /** The d20 report over any (doc_id, text, source) frame. */
  def lshCalibration(docs: DataFrame): DataFrame =
    lshCalibrationFromPairs(ngramJaccardPairs(docs, 0.1, Some("source")))

  private def lshCalibrationFromPairs(pairsDf: DataFrame): DataFrame =
    pairsDf
      .withColumn("m", round(col("jaccard") * 10000.0).cast("long"))
      .withColumn("p", bandingCatchProb32x4(col("m")))
      .withColumn("bin", expr("m div 500"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"), sum(col("p")).as("sp"))
      .select(col("bin"), graft.operators.Norm.r4(col("bin") * 0.05).as("jac_lo"),
        col("n_pairs"), graft.operators.Norm.r4(col("sp")).as("expected_caught"),
        graft.operators.Norm.r4(col("sp") / col("n_pairs")).as("catch_frac"))
      .orderBy("bin")

  /**
   * DIRECTIONAL shingle containment: containment(A→B) =
   * |sh(A) ∩ sh(B)| / |sh(A)| ≥ τ means A is mostly contained IN B —
   * the asymmetric near-dup relation Jaccard structurally misses (a
   * paragraph quoted inside a long document has tiny Jaccard but
   * containment ≈ 1). The quote / boilerplate-inclusion /
   * partial-copy detector. Same posting-list self-join shape as d02
   * (shuffle ∝ posting lists, block-scoped); both directions of a
   * pair are independent output rows. Membership thresholds on the
   * r4-rounded score (the n05 boundary rule).
   */
  def containmentPairs(docs: DataFrame, tau: Double,
      blockCol: Option[String]): DataFrame =
    containmentFromBase(withShingles(docs, "text", "sh")
      .select(col("doc_id"),
        (blockCol match {
          case Some(b) => col(b)
          case None => lit("_")
        }).as("blk"),
        col("sh")), tau)

  /** [[containmentPairs]] over a prebuilt (doc_id, blk, sh) frame
    * (the cached-corpus route, as in [[ngramJaccardFromBase]]). */
  private[graft] def containmentFromBase(base: DataFrame, tau: Double): DataFrame = {
    val ex = base.select(col("doc_id"), col("blk"), size(col("sh")).as("ns"),
      explode(col("sh")).as("s"))
    val a = ex.select(col("blk"), col("s"), col("doc_id").as("id1"), col("ns").as("na"))
    val b = ex.select(col("blk"), col("s"), col("doc_id").as("id2"))
    a.join(b, Seq("blk", "s")).filter(col("id1") =!= col("id2"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("common"), first("na").as("na"))
      .withColumn("containment", round(col("common").cast("double") / col("na"), 4))
      .filter(col("containment") >= tau)
      .select(col("id1"), col("id2"), col("containment"))
  }

  /** d11: within-source containment pairs at τ = 0.8 — id1's shingle
    * set is (mostly) inside id2's. */
  def d11Containment(spark: SparkSession, dir: String): DataFrame =
    containmentFromBase(corpusBlkBase(spark, dir), 0.8)
      .orderBy("id1", "id2")

  // ----------------------------------------------- d03 MinHash + LSH

  private val MersennePrime = (1L << 31) - 1

  /** Deterministic permutation parameters (a, b) — splitmix-style. */
  private[graft] def permParams(n: Int, seed: Long): Array[(Long, Long)] = {
    var s = seed
    def next(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.fill(n)(((next() & 0x7fffffffL) | 1L, next() & 0x7fffffffL))
  }

  /** 128-perm MinHash signature of a shingle set. */
  private[graft] def minhashSig(sh: Seq[String], params: Array[(Long, Long)]): Array[Long] = {
    val hashes = sh.map(s => (scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c).toLong
      & 0xffffffffL)).toArray
    params.map { case (a, b) =>
      var m = Long.MaxValue
      var i = 0
      while (i < hashes.length) {
        val h = (a * hashes(i) + b) % MersennePrime
        if (h < m) m = h
        i += 1
      }
      m
    }
  }

  /**
   * MinHash(128) + LSH banding (32 bands × 4 rows — tuned for a τ≈0.5
   * near-dup radius), exact-Jaccard verification of candidates.
   * Only (band, signature) buckets shuffle; verified pairs join back
   * to shingle sets for the exact ratio.
   */
  def minhashLshPairs(docs: DataFrame, tau: Double, bands: Int = 32, rows: Int = 4,
      shOpt: Option[DataFrame] = None): DataFrame = {
    val params = permParams(bands * rows, 42L)
    val sigUdf = udf((sh: Seq[String]) => minhashSig(sh, params))
    val bandUdf = udf((sig: Seq[Long]) =>
      (0 until bands).map(bi =>
        (bi, scala.util.hashing.MurmurHash3.orderedHash(sig.slice(bi * rows, bi * rows + rows)))))
    // The shingle/signature table is referenced by four plan branches
    // (both bucket-join sides + both verify sides); shingleTable
    // materializes it once instead of recomputing the text pipeline
    // per branch (the corpus wrappers pass the session-cached
    // [[corpusShingleTable]]). Signatures are tiny relative to the
    // corpus (128 longs/doc) — at cluster scale this is the standard
    // materialized signature table.
    val withSh = shOpt.getOrElse(shingleTable(docs))
    val sigs = withSh.withColumn("sig", sigUdf(col("sh")))
    // A pair colliding in k bands appears k times in the bucket join;
    // `distinct()` collapses them before the exact Jaccard verify.
    val buckets = sigs.select(col("doc_id"), explode(bandUdf(col("sig"))).as("b"))
      .select(col("doc_id"), col("b._1").as("band"), col("b._2").as("bh"))
      .localCheckpoint(true)
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .distinct()
    val sh1 = withSh.select(col("doc_id").as("id1"), col("sh").as("sh1"))
    val sh2 = withSh.select(col("doc_id").as("id2"), col("sh").as("sh2"))
    cand.join(sh1, "id1").join(sh2, "id2")
      .withColumn("common", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("jaccard",
        col("common") / (size(col("sh1")) + size(col("sh2")) - col("common")))
      .filter(col("jaccard") >= tau)
      .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
  }

  def d03DedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairs(corpus(spark, dir), 0.5,
      shOpt = Some(corpusShingleTable(spark, dir))).orderBy("id1", "id2")

  /**
   * Cross-snapshot INCREMENTAL near-dup keep decision — the shape a
   * production training pipeline actually runs between crawls: each
   * NEW snapshot dedups against the EXISTING corpus without ever
   * re-pairing old×old (the old side's band table IS the persisted
   * "dedup index" a pipeline keeps between snapshots). New docs'
   * MinHash band signatures hash-join the old index (shuffle ∝ new
   * docs + candidates — the old corpus is scanned once to build its
   * bands and never self-joined), candidates verify on exact Jaccard
   * ≥ τ, and each new doc reports its BEST old match (max 4-dp
   * jaccard, ties to the smallest old id — both engines order on the
   * same rounded grid) plus keep = no old near-dup. Banding recall at
   * τ = 0.5 is the d03-proven property; the cross-set pair set is a
   * subset of the global set it was verified against.
   */
  def incrementalKeep(oldDocs: DataFrame, newDocs: DataFrame, tau: Double,
      bands: Int = 32, rows: Int = 4): DataFrame = {
    val params = permParams(bands * rows, 42L)
    val sigUdf = udf((sh: Seq[String]) => minhashSig(sh, params))
    val bandUdf = udf((sig: Seq[Long]) =>
      (0 until bands).map(bi =>
        (bi, scala.util.hashing.MurmurHash3.orderedHash(
          sig.slice(bi * rows, bi * rows + rows)))))
    def side(docs: DataFrame): (DataFrame, DataFrame) = {
      val sh = shingleTable(docs)
      val buckets = sh.withColumn("sig", sigUdf(col("sh")))
        .select(col("doc_id"), explode(bandUdf(col("sig"))).as("b"))
        .select(col("doc_id"), col("b._1").as("band"), col("b._2").as("bh"))
      (sh, buckets)
    }
    val (shOld, bOld) = side(oldDocs)
    val (shNew, bNew) = side(newDocs)
    incrementalFromOldSide(shOld, bOld, shNew, bNew, newDocs, tau)
  }

  /**
   * [[incrementalKeep]] against a PERSISTED old-side band index —
   * d18's between-snapshots contract made literal: the previous
   * snapshot's job writes [[minhashBandIndex]] to parquet, every
   * subsequent ingest LOADS it and joins its new docs against the
   * loaded (band, bh, ido, sho) table — the old corpus text is never
   * re-shingled, never re-hashed, never re-scanned. Spec-pinned
   * row-identical to the rebuild-from-corpus path.
   */
  def incrementalKeepWithIndex(index: DataFrame, newDocs: DataFrame,
      tau: Double, bands: Int = 32, rows: Int = 4): DataFrame = {
    val params = permParams(bands * rows, 42L)
    val sigUdf = udf((sh: Seq[String]) => minhashSig(sh, params))
    val bandUdf = udf((sig: Seq[Long]) =>
      (0 until bands).map(bi =>
        (bi, scala.util.hashing.MurmurHash3.orderedHash(
          sig.slice(bi * rows, bi * rows + rows)))))
    val shNew = shingleTable(newDocs)
    val bNew = shNew.withColumn("sig", sigUdf(col("sh")))
      .select(col("doc_id"), explode(bandUdf(col("sig"))).as("b"))
      .select(col("doc_id"), col("b._1").as("band"), col("b._2").as("bh"))
    val bOld = index.select(col("ido").as("doc_id"), col("band"), col("bh"))
    // the index denormalizes sho per band row; one row per old doc
    // suffices for verification
    val shOld = index.select(col("ido").as("doc_id"), col("sho").as("sh"))
      .dropDuplicates("doc_id")
    incrementalFromOldSide(shOld, bOld, shNew, bNew, newDocs, tau)
  }

  /** Shared tail of the incremental ingest: band-join candidates,
    * exact-Jaccard verification, best-match-per-new-doc, keep flag. */
  private def incrementalFromOldSide(shOld: DataFrame, bOld: DataFrame,
      shNew: DataFrame, bNew: DataFrame, newDocs: DataFrame,
      tau: Double): DataFrame = {
    val cand = bNew.as("x").join(bOld.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("idn"), col("y.doc_id").as("ido"))
      .distinct()
    val jac = col("common") /
      (size(col("shn")) + size(col("sho")) - col("common"))
    val ver = cand
      .join(shNew.select(col("doc_id").as("idn"), col("sh").as("shn")), "idn")
      .join(shOld.select(col("doc_id").as("ido"), col("sh").as("sho")), "ido")
      .withColumn("common", size(array_intersect(col("shn"), col("sho"))).cast("double"))
      .filter(jac >= tau)
      .select(col("idn"), col("ido"), round(jac, 4).as("jaccard"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("idn").orderBy(col("jaccard").desc, col("ido").asc)
    val best = ver.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("idn").as("doc_id"), col("ido").as("dup_of"), col("jaccard"))
    newDocs.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("jaccard"),
        col("dup_of").isNull.as("keep"))
  }

  /** The OLD side's persisted dedup artifact in d18's design: the
    * banded MinHash index (band, bh, ido, sho) a pipeline keeps
    * between snapshots — built once per corpus version, broadcast or
    * bucket-joined by every subsequent ingest. */
  private[graft] def minhashBandIndex(docs: DataFrame,
      bands: Int = 32, rows: Int = 4): DataFrame = {
    val params = permParams(bands * rows, 42L)
    val sigUdf = udf((sh: Seq[String]) => minhashSig(sh, params))
    val bandUdf = udf((sig: Seq[Long]) =>
      (0 until bands).map(bi =>
        (bi, scala.util.hashing.MurmurHash3.orderedHash(
          sig.slice(bi * rows, bi * rows + rows)))))
    shingleTable(docs)
      .withColumn("sig", sigUdf(col("sh")))
      .select(col("doc_id").as("ido"), col("sh").as("sho"),
        explode(bandUdf(col("sig"))).as("b"))
      .select(col("b._1").as("band"), col("b._2").as("bh"),
        col("ido"), col("sho"))
  }

  /** Session-lifetime cache of the old-side band index per data dir —
    * d18 and e19 share ONE build (in the between-snapshots contract
    * the index IS a persisted artifact of the PREVIOUS snapshot's
    * job; rebuilding it inside every ingest run billed the old
    * corpus's shingling to each measurement twice over). The
    * localCheckpoint stands in for the parquet round-trip the
    * persistence spec proves equivalent. */
  private val bandIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  /** Cache key scoped to the OWNING SparkSession instance as well as
    * the data dir — a cached DataFrame/localCheckpoint is dead state
    * once its session stops, so a restarted session in the same JVM
    * must rebuild, never resurrect (r15 advice). Dead-session entries
    * are evicted on the next lookup. */
  private[graft] def sessionDirKey(spark: SparkSession, dir: String): String =
    java.lang.System.identityHashCode(spark).toHexString + "|" + dir
  private def cachedFrame(cache: java.util.concurrent.ConcurrentHashMap[String, DataFrame],
      spark: SparkSession, dir: String)(build: => DataFrame): DataFrame = {
    cache.entrySet().removeIf(e => e.getValue.sparkSession.sparkContext.isStopped)
    cache.computeIfAbsent(sessionDirKey(spark, dir), _ => build)
  }
  private[graft] def oldBandIndex(spark: SparkSession, dir: String): DataFrame =
    cachedFrame(bandIndexCache, spark, dir) {
      minhashBandIndex(corpus(spark, dir).filter(col("doc_id") < 100000))
        .localCheckpoint(true)
    }

  private val shoTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  /** Doc-level (ido, sho) verify table of the old index — the
    * normalized HEAVY half of the persisted artifact (the band
    * postings are the slim half; the fused index repeats each doc's
    * shingle array on all 32 band rows). One row per old doc,
    * checkpointed once per (session, dir) so streaming micro-batch
    * re-plans never re-run the dropDuplicates shuffle. */
  private[graft] def oldShoTable(spark: SparkSession, dir: String): DataFrame =
    cachedFrame(shoTableCache, spark, dir) {
      oldBandIndex(spark, dir).select(col("ido"), col("sho"))
        .dropDuplicates("ido").localCheckpoint(true)
    }

  private val slimIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  /** Fixed-width (band, bh, ido) postings of the old index — the SLIM
    * half of the persisted artifact, checkpointed WITHOUT the shingle
    * arrays (r19 item 3): projecting it per streaming micro-batch from
    * the fused index deserializes every doc's shingle array 32 times
    * per re-plan; this pays that once per (session, dir). */
  private[graft] def oldSlimIndex(spark: SparkSession, dir: String): DataFrame =
    cachedFrame(slimIndexCache, spark, dir) {
      oldBandIndex(spark, dir).select(col("band"), col("bh"), col("ido"))
        .localCheckpoint(true)
    }

  /** d18: incremental ingest dedup — the mutated +100000 replicas are
    * the incoming snapshot, the originals the existing corpus; the
    * old side joins as the CACHED persisted band index
    * ([[oldBandIndex]]), the production shape (spec-pinned identical
    * to the rebuild-from-corpus path). */
  def d18IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    incrementalKeepWithIndex(oldBandIndex(spark, dir),
        c.filter(col("doc_id") >= 100000), 0.5)
      .orderBy("doc_id")
  }

  /**
   * d17: the END-TO-END fuzzy-dedup KEEP/DROP decision — the
   * production pipeline the pieces exist for, composed: MinHash-LSH
   * candidate pairs (d03's banding, shuffle ∝ candidates) →
   * connected components (d06's iterative min-label, shuffle ∝
   * edges) → canonical keeper per cluster. One row per CORPUS doc:
   * cluster id (= the cluster's min doc_id, the component label),
   * cluster size, and `keep` — true exactly for the keeper
   * (doc_id == cluster; singletons keep themselves via the left
   * join's coalesce). This is the row a 100 TB dedup job writes back
   * next to the corpus: a pure doc-keyed column set, so the actual
   * drop is a pushed-down `WHERE keep` filter downstream. The sizes
   * aggregate and the size join both key on cluster — the only new
   * shuffles over d03+d06 are cluster-count-bounded.
   */
  /** The uncached d17 pipeline — the actual build a dedup job runs
    * once per corpus snapshot. Kept callable so the cache-equivalence
    * spec can pin cached ≡ fresh. */
  private[graft] def d17DedupKeepFresh(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val comp = connectedComponents(minhashLshPairs(c, 0.5))
    val labeled = c.select(col("doc_id"))
      .join(comp.select(col("id").as("doc_id"), col("component")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster"))
    val sizes = labeled.groupBy("cluster").agg(count(lit(1)).as("n_cluster"))
    labeled.join(sizes, "cluster")
      .select(col("doc_id"), col("cluster"), col("n_cluster"),
        (col("doc_id") === col("cluster")).as("keep"))
  }

  /** Session-lifetime cache of d17's keep artifact per data dir — the
    * same contract as [[oldBandIndex]]: in production the keep column
    * is WRITTEN next to the corpus once per snapshot and every
    * downstream consumer (the drop filter, the mixture weighting,
    * audits) reads the persisted artifact rather than re-running
    * banding + components. d17 and c11 share ONE build per session;
    * the localCheckpoint stands in for the parquet round-trip
    * (cache ≡ fresh is spec-pinned, DedupSpec). */
  private val keepCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private[graft] def keepArtifact(spark: SparkSession, dir: String): DataFrame =
    cachedFrame(keepCache, spark, dir) {
      d17DedupKeepFresh(spark, dir).localCheckpoint(true)
    }

  def d17DedupKeep(spark: SparkSession, dir: String): DataFrame =
    keepArtifact(spark, dir).orderBy("doc_id")

  /**
   * c11: DEDUP-AWARE mixture weights — the d17→c08 pipeline seam a
   * production data mix actually runs: temperature weights computed
   * over the POST-DEDUP corpus, not the raw one (duplicate-heavy
   * sources otherwise buy mixture share with copies; the weights
   * must see the kept tokens only). Composition of two audited
   * pieces: d17's end-to-end keep decision filters the corpus (a
   * doc-keyed semi-join — the pushed-down `WHERE keep` d17's row
   * advertises), then c08's α = 0.5 temperature arithmetic runs over
   * the survivors. The only work beyond d17 itself is one token-count
   * aggregate over kept docs.
   */
  def c11DedupMixture(spark: SparkSession, dir: String): DataFrame = {
    val kept = keepArtifact(spark, dir).filter(col("keep")).select("doc_id")
    Corpus.mixtureWeights(corpus(spark, dir).join(kept, "doc_id"))
      .orderBy("source")
  }

  /**
   * c14: LEAKAGE-SAFE train/test split — the dedup-aware variant of
   * c03 a benchmark-clean training pipeline actually needs: a naive
   * per-doc split puts near-duplicates on BOTH sides (the test set
   * then "contains" training data and scores are inflated), so the
   * split must be atomic per NEAR-DUP CLUSTER. Rides d17's cached
   * keep artifact (doc → cluster); the side is pure modular
   * arithmetic on the cluster id — (cluster·2654435761) mod 1e9+7
   * mod 10, train on < 8 — deterministic, engine-exact (products ≤
   * 5.3e14 ≪ 2^63), and trivially stable across corpus versions for
   * unchanged clusters. Cost beyond the shared d17 build: one
   * per-row projection.
   */
  def c14LeakageSplit(spark: SparkSession, dir: String): DataFrame =
    keepArtifact(spark, dir)
      .withColumn("split",
        when((col("cluster") * lit(2654435761L)) % lit(1000000007L) % 10 < 8,
          lit("train")).otherwise(lit("test")))
      .select(col("doc_id"), col("cluster"), col("n_cluster"), col("split"))
      .orderBy("doc_id")

  /**
   * c15: END-TO-END PIPELINE YIELD REPORT — the per-source funnel a
   * corpus build publishes with every snapshot ("what survived each
   * stage"): raw docs → after near-dup dedup (d17's cached keep
   * artifact) → after the Gopher quality gate (t19's 7-rule document
   * gate) → final token mass. One registered entry PROVING the
   * library's stages compose: the keep artifact joins doc-keyed, the
   * gate is t19's per-row projection run on the same frame, tokens
   * are c08's count expression, and the report is ONE |sources|-row
   * aggregate. Beyond the shared d17 build the cost is a per-row map
   * + two doc-keyed joins + one bounded aggregate — at 100 TB the
   * funnel is a single pass over the corpus.
   */
  def c15PipelineReport(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val keep = keepArtifact(spark, dir).select(col("doc_id"), col("keep"))
    val gate = graft.operators.TextOps.gopherGate(c)
      .select(col("doc_id"), col("keep").as("q_keep"))
    val tok = c.select(col("doc_id"), col("source"),
      size(filter(split(normText(col("text")), " "),
        w => length(w) > 0)).cast("long").as("n_tokens"))
    tok.join(keep, "doc_id").join(gate, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_after_dedup"),
        sum(when(col("keep") && col("q_keep"), 1L).otherwise(0L))
          .as("n_after_quality"),
        sum(when(col("keep") && col("q_keep"), col("n_tokens")).otherwise(0L))
          .as("n_tokens_final"))
      .orderBy("source")
  }

  // ---------------------------------------------------- d04 SimHash

  /** Polynomial string hash (h·base + char) mod m — chosen over
    * murmur3 because it is re-expressible verbatim in the DuckDB
    * oracle (list_reduce over ord(); the t04 rolling-hash pattern).
    * Char = UTF-16 unit, identical to ord() codepoints for the BMP. */
  private[graft] def polyHash(s: String, base: Long, mod: Long): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = (h * base + s.charAt(i).toInt) % mod; i += 1 }
    h
  }

  /** 60-bit SimHash of a shingle set: two independent 30-bit
    * polynomial hashes per shingle supply the bit votes (bits 0-29
    * from h1, 30-59 from h2). */
  private[graft] def simhash60(sh: Seq[String]): Long = {
    val counts = new Array[Int](60)
    sh.foreach { s =>
      val h1 = polyHash(s, 31L, 1000000007L)
      val h2 = polyHash(s, 131L, 998244353L)
      var b = 0
      while (b < 30) {
        if (((h1 >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        if (((h2 >>> b) & 1L) == 1L) counts(b + 30) += 1 else counts(b + 30) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** SimHash near-dup pairs at hamming ≤ radius via 15-bit bank
    * blocking (pigeonhole-exhaustive for radius ≤ 3). */
  def simhashPairs(docs: DataFrame, radius: Int = 3,
      shOpt: Option[DataFrame] = None): DataFrame = {
    val simUdf = udf((sh: Seq[String]) => simhash60(sh))
    // materialized for the same two-sided-join reason as
    // minhashLshPairs; the second checkpoint pins the UDF output so
    // the bank self-join's branches don't recompute signatures
    val sigs = shOpt.getOrElse(shingleTable(docs))
      .withColumn("sim", simUdf(col("sh")))
      .select(col("doc_id"), col("sim"))
      .localCheckpoint(true)
    val banks = sigs.select(col("doc_id"), col("sim"),
      explode(array((0 until 4).map(k =>
        struct(lit(k).as("bank"),
          shiftright(col("sim"), k * 15).bitwiseAND(lit(0x7fffL)).as("bv"))): _*)).as("b"))
      .select(col("doc_id"), col("sim"), col("b.bank"), col("b.bv"))
    // Min-bank emission: a pair colliding in k banks would appear k
    // times, and deduping that stream costs a full (id1, id2) shuffle
    // (`distinct()`); instead emit ONLY from the minimal colliding
    // bank — derivable for free since both full signatures are
    // already in the join output (unlike d03, where the equivalent
    // trick must carry a band-hash array and measured even) — so each
    // pair is emitted exactly once and the distinct exchange
    // disappears.
    def bankEq(j: Int) =
      shiftright(col("x.sim"), j * 15).bitwiseAND(lit(0x7fffL)) ===
        shiftright(col("y.sim"), j * 15).bitwiseAND(lit(0x7fffL))
    val isMinBank = when(col("x.bank") === 0, lit(true))
      .when(col("x.bank") === 1, !bankEq(0))
      .when(col("x.bank") === 2, !bankEq(0) && !bankEq(1))
      .otherwise(!bankEq(0) && !bankEq(1) && !bankEq(2))
    val cand = banks.as("x").join(banks.as("y"),
        col("x.bank") === col("y.bank") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id") && isMinBank)
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"),
        col("x.sim").as("s1"), col("y.sim").as("s2"))
    cand.withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= radius)
      .select("id1", "id2", "hamming")
  }

  def d04DedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(corpus(spark, dir),
      shOpt = Some(corpusShingleTable(spark, dir))).orderBy("id1", "id2")

  // -------------------------------------- d06 duplicate components

  /**
   * Connected components over near-dup pairs — turns pairwise matches
   * into duplicate CLUSTERS (keep the min-id member of each).
   *
   * Iterative min-label propagation as chained DataFrame jobs: each
   * round every node takes the min label among itself and its
   * neighbors; converges in ≤ diameter rounds (dup clusters are
   * near-cliques from LSH, so 2–3 rounds in practice). Each round is
   * one join + one aggregation — shuffle ∝ |edges|, the
   * large-graph-safe shape (no driver-side graph).
   */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // Iterative-DataFrame hygiene, both load-bearing:
    //  - distinct column names (labels derives from edges; qualified
    //    join conditions would hit ambiguous-self-join resolution)
    //  - localCheckpoint(eager) each round to CUT the logical lineage:
    //    without it the plan doubles per iteration and Catalyst
    //    analysis/cache-lookup time grows exponentially (observed as a
    //    driver-side hang by round ~15). On a cluster with an
    //    unreliable-executor concern, use checkpoint() to the
    //    checkpoint dir instead — same shape.
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint(true)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val nbrMin = edges.join(labels.select(col("id").as("dst"), col("lbl")), "dst")
        .groupBy(col("src").as("id")).agg(min("lbl").as("nlbl"))
      val updated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("lbl"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("nxt"))
        .localCheckpoint(true)
      changed = updated.filter(col("nxt") < col("lbl")).count()
      labels = updated.select(col("id"), col("nxt").as("lbl"))
      it += 1
    }
    // min-label propagation needs O(diameter) rounds: silently
    // returning unconverged labels would split long-chain components
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still moving); raise maxIter for deep-chain graphs.")
    labels.select(col("id"), col("lbl").as("component"))
  }

  /** d06: duplicate clusters from the MinHash-LSH pair set. */
  def d06DedupComponents(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(minhashLshPairs(corpus(spark, dir), 0.5))
      .orderBy("id")

  // ------------------------------------------- d05 embedding cosine

  /** `df` with a `nrm` column of [[norm2]](e) and zero-norm rows
    * dropped — the shared guard every cosine consumer goes through (a
    * zero vector has no cosine direction, and ANSI mode makes the
    * division a runtime error). Precomputing the norm here also means
    * pair joins never re-fold it per pair. */
  def withNorm(df: DataFrame, e: String = "e"): DataFrame =
    df.withColumn("nrm", norm2(col(e))).filter(col("nrm") > 0.0)

  /** Left-to-right dot product fold. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Euclidean norm, same fold order as [[dot]] — precompute this per
    * row before a pair join so norms aren't re-folded per pair. */
  def norm2(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** Embedding corpus: natural vectors ∪ scaled copies (cosine is
    * scale-invariant, so the copies are exact near-dups). */
  def embCorpus(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
    e.unionAll(e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("label"),
        transform(col("e"), x => x * 1.2).as("e")))
  }

  val embCorpusSql: String =
    """WITH emb AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, label, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.2)
      |  FROM embeddings WHERE vec_id % 10 = 0
      |)""".stripMargin

  /** Label-blocked embedding near-dup pairs at cosine ≥ τ — the EXACT
    * baseline: an all-pairs join within each label block, O(n²/#labels)
    * comparisons. Correct at any τ but only viable when label blocks
    * are bounded; the corpus-scale path is [[embeddingLshDupPairs]]
    * (bucketed candidates, no per-label cartesian), the same
    * exact-vs-bucketed split as n01 vs n02. Norms are projected once
    * per row (not per pair); the division order matches
    * `cosine`/DuckDB exactly. */
  def embeddingDupPairs(emb: DataFrame, tau: Double): DataFrame = {
    // ADMISSION GUARD (the a39/graph-regime convention, enforced not
    // just documented): this is the bounded-blocks-only EXACT baseline
    // — a label block of b rows costs b²/2 dot products, so an
    // unbounded block turns the operator into a corpus-scale
    // cartesian. Blocks above `spark.graft.dedup.blockRowsMax`
    // (default 100k ≈ 5e9 pairs/block) are rejected up front with a
    // pointer to the bucketed twin instead of launching a job that
    // can never finish. One |labels|-row pre-flight aggregate.
    val spark = emb.sparkSession
    val blockMax = spark.conf
      .get("spark.graft.dedup.blockRowsMax", "100000").toLong
    if (blockMax > 0) {
      val biggest = emb.groupBy("label").count()
        .agg(max("count")).collect()(0)
      if (!biggest.isNullAt(0) && biggest.getLong(0) > blockMax)
        throw new IllegalArgumentException(
          s"embeddingDupPairs: largest label block has ${biggest.getLong(0)} rows " +
            s"> spark.graft.dedup.blockRowsMax=$blockMax; the exact all-pairs " +
            "baseline is bounded-blocks-only — use embeddingLshDupPairs (d05b) " +
            "for unbounded corpora, or raise the bound deliberately")
    }
    val withN = withNorm(emb)
    val a = withN.select(col("label"), col("vec_id").as("id1"), col("e").as("e1"),
      col("nrm").as("n1"))
    val b = withN.select(col("label"), col("vec_id").as("id2"), col("e").as("e2"),
      col("nrm").as("n2"))
    a.join(b, "label").filter(col("id1") < col("id2"))
      .withColumn("cos", dot(col("e1"), col("e2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= tau)
      .select(col("id1"), col("id2"), col("label"), round(col("cos"), 4).as("cos"))
  }

  def d05DedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    embeddingDupPairs(embCorpus(spark, dir), 0.35).orderBy("id1", "id2")

  /**
   * Corpus-scale embedding dedup: random-hyperplane LSH bucket join
   * (reusing n02's hyperplanes/sign signatures) + exact cosine verify —
   * shuffle ∝ bucket collisions, never a per-label cartesian. The
   * label stays in the bucket key so cross-label pairs never join.
   *
   * Recall contract: pairs at θ = 0 (exact duplicates up to positive
   * scaling — the near-dup radius this τ targets) share EVERY band
   * signature, so recall for them is 1 by construction, not in
   * expectation. Pairs barely above τ collide with probability
   * 1 − (1 − pᵇ)^B, p = 1 − θ/π; on this corpus the gap between exact
   * twins (cos 1.0) and the densest natural pair (cos ≤ 0.51 at
   * sf0.1) makes the τ = 0.85 output deterministically identical to
   * the all-pairs oracle.
   */
  def embeddingLshDupPairs(emb: DataFrame, tau: Double,
      bands: Int = 5, bitsPerBand: Int = 6, dims: Int = 64): DataFrame = {
    val hp = Similarity.hyperplanes(bands * bitsPerBand, dims, 7L)
    val sigUdf = udf((e: Seq[Double]) => Similarity.signBits(e, hp))
    val mask = (1 << bitsPerBand) - 1
    // signature table referenced by both bucket-join sides + both
    // verify sides (the d03 shape) — materialize once
    val sigs = withNorm(emb.withColumn("sig", sigUdf(col("e"))))
      .select(col("vec_id"), col("label"), col("e"), col("nrm"), col("sig"))
      .localCheckpoint(true)
    val banded = sigs.select(col("vec_id"), col("label"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * bitsPerBand).bitwiseAND(lit(mask)).as("bv"))): _*)).as("bk"))
      .select(col("vec_id"), col("label"), col("bk.band"), col("bk.bv"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.label") === col("y.label") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.label").as("label"),
        col("x.vec_id").as("id1"), col("y.vec_id").as("id2"))
      .distinct()
    val v1 = sigs.select(col("vec_id").as("id1"), col("e").as("e1"), col("nrm").as("n1"))
    val v2 = sigs.select(col("vec_id").as("id2"), col("e").as("e2"), col("nrm").as("n2"))
    cand.join(v1, "id1").join(v2, "id2")
      .withColumn("cos", dot(col("e1"), col("e2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= tau)
      .select(col("id1"), col("id2"), col("label"), round(col("cos"), 4).as("cos"))
  }

  def d05bDedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame =
    embeddingLshDupPairs(embCorpus(spark, dir), 0.85).orderBy("id1", "id2")

  // --------------------------------------------------------- oracle SQL

  /** Source-scoped shingle CTE chain (norm → words → 3-gram sh →
    * exploded postings with set size), shared VERBATIM by the d02 and
    * d11 oracles — shingle semantics cannot diverge between them. */
  private val sourceShingleCtesSql: String =
    """, norm AS (
      |  SELECT doc_id, source, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM corpus
      |), words AS (
      |  SELECT doc_id, source, string_split(t, ' ') AS w FROM norm
      |), sh AS (
      |  SELECT doc_id, source, list_distinct(list_transform(range(1, greatest(len(w)-1, 1)),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      |  FROM words
      |), ex AS (
      |  SELECT doc_id, source, len(shingles) AS ns, unnest(shingles) AS s FROM sh
      |)""".stripMargin

  /** Exact global shingle-Jaccard pair CTE chain (follows `corpus`). */
  private val globalPairsSqlBody: String =
    """, norm AS (
      |  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM corpus
      |), words AS (
      |  SELECT doc_id, string_split(t, ' ') AS w FROM norm
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w)-1, 1)),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      |  FROM words
      |), ex AS (
      |  SELECT doc_id, len(shingles) AS ns, unnest(shingles) AS s FROM sh
      |), pairs AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common,
      |    any_value(a.ns) AS na, any_value(b.ns) AS nb
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "d08_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
        |    || source || '.Example.com/p/' || CAST(doc_id % 40 AS VARCHAR)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 7 = 0
        |          THEN '?utm_source=rss&id=' || CAST(doc_id AS VARCHAR) ELSE '' END)
        |    || (CASE WHEN doc_id % 11 = 0 THEN '#section-2' ELSE '' END) AS url
        |  FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(url),
        |      '^https?://', ''), '^www\.', ''), '[?#].*$', ''), '/+$', '') AS curl
        |  FROM u
        |)
        |SELECT curl, min(doc_id) AS canonical_id, count(*) AS n_variants
        |FROM c GROUP BY curl ORDER BY curl""".stripMargin,
    "d09_dup_shingles" ->
      (corpusSql +
        """, norm AS (
          |  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM corpus
          |), words AS (
          |  SELECT doc_id, string_split(t, ' ') AS w FROM norm
          |), sh AS (
          |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w)-1, 1)),
          |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
          |  FROM words
          |), ex AS (
          |  SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0
          |), dfreq AS (
          |  SELECT s, count(*) AS df FROM ex GROUP BY s
          |)
          |SELECT e.doc_id, count(*) AS n_shingles,
          |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
          |  round(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) + 0
          |    AS shared_frac
          |FROM ex e JOIN dfreq d ON e.s = d.s
          |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin),
    // the banking join provably (pigeonhole) recalls EVERY hamming≤3
    // pair, so the oracle is the brute-force pair set over signatures
    // recomputed from scratch in SQL: same shingles, same two
    // polynomial hashes (list_reduce over ord()), same bit votes
    "d04_dedup_simhash" ->
      (corpusSql +
        """, norm AS (
          |  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM corpus
          |), words AS (
          |  SELECT doc_id, string_split(t, ' ') AS w FROM norm
          |), sh AS (
          |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w)-1, 1)),
          |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
          |  FROM words
          |), ex AS (
          |  SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0
          |), hh AS (
          |  SELECT doc_id,
          |    list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(string_split(s, ''), x -> CAST(ord(x) AS BIGINT))),
          |      (a, x) -> (a * 31 + x) % 1000000007) AS h1,
          |    list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(string_split(s, ''), x -> CAST(ord(x) AS BIGINT))),
          |      (a, x) -> (a * 131 + x) % 998244353) AS h2
          |  FROM ex
          |), bits AS (
          |  SELECT doc_id, b.b AS b,
          |    sum(CASE WHEN ((CASE WHEN b.b < 30 THEN h1 ELSE h2 END)
          |      >> (b.b % 30)) & 1 = 1 THEN 1 ELSE -1 END) AS c
          |  FROM hh, (SELECT unnest(range(0, 60)) AS b) b
          |  GROUP BY 1, 2
          |), sig AS (
          |  SELECT doc_id,
          |    CAST(sum(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sim
          |  FROM bits GROUP BY 1
          |)
          |SELECT a.doc_id AS id1, b.doc_id AS id2,
          |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
          |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.sim, b.sim)) <= 3
          |ORDER BY id1, id2""".stripMargin),
    "d01_dedup_exact" ->
      (corpusSql +
        """
          |SELECT min(doc_id) AS keep_id, count(*) AS n_copies
          |FROM (SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS h FROM corpus)
          |GROUP BY h HAVING count(*) > 1 ORDER BY keep_id""".stripMargin),
    // d22: per-(class, source) counts once, dup tail only, then the
    // bounded self-join — n_pairs is ca·cb off the diagonal, C(ca,2) on
    "d22_source_overlap" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, upper(replace(text, ' ', '  ')), source
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, upper(replace(text, ' ', '  ')), 'crawl-mirror'
        |  FROM documents WHERE doc_id % 7 = 0
        |), c AS (
        |  SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS h,
        |    source, CAST(count(*) AS BIGINT) AS cnt
        |  FROM corpus GROUP BY 1, 2
        |), t AS (SELECT h FROM c GROUP BY h HAVING sum(cnt) >= 2)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(CASE WHEN a.source < b.source THEN a.cnt * b.cnt
        |    ELSE a.cnt * (a.cnt - 1) // 2 END) AS BIGINT) AS n_pairs
        |FROM c a JOIN c b ON a.h = b.h JOIN t ON a.h = t.h
        |WHERE a.source < b.source OR (a.source = b.source AND a.cnt >= 2)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d12_para_dedup" ->
      (corpusSql +
        s""", ps AS (
          |  SELECT doc_id, string_split(${TextOps.relinedSql(12)}, chr(10)) AS arr
          |  FROM corpus
          |), paras AS (
          |  SELECT doc_id, i - 1 AS idx,
          |    lower(regexp_replace(trim(arr[i]), '\\s+', ' ', 'g')) AS p
          |  FROM ps, unnest(range(1, len(arr) + 1)) AS t(i)
          |  WHERE length(lower(regexp_replace(trim(arr[i]), '\\s+', ' ', 'g'))) > 0
          |), ranked AS (
          |  SELECT doc_id, idx, p,
          |    row_number() OVER (PARTITION BY p ORDER BY doc_id, idx) AS rn
          |  FROM paras
          |), per AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
          |    CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
          |    md5(string_agg(p, chr(10) ORDER BY idx) FILTER (WHERE rn = 1)) AS kept_md5
          |  FROM ranked GROUP BY doc_id
          |)
          |SELECT c.doc_id, coalesce(per.n_paras, 0) AS n_paras,
          |  coalesce(per.n_kept, 0) AS n_kept, per.kept_md5
          |FROM (SELECT DISTINCT doc_id FROM corpus) c
          |LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin),
    // d15: same re-lining/normalization CTEs as d12, with the
    // per-source footer synthesized identically to the engine side;
    // keep-rule is document frequency < 5 instead of first-occurrence
    "d15_line_dedup" ->
      (corpusSql +
        s""", bl AS (
          |  SELECT doc_id, 'subscribe to the ' || source ||
          |    ' newsletter for free daily updates and breaking stories' ||
          |    chr(10) || text AS text
          |  FROM corpus
          |), ps AS (
          |  SELECT doc_id, string_split(${TextOps.relinedSql(12)}, chr(10)) AS arr
          |  FROM bl
          |), lns AS (
          |  SELECT doc_id, i - 1 AS idx,
          |    lower(regexp_replace(trim(arr[i]), '\\s+', ' ', 'g')) AS l
          |  FROM ps, unnest(range(1, len(arr) + 1)) AS t(i)
          |  WHERE length(lower(regexp_replace(trim(arr[i]), '\\s+', ' ', 'g'))) > 0
          |), dfq AS (
          |  SELECT l, count(DISTINCT doc_id) AS df FROM lns GROUP BY l
          |), per AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
          |    CAST(count(*) FILTER (WHERE df < 5) AS BIGINT) AS n_kept,
          |    md5(string_agg(l, chr(10) ORDER BY idx) FILTER (WHERE df < 5)) AS kept_md5
          |  FROM lns JOIN dfq USING (l) GROUP BY doc_id
          |)
          |SELECT c.doc_id, coalesce(per.n_lines, 0) AS n_lines,
          |  coalesce(per.n_kept, 0) AS n_kept, per.kept_md5
          |FROM (SELECT DISTINCT doc_id FROM corpus) c
          |LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin),
    // d13: window-function mirror of the rolling-window span dedup —
    // grouped on md5(window) here (any injective-up-to-collision key
    // gives the same counts; Spark keys on the two-level xxhash64),
    // same interval-union via running max-end
    "d13_dup_spans" ->
      (corpusSql +
        """, tk AS (
          |  SELECT doc_id,
          |    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
          |  FROM corpus
          |), wins AS (
          |  SELECT doc_id, i - 1 AS pos, md5(array_to_string(ws[i:i+7], ' ')) AS h
          |  FROM tk, unnest(range(1, len(ws) - 6)) AS t(i)
          |  WHERE len(ws) >= 8
          |), cnts AS (
          |  SELECT h, count(*) AS cnt FROM wins GROUP BY h
          |), dups AS (
          |  SELECT doc_id, pos FROM wins JOIN cnts USING (h) WHERE cnt > 1
          |), marked AS (
          |  SELECT doc_id, pos,
          |    max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          |  FROM dups
          |), sp AS (
          |  SELECT doc_id, pos,
          |    sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_id
          |  FROM marked
          |), per_doc AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
          |    CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
          |  FROM (
          |    SELECT doc_id, span_id, max(pos) + 8 - min(pos) AS span_tokens
          |    FROM sp GROUP BY 1, 2
          |  ) GROUP BY 1
          |), winstats AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows FROM wins GROUP BY 1
          |), dupstats AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows FROM dups GROUP BY 1
          |)
          |SELECT tk.doc_id,
          |  CAST(coalesce(w.n_windows, 0) AS BIGINT) AS n_windows,
          |  CAST(coalesce(d.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
          |  CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
          |  CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
          |  round(coalesce(p.dup_tokens, 0) * 1.0 / len(tk.ws), 4) + 0 AS dup_frac
          |FROM tk
          |LEFT JOIN winstats w USING (doc_id)
          |LEFT JOIN dupstats d USING (doc_id)
          |LEFT JOIN per_doc p USING (doc_id)
          |ORDER BY tk.doc_id""".stripMargin),
    // d21: window-function mirror of the char-exact substring-span
    // coverage — same char 40-grams (grouped on the gram string
    // itself, no hash), same interval-union via running max-end
    "d21_exact_substrings" ->
      (corpusSql +
        s""", t AS (
          |  SELECT doc_id,
          |    lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS s
          |  FROM corpus
          |), grams AS (
          |  SELECT doc_id, i - 1 AS pos, substring(s, i, 40) AS g
          |  FROM t, unnest(range(1, length(s) - 38)) AS u(i)
          |  WHERE length(s) >= 40
          |), cnts AS (
          |  SELECT g, count(*) AS cnt FROM grams GROUP BY g
          |), dups AS (
          |  SELECT doc_id, pos FROM grams JOIN cnts USING (g) WHERE cnt > 1
          |), marked AS (
          |  SELECT doc_id, pos,
          |    max(pos + 40) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          |  FROM dups
          |), sp AS (
          |  SELECT doc_id, pos,
          |    sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_id
          |  FROM marked
          |), per_doc AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
          |    CAST(sum(span_chars) AS BIGINT) AS dup_chars,
          |    CAST(max(span_chars) AS BIGINT) AS max_span_chars
          |  FROM (
          |    SELECT doc_id, span_id, max(pos) + 40 - min(pos) AS span_chars
          |    FROM sp GROUP BY 1, 2
          |  ) GROUP BY 1
          |)
          |SELECT t.doc_id,
          |  CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
          |  CAST(coalesce(p.dup_chars, 0) AS BIGINT) AS dup_chars,
          |  CAST(coalesce(p.max_span_chars, 0) AS BIGINT) AS max_span_chars,
          |  CASE WHEN length(t.s) > 0
          |    THEN round(coalesce(p.dup_chars, 0) * 1.0 / length(t.s), 4) + 0
          |    ELSE 0.0 END AS dup_frac
          |FROM t LEFT JOIN per_doc p USING (doc_id)
          |ORDER BY t.doc_id""".stripMargin),
    // e10: the streaming replay keeps each paragraph's first ARRIVAL;
    // arrival order is (doc_id, idx), so the batch window mirror is
    // exact — same first-occurrence CTEs as d12, kept rows emitted
    "e10_stream_para_dedup" ->
      (corpusSql +
        s""", ps AS (
          |  SELECT doc_id, string_split(${TextOps.relinedSql(12)}, chr(10)) AS arr
          |  FROM corpus
          |), paras AS (
          |  SELECT doc_id, i - 1 AS idx,
          |    lower(regexp_replace(trim(arr[i]), '\\s+', ' ', 'g')) AS p
          |  FROM ps, unnest(range(1, len(arr) + 1)) AS t(i)
          |  WHERE length(lower(regexp_replace(trim(arr[i]), '\\s+', ' ', 'g'))) > 0
          |), ranked AS (
          |  SELECT doc_id, idx, p,
          |    row_number() OVER (PARTITION BY p ORDER BY doc_id, idx) AS rn
          |  FROM paras
          |)
          |SELECT doc_id, CAST(idx AS INT) AS idx, md5(p) AS p_md5
          |FROM ranked WHERE rn = 1 ORDER BY doc_id, idx""".stripMargin),
    // full Bloom replay: same md5 hex windows -> 8-bit positions
    // (nibbles via strpos on the hex alphabet), same k=3 AND-probe
    "d14_bloom_contamination" ->
      """WITH norm AS (
        |  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents
        |), words AS (
        |  SELECT doc_id, string_split(t, ' ') AS w FROM norm
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w)-1, 1)),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
        |  FROM words
        |), ex AS (
        |  SELECT doc_id, md5(unnest(shingles)) AS h FROM sh WHERE len(shingles) > 0
        |), bp AS (
        |  SELECT DISTINCT
        |    ((strpos('0123456789abcdef', substr(h, 3*j+1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(h, 3*j+2, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(h, 3*j+3, 1)) - 1 AS fp
        |  FROM ex CROSS JOIN (VALUES (0), (1), (2)) AS t(j)
        |  WHERE doc_id < 25
        |), cp AS (
        |  SELECT doc_id,
        |    ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(h, 3, 1)) - 1 AS p0,
        |    ((strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(h, 6, 1)) - 1 AS p1,
        |    ((strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(h, 8, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(h, 9, 1)) - 1 AS p2
        |  FROM ex WHERE doc_id >= 25
        |), pr AS (
        |  SELECT doc_id,
        |    (p0 IN (SELECT fp FROM bp) AND p1 IN (SELECT fp FROM bp)
        |      AND p2 IN (SELECT fp FROM bp)) AS in_filter
        |  FROM cp
        |), g AS (
        |  SELECT doc_id, count(*) AS n_shingles,
        |    CAST(sum(CASE WHEN in_filter THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        |  FROM pr GROUP BY doc_id
        |)
        |SELECT doc_id, n_shingles, n_hits,
        |  round(n_hits * 1.0 / n_shingles, 4) + 0 AS hit_frac,
        |  n_hits * 1.0 / n_shingles >= 0.5 AS flagged
        |FROM g ORDER BY doc_id""".stripMargin,
    // d16: d07's shingle CTEs + per-bench sizes; the UNROUNDED
    // fraction feeds the threshold in both engines
    "d16_fuzzy_contamination" ->
      """WITH norm AS (
        |  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents
        |), words AS (
        |  SELECT doc_id, string_split(t, ' ') AS w FROM norm
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w)-1, 1)),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
        |  FROM words
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0
        |), szs AS (
        |  SELECT doc_id, len(shingles) AS nb FROM sh WHERE len(shingles) > 0
        |), p AS (
        |  SELECT b.doc_id AS bench_id, c.doc_id AS corpus_id, count(*) AS shared
        |  FROM ex b JOIN ex c ON b.s = c.s
        |  WHERE b.doc_id < 25 AND c.doc_id >= 25
        |  GROUP BY 1, 2
        |)
        |SELECT p.bench_id, p.corpus_id, CAST(p.shared AS BIGINT) AS shared,
        |  round(CAST(p.shared AS DOUBLE) / s.nb, 4) + 0 AS containment
        |FROM p JOIN szs s ON p.bench_id = s.doc_id
        |WHERE CAST(p.shared AS DOUBLE) / s.nb >= 0.1
        |ORDER BY bench_id, corpus_id""".stripMargin,
    "d07_contamination" ->
      """WITH norm AS (
        |  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents
        |), words AS (
        |  SELECT doc_id, string_split(t, ' ') AS w FROM norm
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w)-1, 1)),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
        |  FROM words
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0
        |)
        |SELECT b.doc_id AS bench_id, c.doc_id AS corpus_id,
        |  count(*) AS shared_ngrams
        |FROM ex b JOIN ex c ON b.s = c.s
        |WHERE b.doc_id < 25 AND c.doc_id >= 25
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY bench_id, corpus_id""".stripMargin,
    "d02_dedup_ngram" ->
      (corpusSql + sourceShingleCtesSql +
        """, pairs AS (
          |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common,
          |    any_value(a.ns) AS na, any_value(b.ns) AS nb
          |  FROM ex a JOIN ex b ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2
          |)
          |SELECT id1, id2, round(common * 1.0 / (na + nb - common), 4) AS jaccard
          |FROM pairs WHERE common * 1.0 / (na + nb - common) >= 0.5
          |ORDER BY id1, id2""".stripMargin),
    // d19: d02's blocked pair chain at the τ=0.1 floor; the 4-dp
    // Jaccard quantizes to round(j·1e4) and bins by integer division
    "d19_jaccard_hist" ->
      (corpusSql + sourceShingleCtesSql +
        """, pairs AS (
          |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common,
          |    any_value(a.ns) AS na, any_value(b.ns) AS nb
          |  FROM ex a JOIN ex b ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2
          |), j AS (
          |  SELECT round(common * 1.0 / (na + nb - common), 4) AS j4
          |  FROM pairs WHERE common * 1.0 / (na + nb - common) >= 0.1
          |), h AS (
          |  SELECT CAST(round(j4 * 10000.0) AS BIGINT) // 500 AS bin
          |  FROM j
          |)
          |SELECT bin, round(bin * 0.05, 4) + 0 AS jac_lo,
          |  CAST(count(*) AS BIGINT) AS n_pairs
          |FROM h GROUP BY bin ORDER BY bin""".stripMargin),
    // d20: d19's pair chain + the multiplication-only repeated
    // squaring of the S-curve — operand order mirrored exactly
    "d20_lsh_calibration" ->
      (corpusSql + sourceShingleCtesSql +
        """, pairs AS (
          |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common,
          |    any_value(a.ns) AS na, any_value(b.ns) AS nb
          |  FROM ex a JOIN ex b ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2
          |), j AS (
          |  SELECT round(common * 1.0 / (na + nb - common), 4) AS j4dp
          |  FROM pairs WHERE common * 1.0 / (na + nb - common) >= 0.1
          |), g AS (
          |  SELECT CAST(round(j4dp * 10000.0) AS BIGINT) AS m FROM j
          |), q1 AS (SELECT m, m / 10000.0 AS jj FROM g
          |), q2 AS (SELECT m, jj * jj AS j2 FROM q1
          |), q3 AS (SELECT m, j2 * j2 AS jf FROM q2
          |), q4 AS (SELECT m, 1.0 - jf AS t1 FROM q3
          |), q5 AS (SELECT m, t1 * t1 AS t2 FROM q4
          |), q6 AS (SELECT m, t2 * t2 AS t4 FROM q5
          |), q7 AS (SELECT m, t4 * t4 AS t8 FROM q6
          |), q8 AS (SELECT m, t8 * t8 AS t16 FROM q7
          |), q9 AS (SELECT m, t16 * t16 AS t32 FROM q8
          |), pr AS (SELECT m // 500 AS bin, 1.0 - t32 AS p FROM q9)
          |SELECT bin, round(bin * 0.05, 4) + 0 AS jac_lo,
          |  CAST(count(*) AS BIGINT) AS n_pairs,
          |  round(sum(p), 4) + 0 AS expected_caught,
          |  round(sum(p) / count(*), 4) + 0 AS catch_frac
          |FROM pr GROUP BY bin ORDER BY bin""".stripMargin),
    "d11_containment" ->
      (corpusSql + sourceShingleCtesSql +
        """, pairs AS (
          |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common,
          |    any_value(a.ns) AS na
          |  FROM ex a JOIN ex b ON a.s = b.s AND a.source = b.source AND a.doc_id <> b.doc_id
          |  GROUP BY 1, 2
          |)
          |SELECT id1, id2, round(common * 1.0 / na, 4) AS containment
          |FROM pairs WHERE round(common * 1.0 / na, 4) >= 0.8
          |ORDER BY id1, id2""".stripMargin),
    // d03's banding (32×4) provably-empirically recalls every τ≥0.5
    // pair in this corpus (verified against the exact global set), and
    // MinHash is deterministic given the fixed permutations — so the
    // oracle is simply the exact global Jaccard pair set.
    "d03_dedup_minhash" ->
      (corpusSql + globalPairsSqlBody +
        """
          |SELECT id1, id2, round(common * 1.0 / (na + nb - common), 4) AS jaccard
          |FROM pairs WHERE common * 1.0 / (na + nb - common) >= 0.5
          |ORDER BY id1, id2""".stripMargin),
    // d18: cross-set pairs are the global exact pair set restricted to
    // (old, new); best match per new doc on the 4-dp jaccard grid with
    // min-old-id ties — both engines window on the identical rounded key
    "d18_incremental_dedup" ->
      (corpusSql + globalPairsSqlBody +
        """, cand AS (
          |  SELECT id1, id2, round(common * 1.0 / (na + nb - common), 4) AS jaccard
          |  FROM pairs
          |  WHERE id1 < 100000 AND id2 >= 100000
          |    AND common * 1.0 / (na + nb - common) >= 0.5
          |), best AS (
          |  SELECT id2 AS doc_id, id1 AS dup_of, jaccard,
          |    row_number() OVER (PARTITION BY id2
          |      ORDER BY jaccard DESC, id1 ASC) AS rn
          |  FROM cand
          |), nw AS (
          |  SELECT doc_id FROM corpus WHERE doc_id >= 100000
          |)
          |SELECT n.doc_id, b.dup_of, b.jaccard, b.dup_of IS NULL AS keep
          |FROM nw n LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
          |  ON n.doc_id = b.doc_id
          |ORDER BY n.doc_id""".stripMargin),
    // d17: the d06 recursive components over the d03 exact pair set,
    // left-joined back onto the FULL corpus (singletons keep
    // themselves), keeper = cluster min id
    // c11: the d17 keep chain as CTEs, survivors (doc_id = cluster)
    // feeding c08's token-count + temperature-weight arithmetic
    "c11_dedup_mixture" ->
      (corpusSql.replace("WITH corpus", "WITH RECURSIVE corpus") + globalPairsSqlBody +
        """, jp AS (
          |  SELECT id1, id2 FROM pairs WHERE common * 1.0 / (na + nb - common) >= 0.5
          |), edges AS (
          |  SELECT id1, id2 FROM jp UNION ALL SELECT id2, id1 FROM jp
          |), reach(src, node) AS (
          |  SELECT id1, id1 FROM edges
          |  UNION
          |  SELECT r.src, e.id2 FROM reach r JOIN edges e ON r.node = e.id1
          |), comp AS (
          |  SELECT src AS id, min(node) AS component FROM reach GROUP BY src
          |), lab AS (
          |  SELECT c.doc_id, coalesce(m.component, c.doc_id) AS cluster
          |  FROM corpus c LEFT JOIN comp m ON c.doc_id = m.id
          |), kept AS (
          |  SELECT c.doc_id, c.source, c.text
          |  FROM corpus c JOIN lab l ON c.doc_id = l.doc_id
          |  WHERE l.doc_id = l.cluster
          |), t AS (
          |  SELECT source,
          |    CAST(len(list_filter(string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' '),
          |      w -> length(w) > 0)) AS BIGINT) AS n_tokens
          |  FROM kept
          |), per AS (
          |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
          |    CAST(round(sqrt(CAST(sum(n_tokens) AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_micro
          |  FROM t GROUP BY source
          |)
          |SELECT source, n_docs, n_tokens,
          |  round(w_micro * 1.0 / (SELECT sum(w_micro) FROM per), 6) + 0 AS weight
          |FROM per ORDER BY source""".stripMargin),
    // c15: the d17 keep chain + t19's gopher rule body (verbatim —
    // same rounded intermediates, same coalesce-anchored AND) + c08's
    // token count, collapsed to the per-source funnel
    "c15_pipeline_report" -> {
      val wsArr = """string_split_regex(trim(text), '\s+')"""
      val nonwsSql = """length(regexp_replace(text, '\s', '', 'g'))"""
      val rl = graft.operators.TextOps.relinedSql(12)
      val stopSql = graft.operators.TextOps.gopherStops.map(w =>
        s"(CASE WHEN ${graft.operators.TextOps.occSql("p", s" $w ")} > 0 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      corpusSql.replace("WITH corpus", "WITH RECURSIVE corpus") + globalPairsSqlBody +
        s""", jp AS (
           |  SELECT id1, id2 FROM pairs WHERE common * 1.0 / (na + nb - common) >= 0.5
           |), edges AS (
           |  SELECT id1, id2 FROM jp UNION ALL SELECT id2, id1 FROM jp
           |), reach(src, node) AS (
           |  SELECT id1, id1 FROM edges
           |  UNION
           |  SELECT r.src, e.id2 FROM reach r JOIN edges e ON r.node = e.id1
           |), comp AS (
           |  SELECT src AS id, min(node) AS component FROM reach GROUP BY src
           |), kf AS (
           |  SELECT c.doc_id, c.source, c.text,
           |    c.doc_id = coalesce(m.component, c.doc_id) AS keep,
           |    ${graft.operators.TextOps.paddedSql} AS p
           |  FROM corpus c LEFT JOIN comp m ON c.doc_id = m.id
           |), f AS (
           |  SELECT doc_id, source, keep,
           |    CASE WHEN trim(text) = '' THEN 0.0
           |      ELSE len($wsArr) * 1.0 END AS nw,
           |    $nonwsSql * 1.0 AS nonws,
           |    ${graft.operators.TextOps.occSql("text", "#")}
           |      + ${graft.operators.TextOps.occSql("text", "...")} AS sym,
           |    CASE WHEN trim(text) = '' THEN 0.0
           |      ELSE len(list_filter($wsArr,
           |        w -> regexp_matches(w, '[A-Za-z]'))) * 1.0 END AS alphaw,
           |    len(str_split($rl, chr(10))) * 1.0 AS nlines,
           |    len(list_filter(str_split($rl, chr(10)),
           |      l -> regexp_matches(trim(l), '^[-*] '))) * 1.0 AS bulletl,
           |    len(list_filter(str_split($rl, chr(10)),
           |      l -> right(trim(l), 3) = '...')) * 1.0 AS ellipl,
           |    $stopSql AS stop_hits,
           |    CAST(len(list_filter(string_split(
           |      lower(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
           |      w -> length(w) > 0)) AS BIGINT) AS n_tokens
           |  FROM kf
           |), g AS (
           |  SELECT doc_id, source, keep, n_tokens,
           |    (nw >= 50 AND nw <= 100000
           |      AND (CASE WHEN nw > 0 THEN round(nonws / nw, 4) + 0 END) >= 3
           |      AND (CASE WHEN nw > 0 THEN round(nonws / nw, 4) + 0 END) <= 10
           |      AND (CASE WHEN nw > 0 THEN round(sym / nw, 4) + 0 END) < 0.1
           |      AND round(bulletl / nlines, 4) + 0 < 0.9
           |      AND round(ellipl / nlines, 4) + 0 < 0.3
           |      AND (CASE WHEN nw > 0 THEN round(alphaw / nw, 4) + 0 END) > 0.8
           |      AND stop_hits >= 2) AS q_keep
           |  FROM f
           |)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup,
           |  CAST(sum(CASE WHEN keep AND q_keep THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_after_quality,
           |  CAST(sum(CASE WHEN keep AND q_keep THEN n_tokens ELSE 0 END) AS BIGINT)
           |    AS n_tokens_final
           |FROM g GROUP BY source ORDER BY source""".stripMargin
    },
    // c14: the d17 keep chain, side = modular arithmetic on the
    // cluster id (same integer ops, no FP anywhere)
    "c14_leakage_split" ->
      (corpusSql.replace("WITH corpus", "WITH RECURSIVE corpus") + globalPairsSqlBody +
        """, jp AS (
          |  SELECT id1, id2 FROM pairs WHERE common * 1.0 / (na + nb - common) >= 0.5
          |), edges AS (
          |  SELECT id1, id2 FROM jp UNION ALL SELECT id2, id1 FROM jp
          |), reach(src, node) AS (
          |  SELECT id1, id1 FROM edges
          |  UNION
          |  SELECT r.src, e.id2 FROM reach r JOIN edges e ON r.node = e.id1
          |), comp AS (
          |  SELECT src AS id, min(node) AS component FROM reach GROUP BY src
          |), lab AS (
          |  SELECT c.doc_id, coalesce(m.component, c.doc_id) AS cluster
          |  FROM corpus c LEFT JOIN comp m ON c.doc_id = m.id
          |), sz AS (
          |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_cluster
          |  FROM lab GROUP BY cluster
          |)
          |SELECT l.doc_id, l.cluster, s.n_cluster,
          |  CASE WHEN (l.cluster * 2654435761) % 1000000007 % 10 < 8
          |    THEN 'train' ELSE 'test' END AS split
          |FROM lab l JOIN sz s ON l.cluster = s.cluster
          |ORDER BY l.doc_id""".stripMargin),
    "d17_dedup_keep" ->
      (corpusSql.replace("WITH corpus", "WITH RECURSIVE corpus") + globalPairsSqlBody +
        """, jp AS (
          |  SELECT id1, id2 FROM pairs WHERE common * 1.0 / (na + nb - common) >= 0.5
          |), edges AS (
          |  SELECT id1, id2 FROM jp UNION ALL SELECT id2, id1 FROM jp
          |), reach(src, node) AS (
          |  SELECT id1, id1 FROM edges
          |  UNION
          |  SELECT r.src, e.id2 FROM reach r JOIN edges e ON r.node = e.id1
          |), comp AS (
          |  SELECT src AS id, min(node) AS component FROM reach GROUP BY src
          |), lab AS (
          |  SELECT c.doc_id, coalesce(m.component, c.doc_id) AS cluster
          |  FROM corpus c LEFT JOIN comp m ON c.doc_id = m.id
          |), sz AS (
          |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_cluster
          |  FROM lab GROUP BY cluster
          |)
          |SELECT l.doc_id, l.cluster, s.n_cluster,
          |  l.doc_id = l.cluster AS keep
          |FROM lab l JOIN sz s ON l.cluster = s.cluster
          |ORDER BY l.doc_id""".stripMargin),
    // components of the same (deterministically recalled) pair set:
    // min-reachable-node via a recursive CTE
    "d06_dedup_components" ->
      (corpusSql.replace("WITH corpus", "WITH RECURSIVE corpus") + globalPairsSqlBody +
        """, jp AS (
          |  SELECT id1, id2 FROM pairs WHERE common * 1.0 / (na + nb - common) >= 0.5
          |), edges AS (
          |  SELECT id1, id2 FROM jp UNION ALL SELECT id2, id1 FROM jp
          |), reach(src, node) AS (
          |  SELECT id1, id1 FROM edges
          |  UNION
          |  SELECT r.src, e.id2 FROM reach r JOIN edges e ON r.node = e.id1
          |)
          |SELECT src AS id, min(node) AS component
          |FROM reach GROUP BY src ORDER BY id""".stripMargin),
    "d05_dedup_embedding" ->
      (embCorpusSql +
        """
          |SELECT a.vec_id AS id1, b.vec_id AS id2, a.label,
          |  round(list_cosine_similarity(a.e, b.e), 4) AS cos
          |FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
          |WHERE list_cosine_similarity(a.e, b.e) >= 0.35
          |ORDER BY id1, id2""".stripMargin),
    // the bucketed path must find the SAME pair set as the all-pairs
    // oracle at this radius: exact twins collide in every band (θ = 0)
    // and the natural-cosine ceiling (≤ 0.51) sits far below τ = 0.85
    "d05b_dedup_embedding_lsh" ->
      (embCorpusSql +
        """
          |SELECT a.vec_id AS id1, b.vec_id AS id2, a.label,
          |  round(list_cosine_similarity(a.e, b.e), 4) AS cos
          |FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
          |WHERE list_cosine_similarity(a.e, b.e) >= 0.85
          |ORDER BY id1, id2""".stripMargin),
  )
}
