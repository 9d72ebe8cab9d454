package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Deduplication suite for a training-data pipeline (builder prompt):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
  * near-dup — the five standard text/embedding dedup levels.
  *
  * Scale shapes:
  *  - exact: one hash shuffle on the dedup key (groupBy/window).
  *  - MinHash+LSH: narrow per-row signature (codegen'd HOFs, no UDF) →
  *    explode to (band, hash) → equi-join inside buckets. Candidate count
  *    is O(near-dups), never O(N²).
  *  - SimHash: compiled 60-bit fingerprint → 4 permuted 15-bit block
  *    tables (2^15 buckets each; pigeonhole-exact for hamming ≤ 3) →
  *    intra-bucket hamming filter (bit_count(xor)).
  *  - n-gram Jaccard: bucketed (by source) pairwise exact Jaccard — the
  *    verification stage LSH candidates feed at scale.
  *  - cosine: brute-force O(N²) baseline vs hyperplane-LSH candidates
  *    (6 tables × 3 planes, OR-amplified ≈ 0.8 recall at cos 0.4) +
  *    exact re-check — the standard recall/cost trade, both shapes kept
  *    (the reference keeps approx+exact variants the same way,
  *    `rclip_server.py:320-328`).
  *
  * Every constant (hash seeds, permutation coefficients, hyperplanes) is
  * generated once here and embedded as literals into BOTH the Spark plan
  * and the DuckDB oracle, so the two engines evaluate identical integer
  * arithmetic.
  */
object DedupQueries {

  type Q = (SparkSession, String) => DataFrame

  private val P = 1000000007L
  private val NUM_PERM = 16 // MinHash signature length
  private val BAND_ROWS = 4 // → 4 bands × 4 rows

  /** Frequency caps (VERDICT r02 #2) — the LSH-skew guard. A hot band
    * bucket (d02) or a stopword-gram posting list (d04) pairs O(size²);
    * one ubiquitous feature at 100 TB makes the self-join quadratic in
    * CORPUS size, and AQE cannot save a quadratic pair count. Dropping
    * features with document frequency above the cap bounds candidate
    * generation at O(N · CAP) pairs. Ubiquitous features carry no
    * near-dup signal: measured at sf0.1, every one of the 4992/4992 true
    * mutated-copy pairs survives BUCKET_CAP=50 — the capped pairs are
    * incidental hot-bucket noise. GRAM_DF_CAP=100 never fires below
    * ~100×(tested sf) (max per-source gram df at sf0.1 is 6) — it exists
    * purely to bound the stopword-gram blow-up at scale. Both caps are
    * mirrored verbatim in the DuckDB oracles. */
  private val BUCKET_CAP = 50
  private[ops] val GRAM_DF_CAP = 100

  /** Seeded (a,b) pairs for the K MinHash permutations h(x)=(a·x+b) mod P. */
  private val perms: Seq[(Long, Long)] = {
    val rnd = new java.util.Random(7)
    Seq.fill(NUM_PERM)((1L + rnd.nextInt((P - 1).toInt).toLong,
      rnd.nextInt(P.toInt).toLong))
  }

  // d06 draws its tiered plane prefixes from Lsh.planesMax; the fixed
  // 3-bit Lsh.planes family remains the n02 query-probe surface.

  // ------------------------------------------------------------------
  // shared SQL fragments (spark dialect / duckdb dialect)
  // ------------------------------------------------------------------

  /** 5-char shingle hashes of `text` (polynomial mod P), duckdb dialect
    * (the Spark side computes the identical arithmetic inside the
    * signature UDF in d02). */
  private val shingleHashesDuck: String = {
    val pows = (0 to 4).map(k => math.pow(31, k).toLong).reverse
    val poly = (1 to 5).zip(pows)
      .map { case (j, pw) => s"unicode(substr(text, i + ${j - 1}, 1))::BIGINT * $pw" }
      .mkString(" + ")
    s"list_transform(range(1, length(text) - 3), i -> ($poly) % $P)"
  }

  /** MinHash signature as an array of NUM_PERM mins (duckdb dialect). */
  private def sigExprDuck(hs: String): String =
    perms.map { case (a, b) =>
      s"list_min(list_transform($hs, h -> ($a * h + $b) % $P))"
    }.mkString("[", ", ", "]")

  /** Band hashes from a signature column `sig`. `at` renders a 1-based
    * array access per dialect (Spark `element_at`, DuckDB `[i]`). 4 rows
    * folded polynomially — no mod needed (< 2^63). */
  private def bandExprs(sig: String, at: (String, Int) => String): Seq[String] =
    (0 until NUM_PERM / BAND_ROWS).map { b =>
      (1 to BAND_ROWS).map(r => at(sig, b * BAND_ROWS + r))
        .reduce((acc, x) => s"($acc * 31 + $x)")
    }
  private val atSpark: (String, Int) => String = (s, i) => s"element_at($s, $i)"
  private val atDuck: (String, Int) => String = (s, i) => s"$s[$i]"

  /** Estimated Jaccard: fraction of equal signature components. */
  // the 16.0D suffix matters: a bare 16.0 literal is DECIMAL in Spark SQL
  private val estJacSpark =
    s"round(size(filter(zip_with(sa, sb, (x, y) -> x = y), z -> z)) / ${NUM_PERM}.0D, 4)"
  private[ops] val estJacDuck =
    s"round(len(list_filter(range(1, $NUM_PERM + 1), i -> sa[i] = sb[i])) / ${NUM_PERM}.0, 4)"

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  /** d01: exact dedup — hash-groupBy on the content key, keep MIN(id).
    * Duplicates are constructed (shifted-id copies) so the operator has
    * real work at every sf. */
  /** Id shift for the planted duplicate copies in d01/d02: max(doc_id)
    * + 1, derived from the corpus (one bounded driver scalar; the
    * oracles compute the identical value as a scalar subquery). A
    * CONSTANT shift is a latent corpus-size bug: the 30x stress corpus
    * (150,000 docs) collided real shard ids with +100000 copy ids and
    * the two engines diverged on the scrambled fixture. */
  private[ops] def copyShift(s: SparkSession, d: String): Long =
    Tables.documents(s, d).agg(max(col("doc_id"))).head().getLong(0) + 1

  val d01_exact_dedup: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val doubled = docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + lit(copyShift(s, d))))
    val w = Window.partitionBy(col("text")).orderBy(col("doc_id").asc)
    doubled.withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** The (doc_a, doc_b) id-pair ARTIFACT of [[d02_minhash_lsh]], memoized
    * per (session, dir) via [[graft.engine.ArtifactCache]]: the pair set is
    * the expensive product of the whole MinHash pipeline, and every
    * downstream audit (c02/c06 cluster resolution, c09 spectrum, p11
    * leakage) consumes exactly these two columns. First consumer builds;
    * the rest read materialized rows — the in-session form of "persist the
    * pair table once per crawl". */
  private[graft] def d02Pairs(s: SparkSession, d: String): DataFrame =
    graft.engine.ArtifactCache.memoize(s, d, "d02_pairs") {
      // est_jaccard rides along (8 B/row on a thin pair table): it is
      // computed by the pipeline anyway, and c13's ROI sweep consumes it
      // — without it c13 re-ran the WHOLE MinHash pipeline per audit.
      // Every other consumer selects (doc_a, doc_b) explicitly.
      d02_minhash_lsh(s, d)
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    }

  /** The (id_a, id_b) pair artifact of [[d06_cosine_lsh]] — same contract
    * as [[d02Pairs]] for the embedding-space pair set (consumers: c07
    * semantic dedup, d10 recall audit). */
  private[graft] def d06Pairs(s: SparkSession, d: String): DataFrame =
    graft.engine.ArtifactCache.memoize(s, d, "d06_pairs") {
      d06_cosine_lsh(s, d).select(col("id_a"), col("id_b"))
    }

  /** Word-3-gram SET table artifact — (doc_id, n, g ARRAY) rows over
    * [[d02Corpus]], shared by the set-similarity join family
    * ([[d15_prefix_join]], [[d16_containment_join]]): in a production
    * pipeline the tokenized gram sets of a crawl are computed ONCE and
    * every similarity/containment job reads them — both the posting
    * explode (candidate generation) and the per-pair set intersection
    * (verification) derive from this one table, so the corpus is never
    * re-tokenized. DISK-persisted ([[graft.engine.ArtifactCache
    * .memoizeDisk]], VERDICT r07 wrong-#3): a RAM-memo eviction used to
    * put the whole gram-set rebuild inside d15's measurement (the 12×
    * host-state swing); now consumers read the columnar artifact back at
    * parquet-scan cost in any JVM. Bench still times the build as its
    * own `artifact_ppj_sets` entry (it clears the disk store first) so
    * consumers are honestly measured against a warm table. */
  private[graft] def ppjSets(s: SparkSession, d: String): DataFrame =
    graft.engine.ArtifactCache.memoizeDisk(s, d, "ppj_sets") {
      d02Corpus(s, d)
        .select(col("doc_id"), gramUdf(col("text")).as("g"))
        .selectExpr("doc_id", "CAST(size(g) AS INT) AS n", "g")
        .filter(col("n") > 0)
    }

  /** d02: MinHash + banded LSH near-dup detection. Corpus = originals ∪
    * mutated copies (a tail edit ⇒ shingle-Jaccard ≈ 0.9). Pipeline:
    * signature (16 perms over 5-char shingle hashes) → 4-row band hashes
    * → explode → bucket equi-join → est-Jaccard ≥ 0.5 filter. */
  /** Signature in ONE compiled pass (shingle hash + 16 permutation mins
    * per character position) — the interpreted-HOF equivalent
    * (transform × array_min × 16) costs ~64M lambda evals at sf0.1
    * (measured 11s → ~1s). Arithmetic is identical (Horner == the
    * polynomial sum; single mod after the 5-char fold), so the DuckDB
    * oracle is unchanged. Shared by d02 and d13's calibration audit. */
  private val sigUdf = {
    val as = perms.map(_._1).toArray
    val bs = perms.map(_._2).toArray
    udf { (text: String) =>
      // code points, not UTF-16 units: the oracle's unicode(substr(...))
      // counts/reads code points, so charAt would diverge on astral text
      val cps = if (text == null) null else text.codePoints().toArray
      if (cps == null || cps.length < 5) null
      else {
        val mins = Array.fill(NUM_PERM)(Long.MaxValue)
        var i = 0
        val end = cps.length - 4
        while (i < end) {
          var h = 0L
          var j = 0
          while (j < 5) { h = h * 31 + cps(i + j); j += 1 }
          h %= P
          var k = 0
          while (k < NUM_PERM) {
            val v = (as(k) * h + bs(k)) % P
            if (v < mins(k)) mins(k) = v
            k += 1
          }
          i += 1
        }
        mins
      }
    }
  }

  /** The DISTINCT 5-char shingle hash set of a document (same Horner
    * fold as [[sigUdf]]) — d13's exact-Jaccard ground truth side. */
  private val shingleSetUdf = udf { (text: String) =>
    val cps = if (text == null) null else text.codePoints().toArray
    if (cps == null || cps.length < 5) Array.empty[Long]
    else {
      val set = new java.util.HashSet[Long]()
      var i = 0
      val end = cps.length - 4
      while (i < end) {
        var h = 0L
        var j = 0
        while (j < 5) { h = h * 31 + cps(i + j); j += 1 }
        set.add(h % P)
        i += 1
      }
      val out = new Array[Long](set.size)
      val it = set.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      out
    }
  }

  /** The d02 corpus (docs + planted near-dup copies) — ONE definition
    * for d02 and d13. */
  private[ops] def d02Corpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    base.unionByName(
      base.withColumn("doc_id", col("doc_id") + lit(copyShift(s, d)))
        .withColumn("text", concat(col("text"), lit(" mutated tail"))))
  }

  val d02_minhash_lsh: Q = (s, d) => {
    val corpus = d02Corpus(s, d)
    val sigs = corpus
      .select(col("doc_id"), sigUdf(col("text")).as("sig"))
      .cache()
    sigs.count() // materialize before the self-join (no build race)
    // the candidate join carries ONLY (band, bh, doc_id) — at 100 TB the
    // 128-byte signature must not ride the shuffle 4× (once per band);
    // signatures re-join by id AFTER the pair set is deduped, when the
    // row count is O(near-dups), not O(candidate occurrences)
    val bands = sigs.selectExpr("doc_id",
      bandExprs("sig", atSpark).zipWithIndex
        .map { case (e, i) => s"struct($i AS band, $e AS bh)" }
        .mkString("array(", ", ", ") AS bandArr"))
      .selectExpr("doc_id", "explode(bandArr) AS b")
      .select(col("doc_id"), col("b.band"), col("b.bh"))
    // bucket-size cap, as hot-set anti-join: aggregate the buckets over
    // the cap (a tiny table — only duplicate-cluster buckets exceed 50)
    // and anti-join them away. Keeps the pair count ≤ N·BUCKET_CAP
    // instead of O(hottest-bucket²), and costs one partial-agg pass +
    // an (AQE-broadcast) anti-join — no window sort of the full band
    // table. Cached so the pass runs once, not once per self-join side.
    val hotBuckets = bands.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > BUCKET_CAP)
      .select(col("band"), col("bh"))
    val capped = bands
      .join(hotBuckets, Seq("band", "bh"), "left_anti")
      .cache()
    capped.count() // materialize before the self-join (no build race)
    val cand = capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val pairs = cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
    pairs.selectExpr("doc_a", "doc_b", s"$estJacSpark AS est_jaccard")
      .filter(col("est_jaccard") >= 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Seeded (A,B) rescrambling constants for the 4 simhash blocks:
    * h_s(p) = (A_s·p + B_s) mod P. Literals shared with the oracle. */
  private val SIM_A = Array(1103515245L, 1299709L, 15485863L, 32452843L)
  private val SIM_B = Array(12345L, 67890L, 54321L, 98765L)

  /** d03: SimHash near-dup — 60-bit fingerprint (4 blocks × 15 bits; bit
    * b of block s votes with bit b of the seed-s rescrambled token hash),
    * block-table LSH join, exact hamming ≤ 3 via bit_count(xor).
    *
    * Scale design (VERDICT r01 #2): the fingerprint is ONE compiled UDF
    * pass (the interpreted 16-lambda `aggregate` HOF cost 39 s at sf0.1),
    * materialized before the self-join; candidates come from 4 permuted
    * block tables of 2^15 buckets each — not the old single 8-bit prefix
    * (256 buckets, an O(bucket²) ceiling). Pigeonhole makes the candidate
    * set EXACT, not approximate: hamming ≤ 3 across 4 blocks forces at
    * least one block to match. 60 bits, not 64, so every shift/sum stays
    * inside a signed BIGINT on both engines (DuckDB raises on int64
    * overflow rather than wrapping). */
  val d03_simhash: Q = (s, d) => {
    val as = SIM_A; val bs = SIM_B
    val simUdf = udf { (text: String) =>
      val counts = new Array[Int](60)
      if (text != null) {
        val ws = text.split(" ", -1)
        var wi = 0
        while (wi < ws.length) {
          val w = ws(wi)
          // 4-char rpad('_') Horner base 31 == the oracle's unicode()
          // polynomial over CODE POINTS (rpad dodges the engines'
          // divergent empty-string codepoints: Spark ascii('')=0,
          // DuckDB -1)
          val wc = w.codePoints().toArray
          var p = 0L
          var j = 0
          while (j < 4) {
            p = p * 31 + (if (j < wc.length) wc(j) else '_'.toInt)
            j += 1
          }
          p %= P
          var si = 0
          while (si < 4) {
            val h = (as(si) * p + bs(si)) % P
            var b = 0
            while (b < 15) {
              if (((h >> b) & 1L) == 1L) counts(15 * si + b) += 1
              else counts(15 * si + b) -= 1
              b += 1
            }
            si += 1
          }
          wi += 1
        }
      }
      var f = 0L
      var i = 0
      while (i < 60) { if (counts(i) > 0) f |= (1L << i); i += 1 }
      f
    }
    val sims = Tables.documents(s, d)
      .select(col("doc_id"), simUdf(col("text")).as("simhash"))
    val blockStructs = (0 until 4).map { t =>
      struct(lit(t).as("tbl"),
        expr(s"shiftright(simhash, ${15 * t}) & 32767").as("bucket"))
    }
    val blocked = sims
      .withColumn("tb", explode(array(blockStructs: _*)))
      .select(col("doc_id"), col("simhash"), col("tb.tbl"), col("tb.bucket"))
      .cache()
    blocked.count() // materialize BEFORE the self-join: without this both
    // join sides race to build the cache and recompute the fingerprints
    // (the BENCH_r01 "Block rdd already exists" failure mode)
    blocked.as("x").join(blocked.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .selectExpr("x.doc_id AS doc_a", "y.doc_id AS doc_b",
        "CAST(bit_count(x.simhash ^ y.simhash) AS INT) AS hamming")
      .distinct() // a pair can share several blocks
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d04: exact n-gram Jaccard inside buckets (by source) — the
    * verification stage for LSH candidates, bucketed so the pair count
    * stays O(bucket²) not O(N²). Word-3-gram sets; inclusion-exclusion
    * union size. */
  /** Distinct word-3-grams in ONE compiled pass (first-occurrence order,
    * matching array_distinct / DuckDB list_distinct semantics). The
    * interpreted transform/concat lambda chain this replaced — recomputed
    * on BOTH sides of d04's self-join by the unmaterialized-cache race —
    * was 403 s of the 474 s BENCH_r01 total (VERDICT r01 #1). Shared by
    * d04 (near-dup Jaccard) and d07 (train/eval decontamination). */
  private[ops] val gramUdf = udf { (text: String) =>
    if (text == null) Array.empty[String]
    else {
      val ws = text.split(" ", -1) // -1: keep trailing empties, like Spark split / DuckDB string_split
      if (ws.length < 3) Array.empty[String]
      else {
        val seen = new java.util.LinkedHashSet[String]
        var i = 0
        while (i + 2 < ws.length) {
          seen.add(ws(i) + "_" + ws(i + 1) + "_" + ws(i + 2))
          i += 1
        }
        seen.toArray(new Array[String](seen.size))
      }
    }
  }

  /** The same distinct word-3-gram list, DuckDB dialect. */
  private[ops] def gramListDuck: String =
    """list_distinct(list_transform(
      |      range(1, len(string_split(text, ' ')) - 1),
      |      i -> string_split(text, ' ')[i] || '_' ||
      |           string_split(text, ' ')[i + 1] || '_' ||
      |           string_split(text, ' ')[i + 2]))""".stripMargin

  val d04_ngram_jaccard: Q = (s, d) => {
    // INVERTED INDEX shape: explode distinct grams → gram-level equi-join
    // → pair count = |intersection| → inclusion-exclusion union. Every
    // step is a codegen hash join/agg; cost is O(Σ posting-list²), not
    // O(pairs × set-op). (This corpus's 31-word vocab makes posting lists
    // unusually dense — on real text the gap widens sharply.)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), gramUdf(col("text")).as("g"))
      .selectExpr("doc_id", "source", "size(g) AS n", "g")
    // posting-list df cap: drop grams appearing in > GRAM_DF_CAP docs of a
    // source BEFORE the self-join — bounds the join at O(N·CAP) pairs
    // instead of O(hottest-list²) (a stopword 3-gram's list is O(corpus)
    // at 100 TB). na/nb keep the UNCAPPED set sizes, so jaccard is
    // conservatively underestimated for capped pairs, never inflated.
    // Same hot-set anti-join shape as d02: the over-cap gram list is
    // tiny (stopword grams), so no window sort of the full index.
    val exploded = docs.selectExpr("doc_id", "source", "n", "explode(g) AS gram")
      .cache()
    exploded.count() // one gram-UDF pass; the df agg and both self-join
    // sides probe this cache (materialized first — no build race)
    val hotGrams = exploded.groupBy(col("source"), col("gram"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > GRAM_DF_CAP)
      .select(col("source"), col("gram"))
    // cached too (thin rows): otherwise the df-agg + anti-join subtree is
    // planned into BOTH self-join branches and relies on ReuseExchange
    val inv = exploded
      .join(hotGrams, Seq("source", "gram"), "left_anti")
      .cache()
    inv.count()
    inv.as("x").join(inv.as("y"),
        col("x.gram") === col("y.gram") &&
          col("x.source") === col("y.source") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      // integer half-up division: round(p/q, 4) is engine-divergent at
      // shortest-repr ties (SURVEY §7.4 float discipline)
      .selectExpr("doc_a", "doc_b",
        "((20000 * inter + (na + nb - inter)) div (2 * (na + nb - inter))) / 10000.0D AS jaccard")
      .filter(col("jaccard") >= 0.02)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d05: embedding-cosine near-dup, brute force — the exact O(N²)
    * baseline (broadcast nested-loop at small sf; the thing d06 exists to
    * avoid at scale). */
  /** Squared-cosine keep threshold for d11 (0.8² in ppb). */
  private val TFIDF_COS2_PPB = 640000000L

  /** d11's absolute posting-list cap. ABSOLUTE, not relative (an N/10
    * rule would admit df² = N²/100 pair work — quadratic again): terms
    * above it carry the least idf weight and the fattest posting lists,
    * so one constant bounds the candidate join at CAP·Σdf (linear in
    * corpus tokens) at every scale. Wider than d04's GRAM_DF_CAP
    * because unigrams are denser than 3-gram shingles. */
  private[ops] val TFIDF_DF_CAP = 300

  /** d11: TF-IDF SPARSE COSINE near-dup — lexical near-duplicate pairs
    * by cosine over tf·idf term vectors, the classic IR modality
    * between d04's set-overlap Jaccard (ignores term weight entirely)
    * and d05/d06's dense embeddings (need an encoder): rewordings that
    * share their RARE terms score high even when common words differ.
    * All-integer and exact end to end: idf is FixedLog centibits
    * (w = tf·(log2cb N − log2cb df), every w ≥ 0 so no sign surface),
    * norms/dots are BIGINT sums, and the ranking key is the v08
    * compare-squares rational cos²·10⁹ as DECIMAL(38)/HUGEINT — sqrt
    * never runs. Terms with df > [[TFIDF_DF_CAP]] are pruned (classic
    * stopword pruning; they carry the least idf weight AND the fattest
    * posting lists — one rule buys both precision and the join bound).
    *
    * Scale shape: d04's inverted-index discipline — the pair stream is
    * the term-keyed self-join of df-capped posting lists (Σ df² ≤
    * CAP·Σ df, linear in the corpus), partial dot products combine
    * map-side, and only (doc, doc) thin pairs shuffle. BIGINT bounds
    * hold to ~10⁴-token documents at 10¹¹ docs (w ≤ 4·10⁵, Σw² ≤
    * 2·10¹⁵); beyond that widen the partials to DECIMAL(38) — the
    * rational's HUGEINT half already is. */
  val d11_tfidf_cosine: Q = (s, d) => {
    val docTerm = Tables.documents(s, d)
      .selectExpr("doc_id", "explode(split(text, ' ')) AS term")
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .cache()
    val nDocs = Tables.documents(s, d).count() // bounded driver scalar
    val nCb = graft.ops.FixedLog.log2Cb(nDocs)
    val vocab = docTerm.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= TFIDF_DF_CAP)
    val w = docTerm.join(vocab, "term")
      .selectExpr("doc_id", "term",
        s"tf * (${nCb}L - ${graft.ops.FixedLog.sparkLog2Cb("df")}) AS w")
    val norms = w.groupBy(col("doc_id")).agg(sum(col("w") * col("w")).as("nrm"))
    val dots = w.as("a")
      .join(w.as("b").hint("SHUFFLE_HASH"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
    dots
      .join(norms.toDF("doc_a", "nrm_a").hint("SHUFFLE_HASH"), "doc_a")
      .join(norms.toDF("doc_b", "nrm_b").hint("SHUFFLE_HASH"), "doc_b")
      .selectExpr("doc_a", "doc_b",
        """CAST((CAST(dot AS DECIMAL(38,0)) * dot * 1000000000)
          |     div (CAST(nrm_a AS DECIMAL(38,0)) * nrm_b) AS BIGINT)
          |AS cos2_ppb""".stripMargin)
      .filter(col("cos2_ppb") >= TFIDF_COS2_PPB)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d10: LSH DEDUP RECALL AUDIT — d06's near-dup recall against the
    * d05 brute-force ground truth, broken out by cosine decile band
    * (n10's recall-monitoring loop, pointed at the DEDUP path): LSH
    * recall is worst exactly at the decision threshold, and the banded
    * view shows WHERE the misses live — a drop in the 0.9+ band means
    * real duplicates are escaping and the tiered bit ladder or table
    * count needs retuning. The band key is derived from the 4-dp
    * rounded cosine via integer arithmetic (round(cos·10⁴) div 10³), so
    * band boundaries are engine-exact.
    *
    * Scale shape: like d05 itself, the exact side is O(N²) and guarded
    * — at corpus scale this audit runs on a deterministic SAMPLE (p01's
    * hash sampler) exactly as n10 samples queries; the LSH side and the
    * band aggregation are the production shapes. */
  val d10_lsh_recall_audit: Q = (s, d) => {
    val exact = d05_cosine_brute(s, d)
    val found = d06Pairs(s, d)
      .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
    // the found-pair artifact is O(near-dups) and already materialized
    // (memoized), so counting it is a cheap scan; broadcasting it keeps
    // the O(N²/2) exact side from shuffling just to meet a thin pair table
    exact
      .join(Joins.small(found, found.count()), Seq("id_a", "id_b"), "left")
      .selectExpr(
        "CAST(round(cos * 10000.0D) AS BIGINT) div 1000 AS band",
        "coalesce(hit, 0L) AS hit")
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_exact"), sum(col("hit")).as("n_found"))
      .selectExpr("band", "n_exact", "n_found",
        "CAST(n_found * 1000 div n_exact AS BIGINT) AS recall_permille")
      .orderBy(col("band"))
  }

  val d05_cosine_brute: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // explicit scale guard (VERDICT r01 #10): this baseline is O(N²) BY
    // DESIGN and must never run at corpus scale — refuse loudly instead of
    // silently dominating a bench or a cluster. d06 (bucketed hyperplane
    // LSH) is the scale path for the same question.
    val n = emb.count()
    require(n <= 20000,
      s"d05_cosine_brute is the documented O(N^2) baseline ($n rows => " +
        s"~${n * n / 2} pairs); use d06_cosine_lsh at this scale")
    emb.as("x").join(emb.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
        round(graft.vec.VectorOps.cosineColsNative(col("x.embedding"), col("y.embedding")), 4)
          .as("cos"))
      .filter(col("cos") >= 0.4)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** d06: embedding-cosine near-dup via hyperplane LSH — 6 tables ×
    * CORPUS-SIZED sign bits; candidates = same (table, bucket); exact
    * cosine re-check. ≈80% recall of d05 at a fraction of the pairs —
    * the scale path. The bucket width applies [[graft.vec.Lsh
    * .bitsForCount]]'s integer ladder (smallest k with 250·2ᵏ ≥ n), so
    * mean bucket size stays ≤ 250 and the candidate join stays
    * O(n·bucket) instead of quadratic — the 10× stress gate measured
    * the fixed-3-bit version at 137× growth (1.5 s → 201 s) before
    * this; DedupStressSpec pins the rule at 20× corpus. More bits cost
    * per-bit recall (the OR-amplification trade): production buys it
    * back with more tables, the oracled demo documents it. */
  val d06_cosine_lsh: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // candidate join on (tbl, bucket, id) only: the 256-byte embedding
    // must not ride the shuffle once per LSH table — re-join embeddings
    // by id on the deduped pair set for the exact cosine re-check
    val embC = emb.cache()
    val n = embC.count() // shared by the bucketing pass and the two re-joins
    // the comment below the planes val was always the rule — now the
    // oracled query APPLIES it (found by the 10× stress gate: fixed
    // 3-bit buckets made the candidate join quadratic, 1.5 s → 201 s
    // at 10×): bucket width grows with the corpus so mean bucket size
    // stays ≤ 250 and the join stays O(n·bucket). Integer threshold
    // ladder, mirrored verbatim in the oracle's bitsel CTE.
    val bits = graft.vec.Lsh.bitsForCount(n)
    val bucketStructs = graft.vec.Lsh.tieredBucketStructs(col("embedding"), bits)
    val rawBucketed = embC
      .withColumn("tb", explode(array(bucketStructs: _*)))
      .select(col("vec_id"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
      .cache() // thin (id, tbl, bucket) rows; without this both join
    rawBucketed.count() // sides recompute the 18 plane dots per row
    // hot-bucket cap (VERDICT r04 #1): the ladder bounds the MEAN bucket,
    // but identical vectors collide at any bit width — census + anti-join
    // drops degenerate (tbl, bucket) groups before the self-join so the
    // candidate set stays O(n·cap), never O(hottest²). Oracle twin:
    // duckTieredCappedCtes' QUALIFY window.
    val bucketed = graft.vec.Lsh.capTieredBuckets(rawBucketed)
    // the node-sized sides go through Joins.small, so below its bound the
    // multi-million-row candidate stream never shuffles at all (the
    // pre-r9 shape exchanged it once per join: by bucket key, then by
    // id_a, then by id_b)
    val cand = bucketed.as("x").join(Joins.small(bucketed, n).as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    cand
      .join(Joins.small(
        embC.select(col("vec_id").as("id_a"), col("embedding").as("ea")), n), "id_a")
      .join(Joins.small(
        embC.select(col("vec_id").as("id_b"), col("embedding").as("eb")), n), "id_b")
      .select(col("id_a"), col("id_b"),
        round(graft.vec.VectorOps.cosineColsNative(col("ea"), col("eb")), 4)
          .as("cos"))
      .filter(col("cos") >= 0.4)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** d07: train/eval DECONTAMINATION — the overlap check every LLM
    * training pipeline must run before evaluation is meaningful: flag
    * training documents that share word-3-grams with held-out eval
    * documents (the C4/GPT-3-style n-gram contamination test; a
    * contaminated doc inflates benchmark scores). The splits are p02's
    * deterministic hash buckets (train <800‰, test ≥900‰), so the check
    * composes with the split operator users actually run.
    *
    * Scale shape: both sides explode to thin (doc_id, gram) rows and
    * meet in ONE gram-keyed equi-join — cost O(Σ posting-list products),
    * bounded by the same df-cap discipline as d02/d04: grams appearing
    * in more than GRAM_DF_CAP docs corpus-wide are dropped before the
    * join (a ubiquitous gram carries no contamination signal, and one
    * stopword gram at 100 TB would otherwise make the join
    * O(train × eval)). At scale the eval side is tiny (thousands of
    * benchmark docs), so Spark broadcasts it and the train side never
    * shuffles at all. */
  val d07_decontaminate: Q = (s, d) => {
    val bucketed = Tables.documents(s, d)
      .selectExpr("doc_id", "text", "pmod(doc_id * 2654435761, 1000) AS b")
    def grams(side: DataFrame) = side
      .select(col("doc_id"), explode(gramUdf(col("text"))).as("gram"))
    val train = grams(bucketed.filter(col("b") < 800)).cache()
    val eval_ = grams(bucketed.filter(col("b") >= 900)).cache()
    // materialize BEFORE the df-agg + join probe both caches (build race)
    train.count(); eval_.count()
    val hot = train.unionByName(eval_)
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") > GRAM_DF_CAP)
      .select(col("gram"))
    train.join(hot, Seq("gram"), "left_anti")
      .join(eval_.join(hot, Seq("gram"), "left_anti")
        .withColumnRenamed("doc_id", "eval_doc"), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared_grams"),
        countDistinct(col("eval_doc")).as("n_eval_docs"))
      .orderBy(col("doc_id"))
  }

  /** d08: passage-level exact dedup — the C4/RefinedWeb "line dedup"
    * pattern at chunk granularity: split each document into fixed
    * 20-word chunks, keep each distinct chunk only at its globally
    * first occurrence (ordered by doc_id, then chunk position), and
    * reassemble the surviving text per document. This catches the
    * repeated-paragraph/boilerplate duplication that document-level
    * dedup (d01) misses entirely — on this corpus 59 chunks across 32
    * docs are cross-document repeats (one doc dedups away completely,
    * surviving as an empty kept_text row).
    *
    * Scale shape: chunking is a narrow per-row slice over ~5 chunks per
    * document (chunk-granular lambdas — not the banned per-CHAR kind;
    * ≤ ⌈words/20⌉ evals/row). The dedup decision is ONE window shuffle
    * partitioned by the 256-bit content digest (c01's narrow-key
    * discipline): per-bucket state is a single running min-key, and the
    * chunk body rides that shuffle exactly once as the reassembly
    * payload — it has to move at least once for any cross-partition
    * duplicate to be detected. The final groupBy(doc_id) restores
    * document locality. No self-join anywhere, so no O(bucket²) stage
    * to cap: total cost is O(corpus chunks) rows through two shuffles
    * at any scale.
    *
    * The first-occurrence key is the STRUCT (doc_id, cno) under
    * lexicographic min — a packed `doc_id·K + cno` BIGINT would collide
    * across documents once a pathological concatenated doc exceeds K
    * chunks, silently keeping both copies of a duplicate. Struct min is
    * ordered identically in Spark and DuckDB, so the oracle mirrors it
    * directly. The words array is bound ONCE per row before the chunk
    * lambda — `split` inside the lambda body would re-tokenize the whole
    * document per chunk (O(words²/CW) per doc). */
  val d08_chunk_dedup: Q = (s, d) => {
    val CW = 20
    val chunkArr = expr(
      s"""transform(
         |  sequence(0, CAST(ceil(size(ws) / $CW.0D) AS INT) - 1),
         |  i -> array_join(slice(ws, i * $CW + 1, $CW), ' '))""".stripMargin)
    val key = struct(col("doc_id"), col("cno"))
    val w = Window.partitionBy(sha2(col("chunk"), 256))
    Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), posexplode(chunkArr).as(Seq("cno", "chunk")))
      .withColumn("keep", key === min(key).over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("cno"), col("chunk"))))),
            x => x.getField("chunk")),
          " ").as("kept_text"))
      .orderBy(col("doc_id"))
  }

  /** d09: SEMANTIC train/eval decontamination — d07's contamination
    * check in EMBEDDING space: a training item whose embedding is
    * near-identical to an eval item leaks the benchmark even when no
    * word-3-gram matches (paraphrase/translation contamination — the
    * failure mode lexical decontamination cannot see; phi/FineWeb-class
    * pipelines run BOTH checks). The split is p02's deterministic hash
    * rule applied to vec_id (train < 800‰, eval ≥ 900‰ — identical
    * constants, so the check composes with the split operator);
    * candidates come from d06's capped tiered LSH buckets (shared
    * `Lsh` fragments on both engines) restricted to cross-side pairs;
    * the verdict is the exact rounded cosine ≥ 0.4. Output: each
    * contaminated train vec with its eval-hit count and worst cosine.
    *
    * Scale shape: identical to d06's candidate discipline (capped
    * buckets, embeddings never ride the bucket shuffle) with one
    * asymmetry that helps at 100 TB: the eval side of the bucket join
    * is benchmark-sized (thousands of rows), so Spark broadcasts it and
    * the train side never shuffles; the final agg is keyed by train id
    * over hit rows only. */
  val d09_semantic_decontaminate: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding")).cache()
    val n = emb.count()
    val bits = graft.vec.Lsh.bitsForCount(n)
    val structs = graft.vec.Lsh.tieredBucketStructs(col("embedding"), bits)
    val rawBucketed = emb
      .withColumn("tb", explode(array(structs: _*)))
      .select(col("vec_id"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
      .cache()
    rawBucketed.count()
    // cap census over the WHOLE corpus (both splits) — same semantics
    // as d06, and the oracle's QUALIFY window counts the same rows
    val bucketed = graft.vec.Lsh.capTieredBuckets(rawBucketed)
      .withColumn("b", expr("pmod(vec_id * 2654435761, 1000)"))
    val train = bucketed.filter(col("b") < 800)
      .select(col("vec_id").as("tid"), col("tbl"), col("bucket"))
    val eval_ = bucketed.filter(col("b") >= 900)
      .select(col("vec_id").as("eid"), col("tbl"), col("bucket"))
    val cand = train.join(eval_, Seq("tbl", "bucket"))
      .select(col("tid"), col("eid")).distinct()
    cand
      .join(emb.select(col("vec_id").as("tid"), col("embedding").as("et")), "tid")
      .join(emb.select(col("vec_id").as("eid"), col("embedding").as("ee")), "eid")
      .select(col("tid"),
        round(graft.vec.VectorOps.cosineColsNative(col("et"), col("ee")), 4)
          .as("cos"))
      .filter(col("cos") >= 0.4)
      .groupBy(col("tid"))
      .agg(count(lit(1)).as("n_eval_hits"), max(col("cos")).as("max_cos"))
      .select(col("tid").as("vec_id"), col("n_eval_hits"), col("max_cos"))
      .orderBy(col("vec_id"))
  }

  // ------------------------------------------------------------------
  // d12: exact substring-span dedup
  // ------------------------------------------------------------------

  /** d12 parameters. W-token shingles; spans shorter than SPAN_MIN tokens
    * are noise (a single hash collision fakes exactly one W-length span,
    * so SPAN_MIN > W + 3 demands ≥ 5 CONSECUTIVE aligned shingle matches
    * — a collision run that long is cryptographically negligible at
    * P ≈ 2³⁰). SPAN_DF_CAP is d02's hot-feature discipline on shingle
    * occurrences: a boilerplate shingle shared by the whole corpus would
    * otherwise pair quadratically. */
  private[ops] val SPAN_W = 8
  private[ops] val SPAN_MIN = 12
  private[ops] val SPAN_DF_CAP = 50

  /** The W-token rolling fold over token hashes, mod P each step so the
    * accumulator stays < 31·P + max(tokenhash) < 2⁶³. `at(j)` renders the
    * j-offset token-hash access per dialect. */
  private[ops] def spanFold(at: Int => String): String =
    (1 until SPAN_W).foldLeft(s"${at(0)} % $P")(
      (acc, j) => s"($acc * 31 + ${at(j)}) % $P")

  /** 8-char rpad('_') token polynomial, DuckDB dialect (the Spark twin is
    * compiled inside the shingle UDF below; d03's 4-char version is the
    * same recipe). No mod: 8 terms ≤ 31⁷·(max code point) stay < 2⁶³. */
  private[ops] val tokPolyDuck: String = {
    val pows = (0 to 7).map(k => math.pow(31, k).toLong).reverse
    (1 to 8).zip(pows)
      .map { case (j, pw) =>
        s"unicode(substr(rpad(t, 8, '_'), $j, 1))::BIGINT * $pw" }
      .mkString(" + ")
  }

  /** d12: EXACT SUBSTRING-SPAN dedup — the Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better") modality: maximal runs
    * of ≥ SPAN_MIN shared TOKENS between two documents at ARBITRARY
    * offsets. d08 dedups fixed chunks and d02/d04 score whole-document
    * similarity; neither sees a long verbatim quote embedded at different
    * positions in two otherwise-different documents — exactly what
    * memorization-prone training corpora contain (boilerplate, quoted
    * news wire, license headers). Corpus = originals ∪ tail-mutated
    * copies (d01/d02's recipe), so every copy pair shares its full
    * original text as one maximal span.
    *
    * Pipeline (the distributed approximation of the paper's suffix
    * array): per-token 8-char polynomial hash → W-token rolling shingle
    * hash at every offset (one compiled narrow pass) → posexplode to
    * (doc, pos, h) → occurrence cap (SPAN_DF_CAP hot anti-join) →
    * self-join on h (doc_a < doc_b) → DIAGONAL ISLAND coalescing: matches
    * with equal pos_a − pos_b and consecutive pos_a are one shared span
    * (islands via pos_a − row_number() per (pair, diagonal)); span length
    * = island size + W − 1.
    *
    * Scale shape: shuffles carry only (h, doc_id, pos) — text never moves
    * after the narrow shingle pass; the cap bounds the equi-join at
    * O(Σ min(df, CAP)·CAP) like d02/d04; islands are one window over the
    * match set (O(true shared spans), not corpus-sized). A capped-away
    * mid-span shingle splits one span into two deterministically — same
    * rows on both engines, and the documented cap trade (ADVICE r05 #4's
    * no-silent-caps discipline: the cap census is one tiny aggregate).
    * At 100 TB the (doc, pos, h) table is the artifact you persist. */
  /** The compiled W-token rolling-shingle pass shared by d12 and t19:
    * text → array of shingle hashes in offset order. 8-char rpad('_')
    * Horner base 31 over CODE POINTS per token == the oracle's unicode()
    * polynomial (d03's recipe widened to 8), then the mod-P W-token fold
    * (== [[spanFold]]). */
  private[ops] val spanShingleUdf = udf { (text: String) =>
    if (text == null) Array.empty[Long]
    else {
      val ws = text.split(" ", -1)
      if (ws.length < SPAN_W) Array.empty[Long]
      else {
        val th = new Array[Long](ws.length)
        var i = 0
        while (i < ws.length) {
          val wc = ws(i).codePoints().toArray
          var p = 0L
          var j = 0
          while (j < 8) {
            p = p * 31 + (if (j < wc.length) wc(j) else '_'.toInt)
            j += 1
          }
          th(i) = p
          i += 1
        }
        val out = new Array[Long](ws.length - SPAN_W + 1)
        var k = 0
        while (k <= ws.length - SPAN_W) {
          var acc = 0L
          var j = 0
          while (j < SPAN_W) { acc = (acc * 31 + th(k + j)) % P; j += 1 }
          out(k) = acc
          k += 1
        }
        out
      }
    }
  }

  /** (doc_id, pos, h) shingle-occurrence rows for a (doc_id, text)
    * corpus, hot-capped at [[SPAN_DF_CAP]] (shared by d12 and t19). */
  private[ops] def spanOccurrences(corpus: DataFrame): DataFrame = {
    val occ = corpus
      .select(col("doc_id"),
        posexplode(spanShingleUdf(col("text"))).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("h"))
    val hot = occ.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > SPAN_DF_CAP).select(col("h"))
    occ.join(hot, Seq("h"), "left_anti")
  }

  val d12_substring_spans: Q = (s, d) => {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val corpus = base.unionByName(
      base.withColumn("doc_id", col("doc_id") + lit(copyShift(s, d)))
        .withColumn("text", concat(col("text"), lit(" mutated tail"))))
    // hot-shingle cap as an anti-join (d02's shape: the over-cap census is
    // tiny — only boilerplate shingles exceed it)
    val capped = spanOccurrences(corpus).cache()
    val nCapped = capped.count() // materialize before the self-join (no build race)
    // thin (doc_id, pos, h) rows; the default SortMergeJoin sorted both
    // occurrence branches
    val matches = capped.as("x").join(Joins.small(capped.as("y"), nCapped),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("x.pos").as("pos_a"),
        col("y.doc_id").as("doc_b"), col("y.pos").as("pos_b"))
    val diag = matches.withColumn("diag", col("pos_a") - col("pos_b"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pos_a"))
    diag
      .withColumn("grp", col("pos_a") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(min(col("pos_a")).as("a_start"), min(col("pos_b")).as("b_start"),
        (max(col("pos_a")) - min(col("pos_a")) + SPAN_W).as("span_len"))
      .filter(col("span_len") >= SPAN_MIN)
      .select(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"),
        col("span_len"))
      .orderBy(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"))
  }

  /** d13: MINHASH CALIBRATION AUDIT — estimated vs EXACT Jaccard for
    * every pair d02 emits, summarized per estimate decile: the
    * monitoring loop that tells a dedup deployment whether its 16-perm
    * signatures still track truth on the current corpus (n10/n15's
    * discipline pointed at MinHash — drift here means the dedup
    * threshold no longer means what it was tuned to mean). Exact truth
    * is the Jaccard of the DISTINCT 5-char shingle sets — the SAME
    * feature space the signatures sketch, so the residual is purely
    * estimation error, never featurization skew. All outputs are
    * integer permilles with half-up means.
    *
    * Scale shape: signatures and shingle sets are narrow compiled
    * passes; the shingle table is semi-join-pruned to pair docs before
    * the intersection join, so the exact side costs
    * O(pair-docs · shingles) — pair-bounded, like d05's guarded exact
    * twin, NOT corpus²; the final census is decile-sized. */
  val d13_minhash_calibration: Q = (s, d) => {
    val corpus = d02Corpus(s, d).cache()
    val pairs = d02Pairs(s, d)
    val sigs = corpus.select(col("doc_id"), sigUdf(col("text")).as("sig"))
      .cache()
    val nSigs = sigs.count() // corpus-sized but 136 B/row
    val est = pairs
      .join(Joins.small(
        sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), nSigs), "doc_a")
      .join(Joins.small(
        sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), nSigs), "doc_b")
      .selectExpr("doc_a", "doc_b",
        s"CAST(round(($estJacSpark) * 1000.0D) AS BIGINT) AS est_pm")
    val pairDocs = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // pair-doc id list is O(near-dups) — broadcast the semi-join probe
    val occ = corpus
      .join(broadcast(pairDocs), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(shingleSetUdf(col("text"))).as("h"))
      .cache()
    occ.count()
    val sizes = occ.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    // the pair table and the pair-doc size census are O(near-dups)
    // (counted — the pair artifact is already materialized): below the
    // bound the corpus-sized shingle stream exchanges once (the doc_b,h
    // equi-join) instead of four times
    val nPairs = pairs.count()
    val inter = occ.select(col("doc_id").as("doc_a"), col("h"))
      .join(Joins.small(pairs.select(col("doc_a"), col("doc_b")), nPairs), "doc_a")
      .join(occ.select(col("doc_id").as("doc_b"), col("h"))
        .hint("shuffle_hash"), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    est
      .join(Joins.small(inter, nPairs), Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(Joins.small(
        sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")), nPairs), "doc_a")
      .join(Joins.small(
        sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), nPairs), "doc_b")
      .selectExpr("est_pm div 100 AS band", "est_pm",
        "CAST(inter * 1000 div (na + nb - inter) AS BIGINT) AS exact_pm")
      .selectExpr("band", "est_pm", "exact_pm",
        "abs(est_pm - exact_pm) AS err_pm")
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("est_pm")).as("se"), sum(col("exact_pm")).as("sx"),
        sum(col("err_pm")).as("sr"))
      .selectExpr("band", "n_pairs",
        "CAST((2 * se + n_pairs) div (2 * n_pairs) AS BIGINT) AS mean_est_pm",
        "CAST((2 * sx + n_pairs) div (2 * n_pairs) AS BIGINT) AS mean_exact_pm",
        "CAST((2 * sr + n_pairs) div (2 * n_pairs) AS BIGINT) AS mean_err_pm")
      .orderBy(col("band"))
  }

  /** d14: INCREMENTAL DEDUP — a NEW ingest batch deduped against the
    * persisted corpus MinHash band index, the continuous-crawl shape of
    * [[d02_minhash_lsh]]: in deployment the corpus index is built once
    * and maintained (capped buckets included), and each arriving batch
    * pays only its OWN signatures plus a broadcast probe into the
    * index — never a corpus × corpus re-pair. Batch construction is
    * deterministic on both engines: docs with id%5=2 arrive as
    * tail-mutated near-dups (shingle-Jaccard ≈ 0.9 ⇒ should match
    * their source), docs with id%5=4 arrive vowel-substituted
    * (translate aeiou→01234 rewrites nearly every 5-shingle ⇒ novel).
    * Output: one row per batch doc — verdict ('dup'|'novel'), best
    * match (highest est permille, min-id tiebreak, -1 when novel).
    *
    * Scale shape: the band index is the persisted artifact (bands are
    * 8 bytes × 4 per doc); the batch band table and batch signatures
    * are batch-sized and BROADCAST into the index's partitioning, so
    * the per-increment cost is O(batch + touched buckets). The
    * corpus-signature re-join builds on the CANDIDATE side
    * (shuffle-hash), which is pair-bounded — the corpus only streams. */
  val d14_incremental_dedup: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val shift = copyShift(s, d)
    val batch = docs.filter(col("doc_id") % 5 === 2)
      .select((col("doc_id") + lit(shift)).as("batch_id"),
        concat(col("text"), lit(" incremental tail")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 5 === 4)
        .select((col("doc_id") + lit(2 * shift)).as("batch_id"),
          translate(col("text"), "aeiou", "01234").as("text")))
    def bandsOf(sigs: DataFrame, idCol: String): DataFrame = sigs
      .selectExpr(idCol, bandExprs("sig", atSpark).zipWithIndex
        .map { case (e, i) => s"struct($i AS band, $e AS bh)" }
        .mkString("array(", ", ", ") AS bandArr"))
      .selectExpr(idCol, "explode(bandArr) AS b")
      .select(col(idCol), col("b.band"), col("b.bh"))
    // the persisted side: corpus signatures + capped band index
    val csigs = docs.select(col("doc_id"), sigUdf(col("text")).as("sig"))
      .cache()
    csigs.count()
    val cbands = bandsOf(csigs, "doc_id")
    val hot = cbands.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > BUCKET_CAP)
      .select(col("band"), col("bh"))
    val cIndex = cbands.join(hot, Seq("band", "bh"), "left_anti")
    // the per-increment side: batch-sized, broadcast into the index
    val bsigs = batch.select(col("batch_id"), sigUdf(col("text")).as("sig"))
      .cache()
    bsigs.count()
    val cand = cIndex.join(broadcast(bandsOf(bsigs, "batch_id")),
        Seq("band", "bh"))
      .select(col("batch_id"), col("doc_id")).distinct()
    val candSa = cand.join(
      broadcast(bsigs.select(col("batch_id"), col("sig").as("sa"))),
      "batch_id")
    val scored = csigs.select(col("doc_id"), col("sig").as("sb"))
      .join(candSa.hint("shuffle_hash"), "doc_id")
      .selectExpr("batch_id", "doc_id",
        s"CAST(round(($estJacSpark) * 1000.0D) AS BIGINT) AS est_pm")
      .filter(col("est_pm") >= 500)
    val best = scored
      .withColumn("rn", row_number().over(Window.partitionBy(col("batch_id"))
        .orderBy(col("est_pm").desc, col("doc_id").asc)))
      .filter(col("rn") === 1)
      .select(col("batch_id"), col("doc_id").as("match_id"), col("est_pm"))
    batch.select(col("batch_id"))
      .join(broadcast(best), Seq("batch_id"), "left")
      .selectExpr("batch_id",
        "CASE WHEN match_id IS NULL THEN 'novel' ELSE 'dup' END AS verdict",
        "coalesce(match_id, -1L) AS match_id",
        "coalesce(est_pm, 0L) AS est_pm")
      .orderBy(col("batch_id"))
  }

  /** d15: PREFIX-FILTERED SET-SIMILARITY JOIN (SSJoin/PPJoin family,
    * Chaudhuri et al. 2006 / Xiao et al. 2008) — the EXACT Jaccard ≥ ½
    * join over word-3-gram sets, with candidates generated only from
    * each set's RAREST-token prefix instead of every posting: order
    * grams globally by (df, gram), keep the first n − ⌈n/2⌉ + 1 per
    * doc, and join prefixes. The prefix lemma (the smallest common
    * gram of a qualifying pair must sit inside BOTH prefixes) makes
    * the filter LOSSLESS — the spec proves it by equality against a
    * prefix-free driver brute force over every pair; the oracle
    * mirrors the pipeline (d02's discipline) so the hash compare stays
    * affordable at stress scales where the unfiltered posting join is
    * quadratic. The threshold itself is the integer predicate
    * 2·inter ≥ union: no float ever decides membership.
    *
    * Scale shape: candidate cost drops from O(Σ df²) over ALL postings
    * (d04's shape) to O(Σ prefix-df²) — prefixes are ~half the tokens
    * and systematically the RAREST half, which is where posting lists
    * are shortest; verification joins are candidate-bounded; the spec
    * pins a ≥5× candidate reduction. One guard on top: prefix postings
    * with df > [[PPJ_DF_CAP]] are anti-joined away (d02/d04's
    * discipline) — on THIS fixture's 31-word vocabulary the ~30k-gram
    * space saturates around 10× (mean gram df ≈ 80 ⇒ "rarest half" is
    * no longer rare and Σ prefix-df² goes quadratic; measured: the
    * uncapped 10× run was killed at 14 min), and when the cap binds
    * candidates are conservatively UNDER-generated, exactly like d04's
    * capped grams and d12's 30× cap-binding result. On a real-text
    * vocabulary the gram space grows with the corpus and the cap is
    * idle headroom. The cap never fires below ~3×(tested sf)
    * (measured max prefix df: 10 at sf0.001, 30 at sf0.1). */
  val PPJ_DF_CAP = 100L

  /** Build-side bound for the d15/d16 VERIFICATION joins: at or below
    * this many gram-set rows the per-pair intersection joins broadcast
    * the sets table (zero shuffles of the arrays — the measured-fastest
    * plan at oracle/stress scales, ≤10× incl.); above it they switch to
    * a CO-PARTITIONED shuffle-hash join. Found the hard way: the
    * round-8 100× probe (1.5M set rows) OOMed the unconditional
    * broadcast, and a plain shuffle_hash hint at the session's 32
    * shuffle partitions then failed its per-partition hash build too
    * (~47k rows × ~10 KB of gram arrays ≈ 0.5 GB per build × 32
    * concurrent) — "small at the tested sf" is a runtime property, so
    * both the STRATEGY and the PARTITION COUNT must be derived from the
    * counted size, exactly like the planner's own size-based choice. */
  val PPJ_BCAST_MAX_SETS = 500000L

  /** Posting-row bound for d16's candidate join keeping its original
    * build-on-postings shape (measured fine through 10× = 7.2M rows);
    * past it the join builds the df-capped prefix side, co-partitioned
    * on gram at a count derived from the posting size. */
  val D16_POSTING_BUILD_MAX = 20000000L

  /** Gram-set rows per shuffle partition in the above-broadcast regime:
    * ~6k rows ≈ 60 MB of array payload per hash build — sized so a full
    * complement of concurrent build tasks fits the executor heap with
    * room for the probe side. */
  val PPJ_SETS_PER_PARTITION = 6000L

  /** The size-adaptive verification join: broadcast the sets side while
    * it is broadcast-small; past [[PPJ_BCAST_MAX_SETS]], repartition
    * BOTH sides on the join key at a count derived from the sets size
    * (so each per-partition hash build fits memory — user-specified
    * repartitions are exempt from AQE coalescing) and shuffle-hash-join
    * them co-partitioned: no re-exchange, no sort of array payloads,
    * no single corpus-sized hash relation anywhere. */
  private def verifyJoin(nSets: Long)(
      cand: DataFrame, setsSel: DataFrame, key: String): DataFrame =
    if (nSets <= PPJ_BCAST_MAX_SETS) cand.join(broadcast(setsSel), key)
    else {
      val session = setsSel.sparkSession
      val parts = math.max(
        session.conf.get("spark.sql.shuffle.partitions").toInt,
        (nSets / PPJ_SETS_PER_PARTITION + 1).toInt)
      cand.repartition(parts, col(key))
        .join(setsSel.repartition(parts, col(key)).hint("shuffle_hash"), key)
    }

  /** RANKED POSTING artifact — every (doc_id, n, gram) posting with its
    * doc-local rank under the global (df, gram) order plus the gram's df,
    * DISK-persisted like [[ppjSets]] (VERDICT r09 next-#7, the builder's
    * own flagged production shape): both prefix-family joins (d15's
    * symmetric Jaccard, d16's asymmetric containment) derive their
    * prefix tables AND d16's positional probe side from this ONE table,
    * so a crawl's postings are exploded, df-counted and rank-windowed
    * ONCE — per-query cost becomes a parquet scan with rk/df predicate
    * pushdown. The bench times the build as its own `artifact_ppj_ranked`
    * entry (dependency-ordered after `artifact_ppj_sets`). The rank is
    * deterministic (grams are distinct per doc, (df, gram) is a total
    * order), so the parquet round-trip is reproducible row-for-row. */
  private[graft] def ppjRanked(s: SparkSession, d: String): DataFrame =
    graft.engine.ArtifactCache.memoizeDisk(s, d, "ppj_ranked") {
      val exploded = ppjSets(s, d)
        .selectExpr("doc_id", "n", "explode(g) AS gram")
      val dfs = exploded.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      exploded.join(dfs.hint("shuffle_hash"), "gram")
        .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("df").asc, col("gram").asc)))
        .select(col("doc_id"), col("n"), col("gram"), col("rk"), col("df"))
    }

  val d15_prefix_join: Q = (s, d) => {
    val sets = ppjSets(s, d).cache()
    val nSets = sets.count()
    val vjoin = verifyJoin(nSets) _
    val prefixes = ppjRanked(s, d)
      .filter(col("rk") <= expr("n - (n + 1) div 2 + 1") &&
        col("df") <= PPJ_DF_CAP)
      .select(col("doc_id"), col("n"), col("gram"), col("rk"))
      .cache()
    prefixes.count()
    // two LOSSLESS filters inside the candidate join: (1) size — J ≥ ½
    // forces the sizes within 2× of each other (J ≤ min/max);
    // (2) PPJoin's POSITIONAL filter — for a pair's FIRST common gram
    // in the global (df, gram) order no common gram precedes it in
    // either doc, so inter ≤ min(n_x − rk_x, n_y − rk_y) + 1, and
    // J ≥ ½ ⇔ 3·inter ≥ n_x + n_y demands 3·(that bound) ≥ n_x + n_y;
    // any qualifying pair passes at its first common gram, so the
    // DISTINCT over passing occurrences keeps exactly the PPJoin
    // candidate set (measured −24% / further −~60% candidates here)
    // the dedup exchange is USER-keyed at a size-derived count (AQE-exempt):
    // AQE's byte-based coalescing squeezed the ~8 MB candidate exchange to
    // 6 partitions, which is right for shuffle efficiency but starves the
    // CPU-BOUND verification that runs in the same stage (505k per-pair
    // merges on 6 of 32 cores — guide §2.5: partition sizing must follow
    // the stage's bottleneck, which here is compute, not bytes)
    val candParts = math.max(
      s.conf.get("spark.sql.shuffle.partitions").toInt,
      (nSets / PPJ_SETS_PER_PARTITION + 1).toInt)
    val cand = prefixes.as("x").join(prefixes.as("y"),
        col("x.gram") === col("y.gram") &&
          col("x.doc_id") < col("y.doc_id") &&
          col("x.n") * 2 >= col("y.n") && col("y.n") * 2 >= col("x.n") &&
          expr("3 * (least(x.n - x.rk, y.n - y.rk) + 1) >= x.n + y.n"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .repartition(candParts, col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .distinct()
    // verification = per-pair set intersection over the gram-SET table
    // (gramUdf emits DISTINCT grams, so the intersection size IS |A∩B|)
    // instead of re-joining the posting index: the posting form streams
    // |cand|·|grams/doc| rows through two shuffles (measured 26 s at
    // sf0.1 — 88M join rows for 6k survivors); the set form computes
    // |cand| intersections. Strategy is size-adaptive via `vside`
    // (PPJ_BCAST_MAX_SETS): broadcast while the sets table is
    // broadcast-small, shuffle-hash past it — the 100× probe proved the
    // unconditional broadcast OOMs at 1.5M rows. The kernel is the r10
    // gram_inter_sorted merge (sort ONCE per doc on the sets side, one
    // allocation-free generated merge per candidate PAIR) — the
    // size(array_intersect) it replaces hash-built per pair through the
    // generic string path: 505k candidate pairs × ~30 µs was d15's
    // dominant stage (16-19 s of executor time at sf0.1).
    vjoin(vjoin(cand,
        sets.select(col("doc_id").as("doc_a"), sort_array(col("g")).as("ga")),
        "doc_a"),
      sets.select(col("doc_id").as("doc_b"), sort_array(col("g")).as("gb")),
      "doc_b")
      .selectExpr("doc_a", "doc_b", "na", "nb",
        "gram_inter_sorted(ga, gb) AS inter")
      .filter(expr("2 * inter >= na + nb - inter"))
      .selectExpr("doc_a", "doc_b",
        "((20000 * inter + (na + nb - inter)) div (2 * (na + nb - inter)))" +
          " / 10000.0D AS jaccard")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d16: ASYMMETRIC CONTAINMENT JOIN — the quote-inclusion / subset-dup
    * modality d15's symmetric Jaccard misses: emit ordered pairs
    * (contained, container) where |A∩B| / |A| ≥ 9/10 over the same
    * word-3-gram sets (a doc whose grams nearly all reappear inside a
    * LARGER doc has Jaccard ≪ ½ but containment ≈ 1 — d02Corpus's
    * planted "text ⊕ mutated tail" copies are exactly this shape, so
    * every orig→copy pair must surface at containment 1.0). Prefix
    * filter, asymmetric variant: only the CONTAINED side is prefix-
    * pruned, to its n − ⌈9n/10⌉ + 1 RAREST (df, gram)-ordered grams
    * (for τ = 0.9 that is ~n/10 — far sharper than d15's half), and it
    * probes the FULL posting index, because the container side admits
    * no pruning (any of B's grams may be the one A shares). Lossless
    * by the same pigeonhole: A misses at most n − ⌈τn⌉ of B's grams,
    * so its first n − ⌈τn⌉ + 1 grams (ANY fixed global order) contain
    * at least one hit. The threshold is the integer predicate
    * 10·inter ≥ 9·n_a; the reported fraction is derived AFTER.
    *
    * Scale shape: per prefix gram g the probe costs prefix_occ(g)·df(g)
    * and the [[PPJ_DF_CAP]] guard on the PREFIX side bounds df(g) too
    * (the posting list being probed is the same gram's), so the whole
    * candidate join is ≤ CAP · |prefix rows| — linear in the corpus
    * with a constant ~CAP/10 (d15's saturation caveat applies
    * unchanged on this fixture's closed vocabulary). */
  val d16_containment_join: Q = (s, d) => {
    val sets = ppjSets(s, d).cache()
    val nSets = sets.count()
    val vjoin = verifyJoin(nSets) _
    val ranked = ppjRanked(s, d)
    val nExpl = ranked.count() // == posting rows
    val prefixes = ranked
      .filter(col("rk") <= expr("n - (9 * n + 9) div 10 + 1") &&
        col("df") <= PPJ_DF_CAP)
      .select(col("doc_id"), col("n"), col("gram"), col("rk"))
    val probe = ranked.select(col("doc_id"), col("n"), col("gram"), col("rk"))
    // THREE lossless in-join filters (r10; before, only the gram match ran
    // in the join and the size filter waited until after verification):
    // (1) size — inter ≤ n_b always, so 10·n_b ≥ 9·n_a is necessary;
    // (2) PPJoin's POSITIONAL filter, asymmetric form: at a pair's FIRST
    //     common gram in the global (df, gram) order no common gram
    //     precedes it in either doc, so inter ≤ min(n_a−rk_x, n_b−rk_y)+1
    //     and 10·inter ≥ 9·n_a demands 10·(that bound) ≥ 9·n_a — the
    //     probe side now carries its rank from the ppjRanked artifact
    //     (free: the rank was already computed for the prefix rule);
    // (3) the prefix rule itself (unchanged, x side only).
    // Any qualifying pair passes all three at its first common gram, so
    // the DISTINCT keeps exactly the qualifying candidate set — d15's
    // proven pattern applied to the containment threshold.
    val joinCond =
      col("x.gram") === col("y.gram") && col("x.doc_id") =!= col("y.doc_id") &&
        expr("10 * y.n >= 9 * x.n") &&
        expr("10 * (least(x.n - x.rk, y.n - y.rk) + 1) >= 9 * x.n")
    // candidate probe: BUILD on the df-capped PREFIX side, never the full
    // posting index — at ≤10× a per-partition hash of the postings fits
    // and the original shape stands; past D16_POSTING_BUILD_MAX posting
    // rows (the 100× probe OOMed there: 72M postings / 32 partitions ≈
    // 0.5 GB per build) the join co-partitions both sides on gram at a
    // derived count and builds the strictly-smaller prefix side (capped
    // at df ≤ PPJ_DF_CAP, ≤ ~n/10 grams per doc by the prefix rule)
    val cand = (if (nExpl <= D16_POSTING_BUILD_MAX)
        prefixes.as("x")
          .join(probe.as("y").hint("shuffle_hash"), joinCond)
      else {
        val parts = math.max(
          s.conf.get("spark.sql.shuffle.partitions").toInt,
          (nExpl / 1000000L + 1).toInt)
        prefixes.repartition(parts, col("gram")).as("x").hint("shuffle_hash")
          .join(probe.repartition(parts, col("gram")).as("y"), joinCond)
      })
      .select(col("x.doc_id").as("contained"), col("y.doc_id").as("container"),
        col("x.n").as("na"))
      // user-keyed dedup exchange at a size-derived count (d15's
      // rationale: keep the CPU-bound verification stage parallel
      // instead of letting byte-based AQE coalescing starve it)
      .repartition(math.max(
          s.conf.get("spark.sql.shuffle.partitions").toInt,
          (nSets / PPJ_SETS_PER_PARTITION + 1).toInt),
        col("contained"), col("container"), col("na"))
      .distinct()
    // d15's set-intersection verification (same measured ~3× win over
    // the posting re-join; same size-adaptive vside strategy), with the
    // LOSSLESS container-size filter 10·n_b ≥ 9·n_a first — inter ≤
    // n_b, so a container smaller than 9/10 of the contained side can
    // never qualify
    vjoin(vjoin(cand,
        sets.select(col("doc_id").as("contained"), sort_array(col("g")).as("ga")),
        "contained"),
      sets.select(col("doc_id").as("container"), col("n").as("nb"),
        sort_array(col("g")).as("gb")), "container")
      .filter(expr("10 * nb >= 9 * na"))
      .selectExpr("contained", "container", "na",
        "gram_inter_sorted(ga, gb) AS inter")
      .filter(expr("10 * inter >= 9 * na"))
      .selectExpr("contained", "container",
        "((20000 * inter + na) div (2 * na)) / 10000.0D AS containment")
      .orderBy(col("contained"), col("container"))
  }

  /** d17 knobs: neighbors compared per row in sort order, and the max
    * accepted edit distance (the planted tail mutation is 13 edits). */
  val SNM_WINDOW = 4
  val SNM_LEV_MAX = 16L

  /** d17 head-mutation plant rate: one in [[D17_HEAD_MOD]] documents
    * gets a head-mutated copy. Planting on EVERY doc would put every
    * copy behind the shared "mutatedhead…" key prefix — one giant
    * artificial hot block per pass that serializes the verifier and
    * demonstrates nothing real corpora do; a 10% plant keeps the
    * recall demonstration (hundreds of planted pairs at any sf) with
    * fixture skew an order of magnitude down. */
  val D17_HEAD_MOD = 10L

  /** d17 fixture corpus: d02's tail-mutated copies PLUS head-mutated
    * copies (`'mutated head ' || text`, ids shifted by 2·(max+1),
    * planted on doc_id ≡ 0 mod [[D17_HEAD_MOD]]) — the mutation class a
    * single forward SNM pass is STRUCTURALLY blind to (a head edit
    * rewrites the key prefix, so orig and copy sort into different
    * blocks) and the rotated second pass exists to recover. */
  private[ops] def d17Corpus(s: SparkSession, d: String): DataFrame = {
    val shift = copyShift(s, d)
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    base
      .unionByName(base.withColumn("doc_id", col("doc_id") + lit(shift))
        .withColumn("text", concat(col("text"), lit(" mutated tail"))))
      .unionByName(base.filter(col("doc_id") % D17_HEAD_MOD === 0L)
        .withColumn("doc_id", col("doc_id") + lit(2 * shift))
        .withColumn("text", concat(lit("mutated head "), col("text"))))
  }

  /** One SNM window pass over a (doc_id, text, skey) frame: sort each
    * 2-char key block by (skey, id), compare every row with its next
    * [[SNM_WINDOW]] neighbors via `lead`, verify with the banded exact
    * levenshtein. Per-row work is CONSTANT — no self-join, no candidate
    * explosion anywhere; the W·N lev calls are the operator's entire
    * cost, cut by (1) the |Δlen| gate that skips the DP outright for
    * most non-dup neighbors and (2) the THRESHOLD form
    * `levenshtein(a, b, k)` running the banded O(len·k) DP with early
    * abandon (returns −1 past k) — the accepted set and its lev values
    * are unchanged (measured 34 s → ~4 s at sf0.1). */
  private def snmPass(keyed: DataFrame, nDocs: Long): DataFrame = {
    // the window sorts THIN rows — (id, 24-char key, length) — and the
    // document bodies are re-attached BY ID only for pairs surviving the
    // |Δlen| gate (guide §2.3/§8: shuffle keys and metadata, move the
    // heavy payload once). The old shape carried full text through the
    // sort and emitted SNM_WINDOW lead-copies of it per row — ~25×
    // the shuffle bytes for identical output (the sort order
    // (skey, doc_id) is total, so the neighbor sets cannot differ).
    val w = Window.partitionBy(col("block")).orderBy(col("skey"), col("doc_id"))
    val cands = keyed
      .select(col("doc_id"), col("skey"), length(col("text")).as("len"))
      .withColumn("block", expr("substring(skey, 1, 2)"))
      .select(col("doc_id"), col("len"),
        array((1 to SNM_WINDOW).map(i =>
          struct(lead(col("doc_id"), i).over(w).as("nid"),
            lead(col("len"), i).over(w).as("nlen"))): _*).as("nbrs"))
      .selectExpr("doc_id", "len", "explode(nbrs) AS nb")
      .filter(col("nb.nid").isNotNull)
      .filter(expr(s"abs(len - nb.nlen) <= $SNM_LEV_MAX"))
      .select(col("doc_id"), col("nb.nid").as("nid"))
      // deliberate repartition of the THIN candidate stream (guide §2.5):
      // without it the verifier inherits the window's 2-char-block
      // partitioning, and a prefix-hot block (shared lead tokens put most
      // of this corpus in ONE block) serializes every banded-lev call on
      // one core — measured 6-7 s of the operator's wall for ~11 k calls.
      // Hash on the deterministic pair key (never rand — retry safety),
      // ~16 B/row, so the exchange is noise next to the DP it spreads.
      .repartition(col("doc_id"), col("nid"))
    val texts = keyed.select(col("doc_id"), col("text"))
    cands
      .join(Joins.small(texts, nDocs), "doc_id")
      .join(Joins.small(
        texts.select(col("doc_id").as("nid"), col("text").as("ntext")), nDocs), "nid")
      .select(expr("least(doc_id, nid)").as("doc_a"),
        expr("greatest(doc_id, nid)").as("doc_b"),
        levThresholdUdf(col("text"), col("ntext")).as("lev"))
      .filter(col("lev") >= 0L && col("lev") <= SNM_LEV_MAX)
  }

  /** The banded-lev verifier as a NONDETERMINISTIC-marked UDF around
    * SPARK'S OWN threshold kernel (`UTF8String.levenshteinDistance(other,
    * k)` — the exact code the `levenshtein(a, b, k)` builtin calls, so
    * values are bit-identical by construction; null input → −1, which
    * the `lev >= 0` filter drops exactly like the builtin's null).
    * Nondeterministic is guide §4.4's anti-duplication lever, load-
    * bearing here: as a plain expression the optimizer pushed the lev
    * range filter INTO the broadcast text join as a join condition,
    * where the DP ran once per comparison plus once in the projection
    * with no codegen subexpression elimination across the operators —
    * measured 5.3 s → 8.3 s. Marked nondeterministic it is evaluated
    * ONCE per candidate row, in the projection, after the repartition
    * spread the rows. */
  private val levThresholdUdf = udf { (a: String, b: String) =>
    if (a == null || b == null) -1L
    else org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .levenshteinDistance(
        org.apache.spark.unsafe.types.UTF8String.fromString(b),
        SNM_LEV_MAX.toInt).toLong
  }.asNondeterministic()

  /** d17: SORTED-NEIGHBORHOOD DEDUP (Hernández & Stolfo 1995), MULTI-PASS
    * — the SORT-based near-dup modality the LSH family (d02/d03/d06)
    * doesn't cover, in the standard two-pass form (the rotated-key
    * extension of the original paper): pass 1 keys each row by the first
    * 24 chars of its lowercased alphanumeric skeleton (tail-mutated
    * copies sort adjacent to their original and surface at lev = 13);
    * pass 2 keys by the REVERSED skeleton's first 24 chars, recovering
    * head-mutated near-dups the forward sort is structurally blind to.
    * Pair sets union and dedup; each pass is the same constant-work
    * lead-window + banded-levenshtein verifier ([[snmPass]]). Pairs
    * separated by > W same-key rows within BOTH sort orders are still
    * missed — the (halved) SNM recall trade, exact for the hash compare
    * because both engines run the identical windows.
    *
    * Scale shape: TWO hash-partitioned window shuffles keyed by 2-char
    * blocks (the block length is the skew knob at 100 TB: longer blocks
    * ⇒ smaller sort groups), each a narrow explode of ≤ W neighbor
    * structs per row; only (id, text, key) ride the shuffles. The
    * rotation also halves hot-block exposure: a prefix-hot block
    * (boilerplate-headed corpora) is typically not suffix-hot, so the
    * recall a hot forward block would need a giant window for arrives
    * via the rotated sort instead. Cost stays linear: 2·W·N banded lev
    * calls, never a pair join. */
  val d17_sorted_neighborhood: Q = (s, d) => {
    // cache the skeleton pass: the regexp strip is the most expensive
    // per-row expression here and BOTH rotated passes consume it — the
    // uncached shape ran the regexp (and the 3-branch corpus union) once
    // per pass. Only (id, text, 24-char keys) are retained; materialized
    // before the union so the two window branches read, never race-build.
    val skeleton = d17Corpus(s, d)
      .selectExpr("doc_id", "text",
        "regexp_replace(lower(text), '[^a-z0-9]', '') AS skel")
      .selectExpr("doc_id", "text",
        "substring(skel, 1, 24) AS fkey",
        "substring(reverse(skel), 1, 24) AS rkey")
      .cache()
    val nDocs = skeleton.count() // sizes the text re-attach joins
    val fwd = skeleton.selectExpr("doc_id", "text", "fkey AS skey")
    val rev = skeleton.selectExpr("doc_id", "text", "rkey AS skey")
    snmPass(fwd, nDocs).unionByName(snmPass(rev, nDocs))
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def queries: Map[String, Q] = Map(
    "d17_sorted_neighborhood" -> d17_sorted_neighborhood,
    "d16_containment_join" -> d16_containment_join,
    "d15_prefix_join" -> d15_prefix_join,
    "d14_incremental_dedup" -> d14_incremental_dedup,
    "d13_minhash_calibration" -> d13_minhash_calibration,
    "d12_substring_spans" -> d12_substring_spans,
    "d10_lsh_recall_audit" -> d10_lsh_recall_audit,
    "d11_tfidf_cosine" -> d11_tfidf_cosine,
    "d09_semantic_decontaminate" -> d09_semantic_decontaminate,
    "d01_exact_dedup" -> d01_exact_dedup,
    "d02_minhash_lsh" -> d02_minhash_lsh,
    "d03_simhash" -> d03_simhash,
    "d04_ngram_jaccard" -> d04_ngram_jaccard,
    "d05_cosine_brute" -> d05_cosine_brute,
    "d06_cosine_lsh" -> d06_cosine_lsh,
    "d07_decontaminate" -> d07_decontaminate,
    "d08_chunk_dedup" -> d08_chunk_dedup)

  // ------------------------------------------------------------------
  // DuckDB oracles
  // ------------------------------------------------------------------

  /** The d02 pipeline as a reusable DuckDB CTE chain (no leading WITH, no
    * final select) — shared by the d02 oracle and c02's cluster oracle so
    * the two stay bit-identical. */
  private[ops] def d02OracleCtes: String =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
       |         text || ' mutated tail' FROM documents),
       |sigs AS (
       |  SELECT doc_id, ${sigExprDuck(shingleHashesDuck)} AS sig
       |  FROM corpus),
       |bands AS (
       |  SELECT doc_id, sig, b.band, b.bh
       |  FROM sigs, unnest([${bandExprs("sig", atDuck).zipWithIndex
            .map { case (e, i) => s"{'band': $i, 'bh': $e}" }.mkString(", ")}])
       |    AS u(b)),
       |bands_capped AS (
       |  SELECT doc_id, sig, band, bh FROM bands
       |  QUALIFY count(*) OVER (PARTITION BY band, bh) <= $BUCKET_CAP),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |         x.sig AS sa, y.sig AS sb
       |  FROM bands_capped x JOIN bands_capped y
       |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)""".stripMargin

  /** The d02 near-dup pair predicate over the `pairs` CTE (ditto). */
  private[ops] def d02OraclePairSelect: String =
    s"SELECT doc_a, doc_b FROM pairs WHERE $estJacDuck >= 0.5"

  def oracleSql: Map[String, String] = {
    val simPows = (0 to 3).map(k => math.pow(31, k).toLong).reverse
    val simPoly = (1 to 4).zip(simPows)
      .map { case (j, pw) => s"unicode(substr(rpad(w, 4, '_'), $j, 1))::BIGINT * $pw" }
      .mkString(" + ")
    val simHashed = (0 until 4)
      .map(s => s"list_transform(th, p -> (${SIM_A(s)} * p + ${SIM_B(s)}) % $P) AS th$s")
      .mkString(", ")
    val simBits = (for (s <- 0 until 4; b <- 0 until 15) yield
      s"(CASE WHEN list_sum(list_transform(th$s, h -> CASE WHEN (h >> $b) % 2 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << (15 * s + b)} ELSE 0 END)"
    ).mkString(" + ")
    Map(
      // d17: identical skeleton/rotation/block/window/lead arithmetic;
      // DuckDB regexp_replace needs the 'g' flag to match Spark's
      // replace-all default; the i=1..W lead arms are generated from
      // the same SNM_WINDOW constant, once per sort-key rotation
      "d17_sorted_neighborhood" -> {
        val leadCols = (1 to SNM_WINDOW).map(i =>
          s"lead(doc_id, $i) OVER w AS id$i, lead(text, $i) OVER w AS t$i")
          .mkString(",\n         ")
        def arms(src: String) = (1 to SNM_WINDOW).map(i =>
          s"""  SELECT doc_id, id$i AS nid, levenshtein(text, t$i) AS lv
             |  FROM $src WHERE id$i IS NOT NULL""".stripMargin)
          .mkString("\nUNION ALL\n")
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
           |         text || ' mutated tail' FROM documents
           |  UNION ALL
           |  SELECT doc_id + 2 * (SELECT max(doc_id) + 1 FROM documents),
           |         'mutated head ' || text FROM documents
           |  WHERE doc_id % $D17_HEAD_MOD = 0),
           |skeleton AS (
           |  SELECT doc_id, text,
           |         regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS skel
           |  FROM corpus),
           |fwd AS (SELECT doc_id, text, substr(skel, 1, 24) AS skey
           |        FROM skeleton),
           |rev AS (SELECT doc_id, text, substr(reverse(skel), 1, 24) AS skey
           |        FROM skeleton),
           |leads_f AS (
           |  SELECT doc_id, text,
           |         $leadCols
           |  FROM fwd
           |  WINDOW w AS (PARTITION BY substr(skey, 1, 2)
           |               ORDER BY skey, doc_id)),
           |leads_r AS (
           |  SELECT doc_id, text,
           |         $leadCols
           |  FROM rev
           |  WINDOW w AS (PARTITION BY substr(skey, 1, 2)
           |               ORDER BY skey, doc_id)),
           |pairs AS (
           |${arms("leads_f")}
           |UNION ALL
           |${arms("leads_r")})
           |SELECT DISTINCT least(doc_id, nid)::BIGINT AS doc_a,
           |       greatest(doc_id, nid)::BIGINT AS doc_b,
           |       lv::BIGINT AS lev
           |FROM pairs WHERE lv <= $SNM_LEV_MAX
           |ORDER BY doc_a, doc_b""".stripMargin
      },
      // d16: asymmetric containment — contained-side-only prefix,
      // full-posting probe, integer 10·inter >= 9·n_a threshold
      "d16_containment_join" ->
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
           |         text || ' mutated tail' FROM documents),
           |g AS MATERIALIZED (
           |  SELECT doc_id, unnest($gramListDuck) AS gram FROM corpus),
           |sets AS (SELECT doc_id, count(*)::BIGINT AS n
           |         FROM g GROUP BY doc_id),
           |dfs AS (SELECT gram, count(*)::BIGINT AS df
           |        FROM g GROUP BY gram),
           |pre AS MATERIALIZED (
           |  SELECT doc_id, n, gram FROM (
           |    SELECT g.doc_id, g.gram, s.n, d.df,
           |           row_number() OVER (PARTITION BY g.doc_id
           |             ORDER BY d.df, g.gram) AS rk
           |    FROM g JOIN dfs d USING (gram) JOIN sets s USING (doc_id))
           |  WHERE rk <= n - (9 * n + 9) // 10 + 1 AND df <= $PPJ_DF_CAP),
           |lists AS MATERIALIZED (
           |  SELECT doc_id, list(gram) AS gl FROM g GROUP BY doc_id),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS contained, y.doc_id AS container,
           |         x.n AS na
           |  FROM pre x JOIN g y
           |    ON x.gram = y.gram AND x.doc_id <> y.doc_id),
           |it AS (
           |  SELECT c.contained, c.container, c.na,
           |         len(list_intersect(la.gl, lb.gl))::BIGINT AS inter
           |  FROM cand c
           |  JOIN lists la ON la.doc_id = c.contained
           |  JOIN lists lb ON lb.doc_id = c.container)
           |SELECT contained, container,
           |       ((20000 * inter + na) // (2 * na)) / 10000.0 AS containment
           |FROM it WHERE 10 * inter >= 9 * na
           |ORDER BY contained, container""".stripMargin,
      // d15: same corpus/gram/df/prefix/verify arithmetic; the prefix
      // losslessness proof lives in the spec's prefix-free brute
      "d15_prefix_join" ->
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
           |         text || ' mutated tail' FROM documents),
           |g AS MATERIALIZED (
           |  SELECT doc_id, unnest($gramListDuck) AS gram FROM corpus),
           |sets AS (SELECT doc_id, count(*)::BIGINT AS n
           |         FROM g GROUP BY doc_id),
           |dfs AS (SELECT gram, count(*)::BIGINT AS df
           |        FROM g GROUP BY gram),
           |pre AS MATERIALIZED (
           |  SELECT doc_id, n, gram FROM (
           |    SELECT g.doc_id, g.gram, s.n, d.df,
           |           row_number() OVER (PARTITION BY g.doc_id
           |             ORDER BY d.df, g.gram) AS rk
           |    FROM g JOIN dfs d USING (gram) JOIN sets s USING (doc_id))
           |  WHERE rk <= n - (n + 1) // 2 + 1 AND df <= $PPJ_DF_CAP),
           |lists AS MATERIALIZED (
           |  SELECT doc_id, list(gram) AS gl FROM g GROUP BY doc_id),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           |         x.n AS na, y.n AS nb
           |  FROM pre x JOIN pre y
           |    ON x.gram = y.gram AND x.doc_id < y.doc_id),
           |it AS (
           |  SELECT c.doc_a, c.doc_b, c.na, c.nb,
           |         len(list_intersect(la.gl, lb.gl))::BIGINT AS inter
           |  FROM cand c
           |  JOIN lists la ON la.doc_id = c.doc_a
           |  JOIN lists lb ON lb.doc_id = c.doc_b)
           |SELECT doc_a, doc_b,
           |       ((20000 * inter + (na + nb - inter))
           |        // (2 * (na + nb - inter))) / 10000.0 AS jaccard
           |FROM it WHERE 2 * inter >= na + nb - inter
           |ORDER BY doc_a, doc_b""".stripMargin,
      // d14: batch-vs-index incremental MinHash dedup; same sig/band
      // arithmetic as d02, corpus-only bucket cap, best-match verdicts
      "d14_incremental_dedup" ->
        s"""WITH batch AS (
           |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents)
           |           AS batch_id,
           |         text || ' incremental tail' AS text
           |  FROM documents WHERE doc_id % 5 = 2
           |  UNION ALL
           |  SELECT doc_id + 2 * (SELECT max(doc_id) + 1 FROM documents),
           |         translate(text, 'aeiou', '01234')
           |  FROM documents WHERE doc_id % 5 = 4),
           |csigs AS MATERIALIZED (
           |  SELECT doc_id, ${sigExprDuck(shingleHashesDuck)} AS sig
           |  FROM documents),
           |cbands AS (
           |  SELECT doc_id, sig, b.band, b.bh
           |  FROM csigs, unnest([${bandExprs("sig", atDuck).zipWithIndex
                .map { case (e, i) => s"{'band': $i, 'bh': $e}" }
                .mkString(", ")}]) AS u(b)),
           |cindex AS (
           |  SELECT doc_id, sig, band, bh FROM cbands
           |  QUALIFY count(*) OVER (PARTITION BY band, bh) <= $BUCKET_CAP),
           |bsigs AS MATERIALIZED (
           |  SELECT batch_id, ${sigExprDuck(shingleHashesDuck)} AS sig
           |  FROM batch),
           |bbands AS (
           |  SELECT batch_id, sig, b.band, b.bh
           |  FROM bsigs, unnest([${bandExprs("sig", atDuck).zipWithIndex
                .map { case (e, i) => s"{'band': $i, 'bh': $e}" }
                .mkString(", ")}]) AS u(b)),
           |cand AS (
           |  SELECT DISTINCT b.batch_id, c.doc_id,
           |         b.sig AS sa, c.sig AS sb
           |  FROM bbands b JOIN cindex c
           |    ON b.band = c.band AND b.bh = c.bh),
           |scored AS (
           |  SELECT batch_id, doc_id,
           |         round(($estJacDuck) * 1000)::BIGINT AS est_pm
           |  FROM cand
           |  WHERE round(($estJacDuck) * 1000)::BIGINT >= 500),
           |best AS (
           |  SELECT batch_id, doc_id AS match_id, est_pm,
           |         row_number() OVER (PARTITION BY batch_id
           |           ORDER BY est_pm DESC, doc_id) AS rn
           |  FROM scored)
           |SELECT b.batch_id,
           |       CASE WHEN w.match_id IS NULL THEN 'novel' ELSE 'dup' END
           |         AS verdict,
           |       coalesce(w.match_id, -1)::BIGINT AS match_id,
           |       coalesce(w.est_pm, 0)::BIGINT AS est_pm
           |FROM batch b
           |LEFT JOIN (SELECT * FROM best WHERE rn = 1) w USING (batch_id)
           |ORDER BY batch_id""".stripMargin,
      // d13: d02's shared corpus/sig/band/pair CTEs + distinct-shingle
      // exact Jaccard, decile census with half-up permille means
      "d13_minhash_calibration" ->
        s"""WITH $d02OracleCtes,
           |p2 AS MATERIALIZED (
           |  SELECT doc_a, doc_b,
           |         round(($estJacDuck) * 1000)::BIGINT AS est_pm
           |  FROM pairs WHERE $estJacDuck >= 0.5),
           |pdocs AS (
           |  SELECT DISTINCT doc_id FROM (
           |    SELECT doc_a AS doc_id FROM p2
           |    UNION ALL SELECT doc_b FROM p2)),
           |sh AS MATERIALIZED (
           |  SELECT c.doc_id, unnest(list_distinct($shingleHashesDuck)) AS h
           |  FROM corpus c JOIN pdocs USING (doc_id)),
           |sz AS (SELECT doc_id, count(*)::BIGINT AS nsh FROM sh GROUP BY doc_id),
           |it AS (
           |  SELECT p.doc_a, p.doc_b, count(*)::BIGINT AS inter
           |  FROM p2 p JOIN sh a ON a.doc_id = p.doc_a
           |            JOIN sh b ON b.doc_id = p.doc_b AND b.h = a.h
           |  GROUP BY p.doc_a, p.doc_b),
           |ex AS (
           |  SELECT p.est_pm, p.est_pm // 100 AS band,
           |         coalesce(it.inter, 0) * 1000
           |           // (na.nsh + nb.nsh - coalesce(it.inter, 0)) AS exact_pm
           |  FROM p2 p LEFT JOIN it ON it.doc_a = p.doc_a AND it.doc_b = p.doc_b
           |  JOIN sz na ON na.doc_id = p.doc_a
           |  JOIN sz nb ON nb.doc_id = p.doc_b)
           |SELECT band, count(*)::BIGINT AS n_pairs,
           |       ((2 * sum(est_pm) + count(*)) // (2 * count(*)))::BIGINT
           |         AS mean_est_pm,
           |       ((2 * sum(exact_pm) + count(*)) // (2 * count(*)))::BIGINT
           |         AS mean_exact_pm,
           |       ((2 * sum(abs(est_pm - exact_pm)) + count(*))
           |        // (2 * count(*)))::BIGINT AS mean_err_pm
           |FROM ex GROUP BY band ORDER BY band""".stripMargin,
      "d01_exact_dedup" ->
        """WITH doubled AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text
          |  FROM documents),
          |marked AS (
          |  SELECT doc_id,
          |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          |  FROM doubled)
          |SELECT doc_id FROM marked WHERE rn > 1 ORDER BY doc_id""".stripMargin,
      "d02_minhash_lsh" ->
        s"""WITH $d02OracleCtes
           |SELECT doc_a, doc_b, $estJacDuck AS est_jaccard
           |FROM pairs WHERE $estJacDuck >= 0.5
           |ORDER BY doc_a, doc_b""".stripMargin,
      "d12_substring_spans" ->
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
           |         text || ' mutated tail' FROM documents),
           |th AS (
           |  SELECT doc_id,
           |         list_transform(string_split(text, ' '),
           |           t -> ($tokPolyDuck)) AS th
           |  FROM corpus),
           |occ AS (
           |  SELECT doc_id, e.pos AS pos, e.h AS h
           |  FROM th, unnest(list_transform(range(1, len(th) - ${SPAN_W - 2}),
           |    i -> {'pos': i, 'h': ${spanFold(j => s"th[i + $j]")}})) AS u(e)),
           |capped AS (
           |  SELECT doc_id, pos, h FROM occ
           |  QUALIFY count(*) OVER (PARTITION BY h) <= $SPAN_DF_CAP),
           |m AS (
           |  SELECT x.doc_id AS doc_a, x.pos AS pos_a,
           |         y.doc_id AS doc_b, y.pos AS pos_b
           |  FROM capped x JOIN capped y
           |    ON x.h = y.h AND x.doc_id < y.doc_id),
           |isl AS (
           |  SELECT doc_a, doc_b, pos_a - pos_b AS diag, pos_a, pos_b,
           |         pos_a - row_number() OVER (
           |           PARTITION BY doc_a, doc_b, pos_a - pos_b
           |           ORDER BY pos_a) AS grp
           |  FROM m)
           |SELECT doc_a, doc_b, min(pos_a) AS a_start, min(pos_b) AS b_start,
           |       max(pos_a) - min(pos_a) + $SPAN_W AS span_len
           |FROM isl GROUP BY doc_a, doc_b, diag, grp
           |HAVING max(pos_a) - min(pos_a) + $SPAN_W >= $SPAN_MIN
           |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin,
      "d03_simhash" ->
        s"""WITH toks AS (
           |  SELECT doc_id, list_transform(string_split(text, ' '),
           |           w -> ($simPoly) % $P) AS th
           |  FROM documents),
           |hashed AS (SELECT doc_id, $simHashed FROM toks),
           |sims AS (SELECT doc_id, ($simBits)::BIGINT AS simhash FROM hashed),
           |blocked AS (
           |  SELECT doc_id, simhash, t.s AS tbl,
           |         (simhash >> (15 * t.s)) & 32767 AS bucket
           |  FROM sims, (SELECT unnest([0, 1, 2, 3]) AS s) t)
           |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           |       bit_count(xor(x.simhash, y.simhash))::INT AS hamming
           |FROM blocked x JOIN blocked y
           |  ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.doc_id < y.doc_id
           |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin,
      "d04_ngram_jaccard" ->
        s"""WITH docs AS (
           |  SELECT doc_id, source,
           |    $gramListDuck AS g
           |  FROM documents),
           |inv AS (
           |  SELECT doc_id, source, len(g) AS n, unnest(g) AS gram FROM docs),
           |kept AS (
           |  SELECT doc_id, source, n, gram FROM inv
           |  QUALIFY count(*) OVER (PARTITION BY source, gram) <= $GRAM_DF_CAP),
           |pairs AS (
           |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           |         x.n AS na, y.n AS nb, count(*) AS inter
           |  FROM kept x JOIN kept y
           |    ON x.gram = y.gram AND x.source = y.source AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2, 3, 4)
           |SELECT doc_a, doc_b,
           |       ((20000 * inter + (na + nb - inter)) // (2 * (na + nb - inter))) / 10000.0 AS jaccard
           |FROM pairs
           |WHERE ((20000 * inter + (na + nb - inter)) // (2 * (na + nb - inter))) / 10000.0 >= 0.02
           |ORDER BY doc_a, doc_b""".stripMargin,
      "d07_decontaminate" ->
        s"""WITH bucketed AS (
           |  SELECT doc_id, text, (doc_id * 2654435761) % 1000 AS b
           |  FROM documents),
           |tg AS (
           |  SELECT doc_id, unnest($gramListDuck) AS gram
           |  FROM bucketed WHERE b < 800),
           |eg AS (
           |  SELECT doc_id, unnest($gramListDuck) AS gram
           |  FROM bucketed WHERE b >= 900),
           |hot AS (
           |  SELECT gram FROM (
           |    SELECT gram, count(*) AS df FROM (
           |      SELECT gram FROM tg UNION ALL SELECT gram FROM eg)
           |    GROUP BY gram)
           |  WHERE df > $GRAM_DF_CAP)
           |SELECT t.doc_id,
           |       count(DISTINCT t.gram) AS n_shared_grams,
           |       count(DISTINCT e.doc_id) AS n_eval_docs
           |FROM (SELECT * FROM tg ANTI JOIN hot USING (gram)) t
           |JOIN (SELECT * FROM eg ANTI JOIN hot USING (gram)) e
           |  USING (gram)
           |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
      // chunk partition key: the oracle partitions by the chunk text
      // itself where Spark partitions by sha2(chunk, 256) — identical
      // grouping modulo SHA-256 collisions (2⁻¹²⁸ at corpus scale).
      "d08_chunk_dedup" ->
        """WITH chs AS (
          |  SELECT doc_id,
          |    list_transform(range(0, CAST(ceil(len(string_split(text, ' ')) / 20.0) AS INT)),
          |      i -> array_to_string(string_split(text, ' ')[i * 20 + 1 : i * 20 + 20], ' ')) AS chunks
          |  FROM documents),
          |ch AS (
          |  SELECT doc_id,
          |         CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS cno,
          |         unnest(chunks) AS chunk
          |  FROM chs),
          |mk AS (
          |  SELECT doc_id, cno, chunk,
          |         {'d': doc_id, 'c': cno} =
          |           min({'d': doc_id, 'c': cno}) OVER (PARTITION BY chunk) AS keep
          |  FROM ch)
          |SELECT doc_id,
          |       count(*) AS n_chunks,
          |       count(*) FILTER (WHERE keep) AS n_kept,
          |       coalesce(string_agg(chunk, ' ' ORDER BY cno) FILTER (WHERE keep), '') AS kept_text
          |FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // d11: same df-capped tf-idf weights (FixedLog centibits; the
      // doc-count log is computed in-query where Spark folds the
      // driver scalar — same integer), same HUGEINT compare-squares
      "d11_tfidf_cosine" ->
        s"""WITH dt AS (
           |  SELECT doc_id, term, count(*)::BIGINT AS tf
           |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           |        FROM documents)
           |  WHERE term <> '' GROUP BY doc_id, term),
           |nd AS (SELECT count(*)::BIGINT AS n FROM documents),
           |ncb AS (SELECT ${graft.ops.FixedLog.duckLog2Cb("n")}::BIGINT AS ncb
           |        FROM nd),
           |voc AS (
           |  SELECT term, count(*)::BIGINT AS df FROM dt GROUP BY term
           |  HAVING count(*) <= $TFIDF_DF_CAP),
           |w AS (
           |  SELECT doc_id, dt.term,
           |         tf * (ncb - ${graft.ops.FixedLog.duckLog2Cb("df")}) AS w
           |  FROM dt JOIN voc ON voc.term = dt.term, ncb),
           |norms AS (
           |  SELECT doc_id, sum(w * w)::BIGINT AS nrm FROM w GROUP BY doc_id),
           |dots AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |         sum(a.w * b.w)::BIGINT AS dot
           |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b,
           |       ((dot::HUGEINT * dot * 1000000000)
           |        // (na.nrm::HUGEINT * nb.nrm))::BIGINT AS cos2_ppb
           |FROM dots
           |JOIN norms na ON na.doc_id = dots.doc_a
           |JOIN norms nb ON nb.doc_id = dots.doc_b
           |WHERE (dot::HUGEINT * dot * 1000000000)
           |      // (na.nrm::HUGEINT * nb.nrm) >= $TFIDF_COS2_PPB
           |ORDER BY doc_a, doc_b""".stripMargin,
      // d10: d05's exact pairs left-joined to d06's shared near CTEs,
      // the same integer band key and permille arithmetic
      "d10_lsh_recall_audit" ->
        s"""WITH $d06OracleNearCtes,
           |exact AS (
           |  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           |         round(list_cosine_similarity(x.embedding::DOUBLE[],
           |                                      y.embedding::DOUBLE[]), 4) AS cos
           |  FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
           |  WHERE round(list_cosine_similarity(x.embedding::DOUBLE[],
           |                                     y.embedding::DOUBLE[]), 4) >= 0.4),
           |j AS (
           |  SELECT CAST(round(e.cos * 10000) AS BIGINT) // 1000 AS band,
           |         CASE WHEN n.doc_a IS NULL THEN 0 ELSE 1 END AS hit
           |  FROM exact e LEFT JOIN near n
           |    ON n.doc_a = e.id_a AND n.doc_b = e.id_b)
           |SELECT band, count(*)::BIGINT AS n_exact, sum(hit)::BIGINT AS n_found,
           |       (sum(hit) * 1000 // count(*))::BIGINT AS recall_permille
           |FROM j GROUP BY band ORDER BY band""".stripMargin,
      "d05_cosine_brute" ->
        """SELECT x.vec_id AS id_a, y.vec_id AS id_b,
          |       round(list_cosine_similarity(x.embedding::DOUBLE[],
          |                                    y.embedding::DOUBLE[]), 4) AS cos
          |FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
          |WHERE round(list_cosine_similarity(x.embedding::DOUBLE[],
          |                                   y.embedding::DOUBLE[]), 4) >= 0.4
          |ORDER BY id_a, id_b""".stripMargin,
      // d06: bucket width from the SAME integer threshold ladder as
      // Lsh.bitsForCount (bitsel CTE — no floating log2, see the
      // Scaladoc there); plane (t, i) literals are tier-independent
      // (planesMax prefix property) and CASE-gated on i < bits. The
      // capped CTEs' QUALIFY window mirrors the engine's hot-bucket
      // anti-join — ONE shared definition, so the cap cannot be retuned
      // on one engine only.
      // d09: the same shared bitsel/capped-bucket CTEs as d06, with the
      // p02 split rule as cross-side filters on the bucket join; the
      // cosine re-check joins embeddings back by id, exactly like the
      // engine's re-join discipline
      "d09_semantic_decontaminate" ->
        s"""WITH nrows AS (SELECT count(*) AS n FROM embeddings),
           |${graft.vec.Lsh.duckBitselCte},
           |${graft.vec.Lsh.duckTieredCappedCtes},
           |cand AS (
           |  SELECT DISTINCT t.vec_id AS tid, e.vec_id AS eid
           |  FROM bucketed t JOIN bucketed e
           |    ON t.tbl = e.tbl AND t.bucket = e.bucket
           |  WHERE (t.vec_id * 2654435761) % 1000 < 800
           |    AND (e.vec_id * 2654435761) % 1000 >= 900),
           |hits AS (
           |  SELECT c.tid,
           |         round(list_cosine_similarity(a.embedding::DOUBLE[],
           |                                      b.embedding::DOUBLE[]), 4) AS cos
           |  FROM cand c
           |  JOIN embeddings a ON a.vec_id = c.tid
           |  JOIN embeddings b ON b.vec_id = c.eid)
           |SELECT tid AS vec_id, count(*) AS n_eval_hits, max(cos) AS max_cos
           |FROM hits WHERE cos >= 0.4
           |GROUP BY tid ORDER BY vec_id""".stripMargin,
      "d06_cosine_lsh" ->
        s"""WITH $d06OracleNearCtes
           |SELECT n.doc_a AS id_a, n.doc_b AS id_b,
           |       round(list_cosine_similarity(a.embedding::DOUBLE[],
           |                                    b.embedding::DOUBLE[]), 4) AS cos
           |FROM near n
           |JOIN embeddings a ON a.vec_id = n.doc_a
           |JOIN embeddings b ON b.vec_id = n.doc_b
           |ORDER BY id_a, id_b""".stripMargin)
  }

  /** d06's capped-LSH candidate pipeline as a reusable CTE chain (no
    * leading WITH) ending at `near(doc_a, doc_b)` — ONE definition shared
    * by the d06 oracle and c07's semantic-dedup oracle, so the embedding
    * pair set (bitsel ladder, bucket cap, 0.4 cosine threshold) cannot be
    * retuned on one consumer only. */
  private[ops] def d06OracleNearCtes: String =
    s"""nrows AS (SELECT count(*) AS n FROM embeddings),
       |${graft.vec.Lsh.duckBitselCte},
       |${graft.vec.Lsh.duckTieredCappedCtes},
       |near AS (
       |  SELECT DISTINCT x.vec_id AS doc_a, y.vec_id AS doc_b
       |  FROM bucketed x JOIN bucketed y
       |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
       |  WHERE round(list_cosine_similarity(x.embedding::DOUBLE[],
       |                                     y.embedding::DOUBLE[]), 4) >= 0.4)""".stripMargin

}
