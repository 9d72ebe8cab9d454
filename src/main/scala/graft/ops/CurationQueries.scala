package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables

/** The composed training-data curation pipeline (builder prompt): the
  * individual operators (quality scoring t02, exact dedup d01, budgeted
  * selection) chained the way a real corpus-curation job runs them —
  * score → dedup → floor-filter → per-language budget.
  *
  * Scale shape: one narrow scoring pass over the scan, then exactly two
  * shuffles — the dedup window, keyed by a 256-bit content digest so the
  * shuffle carries 32 bytes/row instead of the document body (collisions
  * are cryptographically negligible; the oracle partitions by the raw
  * text and must agree), and the per-language ranking window. The
  * per-language budget is a top-N, so the final stage emits at most
  * langs × N rows however large the input is.
  */
object CurationQueries {

  type Q = (SparkSession, String) => DataFrame

  private val PER_LANG_BUDGET = 40

  /** c01: score → exact-dedup (keep min id) → quality floor → top-40 per
    * language by (quality DESC, doc_id). Quality is t02's formula
    * (integer half-up division — engine-divergence-safe). */
  val c01_curation_pipeline: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .selectExpr(
        "doc_id", "lang", "text",
        "size(split(text, ' ')) AS n_words",
        s"${TextQueries.hitExpr(TextQueries.markers.head._2)} AS sw_hits",
        "size(array_distinct(split(text, ' '))) AS n_distinct")
      .selectExpr("doc_id", "lang", "text", "n_words",
        s"${TextQueries.qualityExpr} AS quality")
    val dedupW = Window.partitionBy(col("digest")).orderBy(col("doc_id").asc)
    val deduped = base
      .withColumn("digest", sha2(col("text"), 256))
      .drop("text") // the shuffle below carries the digest, not the body
      .withColumn("rn", row_number().over(dedupW))
      .filter(col("rn") === 1)
      .drop("rn", "digest")
    val kept = deduped.filter(col("quality") >= expr(TextQueries.QUALITY_FLOOR + "D"))
    val budgetW = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    kept
      .withColumn("rk", row_number().over(budgetW))
      .filter(col("rk") <= PER_LANG_BUDGET)
      .select(col("doc_id"), col("lang"), col("rk"),
        col("quality"), col("n_words"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Near-dup CLUSTER resolution as a standalone operator: connected
    * components over a PAIR SET (columns doc_a, doc_b), labeling every
    * involved doc with the min doc_id of its component. Pair lists
    * aren't actionable by themselves: a curation job keeps one canonical
    * doc per transitive cluster, and transitivity is exactly what the
    * pairwise output lacks.
    *
    * Takes the pairs as a DataFrame rather than recomputing them — in
    * production the pair set is an ARTIFACT produced once by whichever
    * near-dup pass ran (d02/d03/d04/d06), exactly like n04's saved-index
    * discipline; at 100 TB re-deriving MinHash signatures inside the
    * clustering job would double the most expensive dedup stage
    * (VERDICT r03 #1). The oracled c02 entry below is a thin wrapper
    * that materializes d02's pairs once and calls this.
    *
    * Iterative min-label propagation with POINTER DOUBLING: each round a
    * node takes the min of its own label, its neighbors' labels, and its
    * label's label (the doubling join) — converging in O(log diameter)
    * rounds instead of O(diameter). Every round is two hash joins + one
    * min-aggregate on thin (node, lbl) rows; the driver loop only
    * compares the (monotonically decreasing) label-sum fixpoint, so this
    * is a distributed iterative algorithm, not a driver-side data loop.
    * Measured on this corpus: largest component 156 nodes / diameter ≈14
    * at sf0.1 → 5-6 rounds. The 40-round hard stop: min-label jumping
    * is NOT parent-pointer halving — measured convergence is
    * ≈ diameter/2 rounds (sf1's 29,717-node giant component, diameter
    * ≈54 by double-sweep BFS, converges in 24), so 40 rounds covers
    * component diameter ≈80, comfortably above what BUCKET_CAP-bounded
    * near-dup graphs produce; past it `require(converged)` fails LOUDLY
    * rather than emitting wrong labels. The c02/c06 DuckDB oracles
    * unroll this same recurrence for the same 40 rounds
    * (CLOSURE_ROUNDS), so the convergence budget cannot drift between
    * engines. */
  /** Flat per-round materialization for iterative plans: an RDD[Row]
    * round-trip + createDataFrame yields a LogicalRDD with NO reference
    * to the producing plan. `Dataset.localCheckpoint(true)` truncates
    * EXECUTION lineage but (observed at the 10× stress gate) each
    * checkpointed Dataset still chains origin STATS estimation — with
    * enough rounds the driver sat 100% in `statsEstimation` for tens of
    * minutes while executors idled. The RDD detour is immune: stats
    * fall back to size defaults, exactly right for a label table that
    * is thin by construction. RDD-level localCheckpoint still cuts the
    * RDD lineage (the re-execution fault story); count() keeps the
    * eager-materialization semantics the round loop assumes. */
  private def materializeFlat(df: DataFrame): DataFrame = {
    val rdd = df.rdd
    rdd.localCheckpoint()
    val out = df.sparkSession.createDataFrame(rdd, df.schema)
    out.count()
    out
  }

  /** [[materializeFlat]] that folds the caller's fixpoint probe into the
    * MATERIALIZING action itself: one job per round computes the rows,
    * checkpoints them, and returns (count, Σ lblCol) — the old shape paid
    * a second full job per round just to read the sum back. */
  private def materializeFlatWithSum(
      df: DataFrame, lblCol: String): (DataFrame, Long, Long) = {
    val rdd = df.rdd
    rdd.localCheckpoint()
    val out = df.sparkSession.createDataFrame(rdd, df.schema)
    val row = out.agg(count(lit(1)), sum(col(lblCol))).head()
    (out, row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  def clusterPairs(pairs: DataFrame): DataFrame = {
    // per-round materialization is mandatory in iterative plans: without
    // it every round embeds the previous round's logical plan (×3: self
    // ∪ neighbor ∪ jump), so the tree Catalyst re-analyzes per action
    // grows as 3^rounds — observed minutes of pure planning by round ~8.
    // Materialize `pairs` FIRST: the symmetrizing union references it
    // twice, and an unmaterialized caller pipeline (a full d02 run, say)
    // would otherwise execute twice before the loop even starts.
    val p = materializeFlat(pairs.select(col("doc_a"), col("doc_b")))
    val edges = materializeFlat(p
      .unionByName(p.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst"))
    var (labels, nNodes, prevSum) = materializeFlatWithSum(
      edges.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")), "lbl")
    // no pairs → no clusters: skip the loop (sum over zero rows is NULL)
    if (nNodes > 0) {
      // the label row count is round-constant, so one count sizes every
      // round's label joins
      var converged = false
      var iter = 0
      while (!converged && iter < 40) {
        val nbr = edges
          .join(Joins.small(labels, nNodes), edges("dst") === labels("node"))
          .select(edges("src").as("node"), col("lbl"))
        val jump = labels.as("a")
          .join(Joins.small(labels.as("b"), nNodes), col("a.lbl") === col("b.node"))
          .select(col("a.node").as("node"), col("b.lbl").as("lbl"))
        val (next, _, nextSum) = materializeFlatWithSum(
          labels.unionByName(nbr).unionByName(jump)
            .groupBy(col("node")).agg(min(col("lbl")).as("lbl")), "lbl")
        labels = next
        converged = nextSum == prevSum // labels only ever decrease
        prevSum = nextSum
        iter += 1
      }
      require(converged, s"label propagation did not converge in $iter rounds")
    }
    labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** c02 (oracled entry): thin wrapper — [[clusterPairs]] over d02's
    * pair set (materialized once inside the operator, the in-session
    * stand-in for a saved pair artifact). The oracle computes the same
    * fixpoint as a recursive min-reachability CTE over the identical
    * d02 CTE chain. */
  /** c02's (doc_id, cluster_id) label table, memoized per (session, dir):
    * the closure over [[DedupQueries.d02Pairs]] is the second expensive
    * artifact in the dedup chain, and c02/c06/c09 all read exactly this
    * table. Like the pair set, it is computed once and audited many times. */
  private[graft] def d02Labels(s: SparkSession, d: String): DataFrame =
    graft.engine.ArtifactCache.memoize(s, d, "d02_labels") {
      clusterPairs(DedupQueries.d02Pairs(s, d))
    }

  /** c07's label table over the embedding-space pair set ([[d02Labels]]'s
    * twin for [[DedupQueries.d06Pairs]]). */
  private[graft] def d06Labels(s: SparkSession, d: String): DataFrame =
    graft.engine.ArtifactCache.memoize(s, d, "d06_labels") {
      clusterPairs(DedupQueries.d06Pairs(s, d)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
    }

  val c02_dedup_clusters: Q = (s, d) => d02Labels(s, d)

  /** c06: cluster REPRESENTATIVE selection — the production near-dup
    * output: one canonical doc per transitive cluster chosen by QUALITY
    * (t02's formula, tie → min doc_id), not by min id. c01 collapses
    * only exact duplicates and c02 stops at cluster labels; this is the
    * step that actually decides which near-dup survives, and choosing
    * the best-quality member (instead of an arbitrary id) is measurably
    * what corpus pipelines do before training. Unclustered docs are
    * their own singleton cluster and always survive.
    *
    * Scale shape: labels ride [[clusterPairs]] (thin iterative joins);
    * quality is a narrow projection; the selection itself is ONE
    * cluster_id-keyed window over (doc_id, cluster, quality) rows —
    * the corpus body never shuffles. A pathologically giant cluster
    * would hot-spot the window partition, but cluster size is bounded
    * upstream by d02's BUCKET_CAP pair discipline. */
  /** The operator proper: representative selection over EXISTING
    * (doc_id, cluster_id) labels and (doc_id, quality) scores — both
    * ARTIFACTS in production (the pair set and the quality table are
    * produced once; re-deriving either inside the selection job would
    * repeat the most expensive dedup stage — clusterPairs' discipline,
    * VERDICT r03 #1). The oracled c06 entry below is the thin
    * self-contained wrapper that derives both in-session. */
  def clusterReps(labels: DataFrame, quality: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    quality
      // clusterPairs returns a stats-less LogicalRDD (materializeFlat),
      // so Catalyst would fall back to SortMergeJoin; force the hash
      // dispatch (c04's id-join discipline — labels are corpus-sized at
      // scale, so shuffle-hash, not broadcast).
      //
      // UNIVERSE CONTRACT (left join is load-bearing): `quality` defines
      // the corpus — every corpus doc must have a quality row, and a
      // label node with no quality row is treated as NON-CORPUS and
      // excluded. That asymmetry is required: d02-style pair sets carry
      // synthetic variant nodes (doc_id + 100000 planted mutations)
      // that must not surface as output rows, so the operator cannot
      // distinguish "synthetic node" from "corpus doc someone forgot to
      // score". Callers passing a FILTERED quality table (e.g. only c03
      // survivors) therefore get reps chosen among survivors only —
      // pass the full corpus scoring if every cluster member must
      // compete (pinned by OperatorBehaviorSpec's universe test).
      .join(labels.select(col("doc_id"), col("cluster_id").as("lbl"))
        .hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("lbl"), col("doc_id")))
      .drop("lbl")
      .withColumn("rep_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster_id"), col("rep_id"),
        (col("doc_id") === col("rep_id")).cast("int").as("kept"),
        col("quality"))
      .orderBy(col("doc_id"))
  }

  val c06_cluster_reps: Q = (s, d) =>
    clusterReps(
      d02Labels(s, d),
      Tables.documents(s, d)
        .selectExpr(
          "doc_id", "lang", "text",
          "size(split(text, ' ')) AS n_words",
          s"${TextQueries.hitExpr(TextQueries.markers.head._2)} AS sw_hits",
          "size(array_distinct(split(text, ' '))) AS n_distinct")
        .selectExpr("doc_id", s"${TextQueries.qualityExpr} AS quality"))

  /** c07: SEMANTIC dedup — the SemDeDup-shaped pipeline (near-dup
    * resolution in EMBEDDING space): d06's capped-LSH cosine pairs →
    * [[clusterPairs]] transitive clusters → [[clusterReps]] keeps ONE
    * representative per semantic cluster. Lexical dedup (d02/c06)
    * misses paraphrases and translations; clustering the embedding
    * near-dup graph is how production corpora remove them (SemDeDup,
    * Abbas et al. 2023 — public paper; there the rep is chosen per
    * k-means cluster, here per LSH-graph component, same contract).
    * The representative score is DOCUMENT LENGTH (n_chars — keep the
    * longest member, tie → min id): a pure table column, standing in
    * for whatever scoring artifact production supplies (c06 shows the
    * t02-quality variant; [[clusterReps]] takes both as inputs).
    *
    * Scale shape: inherits d06's bucketed candidate discipline (capped
    * buckets, embeddings never ride a shuffle), clusterPairs' thin
    * iterative joins, and clusterReps' single cluster-keyed window over
    * (id, cluster, score) rows — the embedding table is scanned once
    * and the document body never shuffles at all. */
  val c07_semantic_dedup: Q = (s, d) =>
    clusterReps(
      d06Labels(s, d),
      Tables.documents(s, d)
        .selectExpr("doc_id", "CAST(n_chars AS DOUBLE) AS quality"))

  /** c03: rule-gauntlet quality filter — the C4/Gopher-style hard-rule
    * pass a corpus runs BEFORE model-based scoring: word-count bounds,
    * mean-word-length bounds, a stopword-presence requirement (English
    * only — the classic C4 rule), and a duplicate-word-fraction cap.
    * Emits every document with one 0/1 flag per rule plus the conjunction,
    * so downstream jobs can audit WHICH rule dropped a document (the
    * operational requirement that separates a curation pipeline from a
    * filter). All comparisons are integer cross-multiplications — no
    * ratio arithmetic to diverge between engines. Pure narrow projection:
    * zero shuffle at any scale. */
  val c03_quality_filter: Q = (s, d) => {
    Tables.documents(s, d)
      .selectExpr(
        "doc_id", "lang",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_words",
        // chars in words = total minus separators (single-space joined)
        "CAST(length(replace(text, ' ', '')) AS BIGINT) AS wchars",
        s"CAST(${TextQueries.hitExpr(TextQueries.markers.head._2)} AS BIGINT) AS sw_hits",
        "CAST(size(array_distinct(split(text, ' '))) AS BIGINT) AS n_distinct")
      .selectExpr(
        "doc_id", "lang", "CAST(n_words AS INT) AS n_words",
        "CAST(n_words BETWEEN 30 AND 100000 AS INT) AS len_ok",
        // mean word length in [4.0, 5.2]: 10·wchars ⋚ {40,52}·n_words
        "CAST(10 * wchars >= 40 * n_words AND 10 * wchars <= 52 * n_words AS INT) AS mwl_ok",
        "CAST(lang <> 'en' OR sw_hits >= 2 AS INT) AS sw_ok",
        // duplicate-word fraction ≤ 0.5: 2·(n_words − n_distinct) ≤ n_words
        "CAST(2 * (n_words - n_distinct) <= n_words AS INT) AS rep_ok")
      .selectExpr("doc_id", "lang", "n_words",
        "len_ok", "mwl_ok", "sw_ok", "rep_ok",
        "len_ok * mwl_ok * sw_ok * rep_ok AS kept")
      .orderBy(col("doc_id"))
  }

  /** c04: the FULL composed corpus pipeline as an AUDIT TABLE — every
    * stage a pretraining corpus actually runs, in production order, with
    * one flag column per stage so a dropped document is attributable
    * (the same operational requirement as c03, extended to the whole
    * flow): rule gauntlet (c03's conjunction) → exact dedup among
    * survivors → train/val/test split (p02's hash) → train-vs-test
    * 3-gram decontamination (d07's df-capped join) → domain-balanced
    * mixture over the clean train pool (p03's fair-share rates, a
    * SECOND independent hash so mixture and split don't correlate).
    * `final` = the rows of the training corpus.
    *
    * Stage semantics are SEQUENTIAL — each stage sees only the prior
    * stage's survivors (dedup canonicals are chosen among
    * gauntlet-passers; mixture rates are computed over the clean train
    * pool) — because that is how the stages compose in a real run, and
    * reordering changes the result.
    *
    * Scale shape: flags and split are narrow; the dedup window shuffles
    * thin (doc_id, digest) rows and rejoins by id (the body never
    * shuffles, as c01); decontamination is d07's df-capped gram join
    * with the eval side broadcast-size at scale; the mixture rate table
    * is a broadcast join. Every corpus-wide shuffle in the plan carries
    * ids/digests/grams — never document text. */
  val c04_corpus_pipeline: Q = (s, d) => {
    val gauntletExpr =
      """CAST(n_words BETWEEN 30 AND 100000 AS INT)
        | * CAST(10 * wchars >= 40 * n_words AND 10 * wchars <= 52 * n_words AS INT)
        | * CAST(lang <> 'en' OR sw_hits >= 2 AS INT)
        | * CAST(2 * (n_words - n_distinct) <= n_words AS INT)""".stripMargin
    // cached: the gauntlet's four text-derived censuses are the most
    // expensive per-row work in the pipeline and `staged` feeds THREE
    // subtrees (the dedup digest, the pool, and the final audit join) —
    // uncached, each subtree re-ran the text expressions over the corpus
    val staged = Tables.documents(s, d)
      .selectExpr(
        "doc_id", "lang", "text",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_words",
        "CAST(length(replace(text, ' ', '')) AS BIGINT) AS wchars",
        s"CAST(${TextQueries.hitExpr(TextQueries.markers.head._2)} AS BIGINT) AS sw_hits",
        "CAST(size(array_distinct(split(text, ' '))) AS BIGINT) AS n_distinct")
      .selectExpr("doc_id", "lang", "text",
        s"$gauntletExpr AS gauntlet",
        """CASE WHEN pmod(doc_id * 2654435761, 1000) < 800 THEN 'train'
          |     WHEN pmod(doc_id * 2654435761, 1000) < 900 THEN 'val'
          |     ELSE 'test' END AS split""".stripMargin)
      .cache()
    // dedup among gauntlet survivors: thin (doc_id, digest) window
    val dedupW = Window.partitionBy(col("digest")).orderBy(col("doc_id").asc)
    val dup = staged.filter(col("gauntlet") === 1)
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
      .withColumn("dup", (row_number().over(dedupW) > 1).cast("int"))
      .select(col("doc_id"), col("dup"))
    // id-keyed corpus×flags joins: force shuffled-HASH dispatch — the
    // static planner defaults these unknown-size joins to SortMergeJoin,
    // and at corpus scale an id equi-join needs no sort on either side
    val pool = staged.hint("shuffle_hash")
      .join(dup, Seq("doc_id")).filter(col("dup") === 0)
    // decontamination: df-capped 3-gram join, train pool vs test pool.
    // ONE gram explode + cache over train∪test (split rides along) — the
    // two-cache shape ran the gram UDF in two passes and paid two
    // materializing counts; the hot census over the union is unchanged.
    val gramsTT = pool.filter(col("split").isin("train", "test"))
      .select(col("doc_id"), col("split"),
        explode(DedupQueries.gramUdf(col("text"))).as("gram"))
      .cache()
    gramsTT.count() // materialize before the df-agg probes
    val trainG = gramsTT.filter(col("split") === "train")
      .select(col("doc_id"), col("gram"))
    val evalG = gramsTT.filter(col("split") === "test")
      .select(col("doc_id"), col("gram"))
    val hot = gramsTT
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") > DedupQueries.GRAM_DF_CAP)
      .select(col("gram"))
    val contam = trainG.join(hot, Seq("gram"), "left_anti")
      .join(evalG.join(hot, Seq("gram"), "left_anti")
        .select(col("gram")), Seq("gram"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("contam", lit(1))
    // mixture over the clean train pool — SECOND hash (xxhash prime 2),
    // independent of the split hash, so rates don't correlate with splits
    val pool2 = pool.filter(col("split") === "train")
      .join(contam, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"))
    val all = Window.partitionBy()
    val rates = pool2.groupBy(col("lang")).agg(count(lit(1)).as("n_s"))
      .withColumn("total", sum(col("n_s")).over(all))
      .withColumn("n_dom", count(lit(1)).over(all))
      .selectExpr("lang",
        "least(CAST(1000 AS BIGINT), ((total div n_dom) * 1000) div n_s) AS keep_rate")
    val mixed = pool2.join(broadcast(rates), Seq("lang"))
      .selectExpr("doc_id", "keep_rate",
        "CAST(pmod(doc_id * 2246822519, 1000) < keep_rate AS INT) AS mixed")
    staged.select(col("doc_id"), col("lang"), col("split"), col("gauntlet"))
      .join(dup.hint("shuffle_hash"), Seq("doc_id"), "left")
      .join(contam.hint("shuffle_hash"), Seq("doc_id"), "left")
      .join(mixed.hint("shuffle_hash"), Seq("doc_id"), "left")
      .selectExpr("doc_id", "lang", "split", "gauntlet",
        "coalesce(dup, 0) AS dup",
        "coalesce(contam, 0) AS contam",
        "coalesce(keep_rate, CAST(0 AS BIGINT)) AS keep_rate",
        "coalesce(mixed, 0) AS mixed",
        "coalesce(mixed, 0) AS final")
      .orderBy(col("doc_id"))
  }

  /** c05 span geometry: fixed 16-word windows; a span is boilerplate
    * when it appears verbatim in ≥ 3 distinct documents (census at
    * sf0.01: 7 spans at df≥3, max df 5; the df=2 tail alone is 62
    * spans — too aggressive for near-dup-heavy data). */
  private[ops] val SPAN_WORDS = 16
  private[ops] val SPAN_HOT_DF = 3

  /** Upper bound on the collected hot-span hash set (~100 MB as JVM
    * String-set entries): "ubiquitous content has few distinct values"
    * is a heuristic, not a law, so refuse loudly — like d05's guard —
    * rather than silently OOM the driver on a template-explosion
    * corpus. Enforced by LIMITing the collect itself, so the driver
    * never materializes more than the bound no matter the census size.
    * Past this bound, rewrite stage 2 as a broadcast-join against the
    * hot table (d02/d04's hot-set anti-join shape). */
  private val SPAN_HOT_MAX = 1000000

  private val HEX_CHARS = "0123456789abcdef".toCharArray
  // one MessageDigest per executor thread: getInstance per ROW is a
  // provider lookup + allocation on the hot path (object is per-JVM
  // static, so the UDF closure serializes a reference, not the pool)
  private val md5Pool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Lowercase-hex MD5 matching Spark's and DuckDB's `md5()` exactly;
    * table-lookup formatting (a per-byte f"%02x" is 16 format-spec
    * parses per span). */
  private[ops] def md5Hex(s: String): String = {
    val d = md5Pool.get() // digest() below leaves it reset for the next call
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HEX_CHARS((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HEX_CHARS(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Span list of a doc, ONE definition for both c05 stages: consecutive
    * SPAN_WORDS-word windows of the split text (ragged tail kept). */
  private def spanExpr(wordsCol: String): String =
    s"transform(sequence(0, (size($wordsCol) - 1) div $SPAN_WORDS), " +
      s"i -> array_join(slice($wordsCol, i * $SPAN_WORDS + 1, $SPAN_WORDS), ' '))"

  /** c05: span-level BOILERPLATE REMOVAL (RefinedWeb/CCNet-style line
    * dedup, adapted to this corpus's newline-free text as fixed 16-word
    * spans): drop every span whose verbatim content occurs in ≥ 3
    * distinct documents — headers, navigation, license blurbs — and
    * rebuild each document from its surviving spans, in order.
    *
    * Scale shape, two stages:
    *  1. hot-span census — the ONLY corpus-wide shuffle, and it carries
    *     (md5 hash, doc_id) pairs, never span text; partial-distinct
    *     map-side combine collapses each partition to its distinct
    *     (hash, doc) set first. The hot SET is tiny by construction
    *     (ubiquitous content has few distinct values — same argument as
    *     d02/d04's df caps) and is collected + broadcast as a literal.
    *  2. rebuild — a pure NARROW map over the scan: each doc filters its
    *     own span list against the broadcast hash SET (a compiled UDF
    *     with O(1) set probes per span — a plan-literal array would cost
    *     O(|hot|) per span and bloat every task's plan copy). No join,
    *     no second shuffle; at 100 TB the corpus streams through stage 2
    *     once. */
  val c05_boilerplate_spans: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .withColumn("words", split(col("text"), " "))
    val hot: Array[String] = docs
      .selectExpr("doc_id", s"explode(${spanExpr("words")}) AS span")
      .select(md5(col("span")).as("h"), col("doc_id"))
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= SPAN_HOT_DF)
      .select(col("h")).limit(SPAN_HOT_MAX + 1).collect().map(_.getString(0))
    require(hot.length <= SPAN_HOT_MAX,
      s"c05 hot-span set exceeds $SPAN_HOT_MAX — use the " +
        "broadcast-join variant for template-explosion corpora")
    val bcHot = s.sparkContext.broadcast(hot.toSet)
    val keepSpans = udf { (spans: Seq[String]) =>
      if (spans == null) null // null text → null spans, like the HOF form
      else spans.filter(sp => !bcHot.value.contains(md5Hex(sp)))
    }
    docs
      .withColumn("spans", expr(spanExpr("words")))
      .withColumn("kept", keepSpans(col("spans")))
      .select(col("doc_id"),
        size(col("spans")).cast("long").as("n_spans"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Synchronous label-propagation rounds over the k-NN graph (c08).
    * 3 suffices on the LSH-bucketed test graphs (≥ 2 hops past every
    * seed's neighborhood); production corpora tune it like
    * [[CLOSURE_ROUNDS]] — each extra round is one thin join. */
  val LP_ROUNDS = 3

  /** Seed rule: every 5th vector keeps its gold label (vec_id ≡ 0 mod
    * 5) — deterministic, so "is this node a seed" is a FILTER on both
    * engines, never a membership join. */
  private val LP_SEED_MOD = 5L

  /** c08: GRAPH LABEL PROPAGATION — semi-supervised auto-labeling over
    * the n09 k-NN graph, the canonical USE of a persisted k-NN graph in
    * a training-data pipeline (20% gold seeds annotate the rest of the
    * corpus). [[LP_ROUNDS]] synchronous rounds: every non-seed node
    * takes the MAJORITY label of its out-neighbors' previous-round
    * labels (tie → min label, unlabeled neighbors abstain); seeds are
    * clamped. The graph is n09's output VERBATIM (same Spark builder,
    * same oracle CTEs), so c08's propagation is hash-checked over the
    * exact edge set n09 itself is hash-checked on.
    *
    * Scale shape: edges are ≤ 3·N thin (src, nbr) rows, cached once;
    * each round is one nbr-keyed join of the current label table
    * (≤ N thin rows) + one (src, lbl) count aggregate + one per-src
    * argmax window — all graph-sized, the corpus' embeddings never
    * appear after the edge build. The 3-round loop unrolls into ONE
    * lazy linear plan (each round references the previous label table
    * exactly once — no per-round checkpoint, no per-round action);
    * round joins broadcast the node-sized label table below the counted
    * bound and shuffle-hash above it. Seed clamping is a `vec_id % 5`
    * filter, not an anti-join. */
  val c08_label_propagation: Q = (s, d) => {
    val edges = AnnQueries.n09Graph(s, d)
    val seeds = Tables.embeddings(s, d)
      .filter(col("vec_id") % LP_SEED_MOD === 0)
      .select(col("vec_id"), col("label").cast("long").as("lbl"))
      .localCheckpoint(false) // materialized by the seeds.count() job below
    // each round references the previous label table exactly ONCE
    // (lab → votes → inferred → lab'), so the unrolled plan is linear in
    // rounds — no per-round eager checkpoint needed (c11's argument; the
    // old shape paid LP_ROUNDS materializing actions). The label table
    // joined each round is lab = seeds ∪ inferred, which grows to EVERY
    // node (≈ LP_SEED_MOD × seeds) — size it on that, not on the seed
    // count alone (ADVICE r09)
    val labRows = seeds.count() * LP_SEED_MOD
    var lab = seeds
    for (_ <- 1 to LP_ROUNDS) {
      val votes = edges
        .join(Joins.small(lab.select(col("vec_id").as("nbr"), col("lbl")), labRows),
          "nbr")
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("v"))
      val w = Window.partitionBy(col("src"))
        .orderBy(col("v").desc, col("lbl").asc)
      val inferred = votes
        .filter(col("src") % LP_SEED_MOD =!= 0)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("vec_id"), col("lbl"))
      lab = seeds.unionByName(inferred)
    }
    lab.selectExpr("vec_id", "lbl",
        s"CAST(vec_id % $LP_SEED_MOD = 0 AS INT) AS is_seed")
      .orderBy(col("vec_id"))
  }

  /** Synchronous power-iteration rounds for c11. 10 is the conventional
    * fixed-budget PageRank cut (residual ∝ 0.85^r; rank ORDER stabilizes
    * long before values converge — Page et al. 1999 report ~50 rounds to
    * full convergence but usable orderings in ~10). The operator is
    * DEFINED as the 10-round iterate, so both engines run the identical
    * recurrence and the output is hash-exact, not convergence-dependent. */
  val PR_ROUNDS = 10

  /** Rank mass is integer PARTS-PER-BILLION of the unit distribution —
    * every division is a BIGINT floor, so no float ever materializes. */
  val PR_SCALE = 1000000000L

  /** c11: PAGERANK CORPUS IMPORTANCE — fixed-budget power iteration
    * over the n09 k-NN graph, the graph-centrality signal curation
    * pipelines use to weight training data (a vector many vectors name
    * as a near neighbor is a dense-region representative; isolated
    * tails rank at teleport mass). The graph is n09's edge set VERBATIM
    * (same builder, same oracle CTEs — c08's discipline), nodes are ALL
    * vectors (bucket-isolated ones receive teleport only). Per round:
    * contrib(u) = r(u) div outdeg(u), r'(v) = teleport + (85·Σ contrib)
    * div 100 — all BIGINT floor divisions, so Spark `div` ≡ DuckDB `//`
    * on the non-negative domain and the ranks are hash-exact. Dangling
    * mass (nodes the cap isolated) and floor remainders are DROPPED,
    * not redistributed — deterministic and identical on both engines,
    * documented in lieu of the stochastic-matrix renormalization a
    * float implementation would apply.
    *
    * Scale shape: the corpus appears only in the edge build (memoized
    * artifact); each round is one (src)-keyed broadcast-free join of
    * the thin rank table against ≤ 3N edges + one (nbr) aggregate +
    * one left join back to N node rows — O(rounds·(V+E)) with 8-byte
    * values riding the shuffles. Per-round localCheckpoint truncates
    * the iterative lineage (c02's discipline). At 100 TB the rank
    * table is a thin column store beside the edge artifact; rounds are
    * embarrassingly shuffle-bound, the classic distributed-PageRank
    * shape. */
  val c11_pagerank: Q = (s, d) => {
    val edges = AnnQueries.n09Graph(s, d)
    val nodes = Tables.embeddings(s, d).select(col("vec_id"))
      .localCheckpoint(false)
    val n = nodes.count() // this job also materializes the lazy checkpoint
    val teleport = (15L * PR_SCALE) / (100L * n)
    val outd = edges.groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("outdeg"))
      .localCheckpoint(true)
    // UNLIKE clusterPairs, each round references the previous round's
    // rank exactly ONCE (rank → in → rank'), so the unrolled plan is
    // LINEAR in rounds and needs no per-round eager checkpoint — the old
    // shape paid 10 materializing actions plus their dispatch; this one
    // is a single action whose tree Catalyst plans once. The rank/outd/in
    // tables are all node-sized: n rows each.
    var rank = nodes.withColumn("r", lit(PR_SCALE / n))
    for (_ <- 1 to PR_ROUNDS) {
      val in = edges
        .join(Joins.small(rank.select(col("vec_id").as("src"), col("r")), n), "src")
        .join(Joins.small(outd, n), "src")
        .groupBy(col("nbr"))
        .agg(sum(expr("r div outdeg")).as("inr"))
      rank = nodes
        .join(Joins.small(in.select(col("nbr").as("vec_id"), col("inr")), n),
          Seq("vec_id"), "left")
        .selectExpr("vec_id",
          s"CAST($teleport + 85 * coalesce(inr, CAST(0 AS BIGINT)) div 100 AS BIGINT) AS r")
    }
    rank.select(col("vec_id"), col("r").as("rank_ppb"))
      .orderBy(col("rank_ppb").desc, col("vec_id").asc)
  }

  /** c12: DUPLICATION×QUALITY INTERACTION — mean document quality per
    * near-dup cluster size: the report that answers "are my duplicated
    * documents the good ones or the spam?", which decides whether
    * dedup should keep one-per-cluster (dups are spam: means fall with
    * size) or quality-rerank first (dups are canon: templates, legal
    * boilerplate, popular articles). Composes two ARTIFACTS — c02's
    * cluster labels and t02's ×10⁴ integer quality — exactly like c06;
    * unclustered docs are size-1 singletons (c06's coalesce contract).
    * Means are the half-up integer division (c10's formula): the whole
    * report is BIGINT, hash-exact.
    *
    * Scale shape: one narrow quality pass, one broadcast-or-shuffle
    * join against the thin label artifact, one cluster-sized window
    * (cluster size is BUCKET_CAP-bounded upstream), two tiny censuses.
    * The corpus body never shuffles. */
  val c12_dup_quality: Q = (s, d) => {
    val q4 = Tables.documents(s, d)
      .selectExpr("doc_id",
        "size(split(text, ' ')) AS n_words",
        s"${TextQueries.hitExpr(TextQueries.markers.head._2)} AS sw_hits",
        "size(array_distinct(split(text, ' '))) AS n_distinct")
      .selectExpr("doc_id",
        s"CAST(round((${TextQueries.qualityExpr}) * 10000.0D) AS BIGINT) AS q4")
    // shuffle-hash dispatch (c06's discipline): the label artifact is a
    // stats-less LogicalRDD, and at scale it is corpus-sized — SMJ's
    // double sort buys nothing over a hash probe on thin (id, label) rows
    val labeled = q4
      .join(d02Labels(s, d).select(col("doc_id"), col("cluster_id"))
          .hint("shuffle_hash"),
        Seq("doc_id"), "left")
      .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
    labeled
      .withColumn("csize",
        count(lit(1)).over(Window.partitionBy(col("cid"))).cast("long"))
      .groupBy(col("csize"))
      .agg(countDistinct(col("cid")).as("n_clusters"),
        count(lit(1)).as("n_docs"), sum(col("q4")).as("sq"))
      .selectExpr("csize", "n_clusters", "n_docs",
        "CAST((2 * sq + n_docs) div (2 * n_docs) AS BIGINT) AS mean_q4")
      .orderBy(col("csize"))
  }

  /** c09: CLUSTER-SIZE SPECTRUM — t13's count-of-counts applied to
    * c02's near-dup clusters: for every cluster size k, how many
    * clusters and how many docs they hold. This is the dedup-health
    * audit a pipeline reads before acting on cluster output: a heavy
    * tail of giant clusters means template families / mirror explosions
    * (act: keep-one-per-cluster), a spectrum hugging k=2 means routine
    * near-dups — and a sudden shape change between crawls is the
    * earliest signal the dedup thresholds drifted.
    *
    * Scale shape: clusters are already thin (doc_id, cluster_id) rows;
    * the spectrum is two successive tiny aggregates (cluster census →
    * size census), both map-side combinable. */
  val c09_cluster_spectrum: Q = (s, d) => {
    c02_dedup_clusters(s, d)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))
      .selectExpr("csize", "n_clusters",
        "CAST(csize * n_clusters AS BIGINT) AS n_docs")
      .orderBy(col("csize"))
  }

  /** c10: CORPUS DRIFT REPORT — per-language doc counts and exact mean
    * quality across two snapshots (i03's deterministic CDC views, with
    * the changed docs' ' rev2' revision applied on the NEW side), plus
    * the signed quality delta: the between-crawls regression check a
    * corpus team gates releases on ("did the recrawl shift my mix or
    * degrade a language's quality"). Quality is t02's shared ×10⁴
    * integer formula; means are half-up integer divisions — the report
    * is hash-exact, so drift alarms can diff it byte-for-byte.
    *
    * Scale shape: each snapshot collapses to per-language (count, q4
    * sum) in one narrow map-side-combinable pass; the join is
    * language-sized. */
  val c10_corpus_drift: Q = (s, d) => {
    def q4View(df: DataFrame) = df
      .selectExpr("lang",
        "size(split(text, ' ')) AS n_words",
        s"${TextQueries.hitExpr(TextQueries.markers.head._2)} AS sw_hits",
        "size(array_distinct(split(text, ' '))) AS n_distinct")
      .selectExpr("lang",
        s"CAST(round((${TextQueries.qualityExpr}) * 10000.0D) AS BIGINT) AS q4")
    val docs = Tables.documents(s, d)
    val old = q4View(docs.filter(expr("doc_id % 13 <> 5")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_old"), sum(col("q4")).as("sq_o"))
    val neu = q4View(docs.filter(expr("doc_id % 11 <> 3"))
        .withColumn("text", expr(
          "CASE WHEN doc_id % 7 = 0 THEN concat(text, ' rev2') ELSE text END")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_new"), sum(col("q4")).as("sq_n"))
    old.join(neu, "lang")
      .selectExpr("lang", "n_old", "n_new",
        "CAST((2 * sq_o + n_old) div (2 * n_old) AS BIGINT) AS mean_q4_old",
        "CAST((2 * sq_n + n_new) div (2 * n_new) AS BIGINT) AS mean_q4_new")
      .withColumn("delta_q4", col("mean_q4_new") - col("mean_q4_old"))
      .orderBy(col("lang"))
  }

  /** c13 threshold menu: d02's own 500‰ floor up to near-exact 900‰. */
  val DEDUP_ROI_THRESHOLDS: Seq[Long] = Seq(500L, 600L, 700L, 800L, 900L)

  /** c13: DEDUP ROI CURVE — what each candidate near-dup threshold
    * would COST, before anyone commits to one (n19's menu discipline
    * applied to d02's knob): for every τ in [[DEDUP_ROI_THRESHOLDS]],
    * the docs removed under the min-id-keeper policy (a doc is dropped
    * iff it is the LARGER id of some pair with est_pm ≥ τ — the
    * deterministic pairwise proxy for cluster-rep dedup; max est_pm per
    * doc decides, so the sweep is one aggregate, not five dedup runs)
    * and the t02-quality mass those docs carry, both as permille of the
    * corpus. Threshold-monotone by construction; the curve's elbow is
    * where dedup starts eating quality instead of redundancy.
    *
    * Scale shape: pair scoring reuses d02's bucketed pipeline verbatim;
    * everything after is a doc-keyed max, one thin quality join, and a
    * 5-row broadcast range join. Corpus totals are two bounded driver
    * scalars (v09's discipline). */
  val c13_dedup_roi: Q = (s, d) => {
    import s.implicits._
    // the pair ARTIFACT (est_jaccard included) — the sweep is an audit
    // over the pair set d02 already produced once per crawl; re-running
    // the whole MinHash pipeline here doubled the most expensive dedup
    // stage (the same artifact-reuse argument as c02/d13, VERDICT r03 #1)
    val mp = DedupQueries.d02Pairs(s, d)
      .selectExpr("doc_b",
        "CAST(round(est_jaccard * 1000.0D) AS BIGINT) AS est_pm")
      .groupBy(col("doc_b")).agg(max(col("est_pm")).as("mp"))
    val qual = DedupQueries.d02Corpus(s, d)
      .selectExpr("doc_id",
        "size(split(text, ' ')) AS n_words",
        s"${TextQueries.hitExpr(TextQueries.markers.head._2)} AS sw_hits",
        "size(array_distinct(split(text, ' '))) AS n_distinct")
      .selectExpr("doc_id",
        s"CAST(round((${TextQueries.qualityExpr}) * 10000.0D) AS BIGINT) AS q4")
      .cache()
    val tot = qual.agg(count(lit(1)), sum(col("q4"))).head()
    val (nTot, qTot) = (tot.getLong(0), tot.getLong(1))
    val removed = mp.join(qual.withColumnRenamed("doc_id", "doc_b"), "doc_b")
    // the 5-point sweep is a literal-array explode, not a range join —
    // filter(thresholds, t -> mp >= t) stays inside codegen where a
    // broadcast BETWEEN join would plan a nested-loop probe; seed rows
    // keep zero-removal thresholds in the menu
    val thrArr = s"array(${DEDUP_ROI_THRESHOLDS.mkString("L, ")}L)"
    val seed = DEDUP_ROI_THRESHOLDS.toDF("thr_pm")
      .selectExpr("thr_pm", "CAST(0 AS BIGINT) AS hit",
        "CAST(0 AS BIGINT) AS q4v")
    removed
      .selectExpr("q4", s"explode(filter($thrArr, t -> mp >= t)) AS thr_pm")
      .selectExpr("thr_pm", "CAST(1 AS BIGINT) AS hit", "q4 AS q4v")
      .unionByName(seed)
      .groupBy(col("thr_pm"))
      .agg(sum(col("hit")).as("n_removed"), sum(col("q4v")).as("removed_q4"))
      .selectExpr("thr_pm", "n_removed", "removed_q4",
        s"CAST(n_removed * 1000 div $nTot AS BIGINT) AS removed_permille",
        s"CAST(removed_q4 * 1000 div $qTot AS BIGINT) AS q4_removed_permille")
      .orderBy(col("thr_pm"))
  }

  def queries: Map[String, Q] = Map(
    "c13_dedup_roi" -> c13_dedup_roi,
    "c10_corpus_drift" -> c10_corpus_drift,
    "c09_cluster_spectrum" -> c09_cluster_spectrum,
    "c11_pagerank" -> c11_pagerank,
    "c12_dup_quality" -> c12_dup_quality,
    "c08_label_propagation" -> c08_label_propagation,
    "c01_curation_pipeline" -> c01_curation_pipeline,
    "c02_dedup_clusters" -> c02_dedup_clusters,
    "c03_quality_filter" -> c03_quality_filter,
    "c04_corpus_pipeline" -> c04_corpus_pipeline,
    "c05_boilerplate_spans" -> c05_boilerplate_spans,
    "c06_cluster_reps" -> c06_cluster_reps,
    "c07_semantic_dedup" -> c07_semantic_dedup)

  /** Closure rounds unrolled in the c02/c06 oracles — the engine loop's
    * own 40-round bound, so the two sides share one convergence budget.
    * Empirically the label-jump term halves the rounds plain
    * propagation would need (≈ diameter/2, NOT log diameter — min-label
    * jumping is not parent-pointer halving): the sf1 clone graph's
    * 29,717-node giant component (double-sweep diameter ≈54) converges
    * in 24 rounds, so 40 covers diameter ≈80. Rounds after convergence
    * are no-op fixpoints, and NON-convergence is LOUD on both sides:
    * the engine throws (`require(converged)`), and an unconverged
    * oracle label differs from the engine's fixpoint and fails the
    * driver's hash compare. */
  val CLOSURE_ROUNDS = 40

  /** The min-label transitive closure as DuckDB CTEs (no leading WITH;
    * expects `near(doc_a, doc_b)` in scope; ends at
    * `clusters(doc_id, lbl)`) — the oracle twin of [[clusterPairs]],
    * UNROLLED POINTER DOUBLING instead of a recursive CTE: DuckDB's
    * recursive form may reference the working table once, which forces
    * one-edge-per-iteration advancement and O(component²)
    * (node, reachable) enumeration — measured 28+ CPU-minutes on the
    * sf1 clone graph (STRESS_r04 F3). Each unrolled round is the
    * engine's exact recurrence (self ∪ neighbor ∪ label-jump, then
    * min), so the closure is O(rounds · (V + E)) on both engines and
    * the two formulations cannot diverge. c02 and c06 interpolate this
    * ONE definition. */
  private[ops] def duckClosureCtes: String = {
    // every round MATERIALIZED: each l_r references l_{r-1} three times
    // (and itself feeds three references), so the default view-inlining
    // would expand 3^rounds plan copies — materialization keeps the
    // closure O(rounds · (V + E)) in the plan as well as at runtime
    val rounds = (1 to CLOSURE_ROUNDS).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT node, min(lbl) AS lbl FROM (
         |    SELECT node, lbl FROM l${r - 1}
         |    UNION ALL
         |    SELECT e.a AS node, n.lbl FROM edges e JOIN l${r - 1} n ON n.node = e.b
         |    UNION ALL
         |    SELECT n.node, p.lbl FROM l${r - 1} n JOIN l${r - 1} p ON p.node = n.lbl)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""edges AS MATERIALIZED (
       |  SELECT doc_a AS a, doc_b AS b FROM near
       |  UNION
       |  SELECT doc_b, doc_a FROM near),
       |l0 AS MATERIALIZED (
       |  SELECT a AS node, least(a, min(b)) AS lbl FROM edges GROUP BY a),
       |$rounds,
       |clusters AS (
       |  SELECT node AS doc_id, lbl::BIGINT AS lbl FROM l$CLOSURE_ROUNDS)""".stripMargin
  }

  /** The [[LP_ROUNDS]] synchronous propagation rounds, unrolled (the
    * c02 discipline: the oracle runs the ENGINE'S recurrence, not its
    * own formulation). `edges`/`seeds` are MATERIALIZED — each is
    * referenced by every round, and default view inlining would re-run
    * the whole LSH candidate chain per round. */
  private def lpRoundCtes: String =
    (1 to LP_ROUNDS).map { r =>
      s"""votes$r AS (
         |  SELECT e.src AS vec_id, l.lbl, count(*) AS v
         |  FROM lp_edges e JOIN lab${r - 1} l ON l.vec_id = e.nbr
         |  GROUP BY 1, 2),
         |inf$r AS (
         |  SELECT vec_id, lbl FROM votes$r
         |  WHERE vec_id % $LP_SEED_MOD <> 0
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |                             ORDER BY v DESC, lbl ASC) = 1),
         |lab$r AS MATERIALIZED (
         |  SELECT * FROM seeds UNION ALL SELECT * FROM inf$r)""".stripMargin
    }.mkString(",\n")

  def oracleSql: Map[String, String] = Map(
    // c13: d02's pair CTEs verbatim; per-doc max est_pm decides removal
    // at every threshold; quality is t02's shared formula over the same
    // originals ∪ mutated-copies corpus
    "c13_dedup_roi" ->
      s"""WITH ${DedupQueries.d02OracleCtes},
         |mp AS (
         |  SELECT doc_b,
         |         max(round((${DedupQueries.estJacDuck}) * 1000)::BIGINT)
         |           AS mp
         |  FROM pairs WHERE (${DedupQueries.estJacDuck}) >= 0.5
         |  GROUP BY doc_b),
         |qual AS (
         |  SELECT doc_id,
         |         round((${TextQueries.qualityExprDuck}) * 10000.0)::BIGINT
         |           AS q4
         |  FROM (SELECT doc_id,
         |               len(string_split(text, ' ')) AS n_words,
         |               ${TextQueries.duckHitExpr(TextQueries.markers.head._2)}
         |                 AS sw_hits,
         |               len(list_distinct(string_split(text, ' ')))
         |                 AS n_distinct
         |        FROM corpus)),
         |tot AS (
         |  SELECT count(*)::BIGINT AS n, sum(q4)::BIGINT AS sq FROM qual),
         |thr AS (
         |  SELECT unnest([${DEDUP_ROI_THRESHOLDS.mkString(", ")}])::BIGINT
         |           AS thr_pm),
         |j AS (
         |  SELECT mp.doc_b, mp.mp, q.q4
         |  FROM mp JOIN qual q ON q.doc_id = mp.doc_b),
         |r AS (
         |  SELECT thr_pm, count(j.doc_b)::BIGINT AS n_removed,
         |         coalesce(sum(j.q4), 0)::BIGINT AS removed_q4
         |  FROM thr LEFT JOIN j ON j.mp >= thr.thr_pm
         |  GROUP BY thr_pm)
         |SELECT thr_pm, n_removed, removed_q4,
         |       (n_removed * 1000 // tot.n)::BIGINT AS removed_permille,
         |       (removed_q4 * 1000 // tot.sq)::BIGINT
         |         AS q4_removed_permille
         |FROM r, tot ORDER BY thr_pm""".stripMargin,
    // c08: n09's edge CTEs verbatim + the unrolled synchronous rounds
    "c08_label_propagation" ->
      s"""WITH ${AnnQueries.knnOracleCtes},
         |lp_edges AS MATERIALIZED (
         |  SELECT src, nbr FROM ranked WHERE rn <= 3),
         |seeds AS MATERIALIZED (
         |  SELECT vec_id, label::BIGINT AS lbl FROM embeddings
         |  WHERE vec_id % $LP_SEED_MOD = 0),
         |lab0 AS (SELECT * FROM seeds),
         |$lpRoundCtes
         |SELECT vec_id, lbl,
         |       CAST(vec_id % $LP_SEED_MOD = 0 AS INT) AS is_seed
         |FROM lab$LP_ROUNDS ORDER BY vec_id""".stripMargin,
    "c01_curation_pipeline" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang, text,
         |         len(string_split(text, ' ')) AS n_words,
         |         ${TextQueries.duckHitExpr(TextQueries.markers.head._2)} AS sw_hits,
         |         len(list_distinct(string_split(text, ' '))) AS n_distinct
         |  FROM documents),
         |quality AS (
         |  SELECT doc_id, lang, text, n_words,
         |         ${TextQueries.qualityExprDuck} AS quality
         |  FROM scored),
         |deduped AS (
         |  SELECT * FROM (
         |    SELECT doc_id, lang, n_words, quality,
         |           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |    FROM quality)
         |  WHERE rn = 1),
         |ranked AS (
         |  SELECT doc_id, lang, n_words, quality,
         |         row_number() OVER (PARTITION BY lang
         |                            ORDER BY quality DESC, doc_id ASC) AS rk
         |  FROM deduped WHERE quality >= ${TextQueries.QUALITY_FLOOR})
         |SELECT doc_id, lang, rk::INT AS rk, quality, n_words::INT AS n_words
         |FROM ranked WHERE rk <= $PER_LANG_BUDGET
         |ORDER BY lang, rk""".stripMargin,
    "c03_quality_filter" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang,
         |         len(string_split(text, ' ')) AS n_words,
         |         length(replace(text, ' ', '')) AS wchars,
         |         ${TextQueries.duckHitExpr(TextQueries.markers.head._2)} AS sw_hits,
         |         len(list_distinct(string_split(text, ' '))) AS n_distinct
         |  FROM documents),
         |flags AS (
         |  SELECT doc_id, lang, n_words::INT AS n_words,
         |         CAST(n_words BETWEEN 30 AND 100000 AS INT) AS len_ok,
         |         CAST(10 * wchars >= 40 * n_words AND 10 * wchars <= 52 * n_words AS INT) AS mwl_ok,
         |         CAST(lang <> 'en' OR sw_hits >= 2 AS INT) AS sw_ok,
         |         CAST(2 * (n_words - n_distinct) <= n_words AS INT) AS rep_ok
         |  FROM base)
         |SELECT doc_id, lang, n_words, len_ok, mwl_ok, sw_ok, rep_ok,
         |       len_ok * mwl_ok * sw_ok * rep_ok AS kept
         |FROM flags ORDER BY doc_id""".stripMargin,
    "c04_corpus_pipeline" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang, text,
         |         len(string_split(text, ' ')) AS n_words,
         |         length(replace(text, ' ', '')) AS wchars,
         |         ${TextQueries.duckHitExpr(TextQueries.markers.head._2)} AS sw_hits,
         |         len(list_distinct(string_split(text, ' '))) AS n_distinct
         |  FROM documents),
         |staged AS (
         |  SELECT doc_id, lang, text,
         |         CAST(n_words BETWEEN 30 AND 100000 AS INT)
         |         * CAST(10 * wchars >= 40 * n_words AND 10 * wchars <= 52 * n_words AS INT)
         |         * CAST(lang <> 'en' OR sw_hits >= 2 AS INT)
         |         * CAST(2 * (n_words - n_distinct) <= n_words AS INT) AS gauntlet,
         |         CASE WHEN (doc_id * 2654435761) % 1000 < 800 THEN 'train'
         |              WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM base),
         |dup AS (
         |  SELECT doc_id,
         |         CAST(row_number() OVER (PARTITION BY text ORDER BY doc_id) > 1 AS INT) AS dup
         |  FROM staged WHERE gauntlet = 1),
         |pool AS (
         |  SELECT s.* FROM staged s JOIN dup USING (doc_id) WHERE dup = 0),
         |tg AS (
         |  SELECT doc_id, unnest(${DedupQueries.gramListDuck}) AS gram
         |  FROM pool WHERE split = 'train'),
         |eg AS (
         |  SELECT doc_id, unnest(${DedupQueries.gramListDuck}) AS gram
         |  FROM pool WHERE split = 'test'),
         |hot AS (
         |  SELECT gram FROM (
         |    SELECT gram, count(*) AS df FROM (
         |      SELECT gram FROM tg UNION ALL SELECT gram FROM eg)
         |    GROUP BY gram)
         |  WHERE df > ${DedupQueries.GRAM_DF_CAP}),
         |contam AS (
         |  SELECT DISTINCT t.doc_id, 1 AS contam
         |  FROM (SELECT * FROM tg ANTI JOIN hot USING (gram)) t
         |  SEMI JOIN (SELECT * FROM eg ANTI JOIN hot USING (gram)) e
         |    USING (gram)),
         |pool2 AS (
         |  SELECT p.doc_id, p.lang
         |  FROM pool p ANTI JOIN contam c USING (doc_id)
         |  WHERE p.split = 'train'),
         |counts AS (SELECT lang, count(*) AS n_s FROM pool2 GROUP BY lang),
         |rates AS (
         |  SELECT lang,
         |         least(1000,
         |           (((SELECT sum(n_s) FROM counts)::BIGINT // (SELECT count(*) FROM counts)) * 1000)
         |             // n_s)::BIGINT AS keep_rate
         |  FROM counts),
         |mixed AS (
         |  SELECT p.doc_id, r.keep_rate,
         |         CAST((p.doc_id * 2246822519) % 1000 < r.keep_rate AS INT) AS mixed
         |  FROM pool2 p JOIN rates r USING (lang))
         |SELECT s.doc_id, s.lang, s.split, s.gauntlet,
         |       coalesce(d.dup, 0)::INT AS dup,
         |       coalesce(c.contam, 0)::INT AS contam,
         |       coalesce(m.keep_rate, 0)::BIGINT AS keep_rate,
         |       coalesce(m.mixed, 0)::INT AS mixed,
         |       coalesce(m.mixed, 0)::INT AS final
         |FROM staged s
         |LEFT JOIN dup d USING (doc_id)
         |LEFT JOIN contam c USING (doc_id)
         |LEFT JOIN mixed m USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin,
    // min-label fixpoint over the IDENTICAL d02 CTE chain, as UNROLLED
    // POINTER DOUBLING (the engine's own recurrence, STRESS_r04 F3 fix:
    // the old recursive min-reachability CTE advanced one edge per
    // iteration AND enumerated O(component²) (node, reachable) pairs —
    // 28+ CPU-minutes on the sf1 clone graph; the doubling form is
    // O(rounds · (V + E)) and sf1-viable)
    "c02_dedup_clusters" ->
      s"""WITH ${DedupQueries.d02OracleCtes},
         |near AS (${DedupQueries.d02OraclePairSelect}),
         |$duckClosureCtes
         |SELECT doc_id, lbl AS cluster_id FROM clusters ORDER BY doc_id""".stripMargin,
    // c10: i03's snapshot rules + t02's shared quality formula on both
    // views, half-up means, signed delta
    "c10_corpus_drift" ->
      s"""WITH oldq AS (
         |  SELECT lang,
         |         CAST(round((${TextQueries.qualityExprDuck}) * 10000.0)
         |              AS BIGINT) AS q4
         |  FROM (SELECT lang,
         |               len(string_split(text, ' ')) AS n_words,
         |               ${TextQueries.duckHitExpr(TextQueries.markers.head._2)} AS sw_hits,
         |               len(list_distinct(string_split(text, ' '))) AS n_distinct
         |        FROM documents WHERE doc_id % 13 <> 5)),
         |newdocs AS (
         |  SELECT lang,
         |         CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
         |              ELSE text END AS text
         |  FROM documents WHERE doc_id % 11 <> 3),
         |newq AS (
         |  SELECT lang,
         |         CAST(round((${TextQueries.qualityExprDuck}) * 10000.0)
         |              AS BIGINT) AS q4
         |  FROM (SELECT lang,
         |               len(string_split(text, ' ')) AS n_words,
         |               ${TextQueries.duckHitExpr(TextQueries.markers.head._2)} AS sw_hits,
         |               len(list_distinct(string_split(text, ' '))) AS n_distinct
         |        FROM newdocs)),
         |o AS (
         |  SELECT lang, count(*)::BIGINT AS n_old, sum(q4)::BIGINT AS sq_o
         |  FROM oldq GROUP BY lang),
         |n AS (
         |  SELECT lang, count(*)::BIGINT AS n_new, sum(q4)::BIGINT AS sq_n
         |  FROM newq GROUP BY lang)
         |SELECT o.lang, n_old, n_new,
         |       ((2 * sq_o + n_old) // (2 * n_old))::BIGINT AS mean_q4_old,
         |       ((2 * sq_n + n_new) // (2 * n_new))::BIGINT AS mean_q4_new,
         |       ((2 * sq_n + n_new) // (2 * n_new)
         |        - (2 * sq_o + n_old) // (2 * n_old))::BIGINT AS delta_q4
         |FROM o JOIN n ON n.lang = o.lang
         |ORDER BY o.lang""".stripMargin,
    // c12: c02's closure CTEs + c10's integer q4 + c06's singleton
    // coalesce, then the size census and half-up means
    "c12_dup_quality" ->
      s"""WITH ${DedupQueries.d02OracleCtes},
         |near AS (${DedupQueries.d02OraclePairSelect}),
         |$duckClosureCtes,
         |quality4 AS (
         |  SELECT doc_id,
         |         CAST(round((${TextQueries.qualityExprDuck}) * 10000.0)
         |              AS BIGINT) AS q4
         |  FROM (SELECT doc_id,
         |               len(string_split(text, ' ')) AS n_words,
         |               ${TextQueries.duckHitExpr(TextQueries.markers.head._2)} AS sw_hits,
         |               len(list_distinct(string_split(text, ' '))) AS n_distinct
         |        FROM documents)),
         |labeled AS (
         |  SELECT q.doc_id, coalesce(c.lbl, q.doc_id) AS cid, q.q4
         |  FROM quality4 q LEFT JOIN clusters c USING (doc_id)),
         |sized AS (
         |  SELECT cid, q4,
         |         count(*) OVER (PARTITION BY cid)::BIGINT AS csize
         |  FROM labeled)
         |SELECT csize, count(DISTINCT cid)::BIGINT AS n_clusters,
         |       count(*)::BIGINT AS n_docs,
         |       ((2 * sum(q4) + count(*)) // (2 * count(*)))::BIGINT AS mean_q4
         |FROM sized GROUP BY csize ORDER BY csize""".stripMargin,
    // c11: n09's edge CTEs (shared definition) + PR_ROUNDS unrolled
    // power-iteration rounds, every one MATERIALIZED (each references
    // its predecessor through a join; materialization keeps the plan
    // O(rounds), c02's closure discipline). Identical BIGINT floor
    // arithmetic: teleport + (85·Σ r//outdeg) // 100.
    "c11_pagerank" -> {
      val rounds = (1 to PR_ROUNDS).map { r =>
        s"""pr$r AS MATERIALIZED (
           |  SELECT nodes.vec_id,
           |         (SELECT (15 * $PR_SCALE::BIGINT) // (100 * n) FROM nn)
           |         + 85 * coalesce(c.inr, 0) // 100 AS r
           |  FROM nodes LEFT JOIN (
           |    SELECT e.nbr, sum(p.r // o.outdeg)::BIGINT AS inr
           |    FROM pr_edges e JOIN pr${r - 1} p ON e.src = p.vec_id
           |                    JOIN outd o ON e.src = o.src
           |    GROUP BY e.nbr) c ON nodes.vec_id = c.nbr)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${AnnQueries.knnOracleCtes},
         |pr_edges AS MATERIALIZED (
         |  SELECT src, nbr FROM ranked WHERE rn <= 3),
         |nodes AS MATERIALIZED (SELECT vec_id FROM embeddings),
         |nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
         |outd AS MATERIALIZED (
         |  SELECT src, count(*)::BIGINT AS outdeg FROM pr_edges GROUP BY src),
         |pr0 AS MATERIALIZED (
         |  SELECT vec_id, (SELECT $PR_SCALE::BIGINT // n FROM nn) AS r
         |  FROM nodes),
         |$rounds
         |SELECT vec_id, r::BIGINT AS rank_ppb FROM pr$PR_ROUNDS
         |ORDER BY rank_ppb DESC, vec_id ASC""".stripMargin
    },
    // c09: c02's closure CTEs (shared definition), then the two-level
    // census — cluster sizes, then the size spectrum
    "c09_cluster_spectrum" ->
      s"""WITH ${DedupQueries.d02OracleCtes},
         |near AS (${DedupQueries.d02OraclePairSelect}),
         |$duckClosureCtes,
         |sizes AS (
         |  SELECT lbl, count(*)::BIGINT AS csize FROM clusters GROUP BY lbl)
         |SELECT csize, count(*)::BIGINT AS n_clusters,
         |       (csize * count(*))::BIGINT AS n_docs
         |FROM sizes GROUP BY csize ORDER BY csize""".stripMargin,
    // c06: c02's pointer-doubling cluster CTEs (ONE shared definition,
    // duckClosureCtes) + c01's quality CTE, then one first_value window
    // per cluster (default frame starts at the partition head on both
    // engines, so rep_id is the global best).
    "c06_cluster_reps" ->
      s"""WITH ${DedupQueries.d02OracleCtes},
         |near AS (${DedupQueries.d02OraclePairSelect}),
         |$duckClosureCtes,
         |scored AS (
         |  SELECT doc_id, lang, text,
         |         len(string_split(text, ' ')) AS n_words,
         |         ${TextQueries.duckHitExpr(TextQueries.markers.head._2)} AS sw_hits,
         |         len(list_distinct(string_split(text, ' '))) AS n_distinct
         |  FROM documents),
         |quality AS (
         |  SELECT doc_id, ${TextQueries.qualityExprDuck} AS quality
         |  FROM scored),
         |labeled AS (
         |  SELECT q.doc_id, coalesce(c.lbl, q.doc_id) AS cluster_id, q.quality
         |  FROM quality q LEFT JOIN clusters c USING (doc_id))
         |SELECT doc_id, cluster_id,
         |       first_value(doc_id) OVER (PARTITION BY cluster_id
         |                                 ORDER BY quality DESC, doc_id ASC) AS rep_id,
         |       (doc_id = first_value(doc_id) OVER (PARTITION BY cluster_id
         |                                           ORDER BY quality DESC, doc_id ASC))::INT AS kept,
         |       quality
         |FROM labeled ORDER BY doc_id""".stripMargin,
    // c07: d06's shared near CTEs (ONE pair-set definition,
    // DedupQueries.d06OracleNearCtes) + the c02 closure + c06's rep
    // window, with n_chars as the representative score. Every document
    // id has an embedding row in the testdata (aligned tables), so the
    // left join's universe contract is exact.
    "c07_semantic_dedup" ->
      s"""WITH ${DedupQueries.d06OracleNearCtes},
         |$duckClosureCtes,
         |labeled AS (
         |  SELECT dd.doc_id, coalesce(c.lbl, dd.doc_id) AS cluster_id,
         |         dd.n_chars::DOUBLE AS quality
         |  FROM documents dd LEFT JOIN clusters c USING (doc_id))
         |SELECT doc_id, cluster_id,
         |       first_value(doc_id) OVER (PARTITION BY cluster_id
         |                                 ORDER BY quality DESC, doc_id ASC) AS rep_id,
         |       (doc_id = first_value(doc_id) OVER (PARTITION BY cluster_id
         |                                           ORDER BY quality DESC, doc_id ASC))::INT AS kept,
         |       quality
         |FROM labeled ORDER BY doc_id""".stripMargin,
    "c05_boilerplate_spans" ->
      s"""WITH docs AS (
         |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |spans AS (
         |  SELECT doc_id, idx,
         |         array_to_string(
         |           words[idx * $SPAN_WORDS + 1 : (idx + 1) * $SPAN_WORDS],
         |           ' ') AS span
         |  FROM docs,
         |       LATERAL (SELECT unnest(range(0,
         |                  (len(words) + ${SPAN_WORDS - 1}) // $SPAN_WORDS)) AS idx)),
         |hot AS (
         |  SELECT md5(span) AS h FROM spans
         |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= $SPAN_HOT_DF),
         |kept AS (
         |  SELECT doc_id, idx, span FROM spans
         |  WHERE md5(span) NOT IN (SELECT h FROM hot))
         |SELECT d.doc_id,
         |       (len(d.words) + ${SPAN_WORDS - 1}) // $SPAN_WORDS AS n_spans,
         |       count(k.span) AS n_kept,
         |       coalesce(string_agg(k.span, ' ' ORDER BY k.idx), '') AS clean_text
         |FROM docs d LEFT JOIN kept k USING (doc_id)
         |GROUP BY d.doc_id, len(d.words)
         |ORDER BY d.doc_id""".stripMargin)
}
