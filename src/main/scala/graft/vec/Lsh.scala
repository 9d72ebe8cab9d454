package graft.vec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Random-hyperplane LSH for cosine similarity (sign-random-projection):
  * 6 OR-amplified tables × 3 sign bits, seeded once and embedded as
  * literals into both the Spark plan and DuckDB oracles.
  *
  * Collision probability per plane is 1 − θ/π; with k=3 bits and L=6
  * tables the candidate recall at cos 0.4 is ≈ 0.8 while candidate count
  * stays O(near-pairs) — the scale path next to the brute-force baseline.
  */
object Lsh {

  val NUM_TABLES = 6
  val BITS = 3
  val DIM = 64

  /** Seeded hyperplanes: table → plane → 64 dims. */
  val planes: Seq[Seq[Array[Double]]] = planesFor(NUM_TABLES, BITS, DIM)

  /** Ceiling for the TIERED bucket width (d06's corpus-sized variant):
    * plane literals are provisioned once up to MAX_BITS and a bits-b
    * tier uses the FIRST b planes of each table, so plane (t, i) is
    * identical across tiers — the property the oracle's CASE-gated
    * literals require (a per-tier planesFor draw would shift every
    * table's stream offset). 12 bits ≈ a 1M-row corpus at target
    * bucket 250; past that the ORACLED demo saturates and production
    * uses [[planesFor]] directly with however many bits the corpus
    * needs. */
  val MAX_BITS = 12
  lazy val planesMax: Seq[Seq[Array[Double]]] = planesFor(NUM_TABLES, MAX_BITS)

  /** Target mean bucket size for the ladder — ONE constant shared by
    * [[bitsForCount]]'s default and the d06 oracle's bitsel CTE
    * (DedupQueries interpolates it), so the two engines' tiers can
    * never be retuned apart. */
  val TARGET_BUCKET = 250L

  /** Hard per-(table, bucket) population cap for the tiered candidate
    * join (d06/n09). The [[bitsForCount]] ladder bounds the MEAN bucket
    * at [[TARGET_BUCKET]], but identical (or near-identical) vectors
    * collide in EVERY table at ANY bit width — more bits cannot spread
    * them, so a crawl-shaped corpus with 10⁴ copies of one embedding
    * would put ~10⁸ pairs into one bucket of one partition (VERDICT r04
    * #1). The census + anti-join in [[capTieredBuckets]] drops such
    * buckets entirely (d02's BUCKET_CAP discipline): identical-copy
    * clusters are exact dedup's job (d01), not the near-dup join's.
    * 4× the target mean, so ordinary statistical tail buckets are
    * untouched and only degenerate collision clusters bind. */
  val TIER_BUCKET_CAP: Long = 4 * TARGET_BUCKET

  /** The sizing rule as an integer threshold ladder — smallest
    * k ∈ [BITS, MAX_BITS] with target·2ᵏ ≥ n (i.e. mean bucket ≤
    * target) — NOT a floating log: `ceil(log(n/B)/log 2)` computed as a
    * double ratio can land 10⁻¹⁶ above an integer on one engine and
    * exactly on it on the other, flipping the tier at exact powers of
    * two. Pure integer compares are bit-identical everywhere; the
    * DuckDB oracle mirrors this same ladder with range(3,13).
    *
    * Saturation is LOUD (ADVICE r04): past n = target·2^MAX_BITS
    * (~1.02 M rows) the ladder pins at MAX_BITS and mean bucket size
    * grows linearly with n again — the oracled demo's documented edge.
    * Production corpora past that range must use [[planesFor]] with
    * corpus-sized bits directly; the warning makes a silent regression
    * toward the quadratic join impossible to miss in logs. */
  def bitsForCount(n: Long, target: Long = TARGET_BUCKET): Int =
    (BITS to MAX_BITS).find(k => target * (1L << k) >= n).getOrElse {
      log.warn(
        s"Lsh.bitsForCount saturated at MAX_BITS=$MAX_BITS for n=$n " +
          s"(target bucket $target supports n <= ${target * (1L << MAX_BITS)}): " +
          "mean bucket size now grows linearly with n — use planesFor with " +
          "corpus-sized bits for corpora past the oracled range")
      MAX_BITS
    }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** d02's census discipline applied to the tiered buckets (VERDICT r04
    * #1): aggregate the (tbl, bucket) populations over [[TIER_BUCKET_CAP]]
    * (a tiny table — only degenerate collision clusters exceed 4× the
    * ladder's mean) and anti-join them away before the candidate
    * self-join. Keeps the join O(n·cap) instead of O(hottest-bucket²)
    * no matter how many identical vectors a corpus plants; costs one
    * partial-agg pass + an (AQE-broadcast) anti-join. Callers cache the
    * INPUT (thin (id, tbl, bucket) rows) so the census and anti-join
    * probe one materialization. The cap is not silent: the hot-group
    * census is counted (a tiny cached table) and every drop is logged —
    * rows in a dropped (tbl, bucket) keep their candidates from the
    * other L−1 tables, and identical-copy clusters are d01 exact
    * dedup's job, not the near-dup join's. */
  def capTieredBuckets(bucketed: DataFrame, cap: Long = TIER_BUCKET_CAP): DataFrame = {
    val hot = bucketed.groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > cap)
      .select(col("tbl"), col("bucket"))
      .cache()
    val nHot = hot.count()
    if (nHot > 0) log.warn(
      s"capTieredBuckets: dropping $nHot (tbl, bucket) group(s) over cap=$cap " +
        "(degenerate collision cluster — near-dup recall for those rows now " +
        "rests on their other tables; identical copies are d01's job)")
    bucketed.join(hot, Seq("tbl", "bucket"), "left_anti")
  }

  /** [[capTieredBuckets]] over DISTINCT-vector rows carrying a clone
    * count: the census weighs each row by `weight` (sum, not count), so
    * the dropped (tbl, bucket) set is IDENTICAL to what the unweighted
    * census over the clone-expanded rows would drop — the invariant that
    * lets n09 collapse exact-clone vectors before its candidate join
    * (VERDICT r08 next-#2) without moving a single capped-bucket
    * boundary. */
  def capTieredBucketsWeighted(bucketed: DataFrame, weight: Column,
      cap: Long = TIER_BUCKET_CAP): DataFrame = {
    val hot = bucketed.groupBy(col("tbl"), col("bucket"))
      .agg(sum(weight).as("bsz"))
      .filter(col("bsz") > cap)
      .select(col("tbl"), col("bucket"))
      .cache()
    val nHot = hot.count()
    if (nHot > 0) log.warn(
      s"capTieredBucketsWeighted: dropping $nHot (tbl, bucket) group(s) over " +
        s"cap=$cap (weighted by clone count — same boundary as the " +
        "clone-expanded census)")
    bucketed.join(hot, Seq("tbl", "bucket"), "left_anti")
  }

  /** Seeded planes for an arbitrary (tables × bits) config.
    *
    * SIZING RULE (the d06 scale knob): bits must grow with the corpus —
    * k ≈ log₂(N / B) for a target bucket size B, since sign-random
    * projection spreads non-similar vectors uniformly over 2^k buckets
    * and the candidate join costs O(Σ bucket²). k=3 is tuned for the
    * 10³-row test corpora; at 10⁹ rows with B≈10³ use k≈20, adding
    * tables (L) to buy back the per-bit recall loss. DedupStressSpec
    * pins this empirically: fixed k is quadratic in N, scaled k is
    * linear with near-dup recall intact. */
  def planesFor(tables: Int, bits: Int, dim: Int = DIM,
      seed: Long = 11L): Seq[Seq[Array[Double]]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(tables)(Seq.fill(bits)(Array.fill(dim)(rnd.nextGaussian())))
  }

  /** Bucket column for an arbitrary plane set (same arithmetic as
    * [[bucketCol]], which is this over the default `planes`). */
  def bucketColFor(planeSet: Seq[Seq[Array[Double]]])(vec: Column, t: Int): Column =
    planeSet(t).zipWithIndex.map { case (pl, i) =>
      when(VectorOps.dotQueryNative(vec, pl.map(_.toFloat)) > 0, 1 << i).otherwise(0)
    }.reduce(_ + _)

  /** Bucket id of a vector column for table `t` (sum of sign bits). */
  def bucketCol(vec: Column, t: Int): Column = bucketColFor(planes)(vec, t)

  /** Driver-side bucket of a query vector — same float-widening arithmetic
    * as the executor/oracle path. */
  def bucketOf(v: Array[Float], t: Int): Int =
    planes(t).zipWithIndex.map { case (pl, i) =>
      var s = 0.0; var j = 0
      val n = math.min(v.length, pl.length)
      while (j < n) { s += v(j).toDouble * pl(j).toFloat.toDouble; j += 1 }
      if (s > 0) 1 << i else 0
    }.sum

  /** DuckDB expression for the bucket of vector column `vcol` (already
    * DOUBLE[] unless it is the raw `embedding`) in table `t`. */
  def duckBucketExpr(t: Int, vcol: String = "embedding::DOUBLE[]"): String =
    planes(t).zipWithIndex.map { case (pl, i) =>
      val lit = pl.map(x => x.toFloat.toDouble.toString).mkString("[", ",", "]::DOUBLE[]")
      s"(CASE WHEN list_dot_product($vcol, $lit) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  // ------------------------------------------------------------------
  // Corpus-sized TIERED bucketing, shared by d06 (near-dup pairs) and
  // n09 (k-NN graph): bits from the bitsForCount ladder, planes =
  // planesMax prefixes so one static oracle realizes every tier.
  // ------------------------------------------------------------------

  /** Spark side: one (tbl, bucket) struct per table over the first
    * `bits` planesMax planes — explode over these to bucket a corpus.
    * Same float-widening dot arithmetic as the oracle literals. */
  def tieredBucketStructs(vec: Column, bits: Int): Seq[Column] =
    planesMax.map(_.take(bits)).zipWithIndex.map { case (tbl, t) =>
      val b = tbl.zipWithIndex.map { case (pl, i) =>
        when(VectorOps.dotQueryNative(vec, pl.map(_.toFloat)) > 0, 1 << i).otherwise(0)
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), b.as("bucket"))
    }

  /** DuckDB `bitsel` CTE body: the bitsForCount ladder as pure integer
    * compares (expects an `nrows(n)` CTE in scope). */
  def duckBitselCte: String =
    s"""bitsel AS (
       |  SELECT coalesce(min(k), $MAX_BITS)::INT AS bits
       |  FROM (SELECT unnest(range($BITS,
       |                            ${MAX_BITS + 1})) AS k), nrows
       |  WHERE $TARGET_BUCKET * (1::BIGINT << k) >= n)""".stripMargin

  /** DuckDB bucket expressions over the FULL planesMax family, each
    * plane CASE-gated on `i < b.bits` so the static SQL realizes
    * whichever tier bitsel selects for the corpus at hand (expects the
    * `bitsel` CTE in scope as `b`). */
  def duckTieredBucketsSql: String =
    planesMax.zipWithIndex.map { case (tbl, t) =>
      val bitsExpr = tbl.zipWithIndex.map { case (pl, i) =>
        val lit = pl.map(x => x.toFloat.toDouble.toString).mkString("[", ",", "]::DOUBLE[]")
        s"(CASE WHEN $i < b.bits AND list_dot_product(embedding::DOUBLE[], $lit) > 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString("\n   + ")
      s"SELECT vec_id, embedding, $t AS tbl,\n  ($bitsExpr) AS bucket\n  FROM embeddings, bitsel b"
    }.mkString("\n  UNION ALL\n  ")

  /** The tiered bucket CTEs WITH the [[TIER_BUCKET_CAP]] census applied
    * (no leading WITH; ends at `bucketed`) — the oracle twin of
    * [[capTieredBuckets]]: the QUALIFY window drops every row of a
    * (tbl, bucket) group over the cap, exactly like the engine's
    * anti-join. d06 and n09 both interpolate this ONE definition, so
    * the cap can never be retuned on one engine only. */
  def duckTieredCappedCtes: String =
    s"""bucketed_raw AS (
       |  $duckTieredBucketsSql),
       |bucketed AS (
       |  SELECT vec_id, embedding, tbl, bucket FROM bucketed_raw
       |  QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= $TIER_BUCKET_CAP)""".stripMargin
}
