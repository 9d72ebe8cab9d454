package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.VectorAggregators
import graft.vec.VectorOps

/** Reusable IVF index — build once, query many.
  *
  * The oracle query n01 computes its coarse quantizer inside the query
  * (fine for a self-contained correctness check); at 100 TB the codebook
  * is a PRECOMPUTED artifact (VERDICT r01 note on n01) and the corpus is
  * laid out partitioned by cell, so a probe prunes whole partitions at
  * the source instead of filtering rows after a full scan.
  *
  * Design:
  *  - `build`: seeded spherical k-means (Lloyd). Centroids live on the
  *    driver (cells × dim floats — tiny); every heavy step is one
  *    distributed pass: assign = a compiled nearest-cell UDF over the
  *    broadcast codebook, update = groupBy(cell) + one-pass vecSum
  *    aggregator. Deterministic init (first `cells` rows in id order) and
  *    tie-break (lowest cell id); centroids, however, are bitwise-stable
  *    only under a FIXED partitioning — the vecSum Double partials merge
  *    in completion order, so across different partitionings/cluster
  *    layouts centroids agree only to fp-addition-reorder tolerance, and
  *    a boundary vector could land in a different cell than a saved
  *    artifact's assignment. Treat the SAVED artifact (not a rebuild) as
  *    the source of truth — which is what save/load exist for.
  *  - `search`: nprobe nearest cells resolved on the driver → a
  *    `cell IN (...)` scan predicate (partition-pruning when the index
  *    was saved partitioned) → exact codegen-dot top-k inside the probed
  *    cells (TakeOrderedAndProject — the same k-bounded merge as the
  *    flagship).
  *  - `save`/`load`: parquet `partitionBy("cell")` + the codebook as a
  *    small sidecar table, so a cluster restart reuses the artifact.
  */
final class IvfIndex(
    val codebook: Array[Array[Float]],
    val indexed: DataFrame,
    idCol: String,
    vecCol: String) {

  /** Cells ranked by closeness to `q`, first `nprobe`. */
  def probeCells(q: Array[Float], nprobe: Int): Seq[Int] =
    IvfIndex.probeCells(codebook, q, nprobe)

  /** Exact top-k inside the `nprobe` closest cells. */
  def search(q: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val cells = probeCells(q, nprobe)
    indexed
      .filter(col("cell").isin(cells: _*))
      .select(col(idCol),
        round(VectorOps.dotQueryNative(col(vecCol), q), 4).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Persist the artifact: cell-partitioned corpus + codebook sidecar. */
  def save(path: String): Unit = {
    indexed.write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    val spark = indexed.sparkSession
    import spark.implicits._
    codebook.zipWithIndex.map { case (v, c) => (c, v) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
  }
}

object IvfIndex {

  /** ONE probe-order definition for every coarse quantizer ([[IvfIndex]]
    * and [[IvfPqIndex]] both delegate here): max-dot ranking, ties →
    * lowest cell. A tie-break fix lands in both artifacts at once —
    * n08's n07 parity depends on the two never drifting. */
  private[ann] def probeCells(codebook: Array[Array[Float]],
      q: Array[Float], nprobe: Int): Seq[Int] =
    codebook.indices
      .sortBy(c => (-VectorOps.dot(codebook(c), q), c))
      .take(math.min(nprobe, codebook.length))

  private[ann] def nearestCell(codebook: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < codebook.length) {
      val d = VectorOps.dot(codebook(c), v)
      if (d > bestDot) { best = c; bestDot = d } // strict > : ties → lowest cell
      c += 1
    }
    best
  }

  /** Seeded spherical k-means over `df(vecCol)`; returns the index with
    * assignments cached. `cells` stays driver-sized (a codebook is
    * thousands of entries at most, even for billions of rows). */
  def build(df: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      cells: Int = 16, iters: Int = 5): IvfIndex = {
    val spark = df.sparkSession
    VectorOps.ensureRegistered(spark) // search() scores via codegen vec_dot
    import spark.implicits._
    // deterministic init: first `cells` vectors in id order
    var centroids: Array[Array[Float]] = df
      .orderBy(col(idCol)).limit(cells)
      .select(col(vecCol)).as[Array[Float]].collect()
    var it = 0
    while (it < iters) {
      val cb = centroids
      val assign = udf { (v: Array[Float]) => nearestCell(cb, v) }
      // one distributed pass: assign + per-cell one-pass vector sum
      val sums = df
        .select(assign(col(vecCol)).as("cell"), col(vecCol))
        .groupBy(col("cell"))
        .agg(VectorAggregators.vecSum(col(vecCol)).as("vsum"))
        .select(col("cell"), col("vsum")).as[(Int, Array[Double])]
        .collect().toMap
      // spherical update: centroid = normalize(sum); empty cells keep
      // their old centroid (they can re-acquire points later)
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        sums.get(c)
          .map(s => VectorOps.normalize(s.map(_.toFloat)))
          .getOrElse(old)
      }
      it += 1
    }
    val cbFinal = centroids
    val assign = udf { (v: Array[Float]) => nearestCell(cbFinal, v) }
    val indexed = df
      .select(col(idCol), col(vecCol), assign(col(vecCol)).as("cell"))
      .cache()
    indexed.count() // materialize: the artifact is built once, probed many times
    new IvfIndex(cbFinal, indexed, idCol, vecCol)
  }

  /** Reload a saved artifact; probe filters prune cell partitions. */
  def load(spark: SparkSession, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndex = {
    VectorOps.ensureRegistered(spark) // foreign sessions (cluster restart)
    import spark.implicits._
    val cb = spark.read.parquet(s"$path/codebook")
      .select(col("cell"), col("centroid")).as[(Int, Array[Float])]
      .collect().sortBy(_._1).map(_._2)
    val indexed = spark.read.parquet(s"$path/cells")
    new IvfIndex(cb, indexed, idCol, vecCol)
  }
}
