package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.vec.VectorOps

/** The composed IVF-PQ production artifact (VERDICT r03 next-round #2):
  * ONE self-describing index holding cell-partitioned PACKED PQ codes
  * plus both codebooks, so a search is
  *
  *   partition-pruned code scan (nprobe/cells of the corpus)
  *     → packed ADC scoring (8 B/row instead of raw fp32)
  *       → exact fp32 rerank of the top-`coarseK` against the raw store
  *
  * — the standard deployment shape of large-scale ANN systems (coarse
  * quantizer + product codes + optional exact refine), which n07 proves
  * in-query; this class is the persisted form and the only PQ artifact.
  * [[IvfIndex]] saves cell-partitioned RAW vectors (nprobe pruning, full
  * scan cost inside probed cells); packed codes ([[PqIndex]]'s
  * primitives) make the scan 32× smaller but score every row; composing
  * them multiplies the two savings: at 100 TB with 1024 cells / nprobe
  * 8, the ADC pass reads 8/1024 of 1/32 of the corpus bytes. With
  * `cells = 1` (and `ivfIters = 0`) the index is a plain codes-only PQ
  * index: one cell, and `searchAdc(q, k, nprobe = 1)` is the full ADC
  * scan.
  *
  * Composition choices, pinned so the artifact is spec-assertable
  * against n07's in-query math:
  *  - PQ encodes RAW vectors, not residuals (v − centroid). Residual
  *    PQ recovers some precision but makes the codes cell-dependent;
  *    raw-vector PQ keeps encode a single narrow pass and matches the
  *    n06/n07 oracle arithmetic bit-for-bit. The exact rerank is what
  *    buys the precision back (AnnPqSpec's coarse→rerank contract).
  *  - Coarse assignment is [[IvfIndex.nearestCell]] (max-dot, strict `>`
  *    so ties take the lowest cell — n07's CASE chain agrees).
  *  - Candidate ordering uses the UNROUNDED ADC score (n07's coarse
  *    stage); only the reranked output is rounded (+ 0.0 normalized).
  *
  * The raw-vector store for the rerank stays OUTSIDE the artifact: at
  * corpus scale the raw table already exists (it is the corpus), and
  * duplicating it inside every index would multiply storage by the
  * number of indexes. `search` takes it as a parameter; the candidate
  * list is `coarseK` rows, so the rerank is a broadcast join — point
  * lookups against the id-keyed store, never a corpus shuffle.
  */
final class IvfPqIndex(
    val centroids: Array[Array[Float]],
    val m: Int,
    val k: Int,
    val flatCodebook: Array[Float],
    val codes: DataFrame,
    val idCol: String) {

  require(flatCodebook.length % (m * k) == 0,
    s"flat codebook length ${flatCodebook.length} is not a multiple of m·k = ${m * k}")
  require(centroids.nonEmpty, "IVF-PQ index needs at least one coarse centroid")

  /** Cells ranked by query closeness, first `nprobe` (driver-side: the
    * codebook is cells × dim floats — tiny at any corpus scale). Shared
    * with [[IvfIndex]] so the two artifacts' probe orders cannot drift. */
  def probeCells(q: Array[Float], nprobe: Int): Seq[Int] =
    IvfIndex.probeCells(centroids, q, nprobe)

  /** ADC candidates inside the probed cells: the `cell IN (...)`
    * predicate prunes partitions of a loaded artifact at the source
    * (PlanSpec-asserted), then the packed kernel scores 8-byte codes.
    * Unrounded scores — this is the coarse stage, its ordering feeds
    * the rerank; round only at an output surface.
    *
    * `predicate` is the FILTERED-ANN fusion (the reference's own
    * flagship shape — predicate + top-k in one scan,
    * rclip_server.py:206-211): a metadata condition over columns the
    * index was built with (`metaCols`), applied INSIDE the pruned code
    * scan, before the ADC TakeOrdered — on a loaded artifact it reaches
    * the parquet reader as a pushed row-group filter, so a selective
    * predicate cuts the coarse stage's IO, not just its output. A
    * post-filter would instead starve the candidate list (filtering
    * AFTER top-`coarseK` returns fewer than `coarseK` eligible rows). */
  def searchAdc(q: Array[Float], topk: Int, nprobe: Int,
      predicate: Option[Column] = None): DataFrame = {
    val cells = probeCells(q, nprobe)
    val pruned = codes.filter(col("cell").isin(cells: _*))
    predicate.fold(pruned)(pruned.filter)
      .select(col(idCol),
        VectorOps.pqAdcPacked(col("code"), PqIndex.lut(flatCodebook, m, k, q), m, k)
          .as("adc"))
      .orderBy(col("adc").desc, col(idCol).asc)
      .limit(topk)
  }

  /** Full IVF-PQ search: pruned (+ optionally predicate-filtered) ADC
    * top-`coarseK` → exact fp32 rerank against `raw` (the id-keyed
    * raw-vector store, typically the corpus table itself) → top-`topk`.
    * Candidates already satisfy `predicate`, so the rerank join needs no
    * re-filter. Output convention matches the engine's query surfaces:
    * round(…, 4) + 0.0. */
  def search(q: Array[Float], topk: Int, nprobe: Int, coarseK: Int,
      raw: DataFrame, vecCol: String = "embedding",
      predicate: Option[Column] = None): DataFrame = {
    val cand = searchAdc(q, topk = coarseK, nprobe = nprobe, predicate = predicate)
      .select(col(idCol))
    raw.join(broadcast(cand), idCol)
      .select(col(idCol),
        (round(VectorOps.dotQueryNative(col(vecCol), q), 4) + lit(0.0)).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(topk)
  }

  /** Incremental append with FROZEN codebooks (VERDICT r04 #5): assign
    * each delta row a cell with the existing coarse centroids, encode
    * with the existing PQ codebook, and return an index over base ∪
    * delta codes — no retraining, no touch of existing code rows. This
    * is how production ANN serves a growing corpus between (rare, full)
    * rebuilds: appends are one narrow encode pass over the delta only;
    * recall decays only as the data distribution drifts from the frozen
    * codebooks, which the n10-style recall evaluation watches.
    * `delta` must carry idCol, vecCol, and every metadata column the
    * index was built with (checked loudly). */
  def add(delta: DataFrame, vecCol: String = "embedding"): IvfPqIndex = {
    val spark = delta.sparkSession
    VectorOps.ensureRegistered(spark)
    val metaCols = codes.columns.toSeq.filterNot(Set(idCol, "cell", "code"))
    val missing = (idCol +: vecCol +: metaCols).filterNot(delta.columns.contains)
    require(missing.isEmpty,
      s"IvfPqIndex.add: delta is missing column(s) ${missing.mkString(", ")}")
    val cb = centroids
    val assign = udf { (v: Array[Float]) => IvfIndex.nearestCell(cb, v) }
    val newCodes = delta.select(
      col(idCol) +: assign(col(vecCol)).as("cell") +:
        VectorOps.pqEncodePacked(col(vecCol), flatCodebook, m, k).as("code") +:
        metaCols.map(col): _*)
    new IvfPqIndex(centroids, m, k, flatCodebook,
      codes.unionByName(newCodes.select(codes.columns.map(col): _*)), idCol)
  }

  /** Tombstone delete — the other half of the artifact lifecycle
    * ([[add]] is the first): drop the given ids from the code table via
    * one anti-join (the id list is broadcast-sized in practice — GDPR
    * erasures, licence revocations, d01-found exact dups). Codebooks
    * are untouched: like [[add]]'s frozen-codebook contract, a delete
    * never retrains — recall drift from distribution shift is n10's
    * monitoring job, and a periodic full rebuild re-tightens the
    * codebooks. On a SAVED artifact the production form is a persisted
    * tombstone set anti-joined at read time, compacted away on the next
    * rewrite; here the returned index can simply be re-`save`d. */
  def remove(ids: DataFrame): IvfPqIndex =
    new IvfPqIndex(centroids, m, k, flatCodebook,
      codes.join(broadcast(ids.select(col(idCol))), Seq(idCol), "left_anti"),
      idCol)

  /** Append-save for a grown index: write ONLY `deltaCodes` rows into
    * the existing artifact's cell partitions (dynamic-partition append —
    * existing files are untouched, each cell directory gains delta
    * files). The codebook sidecars are frozen by construction, so they
    * are not rewritten. */
  def appendSave(path: String, deltaCodes: DataFrame): Unit =
    deltaCodes.write.mode("append").partitionBy("cell").parquet(s"$path/codes")

  /** Persist: cell-partitioned packed codes + coarse-centroid table +
    * PQ sidecar. Everything a fresh session needs to probe is inside. */
  def save(path: String): Unit = {
    codes.write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    val spark = codes.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (v, c) => (c, v) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/ivfcb")
    Seq((m, k, flatCodebook.toSeq, idCol))
      .toDF("m", "k", "flat_codebook", "id_col")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pqcb")
  }
}

object IvfPqIndex {

  /** Build: coarse spherical k-means (via [[IvfIndex.build]] — iters=0
    * keeps the deterministic first-`cells`-rows codebook, the n04/n07
    * discipline) assigns every row a cell; driver-side Lloyd
    * ([[PqIndex.train]], bounded sample) fits the PQ codebook; ONE
    * distributed encode pass emits (id, cell, packed code). The interim
    * raw-vector assignment is unpersisted once the 16-byte rows are
    * materialized — the artifact never retains raw vectors. */
  def build(df: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      cells: Int = 8, ivfIters: Int = 0,
      m: Int = 8, k: Int = 16, pqIters: Int = 0,
      sampleN: Int = 2048, metaCols: Seq[String] = Nil): IvfPqIndex = {
    val spark = df.sparkSession
    VectorOps.ensureRegistered(spark)
    val base = df.select(col(idCol), col(vecCol))
    val ivf = IvfIndex.build(base, idCol, vecCol, cells, ivfIters)
    val flat = PqIndex.train(base, m, k, pqIters, sampleN, idCol, vecCol)
    // metaCols ride the code rows (filtered-ANN: a predicate over them
    // lands inside the pruned code scan instead of forcing a join back
    // to the corpus per search) — one build-time id-equi-join, and only
    // when metadata was requested
    val encoded = ivf.indexed
      .select(col(idCol), col("cell"),
        VectorOps.pqEncodePacked(col(vecCol), flat, m, k).as("code"))
    val codes = (if (metaCols.isEmpty) encoded
      else encoded.join(df.select(col(idCol) +: metaCols.map(col): _*), idCol))
      .cache()
    codes.count() // materialize before dropping the raw-vector interim
    ivf.indexed.unpersist()
    new IvfPqIndex(ivf.codebook, m, k, flat, codes, idCol)
  }

  /** Reload in a fresh session. The artifact's STORED assignments and
    * codes are authoritative — search never re-assigns or re-encodes
    * (the bitwise-stability caveat [[IvfIndex]] documents applies to
    * rebuilds, not loads). Missing sidecar fields fail loudly. */
  def load(spark: SparkSession, path: String): IvfPqIndex = {
    VectorOps.ensureRegistered(spark)
    import spark.implicits._
    val sidecar = spark.read.parquet(s"$path/pqcb")
    require(sidecar.columns.contains("id_col"),
      s"IvfPqIndex.load: sidecar at $path/pqcb has no id_col — corrupt or truncated artifact")
    val (m, k, flat, idCol) = sidecar
      .select(col("m"), col("k"), col("flat_codebook"), col("id_col"))
      .as[(Int, Int, Seq[Float], String)].head()
    val cb = spark.read.parquet(s"$path/ivfcb")
      .select(col("cell"), col("centroid")).as[(Int, Array[Float])]
      .collect().sortBy(_._1).map(_._2)
    new IvfPqIndex(cb, m, k, flat.toArray,
      spark.read.parquet(s"$path/codes"), idCol)
  }
}
