package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted k-NN GRAPH artifact — the on-disk form of the n09 edge list
  * that [[graft.engine.ArtifactCache]]'s scaladoc promises ("at cluster
  * scale this memo is replaced by actually writing the artifact"), and
  * the storage layout n17/n20's serving walks assume: edges land in
  * size-derived directory partitions keyed by `src mod numBuckets`, so a
  * beam-frontier probe joining on (bucket, src) reads only the
  * frontier's buckets — at 100 TB each expansion step is a
  * partition-pruned point read (dynamic partition pruning from the
  * broadcast frontier), never a full edge scan.
  *
  * Same save/load contract as [[IvfIndex]]/[[IvfPqIndex]]: build once per
  * crawl, every consumer (beam serving, label propagation, degree audits)
  * reads the artifact. The graph itself comes from the capped-LSH
  * candidate join (AnnQueries.n09GraphImpl) — this class is storage +
  * probe only, deliberately free of build logic.
  */
final class KnnGraph private[ann] (val edges: DataFrame, val numBuckets: Long) {

  /** Out-neighbors of a frontier: broadcast the (tiny) frontier ids and
    * join on (bucket, src) — the bucket equi-join gives the partition
    * pruner its handle; the src equi-join does the exact probe. Returns
    * thin (qcols*, nbr) rows, preserving any extra frontier key columns
    * (n20's qlabel rides along untouched). */
  def neighbors(frontier: DataFrame, idCol: String = "vec_id"): DataFrame = {
    val probe = frontier
      .withColumnRenamed(idCol, "src")
      .withColumn("bucket", KnnGraph.bucketOf(col("src"), numBuckets))
    edges.join(broadcast(probe), Seq("bucket", "src"))
      .drop("bucket", "src")
  }
}

object KnnGraph {

  /** Directory-partition sizing (guide §6: sensible output file sizing —
    * the bucket count is the knob to retune per deployment, like
    * IvfIndex's cell count). Derived from the COUNTED edge rows, never a
    * constant: a fixed 64 wrote 64 near-empty parquet directories for a
    * fixture-sized graph (listing + footer overhead dominated every
    * probe) while staying too coarse for a 100 TB edge table. Target
    * ~[[EDGES_PER_BUCKET]] rows per bucket directory (≈ tens of MB of
    * thin edge rows), clamped to [[MIN_BUCKETS]] (a width-10 frontier
    * still prunes) and [[MAX_BUCKETS]] (directory-listing sanity). The
    * chosen count is persisted in a `_graft_buckets` sidecar so load and
    * appendSave keep probing/writing the SAME modulus — bucket
    * membership stays a pure function of src per artifact. */
  val EDGES_PER_BUCKET = 500000L
  val MIN_BUCKETS = 8L
  val MAX_BUCKETS = 4096L

  /** Fallback for artifacts written before the sidecar existed. */
  val LEGACY_BUCKETS = 64L

  def bucketsFor(nEdges: Long): Long =
    math.min(MAX_BUCKETS,
      math.max(MIN_BUCKETS, nEdges / EDGES_PER_BUCKET + 1))

  private[ann] def bucketOf(src: Column, numBuckets: Long): Column =
    pmod(src, lit(numBuckets))

  /** Sidecar I/O goes through the Hadoop FileSystem API, not
    * java.nio.file (VERDICT r09 next-#6): the artifact path is a Hadoop
    * path-scheme string (file:/, hdfs:/, s3a:/ ...) — a local-only
    * sidecar would silently break the modulus contract on any non-local
    * deployment, exactly where the 100 TB artifact lives. */
  private def hadoopFs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_buckets")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Persist a thin (src, nbr) edge list id-bucketed by source; the
    * bucket count derives from the counted edge rows (size-adaptive,
    * guide §2: never a constant tuned for one scale) and lands in the
    * sidecar for load/appendSave. */
  def save(edges: DataFrame, path: String): Unit = {
    val thin = edges.select(col("src"), col("nbr"))
    val nb = bucketsFor(thin.count())
    thin
      .withColumn("bucket", bucketOf(col("src"), nb))
      .repartition(col("bucket")) // one writer task per bucket dir
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    // temp file + rename: a crash leaves either no sidecar or a whole one
    val (fs, p) = hadoopFs(edges.sparkSession, path)
    val tmp = p.suffix(".tmp")
    val out = fs.create(tmp, true)
    try out.write(nb.toString.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"could not rename $tmp to $p")
  }

  /** Legacy-64 ONLY when the sidecar is absent AND every stored edge sits
    * in the bucket modulus 64 gives it (a pre-sidecar artifact); data
    * written under another modulus whose sidecar never landed (a save
    * that died between the two writes) fails loudly, as does any other
    * failure — permission, corrupt content — instead of silently probing
    * under the wrong modulus (a wrong modulus makes neighbors() return
    * wrong/empty rows and appendSave corrupt the artifact). */
  private def bucketsOf(spark: SparkSession, path: String): Long = {
    val (fs, p) = hadoopFs(spark, path)
    if (!fs.exists(p)) {
      val misplaced = spark.read.parquet(path)
        .filter(col("bucket") =!= bucketOf(col("src"), LEGACY_BUCKETS))
      if (!misplaced.isEmpty)
        throw new IllegalStateException(s"$path has no _graft_buckets sidecar " +
          s"and its bucket directories do not match modulus $LEGACY_BUCKETS")
      LEGACY_BUCKETS
    } else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      new String(buf, "UTF-8").trim.toLong // corrupt sidecar → loud NumberFormatException
    }
  }

  /** Append-save for a grown graph (the [[IvfPqIndex.appendSave]]
    * contract applied to edges): write ONLY `deltaEdges` into the
    * existing artifact's bucket partitions — dynamic-partition append,
    * existing files untouched, each touched bucket directory gains
    * delta files. This is how a crawl's incremental k-NN edges land
    * without rewriting the corpus-sized artifact; the probe path is
    * unchanged because bucket membership is a pure function of src
    * UNDER THE ARTIFACT'S OWN MODULUS (read from the sidecar). */
  def appendSave(deltaEdges: DataFrame, path: String): Unit =
    deltaEdges.select(col("src"), col("nbr"))
      .withColumn("bucket",
        bucketOf(col("src"), bucketsOf(deltaEdges.sparkSession, path)))
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(path)

  /** The bucket column is WRITTEN from a LONG expression but read back
    * through partition-column type inference (INT); cast it back to
    * LONG explicitly so the (bucket, src) probe join is same-typed by
    * construction instead of leaning on an implicit cast to keep the
    * partition pruner engaged (ADVICE r07). */
  def load(spark: SparkSession, path: String): KnnGraph =
    new KnnGraph(spark.read.parquet(path)
      .withColumn("bucket", col("bucket").cast("long")), bucketsOf(spark, path))
}
