package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession

/** The seeded serving corpus: `rows` unit vectors of `dim` floats around
  * `clusters` planted centres, row r = normalize(centre[label_r] + σ·noise)
  * with σ = 1/sqrt(dim) (noise of about unit norm), and a `label` column so
  * the engine derives one `labelN` word per cluster. Without `planted` the
  * centres are left out: row r = normalize(noise), its label still uniform.
  * Every row is a pure function of (seed, r), so the check can regenerate
  * the exact floats the program read from Parquet. */
final case class Corpus(seed: Long, rows: Int, dim: Int, clusters: Int, planted: Boolean = true) {

  def key: String = s"s${seed}_n${rows}_d${dim}_c$clusters" + (if (planted) "" else "_u")

  lazy val centres: Array[Float] = {
    val rnd = new SplittableRandom(seed)
    val c = new Array[Float](clusters * dim)
    var k = 0
    while (k < clusters) {
      var i = 0
      while (i < dim) { c(k * dim + i) = rnd.nextGaussian().toFloat; i += 1 }
      Corpus.normalizeInPlace(c, k * dim, dim)
      k += 1
    }
    c
  }

  /** Writes row `r` into `out` at `off`; returns its label. */
  def row(r: Int, out: Array[Float], off: Int): Int = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + r + 1)
    val label = rnd.nextInt(clusters)
    val sigma = 1.0 / math.sqrt(dim.toDouble)
    var i = 0
    while (i < dim) {
      val centre = if (planted) centres(label * dim + i) else 0.0
      out(off + i) = (centre + sigma * rnd.nextGaussian()).toFloat
      i += 1
    }
    Corpus.normalizeInPlace(out, off, dim)
    label
  }

  /** The whole corpus as (labels, row-major vectors), generated on `threads`
    * threads. */
  def matrix(threads: Int): (Array[Int], Array[Float]) = {
    val labels = new Array[Int](rows)
    val vecs = new Array[Float](rows * dim)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val chunk = (rows + threads - 1) / threads
      val fs = (0 until threads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var r = t * chunk
            val end = math.min(rows, r + chunk)
            while (r < end) { labels(r) = row(r, vecs, r * dim); r += 1 }
          }
        })
      }
      fs.foreach(_.get())
    } finally pool.shutdown()
    (labels, vecs)
  }

  /** Parquet path of this corpus under `cacheDir`, generating it on a miss.
    * Returns (path, seconds spent generating; 0 on a cache hit). At most
    * `keep` corpora stay cached. */
  def ensureParquet(spark: SparkSession, cacheDir: java.io.File, keep: Int = 2): (String, Double) = {
    val dir = new java.io.File(cacheDir, key)
    if (new java.io.File(dir, "_SUCCESS").isFile) {
      dir.setLastModified(System.currentTimeMillis())
      return (dir.getPath, 0.0)
    }
    val t0 = System.nanoTime()
    cacheDir.mkdirs()
    Option(cacheDir.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).sortBy(-_.lastModified()).drop(keep - 1)
      .foreach(FileTree.rmTree)
    import spark.implicits._
    val parts = math.max(1, rows / 16384)
    val self = this
    val ds = spark.createDataset(spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      val lo = (rows.toLong * p / parts).toInt
      val hi = (rows.toLong * (p + 1) / parts).toInt
      (lo until hi).iterator.map { r =>
        val v = new Array[Float](self.dim)
        val label = self.row(r, v, 0)
        (r.toLong, v, label)
      }
    }).toDF("vec_id", "embedding", "label")
    val tmp = new java.io.File(cacheDir, key + ".tmp")
    FileTree.rmTree(tmp)
    ds.write.parquet(tmp.getPath)
    java.nio.file.Files.move(tmp.toPath, dir.toPath)
    (dir.getPath, (System.nanoTime() - t0) / 1e9)
  }
}

object Corpus {
  /** The serving corpus shape: 2^16 × 512 (a quarter of the reference's
    * 276k demo corpus, 128 MiB of fp32), 1,000 planted clusters. */
  def serving(seed: Long): Corpus = Corpus(seed, 1 << 16, 512, 1000)

  def normalizeInPlace(v: Array[Float], off: Int, n: Int): Unit = {
    var s = 0.0
    var i = 0
    while (i < n) { s += v(off + i).toDouble * v(off + i); i += 1 }
    val inv = 1.0 / math.sqrt(s)
    i = 0
    while (i < n) { v(off + i) = (v(off + i) * inv).toFloat; i += 1 }
  }
}

object FileTree {
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
  }

  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(treeBytes).sum
    else f.length()
}
