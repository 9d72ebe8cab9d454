package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product-quantization primitives on the driver — the MEMORY-bound ANN
  * side that complements [[IvfIndex]]'s compute/IO pruning. The corpus
  * embeddings are compressed to `m` per-subspace centroid codes
  * bit-packed into a single BIGINT by the codegen `vec_pq_encode_packed`
  * (m=16, k=16 turns a 64-dim fp32 row from 256 B into 8 B — 32×), and
  * a search scans ONLY that code column with asymmetric-distance (ADC)
  * scoring (`vec_pq_adc_packed`); the query side stays exact via the
  * driver-computed `m×k` dot-product lookup table [[lut]]. The persisted
  * artifact is [[IvfPqIndex]] (`cells = 1` is a plain codes-only PQ
  * index); this object holds what it and the engine's RAM-coarse regime
  * share:
  *  - [[train]]: per-subspace Lloyd k-means entirely on the DRIVER over a
  *    bounded sample (PQ codebooks saturate at a few 10⁵ training
  *    points regardless of corpus size, so the sample — taken
  *    deterministically as the first `sampleN` rows in id order — is the
  *    whole training cost: O(sampleN·k·iters·dim) scalar work, no
  *    distributed iteration at all). Deterministic: init = sub-vectors
  *    of the first k sample rows, argmin ties → lowest index, empty
  *    clusters keep their centroid (IvfIndex's conventions).
  *  - [[lut]]: the query's ADC lookup table.
  *  - [[adcPacked]]: the driver twin of the ADC kernel.
  *
  * Scores are ADC approximations of dot(q, x) (exact on the query side,
  * centroid-quantized on the corpus side); AnnPqSpec pins the recall
  * floor against the exact top-k and the exact-arithmetic parity of
  * both kernels.
  */
object PqIndex {

  /** Driver twin of the `vec_pq_adc_packed` expression: identical
    * nibble extraction, identical LUT indexing, identical ascending-
    * subspace Double accumulation — bit-for-bit equal to the codegen
    * kernel on every (word, lut), which is what lets a driver-resident
    * code matrix produce the SAME candidate cut as the distributed ADC
    * scan (RClipEngine's RAM-coarse serving regime; EngineSpec pins the
    * equality end-to-end). */
  def adcPacked(word: Long, lut: Array[Double], m: Int, k: Int): Double = {
    val bits = 32 - java.lang.Integer.numberOfLeadingZeros(k - 1)
    val mask = (1L << bits) - 1
    var acc = 0.0
    var mm = 0
    while (mm < m) {
      val c = ((word >>> (mm * bits)) & mask).toInt
      acc += lut(mm * k + c)
      mm += 1
    }
    acc
  }

  /** ADC lookup table: lut[mm·k + j] = dot(q_mm, centroid_mmj), Double
    * accumulation ascending over dd (left-associated — the order the
    * n06 oracle's unrolled `+` chains reproduce bit-exactly). */
  def lut(flatCb: Array[Float], m: Int, k: Int,
      q: Array[Float]): Array[Double] = {
    val sub = flatCb.length / (m * k)
    val out = new Array[Double](m * k)
    var mm = 0
    while (mm < m) {
      var j = 0
      while (j < k) {
        var s = 0.0
        var dd = 0
        while (dd < sub) {
          s += q(mm * sub + dd).toDouble *
            flatCb((mm * k + j) * sub + dd).toDouble
          dd += 1
        }
        out(mm * k + j) = s
        j += 1
      }
      mm += 1
    }
    out
  }

  /** Per-subspace Lloyd k-means on a deterministic driver-side sample.
    * Returns the flat codebook `[(mm·k + j)·sub + dd]`. */
  def train(df: DataFrame, m: Int, k: Int, iters: Int,
      sampleN: Int = 2048, idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Float] = {
    val spark = df.sparkSession
    import spark.implicits._
    val sample: Array[Array[Float]] = df
      .orderBy(col(idCol)).limit(sampleN)
      .select(col(vecCol)).as[Array[Float]].collect()
    require(sample.length >= k, s"PQ training needs >= $k sample rows")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    val flat = new Array[Float](m * k * sub)
    var mm = 0
    while (mm < m) {
      // init: sub-vectors of the first k sample rows
      var cents = Array.tabulate(k)(j =>
        Array.tabulate(sub)(dd => sample(j)(mm * sub + dd).toDouble))
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val counts = new Array[Int](k)
        sample.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var j = 0
          while (j < k) {
            var dist = 0.0; var dd = 0
            while (dd < sub) {
              val diff = v(mm * sub + dd).toDouble - cents(j)(dd)
              dist += diff * diff; dd += 1
            }
            if (dist < bestD) { bestD = dist; best = j }
            j += 1
          }
          var dd = 0
          while (dd < sub) { sums(best)(dd) += v(mm * sub + dd).toDouble; dd += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(k)(j =>
          if (counts(j) == 0) cents(j) // empty cluster keeps its centroid
          else sums(j).map(_ / counts(j)))
        it += 1
      }
      var j = 0
      while (j < k) {
        var dd = 0
        while (dd < sub) {
          flat((mm * k + j) * sub + dd) = cents(j)(dd).toFloat
          dd += 1
        }
        j += 1
      }
      mm += 1
    }
    flat
  }
}
