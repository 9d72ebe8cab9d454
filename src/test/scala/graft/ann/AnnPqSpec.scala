package graft.ann

import graft.SparkSpec
import graft.ops.VectorQueries
import graft.vec.VectorOps
import org.apache.spark.sql.functions._

/** Product quantization on its one artifact: an [[IvfPqIndex]] with a
  * single cell is a plain codes-only PQ index (every row in cell 0,
  * `searchAdc(q, k, nprobe = 1)` the full ADC scan). */
class AnnPqSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private val q = VectorQueries.flagshipVec

  private def pq(m: Int, iters: Int): IvfPqIndex =
    IvfPqIndex.build(emb, cells = 1, ivfIters = 0, m = m, k = 16, pqIters = iters)

  private def refEncode(v: Array[Float], flat: Array[Float],
      m: Int, k: Int): Array[Int] = {
    val sub = flat.length / (m * k)
    Array.tabulate(m) { mm =>
      var best = 0; var bestD = Double.MaxValue
      var j = 0
      while (j < k) {
        var dist = 0.0; var dd = 0
        while (dd < sub) {
          val diff = v(mm * sub + dd).toDouble - flat((mm * k + j) * sub + dd).toDouble
          dist += diff * diff; dd += 1
        }
        if (dist < bestD) { bestD = dist; best = j }
        j += 1
      }
      best
    }
  }

  test("packed encode and packed ADC match a driver-side reference " +
    "recompute exactly (every unpacked code AND the score, bit-exact)") {
    import spark.implicits._
    val m = 8; val k = 16
    // derive bits = ceil(log2 k) exactly as VecPqEncodePacked does, so a
    // future k change can't silently desync the unpack below
    val bits = 32 - Integer.numberOfLeadingZeros(k - 1)
    val idx = pq(m, iters = 3)
    val vecs = emb.orderBy(col("vec_id"))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val lut = PqIndex.lut(idx.flatCodebook, m, k, q)
    val got = idx.codes
      .select(col("vec_id"), col("code"),
        VectorOps.pqAdcPacked(col("code"), lut, m, k).as("adc"))
      .orderBy(col("vec_id")).collect()
    assert(got.length == vecs.length)
    got.zip(vecs).foreach { case (r, (id, v)) =>
      assert(r.getLong(0) == id)
      val word = r.getLong(1)
      val want = refEncode(v, idx.flatCodebook, m, k)
      val codes = Array.tabulate(m)(mm =>
        ((word >>> (mm * bits)) & ((1L << bits) - 1)).toInt)
      assert(codes.sameElements(want), s"codes for vec $id")
      val wantAdc = want.zipWithIndex
        .foldLeft(0.0) { case (acc, (c, mm)) => acc + lut(mm * k + c) }
      assert(r.getDouble(2) == wantAdc, s"adc for vec $id") // bit-exact
      // and the driver twin the RAM-coarse serving regime scores with
      assert(PqIndex.adcPacked(word, lut, m, k) == wantAdc, s"driver adc for vec $id")
    }
  }

  test("train is deterministic: two builds give bitwise-equal codebooks " +
    "and identical packed codes") {
    val a = pq(8, iters = 3)
    val b = pq(8, iters = 3)
    // training is entirely driver-side sequential arithmetic over a
    // deterministic sample — bitwise equality, unlike the distributed
    // vecSum caveat IvfIndex documents
    assert(a.flatCodebook.sameElements(b.flatCodebook))
    assert(a.flatCodebook.sameElements(
      PqIndex.train(emb, m = 8, k = 16, iters = 3)))
    val differing = a.codes.select(col("vec_id"), col("code").as("ca"))
      .join(b.codes.select(col("vec_id"), col("code").as("cb")), "vec_id")
      .filter(col("ca") =!= col("cb"))
      .count()
    assert(differing == 0)
    assert(a.codes.count() == emb.count())
  }

  test("trained ADC ranking: direct recall@10 >= 0.4 and the exact " +
    "top-10 sits inside the ADC top-100 (the coarse->rerank contract)") {
    // m=16 (4-dim subspaces) fits this weakly-clustered 64-dim corpus:
    // measured recall@10 = 0.5 and top10-in-top100 = 1.0 for the
    // flagship query (m=8 drops to 0.1/0.6 — quantization error swamps
    // the tightly packed top scores). The production shape is ADC
    // coarse top-R -> exact rerank (n05's pattern), so the second
    // metric is the operative one; both asserted with margin.
    val exact = emb
      .select(col("vec_id"),
        round(VectorOps.dotQueryNative(col("embedding"), q), 4).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc).limit(10)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val trained = pq(16, iters = 5)
    val adc100 = trained.searchAdc(q, 100, nprobe = 1).collect().map(_.getLong(0))
    val recall10 = adc100.take(10).count(exact).toDouble / 10.0
    val inTop100 = adc100.count(exact).toDouble / 10.0
    assert(recall10 >= 0.4, s"direct ADC recall@10 = $recall10")
    assert(inTop100 >= 0.9, s"exact top-10 inside ADC top-100 = $inTop100")
  }

  test("save/load round-trips: the reloaded artifact returns the " +
    "identical top-10 (ids and scores)") {
    val idx = pq(8, iters = 3)
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq").toString
    idx.save(tmp)
    def top10(ix: IvfPqIndex) = ix.searchAdc(q, 10, nprobe = 1).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val a = top10(idx)
    idx.codes.unpersist()
    val loaded = IvfPqIndex.load(spark, tmp)
    assert(loaded.m == idx.m && loaded.k == idx.k &&
      loaded.flatCodebook.sameElements(idx.flatCodebook))
    val b = top10(loaded)
    assert(a.length == 10 && a.sameElements(b))
  }

  test("ADC search plan: one narrow codes scan + TakeOrderedAndProject, " +
    "zero Exchange (the 100 TB codes-only scan shape)") {
    val idx = pq(8, iters = 1)
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-plan").toString
    idx.save(tmp)
    idx.codes.unpersist()
    val p = IvfPqIndex.load(spark, tmp).searchAdc(q, 10, nprobe = 1)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("ScalaUDF"), p)
    assert(!p.contains("embedding"), s"the ADC scan must read codes only:\n$p")
  }
}
