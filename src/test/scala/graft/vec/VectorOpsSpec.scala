package graft.vec

import org.scalatest.funsuite.AnyFunSuite

class VectorOpsSpec extends AnyFunSuite {

  private def randomVecs(n: Int, dim: Int, seed: Long): Seq[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(n)(Array.fill(dim)((rnd.nextDouble() * 10 - 5).toFloat))
  }

  private def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)

  /** Every row's [[VectorOps.vecDot8]] score, scored block by block. */
  private def kernelBits(rows: Array[Array[Float]], q: Array[Float]): Seq[Long] = {
    val qd = q.map(_.toDouble)
    val out = new Array[Double](VectorOps.Block)
    val got = Seq.newBuilder[Long]
    var at = 0
    while (at < rows.length) {
      val n = VectorOps.vecDot8(rows, at, q, qd, out)
      assert(n == math.min(VectorOps.Block, rows.length - at))
      (0 until n).foreach(j => got += bits(out(j)))
      at += n
    }
    got.result()
  }

  private def assertKernelExact(rows: Array[Array[Float]], q: Array[Float],
      clue: String): Unit =
    assert(kernelBits(rows, q) == rows.toSeq.map(r => bits(VectorOps.vecDot(r, q))), clue)

  test("vecDot8 is bit-identical to vecDot for every tail length") {
    for (n <- (0 to 17) :+ 1027) {
      val rows = randomVecs(n + 1, 37, seed = n).toArray
      assertKernelExact(rows.tail, rows.head, s"n=$n")
    }
  }

  test("vecDot8 is bit-identical to vecDot on 512-dim random unit vectors") {
    val rows = randomVecs(257, 512, seed = 512).map(VectorOps.normalize).toArray
    for (q <- rows.take(4)) assertKernelExact(rows.drop(4), q, "d=512")
  }

  test("vecDot8 scores a block holding a shorter and a longer row by the " +
    "min-length vecDot") {
    val rows = randomVecs(16, 20, seed = 7).toArray
    rows(2) = rows(2).take(19)
    rows(5) = rows(5) ++ Array(3f, -2f, 1f)
    val q = randomVecs(1, 20, seed = 8).head
    assertKernelExact(rows, q, "ragged")
    assertKernelExact(rows, q.take(19), "short query")
  }

  test("vecDot8 is bit-identical to vecDot on signed zeros, subnormals, " +
    "near-overflow values, infinities and NaN") {
    val special = Array(0f, -0f, Float.MinPositiveValue, -Float.MinPositiveValue,
      Float.MinPositiveValue * 3, Float.MaxValue, -Float.MaxValue,
      Float.MaxValue / 3, Float.PositiveInfinity, Float.NegativeInfinity,
      Float.NaN, 1f, -1f)
    val rnd = new java.util.Random(11)
    def draw(): Float =
      if (rnd.nextInt(3) == 0) special(rnd.nextInt(special.length))
      else (rnd.nextDouble() * 2 - 1).toFloat
    val rows = Array.fill(83)(Array.fill(24)(draw()))
    for (_ <- 0 until 20) assertKernelExact(rows, Array.fill(24)(draw()), "mixed")
    // single-value rows and queries: each special times each special
    for (x <- special) {
      val one = special.map(y => Array(y)) ++ special.map(y => Array(y, -y))
      assertKernelExact(one, Array(x), s"x=$x")
      assertKernelExact(one.filter(_.length == 2), Array(x, x), s"x=$x pair")
    }
    // only subnormal products: each one is below Float.MinPositiveValue,
    // so a product rounded in float flushes to zero
    val tiny = Array.fill(16)(Array.fill(8)(Float.MinPositiveValue * (1 + rnd.nextInt(9))))
    assertKernelExact(tiny, Array.fill(8)(Float.MinPositiveValue * 5), "subnormal")
    assert(kernelBits(tiny, Array.fill(8)(Float.MinPositiveValue)).forall(_ != 0L))
  }

  test("dot of identical unit vectors is 1") {
    val v = VectorOps.normalize(Array(1f, 2f, 3f, 4f))
    assert(math.abs(VectorOps.dot(v, v) - 1.0) < 1e-6)
  }

  test("normalize produces unit vectors; zero vector is untouched") {
    randomVecs(100, 16, seed = 1).foreach { v =>
      val n = VectorOps.l2norm(VectorOps.normalize(v))
      assert(math.abs(n - 1.0) < 1e-4)
    }
    val z = new Array[Float](8)
    assert(VectorOps.l2norm(VectorOps.normalize(z)) == 0.0)
  }

  test("combine: empty -> None; non-empty -> unit vector (SURVEY Q10/Q11)") {
    assert(VectorOps.combine(Nil).isEmpty)
    val rnd = new java.util.Random(2)
    randomVecs(100, 16, seed = 3).grouped(4).foreach { g =>
      val terms = g.map(v => (rnd.nextFloat() * 6 - 3) -> v)
      val c = VectorOps.combine(terms).get
      val n = VectorOps.l2norm(c)
      assert(n == 0.0 || math.abs(n - 1.0) < 1e-4)
    }
  }

  test("combine(+a, -a) degenerates to zero") {
    val a = Array(1f, 2f, 3f)
    val c = VectorOps.combine(Seq(1f -> a, -1f -> a)).get
    assert(c.forall(_ == 0f))
  }

  test("scaling all magnitudes uniformly does not change the combined direction") {
    val a = Array(1f, 0f, 0f, 2f); val b = Array(0f, 1f, 1f, 0f)
    val c1 = VectorOps.combine(Seq(2f -> a, 1f -> b)).get
    val c2 = VectorOps.combine(Seq(4f -> a, 2f -> b)).get
    assert(math.abs(VectorOps.dot(c1, c2) - 1.0) < 1e-6)
  }

  test("sqlDoubleArray round-trips the widened floats exactly") {
    val v = Array(0.1f, -1.5f, 3.14159f)
    val rendered = VectorOps.sqlDoubleArray(v)
    val parsed = rendered.stripPrefix("[").takeWhile(_ != ']').split(",").map(_.toDouble)
    assert(parsed.sameElements(v.map(_.toDouble)))
  }

  test("embedder is deterministic across instances and unit-norm") {
    val e1 = new graft.embed.DeterministicEmbedder(64)
    val e2 = new graft.embed.DeterministicEmbedder(64)
    val v1 = e1.embedText("zebra stripes")
    val v2 = e2.embedText("zebra stripes")
    assert(v1.sameElements(v2))
    assert(math.abs(VectorOps.l2norm(v1) - 1.0) < 1e-4)
    assert(!v1.sameElements(e1.embedText("spots")))
  }
}
