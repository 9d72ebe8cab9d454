package perfbench

/** The independent reference for `/search_api` answers: a plain scan over
  * the generated vectors with the documented scoring rule — index-order
  * Double dot product, HALF_UP rounding to 4 decimal places, and the order
  * (score DESC, id ASC). It shares no code with the engine. */
object BruteForce {

  def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Top `k` (id, score) of `q` against row-major `vecs` (`dim` floats per
    * row; row r has id `ids(r)`). */
  def topK(ids: Array[Long], vecs: Array[Float], dim: Int,
      q: Array[Float], k: Int): IndexedSeq[(Long, Double)] = {
    val n = ids.length
    require(vecs.length == n.toLong * dim, "matrix shape does not match ids")
    val m = math.min(dim, q.length)
    val scores = new Array[Double](n)
    var r = 0
    while (r < n) {
      val base = r * dim
      var s = 0.0
      var i = 0
      while (i < m) { s += vecs(base + i).toDouble * q(i).toDouble; i += 1 }
      scores(r) = round4(s)
      r += 1
    }
    val order = (0 until n).sortWith { (a, b) =>
      if (scores(a) != scores(b)) scores(a) > scores(b) else ids(a) < ids(b)
    }
    order.take(k).map(r => ids(r) -> scores(r))
  }
}
