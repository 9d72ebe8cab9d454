package graft.engine

import graft.vec.VectorOps

/** The serving top-k: keeps the best `min(k, n)` offered rows by
  * (score DESC, `before` ASC), the order of the distributed
  * `orderBy(col(score).desc, col(tie).asc).limit(k)`. Rows are caller
  * array indices; `before(a, b)` says row `a` wins a score tie against
  * row `b`. A binary min-heap over primitive arrays, root = worst kept
  * row, so a selection allocates O(min(k, n)) and `k = Int.MaxValue`
  * costs no more than `k = n`. */
private[engine] final class TopK(k: Int, n: Int, before: (Int, Int) => Boolean) {
  private val cap = math.max(0, math.min(k, n))
  private val scores = new Array[Double](cap)
  private val rows = new Array[Int](cap)
  private var size = 0

  private def worse(i: Int, j: Int): Boolean = scores(i) < scores(j) ||
    (scores(i) == scores(j) && before(rows(j), rows(i)))

  private def swap(i: Int, j: Int): Unit = {
    val s = scores(i); scores(i) = scores(j); scores(j) = s
    val r = rows(i); rows(i) = rows(j); rows(j) = r
  }

  private def siftDown(at: Int): Unit = {
    var i = at
    var done = false
    while (!done) {
      val l = 2 * i + 1
      var w = i
      if (l < size && worse(l, w)) w = l
      if (l + 1 < size && worse(l + 1, w)) w = l + 1
      if (w == i) done = true else { swap(i, w); i = w }
    }
  }

  /** The least score a row needs to be kept: −∞ while there is room,
    * then the worst kept score (+∞ when k ≤ 0). */
  def floor: Double =
    if (size < cap) Double.NegativeInfinity
    else if (cap == 0) Double.PositiveInfinity
    else scores(0)

  def offer(s: Double, row: Int): Unit =
    if (size < cap) {
      var i = size
      scores(i) = s; rows(i) = row; size += 1
      while (i > 0 && worse(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    } else if (size > 0 && (s > scores(0) || (s == scores(0) && before(row, rows(0))))) {
      scores(0) = s; rows(0) = row
      siftDown(0)
    }

  /** The kept rows best-first with their scores; empties the selector. */
  def drain(): (Array[Int], Array[Double]) = {
    val outRows = new Array[Int](size)
    val outScores = new Array[Double](size)
    while (size > 0) {
      size -= 1
      outRows(size) = rows(0); outScores(size) = scores(0)
      swap(0, size)
      siftDown(0)
    }
    (outRows, outScores)
  }
}

private[engine] object TopK {

  /** Top-`k` of rows `0 until n` by [[VectorOps.round4]] of their `raw`
    * score: Spark's `round(score, 4)`, then the ordered limit. The cut is
    * on the ROUNDED score, since a row whose raw score is below the k-th
    * kept row's can tie it after rounding and win on `before`. Rounding
    * moves a score by at most 5e-5, so a row whose raw score is below
    * the floor minus 1e-4 cannot be kept and skips the round. */
  def byRoundedScore(n: Int, k: Int, raw: Int => Double,
      before: (Int, Int) => Boolean): (Array[Int], Array[Double]) = {
    val top = new TopK(k, n, before)
    var r = 0
    while (r < n) {
      val s = raw(r)
      if (s >= top.floor - 1e-4) top.offer(VectorOps.round4(s), r)
      r += 1
    }
    top.drain()
  }
}
