package perfbench

import java.util.SplittableRandom

/** Seeded request streams. Each client draws from its own generator, so a
  * seed fixes every client's sequence of requests. */
object Streams {

  /** Zipf(s) over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(rnd: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def clientRng(seed: Long, client: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L * (client + 1))

  /** The reference UI's query shape over the `labelN` word table: 1–3 terms,
    * the first bare, the rest `-w`, `+w` or `+2(w)`; words drawn Zipf(1)
    * through a seeded rank → label permutation, no word twice in a query
    * (a term and its negation would cancel to the zero vector). */
  final class UiQueries(seed: Long, words: Int, client: Int) extends Iterator[String] {
    private val rnd = clientRng(seed, client)
    private val perm: Array[Int] = {
      val p = Array.range(0, words)
      val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
      var i = words - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
      p
    }
    private val zipf = new Zipf(words, 1.0)
    def hasNext = true
    def next(): String = {
      val n = 1 + rnd.nextInt(3)
      val picked = scala.collection.mutable.LinkedHashSet[Int]()
      while (picked.size < n) picked += perm(zipf.sample(rnd))
      val ws = picked.toSeq.map(w => s"label$w")
      (ws.head +: ws.tail.map { w =>
        rnd.nextInt(3) match {
          case 0 => s"-$w"
          case 1 => s"+$w"
          case _ => s"+2($w)"
        }
      }).mkString(" ")
    }
  }

  /** Image algebra: 3 of 4 requests `{"image_id":a} -{"image_id":b}` with
    * distinct ids uniform over the corpus, 1 of 4 `{"random_seed":s}` with a
    * fresh seed. */
  final class ImageAlgebra(seed: Long, rows: Int, client: Int) extends Iterator[String] {
    private val rnd = clientRng(seed, client)
    def hasNext = true
    def next(): String =
      if (rnd.nextInt(4) == 3) s"""{"random_seed":${rnd.nextLong() >>> 1}}"""
      else {
        val a = rnd.nextInt(rows)
        var b = rnd.nextInt(rows)
        while (b == a) b = rnd.nextInt(rows)
        s"""{"image_id":$a} -{"image_id":$b}"""
      }
  }

  /** The term texts the engine's resolver memoizes for query `q`, in
    * resolution order (a parenthesised single word is keyed by its word). */
  def termKeys(q: String): Seq[String] =
    graft.parser.QueryParser.parse(q).map(_.body.text)

  /** Miss rate of a `capacity`-entry LRU over `keys` in order. */
  def lruMissRate(keys: Seq[String], capacity: Int): Double = {
    val lru = new java.util.LinkedHashMap[String, java.lang.Boolean](capacity, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean = size() > capacity
    }
    var misses = 0
    keys.foreach { k =>
      if (lru.get(k) == null) { misses += 1; lru.put(k, java.lang.Boolean.TRUE) }
    }
    if (keys.isEmpty) 0.0 else misses.toDouble / keys.length
  }
}
