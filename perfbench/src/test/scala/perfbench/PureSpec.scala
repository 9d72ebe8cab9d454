package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's pure parts: percentile rule, brute-force checker, stream
  * cache behaviour and span self time. */
class PureSpec extends AnyFunSuite {

  test("tail percentile keeps at least ten samples beyond it") {
    assert(Stats.tailPercentile(200) == Some(95)) // rank 190, 10 beyond
    assert(Stats.tailPercentile(199) == Some(94)) // p95 → rank 190, 9 beyond
    assert(Stats.tailPercentile(30) == Some(66))  // rank 20, 10 beyond
    assert(Stats.tailPercentile(20) == Some(50))  // rank 10, 10 beyond
    assert(Stats.tailPercentile(19) == None)      // not even the median has 10 beyond
    assert(Stats.tailPercentile(1000) == Some(95))
  }

  test("summary reports median, the percentile used and its value") {
    val xs = (1 to 30).map(_.toDouble)
    assert(Stats.summary(xs) == ((15.0, 66, 20.0)))
    val few = Seq(3.0, 1.0, 2.0)
    assert(Stats.summary(few) == ((2.0, 100, 3.0)))
  }

  test("nearest-rank percentile") {
    val s = IndexedSeq(10.0, 20.0, 30.0, 40.0)
    assert(Stats.nearestRank(s, 50) == 20.0)
    assert(Stats.nearestRank(s, 75) == 30.0)
    assert(Stats.nearestRank(s, 76) == 40.0)
    assert(Stats.nearestRank(s, 0) == 10.0)
  }

  test("brute force matches a hand-computed top-k with HALF_UP rounding and id tie-break") {
    // rows (dim 2): id 7 → (0.6, 0.8), id 3 → (0.8, 0.6), id 5 → (0.6, 0.8), id 9 → (-1, 0)
    val ids = Array(7L, 3L, 5L, 9L)
    val vecs = Array(0.6f, 0.8f, 0.8f, 0.6f, 0.6f, 0.8f, -1f, 0f)
    val q = Array(0.5f, 0.5f)
    // dots 0.70000002, 0.70000002, 0.70000002, -0.5 → 0.7 ties, broken by id
    assert(BruteForce.topK(ids, vecs, 2, q, 3) == Seq(3L -> 0.7, 5L -> 0.7, 7L -> 0.7))
    assert(BruteForce.topK(ids, vecs, 2, q, 4).last == (9L -> -0.5))
  }

  test("round4 is HALF_UP on the decimal value") {
    assert(BruteForce.round4(0.12345) == 0.1235)
    assert(BruteForce.round4(-0.12345) == -0.1235)
    assert(BruteForce.round4(0.12344999) == 0.1234)
  }

  test("image_algebra stream nearly always misses the resolver's 128-entry LRU") {
    val qs = new Streams.ImageAlgebra(7L, 1 << 17, 0).take(4000).toSeq
    val miss = Streams.lruMissRate(qs.flatMap(Streams.termKeys), 128)
    assert(miss > 0.99, s"miss rate $miss")
    val seeds = qs.count(_.startsWith("{\"random_seed\""))
    assert(seeds > 800 && seeds < 1200, s"$seeds random_seed requests of 4000")
  }

  test("ui_search stream mostly hits the LRU and uses the reference grammar") {
    val qs = new Streams.UiQueries(7L, 1000, 0).take(4000).toSeq
    val miss = Streams.lruMissRate(qs.flatMap(Streams.termKeys), 128)
    assert(miss < 0.5, s"miss rate $miss")
    qs.foreach { q =>
      val terms = graft.parser.QueryParser.parse(q)
      assert(terms.length >= 1 && terms.length <= 3, q)
      assert(terms.map(_.body.text).distinct.length == terms.length, q)
      assert(terms.forall(_.body.text.matches("label\\d+")), q)
    }
  }

  test("streams are a function of the seed") {
    assert(new Streams.UiQueries(3L, 1000, 1).take(50).toSeq ==
      new Streams.UiQueries(3L, 1000, 1).take(50).toSeq)
    assert(new Streams.UiQueries(3L, 1000, 1).take(50).toSeq !=
      new Streams.UiQueries(4L, 1000, 1).take(50).toSeq)
  }

  test("lru miss rate") {
    assert(Streams.lruMissRate(Seq("a", "b", "a", "c", "b"), 2) == 0.8)
    assert(Streams.lruMissRate(Seq("a", "a", "a"), 1) == 1.0 / 3)
  }

  test("self time subtracts the union of child intervals") {
    val root = Span(1, 1, 0, "request", 0, 100)
    val kids = Seq(Span(1, 2, 1, "parse", 10, 30), Span(1, 3, 1, "score", 20, 50),
      Span(1, 4, 1, "http", 60, 70))
    val self = Tracer.selfTimes(root +: kids)
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 20)
  }

  test("corpus rows are unit vectors and a function of (seed, row)") {
    val c = Corpus(5L, 100, 16, 4)
    val (labels, vecs) = c.matrix(2)
    val v = new Array[Float](16)
    assert(c.row(37, v, 0) == labels(37))
    assert(v.toSeq == vecs.slice(37 * 16, 38 * 16).toSeq)
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
  }

  test("an unplanted corpus keeps the labels and drops the cluster centres") {
    val planted = Corpus(5L, 400, 64, 4)
    val flat = Corpus(5L, 400, 64, 4, planted = false)
    val (pl, pv) = planted.matrix(2)
    val (fl, fv) = flat.matrix(2)
    assert(pl.toSeq == fl.toSeq)
    def meanSameLabelCos(labels: Array[Int], vecs: Array[Float]): Double = {
      val pairs = for (i <- 0 until 400; j <- i + 1 until 400 if labels(i) == labels(j))
        yield (0 until 64).map(k => vecs(i * 64 + k).toDouble * vecs(j * 64 + k)).sum
      pairs.sum / pairs.length
    }
    assert(meanSameLabelCos(pl, pv) > 0.3)
    assert(math.abs(meanSameLabelCos(fl, fv)) < 0.02)
  }
}
