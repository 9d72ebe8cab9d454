package graft.ops

import graft.SparkSpec
import graft.vec.VectorOps
import org.apache.spark.sql.functions._

/** Behavior checks for the round-3 operator additions — properties the
  * hash-oracle can't express (cross-query consistency, approximation
  * fidelity), one per operator family. */
class OperatorBehaviorSpec extends SparkSpec {

  test("clusterPairs: resolves components of an arbitrary pair set " +
    "(chain, triangle+bridge, singleton pair) to min-id labels, and a " +
    "long chain converges under pointer doubling") {
    import spark.implicits._
    // chain 1-2-3-4, triangle 10-11-12 bridged to 13, pair 20-21, plus a
    // 64-node path (diameter 63 → needs the doubling join, not 40 plain
    // rounds would be enough anyway but log2(63)≈6 is what it takes)
    val chain = (100L until 163L).map(i => (i, i + 1))
    val pairs = (Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 10L), (12L, 13L), (20L, 21L)) ++ chain)
      .toDF("doc_a", "doc_b").localCheckpoint(true)
    val got = CurationQueries.clusterPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 4L).foreach(n => assert(got(n) == 1L, s"node $n"))
    Seq(10L, 11L, 12L, 13L).foreach(n => assert(got(n) == 10L, s"node $n"))
    Seq(20L, 21L).foreach(n => assert(got(n) == 20L, s"node $n"))
    (100L to 163L).foreach(n => assert(got(n) == 100L, s"chain node $n"))
    assert(got.size == 4 + 4 + 2 + 64) // exactly the involved nodes
  }

  test("e07: every matched prior view is at-or-before its purchase, " +
    "same user, and is the latest such view") {
    // through Tables.events, NOT a raw parquet read: the query compares
    // MICROSECOND-truncated timestamps, and the raw nanos (≈1.8e18, above
    // 2^53) would both quantize lossily as doubles and disagree with the
    // query's tie semantics for same-microsecond events
    val ev = graft.model.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("double").as("tsd"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val byId = ev.map(e => e._1 -> e).toMap
    val rows = EventQueries.e07_asof_join(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (_, pUser, _, pTs) = byId(r.getLong(0))
      if (!r.isNullAt(2)) {
        val (vId, vUser, vType, vTs) = byId(r.getLong(2))
        assert(vUser == pUser && vType == "view" && vTs <= pTs)
        // latest: no other view for this user in (vTs, pTs], nor an
        // equal-ts view with a larger event_id
        assert(!ev.exists(e => e._2 == pUser && e._3 == "view" &&
          e._4 <= pTs && (e._4 > vTs || (e._4 == vTs && e._1 > vId))))
      } else {
        assert(!ev.exists(e => e._2 == pUser && e._3 == "view" && e._4 <= pTs))
      }
    }
  }

  test("e08: funnel stages are monotone counts and stage-k users have a " +
    "strictly ordered view<click<purchase prefix") {
    val rows = EventQueries.e08_funnel(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.nonEmpty)
    val byStage = rows.values.groupBy(identity).view.mapValues(_.size)
    // reached(k) must shrink as k grows
    val reached = (1 to 3).map(k => rows.values.count(_ >= k))
    assert(reached == reached.sorted.reverse)
    assert(reached.head > 0, "corpus should have at least one view")
    assert(byStage.keySet.subsetOf(Set(0, 1, 2, 3)))
  }

  test("h03: exact quantiles are ordered, bracket the data, and " +
    "approx_percentile lands within 5% of them") {
    val rows = ScaleQueries.h03_exact_quantiles(spark, sf).collect()
    assert(rows.nonEmpty)
    val approx = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(col("event_type"))
      .agg(expr("approx_percentile(value, array(0.25D, 0.5D, 0.75D), 10000)")
        .as("ap"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    rows.foreach { r =>
      val (p25, p50, p75) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(p25 <= p50 && p50 <= p75)
      approx(r.getString(0)).zip(Seq(p25, p50, p75)).foreach { case (a, e) =>
        assert(math.abs(a - e) <= math.max(0.05 * math.abs(e), 0.01),
          s"${r.getString(0)}: approx $a vs exact $e")
      }
    }
  }

  test("t05: per-doc salient terms have non-increasing tf and the ranked " +
    "terms really occur tf times in the doc") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = TextQueries.t05_salient_terms(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (docId, rs) =>
      val byRk = rs.sortBy(_.getInt(1))
      assert(byRk.map(_.getLong(3)).toSeq == byRk.map(_.getLong(3)).toSeq.sorted.reverse)
      byRk.foreach { r =>
        val occurrences = docs(docId).split(" ", -1).count(_ == r.getString(2))
        assert(occurrences == r.getLong(3),
          s"doc $docId term '${r.getString(2)}': tf ${r.getLong(3)} vs $occurrences")
      }
    }
  }

  test("e09: cohort assignment separates users whose first activity " +
    "falls in different weeks (the driver corpus is single-cohort)") {
    import spark.implicits._
    // synthetic: users 1-2 start week 0, user 3 starts week 1; user 1
    // returns in weeks 1 and 2, user 2 never returns
    def ts(day: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 12:00:00").getTime +
        day * 86400000L)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-e09-weeks"
    Seq(
      (1L, 1L, "view", ts(0)), (2L, 2L, "view", ts(1)),
      (3L, 1L, "click", ts(8)), (4L, 3L, "view", ts(9)),
      (5L, 1L, "view", ts(15)))
      .toDF("event_id", "user_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = EventQueries.e09_cohort_retention(spark, dir).collect()
      .map(r => (r.getTimestamp(0).toString, r.getInt(1), r.getLong(2)))
    // 2024-01-01 is a Monday, so week starts are Jan 1 / Jan 8 / Jan 15
    assert(rows.toSeq == Seq(
      ("2024-01-01 00:00:00.0", 0, 2L), // users 1,2 in cohort week 0
      ("2024-01-01 00:00:00.0", 1, 1L), // user 1 active week 1
      ("2024-01-01 00:00:00.0", 2, 1L), // user 1 active week 2
      ("2024-01-08 00:00:00.0", 0, 1L))) // user 3's own later cohort
  }

  test("t06: dup-word and dup-gram ratios match an independent " +
    "re-derivation from the raw text") {
    def halfUp(p: Long, q: Long): Double =
      ((2 * 10000 * p + q) / (2 * q)) / 10000.0
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = TextQueries.t06_repetition(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ws = docs(r.getLong(0)).split(" ", -1)
      val grams = ws.sliding(3).filter(_.length == 3).map(_.mkString("_")).toSeq
      assert(r.getLong(2) == grams.length, s"n_grams of doc ${r.getLong(0)}")
      assert(r.getDouble(3) ==
        halfUp(ws.length - ws.distinct.length, ws.length))
      val expGram = if (grams.isEmpty) 0.0
        else halfUp(grams.length - grams.distinct.length, grams.length)
      assert(r.getDouble(4) == expGram, s"dup_gram_ratio of doc ${r.getLong(0)}")
    }
  }

  test("c03: kept is exactly the conjunction of the four rule flags and " +
    "every flag matches a re-derivation from the raw text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    val en = Set("the", "a", "of", "and", "is")
    val rows = CurationQueries.c03_quality_filter(spark, sf).collect()
    assert(rows.nonEmpty)
    var kept = 0
    rows.foreach { r =>
      val (text, lang) = docs(r.getLong(0))
      val ws = text.split(" ", -1)
      val wchars = ws.map(_.length.toLong).sum
      val flags = Seq(
        ws.length >= 30 && ws.length <= 100000,
        10 * wchars >= 40L * ws.length && 10 * wchars <= 52L * ws.length,
        lang != "en" || ws.count(en) >= 2,
        2 * (ws.length - ws.distinct.length) <= ws.length).map(b => if (b) 1 else 0)
      assert(Seq(r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6)) == flags,
        s"flags of doc ${r.getLong(0)}")
      assert(r.getInt(7) == flags.product)
      kept += r.getInt(7)
    }
    assert(kept > 0 && kept < rows.length, "rule gauntlet must be non-degenerate")
  }

  test("d07: contamination counts match a re-derivation, and no doc is " +
    "in both the train and eval split") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def bucket(id: Long) = math.floorMod(id * 2654435761L, 1000L)
    def grams(t: String) =
      t.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString("_")).toSet
    val train = docs.filter { case (id, _) => bucket(id) < 800 }
    val eval_ = docs.filter { case (id, _) => bucket(id) >= 900 }
    assert(train.keySet.intersect(eval_.keySet).isEmpty)
    // df-capped gram universe (cap never fires at sf0.001's vocab, but
    // recompute it anyway so the test tracks the query's semantics)
    val df = (train ++ eval_).toSeq.flatMap { case (_, t) => grams(t) }
      .groupBy(identity).view.mapValues(_.size)
    val kept = (g: String) => df(g) <= 100
    val evalGrams = eval_.map { case (id, t) => id -> grams(t).filter(kept) }
    val rows = DedupQueries.d07_decontaminate(spark, sf).collect()
    val got = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    train.foreach { case (id, t) =>
      val tg = grams(t).filter(kept)
      val shared = tg.filter(g => evalGrams.exists(_._2.contains(g)))
      val hitDocs = evalGrams.count(_._2.intersect(tg).nonEmpty)
      if (shared.nonEmpty)
        assert(got(id) == ((shared.size.toLong, hitDocs.toLong)), s"doc $id")
      else assert(!got.contains(id), s"doc $id should be clean")
    }
  }

  test("h04: heavy-hitter counts match a full recount and come back in " +
    "(tf DESC, term ASC) order") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text")).collect().map(_.getString(0))
    val tf = texts.flatMap(_.split(" ", -1)).groupBy(identity).view.mapValues(_.size)
    val docF = texts.flatMap(_.split(" ", -1).distinct)
      .groupBy(identity).view.mapValues(_.size)
    val got = ScaleQueries.h04_heavy_hitters(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.length <= 20)
    val resorted = got.sortBy { case (t, f, _) => (-f, t) }
    assert(got.toSeq == resorted.toSeq, "output must be (tf DESC, term ASC)")
    got.foreach { case (term, f, dcnt) =>
      assert(f == tf(term).toLong && dcnt == docF(term).toLong, term)
    }
    // nothing outside the top-20 beats anything inside it
    val minTf = got.map(_._2).min
    assert(tf.values.count(_ > minTf) <= got.count(_._2 > minTf))
  }

  test("p03: balanced mixture keeps under-represented domains whole and " +
    "lands over-represented ones near the fair share") {
    val inCounts = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fairShare = inCounts.values.sum / inCounts.size
    val out = ScaleQueries.p03_domain_mix(spark, sf).collect()
    val outCounts = out.groupBy(_.getString(1)).view.mapValues(_.size.toLong).toMap
    inCounts.foreach { case (lang, nIn) =>
      val nOut = outCounts.getOrElse(lang, 0L)
      if (nIn <= fairShare) assert(nOut == nIn, s"$lang should be kept whole")
      else assert(math.abs(nOut - fairShare) <= math.max(2, fairShare / 10),
        s"$lang: $nOut vs fair share $fairShare")
    }
    // determinism: the same doc set on every run
    val again = ScaleQueries.p03_domain_mix(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSet == again.map(_.getLong(0)).toSet)
  }

  test("p04: per-source offsets are exact prefix sums and bins cut the " +
    "stream every 2048 tokens") {
    val rows = ScaleQueries.p04_sequence_pack(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (_, rs) =>
      var off = 0L
      rs.sortBy(_._1).foreach { case (id, _, toks, bin, pos) =>
        assert(bin == off / 2048 && pos == off % 2048, s"doc $id")
        off += toks
      }
    }
  }

  test("s02: the two-path salted join equals the plain join+aggregate, " +
    "and the hot path actually fires") {
    import org.apache.spark.sql.functions.{broadcast => _, _}
    val li = graft.model.Tables.lineitem(spark, sf)
      .withColumn("cents", expr("CAST(round(l_extendedprice * 100.0D) AS BIGINT)"))
    val ord = graft.model.Tables.orders(spark, sf)
    val plain = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"), expr("sum(cents) / 100.0D").as("revenue"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = ScaleQueries.s02_skew_join(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == plain)
    // the split must route some keys down the hot path at this sf, or the
    // test isn't exercising the salted side at all
    val hot = li.groupBy(col("l_orderkey")).count().filter(col("count") > 10)
    assert(hot.count() > 0, "threshold leaves the hot path empty at test sf")
  }

  test("p05: epoch multiplicity follows the quality tiers and the " +
    "low-tier downsample is deterministic") {
    val quality = TextQueries.t02_quality_score(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("quality"))).toMap
    val out = ScaleQueries.p05_quality_epochs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(r.fieldIndex("n_epochs")),
        r.getInt(r.fieldIndex("epoch"))))
    val perDoc = out.groupBy(_._1)
    perDoc.foreach { case (id, rs) =>
      val q = quality(id)
      val expected = if (q >= 0.7) 2 else 1 // low tier only appears if kept
      assert(rs.length == expected, s"doc $id q=$q")
      assert(rs.map(_._3).sorted.sameElements(1 to expected), s"doc $id epochs")
    }
    // every document lands in exactly one tier; dropped docs are the
    // low-quality ones outside the 250-per-mille keep bucket
    quality.foreach { case (id, q) =>
      val kept = perDoc.contains(id)
      if (q >= 0.6) assert(kept, s"doc $id q=$q must be kept")
      else assert(kept == (Math.floorMod(id * 2654435761L, 1000L) < 250),
        s"doc $id low-tier keep mismatch")
    }
  }

  test("c04: stage flags are sequentially consistent and final is " +
    "exactly the conjunction of every stage") {
    val rows = CurationQueries.c04_corpus_pipeline(spark, sf).collect().map { r =>
      (r.getLong(0), r.getString(2), r.getInt(3), r.getInt(4), r.getInt(5),
        r.getLong(6), r.getInt(7), r.getInt(8))
    }
    assert(rows.nonEmpty)
    var anyFinal = false
    rows.foreach { case (id, split, gauntlet, dup, contam, rate, mixed, fin) =>
      // flags only fire inside their stage's surviving pool
      if (gauntlet == 0) assert(dup == 0 && contam == 0 && mixed == 0, s"doc $id")
      if (dup == 1) assert(gauntlet == 1, s"doc $id")
      if (contam == 1) assert(gauntlet == 1 && dup == 0 && split == "train", s"doc $id")
      if (rate > 0)
        assert(gauntlet == 1 && dup == 0 && contam == 0 && split == "train", s"doc $id")
      if (mixed == 1) assert(rate > 0, s"doc $id")
      val expected =
        if (gauntlet == 1 && dup == 0 && contam == 0 && split == "train") mixed else 0
      assert(fin == expected, s"doc $id final")
      anyFinal ||= fin == 1
    }
    assert(anyFinal, "pipeline must keep at least one training document at test sf")
    // gauntlet matches c03's conjunction doc-for-doc
    val c03kept = CurationQueries.c03_quality_filter(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(r.fieldIndex("kept"))).toMap
    rows.foreach { case (id, _, gauntlet, _, _, _, _, _) =>
      assert(c03kept(id) == gauntlet, s"doc $id gauntlet vs c03")
    }
  }

  test("t07: coverage is a nondecreasing prefix share in (0,1], ranks " +
    "descend by tf, and cum_tf matches an independent recount") {
    val rows = TextQueries.t07_vocab_coverage(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 30)
    val counts = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("explode(split(text, ' ')) AS term")
      .groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    var cum = 0L
    rows.zipWithIndex.foreach { case ((rk, term, tf, cov), i) =>
      assert(rk == i + 1)
      assert(counts(term) == tf, s"$term tf")
      if (i > 0) assert(rows(i - 1)._3 >= tf, "tf must be nonincreasing")
      cum += tf
      val expected = ((2 * 10000 * cum + total) / (2 * total)) / 10000.0
      assert(cov == expected && cov > 0.0 && cov <= 1.0, s"rank $rk coverage")
    }
  }

  test("v06: int8-quantized top-10 recovers >=80% of the exact fp32 " +
    "top-10 (ranking fidelity of the 4x-compressed path)") {
    val exact = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        VectorOps.dotQueryNative(col("embedding"), VectorQueries.flagshipVec).as("s"))
      .orderBy(col("s").desc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    val quant = VectorQueries.v06_quantized_topk(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(quant.size == 10)
    assert(exact.intersect(quant).size >= 8,
      s"quantized top-10 overlap ${exact.intersect(quant).size}/10")
  }

  test("n05: coarse-100 + exact rerank returns EXACTLY the exact fp32 " +
    "top-10, in order (the rerank repairs v06's quantization error)") {
    val exact = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        VectorOps.dotQueryNative(col("embedding"), VectorQueries.flagshipVec).as("s"))
      .orderBy(col("s").desc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSeq
    val reranked = AnnQueries.n05_quantized_rerank(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    assert(reranked == exact,
      s"two-stage $reranked diverges from exact $exact — a true top-10 " +
        "vector fell below coarse rank 100")
  }

  test("s03: bloom pre-join equals the plain semi-join aggregate " +
    "(the bloom is a performance hint, never a correctness surface)") {
    val got = ScaleQueries.s03_bloom_prejoin(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val urgent = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val direct = spark.read.parquet(s"$sf/lineitem.parquet")
      .withColumn("cents", expr("CAST(round(l_extendedprice * 100.0D) AS BIGINT)"))
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"), expr("sum(cents) / 100.0D").as("revenue"))
      .orderBy(col("l_returnflag")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == direct, s"bloom path $got vs direct $direct")
  }

  test("v07: per-dimension mean/std/scale match an independent " +
    "micro-unit recompute exactly (no float-accumulation surface)") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val dims = vecs.head.length
    val rows = VectorQueries.v07_dim_calibration(spark, sf).collect()
    assert(rows.length == dims)
    rows.foreach { r =>
      val dim = r.getLong(0).toInt
      val xs = vecs.map(_(dim).toDouble)
      val mi = xs.map(x => math.floor(x * 1e6 + 0.5).toLong)
      val n = mi.length
      val mean = mi.sum / (n * 1e6)
      val std = math.sqrt(math.max(
        mi.map(m => m * m).sum / (n * 1e12) - mean * mean, 0.0))
      val scale = math.max(math.abs(xs.min), math.abs(xs.max)) / 127.0
      assert(r.getLong(1) == n)
      assert(r.getDouble(2) == mean, s"dim $dim mean")
      assert(r.getDouble(3) == std, s"dim $dim std")
      assert(math.abs(r.getDouble(6) - scale) < 1e-15, s"dim $dim scale")
    }
  }

  test("c05: clean_text matches an independent in-memory hot-span " +
    "removal, and span counts are conserved") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def spansOf(t: String): Seq[String] =
      t.split(" ", -1).toSeq.grouped(CurationQueries.SPAN_WORDS)
        .map(_.mkString(" ")).toSeq
    val hot: Set[String] = docs.toSeq
      .flatMap { case (id, t) => spansOf(t).distinct.map(_ -> id) }
      .groupBy(_._1).collect {
        case (sp, xs) if xs.map(_._2).distinct.size >= CurationQueries.SPAN_HOT_DF => sp
      }.toSet
    val rows = CurationQueries.c05_boilerplate_spans(spark, sf).collect()
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val spans = spansOf(docs(r.getLong(0)))
      val kept = spans.filterNot(hot)
      assert(r.getLong(1) == spans.size && r.getLong(2) == kept.size,
        s"doc ${r.getLong(0)}: counts (${r.getLong(1)},${r.getLong(2)}) " +
          s"vs recompute (${spans.size},${kept.size})")
      assert(r.getString(3) == kept.mkString(" "), s"doc ${r.getLong(0)} text")
    }
  }

  test("d08: chunk dedup keeps exactly the globally-first occurrence of " +
    "every 20-word chunk and reassembles survivors in position order") {
    val docs = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def chunksOf(t: String): Seq[String] =
      t.split(" ", -1).toSeq.grouped(20).map(_.mkString(" ")).toSeq
    // first global (doc_id, cno) key per distinct chunk — TUPLE order,
    // matching the query's struct-min key (a packed BIGINT would collide
    // for pathological chunk counts)
    val firstKey: Map[String, (Long, Int)] = docs.toSeq
      .flatMap { case (id, t) =>
        chunksOf(t).zipWithIndex.map { case (c, i) => (c, (id, i)) } }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).min }
    val rows = DedupQueries.d08_chunk_dedup(spark, sf).collect()
    assert(rows.length == docs.length)
    var dropped = 0L
    rows.foreach { r =>
      val id = r.getLong(0)
      val chunks = chunksOf(docs.find(_._1 == id).get._2)
      val kept = chunks.zipWithIndex.collect {
        case (c, i) if firstKey(c) == ((id, i)) => c
      }
      assert(r.getLong(1) == chunks.size && r.getLong(2) == kept.size,
        s"doc $id counts")
      assert(r.getString(3) == kept.mkString(" "), s"doc $id text")
      dropped += chunks.size - kept.size
    }
    assert(dropped > 0, "corpus must exercise the dedup (cross-doc repeats)")
  }

  test("t09: planted PII is counted and redacted (emails consumed before " +
    "numeric patterns), clean driver text passes through untouched") {
    import spark.implicits._
    val dirty = Seq(
      ("write to alice.b+spam@mail.example.org today",
        "write to <EMAIL> today", (1L, 0L, 0L)),
      ("host 10.0.0.1 and 192.168.255.254 up",
        "host <IP> and <IP> up", (0L, 2L, 0L)),
      ("call +4915123456789 now", "call <PHONE> now", (0L, 0L, 1L)),
      ("a1@b2.co from 8.8.8.8 ring +1234567890",
        "<EMAIL> from <IP> ring <PHONE>", (1L, 1L, 1L)),
      // octet-range validation: 999.x and a 300-octet never count as IP
      ("build 999.999.999.999 and v10.2.300.4 tags",
        "build 999.999.999.999 and v10.2.300.4 tags", (0L, 0L, 0L)),
      // unbounded phone: a 20-digit run redacts WHOLE, no tail leak
      ("ring +12345678901234567890 ok", "ring <PHONE> ok", (0L, 0L, 1L)),
      // stage consistency: the dotted quad lives inside the email local
      // part, so after email redaction there is NO ip to count
      ("mail 10.0.0.1@host.example.com first",
        "mail <EMAIL> first", (1L, 0L, 0L)),
      ("no pii here at all", "no pii here at all", (0L, 0L, 0L)))
    // counts computed stage-consistently, exactly as t09 does
    val got = dirty.map(_._1).toDF("text")
      .withColumn("after_email", TextQueries.redactEmail(col("text")))
      .withColumn("after_ip", TextQueries.redactIp(col("after_email")))
      .select(
        regexp_count(col("text"), lit(TextQueries.EMAIL_RE)).cast("long"),
        regexp_count(col("after_email"), lit(TextQueries.IPV4_RE)).cast("long"),
        regexp_count(col("after_ip"), lit(TextQueries.PHONE_RE)).cast("long"),
        TextQueries.redactPii(col("text")))
      .collect()
    dirty.zip(got).foreach { case ((in, wantRed, (ne, ni, np)), r) =>
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((ne, ni, np)), in)
      assert(r.getString(3) == wantRed, in)
    }
    // the oracled query itself: on the clean driver corpus every count is
    // zero and the redacted hash equals the original's (no false positives)
    val base = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), sha2(col("text"), 256).as("orig_sha"))
    val bad = TextQueries.t09_pii_redact(spark, sf)
      .join(base, "doc_id")
      .filter(col("n_email") =!= 0 || col("n_ip") =!= 0 ||
        col("n_phone") =!= 0 || col("red_sha") =!= col("orig_sha"))
      .count()
    assert(bad == 0)
  }

  test("clusterReps: best-quality member wins (tie -> min id) over an " +
    "arbitrary label set; unlabeled docs pass through as singletons") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (10L, 0.1),
      (11L, 0.2), (99L, 0.7)).toDF("doc_id", "quality")
    val got = CurationQueries.clusterReps(labels, quality).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got == Seq(
      (1L, 1L, 2L, 0), (2L, 1L, 2L, 1), (3L, 1L, 2L, 0),
      (10L, 10L, 11L, 0), (11L, 10L, 11L, 1), (99L, 99L, 99L, 1)))
  }

  test("clusterReps universe contract: quality defines the corpus — a " +
    "label node with no quality row is excluded (d02's synthetic " +
    "+100000 variant nodes must not surface), never given a null score") {
    import spark.implicits._
    // cluster 1 = corpus doc 1 + synthetic variant node 100001 (planted
    // by a d02-style pair set, absent from the corpus quality frame)
    val labels = Seq((1L, 1L), (100001L, 1L)).toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 0.1), (5L, 0.9)).toDF("doc_id", "quality")
    val got = CurationQueries.clusterReps(labels, quality).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    // node 100001 excluded; doc 1 represents its cluster among corpus
    // members; unlabeled corpus doc 5 passes through as a singleton
    assert(got == Seq((1L, 1L, 1L, 1), (5L, 5L, 5L, 1)))
    assert(CurationQueries.clusterReps(labels, quality)
      .filter(col("quality").isNull).count() == 0)
  }

  test("n11: fused predicate returns a FULL top-10 of eligible rows " +
    "where post-filtering the unfiltered search starves, and every " +
    "result satisfies the predicate") {
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = AnnQueries.n11_filtered_ann(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 10)
    assert(got.forall { case (id, _) => labels(id) % 2 == 0 },
      "every n11 result must satisfy the fused predicate")
    // the shape post-filtering cannot deliver: filter AFTER the
    // unfiltered top-10 and count survivors — whenever that is < 10,
    // the fused form is not just faster, it is the only correct one
    val unfilteredTop10 = AnnQueries.n08_ivfpq_artifact(spark, sf).collect()
      .map(_.getLong(0))
    val postFiltered = unfilteredTop10.count(id => labels(id) % 2 == 0)
    assert(postFiltered < 10,
      s"fixture check: unfiltered top-10 has $postFiltered eligible rows — " +
        "if this is ever 10 the corpus no longer exercises the starvation case")
  }

  test("n10: recall eval is bounded, permille-consistent, and the LSH " +
    "path keeps a usable recall floor on the test corpus") {
    val rows = AnnQueries.n10_ann_recall(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 10) // one per label centroid
    rows.foreach { case (q, h, p) =>
      assert(h >= 0 && h <= 10, s"label $q hits $h")
      assert(p == h * 100, s"label $q permille $p")
    }
    // the 6x3-bit OR-amplified family is documented at ~0.8 recall on
    // this corpus (AnnQueries scaladoc); assert a floor with slack
    val mean = rows.map(_._3).sum / 10.0
    assert(mean >= 500.0, s"mean recall permille $mean")
  }

  test("c06: one representative per cluster, chosen by max quality then " +
    "min id, with labels consistent with c02") {
    val rows = CurationQueries.c06_cluster_reps(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      val reps = members.map(_._3).distinct
      assert(reps.length == 1, s"cluster $cid has ${reps.length} rep_ids")
      val rep = reps.head
      assert(members.count(_._4 == 1) == 1, s"cluster $cid kept != 1")
      assert(members.find(_._4 == 1).get._1 == rep)
      // rep is the (quality DESC, doc_id ASC) argmax over the members
      val best = members.sortBy(m => (-m._5, m._1)).head._1
      assert(rep == best, s"cluster $cid rep $rep != best $best")
      assert(members.exists(_._1 == cid), s"label $cid not a member id")
    }
    // label agreement with c02: clustered docs carry the c02 label,
    // unclustered docs are their own singleton
    val c02 = CurationQueries.c02_dedup_clusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, cid, _, _, _) =>
      assert(cid == c02.getOrElse(id, id), s"doc $id label $cid")
    }
  }

  test("t10: BPE pair census matches a driver-side re-derivation " +
    "(word-frequency-weighted, top-20 with deterministic tiebreak)") {
    val got = TextQueries.t10_bpe_pairs(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val wf = texts.flatMap(_.split(" ", -1)).filter(_.length >= 2)
      .groupBy(identity).map { case (w, v) => w -> v.size.toLong }
    val pairCounts = wf.toSeq.flatMap { case (w, cnt) =>
      (0 until w.length - 1).map(i => w.substring(i, i + 2) -> cnt)
    }.groupBy(_._1).map { case (p, v) => p -> v.map(_._2).sum }
    val expected = pairCounts.toSeq
      .sortBy { case (p, n) => (-n, p) }.take(20)
    assert(got == expected)
  }

  test("t12: three-round BPE training matches a driver-side re-derivation " +
    "(greedy leftmost merges, count-then-pair tiebreak, merged tokens " +
    "re-enter later censuses)") {
    val got = TextQueries.t12_bpe_train(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq
    var vocab: Map[String, (Vector[String], Long)] =
      spark.read.parquet(s"$sf/documents.parquet")
        .select("text").collect().map(_.getString(0))
        .flatMap(_.split(" ", -1)).filter(_.nonEmpty)
        .groupBy(identity)
        .map { case (w, v) => w -> (w.map(_.toString).toVector, v.size.toLong) }
    val expected = Seq.newBuilder[(Int, Int, String, String, Long)]
    for (r <- 1 to TextQueries.BPE_ROUNDS) {
      val census = vocab.values.toSeq.flatMap { case (toks, cnt) =>
        toks.zip(toks.tail).map(p => p -> cnt)
      }.groupBy(_._1).map { case (p, v) => p -> v.map(_._2).sum }
      val top5 = census.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.take(5)
      expected ++= top5.zipWithIndex.map {
        case (((a, b), n), i) => (r, i + 1, a, b, n)
      }
      val (ma, mb) = top5.head._1
      vocab = vocab.map { case (w, (toks, cnt)) =>
        val buf = Vector.newBuilder[String]
        var i = 0
        while (i < toks.length) {
          if (i + 1 < toks.length && toks(i) == ma && toks(i + 1) == mb) {
            buf += ma + mb; i += 2 // greedy leftmost, non-overlapping
          } else { buf += toks(i); i += 1 }
        }
        w -> (buf.result(), cnt)
      }
    }
    assert(got == expected.result())
    // multi-round is real: a round's winning pair is fully merged, so it
    // can never appear in any later round's census (greedy leftmost
    // merging leaves zero (a,b) adjacencies behind)
    val winners = got.filter(_._2 == 1).map { case (r, _, a, b, _) => r -> (a, b) }
    winners.foreach { case (r, pair) =>
      assert(!got.exists { case (r2, _, a2, b2, _) => r2 > r && (a2, b2) == pair },
        s"round-$r winner $pair resurfaced after its merge")
    }
  }

  test("t11: readability counts match a driver-side regex re-derivation " +
    "and ratios are exact half-up centi units") {
    val got = TextQueries.t11_readability(spark, sf)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(docs.length == got.size)
    val sentRe = "[.!?]+".r
    val vowelRe = "[aeiou]+".r
    docs.foreach { case (id, text) =>
      val w = text.split(" ", -1).length.toLong
      val sn = math.max(sentRe.findAllIn(text).size.toLong, 1L)
      val v = vowelRe.findAllIn(text).size.toLong
      val wps = (200 * w + sn) / (2 * sn)
      val vpw = (200 * v + w) / (2 * w)
      assert(got(id) == ((w, sn, v, wps, vpw)), s"doc $id")
    }
  }

  test("e11: transition counts match a driver-side re-derivation and " +
    "per-source permille shares sum to ~1000") {
    val got = EventQueries.e11_transitions(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // independent re-derivation: sort each user's events, pair consecutive
    // Tables.events, not a raw parquet read: ts normalization (NTZ /
    // nanos encodings) is the loader's job, and a raw read would make
    // this re-derivation fail on encodings the operator itself handles
    val expected = graft.model.Tables.events(spark, sf)
      .selectExpr("user_id", "event_type", "CAST(ts AS DOUBLE) es", "event_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1).values.flatMap { evs =>
        evs.sortBy(e => (e._3, e._4)).sliding(2).collect {
          case Array(a, b) => (a._2, b._2)
        }
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, n) => assert(got(k)._1 == n, k) }
    // permille: exact half-up of n/tot per source; sums to 1000 up to
    // the per-cell rounding slack (±1 per destination type)
    got.keys.toSeq.groupBy(_._1).foreach { case (from, ks) =>
      // (toSeq: a Set.map over the n values would collapse equal counts)
      val tot = ks.map(got(_)._1).sum
      ks.foreach { k =>
        assert(got(k)._2 == (2000L * got(k)._1 + tot) / (2 * tot), k)
      }
      val pSum = ks.map(got(_)._2).sum
      assert(math.abs(pSum - 1000L) <= ks.size, from)
    }
  }

  test("n09: k-NN graph matches a driver-side re-derivation of the " +
    "tiered-LSH candidates and their rounded-cosine top-3 ranking") {
    val got = AnnQueries.n09_knn_graph(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val expected = n09Expected(sf)
    assert(got.toSeq == expected)
  }

  test("n09: planted exact clones (the clone-group expansion) still match " +
    "the driver-side re-derivation") {
    val d = java.nio.file.Files.createTempDirectory("graft-n09-clones").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def clone(of: Long, as: Long) =
      emb.filter(col("vec_id") === of).withColumn("vec_id", lit(as))
    emb.unionByName(clone(10L, 100000L)).unionByName(clone(20L, 100001L))
      .unionByName(clone(10L, 100002L))
      .write.parquet(s"$d/embeddings.parquet")
    val got = AnnQueries.n09_knn_graph(spark, d)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val expected = n09Expected(d)
    // every clone ranks its group's other members first, at cosine 1
    assert(expected.filter(r => r._1 == 10L && r._2 <= 2).map(r => (r._3, r._4)) ==
      Seq((100000L, 1.0), (100002L, 1.0)))
    assert(expected.exists(r => r._1 == 100001L && r._2 == 1 && r._3 == 20L && r._4 == 1.0))
    assert(got.toSeq == expected)
  }

  /** n09's output re-derived independently (plain Scala, no Spark
    * expressions): tiered-LSH candidate pairs, then each source's top 3
    * by (rounded cosine DESC, neighbor ASC). */
  private def n09Expected(d: String): Seq[(Long, Int, Long, Double)] = {
    import graft.vec.Lsh
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val bits = Lsh.bitsForCount(emb.size.toLong)
    def bucket(v: Array[Float], t: Int): Int =
      Lsh.planesMax(t).take(bits).zipWithIndex.map { case (pl, i) =>
        var s = 0.0; var j = 0
        val m = math.min(v.length, pl.length)
        while (j < m) { s += v(j).toDouble * pl(j).toFloat.toDouble; j += 1 }
        if (s > 0) 1 << i else 0
      }.sum
    val byBucket = emb.toSeq.flatMap { case (id, v) =>
      (0 until Lsh.NUM_TABLES).map(t => (t, bucket(v, t)) -> id)
    }.groupMap(_._1)(_._2)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    val candPairs: Set[(Long, Long)] = byBucket.values.flatMap(ids =>
      for (a <- ids; b <- ids if a != b) yield (a, b)).toSet
    val expected = candPairs
      .groupBy(_._1).toSeq.flatMap { case (src, ps) =>
        ps.toSeq
          .map { case (_, nbr) =>
            val c = BigDecimal(cos(emb(src), emb(nbr)))
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
            (nbr, c)
          }
          .sortBy { case (nbr, c) => (-c, nbr) }
          .take(3).zipWithIndex
          .map { case ((nbr, c), i) => (src, i + 1, nbr, c) }
      }.sortBy(r => (r._1, r._2))
    expected
  }

  test("n12: hybrid RRF fusion matches a driver-side re-derivation of " +
    "both rankings and the integer fusion rule") {
    val got = AnnQueries.n12_hybrid_rrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val kwTop = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).count(_ == "vector").toLong)
      .filter(_._2 > 0).sortBy { case (id, tf) => (-tf, id) }
      .take(AnnQueries.HYBRID_DEPTH)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val q = VectorQueries.embedder.embedText("label3")
    def dot(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * q(i).toDouble; i += 1 }
      s
    }
    val vecTop = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> (BigDecimal(dot(r.getSeq[Float](1).toArray))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0))
      .sortBy { case (id, sc) => (-sc, id) }
      .take(AnnQueries.HYBRID_DEPTH)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val expected = (kwTop.keySet ++ vecTop.keySet).toSeq.map { id =>
      val rk = kwTop.getOrElse(id, 0L)
      val rv = vecTop.getOrElse(id, 0L)
      val rrf = (if (rk > 0) 1000000L / (AnnQueries.RRF_K + rk) else 0L) +
        (if (rv > 0) 1000000L / (AnnQueries.RRF_K + rv) else 0L)
      (id, rk, rv, rrf)
    }.sortBy { case (id, _, _, rrf) => (-rrf, id) }.take(10)
    assert(got.toSeq == expected)
  }

  test("c07: semantic clusters agree with d06 connectivity and the rep " +
    "is the longest member (tie -> min id); every doc surfaces once") {
    val out = CurationQueries.c07_semantic_dedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
    val byId = out.map(r => r._1 -> r).toMap
    DedupQueries.d06_cosine_lsh(spark, sf).collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(byId(a)._2 == byId(b)._2, s"d06 pair ($a,$b) split across clusters")
    }
    out.groupBy(_._2).foreach { case (cl, members) =>
      val reps = members.map(_._3).distinct
      assert(reps.length == 1, s"cluster $cl has ${reps.length} rep ids")
      val best = members.minBy(m => (-m._5, m._1))._1
      assert(reps.head == best, s"cluster $cl rep ${reps.head} != argmax $best")
      members.foreach(m => assert((m._4 == 1) == (m._1 == m._3)))
    }
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.length == nDocs && out.map(_._1).distinct.length == out.length)
  }

  test("p08: curriculum admits tiers progressively, the final epoch " +
    "covers the corpus, and ord_key matches the mix formula") {
    val rows = ScaleQueries.p08_curriculum(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def tier(nc: Long): Int = if (nc >= 300) 2 else if (nc >= 150) 1 else 0
    rows.foreach { case (e, id, t, k) =>
      assert(t == tier(docs(id)), s"doc $id tier")
      assert(t >= 3 - e, s"doc $id tier $t admitted in epoch $e")
      val expect = ((id * 2654435761L + e * 48271L) % 2147483647L) * 69621L % 2147483647L
      assert(k == expect, s"doc $id epoch $e ord_key")
    }
    assert(rows.count(_._1 == 3) == docs.size)
    val admitted = (1 to 3).map(e => rows.count(_._1 == e))
    assert(admitted(0) <= admitted(1) && admitted(1) <= admitted(2))
  }

  test("h05: count-min estimate dominates the exact tf and equals the " +
    "min of re-derived bucket sums") {
    val got = ScaleQueries.h05_countmin(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val tf = scala.collection.mutable.Map.empty[String, Long]
    spark.read.parquet(s"$sf/documents.parquet").select("text").collect()
      .foreach(_.getString(0).split(" ", -1)
        .foreach(t => tf(t) = tf.getOrElse(t, 0L) + 1))
    def h(term: String, base: Int): Int = {
      var acc = 0L
      term.take(8).foreach(c => acc = acc * base + c.toLong)
      (((acc % ScaleQueries.CMS_W) + ScaleQueries.CMS_W) % ScaleQueries.CMS_W).toInt
    }
    val counters = Array.fill(2, ScaleQueries.CMS_W)(0L)
    tf.foreach { case (t, n) =>
      counters(0)(h(t, 31)) += n
      counters(1)(h(t, 37)) += n
    }
    val expected = tf.toSeq.sortBy { case (t, n) => (-n, t) }.take(20)
      .map { case (t, n) =>
        val est = math.min(counters(0)(h(t, 31)), counters(1)(h(t, 37)))
        (t, n, est, est - n)
      }
    assert(got.toSeq == expected)
    got.foreach { case (_, n, est, over) =>
      assert(est >= n && over == est - n)
    }
  }

  test("e13: nearest view matches a driver-side scan of each user's " +
    "views in both directions (tie -> earlier)") {
    val got = EventQueries.e13_nearest_event(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)),
        if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3))))
    val ev = graft.model.Tables.events(spark, sf)
      .selectExpr("event_id", "user_id", "event_type", "unix_micros(ts) AS us")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val viewsByUser = ev.filter(_._3 == "view").groupBy(_._2)
    val expected = ev.filter(_._3 == "purchase").map { case (pid, u, _, pus) =>
      val vs = viewsByUser.getOrElse(u, Array.empty)
      if (vs.isEmpty) (pid, u, null: java.lang.Long, null: java.lang.Long)
      else {
        // prev = latest us <= pus (tie: max id); next = earliest us > pus
        // (tie: min id) — same-ts views sort before the purchase, so
        // they belong to the backward candidate set
        val prev = vs.filter(_._4 <= pus)
          .sortBy(v => (v._4, v._1)).lastOption
        val next = vs.filter(_._4 > pus)
          .sortBy(v => (v._4, v._1)).headOption
        val (nid, d) = (prev, next) match {
          case (Some(p), Some(n)) =>
            if (pus - p._4 <= n._4 - pus) (p._1, pus - p._4) else (n._1, n._4 - pus)
          case (Some(p), None) => (p._1, pus - p._4)
          case (None, Some(n)) => (n._1, n._4 - pus)
          case _ => (-1L, -1L)
        }
        if (nid == -1L) (pid, u, null: java.lang.Long, null: java.lang.Long)
        else (pid, u, java.lang.Long.valueOf(nid), java.lang.Long.valueOf(d))
      }
    }.sortBy(_._1)
    assert(got.toSeq == expected.toSeq)
  }

  test("d09: semantic decontamination flags only train-split vecs, every " +
    "flag is sound against brute force, and max_cos is bounded by it") {
    val out = DedupQueries.d09_semantic_decontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def split(id: Long): Long = (id * 2654435761L) % 1000L
    def cos4(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      val c = if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
      BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    }
    val evalIds = emb.keySet.filter(split(_) >= 900)
    out.foreach { case (id, hits, mc) =>
      assert(split(id) < 800, s"vec $id is not train-split")
      assert(hits >= 1 && mc >= 0.4, s"vec $id hits=$hits max_cos=$mc")
      // LSH candidates are a subset of all eval vecs, so the brute-force
      // hit set dominates both reported numbers
      val brute = evalIds.toSeq.map(e => cos4(emb(id), emb(e))).filter(_ >= 0.4)
      assert(brute.nonEmpty && mc <= brute.max + 1e-12,
        s"vec $id: reported $mc vs brute max ${if (brute.isEmpty) -1 else brute.max}")
      assert(hits <= brute.size, s"vec $id: $hits hits vs ${brute.size} brute")
    }
  }

  test("t13: spectrum matches a driver tf recount and the mass column " +
    "sums to the corpus token total") {
    val got = TextQueries.t13_count_of_counts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val tf = scala.collection.mutable.Map.empty[String, Long]
    var total = 0L
    spark.read.parquet(s"$sf/documents.parquet").select("text").collect()
      .foreach(_.getString(0).split(" ", -1).foreach { t =>
        tf(t) = tf.getOrElse(t, 0L) + 1; total += 1
      })
    val expected = tf.values.groupBy(identity).toSeq
      .map { case (k, vs) => (k, vs.size.toLong, k * vs.size) }
      .sortBy(_._1)
    assert(got.toSeq == expected)
    assert(got.map(_._3).sum == total)
  }

  test("m02: shard assignment is the per-kind byte prefix sum " +
    "(div/mod SHARD_BYTES) and offsets stay inside the shard") {
    val rows = MediaQueries.m02_shard_pack(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    rows.groupBy(_._1).foreach { case (kind, ms) =>
      var cum = 0L
      ms.sortBy(_._2).foreach { case (_, id, nb, shard, off) =>
        assert(shard == cum / MediaQueries.SHARD_BYTES, s"$kind/$id shard")
        assert(off == cum % MediaQueries.SHARD_BYTES, s"$kind/$id offset")
        cum += nb
      }
    }
    assert(rows.map(_._2).distinct.length == rows.length)
  }

  test("FixedLog: centibit log2 is exact at powers of two, monotone, and " +
    "within 0.6 centibits of the float log below, never above by >0.5") {
    (0 to 54).foreach(b => assert(FixedLog.log2Cb(1L << b) == 100L * b))
    val probes = Seq(1L, 2L, 3L, 7L, 100L, 255L, 257L, 999983L,
      (1L << 40) + 12345L, (1L << 54) - 1L)
    probes.foreach { n =>
      val cb = FixedLog.log2Cb(n)
      val exact = 100.0 * math.log(n.toDouble) / math.log(2.0)
      // truncated mantissa: under-estimates by < log2(1+1/256)+rounding
      assert(cb <= exact + 0.51, s"n=$n cb=$cb exact=$exact")
      assert(cb >= exact - 1.1, s"n=$n cb=$cb exact=$exact")
    }
    probes.sliding(2).foreach { case Seq(a, b) =>
      assert(FixedLog.log2Cb(a) <= FixedLog.log2Cb(b))
    }
  }

  test("v08: top-20 centroid pairs match a BigInt driver re-derivation " +
    "and every squared cosine respects Cauchy-Schwarz (<= 1e9 ppb)") {
    val got = VectorQueries.v08_centroid_geometry(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("CAST(label AS BIGINT) AS label", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val byLabel = rows.groupBy(_._1)
    val cent = byLabel.map { case (l, vs) =>
      val dim = vs.head._2.length
      l -> (0 until dim).map { p =>
        val smi = vs.map(v => math.floor(v._2(p).toDouble * 1e6 + 0.5).toLong).sum
        val n = vs.length.toLong
        if (smi >= 0) (2 * smi + n) / (2 * n) else -((2 * -smi + n) / (2 * n))
      }.toArray
    }
    val norms = cent.view.mapValues(c => c.map(x => x * x).sum).toMap
      .filter(_._2 > 0)
    val pairs = for {
      a <- norms.keys.toSeq; b <- norms.keys.toSeq if a < b
    } yield {
      val dot = cent(a).zip(cent(b)).map { case (x, y) => x * y }.sum
      val q = (BigInt(dot) * dot * 1000000000L / (BigInt(norms(a)) * norms(b))).toLong
      (a, b, if (dot >= 0) q else -q)
    }
    val expected = pairs.sortBy(p => (-p._3, p._1, p._2)).take(20)
    assert(got == expected)
    got.foreach { case (a, b, c) =>
      assert(math.abs(c) <= 1000000000L, s"pair ($a,$b) breaks Cauchy-Schwarz")
    }
  }

  test("m03: checksums match a driver re-derivation over m02's manifest " +
    "in offset order, and detect a member swap") {
    val manifest = MediaQueries.m02_shard_pack(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val got = MediaQueries.m03_shard_checksum(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    val M = MediaQueries.CK_M
    def ck(members: Seq[(Long, Long)]): Long =
      members.zipWithIndex.map { case ((id, nb), i) =>
        ((i + 1) * (((id % M) * 1000003 + (nb % M) * 999983) % M)) % M
      }.sum % M
    val expected = manifest.groupBy(m => (m._1, m._4)).toSeq
      .map { case ((kind, shard), ms) =>
        val ordered = ms.sortBy(m => (m._5, m._2)).map(m => (m._2, m._3)).toSeq
        (kind, shard, ms.length.toLong, ms.map(_._3).sum, ck(ordered))
      }.sortBy(e => (e._1, e._2))
    assert(got == expected)
    // order sensitivity: swapping two members of a multi-member shard
    // must change the checksum
    expected.find(_._3 >= 2).foreach { case (kind, shard, _, _, c) =>
      val ordered = manifest.filter(m => m._1 == kind && m._4 == shard)
        .sortBy(m => (m._5, m._2)).map(m => (m._2, m._3)).toSeq
      val swapped = ordered.updated(0, ordered(1)).updated(1, ordered(0))
      assert(ck(swapped) != c, s"$kind/$shard checksum ignores order")
    }
  }

  test("i03: every status follows the snapshot membership rules and ids " +
    "absent from both snapshots never appear") {
    val got = IngestQueries.i03_snapshot_diff(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ids = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    ids.foreach { id =>
      val (inOld, inNew) = (id % 13 != 5, id % 11 != 3)
      val expected =
        if (!inOld && !inNew) None
        else if (!inOld) Some("added")
        else if (!inNew) Some("deleted")
        else if (id % 7 == 0) Some("changed")
        else Some("unchanged")
      assert(got.get(id) == expected, s"doc $id")
    }
    assert(got.keySet.subsetOf(ids.toSet))
  }

  test("e14: DAU/WAU match a driver re-derivation over user-day sets, " +
    "and WAU dominates both DAU and any window day's DAU") {
    val got = EventQueries.e14_rolling_distinct(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val ud = graft.model.Tables.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts) div 86400000000 AS day_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val days = ud.map(_._2)
    val expected = days.toSeq.sorted.map { d =>
      val dau = ud.count(_._2 == d).toLong
      val wau = ud.filter(p => p._2 >= d - 6 && p._2 <= d).map(_._1).size.toLong
      (d, dau, wau)
    }
    assert(got == expected)
    got.foreach { case (d, dau, wau) =>
      assert(wau >= dau, s"day $d: WAU below DAU")
      val windowDauMax = got.filter(g => g._1 >= d - 6 && g._1 <= d).map(_._2).max
      assert(wau >= windowDauMax, s"day $d: WAU below a window day's DAU")
    }
  }

  test("t15: applying t12's merge table on the driver reproduces every " +
    "doc's BPE token count, and merges never lengthen a doc") {
    val merges = TextQueries.t12_bpe_train(spark, sf).collect()
      .filter(_.getInt(1) == 1).sortBy(_.getInt(0))
      .map(r => (r.getString(2), r.getString(3)))
    val got = TextQueries.t15_bpe_apply(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    def tokCount(w: String): Long = {
      var s = "<" + w.split("").mkString("><") + ">"
      merges.foreach { case (a, b) => s = s.replace(s"<$a><$b>", s"<$a$b>") }
      s.count(_ == '<').toLong
    }
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).filter(_.nonEmpty))
      .filter(_._2.nonEmpty)
      .map { case (id, toks) =>
        val chars = toks.map(_.length.toLong).sum
        val ntok = toks.map(tokCount).sum
        (id, chars, ntok, (200 * chars + ntok) / (2 * ntok))
      }.sortBy(_._1).toSeq
    assert(got == expected)
    got.foreach { case (id, chars, ntok, cpt) =>
      assert(ntok <= chars, s"doc $id grew under merges")
      assert(cpt >= 100L, s"doc $id below 1 char/token")
    }
  }

  test("p09: DSIR weights match a driver re-derivation and the target " +
    "slice scores above the rest on average") {
    val got = ScaleQueries.p09_dsir_weights(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ", -1).filter(_.nonEmpty)))
    val tfR = scala.collection.mutable.Map.empty[String, Long]
    val tfT = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { case (_, lang, toks) => toks.foreach { t =>
      tfR(t) = tfR.getOrElse(t, 0L) + 1
      if (lang == "en") tfT(t) = tfT.getOrElse(t, 0L) + 1
    } }
    val (totR, totT) = (tfR.values.sum, tfT.values.sum)
    def w(t: String): Long = tfT.get(t) match {
      case Some(tt) =>
        (FixedLog.log2Cb(tt) - FixedLog.log2Cb(totT)) -
          (FixedLog.log2Cb(tfR(t)) - FixedLog.log2Cb(totR))
      case None => 0L
    }
    val expected = docs.filter(_._3.nonEmpty).map { case (id, _, toks) =>
      val s = toks.map(w).sum; val n = toks.length.toLong
      val avg = if (s >= 0) (2 * s + n) / (2 * n) else -((2 * -s + n) / (2 * n))
      (id, n, avg, if (avg > 0) 1 else 0)
    }.sortBy(_._1).toSeq
    assert(got == expected)
    val byLang = docs.map(d => d._1 -> d._2).toMap
    val (en, rest) = got.partition(r => byLang(r._1) == "en")
    assert(en.map(_._3).sum.toDouble / en.size >
      rest.map(_._3).sum.toDouble / rest.size,
      "target-language docs should be more target-like on average")
  }

  test("t14: per-doc surprisal matches a driver re-derivation through " +
    "FixedLog.log2Cb, and common-word docs score below rare-word docs") {
    val got = TextQueries.t14_lm_score(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).filter(_.nonEmpty))
    val tf = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach(_._2.foreach(t => tf(t) = tf.getOrElse(t, 0L) + 1))
    val total = tf.values.sum
    val expected = docs.filter(_._2.nonEmpty).map { case (id, toks) =>
      val sumCb = toks.map(t => FixedLog.log2Cb(total) - FixedLog.log2Cb(tf(t))).sum
      val n = toks.length.toLong
      (id, n, (2 * sumCb + n) / (2 * n))
    }.sortBy(_._1).toSeq
    assert(got == expected)
    // the most common term alone must score strictly below the rarest
    val (minTf, maxTf) = (tf.minBy(_._2), tf.maxBy(_._2))
    assert(FixedLog.log2Cb(total) - FixedLog.log2Cb(maxTf._2) <
      FixedLog.log2Cb(total) - FixedLog.log2Cb(minTf._2))
  }

  test("c08: a driver re-derivation of the synchronous rounds over n09's " +
    "edges reproduces every label, seeds stay clamped to gold") {
    val edges = AnnQueries.n09_knn_graph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    val gold = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(label AS BIGINT) AS lbl").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seeds = gold.filter(_._1 % 5 == 0)
    var lab = seeds
    for (_ <- 1 to CurationQueries.LP_ROUNDS) {
      val votes = edges.flatMap { case (s0, n0) => lab.get(n0).map(l => (s0, l)) }
        .groupBy(identity).map { case ((s0, l), v) => (s0, l, v.size) }
      val inferred = votes.filter(_._1 % 5 != 0).groupBy(_._1).map {
        case (s0, vs) => s0 -> vs.minBy(v => (-v._3, v._2))._2
      }
      lab = seeds ++ inferred
    }
    val got = CurationQueries.c08_label_propagation(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.map(g => g._1 -> g._2).toMap == lab)
    got.filter(_._3 == 1).foreach { case (id, l, _) =>
      assert(id % 5 == 0 && l == gold(id), s"seed $id drifted from gold")
    }
    got.filter(_._3 == 0).foreach { case (id, _, _) => assert(id % 5 != 0) }
  }

  test("v09: driver re-derivation of micro-norms, type-1 quantiles and " +
    "Tukey fences reproduces the top-20 and every flag") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def mi(x: Float): Long = math.floor(x.toDouble * 1e6 + 0.5).toLong
    val nrm2 = vecs.map { case (id, v) => id -> v.map(x => mi(x) * mi(x)).sum }
    val sorted = nrm2.map(_._2).sorted
    def q(p: Double): Long =
      sorted(math.max(1, math.ceil(sorted.length * p).toLong).toInt - 1)
    val (q1, q3) = (q(0.25), q(0.75))
    val expected = nrm2.map { case (id, n2) =>
      val flag = if (2 * n2 < 5 * q1 - 3 * q3) "lo"
        else if (2 * n2 > 5 * q3 - 3 * q1) "hi" else "in"
      (id, n2, math.abs(2 * n2 - (q1 + q3)), flag)
    }.sortBy(t => (-t._3, t._1)).take(20).toSeq
    val got = VectorQueries.v09_norm_outliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == expected)
  }

  test("e15: flagged spike days match a driver re-derivation of the " +
    "trailing-7-day window, and every flag exceeds 1.5x its trail mean") {
    val tds = graft.model.Tables.events(spark, sf)
      .selectExpr("event_type", "unix_micros(ts) div 86400000000 AS day_id")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).map { case ((t, d0), v) => (t, d0, v.size.toLong) }.toSeq
    val expected = tds.flatMap { case (t, d0, cnt) =>
      val trailDays = tds.filter(x => x._1 == t && x._2 >= d0 - 7 && x._2 <= d0 - 1)
      val trail = trailDays.map(_._3).sum
      if (trailDays.size >= 3 && cnt * 14 > trail * 3)
        Some((t, d0, cnt, trail, cnt * 7000 / trail))
      else None
    }.sortBy(x => (x._1, x._2))
    val got = EventQueries.e15_volume_spikes(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected)
    got.foreach { case (t, d0, cnt, trail, _) =>
      assert(cnt.toDouble > 1.5 * trail / 7.0, s"($t,$d0) under threshold") }
  }

  test("m04: every clip plans at most FRAME_SAMPLES frames, strides cover " +
    "the whole clip, and timestamps are exact frame/fps micros") {
    val got = MediaQueries.m04_frame_sample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val meta = MediaQueries.m01_media_catalog(spark, sf)
      .filter(col("kind") === "video").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got.map(_._1).toSet == meta.keySet) // every video planned
    got.groupBy(_._1).foreach { case (id, rows) =>
      val fps = 24 + (id % 2) * 6
      val frames = meta(id) % 1000 + fps
      val stride = (frames + MediaQueries.FRAME_SAMPLES - 1) / MediaQueries.FRAME_SAMPLES
      assert(rows.length <= MediaQueries.FRAME_SAMPLES, s"clip $id over budget")
      assert(rows.map(_._2).sorted.toSeq == (0L until rows.length).toSeq)
      rows.foreach { case (_, idx, frame, ts) =>
        assert(frame == idx * stride && frame < frames, s"clip $id frame $frame")
        assert(ts == frame * 1000000L / fps, s"clip $id ts $ts")
      }
      // the next stride step would fall off the clip: full coverage
      assert(rows.map(_._3).max + stride >= frames, s"clip $id tail uncovered")
    }
  }

  test("t16: driver re-derivation of the centibit regression reproduces " +
    "slope and R2; the law holds (negative slope, sane fit)") {
    val tf = scala.collection.mutable.Map.empty[String, Long]
    spark.read.parquet(s"$sf/documents.parquet").select("text").collect()
      .flatMap(_.getString(0).split(" ", -1)).filter(_.nonEmpty)
      .foreach(t => tf(t) = tf.getOrElse(t, 0L) + 1)
    val ranked = tf.toSeq.sortBy { case (t, f) => (-f, t) }
      .take(TextQueries.ZIPF_TOP_K.toInt).zipWithIndex
      .map { case ((_, f), i) =>
        (FixedLog.log2Cb(i + 1L), FixedLog.log2Cb(f)) }
    val k = ranked.length.toLong
    val (sx, sy) = (ranked.map(_._1).sum, ranked.map(_._2).sum)
    val sxy = ranked.map(p => p._1 * p._2).sum
    val (sxx, syy) = (ranked.map(p => p._1 * p._1).sum, ranked.map(p => p._2 * p._2).sum)
    val (num, denx, deny) = (k * sxy - sx * sy, k * sxx - sx * sx, k * syy - sy * sy)
    val slope = if (num >= 0) (2000 * num + denx) / (2 * denx)
      else -((2000 * -num + denx) / (2 * denx))
    val r2 = ((2000 * BigInt(num) * num + BigInt(denx) * deny)
      / (2 * BigInt(denx) * deny)).toLong
    val row = TextQueries.t16_zipf_fit(spark, sf).collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == (k, slope, r2))
    assert(slope < 0, "Zipf slope must be negative")
    assert(r2 >= 0 && r2 <= 1000, "R2 is a [0,1] ratio in milli units")
  }

  test("n13: the cell census is exhaustive and exclusive, and the " +
    "permille columns are exact integer shares of the corpus") {
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val got = AnnQueries.n13_ivf_balance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._2).sum == n, "every vector in exactly one cell")
    assert(got.map(_._1).distinct.length == got.length)
    got.foreach { case (cell, nv, share, skew) =>
      assert(cell >= 0 && cell < 8 && nv > 0)
      assert(share == nv * 1000 / n && skew == nv * 8000 / n, s"cell $cell")
    }
  }

  test("p10: quotas are Hamilton-exact — sum to the budget, each within " +
    "1 of proportional, extra seats to largest remainders") {
    val census = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val n = census.map(_._2).sum
    val b = ScaleQueries.ALLOC_BUDGET
    val fl = census.map { case (s0, c) => (s0, c, b * c / n, b * c % n) }
    val leftover = b - fl.map(_._3).sum
    val extra = fl.sortBy(x => (-x._4, x._1)).take(leftover.toInt).map(_._1).toSet
    val expected = fl.map { case (s0, c, f, _) =>
      (s0, c, f + (if (extra(s0)) 1L else 0L)) }.sortBy(_._1).toSeq
    val got = ScaleQueries.p10_budget_alloc(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.map(_._3).sum == b, "budget spent exactly")
  }

  test("c09: the spectrum conserves c02's doc mass, and no cluster is " +
    "smaller than a pair") {
    val clusters = CurationQueries.c02_dedup_clusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sizes = clusters.groupBy(_._2).map(_._2.length.toLong)
    val expected = sizes.groupBy(identity)
      .map { case (k, v) => (k, v.size.toLong, k * v.size) }
      .toSeq.sortBy(_._1)
    val got = CurationQueries.c09_cluster_spectrum(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.map(_._3).sum == clusters.length, "doc mass conserved")
    assert(got.head._1 >= 2, "clusters come from pairs")
  }

  test("n14: degree histogram matches a driver re-derivation, masses " +
    "add up, and reciprocity is a valid permille") {
    val edges = AnnQueries.n09_knn_graph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val byNode = nodes.toSeq.map { v =>
      val outE = edges.filter(_._1 == v)
      (edges.count(_._2 == v).toLong, outE.size.toLong,
        outE.count(e => edges.contains((e._2, e._1))).toLong)
    }
    val expected = byNode.groupBy(_._1).map { case (ind, vs) =>
      val (oe, re) = (vs.map(_._2).sum, vs.map(_._3).sum)
      (ind, vs.size.toLong, oe, re, if (oe == 0) 0L else re * 1000 / oe)
    }.toSeq.sortBy(_._1)
    val got = AnnQueries.n14_knn_degree_audit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected)
    assert(got.map(_._2).sum == nodes.size && got.map(_._3).sum == edges.size)
    got.foreach(g => assert(g._5 >= 0 && g._5 <= 1000))
  }

  test("i04: every fetch's first byte lands inside its tick's budget " +
    "window, and sequences are dense per host") {
    val rows = IngestQueries.i04_fetch_schedule(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    rows.groupBy(_._1).foreach { case (host, hs) =>
      val ordered = hs.sortBy(_._2)
      assert(ordered.map(_._4).toSeq == (1L to hs.length).toSeq,
        s"host $host seq not dense")
      var cum = 0L
      ordered.foreach { case (_, id, bytes, _, tick) =>
        assert(tick == cum / IngestQueries.HOST_TICK_BYTES,
          s"host $host doc $id tick")
        assert(cum < (tick + 1) * IngestQueries.HOST_TICK_BYTES)
        cum += bytes
      }
    }
  }

  test("e16: gap quantiles match a driver re-derivation and are " +
    "monotone p50 <= p90 <= p99") {
    val ev = graft.model.Tables.events(spark, sf)
      .selectExpr("user_id", "event_type", "event_id", "unix_micros(ts) AS us")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val gaps = ev.groupBy(e => (e._1, e._2)).toSeq.flatMap { case (_, es) =>
      val s0 = es.sortBy(e => (e._4, e._3))
      s0.zip(s0.drop(1)).map { case (a, b) => (b._2, b._3, b._4 - a._4) }
    }
    val expected = gaps.groupBy(_._1).map { case (t, gs) =>
      val sortedG = gs.sortBy(g => (g._3, g._2)).map(_._3)
      def pick(q: Double) =
        sortedG(math.max(1, math.ceil(sortedG.length * q).toLong).toInt - 1)
      (t, gs.size.toLong, pick(0.5), pick(0.9), pick(0.99))
    }.toSeq.sortBy(_._1)
    val gotRows = EventQueries.e16_gap_quantiles(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(gotRows == expected)
    gotRows.foreach(g => assert(g._3 <= g._4 && g._4 <= g._5, s"${g._1}"))
  }

  test("d10: recall bands match a driver re-derivation, LSH pairs are a " +
    "subset of the exact pairs (precision 1), and band mass covers d05") {
    val exact = DedupQueries.d05_cosine_brute(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val found = DedupQueries.d06_cosine_lsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.subsetOf(exact.map(_._1).toSet), "LSH must not invent pairs")
    val expected = exact.groupBy { case (_, c) =>
      math.round(c * 10000) / 1000 }.map { case (band, ps) =>
      val hits = ps.count(p => found(p._1)).toLong
      (band, ps.length.toLong, hits, hits * 1000 / ps.length)
    }.toSeq.sortBy(_._1)
    val got = DedupQueries.d10_lsh_recall_audit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.map(_._2).sum == exact.length, "band mass covers every exact pair")
    got.foreach(g => assert(g._3 <= g._2 && g._4 <= 1000))
  }

  test("p11: leakage classes match a driver re-derivation and conserve " +
    "d02's pair mass") {
    def split(id: Long): String = {
      val b = java.lang.Math.floorMod(id * 2654435761L, 1000L)
      if (b < 800) "train" else if (b < 900) "val" else "test"
    }
    val pairs = DedupQueries.d02_minhash_lsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs.map { case (a, b) =>
      val (sa, sb) = (split(a), split(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.groupBy(identity).map { case ((sa, sb), v) =>
      (sa, sb, v.length.toLong, if (sa != sb) 1 else 0) }.toSeq.sortBy(x => (x._1, x._2))
    val got = ScaleQueries.p11_split_leakage(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got == expected)
    assert(got.map(_._3).sum == pairs.length, "pair mass conserved")
  }

  test("v10: drift matches a driver re-derivation of both snapshot " +
    "centroids, and unperturbed labels can still drift via membership") {
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(label AS BIGINT) AS label", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray))
    def mi(x: Float): Long = math.floor(x.toDouble * 1e6 + 0.5).toLong
    def halfUp(s0: Long, n: Long): Long =
      if (s0 >= 0) (2 * s0 + n) / (2 * n) else -((2 * -s0 + n) / (2 * n))
    def cents(vs: Seq[(Long, Array[Float])]): Map[(Long, Int), Long] =
      vs.groupBy(_._1).flatMap { case (l, g) =>
        val dim = g.head._2.length
        (0 until dim).map { p =>
          (l, p) -> halfUp(g.map(v => mi(v._2(p))).sum, g.length.toLong) }
      }
    val old = rows.filter(_._1 % 13 != 5).map(r => (r._2, r._3)).toSeq
    val neu = rows.filter(_._1 % 11 != 3).map { r =>
      val v = if (r._1 % 7 == 0)
        r._3.map(x => (x.toDouble * 1.25).toFloat) else r._3
      (r._2, v)
    }.toSeq
    val (co, cn) = (cents(old), cents(neu))
    val expected = co.keys.map(_._1).toSeq.distinct.sorted.map { l =>
      // .toSeq first: mapping over the key SET would dedup equal
      // squared-drift values and silently drop mass
      val drift = co.keys.toSeq.filter(_._1 == l)
        .map(k => { val d0 = cn(k) - co(k); d0 * d0 }).sum
      (l, old.count(_._1 == l).toLong, neu.count(_._1 == l).toLong, drift)
    }
    val got = VectorQueries.v10_centroid_drift(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
  }

  test("t18: per-source report matches a driver re-derivation and the " +
    "entropy scalar behaves (0 for single-lang, log2 k cap)") {
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val got = TextQueries.t18_source_report(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._2).sum == rows.length, "doc mass conserved")
    got.foreach { case (src, n, _, hCb) =>
      val byLang = rows.filter(_._1 == src).groupBy(_._2).map(_._2.size.toLong)
      assert(n == byLang.sum)
      val wcb = byLang.map(k => k * FixedLog.log2Cb(k)).sum
      val expected = FixedLog.log2Cb(n) - (2 * wcb + n) / (2 * n)
      assert(hCb == expected, s"source $src entropy")
      assert(hCb >= 0 && hCb <= FixedLog.log2Cb(byLang.size.toLong) + 1,
        s"source $src entropy out of [0, log2 k]")
      if (byLang.size == 1) assert(hCb == 0, s"single-lang source $src")
    }
  }

  test("c10: drift report matches per-language re-derivation over both " +
    "snapshot views, delta is the exact mean difference") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def q4(text: String): Long = {
      val ws = text.split(" ", -1)
      val nw = ws.length.toLong
      val sw = ws.count(TextQueries.markers.head._2.contains).toLong
      val nd = ws.distinct.length.toLong
      (2 * (4000 * nd + 3000 * (nw - sw)) + nw) / (2 * nw) + 30 * math.min(nw, 100)
    }
    def mean(v: Seq[Long]): Long = (2 * v.sum + v.length) / (2L * v.length)
    val old = docs.filter(_._1 % 13 != 5).map(d => d._2 -> q4(d._3))
    val neu = docs.filter(_._1 % 11 != 3).map { d =>
      d._2 -> q4(if (d._1 % 7 == 0) d._3 + " rev2" else d._3) }
    val expected = old.groupBy(_._1).toSeq.sortBy(_._1).map { case (l, o) =>
      val nn = neu.filter(_._1 == l).map(_._2).toSeq
      val (mo, mn) = (mean(o.map(_._2).toSeq), mean(nn))
      (l, o.length.toLong, nn.length.toLong, mo, mn, mn - mo)
    }
    val got = CurationQueries.c10_corpus_drift(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
  }

  test("e17: the spectrum conserves every event into exactly one session " +
    "and matches a driver sessionization") {
    val ev = graft.model.Tables.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sessions = ev.groupBy(_._1).values.flatMap { g =>
      val s0 = g.sortBy(e => (e._2, e._3))
      val buf = scala.collection.mutable.ArrayBuffer[List[(Long, Long, Long)]]()
      s0.foreach { e =>
        if (buf.isEmpty || (e._2 - buf.last.last._2) / 1000000.0 > 1800)
          buf += List(e)
        else buf(buf.length - 1) = buf.last :+ e
      }
      buf
    }.toSeq
    val expected = sessions.groupBy(_.length).map { case (k, v) =>
      (k.toLong, v.size.toLong,
        v.map(s0 => s0.map(_._2).max - s0.map(_._2).min).sum)
    }.toSeq.sortBy(_._1)
    val got = EventQueries.e17_session_spectrum(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.map(g => g._1 * g._2).sum == ev.length, "every event in one session")
  }

  test("e18: matches are exactly e07's picks filtered by the 1-hour " +
    "staleness rule") {
    val e07 = EventQueries.e07_asof_join(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Long])))
      .toMap
    val us = graft.model.Tables.events(spark, sf)
      .selectExpr("event_id", "unix_micros(ts) AS us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = EventQueries.e18_asof_tolerance(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Long])))
    assert(got.map(_._1).toSet == e07.keySet, "same purchase universe")
    got.foreach { case (pid, pv) =>
      val expected = e07(pid).filter(v => us(pid) - us(v) <= 3600000000L)
      assert(pv == expected, s"purchase $pid")
    }
  }

  test("p12: every prefix of the interleave holds each source within 2 " +
    "of exact proportionality") {
    val got = ScaleQueries.p12_interleave_order(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val n = got.length
    val share = got.groupBy(_._2).map { case (s0, v) => s0 -> v.length }
    assert(share.values.sum == n, "total order covers the corpus")
    val ordered = got.sortBy(x => (x._3, x._2, x._1))
    val seen = scala.collection.mutable.Map.empty[String, Int]
    ordered.zipWithIndex.foreach { case ((_, s0, _), i) =>
      seen(s0) = seen.getOrElse(s0, 0) + 1
      val expectedShare = (i + 1).toDouble * share(s0) / n
      assert(math.abs(seen(s0) - expectedShare) <= 2.0,
        s"prefix ${i + 1}: source $s0 at ${seen(s0)} vs $expectedShare")
    }
  }

  test("q09: the small-quantity set is exactly the rows below 0.2x their " +
    "part's mean quantity") {
    val li = graft.model.Tables.lineitem(spark, sf)
      .selectExpr("l_partkey", "l_extendedprice",
        "CAST(round(l_quantity * 100.0D) AS BIGINT) AS q_c").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val stats = li.groupBy(_._1).map { case (p, v) =>
      p -> (v.map(_._3).sum, v.length.toLong) }
    val kept = li.filter { case (p, _, q) =>
      q * 5 * stats(p)._2 < stats(p)._1 }
    val row = RelationalQueries.q09_small_qty_revenue(spark, sf).collect().head
    assert(row.getLong(0) == kept.length)
    assert(row.getLong(1) == math.round(kept.map(_._2).sum * 100.0))
  }

  test("q10: the distribution conserves every customer including " +
    "zero-order ones") {
    val nCust = graft.model.Tables.customer(spark, sf).count()
    val perCust = graft.model.Tables.orders(spark, sf)
      .groupBy("o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = RelationalQueries.q10_custorder_dist(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.sum == nCust, "every customer in exactly one bucket")
    assert(got.getOrElse(0L, 0L) == nCust - perCust.size,
      "zero-order customers preserved by the left join")
  }

  test("h06: log2 buckets hold exactly the cents in [2^(b-1), 2^b) and " +
    "conserve counts and totals") {
    val ev = graft.model.Tables.events(spark, sf)
      .selectExpr("event_type", "CAST(round(value * 100.0D) AS BIGINT) AS c")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def bucket(c: Long): Long = if (c <= 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(c)
    val expected = ev.groupBy(e => (e._1, bucket(e._2))).map { case ((t, b), v) =>
      (t, b, v.length.toLong, v.map(_._2).sum) }.toSeq.sortBy(x => (x._1, x._2))
    val got = ScaleQueries.h06_log_histogram(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    got.filter(_._2 > 0).foreach { case (_, b, n, tot) =>
      assert(tot >= n * (1L << (b - 1)) && tot <= n * ((1L << b) - 1)) }
  }

  test("i05: the plan covers exactly the non-unchanged diff, batches are " +
    "dense and bounded, tombstones match the deleted set") {
    val diff = IngestQueries.i03_snapshot_diff(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = IngestQueries.i05_reembed_plan(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.map(_._1).toSet == diff.filter(_._2 != "unchanged").keySet)
    got.foreach { case (id, action, b) =>
      if (diff(id) == "deleted") assert(action == "tombstone" && b == -1L)
      else assert(action == "embed" && b >= 0L)
    }
    val batches = got.filter(_._2 == "embed").groupBy(_._3)
    val maxB = batches.keys.max
    assert(batches.keys.toSeq.sorted == (0L to maxB),
      "batch ids dense from 0")
    batches.foreach { case (b, v) =>
      assert(v.length <= IngestQueries.EMBED_BATCH, s"batch $b over size")
      if (b < maxB) assert(v.length == IngestQueries.EMBED_BATCH,
        s"only the last batch may be partial") }
  }

  test("d11: tf-idf cosine pairs match a full driver re-derivation of " +
    "weights, norms and the compare-squares rational") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).filter(_.nonEmpty))
    val n = docs.length.toLong
    val tf = docs.map { case (id, ts) =>
      id -> ts.groupBy(identity).map { case (t, v) => t -> v.length.toLong } }.toMap
    val df = tf.values.flatMap(_.keys).groupBy(identity)
      .map { case (t, v) => t -> v.size.toLong }
    val nCb = FixedLog.log2Cb(n)
    val w = tf.map { case (id, m) =>
      id -> m.collect { case (t, k) if df(t) <= DedupQueries.TFIDF_DF_CAP =>
        t -> k * (nCb - FixedLog.log2Cb(df(t))) }
    }
    val nrm = w.map { case (id, m) => id -> m.values.map(v => v * v).sum }
    val ids = docs.map(_._1).sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      dot = w(a).keysIterator.filter(w(b).contains)
        .map(t => w(a)(t) * w(b)(t)).sum
      if dot > 0 && nrm(a) > 0 && nrm(b) > 0
      ppb = (BigInt(dot) * dot * 1000000000L / (BigInt(nrm(a)) * nrm(b))).toLong
      if ppb >= 640000000L
    } yield (a, b, ppb)).toSeq.sortBy(x => (x._1, x._2))
    val got = DedupQueries.d11_tfidf_cosine(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    got.foreach(g => assert(g._3 <= 1000000000L, "cosine cannot exceed 1"))
  }

  test("n15: reconstruction errors match a driver PQ encode+decode, and " +
    "the codebook's own rows reconstruct exactly") {
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "embedding").orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cb = rows.take(16).map(_._2)
    def err2(v: Array[Float]): Double =
      (0 until 8).map { mm =>
        // argmin over centroids (tie -> lowest j), then that distance
        val dists = cb.map { c =>
          (1 to 8).map { dd =>
            val d0 = v(mm * 8 + dd - 1).toDouble - c(mm * 8 + dd - 1).toDouble
            d0 * d0
          }.reduceLeft(_ + _)
        }
        dists(dists.zipWithIndex.minBy { case (x, j) => (x, j) }._2)
      }.reduceLeft(_ + _)
    val expected = rows.map { case (id, v) =>
      (id, math.round(err2(v) * 10000.0) / 10000.0 + 0.0) }
      .sortBy { case (id, e) => (-e, id) }.take(20).toSeq
    val got = AnnQueries.n15_pq_recon_error(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected)
    rows.take(16).foreach { case (id, v) =>
      assert(err2(v) == 0.0, s"codebook row $id must reconstruct exactly") }
  }

  test("t17: the confusion matrix conserves the corpus and shares are " +
    "valid permilles within each actual language") {
    val preds = TextQueries.t01_lang_id(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(7)))
    val expected = preds.groupBy(identity).map { case ((l, p), v) =>
      (l, p, v.length.toLong) }.toSeq.sortBy(x => (x._1, x._2))
    val got = TextQueries.t17_lang_confusion(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.map(g => (g._1, g._2, g._3)).toSeq == expected)
    assert(got.map(_._3).sum == preds.length, "corpus conserved")
    got.groupBy(_._1).foreach { case (l, rs) =>
      val tot = rs.map(_._3).sum
      rs.foreach(r => assert(r._4 == r._3 * 1000 / tot, s"$l share"))
    }
  }

  test("e19: conversion lags and quantiles match a driver re-derivation " +
    "of first-touch pairs and type-1 ranks") {
    val ev = graft.model.Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "purchase"))
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    val viewers = byUser.toSeq.flatMap { case (u, es) =>
      val fv = es.collect { case (_, "view", us) => us }.minOption
      val fp = es.collect { case (_, "purchase", us) => us }.minOption
      fv.map(v => (u, fp.filter(_ > v).map(_ - v)))
    }
    val lags = viewers.collect { case (u, Some(l)) => (l, u) }.sorted
    def q(p: Double): Long = lags(math.max(1, math.ceil(lags.size * p).toInt) - 1)._1
    val r = EventQueries.e19_conversion_lag(spark, sf).collect()(0)
    assert(r.getLong(0) == viewers.size, "n_viewers")
    assert(r.getLong(1) == lags.size, "n_converted")
    assert(r.getLong(2) == lags.size.toLong * 1000 / viewers.size, "permille")
    assert(r.getLong(3) == q(0.5), "p50")
    assert(r.getLong(4) == q(0.9), "p90")
    assert(r.getLong(5) == q(0.99), "p99")
    assert(q(0.5) <= q(0.9) && q(0.9) <= q(0.99), "monotone quantiles")
  }

  test("n16: per-cell population and inertia match a driver Lloyd-step " +
    "re-derivation, and the assignment conserves the corpus") {
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "embedding").orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def micro(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1000000.0 + 0.5).toLong)
    val cb = rows.take(16).map { case (id, v) => (id, micro(v)) }
    val assigned = rows.map { case (id, v) =>
      val m = micro(v)
      val best = cb.map { case (cell, c) =>
        val d2 = (0 until m.length).map(i => (m(i) - c(i)) * (m(i) - c(i))).sum
        (d2, cell)
      }.minBy(identity) // (dist, cell) lexicographic = the engine tie-break
      (best._2, best._1)
    }
    val expected = assigned.groupBy(_._1).toSeq
      .map { case (cell, v) => (cell, v.length.toLong, v.map(_._2).sum) }
      .sortBy(_._1)
    val got = AnnQueries.n16_kmeans_inertia(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.map(_._2).sum == rows.length, "every vector assigned once")
    // the codebook's own rows must self-assign at zero distance
    cb.foreach { case (id, _) =>
      assert(assigned(rows.indexWhere(_._1 == id))._1 == id)
    }
  }

  test("p13: after the repair no d02 near-dup pair crosses a split, and " +
    "the output is exactly the moved docs") {
    def splitOf(id: Long): String = {
      val b = java.lang.Math.floorMod(id * 2654435761L, 1000L)
      if (b < 800) "train" else if (b < 900) "val" else "test"
    }
    val labels = CurationQueries.c02_dedup_clusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val shift = docs.max + 1
    val corpus = docs ++ docs.map(_ + shift)
    def effective(id: Long): String = splitOf(labels.getOrElse(id, id))
    val expected = corpus.toSeq.sorted
      .map(id => (id, labels.getOrElse(id, id), splitOf(id), effective(id)))
      .filter(x => x._3 != x._4)
    val got = ScaleQueries.p13_split_repair(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq
    assert(got == expected)
    // the repaired assignment closes every leak p11 measures
    val pairs = DedupQueries.d02_minhash_lsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(effective(a) == effective(b), s"pair ($a,$b) must co-locate") }
  }

  test("t19: self-repetition spans match a driver re-derivation, and " +
    "every span sits in a planted doc surfacing its prefix echo") {
    val P = 1000000007L
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def tokHash(t: String): Long = {
      val cp = t.codePoints().toArray
      (0 until 8).foldLeft(0L)((a, j) =>
        a * 31 + (if (j < cp.length) cp(j) else '_'.toInt))
    }
    val corpus = docs.map { case (id, t) =>
      val aug = if (id % 3 == 0)
        t + " " + t.split(" ", -1).take(16).mkString(" ") else t
      (id, aug)
    }
    val occ = corpus.flatMap { case (id, text) =>
      val th = text.split(" ", -1).map(tokHash)
      (0 to th.length - DedupQueries.SPAN_W).map { k =>
        val h = (0 until DedupQueries.SPAN_W)
          .foldLeft(0L)((a, j) => (a * 31 + th(k + j)) % P)
        (id, (k + 1).toLong, h)
      }
    }
    val hot = occ.groupBy(_._3).collect {
      case (h, v) if v.size > DedupQueries.SPAN_DF_CAP => h }.toSet
    val capped = occ.filterNot(o => hot(o._3))
    val matches = capped.groupBy(o => (o._1, o._3)).values.toSeq.flatMap { v =>
      v.toSeq.flatMap(a => v.toSeq.collect {
        case b if a._2 < b._2 => (a._1, a._2, b._2) }) }
    val expected = matches
      .groupBy { case (id, pa, pb) => (id, pb - pa) }
      .toSeq.flatMap { case (_, ms) =>
        val sorted = ms.sortBy(_._2)
        sorted.zipWithIndex.groupBy { case (m, i) => m._2 - i }.values.map { isl =>
          val ps = isl.map(_._1)
          (ps.head._1, ps.map(_._2).min, ps.map(_._3).min,
            ps.map(_._2).max - ps.map(_._2).min + DedupQueries.SPAN_W)
        }
      }
      .filter(_._4 >= DedupQueries.SPAN_MIN)
      .sortBy(x => (x._1, x._2, x._3))
    val got = TextQueries.t19_repetition_spans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.nonEmpty, "the planted echoes must surface")
    got.foreach { g =>
      assert(g._1 % 3 == 0, s"span in unplanted doc ${g._1}")
      assert(g._4 >= DedupQueries.SPAN_MIN)
    }
    // the planted contract on a clean doc: prefix echo at (1, n+1)
    val byDoc = got.groupBy(_._1)
    docs.foreach { case (id, t) =>
      val n = t.split(" ", -1).length
      val aug = corpus.toMap.apply(id)
      val augOcc = occ.filter(_._1 == id)
      if (id % 3 == 0 && n >= DedupQueries.SPAN_MIN &&
          augOcc.forall(o => !hot(o._3))) {
        val spans = byDoc.getOrElse(id, Array.empty[(Long, Long, Long, Long)].toSeq)
        val expLen = math.min(16, n).toLong
        assert(spans.exists(sp => sp._2 == 1L && sp._3 == n + 1L && sp._4 == expLen),
          s"doc $id (n=$n, aug=${aug.length} chars) must echo its prefix")
      }
    }
  }

  test("d12: shared spans match a full driver re-derivation (shingle " +
    "hashes, cap, diagonal islands), and every planted copy pair keeps " +
    "its full-prefix span when uncapped") {
    val P = 1000000007L
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val shift = docs.map(_._1).max + 1
    val corpus = docs ++ docs.map { case (id, t) => (id + shift, t + " mutated tail") }
    def tokHash(t: String): Long = {
      val cp = t.codePoints().toArray
      (0 until 8).foldLeft(0L)((a, j) =>
        a * 31 + (if (j < cp.length) cp(j) else '_'.toInt))
    }
    // (doc, pos → shingle hash) per corpus member
    val occ = corpus.flatMap { case (id, text) =>
      val th = text.split(" ", -1).map(tokHash)
      (0 to th.length - DedupQueries.SPAN_W).map { k =>
        val h = (0 until DedupQueries.SPAN_W)
          .foldLeft(0L)((a, j) => (a * 31 + th(k + j)) % P)
        (id, (k + 1).toLong, h)
      }
    }
    val hot = occ.groupBy(_._3).collect {
      case (h, v) if v.size > DedupQueries.SPAN_DF_CAP => h }.toSet
    val capped = occ.filterNot(o => hot(o._3))
    val byHash = capped.groupBy(_._3)
    val matches = byHash.values.toSeq.flatMap { v =>
      v.toSeq.flatMap(a => v.toSeq.collect {
        case b if a._1 < b._1 => (a._1, b._1, a._2, b._2) }) }
    val expected = matches
      .groupBy { case (da, db, pa, pb) => (da, db, pa - pb) }
      .toSeq.flatMap { case (_, ms) =>
        // islands of consecutive pos_a within one diagonal
        val sorted = ms.sortBy(_._3)
        val islands = sorted.zipWithIndex
          .groupBy { case (m, i) => m._3 - i }.values
        islands.map { isl =>
          val ps = isl.map(_._1)
          (ps.head._1, ps.head._2, ps.map(_._3).min, ps.map(_._4).min,
            ps.map(_._3).max - ps.map(_._3).min + DedupQueries.SPAN_W)
        }
      }
      .filter(_._5 >= DedupQueries.SPAN_MIN)
      .sortBy(x => (x._1, x._2, x._3, x._4))
    val got = DedupQueries.d12_substring_spans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
    // the planted contract: an original whose every shingle survived the
    // cap shares its FULL text with its copy as one span from position 1
    val gotSpans = got.groupBy(g => (g._1, g._2))
    docs.foreach { case (id, text) =>
      val n = text.split(" ", -1).length
      val allSurvive = occ.filter(o => o._1 == id).forall(o => !hot(o._3))
      if (n >= DedupQueries.SPAN_MIN && allSurvive) {
        val spans = gotSpans.getOrElse((id, id + shift), Seq.empty)
        assert(spans.exists(s => s._3 == 1L && s._4 == 1L && s._5 == n),
          s"doc $id must share its full $n-token prefix with its copy")
      }
    }
  }

  test("t20: hashed-classifier scores match a driver re-derivation " +
    "(unigram fold, bigram combine, slot weight), and feature counts " +
    "are exactly 2n-1") {
    val P = 1000000007L
    def uniHash(t: String): Long =
      t.codePoints().toArray.take(12)
        .foldLeft(0L)((a, c) => (a * 31 + c) % P)
    def weight(h: Long): Long =
      (h % TextQueries.CLS_BUCKETS) * 2654435761L % 2147483647L % 2001L - 1000L
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = docs.map { case (id, text) =>
      val toks = text.split(" ", -1).filter(_.nonEmpty)
      val uhs = toks.map(uniHash)
      val bhs = uhs.zip(uhs.drop(1)).map { case (a, b) => (a * 33 + b) % P }
      val fs = uhs ++ bhs
      val score = fs.map(weight).sum
      (id, fs.length.toLong, score, if (score > 0) 1 else 0)
    }.sortBy(_._1).toSeq
    val got = TextQueries.t20_hash_classifier(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got == expected)
    // every weight the slot table can emit is in [-1000, 1000]
    (0L until TextQueries.CLS_BUCKETS).foreach { b =>
      val w = b * 2654435761L % 2147483647L % 2001L - 1000L
      assert(w >= -1000 && w <= 1000)
    }
    got.foreach { case (_, nf, _, _) => assert(nf % 2 == 1 || nf == 0) }
  }

  test("c11: pagerank matches a driver re-derivation of the integer " +
    "recurrence over the real n09 edges, isolated nodes sit at teleport " +
    "mass, and total mass never exceeds the scale") {
    val edges = AnnQueries.n09Graph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val n = nodes.length.toLong
    val teleport = 15L * CurationQueries.PR_SCALE / (100L * n)
    val outdeg = edges.groupBy(_._1).map { case (s2, es) => s2 -> es.length.toLong }
    var rank = nodes.map(v => v -> CurationQueries.PR_SCALE / n).toMap
    for (_ <- 1 to CurationQueries.PR_ROUNDS) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => rank(u) / outdeg(u) }.sum
      }
      rank = nodes.map(v => v -> (teleport + 85L * in.getOrElse(v, 0L) / 100L)).toMap
    }
    val expected = nodes.map(v => (v, rank(v)))
      .sortBy { case (v, r) => (-r, v) }.toSeq
    val got = CurationQueries.c11_pagerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    val hasIn = edges.map(_._2).toSet
    got.foreach { case (v, r) =>
      if (!hasIn(v)) assert(r == teleport, s"isolated node $v at teleport")
    }
    assert(got.map(_._2).sum <= CurationQueries.PR_SCALE,
      "floor arithmetic only drops mass, never creates it")
  }

  test("e20: lateness census matches a driver replay of the per-user " +
    "watermark, and an unshifted log yields zero late rows") {
    val rows = graft.model.Tables.events(spark, sf)
      .selectExpr("event_id", "user_id", "event_type", "unix_micros(ts) AS us")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val delay = EventQueries.WM_DELAY_S * 1000000L
    def census(shifted: Boolean) = rows
      .map { case (id, u, t, us) =>
        val shift =
          if (!shifted) 0L
          else if (id % 17 == 4) (id % 5 + 1) * 240000000L
          else if (id % 211 == 7) (id % 7 + 1) * 3600000000L
          else 0L
        (id, u, t, us - shift)
      }
      .groupBy(_._2).values.flatMap { es =>
        var wmMax = Long.MinValue
        es.sortBy(_._1).map { case (_, _, t, ev) =>
          val late = if (wmMax != Long.MinValue && ev < wmMax - delay)
            Some(wmMax - delay - ev) else None
          wmMax = math.max(wmMax, ev)
          (t, late)
        }
      }
      .groupBy(_._1).map { case (t, es) =>
        val lates = es.flatMap(_._2)
        (t, es.size.toLong, lates.size.toLong,
          lates.size.toLong * 1000 / es.size,
          if (lates.isEmpty) 0L else lates.max)
      }.toSeq.sortBy(_._1)
    val got = EventQueries.e20_late_arrivals(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == census(shifted = true))
    assert(census(shifted = false).forall(_._3 == 0L),
      "the native log is watermark-clean; every late row is planted")
  }

  test("v11: the fixed-point iterate tracks its float twin at the same " +
    "budget (|cos| > 0.999), climbs the Rayleigh quotient, and stays " +
    "L-inf bounded") {
    val X = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val dims = X.head.length
    val mean = (0 until dims).map(j => X.map(_(j)).sum / X.length).toArray
    val C = X.map(row => row.indices.map(j => row(j) - mean(j)).toArray)
    def step(w: Array[Double]): Array[Double] = {
      val u = C.map(r => r.indices.map(j => r(j) * w(j)).sum)
      val y = (0 until dims).map(j => C.indices.map(i => C(i)(j) * u(i)).sum)
      val nrm = math.sqrt(y.map(x => x * x).sum)
      y.map(_ / nrm).toArray
    }
    def rayleigh(w: Array[Double]): Double = {
      val nrm2 = w.map(x => x * x).sum
      val u = C.map(r => r.indices.map(j => r(j) * w(j)).sum)
      u.map(x => x * x).sum / nrm2
    }
    // the float twin of the DEFINED operator: same all-ones start, same
    // fixed budget (the fixture cloud is near-isotropic — λ2/λ1 ≈ 0.93 —
    // so NO 8-round method aligns with the asymptotic PC1 here; the
    // testable claims are arithmetic fidelity and spectral ascent)
    var w = Array.fill(dims)(1.0)
    for (_ <- 1 to VectorQueries.PCA_ROUNDS.toInt) w = step(w)
    val got = VectorQueries.v11_principal_component(spark, sf).collect()
      .sortBy(_.getLong(0)).map(_.getLong(1).toDouble)
    val dot = got.indices.map(i => got(i) * w(i)).sum
    val cos = math.abs(dot) /
      (math.sqrt(got.map(x => x * x).sum) * math.sqrt(w.map(x => x * x).sum))
    assert(cos > 0.999,
      s"integer iterate must track the float iterate, cos=$cos")
    val ones = Array.fill(dims)(1.0)
    assert(rayleigh(got) > rayleigh(ones),
      "the iterate must strictly improve the Rayleigh quotient over init")
    // the L-inf renormalizer pins the scale: max|component| stays within
    // one truncation step of VSCALE
    assert(got.map(math.abs).max <= VectorQueries.PCA_VSCALE * 1.01)
  }

  test("n17: beam search matches a driver replay of the walk over the " +
    "real edges, and the final beam strictly improves on the entry set") {
    val q = VectorQueries.flagshipVec
    val edges = AnnQueries.n09Graph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val sc = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map { r =>
        val e = r.getSeq[Float](1)
        val dot = e.indices.map(i => e(i).toDouble * q(i)).sum
        r.getLong(0) -> (BigDecimal(dot)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
      }.toMap
    def cut(ids: Seq[Long]): Seq[Long] =
      ids.distinct.sortBy(v => (-sc(v), v)).take(AnnQueries.BEAM_WIDTH)
    var beam = sc.keys.toSeq.sorted.take(AnnQueries.BEAM_ENTRIES)
    val entryBest = beam.map(sc).max
    for (_ <- 1 to AnnQueries.BEAM_STEPS)
      beam = cut(beam ++ beam.flatMap(v => edges.getOrElse(v, Set.empty)))
    val expected = beam.sortBy(v => (-sc(v), v)).map(v => (v, sc(v)))
    val got = AnnQueries.n17_beam_search(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected)
    assert(got.head._2 >= entryBest,
      "the walk never loses the best entry (it stays in the beam)")
    assert(got.map(_._1).toSet.exists(v => !sc.keys.toSeq.sorted
      .take(AnnQueries.BEAM_ENTRIES).contains(v)),
      "the walk actually moved off the entry set")
  }

  test("n20: the batched walk equals an independent per-query driver " +
    "replay (same edges, per-centroid scores, per-query beam cuts)") {
    val edges = AnnQueries.n09Graph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    // per-label unit centroid, exactly qsDf's arithmetic: Double sums
    // (exact, order-proof for float-widened addends), index-order norm,
    // THEN the float cast
    val qvecs: Map[Int, Array[Float]] = rows.groupBy(_._3).map {
      case (l, rs) =>
        val dim = rs.head._2.length
        val sum = new Array[Double](dim)
        rs.foreach { case (_, e, _) =>
          var i = 0; while (i < dim) { sum(i) += e(i).toDouble; i += 1 } }
        var ss = 0.0; var i = 0
        while (i < dim) { ss += sum(i) * sum(i); i += 1 }
        val n = math.sqrt(ss)
        l -> (if (n == 0.0) sum.map(_.toFloat) else sum.map(x => (x / n).toFloat))
    }
    def score(e: Array[Float], q: Array[Float]): Double = {
      var s = 0.0; var i = 0
      val m = math.min(e.length, q.length)
      while (i < m) { s += e(i).toDouble * q(i).toDouble; i += 1 }
      java.math.BigDecimal.valueOf(s)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
    }
    val entries = rows.map(_._1).sorted.take(AnnQueries.BEAM_ENTRIES).toSeq
    val expected = qvecs.keys.toSeq.sorted.flatMap { l =>
      val sc = rows.map { case (id, e, _) => id -> score(e, qvecs(l)) }.toMap
      def cut(ids: Seq[Long]): Seq[Long] =
        ids.distinct.sortBy(v => (-sc(v), v)).take(AnnQueries.BEAM_WIDTH)
      var beam = entries
      for (_ <- 1 to AnnQueries.BEAM_STEPS)
        beam = cut(beam ++ beam.flatMap(v => edges.getOrElse(v, Set.empty)))
      beam.sortBy(v => (-sc(v), v)).map(v => (l.toLong, v, sc(v)))
    }
    val got = AnnQueries.n20_beam_batch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected, s"${got.take(3)} vs ${expected.take(3)}")
    // batching must not collapse queries: different centroids walk to
    // different beams somewhere in the batch
    assert(got.groupBy(_._1).values.map(_.map(_._2).toSet).toSet.size > 1)
  }

  test("t21: novelty census matches a driver re-derivation over the " +
    "same rolling shingles, and an exact clone zeroes both docs") {
    val P = 1000000007L
    def shingles(text: String): Seq[Long] = {
      val ws = text.split(" ", -1)
      if (ws.length < DedupQueries.SPAN_W) Seq.empty
      else {
        val th = ws.map { w =>
          val cp = w.codePoints().toArray
          (0 until 8).foldLeft(0L)((a, j) =>
            a * 31 + (if (j < cp.length) cp(j) else '_'.toInt))
        }
        (0 to ws.length - DedupQueries.SPAN_W).map { k =>
          (0 until DedupQueries.SPAN_W)
            .foldLeft(0L)((a, j) => (a * 31 + th(k + j)) % P)
        }
      }
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val all = docs.flatMap { case (id, t) => shingles(t).map(h => (id, h)) }
    val dfCount = all.groupBy(_._2).map { case (h, v) => h -> v.length }
    val expected = docs.map { case (id, t) =>
      val sh = shingles(t)
      val uniq = sh.count(h => dfCount(h) == 1)
      val pm = if (sh.isEmpty) 0L else uniq.toLong * 1000 / sh.length
      (id, sh.length.toLong, uniq.toLong, pm)
    }.sortBy(_._1).toSeq
    val got = TextQueries.t21_novelty(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // the planted discipline in reverse: every doc whose shingles all
    // recur elsewhere (novelty 0 with shingles present) shares each of
    // its shingles with some other doc — spot-check the census is
    // really cross-document, not within-document
    got.filter(g => g._2 > 0 && g._4 == 0).take(3).foreach { case (id, _, _, _) =>
      val mine = shingles(docs.find(_._1 == id).get._2).toSet
      val others = docs.filter(_._1 != id)
        .flatMap(d => shingles(d._2)).toSet
      assert(mine.subsetOf(others) ||
        shingles(docs.find(_._1 == id).get._2)
          .groupBy(identity).exists(_._2.length > 1),
        s"doc $id zero novelty must come from recurrence")
    }
  }

  test("c12: the dup-quality report partitions the corpus exactly " +
    "(n_docs = csize·n_clusters, totals = corpus size) and buckets " +
    "agree with the c02 label artifact") {
    val got = CurationQueries.c12_dup_quality(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(got.map(_._3).sum == nDocs)
    got.foreach { case (csize, nc, nd, _) =>
      assert(nd == csize * nc, s"bucket $csize must partition evenly")
    }
    // bucket counts derived independently from the label artifact
    val ids = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val lab = CurationQueries.c02_dedup_clusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => ids.contains(p._1)).toMap
    val sizes = ids.toSeq.map(v => lab.getOrElse(v, v))
      .groupBy(identity).values.map(_.size)
    val expected = sizes.groupBy(identity)
      .map { case (k, v) => (k.toLong, v.size.toLong, (k * v.size).toLong) }
      .toSeq.sortBy(_._1)
    assert(got.map(g => (g._1, g._2, g._3)).toSeq == expected)
  }

  test("p14: rendezvous assignment matches a driver re-derivation, " +
    "shards balance, and adding a shard moves ≈ 1/(S+1) of the docs") {
    val M = 2147483647L
    val S = ScaleQueries.HRW_SHARDS
    def w(doc: Long, s: Int): Long = {
      val h1 = Math.floorMod(doc * 2654435761L + (s + 1) * 2246822519L, M)
      (h1 * h1) % M
    }
    val ids = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    def argmax(doc: Long, n: Int): Long =
      (0 until n).map(s => (w(doc, s) * 16 + (15 - s), s))
        .maxBy(_._1)._2.toLong
    val per = ids.map(doc => (argmax(doc, S), argmax(doc, S + 1)))
    val expected = per.groupBy(_._1).map { case (sh, v) =>
      val moved = v.count(p => p._1 != p._2).toLong
      (sh, v.length.toLong, moved, moved * 1000 / v.length)
    }.toSeq.sortBy(_._1)
    val got = ScaleQueries.p14_rendezvous(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // balance: no shard holds more than 2.5x its fair share (the
    // affine-weight bug this operator's scaladoc documents gave 4x+)
    val fair = ids.length.toDouble / S
    got.foreach { case (sh, n, _, _) =>
      assert(n < 2.5 * fair, s"shard $sh holds $n of ${ids.length}")
    }
    // HRW's defining property: growing S by one moves roughly 1/(S+1)
    val movedPm = got.map(_._3).sum * 1000 / ids.length
    assert(movedPm > 40 && movedPm < 250,
      s"moved $movedPm permille, expected near ${1000 / (S + 1)}")
  }

  test("n18: the multiprobe candidate set strictly contains n02's, and " +
    "its top-10 dot scores dominate n02's rank for rank") {
    val q = VectorQueries.flagshipVec
    def candidates(probesPerTable: Int => Seq[Int]): Set[Long] = {
      val rows = spark.read.parquet(s"$sf/embeddings.parquet")
        .select("vec_id", "embedding").collect()
      rows.filter { r =>
        val e = r.getSeq[Float](1).toArray
        (0 until graft.vec.Lsh.NUM_TABLES).exists(t =>
          probesPerTable(t).contains(graft.vec.Lsh.bucketOf(e, t)))
      }.map(_.getLong(0)).toSet
    }
    val exact = candidates(t => Seq(graft.vec.Lsh.bucketOf(q, t)))
    val multi = candidates { t =>
      val b = graft.vec.Lsh.bucketOf(q, t)
      b +: (0 until graft.vec.Lsh.BITS).map(i => b ^ (1 << i))
    }
    assert(exact.subsetOf(multi) && multi.size > exact.size,
      s"multiprobe must widen the pool (${exact.size} -> ${multi.size})")
    val s02 = AnnQueries.n02_ann_lsh_topk(spark, sf).collect()
      .map(_.getDouble(1))
    val s18 = AnnQueries.n18_multiprobe(spark, sf).collect()
      .map(_.getDouble(1))
    assert(s18.length >= s02.length)
    s02.indices.foreach(i => assert(s18(i) >= s02(i),
      s"rank $i: multiprobe ${s18(i)} must dominate ${s02(i)}"))
  }

  test("d13: per-pair exact Jaccard matches a driver set computation, " +
    "pair mass equals the d02 artifact, and the census means cohere") {
    val P = 1000000007L
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val shift = docs.map(_._1).max + 1
    val corpus = (docs ++ docs.map { case (id, t) =>
      (id + shift, t + " mutated tail") }).toMap
    def shingleSet(t: String): Set[Long] = {
      val cp = t.codePoints().toArray
      (0 to cp.length - 5).map { i =>
        (0 until 5).foldLeft(0L)((a, j) => a * 31 + cp(i + j)) % P
      }.toSet
    }
    val pairs = DedupQueries.d02_minhash_lsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val got = DedupQueries.d13_minhash_calibration(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.map(_._2).sum == pairs.length,
      "every d02 pair lands in exactly one calibration band")
    // exact side: recompute the per-band mean exact permille from sets
    val perBand = pairs.groupBy(p => math.round(p._3 * 1000) / 100).map {
      case (band, ps) =>
        val exacts = ps.map { case (a, b, _) =>
          val sa = shingleSet(corpus(a)); val sb = shingleSet(corpus(b))
          val in = (sa & sb).size.toLong
          in * 1000 / (sa.size + sb.size - in)
        }
        band -> (2 * exacts.sum + exacts.length) / (2L * exacts.length)
    }
    got.foreach { case (band, _, _, meanExact, _) =>
      assert(perBand(band) == meanExact,
        s"band $band exact mean: driver ${perBand(band)} vs $meanExact")
    }
    // |mean(est) - mean(exact)| can never exceed mean|est - exact|
    got.foreach { case (band, _, me, mx, mr) =>
      assert(math.abs(me - mx) <= mr + 1, s"band $band incoherent census")
    }
  }

  test("d14: verdicts match a full driver recomputation of the " +
    "incremental batch-vs-index pipeline") {
    val P = 1000000007L
    val rnd = new java.util.Random(7)
    val perms = Seq.fill(16)((1L + rnd.nextInt((P - 1).toInt).toLong,
      rnd.nextInt(P.toInt).toLong))
    def sig(t: String): Option[Array[Long]] = {
      val cp = t.codePoints().toArray
      if (cp.length < 5) None
      else Some {
        val hs = (0 to cp.length - 5).map { i =>
          (0 until 5).foldLeft(0L)((a, j) => a * 31 + cp(i + j)) % P
        }
        perms.map { case (a, b) => hs.map(h => (a * h + b) % P).min }.toArray
      }
    }
    def bands(s: Array[Long]): Seq[(Int, Long)] =
      (0 until 4).map(b => b ->
        (0 until 4).foldLeft(0L)((acc, r) => acc * 31 + s(b * 4 + r)))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val shift = docs.map(_._1).max + 1
    val batch = docs.filter(_._1 % 5 == 2).map { case (id, t) =>
      (id + shift, t + " incremental tail") } ++
      docs.filter(_._1 % 5 == 4).map { case (id, t) =>
        (id + 2 * shift, t.map(c => "aeiou".indexOf(c) match {
          case -1 => c; case k => ('0' + k).toChar })) }
    val csig = docs.flatMap { case (id, t) => sig(t).map(id -> _) }.toMap
    val occ = csig.toSeq.flatMap { case (id, s) =>
      bands(s).map { case (b, h) => (b, h) -> id } }
    val bucket = occ.groupBy(_._1).filter(_._2.size <= 50)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val expected = batch.sortBy(_._1).map { case (bid, t) =>
      sig(t) match {
        case None => (bid, "novel", -1L, 0L)
        case Some(bs) =>
          val cands = bands(bs).flatMap(bucket.get).flatten.toSet
          val scored = cands.toSeq.flatMap { cid =>
            val cs = csig(cid)
            val eq = (0 until 16).count(i => bs(i) == cs(i))
            val pm = math.round(math.rint(eq / 16.0 * 10000) / 10000 * 1000)
            if (pm >= 500) Some((cid, pm)) else None
          }
          if (scored.isEmpty) (bid, "novel", -1L, 0L)
          else {
            val (mid, pm) = scored.minBy { case (cid, pm) => (-pm, cid) }
            (bid, "dup", mid, pm)
          }
      }
    }
    val got = DedupQueries.d14_incremental_dedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.length == expected.length, "one row per batch doc")
    got.zip(expected).foreach { case (g, e) =>
      assert(g == e, s"batch doc ${e._1}: engine $g vs driver $e")
    }
    // the planted structure must be detected: every vowel-substituted doc
    // novel, and ≥90% of tail-mutated docs dup of their own source
    val mut = got.filter(_._1 < 2 * shift)
    assert(got.filter(_._1 >= 2 * shift).forall(_._2 == "novel"))
    assert(mut.count(r => r._2 == "dup" && r._3 == r._1 - shift) >=
      mut.length * 9 / 10, "self-match recall below 90%")
  }

  test("p15: zone-map skipping counts match a driver recomputation of " +
    "both layouts, and z-order prunes where a 1-D sort cannot") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("o_orderkey", "o_custkey",
        "CAST(round(o_totalprice * 100.0D) AS BIGINT) AS yv")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (xmin, xmax) = (orders.map(_._2).min, orders.map(_._2).max)
    val (ymin, ymax) = (orders.map(_._3).min, orders.map(_._3).max)
    val b = orders.map { case (id, x, y) =>
      val xb = (x - xmin) * 256 / (xmax - xmin + 1)
      val yb = (y - ymin) * 256 / (ymax - ymin + 1)
      val z = (0 until 8).map(k =>
        ((xb >> k) & 1) << (2 * k) | ((yb >> k) & 1) << (2 * k + 1)).sum
      (id, xb, yb, z)
    }
    def fileStats(sorted: Array[(Long, Long, Long, Long)])
        : Seq[(Long, Long, Long, Long)] = {
      val n = sorted.length
      val (base, extra) = (n / ScaleQueries.ZF, n % ScaleQueries.ZF)
      val bounds = (0 until ScaleQueries.ZF).scanLeft(0) {
        (acc, i) => acc + base + (if (i < extra) 1 else 0) }
      bounds.sliding(2).map { w =>
        val rows = sorted.slice(w(0), w(1))
        (rows.map(_._2).min, rows.map(_._2).max,
          rows.map(_._3).min, rows.map(_._3).max)
      }.toSeq
    }
    val lin = fileStats(b.sortBy(t => (t._2, t._1)))
    val zor = fileStats(b.sortBy(t => (t._4, t._1)))
    val expected = ScaleQueries.ZQ.zipWithIndex.map {
      case ((xl, xh, yl, yh), i) =>
        def hits(st: Seq[(Long, Long, Long, Long)]) = st.count { case
          (mnx, mxx, mny, mxy) =>
            mnx <= xh && mxx >= xl && mny <= yh && mxy >= yl }.toLong
        (i.toLong, b.count(t => t._2 >= xl && t._2 <= xh &&
          t._3 >= yl && t._3 <= yh).toLong, hits(lin), hits(zor))
    }
    val got = ScaleQueries.p15_zorder_skipping(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expected, s"${got.toSeq} vs $expected")
    // the audit's reason to exist: on the wide-x/narrow-y probes the
    // x-sorted layout can barely prune (tiny sf0.001 files may dodge a
    // y-slab by luck) while z-order must cut the scan at least in half
    got.take(2).foreach { case (q, _, fl, fz) =>
      assert(fl >= ScaleQueries.ZF * 9 / 10 && fz < fl / 2,
        s"probe $q: linear $fl zorder $fz")
    }
  }

  test("v12: distortion census matches a driver recomputation and the " +
    "pair-mass-weighted mean ratio sits near 1 (JL unbiasedness)") {
    val rnd = new java.util.Random(11)
    val signs = Array.fill(16, 64)(if (rnd.nextBoolean()) 1 else -1)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 10000.0 + 0.5)
          .toLong).toArray).toMap
    val ratios = emb.keys.toSeq.sorted.flatMap { a =>
      emb.get(a + 17).map { qb =>
        val qa = emb(a)
        val dorig = qa.indices.map(j =>
          (qa(j) - qb(j)) * (qa(j) - qb(j))).sum
        val dproj = signs.map { row =>
          val pa = row.indices.map(j => row(j) * qa(j)).sum
          val pb = row.indices.map(j => row(j) * qb(j)).sum
          (pa - pb) * (pa - pb)
        }.sum
        if (dorig == 0L) 1000L else dproj * 1000 / (16 * dorig)
      }
    }
    val expected = ratios.groupBy(_ / 250).toSeq.sortBy(_._1).map {
      case (band, rs) => (band, rs.length.toLong,
        (2 * rs.sum + rs.length) / (2L * rs.length), rs.min, rs.max)
    }
    val got = VectorQueries.v12_jl_projection(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == expected, s"${got.toSeq} vs $expected")
    // JL unbiasedness: the pair-weighted mean ratio is 1 ± 10%
    val mean = ratios.sum.toDouble / ratios.length
    assert(mean > 900 && mean < 1100, s"mean ratio_pm $mean")
  }

  test("m05: pair set matches a driver recomputation of the dHash " +
    "pipeline and every surviving planted copy is recovered") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val shift = docs.map(_._1).max + 1
    def pad(t: String): String =
      if (t.length >= 66) t else t + "_" * (66 - t.length)
    val corpus = docs.map { case (id, t) => id -> t } ++
      docs.filter(_._1 % 4 == 1).map { case (id, t) =>
        val p = pad(t)
        (id + shift) -> (p.substring(0, 29) + "~" + p.substring(30))
      }
    def fp(t: String): Long = {
      val cp = pad(t).codePoints().toArray
      (0 until 6).flatMap(r => (0 until 10).map { c =>
        val pos = r * 11 + c
        if (cp(pos + 1) > cp(pos)) 1L << (r * 10 + c) else 0L
      }).sum
    }
    val fps = corpus.toSeq.map { case (id, t) => id -> fp(t) }
    val blocked = fps.flatMap { case (id, f) =>
      (0 until 4).map(t => (t, (f >> (15 * t)) & 32767) -> (id, f)) }
    val buckets = blocked.groupBy(_._1).filter(_._2.length <= 50)
      .values.map(_.map(_._2))
    val expected = buckets.flatMap { mem =>
      for {
        (a, fa) <- mem; (b, fb) <- mem if a < b
        h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
      } yield (a, b, h)
    }.toSet.toSeq.sorted.map { case (a, b, h) => (a, b, h) }
    val got = MediaQueries.m05_perceptual_dedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == expected, s"${got.take(5)}... vs ${expected.take(5)}...")
    // recall on the planted structure: every planted copy whose pair
    // survived the cap must be found, and ≥90% must survive overall
    val planted = got.count { case (a, b, _) => b - a == shift }
    val nPlanted = docs.count(_._1 % 4 == 1)
    assert(planted >= nPlanted * 9 / 10,
      s"planted recall $planted/$nPlanted")
  }

  test("e23: history intervals match a driver run-length collapse and " +
    "tile each user's timeline exactly") {
    val ev = graft.model.Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "event_type",
        "unix_micros(ts) AS ev_us")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val expected = ev.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (uid, rows) =>
        val ordered = rows.sortBy(_._2)
        val runs = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long, Long)] // state, from, n
        ordered.foreach { case (_, _, et, us) =>
          if (runs.nonEmpty && runs.last._1 == et) {
            val l = runs.last; runs(runs.length - 1) = (l._1, l._2, l._3 + 1)
          } else runs += ((et, us, 1L))
        }
        runs.zipWithIndex.map { case ((st, from, n), i) =>
          val to = if (i + 1 < runs.length) runs(i + 1)._2 else -1L
          (uid, st, from, to, (i + 1).toLong, n,
            if (to == -1L) 1 else 0)
        }
    }
    val got = EventQueries.e23_scd2_history(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getInt(6))).toSeq
    assert(got == expected, s"${got.take(3)} vs ${expected.take(3)}")
    // structural invariants: versions dense from 1, intervals half-open
    // and contiguous, exactly one open (current) interval per user
    got.groupBy(_._1).foreach { case (uid, ivs) =>
      val sorted = ivs.sortBy(_._5)
      assert(sorted.map(_._5) == (1L to sorted.length).toSeq)
      assert(sorted.count(_._7 == 1) == 1, s"user $uid current count")
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._4 == b._3, s"user $uid gap")
        case _ =>
      }
      // event mass conservation
    }
    assert(got.map(_._6).sum == ev.length)
  }

  test("w02: top PMI collocations match a driver census with the " +
    "FixedLog reference implementation") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val uni = scala.collection.mutable.Map.empty[String, Long]
    val bi = scala.collection.mutable.Map.empty[(String, String), Long]
    texts.foreach { t =>
      val ws = t.split(" ", -1)
      ws.foreach(w => uni(w) = uni.getOrElse(w, 0L) + 1)
      if (ws.length >= 2) ws.sliding(2).foreach { p =>
        val k = (p(0), p(1)); bi(k) = bi.getOrElse(k, 0L) + 1 }
    }
    val nu = FixedLog.log2Cb(uni.values.sum)
    val nb = FixedLog.log2Cb(bi.values.sum)
    val expected = bi.toSeq.filter(_._2 >= WordQueries.PMI_MIN_SUP)
      .map { case ((a, b), cab) =>
        (a, b, cab, FixedLog.log2Cb(cab) + 2 * nu - nb -
          FixedLog.log2Cb(uni(a)) - FixedLog.log2Cb(uni(b)))
      }.sortBy { case (a, b, _, pmi) => (-pmi, a, b) }.take(50)
    val got = WordQueries.w02_pmi_collocations(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expected, s"${got.take(3)} vs ${expected.take(3)}")
  }

  test("n19: the curve is monotone, permilles recompute, and the p=2 " +
    "point IS n01's recall against v01's brute top-10") {
    val got = AnnQueries.n19_nprobe_curve(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    got.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._3 < b._3, "scanned rows strictly increase with nprobe")
        assert(a._4 <= b._4, "recall never drops as cells are added")
      case _ =>
    }
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    got.foreach { case (_, cells, scanned, hits, pm) =>
      assert(cells >= 1 && hits <= 10)
      assert(pm == scanned * 1000 / total, "permille recomputes")
    }
    // cross-operator exactness: nprobe=2 is n01's configuration, so its
    // hits@10 must equal |n01 ∩ brute-top-10| exactly (v01 is the
    // reference's top-12 — its ordered prefix of 10 IS the brute set)
    val n01 = AnnQueries.n01_ann_ivf(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val brute = VectorQueries.v01_search_topk(spark, sf).collect()
      .take(10).map(_.getLong(0)).toSet
    assert(got(1)._4 == (n01 & brute).size.toLong,
      s"p=2 hits ${got(1)._4} vs n01∩brute ${(n01 & brute).size}")
  }

  test("q11: deciles match a driver recomputation and the shares " +
    "telescope to exactly 1000 permille") {
    val perCust = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("o_custkey",
        "CAST(round(o_totalprice * 100.0D) AS BIGINT) AS cents")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).sum) }.toSeq
      .sortBy { case (k, c) => (-c, k) }
    val n = perCust.length
    val (base, extra) = (n / 10, n % 10)
    val bounds = (0 until 10).scanLeft(0)((acc, i) =>
      acc + base + (if (i < extra) 1 else 0))
    val total = perCust.map(_._2).sum
    var cum = 0L
    val expected = (0 until 10).map { i =>
      val rows = perCust.slice(bounds(i), bounds(i + 1))
      val dc = rows.map(_._2).sum
      cum += dc
      ((i + 1).toLong, rows.length.toLong, dc, dc * 1000 / total,
        cum * 1000 / total)
    }
    val got = RelationalQueries.q11_revenue_deciles(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected, s"${got.take(3)} vs ${expected.take(3)}")
    assert(got.last._5 == 1000L, "cumulative share telescopes to 1000")
    // deciles are revenue-sorted: shares never increase down the table
    got.sliding(2).foreach {
      case Seq(a, b) => assert(a._3 >= b._3, "decile revenue monotone")
      case _ =>
    }
  }

  test("t22: entropy census matches a driver recomputation with the " +
    "FixedLog reference and a planted repeat collapses the band") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    def hcb(t: String): Long = {
      val counts = t.codePoints().toArray.groupBy(identity)
        .map { case (_, v) => v.length.toLong }
      val n = counts.sum
      if (n == 0) 0L
      else {
        val sk = counts.map(k => k * FixedLog.log2Cb(k)).sum
        (2 * (n * FixedLog.log2Cb(n) - sk) + n) / (2 * n)
      }
    }
    val expected = texts.map(hcb).groupBy(_ / 25).toSeq.sortBy(_._1)
      .map { case (b, hs) => (b, hs.length.toLong, hs.min, hs.max,
        (2 * hs.sum + hs.length) / (2L * hs.length)) }
    val got = TextQueries.t22_char_entropy(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected, s"$got vs $expected")
    // the signal the operator exists for: a degenerate repeated text
    // sits orders below the natural-language bands
    assert(hcb("aaaaaaaaaabbbbbbbbbb") == 100L, "2-symbol text = 1 bit")
    assert(got.head._1 * 25 > 300, "natural corpus well above 3 bits")
  }

  test("d17: two-pass sorted-neighborhood output matches a driver " +
    "recomputation; tail pairs surface in the forward sort, head pairs " +
    "ONLY via the rotated sort") {
    val W = DedupQueries.SNM_WINDOW
    val LMAX = DedupQueries.SNM_LEV_MAX
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val shift = docs.map(_._1).max + 1
    val headDocs = docs.filter(_._1 % DedupQueries.D17_HEAD_MOD == 0)
    val corpus = docs ++
      docs.map { case (id, t) => (id + shift, t + " mutated tail") } ++
      headDocs.map { case (id, t) => (id + 2 * shift, "mutated head " + t) }
    def lev(a: String, b: String): Long = {
      var prev = Array.tabulate(b.length + 1)(_.toLong)
      for (i <- 1 to a.length) {
        val cur = new Array[Long](b.length + 1); cur(0) = i.toLong
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
      prev(b.length)
    }
    def pass(key: String => String): Seq[(Long, Long, Long)] = {
      val keyed = corpus.map { case (id, t) =>
        (key(t.toLowerCase.replaceAll("[^a-z0-9]", "")), id, t) }
      keyed.groupBy(_._1.take(2)).toSeq.flatMap { case (_, rs) =>
        val sorted = rs.sortBy(x => (x._1, x._2))
        sorted.indices.flatMap { i =>
          ((i + 1) to math.min(i + W, sorted.length - 1)).flatMap { j =>
            val l = lev(sorted(i)._3, sorted(j)._3)
            if (l <= LMAX)
              Some((math.min(sorted(i)._2, sorted(j)._2),
                math.max(sorted(i)._2, sorted(j)._2), l))
            else None
          }
        }
      }.toSeq
    }
    val fwd = pass(_.take(24))
    val rev = pass(_.reverse.take(24))
    val expected = (fwd ++ rev).distinct.sorted
    val got = DedupQueries.d17_sorted_neighborhood(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected, s"${got.take(3)} vs ${expected.take(3)}")
    // the signal: tail copies sort adjacent in the FORWARD pass (same
    // key prefix) and score exactly the 13-char appended-tail edit...
    val tail = got.filter { case (a, b, _) => b - a == shift && a < shift }
    assert(tail.size == docs.length, "all planted tail pairs found")
    assert(tail.forall(_._3 == 13L), "tail mutation is 13 edits")
    // ...head copies rewrite the key prefix, so the forward sort is
    // structurally blind to them — the rotated pass recovers them all
    val head = got.filter { case (a, b, _) => b - a == 2 * shift }
    assert(headDocs.nonEmpty && head.size == headDocs.length,
      s"all planted head pairs found (${head.size}/${headDocs.length})")
    assert(head.forall(_._3 == 13L), "head mutation is 13 edits")
    val fwdHead = fwd.filter { case (a, b, _) => b - a == 2 * shift }
    assert(fwdHead.size < math.max(1, headDocs.length / 10),
      s"forward pass should be mostly blind to head edits, saw ${fwdHead.size}")
  }

  test("t23: chunk plan matches a driver recomputation, covers every " +
    "token exactly, and consecutive chunks overlap by 16") {
    val C = TextQueries.CHUNK_TOKENS.toInt
    val S = TextQueries.CHUNK_STRIDE.toInt
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = docs.flatMap { case (id, t) =>
      val toks = t.split(" ", -1) // keep trailing empties, like split/string_split
      val n = toks.length
      val k = if (n <= C) 1 else (n - C + S - 1) / S + 1
      (0 until k).map { i =>
        val start = i * S
        val len = math.min(start + C, n) - start
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(toks.slice(start, start + len).mkString(" ")
            .getBytes("UTF-8")).map("%02x".format(_)).mkString
        (id, i.toLong, start.toLong, len.toLong, md5)
      }
    }.sortBy(x => (x._1, x._2)).toSeq
    val got = TextQueries.t23_chunk_plan(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    assert(got == expected, s"${got.take(2)} vs ${expected.take(2)}")
    // coverage + overlap invariants per doc
    got.groupBy(_._1).foreach { case (id, cs) =>
      val n = docs.toMap.apply(id).split(" ", -1).length
      val sorted = cs.sortBy(_._2)
      assert(sorted.head._3 == 0L, s"doc $id starts at token 0")
      assert(sorted.last._3 + sorted.last._4 == n, s"doc $id covers tail")
      assert(sorted.forall(_._4 <= C), s"doc $id chunk size bound")
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b._3 == a._3 + S, s"doc $id stride")
          assert(a._3 + a._4 >= b._3, s"doc $id no token gap")
        case _ =>
      }
    }
  }

  test("d15: the prefix filter is LOSSLESS — output equals a prefix-free " +
    "brute force over every pair, and candidates shrink >= 5x") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val shift = docs.map(_._1).max + 1
    val corpus = docs ++ docs.map { case (id, t) =>
      (id + shift, t + " mutated tail") }
    def grams(t: String): Set[String] = {
      val ws = t.split(" ", -1)
      if (ws.length < 3) Set.empty
      else (0 until ws.length - 2)
        .map(i => ws(i) + "_" + ws(i + 1) + "_" + ws(i + 2)).toSet
    }
    val sets = corpus.map { case (id, t) => id -> grams(t) }
      .filter(_._2.nonEmpty)
    // prefix-free brute force: every pair, exact integer threshold
    val expected = (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      (ida, sa) = sets(i); (idb, sb) = sets(j)
      (a, ga, b, gb) = if (ida < idb) (ida, sa, idb, sb)
                       else (idb, sb, ida, sa)
      inter = (ga & gb).size.toLong
      union = ga.size + gb.size - inter
      if 2 * inter >= union
    } yield (a, b,
      ((20000 * inter + union) / (2 * union)) / 10000.0)).sortBy(t => (t._1, t._2))
    val got = DedupQueries.d15_prefix_join(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected,
      s"${got.length} pairs vs brute ${expected.length}")
    // the filter's reason to exist: prefix candidates vs full postings
    val dfm = sets.flatMap(_._2).groupBy(identity).view
      .mapValues(_.length).toMap
    def prefix(s: Set[String]): Set[String] = {
      val p = s.size - (s.size + 1) / 2 + 1
      s.toSeq.sortBy(g => (dfm(g), g)).take(p).toSet
    }
    val pres = sets.map { case (id, s) => id -> prefix(s) }
    def candCount(m: Seq[(Long, Set[String])]): Long = (for {
      i <- m.indices; j <- (i + 1) until m.length
      if (m(i)._2 & m(j)._2).nonEmpty
    } yield 1L).sum
    val full = candCount(sets.toSeq)
    val pref = candCount(pres.toSeq)
    assert(pref * 5 <= full, s"prefix candidates $pref vs full $full")
  }

  test("d16: asymmetric containment equals the prefix-free brute force, " +
    "and every planted orig->copy pair surfaces at containment 1.0") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val shift = docs.map(_._1).max + 1
    val corpus = docs ++ docs.map { case (id, t) =>
      (id + shift, t + " mutated tail") }
    def grams(t: String): Set[String] = {
      val ws = t.split(" ", -1)
      if (ws.length < 3) Set.empty
      else (0 until ws.length - 2)
        .map(i => ws(i) + "_" + ws(i + 1) + "_" + ws(i + 2)).toSet
    }
    val sets = corpus.map { case (id, t) => id -> grams(t) }
      .filter(_._2.nonEmpty)
    // brute force over ORDERED pairs: containment is asymmetric
    val expected = (for {
      i <- sets.indices; j <- sets.indices if i != j
      (ida, sa) = sets(i); (idb, sb) = sets(j)
      inter = (sa & sb).size.toLong
      na = sa.size.toLong
      if 10 * inter >= 9 * na
    } yield (ida, idb,
      ((20000 * inter + na) / (2 * na)) / 10000.0)).sortBy(t => (t._1, t._2))
    val got = DedupQueries.d16_containment_join(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected,
      s"${got.length} ordered pairs vs brute ${expected.length}")
    // the modality's reason to exist: the planted copies are SUPERSETS,
    // so orig->copy containment is exactly 1.0 for every original with
    // grams — pairs d15's symmetric-Jaccard threshold may keep only
    // because the tail is short; a true subset at any size gap would
    // vanish from d15 but must stay here
    val origIds = sets.map(_._1).filter(_ < shift).toSet
    val gotMap = got.map(t => (t._1, t._2) -> t._3).toMap
    origIds.foreach { id =>
      assert(gotMap.get((id, id + shift)).contains(1.0),
        s"planted pair $id -> ${id + shift} missing or below 1.0")
    }
  }

  test("v14: a fully collapsed corpus (identical vectors) pins " +
    "aniso_ppb at exactly 1e9, and the fixture sits near isotropy") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("aniso").toString
    val v = Array.tabulate(64)(i => (math.sin(i + 1) / 8.0).toFloat)
    (1L to 100L).map(id => (id, v))
      .toDF("vec_id", "embedding")
      .withColumn("label", lit(0))
      .write.parquet(s"$dir/embeddings.parquet")
    val collapsed = VectorQueries.v14_anisotropy(spark, dir).head()
    // identical vectors: Σsᵢ² = n²·Σq², ssq = n·Σq² ⇒ ratio exactly 1
    assert(collapsed.getAs[Long]("aniso_ppb") == 1000000000L, collapsed)
    assert(collapsed.getAs[Long]("sgn") == 1L)
    val fixture = VectorQueries.v14_anisotropy(spark, sf).head()
    assert(fixture.getAs[Long]("aniso_ppb") < 100000000L,
      s"synthetic cloud should be near-isotropic: $fixture")
    // unit vectors: mean self dot in q² units ≈ (10⁴)² = 10⁸
    val ms = fixture.getAs[Long]("mean_self_q2")
    assert(ms > 99000000L && ms < 101000000L, s"mean_self_q2 $ms")
  }

  test("m06: CDC report matches a full driver re-derivation of the " +
    "chunking, and content-defined cuts reclaim what exact dedup cannot") {
    val P = 1000000007L
    val W = graft.ops.DedupQueries.SPAN_W
    val MOD = MediaQueries.CDC_MOD
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val shift = docs.map(_._1).max + 1
    val corpus = docs ++ docs.map { case (id, t) =>
      (id + shift, t + " mutated tail") }
    def tokHash(t: String): Long = {
      val cp = t.codePoints().toArray
      (0 until 8).foldLeft(0L)((a, j) =>
        a * 31 + (if (j < cp.length) cp(j) else '_'.toInt))
    }
    val chunks = corpus.flatMap { case (id, text) =>
      val ws = text.split(" ", -1)
      val th = ws.map(tokHash)
      if (th.length < W) Seq.empty
      else {
        val sh = (0 to th.length - W).map { k =>
          (0 until W).foldLeft(0L)((a, j) => (a * 31 + th(k + j)) % P) }
        val starts = 1L +: (2 to sh.length)
          .filter(i => sh(i - 1) % MOD == 0).map(_.toLong)
        val kind = ((id % shift) % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video" }
        starts.zipWithIndex.map { case (st, ci) =>
          val en = if (ci == starts.length - 1) ws.length.toLong
            else starts(ci + 1) - 1
          val body = ws.slice(st.toInt - 1, en.toInt).mkString(" ")
          (kind, body, body.length.toLong)
        }
      }
    }
    val expected = chunks.groupBy(c => (c._1, c._2)).toSeq
      .map { case ((kind, _), v) => (kind, v.size.toLong, v.head._3) }
      .groupBy(_._1).toSeq.map { case (kind, v) =>
        val total = v.map(x => x._2 * x._3).sum
        val uniq = v.map(_._3).sum
        (kind, v.map(_._2).sum, v.size.toLong, total, uniq,
          (total - uniq) * 1000 / total)
      }.sortBy(_._1)
    val got = MediaQueries.m06_cdc_chunks(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, s"$got vs $expected")
    // the modality's reason to exist: there are ZERO exact duplicate
    // blobs (tail-mutated copies differ), yet chunk-level dedup reclaims
    // a substantial fraction — the copies' pre-tail chunks
    assert(corpus.map(_._2).distinct.length == corpus.length)
    got.foreach { case (kind, _, _, _, _, savings) =>
      assert(savings >= 100, s"$kind savings $savings‰ — CDC not biting") }
  }

  test("t24: planted open vocabulary fits beta ~ 1 with r2 = 1000; a " +
    "fully saturated vocabulary collapses to beta 0 with the r2 guard") {
    import spark.implicits._
    def run(rows: Seq[(Long, String)]): (Long, Long, Long) = {
      val dir = java.nio.file.Files.createTempDirectory("heaps").toString
      rows.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val r = graft.ops.TextQueries.t24_heaps_fit(spark, dir).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // every doc brings 8 brand-new words: V(N) = N exactly, beta = 1
    val open = (1L to 256L).map(k =>
      k -> (0 until 8).map(i => s"w${k}_$i").mkString(" "))
    val (kO, betaO, r2O) = run(open)
    assert(kO == 8L)
    assert(math.abs(betaO - 1000L) <= 5, s"open-vocab beta $betaO")
    assert(r2O >= 995L, s"open-vocab r2 $r2O")
    // every doc repeats the same 8 words: vocab saturates at the first
    // checkpoint, deny = 0, and the guard pins (beta, r2) = (0, 0)
    val closed = (1L to 256L).map(k =>
      k -> (0 until 8).map(i => s"w$i").mkString(" "))
    val (kC, betaC, r2C) = run(closed)
    assert(kC == 8L && betaC == 0L && r2C == 0L,
      s"saturated fit ($kC, $betaC, $r2C)")
  }

  test("v13: correlation top-20 matches a driver recomputation of the " +
    "gramian, and a planted linear dim pair scores corr2 ~ 1e9") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("embedding").collect()
      .map(r => r.getSeq[Float](0).map(x =>
        math.floor(x.toDouble * 10000.0 + 0.5).toLong).toArray)
    val D = 64
    val n = BigInt(emb.length)
    def dim(i: Int) = emb.map(_(i))
    val expected = (for {
      i <- 0 until D; j <- (i + 1) until D
    } yield {
      val si = BigInt(dim(i).sum); val sj = BigInt(dim(j).sum)
      val pij = BigInt(emb.map(q => q(i) * q(j)).sum)
      val pii = BigInt(emb.map(q => q(i) * q(i)).sum)
      val pjj = BigInt(emb.map(q => q(j) * q(j)).sum)
      val cov = n * pij - si * sj
      val vik = (n * pii - si * si) / 10000
      val vjk = (n * pjj - sj * sj) / 10000
      val sgn = if (cov >= 0) 1L else -1L
      val c2 =
        if (vik > 0 && vjk > 0)
          ((cov.abs / 10000 * (cov.abs / 10000) * BigInt(1000000000L))
            / (vik * vjk)).toLong
        else -1L
      (i.toLong, j.toLong, sgn, c2)
    }).filter(_._4 >= 0).sortBy(t => (-t._4, t._1, t._2)).take(20)
    val got = VectorQueries.v13_dim_correlation(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected, s"$got vs $expected")
    // aggregator sanity on a planted corpus, independent of the fixed
    // 64-dim fixture: dim1 = 2·dim0 + const (corr² = 1), dim2 noisy —
    // the full buffer must equal a driver fold, and the planted pair
    // must score ≥ 0.999e9 while the noisy pairs stay far below
    val rows = (1 to 200).map { k =>
      val x = (k % 17).toFloat / 17f
      Array(x, 2f * x + 0.1f, ((k * 31) % 13).toFloat / 13f)
    }
    import spark.implicits._
    val g3 = rows.toDF("v")
      .agg(graft.agg.GramianAggregator.gramian(3)(col("v")))
      .head().getSeq[Long](0)
    val q = rows.map(_.map(x =>
      math.floor(x.toDouble * 10000.0 + 0.5).toLong))
    val expBuf = new Array[Long](1 + 2 * 3 + 3)
    q.foreach { r =>
      expBuf(0) += 1
      for (i <- 0 until 3) {
        expBuf(1 + i) += r(i); expBuf(1 + 3 + i) += r(i) * r(i)
      }
      var k = 7
      for (i <- 0 until 3; j <- (i + 1) until 3) {
        assert(k == graft.agg.GramianAggregator.pairIndex(3, i, j))
        expBuf(k) += r(i) * r(j); k += 1
      }
    }
    assert(g3.toSeq == expBuf.toSeq)
    def corr2(i: Int, j: Int): Long = {
      val m = BigInt(200)
      val cov = m * BigInt(g3(graft.agg.GramianAggregator.pairIndex(3, i, j))) -
        BigInt(g3(1 + i)) * BigInt(g3(1 + j))
      val vi = (m * BigInt(g3(1 + 3 + i)) - BigInt(g3(1 + i)) * BigInt(g3(1 + i))) / 10000
      val vj = (m * BigInt(g3(1 + 3 + j)) - BigInt(g3(1 + j)) * BigInt(g3(1 + j))) / 10000
      ((cov.abs / 10000 * (cov.abs / 10000) * BigInt(1000000000L)) / (vi * vj)).toLong
    }
    assert(corr2(0, 1) >= 999000000L, s"planted pair ${corr2(0, 1)}")
    assert(corr2(0, 2) < 500000000L && corr2(1, 2) < 500000000L)
  }
}
