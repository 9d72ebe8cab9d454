package graft.engine

import graft.SparkSpec
import graft.embed.DeterministicEmbedder
import graft.vec.VectorOps
import org.apache.spark.sql.functions._

class EngineSpec extends SparkSpec {

  private def freshEngine(censorKey: Option[String] = Some("k")): RClipEngine = {
    val dir = java.nio.file.Files.createTempDirectory("graft-engine").toString
    val store = new SnapshotStore(dir)
    store.initFrom(spark, s"$sf/embeddings.parquet")
    new RClipEngine(spark, store, new DeterministicEmbedder(64),
      censorKey = censorKey)
  }

  lazy val engine: RClipEngine = freshEngine()

  test("flagship search: parse → resolve → combine → top-k (K1)") {
    val rows = engine.search("label5 -label6", 12).collect()
    assert(rows.length == 12)
    val scores = rows.map(_.getDouble(1))
    assert(scores.sameElements(scores.sortBy(-(_: Double))))
  }

  test("serving fast path: the driver-matrix search is bit-identical to " +
    "the distributed scored scan (every row, ties included) and mutations " +
    "invalidate the matrix") {
    val dir = java.nio.file.Files.createTempDirectory("graft-engine").toString
    val store = new SnapshotStore(dir)
    store.initFrom(spark, s"$sf/embeddings.parquet")
    val fast = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      censorKey = Some("k"))
    val dist = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      censorKey = Some("k"), fastPathMaxRows = 0L)
    def rows(e: RClipEngine, q: String, k: Int) =
      e.search(q, k).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    for (q <- Seq("label5 -label6", "label0", "label3 2.0*label7",
        "{\"random_seed\": 3}")) {
      // k > corpus size = the strongest check: EVERY row and tie compared
      assert(rows(fast, q, 600) == rows(dist, q, 600), q)
      assert(rows(fast, q, 12) == rows(dist, q, 12), q)
    }
    // the typed serving API returns the same rows as the DataFrame façade
    // on BOTH regimes (it's what /search_api serves)
    for (q <- Seq("label5 -label6", "label0")) {
      assert(fast.searchRows(q, 12) == rows(fast, q, 12), q)
      assert(dist.searchRows(q, 12) == rows(dist, q, 12), q)
    }
    assert(fast.searchRows("", 12).isEmpty)
    // similarWords: the RAM-word-map ranking equals the distributed one
    for (q <- Seq("label5 -label6", "label2")) {
      val viaMap = fast.similarWordsRows(q, 50)
      val viaDf = fast.similarWords(q, 50).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(viaMap == viaDf, q)
    }
    assert(fast.similarWordsRows("", 50).isEmpty)
    // similarPhrases: the driver word-map pipeline (pool rank, seeded
    // draw, W1 estimate, rounded dot) equals the distributed pipeline
    for (q <- Seq("label5 -label6", "label2")) {
      val viaMap = fast.similarPhrasesRows(q, 50, combosPerLen = 40)
      val viaDf = fast.similarPhrases(q, 50, combosPerLen = 40).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(viaMap == viaDf, q)
    }
    assert(fast.similarPhrasesRows("", 50).isEmpty)
    // structural proof the fast engine answered from the driver matrix
    // (a local relation), not a scan
    val plan = fast.search("label5", 5).queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan)
    assert(!plan.contains("FileScan") && !plan.contains("InMemoryTableScan"), plan)
    // a mutation must invalidate the RAM matrix, not serve stale rows
    val victim = rows(fast, "label5", 1).head._1
    assert(fast.censor(victim, "k"))
    assert(!rows(fast, "label5", 600).exists(_._1 == victim))
    val dist2 = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      fastPathMaxRows = 0L)
    assert(rows(fast, "label5", 600) == rows(dist2, "label5", 600))
    // planted near-tie: ids 1 and 2 score 0.49996 and 0.50004 raw (the
    // higher raw score on the HIGHER id), both 0.5000 after the 4-dp
    // HALF_UP round, so the rounded (score DESC, id ASC) cut keeps id 1 —
    // a selector that cuts on the raw score keeps id 2 and fails here.
    // Query e0 puts the tie at k = 1; e1 ranks ids 5, 6 above it, so the
    // tie straddles the cut at k = 3.
    import spark.implicits._
    val plantedDir =
      java.nio.file.Files.createTempDirectory("graft-engine-tie").toString
    val planted = new SnapshotStore(plantedDir)
    planted.write(Seq((1L, 0.49996f, 0.49996f), (2L, 0.50004f, 0.50004f),
        (3L, 0.49f, 0.49f), (4L, 0.1f, 0.1f), (5L, 0.05f, 0.9f), (6L, 0.05f, 0.7f))
      .map { case (id, x0, x1) =>
        (id, Array.tabulate(64)(i => if (i == 0) x0 else if (i == 1) x1 else 0.05f), 0)
      }.toDF("vec_id", "embedding", "label"))
    val tieFast = new RClipEngine(spark, planted, new DeterministicEmbedder(64))
    val tieDist = new RClipEngine(spark, planted, new DeterministicEmbedder(64),
      fastPathMaxRows = 0L)
    def basis(d: Int) = Array.tabulate(64)(i => if (i == d) 1 else 0)
      .mkString("""{"clip_embedding":[""", ",", "]}")
    for (d <- Seq(0, 1); k <- Seq(1, 3, 6))
      assert(rows(tieFast, basis(d), k) == rows(tieDist, basis(d), k),
        s"planted e$d k=$k")
    assert(rows(tieFast, basis(0), 1) == Seq((1L, 0.5)))
    assert(rows(tieFast, basis(1), 3).map(_._1) == Seq(5L, 6L, 1L))
    // planted ragged block: 13 rows, one of them 63-dim among 64-dim rows,
    // written as one file so it lands in the matrix's first 8-row block
    // (which must then score through vecDot's min-length dot) and the
    // last 5 rows form the short tail
    val raggedDir =
      java.nio.file.Files.createTempDirectory("graft-engine-ragged").toString
    val ragged = new SnapshotStore(raggedDir)
    val rnd = new java.util.Random(13)
    ragged.write((0 until 13).map { r =>
        val dim = if (r == 3) 63 else 64
        val v = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
        if (r == 3) v(0) = 0.99f
        (r.toLong + 1, VectorOps.normalize(v), r % 3)
      }.toDF("vec_id", "embedding", "label").coalesce(1))
    val raggedFast = new RClipEngine(spark, ragged, new DeterministicEmbedder(64))
    val raggedDist = new RClipEngine(spark, ragged, new DeterministicEmbedder(64),
      fastPathMaxRows = 0L)
    val dense = VectorOps.normalize(Array.fill(64)(rnd.nextFloat() * 2 - 1))
      .mkString("""{"clip_embedding":[""", ",", "]}")
    for (q <- Seq(basis(0), basis(63), dense); k <- Seq(1, 5, 13))
      assert(rows(raggedFast, q, k) == rows(raggedDist, q, k), s"ragged $q k=$k")
    raggedFast.fastState match {
      case RClipEngine.FastBuilt(idx) =>
        assert(idx.vecs.take(VectorOps.Block).exists(_.length == 63))
      case other => fail(s"ragged engine served without its matrix: $other")
    }
  }

  test("byId: answered from the built RAM matrix with no Spark job, equal " +
    "to the Spark lookup for present and absent ids; never builds it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-engine").toString
    val store = new SnapshotStore(dir)
    store.initFrom(spark, s"$sf/embeddings.parquet")
    val fast = new RClipEngine(spark, store, new DeterministicEmbedder(64))
    val dist = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      fastPathMaxRows = 0L)
    val ids = Seq(0L, 1L, 2L, 250L, 499L, 500L, -1L, Long.MaxValue)
    val expected = ids.map(id => dist.byId(id).map(_.toSeq))
    assert(expected.count(_.isDefined) >= 4)
    assert(ids.map(id => fast.byId(id).map(_.toSeq)) == expected)
    assert(fast.fastState == RClipEngine.FastUnbuilt)
    fast.searchRows("label0", 1)
    assert(fast.fastState.isInstanceOf[RClipEngine.FastBuilt])
    // count the jobs this thread submits, up to a sentinel job: listener
    // events arrive in order, so once the sentinel is seen every earlier
    // job has been counted
    val group = s"byid-${System.nanoTime()}"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => seen.add(Option(p.getProperty("spark.job.description")).getOrElse("")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "byId")
      val got = ids.map(id => fast.byId(id).map(_.toSeq))
      spark.sparkContext.setJobDescription("sentinel")
      spark.range(1).count()
      assert(got == expected)
      val jobs = Seq.newBuilder[String]
      var d = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (d != null && d != "sentinel") {
        jobs += d; d = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(d == "sentinel", "the sentinel job never reached the listener")
      assert(jobs.result().isEmpty, s"byId ran Spark jobs on the built matrix: ${jobs.result()}")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    // a returned vector is a copy: mutating it leaves the matrix intact
    fast.byId(1L).get(0) = 42f
    assert(fast.byId(1L).map(_.toSeq) == expected(1))
  }

  test("Q11: empty query → empty result") {
    assert(engine.search("", 12).count() == 0)
    assert(engine.search("!!!", 12).count() == 0)
  }

  test("Q5/J2: {\"image_id\":N} resolves to the stored embedding") {
    val direct = engine.byId(1L).get
    val resolved = engine.resolveEmbedding("""{"image_id":1}""").get
    assert(VectorOps.dot(direct, resolved) > 0.9999)
  }

  test("image-difference query: {id} -{id} (README.md:23 shape)") {
    val df = engine.search("""{"image_id":1} -{"image_id":2}""", 5)
    assert(df.count() == 5)
  }

  test("Q6: clip_embedding literal vector") {
    val lit64 = Array.fill(64)(0.125f)
    val json = lit64.mkString("""{"clip_embedding":[""", ",", "]}")
    val v = engine.resolveEmbedding(json).get
    // combine() renormalizes, so direction matches the literal
    assert(VectorOps.dot(VectorOps.normalize(lit64), v) > 0.9999)
  }

  test("Q7/Q8: random_img and random_seed are deterministic per engine seed") {
    val a = engine.resolveEmbedding("""{"random_seed":7}""").get
    val b = engine.resolveEmbedding("""{"random_seed":7}""").get
    val c = engine.resolveEmbedding("""{"random_seed":8}""").get
    assert(a.sameElements(b))
    assert(!a.sameElements(c))
    assert(math.abs(VectorOps.l2norm(a) - 1.0) < 1e-5)
    assert(engine.resolveEmbedding("""{"random_img":1}""").isDefined)
  }

  test("Q4: URL terms resolve via fetcher + image embedder") {
    val v = engine.resolveEmbedding("https://example.com/cat.jpg").get
    assert(math.abs(VectorOps.l2norm(v) - 1.0) < 1e-5)
  }

  test("Q10: combined query vector is unit; weights change direction") {
    val v1 = engine.resolveEmbedding("label1 -label2").get
    val v2 = engine.resolveEmbedding("label1 -2(label2)").get
    assert(math.abs(VectorOps.l2norm(v1) - 1.0) < 1e-5)
    assert(VectorOps.dot(v1, v2) < 0.9999) // different mix
  }

  test("Q12: term LRU memoizes") {
    engine.resolveEmbedding("memo test term")
    val (n1, _) = engine.resolver.cacheStats
    engine.resolveEmbedding("memo test term")
    val (n2, _) = engine.resolver.cacheStats
    assert(n2 == n1) // second resolve hit the cache
  }

  test("Q12: a miss resolves outside the LRU lock — a cached term answers " +
    "while another thread's image_id lookup is blocked") {
    import java.util.concurrent.{CompletableFuture, CountDownLatch, TimeUnit}
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val stub = new StoredVectors {
      def byId(id: Long): Option[Array[Float]] = {
        entered.countDown()
        release.await()
        Some(Array.fill(8)(0.5f))
      }
      def random(): Option[Array[Float]] = None
    }
    val r = new TermResolver(new DeterministicEmbedder(8), stub)
    val cached = r.resolve("zebra").get
    val slow = CompletableFuture.supplyAsync(() => r.resolve("""{"image_id":1}"""))
    try {
      assert(entered.await(10, TimeUnit.SECONDS))
      val again = CompletableFuture.supplyAsync(() => r.resolve("zebra"))
        .get(10, TimeUnit.SECONDS)
      assert(again.get.sameElements(cached))
    } finally release.countDown()
    assert(slow.get(10, TimeUnit.SECONDS).isDefined)
    assert(r.cacheStats._1 == 2) // the slow miss still lands in the LRU
  }

  test("K2: similarWords returns scored words desc") {
    val rows = engine.similarWords("label3", 5).collect()
    assert(rows.nonEmpty && rows.head.getString(0) == "label3")
    val scores = rows.map(_.getDouble(1))
    assert(scores.sameElements(scores.sortBy(-(_: Double))))
  }

  test("W1-W3: similarPhrases generates deterministic scored candidates") {
    val a = engine.similarPhrases("label3", num = 10, combosPerLen = 50).collect()
    val b = engine.similarPhrases("label3", num = 10, combosPerLen = 50).collect()
    assert(a.nonEmpty)
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
    assert(a.forall(_.getString(0).split(" ").length >= 2))
  }

  test("W2: exact phrase scoring agrees with the estimate when words are " +
    "single tokens (both variants callable, same candidates)") {
    import spark.implicits._
    // word table where vector == embedText(word): for single-token words
    // the sum-of-word-vectors estimate and the re-encoded phrase are the
    // same unit vector, so the two scoring paths must agree (the
    // reference's accuracy/speed trade, `rclip_server.py:320-328`)
    val emb = new DeterministicEmbedder(64)
    val wordsDf = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
      .map(w => (w, emb.embedText(w))).toDF("word", "vector")
    val dir = java.nio.file.Files.createTempDirectory("graft-w2").toString
    val store = new SnapshotStore(dir)
    store.initFrom(spark, s"$sf/embeddings.parquet")
    val e = new RClipEngine(spark, store, emb, wordsSource = Some(wordsDf))
    val est = e.similarPhrases("alpha", num = 20, combosPerLen = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exa = e.similarPhrases("alpha", num = 20, combosPerLen = 10, exact = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(est.nonEmpty)
    val shared = est.keySet.intersect(exa.keySet)
    assert(shared.nonEmpty)
    shared.foreach { p =>
      assert(math.abs(est(p) - exa(p)) <= 2e-4,
        s"estimate ${est(p)} vs exact ${exa(p)} for '$p'")
    }
  }

  test("wordMapMax over-cap: per-query lookup path returns bit-identical " +
    "embeddings to the driver-map path (VERDICT r03 #3 fallback)") {
    import spark.implicits._
    val emb = new DeterministicEmbedder(64)
    val wordsDf = Seq("alpha", "beta", "gamma", "delta")
      .map(w => (w, emb.embedText(w))).toDF("word", "vector")
    val dir = java.nio.file.Files.createTempDirectory("graft-wcap").toString
    val store = new SnapshotStore(dir)
    store.initFrom(spark, s"$sf/embeddings.parquet")
    val mapped = new RClipEngine(spark, store, emb, wordsSource = Some(wordsDf))
    val capped = new RClipEngine(spark, store, emb, wordsSource = Some(wordsDf),
      wordMapMax = 0L) // vocabulary > 0 rows → forced onto the lookup path
    // known words (duplicate token included — multiplicity must survive),
    // mixed known/unknown, and fully-unknown (base-embedder fallback)
    Seq("alpha beta", "beta beta gamma", "alpha nosuchword", "nosuchword")
      .foreach { q =>
        assert(capped.textEmbedding(q).sameElements(mapped.textEmbedding(q)),
          s"lookup-path embedding diverged for '$q'")
      }
    // the search surface above the embedder is unaffected
    val a = mapped.search("alpha", num = 5).collect().map(_.toString)
    val b = capped.search("alpha", num = 5).collect().map(_.toString)
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("S1 pathLike: parameterized filepath LIKE restricts the scan") {
    // ingested-style store → filepath column exists (rclip_server.py:206-212)
    val dir = java.nio.file.Files.createTempDirectory("graft-pathlike").toString
    val store = new SnapshotStore(dir)
    val ing = new graft.ingest.Ingest(spark, store,
      new DeterministicEmbedder(64), FakeImageFetcher)
    val f = java.nio.file.Files.createTempFile("pl", ".ndjson")
    java.nio.file.Files.writeString(f,
      """{"descr_url": "https://w/A", "url": "https://cdn/commons/a.jpg", "size": 1}
        |{"descr_url": "https://w/B", "url": "https://cdn/other/b.jpg", "size": 2}""".stripMargin)
    ing.run(f.toString)
    val scoped = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      idCol = "id", vecCol = "vector", pathLike = Some("%/commons/%"))
    assert(scoped.count() == 1)
    val all = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      idCol = "id", vecCol = "vector")
    assert(all.count() == 2)
  }

  test("A1/A2: stats are element-wise corpus min/max") {
    val (lo, hi) = engine.stats()
    assert(lo.length == 64 && hi.length == 64)
    assert(lo.zip(hi).forall { case (l, h) => l <= h })
  }

  test("visualize: per-dim cells normalized to [0,1] with monotone colors") {
    val cells = engine.visualize("label1")
    assert(cells.length == 64)
    assert(cells.forall(c => c.norm01 >= 0.0 && c.norm01 <= 1.0))
    assert(cells.forall(_.color.matches("#[0-9a-f]{6}")))
    assert(Colormap.hex(0.0) != Colormap.hex(1.0))
  }

  test("thumbnailUrl rewrites the 600px CDN variant; info returns id+vector") {
    // build a store with thumb URLs (ingested-style schema)
    val dir = java.nio.file.Files.createTempDirectory("graft-thumb").toString
    val store = new SnapshotStore(dir)
    val ing = new graft.ingest.Ingest(spark, store,
      new DeterministicEmbedder(64), FakeImageFetcher)
    val f = java.nio.file.Files.createTempFile("l", ".ndjson")
    java.nio.file.Files.writeString(f,
      """{"descr_url": "https://w/D1", "url": "https://up/img_1.jpg", "size": 5}""")
    ing.run(f.toString)
    val e = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      idCol = "id", vecCol = "vector")
    assert(e.thumbnailUrl(1L, 128).contains("https://up/128px-img_1.jpg"))
    assert(e.thumbnailUrl(999L).isEmpty)
    val (id, vec) = e.info(1L).get
    assert(id == 1L && vec.length == 64)
    assert(e.info(999L).isEmpty) // the reference's /info would throw here
    // embeddings-table store has no thumb_url column → None, not an error
    assert(engine.thumbnailUrl(1L).isEmpty)
    assert(engine.copyrightMessage.nonEmpty)
  }

  test("S1 BLOB variant: a binary vector column decodes at scan " +
    "(reference storage format end-to-end)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-blob").toString
    val store = new SnapshotStore(dir)
    // write a reference-format snapshot: vectors as LE-float32 blobs
    store.write(spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("embedding", VectorOps.encodeVec(col("embedding"))))
    val e = new RClipEngine(spark, store, new DeterministicEmbedder(64))
    assert(e.count() == engine.count())
    // decoded vectors are identical to the original floats
    val a = e.byId(1L).get
    val b = engine.byId(1L).get
    assert(a.sameElements(b))
    // and the flagship search works unchanged on top of the blob store
    assert(e.search("label5 -label6", 5).count() == 5)
  }

  test("/thm contract: placeholder SVG at id -1, CDN redirect, local resize") {
    // id -1 → placeholder SVG (rclip_server.py:451-458)
    engine.thumbnail(-1L, 200) match {
      case Some(SvgPlaceholder(svg)) =>
        assert(svg.contains("width=\"200\"") && svg.contains("height=\"150\""))
        assert(svg.contains("<circle"))
      case other => fail(s"expected placeholder, got $other")
    }
    // stored CDN thumb → size-rewritten redirect (via the ingested store)
    val dir = java.nio.file.Files.createTempDirectory("graft-thm").toString
    val store = new SnapshotStore(dir)
    val ing = new graft.ingest.Ingest(spark, store,
      new DeterministicEmbedder(64), FakeImageFetcher)
    val f = java.nio.file.Files.createTempFile("t", ".ndjson")
    java.nio.file.Files.writeString(f,
      """{"descr_url": "https://w/D1", "url": "https://up/img_1.jpg", "size": 5}""")
    ing.run(f.toString)
    val e = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      idCol = "id", vecCol = "vector")
    assert(e.thumbnail(1L, 128).contains(RedirectUrl("https://up/128px-img_1.jpg")))
    // no thumb_url column but a filepath → local fetch + resize through
    // the decoder port (rclip_server.py:464-479)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-thm2").toString
    val store2 = new SnapshotStore(dir2)
    store2.write(spark.read.parquet(s"$sf/embeddings.parquet").limit(3)
      .withColumn("filepath", concat(lit("/imgs/img_"), col("vec_id"))))
    val e2 = new RClipEngine(spark, store2, new DeterministicEmbedder(64))
    e2.thumbnail(1L, 64) match {
      case Some(ResizedBytes(bytes)) => assert(bytes.nonEmpty)
      case other => fail(s"expected resized bytes, got $other")
    }
    // unknown id → None
    assert(e2.thumbnail(999L).isEmpty)
  }

  test("M1: censor soft-deletes behind the key and refreshes (S8)") {
    val e = freshEngine()
    val n0 = e.count()
    assert(!e.censor(3L, "wrong-key"))
    assert(e.count() == n0)
    assert(e.censor(3L, "k"))
    assert(e.count() == n0 - 1)
    assert(e.byId(3L).isEmpty) // censored row invisible to lookups
  }

  test("M2/A6: dedupByEmbedding keeps min-id copy of duplicate vectors") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup").toString
    val store = new SnapshotStore(dir)
    val base = spark.read.parquet(s"$sf/embeddings.parquet").limit(10)
    // duplicate every vector under shifted ids
    store.write(base.unionByName(base.withColumn("vec_id", col("vec_id") + 1000)))
    val e = new RClipEngine(spark, store, new DeterministicEmbedder(64))
    assert(e.count() == 20)
    val removed = e.dedupByEmbedding()
    assert(removed == 10)
    assert(e.count() == 10)
    // survivors are the original (smaller) ids
    assert(e.images.agg(max(col("vec_id"))).head().getLong(0) < 1000)
  }

  test("S7: upsert replaces same-key rows and keeps others (I6)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val store = new SnapshotStore(dir)
    val base = spark.read.parquet(s"$sf/embeddings.parquet").limit(10)
    store.write(base)
    val e = new RClipEngine(spark, store, new DeterministicEmbedder(64))
    val incoming = base.limit(3).withColumn("label", lit(999))
    e.upsert(incoming, "vec_id")
    assert(e.count() == 10) // 3 replaced, 7 kept
    assert(e.images.filter(col("label") === 999).count() == 3)
  }

  test("M3: reload sees snapshots written behind the engine's back") {
    val dir = java.nio.file.Files.createTempDirectory("graft-reload").toString
    val store = new SnapshotStore(dir)
    store.write(spark.read.parquet(s"$sf/embeddings.parquet").limit(5))
    val e = new RClipEngine(spark, store, new DeterministicEmbedder(64))
    assert(e.count() == 5)
    store.write(spark.read.parquet(s"$sf/embeddings.parquet").limit(8))
    e.reload()
    assert(e.count() == 8)
  }

  test("SnapshotStore: prune keeps the newest versions and drops torn writes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toString
    val store = new SnapshotStore(dir)
    (1 to 4).foreach(i => store.write(spark.range(i).toDF()))  // v1..v4
    // a REAL torn write below the cutoff: valid name, no _SUCCESS
    val torn = java.nio.file.Paths.get(dir, "v00000")
    java.nio.file.Files.createDirectory(torn)
    java.nio.file.Files.writeString(torn.resolve("part-0.parquet"), "junk")
    val removed = store.prune(keep = 2)
    assert(removed == 3) // torn v00000 + committed v00001, v00002
    assert(!java.nio.file.Files.exists(torn))
    assert(store.latestVersion.contains(4))
    assert(store.read(spark).count() == 4)
    // the two survivors still committed and readable
    assert(new SnapshotStore(dir).latestVersion.contains(4))
    intercept[IllegalArgumentException](store.prune(0))
  }

  test("SnapshotStore: a crashed write above the latest commit cannot " +
    "wedge the next writer") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wedge").toString
    val store = new SnapshotStore(dir)
    store.write(spark.range(3).toDF()) // v00001 committed
    // crashed writer left v00002 without _SUCCESS
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(dir, "v00002"))
    val next = store.write(spark.range(5).toDF()) // must number PAST it
    assert(next.endsWith("v00003"))
    assert(store.latestVersion.contains(3))
    assert(store.read(spark).count() == 5)
  }

  test("SnapshotStore: uncommitted versions are invisible") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val store = new SnapshotStore(dir)
    store.write(spark.range(3).toDF())
    // fake a torn write: directory without _SUCCESS
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(dir, "v00099"))
    assert(store.latestVersion.contains(1))
    assert(store.read(spark).count() == 3)
  }

  /** Spark jobs that `body` submits on this thread, counted up to a
    * sentinel job: listener events arrive in order, so once the sentinel
    * is seen every earlier job has been counted. */
  private def sparkJobs(body: => Unit): Seq[String] = {
    val group = s"jobs-${System.nanoTime()}"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => seen.add(Option(p.getProperty("spark.job.description")).getOrElse("")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "counted")
      body
      spark.sparkContext.setJobDescription("sentinel")
      spark.range(1).count()
      val jobs = Seq.newBuilder[String]
      var d = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (d != null && d != "sentinel") {
        jobs += d; d = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(d == "sentinel", "the sentinel job never reached the listener")
      jobs.result()
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private def fileNames(dir: String): Seq[String] = {
    val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try st.toArray.map(_.toString.split('/').last).sorted.toSeq finally st.close()
  }

  test("censor commits a deletion set: over a built RAM matrix 3 censors run " +
    "no Spark job and leave the matrix built, and fast ≡ distributed holds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-censor-cheap").toString
    val store = new SnapshotStore(dir)
    store.initFrom(spark, s"$sf/embeddings.parquet")
    val fast = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      censorKey = Some("k"))
    val dist = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      fastPathMaxRows = 0L)
    def rows(e: RClipEngine, q: String, k: Int) =
      e.search(q, k).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // both engines resolve the queries, and so derive their label-centroid
    // word tables, before the censors
    val queries = Seq("label5 -label6", "label0", "label3 2.0*label7",
      "{\"random_seed\": 3}")
    for (q <- queries) assert(rows(fast, q, 600) == rows(dist, q, 600), q)
    val n0 = fast.count()
    val victims = fast.searchRows("label5", 3).map(_._1)
    assert(victims.length == 3)
    assert(fast.fastState.isInstanceOf[RClipEngine.FastBuilt])
    val jobs = sparkJobs(victims.foreach(id => assert(fast.censor(id, "k"))))
    assert(jobs.isEmpty, s"censor ran Spark jobs: $jobs")
    fast.fastState match {
      case RClipEngine.FastBuilt(idx) =>
        assert(idx.ids.length == n0 - 3)
        assert(!idx.ids.exists(victims.contains))
      case other => fail(s"censor dropped the RAM matrix: $other")
    }
    // three deletes-only versions over the one base, metadata files only
    val head = store.head.get
    assert(head.dir.endsWith("v00004") && head.base.endsWith("v00001"))
    assert(head.deletedIds == victims.toSet)
    assert(fileNames(head.dir) == Seq("_BASE", "_DELETES", "_SUCCESS"))
    dist.reload()
    for (q <- queries) assert(rows(fast, q, 600) == rows(dist, q, 600), q)
    assert(rows(fast, "label5", 600).length == n0 - 3)
    assert(!rows(fast, "label5", 600).exists(r => victims.contains(r._1)))
    assert(fast.count() == n0 - 3 && victims.forall(fast.byId(_).isEmpty))
  }

  test("with the RAM matrix and word map built, a censor and the searches " +
    "after it run no Spark job, and the censor keeps the word table") {
    val e = freshEngine()
    val victim = e.searchRows("label5", 1).head._1
    val words = e.similarWordsRows("label5", 50)
    assert(e.fastState.isInstanceOf[RClipEngine.FastBuilt])
    var rows = Seq.empty[(Long, Double)]
    var after = Seq.empty[(String, Double)]
    val jobs = sparkJobs {
      assert(e.censor(victim, "k"))
      rows = e.searchRows("label5", 1000)
      after = e.similarWordsRows("label5", 50)
    }
    assert(jobs.isEmpty, s"the post-censor path ran Spark jobs: $jobs")
    assert(rows.length == e.count() && !rows.exists(_._1 == victim))
    assert(after == words)
  }

  test("a long-running engine and a fresh one over the same store agree " +
    "after each of censor, dedup, upsert and reload") {
    val dir = java.nio.file.Files.createTempDirectory("graft-epoch").toString
    val store = new SnapshotStore(dir)
    store.initFrom(spark, s"$sf/embeddings.parquet")
    def mk() = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      censorKey = Some("k"))
    val long = mk()
    import spark.implicits._
    val victims = long.images.filter(col("label") === 5)
      .select(col("vec_id")).as[Long].collect().sorted.take(3).toSeq
    val upserted = long.searchRows("label0", 1).head._1
    assert(victims.length == 3 && !victims.contains(upserted))
    val panel = Seq(s"""{"image_id": ${victims.head}}""", s"""{"image_id": $upserted}""",
      "label5 -label6", "label0", """{"random_seed": 3}""")
    def answers(e: RClipEngine) = panel.map(q =>
      (e.resolveEmbedding(q).map(_.toSeq), e.searchRows(q, 600), e.similarWordsRows(q, 50)))
    answers(long) // fills the resolver LRU and derives the word table
    def agree(step: String): Unit = {
      val fresh = mk()
      for (((a, b), q) <- answers(long).zip(answers(fresh)).zip(panel)) {
        assert(a._1 == b._1, s"after $step: resolveEmbedding($q)")
        assert(a._2 == b._2, s"after $step: searchRows($q, 600)")
        assert(a._3 == b._3, s"after $step: similarWordsRows($q, 50)")
      }
    }
    victims.foreach(id => assert(long.censor(id, "k")))
    agree("censor")
    long.dedupByEmbedding()
    agree("dedup")
    val moved = VectorOps.normalize(Array.tabulate(64)(i => if (i % 2 == 0) 1f else -0.5f))
    long.upsert(store.read(spark).filter(col("vec_id") === upserted)
      .withColumn("embedding", typedLit(moved)), "vec_id")
    assert(long.byId(upserted).map(_.toSeq).contains(moved.toSeq))
    agree("upsert")
    store.write(store.read(spark).filter(col("vec_id") % 7 =!= 0))
    long.reload()
    agree("reload")
  }

  test("SnapshotStore: prune keeps every base a kept deletes-only version " +
    "reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prune-base").toString
    val store = new SnapshotStore(dir)
    store.write(spark.read.parquet(s"$sf/embeddings.parquet").limit(20)) // v1
    val e = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      censorKey = Some("k"))
    import spark.implicits._
    val ids = e.images.select(col("vec_id")).as[Long].collect().sorted
    ids.take(4).foreach(id => assert(e.censor(id, "k"))) // v2..v5
    assert(store.prune(keep = 2) == 2)
    assert(fileNames(dir) == Seq("v00001", "v00004", "v00005"))
    val live = store.read(spark)
      .filter(col("deleted").isNull || col("deleted") === false)
      .select(col("vec_id")).as[Long].collect().sorted.toSeq
    assert(live == ids.drop(4).toSeq)
    assert(new RClipEngine(spark, store, new DeterministicEmbedder(64)).count() == 16)
  }

  test("SnapshotStore: each step of a deletes-only commit is crash-safe, and " +
    "a committed but torn deletion set fails loudly, naming the path") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    def tiny(): (SnapshotStore, String) = {
      val store = new SnapshotStore(
        Files.createTempDirectory("graft-deletes-torn").toString)
      store.write(spark.range(6).toDF()) // v1: ids 0..5
      (store, store.delete("id", Seq(1L, 2L)).dir) // v2
    }
    def deleted(s: SnapshotStore) = s.read(spark).filter(col("deleted") === true)
      .select(col("id")).as[Long].collect().toSet
    val (store, _) = tiny()
    assert(deleted(store) == Set(1L, 2L))
    // v3 crashed before each of its steps completed: invisible, v2 served
    val v3 = store.delete("id", Seq(3L)).dir
    assert(deleted(store) == Set(1L, 2L, 3L))
    for (step <- Seq("_SUCCESS", "_DELETES", "_BASE")) {
      Files.delete(Paths.get(v3, step))
      assert(store.latestVersion.contains(2), step)
      assert(deleted(store) == Set(1L, 2L), step)
    }
    // both kinds of commit number past the torn deletes-only dir
    assert(store.delete("id", Seq(4L)).dir.endsWith("v00004"))
    assert(deleted(store) == Set(1L, 2L, 4L))
    assert(store.write(spark.range(3).toDF()).endsWith("v00005"))
    // committed (has _SUCCESS) but torn: read and a fresh engine throw
    def loud(s: SnapshotStore, path: String): Unit = {
      val viaRead = intercept[IllegalStateException](s.read(spark))
      assert(viaRead.getMessage.contains(path), viaRead.getMessage)
      val viaEngine = intercept[IllegalStateException](
        new RClipEngine(spark, s, new DeterministicEmbedder(64)))
      assert(viaEngine.getMessage.contains(path), viaEngine.getMessage)
    }
    val (missing, m2) = tiny()
    Files.delete(Paths.get(m2, "_DELETES"))
    loud(missing, Paths.get(m2, "_DELETES").toString)
    val (short, s2) = tiny()
    val dels = Paths.get(s2, "_DELETES")
    val bytes = Files.readAllBytes(dels)
    Files.write(dels, bytes.take(bytes.length - 8)) // one id short of its count
    loud(short, dels.toString)
    val (noBase, b2) = tiny()
    Files.writeString(Paths.get(b2, "_BASE"), "v00009")
    loud(noBase, Paths.get(b2, "_BASE").toString)
  }

  test("pending deletes survive every full write, and a censor past " +
    "MaxDeletes compacts into a data version") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-deletes-fold").toString
    val store = new SnapshotStore(dir)
    val base = spark.read.parquet(s"$sf/embeddings.parquet").limit(20)
    store.write(base)
    val e = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      censorKey = Some("k"))
    val ids = e.images.select(col("vec_id")).as[Long].collect().sorted
    def markedDeleted = store.read(spark).filter(col("deleted") === true)
      .select(col("vec_id")).as[Long].collect().toSet
    def served(eng: RClipEngine) =
      eng.images.select(col("vec_id")).as[Long].collect().toSet
    def fresh() = new RClipEngine(spark, store, new DeterministicEmbedder(64))
    val (x, y) = (ids(0), ids(1))
    assert(e.censor(x, "k"))
    assert(markedDeleted == Set(x))
    assert(!served(fresh()).contains(x))
    // upsert of other rows folds the pending set into its full write
    e.upsert(base.filter(col("vec_id") === ids(2)).withColumn("label", lit(999)), "vec_id")
    assert(store.head.get.deletes.isEmpty)
    assert(markedDeleted == Set(x) && !served(e).contains(x) && e.count() == 19)
    // so does dedup
    assert(e.censor(y, "k"))
    e.dedupByEmbedding()
    assert(store.head.get.deletes.isEmpty)
    assert(Set(x, y).subsetOf(markedDeleted))
    assert(served(e).intersect(Set(x, y)).isEmpty && served(fresh()).intersect(Set(x, y)).isEmpty)
    val n = e.count()
    // a full set (3 live ids + absent ones), committed in one store call...
    val full = ids.slice(3, 6).toSeq ++
      (1L to SnapshotStore.MaxDeletes - 3L).map(_ + 1000000L)
    assert(store.delete("vec_id", full).deletedIds.size == SnapshotStore.MaxDeletes)
    // ...so the next censor compacts: a data version, live count right
    assert(e.censor(ids(10), "k"))
    val head = store.head.get
    assert(head.deletes.isEmpty && head.base == head.dir)
    assert(!Files.exists(Paths.get(head.dir, "_BASE")))
    assert(store.read(spark)
      .filter(col("deleted").isNull || col("deleted") === false).count() == n - 4)
    assert(e.count() == n - 4 && fresh().count() == n - 4)
  }

  test("above-cap ANN serving (VERDICT r07 next-#2): the opt-in IVF-PQ " +
    "regime holds a recall@12 floor vs brute, returns EXACT brute-path " +
    "scores for every id it serves, probes the persisted artifact with " +
    "partition pruning, keeps searchExact as the exact fallback, and is " +
    "invalidated by mutations") {
    val dir = java.nio.file.Files.createTempDirectory("graft-engine-ann").toString
    val store = new SnapshotStore(dir)
    store.initFrom(spark, s"$sf/embeddings.parquet")
    val artDir = java.nio.file.Files
      .createTempDirectory("graft-engine-ann-idx").toString + "/idx"
    // params sized for the 500-row spec corpus (measured over a
    // (cells, nprobe, m, coarseK) grid: this point gives mean recall
    // 0.925 / min 0.667 — the synthetic embeddings are near-random in
    // 64-dim, the hard case for IVF locality; a deployment retunes per
    // corpus)
    val params = RClipEngine.AnnServing(
      cells = 8, nprobe = 6, m = 16, coarseK = 192,
      artifactPath = Some(artDir))
    // fastPathMaxRows = 0 forces the above-cap regime on the test corpus
    def mk(ann: Option[RClipEngine.AnnServing]) =
      new RClipEngine(spark, store, new DeterministicEmbedder(64),
        censorKey = Some("k"), fastPathMaxRows = 0L, annServing = ann)
    val ann = mk(Some(params)) // RAM-coarse (default driverCodesMaxRows)
    val annDist = mk(Some(params.copy(driverCodesMaxRows = 0L)))
    val brute = mk(None)
    // regime policy (VERDICT r08 next-#3): with no trusted artifact and no
    // warm(), a search must NOT trigger the corpus build — it serves brute
    // and leaves the state Unbuilt
    val preWarm = ann.searchRows("label0", 12)
    assert(ann.annState == RClipEngine.AnnUnbuilt,
      "an un-warmed search must not build the index")
    assert(preWarm == brute.searchRows("label0", 12),
      "pre-warm searches serve the exact brute path")
    ann.warm()
    assert(ann.annState.isInstanceOf[RClipEngine.AnnBuilt])
    annDist.warm()
    // recall@12 floor over a query panel — the contract a deployment
    // retunes (cells/nprobe/coarseK) against, pinned here at the spec
    // corpus + params so a routing or pruning regression is loud
    val queries = (0 to 9).map(i => s"label$i")
    val recalls = queries.map { q =>
      val truth = brute.searchRows(q, 12).map(_._1).toSet
      val got = ann.searchRows(q, 12).map(_._1).toSet
      (got & truth).size.toDouble / truth.size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.9,
      s"mean recall@12 $meanRecall below floor; per-query: $recalls")
    assert(recalls.forall(_ >= 0.6),
      s"a query fell below the per-query floor: $recalls")
    // every served id carries its exact brute-path score (the rerank
    // goes through the same scoreTopK expression — approximation lives
    // only in the candidate cut)
    val truthScores = brute.searchRows("label5", 600).toMap
    ann.searchRows("label5", 12).foreach { case (id, s) =>
      assert(truthScores(id) == s, s"id $id: ann score $s != brute ${truthScores(id)}")
    }
    // DataFrame façade and typed rows agree in the ANN regime too
    assert(ann.searchRows("label5", 12) ==
      ann.search("label5", 12).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // the exact fallback ignores the ANN regime entirely
    assert(ann.searchExact("label5", 12).collect().toSeq ==
      brute.search("label5", 12).collect().toSeq)
    // the two coarse modes are BIT-IDENTICAL end to end: the RAM path's
    // driver ADC (PqIndex.adcPacked) is the expression kernel's twin,
    // so the candidate cut — and therefore every served row — matches
    // the distributed ADC scan exactly
    for (q <- queries)
      assert(ann.searchRows(q, 12) == annDist.searchRows(q, 12), q)
    // structural proof of each regime's coarse stage: RAM-coarse plans
    // only the isin-restricted rerank (no artifact scan, no broadcast);
    // distributed-coarse reads the SAVED artifact with the cell
    // predicate reaching the partition pruner
    val ramPlan = ann.search("label5", 12).queryExecution.executedPlan.toString
    assert(ramPlan.contains("INSET") || ramPlan.contains("vec_id#"),
      ramPlan.take(1200))
    assert(!ramPlan.contains("idx/codes"),
      "RAM-coarse must not scan the artifact per request")
    val plan = annDist.search("label5", 12)
      .queryExecution.executedPlan.toString
    assert(plan.contains("idx/codes"), plan.take(2000))
    assert(plan.contains("PartitionFilters: [") &&
      !plan.replaceAll("(?s).*PartitionFilters: \\[", "").startsWith("]"),
      "cell IN (...) must prune partitions of the loaded artifact")
    // a mutation invalidates the index — the censored row disappears
    // immediately (brute serves until the next warm: the saved artifact's
    // marker no longer matches the new store version), and stays absent
    // after the index is rebuilt by warm()
    val victim = ann.searchRows("label5", 1).head._1
    assert(ann.censor(victim, "k"))
    assert(ann.annState == RClipEngine.AnnUnbuilt,
      "censor must invalidate the serving index")
    assert(!ann.searchRows("label5", 64).exists(_._1 == victim))
    ann.warm()
    assert(ann.annState.isInstanceOf[RClipEngine.AnnBuilt])
    assert(!ann.searchRows("label5", 64).exists(_._1 == victim))
    // below the cap the ANN params are inert: the RAM fast path serves
    val below = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      annServing = Some(params))
    val belowPlan = below.search("label5", 5).queryExecution.executedPlan.toString
    assert(belowPlan.contains("LocalTableScan") && !belowPlan.contains("FileScan"),
      belowPlan.take(500))
  }

  test("warm()/CAS (VERDICT r08 next-#3): an in-flight serving-index build " +
    "never blocks censor or search, and a build raced by a mutation never " +
    "installs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-engine-warm").toString
    val store = new SnapshotStore(dir)
    // enlarge the corpus (64×) so the build is long enough to observe
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    store.write((0 until 64).map(i =>
      base.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _))
    val eng = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      censorKey = Some("k"), fastPathMaxRows = 0L,
      annServing = Some(RClipEngine.AnnServing(
        cells = 16, nprobe = 4, m = 16, coarseK = 64, ivfIters = 25)))
    val builder = new Thread(() => eng.warm())
    builder.start()
    var victim = -1L
    try {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!eng.annState.isInstanceOf[RClipEngine.AnnBuilding] &&
        System.nanoTime() < deadline) Thread.sleep(1)
      assert(eng.annState.isInstanceOf[RClipEngine.AnnBuilding],
        s"never observed the in-flight build; state=${eng.annState}")
      // mid-build: a search returns via the brute fallback instead of
      // waiting on the builder...
      victim = eng.searchRows("label3", 1).head._1
      // ...and a censor proceeds concurrently, dooming the in-flight build
      assert(eng.censor(victim, "k"))
    } finally builder.join(180000)
    assert(!builder.isAlive, "warm() never returned")
    // the raced build must NOT have installed a pre-censor index
    assert(eng.annState == RClipEngine.AnnUnbuilt,
      s"stale build installed: ${eng.annState}")
    eng.warm()
    assert(eng.annState.isInstanceOf[RClipEngine.AnnBuilt])
    assert(!eng.searchRows("label3", 500).exists(_._1 == victim),
      "the censored row must be absent from the rebuilt index")
  }

  test("artifact trust (VERDICT r08 next-#3 policy): a fresh engine LOADS a " +
    "saved serving artifact on first search while the store version matches, " +
    "and a mutation de-trusts it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-engine-trust").toString
    val store = new SnapshotStore(dir)
    store.initFrom(spark, s"$sf/embeddings.parquet")
    val art = java.nio.file.Files
      .createTempDirectory("graft-engine-trust-idx").toString + "/idx"
    val params = RClipEngine.AnnServing(
      cells = 8, nprobe = 6, m = 16, coarseK = 192, artifactPath = Some(art))
    def mk() = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      censorKey = Some("k"), fastPathMaxRows = 0L, annServing = Some(params))
    val eng1 = mk()
    eng1.warm() // builds, saves the artifact + marker
    assert(eng1.annState.isInstanceOf[RClipEngine.AnnBuilt])
    // a fresh engine over the same (unchanged) store trusts the artifact:
    // first search loads it — no build, no warm() needed — and serves the
    // same rows
    val eng2 = mk()
    val got = eng2.searchRows("label2", 12)
    assert(eng2.annState.isInstanceOf[RClipEngine.AnnBuilt],
      "trusted artifact must load on first search")
    assert(got == eng1.searchRows("label2", 12))
    // a mutation commits a new store version: the artifact marker stops
    // matching, so yet another fresh engine serves brute instead of the
    // stale (pre-censor) index
    val victim = got.head._1
    assert(eng2.censor(victim, "k"))
    val eng3 = mk()
    val after = eng3.searchRows("label2", 64)
    assert(eng3.annState == RClipEngine.AnnUnbuilt,
      "a stale artifact must not be trusted after a store mutation")
    assert(!after.exists(_._1 == victim))
  }

  test("annHealth (VERDICT r08 next-#4): one drift row against the LIVE " +
    "serving index — recall floor holds after appends, alarm fires on a " +
    "deliberately degraded index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-engine-health").toString
    val store = new SnapshotStore(dir)
    store.initFrom(spark, s"$sf/embeddings.parquet")
    val panel = (0 to 9).map(i => s"label$i")
    val good = RClipEngine.AnnServing(cells = 8, nprobe = 6, m = 16, coarseK = 192)
    val eng = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      censorKey = Some("k"), fastPathMaxRows = 0L, annServing = Some(good))
    // no serving index yet → no health row (nothing to drift)
    assert(eng.annHealth(panel, 12).isEmpty)
    eng.warm()
    val h = eng.annHealth(panel, 12).get
    assert(!h.alarm, s"healthy index alarmed: $h")
    assert(h.recallPermille >= good.healthRecallFloorPermille, h.toString)
    assert(h.rows == eng.count())
    // N appends (new ids, duplicate vectors land in existing cells),
    // re-warm, the floor still holds and the row count tracks the corpus
    val extra = spark.read.parquet(s"$sf/embeddings.parquet")
      .limit(100).withColumn("vec_id", col("vec_id") + lit(100000L))
    eng.upsert(extra, "vec_id")
    eng.warm()
    val h2 = eng.annHealth(panel, 12).get
    assert(!h2.alarm, s"post-append health alarmed: $h2")
    assert(h2.rows == eng.count())
    // deliberately degraded: coarseK=8 < k=12 guarantees recall ≤ 667‰;
    // the alarm must fire
    val bad = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      fastPathMaxRows = 0L,
      annServing = Some(good.copy(nprobe = 1, coarseK = 8, ivfIters = 0)))
    bad.warm()
    val hb = bad.annHealth(panel, 12).get
    assert(hb.alarm && hb.recallPermille < good.healthRecallFloorPermille,
      s"degraded index did not alarm: $hb")
  }

  test("ramCoarseCut: the k-bounded heap keeps exactly the sort-based " +
    "(adc DESC, id ASC) top-coarseK — ties, duplicates, and undersized " +
    "corpora included") {
    val rnd = new java.util.Random(7)
    val m = 4; val k = 16
    val coarseLut = Array.fill(m * k)(rnd.nextInt(5).toDouble) // many ties
    val flatLut = Array.fill(m * k)(0.0) // all-equal scores: id order alone
    for (lut <- Seq(coarseLut, flatLut); n <- Seq(0, 1, 50, 500);
        coarseK <- Seq(1, 16, 500)) {
      val ids = Array.tabulate(n)(i => (n - i).toLong) // descending ids
      val cells = Array.tabulate(n)(_ => rnd.nextInt(8))
      val codes = Array.tabulate(n)(_ => rnd.nextLong() & 0xffffL)
      val ci = RClipEngine.CodeIndex(ids, cells, codes)
      val probe = Seq(0, 2, 5)
      val got = RClipEngine.ramCoarseCut(ci, lut, m, k, probe, coarseK)
      val want = (0 until n)
        .filter(i => probe.contains(cells(i)))
        .map(i => (graft.ann.PqIndex.adcPacked(codes(i), lut, m, k), ids(i)))
        .sortWith { case ((sa, ia), (sb, ib)) =>
          sa > sb || (sa == sb && ia < ib) }
        .take(coarseK).map(_._2).sorted
      assert(got == want, s"n=$n coarseK=$coarseK")
    }
    // the same shared selector at k = 0, k > n, all-equal scores and the
    // supplementary-plane word tie (Spark's UTF-8 byte order, not UTF-16)
    val words = Array("～", new String(Character.toChars(0x1D11E)), "b", "a")
    val utf8Before = (a: Int, b: Int) => RClipEngine.utf8Compare(words(a), words(b)) < 0
    for (flat <- Seq(true, false); topK <- Seq(0, 2, 4, 10)) {
      val score: Int => Double = r => if (flat) 0.5 else (r / 2).toDouble
      val want = words.indices.sortWith((a, b) => score(a) > score(b) ||
        (score(a) == score(b) && utf8Before(a, b))).take(topK)
      val (got, _) = TopK.byRoundedScore(words.length, topK, score, utf8Before)
      assert(got.toSeq == want, s"flat=$flat k=$topK")
    }
    assert(TopK.byRoundedScore(2, 2, _ => 0.5, utf8Before)._1.toSeq == Seq(0, 1),
      "tilde ranks before the clef on a tie")
  }

  test("utf8 tie comparator: matches Spark's binary string ordering on " +
    "supplementary-plane characters where UTF-16 ordering diverges") {
    // U+FF5E (˜ fullwidth tilde, 3-byte UTF-8) vs U+1D11E (musical G
    // clef, surrogate pair, 4-byte UTF-8): UTF-16 code units order the
    // clef FIRST (0xD834 < 0xFF5E); UTF-8 bytes order it LAST
    // (0xF0 > 0xEF)
    val a = "～"
    val b = new String(Character.toChars(0x1D11E))
    assert(a.compareTo(b) > 0, "UTF-16 baseline: clef sorts before tilde")
    assert(RClipEngine.utf8Compare(a, b) < 0,
      "UTF-8 bytes: tilde sorts before clef (Spark's order)")
    import spark.implicits._
    val sparkOrder = Seq(a, b).toDF("w").orderBy(col("w").asc)
      .as[String].collect().toSeq
    val twinOrder = Seq(b, a).sortWith(RClipEngine.utf8Compare(_, _) < 0)
    assert(sparkOrder == twinOrder)
  }
}
