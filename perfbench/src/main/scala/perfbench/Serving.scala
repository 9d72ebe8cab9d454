package perfbench

import graft.engine.{RClipEngine, SnapshotStore}
import graft.http.RClipHttpServer
import graft.parser.QueryParser
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One engine + server built through the public constructors. */
final class Served(val engine: RClipEngine, val store: SnapshotStore,
    val server: RClipHttpServer, val storeDir: java.io.File) {
  val http = new Http(server.boundPort)
  def close(spark: SparkSession): Unit = {
    server.stop()
    spark.catalog.clearCache()
    FileTree.rmTree(storeDir)
  }
}

/** The `ui_search` workload: [[Clients]] closed-loop clients send the
  * reference UI's `/search_api` request (`num` = [[Num]]) to an engine in the
  * RAM-matrix regime. As a probe (`probeTable`, see [[Batch]]) it serves a
  * ready Parquet table with one set-up and reports only the search and
  * censor metrics. */
final class Serving(ctx: Ctx, corpus: Corpus,
    probeTable: Option[String] = None, windowSeconds: Option[Double] = None) {
  import Serving._
  private val spark = ctx.spark
  private val rec = ctx.rec
  private val probe = probeTable.isDefined
  private val seconds = windowSeconds.getOrElse(ctx.seconds.toDouble)
  private val words = corpus.clusters
  /** Ids censored so far. */
  private val censored = mutable.Set[Long]()
  private val censorRng = new java.util.SplittableRandom(ctx.seed ^ 0xC3A5C85C97CB3127L)

  def run(): Unit = {
    val path = probeTable.getOrElse {
      val (p, genS) = corpus.ensureParquet(spark, new java.io.File(ctx.cache, "corpus"), keep = 4)
      rec.info("corpus") = Map("rows" -> corpus.rows, "dim" -> corpus.dim,
        "clusters" -> corpus.clusters, "generate_s" -> genS, "cached" -> (genS == 0.0))
      p
    }
    mark("corpus")
    // each set-up is closed before the next, so that only the last engine
    // (and its RAM matrix) is live when the heap is measured
    var served: Served = null
    val phases = (1 to (if (probe) 1 else SetupRepeats)).map { i =>
      if (served != null) served.close(spark)
      val (s, p) = setupOnce(path, i)
      served = s
      p
    }
    if (!probe) {
      rec.metric("setup_s", Stats.median(phases.map(_("total_ms"))) / 1000.0, "s")
      rec.info("setup_ms") = phases
    }
    val heapAfterSetup = if (ctx.trace) liveHeapMb(spark.sparkContext) else 0.0

    mark("setups")
    // the same traffic, untimed, until the request path is JIT-compiled
    window(served, if (probe) 0.5 else WarmSeconds, 900)
    val waitedS = if (probe) 0.0 else Host.awaitLowSteal()
    val ((searches, windowS, windowJobs, gcPerS), windowSteals) = Host.leastStolen() { _ =>
      val gc0 = gcMs()
      val jobs0 = { org.apache.spark.BusDrain(spark.sparkContext); ctx.counters.totalJobs }
      val (searches, windowS) = window(served, seconds, 0)
      org.apache.spark.BusDrain(spark.sparkContext)
      // every attempt's searches count as operations, and each must succeed
      rec.attempted += searches.length
      rec.failedOps += searches.count(!_.ok)
      (searches, windowS, ctx.counters.totalJobs - jobs0, (gcMs() - gc0) / windowS)
    }
    if (!probe) rec.metric("heap_live_mb", liveHeapMb(spark.sparkContext), "MiB")

    mark("window")
    val ok = searches.filter(_.ok)
    if (ok.isEmpty) throw new IllegalStateException("no successful search in the window")
    val (p50, tailPct, tail) = Stats.summary(ok.map(_.ms))
    rec.metric("search_p50_ms", p50, "ms")
    rec.metric("search_p95_ms", tail, "ms")
    rec.metric("search_qps", ok.length / windowS, "1/s")
    rec.info(if (probe) "probe_search" else "search") = Map("samples" -> ok.length, "tail_percentile" -> tailPct,
      "clients" -> Clients, "num" -> Num, "window_s" -> windowS,
      "gc_ms_per_s" -> gcPerS, "steal_wait_s" -> waitedS, "steal_pct_per_attempt" -> windowSteals,
      "non_200" -> searches.count(!_.ok),
      "ok_per_client" -> (0 until Clients).map(c => ok.count(_.client == c)),
      "response_kb_p50" -> Stats.median(ok.map(_.body.length / 1024.0)),
      "send_s_and_latency_ms" -> {
        val t0 = if (ok.isEmpty) 0L else ok.map(_.sendNs).min
        ok.sortBy(_.sendNs).map(e => Seq(math.round((e.sendNs - t0) / 1e7) / 100.0, math.round(e.ms * 10) / 10.0))
      })
    // regime guard: the RAM-matrix engine runs no Spark job while serving
    rec.info("regime_guard") = Map("window_jobs" -> windowJobs, "expect" -> "0 jobs")
    if (windowJobs != 0) rec.fail(s"regime guard: $windowJobs Spark jobs during the RAM-matrix window", 0)

    checkSample(served, searches)
    mark("checks")

    // The curation pass through the HTTP surface: censors back to back, then
    // the first search, which serves from a rebuilt RAM matrix. It gives this
    // workload its batch_wall_s and censor_p50_ms.
    val ((passCensors, passS), passSteals) = Host.leastStolen()(_ => curationPass(served))
    val writes = passCensors.filter(_.ok)
    if (writes.isEmpty) throw new IllegalStateException("no successful censor")
    rec.metric("censor_p50_ms", Stats.median(writes.map(_.ms)), "ms")
    rec.info(if (probe) "probe_censor" else "censor") = Map("samples" -> writes.length,
      "steal_pct_per_attempt" -> passSteals, "store_pruned_to_2_snapshots" -> "after the pass")
    mark("curation_pass")
    if (!probe) {
      rec.metric("batch_wall_s", passS, "s")
      rec.info("curation_pass") = Map("censors" -> passCensors.length, "wall_s" -> passS)
    }
    if (ctx.trace) traced(served, p50, phases, heapAfterSetup, gcPerS)
    served.close(spark)
  }

  // ---------------------------------------------------------------- setup

  private def setupOnce(corpusPath: String, i: Int): (Served, Map[String, Double]) = {
    val dir = new java.io.File(ctx.work, s"store-$i")
    FileTree.rmTree(dir)
    def ms(t: Long) = (System.nanoTime() - t) / 1e6
    val t0 = System.nanoTime()
    val store = new SnapshotStore(dir.getPath)
    store.initFrom(spark, corpusPath)
    val init = ms(t0)
    val t1 = System.nanoTime()
    val engine = new RClipEngine(spark, store, new graft.embed.DeterministicEmbedder(corpus.dim),
      censorKey = Some(CensorKey))
    engine.count()
    val cache = ms(t1)
    val t2 = System.nanoTime()
    engine.warm()
    val warm = ms(t2)
    val server = new RClipHttpServer(engine).start()
    val served = new Served(engine, store, server, dir)
    val t3 = System.nanoTime()
    val first = served.http.search(-1, stream(1000 + i).next(), Num)
    val firstMs = ms(t3)
    if (!first.ok) throw new IllegalStateException(s"first search returned ${first.status}")
    (served, Map("init_ms" -> init, "cache_ms" -> cache, "warm_ms" -> warm,
      "first_search_ms" -> firstMs, "total_ms" -> ms(t0)))
  }

  // --------------------------------------------------------------- window

  /** Closed loop: every client sends its next request when the previous one
    * returns, until the window closes. Returns the searches that completed
    * inside the window, and the window length in seconds. */
  private def window(s: Served, secs: Double, clientBase: Int): (Seq[Exchange], Double) = {
    val searches = new java.util.concurrent.ConcurrentLinkedQueue[Exchange]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val t0 = System.nanoTime()
    val deadline = t0 + (secs * 1e9).toLong + 50000000L
    val clients = (0 until Clients).map { c =>
      val requests = stream(clientBase + c)
      new Thread(() => {
        start.await()
        while (System.nanoTime() < deadline) {
          val ex = s.http.search(c, requests.next(), Num)
          if (ex.recvNs <= deadline) searches.add(ex)
        }
      }, s"client-$c")
    }
    clients.foreach(_.start())
    val started = System.nanoTime()
    start.countDown()
    clients.foreach(_.join())
    val windowS = (deadline - started) / 1e9
    import scala.jdk.CollectionConverters._
    (searches.asScala.toSeq, windowS)
  }

  private def mark(phase: String): Unit = ctx.mark(if (probe) s"probe_$phase" else phase)

  /** Whether a censor request was accepted. */
  private def censorOk(ex: Exchange): Boolean =
    ex.ok && Http.bodyText(ex.body).contains("censored")

  private def stream(client: Int): Iterator[String] = new Streams.UiQueries(ctx.seed, words, client)

  /** A random id not censored yet; it counts as censored from here on. */
  private def nextCensorId(): Long = {
    var id = censorRng.nextInt(corpus.rows).toLong
    while (censored.contains(id)) id = censorRng.nextInt(corpus.rows).toLong
    censored += id
    id
  }

  /** [[PassCensors]] censors of distinct random ids back to back, then a
    * search for each censored row's own cluster word at num=1000 (which ranks
    * the row's whole cluster): none may return its censored row. The pass's
    * wall time runs from the first censor to the first search's response. */
  private def curationPass(s: Served): (Seq[Exchange], Double) = {
    val (labels, _) = ctx.matrix(corpus)
    val t0 = System.nanoTime()
    val done = (1 to (if (probe) ProbeCensors else PassCensors)).map { _ =>
      val id = nextCensorId()
      val ex = s.http.censor(-1, id, CensorKey)
      rec.attempted += 1
      if (!censorOk(ex)) rec.fail(s"curation pass: censor of $id returned ${ex.status} ${Http.bodyText(ex.body)}")
      id -> ex
    }
    var wall = 0.0
    done.foreach { case (id, _) =>
      val ex = s.http.search(-1, s"label${labels(id.toInt)}", 1000)
      if (wall == 0.0) wall = (ex.recvNs - t0) / 1e9
      rec.attempted += 1
      if (!ex.ok) rec.fail(s"check: post-censor search returned ${ex.status}")
      else if (Http.pairs(ex.body).exists(_._1 == id))
        rec.fail(s"check: censored id $id still served by label${labels(id.toInt)}")
    }
    s.store.prune(keep = 2)
    (done.map(_._2), wall)
  }

  // --------------------------------------------------------------- checks

  /** The fixed sample — the window's first successful searches, in the order
    * they were sent — must equal the brute-force top-k over the generated
    * vectors. No censor runs before the checks, so every row is eligible. */
  private def checkSample(s: Served, searches: Seq[Exchange]): Unit = {
    val sample = searches.filter(_.ok).sortBy(_.sendNs).take(SampleSize)
    val (_, vecs) = ctx.matrix(corpus)
    val ids = Array.tabulate(corpus.rows)(_.toLong)
    sample.foreach { e =>
      s.http.embedding(e.q) match {
        case None => rec.fail(s"check: /clip_embedding gave no vector for ${e.q}")
        case Some(q) =>
          val want = BruteForce.topK(ids, vecs, corpus.dim, q, Num)
          val got = Http.pairs(e.body)
          if (got != want) {
            val at = got.zip(want).indexWhere { case (a, b) => a != b }
            rec.fail(s"check: /search_api ${e.q} differs from brute force " +
              s"(got ${got.length} rows, want ${want.length}; first difference at $at)")
          }
      }
    }
    rec.info("checked_sample") = sample.length
    if (sample.isEmpty) rec.fail("check: no response available for the brute-force sample", 0)
  }

  // ---------------------------------------------------------------- trace

  /** The traced run: replays parse → resolve → score in-process, then the
    * same request over HTTP, at concurrency 1, one span per call. On the
    * RAM-matrix engine every fourth request also replays an image-algebra
    * query through `byId` and the distributed scored scan (`searchExact`),
    * so those layers are measured here too. The same number of requests then
    * runs untraced, for the tracing overhead; last, the mutation layer
    * (censor, rebuild, reload) runs under spans. */
  private def traced(s: Served, e2eP50: Double, phases: Seq[Map[String, Double]],
      heapAfterSetup: Double, gcPerS: Double): Unit = {
    val tracer = new Tracer
    val sc = spark.sparkContext
    val threadMx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val lay = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def add(k: String, v: Double): Unit = lay.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    /** Runs `f` under Spark job group `g`; returns its result, its wall ms
      * and the group's Spark work. */
    def timed[A](g: String)(f: => A): (A, Double, SparkCounters.Counts) = {
      sc.setJobGroup(g, g, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try {
        val a = f
        val ms = (System.nanoTime() - t0) / 1e6
        org.apache.spark.BusDrain(sc)
        (a, ms, ctx.counters.snapshot(g))
      } finally sc.clearJobGroup()
    }
    def imageIds(q: String): Seq[Long] =
      QueryParser.parse(q).map(_.body).collect { case QueryParser.JsonTerm(t) => t }
        .flatMap(t => "\"image_id\":(\\d+)".r.findFirstMatchIn(t).map(_.group(1).toLong))

    /** One request's replay; `http` false replays an image-algebra query
      * against the distributed scan instead of the served regime. */
    def replay(req: Long, q: String, http: Boolean): Unit =
      tracer.span(req, 0, "request") { root =>
        val terms = tracer.span(req, root, "parse") { _ =>
          val t0 = System.nanoTime()
          val ts = QueryParser.parse(q)
          add("parser.parse_us", (System.nanoTime() - t0) / 1e3)
          ts
        }
        add("parser.terms", terms.length)
        imageIds(q).foreach { id =>
          tracer.span(req, root, "byid") { _ =>
            val (_, ms, _) = timed(s"r$req-byid-$id")(s.engine.byId(id))
            add("resolve.byid_ms", ms)
          }
        }
        tracer.span(req, root, "resolve") { _ =>
          val (_, ms, c) = timed(s"r$req-resolve")(s.engine.resolveEmbedding(q))
          if (http) { add("resolve.ms", ms); add("resolve.jobs", c.jobs) }
        }
        val num = if (http) Num else 12
        val scoreMs = tracer.span(req, root, "score") { _ =>
          val tid = Thread.currentThread().getId
          val a0 = threadMx.getThreadAllocatedBytes(tid)
          val (_, ms, c) = timed(s"r$req-score") {
            if (http) s.engine.searchRows(q, num) else s.engine.searchExact(q, num).collect()
          }
          if (!http) {
            add("score.dist_ms", ms); add("score.dist_jobs", c.jobs)
            add("score.dist_tasks", c.tasks); add("score.dist_cpu_ms", c.cpuNs / 1e6)
            if (c.jobs < 1) rec.fail(s"regime guard: traced request $req scored without a Spark job", 0)
          } else {
            add("score.fast_ms", ms)
            add("score.fast_alloc_mb", (threadMx.getThreadAllocatedBytes(tid) - a0) / 1048576.0)
            if (c.jobs != 0)
              rec.fail(s"regime guard: traced request $req ran ${c.jobs} Spark jobs on the RAM matrix", 0)
          }
          ms
        }
        if (http) tracer.span(req, root, "http") { _ =>
          val ex = s.http.search(0, q, num)
          rec.attempted += 1
          if (!ex.ok) rec.fail(s"traced request $req returned ${ex.status}")
          add("http.request_ms", ex.ms)
          add("http.self_ms", ex.ms - scoreMs)
          add("http.response_kb", ex.body.length / 1024.0)
        }
      }

    def plain(q: String, http: Boolean): Unit = {
      QueryParser.parse(q)
      imageIds(q).foreach(s.engine.byId)
      s.engine.resolveEmbedding(q)
      if (http) { s.engine.searchRows(q, Num); s.http.search(0, q, Num) }
      else s.engine.searchExact(q, 12).collect()
    }

    /** Replays for half the window, and on until an image-algebra query has
      * run `byId` (one in four does not); or exactly `count` requests. */
    def replays(client: Int, traced: Boolean, count: Option[Int]): (Int, Seq[Double]) = {
      val requests = stream(client)
      val images = new Streams.ImageAlgebra(ctx.seed, corpus.rows, client)
      val deadline = System.nanoTime() + (seconds * 1e9 / 2).toLong
      val walls = mutable.ArrayBuffer[Double]()
      var n = 0
      def more = System.nanoTime() < deadline || !lay.contains("resolve.byid_ms")
      while (count.fold(more)(n < _)) {
        n += 1
        val w0 = System.nanoTime()
        if (traced) replay(n.toLong, requests.next(), http = true) else plain(requests.next(), http = true)
        if (n % 4 == 0) {
          if (traced) replay(-n.toLong, images.next(), http = false) else plain(images.next(), http = false)
        }
        walls += (System.nanoTime() - w0) / 1e6
      }
      (n, walls.toSeq)
    }
    val (n, tracedWall) = replays(500, traced = true, None)
    val (_, plainWall) = replays(501, traced = false, Some(n))

    // mutation layer: censor (snapshot rewrite + reload), rebuild, reload
    val rowBytes = 8.0 + 4.0 + 4.0 * corpus.dim + 1.0
    (1 to PassCensors).foreach { i =>
      val req = (n + i).toLong
      tracer.span(req, 0, "mutation") { root =>
        val id = nextCensorId()
        val t0 = System.nanoTime()
        tracer.span(req, root, "censor")(_ => s.engine.censor(id, CensorKey))
        add("censor.ms", (System.nanoTime() - t0) / 1e6)
        val bytes = s.store.latestDir.map(d => FileTree.treeBytes(new java.io.File(d))).getOrElse(0L)
        add("snapshot.bytes_written", bytes.toDouble)
        add("snapshot.write_amp", bytes / rowBytes)
        val t1 = System.nanoTime()
        tracer.span(req, root, "rebuild")(_ => s.engine.warm())
        add("fastindex.rebuild_ms", (System.nanoTime() - t1) / 1e6)
        s.store.prune(keep = 2)
      }
    }
    val reloadReq = (n + PassCensors + 1).toLong
    tracer.span(reloadReq, 0, "reload") { _ =>
      val t0 = System.nanoTime()
      s.engine.reload()
      add("reload.ms", (System.nanoTime() - t0) / 1e6)
    }
    s.engine.warm()

    val out = ctx.rec
    def samples(k: String): Seq[Double] =
      lay.getOrElse(k, throw new IllegalStateException(s"layer metric $k was never measured")).toSeq
    def med(k: String): Double = Stats.median(samples(k))
    Seq("parser.parse_us", "parser.terms", "resolve.ms", "resolve.byid_ms", "resolve.jobs",
      "score.fast_ms", "score.fast_alloc_mb", "score.dist_ms", "score.dist_jobs",
      "score.dist_tasks", "score.dist_cpu_ms", "http.request_ms", "http.self_ms",
      "http.response_kb", "censor.ms", "reload.ms", "snapshot.bytes_written",
      "snapshot.write_amp", "fastindex.rebuild_ms").foreach(k => out.metric(k, med(k), PerLayer.unit(k)))
    out.metric("score.fast_p95_ms", Stats.summary(samples("score.fast_ms"))._3, "ms")
    out.metric("http.queue_ms", e2eP50 - med("http.request_ms"), "ms")
    out.metric("setup.init_ms", Stats.median(phases.map(_("init_ms"))), "ms")
    out.metric("setup.cache_ms", Stats.median(phases.map(_("cache_ms"))), "ms")
    out.metric("setup.warm_ms", Stats.median(phases.map(_("warm_ms"))), "ms")
    out.metric("setup.words_ms", Stats.median(phases.map(_("first_search_ms"))), "ms")
    out.metric("jvm.gc_ms_per_s", gcPerS, "ms/s")
    out.metric("jvm.heap_after_setup_mb", heapAfterSetup, "MiB")
    out.metric("trace.overhead_ms", Stats.median(tracedWall) - Stats.median(plainWall), "ms")
    PerLayer.spanSelf(out, tracer)
    out.info("traced_requests") = n
    tracer.writeJsonl(ctx.spansFile)
  }
}

object Serving {
  /** The reference UI's request: 4 clients, `num=1000`. */
  val Clients = 4
  val Num = 1000
  val CensorKey = "perfbench-censor-key"
  val SetupRepeats = 3
  val WarmSeconds = 1.5
  val SampleSize = 8
  val PassCensors = 3
  /** The small fixture's censors take a few hundred ms, most of it fixed
    * overhead, so the probe takes more of them for a steady median. */
  val ProbeCensors = 5

  /** Heap in use after full collections, once Spark's listener bus and
    * context cleaner have had a chance to drop what they release. */
  def liveHeapMb(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.BusDrain(sc)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
  }
}
