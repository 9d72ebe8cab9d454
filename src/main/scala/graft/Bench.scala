package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Methodology: every query runs once to warm the JVM/codegen/file-listing
  * caches, then the timed pass takes the best of 2 runs (steady-state; the
  * first-ever Spark job pays ~10s of JIT that says nothing about plan
  * quality).
  */
object Bench {

  /** Machine-state snapshot making each bench record contamination-evident
    * (VERDICT r02 #4: two rounds of recorded outliers were co-tenant JVM
    * load, not code — the record itself must carry the evidence). Reads
    * `/proc/loadavg` and counts OTHER live `java` processes by scanning
    * `/proc/[pid]/comm`, excluding this JVM's own ancestor chain (the
    * idle sbt launcher that forked us is not a co-tenant). A record with
    * `other_java > 0` or a start load far above zero should be
    * discounted. */
  def machineState(): (Double, Int) = {
    def readFile(path: String): String = {
      val src = scala.io.Source.fromFile(path)
      try src.mkString finally src.close() // no FD leak on /proc scans
    }
    machineStateImpl(readFile)
  }

  /** Aggregate (user…steal…) jiffies from /proc/stat line 1 — the basis
    * for the run-spanning steal percentage. Steal is the HOST-side
    * contamination signal the load/other_java pair cannot see: a
    * co-tenant VM on the hypervisor shows zero local processes and
    * near-zero local load yet inflates every task dispatch (round 6
    * measured an empty 32-task Spark job at 2.2 s steady-state with
    * other_java=0 — entirely hypervisor steal). */
  def cpuJiffies(): (Long, Long) = {
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val parts = try src.getLines().next().split("\\s+") finally src.close()
      val vals = parts.drop(1).map(_.toLong)
      (vals.lift(7).getOrElse(0L), vals.sum) // (steal, total)
    } catch { case _: Throwable => (-1L, -1L) }
  }

  /** Fixed-work dispatch calibration: one empty 32-task job, best of 3
    * after a warmup. On an uncontended host this is O(10 ms); values in
    * the hundreds of ms mean the hypervisor is time-slicing the vCPUs
    * and EVERY per-job cost in this record is inflated by roughly the
    * same factor — making the record normalizable after the fact. */
  def calEmptyJob(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    sc.parallelize(1 to 32, 32).count() // warmup
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      sc.parallelize(1 to 32, 32).count()
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** Short steal sample for the pre-flight gate: steal percentage over a
    * `ms`-long window (the run-spanning measurement needs the run; the
    * pre-flight needs a answer NOW). -1 when /proc/stat is unreadable —
    * treated as "no evidence of contention", like the main-path guard. */
  def stealSample(ms: Long): Double = {
    val (s0, j0) = cpuJiffies()
    Thread.sleep(ms)
    val (s1, j1) = cpuJiffies()
    if (j1 > j0 && s0 >= 0) 100.0 * (s1 - s0) / (j1 - j0) else -1.0
  }

  /** Pre-flight admission predicate (VERDICT r07 wrong-#1): the same
    * evidence the END-of-run attestation records, checked BEFORE any
    * work — a run that would be born contaminated should wait instead
    * of producing a poisoned record. Unreadable probes (-1) pass: the
    * gate acts on positive evidence of load, never on missing /proc.
    * The load threshold is 0.3, TIGHTER than the end attestation's 1.0
    * (VERDICT r08 next-#1): two idle-attested r8 records of identical
    * code disagreed 15% total / 8× on one query — both passed at
    * load ≈ 0.8, where a recently-busy host still has hot page cache /
    * CPU state. Waiting for a genuinely quiet start is cheap; an
    * irreproducible record costs a round. */
  def preflightOk(load: Double, otherJava: Int, stealPct: Double): Boolean =
    load < 0.3 && otherJava <= 0 && stealPct < 5.0

  /** Bounded wait-retry until [[preflightOk]] holds: poll every 30 s up
    * to `maxWaitSec`, returning (admitted, seconds waited). The bound
    * keeps a permanently-loaded host from hanging the driver's bench
    * step forever — after it, the run proceeds and the END gate routes
    * the record to a non-clobbering file instead. */
  def awaitIdle(maxWaitSec: Int): (Boolean, Int) = {
    // wall-clock derived waited (ADVICE r08): the old fixed `+= 30`
    // undercounted by each loop's 1 s steal sample + /proc scan and
    // excluded the successful probe's own second
    val t0 = System.nanoTime()
    def waited: Int = ((System.nanoTime() - t0) / 1e9).round.toInt
    while (true) {
      val (load, oj) = machineState()
      val steal = stealSample(1000)
      if (preflightOk(load, oj, steal)) return (true, waited)
      if (waited >= maxWaitSec) {
        System.err.println(
          f"[bench] pre-flight gave up after ${waited}s (load=$load%.2f, " +
            f"other_java=$oj, steal=$steal%.1f%%) — running anyway; the " +
            "record will be routed to a nonidle file if the end gate fails")
        return (false, waited)
      }
      System.err.println(
        f"[bench] pre-flight: host busy (load=$load%.2f, other_java=$oj, " +
          f"steal=$steal%.1f%%) — waiting 30s (${waited}s/${maxWaitSec}s)")
      Thread.sleep(30000)
    }
    (false, waited) // unreachable
  }

  /** The clobber gate (VERDICT r07 wrong-#1/#2, r06 wrong-#4 twice): a
    * record whose OWN attestation failed must never overwrite the
    * committed idle record — it lands in a timestamped sibling file.
    * Pure function so the routing is unit-testable without loading the
    * host. */
  def gatedOutPath(requested: String, idle: Boolean, contended: Boolean,
      epochSec: Long): String =
    if (idle && !contended) requested
    else requested.stripSuffix(".json") + s"_nonidle_$epochSec.json"

  private def machineStateImpl(readFile: String => String): (Double, Int) = {
    val load =
      try readFile("/proc/loadavg").split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val lineage = Iterator.iterate(Option(ProcessHandle.current())) {
      _.flatMap(p => { val par = p.parent(); if (par.isPresent) Some(par.get) else None })
    }.takeWhile(_.isDefined).flatten.map(_.pid()).toSet
    val otherJava =
      try new java.io.File("/proc").listFiles()
        .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
        .count { f =>
          !lineage.contains(f.getName.toLong) && {
            try readFile(s"${f.getPath}/comm").trim == "java"
            catch { case _: Throwable => false }
          }
        }
      catch { case _: Throwable => -1 }
    (load, otherJava)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // pre-flight idle gate: don't even start a run that would be born
    // contaminated (bounded — SPARK_GRAFT_BENCH_MAX_WAIT_SEC, default
    // 10 min — so a permanently busy host still produces A record, just
    // never the official one)
    val maxWait = sys.env.get("SPARK_GRAFT_BENCH_MAX_WAIT_SEC")
      .flatMap(_.toIntOption).getOrElse(600)
    val (preflightPassed, waitedSec) = awaitIdle(maxWait)
    val (loadStart, javaStart) = machineState()
    if (javaStart > 0)
      System.err.println(
        s"[bench] WARNING: $javaStart other java process(es) alive at start — " +
          "numbers may be contaminated by co-tenant load (see env in output JSON)")
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    val (stealStart, jifStart) = cpuJiffies()
    val calStart = calEmptyJob(spark)

    // optional comma-separated subset (local stress iteration — e.g. time
    // only the cap-bound queries at 10× without the O(N²) d05 baseline);
    // the driver's per-round call sets no filter = full suite. Blank /
    // all-whitespace values collapse to None (review pass: an empty env
    // var used to yield Set("") and silently bench ZERO queries), and
    // names that match nothing fail loudly rather than vanish.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

    // warmup pass (also surfaces failures before timing); queries are
    // independent, so drop their internal caches between runs — leaked
    // cached partitions otherwise stack up across 38 queries and push
    // later joins into spill (measured: d04 21s isolated vs 262s dirty)
    qs.foreach { case (name, fn) =>
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench-warmup] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }

    // Session-scoped artifact builds (pair sets, cluster labels, k-NN
    // edges — graft.engine.ArtifactCache): a real pipeline computes these
    // ONCE per crawl and every audit reads the materialized table, so the
    // per-query timings below are honestly measured against warm
    // artifacts. But the build cost must appear SOMEWHERE in the record —
    // warmup already built them, so clear the cache and re-time each
    // build explicitly as its own entry (included in `total`). Builds run
    // in dependency order, so each entry times ONLY its own stage (the
    // labels entry is the closure cost over already-materialized pairs).
    val artifactChain = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "artifact_d02_pairs" -> (() => graft.ops.DedupQueries.d02Pairs(spark, sfDir)),
      "artifact_d02_labels" -> (() => graft.ops.CurationQueries.d02Labels(spark, sfDir)),
      "artifact_d06_pairs" -> (() => graft.ops.DedupQueries.d06Pairs(spark, sfDir)),
      "artifact_d06_labels" -> (() => graft.ops.CurationQueries.d06Labels(spark, sfDir)),
      "artifact_n09_edges" -> (() => graft.ops.AnnQueries.n09Graph(spark, sfDir)),
      "artifact_ppj_sets" -> (() => graft.ops.DedupQueries.ppjSets(spark, sfDir)),
      // r10: the ranked-posting table (explode + df census + rank window)
      // moved out of d15/d16 into a shared disk artifact — its build cost
      // stays visible as this timed entry (dependency-ordered after
      // ppj_sets so it times ONLY the ranking stage)
      "artifact_ppj_ranked" -> (() => graft.ops.DedupQueries.ppjRanked(spark, sfDir)))
    // one full chain pass: clear RAM + DISK artifacts first (the entries
    // must time real builds, not marker-fresh re-reads), then build in
    // dependency order so each entry times ONLY its own stage (the labels
    // entry is the closure cost over already-materialized pairs)
    def runArtifactChain(): Seq[(String, Double)] = {
      graft.engine.ArtifactCache.clear()
      graft.engine.ArtifactCache.clearDisk()
      artifactChain.map { case (name, build) =>
        val t0 = System.nanoTime()
        try build().count()
        catch { case e: Throwable =>
          System.err.println(s"[bench-artifact] $name failed: ${e.getMessage}")
        }
        finally spark.catalog.clearCache()
        name -> (System.nanoTime() - t0) / 1e9
      }
    }
    // the artifact entries get the same stability discipline as the
    // queries (VERDICT r08 next-#1 — artifact_d06_* swung 3× between two
    // attested r8 records): two chain passes, min per entry; if any
    // non-trivial entry is bimodal (>2×), a third pass and medians
    val artifactBuilds: Seq[(String, Double)] =
      if (only.isDefined) Seq.empty
      else {
        val p1 = runArtifactChain()
        val p2 = runArtifactChain()
        val bimodal = p1.zip(p2).exists { case ((_, a), (_, b)) =>
          a >= 0 && b >= 0 && math.max(a, b) >= 0.5 &&
            math.max(a, b) > 2.0 * math.min(a, b)
        }
        val passes = if (bimodal) Seq(p1, p2, runArtifactChain()) else Seq(p1, p2)
        artifactChain.map(_._1).zipWithIndex.map { case (name, i) =>
          val xs = passes.map(_(i)._2).sorted
          name -> (if (xs.length == 3) xs(1) else xs.head)
        }
      }

    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => return -1.0 }
      finally spark.catalog.clearCache()
      (System.nanoTime() - t0) / 1e9
    }

    // best of 2 timed runs per query (each from a cold cache — clearCache
    // in timeOnce), so one anomalous run (GC pause, co-tenant load, a
    // cache race) can't define the recorded number — VERDICT r01 #3.
    // STABILITY PASS (VERDICT r08 next-#1): when the two runs of a
    // non-trivial query disagree by >2×, the pair is bimodal and min()
    // would record whichever mode happened to fire — run a third and
    // take the MEDIAN, so one hot-cache fluke or one stall can't define
    // the number in either direction.
    def timeBest(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val a = timeOnce(fn)
      if (a < 0) return a
      val b = timeOnce(fn)
      if (b < 0) return a
      if (math.max(a, b) >= 0.5 && math.max(a, b) > 2.0 * math.min(a, b)) {
        val c = timeOnce(fn)
        if (c < 0) math.min(a, b) else Seq(a, b, c).sorted.apply(1)
      } else math.min(a, b)
    }

    val results = artifactBuilds ++ qs.map { case (name, fn) => name -> timeBest(fn) }

    val serving =
      if (only.isDefined) Seq.empty else microServing(spark, sfDir)

    val qJson = results.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val sJson = serving.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val (loadEnd, javaEnd) = machineState()
    // machine-readable idle gate (VERDICT r04 #6 / r05 #3): a record is a
    // valid round number ONLY when the machine was idle at start and no
    // co-tenant JVM appeared during the run — load_end is excluded
    // because this bench itself drives it. The r05 3.2× "regression" was
    // exactly a non-idle run with no flag to prove it.
    val idle = loadStart >= 0 && loadStart < 1.0 && javaStart == 0 && javaEnd == 0
    if (!idle)
      System.err.println(
        s"[bench] NOT IDLE (load_start=$loadStart, other_java=$javaStart/$javaEnd)" +
          " — this record must not become the round number")
    // host-contention evidence spanning the whole run: hypervisor steal
    // percentage + the end-of-run dispatch calibration. other_java/load
    // only see THIS guest; steal + a slow empty job convict the host.
    val (stealEnd, jifEnd) = cpuJiffies()
    val stealPct =
      if (jifEnd > jifStart && stealStart >= 0)
        100.0 * (stealEnd - stealStart) / (jifEnd - jifStart)
      else -1.0
    val calEnd = calEmptyJob(spark)
    val contended = stealPct >= 5.0 || math.min(calStart, calEnd) >= 0.5
    if (contended)
      System.err.println(
        f"[bench] HOST CONTENDED (steal $stealPct%.1f%%, empty-job cal " +
          f"$calStart%.3f/$calEnd%.3f s) — totals are dispatch-inflated; " +
          "compare within-run ratios across rounds, not totals")
    val envJson =
      s"""{"load_start":$loadStart,"load_end":$loadEnd,""" +
        s""""other_java_start":$javaStart,"other_java_end":$javaEnd,""" +
        f""""steal_pct":$stealPct%.2f,"cal_empty_job_start":$calStart%.3f,""" +
        f""""cal_empty_job_end":$calEnd%.3f,"host_contended":$contended,""" +
        s""""preflight_passed":$preflightPassed,"preflight_waited_sec":$waitedSec,""" +
        s""""idle":$idle}"""
    // a subset run stamps its active filter into the record so a partial
    // bench_out.json can never masquerade as a full-suite measurement
    val filterJson = only
      .map(_.toSeq.sorted.map(n => s""""$n"""").mkString("[", ",", "]"))
      .getOrElse("null")
    val record =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qJson,"serving":$sJson,"env":$envJson,"filter":$filterJson,"sf":"$sfDir"}"""
    // self-record to a file too (VERDICT r03 #2: BENCH_r03's stdout tail
    // was truncated mid-record, losing the total and 30 per-query rows —
    // the file copy makes driver-side capture loss unable to destroy the
    // measurement). Overwritten per run; committed records snapshot it.
    // A run whose attestation FAILED is routed to a timestamped nonidle
    // sibling (VERDICT r07 wrong-#1/#2): a loaded run can self-report all
    // it wants on stdout, but it can never clobber the idle record file.
    val requestedOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val outFile = gatedOutPath(requestedOut, idle, contended,
      System.currentTimeMillis() / 1000)
    if (outFile != requestedOut)
      System.err.println(
        s"[bench] attestation failed — record routed to $outFile " +
          s"(never $requestedOut)")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (record + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    // stop BEFORE printing the record so the one-line JSON is the FINAL
    // stdout line of the run (VERDICT r09 next-#2: nine rounds of BENCH
    // files show parsed:null — the record was printed mid-stream and the
    // driver's capture only keeps the end of stdout; build.sbt also sets
    // showSuccess := false so sbt appends no "[success]" line after it).
    // Spark's own shutdown chatter goes to stderr, never stdout.
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop failed: ${e.getMessage}")
    }
    println(record)
    System.out.flush()
  }

  /** Serving-latency section: warm per-REQUEST p50/p95 of `searchRows(q,
    * 12)` in the two ABOVE-CAP ANN regimes, with the brute RAM-matrix
    * fast path disabled (the brute regimes are measured end to end over
    * HTTP at the reference's `num=1000` request shape by `perfbench`).
    * 10 rotating queries, 100 timed requests each after warmup. */
  def microServing(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bench-serving").toString
    val store = new graft.engine.SnapshotStore(dir)
    store.initFrom(spark, s"$sfDir/embeddings.parquet")
    val emb = new graft.embed.DeterministicEmbedder(64)
    val queries = (0 until 10).map(i => s"label$i")
    def run(n: Int)(req: String => Unit): IndexedSeq[Double] = {
      queries.foreach(req) // warm path + caches
      (0 until n).map { i =>
        val q = queries(i % queries.length)
        val t0 = System.nanoTime()
        req(q)
        (System.nanoTime() - t0) / 1e9
      }.sorted
    }
    def pct(xs: IndexedSeq[Double], p: Double): Double =
      xs(math.min(xs.length - 1, (p * xs.length).toInt))
    spark.sparkContext.setJobDescription("micro-serving")
    // searches served from the persisted IVF-PQ index in both coarse
    // modes (bit-identical results, EngineSpec-pinned):
    //  - serving_ann: RAM-COARSE — the 8 B/row packed codes live on the
    //    driver, the coarse cut is pure arithmetic, ONE Spark job does
    //    the exact rerank over an isin-restricted scan.
    //  - serving_ann_dist: DISTRIBUTED coarse — pruned artifact ADC
    //    scan + broadcast rerank = two dispatches. Its win is scan BYTES
    //    (nprobe/cells of the corpus at 8 B/row vs all of it at 256
    //    B/row) — decisive past driverCodesMaxRows, invisible below. The
    //    entry pins the fixed per-request cost.
    val annParams = graft.engine.RClipEngine.AnnServing(
      cells = 8, nprobe = 6, m = 16, coarseK = 192,
      artifactPath = Some(s"$dir/annidx"))
    val ann = new graft.engine.RClipEngine(spark, store, emb,
      fastPathMaxRows = 0L, annServing = Some(annParams))
    val annDist = new graft.engine.RClipEngine(spark, store, emb,
      fastPathMaxRows = 0L,
      annServing = Some(annParams.copy(
        artifactPath = Some(s"$dir/annidx2"), driverCodesMaxRows = 0L)))
    // the deployment shape (VERDICT r08 next-#3): warm() pre-builds the
    // index OUTSIDE the request path, so the first request pays a bounded
    // serve cost, not the corpus build — time both phases explicitly
    val warmT0 = System.nanoTime()
    ann.warm()
    val annWarmSec = (System.nanoTime() - warmT0) / 1e9
    val firstT0 = System.nanoTime()
    ann.searchRows(queries.head, 12)
    val annFirstSec = (System.nanoTime() - firstT0) / 1e9
    annDist.warm()
    // regime guard: the serving_ann numbers claim the ANN path — assert
    // the warm actually installed an index (RAM-coarse plans the
    // isin-restricted rerank) rather than trusting it
    require(ann.search(queries.head, 12).queryExecution.executedPlan
      .toString.contains("INSET"),
      "ann regime not installed after warm() — serving_ann would measure brute")
    val a = run(100)(q => { ann.searchRows(q, 12); () })
    val ad = run(100)(q => { annDist.searchRows(q, 12); () })
    val out = Seq(
      "serving_ann_warm_sec" -> annWarmSec,
      "serving_ann_first_req" -> annFirstSec,
      "serving_ann_p50" -> pct(a, 0.50), "serving_ann_p95" -> pct(a, 0.95),
      "serving_ann_dist_p50" -> pct(ad, 0.50),
      "serving_ann_dist_p95" -> pct(ad, 0.95))
    // the temp snapshot store held a full corpus copy per bench run and
    // was never removed (ADVICE r07) — delete it now that the engines
    // are done with it
    deleteRecursively(new java.io.File(dir))
    out
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(); ()
  }
}
