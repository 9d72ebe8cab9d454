package perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val counters: SparkCounters, val rec: Record,
    val work: java.io.File, val cache: java.io.File, val seed: Long, val seconds: Int, val trace: Boolean,
    val cpus: Int, val spansFile: java.nio.file.Path) {
  private val matrices = scala.collection.mutable.Map[String, (Array[Int], Array[Float])]()
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val marks = scala.collection.mutable.LinkedHashMap[String, Double]()

  /** Records the seconds since the JVM started at the end of phase `name`
    * (reported as `phase_end_s`, so a run's wall time can be accounted for). */
  def mark(name: String): Unit = {
    marks(name) = (System.currentTimeMillis() - jvmStart) / 1000.0
    rec.info("phase_end_s") = marks
  }

  /** The generated vectors of `c`, regenerated in this JVM for the checks. */
  def matrix(c: Corpus): (Array[Int], Array[Float]) =
    matrices.getOrElseUpdate(c.key, c.matrix(cpus))
}

object Host {
  /** Steal above this share of a one-second sample means a co-tenant holds
    * the host's CPUs (graft.Bench's pre-flight uses the same threshold). */
  val MaxStealPct = 5.0
  val MaxStealWaitS = 5.0

  /** Waits until a one-second `graft.Bench.stealSample` shows steal under
    * [[MaxStealPct]], at most [[MaxStealWaitS]]; returns the seconds waited.
    * Runs before each measured window: a burst of steal moves a timing by a
    * quarter or more. */
  def awaitLowSteal(): Double = {
    val t0 = System.nanoTime()
    def waited = (System.nanoTime() - t0) / 1e9
    while (graft.Bench.stealSample(1000) >= MaxStealPct && waited < MaxStealWaitS) {}
    waited
  }

  /** Steal share of the CPU time between two `graft.Bench.cpuJiffies`
    * readings; -1 when /proc/stat was unreadable. */
  def stealPct(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 > from._2 && from._1 >= 0) 100.0 * (to._1 - from._1) / (to._2 - from._2) else -1.0

  /** Runs a measured section `f(attempt)`, and, if `retry`, once more after
    * [[awaitLowSteal]] when steal over the first attempt reached
    * [[MaxStealPct]]: a co-tenant's burst slows a section by a quarter or
    * more. Returns the attempt with the least steal, and each attempt's
    * steal %. */
  def leastStolen[A](retry: Boolean = true)(f: Int => A): (A, Seq[Double]) = {
    def attempt(i: Int): (A, Double) = {
      val j0 = graft.Bench.cpuJiffies()
      val a = f(i)
      (a, stealPct(j0, graft.Bench.cpuJiffies()))
    }
    val first = attempt(0)
    if (!retry || first._2 < MaxStealPct) (first._1, Seq(first._2))
    else {
      awaitLowSteal()
      val second = attempt(1)
      (Seq(first, second).minBy(_._2)._1, Seq(first._2, second._2))
    }
  }
}

/** The per-layer metrics of the traced run, with their units. Every traced
  * run measures every layer: `batch_curation` traces its serving probe, and
  * a serving workload makes one pass of the batch queries on the sf0.001
  * fixture. */
object PerLayer {
  val SpanNames: Seq[String] =
    Seq("request", "parse", "byid", "resolve", "score", "http", "mutation", "censor", "rebuild", "reload")

  val serving: Seq[(String, String)] = Seq(
    "http.request_ms" -> "ms", "http.self_ms" -> "ms", "http.queue_ms" -> "ms",
    "http.response_kb" -> "KiB", "parser.parse_us" -> "us", "parser.terms" -> "count",
    "resolve.ms" -> "ms", "resolve.byid_ms" -> "ms", "resolve.jobs" -> "count",
    "score.fast_ms" -> "ms", "score.fast_p95_ms" -> "ms", "score.fast_alloc_mb" -> "MiB",
    "score.dist_ms" -> "ms", "score.dist_jobs" -> "count", "score.dist_tasks" -> "count",
    "score.dist_cpu_ms" -> "ms", "censor.ms" -> "ms", "reload.ms" -> "ms",
    "snapshot.bytes_written" -> "bytes", "snapshot.write_amp" -> "ratio",
    "fastindex.rebuild_ms" -> "ms", "setup.init_ms" -> "ms", "setup.cache_ms" -> "ms",
    "setup.warm_ms" -> "ms", "setup.words_ms" -> "ms", "jvm.gc_ms_per_s" -> "ms/s",
    "jvm.heap_after_setup_mb" -> "MiB", "trace.overhead_ms" -> "ms") ++
    SpanNames.map(n => s"span.$n.self_ms" -> "ms")

  val batch: Seq[(String, String)] = Batch.Queries.flatMap { q =>
    Seq(s"batch.$q.wall_s" -> "s", s"batch.$q.cpu_s" -> "s", s"batch.$q.jobs" -> "count",
      s"batch.$q.shuffle_mb" -> "MiB", s"batch.$q.spill_mb" -> "MiB")
  }

  val all: Seq[(String, String)] = serving ++ batch

  def unit(name: String): String = all.find(_._1 == name).map(_._2).getOrElse("count")

  /** Median self time per span name, in ms. */
  def spanSelf(rec: Record, tracer: Tracer): Unit = {
    val spans = tracer.all
    val self = Tracer.selfTimes(spans)
    SpanNames.foreach { n =>
      val xs = spans.filter(_.name == n).map(s => self(s.id) / 1e6)
      require(xs.nonEmpty, s"no $n span was recorded")
      rec.metric(s"span.$n.self_ms", Stats.median(xs), "ms")
    }
  }
}

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  * --cache DIR --out FILE`: runs one workload and writes its full record to
  * FILE. `work` is scratch for this run; `cache` keeps generated inputs. */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "search_p50_ms" -> "ms",
    "search_p95_ms" -> "ms", "search_qps" -> "1/s", "censor_p50_ms" -> "ms",
    "batch_wall_s" -> "s", "heap_live_mb" -> "MiB")

  val Workloads: Seq[String] = Seq("ui_search", "batch_curation")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = new java.io.File(opts("work"))
    val cache = new java.io.File(opts("cache"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val rec = new Record(workload, seed, trace)

    val s0 = System.nanoTime()
    val spark = graft.Sessions.local(cpus.toString)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val (load, otherJava) = graft.Bench.machineState()
    val jif0 = graft.Bench.cpuJiffies()
    val cal0 = graft.Bench.calEmptyJob(spark)
    val ctx = new Ctx(spark, counters, rec, work, cache, seed, seconds, trace, cpus,
      new java.io.File(opts("out") + ".spans.jsonl").toPath)
    ctx.mark("session")
    try {
      workload match {
        case "batch_curation" => new Batch(ctx).run(sessionS)
        case _ =>
          new Serving(ctx, Corpus.serving(seed)).run()
          if (trace) new Batch(ctx).smallPass()
      }
      rec.info("host") = Map("nproc" -> cpus, "load_start" -> load, "other_java_start" -> otherJava,
        "steal_pct" -> Host.stealPct(jif0, graft.Bench.cpuJiffies()),
        "cal_empty_job_start_s" -> cal0, "cal_empty_job_end_s" -> graft.Bench.calEmptyJob(spark))
      val missing = EndToEnd.map(_._1).filterNot(rec.metrics.contains)
      require(missing.isEmpty, s"end-to-end metrics not measured: ${missing.mkString(", ")}")
    } finally spark.stop()
    ctx.mark("stopped")
    java.nio.file.Files.write(new java.io.File(opts("out")).toPath, rec.toJson.getBytes("UTF-8"))
  }
}
