package perfbench

import graft.SparkEntry
import org.apache.spark.sql.Row

/** The batch curation workload: a fixed list of `SparkEntry.queries`, one
  * warm-up pass then one timed pass, each starting with cold artifact
  * caches. Each query's output is written after its timing stops, for the
  * oracle comparison that runs once the JVM has exited (run.py). */
final class Batch(ctx: Ctx) {
  import Batch._
  private val spark = ctx.spark
  private val rec = ctx.rec
  private val warmDir = new java.io.File(ctx.cache, s"fixture-sf$WarmSf")

  def run(sessionS: Double): Unit = {
    val timedDir = new java.io.File(ctx.cache, s"fixture-sf$TimedSf")
    val g0 = System.nanoTime()
    Fixture.ensure(spark, warmDir, WarmSf)
    Fixture.ensure(spark, timedDir, TimedSf)
    rec.info("fixture_generate_s") = (System.nanoTime() - g0) / 1e9
    ctx.mark("fixture")

    val (warmQuery, _, warmS) = pass(warmDir, tagged = false)
    rec.info("warmup_query_wall_s") = warmQuery
    rec.metric("setup_s", sessionS + warmS, "s")
    rec.info("setup") = Map("session_s" -> sessionS, "warmup_pass_s" -> warmS,
      "warmup_fixture" -> s"sf$WarmSf")
    ctx.mark("warmup_pass")

    val waitedS = Host.awaitLowSteal()
    // A traced pass runs once: its job groups would count a second pass too.
    // Another attempt reads a hard-linked copy of the fixture, so that its
    // artifact caches are cold as well.
    val ((perQuery, outs, passS, gcPerS), steals) = Host.leastStolen(retry = !ctx.trace) { attempt =>
      val gc0 = Serving.gcMs()
      val (q, o, s) = pass(if (attempt == 0) timedDir else linkedCopy(timedDir), tagged = ctx.trace)
      (q, o, s, (Serving.gcMs() - gc0) / s)
    }
    rec.info("timed_pass_host") = Map("steal_wait_s" -> waitedS, "steal_pct_per_attempt" -> steals)
    rec.metric("batch_wall_s", passS, "s")
    rec.metric("heap_live_mb", Serving.liveHeapMb(spark.sparkContext), "MiB")
    rec.info("query_wall_s") = perQuery
    rec.attempted += Queries.length
    ctx.mark("timed_pass")

    val outDir = new java.io.File(ctx.work, "out")
    FileTree.rmTree(outDir)
    outs.foreach { case (q, rows, schema) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.parquet(new java.io.File(outDir, q).getPath)
    }
    val oracle = Http.mapper.createObjectNode()
    Queries.foreach(q => SparkEntry.oracleSql.get(q).foreach(oracle.put(q, _)))
    java.nio.file.Files.write(new java.io.File(outDir, "oracle_sql.json").toPath,
      Http.mapper.writeValueAsBytes(oracle))
    rec.info("oracle_check") = Map("fixture" -> timedDir.getPath, "outputs" -> outDir.getPath)
    if (ctx.trace) opsLayer(perQuery)
    ctx.mark("outputs")

    // This workload's traffic has no searches or censors: measure them on the
    // fixture's own embeddings table (2,000 × 64 at sf0.1, the corpus
    // graft.Bench's serving rows use), after the pass.
    val emb = Fixture.embeddings(TimedSf)
    new Serving(ctx, emb,
      probeTable = Some(new java.io.File(timedDir, "embeddings.parquet").getPath),
      windowSeconds = Some(ProbeSeconds)).run()
    // the JVM layer of this workload is the timed pass, not the short probe
    if (ctx.trace) rec.metric("jvm.gc_ms_per_s", gcPerS, "ms/s")
    ctx.mark("serving_probe")
  }

  /** A serving workload runs no `graft.ops` query; its traced run measures
    * that layer on one pass over the sf0.001 fixture instead. */
  def smallPass(): Unit = {
    Fixture.ensure(spark, warmDir, WarmSf)
    opsLayer(pass(warmDir, tagged = true)._1)
    ctx.mark("ops_pass")
  }

  /** One pass over [[Queries]] on the fixture in `dir`, each query's output
    * collected and the cache cleared after it. Both artifact caches start
    * cold for it: the RAM memo and the disk cache are keyed by the fixture's
    * directory, each pass of a run reads another fixture, and run.py empties
    * the disk cache before every run. `tagged` runs each query under a job
    * group of its name for the listener. Returns per-query seconds, the
    * outputs, and the pass's seconds. */
  private def pass(dir: java.io.File, tagged: Boolean)
      : (scala.collection.mutable.LinkedHashMap[String, Double],
         Seq[(String, Array[Row], org.apache.spark.sql.types.StructType)], Double) = {
    val sc = spark.sparkContext
    val outs = scala.collection.mutable.ArrayBuffer[(String, Array[Row], org.apache.spark.sql.types.StructType)]()
    val perQuery = scala.collection.mutable.LinkedHashMap[String, Double]()
    val p0 = System.nanoTime()
    Queries.foreach { q =>
      if (tagged) sc.setJobGroup(q, q, interruptOnCancel = false)
      val t = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, dir.getPath)
      val rows = df.collect()
      perQuery(q) = (System.nanoTime() - t) / 1e9
      if (tagged) sc.clearJobGroup()
      outs += ((q, rows, df.schema))
      spark.catalog.clearCache()
    }
    (perQuery, outs.toSeq, (System.nanoTime() - p0) / 1e9)
  }

  /** A copy of the fixture in `dir` made of hard links, under this run's
    * scratch directory. */
  private def linkedCopy(dir: java.io.File): java.io.File = {
    val copy = new java.io.File(ctx.work, dir.getName + "-again")
    FileTree.rmTree(copy)
    val src = dir.toPath
    java.nio.file.Files.walk(src).forEach { p =>
      val to = copy.toPath.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.createLink(to, p)
    }
    copy
  }

  private def opsLayer(perQuery: scala.collection.Map[String, Double]): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    Queries.foreach { q =>
      val c = ctx.counters.snapshot(q)
      rec.metric(s"batch.$q.wall_s", perQuery(q), "s")
      rec.metric(s"batch.$q.cpu_s", c.cpuNs / 1e9, "s")
      rec.metric(s"batch.$q.jobs", c.jobs.toDouble, "count")
      rec.metric(s"batch.$q.shuffle_mb", c.shuffleBytes / 1048576.0, "MiB")
      rec.metric(s"batch.$q.spill_mb", c.spillBytes / 1048576.0, "MiB")
    }
  }
}

object Batch {
  /** The timed queries, in this order, one per family: text dedup (sorted
    * neighbourhood), filtered IVF-PQ search, the k-NN graph build and its
    * degree audit, and the salted skew join. Queries left out keep a run
    * near a minute; graft.Bench still times every query. */
  val Queries: Seq[String] = Seq("d17_sorted_neighborhood", "n11_filtered_ann",
    "n14_knn_degree_audit", "s02_skew_join")
  /** The warm-up pass compiles and JIT-warms every query's plan; its cost is
    * nearly independent of data size, so it runs on the smallest fixture. */
  val WarmSf = 0.001
  val TimedSf = 0.1
  val ProbeSeconds = 2.0
}
