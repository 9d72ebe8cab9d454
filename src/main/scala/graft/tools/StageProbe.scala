package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerStageCompleted, StageInfo}
import scala.collection.mutable

/** Per-stage task-metrics probe for one declared query — the headless
  * substitute for the Spark UI's stage page (guide §1.1/§7.1: decide
  * whether time goes to shuffle read/write, spill, or compute BEFORE
  * changing anything). Runs the query `runs` times (default 2 — first
  * run carries JVM/codegen warmup) and prints, per run, the number of
  * Spark jobs it ran and, per completed stage: wall duration, task
  * count, shuffle read/write bytes, memory/disk spill, summed executor
  * run time, and the stage callsite.
  *
  * Usage: runMain graft.tools.StageProbe <sfDir> <query> [runs]
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val qname = args(1)
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    val stages = mutable.LinkedHashMap[Int, StageInfo]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.synchronized { stages(sc.stageInfo.stageId) = sc.stageInfo; () }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = { jobs.incrementAndGet(); () }
    })
    val fn = graft.SparkEntry.queries(qname)
    var seen = Set.empty[Int]
    for (r <- 1 to runs) {
      jobs.set(0)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache() // bench methodology: queries run against
      // warm artifacts (ArtifactCache untouched), cold catalog cache
      Thread.sleep(1500) // let the listener drain
      val snap = stages.synchronized { stages.toMap }
      val fresh = snap.filterKeys(id => !seen.contains(id)).values.toSeq
      seen = snap.keySet
      println(f"== run $r: $qname wall=$wall%.2fs jobs=${jobs.get} stages=${fresh.size} ==")
      fresh.sortBy { si =>
        -(si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L))
      }.take(40).foreach { si =>
        val dur =
          (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
        val tm = si.taskMetrics
        println(f"stage ${si.stageId}%4d dur=$dur%8.2fs tasks=${si.numTasks}%4d " +
          f"sRead=${tm.shuffleReadMetrics.totalBytesRead / 1e6}%9.1fMB " +
          f"sWrite=${tm.shuffleWriteMetrics.bytesWritten / 1e6}%9.1fMB " +
          f"spillMem=${tm.memoryBytesSpilled / 1e6}%9.1fMB " +
          f"spillDisk=${tm.diskBytesSpilled / 1e6}%9.1fMB " +
          f"exec=${tm.executorRunTime / 1000.0}%8.1fs " +
          si.name.linesIterator.next())
      }
    }
    spark.stop()
  }
}
