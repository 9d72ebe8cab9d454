package perfbench

import org.apache.spark.scheduler._

/** Spark work counted per job group (the benchmark tags each traced call
  * and each batch query with its own group; untagged work lands in ""). */
final class SparkCounters extends SparkListener {

  final class Agg {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  private val byGroup = scala.collection.mutable.Map[String, Agg]()
  private val stageGroup = scala.collection.mutable.Map[Int, String]()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def agg(g: String): Agg = byGroup.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    agg(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageInfo.stageId, group(e.properties))
    agg(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot(g: String): SparkCounters.Counts = synchronized {
    val a = byGroup.getOrElse(g, new Agg)
    SparkCounters.Counts(a.jobs, a.stages, a.tasks, a.cpuNs, a.shuffleBytes, a.spillBytes)
  }

  def totalJobs: Long = synchronized(byGroup.values.map(_.jobs).sum)
}

object SparkCounters {
  /** Work of one job group: shuffle counts bytes read plus bytes written,
    * spill counts memory plus disk bytes. */
  final case class Counts(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
      shuffleBytes: Long, spillBytes: Long)
}
