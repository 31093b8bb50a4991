package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics summed per Spark job group. The harness sets the job group
  * to the op's id before each op, so every job an op starts is charged to
  * that op. */
class ExecListener extends SparkListener {

  final class Totals {
    var cpuNs = 0L; var tasks = 0L; var shuffleBytes = 0L
    var spillBytes = 0L; var gcMs = 0L
  }

  private val groupOfStage = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Totals]()

  override def onJobStart(job: SparkListenerJobStart): Unit = {
    val group = Option(job.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    job.stageIds.foreach(groupOfStage.put(_, group))
  }

  override def onTaskEnd(task: SparkListenerTaskEnd): Unit =
    Option(task.taskMetrics).foreach { m =>
      val t = byGroup.computeIfAbsent(
        groupOfStage.getOrDefault(task.stageId, ""), _ => new Totals)
      t.synchronized {
        t.cpuNs += m.executorCpuTime
        t.tasks += 1
        t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.gcMs += m.jvmGCTime
      }
    }

  def totals(group: String): Option[Totals] = Option(byGroup.get(group))
}
