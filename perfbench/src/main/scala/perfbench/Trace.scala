package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-level execution totals per job group, read from Spark's public
  * listener events. A request runs under its own job group; a streaming
  * query runs its jobs under its run id.
  */
final class ExecListener extends SparkListener {

  final class Agg {
    var jobs, stages, tasks = 0L
    // Listener-clock submission and end time of each of the group's jobs.
    val jobTimes = mutable.Map[Int, Array[Long]]()
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs, spill,
        inputRows = 0L
    val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

    /** Worst stage's max ÷ median task duration (stages of ≥ 2 tasks). */
    def skew: Double = {
      val ratios = taskMs.values.filter(_.size >= 2).map { ds =>
        val s = ds.sorted
        val med = s((s.size - 1) / 2).max(1L)
        s.last.toDouble / med
      }
      if (ratios.isEmpty) 1.0 else ratios.max
    }

    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_run_ms" -> runMs, "task_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "shuffle_wait_ms" -> fetchWaitMs, "spill_bytes" -> spill,
      "input_rows" -> inputRows, "task_skew" -> skew,
      "job_times_ms" -> jobTimes.toSeq.sortBy(_._1).map(_._2.toSeq),
      "stage_spans" -> taskMs.toSeq.sortBy(_._1).map { case (id, ds) =>
        val s = ds.sorted
        Map("stage" -> id, "tasks" -> s.size, "task_ms_max" -> s.last,
            "task_ms_median" -> s((s.size - 1) / 2))
      })
  }

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val aggs = new ConcurrentHashMap[String, Agg]()

  private def agg(group: String): Agg = aggs.computeIfAbsent(group, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      val a = agg(g)
      a.synchronized {
        a.jobs += 1
        a.jobTimes(e.jobId) = Array(e.time, e.time)
      }
      e.stageIds.foreach(s => stageGroup.put(s, g))
      jobGroup.put(e.jobId, g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { g =>
      val a = agg(g)
      a.synchronized { a.jobTimes.get(e.jobId).foreach(_(1) = e.time) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val a = agg(g)
      a.synchronized { a.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val a = agg(g)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputRows += m.inputMetrics.recordsRead
        }
      }
    }

  /** Totals for one group, after every event posted so far is delivered. */
  def read(sc: SparkContext, group: String): Map[String, Any] = {
    org.apache.spark.BenchBus.drain(sc)
    val a = agg(group)
    a.synchronized(a.toMap)
  }
}
