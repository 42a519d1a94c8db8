package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Scheduler counters per benchmark phase. The harness names the phase
  * it is in with the `perfbench.phase` local property; every job
  * submitted meanwhile, and every task of its stages, is charged to that
  * phase. Task run times are also kept per stage, so a phase's busiest
  * stage (the enrichment stage) and its task skew can be read back. */
final class PhaseCounters extends SparkListener {
  import PhaseCounters._

  final class Agg {
    var jobs = 0L
    var tasks = 0L
    var runMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var gcMs = 0L
    val stageTaskMs = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private val stagePhase = mutable.Map.empty[Int, String]
  private val jobPhase = mutable.Map.empty[Int, String]
  private val aggs = mutable.LinkedHashMap.empty[String, Agg]
  private var sentinelsSeen = 0

  private def agg(phase: String): Agg = aggs.getOrElseUpdate(phase, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).getOrElse("none")
    e.stageIds.foreach(stagePhase(_) = phase)
    jobPhase(e.jobId) = phase
    agg(phase).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobPhase.remove(e.jobId).contains(Sentinel)) sentinelsSeen += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stagePhase.getOrElse(e.stageId, "none"))
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  /** Listener events arrive asynchronously. Run one marker job and wait
    * until its end event is delivered: the bus is FIFO, so every earlier
    * event has been seen by then. */
  def drain(sc: SparkContext): Unit = {
    val before = synchronized(sentinelsSeen)
    sc.setLocalProperty(Key, Sentinel)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Key, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (synchronized(sentinelsSeen) <= before && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  /** phase → counters, with per-stage task times for the enrichment
    * phases (`…/pipeline.exec`). */
  def snapshot(): Map[String, Any] = synchronized {
    aggs.iterator.filter(_._1 != Sentinel).map { case (phase, a) =>
      val base = Map[String, Any](
        "jobs" -> a.jobs, "tasks" -> a.tasks, "run_ms" -> a.runMs,
        "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_read_bytes" -> a.shuffleRead,
        "spill_bytes" -> a.spill, "gc_ms" -> a.gcMs)
      phase -> (if (phase.endsWith("pipeline.exec"))
        base + ("stage_task_ms" -> a.stageTaskMs.map { case (s, ts) => s.toString -> ts.toSeq }.toMap)
      else base)
    }.toMap
  }
}

object PhaseCounters {
  val Key = "perfbench.phase"
  private val Sentinel = "perfbench.sentinel"
}
