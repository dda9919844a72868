package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.jdk.CollectionConverters._

/** Metrics of one finished task, in ms unless named otherwise. */
final case class TaskRec(tag: String, stage: Int, durationMs: Long, runMs: Long, cpuMs: Double,
    gcMs: Long, deserializeMs: Long, schedulerDelayMs: Long, fetchWaitMs: Long,
    shuffleWriteBytes: Long)

/** Collects task metrics and job counts per benchmark tag. A tag is a
  * thread-local Spark property set around an operation ([[tagged]]);
  * every job the operation starts, and every task of those jobs, carries it.
  */
final class TaskListener extends SparkListener {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentHashMap[String, AtomicInteger]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TaskListener.Prop)))
    tag.foreach { t =>
      jobs.computeIfAbsent(t, _ => new AtomicInteger()).incrementAndGet()
      e.stageIds.foreach(stageTag.put(_, t))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.get(e.stageId)
    val m = e.taskMetrics
    if (tag != null && m != null) {
      val dur = e.taskInfo.duration
      val delay = dur - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime
      tasks.add(TaskRec(tag, e.stageId, dur, m.executorRunTime, m.executorCpuTime / 1e6,
        m.jvmGCTime, m.executorDeserializeTime, math.max(0L, delay),
        m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten))
    }
  }

  def tasksOf(tags: Set[String]): Seq[TaskRec] = tasks.asScala.filter(t => tags(t.tag)).toSeq
  def jobsOf(tag: String): Int = Option(jobs.get(tag)).map(_.get).getOrElse(0)
}

object TaskListener {
  final val Prop = "perfbench.tag"

  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    sc.setLocalProperty(Prop, tag)
    try body finally sc.setLocalProperty(Prop, null)
  }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.ListenerDrain(sc)
}
