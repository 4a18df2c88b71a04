package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Scoped phase labels for the jobs the benchmark's own calls start.
  *
  * The label is a SparkContext local property, so every job submitted
  * from the calling thread (and from threads it starts afterwards, such
  * as a streaming query's execution thread) carries it. Nothing inside
  * the program is touched: the benchmark sets the label around its calls
  * into the program's public entry points. */
object Phases {
  val Key = "graftbench.phase"

  def label(pass: Int, unit: String, phase: String): String =
    s"$pass|$unit|$phase"

  def within[A](sc: SparkContext, lbl: String)(body: => A): A = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, lbl)
    try body finally sc.setLocalProperty(Key, prev)
  }
}

/** Scheduler and task counters folded per phase label; jobs submitted
  * without a label fold under "unlabelled". Listener events arrive
  * asynchronously: read [[snapshot]] after `SparkContext.stop()`, which
  * drains the listener bus. [[busySeconds]] is the time spent in these
  * callbacks: the tracing's whole added work. */
final class PhaseCounters extends SparkListener {
  private val stagePhase = mutable.HashMap.empty[Int, String]
  private val totals = mutable.HashMap.empty[String, mutable.Map[String, Double]]
  private var busyNs = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }

  def busySeconds: Double = synchronized(busyNs / 1e9)

  private def add(lbl: String, field: String, v: Double): Unit = {
    val r = totals.getOrElseUpdate(lbl, mutable.HashMap.empty[String, Double])
    r(field) = r.getOrElse(field, 0.0) + v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val lbl = Option(e.properties).flatMap(p => Option(p.getProperty(Phases.Key)))
      .getOrElse("unlabelled")
    add(lbl, "jobs", 1)
    add(lbl, "stages", e.stageInfos.size)
    e.stageInfos.foreach(s => stagePhase(s.stageId) = lbl)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    stagePhase.get(e.stageInfo.stageId).foreach(add(_, "stages_run", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    stagePhase.get(e.stageId).foreach(fold(_, e))
  }

  private def fold(lbl: String, e: SparkListenerTaskEnd): Unit = {
    add(lbl, "tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(lbl, "task_s", m.executorRunTime / 1e3)
      add(lbl, "task_cpu_s", m.executorCpuTime / 1e9)
      add(lbl, "gc_s", m.jvmGCTime / 1e3)
      add(lbl, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(lbl, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add(lbl, "fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(lbl, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add(lbl, "scan_bytes", m.inputMetrics.bytesRead)
      add(lbl, "scan_rows", m.inputMetrics.recordsRead)
    }
  }

  /** label -> counter -> value */
  def snapshot: Map[String, Map[String, Double]] = synchronized {
    totals.map { case (k, v) => k -> v.toMap }.toMap
  }
}
