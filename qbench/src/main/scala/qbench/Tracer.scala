package qbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark-side spans of the traced passes: one span per job and per stage,
  * tied to its request by the job group (the request id) and to its phase
  * (construct / plan / exec) by a local property. Events are kept in memory
  * and written when the run ends; nothing is recorded while `on` is false. */
final class Tracer extends SparkListener {
  import Tracer._
  @volatile var on = false

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val events = new java.util.concurrent.atomic.AtomicLong

  private def tag(p: java.util.Properties): Option[(String, String)] =
    Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")).map(
      _ -> Option(p.getProperty(Tracer.PhaseKey)).getOrElse("unknown")))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on)
    tag(e.properties).foreach { case (rid, phase) => synchronized {
      events.incrementAndGet()
      jobs(e.jobId) = Job(e.jobId, rid, phase, e.time, 0L, e.stageIds)
    } }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j => j.end = e.time; events.incrementAndGet() }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on)
    tag(e.properties).foreach { case (rid, phase) => synchronized {
      val i = e.stageInfo
      val s = Stage(i.stageId, i.attemptNumber(), rid, phase)
      s.start = i.submissionTime.getOrElse(System.currentTimeMillis())
      s.job = jobs.values.find(j => j.rid == rid && j.stages.contains(i.stageId))
        .map(_.id).getOrElse(-1)
      stages((i.stageId, i.attemptNumber())) = s
      events.incrementAndGet()
    } }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.end = i.completionTime.getOrElse(System.currentTimeMillis())
      events.incrementAndGet()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      val m = e.taskMetrics
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      events.incrementAndGet()
    }
  }

  /** Waits until the asynchronous listener bus has delivered everything:
    * the event count must stay unchanged for `quietMs` (at most `maxMs`). */
  def drain(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    var since = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
        System.currentTimeMillis() - since < quietMs) {
      Thread.sleep(50)
      val n = events.get
      if (n != last) { last = n; since = System.currentTimeMillis() }
    }
  }

  /** The job and stage spans as JSON lines (times in epoch microseconds). */
  def spanLines: Seq[String] = synchronized {
    val js = jobs.values.toSeq.map { j =>
      s"""{"rid":"${j.rid}","id":"job${j.id}","parent":"${j.rid}/${j.phase}",""" +
        s""""name":"job","phase":"${j.phase}","start_us":${j.start * 1000},"end_us":${j.end * 1000}}"""
    }
    val ss = stages.values.toSeq.map { s =>
      val parent = if (s.job >= 0) s"job${s.job}" else s"${s.rid}/${s.phase}"
      s"""{"rid":"${s.rid}","id":"stage${s.id}.${s.attempt}","parent":"$parent",""" +
        s""""name":"stage","phase":"${s.phase}","start_us":${s.start * 1000},"end_us":${s.end * 1000},""" +
        s""""tasks":${s.tasks},"run_ms":${s.runMs},"cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs},""" +
        s""""shuffle_read":${s.shuffleRead},"shuffle_write":${s.shuffleWrite},"spill":${s.spill}}"""
    }
    js ++ ss
  }
}

object Tracer {
  /** The local property that carries a job's request phase. */
  val PhaseKey = "qbench.phase"

  final case class Job(id: Int, rid: String, phase: String, start: Long,
      var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, rid: String, phase: String,
      var job: Int = -1, var start: Long = 0, var end: Long = 0,
      var tasks: Int = 0, var runMs: Long = 0, var cpuNs: Long = 0,
      var gcMs: Long = 0, var shuffleRead: Long = 0, var shuffleWrite: Long = 0,
      var spill: Long = 0)
}
