package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval of the traced run. Times are epoch
  * microseconds, so the benchmark's own spans and the listener's
  * job/stage times share one clock.
  */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startUs: Long, endUs: Long, attrs: Map[String, Double] = Map.empty) {
  def durUs: Long = endUs - startUs
}

object Spans {
  private val origin = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs(): Long = origin + System.nanoTime() / 1000L

  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover (children may overlap each other). */
  def selfUs(span: Span, children: Seq[Span]): Long =
    span.durUs - covered(span.startUs, span.endUs, children.map(c => (c.startUs, c.endUs)))

  def toJson(spans: Seq[Span]): String = spans.map { s =>
    val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"kind":"${s.kind}",""" +
      s""""start_us":${s.startUs},"end_us":${s.endUs},"attrs":{$attrs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Spark-side attribution from the public listener API: every job,
  * with its job group, call site, stages and summed task metrics.
  * Events arrive on Spark's listener thread; [[jobs]] is read after
  * the SparkContext has stopped, which drains the event queue.
  */
class JobListener extends SparkListener {
  final class StageRec(val id: Int) {
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var resultBytes = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var submitMs = 0L
    var endMs = 0L
  }
  final class JobRec(val id: Int, val group: String, val callSite: String,
      val startMs: Long, val stageIds: Seq[Int]) {
    var endMs = 0L
  }

  private val jobRecs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageRecs = mutable.HashMap.empty[Int, StageRec]
  private def stage(id: Int): StageRec = stageRecs.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    // the result stage is named after the action's call site, e.g.
    // "treeAggregate at BaumWelch.scala:170"
    val callSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobRecs(e.jobId) = new JobRec(e.jobId, group.getOrElse(""), callSite, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobRecs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
    s.endMs = e.stageInfo.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.resultBytes += m.resultSize
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def jobs: Seq[JobRec] = synchronized(jobRecs.values.toSeq)
  /** Stages that ran (skipped stages of a job never complete). */
  def stagesOf(j: JobRec): Seq[StageRec] = synchronized(j.stageIds.flatMap(stageRecs.get))
}
