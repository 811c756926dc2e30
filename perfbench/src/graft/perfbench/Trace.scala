package graft.perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** The benchmark's own SparkListener. While `on`, it keeps one record per
  * job and per stage attempt (wall interval, call sites, task run times,
  * shuffle, spill and GC) in memory; the workloads turn the records into
  * per-layer numbers after each traced pass. Nothing here runs inside the
  * program under test. */
final class Trace extends SparkListener {

  /** `cached` holds (RDD id, RDD name) of the persisted RDDs in the stage. */
  final class StageRec(val id: Int, val name: String, val sites: String,
      val cached: Seq[(Int, String)]) {
    var submitted = 0L
    var completed = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
    var runMs = 0L
    var gcMs = 0L
    var spill = 0L
    var shuffleWrite = 0L
    /** True if any call site of the stage or its RDDs names `file`. */
    def in(file: String): Boolean = sites.contains(file)
  }

  /** `op` is the submitting thread's "perfbench.op" local property. */
  final case class JobRec(id: Int, start: Long, name: String, op: String)

  @volatile var on = false
  /** Records of jobs and stages that started after this wall-clock time are
    * left out of `stages` and `jobs`. */
  @volatile var until = Long.MaxValue
  private val stageMap = mutable.LinkedHashMap[(Int, Int), StageRec]()
  private val jobBuf = mutable.ArrayBuffer[JobRec]()

  def reset(): Unit = synchronized { stageMap.clear(); jobBuf.clear(); until = Long.MaxValue }

  /** Completed stage attempts, in completion order. */
  def stages: Seq[StageRec] = synchronized {
    stageMap.values.filter(s => s.completed > 0 && s.submitted <= until).toSeq.sortBy(_.completed)
  }

  def jobs: Seq[JobRec] = synchronized(jobBuf.filter(_.start <= until).toList)

  private def key(si: StageInfo) = (si.stageId, si.attemptNumber())

  private def rec(si: StageInfo): StageRec = stageMap.getOrElseUpdate(key(si), {
    val sites = (si.name +: si.rddInfos.map(_.callSite)).mkString("\n")
    val cached = si.rddInfos.filter(_.storageLevel.useMemory).map(r => (r.id, r.name)).toSeq
    new StageRec(si.stageId, si.name, sites, cached)
  })

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    val name = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op"))).getOrElse("")
    jobBuf += JobRec(e.jobId, e.time, name, op)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) synchronized {
    rec(e.stageInfo).submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) synchronized {
    val r = rec(e.stageInfo)
    if (r.submitted == 0) r.submitted = e.stageInfo.submissionTime.getOrElse(0L)
    r.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) synchronized {
    stageMap.get((e.stageId, e.stageAttemptId)).foreach { r =>
      val m = e.taskMetrics
      r.taskMs += e.taskInfo.duration
      r.runMs += m.executorRunTime
      r.gcMs += m.jvmGCTime
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }
}

object Trace {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  /** Max over median task time of one stage (1.0 = perfectly even). */
  def skew(r: Trace#StageRec): Double = {
    val med = median(r.taskMs.map(_.toDouble).toSeq)
    if (r.taskMs.isEmpty || med <= 0) 1.0 else r.taskMs.max / med
  }

  /** Milliseconds of [from, to) covered by at least one stage interval. */
  def covered(stages: Seq[Trace#StageRec], from: Long, to: Long): Long = {
    val iv = stages.map(s => (math.max(s.submitted, from), math.min(s.completed, to)))
      .filter(p => p._2 > p._1).sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
