package perfbench

import org.apache.spark.{ListenerBusAccess, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One finished stage with its tasks' metrics folded in. */
final case class StageRec(
    id: Int, name: String, submitMs: Long, completeMs: Long,
    taskDurS: Vector[Double], cpuS: Double, gcS: Double,
    outputMb: Double, shuffleWriteMb: Double, spillMb: Double) {
  def taskS: Double = taskDurS.sum
}

/** One job: its stages, the call site that ran it and the SQL execution
  * it belongs to.
  */
final case class JobRec(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int],
    callSite: String, details: String, execId: Option[Long])

/** One user action: a root SQL execution (its description is the action's
  * call site, its details the call stack), or a job run outside SQL.
  */
final case class Action(name: String, details: String, startMs: Long, endMs: Long,
    jobs: Seq[JobRec], sql: Boolean) {
  def wallS: Double = (endMs - startMs) / 1e3
}

/** Span recorder for the traced run: a SparkListener that keeps every
  * task, stage and job event in memory; nothing is written until the
  * benchmark ends. Events arrive on Spark's listener-bus thread, so the
  * recorder adds no thread of its own.
  */
final class Recorder extends SparkListener {
  private final case class TaskRec(stageId: Int, durS: Double, cpuS: Double, gcS: Double,
      outB: Long, swB: Long, spillB: Long)

  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stageInfos = new ConcurrentLinkedQueue[StageInfo]()
  private val jobStarts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
  private val jobEnds = new ConcurrentLinkedQueue[SparkListenerJobEnd]()
  private val execStarts = new ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
  private val execEnds = new ConcurrentLinkedQueue[SparkListenerSQLExecutionEnd]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.duration / 1e3,
      m.executorCpuTime / 1e9, m.jvmGCTime / 1e3, m.outputMetrics.bytesWritten,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stageInfos.add(e.stageInfo)
  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add(e)
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execStarts.add(s)
    case x: SparkListenerSQLExecutionEnd => execEnds.add(x)
    case _ =>
  }

  def clear(): Unit = {
    tasks.clear(); stageInfos.clear(); jobStarts.clear(); jobEnds.clear()
    execStarts.clear(); execEnds.clear()
  }

  /** Block until every event already posted has been delivered. */
  def drain(sc: SparkContext): Unit = ListenerBusAccess.waitUntilEmpty(sc)

  def stages: Vector[StageRec] = {
    val byStage = tasks.asScala.toVector.groupBy(_.stageId)
    stageInfos.asScala.toVector.filter(_.completionTime.isDefined).map { si =>
      val ts = byStage.getOrElse(si.stageId, Vector.empty)
      val mb = 1048576.0
      StageRec(si.stageId, si.name, si.submissionTime.getOrElse(0L), si.completionTime.get,
        ts.map(_.durS), ts.map(_.cpuS).sum, ts.map(_.gcS).sum,
        ts.map(_.outB).sum / mb, ts.map(_.swB).sum / mb, ts.map(_.spillB).sum / mb)
    }.sortBy(_.id)
  }

  /** Action, job and stage spans relative to `t0Ms`, for the run report. */
  def spans(t0Ms: Long): Seq[Map[String, Any]] =
    actions.map(a => Map[String, Any]("action" -> a.name, "sql" -> a.sql,
      "caller" -> a.details.linesIterator.filter(_.contains("graft.")).take(2).mkString(" < "),
      "start_s" -> (a.startMs - t0Ms) / 1e3, "end_s" -> (a.endMs - t0Ms) / 1e3,
      "jobs" -> a.jobs.map(_.id))) ++
    jobs.map(j => Map[String, Any]("job" -> j.id, "exec" -> j.execId,
      "start_s" -> (j.startMs - t0Ms) / 1e3, "end_s" -> (j.endMs - t0Ms) / 1e3,
      "stages" -> j.stageIds)) ++
      stages.map(s => Map[String, Any]("stage" -> s.id, "name" -> s.name,
        "start_s" -> (s.submitMs - t0Ms) / 1e3, "end_s" -> (s.completeMs - t0Ms) / 1e3,
        "tasks" -> s.taskDurS.size, "task_s" -> s.taskS, "shuffle_write_mb" -> s.shuffleWriteMb,
        "output_mb" -> s.outputMb))

  def jobs: Vector[JobRec] = {
    val ends = jobEnds.asScala.map(e => e.jobId -> e.time).toMap
    jobStarts.asScala.toVector.map { s =>
      val last = s.stageInfos.maxBy(_.stageId)
      val exec = Option(s.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      JobRec(s.jobId, s.time, ends.getOrElse(s.jobId, s.time), s.stageIds,
        last.name, last.details, exec.map(_.toLong))
    }.sortBy(_.id)
  }

  /** User actions in start order: root SQL executions with every job of
    * their nested executions, and jobs run outside SQL (consecutive jobs
    * with one call site form one action).
    */
  def actions: Vector[Action] = {
    val starts = execStarts.asScala.toVector
    val ends = execEnds.asScala.map(e => e.executionId -> e.time).toMap
    val rootOf = starts.map(s => s.executionId -> s.rootExecutionId.getOrElse(s.executionId)).toMap
    val js = jobs
    val byRoot = js.filter(_.execId.isDefined).groupBy(j => rootOf.getOrElse(j.execId.get, j.execId.get))
    val sql = starts.filter(s => rootOf(s.executionId) == s.executionId).map { s =>
      Action(s.description, s.details, s.time, ends.getOrElse(s.executionId, s.time),
        byRoot.getOrElse(s.executionId, Vector.empty), sql = true)
    }
    val plain = js.filter(_.execId.isEmpty).foldLeft(Vector.empty[Vector[JobRec]]) { (acc, j) =>
      if (acc.nonEmpty && acc.last.head.callSite == j.callSite) acc.init :+ (acc.last :+ j)
      else acc :+ Vector(j)
    }.map(g => Action(g.head.callSite, g.head.details, g.map(_.startMs).min, g.map(_.endMs).max,
      g, sql = false))
    (sql ++ plain).sortBy(_.startMs)
  }
}

/** Sums over a set of stages, reported under one phase name. */
object Phase {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Wall time covered by the union of the stages' [submit, complete]. */
  def spanS(ss: Seq[StageRec]): Double = unionS(ss.map(s => (s.submitMs, s.completeMs)))

  /** Wall time covered by the union of [start, end] intervals in ms. */
  def unionS(intervals: Seq[(Long, Long)]): Double =
    if (intervals.isEmpty) 0.0
    else {
      val iv = intervals.sortBy(_._1)
      var total = 0L
      var (lo, hi) = iv.head
      iv.tail.foreach { case (a, b) =>
        if (a > hi) { total += hi - lo; lo = a; hi = b } else hi = math.max(hi, b)
      }
      (total + hi - lo) / 1e3
    }

  /** The six stage-phase metrics the benchmark reports per phase. */
  def metrics(prefix: String, ss: Seq[StageRec]): Seq[(String, Double)] = {
    val durs = ss.flatMap(_.taskDurS)
    Seq(
      s"$prefix.wall_s" -> spanS(ss),
      s"$prefix.task_s" -> durs.sum,
      s"$prefix.cpu_s" -> ss.map(_.cpuS).sum,
      s"$prefix.gc_s" -> ss.map(_.gcS).sum,
      s"$prefix.task_p50_s" -> median(durs),
      s"$prefix.task_max_s" -> (if (durs.isEmpty) 0.0 else durs.max))
  }
}
