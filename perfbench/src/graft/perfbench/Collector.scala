package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Run totals of the jobs that carried one job group (one traced
  * iteration or one ladder step). */
final case class Totals(jobs: Int, stages: Int, tasks: Int, taskMs: Double, cpuMs: Double,
    gcMs: Double, inBytes: Double, inRecords: Double, shuffleRead: Double, shuffleWrite: Double,
    spill: Double, failedTasks: Int, jobSpans: Seq[(Long, Long)])

/** Spark listener for the traced run only: records every job, stage and
  * task with the job group the benchmark set, and the final plan of every
  * SQL execution. End-to-end runs never attach it. */
final class Collector extends SparkListener {
  final case class Job(id: Int, group: String, execId: Long, start: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, name: String, submit: Long, complete: Long, tasks: Int,
      runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long, inRecords: Long,
      shRead: Long, shWrite: Long, spill: Long)
  final case class Task(stageId: Int, runMs: Long, shReadRecords: Long, ok: Boolean)

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new java.util.concurrent.ConcurrentHashMap[Long, SparkPlanInfo]()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val p = Option(js.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
    jobs.add(Job(js.jobId, group, exec, js.time, js.stageIds))
  }
  override def onJobEnd(je: SparkListenerJobEnd): Unit = jobEnds.put(je.jobId, je.time)
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(Stage(i.stageId, i.name, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), i.numTasks, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
  }
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    tasks.add(Task(te.stageId, if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleReadMetrics.recordsRead, te.taskInfo.successful))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(u.executionId, u.sparkPlanInfo)
    case _ => ()
  }

  private def jobsOf(group: String): Seq[Job] = jobs.asScala.filter(_.group == group).toSeq
  private def stagesOf(group: String): Seq[Stage] = {
    val ids = jobsOf(group).flatMap(_.stageIds).toSet
    stages.asScala.filter(s => ids(s.id)).toSeq
  }

  def totals(group: String): Totals = {
    val js = jobsOf(group)
    val ss = stagesOf(group)
    val ids = ss.map(_.id).toSet
    val ts = tasks.asScala.filter(t => ids(t.stageId)).toSeq
    Totals(js.size, ss.size, ss.map(_.tasks).sum, ss.map(_.runMs).sum.toDouble,
      ss.map(_.cpuNs).sum / 1e6, ss.map(_.gcMs).sum.toDouble, ss.map(_.inBytes).sum.toDouble,
      ss.map(_.inRecords).sum.toDouble, ss.map(_.shRead).sum.toDouble,
      ss.map(_.shWrite).sum.toDouble, ss.map(_.spill).sum.toDouble, ts.count(!_.ok),
      js.map(j => (j.start, Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.start))))
  }

  /** Jobs started before `untilMs` — the eager work an entry did before it
    * returned its DataFrame. */
  def jobsBefore(group: String, untilMs: Double): Int = jobsOf(group).count(_.start <= untilMs)

  /** max ÷ median task run time of the group's heaviest stage (for the
    * sink step, the writer). */
  def heaviestStageSkew(group: String): Double = {
    val heaviest = stagesOf(group).sortBy(-_.runMs).headOption
    heaviest.map(s => skew(tasks.asScala.filter(t => t.stageId == s.id && t.ok).map(_.runMs.toDouble).toSeq))
      .getOrElse(0.0)
  }

  /** max ÷ median shuffle records read per task, over the group's stages
    * that read a shuffle (the reducers of an aggregation). */
  def reducerSkew(group: String): Double = {
    val ids = stagesOf(group).filter(_.shRead > 0).map(_.id).toSet
    skew(tasks.asScala.filter(t => ids(t.stageId) && t.ok).map(_.shReadRecords.toDouble).toSeq)
  }

  private def skew(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val m = Stats.median(xs); if (m <= 0) 0.0 else xs.max / m }

  /** Distinct round-robin exchanges (the Spread repartition) in the final
    * plans of the group's SQL executions. A cached plan appears under every
    * scan of its cache; its exchange keeps one plan id and counts once. */
  def roundRobinExchanges(group: String): Int = {
    def collect(p: SparkPlanInfo): Seq[String] =
      (if (p.simpleString.contains("RoundRobinPartitioning")) Seq(p.simpleString) else Nil) ++
        p.children.flatMap(collect)
    jobsOf(group).map(_.execId).filter(_ >= 0).distinct
      .flatMap(e => Option(plans.get(e))).flatMap(collect).distinct.size
  }

  /** Job and stage spans of a group, as children of `parent`. */
  def spans(group: String, trace: String, parent: String, out: Spans): Unit =
    jobsOf(group).sortBy(_.id).foreach { j =>
      val jid = out.add(trace, parent, s"job ${j.id}", j.start.toDouble,
        Option(jobEnds.get(j.id)).map(_.doubleValue).getOrElse(j.start.toDouble), "spark")
      stages.asScala.filter(s => j.stageIds.contains(s.id)).toSeq.sortBy(_.id).foreach { s =>
        out.add(trace, jid, s"stage ${s.id}: ${s.name.takeWhile(_ != '\n').take(80)}",
          s.submit.toDouble, s.complete.toDouble, "spark")
      }
    }
}

/** In-memory span log (name, start, end, parent, trace id), written out as
  * JSON lines when the run exits. Times are epoch milliseconds. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[String]
  private var next = 0
  def add(trace: String, parent: String, name: String, startMs: Double, endMs: Double,
          module: String): String = synchronized {
    next += 1
    val id = s"s$next"
    buf += Json.obj(Seq("trace" -> Json.str(trace), "span" -> Json.str(id),
      "parent" -> (if (parent == null) "null" else Json.str(parent)), "name" -> Json.str(name),
      "module" -> Json.str(module), "start_ms" -> Json.num(startMs), "end_ms" -> Json.num(endMs)))
    id
  }
  def write(path: String): Unit = synchronized {
    java.nio.file.Files.write(java.nio.file.Paths.get(path), buf.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Epoch milliseconds with sub-millisecond resolution. */
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
