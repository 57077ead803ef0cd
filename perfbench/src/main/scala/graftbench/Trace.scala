package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed interval of one operation. `op` is the operation id
  * (workload/seed/name/rep) that every span of the operation shares. */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same time base as the Spark scheduler's event times. */
object Clock {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6
}

/** Spark-side events of a traced run, gathered by one `SparkListener` and
  * one `QueryExecutionListener`. Listeners run on the listener bus, so the
  * events are only buffered here; they are read after `SparkSession.stop`
  * has drained the bus. Every job carries the job group (the operation id)
  * and one job tag naming the phase that launched it (`construct`,
  * `execute`, `generate`, `convert`), both set by the harness before the
  * call it times. A query execution's Catalyst phases carry neither, so
  * they are matched to the span whose interval holds them: one client runs
  * one operation at a time. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._
  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val failedTasks = new ConcurrentLinkedQueue[Int]() // stage id per failed task
  val planned = new ConcurrentLinkedQueue[Planned]()

  private def phaseTag(tags: Iterable[String]): String =
    tags.find(Tracer.phases.contains).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs.add(Job(e.jobId, prop("spark.jobGroup.id"),
      phaseTag(prop("spark.job.tags").split(",")), e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add(e.jobId -> e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success) failedTasks.add(e.stageId)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    stages.add(Stage(i.stageId, i.numTasks, g(_.executorRunTime), g(_.executorCpuTime),
      g(_.jvmGCTime), g(_.inputMetrics.bytesRead), g(_.shuffleReadMetrics.totalBytesRead),
      g(_.shuffleWriteMetrics.bytesWritten), g(_.diskBytesSpilled)))
  }
  private def record(qe: QueryExecution): Unit =
    planned.add(Planned(qe.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs, v.endTimeMs) }))
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

object Tracer {
  final case class Job(id: Int, group: String, tag: String, startMs: Long, stages: Seq[Int])
  final case class Stage(id: Int, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                         inputBytes: Long, shuffleRead: Long, shuffleWrite: Long,
                         spillBytes: Long)
  final case class Planned(phases: Map[String, (Long, Long)]) {
    def startMs: Long = phases.values.map(_._1).minOption.getOrElse(0L)
    def endMs: Long = phases.values.map(_._2).maxOption.getOrElse(0L)
  }
  val phases: Set[String] = Set("construct", "execute", "generate", "convert")
  /** Phase spans whose jobs count as the engine executing the operation. */
  val actionPhases: Set[String] = Set("execute", "generate", "convert")
}

/** Per-layer metrics of the timed operations of a traced run, from the
  * harness's own spans plus the buffered Spark events. Times and counts
  * are means per timed operation; a layer the workload never enters reads
  * 0. Adds the Spark jobs and Catalyst phases to the span list as children
  * of the span that launched them. */
final class LayerReport(tracer: Tracer, spans: mutable.ArrayBuffer[Span], cores: Int,
                        timedOps: Seq[String]) {
  private val jobEnd = tracer.jobEnds.asScala.toMap
  private val stageById = tracer.stages.asScala.map(s => s.id -> s).toMap
  private val failedByStage = tracer.failedTasks.asScala.groupBy(identity).map { case (k, v) => k -> v.size }
  private val jobsByOp = tracer.jobs.asScala.toSeq.groupBy(_.group)
  private val planned = tracer.planned.asScala.toSeq.filter(_.phases.nonEmpty)
  private var nextId = spans.map(_.id).maxOption.getOrElse(0) + 1

  private def add(parent: Int, op: String, name: String, s: Double, e: Double): Span = {
    val sp = Span(nextId, parent, name, op, s, e)
    nextId += 1
    spans += sp
    sp
  }

  private val perOp = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]

  private def stageSum(js: Seq[Tracer.Job], f: Tracer.Stage => Double): Double =
    js.flatMap(_.stages).distinct.flatMap(stageById.get).map(f).sum

  timedOps.foreach { op =>
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    perOp(op) = m
    val jobs = jobsByOp.getOrElse(op, Nil)
    // Catalyst phases of the query executions run inside each action span
    // (phase times are whole milliseconds, hence the 1 ms slack)
    def plannedIn(name: String): Seq[Map[String, (Long, Long)]] =
      spans.filter(s => s.op == op && s.name == name).toSeq.flatMap { s =>
        planned.filter(p => p.startMs >= s.startMs - 1 && p.endMs <= s.endMs + 1).map(_.phases)
      }
    val queryPhases = plannedIn("action")
    val actionPlans = queryPhases ++ plannedIn("generate") ++ plannedIn("convert")
    // the timed action of a query splits into `plan` (up to the end of the
    // last Catalyst phase of the execution it ran) and `execute` (the rest)
    spans.find(s => s.op == op && s.name == "action").foreach { a =>
      val planEnd = queryPhases.flatMap(_.values.map(_._2.toDouble)).maxOption
        .getOrElse(a.startMs).max(a.startMs).min(a.endMs)
      spans -= a
      val plan = add(a.parent, op, "plan", a.startMs, planEnd)
      add(a.parent, op, "execute", planEnd, a.endMs)
      queryPhases.foreach(_.foreach { case (name, (s, e)) =>
        add(plan.id, op, name, s.toDouble, e.toDouble) })
    }
    val byName = spans.filter(_.op == op).toSeq.groupBy(_.name)
    // Spark jobs as children of the span whose phase launched them
    jobs.foreach { j =>
      byName.get(j.tag).flatMap(_.headOption).foreach { parent =>
        add(parent.id, op, "job", j.startMs.toDouble, jobEnd.getOrElse(j.id, j.startMs).toDouble)
      }
    }
    Seq("analysis", "optimization", "planning").foreach { ph =>
      m(s"plan.${ph}_s") = actionPlans.flatMap(_.get(ph)).map { case (s, e) => e - s }.sum / 1e3
    }
    def dur(name: String) = byName.get(name).map(_.map(_.ms).sum).getOrElse(0.0) / 1e3
    val construct = jobs.filter(_.tag == "construct")
    val action = jobs.filter(j => Tracer.actionPhases.contains(j.tag))
    m("ops.construct_s") = dur("construct")
    m("ops.construct_jobs") = construct.size
    val gen = jobs.filter(_.tag == "generate")
    val conv = jobs.filter(_.tag == "convert")
    m("gen.s") = dur("generate")
    m("gen.task_cpu_s") = stageSum(gen, _.cpuNs / 1e9)
    m("convert.s") = dur("convert")
    m("convert.task_cpu_s") = stageSum(conv, _.cpuNs / 1e9)
    m("convert.spill_mb") = stageSum(conv, _.spillBytes / 1e6)
    val execS = dur("execute") + dur("generate") + dur("convert")
    val runS = stageSum(action, _.runMs / 1e3)
    m("exec.s") = execS
    m("exec.jobs") = action.size
    m("exec.stages") = action.flatMap(_.stages).distinct.count(stageById.contains)
    m("exec.tasks") = stageSum(action, _.tasks.toDouble)
    m("exec.task_run_s") = runS
    m("exec.task_cpu_s") = stageSum(action, _.cpuNs / 1e9)
    m("exec.gc_s") = stageSum(action, _.gcMs / 1e3)
    m("exec.input_mb") = stageSum(action, _.inputBytes / 1e6)
    m("exec.shuffle_read_mb") = stageSum(action, _.shuffleRead / 1e6)
    m("exec.shuffle_write_mb") = stageSum(action, _.shuffleWrite / 1e6)
    m("exec.spill_mb") = stageSum(action, _.spillBytes / 1e6)
    m("exec.failed_tasks") = action.flatMap(_.stages).distinct
      .map(failedByStage.getOrElse(_, 0)).sum
    m("exec.core_busy_frac") = if (execS > 0) runS / (execS * cores) else 0.0
    m("exec.driver_gap_s") = execS - runS / cores
  }

  private lazy val kids = spans.toSeq.groupBy(_.parent)

  /** Milliseconds of a span covered by the union of its children's
    * intervals. */
  private def coveredMs(s: Span): Double = {
    val cs = kids.getOrElse(s.id, Nil).map(c => (c.startMs max s.startMs, c.endMs min s.endMs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var end = Double.MinValue
    cs.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }

  // self time per span name, per timed operation: a span's duration minus
  // the union of its children's intervals
  spans.filter(s => perOp.contains(s.op)).foreach { s =>
    perOp(s.op)(s"self.${s.name}_s") += (s.ms - coveredMs(s)) / 1e3
  }

  /** One row per timed query: its wall time split into construct, plan and
    * execute, each with the milliseconds its children cover (Spark jobs;
    * Catalyst phases for plan) and its job count. */
  def attribution: Seq[ListMap[String, Any]] =
    spans.toSeq.filter(s => s.name == "query" && perOp.contains(s.op)).map { q =>
      val parts = kids.getOrElse(q.id, Nil).map(c => c.name -> c).toMap
      ListMap[String, Any]("op" -> q.op, "query" -> q.op.split("/")(2), "wall_ms" -> q.ms) ++
        Seq("construct", "plan", "execute").flatMap { n =>
          parts.get(n).toSeq.flatMap(p => Seq(s"${n}_ms" -> p.ms,
            s"${n}_covered_ms" -> coveredMs(p),
            s"${n}_jobs" -> kids.getOrElse(p.id, Nil).count(_.name == "job")))
        }
    }

  /** Mean over the timed operations of each metric. */
  def means(names: Seq[String]): Seq[(String, Double)] = names.map { n =>
    n -> (if (perOp.isEmpty) 0.0 else perOp.values.map(_.getOrElse(n, 0.0)).sum / perOp.size)
  }
}
