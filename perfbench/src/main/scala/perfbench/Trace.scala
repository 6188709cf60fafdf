package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, so the
  * benchmark's own spans line up with Spark's event timestamps. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One operation the client thread ran. `buildEndMs` splits the call
  * into the part that builds the result (`QueryDef.fn`, or a verb's
  * whole call) and the part that executes it. `stats` carries what a
  * `Layout` verb returned and what a read's scan reported. */
final case class OpRec(
    id: String, name: String, kind: String, phase: String, pass: Int,
    startMs: Double, buildEndMs: Double, endMs: Double,
    ok: Boolean, err: String, stats: Map[String, Double] = Map.empty) {
  def durS: Double = (endMs - startMs) / 1e3
}

final case class JobRec(id: Int, group: String, submitMs: Double,
                        stageIds: Seq[Int], var endMs: Double = Double.NaN)
final case class StageRec(id: Int, submitMs: Double, endMs: Double)
final case class TaskRec(stageId: Int, launchMs: Double, finishMs: Double,
                         runMs: Double, cpuNs: Double, gcMs: Double,
                         shuffleReadB: Double, shuffleWriteB: Double,
                         spillB: Double, inputB: Double, outputB: Double)
final case class PlanRec(phases: Map[String, (Double, Double)])

/** Listens from outside the program: a `SparkListener` for jobs,
  * stages and tasks, and a `QueryExecutionListener` for the planning
  * phases `QueryPlanningTracker` records. Events are only queued here;
  * [[Layers]] aggregates them once the run is over. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Double]()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val j = JobRec(e.jobId, group.getOrElse(""), e.time.toDouble, e.stageIds)
    jobById.put(e.jobId, j)
    jobs.add(j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val start = Option(stageSubmit.get(i.stageId)).map(_.doubleValue)
      .orElse(i.submissionTime.map(_.toDouble)).getOrElse(Double.NaN)
    stages.add(StageRec(i.stageId, start,
      i.completionTime.map(_.toDouble).getOrElse(Clock.nowMs)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    val m = e.taskMetrics
    if (m == null) tasks.add(TaskRec(e.stageId, ti.launchTime.toDouble,
      ti.finishTime.toDouble, 0, 0, 0, 0, 0, 0, 0, 0))
    else tasks.add(TaskRec(e.stageId, ti.launchTime.toDouble, ti.finishTime.toDouble,
      m.executorRunTime.toDouble, m.executorCpuTime.toDouble, m.jvmGCTime.toDouble,
      m.shuffleReadMetrics.totalBytesRead.toDouble,
      m.shuffleWriteMetrics.bytesWritten.toDouble,
      (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      m.inputMetrics.bytesRead.toDouble, m.outputMetrics.bytesWritten.toDouble))
  }

  def record(qe: QueryExecution): Unit =
    plans.add(PlanRec(qe.tracker.phases.map { case (k, p) =>
      k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Sorted, merged interval sets: the covered length of a union, and
  * of a union clipped to a window. */
object Intervals {
  type Iv = (Double, Double)

  def merge(ivs: Iterable[Iv]): Vector[Iv] = {
    val out = mutable.ArrayBuffer.empty[Iv]
    ivs.filter(iv => iv._2 > iv._1).toVector.sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toVector
  }

  def coveredIn(merged: Vector[Iv], lo: Double, hi: Double): Double =
    merged.iterator.map { case (a, b) => math.max(0.0, math.min(b, hi) - math.max(a, lo)) }.sum
}

/** Turns the traced phase's operations and listener events into the
  * per-layer metrics and the span list. Counts and times are per pass
  * (one pass of every query, or one `table_rw` cycle). */
object Layers {
  import Intervals._

  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        startMs: Double, endMs: Double)

  def opAt(ops: Seq[OpRec], tMs: Double): Option[OpRec] =
    ops.find(o => tMs >= o.startMs && tMs <= o.endMs)

  def aggregate(tr: Tracer, ops: Seq[OpRec], passes: Int, cpus: Int,
                queryNames: Seq[String])
      : (Map[String, Double], Seq[(Int, Map[String, Double])], Seq[Span]) = {
    tr.drain()
    val p = math.max(passes, 1).toDouble
    val jobs = tr.jobs.asScala.toVector.filter(j => opAt(ops, j.submitMs).nonEmpty)
    val jobStageIds = jobs.flatMap(_.stageIds).toSet
    val stages = tr.stages.asScala.toVector.filter(s => jobStageIds.contains(s.id))
    val stageIds = stages.map(_.id).toSet
    val tasks = tr.tasks.asScala.toVector.filter(t => stageIds.contains(t.stageId))
    val plans = tr.plans.asScala.toVector.filter(pl =>
      pl.phases.values.exists(ph => opAt(ops, ph._1).nonEmpty))

    val taskIv = merge(tasks.map(t => (t.launchMs, t.finishMs)))
    val jobIv = merge(jobs.map(j => (j.submitMs, if (j.endMs.isNaN) j.submitMs else j.endMs)))
    val planIv = merge(plans.flatMap(_.phases.values))
    val opWall = ops.map(o => o.endMs - o.startMs).sum
    def covered(m: Vector[Iv]): Double = ops.map(o => coveredIn(m, o.startMs, o.endMs)).sum
    val execCov = covered(taskIv)
    val jobOrTaskCov = covered(merge(jobIv ++ taskIv))
    val planJobTaskCov = covered(merge(jobIv ++ taskIv ++ planIv))

    def phaseSum(name: String): Double =
      plans.flatMap(_.phases.get(name)).map(ph => ph._2 - ph._1).sum / 1e3
    val buildOps = ops.filter(_.kind == "query")
    def jobsOf(o: OpRec): Vector[JobRec] =
      jobs.filter(j => j.submitMs >= o.startMs && j.submitMs <= o.endMs)
    val buildJobs = buildOps.map(o =>
      jobsOf(o).count(j => j.submitMs <= o.buildEndMs)).sum
    // a job is attributed when it carries the group of the operation
    // that was running when it was submitted
    val unattributed = jobs.count { j =>
      opAt(ops, j.submitMs).forall(o => !j.group.startsWith(o.id + "|"))
    }
    val taskTime = tasks.map(t => t.finishMs - t.launchMs).sum

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("queries.build_s") = buildOps.map(o => o.buildEndMs - o.startMs).sum / 1e3 / p
    m("queries.build_jobs") = buildJobs / p
    m("plans.analysis_s") = phaseSum("analysis") / p
    m("plans.optimization_s") = phaseSum("optimization") / p
    m("plans.planning_s") = phaseSum("planning") / p
    m("sched.jobs") = jobs.size / p
    m("sched.stages") = stages.size / p
    m("sched.tasks") = tasks.size / p
    m("sched.tasks_per_stage") = if (stages.isEmpty) 0.0 else tasks.size.toDouble / stages.size
    m("sched.driver_only_s") = (opWall - execCov) / 1e3 / p
    m("sched.core_util") = if (opWall <= 0) 0.0 else taskTime / (opWall * cpus)
    m("exec.task_run_s") = tasks.map(_.runMs).sum / 1e3 / p
    m("exec.task_cpu_s") = tasks.map(_.cpuNs).sum / 1e9 / p
    m("exec.gc_s") = tasks.map(_.gcMs).sum / 1e3 / p
    m("exec.shuffle_read_mb") = tasks.map(_.shuffleReadB).sum / 1e6 / p
    m("exec.shuffle_write_mb") = tasks.map(_.shuffleWriteB).sum / 1e6 / p
    m("exec.spill_mb") = tasks.map(_.spillB).sum / 1e6 / p
    m("exec.input_mb") = tasks.map(_.inputB).sum / 1e6 / p
    m("exec.output_mb") = tasks.map(_.outputB).sum / 1e6 / p
    m("self.driver_s") = (opWall - planJobTaskCov) / 1e3 / p
    m("self.plans_s") = (planJobTaskCov - jobOrTaskCov) / 1e3 / p
    m("self.sched_s") = (jobOrTaskCov - execCov) / 1e3 / p
    m("self.exec_s") = execCov / 1e3 / p
    m("trace.unattributed_jobs") = unattributed / p

    // per-query rows: median wall per call, jobs per call
    queryNames.foreach { q =>
      val calls = ops.filter(_.name == q)
      val walls = calls.map(_.durS).sorted
      m(s"$q.wall_s") = if (walls.isEmpty) 0.0 else Stats.median(walls)
      m(s"$q.jobs") = if (calls.isEmpty) 0.0 else calls.map(o => jobsOf(o).size).sum.toDouble / calls.size
    }
    // output bytes of the jobs the write verbs started
    val writeOps = ops.filter(o => o.kind == "write" || o.kind == "maint")
    val writeStages = jobs.filter(j => opAt(writeOps, j.submitMs).nonEmpty).flatMap(_.stageIds).toSet
    m("layout.bytes_written_mb") =
      tasks.filter(t => writeStages.contains(t.stageId)).map(_.outputB).sum / 1e6 / p

    // the counts of each pass, to show they repeat (or level off)
    val perPass = ops.groupBy(_.pass).toSeq.sortBy(_._1).map { case (pass, pOps) =>
      val pJobs = jobs.filter(j => opAt(pOps, j.submitMs).nonEmpty)
      val pStages = pJobs.flatMap(_.stageIds).toSet
      val pTasks = tasks.filter(t => pStages.contains(t.stageId))
      pass -> Map("jobs" -> pJobs.size.toDouble, "tasks" -> pTasks.size.toDouble,
        "shuffle_write_mb" -> pTasks.map(_.shuffleWriteB).sum / 1e6)
    }
    (m.toMap, perPass, spans(ops, jobs, stages, tasks, plans))
  }

  /** Op → (build, exec, planning phases, jobs → stages) span tree. */
  private def spans(ops: Seq[OpRec], jobs: Seq[JobRec], stages: Seq[StageRec],
                    tasks: Seq[TaskRec], plans: Seq[PlanRec]): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    var next = 0
    def add(parent: Int, layer: String, name: String, a: Double, b: Double): Int = {
      next += 1; out += Span(next, parent, layer, name, a, b); next
    }
    val stageById = stages.map(s => s.id -> s).toMap
    val tasksByStage = tasks.groupBy(_.stageId)
    ops.foreach { o =>
      val root = add(0, o.kind, o.id, o.startMs, o.endMs)
      val layer = if (o.kind == "query") "queries" else "layout"
      add(root, layer, "build", o.startMs, o.buildEndMs)
      if (o.endMs > o.buildEndMs) add(root, "exec", "execute", o.buildEndMs, o.endMs)
      plans.foreach { pl =>
        pl.phases.foreach { case (ph, (a, b)) =>
          if (a >= o.startMs && a <= o.endMs) add(root, "plans", ph, a, b)
        }
      }
      jobs.filter(j => j.submitMs >= o.startMs && j.submitMs <= o.endMs).foreach { j =>
        val js = add(root, "sched", s"job ${j.id}", j.submitMs, j.endMs)
        j.stageIds.flatMap(stageById.get).foreach { s =>
          val ts = tasksByStage.getOrElse(s.id, Nil)
          val ss = add(js, "sched", s"stage ${s.id}", s.submitMs, s.endMs)
          if (ts.nonEmpty)
            add(ss, "exec", s"${ts.size} tasks", ts.map(_.launchMs).min, ts.map(_.finishMs).max)
        }
      }
    }
    out.toSeq
  }
}

object Stats {
  def median(sorted: Seq[Double]): Double = {
    val n = sorted.size
    if (n % 2 == 1) sorted(n / 2) else (sorted(n / 2 - 1) + sorted(n / 2)) / 2
  }
}
