package graft.bench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import scala.collection.mutable

/** Outside-in capture for the traced run. The runner reports each op's
  * boundaries and its final `QueryExecution`; Spark's listener bus reports
  * jobs, stages and tasks. Jobs carry the job group the runner sets per op
  * and phase (`perfbench:<op>:construct|exec`); a job started outside
  * that thread is attributed to the op whose span holds its start.
  * Everything stays in memory until [[summary]].
  */
final class Tracer(cpus: Int) extends SparkListener {
  import Tracer._

  private val jobs = mutable.Map[Int, Job]()
  private val stages = mutable.Map[(Int, Int), Stage]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val ops = mutable.ArrayBuffer[Op]()

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, group(e.properties), e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    val t = si.submissionTime.getOrElse(System.currentTimeMillis())
    stages((si.stageId, si.attemptNumber())) =
      Stage(si.stageId, si.attemptNumber(), group(e.properties), t, t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages.get((si.stageId, si.attemptNumber()))
      .foreach(_.end = si.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ti = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks += Task(e.stageId, e.stageAttemptId, ti.launchTime, ti.finishTime,
      m.map(_.executorRunTime).getOrElse(0L), m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
      e.reason != Success)
  }

  /** A battery op: construct is `[start, built)`, exec is `[built, end)`. */
  def query(id: Long, name: String, pass: Int, start: Long, built: Long, end: Long,
            qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (p, s) => (s"plan.$p", s.startTimeMs, s.endTimeMs) }
    synchronized {
      ops += Op(id, name, pass, start, built, end, phases)
    }
  }

  /** Per-op attribution and the per-layer totals over the given passes. */
  def summary(passes: Set[Int]): Summary = synchronized {
    def owner(g: String, t: Long): Option[(Long, String)] =
      Option(g).filter(_.startsWith("perfbench:")).map(_.split(':')) match {
        case Some(Array(_, id, phase)) => Some((id.toLong, phase))
        case _ => ops.find(o => o.start <= t && t <= o.end).map(o => (o.id, "exec"))
      }
    val jobOwner = jobs.values.flatMap(j => owner(j.group, j.start).map(j -> _)).toSeq
    val stageOwner = stages.values.flatMap(s => owner(s.group, s.submit).map(s -> _)).toSeq
    val ownerOfStage = stageOwner.map { case (s, w) => (s.id, s.attempt) -> w }.toMap
    val taskOwner = tasks.toSeq.flatMap(t => ownerOfStage.get((t.stage, t.attempt)).map(t -> _))
    val sel = ops.filter(o => passes.contains(o.pass)).toSeq
    val per = sel.map { o =>
      val js = jobOwner.collect { case (j, (id, ph)) if id == o.id => (j, ph) }
      val ss = stageOwner.collect { case (s, (id, _)) if id == o.id => s }
      val ts = taskOwner.collect { case (t, (id, ph)) if id == o.id => (t, ph) }.toSeq
      o -> (js, ss, ts)
    }
    val n = math.max(passes.size, 1).toDouble
    def total(f: ((Op, (Seq[(Job, String)], Seq[Stage], Seq[(Task, String)]))) => Double) =
      per.map(f).sum / n
    val execWall = total { case (o, _) => (o.end - o.built).toDouble }
    val execTaskRun = total { case (_, (_, _, ts)) =>
      ts.collect { case (t, "exec") => t.runMs.toDouble }.sum }
    val mb = 1e6
    def m(v: Double, unit: String) = (v, unit)
    val layer = mutable.LinkedHashMap[String, (Double, String)](
      "ops.construct_ms" -> m(total { case (o, _) => (o.built - o.start).toDouble }, "ms"),
      "ops.construct_self_ms" -> m(total { case (o, (js, _, _)) =>
        (o.built - o.start) - Stats.unionLength(js.collect { case (j, "construct") =>
          (math.max(j.start, o.start), math.min(j.end, o.built)) }).toDouble }, "ms"),
      "ops.eager_jobs" -> m(total { case (_, (js, _, _)) => js.count(_._2 == "construct").toDouble }, "count"),
      "plan.analysis_ms" -> m(phase(per.map(_._1), "plan.analysis") / n, "ms"),
      "plan.optimization_ms" -> m(phase(per.map(_._1), "plan.optimization") / n, "ms"),
      "plan.planning_ms" -> m(phase(per.map(_._1), "plan.planning") / n, "ms"),
      "exec.wall_ms" -> m(execWall, "ms"),
      "exec.jobs" -> m(total { case (_, (js, _, _)) => js.size.toDouble }, "count"),
      "exec.stages" -> m(total { case (_, (_, ss, _)) => ss.size.toDouble }, "count"),
      "exec.tasks" -> m(total { case (_, (_, _, ts)) => ts.size.toDouble }, "count"),
      "exec.task_run_ms" -> m(total { case (_, (_, _, ts)) => ts.map(_._1.runMs.toDouble).sum }, "ms"),
      "exec.task_cpu_ms" -> m(total { case (_, (_, _, ts)) => ts.map(_._1.cpuNs / 1e6).sum }, "ms"),
      "exec.task_wait_ms" -> m(total { case (_, (_, _, ts)) => ts.map { case (t, _) =>
        stages.get((t.stage, t.attempt)).map(s => math.max(0L, t.launch - s.submit)).getOrElse(0L).toDouble
      }.sum }, "ms"),
      "exec.sched_gap_ms" -> m(total { case (o, (js, ss, _)) =>
        val execJobs = js.collect { case (j, "exec") => (j.start, j.end) }
        val execCovered = Stats.unionLength(execJobs.map { case (s, e) =>
          (math.max(s, o.built), math.min(e, o.end)) })
        val allJobs = Stats.unionLength(js.map { case (j, _) => (j.start, j.end) })
        val allStages = Stats.unionLength(ss.map(s => (s.submit, s.end)))
        ((o.end - o.built) - execCovered + math.max(0L, allJobs - allStages)).toDouble
      }, "ms"),
      "exec.busy_frac" -> m(if (execWall > 0) execTaskRun / (execWall * cpus) else 0.0, "ratio"),
      "exec.gc_ms" -> m(total { case (_, (_, _, ts)) => ts.map(_._1.gcMs.toDouble).sum }, "ms"),
      "exec.shuffle_read_mb" -> m(total { case (_, (_, _, ts)) => ts.map(_._1.shuffleRead / mb).sum }, "MB"),
      "exec.shuffle_write_mb" -> m(total { case (_, (_, _, ts)) => ts.map(_._1.shuffleWrite / mb).sum }, "MB"),
      "exec.input_mb" -> m(total { case (_, (_, _, ts)) => ts.map(_._1.input / mb).sum }, "MB"))
    // zero on a healthy in-memory run, or on a core that writes no files,
    // so reported beside the metrics
    val zeroWhenHealthy = Seq(
      "exec.output_mb" -> total { case (_, (_, _, ts)) => ts.map(_._1.output / mb).sum },
      "exec.spill_mb" -> total { case (_, (_, _, ts)) => ts.map(_._1.spill / mb).sum },
      "exec.task_failures" -> total { case (_, (_, _, ts)) => ts.count(_._1.failed).toDouble })

    // where the median op's wall time goes: each instant of its span goes
    // to the innermost layer busy at that instant
    val parts = per.map { case (o, (js, ss, ts)) =>
      val iv = ts.map { case (t, _) => ("task_run", t.launch, t.finish) } ++
        ss.map(s => ("task_wait", s.submit, s.end)) ++
        js.map { case (j, _) => ("job_gap", j.start, j.end) } ++
        o.phases ++ Seq(("ops_self", o.start, o.built), ("exec_driver", o.built, o.end))
      o -> Stats.partition(o.start, o.end, iv, Breakdown, "other")
    }
    val median = parts.sortBy(p => (p._1.end - p._1.start, p._1.id))
      .lift(parts.size / 2)
    Summary(layer.toSeq, zeroWhenHealthy, median, spans(sel, jobOwner, stageOwner))
  }

  private def phase(os: Seq[Op], p: String): Double =
    os.flatMap(_.phases).collect { case (`p`, s, e) => (e - s).toDouble }.sum

  /** The span tree of the selected ops: op → construct / plan.* / exec,
    * with each job and stage under the construct or exec span that was
    * open when it started. Self time is a span's length minus the part
    * its children cover.
    */
  private def spans(sel: Seq[Op], jobOwner: Seq[(Job, (Long, String))],
                    stageOwner: Seq[(Stage, (Long, String))]): Seq[Map[String, Any]] =
    sel.flatMap { o =>
      val root = s"${o.id}"
      val kids = Seq((s"$root.construct", "ops.construct", o.start, o.built),
          (s"$root.exec", "exec", o.built, o.end)) ++
        o.phases.map { case (p, s, e) => (s"$root.$p", p, s, e) }
      val phaseOf = (ph: String) => s"$root.$ph"
      val js = jobOwner.collect { case (j, (id, ph)) if id == o.id =>
        (s"$root.job${j.id}", "job", j.start, j.end, phaseOf(ph)) }
      val ss = stageOwner.collect { case (s, (id, ph)) if id == o.id =>
        (s"$root.stage${s.id}.${s.attempt}", "stage", s.submit, s.end, phaseOf(ph)) }
      val flat = kids.map { case (i, n, s, e) => (i, n, s, e, root) } ++ js ++ ss
      def self(i: String, s: Long, e: Long) =
        (e - s) - Stats.unionLength(flat.collect { case (_, _, cs, ce, p) if p == i =>
          (math.max(cs, s), math.min(ce, e)) })
      (Seq((root, "op", o.start, o.end, "")) ++ flat).map { case (i, n, s, e, p) =>
        scala.collection.immutable.ListMap[String, Any]("id" -> i, "parent" -> p,
          "op" -> o.id, "query" -> o.name, "pass" -> o.pass, "name" -> n,
          "start_ms" -> s, "end_ms" -> e, "self_ms" -> self(i, s, e))
      }
    }
}

object Tracer {
  final case class Job(id: Int, group: String, start: Long, var end: Long)
  final case class Stage(id: Int, attempt: Int, group: String, submit: Long, var end: Long)
  final case class Task(stage: Int, attempt: Int, launch: Long, finish: Long, runMs: Long,
                        cpuNs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
                        spill: Long, input: Long, output: Long, failed: Boolean)
  final case class Op(id: Long, name: String, pass: Int, start: Long, built: Long, end: Long,
                      phases: Seq[(String, Long, Long)])
  final case class Summary(layer: Seq[(String, (Double, String))],
                           zeroWhenHealthy: Seq[(String, Double)],
                           median: Option[(Op, Map[String, Long])],
                           spans: Seq[Map[String, Any]])

  /** Innermost layer first: the order [[Stats.partition]] resolves
    * overlaps in. The parts of an op always sum to its wall time. */
  val Breakdown: Seq[String] = Seq("task_run", "task_wait", "job_gap",
    "plan.analysis", "plan.optimization", "plan.planning", "ops_self", "exec_driver")

  /** The `prunedRows` and `passthroughRows` SQL metrics summed over the
    * `TopKPartialExec` operators of an executed plan. */
  def topkRows(qe: QueryExecution): (Long, Long) = {
    val topk = PlanWalk.collect(qe.executedPlan) { case t: graft.plans.TopKPartialExec => t }
    def metric(k: String) = topk.flatMap(_.metrics.get(k)).map(_.value).sum
    (metric("prunedRows"), metric("passthroughRows"))
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper
}
