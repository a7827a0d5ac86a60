package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.FileSourceScanExec

/** One timed execution as seen from the client thread: wall-clock
  * boundaries of its three phases in epoch milliseconds (comparable with
  * listener event times) and their durations in seconds (from nanoTime). */
final case class ExecSpan(
    id: Int, name: String, pass: Int,
    startMs: Long, builtMs: Long, plannedMs: Long, endMs: Long,
    buildS: Double, planS: Double, actionS: Double, ok: Boolean,
    exchanges: Int, scans: Int, retainedBytes: Long, retainedRdds: Int) {
  def wallS: Double = buildS + planS + actionS
}

/** Listener that records jobs, stages and tasks in memory and attributes
  * each to the execution that launched it, through a local property the
  * client thread sets around every execution. Nothing is aggregated while
  * the workload runs; [[Tracer.report]] does that after the run. */
final class Tracer(cores: Int) extends SparkListener {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val stageTags = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  @volatile private var lastEventNs = System.nanoTime()

  private def tagOf(p: Properties): String =
    if (p == null) null else p.getProperty(ExecKey)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.add(JobRec(e.jobId, tagOf(e.properties), e.time))
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.add((e.jobId, e.time))
    lastEventNs = System.nanoTime()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val tag = tagOf(e.properties)
    if (tag != null) stageTags.put(e.stageInfo.stageId, tag)
    lastEventNs = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stages.add(StageRec(si.stageId, si.attemptNumber(),
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L)))
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    val m = e.taskMetrics
    val (gc, sw, sr, spill, inB, inR) =
      if (m == null) (0L, 0L, 0L, 0L, 0L, 0L)
      else (m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
    tasks.add(TaskRec(e.stageId, ti.launchTime, ti.finishTime,
      ti.successful, gc, sw, sr, spill, inB, inR))
    lastEventNs = System.nanoTime()
  }

  /** Waits until the listener bus has been quiet for `quietMs`, at most
    * `maxMs`: events are delivered asynchronously, and tasks that outlive
    * their execution report late. */
  def drain(quietMs: Long = 500, maxMs: Long = 10000): Unit = {
    val t0 = System.nanoTime()
    while ((System.nanoTime() - lastEventNs) / 1000000 < quietMs &&
        (System.nanoTime() - t0) / 1000000 < maxMs)
      Thread.sleep(50)
  }

  /** Per-execution layer metrics plus the span tree of every execution. */
  def report(execs: Seq[ExecSpan]): (Seq[Map[String, Double]], Seq[Span]) = {
    val byId = execs.map(e => e.id.toString -> e).toMap
    val jobEnd = jobEnds.asScala.toMap
    // a job without the tag (rare: a thread pool that does not inherit
    // local properties) belongs to the execution running when it started
    def owner(j: JobRec): Option[ExecSpan] =
      Option(j.tag).flatMap(byId.get).orElse(
        execs.find(e => j.startMs >= e.startMs && j.startMs <= e.endMs))
    val jobsOf = jobs.asScala.toSeq.flatMap(j => owner(j).map(_.id -> j))
      .groupMap(_._1)(_._2)
    val stagesOf = stages.asScala.toSeq.flatMap { s =>
      Option(stageTags.get(s.stageId)).flatMap(byId.get).map(_.id -> s)
    }.groupMap(_._1)(_._2)
    val stageOwner = stageTags.asScala.toMap
    val tasksOf = tasks.asScala.toSeq.flatMap { t =>
      stageOwner.get(t.stageId).flatMap(byId.get).map(_.id -> t)
    }.groupMap(_._1)(_._2)

    val spans = mutable.ArrayBuffer[Span]()
    val metrics = execs.map { e =>
      val js = jobsOf.getOrElse(e.id, Nil)
      val ss = stagesOf.getOrElse(e.id, Nil)
      val ts = tasksOf.getOrElse(e.id, Nil)
      val wallMs = math.max(1L, e.endMs - e.startMs)
      val stageIv = ss.map(s => (s.submitMs, s.completeMs)).filter(i => i._2 >= i._1)
      val covered = coveredMs(stageIv, e.startMs, e.endMs)
      // action time before the first and after the last stage of the
      // action: driver work no listener event names
      val actionIv = stageIv.map { case (a, b) =>
        (math.max(a, e.plannedMs), math.min(b, e.endMs)) }.filter(i => i._2 > i._1)
      val edgeMs =
        if (actionIv.isEmpty) e.endMs - e.plannedMs
        else (actionIv.map(_._1).min - e.plannedMs) + (e.endMs - actionIv.map(_._2).max)
      val durs = ts.map(t => t.finishMs - t.launchMs)
      val taskS = durs.sum / 1000.0
      val skew = ss.flatMap { s =>
        val d = ts.filter(_.stageId == s.stageId).map(t => (t.finishMs - t.launchMs).toDouble)
        if (d.size < 2) None else {
          val med = median(d)
          Some(if (med > 0) d.max / med else 1.0)
        }
      }
      spans += Span(s"q${e.id}", "", "query:" + e.name, e.startMs, e.endMs)
      spans += Span(s"q${e.id}.b", s"q${e.id}", "ops.build", e.startMs, e.builtMs)
      spans += Span(s"q${e.id}.p", s"q${e.id}", "plans.plan", e.builtMs, e.plannedMs)
      spans += Span(s"q${e.id}.a", s"q${e.id}", "exec.action", e.plannedMs, e.endMs)
      js.foreach { j =>
        val phase = if (j.startMs < e.builtMs) "b" else if (j.startMs < e.plannedMs) "p" else "a"
        spans += Span(s"j${j.jobId}", s"q${e.id}.$phase", "job",
          j.startMs, jobEnd.getOrElse(j.jobId, j.startMs))
      }
      ss.foreach { s =>
        // the stage's parent is the tagged job that was running when the
        // stage was submitted (the latest job started before it)
        val parent = js.filter(_.startMs <= s.submitMs).sortBy(_.startMs).lastOption
          .map(j => s"j${j.jobId}").getOrElse(s"q${e.id}")
        spans += Span(s"s${s.stageId}.${s.attempt}", parent, "stage", s.submitMs, s.completeMs)
      }
      Map(
        "wall_s" -> e.wallS,
        "ops.build_s" -> e.buildS,
        "ops.build_jobs" -> js.count(_.startMs < e.plannedMs).toDouble,
        "plans.plan_s" -> e.planS,
        "plans.exchanges" -> e.exchanges.toDouble,
        "plans.scans" -> e.scans.toDouble,
        "exec.action_s" -> e.actionS,
        "exec.jobs" -> js.size.toDouble,
        "exec.stages" -> ss.size.toDouble,
        "exec.tasks" -> ts.size.toDouble,
        "exec.task_s" -> taskS,
        "exec.driver_gap_s" -> (wallMs - covered) / 1000.0,
        "exec.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
        "exec.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
        "exec.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "exec.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        "exec.spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "exec.failed_tasks" -> ts.count(!_.ok).toDouble,
        "exec.orphan_tasks" -> ts.count(_.finishMs > e.endMs).toDouble,
        "sources.input_bytes" -> ts.map(_.inBytes).sum.toDouble,
        "sources.input_rows" -> ts.map(_.inRows).sum.toDouble,
        "storage.retained_bytes" -> e.retainedBytes.toDouble,
        "storage.retained_rdds" -> e.retainedRdds.toDouble,
        "trace.unattributed_s" -> math.max(0L, edgeMs) / 1000.0,
        "cores" -> cores.toDouble)
    }
    (metrics, spans.toSeq)
  }
}

object Tracer {
  /** Local property that carries the execution id onto its jobs. */
  val ExecKey = "perfbench.exec"

  final case class JobRec(jobId: Int, tag: String, startMs: Long)
  final case class StageRec(stageId: Int, attempt: Int, submitMs: Long, completeMs: Long)
  final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
      ok: Boolean, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long, inBytes: Long, inRows: Long)
  /** A named interval; `parent` is the id of the enclosing span. */
  final case class Span(id: String, parent: String, name: String,
      startMs: Long, endMs: Long)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Milliseconds of [lo, hi] covered by the union of the intervals. */
  def coveredMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var curEnd = lo
    for ((a0, b0) <- iv.sortBy(_._1)) {
      val a = math.max(a0, curEnd)
      val b = math.min(b0, hi)
      if (b > a) { covered += b - a; curEnd = b }
    }
    covered
  }

  /** Self time of every span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      s.id -> (s.endMs - s.startMs - coveredMs(iv, s.startMs, s.endMs))
    }.toMap
  }

  /** Shuffle exchanges and data-source scans in the plan the action will
    * start from (AQE's initial plan), subqueries included. */
  def planCounts(df: DataFrame): (Int, Int) = {
    val root: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => a
      case n => n
    }.flatMap {
      case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
      case n => Seq(n)
    }
    val all = nodes(root)
    (all.count(_.isInstanceOf[ShuffleExchangeLike]),
      all.count(n => n.isInstanceOf[FileSourceScanExec] || n.isInstanceOf[BatchScanExec]))
  }

  /** Bytes and RDDs the block manager holds right now. */
  def storage(sc: SparkContext): (Long, Int) = {
    val infos = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (infos.map(i => i.memSize + i.diskSize).sum, infos.length)
  }
}
