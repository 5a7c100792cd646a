package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span around a call the benchmark makes into a layer: epoch
  * milliseconds (to line up with Spark's event times) and `System.nanoTime`
  * readings (for the span's own length and its children's). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startMs: Long, endMs: Long, startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `apply` is a plain call. */
final class Spans {
  val recorded = mutable.ArrayBuffer.empty[Span]
  @volatile var enabled = false
  var op = -1
  private var stack: List[Int] = Nil
  private var nextId = 0

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      try f
      finally {
        stack = stack.tail
        recorded += Span(id, parent, op, name, ms0, System.currentTimeMillis(), ns0, System.nanoTime())
      }
    }
}

/** Raw engine events, collected from the public listener APIs and
  * attributed to spans by time after the run (operations are sequential,
  * one client). */
object Engine {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  final case class Stage(id: Int, runMs: Long, inputBytes: Long,
      shuffleRead: Long, shuffleWrite: Long, fetchWaitMs: Long, spill: Long,
      tasks: Int)
  final case class Task(stage: Int, durMs: Long, peakMem: Long)
  final case class Qe(startMs: Long, analysisMs: Long, optimizerMs: Long,
      planningMs: Long, execMs: Double, scanFiles: Long, writeFiles: Long,
      writeBytes: Long, taskCommitMs: Long, jobCommitMs: Long)
  final case class Batch(startMs: Long, durMs: Long, addBatchMs: Long,
      commitMs: Long, planningMs: Long, stateRows: Long, stateMem: Long,
      stateCommitMs: Long)

  @volatile var enabled = false
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val qes = new ConcurrentLinkedQueue[Qe]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  val streamsStarted = new AtomicLong()
  val streamsEnded = new AtomicLong()

  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null)
        stages.add(Stage(i.stageId, m.executorRunTime,
          m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled, i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val peak = Option(e.taskMetrics).map(_.peakExecutionMemory).getOrElse(0L)
      tasks.add(Task(e.stageId, e.taskInfo.duration, peak))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        val pr = p.progress
        val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val ops = pr.stateOperators
        batches.add(Batch(java.time.Instant.parse(pr.timestamp).toEpochMilli,
          d.getOrElse("triggerExecution", 0L), d.getOrElse("addBatch", 0L),
          d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L),
          d.getOrElse("queryPlanning", 0L), ops.map(_.numRowsTotal).sum,
          ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum))
      case _: StreamingQueryListener.QueryStartedEvent => streamsStarted.incrementAndGet()
      case _: StreamingQueryListener.QueryTerminatedEvent => streamsEnded.incrementAndGet()
      case _ => ()
    }
  }

  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)(f)
      case _ => ()
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  private def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)

  /** Registered on every session through `spark.sql.queryExecutionListeners`
    * (cloned streaming sessions included); records only while enabled. */
  class QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        val start = ph.values.map(_.startTimeMs).minOption
          .getOrElse(System.currentTimeMillis() - durationNs / 1000000L)
        var files, wFiles, wBytes, tCommit, jCommit = 0L
        walk(qe.executedPlan) {
          case s: FileSourceScanExec => files += metric(s, "numFiles")
          case w: DataWritingCommandExec =>
            val m = w.cmd.metrics
            def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
            wFiles += v("numFiles"); wBytes += v("numOutputBytes")
            tCommit += v("taskCommitTime"); jCommit += v("jobCommitTime")
          case _ => ()
        }
        qes.add(Qe(start, ms("analysis"), ms("optimization"), ms("planning"),
          durationNs / 1e6, files, wFiles, wBytes, tCommit, jCommit))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Engine counters for events that started inside [t0, t1] (epoch ms). */
  def counters(t0: Long, t1: Long): Map[String, Double] = {
    def in(t: Long) = t >= t0 && t <= t1
    val js = jobs.values.asScala.filter(j => in(j.startMs)).toSeq
    val stageIds = js.flatMap(_.stages).toSet
    val st = stages.asScala.filter(s => stageIds(s.id)).toSeq
    val ran = st.map(_.id).toSet
    val ts = tasks.asScala.filter(t => ran(t.stage)).toSeq.map(_.durMs).sorted
    val peak = tasks.asScala.filter(t => ran(t.stage)).map(_.peakMem).maxOption.getOrElse(0L)
    val q = qes.asScala.filter(x => in(x.startMs)).toSeq
    val b = batches.asScala.filter(x => in(x.startMs)).toSeq
    // wall time inside [t0, t1] that no running job covers
    val covered = js.map(j => (math.max(j.startMs, t0), math.min(if (j.endMs < 0) t1 else j.endMs, t1)))
      .sortBy(_._1).foldLeft((0L, t0)) { case ((sum, reach), (s, e)) =>
        val s2 = math.max(s, reach)
        if (e > s2) (sum + (e - s2), e) else (sum, reach)
      }._1
    val bd = b.map(_.durMs).sorted
    Map(
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> st.size.toDouble,
      "sched.stages_skipped" -> (stageIds.size - ran.size).toDouble,
      "sched.tasks" -> ts.size.toDouble,
      "sched.task_p50_ms" -> (if (ts.isEmpty) 0.0 else ts(ts.size / 2).toDouble),
      "sched.task_max_ms" -> ts.lastOption.getOrElse(0L).toDouble,
      "driver.gap_ms" -> ((t1 - t0) - covered).toDouble,
      "scan.files_read" -> q.map(_.scanFiles).sum.toDouble,
      "scan.bytes_read" -> st.map(_.inputBytes).sum.toDouble,
      "shuffle.read_bytes" -> st.map(_.shuffleRead).sum.toDouble,
      "shuffle.write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "shuffle.fetch_wait_ms" -> st.map(_.fetchWaitMs).sum.toDouble,
      "mem.spill_bytes" -> st.map(_.spill).sum.toDouble,
      "mem.peak_exec_mb" -> peak / 1048576.0,
      "plan.analysis_ms" -> q.map(_.analysisMs).sum.toDouble,
      "plan.optimizer_ms" -> q.map(_.optimizerMs).sum.toDouble,
      "plan.planning_ms" -> q.map(_.planningMs).sum.toDouble,
      "exec.ms" -> q.map(_.execMs).sum,
      "write.files" -> q.map(_.writeFiles).sum.toDouble,
      "write.bytes" -> q.map(_.writeBytes).sum.toDouble,
      "write.task_commit_ms" -> q.map(_.taskCommitMs).sum.toDouble,
      "write.job_commit_ms" -> q.map(_.jobCommitMs).sum.toDouble,
      "stage.shuffle_map_run_s" -> st.filter(_.shuffleWrite > 0).map(_.runMs).sum / 1000.0,
      "stage.result_run_s" -> st.filter(_.shuffleWrite == 0).map(_.runMs).sum / 1000.0,
      "stream.batches" -> b.size.toDouble,
      "stream.batch_p50_ms" -> (if (bd.isEmpty) 0.0 else bd(bd.size / 2).toDouble),
      "stream.add_batch_ms" -> b.map(_.addBatchMs).sum.toDouble,
      "stream.commit_ms" -> b.map(_.commitMs).sum.toDouble,
      "stream.planning_ms" -> b.map(_.planningMs).sum.toDouble,
      "stream.state_rows" -> b.map(_.stateRows).sum.toDouble,
      "stream.state_mem_bytes" -> b.map(_.stateMem).maxOption.getOrElse(0L).toDouble,
      "stream.state_commit_ms" -> b.map(_.stateCommitMs).sum.toDouble)
  }
}
