package graftbench

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.LayoutOps

/** In-memory span tracer for the traced run.
  *
  * Span tree: run -> pass -> query -> build / exec (opened by the harness),
  * then job -> stage (recorded by a SparkListener; a job is parented to the
  * build/exec span named by its job description `pb|<pass>|<query>|<phase>`).
  * Per pass it also sums task metrics, Catalyst phase times (a
  * QueryExecutionListener), scan and write statistics from executed plans,
  * streaming micro-batches and manifest commits (a timing wrapper around
  * `LayoutOps.commitArbiter`). Nothing is written until the run ends.
  *
  * Listener events arrive asynchronously; the harness calls [[settle]]
  * (untimed) after every query so each query's events are counted before
  * the next one starts.
  */
final class Span(val id: Int, val parent: Int, val kind: String,
                 val name: String, val pass: Int, val start: Double) {
  @volatile var end: Double = Double.NaN
}

final class Tracer(spark: SparkSession, cores: Int) {

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Milliseconds since the epoch on the harness clock. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val phaseSpans = mutable.Map.empty[String, Int]
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobPass = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Double]]
  private val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val skew = mutable.Map.empty[Int, Double]

  @volatile private var currentPass = -1

  private def add(pass: Int, key: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(pass, mutable.Map.empty[String, Double])
    m(key) = m.getOrElse(key, 0.0) + v
  }

  def open(kind: String, name: String, parent: Int, pass: Int): Span =
    openAt(kind, name, parent, pass, nowMs())

  private def openAt(kind: String, name: String, parent: Int, pass: Int,
                     start: Double): Span = synchronized {
    val s = new Span(spans.size, parent, kind, name, pass, start)
    spans += s
    if (kind == "build" || kind == "exec") phaseSpans(s"$pass|$name|$kind") = s.id
    s
  }

  def close(s: Span): Unit = s.end = nowMs()

  // ---- attribution of jobs to the harness's spans ----

  private def owner(props: java.util.Properties): (Int, Int) = {
    val desc = Option(props).flatMap(p =>
      Option(p.getProperty("spark.job.description")))
    desc.map(_.split('|')) match {
      case Some(Array("pb", pass, query, phase)) if pass.forall(_.isDigit) =>
        val p = pass.toInt
        (p, synchronized(phaseSpans.getOrElse(s"$p|$query|$phase", -1)))
      // the harness's own jobs (canary, kernel micro-harness, verify)
      case Some(Array("pb", _*)) => (-1, -1)
      case _ => (currentPass, -1)
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val (pass, parent) = owner(e.properties)
      val s = openAt("job", s"job ${e.jobId}", parent, pass, e.time.toDouble)
      synchronized {
        jobSpans(e.jobId) = s
        jobPass(e.jobId) = pass
        e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = e.jobId)
      }
      add(pass, "jobs", 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized(jobSpans.get(e.jobId)).foreach(_.end = e.time.toDouble)

    private def passOfStage(stageId: Int): Int = synchronized {
      stageJob.get(stageId).flatMap(jobPass.get).getOrElse(currentPass)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val pass = passOfStage(e.stageId)
      add(pass, "tasks", 1)
      if (e.reason != Success) add(pass, "failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(pass, "task_run_ms", m.executorRunTime.toDouble)
        add(pass, "task_cpu_ns", m.executorCpuTime.toDouble)
        add(pass, "gc_ms", m.jvmGCTime.toDouble)
        add(pass, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(pass, "shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(pass, "fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add(pass, "spill_b", m.diskBytesSpilled.toDouble)
        add(pass, "output_b", m.outputMetrics.bytesWritten.toDouble)
        val in = m.inputMetrics
        if (in.bytesRead > 0 || in.recordsRead > 0) {
          add(pass, "input_b", in.bytesRead.toDouble)
          add(pass, "input_rows", in.recordsRead.toDouble)
          add(pass, "scan_tasks", 1)
        }
        synchronized {
          stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
            mutable.ArrayBuffer.empty[Double]) += m.executorRunTime.toDouble
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val pass = passOfStage(info.stageId)
      add(pass, "stages", 1)
      val parent = synchronized(stageJob.get(info.stageId).flatMap(jobSpans.get))
        .map(_.id).getOrElse(-1)
      for (s0 <- info.submissionTime; s1 <- info.completionTime)
        openAt("stage", s"stage ${info.stageId}", parent, pass, s0.toDouble).end =
          s1.toDouble
      synchronized(stageTasks.remove((info.stageId, info.attemptNumber())))
        .filter(_.size >= 2).foreach { ts =>
          val med = Stats.median(ts.toSeq)
          if (med > 0) synchronized {
            skew(pass) = math.max(skew.getOrElse(pass, 0.0), ts.max / med)
          }
        }
    }
  }

  private object planHelper extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)

    private def record(qe: QueryExecution): Unit = {
      val pass = currentPass
      val phases = qe.tracker.phases
      for ((phase, key) <- Seq(QueryPlanningTracker.ANALYSIS -> "analysis_ms",
             QueryPlanningTracker.OPTIMIZATION -> "optimize_ms",
             QueryPlanningTracker.PLANNING -> "physical_ms"))
        phases.get(phase).foreach(p => add(pass, key, p.durationMs.toDouble))
      val plan: SparkPlan = qe.executedPlan
      planHelper.collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
        .foreach { s =>
          s.metrics.get("numFiles").foreach(m => add(pass, "files_read", m.value.toDouble))
          add(pass, "files_total", s.relation.location.inputFiles.length.toDouble)
        }
      planHelper.collectWithSubqueries(plan) { case w: DataWritingCommandExec => w }
        .foreach { w =>
          w.cmd.metrics.get("numFiles").foreach(m => add(pass, "write_files", m.value.toDouble))
          w.cmd.metrics.get("jobCommitTime").foreach(m => add(pass, "commit_ms", m.value.toDouble))
        }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      add(currentPass, "stream_batches", 1)
      add(currentPass, "stream_batch_ms", e.progress.batchDuration.toDouble)
    }
  }

  private var savedArbiter: LayoutOps.CommitArbiter = null

  private def timedArbiter(inner: LayoutOps.CommitArbiter): LayoutOps.CommitArbiter =
    new LayoutOps.CommitArbiter {
      override def tryCommit(fs: FileSystem, target: Path, payload: Array[Byte]): Boolean = {
        val t0 = System.nanoTime()
        try inner.tryCommit(fs, target, payload)
        finally {
          add(currentPass, "manifest_commits", 1)
          add(currentPass, "commit_ms", (System.nanoTime() - t0) / 1e6)
        }
      }
    }

  /** Start recording `pass`: attach every listener. */
  def attach(pass: Int): Unit = {
    currentPass = pass
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    savedArbiter = LayoutOps.commitArbiter
    LayoutOps.commitArbiter = timedArbiter(savedArbiter)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def settle(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def detach(): Unit = {
    settle()
    LayoutOps.commitArbiter = savedArbiter
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Codegen counters read by the harness around each traced pass. */
  def codegenCompileNs(): Long = CodeGenerator.compileTime
  def generatedClasses(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Sum, per span kind, of each span's duration minus the part of it
    * covered by its child spans (clipped to the span). */
  def selfSeconds(pass: Int): Map[String, Double] = synchronized {
    val inPass = spans.filter(s => s.pass == pass && !s.end.isNaN)
    val children = inPass.groupBy(_.parent)
    inPass.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val covered = Stats.unionLength(children.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))).filter(i => i._2 > i._1).toSeq)
        (s.end - s.start - covered) / 1000.0
      }.sum
    }
  }

  /** Per-layer metrics of one traced pass whose query spans covered
    * `wallS` seconds. */
  def passMetrics(pass: Int, wallS: Double): Map[String, Double] = synchronized {
    val c = counters.getOrElse(pass, mutable.Map.empty[String, Double])
    def g(k: String): Double = c.getOrElse(k, 0.0)
    val jobIntervals = spans.filter(s => s.kind == "job" && s.pass == pass && !s.end.isNaN)
      .map(s => (s.start, s.end)).toSeq
    val jobS = Stats.unionLength(jobIntervals) / 1000.0
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> g("jobs"),
      "spark.stages" -> g("stages"),
      "spark.tasks" -> g("tasks"),
      "spark.job_s" -> jobS,
      "driver_s" -> math.max(0.0, wallS - jobS),
      "spark.util" -> (if (jobS > 0) g("task_run_ms") / 1000.0 / (jobS * cores) else 0.0),
      "spark.task_run_s" -> g("task_run_ms") / 1000.0,
      "spark.task_cpu_s" -> g("task_cpu_ns") / 1e9,
      "spark.gc_s" -> g("gc_ms") / 1000.0,
      "spark.shuffle_write_mb" -> g("shuffle_write_b") / mb,
      "spark.shuffle_read_mb" -> g("shuffle_read_b") / mb,
      "spark.fetch_wait_s" -> g("fetch_wait_ms") / 1000.0,
      "spark.spill_mb" -> g("spill_b") / mb,
      "spark.task_skew" -> skew.getOrElse(pass, 1.0),
      "spark.failed_tasks" -> g("failed_tasks"),
      "scan.input_mb" -> g("input_b") / mb,
      "scan.input_rows" -> g("input_rows"),
      "scan.tasks" -> g("scan_tasks"),
      "scan.files_read" -> g("files_read"),
      "scan.files_pruned_frac" ->
        (if (g("files_total") > 0) 1.0 - g("files_read") / g("files_total") else 0.0),
      "plan.analysis_s" -> g("analysis_ms") / 1000.0,
      "plan.optimize_s" -> g("optimize_ms") / 1000.0,
      "plan.physical_s" -> g("physical_ms") / 1000.0,
      "write.files" -> g("write_files"),
      "write.mb" -> g("output_b") / mb,
      "write.commits" -> g("manifest_commits"),
      "write.commit_s" -> g("commit_ms") / 1000.0,
      "stream.batches" -> g("stream_batches"),
      "stream.batch_s" -> g("stream_batch_ms") / 1000.0,
    )
  }

  /** Every span as JSON, for the trace file written when the run ends. */
  def spansJson(): String = synchronized {
    Main.json.writeValueAsString(spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "kind" -> s.kind, "name" -> s.name, "pass" -> s.pass,
      "start_ms" -> s.start, "end_ms" -> s.end)).toSeq) + "\n"
  }
}
