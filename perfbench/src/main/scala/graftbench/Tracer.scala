package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional for
  * the benchmark's own spans). `layer` names the graft module or Spark
  * layer whose self time the span reports. */
final case class Span(id: Int, name: String, layer: String, start: Double,
    end: Double, parent: Int, step: String, pass: Int) {
  def dur: Double = end - start
}

/** Records the traced run. The benchmark opens spans around its own
  * calls into graft (step, query construction, action, compaction);
  * Spark's layers are observed from outside — jobs, stages and tasks
  * through a SparkListener, SQL executions (store writes) through
  * their start/end events, Catalyst phases through each action's
  * QueryPlanningTracker as a QueryExecutionListener sees it.
  * Events stay in memory; the caller drains the bus after a pass and
  * turns the pass's events into derived spans and per-layer sums. */
final class Tracer(spark: SparkSession, cores: Int) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private case class Job(id: Int, start: Long, var end: Long,
      stages: Seq[Int], callsite: String)
  private case class Exec(id: Long, start: Long, var end: Long,
      details: String)
  private case class Qe(phases: Seq[(String, Long, Long)], exchanges: Int,
      rr: Int)
  private case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      spill: Long, shWrite: Long, shRead: Long, input: Long, output: Long)
  private case class Stage(id: Int, start: Long, end: Long)

  private val jobs = ArrayBuffer[Job]()
  private val execs = ArrayBuffer[Exec]()
  private val qes = ArrayBuffer[Qe]()
  private val tasks = ArrayBuffer[Task]()
  private val stages = ArrayBuffer[Stage]()

  // ---- listener side (listener-bus thread) ----

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details)
      .getOrElse("")
    jobs += Job(e.jobId, e.time, -1L, e.stageIds, site)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages += Stage(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.diskBytesSpilled,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs += Exec(s.executionId, s.time, -1L, s.details)
      case x: SparkListenerSQLExecutionEnd =>
        execs.find(_.id == x.executionId).foreach(_.end = x.time)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (n, p) =>
      (n, p.startTimeMs, p.endTimeMs) }
    val ex = try collectWithSubqueries(qe.executedPlan) {
      case s: ShuffleExchangeExec => s } catch { case _: Exception => Nil }
    val rr = ex.count(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
    synchronized { qes += Qe(phases, ex.size, rr) }
  }

  private var attached = false

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }
  def detach(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  // ---- driver side: the benchmark's own spans ----

  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  private var curStep = ""
  private var curPass = -1

  /** Runs `body` inside a span while the tracer is attached; spans
    * nest by call order. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!attached) body
    else {
      val id = nextId; nextId += 1
      if (layer == "step") curStep = name
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = nowMs
      try body finally {
        open = open.tail
        spans += Span(id, name, layer, t0, nowMs, parent, curStep, curPass)
      }
    }

  /** Turns one finished pass's events into derived spans and returns
    * its per-layer sums, plus `uncovered.<step>`: each step's wall time
    * no span covers. `storeFiles` are the ingest store's (files written,
    * files at the last tick), zero elsewhere. */
  def closePass(pass: Int, wallS: Double, compiles: Long,
      compileNs: Long, storeFiles: (Long, Long)): Map[String, Double] = {
    BenchBus.drain(spark.sparkContext)
    synchronized {
      val own = spans.filter(_.pass == pass).toSeq
      val steps = own.filter(_.layer == "step")
      val (p0, p1) = (own.map(_.start).min, own.map(_.end).max)
      def inPass(t: Long) = t >= p0 - 1 && t <= p1 + 1
      val pJobs = jobs.filter(j => inPass(j.start) && j.end >= 0).toSeq
      val pExecs = execs.filter(x => inPass(x.start) && x.end >= 0).toSeq
      val pQes = qes.filter(q => q.phases.exists(p => inPass(p._2))).toSeq
      val jobStages = pJobs.flatMap(_.stages).toSet
      val pTasks = tasks.filter(t => jobStages(t.stage)).toSeq
      val pStages = stages.filter(s => jobStages(s.id)).toSeq

      // derived spans: store writes (SQL executions), then Catalyst
      // phases and jobs, each under the innermost span that contains it
      val derived = ArrayBuffer[Span]()
      def parentOf(t: Double): Span = (own ++ derived)
        .filter(s => s.start <= t && t <= s.end)
        .minByOption(_.dur).getOrElse(steps.head)
      def add(name: String, layer: String, s: Double, e: Double): Unit = {
        val p = parentOf(s)
        val sp = Span(nextId, name, layer, s, e, p.id, p.step, pass)
        nextId += 1
        derived += sp
      }
      pExecs.filter(x => Tracer.isWrite(x.details))
        .foreach(x => add(s"sql-${x.id}", "sources.write", x.start, x.end))
      for (q <- pQes; (n, s, e) <- q.phases if n != "parsing")
        add(n, s"catalyst.$n", s, e)
      val jobKind = pJobs.map(j => j.id -> Tracer.jobKind(j.callsite)).toMap
      pJobs.sortBy(_.start).foreach { j =>
        add(s"job-${j.id}",
          if (jobKind(j.id) == "read") "sources.read" else "exec",
          j.start, j.end)
      }
      spans ++= derived
      val all = own ++ derived

      def sumBy(layer: String) = all.filter(_.layer == layer).map(_.dur).sum / 1e3
      def selfOf(s: Span): Double = {
        val kids = all.filter(_.parent == s.id)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        s.dur - Tracer.union(kids)
      }
      def selfBy(pred: String => Boolean) =
        all.filter(s => pred(s.layer)).map(selfOf).sum / 1e3
      val constructs = own.filter(_.layer == "operators")
      def within(spans: Seq[Span], t: Long) =
        spans.exists(s => s.start <= t && t <= s.end)
      val writeJobs = pJobs.filter(j => jobKind(j.id) == "write" ||
        pExecs.exists(x => Tracer.isWrite(x.details) && x.start <= j.start &&
          j.start <= x.end))
      val writeStages = writeJobs.flatMap(_.stages).toSet
      val gaps = steps.map { st =>
        st.dur - Tracer.union(pJobs.map(j =>
          (math.max(j.start.toDouble, st.start), math.min(j.end.toDouble, st.end))))
      }.sum / 1e3
      val longest = pStages.maxByOption(s => s.end - s.start)
      val skew = longest.map { st =>
        val rs = pTasks.filter(_.stage == st.id).map(_.runMs.toDouble).sorted
        if (rs.isEmpty || rs(rs.size / 2) <= 0) 1.0 else rs.last / rs(rs.size / 2)
      }.getOrElse(1.0)
      val mb = 1024.0 * 1024.0
      val taskRun = pTasks.map(_.runMs).sum / 1e3
      Map(
        "sources.read_s" -> sumBy("sources.read"),
        "sources.read_jobs" -> pJobs.count(j => jobKind(j.id) == "read").toDouble,
        "operators.construct_s" -> sumBy("operators"),
        "operators.construct_jobs" -> pJobs.count(j => jobKind(j.id) == "other" &&
          !writeJobs.contains(j) && within(constructs, j.start)).toDouble,
        "catalyst.analysis_s" -> sumBy("catalyst.analysis"),
        "catalyst.optimization_s" -> sumBy("catalyst.optimization"),
        "catalyst.planning_s" -> sumBy("catalyst.planning"),
        "plans.codegen_compiles" -> compiles.toDouble,
        "plans.codegen_s" -> compileNs / 1e9,
        "sched.jobs" -> pJobs.size.toDouble,
        "sched.stages" -> pStages.size.toDouble,
        "sched.tasks" -> pTasks.size.toDouble,
        "sched.driver_gap_s" -> gaps,
        "exec.task_cpu_s" -> pTasks.map(_.cpuNs).sum / 1e9,
        "exec.task_run_s" -> taskRun,
        "exec.gc_s" -> pTasks.map(_.gcMs).sum / 1e3,
        "exec.scan_tasks" -> pTasks.count(_.input > 0).toDouble,
        "exec.utilization" -> taskRun / (wallS * cores),
        "exec.stage_skew" -> skew,
        "exec.spill_mb" -> pTasks.map(_.spill).sum / mb,
        "shuffle.write_mb" -> pTasks.map(_.shWrite).sum / mb,
        "shuffle.read_mb" -> pTasks.map(_.shRead).sum / mb,
        "plan.exchanges" -> pQes.map(_.exchanges).sum.toDouble,
        "plan.rr_exchanges" -> pQes.map(_.rr).sum.toDouble,
        "sources.write_s" -> sumBy("sources.write"),
        "sources.write_mb" -> pTasks.filter(t => writeStages(t.stage))
          .map(_.output).sum / mb,
        "sources.files_written" -> storeFiles._1.toDouble,
        "sources.store_files" -> storeFiles._2.toDouble,
        "sources.compact_s" -> sumBy("sources.compact"),
        "trace.uncovered_s" -> steps.map(selfOf).sum / 1e3,
        "self.operators_s" -> selfBy(_ == "operators"),
        "self.action_s" -> selfBy(_ == "action"),
        "self.catalyst_s" -> selfBy(_.startsWith("catalyst.")),
        "self.exec_s" -> selfBy(_ == "exec"),
        "self.sources_read_s" -> selfBy(_ == "sources.read"),
        "self.sources_write_s" -> selfBy(_ == "sources.write"),
        "self.sources_compact_s" -> selfBy(_ == "sources.compact")) ++
        steps.map(s => s"uncovered.${s.name}" -> selfOf(s) / 1e3)
    }
  }

  def setPass(p: Int): Unit = curPass = p

  def allSpans: Seq[Span] = synchronized(spans.sortBy(_.start).toSeq)
}

object Tracer {
  /** Length of the union of intervals (clipped, possibly overlapping). */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (cs.isNaN || s > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = s; ce = e
      } else ce = math.max(ce, e)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  private val WriteFrame =
    "graft\\.sources\\.[A-Za-z]+\\$\\.(append|write|writePhashBands)\\(".r
  private val CompactFrame = "graft\\.sources\\.[A-Za-z]+\\$\\.compact\\(".r
  private val GraftFrame = "(?m)^graft\\.([A-Za-z.]+)\\$".r

  /** A call site under a store write (Fingerprints.append and kin). */
  def isWrite(callsite: String): Boolean =
    WriteFrame.findFirstIn(callsite).isDefined

  /** "write" under a store write, "compact" under a store compaction,
    * "read" when the innermost graft frame of the job's call site is a
    * table or store open (graft.Tables, graft.sources.*), "other" for
    * every job a query or action starts. */
  def jobKind(callsite: String): String =
    if (isWrite(callsite)) "write"
    else if (CompactFrame.findFirstIn(callsite).isDefined) "compact"
    else GraftFrame.findFirstMatchIn(callsite).map(_.group(1)) match {
      case Some(c) if c == "Tables" || c.startsWith("sources.") => "read"
      case _ => "other"
    }
}
