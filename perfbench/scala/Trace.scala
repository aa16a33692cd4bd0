package perfbench

import scala.collection.mutable.{ArrayBuffer, HashMap}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation as the client saw it: wall-clock milliseconds
  * (epoch, fractional) for start, end of the build step, and end. */
case class OpWindow(tag: String, key: String, start: Double, built: Double,
    end: Double)

/** A span of the trace tree `pass → op → build|plan|execute → job →
  * stage` (plus `check` spans under the pass, which are untimed). */
case class Span(id: Int, parent: Int, name: String, start: Double,
    end: Double) {
  def dur: Double = math.max(0.0, end - start)
}

/** JVM-wide counters, read before and after a pass: codegen compile
  * time (ns) and classes compiled, and GC time (ms) — in local mode the
  * executors share the driver's JVM, and task-level GC time rounds to 0
  * on short tasks. */
object Counters {
  def snapshot(): Seq[Long] = Seq(CodeGenerator.compileTime,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray(Array.empty[java.lang.management.GarbageCollectorMXBean])
      .map(_.getCollectionTime).sum)

  /** Per-layer figures from the difference of two snapshots. */
  def delta(a: Seq[Long], b: Seq[Long]): Map[String, Double] = Map(
    "codegen.compile_s" -> (b(0) - a(0)) / 1e9,
    "codegen.classes" -> (b(1) - a(1)).toDouble,
    "exec.gc_s" -> (b(2) - a(2)) / 1e3)
}

/** The benchmark's tracing harness, built only on Spark's public hooks:
  * a SparkListener (jobs, stages, tasks, blocks, AQE updates) and a
  * QueryExecutionListener (the planning tracker's phases and rules).
  * Events are kept in memory; `passMetrics` turns the events inside one
  * pass into per-layer totals and spans.
  *
  * Jobs and stages are tied to their operation through the local
  * property `OpProp`, which the client sets before each operation;
  * planner phases and block updates, which carry no properties, are
  * tied to an operation by time.
  */
class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private case class TaskRec(stage: Int, dur: Long, run: Long, cpu: Long,
      deser: Long, inBytes: Long, inRows: Long, sw: Long, sr: Long,
      fetch: Long, spill: Long)
  private case class JobRec(id: Int, tag: String, start: Long,
      var end: Long, stages: Seq[Int])
  private case class StageRec(id: Int, tag: String, start: Long, end: Long)
  // start: first phase; planStart: optimization (analysis is eager, so
  // it runs while the client builds the DataFrame)
  private case class QeRec(start: Double, planStart: Double, end: Double,
      analysis: Double, optimization: Double, planning: Double,
      graftRules: Double)

  private val tasks = ArrayBuffer[TaskRec]()
  private val jobs = HashMap[Int, JobRec]()
  private val stageTag = HashMap[Int, String]()
  private val stages = ArrayBuffer[StageRec]()
  private val qes = ArrayBuffer[QeRec]()
  private val execStart = HashMap[Long, Long]()
  private val aqe = ArrayBuffer[Long]()
  private val blocks = ArrayBuffer[(Long, Long)]()
  @volatile private var lastEvent = System.nanoTime()
  @volatile private var openJobs = 0

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(OpProp))).getOrElse("")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      openJobs += 1
      jobs(e.jobId) = JobRec(e.jobId, tagOf(e.properties), e.time, -1L,
        e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      openJobs -= 1
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock { stageTag(e.stageInfo.stageId) = tagOf(e.properties) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock {
        val i = e.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime)
          stages += StageRec(i.stageId, stageTag.getOrElse(i.stageId, ""), s, c)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.duration,
        m.executorRunTime, m.executorCpuTime, m.executorDeserializeTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        blocks += ((System.currentTimeMillis(), b.memSize + b.diskSize))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = lock {
      e match {
        case s: SparkListenerSQLExecutionStart => execStart(s.executionId) = s.time
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          aqe += execStart.getOrElse(u.executionId, System.currentTimeMillis())
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = lock {
    val ph = qe.tracker.phases
    def dur(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    if (ph.nonEmpty) {
      val graft = qe.tracker.rules.collect {
        case (name, r) if name.startsWith("graft.") => r.totalTimeNs
      }.sum
      val plan = ph.filter(_._1 != QueryPlanningTracker.ANALYSIS).values
      val start = ph.values.map(_.startTimeMs).min.toDouble
      val end = ph.values.map(_.endTimeMs).max.toDouble
      qes += QeRec(start, if (plan.isEmpty) end else plan.map(_.startTimeMs).min.toDouble,
        end,
        dur(QueryPlanningTracker.ANALYSIS), dur(QueryPlanningTracker.OPTIMIZATION),
        dur(QueryPlanningTracker.PLANNING), graft / 1e6)
    }
  }

  private def lock[T](body: => T): T = synchronized {
    lastEvent = System.nanoTime()
    body
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Wait until the listener bus has delivered this pass's events: no
    * job open and no event for 150 ms (at most 5 s). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    Thread.sleep(50)
    while (System.nanoTime() < deadline &&
      (openJobs > 0 || System.nanoTime() - lastEvent < 150000000L))
      Thread.sleep(20)
  }

  /** Per-layer totals and spans for one pass. `wall` is the pass's timed
    * wall (sum of operation walls, seconds); `checks` are the untimed
    * output-check windows; `counters` are the JVM-wide figures of the
    * pass; `nextId` numbers the spans. */
  def passMetrics(passId: Int, ops: Seq[OpWindow], checks: Seq[OpWindow],
      wall: Double, counters: Map[String, Double], nextId: Int)
      : (Map[String, Double], Seq[Span]) = synchronized {
    val tags = ops.map(_.tag).toSet
    val inOp = (t: Double) => ops.exists(o => t >= o.start && t <= o.end + 1)
    val passStages = stages.filter(s => tags(s.tag))
    val stageIds = passStages.map(_.id).toSet
    val passTasks = tasks.filter(t => stageIds(t.stage))
    val passJobs = jobs.values.filter(j => tags(j.tag)).toSeq.sortBy(_.start)
    val passQes = qes.filter(q => inOp(q.start))
    val passAqe = aqe.count(t => inOp(t.toDouble))
    val passBlocks = blocks.filter { case (t, _) =>
      ops.exists(o => t >= o.start && t <= o.end + 200)
    }

    // spans
    var id = nextId
    val spans = ArrayBuffer[Span]()
    def add(parent: Int, name: String, s: Double, e: Double): Span = {
      val sp = Span(id, parent, name, s, e); id += 1; spans += sp; sp
    }
    val all = ops ++ checks
    val pass = add(-1, s"pass:$passId", all.map(_.start).min, all.map(_.end).max)
    val selfT = HashMap[String, Double]().withDefaultValue(0.0)
    def self(layer: String, sp: Span, kids: Seq[Span]): Unit =
      selfT(layer) += sp.dur - union(kids.map(k => (k.start max sp.start,
        k.end min sp.end)))
    val opSpans = ops.map { o =>
      val op = add(pass.id, s"op:${o.key}", o.start, o.end)
      val build = add(op.id, "build", o.start, o.built)
      val q = passQes.filter(x => x.planStart >= o.built - 1 && x.planStart <= o.end)
      val planEnd = if (q.isEmpty) o.built else q.map(_.end).max min o.end
      val plan = add(op.id, "plan", if (q.isEmpty) o.built
        else q.map(_.planStart).min max o.built, planEnd)
      val exec = add(op.id, "execute", planEnd, o.end)
      val steps = Seq(build, plan, exec)
      val stepJobs = steps.map(_ -> ArrayBuffer[Span]()).toMap
      passJobs.filter(_.tag == o.tag).foreach { j =>
        val parent = steps.find(s => j.start >= s.start && j.start <= s.end)
          .getOrElse(exec)
        val js = add(parent.id, s"job:${j.id}", j.start.toDouble,
          if (j.end < 0) o.end else j.end.toDouble)
        stepJobs(parent) += js
        val st = passStages.filter(s => j.stages.contains(s.id)).map(s =>
          add(js.id, s"stage:${s.id}", s.start.toDouble, s.end.toDouble))
        self("job", js, st.toSeq)
        st.foreach(s => selfT("stage") += s.dur)
      }
      steps.zip(Seq("build", "plan", "execute")).foreach { case (s, n) =>
        self(n, s, stepJobs(s).toSeq)
      }
      self("op", op, steps)
      op
    }
    val checkSpans = checks.map(c => add(pass.id, s"check:${c.key}", c.start, c.end))
    self("pass", pass, opSpans ++ checkSpans)

    val jobBusy = ops.map { o =>
      val iv = passJobs.filter(_.tag == o.tag).map(j =>
        (j.start.toDouble max o.start, (if (j.end < 0) o.end else j.end.toDouble) min o.end))
      (o.end - o.start) - union(iv)
    }.sum
    val skews = passStages.flatMap { s =>
      val d = passTasks.filter(_.stage == s.id).map(_.dur.toDouble).sorted.toSeq
      if (d.isEmpty || median(d) <= 0) None else Some(d.last / median(d))
    }
    val runS = passTasks.map(_.run).sum / 1e3
    val m = Map[String, Double](
      "tables.scan_bytes" -> passTasks.map(_.inBytes).sum.toDouble,
      "tables.scan_rows" -> passTasks.map(_.inRows).sum.toDouble,
      "queries.build_s" -> ops.map(o => o.built - o.start).sum / 1e3,
      "queries.build_jobs" -> passJobs.count(j =>
        ops.exists(o => o.tag == j.tag && j.start <= o.built)).toDouble,
      "plans.analysis_s" -> passQes.map(_.analysis).sum / 1e3,
      "plans.optimization_s" -> passQes.map(_.optimization).sum / 1e3,
      "plans.planning_s" -> passQes.map(_.planning).sum / 1e3,
      "plans.graft_rules_s" -> passQes.map(_.graftRules).sum / 1e3,
      "plans.aqe_updates" -> passAqe.toDouble,
      "sched.jobs" -> passJobs.size.toDouble,
      "sched.stages" -> passStages.size.toDouble,
      "sched.tasks" -> passTasks.size.toDouble,
      "sched.driver_gap_s" -> jobBusy / 1e3,
      "exec.run_s" -> runS,
      "exec.cpu_s" -> passTasks.map(_.cpu).sum / 1e9,
      "exec.deser_s" -> passTasks.map(_.deser).sum / 1e3,
      "exec.busy_ratio" -> runS / (wall * cores),
      "exec.stage_skew" -> (if (skews.isEmpty) 1.0 else median(skews.toSeq.sorted)),
      "shuffle.write_bytes" -> passTasks.map(_.sw).sum.toDouble,
      "shuffle.read_bytes" -> passTasks.map(_.sr).sum.toDouble,
      "shuffle.fetch_wait_s" -> passTasks.map(_.fetch).sum / 1e3,
      "shuffle.spill_bytes" -> passTasks.map(_.spill).sum.toDouble,
      "materialize.blocks" -> passBlocks.size.toDouble,
      "materialize.block_bytes" -> passBlocks.map(_._2).sum.toDouble
    ) ++ counters ++ selfT.map { case (k, v) => s"self.${k}_s" -> v / 1e3 }
    (m, spans.toSeq)
  }
}

object Tracer {
  val OpProp = "perfbench.op"

  def median(sorted: Seq[Double]): Double =
    if (sorted.isEmpty) 0.0
    else if (sorted.size % 2 == 1) sorted(sorted.size / 2)
    else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
