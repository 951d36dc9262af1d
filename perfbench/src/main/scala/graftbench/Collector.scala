package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run. Times are epoch milliseconds, the clock the
  * listener events carry; `parent` is -1 for an operation's root span. */
final case class Span(id: Int, parent: Int, kind: String, name: String, start: Double, end: Double)

/** Per-operation layer record, read only through Spark's public listener
  * interfaces (`SparkListener`, `QueryExecutionListener`) and the codegen
  * counters. Installed by the benchmark for traced passes only. The harness
  * drains the listener bus before [[begin]] and again before [[take]], so the
  * events in between are exactly those the operation caused: one driver
  * thread runs one operation at a time. */
final class Collector(spark: SparkSession, cores: Int)
    extends SparkListener with QueryExecutionListener {

  private final class Job(val id: Int, val execId: Long, val start: Double, val stages: Seq[Int]) {
    var end = start
  }
  private final class Stage(val id: Int) {
    var start = 0.0; var end = 0.0
    val taskMs = ArrayBuffer.empty[Double]
    var runMs = 0.0; var cpuNs = 0.0; var gcMs = 0.0
    var shWrite = 0.0; var shRead = 0.0; var fetchWaitMs = 0.0; var spill = 0.0
    var inRows = 0.0; var inBytes = 0.0; var scanTasks = 0
  }
  private final class Qe(val analysis: Double, val optimization: Double, val planning: Double, val nodes: Int)

  private val jobs = ArrayBuffer.empty[Job]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[Int, Stage]
  private val qes = ArrayBuffer.empty[Qe]
  private val execs = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Double]]
  private var nextSpan = 0
  private var compiles0 = 0L
  private var compileNs0 = 0L

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def stage(id: Int) = stages.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs += new Job(e.jobId, exec, e.time.toDouble, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId)
    s.start = i.submissionTime.getOrElse(0L).toDouble
    s.end = i.completionTime.getOrElse(0L).toDouble
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.taskMs += (e.taskInfo.finishTime - e.taskInfo.launchTime).toDouble
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.diskBytesSpilled
      val in = m.inputMetrics
      s.inRows += in.recordsRead; s.inBytes += in.bytesRead
      if (in.recordsRead > 0 || in.bytesRead > 0) s.scanTasks += 1
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => execs(s.executionId) = Array(s.time.toDouble, s.time.toDouble)
      case s: SparkListenerSQLExecutionEnd => execs.get(s.executionId).foreach(_(1) = s.time.toDouble)
      case _ =>
    }
  }
  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    qes += new Qe(ms("analysis"), ms("optimization"), ms("planning"),
      qe.optimizedPlan.collect { case p => p }.size)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Marks the start of an operation: forgets earlier events and snapshots
    * the codegen counters. */
  def begin(): Unit = synchronized {
    jobs.clear(); stages.clear(); qes.clear(); execs.clear()
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileNs0 = CodeGenerator.compileTime
  }

  /** The operation's layer metrics and its spans. `start`, `buildEnd` and
    * `end` are epoch milliseconds taken by the harness around the build
    * (the query function's call) and the action. */
  def take(op: String, start: Double, buildEnd: Double, end: Double,
           rows: Long): (Map[String, Double], Seq[Span]) = synchronized {
    val wall = end - start
    def union(iv: Seq[(Double, Double)]): Double = {
      var covered = 0.0; var reach = start
      iv.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (b > reach) { covered += b - math.max(a, reach); reach = b }
        }
      covered
    }
    val st = stages.values.toSeq
    val multi = st.filter(_.taskMs.size >= 2)
    val skew = if (multi.isEmpty) 1.0 else multi.map { s =>
      val sorted = s.taskMs.sorted
      val med = sorted(sorted.size / 2)
      if (med > 0) sorted.last / med else 1.0
    }.max
    val runS = st.map(_.runMs).sum / 1e3
    val mb = 1024.0 * 1024.0
    val layers = Map(
      "queries.build_s" -> (buildEnd - start) / 1e3,
      "queries.build_jobs" -> jobs.count(j => j.start <= buildEnd).toDouble,
      "queries.driver_s" -> (wall - union(jobs.map(j => (j.start, j.end)).toSeq)) / 1e3,
      "queries.output_rows" -> rows.toDouble,
      "catalyst.executions" -> qes.size.toDouble,
      "catalyst.analysis_s" -> qes.map(_.analysis).sum / 1e3,
      "catalyst.optimization_s" -> qes.map(_.optimization).sum / 1e3,
      "catalyst.planning_s" -> qes.map(_.planning).sum / 1e3,
      "catalyst.plan_nodes" -> qes.map(_.nodes).sum.toDouble,
      "codegen.compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
      "codegen.compile_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> st.size.toDouble,
      "scheduler.tasks" -> st.map(_.taskMs.size).sum.toDouble,
      "scheduler.gap_s" -> st.map(s => math.max(0.0, s.end - s.start - (s.taskMs :+ 0.0).max)).sum / 1e3,
      "scheduler.single_task_stages" -> st.count(_.taskMs.size == 1).toDouble,
      "executor.run_s" -> runS,
      "executor.cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "executor.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "executor.busy_frac" -> (if (wall > 0) runS * 1e3 / (cores * wall) else 0.0),
      "executor.skew" -> skew,
      "shuffle.write_mb" -> st.map(_.shWrite).sum / mb,
      "shuffle.read_mb" -> st.map(_.shRead).sum / mb,
      "shuffle.fetch_wait_s" -> st.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_mb" -> st.map(_.spill).sum / mb,
      "sources.input_rows" -> st.map(_.inRows).sum,
      "sources.input_mb" -> st.map(_.inBytes).sum / mb,
      "sources.scan_tasks" -> st.map(_.scanTasks).sum.toDouble)

    val spans = ArrayBuffer.empty[Span]
    def add(parent: Int, kind: String, name: String, a: Double, b: Double): Int = {
      nextSpan += 1
      spans += Span(nextSpan, parent, kind, name, a, b)
      nextSpan
    }
    val q = add(-1, "query", op, start, end)
    val build = add(q, "build", op, start, buildEnd)
    val action = add(q, "action", op, buildEnd, end)
    def phaseOf(t: Double) = if (t <= buildEnd) build else action
    val qeSpan = execs.map { case (id, Array(a, b)) =>
      id -> add(phaseOf(a), "qe", s"execution $id", a, b)
    }.toMap
    val jobSpan = jobs.map { j =>
      val parent = qeSpan.getOrElse(j.execId, phaseOf(j.start))
      j -> add(parent, "job", s"job ${j.id}", j.start, j.end)
    }
    st.foreach { s =>
      val parent = jobSpan.collectFirst { case (j, id) if j.stages.contains(s.id) => id }.getOrElse(q)
      add(parent, "stage", s"stage ${s.id}", s.start, s.end)
    }
    (layers, spans.toSeq)
  }
}
