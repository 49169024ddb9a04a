package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation's outcome: its rows (None if it threw) and latency. */
final case class Outcome(rows: Option[Seq[Row]], ms: Double, error: Option[String])

/** A span: one call into a layer, kept in memory until the run ends. */
final case class Span(id: Int, parent: Int, stmt: Int, name: String, layer: String,
    startNs: Long, endNs: Long)

/** Runs the benchmark's operations and, when tracing, records per-layer
  * spans and counters around each call the harness makes into the engine.
  *
  * Everything is measured from outside the engine: wall time around its
  * public calls, Spark's `QueryPlanningTracker` for per-rule optimizer time,
  * and a `SparkListener` for jobs, stages, tasks and task metrics. Jobs are
  * attributed to the phase that started them through a local property:
  * building the DataFrame, forcing its plans (planning jobs), or running
  * it. Jobs of the build phase (an eager REFRESH, a staged dedup) count
  * with execution. */
final class Recorder(spark: SparkSession, indexRoot: String) {
  private val sc = spark.sparkContext
  private val PhaseKey = "perfbench.phase"

  /** Whether the current operation is traced (spans, plan forcing, counters). */
  var tracing = false

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0
  private var stmt = -1
  private val open = mutable.Stack.empty[Int]

  /** Per-statement layer numbers of traced statements, summed; divided by
    * the traced statement count when reported. */
  val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  var tracedStatements = 0
  var claimable = 0
  var claimed = 0
  var lshDropped = 0.0

  // ---- Spark listener: jobs, stages and task metrics per phase ----------
  private final class Counts {
    var jobs, stages, tasks = 0L
    var inputBytes, shuffleRead, shuffleWrite, spill = 0L
    var runMs, cpuNs, gcMs = 0L
    def add(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      inputBytes += o.inputBytes; shuffleRead += o.shuffleRead
      shuffleWrite += o.shuffleWrite; spill += o.spill
      runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    }
  }
  private val byPhase = mutable.Map.empty[String, Counts]
  private val stagePhase = mutable.Map.empty[Int, String]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
      phase.foreach { ph =>
        byPhase.getOrElseUpdate(ph, new Counts).jobs += 1
        e.stageIds.foreach(s => stagePhase(s) = ph)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stagePhase.remove(e.stageInfo.stageId).foreach { ph =>
        val c = byPhase.getOrElseUpdate(ph, new Counts)
        val m = e.stageInfo.taskMetrics
        c.stages += 1
        c.tasks += e.stageInfo.numTasks
        if (m != null) {
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
        }
      }
    }
  }
  sc.addSparkListener(listener)

  private val observer = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      if (tracing) qe.observedMetrics.get("graft_lsh_dropped").foreach { r =>
        if (!r.isNullAt(0)) lshDropped += r.getLong(0).toDouble
      }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  spark.listenerManager.register(observer)

  private def takeCounts(phase: String): Counts = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(byPhase.remove(phase).getOrElse(new Counts))
  }

  // ---- spans -------------------------------------------------------------
  def span[A](name: String, layer: String)(body: => A): A =
    if (!tracing) body
    else {
      val id = nextSpan; nextSpan += 1
      val parent = if (open.isEmpty) -1 else open.top
      open.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        open.pop()
        spans += Span(id, parent, stmt, name, layer, t0, System.nanoTime())
      }
    }

  private def withPhase[A](phase: String)(body: => A): A =
    if (!tracing) body
    else {
      val prev = sc.getLocalProperty(PhaseKey)
      sc.setLocalProperty(PhaseKey, phase)
      try body finally sc.setLocalProperty(PhaseKey, prev)
    }

  /** Time one operation: `body` builds the DataFrame (or runs eagerly and
    * returns one), and its rows are collected. Closed loop: the next
    * operation starts only after this one returns. */
  def op(kind: String, buildSpan: String, buildLayer: String,
      claimable: Boolean = false)(body: => DataFrame): Outcome = {
    stmt += 1
    val tag = s"s$stmt"
    val t0 = System.nanoTime()
    try {
      val rows = span(kind, "harness") {
        val df = withPhase(s"$tag:build")(span(buildSpan, buildLayer)(body))
        if (tracing) withPhase(s"$tag:plan") {
          span("plans.optimize", "plans")(df.queryExecution.optimizedPlan)
          span("plans.physical", "plans")(df.queryExecution.executedPlan)
        }
        withPhase(s"$tag:exec")(span("exec.run", "exec")(df.collect().toSeq)) -> df
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (tracing) account(tag, rows._2, claimable)
      Outcome(Some(rows._1), ms, None)
    } catch {
      case e: Exception =>
        Outcome(None, (System.nanoTime() - t0) / 1e6,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)} at " +
            e.getStackTrace.take(3).mkString(" < ")))
    }
  }

  private def account(tag: String, df: DataFrame, isClaimable: Boolean): Unit = {
    tracedStatements += 1
    val plan = takeCounts(s"$tag:plan")
    val exec = takeCounts(s"$tag:exec")
    val build = takeCounts(s"$tag:build")
    exec.add(build)
    sums("plans.planning_jobs") += plan.jobs
    sums("exec.jobs") += exec.jobs
    sums("exec.stages") += exec.stages
    sums("exec.tasks") += exec.tasks
    sums("exec.input_bytes") += exec.inputBytes + plan.inputBytes
    sums("exec.shuffle_read_bytes") += exec.shuffleRead + plan.shuffleRead
    sums("exec.shuffle_write_bytes") += exec.shuffleWrite + plan.shuffleWrite
    sums("exec.spill_bytes") += exec.spill + plan.spill
    sums("exec.executor_run_ms") += exec.runMs + plan.runMs
    sums("exec.executor_cpu_ms") += (exec.cpuNs + plan.cpuNs) / 1e6
    sums("exec.gc_ms") += exec.gcMs + plan.gcMs
    for ((rule, summary) <- df.queryExecution.tracker.rules if rule.startsWith("graft.")) {
      val key = "plans.rule_ms." + rule.substring(rule.lastIndexOf('.') + 1)
      sums(key) = sums(key) + summary.totalTimeNs / 1e6
    }
    if (isClaimable) {
      claimable += 1
      if (readsIndex(df)) claimed += 1
    }
  }

  /** Whether the statement's optimized plan scans files under the index
    * root, i.e. a claim rule rewrote it into an index drive. */
  private def readsIndex(df: DataFrame): Boolean = {
    val roots = df.queryExecution.optimizedPlan.collectWithSubqueries {
      case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] =>
        r.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.map(_.toUri.getPath)
    }.flatten
    roots.exists(_.startsWith(indexRoot))
  }

  /** Per-layer self time: each span's duration less the part its children
    * cover, summed per layer over traced statements. */
  def selfMs: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum
    }
  }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"stmt":${s.stmt},"name":"${s.name}","layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
