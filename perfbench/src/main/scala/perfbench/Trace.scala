package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The run's clock: milliseconds since the JVM loaded this object. Spark
  * stamps its events with epoch milliseconds; [[Clock.ofEpoch]] maps them
  * onto the same axis. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - baseNs) / 1e6
  def ofEpoch(ms: Long): Double = (ms - baseEpochMs).toDouble
}

/** One traced interval: an op, a build or exec phase, a SQL execution, a
  * Spark job or a streaming micro-batch. `op` is the id of the op span the
  * interval belongs to; `parent` the span that caused it. */
final class Span(val id: Int, val kind: String, val name: String, val start: Double, val op: Int) {
  var parent: Int = -1
  var end: Double = start
  val num: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val str: mutable.Map[String, String] = mutable.Map.empty
  def dur: Double = end - start
}

/** Spans for every op the benchmark runs, plus — while [[enable]]d — the
  * SQL executions, jobs and micro-batches Spark reports to the benchmark's
  * own listeners. Op and phase spans come from the benchmark's timers and
  * are always kept; listener spans are attributed to the op that was
  * current when the event was posted, which is exact because the runner
  * drains the listener bus ([[endOp]]) before it starts the next op. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var currentOp = -1
  private val jobs = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val execs = mutable.Map.empty[Long, Span]
  private val planMs = mutable.Map.empty[Long, Double]
  private var enabled = false

  private def add(kind: String, name: String, start: Double, op: Int): Span = synchronized {
    val s = new Span(spans.size, kind, name, start, op)
    spans += s
    s
  }

  // ---- op and phase spans (driver thread) ----

  def beginOp(name: String, family: String, pass: Int): Span = {
    val s = add("op", name, Clock.now, -1)
    s.str("family") = family
    s.num("pass") = pass
    currentOp = s.id
    s
  }

  /** Times `body` as a child span of `op`, tagging the jobs it launches. */
  def phase[A](op: Span, kind: String)(body: => A): A = {
    val s = add(kind, kind, Clock.now, op.id)
    s.parent = op.id
    val sc = spark.sparkContext
    sc.setLocalProperty(PhaseKey, kind)
    try body
    finally {
      s.end = Clock.now
      sc.setLocalProperty(PhaseKey, null)
    }
  }

  /** Closes `op`. While tracing, waits for Spark to report every event of
    * the op, links each listener span to its parent and sums the op's
    * counters into `op.num`. */
  def endOp(op: Span): Unit = {
    if (enabled) {
      ListenerBus.drain(spark.sparkContext)
      synchronized(link(op))
    }
    currentOp = -1
  }

  private def link(op: Span): Unit = {
    val mine = spans.iterator.filter(_.op == op.id).toIndexedSeq
    val phases = mine.filter(s => s.kind == "build" || s.kind == "exec")
    def phaseAt(t: Double): Int =
      phases.find(p => p.start <= t && t <= p.end).map(_.id).getOrElse(op.id)
    def phaseNamed(k: String): Option[Int] = phases.find(_.kind == k).map(_.id)
    for (s <- mine if s.parent < 0) s.kind match {
      case "job" =>
        s.parent = s.str.get("execution").flatMap(e => execs.get(e.toLong)).map(_.id)
          .orElse(s.str.get("phase").flatMap(phaseNamed)).getOrElse(phaseAt(s.start))
      case _ => s.parent = phaseAt(s.start)
    }
    val n = op.num
    val jobSpans = mine.filter(_.kind == "job")
    for (j <- jobSpans; (k, v) <- j.num) n(k) += v
    n("jobs") = jobSpans.size
    n("eager_jobs") = jobSpans.count(_.str.get("phase").contains("build"))
    val sqls = mine.filter(_.kind == "sql")
    n("executions") = sqls.size
    for (s <- sqls; id <- s.str.get("execution_id"); ms <- planMs.get(id.toLong)) s.num("plan_ms") = ms
    n("plan_ms") = planMs.values.sum
    planMs.clear()
    val batches = mine.filter(_.kind == "batch")
    n("batches") = batches.size
    n("batch_ms") = batches.map(_.dur).sum
    n("build_ms") = phases.filter(_.kind == "build").map(_.dur).sum
    n("exec_ms") = phases.filter(_.kind == "exec").map(_.dur).sum
    n("driver_gap_ms") = op.dur - covered(op, jobSpans)
    for (s <- sqls; p <- s.str.get("path"))
      n("write_bytes:" + p) += jobSpans.filter(_.parent == s.id).map(_.num("write_bytes")).sum
  }

  // ---- listeners, registered only while tracing ----

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val s = add("job", s"job ${e.jobId}", Clock.ofEpoch(e.time), currentOp)
      val p: Properties = e.properties
      if (p != null) {
        Option(p.getProperty("spark.sql.execution.id")).foreach(s.str("execution") = _)
        Option(p.getProperty(PhaseKey)).foreach(s.str("phase") = _)
      }
      e.stageIds.foreach(stageJob(_) = s)
      jobs(e.jobId) = s
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.remove(e.jobId).foreach(_.end = Clock.ofEpoch(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.num("stages") += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        val n = j.num
        n("tasks") += 1
        val m = e.taskMetrics
        if (m != null) {
          n("run_ms") += m.executorRunTime
          n("cpu_ms") += m.executorCpuTime / 1e6
          n("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
          n("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
          n("spill_bytes") += m.diskBytesSpilled
          n("read_bytes") += m.inputMetrics.bytesRead
          n("write_bytes") += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        val span = add("sql", s.description, Clock.ofEpoch(s.time), currentOp)
        span.str("execution_id") = s.executionId.toString
        outputPath(s.sparkPlanInfo).foreach(span.str("path") = _)
        execs(s.executionId) = span
      }
      case s: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        execs.get(s.executionId).foreach(_.end = Clock.ofEpoch(s.time))
      }
      case _ => ()
    }
  }

  private val planListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
  }

  /** Analysis + optimization + physical planning time of one execution. */
  private def planned(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    planMs(qe.id) = PlanPhases.flatMap(phases.get).map(_.durationMs.toDouble).sum
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      val start = Clock.ofEpoch(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val s = add("batch", s"batch ${p.batchId}", start, currentOp)
      s.end = start + p.batchDuration
    }
  }

  def enable(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  def disable(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    enabled = false
  }

  def tracing: Boolean = enabled

  /** Every span with its self time (duration minus the part its children
    * cover), one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    val children = spans.groupBy(_.parent)
    val lines = spans.iterator.map { s =>
      val self = s.dur - covered(s, children.getOrElse(s.id, Nil))
      Json.render(Json.obj(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self,
        "num" -> Json.obj(s.num.toSeq.sortBy(_._1): _*), "str" -> Json.obj(s.str.toSeq.sortBy(_._1): _*)))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Local property carrying the phase ("build" or "exec") to the jobs it launches. */
  val PhaseKey = "perfbench.phase"
  private val PlanPhases = Seq(QueryPlanningTracker.ANALYSIS,
    QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
  private val OutputPath = """InsertIntoHadoopFsRelationCommand\s+([^,\s]+),""".r

  /** The output path of a file write, from its plan's command node. */
  def outputPath(plan: SparkPlanInfo): Option[String] =
    OutputPath.findFirstMatchIn(plan.simpleString).map(_.group(1))
      .orElse(plan.children.iterator.flatMap(outputPath).nextOption())

  /** Length of the part of `outer` covered by the union of `inner`. */
  def covered(outer: Span, inner: Iterable[Span]): Double = {
    val iv = inner.map(s => (math.max(s.start, outer.start), math.min(s.end, outer.end)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var (curA, curB) = (Double.NaN, Double.NaN)
    for ((a, b) <- iv) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
