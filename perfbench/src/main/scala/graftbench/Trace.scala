package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, Table}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch nanoseconds from the monotonic clock, so client spans (nanoTime)
  * and listener spans (epoch milliseconds) share one time line.
  */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + base
}

final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long, client: Boolean)

/** The traced run's recorder. Spans and per-op counters stay in memory
  * and are written out once, at the end. Everything here sits outside
  * the engine: client spans wrap calls into graft's public surfaces, and
  * the rest comes from Spark's listener interfaces and /proc/self/io.
  *
  * Ops are traced one at a time by the single client thread. Listener
  * events arrive on Spark's bus thread; the bus is drained before and
  * after each traced op, so every event of the op is delivered while the
  * op is current and none of another op's events leak into it.
  */
object Trace {
  val GroupPrefix = "perfbench-op-"

  @volatile private var active = false
  @volatile private var currentOp = -1L
  @volatile private var clientThread: Thread = _

  private val ids = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Long] = Nil // client thread only
  private val counters = mutable.Map[Long, mutable.Map[String, Double]]()
  // listener-side bookkeeping, guarded by `this`
  private val jobInfo = mutable.Map[Int, (Long, String, Long)]() // job -> (op, stage tag, start ns)
  private val stageOp = mutable.Map[Int, (Long, String)]()
  private val intervals = mutable.Map[Long, mutable.ArrayBuffer[(Long, Long)]]()
  private val jobIntervals = mutable.Map[Long, mutable.ArrayBuffer[(Long, Long)]]()
  private val rootSpan = mutable.Map[Long, Long]()

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(ExecListener)
    spark.listenerManager.register(PlanListener)
  }

  // ---- counters and spans ----------------------------------------

  def add(op: Long, name: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(op, mutable.Map())
    m(name) = m.getOrElse(name, 0.0) + v
  }

  def add(name: String, v: Double): Unit = if (active) add(currentOp, name, v)

  def opCounters(op: Long): Map[String, Double] = synchronized {
    counters.get(op).map(_.toMap).getOrElse(Map.empty)
  }

  private def record(parent: Long, op: Long, name: String, s: Long, e: Long,
                     client: Boolean): Unit = synchronized {
    spans += Span(ids.getAndIncrement(), parent, op, name, s, e, client)
  }

  private def interval(op: Long, s: Long, e: Long, job: Boolean): Unit = synchronized {
    intervals.getOrElseUpdate(op, mutable.ArrayBuffer()) += ((s, e))
    if (job) jobIntervals.getOrElseUpdate(op, mutable.ArrayBuffer()) += ((s, e))
  }

  /** Time `body` as a client span under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!active || Thread.currentThread() != clientThread) body
    else {
      val id = ids.getAndIncrement()
      val parent = stack.headOption.getOrElse(0L)
      val op = currentOp
      val s = Clock.nowNs
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        synchronized { spans += Span(id, parent, op, name, s, Clock.nowNs, client = true) }
      }
    }

  /** A table resolution: `spark.table`, `read.format("graft").load`, or a
    * catalog `loadTable` reached from SQL analysis.
    */
  def resolve[T](body: => T): T =
    if (!active || Thread.currentThread() != clientThread) body
    else {
      val t = System.nanoTime()
      try span("sources.resolve")(body)
      finally {
        add("sources.resolve_ms", (System.nanoTime() - t) / 1e6)
        add("sources.resolve_calls", 1)
      }
    }

  // ---- op lifecycle -----------------------------------------------

  /** Start tracing op `op`. */
  def beginOp(spark: SparkSession, op: Long): Unit = {
    PerfbenchShim.drainListenerBus(spark.sparkContext)
    clientThread = Thread.currentThread()
    currentOp = op
    spark.sparkContext.setJobGroup(GroupPrefix + op, "perfbench op", false)
    val id = ids.getAndIncrement()
    synchronized { rootSpan(op) = id }
    stack = List(id)
    active = true
  }

  /** Finish op `op` that ran over [startNs, endNs]: drain the bus, then
    * derive the op's layer figures from what was recorded.
    */
  def endOp(spark: SparkSession, op: Long, name: String,
            startNs: Long, endNs: Long): Map[String, Double] = {
    PerfbenchShim.drainListenerBus(spark.sparkContext)
    active = false
    stack = Nil
    spark.sparkContext.clearJobGroup()
    synchronized { spans += Span(rootSpan(op), 0L, op, name, startNs, endNs, client = true) }
    val c = opCounters(op)
    val wallMs = (endNs - startNs) / 1e6
    val (busy, jobs) = synchronized {
      (intervals.getOrElse(op, mutable.ArrayBuffer()).toSeq,
        jobIntervals.getOrElse(op, mutable.ArrayBuffer()).toSeq)
    }
    val jobMs = Intervals.covered(jobs, startNs, endNs) / 1e6
    val busyMs = Intervals.covered(busy, startNs, endNs) / 1e6
    val runMs = c.getOrElse("exec.task_run_ms", 0.0)
    val cores = spark.sparkContext.defaultParallelism
    c ++ Map(
      "exec.job_ms" -> jobMs,
      "exec.slot_util" -> (if (jobMs > 0) runMs / (jobMs * cores) else 0.0),
      "sinks.driver_ms" -> math.max(0.0, wallMs - busyMs))
  }

  // ---- listeners --------------------------------------------------

  private def opOfGroup(props: java.util.Properties): Option[(Long, String)] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix))
      .map { g =>
        val rest = g.stripPrefix(GroupPrefix)
        val slash = rest.indexOf('/')
        if (slash < 0) (rest.toLong, "") else (rest.take(slash).toLong, rest.drop(slash + 1))
      }

  /** Attribute one op's jobs to a named runner stage. */
  def withStage[T](spark: SparkSession, stage: String)(body: => T): T =
    if (!active) body
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(s"$GroupPrefix$currentOp/$stage", "perfbench stage", false)
      val t = System.nanoTime()
      try span(s"runner.$stage")(body)
      finally {
        add(s"runner.${stage}_ms", (System.nanoTime() - t) / 1e6)
        sc.setJobGroup(GroupPrefix + currentOp, "perfbench op", false)
      }
    }

  private object ExecListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.synchronized {
      opOfGroup(e.properties).orElse(if (active) Some((currentOp, "")) else None)
        .foreach { case (op, stage) =>
          jobInfo(e.jobId) = (op, stage, e.time * 1000000L)
          e.stageIds.foreach(s => stageOp(s) = (op, stage))
          add(op, "exec.jobs", 1)
          if (stage.nonEmpty) add(op, s"runner.$stage.jobs", 1)
        }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.synchronized {
      jobInfo.remove(e.jobId).foreach { case (op, _, s) =>
        val end = e.time * 1000000L
        interval(op, s, end, job = true)
        record(0L, op, "exec.job", s, end, client = false)
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.synchronized {
        stageOp.get(e.stageInfo.stageId).foreach { case (op, _) => add(op, "exec.stages", 1) }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.synchronized {
      stageOp.get(e.stageId).foreach { case (op, stage) =>
        add(op, "exec.tasks", 1)
        if (stage.nonEmpty) add(op, s"runner.$stage.tasks", 1)
        if (e.reason != org.apache.spark.Success) add(op, "exec.task_failures", 1)
        val m = e.taskMetrics
        if (m != null) {
          add(op, "exec.task_run_ms", m.executorRunTime.toDouble)
          add(op, "exec.task_cpu_ms", m.executorCpuTime / 1e6)
          add(op, "exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
          add(op, "exec.input_records", m.inputMetrics.recordsRead.toDouble)
          add(op, "exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(op, "exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
          if (stage.nonEmpty)
            add(op, s"runner.$stage.task_run_ms", m.executorRunTime.toDouble)
        }
      }
    }
  }

  private object PlanListener extends QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = if (active) {
      val op = currentOp
      add(op, "plan.executions", 1)
      qe.tracker.phases.foreach { case (phase, p) =>
        if (Set("analysis", "optimization", "planning")(phase)) {
          add(op, s"plan.${phase}_ms", (p.endTimeMs - p.startTimeMs).toDouble)
          val s = p.startTimeMs * 1000000L
          val e = p.endTimeMs * 1000000L
          interval(op, s, e, job = false)
          record(0L, op, s"plan.$phase", s, e, client = false)
        }
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  // ---- output -----------------------------------------------------

  /** Write every span as one JSON line with its self time: its duration
    * minus the part of it covered by its child spans. Listener spans
    * (jobs, planning phases) are hung under the innermost client span of
    * their op that contains their start.
    */
  def writeJsonl(path: Path): Int = synchronized {
    val byOp = spans.groupBy(_.op)
    val placed = spans.map { s =>
      if (s.client) s
      else {
        val host = byOp(s.op).filter(c => c.client && c.startNs <= s.startNs && s.startNs <= c.endNs)
        if (host.isEmpty) s
        else s.copy(parent = host.minBy(c => c.endNs - c.startNs).id)
      }
    }
    val children = placed.groupBy(_.parent)
    val lines = placed.sortBy(s => (s.op, s.startNs)).map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).toSeq
      val selfMs = (s.endNs - s.startNs - Intervals.covered(kids, s.startNs, s.endNs)) / 1e6
      f"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", """ +
        f""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "dur_ms": ${(s.endNs - s.startNs) / 1e6}%.4f, """ +
        f""""self_ms": $selfMs%.4f}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.asJava, StandardCharsets.UTF_8)
    lines.size
  }
}

object Intervals {
  /** Length of the union of `iv`, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Process-wide I/O counters from /proc/self/io. graft's table format
  * does its metadata I/O through java.nio, which Hadoop's file-system
  * statistics do not see; the kernel's per-process counters do.
  */
object ProcIo {
  private val file = Paths.get("/proc/self/io")

  def snapshot(): Map[String, Long] =
    if (!Files.isReadable(file)) Map.empty
    else Files.readAllLines(file).asScala.flatMap { l =>
      l.split(":\\s*") match {
        case Array(k, v) => Some(k -> v.trim.toLong)
        case _ => None
      }
    }.toMap

  /** Deltas named as the benchmark reports them: syscalls and the bytes
    * passed through read/write calls (rchar/wchar).
    */
  def delta(before: Map[String, Long], after: Map[String, Long]): Map[String, Double] = {
    def d(k: String) = (after.getOrElse(k, 0L) - before.getOrElse(k, 0L)).toDouble
    Map("io.read_syscalls" -> d("syscr"), "io.write_syscalls" -> d("syscw"),
      "io.read_bytes" -> d("rchar"), "io.write_bytes" -> d("wchar"))
  }
}

/** graft's catalog with table resolution timed for the traced run. */
class TimedGraftCatalog extends graft.sources.GraftCatalog {
  override def loadTable(ident: Identifier): Table =
    Trace.resolve(super.loadTable(ident))
  override def loadTable(ident: Identifier, version: String): Table =
    Trace.resolve(super.loadTable(ident, version))
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    Trace.resolve(super.loadTable(ident, timestamp))
}
