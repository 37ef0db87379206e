package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One op of a workload's closed loop: a statement (`read` / `write`) in
  * the table workloads, a pipeline batch (`batch`) in etl_daily. `run`
  * gets whether the op is traced and reports whether its answer checked
  * out.
  */
final case class Op(kind: String, label: String, run: Boolean => Outcome)
final case class Outcome(ok: Boolean, rows: Long = 0L, detail: String = "")

trait Workload {
  /** Generate the inputs and build the tables. */
  def setup(): Unit
  /** Untimed warm-up on the kept build (counted in setup time). */
  def warmup(): Unit
  /** Untimed expected-answer preparation (not counted in setup time). */
  def prepareChecks(): Unit = ()
  /** The next op of the seeded stream; None once the inputs run out. */
  def next(): Option[Op]
  /** End-of-run output checks; each returned string is one failure. */
  def finalChecks(traced: Boolean): Seq[String]
  /** Bytes under the table roots over the bytes of their live rows
    * written once as plain parquet with the same partitioning.
    */
  def spaceAmp(): Double
  /** Loop ops after which the run measures retained heap and calls
    * checkpoint(), with the loop's clock stopped; at the end of the loop
    * if it is shorter. A fixed op count keeps both figures from growing
    * with the number of ops a run gets through.
    */
  def checkpointOps: Int
  /** Record any state that end-of-run metrics measure at the checkpoint. */
  def checkpoint(): Unit = ()
  /** Table roots whose files and bytes the traced run reports per op. */
  def roots: Seq[String]
  /** Input sizes and other facts for the summary. */
  def info: Map[String, Any]
  /** Consecutive ops that belong together, such as a write and its check
    * read. The loop ends only after a whole group; the traced run traces
    * a group, then leaves one untraced, and so on; and ops_per_s counts
    * the group that straddles the end of the window by its share.
    */
  def group: Int = 1
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, out: Path, launchedMs: Long, cores: Int, mode: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("out")).toAbsolutePath,
      m.getOrElse("launched-ms", System.currentTimeMillis().toString).toLong,
      m.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt,
      m.getOrElse("mode", "run"))
  }
}

object Main {
  val LoopDone = "loop.done"

  def main(argv: Array[String]): Unit = {
    val enteredMs = System.currentTimeMillis()
    val a = Args.parse(argv)
    val result =
      try a.mode match {
        case "run" => run(a, (enteredMs - a.launchedMs) / 1000.0)
        case "restart" => Dml.restartCheck(a)
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          Map[String, Any]("error" -> e.toString)
      }
    Files.createDirectories(a.out.getParent)
    Files.write(a.out, Json.render(result).getBytes(StandardCharsets.UTF_8))
    sys.exit(if (result.contains("error")) 1 else 0)
  }

  def session(a: Args, catalogClass: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      // keep Spark's own job/SQL status store small, so retained heap
      // reflects graft's state rather than UI history
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.extensions", "graft.plans.GraftSqlExtensions")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .config("perfbench.catalog", catalogClass)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def secondsOf(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  private def run(a: Args, jvmStartS: Double): Map[String, Any] = {
    val catalogClass =
      if (a.trace) classOf[TimedGraftCatalog].getName
      else classOf[graft.sources.GraftCatalog].getName
    val t = System.nanoTime()
    val spark = session(a, catalogClass)
    val sessionS = (System.nanoTime() - t) / 1e9
    val w: Workload = a.workload match {
      case "table_reads" => new Reads(spark, a)
      case "table_dml" => new Dml(spark, a)
      case "etl_daily" => new Etl(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val buildS = secondsOf(w.setup())
    // before the warm-up, so the loop starts on the JIT and heap state
    // the warm-up leaves
    val checkPrepS = secondsOf(w.prepareChecks())
    val warmS = secondsOf(w.warmup())
    val setupS = jvmStartS + sessionS + buildS + warmS

    if (a.trace) Trace.install(spark)
    val rec = new Recorder
    val layers = new LayerTotals(a.cores)
    val loopStart = System.nanoTime()
    val deadline = loopStart + (a.seconds * 1e9).toLong
    var i = 0L
    var pausedNs = 0L
    // ops inside the --seconds window; the group of ops that straddles
    // its end counts for the share of it before the end, so that
    // ops_per_s does not jump with which op a run happens to end on.
    // Counting whole groups keeps a short check read from weighing as
    // much as the write before it.
    var inWindow = 0.0
    var groupStart = 0L
    var heapMb = Double.NaN
    def measure(): Unit = { heapMb = retainedHeapMb(); w.checkpoint() }
    // a traced run goes on past the deadline until it has timed both a
    // traced and an untraced op, so that trace.overhead has both sides
    def more = i % w.group != 0 || System.nanoTime() - pausedNs < deadline ||
      (a.trace && (layers.tracedOps == 0 || layers.untracedOps == 0))
    var op = if (more) w.next() else None
    while (op.isDefined) {
      val o = op.get
      val traced = a.trace && (i / w.group) % 2 == 0
      val slot = System.nanoTime()
      if (traced) Trace.beginOp(spark, i)
      val io0 = if (traced) ProcIo.snapshot() else Map.empty[String, Long]
      val s = Clock.nowNs
      val t0 = System.nanoTime()
      if (i % w.group == 0) groupStart = t0
      val out =
        try o.run(traced)
        catch { case NonFatal(e) => Outcome(ok = false, detail = e.toString) }
      val t1 = System.nanoTime()
      val ms = (t1 - t0) / 1e6
      val e = Clock.nowNs
      if ((i + 1) % w.group == 0) {
        val end = deadline + pausedNs
        inWindow += w.group * (if (t1 <= end) 1.0
          else if (groupStart < end) (end - groupStart).toDouble / (t1 - groupStart) else 0.0)
      }
      rec.add(o.kind, ms, out, o.label)
      if (traced) {
        val io = ProcIo.delta(io0, ProcIo.snapshot())
        val m = Trace.endOp(spark, i, s"op.${o.kind}", s, e) ++ io ++ Disk.tableStats(w.roots)
        layers.add(o.kind, m, out.rows)
        layers.tracedNs += System.nanoTime() - slot
        layers.tracedOps += 1
      } else {
        layers.untracedNs += System.nanoTime() - slot
        layers.untracedOps += 1
      }
      i += 1
      if (i == w.checkpointOps) {
        val p = System.nanoTime()
        measure()
        pausedNs += System.nanoTime() - p
      }
      op = if (more) w.next() else None
    }
    val loopS = (System.nanoTime() - loopStart - pausedNs) / 1e9
    if (heapMb.isNaN) measure()
    // tells run.py that the last op has returned
    Files.write(a.work.resolve(LoopDone), Array.emptyByteArray)
    val checkFailures = w.finalChecks(a.trace)
    val amp = w.spaceAmp()

    val primary = a.workload match {
      case "table_reads" => "read"
      case "table_dml" => "write"
      case _ => "batch"
    }
    val (tailLevel, tailMs) = Stats.tail(rec.lat(primary))
    val e2e = Map[String, Any](
      "setup_s" -> setupS,
      "ops_per_s" -> inWindow / math.min(loopS, a.seconds),
      "op_p50_ms" -> Stats.percentile(rec.lat(primary), 50),
      "op_tail_ms" -> tailMs,
      "retained_heap_mb" -> heapMb,
      "space_amp" -> amp)
    val spans = if (a.trace) Trace.writeJsonl(a.work.resolve("trace.jsonl")) else 0
    Files.write(a.work.resolve("ops.tsv"),
      ("label\tkind\tms\tok" +: rec.log).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val byKind = rec.kinds.map { k =>
      val (lv, t) = Stats.tail(rec.lat(k))
      k -> Map[String, Any]("n" -> rec.lat(k).size, "p50_ms" -> Stats.percentile(rec.lat(k), 50),
        "tail_ms" -> t, "tail_pct" -> lv)
    }.toMap
    Map(
      "correct" -> (rec.failed == 0 && checkFailures.isEmpty),
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "e2e" -> e2e,
      "layer" -> (if (a.trace) layers.metrics else Map.empty[String, Any]),
      "info" -> Map[String, Any](
        "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
        "primary_kind" -> primary, "op_tail_pct" -> tailLevel,
        "op_samples" -> rec.lat(primary).size, "by_kind" -> byKind,
        "failed_ratio" -> rec.failed.toDouble / math.max(1L, rec.attempted),
        "loop_s" -> loopS, "checkpoint_ops" -> math.min(i, w.checkpointOps.toLong),
        "jvm_start_s" -> jvmStartS, "session_s" -> sessionS,
        "build_s" -> buildS, "warmup_s" -> warmS, "check_prep_s" -> checkPrepS,
        "op_failures" -> rec.failures.toSeq, "check_failures" -> checkFailures,
        "family_p50_ms" -> rec.byFamily.map { case (f, xs) => f -> Stats.median(xs.toSeq) },
        "family_n" -> rec.byFamily.map { case (f, xs) => f -> xs.size },
        "traced_ops" -> layers.tracedOps, "trace_spans" -> spans,
        "setup_steps_s" -> Steps.times, "inputs" -> w.info))
  }

  /** Heap in use right after a full GC, once another full GC no longer
    * frees more than 1 MB: Spark's cleaner thread releases shuffle and
    * broadcast blocks only after a GC has found them unreachable. Heap
    * usage read later also counts what other threads have allocated
    * since, in whole allocation buffers of up to a heap region, so it is
    * taken from the pools' usage as the last collection left it.
    */
  private def retainedHeapMb(): Double = {
    def afterGc(): Double = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }
    var prev = afterGc()
    var cur = afterGc()
    var rounds = 2
    while (cur < prev - 1.0 && rounds < 10) { prev = cur; cur = afterGc(); rounds += 1 }
    cur
  }
}

/** Latencies per op kind, and attempted/failed counts. */
final class Recorder {
  private val byKind = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Latencies per statement family ("family#index" labels). */
  val byFamily = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  /** Every op in loop order: label, kind, latency, answer ok. */
  val log = mutable.ArrayBuffer[String]()

  def add(kind: String, ms: Double, out: Outcome, label: String): Unit = {
    attempted += 1
    log += f"$label\t$kind\t$ms%.3f\t${out.ok}"
    if (!out.ok) {
      failed += 1
      if (failures.size < 20) failures += s"$label: ${out.detail}"
    }
    byKind.getOrElseUpdate(kind, mutable.ArrayBuffer()) += ms
    if (label.contains('#'))
      byFamily.getOrElseUpdate(label.takeWhile(_ != '#'), mutable.ArrayBuffer()) += ms
  }
  def kinds: Seq[String] = byKind.keys.toSeq
  def lat(kind: String): Seq[Double] = byKind.get(kind).map(_.toSeq).getOrElse(Nil)
}

/** Per-layer figures of the traced ops, reported as means per traced op
  * (ratios from their summed parts). Layers that do not apply to a
  * workload read 0.
  */
final class LayerTotals(cores: Int) {
  private val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
  var tracedOps = 0L
  var untracedOps = 0L
  var tracedNs = 0L
  var untracedNs = 0L
  private var readInput = 0.0
  private var readRows = 0.0

  def add(kind: String, m: Map[String, Double], rows: Long): Unit = {
    m.foreach { case (k, v) => sums(k) += v }
    if (kind == "read") {
      readInput += m.getOrElse("exec.input_records", 0.0)
      readRows += rows
    }
  }

  def metrics: Map[String, Any] = {
    val n = math.max(1L, tracedOps).toDouble
    val per = LayerTotals.Names.map(k => k -> sums(k) / n).toMap
    val overhead =
      if (tracedNs == 0 || untracedNs == 0 || untracedOps == 0) 0.0
      else (tracedOps / (tracedNs / 1e9)) / (untracedOps / (untracedNs / 1e9))
    per ++ Map(
      "exec.slot_util" ->
        (if (sums("exec.job_ms") > 0) sums("exec.task_run_ms") / (sums("exec.job_ms") * cores) else 0.0),
      "scan.rows_read_per_row_returned" -> (if (readRows > 0) readInput / readRows else 0.0),
      "trace.overhead" -> overhead)
  }
}

object LayerTotals {
  val Stages = Seq("transform", "quality", "load", "models")
  /** Per-op means; exec.slot_util, the scan ratio and trace.* are
    * computed separately.
    */
  val Names: Seq[String] = Seq(
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms", "plan.executions",
    "sources.resolve_ms", "sources.resolve_calls",
    "sinks.driver_ms", "sinks.table_files", "sinks.table_bytes",
    "io.read_syscalls", "io.write_syscalls", "io.read_bytes", "io.write_bytes",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.job_ms", "exec.task_run_ms",
    "exec.task_cpu_ms", "exec.input_bytes", "exec.shuffle_write_bytes",
    "exec.output_bytes", "exec.task_failures") ++
    Stages.flatMap(s => Seq(s"runner.${s}_ms", s"runner.$s.jobs", s"runner.$s.tasks",
      s"runner.$s.task_run_ms"))
}

/** Wall time of each named set-up step of the latest build. */
object Steps {
  val times = mutable.LinkedHashMap[String, Double]()
  def apply[T](name: String)(body: => T): T = {
    val t = System.nanoTime()
    try body finally times(name) = (System.nanoTime() - t) / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (0 for no samples). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile of the ladder with at least ten samples above
    * it, and its value; the median when there are too few samples.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val ladder = Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 70.0, 60.0)
    val n = xs.size
    val level = ladder.find(p => n - math.ceil(p / 100.0 * n) >= 10).getOrElse(50.0)
    (level, percentile(xs, level))
  }
}

object Disk {
  /** Regular files and their bytes under `roots` (missing roots count 0). */
  def usage(roots: Seq[String]): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    roots.map(Paths.get(_)).filter(Files.exists(_)).foreach { root =>
      val s = Files.walk(root)
      try s.filter(p => Files.isRegularFile(p)).forEach { p => files += 1; bytes += Files.size(p) }
      finally s.close()
    }
    (files, bytes)
  }

  def tableStats(roots: Seq[String]): Map[String, Double] = {
    val (files, bytes) = usage(roots)
    Map("sinks.table_files" -> files.toDouble, "sinks.table_bytes" -> bytes.toDouble)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => render(k.toString) + ": " + render(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => render(other.toString)
  }
}
