package graftbench

import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Schemas
import graft.models.StarModels
import graft.operators.{Cleaning, Flatten, Quality}
import graft.runner.PipelineRunner
import graft.runner.PipelineRunner.RunContext
import graft.sinks.MergeWriter

/** etl_daily: the paper's pipeline. Each op is one PipelineRunner.run
  * batch (transform, quality gate, MergeWriter load, star models and
  * their schema tests) over a raw layer landed before timing:
  * Open-Meteo-shaped hourly payloads for `Cities` cities, one batch per
  * day, each covering a 7-day window, so consecutive batches overlap by 6
  * days and become upserts. Batches carry null values, duplicate payload
  * rows, failed fetches and malformed timestamps that cleaning removes;
  * every value is in range, so the gate passes. Plain parquet only: the
  * graft table format is never touched.
  *
  * The traced run times the runner's public stage functions in run's
  * order; its outputs are checked against PipelineRunner.run's by
  * replaying every batch through the runner into a second directory.
  */
final class Etl(spark: SparkSession, a: Args) extends Workload {
  import Etl._

  private val dir: Path = a.work.resolve("etl")
  private var batchKeys: IndexedSeq[Set[Long]] = IndexedSeq.empty
  private var rawRows = 0L
  private var cursor = 0
  private val landedKeys = mutable.Set[Long]()
  private val runnerBatches = mutable.ArrayBuffer[String]()
  private val allBatches = mutable.ArrayBuffer[String]()
  private val warmFailures = mutable.ArrayBuffer[String]()

  private def ctx(work: Path, b: Int) = RunContext(batchId(b), work.toString, retryDelayMs = 0L)

  def setup(): Unit = {
    val (rows, keys) = Steps("generate")(generate(a.seed))
    batchKeys = keys
    rawRows = rows.size
    Steps("land")(spark.createDataFrame(rows.asJava, Schemas.rawResponses)
      .repartition(col("batch_id")).write.partitionBy("batch_id").parquet(ctx(dir, 0).rawPath))
  }

  def warmup(): Unit = (1 to WarmupBatches).foreach { _ =>
    val o = nextOp()
    val out = o.run(false)
    if (!out.ok) warmFailures += s"warm-up ${o.label}: ${out.detail}"
  }

  def next(): Option[Op] = if (cursor < Batches) Some(nextOp()) else None

  private def nextOp(): Op = {
    val b = cursor
    cursor += 1
    Op("batch", batchId(b), traced => {
      val c = ctx(dir, b)
      val report =
        if (traced) staged(c)
        else { runnerBatches += c.batchId; PipelineRunner.run(spark, c) }
      allBatches += c.batchId
      landedKeys ++= batchKeys(b)
      Outcome(report.passed, report.totalRows, if (report.passed) "" else report.toString)
    })
  }

  /** PipelineRunner.run's stages, called one by one through their public
    * functions so each can be timed. The runner's retry wrapper and its
    * private quality-report write are the only parts not repeated here.
    */
  private def staged(ctx: RunContext): Quality.QualityReport = {
    val stagedDf = Trace.withStage(spark, "transform") {
      val raw = spark.read.schema(Schemas.rawResponses).parquet(ctx.rawPath)
        .filter(col("batch_id") === ctx.batchId)
      Cleaning.clean(Flatten.flattenResponses(raw, ctx.batchId))
        .write.mode(SaveMode.Overwrite).parquet(ctx.stagingParquet)
      spark.read.parquet(ctx.stagingParquet)
    }
    val report = Trace.withStage(spark, "quality")(Quality.checkWeather(stagedDf, ctx.batchId))
    if (report.passed) {
      Trace.withStage(spark, "load") {
        MergeWriter.merge(spark, ctx.warehousePath,
          stagedDf.withColumn("loaded_at", current_timestamp())
            .withColumn("dt", to_date(col("ts_utc"))),
          keys = Seq("city", "ts_utc"), partitionColumns = Seq("dt"))
      }
      Trace.withStage(spark, "models") {
        val warehouse = PipelineRunner.refreshStagingView(spark, ctx)
        val dimLoc = StarModels.dimLocation(warehouse)
        val dimDt = StarModels.dimDate(warehouse)
        val fact = StarModels.factWeatherHourly(warehouse)
        dimLoc.write.mode(SaveMode.Overwrite).parquet(s"${ctx.workDir}/dim_location")
        dimDt.write.mode(SaveMode.Overwrite).parquet(s"${ctx.workDir}/dim_date")
        fact.write.mode(SaveMode.Overwrite).parquet(s"${ctx.workDir}/fact_weather_hourly")
        val failures = StarModels.runSchemaTests(dimLoc, dimDt, fact)
        require(failures.isEmpty, s"model tests failed: $failures")
      }
    }
    report
  }

  private def marts(work: Path): Seq[(String, Seq[String])] = Seq(
    ctx(work, 0).warehousePath -> Seq("dt"),
    s"$work/dim_location" -> Nil, s"$work/dim_date" -> Nil, s"$work/fact_weather_hourly" -> Nil)

  /** Row count + order-independent hash of the non-timestamp-of-load
    * columns of every output table.
    */
  private def fingerprints(work: Path): Seq[String] = marts(work).map { case (p, _) =>
    val df = spark.read.parquet(p).drop("loaded_at")
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    s"${r.get(0)}:${r.get(1)}"
  }

  def finalChecks(traced: Boolean): Seq[String] = {
    val failures = mutable.ArrayBuffer[String]() ++ warmFailures
    val c = ctx(dir, 0)
    val wh = spark.read.parquet(c.warehousePath)
    val n = wh.count()
    val distinct = wh.select("city", "ts_utc").distinct().count()
    if (n != distinct) failures += s"warehouse has ${n - distinct} duplicate (city, ts_utc) rows"
    if (n != landedKeys.size) failures += s"warehouse has $n rows, ${landedKeys.size} distinct keys landed"
    val reports = spark.read.parquet(c.reportPath)
    val notPass = reports.filter(col("status") =!= "PASS").count()
    if (notPass > 0) failures += s"$notPass quality reports are not PASS"
    if (reports.count() != runnerBatches.size)
      failures += s"${reports.count()} quality reports for ${runnerBatches.size} runner batches"
    val tests = StarModels.runSchemaTests(spark.read.parquet(s"$dir/dim_location"),
      spark.read.parquet(s"$dir/dim_date"), spark.read.parquet(s"$dir/fact_weather_hourly"))
    if (tests.nonEmpty) failures += s"star-model tests failed: $tests"
    if (traced) {
      // the staged replica must leave what the runner alone leaves
      val replay = a.work.resolve("etl-replay")
      copyTree(java.nio.file.Paths.get(c.rawPath), java.nio.file.Paths.get(ctx(replay, 0).rawPath))
      allBatches.foreach(b => PipelineRunner.run(spark, RunContext(b, replay.toString, 0L)))
      val (got, want) = (fingerprints(dir), fingerprints(replay))
      if (got != want) failures += s"traced outputs $got differ from the runner's $want"
    }
    failures.toSeq
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def checkpointOps: Int = 1

  def roots: Seq[String] = marts(dir).map(_._1)

  def spaceAmp(): Double = {
    val plain = a.work.resolve("plain")
    marts(dir).zipWithIndex.foreach { case ((p, parts), i) =>
      val df = spark.read.parquet(p)
      val out = plain.resolve(s"t$i").toString
      if (parts.nonEmpty) df.repartition(parts.map(col): _*).write.partitionBy(parts: _*).parquet(out)
      else df.coalesce(1).write.parquet(out)
    }
    Disk.usage(roots)._2.toDouble / Disk.usage(Seq(plain.toString))._2
  }

  def info: Map[String, Any] = Map(
    "cities" -> Cities, "window_days" -> WindowDays, "batches_landed" -> Batches,
    "raw_rows" -> rawRows, "hours_per_payload" -> WindowDays * 24,
    "batches_run" -> allBatches.size, "distinct_keys_landed" -> landedKeys.size,
    "memo_regime" -> "none: plain parquet, graft's table format is not used")
}

object Etl {
  val Cities = 12
  val WindowDays = 7
  /** Batches landed: several times what a run's loop gets through. */
  val Batches = 16
  val WarmupBatches = 2
  private val Day0 = java.time.LocalDate.of(2026, 1, 1)

  def batchId(b: Int): String = f"b$b%04d"

  private def fmt(x: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, x)

  /** Key of one (city, hour) row: city * 1e6 + hours since Day0. */
  private def key(c: Int, h: Int): Long = c * 1000000L + h

  /** Raw rows for every batch, and per batch the keys that survive
    * cleaning (valid timestamp, no null value).
    */
  def generate(seed: Long): (Seq[Row], IndexedSeq[Set[Long]]) = {
    val rnd = new Random(seed)
    val rows = mutable.ArrayBuffer[Row]()
    val keys = (0 until Batches).map { b =>
      val start = Day0.plusDays(b)
      val ingested = Timestamp.valueOf(start.plusDays(WindowDays).atTime(6, 0))
      val hours = (b * 24) until (b * 24 + WindowDays * 24)
      // dirt: null values and malformed timestamps at random (city, hour)
      val nulls = Set.fill(3)((rnd.nextInt(Cities), hours(rnd.nextInt(hours.size))))
      val badTs = Set.fill(2)((rnd.nextInt(Cities), hours(rnd.nextInt(hours.size))))
      val valid = mutable.Set[Long]()
      (0 until Cities).foreach { c =>
        def series(f: Int => String) = hours.map(f).mkString("[", ",", "]")
        val rev = b * 0.01 // each day's forecast revises the overlapping hours
        val payload = "{\"hourly\":{" +
          "\"time\":" + series { h =>
            if (badTs((c, h))) "\"bad-ts\""
            else "\"" + Day0.atStartOfDay().plusHours(h).toString.take(16) + "\""
          } + "," +
          "\"temperature_2m\":" + series { h =>
            if (nulls((c, h))) "null"
            else fmt(10 + 12 * math.sin(2 * math.Pi * (h % 24) / 24.0 + c) + rev)
          } + "," +
          "\"relative_humidity_2m\":" + series(h => s"${40 + (h * 7 + c * 13 + b) % 55}") + "," +
          "\"precipitation\":" + series(h => fmt(((h + c) % 11) * 0.3 + rev)) + "," +
          "\"wind_speed_10m\":" + series(h => fmt(5 + (h * 3 + c) % 40 + rev)) + "}}"
        def raw(i: String, status: Int, p: String) = Row(i, batchId(b), ingested, "open-meteo",
          s"city_$c", 40.0 + c, 2.0 + c * 0.5, Date.valueOf(start),
          Date.valueOf(start.plusDays(WindowDays - 1)), status, p,
          if (p == null) 0 else p.length)
        rows += raw(s"ing-$b-$c", 200, payload)
        hours.foreach(h => if (!nulls((c, h)) && !badTs((c, h))) valid += key(c, h))
      }
      // a duplicated payload row and a failed fetch with no payload
      val dup = rnd.nextInt(Cities)
      rows += rows(rows.size - Cities + dup)
      rows += Row(s"ing-$b-fail", batchId(b), ingested, "open-meteo", s"city_$dup",
        40.0 + dup, 2.0 + dup * 0.5, Date.valueOf(start),
        Date.valueOf(start.plusDays(WindowDays - 1)), 500, null, 0)
      valid.toSet
    }
    (rows.toSeq, keys)
  }
}
