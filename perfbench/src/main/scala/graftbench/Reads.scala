package graftbench

import java.nio.file.Path
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.VersionedTable

/** table_reads: a seeded stream of selective reads over graft tables
  * built from the generated lineitem and events. No op commits, so the
  * table-format metadata stays warm for the whole loop.
  *
  *   - li_flat:  flat, range-clustered on l_orderkey (min/max pruning),
  *               written as 3 appends tagged v1..v3 for VERSION AS OF;
  *   - li_month: partitioned by ship_month, 2 files per month split on
  *               l_partkey, with a bloom sidecar on l_partkey;
  *   - ev_mor:   merge-on-read, keyed on event_id, with pending position
  *               deletes, update post-images and equality deletes.
  *
  * Every answer is checked against plain Spark over plain parquet copies
  * of the same rows, answered before the loop.
  */
final class Reads(spark: SparkSession, a: Args) extends Workload {
  import Reads._

  private val cat = "reads"
  private val wh: Path = a.work.resolve("wh-reads")
  private def root(t: String): String = wh.resolve("r").resolve(t).toString
  private val stream: IndexedSeq[Stmt] = Reads.stream(a.seed)
  private var expected: IndexedSeq[Seq[Row]] = _
  private var cursor = 0
  private var warmAnswers = Seq.empty[(Int, Seq[Row])]
  private var startUsage = (0L, 0L)

  // seeded deletes and updates applied to ev_mor
  private val seedRnd = new Random(a.seed)
  private val delUser = 1 + seedRnd.nextInt((Gen.Users - 20).toInt)
  private val updUser = 1 + seedRnd.nextInt((Gen.Users - 200).toInt)
  private val eqMod = seedRnd.nextInt(97)

  def setup(): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", spark.conf.get("perfbench.catalog"))
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.r")
    val li = Gen.lineitem(spark, a.seed)

    Steps("li_flat") {
      spark.sql(s"CREATE TABLE $cat.r.li_flat ($LiCols) USING graft")
      (1 to Versions).foreach { v =>
        li.filter(versionOf(col("l_orderkey")) === v)
          .repartitionByRange(4, col("l_orderkey")).sortWithinPartitions("l_orderkey")
          .createOrReplaceTempView("perfbench_src")
        spark.sql(s"INSERT INTO $cat.r.li_flat SELECT * FROM perfbench_src")
        // tags pin each version against retention, so VERSION AS OF works
        spark.sql(s"CALL $cat.system.set_ref(table => 'r.li_flat', name => 'v$v')")
      }
    }

    Steps("li_month") {
      spark.sql(s"CREATE TABLE $cat.r.li_month ($LiCols) USING graft PARTITIONED BY (ship_month)")
      li.repartition(2, pmod(col("l_partkey"), lit(2))).sortWithinPartitions("ship_month")
        .createOrReplaceTempView("perfbench_src")
      spark.sql(s"INSERT INTO $cat.r.li_month SELECT * FROM perfbench_src")
      VersionedTable.addBloomSidecarPartitioned(spark, root("li_month"), Seq("l_partkey"), 1 << 16)
    }

    Steps("ev_mor") {
      spark.sql(s"CREATE TABLE $cat.r.ev_mor ($EvCols) USING graft TBLPROPERTIES " +
        "('graft.dml.mode' = 'merge-on-read', 'keys' = 'event_id')")
      Gen.events(spark, a.seed).repartitionByRange(4, col("user_id"))
        .sortWithinPartitions("user_id").createOrReplaceTempView("perfbench_src")
      spark.sql(s"INSERT INTO $cat.r.ev_mor SELECT * FROM perfbench_src")
      spark.sql(s"DELETE FROM $cat.r.ev_mor WHERE user_id BETWEEN $delUser AND ${delUser + 9}")
      spark.sql(s"UPDATE $cat.r.ev_mor SET value = value + 1.5 " +
        s"WHERE event_type = 'buy' AND user_id BETWEEN $updUser AND ${updUser + 99}")
      VersionedTable.softDelete(spark, root("ev_mor"),
        Gen.events(spark, a.seed).filter(col("event_id") % 97 === eqMod).select("event_id"),
        Seq("event_id"))
    }
    spark.catalog.dropTempView("perfbench_src")
    startUsage = Disk.usage(roots)
  }

  private def sql(text: String): DataFrame = Trace.span("sql")(spark.sql(text))

  private def runGraft(s: Stmt): Seq[Row] = {
    val df = s match {
      case r: KeyRange =>
        val t = s"$cat.r.li_flat" + r.version.map(v => s" VERSION AS OF 'v$v'").getOrElse("")
        sql(s"SELECT count(*) AS n, sum(l_quantity) AS q" +
          (if (r.version.isEmpty) ", sum(l_extendedprice) AS p" else "") +
          s" FROM $t WHERE l_orderkey BETWEEN ${r.lo} AND ${r.hi}")
      case MonthPart(m, p) =>
        sql(s"SELECT count(*) AS n, sum(l_quantity) AS q FROM $cat.r.li_month " +
          s"WHERE ship_month = '$m' AND l_partkey = $p")
      case Part(p) =>
        Trace.resolve(spark.read.format("graft").load(root("li_month")))
          .where(col("l_partkey") === p).agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      case User(u) =>
        sql(s"SELECT count(*) AS n, sum(value) AS s FROM $cat.r.ev_mor WHERE user_id = $u")
      case f: FullAgg => sql(f.sql(s"$cat.r.${f.table}"))
    }
    Trace.span("collect")(df.collect().toSeq)
  }

  private def nextIndex(): Int = { val i = cursor % stream.size; cursor += 1; i }

  /** The first statements of the stream, run before timing; their
    * answers are checked with the rest at the end.
    */
  def warmup(): Unit = warmAnswers = (0 until WarmupOps).map { _ =>
    val i = nextIndex()
    i -> runGraft(stream(i))
  }

  /** Plain parquet copies of the live rows, and the expected answer of
    * every statement of the stream: one plain-Spark join per family
    * against a table of the family's statement parameters.
    */
  override def prepareChecks(): Unit = {
    import spark.implicits._
    val dir = a.work.resolve("oracle")
    Gen.lineitem(spark, a.seed).withColumn("v", versionOf(col("l_orderkey")))
      .write.parquet(dir.resolve("li").toString)
    Gen.events(spark, a.seed)
      .filter(!col("user_id").between(delUser, delUser + 9))
      .withColumn("value", when(col("event_type") === "buy" &&
        col("user_id").between(updUser, updUser + 99), col("value") + 1.5)
        .otherwise(col("value")))
      .filter(col("event_id") % 97 =!= eqMod)
      .write.parquet(dir.resolve("ev").toString)
    val li = spark.read.parquet(dir.resolve("li").toString)
    val ev = spark.read.parquet(dir.resolve("ev").toString)
    li.createOrReplaceTempView("perfbench_o_li")

    val idx = stream.zipWithIndex
    def answers(params: DataFrame, data: DataFrame, on: Column, aggs: Column*): Map[Int, Row] =
      params.join(data, on, "left").groupBy("qid").agg(aggs.head, aggs.tail: _*).collect()
        .map(r => r.getInt(0) -> Row.fromSeq(r.toSeq.tail)).toMap
    val nq = Seq(count("l_orderkey").as("n"), sum("l_quantity").as("q"))
    val ranges = answers(
      idx.collect { case (r: KeyRange, i) => (i, r.lo, r.hi, r.version.getOrElse(Versions)) }
        .toDF("qid", "lo", "hi", "qv").withColumn("k", explode(sequence(col("lo"), col("hi")))),
      li, col("k") === col("l_orderkey") && col("v") <= col("qv"),
      nq :+ sum("l_extendedprice").as("p"): _*)
    val monthParts = answers(
      idx.collect { case (MonthPart(m, p), i) => (i, m, p) }.toDF("qid", "m", "p"),
      li, col("m") === col("ship_month") && col("p") === col("l_partkey"), nq: _*)
    val parts = answers(idx.collect { case (Part(p), i) => (i, p) }.toDF("qid", "p"),
      li, col("p") === col("l_partkey"), nq: _*)
    val users = answers(idx.collect { case (User(u), i) => (i, u) }.toDF("qid", "u"),
      ev, col("u") === col("user_id"), count("event_id").as("n"), sum("value").as("s"))
    val fullAggs = Seq(true, false).map { byMonth =>
      val f = FullAgg(byMonth)
      f -> spark.sql(f.sql("perfbench_o_li")).collect().toSeq
    }.toMap
    expected = idx.map {
      case (r: KeyRange, i) =>
        val row = ranges(i)
        Seq(if (r.version.isEmpty) row else Row(row.get(0), row.get(1)))
      case (_: MonthPart, i) => Seq(monthParts(i))
      case (_: Part, i) => Seq(parts(i))
      case (_: User, i) => Seq(users(i))
      case (f: FullAgg, _) => fullAggs(f)
    }
  }

  def next(): Option[Op] = {
    val i = nextIndex()
    val s = stream(i)
    Some(Op("read", s"${s.family}#$i", _ => {
      val got = runGraft(s)
      val ok = Rows.same(got, expected(i))
      Outcome(ok, got.size, if (ok) "" else s"got $got, expected ${expected(i)}")
    }))
  }

  def finalChecks(traced: Boolean): Seq[String] = warmAnswers.collect {
    case (i, got) if !Rows.same(got, expected(i)) =>
      s"warm-up ${stream(i).family}#$i: got $got, expected ${expected(i)}"
  }

  def checkpointOps: Int = 20

  def roots: Seq[String] = Seq("li_flat", "li_month", "ev_mor").map(root)

  def spaceAmp(): Double = {
    val dir = a.work.resolve("plain")
    spark.table(s"$cat.r.li_flat").coalesce(1).write.parquet(dir.resolve("li_flat").toString)
    spark.table(s"$cat.r.li_month").repartition(col("ship_month"))
      .write.partitionBy("ship_month").parquet(dir.resolve("li_month").toString)
    spark.table(s"$cat.r.ev_mor").coalesce(1).write.parquet(dir.resolve("ev_mor").toString)
    Disk.usage(roots)._2.toDouble / Disk.usage(Seq(dir.toString))._2
  }

  def info: Map[String, Any] = Map(
    "tables" -> 3, "rows_lineitem" -> Gen.LineitemRows, "rows_events" -> Gen.EventRows,
    "files_at_start" -> startUsage._1, "bytes_at_start" -> startUsage._2,
    "statements" -> stream.size, "warmup_statements" -> WarmupOps,
    "memo_regime" -> "warm: no commits during the loop")
}

object Reads {
  val Versions = 3
  /** A whole cycle, so that every family has run before timing. */
  val WarmupOps = 32
  /** Statements per run. A loop that issues more starts over, and a
    * repeated statement can hit graft's memos, so this stays well above
    * what a run issues.
    */
  val StreamSize = 512
  val RangeWidth = 250

  val LiCols = "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
    "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
    "l_returnflag STRING, l_linestatus STRING, l_shipdate DATE, ship_month STRING"
  val EvCols = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
    "value DOUBLE, props STRING"

  /** Which of the 3 appends an order's rows land in. */
  def versionOf(orderkey: Column): Column =
    ((orderkey - 1) * Versions / Gen.Orders).cast("int") + 1

  /** One read statement of the stream. */
  sealed trait Stmt { def family: String }
  /** l_orderkey range on li_flat, at the live version or a tagged one. */
  final case class KeyRange(lo: Long, version: Option[Int]) extends Stmt {
    def hi: Long = lo + RangeWidth
    def family: String = if (version.isEmpty) "flat_range" else "time_travel"
  }
  /** Partition plus bloom probe on li_month, through SQL. */
  final case class MonthPart(month: String, part: Long) extends Stmt { def family = "month_bloom" }
  /** Bloom probe on li_month, through read.format("graft").load. */
  final case class Part(part: Long) extends Stmt { def family = "bloom_load" }
  /** One user's events on the merge-on-read table. */
  final case class User(user: Long) extends Stmt { def family = "mor_user" }
  /** An unpruned group-by over a whole table. */
  final case class FullAgg(byMonth: Boolean) extends Stmt {
    def family = "full_agg"
    def table: String = if (byMonth) "li_month" else "li_flat"
    def sql(t: String): String =
      if (byMonth) s"SELECT ship_month, count(*) AS n, sum(l_quantity) AS q FROM $t GROUP BY ship_month"
      else "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, " +
        s"sum(l_discount) AS d FROM $t GROUP BY l_returnflag, l_linestatus"
  }

  /** The family of each statement in the order the loop issues them: a
    * fixed 32-slot cycle with each family spread evenly over it, so any
    * stretch of the stream has close to the same mix whatever the seed.
    * Read latency clusters by family; keeping the fast pruned families
    * above 80% of the cycle puts the median and the tail inside one
    * cluster rather than on the edge between two.
    */
  val Cycle: IndexedSeq[String] = Seq("flat_range" -> 12, "month_bloom" -> 8,
    "time_travel" -> 7, "bloom_load" -> 2, "mor_user" -> 2, "full_agg" -> 1)
    .flatMap { case (f, n) => (0 until n).map(k => ((k + 0.5) / n, f)) }
    .sortBy(_._1).map(_._2).toIndexedSeq

  /** A seeded start plus steps of the golden ratio, modulo 1: every
    * stretch of these draws covers [0, 1) evenly, so the work a run's
    * statements do (ranges that straddle a file, bloom probes that hit
    * or miss) does not swing with the seed the way independent draws do.
    */
  final class Spread(r: Random) {
    private var x = r.nextDouble()
    def next(): Double = { x = (x + 0.6180339887498949) % 1.0; x }
    def below(n: Long): Long = (next() * n).toLong
  }

  def stream(seed: Long): IndexedSeq[Stmt] = {
    val r = new Random(seed)
    val (ranges, travels, months, parts, users) =
      (new Spread(r), new Spread(r), new Spread(r), new Spread(r), new Spread(r))
    val perVersion = Gen.Orders / Versions
    var travel = 0
    (0 until StreamSize).map(i => (i, Cycle(i % Cycle.size))).map {
      case (_, "flat_range") => KeyRange(1 + ranges.below(Gen.Orders - RangeWidth), None)
      case (_, "time_travel") =>
        // every 9 time-travel reads ask each version for keys of each
        // append, so a third hold only rows appended after the version
        // they ask for, which a read that ignored VERSION AS OF returns
        val v = 1 + travel % Versions
        val keysOf = travel / Versions % Versions
        travel += 1
        KeyRange(1 + keysOf * perVersion + travels.below(perVersion - RangeWidth), Some(v))
      case (_, "month_bloom") =>
        MonthPart(f"1996-${1 + months.below(12)}%02d", 1 + parts.below(Gen.Parts))
      case (_, "bloom_load") => Part(1 + parts.below(Gen.Parts))
      case (_, "mor_user") => User(1 + users.below(Gen.Users))
      case (i, _) => FullAgg(i / Cycle.size % 2 == 0)
    }
  }
}

/** Row-set comparison: order-insensitive, doubles to a relative 1e-9. */
object Rows {
  def same(a: Seq[Row], b: Seq[Row]): Boolean = {
    def key(r: Row) = r.toSeq.map {
      case d: Double => f"$d%.6e"
      case x => String.valueOf(x)
    }.mkString("|")
    a.size == b.size && a.sortBy(key).zip(b.sortBy(key)).forall { case (x, y) =>
      x.size == y.size && x.toSeq.zip(y.toSeq).forall {
        case (p: Double, q: Double) =>
          p == q || math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
        case (p, q) => p == q
      }
    }
  }
}
