package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** table_dml: a stream of SQL writes on four keyed graft tables
  * (copy-on-write and merge-on-read, each flat and partitioned), each
  * write followed by one check read of the rows it touched. The writes
  * follow a fixed cycle of (table, statement kind), so every run issues
  * the same mix in the same order, with seeded keys and values; every
  * seventh write is a CALL vacuum / compact. Every read follows a new
  * commit, so the table-format metadata memos miss on each one.
  *
  * The op log is replayed on an in-memory model of each table; check
  * reads compare against the model, and the final table fingerprints
  * compare against the model's rows as a plain DataFrame.
  */
final class Dml(spark: SparkSession, a: Args) extends Workload {
  import Dml._

  private val cat = "dml"
  private val wh: Path = a.work.resolve("wh-dml")
  private val rnd = new Random(a.seed)
  private var models: Map[String, java.util.TreeMap[Long, R]] = Map.empty
  private val nextId = scala.collection.mutable.Map[String, Long]()
  private var writes = 0L
  private var pendingCheck: Option[(String, Option[(Long, Long)])] = None
  private var startUsage = (0L, 0L)
  /** Bytes under the table roots and the live rows, at the checkpoint. */
  private var space: Option[(Long, Map[String, java.util.TreeMap[Long, R]])] = None
  private val warmFailures = scala.collection.mutable.ArrayBuffer[String]()

  private def ident(t: String) = s"$cat.d.$t"
  private def root(t: String) = wh.resolve("d").resolve(t).toString

  def setup(): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", spark.conf.get("perfbench.catalog"))
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.d")
    val init = (1L to InitialRows).map(id =>
      id -> R(partOf(id), rnd.nextInt(1000), rnd.nextInt(4000) * 0.25, s"t${rnd.nextInt(10)}"))
    spark.createDataFrame(
      init.map { case (id, r) => Row(id, r.part, r.qty, r.price, r.tag) }.asJava, Schema)
      .repartitionByRange(4, col("id")).createOrReplaceTempView("perfbench_src")
    models = Tables.map { case (t, partitioned, mor) =>
      val props = "'keys' = 'id'" + (if (mor) ", 'graft.dml.mode' = 'merge-on-read'" else "")
      spark.sql(s"CREATE TABLE ${ident(t)} ($Cols) USING graft" +
        (if (partitioned) " PARTITIONED BY (part)" else "") + s" TBLPROPERTIES ($props)")
      Steps(t)(spark.sql(s"INSERT INTO ${ident(t)} SELECT * FROM perfbench_src"))
      nextId(t) = NewIds
      val m = new java.util.TreeMap[Long, R]()
      init.foreach { case (id, r) => m.put(id, r) }
      t -> m
    }.toMap
    spark.catalog.dropTempView("perfbench_src")
    startUsage = Disk.usage(roots)
  }

  def warmup(): Unit = (1 to WarmupOps).foreach { _ =>
    val o = next().get
    val out = o.run(false)
    if (!out.ok) warmFailures += s"warm-up ${o.label}: ${out.detail}"
  }

  private def lit(id: Long, r: R): String =
    s"($id, '${r.part}', ${r.qty}, ${java.math.BigDecimal.valueOf(r.price).toPlainString}, '${r.tag}')"

  private def source(rows: Seq[(Long, R)]): String =
    "SELECT CAST(id AS BIGINT) AS id, part, CAST(qty AS BIGINT) AS qty, " +
      "CAST(price AS DOUBLE) AS price, tag FROM VALUES " +
      rows.map { case (id, r) => lit(id, r) }.mkString(", ") + " AS v(id, part, qty, price, tag)"

  private def fresh(t: String, n: Int, tag: String): Seq[(Long, R)] =
    (0 until n).map { _ =>
      val id = nextId(t); nextId(t) = id + 1
      id -> R(partOf(id), rnd.nextInt(1000), rnd.nextInt(4000) * 0.25, tag)
    }

  private def write(t: String, label: String, sql: String, check: Option[(Long, Long)])
                   (apply: java.util.TreeMap[Long, R] => Unit): Op = {
    pendingCheck = Some((t, check))
    Op("write", s"$label@$t", _ => {
      Trace.span("sql")(spark.sql(sql).collect())
      apply(models(t))
      Outcome(ok = true)
    })
  }

  def checkpointOps: Int = 6 // three writes, each with its check read

  override def checkpoint(): Unit = space =
    Some((Disk.usage(roots)._2, models.map { case (t, m) => t -> new java.util.TreeMap(m) }))

  def next(): Option[Op] = Some(pendingCheck match {
    case Some((t, range)) =>
      pendingCheck = None
      checkRead(t, range)
    case None =>
      val w = writes
      writes += 1
      val (t, partitioned, _) = Tables((w % Tables.size).toInt)
      val m = models(t)
      def someId = 1L + rnd.nextInt(InitialRows.toInt)
      if (w % MaintenanceEvery == MaintenanceEvery - 1) {
        val proc = if (partitioned && !t.startsWith("mor")) "compact" else "vacuum"
        write(t, proc, s"CALL $cat.system.$proc(table => 'd.$t')", None)(_ => ())
      } else Kinds((w % Kinds.size).toInt) match {
        case "insert" =>
          val rows = fresh(t, 20, s"i$w")
          write(t, "insert", s"INSERT INTO ${ident(t)} ${source(rows)}",
            Some((rows.head._1, rows.last._1)))(mm => rows.foreach { case (id, r) => mm.put(id, r) })
        case "update" =>
          val lo = someId
          val d = 1 + rnd.nextInt(9)
          write(t, "update", s"UPDATE ${ident(t)} SET qty = qty + $d, price = price + 0.25 " +
            s"WHERE id BETWEEN $lo AND ${lo + 40}", Some((lo, lo + 40))) { mm =>
            mm.subMap(lo, true, lo + 40, true).asScala.toSeq.foreach { case (id, r) =>
              mm.put(id, r.copy(qty = r.qty + d, price = r.price + 0.25))
            }
          }
        case "update_arith" =>
          // (id + qty) % 7 cannot be pushed down to the scan
          val lo = someId
          val k = rnd.nextInt(7)
          write(t, "update_arith", s"UPDATE ${ident(t)} SET tag = 'u$w' " +
            s"WHERE id BETWEEN $lo AND ${lo + 200} AND (id + qty) % 7 = $k",
            Some((lo, lo + 200))) { mm =>
            mm.subMap(lo, true, lo + 200, true).asScala.toSeq.foreach { case (id, r) =>
              if ((id + r.qty) % 7 == k) mm.put(id, r.copy(tag = s"u$w"))
            }
          }
        case "delete" =>
          val lo = someId
          write(t, "delete", s"DELETE FROM ${ident(t)} WHERE id BETWEEN $lo AND ${lo + 15}",
            Some((lo, lo + 15))) { mm =>
            mm.subMap(lo, true, lo + 15, true).clear()
          }
        case "merge" =>
          val matched = m.tailMap(someId, true).keySet.asScala.take(10).toSeq.map { id =>
            id -> R(partOf(id), rnd.nextInt(1000), rnd.nextInt(4000) * 0.25, s"m$w")
          }
          val rows = matched ++ fresh(t, 10, s"m$w")
          write(t, "merge", s"MERGE INTO ${ident(t)} t USING (${source(rows)}) s " +
            "ON t.id = s.id WHEN MATCHED THEN UPDATE SET qty = s.qty, price = s.price, " +
            "tag = s.tag WHEN NOT MATCHED THEN INSERT *",
            Some((rows.map(_._1).min, rows.map(_._1).max)))(mm =>
            rows.foreach { case (id, r) => mm.put(id, r) })
      }
  })

  /** count / sum(qty) / sum(price) over the touched key range (the whole
    * table after maintenance), against the model.
    */
  private def checkRead(t: String, range: Option[(Long, Long)]): Op = {
    val where = range.map { case (lo, hi) => s" WHERE id BETWEEN $lo AND $hi" }.getOrElse("")
    Op("read", s"check@$t", _ => {
      val got = Trace.span("sql")(spark.sql(
        s"SELECT count(*) AS n, sum(qty) AS q, sum(price) AS p FROM ${ident(t)}$where"))
      val row = Trace.span("collect")(got.collect()).head
      val m = models(t)
      val live = range.map { case (lo, hi) => m.subMap(lo, true, hi, true) }.getOrElse(m)
        .values.asScala
      val n = live.size.toLong
      val want = Row(n, if (n == 0) null else live.map(_.qty).sum,
        if (n == 0) null else live.map(_.price).sum)
      val ok = Rows.same(Seq(row), Seq(want))
      Outcome(ok, 1L, if (ok) "" else s"got $row, model $want")
    })
  }

  private def frame(m: java.util.TreeMap[Long, R]) = spark.createDataFrame(
    m.asScala.toSeq.map { case (id, r) => Row(id, r.part, r.qty, r.price, r.tag) }.asJava, Schema)

  private def modelFingerprint(t: String): String = Dml.fingerprint(frame(models(t)))

  def finalChecks(traced: Boolean): Seq[String] = {
    val lines = Tables.map { case (t, _, _) =>
      val want = modelFingerprint(t)
      val got = Dml.fingerprint(spark.table(ident(t)))
      (t, want, got)
    }
    // the restart check re-reads every table in a fresh JVM; it waits
    // for this file, so the file appears whole
    val tmp = a.work.resolve(RestartFile + ".tmp")
    Files.write(tmp, (s"$cat\t$wh" +: lines.map { case (t, want, _) => s"$t\t$want" }).asJava,
      StandardCharsets.UTF_8)
    Files.move(tmp, a.work.resolve(RestartFile), StandardCopyOption.ATOMIC_MOVE)
    warmFailures.toSeq ++ lines.collect { case (t, want, got) if want != got =>
      s"fingerprint $t: table $got, model $want"
    }
  }

  def roots: Seq[String] = Tables.map(t => root(t._1))

  /** Taken at the checkpoint, so that it does not grow with the number
    * of writes a run gets through.
    */
  def spaceAmp(): Double = {
    val (bytes, live) = space.get
    val dir = a.work.resolve("plain")
    Tables.foreach { case (t, partitioned, _) =>
      val df = frame(live(t))
      val out = dir.resolve(t).toString
      if (partitioned) df.repartition(col("part")).write.partitionBy("part").parquet(out)
      else df.coalesce(1).write.parquet(out)
    }
    bytes.toDouble / Disk.usage(Seq(dir.toString))._2
  }

  override def group: Int = 2 // a write and its check read

  def info: Map[String, Any] = Map(
    "tables" -> Tables.size, "rows_per_table_at_start" -> InitialRows,
    "partitions_at_start" -> InitialRows / PartRows,
    "files_at_start" -> startUsage._1, "bytes_at_start" -> startUsage._2,
    "writes" -> writes, "maintenance_every" -> MaintenanceEvery,
    "memo_regime" -> "cold: every read follows a new commit")
}

object Dml {
  final case class R(part: String, qty: Long, price: Double, tag: String)

  val InitialRows = 20000L
  /** Consecutive ids share a partition, so a key-range write on a
    * partitioned table touches one or two partitions.
    */
  val PartRows = 2500L
  val NewIds = 1000001L
  val MaintenanceEvery = 7
  /** Two writes, each with its check read. */
  val WarmupOps = 4
  val RestartFile = "dml-expected.tsv"
  /** (name, partitioned, merge-on-read) */
  val Tables = Seq(("cow_flat", false, false), ("cow_part", true, false),
    ("mor_flat", false, true), ("mor_part", true, true))
  /** Write w goes to Tables(w % 4) and is Kinds(w % 5), unless it is a
    * maintenance call; 4 and 5 are coprime, so every pair comes up.
    */
  val Kinds = Seq("insert", "update", "update_arith", "delete", "merge")
  val Cols = "id BIGINT, part STRING, qty BIGINT, price DOUBLE, tag STRING"
  val Schema: StructType = StructType(Seq(StructField("id", LongType),
    StructField("part", StringType), StructField("qty", LongType),
    StructField("price", DoubleType), StructField("tag", StringType)))

  def partOf(id: Long): String = s"p${(id - 1) / PartRows}"

  /** Row count and an order-independent hash sum of the rows. */
  def fingerprint(df: org.apache.spark.sql.DataFrame): String = {
    val r = df.selectExpr("count(*) AS n",
      "sum(CAST(xxhash64(id, part, qty, price, tag) AS DECIMAL(38,0))) AS h").head()
    s"${r.get(0)}:${r.get(1)}"
  }

  /** Fresh JVM, started once the run's loop is over: re-read every table
    * and compare with the fingerprints of the last acknowledged commit,
    * once the run has written them.
    */
  def restartCheck(a: Args): Map[String, Any] = {
    val spark = Main.session(a, classOf[graft.sources.GraftCatalog].getName)
    val expected = a.work.resolve(RestartFile)
    while (!Files.exists(expected)) Thread.sleep(50)
    val lines = Files.readAllLines(expected).asScala.toSeq
    val Array(cat, wh) = lines.head.split("\t")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val mismatches = lines.tail.map(_.split("\t")).flatMap { case Array(t, want) =>
      val got = fingerprint(spark.table(s"$cat.d.$t"))
      if (got == want) None else Some(s"restart $t: table $got, last commit $want")
    }
    spark.stop()
    Map("correct" -> mismatches.isEmpty, "check_failures" -> mismatches)
  }
}
