package perfbench

import java.sql.Timestamp
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.catalog.CatalogOps
import graft.core.{DeletionWorkflow, PartitionHandler}
import graft.model.{DeletionCriteria, JobConfig, Metrics}

import Harness.Instances

final case class HRow(id: Long, name: String, status: String,
    row_create_ts: Timestamp, partition_id: String)

/** Rows of one reference-shaped ORC Hive table. Day `d` holds
  * [[HiveGen.RowsPerDay]] rows (ids `d * RowsPerDay` up to the next
  * day's) under a partition ID whose naming scheme cycles day by day:
  * archived (`history_yyyyMMdd`), current (`yyyyMMdd`), reloaded (split
  * between `yyyyMMdd` and `yyyyMMdd-1`), current. Any two consecutive
  * days — what one op touches — include exactly one archived or reloaded
  * day. Days go on without end: the table is refilled with the next day
  * as ops purge the oldest.
  */
final case class HiveGen(seed: Long, inst: Int) {
  import HiveGen._
  val salt: Long = seed * 31 + inst
  val baseDay: Long =
    LocalDate.of(2023, 1, 1).toEpochDay + Rand.below(salt, 0, 0, 300)

  def day(id: Long): Long = id / RowsPerDay
  def sec(id: Long): Long =
    (baseDay + day(id)) * 86400 + Rand.below(salt, 1, id, 86400)
  def status(id: Long): String = Rand.below(salt, 2, id, 10) match {
    case x if x < 6 => "ACTIVE"
    case x if x < 9 => "INACTIVE"
    case _ => "PENDING"
  }
  def name(id: Long): String = "user_" + Rand.below(salt, 3, id, 50000)
  def partition(id: Long): String = {
    val d = day(id)
    val ymd = LocalDate.ofEpochDay(baseDay + d).format(Ymd)
    d % 4 match {
      case 0 => s"history_$ymd"
      case 2 if Rand.below(salt, 4, id, 2) == 1 => s"$ymd-1"
      case _ => ymd
    }
  }
  def row(id: Long): HRow =
    HRow(id, name(id), status(id), new Timestamp(sec(id) * 1000), partition(id))
  def hash(id: Long): Long = new RowHash().long(id).str(name(id))
    .str(status(id)).tsSeconds(sec(id)).str(partition(id)).value

  /** Op `j` of this instance: a retention purge of about one day that
    * slides forward from the oldest rows (edges off midnight), plus the
    * `INACTIVE` rows of the next ~0.3 day. The first window starts before
    * the first row, so every op empties the partitions of one day and
    * rewrites those of the next.
    */
  def op(j: Int, cursor: Long): HOp = {
    val cut = cursor + (Rand.between(salt, 7, j, 0.98, 1.02) * 86400).toLong
    HOp(if (j == 0) baseDay * 86400 - 3600 else cursor, cut,
      cut + (Rand.between(salt, 8, j, 0.28, 0.32) * 86400).toLong)
  }
  def firstCursor: Long =
    baseDay * 86400 + (Rand.between(salt, 9, 0, 0.38, 0.42) * 86400).toLong
  /** Day index of an epoch second. */
  def dayOf(sec: Long): Long = Math.floorDiv(sec, 86400L) - baseDay
}

object HiveGen {
  /** Days the table holds: set-up loads days `0 until Days`, and after
    * each op the benchmark loads new days until the table again reaches
    * `Days` days past the op's cut.
    */
  val Days = 30
  val RowsPerDay = 3333
  val Ymd: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyyMMdd")
}

/** Delete rows with `row_create_ts` in [start, end) that are older than
  * `cut` or `INACTIVE`; the next op starts at `cut`.
  */
final case class HOp(start: Long, cut: Long, end: Long) {
  def criteria: DeletionCriteria = DeletionCriteria(
    whereClause = Some(s"row_create_ts < TIMESTAMP '${HOp.text(cut)}' " +
      "OR status = 'INACTIVE'"),
    startTime = Some(new Timestamp(start * 1000)),
    endTime = Some(new Timestamp(end * 1000)),
    timeColumn = "row_create_ts")
}

object HOp {
  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def text(sec: Long): String =
    java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC).format(Fmt)
}

/** Expected state of one table: live rows of every loaded day, their
  * count and checksum, derived from the generated rows with plain
  * filters.
  */
final class HiveModel(g: HiveGen) {
  import HiveGen.RowsPerDay
  private final class Day(d: Long) {
    private val first = d * RowsPerDay
    val secs: Array[Long] = Array.tabulate(RowsPerDay)(i => g.sec(first + i))
    val inactive: Array[Boolean] =
      Array.tabulate(RowsPerDay)(i => g.status(first + i) == "INACTIVE")
    val hashes: Array[Long] = Array.tabulate(RowsPerDay)(i => g.hash(first + i))
    val alive: java.util.BitSet = {
      val b = new java.util.BitSet(RowsPerDay); b.set(0, RowsPerDay); b
    }
  }
  private val days = mutable.TreeMap.empty[Long, Day]
  var count: Long = 0L
  var checksum: Long = 0L
  /** The day [[load]] adds next. */
  var nextDay: Long = 0L
  (0 until HiveGen.Days).foreach(_ => load())

  /** Add day [[nextDay]]; returns its index. */
  def load(): Long = {
    val d = nextDay
    val day = new Day(d)
    days(d) = day
    count += RowsPerDay
    checksum ^= day.hashes.foldLeft(0L)(_ ^ _)
    nextDay += 1
    d
  }

  /** Apply a purge; returns rows deleted. `skipOne` leaves one matching
    * row alive — a deliberately wrong expectation for the tests.
    */
  def apply(op: HOp, skipOne: Boolean = false): Long = {
    var deleted = 0L
    var skip = skipOne
    days.range(g.dayOf(op.start), g.dayOf(op.end) + 1).valuesIterator.foreach { day =>
      var i = 0
      while (i < RowsPerDay) {
        val s = day.secs(i)
        if (day.alive.get(i) && s >= op.start && s < op.end &&
            (s < op.cut || day.inactive(i))) {
          if (skip) skip = false
          else {
            day.alive.clear(i); count -= 1; checksum ^= day.hashes(i); deleted += 1
          }
        }
        i += 1
      }
    }
    days.filterInPlace((_, day) => !day.alive.isEmpty)
    deleted
  }
}

/** `hive_retention_purge`: one [[DeletionWorkflow.run]] per op with the
  * `hive_table` backup, against independent tables (one per set-up) used
  * in rotation. After each op, outside the timed interval, the benchmark
  * loads the next generated day for the day the op purged, so every op
  * meets a table of the same size, and drops all but the last
  * [[HiveRetention.RetainBackups]] backup tables, so `cleanupOldBackups`
  * lists a bounded set and op time does not drift with run length.
  */
object HiveRetention extends Workload {
  val name = "hive_retention_purge"
  override val hiveSupport = true
  val RetainBackups = 2
  val WarmupOps = 1
  val Table = "events_t"
  val Cols = Seq("id", "name", "status", "row_create_ts", "partition_id")
  /** Span of each workflow step, in step order; step `n` is
    * `Main.Phases(n - 1)` in the workflow's own `Metrics.phaseTimings`.
    */
  val StepSpans: Seq[String] = Seq("core.identify", "validation.pre",
    "backup.create", "core.count_before", "core.delete", "validation.post",
    "backup.cleanup")

  final class Inst(val i: Int, val gen: HiveGen, val db: String,
      val dbDir: String) {
    /** Built on first use, outside the timed set-up. */
    lazy val model = new HiveModel(gen)
    var cursor: Long = gen.firstCursor
    var j = 0
    def full: String = s"$db.$Table"
    def tableDir: String = s"$dbDir/$Table"
  }

  def digest(seed: Long): String =
    (0 until Instances).map { i =>
      val g = HiveGen(seed, i)
      val m = new HiveModel(g)
      val ops = (0 until 20).scanLeft(g.op(0, g.firstCursor)) {
        (prev, j) => g.op(j + 1, prev.cut)
      }
      s"${m.count}:${m.checksum}:${ops.mkString(",").hashCode}"
    }.mkString("|")

  /** Append generated rows `[from, until)` to a table. */
  private def load(ctx: Ctx, g: HiveGen, table: String, from: Long,
      until: Long): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    spark.range(from, until, 1L, ctx.cores).as[Long]
      .map(id => g.row(id))
      .repartition(col("partition_id"))
      .write.insertInto(table)
  }

  private def setup(ctx: Ctx, i: Int): Inst = {
    val spark = ctx.spark
    val g = HiveGen(ctx.seed, i)
    val db = s"hr$i"
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"""CREATE TABLE $db.$Table (id BIGINT, name STRING,
      status STRING, row_create_ts TIMESTAMP)
      PARTITIONED BY (partition_id STRING) STORED AS ORC""")
    load(ctx, g, s"$db.$Table", 0L, HiveGen.Days.toLong * HiveGen.RowsPerDay)
    val dbDir = new java.net.URI(
      spark.sessionState.catalog.getDatabaseMetadata(db).locationUri.toString)
      .getPath
    new Inst(i, g, db, dbDir)
  }

  private def config(inst: Inst, op: HOp): JobConfig =
    JobConfig(inst.db, Table, op.criteria, backupStrategy = "hive_table")

  /** Step marks of traced runs, from the workflow's own log lines. */
  private lazy val stepLog = new StepLog(DeletionWorkflow.getClass.getName)

  private def dropOldBackups(ctx: Ctx, inst: Inst): Unit = {
    val catalog = new CatalogOps(ctx.spark)
    catalog.listTables(inst.db).filter(_.startsWith(s"${Table}_backup_"))
      .sorted.dropRight(RetainBackups)
      .foreach(b => catalog.dropTable(s"${inst.db}.$b"))
  }

  def run(ctx: Ctx, rec: Recorder): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    // start the metastore client before timing set-ups: it is session
    // start-up, paid once per JVM
    t.span("bench.metastore")(spark.catalog.listDatabases().collect())
    val insts = Harness.setUp(ctx, rec)(setup(ctx, _))
    Harness.loop(ctx, rec, WarmupOps) { k =>
      val inst = insts(k % insts.size)
      val op = inst.gen.op(inst.j, inst.cursor)
      step(ctx, rec, inst, op, k)
      inst.j += 1
      inst.cursor = op.cut
      true
    }
  }

  private def step(ctx: Ctx, rec: Recorder, inst: Inst, op: HOp, k: Int): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val cfg = config(inst, op)
    val roots = Seq(inst.dbDir)
    val rowsBefore = inst.model.count
    t.op = k
    // standalone probes of the identify step's two sub-layers, outside
    // the op's timed interval
    val kept = if (!t.enabled) Nil else {
      val all = t.span("catalog.list")(new CatalogOps(spark).listPartitions(inst.full))
      val kept = t.span("partition.prune") {
        new PartitionHandler(spark, cfg).filterByDateRange(all)
      }
      rec.count("partition.kept_frac", kept.size.toDouble / math.max(1, all.size))
      kept
    }
    val metrics = new Metrics
    val steps = mutable.ArrayBuffer.empty[Int]
    val before = Storage.snap(roots)
    val (res, s) = Harness.timed(t.span("op") {
      if (!t.enabled) DeletionWorkflow.run(spark, cfg, metrics)
      else {
        val phases = new t.PhaseSpans("")
        try stepLog.during { n =>
          steps += n
          StepSpans.lift(n - 1).foreach(phases.enter)
        }(DeletionWorkflow.run(spark, cfg, metrics))
        finally phases.close()
      }
    })
    val after = Storage.snap(roots)
    rec.measured += s
    val deleted = finish(ctx, rec, inst, op, k, res.fold(_ => false, identity),
      res.left.toOption, s, rowsBefore, before, after)
    if (t.enabled) {
      // step times from the workflow's own phase timings; the step marks
      // only attribute Spark jobs, and must name the same steps
      val timed = metrics.phaseTimings.keys.toSeq
      rec.check(steps.toSeq.map(n => Main.Phases.lift(n - 1)) == timed.map(Some(_)),
        s"op $k: step lines ${steps.mkString(",")} vs phase timings ${timed.mkString(",")}")
      metrics.phaseTimings.foreach { case (phase, ms) =>
        val i = Main.Phases.indexOf(phase)
        if (i >= 0) rec.time(StepSpans(i) + ".s", ms / 1000.0)
      }
      Seq("catalog.list", "partition.prune").foreach(n =>
        rec.spanSeconds(k).get(n).foreach(rec.time(n + ".s", _)))
      val affected = metrics.partitionMetrics.keys.toSeq
      rec.count("core.affected_frac", affected.size.toDouble / math.max(1, kept.size))
      val written = after.written(before)
      rec.count("backup.bytes", written.collect {
        case (p, b) if p.contains(s"/${Table}_backup_") => b }.sum)
      val partDirs = affected.map(p => s"${inst.tableDir}/partition_id=$p/")
      val emptied = partDirs.count(d => !after.files.keysIterator.exists(_.startsWith(d)))
      val rewritten = partDirs.count(d => written.exists(_._1.startsWith(d)))
      rec.count("core.partitions_emptied", emptied)
      rec.count("core.partitions_rewritten", rewritten)
      rec.count("core.partitions_untouched", affected.size - emptied - rewritten)
      rec.count("backup.tables_live", t.span("bench.accounting") {
        new CatalogOps(spark).listTables(inst.db)
      }.count(_.startsWith(s"${Table}_backup_")))
      t.opCounters(k).get("core.delete").foreach(c => rec.count(
        "core.rows_read_per_deleted", c.inputRecords.toDouble / math.max(1L, deleted)))
      rec.sparkOp(k, s)
    }
    t.op = -1
  }

  /** Accounting, the refill and the model check of one op, outside its
    * timed interval; then the backup retention cadence. Returns the rows
    * the op deleted.
    */
  private def finish(ctx: Ctx, rec: Recorder, inst: Inst, op: HOp, k: Int,
      ok: Boolean, err: Option[Throwable], s: Double, rowsBefore: Long,
      before: Snap, after: Snap): Long = {
    val spark = ctx.spark
    val t = ctx.tracer
    val deleted = inst.model.apply(op, skipOne = k == ctx.wrongModelAt)
    rec.ops += s
    rec.rowsAtStart += rowsBefore
    rec.deletedRows += deleted
    rec.writtenBytes += after.written(before).map(_._2).sum
    t.span("bench.refill") {
      while (inst.model.nextDay < inst.gen.dayOf(op.cut) + HiveGen.Days) {
        val d = inst.model.load()
        load(ctx, inst.gen, inst.full, d * HiveGen.RowsPerDay,
          (d + 1) * HiveGen.RowsPerDay)
      }
    }
    val (n, sum) = t.span("bench.check")(Harness.countAndChecksum(
      spark.table(inst.full), Cols))
    rec.check(ok && n == inst.model.count && sum == inst.model.checksum,
      s"op $k on ${inst.full} $op: returned $ok" +
        err.map(e => s" (${Harness.describe(e)})").getOrElse("") +
        s", engine ($n, $sum) vs model (${inst.model.count}, ${inst.model.checksum})")
    t.span("bench.maintenance")(dropOldBackups(ctx, inst))
    val live = Storage.fileBytes(spark.table(inst.full).inputFiles.toSeq)
    rec.spaceAmp += Storage.snap(Seq(inst.dbDir)).bytes.toDouble / math.max(1L, live)
    deleted
  }
}
