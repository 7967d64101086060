package perfbench

import java.sql.Timestamp
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}

import graft.core.VersionedDeletionWorkflow
import graft.model.Metrics
import graft.sources.VersionedTable

import Harness.Instances

final case class MRow(event_id: Long, user_id: Long, ts: Timestamp,
    amount: Long, pday: String)

/** Rows of one versioned table partitioned by day (`pday` = `dyyyyMMdd`,
  * a value partition inference keeps as a string). Day `d` holds
  * [[MixGen.RowsPerDay]] rows (ids `d * RowsPerDay` up to the next
  * day's); days go on without end, as for [[HiveGen]].
  */
final case class MixGen(seed: Long, inst: Int) {
  import MixGen._
  val salt: Long = seed * 41 + inst
  val baseDay: Long =
    LocalDate.of(2023, 1, 1).toEpochDay + Rand.below(salt, 0, 0, 300)
  def day(id: Long): Long = id / RowsPerDay
  def sec(id: Long): Long =
    (baseDay + day(id)) * 86400 + Rand.below(salt, 1, id, 86400)
  def user(id: Long): Long = Rand.below(salt, 2, id, Users)
  def amount(id: Long): Long = Rand.below(salt, 3, id, 1000)
  def pday(d: Long): String = "d" + LocalDate.ofEpochDay(baseDay + d).format(Ymd)
  def row(id: Long): MRow =
    MRow(id, user(id), new Timestamp(sec(id) * 1000), amount(id), pday(day(id)))
  def hash(id: Long): Long = new RowHash().long(id).long(user(id))
    .tsSeconds(sec(id)).long(amount(id)).str(pday(day(id))).value
  /** Day index of an epoch second. */
  def dayOf(sec: Long): Long = Math.floorDiv(sec, 86400L) - baseDay

  /** Workflow op `j` of this instance, the `k`-th of the run: a purge
    * window of about one day from the cursor, edges off midnight, so
    * every op empties one day partition and rewrites the next (the first
    * window starts before the first row). One op in [[InjectEvery]] gets
    * a failure injected, alternately at step 6 and step 5; the cursor
    * only moves on a successful op.
    */
  def op(j: Int, cursor: Long, k: Int): MOp = {
    val span = (Rand.between(salt, 5, j, 0.98, 1.02) * 86400).toLong
    val inject =
      if (k % InjectEvery != 1) None
      else Some(if ((k / InjectEvery) % 2 == 0) "6_post_validation"
        else "5_deletion")
    val start = if (cursor == firstCursor) baseDay * 86400 - 3600 else cursor
    MOp(start, cursor + span, inject)
  }
  def firstCursor: Long =
    baseDay * 86400 + (Rand.between(salt, 7, 0, 0.38, 0.42) * 86400).toLong

  /** Read `r`: one of the [[Days]] days from the purge cursor's on, a
    * user range, and whether it reads the head or the version before
    * the last delete.
    */
  def read(r: Int, cursor: Long): MRead = {
    val d = dayOf(cursor) + Rand.below(salt, 8, r, Days)
    val lo = Rand.below(salt, 9, r, Users - UserSpan)
    val asOf = ReadKinds(r % ReadKinds.size) == "asof"
    MRead(d, lo, lo + UserSpan - 1, asOf)
  }
}

object MixGen {
  /** Days the table holds, refilled after each successful op as in
    * [[HiveGen.Days]].
    */
  val Days = 30
  val RowsPerDay = 3333
  val Users = 1500L
  val UserSpan = 75L
  val InjectEvery = 5
  val Ymd: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyyMMdd")
  val ReadKinds: Seq[String] = Seq("head", "head", "asof")
}

final case class MOp(start: Long, end: Long, inject: Option[String]) {
  def pred: Column = col("ts") >= lit(new Timestamp(start * 1000)) &&
    col("ts") < lit(new Timestamp(end * 1000))
}

final case class MRead(day: Long, userLo: Long, userHi: Long, asOf: Boolean)

/** Expected state of the head and of the version before the last
  * workflow op (what `VERSION AS OF` reads), per loaded day.
  */
final class MixModel(g: MixGen) {
  import MixGen.RowsPerDay
  private final class Day(d: Long) {
    private val first = d * RowsPerDay
    val secs: Array[Long] = Array.tabulate(RowsPerDay)(i => g.sec(first + i))
    val users: Array[Long] = Array.tabulate(RowsPerDay)(i => g.user(first + i))
    val amounts: Array[Long] = Array.tabulate(RowsPerDay)(i => g.amount(first + i))
    val hashes: Array[Long] = Array.tabulate(RowsPerDay)(i => g.hash(first + i))
    val alive: java.util.BitSet = {
      val b = new java.util.BitSet(RowsPerDay); b.set(0, RowsPerDay); b
    }
  }
  private val days = mutable.TreeMap.empty[Long, Day]
  private var prev = Map.empty[Long, java.util.BitSet]
  var count: Long = 0L
  var checksum: Long = 0L
  /** The day [[load]] adds next. */
  var nextDay: Long = 0L
  (0 until MixGen.Days).foreach(_ => load())
  prev = snapshot()

  /** Add day [[nextDay]] to the head; returns its index. */
  def load(): Long = {
    val d = nextDay
    val day = new Day(d)
    days(d) = day
    count += RowsPerDay
    checksum ^= day.hashes.foldLeft(0L)(_ ^ _)
    nextDay += 1
    d
  }

  private def snapshot(): Map[Long, java.util.BitSet] =
    days.map { case (d, day) => d -> day.alive.clone().asInstanceOf[java.util.BitSet] }.toMap

  /** Apply a successful workflow op; returns rows deleted. */
  def apply(op: MOp, skipOne: Boolean): Long = {
    prev = snapshot()
    var deleted = 0L
    var skip = skipOne
    days.range(g.dayOf(op.start), g.dayOf(op.end) + 1).valuesIterator.foreach { day =>
      (0 until RowsPerDay).foreach { i =>
        if (day.alive.get(i) && day.secs(i) >= op.start && day.secs(i) < op.end) {
          if (skip) skip = false
          else {
            day.alive.clear(i); count -= 1; checksum ^= day.hashes(i); deleted += 1
          }
        }
      }
    }
    deleted
  }

  /** A failed op leaves the table as it was: the pre-op state is now
    * also the version before the head.
    */
  def unchanged(): Unit = prev = snapshot()

  /** (rows, sum of amount) a read must return. */
  def answer(r: MRead): (Long, Long) = days.get(r.day) match {
    case None => (0L, 0L)
    case Some(day) =>
      val live = if (r.asOf) prev.get(r.day) else Some(day.alive)
      var rows = 0L
      var sum = 0L
      live.foreach { bits =>
        (0 until RowsPerDay).foreach { i =>
          if (bits.get(i) && day.users(i) >= r.userLo && day.users(i) <= r.userHi) {
            rows += 1; sum += day.amounts(i)
          }
        }
      }
      (rows, sum)
  }
}

/** `versioned_read_delete_mix`: seeded reads of a day-partitioned
  * versioned table — head aggregates with partition and key predicates,
  * plus `VERSION AS OF` the version before the last delete — with one
  * [[VersionedDeletionWorkflow.run]] (retain 2) after every
  * [[ReadDeleteMix.ReadsPerOp]] reads. Every fifth workflow op fails on
  * purpose through the public `onPhase` hook at step 5 or 6 and must
  * return false with the table rolled back. Independent tables (one per
  * set-up) are used in rotation. After each successful op, outside the
  * timed interval, the benchmark appends the next generated day for the
  * day the op purged, so every op meets a table of the same size.
  */
object ReadDeleteMix extends Workload {
  val name = "versioned_read_delete_mix"
  val ReadsPerOp = 1
  /** One step (a read and a clean op) warms the JVM and Spark's lazy
    * set-up; the first injected failure comes next and is measured.
    */
  val WarmupOps = 1
  val Cols = Seq("event_id", "user_id", "ts", "amount", "pday")

  final class Inst(val i: Int, val gen: MixGen, val dir: String) {
    /** Built on first use, outside the timed set-up. */
    lazy val model = new MixModel(gen)
    var cursor: Long = gen.firstCursor
    var j = 0
    var r = 0
    var prevVersion: Int = 0
    def table: String = s"graft.`$dir`"
  }

  def digest(seed: Long): String =
    (0 until Instances).map { i =>
      val g = MixGen(seed, i)
      val m = new MixModel(g)
      val ops = (0 until 20).scanLeft(g.op(0, g.firstCursor, 0)) {
        (prev, j) => g.op(j + 1, prev.end, j + 1)
      }
      val reads = (0 until 20).map(r => g.read(r, g.firstCursor))
      s"${m.count}:${m.checksum}:${ops.mkString(",").hashCode}:" +
        reads.mkString(",").hashCode
    }.mkString("|")

  /** Generated rows `[from, until)` as a frame. */
  private def rows(ctx: Ctx, g: MixGen, from: Long, until: Long) = {
    val spark = ctx.spark
    import spark.implicits._
    spark.range(from, until, 1L, ctx.cores).as[Long].map(id => g.row(id)).toDF()
  }

  private def setup(ctx: Ctx, i: Int): Inst = {
    val g = MixGen(ctx.seed, i)
    val dir = ctx.dataDir(s"mix_$i")
    VersionedTable.create(
      rows(ctx, g, 0L, MixGen.Days.toLong * MixGen.RowsPerDay), dir, "pday")
    new Inst(i, g, dir)
  }

  def run(ctx: Ctx, rec: Recorder): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val insts = Harness.setUp(ctx, rec)(setup(ctx, _))
    insts.foreach(inst =>
      inst.prevVersion = VersionedTable.latestVersion(spark, inst.dir))
    Harness.loop(ctx, rec, WarmupOps) { k =>
      val inst = insts(k % insts.size)
      val op = inst.gen.op(inst.j, inst.cursor, k)
      val returned = (0 until ReadsPerOp).map { _ =>
        val rows = read(ctx, rec, inst, inst.gen.read(inst.r, inst.cursor), k)
        inst.r += 1
        rows
      }.sum
      if (t.enabled && returned > 0) {
        val scanned = t.opCounters(k).collect {
          case (n, c) if n.startsWith("sources.read_") => c.inputRecords
        }.sum
        rec.count("sources.rows_scanned_per_row_returned",
          scanned.toDouble / returned)
      }
      workflowOp(ctx, rec, inst, op, k)
      inst.j += 1
      if (op.inject.isEmpty) inst.cursor = op.end
      true
    }
  }

  /** One read, checked against the model; returns the rows it matched. */
  private def read(ctx: Ctx, rec: Recorder, inst: Inst, r: MRead, k: Int): Long = {
    val t = ctx.tracer
    val asOf = if (r.asOf) s" VERSION AS OF ${inst.prevVersion}" else ""
    val sql = s"SELECT count(*) AS n, coalesce(sum(amount), 0) AS s " +
      s"FROM ${inst.table}$asOf WHERE pday = '${inst.gen.pday(r.day)}' " +
      s"AND user_id BETWEEN ${r.userLo} AND ${r.userHi}"
    val span = if (r.asOf) "sources.read_asof" else "sources.read_latest"
    t.op = k
    val (res, s) = Harness.timed(t.span(span) {
      val row = ctx.spark.sql(sql).collect().head
      (row.getLong(0), row.getLong(1))
    })
    t.op = -1
    rec.measured += s
    rec.reads += s
    val expected = inst.model.answer(r)
    rec.check(res == Right(expected), s"read $r on ${inst.dir}: " +
      s"${res.fold(Harness.describe, _.toString)} vs model $expected")
    if (t.enabled) rec.time(span + ".s", s)
    expected._1
  }

  private def workflowOp(ctx: Ctx, rec: Recorder, inst: Inst, op: MOp, k: Int): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val rowsBefore = inst.model.count
    val headBefore = VersionedTable.latestVersion(spark, inst.dir)
    val before = Storage.snap(Seq(inst.dir))
    t.op = k
    val phases = new t.PhaseSpans("core.v.")
    var thrownAt = 0L
    val hook: String => Unit = { phase =>
      phases.enter(phase)
      if (op.inject.contains(phase)) {
        thrownAt = System.nanoTime()
        throw new RuntimeException(s"perfbench: injected failure at $phase")
      }
    }
    val (res, s) = Harness.timed(t.span("op") {
      try VersionedDeletionWorkflow.run(spark, inst.dir, "pday", op.pred,
        new Metrics, retainVersions = 2, onPhase = hook)
      finally phases.close()
    })
    val end = System.nanoTime()
    t.op = -1
    val after = Storage.snap(Seq(inst.dir))
    val expectOk = op.inject.isEmpty
    // the measured interval holds the reads and the clean ops; an
    // injected failure runs on top of it, so it does not take the place
    // of clean-op samples
    if (expectOk) rec.measured += s
    val deleted =
      if (expectOk) inst.model.apply(op, skipOne = k == ctx.wrongModelAt)
      else { inst.model.unchanged(); 0L }
    if (expectOk) rec.ops += s else rec.restores += s
    if (expectOk) rec.rowsAtStart += rowsBefore
    rec.deletedRows += deleted
    rec.writtenBytes += after.written(before).map(_._2).sum
    inst.prevVersion = headBefore
    val returned = res.fold(_ => "threw", _.toString)
    val outcomeOk = res == Right(expectOk)
    // refill: the next generated day for the day the op purged
    if (expectOk) t.span("bench.refill") {
      while (inst.model.nextDay < inst.gen.dayOf(op.end) + MixGen.Days) {
        val d = inst.model.load()
        VersionedTable.append(rows(ctx, inst.gen, d * MixGen.RowsPerDay,
          (d + 1) * MixGen.RowsPerDay), inst.dir, "pday")
      }
    }
    val (n, sum) = t.span("bench.check")(Harness.countAndChecksum(
      VersionedTable.readLatest(spark, inst.dir), Cols))
    rec.check(outcomeOk && n == inst.model.count && sum == inst.model.checksum,
      s"op $k $op on ${inst.dir}: returned $returned, " +
        s"engine ($n, $sum) vs model (${inst.model.count}, ${inst.model.checksum})")
    val live = Storage.fileBytes(VersionedTable.liveDataFiles(spark, inst.dir))
    rec.spaceAmp += Storage.snap(Seq(inst.dir)).bytes.toDouble / math.max(1L, live)
    if (t.enabled) {
      if (expectOk) {
        rec.spanSeconds(k).foreach { case (name, sec) =>
          if (name.startsWith("core.v.")) rec.time(name + ".s", sec)
        }
        rec.sparkOp(k, s)
      } else rec.time("recovery.rollback.s", (end - thrownAt) / 1e9)
      rec.count("sources.manifest_versions",
        VersionedTable.versions(spark, inst.dir).size)
    }
  }
}
