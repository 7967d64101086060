package perfbench

import graft.sources.VersionedTable

import Harness.Instances

final case class ERow(event_id: Long, user_id: Long, name: String,
    amount: Long, p: String)

/** Rows of one versioned events table: [[ErasureGen.Rows]] events of
  * [[ErasureGen.Users]] users, partitioned by user bucket `p`, so one
  * user's rows sit in one partition.
  */
final case class ErasureGen(seed: Long, inst: Int) {
  import ErasureGen._
  val salt: Long = seed * 37 + inst
  def user(id: Long): Long = Rand.below(salt, 1, id, Users)
  def amount(id: Long): Long = Rand.below(salt, 2, id, 100000)
  def name(u: Long): String = s"name_$u"
  private lazy val partNames = Array.tabulate(Parts)(p => f"p$p%02d")
  def part(u: Long): String = partNames((u % Parts).toInt)
  def row(id: Long): ERow = {
    val u = user(id)
    ERow(id, u, name(u), amount(id), part(u))
  }
  def hash(id: Long, redacted: Boolean): Long = {
    val u = user(id)
    new RowHash().long(id).long(u).str(if (redacted) "redacted" else name(u))
      .long(amount(id)).str(part(u)).value
  }

  /** Request order: every user at most once, in a seeded order. */
  lazy val userOrder: Array[Long] =
    Array.range(0, Users.toInt).map(_.toLong).sortBy(u => Rand.at(salt, 3, u))

}

object ErasureGen {
  val Users = 1500L
  val Rows = 100000
  val Parts = 16
  /** Request kinds in run order, repeating, with the users each names:
    * every seed runs the same mix on different users and rows.
    */
  val Kinds: Seq[(String, Int)] = Seq("delete_in" -> 3, "update" -> 1,
    "delete_subquery" -> 2, "delete_in" -> 2)
}

/** Expected state: live rows, which users are redacted, count, checksum. */
final class ErasureModel(g: ErasureGen) {
  private val n = ErasureGen.Rows
  private val byUser: Array[Array[Int]] =
    (0 until n).groupBy(i => g.user(i.toLong).toInt)
      .foldLeft(Array.fill(ErasureGen.Users.toInt)(Array.emptyIntArray)) {
        case (a, (u, rows)) => a(u) = rows.toArray; a
      }
  private val alive = { val b = new java.util.BitSet(n); b.set(0, n); b }
  private val redacted = new java.util.BitSet(ErasureGen.Users.toInt)
  var count: Long = n.toLong
  var checksum: Long =
    (0 until n).foldLeft(0L)((h, i) => h ^ g.hash(i.toLong, redacted = false))

  /** Apply one request; returns rows deleted. */
  def apply(kind: String, users: Seq[Long], skipOne: Boolean): Long = {
    var deleted = 0L
    var skip = skipOne
    users.foreach { u =>
      val red = redacted.get(u.toInt)
      byUser(u.toInt).filter(i => alive.get(i)).foreach { i =>
        if (skip) skip = false
        else if (kind == "update") {
          checksum ^= g.hash(i.toLong, red) ^ g.hash(i.toLong, redacted = true)
        } else {
          alive.clear(i); count -= 1; checksum ^= g.hash(i.toLong, red)
          deleted += 1
        }
      }
      if (kind == "update") redacted.set(u.toInt)
    }
    deleted
  }
}

/** `versioned_erasure_stream`: GDPR-style requests as SQL statements on a
  * versioned parquet table (`graft.\`dir\``), each naming 1–3 users, so
  * one request touches 1–3 partitions and a few rows. Independent
  * tables (one per set-up) take the requests in rotation;
  * [[VersionedTable.vacuum]] runs every [[ErasureStream.VacuumEvery]]
  * requests per table, inside the measured interval but outside any op.
  */
object ErasureStream extends Workload {
  val name = "versioned_erasure_stream"
  val VacuumEvery = 3
  /** One request warms the JVM and Spark's lazy set-up; the first
    * request of each other kind, which still compiles its plans, is
    * measured at the same place in every run.
    */
  val WarmupOps = 1
  val Cols = Seq("event_id", "user_id", "name", "amount", "p")

  final class Inst(val i: Int, val gen: ErasureGen, val dir: String) {
    /** Built on first use, outside the timed set-up. */
    lazy val model = new ErasureModel(gen)
    var j = 0
    var cursor = 0
    def table: String = s"graft.`$dir`"
  }

  def digest(seed: Long): String =
    (0 until Instances).map { i =>
      val g = ErasureGen(seed, i)
      val m = new ErasureModel(g)
      s"${m.count}:${m.checksum}:${g.userOrder.take(40).mkString(",").hashCode}"
    }.mkString("|")

  private def setup(ctx: Ctx, i: Int): Inst = {
    val spark = ctx.spark
    import spark.implicits._
    val g = ErasureGen(ctx.seed, i)
    val dir = ctx.dataDir(s"erasure_$i")
    VersionedTable.create(
      spark.range(0L, ErasureGen.Rows.toLong, 1L, ctx.cores).as[Long]
        .map(id => g.row(id)).toDF(), dir, "p")
    new Inst(i, g, dir)
  }

  def run(ctx: Ctx, rec: Recorder): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val insts = Harness.setUp(ctx, rec)(setup(ctx, _))
    Harness.loop(ctx, rec, WarmupOps, round = ErasureGen.Kinds.size) { k =>
      val inst = insts(k % insts.size)
      val (kind, w) = ErasureGen.Kinds(k % ErasureGen.Kinds.size)
      if (inst.cursor + w > ErasureGen.Users) false
      else {
        val users = inst.gen.userOrder.slice(inst.cursor, inst.cursor + w).toSeq
        step(ctx, rec, inst, kind, users, k)
        inst.cursor += w
        inst.j += 1
        if (inst.j % VacuumEvery == 0) {
          val (_, s) = Harness.timed(t.span("sources.vacuum") {
            VersionedTable.vacuum(spark, inst.dir, retainLast = 2)
          })
          rec.measured += s
          if (t.enabled) rec.time("sources.vacuum.s", s)
        }
        true
      }
    }
  }

  private def step(ctx: Ctx, rec: Recorder, inst: Inst, kind: String,
      users: Seq[Long], k: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.tracer
    val sql = kind match {
      case "delete_in" =>
        s"DELETE FROM ${inst.table} WHERE user_id IN (${users.mkString(", ")})"
      case "delete_subquery" =>
        users.toDF("user_id").createOrReplaceTempView(s"erasure_req_${inst.i}")
        s"DELETE FROM ${inst.table} WHERE user_id IN " +
          s"(SELECT user_id FROM erasure_req_${inst.i})"
      case "update" =>
        s"UPDATE ${inst.table} SET name = 'redacted' WHERE user_id = ${users.head}"
    }
    val rowsBefore = inst.model.count
    val leavesBefore =
      if (t.enabled) VersionedTable.liveLeaves(spark, inst.dir).toSet else Set.empty[String]
    val before = Storage.snap(Seq(inst.dir))
    t.op = k
    val (res, s) = Harness.timed(t.span(s"plans.$kind")(spark.sql(sql)))
    t.op = -1
    val after = Storage.snap(Seq(inst.dir))
    rec.measured += s
    val deleted = inst.model.apply(kind, users, skipOne = k == ctx.wrongModelAt)
    rec.ops += s
    rec.rowsAtStart += rowsBefore
    rec.deletedRows += deleted
    val written = after.written(before)
    rec.writtenBytes += written.map(_._2).sum
    val (n, sum) = t.span("bench.check")(Harness.countAndChecksum(
      VersionedTable.readLatest(spark, inst.dir), Cols))
    rec.check(res.isRight && n == inst.model.count && sum == inst.model.checksum,
      s"op $k $kind $users on ${inst.dir}: " +
        res.left.toOption.map(Harness.describe).getOrElse("ok") +
        s", engine ($n, $sum) vs model (${inst.model.count}, ${inst.model.checksum})")
    val live = Storage.fileBytes(VersionedTable.liveDataFiles(spark, inst.dir))
    rec.spaceAmp += after.bytes.toDouble / math.max(1L, live)
    if (t.enabled) {
      rec.time(s"plans.$kind.s", s)
      rec.count("sources.leaves_rewritten",
        (VersionedTable.liveLeaves(spark, inst.dir).toSet -- leavesBefore).size)
      rec.count("sources.files_written", written.count { case (p, _) =>
        !p.split('/').last.startsWith(".") })
      rec.count("sources.manifest_versions",
        VersionedTable.versions(spark, inst.dir).size)
      rec.sparkOp(k, s, jobSpans = Seq(s"plans.$kind"))
    }
  }
}
