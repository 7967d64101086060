package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload gets from the driver of a run. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    seconds: Double, work: String, wrongModelAt: Int) {
  val cores = 4
  def dataDir(name: String): String = s"$work/data/$name"
}

/** Everything a run measures. Op latencies, rows and bytes feed the
  * end-to-end metrics; `time`/`count` samples feed the per-layer ones
  * (times report the median over the ops that ran the span, counts the
  * mean per op).
  */
final class Recorder(ctx: Ctx) {
  val setups = mutable.ArrayBuffer.empty[Double]
  /** Wall seconds of each deletion op, in run order. */
  val ops = mutable.ArrayBuffer.empty[Double]
  val reads = mutable.ArrayBuffer.empty[Double]
  val restores = mutable.ArrayBuffer.empty[Double]
  var rowsAtStart = 0.0
  var deletedRows = 0L
  var writtenBytes = 0L
  val spaceAmp = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Seconds inside the measured interval (ops, reads, maintenance). */
  var measured = 0.0
  private[perfbench] val times =
    mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private[perfbench] val counts =
    mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Forget everything measured so far except set-up times and the
    * correctness tally: the warm-up ops are checked but not measured.
    */
  def resetMeasurements(): Unit = {
    ops.clear(); reads.clear(); restores.clear(); spaceAmp.clear()
    rowsAtStart = 0; deletedRows = 0; writtenBytes = 0; measured = 0
    times.clear(); counts.clear()
  }

  def time(name: String, seconds: Double): Unit =
    times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += seconds
  def count(name: String, v: Double): Unit =
    counts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** One checked request: a mismatch with the model counts as failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }

  /** Per-op Spark counters of the traced run, summed over the op's spans
    * (the benchmark's own check and maintenance spans excluded), plus the
    * named spans' job counts in `jobSpans`.
    */
  def sparkOp(op: Int, wallSeconds: Double, jobSpans: Seq[String] = Nil): Unit =
    if (ctx.tracer.enabled) {
      val byName = ctx.tracer.opCounters(op)
      val c = new Counters
      byName.foreach { case (n, k) => if (!n.startsWith("bench.")) c += k }
      count("spark.jobs", c.jobs)
      count("spark.stages", c.stages)
      count("spark.tasks", c.tasks)
      count("spark.task_s", c.taskMs / 1000.0)
      count("spark.input_bytes", c.inputBytes)
      count("spark.shuffle_bytes", c.shuffleBytes)
      count("spark.output_bytes", c.outputBytes)
      count("spark.output_files", c.outputFiles)
      count("spark.busy_frac", c.taskMs / 1000.0 / (wallSeconds * ctx.cores))
      jobSpans.foreach(s => byName.get(s).foreach(k => count(s"$s.jobs", k.jobs)))
    }

  /** Span seconds of op `op` by name (traced run only). */
  def spanSeconds(op: Int): Map[String, Double] =
    ctx.tracer.opSpans(op).groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(_.seconds).sum
    }
}

/** Shared pieces of the workloads. */
object Harness {
  def timed[A](body: => A): (Either[Throwable, A], Double) = {
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Exception => Left(e) }
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Independent instances of a workload's tables each run sets up and
    * sends ops to in rotation. Three, so that `setup_s`, their median,
    * leaves out the first set-up, which also pays the JVM's warm-up.
    */
  val Instances = 3

  /** Set up `n` instances, timing each into `setup_s`. */
  def setUp[A](ctx: Ctx, rec: Recorder, n: Int = Instances)(build: Int => A): Seq[A] = {
    val insts = (0 until n).map { i =>
      val (r, s) = timed(ctx.tracer.span("bench.setup")(build(i)))
      rec.setups += s
      r.fold(e => throw e, identity)
    }
    progress(s"$n set-ups done")
    insts
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .take(300)

  /** Row count and XOR of per-row xxhash64 — the engine side of the
    * model check, run outside the timed interval.
    */
  def countAndChecksum(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)).cast("long"),
      coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L)))
      .collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** Closed loop, one client: run `step(i)` until the measured interval
    * reaches the run length, holds at least one measured op and a whole
    * number of `round`s of measured steps, or the workload runs out of
    * input, or the wall-clock safety limit is hit. The first `warmup`
    * steps run and are checked but not measured, so JIT compilation and
    * Spark's lazy set-up do not land in measured ops. A workload whose
    * steps cycle through kinds passes the cycle length as `round`, so
    * every run measures the same mix of kinds whatever its length.
    * `step` adds its timed seconds to `rec.measured` and returns false
    * when out of input.
    */
  def loop(ctx: Ctx, rec: Recorder, warmup: Int, round: Int = 1)(
      step: Int => Boolean): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    var more = true
    while (more && (i <= warmup || rec.measured < ctx.seconds || rec.ops.isEmpty ||
        (i - warmup) % round != 0) &&
        (System.nanoTime() - t0) / 1e9 < WallLimitS) {
      if (i == warmup) { rec.resetMeasurements(); progress(s"$warmup warm-up ops done") }
      more = step(i)
      i += 1
    }
    progress(s"${rec.ops.size} ops measured")
  }

  /** A time-stamped line on stderr (seconds since JVM start). */
  def progress(what: String): Unit = System.err.println(
    f"perfbench: $what at ${java.lang.management.ManagementFactory
      .getRuntimeMXBean.getUptime / 1000.0}%.1f s")

  /** Stop a run's loop after this much wall time whatever `--seconds`
    * says, so a run ends well inside its 180-second budget.
    */
  val WallLimitS = 110.0

  /** Run a fixed synthetic query `n` times; returns each wall time. */
  def sentinel(spark: SparkSession, n: Int): Seq[Double] =
    (0 until n).map { _ =>
      timed(spark.range(0L, 20000000L, 1L, 4)
        .selectExpr("sum(pmod(id * 7, 13)) AS s").collect())._2
    }

  /** Files under a directory, excluding hidden paths: the parts a scan
    * of a parquet store reads.
    */
  def visibleBytes(snap: Snap, root: String): Long =
    snap.files.collect {
      case (p, (size, _)) if p.startsWith(root) &&
          !p.substring(root.length).split('/').exists(c =>
            c.startsWith("_") || c.startsWith(".")) => size
    }.sum
}

trait Workload {
  def name: String
  def hiveSupport: Boolean = false
  /** Set up the instances ([[Harness.setUp]]), then measure. */
  def run(ctx: Ctx, rec: Recorder): Unit
  /** Digest of the generated inputs for `seed`, without Spark. */
  def digest(seed: Long): String
}
