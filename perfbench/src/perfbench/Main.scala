package perfbench

import java.nio.file.{Files, Paths}

import graft.core.GraftSession

/** Entry point of one benchmark run (see perfbench/README.md):
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> [--trace-out <file>] [--wrong-model-at <op>]
  *                  [--digest]
  *
  * Prints `PERFBENCH_DETAIL <json>` (every metric the run measured) and
  * `PERFBENCH_RESULT <json>` (the contract line). Exits non-zero, without
  * a result, when set-up or the run itself fails.
  */
object Main {
  val Workloads: Seq[Workload] =
    Seq(HiveRetention, ErasureStream, ReadDeleteMix, TakedownFanout)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s_p50" -> "s", "rows_per_s" -> "1/s",
    "write_bytes_per_deleted_row" -> "bytes",
    "space_amp" -> "ratio", "peak_rss_mb" -> "MB")

  val Phases: Seq[String] = Seq("1_identify_partitions", "2_pre_validation",
    "3_backup", "4_count_before", "5_deletion", "6_post_validation",
    "7_cleanup_backups")

  /** The per-layer metrics every traced run reports (`BENCHMARK.json`'s
    * `per_layer`). A layer the workload never calls reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "catalog.list.s" -> "s", "partition.prune.s" -> "s",
    "partition.kept_frac" -> "ratio", "core.identify.s" -> "s",
    "core.affected_frac" -> "ratio",
    "backup.create.s" -> "s", "backup.bytes" -> "bytes",
    "backup.cleanup.s" -> "s", "backup.tables_live" -> "count",
    "core.count_before.s" -> "s", "core.delete.s" -> "s",
    "core.partitions_emptied" -> "count",
    "core.partitions_rewritten" -> "count",
    "core.partitions_untouched" -> "count",
    "core.rows_read_per_deleted" -> "ratio",
    "validation.pre.s" -> "s", "validation.post.s" -> "s",
    "plans.delete_in.s" -> "s", "plans.delete_in.jobs" -> "count",
    "plans.delete_subquery.s" -> "s", "plans.delete_subquery.jobs" -> "count",
    "plans.update.s" -> "s", "plans.update.jobs" -> "count",
    "sources.leaves_rewritten" -> "count", "sources.files_written" -> "count",
    "sources.manifest_versions" -> "count", "sources.vacuum.s" -> "s") ++
    Phases.map(p => s"core.v.$p.s" -> "s") ++ Seq(
    "sources.read_latest.s" -> "s", "sources.read_asof.s" -> "s",
    "sources.rows_scanned_per_row_returned" -> "ratio",
    "recovery.rollback.s" -> "s",
    "pipeline.propagate.s" -> "s", "pipeline.bm25_delete.s" -> "s",
    "pipeline.ann_delete.s" -> "s", "pipeline.minhash_delete.s" -> "s",
    "pipeline.base_delete.s" -> "s", "pipeline.overlap_ratio" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_s" -> "s",
    "spark.input_bytes" -> "bytes", "spark.shuffle_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes", "spark.output_files" -> "count",
    "spark.busy_frac" -> "ratio", "spark.unattributed_jobs" -> "count",
    "box.sentinel_s" -> "s", "trend.op_s_slope" -> "s/op",
    "error_rate" -> "ratio")

  final case class Args(workload: String = "", seed: Long = 0,
      seconds: Double = 10, trace: Boolean = false, work: String = "",
      traceOut: Option[String] = None, wrongModelAt: Int = -1,
      digest: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--trace-out" :: v :: t => parse(t, a.copy(traceOut = Some(v)))
    case "--wrong-model-at" :: v :: t => parse(t, a.copy(wrongModelAt = v.toInt))
    case "--digest" :: t => parse(t, a.copy(digest = true))
    case Nil => a
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val w = Workloads.find(_.name == a.workload)
      .getOrElse(throw new IllegalArgumentException(s"no workload ${a.workload}"))
    if (a.digest) { println(s"PERFBENCH_DIGEST ${w.digest(a.seed)}"); return }
    val spark = session(a.work, w.hiveSupport)
    val tracer = new Tracer(spark, a.trace)
    val ctx = Ctx(spark, tracer, a.seed, a.seconds, a.work, a.wrongModelAt)
    val rec = new Recorder(ctx)
    try {
      def sentinel() =
        if (a.trace) tracer.span("bench.sentinel")(Harness.sentinel(spark, 3))
        else Nil
      Harness.progress("session ready")
      val sentinel0 = sentinel()
      w.run(ctx, rec)
      val sentinel1 = sentinel()
      tracer.drain()
      report(a, w, rec, tracer, sentinel0 ++ sentinel1)
    } finally spark.stop()
    Harness.progress("session stopped")
  }

  private def session(work: String, hive: Boolean) = {
    val spark = GraftSession.builder(
        appName = "perfbench",
        master = Some("local[4]"),
        hiveSupport = hive,
        shufflePartitions = Some(4),
        extraConfs = Map(
          "spark.ui.enabled" -> "false",
          "spark.sql.warehouse.dir" -> s"$work/warehouse",
          "spark.local.dir" -> s"$work/tmp",
          "spark.hadoop.hive.exec.scratchdir" -> s"$work/hive/scratch",
          "spark.hadoop.hive.exec.local.scratchdir" -> s"$work/hive/local",
          "spark.hadoop.hive.downloaded.resources.dir" -> s"$work/hive/res",
          "spark.hadoop.hive.exec.dynamic.partition.mode" -> "nonstrict"))
      .config("javax.jdo.option.ConnectionURL",
        "jdbc:derby:memory:perfbench;create=true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** VmHWM of this JVM, in MB. */
  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  private def json(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case m: Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }
        .mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }

  private def metric(v: Double, unit: String) =
    scala.collection.immutable.ListMap("value" -> v, "unit" -> unit)

  private def report(a: Args, w: Workload, rec: Recorder, tracer: Tracer,
      sentinel: Seq[Double]): Unit = {
    val opTotal = rec.ops.sum
    val e2e = Map(
      "setup_s" -> Stats.median(rec.setups.toSeq),
      "op_s_p50" -> Stats.median(rec.ops.toSeq),
      "rows_per_s" -> (if (opTotal > 0) rec.rowsAtStart / opTotal else 0.0),
      "write_bytes_per_deleted_row" ->
        rec.writtenBytes.toDouble / math.max(1L, rec.deletedRows),
      "space_amp" -> Stats.mean(rec.spaceAmp.toSeq),
      "peak_rss_mb" -> peakRssMb)
    val errorRate = rec.failed.toDouble / math.max(1, rec.attempted)
    val layer = PerLayer.map { case (n, _) =>
      n -> (n match {
        case "spark.unattributed_jobs" =>
          tracer.listener.map(_.unattributed.toDouble).getOrElse(0.0)
        case "box.sentinel_s" => Stats.median(sentinel)
        case "trend.op_s_slope" => Stats.slope(rec.ops.toSeq)
        case "error_rate" => errorRate
        case _ if rec.times.contains(n) => Stats.median(rec.times(n).toSeq)
        case _ => rec.counts.get(n).map(xs => Stats.mean(xs.toSeq)).getOrElse(0.0)
      })
    }.toMap
    val extra = scala.collection.immutable.ListMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "ops" -> rec.ops.size, "reads" -> rec.reads.size,
      "restores" -> rec.restores.size, "setups" -> rec.setups.size,
      "measured_s" -> rec.measured, "deleted_rows" -> rec.deletedRows,
      "written_bytes" -> rec.writtenBytes, "error_rate" -> errorRate,
      "failures" -> rec.failures.toSeq, "op_s_samples" -> rec.ops.toSeq,
      "unattributed_job_sites" ->
        tracer.listener.map(_.unattributedSites.toSeq).getOrElse(Nil)) ++
      (if (rec.ops.size >= 100) Map("op_s_p90" -> Stats.quantile(rec.ops.toSeq, 0.9))
       else Map.empty) ++
      (if (rec.reads.nonEmpty) Map(
        "read_s_p50" -> Stats.median(rec.reads.toSeq),
        "read_s_p90" -> Stats.quantile(rec.reads.toSeq, 0.9)) else Map.empty) ++
      (if (rec.restores.nonEmpty)
        Map("restore_s_p50" -> Stats.median(rec.restores.toSeq)) else Map.empty)
    val detail = extra ++ EndToEnd.map { case (n, _) => n -> e2e(n) } ++
      (if (a.trace) PerLayer.map { case (n, _) => n -> layer(n) } else Nil)
    println("PERFBENCH_DETAIL " + json(detail))
    a.traceOut.foreach(writeTrace(_, tracer))
    val metrics =
      if (a.trace) PerLayer.map { case (n, u) => n -> metric(layer(n), u) }
      else EndToEnd.map { case (n, u) => n -> metric(e2e(n), u) }
    val result = scala.collection.immutable.ListMap(
      "correct" -> (rec.failed == 0 && rec.attempted > 0),
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))
    println("PERFBENCH_RESULT " + json(result))
  }

  /** Spans with their Spark counters, one JSON object a line. */
  private def writeTrace(path: String, tracer: Tracer): Unit = {
    val lines = tracer.spans.map { s =>
      val c = tracer.listener.flatMap(_.ofOp(s.op).get(s.name))
      json(scala.collection.immutable.ListMap[String, Any](
        "op" -> s.op, "span" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++
        c.map(k => Map[String, Any]("jobs" -> k.jobs, "stages" -> k.stages,
          "tasks" -> k.tasks, "task_ms" -> k.taskMs,
          "input_bytes" -> k.inputBytes, "input_records" -> k.inputRecords,
          "shuffle_bytes" -> k.shuffleBytes, "output_bytes" -> k.outputBytes,
          "output_files" -> k.outputFiles)).getOrElse(Map.empty))
    }
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
