package graftbench

import java.nio.file.{Files, Path, Paths}

import graft.core.GraftSession

/** Benchmark entry point (launched by `run.py`, which owns the build, the
  * per-run directory and the JVM flags):
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <run dir> --state <dir>
  * }}}
  *
  * The last stdout line is the result object. `--dir` holds everything the
  * run writes (estates, tables, checkpoints, Spark scratch); `--state`
  * survives between runs and keeps the exact-repeat counts per seed and the
  * spans of traced runs. */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "p50_ms" -> "ms", "throughput_per_s" -> "1/s", "setup_s" -> "s", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "run.tail_ms" -> "ms", "run.tail_percentile" -> "pct",
    "pgwire.cached_roundtrip_ms" -> "ms", "pgwire.overhead_ms" -> "ms",
    "gov.cache_hits" -> "count", "gov.cache_hit_ratio" -> "ratio",
    "kafsql.parse_ms" -> "ms", "kafsql.plan_ms" -> "ms",
    "exec.physical_plan_ms" -> "ms", "exec.run_ms" -> "ms",
    "exec.jobs_per_op" -> "count", "exec.tasks_per_op" -> "count",
    "exec.driver_gap_ms" -> "ms", "exec.executor_cpu_ms" -> "ms", "exec.shuffle_mb" -> "MB",
    "kfs.discovery_ms" -> "ms", "kfs.bytes_read_per_query" -> "bytes",
    "kfs.records_read_per_row_returned" -> "ratio",
    "kfs.write_ms" -> "ms", "kfs.write_records_per_s" -> "1/s", "kfs.bytes_per_user_byte" -> "ratio",
    "etl.drain_ms" -> "ms", "etl.query_start_ms" -> "ms", "etl.add_batch_ms" -> "ms",
    "etl.batches_per_round" -> "count", "etl.invalid_ratio" -> "ratio",
    "iceberg.read_ms" -> "ms", "iceberg.commits_per_round" -> "count",
    "iceberg.metadata_bytes_per_commit" -> "bytes", "iceberg.delete_files_live" -> "count",
    "iceberg.maintenance_ms" -> "ms", "iceberg.bytes_stored_per_live_byte" -> "ratio",
    "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms",
    "setup.session_s" -> "s", "setup.inputs_s" -> "s", "setup.warmup_s" -> "s",
    "trace.overhead_pct" -> "%", "trace.unattributed_pct" -> "%")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args("trace") == "1"
    val dir = Paths.get(args("dir"))
    val state = Paths.get(args("state"))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val cpus = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = {
      val t0 = System.nanoTime()
      val s = GraftSession.local(s"local[$cpus]", shufflePartitions = cpus)
      (s, (System.nanoTime() - t0) / 1e9)
    }
    System.err.println(s"graftbench: master=local[$cpus] shuffle.partitions=$cpus " +
      s"workload=$workload seed=$seed seconds=$seconds trace=$trace")
    val ctx = new Ctx(spark, dir, seed, seconds, trace)
    val out = new Outcome
    try Workloads.run(workload, ctx, out)
    catch { case e: Exception => e.printStackTrace(); out.attempted += 1; out.fail(s"run: $e") }

    val samples = out.samples.map(s => (s.cls, s.ms)).toSeq
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (samples.nonEmpty) {
      val tailQ = Stats.selectTail(samples.size, Stats.measuredBoundaries(samples))
      System.err.println(s"graftbench: ${samples.size} samples; tail percentile " +
        tailQ.fold("none")(q => s"p$q") + "; class medians " +
        samples.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, xs) =>
          f"$c:${Stats.median(xs.map(_._2))}%.1fms(n=${xs.size})" }.mkString(" "))
      System.err.println("graftbench: samples class:ms " +
        out.samples.map(s => f"${s.cls}:${s.ms}%.1f").mkString(","))
      metrics("p50_ms") = Stats.median(samples.map(_._2))
      metrics("throughput_per_s") = out.work / out.windowS
      // too few operations for the rule: the slowest one, marked p100
      out.perLayer("run.tail_percentile") = tailQ.getOrElse(100.0)
      out.perLayer("run.tail_ms") = Stats.percentile(samples.map(_._2), tailQ.getOrElse(100.0))
    }
    metrics("setup_s") = (out.firstOpAtMs - jvmStartMs) / 1000.0
    metrics("peak_rss_mb") = peakRssMb()

    if (trace) {
      val L = out.perLayer
      L("setup.session_s") = sessionS
      L("setup.inputs_s") = out.inputsS
      L("setup.warmup_s") = out.warmupS
      val faults = Tracer.nestingFaults(ctx.tracer.all)
      if (faults.nonEmpty) out.fail(s"${faults.size} span nesting faults: ${faults.take(5).mkString("; ")}")
      L("trace.unattributed_pct") = Tracer.unattributedPct(ctx.tracer.all)
      ctx.tracer.write(state.resolve(s"$workload-seed$seed.spans.jsonl"),
        s"""{"workload":"$workload","seed":$seed,"master":"local[$cpus]","shuffle_partitions":$cpus}""")
    }
    checkRepeat(state, s"$workload-seed$seed-s$seconds-trace${if (trace) 1 else 0}", out)
    try spark.stop() catch { case _: Exception => }

    val names = if (trace) PerLayer else EndToEnd
    val values = if (trace) out.perLayer else metrics
    val body = names.map { case (n, unit) =>
      val v = values.getOrElse(n, 0.0)
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$unit"}"""
    }.mkString(", ")
    val correct = out.failed == 0 && out.attempted > 0 && (trace || samples.nonEmpty)
    println(s"""{"correct": $correct, "attempted": ${math.max(1, out.attempted)}, """ +
      s""""failed": ${out.failed}, "metrics": {$body}}""")
    System.out.flush()
    System.exit(0)
  }

  /** Exact-repeat counts must equal those of an earlier run of the same
    * seed, settings and code; a difference fails the run. Only a run
    * without failures records them. */
  private def checkRepeat(state: Path, key: String, out: Outcome): Unit = {
    val f = state.resolve(key + ".counts")
    val now = out.repeatCounts.map { case (k, v) => s"$k=$v" }.mkString("\n")
    if (Files.exists(f)) {
      val before = new String(Files.readAllBytes(f), "UTF-8")
      if (before != now) out.fail(s"exact-repeat counts differ from an earlier run: [$before] vs [$now]")
    } else if (out.failed == 0) {
      Files.createDirectories(state)
      Files.write(f, now.getBytes("UTF-8"))
    }
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}
