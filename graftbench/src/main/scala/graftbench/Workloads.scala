package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{IcebergSink, Pipeline, TableSink}
import graft.kafsql.SchemaCol
import graft.kfs.KfsLayout

object Workloads {

  val Names: Seq[String] = Seq("kafsql_interactive", "ingest_etl", "cdc_upsert")

  def run(name: String, ctx: Ctx, out: Outcome): Unit = name match {
    case "kafsql_interactive" => KafsqlLane.run(ctx, out)
    case "ingest_etl" => IngestLane.run(ctx, out)
    case "cdc_upsert" => CdcLane.run(ctx, out)
  }

  /** Listener-derived execution metrics over traced operations, each given
    * as (its jobs, its driver gap in ms, rows it returned). */
  def jobMetrics(ctx: Ctx, ops: Seq[(Seq[JobProbe#Job], Double, Long)],
      L: mutable.Map[String, Double]): Unit = {
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    L("exec.jobs_per_op") = mean(ops.map(_._1.size.toDouble))
    L("exec.tasks_per_op") = mean(ops.map(_._1.map(_.tasks).sum.toDouble))
    L("exec.driver_gap_ms") = Stats.median(ops.map(_._2))
    L("exec.executor_cpu_ms") = Stats.median(ops.map(_._1.map(_.cpuNs).sum / 1e6))
    L("exec.shuffle_mb") = mean(ops.map(_._1.map(_.shuffleBytes).sum / 1e6))
    L("kfs.records_read_per_row_returned") =
      ops.map(_._1.map(_.inRecords).sum).sum.toDouble / math.max(1L, ops.map(_._3).sum)
  }

  val LogSchema: StructType = StructType(Seq(
    StructField("_topic", StringType), StructField("_partition", IntegerType),
    StructField("_offset", LongType), StructField("_ts_ms", LongType),
    StructField("_key", BinaryType), StructField("_value", BinaryType)))

  /** Appends records to a KFS log through `format("kfs")`. */
  def produce(ctx: Ctx, root: String, topic: String,
      recs: Seq[(Int, Long, Long, String, String)]): Unit = {
    val rows = new java.util.ArrayList[Row](recs.size)
    recs.foreach { case (p, off, ts, k, v) =>
      rows.add(Row(topic, p, off, ts, k.getBytes("UTF-8"),
        if (v == null) null else v.getBytes("UTF-8")))
    }
    ctx.spark.createDataFrame(rows, LogSchema).write.format("kfs").mode("append")
      .option("path", root).option("max_records_per_segment", "1000").save()
  }

  /** Per-round Iceberg and streaming accounting, shared by the two lanes
    * that drain into Iceberg. */
  final class RoundProbe(ctx: Ctx, table: String) {
    final case class Round(op: Int, ms: Double, fromMs: Long, toMs: Long,
        drainMs: Double, progress: Seq[StreamProbe#Progress], commits: Int,
        metaBytes: Long, maintenanceMs: Option[Double], rows: Long, fsBytes: Long)
    val rounds = mutable.ArrayBuffer.empty[Round]

    def snapshots: Seq[IcebergSink.Snapshot] =
      IcebergSink.load(ctx.spark, table).map(_.snapshots).getOrElse(Nil)

    /** Runs one round body (returns rows landed, drain ms) and its wall
      * ms; when `record`, traces it and keeps its Iceberg and stream
      * accounting, gathered outside the timed part. */
    def round(op: Int, record: Boolean)(body: => (Long, Double)): Double = {
      if (!record) return ctx.timedS(body)._2 * 1000
      val before = snapshots.size
      val metaBefore = ctx.bytesUnder(table + "/metadata")
      val fs0 = ctx.fsBytesRead()
      val mark = ctx.streams.mark()
      val term = ctx.streams.terminatedCount
      val fromMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (rows, drainMs) = ctx.tracer.op(op, "round")(body)
      val ms = (System.nanoTime() - t0) / 1e6
      val toMs = System.currentTimeMillis()
      val added = snapshots.drop(before)
      val data = added.filter(_.operation != "replace")
      val maint = added.filter(_.operation == "replace")
      rounds += Round(op, ms, fromMs, toMs, drainMs,
        ctx.streams.since(mark, term, 1), added.size,
        ctx.bytesUnder(table + "/metadata") - metaBefore,
        if (maint.isEmpty || data.isEmpty) None
        else Some((maint.map(_.timestampMs).max - data.map(_.timestampMs).max).toDouble),
        rows, ctx.fsBytesRead() - fs0)
      ms
    }

    def report(L: mutable.Map[String, Double], logRoot: String, userBytes: Long,
        recordsPerRound: Double): Unit = {
      ctx.jobs.settle()
      val rs = rounds.toVector
      L("etl.drain_ms") = Stats.median(ctx.tracer.durations("etl.drain"))
      L("etl.query_start_ms") =
        Stats.median(rs.map(r => r.drainMs - r.progress.map(_.triggerMs).sum))
      L("etl.add_batch_ms") = Stats.median(rs.map(_.progress.map(_.addBatchMs).sum.toDouble))
      L("etl.batches_per_round") = rs.map(_.progress.count(_.rows > 0)).sum.toDouble / rs.size
      L("iceberg.read_ms") = Stats.median(ctx.tracer.durations("iceberg.read"))
      L("iceberg.commits_per_round") = rs.map(_.commits).sum.toDouble / rs.size
      L("iceberg.metadata_bytes_per_commit") =
        rs.map(_.metaBytes).sum.toDouble / math.max(1, rs.map(_.commits).sum)
      val scan = IcebergSink.explainScan(ctx.spark, table)
      L("iceberg.delete_files_live") =
        scan.map(s => s.eqDeleteFiles + s.posDeleteFiles).getOrElse(0).toDouble
      val maint = rs.flatMap(_.maintenanceMs)
      L("iceberg.maintenance_ms") = if (maint.isEmpty) 0.0 else Stats.median(maint)
      L("iceberg.bytes_stored_per_live_byte") =
        ctx.bytesUnder(table).toDouble / scan.map(_.dataBytes).getOrElse(1L)
      L("exec.physical_plan_ms") = Stats.median(ctx.tracer.durations("exec.physical_plan"))
      L("exec.run_ms") = Stats.median(ctx.tracer.durations("exec.run"))
      jobMetrics(ctx, rs.map(r => (ctx.jobs.forOp(r.op, r.fromMs, r.toMs),
        ctx.jobs.gapMs(r.op, r.fromMs, r.toMs), r.rows)), L)
      val w = Stats.median(ctx.tracer.durations("kfs.write"))
      L("kfs.write_ms") = w
      L("kfs.write_records_per_s") = recordsPerRound / (w / 1000)
      L("kfs.bytes_per_user_byte") = ctx.bytesUnder(logRoot).toDouble / userBytes
      L("kfs.discovery_ms") = Stats.median(ctx.tracer.durations("kfs.discovery"))
      L("kfs.bytes_read_per_query") = Stats.median(rs.map(_.fsBytes.toDouble))
    }
  }

  /** Tracing overhead in percent: median traced over median untraced
    * operation, `traced` picking the traced ones by measured index. */
  def overheadPct(ms: Seq[Double], traced: Int => Boolean): Double = {
    val (t, u) = ms.zipWithIndex.partition { case (_, i) => traced(i) }
    100 * (Stats.median(t.map(_._1)) / Stats.median(u.map(_._1)) - 1)
  }

  /** Times a read-back frame: planning inside `iceberg.read`, then the
    * physical plan and the collect as its children. */
  def readBack(ctx: Ctx, frame: => DataFrame): Array[Row] =
    ctx.tracer.span("iceberg.read") {
      val df = frame
      ctx.tracer.span("exec.physical_plan")(df.queryExecution.executedPlan)
      ctx.tracer.span("exec.run")(df.collect())
    }

  /** Lists the log's completed segments, as a probe outside any round. */
  def discoveryProbe(ctx: Ctx, op: Int, root: String): Unit =
    ctx.tracer.op(op, "kfs.discovery")(KfsLayout.listCompleted(root))
}

/** `ingest_etl`: rounds of produce → `Pipeline.run` into Iceberg with a
  * dead-letter table → verify the new snapshot with `readIncremental`.
  * Per-record work (encode/decode, JSON extraction, validation) and
  * per-commit cost (stream start, Iceberg commit) dominate; no pg-wire,
  * governance or KAFSQL. */
object IngestLane {
  val Partitions = 4
  val PerRound = 2000
  val MalformedEvery = 20
  val WarmupRounds = 8
  val RoundsPerSecond = 1.0
  val Cols = Seq(SchemaCol("user", "long", "$.user"),
    SchemaCol("region", "string", "$.region"), SchemaCol("amount", "long", "$.amount"))

  def run(ctx: Ctx, out: Outcome): Unit = {
    import ctx.spark
    val measured = math.max(2, math.round(ctx.seconds * RoundsPerSecond).toInt)
    val total = WarmupRounds + measured
    val (rounds, inputsS) = ctx.timedS(Vector.tabulate(total)(r =>
      Gen.ingestRound(ctx.seed, r, Partitions, PerRound, MalformedEvery)))
    out.inputsS = inputsS
    val log = ctx.path("log"); val table = ctx.path("table")
    val dlq = ctx.path("dlq"); val ckpt = ctx.path("ckpt")
    val probe = new Workloads.RoundProbe(ctx, table)
    val traced = (i: Int) => ctx.trace && i % 2 == 0

    def oneRound(r: Int): (Long, Double) = {
      val recs = rounds(r)
      val prev = IcebergSink.load(spark, table).flatMap(_.currentSnapshotId)
      ctx.tracer.span("kfs.write")(Workloads.produce(ctx, log, "events",
        recs.map(x => (x.partition, x.offset, x.tsMs, x.key, x.value))))
      val drainMs = ctx.timedS(ctx.tracer.span("etl.drain")(Pipeline.run(spark, log, table, ckpt,
        schemaCols = Cols, validation = Pipeline.DeadLetter(dlq),
        format = Pipeline.IcebergV2, source = "kfs")))._2 * 1000
      val got = Workloads.readBack(ctx, {
        val df = prev.fold(IcebergSink.read(spark, table))(IcebergSink.readIncremental(spark, table, _))
        df.agg(count(lit(1)), sum(col("partition") * 1000003L + col("offset")), sum(col("amount")))
      }).head
      val valid = recs.filter(_.valid)
      val want = (valid.size.toLong, valid.map(x => x.partition * 1000003L + x.offset).sum,
        valid.map(_.amount.toLong).sum)
      if ((got.getLong(0), got.getLong(1), got.getLong(2)) != want)
        throw new IllegalStateException(s"ingest round $r: landed $got, expected $want")
      (got.getLong(0), drainMs)
    }

    def attempt(r: Int, record: Boolean): Option[Double] = {
      out.attempted += 1
      try Some(probe.round(r, record)(oneRound(r)))
      catch { case e: Exception => out.fail(s"ingest round $r: $e"); None }
    }

    out.warmupS = ctx.timedS((0 until WarmupRounds).foreach(attempt(_, record = false)))._2
    val (gc0, jit0) = ctx.jvmMs()
    out.firstOpAtMs = System.currentTimeMillis()
    val (ms, windowS) = ctx.timedS((WarmupRounds until total).map { r =>
      val m = attempt(r, record = traced(r - WarmupRounds))
      if (traced(r - WarmupRounds)) Workloads.discoveryProbe(ctx, 100000 + r, log)
      m
    })
    val (gc1, jit1) = ctx.jvmMs()
    ms.foreach(_.foreach(m => out.samples += Sample(0, m)))
    out.windowS = windowS
    out.work = measured.toLong * PerRound

    // every valid record landed exactly once; the DLQ holds exactly the malformed ones
    out.attempted += 1
    val all = rounds.flatten
    val landed = IcebergSink.read(spark, table).agg(count(lit(1)),
      countDistinct(col("partition"), col("offset"))).head
    val bad = TableSink.read(spark, dlq).agg(count(lit(1)),
      sum(col("partition") * 1000003L + col("offset"))).head
    val nValid = all.count(_.valid).toLong
    val malformed = all.filterNot(_.valid)
    if (landed.getLong(0) != nValid || landed.getLong(1) != nValid ||
        bad.getLong(0) != malformed.size ||
        bad.getLong(1) != malformed.map(x => x.partition * 1000003L + x.offset).sum)
      out.fail(s"ingest end state: table $landed (want $nValid), dlq $bad (want ${malformed.size})")

    val scan = IcebergSink.explainScan(spark, table)
    out.repeatCounts("iceberg.delete_files_live") =
      scan.map(s => s.eqDeleteFiles + s.posDeleteFiles).getOrElse(0).toDouble
    val snaps = probe.snapshots
    out.repeatCounts("iceberg.commits_per_round") = snaps.size.toDouble / total
    if (ctx.trace) {
      val L = out.perLayer
      L("etl.invalid_ratio") = 1 - probe.rounds.map(_.rows).sum.toDouble /
        (probe.rounds.size.toLong * PerRound)
      probe.report(L, log, all.map(x => x.key.length.toLong + x.value.length).sum, PerRound)
      L("jvm.gc_ms") = gc1 - gc0
      L("jvm.jit_ms") = jit1 - jit0
      L("trace.overhead_pct") = Workloads.overheadPct(ms.flatten, traced)
      out.repeatCounts("exec.jobs_per_op") = L("exec.jobs_per_op")
    }
  }
}

/** `cdc_upsert`: keyed change rounds over a prefilled key space →
  * `Pipeline.runUpsert` (tombstones delete, compaction every
  * [[CdcLane.CompactEvery]] commits) → full merge-on-read read-back. */
object CdcLane {
  val Partitions = 4
  val Keys = 10000
  val PerRound = 1000
  val TombstonePct = 5
  val CompactEvery = 3
  val WarmupCycles = 3
  val RoundsPerSecond = 0.9

  def run(ctx: Ctx, out: Outcome): Unit = {
    import ctx.spark
    val measured = CompactEvery *
      math.max(1, math.round(ctx.seconds * RoundsPerSecond / CompactEvery).toInt)
    val warmup = WarmupCycles * CompactEvery
    val total = 1 + warmup + measured // round 0 is the prefill
    val changes = Vector.tabulate(total)(r =>
      Gen.cdcRound(ctx.seed, r, Keys, PerRound, TombstonePct))
    val state = new Array[String](Keys)
    val nextOffset = new Array[Long](Partitions)
    val log = ctx.path("log"); val table = ctx.path("table"); val ckpt = ctx.path("ckpt")

    def produceRound(r: Int): Unit = {
      val recs = changes(r).map { case (k, v) =>
        val p = Gen.cdcPartition(k, Partitions)
        val off = nextOffset(p); nextOffset(p) += 1
        (p, off, Gen.NowMs - 3600000L + r * 1000L, Gen.cdcKey(k), v)
      }
      ctx.tracer.span("kfs.write")(Workloads.produce(ctx, log, "changes", recs))
    }
    def drain(): Double = ctx.timedS(ctx.tracer.span("etl.drain")(
      Pipeline.runUpsert(spark, log, table, ckpt,
        deleteWhen = Some(col("value").isNull), compactEvery = Some(CompactEvery))))._2 * 1000
    def apply(r: Int): Unit = changes(r).foreach { case (k, v) => state(k) = v }

    // inputs: the prefilled key space
    out.inputsS = ctx.timedS { produceRound(0); drain(); apply(0) }._2
    val probe = new Workloads.RoundProbe(ctx, table)
    val traced = (i: Int) => ctx.trace && (i / CompactEvery) % 2 == 0
    var lastRead: Array[Row] = Array.empty

    def oneRound(r: Int): (Long, Double) = {
      produceRound(r)
      val drainMs = drain()
      apply(r)
      lastRead = Workloads.readBack(ctx,
        IcebergSink.read(spark, table).select(col("key"), col("value")))
      val want = state.iterator.zipWithIndex.filter(_._1 != null)
      val wantN = state.count(_ != null)
      val wantSum = Gen.stateChecksum(want.map { case (v, k) => (Gen.cdcKey(k), v) })
      val gotSum = Gen.stateChecksum(lastRead.iterator.map(x => (x.getString(0), x.getString(1))))
      if (lastRead.length != wantN || gotSum != wantSum)
        throw new IllegalStateException(
          s"cdc round $r: ${lastRead.length} rows (want $wantN), checksum mismatch=${gotSum != wantSum}")
      (changes(r).size.toLong, drainMs)
    }
    def attempt(r: Int, record: Boolean): Option[Double] = {
      out.attempted += 1
      try Some(probe.round(r, record)(oneRound(r)))
      catch { case e: Exception => out.fail(s"cdc round $r: $e"); None }
    }

    out.warmupS = ctx.timedS((1 to warmup).foreach(attempt(_, record = false)))._2
    val (gc0, jit0) = ctx.jvmMs()
    out.firstOpAtMs = System.currentTimeMillis()
    val (ms, windowS) = ctx.timedS((warmup + 1 until total).map { r =>
      val i = r - warmup - 1
      val m = attempt(r, record = traced(i))
      if (traced(i)) Workloads.discoveryProbe(ctx, 100000 + r, log)
      // class: does this round's commit land on the compaction cadence?
      m.map(x => Sample(if ((r + 1) % CompactEvery == 0) 1 else 0, x))
    })
    val (gc1, jit1) = ctx.jvmMs()
    out.samples ++= ms.flatten
    out.windowS = windowS
    out.work = measured.toLong * PerRound

    // final state compared row by row with the expected key → value map
    out.attempted += 1
    val got = lastRead.map(x => x.getString(0) -> x.getString(1)).toMap
    val want = state.indices.filter(state(_) != null).map(k => Gen.cdcKey(k) -> state(k)).toMap
    if (got != want) out.fail(s"cdc final state differs in ${(got.toSet diff want.toSet).size} rows")

    val scan = IcebergSink.explainScan(spark, table)
    out.repeatCounts("iceberg.delete_files_live") =
      scan.map(s => s.eqDeleteFiles + s.posDeleteFiles).getOrElse(0).toDouble
    out.repeatCounts("iceberg.commits_per_round") = probe.snapshots.size.toDouble / total
    if (ctx.trace) {
      val L = out.perLayer
      L("etl.invalid_ratio") = 0.0
      probe.report(L, log, changes.flatten.map { case (k, v) =>
        Gen.cdcKey(k).length.toLong + Option(v).map(_.length).getOrElse(0) }.sum, PerRound)
      L("jvm.gc_ms") = gc1 - gc0
      L("jvm.jit_ms") = jit1 - jit0
      L("trace.overhead_pct") = Workloads.overheadPct(ms.flatten.map(_.ms), traced)
      out.repeatCounts("exec.jobs_per_op") = L("exec.jobs_per_op")
    }
  }
}
