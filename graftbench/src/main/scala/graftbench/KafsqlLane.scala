package graftbench

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Row

import graft.gov.{Governor, Guardrails}
import graft.kafsql.{Kafsql, Planner, SchemaCol, TopicDef, TopicRegistry}
import graft.kfs.KfsLayout
import graft.pgwire.PgWireServer

/** `kafsql_interactive`: a closed loop of [[KafsqlLane.Clients]] pg-wire
  * clients over a real socket to an in-process [[PgWireServer]] fronting a
  * seeded KFS estate. No writes, no Iceberg: per-query fixed cost (parse,
  * planning, job scheduling, governance, protocol) dominates. */
object KafsqlLane {
  val Clients = 2
  val Partitions = 8
  val PerPartition = 6250
  val SpanMs: Long = 2 * 3600 * 1000L
  val SegmentRecords = 1000
  val WarmupBlocks = 3
  /** Measured blocks per client per second of `--seconds`. */
  val BlocksPerSecond = 0.7
  val Rails: Guardrails = Guardrails(resultCacheTtlMs = 24 * 3600 * 1000L)

  def run(ctx: Ctx, out: Outcome): Unit = {
    import ctx.spark
    val measured = math.max(1, math.round(ctx.seconds * BlocksPerSecond).toInt)

    // inputs: generate the estate and write it through format("kfs")
    val root = ctx.path("estate")
    val ((estate, writeMs), inputsS) = ctx.timedS {
      val e = new Gen.Estate(ctx.seed, Partitions, PerPartition, SpanMs)
      (e, ctx.timedS(writeEstate(ctx, e, root))._2 * 1000)
    }
    out.inputsS = inputsS
    val userBytes = (for (p <- 0 until Partitions; o <- 0 until PerPartition)
      yield estate.key(p, o).length.toLong + estate.value(p, o).length).sum

    val seqs = (0 until Clients).map(c =>
      Gen.querySequence(estate, ctx.seed, c, WarmupBlocks + measured))
    val warm = seqs.map(_.take(WarmupBlocks * Gen.Block.size))
    val meas = seqs.map(_.drop(WarmupBlocks * Gen.Block.size))

    val registry = new TopicRegistry(Seq(TopicDef("events",
      s => s.read.format("kfs").option("path", root).load(),
      schemaCols = Seq(SchemaCol("user", "long", "$.user"),
        SchemaCol("region", "string", "$.region"),
        SchemaCol("amount", "long", "$.amount")),
      partitions = 0 until Partitions)))
    val gov = new Governor(Rails)
    val server = new PgWireServer(spark, registry, gov, port = 0,
      nowMs = () => Gen.NowMs).start()
    try {
      out.warmupS = ctx.timedS(pgPass(server.boundPort, warm, out, timed = false))._2
      val hits0 = gov.hits
      val (gc0, jit0) = ctx.jvmMs()
      out.firstOpAtMs = System.currentTimeMillis()
      val (samples, windowS) = ctx.timedS(pgPass(server.boundPort, meas, out, timed = true))
      val (gc1, jit1) = ctx.jvmMs()
      out.samples ++= samples
      out.windowS = windowS
      out.work = samples.size
      val hits = gov.hits - hits0
      out.repeatCounts("gov.cache_hits") = hits.toDouble
      if (ctx.trace) {
        val L = out.perLayer
        L("gov.cache_hits") = hits.toDouble
        val cacheable = samples.count(s => s.cls == Gen.Cached || s.cls == Gen.Scan)
        L("gov.cache_hit_ratio") = hits.toDouble / cacheable
        L("pgwire.cached_roundtrip_ms") =
          Stats.median(samples.filter(_.cls == Gen.Cached).map(_.ms))
        L("jvm.gc_ms") = gc1 - gc0
        L("jvm.jit_ms") = jit1 - jit0
        inProcessPass(ctx, registry, root, meas, samples, out)
        L("kfs.write_ms") = writeMs
        L("kfs.write_records_per_s") = estate.records / (writeMs / 1000)
        L("kfs.bytes_per_user_byte") = ctx.bytesUnder(root).toDouble / userBytes
      }
    } finally server.stop()
  }

  private def writeEstate(ctx: Ctx, e: Gen.Estate, root: String): Unit = {
    val rows = for (p <- 0 until e.partitions; o <- 0 until e.perPartition)
      yield Row("events", p, o.toLong, e.tsMs(p, o), e.key(p, o).getBytes("UTF-8"),
        e.value(p, o).getBytes("UTF-8"))
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, e.partitions), Workloads.LogSchema)
      .write.format("kfs").mode("append").option("path", root)
      .option("max_records_per_segment", SegmentRecords.toString).save()
  }

  /** Numeric cells compare by value (pg-wire renders SUM as a double). */
  def sameRows(got: Seq[Seq[String]], want: Seq[Seq[String]]): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      g.size == w.size && g.zip(w).forall { case (a, b) =>
        a == b || (a != null && b != null &&
          a.toDoubleOption.exists(x => b.toDoubleOption.contains(x)))
      }
    }

  /** Every client runs its sequence over its own connection, each query
    * waiting for the previous reply (closed loop). */
  private def pgPass(port: Int, seqs: Seq[Vector[Gen.Query]], out: Outcome,
      timed: Boolean): Seq[Sample] = {
    val results = seqs.map(_ => Vector.newBuilder[Sample])
    val threads = seqs.indices.map { c =>
      new Thread(() => {
        var client = new PgClient(port, 60000)
        try seqs(c).foreach { q =>
          val t0 = System.nanoTime()
          val ok = try client.query(q.sql) match {
            case Right(rows) => sameRows(rows, q.expected)
            case Left(err) => System.err.println(s"graftbench: server error: $err"); false
          } catch {
            case e: Exception =>
              System.err.println(s"graftbench: client error: $e")
              client.close(); client = new PgClient(port, 60000); false
          }
          val ms = (System.nanoTime() - t0) / 1e6
          out.synchronized {
            out.attempted += 1
            if (!ok) out.fail(s"kafsql ${Gen.ClassNames(q.cls)}: ${q.sql}")
          }
          if (timed) results(c) += Sample(q.cls, ms)
        } finally client.close()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    results.flatMap(_.result())
  }

  /** The traced pass: the same sequences driven in-process through
    * parse → plan → executedPlan → collect, with even blocks traced and odd
    * blocks untraced (equal class mix), so the pg-wire + governance
    * overhead and the tracing overhead both fall out. */
  private def inProcessPass(ctx: Ctx, registry: TopicRegistry, root: String,
      seqs: Seq[Vector[Gen.Query]], pgSamples: Seq[Sample], out: Outcome): Unit = {
    import ctx.spark
    val env = Planner.Env(Gen.NowMs, Rails)
    val opIds = new AtomicInteger(0)
    final case class Done(op: Int, cls: Int, traced: Boolean, ms: Double,
        fromMs: Long, toMs: Long, rows: Int)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val discovery = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val blockLen = Gen.Block.size
    val fs0 = ctx.fsBytesRead()
    val threads = seqs.map { sq =>
      new Thread(() => {
        sq.zipWithIndex.foreach { case (q, i) =>
          val traced = (i / blockLen) % 2 == 0
          val op = opIds.incrementAndGet()
          spark.sparkContext.setLocalProperty(JobProbe.OpProperty, op.toString)
          val fromMs = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val body = () => {
            val stmt = ctx.tracer.span("kafsql.parse")(Kafsql.parse(q.sql))
            val df = ctx.tracer.span("kafsql.plan")(Planner.plan(spark, registry, stmt, env))
            ctx.tracer.span("exec.physical_plan")(df.queryExecution.executedPlan)
            ctx.tracer.span("exec.run")(df.collect())
          }
          val got = try Some(if (traced) ctx.tracer.op(op, "op")(body()) else body())
          catch { case e: Exception => System.err.println(s"graftbench: $e"); None }
          val ms = (System.nanoTime() - t0) / 1e6
          val toMs = System.currentTimeMillis()
          spark.sparkContext.setLocalProperty(JobProbe.OpProperty, null)
          val ok = got.exists(rows => sameRows(
            rows.toSeq.map(r => r.toSeq.map(v => if (v == null) null else v.toString)),
            q.expected))
          out.synchronized {
            out.attempted += 1
            if (!ok) out.fail(s"kafsql in-process ${Gen.ClassNames(q.cls)}: ${q.sql}")
          }
          done.add(Done(op, q.cls, traced, ms, fromMs, toMs, got.map(_.length).getOrElse(0)))
          if (traced) discovery.add(ctx.timedS(
            KfsLayout.listCompleted(root, Some(Set("events"))))._2 * 1000)
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    ctx.jobs.settle()
    val fsBytes = ctx.fsBytesRead() - fs0

    import scala.jdk.CollectionConverters._
    val all = done.asScala.toVector
    val tr = all.filter(_.traced)
    val untr = all.filterNot(_.traced)
    val perOp = tr.map(d => d -> ctx.jobs.forOp(d.op, d.fromMs, d.toMs))
    val L = out.perLayer
    L("kafsql.parse_ms") = Stats.median(ctx.tracer.durations("kafsql.parse"))
    L("kafsql.plan_ms") = Stats.median(ctx.tracer.durations("kafsql.plan"))
    L("exec.physical_plan_ms") = Stats.median(ctx.tracer.durations("exec.physical_plan"))
    L("exec.run_ms") = Stats.median(ctx.tracer.durations("exec.run"))
    Workloads.jobMetrics(ctx, perOp.map { case (d, js) =>
      (js, ctx.jobs.gapMs(d.op, d.fromMs, d.toMs), d.rows.toLong) }, L)
    L("kfs.bytes_read_per_query") = fsBytes.toDouble / all.size
    L("kfs.discovery_ms") = Stats.median(discovery.asScala.toSeq)
    L("trace.overhead_pct") =
      100 * (Stats.median(tr.map(_.ms)) / Stats.median(untr.map(_.ms)) - 1)
    // client round trip minus the same queries run in-process, untraced
    val pgPoint = pgSamples.filter(_.cls == Gen.Point).map(_.ms)
    L("pgwire.overhead_ms") =
      Stats.median(pgPoint) - Stats.median(untr.filter(_.cls == Gen.Point).map(_.ms))
    out.repeatCounts("exec.jobs_per_op") = L("exec.jobs_per_op")
  }
}
