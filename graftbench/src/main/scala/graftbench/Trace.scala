package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a timed call into a layer, recorded by the benchmark around
  * the library's public functions. `parent` is -1 for an operation's root. */
final case class Span(op: Int, id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest per thread; nothing is written out
  * until [[write]] at the end of the run. A disabled tracer runs the body
  * and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[(Int, Int)]] { // (op, span id)
    override def initialValue(): List[(Int, Int)] = Nil
  }

  /** Root span of operation `op`. */
  def op[T](op: Int, name: String)(body: => T): T =
    if (!enabled) body else record(op, -1, name, body)

  /** Child span of the innermost open span on this thread. */
  def span[T](name: String)(body: => T): T =
    stack.get match {
      case (op, parent) :: _ if enabled => record(op, parent, name, body)
      case _ => body
    }

  private def record[T](op: Int, parent: Int, name: String, body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    stack.set((op, id) :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      synchronized { spans += Span(op, id, parent, name, t0, t1) }
    }
  }

  def all: Seq[Span] = synchronized(spans.toVector)

  /** Durations (ms) of every span with this name. */
  def durations(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  def write(path: java.nio.file.Path, header: String): Unit = {
    val sb = new StringBuilder(header).append('\n')
    all.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {

  /** Nesting faults: a child span outside its parent's interval, in
    * another operation than its parent, or overlapping a sibling. Without
    * them every self time (duration minus children's) is non-negative and
    * an operation's self times sum to its root span. */
  def nestingFaults(ss: Seq[Span]): Seq[String] = {
    val byId = ss.map(s => s.id -> s).toMap
    val outside = ss.filter(_.parent >= 0).flatMap { c =>
      byId.get(c.parent) match {
        case Some(p) if p.op == c.op && p.startNs <= c.startNs && c.endNs <= p.endNs => None
        case p => Some(s"op ${c.op}: ${c.name} not inside its parent ${p.fold("(missing)")(_.name)}")
      }
    }
    val overlapping = ss.filter(_.parent >= 0).groupBy(_.parent).values.flatMap { cs =>
      cs.sortBy(_.startNs).sliding(2).collect {
        case Seq(a, b) if b.startNs < a.endNs => s"op ${a.op}: ${a.name} overlaps ${b.name}"
      }
    }
    outside ++ overlapping
  }

  /** Share (%) of the multi-layer operations' root time that no child span
    * covers: work the layers' spans do not attribute. Roots without children
    * (single-layer probes) are left out. */
  def unattributedPct(ss: Seq[Span]): Double = {
    val childMs = ss.filter(_.parent >= 0).groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    val roots = ss.filter(s => s.parent < 0 && childMs.contains(s.id))
    val rootMs = roots.map(_.ms).sum
    if (rootMs <= 0) 0.0 else 100 * roots.map(r => r.ms - childMs.getOrElse(r.id, 0.0)).sum / rootMs
  }
}

/** Spark job and task accounting per operation. A job belongs to the
  * operation named by its [[JobProbe.OpProperty]] local property; an
  * untagged job belongs to the operation whose window it started in, which
  * is exact on passes that run one operation at a time. */
final class JobProbe extends SparkListener {
  final case class Job(id: Int, tag: Option[String], startMs: Long, var endMs: Long = -1,
      var tasks: Int = 0, var cpuNs: Long = 0, var inRecords: Long = 0,
      var shuffleBytes: Long = 0)

  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(JobProbe.OpProperty)))
    jobs(e.jobId) = Job(e.jobId, tag, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.inRecords += m.inputMetrics.recordsRead
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Waits until every started job has ended on the listener bus. */
  def settle(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobs.values.exists(_.endMs < 0)) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200) // late task-end events of the last job
  }

  def forOp(op: Int, fromMs: Long, toMs: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.tag.contains(op.toString) ||
      (j.tag.isEmpty && j.startMs >= fromMs && j.startMs <= toMs)).toVector
  }

  /** Wall time of the operation's window not covered by any of its jobs. */
  def gapMs(op: Int, fromMs: Long, toMs: Long): Double = {
    val iv = forOp(op, fromMs, toMs).map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .sortBy(_._1)
    var covered = 0L; var cur = Long.MinValue
    iv.foreach { case (s, e) =>
      val s1 = math.max(s, cur)
      if (e > s1) { covered += e - s1; cur = e }
    }
    (toMs - fromMs - covered).toDouble
  }
}

object JobProbe {
  val OpProperty = "graftbench.op"
}

/** Structured Streaming progress per query run: trigger and addBatch
  * durations, batches with input. */
final class StreamProbe extends StreamingQueryListener {
  final case class Progress(runId: String, rows: Long, triggerMs: Long, addBatchMs: Long)
  private val progress = ArrayBuffer.empty[Progress]
  private val terminated = scala.collection.mutable.HashSet.empty[String]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val d = e.progress.durationMs
    def get(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    progress += Progress(e.progress.runId.toString, e.progress.numInputRows,
      get("triggerExecution"), get("addBatch"))
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized { terminated += e.runId.toString }

  /** Marks the progress seen so far; [[since]] returns what came after. */
  def mark(): Int = synchronized(progress.size)

  /** Progress after `mark`, once `queries` more queries have terminated. */
  def since(mark: Int, terminatedBefore: Int, queries: Int): Seq[Progress] = {
    val deadline = System.currentTimeMillis() + 10000
    while (synchronized(terminated.size) < terminatedBefore + queries &&
      System.currentTimeMillis() < deadline) Thread.sleep(10)
    synchronized(progress.drop(mark).toVector)
  }
  def terminatedCount: Int = synchronized(terminated.size)
}
